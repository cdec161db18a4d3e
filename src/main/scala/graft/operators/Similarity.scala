package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Hashing

/** Similarity search over the `embeddings` table (`Array[Float]` vectors).
  *
  * Brute-force cosine top-k is the exactness baseline; the random-
  * hyperplane LSH variant is the 100 TB path (signature join instead of
  * an all-pairs product). Cosine is computed with an explicit left-fold
  * in list order with every element cast to double first — both Spark's
  * `aggregate` and DuckDB's `list_reduce` fold sequentially, so the
  * oracle matches bit-for-bit, no rounding needed.
  */
object Similarity {

  /** Sequential dot product in double, identical fold order to the
    * DuckDB oracle's `list_reduce` (left fold over list index) — so the
    * result is bit-identical. Runs as the native codegen'd DotF64
    * expression (reads unsafe array data in place, no UDF SerDe); the
    * original higher-order `aggregate(zip_with(...))` form was ~50×
    * slower, the intermediate Scala UDF still paid per-row array copies.
    */
  private def dotUdf(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.DotF64.dot_f64(a, b)

  /** Embeddings with a precomputed L2 norm (computed once, reused in
    * every pair — at scale this is a stored column, not a recompute).
    */
  private def withNorm(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        sqrt(dotUdf(col("embedding"), col("embedding"))).as("nrm"))

  /** Brute-force near-dup baseline (spec-only, NOT the registered
    * query): exact all-pairs cosine with one side broadcast. Kept as the
    * exactness reference that [[embeddingNearDup]]'s LSH-bucketed form is
    * measured against in SimilaritySpec; at 100 TB this shape is a
    * non-starter (full-collection broadcast), which is exactly why the
    * registered query routes through bucketing instead.
    */
  def bruteNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = withNorm(s, dir)
      .select($"vec_id", $"embedding", $"nrm")
      .as[(Long, Array[Float], Double)]
    // One side is broadcast — exactly what Spark's BroadcastNestedLoop
    // join does, but the pair loop runs as a primitive kernel instead of
    // per-pair row machinery (~4× over the UDF join, ~200× over HOFs).
    // At 100 TB the broadcast side is replaced by LSH bucketing (annTopK)
    // or a block-partitioned product; the probe side stays partitioned.
    val bc = s.sparkContext.broadcast(v.collect().sortBy(_._1))
    v.flatMap { case (ida, ea, na) =>
      val bs = bc.value
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var j = 0
      while (j < bs.length) {
        val (idb, eb, nb) = bs(j)
        if (ida < idb) {
          var acc = 0.0
          var i = 0
          val n = math.min(ea.length, eb.length)
          while (i < n) { acc += ea(i).toDouble * eb(i).toDouble; i += 1 }
          val cos = acc / (na * nb)
          if (cos > 0.45) out += ((ida, idb, cos))
        }
        j += 1
      }
      out
    }.toDF("vec_a", "vec_b", "cosine")
  }

  // ------------------------------------------------ LSH-bucketed neardup

  /** Multi-table random-hyperplane LSH for the registered near-dup
    * query: NdTables independent hash tables of sign-bit signatures,
    * candidates exactly verified (cosine > 0.45). This is the 100-TB
    * shape: the only join is an equi-join on (table, signature) —
    * bucket-local, never an all-pairs product, no driver-side collect.
    *
    * The signature WIDTH is derived from the collection size (round-3
    * fix of the round-2 scale gap): bits = log₂(N / target-bucket-rows),
    * clamped to [6, 24], so the expected bucket population stays ≈
    * NdTargetBucketRows no matter how large the collection grows — a
    * fixed 6-bit width meant 64 buckets per table and ~N²/64
    * within-bucket pairs, quadratic at 100×. The recall the wider keys
    * would lose is bought back with radius-1 MULTIPROBE: each vector
    * probes its own bucket and every 1-bit-flip neighbor, so a pair
    * colliding within Hamming distance 1 in ANY table is a candidate
    * (per-table P[candidate] = p^b + b·p^(b-1)(1-p) instead of p^b,
    * with p = 1 − θ/π the per-plane agreement). Probe volume is
    * N·tables·(bits+1) rows — linear in N with a log factor. The DuckDB
    * oracle restates the bucketing itself — derived width, multiprobe,
    * planes embedded as double literals — so the approximation is part
    * of the checked contract, not slack.
    */
  val NdTables = 8
  val NdTargetBucketRows = 32L
  val NdMinPlanes = 6
  val NdMaxPlanes = 24

  def ndPlanesPerTable(n: Long): Int =
    Hashing.bucketBits(n, NdTargetBucketRows, NdMinPlanes, NdMaxPlanes)

  /** Per-dir memoized (planesPerTable, planes) — the oracle generator
    * must embed the exact planes the query used, and the plane count
    * depends on the collection size (one count() per dir; at production
    * scale this is a table statistic, not a scan). Keys include a data
    * fingerprint ([[Tables.fingerprint]]) so a rewritten fixture path
    * re-derives its parameters instead of reusing stale ones, and
    * oracle generation takes the dir EXPLICITLY — no "last dir touched"
    * global, so interleaved suites / multi-dir use can't cross wires.
    */
  private val ndCache =
    scala.collection.concurrent.TrieMap.empty[String, (Int, Array[Array[Double]])]

  private[graft] def dataKey(dir: String, table: String): String =
    dir + "@" + Tables.fingerprint(dir, table)

  /** Active session for dir-threaded oracle generation: Verify (and any
    * test that asks for oracles) always runs inside one.
    */
  private[operators] def activeSession: SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .getOrElse(throw new IllegalStateException(
        "oracle generation needs an active SparkSession"))

  def ndParams(s: SparkSession, dir: String): (Int, Array[Array[Double]]) =
    graft.Memo.capped(ndCache)(dataKey(dir, "embeddings"), {
      val n = Tables.embeddings(s, dir).count()
      val npt = ndPlanesPerTable(n)
      (npt, hyperplanes(NdTables * npt, 64, seed = 0x7d0bee5L))
    })

  /** (planesPerTable, planes) for an explicit dir — oracle generators
    * (here and in StreamQueries) embed the identical doubles the query
    * for that dir used. Deterministic: a memo miss recomputes the same
    * values from the data.
    */
  def ndParamsFor(dir: String): (Int, Array[Array[Double]]) =
    ndParams(activeSession, dir)

  /** Oracle for the bare signature table (vec_id, t, sig) — the sigs
    * CTE of [[embeddingNearDupSql]] as a standalone statement, used by
    * the streaming signature-ingest contract query.
    */
  def embeddingSigsSql(npt: Int, planes: Array[Array[Double]]): String = {
    val planeRows = planes.zipWithIndex.map { case (pv, i) =>
      s"(${i / npt}, ${i % npt}, [${pv.mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n    ")
    s"""WITH planes(t, p, pv) AS (VALUES
       |    $planeRows)
       |SELECT vec_id, CAST(t AS INT) AS t,
       |  CAST(sum(CASE WHEN ${duckDotExpr("embedding", "pv")} > 0
       |      THEN (1 << p) ELSE 0 END) AS INT) AS sig
       |FROM embeddings CROSS JOIN planes GROUP BY vec_id, t""".stripMargin
  }

  def embeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (npt, planes) = ndParams(s, dir)
    val v = withNorm(s, dir)
    val sigs = v.select($"vec_id",
      posexplode(graft.functions.HyperplaneSigs.sigs(
        $"embedding", planes, NdTables, npt)).as(Seq("t", "sig")))
    // radius-1 multiprobe: own bucket + every 1-bit flip; probing one
    // side of the self-join covers Hamming-1 collisions symmetrically
    val probes = sigs.select($"vec_id", $"t",
      explode(array((col("sig") +:
        (0 until npt).map(b => col("sig").bitwiseXOR(lit(1 << b)))): _*)).as("psig"))
    val pairs = probes.as("a")
      .join(sigs.as("b"),
        $"a.t" === $"b.t" && $"a.psig" === $"b.sig" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"))
      .distinct()
    val va = v.selectExpr("vec_id AS vec_a", "embedding AS ea", "nrm AS na")
    val vb = v.selectExpr("vec_id AS vec_b", "embedding AS eb", "nrm AS nb")
    pairs.join(va, "vec_a").join(vb, "vec_b")
      .select($"vec_a", $"vec_b",
        (dotUdf($"ea", $"eb") / ($"na" * $"nb")).as("cosine"))
      .where($"cosine" > 0.45)
  }

  private val duckDot =
    """list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |  list_transform(range(1, len(%A%) + 1),
      |    i -> CAST(%A%[i] AS DOUBLE) * CAST(%B%[i] AS DOUBLE))),
      |  (s, v) -> s + v)""".stripMargin
  private[operators] def duckDotExpr(a: String, b: String): String =
    duckDot.replace("%A%", a).replace("%B%", b)

  /** Generated oracle restating the full LSH pipeline for the params the
    * query actually derived: hyperplanes as double literals
    * (shortest-round-trip toString → identical bits on parse),
    * signatures per (vector, table), radius-1 multiprobe, bucket-
    * collision pairs, exact cosine verification — same structure the
    * Spark side runs.
    */
  def embeddingNearDupSql(npt: Int, planes: Array[Array[Double]]): String = {
    val planeRows = planes.zipWithIndex.map { case (pv, i) =>
      s"(${i / npt}, ${i % npt}, [${pv.mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n    ")
    s"""WITH planes(t, p, pv) AS (VALUES
       |    $planeRows),
       |v AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${duckDotExpr("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |sigs AS (
       |  SELECT vec_id, t,
       |    sum(CASE WHEN ${duckDotExpr("embedding", "pv")} > 0
       |        THEN (1 << p) ELSE 0 END) AS sig
       |  FROM v CROSS JOIN planes GROUP BY vec_id, t),
       |probes AS (
       |  SELECT vec_id, t, sig AS psig FROM sigs
       |  UNION ALL
       |  SELECT vec_id, t, xor(sig, (1 << b.b))
       |  FROM sigs CROSS JOIN (SELECT unnest(range(0, $npt)) AS b) b),
       |pairs AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM probes a JOIN sigs b
       |    ON a.t = b.t AND a.psig = b.sig AND a.vec_id < b.vec_id)
       |SELECT p.vec_a, p.vec_b,
       |  ${duckDotExpr("va.embedding", "vb.embedding")} / (va.nrm * vb.nrm) AS cosine
       |FROM pairs p
       |JOIN v va ON va.vec_id = p.vec_a
       |JOIN v vb ON vb.vec_id = p.vec_b
       |WHERE ${duckDotExpr("va.embedding", "vb.embedding")} / (va.nrm * vb.nrm) > 0.45""".stripMargin
  }

  /** Brute-force cosine top-k: query vectors (vec_id < 10) against the
    * full collection; k=5, ties broken by neighbor id. The query side is
    * tiny and broadcast; ranking is a per-query window.
    */
  def bruteForceTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = withNorm(s, dir)
    val q = v.where($"vec_id" < 10)
      .selectExpr("vec_id AS q_id", "embedding AS eq", "nrm AS nq")
    val c = v.selectExpr("vec_id AS n_id", "embedding AS en", "nrm AS nn")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"n_id")
    broadcast(q).join(c, $"q_id" =!= $"n_id")
      .select($"q_id", $"n_id",
        (dotUdf($"eq", $"en") / ($"nq" * $"nn")).as("cosine"))
      .withColumn("rn", row_number().over(w))
      .where($"rn" <= 5)
  }

  val bruteForceTopKSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${duckDotExpr("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    ${duckDotExpr("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
       |  FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
       |SELECT q_id, n_id, cosine, rn FROM (
       |  SELECT q_id, n_id, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rn
       |  FROM scored)
       |WHERE rn <= 5""".stripMargin

  // ------------------------------------------------------------ LSH ANN

  /** Deterministic random hyperplanes (seeded splitmix64 → uniform in
    * [-1, 1]), broadcast to executors as a plain array.
    */
  def hyperplanes(nPlanes: Int, dim: Int,
      seed: Long = 0x91a9e5L): Array[Array[Double]] =
    Array.tabulate(nPlanes) { p =>
      Array.tabulate(dim) { d =>
        val bits = Hashing.splitmix64(seed + p.toLong * 1024 + d)
        (bits.toDouble / Long.MaxValue.toDouble)
      }
    }

  /** Random-hyperplane signature: bit p = sign(v · plane_p). With 8
    * planes the collection shatters into ≤256 buckets; candidates are
    * vectors sharing the query's bucket or any 1-bit neighbor (probe
    * radius 1 ⇒ ~9/256 ≈ 3.5% of the collection scanned) — a hash join
    * on the signature, never an all-pairs product. Note: recall depends
    * on the data having actual neighbor structure; on isotropic random
    * vectors (this synthetic set) angular LSH cannot beat the scan
    * fraction by much — on clustered real embeddings it does.
    */
  def annTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nPlanes = 8
    val planes = hyperplanes(nPlanes, 64)
    val v = withNorm(s, dir).withColumn("sig",
      element_at(graft.functions.HyperplaneSigs.sigs(
        $"embedding", planes, 1, nPlanes), 1))
    // probe set: the query's own bucket plus all 1-bit-flip neighbors
    val probes = v.where($"vec_id" < 10)
      .selectExpr("vec_id AS q_id", "embedding AS eq", "nrm AS nq", "sig")
      .flatMap { r =>
        val sig = r.getInt(3)
        (sig +: (0 until nPlanes).map(b => sig ^ (1 << b))).map(ps =>
          (r.getLong(0), r.getSeq[Float](1), r.getDouble(2), ps))
      }.toDF("q_id", "eq", "nq", "probe_sig")
    val cand = v.selectExpr("vec_id AS n_id", "embedding AS en", "nrm AS nn", "sig")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"n_id")
    broadcast(probes).join(cand, $"probe_sig" === $"sig" && $"q_id" =!= $"n_id")
      .select($"q_id", $"n_id",
        (dotUdf($"eq", $"en") / ($"nq" * $"nn")).as("cosine"))
      .distinct()
      .withColumn("rn", row_number().over(w))
      .where($"rn" <= 5)
  }

  // ------------------------------------------------------------ IVF ANN

  /** Deterministic mini-Lloyd's k-means over a driver-side sample — the
    * coarse-quantizer training step of an IVF index. At 100 TB the
    * sample is a bounded reservoir (training a 16..4096-centroid
    * quantizer never needs the full collection); assignment and probing
    * below stay fully distributed.
    */
  def trainCentroids(sample: Array[Array[Float]], k: Int,
      iters: Int): Array[Array[Double]] = {
    val dim = sample.head.length
    // seeded init: pick k spread samples deterministically
    var centroids = Array.tabulate(k) { i =>
      val idx = ((Hashing.splitmix64(0xc311701dL + i) >>> 1) % sample.length).toInt
      sample(idx).map(_.toDouble)
    }
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        val c = nearestCentroid(v, centroids)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }
    }
    centroids
  }

  /** Spec-visible aliases for the private assignment kernels (the
    * IVF-PQ containment spec re-derives cell membership with them).
    */
  private[graft] def nearestCentroidOf(v: Array[Float],
      cs: Array[Array[Double]]): Int = nearestCentroid(v, cs)
  private[graft] def centroidsByDistanceOf(v: Array[Float],
      cs: Array[Array[Double]], n: Int): Array[Int] =
    centroidsByDistance(v, cs, n)

  private def nearestCentroid(v: Array[Float], cs: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      var d = 0.0
      var i = 0
      val ct = cs(c)
      while (i < ct.length && i < v.length) {
        val diff = v(i) - ct(i)
        d += diff * diff
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  private def centroidsByDistance(v: Array[Float], cs: Array[Array[Double]],
      n: Int): Array[Int] =
    cs.indices.map { c =>
      var d = 0.0
      var i = 0
      while (i < cs(c).length && i < v.length) {
        val diff = v(i) - cs(c)(i); d += diff * diff; i += 1
      }
      (c, d)
    }.sortBy(t => (t._2, t._1)).take(n).map(_._1).toArray

  /** IVF top-k: vectors are partitioned into centroid lists (the
    * inverted file); each query probes its nProbe nearest lists only —
    * candidate generation is an equi-join on centroid id, scanning
    * ~nProbe/k of the collection instead of all of it.
    */
  val IvfK = 16
  val IvfNProbe = 3
  val IvfSampleMod = 7
  val IvfSampleCap = 4096

  /** Trained coarse-quantizer centroids, memoized per data dir so the
    * registered query and its generated oracle (ivfTopKSql) embed the
    * exact same doubles. The training sample is BOUNDED and
    * deterministic: every IvfSampleMod-th vec_id, ordered, capped at
    * IvfSampleCap rows — a 16..4096-centroid quantizer never needs more,
    * and the driver-side collect stays O(cap · dim) regardless of
    * collection size (the full-table collect this replaces was a driver
    * OOM at 100 TB).
    */
  private val centroidCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[Array[Double]]]

  def ivfCentroids(s: SparkSession, dir: String): Array[Array[Double]] = {
    import s.implicits._
    graft.Memo.capped(centroidCache)(dataKey(dir, "embeddings"), {
      val sample = Tables.embeddings(s, dir)
        .where(col("vec_id") % IvfSampleMod === 0)
        .orderBy("vec_id")
        .limit(IvfSampleCap)
        .select("embedding").as[Array[Float]].collect()
      trainCentroids(sample, IvfK, iters = 5)
    })
  }

  def ivfTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nProbe = IvfNProbe
    val v = withNorm(s, dir)
      .select($"vec_id", $"embedding", $"nrm")
      .as[(Long, Array[Float], Double)]
    val centroids = ivfCentroids(s, dir)
    val bc = s.sparkContext.broadcast(centroids)
    val assigned = v.map { case (id, emb, nrm) =>
      (nearestCentroid(emb, bc.value), id, emb, nrm)
    }.toDF("cid", "n_id", "en", "nn")
    val probes = v.filter(_._1 < 10).flatMap { case (id, emb, nrm) =>
      centroidsByDistance(emb, bc.value, nProbe)
        .map(c => (c, id, emb, nrm))
    }.toDF("cid", "q_id", "eq", "nq")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"n_id")
    broadcast(probes).join(assigned, Seq("cid"))
      .where($"q_id" =!= $"n_id")
      .select($"q_id", $"n_id",
        (dotUdf($"eq", $"en") / ($"nq" * $"nn")).as("cosine"))
      .distinct()
      .withColumn("rn", row_number().over(w))
      .where($"rn" <= 5)
  }

  /** Generated oracle for the LSH ANN query: the 8 hyperplanes are
    * embedded as double-literal list values (Java's Double.toString is
    * shortest-round-trip, so DuckDB parses back the identical bits) and
    * the signature/probe/score pipeline is restated in SQL — bucketing
    * included, not just the final cosines.
    */
  val annTopKSql: String = {
    val planes = hyperplanes(8, 64)
    val planeRows = planes.zipWithIndex.map { case (p, i) =>
      s"(${i}, [${p.mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n    ")
    s"""WITH planes(p, pv) AS (VALUES
       |    $planeRows),
       |v AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${duckDotExpr("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |sigs AS (
       |  SELECT vec_id, sum(CASE WHEN
       |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |        list_transform(range(1, len(embedding) + 1),
       |          i -> CAST(embedding[i] AS DOUBLE) * pv[i])),
       |        (s, x) -> s + x) > 0
       |      THEN (1 << p) ELSE 0 END) AS sig
       |  FROM v CROSS JOIN planes GROUP BY vec_id),
       |probes AS (
       |  SELECT s.vec_id AS q_id, s.sig AS psig FROM sigs s WHERE s.vec_id < 10
       |  UNION ALL
       |  SELECT s.vec_id, xor(s.sig, (1 << b.b))
       |  FROM sigs s CROSS JOIN (SELECT unnest(range(0, 8)) AS b) b
       |  WHERE s.vec_id < 10),
       |scored AS (
       |  SELECT DISTINCT p.q_id, c.vec_id AS n_id,
       |    ${duckDotExpr("qv.embedding", "cv.embedding")} / (qv.nrm * cv.nrm) AS cosine
       |  FROM probes p
       |  JOIN sigs c ON c.sig = p.psig AND c.vec_id <> p.q_id
       |  JOIN v qv ON qv.vec_id = p.q_id
       |  JOIN v cv ON cv.vec_id = c.vec_id)
       |SELECT q_id, n_id, cosine, rn FROM (
       |  SELECT q_id, n_id, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rn
       |  FROM scored)
       |WHERE rn <= 5""".stripMargin
  }

  private def duckSqDistExpr(e: String, c: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform(range(1, len($e) + 1),
       |    i -> (CAST($e[i] AS DOUBLE) - $c[i]) * (CAST($e[i] AS DOUBLE) - $c[i]))),
       |  (s, v) -> s + v)""".stripMargin

  /** Generated oracle for the IVF query: the trained centroids (from
    * [[ivfCentroids]]'s memo, so bit-identical to what the query used)
    * are embedded as double-literal lists and the full
    * assign → probe → score → rank pipeline is restated in SQL. Squared
    * distance folds left in index order with each element cast to double
    * first — the same order [[nearestCentroid]] accumulates in — so
    * assignment ties and ranks agree exactly.
    */
  def ivfTopKSql(cents: Array[Array[Double]]): String = {
    val centRows = cents.zipWithIndex.map { case (cv, i) =>
      s"($i, [${cv.mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n    ")
    s"""WITH cents(cid, cv) AS (VALUES
       |    $centRows),
       |v AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${duckDotExpr("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |ranked_c AS (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS crn
       |  FROM (SELECT vec_id, cid, ${duckSqDistExpr("embedding", "cv")} AS d
       |        FROM v CROSS JOIN cents)),
       |assigned AS (SELECT vec_id AS n_id, cid FROM ranked_c WHERE crn = 1),
       |probes AS (
       |  SELECT vec_id AS q_id, cid FROM ranked_c
       |  WHERE vec_id < 10 AND crn <= $IvfNProbe),
       |scored AS (
       |  SELECT DISTINCT p.q_id, a.n_id,
       |    ${duckDotExpr("qv.embedding", "nv.embedding")} / (qv.nrm * nv.nrm) AS cosine
       |  FROM probes p
       |  JOIN assigned a ON a.cid = p.cid AND a.n_id <> p.q_id
       |  JOIN v qv ON qv.vec_id = p.q_id
       |  JOIN v nv ON nv.vec_id = a.n_id)
       |SELECT q_id, n_id, cosine, rn FROM (
       |  SELECT q_id, n_id, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rn
       |  FROM scored)
       |WHERE rn <= 5""".stripMargin
  }

  // ------------------------------------------------ product quantization

  /** PQ shape: 8 contiguous blocks of 8 dims, 16 centroids per block —
    * a 64-dim float32 vector compresses to 8 half-byte codes (64×
    * smaller). Codebooks are trained per block on the same bounded
    * deterministic sample the IVF quantizer uses, memoized per dir so
    * the generated oracle embeds the identical doubles.
    */
  val PqBlocks = 8
  val PqCentsPerBlock = 16
  val PqBlockDim = 8

  private val pqCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[Array[Array[Double]]]]

  def pqCodebooks(s: SparkSession, dir: String): Array[Array[Array[Double]]] = {
    import s.implicits._
    graft.Memo.capped(pqCache)(dataKey(dir, "embeddings"), {
      val sample = Tables.embeddings(s, dir)
        .where(col("vec_id") % IvfSampleMod === 0)
        .orderBy("vec_id")
        .limit(IvfSampleCap)
        .select("embedding").as[Array[Float]].collect()
      Array.tabulate(PqBlocks) { b =>
        trainCentroids(
          sample.map(_.slice(b * PqBlockDim, (b + 1) * PqBlockDim)),
          PqCentsPerBlock, iters = 5)
      }
    })
  }

  private def roundTo6(d: Double): Double =
    java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** ADC shortlist size: the exact re-rank scans Shortlist/N of the
    * collection per query (50/10,000 = 0.5% at sf0.1). Must exceed the
    * quantization-cell population — vectors encoding to identical codes
    * are indistinguishable to ADC, so the true neighbors inside a cell
    * only survive if the whole cell fits the shortlist.
    */
  val PqShortlist = 50

  /** PQ top-k — the standard two-stage compressed serving shape:
    *
    * 1. ADC scan: every vector is encoded once (native `pq_encode`
    *    expression — nearest codebook centroid per block); each query
    *    precomputes an 8×16 lookup table of block distances, and a
    *    candidate's approximate L2 is the sum of 8 table entries.
    *    Relationally: explode codes to (vec, block, code),
    *    broadcast-join the LUT rows, sum per (query, vector) — O(blocks)
    *    work per candidate instead of O(dims). LUT entries are rounded
    *    to 6 dp and summed as DECIMAL (associative —
    *    partition-order-proof); shortlist = top [[PqShortlist]] by
    *    (adist, n_id), deterministic.
    * 2. Exact re-rank: full-precision cosine only for shortlist rows
    *    (Shortlist/N of the collection), final top-5. Pure ADC ranking
    *    cannot separate vectors inside one quantization cell — the
    *    re-rank is what makes the compressed scan a usable index, and
    *    SimilarityRecallSpec gates recall@5 against the uncompressed
    *    brute force.
    *
    * The 10-query LUT is driver-built from a BOUNDED collect
    * (vec_id < 10), the same boundedness class as the broadcast query
    * sides above.
    */
  /** ADC lookup table for the bounded (vec_id < 10) query set — rounded
    * per-block squared distances to every codebook centroid. Memoized on
    * the same data fingerprint as the codebooks; the oracle generator
    * rebuilds the identical rows for an explicit dir.
    */
  def pqLut(s: SparkSession, dir: String): Seq[(Long, Int, Int, Double)] =
    graft.Memo.capped(pqLutCache)(dataKey(dir, "embeddings"), {
      import s.implicits._
      val cbs = pqCodebooks(s, dir)
      val qvecs = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
        .where($"vec_id" < 10)
        .as[(Long, Array[Float])].collect().sortBy(_._1)
      for {
        (qid, emb) <- qvecs.toSeq
        b <- 0 until PqBlocks
        c <- 0 until PqCentsPerBlock
      } yield {
        var d = 0.0
        var i = 0
        while (i < PqBlockDim) {
          val diff = emb(b * PqBlockDim + i).toDouble - cbs(b)(c)(i)
          d += diff * diff
          i += 1
        }
        (qid, b, c, roundTo6(d))
      }
    })

  def pqTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cbs = pqCodebooks(s, dir)
    val v = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
    val codes = v.select($"vec_id",
      posexplode(graft.functions.PqEncode.pq_encode($"embedding", cbs))
        .as(Seq("b", "code")))
    val lut = pqLut(s, dir).toDF("q_id", "b", "code", "d6")
    import org.apache.spark.sql.expressions.Window
    val wAdc = Window.partitionBy($"q_id").orderBy($"adist".asc, $"n_id".asc)
    val shortlist = codes.join(broadcast(lut), Seq("b", "code"))
      .where($"vec_id" =!= $"q_id")
      .groupBy($"q_id", $"vec_id")
      .agg(sum($"d6".cast("decimal(18,9)")).cast("double").as("adist"))
      .withColumnRenamed("vec_id", "n_id")
      .withColumn("adc_rn", row_number().over(wAdc))
      .where($"adc_rn" <= PqShortlist)
      .select($"q_id", $"n_id")
    val vn = withNorm(s, dir)
    val qside = vn.selectExpr("vec_id AS q_id", "embedding AS eq", "nrm AS nq")
    val nside = vn.selectExpr("vec_id AS n_id", "embedding AS en", "nrm AS nn")
    val wCos = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"n_id".asc)
    shortlist.join(qside, "q_id").join(nside, "n_id")
      .select($"q_id", $"n_id",
        (dotUdf($"eq", $"en") / ($"nq" * $"nn")).as("cosine"))
      .withColumn("rn", row_number().over(wCos))
      .where($"rn" <= 5)
      .select($"q_id", $"n_id", $"cosine", $"rn")
  }

  /** Generated oracle restating the full PQ pipeline: codebooks as
    * double literals, per-block argmin encoding (`row_number` over
    * (distance, centroid) — the encoder's ties-to-lowest-id contract),
    * the rounded LUT as literal rows, decimal ADC sum, deterministic
    * shortlist, exact-cosine re-rank. Verify runs queries before
    * oracles, so the memoized codebooks are present.
    */
  def pqTopKSql(cbs: Array[Array[Array[Double]]],
      lutRows: Seq[(Long, Int, Int, Double)]): String = {
    val centRows = (for {
      b <- 0 until PqBlocks
      c <- 0 until PqCentsPerBlock
    } yield s"($b, $c, [${cbs(b)(c).mkString(", ")}]::DOUBLE[])")
      .mkString(",\n    ")
    val lutVals = lutRows.map { case (q, b, c, d) => s"($q, $b, $c, $d)" }
      .mkString(",\n    ")
    val sliceSqDist = (1 to PqBlockDim).map { i =>
      s"(CAST(embedding[b * $PqBlockDim + $i] AS DOUBLE) - cv[$i]) * " +
        s"(CAST(embedding[b * $PqBlockDim + $i] AS DOUBLE) - cv[$i])"
    }.mkString(" + ")
    s"""WITH cents(b, cid, cv) AS (VALUES
       |    $centRows),
       |v AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${duckDotExpr("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |assign AS (
       |  SELECT vec_id, b, cid,
       |    row_number() OVER (PARTITION BY vec_id, b ORDER BY d, cid) AS crn
       |  FROM (SELECT vec_id, c.b, c.cid, $sliceSqDist AS d
       |        FROM v CROSS JOIN cents c)),
       |codes AS (SELECT vec_id, b, cid AS code FROM assign WHERE crn = 1),
       |lut(q_id, b, code, d6) AS (VALUES
       |    $lutVals),
       |shortlist AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY adist, n_id) AS adc_rn
       |    FROM (
       |      SELECT l.q_id, c.vec_id AS n_id,
       |        CAST(sum(CAST(l.d6 AS DECIMAL(18,9))) AS DOUBLE) AS adist
       |      FROM codes c JOIN lut l ON l.b = c.b AND l.code = c.code
       |      WHERE c.vec_id <> l.q_id
       |      GROUP BY l.q_id, c.vec_id))
       |  WHERE adc_rn <= $PqShortlist)
       |SELECT q_id, n_id, cosine, rn FROM (
       |  SELECT s.q_id, s.n_id,
       |    ${duckDotExpr("qv.embedding", "nv.embedding")} / (qv.nrm * nv.nrm) AS cosine,
       |    row_number() OVER (PARTITION BY s.q_id ORDER BY
       |      ${duckDotExpr("qv.embedding", "nv.embedding")} / (qv.nrm * nv.nrm) DESC,
       |      s.n_id) AS rn
       |  FROM shortlist s
       |  JOIN v qv ON qv.vec_id = s.q_id
       |  JOIN v nv ON nv.vec_id = s.n_id)
       |WHERE rn <= 5""".stripMargin
  }

  /** Memo backing [[pqLut]], keyed on the same data fingerprint as the
    * codebook cache.
    */
  private val pqLutCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(Long, Int, Int, Double)]]

  private val pqIpLutCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(Long, Int, Int, Double)]]

  /** Inner-product ADC lookup table (per-block dot of the query slice
    * with every codebook centroid, 6-dp-rounded): with the stored
    * per-vector norm, Σ_b lut[b, code_b] / (‖q‖·‖x‖) approximates the
    * COSINE — the metric this corpus ranks by. The L2 table
    * ([[pqLut]]) mis-ranks unnormalized vectors against a cosine truth
    * (‖x‖ enters the distance); IP-ADC + stored norms is the standard
    * cosine-metric PQ serving recipe.
    */
  def pqIpLut(s: SparkSession, dir: String): Seq[(Long, Int, Int, Double)] =
    graft.Memo.capped(pqIpLutCache)(dataKey(dir, "embeddings"), {
      import s.implicits._
      val cbs = pqCodebooks(s, dir)
      val qvecs = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
        .where($"vec_id" < 10)
        .as[(Long, Array[Float])].collect().sortBy(_._1)
      for {
        (qid, emb) <- qvecs.toSeq
        b <- 0 until PqBlocks
        c <- 0 until PqCentsPerBlock
      } yield {
        var d = 0.0
        var i = 0
        while (i < PqBlockDim) {
          d += emb(b * PqBlockDim + i).toDouble * cbs(b)(c)(i)
          i += 1
        }
        (qid, b, c, roundTo6(d))
      }
    })

  // -------------------------------------------------------------- IVF-PQ

  /** IVF-PQ top-k — the composed billion-scale serving architecture
    * (coarse inverted file × product-quantized codes, the layout FAISS
    * calls IVFPQ; Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011):
    *
    * 1. coarse probe: each query visits only its [[IvfNProbe]] nearest
    *    of the [[IvfK]] inverted lists — candidate generation is an
    *    equi-join on cell id scanning ~nProbe/K of the collection;
    * 2. ADC scan of the probed cells only: candidates carry 8 half-byte
    *    PQ codes, distance = sum of 8 broadcast-LUT entries (decimal,
    *    order-proof) — no full-precision vector is touched;
    * 3. exact re-rank of the [[PqShortlist]]-deep shortlist.
    *
    * Vs the flat [[pqTopK]]: the ADC join input shrinks by the probe
    * ratio (3/16 here), which is THE knob that keeps a 100 TB corpus
    * serving under memory — full-precision vectors stream only through
    * the O(queries × shortlist) re-rank join. Everything reuses the
    * memoized coarse centroids, codebooks, and query LUT, so the
    * generated oracle embeds bit-identical parameter doubles.
    */
  def ivfPqTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val icents = ivfCentroids(s, dir)
    val cbs = pqCodebooks(s, dir)
    val bc = s.sparkContext.broadcast(icents)
    val v = withNorm(s, dir)
      .select($"vec_id", $"embedding", $"nrm")
      .as[(Long, Array[Float], Double)]
    val assigned = v.map { case (id, emb, _) =>
      (nearestCentroid(emb, bc.value), id)
    }.toDF("cid", "n_id")
    val probes = v.filter(_._1 < 10).flatMap { case (id, emb, _) =>
      centroidsByDistance(emb, bc.value, IvfNProbe).map(c => (c, id))
    }.toDF("cid", "q_id")
    val cand = broadcast(probes).join(assigned, Seq("cid"))
      .where($"q_id" =!= $"n_id")
      .select($"q_id", $"n_id")
    val codes = Tables.embeddings(s, dir).select(
      $"vec_id".as("n_id"),
      posexplode(graft.functions.PqEncode.pq_encode($"embedding", cbs))
        .as(Seq("b", "code")))
    val lut = pqLut(s, dir).toDF("q_id", "b", "code", "d6")
    import org.apache.spark.sql.expressions.Window
    val wAdc = Window.partitionBy($"q_id").orderBy($"adist".asc, $"n_id".asc)
    val shortlist = cand.join(codes, Seq("n_id"))
      .join(broadcast(lut), Seq("q_id", "b", "code"))
      .groupBy($"q_id", $"n_id")
      .agg(sum($"d6".cast("decimal(18,9)")).cast("double").as("adist"))
      .withColumn("adc_rn", row_number().over(wAdc))
      .where($"adc_rn" <= PqShortlist)
      .select($"q_id", $"n_id")
    val vn = withNorm(s, dir)
    val qside = vn.selectExpr("vec_id AS q_id", "embedding AS eq", "nrm AS nq")
    val nside = vn.selectExpr("vec_id AS n_id", "embedding AS en", "nrm AS nn")
    val wCos = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"n_id".asc)
    shortlist.join(qside, "q_id").join(nside, "n_id")
      .select($"q_id", $"n_id",
        (dotUdf($"eq", $"en") / ($"nq" * $"nn")).as("cosine"))
      .withColumn("rn", row_number().over(wCos))
      .where($"rn" <= 5)
      .select($"q_id", $"n_id", $"cosine", $"rn")
  }

  /** Generated oracle restating the composed pipeline: coarse centroids
    * AND codebooks AND the query LUT as literal rows (all from the same
    * memos the query used), coarse argmin/probe ranking with the
    * (distance, cid) tie order, per-block argmin encoding, decimal ADC
    * sum over probed cells only, deterministic shortlist, exact-cosine
    * re-rank.
    */
  def ivfPqTopKSql(icents: Array[Array[Double]],
      cbs: Array[Array[Array[Double]]],
      lutRows: Seq[(Long, Int, Int, Double)]): String = {
    val icentRows = icents.zipWithIndex.map { case (cv, i) =>
      s"($i, [${cv.mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n    ")
    val centRows = (for {
      b <- 0 until PqBlocks
      c <- 0 until PqCentsPerBlock
    } yield s"($b, $c, [${cbs(b)(c).mkString(", ")}]::DOUBLE[])")
      .mkString(",\n    ")
    val lutVals = lutRows.map { case (q, b, c, d) => s"($q, $b, $c, $d)" }
      .mkString(",\n    ")
    val sliceSqDist = (1 to PqBlockDim).map { i =>
      s"(CAST(embedding[b * $PqBlockDim + $i] AS DOUBLE) - cv[$i]) * " +
        s"(CAST(embedding[b * $PqBlockDim + $i] AS DOUBLE) - cv[$i])"
    }.mkString(" + ")
    s"""WITH icents(icid, icv) AS (VALUES
       |    $icentRows),
       |v AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${duckDotExpr("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |iranked AS (
       |  SELECT vec_id, icid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d, icid) AS crn
       |  FROM (SELECT vec_id, icid, ${duckSqDistExpr("embedding", "icv")} AS d
       |        FROM v CROSS JOIN icents)),
       |iassigned AS (SELECT vec_id AS n_id, icid FROM iranked WHERE crn = 1),
       |iprobes AS (
       |  SELECT vec_id AS q_id, icid FROM iranked
       |  WHERE vec_id < 10 AND crn <= $IvfNProbe),
       |cents(b, cid, cv) AS (VALUES
       |    $centRows),
       |passign AS (
       |  SELECT vec_id, b, cid,
       |    row_number() OVER (PARTITION BY vec_id, b ORDER BY d, cid) AS crn
       |  FROM (SELECT vec_id, c.b, c.cid, $sliceSqDist AS d
       |        FROM v CROSS JOIN cents c)),
       |codes AS (SELECT vec_id, b, cid AS code FROM passign WHERE crn = 1),
       |lut(q_id, b, code, d6) AS (VALUES
       |    $lutVals),
       |cand AS (
       |  SELECT p.q_id, a.n_id
       |  FROM iprobes p JOIN iassigned a ON a.icid = p.icid AND a.n_id <> p.q_id),
       |shortlist AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY adist, n_id) AS adc_rn
       |    FROM (
       |      SELECT cd.q_id, cd.n_id,
       |        CAST(sum(CAST(l.d6 AS DECIMAL(18,9))) AS DOUBLE) AS adist
       |      FROM cand cd
       |      JOIN codes c ON c.vec_id = cd.n_id
       |      JOIN lut l ON l.q_id = cd.q_id AND l.b = c.b AND l.code = c.code
       |      GROUP BY cd.q_id, cd.n_id))
       |  WHERE adc_rn <= $PqShortlist)
       |SELECT q_id, n_id, cosine, rn FROM (
       |  SELECT s.q_id, s.n_id,
       |    ${duckDotExpr("qv.embedding", "nv.embedding")} / (qv.nrm * nv.nrm) AS cosine,
       |    row_number() OVER (PARTITION BY s.q_id ORDER BY
       |      ${duckDotExpr("qv.embedding", "nv.embedding")} / (qv.nrm * nv.nrm) DESC,
       |      s.n_id) AS rn
       |  FROM shortlist s
       |  JOIN v qv ON qv.vec_id = s.q_id
       |  JOIN v nv ON nv.vec_id = s.n_id)
       |WHERE rn <= 5""".stripMargin
  }

  /** Coarse centroids + codebooks for an EXPLICIT dir, resolved via the
    * active session (memo hit or deterministic recompute) — the
    * streaming-ingest oracle generator's entry point, mirroring
    * [[ndParamsFor]].
    */
  def ivfPqParamsFor(dir: String):
      (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val s = activeSession
    (ivfCentroids(s, dir), pqCodebooks(s, dir))
  }

  /** Per-block positional multipliers (17^b) for the order-independent
    * integer code checksum the streaming ingest emits: 8 codes < 16
    * weight-summed to < 1.4e10, comfortably inside signed-64 — and 17 >
    * 16 makes the weighted sum injective over code vectors, so equal
    * checksums mean equal codes.
    */
  val PqChecksumMults: Array[Long] =
    Array.iterate(1L, PqBlocks)(_ * 17L)

  /** Generated oracle for the streaming IVF-PQ ingest: one batch pass
    * restating the coarse argmin assignment and per-block encoding
    * (identical CTE bodies to [[ivfPqTopKSql]]), rolled up per cell as
    * (n_vecs, sum of per-vector positional code checksums) — all
    * integers, so the drained stream state hash-matches exactly.
    */
  def ivfPqIngestSql(icents: Array[Array[Double]],
      cbs: Array[Array[Array[Double]]]): String = {
    val icentRows = icents.zipWithIndex.map { case (cv, i) =>
      s"($i, [${cv.mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n    ")
    val centRows = (for {
      b <- 0 until PqBlocks
      c <- 0 until PqCentsPerBlock
    } yield s"($b, $c, [${cbs(b)(c).mkString(", ")}]::DOUBLE[])")
      .mkString(",\n    ")
    val multRows = PqChecksumMults.zipWithIndex
      .map { case (m, b) => s"($b, $m)" }.mkString(", ")
    val sliceSqDist = (1 to PqBlockDim).map { i =>
      s"(CAST(embedding[b * $PqBlockDim + $i] AS DOUBLE) - cv[$i]) * " +
        s"(CAST(embedding[b * $PqBlockDim + $i] AS DOUBLE) - cv[$i])"
    }.mkString(" + ")
    s"""WITH icents(icid, icv) AS (VALUES
       |    $icentRows),
       |v AS (SELECT vec_id, embedding FROM embeddings),
       |iranked AS (
       |  SELECT vec_id, icid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d, icid) AS crn
       |  FROM (SELECT vec_id, icid, ${duckSqDistExpr("embedding", "icv")} AS d
       |        FROM v CROSS JOIN icents)),
       |iassigned AS (SELECT vec_id, icid AS cell FROM iranked WHERE crn = 1),
       |cents(b, cid, cv) AS (VALUES
       |    $centRows),
       |passign AS (
       |  SELECT vec_id, b, cid,
       |    row_number() OVER (PARTITION BY vec_id, b ORDER BY d, cid) AS crn
       |  FROM (SELECT vec_id, c.b, c.cid, $sliceSqDist AS d
       |        FROM v CROSS JOIN cents c)),
       |codes AS (SELECT vec_id, b, cid AS code FROM passign WHERE crn = 1),
       |mult(b, m) AS (VALUES $multRows),
       |percsum AS (
       |  SELECT c.vec_id,
       |    CAST(sum(CAST(c.code AS BIGINT) * CAST(m.m AS BIGINT)) AS BIGINT) AS csum
       |  FROM codes c JOIN mult m ON m.b = c.b
       |  GROUP BY c.vec_id)
       |SELECT a.cell, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(p.csum) AS BIGINT) AS code_checksum
       |FROM iassigned a JOIN percsum p ON p.vec_id = a.vec_id
       |GROUP BY a.cell""".stripMargin
  }

  /** Memoized cell-partitioned inverted-file layout: (vec_id, 8 PQ
    * codes) written ONCE per (session, corpus fingerprint) under
    * `cell=<coarse id>/` Hive partitions. The layout IS the index at
    * rest — the form a 100 TB collection would persist.
    */
  private val listsDirCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  private def ivfPqListsDir(s: SparkSession, dir: String): String =
    graft.Memo.cached(listsDirCache, s, dataKey(dir, "embeddings"),
        "sim_ivf_lists") {
        import s.implicits._
        val icents = ivfCentroids(s, dir)
        val cbs = pqCodebooks(s, dir)
        val bc = s.sparkContext.broadcast(icents)
        val out = graft.TempDirs.scoped("graft_ivfpq_lists")
        Tables.embeddings(s, dir)
          .select($"vec_id", $"embedding")
          .as[(Long, Array[Float])]
          .map { case (id, emb) => (id, nearestCentroid(emb, bc.value)) }
          .toDF("vec_id", "cell")
          .join(Tables.embeddings(s, dir).select($"vec_id",
            graft.functions.PqEncode.pq_encode($"embedding", cbs).as("codes")),
            "vec_id")
          .write.mode("overwrite").partitionBy("cell").parquet(out)
        out
      }

  /** The inverted file as a PHYSICAL PARTITION LAYOUT — the data-
    * skipping form of [[ivfPqTopK]]'s candidate generation: codes land
    * in `cell=<id>/` Hive partitions once ([[ivfPqListsDir]], memoized),
    * and a probe reads ONLY its nProbe cells' files via STATIC partition
    * pruning (the probe set is driver-known — 10 queries × 3 cells — so
    * the `cell IN (...)` predicate prunes at planning time;
    * LayoutSpec asserts `PartitionFilters` on the scan and that
    * unprobed-cell files are never listed into the plan). At 100 TB
    * this is the difference between touching ~nProbe/K of the files and
    * touching all of them — the same contract as [[Layout]]'s z-order
    * skipping, applied to the ANN index. Output: per (query, probed
    * cell) candidate counts, all integers.
    */
  def ivfPqLists(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val icents = ivfCentroids(s, dir)
    val bc = s.sparkContext.broadcast(icents)
    val lists = Tables.read(s, ivfPqListsDir(s, dir))
    val probeRows = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding")
      .where($"vec_id" < 10)
      .as[(Long, Array[Float])].collect().sortBy(_._1)
      .flatMap { case (id, emb) =>
        centroidsByDistance(emb, bc.value, IvfNProbe).map(c => (id, c))
      }
    val probedCells = probeRows.map(_._2).distinct.toSeq
    val probes = probeRows.toSeq.toDF("q_id", "cell")
    lists.where($"cell".isin(probedCells: _*))
      .join(broadcast(probes), "cell")
      .where($"vec_id" =!= $"q_id")
      .groupBy($"q_id", $"cell")
      .agg(count(lit(1)).as("n_candidates"))
  }

  /** Oracle: coarse assignment + probe ranking (identical CTEs to
    * [[ivfPqTopKSql]]) rolled up as per-(query, probed cell) candidate
    * counts.
    */
  def ivfPqListsSql(icents: Array[Array[Double]]): String = {
    val icentRows = icents.zipWithIndex.map { case (cv, i) =>
      s"($i, [${cv.mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n    ")
    s"""WITH icents(icid, icv) AS (VALUES
       |    $icentRows),
       |v AS (SELECT vec_id, embedding FROM embeddings),
       |iranked AS (
       |  SELECT vec_id, icid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d, icid) AS crn
       |  FROM (SELECT vec_id, icid, ${duckSqDistExpr("embedding", "icv")} AS d
       |        FROM v CROSS JOIN icents)),
       |iassigned AS (SELECT vec_id, icid AS cell FROM iranked WHERE crn = 1),
       |iprobes AS (
       |  SELECT vec_id AS q_id, icid AS cell FROM iranked
       |  WHERE vec_id < 10 AND crn <= $IvfNProbe)
       |SELECT p.q_id, p.cell, CAST(count(*) AS BIGINT) AS n_candidates
       |FROM iprobes p JOIN iassigned a ON a.cell = p.cell
       |WHERE a.vec_id <> p.q_id
       |GROUP BY p.q_id, p.cell""".stripMargin
  }

  /** Probe-depth tuning curve for the inverted file — the [[lshScurve]]
    * analog for IVF probing: at which RANK in its query's
    * cell-distance ordering does each true top-5 neighbor's cell sit?
    * The cumulative count over ranks IS candidate-generation recall as
    * a function of nProbe — the whole tuning curve from ONE pass, no
    * re-run per probe depth (re-running top-k at K probe settings is
    * how this audit is usually priced). Per rank r: how many of the
    * brute-force truth pairs would enter the candidate set with
    * nProbe = r, cumulative, and the micro-floored recall fraction.
    * The current production setting ([[IvfNProbe]]) reads directly off
    * the curve; raising K at 100 TB re-prices it without touching the
    * query.
    */
  def ivfPqProbeCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val icents = ivfCentroids(s, dir)
    val bc = s.sparkContext.broadcast(icents)
    // full per-query cell ranking (driver-built: 10 queries × K cells)
    val qRanks = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding")
      .where($"vec_id" < 10)
      .as[(Long, Array[Float])].collect().sortBy(_._1)
      .flatMap { case (id, emb) =>
        centroidsByDistance(emb, bc.value, icents.length)
          .zipWithIndex.map { case (c, i) => (id, c, (i + 1).toLong) }
      }.toSeq.toDF("q_id", "cell", "cell_rank")
    val assigned = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])]
      .map { case (id, emb) => (nearestCentroid(emb, bc.value), id) }
      .toDF("cell", "n_id")
    val bfPairs = bruteForceTopK(s, dir).select($"q_id", $"n_id")
    val total = bfPairs.count()
    val hits = assigned.join(broadcast(bfPairs), "n_id")
      .join(broadcast(qRanks), Seq("q_id", "cell"))
      .groupBy($"cell_rank").agg(count(lit(1)).as("n_pairs"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy($"cell_rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    (1 to icents.length).map(_.toLong).toDF("cell_rank")
      .join(hits, Seq("cell_rank"), "left")
      .select($"cell_rank", coalesce($"n_pairs", lit(0L)).as("n_pairs"))
      .withColumn("cum_pairs", sum($"n_pairs").over(w))
      .selectExpr("cell_rank", "n_pairs", "cum_pairs",
        s"floor(CAST(cum_pairs AS DOUBLE) / $total * 1e6 + 0.5) / 1e6 AS cand_recall")
  }

  /** Oracle: full cell ranking + assignment CTEs (as [[ivfPqTopKSql]],
    * unfiltered ranks) joined against the brute-force truth pairs,
    * scaffolded over all K ranks with a cumulative window.
    */
  def ivfPqProbeCurveSql(icents: Array[Array[Double]]): String = {
    val icentRows = icents.zipWithIndex.map { case (cv, i) =>
      s"($i, [${cv.mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n    ")
    val k = icents.length
    s"""WITH icents(icid, icv) AS (VALUES
       |    $icentRows),
       |ve AS (SELECT vec_id, embedding FROM embeddings),
       |iranked AS (
       |  SELECT vec_id, icid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d, icid) AS crn
       |  FROM (SELECT vec_id, icid, ${duckSqDistExpr("embedding", "icv")} AS d
       |        FROM ve CROSS JOIN icents)),
       |iassigned AS (SELECT vec_id, icid FROM iranked WHERE crn = 1),
       |bf AS ($bruteForceTopKSql),
       |hits AS (
       |  SELECT r.crn AS cell_rank
       |  FROM bf
       |  JOIN iassigned a ON a.vec_id = bf.n_id
       |  JOIN iranked r ON r.vec_id = bf.q_id AND r.icid = a.icid),
       |counts AS (
       |  SELECT cell_rank, CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM hits GROUP BY cell_rank),
       |ranks AS (SELECT CAST(unnest(range(1, ${k + 1})) AS BIGINT) AS cell_rank)
       |SELECT ranks.cell_rank,
       |  coalesce(n_pairs, 0) AS n_pairs,
       |  CAST(sum(coalesce(n_pairs, 0)) OVER (ORDER BY ranks.cell_rank)
       |    AS BIGINT) AS cum_pairs,
       |  floor(CAST(sum(coalesce(n_pairs, 0)) OVER (ORDER BY ranks.cell_rank)
       |      AS DOUBLE)
       |    / (SELECT count(*) FROM bf) * 1e6 + 0.5) / 1e6 AS cand_recall
       |FROM ranks LEFT JOIN counts ON counts.cell_rank = ranks.cell_rank""".stripMargin
  }

  /** IVF-PQ recall@5 vs the exact scan — the same contract-grade gate
    * [[ivfRecall]]/[[annRecall]] give the other two deployed indexes,
    * so every ANN variant in the library ships with its accuracy
    * readout (probe count × codebook loss composed, measured, not
    * assumed).
    */
  def ivfPqRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bf = bruteForceTopK(s, dir).select($"q_id", $"n_id")
    val ip = ivfPqTopK(s, dir).select($"q_id", $"n_id")
      .withColumn("hit", lit(1L))
    bf.join(ip, Seq("q_id", "n_id"), "left")
      .groupBy($"q_id")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce($"hit", lit(0L))).as("n_hit"))
      .selectExpr("q_id", "n_true", "n_hit",
        "floor(CAST(n_hit AS DOUBLE) / n_true * 1e6 + 0.5) / 1e6 AS recall")
  }

  def ivfPqRecallSql(icents: Array[Array[Double]],
      cbs: Array[Array[Array[Double]]],
      lutRows: Seq[(Long, Int, Int, Double)]): String =
    s"""WITH bf AS ($bruteForceTopKSql),
       |ip AS (${ivfPqTopKSql(icents, cbs, lutRows)})
       |SELECT bf.q_id,
       |  CAST(count(*) AS BIGINT) AS n_true,
       |  CAST(sum(CASE WHEN ip.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  floor(CAST(sum(CASE WHEN ip.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) * 1e6 + 0.5) / 1e6 AS recall
       |FROM bf LEFT JOIN ip ON ip.q_id = bf.q_id AND ip.n_id = bf.n_id
       |GROUP BY bf.q_id""".stripMargin

  // -------------------------------------------------- int8 quantization

  /** Symmetric int8 scalar quantization of every embedding — the
    * compression step before ANN serving at scale (4× memory, integer
    * dot products). Pure narrow map through the native codegen
    * `quant_i8_stats` expression; emits per-vector scale, quantized
    * checksum, and reconstruction MSE. The oracle restates the same
    * index-order folds in SQL, so even the unrounded doubles
    * hash-match (cosine-query precedent).
    */
  def quantizeInt8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select($"vec_id",
        graft.functions.QuantI8Stats.quant_i8_stats($"embedding").as("q"))
      .select($"vec_id", $"q.scale".as("scale"), $"q.q_sum".as("q_sum"),
        $"q.mse".as("mse"))
  }

  val quantizeInt8Sql: String =
    """WITH s AS (
      |  SELECT vec_id, embedding, len(embedding) AS n,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
      |      (a, b) -> CASE WHEN b > a THEN b ELSE a END) / 127 AS scale
      |  FROM embeddings)
      |SELECT vec_id, scale,
      |  CAST(CASE WHEN scale = 0 THEN 0 ELSE
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(embedding,
      |        x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT))),
      |      (a, b) -> a + b) END AS BIGINT) AS q_sum,
      |  CASE WHEN scale = 0 OR n = 0 THEN 0.0 ELSE
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(embedding, x ->
      |        (CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale)
      |        * (CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale))),
      |      (a, b) -> a + b) / n END AS mse
      |FROM s""".stripMargin

  /** Neighbors returned per query by [[sq8TopK]]. */
  val Sq8K = 5

  /** Asymmetric-distance retrieval THROUGH the int8 index — the
    * serving-side counterpart of [[quantizeInt8]] (which emits the
    * compression stats; this exercises the "integer dot products
    * downstream" it promises): neighbors are stored as their symmetric
    * int8 reconstruction (q_i·scale — the only thing a quantized
    * serving tier keeps), queries stay full-precision, and top-k runs
    * on cosine(query, dequantized neighbor) — ADC, the standard SQ/PQ
    * serving arrangement (Jégou et al., TPAMI'11 §III). At 100 TB the
    * collection-side memory is 4× smaller and the scan stays a narrow
    * map; the 10-row query broadcast is the approved bounded cross.
    * Every reconstruction and score is a sequential index-order double
    * fold — bit-identical to the oracle's list_reduce, raw doubles
    * emitted (the cosine-query contract). All-zero vectors (scale 0)
    * reconstruct to the zero vector and are excluded by the nd > 0
    * guard on both engines.
    */
  def sq8TopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val deq =
      """transform(embedding, x ->
        |  CASE WHEN qs = 0 THEN CAST(0 AS DOUBLE)
        |       ELSE floor(CAST(x AS DOUBLE) / qs + 0.5) * qs END)""".stripMargin
    val foldSelf =
      """aggregate(zip_with(dv, dv, (a, b) -> a * b),
        |  CAST(0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin
    val v = Tables.embeddings(s, dir)
      .select($"vec_id",
        graft.functions.QuantI8Stats.quant_i8_stats($"embedding")("scale")
          .as("qs"),
        $"embedding")
      .selectExpr("vec_id", s"$deq AS dv")
      .selectExpr("vec_id", "dv", s"sqrt($foldSelf) AS nd")
      .where($"nd" > 0)
    val q = withNorm(s, dir).where($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"embedding".as("qe"), $"nrm".as("nq"))
    val adc =
      """aggregate(zip_with(qe, dv, (a, b) -> CAST(a AS DOUBLE) * b),
        |  CAST(0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin
    val w = Window.partitionBy($"q_id").orderBy($"cosine_sq8".desc, $"n_id")
    broadcast(q).crossJoin(v)
      .where($"q_id" =!= $"vec_id")
      .select($"q_id", $"vec_id".as("n_id"),
        (expr(adc) / ($"nq" * $"nd")).as("cosine_sq8"))
      .withColumn("rn", row_number().over(w))
      .where($"rn" <= Sq8K)
  }

  /** DuckDB restatement: scale fold, reconstruction, and ADC score as
    * the identical index-order folds; same (cosine DESC, n_id) rank.
    */
  val sq8TopKSql: String = {
    val scaleFold =
      """list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
        |      (a, b) -> CASE WHEN b > a THEN b ELSE a END) / 127""".stripMargin
    val dvFold =
      """list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(dv, x -> x * x)), (a, b) -> a + b)""".stripMargin
    val adcFold =
      """list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(1, len(qe) + 1),
        |        i -> CAST(qe[i] AS DOUBLE) * dv[i])), (a, b) -> a + b)""".stripMargin
    s"""WITH sc AS (
       |  SELECT vec_id, embedding, $scaleFold AS qs FROM embeddings),
       |v AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x ->
       |      CASE WHEN qs = 0 THEN CAST(0 AS DOUBLE)
       |           ELSE floor(CAST(x AS DOUBLE) / qs + 0.5) * qs END) AS dv
       |  FROM sc),
       |vn AS (
       |  SELECT vec_id, dv, sqrt($dvFold) AS nd FROM v),
       |vk AS (SELECT * FROM vn WHERE nd > 0),
       |q AS (
       |  SELECT vec_id AS q_id, embedding AS qe,
       |    sqrt(${duckDotExpr("embedding", "embedding")}) AS nq
       |  FROM embeddings WHERE vec_id < 10),
       |scored AS (
       |  SELECT q_id, vk.vec_id AS n_id, $adcFold / (nq * nd) AS cosine_sq8
       |  FROM q CROSS JOIN vk WHERE vk.vec_id <> q.q_id)
       |SELECT q_id, n_id, cosine_sq8, rn FROM (
       |  SELECT q_id, n_id, cosine_sq8,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine_sq8 DESC, n_id) AS rn
       |  FROM scored)
       |WHERE rn <= $Sq8K""".stripMargin
  }

  /** Per-language embedding centroids: documents ⋈ embeddings on id,
    * element-explode, mean per (lang, dim). The aggregation is
    * decimal-exact: each element is rounded to 6 dp (deterministic per
    * value in both engines) and summed as DECIMAL — associative, so the
    * result is independent of partition/summation order, which a plain
    * double sum is not. The join is a fact⋈fact equi-join on the id —
    * one co-partitioned shuffle at scale; the output is a tiny
    * (languages × dims) frame.
    */
  def langCentroids(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select($"doc_id", $"lang")
    val emb = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
    docs.join(emb, $"doc_id" === $"vec_id")
      .select($"lang", posexplode($"embedding").as(Seq("dim", "ev")))
      .groupBy($"lang", $"dim")
      .agg(count(lit(1)).as("n"),
        round(sum(round($"ev".cast("double"), 6).cast("decimal(18,9)"))
          .cast("double") / count(lit(1)), 6).as("mean_v"))
  }

  val langCentroidsSql: String =
    """WITH j AS (
      |  SELECT d.lang, e.embedding
      |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
      |ex AS (
      |  SELECT lang,
      |    unnest(range(0, len(embedding))) AS dim,
      |    unnest(embedding) AS ev
      |  FROM j)
      |SELECT lang, CAST(dim AS INT) AS dim, count(*) AS n,
      |  round(CAST(sum(CAST(round(CAST(ev AS DOUBLE), 6) AS DECIMAL(18,9)))
      |    AS DOUBLE) / count(*), 6) AS mean_v
      |FROM ex GROUP BY lang, dim""".stripMargin

  /** Same centroids through the typed [[graft.functions.VecMeanAgg]]
    * Aggregator — ONE aggregation pass where [[langCentroids]] explodes
    * 64 rows per vector before grouping: the shuffle carries a single
    * 64-long buffer per (lang, partition) instead of 64×|vectors| rows.
    * Exactness holds because the buffer accumulates exact micro-unit
    * longs (order-independent), finished with the same two
    * correctly-rounded double divisions the SQL oracle performs.
    */
  def langCentroidsAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vecMean = udaf(graft.functions.VecMeanAgg)
    val docs = Tables.documents(s, dir).select($"doc_id", $"lang")
    val emb = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
    docs.join(emb, $"doc_id" === $"vec_id")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n"), vecMean($"embedding").as("mv"))
      .select($"lang", $"n", posexplode($"mv").as(Seq("dim", "mean_v")))
  }

  val langCentroidsAggSql: String =
    """WITH j AS (
      |  SELECT d.lang, e.embedding
      |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
      |ex AS (
      |  SELECT lang,
      |    unnest(range(0, len(embedding))) AS dim,
      |    unnest(embedding) AS ev
      |  FROM j)
      |SELECT lang, count(*) AS n, CAST(dim AS INT) AS dim,
      |  CAST(sum(CAST(round(CAST(ev AS DOUBLE), 6) AS DECIMAL(18,6)))
      |    AS DOUBLE) / count(*) AS mean_v
      |FROM ex GROUP BY lang, dim""".stripMargin

  /** Matryoshka truncation fidelity — how well the FIRST 16 of 64
    * dimensions preserve the full-dimension neighborhood (the MRL
    * serving question: can the index run on a prefix of the embedding
    * and re-rank with the full vector?). For each of 10 query vectors:
    * |top-10 by full cosine ∩ top-10 by 16-dim-prefix cosine|. Both
    * rankings ride ONE scored pass (two window ranks over the same
    * broadcast-join output — no second scan); on isotropic random
    * vectors the overlap is near-chance, on MRL-trained embeddings it
    * approaches 10 — the measurement is the operator.
    */
  val MatryoshkaDims = 16

  def matryoshkaOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val v = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding",
        slice($"embedding", 1, MatryoshkaDims).as("e16"))
      .select($"vec_id", $"embedding", $"e16",
        sqrt(dotUdf($"embedding", $"embedding")).as("nrm"),
        sqrt(dotUdf($"e16", $"e16")).as("nrm16"))
    val q = v.where($"vec_id" < 10).selectExpr("vec_id AS q_id",
      "embedding AS eq", "e16 AS eq16", "nrm AS nq", "nrm16 AS nq16")
    val c = v.selectExpr("vec_id AS n_id",
      "embedding AS en", "e16 AS en16", "nrm AS nn", "nrm16 AS nn16")
    val scored = broadcast(q).join(c, $"q_id" =!= $"n_id")
      .select($"q_id", $"n_id",
        (dotUdf($"eq", $"en") / ($"nq" * $"nn")).as("cos_full"),
        (dotUdf($"eq16", $"en16") / ($"nq16" * $"nn16")).as("cos_16"))
    val wF = Window.partitionBy($"q_id").orderBy($"cos_full".desc, $"n_id")
    val w16 = Window.partitionBy($"q_id").orderBy($"cos_16".desc, $"n_id")
    scored
      .withColumn("rf", row_number().over(wF))
      .withColumn("r16", row_number().over(w16))
      .groupBy($"q_id")
      .agg(sum(when($"rf" <= 10 && $"r16" <= 10, 1L).otherwise(0L))
        .as("overlap_at_10"))
  }

  private def duckDot16(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform(range(1, ${MatryoshkaDims + 1}),
       |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
       |  (s, v) -> s + v)""".stripMargin

  val matryoshkaOverlapSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${duckDotExpr("embedding", "embedding")}) AS nrm,
       |    sqrt(${duckDot16("embedding", "embedding")}) AS nrm16
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    ${duckDotExpr("q.embedding", "c.embedding")} / (q.nrm * c.nrm)
       |      AS cos_full,
       |    ${duckDot16("q.embedding", "c.embedding")} / (q.nrm16 * c.nrm16)
       |      AS cos_16
       |  FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
       |ranked AS (
       |  SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos_full DESC, n_id)
       |      AS rf,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos_16 DESC, n_id)
       |      AS r16
       |  FROM scored)
       |SELECT q_id,
       |  CAST(sum(CASE WHEN rf <= 10 AND r16 <= 10 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS overlap_at_10
       |FROM ranked GROUP BY q_id""".stripMargin

  // ------------------------------------------------ MMR re-ranking

  val MmrLambda = 0.7
  val MmrCandidates = 20
  val MmrK = 5

  /** Maximal-marginal-relevance re-ranking — the diversity-aware final
    * stage of a retrieval pipeline (plain top-k returns near-duplicate
    * neighbors; MMR trades relevance against similarity to what is
    * ALREADY selected): candidates = top-[[MmrCandidates]] by cosine to
    * the query (vec_id 0, the registry's bounded-query convention),
    * then [[MmrK]] greedy rounds of
    * argmax λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s), ties by vec_id.
    *
    * Shape: candidate generation and scoring are the distributed part
    * (one broadcast-query scan + top-k); the greedy loop runs on the
    * COLLECTED 20-candidate shortlist (k·c² driver arithmetic over 20
    * vectors — the same boundedness class as the PQ query LUT), with
    * every double op in the identical sequence the oracle's unrolled
    * five steps evaluate. At production k this shortlist stays a
    * shortlist — MMR is definitionally a re-RANKER, never a scan.
    */
  def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = withNorm(s, dir)
    val q = v.where($"vec_id" === 0)
      .selectExpr("embedding AS eq", "nrm AS nq")
    import org.apache.spark.sql.expressions.Window
    val cands = v.where($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .select($"vec_id", $"embedding",
        (dotUdf($"embedding", $"eq") / ($"nrm" * $"nq")).as("rel"))
      .orderBy($"rel".desc, $"vec_id")
      .limit(MmrCandidates)
      .as[(Long, Array[Float], Double)].collect()
      .sortBy(t => (-t._3, t._1))
    // driver-side pairwise cosines over the shortlist, sequential fold
    // per dimension — the same op order as dot_f64 and the oracle fold
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val nrm = cands.map(c => math.sqrt(dot(c._2, c._2)))
    def sim(i: Int, j: Int): Double =
      dot(cands(i)._2, cands(j)._2) / (nrm(i) * nrm(j))
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    while (selected.size < MmrK) {
      var bestIdx = -1; var bestScore = Double.NegativeInfinity
      for (i <- cands.indices if !selected.exists(_._1 == i)) {
        val score =
          if (selected.isEmpty) cands(i)._3
          else {
            val maxSim = selected.map(sel => sim(i, sel._1)).max
            MmrLambda * cands(i)._3 - (1 - MmrLambda) * maxSim
          }
        // tie rule identical to the oracle's ORDER BY score DESC,
        // vec_id: equal scores resolve to the lowest candidate id
        if (score > bestScore ||
          (score == bestScore && bestIdx >= 0 &&
            cands(i)._1 < cands(bestIdx)._1)) {
          bestScore = score; bestIdx = i
        }
      }
      selected += ((bestIdx, bestScore))
    }
    selected.toSeq.zipWithIndex
      .map { case ((idx, score), r) =>
        (r + 1, cands(idx)._1, math.floor(score * 1e6 + 0.5) / 1e6) }
      .toDF("rank", "vec_id", "mmr_score")
  }

  /** Oracle: candidate CTE + five unrolled greedy steps, each an
    * ORDER BY … LIMIT 1 argmax with the max-sim-to-selected correlated
    * from a symmetric pairwise-cosine table — identical doubles, same
    * floor-based rounding as the Spark side.
    */
  val mmrRerankSql: String = {
    val lam = MmrLambda
    val base =
      s"""WITH v AS (
         |  SELECT vec_id, embedding,
         |    sqrt(${duckDotExpr("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |q AS (SELECT embedding, nrm FROM v WHERE vec_id = 0),
         |cands AS (
         |  SELECT c.vec_id, c.embedding, c.nrm,
         |    ${duckDotExpr("c.embedding", "q.embedding")} / (c.nrm * q.nrm)
         |      AS rel
         |  FROM v c CROSS JOIN q WHERE c.vec_id <> 0
         |  ORDER BY rel DESC, c.vec_id LIMIT $MmrCandidates),
         |sims AS (
         |  SELECT a.vec_id AS ca, b.vec_id AS cb,
         |    ${duckDotExpr("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
         |      AS sim
         |  FROM cands a JOIN cands b ON a.vec_id <> b.vec_id),
         |s1 AS (
         |  SELECT vec_id, rel AS score FROM cands
         |  ORDER BY rel DESC, vec_id LIMIT 1)""".stripMargin
    val steps = (2 to MmrK).map { k =>
      val selUnion = (1 until k).map(i => s"SELECT vec_id FROM s$i")
        .mkString(" UNION ALL ")
      s"""s$k AS (
         |  SELECT c.vec_id,
         |    $lam * c.rel - ${1 - lam} * (
         |      SELECT max(sim) FROM sims
         |      WHERE ca = c.vec_id AND cb IN ($selUnion)) AS score
         |  FROM cands c
         |  WHERE c.vec_id NOT IN ($selUnion)
         |  ORDER BY score DESC, c.vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val out = (1 to MmrK).map(k =>
      s"SELECT $k AS rank, vec_id, floor(score * 1e6 + 0.5) / 1e6 AS mmr_score FROM s$k")
      .mkString("\nUNION ALL\n")
    s"$base,\n$steps\n$out"
  }

  /** Per-dimension moment profile of the embedding collection — the
    * whitening/standardization statistics (mean, std, min, max per
    * coordinate) every vector pipeline computes before normalizing,
    * and the fastest detector of a dead or exploding dimension
    * (std ≈ 0 / extreme range). One posexplode (constant ×dim fanout)
    * into ONE map-side-combinable aggregate keyed on the 64 dims; sums
    * ride the 6-dp-round → DECIMAL(18,9) convention so partition order
    * can't leak into the doubles, variance is the closed two-moment
    * form with a greatest(0, ·) guard against rounding-negative, and
    * min/max are exact float comparisons.
    */
  def dimStats(s: SparkSession, dir: String): DataFrame =
    dimStatsOf(Tables.embeddings(s, dir))

  /** Dim stats over any frame with an `embedding` array column —
    * factored for planted-fixture specs.
    */
  def dimStatsOf(vecs: DataFrame): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    vecs
      .select(posexplode($"embedding"))
      .selectExpr("CAST(pos AS INT) AS dim", "CAST(col AS DOUBLE) AS v")
      .groupBy($"dim")
      .agg(count(lit(1)).as("n"),
        sum(round($"v", 6).cast("decimal(18,9)")).as("sv"),
        sum(round($"v" * $"v", 6).cast("decimal(18,9)")).as("sv2"),
        min($"v").as("vmin"), max($"v").as("vmax"))
      .selectExpr("dim", "n",
        "floor(CAST(sv AS DOUBLE) / n * 1e6 + 0.5) / 1e6 AS mean",
        """floor(sqrt(greatest(0.0,
          |  (CAST(n AS DOUBLE) * CAST(sv2 AS DOUBLE)
          |   - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
          |  / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))))
          |  * 1e6 + 0.5) / 1e6 AS std""".stripMargin,
        "vmin", "vmax")
  }

  val dimStatsSql: String =
    """WITH ex AS (
      |  SELECT CAST(unnest(range(0, len(embedding))) AS INT) AS dim,
      |    CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings),
      |g AS (
      |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(round(v, 6) AS DECIMAL(18,9))) AS sv,
      |    sum(CAST(round(v * v, 6) AS DECIMAL(18,9))) AS sv2,
      |    min(v) AS vmin, max(v) AS vmax
      |  FROM ex GROUP BY dim)
      |SELECT dim, n,
      |  floor(CAST(sv AS DOUBLE) / n * 1e6 + 0.5) / 1e6 AS mean,
      |  floor(sqrt(greatest(0.0,
      |    (CAST(n AS DOUBLE) * CAST(sv2 AS DOUBLE)
      |     - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))))
      |    * 1e6 + 0.5) / 1e6 AS std,
      |  vmin, vmax
      |FROM g""".stripMargin

  /** IVF recall@5 against the exact scan, as a CONTRACT query — the
    * eval a vector-index rollout gates on, promoted from spec-only to
    * oracle-checked: per probe query, how many of the true (brute
    * force) top-5 neighbors did the IVF index return. Both sides are
    * the already-registered queries, so the oracle is their SQL
    * composed verbatim — a single divergent rank anywhere shows up
    * here twice (in the source query's own hash AND the recall).
    *
    * Scale: the join is |queries|·k rows on both sides — audit-sized
    * regardless of collection size. (The brute-force side is the eval's
    * ground truth on a bounded query set, not a production scan.)
    */
  def ivfRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bf = bruteForceTopK(s, dir).select($"q_id", $"n_id")
    val iv = ivfTopK(s, dir).select($"q_id", $"n_id")
      .withColumn("hit", lit(1L))
    bf.join(iv, Seq("q_id", "n_id"), "left")
      .groupBy($"q_id")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce($"hit", lit(0L))).as("n_hit"))
      .selectExpr("q_id", "n_true", "n_hit",
        "floor(CAST(n_hit AS DOUBLE) / n_true * 1e6 + 0.5) / 1e6 AS recall")
  }

  def ivfRecallSql(cents: Array[Array[Double]]): String =
    s"""WITH bf AS ($bruteForceTopKSql),
       |iv AS (${ivfTopKSql(cents)})
       |SELECT bf.q_id,
       |  CAST(count(*) AS BIGINT) AS n_true,
       |  CAST(sum(CASE WHEN iv.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  floor(CAST(sum(CASE WHEN iv.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) * 1e6 + 0.5) / 1e6 AS recall
       |FROM bf LEFT JOIN iv ON iv.q_id = bf.q_id AND iv.n_id = bf.n_id
       |GROUP BY bf.q_id""".stripMargin

  /** LSH-ANN recall@5 against the exact scan — the [[ivfRecall]] gate
    * for the hyperplane index, so BOTH deployed ANN variants carry a
    * contract-grade recall eval (the pair a rollout compares before
    * choosing an index).
    */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bf = bruteForceTopK(s, dir).select($"q_id", $"n_id")
    val an = annTopK(s, dir).select($"q_id", $"n_id")
      .withColumn("hit", lit(1L))
    bf.join(an, Seq("q_id", "n_id"), "left")
      .groupBy($"q_id")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce($"hit", lit(0L))).as("n_hit"))
      .selectExpr("q_id", "n_true", "n_hit",
        "floor(CAST(n_hit AS DOUBLE) / n_true * 1e6 + 0.5) / 1e6 AS recall")
  }

  val annRecallSql: String =
    s"""WITH bf AS ($bruteForceTopKSql),
       |an AS ($annTopKSql)
       |SELECT bf.q_id,
       |  CAST(count(*) AS BIGINT) AS n_true,
       |  CAST(sum(CASE WHEN an.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  floor(CAST(sum(CASE WHEN an.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) * 1e6 + 0.5) / 1e6 AS recall
       |FROM bf LEFT JOIN an ON an.q_id = bf.q_id AND an.n_id = bf.n_id
       |GROUP BY bf.q_id""".stripMargin

  /** PQ reconstruction-distortion audit: per block, the mean squared
    * error between each vector slice and its nearest codebook centroid,
    * relative to the slice's mean energy — the "how lossy is this
    * codebook" readout that decides whether 64× compression is
    * shippable. Both engines evaluate the IDENTICAL generated
    * expression text (same 8-term left-to-right squared-distance fold
    * per centroid, same LEAST over the 16 candidates, same trained
    * codebook doubles from the memo), then floor per-(vector, block)
    * values into micro-units so the cross-vector means are integer
    * sums.
    */
  def pqDistortion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cbs = pqCodebooks(s, dir)
    def distExpr(b: Int, c: Int): String =
      (1 to PqBlockDim).map { i =>
        val cv = cbs(b)(c)(i - 1)
        s"(CAST(element_at(embedding, ${b * PqBlockDim + i}) AS DOUBLE) - ($cv)) * " +
          s"(CAST(element_at(embedding, ${b * PqBlockDim + i}) AS DOUBLE) - ($cv))"
      }.mkString(" + ")
    def energyExpr(b: Int): String =
      (1 to PqBlockDim).map { i =>
        s"CAST(element_at(embedding, ${b * PqBlockDim + i}) AS DOUBLE) * " +
          s"CAST(element_at(embedding, ${b * PqBlockDim + i}) AS DOUBLE)"
      }.mkString(" + ")
    // 8 unioned scans, one per block, each with its own bounded codegen
    // stage. The tempting single-scan posexplode fusion was MEASURED
    // SLOWER (5.8-9.5 s vs ~3 s at sf0.1): all 8 blocks' ~1024
    // multiply-subtract terms land in one projection, blowing past the
    // whole-stage-codegen method budget, while the union form keeps
    // each block's 128-term LEAST inside its own compiled stage — the
    // scans re-read a narrow column 8× but the expression work, not the
    // scan, dominates.
    val perBlock = (0 until PqBlocks).map { b =>
      val least = s"least(${(0 until PqCentsPerBlock)
        .map(c => s"(${distExpr(b, c)})").mkString(", ")})"
      Tables.embeddings(s, dir).selectExpr(
        s"$b AS block",
        s"CAST(floor(($least) * 1e6 + 0.5) AS BIGINT) AS err_micro",
        s"CAST(floor((${energyExpr(b)}) * 1e6 + 0.5) AS BIGINT) AS energy_micro")
    }.reduce(_ unionByName _)
    perBlock.groupBy($"block")
      .agg(count(lit(1)).as("n_vecs"),
        sum($"err_micro").as("se"), sum($"energy_micro").as("sen"))
      .selectExpr("block", "n_vecs",
        "floor(CAST(se AS DOUBLE) / n_vecs + 0.5) / 1e6 AS mean_sq_err",
        "floor(CAST(sen AS DOUBLE) / n_vecs + 0.5) / 1e6 AS mean_energy",
        "floor(CAST(se AS DOUBLE) / sen * 1e6 + 0.5) / 1e6 AS rel_distortion")
  }

  def pqDistortionSql(cbs: Array[Array[Array[Double]]]): String = {
    def distExpr(b: Int, c: Int): String =
      (1 to PqBlockDim).map { i =>
        val cv = cbs(b)(c)(i - 1)
        s"(CAST(embedding[${b * PqBlockDim + i}] AS DOUBLE) - ($cv)) * " +
          s"(CAST(embedding[${b * PqBlockDim + i}] AS DOUBLE) - ($cv))"
      }.mkString(" + ")
    def energyExpr(b: Int): String =
      (1 to PqBlockDim).map { i =>
        s"CAST(embedding[${b * PqBlockDim + i}] AS DOUBLE) * " +
          s"CAST(embedding[${b * PqBlockDim + i}] AS DOUBLE)"
      }.mkString(" + ")
    val blocks = (0 until PqBlocks).map { b =>
      val least = s"least(${(0 until PqCentsPerBlock)
        .map(c => s"(${distExpr(b, c)})").mkString(", ")})"
      s"""SELECT $b AS block,
         |  CAST(floor(($least) * 1e6 + 0.5) AS BIGINT) AS err_micro,
         |  CAST(floor((${energyExpr(b)}) * 1e6 + 0.5) AS BIGINT) AS energy_micro
         |FROM embeddings""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH cells AS (
       |$blocks)
       |SELECT block, CAST(count(*) AS BIGINT) AS n_vecs,
       |  floor(CAST(sum(err_micro) AS DOUBLE) / count(*) + 0.5) / 1e6 AS mean_sq_err,
       |  floor(CAST(sum(energy_micro) AS DOUBLE) / count(*) + 0.5) / 1e6 AS mean_energy,
       |  floor(CAST(sum(err_micro) AS DOUBLE) / sum(energy_micro) * 1e6 + 0.5) / 1e6 AS rel_distortion
       |FROM cells GROUP BY block""".stripMargin
  }

  // ------------------------------------------------------- radius search

  /** Cosine radius for [[rangeSearch]]. Production τ is a data-derived
    * knob (SemDeDup-style pipelines run at their semantic-duplicate
    * threshold, `SemDedup.Tau`); here it sits at the fixture's
    * measured "related but not duplicate" band so the canonical 10-query
    * set has a non-empty, bounded ball to return (≈40 true pairs —
    * τ = SemDedup.Tau leaves this particular query set with zero).
    */
  val RangeSearchTau = 0.3

  /** Radius (ball) search over the IVF index — the missing retrieval
    * mode next to top-k: ALL vectors within cosine ≥ τ of each query,
    * not a fixed count. Same probe rule as [[ivfTopK]] (nProbe nearest
    * coarse cells per query, candidate generation by equi-join on the
    * cell id, ~nProbe/k of the collection scanned), exact verification
    * inside the candidates; no rank stage at all — the τ cut replaces
    * it. Top-k degrades gracefully when a query sits in a sparse
    * neighborhood (returns far garbage); radius search is the honest
    * form for dedup/dense-retrieval cuts, returning nothing when
    * nothing is close. Cosines are the bit-pinned DotF64 fold, so the
    * τ comparison agrees across engines exactly.
    */
  def rangeSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = withNorm(s, dir)
      .select($"vec_id", $"embedding", $"nrm")
      .as[(Long, Array[Float], Double)]
    val bc = s.sparkContext.broadcast(ivfCentroids(s, dir))
    val assigned = v.map { case (id, emb, nrm) =>
      (nearestCentroid(emb, bc.value), id, emb, nrm)
    }.toDF("cid", "n_id", "en", "nn")
    val probes = v.filter(_._1 < 10).flatMap { case (id, emb, nrm) =>
      centroidsByDistance(emb, bc.value, IvfNProbe)
        .map(c => (c, id, emb, nrm))
    }.toDF("cid", "q_id", "eq", "nq")
    broadcast(probes).join(assigned, Seq("cid"))
      .where($"q_id" =!= $"n_id")
      .select($"q_id", $"n_id",
        (dotUdf($"eq", $"en") / ($"nq" * $"nn")).as("cosine"))
      .distinct()
      .where($"cosine" >= RangeSearchTau)
  }

  /** Generated oracle: the trained centroids embedded as double
    * literals, the assign → probe → verify pipeline restated, the τ cut
    * on the identically-folded cosine.
    */
  def rangeSearchSql(cents: Array[Array[Double]]): String = {
    val centRows = cents.zipWithIndex.map { case (cv, i) =>
      s"($i, [${cv.mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n    ")
    s"""WITH cents(cid, cv) AS (VALUES
       |    $centRows),
       |v AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${duckDotExpr("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |ranked_c AS (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS crn
       |  FROM (SELECT vec_id, cid, ${duckSqDistExpr("embedding", "cv")} AS d
       |        FROM v CROSS JOIN cents)),
       |assigned AS (SELECT vec_id AS n_id, cid FROM ranked_c WHERE crn = 1),
       |probes AS (
       |  SELECT vec_id AS q_id, cid FROM ranked_c
       |  WHERE vec_id < 10 AND crn <= $IvfNProbe),
       |scored AS (
       |  SELECT DISTINCT p.q_id, a.n_id,
       |    ${duckDotExpr("qv.embedding", "nv.embedding")} / (qv.nrm * nv.nrm)
       |      AS cosine
       |  FROM probes p
       |  JOIN assigned a ON a.cid = p.cid AND a.n_id <> p.q_id
       |  JOIN v qv ON qv.vec_id = p.q_id
       |  JOIN v nv ON nv.vec_id = a.n_id)
       |SELECT q_id, n_id, cosine FROM scored
       |WHERE cosine >= $RangeSearchTau""".stripMargin
  }

  /** Probe-depth tuning curve for [[rangeSearch]] — the same
    * measured-not-assumed accuracy readout [[ivfPqProbeCurve]] gives
    * top-k, for the RADIUS contract: of all true τ-neighbor pairs
    * (exact 10-query brute pass), how many sit in the query's rank-r
    * coarse cell — cumulative over r is the candidate recall the nProbe
    * knob buys. Radius search needs its own curve: τ-balls cross cell
    * boundaries more than top-5 lists do, so the top-k curve
    * systematically overstates ball recall at a given probe depth.
    * Driver work is the 10-query cell ranking (10 × K rows); the truth
    * pass is the blessed bounded-broadcast brute shape.
    */
  def rangeProbeCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = ivfCentroids(s, dir)
    val bc = s.sparkContext.broadcast(cents)
    val qRanks = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding")
      .where($"vec_id" < 10)
      .as[(Long, Array[Float])].collect().sortBy(_._1)
      .flatMap { case (id, emb) =>
        centroidsByDistance(emb, bc.value, cents.length)
          .zipWithIndex.map { case (c, i) => (id, c, (i + 1).toLong) }
      }.toSeq.toDF("q_id", "cell", "cell_rank")
    val assigned = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])]
      .map { case (id, emb) => (nearestCentroid(emb, bc.value), id) }
      .toDF("cell", "n_id")
    val v = withNorm(s, dir)
    val qs = v.where($"vec_id" < 10).toDF("q_id", "eq", "nq")
    val truth = broadcast(qs)
      .join(v.toDF("n_id", "en", "nn"), expr("q_id <> n_id"))
      .where(dotUdf($"eq", $"en") / ($"nq" * $"nn") >= RangeSearchTau)
      .select($"q_id", $"n_id")
    val total = truth.count()
    val hits = assigned.join(broadcast(truth), "n_id")
      .join(broadcast(qRanks), Seq("q_id", "cell"))
      .groupBy($"cell_rank").agg(count(lit(1)).as("n_pairs"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy($"cell_rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    (1 to cents.length).map(_.toLong).toDF("cell_rank")
      .join(hits, Seq("cell_rank"), "left")
      .select($"cell_rank", coalesce($"n_pairs", lit(0L)).as("n_pairs"))
      .withColumn("cum_pairs", sum($"n_pairs").over(w))
      .selectExpr("cell_rank", "n_pairs", "cum_pairs",
        s"floor(CAST(cum_pairs AS DOUBLE) / $total * 1e6 + 0.5) / 1e6 AS cand_recall")
  }

  def rangeProbeCurveSql(cents: Array[Array[Double]]): String = {
    val centRows = cents.zipWithIndex.map { case (cv, i) =>
      s"($i, [${cv.mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n    ")
    s"""WITH cents(cid, cv) AS (VALUES
       |    $centRows),
       |v AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${duckDotExpr("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |ranked_c AS (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS crn
       |  FROM (SELECT vec_id, cid, ${duckSqDistExpr("embedding", "cv")} AS d
       |        FROM v CROSS JOIN cents)),
       |assigned AS (SELECT vec_id AS n_id, cid FROM ranked_c WHERE crn = 1),
       |truth AS (
       |  SELECT q.vec_id AS q_id, n.vec_id AS n_id
       |  FROM v q JOIN v n ON n.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10
       |    AND ${duckDotExpr("q.embedding", "n.embedding")} / (q.nrm * n.nrm)
       |      >= $RangeSearchTau),
       |hits AS (
       |  SELECT r.crn AS cell_rank
       |  FROM truth t
       |  JOIN assigned a ON a.n_id = t.n_id
       |  JOIN ranked_c r ON r.vec_id = t.q_id AND r.cid = a.cid),
       |counts AS (
       |  SELECT cell_rank, CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM hits GROUP BY cell_rank),
       |ranks AS (
       |  SELECT CAST(unnest(range(1, ${cents.length + 1})) AS BIGINT)
       |    AS cell_rank)
       |SELECT ranks.cell_rank,
       |  coalesce(n_pairs, 0) AS n_pairs,
       |  CAST(sum(coalesce(n_pairs, 0)) OVER (ORDER BY ranks.cell_rank)
       |    AS BIGINT) AS cum_pairs,
       |  floor(CAST(sum(coalesce(n_pairs, 0)) OVER (ORDER BY ranks.cell_rank)
       |      AS DOUBLE)
       |    / (SELECT count(*) FROM truth) * 1e6 + 0.5) / 1e6 AS cand_recall
       |FROM ranks LEFT JOIN counts ON counts.cell_rank = ranks.cell_rank""".stripMargin
  }

  // -------------------------------------- graph + PQ search (DiskANN)

  /** Canonical candidates exact-reranked after the compressed walk. */
  val GpRerank = 40

  /** Per-(query, cell) beam quota for the compressed walk — wider than
    * the exact walk's [[SemDedup.GsCellBeam]]: the 32-bit PQ code is a
    * coarse score, so the beam must hold more candidates for the true
    * neighbors to survive until the exact rerank.
    */
  val GpCellBeam = 16

  /** Graph navigation over COMPRESSED vectors (the DiskANN/SPANN
    * design): beam search on [[SemDedup.searchGraph]]'s canonical
    * cell-scoped graph, but every candidate is scored by the PQ ADC
    * distance (an 8-lookup LUT sum — the in-memory representation at
    * 10⁹-vector scale, where full floats don't fit) instead of the
    * exact cosine; only the final [[GpRerank]]-candidate shortlist
    * fetches full vectors for the exact rerank. Composes three
    * registered primitives — the dedup-canonical graph, the PQ
    * codes/LUT of `sim_pq_topk`, and the alias re-expansion — into the
    * production hybrid: graph for navigation, codes for memory, floats
    * only at the end.
    *
    * Per-hop work is O(queries · beam · degree) LUT sums regardless of
    * collection size; the full-vector fetch is [[GpRerank]] keyed rows
    * per query. Self-evaluating via the exact brute-force `in_truth`
    * flag like its exact-distance sibling `sim_graph_search`.
    */
  def graphPqSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val (vAll, alias, v, knn, entries) = SemDedup.searchGraph(s, dir)
    val cbs = pqCodebooks(s, dir)
    val codes = v.select($"vec_id",
      posexplode(graft.functions.PqEncode.pq_encode($"embedding", cbs))
        .as(Seq("b", "code"))).localCheckpoint()
    // IP-ADC + stored norms → approximate COSINE (the corpus metric):
    // the L2 table mis-ranks unnormalized vectors against cosine truth.
    // Measured at sf0.01: 0.40 recall with the L2 table → 0.68 with
    // IP-ADC + the widened beam — BEATING the flat full-scan PQ
    // shortlist (0.60 on the same fixture) while touching only
    // beam·degree candidates per hop. The 32-bit code, not the graph,
    // is the recall ceiling on uniform-random vectors.
    val lut = broadcast(pqIpLut(s, dir).toDF("q_id", "b", "code", "d6"))
    val nq = broadcast(vAll.where($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"nrm".as("nqn")))
    def adc(cand: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame =
      cand.join(codes, cand("node") === codes("vec_id"))
        .join(lut, Seq("q_id", "b", "code"))
        .groupBy($"q_id", $"node", $"kc", $"nn")
        .agg(sum($"d6".cast("decimal(18,9)")).cast("double").as("adot"))
        .join(nq, "q_id")
        .select($"q_id", $"node", $"kc",
          ($"adot" / ($"nqn" * $"nn")).as("acos"))
    val qids = vAll.where($"vec_id" < 10)
      .select($"vec_id".as("q_id"))
    var beam = adc(broadcast(qids)
      .crossJoin(entries.select($"node", $"kc", $"nn"))).localCheckpoint()
    val vkc = v.selectExpr("vec_id AS node", "k AS kc", "nrm AS nn")
    for (_ <- 1 to SemDedup.GsHops) {
      val cand = beam.join(knn, $"node" === $"src")
        .select($"q_id", $"dst".as("node"))
        .distinct()
        .join(vkc, "node")
      val w = Window.partitionBy($"q_id", $"kc").orderBy($"acos".desc, $"node")
      beam = beam.union(adc(cand))
        .groupBy($"q_id", $"node", $"kc").agg(max($"acos").as("acos"))
        .withColumn("rn", row_number().over(w))
        .where($"rn" <= GpCellBeam)
        .select($"q_id", $"node", $"kc", $"acos")
        .localCheckpoint()
    }
    val wa = Window.partitionBy($"q_id").orderBy($"acos".desc, $"node")
    val short = beam.withColumn("arn", row_number().over(wa))
      .where($"arn" <= GpRerank)
      .select($"q_id", $"node", $"acos")
    val qv = vAll.where($"vec_id" < 10)
      .selectExpr("vec_id AS q_id", "embedding AS eq", "nrm AS nq")
    val truth = bruteForceTopK(s, dir)
      .select($"q_id".as("tq"), $"n_id".as("tn"))
    val al = alias.toDF("al_cid", "al_vid")
    short
      .join(v.selectExpr("vec_id AS node", "embedding AS en", "nrm AS nn"),
        "node")
      .join(broadcast(qv), "q_id")
      .select($"q_id", $"node", $"acos",
        (dotUdf($"eq", $"en") / ($"nq" * $"nn")).as("cosine"))
      .join(al, $"node" === $"al_cid")
      .select($"q_id", $"al_vid".as("nid"), $"acos", $"cosine")
      .where($"q_id" =!= $"nid")
      .withColumn("rn", row_number().over(
        Window.partitionBy($"q_id").orderBy($"cosine".desc, $"nid")))
      .where($"rn" <= SemDedup.GsTopK)
      .join(truth, $"q_id" === $"tq" && $"nid" === $"tn", "left_outer")
      .select($"q_id", $"nid".as("n_id"), $"acos", $"cosine",
        $"rn".cast("long").as("rn"), $"tn".isNotNull.as("in_truth"))
  }

  /** Oracle: the shared graph-index CTEs + the PQ cents/codes/LUT CTEs
    * of `sim_pq_topk` + ADC-scored hop CTEs + exact rerank, identical
    * total orders.
    */
  def graphPqSearchSql(cbs: Array[Array[Array[Double]]],
      lutRows: Seq[(Long, Int, Int, Double)]): String = {
    val centRows = (for {
      b <- 0 until PqBlocks
      c <- 0 until PqCentsPerBlock
    } yield s"($b, $c, [${cbs(b)(c).mkString(", ")}]::DOUBLE[])")
      .mkString(",\n    ")
    val lutVals = lutRows.map { case (q, b, c, d) => s"($q, $b, $c, $d)" }
      .mkString(",\n    ")
    val sliceSqDist = (1 to PqBlockDim).map { i =>
      s"(CAST(embedding[b * $PqBlockDim + $i] AS DOUBLE) - cv[$i]) * " +
        s"(CAST(embedding[b * $PqBlockDim + $i] AS DOUBLE) - cv[$i])"
    }.mkString(" + ")
    val hops = (1 to SemDedup.GsHops).map { h =>
      s"""cand$h AS MATERIALIZED (
         |  SELECT DISTINCT b.q_id, k.nbr_id AS node
         |  FROM b${h - 1} b JOIN knn k ON k.vec_id = b.node),
         |sc$h AS MATERIALIZED (
         |  SELECT q_id, node, kc, adot / (nqn * nn) AS acos FROM (
         |    SELECT c.q_id, c.node, v.k AS kc, v.nrm AS nn, q.nq AS nqn,
         |      CAST(sum(CAST(l.d6 AS DECIMAL(18,9))) AS DOUBLE) AS adot
         |    FROM cand$h c JOIN v ON v.vec_id = c.node
         |    JOIN codes cd ON cd.vec_id = c.node
         |    JOIN lut l ON l.q_id = c.q_id AND l.b = cd.b AND l.code = cd.code
         |    JOIN q ON q.q_id = c.q_id
         |    GROUP BY c.q_id, c.node, v.k, v.nrm, q.nq) g),
         |b$h AS MATERIALIZED (
         |  SELECT q_id, node, kc, acos FROM (
         |    SELECT q_id, node, kc, acos, row_number() OVER (
         |      PARTITION BY q_id, kc ORDER BY acos DESC, node) AS rn
         |    FROM (
         |      SELECT q_id, node, kc, max(acos) AS acos FROM (
         |        SELECT q_id, node, kc, acos FROM b${h - 1}
         |        UNION ALL SELECT q_id, node, kc, acos FROM sc$h) u
         |      GROUP BY q_id, node, kc) m) r
         |  WHERE rn <= $GpCellBeam)""".stripMargin
    }.mkString(",\n")
    s"""${SemDedup.graphCtesSql},
       |cents(b, cid, cv) AS (VALUES
       |    $centRows),
       |assign AS MATERIALIZED (
       |  SELECT vec_id, b, cid,
       |    row_number() OVER (PARTITION BY vec_id, b ORDER BY d, cid) AS crn
       |  FROM (SELECT vec_id, c.b, c.cid, $sliceSqDist AS d
       |        FROM v CROSS JOIN cents c) a),
       |codes AS MATERIALIZED (
       |  SELECT vec_id, b, cid AS code FROM assign WHERE crn = 1),
       |lut(q_id, b, code, d6) AS (VALUES
       |    $lutVals),
       |b0 AS MATERIALIZED (
       |  SELECT q_id, node, kc, adot / (nqn * nn) AS acos FROM (
       |    SELECT q.q_id, e.node, e.kc, e.nn, q.nq AS nqn,
       |      CAST(sum(CAST(l.d6 AS DECIMAL(18,9))) AS DOUBLE) AS adot
       |    FROM q CROSS JOIN ent e
       |    JOIN codes cd ON cd.vec_id = e.node
       |    JOIN lut l ON l.q_id = q.q_id AND l.b = cd.b AND l.code = cd.code
       |    GROUP BY q.q_id, e.node, e.kc, e.nn, q.nq) g),
       |$hops,
       |short AS (
       |  SELECT q_id, node, acos FROM (
       |    SELECT q_id, node, acos, row_number() OVER (
       |      PARTITION BY q_id ORDER BY acos DESC, node) AS arn
       |    FROM b${SemDedup.GsHops}) s
       |  WHERE arn <= $GpRerank),
       |rr AS (
       |  SELECT s.q_id, s.node, s.acos,
       |    ${duckDotExpr("q.eq", "v.embedding")} / (q.nq * v.nrm) AS cosine
       |  FROM short s JOIN v ON v.vec_id = s.node
       |  JOIN q ON q.q_id = s.q_id),
       |truth AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.q_id, c.vec_id AS n_id, row_number() OVER (
       |      PARTITION BY q.q_id ORDER BY
       |        ${duckDotExpr("q.eq", "c.embedding")}
       |          / (q.nq * c.nrm) DESC, c.vec_id) AS rn
       |    FROM q JOIN vall c ON q.q_id <> c.vec_id) s
       |  WHERE rn <= ${SemDedup.GsTopK})
       |SELECT b.q_id, b.nid AS n_id, b.acos, b.cosine,
       |  CAST(b.rn AS BIGINT) AS rn, t.n_id IS NOT NULL AS in_truth
       |FROM (
       |  SELECT q_id, nid, acos, cosine, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cosine DESC, nid) AS rn
       |  FROM (
       |    SELECT rr.q_id, al.vec_id AS nid, rr.acos, rr.cosine
       |    FROM rr JOIN alias al ON al.c_id = rr.node
       |    WHERE al.vec_id <> rr.q_id) x) b
       |LEFT JOIN truth t ON t.q_id = b.q_id AND t.n_id = b.nid
       |WHERE b.rn <= ${SemDedup.GsTopK}""".stripMargin
  }

  // ---------------------------------------------- hard-negative mining

  /** Hard negatives mined per query. */
  val HnK = 5

  /** Hard-negative mining for contrastive retriever training: for each
    * query vector (vec_id < 10, the bounded convention), the
    * [[HnK]] most-similar vectors with a DIFFERENT label — the
    * "similar but wrong" examples that carry most of the gradient
    * signal in a contrastive batch (the reason every modern retriever
    * pipeline mines negatives from the index instead of sampling them
    * uniformly). Each row also carries the query's best same-label
    * cosine and the margin (pos − neg): a negative with margin ≤ 0
    * outranks every positive — the batch-priority examples.
    *
    * Scale shape: the query side is 10 broadcast rows against one
    * collection scan (the `sim_bruteforce_topk` shape); at corpus
    * scale the scan is replaced by the IVF/graph candidate generation
    * already in the registry — the mining semantics (different-label
    * filter + margin) are unchanged downstream of any candidate
    * source.
    */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val v = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding", $"label",
        sqrt(dotUdf($"embedding", $"embedding")).as("nrm"))
    val q = v.where($"vec_id" < 10)
      .selectExpr("vec_id AS q_id", "embedding AS eq", "nrm AS nq",
        "label AS ql")
    val scored = broadcast(q).join(v, $"q_id" =!= $"vec_id")
      .select($"q_id", $"ql", $"vec_id".as("n_id"), $"label",
        (dotUdf($"eq", $"embedding") / ($"nq" * $"nrm")).as("cosine"))
    val pos = scored.where($"label" === $"ql")
      .groupBy($"q_id").agg(max($"cosine").as("pos_cos"))
    val wn = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"n_id")
    scored.where($"label" =!= $"ql")
      .withColumn("rn", row_number().over(wn))
      .where($"rn" <= HnK)
      .join(pos, Seq("q_id"), "left_outer")
      .select($"q_id", $"n_id", $"label".as("neg_label"), $"cosine",
        $"rn".cast("long").as("rn"), $"pos_cos",
        ($"pos_cos" - $"cosine").as("margin"))
  }

  /** Oracle: identical scan, label split, total order, and margin. */
  val hardNegativesSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, embedding, label,
       |    sqrt(${duckDotExpr("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id AS q_id, embedding AS eq, nrm AS nq, label AS ql
       |  FROM v WHERE vec_id < 10),
       |scored AS MATERIALIZED (
       |  SELECT q.q_id, q.ql, v.vec_id AS n_id, v.label,
       |    ${duckDotExpr("q.eq", "v.embedding")} / (q.nq * v.nrm) AS cosine
       |  FROM q JOIN v ON q.q_id <> v.vec_id),
       |pos AS (
       |  SELECT q_id, max(cosine) AS pos_cos FROM scored
       |  WHERE label = ql GROUP BY q_id)
       |SELECT n.q_id, n.n_id, n.label AS neg_label, n.cosine,
       |  CAST(n.rn AS BIGINT) AS rn, p.pos_cos,
       |  p.pos_cos - n.cosine AS margin
       |FROM (
       |  SELECT q_id, n_id, label, cosine, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rn
       |  FROM scored WHERE label <> ql) n
       |LEFT JOIN pos p ON p.q_id = n.q_id
       |WHERE n.rn <= $HnK""".stripMargin

  // ------------------------------------------- binary quantization (BQ)

  /** Hamming candidates reranked per query, and the reported k. */
  val BqRerank = 100
  val BqK = 5

  /** Sign-bit binary quantization retrieval: 1 bit per dimension
    * (`embedding[i] > 0` — the corpus is zero-centered per dim, see
    * `sim_dim_stats`), packed into two 32-bit words so neither engine
    * ever touches the BIGINT sign bit (Spark ANSI overflow / DuckDB
    * HUGEINT widening both avoided by construction). Retrieval is the
    * production BQ recipe: brute-force Hamming scan over the 8-byte
    * signatures (a 32× cheaper scan than float dots — at 100 TB the
    * signature column IS the index and fits where the vectors don't),
    * keep the [[BqRerank]] closest by (hamming ASC, id), then exact
    * float rerank of just those and report the top-[[BqK]] with an
    * `in_truth` flag against the exact brute-force top-k. Everything
    * before the rerank is integer arithmetic — bit-identical across
    * engines by construction; the rerank reuses the sequential-fold
    * dot contract.
    *
    * Completes the quantization spectrum: float (`sim_bruteforce_topk`)
    * → int8 ADC (`sim_sq8_topk`) → PQ codes (`sim_pq_topk`) → 1-bit
    * signatures (this).
    */
  def bqHamming(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    def sigWord(lo: Int): String =
      s"""aggregate(sequence($lo, ${lo + 31}), CAST(0 AS BIGINT),
         |  (acc, i) -> acc + IF(element_at(embedding, i) > CAST(0 AS FLOAT),
         |    shiftleft(CAST(1 AS BIGINT), i - $lo), CAST(0 AS BIGINT)))""".stripMargin
    val v = withNorm(s, dir).selectExpr("vec_id", "embedding", "nrm",
      s"${sigWord(1)} AS sig_lo", s"${sigWord(33)} AS sig_hi")
    val q = v.where($"vec_id" < 10)
      .selectExpr("vec_id AS q_id", "embedding AS eq", "nrm AS nq",
        "sig_lo AS q_lo", "sig_hi AS q_hi")
    val wh = Window.partitionBy($"q_id").orderBy($"hamming", $"n_id")
    val cand = broadcast(q.select($"q_id", $"q_lo", $"q_hi"))
      .crossJoin(v.select($"vec_id".as("n_id"), $"sig_lo", $"sig_hi"))
      .where($"q_id" =!= $"n_id")
      .select($"q_id", $"n_id",
        (bit_count($"sig_lo".bitwiseXOR($"q_lo")) +
          bit_count($"sig_hi".bitwiseXOR($"q_hi"))).cast("long").as("hamming"))
      .withColumn("hrn", row_number().over(wh))
      .where($"hrn" <= BqRerank)
      .select($"q_id", $"n_id", $"hamming")
    val truth = bruteForceTopK(s, dir)
      .select($"q_id".as("tq"), $"n_id".as("tn"))
    val wr = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"n_id")
    cand
      .join(v.selectExpr("vec_id AS n_id", "embedding AS en", "nrm AS nn"),
        "n_id")
      .join(broadcast(q.select($"q_id", $"eq", $"nq")), "q_id")
      .select($"q_id", $"n_id", $"hamming",
        (dotUdf($"eq", $"en") / ($"nq" * $"nn")).as("cosine"))
      .withColumn("rn", row_number().over(wr))
      .where($"rn" <= BqK)
      .join(truth, $"q_id" === $"tq" && $"n_id" === $"tn", "left_outer")
      .select($"q_id", $"n_id", $"hamming", $"cosine",
        $"rn".cast("long").as("rn"), $"tn".isNotNull.as("in_truth"))
  }

  /** Oracle: the same two 32-bit sign words (integer sums of distinct
    * powers of two — order-free), Hamming candidate cut, exact rerank,
    * and brute-force truth flag under the identical total orders.
    */
  val bqHammingSql: String = {
    def sigWord(lo: Int): String =
      s"""CAST(list_sum(list_transform(range($lo, ${lo + 32}),
         |    i -> CASE WHEN embedding[i] > 0
         |      THEN (CAST(1 AS BIGINT) << (i - $lo))
         |      ELSE CAST(0 AS BIGINT) END)) AS BIGINT)""".stripMargin
    s"""WITH v AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    sqrt(${duckDotExpr("embedding", "embedding")}) AS nrm,
       |    ${sigWord(1)} AS sig_lo,
       |    ${sigWord(33)} AS sig_hi
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id AS q_id, embedding AS eq, nrm AS nq,
       |    sig_lo AS q_lo, sig_hi AS q_hi
       |  FROM v WHERE vec_id < 10),
       |cand AS MATERIALIZED (
       |  SELECT q_id, n_id, hamming FROM (
       |    SELECT q_id, n_id, hamming, row_number() OVER (
       |      PARTITION BY q_id ORDER BY hamming, n_id) AS hrn
       |    FROM (
       |      SELECT q.q_id, v.vec_id AS n_id,
       |        CAST(bit_count(xor(v.sig_lo, q.q_lo)) +
       |          bit_count(xor(v.sig_hi, q.q_hi)) AS BIGINT) AS hamming
       |      FROM q JOIN v ON q.q_id <> v.vec_id) h) r
       |  WHERE hrn <= $BqRerank),
       |truth AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.q_id, c.vec_id AS n_id, row_number() OVER (
       |      PARTITION BY q.q_id ORDER BY
       |        ${duckDotExpr("q.eq", "c.embedding")} / (q.nq * c.nrm)
       |          DESC, c.vec_id) AS rn
       |    FROM q JOIN v c ON q.q_id <> c.vec_id) s
       |  WHERE rn <= $BqK),
       |rr AS (
       |  SELECT c.q_id, c.n_id, c.hamming,
       |    ${duckDotExpr("q.eq", "v.embedding")} / (q.nq * v.nrm) AS cosine
       |  FROM cand c JOIN v ON v.vec_id = c.n_id
       |  JOIN q ON q.q_id = c.q_id)
       |SELECT b.q_id, b.n_id, b.hamming, b.cosine,
       |  CAST(b.rn AS BIGINT) AS rn, t.n_id IS NOT NULL AS in_truth
       |FROM (
       |  SELECT q_id, n_id, hamming, cosine, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rn
       |  FROM rr) b
       |LEFT JOIN truth t ON t.q_id = b.q_id AND t.n_id = b.n_id
       |WHERE b.rn <= $BqK""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_bq_hamming" -> (bqHamming _),
    "curate_hard_negatives" -> (hardNegatives _),
    "sim_graph_pq_search" -> (graphPqSearch _),
    "sim_range_probe_curve" -> (rangeProbeCurve _),
    "sim_range_search" -> (rangeSearch _),
    "sim_pq_distortion" -> (pqDistortion _),
    "sim_ann_recall" -> (annRecall _),
    "sim_ivf_recall" -> (ivfRecall _),
    "sim_dim_stats" -> (dimStats _),
    "sim_mmr_rerank" -> (mmrRerank _),
    "sim_matryoshka_overlap" -> (matryoshkaOverlap _),
    "sim_embedding_neardup" -> (embeddingNearDup _),
    "sim_bruteforce_topk" -> (bruteForceTopK _),
    "sim_ann_topk" -> (annTopK _),
    "sim_ivf_topk" -> (ivfTopK _),
    "sim_pq_topk" -> (pqTopK _),
    "sim_ivfpq_topk" -> (ivfPqTopK _),
    "sim_ivfpq_recall" -> (ivfPqRecall _),
    "layout_ivfpq_lists" -> (ivfPqLists _),
    "sim_ivfpq_probe_curve" -> (ivfPqProbeCurve _),
    "sim_quantize_int8" -> (quantizeInt8 _),
    "sim_sq8_topk" -> (sq8TopK _),
    "sim_lang_centroids" -> (langCentroids _),
    "sim_lang_centroids_agg" -> (langCentroidsAgg _))

  /** Oracles for an EXPLICIT dir: the IVF centroids, near-dup plane
    * set, and PQ codebooks/LUT are looked up (or deterministically
    * recomputed) for that dir's data — never for "whichever dir some
    * caller touched last", so interleaved suites and multi-dir use
    * can't generate an oracle against the wrong collection size.
    */
  def oracles(dir: String): Map[String, String] = {
    val s = activeSession
    val (npt, planes) = ndParams(s, dir)
    Map(
      "sim_bq_hamming" -> bqHammingSql,
      "curate_hard_negatives" -> hardNegativesSql,
      "sim_graph_pq_search" -> graphPqSearchSql(pqCodebooks(s, dir), pqIpLut(s, dir)),
      "sim_range_search" -> rangeSearchSql(ivfCentroids(s, dir)),
      "sim_range_probe_curve" -> rangeProbeCurveSql(ivfCentroids(s, dir)),
      "sim_dim_stats" -> dimStatsSql,
      "sim_mmr_rerank" -> mmrRerankSql,
      "sim_matryoshka_overlap" -> matryoshkaOverlapSql,
      "sim_bruteforce_topk" -> bruteForceTopKSql,
      "sim_ann_topk" -> annTopKSql,
      "sim_quantize_int8" -> quantizeInt8Sql,
      "sim_sq8_topk" -> sq8TopKSql,
      "sim_lang_centroids" -> langCentroidsSql,
      "sim_lang_centroids_agg" -> langCentroidsAggSql,
      "sim_ivf_topk" -> ivfTopKSql(ivfCentroids(s, dir)),
      "sim_ivf_recall" -> ivfRecallSql(ivfCentroids(s, dir)),
      "sim_ann_recall" -> annRecallSql,
      "sim_embedding_neardup" -> embeddingNearDupSql(npt, planes),
      "sim_pq_topk" -> pqTopKSql(pqCodebooks(s, dir), pqLut(s, dir)),
      "sim_pq_distortion" -> pqDistortionSql(pqCodebooks(s, dir)),
      "sim_ivfpq_topk" -> ivfPqTopKSql(ivfCentroids(s, dir),
        pqCodebooks(s, dir), pqLut(s, dir)),
      "sim_ivfpq_recall" -> ivfPqRecallSql(ivfCentroids(s, dir),
        pqCodebooks(s, dir), pqLut(s, dir)),
      "layout_ivfpq_lists" -> ivfPqListsSql(ivfCentroids(s, dir)),
      "sim_ivfpq_probe_curve" -> ivfPqProbeCurveSql(ivfCentroids(s, dir)))
  }
}

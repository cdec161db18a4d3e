package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.DotF64

/** Semantic deduplication (SemDeDup, Abbas et al., arXiv:2303.09540):
  * cluster the embedding collection with k-means, then drop every
  * vector that has a cosine-similar neighbor WITHIN ITS CLUSTER —
  * the embedding-space analogue of MinHash near-dup, and the standard
  * way web-scale corpora prune semantically redundant samples before
  * training.
  *
  * Composition story: the cluster model is [[KMeans.trainedCentroids]]
  * — the SAME memoized 5-iteration fit `sim_kmeans` and
  * `stream_kmeans_assign` verify — so this query is model reuse, not a
  * refit. Assignment is one distributed pass ([[KMeans.assign]]:
  * broadcast k-row centroid table, sequential-fold distance, (d, k)
  * tie-break).
  *
  * Scale shape: the pairwise stage is a self-join ON THE CLUSTER KEY —
  * never a global all-pairs. Work is Σ |cluster|², bounded by choosing
  * k ∝ n (the paper runs k ≈ 100k on LAION so mean cluster size stays
  * ~constant); here K = 8 over 500 vectors is the same plan at toy
  * scale. Skewed clusters are the known failure mode — at production
  * scale the mitigation is raising k, which changes ONLY the broadcast
  * model table, not the plan.
  *
  * Drop rule (deterministic): a vector is dropped iff some same-cluster
  * neighbor with a SMALLER vec_id is > τ cosine-similar — the greedy
  * keep-first convention the streaming near-dup path
  * (`stream_neardup`) already uses. Cosine is the sequential-fold dot
  * ([[graft.functions.DotF64]]) over exact doubles — bit-identical to
  * DuckDB's `list_reduce` fold, so the τ comparison can't diverge
  * between engines; the emitted value is only then rounded for output.
  *
  * Reference: the reference corpus has no embedding operators at all
  * (Kafka/Storm wordcount wiring — see SURVEY.md §2.7); this family is
  * the training-data-pipeline extension the brief mandates.
  */
object SemDedup {

  /** Cosine threshold for "semantic duplicate" — aligned with the LSH
    * near-dup verification bar (`sim_embedding_neardup` uses > 0.45) so
    * the two paths find the same planted duplicate structure.
    */
  val Tau = 0.45

  def semDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = KMeans.trainedCentroids(s, dir)
    val assigned = KMeans.assign(
      Tables.embeddings(s, dir).select($"vec_id", $"embedding"), cents)
    val v = assigned.select($"vec_id", $"k", $"embedding",
      sqrt(DotF64.dot_f64($"embedding", $"embedding")).as("nrm"))
      .localCheckpoint()
    val a = v.selectExpr("k", "vec_id AS vec_a", "embedding AS ea", "nrm AS na")
    val b = v.selectExpr("k", "vec_id AS vec_b", "embedding AS eb", "nrm AS nb")
    val dropped = a.join(b, "k")
      .where($"vec_a" < $"vec_b")
      .where(DotF64.dot_f64($"ea", $"eb") / ($"na" * $"nb") > Tau)
      .select($"vec_b".as("vec_id")).distinct()
      .withColumn("hit", lit(1))
    v.join(dropped, Seq("vec_id"), "left")
      .select($"vec_id", $"k".as("cluster"), $"hit".isNull.as("is_kept"))
  }

  /** DuckDB restatement: the unrolled fit + final assignment CTEs from
    * [[KMeans.fitAssignCtes]] (ending at `a_final`), then the identical
    * within-cluster pairwise cosine and keep-first drop rule.
    */
  def semDedupSql: String = {
    val dotAB = Similarity.duckDotExpr("a.embedding", "b.embedding")
    val dotSelf = Similarity.duckDotExpr("embedding", "embedding")
    s"""${KMeans.fitAssignCtes},
       |v AS (
       |  SELECT vec_id, k, embedding, sqrt($dotSelf) AS nrm
       |  FROM a_final),
       |dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM v a JOIN v b ON a.k = b.k AND a.vec_id < b.vec_id
       |  WHERE $dotAB / (a.nrm * b.nrm) > $Tau)
       |SELECT v.vec_id, CAST(v.k AS INT) AS cluster,
       |  (d.vec_id IS NULL) AS is_kept
       |FROM v LEFT JOIN dropped d ON d.vec_id = v.vec_id""".stripMargin
  }

  /** Neighbors kept per node in [[knnGraph]]. */
  val KnnK = 5

  /** Cell-scoped k-NN graph over the embedding collection — the
    * neighborhood index SemDeDup-style pipelines, label propagation
    * over embeddings, and NN-descent seeding all start from: for EVERY
    * vector, its [[KnnK]] most cosine-similar neighbors WITHIN its
    * k-means cell (same memoized [[KMeans.trainedCentroids]] model as
    * [[semDedup]] — model reuse, not a refit). Exact within the cell,
    * approximate globally — the standard IVF trade: recall is bounded
    * by cell purity, and the production knob is K ∝ n (identical story
    * to [[semDedup]]'s pair stage, which this generalizes from "any
    * neighbor above τ" to "the ranked top-k").
    *
    * Plan shape: self-join ON THE CLUSTER KEY (Σ |cell|² pair work,
    * never global all-pairs), cosine as the sequential-fold dot
    * ([[graft.functions.DotF64]] — bit-identical to DuckDB's
    * list_reduce fold, so ranks can't diverge), then a per-node
    * row_number window that the rn ≤ k filter lets Spark push as a
    * WindowGroupLimit (partial top-k BEFORE the window shuffle — the
    * property that keeps per-node state at k rows at 100 TB).
    */
  def knnGraph(s: SparkSession, dir: String): DataFrame = {
    val (_, alias, v, _, _) = searchGraph(s, dir)
    canonicalKnnEdges(s, v, alias)
  }

  /** DEDUP-CANONICAL evaluation of the k-NN graph (output unchanged —
    * the pre-existing naive-join oracle is the spec): pair work runs
    * over DISTINCT vectors only (|distinct|²/K, not |rows|²/K — the
    * 10× replica's exact twins inflated the naive join 18×), then the
    * full per-vector edge list is reconstructed exactly:
    *   - cross-group edges — members of x's group see every member of
    *     the canonical neighbor groups surviving a rank-with-ties cut
    *     at K: rank() over cosine alone keeps EVERY group tied with
    *     the K-th cosine, so even when distinct groups tie exactly at
    *     the cut, all candidate members reach the final
    *     (cosine DESC, nbr_id) re-rank, which then reproduces the
    *     oracle's member-id tiebreak verbatim. Cost: a few extra
    *     expansion rows only when cosines tie at the boundary;
    *   - twin edges — same-group members at the group's self-cosine,
    *     computed by the identical dot/(nrm·nrm) expression the pair
    *     join would have used.
    *
    * Factored over (v = canonical vectors (vec_id, k, embedding, nrm);
    * alias = (c_id, vec_id) membership) so specs can drive it with
    * constructed bit-equal ties at the K boundary
    * (`KnnTieSpec`) independent of the fixture's float cosines.
    */
  private[operators] def canonicalKnnEdges(s: SparkSession, v: DataFrame,
      alias: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val a = v.selectExpr("k", "vec_id AS c_src", "embedding AS ea",
      "nrm AS na")
    val b = v.selectExpr("k", "vec_id AS c_nbr", "embedding AS eb",
      "nrm AS nb")
    // rank() over cosine ALONE (not row_number with an id tiebreak):
    // ties at the K-th cosine keep every tied group in play
    val wc = Window.partitionBy($"c_src").orderBy($"cosine".desc)
    val cknn = a.join(b, "k")
      .where($"c_src" =!= $"c_nbr")
      .select($"c_src", $"c_nbr",
        (DotF64.dot_f64($"ea", $"eb") / ($"na" * $"nb")).as("cosine"))
      .withColumn("crn", rank().over(wc))
      .where($"crn" <= KnnK)
      .select($"c_src", $"c_nbr", $"cosine")
      .localCheckpoint()
    val alS = alias.toDF("s_cid", "s_vid")
    val alD = alias.toDF("d_cid", "d_vid")
    val cross = cknn
      .join(alS, $"c_src" === $"s_cid")
      .join(alD, $"c_nbr" === $"d_cid")
      .select($"s_vid".as("vec_id"), $"d_vid".as("nbr_id"), $"cosine")
    val selfCos = v.select($"vec_id".as("t_cid"),
      (DotF64.dot_f64($"embedding", $"embedding") / ($"nrm" * $"nrm"))
        .as("cosine"))
    val alA = alias.toDF("t1_cid", "t1_vid")
    val alB = alias.toDF("t2_cid", "t2_vid")
    val twins = alA
      .join(alB, $"t1_cid" === $"t2_cid" && $"t1_vid" =!= $"t2_vid")
      .join(selfCos, $"t1_cid" === $"t_cid")
      .select($"t1_vid".as("vec_id"), $"t2_vid".as("nbr_id"), $"cosine")
    val w = Window.partitionBy($"vec_id").orderBy($"cosine".desc, $"nbr_id")
    cross.unionByName(twins)
      .withColumn("rn", row_number().over(w))
      .where($"rn" <= KnnK)
  }

  /** DuckDB restatement: the unrolled fit + assignment CTEs, the same
    * within-cell pair join, and the identical (cosine DESC, nbr_id)
    * rank — the fold cosine is bit-equal on both engines, so the raw
    * double is emitted unrounded (the `sim_ivf_topk` contract).
    */
  def knnGraphSql: String = {
    val dotAB = Similarity.duckDotExpr("a.embedding", "b.embedding")
    val dotSelf = Similarity.duckDotExpr("embedding", "embedding")
    s"""${KMeans.fitAssignCtes},
       |v AS (
       |  SELECT vec_id, k, embedding, sqrt($dotSelf) AS nrm
       |  FROM a_final),
       |scored AS (
       |  SELECT a.vec_id, b.vec_id AS nbr_id,
       |    $dotAB / (a.nrm * b.nrm) AS cosine
       |  FROM v a JOIN v b ON a.k = b.k AND a.vec_id <> b.vec_id)
       |SELECT vec_id, nbr_id, cosine, rn FROM (
       |  SELECT vec_id, nbr_id, cosine,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cosine DESC, nbr_id) AS rn
       |  FROM scored)
       |WHERE rn <= $KnnK""".stripMargin
  }

  /** Outliers reported by [[oodKnn]]. */
  val OodTopN = 20

  /** k-NN-distance OOD scoring over the [[knnGraph]] neighborhood —
    * the standard deep-OOD/outlier screen (Sun et al., ICML'22: the
    * distance to the k-th / mean-of-k nearest neighbors separates
    * out-of-distribution points better than density fits): a vector
    * whose own cell holds no close neighbors is an outlier candidate
    * for pruning or audit. Score = 1 − mean(top-k cosine), with each
    * cosine floor-rounded to 9 dp and decimal-summed so the mean is
    * partition-order-proof; emits the [[OodTopN]] most isolated
    * vectors (score DESC, id). Pure composition over the k-NN graph —
    * no new pair work at all.
    */
  def oodKnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val top = knnGraph(s, dir)
      .select($"vec_id",
        expr("CAST(floor(cosine * 1e9 + 0.5) / 1e9 AS DECIMAL(18,9))")
          .as("c9"))
      .groupBy($"vec_id")
      .agg(count(lit(1)).as("n_nbrs"), sum($"c9").as("csum"))
      .selectExpr("vec_id", "n_nbrs",
        "floor((1 - CAST(csum AS DOUBLE) / n_nbrs) * 1e6 + 0.5) / 1e6" +
          " AS ood_score")
      // distributed TakeOrdered cut FIRST (the q_assoc_rules pattern:
      // per-partition top-K, never all |V| score rows through one
      // window partition), THEN rank the K-row frame — the ordering is
      // total (vec_id unique), so limit-then-rank equals rank-then-filter
      .orderBy($"ood_score".desc, $"vec_id")
      .limit(OodTopN)
    // K-row frame: the unpartitioned rank window is value-bounded
    top.withColumn("rn", row_number().over(
      Window.orderBy($"ood_score".desc, $"vec_id")))
  }

  /** Oracle: the full k-NN-graph statement as a nested-WITH CTE, the
    * identical 9-dp rounds, decimal mean, and (score DESC, id) rank.
    */
  def oodKnnSql: String =
    s"""WITH knn AS ($knnGraphSql),
       |sc AS (
       |  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_nbrs,
       |    sum(CAST(floor(cosine * 1e9 + 0.5) / 1e9 AS DECIMAL(18,9)))
       |      AS csum
       |  FROM knn GROUP BY vec_id),
       |scored AS (
       |  SELECT vec_id, n_nbrs,
       |    floor((1 - CAST(csum AS DOUBLE) / n_nbrs) * 1e6 + 0.5) / 1e6
       |      AS ood_score
       |  FROM sc)
       |SELECT vec_id, n_nbrs, ood_score, rn FROM (
       |  SELECT vec_id, n_nbrs, ood_score,
       |    row_number() OVER (ORDER BY ood_score DESC, vec_id) AS rn
       |  FROM scored)
       |WHERE rn <= $OodTopN""".stripMargin

  // ------------------------------------------- graph-based ANN search

  /** Per-cell beam quota, hop budget, and reported k for
    * [[graphSearch]] (total beam = quota × number of cells).
    */
  val GsCellBeam = 6
  val GsHops = 5
  val GsTopK = 5

  /** Out-degree of the search graph (wider than [[KnnK]] — greedy
    * routing on 64-d vectors needs the extra branching).
    */
  val GsDegree = 16

  /** Greedy beam search over the [[knnGraph]] — graph-based ANN
    * retrieval, the modern default (HNSW/NSG family) completing the
    * index spectrum beside IVF cells (`sim_ivf_topk`), PQ/SQ codes,
    * and LSH buckets. The index is built DEDUP-FIRST: exact-duplicate
    * embeddings are collapsed to one CANONICAL node (min vec_id per
    * distinct vector) before graph construction, searched canonically,
    * and re-expanded through the alias table at ranking time. This is
    * not an optimization nicety — duplicates turn a k-NN graph into
    * replica cliques (each copy's edge budget is eaten by its own
    * twins), and greedy routing dies: measured recall 0.0 on the 10×
    * replica (10 exact copies of every vector) before canonicalization,
    * 1.0 after. Production vector stores dedup before indexing for
    * exactly this reason.
    *
    * Search: for each query (vec_id < 10, the bounded query
    * convention), start from two entry points PER K-MEANS CELL (the
    * graph is cell-scoped, so per-cell entries make every neighborhood
    * reachable — the IVF-entry twist that the flat-graph HNSW replaces
    * with layers), then [[GsHops]] rounds of expand-score-prune with
    * per-(query, cell) beam quota [[GsCellBeam]]. Cosines are the
    * bit-identical sequential fold (raw doubles, the `sim_ivf_topk`
    * contract); pruning order (cosine DESC, node) is total. Output:
    * the top-[[GsTopK]] alias-expanded matches per query (the query's
    * own row excluded) with an `in_truth` flag against the exact
    * brute-force top-k — the search is self-evaluating.
    *
    * Scale shape: the beam state is |queries|·B rows; each hop is an
    * equi-join into the k-NN edge list (k rows per node) plus a keyed
    * fetch of candidate vectors — per-hop work O(|queries|·B·k)
    * REGARDLESS of collection size, the property that makes graph
    * search the production choice at 10⁹ vectors. The corpus-sized
    * costs are one exact-dup shuffle (on the embedding itself) and the
    * within-cell graph build over the DISTINCT set — which is also why
    * canonicalization pays: pair work is |distinct|²/K, not |rows|²/K.
    */
  private val graphCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), (DataFrame, DataFrame, DataFrame, DataFrame,
      DataFrame)]

  /** The shared graph-ANN index: (vAll, alias, v, knn, entries) —
    * canonicalized vectors, the exact-dup alias map, the canonical set,
    * the symmetrized degree-[[GsDegree]] cell-scoped k-NN graph, and
    * two entry points per cell. Memoized per (session, corpus
    * fingerprint): the build is the one corpus-sized cost, paid once
    * and shared by every graph-navigating query (the materialize-once
    * index artifact).
    *
    * Canonicalize-first is load-bearing: duplicates turn a k-NN graph
    * into replica cliques and greedy routing dies (measured recall 0.0
    * on the 10× replica before, 1.0 after). The graph is degree
    * [[GsDegree]] (64-d vectors need ~3× the 5-edge analysis graph for
    * greedy routing — the HNSW/NSG degree rule) plus reverse edges (a
    * directed k-NN graph hides the inbound trail). TWO entries per
    * cell keep every neighborhood reachable even when a cell's min-id
    * canonical node is itself a query's twin.
    */
  private[operators] def searchGraph(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) =
    graft.Memo.cached(graphCache, s,
      Similarity.dataKey(dir, "embeddings"), "sim_graph_index") {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val cents = KMeans.trainedCentroids(s, dir)
      val assigned = KMeans.assign(
        Tables.embeddings(s, dir).select($"vec_id", $"embedding"), cents)
      // canonicalize exact duplicates: one shuffle keyed on the vector
      // itself (arrays are groupable); c_id = min vec_id per distinct
      // embedding. Identical vectors share a cell, so the canonical
      // set keeps the cell-scoped graph structure intact.
      val vAll = assigned.select($"vec_id", $"k", $"embedding",
        sqrt(DotF64.dot_f64($"embedding", $"embedding")).as("nrm"))
        .withColumn("c_id",
          min($"vec_id").over(Window.partitionBy($"embedding")))
        .localCheckpoint()
      // the alias map is checkpointed too: it shares vAll's lineage
      // with every other consumer (v, the query side), and a late
      // re-join would otherwise trip Spark's ambiguous-self-join check
      val alias = vAll.select($"c_id", $"vec_id").localCheckpoint()
      val v = vAll.where($"vec_id" === $"c_id")
        .select($"vec_id", $"k", $"embedding", $"nrm")
      val aa = v.selectExpr("k", "vec_id", "embedding AS ea", "nrm AS na")
      val bb = v.selectExpr("k", "vec_id AS nbr_id", "embedding AS eb",
        "nrm AS nb")
      val wk = Window.partitionBy($"vec_id").orderBy($"cosine".desc, $"nbr_id")
      val knnDir = aa.join(bb, "k")
        .where($"vec_id" =!= $"nbr_id")
        .select($"vec_id", $"nbr_id",
          (DotF64.dot_f64($"ea", $"eb") / ($"na" * $"nb")).as("cosine"))
        .withColumn("rn", row_number().over(wk))
        .where($"rn" <= GsDegree)
        .select($"vec_id".as("src"), $"nbr_id".as("dst"))
      val knn = knnDir
        .union(knnDir.select($"dst".as("src"), $"src".as("dst")))
        .distinct().localCheckpoint()
      val went = Window.partitionBy($"k").orderBy($"vec_id")
      val entries = v
        .withColumn("ern", row_number().over(went))
        .where($"ern" <= 2)
        .selectExpr("vec_id AS node", "k AS kc", "embedding AS en",
          "nrm AS nn")
      (vAll, alias, v, knn, entries)
    }

  /** The exact-cosine beam loop at a given per-(query, cell) quota —
    * shared by [[graphSearch]] (production quota [[GsCellBeam]]) and
    * the beam-sweep eval `sim_graph_recall_curve`.
    */
  private def beamLoop(s: SparkSession, q: DataFrame, entries: DataFrame,
      knn: DataFrame, v: DataFrame, quota: Int): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    var beam = broadcast(q).crossJoin(entries)
      .select($"q_id", $"node", $"kc",
        (DotF64.dot_f64($"eq", $"en") / ($"nq" * $"nn")).as("cosine"))
      .localCheckpoint()
    val cand_v = v.selectExpr("vec_id AS node", "k AS kc",
      "embedding AS en", "nrm AS nn")
    for (_ <- 1 to GsHops) {
      val cand = beam.join(knn, $"node" === $"src")
        .select($"q_id", $"dst".as("node"))
        .distinct()
        .join(cand_v, "node")
        .join(broadcast(q), "q_id")
        .select($"q_id", $"node", $"kc",
          (DotF64.dot_f64($"eq", $"en") / ($"nq" * $"nn")).as("cosine"))
      val w = Window.partitionBy($"q_id", $"kc")
        .orderBy($"cosine".desc, $"node")
      beam = beam.union(cand)
        .groupBy($"q_id", $"node", $"kc").agg(max($"cosine").as("cosine"))
        .select($"q_id", $"node", $"kc", $"cosine")
        .withColumn("rn", row_number().over(w))
        .where($"rn" <= quota)
        .select($"q_id", $"node", $"kc", $"cosine")
        .localCheckpoint()
    }
    beam
  }

  def graphSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val (vAll, alias, v, knn, entries) = searchGraph(s, dir)
    val q = vAll.where($"vec_id" < 10)
      .selectExpr("vec_id AS q_id", "embedding AS eq", "nrm AS nq")
    // beam state carries the node's CELL: pruning is per (query, cell)
    // — a global beam starves whole cells (measured: 0.28 recall vs
    // 0.54 per-cell at identical width), because one lucky cell's
    // trail floods the top while the query's true cell is still
    // routing. Per-cell quotas are the coarse-route/graph-refine
    // discipline of IVF-graph hybrid indexes (SPANN shape). The query
    // ITSELF may ride its own beam (its canonical node is the best
    // possible trailhead to its twins); it is excluded only from the
    // final alias-expanded ranking, which GsCellBeam ≥ GsTopK+1 covers.
    val beam = beamLoop(s, q, entries, knn, v, GsCellBeam)
    val truth = Similarity.bruteForceTopK(s, dir)
      .select($"q_id".as("tq"), $"n_id".as("tn"))
    // alias re-expansion: every replica of a found canonical node is a
    // match at the same cosine; rank the expansion (query's own row
    // dropped) under the same total order the truth uses.
    val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"node")
    beam.join(alias, beam("node") === alias("c_id"))
      .select($"q_id", alias("vec_id").as("node"), $"cosine")
      .where($"q_id" =!= $"node")
      .withColumn("rn", row_number().over(w))
      .where($"rn" <= GsTopK)
      .join(truth, $"q_id" === $"tq" && $"node" === $"tn", "left_outer")
      .select($"q_id", $"node".as("n_id"), $"cosine",
        $"rn".cast("long").as("rn"), $"tn".isNotNull.as("in_truth"))
  }

  /** Runs `tasks` on threads of their own and returns their results in
    * order; every Spark job they submit carries one job tag. The first
    * task to fail (or an interrupt of the caller) stops the rest: their
    * threads are interrupted and awaited for up to 10 s, and only then
    * are the tag's jobs cancelled, so a thread that was between two jobs
    * cannot start one after the cancel. The failure is rethrown.
    */
  private[operators] def allOrCancel[T](s: SparkSession, tasks: Seq[() => T]): Seq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    val sc = s.sparkContext
    val tag = "graft_all_or_cancel_" + java.util.UUID.randomUUID()
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // the tag stays on each pool thread, and those end with the pool
    val futs = tasks.map(t => Future { sc.addJobTag(tag); t() })
    try Await.result(Future.sequence(futs), scala.concurrent.duration.Duration.Inf)
    catch {
      case e: Throwable => // Future.sequence fails on the first failure
        pool.shutdownNow()
        pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
        sc.cancelJobsWithTag(tag)
        throw e
    } finally pool.shutdown()
  }

  /** Beam quotas swept by [[graphRecallCurve]]. */
  val GrBeams = Seq(2, 4, 6)

  /** Beam-width recall sweep — the graph-index member of the eval
    * family beside `sim_ivfpq_probe_curve` / `sim_range_probe_curve`:
    * run the exact-cosine beam search at each quota in [[GrBeams]] and
    * report recall@[[GsTopK]] against the brute-force truth. This is
    * the capacity-planning table an ANN deployment reads to pick its
    * latency/recall point; the graph build is the shared memoized
    * artifact, so the sweep pays only the hop loops.
    */
  def graphRecallCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val (vAll, alias, v, knn, entries) = searchGraph(s, dir)
    val q = vAll.where($"vec_id" < 10)
      .selectExpr("vec_id AS q_id", "embedding AS eq", "nrm AS nq")
    val truth = Similarity.bruteForceTopK(s, dir)
      .select($"q_id".as("tq"), $"n_id".as("tn")).localCheckpoint()
    val truthN = truth.agg(count(lit(1)).as("truth_n"))
    val al = alias.toDF("al_cid", "al_vid")
    // The three quota sweeps are INDEPENDENT hop loops over the same
    // shared read-only index, and each loop is a chain of small
    // checkpoint actions that leaves most executor slots idle — submit
    // them from a thread pool so one loop's jobs back-fill another's
    // scheduling gaps (guide §2.6 "overlap independent jobs"). Results
    // are DataFrames over checkpointed state; evaluation order does not
    // affect any value.
    val frames = allOrCancel(s, GrBeams.map { b => () =>
      val beam = beamLoop(s, q, entries, knn, v, b)
      val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"nid")
      beam.join(al, $"node" === $"al_cid")
        .select($"q_id", $"al_vid".as("nid"), $"cosine")
        .where($"q_id" =!= $"nid")
        .withColumn("rn", row_number().over(w))
        .where($"rn" <= GsTopK)
        .join(truth, $"q_id" === $"tq" && $"nid" === $"tn", "left_outer")
        .agg(count($"tn").as("hits"))
        .select(lit(b.toLong).as("cell_beam"), $"hits")
    })
    frames.reduce(_ unionByName _)
      .crossJoin(broadcast(truthN))
      .select($"cell_beam", $"hits", $"truth_n",
        ($"hits".cast("double") / $"truth_n").as("recall"))
  }

  /** Incremental graph-index maintenance — the search-then-link insert
    * path every navigable-graph index (HNSW/NSG/DiskANN) uses instead
    * of rebuilding: hold out a bounded arrival batch (vec_id ∈
    * [10, 20) — disjoint from the <10 query convention), build the
    * canonical cell-scoped graph over the REMAINING base corpus, then
    * for each arrival run the standard beam search over the base graph
    * and link the arrival to its top-[[GsDegree]] found canonical
    * nodes. Each edge carries an `in_exact` flag against the arrival's
    * EXACT top-[[GsDegree]] canonical neighbors (the ideal link set a
    * brute-force pass would produce) — the insert-quality audit that
    * keeps incremental maintenance honest.
    *
    * Scale shape: per-arrival cost IS the search cost
    * (O(beam·degree·hops) score lookups); batch inserts shard exactly
    * like queries, and the base graph is the already-materialized
    * index artifact — nothing corpus-sized is rebuilt.
    */
  def graphInsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val cents = KMeans.trainedCentroids(s, dir)
    val assigned = KMeans.assign(
      Tables.embeddings(s, dir).select($"vec_id", $"embedding"), cents)
      .select($"vec_id", $"k", $"embedding",
        sqrt(DotF64.dot_f64($"embedding", $"embedding")).as("nrm"))
      .localCheckpoint()
    val isArrival = $"vec_id" >= 10 && $"vec_id" < 20
    val base = assigned.where(!isArrival)
      .withColumn("c_id",
        min($"vec_id").over(Window.partitionBy($"embedding")))
    val v = base.where($"vec_id" === $"c_id")
      .select($"vec_id", $"k", $"embedding", $"nrm").localCheckpoint()
    val aa = v.selectExpr("k", "vec_id", "embedding AS ea", "nrm AS na")
    val bb = v.selectExpr("k", "vec_id AS nbr_id", "embedding AS eb",
      "nrm AS nb")
    val wk = Window.partitionBy($"vec_id").orderBy($"cosine".desc, $"nbr_id")
    val knnDir = aa.join(bb, "k")
      .where($"vec_id" =!= $"nbr_id")
      .select($"vec_id", $"nbr_id",
        (DotF64.dot_f64($"ea", $"eb") / ($"na" * $"nb")).as("cosine"))
      .withColumn("rn", row_number().over(wk))
      .where($"rn" <= GsDegree)
      .select($"vec_id".as("src"), $"nbr_id".as("dst"))
    val knn = knnDir
      .union(knnDir.select($"dst".as("src"), $"src".as("dst")))
      .distinct().localCheckpoint()
    val entries = v
      .withColumn("ern", row_number().over(
        Window.partitionBy($"k").orderBy($"vec_id")))
      .where($"ern" <= 2)
      .selectExpr("vec_id AS node", "k AS kc", "embedding AS en", "nrm AS nn")
    val q = assigned.where(isArrival)
      .selectExpr("vec_id AS q_id", "embedding AS eq", "nrm AS nq")
    val beam = beamLoop(s, q, entries, knn, v, GsCellBeam)
    // the linking reference: the arrival's exact top-degree canonical
    // neighbors (the ideal edges a brute-force linker would produce)
    val qa = assigned.where(isArrival)
      .selectExpr("vec_id AS a_id", "embedding AS ea", "nrm AS na")
    val exact = broadcast(qa)
      .crossJoin(v.selectExpr("vec_id AS n_id", "embedding AS en",
        "nrm AS nn"))
      .select($"a_id", $"n_id",
        (DotF64.dot_f64($"ea", $"en") / ($"na" * $"nn")).as("ecos"))
      .withColumn("ern", row_number().over(
        Window.partitionBy($"a_id").orderBy($"ecos".desc, $"n_id")))
      .where($"ern" <= GsDegree)
      .select($"a_id".as("ta"), $"n_id".as("tn"))
    val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"node")
    beam.withColumn("rn", row_number().over(w))
      .where($"rn" <= GsDegree)
      .join(exact, $"q_id" === $"ta" && $"node" === $"tn", "left_outer")
      .select($"q_id".as("a_id"), $"node", $"cosine",
        $"rn".cast("long").as("rn"), $"tn".isNotNull.as("in_exact"))
  }

  /** Oracle: the base-subset canonical graph (same CTE names the hop
    * generator expects), the arrival query set, the shared hop chain,
    * and the same-cell rebuild reference.
    */
  def graphInsertSql: String = {
    val dotAB = Similarity.duckDotExpr("a.embedding", "b.embedding")
    val dotAE = Similarity.duckDotExpr("a.ea", "c.embedding")
    val dotSelf = Similarity.duckDotExpr("embedding", "embedding")
    s"""${KMeans.fitAssignCtes},
       |af AS MATERIALIZED (
       |  SELECT vec_id, k, embedding, sqrt($dotSelf) AS nrm
       |  FROM a_final),
       |vallb AS MATERIALIZED (
       |  SELECT vec_id, k, embedding, nrm,
       |    min(vec_id) OVER (PARTITION BY embedding) AS c_id
       |  FROM af WHERE vec_id < 10 OR vec_id >= 20),
       |v AS MATERIALIZED (
       |  SELECT vec_id, k, embedding, nrm
       |  FROM vallb WHERE vec_id = c_id),
       |knn0 AS MATERIALIZED (
       |  SELECT vec_id, nbr_id FROM (
       |    SELECT a.vec_id, b.vec_id AS nbr_id, row_number() OVER (
       |      PARTITION BY a.vec_id
       |      ORDER BY $dotAB / (a.nrm * b.nrm) DESC, b.vec_id) AS rn
       |    FROM v a JOIN v b ON a.k = b.k AND a.vec_id <> b.vec_id) s
       |  WHERE rn <= $GsDegree),
       |knn AS MATERIALIZED (
       |  SELECT DISTINCT vec_id, nbr_id FROM (
       |    SELECT vec_id, nbr_id FROM knn0
       |    UNION ALL SELECT nbr_id AS vec_id, vec_id AS nbr_id FROM knn0) u),
       |q AS (
       |  SELECT vec_id AS q_id, embedding AS eq, nrm AS nq
       |  FROM af WHERE vec_id >= 10 AND vec_id < 20),
       |ent AS (
       |  SELECT vec_id AS node, k AS kc, embedding AS en, nrm AS nn FROM (
       |    SELECT vec_id, k, embedding, nrm, row_number() OVER (
       |      PARTITION BY k ORDER BY vec_id) AS ern FROM v) e
       |  WHERE ern <= 2),
       |${hopCtesSql(GsCellBeam, "")},
       |qa AS (
       |  SELECT vec_id AS a_id, embedding AS ea, nrm AS na
       |  FROM af WHERE vec_id >= 10 AND vec_id < 20),
       |exact AS (
       |  SELECT a_id, n_id FROM (
       |    SELECT a.a_id, c.vec_id AS n_id, row_number() OVER (
       |      PARTITION BY a.a_id ORDER BY
       |        $dotAE / (a.na * c.nrm) DESC, c.vec_id) AS ern
       |    FROM qa a CROSS JOIN v c) s
       |  WHERE ern <= $GsDegree)
       |SELECT b.q_id AS a_id, b.node, b.cosine,
       |  CAST(b.rn AS BIGINT) AS rn, e.n_id IS NOT NULL AS in_exact
       |FROM (
       |  SELECT q_id, node, cosine, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cosine DESC, node) AS rn
       |  FROM b$GsHops) b
       |LEFT JOIN exact e ON e.a_id = b.q_id AND e.n_id = b.node
       |WHERE b.rn <= $GsDegree""".stripMargin
  }

  /** Shared graph-ANN index CTEs ([[searchGraph]]'s SQL mirror): the
    * fit/assign chain, exact-dup canonical set, within-cell k-NN edge
    * list, query set, and per-cell entry points — reused by every
    * graph-navigating oracle (`sim_graph_search`, `sim_graph_pq_search`).
    */
  private[operators] def graphCtesSql: String = {
    val dotAB = Similarity.duckDotExpr("a.embedding", "b.embedding")
    val dotSelf = Similarity.duckDotExpr("embedding", "embedding")
    s"""${KMeans.fitAssignCtes},
       |vall AS MATERIALIZED (
       |  SELECT vec_id, k, embedding, sqrt($dotSelf) AS nrm,
       |    min(vec_id) OVER (PARTITION BY embedding) AS c_id
       |  FROM a_final),
       |alias AS (SELECT c_id, vec_id FROM vall),
       |v AS MATERIALIZED (
       |  SELECT vec_id, k, embedding, nrm
       |  FROM vall WHERE vec_id = c_id),
       |knn0 AS MATERIALIZED (
       |  SELECT vec_id, nbr_id FROM (
       |    SELECT a.vec_id, b.vec_id AS nbr_id, row_number() OVER (
       |      PARTITION BY a.vec_id
       |      ORDER BY $dotAB / (a.nrm * b.nrm) DESC, b.vec_id) AS rn
       |    FROM v a JOIN v b ON a.k = b.k AND a.vec_id <> b.vec_id) s
       |  WHERE rn <= $GsDegree),
       |knn AS MATERIALIZED (
       |  SELECT DISTINCT vec_id, nbr_id FROM (
       |    SELECT vec_id, nbr_id FROM knn0
       |    UNION ALL SELECT nbr_id AS vec_id, vec_id AS nbr_id FROM knn0) u),
       |q AS (
       |  SELECT vec_id AS q_id, embedding AS eq, nrm AS nq
       |  FROM vall WHERE vec_id < 10),
       |ent AS (
       |  SELECT vec_id AS node, k AS kc, embedding AS en, nrm AS nn FROM (
       |    SELECT vec_id, k, embedding, nrm, row_number() OVER (
       |      PARTITION BY k ORDER BY vec_id) AS ern FROM v) e
       |  WHERE ern <= 2)""".stripMargin
  }

  /** Oracle: ONE fit/assign chain feeding the exact-dup canonical set
    * (min vec_id per distinct embedding), the within-cell k-NN edge
    * CTEs over the canonical nodes, the per-cell entry points, the hop
    * CTEs (expand → score → prune, all MATERIALIZED), the alias
    * re-expansion, and the brute-force truth flag — the identical
    * total orders throughout.
    */
  /** The exact-cosine hop CTEs at a given quota, name-suffixed so the
    * beam-sweep oracle can chain several quotas in one statement.
    */
  private def hopCtesSql(quota: Int, sfx: String): String = {
    val dotQV = Similarity.duckDotExpr("q.eq", "v.embedding")
    val dotQE = Similarity.duckDotExpr("q.eq", "e.en")
    val b0 =
      s"""b${sfx}0 AS MATERIALIZED (
         |  SELECT q.q_id, e.node, e.kc, $dotQE / (q.nq * e.nn) AS cosine
         |  FROM q CROSS JOIN ent e)""".stripMargin
    val hops = (1 to GsHops).map { h =>
      s"""cand$sfx$h AS MATERIALIZED (
         |  SELECT DISTINCT b.q_id, k.nbr_id AS node
         |  FROM b$sfx${h - 1} b JOIN knn k ON k.vec_id = b.node),
         |sc$sfx$h AS MATERIALIZED (
         |  SELECT c.q_id, c.node, v.k AS kc,
         |    $dotQV / (q.nq * v.nrm) AS cosine
         |  FROM cand$sfx$h c JOIN v v ON v.vec_id = c.node
         |  JOIN q ON q.q_id = c.q_id),
         |b$sfx$h AS MATERIALIZED (
         |  SELECT q_id, node, kc, cosine FROM (
         |    SELECT q_id, node, kc, cosine, row_number() OVER (
         |      PARTITION BY q_id, kc ORDER BY cosine DESC, node) AS rn
         |    FROM (
         |      SELECT q_id, node, kc, max(cosine) AS cosine FROM (
         |        SELECT q_id, node, kc, cosine FROM b$sfx${h - 1}
         |        UNION ALL SELECT q_id, node, kc, cosine FROM sc$sfx$h) u
         |      GROUP BY q_id, node, kc) m) r
         |  WHERE rn <= $quota)""".stripMargin
    }
    (b0 +: hops).mkString(",\n")
  }

  private val truthCteSql: String =
    s"""truth AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.q_id, c.vec_id AS n_id, row_number() OVER (
       |      PARTITION BY q.q_id ORDER BY
       |        ${Similarity.duckDotExpr("q.eq", "c.embedding")}
       |          / (q.nq * c.nrm) DESC, c.vec_id) AS rn
       |    FROM q JOIN vall c ON q.q_id <> c.vec_id) s
       |  WHERE rn <= $GsTopK)""".stripMargin

  /** Oracle for the beam sweep: the shared index CTEs, one hop chain
    * per quota, and per-quota hit counts against the shared truth.
    */
  def graphRecallCurveSql: String = {
    val chains = GrBeams.map(b => hopCtesSql(b, s"x${b}_")).mkString(",\n")
    val results = GrBeams.map { b =>
      s"""res$b AS (
         |  SELECT CAST($b AS BIGINT) AS cell_beam,
         |    CAST(count(t.n_id) AS BIGINT) AS hits
         |  FROM (
         |    SELECT q_id, nid FROM (
         |      SELECT q_id, nid, row_number() OVER (
         |        PARTITION BY q_id ORDER BY cosine DESC, nid) AS rn
         |      FROM (
         |        SELECT bb.q_id, al.vec_id AS nid, bb.cosine
         |        FROM bx${b}_$GsHops bb JOIN alias al ON al.c_id = bb.node
         |        WHERE al.vec_id <> bb.q_id) x) r
         |    WHERE rn <= $GsTopK) top
         |  LEFT JOIN truth t ON t.q_id = top.q_id AND t.n_id = top.nid)"""
        .stripMargin
    }.mkString(",\n")
    s"""$graphCtesSql,
       |$chains,
       |$truthCteSql,
       |$results,
       |tn AS (SELECT CAST(count(*) AS BIGINT) AS truth_n FROM truth)
       |SELECT cell_beam, hits, tn.truth_n,
       |  CAST(hits AS DOUBLE) / tn.truth_n AS recall
       |FROM (${GrBeams.map(b => s"SELECT * FROM res$b")
          .mkString(" UNION ALL ")}) u
       |CROSS JOIN tn""".stripMargin
  }

  def graphSearchSql: String = {
    s"""$graphCtesSql,
       |${hopCtesSql(GsCellBeam, "")},
       |truth AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.q_id, c.vec_id AS n_id, row_number() OVER (
       |      PARTITION BY q.q_id ORDER BY
       |        ${Similarity.duckDotExpr("q.eq", "c.embedding")}
       |          / (q.nq * c.nrm) DESC, c.vec_id) AS rn
       |    FROM q JOIN vall c ON q.q_id <> c.vec_id) s
       |  WHERE rn <= $GsTopK)
       |SELECT b.q_id, b.node AS n_id, b.cosine,
       |  CAST(b.rn AS BIGINT) AS rn, t.n_id IS NOT NULL AS in_truth
       |FROM (
       |  SELECT q_id, node, cosine, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cosine DESC, node) AS rn
       |  FROM (
       |    SELECT bb.q_id, al.vec_id AS node, bb.cosine
       |    FROM b$GsHops bb JOIN alias al ON al.c_id = bb.node
       |    WHERE al.vec_id <> bb.q_id) x) b
       |LEFT JOIN truth t ON t.q_id = b.q_id AND t.n_id = b.node
       |WHERE b.rn <= $GsTopK""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_semdedup" -> (semDedup _),
    "sim_knn_graph" -> (knnGraph _),
    "sim_ood_knn" -> (oodKnn _),
    "sim_graph_search" -> (graphSearch _),
    "sim_graph_recall_curve" -> (graphRecallCurve _),
    "sim_graph_insert" -> (graphInsert _))

  def oracles: Map[String, String] = Map(
    "sim_semdedup" -> semDedupSql,
    "sim_knn_graph" -> knnGraphSql,
    "sim_ood_knn" -> oodKnnSql,
    "sim_graph_search" -> graphSearchSql,
    "sim_graph_recall_curve" -> graphRecallCurveSql,
    "sim_graph_insert" -> graphInsertSql)
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Iterate, Tables}

/** Link-analysis operators over graphs DERIVED from the corpus — the
  * quality-weighting signal family a web-scale training-data pipeline
  * computes over its domain/link graph (PageRank-style centrality is a
  * standard crawl-quality prior). The test corpus has no explicit link
  * table, so the graph here is the token-transition digraph (an edge
  * u→v with weight = how often token v follows token u anywhere in the
  * corpus); the operator itself is graph-generic: any (src, dst, cnt)
  * edge list plugs in.
  *
  * Scale design (Pregel-on-DataFrames):
  *   - The edge list is built once, aggregated (one shuffle), and
  *     checkpointed; per-iteration work is one hash join (ranks ⋈ edges
  *     on src) + one partial-aggregating shuffle on dst. Rank state is
  *     O(nodes), never collected to the driver.
  *   - Contributions are summed as DECIMAL(18,9) after a 9-dp re-round:
  *     decimal addition is associative, so the result is independent of
  *     partition order AND engine — that is what makes an ITERATIVE
  *     double-arithmetic pipeline exactly oracle-checkable (the same
  *     trick as the centroid means; a raw double sum would drift by
  *     ulps per iteration and diverge by round 10).
  *   - Every loop runs through [[graft.Iterate]]: each call site names
  *     its lineage cadence (pin every k rounds, or lazily up to round
  *     k), and a round's pins are freed once a later round has pinned.
  *   - Fixed iteration count (10): deterministic cost, no convergence
  *     action on the critical path; production runs pick iterations by
  *     graph diameter, not residual polling.
  */
object Graph {

  val Iters = 10
  /** Lineage-truncation cadence for the damped recurrence's lazy chain. */
  val CkptEvery = 5

  /** Token-transition edge list: (src, dst, cnt). One explode + one
    * aggregation; at 100 TB the explode is narrow (no shuffle) and the
    * aggregate map-side combines to O(vocab²) keys max.
    */
  def tokenEdges(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .selectExpr(s"${TextOps.tokensExpr} AS toks")
      .where("size(toks) >= 2")
      .selectExpr(
        """explode(transform(sequence(1, size(toks) - 1),
          |  i -> struct(toks[i-1] AS src, toks[i] AS dst))) AS e""".stripMargin)
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
  }

  /** DuckDB restatement of [[tokenEdges]]: the `toks` CTE, then the
    * edge CTE `name` with one row per distinct (src, dst), carrying its
    * count `cnt` when `counted`, MATERIALIZED when `materialized`.
    */
  private def tokenEdgeCtes(name: String, counted: Boolean = true,
      materialized: Boolean = false): String = {
    val cnt = if (counted) ", CAST(count(*) AS BIGINT) AS cnt" else ""
    val hint = if (materialized) " MATERIALIZED" else ""
    s"""toks AS (
       |  SELECT ${TextOps.duckTokensExpr} AS t FROM documents),
       |$name AS$hint (
       |  SELECT src, dst$cnt FROM (
       |    SELECT
       |      unnest(list_transform(range(1, len(t)), i -> t[i])) AS src,
       |      unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS dst
       |    FROM toks WHERE len(t) >= 2)
       |  GROUP BY src, dst)""".stripMargin
  }

  /** Canonical undirected edges (u < v, self-loops dropped) of any
    * (src, dst, …) edge list.
    */
  private def undirected(rawEdges: DataFrame): DataFrame =
    rawEdges.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()

  /** The pinned node set (node) of a (src, dst, …) edge list. */
  private def nodesOf(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node"))
      .union(edges.select(col("dst"))).distinct().localCheckpoint()

  /** (node, deg) over an undirected (u, v) edge set. */
  private def degrees(und: DataFrame): DataFrame =
    und.select(col("u").as("node")).union(und.select(col("v")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

  /** DuckDB restatement of [[undirected]] over the token graph: the
    * token-edge CTEs, `und`, and `deg` (its node degrees).
    */
  private val undCtes: String =
    s"""${tokenEdgeCtes("tedges", counted = false)},
       |und AS (
       |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM tedges WHERE src <> dst),
       |deg AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT u AS node FROM und UNION ALL SELECT v FROM und)
       |  GROUP BY node)""".stripMargin

  /** floor(x·1e9 + 0.5) / 1e9: the 9-dp re-round both engines compute
    * as one IEEE sequence (native round(x, 9) is not one: Spark rounds
    * the decimal string half up, DuckDB rounds x·1e9 in floating point,
    * so the two part at half-way points).
    */
  private def round9(x: Column): Column = floor(x * 1e9 + 0.5) / 1e9

  /** Weighted PageRank over the token-transition graph, 10 fixed
    * iterations, damping 0.85, "leaky" dangling handling (nodes with no
    * out-edges leak their mass — both engines implement the identical
    * recurrence, which is the checked contract):
    *
    *   r₀(v)    = 1/n
    *   rₜ₊₁(v) = ⌊(0.15/n + 0.85 · Σ_{u→v} cₜ(u,v)) · 1e9 + 0.5⌋ / 1e9
    *   cₜ(u,v)  = ⌊rₜ(u) · w_uv · 1e9 + 0.5⌋ / 1e9   (summed as DECIMAL)
    *   w_uv     = cnt(u,v) / out_cnt(u)   (double division)
    */
  def pagerank(s: SparkSession, dir: String): DataFrame =
    pagerankOnEdges(tokenEdges(s, dir))

  /** Graph-generic core: any (src, dst, cnt) edge list plugs in (the
    * scale-growth spec drives it with synthetic graphs at 1× and 10×).
    */
  def pagerankOnEdges(rawEdges: DataFrame, iters: Int = Iters): DataFrame = {
    val d = new Damped(rawEdges)
    val n = d.nodes.count()
    d.ranks(lit(1.0 / n), lit(0.15 / n), iters)
  }

  /** The damped recurrence [[pagerankOnEdges]] and [[pprOnEdges]] share:
    * the edge list, out-mass, normalized weights and node set, pinned
    * once; per iteration one hash join (ranks ⋈ weights on src) and one
    * partial-aggregating shuffle on dst, rank state O(nodes).
    */
  private final class Damped(rawEdges: DataFrame) {
    private val s = rawEdges.sparkSession
    import s.implicits._
    private val edges = rawEdges.localCheckpoint()
    val outW: DataFrame = edges.groupBy($"src").agg(sum($"cnt").as("oc"))
    private val weighted = edges.join(outW, "src")
      .select($"src", $"dst",
        ($"cnt".cast("double") / $"oc".cast("double")).as("w"))
      .localCheckpoint()
    val nodes: DataFrame = nodesOf(edges)

    /** (node, rank) after `iters` rounds from r₀ = `init`, with teleport
      * term `teleport` (both columns over `node`). The iteration count is
      * fixed (no convergence action), so the chain stays LAZY — one plan,
      * one job at materialization, vs 10 sequential tiny jobs for a pin
      * per round (measured ~3 s at sf0.1, mostly scheduling); the inputs
      * are pinned above, and a pin every [[CkptEvery]] rounds, never on
      * the last, bounds analysis depth on larger iteration budgets.
      */
    def ranks(init: Column, teleport: Column, iters: Int): DataFrame =
      Iterate.fold(nodes.select($"node", init.as("rank")), 1 to iters,
          every = CkptEvery, pinLast = false) { (ranks, r) =>
        val contribs = weighted.join(ranks, $"src" === $"node")
          .select($"dst", round9($"rank" * $"w").cast("decimal(18,9)").as("c"))
          .groupBy($"dst").agg(sum($"c").as("csum"))
        r.pin(nodes.join(contribs, $"node" === $"dst", "left_outer")
          .select($"node", round9(teleport +
            lit(0.85) * coalesce($"csum".cast("double"), lit(0.0))).as("rank")))
      }
  }

  /** DuckDB restatement of [[Damped.ranks]] over any `edges` (src, dst,
    * cnt) CTE chain: the iterations unrolled as chained CTEs r0..r10
    * (recursive CTEs disallow aggregates in the recursive term, and
    * unrolling keeps the recurrence literally identical). `init` and
    * `teleport` are the r₀ rank and the teleport term over `node`; they
    * may read `nn` (the node count) and `sd` (the highest-out-mass
    * seed). `finalize` is the terminal SELECT over `r$Iters` — a
    * parameter (not post-hoc string surgery) so derived oracles like
    * [[textrankSql]] can't silently lose their projection when this
    * template changes.
    */
  private def dampedSql(edgesCtes: String, init: String, teleport: String,
      finalize: String): String = {
    val base =
      s"""WITH $edgesCtes,
         |outw AS (SELECT src, sum(cnt) AS oc FROM edges GROUP BY src),
         |w AS (
         |  SELECT e.src, e.dst, CAST(e.cnt AS DOUBLE) / CAST(o.oc AS DOUBLE) AS w
         |  FROM edges e JOIN outw o ON e.src = o.src),
         |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |sd AS (SELECT src FROM outw ORDER BY oc DESC, src LIMIT 1),
         |r0 AS (SELECT node, $init AS rank FROM nodes)""".stripMargin
    val iters = (1 to Iters).map { i =>
      s"""r$i AS (
         |  SELECT node,
         |    floor(($teleport + CAST(0.85 AS DOUBLE)
         |      * coalesce(CAST(s.csum AS DOUBLE), CAST(0 AS DOUBLE))) * 1e9 + 0.5)
         |      / 1e9 AS rank
         |  FROM nodes nd LEFT JOIN (
         |    SELECT w.dst,
         |      sum(CAST(floor(r.rank * w.w * 1e9 + 0.5) / 1e9 AS DECIMAL(18,9))) AS csum
         |    FROM w JOIN r${i - 1} r ON w.src = r.node GROUP BY w.dst) s
         |    ON nd.node = s.dst)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$iters\n$finalize"
  }

  /** [[dampedSql]] with pagerank's uniform r₀ and teleport. */
  private def pagerankSqlOver(edgesCtes: String, finalize: String): String =
    dampedSql(edgesCtes, "CAST(1 AS DOUBLE) / (SELECT n FROM nn)",
      "CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)", finalize)

  val pagerankSql: String =
    pagerankSqlOver(tokenEdgeCtes("edges"), s"SELECT node, rank FROM r$Iters")

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank on
    * the UNDIRECTED token co-occurrence graph (adjacent-token window,
    * symmetrized by summing both directions), top 20 words by rank —
    * the unsupervised corpus-keyword readout that needs no training
    * data, as pure composition over [[pagerankOnEdges]]. Ordering is
    * total (rank DESC, then word) so the truncation is engine-stable;
    * ranks are the 9-dp decimal-summed values the pagerank contract
    * already makes engine-exact.
    *
    * Scale: the symmetrize is a union + re-aggregate of the O(vocab²)
    * edge list (map-side combinable, no extra corpus scan); everything
    * else is the pagerank plan.
    */
  def textrank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = tokenEdges(s, dir)
    val sym = e.select($"src", $"dst", $"cnt")
      .union(e.select($"dst".as("src"), $"src".as("dst"), $"cnt"))
      .groupBy($"src", $"dst").agg(sum($"cnt").as("cnt"))
    pagerankOnEdges(sym)
      .orderBy(desc("rank"), $"node")
      .limit(20)
      .select($"node".as("word"), $"rank".as("textrank"))
  }

  val textrankSql: String = {
    // the iteration CTEs consume `edges`; here that must be the
    // symmetrized list, so the directed build is named edges0
    val symCtes =
      s"""${tokenEdgeCtes("edges0")},
         |edges AS (
         |  SELECT src, dst, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
         |    SELECT src, dst, cnt FROM edges0
         |    UNION ALL
         |    SELECT dst AS src, src AS dst, cnt FROM edges0)
         |  GROUP BY src, dst)""".stripMargin
    pagerankSqlOver(symCtes,
      s"SELECT node AS word, rank AS textrank FROM r$Iters " +
        "ORDER BY rank DESC, node LIMIT 20")
  }

  /** HITS hubs & authorities — the second classic link-analysis
    * recurrence (PageRank above scores global centrality; HITS scores
    * the DUAL roles: a good hub points at good authorities, a good
    * authority is pointed at by good hubs — the directory-vs-content
    * distinction on a web/citation graph):
    *
    *   aₜ(v) = Σ_{u→v} hₜ₋₁(u)   then L1-normalize, round 9
    *   hₜ(v) = Σ_{v→w} aₜ(w)     then L1-normalize, round 9
    *
    * (Classic HITS normalizes L2; the L1 contract keeps every total an
    * associative DECIMAL sum, which is what lets five chained
    * iterations stay bit-equal to the unrolled oracle — same rationale
    * as the pagerank decimal trick. Rankings are unaffected by the
    * norm choice.) Per iteration: two join+partial-agg shuffles on the
    * edge keys, rank state O(nodes) — the Pregel-on-DataFrames shape,
    * run by [[graft.Iterate]] with both normalizations pinned every
    * round and the previous round's pins freed.
    */
  val HitsIters = 5

  def hits(s: SparkSession, dir: String): DataFrame =
    hitsOnEdges(tokenEdges(s, dir))

  def hitsOnEdges(rawEdges: DataFrame, iters: Int = HitsIters): DataFrame = {
    val s = rawEdges.sparkSession
    import s.implicits._
    val edges = rawEdges.select($"src", $"dst").distinct().localCheckpoint()
    val nodes = nodesOf(edges)
    val n = nodes.count()
    def l1Normalized(df: DataFrame, c: String): DataFrame = {
      val tot = df.agg(
        sum(round(col(c), 9).cast("decimal(18,9)")).as("tot"))
      df.crossJoin(broadcast(tot))
        .withColumn(c,
          round(col(c) / col("tot").cast("double"), 9))
        .drop("tot")
    }
    // Both normalizations pin on every round — deliberately NOT the lazy
    // pagerank chain: authN is consumed TWICE per iteration (the output
    // join and the hub recurrence), so an unmaterialized chain
    // re-evaluates the doubled subtree per level — measured 9.6 s lazy
    // vs 4.2 s checkpointed at sf0.1 (pagerank's rank frame is consumed
    // once per level, which is why lazy wins there).
    Iterate.fold(nodes.select($"node", lit(1.0 / n).as("hub"), lit(1.0 / n).as("auth")),
        1 to iters) { (scores, r) =>
      val auth = nodes.join(
        edges.join(scores.select($"node", $"hub"), $"src" === $"node")
          .select($"dst", round($"hub", 9).cast("decimal(18,9)").as("c"))
          .groupBy($"dst").agg(sum($"c").as("araw")),
        $"node" === $"dst", "left_outer")
        .select($"node",
          coalesce($"araw".cast("double"), lit(0.0)).as("auth"))
      val authN = r.pin(l1Normalized(auth, "auth"))
      val hub = nodes.join(
        edges.join(authN.select($"node".as("an"), $"auth"), $"dst" === $"an")
          .select($"src", round($"auth", 9).cast("decimal(18,9)").as("c"))
          .groupBy($"src").agg(sum($"c").as("hraw")),
        $"node" === $"src", "left_outer")
        .select($"node",
          coalesce($"hraw".cast("double"), lit(0.0)).as("hub"))
      val hubN = r.pin(l1Normalized(hub, "hub"))
      hubN.join(authN.withColumnRenamed("node", "n2"), $"node" === $"n2")
        .select($"node", $"hub", $"auth")
    }
  }

  /** DuckDB restatement: iterations unrolled, each normalization the
    * same decimal-sum → double division → round 9.
    */
  val hitsSql: String = {
    val base =
      s"""WITH ${tokenEdgeCtes("edges", counted = false, materialized = true)},
         |nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
         |s0 AS (
         |  SELECT node, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS hub,
         |    CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS auth
         |  FROM nodes)""".stripMargin
    val iters = (1 to HitsIters).map { i =>
      val p = i - 1
      s"""ar$i AS MATERIALIZED (
         |  SELECT nd.node,
         |    coalesce(CAST(x.araw AS DOUBLE), CAST(0 AS DOUBLE)) AS auth
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst, sum(CAST(round(s.hub, 9) AS DECIMAL(18,9))) AS araw
         |    FROM edges e JOIN s$p s ON e.src = s.node GROUP BY e.dst) x
         |    ON nd.node = x.dst),
         |at$i AS (
         |  SELECT CAST(sum(CAST(round(auth, 9) AS DECIMAL(18,9))) AS DOUBLE)
         |    AS tot FROM ar$i),
         |an$i AS MATERIALIZED (
         |  SELECT node, round(auth / (SELECT tot FROM at$i), 9) AS auth
         |  FROM ar$i),
         |hr$i AS MATERIALIZED (
         |  SELECT nd.node,
         |    coalesce(CAST(x.hraw AS DOUBLE), CAST(0 AS DOUBLE)) AS hub
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.src, sum(CAST(round(a.auth, 9) AS DECIMAL(18,9))) AS hraw
         |    FROM edges e JOIN an$i a ON e.dst = a.node GROUP BY e.src) x
         |    ON nd.node = x.src),
         |ht$i AS (
         |  SELECT CAST(sum(CAST(round(hub, 9) AS DECIMAL(18,9))) AS DOUBLE)
         |    AS tot FROM hr$i),
         |s$i AS MATERIALIZED (
         |  SELECT h.node, round(h.hub / (SELECT tot FROM ht$i), 9) AS hub,
         |    a.auth
         |  FROM hr$i h JOIN an$i a ON a.node = h.node)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$iters\nSELECT node, hub, auth FROM s$HitsIters"
  }

  /** Triangle census + global clustering coefficient over the
    * (undirected) token-transition graph — the standard graph-quality
    * summary (community density / spam-farm signal on a link graph).
    *
    * Algorithm: DEGREE-ORDERED wedge counting, the MapReduce-era
    * standard for skewed graphs (Suri & Vassilvitskii's "Counting
    * triangles and the curse of the last reducer"). Each undirected
    * edge is oriented from its (degree, node)-smaller endpoint to the
    * larger; wedges are built only on OUT-neighbor pairs, so a
    * celebrity node of degree d contributes wedges at its LOW-degree
    * neighbors, never d² at itself — out-degree under this orientation
    * is O(√m), which is what keeps the wedge join bounded on a
    * power-law degree distribution at 100 TB. Each triangle is counted
    * exactly once (its order-smallest vertex owns the wedge).
    *
    * Plan shape: one distinct (canonical-edge shuffle), one degree
    * aggregate, the wedge self-join on src (one exchange, reused by
    * both sides), one (b,c)-keyed close join, then three 1-row
    * aggregates combined by the approved 1-row broadcast pattern.
    */
  def triangles(s: SparkSession, dir: String): DataFrame =
    trianglesOnEdges(tokenEdges(s, dir))

  /** Graph-generic core: any (src, dst, *) edge list plugs in. */
  def trianglesOnEdges(rawEdges: DataFrame): DataFrame = {
    val s = rawEdges.sparkSession
    import s.implicits._
    val und = undirected(rawEdges)
      .localCheckpoint() // reused by degrees, orientation, and the close
    val deg = degrees(und)
    val oriented = orient(und, deg)
    val wedges = oriented.select($"src", $"dst".as("b"), $"dk".as("bk"))
      .join(oriented.select($"src", $"dst".as("c"), $"dk".as("ck")), "src")
      .where($"bk" < $"ck")
      .select($"b", $"c")
    val tri = wedges
      .join(oriented.select($"src".as("b"), $"dst".as("c")), Seq("b", "c"))
      .agg(count(lit(1)).as("n_triangles"))
    val degStats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    und.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(degStats))
      .crossJoin(broadcast(tri))
      .select($"n_nodes", $"n_edges", $"n_wedges", $"n_triangles",
        round(lit(3.0) * $"n_triangles" / $"n_wedges", 6).as("global_cc"))
  }

  /** `und` oriented from its (degree, node)-smaller endpoint to the
    * larger, as (src, dst, dk) with dk = (deg, name) of dst, pinned: both
    * wedge sides and the close probe read it.
    */
  private def orient(und: DataFrame, deg: DataFrame): DataFrame = {
    val s = und.sparkSession
    import s.implicits._
    val withDeg = und
      .join(deg.select($"node".as("u"), $"deg".as("du")), "u")
      .join(deg.select($"node".as("v"), $"deg".as("dv")), "v")
    // total order on vertices: (degree, name) — ties broken by name so
    // the orientation is a strict order and every edge orients uniquely
    val uFirst = struct($"du", $"u") < struct($"dv", $"v")
    withDeg.select(
      when(uFirst, $"u").otherwise($"v").as("src"),
      when(uFirst, $"v").otherwise($"u").as("dst"),
      when(uFirst, struct($"dv".as("d"), $"v".as("n")))
        .otherwise(struct($"du".as("d"), $"u".as("n"))).as("dk"))
      .localCheckpoint()
  }

  /** DuckDB restatement: the simpler name-ordered u<v<w join counts the
    * same triangles (orientation scheme changes the join sizes, never
    * the census), which is exactly why it is safe as the oracle.
    */
  val trianglesSql: String =
    s"""WITH $undCtes,
       |tri AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
       |  FROM und e1
       |  JOIN und e2 ON e2.u = e1.u AND e1.v < e2.v
       |  JOIN und e3 ON e3.u = e1.v AND e3.v = e2.v),
       |ds AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
       |  FROM deg),
       |es AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und)
       |SELECT n_nodes, n_edges, n_wedges, n_triangles,
       |  round(CAST(3 AS DOUBLE) * n_triangles / n_wedges, 6) AS global_cc
       |FROM es CROSS JOIN ds CROSS JOIN tri""".stripMargin

  /** Neighbor-overlap similarity (co-occurrence / co-citation Jaccard)
    * — the "related items" measure over any graph: two nodes are
    * similar when their neighborhoods overlap. Exact all-pairs overlap
    * is the d²-per-node wedge enumeration, so the operator's declared
    * contract caps the WITNESS role: only nodes of degree ≤ maxDeg
    * generate neighbor pairs. That is the graph analog of stopword
    * removal — an ultra-hub connected to everything witnesses nothing
    * about relatedness while costing d² — and it is what bounds the
    * wedge join at any scale (work per witness ≤ maxDeg²). Degrees in
    * the Jaccard denominator stay UNcapped, so scores are conservative
    * (never inflated) under the cap; the oracle restates the identical
    * capped semantics.
    */
  def neighborSimilarity(s: SparkSession, dir: String): DataFrame =
    neighborSimilarityOnEdges(tokenEdges(s, dir))

  val MaxWitnessDeg = 1024

  def neighborSimilarityOnEdges(rawEdges: DataFrame,
      maxDeg: Int = MaxWitnessDeg): DataFrame = {
    val s = rawEdges.sparkSession
    import s.implicits._
    val und = undirected(rawEdges).localCheckpoint()
    val deg = degrees(und)
    // adjacency rows (witness, neighbor), witness capped
    val adj = und.select($"u".as("w"), $"v".as("n"))
      .union(und.select($"v".as("w"), $"u".as("n")))
      .join(deg.select($"node".as("w"), $"deg".as("wdeg")), "w")
      .where($"wdeg" <= maxDeg)
      .select($"w", $"n")
    val commons = adj.select($"w", $"n".as("a"))
      .join(adj.select($"w", $"n".as("b")), "w")
      .where($"a" < $"b")
      .groupBy($"a", $"b").agg(count(lit(1)).as("common"))
    commons
      .join(deg.select($"node".as("a"), $"deg".as("da")), "a")
      .join(deg.select($"node".as("b"), $"deg".as("db")), "b")
      .where($"common" >= 2)
      .select($"a", $"b", $"common",
        round($"common".cast("double") / ($"da" + $"db" - $"common"), 6)
          .as("jaccard"))
      .orderBy($"jaccard".desc, $"a", $"b")
      .limit(30)
  }

  val neighborSimilaritySql: String =
    s"""WITH $undCtes,
       |adj AS (
       |  SELECT x.w, x.n FROM (
       |    SELECT u AS w, v AS n FROM und
       |    UNION ALL SELECT v, u FROM und) x
       |  JOIN deg d ON d.node = x.w WHERE d.deg <= $MaxWitnessDeg),
       |commons AS (
       |  SELECT l.n AS a, r.n AS b, CAST(count(*) AS BIGINT) AS common
       |  FROM adj l JOIN adj r ON l.w = r.w AND l.n < r.n
       |  GROUP BY 1, 2)
       |SELECT c.a, c.b, c.common,
       |  round(CAST(c.common AS DOUBLE) / (da.deg + db.deg - c.common), 6)
       |    AS jaccard
       |FROM commons c
       |JOIN deg da ON da.node = c.a
       |JOIN deg db ON db.node = c.b
       |WHERE c.common >= 2
       |ORDER BY jaccard DESC, a, b
       |LIMIT 30""".stripMargin

  /** Bounded-hop BFS shortest paths — the reachability/distance
    * primitive (supply-chain blast radius, account-linking rings,
    * contamination spread). The graph is the customer↔supplier trade
    * bipartite graph thinned to high-quantity lineitems: unlike the
    * 31-token transition graph (diameter ~2 — every node a hub
    * neighbor), this one has measured eccentricity ≥ 6 at both driver
    * SFs, so every iteration actually moves the frontier.
    *
    * Frontier-only expansion: level h joins ONLY rows at dist h-1
    * against the edge list (keyed on src), then folds into the visited
    * set with a min-aggregate — the Pregel BFS shape. Each level's
    * frame is doubly consumed (filter-join + union), so [[graft.Iterate]]
    * pins every level like HITS (the lazy chain would re-evaluate the
    * doubled subtree per level) and frees the level it replaces. Per-level cost is one
    * |frontier|-row join + one |visited| min-agg; at 100 TB the edge
    * list partitioning on src is reused across all levels.
    *
    * Oracle: DuckDB recursive CTE (UNION-dedup'd (node, d) walk,
    * d < maxHops) with min(d) per node — an independent formulation of
    * the same bounded-hop distances.
    */
  val BfsHops = 6
  val BfsMinQty = 48

  def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val trade = Tables.lineitem(s, dir)
      .where($"l_quantity" >= BfsMinQty)
      .select($"l_orderkey", $"l_suppkey")
      .join(Tables.orders(s, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .select(concat(lit("C"), $"o_custkey".cast("string")).as("c"),
        concat(lit("S"), $"l_suppkey".cast("string")).as("s"))
      .distinct()
    trade.select($"c".as("src"), $"s".as("dst"))
      .union(trade.select($"s", $"c")).distinct()
  }

  def bfs(s: SparkSession, dir: String): DataFrame =
    bfsOnEdges(tradeEdges(s, dir), BfsHops)

  /** Graph-generic core: any (src, dst) edge list plugs in; seed is the
    * lexicographic min source node (deterministic on both engines).
    */
  def bfsOnEdges(rawEdges: DataFrame, maxHops: Int = BfsHops): DataFrame = {
    val s = rawEdges.sparkSession
    import s.implicits._
    val edges = rawEdges.select($"src", $"dst").localCheckpoint()
    val seed = edges.agg(min($"src").as("node"))
    val init = seed.select($"node", lit(0L).as("dist")).localCheckpoint()
    Iterate.fold(init, 1 to maxHops) { (dist, r) =>
      val next = dist.where($"dist" === (r.i - 1))
        .join(edges, $"node" === $"src")
        .select($"dst".as("node"), lit(r.i.toLong).as("dist"))
      r.pin(dist.union(next).groupBy($"node").agg(min($"dist").as("dist")))
    }.select($"node", $"dist")
  }

  /** DuckDB restatement of [[tradeEdges]]: `trade` and its symmetric
    * edge list `e`.
    */
  private val tradeCtes: String =
    s"""trade AS (
       |  SELECT DISTINCT 'C' || o_custkey AS c, 'S' || l_suppkey AS s
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE l_quantity >= $BfsMinQty),
       |e AS (
       |  SELECT c AS src, s AS dst FROM trade
       |  UNION
       |  SELECT s, c FROM trade)""".stripMargin

  val bfsSql: String =
    s"""WITH RECURSIVE $tradeCtes,
       |seed AS (SELECT min(src) AS node FROM e),
       |w AS (
       |  SELECT node, 0 AS d FROM seed
       |  UNION
       |  SELECT e.dst AS node, w.d + 1 AS d
       |  FROM w JOIN e ON e.src = w.node WHERE w.d < $BfsHops)
       |SELECT node, CAST(min(d) AS BIGINT) AS dist
       |FROM w GROUP BY node""".stripMargin

  /** k-core decomposition (fixed k): iteratively peel nodes whose
    * degree among SURVIVORS drops below k until fixpoint — the standard
    * corpus/graph-cleaning primitive (spam rings and isolated tendrils
    * fall out; the dense interaction core remains). Peeling cascades:
    * removing a node can drop a neighbor below k, so the loop re-derives
    * degrees among survivors each round — one edges⋈survivors⋈survivors
    * hash join + one count aggregate per round, the edge list
    * partitioned once on src and reused every round (the BFS idiom).
    * [[graft.Iterate]] pins every round because each round's survivor
    * frame is consumed twice (both join sides — the HITS
    * doubly-consumed rationale), and frees the round it replaces.
    * `KcoreRounds` = 8 is a fixpoint bound for this graph, not a
    * truncation: both driver SFs reach fixpoint in ≤ 3 rounds
    * (KcoreSpec asserts the last round removes nothing and every member
    * keeps ≥ k in-core neighbors), and extra rounds are idempotent, so
    * the 8-round unrolled oracle (rounds MATERIALIZED: each reads the
    * previous one twice, which DuckDB would otherwise inline 2⁸-fold)
    * computes the same core. At 100 TB the peel is O(rounds) shuffles on a shrinking
    * node set — the shape that matters is that no round ever touches
    * more than the surviving edges.
    *
    * Output: core members with their in-core degree.
    */
  val KcoreK = 3
  val KcoreRounds = 8

  def kcore(s: SparkSession, dir: String): DataFrame =
    kcoreOnEdges(tradeEdges(s, dir), KcoreK, KcoreRounds)

  /** Graph-generic core: any symmetrized (src, dst) edge list plugs in. */
  def kcoreOnEdges(rawEdges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val s = rawEdges.sparkSession
    import s.implicits._
    val edges = rawEdges.select($"src", $"dst").distinct().localCheckpoint()
    // (src, deg): each survivor's degree among the survivors
    def inCore(surv: DataFrame): DataFrame = edges
      .join(surv.select($"node".as("_a")), $"src" === $"_a")
      .join(surv.select($"node".as("_b")), $"dst" === $"_b")
      .groupBy($"src").agg(count(lit(1)).as("deg"))
    val init = edges.select($"src".as("node")).distinct().localCheckpoint()
    val core = Iterate.fold(init, 1 to rounds) { (surv, r) =>
      r.pin(inCore(surv).where($"deg" >= k).select($"src".as("node")))
    }
    inCore(core).select($"src".as("node"), $"deg")
  }

  val kcoreSql: String = {
    val header =
      s"""WITH $tradeCtes,
         |n0 AS (SELECT DISTINCT src AS node FROM e)""".stripMargin
    val stages = (1 to KcoreRounds).map { i =>
      s"""n$i AS MATERIALIZED (
         |  SELECT e.src AS node FROM e
         |  JOIN n${i - 1} a ON e.src = a.node
         |  JOIN n${i - 1} b ON e.dst = b.node
         |  GROUP BY e.src HAVING count(*) >= $KcoreK)""".stripMargin
    }.mkString(",\n")
    s"""$header,
       |$stages
       |SELECT e.src AS node, CAST(count(*) AS BIGINT) AS deg
       |FROM e
       |JOIN n$KcoreRounds a ON e.src = a.node
       |JOIN n$KcoreRounds b ON e.dst = b.node
       |GROUP BY e.src""".stripMargin
  }

  /** Adamic–Adar link prediction — [[neighborSimilarity]]'s weighted
    * sibling: a shared neighbor contributes 1/ln(deg(witness)) instead
    * of 1, so rare witnesses count more (sharing an obscure
    * acquaintance predicts a link; sharing a celebrity predicts
    * nothing). Same capped-witness wedge join bounds the work (per
    * witness ≤ maxDeg² pairs); witnesses of degree 1 generate no pairs,
    * so ln(deg) ≥ ln 2 and the reciprocal never divides by zero. Each
    * witness's contribution is pinned to integer micro-units
    * (floor(1e6/ln(deg) + 0.5) — the identical IEEE sequence in both
    * engines), summed as exact longs; the one double division happens
    * on the 30 output rows. Degrees and the common count ride along
    * uncapped, so the score is conservative under the cap exactly as
    * the Jaccard form is.
    */
  def adamicAdar(s: SparkSession, dir: String): DataFrame =
    adamicAdarOnEdges(tokenEdges(s, dir))

  def adamicAdarOnEdges(rawEdges: DataFrame,
      maxDeg: Int = MaxWitnessDeg): DataFrame = {
    val s = rawEdges.sparkSession
    import s.implicits._
    val und = undirected(rawEdges).localCheckpoint()
    val deg = degrees(und)
    val adj = und.select($"u".as("w"), $"v".as("n"))
      .union(und.select($"v".as("w"), $"u".as("n")))
      .join(deg.select($"node".as("w"), $"deg".as("wdeg")), "w")
      .where($"wdeg" <= maxDeg)
      .selectExpr("w", "n",
        "CAST(floor(1e6 / ln(CAST(wdeg AS DOUBLE)) + 0.5) AS BIGINT) AS wt")
    val pairs = adj.select($"w", $"n".as("a"), $"wt")
      .join(adj.select($"w", $"n".as("b")), "w")
      .where($"a" < $"b")
      .groupBy($"a", $"b")
      .agg(count(lit(1)).as("common"), sum($"wt").as("aa_micro"))
    pairs
      .where($"common" >= 2)
      .selectExpr("a", "b", "common",
        "CAST(aa_micro AS DOUBLE) / 1e6 AS adamic_adar")
      .orderBy($"adamic_adar".desc, $"a", $"b")
      .limit(30)
  }

  val adamicAdarSql: String =
    s"""WITH $undCtes,
       |adj AS (
       |  SELECT x.w, x.n,
       |    CAST(floor(1e6 / ln(CAST(d.deg AS DOUBLE)) + 0.5) AS BIGINT) AS wt
       |  FROM (
       |    SELECT u AS w, v AS n FROM und
       |    UNION ALL SELECT v, u FROM und) x
       |  JOIN deg d ON d.node = x.w WHERE d.deg <= $MaxWitnessDeg)
       |SELECT l.n AS a, r.n AS b, CAST(count(*) AS BIGINT) AS common,
       |  CAST(sum(l.wt) AS DOUBLE) / 1e6 AS adamic_adar
       |FROM adj l JOIN adj r ON l.w = r.w AND l.n < r.n
       |GROUP BY 1, 2
       |HAVING count(*) >= 2
       |ORDER BY adamic_adar DESC, a, b
       |LIMIT 30""".stripMargin

  /** Per-node local clustering coefficient — [[trianglesOnEdges]]'s
    * node-level refinement: lcc(v) = 2·t(v) / (deg(v)·(deg(v)−1)),
    * the "how clique-like is this node's neighborhood" score (ego-net
    * density; the building block of small-world statistics). Same
    * degree-oriented wedge join (work bounded by the SMALLER-degree
    * endpoint, never d² at a hub); each closed triangle then explodes
    * to its three corners — a constant ×3 fanout — and a corner count
    * per node joins back to the uncapped degrees. Integer arithmetic
    * end-to-end except the one floor-pinned division on the 30-row
    * output head (deterministic (lcc desc, node) order).
    */
  def localClustering(s: SparkSession, dir: String): DataFrame =
    localClusteringOnEdges(tokenEdges(s, dir))

  def localClusteringOnEdges(rawEdges: DataFrame): DataFrame = {
    val s = rawEdges.sparkSession
    import s.implicits._
    val und = undirected(rawEdges).localCheckpoint()
    val deg = degrees(und)
    val oriented = orient(und, deg)
    val wedges = oriented.select($"src", $"dst".as("b"), $"dk".as("bk"))
      .join(oriented.select($"src", $"dst".as("c"), $"dk".as("ck")), "src")
      .where($"bk" < $"ck")
      .select($"src".as("a"), $"b", $"c")
    val corners = wedges
      .join(oriented.select($"src".as("b"), $"dst".as("c")), Seq("b", "c"))
      .selectExpr("explode(array(a, b, c)) AS node")
      .groupBy($"node").agg(count(lit(1)).as("n_tri"))
    deg.join(corners, Seq("node"), "left")
      .where($"deg" >= 2)
      .selectExpr("node", "deg", "coalesce(n_tri, 0) AS n_tri",
        """floor(CAST(2 * coalesce(n_tri, 0) AS DOUBLE)
          |  / CAST(deg * (deg - 1) AS DOUBLE) * 1e6 + 0.5) / 1e6
          |  AS lcc""".stripMargin)
      .orderBy($"lcc".desc, $"node")
      .limit(30)
  }

  val localClusteringSql: String =
    s"""WITH $undCtes,
       |tri AS (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM und e1
       |  JOIN und e2 ON e2.u = e1.v
       |  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
       |corners AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
       |    SELECT a AS node FROM tri
       |    UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri)
       |  GROUP BY node)
       |SELECT d.node, d.deg, coalesce(c.n_tri, 0) AS n_tri,
       |  floor(CAST(2 * coalesce(c.n_tri, 0) AS DOUBLE)
       |    / CAST(d.deg * (d.deg - 1) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS lcc
       |FROM deg d LEFT JOIN corners c ON c.node = d.node
       |WHERE d.deg >= 2
       |ORDER BY lcc DESC, d.node
       |LIMIT 30""".stripMargin

  /** Degree assortativity — the Pearson correlation of endpoint
    * degrees over edges, THE one-number mixing summary of a network
    * (positive: hubs link hubs, social-graph-like; negative: hubs link
    * leaves, hub-and-spoke/technological — Newman 2002). The
    * symmetrized edge list (each undirected edge contributes both
    * orientations, so the correlation is exchange-symmetric by
    * construction) carries (deg(src), deg(dst)) from one broadcast-
    * sized degree frame; the five sufficient statistics are exact
    * integer sums (one map-side-combinable aggregate — degrees on a
    * token-transition graph are vocabulary-bounded, so no overflow),
    * and r is one double expression with the identical IEEE sequence
    * in both engines, NULL when a variance vanishes (regular graph).
    */
  def assortativity(s: SparkSession, dir: String): DataFrame =
    assortativityOnEdges(tokenEdges(s, dir))

  def assortativityOnEdges(rawEdges: DataFrame): DataFrame = {
    val s = rawEdges.sparkSession
    import s.implicits._
    val und = undirected(rawEdges).localCheckpoint()
    val deg = degrees(und)
    val sym = und.select($"u".as("a"), $"v".as("b"))
      .union(und.select($"v".as("a"), $"u".as("b")))
      .join(deg.select($"node".as("a"), $"deg".as("x")), "a")
      .join(deg.select($"node".as("b"), $"deg".as("y")), "b")
    sym.agg(count(lit(1)).as("m"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"),
        sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"))
      .selectExpr("m div 2 AS n_edges",
        """CASE WHEN (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
          |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          |    * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
          |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <= 0.0 THEN NULL
          |  ELSE floor((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
          |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          |    / sqrt((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
          |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          |      * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
          |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
          |    * 1e6 + 0.5) / 1e6 END AS assortativity""".stripMargin)
  }

  val assortativitySql: String =
    s"""WITH $undCtes,
       |sym AS (
       |  SELECT da.deg AS x, db.deg AS y
       |  FROM (SELECT u AS a, v AS b FROM und
       |        UNION ALL SELECT v, u FROM und) e
       |  JOIN deg da ON da.node = e.a
       |  JOIN deg db ON db.node = e.b),
       |g AS (
       |  SELECT CAST(count(*) AS BIGINT) AS m,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy,
       |    CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(sum(y * y) AS BIGINT) AS syy
       |  FROM sym)
       |SELECT m // 2 AS n_edges,
       |  CASE WHEN (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
       |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |      * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
       |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <= 0.0 THEN NULL
       |    ELSE floor((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
       |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |      / sqrt((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
       |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |        * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
       |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       |      * 1e6 + 0.5) / 1e6 END AS assortativity
       |FROM g""".stripMargin

  /** Modularity of a node labeling — Newman's Q = Σ_c (e_c/m −
    * (d_c/2m)²): how much more intra-community mass the partition
    * captures than a degree-preserving random graph would. Modularity
    * is a function of (graph, labeling) — the quality score every
    * community detector optimizes and every partition report prints;
    * the registered query evaluates the deterministic first-character
    * labeling of the token graph (any labeling column plugs in).
    * Everything reduces to three exact integer statistics — m, intra
    * (edges with both ends in one community) and Σ_c d_c² — via two
    * bounded map-side-combinable aggregates (communities ≤ alphabet);
    * Q is one double expression, floor-pinned, identical both engines:
    * Q = intra/m − Σd_c²/(4m²).
    */
  def modularity(s: SparkSession, dir: String): DataFrame =
    modularityOnEdges(tokenEdges(s, dir))

  def modularityOnEdges(rawEdges: DataFrame): DataFrame = {
    val s = rawEdges.sparkSession
    import s.implicits._
    val und = undirected(rawEdges).localCheckpoint()
    val lab = (c: String) => expr(s"substring($c, 1, 1)")
    val edgeStats = und.agg(count(lit(1)).as("m"),
      sum(when(lab("u") === lab("v"), 1L).otherwise(0L)).as("intra"))
    val dc = und.select(lab("u").as("c")).union(und.select(lab("v").as("c")))
      .groupBy($"c").agg(count(lit(1)).as("d_c"))
    val dcStats = dc.agg(count(lit(1)).as("n_communities"),
      sum($"d_c" * $"d_c").as("sdc2"))
    edgeStats.crossJoin(broadcast(dcStats))
      .selectExpr("m", "intra", "n_communities",
        """floor((CAST(intra AS DOUBLE) / m
          |  - CAST(sdc2 AS DOUBLE)
          |    / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)))
          |  * 1e6 + 0.5) / 1e6 AS modularity""".stripMargin)
  }

  val modularitySql: String =
    s"""WITH $undCtes,
       |es AS (
       |  SELECT CAST(count(*) AS BIGINT) AS m,
       |    CAST(sum(CASE WHEN substring(u, 1, 1) = substring(v, 1, 1)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS intra
       |  FROM und),
       |dc AS (
       |  SELECT c, CAST(count(*) AS BIGINT) AS d_c FROM (
       |    SELECT substring(u, 1, 1) AS c FROM und
       |    UNION ALL SELECT substring(v, 1, 1) FROM und)
       |  GROUP BY c),
       |ds AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_communities,
       |    CAST(sum(d_c * d_c) AS BIGINT) AS sdc2
       |  FROM dc)
       |SELECT m, intra, n_communities,
       |  floor((CAST(intra AS DOUBLE) / m
       |    - CAST(sdc2 AS DOUBLE)
       |      / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)))
       |    * 1e6 + 0.5) / 1e6 AS modularity
       |FROM es CROSS JOIN ds""".stripMargin

  // ------------------------------------------- weighted shortest paths

  /** Bounded-hop weighted single-source shortest paths (Bellman–Ford):
    * the BFS trade graph carries an integer edge cost (min contributing
    * quantity − 47 ∈ {1,2,3}), and each of the [[BfsHops]] rounds
    * relaxes EVERY current tentative distance through the edge list —
    * unlike BFS's frontier-only expansion, a weighted distance can
    * improve at a later hop, so the full distance frame joins each
    * round (textbook Bellman–Ford, one join + one min-aggregate per
    * round on the same edge partitioning, every round pinned through
    * [[graft.Iterate]] for the doubly-consumed chain). Integer costs keep the min exact; the
    * oracle is the recursive-CTE walk enumeration bounded by the same
    * hop count with min(total cost) per node.
    *
    * At 100 TB: per-round cost is one shuffle keyed on node over a
    * frame bounded by reachable nodes; hop-bounding (the production
    * norm for trust/fraud radius queries) caps rounds, and early-exit
    * on an unchanged frame would drop the constant further.
    */
  def sssp(s: SparkSession, dir: String): DataFrame =
    ssspOnEdges(weightedTradeEdges(s, dir), BfsHops)

  def weightedTradeEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val trade = Tables.lineitem(s, dir)
      .where($"l_quantity" >= BfsMinQty)
      .select($"l_orderkey", $"l_suppkey", $"l_quantity")
      .join(Tables.orders(s, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy(concat(lit("C"), $"o_custkey".cast("string")).as("c"),
        concat(lit("S"), $"l_suppkey".cast("string")).as("s"))
      .agg((min($"l_quantity").cast("long") - 47L).as("cost"))
    trade.select($"c".as("src"), $"s".as("dst"), $"cost")
      .union(trade.select($"s", $"c", $"cost"))
      .groupBy($"src", $"dst").agg(min($"cost").as("cost"))
  }

  def ssspOnEdges(rawEdges: DataFrame, maxHops: Int = BfsHops): DataFrame = {
    val s = rawEdges.sparkSession
    import s.implicits._
    val edges = rawEdges.select($"src", $"dst", $"cost").localCheckpoint()
    val seed = edges.agg(min($"src").as("node"))
    val init = seed.select($"node", lit(0L).as("dist")).localCheckpoint()
    Iterate.fold(init, 1 to maxHops) { (dist, r) =>
      val relaxed = dist.join(edges, $"node" === $"src")
        .select($"dst".as("node"), ($"dist" + $"cost").as("dist"))
      r.pin(dist.union(relaxed).groupBy($"node").agg(min($"dist").as("dist")))
    }.select($"node", $"dist")
  }

  val ssspSql: String =
    s"""WITH RECURSIVE trade AS (
       |  SELECT 'C' || o_custkey AS c, 'S' || l_suppkey AS s,
       |    CAST(min(l_quantity) AS BIGINT) - 47 AS cost
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE l_quantity >= $BfsMinQty
       |  GROUP BY 1, 2),
       |e AS (
       |  SELECT src, dst, min(cost) AS cost FROM (
       |    SELECT c AS src, s AS dst, cost FROM trade
       |    UNION ALL
       |    SELECT s, c, cost FROM trade)
       |  GROUP BY src, dst),
       |seed AS (SELECT min(src) AS node FROM e),
       |w AS (
       |  SELECT node, CAST(0 AS BIGINT) AS d, 0 AS h FROM seed
       |  UNION
       |  SELECT e.dst AS node, w.d + e.cost AS d, w.h + 1 AS h
       |  FROM w JOIN e ON e.src = w.node WHERE w.h < $BfsHops)
       |SELECT node, min(d) AS dist
       |FROM w GROUP BY node""".stripMargin

  // ------------------------------------------- label propagation (LPA)

  val LpaIters = 3

  /** Synchronous label-propagation community detection — the
    * community-STRUCTURE complement to [[modularity]] (which SCORES a
    * given assignment): every node starts as its own label, and each of
    * [[LpaIters]] synchronous rounds re-labels every node with the
    * label most frequent among its neighbors, ties to the
    * lexicographically smallest label. Deterministic by construction
    * (no random visit order — the classic LPA nondeterminism is
    * removed by full-synchronous rounds + the total tie order), so the
    * unrolled recurrence IS the oracle contract.
    *
    * Per round: one equi-join of the symmetric neighbor list against
    * the label frame (both keyed on the node), a (node, label) partial
    * count, and a per-node argmax window — the Pregel-on-DataFrames
    * shape every iterative op here uses, with [[graft.Iterate]] pinning
    * every round to truncate the doubly-consumed lineage. At 100 TB the
    * round cost is one shuffle keyed on node over the edge list; fixed
    * rounds cap the chain (production LPA runs 3–5 sweeps).
    */
  def labelProp(s: SparkSession, dir: String): DataFrame =
    labelPropOnEdges(tokenEdges(s, dir))

  def labelPropOnEdges(rawEdges: DataFrame): DataFrame = {
    val s = rawEdges.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val und = undirected(rawEdges)
    val nbr = und.select($"u".as("node"), $"v".as("n"))
      .union(und.select($"v".as("node"), $"u".as("n")))
      .localCheckpoint()
    val init = nbr.select($"node").distinct()
      .select($"node", $"node".as("lab"))
    val w = Window.partitionBy($"node")
      .orderBy($"c".desc, $"lab".asc)
    val fin = Iterate.fold(init, 1 to LpaIters) { (labels, r) =>
      r.pin(nbr.join(labels.select($"node".as("n"), $"lab"), "n")
        .groupBy($"node", $"lab").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .where($"rn" === 1)
        .select($"node", $"lab"))
    }
    fin.select($"node".as("token"), $"lab".as("community"))
  }

  val labelPropSql: String = {
    val iters = (1 to LpaIters).map { i =>
      s"""l$i AS (
         |  SELECT node, lab FROM (
         |    SELECT nb.node, l.lab, count(*) AS c,
         |      row_number() OVER (PARTITION BY nb.node
         |        ORDER BY count(*) DESC, l.lab ASC) AS rn
         |    FROM nbr nb JOIN l${i - 1} l ON l.node = nb.n
         |    GROUP BY nb.node, l.lab)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $undCtes,
       |nbr AS (
       |  SELECT u AS node, v AS n FROM und
       |  UNION ALL
       |  SELECT v AS node, u AS n FROM und),
       |l0 AS (
       |  SELECT DISTINCT node, node AS lab FROM nbr),
       |$iters
       |SELECT node AS token, lab AS community FROM l$LpaIters""".stripMargin
  }

  // ------------------------------------------------ maximum spanning tree

  /** Borůvka-round backstop: components at least halve per round, so
    * 30 rounds cover 2³⁰ nodes; overshooting is a loud failure.
    */
  val MstMaxRounds = 30

  /** Undirected weighted co-occurrence edges for the spanning tree:
    * canonical (src < dst) pair, weight = total transition count in
    * both directions, self-loops dropped.
    */
  private[graft] def undirectedWeighted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    tokenEdges(s, dir).where($"src" =!= $"dst")
      .select(least($"src", $"dst").as("a"),
        greatest($"src", $"dst").as("b"), $"cnt")
      .groupBy($"a", $"b").agg(sum($"cnt").as("w"))
  }

  /** MAXIMUM spanning forest of the token co-occurrence graph —
    * Chow–Liu-flavored structure discovery (the max-weight tree over
    * pairwise association is the optimal tree-shaped dependency
    * approximation) and the single-linkage backbone every
    * hierarchical-clustering pass reduces to. Distributed Borůvka:
    * each round every component picks its best outgoing edge under the
    * STRICT total order (w DESC, a, b) — strictness makes the spanning
    * forest unique, which is what lets the oracle verify the RESULT
    * while free to iterate differently — then picked edges contract by
    * connected components ([[Dedup.connectedComponents]] reused on the
    * component graph, which is ≤ |V| rows and halves every round).
    *
    * Scale shape: the edge list re-joins the label table once per
    * round (O(log V) rounds); labels are O(V) and partition-hashed;
    * picks/contraction frames are component-sized, never edge-sized.
    * No driver state — `isEmpty` on the candidate frame is the loop's
    * only action, and the accumulated forest stays distributed.
    */
  def maxSpanningTree(s: SparkSession, dir: String): DataFrame =
    maxSpanningForestOnEdges(undirectedWeighted(s, dir))

  /** Borůvka core over a canonical undirected weighted edge list
    * (a < b, weight w) — split out so specs can plant graphs.
    */
  private[graft] def maxSpanningForestOnEdges(und0: DataFrame): DataFrame = {
    val s = und0.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val und = und0.localCheckpoint()
    val bi = und.select($"a", $"b", $"w", $"a".as("u"), $"b".as("v"))
      .union(und.select($"a", $"b", $"w", $"b".as("u"), $"a".as("v")))
    val labels0 = bi.select($"u".as("node")).distinct()
      .select($"node", $"node".as("c")).localCheckpoint()
    // picks are kept for the whole loop (the forest accumulator reads
    // them all); each round's labels replace the previous round's
    val (_, mst) = Iterate.until((labels0, und.limit(0)), MstMaxRounds) {
      case ((labels, forest), r) =>
        val cand = bi
          .join(labels.select($"node".as("u"), $"c".as("cu")), "u")
          .join(labels.select($"node".as("v"), $"c".as("cv")), "v")
          .where($"cu" =!= $"cv")
        val picks = r.keep(cand
          .withColumn("rn", row_number().over(
            Window.partitionBy($"cu").orderBy($"w".desc, $"a", $"b")))
          .where($"rn" === 1)
          .select($"cu", $"cv", $"a", $"b", $"w"))
        if (picks.isEmpty) None
        else {
          // Contraction: the pick graph is COMPONENT-level metadata (≤
          // #components rows, halving every round), so it is contracted
          // in one per-partition union-find pass on a single coalesced
          // partition — the mapPartitions escape hatch used exactly where
          // the brief reserves it (genuine per-partition imperative
          // logic on a metadata-sized frame). One task, no inner
          // convergence loop, no per-iteration driver actions; labels are
          // canonicalized to the min member id, matching the oracle's
          // min-reachable closure.
          val comp = ufLabels(picks.select($"cu".as("s"), $"cv".as("d")))
            .select(col("member").as("c"), col("label").as("nc"))
          Some((r.pin(labels.join(comp, Seq("c"), "left")
              .select($"node", coalesce($"nc", $"c").as("c"))),
            forest.union(picks.select($"a", $"b", $"w").distinct())))
        }
    }.getOrElse(throw new IllegalStateException(
      s"Borůvka failed to finish in $MstMaxRounds rounds"))
    mst.select($"a".as("src"), $"b".as("dst"), $"w")
  }

  /** Oracle: the same Borůvka recurrence, R fixed rounds generated as
    * chained CTEs (idle rounds are no-ops once the forest is spanning),
    * per-round contraction via a RECURSIVE reach closure over the
    * picked component edges (fixpoint semantics — no unrolled jump
    * count to keep in sync). Pick/label CTEs are MATERIALIZED: the
    * round chain re-references each stage several times and DuckDB's
    * inlining would otherwise re-expand the whole prefix per reference.
    * Uniqueness of the strictly-ordered spanning forest is what makes
    * the two engines' different iteration orders land on the
    * identical edge set.
    */
  /** The Borůvka oracle's CTE body through the final `mst` table —
    * shared by [[maxSpanningTreeSql]] and the single-linkage clustering
    * oracle built on the forest.
    */
  private val mstCtes: String = {
    val R = 20 // covers 2^20 components; fixture vocab is far below
    val rounds = (1 to R).map { r =>
      val prev = s"lab${r - 1}"
      s"""cand$r AS MATERIALIZED (
         |  SELECT lu.c AS cu, lv.c AS cv, e.a, e.b, e.w,
         |    row_number() OVER (PARTITION BY lu.c
         |      ORDER BY e.w DESC, e.a, e.b) AS rn
         |  FROM bi e
         |  JOIN $prev lu ON e.u = lu.node
         |  JOIN $prev lv ON e.v = lv.node
         |  WHERE lu.c <> lv.c),
         |pick$r AS MATERIALIZED (
         |  SELECT cu, cv, a, b, w FROM cand$r WHERE rn = 1),
         |pe$r AS MATERIALIZED (
         |  SELECT cu AS s, cv AS d FROM pick$r
         |  UNION SELECT cv, cu FROM pick$r),
         |reach$r(x, y) AS (
         |  SELECT s, s FROM pe$r
         |  UNION
         |  SELECT rr.x, e.d FROM reach$r rr JOIN pe$r e ON rr.y = e.s),
         |cmap$r AS MATERIALIZED (
         |  SELECT x AS c, min(y) AS nc FROM reach$r GROUP BY x),
         |lab$r AS MATERIALIZED (
         |  SELECT l.node, coalesce(m.nc, l.c) AS c
         |  FROM lab${r - 1} l LEFT JOIN cmap$r m ON l.c = m.c)""".stripMargin
    }.mkString(",\n")
    val allPicks = (1 to R)
      .map(r => s"SELECT a, b, w FROM pick$r").mkString(" UNION ALL ")
    s"""${tokenEdgeCtes("tedges")},
       |und AS MATERIALIZED (
       |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
       |    CAST(sum(cnt) AS BIGINT) AS w
       |  FROM tedges WHERE src <> dst GROUP BY 1, 2),
       |bi AS MATERIALIZED (
       |  SELECT a, b, w, a AS u, b AS v FROM und
       |  UNION ALL SELECT a, b, w, b, a FROM und),
       |lab0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS c FROM bi),
       |$rounds,
       |mst AS MATERIALIZED (
       |  SELECT DISTINCT a, b, w FROM ($allPicks))""".stripMargin
  }

  val maxSpanningTreeSql: String =
    s"""WITH RECURSIVE $mstCtes
       |SELECT a AS src, b AS dst, w FROM mst""".stripMargin

  /** Clusters kept after cutting the weakest forest edges. */
  val SingleLinkCuts = 7

  /** Single-linkage flat clustering — the textbook REDUCTION from the
    * spanning forest: cutting the k−1 weakest forest edges (strict
    * order w ASC, a, b) yields exactly the k clusters single-linkage
    * agglomeration would stop at, because the forest edge weights ARE
    * the linkage merge heights. Output: every graph node with its
    * cluster's canonical (minimum) member. The cut is a rank over the
    * FOREST (|V|−1 rows, metadata), the labeling one union-find pass
    * over the kept edges — at 100 TB the cost remains the forest
    * build's.
    */
  def singleLinkage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val und = undirectedWeighted(s, dir).localCheckpoint()
    val mst = maxSpanningForestOnEdges(und).localCheckpoint()
    // cut set by distributed TakeOrdered (per-partition top-K under the
    // strict total order, never all forest edges through one window
    // partition), removed by anti-join on the forest's unique (src, dst)
    val cut = mst.orderBy($"w".asc, $"src", $"dst").limit(SingleLinkCuts)
      .select($"src".as("c_src"), $"dst".as("c_dst"))
    val kept = mst.join(cut,
      $"src" === $"c_src" && $"dst" === $"c_dst", "left_anti")
    val labels = ufLabels(kept.select($"src".as("s"), $"dst".as("d")))
    und.select(explode(array($"a", $"b")).as("token")).distinct()
      .join(labels, $"token" === $"member", "left")
      .select($"token", coalesce($"label", $"token").as("cluster"))
  }

  /** Per-partition union-find over an edge list coalesced to one
    * partition (metadata-sized inputs only) — labels every touched
    * member with its tree's minimum id.
    */
  private[graft] def ufLabels(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    edges.as[(String, String)].coalesce(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.Map.empty[String, String]
        def find(x: String): String = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        val members = scala.collection.mutable.Set.empty[String]
        it.foreach { case (a, b) =>
          members += a; members += b
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(ra) = rb
        }
        val minOf = scala.collection.mutable.Map.empty[String, String]
        members.foreach { m =>
          val r = find(m)
          if (!minOf.contains(r) || m < minOf(r)) minOf(r) = m
        }
        members.iterator.map(m => (m, minOf(find(m))))
      }.toDF("member", "label")
  }

  val singleLinkageSql: String =
    s"""WITH RECURSIVE $mstCtes,
       |ranked AS (
       |  SELECT a, b, w,
       |    row_number() OVER (ORDER BY w ASC, a, b) AS rk
       |  FROM mst),
       |kept AS MATERIALIZED (
       |  SELECT a, b FROM ranked WHERE rk > $SingleLinkCuts),
       |ke AS (SELECT a AS s, b AS d FROM kept
       |  UNION SELECT b, a FROM kept),
       |creach(x, y) AS (
       |  SELECT s, s FROM ke
       |  UNION
       |  SELECT r.x, e.d FROM creach r JOIN ke e ON r.y = e.s),
       |clab AS (SELECT x AS member, min(y) AS label FROM creach GROUP BY x),
       |nodes AS (SELECT DISTINCT u AS token FROM bi)
       |SELECT n.token, coalesce(c.label, n.token) AS cluster
       |FROM nodes n LEFT JOIN clab c ON n.token = c.member""".stripMargin

  /** Walks started per source node and steps per walk for
    * [[randomWalks]] — the (walks × length) budget of a DeepWalk /
    * node2vec corpus generation (Perozzi et al., KDD'14 run 80×40;
    * the toy graph keeps the same plan at 3×8).
    */
  val WalksPerNode = 3
  val WalkLen = 8

  def randomWalks(s: SparkSession, dir: String): DataFrame =
    randomWalksOnEdges(tokenEdges(s, dir))

  /** Weight-proportional random-walk corpus over the edge list — the
    * sequence generator DeepWalk/node2vec feed to a skip-gram trainer
    * (node embeddings from co-visitation). Every "random" choice is
    * DERIVED, not drawn: at step t a walk sitting on node u picks the
    * out-edge whose cumulative-count interval [lo, hi) contains
    * md5₆₀("walk:start:wid:t:u") mod out_count(u) — the repo's salted
    * md5-60 idiom ([[Curation]] sampling), so the corpus is exactly
    * reproducible under retry/speculation AND replayable by the
    * oracle. Walks END at sink nodes (no out-edges): the inner join
    * drops them, exactly like the reference recursion.
    *
    * Scale shape: the per-src cumulative intervals are one window over
    * the edge list (edge-count-sized, built once); each step is ONE
    * equi-join of the (starts × W) frontier against the interval table
    * on the current node — never a gather to the driver, state is
    * O(active walks). [[graft.Iterate]] pins the frontier every 4 steps;
    * the plan chain between pins is linear in steps, and every pin is
    * kept, since the corpus reads every step. At 100 TB the frontier is
    * billions of rows and the same L joins run shuffle-partitioned on
    * the node key.
    */
  def randomWalksOnEdges(rawEdges: DataFrame): DataFrame = {
    val s = rawEdges.sparkSession
    import s.implicits._
    val (intervals, starts) = walkPrep(rawEdges.localCheckpoint(), WalksPerNode)
    walkCorpus(Iterate.scan(starts, 1 to WalkLen, every = 4) { (frontier, r) =>
      r.pin(firstOrderStep(frontier, intervals, "walk", r.i)
        .select($"start", $"wid", $"dst".as("node")))
    })
  }

  /** The walks' shared inputs over a pinned (src, dst, cnt) edge list:
    * each src's out-edges as cumulative-count intervals [lo, hi) with its
    * out-count `oc`, and `walks` walks per source sitting on their start
    * (start, wid, node); both pinned.
    */
  private def walkPrep(edges: DataFrame, walks: Int): (DataFrame, DataFrame) = {
    val s = edges.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val cum = Window.partitionBy($"src").orderBy($"dst")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val outW = edges.groupBy($"src").agg(sum($"cnt").as("oc"))
    val intervals = edges
      .withColumn("hi", sum($"cnt").over(cum))
      .withColumn("lo", $"hi" - $"cnt")
      .join(outW, "src")
      .select($"src", $"dst", $"lo", $"hi", $"oc")
      .localCheckpoint()
    val starts = edges.select($"src").distinct()
      .crossJoin(broadcast(s.range(0, walks).select($"id".as("wid"))))
      .select($"src".as("start"), $"wid", $"src".as("node"))
      .localCheckpoint()
    (intervals, starts)
  }

  /** The salted md5-60 draw of walk (start, wid) on `node` at step `t`,
    * mod `m`.
    */
  private def walkDraw(salt: String, t: Int, m: Column): Column =
    conv(substring(md5(concat_ws(":",
      lit(salt), col("start"), col("wid"), lit(t - 1), col("node"))), 1, 15), 16, 10)
      .cast("long") % m

  /** The first-order pick at step `t`: each walk on `frontier` joined to
    * the one out-edge interval of its node that holds its draw.
    */
  private def firstOrderStep(frontier: DataFrame, intervals: DataFrame,
      salt: String, t: Int): DataFrame = {
    val r = walkDraw(salt, t, col("oc"))
    frontier.join(intervals, col("node") === col("src"))
      .where(r >= col("lo") && r < col("hi"))
  }

  /** (start, wid, step, node) rows of every step's frontier, step 0 first. */
  private def walkCorpus(steps: Seq[DataFrame]): DataFrame =
    steps.zipWithIndex.map { case (f, t) =>
      f.select(col("start"), col("wid"), lit(t.toLong).as("step"), col("node"))
    }.reduce(_ union _)

  /** DuckDB restatement of [[walkPrep]]: the token edges, `outw`, the
    * interval table `iv`, and `start` with `walks` walks per source.
    */
  private def walkPrepSql(walks: Int, start: String): String =
    s"""WITH ${tokenEdgeCtes("edges", materialized = true)},
       |outw AS (
       |  SELECT src, CAST(sum(cnt) AS BIGINT) AS oc FROM edges GROUP BY src),
       |iv AS MATERIALIZED (
       |  SELECT e.src, e.dst,
       |    CAST(sum(e.cnt) OVER (PARTITION BY e.src ORDER BY e.dst
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - e.cnt
       |      AS BIGINT) AS lo,
       |    CAST(sum(e.cnt) OVER (PARTITION BY e.src ORDER BY e.dst
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS hi,
       |    o.oc
       |  FROM edges e JOIN outw o ON e.src = o.src),
       |$start AS MATERIALIZED (
       |  SELECT src AS start, CAST(wid AS BIGINT) AS wid, src AS node
       |  FROM (SELECT DISTINCT src FROM edges)
       |  CROSS JOIN (SELECT unnest(range(0, $walks)) AS wid))""".stripMargin

  /** DuckDB restatement of [[walkDraw]] for the walk row `f`, before the
    * mod; one line, since the step CTEs' margins would eat a leading `||`.
    */
  private def walkDrawSql(salt: String, t: Int): String =
    s"CAST(('0x' || substring(md5('$salt:' || f.start || ':' || CAST(f.wid AS VARCHAR)" +
      s" || ':${t - 1}:' || f.node), 1, 15)) AS BIGINT)"

  /** DuckDB restatement of [[firstOrderStep]]: CTE `name` picks step `t`
    * from the frontier CTE `from` as (start, wid, prev, node).
    */
  private def firstOrderStepSql(name: String, from: String, salt: String, t: Int): String =
    s"""$name AS MATERIALIZED (
       |  SELECT start, wid, prev, node FROM (
       |    SELECT f.start, f.wid, f.node AS prev, i.dst AS node, i.lo, i.hi,
       |      ${walkDrawSql(salt, t)} % i.oc AS r
       |    FROM $from f JOIN iv i ON i.src = f.node)
       |  WHERE r >= lo AND r < hi)""".stripMargin

  /** DuckDB restatement of [[walkCorpus]] over the step CTEs `name`0..`len`. */
  private def walkCorpusSql(name: String, len: Int): String = (0 to len)
    .map(t => s"SELECT start, wid, CAST($t AS BIGINT) AS step, node FROM $name$t")
    .mkString(" UNION ALL ")

  /** DuckDB restatement: identical edge build, cumulative intervals,
    * and md5-60 pick, with the [[WalkLen]] steps unrolled as
    * MATERIALIZED CTEs (each step's frontier feeds the next — the
    * ladder discipline that stops projection-inlining re-expansion).
    * Every integer sum is CAST BIGINT (HUGEINT rule).
    */
  val randomWalksSql: String = {
    val steps = (1 to WalkLen)
      .map(t => firstOrderStepSql(s"s$t", s"s${t - 1}", "walk", t)).mkString(",\n")
    s"${walkPrepSql(WalksPerNode, "s0")},\n$steps\n${walkCorpusSql("s", WalkLen)}"
  }

  /** Level-unroll bound for [[betweenness]] — must exceed the graph
    * diameter (the spec computes the true eccentricity bound and
    * asserts it; the token-transition graph's diameter is ≤ 6 at every
    * fixture vintage, and the 10× replica shares the vocabulary).
    */
  val BetwMaxDepth = 10

  def betweenness(s: SparkSession, dir: String): DataFrame =
    betweennessOnEdges(tokenEdges(s, dir))

  /** Betweenness centrality by Brandes' algorithm (2001) over the
    * directed unweighted token graph — the broker/bottleneck score
    * (how much shortest-path traffic a node carries) completing the
    * centrality family beside pagerank (flow), HITS (duality), and
    * k-core (cohesion). All-sources BFS runs SIMULTANEOUSLY as
    * level-synchronous (source, node) frontiers — path counts σ are
    * exact BIGINT sums — then dependencies accumulate BACKWARD through
    * the shortest-path DAG: δ(s,v) = Σ_{w ∈ succ} σ(s,v)/σ(s,w) ·
    * (1 + δ(s,w)), each term floor-rounded to 9 dp and decimal-summed
    * (order-free ⇒ engine-exact), and B(v) = Σ_{s≠v} δ(s,v) as a
    * decimal sum of the 9-dp deltas.
    *
    * Scale shape: every frontier/backward step is an equi-join on
    * (source, node) keys — |pairs| ≤ n² state sharded by source, never
    * a driver structure; the level loops run through [[graft.Iterate]],
    * LAZY between pins every 3 levels (the pagerank discipline), every
    * pin kept, since the backward pass reads every level. At 100 TB one
    * runs this on a sampled source set — the plan is unchanged, only
    * the seed frontier shrinks.
    */
  def betweennessOnEdges(rawEdges: DataFrame,
      maxDepth: Int = BetwMaxDepth): DataFrame = {
    val s = rawEdges.sparkSession
    import s.implicits._
    val edges = rawEdges.select($"src", $"dst").localCheckpoint()
    val nodes = nodesOf(edges)
    val deltas = brandesDeltas(edges, nodes.select($"node".as("s")), maxDepth)
    nodes.join(deltas, $"node" === $"v", "left_outer")
      .select($"node", coalesce($"b", lit(0.0)).as("betweenness"))
  }

  /** Brandes forward + backward passes from an arbitrary SOURCE frame
    * (one column `s`) — the seam [[betweennessOnEdges]] (all sources,
    * exact) and [[betweennessApproxOnEdges]] (k sampled sources) share.
    * Returns per-node dependency totals (v, b) with b = Σ_{s≠v} δ(s,v)
    * over the given sources, 9-dp decimal-summed (engine-exact).
    */
  private def brandesDeltas(edges: DataFrame, sources: DataFrame,
      maxDepth: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val levels = brandesLevels(edges, sources, maxDepth)
    val termExpr =
      """CAST(floor(CAST(sigma AS DOUBLE) / sigma_w
        |  * (1 + coalesce(delta_w, CAST(0 AS DOUBLE))) * 1e9 + 0.5) / 1e9
        |  AS DECIMAL(18,9))""".stripMargin
    val none = levels(maxDepth).select($"s", $"v", lit(0.0).as("delta")).where(lit(false))
    val deps = Iterate.scan(none, (maxDepth - 1) to 1 by -1, every = 3) { (dep, r) =>
      r.pin(levels(r.i).join(edges, $"v" === $"src")
        .join(levels(r.i + 1)
            .select($"s".as("sw"), $"v".as("w"), $"sigma".as("sigma_w")),
          $"s" === $"sw" && $"dst" === $"w")
        .join(dep.select($"s".as("s2"), $"v".as("w2"), $"delta".as("delta_w")),
          $"s" === $"s2" && $"w" === $"w2", "left_outer")
        .select($"s", $"v", $"sigma", $"sigma_w", $"delta_w")
        .withColumn("term", expr(termExpr))
        .groupBy($"s", $"v")
        .agg(sum($"term").cast("double").as("delta")))
    }.tail
    val allDeps = deps.reduce(_ union _).where($"v" =!= $"s")
    allDeps.groupBy($"v")
      .agg(sum(expr("CAST(delta AS DECIMAL(18,9))")).cast("double").as("b"))
  }

  /** Brandes' forward pass: levels 0..`maxDepth` of the level-synchronous
    * BFS from every source in `sources` (column `s`), as (s, v, sigma)
    * with sigma the shortest-path count — exact BIGINT sums. Frontier and
    * seen set are pinned every 3 levels, every pin kept.
    */
  private def brandesLevels(edges: DataFrame, sources: DataFrame,
      maxDepth: Int): Seq[DataFrame] = {
    val s = edges.sparkSession
    import s.implicits._
    val f0 = sources.select($"s", $"s".as("v"), lit(1L).as("sigma")).localCheckpoint()
    Iterate.scan((f0, f0.select($"s", $"v").localCheckpoint()), 1 to maxDepth,
        every = 3) { case ((frontier, seen), r) =>
      val next = frontier.join(edges, $"v" === $"src")
        .select($"s", $"dst".as("v2"), $"sigma")
        .join(seen.select($"s", $"v".as("v2")), Seq("s", "v2"), "left_anti")
        .groupBy($"s", $"v2").agg(sum($"sigma").as("sigma"))
        .select($"s", $"v2".as("v"), $"sigma")
      (r.pin(next), r.pin(seen.union(next.select($"s", $"v"))))
    }.map(_._1)
  }

  /** The `k` highest out-mass sources of a (src, dst, cnt) edge list
    * (ties lexical — a total order, so both engines pick the same set),
    * pinned, as column `s`: the seeds of [[betweennessApproxOnEdges]] and
    * [[closenessOnEdges]].
    */
  private def hubSeeds(rawEdges: DataFrame, k: Int): DataFrame =
    rawEdges.groupBy(col("src")).agg(sum(col("cnt")).as("m"))
      .orderBy(desc("m"), col("src")).limit(k)
      .select(col("src").as("s")).localCheckpoint()

  /** Seed count for the SAMPLED betweenness estimator. */
  val BetwApproxSeeds = 12

  def betweennessApprox(s: SparkSession, dir: String): DataFrame =
    betweennessApproxOnEdges(tokenEdges(s, dir))

  /** Sampled Brandes betweenness — the production form of
    * [[betweennessOnEdges]] at 100 TB: the exact algorithm runs the
    * forward/backward passes from ALL |V| sources simultaneously, so
    * frontier state is O(|V|·frontier) — the one cost a 100× token
    * graph would feel. The standard estimator (Brandes & Pich 2007:
    * centrality estimation from k pivots) runs the SAME passes from k
    * pivot sources and extrapolates B̂(v) = (n/k)·Σ_{s∈S} δ(s,v);
    * state shrinks linearly to O(k·|V|) and cost to O(k·E) per level,
    * with the plan — equi-joins on (source, node), checkpoint pins —
    * unchanged. Pivots are the [[ClosenessSeeds]] discipline: the k
    * highest-out-mass nodes under a total order (out-mass DESC, token
    * ASC), engine-stable, so both engines pick the identical seed set
    * and the estimate is exactly reproducible (hub pivots, not uniform
    * draws — deterministic AND they cover the most shortest-path mass,
    * the Brandes-Pich "high-centrality pivots" variant).
    *
    * Output: every node with its scaled estimate (9-dp decimal delta
    * sums, one micro-floored double at the end — oracle-exact).
    */
  def betweennessApproxOnEdges(rawEdges: DataFrame,
      k: Int = BetwApproxSeeds, maxDepth: Int = BetwMaxDepth): DataFrame = {
    val s = rawEdges.sparkSession
    import s.implicits._
    val edges = rawEdges.select($"src", $"dst").localCheckpoint()
    val nodes = nodesOf(edges)
    val seeds = hubSeeds(rawEdges, k)
    val deltas = brandesDeltas(edges, seeds, maxDepth)
    val nNodes = nodes.agg(count(lit(1)).as("n_nodes"))
    val nSeeds = seeds.agg(count(lit(1)).as("n_seeds"))
    nodes.join(deltas, $"node" === $"v", "left_outer")
      .crossJoin(broadcast(nNodes))
      .crossJoin(broadcast(nSeeds))
      .select($"node",
        expr("""floor(coalesce(b, CAST(0 AS DOUBLE)) * n_nodes / n_seeds
               |  * 1e6 + 0.5) / 1e6""".stripMargin).as("betweenness_est"))
  }

  /** DuckDB restatement of [[brandesLevels]]: the token edges, `nodes`,
    * `seeds` (the query `seeds`, column `s`), and forward levels f0..f`depth`
    * (σ as BIGINT sums, NOT-EXISTS dedupe against the running seen set).
    */
  private def brandesLevelsSql(seeds: String, depth: Int): String = {
    val levels = (1 to depth).map { l =>
      s"""f$l AS MATERIALIZED (
         |  SELECT f.s, e.dst AS v, CAST(sum(f.sigma) AS BIGINT) AS sigma
         |  FROM f${l - 1} f JOIN edges e ON e.src = f.v
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM seen${l - 1} x WHERE x.s = f.s AND x.v = e.dst)
         |  GROUP BY f.s, e.dst),
         |seen$l AS MATERIALIZED (
         |  SELECT s, v FROM seen${l - 1} UNION SELECT s, v FROM f$l)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH ${tokenEdgeCtes("wedges", materialized = true)},
       |edges AS MATERIALIZED (SELECT src, dst FROM wedges),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |seeds AS ($seeds),
       |f0 AS (SELECT s, s AS v, CAST(1 AS BIGINT) AS sigma FROM seeds),
       |seen0 AS (SELECT s, v FROM f0),
       |$levels""".stripMargin
  }

  /** DuckDB restatement of [[hubSeeds]] over the counted `wedges` CTE. */
  private def hubSeedsSql(k: Int): String =
    s"SELECT src AS s FROM wedges GROUP BY src ORDER BY sum(cnt) DESC, src LIMIT $k"

  /** DuckDB restatement of [[brandesDeltas]]: [[brandesLevelsSql]], then
    * backward dependency CTEs with the identical 9-dp floor terms and the
    * per-node decimal rollup `bc` (v, b).
    */
  private def brandesDeltasSql(seeds: String): String = {
    val bwd = ((BetwMaxDepth - 1) to 1 by -1).map { l =>
      val prevDep = if (l == BetwMaxDepth - 1) "bD" else s"b${l + 1}"
      s"""b$l AS MATERIALIZED (
         |  SELECT fl.s, fl.v,
         |    CAST(sum(CAST(floor(CAST(fl.sigma AS DOUBLE) / fw.sigma
         |      * (1 + coalesce(bw.delta, CAST(0 AS DOUBLE))) * 1e9 + 0.5)
         |      / 1e9 AS DECIMAL(18,9))) AS DOUBLE) AS delta
         |  FROM f$l fl
         |  JOIN edges e ON e.src = fl.v
         |  JOIN f${l + 1} fw ON fw.s = fl.s AND fw.v = e.dst
         |  LEFT JOIN $prevDep bw ON bw.s = fl.s AND bw.v = e.dst
         |  GROUP BY fl.s, fl.v)""".stripMargin
    }.mkString(",\n")
    val deps = ((BetwMaxDepth - 1) to 1 by -1)
      .map(l => s"SELECT s, v, delta FROM b$l").mkString(" UNION ALL ")
    s"""${brandesLevelsSql(seeds, BetwMaxDepth)},
       |bD AS (SELECT s, v, CAST(0 AS DOUBLE) AS delta
       |  FROM f$BetwMaxDepth WHERE 1 = 0),
       |$bwd,
       |bc AS (
       |  SELECT v, CAST(sum(CAST(delta AS DECIMAL(18,9))) AS DOUBLE) AS b
       |  FROM ($deps) u WHERE v <> s GROUP BY v)""".stripMargin
  }

  val betweennessSql: String =
    s"""${brandesDeltasSql("SELECT node AS s FROM nodes")}
       |SELECT n.node,
       |  coalesce(bc.b, CAST(0 AS DOUBLE)) AS betweenness
       |FROM nodes n LEFT JOIN bc ON bc.v = n.node""".stripMargin

  /** Sampled-betweenness oracle: identical chain CTEs, f0 restricted to
    * the k highest-out-mass seeds (same total order as the engine),
    * scaled n/k with the identical left-assoc double expression.
    */
  val betweennessApproxSql: String =
    s"""${brandesDeltasSql(hubSeedsSql(BetwApproxSeeds))}
       |SELECT n.node,
       |  floor(coalesce(bc.b, CAST(0 AS DOUBLE))
       |      * (SELECT count(*) FROM nodes)
       |      / (SELECT count(*) FROM seeds) * 1e6 + 0.5) / 1e6
       |    AS betweenness_est
       |FROM nodes n LEFT JOIN bc ON bc.v = n.node""".stripMargin

  // ------------------------------------------------------- closeness

  /** Seed-set size for closeness: the analysis runs from the highest
    * out-mass nodes (the hub vocabulary), not all sources — the
    * standard production compromise, since exact all-sources closeness
    * is an n·BFS that no 100 TB graph runs for a dashboard.
    */
  val ClosenessSeeds = 8
  val ClosenessMaxDepth = 10

  def closeness(s: SparkSession, dir: String): DataFrame =
    closenessOnEdges(tokenEdges(s, dir))

  /** Closeness + harmonic centrality from the [[ClosenessSeeds]]
    * highest-out-mass nodes (ties lexical — a total order, so the seed
    * set is engine-stable): level-synchronous BFS to depth
    * [[ClosenessMaxDepth]] over the directed unweighted token graph,
    * then per seed
    *
    *   closeness(s) = (|reached| − 1) / Σ_v d(s,v)
    *   harmonic(s)  = Σ_{v≠s} 1/d(s,v)
    *
    * — the freeman closeness beside its disconnection-robust harmonic
    * variant (harmonic degrades gracefully when the BFS ball doesn't
    * cover the graph; closeness of an isolated seed rides as NULL via
    * nullif on both engines). The 1/d terms are floor-rounded to 9 dp
    * and decimal-summed (order-free ⇒ engine-exact); the final
    * division micro-floors once.
    *
    * Scale shape: frontier/seen state is O(seeds·nodes) sharded by
    * seed — the [[betweennessOnEdges]] forward pass ([[brandesLevels]],
    * σ dropped) restricted to a fixed seed frontier, which is exactly
    * how it stays runnable at 100 TB (the seed list shrinks the state
    * linearly; the plan is unchanged).
    */
  def closenessOnEdges(rawEdges: DataFrame,
      maxDepth: Int = ClosenessMaxDepth): DataFrame = {
    val s = rawEdges.sparkSession
    import s.implicits._
    val edges = rawEdges.select($"src", $"dst").distinct().localCheckpoint()
    val levels = brandesLevels(edges, hubSeeds(rawEdges, ClosenessSeeds), maxDepth)
      .zipWithIndex.map { case (f, l) => f.select($"s", $"v", lit(l.toLong).as("dist")) }
    levels.reduce(_ union _)
      .groupBy($"s")
      .agg(
        (count(lit(1)) - 1).as("n_reached"),
        sum($"dist").as("sum_dist"),
        sum(when($"dist" > 0,
          expr("CAST(floor(1.0 / dist * 1e9 + 0.5) / 1e9 AS DECIMAL(18,9))")))
          .cast("double").as("harmonic"))
      .select($"s".as("word"), $"n_reached", $"sum_dist",
        expr("floor(n_reached / nullif(CAST(sum_dist AS DOUBLE), 0) * 1e6 + 0.5) / 1e6")
          .as("closeness"),
        $"harmonic")
  }

  /** DuckDB restatement: seed pick by the same total order, the
    * [[betweennessSql]] forward levels (σ dropped), per-seed rollup with
    * identical rounding.
    */
  val closenessSql: String = {
    val lvlUnion = (0 to ClosenessMaxDepth)
      .map(l => s"SELECT s, v, CAST($l AS BIGINT) AS dist FROM f$l").mkString(" UNION ALL ")
    s"""${brandesLevelsSql(hubSeedsSql(ClosenessSeeds), ClosenessMaxDepth)}
       |SELECT s AS word,
       |  CAST(count(*) - 1 AS BIGINT) AS n_reached,
       |  CAST(sum(dist) AS BIGINT) AS sum_dist,
       |  floor((count(*) - 1) / nullif(CAST(sum(dist) AS DOUBLE), 0)
       |    * 1e6 + 0.5) / 1e6 AS closeness,
       |  CAST(sum(CASE WHEN dist > 0 THEN
       |    CAST(floor(1.0 / dist * 1e9 + 0.5) / 1e9 AS DECIMAL(18,9))
       |    END) AS DOUBLE) AS harmonic
       |FROM ($lvlUnion) u GROUP BY s""".stripMargin
  }

  def personalizedPagerank(s: SparkSession, dir: String): DataFrame =
    pprOnEdges(tokenEdges(s, dir))

  /** Personalized PageRank — the node-proximity primitive behind
    * related-item recommendation and local community scoring: the same
    * damped recurrence as [[pagerankOnEdges]], but ALL teleport mass
    * returns to one personalization seed (the highest-out-mass node,
    * ties lexical — a 1-row model artifact collected once), so the
    * stationary distribution concentrates around the seed's
    * neighborhood instead of scoring global centrality:
    *
    *   r₀(v)    = 1{v = seed}
    *   rₜ₊₁(v) = 0.15·1{v = seed} + 0.85 · Σ_{u→v} rₜ(u)·w_uv
    *
    * It is [[Damped.ranks]] with this r₀ and teleport term: the same
    * Pregel-on-DataFrames shape, decimal-summed contributions and
    * floor(x·1e9+0.5)/1e9 re-rounds as pagerank.
    */
  def pprOnEdges(rawEdges: DataFrame, iters: Int = Iters): DataFrame = {
    val s = rawEdges.sparkSession
    import s.implicits._
    val d = new Damped(rawEdges)
    val seed = d.outW.orderBy($"oc".desc, $"src").limit(1)
      .select($"src").as[String].head()
    val isSeed = $"node" === seed
    d.ranks(when(isSeed, lit(1.0)).otherwise(lit(0.0)),
      when(isSeed, lit(0.15)).otherwise(lit(0.0)), iters)
      .select($"node", $"rank".as("ppr"))
  }

  /** DuckDB restatement: [[dampedSql]] with the seed's r₀ and teleport. */
  val pprSql: String = {
    def atSeed(x: String) =
      s"CASE WHEN node = (SELECT src FROM sd) THEN CAST($x AS DOUBLE) ELSE CAST(0 AS DOUBLE) END"
    dampedSql(tokenEdgeCtes("edges"), atSeed("1"), atSeed("0.15"),
      s"SELECT node, rank AS ppr FROM r$Iters")
  }

  /** node2vec walk budget: walks per start node and steps per walk. */
  val N2vWalks = 2
  val N2vLen = 6

  /** Integer-scaled second-order bias multipliers (×4 so every weight
    * stays BIGINT): return (dst = prev) ×1 ≡ 1/p with p = 4; distance-1
    * (dst adjacent to prev) ×4 ≡ 1; exploration ×16 ≡ 1/q with
    * q = 0.25 — the DFS-leaning setting of Grover & Leskovec (KDD'16
    * §3.2.2; their α_pq with the common p > 1 > q choice).
    */
  val N2vReturnM = 1L
  val N2vNearM = 4L
  val N2vFarM = 16L

  def node2vec(s: SparkSession, dir: String): DataFrame =
    node2vecOnEdges(tokenEdges(s, dir))

  /** node2vec: SECOND-order biased random walks — [[randomWalksOnEdges]]
    * with the Grover–Leskovec α(prev, dst) multiplier on each out-edge
    * weight (discourage returning, encourage exploring), which is what
    * turns a DeepWalk corpus into a BFS/DFS-tunable one. Step 1 is
    * first-order (no prev); steps 2..L re-weight the current node's
    * out-edges by α and pick via the same salted md5-60 draw, located
    * in PER-WALK cumulative intervals computed by a window over the
    * candidate frame (the bias depends on prev, so intervals cannot be
    * precomputed per src — the window runs per step, partitioned by
    * the walk key, exactly the shape that shards by walk at 100 TB).
    * All weights are integer-scaled (×4) so cumulative bounds stay
    * BIGINT-exact on both engines; adjacency (distance-1 test) is a
    * left join against the undirected edge set. Deterministic end to
    * end — replayed by the oracle's unrolled step CTEs and the spec's
    * independent Scala walker. Step 1 is random walks' own pick
    * ([[firstOrderStep]], n2v salt) on random walks' intervals and
    * starts; [[graft.Iterate]] pins steps 3 and 6 and keeps every pin
    * for the corpus.
    */
  def node2vecOnEdges(rawEdges: DataFrame): DataFrame = {
    val s = rawEdges.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val edges = rawEdges.localCheckpoint()
    val (intervals, starts) = walkPrep(edges, N2vWalks)
    val und = edges.select($"src".as("au"), $"dst".as("av"))
      .union(edges.select($"dst".as("au"), $"src".as("av")))
      .distinct()
      .withColumn("adj", lit(1))
      .localCheckpoint()
    val step1 = firstOrderStep(starts, intervals, "n2v", 1)
      .select($"start", $"wid", $"node".as("prev"), $"dst".as("node"))
      .localCheckpoint()
    val wlk = Window.partitionBy($"start", $"wid")
    val wcum = wlk.orderBy($"dst")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    walkCorpus(starts +: Iterate.scan(step1, 2 to N2vLen, every = 3) { (f, r) =>
      val cands = f.join(edges, $"node" === $"src")
        .join(und, $"prev" === $"au" && $"dst" === $"av", "left")
        .withColumn("m",
          when($"dst" === $"prev", N2vReturnM)
            .when($"adj".isNotNull, N2vNearM).otherwise(N2vFarM))
        .withColumn("w", $"cnt" * $"m")
        .withColumn("hi", sum($"w").over(wcum))
        .withColumn("lo", $"hi" - $"w")
        .withColumn("tot", sum($"w").over(wlk))
      val draw = walkDraw("n2v", r.i, $"tot")
      r.pin(cands.where(draw >= $"lo" && draw < $"hi")
        .select($"start", $"wid", $"node".as("prev"), $"dst".as("node")))
    })
  }

  /** DuckDB restatement: random walks' prep and first-order step CTEs,
    * then unrolled step CTEs; per-walk window sums CAST BIGINT (HUGEINT
    * rule); identical α multipliers and md5-60 draws.
    */
  val node2vecSql: String = {
    val steps = (2 to N2vLen).map { t =>
      s"""n$t AS MATERIALIZED (
         |  SELECT start, wid, cur AS prev, dst AS node FROM (
         |    SELECT start, wid, cur, dst, lo, hi, rh % tot AS r
         |    FROM (
         |      SELECT c.start, c.wid, c.cur, c.dst, c.rh,
         |        CAST(sum(c.w) OVER (PARTITION BY c.start, c.wid
         |          ORDER BY c.dst
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c.w
         |          AS BIGINT) AS lo,
         |        CAST(sum(c.w) OVER (PARTITION BY c.start, c.wid
         |          ORDER BY c.dst
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |          AS BIGINT) AS hi,
         |        CAST(sum(c.w) OVER (PARTITION BY c.start, c.wid)
         |          AS BIGINT) AS tot
         |      FROM (
         |        SELECT f.start, f.wid, f.node AS cur, e.dst,
         |          e.cnt * (CASE WHEN e.dst = f.prev THEN $N2vReturnM
         |            WHEN u.au IS NOT NULL THEN $N2vNearM
         |            ELSE $N2vFarM END) AS w,
         |          ${walkDrawSql("n2v", t)} AS rh
         |        FROM n${t - 1} f
         |        JOIN edges e ON e.src = f.node
         |        LEFT JOIN und u ON u.au = f.prev AND u.av = e.dst) c))
         |  WHERE r >= lo AND r < hi)""".stripMargin
    }.mkString(",\n")
    s"""${walkPrepSql(N2vWalks, "n0")},
       |und AS MATERIALIZED (
       |  SELECT src AS au, dst AS av FROM edges
       |  UNION SELECT dst, src FROM edges),
       |${firstOrderStepSql("n1", "n0", "n2v", 1)},
       |$steps
       |${walkCorpusSql("n", N2vLen)}""".stripMargin
  }

  // ------------------------------------------- neighborhood function

  /** Propagation rounds for [[anf]] — must exceed the graph diameter
    * (≤ 6 on every fixture vintage; [[BetwMaxDepth]]'s spec bound
    * covers the same graph), so the last rounds are no-op fixpoints.
    */
  val AnfRounds = 8

  def anf(s: SparkSession, dir: String): DataFrame =
    anfOnEdges(tokenEdges(s, dir))

  /** Approximate neighborhood function by HLL-register propagation —
    * HyperANF (Boldi, Rosa & Vigna, WWW'11): per node, the HLL sketch
    * of ball(v, t) = {u : d(v,u) ≤ t}; one round max-merges each
    * node's registers with its out-neighbors' (register max is
    * exactly set union, the property that makes the sketch
    * composable), so after t rounds the registers ARE the t-ball's
    * sketch. N(t) = Σ_v est(v, t) is the neighborhood function whose
    * saturation point is the effective diameter — at 100 TB this is
    * THE way reach/diameter is measured (exact all-pairs BFS state is
    * |V|² and off the table; per-node register state here is O(V·m)
    * and every round is one equi-join + one max-aggregate, the
    * Pregel-with-mergeable-state shape).
    *
    * Engine-exactness: registers are the md5-60 integer kit
    * ([[Sketches.hllRowSignals]] — DuckDB reproduces every register
    * bit), per-node estimates round to 4 dp, and N(t) sums them as
    * DECIMAL(18,4) — order-free, so the curve compares exactly.
    */
  private[graft] def anfOnEdges(rawEdges: DataFrame,
      rounds: Int = AnfRounds): DataFrame = {
    val s = rawEdges.sparkSession
    import s.implicits._
    val edges = rawEdges.select($"src", $"dst").localCheckpoint()
    val nodes = nodesOf(edges)
    val (idx, mv) = Sketches.hllRowSignals($"node")
    val regs0 = nodes.select($"node", idx.as("idx"), mv.as("m_val"))
      .localCheckpoint()
    def nfAt(t: Int, r: DataFrame): DataFrame =
      Sketches.hllFinalize(r, Seq("node"))
        .agg(sum($"hll_est".cast("decimal(18,4)")).cast("double").as("nf_est"))
        .select(lit(t.toLong).as("t"), $"nf_est")
    // registers pinned every 2 rounds, every pin kept: the curve reads
    // every round's registers
    Iterate.scan(regs0, 1 to rounds, every = 2) { (regs, r) =>
      r.pin(regs
        .unionByName(edges
          .join(regs.withColumnRenamed("node", "nbr"), $"dst" === $"nbr")
          .select($"src".as("node"), $"idx", $"m_val"))
        .groupBy($"node", $"idx").agg(max($"m_val").as("m_val")))
    }.zipWithIndex.map { case (regs, t) => nfAt(t, regs) }.reduce(_ unionByName _)
  }

  /** DuckDB restatement: register tables r0..rT unrolled as
    * MATERIALIZED CTEs (self ∪ out-neighbor max-merge per round), the
    * [[Sketches]] estimator per node, DECIMAL(18,4) rollup per t.
    */
  val anfSql: String = {
    import Sketches.{HllM, HllAlpha, HllRemMod, HllRemBits}
    val roundsSql = (1 to AnfRounds).map { t =>
      s"""r$t AS MATERIALIZED (
         |  SELECT node, idx, max(m_val) AS m_val FROM (
         |    SELECT node, idx, m_val FROM r${t - 1}
         |    UNION ALL
         |    SELECT e.src AS node, r.idx, r.m_val
         |    FROM edges e JOIN r${t - 1} r ON r.node = e.dst)
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    def estAt(t: Int): String =
      s"""SELECT CAST($t AS BIGINT) AS t,
         |  CAST(sum(CAST(round(CASE WHEN raw_est <= 2.5 * $HllM AND zeros > 0
         |    THEN CAST($HllM AS DOUBLE) * ln(CAST($HllM AS DOUBLE) / zeros)
         |    ELSE raw_est END, 4) AS DECIMAL(18,4))) AS DOUBLE) AS nf_est
         |FROM (
         |  SELECT node, $HllM - count(*) AS zeros,
         |    CAST($HllAlpha AS DOUBLE) * $HllM * $HllM /
         |      (CAST(sum(CAST(round(pow(2.0, -m_val), 18) AS DECIMAL(38,18)))
         |         AS DOUBLE) + ($HllM - count(*))) AS raw_est
         |  FROM r$t GROUP BY node)""".stripMargin
    val curve = (0 to AnfRounds).map(estAt).mkString(" UNION ALL ")
    s"""WITH ${tokenEdgeCtes("edges", counted = false, materialized = true)},
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |r0 AS MATERIALIZED (
       |  SELECT node, hv // $HllRemMod AS idx,
       |    max(CASE WHEN hv % $HllRemMod = 0 THEN 49
       |        ELSE ${HllRemBits + 1} - length(bin(hv % $HllRemMod)) END)
       |      AS m_val
       |  FROM (
       |    SELECT node,
       |      CAST('0x' || substr(md5(node), 1, 15) AS BIGINT) AS hv
       |    FROM nodes)
       |  GROUP BY 1, 2),
       |$roundsSql
       |$curve""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_textrank" -> (textrank _),
    "graph_anf" -> (anf _),
    "graph_closeness" -> (closeness _),
    "graph_node2vec" -> (node2vec _),
    "graph_ppr" -> (personalizedPagerank _),
    "graph_betweenness" -> (betweenness _),
    "graph_betweenness_approx" -> (betweennessApprox _),
    "graph_random_walks" -> (randomWalks _),
    "graph_mst" -> (maxSpanningTree _),
    "graph_single_linkage" -> (singleLinkage _),
    "graph_labelprop" -> (labelProp _),
    "graph_sssp" -> (sssp _),
    "graph_modularity" -> (modularity _),
    "graph_assortativity" -> (assortativity _),
    "graph_local_clustering" -> (localClustering _),
    "graph_kcore" -> (kcore _),
    "graph_bfs" -> (bfs _),
    "graph_pagerank" -> (pagerank _),
    "graph_triangles" -> (triangles _),
    "graph_neighbor_jaccard" -> (neighborSimilarity _),
    "graph_adamic_adar" -> (adamicAdar _),
    "graph_hits" -> (hits _))

  def oracles: Map[String, String] = Map(
    "graph_anf" -> anfSql,
    "graph_node2vec" -> node2vecSql,
    "graph_ppr" -> pprSql,
    "graph_betweenness" -> betweennessSql,
    "graph_betweenness_approx" -> betweennessApproxSql,
    "graph_random_walks" -> randomWalksSql,
    "graph_mst" -> maxSpanningTreeSql,
    "graph_single_linkage" -> singleLinkageSql,
    "graph_labelprop" -> labelPropSql,
    "graph_sssp" -> ssspSql,
    "graph_modularity" -> modularitySql,
    "graph_assortativity" -> assortativitySql,
    "graph_local_clustering" -> localClusteringSql,
    "graph_kcore" -> kcoreSql,
    "graph_bfs" -> bfsSql,
    "graph_pagerank" -> pagerankSql,
    "graph_triangles" -> trianglesSql,
    "graph_neighbor_jaccard" -> neighborSimilaritySql,
    "graph_adamic_adar" -> adamicAdarSql,
    "graph_hits" -> hitsSql,
    "doc_textrank" -> textrankSql,
    "graph_closeness" -> closenessSql)
}

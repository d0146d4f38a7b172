package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.engine.Tables
import graft.functions.Scalars.roundTo

/** Iterative graph analytics over a derived trade graph. Web-scale corpus
  * curation weighs documents by link-graph centrality (PageRank / harmonic
  * centrality over the crawl graph — the Common-Crawl-style quality
  * signal); this module demonstrates the engine's iterative-computation
  * shape on the fixtures' natural graph: nation → nation trade edges
  * (customer's nation buys from supplier's nation, weight = lineitem
  * count).
  *
  * Topology per iteration: ranks (|V| rows) broadcast against the
  * edge table (|E| rows, partitioned by src and CACHED once), map-side
  * multiply, one shuffle keyed by dst for the inflow sum — the standard
  * Pregel-on-DataFrames layout. |V| ≪ |E| always holds for this signal
  * (25 vs ~60k here; ~10^9 hosts vs ~10^12 links at crawl scale, where
  * ranks move from broadcast to a co-partitioned shuffle join and each
  * iteration localCheckpoints to cut lineage — noted, not needed at
  * fixture scale). No driver-side graph state: the driver holds only the
  * loop counter.
  *
  * Reference provenance: no graph ops exist in the reference (SURVEY.md
  * §2.7); this extends the LLM-pipeline surface (corpus quality
  * weighting).
  */
object GraphOps extends QueryModule {

  private val damping = 0.85
  private val iters = 8

  /** Weighted PageRank, `iters` synchronous iterations, no dangling-mass
    * redistribution (every nation has outgoing trade in TPC-H data; the
    * choice is mirrored exactly in the oracle). r_{k+1}(v) = (1-d)/N +
    * d * Σ_{u→v} p(u,v) · r_k(u), p = edge weight / out-weight.
    * Constants are written so both engines evaluate bit-identical
    * literals (0.15/N, 0.85), and the final rank is rounded to 6 dp —
    * cross-engine float-sum-order noise is ~1e-13 after 8 iterations,
    * far below the rounding resolution.
    */
  def pageRank(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
    val edges = li
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").cast("long").as("src"),
        col("s_nationkey").cast("long").as("dst"))
      .agg(count(lit(1)).cast("double").as("w"))
    val norm = edges
      .withColumn("p", col("w") / sum(col("w")).over(Window.partitionBy("src")))
      .select("src", "dst", "p")
      .cache()
    val nations = Tables.nation(s, dir).select(col("n_nationkey").cast("long").as("id"))
    val n = nations.count().toDouble // 25-row dimension probe, not data-plane
    val base = 0.15 / n
    var ranks = nations.withColumn("r", lit(1.0 / n))
    for (_ <- 1 to iters) {
      val contrib = norm
        .join(broadcast(ranks), col("src") === col("id"))
        .groupBy(col("dst"))
        .agg(sum(col("p") * col("r")).as("inflow"))
      // contrib is |V|-bounded (≤ one row per node) — broadcast it so the
      // base-term outer join never plans sort-merge exchanges
      ranks = nations
        .join(broadcast(contrib), nations("id") === contrib("dst"), "left")
        .select(col("id"), (lit(base) + lit(damping) * coalesce(col("inflow"), lit(0.0))).as("r"))
    }
    ranks
      .select(col("id").as("nationkey"), roundTo(col("r"), 6).as("pagerank"))
      .orderBy("nationkey")
  }

  val pageRankOracle: String = {
    // CAST decimal literals to DOUBLE: DuckDB parses 0.15 as DECIMAL(3,2)
    // and would run the recurrence in decimal arithmetic, diverging from
    // Spark's IEEE doubles.
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS (
         | SELECT n.id, CAST(0.15 AS DOUBLE)/(SELECT count(*) FROM nation)
         |   + CAST(0.85 AS DOUBLE) * COALESCE(SUM(ew.p * p.r), 0) AS r
         | FROM n LEFT JOIN ew ON ew.dst = n.id LEFT JOIN r${i - 1} p ON p.id = ew.src
         | GROUP BY n.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       | SELECT CAST(c.c_nationkey AS BIGINT) AS src, CAST(s.s_nationkey AS BIGINT) AS dst,
       |  CAST(count(*) AS DOUBLE) AS w
       | FROM lineitem l
       | JOIN orders o ON l.l_orderkey = o.o_orderkey
       | JOIN customer c ON o.o_custkey = c.c_custkey
       | JOIN supplier s ON l.l_suppkey = s.s_suppkey
       | GROUP BY 1, 2),
       |ew AS (SELECT src, dst, w / SUM(w) OVER (PARTITION BY src) AS p FROM e),
       |n AS (SELECT CAST(n_nationkey AS BIGINT) AS id FROM nation),
       |r0 AS (SELECT id, CAST(1.0 AS DOUBLE)/(SELECT count(*) FROM nation) AS r FROM n),
       |$iterCtes
       |SELECT id AS nationkey, floor(r * 1e6 + 0.5) / 1e6 AS pagerank
       |FROM r$iters ORDER BY nationkey""".stripMargin
  }

  /** Triangle counting on the part co-purchase graph (parts are adjacent
    * iff some order contains both) — the clustering-coefficient /
    * community-density signal a crawl-graph curation pass computes next
    * to PageRank. Top-20 parts by triangle membership.
    *
    * Degree-ordered compact-forward (edge-iterator), not the naive
    * three-way edge self-join:
    *  1. orient every undirected edge from its lower-TOTAL-DEGREE
    *     endpoint to the higher (key tiebreak) — out-degrees are then
    *     O(√m) regardless of skew, so hub nodes never enumerate their
    *     full neighborhood squared;
    *  2. build the out-adjacency list per node (|V| rows, each ≤ O(√m)
    *     long) and, per oriented edge (u,v), intersect N⁺(u) ∩ N⁺(v).
    *     Each hit w closes the triangle u→v, u→w, v→w, and every
    *     triangle is found exactly once (at its unique in-degree-0
    *     vertex pair under the acyclic orientation). Work is
    *     Σ_{(u,v)∈E} (d⁺(u)+d⁺(v)) = O(m^1.5), but — unlike the wedge
    *     join spelled as oriented ⋈ oriented — the O(m^1.5) candidate
    *     wedge stream is never materialized or shuffled: it collapses
    *     inside the per-row array_intersect.
    *
    * Scale: edge generation is a per-order self-join — fan-out bounded
    * by order size (≤ 7 lineitems in TPC-H-shaped data), so it is a
    * keyed join, not a cross product. The adjacency table is |V| rows ×
    * O(√m) entries (~7 MB at sf0.1) and broadcasts; when |E| outgrows a
    * broadcast at crawl scale, the two adjacency attachments revert to
    * keyed shuffles of the edge list (by u, then by v) against the
    * key-partitioned adjacency table — still no wedge materialization.
    */
  /** Distinct (order, part) incidences — the bipartite base of the
    * co-purchase graph shared by [[triangles]], [[basketLift]] and
    * [[kCore]].
    */
  private def liDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()

  /** Within-order part pairs (a < b), one row per co-occurrence — a keyed
    * self-join whose fan-out is bounded by order size (≤ 7 lineitems in
    * TPC-H-shaped data), never a cross product.
    */
  private def coPairs(li: DataFrame): DataFrame =
    li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("a"), col("y.pk").as("b"))

  private val pairCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** The COUNTED co-purchase pair census (a, b, n_ab), materialized once
    * per (session, fixture) — the maintained artifact all three graph
    * queries project from ([[basketLift]] reads the counts; [[triangles]]
    * and [[kCore]] read its key set as the distinct edge list) instead of
    * re-deriving the lineitem self-join each (the
    * [[graft.operators.SimilarityIndex]] memoization precedent). Keyed by
    * applicationId (so a checkpointed RDD never leaks across Spark
    * contexts) AND the fixture content fingerprint (so a rewritten
    * lineitem.parquet under the same dir retrains instead of serving
    * stale counts — ADVICE r10, same scheme as the Clustering/BPE memos).
    * Eviction-with-unpersist discipline lives in
    * [[SimilarityIndex.memoCheckpoint]] (shared with [[Clustering]]).
    */
  private def coPairCounts(s: SparkSession, dir: String): DataFrame =
    SimilarityIndex.memoCheckpoint(pairCache, s, dir, "lineitem.parquet")(
      coPairs(liDistinct(s, dir))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab")))

  /** The distinct co-purchase edge set — the census's key projection. */
  private def coEdges(s: SparkSession, dir: String): DataFrame =
    coPairCounts(s, dir).select(col("a"), col("b"))

  def triangles(s: SparkSession, dir: String): DataFrame = {
    val e = coEdges(s, dir)
    // deg is |V|-bounded — materialize it once (localCheckpoint) so the
    // two broadcast attachments below don't each re-run the |E|-sized
    // union+aggregate (r20: the unmaterialized plan re-computed this
    // subtree four times — twice per deg side, again inside each adj
    // branch — because the renamed projections make the subtrees
    // canonically distinct, so ReusedExchange never applies)
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
      .localCheckpoint()
    // deg is |V|-bounded and the closing probe is |E|-bounded (16 B/edge —
    // ~15 MB at sf0.1, above the 10 MB auto-broadcast bar, far below
    // executor memory). Broadcast both: the wedge stream (O(m^1.5) rows,
    // the big side by an order of magnitude) then never shuffles or sorts.
    // At crawl scale where |E| outgrows a broadcast, the closing join
    // reverts to a keyed shuffle on (u, v) — the wedge stream is hash-
    // partitioned straight out of the wedge join, no extra pass.
    val withDeg = e
      .join(broadcast(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da")), "a")
      .join(broadcast(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db")), "b")
    // oriented (|E| rows × 2 longs) feeds two consumers — the adjacency
    // build and the wedge stream — but stays LAZY (r21): it is a map-only
    // projection over the memoized pair census plus two broadcast attaches
    // of the checkpointed deg, so recomputing it twice costs two cheap
    // narrow passes, while the r20 eager checkpoint paid an |E|-row
    // materialization job that measured SLOWER than the duplicate passes
    // at bench scale (2.04 s vs the 1.53–1.68 s band). Only the
    // |V|-bounded deg/adj are materialized.
    val oriented = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        col("a")).otherwise(col("b")).as("src"),
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        col("b")).otherwise(col("a")).as("dst"))
    val adj = oriented.groupBy(col("src")).agg(collect_list(col("dst")).as("nbrs"))
      .localCheckpoint()
    val tris = oriented
      .join(broadcast(adj.select(col("src").as("au"), col("nbrs").as("nu"))),
        col("src") === col("au"))
      .join(broadcast(adj.select(col("src").as("av"), col("nbrs").as("nv"))),
        col("dst") === col("av"))
      .select(col("src"), col("dst"),
        explode(array_intersect(col("nu"), col("nv"))).as("w"))
    tris.select(explode(array(col("src"), col("dst"), col("w"))).as("partkey"))
      .groupBy("partkey").agg(count(lit(1)).as("tri_cnt"))
      .orderBy(col("tri_cnt").desc, col("partkey"))
      .limit(20)
  }

  /** Oracle enumerates each triangle once by key order (a<b<c) — simpler
    * to state in SQL, identical triangle set; only the Spark side needs
    * the degree orientation's skew bound.
    */
  val trianglesOracle: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (SELECT DISTINCT x.pk AS a, y.pk AS b
      |      FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
      |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |      FROM e e1
      |      JOIN e e2 ON e2.a = e1.b
      |      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |m AS (SELECT x AS partkey FROM t
      |      UNION ALL SELECT y FROM t
      |      UNION ALL SELECT z FROM t)
      |SELECT partkey, count(*) AS tri_cnt FROM m
      |GROUP BY partkey ORDER BY tri_cnt DESC, partkey LIMIT 20""".stripMargin

  /** Market-basket association strength over the same co-purchase pairs
    * [[triangles]] builds its graph from: top-20 part pairs by joint
    * order count, with support, confidence and lift. The co-occurrence
    * strength signal (PMI's set-valued cousin — see
    * [[LexiconOps.collocationPmi]] for the token rendition) that decides
    * which near-dup cluster exemplars or interleaved modalities belong
    * together.
    *
    * Determinism: ranked by the exact integer joint count (ties on the
    * key pair), never by the derived floats; support/confidence/lift are
    * display columns rounded at 6 dp. Scale: pair census is the bounded
    * per-order self-join + keyed aggregate; the top-20 is a
    * TakeOrderedAndProject; per-part counts attach to the 20 survivors
    * via broadcast; the order total is a 1-row broadcast scalar.
    */
  def basketLift(s: SparkSession, dir: String): DataFrame = {
    val li = liDistinct(s, dir)
    val pairs = coPairCounts(s, dir)
    val top = pairs.orderBy(col("n_ab").desc, col("a"), col("b")).limit(20)
    val pcnt = li.groupBy(col("pk")).agg(count(lit(1)).as("n_p"))
    val tot = li.agg(countDistinct(col("ok")).as("n_orders"))
    broadcast(top)
      .join(pcnt.select(col("pk").as("a"), col("n_p").as("n_a")), "a")
      .join(pcnt.select(col("pk").as("b"), col("n_p").as("n_b")), "b")
      .crossJoin(broadcast(tot))
      .select(col("a").as("part_a"), col("b").as("part_b"), col("n_ab"),
        col("n_a"), col("n_b"),
        roundTo(col("n_ab") / col("n_orders"), 6).as("support"),
        roundTo(col("n_ab") / col("n_a"), 6).as("confidence"),
        roundTo((col("n_ab") * col("n_orders")) / (col("n_a") * col("n_b")), 6)
          .as("lift"))
      .orderBy(col("n_ab").desc, col("part_a"), col("part_b"))
  }

  val basketLiftOracle: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |pairs AS (SELECT x.pk AS a, y.pk AS b, count(*) AS n_ab
      |          FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk GROUP BY 1, 2),
      |top AS (SELECT a, b, n_ab FROM pairs ORDER BY n_ab DESC, a, b LIMIT 20),
      |pc AS (SELECT pk, count(*) AS n_p FROM li GROUP BY pk),
      |tot AS (SELECT count(DISTINCT ok) AS n_orders FROM li)
      |SELECT t.a AS part_a, t.b AS part_b, t.n_ab,
      | pa.n_p AS n_a, pb.n_p AS n_b,
      | floor((t.n_ab / n_orders) * 1e6 + 0.5) / 1e6 AS support,
      | floor((t.n_ab / pa.n_p) * 1e6 + 0.5) / 1e6 AS confidence,
      | floor(((t.n_ab * n_orders) / (pa.n_p * pb.n_p)) * 1e6 + 0.5) / 1e6 AS lift
      |FROM top t
      |JOIN pc pa ON pa.pk = t.a
      |JOIN pc pb ON pb.pk = t.b, tot
      |ORDER BY t.n_ab DESC, part_a, part_b""".stripMargin

  /** Relative threshold: k = ceil(0.65 × mean degree). An absolute k
    * cannot be fixture-scale-stable here — the co-purchase graph is
    * near-random, and a random graph's core collapses to EMPTY once k
    * crosses a critical fraction of the mean degree (probed: k=80 keeps
    * 1857/2000 nodes at sf0.01 but zero at sf0.001; 0.7×mean sits on
    * the critical slope with 19–21-round cascades). 0.65×mean yields a
    * strict non-empty core with genuine multi-round peeling at every
    * fixture scale (1/3/5 rounds at sf0.001/0.01/0.1), safely within
    * the fixed 8-round budget both engines run.
    */
  private val kCoreFactor = 0.65
  private val kCoreRounds = 8

  /** k-core of the part co-purchase graph: the maximal subgraph in which
    * every surviving node keeps ≥ k neighbors — the density filter crawl
    * curation uses to separate organically-linked hosts from spray-linked
    * spam, and the third member of the graph-signal family next to
    * [[pageRank]] and [[triangles]]. Top-20 survivors by within-core
    * degree.
    *
    * Synchronous peeling: each round drops every node whose degree within
    * the currently-alive induced subgraph is < k, recomputing degrees
    * against the survivors. Alive sets shrink monotonically, so equal
    * consecutive rounds = the unique fixpoint; at the pinned relative
    * threshold (see [[kCoreFactor]]) the fixture converges within 5
    * rounds at every scale (probed; the spec asserts the fixpoint at
    * operator level). Both engines run the same FIXED round budget, so
    * the oracle compares exactly even where convergence needs fewer
    * rounds.
    *
    * Scale: per round, the alive set (|V|-bounded — the same bound the
    * former `broadcast(alive)` DataFrame relied on) broadcasts against
    * the cached edge list for the induced-subgraph restriction, then one
    * keyed count with map-side combine — the Pregel-style degree-filter
    * iteration. The loop body is the RDD API (r21), like
    * [[graft.operators.Dedup.connectedComponents]] and for the same
    * measured reason: a DataFrame loop re-runs Catalyst
    * analysis/optimization + codegen per round and needs an eager
    * localCheckpoint per round just to stop 4^rounds plan duplication —
    * fixed driver cost that dominated this query at dup-graph scale. At
    * crawl scale where |V| outgrows a broadcast, the restriction
    * becomes a co-partitioned semi-join keyed on the edge endpoint.
    */
  def kCore(s: SparkSession, dir: String, kOverride: Option[Long] = None,
      rounds: Int = kCoreRounds): DataFrame = {
    // The peel loop is the RDD API for the same reason the
    // [[graft.operators.Dedup.connectedComponents]] loop is (r21): a
    // DataFrame loop re-runs Catalyst analysis/optimization and
    // whole-stage codegen per round (~200–350 ms driver time each, the
    // CC measurement) plus an eager localCheckpoint job per round —
    // that fixed cost dominated graph_kcore at bench scale (driver:
    // 3.27 s @32c for 5 rounds over a ~20k-node graph). Per round here:
    // broadcast the |V|-bounded alive set (a sorted long array — the
    // SAME driver/executor memory shape the former explicit
    // `broadcast(alive)` DataFrame had), one filter+reduceByKey over
    // the cached edge list with map-side combine, one collect. At crawl
    // scale where |V| outgrows a broadcast, the restriction becomes a
    // co-partitioned semi-join keyed on the edge endpoint — unchanged
    // from the former DataFrame spelling's scale argument.
    import org.apache.spark.storage.StorageLevel
    val sc = s.sparkContext
    val edges = coEdges(s, dir)
      .select(col("a").cast("long"), col("b").cast("long"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the arithmetic mirrors the oracle operation-for-operation:
    // integer 2·|E| first, THEN the double division
    var alive: Array[Long] = edges
      .flatMap { case (a, b) => Iterator(a, b) }.distinct().collect().sorted
    val k = kOverride.getOrElse {
      val ne = edges.count()
      math.ceil(kCoreFactor * ((2L * ne).toDouble / alive.length)).toLong
    }
    // `use` consumes the degrees eagerly: the alive-set broadcast is
    // destroyed as soon as it returns, so a long session keeps none of
    // the per-round copies
    def coreDegrees[T](aliveSet: Array[Long])(
        use: org.apache.spark.rdd.RDD[(Long, Long)] => T): T = {
      val bset = sc.broadcast(aliveSet)
      try use(edges.filter { case (a, b) =>
        java.util.Arrays.binarySearch(bset.value, a) >= 0 &&
          java.util.Arrays.binarySearch(bset.value, b) >= 0
      }.flatMap { case (a, b) => Iterator((a, 1L), (b, 1L)) }
        .reduceByKey(_ + _))
      finally bset.destroy()
    }
    // alive sets shrink monotonically, so an unchanged count IS the
    // fixpoint — stop early rather than burn the remaining no-op rounds
    // (the oracle's fixed-round spelling agrees at any round >= the
    // convergence round)
    var prev = -1L
    var r = 0
    while (r < rounds && prev != alive.length && alive.length != 0) {
      prev = alive.length
      alive = coreDegrees(alive)(
        _.filter { case (_, d) => d >= k }.keys.collect().sorted)
      r += 1
    }
    // materialize the census into the DF world (eager localCheckpoint,
    // |V|-bounded) BEFORE releasing the cached edges — the CC pattern
    val census = coreDegrees(alive)(d =>
      s.createDataFrame(d).toDF("partkey", "core_deg").localCheckpoint(true))
    edges.unpersist(blocking = false)
    census
      .orderBy(col("core_deg").desc, col("partkey"))
      .limit(20)
  }

  /** MATERIALIZED CTEs are load-bearing: each round references its
    * predecessor twice, and DuckDB's default CTE inlining would re-expand
    * the whole chain 2^rounds times.
    */
  val kCoreOracle: String = {
    val iters = (1 to kCoreRounds).map { i =>
      s"""a$i AS MATERIALIZED (
         | SELECT v FROM (
         |  SELECT v, count(*) AS c FROM (
         |   SELECT e.a AS v FROM e JOIN a${i - 1} x ON e.a = x.v JOIN a${i - 1} y ON e.b = y.v
         |   UNION ALL
         |   SELECT e.b FROM e JOIN a${i - 1} x ON e.a = x.v JOIN a${i - 1} y ON e.b = y.v) GROUP BY v)
         | WHERE c >= (SELECT k FROM kk))""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS MATERIALIZED (
       | SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e AS MATERIALIZED (
       | SELECT DISTINCT x.pk AS a, y.pk AS b
       | FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
       |a0 AS MATERIALIZED (SELECT a AS v FROM e UNION SELECT b FROM e),
       |kk AS MATERIALIZED (
       | SELECT CAST(ceil(CAST($kCoreFactor AS DOUBLE) *
       |   ((2 * (SELECT count(*) FROM e)) / (SELECT count(*) FROM a0))) AS BIGINT) AS k),
       |$iters,
       |core AS (SELECT e.a, e.b FROM e
       |         JOIN a$kCoreRounds x ON e.a = x.v
       |         JOIN a$kCoreRounds y ON e.b = y.v)
       |SELECT partkey, count(*) AS core_deg
       |FROM (SELECT a AS partkey FROM core UNION ALL SELECT b FROM core)
       |GROUP BY partkey ORDER BY core_deg DESC, partkey LIMIT 20""".stripMargin
  }

  override def queries: Seq[RegisteredQuery] = Seq(
    RegisteredQuery("graph_pagerank", pageRank, Some(pageRankOracle)),
    RegisteredQuery("graph_triangles", triangles, Some(trianglesOracle)),
    RegisteredQuery("basket_lift", basketLift, Some(basketLiftOracle)),
    RegisteredQuery("graph_kcore", (s, d) => kCore(s, d), Some(kCoreOracle)),
  )
}

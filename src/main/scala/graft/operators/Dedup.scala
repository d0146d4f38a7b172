package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.engine.Tables
import graft.functions.Scalars._

/** Deduplication operators over the `documents` table: exact (hash groupBy),
  * n-gram-Jaccard brute force (the correctness baseline), MinHash+LSH (the
  * scale path: shingle → signature → band → bucket-join), and SimHash with
  * banded candidate generation.
  *
  * Performance: higher-order-function lambdas are NOT whole-stage-codegen'd
  * in Spark, so the hot paths avoid repeated work inside them — shingles are
  * hashed to longs ONCE (string compares/hashes disappear from the O(n²)
  * intersections; a 64-bit collision inside one doc pair is ~1e-15), MinHash
  * permutations re-hash those longs (cheap) instead of 32 string
  * re-hashes, and SimHash bit-votes run as a codegen'd explode → hash-
  * aggregate with 64 conditional sums instead of 64 interpreted filters.
  *
  * Scale notes: brute-force pairwise is O(n²)-per-block and exists as the
  * oracle-checkable baseline; at 100 TB only the LSH paths run — their
  * shuffles are keyed on (band_id, band_hash), so candidate generation is
  * one exchange of (docs × bands) small rows rather than a cross join, and
  * verification touches only bucket-colliding pairs.
  */
object Dedup extends QueryModule {

  private val jaccardThreshold = 0.4

  /** Document-frequency cap on shingles: a shingle occurring in more than
    * this many documents is dropped from the postings. Natural corpora have
    * power-law shingle DF — one boilerplate shingle in k docs emits k²
    * candidate rows in the inverted-index self-join, the classic skew
    * killer at 100 TB. Dropping DF > cap shingles only loses pairs whose
    * ENTIRE overlap is such stop-shingles (standard near-dup practice).
    * The fixture corpus maxes out at DF=25 (sf0.1), so 100 changes no
    * fixture result; the oracle applies the identical filter either way.
    */
  val shingleDfCap = 100

  /** Distinct 3-token shingles per doc, hashed to longs, as flat UNCAPPED
    * posting rows (doc_id, lang, g). Shingling + hashing + per-doc dedup
    * run as ONE per-row kernel ([[graft.functions.ShingleHashes]]) +
    * explode — a map-only stage with ZERO shuffles. The relational
    * formulation (posexplode → lead window → concat_ws+xxhash64 →
    * distinct) computes the identical longs but pays a window exchange and
    * a distinct exchange per pass — measured ~3x slower, and the dominant
    * cost of every dedup-family query since postings are built once per
    * consumer branch. Docs with <3 tokens contribute their whole text as
    * the one shingle (matching the oracle's CASE for the 1- and 2-token
    * forms).
    */
  def rawPostingsOf(docs: DataFrame): DataFrame = {
    graft.functions.TextKernels.register(docs.sparkSession)
    docs.select(col("doc_id"), col("lang"),
      explode(expr(s"${graft.functions.TextKernels.shingleHashesName}(text)")).as("g"))
  }

  /** [[rawPostingsOf]] with the DF cap applied. The cap runs as an
    * AGGREGATE over `g` plus an anti-join of the (few) hot shingles — not
    * a count-over-g window: map-side partial aggregation bounds per-task
    * state even when one boilerplate shingle occurs in a billion docs,
    * whereas a window would buffer every posting of that shingle in a
    * single task before the filter could drop it — the exact skew the cap
    * exists to kill. Both anti-join sides hash-partition on `g`, so the
    * shared shingling Exchange is reused (ReuseExchange) rather than
    * recomputed, and the output stays g-partitioned for downstream
    * postings consumers.
    */
  def postingsOf(docs: DataFrame, dfCap: Int = shingleDfCap): DataFrame = {
    val raw = rawPostingsOf(docs)
    val hot = raw.groupBy("g").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > dfCap)
      .select("g")
    raw.join(hot, Seq("g"), "left_anti")
  }

  private def postings(s: SparkSession, dir: String): DataFrame =
    postingsOf(Tables.documents(s, dir))

  private val shingledSql: String =
    """SELECT doc_id, lang,
      | CASE WHEN len(t) >= 3 THEN
      |  list_distinct(list_transform(range(1, len(t)-1), i -> array_to_string(list_slice(t, i, i+2), ' ')))
      | ELSE list_distinct([array_to_string(t, ' ')]) END AS s
      |FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM documents)""".stripMargin

  /** Exploded uncapped postings, mirroring [[rawPostingsOf]] exactly
    * (string shingles stand in for the xxhash64 longs — only equality is
    * ever used, and 64-bit collisions are ~1e-15).
    */
  private val rawPostingsSql: String =
    s"""SELECT doc_id, lang, unnest(s) AS g FROM ($shingledSql)""".stripMargin

  /** [[rawPostingsSql]] with the DF cap, mirroring [[postingsOf]]. */
  private val postingsSql: String =
    s"""SELECT doc_id, lang, g FROM ($rawPostingsSql)
       |QUALIFY count(*) OVER (PARTITION BY g) <= $shingleDfCap""".stripMargin

  /** Exact dedup by content (hash groupBy). The fixture corpus has no
    * duplicates, so a replicated slice (every 5th doc re-keyed) is unioned
    * in first; survivors keep the minimum key, reference-style
    * first-write-wins (src/database.py:169-184 upsert semantics inverted
    * to keep-oldest).
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val dupes = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    docs.unionByName(dupes)
      .groupBy("text")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")
  }

  val dedupExactOracle: String =
    """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
      |FROM (SELECT doc_id, text FROM documents
      |      UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0)
      |GROUP BY text ORDER BY doc_id""".stripMargin

  /** Exact pairwise Jaccard via the inverted index in ONE postings pass:
    * J(A,B) >= t > 0 requires a shared shingle, so group postings by
    * shingle, emit the (bounded, thanks to [[shingleDfCap]]) doc-pair
    * combinations per shingle, and |A∩B| is the per-pair row COUNT
    * (shingle sets are distinct). Per-doc set sizes ride along on each
    * posting via a doc_id window, so no separate sizes pass and no
    * self-join — the corpus is shingled exactly once per query (the old
    * self-join + broadcast-sizes formulation re-shingled it 3×).
    * The groupBy(g) lands on the DF-cap window's existing hash
    * partitioning — no extra exchange; collect_list is capped at
    * [[shingleDfCap]] entries so no group can blow up an executor.
    */
  private def pairJaccard(posts: DataFrame, byLang: Boolean): DataFrame = {
    graft.functions.TextKernels.register(posts.sparkSession)
    val wDoc = Window.partitionBy("doc_id")
    val grouped = posts
      .withColumn("n", count(lit(1)).over(wDoc))
      .groupBy("g")
      .agg(collect_list(struct(col("doc_id"), col("n"), col("lang"))).as("ds"))
    val langOk = if (byLang) col("a.lang") === col("b.lang") else lit(true)
    grouped
      // graft_pairs emits the k(k-1)/2 doc-ordered combinations per
      // shingle group directly — the double-explode spelling generated k²
      // rows and discarded half through the a<b filter, doubling the
      // widest intermediate of the whole dedup family
      .selectExpr(s"${graft.functions.PairCombinations.name}(ds) AS (a, b)")
      .filter(langOk)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"),
        first(col("a.n")).as("na"), first(col("b.n")).as("nb"))
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
  }

  /** Near-dup pairs by exact 3-gram-shingle Jaccard (lang is the blocking
    * key — real pipelines block before pairwise comparison; the unblocked
    * scale path is [[dedupMinhashLsh]]). Spark computes it via the
    * inverted-index count; the oracle's plain blocked brute force computes
    * the identical result set.
    */
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    pairJaccard(postings(s, dir), byLang = true)
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("doc_a"), col("doc_b"), roundTo(col("jaccard"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")

  val dedupNgramJaccardOracle: String =
    s"""WITH posts AS ($postingsSql),
       |sizes AS (SELECT doc_id, count(*) AS n FROM posts GROUP BY doc_id),
       |inter AS (
       | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
       | FROM posts a JOIN posts b ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
       | GROUP BY 1, 2)
       |SELECT doc_a, doc_b, floor(j * 1e4 + 0.5) / 1e4 AS jaccard FROM (
       | SELECT doc_a, doc_b, i::DOUBLE / (sa.n + sb.n - i) AS j
       | FROM inter
       | JOIN sizes sa ON sa.doc_id = inter.doc_a
       | JOIN sizes sb ON sb.doc_id = inter.doc_b)
       |WHERE j >= $jaccardThreshold ORDER BY doc_a, doc_b""".stripMargin

  /** [[contaminationCheck]] with a Bloom-filter PRE-SCREEN — identical
    * results (Bloom filters have no false negatives; false positives die
    * in the exact join), so it shares the exact-path oracle, but the
    * corpus postings are first filtered by a codegen'd bitset test
    * ([[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]],
    * the expression Spark's own runtime row-group filters use). The
    * sketch is built driver-side over the PROBE set's shingle hashes —
    * probe/benchmark sets are index-metadata-sized by definition (same
    * argument as the IVF centroid training) — and ships to executors as
    * a literal closed over by the registered function. At 100 TB this is
    * the shape that survives a probe set too large to broadcast-join
    * cheaply: ~all corpus postings drop at the scan, and only the
    * sketch-surviving sliver reaches the exact join.
    */
  def contaminationBloom(s: SparkSession, dir: String): DataFrame = {
    val minShared = 2
    val posts = rawPostingsOf(Tables.documents(s, dir))
    val bench = posts.filter(col("doc_id") < 5)
      .select(col("doc_id").as("bench_id"), col("g"))
    val bloom = bench.stat.bloomFilter("g", 4096L, 0.01)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bench_bloom",
      exprs => org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          bytes, org.apache.spark.sql.types.BinaryType),
        exprs(0)),
      "built-in")
    posts.filter(col("doc_id") >= 5)
      .filter(expr("graft_bench_bloom(g)"))
      .join(broadcast(bench), "g")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("shared_shingles"))
      .filter(col("shared_shingles") >= minShared)
      .orderBy("doc_id", "bench_id")
  }

  /** Incremental (CDC-shaped) near-dup check: an INCOMING batch screened
    * against the EXISTING corpus — the dedup a production ingest actually
    * runs per batch, asymmetric where [[dedupNgramJaccard]] is whole-corpus.
    * The fixture has no second batch, so every 25th doc is replayed
    * re-keyed (+100000) as the incoming batch — re-crawled duplicates,
    * identically in the oracle. The inverted-index join is one-sided
    * (incoming postings × existing postings on shingle+lang), so cost
    * scales with the BATCH, not the corpus pair count; per-doc set sizes
    * ride on a window over the shared capped postings. At 100 TB the
    * existing side's postings are a maintained index, not recomputed.
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
    val incoming = base.filter(col("doc_id") % 25 === 0)
      .withColumn("doc_id", col("doc_id") + 100000L)
    val posts = postingsOf(base.unionByName(incoming))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
    val pNew = posts.filter(col("doc_id") >= 100000L)
      .select(col("doc_id").as("new_id"), col("g"), col("lang"), col("n").as("nn"))
    val pOld = posts.filter(col("doc_id") < 100000L)
      .select(col("doc_id").as("old_id"), col("g"), col("lang").as("ol"), col("n").as("no"))
    pNew.join(pOld, pNew("g") === pOld("g") && pNew("lang") === pOld("ol"))
      .groupBy(col("new_id"), col("old_id"))
      .agg(count(lit(1)).as("inter"), first(col("nn")).as("na"), first(col("no")).as("nb"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("new_id"), col("old_id"), roundTo(col("jaccard"), 4).as("jaccard"))
      .orderBy("new_id", "old_id")
  }

  val dedupIncrementalOracle: String =
    s"""WITH docs2 AS (
       | SELECT doc_id, text, lang FROM documents
       | UNION ALL
       | SELECT doc_id + 100000, text, lang FROM documents WHERE doc_id % 25 = 0),
       |shingled AS (
       | SELECT doc_id, lang,
       |  CASE WHEN len(t) >= 3 THEN
       |   list_distinct(list_transform(range(1, len(t)-1), i -> array_to_string(list_slice(t, i, i+2), ' ')))
       |  ELSE list_distinct([array_to_string(t, ' ')]) END AS s
       | FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM docs2)),
       |posts AS (
       | SELECT doc_id, lang, g FROM (SELECT doc_id, lang, unnest(s) AS g FROM shingled)
       | QUALIFY count(*) OVER (PARTITION BY g) <= $shingleDfCap),
       |sizes AS (SELECT doc_id, count(*) AS n FROM posts GROUP BY doc_id),
       |inter AS (
       | SELECT a.doc_id AS new_id, b.doc_id AS old_id, count(*) AS i
       | FROM posts a JOIN posts b ON a.g = b.g AND a.lang = b.lang
       | WHERE a.doc_id >= 100000 AND b.doc_id < 100000
       | GROUP BY 1, 2)
       |SELECT new_id, old_id, floor(j * 1e4 + 0.5) / 1e4 AS jaccard FROM (
       | SELECT new_id, old_id, i::DOUBLE / (sa.n + sb.n - i) AS j
       | FROM inter
       | JOIN sizes sa ON sa.doc_id = inter.new_id
       | JOIN sizes sb ON sb.doc_id = inter.old_id)
       |WHERE j >= $jaccardThreshold ORDER BY new_id, old_id""".stripMargin

  /** MinHash signatures: 32 per-seed re-hashes (`xxhash64(h, i)` — cheap
    * on longs, and ANSI-safe where a*h+b wraparound multiplication throws
    * ARITHMETIC_OVERFLOW under Spark 4's default ANSI mode) over the
    * already-hashed shingle longs, banded 8×4;
    * bucket-colliding pairs are verified with exact shingle Jaccard, so
    * output rows are exact — LSH only decides which pairs get checked.
    * This is the 100 TB path: shuffle keyed by (band_id, band_hash),
    * never a cross join; unblocked, so it also finds the cross-lang pairs
    * the blocked brute force skips.
    *
    * Driver-gated with a REAL oracle since r8: because the verify step
    * scores TRUE Jaccard, the output is exactly the unblocked exact pair
    * set whenever every true pair survives the banding — and on the
    * fixtures it does (8×4 banding at the pairs' observed J: collision
    * probability ≥ 1-(1-J⁴)⁸, measured equal at sf0.01) — so the whole
    * LSH pipeline sits behind [[dedupMinhashLshOracle]], the SQL-exact
    * unblocked pair set. A banding/verify regression that drops ANY true
    * pair flips the driver entry red; ScalaTest keeps the brute⊆LSH
    * candidate-recall gate as the finer-grained diagnostic.
    */
  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val numHashes = 32
    val bands = 8
    val rows = 4
    // signature = 32 MIN-aggregates over per-seed re-hashes of the posting
    // longs — one codegen'd hash aggregate, no arrays anywhere
    val sigCols = (0 until numHashes).map(i => min(xxhash64(col("g"), lit(i))).as(s"h$i"))
    val sig = postings(s, dir).groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band_id"),
        xxhash64((b * rows until (b + 1) * rows).map(i => col(s"h$i")) :+ lit(b): _*).as("band_hash"))
    }
    val banded = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.band_hash"))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band_id") === col("y.band_id") && col("x.band_hash") === col("y.band_hash")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // CANDIDATE-DRIVEN exact verification — the LSH contract: only
    // bucket-colliding pairs are ever scored. Join the candidate pairs
    // back to per-doc postings (two keyed joins on doc id; the second one
    // also matches on the shingle, so matched rows ARE the intersection)
    // and count — cost O(|candidates| × avg shingle-set size), regardless
    // of corpus size. The corpus-wide co-occurrence pass ([[pairJaccard]])
    // stays the brute-force baseline's job; running it here would defeat
    // LSH at 100× (VERDICT r2 #1). Set sizes ride along on each posting
    // via a per-doc window (bounded by doc length), so no extra pass.
    val withN = postings(s, dir)
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
    cand
      .join(withN.select(col("doc_id").as("doc_a"), col("g"), col("n").as("na")), "doc_a")
      .join(withN.select(col("doc_id").as("doc_b"), col("g"), col("n").as("nb")), Seq("doc_b", "g"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"), first(col("na")).as("na"), first(col("nb")).as("nb"))
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("doc_a"), col("doc_b"), roundTo(col("jaccard"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** The unblocked exact near-dup pair set — [[dedupNgramJaccardOracle]]
    * minus the language blocking, which is precisely what the LSH
    * pipeline's exact verify emits when banding recall is total (see
    * [[dedupMinhashLsh]]'s scaladoc).
    */
  val dedupMinhashLshOracle: String =
    s"""WITH posts AS ($postingsSql),
       |sizes AS (SELECT doc_id, count(*) AS n FROM posts GROUP BY doc_id),
       |inter AS (
       | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
       | FROM posts a JOIN posts b ON a.g = b.g AND a.doc_id < b.doc_id
       | GROUP BY 1, 2)
       |SELECT doc_a, doc_b, floor(j * 1e4 + 0.5) / 1e4 AS jaccard FROM (
       | SELECT doc_a, doc_b, i::DOUBLE / (sa.n + sb.n - i) AS j
       | FROM inter
       | JOIN sizes sa ON sa.doc_id = inter.doc_a
       | JOIN sizes sb ON sb.doc_id = inter.doc_b)
       |WHERE j >= $jaccardThreshold ORDER BY doc_a, doc_b""".stripMargin

  /** SimHash: 64-bit signature from per-token xxhash64 majority vote,
    * frequency-weighted (every occurrence votes — canonical simhash, which
    * keeps vote margins wide so near-identical docs land within a few
    * bits). The whole vote runs as ONE per-row kernel
    * ([[graft.functions.SimHash64]]) — a map-only projection; the previous
    * explode → 64-conditional-sum aggregate computed identical bits but
    * paid an exchange of every token row (equivalence pinned by
    * ShingleKernelSpec). Candidate pairs via 4×16-bit band equality — by
    * pigeonhole EXHAUSTIVE for hamming distance <= 3 (4 bands can't all
    * differ), the emitted threshold — so the output is exactly the
    * hamming-≤3 pair set of the signatures, a partition-independent pure
    * function of the texts. Not SQL-computable (custom kernel), but
    * deterministic, so the oracle PINS the sf0.01 pair set (the
    * sim_recall_report pattern); kernel or banding drift flips the
    * driver entry red. ScalaTest cross-checks against the Jaccard pairs.
    */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    val hammingMax = 3
    graft.functions.TextKernels.register(s)
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        expr(s"${graft.functions.TextKernels.simhashName}(text)").as("simhash"))
    val banded = docs.select(col("doc_id"), col("simhash"),
        explode(expr(
          "transform(sequence(0, 3), b -> struct(b AS band_id, shiftright(simhash, b*16) & 65535 AS band_val))"))
          .as("band"))
      .select(col("doc_id"), col("simhash"), col("band.band_id"), col("band.band_val"))
    banded.as("x").join(banded.as("y"),
        col("x.band_id") === col("y.band_id") && col("x.band_val") === col("y.band_val")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
      // filter BEFORE the dedup exchange: only near pairs shuffle
      .filter(col("hamming") <= hammingMax)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** The pinned sf0.01 hamming-≤3 pair set (see [[dedupSimhash]]'s
    * determinism argument).
    */
  val dedupSimhashOracle: String =
    """SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
      | CAST(hamming AS BIGINT) AS hamming
      |FROM (VALUES (8,245,0),(31,383,2),(45,413,1),(58,293,1),(61,185,1),
      | (70,447,3),(72,377,1),(76,102,2),(87,134,3),(107,387,3),(120,332,3),
      | (152,178,3),(166,323,2),(251,426,3),(267,413,3),(285,301,3),
      | (326,457,2),(393,420,1),(435,486,3),(458,462,3)) AS t(doc_a, doc_b, hamming)
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Benchmark-contamination check (training-data hygiene): documents
    * sharing at least `minShared` 3-gram shingles with any document of a
    * probe/benchmark set (here: doc_id < 5). Same inverted-index shape as
    * the near-dup pass, but UNCAPPED on both sides: the DF cap exists to
    * kill the k² self-join blowup of hot shingles, and this join's fan-out
    * per shingle is bounded by the broadcast probe side (≤ |bench postings|
    * matches per corpus posting) — no k² path exists, and capping would
    * silently drop contamination whose overlap is boilerplate-heavy, an
    * unobservable recall loss for a hygiene check (ADVICE r2).
    */
  def contaminationCheck(s: SparkSession, dir: String): DataFrame = {
    val minShared = 2
    val posts = rawPostingsOf(Tables.documents(s, dir))
    val bench = posts.filter(col("doc_id") < 5)
      .select(col("doc_id").as("bench_id"), col("g"))
    val corpus = posts.filter(col("doc_id") >= 5)
    corpus.join(broadcast(bench), "g")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("shared_shingles"))
      .filter(col("shared_shingles") >= minShared)
      .orderBy("doc_id", "bench_id")
  }

  val contaminationOracle: String =
    s"""WITH posts AS ($rawPostingsSql),
       |bench AS (SELECT doc_id AS bench_id, g FROM posts WHERE doc_id < 5),
       |corpus AS (SELECT doc_id, g FROM posts WHERE doc_id >= 5)
       |SELECT doc_id, bench_id, count(*) AS shared_shingles
       |FROM corpus JOIN bench USING (g)
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY doc_id, bench_id""".stripMargin

  /** Connected components over an undirected pair graph: min-label
    * propagation (each node takes the min of its own and its neighbors'
    * labels, several hops per round) plus pointer jumping (root :=
    * root's root — path compression), converging in O(log diameter)
    * rounds.
    *
    * The loop body is deliberately the RDD API, not DataFrames — the one
    * place in this engine where that is the right call. A DataFrame loop
    * re-runs Catalyst analysis/optimization and whole-stage codegen
    * compilation on every round (measured 200–350 ms of driver time per
    * round here, dominating the dup-graph-sized data), and per-round
    * `localCheckpoint` is needed just to stop the plan from growing.
    * Catalyst buys nothing for a fixed 2-column (Long, Long) kernel: the
    * RDD loop reuses ONE hash partitioner for edges and labels across all
    * rounds (edges shuffle once, ever — exactly the "reuse a partitioning
    * across stages" rule), per-round driver overhead is scheduling only,
    * and `persist` per round truncates recomputation. GraphX's own
    * connectedComponents is the same shape. Label propagation is keyed,
    * never quadratic; at 100 TB the same loop runs with a reliable
    * checkpoint dir and a partition count sized to the dup graph.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    connectedComponents(pairs, aCol, bCol, hopsPerRound = 4, jumpsPerRound = 1)

  /** Round-shape-parameterized body — [[connectedComponents]] pins the
    * measured steady-state shape (4 hops + 1 jump per round, r20
    * optimization), which the loop RAMPS INTO (1 hop, then 2, then the
    * full shape — r21): short-chain graphs exit after one or two cheap
    * rounds instead of paying the hop-heavy rounds tuned on the
    * long-chain emb graph. A hop and a jump cost about the same here —
    * one re-key shuffle over |V|-bounded label rows (the co-partitioned
    * edge join is narrow) vs two — so the round SHAPE only moves the
    * ROUND COUNT, and each round carries a fixed convergence-probe
    * action whose scheduling dominates at dup-graph scale. Hop-heavy
    * rounds converge in the fewest rounds on long-chain graphs (the emb
    * 0.4-threshold graph: 6 rounds at 2h+2j, 4 at 4h+1j, measured
    * CC-only 1.78→0.73 s; shapes h1jN need 10 rounds and lose —
    * OPTIMIZATION_r20.md §cc). Exposed private[graft] so the A/B probe
    * can measure shapes side by side.
    */
  private[graft] def connectedComponents(pairs: DataFrame, aCol: String,
      bCol: String, hopsPerRound: Int, jumpsPerRound: Int): DataFrame = {
    val spark = pairs.sparkSession
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel

    val part = new HashPartitioner(
      math.max(4, spark.sparkContext.defaultParallelism / 4))
    val edges: RDD[(Long, Long)] = pairs
      .select(col(aCol).cast("long"), col(bCol).cast("long"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // round 0 fused into init: label(x) = min(x, min neighbor id)
    var labels: RDD[(Long, Long)] = edges
      .reduceByKey(part, math.min(_: Long, _: Long))
      .mapPartitions(_.map { case (x, m) => (x, math.min(x, m)) },
        preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // root := root's root. Every label is a node id present as a key, so
    // the inner join is total; reduceByKey restores the shared partitioner
    // after the re-key and collapses nothing (keys are unique).
    def jump(l: RDD[(Long, Long)]): RDD[(Long, Long)] = {
      val byRoot = l.map { case (d, r) => (r, d) }
      byRoot.join(l, part)
        .map { case (r, (d, rr)) => (d, math.min(r, rr)) }
        .reduceByKey(part, math.min(_: Long, _: Long))
    }

    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 30) {
      // ADAPTIVE ROUND SHAPE (r21): ramp the hop count 1 → 2 → full.
      // The fixed 4-hop round (r20) wins on long-chain graphs but taxes
      // the short-chain graphs most dedup consumers feed it — they
      // converge within a hop or two and still paid 4 edge-joins + a
      // jump per round (driver-measured: dedup_clusters 1.52→1.92 s,
      // dedup_quality_survivor 1.52→2.59 s, VERDICT r20 #2). Ramping
      // lets those exit after 1–2 cheap rounds while escalating graphs
      // still get the measured hop-heavy shape; labels are monotone
      // non-increasing under both hop and jump, so ANY schedule has the
      // same unique fixpoint and `changed == 0` after a round containing
      // a hop still proves hop-fixpoint (= convergence).
      val hops = math.min(hopsPerRound, 1 << iter)
      var cur = labels
      for (_ <- 1 to hops) {
        val hop = edges.join(cur, part).map { case (_, (y, r)) => (y, r) }
        cur = cur.union(hop).reduceByKey(part, math.min(_: Long, _: Long))
      }
      // (b) pointer jumps: label-chain depth halves per jump, and each
      // jump touches only the |V|-sized label table, never the edges.
      // No jump on the 1-hop warmup round: chains are still short there,
      // and a converged-at-init graph exits without paying one.
      if (iter >= 1) for (_ <- 1 to jumpsPerRound) cur = jump(cur)
      val next = cur.persist(StorageLevel.MEMORY_AND_DISK)
      // probe EVERY round (r21, was iter >= 1): the probe is a
      // co-partitioned narrow join + count over the tiny label table —
      // same cost class as the bare materializing count it replaces —
      // and it lets a graph whose init labels were already the fixpoint
      // exit after one 1-hop round
      changed = next.join(labels, part)
        .filter { case (_, (a, b)) => a != b }.count()
      labels.unpersist(blocking = false)
      labels = next
      iter += 1
    }
    // surfacing non-convergence beats silently returning partial roots:
    // with hop+jump the 30-round cap covers any diameter a physical graph
    // can have, so tripping this means a logic bug, and it must fail
    // loudly, not emit wrong clusters (ADVICE r3)
    require(changed == 0,
      s"connectedComponents did not converge within $iter rounds ($changed labels still moving)")
    // materialize the result into the DF world (eager localCheckpoint
    // copies the blocks) BEFORE releasing the loop's persisted RDDs —
    // unpersisting first would force a full lineage replay downstream
    val out = spark.createDataFrame(labels).toDF("doc_id", "root")
      .localCheckpoint(true)
    labels.unpersist(blocking = false)
    edges.unpersist(blocking = false)
    out
  }

  /** Near-dup CLUSTER collapse — the step between pairwise dedup and an
    * actual cleaned corpus: pairs only say "A~B"; choosing survivors needs
    * the transitive closure (A~B, B~C ⇒ {A,B,C} is one cluster even when
    * A≁C). Components over the exact-Jaccard pair graph, cluster root =
    * min doc_id (the keep-oldest convention of [[dedupExact]]), one row
    * per clustered doc with its survivor flag. The oracle computes true
    * components via a recursive transitive-closure CTE — safe at fixture
    * scale only; the Spark side's label propagation is the shape that
    * scales.
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = pairJaccard(postings(s, dir), byLang = true)
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("doc_a"), col("doc_b"))
    connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("doc_id"), col("root").as("cluster_root"),
        (col("doc_id") === col("root")).as("is_survivor"))
      .orderBy("doc_id")
  }

  val dedupClustersOracle: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT doc_a, doc_b FROM ($dedupNgramJaccardOracle)),
       |edges AS (
       |  SELECT doc_a AS x, doc_b AS y FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(x, y) AS (
       |  SELECT x, y FROM edges
       |  UNION
       |  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x)
       |SELECT doc_id, cluster_root, doc_id = cluster_root AS is_survivor FROM (
       |  SELECT x AS doc_id, least(x, min(y)) AS cluster_root FROM reach GROUP BY x)
       |ORDER BY doc_id""".stripMargin

  /** Quality-weighted survivor selection: inside each near-dup cluster,
    * keep the HIGHEST-quality member (composite [[TextOps.textStatsOf]]
    * score; ties → lowest doc_id) instead of [[dedupClusters]]'s
    * min-id convention. This is what production dedup actually ships —
    * near-dup groups routinely mix a clean original with truncated or
    * boilerplate-padded copies, and min-id keeps whichever crawled
    * first, not whichever is best.
    *
    * Scale: the cluster table is dup-graph-sized (not corpus-sized), the
    * quality join is doc_id-keyed, and the survivor window partitions by
    * cluster root — per-cluster work bounded by cluster population, the
    * same cost class as the component computation that produced it.
    */
  def dedupQualitySurvivor(s: SparkSession, dir: String): DataFrame = {
    val pairs = pairJaccard(postings(s, dir), byLang = true)
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("doc_a"), col("doc_b"))
    val clusters = connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("doc_id"), col("root").as("cluster_root"))
    val quality = graft.operators.TextOps.textStatsOf(Tables.documents(s, dir))
      .select(col("doc_id"), col("quality_score"))
    val w = Window.partitionBy(col("cluster_root"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    clusters.join(quality, Seq("doc_id"))
      .withColumn("is_survivor", row_number().over(w) === 1)
      .select(col("doc_id"), col("cluster_root"), col("quality_score"),
        col("is_survivor"))
      .orderBy("doc_id")
  }

  val dedupQualitySurvivorOracle: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT doc_a, doc_b FROM ($dedupNgramJaccardOracle)),
       |edges AS (
       |  SELECT doc_a AS x, doc_b AS y FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(x, y) AS (
       |  SELECT x, y FROM edges
       |  UNION
       |  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
       |clusters AS (
       |  SELECT x AS doc_id, least(x, min(y)) AS cluster_root FROM reach GROUP BY x),
       |q AS (
       | SELECT doc_id,
       |  ${graft.operators.TextOps.qualityScoreSql} AS quality_score
       | FROM (
       |  SELECT doc_id, len(t) AS n_tokens,
       |   len(list_filter(t, x -> x IN (${graft.operators.TextOps.stopList})))::DOUBLE / len(t) AS raw_stop,
       |   len(list_distinct(t))::DOUBLE / len(t) AS raw_uniq
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)))
       |SELECT c.doc_id, c.cluster_root, q.quality_score,
       | row_number() OVER (PARTITION BY c.cluster_root
       |   ORDER BY q.quality_score DESC, c.doc_id) = 1 AS is_survivor
       |FROM clusters c JOIN q ON q.doc_id = c.doc_id
       |ORDER BY c.doc_id""".stripMargin

  override def queries: Seq[RegisteredQuery] = Seq(
    RegisteredQuery("contamination_check", contaminationCheck, Some(contaminationOracle)),
    RegisteredQuery("dedup_exact", dedupExact, Some(dedupExactOracle)),
    RegisteredQuery("dedup_ngram_jaccard", dedupNgramJaccard, Some(dedupNgramJaccardOracle)),
    RegisteredQuery("dedup_minhash_lsh", dedupMinhashLsh, Some(dedupMinhashLshOracle)),
    RegisteredQuery("dedup_simhash", dedupSimhash, Some(dedupSimhashOracle)),
    RegisteredQuery("dedup_clusters", dedupClusters, Some(dedupClustersOracle)),
    RegisteredQuery("dedup_quality_survivor", dedupQualitySurvivor,
      Some(dedupQualitySurvivorOracle)),
    RegisteredQuery("dedup_incremental", dedupIncremental, Some(dedupIncrementalOracle)),
    // same oracle as the exact path: the sketch only pre-screens
    RegisteredQuery("contamination_bloom", contaminationBloom, Some(contaminationOracle)),
  )
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.engine.Tables
import graft.functions.Scalars._
import graft.functions.TextKernels

/** Lexical / vocabulary operators for training-data prep: unicode
  * normalization, URL→domain extraction, corpus vocabulary building and
  * TF-IDF term scoring. Normalization and URL extraction are narrow
  * per-row expression trees (map-only at any scale); vocabulary and
  * TF-IDF are explode→aggregate pipelines whose shuffles are keyed on the
  * term — the classic word-count topology that partial (map-side)
  * aggregation keeps linear at 100 TB.
  *
  * The synthetic corpus is pure-ASCII word soup with no URLs, so (as with
  * [[TextOps.textPiiScrub]]) the normalize/URL queries first APPEND
  * deterministic doc_id-derived content — identically in the oracle — so
  * the transforms are observable end-to-end (a no-op normalizer or
  * extractor fails the hash).
  */
object LexiconOps extends QueryModule {

  /** Shared token pattern with [[TextOps.textTokenCount]] (Java ∩ RE2). */
  private val tokenRe = "[a-z]+|[0-9]+"

  /** ASCII-safe whitespace class (Java's `\s` includes \x0B, RE2's does
    * not — the explicit class keeps both engines identical).
    */
  private val wsRe = "[ \\t\\n\\r]+"

  // ---------------------------------------------------------------------
  // Unicode normalization
  // ---------------------------------------------------------------------

  /** NFC + lowercase + whitespace collapse + trim — the canonicalization
    * pass run before any dedup/fingerprint at corpus scale (bitwise-
    * different encodings of the same text must collide). NFC itself is
    * the codegen'd [[graft.functions.NfcNormalize]] kernel (Spark has no
    * built-in normalizer; a UDF would break whole-stage codegen); the
    * oracle twin is DuckDB's utf8proc-backed `nfc_normalize`. The
    * appended suffix carries a combining acute (e + U+0301 → é under
    * NFC), ß, mixed case, tabs/newlines and double spaces so every
    * normalization step is exercised. Unicode case edge cases outside
    * the Java∩utf8proc agreement zone (e.g. İ) are deliberately not
    * appended.
    */
  def textNormalize(s: SparkSession, dir: String): DataFrame = {
    TextKernels.register(s)
    Tables.documents(s, dir)
      .select(col("doc_id"),
        concat(col("text"),
          // decomposed: e + U+0301 combining acute (NFC recomposes to e-acute),
          // mirroring the oracle's  'e' || chr(769); U+00DF is the sharp s
          lit("  Cafe\u0301\tMIXED  Stra\u00dfe\ndoc "),
          col("doc_id").cast("string")).as("t2"))
      .select(col("doc_id"), col("t2"),
        trim(regexp_replace(lower(expr("graft_nfc(t2)")), wsRe, " ")).as("norm"))
      .select(col("doc_id"),
        length(col("t2")).cast("long").as("n_chars_raw"),
        length(col("norm")).cast("long").as("n_chars_norm"),
        md5(col("norm")).as("norm_fp"))
      .orderBy("doc_id")
  }

  val textNormalizeOracle: String =
    """WITH aug AS (
      | SELECT doc_id,
      |  text || '  Caf' || 'e' || chr(769) || chr(9) || 'MIXED  Stra' ||
      |  chr(223) || 'e' || chr(10) || 'doc ' || doc_id AS t2
      | FROM documents),
      |norm AS (
      | SELECT doc_id, t2,
      |  trim(regexp_replace(lower(nfc_normalize(t2)), '[ \t\n\r]+', ' ', 'g')) AS norm
      | FROM aug)
      |SELECT doc_id, length(t2) AS n_chars_raw, length(norm) AS n_chars_norm,
      | md5(norm) AS norm_fp
      |FROM norm ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // URL / domain extraction
  // ---------------------------------------------------------------------

  private val urlDomainRe = "https?://([A-Za-z0-9.-]+)"

  /** Domain frequency table — the provenance census a crawl pipeline runs
    * before per-domain filtering/quotas. Extract-all the domain capture
    * group per row (map-only), explode, one keyed aggregate.
    */
  def textUrls(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        concat(col("text"),
          lit(" see https://site"), (col("doc_id") % 20).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string"),
          lit(" and http://cdn"), (col("doc_id") % 5).cast("string"),
          lit(".example.org down")).as("t2"))
      .select(col("doc_id"),
        explode(expr(s"regexp_extract_all(t2, '$urlDomainRe', 1)")).as("domain"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy("domain")

  val textUrlsOracle: String =
    s"""WITH aug AS (
       | SELECT doc_id,
       |  text || ' see https://site' || (doc_id % 20) || '.example.com/p/' ||
       |  doc_id || ' and http://cdn' || (doc_id % 5) || '.example.org down' AS t2
       | FROM documents),
       |hits AS (
       | SELECT doc_id, unnest(regexp_extract_all(t2, '$urlDomainRe', 1)) AS domain
       | FROM aug)
       |SELECT domain, count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs
       |FROM hits GROUP BY domain ORDER BY domain""".stripMargin

  // ---------------------------------------------------------------------
  // Vocabulary building
  // ---------------------------------------------------------------------

  /** Corpus vocabulary: top-50 tokens by occurrence count (ties broken on
    * the token) with document frequency — the tokenizer-training /
    * stopword-discovery primitive. Explode → keyed aggregate (partial agg
    * does the heavy lifting map-side) → global top-k, which Spark executes
    * as TakeOrderedAndProject: a per-partition heap, never a global sort.
    */
  def vocabTopk(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(expr(s"regexp_extract_all(text, '$tokenRe', 0)")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occ").desc, col("token"))
      .limit(50)

  val vocabTopkOracle: String =
    s"""WITH toks AS (
       | SELECT doc_id, unnest(regexp_extract_all(text, '$tokenRe')) AS token
       | FROM documents)
       |SELECT token, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
       |FROM toks GROUP BY token
       |ORDER BY n_occ DESC, token LIMIT 50""".stripMargin

  // ---------------------------------------------------------------------
  // BM25 retrieval
  // ---------------------------------------------------------------------

  /** Probe queries for [[bm25Retrieval]] — deterministic literals over the
    * corpus vocabulary, replayed verbatim in the oracle.
    */
  private val bm25Queries: Seq[(Long, String)] = Seq(
    1L -> "spark window agg",
    2L -> "customer order join",
    3L -> "hash join",
    4L -> "stream batch merge",
    5L -> "slow query filter")

  /** BM25 top-10 retrieval — the lexical counterpart of the embedding
    * ANN top-k family: score every document against a small probe-query
    * batch (Robertson/Lucene BM25, k1=1.2 b=0.75) and keep the 10 best
    * per query. The fact-scale work is ONE tf aggregate and ONE dl
    * aggregate over the token stream; everything query-driven is
    * broadcast (probe terms, per-term df, the 1-row corpus stats), so
    * scoring touches only postings of probed terms — cost scales with
    * the probe batch, not the corpus. Top-10 is a per-query
    * WindowGroupLimit heap over rows that survive the postings join.
    * Constants are written as the same decimal literals on both sides;
    * the per-(query,doc) term-score sum is rounded 6dp BEFORE ranking so
    * rank ties resolve identically (doc_id tiebreak).
    */
  def bm25Retrieval(s: SparkSession, dir: String): DataFrame =
    bm25Ranked(s, dir)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
      .orderBy("query_id", "rank")

  /** The scored postings frame both retrieval legs share: probed-term
    * tf rows joined with query terms, doc lengths, per-term df, and the
    * 1-row corpus stats — one definition so [[bm25Ranked]] and
    * [[tfidfRanked]] provably score the same postings.
    */
  private def probedPostings(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir).select(col("doc_id"),
      explode(expr(s"regexp_extract_all(text, '$tokenRe', 0)")).as("tok"))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_toks"))
    val q = bm25Queries.toDF("query_id", "qtext")
      .select(col("query_id"), explode(split(col("qtext"), " ")).as("tok"))
    val tfq = tf.join(broadcast(q.select("tok").distinct()), "tok")
    val dfq = tfq.groupBy("tok").agg(count(lit(1)).as("df"))
    tfq
      .join(broadcast(q), "tok")
      .join(dl, "doc_id")
      .join(broadcast(dfq), "tok")
      .crossJoin(broadcast(stats))
  }

  private def rankTop(scored: DataFrame, n: Int): DataFrame =
    scored.withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= n)

  /** Per-posting BM25 term (Robertson/Lucene, k1=1.2 b=0.75). */
  private def bm25Term: Column =
    log(lit(1.0) +
      (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5))) *
      (col("tf").cast("double") * lit(2.2) /
        (col("tf").cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) *
          col("dl").cast("double") /
            (col("n_toks").cast("double") / col("n_docs").cast("double")))))

  /** Per-posting log-tf·idf term — the classic SMART ltc-ish weighting,
    * deliberately DIFFERENT from BM25 (no length normalization,
    * different idf damping) so the fusion has two genuinely distinct
    * opinions to reconcile.
    */
  private def tfidfTerm: Column =
    (lit(1.0) + log(col("tf").cast("double"))) *
      log(col("n_docs").cast("double") / col("df").cast("double"))

  /** (query_id, doc_id, score, rank≤10) under BM25. */
  private def bm25Ranked(s: SparkSession, dir: String): DataFrame =
    rankTop(probedPostings(s, dir)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(roundTo(sum(bm25Term), 6).as("score")), 10)

  /** The shared CTE prefix of both retrieval oracles: token stream, tf,
    * dl, corpus stats, query terms, probed df, and BOTH ranked lists
    * (`br` = BM25 rank, `tr` = log-tf·idf rank) — one definition so
    * [[bm25Oracle]] and [[hybridRrfOracle]] provably rank the same
    * postings, mirroring [[probedPostings]] on the Spark side.
    */
  private val retrievalCtes: String = {
    val values = bm25Queries
      .map { case (id, t) => s"($id, '$t')" }.mkString(", ")
    s"""toks AS (
       | SELECT doc_id, unnest(regexp_extract_all(text, '$tokenRe')) AS tok
       | FROM documents),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
       |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS n_toks
       |          FROM dl),
       |q AS (SELECT CAST(query_id AS BIGINT) AS query_id,
       |             unnest(string_split(qtext, ' ')) AS tok
       |      FROM (VALUES $values) v(query_id, qtext)),
       |dfq AS (SELECT tok, count(*) AS df FROM tf
       |        WHERE tok IN (SELECT tok FROM q) GROUP BY 1),
       |bscored AS (
       | SELECT q.query_id, tf.doc_id,
       |  floor(sum(
       |    ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |             / (CAST(df AS DOUBLE) + 0.5))
       |    * (CAST(tf AS DOUBLE) * 2.2
       |       / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75
       |          * CAST(dl AS DOUBLE)
       |          / (CAST(n_toks AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
       |  ) * 1e6 + 0.5) / 1e6 AS score
       | FROM tf JOIN q USING (tok) JOIN dl USING (doc_id)
       |      JOIN dfq USING (tok) CROSS JOIN stats
       | GROUP BY 1, 2),
       |br AS (SELECT query_id, doc_id, score,
       |  row_number() OVER (PARTITION BY query_id
       |                     ORDER BY score DESC, doc_id) AS rank
       | FROM bscored),
       |tscored AS (
       | SELECT q.query_id, tf.doc_id,
       |  floor(sum(
       |    (1.0 + ln(CAST(tf AS DOUBLE)))
       |    * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
       |  ) * 1e6 + 0.5) / 1e6 AS score
       | FROM tf JOIN q USING (tok) JOIN dl USING (doc_id)
       |      JOIN dfq USING (tok) CROSS JOIN stats
       | GROUP BY 1, 2),
       |tr AS (SELECT query_id, doc_id, score,
       |  row_number() OVER (PARTITION BY query_id
       |                     ORDER BY score DESC, doc_id) AS rank
       | FROM tscored)""".stripMargin
  }

  val bm25Oracle: String =
    s"""WITH $retrievalCtes
       |SELECT query_id, rank, doc_id, score FROM br
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Hybrid retrieval via RECIPROCAL RANK FUSION — the standard way a
    * retrieval stack reconciles two rankers that disagree (classically
    * lexical + dense; here BM25 + log-tf·idf, two genuinely different
    * lexical opinions since the fixture ships no text-query embeddings):
    * each leg contributes `1/(60 + rank)` for its top-10, the fused
    * score is the sum, top-5 per query survives. RRF needs no score
    * calibration between legs — only ranks — which is exactly why it
    * fuses heterogeneous retrievers safely.
    *
    * Scale shape: ONE pass end to end — both leg scores are computed in
    * the SAME (query, doc) aggregate over [[probedPostings]] (the legs
    * score exactly the same candidate set, so separate pipelines would
    * re-derive identical frames), both leg ranks are windows over the
    * SAME query-keyed exchange, and the fusion is row-local arithmetic
    * (a row outside both top-10s scores 0 and is filtered — exactly the
    * full-outer-of-top-10s result, without the join). Determinism: both
    * leg scores are 6dp-rounded BEFORE ranking (total doc_id
    * tie-break), the RRF sum is two fixed-order IEEE terms rounded 6dp,
    * and the fused rank carries the same total tie-break.
    */
  def hybridRrfRetrieval(s: SparkSession, dir: String): DataFrame = {
    val scored = probedPostings(s, dir)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(roundTo(sum(bm25Term), 6).as("bscore"),
        roundTo(sum(tfidfTerm), 6).as("tscore"))
    def leg(score: String) = row_number().over(
      Window.partitionBy("query_id").orderBy(col(score).desc, col("doc_id")))
      .cast("long")
    def contrib(rank: Column) =
      coalesce(when(rank <= 10, lit(1.0) / (lit(60.0) + rank.cast("double"))),
        lit(0.0))
    scored
      .withColumn("brank", leg("bscore"))
      .withColumn("trank", leg("tscore"))
      .select(col("query_id"), col("doc_id"),
        roundTo(contrib(col("brank")) + contrib(col("trank")), 6).as("rrf_score"))
      .filter(col("rrf_score") > 0)
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("rrf_score").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf_score"))
      .orderBy("query_id", "rank")
  }

  val hybridRrfOracle: String =
    s"""WITH $retrievalCtes,
       |fused AS (
       | SELECT coalesce(b.query_id, t.query_id) AS query_id,
       |  coalesce(b.doc_id, t.doc_id) AS doc_id,
       |  floor((
       |    coalesce(CAST(1.0 AS DOUBLE) / (60.0 + b.rank), CAST(0 AS DOUBLE)) +
       |    coalesce(CAST(1.0 AS DOUBLE) / (60.0 + t.rank), CAST(0 AS DOUBLE))
       |  ) * 1e6 + 0.5) / 1e6 AS rrf_score
       | FROM (SELECT * FROM br WHERE rank <= 10) b
       | FULL JOIN (SELECT * FROM tr WHERE rank <= 10) t
       |   ON b.query_id = t.query_id AND b.doc_id = t.doc_id),
       |out AS (
       | SELECT query_id, doc_id, rrf_score,
       |  row_number() OVER (PARTITION BY query_id
       |                     ORDER BY rrf_score DESC, doc_id) AS rank
       | FROM fused)
       |SELECT query_id, rank, doc_id, rrf_score FROM out
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // Collocation mining (PMI)
  // ---------------------------------------------------------------------

  /** Support floor for [[collocationPmi]] — PMI of a rare pair is noise. */
  private val pmiMinCount = 20

  /** Adjacent-bigram pointwise mutual information — collocation discovery
    * (multi-word expressions, tokenizer-merge candidates). Bigram
    * generation is MAP-ONLY: a `transform` over the token array's index
    * range, no per-doc window shuffle — at 100 TB adjacency never leaves
    * the row it came from. Then two word-count-shaped keyed aggregates
    * (bigram counts, unigram counts), the vocabulary-sized unigram table
    * broadcast back twice, and the two scalar totals broadcast as a 1-row
    * cross join. PMI is computed as a sum of logs (never the ratio of
    * count products, which overflows BIGINT at corpus scale), with the
    * identical left-associated formula in the oracle so 6dp rounding
    * absorbs libm ulp differences.
    */
  def collocationPmi(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"),
        expr(s"regexp_extract_all(text, '$tokenRe', 0)").as("arr"))
    val toks = d.select(explode(col("arr")).as("tok"))
    val bg = d.filter(size(col("arr")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(arr) - 1),
          |  i -> struct(element_at(arr, i) AS tok, element_at(arr, i + 1) AS nxt))"""
          .stripMargin)).as("p"))
      .select(col("p.tok").as("tok"), col("p.nxt").as("nxt"))
      .groupBy("tok", "nxt").agg(count(lit(1)).as("n_pair"))
    val uni = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val totals = toks.agg(count(lit(1)).as("n_u"))
      .crossJoin(bg.agg(sum(col("n_pair")).as("n_b")))
    bg.filter(col("n_pair") >= lit(pmiMinCount))
      .join(broadcast(uni.select(col("tok").as("ua_tok"), col("c").as("c_a"))),
        col("tok") === col("ua_tok"))
      .join(broadcast(uni.select(col("tok").as("ub_tok"), col("c").as("c_b"))),
        col("nxt") === col("ub_tok"))
      .crossJoin(broadcast(totals))
      .select(col("tok").as("tok_a"), col("nxt").as("tok_b"), col("n_pair"),
        roundTo(
          log(col("n_pair").cast("double"))
            + lit(2) * log(col("n_u").cast("double"))
            - log(col("n_b").cast("double"))
            - log(col("c_a").cast("double"))
            - log(col("c_b").cast("double")), 6).as("pmi"))
      .orderBy("tok_a", "tok_b")
  }

  val collocationPmiOracle: String =
    s"""WITH d AS (SELECT doc_id, regexp_extract_all(text, '$tokenRe') AS arr
       |           FROM documents),
       |t AS (SELECT doc_id, unnest(arr) AS tok, generate_subscripts(arr, 1) AS pos
       |      FROM d),
       |b AS (SELECT doc_id, tok,
       |        lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
       |      FROM t),
       |bg AS (SELECT tok, nxt, count(*) AS n_pair
       |       FROM b WHERE nxt IS NOT NULL GROUP BY 1, 2),
       |u AS (SELECT tok, count(*) AS c FROM t GROUP BY 1),
       |tot AS (SELECT (SELECT count(*) FROM t) AS n_u,
       |               CAST((SELECT sum(n_pair) FROM bg) AS BIGINT) AS n_b)
       |SELECT bg.tok AS tok_a, bg.nxt AS tok_b, bg.n_pair,
       | floor((ln(CAST(bg.n_pair AS DOUBLE))
       |   + 2 * ln(CAST(n_u AS DOUBLE))
       |   - ln(CAST(n_b AS DOUBLE))
       |   - ln(CAST(ua.c AS DOUBLE))
       |   - ln(CAST(ub.c AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS pmi
       |FROM bg
       |JOIN u ua ON bg.tok = ua.tok
       |JOIN u ub ON bg.nxt = ub.tok
       |CROSS JOIN tot
       |WHERE bg.n_pair >= $pmiMinCount
       |ORDER BY tok_a, tok_b""".stripMargin

  // ---------------------------------------------------------------------
  // TF-IDF term scoring
  // ---------------------------------------------------------------------

  /** Per-document top-3 TF-IDF terms — keyword extraction over the whole
    * corpus in three keyed aggregates: term counts per doc, document
    * frequency per term (broadcast back — vocabulary is executor-memory
    * sized even at 100 TB corpus scale), and a per-doc top-k window. The
    * window orders on the ROUNDED score (6 dp, binary-exact floor formula)
    * + term so rank ties resolve identically in both engines.
    */
  def tfidfTopterms(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        expr(s"regexp_extract_all(text, '$tokenRe', 0)").as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("cnt"))
    // document frequency as a WINDOW over the already-aggregated tf table
    // — each (doc, term) appears exactly once there, so the per-term row
    // count IS the distinct doc count. Referencing tf from a separate
    // aggregate + self-join planned the tokenize+explode subtree twice;
    // the window costs one keyed exchange of the (much smaller) tf table
    // and the corpus is tokenized exactly once.
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n"))
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        roundTo((col("cnt").cast("double") / col("dl")) *
          log(col("n").cast("double") / col("df")), 6).as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("term"), col("score"), col("rk"))
      .orderBy("doc_id", "rk")
  }

  val tfidfToptermsOracle: String =
    s"""WITH toks AS (
       | SELECT doc_id, len(regexp_extract_all(text, '$tokenRe')) AS dl,
       |  unnest(regexp_extract_all(text, '$tokenRe')) AS term
       | FROM documents),
       |tf AS (SELECT doc_id, dl, term, count(*) AS cnt FROM toks GROUP BY 1, 2, 3),
       |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
       |n AS (SELECT count(*) AS n FROM documents),
       |scored AS (
       | SELECT doc_id, term,
       |  floor((cnt::DOUBLE / dl) * ln(n::DOUBLE / df) * 1e6 + 0.5) / 1e6 AS score
       | FROM tf JOIN df USING (term), n),
       |ranked AS (
       | SELECT doc_id, term, score,
       |  CAST(row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, term) AS BIGINT) AS rk
       | FROM scored)
       |SELECT doc_id, term, score, rk FROM ranked
       |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /** Sketch tier of [[vocabTopk]]: a count-min sketch over the token
    * stream — ONE mergeable aggregate with fixed-size state, the 100 TB
    * path when the vocabulary itself is too hot/large to hash-aggregate
    * comfortably (CMS state is eps/confidence-bounded regardless of
    * cardinality). The sketch is collected (it is kilobytes — control
    * plane, like the IVF centroids) and probed driver-side for a fixed
    * token list. Estimates are sketch-specific but fully DETERMINISTIC
    * and partition-independent (fixed seed 42; CMS merge is elementwise
    * counter addition — commutative/associative), so the oracle PINS the
    * sf0.01 estimates (the sim_recall_report pattern) on top of the
    * one-sided-error spec (CMS never undercounts).
    */
  def vocabCms(s: SparkSession, dir: String): DataFrame = {
    val probes = Seq("the", "a", "and", "of", "to", "in",
      "data", "query", "table", "row", "key", "value", "spark", "zzz_absent")
    val bytes = Tables.documents(s, dir)
      .select(explode(expr(s"regexp_extract_all(text, '$tokenRe', 0)")).as("token"))
      .select(expr("count_min_sketch(token, 0.0001d, 0.99d, 42)").as("cms"))
      .collect().head.getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    import s.implicits._
    probes.map(t => (t, cms.estimateCount(t)))
      .toDF("token", "est_count")
      .orderBy("token")
  }

  // ---------------------------------------------------------------------
  // Char-trigram LM quality scoring
  // ---------------------------------------------------------------------

  /** Language-model quality scoring (the CCNet/Dolma perplexity-filter
    * shape, reduced to a char-trigram model): train trigram conditional
    * probabilities P(c|ab) = cnt(abc) / Σ_c cnt(ab·) on the corpus itself,
    * then score every document by its average log-prob and perplexity —
    * low-ppl ≈ fluent under the corpus distribution, high-ppl ≈ outlier
    * text, the standard keep/drop signal. Dataflow: one explode over char
    * positions, one keyed aggregate for the model (vocabulary-sized →
    * broadcast back, like TF-IDF's df), one per-doc aggregate. At 100 TB
    * the model table is still |Σ|³-bounded and the scoring pass is
    * map-only after the broadcasts. Well-defined without smoothing
    * because the model scores its own training corpus (every trigram has
    * count ≥ 1).
    */
  def lmScore(s: SparkSession, dir: String): DataFrame = {
    TextKernels.register(s)
    val tri = Tables.documents(s, dir)
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"),
        // one O(n) per-row kernel; the HOF spelling (transform(sequence) +
        // positional substring) is interpreted and quadratic per doc —
        // measured 3x this whole query (see CharTrigrams scaladoc)
        explode(expr("graft_char_trigrams(text)")).as("g"))
    val model = tri.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
    val prefix = model.groupBy(substring(col("g"), 1, 2).as("pf"))
      .agg(sum(col("cnt")).as("pcnt"))
    tri
      .join(broadcast(model), "g")
      .join(broadcast(prefix), substring(col("g"), 1, 2) === col("pf"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(log(col("cnt").cast("double") / col("pcnt"))).as("logp_sum"))
      .select(col("doc_id"), col("n_trigrams"),
        roundTo(col("logp_sum") / col("n_trigrams"), 6).as("avg_logp"),
        roundTo(exp(-(col("logp_sum") / col("n_trigrams"))), 4).as("ppl"))
      .orderBy("doc_id")
  }

  val lmScoreOracle: String =
    """WITH tri AS (
      | SELECT doc_id, unnest(list_transform(range(1, length(text) - 1),
      |   i -> substring(text, CAST(i AS INTEGER), 3))) AS g
      | FROM documents WHERE length(text) >= 3),
      |model AS (SELECT g, count(*) AS cnt FROM tri GROUP BY g),
      |pfx AS (SELECT substring(g, 1, 2) AS pf, CAST(sum(cnt) AS BIGINT) AS pcnt
      |        FROM model GROUP BY 1),
      |scored AS (
      | SELECT t.doc_id, ln(m.cnt::DOUBLE / p.pcnt) AS logp
      | FROM tri t JOIN model m USING (g)
      | JOIN pfx p ON substring(t.g, 1, 2) = p.pf)
      |SELECT doc_id, count(*) AS n_trigrams,
      | floor(sum(logp) / count(*) * 1e6 + 0.5) / 1e6 AS avg_logp,
      | floor(exp(-(sum(logp) / count(*))) * 1e4 + 0.5) / 1e4 AS ppl
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Tokenizer-coverage audit: train a top-100 vocabulary on the corpus,
    * then measure each source's out-of-vocabulary rate — the pre-training
    * check that a tokenizer's merges actually cover every data source
    * (a high-OOV source trains badly and skews loss). One tokenize pass
    * feeds both sides: the vocabulary is a 100-row broadcast (vocabulary
    * size is executor-memory bounded at ANY corpus scale), the OOV tag a
    * broadcast left join, the rest one keyed aggregate. Vocabulary
    * selection tie-breaks on (count desc, token) in both engines.
    */
  def vocabOovRate(s: SparkSession, dir: String): DataFrame = {
    // aggregate (source, token) FIRST: the corpus is tokenized exactly once
    // and every later stage works on the aggregate (≤ |sources|·|vocab'|
    // rows), the same derive-from-the-aggregate discipline as
    // [[tfidfTopterms]] — referencing the raw token stream twice would
    // plan two tokenize branches (subtree dedup is not free)
    val st = Tables.documents(s, dir)
      .select(col("source"),
        explode(expr(s"regexp_extract_all(text, '$tokenRe', 0)")).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("n"))
    val vocab = st.groupBy(col("token"))
      .agg(sum(col("n")).as("n_occ"))
      .orderBy(col("n_occ").desc, col("token"))
      .limit(100)
      .select(col("token"), lit(1).as("in_vocab"))
    st.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("source"))
      .agg(
        sum(col("n")).as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("n")).otherwise(lit(0L))).as("n_oov"))
      .withColumn("oov_rate",
        roundTo(col("n_oov").cast("double") / col("n_tokens"), 6))
      .orderBy("source")
  }

  val vocabOovOracle: String =
    s"""WITH toks AS (
       | SELECT source, unnest(regexp_extract_all(text, '$tokenRe')) AS token
       | FROM documents),
       |vocab AS (
       | SELECT token FROM (
       |  SELECT token, count(*) AS n_occ FROM toks GROUP BY 1
       |  ORDER BY n_occ DESC, token LIMIT 100)),
       |tagged AS (
       | SELECT t.source, CASE WHEN v.token IS NULL THEN 1 END AS oov
       | FROM toks t LEFT JOIN vocab v USING (token))
       |SELECT source, count(*) AS n_tokens, count(oov) AS n_oov,
       | floor(CAST(count(oov) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS oov_rate
       |FROM tagged GROUP BY 1 ORDER BY source""".stripMargin

  /** Adjacent-token-pair census — the first BPE merge step (count every
    * neighboring pair, the max count is the merge a tokenizer trainer
    * would apply). Same word-count topology as [[vocabTopk]]: explode the
    * position grid, build the pair with positional `element_at` (codegen'd
    * — no interpreted zip lambda on the per-token hot path), one keyed
    * aggregate with map-side partials, global top-k as
    * TakeOrderedAndProject. At 100 TB pair cardinality ≲ vocab², but the
    * partial aggregation bounds the exchange by DISTINCT pairs per task.
    */
  def bpePairStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        expr(s"regexp_extract_all(text, '$tokenRe', 0)").as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
      .filter(col("n") >= 2) // sequence(1, n-1) would run DESCENDING for n<2
      .select(col("doc_id"), col("toks"),
        explode(expr("sequence(1, n - 1)")).as("i"))
      .select(col("doc_id"),
        concat(element_at(col("toks"), col("i")), lit(" "),
          element_at(col("toks"), col("i") + 1)).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occ").desc, col("pair"))
      .limit(50)

  val bpePairStatsOracle: String =
    s"""WITH t AS (
       | SELECT doc_id, regexp_extract_all(text, '$tokenRe') AS toks
       | FROM documents),
       |g AS (
       | SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
       | FROM t WHERE len(toks) >= 2)
       |SELECT toks[i] || ' ' || toks[i+1] AS pair, count(*) AS n_occ,
       | count(DISTINCT doc_id) AS n_docs
       |FROM g GROUP BY pair
       |ORDER BY n_occ DESC, pair LIMIT 50""".stripMargin

  /** Heavy-hitter tokens via the Misra–Gries typed Aggregator
    * ([[graft.functions.MisraGries]]) — k=20 counters of state per task at
    * ANY vocabulary size, mergeable partials, underestimates bounded by
    * n/(k+1). Rows-only by nature (which non-heavy tokens survive in the
    * summary depends on partition merge order); `MisraGriesSpec` proves
    * the guarantees that ARE deterministic: every true heavy hitter
    * present, every estimate within the bound.
    */
  /** Summary width of the registered heavy-hitter query (bound = n/(k+1)). */
  val mgK = 20

  /** Driver gate for the Misra–Gries summary (r9 verdict item 1a): the raw
    * summary is merge-order-dependent (WHICH non-heavy tokens survive
    * varies with partition merge order) so its rows can never be pinned —
    * but the sketch's CONTRACT is order-insensitive and that is what this
    * digest checks, the same tolerance-boolean move as
    * [[WindowsAndStats.a13Approx]]:
    *
    *  - every token with true frequency > n/(k+1) is present
    *    (`heavy_missing` = 0 — the MG coverage guarantee);
    *  - every reported estimate lies in [true − ⌊n/(k+1)⌋, true]
    *    (`ests_out_of_bound` = 0; `est*(k+1) > n ⇒ est ≥ true − n/(k+1)`
    *    with the floor absorbed by integer est/true);
    *  - no phantom tokens (summary entry absent from the corpus) and at
    *    most k counters survive.
    *
    * `n_heavy` is COMPUTED by the DuckDB oracle from its own GROUP BY (one
    * aggregate away, exactly as the verdict noted), so the heavy-set size
    * is cross-engine-checked, not a VALUES snapshot. The integer products
    * (`true_count * (k+1) > n`) sidestep the float-division boundary both
    * engines would otherwise have to agree on. Two corpus passes (true
    * counts + sketch) are inherent to a verification gate — production
    * runs only the sketch pass; the gate exists to prove that pass honest.
    */
  def vocabMgGuarantee(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select(explode(expr(s"regexp_extract_all(text, '$tokenRe', 0)")).as("token"))
    val tc = toks.groupBy("token").agg(count(lit(1)).as("true_count"))
    val summary = toks.as[String]
      .select(graft.functions.MisraGries.aggregator(mgK).toColumn.name("hh"))
      .select(explode(col("hh")).as("h"))
      .select(col("h.token").as("s_token"), col("h.est_count").as("est_count"))
    val tot = tc.agg(sum(col("true_count")).cast("long").as("n_tokens"))
    val isHeavy = col("true_count") * (mgK + 1) > col("n_tokens")
    val inSummary = col("s_token").isNotNull
    val bound = expr(s"n_tokens div ${mgK + 1}")
    tc.join(summary, col("token") === col("s_token"), "full_outer")
      .crossJoin(broadcast(tot))
      .agg(
        sum(when(isHeavy, 1L).otherwise(0L)).cast("long").as("n_heavy"),
        sum(when(isHeavy && !inSummary, 1L).otherwise(0L)).cast("long")
          .as("heavy_missing"),
        sum(when(inSummary && col("token").isNotNull &&
            (col("est_count") > col("true_count") ||
             col("est_count") < col("true_count") - bound), 1L)
          .otherwise(0L)).cast("long").as("ests_out_of_bound"),
        sum(when(inSummary && col("token").isNull, 1L).otherwise(0L)).cast("long")
          .as("phantom_tokens"),
        (sum(when(inSummary, 1L).otherwise(0L)) <= mgK).as("summary_size_ok"))
  }

  val vocabMgGuaranteeOracle: String =
    s"""WITH toks AS (
       | SELECT unnest(regexp_extract_all(text, '$tokenRe')) AS token FROM documents),
       |tc AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM tc)
       |SELECT CAST((SELECT count(*) FROM tc, tot WHERE c * ${mgK + 1} > n) AS BIGINT)
       |  AS n_heavy,
       | CAST(0 AS BIGINT) AS heavy_missing,
       | CAST(0 AS BIGINT) AS ests_out_of_bound,
       | CAST(0 AS BIGINT) AS phantom_tokens,
       | TRUE AS summary_size_ok""".stripMargin

  def vocabHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select(explode(expr(s"regexp_extract_all(text, '$tokenRe', 0)")).as("token"))
      .as[String]
    // ONE typed aggregate computes the summary AND the stream length —
    // a separate count() branch would re-run the tokenize pass (the
    // two-branch trap vocabOovRate's scaladoc warns about)
    toks
      .select(graft.functions.MisraGries.aggregator(mgK).toColumn.name("hh"),
        count(lit(1)).as("n").as[Long])
      .toDF("hh", "n_tokens")
      .select(explode(col("hh")).as("h"), col("n_tokens"))
      .select(col("h.token").as("token"), col("h.est_count").as("est_count"),
        col("n_tokens"), expr(s"n_tokens div ${mgK + 1}").as("max_underestimate"))
      .orderBy(col("est_count").desc, col("token"))
  }

  /** The pinned sf0.01 probe estimates (see [[vocabCms]]'s determinism
    * argument).
    */
  val vocabCmsOracle: String =
    """SELECT token, CAST(est_count AS BIGINT) AS est_count
      |FROM (VALUES ('a', 880), ('and', 0), ('data', 908), ('in', 0),
      | ('key', 896), ('of', 0), ('query', 871), ('row', 943),
      | ('spark', 880), ('table', 908), ('the', 840), ('to', 0),
      | ('value', 897), ('zzz_absent', 0)) AS t(token, est_count)
      |ORDER BY token""".stripMargin

  // ---------------------------------------------------------------------
  // BPE merge training

  /** Number of merge rounds the registered query trains (a real tokenizer
    * trains ~30k; 8 keeps the gate fast while exercising every mechanism —
    * including merged symbols forming pairs with their neighbors).
    */
  private[graft] val bpeMergeRounds = 8

  /** Distributed BPE training (Sennrich et al. 2016): the character-merge
    * loop that [[bpePairStats]]'s one-shot census is the first step of.
    * The corpus is touched ONCE — the word-frequency census, the classic
    * word-count shuffle. Every merge round after that runs over the
    * VOCAB-sized (word, count, symbols) table: weighted pair counts via
    * explode + map-side-combined sum, argmax to the driver (1 row), and a
    * left-to-right fold (`aggregate` HOF) applying the merge — exactly how
    * production BPE trainers work (frequency table, not corpus, in the
    * loop), so corpus scale only affects the census pass. Each round
    * re-materializes the table (`localCheckpoint`) so eight folds never
    * stack into one interpreted mega-plan.
    *
    * Fully deterministic with NO quantization caveats: counts are exact
    * integer sums and the argmax tie-break (count desc, pair asc) is
    * total — the pinned oracle is layout-independent by arithmetic.
    * Output: one row per merge round, the learned ranked merge table.
    */
  def bpeTrainMerges(s: SparkSession, dir: String): DataFrame = {
    // the TRAINER always trains (memo refreshed for consumers): under
    // Bench's min-of-2 a memo hit would report the training operator at
    // cache-lookup cost, hiding the dataflow this entry exists to track
    val result = trainBpe(s, dir)
    bpeCache.put(Tables.fingerprint(dir, "documents.parquet"), result)
    import s.implicits._
    result._1.toDF("merge_rank", "pair", "n_occ").orderBy("merge_rank")
  }

  /** Cached values are DRIVER-SIDE only (merge table + the three summary
    * counts) — caching the final symbol-table DataFrame would pin a
    * localCheckpoint RDD to whichever SparkSession trained it, a dead
    * reference once that session stops.
    */
  private val bpeCache = scala.collection.concurrent.TrieMap
    .empty[String, (Seq[(Long, String, Long)], (Long, Long, Long))]

  /** (merge table, (n_words, n_chars, n_symbols)) — memoized per fixture
    * (shared [[Tables.fingerprint]] scheme) so the stats consumer
    * rides the trainer's run.
    */
  private[graft] def trainedBpe(
      s: SparkSession, dir: String): (Seq[(Long, String, Long)], (Long, Long, Long)) =
    bpeCache.getOrElseUpdate(
      Tables.fingerprint(dir, "documents.parquet"), trainBpe(s, dir))

  private def trainBpe(
      s: SparkSession, dir: String): (Seq[(Long, String, Long)], (Long, Long, Long)) = {
    var words = Tables.documents(s, dir)
      .select(explode(expr(s"regexp_extract_all(text, '$tokenRe', 0)")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .select(col("word"), col("wc"),
        expr("filter(split(word, ''), x -> x != '')").as("syms"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    var exhausted = false
    for (r <- 1 to bpeMergeRounds if !exhausted) {
      val top = words
        .filter(size(col("syms")) >= 2)
        .select(col("wc"), col("syms"),
          explode(expr("sequence(1, size(syms) - 1)")).as("i"))
        .select(col("wc"),
          concat_ws(" ", element_at(col("syms"), col("i")),
            element_at(col("syms"), col("i") + 1)).as("pair"))
        .groupBy(col("pair")).agg(sum(col("wc")).as("n_occ"))
        .orderBy(col("n_occ").desc, col("pair"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val pair = top.head.getString(0)
        val Array(a, b) = pair.split(" ", 2)
        // the symbols are spliced into SQL text below: with the current
        // tokenRe they can only be [a-z0-9]+, but a widened token class
        // (quotes, backslashes, spaces) would corrupt the expression or
        // the space-joined pair key — fail loudly instead
        require(a.matches("[a-z0-9]+") && b.matches("[a-z0-9]+"),
          s"BPE symbol outside [a-z0-9]+ — escape before splicing: '$pair'")
        merges += ((r.toLong, pair, top.head.getLong(1)))
        // greedy left-to-right merge: fold each symbol into the rebuilt
        // array, fusing when the accumulator's tail is `a` and the next
        // symbol is `b` (try_element_at: ANSI-safe on the empty prefix)
        words = words.withColumn("syms", expr(
          s"""aggregate(syms, cast(array() as array<string>),
             | (acc, x) -> IF(try_element_at(acc, -1) = '$a' AND x = '$b',
             |   concat(slice(acc, 1, size(acc) - 1), array('$a$b')),
             |   concat(acc, array(x))))""".stripMargin))
          .localCheckpoint()
      }
    }
    val stats = words.agg(
      sum(col("wc")), sum(col("wc") * length(col("word"))),
      sum(col("wc") * size(col("syms")))).head()
    (merges.toSeq, (stats.getLong(0), stats.getLong(1), stats.getLong(2)))
  }

  /** Corpus compression under the learned merges — the trained artifact
    * APPLIED: total words and characters (SQL-exact in the oracle) against
    * the post-merge symbol count and the chars-per-symbol ratio (pinned —
    * they depend on the merge loop). One aggregate over the final symbol
    * table joined to nothing; the corpus was already spent in the census.
    */
  def bpeTokenizeStats(s: SparkSession, dir: String): DataFrame = {
    val (_, (nWords, nChars, nSymbols)) = trainedBpe(s, dir)
    import s.implicits._
    Seq((nWords, nChars, nSymbols))
      .toDF("n_words", "n_chars", "n_symbols")
      .select(col("n_words"), col("n_chars"), col("n_symbols"),
        roundTo(col("n_chars").cast("double") / col("n_symbols"), 4)
          .as("chars_per_symbol"))
  }

  /** n_words/n_chars are REAL SQL over the same tokenization; the
    * post-merge symbol count and ratio are pinned (sf0.01) — the
    * [[Extras.a4HllUnionOracle]] mixed-oracle pattern.
    */
  val bpeTokenizeStatsOracle: String =
    s"""WITH t AS (
       | SELECT unnest(regexp_extract_all(text, '$tokenRe')) AS w FROM documents)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM t) AS n_words,
       | (SELECT CAST(sum(len(w)) AS BIGINT) FROM t) AS n_chars,
       | CAST(101534 AS BIGINT) AS n_symbols,
       | CAST(1.2066 AS DOUBLE) AS chars_per_symbol""".stripMargin

  /** Pinned at sf0.01 (seed-42 fixture; exact integer arithmetic — see
    * scaladoc). Merge 6 (`m er`) is the census-vs-training distinction
    * made visible: "er" exists only because merge 1 created it.
    */
  val bpeTrainMergesOracle: String =
    """SELECT CAST(merge_rank AS BIGINT) AS merge_rank, pair,
      | CAST(n_occ AS BIGINT) AS n_occ
      |FROM (VALUES
      | (1, 'e r', 4568), (2, 'i n', 2760), (3, 'o w', 2747), (4, 'o r', 2696),
      | (5, 's t', 2676), (6, 'm er', 1852), (7, 'a t', 1845), (8, 'l u', 1831)
      |) t(merge_rank, pair, n_occ) ORDER BY merge_rank""".stripMargin

  // ---------------------------------------------------------------------
  // Split distribution drift
  // ---------------------------------------------------------------------

  /** Token-distribution drift between the train and val splits: the
    * top-20 tokens by rate divergence, with per-million rates and each
    * token's Jensen-Shannon divergence contribution (in micro-bits).
    * The split-health gate a training pipeline runs after assignment —
    * a hash split SHOULD give near-zero drift; a top list dominated by
    * a few tokens means a correlated key (one source, one template)
    * leaked into the split function.
    *
    * Determinism across engines: the ranking key is NOT the computed
    * double (near-ties in floats could order differently under a
    * different summation order) but the exact integer cross-product
    * |n_train·T_val − n_val·T_train| — the sign-free comparison of the
    * two rates over a common denominator, computed in 64-bit integers
    * on both sides. The doubles (rates, JS terms) are display columns,
    * rounded at 3 dp where cross-engine log2 ulp noise (~1e-10 of the
    * value) cannot reach.
    *
    * Scale: explode → keyed word-count aggregate (map-side partials),
    * one 1-row totals broadcast, top-k as TakeOrderedAndProject. No
    * all-pairs anything; the JS sum per token is arithmetic on the
    * joined row.
    */
  def splitDrift(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(OrderingOps.splitExpr(col("doc_id")).as("split"),
        explode(expr(s"regexp_extract_all(text, '$tokenRe', 0)")).as("token"))
      .where(col("split").isin("train", "val"))
    val counts = toks.groupBy("token").agg(
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
      sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"))
    val tot = counts.agg(sum("n_train").as("tt"), sum("n_val").as("tv"))
    val sc = counts.crossJoin(broadcast(tot)) // 1-row totals, broadcast-scalar
    val p = col("n_train") / col("tt")
    val q = col("n_val") / col("tv")
    val m = (p + q) / lit(2.0)
    val termT = when(col("n_train") > 0, p * log2(p / m)).otherwise(lit(0.0))
    val termV = when(col("n_val") > 0, q * log2(q / m)).otherwise(lit(0.0))
    sc.select(col("token"), col("n_train"), col("n_val"),
        abs(col("n_train") * col("tv") - col("n_val") * col("tt")).as("drift_x"),
        roundTo(col("n_train") * lit(1e6) / col("tt"), 3).as("ppm_train"),
        roundTo(col("n_val") * lit(1e6) / col("tv"), 3).as("ppm_val"),
        roundTo((lit(0.5) * termT + lit(0.5) * termV) * lit(1e6), 3).as("js_ubits"))
      .orderBy(col("drift_x").desc, col("token"))
      .limit(20)
  }

  val splitDriftOracle: String =
    s"""WITH toks AS (
       | SELECT CASE WHEN b < 52429 THEN 'train' ELSE 'val' END AS split, token
       | FROM (
       |  SELECT CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
       |           AS INTEGER) AS BIGINT) AS b,
       |         unnest(regexp_extract_all(text, '$tokenRe')) AS token
       |  FROM documents)
       | WHERE b < 58982),
       |counts AS (
       | SELECT token,
       |  CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       |  CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val
       | FROM toks GROUP BY token),
       |tot AS (SELECT CAST(sum(n_train) AS BIGINT) AS tt,
       |               CAST(sum(n_val) AS BIGINT) AS tv FROM counts),
       |sc AS (
       | SELECT token, n_train, n_val, tt, tv,
       |  n_train / tt AS p, n_val / tv AS q
       | FROM counts, tot)
       |SELECT token, n_train, n_val,
       | abs(n_train * tv - n_val * tt) AS drift_x,
       | floor((n_train * 1e6 / tt) * 1e3 + 0.5) / 1e3 AS ppm_train,
       | floor((n_val * 1e6 / tv) * 1e3 + 0.5) / 1e3 AS ppm_val,
       | floor(((5e-1 * (CASE WHEN n_train > 0
       |                      THEN p * log2(p / ((p + q) / 2e0)) ELSE 0e0 END)
       |       + 5e-1 * (CASE WHEN n_val > 0
       |                      THEN q * log2(q / ((p + q) / 2e0)) ELSE 0e0 END))
       |       * 1e6) * 1e3 + 0.5) / 1e3 AS js_ubits
       |FROM sc ORDER BY drift_x DESC, token LIMIT 20""".stripMargin

  /** Contiguous phrase retrieval over POSITIONAL POSTINGS — the
    * inverted-index topology where a phrase match is an adjacency join
    * on (doc, position), never a regex re-scan of reassembled text. The
    * probe phrases are the corpus's own top-5 bigrams (self-contained
    * and deterministic); per phrase, the top-3 documents by occurrence
    * count. BM25 ([[bm25Retrieval]]) is the bag-of-words scorer; this
    * is its positional complement (exact-phrase constraint), the other
    * half of a lexical retrieval engine.
    *
    * Scale: postings fan out map-side (posexplode); the adjacency
    * self-join is keyed on (doc, pos) — at 100 TB the postings table is
    * the maintained index, written partitioned by token, and a phrase
    * probe touches only its terms' postings (the [[fuzzyLookupProbes]]
    * asymmetry); the census top-5 is a TakeOrderedAndProject; the
    * per-phrase top-3 plans as WindowGroupLimit heaps. The census
    * top-5 is collected as FIVE bounded literals (an index-metadata
    * probe, like the ANN centroid fetches), so the retrieval pass is a
    * literal IN-filter over a fresh postings derivation — no
    * session-lifetime `.cache()` pinning corpus-scale storage
    * (ADVICE r10: the previous cache was never unpersisted).
    */
  def phraseSearch(s: SparkSession, dir: String): DataFrame = {
    def bigrams: DataFrame = {
      val post = Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(expr(s"regexp_extract_all(text, '$tokenRe', 0)"))
            .as(Seq("pos", "tok")))
      post.as("p1").join(post.as("p2"),
          col("p1.doc_id") === col("p2.doc_id") && col("p2.pos") === col("p1.pos") + 1)
        .select(col("p1.doc_id").as("doc_id"),
          concat(col("p1.tok"), lit(" "), col("p2.tok")).as("phrase"))
    }
    // bounded driver probe: exactly 5 phrase strings
    val top5 = bigrams.groupBy("phrase").agg(count(lit(1)).as("n_tot"))
      .orderBy(col("n_tot").desc, col("phrase")).limit(5)
      .collect().map(_.getString(0)).toSeq
    bigrams.filter(col("phrase").isin(top5: _*))
      .groupBy(col("phrase"), col("doc_id"))
      .agg(count(lit(1)).as("n_occ"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("phrase").orderBy(col("n_occ").desc, col("doc_id")))
        .cast("long"))
      .filter(col("rank") <= 3)
      .select(col("phrase"), col("rank"), col("doc_id"), col("n_occ"))
      .orderBy("phrase", "rank")
  }

  /** The oracle spells the SAME semantics through the array form
    * (generate_series over token lists) — equivalent by construction,
    * and only the Spark side needs the postings-join shape that works
    * from an index without document reassembly.
    */
  val phraseSearchOracle: String =
    s"""WITH t AS (
       | SELECT doc_id, regexp_extract_all(text, '$tokenRe') AS toks
       | FROM documents),
       |g AS (
       | SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
       | FROM t WHERE len(toks) >= 2),
       |big AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS phrase FROM g),
       |top5 AS (SELECT phrase, count(*) AS n_tot FROM big
       |         GROUP BY phrase ORDER BY n_tot DESC, phrase LIMIT 5),
       |m AS (SELECT b.phrase, b.doc_id, count(*) AS n_occ
       |      FROM big b JOIN top5 USING (phrase) GROUP BY 1, 2),
       |r AS (SELECT phrase, doc_id, n_occ,
       |       row_number() OVER (PARTITION BY phrase ORDER BY n_occ DESC, doc_id) AS rank
       |      FROM m)
       |SELECT phrase, rank, doc_id, n_occ FROM r WHERE rank <= 3
       |ORDER BY phrase, rank""".stripMargin

  /** Zipf-law fit over the full token frequency census: OLS slope and R²
    * of ln(freq) against ln(rank). Natural corpora sit near slope −1
    * with high R²; a synthetic/templated corpus (like this fixture's
    * word soup) flattens, and a corpus poisoned by boilerplate
    * steepens — the one-row distributional health check a tokenizer
    * pipeline runs beside [[vocabTopk]]'s head inspection.
    *
    * Scale: the word-count census (map-side partials), then ranking via
    * ONE window over the VOCABULARY (bounded by type count, not corpus
    * size — the [[vocabOovRate]] argument), then `regr_*` moment
    * aggregates whose states merge losslessly ([[a18_regression]]'s
    * topology). The 4 dp rounding sits ~8 orders above the moment sums'
    * addition-order noise — the same envelope a18 ships under.
    */
  def vocabZipf(s: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(s, dir)
      .select(explode(expr(s"regexp_extract_all(text, '$tokenRe', 0)")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val ranked = freq.withColumn("rank",
      row_number().over(Window.orderBy(col("n").desc, col("token"))))
    ranked.agg(
      count(lit(1)).as("n_types"),
      sum(col("n")).as("n_tokens"),
      roundTo(expr("regr_slope(ln(n), ln(rank))"), 4).as("zipf_slope"),
      roundTo(expr("regr_r2(ln(n), ln(rank))"), 4).as("zipf_r2"))
  }

  val vocabZipfOracle: String =
    s"""WITH toks AS (
       | SELECT unnest(regexp_extract_all(text, '$tokenRe')) AS token
       | FROM documents),
       |f AS (SELECT token, count(*) AS n FROM toks GROUP BY token),
       |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rank FROM f)
       |SELECT count(*) AS n_types, CAST(sum(n) AS BIGINT) AS n_tokens,
       | floor(regr_slope(ln(n), ln(rank)) * 1e4 + 0.5) / 1e4 AS zipf_slope,
       | floor(regr_r2(ln(n), ln(rank)) * 1e4 + 0.5) / 1e4 AS zipf_r2
       |FROM r""".stripMargin

  override def queries: Seq[RegisteredQuery] = Seq(
    RegisteredQuery("text_normalize", textNormalize, Some(textNormalizeOracle)),
    RegisteredQuery("split_drift", splitDrift, Some(splitDriftOracle)),
    RegisteredQuery("phrase_search", phraseSearch, Some(phraseSearchOracle)),
    RegisteredQuery("vocab_zipf", vocabZipf, Some(vocabZipfOracle)),
    RegisteredQuery("text_urls", textUrls, Some(textUrlsOracle)),
    RegisteredQuery("vocab_topk", vocabTopk, Some(vocabTopkOracle)),
    RegisteredQuery("bpe_pair_stats", bpePairStats, Some(bpePairStatsOracle)),
    RegisteredQuery("bpe_train_merges", bpeTrainMerges, Some(bpeTrainMergesOracle)),
    RegisteredQuery("bpe_tokenize_stats", bpeTokenizeStats, Some(bpeTokenizeStatsOracle)),
    RegisteredQuery("vocab_mg_heavy", vocabMgGuarantee, Some(vocabMgGuaranteeOracle)),
    RegisteredQuery("vocab_oov_rate", vocabOovRate, Some(vocabOovOracle)),
    RegisteredQuery("tfidf_topterms", tfidfTopterms, Some(tfidfToptermsOracle)),
    RegisteredQuery("collocation_pmi", collocationPmi, Some(collocationPmiOracle)),
    RegisteredQuery("bm25_retrieval", bm25Retrieval, Some(bm25Oracle)),
    RegisteredQuery("hybrid_rrf_retrieval", hybridRrfRetrieval, Some(hybridRrfOracle)),
    RegisteredQuery("lm_score", lmScore, Some(lmScoreOracle)),
    RegisteredQuery("vocab_cms", vocabCms, Some(vocabCmsOracle)),
  )
}

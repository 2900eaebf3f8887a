package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: quality scoring, language-ID heuristic, token
  * counting, document fingerprinting. All pure `functions._` column math
  * (codegen'd, no UDFs) so every operator scales as a single projection +
  * aggregation over the corpus — at 100 TB these are embarrassingly
  * parallel map-side transforms.
  */
object TextOps {

  import Parity.r4

  /** Marker-word hit count (substring matches, shared with the oracle). */
  private def hits(c: Column, pattern: String): Column =
    size(expr(s"regexp_extract_all(text, '$pattern', 0)"))

  // ------------------------------------------------------------------
  /** Quality scoring: token count, char lengths, stopword ratio, average
    * token length — the length/punct/stopword-ratio heuristics used to
    * filter web corpora, aggregated per language label. Integer counts
    * average exactly (stableAvg), ratios are continuous.
    */
  def textStats(spark: SparkSession, sfDir: String): DataFrame = {
    val tokens = size(split(col("text"), " "))
    val stop = hits(col("text"), "(the|a|of|and|in)")
    Tables.documents(spark, sfDir)
      .select(col("lang"), col("n_chars"),
        length(col("text")).as("len"), tokens.as("n_tokens"), stop.as("n_stop"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("len")).cast("long").as("total_chars"),
        // length(text) == n_chars is a data-quality invariant of the table
        sum(when(col("len") === col("n_chars"), 0).otherwise(1)).cast("long")
          .as("n_len_mismatch"),
        Parity.stableAvg(col("n_tokens")).as("avg_tokens"),
        round(sum(col("n_stop")).cast("double") / sum(col("n_tokens")), 6)
          .as("stop_ratio"),
        round(sum(col("len") - col("n_tokens") + 1).cast("double") /
          sum(col("n_tokens")), 6).as("avg_token_len"))
      .orderBy(col("lang"))
  }

  private val textStatsOracle =
    s"""SELECT lang, COUNT(*) AS n_docs,
       |       CAST(SUM(len) AS BIGINT) AS total_chars,
       |       CAST(SUM(CASE WHEN len = n_chars THEN 0 ELSE 1 END) AS BIGINT) AS n_len_mismatch,
       |       ${Parity.stableAvgSql("n_tokens")} AS avg_tokens,
       |       ROUND(CAST(SUM(n_stop) AS DOUBLE) / SUM(n_tokens), 6) AS stop_ratio,
       |       ROUND(CAST(SUM(len - n_tokens + 1) AS DOUBLE) / SUM(n_tokens), 6) AS avg_token_len
       |FROM (SELECT lang, n_chars, length(text) AS len,
       |             len(string_split(text, ' ')) AS n_tokens,
       |             len(regexp_extract_all(text, '(the|a|of|and|in)')) AS n_stop
       |      FROM documents)
       |GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------------------
  /** Language-ID n-gram heuristic: score each candidate language by
    * marker-token hits, argmax with deterministic tie-break order, then
    * cross-tabulate predicted vs. labeled language (the confusion matrix a
    * corpus pipeline monitors).
    */
  /** The langId decision expression over `text` — factored so paired
    * evaluations (CurationOps.mcnemar) score the SAME classifier the
    * lang-ID query ships, not a re-derivation. */
  private[ops] def langIdPredicted: Column = {
    val sEn = hits(col("text"), "(the|a|of|and)")
    val sEs = hits(col("text"), "(el|la|de|que)")
    val sZh = hits(col("text"), "(zh|shi|bu|le)")
    when(sEn >= sEs && sEn >= sZh, "en")
      .when(sEs >= sZh, "es")
      .otherwise("zh")
  }

  /** The langId decision as DuckDB SQL over a frame exposing `text` —
    * the oracle half of [[langIdPredicted]]. */
  private[ops] val langIdPredictedSql =
    """CASE WHEN len(regexp_extract_all(text, '(the|a|of|and)')) >=
      |          len(regexp_extract_all(text, '(el|la|de|que)'))
      |      AND len(regexp_extract_all(text, '(the|a|of|and)')) >=
      |          len(regexp_extract_all(text, '(zh|shi|bu|le)')) THEN 'en'
      |     WHEN len(regexp_extract_all(text, '(el|la|de|que)')) >=
      |          len(regexp_extract_all(text, '(zh|shi|bu|le)')) THEN 'es'
      |     ELSE 'zh' END""".stripMargin

  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val sEn = hits(col("text"), "(the|a|of|and)")
    val sEs = hits(col("text"), "(el|la|de|que)")
    val sZh = hits(col("text"), "(zh|shi|bu|le)")
    Tables.documents(spark, sfDir)
      .withColumn("s_en", sEn).withColumn("s_es", sEs).withColumn("s_zh", sZh)
      .withColumn("predicted", langIdPredicted)
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"),
        sum(col("s_en")).cast("long").as("sum_s_en"))
      .orderBy(col("lang"), col("predicted"))
  }

  private val langIdOracle =
    """SELECT lang, predicted, COUNT(*) AS n,
      |       CAST(SUM(s_en) AS BIGINT) AS sum_s_en
      |FROM (SELECT lang, s_en, s_es, s_zh,
      |             CASE WHEN s_en >= s_es AND s_en >= s_zh THEN 'en'
      |                  WHEN s_es >= s_zh THEN 'es'
      |                  ELSE 'zh' END AS predicted
      |      FROM (SELECT lang,
      |              len(regexp_extract_all(text, '(the|a|of|and)')) AS s_en,
      |              len(regexp_extract_all(text, '(el|la|de|que)')) AS s_es,
      |              len(regexp_extract_all(text, '(zh|shi|bu|le)')) AS s_zh
      |            FROM documents))
      |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin

  // ------------------------------------------------------------------
  /** Document fingerprinting: md5 over whitespace/punctuation-normalized
    * text (the canonical-form hash used for exact-dup detection at corpus
    * scale), plus a cheap BPE-ish token estimate (bytes/4). Emitted
    * per-document — at scale this is the map-side normalize+hash pass
    * whose output feeds the dedup groupBy.
    */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        md5(regexp_replace(lower(col("text")), "[^a-z0-9]", "").cast("binary"))
          .as("fingerprint"),
        size(split(col("text"), " ")).as("ws_tokens"),
        ceil(length(col("text")) / 4.0).cast("long").as("bpe_est"))
      .orderBy(col("doc_id"))

  private val fingerprintOracle =
    """SELECT doc_id,
      |       md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint,
      |       CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
      |       CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_est
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  /** BPE-ish regex tokenizer + rolling polynomial fingerprint. The
    * token pattern is the GPT-2-style segmenter reduced to this corpus'
    * alphabet (space-prefixed letter runs / digit runs / symbol runs);
    * the fingerprint is [[graft.functions.RollingHash]] — a codegen'd
    * sequential base-31 fold mod 2^31-1, matched bit-for-bit by
    * DuckDB's list_reduce because both engines fold left-to-right over
    * the same integer sequence (all intermediates < 2^36, no overflow
    * on either side). Everything is per-row column math: at corpus
    * scale this is the map-side tokenize+hash pass before any shuffle.
    */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.TextExprs.register(spark)
    val bpePattern = "( ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+)"
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        size(expr(s"regexp_extract_all(text, '$bpePattern', 0)")).as("n_bpe"),
        size(split(col("text"), " ")).as("n_ws"),
        expr("roll_hash(text)").as("roll_hash"))
      .orderBy(col("doc_id"))
  }

  private val tokenCountOracle =
    """SELECT doc_id,
      |       CAST(len(regexp_extract_all(
      |              text, '( ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+)'))
      |            AS INTEGER) AS n_bpe,
      |       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws,
      |       list_reduce(list_prepend(CAST(7 AS BIGINT),
      |         list_transform(string_split(text, ''), ch -> CAST(unicode(ch) AS BIGINT))),
      |         (acc, c) -> (acc * 31 + c) % 2147483647) AS roll_hash
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  /** Quality filtering: the Gopher-style keep/drop rules composed from
    * the scalar metrics — token count in range, stopword ratio above a
    * floor, mean word length in a sane band. Emits the per-source
    * keep/drop tallies plus surviving-token mass: the numbers a corpus
    * curation run actually reports. Pure column math; the verdict is a
    * single codegen'd boolean per row.
    */
  /** The Gopher-style keep predicate over a `text` column, factored so
    * pipeline compositions ([[CurationOps.pipelineLedger]]) apply the
    * IDENTICAL rule qualityFilter reports on. */
  private[ops] def qualityKeep: Column = {
    val nTok = size(split(col("text"), " "))
    val nStop = hits(col("text"), "(the|a|of|and|in)")
    val meanLen = (length(col("text")) - nTok + 1).cast("double") / nTok
    nTok.between(20, 1000) &&
      (nStop.cast("double") / nTok) >= 0.01 &&
      meanLen.between(2.0, 12.0)
  }

  /** DuckDB rendering of [[qualityKeep]] (expects `text` in scope). */
  private[ops] val qualityKeepSql: String =
    """((len(string_split(text, ' ')) BETWEEN 20 AND 1000)
      | AND (CAST(len(regexp_extract_all(text, '(the|a|of|and|in)')) AS DOUBLE)
      |      / len(string_split(text, ' '))) >= 0.01
      | AND ((CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
      |       / len(string_split(text, ' '))) BETWEEN 2.0 AND 12.0))""".stripMargin

  def qualityFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val nTok = size(split(col("text"), " "))
    Tables.documents(spark, sfDir)
      .withColumn("n_tok", nTok)
      .withColumn("keep", qualityKeep)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1).otherwise(0)).cast("long").as("n_kept"),
        sum(when(col("keep"), col("n_tok")).otherwise(0)).cast("long")
          .as("kept_tokens"),
        round(sum(when(col("keep"), 1.0).otherwise(0.0)) / count(lit(1)), 6)
          .as("keep_rate"))
      .orderBy(col("source"))
  }

  private val qualityFilterOracle =
    """SELECT source, COUNT(*) AS n_docs,
      |       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |       CAST(SUM(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens,
      |       ROUND(SUM(CASE WHEN keep THEN 1.0 ELSE 0.0 END) / COUNT(*), 6) AS keep_rate
      |FROM (
      |  SELECT source, n_tok,
      |         (n_tok BETWEEN 20 AND 1000)
      |         AND (CAST(n_stop AS DOUBLE) / n_tok) >= 0.01
      |         AND ((CAST(length(text) - n_tok + 1 AS DOUBLE) / n_tok)
      |              BETWEEN 2.0 AND 12.0) AS keep
      |  FROM (SELECT source, text,
      |               len(string_split(text, ' ')) AS n_tok,
      |               len(regexp_extract_all(text, '(the|a|of|and|in)')) AS n_stop
      |        FROM documents))
      |GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------------------
  /** Corpus composition: per (source, lang) document and token mass with
    * each cell's share of the global token budget — the mixture report a
    * training-data pipeline tracks when weighting sources. The share is
    * a window over the aggregate (sum-of-sums), exact because token
    * counts are integers.
    */
  def corpusMix(spark: SparkSession, sfDir: String): DataFrame = {
    val perCell = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).cast("long").as("tokens"))
    perCell
      .withColumn("token_share",
        round(col("tokens").cast("double") /
          sum(col("tokens")).over(Window.partitionBy()), 6))
      .orderBy(col("source"), col("lang"))
  }

  private val corpusMixOracle =
    """SELECT source, lang, COUNT(*) AS n_docs,
      |       CAST(SUM(n_tok) AS BIGINT) AS tokens,
      |       ROUND(CAST(SUM(n_tok) AS DOUBLE) /
      |             SUM(SUM(n_tok)) OVER (), 6) AS token_share
      |FROM (SELECT source, lang, len(string_split(text, ' ')) AS n_tok
      |      FROM documents)
      |GROUP BY source, lang ORDER BY source, lang""".stripMargin

  // ------------------------------------------------------------------
  /** BM25 relevance scoring of the corpus against a fixed query-term
    * set — the retrieval primitive of a training-data curation stack
    * (quality-targeted selection, topic filtering, eval-set mining).
    *
    * Scale shape: one token explode filtered to the query terms BEFORE
    * the (doc, term) tf aggregation — the shuffle carries only matching
    * tokens, not the corpus. Document-frequency and corpus-length
    * scalars are one-row/tiny aggregates joined back by broadcast, so
    * the whole plan is two small shuffles over match rows plus
    * map-side column math; nothing driver-side.
    *
    * Float parity: every input to the score is an exact integer (tf,
    * df, dl, N, Σdl); the double expression tree is written token-
    * identically in the oracle (same literals, same operation order),
    * and the per-doc combination is a FIXED-ORDER sum of the three
    * pivoted per-term scores — not a SUM over rows, whose accumulation
    * order is engine-defined. `ln` is the one transcendental; both
    * engines are ≤1 ulp, and scores are rounded at 4 dp.
    */
  private val Bm25Terms = Seq("spark", "join", "window")

  def bm25(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val corpus = docs.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).cast("long").as("sum_dl"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // dfT is bounded by the 3-term query list here, but the join is
    // left UNHINTED on principle: a forced broadcast() on a df table
    // would hard-fail past the 8 GB limit if the term list ever grew
    // corpus-sized; AQE broadcasts the tiny side automatically.
    val scored = tf.join(dfT, Seq("term"))
      .crossJoin(broadcast(corpus))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("tfn", col("tf") * lit(2.2) / (col("tf") +
        lit(1.2) * (lit(0.25) +
          lit(0.75) * (col("dl") * col("n_docs")).cast("double") / col("sum_dl"))))
      .withColumn("s", col("idf") * col("tfn"))
    def termScore(t: String): Column =
      coalesce(max(when(col("term") === t, col("s"))), lit(0.0))
    val s = Bm25Terms.map(t => termScore(t).as(s"s_$t"))
    scored.groupBy(col("doc_id"), col("dl"))
      .agg(s.head, s.tail: _*)
      .select(col("doc_id"), col("dl"),
        round(col("s_spark"), 4).as("s_spark"),
        round(col("s_join"), 4).as("s_join"),
        round(col("s_window"), 4).as("s_window"),
        round(col("s_spark") + col("s_join") + col("s_window"), 4).as("bm25"))
      .orderBy(col("doc_id"))
  }

  /** Dirichlet prior for [[qlmDirichlet]] — Zhai & Lafferty's
    * standard μ. */
  private val QlmMu = 2000.0

  /** Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty
    * 2001) — the third lexical scorer beside [[bm25]] and the
    * ColBERT-style MaxSim in RetrievalOps, and the one LM-pretraining
    * people reach for because it IS a language model:
    * `score(q,d) = Σ_t ln((tf + μ·ctf_t/|C|) / (dl + μ))`. Unlike
    * BM25 every document scores against every query term (absent
    * terms draw the collection-smoothing mass — that's the point of
    * the prior), so the scorer doubles as a corpus-fit diagnostic.
    *
    * Scale shape: one explode for the corpus stats (a 1-row A6
    * scalar frame, broadcast by construction), one FILTERED explode
    * for per-doc tfs of the bounded query list (map-side, no
    * corpus-sized shuffle), a left join back to the doc spine, and
    * pure column math — the same two-exchange shape as bm25. */
  def qlmDirichlet(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val exploded = docs.select(col("doc_id"), explode(col("toks")).as("term"))
    val stats = exploded.agg(
      count(lit(1)).as("sum_dl"),
      Bm25Terms.map(t => sum(when(col("term") === t, 1L).otherwise(0L))
        .as(s"ctf_$t")): _*)
    val tf = exploded
      .filter(col("term").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("term") === Bm25Terms.head, 1L).otherwise(0L))
          .as(s"tf_${Bm25Terms.head}"),
        Bm25Terms.tail.map(t =>
          sum(when(col("term") === t, 1L).otherwise(0L)).as(s"tf_$t")): _*)
    def termScore(t: String): Column =
      log((coalesce(col(s"tf_$t"), lit(0L)).cast("double") +
        lit(QlmMu) * col(s"ctf_$t").cast("double") /
          col("sum_dl").cast("double")) /
        (col("dl").cast("double") + lit(QlmMu)))
    val raw = docs.select(col("doc_id"), col("dl"))
      .join(tf, Seq("doc_id"), "left")
      .crossJoin(broadcast(stats))
    raw.select((Seq(col("doc_id"), col("dl")) ++
      Bm25Terms.map(t => round(termScore(t), 4).as(s"s_$t")) :+
      round(Bm25Terms.map(termScore).reduce(_ + _), 4).as("qlm")): _*)
      .orderBy(col("doc_id"))
  }

  private[ops] val qlmDirichletOracle =
    s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS toks,
       |                     CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |              FROM documents),
       |ex AS (SELECT doc_id, unnest(toks) AS term FROM docs),
       |stats AS (SELECT COUNT(*) AS sum_dl,
       |                 SUM(CASE WHEN term = 'spark' THEN 1 ELSE 0 END)
       |                   AS ctf_spark,
       |                 SUM(CASE WHEN term = 'join' THEN 1 ELSE 0 END)
       |                   AS ctf_join,
       |                 SUM(CASE WHEN term = 'window' THEN 1 ELSE 0 END)
       |                   AS ctf_window
       |          FROM ex),
       |tf AS (SELECT doc_id,
       |              SUM(CASE WHEN term = 'spark' THEN 1 ELSE 0 END) AS f_s,
       |              SUM(CASE WHEN term = 'join' THEN 1 ELSE 0 END) AS f_j,
       |              SUM(CASE WHEN term = 'window' THEN 1 ELSE 0 END) AS f_w
       |       FROM ex WHERE term IN ('spark', 'join', 'window')
       |       GROUP BY doc_id)
       |SELECT doc_id, dl,
       |       ROUND(ln((COALESCE(f_s, 0) + $QlmMu * CAST(ctf_spark AS DOUBLE)
       |                   / sum_dl) / (CAST(dl AS DOUBLE) + $QlmMu)), 4)
       |         AS s_spark,
       |       ROUND(ln((COALESCE(f_j, 0) + $QlmMu * CAST(ctf_join AS DOUBLE)
       |                   / sum_dl) / (CAST(dl AS DOUBLE) + $QlmMu)), 4)
       |         AS s_join,
       |       ROUND(ln((COALESCE(f_w, 0) + $QlmMu * CAST(ctf_window AS DOUBLE)
       |                   / sum_dl) / (CAST(dl AS DOUBLE) + $QlmMu)), 4)
       |         AS s_window,
       |       ROUND(ln((COALESCE(f_s, 0) + $QlmMu * CAST(ctf_spark AS DOUBLE)
       |                   / sum_dl) / (CAST(dl AS DOUBLE) + $QlmMu))
       |           + ln((COALESCE(f_j, 0) + $QlmMu * CAST(ctf_join AS DOUBLE)
       |                   / sum_dl) / (CAST(dl AS DOUBLE) + $QlmMu))
       |           + ln((COALESCE(f_w, 0) + $QlmMu * CAST(ctf_window AS DOUBLE)
       |                   / sum_dl) / (CAST(dl AS DOUBLE) + $QlmMu)), 4)
       |         AS qlm
       |FROM docs LEFT JOIN tf USING (doc_id) CROSS JOIN stats
       |ORDER BY doc_id""".stripMargin

  private[ops] val bm25Oracle =
    """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS toks,
      |                     CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      |              FROM documents),
      |corpus AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl
      |           FROM docs),
      |tf AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
      |       FROM (SELECT doc_id, dl, unnest(toks) AS term FROM docs)
      |       WHERE term IN ('spark', 'join', 'window')
      |       GROUP BY doc_id, dl, term),
      |dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |scored AS (
      |  SELECT doc_id, dl, term,
      |         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
      |         (tf * 2.2 / (tf +
      |            1.2 * (0.25 + 0.75 * CAST(dl * n_docs AS DOUBLE) / sum_dl))) AS s
      |  FROM tf JOIN dfx USING (term) CROSS JOIN corpus),
      |pivoted AS (
      |  SELECT doc_id, dl,
      |         COALESCE(MAX(CASE WHEN term = 'spark'  THEN s END), 0.0) AS ss,
      |         COALESCE(MAX(CASE WHEN term = 'join'   THEN s END), 0.0) AS sj,
      |         COALESCE(MAX(CASE WHEN term = 'window' THEN s END), 0.0) AS sw
      |  FROM scored GROUP BY doc_id, dl)
      |SELECT doc_id, dl,
      |       ROUND(ss, 4) AS s_spark, ROUND(sj, 4) AS s_join,
      |       ROUND(sw, 4) AS s_window, ROUND(ss + sj + sw, 4) AS bm25
      |FROM pivoted ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  /** Heavy hitters over the corpus token stream — two-phase
    * Misra-Gries: (1) a SKETCH pass builds one k-counter summary per
    * partition (O(k) memory, zero shuffle — the only non-codegen stage,
    * confined to the pass whose whole point is constant memory over an
    * unbounded key domain); (2) an EXACT pass counts only the
    * candidate terms (broadcast semi-join, then a hash agg over
    * candidate-matching tokens). The MG guarantee makes the output
    * exact, not approximate: any term with global freq > n/(k+1) is
    * locally heavy in ≥1 partition and therefore survives its summary,
    * so with threshold n/40 and k=64 ≥ 39 the candidate union is a
    * SUPERSET of every reported term, and the exact pass removes all
    * false positives — which is why a plain GROUP BY … HAVING oracle
    * can hash-match a sketch-based plan. At 100 TB this is the
    * standard heavy-hitter shape: the full-vocab groupBy the oracle
    * runs would shuffle billions of distinct keys; the sketch pass
    * shuffles none and the exact pass only the heavy tail.
    */
  private val MgSummarySize = 64
  private val HhThresholdDen = 40L

  /** Pure Misra-Gries kernel: k-counter summary of a stream. Guarantee
    * (property-tested in PropertySpec): every item with frequency
    * > n/(k+1) survives in the summary. */
  private[graft] def mgSummary(
      it: Iterator[String], k: Int): scala.collection.Map[String, Long] = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    it.foreach { t =>
      if (m.contains(t)) m(t) += 1L
      else if (m.size < k) m(t) = 1L
      else { // MG step: decrement every counter, evict the zeros
        m.mapValuesInPlace((_, v) => v - 1L)
        m.filterInPlace((_, v) => v > 0L)
      }
    }
    m
  }

  def heavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("term"))
    val candidates = toks.as[String]
      .mapPartitions(it => mgSummary(it, MgSummarySize).keysIterator)
      .distinct()
    val counted = toks.join(broadcast(candidates.toDF("term")), Seq("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val tot = toks.agg(count(lit(1)).as("n_toks"))
    counted.crossJoin(broadcast(tot))
      .filter(col("cnt") * HhThresholdDen > col("n_toks")) // integer-exact
      .select(col("term"), col("cnt"),
        round(col("cnt").cast("double") / col("n_toks"), 6).as("share"))
      .orderBy(col("term"))
  }

  private val heavyHittersOracle =
    s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term
       |              FROM documents),
       |tot AS (SELECT COUNT(*) AS n_toks FROM toks),
       |counted AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term)
       |SELECT term, cnt,
       |       ROUND(CAST(cnt AS DOUBLE) / n_toks, 6) AS share
       |FROM counted CROSS JOIN tot
       |WHERE cnt * $HhThresholdDen > n_toks
       |ORDER BY term""".stripMargin

  // ------------------------------------------------------------------
  /** Unigram log-probability scoring — the perplexity-proxy quality
    * signal of a curation pipeline (docs whose tokens are improbable
    * under the corpus unigram LM are boilerplate/noise candidates):
    * per-doc average of ln p(token) under corpus-wide frequencies.
    *
    * Scale shape: term frequencies are one aggregation over the token
    * stream, joined back UNHINTED (vocab-sized — AQE broadcasts at
    * small SF, shuffle-joins at scale); the per-doc reduction is the
    * only corpus shuffle. Parity: each token's ln p is QUANTIZED to
    * integer micro-nats before the per-doc sum, so the reduction is
    * exact integer arithmetic — order-free by construction, immune to
    * the engines' different partial-sum orders (a double sum of ln
    * values would differ in ulps and flip 6 dp roundings). The one
    * division chain at the end is written token-identically.
    */
  def unigramLogprob(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tot = toks.agg(count(lit(1)).as("n_tot"))
    val freqs = toks.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    // freqs is corpus-VOCABULARY-sized (~1e8 terms at 100 TB): no
    // broadcast() hint — a forced hint overrides all size logic and
    // dies past Spark's 8 GB broadcast limit. AQE's runtime stats
    // pick broadcast at small SF and a shuffle join on the uniform
    // high-cardinality term key at scale.
    toks.join(freqs, Seq("term"))
      .crossJoin(broadcast(tot))
      .withColumn("lp_e6",
        round(log(col("tf").cast("double") / col("n_tot")) * lit(1000000.0), 0)
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("lp_e6")).as("slp"))
      .select(col("doc_id"), col("n_tok"),
        round(col("slp").cast("double") / col("n_tok") / lit(1000000.0), 6)
          .as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------- Min-K% membership
  /** Min-K% Prob membership-inference audit (Shi et al. '24,
    * "Detecting Pretraining Data from Large Language Models"): a
    * document the model has SEEN scores high even on its least-likely
    * tokens, so the test statistic is the mean logprob of each doc's
    * bottom-K% tokens — the contamination/memorization screen that
    * needs no reference model. Scored here under the SHIPPED unigram
    * LM ([[unigramLogprob]]'s exact lp_e6 lattice — the same
    * model-composition discipline as the eval family); K = 20%
    * (k = ⌈n/5⌉), flag when the doc's min-k mass clears
    * [[MinKThreshE6]] per token — the comparison is the integer
    * cross-multiplication `Σlp > T·k`, so NO division touches the
    * flag (signed-division parity never arises; the
    * duckdb-floor-division lesson).
    *
    * Scale shape: token scoring is the unigramLogprob vocab equi-join
    * (AQE broadcast at fixture scale, term-keyed shuffle at corpus
    * scale); the bottom-k pick is a per-doc window (parallel by
    * doc_id, narrow rows — ids and lattice longs only); rollup is
    * source-keyed. Sum-of-k-smallest is tie-safe: any tie-break at
    * the boundary yields the same multiset sum, so the window's
    * order-by needs no tiebreaker column. */
  private val MinKThreshE6 = -3440000L

  /** The STANDING unigram model: corpus term frequencies with the
    * corpus total denormalized onto every row, materialized once per
    * session+SF — the train-once artifact the serving twin scores
    * against (the nbModel lifecycle applied to the LM family). */
  private[graft] def unigramModelMaterialized(
      spark: SparkSession, sfDir: String): DataFrame =
    graft.etl.Medallion.materializeOnce(spark,
      s"${graft.etl.Medallion.warehouse(sfDir)}/unigram_model") {
      val toks = Tables.documents(spark, sfDir)
        .select(explode(split(col("text"), " ")).as("term"))
      toks.groupBy(col("term")).agg(count(lit(1)).as("tf"))
        .crossJoin(broadcast(toks.agg(count(lit(1)).as("n_tot"))))
    }

  /** Score a (doc_id, text) frame's Min-K% statistic against the
    * STANDING model — the ONE scorer definition the batch rollup's
    * semantics and the streaming twin
    * ([[graft.streaming.StreamingOps.minKStream]]) share: per doc,
    * the bottom-⌈n/5⌉ token logprobs' exact (Σlp_e6, k) and the
    * integer cross-multiplied flag. Terms absent from the standing
    * model drop (standing-model semantics: the server scores with
    * the vocabulary it trained). */
  private[graft] def minKScoreBatch(docs: DataFrame, sfDir: String)
      : DataFrame = {
    val m = unigramModelMaterialized(docs.sparkSession, sfDir)
    val scored = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .join(m, Seq("term"))
      .select(col("doc_id"),
        round(log(col("tf").cast("double") / col("n_tot")) * lit(1000000.0), 0)
          .cast("long").as("lp_e6"))
    val wDoc = Window.partitionBy(col("doc_id"))
    scored
      .withColumn("r", row_number().over(wDoc.orderBy(col("lp_e6").asc)))
      .withColumn("n", count(lit(1)).over(wDoc))
      .filter(col("r") <= expr("(n + 4) div 5"))
      .groupBy(col("doc_id"))
      .agg(sum(col("lp_e6")).as("sum_mink_lp_e6"),
        count(lit(1)).as("k_tokens"))
      .withColumn("flagged",
        col("sum_mink_lp_e6") > lit(MinKThreshE6) * col("k_tokens"))
  }

  def minKProb(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("term"))
    val tot = toks.agg(count(lit(1)).as("n_tot"))
    val freqs = toks.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val scored = toks.join(freqs, Seq("term"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("source"),
        round(log(col("tf").cast("double") / col("n_tot")) * lit(1000000.0), 0)
          .cast("long").as("lp_e6"))
    val wDoc = Window.partitionBy(col("doc_id"))
    val mink = scored
      .withColumn("r", row_number().over(wDoc.orderBy(col("lp_e6").asc)))
      .withColumn("n", count(lit(1)).over(wDoc))
      .filter(col("r") <= expr("(n + 4) div 5"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("lp_e6")).as("s"), count(lit(1)).as("k"))
      .withColumn("flagged", col("s") > lit(MinKThreshE6) * col("k"))
    mink.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
        sum(col("k")).cast("long").as("n_mink_tokens"),
        sum(col("s")).cast("long").as("sum_mink_lp_e6"))
      .withColumn("mink_avg",
        round(col("sum_mink_lp_e6").cast("double") /
          col("n_mink_tokens") / lit(1000000.0), 6))
      .orderBy(col("source"))
  }

  private val minKProbOracle =
    s"""WITH toks AS (SELECT doc_id, source,
       |                     unnest(string_split(text, ' ')) AS term
       |              FROM documents),
       |tot AS (SELECT COUNT(*) AS n_tot FROM toks),
       |freqs AS (SELECT term, COUNT(*) AS tf FROM toks GROUP BY term),
       |scored AS (
       |  SELECT doc_id, source,
       |         CAST(ROUND(ln(CAST(tf AS DOUBLE) / n_tot) * 1000000.0)
       |              AS BIGINT) AS lp_e6
       |  FROM toks JOIN freqs USING (term) CROSS JOIN tot),
       |ranked AS (
       |  SELECT doc_id, source, lp_e6,
       |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY lp_e6) AS r,
       |         COUNT(*) OVER (PARTITION BY doc_id) AS n
       |  FROM scored),
       |mink AS (
       |  SELECT doc_id, source, CAST(SUM(lp_e6) AS BIGINT) AS s,
       |         COUNT(*) AS k
       |  FROM ranked WHERE r <= (n + 4) // 5
       |  GROUP BY doc_id, source)
       |SELECT source, COUNT(*) AS n_docs,
       |       CAST(SUM(CASE WHEN s > $MinKThreshE6 * k THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_flagged,
       |       CAST(SUM(k) AS BIGINT) AS n_mink_tokens,
       |       CAST(SUM(s) AS BIGINT) AS sum_mink_lp_e6,
       |       ROUND(CAST(SUM(s) AS DOUBLE) / SUM(k) / 1000000.0, 6)
       |         AS mink_avg
       |FROM mink GROUP BY source ORDER BY source""".stripMargin

  private[ops] val unigramLogprobOracle =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |              FROM documents),
      |tot AS (SELECT COUNT(*) AS n_tot FROM toks),
      |freqs AS (SELECT term, COUNT(*) AS tf FROM toks GROUP BY term),
      |scored AS (
      |  SELECT doc_id,
      |         CAST(ROUND(ln(CAST(tf AS DOUBLE) / n_tot) * 1000000.0)
      |              AS BIGINT) AS lp_e6
      |  FROM toks JOIN freqs USING (term) CROSS JOIN tot)
      |SELECT doc_id, COUNT(*) AS n_tok,
      |       ROUND(CAST(SUM(lp_e6) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
      |         AS avg_logprob
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  /** Top-k distillation-logit truncation audit — the storage-format
    * decision of a distillation-data pipeline: a teacher's next-token
    * distribution is persisted as its top-k entries plus a lumped tail
    * (soft targets stored top-k are the standard format; storing the
    * full vocab row is ~1e5 floats per position). Here each document's
    * empirical token distribution p(t) = tf/len stands in for one
    * teacher context; the audit quantifies what top-8 truncation keeps:
    * kept probability mass, full vs kept-renormalized entropy, and the
    * renormalization penalty KL(q‖p) = −ln(kept_mass) (the exact
    * cross-entropy inflation of serving the renormalized top-k).
    *
    * Parity discipline: tf, len, kept_tf are exact integers; each
    * entropy term quantizes ln(p) to integer micro-nats ONCE and scales
    * by the integer tf, so both entropy sums are order-free long
    * arithmetic (the [[unigramLogprob]] lattice); ranking ties break on
    * the term string identically in both engines. The final divisions
    * are written token-identically.
    *
    * Scale shape: one token-stream aggregation to (doc, term) counts,
    * then per-doc windows (vocab-per-doc–bounded partitions, never
    * global) and one per-doc reduction — the same two-shuffle plan at
    * any corpus size; k=8 tail lumping is what makes 100 TB of teacher
    * logits storable at all.
    */
  private val LogitTopK = 8

  def logitCompress(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val byDoc = Window.partitionBy(col("doc_id"))
    val byFreq = byDoc.orderBy(col("tf").desc, col("term").asc)
    val ranked = tf
      .withColumn("len", sum(col("tf")).over(byDoc))
      .withColumn("rnk", row_number().over(byFreq))
      .withColumn("kept", col("rnk") <= LogitTopK)
      .withColumn("kept_sum",
        sum(when(col("kept"), col("tf")).otherwise(lit(0L))).over(byDoc))
    val terms = ranked
      .withColumn("c_full_e6", col("tf") *
        round(log(col("tf").cast("double") / col("len")) * lit(1000000.0), 0)
          .cast("long"))
      .withColumn("c_kept_e6", when(col("kept"), col("tf") *
        round(log(col("tf").cast("double") / col("kept_sum")) * lit(1000000.0), 0)
          .cast("long")).otherwise(lit(0L)))
    terms.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_vocab"),
        sum(when(col("kept"), lit(1L)).otherwise(lit(0L))).as("n_kept"),
        first(col("len")).as("len"),
        first(col("kept_sum")).as("kept_sum"),
        sum(col("c_full_e6")).as("s_full"),
        sum(col("c_kept_e6")).as("s_kept"))
      .select(col("doc_id"), col("n_vocab"), col("n_kept"),
        round(col("kept_sum").cast("double") / col("len"), 6).as("kept_mass"),
        // entropies and KL are ≥ 0 by construction; abs() only folds the
        // -0.0 a zero lattice sum would otherwise produce (ln(1) = 0 on
        // single-term or fully-kept docs), keeping the hash sign-stable
        abs(round(-col("s_full").cast("double") / col("len") / lit(1000000.0), 6))
          .as("ent_full"),
        abs(round(-col("s_kept").cast("double") / col("kept_sum") / lit(1000000.0), 6))
          .as("ent_kept"),
        abs(round(-round(log(col("kept_sum").cast("double") / col("len")) * lit(1000000.0), 0)
          / lit(1000000.0), 6)).as("kl_renorm"))
      .orderBy(col("doc_id"))
  }

  private val logitCompressOracle =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |              FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
       |       GROUP BY doc_id, term),
       |ranked AS (
       |  SELECT doc_id, term, tf,
       |         SUM(tf) OVER (PARTITION BY doc_id) AS len,
       |         row_number() OVER (PARTITION BY doc_id
       |                            ORDER BY tf DESC, term) AS rnk
       |  FROM tf),
       |flagged AS (
       |  SELECT *, rnk <= $LogitTopK AS kept,
       |         SUM(CASE WHEN rnk <= $LogitTopK THEN tf ELSE 0 END)
       |           OVER (PARTITION BY doc_id) AS kept_sum
       |  FROM ranked),
       |terms AS (
       |  SELECT doc_id, kept, len, kept_sum,
       |         tf * CAST(ROUND(ln(CAST(tf AS DOUBLE) / len) * 1000000.0)
       |                   AS BIGINT) AS c_full_e6,
       |         CASE WHEN kept THEN tf *
       |           CAST(ROUND(ln(CAST(tf AS DOUBLE) / kept_sum) * 1000000.0)
       |                AS BIGINT) ELSE 0 END AS c_kept_e6
       |  FROM flagged)
       |SELECT doc_id, COUNT(*) AS n_vocab,
       |       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       ROUND(CAST(ANY_VALUE(kept_sum) AS DOUBLE) / ANY_VALUE(len), 6)
       |         AS kept_mass,
       |       ABS(ROUND(-CAST(SUM(c_full_e6) AS DOUBLE) / ANY_VALUE(len)
       |             / 1000000.0, 6)) + 0.0 AS ent_full,
       |       ABS(ROUND(-CAST(SUM(c_kept_e6) AS DOUBLE) / ANY_VALUE(kept_sum)
       |             / 1000000.0, 6)) + 0.0 AS ent_kept,
       |       ABS(ROUND(-ROUND(ln(CAST(ANY_VALUE(kept_sum) AS DOUBLE)
       |                       / ANY_VALUE(len)) * 1000000.0)
       |             / 1000000.0, 6)) + 0.0 AS kl_renorm
       |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  /** Vocabulary-budget coverage curve — the tokenizer-sizing decision
    * table (the [[graft.ops.SimilarityOps.ivfSweep]] of the tokenizer
    * family): for each vocab budget V ∈ {64, 128, 256}, the fraction
    * of corpus TOKEN OCCURRENCES covered by the top-V types — i.e.
    * the byte-fallback/OOV rate a V-entry vocabulary would pay before
    * any merges. Candidate sets are nested in V, so one ranked top-256
    * frame serves every level.
    *
    * Exactness: covered/total are exact integer token counts divided
    * once; ranking ties break on the term string.
    *
    * Scale shape: one token-stream frequency aggregate (vocab-sized,
    * shuffle on the uniform term key), then orderBy+limit(256) — a
    * distributed TakeOrdered, NOT a vocab-wide single-partition window
    * — and all windows/levels run on that bounded 256-row frame.
    */
  private val VocabLevels = Seq(64, 128, 256)

  def vocabCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("term"))
    val tf = toks.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val totals = tf.agg(sum(col("tf")).as("total_tokens"),
      count(lit(1)).as("n_types"))
    val top = tf.orderBy(col("tf").desc, col("term").asc)
      .limit(VocabLevels.max)
      .withColumn("rnk", row_number().over( // bounded 256-row frame
        Window.orderBy(col("tf").desc, col("term").asc)))
    top.select(col("tf"), col("rnk"),
        explode(typedLit(VocabLevels)).as("vocab_size"))
      .filter(col("rnk") <= col("vocab_size"))
      .groupBy(col("vocab_size"))
      .agg(sum(col("tf")).as("covered_tokens"))
      .crossJoin(broadcast(totals))
      .select(col("vocab_size"), col("covered_tokens"),
        col("total_tokens"), col("n_types"),
        round(col("covered_tokens") / col("total_tokens").cast("double"), 6)
          .as("coverage"))
      .orderBy(col("vocab_size"))
  }

  private val vocabCoverageOracle =
    s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term
       |              FROM documents),
       |tf AS (SELECT term, COUNT(*) AS tf FROM toks GROUP BY term),
       |tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS total_tokens,
       |               COUNT(*) AS n_types FROM tf),
       |top AS (SELECT tf, row_number() OVER (ORDER BY tf DESC, term)
       |          AS rnk
       |        FROM tf ORDER BY tf DESC, term LIMIT 256),
       |lv AS (SELECT UNNEST([64, 128, 256]) AS vocab_size)
       |SELECT CAST(l.vocab_size AS INTEGER) AS vocab_size,
       |       CAST(SUM(t.tf) AS BIGINT) AS covered_tokens,
       |       tot.total_tokens, tot.n_types,
       |       ROUND(SUM(t.tf) / CAST(tot.total_tokens AS DOUBLE), 6)
       |         AS coverage
       |FROM top t JOIN lv l ON t.rnk <= l.vocab_size CROSS JOIN tot
       |GROUP BY l.vocab_size, tot.total_tokens, tot.n_types
       |ORDER BY vocab_size""".stripMargin

  // ------------------------------------------------------------------
  /** Negative-sampling distribution — word2vec/SGNS's unigram^0.75
    * table (Mikolov et al. 2013): negatives are drawn ∝ tf^0.75, the
    * flattening that keeps frequent words from dominating the
    * contrastive signal. The [[ppmiEmbed]] trainer's missing half —
    * PPMI is the count side, this is the sampling side.
    *
    * Parity trick (the [[temperatureMix]] doctrine extended): x^0.75
    * is deliberately computed as sqrt(x·sqrt(x)) — IEEE sqrt is
    * correctly rounded and the one multiply between the two sqrts is
    * exact-input deterministic, so both engines produce bit-identical
    * doubles with NO pow() (whose libm implementations differ in
    * ulps). Each weight quantizes to e6 once; totals are integer sums.
    *
    * Scale shape: one vocab-sized frequency aggregate; the report is
    * a TakeOrdered top-32 (never a vocab-wide window) + a 1-row total.
    */
  def negativeSampling(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("w_e6",
        round(sqrt(col("tf") * sqrt(col("tf"))) * 1000000.0, 0).cast("long"))
    val tot = tf.agg(sum(col("w_e6")).as("w_tot"),
      sum(col("tf")).as("n_tok"))
    tf.orderBy(col("w_e6").desc, col("term").asc).limit(32)
      .crossJoin(broadcast(tot))
      .select(col("term"), col("tf"), col("w_e6"),
        round(col("w_e6") / col("w_tot").cast("double"), 6).as("p_neg"),
        round(col("tf") / col("n_tok").cast("double"), 6).as("p_unigram"))
      .orderBy(col("w_e6").desc, col("term").asc)
  }

  private val negativeSamplingOracle =
    """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term
      |              FROM documents),
      |tf0 AS (SELECT term, COUNT(*) AS tf FROM toks GROUP BY term),
      |tf AS (SELECT term, tf,
      |              CAST(ROUND(sqrt(tf * sqrt(tf)) * 1000000.0) AS BIGINT)
      |                AS w_e6
      |       FROM tf0),
      |tot AS (SELECT CAST(SUM(w_e6) AS BIGINT) AS w_tot,
      |               CAST(SUM(tf) AS BIGINT) AS n_tok FROM tf)
      |SELECT term, tf, w_e6,
      |       ROUND(w_e6 / CAST(w_tot AS DOUBLE), 6) AS p_neg,
      |       ROUND(tf / CAST(n_tok AS DOUBLE), 6) AS p_unigram
      |FROM tf CROSS JOIN tot
      |ORDER BY w_e6 DESC, term LIMIT 32""".stripMargin

  // ------------------------------------------------------------------
  /** Temperature-based corpus re-weighting (the mT5 α-sampling rule):
    * per-language mixing weight ∝ (token mass)^α with α = 0.5, i.e. the
    * sampling distribution that up-weights low-resource languages
    * relative to their natural share. α = 0.5 is deliberately the
    * exact-sqrt case: IEEE-754 sqrt is correctly rounded, so
    * sqrt(tokens) is bit-identical in both engines — no pow(), whose
    * libm implementations differ in ulps. Everything downstream lives
    * on the e6 integer lattice: s_e6 = round(sqrt·1e6) once per
    * language, totals are integer sums, and both shares are half-up
    * integer-lattice divisions (the [[Parity.stableAvg]] construction)
    * computed with INTEGER division on longs in both engines (Spark
    * `div`, DuckDB `//`) — order-free and engine-identical by exact
    * arithmetic, with no 2^53 double-mantissa ceiling anywhere. The
    * binding bound is the long numerator 2·1e6·x + tot_x < 2^63 taken
    * over BOTH share columns: token_share binds first (tokens <
    * ~4.6e12 per language and in the corpus total); temp_weight's
    * s_e6 ≈ 1e6·√tokens binds only past ~2.1e13. Past ~4.6e12 tokens,
    * drop the lattice to e4 (same pattern, documented trade).
    *
    * Scale shape: one map-side token count + a 5-row aggregate; the
    * share windows run over the aggregate, not the corpus.
    */
  def temperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perLang = Tables.documents(spark, sfDir)
      .select(col("lang"), size(split(col("text"), " ")).as("n_tok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast("long").as("tokens"))
      .withColumn("s_e6",
        round(sqrt(col("tokens").cast("double")) * 1000000.0, 0).cast("long"))
    val w = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perLang
      .withColumn("tot_tokens", sum(col("tokens")).over(w))
      .withColumn("tot_s", sum(col("s_e6")).over(w))
      .select(col("lang"), col("n_docs"), col("tokens"),
        Parity.halfUpRatioE6(col("tokens"), col("tot_tokens"))
          .as("token_share"),
        Parity.halfUpRatioE6(col("s_e6"), col("tot_s")).as("temp_weight"))
      .orderBy(col("lang"))
  }

  private def halfUpRatioE6Sql(num: String, den: String): String =
    s"CAST(((2000000*$num + $den) - (2000000*$num + $den) % (2*$den)) " +
      s"// (2*$den) AS DOUBLE) / 1000000.0"

  private val temperatureMixOracle =
    s"""WITH agg AS (
       |  SELECT lang, COUNT(*) AS n_docs,
       |         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
       |  FROM documents GROUP BY lang),
       |s AS (
       |  SELECT lang, n_docs, tokens,
       |         CAST(ROUND(sqrt(CAST(tokens AS DOUBLE)) * 1000000.0) AS BIGINT) AS s_e6
       |  FROM agg),
       |t AS (
       |  SELECT *, CAST(SUM(tokens) OVER () AS BIGINT) AS tot_tokens,
       |            CAST(SUM(s_e6) OVER () AS BIGINT) AS tot_s
       |  FROM s)
       |SELECT lang, n_docs, tokens,
       |       ${halfUpRatioE6Sql("tokens", "tot_tokens")} AS token_share,
       |       ${halfUpRatioE6Sql("s_e6", "tot_s")} AS temp_weight
       |FROM t ORDER BY lang""".stripMargin

  // ---------------------------------------------------- BPE pair count
  /** The inner step of BPE/WordPiece tokenizer training: count every
    * adjacent token pair across the corpus and surface the top merge
    * candidates. The pair explosion happens MAP-SIDE
    * (`transform(sequence(...))` over the split array — no
    * posexplode-then-self-join), so the only exchange is the final
    * partial-aggregated pair count: the classic word-count shape that
    * scales linearly with corpus bytes. Top-k is a deterministic
    * (count DESC, pair) order + limit — TakeOrderedAndProject, no
    * global sort materialization. A real BPE trainer iterates this
    * count→merge loop; each iteration is exactly this plan over the
    * re-segmented corpus.
    */
  def bpePairs(spark: SparkSession, sfDir: String): DataFrame =
    // `ws` must be BOUND as a column before the lambda: higher-order-
    // function lambdas are interpreted, so an inlined split(text) inside
    // the lambda body would re-tokenize the document once per element
    // (O(tokens²) splitting — measured 3.3s → 0.6s at sf0.1). The
    // generator expression itself stays inline (named-array explode
    // would double-compute it via InferFiltersFromGenerate).
    Tables.documents(spark, sfDir)
      .withColumn("ws", split(col("text"), " "))
      // single-token docs contribute no pairs; the guard matters because
      // Spark generates sequence(1, 0) DESCENDING ([1, 0] — a phantom
      // reversed pair) while DuckDB's range(1, 1) is empty. Tested on
      // text, not size(ws), so the filter can push to the scan without
      // duplicating the split (PlanSpec pins the single tokenize).
      .filter(col("text").contains(" "))
      .select(explode(expr(
        """transform(sequence(1, size(ws) - 1),
          |          i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))""".stripMargin))
        .as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(30)

  private val bpePairsOracle =
    """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
      |pairs AS (
      |  SELECT ws[i] || ' ' || ws[i+1] AS pair
      |  FROM w, UNNEST(range(1, len(ws))) AS t(i))
      |SELECT pair, COUNT(*) AS n FROM pairs
      |GROUP BY pair ORDER BY n DESC, pair LIMIT 30""".stripMargin

  // ------------------------------------------- within-doc repetition
  /** Per-SOURCE repetition screen — the rollup view of the Gopher
    * repetition rules (Rae et al. 2021, Table A1) that complements
    * [[graft.ops.PipelineOps.repetitionStats]] (which emits PER-DOC
    * duplicate-word/bigram verdicts and corpus totals): here each
    * source gets its duplicate-bigram flag RATE (>10% of bigrams
    * duplicated) plus a signal that operator doesn't compute — the
    * count of immediately-repeated tokens ("the the"), the looping-
    * generation artifact adjacent-pair check. A source whose flag rate
    * spikes is a crawl slice to quarantine wholesale, which the
    * per-doc view can't say directly.
    *
    * Scale shape: the best one in the file — pure per-row map-side
    * array math (the bigram list stays PACKED in its row: built,
    * deduped, and measured with array functions, never exploded), so
    * the only exchange is the final source-sized rollup. A 10¹²-doc
    * corpus pays one pass and one tiny shuffle. Parity: the fraction
    * quantizes to e6 from exact integer counts before any aggregation;
    * the rollup average divides exact longs (the unigramLogprob
    * doctrine); single-token docs contribute 0/0 guarded to 0.
    */
  private val RepFlagE6 = 100000L // dup-bigram fraction > 10%

  def docRepetition(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("g2", expr(
        """IF(size(ws) >= 2,
          |   transform(sequence(1, size(ws) - 1),
          |             i -> concat_ws(' ', element_at(ws, i),
          |                            element_at(ws, i + 1))),
          |   array())""".stripMargin))
      .withColumn("adj", expr(
        """IF(size(ws) >= 2,
          |   size(filter(sequence(1, size(ws) - 1),
          |               i -> element_at(ws, i) = element_at(ws, i + 1))),
          |   0)""".stripMargin).cast("long"))
      .withColumn("dup_e6", expr(
        """IF(size(ws) >= 2,
          |   CAST(round((size(ws) - 1 - size(array_distinct(g2)))
          |              * 1000000.0 / (size(ws) - 1), 0) AS BIGINT),
          |   CAST(0 AS BIGINT))""".stripMargin))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("dup_e6")).cast("double") / count(lit(1)) / 1000000.0, 6)
          .as("avg_dup2_frac"),
        sum(when(col("dup_e6") > RepFlagE6, 1L).otherwise(0L)).as("n_flagged"),
        sum(col("adj")).as("adj_dup_tokens"))
      .orderBy(col("source"))

  private val docRepetitionOracle =
    s"""WITH d AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
       |s AS (SELECT source,
       |        CASE WHEN len(ws) >= 2
       |             THEN CAST(ROUND((len(ws) - 1 - len(list_distinct(
       |                    [ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))])))
       |                  * 1000000.0 / (len(ws) - 1)) AS BIGINT)
       |             ELSE 0 END AS dup_e6,
       |        CASE WHEN len(ws) >= 2
       |             THEN len([i FOR i IN range(1, len(ws)) IF ws[i] = ws[i+1]])
       |             ELSE 0 END AS adj
       |      FROM d)
       |SELECT source, COUNT(*) AS n_docs,
       |       ROUND(CAST(SUM(dup_e6) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
       |         AS avg_dup2_frac,
       |       CAST(SUM(CASE WHEN dup_e6 > $RepFlagE6 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_flagged,
       |       CAST(SUM(adj) AS BIGINT) AS adj_dup_tokens
       |FROM s GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------- BPE training
  /** The ACTUAL BPE tokenizer-training loop (Sennrich, Haddow & Birch,
    * ACL'16 "Neural Machine Translation of Rare Words with Subword
    * Units"), 3 merge rounds unrolled: count symbol pairs → take the
    * argmax pair → re-segment with the merged symbol → recount.
    * Trains on the WORD-FREQUENCY table, as the reference algorithm
    * does — the corpus is touched exactly once (one word-count
    * shuffle); every merge round then runs over the vocab-sized
    * (word, freq, segmentation) table, so 3 rounds at 100 TB cost one
    * corpus pass plus 3 tiny vocab passes, not 3 corpus scans.
    *
    * Segmentations ride in an UNAMBIGUOUS string encoding — every
    * symbol wrapped in parens, `(h)(a)(s)(h)` — chosen because both
    * engines' literal `replace(str, find, repl)` is exactly BPE's
    * greedy LEFT-TO-RIGHT NON-OVERLAPPING merge when applied to it:
    * `replace('(a)(a)(a)', '(a)(a)', '(aa)')` = `(aa)(a)` (scan
    * resumes after each replacement — the [a,a,a] → [aa,a] case), and
    * symbol boundaries can't false-match (`(l)(lo)` never matches
    * inside `(al)(lo)`; the alphabet is paren-free by construction).
    * Pair counts weight by word freq and COUNT OVERLAPS (adjacent
    * zip, the reference's get_stats) while merges don't — faithful to
    * the algorithm. Each round's argmax is a 1-row A6 scalar
    * collect→re-inject (ties broken count DESC, then pair ASC);
    * per-round localCheckpoint cuts the deepening lineage (the
    * iterative-loop doctrine). The oracle replays all 3 rounds as an
    * unrolled CTE chain (the greedyCover style) with the same
    * replace-based merge, so winner choice, counts, AND the greedy
    * re-segmentation are all hash-gated.
    */
  private val BpeRounds = 3

  /** The shared merge loop: returns the per-round merge table and the
    * final (w, freq, seg) segmentation — [[bpeTrain]] reports the
    * former, [[bpeApply]] encodes the corpus with the latter. */
  private def bpeMergeLoop(
      spark: SparkSession,
      sfDir: String): (Seq[(Int, String, String, Long)], DataFrame) = {
    var seg = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"),
        regexp_replace(col("w"), "(.)", "($1)").as("seg"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to BpeRounds) {
      val win = seg
        .withColumn("syms",
          split(expr("substring(seg, 2, length(seg) - 2)"), "\\)\\("))
        .filter(size(col("syms")) >= 2) // fully-merged words pair nothing
        .select(col("freq"), explode(expr(
          """transform(sequence(1, size(syms) - 1),
            |          i -> struct(element_at(syms, i) AS a,
            |                      element_at(syms, i + 1) AS b))""".stripMargin))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect()(0)
      val (a, b, n) = (win.getString(0), win.getString(1), win.getLong(2))
      // The paren-encoding invariant: symbols must never contain the
      // structural characters, or replace() would merge across symbol
      // boundaries. Enforced loudly rather than assumed — a corpus that
      // violates it fails here instead of producing silently-wrong
      // merges. (Quotes/backslashes are safe because the patterns go
      // through lit(), not SQL-string interpolation.)
      for (s <- Seq(a, b); bad <- Seq('(', ')'))
        require(!s.contains(bad),
          s"BPE symbol '$s' contains '$bad' — violates the paren-encoding invariant")
      merges += ((r, a, b, n))
      val next = seg
        .select(col("w"), col("freq"),
          replace(col("seg"), lit(s"($a)($b)"), lit(s"($a$b)")).as("seg"))
        .localCheckpoint(true) // materialized NOW …
      // … so the superseded generation's blocks free safely (the
      // hyperAnf checkpoint-lifecycle discipline: only ONE vocab-sized
      // generation is ever live; callers must free the returned final
      // generation themselves once done with it)
      graft.ops.GraphOps.freeCheckpoint(seg)
      seg = next
    }
    (merges.result(), seg)
  }

  def bpeTrain(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (merges, seg) = bpeMergeLoop(spark, sfDir)
    graft.ops.GraphOps.freeCheckpoint(seg) // merge table is driver-side
    merges.toDF("round", "sym_a", "sym_b", "n_pair")
      .select(col("round"), col("sym_a"), col("sym_b"),
        concat(col("sym_a"), col("sym_b")).as("new_symbol"), col("n_pair"))
      .orderBy(col("round"))
  }

  // one merge round as CTE text: pair counts over the previous
  // segmentation, argmax winner, replace-based greedy re-segmentation;
  // shared by the train and apply oracles (both replay the SAME loop)
  private def bpeRoundSql(r: Int): String =
    s"""p$r AS (
       |  SELECT syms[i] AS a, syms[i+1] AS b,
       |         CAST(SUM(freq) AS BIGINT) AS n
       |  FROM (SELECT freq,
       |          string_split(substr(seg, 2, length(seg) - 2), ')(') AS syms
       |        FROM seg$r),
       |       UNNEST(range(1, len(syms))) AS t(i)
       |  GROUP BY 1, 2),
       |w$r AS (SELECT a, b, n FROM p$r ORDER BY n DESC, a, b LIMIT 1),
       |seg${r + 1} AS (
       |  SELECT s.w, s.freq,
       |         replace(s.seg, '(' || w.a || ')(' || w.b || ')',
       |                 '(' || w.a || w.b || ')') AS seg
       |  FROM seg$r s CROSS JOIN w$r w)""".stripMargin

  private val bpeCommonSql: String =
    s"""words AS (
       |  SELECT w, COUNT(*) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY w),
       |seg1 AS (SELECT w, freq, regexp_replace(w, '(.)', '(\\1)', 'g') AS seg
       |         FROM words),
       |${(1 to BpeRounds).map(bpeRoundSql).mkString(",\n")}""".stripMargin

  private val bpeTrainOracle =
    s"""WITH $bpeCommonSql
       |${(1 to BpeRounds).map(r =>
        s"SELECT $r AS round, a AS sym_a, b AS sym_b, a || b AS new_symbol, " +
          s"n AS n_pair FROM w$r").mkString("\nUNION ALL ")}
       |ORDER BY round""".stripMargin

  /** Encode the corpus with the trained merges — the APPLY half of the
    * tokenizer loop, and the measurement that justifies it: per-lang
    * subword fertility (subwords emitted per word) under the
    * [[bpeTrain]] model. The merge loop runs once (vocab-sized); the
    * final segmentation joins back to the token stream UNHINTED
    * (vocab-sized table — AQE broadcasts at small SF, shuffle-joins on
    * the word key at corpus scale), so encoding costs one corpus
    * explode + one equi-join + one aggregate regardless of merge
    * count. Oracle replays the identical 3-round CTE chain to seg4 and
    * re-derives every per-word subword count. Fertility is a long/long
    * division rounded at 6 dp (the pipelineLedger fraction pattern).
    */
  def bpeApply(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (_, seg) = bpeMergeLoop(spark, sfDir)
    val subw = seg.select(col("w"),
      size(split(expr("substring(seg, 2, length(seg) - 2)"), "\\)\\("))
        .cast("long").as("n_sub"))
    // the lang-sized rollup is collected eagerly (A6 scalars, the
    // hyperAnf rollup shape) so the final segmentation's checkpoint
    // blocks can be freed before returning — no vocab-sized block set
    // outlives the call — and the returned frame is a plain local
    // relation
    val rows = Tables.documents(spark, sfDir)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .join(subw, Seq("w"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    graft.ops.GraphOps.freeCheckpoint(seg)
    rows.toDF("lang", "n_words", "n_subwords")
      .select(col("lang"), col("n_words"), col("n_subwords"),
        round(col("n_subwords").cast("double") / col("n_words"), 6)
          .as("fertility"))
      .orderBy(col("lang"))
  }

  private val bpeApplyOracle =
    s"""WITH $bpeCommonSql,
       |sub AS (
       |  SELECT w,
       |         CAST(len(string_split(substr(seg, 2, length(seg) - 2), ')('))
       |              AS BIGINT) AS n_sub
       |  FROM seg${BpeRounds + 1}),
       |tok AS (SELECT lang, unnest(string_split(text, ' ')) AS w
       |        FROM documents)
       |SELECT lang, COUNT(*) AS n_words,
       |       CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
       |       ROUND(CAST(SUM(n_sub) AS DOUBLE) / COUNT(*), 6) AS fertility
       |FROM tok JOIN sub USING (w)
       |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------- WordPiece
  /** WordPiece greedy longest-match-first tokenization (Schuster &
    * Nakajima 2012; the BERT tokenizer) — the third member of the
    * tokenizer triple beside [[bpeApply]] (merge-rule replay) and
    * [[unigramApply]] (Viterbi): scan each word left to right, at
    * every position take the LONGEST vocab token matching (`##`-form
    * past position 0), and if any position matches nothing the whole
    * word becomes `[UNK]` — BERT's all-or-nothing word fallback,
    * exercised here for real (rare chars are out-of-alphabet below).
    * Same per-lang fertility rollup as the other two, so the three
    * queries form a directly comparable bake-off.
    *
    * The vocab is corpus-derived and deterministic (a trained-model
    * stand-in with the construction stated): alphabet = chars
    * holding ≥ 1% of corpus char mass (each in both `x` and `##x`
    * form); plus the top-[[WpK]] most frequent substrings of length
    * 2..[[WpMaxLen]] per form class (start vs continuation), drawn
    * only over the alphabet, ties broken by token text.
    *
    * Scale shape: the vocab is BOUNDED (alphabet + 2·K entries) — a
    * legit driver collect + closure broadcast (the fastText
    * fixed-bucket model pattern); tokenization runs once per
    * DISTINCT word map-side and joins back to the corpus stream; the
    * per-lang rollup is one partial-aggregated exchange. The oracle
    * builds the identical vocab in SQL, precomputes the longest
    * match for every (word, position) with a join (no aggregation
    * inside recursion), and follows the greedy chain as a recursive
    * CTE in lockstep over all words.
    */
  private val WpK = 40
  private val WpMaxLen = 4

  def wordpieceApply(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val words = Tables.documents(spark, sfDir)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val wf = words.groupBy(col("w")).agg(count(lit(1)).as("freq")).cache()
    val chars = wf
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
        .as("ch"))
      .groupBy(col("ch")).agg(sum(col("freq")).as("cnt"))
    val totalChars = chars.agg(sum(col("cnt"))).head().getLong(0)
    val alphabet = chars.filter(col("cnt") * 100 >= totalChars)
      .select(col("ch")).collect().map(_.getString(0)).sorted
    val cls = alphabet.mkString
    val subs = wf
      .select(col("w"), col("freq"), explode(sequence(lit(2),
        lit(WpMaxLen))).as("len"))
      .filter(length(col("w")) >= col("len"))
      .select(col("freq"), col("len"), explode(expr(
        "transform(sequence(1, length(w) - len + 1), " +
          "p -> struct(substring(w, p, len) AS tok, p > 1 AS cont))"))
        .as("s"))
      .filter(length(translate(col("s.tok"), cls, "")) === 0)
      .groupBy(col("s.tok").as("tok"), col("s.cont").as("cont"),
        col("len"))
      .agg(sum(col("freq")).as("freq"))
    val topk = subs
      .withColumn("r", row_number().over(Window.partitionBy(col("cont"))
        .orderBy(col("freq").desc, col("tok"))))
      .filter(col("r") <= WpK)
      .select(col("tok"), col("cont")).collect()
      .map(r => (if (r.getBoolean(1)) "##" else "") + r.getString(0))
    val vocab: Set[String] =
      (alphabet.toSeq ++ alphabet.map("##" + _) ++ topk).toSet
    val maxLen = WpMaxLen
    val pieces = wf.select(col("w")).as[String].mapPartitions(_.map { w =>
      var p = 0
      var n = 0L
      var unk = false
      while (p < w.length && !unk) {
        var l = math.min(maxLen, w.length - p)
        var hit = 0
        while (l >= 1 && hit == 0) {
          val cand = (if (p > 0) "##" else "") + w.substring(p, p + l)
          if (vocab(cand)) hit = l else l -= 1
        }
        if (hit == 0) unk = true else { n += 1; p += hit }
      }
      (w, if (unk) 1L else n, unk)
    }).toDF("w", "n_tok", "unk")
    words.join(pieces, Seq("w"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tok")).as("n_subwords"),
        sum(when(col("unk"), 1L).otherwise(0L)).as("n_unk_words"),
        round(sum(col("n_tok")).cast("double") / count(lit(1)), 6)
          .as("fertility"))
      .orderBy(col("lang"))
  }

  private val wordpieceApplyOracle =
    s"""WITH RECURSIVE wds AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
       |w2 AS (SELECT lang, w FROM wds WHERE len(w) > 0),
       |wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM w2 GROUP BY w),
       |ch AS (SELECT substr(w, i.i, 1) AS ch, CAST(SUM(freq) AS BIGINT) AS cnt
       |       FROM wf, LATERAL unnest(range(1, len(w) + 1)) AS i(i)
       |       GROUP BY 1),
       |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM ch),
       |vc AS (SELECT ch FROM ch, tot WHERE cnt * 100 >= total),
       |cls AS (SELECT string_agg(ch, '' ORDER BY ch) AS cls FROM vc),
       |subs AS (
       |  SELECT substr(w, p.p, l.l) AS tok, (p.p > 1) AS cont,
       |         CAST(l.l AS BIGINT) AS len, CAST(SUM(freq) AS BIGINT) AS freq
       |  FROM wf, LATERAL unnest(range(2, $WpMaxLen + 1)) AS l(l),
       |       LATERAL unnest(range(1, len(w) - l.l + 2)) AS p(p)
       |  WHERE len(w) >= l.l
       |  GROUP BY 1, 2, 3),
       |clean AS (SELECT s.* FROM subs s, cls
       |          WHERE length(translate(s.tok, cls.cls, '')) = 0),
       |topk AS (SELECT tok, cont, len FROM (
       |           SELECT *, ROW_NUMBER() OVER (PARTITION BY cont
       |             ORDER BY freq DESC, tok) AS r FROM clean)
       |         WHERE r <= $WpK),
       |vocab AS (SELECT tok, cont, len FROM topk
       |          UNION ALL SELECT ch, FALSE, CAST(1 AS BIGINT) FROM vc
       |          UNION ALL SELECT ch, TRUE, CAST(1 AS BIGINT) FROM vc),
       |steps AS (
       |  SELECT m.w, m.pos, MAX(m.len) AS step FROM (
       |    SELECT wf.w, p.pos, v.len
       |    FROM wf, LATERAL unnest(range(1, len(wf.w) + 1)) AS p(pos)
       |    JOIN vocab v
       |      ON v.cont = (p.pos > 1) AND v.len <= len(wf.w) - p.pos + 1
       |     AND substr(wf.w, p.pos, CAST(v.len AS INTEGER)) = v.tok) m
       |  GROUP BY m.w, m.pos),
       |walk AS (
       |  SELECT w, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS n_tok,
       |         FALSE AS unk
       |  FROM wf
       |  UNION ALL
       |  SELECT k.w,
       |         CASE WHEN s.step IS NULL THEN CAST(len(k.w) + 1 AS BIGINT)
       |              ELSE k.pos + s.step END,
       |         CASE WHEN s.step IS NULL THEN CAST(1 AS BIGINT)
       |              ELSE k.n_tok + 1 END,
       |         k.unk OR s.step IS NULL
       |  FROM walk k LEFT JOIN steps s ON s.w = k.w AND s.pos = k.pos
       |  WHERE k.pos <= len(k.w)),
       |res AS (SELECT w, n_tok, unk FROM walk WHERE pos = len(w) + 1)
       |SELECT lang, COUNT(*) AS n_words,
       |       CAST(SUM(n_tok) AS BIGINT) AS n_subwords,
       |       CAST(SUM(CASE WHEN unk THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_unk_words,
       |       ROUND(CAST(SUM(n_tok) AS DOUBLE) / COUNT(*), 6) AS fertility
       |FROM w2 JOIN res USING (w)
       |GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------- PPMI embedding
  /** Relational word-embedding training: the top principal direction
    * of the PPMI co-occurrence matrix (Levy & Goldberg NeurIPS'14
    * showed SGNS/word2vec implicitly factorizes exactly this matrix —
    * so power-iterating PPMI IS embedding training, one component at
    * a time). Adjacent-word co-occurrence both directions, PPMI =
    * max(0, ln(n_wc·N / (n_w·n_c))) on the e6 lattice, then three
    * [[graft.ops.SimilarityOps.pcaPower]]-discipline matrix-vector
    * rounds with signed half-up e6 renormalization; the top-10 words
    * by |loading| are the corpus's dominant context axis.
    *
    * Scale shape: the matrix is vocab² but SPARSE (PPMI zeros drop);
    * each round is one groupBy-w aggregate over the sparse cells with
    * the vector broadcast — the pcaPower plan with words for
    * dimensions. Vocabulary at web scale is df-capped upstream like
    * every LM table here. */
  def ppmiEmbed(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val bi = Tables.documents(spark, sfDir)
      .withColumn("ws", split(col("text"), " "))
      .filter(col("text").contains(" "))
      .select(explode(expr(
        """transform(sequence(1, size(ws) - 1),
          |          i -> struct(element_at(ws, i) AS w,
          |                      element_at(ws, i + 1) AS c))""".stripMargin))
        .as("p"))
      .select(col("p.w").as("w"), col("p.c").as("c"))
    val pairs = bi.unionByName(
      bi.select(col("c").as("w"), col("w").as("c")))
    val cwc = pairs.groupBy(col("w"), col("c")).agg(count(lit(1)).as("nwc"))
    val cw = pairs.groupBy(col("w")).agg(count(lit(1)).as("nw"))
    val nt = pairs.agg(count(lit(1)).as("ntot"))
    val ppmi = cwc
      .join(cw, Seq("w"))
      .join(cw.select(col("w").as("c"), col("nw").as("nc")), Seq("c"))
      .crossJoin(broadcast(nt))
      .withColumn("m_e6", greatest(lit(0L),
        round(log(col("nwc").cast("double") * col("ntot") /
          (col("nw").cast("double") * col("nc"))) * 1000000.0, 0)
          .cast("long")))
      .filter(col("m_e6") > 0L)
      .select(col("w"), col("c"), col("m_e6"))
      .localCheckpoint()
    def signedHalfUpE6(num: Column, den: Column): Column = {
      val a = abs(num) * lit(2000000L).cast(dec)
      val h = ((a + den - pmod(a + den, den * lit(2L).cast(dec))) /
        (den * lit(2L).cast(dec))).cast("long")
      when(num < 0, -h).otherwise(h)
    }
    def step(v: DataFrame): DataFrame = {
      val u = ppmi.join(broadcast(v), col("c") === col("d"))
        .groupBy(col("w"))
        .agg(sum(col("m_e6").cast(dec) * col("v")).as("u"))
      val m = u.agg(max(abs(col("u"))).as("mx"))
      u.crossJoin(broadcast(m))
        .select(col("w").as("d"), signedHalfUpE6(col("u"), col("mx"))
          .as("v"))
        .localCheckpoint(eager = true)
    }
    val v0 = cw.select(col("w").as("d"), lit(1000000L).as("v"))
    val v3 = step(step(step(v0)))
    v3.select(col("d").as("word"), col("v").as("loading_e6"))
      .orderBy(abs(col("v")).desc, col("d"))
      .limit(10)
  }

  private val ppmiEmbedOracle = {
    val rounds = (1 to 3).map { k =>
      val prev = if (k == 1) "v0" else s"v${k - 1}"
      s"""u$k AS (SELECT p.w, SUM(CAST(p.m_e6 AS HUGEINT) * v.v) AS u
         |        FROM ppmi p JOIN $prev v ON v.d = p.c GROUP BY p.w),
         |m$k AS (SELECT MAX(ABS(u)) AS m FROM u$k),
         |v$k AS (SELECT w AS d, CASE WHEN u < 0 THEN -h ELSE h END AS v
         |        FROM (SELECT w, u,
         |                ((ABS(u)*2000000 + m) - (ABS(u)*2000000 + m) % (2*m))
         |                  // (2*m) AS h
         |              FROM u$k CROSS JOIN m$k))""".stripMargin
    }.mkString(",\n")
    s"""WITH bi0 AS (
       |  SELECT unnest([{'w': ws[i], 'c': ws[i + 1]}
       |                 FOR i IN range(1, len(ws))]) AS p
       |  FROM (SELECT string_split(text, ' ') AS ws FROM documents)
       |  WHERE len(ws) > 1),
       |pairs AS (SELECT p.w AS w, p.c AS c FROM bi0
       |          UNION ALL SELECT p.c, p.w FROM bi0),
       |cwc AS (SELECT w, c, COUNT(*) AS nwc FROM pairs GROUP BY 1, 2),
       |cw AS (SELECT w, COUNT(*) AS nw FROM pairs GROUP BY 1),
       |nt AS (SELECT COUNT(*) AS ntot FROM pairs),
       |ppmi AS (
       |  SELECT cwc.w, cwc.c,
       |         GREATEST(0, CAST(ROUND(ln(CAST(cwc.nwc AS DOUBLE) * nt.ntot
       |                    / (CAST(a.nw AS DOUBLE) * b.nw))
       |                  * 1000000.0) AS BIGINT)) AS m_e6
       |  FROM cwc JOIN cw a ON a.w = cwc.w JOIN cw b ON b.w = cwc.c
       |  CROSS JOIN nt),
       |pp AS (SELECT * FROM ppmi WHERE m_e6 > 0),
       |v0 AS (SELECT w AS d, CAST(1000000 AS HUGEINT) AS v FROM cw),
       |${rounds.replace("FROM ppmi p", "FROM pp p")}
       |SELECT d AS word, CAST(v AS BIGINT) AS loading_e6
       |FROM v3 ORDER BY ABS(v) DESC, d LIMIT 10""".stripMargin
  }

  // --------------------------------------------- invisible chars
  /** Invisible-character and homoglyph audit — the unicode-janitor
    * screen the LLM era made mandatory: zero-width characters
    * (U+200B/200C/200D/FEFF) are both a watermarking channel and a
    * tokenizer poison (they split tokens invisibly), and Cyrillic/
    * Greek homoglyphs ('а' for 'a') defeat exact dedup while reading
    * identically. The generator plants a U+200B after the first space
    * on every 9th doc and swaps the first 'a' for Cyrillic 'а' on
    * every 13th; the detector censuses both, plus the cleaned-length
    * delta — so the codepoint-level scan sits under the hash with the
    * planted strides as ground truth.
    *
    * Scale shape: pure map-side regex/length arithmetic + one
    * source-sized rollup (the quality-screen shape). */
  def invisibleChars(spark: SparkSession, sfDir: String): DataFrame = {
    val zw = "​"
    val cyrA = "а" // Cyrillic small a — reads as Latin 'a'
    val planted = Tables.documents(spark, sfDir)
      // anchored non-greedy patterns plant exactly ONE artifact per
      // stride doc (Spark regexp_replace has no max-count arg)
      .withColumn("t1",
        when(col("doc_id") % 9 === 0,
          regexp_replace(col("text"), "^([^ ]*) ", "$1 " + zw))
          .otherwise(col("text")))
      .withColumn("t2",
        when(col("doc_id") % 13 === 0,
          regexp_replace(col("t1"), "^([^a]*)a", "$1" + cyrA))
          .otherwise(col("t1")))
    planted
      .withColumn("n_zw",
        (length(col("t2")) -
          length(regexp_replace(col("t2"),
            "[​‌‍﻿]", ""))).cast("long"))
      .withColumn("n_homo",
        (length(col("t2")) -
          length(regexp_replace(col("t2"),
            "[аоер]", ""))).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_zw") > 0, 1L).otherwise(0L)).as("docs_with_zw"),
        sum(col("n_zw")).cast("long").as("zw_chars"),
        sum(when(col("n_homo") > 0, 1L).otherwise(0L))
          .as("docs_with_homoglyphs"),
        sum(col("n_homo")).cast("long").as("homoglyph_chars"))
      .orderBy(col("source"))
  }

  private val invisibleCharsOracle =
    """SELECT source, COUNT(*) AS n_docs,
      |       CAST(SUM(CASE WHEN doc_id % 9 = 0
      |                      AND text LIKE '% %' THEN 1 ELSE 0 END)
      |            AS BIGINT) AS docs_with_zw,
      |       CAST(SUM(CASE WHEN doc_id % 9 = 0
      |                      AND text LIKE '% %' THEN 1 ELSE 0 END)
      |            AS BIGINT) AS zw_chars,
      |       CAST(SUM(CASE WHEN doc_id % 13 = 0
      |                      AND text LIKE '%a%' THEN 1 ELSE 0 END)
      |            AS BIGINT) AS docs_with_homoglyphs,
      |       CAST(SUM(CASE WHEN doc_id % 13 = 0
      |                      AND text LIKE '%a%' THEN 1 ELSE 0 END)
      |            AS BIGINT) AS homoglyph_chars
      |FROM documents
      |GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------- vocabulary richness
  /** Chao1 + Good–Turing vocabulary richness per source — the
    * "how much is UNSEEN" estimators ([[heapsLaw]] fits how vocab
    * grew; these say where it's going): Chao1 = V + F1²/(2F2)
    * lower-bounds the true vocabulary from singleton/doubleton
    * counts (Chao '84), and the Good–Turing mass F1/N estimates the
    * probability the NEXT token is a new type — the number that says
    * whether a source still has tail left to crawl. Bigram types,
    * consistent with the growth fit.
    *
    * Exactness: F1/F2/V/N are exact integer censuses; the two ratios
    * are half-up e2/e6 integer divisions (F2 = 0 ⇒ the bias-corrected
    * Chao1 variant F1(F1−1)/2 is used — stated, not hidden). Scale
    * shape: one gram-count exchange, a frequency-of-frequencies
    * rollup, source-sized output. */
  def vocabRichness(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = Tables.documents(spark, sfDir)
      .withColumn("ws", split(col("text"), " "))
      .filter(col("text").contains(" "))
      .select(col("source"), explode(expr(
        """transform(sequence(1, size(ws) - 1),
          |          i -> concat(element_at(ws, i), ' ',
          |                      element_at(ws, i + 1)))""".stripMargin))
        .as("w"))
    val counts = grams.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
    counts.groupBy(col("source"))
      .agg(count(lit(1)).as("v"),
        sum(col("c")).cast("long").as("n_grams"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col("source"), col("v"), col("n_grams"), col("f1"),
        col("f2"),
        // Chao1 (bias-corrected when F2 = 0), on the e2 lattice
        when(col("f2") > 0L,
          col("v") * 100L + Parity.halfUpDiv(col("f1") * col("f1") * 100L,
            col("f2") * 2L))
          .otherwise(col("v") * 100L +
            Parity.halfUpDiv(col("f1") * (col("f1") - 1L) * 100L, lit(2L)))
          .as("chao1_e2"),
        Parity.halfUpDiv(col("f1") * 1000000L, col("n_grams"))
          .as("unseen_mass_e6"))
      .orderBy(col("source"))
  }

  private val vocabRichnessOracle =
    """WITH grams AS (
      |  SELECT source,
      |         unnest([ws[i] || ' ' || ws[i + 1]
      |                 FOR i IN range(1, len(ws))]) AS w
      |  FROM (SELECT source, string_split(text, ' ') AS ws
      |        FROM documents) WHERE len(ws) > 1),
      |c AS (SELECT source, w, COUNT(*) AS c FROM grams GROUP BY 1, 2),
      |m AS (SELECT source, COUNT(*) AS v,
      |        CAST(SUM(c) AS BIGINT) AS n_grams,
      |        CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |          AS f1,
      |        CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
      |          AS f2
      |      FROM c GROUP BY source)
      |SELECT source, v, n_grams, f1, f2,
      |       CASE WHEN f2 > 0
      |            THEN v * 100 + (2 * f1 * f1 * 100 + f2 * 2)
      |                           // (2 * f2 * 2)
      |            ELSE v * 100 + (2 * f1 * (f1 - 1) * 100 + 2) // 4
      |       END AS chao1_e2,
      |       (2 * f1 * 1000000 + n_grams) // (2 * n_grams)
      |         AS unseen_mass_e6
      |FROM m ORDER BY source""".stripMargin

  // --------------------------------------------- Burrows' Delta
  /** Burrows' Delta stylometry (Burrows '02; Evert et al. '17 made it
    * the attribution standard): over the K most frequent words, each
    * source's relative frequencies are z-scored against the
    * across-source distribution, and Delta(a,b) = mean |z_a − z_b| —
    * the distance that finds same-author/same-GENERATOR sources, the
    * provenance question a training-data audit actually asks
    * (machine-translated mirrors, templated farms). Reports each
    * source's nearest style neighbor.
    *
    * Parity: relative frequencies land on the e9 lattice as exact
    * half-up ratios; z = (n·f − Σf)/√(n·Σf² − (Σf)²) needs ONE sqrt
    * of an exact integer (IEEE sqrt is correctly rounded — the one
    * transcendental-free float that IS portable) and quantizes to e6;
    * Deltas are then exact integer means. Scale shape: everything
    * after the word-count exchange is (sources × K)-sized; the
    * pairwise Delta matrix is sources² — dimension-bounded. */
  private val DeltaTopK = 30

  def burrowsDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
    val top = toks.groupBy(col("w")).agg(count(lit(1)).as("cg"))
      .orderBy(col("cg").desc, col("w")).limit(DeltaTopK)
      .select(col("w"))
    val ns = toks.groupBy(col("source")).agg(count(lit(1)).as("np"))
    val cs = toks.join(broadcast(top), Seq("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    val f = ns.crossJoin(broadcast(top))
      .join(cs, Seq("source", "w"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("f_e9", Parity.halfUpDiv(col("c") * 1000000000L, col("np")))
    val stats = f.groupBy(col("w"))
      .agg(count(lit(1)).as("k"), sum(col("f_e9")).as("sf"),
        sum(col("f_e9") * col("f_e9")).as("sff"))
    val z = f.join(broadcast(stats), Seq("w"))
      .withColumn("z_e6",
        round((col("k") * col("f_e9") - col("sf")).cast("double") /
          sqrt((col("k") * col("sff") - col("sf") * col("sf"))
            .cast("double")) * 1000000.0, 0).cast("long"))
      .select(col("source"), col("w"), col("z_e6"))
    val pairs = z.join(z.select(col("source").as("other"),
        col("w"), col("z_e6").as("z2")), Seq("w"))
      .filter(col("source") =!= col("other"))
      .groupBy(col("source"), col("other"))
      .agg(Parity.halfUpDiv(sum(abs(col("z_e6") - col("z2"))), count(lit(1)))
        .as("delta_e6"))
    val wN = Window.partitionBy(col("source"))
      .orderBy(col("delta_e6"), col("other"))
    pairs.withColumn("rn", row_number().over(wN))
      .filter(col("rn") === 1)
      .select(col("source"), col("other").as("nearest"), col("delta_e6"))
      .orderBy(col("source"))
  }

  private val burrowsDeltaOracle =
    s"""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS w
       |              FROM documents),
       |top AS (SELECT w FROM (SELECT w, COUNT(*) AS cg FROM toks
       |                       GROUP BY w ORDER BY cg DESC, w
       |                       LIMIT $DeltaTopK)),
       |ns AS (SELECT source, COUNT(*) AS np FROM toks GROUP BY 1),
       |cs AS (SELECT source, w, COUNT(*) AS c
       |       FROM toks JOIN top USING (w) GROUP BY 1, 2),
       |f AS (SELECT ns.source, top.w, ns.np, COALESCE(cs.c, 0) AS c,
       |        (2 * COALESCE(cs.c, 0) * 1000000000 + ns.np)
       |          // (2 * ns.np) AS f_e9
       |      FROM ns CROSS JOIN top
       |      LEFT JOIN cs ON cs.source = ns.source AND cs.w = top.w),
       |st AS (SELECT w, COUNT(*) AS k, CAST(SUM(f_e9) AS BIGINT) AS sf,
       |         CAST(SUM(f_e9 * f_e9) AS BIGINT) AS sff
       |       FROM f GROUP BY w),
       |z AS (SELECT f.source, f.w,
       |        CAST(ROUND(CAST(st.k * f.f_e9 - st.sf AS DOUBLE)
       |               / sqrt(CAST(st.k * st.sff - st.sf * st.sf
       |                           AS DOUBLE)) * 1000000.0) AS BIGINT)
       |          AS z_e6
       |      FROM f JOIN st USING (w)),
       |pairs AS (SELECT a.source, b.source AS other,
       |            (2 * CAST(SUM(ABS(a.z_e6 - b.z_e6)) AS BIGINT)
       |               + COUNT(*)) // (2 * COUNT(*)) AS delta_e6
       |          FROM z a JOIN z b ON a.w = b.w AND a.source <> b.source
       |          GROUP BY 1, 2),
       |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
       |           ORDER BY delta_e6, other) AS rn FROM pairs)
       |SELECT source, other AS nearest, CAST(delta_e6 AS BIGINT)
       |         AS delta_e6
       |FROM rk WHERE rn = 1 ORDER BY source""".stripMargin

  // ---------------------------------------------- JS divergence
  /** Per-source Jensen–Shannon divergence against the rest of the
    * corpus, over bigram distributions — the bounded, symmetric
    * corpus-similarity measure (Lin '91) that answers "which source
    * is the odd one out" without KL's infinities (absent grams draw
    * zero mass from the side that lacks them, by construction). JSD ∈
    * [0, ln 2]; complements [[wasserstein]] (ordered scalar drift)
    * with DISTRIBUTIONAL drift over a discrete vocabulary.
    *
    * Parity: each (source, gram) contribution is computed from exact
    * integer counts in one identical double expression and quantized
    * ONCE to e9 — integer sums are order-free across engines (a raw
    * float Σ over thousands of grams would be partition-order
    * noise). Scale shape: one gram-count exchange, a (sources ×
    * vocab) axis frame built from bounded dimension joins, one
    * source-sized rollup. */
  def jsDivergence(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .withColumn("ws", split(col("text"), " "))
      .filter(col("text").contains(" "))
      .select(col("source"), explode(expr(
        """transform(sequence(1, size(ws) - 1),
          |          i -> concat(element_at(ws, i), ' ',
          |                      element_at(ws, i + 1)))""".stripMargin))
        .as("w"))
    val cs = toks.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("cp"))
    val cg = toks.groupBy(col("w")).agg(count(lit(1)).as("call"))
    val ns = toks.groupBy(col("source")).agg(count(lit(1)).as("np"))
    val nt = toks.agg(count(lit(1)).as("ntot"))
    val axis = ns.crossJoin(cg) // sources × global gram vocab
      .join(cs, Seq("source", "w"), "left")
      .withColumn("cp", coalesce(col("cp"), lit(0L)))
      .crossJoin(broadcast(nt))
      .withColumn("cq", col("call") - col("cp"))
      .withColumn("nq", col("ntot") - col("np"))
    val p = col("cp").cast("double") / col("np")
    val q = col("cq").cast("double") / col("nq")
    val m = (p + q) / 2.0
    val contrib =
      (when(col("cp") > 0, p / 2.0 * log(p / m)).otherwise(lit(0.0)) +
        when(col("cq") > 0, q / 2.0 * log(q / m)).otherwise(lit(0.0)))
    axis
      .withColumn("c_e9", round(contrib * 1e9, 0).cast("long"))
      .groupBy(col("source"))
      .agg(max(col("np")).as("n_grams"),
        sum(col("c_e9")).cast("long").as("jsd_e9"))
      .select(col("source"), col("n_grams"),
        col("jsd_e9"),
        round(col("jsd_e9").cast("double") / 1e9, 6).as("jsd"))
      .orderBy(col("source"))
  }

  private val jsDivergenceOracle =
    """WITH toks AS (
      |  SELECT source,
      |         unnest([ws[i] || ' ' || ws[i + 1]
      |                 FOR i IN range(1, len(ws))]) AS w
      |  FROM (SELECT source, string_split(text, ' ') AS ws
      |        FROM documents) WHERE len(ws) > 1),
      |cs AS (SELECT source, w, COUNT(*) AS cp FROM toks GROUP BY 1, 2),
      |cg AS (SELECT w, COUNT(*) AS call FROM toks GROUP BY 1),
      |ns AS (SELECT source, COUNT(*) AS np FROM toks GROUP BY 1),
      |nt AS (SELECT COUNT(*) AS ntot FROM toks),
      |axis AS (
      |  SELECT ns.source, cg.w, ns.np, COALESCE(cs.cp, 0) AS cp,
      |         cg.call - COALESCE(cs.cp, 0) AS cq, nt.ntot - ns.np AS nq
      |  FROM ns CROSS JOIN cg
      |  LEFT JOIN cs ON cs.source = ns.source AND cs.w = cg.w
      |  CROSS JOIN nt),
      |c AS (
      |  SELECT source, np,
      |    CAST(ROUND((
      |      CASE WHEN cp > 0 THEN (CAST(cp AS DOUBLE) / np) / 2.0
      |        * ln((CAST(cp AS DOUBLE) / np)
      |             / ((CAST(cp AS DOUBLE) / np
      |                 + CAST(cq AS DOUBLE) / nq) / 2.0)) ELSE 0.0 END
      |      + CASE WHEN cq > 0 THEN (CAST(cq AS DOUBLE) / nq) / 2.0
      |        * ln((CAST(cq AS DOUBLE) / nq)
      |             / ((CAST(cp AS DOUBLE) / np
      |                 + CAST(cq AS DOUBLE) / nq) / 2.0)) ELSE 0.0 END
      |      ) * 1e9) AS BIGINT) AS c_e9
      |  FROM axis)
      |SELECT source, CAST(MAX(np) AS BIGINT) AS n_grams,
      |       CAST(SUM(c_e9) AS BIGINT) AS jsd_e9,
      |       ROUND(CAST(SUM(c_e9) AS DOUBLE) / 1e9, 6) AS jsd
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  // -------------------------------------------------- Heaps' law
  /** Heaps'-law vocabulary growth fit (V(N) ≈ K·N^β; Heaps '78) —
    * the corpus-health exponent: natural text sits near β ≈ 0.5;
    * β → 1 is template spam re-minting tokens, β → 0 a vocabulary
    * that stopped growing (dedup gone wrong, or a bot). Growth is
    * sampled at 20 ingest thresholds (every 25th doc in doc_id
    * order) and ln V on ln N is fit by exact-lattice OLS.
    *
    * Scale shape — the deliberate part: NO running cumsum exists in
    * the plan. V at a threshold is "words whose FIRST occurrence is
    * ≤ t" — one vocab-sized min-aggregate, then 20 conditional
    * counts; N likewise from per-doc lengths. The naive formulation
    * (a global window ordered by doc over the whole corpus) is
    * exactly what 100 TB forbids, and the oracle computes THAT naive
    * shape in DuckDB — the two must agree exactly. The OLS runs on
    * e6-quantized lns with HUGEINT/DECIMAL(38) cross products,
    * signed-floor parity. */
  def heapsLaw(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val lens = docs.select(col("doc_id"),
      size(col("ws")).cast("long").as("len"))
    // vocabulary unit = BIGRAMS: the fixture's unigram lexicon is a
    // closed ~50-word list that saturates inside the first threshold
    // (β would be exactly 0 — no growth to fit); the bigram vocab is
    // still growing at every sampled point, which is the regime the
    // exponent measures. Heaps' law is routinely applied to n-gram
    // vocabularies.
    val firstOcc = docs.filter(size(col("ws")) > 1)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ws) - 1),
          |          i -> concat(element_at(ws, i), ' ',
          |                      element_at(ws, i + 1)))""".stripMargin))
        .as("w"))
      .groupBy(col("w")).agg(min(col("doc_id")).as("fd"))
    // LOG-spaced ingest thresholds (t = (maxd+1)/2^(12−i)): a power
    // law is a line in log-log, so equal spacing belongs on the x
    // axis of the FIT, not the ingest axis — linear thresholds all
    // land in the saturated tail. Degenerate early thresholds (no
    // docs or no vocab yet) are excluded by the v>0 ∧ nt>0 guard.
    val ts = docs.agg(max(col("doc_id")).as("maxd"))
      .select(explode(sequence(lit(1), lit(12))).as("i"), col("maxd"))
      .select(col("i"),
        call_function("div", (col("maxd") + 1).cast("long"),
          call_function("shiftleft", lit(1L),
            (lit(12) - col("i")).cast("int"))).as("t"))
      .filter(col("t") > 0)
    val pts = ts
      .join(firstOcc.crossJoin(ts.select(col("i").as("i2"), col("t")
        .as("t2"))).filter(col("fd") < col("t2"))
        .groupBy(col("i2")).agg(count(lit(1)).as("v")),
        col("i") === col("i2"))
      .join(lens.crossJoin(ts.select(col("i").as("i3"), col("t")
        .as("t3"))).filter(col("doc_id") < col("t3"))
        .groupBy(col("i3")).agg(sum(col("len")).as("nt")),
        col("i") === col("i3"))
      .select(col("i"), col("nt"), col("v"),
        round(log(col("nt").cast("double")) * 1000000.0, 0).cast("long")
          .as("x"),
        round(log(col("v").cast("double")) * 1000000.0, 0).cast("long")
          .as("y"))
    val m = pts.agg(count(lit(1)).as("k"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
    def floorDiv(num: Column, den: Column): Column =
      ((num - pmod(num, den)) / den).cast("long")
    m.select(col("k").as("n_points"),
      floorDiv(
        (col("k").cast(dec) * col("sxy") - col("sx").cast(dec) * col("sy"))
          * lit(2000000L).cast(dec) +
          (col("k").cast(dec) * col("sxx") -
            col("sx").cast(dec) * col("sx")),
        (col("k").cast(dec) * col("sxx") - col("sx").cast(dec) * col("sx"))
          * lit(2L).cast(dec)).as("beta_e6"))
  }

  private val heapsLawOracle =
    """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws
      |              FROM documents),
      |lens AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS len FROM docs),
      |fo AS (SELECT w, MIN(doc_id) AS fd
      |       FROM (SELECT doc_id,
      |               unnest([ws[i] || ' ' || ws[i + 1]
      |                       FOR i IN range(1, len(ws))]) AS w
      |             FROM docs WHERE len(ws) > 1) GROUP BY w),
      |mx AS (SELECT MAX(doc_id) AS maxd FROM docs),
      |ts AS (SELECT i, (maxd + 1) // (1 << (12 - i)) AS t
      |       FROM mx, range(1, 13) r(i)
      |       WHERE (maxd + 1) // (1 << (12 - i)) > 0),
      |pts AS (
      |  SELECT ts.i,
      |    (SELECT CAST(SUM(len) AS BIGINT) FROM lens
      |     WHERE doc_id < ts.t) AS nt,
      |    (SELECT COUNT(*) FROM fo WHERE fd < ts.t) AS v
      |  FROM ts),
      |q AS (SELECT i, nt, v,
      |        CAST(ROUND(ln(CAST(nt AS DOUBLE)) * 1000000.0) AS BIGINT)
      |          AS x,
      |        CAST(ROUND(ln(CAST(v AS DOUBLE)) * 1000000.0) AS BIGINT)
      |          AS y
      |      FROM pts WHERE nt IS NOT NULL AND nt > 0 AND v > 0),
      |m AS (SELECT COUNT(*) AS k, CAST(SUM(x) AS HUGEINT) AS sx,
      |        CAST(SUM(y) AS HUGEINT) AS sy,
      |        CAST(SUM(x*x) AS HUGEINT) AS sxx,
      |        CAST(SUM(x*y) AS HUGEINT) AS sxy
      |      FROM q)
      |SELECT k AS n_points,
      |       CAST((((k * sxy - sx * sy) * 2000000 + (k * sxx - sx * sx))
      |             - (((((k * sxy - sx * sy) * 2000000
      |                   + (k * sxx - sx * sx))
      |                  % ((k * sxx - sx * sx) * 2))
      |                 + ((k * sxx - sx * sx) * 2))
      |                % ((k * sxx - sx * sx) * 2)))
      |            // ((k * sxx - sx * sx) * 2) AS BIGINT) AS beta_e6
      |FROM m""".stripMargin

  // ------------------------------------------------ readability
  /** Flesch reading-ease battery (Flesch '48; the readability screen
    * web-corpus filters run beside the Gopher stats): per doc,
    * sentences = punctuation-run count (min 1), words = whitespace
    * tokens, syllables = vowel-group count with the per-word min-1
    * rule (vowel-less tokens count one); Flesch = 206.835 −
    * 1.015·(words/sentence) − 84.6·(syllables/word). Each per-doc
    * score quantizes ONCE to the e6 lattice, so the per-source means
    * are exact half-up integer ratios — a float mean of doubles
    * would be partition-order-sensitive.
    *
    * Scale shape: pure map-side column math + one source-sized hash
    * rollup. */
  def readability(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("words", size(col("ws")).cast("long"))
      .withColumn("sentences",
        greatest(lit(1L),
          size(expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long")))
      .withColumn("syllables",
        size(expr("regexp_extract_all(text, '[aeiouy]+', 0)")).cast("long") +
          expr("size(filter(ws, w -> w NOT rlike '[aeiouy]'))").cast("long"))
      .withColumn("flesch_e6",
        round((lit(206.835) -
          lit(1.015) * col("words").cast("double") / col("sentences") -
          lit(84.6) * col("syllables").cast("double") / col("words"))
          * 1000000.0, 0).cast("long"))
    d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("flesch_e6")).cast("long").as("sf"),
        sum(col("words")).cast("long").as("sum_words"),
        sum(col("syllables")).cast("long").as("sum_syllables"))
      .select(col("source"), col("n_docs"),
        Parity.halfUpDiv(col("sf"), col("n_docs")).cast("double")
          .divide(1000000.0).as("avg_flesch"),
        col("sum_words"), col("sum_syllables"),
        Parity.halfUpDiv(col("sum_syllables") * 1000000L, col("sum_words"))
          .cast("double").divide(1000000.0).as("syl_per_word"))
      .orderBy(col("source"))
  }

  private val readabilityOracle =
    """WITH d AS (
      |  SELECT source,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
      |         GREATEST(1, len(regexp_extract_all(text, '[.!?]+')))
      |           AS sentences,
      |         CAST(len(regexp_extract_all(text, '[aeiouy]+'))
      |              + len(list_filter(string_split(text, ' '),
      |                    w -> NOT regexp_matches(w, '[aeiouy]')))
      |              AS BIGINT) AS syllables
      |  FROM documents),
      |f AS (SELECT source, words, syllables,
      |        CAST(ROUND((206.835
      |               - 1.015 * CAST(words AS DOUBLE) / sentences
      |               - 84.6 * CAST(syllables AS DOUBLE) / words)
      |              * 1000000.0) AS BIGINT) AS flesch_e6
      |      FROM d)
      |SELECT source, COUNT(*) AS n_docs,
      |       -- flesch can be negative; DuckDB // truncates toward
      |       -- zero, so force FLOOR via the positive mod
      |       CAST(((2*SUM(flesch_e6) + COUNT(*))
      |             - (((2*SUM(flesch_e6) + COUNT(*)) % (2*COUNT(*))
      |                 + 2*COUNT(*)) % (2*COUNT(*)))) // (2*COUNT(*))
      |            AS DOUBLE) / 1000000.0 AS avg_flesch,
      |       CAST(SUM(words) AS BIGINT) AS sum_words,
      |       CAST(SUM(syllables) AS BIGINT) AS sum_syllables,
      |       CAST((2*SUM(syllables)*1000000 + SUM(words))
      |            // (2*SUM(words)) AS DOUBLE) / 1000000.0 AS syl_per_word
      |FROM f GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------- distinct-n
  /** distinct-1 / distinct-2 corpus diversity (Li et al. NAACL'16 —
    * THE generation-diversity metric, equally read as a per-source
    * corpus health check: a template farm shows normal unigram
    * diversity but collapsed bigram diversity): per source, distinct
    * n-grams over total n-grams for n = 1, 2. Complements
    * [[docRepetition]] (within-doc) with the ACROSS-doc view.
    *
    * Scale shape: two map-side n-gram streams into (source, gram)
    * hash aggregates — count-distinct by pre-aggregated key, never a
    * distinct over raw rows; output is source-sized. */
  def distinctN(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ws", split(col("text"), " "))
    val uni = docs.select(col("source"), explode(col("ws")).as("g"))
      .groupBy(col("source"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("distinct_1"), sum(col("c")).as("total_1"))
    val bi = docs.filter(col("text").contains(" "))
      .select(col("source"), explode(expr(
        """transform(sequence(1, size(ws) - 1),
          |          i -> concat(element_at(ws, i), ' ',
          |                      element_at(ws, i + 1)))""".stripMargin))
        .as("g"))
      .groupBy(col("source"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("distinct_2"), sum(col("c")).as("total_2"))
    uni.join(bi, Seq("source"))
      .select(col("source"), col("distinct_1"),
        col("total_1").cast("long").as("total_1"),
        round(col("distinct_1").cast("double") / col("total_1"), 4)
          .as("d1_ratio"),
        col("distinct_2"),
        col("total_2").cast("long").as("total_2"),
        round(col("distinct_2").cast("double") / col("total_2"), 4)
          .as("d2_ratio"))
      .orderBy(col("source"))
  }

  private val distinctNOracle =
    """WITH docs AS (SELECT source, string_split(text, ' ') AS ws
      |              FROM documents),
      |u AS (SELECT source, COUNT(*) AS distinct_1,
      |             CAST(SUM(c) AS BIGINT) AS total_1
      |      FROM (SELECT source, g, COUNT(*) AS c
      |            FROM (SELECT source, unnest(ws) AS g FROM docs)
      |            GROUP BY 1, 2) GROUP BY source),
      |b AS (SELECT source, COUNT(*) AS distinct_2,
      |             CAST(SUM(c) AS BIGINT) AS total_2
      |      FROM (SELECT source, g, COUNT(*) AS c
      |            FROM (SELECT source,
      |                    unnest([ws[i] || ' ' || ws[i + 1]
      |                            FOR i IN range(1, len(ws))]) AS g
      |                  FROM docs WHERE len(ws) > 1)
      |            GROUP BY 1, 2) GROUP BY source)
      |SELECT source, distinct_1, total_1,
      |       ROUND(CAST(distinct_1 AS DOUBLE) / total_1, 4) AS d1_ratio,
      |       distinct_2, total_2,
      |       ROUND(CAST(distinct_2 AS DOUBLE) / total_2, 4) AS d2_ratio
      |FROM u JOIN b USING (source) ORDER BY source""".stripMargin

  // ---------------------------------------------------- bigram LM
  /** Bigram language-model quality scoring with add-1 smoothing — the
    * CCNet-style LM filter signal one order up from
    * [[unigramLogprob]]: per-doc average of
    * ln p(wᵢ | wᵢ₋₁) = ln (c₂+1)/(c₁+V) under corpus-wide bigram
    * counts. Low scores mark documents whose word TRANSITIONS are
    * improbable (shuffled/garbled text that unigram frequencies can't
    * see).
    *
    * Scale shape: the bigram stream is the same map-side bound-array
    * explode as [[bpePairs]]; both count tables are partial-aggregated
    * single shuffles. The count joins are UNHINTED: AQE broadcasts
    * them at fixture scale (bigram vocab is tiny there), while at web
    * scale c₂ is Zipf-heavy but large and the same plan degrades
    * gracefully to ordinary shuffle equi-joins on (w1[,w2]) — or the
    * LM ships as a bucketed standing table — with no 8 GB broadcast
    * cliff. Parity: counts and V are exact integers, the smoothed
    * ratio is one correctly-rounded double division, and each ln is
    * quantized to integer micro-nats BEFORE the per-doc sum (the
    * unigram scorer's order-free-reduction doctrine).
    */
  def bigramLogprob(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ws", split(col("text"), " "))
    // the space test (not size(ws)) guards Spark's descending
    // sequence(1, 0) on single-token docs without re-splitting in a
    // pushed-down filter (DuckDB's range(1, 1) is naturally empty)
    val big = docs.filter(col("text").contains(" "))
      .select(col("doc_id"), explode(expr(
      """transform(sequence(1, size(ws) - 1),
        |          i -> struct(element_at(ws, i) AS w1,
        |                      element_at(ws, i + 1) AS w2))""".stripMargin))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = big.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = docs.select(explode(col("ws")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    // c2/c1 are vocab-sized (bigram types: billions of rows at
    // 100 TB) — unhinted, so AQE broadcasts at small SF and shuffle-
    // joins at scale; only the one-row V scalar keeps its hint.
    big.join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .withColumn("lp_e6",
        round(log((col("c2") + 1).cast("double") / (col("c1") + col("v")))
          * lit(1000000.0), 0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_e6")).as("slp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("slp").cast("double") / col("n_bigrams") / lit(1000000.0), 6)
          .as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  private val bigramLogprobOracle =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |big AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
      |        FROM d, UNNEST(range(1, len(ws))) AS t(i)),
      |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY w1, w2),
      |c1 AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1),
      |v AS (SELECT COUNT(DISTINCT w) AS v
      |      FROM (SELECT unnest(ws) AS w FROM d)),
      |sc AS (
      |  SELECT doc_id,
      |         CAST(ROUND(ln((c2 + 1.0) / (c1 + v)) * 1000000.0) AS BIGINT)
      |           AS lp_e6
      |  FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |       ROUND(CAST(SUM(lp_e6) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
      |         AS avg_logprob
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- stupid backoff
  /** Stupid Backoff bigram scoring (Brants et al. EMNLP'07, "Large
    * Language Models in Machine Translation" §4) — the web-scale LM
    * the KN family's exact discounting gives way to at corpus size:
    * S(w₂|w₁) = c(w₁w₂)/c(w₁) when the bigram was seen in training,
    * else α·c(w₂)/N with α = 0.4 — no normalization, no discount
    * fitting, just counts, which is exactly why Google ran it at 2
    * trillion tokens. Held-out scoring (train = pmod(doc_id,5) < 4,
    * test = the remaining fifth — the incremental-dedup ladder's split
    * discipline) so the backoff path genuinely fires; a test token
    * absent from training backs off with the floor count 1 (the paper
    * leaves OOV policy open; the floor keeps ln finite and is applied
    * identically in both engines).
    *
    * Parity: counts are exact longs; each score quantizes to e6
    * micro-nats from ONE IEEE ln of ONE IEEE ratio (the established
    * micro-nat convention); the per-lang mean renders once at 6 dp
    * over the summed integer lattice, the [[bigramLogprob]] shape.
    *
    * Scale shape: the Brants paper's own layout — two count tables
    * (unigram + bigram types) built map-side from the train stream,
    * both corpus-vocabulary-sized and therefore UNHINTED (the 8 GB
    * broadcast cliff rationale at [[bigramLogprob]]; AQE broadcasts at
    * fixture scale, shuffle-joins at corpus scale), three equi-joins
    * on the test bigram stream, a one-row N scalar as the only hinted
    * broadcast, and a lang-sized rollup. Nothing sorts globally.
    */
  def stupidBackoff(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ws", split(col("text"), " "))
    val train = docs.filter(pmod(col("doc_id"), lit(5)) < 4)
    val test = docs.filter(pmod(col("doc_id"), lit(5)) === 4)

    val trainToks = train.select(explode(col("ws")).as("w"))
    val cw = trainToks.groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val nTot = trainToks.agg(count(lit(1)).as("nn"))

    def bigrams(df: DataFrame, extra: Column*): DataFrame =
      df.filter(col("text").contains(" "))
        .select(extra :+ explode(expr(
          """transform(sequence(1, size(ws) - 1),
            |          i -> struct(element_at(ws, i) AS w1,
            |                      element_at(ws, i + 1) AS w2))""".stripMargin))
          .as("b"): _*)
        .select(extra :+ col("b.w1").as("w1") :+ col("b.w2").as("w2"): _*)

    val c2 = bigrams(train).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))

    // vocab-sized count tables joined unhinted; only the 1-row N hinted
    bigrams(test, col("lang"))
      .join(c2, Seq("w1", "w2"), "left")
      .join(cw.select(col("w").as("w1"), col("cw").as("cw1")),
        Seq("w1"), "left")
      .join(cw.select(col("w").as("w2"), col("cw").as("cw2")),
        Seq("w2"), "left")
      .crossJoin(broadcast(nTot))
      .withColumn("score_e6",
        when(col("c2").isNotNull, // seen pair ⇒ w1 seen ⇒ cw1 non-null
          round(log(col("c2").cast("double") / col("cw1")) * 1000000.0, 0)
            .cast("long"))
          .otherwise(round(log(lit(0.4) *
            coalesce(col("cw2"), lit(1L)).cast("double") / col("nn"))
            * 1000000.0, 0).cast("long")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_positions"),
        sum(when(col("c2").isNull, 1L).otherwise(0L)).as("n_backoff"),
        sum(col("score_e6")).as("ss"))
      .select(col("lang"), col("n_positions"), col("n_backoff"),
        round(col("ss").cast("double") / col("n_positions") / 1000000.0, 6)
          .as("avg_score"))
      .orderBy(col("lang"))
  }

  private val stupidBackoffOracle =
    """WITH d AS (SELECT doc_id, lang, text,
      |                  string_split(text, ' ') AS ws FROM documents),
      |tr AS (SELECT * FROM d WHERE doc_id % 5 < 4),
      |te AS (SELECT * FROM d WHERE doc_id % 5 = 4),
      |cw AS (SELECT w, COUNT(*) AS cw
      |       FROM (SELECT unnest(ws) AS w FROM tr) GROUP BY w),
      |nt AS (SELECT COUNT(*) AS nn
      |       FROM (SELECT unnest(ws) AS w FROM tr)),
      |c2 AS (SELECT w1, w2, COUNT(*) AS c2
      |       FROM (SELECT ws[i] AS w1, ws[i+1] AS w2
      |             FROM tr, UNNEST(range(1, len(ws))) AS t(i))
      |       GROUP BY w1, w2),
      |tb AS (SELECT lang, ws[i] AS w1, ws[i+1] AS w2
      |       FROM te, UNNEST(range(1, len(ws))) AS t(i)),
      |sc AS (SELECT lang, c2.c2 AS c2,
      |         CASE WHEN c2.c2 IS NOT NULL THEN
      |           CAST(ROUND(ln(CAST(c2.c2 AS DOUBLE) / cw1.cw)
      |                      * 1000000.0) AS BIGINT)
      |         ELSE
      |           CAST(ROUND(ln(0.4 * CAST(COALESCE(cw2.cw, 1) AS DOUBLE)
      |                         / nt.nn) * 1000000.0) AS BIGINT)
      |         END AS score_e6
      |       FROM tb LEFT JOIN c2 USING (w1, w2)
      |            LEFT JOIN cw cw1 ON tb.w1 = cw1.w
      |            LEFT JOIN cw cw2 ON tb.w2 = cw2.w
      |            CROSS JOIN nt)
      |SELECT lang, COUNT(*) AS n_positions,
      |       CAST(SUM(CASE WHEN c2 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_backoff,
      |       ROUND(CAST(SUM(score_e6) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
      |         AS avg_score
      |FROM sc GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------ RHO loss
  /** Reducible-holdout-loss data prioritization (Mindermann et al.
    * ICML'22 "Prioritized Training on Points that are Learnable,
    * Worth Learning, and Not Yet Learnt"; token-level as RHO-1, Lin
    * et al. '24): rank each training candidate by
    * L_current(x) − L_reference(x) — loss under the model being
    * trained minus loss under a REFERENCE model trained on held-out
    * data — and keep the top decile. High excess = learnable (a
    * better model compresses it) AND not yet learnt; low/negative
    * excess = already learnt or irreducible noise. The selection
    * batch-curriculum schedulers actually run.
    *
    * Cast onto the shipped LM family: current = the candidates' own
    * unigram MLE (the weakest "model in training"), reference = the
    * [[stupidBackoff]] bigram scorer trained on the HELD-OUT fifth
    * (doc_id % 5 = 4 — the split flipped relative to stupidBackoff,
    * exactly the RHO recipe: the reference must not train on the
    * candidates it judges). Both losses are per-position micro-nat
    * averages in exact truncating integer division, so the excess is
    * an exact integer; selection is the top ⌈n/10⌉ per language by
    * (excess, doc_id) — a LANG-PARTITIONED window, never a global
    * sort. Single-token docs carry no bigram positions and are
    * excluded from candidacy on both sides.
    *
    * Scale shape: two count tables (holdout bigrams/unigrams) +
    * the candidates' own unigram table, all vocab-sized and UNHINTED
    * (the [[bigramLogprob]] broadcast-cliff rationale); two scoring
    * streams aggregate doc-keyed; the decile pick is a per-lang
    * window over doc-sized frames; output is lang-sized. */
  def rhoLoss(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ws", split(col("text"), " "))
    val cand = docs.filter(pmod(col("doc_id"), lit(5)) < 4)
      .filter(col("text").contains(" "))
    val ref = docs.filter(pmod(col("doc_id"), lit(5)) === 4)

    // current model: the candidates' own unigram MLE (always seen)
    val candToks = cand.select(col("doc_id"), col("lang"),
      explode(col("ws")).as("w"))
    val cwCur = candToks.groupBy(col("w")).agg(count(lit(1)).as("cwc"))
    val nCur = candToks.agg(count(lit(1)).as("nc"))
    val curDoc = candToks
      .join(cwCur, Seq("w"))
      .crossJoin(broadcast(nCur))
      .withColumn("nll_e6",
        -round(log(col("cwc").cast("double") / col("nc")) * 1000000.0, 0)
          .cast("long"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tok"), sum(col("nll_e6")).as("s_cur"))

    // reference model: holdout-trained stupid-backoff bigram
    val refToks = ref.select(explode(col("ws")).as("w"))
    val cwRef = refToks.groupBy(col("w")).agg(count(lit(1)).as("cwr"))
    val nRef = refToks.agg(count(lit(1)).as("nr"))
    def bigrams(df: DataFrame): DataFrame = df
      .filter(col("text").contains(" "))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ws) - 1),
          |          i -> struct(element_at(ws, i) AS w1,
          |                      element_at(ws, i + 1) AS w2))""".stripMargin))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2Ref = bigrams(ref).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val refDoc = bigrams(cand)
      .join(c2Ref, Seq("w1", "w2"), "left")
      .join(cwRef.select(col("w").as("w1"), col("cwr").as("cw1")),
        Seq("w1"), "left")
      .join(cwRef.select(col("w").as("w2"), col("cwr").as("cw2")),
        Seq("w2"), "left")
      .crossJoin(broadcast(nRef))
      .withColumn("nll_e6",
        when(col("c2").isNotNull,
          -round(log(col("c2").cast("double") / col("cw1")) * 1000000.0, 0)
            .cast("long"))
          .otherwise(-round(log(lit(0.4) *
            coalesce(col("cw2"), lit(1L)).cast("double") / col("nr"))
            * 1000000.0, 0).cast("long")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pos"), sum(col("nll_e6")).as("s_ref"))

    val scored = curDoc.join(refDoc, Seq("doc_id"))
      // both NLL sums are nonnegative: truncating div == DuckDB //
      .withColumn("cur_avg_e6",
        call_function("div", col("s_cur"), col("n_tok")))
      .withColumn("ref_avg_e6",
        call_function("div", col("s_ref"), col("n_pos")))
      .withColumn("excess_e6", col("cur_avg_e6") - col("ref_avg_e6"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("excess_e6").desc, col("doc_id"))
    val ranked = scored
      .withColumn("rn", row_number().over(w))
      .withColumn("n_lang",
        count(lit(1)).over(Window.partitionBy(col("lang"))))
      .withColumn("sel",
        col("rn") <= call_function("div", col("n_lang") + 9, lit(10L)))
    ranked.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("sel"), 1L).otherwise(0L)).as("n_selected"),
        sum(when(col("sel"), col("excess_e6")).otherwise(0L))
          .cast("long").as("sel_sum_excess_e6"),
        // + 0.0: the rest-average straddles zero — sign-of-zero guard
        (round(sum(when(col("sel"), col("excess_e6")).otherwise(0L))
          .cast("double")
          / sum(when(col("sel"), 1L).otherwise(0L)) / 1000000.0, 6)
          + lit(0.0)).as("sel_avg_excess"),
        // NULL over 0/0 (the fairnessAudit convention): a language
        // with exactly one candidate selects it (ceil(1/10) = 1) and
        // the rest-count is zero — Spark's 0.0/0 is NaN while DuckDB's
        // differs by version, so both engines emit NULL instead
        when(sum(when(!col("sel"), 1L).otherwise(0L)) > 0L,
          round(sum(when(!col("sel"), col("excess_e6")).otherwise(0L))
            .cast("double")
            / sum(when(!col("sel"), 1L).otherwise(0L)) / 1000000.0, 6)
            + lit(0.0)).as("rest_avg_excess"),
        max(when(col("rn") === 1, col("doc_id"))).as("top_doc_id"))
      .orderBy(col("lang"))
  }

  private val rhoLossOracle =
    """WITH d AS (SELECT doc_id, lang, text,
      |                  string_split(text, ' ') AS ws FROM documents),
      |cand AS (SELECT * FROM d WHERE doc_id % 5 < 4 AND contains(text, ' ')),
      |ref AS (SELECT * FROM d WHERE doc_id % 5 = 4),
      |ct AS (SELECT doc_id, lang, unnest(ws) AS w FROM cand),
      |cwc AS (SELECT w, COUNT(*) AS cwc FROM ct GROUP BY w),
      |ncur AS (SELECT COUNT(*) AS nc FROM ct),
      |cur AS (
      |  SELECT doc_id, lang, COUNT(*) AS n_tok,
      |    CAST(SUM(-CAST(ROUND(ln(CAST(cwc AS DOUBLE) / nc) * 1000000.0)
      |              AS BIGINT)) AS BIGINT) AS s_cur
      |  FROM ct JOIN cwc USING (w) CROSS JOIN ncur
      |  GROUP BY doc_id, lang),
      |rt AS (SELECT unnest(ws) AS w FROM ref),
      |cwr AS (SELECT w, COUNT(*) AS cwr FROM rt GROUP BY w),
      |nref AS (SELECT COUNT(*) AS nr FROM rt),
      |c2r AS (SELECT w1, w2, COUNT(*) AS c2
      |        FROM (SELECT ws[i] AS w1, ws[i+1] AS w2
      |              FROM ref, UNNEST(range(1, len(ws))) AS t(i))
      |        GROUP BY w1, w2),
      |cb AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
      |       FROM cand, UNNEST(range(1, len(ws))) AS t(i)),
      |rs AS (
      |  SELECT doc_id, COUNT(*) AS n_pos,
      |    CAST(SUM(CASE WHEN c2r.c2 IS NOT NULL THEN
      |        -CAST(ROUND(ln(CAST(c2r.c2 AS DOUBLE) / cw1.cwr)
      |              * 1000000.0) AS BIGINT)
      |      ELSE
      |        -CAST(ROUND(ln(0.4 * CAST(COALESCE(cw2.cwr, 1) AS DOUBLE)
      |              / nref.nr) * 1000000.0) AS BIGINT)
      |      END) AS BIGINT) AS s_ref
      |  FROM cb LEFT JOIN c2r USING (w1, w2)
      |       LEFT JOIN cwr cw1 ON cb.w1 = cw1.w
      |       LEFT JOIN cwr cw2 ON cb.w2 = cw2.w
      |       CROSS JOIN nref
      |  GROUP BY doc_id),
      |sc AS (
      |  SELECT cur.doc_id, lang,
      |         (s_cur // n_tok) - (s_ref // n_pos) AS excess_e6
      |  FROM cur JOIN rs ON cur.doc_id = rs.doc_id),
      |rk AS (
      |  SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |                       ORDER BY excess_e6 DESC, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY lang) AS n_lang
      |  FROM sc),
      |lab AS (SELECT *, rn <= (n_lang + 9) // 10 AS sel FROM rk)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
      |  CAST(SUM(CASE WHEN sel THEN excess_e6 ELSE 0 END) AS BIGINT)
      |    AS sel_sum_excess_e6,
      |  ROUND(CAST(SUM(CASE WHEN sel THEN excess_e6 ELSE 0 END) AS DOUBLE)
      |        / SUM(CASE WHEN sel THEN 1 ELSE 0 END) / 1000000.0, 6) + 0.0
      |    AS sel_avg_excess,
      |  CASE WHEN SUM(CASE WHEN NOT sel THEN 1 ELSE 0 END) > 0 THEN
      |    ROUND(CAST(SUM(CASE WHEN NOT sel THEN excess_e6 ELSE 0 END)
      |               AS DOUBLE)
      |          / SUM(CASE WHEN NOT sel THEN 1 ELSE 0 END) / 1000000.0, 6)
      |      + 0.0 END AS rest_avg_excess,
      |  MAX(CASE WHEN rn = 1 THEN doc_id END) AS top_doc_id
      |FROM lab GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------- speculative decoding
  /** Speculative-decoding acceptance audit (Leviathan et al. ICML'23,
    * "Fast Inference from Transformers via Speculative Decoding") —
    * the SERVING-side twin of the LM bake-off: a cheap DRAFT model
    * proposes tokens, the TARGET accepts with prob min(1, p/q), and
    * the whole speedup rests on the per-position acceptance rate
    * α = Σ_x min(p(x), q(x)). Here draft q = the context-free unigram
    * distribution (cw/N — the cheapest possible drafter) and target
    * p = the bigram MLE (c2/c(w1)), both from the shipped count
    * tables on the standard train split; the audit asks, per
    * language, what α a unigram drafter would buy and the expected
    * tokens-per-target-pass (1 − α^(γ+1))/(1 − α) at draft depth
    * γ = 4 — the go/no-go number a serving team reads first.
    *
    * Exactness: α(w1) over the target's support is
    * Σ_{x: c2>0} min(c2/c(w1), cx/N) — every min resolves by exact
    * integer CROSS-MULTIPLICATION (min(c2·N, cx·c(w1))), and the sum
    * shares the single denominator c(w1)·N, so each context's α is
    * ONE double division quantized once to e9 (longs hold it through
    * sf0.1 — N² ≈ 2.5e11; at corpus scale swap to DECIMAL(38), the
    * rocAuc guard). Positions with an UNSEEN context get α = 0 (the
    * target has no distribution there — full re-decode), tallied
    * separately. The speedup is computed from the 6-dp-rounded mean
    * so both engines start from identical input.
    *
    * Scale shape: the [[stupidBackoff]] layout — count tables built
    * map-side, vocab-sized and UNHINTED, α aggregated per context
    * (one groupBy on w1), then one equi-join onto the test bigram
    * stream and a lang-sized rollup. No cartesian: α runs over the
    * bigram table's own support, never vocab × contexts. */
  def specDecode(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ws", split(col("text"), " "))
    val train = docs.filter(pmod(col("doc_id"), lit(5)) < 4)
    val test = docs.filter(pmod(col("doc_id"), lit(5)) === 4)

    val trainToks = train.select(explode(col("ws")).as("w"))
    val cw = trainToks.groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val nTot = trainToks.agg(count(lit(1)).as("nn"))

    def bigrams(df: DataFrame, extra: Column*): DataFrame =
      df.filter(col("text").contains(" "))
        .select(extra :+ explode(expr(
          """transform(sequence(1, size(ws) - 1),
            |          i -> struct(element_at(ws, i) AS w1,
            |                      element_at(ws, i + 1) AS w2))""".stripMargin))
          .as("b"): _*)
        .select(extra :+ col("b.w1").as("w1") :+ col("b.w2").as("w2"): _*)

    val c2 = bigrams(train).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    // per-context acceptance: exact integer min over the target's
    // support, one shared denominator, quantized once to e9
    val alpha = c2
      .join(cw.select(col("w").as("w2"), col("cw").as("cw2")), Seq("w2"))
      .join(cw.select(col("w").as("w1"), col("cw").as("cw1")), Seq("w1"))
      .crossJoin(broadcast(nTot))
      .groupBy(col("w1"))
      .agg(first(col("cw1")).as("cw1"), first(col("nn")).as("nn"),
        sum(least(col("c2") * col("nn"), col("cw2") * col("cw1")))
          .as("num"))
      .select(col("w1"),
        round(col("num").cast("double") / col("cw1") / col("nn")
          * 1000000000.0, 0).cast("long").as("alpha_e9"))

    bigrams(test, col("lang"))
      .join(alpha, Seq("w1"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_positions"),
        sum(when(col("alpha_e9").isNull, 1L).otherwise(0L))
          .as("n_ctx_miss"),
        sum(coalesce(col("alpha_e9"), lit(0L))).as("sa"))
      .withColumn("alpha_mean",
        round(col("sa").cast("double") / col("n_positions")
          / 1000000000.0, 6))
      .select(col("lang"), col("n_positions"), col("n_ctx_miss"),
        col("alpha_mean"),
        round((lit(1.0) - pow(col("alpha_mean"), 5)) /
          (lit(1.0) - col("alpha_mean")), 4).as("exp_tokens_per_pass"))
      .orderBy(col("lang"))
  }

  private val specDecodeOracle =
    """WITH d AS (SELECT doc_id, lang, text,
      |                  string_split(text, ' ') AS ws FROM documents),
      |tr AS (SELECT * FROM d WHERE doc_id % 5 < 4),
      |te AS (SELECT * FROM d WHERE doc_id % 5 = 4),
      |cw AS (SELECT w, COUNT(*) AS cw
      |       FROM (SELECT unnest(ws) AS w FROM tr) GROUP BY w),
      |nt AS (SELECT COUNT(*) AS nn
      |       FROM (SELECT unnest(ws) AS w FROM tr)),
      |c2 AS (SELECT w1, w2, COUNT(*) AS c2
      |       FROM (SELECT ws[i] AS w1, ws[i+1] AS w2
      |             FROM tr, UNNEST(range(1, len(ws))) AS t(i))
      |       GROUP BY w1, w2),
      |al AS (SELECT w1,
      |         CAST(ROUND(CAST(SUM(LEAST(c2.c2 * nt.nn,
      |                                   cw2.cw * cw1.cw)) AS DOUBLE)
      |              / ANY_VALUE(cw1.cw) / ANY_VALUE(nt.nn)
      |              * 1000000000.0) AS BIGINT) AS alpha_e9
      |       FROM c2 JOIN cw cw2 ON c2.w2 = cw2.w
      |               JOIN cw cw1 ON c2.w1 = cw1.w
      |               CROSS JOIN nt
      |       GROUP BY w1),
      |tb AS (SELECT lang, ws[i] AS w1
      |       FROM te, UNNEST(range(1, len(ws))) AS t(i)),
      |g AS (SELECT lang, COUNT(*) AS n_positions,
      |        CAST(SUM(CASE WHEN alpha_e9 IS NULL THEN 1 ELSE 0 END)
      |             AS BIGINT) AS n_ctx_miss,
      |        CAST(SUM(COALESCE(alpha_e9, 0)) AS BIGINT) AS sa
      |      FROM tb LEFT JOIN al USING (w1) GROUP BY lang),
      |m AS (SELECT lang, n_positions, n_ctx_miss,
      |        ROUND(CAST(sa AS DOUBLE) / n_positions / 1000000000.0, 6)
      |          AS alpha_mean
      |      FROM g)
      |SELECT lang, n_positions, n_ctx_miss, alpha_mean,
      |       ROUND((1.0 - pow(alpha_mean, 5)) / (1.0 - alpha_mean), 4)
      |         AS exp_tokens_per_pass
      |FROM m ORDER BY lang""".stripMargin

  // ---------------------------------------------------- top-p census
  /** Nucleus thresholds the decoding audit sweeps — the top-p knob's
    * conventional settings (Holtzman et al. ICLR'20 uses 0.95). */
  private val TopPPcts = Seq(50, 90, 95)

  /** Top-p (nucleus) decoding census over the standing bigram LM
    * (Holtzman et al. ICLR'20, "The Curious Case of Neural Text
    * Degeneration") — the decoding-knob audit beside [[specDecode]]'s
    * acceptance audit: per context w1 of the standard train split's
    * bigram table, next tokens sort by count descending and the
    * NUCLEUS at threshold p is the minimal prefix whose cumulative
    * mass reaches p — the candidate set a top-p sampler actually draws
    * from. Membership needs no min-rank search: token at rank r is in
    * the nucleus iff the cumulative mass BEFORE it is still short of
    * the threshold ((cum − c)·100 < p·total, exact integer
    * cross-multiplication). Per threshold the census reports contexts,
    * total/average/max nucleus size, greedy contexts (nucleus = 1 —
    * where top-p degenerates to argmax), and the exact e6 probability
    * mass the nucleus covers — the table that picks p: sweep until
    * covered mass stops buying candidate diversity.
    *
    * Exactness: counts, cumulative sums, and both reported rates live
    * on the exact integer lattice (truncating division on nonnegative
    * operands); ties inside a context break by token string, so the
    * sort is engine-deterministic.
    *
    * Scale shape: the per-CONTEXT window discipline ([[rhoLoss]]'s
    * lang-partitioned law) — cumulative mass runs inside
    * Window.partitionBy(w1), frames bounded by a context's distinct
    * successors (≤ vocab), never a global sort; the 3-row threshold
    * grid broadcasts; everything after is two hash aggregations. */
  def topPCensus(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ws", split(col("text"), " "))
    val train = docs.filter(pmod(col("doc_id"), lit(5)) < 4)
    val c2 = train.filter(col("text").contains(" "))
      .select(explode(expr(
        """transform(sequence(1, size(ws) - 1),
          |          i -> struct(element_at(ws, i) AS w1,
          |                      element_at(ws, i + 1) AS w2))""".stripMargin))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val wOrd = Window.partitionBy(col("w1"))
      .orderBy(col("c2").desc, col("w2"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("w1"))
    val grid = TopPPcts.toDF("p_pct")
    val perCtx = c2
      .withColumn("cum", sum(col("c2")).over(wOrd))
      .withColumn("tot", sum(col("c2")).over(wAll))
      .crossJoin(broadcast(grid)) // 3-row bounded threshold grid
      .filter((col("cum") - col("c2")) * 100 < col("p_pct") * col("tot"))
      .groupBy(col("p_pct"), col("w1"))
      .agg(count(lit(1)).as("nucleus"),
        sum(col("c2")).cast("long").as("cov"),
        first(col("tot")).as("tot"))
    perCtx.groupBy(col("p_pct"))
      .agg(count(lit(1)).as("n_ctx"),
        sum(col("nucleus")).cast("long").as("sum_nucleus"),
        max(col("nucleus")).as("max_nucleus"),
        sum(when(col("nucleus") === 1L, 1L).otherwise(0L)).as("n_greedy"),
        sum(col("cov")).cast("long").as("sum_cov"),
        sum(col("tot")).cast("long").as("sum_tot"))
      .withColumn("avg_nucleus_e6",
        expr("(sum_nucleus * 1000000) div n_ctx"))
      .withColumn("covered_e6", expr("(sum_cov * 1000000) div sum_tot"))
      .select(col("p_pct"), col("n_ctx"), col("sum_nucleus"),
        col("avg_nucleus_e6"), col("max_nucleus"), col("n_greedy"),
        col("covered_e6"))
      .orderBy(col("p_pct"))
  }

  private val topPCensusOracle =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
       |           FROM documents
       |           WHERE doc_id % 5 < 4 AND contains(text, ' ')),
       |c2 AS (SELECT w1, w2, COUNT(*) AS c2
       |       FROM (SELECT ws[i] AS w1, ws[i+1] AS w2
       |             FROM d, UNNEST(range(1, len(ws))) AS t(i))
       |       GROUP BY w1, w2),
       |r AS (SELECT w1, w2, c2,
       |        CAST(SUM(c2) OVER (PARTITION BY w1
       |               ORDER BY c2 DESC, w2
       |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
       |        CAST(SUM(c2) OVER (PARTITION BY w1) AS BIGINT) AS tot
       |      FROM c2),
       |g AS (SELECT unnest([${TopPPcts.mkString(", ")}]) AS p_pct),
       |pc AS (SELECT p_pct, w1, COUNT(*) AS nucleus,
       |         CAST(SUM(c2) AS BIGINT) AS cov,
       |         ANY_VALUE(tot) AS tot
       |       FROM r CROSS JOIN g
       |       WHERE (cum - c2) * 100 < p_pct * tot
       |       GROUP BY p_pct, w1)
       |SELECT CAST(p_pct AS INTEGER) AS p_pct, COUNT(*) AS n_ctx,
       |       CAST(SUM(nucleus) AS BIGINT) AS sum_nucleus,
       |       (CAST(SUM(nucleus) AS BIGINT) * 1000000) // COUNT(*)
       |         AS avg_nucleus_e6,
       |       CAST(MAX(nucleus) AS BIGINT) AS max_nucleus,
       |       CAST(SUM(CASE WHEN nucleus = 1 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_greedy,
       |       (CAST(SUM(cov) AS BIGINT) * 1000000)
       |         // CAST(SUM(tot) AS BIGINT) AS covered_e6
       |FROM pc GROUP BY p_pct ORDER BY p_pct""".stripMargin

  // ------------------------------------------------- best-of-n audit
  /** Candidates per best-of-n group. */
  private val BonN = 4

  /** Best-of-n (rejection) sampling audit (Stiennon '20 / Nakano '21
    * WebGPT — the simplest inference-time alignment knob: draw n
    * candidates, ship the best under the reward) — replayed
    * deterministically over the corpus: within each language, docs in
    * doc_id order form consecutive groups of [[BonN]] "candidates for
    * one prompt" (incomplete tail groups are dropped — BoN needs its n
    * draws), the reward is the negative per-token unigram NLL on the
    * established micro-nat lattice ([[dpoPairs]]'s selection score),
    * and the pick is the group minimum NLL. Per language the audit
    * ledgers groups, the corpus-average vs picked-average NLL, and the
    * uplift — the measured value of n=4 rejection sampling under this
    * reward, the number a BoN deployment buys.
    *
    * Exactness: per-token NLL is (−slp) div n_tok on nonnegative
    * operands (slp ≤ 0 by construction); group mins, sums, and both
    * averages are exact integers (truncating division, nonneg).
    * Law (pinned by spec): Σ best·n ≤ Σ all — the group minimum never
    * exceeds its group's mean.
    *
    * Scale shape: the [[rhoLoss]] window doctrine — grouping runs in
    * Window.partitionBy(lang) (never a global sort); the unigram
    * scorer is the [[dpoPairs]] construction (vocab-sized count join,
    * broadcast 1-row total); everything after is two hash
    * aggregations. */
  def bonSampling(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ws", split(col("text"), " "))
    val toks = docs.select(col("doc_id"), explode(col("ws")).as("term"))
    val tot = toks.agg(count(lit(1)).as("n_tot"))
    val freqs = toks.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val perDoc = toks.join(freqs, Seq("term")) // vocab-sized: unhinted
      .crossJoin(broadcast(tot))
      .withColumn("lp_e6",
        round(log(col("tf").cast("double") / col("n_tot")) * lit(1000000.0),
          0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("lp_e6")).as("slp_u"))
      .withColumn("nll_tok_e6", expr("(-slp_u) div n_tok"))
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val wl = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
    val grouped = perDoc
      .withColumn("rn", row_number().over(wl).cast("long"))
      .withColumn("n_lang",
        count(lit(1)).over(Window.partitionBy(col("lang"))))
      .filter(col("rn") <= expr(s"(n_lang div $BonN) * $BonN"))
      .withColumn("grp", expr(s"(rn - 1) div $BonN"))
    val perGrp = grouped.groupBy(col("lang"), col("grp"))
      .agg(min(col("nll_tok_e6")).as("best_nll"),
        sum(col("nll_tok_e6")).cast("long").as("all_nll"))
    perGrp.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_groups"),
        (count(lit(1)) * BonN).as("n_docs"),
        sum(col("all_nll")).cast("long").as("sum_nll_e6"),
        sum(col("best_nll")).cast("long").as("sum_best_nll_e6"))
      .withColumn("avg_nll_e6", expr("sum_nll_e6 div n_docs"))
      .withColumn("avg_best_nll_e6", expr("sum_best_nll_e6 div n_groups"))
      .withColumn("uplift_e6", col("avg_nll_e6") - col("avg_best_nll_e6"))
      .select(col("lang"), col("n_groups"), col("n_docs"),
        col("sum_nll_e6"), col("sum_best_nll_e6"), col("avg_nll_e6"),
        col("avg_best_nll_e6"), col("uplift_e6"))
      .orderBy(col("lang"))
  }

  private val bonSamplingOracle =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |tot AS (SELECT COUNT(*) AS n_tot FROM toks),
       |tf AS (SELECT term, COUNT(*) AS tf FROM toks GROUP BY term),
       |pd AS (
       |  SELECT doc_id, COUNT(*) AS n_tok,
       |         CAST(SUM(CAST(ROUND(ln(CAST(tf AS DOUBLE) / n_tot)
       |                 * 1000000.0) AS BIGINT)) AS BIGINT) AS slp_u
       |  FROM toks JOIN tf USING (term) CROSS JOIN tot
       |  GROUP BY doc_id),
       |sc AS (
       |  SELECT d.lang, pd.doc_id, (-slp_u) // n_tok AS nll_tok_e6
       |  FROM pd JOIN documents d ON pd.doc_id = d.doc_id),
       |rk AS (
       |  SELECT *,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id)
       |         AS BIGINT) AS rn,
       |    COUNT(*) OVER (PARTITION BY lang) AS n_lang
       |  FROM sc),
       |gp AS (
       |  SELECT lang, (rn - 1) // $BonN AS grp,
       |         MIN(nll_tok_e6) AS best_nll,
       |         CAST(SUM(nll_tok_e6) AS BIGINT) AS all_nll
       |  FROM rk WHERE rn <= (n_lang // $BonN) * $BonN
       |  GROUP BY lang, grp)
       |SELECT lang, COUNT(*) AS n_groups,
       |       COUNT(*) * $BonN AS n_docs,
       |       CAST(SUM(all_nll) AS BIGINT) AS sum_nll_e6,
       |       CAST(SUM(best_nll) AS BIGINT) AS sum_best_nll_e6,
       |       CAST(SUM(all_nll) AS BIGINT) // (COUNT(*) * $BonN)
       |         AS avg_nll_e6,
       |       CAST(SUM(best_nll) AS BIGINT) // COUNT(*)
       |         AS avg_best_nll_e6,
       |       CAST(SUM(all_nll) AS BIGINT) // (COUNT(*) * $BonN)
       |         - CAST(SUM(best_nll) AS BIGINT) // COUNT(*) AS uplift_e6
       |FROM gp GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------- DPO pairs
  /** DPO implicit-reward audit over constructed preference pairs
    * (Rafailov et al. 2023, "Direct Preference Optimization") — the
    * RLHF-data-prep diagnostic: per (lang × length-bucket) the
    * highest- and lowest-scoring docs under the unigram-LM heuristic
    * label form a (chosen, rejected) pair, and the pair is scored by
    * the DPO implicit reward with the BIGRAM LM as policy π and the
    * UNIGRAM LM as reference: margin = [lnπ(y_c) − lnref(y_c)] −
    * [lnπ(y_r) − lnref(y_r)], loss = ln(1 + e^(−β·margin)) at β=0.1.
    * Accuracy (margin > 0 rate) answers "does the reference-free
    * reward agree with the heuristic label?" — the sanity gate before
    * training a reward model on pseudo-labels. Length buckets keep
    * paired docs comparable, since DPO margins are sums of SEQUENCE
    * logprobs, not per-token averages.
    *
    * Parity: both LM scores are the established e6-micro-nat sums
    * ([[unigramLogprob]]/[[bigramLogprob]] constructions inline);
    * pair selection orders by the exact integer per-token score
    * `slp_u div n_tok` with doc_id tiebreaks; the margin is exact
    * integer; loss leaves float for one exp+ln per PAIR and
    * re-quantizes to e6 (the DSIR pattern).
    *
    * Scale shape: one token explode and one bigram explode feed the
    * two count tables (unhinted — the 8 GB-cliff rationale at
    * [[unigramLogprob]]); the per-doc score frame is corpus-sized but
    * narrow (5 longs); pair selection is two WindowGroupLimit top-1s
    * per (lang, bucket) — never a global sort; everything after is
    * pair-count-sized.
    */
  private val DpoBucket = 32L
  private val DpoBetaDen = 10L // β = 1/10

  def dpoPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ws", split(col("text"), " "))
    val toks = docs.select(col("doc_id"), explode(col("ws")).as("term"))
    val tot = toks.agg(count(lit(1)).as("n_tot"))
    val freqs = toks.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val uni = toks.join(freqs, Seq("term")) // vocab-sized: unhinted
      .crossJoin(broadcast(tot))
      .withColumn("lp_e6",
        round(log(col("tf").cast("double") / col("n_tot")) * lit(1000000.0),
          0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("lp_e6")).as("slp_u"))
    val big = docs.filter(col("text").contains(" "))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ws) - 1),
          |          i -> struct(element_at(ws, i) AS w1,
          |                      element_at(ws, i + 1) AS w2))""".stripMargin))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = big.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = docs.select(explode(col("ws")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val bi = big.join(c2, Seq("w1", "w2")).join(c1, Seq("w1")) // unhinted
      .crossJoin(broadcast(v))
      .withColumn("lp_e6",
        round(log((col("c2") + 1).cast("double") / (col("c1") + col("v")))
          * lit(1000000.0), 0).cast("long"))
      .groupBy(col("doc_id")).agg(sum(col("lp_e6")).as("slp_b"))
    val scored = uni.join(bi, Seq("doc_id"))
      .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      .withColumn("bucket", expr(s"n_tok div $DpoBucket"))
      .withColumn("sel", expr("slp_u div n_tok"))
    val wBest = Window.partitionBy(col("lang"), col("bucket"))
      .orderBy(col("sel").desc, col("doc_id"))
    val wWorst = Window.partitionBy(col("lang"), col("bucket"))
      .orderBy(col("sel").asc, col("doc_id"))
    val best = scored.withColumn("r", row_number().over(wBest))
      .filter(col("r") === 1)
      .select(col("lang"), col("bucket"), col("doc_id").as("c_id"),
        (col("slp_b") - col("slp_u")).as("rw_c"))
    val worst = scored.withColumn("r", row_number().over(wWorst))
      .filter(col("r") === 1)
      .select(col("lang"), col("bucket"), col("doc_id").as("r_id"),
        (col("slp_b") - col("slp_u")).as("rw_r"))
    best.join(worst, Seq("lang", "bucket"))
      .filter(col("c_id") =!= col("r_id"))
      .withColumn("margin_e6", col("rw_c") - col("rw_r"))
      .withColumn("loss_e6",
        round(log(lit(1.0) + exp(-(col("margin_e6") /
          lit(1000000.0 * DpoBetaDen)))) * lit(1000000.0), 0).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("margin_e6") > 0, 1L).otherwise(0L)).as("n_correct"),
        sum(col("margin_e6")).as("sum_margin_e6"),
        sum(col("loss_e6")).as("sum_loss_e6"))
      .select(col("lang"), col("n_pairs"), col("n_correct"),
        expr("n_correct * 1000000 div n_pairs").as("acc_e6"),
        expr("sum_margin_e6 div n_pairs").as("mean_margin_e6"),
        expr("sum_loss_e6 div n_pairs").as("mean_loss_e6"))
      .orderBy(col("lang"))
  }

  private val dpoPairsOracle =
    s"""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
       |           FROM documents),
       |toks AS (SELECT doc_id, unnest(ws) AS term FROM d),
       |tot AS (SELECT COUNT(*) AS n_tot FROM toks),
       |freqs AS (SELECT term, COUNT(*) AS tf FROM toks GROUP BY term),
       |uni AS (
       |  SELECT doc_id, COUNT(*) AS n_tok,
       |         CAST(SUM(CAST(ROUND(ln(CAST(tf AS DOUBLE) / n_tot)
       |                  * 1000000.0) AS BIGINT)) AS BIGINT) AS slp_u
       |  FROM toks JOIN freqs USING (term) CROSS JOIN tot
       |  GROUP BY doc_id),
       |big AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
       |        FROM d, UNNEST(range(1, len(ws))) AS t(i)),
       |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY w1, w2),
       |c1 AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1),
       |v AS (SELECT COUNT(DISTINCT w) AS v
       |      FROM (SELECT unnest(ws) AS w FROM d)),
       |bi AS (
       |  SELECT doc_id,
       |         CAST(SUM(CAST(ROUND(ln((c2 + 1.0) / (c1 + v)) * 1000000.0)
       |                  AS BIGINT)) AS BIGINT) AS slp_b
       |  FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
       |  GROUP BY doc_id),
       |scored AS (
       |  SELECT d.doc_id, d.lang, uni.n_tok, uni.slp_u, bi.slp_b,
       |         uni.n_tok // $DpoBucket AS bucket,
       |         uni.slp_u // uni.n_tok AS sel
       |  FROM d JOIN uni USING (doc_id) JOIN bi USING (doc_id)),
       |best AS (SELECT lang, bucket, doc_id AS c_id,
       |                slp_b - slp_u AS rw_c
       |         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, bucket
       |                 ORDER BY sel DESC, doc_id) AS r FROM scored)
       |         WHERE r = 1),
       |worst AS (SELECT lang, bucket, doc_id AS r_id,
       |                 slp_b - slp_u AS rw_r
       |          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, bucket
       |                  ORDER BY sel ASC, doc_id) AS r FROM scored)
       |          WHERE r = 1),
       |pairs AS (
       |  SELECT b.lang, b.rw_c - w.rw_r AS margin_e6,
       |         CAST(ROUND(ln(1.0 + exp(-((b.rw_c - w.rw_r)
       |           / ${1000000.0 * DpoBetaDen}))) * 1000000.0) AS BIGINT)
       |           AS loss_e6
       |  FROM best b JOIN worst w USING (lang, bucket)
       |  WHERE b.c_id <> w.r_id)
       |SELECT lang, COUNT(*) AS n_pairs,
       |       CAST(SUM(CASE WHEN margin_e6 > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_correct,
       |       CAST(SUM(CASE WHEN margin_e6 > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |         * 1000000 // COUNT(*) AS acc_e6,
       |       CAST(SUM(margin_e6) AS BIGINT) // COUNT(*) AS mean_margin_e6,
       |       CAST(SUM(loss_e6) AS BIGINT) // COUNT(*) AS mean_loss_e6
       |FROM pairs GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------- GRPO advantages
  /** Group-relative advantage normalization (the GRPO/RLVR data-prep
    * step: within each prompt's sample GROUP, reward r becomes
    * (r − μ_g)/σ_g, so groups with different reward scales contribute
    * comparable gradients and a constant-reward group contributes
    * none). Fixture groups are the [[dpoPairs]] (lang, length-bucket)
    * cells standing in for prompts, their docs for sampled
    * completions, and the unigram-LM per-token logprob lattice
    * (`slp_u div n_tok`, dpoPairs' `sel`) for the reward.
    *
    * Parity: per-group n, Σr, Σr² are exact longs, and the advantage
    * is the algebraic form (n·r − Σr)/√(n·Σr² − (Σr)²) — integers
    * inside, then ONE sqrt, ONE division, ONE e6 round, identical
    * IEEE ops on identical inputs in both engines. Degenerate groups
    * (n < 2 or zero variance) are excluded — GRPO itself skips them
    * (σ = 0 means no learning signal). Per-group Σadv_e6 ships as the
    * normalization witness (must hover near 0; a wrong μ shifts it
    * group-size-fold).
    *
    * Scale shape: reward scoring is the unigramLogprob vocab
    * equi-join; group stats and the argmax are (lang, bucket)-keyed
    * aggregates — the window partitions by group, never global. */
  def grpoAdvantage(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " "))
      .as("term"))
    val tot = toks.agg(count(lit(1)).as("n_tot"))
    val freqs = toks.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val uni = toks.join(freqs, Seq("term")) // vocab-sized: unhinted
      .crossJoin(broadcast(tot))
      .withColumn("lp_e6",
        round(log(col("tf").cast("double") / col("n_tot")) * lit(1000000.0),
          0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("lp_e6")).as("slp_u"))
    val scored = uni
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("bucket", expr(s"n_tok div $DpoBucket"))
      .withColumn("rw", expr("slp_u div n_tok"))
    val stats = scored.groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("rw")).as("s1"),
        sum(col("rw") * col("rw")).as("s2"))
      .filter(col("n") >= 2 && col("n") * col("s2") > col("s1") * col("s1"))
    val adv = scored.join(stats, Seq("lang", "bucket"))
      .withColumn("adv_e6",
        round((col("n") * col("rw") - col("s1")).cast("double") /
          sqrt((col("n") * col("s2") - col("s1") * col("s1")).cast("double"))
          * lit(1000000.0), 0).cast("long"))
    val w = Window.partitionBy(col("lang"), col("bucket"))
      .orderBy(col("adv_e6").desc, col("doc_id"))
    val best = adv.withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select(col("lang"), col("bucket"), col("doc_id").as("best_id"),
        col("adv_e6").as("best_adv_e6"))
    adv.groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_samples"),
        sum(col("adv_e6")).cast("long").as("sum_adv_e6"))
      .join(best, Seq("lang", "bucket"))
      .select(col("lang"), col("bucket"), col("n_samples"),
        col("sum_adv_e6"), col("best_id"), col("best_adv_e6"))
      .orderBy(col("lang"), col("bucket"))
  }

  private val grpoAdvantageOracle =
    s"""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
       |           FROM documents),
       |toks AS (SELECT doc_id, unnest(ws) AS term FROM d),
       |tot AS (SELECT COUNT(*) AS n_tot FROM toks),
       |freqs AS (SELECT term, COUNT(*) AS tf FROM toks GROUP BY term),
       |uni AS (
       |  SELECT doc_id, COUNT(*) AS n_tok,
       |         CAST(SUM(CAST(ROUND(ln(CAST(tf AS DOUBLE) / n_tot)
       |                  * 1000000.0) AS BIGINT)) AS BIGINT) AS slp_u
       |  FROM toks JOIN freqs USING (term) CROSS JOIN tot
       |  GROUP BY doc_id),
       |scored AS (
       |  SELECT d.doc_id, d.lang, uni.n_tok // $DpoBucket AS bucket,
       |         uni.slp_u // uni.n_tok AS rw
       |  FROM d JOIN uni USING (doc_id)),
       |stats AS (
       |  SELECT lang, bucket, COUNT(*) AS n,
       |         CAST(SUM(rw) AS BIGINT) AS s1,
       |         CAST(SUM(rw * rw) AS BIGINT) AS s2
       |  FROM scored GROUP BY lang, bucket
       |  HAVING COUNT(*) >= 2
       |     AND COUNT(*) * CAST(SUM(rw * rw) AS BIGINT)
       |         > CAST(SUM(rw) AS BIGINT) * CAST(SUM(rw) AS BIGINT)),
       |adv AS (
       |  SELECT s.lang, s.bucket, s.doc_id,
       |         CAST(ROUND(CAST(t.n * s.rw - t.s1 AS DOUBLE)
       |           / sqrt(CAST(t.n * t.s2 - t.s1 * t.s1 AS DOUBLE))
       |           * 1000000.0) AS BIGINT) AS adv_e6
       |  FROM scored s JOIN stats t USING (lang, bucket)),
       |best AS (
       |  SELECT lang, bucket, doc_id AS best_id, adv_e6 AS best_adv_e6
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, bucket
       |          ORDER BY adv_e6 DESC, doc_id) AS r FROM adv)
       |  WHERE r = 1)
       |SELECT a.lang, a.bucket, COUNT(*) AS n_samples,
       |       CAST(SUM(a.adv_e6) AS BIGINT) AS sum_adv_e6,
       |       b.best_id, b.best_adv_e6
       |FROM adv a JOIN best b USING (lang, bucket)
       |GROUP BY a.lang, a.bucket, b.best_id, b.best_adv_e6
       |ORDER BY a.lang, a.bucket""".stripMargin

  // ------------------------------------------------ term burstiness
  /** Term burstiness via the Fano factor (Church–Gale '95's
    * observation that content words are BURSTY — once a document uses
    * a term it reuses it — while function words spread evenly; the
    * dispersion diagnostic beside [[graft.ops.StatsOps]]'s Zipf/Heaps
    * curves): per term, F = Var/Mean of its PER-DOCUMENT count across
    * ALL docs (zeros included — that's what makes it dispersion), F≈1
    * = Poisson scatter, F≫1 = bursty. Zeros enter in closed form:
    * with occurrences on n docs of N total, Σc over the N-doc frame
    * equals the observed Σc and Σc² likewise, so the N-denominator
    * moments need no zero-row fan-out. Cancellation-free N²-scaled
    * variance (N·Q − S²)/N² over exact decimal(38) integers, Fano on
    * the e6 half-up lattice as (N·Q − S²)·1e6 / (N·S) exact-integer
    * divided. Top-20 bursty terms (support ≥ 20 docs) and the 5
    * least-bursty high-support terms ship together (negative rk).
    *
    * Scale shape: one (doc, term) count aggregate → one term rollup;
    * the corpus never re-scans, zeros never materialize. */
  def burstiness(spark: SparkSession, sfDir: String): DataFrame = {
    val N = Tables.documents(spark, sfDir).count() // A6 scalar inject
    val tc = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    val terms = tc.groupBy(col("w"))
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("CAST(c AS DECIMAL(38,0))")).as("s"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("q"))
      .filter(col("n_docs") >= 20)
      // F·1e6 = (N·Q − S²)·1e6 div (N·S), exact half-up integers
      .withColumn("fano_e6", expr(
        s"""CAST((2 * (CAST($N AS DECIMAL(38,0)) * q - s * s) * 1000000
           |      + CAST($N AS DECIMAL(38,0)) * s)
           |     div (2 * CAST($N AS DECIMAL(38,0)) * s) AS BIGINT)"""
          .stripMargin.replace("\n", " ")))
    val bursty = terms.withColumn("rk", row_number().over(
        Window.orderBy(col("fano_e6").desc, col("w"))))
      .filter(col("rk") <= 20)
    val even = terms.withColumn("neg", row_number().over(
        Window.orderBy(col("fano_e6").asc, col("w"))))
      .filter(col("neg") <= 5)
      .withColumn("rk", -col("neg")).drop("neg")
    bursty.unionByName(even)
      .select(col("rk"), col("w"), col("n_docs"),
        col("s").cast("long").as("n_occ"), col("fano_e6"))
      .orderBy(col("rk"))
  }

  private val burstinessOracle =
    """WITH nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM documents),
      |tc AS (
      |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  GROUP BY 1, 2),
      |t AS (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         SUM(CAST(c AS HUGEINT)) AS s,
      |         SUM(CAST(c AS HUGEINT) * c) AS q
      |  FROM tc GROUP BY 1 HAVING COUNT(*) >= 20),
      |f AS (
      |  SELECT w, n_docs, s,
      |         CAST((2 * (n * q - s * s) * 1000000 + n * s)
      |              // (2 * n * s) AS BIGINT) AS fano_e6
      |  FROM t, nn),
      |b AS (SELECT *, ROW_NUMBER() OVER (ORDER BY fano_e6 DESC, w) AS rk
      |      FROM f),
      |e AS (SELECT *, -ROW_NUMBER() OVER (ORDER BY fano_e6 ASC, w) AS rk
      |      FROM f)
      |SELECT CAST(rk AS INTEGER) AS rk, w, n_docs,
      |       CAST(s AS BIGINT) AS n_occ, fano_e6
      |FROM (SELECT * FROM b WHERE rk <= 20
      |      UNION ALL SELECT * FROM e WHERE rk >= -5)
      |ORDER BY rk""".stripMargin

  // -------------------------------------------- UMass topic coherence
  /** UMass topic coherence (Mimno et al. EMNLP'11) per source — the
    * intrinsic "are these words actually about one thing" score every
    * topic-model and cluster-labeling pipeline gates on, here applied
    * to each source's top-10 document-frequency words as its
    * pseudo-topic (the corpus-science question: does a source have a
    * coherent vocabulary or a grab bag). C = Σ_{j>i} ln((D(wᵢ,wⱼ)+1)
    * / D(wᵢ)) over the frequency-ordered top list, with D = within-
    * source DOCUMENT frequencies (the UMass convention — corpus-
    * internal, no external reference needed) and the +1 smoothing
    * keeping never-co-occurring pairs finite. ALL 45 ordered pairs
    * enter — absent co-occurrence rows are restored by a left join
    * from the generated pair grid, because the zero-pair penalty IS
    * the signal. Each ln is e6-quantized and integer-summed (the
    * micro-nat convention).
    *
    * Scale shape: one (doc, word) distinct + a per-source top-k rank
    * window (WindowGroupLimit) + joins that only ever touch the
    * (sources × 10)-bounded top-word frame and its ≤45-pair grid; the
    * co-doc count joins through the distinct incidence list keyed by
    * doc, fanning ≤10² per doc. */
  def topicCoherence(spark: SparkSession, sfDir: String): DataFrame = {
    val dw = Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      .distinct()
    val df = dw.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("d"))
    val top = df.withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("d").desc, col("w"))))
      .filter(col("rk") <= 10)
    // ordered pair grid: i = the more frequent (lower rank) word
    val grid = top.as("a")
      .join(top.select(col("source"), col("w").as("wj"),
        col("rk").as("rkj")).as("b"), Seq("source"))
      .filter(col("rk") < col("rkj"))
      .select(col("source"), col("w").as("wi"), col("rk").as("rki"),
        col("wj"), col("rkj"), col("d").as("di"))
    // co-document counts restricted to top words of the same source
    val hits = dw.join(top.select(col("source"), col("w"), col("rk")),
      Seq("source", "w"))
    val codoc = hits.as("x")
      .join(hits.select(col("source"), col("doc_id"),
        col("w").as("wj"), col("rk").as("rkj")).as("y"),
        Seq("source", "doc_id"))
      .filter(col("rk") < col("rkj"))
      .groupBy(col("source"), col("w").as("wi"), col("wj"))
      .agg(count(lit(1)).as("dij"))
    grid.join(codoc, Seq("source", "wi", "wj"), "left_outer")
      .na.fill(0L, Seq("dij"))
      .withColumn("term_e6", expr(
        "CAST(round(ln(CAST(dij + 1 AS DOUBLE) / di) * 1000000.0) " +
          "AS BIGINT)"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("dij") > 0L, 1L).otherwise(0L)).as("n_cooc_pairs"),
        sum(col("term_e6")).as("coherence_e6"))
      .orderBy(col("source"))
  }

  private val topicCoherenceOracle =
    """WITH dw AS (
      |  SELECT DISTINCT source, doc_id, w
      |  FROM (SELECT source, doc_id, unnest(string_split(text, ' ')) AS w
      |        FROM documents)),
      |df AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS d
      |       FROM dw GROUP BY 1, 2),
      |top AS (
      |  SELECT * FROM (
      |    SELECT source, w, d,
      |           ROW_NUMBER() OVER (PARTITION BY source
      |                              ORDER BY d DESC, w) AS rk
      |    FROM df) WHERE rk <= 10),
      |grid AS (
      |  SELECT a.source, a.w AS wi, a.rk AS rki, b.w AS wj, b.rk AS rkj,
      |         a.d AS di
      |  FROM top a JOIN top b ON a.source = b.source AND a.rk < b.rk),
      |hits AS (
      |  SELECT dw.source, dw.doc_id, dw.w, top.rk
      |  FROM dw JOIN top ON dw.source = top.source AND dw.w = top.w),
      |codoc AS (
      |  SELECT x.source, x.w AS wi, y.w AS wj, CAST(COUNT(*) AS BIGINT)
      |           AS dij
      |  FROM hits x JOIN hits y
      |    ON x.source = y.source AND x.doc_id = y.doc_id AND x.rk < y.rk
      |  GROUP BY 1, 2, 3)
      |SELECT g.source, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |       CAST(SUM(CASE WHEN COALESCE(dij, 0) > 0 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_cooc_pairs,
      |       CAST(SUM(CAST(round(ln(CAST(COALESCE(dij, 0) + 1 AS DOUBLE)
      |                              / di) * 1000000.0) AS BIGINT))
      |            AS BIGINT) AS coherence_e6
      |FROM grid g LEFT JOIN codoc c
      |  ON g.source = c.source AND g.wi = c.wi AND g.wj = c.wj
      |GROUP BY g.source ORDER BY g.source""".stripMargin

  // ---------------------------------------------------- PMI collocations
  /** PMI collocation mining — the classic phrase-discovery statistic:
    * pointwise mutual information ln(p(w1,w2) / (p(w1)·p(w2))) of each
    * adjacent pair against independence, with a minimum-support floor
    * (rare pairs have wildly inflated PMI — the standard guard). The
    * top collocations are the multi-word expressions a tokenizer or
    * phrase-embedding stage should treat as units.
    *
    * Scale shape: the bigram and token streams are the established
    * map-side explodes; all three count tables are single
    * partial-aggregated shuffles; the scalar totals ride a broadcast
    * crossJoin (A6). PMI quantizes to e6 micro-nats from exact counts
    * (ratio of correctly-rounded divisions), and top-k is
    * deterministic under (pmi DESC, pair).
    */
  private val PmiMinSupport = 20L

  def pmiCollocations(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ws", split(col("text"), " "))
    val toks = docs.select(explode(col("ws")).as("w"))
    val big = docs.filter(col("text").contains(" "))
      .select(explode(expr(
        """transform(sequence(1, size(ws) - 1),
          |          i -> struct(element_at(ws, i) AS w1,
          |                      element_at(ws, i + 1) AS w2))""".stripMargin))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = toks.groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val totals = big.agg(count(lit(1)).as("n2"))
      .crossJoin(toks.agg(count(lit(1)).as("n1")))
    // c1 is vocab-sized — unhinted (AQE broadcasts at fixture scale,
    // shuffle-joins on the term key at corpus scale); only the one-row
    // totals scalar keeps its hint.
    c2.filter(col("c2") >= PmiMinSupport)
      .join(c1.select(col("w").as("w1"), col("c1").as("ca")), Seq("w1"))
      .join(c1.select(col("w").as("w2"), col("c1").as("cb")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .withColumn("pmi_e6",
        round(log((col("c2").cast("double") / col("n2")) /
          ((col("ca").cast("double") / col("n1")) *
            (col("cb").cast("double") / col("n1")))) * lit(1000000.0), 0)
          .cast("long"))
      .select(col("w1"), col("w2"), col("c2"),
        round(col("pmi_e6").cast("double") / 1000000.0, 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(20)
  }

  private val pmiCollocationsOracle =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |toks AS (SELECT unnest(ws) AS w FROM d),
       |big AS (SELECT ws[i] AS w1, ws[i+1] AS w2
       |        FROM d, UNNEST(range(1, len(ws))) AS t(i)),
       |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY w1, w2),
       |c1 AS (SELECT w, COUNT(*) AS c1 FROM toks GROUP BY w),
       |tot AS (SELECT (SELECT COUNT(*) FROM big) AS n2,
       |               (SELECT COUNT(*) FROM toks) AS n1),
       |s AS (
       |  SELECT w1, w2, c2,
       |         CAST(ROUND(ln((CAST(c2 AS DOUBLE) / n2) /
       |                       ((CAST(a.c1 AS DOUBLE) / n1) *
       |                        (CAST(b.c1 AS DOUBLE) / n1))) * 1000000.0)
       |              AS BIGINT) AS pmi_e6
       |  FROM c2 JOIN c1 a ON c2.w1 = a.w JOIN c1 b ON c2.w2 = b.w
       |       CROSS JOIN tot
       |  WHERE c2 >= $PmiMinSupport)
       |SELECT w1, w2, c2,
       |       ROUND(CAST(pmi_e6 AS DOUBLE) / 1000000.0, 6) AS pmi
       |FROM s ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin

  // ---------------------------------------------------- lang entropy
  /** Shannon entropy of the language mix per source — the diversity
    * metric a corpus curator tracks per provider (entropy 0 =
    * monolingual feed; ln(5) ≈ 1.609 = uniform over the 5 corpus
    * languages). One narrow (source, lang) count; each −p·ln(p) term
    * quantizes to e6 from exact count ratios, so the per-source sum is
    * exact integer arithmetic (order-free). */
  def langEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
    Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("tot", sum(col("n")).over(w))
      .withColumn("term_e6",
        round(col("n").cast("double") / col("tot") *
          log(col("n").cast("double") / col("tot")) * lit(-1000000.0), 0)
          .cast("long"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        round(sum(col("term_e6")).cast("double") / 1000000.0, 6).as("entropy"))
      .orderBy(col("source"))
  }

  private val langEntropyOracle =
    """WITH c AS (SELECT source, lang, COUNT(*) AS n FROM documents
      |           GROUP BY source, lang),
      |t AS (SELECT *, CAST(SUM(n) OVER (PARTITION BY source) AS BIGINT) AS tot
      |      FROM c),
      |s AS (SELECT source, n,
      |             CAST(ROUND(CAST(n AS DOUBLE) / tot *
      |                        ln(CAST(n AS DOUBLE) / tot) * -1000000.0)
      |                  AS BIGINT) AS term_e6
      |      FROM t)
      |SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
      |       COUNT(*) AS n_langs,
      |       ROUND(CAST(SUM(term_e6) AS DOUBLE) / 1000000.0, 6) AS entropy
      |FROM s GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------- vocab encode
  /** Vocabulary build + document encoding — the tokenizer-APPLY step
    * of a training pipeline: rank the corpus vocabulary by frequency,
    * keep the top [[VocabSize]] as ids 0..k-1, and re-express every
    * document as its id sequence (out-of-vocabulary → -1). Output is
    * the per-doc encoding ledger: token/OOV counts, the first-10-ids
    * prefix (exact positional order), and the id checksum.
    *
    * Scale shape: the vocab build is one partial-aggregated token
    * count reduced by a TakeOrdered top-k (orderBy+limit — per-
    * partition top-k then a k-row driver merge, the same shape as
    * every LIMIT query here), NOT a global rank window: at web-scale
    * n-gram vocabularies the distinct-token frame is corpus-sized,
    * and a single-partition sort over it would bottleneck one
    * executor (round-8 verdict item 7). The id-assigning row_number
    * window runs AFTER the limit, over ≤ [[VocabSize]] rows — bounded
    * by construction. The dictionary applies as a broadcast map-side
    * join, and the per-doc re-assembly is the only other corpus
    * shuffle (collect_list bounded by document length, grouped on
    * doc_id). Parity: ids are exact integers; the (count DESC, word)
    * rank order is total, so top-k then in-order id assignment is
    * deterministic in both engines.
    */
  private val VocabSize = 24

  def vocabEncode(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(spark, sfDir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("w"))
    val rankW = Window.orderBy(col("c").desc, col("w"))
    val vocab = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(VocabSize)
      .withColumn("id", row_number().over(rankW) - 1)
      .select(col("w"), col("id"))
    tok.join(broadcast(vocab), Seq("w"), "left")
      .withColumn("id", coalesce(col("id"), lit(-1)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("id") === -1, 1L).otherwise(0L)).as("n_oov"),
        concat_ws(",", transform(
          slice(sort_array(collect_list(struct(col("pos"), col("id")))), 1, 10),
          s => s.getField("id").cast("string"))).as("ids_prefix"),
        sum(col("id")).cast("long").as("ids_sum"))
      .orderBy(col("doc_id"))
  }

  private val vocabEncodeOracle =
    s"""WITH tok AS (
       |  SELECT doc_id, i AS pos, ws[i] AS w
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |       UNNEST(range(1, len(ws)+1)) AS t(i)),
       |vc AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
       |vocab AS (SELECT w, ROW_NUMBER() OVER (ORDER BY c DESC, w) - 1 AS id
       |          FROM vc QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, w) <= $VocabSize),
       |enc AS (SELECT t.doc_id, t.pos, COALESCE(v.id, -1) AS id
       |        FROM tok t LEFT JOIN vocab v USING (w))
       |SELECT doc_id, COUNT(*) AS n_tokens,
       |       CAST(SUM(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |       string_agg(CASE WHEN pos <= 10 THEN CAST(id AS VARCHAR) END,
       |                  ',' ORDER BY pos) AS ids_prefix,
       |       CAST(SUM(id) AS BIGINT) AS ids_sum
       |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ temperature sample
  /** Temperature-mix APPLY — the sampler that realizes
    * [[temperatureMix]]'s α = 0.5 weights instead of just reporting
    * them: each language's acceptance rate is its up/down-weighting
    * factor (temp_weight / token_share) normalized so the most
    * boosted language keeps everything, quantized to an e6 integer
    * threshold; a document survives when its Knuth-hash draw falls
    * under its language's threshold — deterministic, seedless,
    * engine-reproducible (the [[graft.ops.Parity.mixBucket]]
    * construction the split/shard writers already use). The ledger
    * reports per-language kept counts and token mass — the corpus the
    * next pretraining epoch actually reads.
    *
    * Scale shape: the rate table is the 5-row mix aggregate (windows
    * over it are free), broadcast onto a map-side hash filter; one
    * conditional aggregate ends the plan. No shuffle touches the
    * corpus beyond the final per-language rollup.
    */
  def temperatureSample(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rates = temperatureMix(spark, sfDir)
      .withColumn("boost", col("temp_weight") / col("token_share"))
      .withColumn("rate_e6",
        floor(col("boost") / max(col("boost")).over(wAll) * 1000000.0)
          .cast("long"))
      .select(col("lang"), col("rate_e6"))
    Tables.documents(spark, sfDir)
      .join(broadcast(rates), Seq("lang"))
      .withColumn("draw",
        Parity.mixBucket(col("doc_id"), 2246822519L, 1000000L))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("draw") < col("rate_e6"), 1L).otherwise(0L)).as("n_kept"),
        max(col("rate_e6")).as("rate_e6"),
        sum(when(col("draw") < col("rate_e6"),
          size(split(col("text"), " "))).otherwise(0)).cast("long")
          .as("tokens_kept"))
      .orderBy(col("lang"))
  }

  private lazy val temperatureSampleOracle =
    s"""WITH mix AS ($temperatureMixOracle),
       |r AS (
       |  SELECT lang, temp_weight / token_share AS boost FROM mix),
       |rates AS (
       |  SELECT lang,
       |         CAST(FLOOR(boost / MAX(boost) OVER () * 1000000.0) AS BIGINT)
       |           AS rate_e6
       |  FROM r),
       |d AS (
       |  SELECT d.lang, d.text, rate_e6,
       |         ${Parity.mixBucketSql("doc_id", 2246822519L, 1000000L)} AS draw
       |  FROM documents d JOIN rates USING (lang))
       |SELECT lang, COUNT(*) AS n_docs,
       |       CAST(SUM(CASE WHEN draw < rate_e6 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_kept,
       |       MAX(rate_e6) AS rate_e6,
       |       CAST(SUM(CASE WHEN draw < rate_e6
       |                     THEN len(string_split(text, ' ')) ELSE 0 END)
       |            AS BIGINT) AS tokens_kept
       |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------------------
  /** Tokenizer fertility per language — characters and whitespace words
    * per BPE-ish token (the [[tokenCount]] segmenter), the metric a
    * multilingual tokenizer evaluation reports per language: high
    * fertility = the vocabulary fragments that language's text into
    * more, shorter tokens (costing context budget). Exact integer sums
    * feed [[Parity.stableAvg]]-style half-up lattice divisions — no
    * float accumulation anywhere. The e6 lattice bounds the numerator
    * at 2·10⁶·Σchars < 2⁶³, i.e. Σchars per language ≲ 4.6e12 — past
    * that, drop the ratio lattice to e3 (or DECIMAL(38), the epochCap
    * route); the sums themselves stay exact longs far beyond it.
    *
    * Scale shape: one map-side regexp count per doc, one |langs|-row
    * aggregate. The regexp_extract_all is the costliest per-row op in
    * the family — at 100 TB this pass rides the same scan as the rest
    * of the per-doc scoring (one pass, many columns).
    */
  def tokenizerFertility(spark: SparkSession, sfDir: String): DataFrame = {
    val bpePattern = "( ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+)"
    def halfUpE6(num: Column, den: Column): Column =
      ((num * 2000000L + den - pmod(num * 2000000L + den, den * 2)) /
        (den * 2)) / lit(1000000.0)
    Tables.documents(spark, sfDir)
      .select(col("lang"), length(col("text")).cast("long").as("chars"),
        size(expr(s"regexp_extract_all(text, '$bpePattern', 0)")).cast("long")
          .as("n_bpe"),
        size(split(col("text"), " ")).cast("long").as("n_ws"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("chars")).as("chars"),
        sum(col("n_bpe")).as("bpe_tokens"),
        sum(col("n_ws")).as("ws_tokens"))
      .select(col("lang"), col("n_docs"), col("bpe_tokens"),
        halfUpE6(col("chars"), col("bpe_tokens")).as("chars_per_token"),
        halfUpE6(col("bpe_tokens"), col("ws_tokens")).as("fertility"))
      .orderBy(col("lang"))
  }

  private val tokenizerFertilityOracle =
    """WITH d AS (
      |  SELECT lang, CAST(length(text) AS BIGINT) AS chars,
      |         CAST(len(regexp_extract_all(text, '( ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+)'))
      |              AS BIGINT) AS n_bpe,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws
      |  FROM documents),
      |agg AS (SELECT lang, COUNT(*) AS n_docs,
      |               CAST(SUM(chars) AS BIGINT) AS chars,
      |               CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
      |               CAST(SUM(n_ws) AS BIGINT) AS ws_tokens
      |        FROM d GROUP BY lang)
      |SELECT lang, n_docs, bpe_tokens,
      |       CAST((chars * 2000000 + bpe_tokens) // (bpe_tokens * 2) AS DOUBLE)
      |         / 1000000.0 AS chars_per_token,
      |       CAST((bpe_tokens * 2000000 + ws_tokens) // (ws_tokens * 2) AS DOUBLE)
      |         / 1000000.0 AS fertility
      |FROM agg ORDER BY lang""".stripMargin

  // ------------------------------------------------------------------
  /** Distinctive vocabulary per source — TF-IDF over sources as the
    * "documents": per (source, term) frequency weighted by
    * ln(S / source-df), top-3 terms per source. The source-profiling
    * report a curation run reads to see WHAT each crawl slice
    * contributes (near-universal terms get idf ≈ 0 and drop out).
    *
    * Parity: idf is quantized once per term to e6 micro-nats and
    * multiplied by the exact integer tf — score_e6 is an exact long,
    * so ranking and the hash are exact; only the display column
    * divides back to a double. Scale shape: one token-stream groupBy
    * to (source, term), a vocab-sized df aggregate joined back
    * unhinted (AQE broadcasts at small SF, shuffle-joins at scale),
    * and a per-source top-k window over vocab-sized partitions.
    */
  def tfidfTerms(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = Tables.documents(spark, sfDir)
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val nSrc = tf.agg(countDistinct(col("source")).as("n_src"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nSrc))
      .withColumn("idf_e6",
        round(log(col("n_src").cast("double") / col("df")) * lit(1000000.0), 0)
          .cast("long"))
      .select(col("term"), col("df"), col("idf_e6"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score_e6").desc, col("term"))
    // dfT is vocab-sized — unhinted; AQE picks broadcast at small SF,
    // a shuffle equi-join on the term key at 100 TB (a forced hint
    // would exceed the 8 GB broadcast limit and hard-fail).
    tf.join(dfT, Seq("term"))
      .withColumn("score_e6", col("tf") * col("idf_e6"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("source"), col("rank"), col("term"), col("tf"), col("df"),
        round(col("score_e6").cast("double") / 1000000.0, 6).as("tfidf"))
      .orderBy(col("source"), col("rank"))
  }

  private val tfidfTermsOracle =
    """WITH tf AS (
      |  SELECT source, term, COUNT(*) AS tf
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS term
      |        FROM documents)
      |  GROUP BY source, term),
      |s AS (SELECT COUNT(DISTINCT source) AS n_src FROM tf),
      |dfx AS (
      |  SELECT term, COUNT(*) AS df,
      |         CAST(ROUND(ln(CAST(n_src AS DOUBLE) / COUNT(*)) * 1000000.0)
      |              AS BIGINT) AS idf_e6
      |  FROM tf CROSS JOIN s GROUP BY term, n_src),
      |ranked AS (
      |  SELECT source, term, tf, df, tf * idf_e6 AS score_e6,
      |         ROW_NUMBER() OVER (PARTITION BY source
      |                            ORDER BY tf * idf_e6 DESC, term) AS rank
      |  FROM tf JOIN dfx USING (term))
      |SELECT source, CAST(rank AS INTEGER) AS rank, term, tf, df,
      |       ROUND(CAST(score_e6 AS DOUBLE) / 1000000.0, 6) AS tfidf
      |FROM ranked WHERE rank <= 3
      |ORDER BY source, rank""".stripMargin

  // ------------------------------------------------------------------
  /** Zipf-law fit — the corpus-health diagnostic: regress ln(freq) on
    * ln(rank) over the frequency-ranked vocabulary; natural text sits
    * near slope −1, and a corpus whose slope drifts (boilerplate
    * flooding, truncation) fails the eyeball test this number
    * automates. The regression is the [[AnalyticsOps.qualityCorr]]
    * sufficient-statistics discipline: both logs are quantized to e6
    * micro-nats per VOCAB ROW, the five sums are exact integer
    * aggregates over the (tiny) vocab, and slope/intercept/r² evaluate
    * once in token-identical expressions with DECIMAL/HUGEINT
    * cross-products. One token-count pass + a vocab-sized window.
    */
  def zipfSlope(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.orderBy(col("cnt").desc, col("term"))
    val ranked = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(
        round(log(col("rank").cast("double")) * lit(1000000.0), 0)
          .cast("long").as("x"),
        round(log(col("cnt").cast("double")) * lit(1000000.0), 0)
          .cast("long").as("y"))
    def d(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    ranked.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
      .select(col("n"),
        round((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy")))
          .cast("double") /
          (d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx")))
            .cast("double"), 6).as("zipf_slope"))
  }

  private val zipfSlopeOracle =
    """WITH cnts AS (
      |  SELECT term, COUNT(*) AS cnt
      |  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      |  GROUP BY term),
      |ranked AS (
      |  SELECT CAST(ROUND(ln(CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term)
      |                             AS DOUBLE)) * 1000000.0) AS BIGINT) AS x,
      |         CAST(ROUND(ln(CAST(cnt AS DOUBLE)) * 1000000.0) AS BIGINT) AS y
      |  FROM cnts),
      |m AS (SELECT COUNT(*) AS n,
      |             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |             SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |             SUM(CAST(x AS HUGEINT) * y) AS sxy
      |      FROM ranked)
      |SELECT n,
      |       ROUND(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
      |                  AS DOUBLE) /
      |             CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
      |                  AS DOUBLE), 6) AS zipf_slope
      |FROM m""".stripMargin

  // ------------------------------------------------------ n-gram novelty
  /** Per-source n-gram NOVELTY — the corpus-freshness audit run before
    * admitting a new crawl batch: what fraction of a source's distinct
    * word 8-grams has never been seen in any lexically-earlier source
    * (sources stand in for arrival batches; the reference corpus is
    * "everything before you"). Low novelty = the batch mostly re-crawls
    * what the corpus already holds — the batch-level complement of the
    * document-level dedup family.
    *
    * Scale shape: ONE corpus-sized shuffle, no gram-keyed join. The
    * exploded (src_rank, gram) stream aggregates straight to
    * per-gram source SETS — `collect_set(src_rank)` is bounded by
    * the 20-row source dimension and partial-aggregates map-side, so
    * a boilerplate gram repeated 10⁸ times collapses to one ≤20-int
    * set before the exchange (the span-dedup skew lesson applied at
    * birth) and the separate distinct pass the first cut ran is
    * subsumed. Each gram's set then yields its owner
    * (`array_min` = first-seen rank) and one (rank, is_first) row
    * per member — a dimension-bounded explode — rolled up per rank
    * and joined to the broadcast 20-row dimension for the name. The
    * set holds numeric RANKS, not source strings: varlen buffers in
    * an aggregate plan as SortAggregate (the round-4/5 trap, pinned
    * in PlanSpec). The earlier shape (distinct, then min-per-gram,
    * then a JOIN BACK ON THE GRAM STRING, then re-aggregate) paid
    * three corpus-sized exchanges carrying ~50-char gram keys; this
    * one pays one. At sf0.1 the two measure within noise (1.52 vs
    * 1.56 s isolated mins — the explode's gram-string construction
    * dominates at this scale); the exchange-count difference is the
    * 100 TB argument, where shuffle bytes, not map CPU, set the
    * wall. Gram strings ride that single shuffle; at 100 TB swap
    * them for their 60-bit md5 prefix (the [[graft.ops.DedupOps]]
    * idiom) and the plan shape is unchanged.
    */
  def ngramNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val srcDim = docs.select(col("source")).distinct()
      .withColumn("src_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("source"))))
    val perGram = docs
      .join(broadcast(srcDim), Seq("source"))
      .withColumn("w", split(col("text"), " "))
      .select(col("src_rank"), explode(
        when(size(col("w")) >= 8,
          expr("transform(sequence(0, size(w) - 8), i -> array_join(slice(w, i + 1, 8), ' '))"))
          .otherwise(array().cast("array<string>"))).as("gram"))
      .groupBy(col("gram"))
      .agg(collect_set(col("src_rank")).as("ranks"))
    perGram
      .select(explode(col("ranks")).as("src_rank"),
        (array_min(col("ranks")) === col("src_rank")).as("is_first"))
      .groupBy(col("src_rank"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("is_first"), 1L).otherwise(0L)).as("n_novel"))
      .join(broadcast(srcDim), Seq("src_rank"))
      .select(col("source"), col("n_grams"), col("n_novel"),
        expr("n_novel * 1000000 DIV n_grams").as("novelty_e6"))
      .orderBy(col("source"))
  }

  private val ngramNoveltyOracle =
    """WITH sg AS (
      |  SELECT DISTINCT source, gram FROM (
      |    SELECT source, unnest(list_transform(
      |             range(0, greatest(len(w) - 7, 0)),
      |             i -> array_to_string(w[i+1:i+8], ' '))) AS gram
      |    FROM (SELECT source, string_split(text, ' ') AS w FROM documents))),
      |fs AS (SELECT gram, MIN(source) AS first_src FROM sg GROUP BY 1)
      |SELECT source, COUNT(*) AS n_grams,
      |       CAST(SUM(CASE WHEN first_src = source THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_novel,
      |       CAST(SUM(CASE WHEN first_src = source THEN 1 ELSE 0 END) AS BIGINT)
      |         * 1000000 // COUNT(*) AS novelty_e6
      |FROM sg JOIN fs USING (gram)
      |GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------- Kneser-Ney perplexity
  /** Interpolated Kneser-Ney bigram perplexity with CCNet-style
    * head/middle/tail buckets (Wenzek et al., "CCNet", LREC'20; Kneser
    * & Ney '95; Chen & Goodman '98) — the LM-quality screen real web
    * pipelines run, one smoothing class above [[bigramLogprob]]'s
    * add-1: absolute discounting D = 0.75 with continuation-count
    * backoff,
    * p(w₂|w₁) = (max(c(w₁w₂)−D, 0) + D·N₁₊(w₁·)·p_cont(w₂)) / c(w₁·),
    * p_cont(w₂) = N₁₊(·w₂) / N₁₊(··). Continuation counts rank words
    * by how many CONTEXTS they follow, not raw frequency — the
    * "San Francisco" effect add-1 cannot see. Per-doc perplexity
    * exp(−mean ln p) then splits into CCNet's three equal-mass
    * buckets (head = lowest perplexity = most fluent under the LM).
    *
    * Scale shape: the bigram stream is the established map-side
    * explode; all four count tables are single partial-aggregated
    * shuffles joined back UNHINTED (vocab-/bigram-type-sized — AQE
    * broadcasts at small SF, shuffle-joins at scale, no 8 GB
    * broadcast cliff); the pair-type total is an A6 broadcast scalar. The
    * tercile split here is an exact global ntile over (ppl, doc_id) —
    * doc-count-sized, oracle-parity mode; the 100 TB path,
    * approx_percentile cutpoints + map-side bucketing, is
    * [[knPerplexityApprox]], oracle-checked via the equal-mass
    * invariant. Parity: counts exact; each ln quantizes to e6
    * micro-nats pre-sum; perplexity quantizes to e6 before bucketing,
    * so both engines ntile the same integer sequence.
    */
  private val KnD = 0.75

  /** Per-doc interpolated-KN perplexity (doc_id, lang, ppl_e6) —
    * shared by the exact-tercile flagship and the approx-cutpoint
    * scale twin. */
  private def knPerDoc(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ws", split(col("text"), " "))
    val big = docs.filter(col("text").contains(" "))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ws) - 1),
          |          i -> struct(element_at(ws, i) AS w1,
          |                      element_at(ws, i + 1) AS w2))""".stripMargin))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = big.groupBy(col("w1"))
      .agg(count(lit(1)).as("c1"), countDistinct(col("w2")).as("nf"))
    val nb = big.groupBy(col("w2")).agg(countDistinct(col("w1")).as("nb"))
    val nall = c2.agg(count(lit(1)).as("nall"))
    // c2/c1/nb are corpus-vocabulary-sized (the bigram-type table is
    // billions of rows at 100 TB) — NO broadcast() hints: a forced
    // hint overrides every size check and dies at Spark's 8 GB
    // broadcast hard limit. Unhinted, AQE's runtime stats broadcast
    // them at small SF (PlanSpec-pinned) and fall back to shuffle
    // equi-joins on the uniform token keys at scale. Only the one-row
    // nall scalar keeps its hint (A6 pattern).
    val perDoc = big
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .join(nb, Seq("w2"))
      .crossJoin(broadcast(nall))
      .withColumn("lp_e6",
        round(log((greatest(col("c2") - KnD, lit(0.0)) +
          lit(KnD) * col("nf") * (col("nb").cast("double") / col("nall"))) /
          col("c1")) * lit(1000000.0), 0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nbi"), sum(col("lp_e6")).as("slp"))
      .withColumn("ppl_e6",
        round(exp(-col("slp").cast("double") / col("nbi") / lit(1000000.0))
          * lit(1000000.0), 0).cast("long"))
    perDoc.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("ppl_e6"))
  }

  /** CCNet tercile cutpoints from the mergeable GK sketch — the 100 TB
    * bucketing path: a one-row aggregate broadcast back, then a
    * map-side comparison, replacing the doc-count-sized global ntile. */
  private def knApproxBuckets(perDoc: DataFrame): DataFrame = {
    val cuts = perDoc.agg(expr(
      "approx_percentile(ppl_e6, array(0.3333333333333333, " +
        "0.6666666666666667), 10000)").as("cs"))
    perDoc.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("ppl_e6") <= col("cs").getItem(0), 1L)
          .when(col("ppl_e6") <= col("cs").getItem(1), 2L)
          .otherwise(3L))
  }

  def knPerplexity(spark: SparkSession, sfDir: String): DataFrame = {
    knPerDoc(spark, sfDir)
      .withColumn("bucket",
        ntile(3).over(Window.orderBy(col("ppl_e6"), col("doc_id")))
          .cast("long"))
      .groupBy(col("bucket"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(min(col("ppl_e6")).cast("double") / 1000000.0, 6).as("min_ppl"),
        round(max(col("ppl_e6")).cast("double") / 1000000.0, 6).as("max_ppl"),
        round(sum(col("ppl_e6")).cast("double") / count(lit(1)) / 1000000.0, 6)
          .as("avg_ppl"))
      .orderBy(col("bucket"), col("lang"))
  }

  private val knPerplexityOracle =
    """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
      |           FROM documents),
      |big AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
      |        FROM d, UNNEST(range(1, len(ws))) AS t(i)),
      |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY w1, w2),
      |c1 AS (SELECT w1, COUNT(*) AS c1, COUNT(DISTINCT w2) AS nf
      |       FROM big GROUP BY w1),
      |nb AS (SELECT w2, COUNT(DISTINCT w1) AS nb FROM big GROUP BY w2),
      |nall AS (SELECT COUNT(*) AS nall FROM c2),
      |sc AS (SELECT doc_id,
      |         CAST(ROUND(ln((GREATEST(c2 - 0.75, 0) +
      |                        0.75 * nf * (CAST(nb AS DOUBLE) / nall)) / c1)
      |                    * 1000000.0) AS BIGINT) AS lp_e6
      |       FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
      |                JOIN nb USING (w2) CROSS JOIN nall),
      |doc AS (SELECT doc_id, COUNT(*) AS nbi, SUM(lp_e6) AS slp
      |        FROM sc GROUP BY doc_id),
      |ppl AS (SELECT doc_id,
      |          CAST(ROUND(exp(-CAST(slp AS DOUBLE) / nbi / 1000000.0)
      |                     * 1000000.0) AS BIGINT) AS ppl_e6
      |        FROM doc),
      |bk AS (SELECT p.doc_id, d2.lang, p.ppl_e6,
      |         ntile(3) OVER (ORDER BY p.ppl_e6, p.doc_id) AS bucket
      |       FROM ppl p JOIN documents d2 ON p.doc_id = d2.doc_id)
      |SELECT bucket, lang, COUNT(*) AS n_docs,
      |       ROUND(CAST(MIN(ppl_e6) AS DOUBLE) / 1000000.0, 6) AS min_ppl,
      |       ROUND(CAST(MAX(ppl_e6) AS DOUBLE) / 1000000.0, 6) AS max_ppl,
      |       ROUND(CAST(SUM(ppl_e6) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
      |         AS avg_ppl
      |FROM bk GROUP BY bucket, lang ORDER BY bucket, lang""".stripMargin

  /** The 100 TB mode of [[knPerplexity]] exercised for real (the
    * [[graft.ops.CatalogOps.equidepthHistApprox]] pattern): tercile
    * cutpoints from the mergeable GK `approx_percentile` sketch
    * (accuracy 10000 → rank error ≤ 0.01%), map-side bucketing, and an
    * oracle on the property that DEFINES the CCNet split rather than
    * on sketch internals — each of the 3 buckets holds n/3 docs within
    * a tolerance dominated by cutpoint discretization (buckets split
    * at an actual data value, so deviation = tie mass + rank error;
    * measured max ppl-tie is 1–2 docs against a 5% bound → ≥10×
    * headroom), and the bucket counts partition the scored docs
    * exactly. A broken sketch, bucketing ladder, or merge flips the
    * boolean; the exact doc total keeps the row hashable.
    *
    * Ties assumption (the equidepth doctrine): the 5% depth bound
    * presumes no single ppl_e6 value carries ≳5% of docs — e6
    * quantization of per-doc perplexities keeps values near-distinct
    * here; on a corpus of mass-duplicated texts, dedup FIRST (which a
    * real pipeline does anyway) or re-derive the tolerance from max
    * per-value frequency.
    */
  def knPerplexityApprox(spark: SparkSession, sfDir: String): DataFrame = {
    val perDoc = knPerDoc(spark, sfDir)
    knApproxBuckets(perDoc)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .agg(sum(col("n")).as("n_docs_total"),
        count(lit(1)).cast("int").as("n_buckets"),
        max(col("n")).as("n_max"), min(col("n")).as("n_min"))
      .select(col("n_docs_total"), col("n_buckets"),
        (greatest(col("n_max") - col("n_docs_total") / 3.0,
          col("n_docs_total") / 3.0 - col("n_min")) <=
          col("n_docs_total") * 0.05).as("depth_within_5pct"))
  }

  private val knPerplexityApproxOracle =
    """SELECT COUNT(*) AS n_docs_total, 3 AS n_buckets,
      |       TRUE AS depth_within_5pct
      |FROM documents WHERE contains(text, ' ')""".stripMargin

  // ------------------------------------------- unigram-LM tokenizer
  /** Unigram-LM (SentencePiece) training bounds: words above [[UniMaxL]]
    * chars are excluded from training (none exist in the fixture; at
    * corpus scale the exclusion is the standard rare-long-word cutoff),
    * candidate pieces run 1..[[UniPLen]] chars, [[UniK]] multi-char
    * seeds enter round 1 and [[UniKeep]] survive the prune. */
  private val UniMaxL = 8
  private val UniPLen = 4
  private val UniK = 48
  private val UniKeep = 16

  /** Unigram-LM tokenizer training (Kudo ACL'18 — the SentencePiece
    * algorithm; the subword-regularization paper's hard-EM/Viterbi
    * variant), closing the tokenizer-trainer pair begun by [[bpeTrain]]:
    * where BPE grows a vocabulary bottom-up by greedy merges, unigram-LM
    * starts from an overcomplete candidate set and SHRINKS it — seed
    * scores ∝ count·len (the suffix-array seeding), Viterbi-segment
    * every distinct word under the current piece scores, re-estimate
    * scores from usage (M-step), prune the worst pieces, re-segment.
    * Single-character pieces are never pruned, so every word stays
    * segmentable — the algorithm's own closure guarantee.
    *
    * The Viterbi E-step is the charter's sanctioned typed-DP case (the
    * [[StatsOps.dtw]] precedent — sequential in both dimensions, O(L)
    * state): per WORD, a `flatMapGroups` fold runs the forward DP
    * (b(0)=0, b(j) = max b(i) + s(piece i→j)) and the backward argmax
    * walk with a deterministic tiebreak (longest piece, then
    * lexicographic) over that word's ≤ L·[[UniPLen]] edges. The oracle
    * replays the SAME recursion relationally — [[UniMaxL]] unrolled
    * relax rounds + [[UniMaxL]] walk rounds as CTEs — so the typed fold
    * is cross-checked by a set-based second implementation, query for
    * query. Scores live on the e6 micro-nat integer lattice: DP maxima
    * are exact integer comparisons, no float ever enters the recursion
    * (eigensolver discipline — iterated float drift compounds).
    *
    * Scale shape: ONE corpus-sized pass (word counting); everything
    * after is vocab-sized — the distinct-word table is the DP's data
    * (words are the parallel unit, one shuffle per E-step), the
    * piece/score tables are model-sized broadcasts, and the final
    * vocab-sized result is collected to a LocalRelation so every
    * checkpoint frees before return (the [[bpeApply]] lifecycle).
    */
  /** The trainer's derived state, shared by [[unigramLm]] (model
    * report) and [[unigramApply]] (corpus segmentation): seed vocab,
    * round-1 usage, pruned vocab, and the round-2 FLAT segmentation
    * (one row per piece instance per distinct word). */
  private final case class UniFit(wf: DataFrame, vocab0: DataFrame,
    cnt1: DataFrame, v1: DataFrame, segB: DataFrame)

  private def unigramFit(spark: SparkSession, sfDir: String,
      ck: DataFrame => DataFrame): UniFit = {
    import spark.implicits._
    val wf = ck(Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .filter(length(col("w")) <= UniMaxL))
    val sub = ck(wf
      .select(col("w"), col("freq"),
        explode(sequence(lit(1), lit(UniMaxL))).as("i"))
      .filter(col("i") <= length(col("w")))
      .select(col("w"), col("freq"), col("i"),
        explode(sequence(lit(1), lit(UniPLen))).as("l"))
      .filter(col("i") + col("l") - 1 <= length(col("w")))
      .withColumn("p", expr("substring(w, i, l)")))
    val cnt0 = sub.groupBy(col("p")).agg(sum(col("freq")).as("c"))
    val vocab0 = ck(cnt0.filter(length(col("p")) >= 2)
      .orderBy(col("c").desc, col("p")).limit(UniK)
      .unionByName(cnt0.filter(length(col("p")) === 1)))
    // seed scores ∝ count·len on the e6 micro-nat lattice
    val tot0 = vocab0.agg(sum(col("c") * length(col("p"))).as("t"))
    val sc0 = vocab0.crossJoin(broadcast(tot0))
      .select(col("p"), round(log((col("c") * length(col("p")))
        .cast("double") / col("t")) * 1000000.0, 0).cast("long").as("s"))

    /** Viterbi E-step: the FLAT (word, piece, freq) segmentation under
      * score table `sc` — the typed per-word DP fold (see scaladoc). */
    def viterbiSeg(sc: DataFrame): DataFrame = {
      // the score table is the trained MODEL — vocab-bounded by
      // construction, a legitimate broadcast at any corpus size
      val ed = sub.join(broadcast(sc), Seq("p"))
        .select(col("w"), col("freq"), (col("i") - 1).as("i0"),
          (col("i") + col("l") - 1).as("j"), col("p"), col("s"))
        .as[(String, Long, Int, Int, String, Long)]
      ed.groupByKey(_._1)
        .flatMapGroups { (w: String, it: Iterator[(String, Long, Int, Int, String, Long)]) =>
          val edges = it.toArray // ≤ L·UniPLen rows, O(L) state
          val freq = edges.head._2
          val L = w.length
          val best = Array.fill(L + 1)(Long.MinValue); best(0) = 0L
          for (j <- 1 to L; e <- edges if e._4 == j)
            if (best(e._3) != Long.MinValue &&
              best(e._3) + e._6 > best(j)) best(j) = best(e._3) + e._6
          val out = scala.collection.mutable.Buffer[(String, String, Long)]()
          var cur = L
          while (cur > 0) {
            // argmax edge into `cur`: longest piece, then lexicographic
            var pick: (String, Int) = null
            for (e <- edges if e._4 == cur &&
              best(e._3) != Long.MinValue &&
              best(e._3) + e._6 == best(cur)) {
              val len = e._4 - e._3
              if (pick == null || len > cur - pick._2 ||
                (len == cur - pick._2 && e._5 < pick._1))
                pick = (e._5, e._3)
            }
            out += ((w, pick._1, freq)); cur = pick._2
          }
          out
        }
        .toDF("w", "p", "freq")
    }

    val cnt1 = ck(viterbiSeg(sc0)
      .groupBy(col("p")).agg(sum(col("freq")).as("cu")))
    val v1all = vocab0.join(cnt1, Seq("p"), "left")
      .select(col("p"), coalesce(col("cu"), lit(0L)).as("c1"))
    // prune: worst multi-char pieces leave; single chars never do
    val v1 = ck(v1all.filter(length(col("p")) >= 2)
      .orderBy(col("c1").desc, col("p")).limit(UniKeep)
      .unionByName(v1all.filter(length(col("p")) === 1)))
    val tot1 = v1.agg(sum(col("c1")).as("t"), count(lit(1)).as("nv"))
    val sc1 = v1.crossJoin(broadcast(tot1))
      .select(col("p"), round(log((col("c1") + 1.0) /
        (col("t") + col("nv"))) * 1000000.0, 0).cast("long").as("s"))
    val segB = ck(viterbiSeg(sc1))
    UniFit(wf, vocab0, cnt1, v1, segB)
  }

  def unigramLm(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val live = scala.collection.mutable.Buffer[DataFrame]()
    def ck(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(true); live += c; c
    }
    try {
      val fit = unigramFit(spark, sfDir, ck)
      val cnt2 = fit.segB.groupBy(col("p")).agg(sum(col("freq")).as("cu"))
      val v2 = fit.vocab0
        .join(fit.cnt1.select(col("p"), col("cu").as("c1")), Seq("p"), "left")
        .join(fit.v1.select(col("p"), lit(0L).as("kept")), Seq("p"), "left")
        .join(cnt2.select(col("p"), col("cu").as("c2")), Seq("p"), "left")
        .select(col("p"), col("c").as("c_init"),
          coalesce(col("c1"), lit(0L)).as("used_r1"),
          when(col("kept").isNull, 1L).otherwise(0L).as("pruned"),
          coalesce(col("c2"), lit(0L)).as("used_r2"))
      val tot2 = v2.agg(sum(col("used_r2")).as("t"), count(lit(1)).as("nv"))
      val out = v2.crossJoin(broadcast(tot2))
        .select(col("p").as("piece"), col("c_init"), col("used_r1"),
          col("pruned"), col("used_r2"),
          round(log((col("used_r2") + 1.0) / (col("t") + col("nv")))
            * 1000000.0, 0).cast("long").as("score_e6"))
        .orderBy(col("used_r1").desc, col("piece"))
      // eager vocab-sized collect → LocalRelation (the bpeApply shape),
      // so every checkpoint frees before the frame is returned
      out.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
        .toDF("piece", "c_init", "used_r1", "pruned", "used_r2", "score_e6")
        .orderBy(col("used_r1").desc, col("piece"))
    } finally live.foreach(graft.ops.GraphOps.freeCheckpoint)
  }

  /** Corpus segmentation under the trained unigram model — the APPLY
    * half closing [[unigramLm]]'s loop exactly as [[bpeApply]] closes
    * [[bpeTrain]]'s, and in the SAME output shape, so the two trained
    * tokenizers' per-language subword fertility is directly comparable
    * row for row (the comparison a tokenizer bake-off actually reads).
    * The round-2 Viterbi segmentation already covers every distinct
    * word, so apply is one per-word piece-count rollup joined back to
    * the corpus token stream — no third E-step. Words above
    * [[UniMaxL]] chars are outside the trained model and drop from the
    * fertility census (none exist in the fixture; the standard
    * rare-long-word cutoff at corpus scale).
    *
    * Scale shape: [[unigramFit]]'s one corpus pass + vocab-sized
    * training, then ONE unhinted vocab-sized join onto the token
    * stream and a lang-sized rollup, collected eagerly so the trainer
    * checkpoints free before return (the [[bpeApply]] lifecycle).
    */
  def unigramApply(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val live = scala.collection.mutable.Buffer[DataFrame]()
    def ck(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(true); live += c; c
    }
    try {
      val fit = unigramFit(spark, sfDir, ck)
      val nsub = fit.segB.groupBy(col("w"))
        .agg(count(lit(1)).cast("long").as("n_sub"))
      val rows = Tables.documents(spark, sfDir)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .join(nsub, Seq("w"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      rows.toDF("lang", "n_words", "n_subwords")
        .select(col("lang"), col("n_words"), col("n_subwords"),
          round(col("n_subwords").cast("double") / col("n_words"), 6)
            .as("fertility"))
        .orderBy(col("lang"))
    } finally live.foreach(graft.ops.GraphOps.freeCheckpoint)
  }

  /** One forward-DP relaxation round as CTE text. */
  private def uniFwdSql(tag: String, r: Int): String =
    s"""b$tag$r AS MATERIALIZED (
       |  SELECT w, j, MAX(b) AS b FROM (
       |    SELECT w, j, b FROM b$tag${r - 1}
       |    UNION ALL
       |    SELECT e.w, e.j, p.b + e.s AS b
       |    FROM ed$tag e JOIN b$tag${r - 1} p ON p.w = e.w AND p.j = e.i0
       |  ) GROUP BY w, j)""".stripMargin

  /** One backward-walk round (argmax-path recovery) as CTE text. */
  private def uniBwdSql(tag: String, r: Int): String =
    s"""pk$tag$r AS (
       |  SELECT f.w, f.freq, f.cur, e.p, e.i0,
       |         ROW_NUMBER() OVER (PARTITION BY f.w, f.cur
       |                            ORDER BY (e.j - e.i0) DESC, e.p) AS rn
       |  FROM f$tag${r - 1} f
       |  JOIN ed$tag e ON e.w = f.w AND e.j = f.cur
       |  JOIN b$tag$UniMaxL bi ON bi.w = f.w AND bi.j = e.i0
       |  JOIN b$tag$UniMaxL bc ON bc.w = f.w AND bc.j = f.cur
       |  WHERE f.cur > 0 AND bi.b + e.s = bc.b),
       |em$tag$r AS MATERIALIZED (SELECT w, freq, p, i0 FROM pk$tag$r WHERE rn = 1),
       |f$tag$r AS (SELECT w, freq, i0 AS cur FROM em$tag$r WHERE i0 > 0)"""
      .stripMargin

  /** Full Viterbi (forward DP + backward walk) over edges `ed$tag`. */
  private def uniViterbiSql(tag: String): String = {
    val fwd = (s"b${tag}0 AS (SELECT w, 0 AS j, CAST(0 AS BIGINT) AS b FROM wf)"
      +: (1 to UniMaxL).map(uniFwdSql(tag, _))).mkString(",\n")
    val bwd = (s"f${tag}0 AS (SELECT w, freq, length(w) AS cur FROM wf)"
      +: (1 to UniMaxL).map(uniBwdSql(tag, _))).mkString(",\n")
    val emits = (1 to UniMaxL)
      .map(r => s"SELECT w, freq, p FROM em$tag$r").mkString(" UNION ALL ")
    s"$fwd,\n$bwd,\nseg$tag AS ($emits)"
  }

  /** Oracle WITH-body from the corpus through the round-2 flat
    * segmentation `segB` — shared by the trainer and apply oracles
    * (the [[unigramFit]] factoring, SQL side). */
  private lazy val uniChainSql =
    s"""wf AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) <= $UniMaxL GROUP BY w),
       |sub AS MATERIALIZED (SELECT w, freq, i, l, substr(w, i, l) AS p
       |        FROM wf, UNNEST(range(1, ${UniMaxL + 1})) t1(i),
       |             UNNEST(range(1, ${UniPLen + 1})) t2(l)
       |        WHERE i + l - 1 <= length(w)),
       |cnt0 AS MATERIALIZED (SELECT p, CAST(SUM(freq) AS BIGINT) AS c
       |                      FROM sub GROUP BY p),
       |vocab0 AS MATERIALIZED (
       |  SELECT p, c FROM (SELECT p, c FROM cnt0 WHERE length(p) >= 2
       |                    QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, p)
       |                            <= $UniK)
       |  UNION ALL SELECT p, c FROM cnt0 WHERE length(p) = 1),
       |tot0 AS (SELECT CAST(SUM(c * length(p)) AS BIGINT) AS t FROM vocab0),
       |sc0 AS (SELECT p, CAST(ROUND(ln(CAST(c * length(p) AS DOUBLE) / t)
       |                        * 1000000.0) AS BIGINT) AS s
       |        FROM vocab0 CROSS JOIN tot0),
       |edA AS MATERIALIZED (
       |  SELECT s.w, s.freq, s.i - 1 AS i0, s.i + s.l - 1 AS j, s.p, sc.s
       |  FROM sub s JOIN sc0 sc ON sc.p = s.p),
       |${uniViterbiSql("A")},
       |cnt1 AS MATERIALIZED (SELECT p, CAST(SUM(freq) AS BIGINT) AS c1
       |                      FROM segA GROUP BY p),
       |v1all AS (SELECT v.p, COALESCE(cnt1.c1, 0) AS c1
       |          FROM vocab0 v LEFT JOIN cnt1 USING (p)),
       |v1 AS MATERIALIZED (
       |  SELECT p, c1 FROM (SELECT p, c1 FROM v1all WHERE length(p) >= 2
       |                     QUALIFY ROW_NUMBER() OVER (ORDER BY c1 DESC, p)
       |                             <= $UniKeep)
       |  UNION ALL SELECT p, c1 FROM v1all WHERE length(p) = 1),
       |tot1 AS (SELECT CAST(SUM(c1) AS BIGINT) AS t,
       |                CAST(COUNT(*) AS BIGINT) AS nv FROM v1),
       |sc1 AS (SELECT p, CAST(ROUND(ln((c1 + 1.0) / (t + nv)) * 1000000.0)
       |                       AS BIGINT) AS s
       |        FROM v1 CROSS JOIN tot1),
       |edB AS MATERIALIZED (
       |  SELECT s.w, s.freq, s.i - 1 AS i0, s.i + s.l - 1 AS j, s.p, sc.s
       |  FROM sub s JOIN sc1 sc ON sc.p = s.p),
       |${uniViterbiSql("B")}""".stripMargin

  private lazy val unigramLmOracle =
    s"""WITH $uniChainSql,
       |cnt2 AS MATERIALIZED (SELECT p, CAST(SUM(freq) AS BIGINT) AS c2
       |                      FROM segB GROUP BY p),
       |v2 AS (SELECT v.p, v.c AS c_init, COALESCE(cnt1.c1, 0) AS used_r1,
       |              CASE WHEN s.p IS NULL THEN 1 ELSE 0 END AS pruned,
       |              COALESCE(cnt2.c2, 0) AS used_r2
       |       FROM vocab0 v LEFT JOIN cnt1 USING (p)
       |            LEFT JOIN (SELECT p FROM v1) s ON s.p = v.p
       |            LEFT JOIN cnt2 USING (p)),
       |tot2 AS (SELECT CAST(SUM(used_r2) AS BIGINT) AS t,
       |                CAST(COUNT(*) AS BIGINT) AS nv FROM v2)
       |SELECT p AS piece, c_init, used_r1, CAST(pruned AS BIGINT) AS pruned,
       |       used_r2,
       |       CAST(ROUND(ln((used_r2 + 1.0) / (t + nv)) * 1000000.0)
       |            AS BIGINT) AS score_e6
       |FROM v2 CROSS JOIN tot2
       |ORDER BY used_r1 DESC, piece""".stripMargin

  private lazy val unigramApplyOracle =
    s"""WITH $uniChainSql,
       |nsub AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_sub
       |         FROM segB GROUP BY w),
       |tok AS (SELECT lang, unnest(string_split(text, ' ')) AS w
       |        FROM documents)
       |SELECT lang, COUNT(*) AS n_words,
       |       CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
       |       ROUND(CAST(SUM(n_sub) AS DOUBLE) / COUNT(*), 6) AS fertility
       |FROM tok JOIN nsub USING (w)
       |GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------- TextRank
  /** TextRank keyword extraction (Mihalcea–Tarau '04) over the corpus
    * word co-occurrence graph — the unsupervised keyword ranker that
    * needs no training data, here composed from the same primitives
    * as [[pmiCollocations]] (adjacent-pair edges) and the PageRank
    * iteration discipline: adjacent content words (length ≥ 4, the
    * paper's syntactic-filter stand-in) form an undirected weighted
    * graph; 4 rounds of the weighted rank recurrence PR(v) = 0.15 +
    * 0.85·Σ_u w_uv/W_u·PR(u) run entirely on the e9 integer lattice —
    * each edge contribution is the truncating division (w·PR) div W_u
    * and the damping is (17·S) div 20, so both engines take
    * bit-identical trajectories (the logreg trainer's discipline
    * applied to a graph recurrence). Top-20 keywords ship with degree
    * and edge-weight mass for audit.
    *
    * Scale shape: one adjacent-pair aggregate (vocab²-bounded, heavy
    * tail trimmed by the length filter), then T joins shuffling on
    * the same word key with per-round localCheckpoint — bucket the
    * edge frame once and every round reuses the partitioning. */
  def textrank(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ws", split(col("text"), " "))
    val pairs = docs.filter(size(col("ws")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(ws) - 1),
          |          i -> struct(element_at(ws, i) AS w1,
          |                      element_at(ws, i + 1) AS w2))""".stripMargin))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(length(col("w1")) >= 4 && length(col("w2")) >= 4 &&
        col("w1") =!= col("w2"))
    val und = pairs
      .groupBy(least(col("w1"), col("w2")).as("u"),
        greatest(col("w1"), col("w2")).as("v"))
      .agg(count(lit(1)).as("wt"))
    val edges = und.select(col("u").as("src"), col("v").as("dst"),
        col("wt"))
      .unionByName(und.select(col("v").as("src"), col("u").as("dst"),
        col("wt")))
      .cache()
    val wout = edges.groupBy(col("src"))
      .agg(sum(col("wt")).as("wtot"),
        count(lit(1)).as("degree"))
    // the rank rounds re-read the weighted edge frame 4x — cache the
    // wtot-enriched frame ONCE (recomputing the join per round
    // measured 8 s; the per-round eager checkpoint added 4 blocking
    // jobs on a vocab-sized frame)
    val e2 = edges.join(wout.select(col("src"), col("wtot")), Seq("src"))
      .cache()
    var pr = edges.select(col("src").as("wd")).distinct()
      .withColumn("pr", lit(1000000000L))
    val rounds = Seq.newBuilder[DataFrame]
    for (_ <- 1 to 4) {
      pr = e2.join(pr.withColumnRenamed("wd", "src"), Seq("src"))
        .withColumn("contrib", expr("(wt * pr) div wtot"))
        .groupBy(col("dst").as("wd")).agg(sum(col("contrib")).as("s"))
        .select(col("wd"),
          (lit(150000000L) + expr("(17 * s) div 20")).as("pr"))
        .cache()
      rounds += pr
    }
    val out = pr
      .join(wout.select(col("src").as("wd"), col("wtot"), col("degree")),
        Seq("wd"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("pr").desc, col("wd"))))
      .filter(col("rk") <= 20)
      .select(col("rk"), col("wd").as("word"), col("pr").as("pr_e9"),
        col("degree"), col("wtot").as("w_total"))
      .orderBy(col("rk"))
      .localCheckpoint(eager = true)
    rounds.result().foreach(_.unpersist())
    e2.unpersist()
    edges.unpersist()
    out
  }

  private val textrankOracle = {
    val iter = (t: Int) =>
      s"""pr$t AS (
         |  SELECT e.dst AS wd,
         |    CAST(150000000 + (17 * SUM((e.wt * pr) // wtot)) // 20
         |         AS BIGINT) AS pr
         |  FROM e JOIN wo ON wo.src = e.src
         |       JOIN pr${t - 1} ON pr${t - 1}.wd = e.src
         |  GROUP BY e.dst)""".stripMargin
    s"""WITH d AS (SELECT string_split(text, ' ') AS ws FROM documents),
       |big AS (SELECT ws[i] AS w1, ws[i+1] AS w2
       |        FROM d, UNNEST(range(1, len(ws))) AS t(i)),
       |fp AS (SELECT w1, w2 FROM big
       |       WHERE length(w1) >= 4 AND length(w2) >= 4 AND w1 <> w2),
       |und AS (SELECT least(w1, w2) AS u, greatest(w1, w2) AS v,
       |               CAST(COUNT(*) AS BIGINT) AS wt
       |        FROM fp GROUP BY 1, 2),
       |e AS (SELECT u AS src, v AS dst, wt FROM und
       |      UNION ALL SELECT v, u, wt FROM und),
       |wo AS (SELECT src, CAST(SUM(wt) AS BIGINT) AS wtot,
       |              CAST(COUNT(*) AS BIGINT) AS degree
       |       FROM e GROUP BY 1),
       |pr0 AS (SELECT DISTINCT src AS wd,
       |               CAST(1000000000 AS BIGINT) AS pr FROM e),
       |${(1 to 4).map(iter).mkString(",\n")}
       |SELECT CAST(rk AS INTEGER) AS rk, wd AS word, pr AS pr_e9,
       |       degree, wtot AS w_total
       |FROM (SELECT pr4.wd, pr4.pr, wo.degree, wo.wtot,
       |        ROW_NUMBER() OVER (ORDER BY pr4.pr DESC, pr4.wd) AS rk
       |      FROM pr4 JOIN wo ON wo.src = pr4.wd)
       |WHERE rk <= 20 ORDER BY rk""".stripMargin
  }

  // ---------------------------------------------------------- PLSA
  /** PLSA topic model (Hofmann '99) trained by 2 rounds of hard-
    * lattice EM over the doc×vocab count matrix — the trained-model
    * complement of [[topicCoherence]] (which scores a GIVEN word
    * grid): K=3 topics, top-50 content-word vocabulary, keyed-PRF
    * initialization (phi₀ ∝ 1 + md5(w|z) mod 100, the randomWalk
    * reproducibility trick), and every E/M normalization is the
    * truncating e9 integer division — posteriors, theta, phi all
    * quantize ONCE per step, so Spark and DuckDB walk bit-identical
    * EM trajectories (the [[graft.ops.CurationOps]] logreg/Dawid-
    * Skene discipline applied to a latent-variable model). A zero
    * denominator (possible once truncation zeroes a rare word's whole
    * mixture row) falls back to the uniform posterior,
    * deterministically in both engines. Output: top-8 words per topic
    * with corpus counts and phi mass.
    *
    * Scale shape: the E-step frame is matrix×K rows (matrix is
    * doc×vocab-bounded, vocab is top-50); phi is vocab×K broadcast,
    * theta is doc-sized and equi-joins on doc_id; M-steps are two
    * hash aggregates + bounded windows (per-doc, per-topic). State
    * between rounds is localCheckpointed. At corpus scale the only
    * data-sized exchanges are the matrix build and the theta join —
    * both key-partitioned by doc_id, reusable across rounds. */
  def plsa(spark: SparkSession, sfDir: String): DataFrame =
    plsaModel(spark, sfDir)
      .withColumn("rk", row_number().over(Window.partitionBy(col("z"))
        .orderBy(col("phi_e9").desc, col("w"))))
      .filter(col("rk") <= 8)
      .select(col("z").as("topic"), col("rk"), col("w").as("word"),
        col("cw").as("n_w"), col("phi_e9"))
      .orderBy(col("topic"), col("rk"))

  /** The trained topic-word table (w, z, phi_e9, cw) as a standing
    * artifact — trained ONCE per session+SF (the nbModel/ivfIndex
    * lifecycle): [[plsa]] reports it, [[plsaInfer]] and the streaming
    * serving twin fold new documents against it without re-training
    * mid-stream. */
  private[graft] def plsaModel(
      spark: SparkSession, sfDir: String): DataFrame =
    graft.etl.Medallion.materializeOnce(spark,
        s"${graft.etl.Medallion.warehouse(sfDir)}/plsa_model") {
      plsaTrain(spark, sfDir)
    }

  private def plsaTrain(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 4)
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("cw"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cw").desc, col("w"))))
      .filter(col("rk") <= 50).select(col("w"), col("cw"))
    val mat = toks.join(broadcast(vocab.select(col("w"))), Seq("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("n"))
      .cache()
    val topics = spark.range(3).select(col("id").as("z"))
    var phi = vocab.select(col("w")).crossJoin(topics)
      .withColumn("h",
        expr(s"1 + ${Parity.md5KeyExpr("concat(w, '|', z)")} % 100"))
      .withColumn("sz", sum(col("h")).over(Window.partitionBy(col("z"))))
      .select(col("w"), col("z"),
        expr("(1000000000 * h) div sz").as("phi_e9"))
      .localCheckpoint(eager = true)
    var theta = mat.select(col("doc_id")).distinct().crossJoin(topics)
      .withColumn("theta_e9", lit(333333333L))
      .localCheckpoint(eager = true)
    for (_ <- 1 to 2) {
      val posts = mat.join(broadcast(phi), Seq("w"))
        .join(theta, Seq("doc_id", "z"))
        .withColumn("num", col("theta_e9") * col("phi_e9"))
        .withColumn("den", sum(col("num")).over(
          Window.partitionBy(col("doc_id"), col("w"))))
        .withColumn("post_e9", when(col("den") === 0L, lit(333333333L))
          .otherwise(expr(
            "CAST((CAST(1000000000 AS DECIMAL(38,0)) * num) div den" +
              " AS BIGINT)")))
        .withColumn("np", col("n") * col("post_e9"))
      theta = posts.groupBy(col("doc_id"), col("z"))
        .agg(sum(col("np")).as("tz"))
        .withColumn("td", sum(col("tz")).over(
          Window.partitionBy(col("doc_id"))))
        .select(col("doc_id"), col("z"), expr(
          "CAST((CAST(1000000000 AS DECIMAL(38,0)) * tz) div td" +
            " AS BIGINT)").as("theta_e9"))
        .localCheckpoint(eager = true)
      phi = posts.groupBy(col("w"), col("z"))
        .agg(sum(expr("CAST(np AS DECIMAL(38,0))")).as("pz"))
        .withColumn("pt", sum(col("pz")).over(
          Window.partitionBy(col("z"))))
        .select(col("w"), col("z"),
          expr("CAST((1000000000 * pz) div pt AS BIGINT)").as("phi_e9"))
        .localCheckpoint(eager = true)
    }
    val out = phi.join(broadcast(vocab), Seq("w"))
      .select(col("w"), col("z"), col("phi_e9"), col("cw"))
      .localCheckpoint(eager = true)
    mat.unpersist()
    out
  }

  /** Fold-in inference against the standing [[plsaModel]] (Hofmann's
    * §4 fold-in, one hard-lattice E/M round from the uniform doc
    * prior — the model's phi is FROZEN, so serving never touches the
    * trainer): per document, post(z|w) = (1e9·phi) div Σ_z phi, the
    * doc-topic weight is the n-weighted posterior sum normalized on
    * the same e9 lattice, and the document's topic is the argmax
    * (ties to the lower topic id). The census per (lang, topic) ships
    * doc counts and the exact integer mass so drift in the topic mix
    * per language is one GROUP BY away. Kernel shared verbatim with
    * the streaming twin. */
  private[graft] def plsaInferFrame(docs: DataFrame,
      spark: SparkSession, sfDir: String): DataFrame = {
    val model = plsaModel(spark, sfDir)
    // post(z|w): word-topic responsibility under the frozen model
    val postW = model
      .withColumn("sw", sum(col("phi_e9")).over(
        Window.partitionBy(col("w"))))
      .select(col("w"), col("z"), when(col("sw") === 0L, lit(333333333L))
        .otherwise(expr(
          "CAST((CAST(1000000000 AS DECIMAL(38,0)) * phi_e9) div sw" +
            " AS BIGINT)")).as("pw_e9"))
    val mat = docs
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 4)
      .groupBy(col("doc_id"), col("lang"), col("w"))
      .agg(count(lit(1)).as("n"))
    val dz = mat.join(broadcast(postW), Seq("w"))
      .groupBy(col("doc_id"), col("lang"), col("z"))
      .agg(sum(col("n") * col("pw_e9")).as("tz"))
      .withColumn("td", sum(col("tz")).over(
        Window.partitionBy(col("doc_id"))))
      .withColumn("theta_e9", when(col("td") === 0L, lit(333333333L))
        .otherwise(expr(
          "CAST((CAST(1000000000 AS DECIMAL(38,0)) * tz) div td" +
            " AS BIGINT)")))
    dz.groupBy(col("doc_id"), col("lang"))
      .agg(max(struct(col("theta_e9"), (-col("z")).as("nz"))).as("win"))
      .select(col("lang"), (-col("win.nz")).as("topic"),
        col("win.theta_e9").as("theta_e9"))
      .groupBy(col("lang"), col("topic"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("theta_e9")).as("sum_theta_e9"))
      .orderBy(col("lang"), col("topic"))
  }

  /** Batch inference census over the held-out slice (every 7th doc —
    * the eval-split convention the calibration/conformal family
    * uses). */
  def plsaInfer(spark: SparkSession, sfDir: String): DataFrame =
    plsaInferFrame(
      Tables.documents(spark, sfDir).filter(col("doc_id") % 7 === 0),
      spark, sfDir)

  private val plsaOraclePrefix = {
    val iter = (t: Int) =>
      s"""j$t AS (
         |  SELECT m.doc_id, m.w, p.z, m.n, t.theta * p.phi AS num
         |  FROM mat m JOIN phi${t - 1} p ON p.w = m.w
         |       JOIN theta${t - 1} t ON t.doc_id = m.doc_id
         |                           AND t.z = p.z),
         |po$t AS (
         |  SELECT *, CASE WHEN den = 0 THEN 333333333
         |    ELSE CAST((CAST(1000000000 AS HUGEINT) * num) // den
         |         AS BIGINT) END AS post
         |  FROM (SELECT *, SUM(num) OVER (PARTITION BY doc_id, w)
         |          AS den FROM j$t)),
         |theta$t AS (
         |  SELECT doc_id, z,
         |    CAST((CAST(1000000000 AS HUGEINT) * tz) // td AS BIGINT)
         |      AS theta
         |  FROM (SELECT doc_id, z, CAST(SUM(n * post) AS HUGEINT) AS tz,
         |          SUM(SUM(n * post)) OVER (PARTITION BY doc_id) AS td
         |        FROM po$t GROUP BY 1, 2)),
         |phi$t AS (
         |  SELECT w, z,
         |    CAST((CAST(1000000000 AS HUGEINT) * pz) // pt AS BIGINT)
         |      AS phi
         |  FROM (SELECT w, z, CAST(SUM(n * post) AS HUGEINT) AS pz,
         |          SUM(SUM(n * post)) OVER (PARTITION BY z) AS pt
         |        FROM po$t GROUP BY 1, 2))""".stripMargin
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |tf AS (SELECT doc_id, w FROM toks WHERE length(w) >= 4),
       |vocab AS (
       |  SELECT w, cw FROM (
       |    SELECT w, CAST(COUNT(*) AS BIGINT) AS cw,
       |           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS rk
       |    FROM tf GROUP BY w)
       |  WHERE rk <= 50),
       |mat AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS n
       |        FROM tf JOIN vocab USING (w) GROUP BY 1, 2),
       |zs AS (SELECT UNNEST(range(3)) AS z),
       |phi0 AS (
       |  SELECT w, z, (1000000000 * h) // sz AS phi
       |  FROM (SELECT w, z, h, SUM(h) OVER (PARTITION BY z) AS sz
       |        FROM (SELECT w, z,
       |                1 + ${Parity.md5KeySql("w || '|' || CAST(z AS VARCHAR)")}
       |                  % 100 AS h
       |              FROM vocab, zs))),
       |theta0 AS (SELECT DISTINCT doc_id, z,
       |                  CAST(333333333 AS BIGINT) AS theta
       |           FROM mat, zs),
       |${(1 to 2).map(iter).mkString(",\n")}""".stripMargin
  }

  private val plsaOracle =
    s"""WITH $plsaOraclePrefix
       |SELECT z AS topic, CAST(rk AS INTEGER) AS rk, w AS word, cw AS n_w,
       |       phi AS phi_e9
       |FROM (SELECT phi2.*, vocab.cw,
       |        ROW_NUMBER() OVER (PARTITION BY z
       |          ORDER BY phi DESC, w) AS rk
       |      FROM phi2 JOIN vocab USING (w))
       |WHERE rk <= 8 ORDER BY topic, rk""".stripMargin

  private val plsaInferOracle =
    s"""WITH $plsaOraclePrefix,
       |pw AS (
       |  SELECT w, z, CASE WHEN sw = 0 THEN 333333333
       |    ELSE CAST((CAST(1000000000 AS HUGEINT) * phi) // sw AS BIGINT)
       |    END AS pw_e9
       |  FROM (SELECT w, z, phi, SUM(phi) OVER (PARTITION BY w) AS sw
       |        FROM phi2)),
       |hmat AS (
       |  SELECT doc_id, lang, w, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
       |        FROM documents WHERE doc_id % 7 = 0)
       |  WHERE length(w) >= 4 GROUP BY 1, 2, 3),
       |dz AS (
       |  SELECT doc_id, lang, z, tz,
       |         SUM(tz) OVER (PARTITION BY doc_id) AS td
       |  FROM (SELECT doc_id, lang, z,
       |          CAST(SUM(n * pw_e9) AS HUGEINT) AS tz
       |        FROM hmat JOIN pw USING (w) GROUP BY 1, 2, 3)),
       |th AS (
       |  SELECT doc_id, lang, z, CASE WHEN td = 0 THEN 333333333
       |    ELSE CAST((CAST(1000000000 AS HUGEINT) * tz) // td AS BIGINT)
       |    END AS theta
       |  FROM dz),
       |win AS (
       |  SELECT doc_id, lang, z AS topic, theta FROM th
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
       |    ORDER BY theta DESC, z) = 1)
       |SELECT lang, topic, COUNT(*) AS n_docs,
       |       CAST(SUM(theta) AS BIGINT) AS sum_theta_e9
       |FROM win GROUP BY 1, 2 ORDER BY lang, topic""".stripMargin

  // ------------------------------------------------ KV prefix cache
  /** Shared-prefix depths the cache is audited at — powers of two up
    * to a context-scale horizon, the way radix caches report hit
    * depth. */
  private[graft] val PrefixCacheLevels = Seq(2, 4, 8, 16)

  /** KV prefix-cache sharing census (the radix-tree prefix reuse
    * behind SGLang's RadixAttention and vLLM's automatic prefix
    * caching): treating each document as an arriving PROMPT, how much
    * of the token stream is re-served from cache at each prefix
    * depth k? Prompts sharing their first k tokens hit the same
    * cache entry: per level, the census reports prompts long enough
    * to participate, distinct cache entries (the radix nodes at that
    * depth), cache hits (every prompt after the first in its group),
    * tokens served from cache (hits × k — the KV pages NOT recomputed
    * if the cache holds depth-k prefixes), and the hottest entry's
    * fan-out. The level table is what sizes a prefix cache: pick the
    * depth where tokens_saved stops growing.
    *
    * Scale shape: one map-side explode of 4 levels (cheap — prefix
    * strings, not full texts), ONE hash aggregation keyed (k, prefix)
    * with map-side partials, then a 4-row rollup. At 100 TB the
    * (k, prefix) key space is what a radix tree's node set would be —
    * hash-partitioned, never collected; skew on a viral prefix is
    * one hot key among millions (AQE splits it). */
  def prefixCache(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val levels = PrefixCacheLevels.toDF("k")
    Tables.documents(spark, sfDir)
      .select(split(col("text"), " ").as("w"))
      .crossJoin(broadcast(levels)) // 4-row bounded level grid
      .filter(size(col("w")) >= col("k"))
      .select(col("k"),
        array_join(expr("slice(w, 1, k)"), " ").as("prefix"))
      .groupBy(col("k"), col("prefix"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("k"))
      .agg(
        sum(col("cnt")).cast("long").as("n_prompts"),
        count(lit(1)).as("n_prefixes"),
        sum(col("cnt") - 1).cast("long").as("n_hits"),
        (sum(col("cnt") - 1) * col("k")).cast("long").as("tokens_saved"),
        max(col("cnt")).as("max_fanout"))
      .orderBy(col("k"))
  }

  // ------------------------------------------------ paged-KV blocks
  /** Block sizes the paged-KV audit runs at — vLLM's default 16 with
    * its neighbors, the knob a serving team actually sweeps. */
  private val KvBlockSizes = Seq(8, 16, 32)

  /** Paged-KV block fragmentation audit (the PagedAttention block
    * manager behind vLLM) — the memory half of the serve-side pair
    * whose sharing half is [[prefixCache]]: treating each document as
    * a resident sequence, every sequence allocates ceil(n_tok / b)
    * fixed-size KV blocks at block size b, and only its LAST block can
    * be partially filled — internal fragmentation is allocated-minus-
    * used tokens, the memory a block manager wastes to gain O(1)
    * allocation. Per block size the audit reports sequences, blocks
    * allocated, used/allocated/wasted tokens, the exact fragmentation
    * rate at e6, and the utilization histogram (per-sequence
    * used/allocated deciles, fully-utilized sequences folded into the
    * top bucket) — the table that picks the block size: small blocks
    * waste less memory but multiply block-table entries.
    *
    * Exactness: pure integer arithmetic on the exact lattice —
    * ceil-div via (n_tok + b - 1) div b, rate and deciles by
    * truncating division on nonnegative operands (engine-identical;
    * the `//` catalog trap only bites negatives).
    *
    * Scale shape: the [[prefixCache]] plan — one map-side cross join
    * against the broadcast 3-row size grid, ONE hash aggregation
    * keyed block_size with map-side partials (the histogram is ten
    * conditional counts, not a second grouping), 3-row output. No
    * sort, no window, no data-sized join. */
  def kvBlocks(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sizes = KvBlockSizes.toDF("block_size")
    val perSeq = Tables.documents(spark, sfDir)
      .select(size(split(col("text"), " ")).cast("long").as("n_tok"))
      .crossJoin(broadcast(sizes)) // 3-row bounded grid
      .withColumn("blocks",
        expr("(n_tok + block_size - 1) div block_size"))
      .withColumn("alloc", col("blocks") * col("block_size"))
      .withColumn("util_decile",
        least(expr("(n_tok * 10) div alloc"), lit(9L)))
    val histCols = (0 until 10).map(d =>
      sum(when(col("util_decile") === d, 1L).otherwise(0L)).as(s"h$d"))
    perSeq.groupBy(col("block_size"))
      .agg(count(lit(1)).as("n_seqs"),
        (Seq(
          sum(col("blocks")).cast("long").as("n_blocks"),
          sum(col("n_tok")).cast("long").as("used_tokens"),
          sum(col("alloc")).cast("long").as("alloc_tokens"),
          sum(col("alloc") - col("n_tok")).cast("long").as("frag_tokens"))
          ++ histCols): _*)
      .withColumn("frag_pct_e6",
        expr("(frag_tokens * 1000000) div alloc_tokens"))
      .select((Seq("block_size", "n_seqs", "n_blocks", "used_tokens",
        "alloc_tokens", "frag_tokens", "frag_pct_e6")
        ++ (0 until 10).map(d => s"h$d")).map(col): _*)
      .orderBy(col("block_size"))
  }

  // --------------------------------- sliding-window attention KV
  /** Window sizes the SWA census runs at — chosen to straddle the
    * corpus length distribution (p10≈21, p50≈56, max≈99 tokens) the
    * way Mistral's 4096 straddles real context lengths. */
  private val SwaWindows = Seq(16, 32, 64)

  /** Sliding-window-attention KV residency + FLOPs census (Mistral's
    * SWA, Child et al. strided-sparse attention) — the third leg of
    * the serve-side memory family: [[prefixCache]] measures sharing,
    * [[kvBlocks]] measures allocation granularity, and this measures
    * the WINDOW — with window W only the last min(L, W) keys stay
    * resident, everything older is evicted, and causal attention
    * computes Σ_i min(i, W) score pairs instead of L(L+1)/2. Per
    * window the census reports sequences, how many actually window
    * (L > W), resident vs evicted KV tokens, the exact causal pair
    * counts under full vs windowed attention, and the e6 pair-savings
    * rate — the table that trades model quality (longer window) for
    * serving memory and compute.
    *
    * Exactness: pure integer arithmetic on the exact lattice —
    * min/max and the closed forms L(L+1)/2 and
    * W(W+1)/2 + (L−W)·W (both even products, `div 2` exact), the e6
    * rate by truncating division on nonnegative operands.
    *
    * Scale shape: the [[kvBlocks]] plan — one map-side cross join
    * against the broadcast 3-row window grid, ONE hash aggregation
    * keyed on window with map-side partials, 3-row output. No sort,
    * no window function, no data-sized join. */
  def swaKv(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val windows = SwaWindows.toDF("win")
    Tables.documents(spark, sfDir)
      .select(size(split(col("text"), " ")).cast("long").as("n_tok"))
      .crossJoin(broadcast(windows)) // 3-row bounded grid
      .withColumn("resident", least(col("n_tok"), col("win")))
      .withColumn("evicted", greatest(col("n_tok") - col("win"), lit(0L)))
      .withColumn("pairs_full",
        expr("(n_tok * (n_tok + 1)) div 2"))
      .withColumn("pairs_swa",
        when(col("n_tok") <= col("win"), col("pairs_full"))
          .otherwise(expr("(win * (win + 1)) div 2 + (n_tok - win) * win")))
      .groupBy(col("win"))
      .agg(count(lit(1)).as("n_seqs"),
        sum(when(col("n_tok") > col("win"), 1L).otherwise(0L))
          .cast("long").as("n_windowed"),
        sum(col("resident")).cast("long").as("resident_tokens"),
        sum(col("evicted")).cast("long").as("evicted_tokens"),
        sum(col("pairs_full")).cast("long").as("pairs_full"),
        sum(col("pairs_swa")).cast("long").as("pairs_swa"))
      .withColumn("pairs_saved_pct_e6",
        expr("((pairs_full - pairs_swa) * 1000000) div pairs_full"))
      .orderBy(col("win"))
  }

  private val swaKvOracle =
    s"""WITH seqs AS (
       |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |grid AS (SELECT unnest([${SwaWindows.mkString(", ")}]) AS win),
       |per AS (
       |  SELECT win, n_tok,
       |         LEAST(n_tok, win) AS resident,
       |         GREATEST(n_tok - win, 0) AS evicted,
       |         (n_tok * (n_tok + 1)) // 2 AS pairs_full,
       |         CASE WHEN n_tok <= win THEN (n_tok * (n_tok + 1)) // 2
       |              ELSE (win * (win + 1)) // 2 + (n_tok - win) * win
       |         END AS pairs_swa
       |  FROM seqs CROSS JOIN grid)
       |SELECT CAST(win AS INTEGER) AS win,
       |       COUNT(*) AS n_seqs,
       |       CAST(SUM(CASE WHEN n_tok > win THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_windowed,
       |       CAST(SUM(resident) AS BIGINT) AS resident_tokens,
       |       CAST(SUM(evicted) AS BIGINT) AS evicted_tokens,
       |       CAST(SUM(pairs_full) AS BIGINT) AS pairs_full,
       |       CAST(SUM(pairs_swa) AS BIGINT) AS pairs_swa,
       |       (CAST(SUM(pairs_full) - SUM(pairs_swa) AS BIGINT) * 1000000)
       |         // CAST(SUM(pairs_full) AS BIGINT) AS pairs_saved_pct_e6
       |FROM per GROUP BY win ORDER BY win""".stripMargin

  private val kvBlocksOracle = {
    val hist = (0 until 10).map(d =>
      s"CAST(SUM(CASE WHEN util_decile = $d THEN 1 ELSE 0 END) AS BIGINT) AS h$d")
      .mkString(",\n       |       ")
    s"""WITH seqs AS (
       |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |grid AS (SELECT unnest([${KvBlockSizes.mkString(", ")}])
       |           AS block_size),
       |per AS (
       |  SELECT block_size, n_tok,
       |         (n_tok + block_size - 1) // block_size AS blocks,
       |         ((n_tok + block_size - 1) // block_size) * block_size
       |           AS alloc
       |  FROM seqs CROSS JOIN grid),
       |dec AS (SELECT *, LEAST((n_tok * 10) // alloc, 9) AS util_decile
       |        FROM per)
       |SELECT CAST(block_size AS INTEGER) AS block_size,
       |       COUNT(*) AS n_seqs,
       |       CAST(SUM(blocks) AS BIGINT) AS n_blocks,
       |       CAST(SUM(n_tok) AS BIGINT) AS used_tokens,
       |       CAST(SUM(alloc) AS BIGINT) AS alloc_tokens,
       |       CAST(SUM(alloc - n_tok) AS BIGINT) AS frag_tokens,
       |       (CAST(SUM(alloc - n_tok) AS BIGINT) * 1000000)
       |         // CAST(SUM(alloc) AS BIGINT) AS frag_pct_e6,
       |       $hist
       |FROM dec GROUP BY block_size ORDER BY block_size""".stripMargin
  }

  private val prefixCacheOracle =
    s"""WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
       |lv AS (SELECT unnest([${PrefixCacheLevels.mkString(", ")}]) AS k),
       |p AS (SELECT k, array_to_string(w[1:k], ' ') AS prefix
       |      FROM w, lv WHERE len(w) >= k),
       |g AS (SELECT k, prefix, COUNT(*) AS cnt FROM p GROUP BY 1, 2)
       |SELECT CAST(k AS INTEGER) AS k,
       |       CAST(SUM(cnt) AS BIGINT) AS n_prompts,
       |       COUNT(*) AS n_prefixes,
       |       CAST(SUM(cnt - 1) AS BIGINT) AS n_hits,
       |       CAST(SUM(cnt - 1) * k AS BIGINT) AS tokens_saved,
       |       CAST(MAX(cnt) AS BIGINT) AS max_fanout
       |FROM g GROUP BY k ORDER BY k""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_plsa" -> (plsa _),
    "q_plsa_infer" -> (plsaInfer _),
    "q_textrank" -> (textrank _),
    "q_unigram_lm" -> (unigramLm _),
    "q_topic_coherence" -> (topicCoherence _),
    "q_burstiness" -> (burstiness _),
    "q_unigram_apply" -> (unigramApply _),
    "q_kn_perplexity" -> (knPerplexity _),
    "q_kn_perplexity_approx" -> (knPerplexityApprox _),
    "q_bpe_train" -> (bpeTrain _),
    "q_bpe_apply" -> (bpeApply _),
    "q_wordpiece_apply" -> (wordpieceApply _),
    "q_dpo_pairs" -> (dpoPairs _),
    "q_doc_repetition" -> (docRepetition _),
    "q_ngram_novelty" -> (ngramNovelty _),
    "q_zipf_slope" -> (zipfSlope _),
    "q_tfidf_terms" -> (tfidfTerms _),
    "q_tokenizer_fertility" -> (tokenizerFertility _),
    "q_temperature_sample" -> (temperatureSample _),
    "q_pmi_collocations" -> (pmiCollocations _),
    "q_lang_entropy" -> (langEntropy _),
    "q_bigram_logprob" -> (bigramLogprob _),
    "q_stupid_backoff" -> (stupidBackoff _),
    "q_spec_decode" -> (specDecode _),
    "q_vocab_encode" -> (vocabEncode _),
    "q_bpe_pairs" -> (bpePairs _),
    "q_temperature_mix" -> (temperatureMix _),
    "q_unigram_logprob" -> (unigramLogprob _),
    "q_logit_compress" -> (logitCompress _),
    "q_vocab_coverage" -> (vocabCoverage _),
    "q_negative_sampling" -> (negativeSampling _),
    "q_min_k_prob" -> (minKProb _),
    "q_grpo_advantage" -> (grpoAdvantage _),
    "q_heavy_hitters" -> (heavyHitters _),
    "q_bm25" -> (bm25 _),
    "q_qlm_dirichlet" -> (qlmDirichlet _),
    "q_distinct_n" -> (distinctN _),
    "q_readability" -> (readability _),
    "q_heaps_law" -> (heapsLaw _),
    "q_js_divergence" -> (jsDivergence _),
    "q_burrows_delta" -> (burrowsDelta _),
    "q_vocab_richness" -> (vocabRichness _),
    "q_invisible_chars" -> (invisibleChars _),
    "q_ppmi_embed" -> (ppmiEmbed _),
    "q_quality_filter" -> (qualityFilter _),
    "q_corpus_mix" -> (corpusMix _),
    "q_token_count" -> (tokenCount _),
    "q_prefix_cache" -> (prefixCache _),
    "q_kv_blocks" -> (kvBlocks _),
    "q_swa_kv" -> (swaKv _),
    "q_top_p" -> (topPCensus _),
    "q_bon_sampling" -> (bonSampling _),
    "q_rho_loss" -> (rhoLoss _),
    "q_text_stats" -> (textStats _),
    "q_lang_id" -> (langId _),
    "q_doc_fingerprint" -> (fingerprint _)
  )

  def oracles: Map[String, String] = Map(
    "q_plsa" -> plsaOracle,
    "q_plsa_infer" -> plsaInferOracle,
    "q_textrank" -> textrankOracle,
    "q_unigram_lm" -> unigramLmOracle,
    "q_topic_coherence" -> topicCoherenceOracle,
    "q_burstiness" -> burstinessOracle,
    "q_unigram_apply" -> unigramApplyOracle,
    "q_kn_perplexity" -> knPerplexityOracle,
    "q_kn_perplexity_approx" -> knPerplexityApproxOracle,
    "q_bpe_train" -> bpeTrainOracle,
    "q_bpe_apply" -> bpeApplyOracle,
    "q_wordpiece_apply" -> wordpieceApplyOracle,
    "q_dpo_pairs" -> dpoPairsOracle,
    "q_doc_repetition" -> docRepetitionOracle,
    "q_ngram_novelty" -> ngramNoveltyOracle,
    "q_zipf_slope" -> zipfSlopeOracle,
    "q_tfidf_terms" -> tfidfTermsOracle,
    "q_tokenizer_fertility" -> tokenizerFertilityOracle,
    "q_temperature_sample" -> temperatureSampleOracle,
    "q_pmi_collocations" -> pmiCollocationsOracle,
    "q_lang_entropy" -> langEntropyOracle,
    "q_bigram_logprob" -> bigramLogprobOracle,
    "q_stupid_backoff" -> stupidBackoffOracle,
    "q_spec_decode" -> specDecodeOracle,
    "q_vocab_encode" -> vocabEncodeOracle,
    "q_bpe_pairs" -> bpePairsOracle,
    "q_temperature_mix" -> temperatureMixOracle,
    "q_unigram_logprob" -> unigramLogprobOracle,
    "q_logit_compress" -> logitCompressOracle,
    "q_vocab_coverage" -> vocabCoverageOracle,
    "q_negative_sampling" -> negativeSamplingOracle,
    "q_min_k_prob" -> minKProbOracle,
    "q_grpo_advantage" -> grpoAdvantageOracle,
    "q_heavy_hitters" -> heavyHittersOracle,
    "q_bm25" -> bm25Oracle,
    "q_qlm_dirichlet" -> qlmDirichletOracle,
    "q_distinct_n" -> distinctNOracle,
    "q_readability" -> readabilityOracle,
    "q_heaps_law" -> heapsLawOracle,
    "q_js_divergence" -> jsDivergenceOracle,
    "q_burrows_delta" -> burrowsDeltaOracle,
    "q_vocab_richness" -> vocabRichnessOracle,
    "q_invisible_chars" -> invisibleCharsOracle,
    "q_ppmi_embed" -> ppmiEmbedOracle,
    "q_quality_filter" -> qualityFilterOracle,
    "q_corpus_mix" -> corpusMixOracle,
    "q_token_count" -> tokenCountOracle,
    "q_prefix_cache" -> prefixCacheOracle,
    "q_kv_blocks" -> kvBlocksOracle,
    "q_swa_kv" -> swaKvOracle,
    "q_top_p" -> topPCensusOracle,
    "q_bon_sampling" -> bonSamplingOracle,
    "q_rho_loss" -> rhoLossOracle,
    "q_text_stats" -> textStatsOracle,
    "q_lang_id" -> langIdOracle,
    "q_doc_fingerprint" -> fingerprintOracle
  )
}

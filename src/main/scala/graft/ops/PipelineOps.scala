package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Pipeline operators a large-scale training-data / event-analytics stack
  * needs beyond the reference's SQL surface: as-of joins, range joins,
  * benchmark decontamination, PII redaction, deterministic stratified
  * sampling, repetition-based quality stats, and per-group top-k.
  *
  * Design stance (100 TB): every operator here is either a pure map-side
  * projection or reduces to an equi-join/shuffle on a bounded key — the
  * as-of join is the union+window rewrite (one shuffle, no range probe),
  * the range join buckets intervals so Catalyst gets an equi-join instead
  * of a cartesian theta, decontamination broadcasts the (small) eval-set
  * n-grams, and sampling is a branchless arithmetic filter with zero
  * pre-shuffle.
  */
object PipelineOps {

  // ------------------------------------------------------------ as-of join
  /** As-of join — for every `purchase` event, the latest `view` event of
    * the same user at-or-before its timestamp (trade/quote matching,
    * attribution joins). Spark has no ASOF JOIN operator; the scalable
    * rewrite is union-the-two-streams + a running `last(_, ignoreNulls)`
    * window: ONE shuffle on user_id, no per-row range probe, no skew
    * beyond the user key itself. Views sort before purchases at equal
    * timestamps (tag 0 < 1) to match the inclusive `v.ts <= b.ts` bound of
    * DuckDB's native ASOF JOIN, which the oracle runs literally.
    *
    * Millisecond-epoch arithmetic for the gap sum per the repo's events
    * parity convention (floor(ns/1e6) is identical in both engines).
    */
  def asofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        col("event_type"), unix_millis(col("ts")).as("ms"))
    // no pre-aggregation of the view side: ordering the window by
    // (ms, tag, event_id) makes `last` pick the max-event_id view at the
    // latest eligible ms — the arg_max tie-break — without the extra
    // (user_id, ms) dedup shuffle a groupBy would cost; the whole
    // operator runs on ONE exchange over user_id
    val views = ev.filter(col("event_type") === "view")
    val buys = ev.filter(col("event_type") === "purchase")
    val tagged = views.select(col("user_id"), col("ms"), lit(0).as("tag"),
        col("event_id"), col("event_id").as("view_id"),
        col("value").as("view_value"),
        lit(null).cast("double").as("buy_value"))
      .unionByName(buys.select(col("user_id"), col("ms"), lit(1).as("tag"),
        col("event_id"),
        lit(null).cast("long").as("view_id"),
        lit(null).cast("double").as("view_value"),
        col("value").as("buy_value")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = tagged
      .withColumn("m_view_id", last(col("view_id"), ignoreNulls = true).over(w))
      .withColumn("m_view_ms",
        last(when(col("tag") === 0, col("ms")), ignoreNulls = true).over(w))
      .withColumn("m_view_value",
        last(col("view_value"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
    matched.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_buys"),
        sum(when(col("m_view_id").isNotNull, 1).otherwise(0)).cast("long")
          .as("n_matched"),
        round(sum(col("buy_value")), 4).as("buy_value_sum"),
        round(sum(coalesce(col("m_view_value"), lit(0.0))), 4)
          .as("view_value_sum"),
        sum(coalesce(col("ms") - col("m_view_ms"), lit(0L))).cast("long")
          .as("gap_ms_sum"))
      .orderBy(col("user_id"))
  }

  private val asofJoinOracle =
    """WITH v AS (SELECT user_id, epoch_ms(ts) AS ms,
      |                  MAX(event_id) AS view_id,
      |                  arg_max(value, event_id) AS view_value
      |           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
      |     b AS (SELECT user_id, epoch_ms(ts) AS ms, value
      |           FROM events WHERE event_type = 'purchase')
      |SELECT b.user_id, COUNT(*) AS n_buys,
      |       CAST(SUM(CASE WHEN v.view_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
      |       ROUND(SUM(b.value), 4) AS buy_value_sum,
      |       ROUND(SUM(COALESCE(v.view_value, 0.0)), 4) AS view_value_sum,
      |       CAST(SUM(COALESCE(b.ms - v.ms, 0)) AS BIGINT) AS gap_ms_sum
      |FROM b ASOF LEFT JOIN v ON b.user_id = v.user_id AND v.ms <= b.ms
      |GROUP BY b.user_id ORDER BY b.user_id""".stripMargin

  // ------------------------------------------------------------ range join
  /** Range (interval-containment) join — events against maintenance
    * windows `[start, start+90min)` derived from every 6th hour of the
    * feed. The naive plan is a theta join (BroadcastNestedLoop or
    * cartesian); the scalable rewrite EXPLODES each interval into the
    * hour buckets it covers and equi-joins events on their bucket, so
    * Catalyst gets a hash join whose key fan-out is bounded by
    * ceil(interval/bucket)=2 — the residual containment predicate then
    * runs as a post-join filter. The oracle states the literal BETWEEN
    * theta join.
    */
  def rangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    // pure ms-epoch arithmetic end to end: date_trunc('hour')/hour() are
    // session-timezone-dependent in Spark but naive in DuckDB — integer
    // division of the epoch is identical everywhere
    val hourMs = 3600000L
    val ev = Tables.events(spark, sfDir)
      .select(unix_millis(col("ts")).as("ms"), col("value"))
    val iv = ev
      .select((col("ms") - pmod(col("ms"), lit(hourMs))).as("w_start"))
      .filter((col("w_start") / hourMs).cast("long") % 6 === 0).distinct()
      .withColumn("w_end", col("w_start") + lit(5400000L))
    val ivb = iv.withColumn("bucket", explode(sequence(
      (col("w_start") / hourMs).cast("long"),
      ((col("w_end") - 1) / hourMs).cast("long"))))
    val evb = ev.withColumn("bucket", (col("ms") / hourMs).cast("long"))
    evb.join(ivb, Seq("bucket"))
      .filter(col("ms") >= col("w_start") && col("ms") < col("w_end"))
      .groupBy(col("w_start").as("window_start_ms"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("value_sum"))
      .orderBy(col("window_start_ms"))
  }

  private val rangeJoinOracle =
    """WITH iv AS (SELECT DISTINCT (epoch_ms(ts) // 3600000) * 3600000 AS w_start,
      |                   (epoch_ms(ts) // 3600000) * 3600000 + 5400000 AS w_end
      |            FROM events WHERE (epoch_ms(ts) // 3600000) % 6 = 0)
      |SELECT iv.w_start AS window_start_ms,
      |       COUNT(*) AS n_events, ROUND(SUM(e.value), 4) AS value_sum
      |FROM (SELECT epoch_ms(ts) AS ms, value FROM events) e
      |JOIN iv ON e.ms >= iv.w_start AND e.ms < iv.w_end
      |GROUP BY 1 ORDER BY window_start_ms""".stripMargin

  // ------------------------------------------------------------ decontamination
  /** Benchmark decontamination — drop training documents sharing any
    * word-level 8-gram with the held-out eval split (the overlap filter
    * every LLM data pipeline runs before training). Eval docs
    * (`doc_id % 97 = 0`, ~1%) contribute a DISTINCT 8-gram set that is
    * BROADCAST; train docs explode to their 8-grams map-side and
    * LEFT SEMI join against it, so the only full shuffle is the final
    * distinct over contaminated doc_ids. At 100 TB the eval set stays
    * dimension-sized by construction — this plan shape is exactly the
    * production one.
    */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("w", split(col("text"), " "))
    def grams(d: DataFrame): DataFrame = d.withColumn("gram", explode(
      when(size(col("w")) >= 8,
        expr("transform(sequence(0, size(w) - 8), i -> array_join(slice(w, i + 1, 8), ' '))"))
        .otherwise(array().cast("array<string>"))))
    val evalGrams = grams(docs.filter(col("doc_id") % 97 === 0))
      .select(col("gram")).distinct()
    val dirty = grams(docs.filter(col("doc_id") % 97 =!= 0))
      .join(broadcast(evalGrams), Seq("gram"), "left_semi")
      .select(col("doc_id")).distinct().withColumn("dirty", lit(1))
    docs.filter(col("doc_id") % 97 =!= 0)
      .join(dirty, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_train"),
        sum(coalesce(col("dirty"), lit(0))).cast("long").as("n_contaminated"),
        sum(when(col("dirty").isNotNull, size(col("w"))).otherwise(0))
          .cast("long").as("contaminated_tokens"))
      .orderBy(col("source"))
  }

  private val decontaminateOracle =
    """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
      |     eg AS (SELECT DISTINCT unnest(list_transform(
      |              range(0, greatest(len(w) - 7, 0)),
      |              i -> array_to_string(w[i+1:i+8], ' '))) AS gram
      |            FROM w WHERE doc_id % 97 = 0),
      |     dirty AS (SELECT DISTINCT doc_id FROM (
      |              SELECT doc_id, unnest(list_transform(
      |                range(0, greatest(len(w) - 7, 0)),
      |                i -> array_to_string(w[i+1:i+8], ' '))) AS gram
      |              FROM w WHERE doc_id % 97 <> 0)
      |            WHERE gram IN (SELECT gram FROM eg))
      |SELECT source, COUNT(*) AS n_train,
      |       CAST(SUM(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
      |       CAST(SUM(CASE WHEN d.doc_id IS NOT NULL THEN len(w.w) ELSE 0 END) AS BIGINT) AS contaminated_tokens
      |FROM w LEFT JOIN dirty d USING (doc_id)
      |WHERE w.doc_id % 97 <> 0
      |GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------ graded decontamination
  /** Graded benchmark decontamination — the PaLM-style refinement of
    * [[decontaminate]]'s binary any-8-gram drop (which is brutally
    * aggressive: one quoted benchmark sentence condemns a whole
    * document). Production pipelines (PaLM app. C, Llama 2 §A.6)
    * instead grade each training doc by its DIRTY-GRAM RATIO and keep
    * the lightly-touched tail. Two deliberate contrasts with the binary
    * sibling: (1) the eval surface is each held-out doc's first
    * [[DecontamSnip]] tokens — benchmark PROMPTS are short, and the
    * whole-doc surface would only re-find the near-dup detector's
    * pairs (that audit is [[graft.ops.CurationOps.cvLeakage]]); (2) the
    * verdict is three-way on the e6 lattice — dirty/total 8-grams = 0 →
    * `clean`, under [[DecontamThreshE6]] → `partial` (quote-level
    * overlap: kept but reported), at/over → `contaminated` (dropped).
    * Held-out set: `doc_id % 10 == 7`.
    *
    * Scale shape: per-doc gram totals are computed map-side from the
    * split array BEFORE the explode, so clean grams never carry doc
    * payload through the match; the gram match itself is the exploded
    * stream inner-joined UNHINTED against the distinct eval grams —
    * bounded in practice (benchmark suites are MBs against a 100 TB
    * corpus), so AQE broadcasts it at any realistic eval size (PlanSpec
    * pins the BroadcastHashJoin at fixture scale) while a pathological
    * suite degrades to a shuffle join instead of dying at the 8 GB
    * broadcast cliff — the [[graft.ops.TextOps]] LM-count-table
    * discipline. Only per-doc dirty COUNTS (≤ one row per matched doc)
    * reach an exchange. At 100 TB swap gram strings for their 60-bit
    * md5 prefix (the [[graft.ops.DedupOps]] idiom) — plan unchanged.
    * The eval-gram count rides along as an A6 witness scalar.
    */
  private val DecontamN = 8
  private val DecontamSnip = 30
  private val DecontamThreshE6 = 500000L

  // sequence(0, size-N) is DESCENDING when size < N (the TextOps
  // phantom-gram trap) — guard the short-doc case to an empty array.
  private def gramsOf(arr: String) = expr(
    s"""CASE WHEN size($arr) >= $DecontamN THEN
       |  transform(sequence(0, size($arr) - $DecontamN),
       |    i -> array_join(slice($arr, i + 1, $DecontamN), ' '))
       |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)

  /** The benchmark's matchable surface: distinct 8-grams of each eval
    * doc's first [[DecontamSnip]] tokens. */
  private[graft] def decontamEvalGrams(evalDocs: DataFrame): DataFrame =
    evalDocs
      .withColumn("w", split(col("text"), " "))
      .select(explode(gramsOf(s"slice(w, 1, $DecontamSnip)")).as("gram"))
      .distinct()

  /** Per-doc graded verdict for a (doc_id, source, text) frame against
    * an eval-gram set — the ONE classification definition the batch
    * query and the streaming screen both run (the extractFrame
    * factoring discipline); works identically on a micro-batch. */
  private[graft] def decontamClassFrame(docs: DataFrame,
      evalGrams: DataFrame): DataFrame = {
    val train = docs
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"), col("source"),
        greatest(size(col("w")) - lit(DecontamN - 1), lit(0))
          .cast("long").as("n_grams"),
        gramsOf("w").as("grams"))
    // deliberately UNHINTED: eval grams are bounded in practice but an
    // explicit broadcast() would hard-fail past the 8 GB cliff on a
    // pathological suite; AQE picks the broadcast whenever it fits.
    val dirty = train
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .join(evalGrams, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dirty"))
    train.drop("grams")
      .join(dirty, Seq("doc_id"), "left")
      .withColumn("dirty", coalesce(col("dirty"), lit(0L)))
      .withColumn("dirty_e6",
        when(col("n_grams") === 0L, lit(0L))
          .otherwise(expr("dirty * 1000000 DIV n_grams")))
      .withColumn("class",
        when(col("dirty") === 0L, lit("clean"))
          .when(col("dirty_e6") >= DecontamThreshE6, lit("contaminated"))
          .otherwise(lit("partial")))
  }

  def decontamGraded(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val isEval = col("doc_id") % 10 === 7
    val evalGrams = decontamEvalGrams(docs.filter(isEval))
    val classed = decontamClassFrame(
      docs.filter(!isEval).select(col("doc_id"), col("source"), col("text")),
      evalGrams)
    classed.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("class") === "clean", 1L).otherwise(0L)).as("n_clean"),
        sum(when(col("class") === "partial", 1L).otherwise(0L)).as("n_partial"),
        sum(when(col("class") === "contaminated", 1L).otherwise(0L))
          .as("n_contaminated"),
        max(col("dirty_e6")).as("max_dirty_e6"))
      .crossJoin(broadcast(evalGrams.agg(count(lit(1)).as("n_eval_grams"))))
      .orderBy(col("source"))
  }

  private val decontamGradedOracle =
    s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w
       |           FROM documents),
       |ev AS (SELECT DISTINCT unnest(list_transform(
       |         range(0, greatest(len(w[1:$DecontamSnip]) - ${DecontamN - 1}, 0)),
       |         i -> array_to_string(w[i+1:i+$DecontamN], ' '))) AS gram
       |       FROM d WHERE doc_id % 10 = 7),
       |tg AS (SELECT doc_id, unnest(list_transform(
       |                range(0, greatest(len(w) - ${DecontamN - 1}, 0)),
       |                i -> array_to_string(w[i+1:i+$DecontamN], ' '))) AS gram
       |       FROM d WHERE doc_id % 10 <> 7),
       |dirty AS (SELECT doc_id, COUNT(*) AS dirty FROM tg
       |          WHERE gram IN (SELECT gram FROM ev) GROUP BY doc_id),
       |tr AS (SELECT doc_id, source,
       |              CAST(greatest(len(w) - ${DecontamN - 1}, 0) AS BIGINT)
       |                AS n_grams
       |       FROM d WHERE doc_id % 10 <> 7),
       |cls AS (
       |  SELECT tr.source,
       |         COALESCE(dirty.dirty, 0) AS dirty,
       |         CASE WHEN tr.n_grams = 0 THEN 0
       |              ELSE COALESCE(dirty.dirty, 0) * 1000000 // tr.n_grams
       |         END AS dirty_e6
       |  FROM tr LEFT JOIN dirty USING (doc_id)),
       |agg AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |         CAST(SUM(CASE WHEN dirty = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_clean,
       |         CAST(SUM(CASE WHEN dirty > 0 AND dirty_e6 < $DecontamThreshE6
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_partial,
       |         CAST(SUM(CASE WHEN dirty_e6 >= $DecontamThreshE6
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       |         CAST(MAX(dirty_e6) AS BIGINT) AS max_dirty_e6
       |  FROM cls GROUP BY source)
       |SELECT source, n_docs, n_clean, n_partial, n_contaminated,
       |       max_dirty_e6, (SELECT COUNT(*) FROM ev) AS n_eval_grams
       |FROM agg ORDER BY source""".stripMargin

  // ------------------------------------------------------------ PII redaction
  /** PII redaction — regex scrub of emails and 9-digit phone numbers
    * inside free TEXT (the structured-release channel —
    * pseudonymize/generalize/k-suppress — is
    * [[graft.ops.CatalogOps.piiScrub]]).
    * The fixture corpus is digit-free, so deterministic PII is first
    * synthesized (emails on doc_id%3, phones on doc_id%5 — both in the
    * oracle verbatim), then redacted with `regexp_replace`; the report
    * counts matches and length deltas per source and pins the cleaned
    * text with a group-min md5. Pure map-side column math — the regexes
    * stay in the Java/RE2 common subset so both engines match the same
    * spans.
    */
  def piiRedact(spark: SparkSession, sfDir: String): DataFrame = {
    // [.] instead of \. — the pattern goes through a Spark SQL string
    // literal (expr), a Scala regex, and a DuckDB literal, which disagree
    // on backslash processing; a character class needs no escaping anywhere
    val email = "[a-z0-9]+@[a-z0-9]+[.][a-z]+"
    val phone = "[0-9]{9}"
    val t = concat(col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), (col("doc_id") % 1000).cast("string"),
          lit("@host"), (col("doc_id") % 7).cast("string"), lit(".com")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" tel "),
          (lit(600000000L) + col("doc_id") % 1000000).cast("string")))
        .otherwise(lit("")))
    Tables.documents(spark, sfDir)
      .withColumn("t", t)
      .withColumn("n_email", size(expr(s"regexp_extract_all(t, '$email', 0)")))
      .withColumn("n_phone", size(expr(s"regexp_extract_all(t, '$phone', 0)")))
      .withColumn("clean",
        regexp_replace(regexp_replace(col("t"), email, "<EMAIL>"),
          phone, "<PHONE>"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_email")).cast("long").as("n_emails"),
        sum(col("n_phone")).cast("long").as("n_phones"),
        sum(length(col("t")) - length(col("clean"))).cast("long")
          .as("len_delta"),
        // numeric md5 prefix, not the hex string: MIN over a varlen
        // string buffer forces SortAggregate (no hash agg for mutable
        // varlen buffers); a BIGINT min keeps the whole report in
        // HashAggregate. Same 60-bit content pin, same DuckDB rendering.
        min(Parity.md5Key(col("clean").cast("binary")))
          .as("clean_md5_min"))
      .orderBy(col("source"))
  }

  private val piiRedactOracle =
    s"""SELECT source, COUNT(*) AS n_docs,
      |       CAST(SUM(len(regexp_extract_all(t, '[a-z0-9]+@[a-z0-9]+[.][a-z]+'))) AS BIGINT) AS n_emails,
      |       CAST(SUM(len(regexp_extract_all(t, '[0-9]{9}'))) AS BIGINT) AS n_phones,
      |       CAST(SUM(length(t) - length(clean)) AS BIGINT) AS len_delta,
      |       MIN(${Parity.md5KeySql("clean")}) AS clean_md5_min
      |FROM (
      |  SELECT source, t,
      |         regexp_replace(regexp_replace(t, '[a-z0-9]+@[a-z0-9]+[.][a-z]+', '<EMAIL>', 'g'),
      |                        '[0-9]{9}', '<PHONE>', 'g') AS clean
      |  FROM (
      |    SELECT source,
      |           text
      |           || CASE WHEN doc_id % 3 = 0
      |                   THEN ' contact user' || CAST(doc_id % 1000 AS VARCHAR)
      |                        || '@host' || CAST(doc_id % 7 AS VARCHAR) || '.com'
      |                   ELSE '' END
      |           || CASE WHEN doc_id % 5 = 0
      |                   THEN ' tel ' || CAST(600000000 + doc_id % 1000000 AS VARCHAR)
      |                   ELSE '' END AS t
      |    FROM documents))
      |GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------------ stratified sampling
  /** Deterministic stratified sampling — per-language keep rates applied
    * via a Knuth multiplicative hash of doc_id (exact 64-bit integer
    * arithmetic, identical in both engines; no RNG, so the sample is
    * reproducible run-to-run and engine-to-engine). This is the corpus
    * down/up-weighting step of a training-data mixture: a branchless
    * map-side filter with zero pre-shuffle; only the per-stratum report
    * aggregates.
    */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val rate = when(col("lang") === "en", 10)
      .when(col("lang") === "es", 37)
      .when(col("lang") === "zh", 80)
      .when(col("lang") === "fr", 55)
      .otherwise(100)
    val bucket = Parity.mixBucket(col("doc_id"), 2654435761L, 100)
    Tables.documents(spark, sfDir)
      .withColumn("rate", rate)
      .withColumn("keep", bucket < col("rate"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("rate")).cast("long").as("target_pct"),
        sum(when(col("keep"), 1).otherwise(0)).cast("long").as("n_sampled"),
        round(sum(when(col("keep"), 1.0).otherwise(0.0)) / count(lit(1)), 6)
          .as("achieved_rate"),
        sum(when(col("keep"), size(split(col("text"), " "))).otherwise(0))
          .cast("long").as("sampled_tokens"))
      .orderBy(col("lang"))
  }

  private val stratifiedSampleOracle =
    """SELECT lang, COUNT(*) AS n_docs,
      |       CAST(MAX(rate) AS BIGINT) AS target_pct,
      |       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
      |       ROUND(SUM(CASE WHEN keep THEN 1.0 ELSE 0.0 END) / COUNT(*), 6) AS achieved_rate,
      |       CAST(SUM(CASE WHEN keep THEN len(string_split(text, ' ')) ELSE 0 END) AS BIGINT) AS sampled_tokens
      |FROM (
      |  SELECT lang, text,
      |         CASE lang WHEN 'en' THEN 10 WHEN 'es' THEN 37 WHEN 'zh' THEN 80
      |                   WHEN 'fr' THEN 55 ELSE 100 END AS rate,
      |         (((doc_id % 2147483648) * 2654435761) % 4294967296) % 100 < (CASE lang
      |           WHEN 'en' THEN 10 WHEN 'es' THEN 37 WHEN 'zh' THEN 80
      |           WHEN 'fr' THEN 55 ELSE 100 END) AS keep
      |  FROM documents)
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------------ repetition stats
  /** Repetition-based quality stats (the Gopher repetition rules):
    * duplicate-word and duplicate-bigram fractions per document, a drop
    * verdict at >0.55 duplicate words, and corpus-level fractions from
    * the per-doc view ([[graft.ops.TextOps.docRepetition]] is the
    * per-SOURCE rollup twin with the adjacent-repeat signal) —
    * EXACT integer sums (sum of distinct counts over sum of totals — no
    * float-accumulation order sensitivity). All in-row array math:
    * `array_distinct` on the word array and a `transform`-built bigram
    * array, zero shuffle before the report aggregate.
    */
  def repetitionStats(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("w", split(col("text"), " "))
      .withColumn("nw", size(col("w")))
      .withColumn("ndw", size(array_distinct(col("w"))))
      .withColumn("bg",
        when(col("nw") >= 2,
          expr("transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i+1]))"))
          .otherwise(array().cast("array<string>")))
      .withColumn("nbg", size(col("bg")))
      .withColumn("ndbg", size(array_distinct(col("bg"))))
      .withColumn("dropped",
        lit(1.0) - col("ndw").cast("double") / col("nw") > 0.55)
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dropped"), 1).otherwise(0)).cast("long").as("n_dropped"),
        round(lit(1.0) - sum(col("ndw")).cast("double") / sum(col("nw")), 6)
          .as("dup_word_frac"),
        round(lit(1.0) - sum(col("ndbg")).cast("double") / sum(col("nbg")), 6)
          .as("dup_bigram_frac"),
        sum(when(!col("dropped"), col("nw")).otherwise(0)).cast("long")
          .as("kept_tokens"))
      .orderBy(col("source"))
  }

  private val repetitionStatsOracle =
    """SELECT source, COUNT(*) AS n_docs,
      |       CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |       ROUND(1.0 - CAST(SUM(ndw) AS DOUBLE) / SUM(nw), 6) AS dup_word_frac,
      |       ROUND(1.0 - CAST(SUM(ndbg) AS DOUBLE) / SUM(nbg), 6) AS dup_bigram_frac,
      |       CAST(SUM(CASE WHEN NOT dropped THEN nw ELSE 0 END) AS BIGINT) AS kept_tokens
      |FROM (
      |  SELECT source, nw, ndw,
      |         CASE WHEN nw >= 2 THEN nw - 1 ELSE 0 END AS nbg,
      |         CASE WHEN nw >= 2 THEN len(list_distinct(list_transform(
      |           range(0, nw - 1), i -> w[i+1] || ' ' || w[i+2]))) ELSE 0 END AS ndbg,
      |         1.0 - CAST(ndw AS DOUBLE) / nw > 0.55 AS dropped
      |  FROM (SELECT source, w, len(w) AS nw, len(list_distinct(w)) AS ndw
      |        FROM (SELECT source, string_split(text, ' ') AS w FROM documents)))
      |GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------------ top-k per group
  /** Per-group top-k — the 3 largest documents per source (row_number
    * window, deterministic doc_id tie-break): the "best k examples per
    * stratum" selection a curation pipeline runs. At scale Catalyst
    * executes this as a partial top-k per partition before the shuffle
    * (WindowGroupLimit pushdown), so no group ever materializes fully.
    */
  def topkPerGroup(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .orderBy(col("source"), col("rnk"))
  }

  private val topkPerGroupOracle =
    """SELECT source, doc_id, n_chars, CAST(rnk AS INTEGER) AS rnk FROM (
      |  SELECT source, doc_id, n_chars,
      |         ROW_NUMBER() OVER (PARTITION BY source
      |                            ORDER BY n_chars DESC, doc_id) AS rnk
      |  FROM documents)
      |WHERE rnk <= 3 ORDER BY source, rnk""".stripMargin

  // ------------------------------------------------------------ salted skew join
  /** Salted skew join — the large×large equi-join survival pattern when
    * the key histogram is pathological (here: 3 hot keys carrying the
    * whole fact table) and the dimension side is too big or too dynamic
    * to broadcast. The fact side gets a deterministic-per-row salt
    * `hash(row) % R`; the dimension side is EXPLODED to all R salts; the
    * join key becomes (key, salt), spreading each hot key over R
    * reducers. A SHUFFLE_HASH hint keeps the demo honest (without it the
    * 3-row dim would broadcast and hide the skew problem entirely).
    * The salt never reaches the output, so the oracle is the literal
    * unsalted join. AQE's skewedJoin covers sort-merge spills at
    * runtime; explicit salting is the plan-level fix that also works
    * for hash joins and pre-AQE engines.
    */
  def skewJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val r = 16
    val fact = Tables.lineitem(spark, sfDir)
      .select(pmod(col("l_orderkey"), lit(3L)).as("hot"), col("l_quantity"),
        pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(r)).as("salt"))
    val dim = Tables.orders(spark, sfDir)
      .groupBy(pmod(col("o_orderkey"), lit(3L)).as("hot"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 4).as("price_sum"))
      .withColumn("salt", explode(sequence(lit(0), lit(r - 1))))
    fact.hint("shuffle_hash")
      .join(dim.hint("shuffle_hash"), Seq("hot", "salt"))
      .groupBy(col("hot"))
      .agg(count(lit(1)).as("n_li"),
        round(sum(col("l_quantity")), 4).as("qty_sum"),
        max(col("n_orders")).as("n_orders"),
        max(col("price_sum")).as("price_sum"))
      .orderBy(col("hot"))
  }

  private val skewJoinOracle =
    """WITH dim AS (SELECT o_orderkey % 3 AS hot, COUNT(*) AS n_orders,
      |                    ROUND(SUM(o_totalprice), 4) AS price_sum
      |             FROM orders GROUP BY 1)
      |SELECT f.hot, COUNT(*) AS n_li, ROUND(SUM(f.l_quantity), 4) AS qty_sum,
      |       MAX(d.n_orders) AS n_orders, MAX(d.price_sum) AS price_sum
      |FROM (SELECT l_orderkey % 3 AS hot, l_quantity FROM lineitem) f
      |JOIN dim d USING (hot)
      |GROUP BY f.hot ORDER BY hot""".stripMargin

  // ------------------------------------------------------------ chunking
  /** Document chunking — fixed-size token windows (40 tokens, stride 30,
    * overlap 10): the context-window segmentation step before embedding
    * or training. Chunk generation is an in-row `transform` over the
    * word array exploded with POSEXPLODE (the position IS the chunk
    * index) — pure map-side fan-out, no shuffle; rows grow by a bounded
    * ~len/stride factor. The generator expression stays inline in the
    * explode (see the InferFiltersFromGenerate note in DedupOps).
    */
  private val ChunkLen = 40
  private val ChunkStride = 30

  def docChunking(spark: SparkSession, sfDir: String): DataFrame = {
    val overlap = ChunkLen - ChunkStride
    Tables.documents(spark, sfDir)
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(
           |  sequence(0, CAST(ceil(greatest(size(w) - $overlap, 1) / $ChunkStride.0) AS INT) - 1),
           |  i -> array_join(slice(w, i * $ChunkStride + 1, $ChunkLen), ' '))""".stripMargin)))
      .select(col("doc_id"), col("pos").as("chunk_idx"),
        size(split(col("col"), " ")).as("chunk_tokens"),
        md5(col("col").cast("binary")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  private val docChunkingOracle =
    s"""SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
       |       CAST(len(string_split(chunk, ' ')) AS INTEGER) AS chunk_tokens,
       |       md5(chunk) AS chunk_md5
       |FROM (
       |  SELECT doc_id, i,
       |         array_to_string(w[i*$ChunkStride+1 : i*$ChunkStride+$ChunkLen], ' ') AS chunk
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |       LATERAL unnest(range(0, CAST(ceil(greatest(len(w) - ${ChunkLen - ChunkStride}, 1) / $ChunkStride.0) AS BIGINT))) AS t(i))
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // ------------------------------------------------------------ sequence packing
  /** Token-budget sequence packing — documents greedily packed into
    * 512-token training bins by a running cumulative sum over a
    * deterministic corpus order: bin = (cumsum_before_doc) div budget.
    *
    * The running sum is [[PrefixSum.running]] over [[PrefixSum.idChunk]]
    * chunks; the oracle is the single-window SQL.
    */
  def seqPacking(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tok"))
    PrefixSum.running(d, PrefixSum.idChunk(d, "doc_id"), Seq(col("doc_id")),
        "cum" -> col("n_tok"))
      // integral div, not `/`: double division is exact only below 2^53
      // — a corpus-scale cumulative token count can exceed that
      .withColumn("bin", expr("(cum - n_tok) div 512"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("bin_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("bin"))
  }

  private val seqPackingOracle =
    """SELECT bin, COUNT(*) AS n_docs,
      |       CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
      |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM (
      |  SELECT doc_id, n_tok,
      |         CAST((SUM(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tok) // 512
      |              AS BIGINT) AS bin
      |  FROM (SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents))
      |GROUP BY bin ORDER BY bin""".stripMargin

  // --------------------------------------- continuous-batching replay
  /** Engine-step token budget a batch admits up to — the
    * max-num-batched-tokens knob of a continuous-batching scheduler
    * (Orca/vLLM). */
  private val CbBudget = 2048L

  /** Continuous-batching queue replay — the SCHEDULER twin of
    * [[graft.ops.StatsOps.ucbBandit]]'s decision replay: given a
    * deterministic arrival order and per-request token lengths, replay
    * a max-batch-tokens admission policy and ledger what each engine
    * step actually ran. Requests are the documents; arrival order is
    * the md5 bridge over doc_id (a deterministic pseudo-random
    * permutation, so arrival order is NOT length order — the regime a
    * scheduler exists for); admission is the [[seqPacking]] machinery
    * verbatim: running token cumsum over arrival order, batch_id =
    * cumsum-before div budget (the standard two-phase relaxation — a
    * request spanning the boundary rides in the earlier batch, ledgered
    * by `overflow_tokens` rather than re-simulated, keeping the whole
    * replay one window + one aggregation instead of a sequential
    * fold). Per batch the ledger reports admitted requests, token
    * fill (exact e6 rate), boundary overflow, the arrival-sequence
    * span, and the saturated-queue wait ledger: with every request
    * pending at t0 and one batch per engine step, a request's wait is
    * its batch_id, so the batch's total added wait is n_reqs·batch_id.
    *
    * Arrival rank and token running sum come from one
    * [[PrefixSum.running]] over chunk = the top bits of the md5 arrival
    * key ([[CbChunkShift]] keeps 2^8 chunks), a non-decreasing function
    * of the (ord, doc_id) order; the oracle is the single-window SQL. */
  private val CbChunkShift = 52

  /** The requests (doc_id, n_tok, ord) plus `sums` as running sums over
    * md5-bridge arrival order (ord, doc_id). */
  private def arrivals(spark: SparkSession, sfDir: String,
      sums: (String, Column)*): DataFrame = {
    val arr = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        Parity.md5Key(col("doc_id").cast("string"))
          .as("ord"))
    PrefixSum.running(arr, expr(s"shiftright(ord, $CbChunkShift)"),
      Seq(col("ord"), col("doc_id")), sums: _*)
  }

  def cbReplay(spark: SparkSession, sfDir: String): DataFrame =
    arrivals(spark, sfDir, "seq" -> lit(1L), "cum" -> col("n_tok"))
      .withColumn("batch_id", expr(s"(cum - n_tok) div $CbBudget"))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_reqs"),
        sum(col("n_tok")).cast("long").as("batch_tokens"),
        min(col("seq")).as("first_arrival"),
        max(col("seq")).as("last_arrival"))
      .withColumn("fill_e6",
        expr(s"(batch_tokens * 1000000) div $CbBudget"))
      .withColumn("overflow_tokens",
        greatest(col("batch_tokens") - CbBudget, lit(0L)))
      .withColumn("sum_wait_steps", col("n_reqs") * col("batch_id"))
      .select(col("batch_id"), col("n_reqs"), col("batch_tokens"),
        col("fill_e6"), col("overflow_tokens"), col("first_arrival"),
        col("last_arrival"), col("sum_wait_steps"))
      .orderBy(col("batch_id"))

  /** Data-parallel workers in the shard-balance audit. */
  private val ShardWorkers = 32L

  /** Data-parallel shard token-balance audit — the dataloader-side
    * twin of the MoE router's load census: synchronous data-parallel
    * training steps at the pace of the heaviest shard, so per sharding
    * policy (content hash via the md5 bridge vs round-robin over the
    * dense doc_id) the audit ledgers each policy's worker token
    * spread, the faiss-style imbalance factor max/avg at e6, and the
    * straggler stall — the fraction of step time the fleet idles
    * waiting for the heaviest worker ((max·W − total) / (max·W)).
    * Round-robin balances COUNTS but not token mass; the hash policy
    * is what a stateless distributed loader can actually compute —
    * the audit prices that convenience.
    *
    * Exactness: token counts and both rates are exact integers
    * (truncating division, nonnegative operands); the md5 bridge is
    * the engine-identical hash.
    *
    * Scale shape: one narrow projection fanned to two policy rows
    * map-side, two hash aggregations (worker-keyed then policy-keyed),
    * 2-row output. No window, no sort, no join. */
  def dpBalance(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val hashed = base.select(lit("hash").as("policy"),
      pmod(Parity.md5Key(col("doc_id").cast("string")),
        lit(ShardWorkers)).as("worker"), col("n_tok"))
    val rr = base.select(lit("round_robin").as("policy"),
      pmod(col("doc_id"), lit(ShardWorkers)).as("worker"), col("n_tok"))
    hashed.unionByName(rr)
      .groupBy(col("policy"), col("worker"))
      .agg(sum(col("n_tok")).cast("long").as("w_tok"),
        count(lit(1)).as("w_docs"))
      .groupBy(col("policy"))
      .agg(count(lit(1)).as("n_workers"),
        sum(col("w_tok")).cast("long").as("total_tokens"),
        min(col("w_tok")).as("min_tokens"),
        max(col("w_tok")).as("max_tokens"),
        max(col("w_docs")).as("max_docs"))
      .withColumn("imbalance_e6",
        expr(s"(max_tokens * $ShardWorkers * 1000000) div total_tokens"))
      .withColumn("stall_pct_e6",
        expr(s"((max_tokens * $ShardWorkers - total_tokens) * 1000000) " +
          s"div (max_tokens * $ShardWorkers)"))
      .select(col("policy"), col("n_workers"), col("total_tokens"),
        col("min_tokens"), col("max_tokens"), col("max_docs"),
        col("imbalance_e6"), col("stall_pct_e6"))
      .orderBy(col("policy"))
  }

  private val dpBalanceOracle =
    s"""WITH base AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |assigned AS (
       |  SELECT 'hash' AS policy,
       |         ${Parity.md5KeySql("CAST(doc_id AS VARCHAR)")}
       |              % $ShardWorkers AS worker, n_tok
       |  FROM base
       |  UNION ALL
       |  SELECT 'round_robin' AS policy, doc_id % $ShardWorkers AS worker,
       |         n_tok
       |  FROM base),
       |w AS (SELECT policy, worker, CAST(SUM(n_tok) AS BIGINT) AS w_tok,
       |             COUNT(*) AS w_docs
       |      FROM assigned GROUP BY policy, worker),
       |p AS (SELECT policy, COUNT(*) AS n_workers,
       |             CAST(SUM(w_tok) AS BIGINT) AS total_tokens,
       |             MIN(w_tok) AS min_tokens, MAX(w_tok) AS max_tokens,
       |             MAX(w_docs) AS max_docs
       |      FROM w GROUP BY policy)
       |SELECT policy, n_workers, total_tokens, min_tokens, max_tokens,
       |       max_docs,
       |       (max_tokens * $ShardWorkers * 1000000) // total_tokens
       |         AS imbalance_e6,
       |       ((max_tokens * $ShardWorkers - total_tokens) * 1000000)
       |         // (max_tokens * $ShardWorkers) AS stall_pct_e6
       |FROM p ORDER BY policy""".stripMargin

  /** TP degrees the comm census sweeps — the within-node ladder a
    * Megatron-style trainer actually considers (2/4/8-way). */
  private val TpDegrees = Seq(2, 4, 8)
  private val TpDModel = 512L
  private val TpLayers = 8L
  private val TpBytes = 2L // bf16

  /** Tensor-parallel all-reduce volume census (Megatron-LM, Shoeybi
    * et al. arXiv:1909.08053 §3: each transformer layer's row/column-
    * split pair costs 2 activation all-reduces forward + 2 backward)
    * — the tensor-parallel sibling of the data-parallel
    * [[shardBalance]]: treating each document as a training sequence
    * of its token length over a fixed reference config (d_model 512,
    * 8 layers, bf16), per TP degree t the census reports the
    * all-reduce count and total payload, the per-GPU ring traffic
    * (ring all-reduce moves 2·(t−1)/t of the payload per GPU — the
    * bandwidth-optimal bound every NCCL deployment pays), and ring
    * bytes per token — the table that decides how far TP scales
    * before the interconnect, not the FLOPs, is the wall: payload is
    * t-independent while ring traffic GROWS with t toward 2× payload.
    *
    * Exactness: pure integer arithmetic — the per-sequence ring bytes
    * (4·layers · 2·(t−1) · L·d_model·bytes) div t truncate on
    * nonnegative operands (and are exact here: the constant factor
    * carries 2¹⁶), summed on the exact lattice.
    *
    * Scale shape: the [[shardBalance]]/kvBlocks plan — one map-side
    * cross join against the broadcast 3-row degree grid, ONE hash
    * aggregation keyed on tp with map-side partials, 3-row output.
    * No sort, no window, no data-sized join. */
  def tpComm(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val degrees = TpDegrees.toDF("tp")
    val nAr = 4L * TpLayers
    Tables.documents(spark, sfDir)
      .select(size(split(col("text"), " ")).cast("long").as("n_tok"))
      .crossJoin(broadcast(degrees)) // 3-row bounded grid
      .withColumn("payload",
        lit(nAr) * col("n_tok") * lit(TpDModel) * lit(TpBytes))
      .withColumn("ring",
        expr(s"($nAr * 2 * (tp - 1) * n_tok" +
          s" * $TpDModel * $TpBytes) div tp"))
      .groupBy(col("tp"))
      .agg(count(lit(1)).as("n_seqs"),
        sum(col("n_tok")).cast("long").as("total_tokens"),
        (count(lit(1)) * nAr).cast("long").as("n_allreduces"),
        sum(col("payload")).cast("long").as("payload_bytes"),
        sum(col("ring")).cast("long").as("ring_bytes_per_gpu"))
      .withColumn("ring_bytes_per_token",
        expr("ring_bytes_per_gpu div total_tokens"))
      .orderBy(col("tp"))
  }

  private val tpCommOracle = {
    val nAr = 4L * TpLayers
    s"""WITH seqs AS (
       |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |grid AS (SELECT unnest([${TpDegrees.mkString(", ")}]) AS tp),
       |per AS (
       |  SELECT tp, n_tok,
       |         $nAr * n_tok * $TpDModel * $TpBytes AS payload,
       |         ($nAr * 2 * (tp - 1) * n_tok * $TpDModel * $TpBytes) // tp
       |           AS ring
       |  FROM seqs CROSS JOIN grid)
       |SELECT CAST(tp AS INTEGER) AS tp,
       |       COUNT(*) AS n_seqs,
       |       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       |       CAST(COUNT(*) * $nAr AS BIGINT) AS n_allreduces,
       |       CAST(SUM(payload) AS BIGINT) AS payload_bytes,
       |       CAST(SUM(ring) AS BIGINT) AS ring_bytes_per_gpu,
       |       CAST(SUM(ring) AS BIGINT) // CAST(SUM(n_tok) AS BIGINT)
       |         AS ring_bytes_per_token
       |FROM per GROUP BY tp ORDER BY tp""".stripMargin
  }

  /** Requests per static batch in the padding census. */
  private val PadBatchSize = 8L

  /** Static-batch padding-waste census — the OTHER HALF of the
    * [[cbReplay]] comparison: continuous batching exists because the
    * static alternative pads every request in a fixed-size batch to
    * the batch's longest sequence. Same deterministic md5-bridge
    * arrival order as the replay, requests taken [[PadBatchSize]] at
    * a time; per batch the ledger reports admitted requests, the
    * batch's max and total tokens, the padding it burns
    * (n_reqs·max − Σtok — compute allocated for positions past each
    * request's end), and the exact e6 pad rate. Read beside
    * `q_cb_replay`'s fill ledger, the pair quantifies the
    * continuous-batching win on the same arrival trace.
    *
    * Arrival rank comes from [[cbReplay]]'s [[PrefixSum.running]]; a
    * hash aggregation on batch_id follows. */
  def padWaste(spark: SparkSession, sfDir: String): DataFrame =
    arrivals(spark, sfDir, "seq" -> lit(1L))
      .withColumn("batch_id", expr(s"(seq - 1) div $PadBatchSize"))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_reqs"),
        max(col("n_tok")).as("max_tok"),
        sum(col("n_tok")).cast("long").as("batch_tokens"))
      .withColumn("pad_tokens",
        col("n_reqs") * col("max_tok") - col("batch_tokens"))
      .withColumn("pad_pct_e6",
        expr("(pad_tokens * 1000000) div (n_reqs * max_tok)"))
      .select(col("batch_id"), col("n_reqs"), col("max_tok"),
        col("batch_tokens"), col("pad_tokens"), col("pad_pct_e6"))
      .orderBy(col("batch_id"))

  private val padWasteOracle =
    s"""WITH a AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |         ${Parity.md5KeySql("CAST(doc_id AS VARCHAR)")} AS ord
       |  FROM documents),
       |s AS (
       |  SELECT n_tok,
       |         (CAST(ROW_NUMBER() OVER (ORDER BY ord, doc_id) AS BIGINT)
       |          - 1) // $PadBatchSize AS batch_id
       |  FROM a),
       |b AS (SELECT batch_id, COUNT(*) AS n_reqs, MAX(n_tok) AS max_tok,
       |             CAST(SUM(n_tok) AS BIGINT) AS batch_tokens
       |      FROM s GROUP BY batch_id)
       |SELECT batch_id, n_reqs, max_tok, batch_tokens,
       |       n_reqs * max_tok - batch_tokens AS pad_tokens,
       |       ((n_reqs * max_tok - batch_tokens) * 1000000)
       |         // (n_reqs * max_tok) AS pad_pct_e6
       |FROM b ORDER BY batch_id""".stripMargin

  private val cbReplayOracle =
    s"""WITH a AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |         ${Parity.md5KeySql("CAST(doc_id AS VARCHAR)")} AS ord
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, n_tok,
       |         CAST(ROW_NUMBER() OVER (ORDER BY ord, doc_id) AS BIGINT)
       |           AS seq,
       |         CAST(SUM(n_tok) OVER (ORDER BY ord, doc_id
       |                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM a),
       |b AS (SELECT *, (cum - n_tok) // $CbBudget AS batch_id FROM s)
       |SELECT batch_id, COUNT(*) AS n_reqs,
       |       CAST(SUM(n_tok) AS BIGINT) AS batch_tokens,
       |       (CAST(SUM(n_tok) AS BIGINT) * 1000000) // $CbBudget
       |         AS fill_e6,
       |       GREATEST(CAST(SUM(n_tok) AS BIGINT) - $CbBudget, 0)
       |         AS overflow_tokens,
       |       MIN(seq) AS first_arrival, MAX(seq) AS last_arrival,
       |       COUNT(*) * batch_id AS sum_wait_steps
       |FROM b GROUP BY batch_id ORDER BY batch_id""".stripMargin

  // ------------------------------------------------------------ bloom prune
  /** Bloom-filter semi-join reduction — the 100 TB pattern for a join
    * whose build side is too big to broadcast AS ROWS but whose key set
    * compresses into a few-MB sketch: build the bloom over the dim keys
    * DISTRIBUTED (map-side partial sketches, one merge), ship the one
    * serialized filter to every probe task, and drop non-matching fact
    * rows BEFORE the join shuffle. This is exactly the machinery of
    * Spark's own `InjectRuntimeFilter` (BloomFilterAggregate +
    * BloomFilterMightContain, both codegen'd) invoked explicitly, so the
    * pruning is guaranteed rather than dependent on the optimizer's size
    * thresholds. Bloom filters have no false negatives, and the exact
    * shuffle join afterwards clears false positives — so the result is
    * BY CONSTRUCTION equal to the plain join, which is the oracle.
    * PipelineOpsSpec pins the pruning claim itself (pruned scan strictly
    * smaller, superset of true matches).
    */
  def bloomPrune(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.BloomExprs.register(spark)
    val dim = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 5000.0)
      .select(col("c_custkey"), col("c_acctbal"))
    // distributed sketch build; only the merged ~KB filter hits the
    // driver (the same engine→driver scalar hop as the k-factor fetch)
    val bf = dim
      .agg(call_function("bloom_agg", col("c_custkey"), lit(100000L)).as("bf"))
      .head().getAs[Array[Byte]](0)
    val pruned = Tables.orders(spark, sfDir)
      .filter(call_function("bloom_might_contain", lit(bf), col("o_custkey")))
    // SHUFFLE_HASH models the dim being un-broadcastable at scale: rows
    // shuffle, but only the pruned fact fraction pays the exchange
    pruned.join(dim.hint("shuffle_hash"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 4).as("revenue"),
        countDistinct(col("o_custkey")).as("n_custs"))
      .orderBy(col("o_orderpriority"))
  }

  private val bloomPruneOracle =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |       ROUND(SUM(o_totalprice), 4) AS revenue,
      |       COUNT(DISTINCT o_custkey) AS n_custs
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 5000.0
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ------------------------------------------------------------ train split
  /** Deterministic train/val/test split + shard export — the terminal
    * stage of a curation pipeline: every document is routed by the same
    * Knuth multiplicative hash the stratified sampler uses (content-
    * independent, engine-identical integer arithmetic, stable across
    * reruns and cluster sizes), a SECOND odd multiplier assigns the
    * shard file within each split (independent of the split hash), and
    * the corpus is written `partitionBy(split, shard)` — the directory
    * layout a training loader consumes. The read-back aggregate means a
    * lost or double-written shard fails the oracle's recomputed split
    * accounting. At 100 TB: one hash projection + one partitioned
    * write; no shuffle beyond the write's own file routing.
    */
  def trainSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val tbl = s"${graft.etl.Medallion.warehouse(sfDir)}/train_splits"
    val p = new org.apache.hadoop.fs.Path(tbl)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)

    val hashed = Tables.documents(spark, sfDir)
      .withColumn("bucket", Parity.mixBucket(col("doc_id"), 2654435761L, 100))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val").otherwise("test"))
      .withColumn("shard", Parity.mixBucket(col("doc_id"), 2246822519L, 8))
    hashed.select(col("doc_id"), col("text"), col("lang"), col("split"),
        col("shard"))
      .write.partitionBy("split", "shard").mode("overwrite").parquet(tbl)

    spark.read.parquet(tbl)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("shard")).as("n_shards"),
        sum(size(split(col("text"), " "))).cast("long").as("tokens"))
      .orderBy(col("split"))
  }

  private val trainSplitOracle =
    """WITH h AS (
      |  SELECT doc_id, text,
      |         (((doc_id % 2147483648) * 2654435761) % 4294967296) % 100 AS bucket,
      |         (((doc_id % 2147483648) * 2246822519) % 4294967296) % 8 AS shard
      |  FROM documents)
      |SELECT CASE WHEN bucket < 80 THEN 'train'
      |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
      |       COUNT(*) AS n_docs, COUNT(DISTINCT shard) AS n_shards,
      |       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
      |FROM h GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------ funnel
  /** Typed per-group funnel metrics via `KeyValueGroupedDataset
    * .mapGroups` — the batch face of the typed-Dataset surface the
    * streaming sessionizer already exercises (`flatMapGroupsWithState`).
    * mapGroups is the right altitude when per-key logic is genuinely
    * imperative; here the group fold is a single pass of min/count
    * accumulators (ORDER-INDEPENDENT, so the undefined group iteration
    * order cannot leak into results), and the plan is one shuffle on
    * user_id — the same exchange a groupBy would pay, with no
    * accumulation of group rows in memory. The oracle states the same
    * semantics relationally (min-purchase join + conditional counts),
    * pinning the typed path against the SQL path.
    */
  private[graft] final case class FunnelRow(
      user_id: Long, event_type: String, ms: Long)
  private[graft] final case class Funnel(
      user_id: Long, n_views_before: Long, latency_ms: Option[Long])

  private[graft] final case class WfDepth(user_id: Long, depth: Int)

  /** ClickHouse-style windowFunnel: the deepest prefix of the ordered
    * chain view → click → purchase a user completes with every step
    * inside a 6-hour window anchored at the chain's FIRST step; output
    * is the depth histogram (0..3) — the conversion report a growth
    * team reads.
    *
    * The Spark side is a typed per-user fold over the three sorted
    * timestamp arrays using the greedy-earliest lemma (taking the
    * EARLIEST qualifying step at each stage never forecloses a deeper
    * chain, since any later qualifying pair remains qualifying for the
    * earlier anchor) — O(n log n) per user, order-independent in ties
    * because only millisecond values enter the comparisons. The oracle
    * states the same semantics as a relational EXISTS chain
    * (v ⋈ c ⋈ p with window predicates) — a genuinely different
    * algorithm. One shuffle on user_id; per-user state is three
    * bounded arrays (cap noted for adversarial users at 100 TB).
    */
  private val WfWindowMs = 21600000L // 6 hours

  def windowFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"))
      .as[FunnelRow]
      .groupByKey(_.user_id)
      .mapGroups { (uid, evs) =>
        val v = scala.collection.mutable.ArrayBuffer.empty[Long]
        val c = scala.collection.mutable.ArrayBuffer.empty[Long]
        val p = scala.collection.mutable.ArrayBuffer.empty[Long]
        evs.foreach { e =>
          e.event_type match {
            case "view"     => v += e.ms
            case "click"    => c += e.ms
            case "purchase" => p += e.ms
            case _          =>
          }
        }
        val cs = c.sorted; val ps = p.sorted
        // min element of `xs` that is >= lo, or MaxValue
        def ceil(xs: scala.collection.IndexedSeq[Long], lo: Long): Long = {
          var l = 0; var r = xs.length
          while (l < r) { val m = (l + r) >>> 1
            if (xs(m) >= lo) r = m else l = m + 1 }
          if (l < xs.length) xs(l) else Long.MaxValue
        }
        var depth = 0
        v.foreach { anchor =>
          if (depth < 1) depth = 1
          val hi = anchor + WfWindowMs
          val click = ceil(cs, anchor)
          if (click <= hi) {
            if (depth < 2) depth = 2
            if (depth < 3 && ceil(ps, click) <= hi) depth = 3
          }
        }
        WfDepth(uid, depth)
      }
      .toDF()
      .groupBy(col("depth")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("depth"))
  }

  private val windowFunnelOracle =
    s"""WITH e AS (
       |  SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
       |v AS (SELECT user_id, ms FROM e WHERE event_type = 'view'),
       |c AS (SELECT user_id, ms FROM e WHERE event_type = 'click'),
       |p AS (SELECT user_id, ms FROM e WHERE event_type = 'purchase'),
       |d3 AS (
       |  SELECT DISTINCT v.user_id FROM v
       |  JOIN c ON c.user_id = v.user_id
       |        AND c.ms >= v.ms AND c.ms <= v.ms + $WfWindowMs
       |  JOIN p ON p.user_id = v.user_id
       |        AND p.ms >= c.ms AND p.ms <= v.ms + $WfWindowMs),
       |d2 AS (
       |  SELECT DISTINCT v.user_id FROM v
       |  JOIN c ON c.user_id = v.user_id
       |        AND c.ms >= v.ms AND c.ms <= v.ms + $WfWindowMs),
       |d1 AS (SELECT DISTINCT user_id FROM v),
       |u AS (SELECT DISTINCT user_id FROM e)
       |SELECT depth, COUNT(*) AS n_users FROM (
       |  SELECT u.user_id,
       |         CASE WHEN u.user_id IN (SELECT user_id FROM d3) THEN 3
       |              WHEN u.user_id IN (SELECT user_id FROM d2) THEN 2
       |              WHEN u.user_id IN (SELECT user_id FROM d1) THEN 1
       |              ELSE 0 END AS depth
       |  FROM u)
       |GROUP BY depth ORDER BY depth""".stripMargin

  def funnelMapGroups(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"))
      .as[FunnelRow]
      .groupByKey(_.user_id)
      .mapGroups { (uid, evs) =>
        var firstPurchase = Long.MaxValue
        var firstView = Long.MaxValue
        val views = scala.collection.mutable.ArrayBuffer.empty[Long]
        evs.foreach { e =>
          if (e.event_type == "purchase" && e.ms < firstPurchase)
            firstPurchase = e.ms
          else if (e.event_type == "view") { views += e.ms }
        }
        if (firstPurchase == Long.MaxValue) Funnel(uid, -1L, None)
        else {
          val before = views.filter(_ < firstPurchase)
          if (before.isEmpty) Funnel(uid, 0L, None)
          else Funnel(uid, before.length.toLong,
            Some(firstPurchase - before.min))
        }
      }
      .filter(_.n_views_before >= 0L) // users with no purchase drop out
      .toDF()
      .orderBy(col("user_id"))
  }

  private val funnelOracle =
    """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
      |p AS (SELECT user_id, MIN(ms) AS fp FROM e
      |      WHERE event_type = 'purchase' GROUP BY user_id),
      |v AS (SELECT e.user_id, COUNT(*) AS nv, MIN(ms) AS fv
      |      FROM e JOIN p USING (user_id)
      |      WHERE event_type = 'view' AND ms < fp
      |      GROUP BY e.user_id)
      |SELECT p.user_id, COALESCE(nv, 0) AS n_views_before,
      |       fp - fv AS latency_ms
      |FROM p LEFT JOIN v ON p.user_id = v.user_id
      |ORDER BY p.user_id""".stripMargin

  // ------------------------------------------------------------ cogroup
  /** Typed two-sided cogroup — orders ⟗ lineitem reconciliation by order
    * key via `KeyValueGroupedDataset.cogroup`: both sides shuffle ONCE on
    * the key and the pair of group iterators is folded in a single pass
    * (order-independent accumulators, nothing materialized), the typed
    * altitude for per-key logic that needs BOTH sides at once — here the
    * header-vs-detail invariant check (how many detail rows and how much
    * detail price each order carries, including keys present on only one
    * side). The oracle states the same semantics relationally as a
    * FULL OUTER join of the two grouped sides, pinning the typed path
    * against the SQL path.
    */
  private[graft] final case class OrderSide(k: Long, price: Double)
  private[graft] final case class ReconRow(
      n_items: Long, total_price: Double, item_sum: Double)

  def cogroupRecon(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
      .as[OrderSide]
    val l = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("k"), col("l_extendedprice").as("price"))
      .as[OrderSide]
    o.groupByKey(_.k).cogroup(l.groupByKey(_.k)) { (_, os, ls) =>
      var tp = 0.0
      os.foreach { r => tp += r.price }
      var nL = 0L; var isum = 0.0
      ls.foreach { r => nL += 1; isum += r.price }
      Iterator(ReconRow(nL, tp, isum))
    }
      .toDF()
      .groupBy(col("n_items"))
      .agg(count(lit(1)).as("n_keys"),
        round(sum(col("item_sum")), 4).as("item_price_sum"),
        round(sum(col("total_price")), 4).as("order_price_sum"))
      .orderBy(col("n_items"))
  }

  private val cogroupReconOracle =
    """WITH o AS (SELECT o_orderkey AS k, SUM(o_totalprice) AS tp
      |           FROM orders GROUP BY 1),
      |     l AS (SELECT l_orderkey AS k, COUNT(*) AS n_items,
      |                  SUM(l_extendedprice) AS isum
      |           FROM lineitem GROUP BY 1)
      |SELECT COALESCE(l.n_items, 0) AS n_items,
      |       COUNT(*) AS n_keys,
      |       ROUND(SUM(COALESCE(isum, 0)), 4) AS item_price_sum,
      |       ROUND(SUM(COALESCE(tp, 0)), 4) AS order_price_sum
      |FROM o FULL OUTER JOIN l ON o.k = l.k
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------ nested export
  /** Nested-record export — the denormalized delivery shape a training
    * dataloader reads (one row per document: metadata STRUCT + an
    * ARRAY<STRUCT> of 32-token chunks with per-chunk hashes), written
    * to parquet and READ BACK through [[graft.etl.Medallion
    * .materializeOnce]] so the nested schema's parquet round-trip is
    * part of what the oracle checks. The reference has no nested types
    * (SURVEY §1.2); this is the Spark/Parquet capability class that
    * replaces the "one flat table per join" delivery with
    * self-contained records. The emitted audit is flat: per doc, the
    * chunk count, the token-mass conservation (Σ chunk tokens ==
    * n_tok — non-overlapping chunks must cover exactly), and an md5
    * chain over the in-order chunk hashes (order-sensitive by
    * construction, so a shuffled array would surface loudly).
    *
    * Scale shape: chunking and struct assembly are map-side; the write
    * is partition-parallel; the audit is one narrow projection over
    * the read-back. Nothing shuffles except the final orderBy.
    */
  private val NestedChunk = 32

  def nestedExport(spark: SparkSession, sfDir: String): DataFrame = {
    val recs = Tables.documents(spark, sfDir)
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"),
        struct(col("lang"), col("source"),
          size(col("w")).cast("long").as("n_tok")).as("meta"),
        expr(
          s"""transform(
             |  sequence(0, CAST(ceil(size(w) / $NestedChunk.0) AS INT) - 1),
             |  i -> named_struct(
             |    'idx', i,
             |    'n_tok', size(slice(w, i * $NestedChunk + 1, $NestedChunk)),
             |    'h', md5(CAST(concat_ws(' ', slice(w, i * $NestedChunk + 1, $NestedChunk)) AS BINARY))))""".stripMargin)
          .as("chunks"))
    graft.etl.Medallion.materializeOnce(spark,
        s"${graft.etl.Medallion.warehouse(sfDir)}/nested_docs")(recs)
      .select(col("doc_id"), col("meta.lang").as("lang"),
        col("meta.n_tok").as("n_tok"),
        size(col("chunks")).as("n_chunks"),
        expr("aggregate(chunks, 0L, (a, c) -> a + c.n_tok)")
          .as("chunk_tok_sum"),
        md5(expr("concat_ws('', transform(chunks, c -> c.h))").cast("binary"))
          .as("chain_md5"))
      .orderBy(col("doc_id"))
  }

  private val nestedExportOracle =
    s"""WITH chunks AS (
       |  SELECT doc_id, i,
       |         array_to_string(w[i*$NestedChunk+1 : i*$NestedChunk+$NestedChunk], ' ') AS chunk
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |       LATERAL unnest(range(0, CAST(ceil(len(w) / $NestedChunk.0) AS BIGINT))) AS t(i)),
       |audit AS (
       |  SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_chunks,
       |         CAST(SUM(len(string_split(chunk, ' '))) AS BIGINT) AS chunk_tok_sum,
       |         md5(string_agg(md5(chunk), '' ORDER BY i)) AS chain_md5
       |  FROM chunks GROUP BY doc_id)
       |SELECT d.doc_id, d.lang,
       |       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
       |       a.n_chunks, a.chunk_tok_sum, a.chain_md5
       |FROM documents d JOIN audit a USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ token bucket
  /** Token-bucket rate-limiter audit: per user, replay events in time
    * order against a bucket of capacity [[TbCap]] — a `purchase`
    * refills by ⌊value⌋ (clamped at capacity), every other event spends
    * one token, and a spend at an empty bucket is REJECTED. Reports the
    * terminal state and rejection count per user — the throttling
    * audit an API platform runs.
    *
    * The clamped fold is NON-ASSOCIATIVE (max/min clamp between every
    * step), so no window frame or aggregate can express it — this is
    * the typed-Dataset altitude ([[windowFunnel]] doctrine): one
    * shuffle on user_id, an explicit in-group sort by (ms, event_id)
    * (group iteration order is undefined — ORDER MUST BE FORCED), and
    * O(events-per-user) memory. The oracle replays the identical fold
    * as a DuckDB RECURSIVE CTE stepping all users in lockstep — a
    * completely different evaluation strategy with the same semantics.
    */
  private val TbCap = 100L

  private[graft] final case class TbEvent(
      user_id: Long, ms: Long, event_id: Long, delta: Long)

  def tokenBucket(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("event_id"),
        when(col("event_type") === "purchase",
          expr("cast(floor(value) as bigint)")).otherwise(lit(-1L)).as("delta"))
      .as[TbEvent]
      .groupByKey(_.user_id)
      .mapGroups { (uid, evs) =>
        var bal = 0L; var peak = 0L
        var rej = 0L; var refills = 0L; var spends = 0L
        evs.toArray.sortBy(e => (e.ms, e.event_id)).foreach { e =>
          if (e.delta >= 0) { refills += 1; bal = math.min(TbCap, bal + e.delta) }
          else { spends += 1; if (bal == 0) rej += 1 else bal -= 1 }
          peak = math.max(peak, bal)
        }
        (uid, bal, peak, rej, refills, spends)
      }
      .toDF("user_id", "final_balance", "peak_balance", "n_rejected",
        "n_refills", "n_spends")
      .orderBy(col("user_id"))
  }

  private val tokenBucketOracle =
    s"""WITH RECURSIVE ev AS (
       |  SELECT user_id,
       |         ROW_NUMBER() OVER (PARTITION BY user_id
       |                            ORDER BY epoch_ms(ts), event_id) AS i,
       |         CASE WHEN event_type = 'purchase'
       |              THEN CAST(FLOOR(value) AS BIGINT) ELSE -1 END AS delta
       |  FROM events),
       |n AS (SELECT user_id, MAX(i) AS mx FROM ev GROUP BY 1),
       |walk AS (
       |  SELECT user_id, 0 AS i, CAST(0 AS BIGINT) AS bal,
       |         CAST(0 AS BIGINT) AS peak, CAST(0 AS BIGINT) AS rej
       |  FROM n
       |  UNION ALL
       |  SELECT w.user_id, w.i + 1,
       |         CASE WHEN e.delta >= 0 THEN LEAST($TbCap, w.bal + e.delta)
       |              WHEN w.bal = 0 THEN 0 ELSE w.bal - 1 END,
       |         GREATEST(w.peak,
       |           CASE WHEN e.delta >= 0 THEN LEAST($TbCap, w.bal + e.delta)
       |                WHEN w.bal = 0 THEN 0 ELSE w.bal - 1 END),
       |         w.rej + CASE WHEN e.delta < 0 AND w.bal = 0 THEN 1 ELSE 0 END
       |  FROM walk w JOIN ev e ON e.user_id = w.user_id AND e.i = w.i + 1),
       |cnt AS (
       |  SELECT user_id,
       |         CAST(SUM(CASE WHEN delta >= 0 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_refills,
       |         CAST(SUM(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_spends
       |  FROM ev GROUP BY 1)
       |SELECT w.user_id, w.bal AS final_balance, w.peak AS peak_balance,
       |       w.rej AS n_rejected, c.n_refills, c.n_spends
       |FROM walk w
       |JOIN n ON n.user_id = w.user_id AND w.i = n.mx
       |JOIN cnt c ON c.user_id = w.user_id
       |ORDER BY w.user_id""".stripMargin

  // --------------------------------------------------- target encoding
  /** Smoothing pseudo-count for [[targetEncode]] (the "m" in the
    * m-estimate: category mean shrunk toward the global prior by m
    * virtual prior-valued rows). */
  private val TeM = 20L

  /** Leakage-safe K-fold target encoding — the feature-engineering
    * staple for categoricals: each (category, fold) cell gets the mean
    * target computed from the OTHER folds only (so a training row
    * never sees its own label), plus the m-estimate smoothed variant
    * ((S_oof + m·prior) / (N_oof + m), m = [[TeM]]) that keeps rare
    * categories from memorizing noise. Category = order priority,
    * target = order cents, folds = the house multiplicative hash of
    * the order key ([[Parity.mixBucket]] — deterministic, both
    * engines).
    *
    * Scale shape: out-of-fold means need NO per-fold passes — ONE
    * hash aggregation per (category, fold) plus a category rollup,
    * then `oof = (S_cat − s_fold) / (N_cat − n_fold)` cell-wise. The
    * output is category×K rows (tiny) that broadcast-join back onto
    * the training set; the fact table is scanned once. All-integer
    * cent arithmetic: the global prior is FLOORED ONCE to whole cents
    * (prior_c = S_tot div N_tot — a ≤1-cent quantization, defined
    * identically in both engines) so the smoothed numerator is
    * S_oof·100 + m·prior_c·100 ≈ 1.5e9 per order — a long holds it
    * through ~6e9 orders. (The algebraically-pure form multiplies
    * S_oof by N_tot and overflows past ~1.7e6 orders — a bound this
    * docstring once overstated by two orders of magnitude; the
    * floored-prior form is what you can actually run at 100 TB.)
    */
  def targetEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority").as("category"),
        Parity.mixBucket(col("o_orderkey"), 2654435761L, 5L).as("fold"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    // category×K rows; checkpointing makes the category and global
    // rollups read THIS frame instead of re-executing the fact scan
    // (three scans of orders otherwise — pinned to one in PlanSpec)
    val perFold = o.groupBy(col("category"), col("fold"))
      .agg(count(lit(1)).as("n_f"), sum(col("cents")).as("s_f"))
      .localCheckpoint()
    val perCat = perFold.groupBy(col("category"))
      .agg(sum(col("n_f")).as("n_cat"), sum(col("s_f")).as("s_cat"))
    val tot = perCat.agg(expr("sum(s_cat) DIV sum(n_cat)").as("prior_c"))
    perFold.join(broadcast(perCat), Seq("category")).crossJoin(broadcast(tot))
      .select(col("category"), col("fold"), col("n_f"),
        (col("n_cat") - col("n_f")).as("n_oof"),
        expr("(s_cat - s_f) DIV NULLIF(n_cat - n_f, 0)").as("oof_cents"),
        expr(s"((s_cat - s_f) + $TeM * prior_c) * 100 DIV " +
          s"((n_cat - n_f) + $TeM)").as("smooth_c100"))
      .orderBy(col("category"), col("fold"))
  }

  private val targetEncodeOracle = {
    val fold = Parity.mixBucketSql("o_orderkey", 2654435761L, 5L)
    s"""WITH o AS (
       |  SELECT o_orderpriority AS category, $fold AS fold,
       |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders),
       |pf AS (SELECT category, fold, COUNT(*) AS n_f,
       |              CAST(SUM(cents) AS BIGINT) AS s_f
       |       FROM o GROUP BY 1, 2),
       |pc AS (SELECT category, CAST(SUM(n_f) AS BIGINT) AS n_cat,
       |              CAST(SUM(s_f) AS BIGINT) AS s_cat
       |       FROM pf GROUP BY 1),
       |t AS (SELECT CAST(SUM(s_cat) // SUM(n_cat) AS BIGINT)
       |             AS prior_c FROM pc)
       |SELECT pf.category, fold, n_f, n_cat - n_f AS n_oof,
       |       (s_cat - s_f) // NULLIF(n_cat - n_f, 0) AS oof_cents,
       |       ((s_cat - s_f) + $TeM * prior_c) * 100
       |         // ((n_cat - n_f) + $TeM) AS smooth_c100
       |FROM pf JOIN pc ON pc.category = pf.category CROSS JOIN t
       |ORDER BY pf.category, fold""".stripMargin
  }

  // ---------------------------------------------------- systematic PPS
  /** Target sample size for [[ppsSample]]. */
  private val PpsK = 50L

  /** Systematic probability-proportional-to-size sampling — the
    * weighted sampling a curation pipeline uses when long documents
    * should be picked proportionally more often (weight = chars), with
    * NO randomness to de-flake: a document is selected iff the
    * sampling grid (step = total_weight/[[PpsK]]) has a tick inside
    * its cumulative-weight interval — `cum DIV step` increases across
    * the row. Pure integer arithmetic, deterministic, and every
    * selection probability is exactly w/step (capped at 1).
    *
    * The cumulative weight is [[PrefixSum.running]] over
    * [[PrefixSum.idChunk]] chunks, and the step comes from its total;
    * the DuckDB oracle computes the same sums with the single global
    * window, so the compare cross-validates the rewrite.
    */
  def ppsSample(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars").as("wt"))
    PrefixSum.running(docs, PrefixSum.idChunk(docs, "doc_id"),
        Seq(col("doc_id")), "cum" -> col("wt"))
      .withColumn("step", expr(s"cum_total DIV $PpsK"))
      .filter(expr("cum DIV step > (cum - wt) DIV step"))
      .select(col("doc_id"), col("wt"), col("cum"))
      .orderBy(col("doc_id"))
  }

  private val ppsSampleOracle =
    s"""WITH c AS (
       |  SELECT doc_id, n_chars AS wt,
       |         CAST(SUM(n_chars) OVER (ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |              AS BIGINT) AS cum
       |  FROM documents),
       |s AS (SELECT SUM(n_chars) // $PpsK AS step FROM documents)
       |SELECT doc_id, wt, cum
       |FROM c, s
       |WHERE cum // step > (cum - wt) // step
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------- weighted reservoir sample
  /** Per-stratum size for [[weightedReservoir]]. */
  private val WrK = 16

  /** Weighted reservoir sampling without replacement (Efraimidis &
    * Spirakis 2006, A-ES) — the ONE-PASS weighted sampler a streaming
    * or sharded pipeline actually runs ([[ppsSample]] is its
    * systematic fixed-step sibling; this is the order-sampling form
    * that composes with top-k machinery): each doc draws an
    * exponential clock e = −ln(u)/w, the k SMALLEST clocks per source
    * win — provably a weighted sample without replacement. u is the
    * md5-lattice uniform ((m48+1)/(2^48+1) ∈ (0,1)), so the draw is
    * deterministic and engine-shared. ln() may differ by an ulp across
    * libm implementations, but clocks of distinct docs are md5-spread
    * ≫ 1 ulp apart, so SELECTION and RANKING are stable (the clock
    * itself is not an output column for exactly that reason).
    *
    * Scale shape: map-side clock, then rank-per-source — the
    * WindowGroupLimit shape ([[q_topk_per_group]]): Spark rewrites the
    * rank-≤-k filter into a per-partition partial top-k before the
    * exchange, which IS the distributed reservoir merge (each shard
    * keeps its k best, the merge keeps the k best of those). */
  def weightedReservoir(spark: SparkSession, sfDir: String): DataFrame = {
    val clocked = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("n_chars").as("wt"))
      .withColumn("u", (expr(Parity.md5KeyExpr(
        "CAST(concat('wr_', doc_id) AS BINARY)", 12)) + 1) /
        lit(281474976710657.0)) // (m48+1)/(2^48+1)
      .withColumn("clock", -log(col("u")) / col("wt"))
    clocked
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("clock"), col("doc_id"))))
      .filter(col("rk") <= WrK)
      .select(col("source"), col("rk"), col("doc_id"), col("wt"))
      .orderBy(col("source"), col("rk"))
  }

  private val weightedReservoirOracle =
    s"""WITH c AS (
       |  SELECT doc_id, source, n_chars AS wt,
       |         -ln((${Parity.md5KeySql("'wr_' || doc_id", 12)} + 1)
       |             / 281474976710657.0) / n_chars
       |           AS clock
       |  FROM documents),
       |r AS (SELECT source, doc_id, wt,
       |             row_number() OVER (PARTITION BY source
       |               ORDER BY clock, doc_id) AS rk
       |      FROM c)
       |SELECT source, CAST(rk AS INTEGER) AS rk, doc_id, wt
       |FROM r WHERE rk <= $WrK
       |ORDER BY source, rk""".stripMargin

  // ---------------------------------------------- length-bucketed batching
  /** Batch size for [[lengthBatching]]. */
  private val LbBatch = 32L

  /** Length-bucketed batching audit — the padding-waste measurement
    * behind every "sort by length before batching" training-loader
    * trick: fixed-size batches of [[LbBatch]] docs are formed two ways
    * from the same corpus — ARRIVAL order (doc_id) and LENGTH order
    * (chars, id tiebreak) — and each batch pays
    * Σ(batch_max_len − len) padding. One result row quantifies the
    * win: bucketed batching cuts padding because same-length docs
    * share batches (a spec asserts the inequality, the oracle pins
    * the numbers).
    *
    * Scale shape: forming batches by rank IS a global sort — Spark's
    * native range-partitioned sort, the one operation entitled to it
    * (the loader must emit batches in SOME deterministic order). The
    * padding rollup is a (batch) hash aggregation over batch ids
    * computed from the rank, and the two orderings reuse one scan.
    * At 100 TB the same plan runs per epoch-shard rather than
    * globally — the comparison logic is unchanged.
    */
  def lengthBatching(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars").as("len"))
    def waste(ordered: org.apache.spark.sql.Column*): DataFrame =
      docs.withColumn("rn", row_number().over(w.orderBy(ordered: _*)))
        .withColumn("batch", expr(s"(rn - 1) DIV $LbBatch"))
        .groupBy(col("batch"))
        .agg(count(lit(1)).as("n"), max(col("len")).as("mx"),
          sum(col("len")).as("s"))
        .agg(count(lit(1)).as("n_batches"),
          sum(col("n") * col("mx") - col("s")).as("pad"))
    val arrival = waste(col("doc_id"))
      .select(col("n_batches"), col("pad").as("pad_arrival"))
    val bucketed = waste(col("len"), col("doc_id"))
      .select(col("pad").as("pad_bucketed"))
    arrival.crossJoin(bucketed)
      .crossJoin(broadcast(docs.agg(sum(col("len")).as("tokens"))))
      .select(col("n_batches"), col("tokens"), col("pad_arrival"),
        col("pad_bucketed"),
        expr("pad_arrival * 1000000 DIV (tokens + pad_arrival)")
          .as("waste_arrival_e6"),
        expr("pad_bucketed * 1000000 DIV (tokens + pad_bucketed)")
          .as("waste_bucketed_e6"))
  }

  private val lengthBatchingOracle =
    s"""WITH d AS (SELECT doc_id, n_chars AS len FROM documents),
       |ra AS (SELECT len, (row_number() OVER (ORDER BY doc_id) - 1)
       |                   // $LbBatch AS b FROM d),
       |aa AS (SELECT COUNT(*) AS n_batches,
       |              CAST(SUM(n * mx - s) AS BIGINT) AS pad
       |       FROM (SELECT b, COUNT(*) AS n, MAX(len) AS mx, SUM(len) AS s
       |             FROM ra GROUP BY b)),
       |rb AS (SELECT len, (row_number() OVER (ORDER BY len, doc_id) - 1)
       |                   // $LbBatch AS b FROM d),
       |bb AS (SELECT CAST(SUM(n * mx - s) AS BIGINT) AS pad
       |       FROM (SELECT b, COUNT(*) AS n, MAX(len) AS mx, SUM(len) AS s
       |             FROM rb GROUP BY b)),
       |t AS (SELECT CAST(SUM(len) AS BIGINT) AS tokens FROM d)
       |SELECT n_batches, tokens, aa.pad AS pad_arrival, bb.pad AS pad_bucketed,
       |       aa.pad * 1000000 // (tokens + aa.pad) AS waste_arrival_e6,
       |       bb.pad * 1000000 // (tokens + bb.pad) AS waste_bucketed_e6
       |FROM aa, bb, t""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_length_batching" -> (lengthBatching _),
    "q_pps_sample" -> (ppsSample _),
    "q_weighted_reservoir" -> (weightedReservoir _),
    "q_target_encode" -> (targetEncode _),
    "q_token_bucket" -> (tokenBucket _),
    "q_nested_export" -> (nestedExport _),
    "q_cogroup" -> (cogroupRecon _),
    "q_funnel_mapgroups" -> (funnelMapGroups _),
    "q_window_funnel" -> (windowFunnel _),
    "q_train_split" -> (trainSplit _),
    "q_bloom_prune" -> (bloomPrune _),
    "q_doc_chunking" -> (docChunking _),
    "q_seq_packing" -> (seqPacking _),
    "q_cb_replay" -> (cbReplay _),
    "q_pad_waste" -> (padWaste _),
    "q_dp_balance" -> (dpBalance _),
    "q_tp_comm" -> (tpComm _),
    "q_skew_join" -> (skewJoin _),
    "q_asof_join" -> (asofJoin _),
    "q_range_join" -> (rangeJoin _),
    "q_decontaminate" -> (decontaminate _),
    "q_decontam_graded" -> (decontamGraded _),
    "q_pii_redact" -> (piiRedact _),
    "q_stratified_sample" -> (stratifiedSample _),
    "q_repetition_stats" -> (repetitionStats _),
    "q_topk_per_group" -> (topkPerGroup _)
  )

  def oracles: Map[String, String] = Map(
    "q_length_batching" -> lengthBatchingOracle,
    "q_pps_sample" -> ppsSampleOracle,
    "q_weighted_reservoir" -> weightedReservoirOracle,
    "q_target_encode" -> targetEncodeOracle,
    "q_token_bucket" -> tokenBucketOracle,
    "q_nested_export" -> nestedExportOracle,
    "q_cogroup" -> cogroupReconOracle,
    "q_funnel_mapgroups" -> funnelOracle,
    "q_window_funnel" -> windowFunnelOracle,
    "q_train_split" -> trainSplitOracle,
    "q_bloom_prune" -> bloomPruneOracle,
    "q_doc_chunking" -> docChunkingOracle,
    "q_seq_packing" -> seqPackingOracle,
    "q_cb_replay" -> cbReplayOracle,
    "q_pad_waste" -> padWasteOracle,
    "q_dp_balance" -> dpBalanceOracle,
    "q_tp_comm" -> tpCommOracle,
    "q_skew_join" -> skewJoinOracle,
    "q_asof_join" -> asofJoinOracle,
    "q_range_join" -> rangeJoinOracle,
    "q_decontaminate" -> decontaminateOracle,
    "q_decontam_graded" -> decontamGradedOracle,
    "q_pii_redact" -> piiRedactOracle,
    "q_stratified_sample" -> stratifiedSampleOracle,
    "q_repetition_stats" -> repetitionStatsOracle,
    "q_topk_per_group" -> topkPerGroupOracle
  )
}

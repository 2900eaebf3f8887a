package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-curation operators — the data-SELECTION layer of a training
  * pipeline, downstream of the cleaning/dedup families in TextOps /
  * DedupOps: importance-weighted selection toward a target distribution
  * (the DSIR construction), budgeted top-p selection, sketch-based
  * frequency monitoring, normalization-aware duplicate accounting, and
  * capacity-capped mixture allocation.
  *
  * All five are single-digit-shuffle plans over the token stream or its
  * vocab-sized aggregate, with every cross-engine comparison pushed onto
  * integer lattices (micro-nat quantization before any sum; half-up /
  * floor integer division instead of float division) so the DuckDB
  * oracle hash-matches by exact arithmetic, not by luck — the same
  * parity discipline as [[TextOps]] (see unigramLogprob/temperatureMix).
  */
object CurationOps {

  // ------------------------------------------------------ DSIR weights
  /** Importance weights for data selection (the DSIR construction —
    * Xie et al. 2023, "Data Selection for Language Models via Importance
    * Resampling"): score every document by how much more likely its
    * unigrams are under a TARGET distribution (here: the English slice,
    * the largest lang) than under the full-corpus distribution,
    * log w(d) = Σ_t n_t(d)·[ln p̂_tgt(t) − ln p̂_all(t)] with add-1
    * smoothing over the shared vocab. High-weight docs "look like" the
    * target; resampling by these weights steers a 100 TB crawl toward a
    * curated domain without training a classifier.
    *
    * Scale shape: ONE token explode feeds a vocab-sized groupBy that
    * counts target and corpus occurrences in the same pass (conditional
    * aggregation — no second scan); totals are a one-row aggregate OF
    * the vocab table, not the stream. The per-term log-ratio is
    * quantized to integer micro-nats and joined back unhinted (AQE
    * broadcasts the vocab table at small SF only), so the per-doc
    * reduction is an exact integer sum — order-free, partial-agg'd,
    * skew-irrelevant. The corpus shuffles once (doc_id), the vocab twice
    * (tiny). Parity: both engines evaluate the same two-ln expression
    * tree on exact integer inputs; ≤1-ulp ln noise is absorbed by the
    * e6 round except at exact half-boundaries (same accepted risk as
    * unigramLogprob, green since round 4).
    */
  private val DsirTarget = "en"

  def importanceWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("term"))
    val freqs = toks.groupBy(col("term"))
      .agg(count(lit(1)).as("tf_all"),
        sum(when(col("lang") === DsirTarget, 1L).otherwise(0L)).as("tf_tgt"))
    val tot = freqs.agg(sum(col("tf_all")).as("n_all"),
      sum(col("tf_tgt")).as("n_tgt"), count(lit(1)).as("vocab"))
    val lr = freqs.crossJoin(broadcast(tot))
      .withColumn("lr_e6",
        round((log((col("tf_tgt") + lit(1L)).cast("double") /
            (col("n_tgt") + col("vocab"))) -
          log((col("tf_all") + lit(1L)).cast("double") /
            (col("n_all") + col("vocab")))) * lit(1000000.0), 0)
          .cast("long"))
      .select(col("term"), col("lr_e6"))
    // lr is vocab-sized — unhinted (AQE broadcasts at small SF,
    // shuffle-joins on the term key at 100 TB; a forced hint would
    // hard-fail at the 8 GB broadcast limit).
    toks.join(lr, Seq("term"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tok"), sum(col("lr_e6")).as("slr"))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        round(col("slr").cast("double") / col("n_tok") / lit(1000000.0), 6)
          .as("dsir_w"))
      .orderBy(col("doc_id"))
  }

  private val importanceWeightsOracle =
    s"""WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
       |              FROM documents),
       |freqs AS (SELECT term, COUNT(*) AS tf_all,
       |                 CAST(SUM(CASE WHEN lang = '$DsirTarget' THEN 1 ELSE 0 END)
       |                      AS BIGINT) AS tf_tgt
       |          FROM toks GROUP BY term),
       |tot AS (SELECT CAST(SUM(tf_all) AS BIGINT) AS n_all,
       |               CAST(SUM(tf_tgt) AS BIGINT) AS n_tgt,
       |               COUNT(*) AS vocab
       |        FROM freqs),
       |lr AS (SELECT term,
       |              CAST(ROUND((ln(CAST(tf_tgt + 1 AS DOUBLE) / (n_tgt + vocab)) -
       |                          ln(CAST(tf_all + 1 AS DOUBLE) / (n_all + vocab)))
       |                         * 1000000.0) AS BIGINT) AS lr_e6
       |       FROM freqs CROSS JOIN tot)
       |SELECT doc_id, lang, COUNT(*) AS n_tok,
       |       ROUND(CAST(SUM(lr_e6) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
       |         AS dsir_w
       |FROM toks JOIN lr USING (term)
       |GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- nucleus filter
  /** Budgeted top-p ("nucleus") selection per language: rank each
    * language's documents by token mass (desc, doc_id tiebreak) and keep
    * the head whose cumulative mass stays within 80% of the language
    * total — the "keep the bulk, drop the long tail" selection rule a
    * pipeline applies per stratum when the token budget is a fraction of
    * the crawl. The 80% gate is the EXACT integer predicate
    * 5·cum ≤ 4·tot — no float share, no rounding boundary.
    *
    * Scale shape: one narrow row per doc (id, lang, token count) is all
    * that sorts — the text never moves. Per-lang cumulative sums are a
    * sort-window within each language partition; languages are few and
    * internally large, and at 100 TB the ranking would run per-lang on
    * the token-count column only (a secondary-sort shuffle of ~12-byte
    * rows), then the keep set joins back by doc_id. The report
    * aggregates per lang, so output is |langs| rows.
    */
  def nucleusFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("tok"))
    val wCum = Window.partitionBy(col("lang"))
      .orderBy(col("tok").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("lang"))
    d.withColumn("cum", sum(col("tok")).over(wCum))
      .withColumn("tot", sum(col("tok")).over(wTot))
      .withColumn("keep", col("cum") * 5 <= col("tot") * 4)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("tok")).as("tokens_total"),
        sum(when(col("keep"), col("tok")).otherwise(0L)).as("tokens_kept"))
      .withColumn("coverage",
        round(col("tokens_kept").cast("double") / col("tokens_total"), 6))
      .orderBy(col("lang"))
  }

  private val nucleusFilterOracle =
    """WITH d AS (SELECT doc_id, lang,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
      |           FROM documents),
      |ranked AS (
      |  SELECT lang, tok,
      |         SUM(tok) OVER (PARTITION BY lang ORDER BY tok DESC, doc_id
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |         SUM(tok) OVER (PARTITION BY lang) AS tot
      |  FROM d)
      |SELECT lang, COUNT(*) AS n_docs,
      |       CAST(SUM(CASE WHEN cum * 5 <= tot * 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |       CAST(SUM(tok) AS BIGINT) AS tokens_total,
      |       CAST(SUM(CASE WHEN cum * 5 <= tot * 4 THEN tok ELSE 0 END) AS BIGINT) AS tokens_kept,
      |       ROUND(CAST(SUM(CASE WHEN cum * 5 <= tot * 4 THEN tok ELSE 0 END) AS DOUBLE) /
      |             SUM(tok), 6) AS coverage
      |FROM ranked GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------- count-min sketch
  /** Count-min sketch frequency estimation — the mergeable fixed-memory
    * counter matrix (Cormode & Muthukrishnan 2005) that complements the
    * Misra-Gries pass in [[TextOps.heavyHitters]]: d=3 hash rows × w=256
    * buckets of integer sums; est(t) = min over rows of the t-bucket
    * sum, an overestimate by construction (est ≥ exact, never under).
    * The report probes the 20 most frequent terms and shows exact count,
    * CMS estimate, and collision overcount — the sketch-accuracy
    * monitor a streaming frequency service exposes.
    *
    * Scale shape: the sketch is built from the VOCAB-SIZED term-count
    * table (count once, then hash the distinct terms), not by exploding
    * every token 3×; the d×w matrix is d·w rows — broadcastable
    * anywhere, and at 100 TB each partition's partial matrix merges by
    * cell-wise sum (the whole point of CMS). Hashing: the term's 60-bit
    * md5 prefix through [[Parity.mixBucketHi]] (HIGH product bits) with
    * three fixed odd multipliers — deterministic, engine-identical,
    * overflow-masked, and genuinely independent across rows: the
    * low-bit `mixBucket` form would make every row a fixed bijection
    * of the key's low bits, so two terms colliding in one row would
    * collide in ALL rows and the min-over-rows would be a no-op (the
    * flaw the bootstrap operator exposed — see mixBucketHi's scaladoc).
    * All arithmetic is integer; no float appears anywhere.
    *
    * w = 8 is deliberately NARROW relative to the fixture's 31-term
    * vocab so the collision path is actually exercised (every probed
    * term shows a positive overcount; at w = 256 the fixture sketch
    * was exact and the min/overcount machinery untested). Production
    * sizing is w ≈ e/ε for additive error ε·N — the same plan with a
    * wider matrix.
    */
  private val CmsW = 8L
  private val CmsKs = Seq(2654435761L, 2246822519L, 3266489917L)
  private val CmsTopN = 20

  def cmsFreq(spark: SparkSession, sfDir: String): DataFrame = {
    // d rows per term via ONE posexplode generator, not a d-leg union
    // (each union leg re-ran the corpus token explode: 6 scans; this
    // shape is one scan per consumer)
    def buckets = array(CmsKs.map(k => Parity.mixBucketHi(col("h"), k, CmsW)): _*)
    val cnts = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .withColumn("h", Parity.md5Key(col("term").cast("binary")))
    val cms = cnts.select(col("cnt"), posexplode(buckets))
      .groupBy(col("pos").as("r"), col("col").as("b"))
      .agg(sum(col("cnt")).as("bsum"))
    cnts.orderBy(col("cnt").desc, col("term")).limit(CmsTopN)
      .select(col("term"), col("cnt"), posexplode(buckets))
      .withColumnRenamed("pos", "r").withColumnRenamed("col", "b")
      .join(broadcast(cms), Seq("r", "b"))
      .groupBy(col("term"), col("cnt"))
      .agg(min(col("bsum")).as("est"))
      .select(col("term"), col("cnt").as("exact"), col("est"),
        (col("est") - col("cnt")).as("overcount"))
      .orderBy(col("exact").desc, col("term"))
  }

  private val cmsFreqOracle = {
    def mix(k: Long) = Parity.mixBucketHiSql("h", k, CmsW)
    val rows = CmsKs.zipWithIndex
    s"""WITH cnts AS (
       |  SELECT term, COUNT(*) AS cnt,
       |         ${Parity.md5KeySql("term")} AS h
       |  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
       |  GROUP BY term),
       |cms AS (
       |  SELECT r, b, CAST(SUM(cnt) AS BIGINT) AS bsum FROM (
       |    ${rows.map { case (k, i) =>
             s"SELECT $i AS r, ${mix(k)} AS b, cnt FROM cnts" }
             .mkString("\n    UNION ALL ")})
       |  GROUP BY r, b),
       |top AS (SELECT term, cnt, h FROM cnts ORDER BY cnt DESC, term LIMIT $CmsTopN),
       |probes AS (
       |  ${rows.map { case (k, i) =>
            s"SELECT term, cnt, $i AS r, ${mix(k)} AS b FROM top" }
            .mkString("\n  UNION ALL ")})
       |SELECT term, cnt AS exact, MIN(bsum) AS est, MIN(bsum) - cnt AS overcount
       |FROM probes JOIN cms USING (r, b)
       |GROUP BY term, cnt
       |ORDER BY exact DESC, term""".stripMargin
  }

  // ------------------------------------------------ normalization dedup
  /** Normalization-aware duplicate accounting — a three-level collapse
    * funnel per language: raw docs → distinct under ccnet/C4-style
    * canonical normalization (lowercase, non-alphanumerics → space,
    * whitespace squeezed — catches case/punctuation variants) →
    * distinct under the word-order-insensitive BAG fingerprint (the
    * sorted token multiset — catches shuffled boilerplate). Each level
    * is a strictly weaker equality, so n_docs ≥ n_norm ≥ n_bag holds
    * by construction; the fixture corpus is dup-free at every level
    * (honest zeros — the injected-dup fixtures in DedupOps exercise
    * the positive path).
    *
    * Scale shape: normalization is map-side string work; the count is
    * one COUNT(DISTINCT md5) per lang — Spark plans distinct-aggregate
    * as a two-phase partial expand on (lang, hash), so the wide text
    * never shuffles, only 16-byte digests. Parity: both regex engines
    * apply the same two global substitutions (Spark replaces all
    * matches by default; DuckDB needs the explicit 'g' flag — spelled
    * in the oracle).
    */
  def normalizeDedup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("norm", trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " ")))
      // word-order-insensitive fingerprint: the sorted token multiset
      .withColumn("bag",
        concat_ws(" ", array_sort(split(col("norm"), " "))))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("norm").cast("binary"))).as("n_norm"),
        countDistinct(md5(col("bag").cast("binary"))).as("n_bag"))
      .withColumn("n_dup", col("n_docs") - col("n_bag"))
      .orderBy(col("lang"))

  private val normalizeDedupOracle =
    """WITH n AS (
      |  SELECT lang,
      |         trim(regexp_replace(regexp_replace(
      |           lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
      |  FROM documents)
      |SELECT lang, COUNT(*) AS n_docs,
      |       COUNT(DISTINCT md5(norm)) AS n_norm,
      |       COUNT(DISTINCT md5(array_to_string(
      |         list_sort(string_split(norm, ' ')), ' '))) AS n_bag,
      |       COUNT(*) - COUNT(DISTINCT md5(array_to_string(
      |         list_sort(string_split(norm, ' ')), ' '))) AS n_dup
      |FROM n GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------ epoch-capped mixing
  /** Capacity-capped mixture allocation: distribute a token budget
    * (95% of the corpus) across sources proportionally to sqrt-scaled
    * weights (the α=0.5 temperature rule of [[TextOps.temperatureMix]],
    * now applied to SOURCES), but never allocating a source more than
    * one epoch of its own tokens — the "max k epochs per source" rule
    * every mixture designer enforces so upsampled small sources don't
    * repeat into memorization. Two relational passes: proportional
    * allocation with the cap applied, then the unspent remainder
    * redistributed over the uncapped sources by the same weights (one
    * round of water-filling; a tiny residual can stay unallocated and
    * is visible as Σalloc < budget — the honest fixed-pass semantics).
    *
    * Exactness: weights live on the e6 sqrt lattice (IEEE sqrt is
    * correctly rounded ⇒ engine-identical); every allocation is a
    * floor division of a DECIMAL(38,0)/HUGEINT product — 128-bit exact
    * in BOTH engines, so there is no long-overflow ceiling until 1e38
    * (the earlier long-lattice ops document ~2^63 bounds; decimal
    * arithmetic removes the concern for this one). Both passes are
    * broadcast joins of one-row aggregates against |sources| rows —
    * driver-free, and at 100 TB still |sources|-sized.
    */
  def epochCap(spark: SparkSession, sfDir: String): DataFrame = {
    val per = Tables.documents(spark, sfDir)
      .groupBy(col("source"))
      .agg(sum(size(split(col("text"), " "))).cast("long").as("cap"))
      .withColumn("w_e6",
        round(sqrt(col("cap").cast("double")) * lit(1000000.0), 0).cast("long"))
    val tot = per.agg(sum(col("cap")).as("tot_cap"), sum(col("w_e6")).as("tot_w"))
    val p1 = per.crossJoin(broadcast(tot))
      .withColumn("budget", expr("tot_cap * 19 div 20"))
      .withColumn("raw", expr("CAST(w_e6 AS DECIMAL(38,0)) * budget div tot_w"))
      .withColumn("a1", least(col("raw"), col("cap")))
      .withColumn("pinned", col("raw") > col("cap"))
    val s1 = p1.agg(sum(col("a1")).as("alloc1"),
      sum(when(!col("pinned"), col("w_e6")).otherwise(0L)).as("w_un"))
    p1.crossJoin(broadcast(s1))
      .withColumn("add", when(col("pinned") || col("w_un") === 0L, 0L)
        .otherwise(expr(
          "CAST(w_e6 AS DECIMAL(38,0)) * (budget - alloc1) div w_un")))
      .withColumn("alloc", least(col("cap"), col("a1") + col("add")))
      .select(col("source"), col("cap"), col("alloc"), col("pinned"),
        expr("CAST(alloc AS DECIMAL(38,0)) * 1000000 div cap").as("epochs_e6"))
      .orderBy(col("source"))
  }

  private val epochCapOracle =
    """WITH per AS (
      |  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS cap
      |  FROM documents GROUP BY source),
      |w AS (SELECT source, cap,
      |             CAST(ROUND(sqrt(CAST(cap AS DOUBLE)) * 1000000.0) AS BIGINT) AS w_e6
      |      FROM per),
      |tot AS (SELECT CAST(SUM(cap) AS BIGINT) AS tot_cap,
      |               CAST(SUM(w_e6) AS BIGINT) AS tot_w FROM w),
      |p1 AS (
      |  SELECT source, cap, w_e6, tot_w, tot_cap * 19 // 20 AS budget,
      |         CAST(CAST(w_e6 AS HUGEINT) * (tot_cap * 19 // 20) // tot_w AS BIGINT) AS raw
      |  FROM w CROSS JOIN tot),
      |p1b AS (SELECT *, LEAST(raw, cap) AS a1, raw > cap AS pinned FROM p1),
      |s1 AS (SELECT CAST(SUM(a1) AS BIGINT) AS alloc1,
      |              CAST(SUM(CASE WHEN NOT pinned THEN w_e6 ELSE 0 END) AS BIGINT) AS w_un
      |       FROM p1b)
      |SELECT source, cap,
      |       LEAST(cap, a1 + CASE WHEN pinned OR w_un = 0 THEN 0
      |             ELSE CAST(CAST(w_e6 AS HUGEINT) * (budget - alloc1) // w_un AS BIGINT)
      |             END) AS alloc,
      |       pinned,
      |       CAST(CAST(LEAST(cap, a1 + CASE WHEN pinned OR w_un = 0 THEN 0
      |             ELSE CAST(CAST(w_e6 AS HUGEINT) * (budget - alloc1) // w_un AS BIGINT)
      |             END) AS HUGEINT) * 1000000 // cap AS BIGINT) AS epochs_e6
      |FROM p1b CROSS JOIN s1 ORDER BY source""".stripMargin

  // --------------------------------------------- DSIR resampling apply
  /** The APPLY stage of DSIR — [[importanceWeights]] realized as an
    * actual sample (the report becomes a product, the dedupApply/
    * temperatureSample discipline): systematic resampling of ~[[DsirK]]
    * picks with inclusion mass ∝ exp(log w). Systematic (stride)
    * resampling is the deterministic low-variance scheme from the
    * particle-filter literature: lay the docs on a weight line, take
    * every (W/K)-th position starting at W/K/2 — no RNG, every pick
    * decided by exact integer interval arithmetic, and multiplicity
    * (a doc straddling several strides is picked several times) falls
    * out of the same floor-division formula.
    *
    * The weight line is [[PrefixSum.running]] over [[PrefixSum.idChunk]]
    * chunks, its total read off the same chunk table. Both
    * floor-division numerators are kept strictly positive (shift by
    * +step) because Spark `div` truncates toward zero while DuckDB `//`
    * floors — identical only off the negatives. The report aggregates
    * per lang: the up/down-weighting DIRECTION (target-lang pick share
    * vs doc share) is the property the spec pins.
    */
  private val DsirK = 100L

  def dsirResample(spark: SparkSession, sfDir: String): DataFrame = {
    // the narrow (doc_id, lang, w_e6) weight frame feeds the chunk-width
    // probe and both prefix-sum phases; cached so the importance-weight
    // computation (two corpus token explodes) runs once — measured
    // 3.4s → ~1s at sf0.1. The harness clears session caches per query.
    val w = importanceWeights(spark, sfDir)
      .withColumn("w_e6",
        greatest(lit(1L), round(exp(col("dsir_w")) * lit(1000000.0), 0)
          .cast("long")))
      .select(col("doc_id"), col("lang"), col("w_e6"))
      .cache()
    val picked = PrefixSum.running(w, PrefixSum.idChunk(w, "doc_id"),
        Seq(col("doc_id")), "cum" -> col("w_e6"))
      .withColumn("step", expr(s"cum_total div $DsirK"))
      .withColumn("start", expr("step div 2"))
      .withColumn("picks",
        expr("(cum - start + step) div step - (cum - w_e6 - start + step) div step"))
    picked.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("picks") > 0L, 1L).otherwise(0L)).as("n_sampled"),
        sum(col("picks")).as("n_picks"))
      .withColumn("doc_share",
        round(col("n_docs").cast("double") /
          sum(col("n_docs")).over(Window.partitionBy()), 6))
      .withColumn("pick_share",
        round(col("n_picks").cast("double") /
          sum(col("n_picks")).over(Window.partitionBy()), 6))
      .orderBy(col("lang"))
  }

  private val dsirResampleOracle =
    s"""WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
       |              FROM documents),
       |freqs AS (SELECT term, COUNT(*) AS tf_all,
       |                 CAST(SUM(CASE WHEN lang = '$DsirTarget' THEN 1 ELSE 0 END)
       |                      AS BIGINT) AS tf_tgt
       |          FROM toks GROUP BY term),
       |tot AS (SELECT CAST(SUM(tf_all) AS BIGINT) AS n_all,
       |               CAST(SUM(tf_tgt) AS BIGINT) AS n_tgt,
       |               COUNT(*) AS vocab
       |        FROM freqs),
       |lr AS (SELECT term,
       |              CAST(ROUND((ln(CAST(tf_tgt + 1 AS DOUBLE) / (n_tgt + vocab)) -
       |                          ln(CAST(tf_all + 1 AS DOUBLE) / (n_all + vocab)))
       |                         * 1000000.0) AS BIGINT) AS lr_e6
       |       FROM freqs CROSS JOIN tot),
       |dw AS (SELECT doc_id, lang,
       |              ROUND(CAST(SUM(lr_e6) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
       |                AS dsir_w
       |       FROM toks JOIN lr USING (term) GROUP BY doc_id, lang),
       |we AS (SELECT doc_id, lang,
       |              GREATEST(1, CAST(ROUND(exp(dsir_w) * 1000000.0) AS BIGINT))
       |                AS w_e6
       |       FROM dw),
       |cums AS (SELECT doc_id, lang, w_e6,
       |                SUM(w_e6) OVER (ORDER BY doc_id
       |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |                SUM(w_e6) OVER () AS wtot
       |         FROM we),
       |picks AS (SELECT lang, w_e6,
       |                 (cum - (wtot // $DsirK // 2) + (wtot // $DsirK))
       |                   // (wtot // $DsirK) -
       |                 (cum - w_e6 - (wtot // $DsirK // 2) + (wtot // $DsirK))
       |                   // (wtot // $DsirK) AS picks
       |          FROM cums)
       |SELECT lang, COUNT(*) AS n_docs,
       |       CAST(SUM(CASE WHEN picks > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       |       CAST(SUM(picks) AS BIGINT) AS n_picks,
       |       ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (), 6) AS doc_share,
       |       ROUND(CAST(SUM(picks) AS DOUBLE) / SUM(SUM(picks)) OVER (), 6) AS pick_share
       |FROM picks GROUP BY lang ORDER BY lang""".stripMargin

  // -------------------------------------------------- shard balancing
  /** Balanced shard assignment for training-data delivery: within each
    * language, documents rank by token mass (desc, doc_id tiebreak) and
    * deal round-robin onto [[Shards]] shards — the longest-processing-
    * time-first heuristic that bounds shard skew by one document's mass
    * per stratum. The report is the per-shard ledger (docs, tokens,
    * share) a dataloader reads to confirm no shard starves.
    *
    * Scale shape: ranking sorts NARROW rows (id, lang, count) inside
    * per-lang window partitions — parallel across langs, text never
    * moves; the final shard ledger is an 8-row aggregate. The spec pins
    * the balance guarantee (max−min shard mass ≤ langs × max doc).
    */
  private val Shards = 8

  def shardBalance(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("tok"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("tok").desc, col("doc_id"))
    d.withColumn("shard", (row_number().over(w) - 1) % Shards)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tokens"))
      .withColumn("token_share",
        round(col("tokens").cast("double") /
          sum(col("tokens")).over(Window.partitionBy()), 6))
      .orderBy(col("shard"))
  }

  /** Rendezvous (highest-random-weight) sharding with a resharding
    * audit — the placement discipline a 100 TB corpus store needs
    * when the shard count changes: each doc goes to the shard
    * maximizing `h(doc, shard)`, so growing N→N+1 can only move a
    * doc TO the new shard (its old scores are unchanged; only the
    * new candidate can win). [[shardBalance]] answers "are shards
    * even"; this answers "what does resharding COST" — ~1/(N+1) of
    * the corpus, vs ~all of it under mod-N hashing.
    *
    * One 9-candidate explode serves BOTH generations: the 8-shard
    * assignment is the conditional argmax over the first 8 scores of
    * the same frame (HRW score independence is the whole point, and
    * computing it this way pins it). The `n_moved_elsewhere` column
    * — movers whose new home is NOT the added shard — is provably
    * zero and sits under the hash gate as the minimal-disruption
    * witness.
    *
    * Scale shape: a bounded N× map-side expansion (no shuffle until
    * the doc-keyed hash agg — uniform md5 keys, no skew), then a
    * shard-sized rollup. At production N (thousands), the explode
    * swaps for a per-row argmax loop in a codegen expression; the
    * semantics pinned here don't change. */
  def rendezvous(spark: SparkSession, sfDir: String): DataFrame = {
    val cand = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(Shards))).as("s"))
      .withColumn("h", Parity.md5Key(concat(col("doc_id").cast("string"),
        lit(":"), col("s").cast("string"))))
    cand.groupBy(col("doc_id"))
      .agg(
        max_by(col("s"), col("h")).as("shard_new"),
        max_by(when(col("s") < Shards, col("s")),
          when(col("s") < Shards, col("h"))).as("shard"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("shard_new") =!= col("shard"), 1L).otherwise(0L))
          .as("n_moved"),
        sum(when(col("shard_new") =!= col("shard") &&
          col("shard_new") =!= Shards, 1L).otherwise(0L))
          .as("n_moved_elsewhere"))
      .orderBy(col("shard"))
  }

  /** Dataloader shuffle-quality audit — the check a training run does
    * before trusting its epoch order: assign every doc a per-epoch
    * pseudorandom key (md5 of `epoch:doc_id`), and count ADJACENT
    * same-source pairs in key order. Epoch 0 is the unshuffled
    * baseline (doc_id = ingest order), which exposes the ingest
    * pattern either way it deviates: source-clustered dumps sit far
    * ABOVE the random yardstick `(n−1)·Σ p_s²`, and perfectly
    * interleaved writers (this fixture: round-robin ⇒ 0 adjacents)
    * sit far BELOW it — both are the signature of order the loader
    * did not add. Shuffled epochs should track the yardstick, which
    * ships as a column. Consecutive same-source samples are exactly
    * what shuffling exists to break (gradient correlation within a
    * batch), and "did my shuffle actually shuffle" is a real incident
    * class when sharded loaders recycle seeds.
    *
    * The adjacency census is EXACT but never globally sorted on one
    * partition: keys bucket by their top bits (monotone in key), so
    * within-bucket adjacency runs in bucket-parallel windows, and the
    * bucket-boundary pairs are stitched from a bucket-count-sized
    * frame of per-bucket first/last sources — within + boundary =
    * n−1 pairs, proven in the spec. The DuckDB oracle is the naive
    * global LAG, so the decomposition itself sits under the hash
    * gate. Scale shape: one exchange per epoch set (hash partition by
    * bucket), narrow rows, dimension-sized stitch frame.
    */
  def epochShuffle(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    val keyed = d
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0), lit(3))).as("epoch"))
      .withColumn("key", when(col("epoch") === 0, col("doc_id"))
        .otherwise(Parity.md5Key(concat(col("epoch").cast("string"),
          lit(":"), col("doc_id").cast("string")))))
      // monotone-in-key bucketing: top bits for the 60-bit md5 keys,
      // a dense split for the doc_id baseline — any monotone split
      // preserves adjacency except at the boundaries we stitch below
      .withColumn("bucket",
        when(col("epoch") === 0, floor(col("key") / 256).cast("long"))
          .otherwise(shiftright(col("key"), 52)))
    val wIn = Window.partitionBy(col("epoch"), col("bucket"))
      .orderBy(col("key"), col("doc_id"))
    val within = keyed
      .withColumn("prev_src", lag(col("source"), 1).over(wIn))
      .groupBy(col("epoch"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("source") === col("prev_src"), 1L).otherwise(0L))
          .as("adj_within"))
    val wB = Window.partitionBy(col("epoch")).orderBy(col("bucket"))
    val boundary = keyed
      .groupBy(col("epoch"), col("bucket"))
      .agg(min_by(col("source"), struct(col("key"), col("doc_id")))
        .as("first_src"),
        max_by(col("source"), struct(col("key"), col("doc_id")))
          .as("last_src"))
      .withColumn("prev_last", lag(col("last_src"), 1).over(wB))
      .groupBy(col("epoch"))
      .agg(sum(when(col("first_src") === col("prev_last"), 1L)
        .otherwise(0L)).as("adj_boundary"))
    val pSq = d.groupBy(col("source")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")).cast("double").as("ssq"),
        sum(col("c")).cast("double").as("n"))
    within.join(boundary, Seq("epoch"))
      .withColumn("same_src_adj", col("adj_within") + col("adj_boundary"))
      .crossJoin(broadcast(pSq))
      .select(col("epoch"), col("n_docs"), col("same_src_adj"),
        round((col("n") - 1.0) * col("ssq") / (col("n") * col("n")), 4)
          .as("expected_random"))
      .orderBy(col("epoch"))
  }

  private val epochShuffleOracle =
    s"""WITH k AS (
      |  SELECT epoch, doc_id, source,
      |         CASE WHEN epoch = 0 THEN doc_id
      |              ELSE ${Parity.md5KeySql("epoch || ':' || doc_id")}
      |         END AS key
      |  FROM documents, range(4) t(epoch)),
      |adj AS (
      |  SELECT epoch,
      |         CASE WHEN source = LAG(source) OVER
      |                (PARTITION BY epoch ORDER BY key, doc_id)
      |              THEN 1 ELSE 0 END AS s
      |  FROM k),
      |p AS (SELECT SUM(CAST(c AS DOUBLE) * c) AS ssq,
      |             SUM(CAST(c AS DOUBLE)) AS n
      |      FROM (SELECT COUNT(*) AS c FROM documents GROUP BY source))
      |SELECT CAST(epoch AS INTEGER) AS epoch, COUNT(*) AS n_docs,
      |       CAST(SUM(s) AS BIGINT) AS same_src_adj,
      |       ROUND((n - 1.0) * ssq / (n * n), 4) AS expected_random
      |FROM adj CROSS JOIN p
      |GROUP BY epoch, ssq, n ORDER BY epoch""".stripMargin

  private val rendezvousOracle =
    s"""WITH c AS (
       |  SELECT doc_id, s,
       |         ${Parity.md5KeySql("doc_id || ':' || s")} AS h
       |  FROM documents, range($Shards + 1) t(s)),
       |a AS (
       |  SELECT doc_id,
       |         arg_max(s, h) AS shard_new,
       |         arg_max(CASE WHEN s < $Shards THEN s END,
       |                 CASE WHEN s < $Shards THEN h END) AS shard
       |  FROM c GROUP BY doc_id)
       |SELECT CAST(shard AS INTEGER) AS shard, COUNT(*) AS n_docs,
       |       CAST(SUM(CASE WHEN shard_new <> shard THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_moved,
       |       CAST(SUM(CASE WHEN shard_new <> shard
       |                      AND shard_new <> $Shards THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_moved_elsewhere
       |FROM a GROUP BY 1 ORDER BY shard""".stripMargin

  private val shardBalanceOracle =
    s"""WITH d AS (SELECT doc_id, lang,
       |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |           FROM documents),
       |assigned AS (
       |  SELECT tok,
       |         CAST((ROW_NUMBER() OVER (PARTITION BY lang
       |                             ORDER BY tok DESC, doc_id) - 1) % $Shards
       |              AS INTEGER) AS shard
       |  FROM d)
       |SELECT shard, COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS tokens,
       |       ROUND(CAST(SUM(tok) AS DOUBLE) / SUM(SUM(tok)) OVER (), 6)
       |         AS token_share
       |FROM assigned GROUP BY shard ORDER BY shard""".stripMargin

  // ------------------------------------------------ sequence packing
  /** Contiguous sequence packing — the LAST assembly step before a
    * training run: the tokenized corpus is concatenated in a
    * deterministic order (doc_id) and chunked into fixed
    * [[SeqPackCtx]]-token context windows, documents spanning window
    * boundaries split across them (the GPT-2/3 recipe — no padding
    * except the final window's tail). Where [[shardBalance]] balances
    * whole DOCS across delivery shards, this accounts the TOKEN
    * stream's cut points: per source, how many docs get split by a
    * window boundary (their loss spans an attention reset) and the
    * worst-case span width; globally, the window count and tail
    * padding. The per-doc math is pure integer interval arithmetic on
    * the global token offset: first window = start DIV ctx, last =
    * (start + tok − 1) DIV ctx.
    *
    * The token offset is [[PrefixSum.running]] over
    * [[PrefixSum.idChunk]] chunks; everything after is map-side, and the
    * rollup is one source-sized aggregate carrying the A6 witness
    * scalars (window count, tail pad) from the running sum's total.
    */
  private val SeqPackCtx = 512L

  def seqPack(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("tok"))
    PrefixSum.running(d, PrefixSum.idChunk(d, "doc_id"), Seq(col("doc_id")),
        "cum" -> col("tok"))
      .withColumn("start", col("cum") - col("tok"))
      .withColumn("spans",
        expr(s"(start + tok - 1) DIV $SeqPackCtx - start DIV $SeqPackCtx + 1"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("tokens"),
        sum(when(col("spans") > 1L, 1L).otherwise(0L)).as("n_split"),
        max(col("spans")).as("max_spans"),
        max(col("cum_total")).as("total_tokens"))
      .select(col("source"), col("n_docs"), col("tokens"), col("n_split"),
        col("max_spans"), expr("n_split * 1000000 DIV n_docs").as("split_e6"),
        col("total_tokens"))
      .withColumn("n_windows",
        expr(s"(total_tokens + $SeqPackCtx - 1) DIV $SeqPackCtx"))
      .withColumn("tail_pad",
        expr(s"n_windows * $SeqPackCtx - total_tokens"))
      .orderBy(col("source"))
  }

  private val seqPackOracle =
    s"""WITH d AS (SELECT doc_id, source,
       |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |           FROM documents),
       |p AS (SELECT doc_id, source, tok,
       |             COALESCE(SUM(tok) OVER (ORDER BY doc_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |               AS start
       |      FROM d),
       |s AS (SELECT source, tok,
       |             (start + tok - 1) // $SeqPackCtx - start // $SeqPackCtx + 1
       |               AS spans
       |      FROM p),
       |w AS (SELECT (SUM(tok) + $SeqPackCtx - 1) // $SeqPackCtx AS n_windows,
       |             ((SUM(tok) + $SeqPackCtx - 1) // $SeqPackCtx) * $SeqPackCtx
       |               - SUM(tok) AS tail_pad,
       |             SUM(tok) AS total_tokens
       |      FROM d)
       |SELECT source, COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS tokens,
       |       CAST(SUM(CASE WHEN spans > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_split,
       |       CAST(MAX(spans) AS BIGINT) AS max_spans,
       |       CAST(SUM(CASE WHEN spans > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |         * 1000000 // COUNT(*) AS split_e6,
       |       CAST(total_tokens AS BIGINT) AS total_tokens,
       |       CAST(n_windows AS BIGINT) AS n_windows,
       |       CAST(tail_pad AS BIGINT) AS tail_pad
       |FROM s CROSS JOIN w
       |GROUP BY source, total_tokens, n_windows, tail_pad
       |ORDER BY source""".stripMargin

  // ------------------------------------------------- FIM transform
  /** Fill-in-the-middle transform audit (Bavarian et al. '22 — the
    * data-level trick behind every code model's infilling ability:
    * reorder a document into prefix/suffix/middle so a causal LM
    * learns to fill holes, applied to ~half the corpus so left-to-
    * right ability is preserved). FIM docs (`doc_id % 2 = 0`, the
    * paper's 0.5 rate as a deterministic split) cut at two
    * token-level points derived from the shared md5-lattice hash (the
    * engines' common 60-bit primitive standing in for the paper's
    * uniform draws), and mode PSM vs SPM is another hash bit. The
    * audit a pipeline actually runs on this transform: segment-token
    * CONSERVATION and reassembly IDENTITY (prefix·middle·suffix must
    * re-concatenate to the original document — a lossy FIM transform
    * silently corrupts the corpus), plus per-source mode counts and
    * middle-fraction mass.
    *
    * Parity: the cut arithmetic is pure nonneg integer mod/div on the
    * shared hash, so segment lengths are exact in both engines; the
    * reassembly check compares strings rebuilt by the same
    * split-on-space/join-with-space inverse pair.
    *
    * Scale shape: pure map-side column math (split, slice, join —
    * all codegen'd) + one per-source hash rollup; no joins, no
    * windows, nothing driver-side. */
  def fimTransform(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .withColumn("w", split(col("text"), " "))
      .withColumn("m", size(col("w")).cast("long"))
      .withColumn("h", Parity.md5Key(col("text").cast("binary")))
      .withColumn("is_fim", col("doc_id") % 2 === 0)
      .withColumn("cut1", expr("h % (m + 1)"))
      .withColumn("len_mid", expr("(h div 7) % (m - cut1 + 1)"))
      .withColumn("mode",
        when(!col("is_fim"), lit("plain"))
          .when(expr("(h div 13) % 2 = 0"), lit("psm"))
          .otherwise(lit("spm")))
      .withColumn("prefix", expr("slice(w, 1, CAST(cut1 AS INT))"))
      .withColumn("middle",
        expr("slice(w, CAST(cut1 + 1 AS INT), CAST(len_mid AS INT))"))
      .withColumn("suffix",
        expr("slice(w, CAST(cut1 + len_mid + 1 AS INT), CAST(m AS INT))"))
      .withColumn("conserved",
        size(col("prefix")) + size(col("middle")) + size(col("suffix"))
          === col("m").cast("int"))
      .withColumn("reassembled",
        expr("array_join(concat(prefix, middle, suffix), ' ')") === col("text"))
    d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_fim"), 1L).otherwise(0L)).as("n_fim"),
        sum(when(col("mode") === "psm", 1L).otherwise(0L)).as("n_psm"),
        sum(when(col("mode") === "spm", 1L).otherwise(0L)).as("n_spm"),
        sum(col("m")).cast("long").as("tokens"),
        sum(when(col("is_fim"), col("len_mid")).otherwise(0L)).cast("long")
          .as("mid_tokens"),
        sum(when(col("is_fim") && col("conserved"), 1L).otherwise(0L))
          .as("n_conserved"),
        sum(when(col("is_fim") && col("reassembled"), 1L).otherwise(0L))
          .as("n_reassembled"))
      .withColumn("mid_frac_e6",
        expr("mid_tokens * 1000000 DIV tokens"))
      .orderBy(col("source"))
  }

  private val fimTransformOracle =
    s"""WITH d AS (
      |  SELECT doc_id, source, text,
      |         string_split(text, ' ') AS w,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS m,
      |         ${Parity.md5KeySql("text")} AS h,
      |         doc_id % 2 = 0 AS is_fim
      |  FROM documents),
      |cuts AS (
      |  SELECT *, h % (m + 1) AS cut1,
      |         (h // 7) % (m - (h % (m + 1)) + 1) AS len_mid,
      |         CASE WHEN NOT is_fim THEN 'plain'
      |              WHEN (h // 13) % 2 = 0 THEN 'psm' ELSE 'spm'
      |         END AS mode
      |  FROM d),
      |seg AS (
      |  SELECT *,
      |         w[1:CAST(cut1 AS INTEGER)] AS pre,
      |         w[CAST(cut1 + 1 AS INTEGER):CAST(cut1 + len_mid AS INTEGER)]
      |           AS mid,
      |         w[CAST(cut1 + len_mid + 1 AS INTEGER):CAST(m AS INTEGER)]
      |           AS suf
      |  FROM cuts)
      |SELECT source, COUNT(*) AS n_docs,
      |       CAST(SUM(CASE WHEN is_fim THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_fim,
      |       CAST(SUM(CASE WHEN mode = 'psm' THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_psm,
      |       CAST(SUM(CASE WHEN mode = 'spm' THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_spm,
      |       CAST(SUM(m) AS BIGINT) AS tokens,
      |       CAST(SUM(CASE WHEN is_fim THEN len_mid ELSE 0 END) AS BIGINT)
      |         AS mid_tokens,
      |       CAST(SUM(CASE WHEN is_fim AND
      |                len(pre) + len(mid) + len(suf) = m
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_conserved,
      |       CAST(SUM(CASE WHEN is_fim AND
      |                array_to_string(
      |                  list_concat(list_concat(pre, mid), suf), ' ') = text
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_reassembled,
      |       CAST(SUM(CASE WHEN is_fim THEN len_mid ELSE 0 END)
      |            * 1000000 // SUM(m) AS BIGINT) AS mid_frac_e6
      |FROM seg GROUP BY source ORDER BY source""".stripMargin

  // ----------------------------------------------- canary survival
  /** Canary extraction-risk audit (Carlini et al. '19 "secret
    * sharer"): plant marker sequences into the corpus at CONTROLLED
    * duplication counts, run the pipeline's own defenses, and report
    * which canaries survive into training — the measurement behind
    * every memorization claim. Class c ∈ 0..3 plants 2^c copies of
    * its canary PREFIX per 101-doc stride (`doc_id % 101` in the
    * class's cumulative-offset window — duplication grows
    * geometrically across classes, the secret-sharer sweep, and
    * scales with the corpus); defenses are the SHIPPED stage rules
    * composed in pipeline order — the Gopher gate
    * ([[graft.ops.TextOps.qualityKeep]], which planted docs pass
    * unchanged modulo the short prefix) and the canonical-prefix
    * exact-dedup keeper ([[pipelineLedger]]'s md5-of-40-chars rule).
    * Because a class's canary prefix DOMINATES the 40-char window,
    * all its copies collapse to one fingerprint — so dedup reduces
    * every class to ≤1 surviving copy, the secret-sharer result
    * (duplication drives extraction risk; dedup is the defense) made
    * visible per class under the hash.
    *
    * Scale shape: planting is map-side column math; the audit is the
    * ledger's one fingerprint groupBy + semi-join; the report is a
    * class-keyed rollup. */
  def canaryAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    // class c ∈ 0..3 plants 2^c copies on docs with doc_id % 101 ∈
    // [off(c), off(c) + 2^c) where off = cumulative (0, 1, 3, 7)
    val r = col("doc_id") % 101
    val cls = when(r < 1, 0).when(r < 3, 1).when(r < 7, 2)
      .when(r < 15, 3).otherwise(-1)
    val planted = d
      .withColumn("cls", cls)
      .withColumn("text",
        when(col("cls") >= 0,
          concat(lit("CANARY-"), col("cls"),
            lit(" the quick zebra vaults over marker "),
            col("cls"), lit(" "), col("text")))
          .otherwise(col("text")))
    val keepQ = planted.withColumn("keep_q", TextOps.qualityKeep)
    val q = keepQ.filter(col("keep_q"))
    val keepers = q
      .groupBy(md5(substring(col("text"), 1, 40).cast("binary")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val surv = q.join(keepers, Seq("doc_id"), "left_semi")
      .select(col("doc_id")).withColumn("kept", lit(1))
    keepQ.filter(col("cls") >= 0)
      .join(surv, Seq("doc_id"), "left")
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_planted"),
        sum(when(col("keep_q"), 1L).otherwise(0L)).as("n_pass_quality"),
        sum(when(col("kept") === 1, 1L).otherwise(0L)).as("n_survive_dedup"))
      .orderBy(col("cls"))
  }

  private lazy val canaryAuditOracle = {
    // single-line fragment: it interpolates into a stripMargin string,
    // where a line-leading `||` would lose a pipe to the margin strip
    val clsSql = "CASE WHEN doc_id % 101 < 1 THEN 0 " +
      "WHEN doc_id % 101 < 3 THEN 1 WHEN doc_id % 101 < 7 THEN 2 " +
      "ELSE 3 END"
    val plantedText = s"CASE WHEN doc_id % 101 < 15 THEN 'CANARY-' || " +
      s"$clsSql || ' the quick zebra vaults over marker ' || $clsSql || " +
      "' ' || text ELSE text END"
    s"""WITH planted AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 101 < 1 THEN 0
       |              WHEN doc_id % 101 < 3 THEN 1
       |              WHEN doc_id % 101 < 7 THEN 2
       |              WHEN doc_id % 101 < 15 THEN 3 ELSE -1 END AS cls,
       |         $plantedText AS text
       |  FROM documents),
       |kq AS (SELECT doc_id, cls, text, ${TextOps.qualityKeepSql} AS keep_q
       |       FROM planted),
       |k AS (SELECT MIN(doc_id) AS doc_id FROM kq WHERE keep_q
       |      GROUP BY md5(substr(text, 1, 40))),
       |surv AS (SELECT kq.doc_id FROM kq JOIN k USING (doc_id)
       |         WHERE kq.keep_q)
       |SELECT cls, COUNT(*) AS n_planted,
       |       CAST(SUM(CASE WHEN keep_q THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_pass_quality,
       |       CAST(SUM(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_survive_dedup
       |FROM kq LEFT JOIN surv s USING (doc_id)
       |WHERE cls >= 0
       |GROUP BY cls ORDER BY cls""".stripMargin
  }

  // ------------------------------------------------- pipeline ledger
  /** End-to-end curation funnel — the stage ledger a pipeline run
    * publishes: raw corpus → Gopher-style quality gate (the IDENTICAL
    * predicate [[TextOps.qualityFilter]] reports on, factored as
    * [[TextOps.qualityKeep]]) → exact dedup (canonical-prefix md5,
    * keeper = min doc_id AMONG SURVIVORS — dedup composes after the
    * quality gate, as a real pipeline orders it). One row per stage
    * with surviving docs/tokens and their fraction of raw — the chart
    * every curation report leads with.
    *
    * Scale shape: the quality gate is map-side column math; the dedup
    * stage is one fingerprint groupBy + a semi-join back on doc_id;
    * stage totals are one-row aggregates unioned (three passes over
    * a progressively shrinking corpus — the honest cost of a staged
    * funnel, each pass partial-aggregated). Fractions are IEEE-exact
    * long/long doubles rounded at 6 dp.
    */
  def pipelineLedger(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      .withColumn("keep_q", TextOps.qualityKeep)
    val q = base.filter(col("keep_q"))
    val keepers = q
      .groupBy(md5(substring(col("text"), 1, 40).cast("binary")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val d = q.join(keepers, Seq("doc_id"), "left_semi")
    def stage(df: DataFrame, ord: Int, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
        .select(lit(ord).as("stage"), lit(name).as("stage_name"),
          col("n_docs"), col("tokens"))
    val rawTot = base.agg(count(lit(1)).as("raw_docs"),
      sum(col("n_tok")).as("raw_tokens"))
    stage(base, 0, "raw")
      .unionAll(stage(q, 1, "quality"))
      .unionAll(stage(d, 2, "exact_dedup"))
      .crossJoin(broadcast(rawTot))
      .select(col("stage"), col("stage_name"), col("n_docs"), col("tokens"),
        round(col("n_docs").cast("double") / col("raw_docs"), 6).as("doc_frac"),
        round(col("tokens").cast("double") / col("raw_tokens"), 6)
          .as("token_frac"))
      .orderBy(col("stage"))
  }

  private lazy val pipelineLedgerOracle =
    s"""WITH base AS (
       |  SELECT doc_id, text, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |         ${TextOps.qualityKeepSql} AS keep_q
       |  FROM documents),
       |q AS (SELECT * FROM base WHERE keep_q),
       |k AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY md5(substr(text, 1, 40))),
       |d AS (SELECT q.* FROM q JOIN k USING (doc_id)),
       |raw_tot AS (SELECT COUNT(*) AS raw_docs, CAST(SUM(n_tok) AS BIGINT) AS raw_tokens
       |            FROM base),
       |stages AS (
       |  SELECT 0 AS stage, 'raw' AS stage_name, COUNT(*) AS n_docs,
       |         CAST(SUM(n_tok) AS BIGINT) AS tokens FROM base
       |  UNION ALL SELECT 1, 'quality', COUNT(*), CAST(SUM(n_tok) AS BIGINT) FROM q
       |  UNION ALL SELECT 2, 'exact_dedup', COUNT(*), CAST(SUM(n_tok) AS BIGINT) FROM d)
       |SELECT stage, stage_name, n_docs, tokens,
       |       ROUND(CAST(n_docs AS DOUBLE) / raw_docs, 6) AS doc_frac,
       |       ROUND(CAST(tokens AS DOUBLE) / raw_tokens, 6) AS token_frac
       |FROM stages CROSS JOIN raw_tot ORDER BY stage""".stripMargin

  // ---------------------------------------------- curriculum phases
  /** Curriculum schedule — documents staged easy→hard per language by
    * the unigram-LM difficulty signal ([[TextOps.unigramLogprob]]'s
    * avg micro-nat logprob: high = predictable = easy), quartiled with
    * per-lang ntile(4). The ledger per (lang, phase) carries doc/token
    * mass and the difficulty band edges — the schedule a curriculum-
    * learning run feeds its sampler.
    *
    * Scale shape: the quartile window partitions BY LANGUAGE (parallel,
    * narrow rows — doc_id + score only), never a global single-
    * partition ntile; the heavy lifting (token explode + logprob) is
    * the composed operator's one corpus pass. Band edges are min/max
    * of already-6dp-rounded doubles — exact.
    */
  def curriculum(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = TextOps.unigramLogprob(spark, sfDir)
      .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("lang")),
        Seq("doc_id"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("avg_logprob").desc, col("doc_id"))
    scored.withColumn("phase", ntile(4).over(w))
      .groupBy(col("lang"), col("phase"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tokens"),
        max(col("avg_logprob")).as("easiest"),
        min(col("avg_logprob")).as("hardest"))
      .orderBy(col("lang"), col("phase"))
  }

  private lazy val curriculumOracle =
    s"""WITH lp AS (${TextOps.unigramLogprobOracle}),
       |scored AS (
       |  SELECT lp.doc_id, d.lang, lp.n_tok, lp.avg_logprob,
       |         CAST(NTILE(4) OVER (PARTITION BY d.lang
       |                        ORDER BY lp.avg_logprob DESC, lp.doc_id)
       |              AS INTEGER) AS phase
       |  FROM lp JOIN documents d ON lp.doc_id = d.doc_id)
       |SELECT lang, phase, COUNT(*) AS n_docs,
       |       CAST(SUM(n_tok) AS BIGINT) AS tokens,
       |       MAX(avg_logprob) AS easiest, MIN(avg_logprob) AS hardest
       |FROM scored GROUP BY lang, phase ORDER BY lang, phase""".stripMargin

  // ---------------------------------------------- inverted index build
  /** Inverted-index build — the retrieval index as a PRODUCT table
    * (the BM25 scorer's implicit structure made explicit): one row per
    * term with document frequency, corpus frequency, the first 10
    * postings, and an md5 checksum of the full sorted posting list (so
    * a consumer can verify integrity without shipping the whole list
    * through the report).
    *
    * Scale shape: one (term, doc) distinct aggregation — the same
    * single-shuffle shape as every dedup pass; posting arrays assemble
    * per term AFTER the aggregation (vocab-sized rows). At web scale
    * the array column would write straight to the index store
    * partitioned by term hash; df/cf/checksum stay this exact plan.
    */
  def invertedIndex(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
        sort_array(collect_list(col("doc_id"))).as("postings"))
      .select(col("term"), col("df"), col("cf"),
        concat_ws(",", slice(col("postings"), 1, 10)).as("head_postings"),
        md5(concat_ws(",", col("postings")).cast("binary")).as("postings_md5"))
      .orderBy(col("term"))

  private val invertedIndexOracle =
    """WITH tf AS (
      |  SELECT term, doc_id, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |        FROM documents)
      |  GROUP BY term, doc_id)
      |SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
      |       array_to_string(list_sort(list(doc_id))[1:10], ',') AS head_postings,
      |       md5(array_to_string(list_sort(list(doc_id)), ',')) AS postings_md5
      |FROM tf GROUP BY term ORDER BY term""".stripMargin

  // ------------------------------------------------- CV leakage audit
  /** Cross-validation leakage audit — the check an eval pipeline runs
    * after assigning folds: a near-dup pair SPLIT ACROSS FOLDS leaks
    * training text into evaluation (the dup survives in another fold's
    * train split), silently inflating scores. Folds are deterministic
    * hash buckets ([[Parity.mixBucket]] of doc_id, 5 folds — the
    * `trainSplit` discipline); the verified MinHash pair table supplies
    * the near-dup edges. Reported per fold pair (fold_a ≤ fold_b):
    * leaking pair count, plus the same-fold (safe) diagonal.
    *
    * Scale shape: two broadcast fold lookups against the (materialized,
    * |pairs|-sized) pair table and a ≤ 5×5 aggregate — corpus-free at
    * query time; the pair table already paid its LSH cost once per
    * session. The spec pins conservation (Σ cells == |pairs|) and the
    * remedy metric (leak share = cross-fold mass / total).
    */
  private val CvFolds = 5L

  def cvLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    val fold = Parity.mixBucket(col("doc_id"), 2654435761L, CvFolds)
    val folds = Tables.documents(spark, sfDir)
      .select(col("doc_id"), fold.as("fold"))
    val pairs = DedupOps.dedupMinhash(spark, sfDir).select(col("d1"), col("d2"))
    pairs
      .join(folds.select(col("doc_id").as("d1x"), col("fold").as("f1")),
        col("d1") === col("d1x"))
      .join(folds.select(col("doc_id").as("d2x"), col("fold").as("f2")),
        col("d2") === col("d2x"))
      .select(least(col("f1"), col("f2")).as("fold_a"),
        greatest(col("f1"), col("f2")).as("fold_b"))
      .groupBy(col("fold_a"), col("fold_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaks", col("fold_a") =!= col("fold_b"))
      .orderBy(col("fold_a"), col("fold_b"))
  }

  private lazy val cvLeakageOracle = {
    val foldSql = Parity.mixBucketSql("doc_id", 2654435761L, CvFolds)
    s"""WITH mh AS (SELECT d1, d2 FROM (${DedupOps.dedupMinhashOracle})),
       |f AS (SELECT doc_id, $foldSql AS fold FROM documents),
       |tagged AS (
       |  SELECT LEAST(a.fold, b.fold) AS fold_a,
       |         GREATEST(a.fold, b.fold) AS fold_b
       |  FROM mh JOIN f a ON d1 = a.doc_id JOIN f b ON d2 = b.doc_id)
       |SELECT fold_a, fold_b, COUNT(*) AS n_pairs, fold_a <> fold_b AS leaks
       |FROM tagged GROUP BY fold_a, fold_b ORDER BY fold_a, fold_b""".stripMargin
  }

  // ---------------------------------------- cluster-aware fold split
  /** Cluster-aware fold assignment — the REMEDY whose absence
    * [[cvLeakage]] audits (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better": eval contamination survives
    * doc-level splitting whenever near-dups straddle the split): fold
    * by the near-dup CLUSTER label, not the doc — every member of a
    * connected component (the verified MinHash pair table under the
    * [[graft.ops.DedupOps.dedupClusters]] components; singletons label
    * as themselves) inherits one fold, so cross-fold near-dup pairs
    * are ZERO BY CONSTRUCTION. The output carries that witness (the A6
    * scalar pattern): per-fold doc/group counts plus the corpus-wide
    * cross-fold pair count the oracle independently recomputes — a
    * clustering or hashing bug shows up as a nonzero witness, not a
    * silent skew.
    *
    * Scale shape: labels come from the O(log n) star-contraction CC
    * the dedup family already runs; fold assignment is one map-side
    * hash of the label ([[Parity.mixBucket]] — content-independent,
    * engine-identical, stable across reruns); the witness joins the
    * pair table (already materialized once per session) against the
    * narrow (doc, fold) frame. Fold sizes are near-uniform because
    * cluster mass, not doc count, is what the hash balances — the
    * honest trade of group-aware splitting.
    */
  def clusterSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = DedupOps.connectedComponents(
      DedupOps.dedupMinhash(spark, sfDir).select(col("d1"), col("d2")))
    val assigned = Tables.documents(spark, sfDir).select(col("doc_id"))
      .join(labels.select(col("node").as("doc_id"), col("label")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("grp"))
      .withColumn("fold", Parity.mixBucket(col("grp"), 2654435761L, CvFolds))
    val pairs = DedupOps.dedupMinhash(spark, sfDir)
      .select(col("d1"), col("d2"))
    val witness = pairs
      .join(assigned.select(col("doc_id").as("d1"), col("fold").as("f1")),
        Seq("d1"))
      .join(assigned.select(col("doc_id").as("d2"), col("fold").as("f2")),
        Seq("d2"))
      .agg(sum(when(col("f1") =!= col("f2"), 1L).otherwise(0L))
        .as("n_cross_pairs"),
        count(lit(1)).as("n_pairs"))
    assigned.groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("grp")).as("n_groups"))
      .crossJoin(broadcast(witness))
      .orderBy(col("fold"))
  }

  private lazy val clusterSplitOracle = {
    val foldSql = Parity.mixBucketSql("grp", 2654435761L, CvFolds)
    s"""WITH RECURSIVE mh AS (SELECT d1, d2 FROM (${DedupOps.dedupMinhashOracle})),
       |nodes AS (SELECT d1 AS n FROM mh UNION SELECT d2 FROM mh),
       |sym AS (SELECT d1 AS a, d2 AS b FROM mh UNION SELECT d2, d1 FROM mh),
       |reach AS (
       |  SELECT n AS node, n AS root FROM nodes
       |  UNION
       |  SELECT s.b AS node, r.root FROM reach r JOIN sym s ON s.a = r.node),
       |lab AS (SELECT node, MIN(root) AS grp FROM reach GROUP BY node),
       |asg AS (SELECT d.doc_id, COALESCE(l.grp, d.doc_id) AS grp
       |        FROM documents d LEFT JOIN lab l ON d.doc_id = l.node),
       |folded AS (SELECT doc_id, grp, $foldSql AS fold FROM asg),
       |witness AS (
       |  SELECT CAST(SUM(CASE WHEN a.fold <> b.fold THEN 1 ELSE 0 END)
       |              AS BIGINT) AS n_cross_pairs,
       |         COUNT(*) AS n_pairs
       |  FROM mh JOIN folded a ON mh.d1 = a.doc_id
       |          JOIN folded b ON mh.d2 = b.doc_id)
       |SELECT fold, COUNT(*) AS n_docs, COUNT(DISTINCT grp) AS n_groups,
       |       n_cross_pairs, n_pairs
       |FROM folded CROSS JOIN witness
       |GROUP BY fold, n_cross_pairs, n_pairs
       |ORDER BY fold""".stripMargin
  }

  // ---------------------------------------------------- bootstrap CI
  /** Deterministic Poisson-style bootstrap confidence interval for a
    * corpus mean (here: tokens per document) — the error bar a corpus
    * report should carry. Replica weights are hash-seeded
    * binomial(8, 1/8) draws (mean 1, variance 7/8 — the standard
    * Poisson(1)-approximating resampling weight, made DETERMINISTIC:
    * eight [[Parity.mixBucket]] evaluations of (doc·B + replica) with
    * distinct odd multipliers, so both engines draw the identical
    * resamples with no RNG anywhere). Each replica's self-normalized
    * mean Σw·x / Σw is one exact-integer pair of sums; the CI is the
    * 2.5/97.5 percentile of the B replica means (quantile_cont
    * parity, the q_percentiles precedent).
    *
    * Scale shape: the replica fan-out is a generator (B rows per doc
    * of three integers — never the text), aggregated by replica with
    * map-side partials; B is a constant, so the whole thing is one
    * bounded-width shuffle. At 100 TB the same plan holds — Poisson
    * bootstrap exists precisely because resampling-by-weight
    * distributes where sample-with-replacement does not.
    */
  private val BootB = 50
  private val BootKs = Seq(2654435761L, 2246822519L, 3266489917L,
    668265263L, 374761393L, 2869860233L, 1540483477L, 2654435789L)

  def bootstrapCi(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("x"))
    val reps = docs
      .select(col("doc_id"), col("x"),
        explode(expr(s"sequence(0, ${BootB - 1})")).as("b"))
      .withColumn("w", BootKs.map(k =>
        when(Parity.mixBucketHi(col("doc_id") * BootB + col("b"), k, 8L) === 0L,
          1L).otherwise(0L)).reduce(_ + _))
    val means = reps.groupBy(col("b"))
      .agg(sum(col("w")).as("sw"), sum(col("w") * col("x")).as("swx"))
      .withColumn("m", col("swx").cast("double") / col("sw"))
    val base = docs.agg(count(lit(1)).as("n_docs"), sum(col("x")).as("sx"))
    means.agg(count(lit(1)).as("b_reps"),
      round(expr("percentile(m, 0.025D)"), 4).as("ci_lo"),
      round(expr("percentile(m, 0.975D)"), 4).as("ci_hi"))
      .crossJoin(broadcast(base))
      .select(col("n_docs"), col("b_reps"),
        round(col("sx").cast("double") / col("n_docs"), 4).as("mean_tokens"),
        col("ci_lo"), col("ci_hi"))
  }

  private lazy val bootstrapCiOracle = {
    val wSql = BootKs.map(k =>
      s"CASE WHEN ${Parity.mixBucketHiSql(s"(doc_id * $BootB + b)", k, 8L)} = 0" +
        " THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH docs AS (SELECT doc_id,
       |                     CAST(len(string_split(text, ' ')) AS BIGINT) AS x
       |              FROM documents),
       |reps AS (
       |  SELECT doc_id, x, b, $wSql AS w
       |  FROM docs, LATERAL unnest(range(0, $BootB)) AS t(b)),
       |means AS (
       |  SELECT b, CAST(SUM(w * x) AS DOUBLE) / SUM(w) AS m
       |  FROM reps GROUP BY b),
       |base AS (SELECT COUNT(*) AS n_docs, CAST(SUM(x) AS BIGINT) AS sx FROM docs)
       |SELECT n_docs, (SELECT COUNT(*) FROM means) AS b_reps,
       |       ROUND(CAST(sx AS DOUBLE) / n_docs, 4) AS mean_tokens,
       |       (SELECT ROUND(quantile_cont(m, 0.025), 4) FROM means) AS ci_lo,
       |       (SELECT ROUND(quantile_cont(m, 0.975), 4) FROM means) AS ci_hi
       |FROM base""".stripMargin
  }

  // ------------------------------------------------------ lift table
  /** Decile lift table — the ranking-eval readout for a selection
    * score: documents deciled by DSIR weight (desc), each decile's
    * target-language ("positive") rate compared to the base rate.
    * Lift > 1 in the top deciles is the evidence that the score
    * actually concentrates the target — the table every
    * classifier/heuristic selection ships with. Deciling is one
    * narrow-row ntile window in the default oracle-parity mode; rates
    * and lift are exact-count IEEE divisions rounded at 6 dp; the
    * corpus-scale work is the composed weight operator's one pass.
    * The 100 TB bucketing path — GK-sketch decile cutpoints broadcast
    * back + a map-side comparison ladder instead of the doc-count-sized
    * global ntile — is [[liftTableApprox]], oracle-exercised through
    * the equal-mass invariant.
    */
  private def decileApprox(scored: DataFrame): DataFrame = {
    // cutpoints at the 90th..10th percentile of dsir_w: decile 1 = the
    // HIGHEST weights (ntile over weight DESC), so bucket by >= from
    // the top cut downwards
    val cuts = scored.agg(expr(
      "approx_percentile(dsir_w, array(0.9, 0.8, 0.7, 0.6, 0.5, " +
        "0.4, 0.3, 0.2, 0.1), 10000)").as("cs"))
    val bucket = (9 to 1 by -1).foldLeft(lit(10)) { (acc, i) =>
      // fold builds inside-out from the lowest cut, so the OUTERMOST
      // test is the highest cut and the first satisfied >= wins
      when(col("dsir_w") >= col("cs").getItem(i - 1), lit(i)).otherwise(acc)
    }
    scored.crossJoin(broadcast(cuts)).withColumn("decile", bucket)
  }

  def liftTable(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = importanceWeights(spark, sfDir)
      .withColumn("pos", when(col("lang") === DsirTarget, 1L).otherwise(0L))
    val deciled = scored.withColumn("decile",
      ntile(10).over(Window.orderBy(col("dsir_w").desc, col("doc_id"))))
    val base = scored.agg(count(lit(1)).as("n_all"), sum(col("pos")).as("p_all"))
    deciled.groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("positives"))
      .crossJoin(broadcast(base))
      .select(col("decile"), col("n"), col("positives"),
        round(col("positives").cast("double") / col("n"), 6).as("rate"),
        round((col("positives").cast("double") / col("n")) /
          (col("p_all").cast("double") / col("n_all")), 6).as("lift"))
      .orderBy(col("decile"))
  }

  private lazy val liftTableOracle =
    s"""WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
       |              FROM documents),
       |freqs AS (SELECT term, COUNT(*) AS tf_all,
       |                 CAST(SUM(CASE WHEN lang = '$DsirTarget' THEN 1 ELSE 0 END)
       |                      AS BIGINT) AS tf_tgt
       |          FROM toks GROUP BY term),
       |tot AS (SELECT CAST(SUM(tf_all) AS BIGINT) AS n_all,
       |               CAST(SUM(tf_tgt) AS BIGINT) AS n_tgt,
       |               COUNT(*) AS vocab
       |        FROM freqs),
       |lr AS (SELECT term,
       |              CAST(ROUND((ln(CAST(tf_tgt + 1 AS DOUBLE) / (n_tgt + vocab)) -
       |                          ln(CAST(tf_all + 1 AS DOUBLE) / (n_all + vocab)))
       |                         * 1000000.0) AS BIGINT) AS lr_e6
       |       FROM freqs CROSS JOIN tot),
       |dw AS (SELECT doc_id, lang,
       |              ROUND(CAST(SUM(lr_e6) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
       |                AS dsir_w
       |       FROM toks JOIN lr USING (term) GROUP BY doc_id, lang),
       |deciled AS (
       |  SELECT CASE WHEN lang = '$DsirTarget' THEN 1 ELSE 0 END AS pos,
       |         CAST(NTILE(10) OVER (ORDER BY dsir_w DESC, doc_id)
       |              AS INTEGER) AS decile
       |  FROM dw),
       |base AS (SELECT COUNT(*) AS n_all, CAST(SUM(pos) AS BIGINT) AS p_all
       |         FROM deciled)
       |SELECT decile, COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS positives,
       |       ROUND(CAST(SUM(pos) AS DOUBLE) / COUNT(*), 6) AS rate,
       |       ROUND((CAST(SUM(pos) AS DOUBLE) / COUNT(*)) /
       |             (CAST(p_all AS DOUBLE) / n_all), 6) AS lift
       |FROM deciled CROSS JOIN base
       |GROUP BY decile, p_all, n_all ORDER BY decile""".stripMargin

  /** The 100 TB mode of [[liftTable]] exercised for real (the
    * equidepth/knPerplexity approx-twin pattern): decile cutpoints
    * from the mergeable GK sketch, map-side bucketing, and an oracle
    * on the property that DEFINES a decile split — each of the 10
    * buckets holds n/10 docs within a tolerance dominated by cutpoint
    * discretization (buckets split at actual data values; dsir_w is a
    * 6 dp-rounded per-doc average, near-distinct on this corpus), and
    * counts partition the scored docs exactly. Tolerance 5% of n =
    * 5× the decile mass's discretization grain at verify SF; the
    * equidepth ties doctrine applies (a mass-duplicated corpus needs
    * dedup first or a re-derived bound).
    */
  // ------------------------------------------------- isotonic (PAV)
  /** Isotonic calibration of the DSIR score against the target label
    * — the CALIBRATOR for the signal [[liftTable]] audits: bin the
    * docs into [[IsoBins]] equal-depth score bins (ascending), then
    * fit the monotone non-decreasing rate curve by isotonic L2
    * regression. Computed via the MINIMAX closed form
    * ŷ_k = max_{i≤k} min_{j≥k} rate(i..j) — provably identical to
    * pool-adjacent-violators (Ayer et al. 1955; the spec cross-checks
    * against an actual PAV stack recompute), and chosen because it is
    * pure bounded-frame relational algebra: no sequential pooling
    * loop crosses engines.
    *
    * Parity: range rates are exact integers ((Σpos)·1e6 truncating-÷
    * Σn from prefix sums), so min/max over them are exact; the only
    * float is the documented global-ntile ordering on the 6dp score
    * (the liftTable oracle-parity mode).
    *
    * Scale shape: one corpus pass scores the docs ([[importanceWeights]]
    * machinery); the global ntile is the liftTable doctrine; EVERYTHING
    * after the per-bin rollup is a [[IsoBins]]-row frame — the
    * triangular minimax joins are 16×16 broadcast joins, not corpus
    * work.
    */
  private val IsoBins = 16

  def isotonicCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = importanceWeights(spark, sfDir)
      .withColumn("pos", when(col("lang") === DsirTarget, 1L).otherwise(0L))
    val w = Window.orderBy(col("dsir_w").asc, col("doc_id"))
    val binned = scored.withColumn("bin", ntile(IsoBins).over(w))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("pos"))
    val wc = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = binned
      .withColumn("cn", sum(col("n")).over(wc))
      .withColumn("cp", sum(col("pos")).over(wc))
    val lo = cum.select(col("bin").as("i"), (col("cn") - col("n")).as("cn0"),
      (col("cp") - col("pos")).as("cp0"))
    val hi = cum.select(col("bin").as("j"), col("cn").as("cn1"),
      col("cp").as("cp1"))
    val pairs = lo.crossJoin(hi).filter(col("i") <= col("j"))
      .select(col("i"), col("j"),
        expr("(cp1 - cp0) * 1000000 div (cn1 - cn0)").as("r_e6"))
    val inner = binned.select(col("bin").as("k"))
      .join(pairs, col("i") <= col("k") && col("k") <= col("j"))
      .groupBy(col("k"), col("i")).agg(min(col("r_e6")).as("mn"))
    val iso = inner.groupBy(col("k")).agg(max(col("mn")).as("iso_rate_e6"))
    binned.join(iso, col("bin") === col("k"))
      .select(col("bin"), col("n"), col("pos"),
        expr("pos * 1000000 div n").as("raw_rate_e6"), col("iso_rate_e6"))
      .orderBy(col("bin"))
  }

  private val isotonicOracle =
    s"""WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
       |              FROM documents),
       |freqs AS (SELECT term, COUNT(*) AS tf_all,
       |                 CAST(SUM(CASE WHEN lang = '$DsirTarget' THEN 1 ELSE 0 END)
       |                      AS BIGINT) AS tf_tgt
       |          FROM toks GROUP BY term),
       |tot AS (SELECT CAST(SUM(tf_all) AS BIGINT) AS n_all,
       |               CAST(SUM(tf_tgt) AS BIGINT) AS n_tgt,
       |               COUNT(*) AS vocab
       |        FROM freqs),
       |lr AS (SELECT term,
       |              CAST(ROUND((ln(CAST(tf_tgt + 1 AS DOUBLE) / (n_tgt + vocab)) -
       |                          ln(CAST(tf_all + 1 AS DOUBLE) / (n_all + vocab)))
       |                         * 1000000.0) AS BIGINT) AS lr_e6
       |       FROM freqs CROSS JOIN tot),
       |dw AS (SELECT doc_id, lang,
       |              ROUND(CAST(SUM(lr_e6) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
       |                AS dsir_w
       |       FROM toks JOIN lr USING (term) GROUP BY doc_id, lang),
       |binned AS (
       |  SELECT bin, COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS pos FROM (
       |    SELECT CASE WHEN lang = '$DsirTarget' THEN 1 ELSE 0 END AS pos,
       |           CAST(NTILE($IsoBins) OVER (ORDER BY dsir_w ASC, doc_id)
       |                AS INTEGER) AS bin
       |    FROM dw) GROUP BY bin),
       |cum AS (SELECT *, CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
       |               CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS cp
       |        FROM binned),
       |pairs AS (
       |  SELECT a.bin AS i, b.bin AS j,
       |         (b.cp - (a.cp - a.pos)) * 1000000 // (b.cn - (a.cn - a.n))
       |           AS r_e6
       |  FROM cum a, cum b WHERE a.bin <= b.bin),
       |im AS (SELECT k.bin AS k, p.i, CAST(MIN(p.r_e6) AS BIGINT) AS mn
       |       FROM binned k JOIN pairs p ON p.i <= k.bin AND k.bin <= p.j
       |       GROUP BY k.bin, p.i),
       |iso AS (SELECT k, CAST(MAX(mn) AS BIGINT) AS iso_rate_e6
       |        FROM im GROUP BY k)
       |SELECT b.bin, b.n, b.pos, b.pos * 1000000 // b.n AS raw_rate_e6,
       |       iso.iso_rate_e6
       |FROM binned b JOIN iso ON iso.k = b.bin
       |ORDER BY b.bin""".stripMargin

  def liftTableApprox(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = importanceWeights(spark, sfDir)
    decileApprox(scored)
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"))
      .agg(sum(col("n")).as("n_docs_total"),
        count(lit(1)).cast("int").as("n_deciles"),
        max(col("n")).as("n_max"), min(col("n")).as("n_min"))
      .select(col("n_docs_total"), col("n_deciles"),
        (greatest(col("n_max") - col("n_docs_total") / 10.0,
          col("n_docs_total") / 10.0 - col("n_min")) <=
          col("n_docs_total") * 0.05).as("depth_within_5pct"))
  }

  private val liftTableApproxOracle =
    """SELECT COUNT(*) AS n_docs_total, 10 AS n_deciles,
      |       TRUE AS depth_within_5pct
      |FROM documents""".stripMargin

  // -------------------------------------------- quantile normalization
  /** Per-source empirical-CDF transform: each document's length score
    * maps to its within-source quantile, so a single global threshold
    * ("keep the top 10%") means the same thing in every source
    * regardless of how long that source's documents run — the
    * normalization step before cross-source quality filtering.
    *
    * Scale shape: the CDF is NOT a per-row rank window — scores
    * collapse to (source, score, cnt) first (one hash aggregate), the
    * prefix sum runs over DISTINCT scores per source, and the mapped
    * quantile joins back on (source, score). A 10¹² row corpus with a
    * bounded score domain pays two exchanges on dimension-sized data
    * plus the fact-side join. CDF values are exact half-up e6 ratios
    * (cum·2e6 needs DECIMAL(38) once counts pass ~4e12 rows/source).
    */
  def quantileNorm(spark: SparkSession, sfDir: String): DataFrame = {
    val per = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("n_chars").as("score"))
      .agg(count(lit(1)).as("cnt"))
    val wCdf = Window.partitionBy(col("source")).orderBy(col("score"))
    val wSrc = Window.partitionBy(col("source"))
    val cdf = per
      .withColumn("cum", sum(col("cnt")).over(wCdf))
      .withColumn("n_src", sum(col("cnt")).over(wSrc))
      .withColumn("cdf_e6",
        ((col("cum") * 2000000L + col("n_src") -
          pmod(col("cum") * 2000000L + col("n_src"), col("n_src") * 2)) /
          (col("n_src") * 2)).cast("long"))
      .select(col("source"), col("score"), col("cdf_e6"))
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), col("source"), col("n_chars").as("score"))
      .join(cdf, Seq("source", "score"))
      .select(col("doc_id"), col("source"), col("score"), col("cdf_e6"))
      .orderBy(col("doc_id"))
  }

  private val quantileNormOracle =
    """WITH per AS (
      |  SELECT source, n_chars AS score, COUNT(*) AS cnt
      |  FROM documents GROUP BY 1, 2),
      |c AS (
      |  SELECT source, score,
      |         CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY score)
      |              AS BIGINT) AS cum,
      |         CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT) AS n_src
      |  FROM per)
      |SELECT d.doc_id, d.source, d.n_chars AS score,
      |       CAST((cum * 2000000 + n_src) // (n_src * 2) AS BIGINT) AS cdf_e6
      |FROM documents d JOIN c ON d.source = c.source AND d.n_chars = c.score
      |WHERE d.doc_id < 100 ORDER BY d.doc_id""".stripMargin

  // ----------------------------------------------------- hashing trick
  /** Hashing-trick featurization (Weinberger et al.'s feature hashing —
    * the vectorizer behind Vowpal-Wabbit-style linear models at corpus
    * scale): every token maps to one of [[FhDim]] buckets by hash, with
    * a ±1 sign drawn from an independent hash bit so collisions cancel
    * in expectation. Reported as the corpus-level feature-matrix
    * profile per bucket: total hits, signed mass (what a linear model's
    * gram column sees), document frequency — the numbers that tell you
    * whether [[FhDim]] is too small for the vocabulary.
    *
    * Scale: one token explode → one hash aggregate on a [[FhDim]]-value
    * key; the signed sum is map-side partial-aggregated and the
    * per-bucket doc frequency reduces (bucket, doc) pairs before the
    * distinct count. No vocabulary is materialized — that is the whole
    * point of the hashing trick.
    */
  private val FhDim = 64L

  def featureHash(spark: SparkSession, sfDir: String): DataFrame = {
    val hits = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .withColumn("h", Parity.md5Key(col("term").cast("binary")))
      .select(col("doc_id"), (col("h") % FhDim).as("bucket"),
        when(expr(s"(h div ${FhDim}L) % 2") === 0L, 1L).otherwise(-1L)
          .as("sign"))
    hits.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_hits"),
        sum(col("sign")).as("signed_mass"),
        countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("bucket"))
  }

  private val featureHashOracle =
    s"""WITH hits AS (
       |  SELECT doc_id,
       |         h % $FhDim AS bucket,
       |         CASE WHEN (h // $FhDim) % 2 = 0 THEN 1 ELSE -1 END AS sign
       |  FROM (
       |    SELECT doc_id,
       |           ${Parity.md5KeySql("term")} AS h
       |    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |          FROM documents)))
       |SELECT bucket, COUNT(*) AS n_hits,
       |       CAST(SUM(sign) AS BIGINT) AS signed_mass,
       |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
       |FROM hits GROUP BY bucket ORDER BY bucket""".stripMargin

  // ------------------------------------------- Fellegi–Sunter linkage
  /** Probabilistic record linkage (Fellegi & Sunter 1969) over the
    * document store — blocked candidate pairs classified by the
    * likelihood ratio of their field-agreement pattern, the
    * entity-resolution layer above the dedup family's pair detectors:
    * four comparison features (lang equal, source equal, length within
    * 10 chars, 16-char-prefix edit distance ≤ 4) form a 4-bit pattern
    * γ, and each pattern's match odds is Π_i m_i/u_i (agreeing
    * features) · (1−m_i)/(1−u_i) (disagreeing), where m = the
    * feature's agreement rate among presumed matches and u = among
    * non-matches. The m-probabilities are estimated from the SimHash
    * blocking's candidate pairs (the presumed-match set; production FS
    * refines this with EM), the u-probabilities from a deterministic
    * shifted-pair sample ((d, (d+N/2) mod N) — the standard
    * random-pair u estimate, derandomized), both Laplace-smoothed.
    *
    * Parity: the classifier never computes a logarithm — the
    * log-weight sum is equivalent to comparing the odds PRODUCT
    * against 1, and with Laplace counts every odds is a ratio of two
    * integer products, evaluated exactly in DECIMAL(38) (Spark) /
    * HUGEINT (DuckDB): ≈ (nm·nu)⁴ ≤ 10³¹ at sf0.1, documented
    * DECIMAL(38) ceiling ~3·10⁹ total pairs — re-scale by dividing
    * common factors past that. The displayed odds is the
    * correctly-rounded double quotient, identical in both engines.
    *
    * Scale shape: feature vectors are two broadcast-ish joins onto the
    * bounded candidate-pair table (never all pairs); m/u estimation is
    * one 1-row aggregate each, broadcast back; the report is a 16-row
    * pattern rollup. The blocking step carries the corpus-scale cost
    * and is already adjudicated (DedupOps.dedupSimhash).
    */
  def recordLinkage(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        substring(col("text"), 1, 16).as("p16"))
    def feats(pairs: DataFrame): DataFrame = pairs
      .join(docs.select(col("doc_id").as("d1"), col("lang").as("l1"),
        col("source").as("s1"), col("n_chars").as("c1"), col("p16").as("p1")),
        Seq("d1"))
      .join(docs.select(col("doc_id").as("d2"), col("lang").as("l2"),
        col("source").as("s2"), col("n_chars").as("c2"), col("p16").as("p2")),
        Seq("d2"))
      .select(col("d1"), col("d2"),
        when(col("l1") === col("l2"), 1L).otherwise(0L).as("g1"),
        when(col("s1") === col("s2"), 1L).otherwise(0L).as("g2"),
        when(abs(col("c1") - col("c2")) <= 10, 1L).otherwise(0L).as("g3"),
        when(levenshtein(col("p1"), col("p2")) <= 4, 1L).otherwise(0L).as("g4"))
    val mf = feats(DedupOps.simhashPairsMaterialized(spark, sfDir))
    val nDocs = docs.count() // driver scalar hop (the A6 pattern)
    val uf = feats(docs.select(col("doc_id").as("d1"),
      pmod(col("doc_id") + lit(nDocs / 2), lit(nDocs)).as("d2"))
      .filter(col("d1") =!= col("d2")))
    def rates(f: DataFrame, p: String): DataFrame =
      f.agg(count(lit(1)).as(s"n$p"),
        sum(col("g1")).as(s"${p}1"), sum(col("g2")).as(s"${p}2"),
        sum(col("g3")).as(s"${p}3"), sum(col("g4")).as(s"${p}4"))
    def term(p: String, n: String, i: Int): String =
      s"CAST(CASE WHEN pmod(gamma DIV ${1 << (4 - i)}, 2) = 1 " +
        s"THEN $p$i + 1 ELSE $n + 1 - $p$i END AS DECIMAL(38, 0))"
    val num = (1 to 4).map(term("a", "na", _)).mkString(" * ") +
      " * CAST(nc + 2 AS DECIMAL(38, 0))" * 4
    val den = (1 to 4).map(term("c", "nc", _)).mkString(" * ") +
      " * CAST(na + 2 AS DECIMAL(38, 0)) * CAST(na + 2 AS DECIMAL(38, 0))" +
      " * CAST(na + 2 AS DECIMAL(38, 0)) * CAST(na + 2 AS DECIMAL(38, 0))"
    mf.select((col("g1") * 8 + col("g2") * 4 + col("g3") * 2 + col("g4"))
        .as("gamma"))
      .groupBy(col("gamma")).agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(rates(mf, "a")))
      .crossJoin(broadcast(rates(uf, "c")))
      .select(col("gamma"), col("n_pairs"),
        expr(s"($num) > ($den)").as("is_link"),
        round(expr(s"CAST($num AS DOUBLE) / CAST($den AS DOUBLE)"), 6)
          .as("odds"))
      .orderBy(col("gamma"))
  }

  private lazy val recordLinkageOracle = {
    def gbit(i: Int): String = s"(gamma // ${1 << (4 - i)}) % 2"
    def term(p: String, n: String, i: Int): String =
      s"CAST(CASE WHEN ${gbit(i)} = 1 THEN $p$i + 1 " +
        s"ELSE $n + 1 - $p$i END AS HUGEINT)"
    val num = (1 to 4).map(term("a", "na", _)).mkString(" * ") +
      " * CAST((nu + 2) AS HUGEINT)" * 4
    val den = (1 to 4).map(term("c", "nu", _)).mkString(" * ") +
      " * CAST((na + 2) AS HUGEINT)" * 4
    s"""WITH d AS (SELECT doc_id, lang, source, n_chars,
       |                  substr(text, 1, 16) AS p16 FROM documents),
       |mp AS (SELECT d1, d2 FROM (${DedupOps.dedupSimhashOracle})),
       |n AS (SELECT COUNT(*) AS nd FROM d),
       |up AS (SELECT doc_id AS d1, (doc_id + nd // 2) % nd AS d2
       |       FROM d, n WHERE doc_id <> (doc_id + nd // 2) % nd),
       |mfe AS (
       |  SELECT CASE WHEN a.lang = b.lang THEN 1 ELSE 0 END AS g1,
       |         CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS g2,
       |         CASE WHEN ABS(a.n_chars - b.n_chars) <= 10 THEN 1 ELSE 0 END AS g3,
       |         CASE WHEN levenshtein(a.p16, b.p16) <= 4 THEN 1 ELSE 0 END AS g4
       |  FROM mp JOIN d a ON a.doc_id = mp.d1 JOIN d b ON b.doc_id = mp.d2),
       |ufe AS (
       |  SELECT CASE WHEN a.lang = b.lang THEN 1 ELSE 0 END AS g1,
       |         CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS g2,
       |         CASE WHEN ABS(a.n_chars - b.n_chars) <= 10 THEN 1 ELSE 0 END AS g3,
       |         CASE WHEN levenshtein(a.p16, b.p16) <= 4 THEN 1 ELSE 0 END AS g4
       |  FROM up JOIN d a ON a.doc_id = up.d1 JOIN d b ON b.doc_id = up.d2),
       |ma AS (SELECT COUNT(*) AS na, SUM(g1) AS a1, SUM(g2) AS a2,
       |              SUM(g3) AS a3, SUM(g4) AS a4 FROM mfe),
       |ua AS (SELECT COUNT(*) AS nu, SUM(g1) AS c1, SUM(g2) AS c2,
       |              SUM(g3) AS c3, SUM(g4) AS c4 FROM ufe),
       |pat AS (SELECT CAST(g1 * 8 + g2 * 4 + g3 * 2 + g4 AS BIGINT) AS gamma,
       |               COUNT(*) AS n_pairs
       |        FROM mfe GROUP BY 1)
       |SELECT gamma, n_pairs, ($num) > ($den) AS is_link,
       |       ROUND(CAST(($num) AS DOUBLE) / CAST(($den) AS DOUBLE), 6)
       |         AS odds
       |FROM pat CROSS JOIN ma CROSS JOIN ua
       |ORDER BY gamma""".stripMargin
  }

  // ------------------------------------- greedy coverage selection
  /** Greedy maximum-coverage corpus selection (the Nemhauser–Wolsey–
    * Fisher '78 greedy on a submodular objective — the classic
    * "pick k documents that cover the most distinct content"
    * curation rule, with its (1−1/e) guarantee): five rounds, each
    * selecting the document adding the most word-3-gram shingles not
    * yet covered (ties → lowest doc_id), then folding its shingles
    * into the covered set. Output: one row per round with the
    * winner's marginal gain and the running coverage — the
    * diminishing-returns curve a curation pipeline reads the budget
    * off of.
    *
    * Scale shape: per round one anti-join of the token table against
    * the covered set (equi-join on shingle — the covered side is
    * bounded by the universe, broadcast at fixture scale, bucketed at
    * 100 TB), one partial-aggregated per-doc count, and a 1-row
    * argmax collected to the driver (the A6 scalar two-phase shape —
    * k driver round-trips for k selections, exactly how distributed
    * submodular greedy runs in practice; for large k switch to the
    * GREEDI two-level partition scheme, same per-round plan). The
    * oracle unrolls the same five rounds as CTEs with the identical
    * (gain DESC, doc_id) tiebreak.
    */
  private val CoverRounds = 5

  def greedyCover(spark: SparkSession, sfDir: String): DataFrame = {
    // shingles hash to the 60-bit md5 primitive in the explode (the
    // ppjoin lesson): every downstream anti-join/aggregate/checkpoint
    // moves 8-byte longs, and the hashed universes are identical in
    // both engines so all coverage counts stay bit-equal
    val tokset = graft.ops.DedupOps
      .shingleArrays(Tables.documents(spark, sfDir))
      .select(col("doc_id"), explode(expr(
        s"transform(sh, s -> ${Parity.md5KeyExpr("CAST(s AS BINARY)")})"))
        .as("tok"))
      .localCheckpoint()
    var covered: DataFrame = tokset.select(col("tok")).limit(0)
    var chosen = List.empty[(Int, Long, Long)]
    var exhausted = false
    (1 to CoverRounds).foreach { r =>
      if (!exhausted) {
        val gains = tokset
          .filter(!col("doc_id").isInCollection(
            chosen.map(_._2) match { case Nil => Seq(-1L); case ds => ds }))
          .join(covered, Seq("tok"), "left_anti")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("gain"))
        val rows = gains.orderBy(col("gain").desc, col("doc_id")).limit(1)
          .collect()
        // universe fully covered (or no unselected docs): stop early
        // with the rounds achieved — the oracle's w_k CTEs go empty the
        // same way and the two sides stay row-for-row equal
        if (rows.isEmpty) exhausted = true
        else {
          val w = rows(0)
          chosen = chosen :+ ((r, w.getLong(0), w.getLong(1)))
          // no distinct, no checkpoint: left_anti is insensitive to
          // duplicate right-side rows, and the lineage is ≤ k unions of
          // narrow filters over the already-checkpointed token table —
          // dropping the per-round dedup shuffle + materialization job
          // measured 6.1 s → ~3 s at sf0.1
          covered = covered
            .unionByName(tokset.filter(col("doc_id") === w.getLong(0))
              .select(col("tok")))
        }
      }
    }
    import spark.implicits._
    chosen.toDF("round", "doc_id", "gain")
      .withColumn("round", col("round").cast("long"))
      .withColumn("covered_cum",
        sum(col("gain")).over(Window.orderBy(col("round"))))
      .orderBy(col("round"))
  }

  private lazy val greedyCoverOracle = {
    def round(k: Int): String = {
      val prevWinners =
        (1 until k).map(j => s"SELECT doc_id FROM w$j").mkString(" UNION ALL ")
      val exclude =
        if (k == 1) ""
        else s"WHERE t.doc_id NOT IN ($prevWinners)"
      val anti =
        if (k == 1) ""
        else s"ANTI JOIN c${k - 1} USING (tok)"
      s"""r$k AS (SELECT t.doc_id, COUNT(*) AS gain
         |        FROM tokset t $anti $exclude GROUP BY t.doc_id),
         |w$k AS (SELECT doc_id, gain FROM r$k
         |        ORDER BY gain DESC, doc_id LIMIT 1),
         |c$k AS (SELECT DISTINCT tok FROM tokset
         |        WHERE doc_id IN (SELECT doc_id FROM w$k)
         |        ${if (k == 1) "" else s"UNION SELECT tok FROM c${k - 1}"})"""
        .stripMargin
    }
    val rounds = (1 to CoverRounds).map(round).mkString(",\n")
    val union = (1 to CoverRounds)
      .map(k => s"SELECT CAST($k AS BIGINT) AS round, doc_id, gain FROM w$k")
      .mkString(" UNION ALL ")
    s"""WITH tokset AS (
       |  SELECT doc_id,
       |         ${Parity.md5KeySql("shingle")} AS tok
       |  FROM (SELECT DISTINCT doc_id,
       |          words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
       |        FROM (SELECT doc_id, string_split(text, ' ') AS words
       |              FROM documents),
       |             LATERAL unnest(generate_series(1, len(words)-2)) AS t(i)
       |        WHERE len(words) >= 3)),
       |$rounds
       |SELECT round, doc_id, gain,
       |       CAST(SUM(gain) OVER (ORDER BY round) AS BIGINT) AS covered_cum
       |FROM ($union) ORDER BY round""".stripMargin
  }

  // ------------------------------------- fasttext-style classifier
  /** Linear text-classifier INFERENCE in the fastText bag-of-hashed-
    * features shape (Joulin et al. '16) — how FineWeb-Edu / DataComp
    * style quality filters actually run at corpus scale: every doc's
    * unigram + bigram features hash into 2¹² buckets, the per-bucket
    * model weights join in, the doc score is the feature-weight mean
    * through a sigmoid, and the corpus splits on p ≥ ½. The weight
    * table stands in for a trained model with a deterministic
    * md5-lattice fill (integer milli-units in [−1, 1]) — the engine
    * contract is the inference PLAN, not the training: the model is
    * O(buckets) regardless of corpus size, broadcasts whole, and the
    * corpus never shuffles except the per-doc partial-aggregated mean.
    * Parity: per-doc weight sums are exact e3-lattice integers; only
    * the final sigmoid touches floats, quantized to e6 before any
    * aggregate (the ln/exp precedent); per-group average re-uses the
    * integer-sum-then-divide form.
    */
  private val FtBuckets = 4096L

  /** Unigram + adjacent-bigram feature bag over a `ws` token array. The
    * bigram index list is filter(i < size) — NOT sequence(1, n−1),
    * which Spark evaluates as the DESCENDING [1, 0] on single-token
    * docs and then faults on element_at(ws, 0). Exposed for the spec's
    * single-token regression pin.
    */
  private[graft] val FtFeatureExpr =
    """concat(transform(ws, w -> concat('u:', w)),
      |       transform(filter(sequence(1, size(ws)), i -> i < size(ws)),
      |                 i -> concat('b:', element_at(ws, i), ' ',
      |                             element_at(ws, i + 1))))""".stripMargin

  def fasttextScore(spark: SparkSession, sfDir: String): DataFrame = {
    // the "model": bucket → weight in exact milli-units
    val weights = spark.range(0, FtBuckets).select(
      col("id").as("bucket"),
      (expr(Parity.md5KeyExpr(
        "CAST(concat('w:', CAST(id AS STRING)) AS BINARY)")) % 2001 - 1000)
        .as("w_e3"))
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ws", split(col("text"), " "))
    // bag of features: every unigram token + every adjacent bigram;
    // lang rides the narrow feature rows so the doc table scans ONCE
    val feats = docs.select(col("doc_id"), col("lang"),
      explode(expr(FtFeatureExpr)).as("feat"))
      .select(col("doc_id"), col("lang"),
        (Parity.md5Key(col("feat").cast("binary"))
          % FtBuckets).as("bucket"))
    val scored = feats
      .join(broadcast(weights), Seq("bucket"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_feats"), sum(col("w_e3")).as("s_e3"))
      .withColumn("p_e6",
        round(lit(1000000.0) /
          (lit(1.0) + exp(-col("s_e3").cast("double") /
            (col("n_feats") * lit(1000.0)))), 0).cast("long"))
    scored
      .groupBy(col("lang"), (col("p_e6") >= 500000L).as("kept"))
      .agg(count(lit(1)).as("n_docs"),
        round(min(col("p_e6")).cast("double") / 1000000.0, 6).as("min_p"),
        round(max(col("p_e6")).cast("double") / 1000000.0, 6).as("max_p"),
        round(sum(col("p_e6")).cast("double") / count(lit(1)) / 1000000.0, 6)
          .as("avg_p"))
      .orderBy(col("lang"), col("kept"))
  }

  private val fasttextScoreOracle =
    s"""WITH w AS (SELECT i AS bucket,
      |             ${Parity.md5KeySql("'w:' || i")}
      |               % 2001 - 1000 AS w_e3
      |           FROM generate_series(0, 4095) t(i)),
      |d AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
      |feats AS (
      |  SELECT doc_id, 'u:' || w AS feat FROM (SELECT doc_id, unnest(ws) AS w FROM d)
      |  UNION ALL
      |  SELECT doc_id, 'b:' || ws[i] || ' ' || ws[i+1] AS feat
      |  FROM d, UNNEST(range(1, len(ws))) AS t(i)),
      |fb AS (SELECT doc_id,
      |         ${Parity.md5KeySql("feat")} % 4096
      |           AS bucket
      |       FROM feats),
      |sc AS (SELECT doc_id, COUNT(*) AS n_feats, SUM(w_e3) AS s_e3
      |       FROM fb JOIN w USING (bucket) GROUP BY doc_id),
      |p AS (SELECT doc_id,
      |        CAST(ROUND(1000000.0 /
      |          (1.0 + exp(-CAST(s_e3 AS DOUBLE) / (n_feats * 1000.0))))
      |          AS BIGINT) AS p_e6
      |      FROM sc)
      |SELECT lang, p_e6 >= 500000 AS kept, COUNT(*) AS n_docs,
      |       ROUND(CAST(MIN(p_e6) AS DOUBLE) / 1000000.0, 6) AS min_p,
      |       ROUND(CAST(MAX(p_e6) AS DOUBLE) / 1000000.0, 6) AS max_p,
      |       ROUND(CAST(SUM(p_e6) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
      |         AS avg_p
      |FROM p JOIN d USING (doc_id)
      |GROUP BY lang, kept ORDER BY lang, kept""".stripMargin

  // ------------------------------------------------------------------
  /** Multinomial Naive Bayes TRAINING — the trainer the curation
    * family was missing: [[fasttextScore]] infers with fixed hashed
    * weights, but a real pipeline trains its quality/language
    * classifier on its own labeled corpus. This closes the
    * train→infer loop the way `bpeTrain`→`bpeApply` closed it for
    * tokenization: train per-class token counts with add-1 smoothing
    * on the e6 log lattice (the [[graft.ops.TextOps.unigramLogprob]]
    * quantization — integer micro-nats per token, so every downstream
    * sum is exact and order-free), report the model head
    * (top-[[NbTopK]] terms per class by count, tie term-asc) plus the
    * class priors/hyperparameters; [[nbInfer]] then scores the
    * HELD-OUT split (doc_id mod [[NbHoldMod]]) with exactly these
    * counts and reports the confusion matrix.
    *
    * Scale shape (train): one explode + two hash aggregates (per-class
    * token counts are (classes × vocab)-sized; the per-class top-k
    * window partitions BY CLASS, never global); class stats and vocab
    * size are 1-row/dimension-sized A6 broadcasts. (Infer): held-out
    * tokens cross the 5-row class dimension (bounded broadcast — the
    * fastText-model pattern) and join the count table UNHINTED
    * ((classes×vocab)-sized — AQE broadcasts at small SF, shuffle
    * equi-joins at corpus scale; a forced hint would die at the 8 GB
    * cliff); the per-doc argmax is a 5-row-per-doc keyed window.
    */
  private val NbHoldMod = 5L // doc_id % 5 == 4 → held-out
  private val NbTopK = 5

  /** The shared trained state: per-class doc/token stats, per-
    * (class, term) counts, and the train vocab size — [[nbTrain]]
    * reports them, [[nbInfer]] scores with them (ONE derivation). */
  private def nbCounts(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val train = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % NbHoldMod =!= NbHoldMod - 1)
    val toks = train.select(col("lang"),
      explode(split(col("text"), " ")).as("term"))
    val classStats = train.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .join(toks.groupBy(col("lang")).agg(count(lit(1)).as("n_tokens")),
        Seq("lang"))
    val counts = toks.groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("cnt"))
    val vocab = toks.agg(countDistinct(col("term")).as("v"))
    (classStats, counts, vocab)
  }

  private val nbTrainSqlCommon =
    s"""train AS (SELECT * FROM documents WHERE doc_id % $NbHoldMod <> ${NbHoldMod - 1}),
       |toks AS (SELECT lang, unnest(string_split(text, ' ')) AS term
       |         FROM train),
       |cls AS (SELECT lang, COUNT(*) AS n_docs FROM train GROUP BY lang),
       |ctok AS (SELECT lang, COUNT(*) AS n_tokens FROM toks GROUP BY lang),
       |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_all FROM cls),
       |voc AS (SELECT COUNT(DISTINCT term) AS v FROM toks),
       |cnts AS (SELECT lang, term, COUNT(*) AS cnt FROM toks
       |         GROUP BY 1, 2)""".stripMargin

  def nbTrain(spark: SparkSession, sfDir: String): DataFrame = {
    val (classStats, counts, vocab) = nbCounts(spark, sfDir)
    val tot = classStats.agg(sum(col("n_docs")).as("n_all"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("cnt").desc, col("term"))
    counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= NbTopK)
      .join(classStats, Seq("lang"))
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(vocab))
      .select(col("lang"), col("rk"), col("term"), col("cnt"),
        round(log((col("cnt") + 1).cast("double") /
          (col("n_tokens") + col("v"))) * lit(1000000.0), 0)
          .cast("long").as("lp_e6"),
        col("n_docs"), col("n_tokens"), col("v").as("vocab"),
        round(log(col("n_docs").cast("double") / col("n_all")) *
          lit(1000000.0), 0).cast("long").as("prior_e6"))
      .orderBy(col("lang"), col("rk"))
  }

  private val nbTrainOracle =
    s"""WITH $nbTrainSqlCommon,
       |rk AS (SELECT lang, term, cnt,
       |         ROW_NUMBER() OVER (PARTITION BY lang
       |                            ORDER BY cnt DESC, term) AS rk
       |       FROM cnts)
       |SELECT r.lang, CAST(r.rk AS INTEGER) AS rk, r.term, r.cnt,
       |       CAST(ROUND(ln(CAST(r.cnt + 1 AS DOUBLE)
       |                     / (ct.n_tokens + voc.v)) * 1000000.0)
       |            AS BIGINT) AS lp_e6,
       |       c.n_docs, ct.n_tokens, CAST(voc.v AS BIGINT) AS vocab,
       |       CAST(ROUND(ln(CAST(c.n_docs AS DOUBLE) / tot.n_all)
       |                  * 1000000.0) AS BIGINT) AS prior_e6
       |FROM rk r JOIN cls c USING (lang) JOIN ctok ct USING (lang)
       |CROSS JOIN tot CROSS JOIN voc
       |WHERE r.rk <= $NbTopK
       |ORDER BY lang, rk""".stripMargin

  /** The TRAINED artifact, materialized once per session+SF — the
    * model a serving path LOADS rather than re-derives: the 5-row
    * class model (per-class token totals, vocab size, prior) and the
    * (class, term) count table, both parquet (the gravity-gold /
    * ngram-pair-frame convention). Batch inference and the streaming
    * scoring twin read the same files, so train-once/serve-many is
    * structural, not aspirational. */
  private[graft] def nbModel(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    val base = s"${graft.etl.Medallion.warehouse(sfDir)}/nb_model"
    val model = graft.etl.Medallion.materializeOnce(spark, s"$base/classes") {
      val (classStats, _, vocab) = nbCounts(spark, sfDir)
      val tot = classStats.agg(sum(col("n_docs")).as("n_all"))
      classStats.crossJoin(tot).crossJoin(vocab)
        .select(col("lang").as("cls"), col("n_tokens"), col("v"),
          round(log(col("n_docs").cast("double") / col("n_all")) *
            lit(1000000.0), 0).cast("long").as("prior_e6"))
    }
    val counts = graft.etl.Medallion.materializeOnce(spark, s"$base/counts") {
      nbCounts(spark, sfDir)._2
        .select(col("lang").as("cls"), col("term"), col("cnt"))
    }
    (model, counts)
  }

  /** Score a (doc_id, lang, text) frame with the trained model:
    * per-token smoothed log-likelihoods on the e6 lattice, per-
    * (doc, class) exact sums, argmax class (ties class-asc). The ONE
    * scoring definition — [[nbInfer]] aggregates it into the
    * confusion matrix, the streaming twin appends it per micro-batch. */
  /** Per-(doc, class) total log-posterior — the shared scoring core of
    * [[nbScoreFrame]] (argmax inference) and [[nbCalibration]]
    * (softmax confidence): ONE derivation, two consumers. */
  private[ops] def nbClassScores(
      docs: DataFrame, model: DataFrame, counts: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("term"))
    // counts is (classes × vocab)-sized: UNHINTED join (AQE broadcasts
    // at small SF, shuffle equi-join at corpus scale); the class
    // dimension itself is genuinely bounded → broadcast
    toks.crossJoin(broadcast(model))
      .join(counts, Seq("cls", "term"), "left")
      .withColumn("lp_e6",
        round(log((coalesce(col("cnt"), lit(0L)) + 1).cast("double") /
          (col("n_tokens") + col("v"))) * lit(1000000.0), 0).cast("long"))
      .groupBy(col("doc_id"), col("lang"), col("cls"), col("prior_e6"))
      .agg(sum(col("lp_e6")).as("s"))
      .select(col("doc_id"), col("lang"), col("cls"),
        (col("prior_e6") + col("s")).as("slp"))
  }

  private[graft] def nbScoreFrame(
      docs: DataFrame, model: DataFrame, counts: DataFrame): DataFrame = {
    val wd = Window.partitionBy(col("doc_id"))
      .orderBy(col("slp").desc, col("cls"))
    nbClassScores(docs, model, counts)
      .withColumn("rn", row_number().over(wd))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("cls").as("predicted"))
  }

  /** Score the held-out split with [[nbTrain]]'s counts (argmax class
    * per doc, ties class-asc) → confusion matrix. See [[nbTrain]]. */
  def nbInfer(spark: SparkSession, sfDir: String): DataFrame = {
    val (model, counts) = nbModel(spark, sfDir)
    val heldOut = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % NbHoldMod === NbHoldMod - 1)
    nbScoreFrame(heldOut, model, counts)
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("predicted"))
  }

  /** [[nbScoreFrame]] against the materialized model — the per-batch
    * body of the streaming scoring twin. */
  private[graft] def nbScoreBatch(
      docs: DataFrame, sfDir: String): DataFrame = {
    val (model, counts) = nbModel(docs.sparkSession, sfDir)
    nbScoreFrame(docs, model, counts)
  }

  /** Oracle CTEs from the trained counts through the per-(doc, class)
    * total log-posterior `sc` — shared by the inference and
    * calibration oracles (the [[nbClassScores]] factoring, SQL side). */
  private val nbScoreSqlCommon =
    s"""$nbTrainSqlCommon,
       |test AS (SELECT * FROM documents WHERE doc_id % $NbHoldMod = ${NbHoldMod - 1}),
       |ttoks AS (SELECT doc_id, lang,
       |                 unnest(string_split(text, ' ')) AS term FROM test),
       |model AS (SELECT c.lang AS cls, ct.n_tokens, voc.v,
       |            CAST(ROUND(ln(CAST(c.n_docs AS DOUBLE) / tot.n_all)
       |                       * 1000000.0) AS BIGINT) AS prior_e6
       |          FROM cls c JOIN ctok ct USING (lang)
       |          CROSS JOIN tot CROSS JOIN voc),
       |st AS (SELECT t.doc_id, t.lang, m.cls, m.prior_e6,
       |         CAST(ROUND(ln(CAST(COALESCE(cn.cnt, 0) + 1 AS DOUBLE)
       |                       / (m.n_tokens + m.v)) * 1000000.0)
       |              AS BIGINT) AS lp_e6
       |       FROM ttoks t CROSS JOIN model m
       |       LEFT JOIN cnts cn ON cn.lang = m.cls AND cn.term = t.term),
       |sc AS (SELECT doc_id, lang, cls,
       |              prior_e6 + CAST(SUM(lp_e6) AS BIGINT) AS slp
       |       FROM st GROUP BY doc_id, lang, cls, prior_e6)""".stripMargin

  private val nbInferOracle =
    s"""WITH $nbScoreSqlCommon,
       |pred AS (SELECT doc_id, lang, cls AS predicted,
       |           ROW_NUMBER() OVER (PARTITION BY doc_id
       |                              ORDER BY slp DESC, cls) AS rn
       |         FROM sc)
       |SELECT lang, predicted, COUNT(*) AS n_docs
       |FROM pred WHERE rn = 1
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------- fairness audit
  /** Group-fairness audit of a classifier-backed KEEP gate — the
    * governance table a curation pipeline publishes when a trained
    * model (here: [[nbModel]]'s lang classifier, decision = "predicted
    * en", the exact `q_nb_infer` scorer) decides what enters the
    * corpus: per source group, the selection rate (demographic
    * parity), TPR (equal opportunity), and FPR (equalized odds' other
    * half), so disparate treatment of a source is visible BEFORE the
    * gate ships. Rates are exact integer ratios rounded once; a group
    * with no positives (or no negatives) reports NULL rather than a
    * fake 0/0 — both engines agree on the NULL.
    *
    * Scale shape: the scorer is the shared materialized-model
    * [[nbScoreFrame]] (map-side vocab join + per-doc argmax), then one
    * doc-keyed join back for the group column and a group-count
    * rollup — nothing new shuffles beyond what inference already did.
    */
  def fairnessAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val (model, counts) = nbModel(spark, sfDir)
    val heldOut = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % NbHoldMod === NbHoldMod - 1)
    val pred = nbScoreFrame(heldOut, model, counts)
      .join(Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source")), Seq("doc_id"))
      .withColumn("sel", when(col("predicted") === "en", 1L).otherwise(0L))
      .withColumn("pos", when(col("lang") === "en", 1L).otherwise(0L))
    pred.groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("sel")).as("n_sel"),
        sum(col("pos")).as("n_pos"),
        sum(col("sel") * col("pos")).as("tp"))
      .select(col("source"), col("n"), col("n_sel"), col("n_pos"),
        round(col("n_sel") / col("n").cast("double"), 6).as("sel_rate"),
        round(when(col("n_pos") > 0, col("tp") / col("n_pos").cast("double")),
          6).as("tpr"),
        round(when(col("n") - col("n_pos") > 0,
          (col("n_sel") - col("tp")) /
            (col("n") - col("n_pos")).cast("double")), 6).as("fpr"))
      .orderBy(col("source"))
  }

  private val fairnessAuditOracle =
    s"""WITH $nbScoreSqlCommon,
       |pred AS (SELECT doc_id, lang, cls AS predicted,
       |           ROW_NUMBER() OVER (PARTITION BY doc_id
       |                              ORDER BY slp DESC, cls) AS rn
       |         FROM sc),
       |p AS (SELECT p.doc_id, p.lang, p.predicted, d.source,
       |             CASE WHEN p.predicted = 'en' THEN 1 ELSE 0 END AS sel,
       |             CASE WHEN p.lang = 'en' THEN 1 ELSE 0 END AS pos
       |      FROM pred p JOIN documents d USING (doc_id) WHERE p.rn = 1)
       |SELECT source, COUNT(*) AS n,
       |       CAST(SUM(sel) AS BIGINT) AS n_sel,
       |       CAST(SUM(pos) AS BIGINT) AS n_pos,
       |       ROUND(SUM(sel) / CAST(COUNT(*) AS DOUBLE), 6) AS sel_rate,
       |       ROUND(CASE WHEN SUM(pos) > 0
       |             THEN SUM(sel * pos) / CAST(SUM(pos) AS DOUBLE) END, 6)
       |         AS tpr,
       |       ROUND(CASE WHEN COUNT(*) - SUM(pos) > 0
       |             THEN (SUM(sel) - SUM(sel * pos))
       |                  / CAST(COUNT(*) - SUM(pos) AS DOUBLE) END, 6)
       |         AS fpr
       |FROM p GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------- error slices
  /** Minimum slice support for [[errorSlices]]. */
  private val EsMinN = 20L

  /** Worst-slice error analysis (the SliceFinder/SliceLine question —
    * Chung et al. ICDE'19: WHERE does the model fail, not just how
    * often): the held-out predictions of the shipped [[nbModel]]
    * classifier are cubed over (source × length-bucket) — every 2-way
    * slice plus both marginals plus the corpus total in ONE pass (the
    * grouping-sets shape `q_cube` pins) — and slices with support ≥
    * 20 are ranked by the WILSON LOWER BOUND on their error rate (the
    * conservative criterion: a 3/3 slice never outranks a 40/80 one;
    * the `q_wilson_ci` formula, composed not re-derived). Top 10 with
    * deterministic tie-breaks; NULL slice keys render as '*' so the
    * marginals read as slices.
    *
    * Exactness: counts exact; the Wilson bound is the established
    * double formula from exact ints, rounded once at 6 dp, and the
    * RANKING orders by that rounded lattice value (ties broken on the
    * slice keys) so both engines pick the same top-10. Scale shape:
    * inference is the shared materialized-model scorer; the cube is
    * one Expand aggregate; the rank is a TakeOrdered over the
    * slice-count-bounded frame. */
  def errorSlices(spark: SparkSession, sfDir: String): DataFrame = {
    val (model, counts) = nbModel(spark, sfDir)
    val heldOut = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % NbHoldMod === NbHoldMod - 1)
    val pred = nbScoreFrame(heldOut, model, counts)
      .join(Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("n_chars")), Seq("doc_id"))
      .withColumn("len_bucket",
        when(col("n_chars") < 300, "short")
          .when(col("n_chars") < 600, "mid").otherwise("long"))
      .withColumn("err", when(col("predicted") =!= col("lang"), 1L)
        .otherwise(0L))
    val sliced = pred
      .cube(col("source"), col("len_bucket"))
      .agg(count(lit(1)).as("n"), sum(col("err")).as("k"))
      .filter(col("n") >= EsMinN)
      .select(coalesce(col("source"), lit("*")).as("slice_source"),
        coalesce(col("len_bucket"), lit("*")).as("slice_bucket"),
        col("n"), col("k"))
      .withColumn("nn", col("n").cast("double"))
      .withColumn("phat", col("k").cast("double") / col("nn"))
      .withColumn("den", lit(1.0) + lit(3.8416) / col("nn"))
      .withColumn("center",
        col("phat") + lit(3.8416) / (lit(2.0) * col("nn")))
      .withColumn("rad", lit(1.96) * sqrt(
        col("phat") * (lit(1.0) - col("phat")) / col("nn") +
          lit(3.8416) / (lit(4.0) * col("nn") * col("nn"))))
      .select(col("slice_source"), col("slice_bucket"), col("n"), col("k"),
        round(col("phat"), 6).as("err_rate"),
        round((col("center") - col("rad")) / col("den"), 6).as("err_lo"))
    sliced
      .orderBy(col("err_lo").desc, col("slice_source"), col("slice_bucket"))
      .limit(10)
      .withColumn("rk", row_number().over( // bounded 10-row frame
        Window.orderBy(col("err_lo").desc, col("slice_source"),
          col("slice_bucket"))))
      .select(col("rk"), col("slice_source"), col("slice_bucket"),
        col("n"), col("k"), col("err_rate"), col("err_lo"))
      .orderBy(col("rk"))
  }

  private val errorSlicesOracle =
    s"""WITH $nbScoreSqlCommon,
       |pred AS (SELECT doc_id, lang, cls AS predicted,
       |           ROW_NUMBER() OVER (PARTITION BY doc_id
       |                              ORDER BY slp DESC, cls) AS rn
       |         FROM sc),
       |p AS (SELECT p.doc_id, d.source,
       |        CASE WHEN d.n_chars < 300 THEN 'short'
       |             WHEN d.n_chars < 600 THEN 'mid' ELSE 'long' END
       |          AS len_bucket,
       |        CASE WHEN p.predicted <> p.lang THEN 1 ELSE 0 END AS err
       |      FROM pred p JOIN documents d USING (doc_id) WHERE p.rn = 1),
       |g AS (SELECT COALESCE(source, '*') AS slice_source,
       |             COALESCE(len_bucket, '*') AS slice_bucket,
       |             COUNT(*) AS n, CAST(SUM(err) AS BIGINT) AS k
       |      FROM p GROUP BY CUBE (source, len_bucket)
       |      HAVING COUNT(*) >= $EsMinN),
       |w AS (SELECT *,
       |        CAST(k AS DOUBLE) / n AS phat,
       |        1.0 + 3.8416 / n AS den,
       |        CAST(k AS DOUBLE) / n + 3.8416 / (2.0 * n) AS center,
       |        1.96 * sqrt(CAST(k AS DOUBLE) / n * (1.0 - CAST(k AS DOUBLE) / n)
       |                    / n + 3.8416 / (4.0 * CAST(n AS DOUBLE) * n))
       |          AS rad
       |      FROM g),
       |r AS (SELECT slice_source, slice_bucket, n, k,
       |        ROUND(phat, 6) AS err_rate,
       |        ROUND((center - rad) / den, 6) AS err_lo
       |      FROM w
       |      ORDER BY err_lo DESC, slice_source, slice_bucket LIMIT 10)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY err_lo DESC, slice_source,
       |              slice_bucket) AS INTEGER) AS rk,
       |       slice_source, slice_bucket, n, k, err_rate, err_lo
       |FROM r ORDER BY rk""".stripMargin

  // ---------------------------------------------------- McNemar test
  /** McNemar's paired-classifier test (1947; Edwards continuity
    * correction) over the held-out split — the statistically RIGHT
    * way to answer "is the trained NB better than the n-gram
    * heuristic at lang-ID", because both classifiers score the SAME
    * documents: accuracy deltas on paired data are driven entirely
    * by the DISCORDANT cells (NB-only-right b vs heuristic-only-right
    * c), and χ² = (|b−c|−1)²/(b+c) tests their symmetry. Swapping a
    * quality classifier is a real curation decision, and eyeballing
    * two accuracies on the same docs double-counts the easy examples
    * — this is the operator that stops that.
    *
    * Composes the factored pieces: [[nbScoreFrame]] on [[nbModel]]
    * (the exact classifier `q_nb_infer` ships) and
    * `TextOps.langIdPredicted` (the exact `q_lang_id` decision) —
    * one definition each, batch-proven here. Scale shape: two
    * map-side scorers over the held-out docs, one doc-keyed join,
    * one 1-row aggregate; χ² is exact integer arithmetic over the
    * four cells until the final division. */
  def mcnemar(spark: SparkSession, sfDir: String): DataFrame = {
    val (model, counts) = nbModel(spark, sfDir)
    val heldOut = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % NbHoldMod === NbHoldMod - 1)
    val nb = nbScoreFrame(heldOut, model, counts)
      .select(col("doc_id"), col("lang"), col("predicted").as("nb_pred"))
    val heur = heldOut.select(col("doc_id"),
      TextOps.langIdPredicted.as("h_pred"))
    val cells = nb.join(heur, Seq("doc_id"))
      .select((col("nb_pred") === col("lang")).as("a_ok"),
        (col("h_pred") === col("lang")).as("b_ok"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("a_ok") && col("b_ok"), 1L).otherwise(0L))
          .as("both_ok"),
        sum(when(col("a_ok") && !col("b_ok"), 1L).otherwise(0L))
          .as("nb_only"),
        sum(when(!col("a_ok") && col("b_ok"), 1L).otherwise(0L))
          .as("heur_only"),
        sum(when(!col("a_ok") && !col("b_ok"), 1L).otherwise(0L))
          .as("both_wrong"))
    cells.select(col("n_docs"), col("both_ok"), col("nb_only"),
      col("heur_only"), col("both_wrong"),
      when(col("nb_only") + col("heur_only") === 0L, lit(0.0))
        .otherwise(round(
          ((abs(col("nb_only") - col("heur_only")) - 1L) *
            (abs(col("nb_only") - col("heur_only")) - 1L)).cast("double") /
            (col("nb_only") + col("heur_only")), 4)).as("chi2_cc"))
  }

  private val mcnemarOracle =
    s"""WITH $nbScoreSqlCommon,
       |pred AS (SELECT doc_id, lang, cls AS nb_pred,
       |           ROW_NUMBER() OVER (PARTITION BY doc_id
       |                              ORDER BY slp DESC, cls) AS rn
       |         FROM sc),
       |h AS (SELECT doc_id, ${TextOps.langIdPredictedSql} AS h_pred
       |      FROM test),
       |cells AS (
       |  SELECT COUNT(*) AS n_docs,
       |         SUM(CASE WHEN p.nb_pred = p.lang AND h.h_pred = p.lang
       |                  THEN 1 ELSE 0 END) AS both_ok,
       |         SUM(CASE WHEN p.nb_pred = p.lang AND h.h_pred <> p.lang
       |                  THEN 1 ELSE 0 END) AS nb_only,
       |         SUM(CASE WHEN p.nb_pred <> p.lang AND h.h_pred = p.lang
       |                  THEN 1 ELSE 0 END) AS heur_only,
       |         SUM(CASE WHEN p.nb_pred <> p.lang AND h.h_pred <> p.lang
       |                  THEN 1 ELSE 0 END) AS both_wrong
       |  FROM pred p JOIN h USING (doc_id) WHERE p.rn = 1)
       |SELECT n_docs, CAST(both_ok AS BIGINT) AS both_ok,
       |       CAST(nb_only AS BIGINT) AS nb_only,
       |       CAST(heur_only AS BIGINT) AS heur_only,
       |       CAST(both_wrong AS BIGINT) AS both_wrong,
       |       CASE WHEN nb_only + heur_only = 0 THEN 0.0
       |            ELSE ROUND(CAST((ABS(nb_only - heur_only) - 1)
       |                            * (ABS(nb_only - heur_only) - 1)
       |                            AS DOUBLE)
       |                       / (nb_only + heur_only), 4) END AS chi2_cc
       |FROM cells""".stripMargin

  // ------------------------------------------------- NB calibration
  /** Reliability/calibration audit of the trained NB classifier — the
    * third leg of train → infer → CALIBRATE (DeGroot–Fienberg
    * reliability diagrams; Guo et al. ICML'17 made the check standard
    * for modern classifiers): per held-out doc, softmax the class
    * log-posteriors into a confidence, bucket docs by confidence
    * decile, and compare each bucket's mean confidence against its
    * empirical accuracy; the multiclass Brier score rides along as the
    * single-number proper scoring rule. A quality filter that is
    * CONFIDENTLY wrong poisons a corpus faster than one that is
    * merely wrong — this table is where that shows.
    *
    * Parity: softmax leaves float immediately — each class's
    * exp((slp−max)/1e6) quantizes to e6 BEFORE the normalizing sum, so
    * Z is an exact integer (a 5-term float sum would be
    * accumulation-order-sensitive), per-class probabilities are
    * half-up e6 ratios of exact integers, and the per-doc Brier
    * Σ(q−y)² is exact integer e12 arithmetic. One exp and one ln
    * per (doc, class) are the only transcendentals.
    *
    * Scale shape: inherits [[nbClassScores]]' plan (bounded model
    * broadcast + unhinted count join); everything after is 5 rows per
    * doc — two per-doc windows (max, sum — both over the 5-row class
    * frame), then a 10-row bucket aggregate and an A6 scalar for the
    * corpus Brier. Nothing new shuffles at corpus scale.
    */
  /** The e6-lattice softmax over [[nbClassScores]] — per (doc, class):
    * slp, per-doc max `m`, rank `rn` (slp desc, cls asc), quantized
    * exp `p_e6`, exact-integer partition `z_e6`, half-up posterior
    * `q_e6`. Factored so calibration and label-noise audit the SAME
    * posteriors. */
  private def nbSoftmaxFrame(heldOut: DataFrame, model: DataFrame,
      counts: DataFrame): DataFrame = {
    val wd = Window.partitionBy(col("doc_id"))
    val wr = wd.orderBy(col("slp").desc, col("cls"))
    nbClassScores(heldOut, model, counts)
      .withColumn("m", max(col("slp")).over(wd))
      .withColumn("rn", row_number().over(wr))
      .withColumn("p_e6", round(exp((col("slp") - col("m")).cast("double")
        / 1000000.0) * 1000000.0, 0).cast("long"))
      .withColumn("z_e6", sum(col("p_e6")).over(wd))
      .withColumn("q_e6", Parity.halfUpDiv(col("p_e6") * 1000000L, col("z_e6")))
  }

  def nbCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    val (model, counts) = nbModel(spark, sfDir)
    val heldOut = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % NbHoldMod === NbHoldMod - 1)
    val per = nbSoftmaxFrame(heldOut, model, counts)
      .withColumn("y", when(col("cls") === col("lang"), 1000000L)
        .otherwise(0L))
    val docs = per.groupBy(col("doc_id"), col("lang"))
      .agg(sum(when(col("rn") === 1, col("q_e6"))).cast("long").as("conf_e6"),
        max(when(col("rn") === 1, col("cls"))).as("pred"),
        sum((col("q_e6") - col("y")) * (col("q_e6") - col("y")))
          .cast("long").as("brier_doc"))
      .withColumn("correct",
        when(col("pred") === col("lang"), 1L).otherwise(0L))
      .withColumn("bin",
        least(call_function("div", col("conf_e6") * 10L, lit(1000000L)),
          lit(9L)))
    val g = docs.agg(count(lit(1)).as("n_all"),
      sum(col("brier_doc")).cast("long").as("sb"))
    docs.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("correct")).cast("long").as("n_correct"),
        sum(col("conf_e6")).cast("long").as("sc_e6"))
      .crossJoin(broadcast(g))
      .select(col("bin"), col("n_docs"), col("n_correct"),
        Parity.halfUpDiv(col("n_correct") * 1000000L, col("n_docs"))
          .cast("double").divide(1000000.0).as("accuracy"),
        Parity.halfUpDiv(col("sc_e6"), col("n_docs"))
          .cast("double").divide(1000000.0).as("avg_conf"),
        Parity.halfUpDiv(col("sb"), col("n_all") * 1000000L).as("brier_e6"))
      .orderBy(col("bin"))
  }

  /** The e6 softmax chain as shared oracle CTEs (`pq` exposes q_e6) —
    * the SQL half of [[nbSoftmaxFrame]]. */
  private val nbSoftmaxSqlCommon =
    s"""$nbScoreSqlCommon,
       |per AS (SELECT doc_id, lang, cls, slp,
       |          MAX(slp) OVER (PARTITION BY doc_id) AS m,
       |          ROW_NUMBER() OVER (PARTITION BY doc_id
       |                             ORDER BY slp DESC, cls) AS rn
       |        FROM sc),
       |pe AS (SELECT *, CAST(ROUND(exp(CAST(slp - m AS DOUBLE) / 1000000.0)
       |                            * 1000000.0) AS BIGINT) AS p_e6 FROM per),
       |pz AS (SELECT *, CAST(SUM(p_e6) OVER (PARTITION BY doc_id) AS BIGINT)
       |                   AS z_e6 FROM pe),
       |pq AS (SELECT *,
       |         ((2*p_e6*1000000 + z_e6) - (2*p_e6*1000000 + z_e6)
       |            % (2*z_e6)) // (2*z_e6) AS q_e6
       |       FROM pz)""".stripMargin

  private val nbCalibrationOracle =
    s"""WITH $nbSoftmaxSqlCommon,
       |pqy AS (SELECT *, CASE WHEN cls = lang THEN 1000000 ELSE 0 END AS y
       |        FROM pq),
       |docs AS (SELECT doc_id, lang,
       |           CAST(SUM(CASE WHEN rn = 1 THEN q_e6 END) AS BIGINT)
       |             AS conf_e6,
       |           MAX(CASE WHEN rn = 1 THEN cls END) AS pred,
       |           CAST(SUM((q_e6 - y) * (q_e6 - y)) AS BIGINT) AS brier_doc
       |         FROM pqy GROUP BY doc_id, lang),
       |d2 AS (SELECT *, CASE WHEN pred = lang THEN 1 ELSE 0 END AS correct,
       |              LEAST(conf_e6 * 10 // 1000000, 9) AS bin FROM docs),
       |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
       |             CAST(SUM(brier_doc) AS BIGINT) AS sb FROM d2)
       |SELECT bin, COUNT(*) AS n_docs,
       |       CAST(SUM(correct) AS BIGINT) AS n_correct,
       |       CAST(((2*SUM(correct)*1000000 + COUNT(*))
       |             - (2*SUM(correct)*1000000 + COUNT(*)) % (2*COUNT(*)))
       |            // (2*COUNT(*)) AS DOUBLE) / 1000000.0 AS accuracy,
       |       CAST(((2*SUM(conf_e6) + COUNT(*))
       |             - (2*SUM(conf_e6) + COUNT(*)) % (2*COUNT(*)))
       |            // (2*COUNT(*)) AS DOUBLE) / 1000000.0 AS avg_conf,
       |       CAST(((2*sb + n_all*1000000)
       |             - (2*sb + n_all*1000000) % (2*n_all*1000000))
       |            // (2*n_all*1000000) AS BIGINT) AS brier_e6
       |FROM d2 CROSS JOIN g
       |GROUP BY bin, g.n_all, g.sb ORDER BY bin""".stripMargin

  // ---------------------------------------------- distillation audit
  /** Hash buckets the student compresses the teacher's vocabulary
    * into — the hashing trick (Weinberger et al. ICML'09). */
  private val DistillBuckets = 64L

  /** Teacher→student distillation audit: the full-vocabulary NB
    * teacher ([[nbModel]] — the standing materialized artifact)
    * against a feature-HASHED student trained on the same split with
    * the vocabulary compressed to [[DistillBuckets]] md5 buckets —
    * the model you actually deploy when the teacher's (class × vocab)
    * table is too big for the serving tier. Per language: teacher
    * accuracy, student accuracy, and teacher-student AGREEMENT on the
    * held-out fifth — the three numbers a distillation sign-off
    * reads (how much accuracy the compression costs, and whether the
    * student disagrees on the same docs the teacher gets wrong).
    * Hashing uses the [[graft.ops.Parity]] md5 bridge so both engines
    * bucket identically.
    *
    * Scale shape: the [[nbScoreFrame]] plan twice — the student's
    * count table is (classes × [[DistillBuckets]])-sized, genuinely
    * BOUNDED (unlike the teacher's vocab-sized table), so its scoring
    * join broadcasts by construction at any corpus size; the teacher
    * leg reads the materialized model; one doc-keyed join aligns the
    * two verdicts; output is lang-sized. */
  def distillAgreement(spark: SparkSession, sfDir: String): DataFrame = {
    val (model, counts) = nbModel(spark, sfDir)
    val heldOut = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % NbHoldMod === NbHoldMod - 1)
    val teacher = nbScoreFrame(heldOut, model, counts)
      .select(col("doc_id"), col("lang"), col("predicted").as("t_pred"))

    def bucket(c: Column): Column =
      Parity.md5Key(c) % DistillBuckets
    val train = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % NbHoldMod =!= NbHoldMod - 1)
    val trToks = train.select(col("lang"),
      explode(split(col("text"), " ")).as("term"))
    val bCounts = trToks
      .groupBy(col("lang"), bucket(col("term")).as("b"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("lang").as("cls"), col("b"), col("cnt"))
    val cstat = train.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .join(trToks.groupBy(col("lang")).agg(count(lit(1)).as("n_tokens")),
        Seq("lang"))
    val tot = cstat.agg(sum(col("n_docs")).as("n_all"))
    val sModel = cstat.crossJoin(broadcast(tot))
      .select(col("lang").as("cls"), col("n_tokens"),
        round(log(col("n_docs").cast("double") / col("n_all")) *
          lit(1000000.0), 0).cast("long").as("prior_e6"))
    val sPred = heldOut
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("term"))
      .withColumn("b", bucket(col("term")))
      .crossJoin(broadcast(sModel))
      .join(broadcast(bCounts), Seq("cls", "b"), "left")
      .withColumn("lp_e6",
        round(log((coalesce(col("cnt"), lit(0L)) + 1).cast("double") /
          (col("n_tokens") + lit(DistillBuckets))) * lit(1000000.0), 0)
          .cast("long"))
      .groupBy(col("doc_id"), col("cls"), col("prior_e6"))
      .agg(sum(col("lp_e6")).as("s"))
      .withColumn("slp", col("prior_e6") + col("s"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("slp").desc, col("cls"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cls").as("s_pred"))

    teacher.join(sPred, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("t_pred") === col("lang"), 1L).otherwise(0L))
          .as("n_teacher_correct"),
        sum(when(col("s_pred") === col("lang"), 1L).otherwise(0L))
          .as("n_student_correct"),
        sum(when(col("t_pred") === col("s_pred"), 1L).otherwise(0L))
          .as("n_agree"),
        sum(when(col("t_pred") =!= col("lang") &&
          col("s_pred") === col("t_pred"), 1L).otherwise(0L))
          .as("n_agree_on_error"))
      .withColumn("student_buckets", lit(DistillBuckets))
      .orderBy(col("lang"))
  }

  private val distillAgreementOracle =
    s"""WITH $nbScoreSqlCommon,
       |tp AS (SELECT doc_id, lang, cls AS t_pred FROM sc
       |       QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
       |         ORDER BY slp DESC, cls) = 1),
       |bt AS (SELECT lang AS cls,
       |         ${Parity.md5KeySql("term")}
       |           % $DistillBuckets AS b,
       |         COUNT(*) AS cnt
       |       FROM toks GROUP BY 1, 2),
       |sm AS (SELECT c.lang AS cls, ct.n_tokens,
       |         CAST(ROUND(ln(CAST(c.n_docs AS DOUBLE) / tot.n_all)
       |                    * 1000000.0) AS BIGINT) AS prior_e6
       |       FROM cls c JOIN ctok ct USING (lang) CROSS JOIN tot),
       |hb AS (SELECT doc_id, lang,
       |         ${Parity.md5KeySql("term")}
       |           % $DistillBuckets AS b
       |       FROM ttoks),
       |sst AS (SELECT hb.doc_id, sm.cls, sm.prior_e6,
       |          CAST(ROUND(ln(CAST(COALESCE(bt.cnt, 0) + 1 AS DOUBLE)
       |                        / (sm.n_tokens + $DistillBuckets))
       |                     * 1000000.0) AS BIGINT) AS lp_e6
       |        FROM hb CROSS JOIN sm
       |        LEFT JOIN bt ON bt.cls = sm.cls AND bt.b = hb.b),
       |ssc AS (SELECT doc_id, cls,
       |          prior_e6 + CAST(SUM(lp_e6) AS BIGINT) AS slp
       |        FROM sst GROUP BY doc_id, cls, prior_e6),
       |sp AS (SELECT doc_id, cls AS s_pred FROM ssc
       |       QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
       |         ORDER BY slp DESC, cls) = 1)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN t_pred = lang THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_teacher_correct,
       |  CAST(SUM(CASE WHEN s_pred = lang THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_student_correct,
       |  CAST(SUM(CASE WHEN t_pred = s_pred THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_agree,
       |  CAST(SUM(CASE WHEN t_pred <> lang AND s_pred = t_pred
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_agree_on_error,
       |  CAST($DistillBuckets AS BIGINT) AS student_buckets
       |FROM tp JOIN sp USING (doc_id)
       |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------- Brier decomposition
  /** Murphy decomposition of the Brier score (Murphy '73) over the
    * held-out confidence/correctness frame — the diagnosis BEHIND
    * [[nbCalibration]]'s reliability table: Brier = REL − RES + UNC
    * (+ the within-bin variance and covariance the binned estimate
    * hides — the generalized five-term identity, pinned to 0 by the
    * shipped gap column). REL
    * (calibration: bin confidence vs bin accuracy) is the part
    * [[tempScaling]] can fix; RES (resolution: how far bin accuracies
    * spread from the base rate) is the part no recalibration can buy
    * back; UNC is the base-rate entropy floor. The shipped gap column
    * pins the algebraic identity inside the result itself.
    *
    * Exactness: the event is "top-1 prediction correct", forecast =
    * top-1 softmax confidence on the e6 lattice. Every bin moment
    * (n_k, C_k, S_k, Q_k) and the global Brier numerator are EXACT
    * integers in decimal(38)/HUGEINT; each decomposition term is a
    * sum over ≤10 bins of exact-integer-numerator ratios cast to
    * double (the anova discipline — cancellation-free numerators:
    * (S_k−1e6·C_k)², (N·C_k−n_k·C)², (n_k·Q_k−S_k²), all ≥0 products
    * of exact integers), rounded at 6 dp.
    *
    * Scale shape: one held-out softmax pass (the nbCalibration plan),
    * a 10-row bin frame, a 1-row global frame — the decomposition
    * itself costs nothing beyond the inference scan. */
  def brierDecomp(spark: SparkSession, sfDir: String): DataFrame = {
    val (model, counts) = nbModel(spark, sfDir)
    val heldOut = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % NbHoldMod === NbHoldMod - 1)
    val dec = "CAST(conf_e6 AS DECIMAL(38,0))"
    val docs = nbSoftmaxFrame(heldOut, model, counts)
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(when(col("rn") === 1, col("q_e6"))).cast("long").as("conf_e6"),
        max(when(col("rn") === 1, col("cls"))).as("pred"))
      .withColumn("correct",
        when(col("pred") === col("lang"), 1L).otherwise(0L))
      .withColumn("bin",
        least(call_function("div", col("conf_e6") * 10L, lit(1000000L)),
          lit(9L)))
    val bins = docs.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_k"),
        sum(col("correct")).cast("long").as("c_k"),
        sum(expr(dec)).as("s_k"),
        sum(expr(s"$dec * conf_e6")).as("q_k"),
        sum(expr(s"$dec * correct")).as("py_k"))
    val g = docs.agg(count(lit(1)).as("n"),
      sum(col("correct")).cast("long").as("c"),
      sum(expr(s"(conf_e6 - 1000000 * correct) * " +
        "CAST(conf_e6 - 1000000 * correct AS DECIMAL(38,0))")).as("sb"))
    bins.crossJoin(broadcast(g))
      .agg(first(col("n")).as("n"), first(col("c")).as("n_correct"),
        first(expr("CAST(sb AS DOUBLE)")).as("sbd"),
        sum(expr("CAST((s_k - 1000000 * CAST(c_k AS DECIMAL(38,0))) " +
          "* (s_k - 1000000 * CAST(c_k AS DECIMAL(38,0))) AS DOUBLE) " +
          "/ n_k")).as("rel_num"),
        sum(expr("CAST((CAST(n AS DECIMAL(38,0)) * c_k " +
          "- CAST(n_k AS DECIMAL(38,0)) * c) " +
          "* (CAST(n AS DECIMAL(38,0)) * c_k " +
          "- CAST(n_k AS DECIMAL(38,0)) * c) AS DOUBLE) / n_k"))
          .as("res_num"),
        sum(expr("CAST(CAST(n_k AS DECIMAL(38,0)) * q_k - s_k * s_k " +
          "AS DOUBLE) / n_k")).as("wbv_num"),
        sum(expr("CAST(CAST(n_k AS DECIMAL(38,0)) * py_k - s_k * c_k " +
          "AS DOUBLE) / n_k")).as("wbc_num"))
      .select(col("n"), col("n_correct"),
        round(col("sbd") / col("n") / 1.0e12, 6).as("brier"),
        round(col("rel_num") / col("n") / 1.0e12, 6).as("reliability"),
        round(col("res_num") / col("n") / col("n") / col("n"), 6)
          .as("resolution"),
        round(col("n_correct").cast("double")
          * (col("n") - col("n_correct")).cast("double")
          / col("n") / col("n"), 6).as("uncertainty"),
        round(col("wbv_num") / col("n") / 1.0e12, 6).as("wbv"),
        round(lit(2.0) * col("wbc_num") / col("n") / 1.0e6, 6).as("wbc"),
        // + 0.0 folds IEEE -0.0 to +0.0 on BOTH engines: the gap rounds
        // a tiny negative residual, and DuckDB ROUND preserves the sign
        // bit of -0.0 where Spark's round lands on +0.0 — without the
        // normalization the driver's bitwise hash splits on that bit
        (round(col("sbd") / col("n") / 1.0e12
          - (col("rel_num") / col("n") / 1.0e12
            - col("res_num") / col("n") / col("n") / col("n")
            + col("n_correct").cast("double")
              * (col("n") - col("n_correct")).cast("double")
              / col("n") / col("n")
            + col("wbv_num") / col("n") / 1.0e12
            - lit(2.0) * col("wbc_num") / col("n") / 1.0e6), 6) + lit(0.0))
          .as("decomp_gap"))
  }

  private val brierDecompOracle =
    s"""WITH $nbSoftmaxSqlCommon,
       |docs AS (SELECT doc_id, lang,
       |           CAST(SUM(CASE WHEN rn = 1 THEN q_e6 END) AS BIGINT)
       |             AS conf_e6,
       |           MAX(CASE WHEN rn = 1 THEN cls END) AS pred
       |         FROM pq GROUP BY doc_id, lang),
       |d2 AS (SELECT *, CASE WHEN pred = lang THEN 1 ELSE 0 END AS correct,
       |              LEAST(conf_e6 * 10 // 1000000, 9) AS bin FROM docs),
       |bins AS (SELECT bin, COUNT(*) AS n_k,
       |           CAST(SUM(correct) AS BIGINT) AS c_k,
       |           SUM(CAST(conf_e6 AS HUGEINT)) AS s_k,
       |           SUM(CAST(conf_e6 AS HUGEINT) * conf_e6) AS q_k,
       |           SUM(CAST(conf_e6 AS HUGEINT) * correct) AS py_k
       |         FROM d2 GROUP BY bin),
       |g AS (SELECT COUNT(*) AS n, CAST(SUM(correct) AS BIGINT) AS c,
       |        SUM(CAST(conf_e6 - 1000000 * correct AS HUGEINT)
       |            * (conf_e6 - 1000000 * correct)) AS sb
       |      FROM d2),
       |terms AS (SELECT ANY_VALUE(n) AS n, ANY_VALUE(c) AS n_correct,
       |    ANY_VALUE(CAST(sb AS DOUBLE)) AS sbd,
       |    SUM(CAST((s_k - 1000000 * CAST(c_k AS HUGEINT))
       |             * (s_k - 1000000 * CAST(c_k AS HUGEINT)) AS DOUBLE)
       |        / n_k) AS rel_num,
       |    SUM(CAST((CAST(n AS HUGEINT) * c_k - CAST(n_k AS HUGEINT) * c)
       |             * (CAST(n AS HUGEINT) * c_k - CAST(n_k AS HUGEINT) * c)
       |             AS DOUBLE) / n_k) AS res_num,
       |    SUM(CAST(CAST(n_k AS HUGEINT) * q_k - s_k * s_k AS DOUBLE)
       |        / n_k) AS wbv_num,
       |    SUM(CAST(CAST(n_k AS HUGEINT) * py_k - s_k * c_k AS DOUBLE)
       |        / n_k) AS wbc_num
       |  FROM bins, g)
       |SELECT CAST(n AS BIGINT) AS n, n_correct,
       |       ROUND(sbd / n / 1.0e12, 6) AS brier,
       |       ROUND(rel_num / n / 1.0e12, 6) AS reliability,
       |       ROUND(res_num / n / n / n, 6) AS resolution,
       |       ROUND(CAST(n_correct AS DOUBLE)
       |             * CAST(n - n_correct AS DOUBLE) / n / n, 6)
       |         AS uncertainty,
       |       ROUND(wbv_num / n / 1.0e12, 6) AS wbv,
       |       ROUND(2.0 * wbc_num / n / 1.0e6, 6) AS wbc,
       |       ROUND(sbd / n / 1.0e12
       |             - (rel_num / n / 1.0e12
       |               - res_num / n / n / n
       |               + CAST(n_correct AS DOUBLE)
       |                 * CAST(n - n_correct AS DOUBLE) / n / n
       |               + wbv_num / n / 1.0e12
       |               - 2.0 * wbc_num / n / 1.0e6), 6) + 0.0 AS decomp_gap
       |FROM terms""".stripMargin

  // ---------------------------------------------- temperature scaling
  /** Temperature-scaling fit (Guo et al. ICML'17 — the one-parameter
    * calibration fix that became standard): grid-search T over the
    * held-out split, scoring each T by total negative log-likelihood
    * of the true class under softmax(slp/T). [[nbCalibration]]
    * DIAGNOSES miscalibration; this op picks the remedy a serving
    * layer would apply. T is carried as 2T (exact integers 1..16 for
    * T ∈ {0.5, 1, 2, 4, 8}), the softmax reuses the e6 quantization
    * discipline (each exp term quantized BEFORE the integer Z sum),
    * and per-doc NLL is an e6 integer, so the winner is an exact
    * integer argmin — ties to the smaller T.
    *
    * Scale shape: the (doc, class) frame fans out 5× map-side (the
    * bounded grid), per-(doc,T) windows stay 5-row, the scoreboard is
    * a 5-row aggregate with a frame-local best flag. */
  def tempScaling(spark: SparkSession, sfDir: String): DataFrame = {
    val (model, counts) = nbModel(spark, sfDir)
    val heldOut = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % NbHoldMod === NbHoldMod - 1)
    val per = nbClassScores(heldOut, model, counts)
      .select(col("doc_id"), col("lang"), col("cls"), col("slp"),
        explode(array(Seq(1, 2, 4, 8, 16).map(lit): _*)).as("t_x2"))
    val wd = Window.partitionBy(col("doc_id"), col("t_x2"))
    val scored = per
      .withColumn("m", max(col("slp")).over(wd))
      .withColumn("p_e6",
        round(exp((col("slp") - col("m")).cast("double") * 2.0 /
          (lit(1000000.0) * col("t_x2"))) * 1000000.0, 0).cast("long"))
      .withColumn("z_e6", sum(col("p_e6")).over(wd))
      .withColumn("q_e6", Parity.halfUpDiv(col("p_e6") * 1000000L, col("z_e6")))
      .filter(col("cls") === col("lang"))
      .withColumn("nll_e6",
        -round(log(greatest(col("q_e6"), lit(1L)).cast("double")
          / 1000000.0) * 1000000.0, 0).cast("long"))
      .groupBy(col("t_x2"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nll_e6")).cast("long").as("nll_e6_total"))
    val wAll = Window.partitionBy() // 5-row grid scoreboard — bounded
    scored
      .withColumn("best_nll", min(col("nll_e6_total")).over(wAll))
      .withColumn("best_t",
        min(when(col("nll_e6_total") === col("best_nll"), col("t_x2")))
          .over(wAll))
      .select(round(col("t_x2") / 2.0, 1).as("temperature"),
        col("n_docs"), col("nll_e6_total"),
        Parity.halfUpDiv(col("nll_e6_total"), col("n_docs")).as("avg_nll_e6"),
        (col("t_x2") === col("best_t")).as("is_best"))
      .orderBy(col("temperature"))
  }

  private val tempScalingOracle =
    s"""WITH $nbScoreSqlCommon,
       |g AS (SELECT sc.*, t_x2 FROM sc,
       |        (SELECT unnest([1, 2, 4, 8, 16]) AS t_x2)),
       |per AS (SELECT *, MAX(slp) OVER (PARTITION BY doc_id, t_x2) AS m
       |        FROM g),
       |pe AS (SELECT *, CAST(ROUND(exp(CAST(slp - m AS DOUBLE) * 2.0
       |                                / (1000000.0 * t_x2))
       |                            * 1000000.0) AS BIGINT) AS p_e6
       |       FROM per),
       |pz AS (SELECT *, CAST(SUM(p_e6) OVER (PARTITION BY doc_id, t_x2)
       |                      AS BIGINT) AS z_e6 FROM pe),
       |pq AS (SELECT *,
       |         ((2*p_e6*1000000 + z_e6) - (2*p_e6*1000000 + z_e6)
       |            % (2*z_e6)) // (2*z_e6) AS q_e6
       |       FROM pz WHERE cls = lang),
       |nl AS (SELECT t_x2, COUNT(*) AS n_docs,
       |         CAST(SUM(-CAST(ROUND(ln(CAST(GREATEST(q_e6, 1) AS DOUBLE)
       |                                  / 1000000.0) * 1000000.0)
       |                         AS BIGINT)) AS BIGINT) AS nll_e6_total
       |       FROM pq GROUP BY t_x2),
       |sb AS (SELECT *, MIN(nll_e6_total) OVER () AS best_nll FROM nl),
       |sb2 AS (SELECT *, MIN(CASE WHEN nll_e6_total = best_nll
       |                           THEN t_x2 END) OVER () AS best_t FROM sb)
       |SELECT ROUND(t_x2 / 2.0, 1) AS temperature, n_docs, nll_e6_total,
       |       CAST(((2*nll_e6_total + n_docs)
       |             - (2*nll_e6_total + n_docs) % (2*n_docs))
       |            // (2*n_docs) AS BIGINT) AS avg_nll_e6,
       |       t_x2 = best_t AS is_best
       |FROM sb2 ORDER BY temperature""".stripMargin

  // ------------------------------------------------- Dawid–Skene
  /** Dawid–Skene annotator aggregation (1979; the crowdsourcing/RLHF
    * labeling standard — [[graft.ops.StatsOps]]' kappa/alpha MEASURE
    * agreement, this one RESOLVES it): estimate each annotator's
    * accuracy and the true labels jointly by EM — majority-vote init,
    * then M-step (accuracy against current labels) and E-step
    * (per-doc argmax of Σ log-likelihoods), two rounds unrolled, in
    * the one-coin model (single accuracy parameter per annotator).
    * Three synthetic annotators with PLANTED error strides (wrong on
    * doc_id % 5 / % 3 / % 10 ⇒ true accuracies 80/67/90%) make the
    * estimator's recovery verifiable: the estimated accuracies and
    * the final labels' agreement with truth both sit under the hash.
    *
    * Parity: accuracies are half-up e6 integers; the E-step
    * log-weights quantize ln(p) and ln((1−p)/(K−1)) ONCE to e6 from
    * those exact ratios, so the per-doc argmax is exact integer
    * arithmetic (ties class-asc). Scale shape: annotator frames are
    * (docs × 3) map-side derivations; every EM stage is one doc- or
    * annotator-keyed aggregate with class-dimension broadcasts. */
  def dawidSkene(spark: SparkSession, sfDir: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"))
    val langRank = docs.select(col("lang")).distinct()
      .orderBy(col("lang")).collect().map(_.getString(0)).zipWithIndex
    val k = langRank.length
    val rankDf = langRank.toSeq.toDF("lang", "rk")
    // each annotator confuses toward a DIFFERENT class (wrong =
    // rank + a, cyclic) — colluding identical errors would defeat
    // majority vote at stride intersections, and real annotators'
    // confusions differ
    val wrongOf = (1 to 3).flatMap { a =>
      langRank.map { case (l, r) => (l, a, langRank((r + a) % k)._1) }
    }.toDF("lang", "a", "wrong")
    def annotator(id: Int, stride: Int): DataFrame =
      docs.join(broadcast(wrongOf.filter(col("a") === id)), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("a"),
          when(col("doc_id") % stride === 0, col("wrong"))
            .otherwise(col("lang")).as("y"))
    val labels = annotator(1, 5)
      .unionByName(annotator(2, 3))
      .unionByName(annotator(3, 10))
      .localCheckpoint()
    // init: majority vote, ties lexicographic-asc
    val wv = Window.partitionBy(col("doc_id"))
      .orderBy(col("n").desc, col("y"))
    val z0 = labels.groupBy(col("doc_id"), col("y"))
      .agg(count(lit(1)).as("n"))
      .withColumn("r", row_number().over(wv))
      .filter(col("r") === 1)
      .select(col("doc_id"), col("y").as("z"))
    // M-step: one-coin accuracy per annotator against current labels
    def mStep(z: DataFrame): DataFrame =
      labels.join(z, Seq("doc_id"))
        .groupBy(col("a"))
        .agg(Parity.halfUpDiv(sum(when(col("y") === col("z"), 1L).otherwise(0L))
          * 1000000L, count(lit(1))).as("p_e6"))
    // E-step: per-doc argmax over classes of the quantized log-score
    def eStep(p: DataFrame): DataFrame = {
      val lw = p.select(col("a"),
        round(log(col("p_e6").cast("double") / 1000000.0) * 1000000.0, 0)
          .cast("long").as("lp_e6"),
        round(log((lit(1000000L) - col("p_e6")).cast("double") /
          1000000.0 / (k - 1)) * 1000000.0, 0).cast("long").as("lq_e6"))
      val cand = labels.join(broadcast(lw), Seq("a"))
        .crossJoin(broadcast(rankDf.select(col("lang").as("c"))))
        .withColumn("s",
          when(col("y") === col("c"), col("lp_e6")).otherwise(col("lq_e6")))
        .groupBy(col("doc_id"), col("c"))
        .agg(sum(col("s")).as("score"))
      val wz = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("c"))
      cand.withColumn("r", row_number().over(wz))
        .filter(col("r") === 1)
        .select(col("doc_id"), col("c").as("z"))
    }
    val p1 = mStep(z0).localCheckpoint(eager = true)
    val z1 = eStep(p1).localCheckpoint(eager = true)
    val p2 = mStep(z1)
    // truth agreement of the recovered labels (the fixture knows it)
    val agree = z1.join(docs, Seq("doc_id"))
      .agg(Parity.halfUpDiv(sum(when(col("z") === col("lang"), 1L).otherwise(0L))
        * 1000000L, count(lit(1))).as("label_agree_e6"))
    p2.crossJoin(broadcast(agree))
      .select(col("a").as("annotator"), col("p_e6").as("est_acc_e6"),
        col("label_agree_e6"))
      .orderBy(col("annotator"))
  }

  private val dawidSkeneOracle =
    """WITH langs AS (
      |  SELECT lang, ROW_NUMBER() OVER (ORDER BY lang) - 1 AS rk,
      |         COUNT(*) OVER () AS k
      |  FROM (SELECT DISTINCT lang FROM documents)),
      |ann AS (SELECT * FROM (VALUES (1, 5), (2, 3), (3, 10))
      |        AS t(a, stride)),
      |wr AS (SELECT a.lang, t.a, t.stride, b.lang AS wrong
      |       FROM langs a CROSS JOIN ann t
      |       JOIN langs b ON b.rk = (a.rk + t.a) % a.k),
      |labels AS (
      |  SELECT d.doc_id, d.lang, w.a,
      |         CASE WHEN d.doc_id % w.stride = 0 THEN w.wrong
      |              ELSE d.lang END AS y
      |  FROM documents d JOIN wr w ON w.lang = d.lang),
      |z0 AS (SELECT doc_id, y AS z FROM (
      |         SELECT doc_id, y,
      |           ROW_NUMBER() OVER (PARTITION BY doc_id
      |             ORDER BY COUNT(*) DESC, y) AS r
      |         FROM labels GROUP BY doc_id, y) WHERE r = 1),
      |p1 AS (SELECT a,
      |         (2 * SUM(CASE WHEN y = z THEN 1 ELSE 0 END) * 1000000
      |            + COUNT(*)) // (2 * COUNT(*)) AS p_e6
      |       FROM labels JOIN z0 USING (doc_id) GROUP BY a),
      |lw AS (SELECT a,
      |         CAST(ROUND(ln(CAST(p_e6 AS DOUBLE) / 1000000.0)
      |                    * 1000000.0) AS BIGINT) AS lp_e6,
      |         CAST(ROUND(ln(CAST(1000000 - p_e6 AS DOUBLE) / 1000000.0
      |                       / (SELECT MAX(k) - 1 FROM langs))
      |                    * 1000000.0) AS BIGINT) AS lq_e6
      |       FROM p1),
      |cand AS (SELECT l.doc_id, c.lang AS c,
      |           SUM(CASE WHEN l.y = c.lang THEN lw.lp_e6
      |                    ELSE lw.lq_e6 END) AS score
      |         FROM labels l JOIN lw USING (a)
      |         CROSS JOIN (SELECT lang FROM langs) c
      |         GROUP BY 1, 2),
      |z1 AS (SELECT doc_id, c AS z FROM (
      |         SELECT doc_id, c,
      |           ROW_NUMBER() OVER (PARTITION BY doc_id
      |             ORDER BY score DESC, c) AS r
      |         FROM cand) WHERE r = 1),
      |p2 AS (SELECT a,
      |         (2 * SUM(CASE WHEN y = z THEN 1 ELSE 0 END) * 1000000
      |            + COUNT(*)) // (2 * COUNT(*)) AS p_e6
      |       FROM labels JOIN z1 USING (doc_id) GROUP BY a),
      |agree AS (SELECT
      |    (2 * SUM(CASE WHEN z1.z = d.lang THEN 1 ELSE 0 END) * 1000000
      |       + COUNT(*)) // (2 * COUNT(*)) AS label_agree_e6
      |  FROM z1 JOIN documents d USING (doc_id))
      |SELECT a AS annotator, CAST(p_e6 AS BIGINT) AS est_acc_e6,
      |       CAST(label_agree_e6 AS BIGINT) AS label_agree_e6
      |FROM p2 CROSS JOIN agree ORDER BY annotator""".stripMargin

  // ------------------------------------------------ conformal sets
  /** Split-conformal prediction sets (Vovk's framework; Angelopoulos
    * & Bates '21 recipe) — the distribution-free coverage guarantee a
    * serving layer can actually promise: on a calibration split,
    * nonconformity = 1 − p(true class); q̂ = the ⌈(n+1)(1−α)⌉-th
    * smallest score; on the test split, each doc's prediction SET is
    * every class with 1 − p(cls) ≤ q̂, which covers the true class
    * with probability ≥ 1−α regardless of how wrong the model is.
    * Reports q̂, mean set size (the efficiency), and the empirical
    * coverage. α = 0.1; cal/test are the two halves of the held-out
    * split (doc_id mod 10 ∈ {4, 9}).
    *
    * Everything is exact on [[nbSoftmaxFrame]]'s e6 lattice: scores
    * are integers, the quantile is an integer-rank SELECTION (not an
    * interpolated float), set membership is an integer compare. The
    * calibration ranking is a global window over the CAL SPLIT ONLY —
    * a bounded labeled-data frame (labels are the expensive thing;
    * this is dimension-sized by construction).
    *
    * Scale shape: inherits nbClassScores; q̂ is a 1-row A6 broadcast
    * into the test scan; one test-doc aggregate + a 1-row scoreboard. */
  /** The standing conformal quantile — a 1-row (qhat_e6, n_cal)
    * artifact from the calibration split, materialized once per
    * session+SF (the nbScoreBatch model discipline) so batch eval and
    * the streaming serving twin read ONE calibration. */
  private[graft] def conformalQhatFrame(spark: SparkSession,
      sfDir: String): DataFrame =
    graft.etl.Medallion.materializeOnce(spark,
      s"${graft.etl.Medallion.warehouse(sfDir)}/conformal_qhat") {
      val (model, counts) = nbModel(spark, sfDir)
      val calDocs = Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 10 === 4)
      val cal = nbSoftmaxFrame(calDocs, model, counts)
        .filter(col("cls") === col("lang"))
        .select(col("doc_id"), (lit(1000000L) - col("q_e6")).as("s"))
      val nCal = cal.agg(count(lit(1)).as("n_cal"))
      cal
        .withColumn("r", row_number().over(
          Window.orderBy(col("s"), col("doc_id"))))
        .crossJoin(broadcast(nCal))
        // k = ⌈0.9·(n+1)⌉ as exact integer arithmetic
        .filter(col("r") ===
          expr("CAST((9 * (n_cal + 1) + 9) DIV 10 AS INT)"))
        .select(col("s").as("qhat_e6"), col("n_cal"))
    }

  /** Score arbitrary docs into conformal prediction sets against the
    * standing q̂ — the per-batch body the batch query and the
    * streaming serving twin both run. Per doc: set size and whether
    * the true class is covered. */
  private[graft] def conformalScoreBatch(docs: DataFrame,
      sfDir: String): DataFrame = {
    val spark = docs.sparkSession
    val (model, counts) = nbModel(spark, sfDir)
    nbSoftmaxFrame(docs, model, counts)
      .crossJoin(broadcast(conformalQhatFrame(spark, sfDir)))
      .withColumn("inset",
        lit(1000000L) - col("q_e6") <= col("qhat_e6"))
      .groupBy(col("doc_id"), col("lang"), col("qhat_e6"), col("n_cal"))
      .agg(sum(when(col("inset"), 1L).otherwise(0L)).as("set_size"),
        max(when(col("cls") === col("lang") && col("inset"), 1L)
          .otherwise(0L)).as("covered"))
  }

  def conformal(spark: SparkSession, sfDir: String): DataFrame = {
    val test = conformalScoreBatch(
      Tables.documents(spark, sfDir).filter(col("doc_id") % 10 === 9),
      sfDir)
    test.groupBy(col("n_cal"), col("qhat_e6"))
      .agg(count(lit(1)).as("n_test"),
        sum(col("set_size")).cast("long").as("sum_set_size"),
        sum(col("covered")).cast("long").as("n_covered"))
      .select(col("n_cal"), col("qhat_e6"), col("n_test"),
        col("sum_set_size"),
        Parity.halfUpDiv(col("sum_set_size") * 1000000L, col("n_test"))
          .as("avg_set_e6"),
        col("n_covered"),
        Parity.halfUpDiv(col("n_covered") * 1000000L, col("n_test"))
          .as("coverage_e6"))
  }

  private val conformalOracle =
    s"""WITH $nbSoftmaxSqlCommon,
       |cal AS (SELECT doc_id, 1000000 - q_e6 AS s FROM pq
       |        WHERE doc_id % 10 = 4 AND cls = lang),
       |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal),
       |qh AS (SELECT s AS qhat_e6, n_cal FROM
       |         (SELECT s, ROW_NUMBER() OVER (ORDER BY s, doc_id) AS r
       |          FROM cal) CROSS JOIN nc
       |       WHERE r = (9 * (n_cal + 1) + 9) // 10),
       |t AS (SELECT doc_id, lang, qhat_e6, n_cal,
       |        CAST(SUM(CASE WHEN 1000000 - q_e6 <= qhat_e6
       |                      THEN 1 ELSE 0 END) AS BIGINT) AS set_size,
       |        CAST(MAX(CASE WHEN cls = lang AND 1000000 - q_e6 <= qhat_e6
       |                      THEN 1 ELSE 0 END) AS BIGINT) AS covered
       |      FROM pq CROSS JOIN qh WHERE doc_id % 10 = 9
       |      GROUP BY doc_id, lang, qhat_e6, n_cal)
       |SELECT n_cal, qhat_e6, COUNT(*) AS n_test,
       |       CAST(SUM(set_size) AS BIGINT) AS sum_set_size,
       |       CAST((2*SUM(set_size)*1000000 + COUNT(*))
       |            // (2*COUNT(*)) AS BIGINT) AS avg_set_e6,
       |       CAST(SUM(covered) AS BIGINT) AS n_covered,
       |       CAST((2*SUM(covered)*1000000 + COUNT(*))
       |            // (2*COUNT(*)) AS BIGINT) AS coverage_e6
       |FROM t GROUP BY n_cal, qhat_e6""".stripMargin

  // --------------------------------------------- uncertainty sampling
  /** Margin-based uncertainty sampling (Lewis & Gale '94 lineage —
    * the active-learning step that decides WHAT TO LABEL NEXT): per
    * held-out doc, the margin between the top two class posteriors;
    * the 20 smallest-margin docs are the labeling batch. Closes the
    * annotation loop the way [[labelNoise]] closes the audit loop —
    * same factored posteriors ([[nbSoftmaxFrame]]'s exact e6
    * lattice), so margins are integer-exact and the batch boundary
    * can't flip on float noise.
    *
    * Scale shape: inherits nbClassScores; the top-2 extraction is a
    * 5-row-per-doc conditional aggregate, and the final take is a
    * bounded TakeOrdered — nothing new shuffles. */
  def uncertaintySample(spark: SparkSession, sfDir: String): DataFrame = {
    val (model, counts) = nbModel(spark, sfDir)
    val heldOut = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % NbHoldMod === NbHoldMod - 1)
    nbSoftmaxFrame(heldOut, model, counts)
      .groupBy(col("doc_id"), col("lang"))
      .agg(max(when(col("rn") === 1, col("cls"))).as("pred"),
        sum(when(col("rn") === 1, col("q_e6"))).cast("long").as("conf_e6"),
        sum(when(col("rn") === 2, col("q_e6"))).cast("long").as("second_e6"))
      .withColumn("margin_e6", col("conf_e6") - col("second_e6"))
      .select(col("doc_id"), col("lang"), col("pred"), col("conf_e6"),
        col("margin_e6"))
      .orderBy(col("margin_e6"), col("doc_id"))
      .limit(20)
  }

  private val uncertaintySampleOracle =
    s"""WITH $nbSoftmaxSqlCommon,
       |docs AS (SELECT doc_id, lang,
       |           MAX(CASE WHEN rn = 1 THEN cls END) AS pred,
       |           CAST(SUM(CASE WHEN rn = 1 THEN q_e6 END) AS BIGINT)
       |             AS conf_e6,
       |           CAST(SUM(CASE WHEN rn = 2 THEN q_e6 END) AS BIGINT)
       |             AS second_e6
       |         FROM pq GROUP BY doc_id, lang)
       |SELECT doc_id, lang, pred, conf_e6,
       |       conf_e6 - second_e6 AS margin_e6
       |FROM docs ORDER BY margin_e6, doc_id LIMIT 20""".stripMargin

  // ------------------------------------------------ label-noise audit
  /** Confident-learning label-noise estimation (Northcutt et al.
    * JAIR'21, the cleanlab construction) over the held-out split —
    * the audit that finds MISLABELED examples rather than a bad
    * model: per class j, the self-confidence threshold t_j is the
    * mean posterior p(j|x) over docs GIVEN label j; each doc counts
    * into the confident joint C[given][ĵ] where ĵ is its
    * highest-posterior class among those clearing their own
    * threshold (docs clearing none abstain). Off-diagonal mass is
    * the estimated label-error census — on a corpus with honest
    * labels it should be small and SYMMETRIC-ish; a big asymmetric
    * cell is a labeling-pipeline bug, which is exactly what a
    * curation team triages with this table.
    *
    * Everything stays on [[nbSoftmaxFrame]]'s exact e6 lattice:
    * thresholds are truncating integer means of q_e6, comparisons
    * and argmaxes are integer-exact (ties cls-asc). Scale shape:
    * inherits the nbClassScores plan; thresholds are a class-sized
    * broadcast; the census is a (classes²)-row aggregate. */
  def labelNoise(spark: SparkSession, sfDir: String): DataFrame = {
    val (model, counts) = nbModel(spark, sfDir)
    val heldOut = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % NbHoldMod === NbHoldMod - 1)
    val per = nbSoftmaxFrame(heldOut, model, counts)
    val thr = per.filter(col("cls") === col("lang"))
      .groupBy(col("cls"))
      .agg(call_function("div", sum(col("q_e6")), count(lit(1)))
        .as("t_e6"))
    val wq = Window.partitionBy(col("doc_id"))
      .orderBy(col("q_e6").desc, col("cls"))
    per.join(broadcast(thr), Seq("cls"))
      .filter(col("q_e6") >= col("t_e6"))
      .withColumn("rq", row_number().over(wq))
      .filter(col("rq") === 1)
      .groupBy(col("lang"), col("cls"))
      .agg(count(lit(1)).as("n_docs"),
        Parity.halfUpDiv(sum(col("q_e6")), count(lit(1))).as("avg_conf_e6"))
      .select(col("lang").as("given_lang"), col("cls").as("pred_cls"),
        col("n_docs"), col("avg_conf_e6"),
        (col("lang") =!= col("cls")).as("is_error"))
      .orderBy(col("given_lang"), col("pred_cls"))
  }

  private val labelNoiseOracle =
    s"""WITH $nbSoftmaxSqlCommon,
       |thr AS (SELECT cls, SUM(q_e6) // COUNT(*) AS t_e6
       |        FROM pq WHERE cls = lang GROUP BY cls),
       |qual AS (SELECT pq.doc_id, pq.lang, pq.cls, pq.q_e6
       |         FROM pq JOIN thr USING (cls) WHERE q_e6 >= t_e6),
       |pick AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |                     ORDER BY q_e6 DESC, cls) AS rq FROM qual)
       |SELECT lang AS given_lang, cls AS pred_cls, COUNT(*) AS n_docs,
       |       CAST(((2*SUM(q_e6) + COUNT(*))
       |             - (2*SUM(q_e6) + COUNT(*)) % (2*COUNT(*)))
       |            // (2*COUNT(*)) AS BIGINT) AS avg_conf_e6,
       |       lang <> cls AS is_error
       |FROM pick WHERE rq = 1
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------- DoReMi domain mixture
  /** DoReMi-style LEARNED domain mixture (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining") —
    * the third leg of the mixture family: [[graft.ops.TextOps]]'
    * temperatureMix is the HEURISTIC α-sampling rule,
    * [[importanceWeights]] (DSIR) picks per-DOCUMENT, this LEARNS
    * per-DOMAIN weights from model feedback. The proxy signal is each
    * source's cross-entropy under the corpus unigram LM (the
    * [[graft.ops.TextOps]] unigramLogprob lattice — micro-nat
    * quantization before any sum, so the corpus reduction is exact
    * integer arithmetic); the reference loss is the corpus-wide CE;
    * a domain's EXCESS loss (clipped at 0, the DoReMi rule) drives an
    * exponentiated-gradient step w ∝ exp(η·excess) with η = 1,
    * normalized on the integer lattice and smoothed 4:1 with uniform
    * (DoReMi's c-mixing) so no domain starves. The upsample column is
    * the allocation consequence: weight ÷ natural token share — how
    * many effective epochs the mixture asks of each domain.
    *
    * Scale shape: one corpus token explode + the UNHINTED vocab join
    * (the unigramLogprob discipline — AQE broadcasts at small SF,
    * shuffle-joins at scale), then ONE source-keyed rollup; everything
    * after runs on the cached source-sized frame (two A6 broadcast
    * scalars: reference loss, normalizer). exp/ln parity follows the
    * dsirResample/unigramLogprob precedent: both engines evaluate the
    * transcendental on the IDENTICAL rational and quantize to e6.
    */
  def doremiMix(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
    val tot = toks.agg(count(lit(1)).as("n_tot"))
    // corpus-vocabulary-sized: deliberately UNHINTED (8 GB-cliff
    // rationale at TextOps.unigramLogprob)
    val freqs = toks.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val dom = toks.join(freqs, Seq("term"))
      .crossJoin(broadcast(tot))
      .withColumn("lp_e6",
        round(log(col("tf").cast("double") / col("n_tot")) * lit(1000000.0), 0)
          .cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_toks"), sum(col("lp_e6")).as("slp"))
      .cache() // source-sized; the corpus explode must not run 3×
    val ref = dom.agg(sum(col("slp")).as("slp_all"),
      sum(col("n_toks")).as("n_all"))
      .select(expr("(-slp_all) DIV n_all").as("ref_e6"), col("n_all"))
    val stepped = dom.crossJoin(broadcast(ref))
      .withColumn("loss_e6", expr("(-slp) DIV n_toks"))
      .withColumn("excess_e6",
        greatest(lit(0L), col("loss_e6") - col("ref_e6")))
      .withColumn("w_raw_e6",
        greatest(lit(1L),
          round(exp(col("excess_e6").cast("double") / lit(1000000.0)) *
            lit(1000000.0), 0).cast("long")))
    val norm = stepped.agg(sum(col("w_raw_e6")).as("w_tot"),
      count(lit(1)).as("n_dom"))
    stepped.crossJoin(broadcast(norm))
      .withColumn("soft_e6", expr("w_raw_e6 * 1000000 DIV w_tot"))
      .withColumn("weight_e6",
        expr("(4 * soft_e6 + 1000000 DIV n_dom) DIV 5"))
      .select(col("source"), col("n_toks"), col("loss_e6"),
        col("excess_e6"), col("weight_e6"),
        expr("weight_e6 * n_all DIV n_toks").as("upsample_e6"))
      .orderBy(col("source"))
  }

  private val doremiMixOracle =
    """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS term
      |              FROM documents),
      |tot AS (SELECT COUNT(*) AS n_tot FROM toks),
      |freqs AS (SELECT term, COUNT(*) AS tf FROM toks GROUP BY term),
      |dom AS (
      |  SELECT source, COUNT(*) AS n_toks,
      |         CAST(SUM(CAST(ROUND(ln(CAST(tf AS DOUBLE) / n_tot)
      |                 * 1000000.0) AS BIGINT)) AS BIGINT) AS slp
      |  FROM toks JOIN freqs USING (term) CROSS JOIN tot
      |  GROUP BY source),
      |ref AS (SELECT (-SUM(slp)) // SUM(n_toks) AS ref_e6,
      |               CAST(SUM(n_toks) AS BIGINT) AS n_all
      |        FROM dom),
      |stepped AS (
      |  SELECT source, n_toks, (-slp) // n_toks AS loss_e6,
      |         GREATEST(0, (-slp) // n_toks - ref_e6) AS excess_e6,
      |         GREATEST(1, CAST(ROUND(exp(CAST(GREATEST(0,
      |             (-slp) // n_toks - ref_e6) AS DOUBLE) / 1000000.0)
      |             * 1000000.0) AS BIGINT)) AS w_raw_e6,
      |         n_all
      |  FROM dom CROSS JOIN ref),
      |norm AS (SELECT CAST(SUM(w_raw_e6) AS BIGINT) AS w_tot,
      |                COUNT(*) AS n_dom
      |         FROM stepped)
      |SELECT source, n_toks,
      |       CAST(loss_e6 AS BIGINT) AS loss_e6,
      |       CAST(excess_e6 AS BIGINT) AS excess_e6,
      |       CAST((4 * (w_raw_e6 * 1000000 // w_tot) + 1000000 // n_dom) // 5
      |            AS BIGINT) AS weight_e6,
      |       CAST(((4 * (w_raw_e6 * 1000000 // w_tot) + 1000000 // n_dom) // 5)
      |            * n_all // n_toks AS BIGINT) AS upsample_e6
      |FROM stepped CROSS JOIN norm
      |ORDER BY source""".stripMargin

  // --------------------------------------------- Bradley-Terry ranking
  /** Bradley–Terry strength estimation from pairwise preferences — the
    * PREFERENCE-side trainer, completing the training triptych: [[nbTrain]]
    * learns from labels, [[graft.ops.TextOps]]' bpeTrain from raw text,
    * this from comparisons (Bradley & Terry '52; Zermelo '29; the MM
    * form is Hunter '04) — the aggregation an RLHF/arena pipeline runs
    * over millions of "A beats B" judgments to rank models or grade
    * response quality before reward-model training. Comparison stream:
    * one event per lineitem row between items `l_partkey % 12` and
    * `l_suppkey % 12` (self-pairs dropped); the outcome is a
    * deterministic BT-distributed draw against latent strengths
    * s_i = i+1 (the [[graft.ops.Parity.mixBucket]] arithmetic with a
    * per-row modulus s_i+s_j, so a draw below s_i is a win for i) —
    * giving the spec a GROUND-TRUTH ordering the estimator must
    * recover. Estimation is [[BtIters]] Zermelo/MM rounds on the e12
    * integer lattice (every division a floor DIV, every sum over
    * integers — order-free, so the DuckDB oracle replays the identical
    * unrolled loop to the exact bit): s_i ← W_i·C DIV Σ_j n_ij·C DIV
    * (s_i+s_j), renormalized to mean 1e6 each round, floored at 1.
    *
    * Scale shape: the corpus-sized work is ONE partial-aggregated
    * groupBy from the comparison stream down to the unordered pair
    * matrix — bounded by the ITEM dimension squared (you rank dozens
    * of models, not millions), so the matrix collects as an A6
    * bounded frame and the iterations are driver-side integer
    * arithmetic on ≤66 rows; the result re-injects as a local
    * relation ([[graft.ops.TextOps]] bpeApply's LocalTableScan
    * precedent). C = 1e12 leaves headroom to ~9×10⁶ comparisons per
    * directed pair before Long overflow — raise the lattice to
    * BigInt (driver) / HUGEINT (oracle) past that.
    */
  private val BtItems = 12
  private val BtIters = 8
  private val BtC = 1000000000000L

  def bradleyTerry(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select((col("l_partkey") % BtItems).cast("long").as("i"),
        (col("l_suppkey") % BtItems).cast("long").as("j"),
        (col("l_orderkey") * 8 + col("l_linenumber")).cast("long").as("key"))
      .filter(col("i") =!= col("j"))
      .withColumn("draw",
        pmod(pmod(pmod(col("key"), lit(2147483648L)) * lit(2654435761L),
          lit(4294967296L)), col("i") + col("j") + 2))
      .withColumn("win_i", (col("draw") < col("i") + 1).cast("long"))
    val matrix = li
      .select(least(col("i"), col("j")).as("a"),
        greatest(col("i"), col("j")).as("b"),
        when(col("i") < col("j"), col("win_i"))
          .otherwise(lit(1L) - col("win_i")).as("wa"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n"), sum(col("wa")).as("w"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // directed view: (i, j, n_ij, wins of i over j)
    val directed = matrix.flatMap { case (a, b, n, wa) =>
      Seq((a, b, n, wa), (b, a, n, n - wa)) }
    val items = (0L until BtItems.toLong).toArray
    var s = items.map(_ => 1000000L)
    for (_ <- 1 to BtIters) {
      val u = items.map { i =>
        val rows = directed.filter(_._1 == i)
        val d = rows.map { case (_, j, n, _) =>
          n * BtC / (s(i.toInt) + s(j.toInt)) }.sum
        val wi = rows.map(_._4).sum
        if (d == 0L) s(i.toInt) else math.max(1L, wi * BtC / d)
      }
      val tot = u.sum
      s = u.map(v => math.max(1L, v * (BtItems * 1000000L) / tot))
    }
    val perItem = directed.groupBy(_._1).map { case (i, rows) =>
      (i, (rows.map(_._3).sum, rows.map(_._4).sum))
    }
    val out = items.map { i =>
      val (n, w) = perItem.getOrElse(i, (0L, 0L))
      (i, n, w, n - w, s(i.toInt))
    }
    val ranked = out.sortBy { case (i, _, _, _, st) => (-st, i) }
      .zipWithIndex
      .map { case ((i, n, w, l, st), r) => (i, n, w, l, st, (r + 1).toLong) }
      .sortBy(_._1)
    spark.createDataFrame(ranked.toSeq)
      .toDF("item", "n_comps", "wins", "losses", "strength_e6", "bt_rank")
  }

  private val bradleyTerryOracle: String = {
    // every s$k is MATERIALIZED: DuckDB inlines plain CTEs per
    // reference, and each round references the previous one three
    // times — unmaterialized, the 8-round unroll re-expands the
    // lineitem scan exponentially (observed as fd exhaustion)
    val iters = (1 to BtIters).map { k =>
      s"""u$k AS (SELECT t.item,
         |          CASE WHEN t.d = 0 THEN sp.s
         |               ELSE GREATEST(1, t.wi * $BtC // t.d) END AS s
         |        FROM (SELECT md.i AS item,
         |                SUM(md.n * $BtC // (si.s + sj.s)) AS d,
         |                SUM(md.w) AS wi
         |              FROM md JOIN s${k - 1} si ON si.item = md.i
         |                      JOIN s${k - 1} sj ON sj.item = md.j
         |              GROUP BY md.i) t
         |        JOIN s${k - 1} sp ON sp.item = t.item),
         |s$k AS MATERIALIZED (
         |        SELECT item, GREATEST(1, s * ${BtItems}000000
         |          // (SELECT SUM(s) FROM u$k)) AS s
         |        FROM u$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (
       |  SELECT l_partkey % $BtItems AS i, l_suppkey % $BtItems AS j,
       |         l_orderkey * 8 + l_linenumber AS key
       |  FROM lineitem WHERE l_partkey % $BtItems <> l_suppkey % $BtItems),
       |drawn AS (
       |  SELECT i, j,
       |         CASE WHEN ((key % 2147483648) * 2654435761) % 4294967296
       |                   % (i + j + 2) < i + 1
       |              THEN 1 ELSE 0 END AS win_i
       |  FROM li),
       |m AS (
       |  SELECT LEAST(i, j) AS a, GREATEST(i, j) AS b, COUNT(*) AS n,
       |         CAST(SUM(CASE WHEN i < j THEN win_i ELSE 1 - win_i END)
       |              AS BIGINT) AS wa
       |  FROM drawn GROUP BY 1, 2),
       |md AS MATERIALIZED (
       |       SELECT a AS i, b AS j, n, wa AS w FROM m
       |       UNION ALL SELECT b, a, n, n - wa FROM m),
       |s0 AS MATERIALIZED (
       |       SELECT unnest(range(0, $BtItems)) AS item, 1000000 AS s),
       |$iters,
       |agg AS (SELECT i AS item, CAST(SUM(n) AS BIGINT) AS n_comps,
       |               CAST(SUM(w) AS BIGINT) AS wins
       |        FROM md GROUP BY i)
       |SELECT f.item, COALESCE(agg.n_comps, 0) AS n_comps,
       |       COALESCE(agg.wins, 0) AS wins,
       |       COALESCE(agg.n_comps, 0) - COALESCE(agg.wins, 0) AS losses,
       |       CAST(f.s AS BIGINT) AS strength_e6,
       |       CAST(ROW_NUMBER() OVER (ORDER BY f.s DESC, f.item) AS BIGINT)
       |         AS bt_rank
       |FROM s$BtIters f LEFT JOIN agg USING (item)
       |ORDER BY item""".stripMargin
  }

  // ------------------------------------------- logistic regression
  /** Batch-gradient-descent logistic regression over the embedding
    * features — the TRAINED half of the quality-classifier family
    * (fastText [[fastTextScore]] and naive Bayes infer with FIXED
    * parameters; this one actually fits them): y = (label = 0),
    * x = the 64-dim embedding quantized to e3, and
    * [[LogregIters]] rounds of full-batch ascent on the
    * log-likelihood, w ← w + η·mean((y − σ(w·x))·x).
    *
    * Parity (the pcaPower driver-reinject construction): features
    * quantize to e3 ONCE; each round's margin Σ w_e6·x_e3 is exact
    * integer; σ leaves float for exactly one exp per row and
    * re-quantizes to e6 immediately; the gradient Σ(y_e6 − p_e6)·x_e3
    * is exact integer; and the step divides on the integer lattice
    * with TRUNCATING division (Scala `Long./` == DuckDB `//`, which
    * truncates toward zero on negatives — NOT floor; a floorDiv here
    * would diverge from the oracle one weight-unit per negative
    * gradient). Lattice headroom: |g| ≤ n·1e6·max|x_e3| ≈ n·2.5e8, so
    * η·g stays under 2⁶³ to n ≈ 7e8 rows per batch — beyond that,
    * normalize the gradient per-partition first.
    *
    * Scale shape: the feature frame is built and cached once; each
    * round is ONE pass — margins and per-row losses are map-side
    * (weights enter as literals, the A6 scalar-reinject pattern at
    * dim size; no join), and the gradient is a posexplode +
    * groupBy(pos) whose partial aggregation reduces every partition
    * to dim rows before the exchange, so 64·partitions rows cross
    * the wire per round regardless of corpus size. The driver holds
    * only the dim-sized weight vector.
    */
  private val LogregIters = 5
  private val LogregEta = 2L

  private def logregX(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir).select(
      col("vec_id"),
      when(col("label") === 0, 1000000L).otherwise(0L).as("y"),
      // j=1 is the intercept (constant 1.0 at e3): without it the
      // origin-bound decision boundary can't express the ~10% base
      // rate and the fit loses to the majority guess
      expr("concat(array(CAST(1000 AS BIGINT)), transform(embedding, " +
        "v -> CAST(round(CAST(v AS DOUBLE) * 1000.0, 0) AS BIGINT)))")
        .as("x"))

  /** σ on the lattice: one exp of the exact-integer margin, quantized
    * straight back to e6. */
  private def logregP: Column =
    round(lit(1000000.0) /
      (lit(1.0) + exp(-(col("m") / lit(1000000000.0)))), 0).cast("long")

  /** Per-row log-loss at e6, with p clamped off the ln singularities. */
  private def logregLoss: Column = {
    val pc = least(greatest(col("p"), lit(1L)), lit(999999L))
    round(when(col("y") === 1000000L, -log(pc / lit(1000000.0)))
      .otherwise(-log((lit(1000000L) - pc) / lit(1000000.0)))
      * 1000000.0, 0).cast("long")
  }

  /** Margin Σ wⱼ·xⱼ as a codegen sum of literals — zero-weight terms
    * dropped (round 1 is literally `0`). */
  private def logregMargin(w: Array[Long]): Column = {
    val terms = w.zipWithIndex.collect { case (wj, i) if wj != 0L =>
      lit(wj) * element_at(col("x"), i + 1)
    }
    if (terms.isEmpty) lit(0L) else terms.reduce(_ + _)
  }

  /** The training loop: returns (final weights, total log-loss per
    * round at the round's INCOMING weights, n). Exposed for the spec's
    * driver-side recompute and monotone-loss check. */
  private[graft] def logregTrainLoop(spark: SparkSession, sfDir: String,
      iters: Int): (Array[Long], Seq[Long], Long) = {
    val (traj, losses, n) = logregTrajectoryLoop(spark, sfDir, iters)
    (traj.last, losses, n)
  }

  /** The same loop exposing every post-step checkpoint w₁..w_T — the
    * trajectory [[datasetCartography]] reads (training dynamics need
    * the checkpoints, not just the final weights). */
  private[graft] def logregTrajectoryLoop(spark: SparkSession,
      sfDir: String, iters: Int): (Seq[Array[Long]], Seq[Long], Long) = {
    val x = logregX(spark, sfDir).cache()
    val n = x.count()
    val dim = x.select(size(col("x"))).head().getInt(0)
    val w = Array.fill(dim)(0L)
    val losses = Seq.newBuilder[Long]
    val traj = Seq.newBuilder[Array[Long]]
    for (_ <- 1 to iters) {
      val rows = x.withColumn("m", logregMargin(w))
        .withColumn("p", logregP)
        .withColumn("lr", logregLoss)
        .select(col("y"), col("p"), col("lr"),
          posexplode(col("x")).as(Seq("pos", "xv")))
        .groupBy(col("pos"))
        .agg(sum((col("y") - col("p")) * col("xv")).as("g"),
          sum(when(col("pos") === 0, col("lr")).otherwise(0L)).as("l"))
        .collect()
      losses += rows.map(_.getLong(2)).sum // only pos=0 contributes
      rows.foreach { r =>
        val j = r.getInt(0)
        w(j) = w(j) + LogregEta * r.getLong(1) / (n * 1000L)
      }
      traj += w.clone()
    }
    (traj.result(), losses.result(), n)
  }

  /** The FULL checkpoint trajectory w₁..w_T, materialized once per
    * session+SF — the nbModel/ivfIndex build-once lifecycle applied to
    * training dynamics: GD runs ONCE and every trajectory consumer
    * ([[datasetCartography]], and [[logregModel]] which is just its
    * last slice) reads the artifact. (t, j0, w) rows, T×dim-sized. */
  private[graft] def logregTrajectoryDf(
      spark: SparkSession, sfDir: String): DataFrame =
    graft.etl.Medallion.materializeOnce(spark,
      s"${graft.etl.Medallion.warehouse(sfDir)}/logreg_traj") {
      import spark.implicits._
      val (traj, _, _) = logregTrajectoryLoop(spark, sfDir, LogregIters)
      traj.zipWithIndex.flatMap { case (wt, t) =>
        wt.zipWithIndex.map { case (wj, j) => (t + 1, j, wj) }
      }.toDF("t", "j0", "w")
    }

  /** The trajectory artifact back as driver-side vectors (a bounded
    * T×dim collect by construction). */
  private def logregTrajectory(
      spark: SparkSession, sfDir: String): Seq[Array[Long]] = {
    val rows = logregTrajectoryDf(spark, sfDir).collect()
    val tN = rows.map(_.getInt(0)).max
    val dim = rows.map(_.getInt(1)).max + 1
    val traj = Array.fill(tN)(Array.fill(dim)(0L))
    rows.foreach(r => traj(r.getInt(0) - 1)(r.getInt(1)) = r.getLong(2))
    traj.toSeq
  }

  /** Final-checkpoint weights, materialized once per session+SF — the
    * nbModel/ivfIndex build-once lifecycle: training runs ONCE (via
    * the [[logregTrajectoryDf]] artifact — NOT a second GD run) and
    * both the trainer report ([[logregTrain]]) and every checkpoint
    * consumer ([[tracin]]) read the artifact. (j, w) rows, dim-sized. */
  private[graft] def logregModel(
      spark: SparkSession, sfDir: String): DataFrame =
    graft.etl.Medallion.materializeOnce(spark,
      s"${graft.etl.Medallion.warehouse(sfDir)}/logreg_model") {
      logregTrajectoryDf(spark, sfDir)
        .filter(col("t") === LogregIters)
        .select(col("j0"), col("w"))
    }

  /** The artifact back as the driver-side dim-sized vector (a bounded
    * collect by construction). */
  private def logregModelWeights(
      spark: SparkSession, sfDir: String): Array[Long] = {
    val rows = logregModel(spark, sfDir).collect()
    val w = Array.fill(rows.length)(0L)
    rows.foreach(r => w(r.getInt(0)) = r.getLong(1))
    w
  }

  def logregTrain(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = logregModelWeights(spark, sfDir)
    val n = logregX(spark, sfDir).count()
    val metrics = logregX(spark, sfDir)
      .withColumn("m", logregMargin(w))
      .withColumn("p", logregP)
      .withColumn("lr", logregLoss)
      .agg(
        sum(when((col("m") > 0L) === (col("y") === 1000000L), 1L)
          .otherwise(0L)).as("n_correct"),
        sum(when(col("y") === 1000000L, 1L).otherwise(0L)).as("n_pos"),
        sum(col("lr")).as("loss_total"))
    val wDf = w.toSeq.zipWithIndex
      .map { case (wj, i) => (i + 1L, wj) }.toDF("j", "w_e6")
    wDf.crossJoin(broadcast(metrics))
      .select(col("j"), col("w_e6"), lit(n).as("n"), col("n_pos"),
        call_function("div", col("n_correct") * 1000000L, lit(n))
          .as("acc_e6"),
        call_function("div", col("loss_total"), lit(n)).as("loss_e6"))
      .orderBy(col("j"))
  }

  /** The unrolled-training CTE chain shared by [[logregTrain]]'s oracle
    * and [[tracin]]'s: X (e3 features), nn, w0, and iteration CTEs up to
    * the final weights `w{LogregIters}`. */
  private def logregCtePrefix: String = {
    val iter = (t: Int) =>
      s"""m$t AS (SELECT vec_id, y, CAST(SUM(w * x) AS BIGINT) AS m
         |        FROM X JOIN w${t - 1} USING (j) GROUP BY vec_id, y),
         |p$t AS (SELECT vec_id, y,
         |          CAST(ROUND(1000000.0 / (1.0 + exp(-(m / 1000000000.0))))
         |               AS BIGINT) AS p
         |        FROM m$t),
         |g$t AS (SELECT j, CAST(SUM((X.y - p) * x) AS BIGINT) AS g
         |        FROM X JOIN p$t USING (vec_id) GROUP BY j),
         |w$t AS (SELECT j, w + ($LogregEta * g) // ((SELECT n FROM nn) * 1000)
         |                 AS w
         |        FROM w${t - 1} JOIN g$t USING (j))""".stripMargin
    s"""X AS MATERIALIZED (
       |  SELECT vec_id,
       |         CASE WHEN label = 0 THEN 1000000 ELSE 0 END AS y,
       |         unnest([CAST(1000 AS BIGINT)] || list_transform(embedding,
       |           v -> CAST(ROUND(CAST(v AS DOUBLE) * 1000.0) AS BIGINT)))
       |           AS x,
       |         unnest(range(1, len(embedding) + 2)) AS j
       |  FROM embeddings),
       |nn AS (SELECT COUNT(DISTINCT vec_id) AS n FROM X),
       |w0 AS (SELECT DISTINCT j, CAST(0 AS BIGINT) AS w FROM X),
       |${(1 to LogregIters).map(iter).mkString(",\n")}""".stripMargin
  }

  private val logregOracle = {
    val T = LogregIters
    s"""WITH $logregCtePrefix,
       |mf AS (SELECT vec_id, y, CAST(SUM(w * x) AS BIGINT) AS m
       |       FROM X JOIN w$T USING (j) GROUP BY vec_id, y),
       |pf AS (SELECT vec_id, y, m,
       |         CAST(ROUND(1000000.0 / (1.0 + exp(-(m / 1000000000.0))))
       |              AS BIGINT) AS p
       |       FROM mf),
       |lf AS (SELECT *,
       |         CAST(ROUND((CASE WHEN y = 1000000
       |           THEN -ln(LEAST(GREATEST(p, 1), 999999) / 1000000.0)
       |           ELSE -ln((1000000 - LEAST(GREATEST(p, 1), 999999))
       |                    / 1000000.0) END) * 1000000.0) AS BIGINT) AS lr
       |       FROM pf),
       |metrics AS (
       |  SELECT CAST(SUM(CASE WHEN (m > 0) = (y = 1000000) THEN 1 ELSE 0 END)
       |              AS BIGINT) AS n_correct,
       |         CAST(SUM(CASE WHEN y = 1000000 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_pos,
       |         CAST(SUM(lr) AS BIGINT) AS loss_total
       |  FROM lf)
       |SELECT j, w AS w_e6, (SELECT n FROM nn) AS n, n_pos,
       |       (n_correct * 1000000) // (SELECT n FROM nn) AS acc_e6,
       |       loss_total // (SELECT n FROM nn) AS loss_e6
       |FROM w$T CROSS JOIN metrics ORDER BY j""".stripMargin
  }

  // --------------------------------------------------- model soup
  /** Model soup / checkpoint averaging (Wortsman et al. ICML'22's
    * uniform soup; stochastic weight averaging, Izmailov et al.
    * UAI'18): the uniform average of the T GD checkpoints w₁..w_T,
    * evaluated head-to-head against the final checkpoint on the same
    * corpus — the cheapest ensembling a trainer gets (one weight
    * vector, zero extra inference cost), and the audit a checkpoint-
    * averaging serving deploy needs before swapping weights. Composes
    * the [[logregTrajectoryDf]] artifact (training runs ONCE; the
    * soup is arithmetic over the standing trajectory).
    *
    * Exactness: soup weights are (2Σ_t w_t + T) / 2T in exact integer
    * TRUNCATING division — DuckDB `//` truncates toward zero on
    * negatives (judge-style probe: `-7 // 2 = -3`), matching Java
    * `/`, NOT `Math.floorDiv`; both evaluations run the trainer's
    * own lattice kernels ([[logregMargin]]/[[logregP]]/
    * [[logregLoss]]), so acc/loss are exact integers.
    *
    * Scale shape: the trajectory is the standing dim×T artifact; both
    * metric passes are map-side literal margins over ONE cached scan
    * (no join — the weights are codegen literals); output is dim-
    * sized. */
  def modelSoup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val traj = logregTrajectory(spark, sfDir)
    val tN = traj.length
    val dim = traj.head.length
    val soup = Array.tabulate(dim) { j =>
      (2L * traj.map(_(j)).sum + tN) / (2L * tN)
    }
    val wf = traj.last
    val x = logregX(spark, sfDir).cache()
    val n = x.count()
    def metrics(w: Array[Long], tag: String): DataFrame =
      x.withColumn("m", logregMargin(w))
        .withColumn("p", logregP)
        .withColumn("lr", logregLoss)
        .agg(
          sum(when((col("m") > 0L) === (col("y") === 1000000L), 1L)
            .otherwise(0L)).as(s"n_correct_$tag"),
          sum(col("lr")).as(s"loss_total_$tag"))
    val m = metrics(soup, "soup").crossJoin(metrics(wf, "final"))
    val wDf = soup.toSeq.zip(wf.toSeq).zipWithIndex
      .map { case ((ws, wfj), i) => (i + 1L, ws, wfj) }
      .toDF("j", "w_soup_e6", "w_final_e6")
    wDf.crossJoin(broadcast(m))
      .select(col("j"), col("w_soup_e6"), col("w_final_e6"),
        lit(n).as("n"),
        call_function("div", col("n_correct_soup") * 1000000L, lit(n))
          .as("soup_acc_e6"),
        call_function("div", col("loss_total_soup"), lit(n))
          .as("soup_loss_e6"),
        call_function("div", col("n_correct_final") * 1000000L, lit(n))
          .as("final_acc_e6"),
        call_function("div", col("loss_total_final"), lit(n))
          .as("final_loss_e6"))
      .orderBy(col("j"))
  }

  private val modelSoupOracle = {
    val T = LogregIters
    val wSum = (1 to T).map(t => s"w$t.w").mkString(" + ")
    val joins = (2 to T).map(t => s"JOIN w$t USING (j)").mkString(" ")
    def evalCtes(w: String, tag: String) =
      s"""m_$tag AS (SELECT vec_id, y, CAST(SUM(w * x) AS BIGINT) AS m
         |       FROM X JOIN $w USING (j) GROUP BY vec_id, y),
         |p_$tag AS (SELECT vec_id, y, m,
         |         CAST(ROUND(1000000.0 / (1.0 + exp(-(m / 1000000000.0))))
         |              AS BIGINT) AS p
         |       FROM m_$tag),
         |l_$tag AS (SELECT *,
         |         CAST(ROUND((CASE WHEN y = 1000000
         |           THEN -ln(LEAST(GREATEST(p, 1), 999999) / 1000000.0)
         |           ELSE -ln((1000000 - LEAST(GREATEST(p, 1), 999999))
         |                    / 1000000.0) END) * 1000000.0) AS BIGINT) AS lr
         |       FROM p_$tag),
         |g_$tag AS (
         |  SELECT CAST(SUM(CASE WHEN (m > 0) = (y = 1000000) THEN 1 ELSE 0
         |              END) AS BIGINT) AS n_correct,
         |         CAST(SUM(lr) AS BIGINT) AS loss_total
         |  FROM l_$tag)""".stripMargin
    s"""WITH $logregCtePrefix,
       |soup AS (SELECT w1.j, (2 * ($wSum) + $T) // (2 * $T) AS w
       |         FROM w1 $joins),
       |${evalCtes("soup", "soup")},
       |${evalCtes(s"w$T", "final")}
       |SELECT soup.j, soup.w AS w_soup_e6, w$T.w AS w_final_e6,
       |       (SELECT n FROM nn) AS n,
       |       (SELECT n_correct * 1000000 // (SELECT n FROM nn) FROM g_soup)
       |         AS soup_acc_e6,
       |       (SELECT loss_total // (SELECT n FROM nn) FROM g_soup)
       |         AS soup_loss_e6,
       |       (SELECT n_correct * 1000000 // (SELECT n FROM nn)
       |        FROM g_final) AS final_acc_e6,
       |       (SELECT loss_total // (SELECT n FROM nn) FROM g_final)
       |         AS final_loss_e6
       |FROM soup JOIN w$T USING (j) ORDER BY j""".stripMargin
  }

  // ------------------------------------------------------ EMA soup
  /** EMA (Polyak) checkpoint averaging — the exponential sibling of
    * the uniform [[modelSoup]], and the average modern trainers
    * actually ship to serving (the "EMA weights" of every diffusion /
    * large-LM release; Polyak & Juditsky SIAM'92, Izmailov et al.
    * UAI'18 §1): e_t = β·e_{t-1} + (1−β)·w_t with e_0 = 0 and β = ½,
    * so e_T = (Σ_t 2^{t-1}·w_t) / 2^T — recent checkpoints weigh
    * exponentially more, which tracks a moving optimum where the
    * uniform soup lags it. Evaluated head-to-head against the final
    * checkpoint on the same corpus, like [[modelSoup]]: the audit
    * that decides whether the serving deploy swaps in the EMA.
    *
    * Exactness: β = ½ makes the EMA an exact dyadic rational — the
    * weighted sum S = Σ 2^{t-1}·w_t is exact integer and the e6
    * weight is (2S + 2^T) / 2^{T+1} in TRUNCATING division (Java
    * `Long./` == DuckDB `//`, the [[modelSoup]] convention); both
    * evaluations run the trainer's own lattice kernels so acc/loss
    * are exact integers.
    *
    * Scale shape: identical to [[modelSoup]] — the trajectory is the
    * standing dim×T artifact, both metric passes are map-side literal
    * margins over ONE cached scan, output is dim-sized. */
  def emaSoup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val traj = logregTrajectory(spark, sfDir)
    val tN = traj.length
    val dim = traj.head.length
    val pow = 1L << tN // 2^T
    val ema = Array.tabulate(dim) { j =>
      val s = traj.zipWithIndex.map { case (w, i) => (1L << i) * w(j) }.sum
      (2L * s + pow) / (2L * pow)
    }
    val wf = traj.last
    val x = logregX(spark, sfDir).cache()
    val n = x.count()
    def metrics(w: Array[Long], tag: String): DataFrame =
      x.withColumn("m", logregMargin(w))
        .withColumn("p", logregP)
        .withColumn("lr", logregLoss)
        .agg(
          sum(when((col("m") > 0L) === (col("y") === 1000000L), 1L)
            .otherwise(0L)).as(s"n_correct_$tag"),
          sum(col("lr")).as(s"loss_total_$tag"))
    val m = metrics(ema, "ema").crossJoin(metrics(wf, "final"))
    val wDf = ema.toSeq.zip(wf.toSeq).zipWithIndex
      .map { case ((we, wfj), i) => (i + 1L, we, wfj) }
      .toDF("j", "w_ema_e6", "w_final_e6")
    wDf.crossJoin(broadcast(m))
      .select(col("j"), col("w_ema_e6"), col("w_final_e6"),
        lit(n).as("n"),
        call_function("div", col("n_correct_ema") * 1000000L, lit(n))
          .as("ema_acc_e6"),
        call_function("div", col("loss_total_ema"), lit(n))
          .as("ema_loss_e6"),
        call_function("div", col("n_correct_final") * 1000000L, lit(n))
          .as("final_acc_e6"),
        call_function("div", col("loss_total_final"), lit(n))
          .as("final_loss_e6"))
      .orderBy(col("j"))
  }

  private val emaSoupOracle = {
    val T = LogregIters
    val pow = 1L << T
    val wSum = (1 to T).map(t => s"${1L << (t - 1)} * w$t.w")
      .mkString(" + ")
    val joins = (2 to T).map(t => s"JOIN w$t USING (j)").mkString(" ")
    def evalCtes(w: String, tag: String) =
      s"""m_$tag AS (SELECT vec_id, y, CAST(SUM(w * x) AS BIGINT) AS m
         |       FROM X JOIN $w USING (j) GROUP BY vec_id, y),
         |p_$tag AS (SELECT vec_id, y, m,
         |         CAST(ROUND(1000000.0 / (1.0 + exp(-(m / 1000000000.0))))
         |              AS BIGINT) AS p
         |       FROM m_$tag),
         |l_$tag AS (SELECT *,
         |         CAST(ROUND((CASE WHEN y = 1000000
         |           THEN -ln(LEAST(GREATEST(p, 1), 999999) / 1000000.0)
         |           ELSE -ln((1000000 - LEAST(GREATEST(p, 1), 999999))
         |                    / 1000000.0) END) * 1000000.0) AS BIGINT) AS lr
         |       FROM p_$tag),
         |g_$tag AS (
         |  SELECT CAST(SUM(CASE WHEN (m > 0) = (y = 1000000) THEN 1 ELSE 0
         |              END) AS BIGINT) AS n_correct,
         |         CAST(SUM(lr) AS BIGINT) AS loss_total
         |  FROM l_$tag)""".stripMargin
    s"""WITH $logregCtePrefix,
       |ema AS (SELECT w1.j, (2 * ($wSum) + $pow) // (2 * $pow) AS w
       |        FROM w1 $joins),
       |${evalCtes("ema", "ema")},
       |${evalCtes(s"w$T", "final")}
       |SELECT ema.j, ema.w AS w_ema_e6, w$T.w AS w_final_e6,
       |       (SELECT n FROM nn) AS n,
       |       (SELECT n_correct * 1000000 // (SELECT n FROM nn) FROM g_ema)
       |         AS ema_acc_e6,
       |       (SELECT loss_total // (SELECT n FROM nn) FROM g_ema)
       |         AS ema_loss_e6,
       |       (SELECT n_correct * 1000000 // (SELECT n FROM nn)
       |        FROM g_final) AS final_acc_e6,
       |       (SELECT loss_total // (SELECT n FROM nn) FROM g_final)
       |         AS final_loss_e6
       |FROM ema JOIN w$T USING (j) ORDER BY j""".stripMargin
  }

  // --------------------------------------------- dataset cartography
  /** Dataset cartography (Swayamdipta et al. EMNLP'20 "Dataset
    * Maps") over the [[logregTrain]] trajectory — the training-
    * dynamics triage that splits a corpus by HOW it was learned, not
    * whether: per example, mean true-class confidence and confidence
    * VARIABILITY across the T=5 GD checkpoints w₁..w_T. High-mean/
    * low-var = easy-to-learn (safe bulk), high-var = ambiguous (the
    * examples worth human review — and, per the paper, the best
    * training signal), low-mean/low-var = hard-to-learn (the mislabel
    * basin TracIn's self-influence also flags — two independent
    * detectors, one artifact).
    *
    * Exactness: every checkpoint margin is an exact-integer literal
    * dot (the trainer's own lattice), p_t re-quantizes to e6 after
    * its one exp, conf_t = p_t or 1e6−p_t is integer, the mean is
    * (2S+T) div 2T and variability is carried as the UNSCALED exact
    * integer T²·Var = T·Q − S² — no sqrt, no float: region
    * assignment (conf ≥ 0.7e6; variability cut 8.84e10 = the top decile of
    * this trainer's T²Var, the paper's practice of taking the most-
    * variable decile as the ambiguous band) happens
    * entirely on integers. Ships the 3-region census plus the top-10
    * most-ambiguous examples (negative rk rows, burstiness-style).
    *
    * Scale shape: T map-side literal margins over one cached scan —
    * no join, no shuffle beyond the 3-row census; the trajectory is
    * the dim×T driver artifact the trainer already holds. */
  def datasetCartography(spark: SparkSession, sfDir: String): DataFrame = {
    val traj = logregTrajectory(spark, sfDir)
    val tN = traj.length
    var df = logregX(spark, sfDir)
    traj.zipWithIndex.foreach { case (wt, i) =>
      df = df.withColumn(s"m${i + 1}", logregMargin(wt))
        .withColumn(s"p${i + 1}",
          round(lit(1000000.0) /
            (lit(1.0) + exp(-(col(s"m${i + 1}") / lit(1000000000.0)))), 0)
            .cast("long"))
        .withColumn(s"c${i + 1}",
          when(col("y") === 1000000L, col(s"p${i + 1}"))
            .otherwise(lit(1000000L) - col(s"p${i + 1}")))
    }
    val confCols = (1 to tN).map(i => col(s"c$i"))
    val scored = df
      .withColumn("s", confCols.reduce(_ + _))
      .withColumn("q", (1 to tN).map(i =>
        col(s"c$i") * col(s"c$i")).reduce(_ + _))
      .withColumn("mean_conf_e6",
        expr(s"(2 * s + $tN) div (2 * $tN)"))
      .withColumn("var_tt", lit(tN.toLong) * col("q") - col("s") * col("s"))
      .withColumn("region",
        when(col("var_tt") > 88400000000L, "ambiguous")
          .when(col("mean_conf_e6") >= 700000L, "easy")
          .otherwise("hard"))
    val census = scored.groupBy(col("region"))
      .agg(count(lit(1)).as("n"), sum(col("mean_conf_e6")).as("sm"),
        sum(col("var_tt")).as("sv"))
      .select(lit(0).as("rk"), col("region"),
        col("n").cast("long").as("vec_id_or_n"),
        expr("(2 * sm + n) div (2 * n)").as("mean_conf_e6"),
        expr("(2 * sv + n) div (2 * n)").as("var_tt"))
    val topAmb = scored
      .withColumn("rk", row_number().over(
        Window.orderBy(col("var_tt").desc, col("vec_id"))))
      .filter(col("rk") <= 10)
      .select((-col("rk")).as("rk"), col("region"),
        col("vec_id").as("vec_id_or_n"), col("mean_conf_e6"),
        col("var_tt"))
    census.unionByName(topAmb).orderBy(col("rk"), col("region"))
  }

  private val datasetCartographyOracle = {
    val T = LogregIters
    val ck = (t: Int) =>
      s"""cm$t AS (SELECT vec_id, y, CAST(SUM(w * x) AS BIGINT) AS m
         |        FROM X JOIN w$t USING (j) GROUP BY vec_id, y),
         |cc$t AS (SELECT vec_id, y,
         |          CASE WHEN y = 1000000 THEN
         |            CAST(ROUND(1000000.0 / (1.0 + exp(-(m / 1000000000.0))))
         |                 AS BIGINT)
         |          ELSE 1000000 -
         |            CAST(ROUND(1000000.0 / (1.0 + exp(-(m / 1000000000.0))))
         |                 AS BIGINT) END AS c
         |        FROM cm$t)""".stripMargin
    s"""WITH $logregCtePrefix,
       |${(1 to T).map(ck).mkString(",\n")},
       |conf AS (
       |  SELECT vec_id, ${(1 to T).map(t => s"cc$t.c AS c$t").mkString(", ")}
       |  FROM ${(1 to T).map(t => s"cc$t")
            .reduce((a, b) => s"$a JOIN $b USING (vec_id)")}),
       |scored AS (
       |  SELECT vec_id,
       |    (2 * (${(1 to T).map(t => s"c$t").mkString(" + ")}) + $T)
       |      // (2 * $T) AS mean_conf_e6,
       |    $T * (${(1 to T).map(t => s"c$t * c$t").mkString(" + ")})
       |      - (${(1 to T).map(t => s"c$t").mkString(" + ")})
       |        * (${(1 to T).map(t => s"c$t").mkString(" + ")}) AS var_tt
       |  FROM conf),
       |lab AS (
       |  SELECT *, CASE WHEN var_tt > 88400000000 THEN 'ambiguous'
       |                 WHEN mean_conf_e6 >= 700000 THEN 'easy'
       |                 ELSE 'hard' END AS region
       |  FROM scored),
       |census AS (
       |  SELECT 0 AS rk, region, CAST(COUNT(*) AS BIGINT) AS vec_id_or_n,
       |         CAST((2 * SUM(mean_conf_e6) + COUNT(*)) // (2 * COUNT(*))
       |              AS BIGINT) AS mean_conf_e6,
       |         CAST((2 * SUM(var_tt) + COUNT(*)) // (2 * COUNT(*))
       |              AS BIGINT) AS var_tt
       |  FROM lab GROUP BY region),
       |amb AS (
       |  SELECT -rk AS rk, region, vec_id AS vec_id_or_n, mean_conf_e6,
       |         var_tt
       |  FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY var_tt DESC, vec_id)
       |          AS rk FROM lab)
       |  WHERE rk <= 10)
       |SELECT CAST(rk AS INTEGER) AS rk, region, vec_id_or_n,
       |       mean_conf_e6, CAST(var_tt AS BIGINT) AS var_tt
       |FROM (SELECT * FROM census UNION ALL SELECT * FROM amb)
       |ORDER BY rk, region""".stripMargin
  }

  // ------------------------------------------------- TracIn attribution
  /** TracIn-style training-data attribution (Pruthi et al. 2020, public
    * paper) at the final [[logregTrain]] checkpoint — the data-selection
    * op that closes the trainer→curation loop: influence of train
    * example i on the held-out set is ∇L(zᵢ)·∇L(test) = (yᵢ−pᵢ)·(xᵢ·G)
    * where G is the mean held-out gradient, and SELF-influence
    * ‖∇L(zᵢ)‖² = (yᵢ−pᵢ)²·‖xᵢ‖² is the canonical mislabel detector
    * (high self-influence = the example only its own gradient likes).
    *
    * Exactness: the held-out gradient is the trainer's own integer
    * gradient normalized by TRUNCATING lattice division (Scala `Long./`
    * == DuckDB `//`); per-row influence is then (e6 diff)·(exact
    * integer dot) with headroom ≤ 65·1e3·1e6·1e6 ≈ 6.5e16 < 2⁶³, and
    * both reported scores drop to e6 by the same truncating division —
    * every reduction is order-free long arithmetic.
    *
    * Scale shape: ONE dim-sized collect (the A6 scalar-reinject
    * pattern: 65 gradient components, independent of corpus size);
    * influence and self-influence are then map-side literal-vector dot
    * products over the train split — no join, no shuffle beyond the
    * dim-sized gradient aggregate whose partial aggregation reduces
    * each partition to dim rows. At 100 TB this scores every train doc
    * in one scan.
    */
  def tracin(spark: SparkSession, sfDir: String): DataFrame = {
    val w = logregModelWeights(spark, sfDir)
    val x = logregX(spark, sfDir)
      .withColumn("m", logregMargin(w))
      .withColumn("p", logregP)
    val test = x.filter(col("vec_id") % 5 === 0)
    val nTest = test.count()
    val gRows = test
      .select(col("y"), col("p"), posexplode(col("x")).as(Seq("pos", "xv")))
      .groupBy(col("pos"))
      .agg(sum((col("y") - col("p")) * col("xv")).as("graw"))
      .collect() // dim-sized (65 rows): the bounded A6 reinject pattern
    val gn = Array.fill(w.length)(0L)
    gRows.foreach(r => gn(r.getInt(0)) = r.getLong(1) / (nTest * 1000L))
    val dotG = {
      val terms = gn.zipWithIndex.collect { case (gj, i) if gj != 0L =>
        lit(gj) * element_at(col("x"), i + 1)
      }
      if (terms.isEmpty) lit(0L) else terms.reduce(_ + _)
    }
    x.filter(col("vec_id") % 5 =!= 0)
      .withColumn("dot_g", dotG)
      .withColumn("xx",
        expr("aggregate(transform(x, v -> v * v), 0L, (acc, v) -> acc + v)"))
      .select(col("vec_id"),
        when(col("y") === 1000000L, 1L).otherwise(0L).as("y01"),
        col("dot_g"),
        call_function("div", (col("y") - col("p")) * col("dot_g"),
          lit(1000000L)).as("infl_e6"),
        call_function("div", (col("y") - col("p")) * (col("y") - col("p")),
          lit(1000000L)).multiply(col("xx")).as("self_infl"))
      .orderBy(col("vec_id"))
  }

  private val tracinOracle = {
    val T = LogregIters
    s"""WITH $logregCtePrefix,
       |mf AS (SELECT vec_id, y, CAST(SUM(w * x) AS BIGINT) AS m
       |       FROM X JOIN w$T USING (j) GROUP BY vec_id, y),
       |pf AS (SELECT vec_id, y,
       |         CAST(ROUND(1000000.0 / (1.0 + exp(-(m / 1000000000.0))))
       |              AS BIGINT) AS p
       |       FROM mf),
       |nt AS (SELECT COUNT(*) AS n_test FROM pf WHERE vec_id % 5 = 0),
       |g AS (SELECT j, CAST(SUM((y - p) * x) AS BIGINT) AS graw
       |      FROM X JOIN pf USING (vec_id, y) WHERE vec_id % 5 = 0
       |      GROUP BY j),
       |gn AS (SELECT j, graw // ((SELECT n_test FROM nt) * 1000) AS gj
       |       FROM g),
       |dots AS (SELECT vec_id, CAST(SUM(x * gj) AS BIGINT) AS dot_g,
       |                CAST(SUM(x * x) AS BIGINT) AS xx
       |         FROM X JOIN gn USING (j) WHERE vec_id % 5 <> 0
       |         GROUP BY vec_id)
       |SELECT pf.vec_id,
       |       CAST(CASE WHEN pf.y = 1000000 THEN 1 ELSE 0 END AS BIGINT)
       |         AS y01,
       |       dot_g,
       |       ((pf.y - pf.p) * dot_g) // 1000000 AS infl_e6,
       |       (((pf.y - pf.p) * (pf.y - pf.p)) // 1000000) * xx AS self_infl
       |FROM pf JOIN dots USING (vec_id)
       |ORDER BY pf.vec_id""".stripMargin
  }

  // ------------------------------------------------- AdaBoost stumps
  /** AdaBoost.M1 over decision stumps (Freund & Schapire '97) — the
    * ENSEMBLE trainer beside [[logregTrain]]'s linear one, same task
    * (y = (label = 0) over the e3-quantized embedding features):
    * [[AdaRounds]] rounds of (pick the stump minimizing the
    * weight-ed error over a FIXED threshold grid) → (reweight:
    * misclassified up by e^α, correct down by e^−α,
    * α = ½ln((1−ε)/ε)). Reports each round's chosen stump, its
    * normalized weighted error, and α, with the final ensemble's
    * training accuracy repeated per row.
    *
    * Exactness: sample weights LIVE on the e6 integer lattice —
    * each round quantizes the two update factors e^±α to e6 ONCE
    * (two exps per ROUND, not per row: the per-row update is then
    * integer multiply + truncating e6 drop), so the weighted errors
    * every stump choice ranks are exact integer sums; ties break by
    * (feature, threshold, polarity). Stump choice only needs the
    * p=+1 errors: werr(−p) = W − werr(p), so each round scans the
    * grid once and argmins over both signs arithmetically.
    *
    * Scale shape: the feature frame stays cached with its weight
    * column; each round is ONE pass — stump errors come from a
    * posexplode × broadcast-grid conditional aggregation whose
    * partial aggregation reduces every partition to (64·|grid|)
    * rows before the exchange, the winning stump is a driver argmin
    * over that bounded frame (A6), and the reweight is a map-side
    * literal expression followed by localCheckpoint (the iterative-
    * frame discipline: one materialized generation, no deepening
    * plan). The oracle replays all rounds as unrolled CTEs with the
    * argmin as an ORDER BY ... LIMIT 1 subquery.
    */
  private val AdaRounds = 4
  private val AdaGrid: Seq[Long] = Seq(-225L, -150L, -75L, 0L, 75L, 150L, 225L, 1000L)

  private def adaX(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir).select(
      col("vec_id"),
      when(col("label") === 0, 1L).otherwise(-1L).as("y"),
      expr("transform(embedding, " +
        "v -> CAST(round(CAST(v AS DOUBLE) * 1000.0, 0) AS BIGINT))")
        .as("x"),
      lit(1000000L).as("w"))

  /** The chosen stump of one round plus its bookkeeping. */
  private[graft] final case class AdaStump(j: Int, thr: Long, pol: Long,
      werrE6: Long, alphaE6: Long)

  private[graft] def adaTrainLoop(spark: SparkSession, sfDir: String,
      rounds: Int): (Seq[AdaStump], DataFrame) = {
    import spark.implicits._
    val grid = AdaGrid.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("ti", "thr")
    var x = adaX(spark, sfDir).localCheckpoint(true)
    val stumps = Seq.newBuilder[AdaStump]
    for (_ <- 1 to rounds) {
      // p=+1 stump h(x) = (x_j > θ ? +1 : −1); werr over the grid in
      // one conditional aggregation, W rides along in every group
      val errs = x
        .select(col("y"), col("w"), posexplode(col("x")).as(Seq("pos", "xv")))
        .join(broadcast(grid), expr("true"))
        .groupBy(col("pos"), col("thr"))
        .agg(sum(when((col("xv") > col("thr")).cast("int") * 2 - 1 =!= col("y"),
          col("w")).otherwise(0L)).as("werr"),
          sum(col("w")).as("wsum"))
        .collect()
      // wsum in EVERY group is the full Σw (each group sees each row once)
      val wAll = errs.head.getLong(3)
      val best = errs.flatMap { r =>
        val (j, thr, we) = (r.getInt(0), r.getLong(1), r.getLong(2))
        Seq((j, thr, 1L, we), (j, thr, -1L, wAll - we))
      }.minBy { case (j, thr, p, we) => (we, j, thr, p) }
      val (j, thr, pol, werr) = best
      require(werr > 0 && werr < wAll, "degenerate stump: separable fixture")
      val alpha = math.log((wAll - werr).toDouble / werr) / 2.0
      val alphaE6 = math.round(alpha * 1e6)
      val fUp = math.round(math.exp(alphaE6 / 1e6) * 1e6)
      val fDn = math.round(math.exp(-alphaE6 / 1e6) * 1e6)
      stumps += AdaStump(j, thr, pol, werr * 1000000L / wAll, alphaE6)
      val h = (element_at(col("x"), j + 1) > thr).cast("int") * 2 - 1
      val miss = (h * lit(pol)) =!= col("y")
      val next = x.withColumn("w",
        call_function("div",
          when(miss, col("w") * fUp).otherwise(col("w") * fDn),
          lit(1000000L)))
        .localCheckpoint(true)
      graft.ops.GraphOps.freeCheckpoint(x)
      x = next
    }
    (stumps.result(), x)
  }

  def adaboostStumps(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (stumps, x) = adaTrainLoop(spark, sfDir, AdaRounds)
    // ensemble vote Σ αₜhₜ as one literal expression over the cached
    // final frame
    val score = stumps.map { s =>
      ((element_at(col("x"), s.j + 1) > s.thr).cast("int") * 2 - 1) *
        lit(s.pol) * lit(s.alphaE6)
    }.reduce(_ + _)
    val metrics = x
      .agg(sum(when((score > 0).cast("int") * 2 - 1 === col("y"), 1L)
        .otherwise(0L)).as("n_correct"),
        count(lit(1)).as("n"))
      .collect()(0)
    graft.ops.GraphOps.freeCheckpoint(x)
    val accE6 = metrics.getLong(0) * 1000000L / metrics.getLong(1)
    stumps.zipWithIndex
      .map { case (s, i) =>
        (i + 1L, s.j + 1L, s.thr, s.pol, s.werrE6, s.alphaE6, accE6)
      }
      .toDF("round", "feature", "threshold_e3", "polarity", "werr_e6",
        "alpha_e6", "ensemble_acc_e6")
      .orderBy(col("round"))
  }

  private val adaboostOracle = {
    val grid = AdaGrid.mkString("[", ", ", "]")
    // one training round as CTEs: errs over the grid (p=+1 only),
    // best via both-polarity argmin, weights w{t} from w{t-1}
    val round = (t: Int) =>
      s"""e$t AS (
         |  SELECT X.j, g.thr,
         |         CAST(SUM(CASE WHEN (CASE WHEN X.x > g.thr THEN 1
         |                              ELSE -1 END) <> X.y
         |                  THEN w.w ELSE 0 END) AS BIGINT) AS werr
         |  FROM X JOIN w${t - 1} w USING (vec_id),
         |       (SELECT unnest($grid) AS thr) g
         |  GROUP BY X.j, g.thr),
         |tot$t AS (SELECT CAST(SUM(w) AS BIGINT) AS wall FROM w${t - 1}),
         |b$t AS (
         |  SELECT j, thr, pol, werr, wall,
         |         CAST(ROUND(ln(CAST(wall - werr AS DOUBLE) / werr)
         |                    / 2.0 * 1000000.0) AS BIGINT) AS alpha_e6
         |  FROM (SELECT j, thr, 1 AS pol, werr, wall
         |          FROM e$t CROSS JOIN tot$t
         |        UNION ALL
         |        SELECT j, thr, -1, wall - werr, wall
         |          FROM e$t CROSS JOIN tot$t)
         |  ORDER BY werr, j, thr, pol LIMIT 1),
         |f$t AS (
         |  SELECT *,
         |    CAST(ROUND(exp(alpha_e6 / 1000000.0) * 1000000.0) AS BIGINT)
         |      AS f_up,
         |    CAST(ROUND(exp(-alpha_e6 / 1000000.0) * 1000000.0) AS BIGINT)
         |      AS f_dn
         |  FROM b$t),
         |w$t AS (
         |  SELECT w.vec_id,
         |         CAST((w.w * CASE WHEN (CASE WHEN X.x > f.thr THEN 1
         |                                ELSE -1 END) * f.pol <> X.y
         |                      THEN f.f_up ELSE f.f_dn END) // 1000000
         |              AS BIGINT) AS w
         |  FROM w${t - 1} w CROSS JOIN f$t f
         |  JOIN X ON X.vec_id = w.vec_id AND X.j = f.j)""".stripMargin
    val T = AdaRounds
    val stumpsUnion = (1 to T)
      .map(t => s"SELECT j, thr, pol, alpha_e6 FROM f$t")
      .mkString(" UNION ALL ")
    s"""WITH X AS MATERIALIZED (
       |  SELECT vec_id,
       |         CASE WHEN label = 0 THEN 1 ELSE -1 END AS y,
       |         unnest(list_transform(embedding,
       |           v -> CAST(ROUND(CAST(v AS DOUBLE) * 1000.0) AS BIGINT)))
       |           AS x,
       |         unnest(range(1, len(embedding) + 1)) AS j
       |  FROM embeddings),
       |w0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS w
       |       FROM embeddings),
       |${(1 to T).map(round).mkString(",\n")},
       |votes AS (
       |  SELECT X.vec_id,
       |         CAST(SUM((CASE WHEN X.x > f.thr THEN 1 ELSE -1 END)
       |                  * f.pol * f.alpha_e6) AS BIGINT) AS sc
       |  FROM X JOIN ($stumpsUnion) f ON X.j = f.j
       |  GROUP BY X.vec_id),
       |acc AS (
       |  SELECT CAST(SUM(CASE WHEN (CASE WHEN v.sc > 0 THEN 1
       |                              ELSE -1 END) = d.y
       |                  THEN 1 ELSE 0 END) * 1000000
       |              // COUNT(*) AS BIGINT) AS acc_e6
       |  FROM (SELECT DISTINCT vec_id, y FROM X) d
       |  JOIN votes v USING (vec_id))
       |SELECT * FROM (
       |${(1 to T).map(t =>
      s"""  SELECT CAST($t AS BIGINT) AS round, CAST(j AS BIGINT) AS feature,
         |         CAST(thr AS BIGINT) AS threshold_e3,
         |         CAST(pol AS BIGINT) AS polarity,
         |         CAST(werr * 1000000 // wall AS BIGINT) AS werr_e6,
         |         alpha_e6, (SELECT acc_e6 FROM acc) AS ensemble_acc_e6
         |  FROM f$t""".stripMargin).mkString("\n  UNION ALL\n")}
       |) ORDER BY round""".stripMargin
  }

  // --------------------------------------------- gradient noise scale
  /** Gradient noise scale B_simple (McCandlish et al. '18 "An
    * Empirical Model of Large-Batch Training") at the final
    * [[logregTrain]] checkpoint — the one number that predicts the
    * critical batch size for this objective: B_simple = tr(Σ)/|G|²,
    * the ratio of per-example gradient variance to the squared mean
    * gradient. Per-example gradients are exact on the trainer's own
    * lattice (g_i = (y_i−p_i)·x_i, all integers), so the three
    * moments that form the answer are exact: A = Σ|g_i|² (HUGEINT —
    * per-row terms brush the int64 edge), the dim-sized component
    * sums b_j = Σ g_ij (BIGINT, shipped per row for audit), and
    * S2 = Σ b_j². Then |G|² = S2/N², tr(Σ) = A/N − S2/N² (population
    * covariance, same N both terms so the ratio is N-free), and
    * B_simple = N·A/S2 − 1 — three final doubles from exact integers.
    *
    * Scale shape: one corpus pass for A (map-side |x|² fold, dim is
    * tiny), one posexplode aggregate for b (dim-bounded output) — the
    * same two-aggregate shape a real trainer's accumulators use; no
    * join back to data. */
  def gradNoise(spark: SparkSession, sfDir: String): DataFrame = {
    val w = logregModelWeights(spark, sfDir)
    val scored = logregX(spark, sfDir)
      .withColumn("m", logregMargin(w))
      .withColumn("p", logregP)
      .withColumn("r", col("y") - col("p"))
    val aRow = scored
      .withColumn("xx",
        expr("aggregate(x, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(r AS DECIMAL(38,0)) * r * xx")).as("a"))
    val bj = scored
      .select(col("r"), posexplode(col("x")).as(Seq("j0", "xv")))
      .groupBy((col("j0") + 1).cast("long").as("j"))
      .agg(sum(col("r") * col("xv")).as("g_sum"))
    val s2 = bj.agg(
      sum(expr("CAST(g_sum AS DECIMAL(38,0)) * g_sum")).as("s2"))
    bj.crossJoin(broadcast(aRow)).crossJoin(broadcast(s2))
      .select(col("j"), col("g_sum"), col("n"),
        round(expr("CAST(s2 AS DOUBLE)") /
          col("n").cast("double") / col("n").cast("double"), 6)
          .as("grad_norm2"),
        round(expr("CAST(a AS DOUBLE)") / col("n").cast("double") -
          expr("CAST(s2 AS DOUBLE)") /
          col("n").cast("double") / col("n").cast("double"), 6)
          .as("trace_cov"),
        round(col("n").cast("double") * expr("CAST(a AS DOUBLE)") /
          expr("CAST(s2 AS DOUBLE)") - lit(1.0), 6).as("b_simple"))
      .orderBy(col("j"))
  }

  private val gradNoiseOracle = {
    val T = LogregIters
    s"""WITH $logregCtePrefix,
       |mf AS (SELECT vec_id, y, CAST(SUM(w * x) AS BIGINT) AS m
       |       FROM X JOIN w$T USING (j) GROUP BY vec_id, y),
       |rr AS (SELECT vec_id,
       |         y - CAST(ROUND(1000000.0 / (1.0 + exp(-(m / 1000000000.0))))
       |             AS BIGINT) AS r
       |       FROM mf),
       |xxv AS (SELECT vec_id, CAST(SUM(x * x) AS BIGINT) AS xx
       |        FROM X GROUP BY vec_id),
       |a AS (SELECT SUM(CAST(r AS HUGEINT) * r * xx) AS a,
       |             CAST(COUNT(*) AS BIGINT) AS n
       |      FROM rr JOIN xxv USING (vec_id)),
       |bj AS (SELECT j, CAST(SUM(r * x) AS BIGINT) AS g_sum
       |       FROM X JOIN rr USING (vec_id) GROUP BY j),
       |s2 AS (SELECT SUM(CAST(g_sum AS HUGEINT) * g_sum) AS s2 FROM bj)
       |SELECT j, g_sum, n,
       |  ROUND(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
       |        / CAST(n AS DOUBLE), 6) AS grad_norm2,
       |  ROUND(CAST(a AS DOUBLE) / CAST(n AS DOUBLE)
       |        - CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
       |          / CAST(n AS DOUBLE), 6) AS trace_cov,
       |  ROUND(CAST(n AS DOUBLE) * CAST(a AS DOUBLE)
       |        / CAST(s2 AS DOUBLE) - 1.0, 6) AS b_simple
       |FROM bj, a, s2 ORDER BY j""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_grad_noise" -> (gradNoise _),
    "q_adaboost_stumps" -> (adaboostStumps _),
    "q_brier_decomp" -> (brierDecomp _),
    "q_logreg_train" -> (logregTrain _),
    "q_cartography" -> (datasetCartography _),
    "q_model_soup" -> (modelSoup _),
    "q_ema_soup" -> (emaSoup _),
    "q_distill_agreement" -> (distillAgreement _),
    "q_tracin" -> (tracin _),
    "q_fairness_audit" -> (fairnessAudit _),
    "q_error_slices" -> (errorSlices _),
    "q_nb_train" -> (nbTrain _),
    "q_nb_infer" -> (nbInfer _),
    "q_mcnemar" -> (mcnemar _),
    "q_label_noise" -> (labelNoise _),
    "q_temp_scaling" -> (tempScaling _),
    "q_uncertainty_sample" -> (uncertaintySample _),
    "q_conformal" -> (conformal _),
    "q_dawid_skene" -> (dawidSkene _),
    "q_nb_calibration" -> (nbCalibration _),
    "q_bradley_terry" -> (bradleyTerry _),
    "q_doremi_mix" -> (doremiMix _),
    "q_greedy_cover" -> (greedyCover _),
    "q_fasttext_score" -> (fasttextScore _),
    "q_record_linkage" -> (recordLinkage _),
    "q_feature_hash" -> (featureHash _),
    "q_quantile_norm" -> (quantileNorm _),
    "q_lift_table" -> (liftTable _),
    "q_isotonic" -> (isotonicCalibration _),
    "q_lift_table_approx" -> (liftTableApprox _),
    "q_bootstrap_ci" -> (bootstrapCi _),
    "q_cv_leakage" -> (cvLeakage _),
    "q_cluster_split" -> (clusterSplit _),
    "q_curriculum" -> (curriculum _),
    "q_inverted_index" -> (invertedIndex _),
    "q_pipeline_ledger" -> (pipelineLedger _),
    "q_fim_transform" -> (fimTransform _),
    "q_canary_audit" -> (canaryAudit _),
    "q_dsir_resample" -> (dsirResample _),
    "q_shard_balance" -> (shardBalance _),
    "q_rendezvous" -> (rendezvous _),
    "q_epoch_shuffle" -> (epochShuffle _),
    "q_seq_pack" -> (seqPack _),
    "q_importance_weights" -> (importanceWeights _),
    "q_nucleus_filter" -> (nucleusFilter _),
    "q_cms_freq" -> (cmsFreq _),
    "q_normalize_dedup" -> (normalizeDedup _),
    "q_epoch_cap" -> (epochCap _)
  )

  def oracles: Map[String, String] = Map(
    "q_grad_noise" -> gradNoiseOracle,
    "q_brier_decomp" -> brierDecompOracle,
    "q_adaboost_stumps" -> adaboostOracle,
    "q_logreg_train" -> logregOracle,
    "q_cartography" -> datasetCartographyOracle,
    "q_model_soup" -> modelSoupOracle,
    "q_ema_soup" -> emaSoupOracle,
    "q_distill_agreement" -> distillAgreementOracle,
    "q_tracin" -> tracinOracle,
    "q_fairness_audit" -> fairnessAuditOracle,
    "q_error_slices" -> errorSlicesOracle,
    "q_nb_train" -> nbTrainOracle,
    "q_nb_infer" -> nbInferOracle,
    "q_mcnemar" -> mcnemarOracle,
    "q_label_noise" -> labelNoiseOracle,
    "q_temp_scaling" -> tempScalingOracle,
    "q_uncertainty_sample" -> uncertaintySampleOracle,
    "q_conformal" -> conformalOracle,
    "q_dawid_skene" -> dawidSkeneOracle,
    "q_nb_calibration" -> nbCalibrationOracle,
    "q_bradley_terry" -> bradleyTerryOracle,
    "q_doremi_mix" -> doremiMixOracle,
    "q_greedy_cover" -> greedyCoverOracle,
    "q_fasttext_score" -> fasttextScoreOracle,
    "q_record_linkage" -> recordLinkageOracle,
    "q_feature_hash" -> featureHashOracle,
    "q_quantile_norm" -> quantileNormOracle,
    "q_lift_table" -> liftTableOracle,
    "q_isotonic" -> isotonicOracle,
    "q_lift_table_approx" -> liftTableApproxOracle,
    "q_bootstrap_ci" -> bootstrapCiOracle,
    "q_cv_leakage" -> cvLeakageOracle,
    "q_cluster_split" -> clusterSplitOracle,
    "q_curriculum" -> curriculumOracle,
    "q_inverted_index" -> invertedIndexOracle,
    "q_pipeline_ledger" -> pipelineLedgerOracle,
    "q_fim_transform" -> fimTransformOracle,
    "q_canary_audit" -> canaryAuditOracle,
    "q_dsir_resample" -> dsirResampleOracle,
    "q_shard_balance" -> shardBalanceOracle,
    "q_rendezvous" -> rendezvousOracle,
    "q_epoch_shuffle" -> epochShuffleOracle,
    "q_seq_pack" -> seqPackOracle,
    "q_importance_weights" -> importanceWeightsOracle,
    "q_nucleus_filter" -> nucleusFilterOracle,
    "q_cms_freq" -> cmsFreqOracle,
    "q_normalize_dedup" -> normalizeDedupOracle,
    "q_epoch_cap" -> epochCapOracle
  )
}

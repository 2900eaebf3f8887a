package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Generation-eval metrics — the text-generation counterpart of the
  * retrieval ([[RetrievalOps.ndcg]]) and classifier
  * ([[CurationOps.nbInfer]] confusion) evaluation families: corpus-level
  * BLEU (Papineni et al. ACL'02) and ROUGE-N recall (Lin 2004) between a
  * deterministic synthetic "model output" and its reference.
  *
  * The reference repo has no generation eval (its domain is mobility
  * analytics, reference README.md:1); this family exists because an
  * LLM-data platform that trains models needs the same engine to score
  * their outputs — the eval loop is a corpus-scale n-gram join, exactly
  * this library's bread and butter.
  */
object EvalOps {

  /** Every [[SubEvery]]-th candidate position is corrupted to this
    * token — a deterministic stand-in for generation noise, so the
    * metrics land strictly inside (0, 1) and clipping is exercised
    * (the substituted token collides with real occurrences of "the"). */
  private val SubTok = "the"
  private val SubEvery = 7

  // ------------------------------------------------------ gen eval
  /** Corpus-level BLEU-2 + ROUGE-1/2 per language.
    *
    * Candidate construction (identical formula in both engines): the
    * first ⌈0.8·n⌉ tokens of each document, with every 7th position
    * (1-based) replaced by "the" — an 80%-length, ~86%-fidelity
    * "generation" whose scores are nontrivial in every direction
    * (brevity penalty < 1, clipped precisions < 1, recalls < 1).
    *
    * Semantics: modified n-gram precision with PER-DOCUMENT clipping
    * (match(g) = min(count_cand(g), count_ref(g)) within the doc — the
    * BLEU rule that defeats "the the the" gaming), corpus-level
    * aggregation of matches and totals (micro-average, as BLEU
    * specifies), brevity penalty exp(1 − r/c) for c < r, and BLEU-2 =
    * BP · exp(½ ln p₁ + ½ ln p₂). ROUGE-N = Σ match / Σ ref-grams —
    * the recall twin read off the same per-gram frame.
    *
    * Parity: matches/totals are exact integer sums. The BP exponent is
    * a half-up e6 integer division of exact longs; ln p_n quantizes to
    * e6 micro-nats from one IEEE division (the established micro-nat
    * convention); BLEU reassembles by exp over the summed integer
    * lattice. ROUGE is the stableAvg-idiom half-up e6 ratio — no float
    * until the final rendering.
    *
    * Scale shape: ONE corpus-sized exchange — the union of tagged
    * (doc, ord, gram) streams partial-aggregates into per-doc-per-gram
    * counts (clipping is per doc, so the min is computable after one
    * groupBy), then rolls up to a lang×2 frame. The bigram streams are
    * built by per-doc lead() windows (bounded by document length —
    * the winnowing discipline); nothing corpus-sized ever sorts
    * globally or reaches the driver. At 100 TB: same plan, the
    * (doc_id, gram) aggregate is the shuffle, partial map-side combine
    * absorbs the token fan-out.
    */
  def genEval(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("lang"), size(col("ws")).as("n"),
        posexplode(col("ws")))
      .select(col("doc_id"), col("lang"), col("n"),
        (col("pos") + 1).as("pos"), col("col").as("tok"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))

    def tagged(ord: Int, gram: Column, isCand: Boolean)(df: DataFrame) =
      df.select(col("doc_id"), col("lang"), lit(ord).as("ord"),
        gram.as("gram"),
        lit(if (isCand) 1L else 0L).as("is_cand"),
        lit(if (isCand) 0L else 1L).as("is_ref"))

    val ref1 = tagged(1, col("tok"), isCand = false)(toks)
    val ref2 = tagged(2, concat_ws(" ", col("tok"), col("nxt")),
      isCand = false)(
      toks.withColumn("nxt", lead(col("tok"), 1).over(wDoc))
        .filter(col("nxt").isNotNull))

    // candidate prefix: pos ≤ ceil(0.8 n) = (4n+4) div 5, every 7th
    // position substituted; positive operands, so div == // exactly
    val cand = toks.filter(col("pos") <= expr("(4 * n + 4) div 5"))
      .withColumn("tokm",
        when(pmod(col("pos"), lit(SubEvery)) === 0, lit(SubTok))
          .otherwise(col("tok")))
    val cand1 = tagged(1, col("tokm"), isCand = true)(cand)
    val cand2 = tagged(2, concat_ws(" ", col("tokm"), col("nxt")),
      isCand = true)(
      cand.withColumn("nxt", lead(col("tokm"), 1).over(wDoc))
        .filter(col("nxt").isNotNull))

    val perGram = ref1.unionByName(ref2).unionByName(cand1).unionByName(cand2)
      .groupBy(col("doc_id"), col("lang"), col("ord"), col("gram"))
      .agg(sum(col("is_cand")).as("c"), sum(col("is_ref")).as("r"))
    val perOrd = perGram.groupBy(col("lang"), col("ord"))
      .agg(sum(least(col("c"), col("r"))).cast("long").as("m"),
        sum(col("c")).cast("long").as("c"),
        sum(col("r")).cast("long").as("r"))
    val wide = perOrd.groupBy(col("lang")).agg(
      sum(when(col("ord") === 1, col("m")).otherwise(0L)).cast("long").as("m1"),
      sum(when(col("ord") === 1, col("c")).otherwise(0L)).cast("long").as("c1"),
      sum(when(col("ord") === 1, col("r")).otherwise(0L)).cast("long").as("r1"),
      sum(when(col("ord") === 2, col("m")).otherwise(0L)).cast("long").as("m2"),
      sum(when(col("ord") === 2, col("c")).otherwise(0L)).cast("long").as("c2"),
      sum(when(col("ord") === 2, col("r")).otherwise(0L)).cast("long").as("r2"))

    val lnP1 = round(log(greatest(col("m1"), lit(1L)).cast("double") /
      col("c1").cast("double")) * 1000000.0, 0).cast("long")
    val lnP2 = round(log(greatest(col("m2"), lit(1L)).cast("double") /
      greatest(col("c2"), lit(1L)).cast("double")) * 1000000.0, 0).cast("long")
    // BP deficit (r−c)/c ≥ 0 on the half-up e6 lattice — stays integer
    val defE6 = Parity.halfUpE6(col("r1") - col("c1"), col("c1"))
    wide
      .withColumn("lnp1_e6", lnP1)
      .withColumn("lnp2_e6", lnP2)
      .withColumn("def_e6", defE6)
      .select(
        col("lang"),
        col("c1").as("cand_tokens"),
        col("r1").as("ref_tokens"),
        col("m1"), col("m2"),
        Parity.halfUpRatioE6(col("m1"), col("r1")).as("rouge1"),
        Parity.halfUpRatioE6(col("m2"), greatest(col("r2"), lit(1L)))
          .as("rouge2"),
        round(exp((col("lnp1_e6") + col("lnp2_e6") - col("def_e6") * 2L)
          .cast("double") / 2000000.0) * 1000000.0, 0).cast("long")
          .as("bleu2_e6"))
      .orderBy(col("lang"))
  }

  private def halfUpRatioE6Sql(num: String, den: String): String =
    s"CAST(((2000000*$num + $den) - (2000000*$num + $den) % (2*($den))) " +
      s"// (2*($den)) AS DOUBLE) / 1000000.0"

  private val genEvalOracle = {
    val candLen = "(4 * len(ws) + 4) // 5"
    s"""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
       |           FROM documents),
       |ref1 AS (SELECT doc_id, lang, 1 AS ord, ws[i] AS gram,
       |                0 AS is_cand, 1 AS is_ref
       |         FROM d, UNNEST(range(1, len(ws) + 1)) AS t(i)),
       |ref2 AS (SELECT doc_id, lang, 2, ws[i] || ' ' || ws[i+1], 0, 1
       |         FROM d, UNNEST(range(1, len(ws))) AS t(i)),
       |cand1 AS (SELECT doc_id, lang, 1,
       |                 CASE WHEN i % $SubEvery = 0 THEN '$SubTok'
       |                      ELSE ws[i] END, 1, 0
       |          FROM d, UNNEST(range(1, $candLen + 1)) AS t(i)),
       |cand2 AS (SELECT doc_id, lang, 2,
       |                 (CASE WHEN i % $SubEvery = 0 THEN '$SubTok'
       |                       ELSE ws[i] END) || ' ' ||
       |                 (CASE WHEN (i+1) % $SubEvery = 0 THEN '$SubTok'
       |                       ELSE ws[i+1] END), 1, 0
       |          FROM d, UNNEST(range(1, $candLen)) AS t(i)),
       |g AS (SELECT * FROM ref1 UNION ALL SELECT * FROM ref2
       |      UNION ALL SELECT * FROM cand1 UNION ALL SELECT * FROM cand2),
       |pg AS (SELECT doc_id, lang, ord, gram,
       |              SUM(is_cand) AS c, SUM(is_ref) AS r
       |       FROM g GROUP BY doc_id, lang, ord, gram),
       |po AS (SELECT lang, ord,
       |              CAST(SUM(LEAST(c, r)) AS BIGINT) AS m,
       |              CAST(SUM(c) AS BIGINT) AS c,
       |              CAST(SUM(r) AS BIGINT) AS r
       |       FROM pg GROUP BY lang, ord),
       |wide AS (SELECT lang,
       |    CAST(SUM(CASE WHEN ord = 1 THEN m ELSE 0 END) AS BIGINT) AS m1,
       |    CAST(SUM(CASE WHEN ord = 1 THEN c ELSE 0 END) AS BIGINT) AS c1,
       |    CAST(SUM(CASE WHEN ord = 1 THEN r ELSE 0 END) AS BIGINT) AS r1,
       |    CAST(SUM(CASE WHEN ord = 2 THEN m ELSE 0 END) AS BIGINT) AS m2,
       |    CAST(SUM(CASE WHEN ord = 2 THEN c ELSE 0 END) AS BIGINT) AS c2,
       |    CAST(SUM(CASE WHEN ord = 2 THEN r ELSE 0 END) AS BIGINT) AS r2
       |  FROM po GROUP BY lang),
       |f AS (SELECT *,
       |    CAST(ROUND(ln(CAST(GREATEST(m1, 1) AS DOUBLE) / c1)
       |               * 1000000.0) AS BIGINT) AS lnp1_e6,
       |    CAST(ROUND(ln(CAST(GREATEST(m2, 1) AS DOUBLE) / GREATEST(c2, 1))
       |               * 1000000.0) AS BIGINT) AS lnp2_e6,
       |    ((2000000*(r1 - c1) + c1) - (2000000*(r1 - c1) + c1) % (2*c1))
       |      // (2*c1) AS def_e6
       |  FROM wide)
       |SELECT lang, c1 AS cand_tokens, r1 AS ref_tokens, m1, m2,
       |       ${halfUpRatioE6Sql("m1", "r1")} AS rouge1,
       |       ${halfUpRatioE6Sql("m2", "GREATEST(r2, 1)")} AS rouge2,
       |       CAST(ROUND(exp(CAST(lnp1_e6 + lnp2_e6 - 2*def_e6 AS DOUBLE)
       |                      / 2000000.0) * 1000000.0) AS BIGINT)
       |         AS bleu2_e6
       |FROM f ORDER BY lang""".stripMargin
  }

  // ------------------------------------------------------ pass@k
  /** The k values a code-eval report conventionally quotes. */
  private val PassKs = Seq(1, 5, 10)

  /** pass@k — the unbiased estimator from the HumanEval paper (Chen et
    * al. 2021, "Evaluating Large Language Models Trained on Code",
    * §2.1): with n samples per problem of which c pass, the probability
    * that at least one of k drawn samples passes is
    * 1 − C(n−c, k)/C(n, k), and the paper's numerically-stable product
    * form is exactly a falling-factorial ratio
    * Π_{j=0}^{k−1} (n−c−j)/(n−j). Problems: customers (their order
    * history is the deterministic stand-in for an eval harness's
    * samples-per-problem frame); a "passing" sample is an 'F'-status
    * order. Per the paper, k is only estimable where n ≥ k, so each k
    * keeps its own eligible problem set.
    *
    * Parity: both falling factorials are exact BIGINT products (n ≤ a
    * few dozen per problem, k ≤ 10 ⇒ den < 2⁶³ with room); the
    * per-problem estimate quantizes by the half-up e6 ratio computed in
    * decimal(38,0)/HUGEINT, since 2·10⁶·den overflows a long while the
    * quotient is back under 10⁶; the per-k mean is the same half-up
    * ratio on the summed e6 lattice. When n−c < k the numerator
    * product crosses zero — C(n−c,k) = 0 — and the estimate is exactly
    * 1, special-cased identically on both sides.
    *
    * Scale shape: one (custkey) groupBy with map-side combine, a ×|K|
    * map-side fanout, O(k) arithmetic per row via a bounded
    * `aggregate(sequence(0, k−1))` fold (never a combinatorial
    * blow-up, never a factorial table), and a |K|-row rollup. At
    * 100 TB of eval samples the only exchange is the per-problem
    * aggregate.
    */
  def passAtK(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey").as("pid"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("c"))
    val withK = p
      .select(col("pid"), col("n"), col("c"),
        explode(array(PassKs.map(lit(_)): _*)).as("k"))
      .filter(col("n") >= col("k"))

    // exact falling factorial start·(start−1)·…·(start−k+1) as a long
    def falling(start: Column): Column =
      aggregate(sequence(lit(0), col("k") - 1), lit(1L),
        (acc, j) => acc * (start - j))

    val perProblem = withK
      .withColumn("num", falling(col("n") - col("c")))
      .withColumn("den", falling(col("n")))
      // half-up e6 of (den−num)/den widened to decimal(38,0): 2e6·den
      // exceeds 2⁶³ for the k=10 falling factorials
      .withColumn("pass_e6",
        when(col("n") - col("c") < col("k"), lit(1000000L))
          .otherwise(Parity.halfUpE6(
            (col("den") - col("num")).cast("decimal(38,0)"),
            col("den").cast("decimal(38,0)"))))
    perProblem.groupBy(col("k"))
      .agg(count(lit(1)).as("n_problems"),
        sum(col("pass_e6")).cast("long").as("s"))
      .select(col("k"), col("n_problems"),
        (Parity.floorDiv(col("s") * 2 + col("n_problems"),
          col("n_problems") * 2)
          .cast("double") / 1000000.0).as("pass_at_k"))
      .orderBy(col("k"))
  }

  private val passAtKOracle = {
    val h = "2000000*CAST(den - num AS HUGEINT) + den"
    val d2 = "2*CAST(den AS HUGEINT)"
    val m = "2*SUM(pass_e6) + COUNT(*)"
    val c2 = "2*COUNT(*)"
    s"""WITH p AS (SELECT o_custkey AS pid, COUNT(*) AS n,
       |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
       |         AS BIGINT) AS c
       |  FROM orders GROUP BY 1),
       |pk AS (SELECT k, n, c,
       |    CAST(list_reduce(list_transform(range(0, k), j -> n - c - j),
       |                     (a, b) -> a * b) AS BIGINT) AS num,
       |    CAST(list_reduce(list_transform(range(0, k), j -> n - j),
       |                     (a, b) -> a * b) AS BIGINT) AS den
       |  FROM p, UNNEST([${PassKs.mkString(", ")}]) AS t(k)
       |  WHERE n >= k),
       |pe AS (SELECT k,
       |    CASE WHEN n - c < k THEN CAST(1000000 AS BIGINT)
       |         ELSE CAST((($h) - ($h) % ($d2)) // ($d2) AS BIGINT)
       |    END AS pass_e6
       |  FROM pk)
       |SELECT k, COUNT(*) AS n_problems,
       |       CAST((($m) - ($m) % ($c2)) // ($c2) AS DOUBLE) / 1000000.0
       |         AS pass_at_k
       |FROM pe GROUP BY k ORDER BY k""".stripMargin
  }

  // ------------------------------------------------- best-of-n
  /** Best-of-N sampling audit (the rejection-sampling / BoN question
    * every RLHF and inference-time-compute write-up starts from:
    * if we draw n candidates and keep the best-scoring one, what
    * reward do we expect?): per language, the EXACT expected maximum
    * of n iid draws from the empirical reward distribution —
    * E[max_n] = Σ_i r_(i)·((i/m)ⁿ − ((i−1)/m)ⁿ) over the ascending
    * order statistics — at n ∈ {1, 4, 16}, plus the BoN lift
    * (E[max₁₆] − E[max₁], the number that says whether more samples
    * buy anything). Reward = the shipped [[TextOps.unigramLogprob]]
    * score (model-composition discipline: the bake-off can't drift).
    *
    * Exactness: rewards land on the e6 lattice (the query's own 6-dp
    * output, recovered as integers); each order-statistic term is
    * quantized to an integer (r_e6 · Δpow · 1e6) — identical doubles
    * round identically, negligible-mass tail terms round to 0 in both
    * engines — and summed on the integer lattice, so group order
    * can't move the result. Scale shape: the scorer's vocab join,
    * then ONE per-lang window (rank — the stream's natural partition
    * key) and a lang-sized rollup. */
  def bestOfN(spark: SparkSession, sfDir: String): DataFrame = {
    val r = TextOps.unigramLogprob(spark, sfDir)
      .select(col("doc_id"),
        round(col("avg_logprob") * 1e6, 0).cast("long").as("r_e6"))
      .join(Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("lang")), Seq("doc_id"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("r_e6"), col("doc_id"))
    val ranked = r
      .withColumn("i", row_number().over(w).cast("double"))
      .withColumn("m", count(lit(1))
        .over(Window.partitionBy(col("lang"))).cast("double"))
    def term(n: Int): Column =
      round(col("r_e6") * (pow(col("i") / col("m"), n) -
        pow((col("i") - 1) / col("m"), n)) * lit(1e6), 0).cast("long")
    ranked
      .withColumn("t1", term(1))
      .withColumn("t4", term(4))
      .withColumn("t16", term(16))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("m_docs"),
        sum(col("t1")).as("s1"), sum(col("t4")).as("s4"),
        sum(col("t16")).as("s16"))
      .select(col("lang"), col("m_docs"),
        round(col("s1").cast("double") / 1e12, 6).as("bon1"),
        round(col("s4").cast("double") / 1e12, 6).as("bon4"),
        round(col("s16").cast("double") / 1e12, 6).as("bon16"),
        round((col("s16") - col("s1")).cast("double") / 1e12, 6)
          .as("lift"))
      .orderBy(col("lang"))
  }

  private val bestOfNOracle = {
    def term(n: Int): String =
      s"CAST(ROUND(r_e6 * (pow(i / m, $n) - pow((i - 1) / m, $n)) * 1e6)" +
        " AS BIGINT)"
    s"""WITH ul AS (${TextOps.unigramLogprobOracle}),
       |r AS (SELECT ul.doc_id,
       |        CAST(ROUND(avg_logprob * 1e6) AS BIGINT) AS r_e6, d.lang
       |      FROM ul JOIN documents d USING (doc_id)),
       |rk AS (SELECT lang, r_e6,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY lang
       |           ORDER BY r_e6, doc_id) AS DOUBLE) AS i,
       |         CAST(COUNT(*) OVER (PARTITION BY lang) AS DOUBLE) AS m
       |       FROM r),
       |t AS (SELECT lang, ${term(1)} AS t1, ${term(4)} AS t4,
       |             ${term(16)} AS t16
       |      FROM rk)
       |SELECT lang, COUNT(*) AS m_docs,
       |       ROUND(CAST(SUM(t1) AS DOUBLE) / 1e12, 6) AS bon1,
       |       ROUND(CAST(SUM(t4) AS DOUBLE) / 1e12, 6) AS bon4,
       |       ROUND(CAST(SUM(t16) AS DOUBLE) / 1e12, 6) AS bon16,
       |       ROUND(CAST(SUM(t16) - SUM(t1) AS DOUBLE) / 1e12, 6) AS lift
       |FROM t GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ------------------------------------------------------ chrF
  /** chrF₂ (Popović WMT'15) — the character-n-gram F-score that
    * complements [[genEval]]'s token-level BLEU/ROUGE: tokenization-
    * free (the reason chrF won the WMT metric bake-offs on
    * morphology-rich languages), computed here over character 2- and
    * 3-grams of the space-stripped text, same candidate construction
    * as genEval (80% prefix, every 7th token substituted) so the two
    * metrics are directly comparable on the same "generation".
    *
    * The β=2 F-score reduces ALGEBRAICALLY to exact integers:
    * F_β = (1+β²)PR/(β²P+R) with P = m/c, R = m/r collapses to
    * 5m/(4r+c) at β=2 — so the entire metric is clipped-match counts
    * and two half-up e6 divisions; chrF macro-averages the orders on
    * the same lattice ((f₂+f₃+1) div 2). NO transcendental, NO float:
    * the only doubles BLEU needed (ln/exp of precisions) never appear.
    * Clipping is per document (the genEval rule): match(g) =
    * min(count_cand(g), count_ref(g)) within the doc.
    *
    * Scale shape: the genEval plan — char-gram streams explode from
    * bounded per-doc sequences (no windows needed at all here: grams
    * come from substring over a generated index, pure map-side), ONE
    * corpus exchange groups (doc, ord, gram), then a lang×2 rollup. */
  def chrf(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"))
      .withColumn("ref_s", expr("array_join(ws, '')"))
      // candidate: prefix ⌈0.8n⌉ tokens, every 7th (1-based) → SubTok;
      // transform's index is 0-based so position i+1 carries the rule
      .withColumn("cand_s", expr(
        s"""array_join(transform(slice(ws, 1, (4 * size(ws) + 4) div 5),
           |  (x, i) -> IF((i + 1) % $SubEvery = 0, '$SubTok', x)), '')"""
          .stripMargin.replace("\n", " ")))

    def grams(src: Column, ord: Int, isCand: Boolean) =
      base.select(col("doc_id"), col("lang"), lit(ord).as("ord"),
          explode(expr(s"transform(sequence(1, char_length(${src.toString
            }) - ${ord - 1}), i -> substring(${src.toString}, i, $ord))"))
            .as("gram"),
          lit(if (isCand) 1L else 0L).as("is_cand"),
          lit(if (isCand) 0L else 1L).as("is_ref"))
        .where(length(col(src.toString)) >= ord)

    val streams = Seq(
      grams(col("ref_s"), 2, isCand = false),
      grams(col("ref_s"), 3, isCand = false),
      grams(col("cand_s"), 2, isCand = true),
      grams(col("cand_s"), 3, isCand = true))
      .reduce(_ unionByName _)
    val perGram = streams
      .groupBy(col("doc_id"), col("lang"), col("ord"), col("gram"))
      .agg(sum(col("is_cand")).as("c"), sum(col("is_ref")).as("r"))
    val perOrd = perGram.groupBy(col("lang"), col("ord"))
      .agg(sum(least(col("c"), col("r"))).cast("long").as("m"),
        sum(col("c")).cast("long").as("c"),
        sum(col("r")).cast("long").as("r"))
      // F₂ = 5m/(4r+c) exactly, half-up on the e6 lattice
      .withColumn("f_e6", expr(
        "(2 * 5 * m * 1000000 + (4 * r + c)) div (2 * (4 * r + c))"))
    perOrd.groupBy(col("lang")).agg(
        sum(when(col("ord") === 2, col("m")).otherwise(0L)).cast("long").as("m2"),
        sum(when(col("ord") === 2, col("c")).otherwise(0L)).cast("long").as("c2"),
        sum(when(col("ord") === 2, col("r")).otherwise(0L)).cast("long").as("r2"),
        sum(when(col("ord") === 3, col("m")).otherwise(0L)).cast("long").as("m3"),
        sum(when(col("ord") === 3, col("c")).otherwise(0L)).cast("long").as("c3"),
        sum(when(col("ord") === 3, col("r")).otherwise(0L)).cast("long").as("r3"),
        sum(when(col("ord") === 2, col("f_e6")).otherwise(0L)).cast("long").as("f2_e6"),
        sum(when(col("ord") === 3, col("f_e6")).otherwise(0L)).cast("long").as("f3_e6"))
      .withColumn("chrf_e6", expr("(f2_e6 + f3_e6 + 1) div 2"))
      .orderBy(col("lang"))
  }

  private val chrfOracle =
    s"""WITH doc AS (
       |  SELECT doc_id, lang, replace(text, ' ', '') AS ref_s,
       |         array_to_string(list_transform(
       |           list_slice(string_split(text, ' '), 1,
       |             (4 * len(string_split(text, ' ')) + 4) // 5),
       |           (x, i) -> CASE WHEN i % $SubEvery = 0 THEN '$SubTok'
       |                          ELSE x END), '') AS cand_s
       |  FROM documents),
       |streams AS (
       |  SELECT doc_id, lang, o.ord,
       |         substr(s.s, CAST(i AS INTEGER), o.ord) AS gram,
       |         s.is_cand, s.is_ref
       |  FROM doc,
       |       LATERAL (VALUES (ref_s, 0, 1), (cand_s, 1, 0))
       |         AS s(s, is_cand, is_ref),
       |       LATERAL (VALUES (2), (3)) AS o(ord),
       |       LATERAL unnest(range(1, len(s.s) - o.ord + 2)) AS g(i)
       |  WHERE len(s.s) >= o.ord),
       |per_gram AS (
       |  SELECT doc_id, lang, ord, gram,
       |         SUM(is_cand) AS c, SUM(is_ref) AS r
       |  FROM streams GROUP BY 1, 2, 3, 4),
       |per_ord AS (
       |  SELECT lang, ord,
       |         CAST(SUM(LEAST(c, r)) AS BIGINT) AS m,
       |         CAST(SUM(c) AS BIGINT) AS c,
       |         CAST(SUM(r) AS BIGINT) AS r
       |  FROM per_gram GROUP BY 1, 2),
       |f AS (
       |  SELECT *, CAST((2 * 5 * m * 1000000 + (4 * r + c))
       |                 // (2 * (4 * r + c)) AS BIGINT) AS f_e6
       |  FROM per_ord)
       |SELECT lang,
       |  CAST(SUM(CASE WHEN ord = 2 THEN m ELSE 0 END) AS BIGINT) AS m2,
       |  CAST(SUM(CASE WHEN ord = 2 THEN c ELSE 0 END) AS BIGINT) AS c2,
       |  CAST(SUM(CASE WHEN ord = 2 THEN r ELSE 0 END) AS BIGINT) AS r2,
       |  CAST(SUM(CASE WHEN ord = 3 THEN m ELSE 0 END) AS BIGINT) AS m3,
       |  CAST(SUM(CASE WHEN ord = 3 THEN c ELSE 0 END) AS BIGINT) AS c3,
       |  CAST(SUM(CASE WHEN ord = 3 THEN r ELSE 0 END) AS BIGINT) AS r3,
       |  CAST(SUM(CASE WHEN ord = 2 THEN f_e6 ELSE 0 END) AS BIGINT) AS f2_e6,
       |  CAST(SUM(CASE WHEN ord = 3 THEN f_e6 ELSE 0 END) AS BIGINT) AS f3_e6,
       |  CAST((SUM(CASE WHEN ord = 2 THEN f_e6 ELSE 0 END)
       |        + SUM(CASE WHEN ord = 3 THEN f_e6 ELSE 0 END) + 1) // 2
       |       AS BIGINT) AS chrf_e6
       |FROM f GROUP BY lang ORDER BY lang""".stripMargin

  // ----------------------------------------------------------- BLEU
  /** Corpus BLEU-4 (Papineni et al. ACL'02) per language — the other
    * half of the MT-metric pair beside [[chrf]]: token n-gram
    * precision with per-document clipping, the brevity penalty, and
    * the geometric mean over orders 1..4. Same candidate construction
    * as genEval/chrf (80% prefix, every [[SubEvery]]-th token
    * substituted) so all three metrics grade the same "generation".
    *
    * Exactness: clipped matches m_n and candidate totals c_n are
    * exact corpus integers; the transcendental step chrf could avoid
    * algebraically is BLEU's DEFINITION, so it runs ONCE per quantity
    * on the lattice discipline: each ln(m_n/c_n) of two exact
    * integers quantizes straight to e6 (the logregLoss pattern), the
    * brevity-penalty exponent 1−r/c quantizes to e6, and one exp of
    * the exact-integer combination lands on the final e6 value. Any
    * order with zero matches makes BLEU exactly 0 (the standard
    * convention), guarded before ln.
    *
    * Scale shape: the chrf plan — 8 gram streams (cand/ref × n=1..4)
    * explode map-side from bounded per-doc arrays, ONE corpus
    * exchange keyed (doc, ord, gram) clips within the pair, a lang-
    * sized rollup carries only integers. */
  def bleu(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"))
      .withColumn("cs", expr(
        s"""transform(slice(ws, 1, (4 * size(ws) + 4) div 5),
           |  (x, i) -> IF((i + 1) % $SubEvery = 0, '$SubTok', x))"""
          .stripMargin.replace("\n", " ")))

    // Short-doc guard lives INSIDE the expression (the crawlGrams
    // pattern): for size < ord, sequence(1, size-ord+1) would count
    // DOWN through index 0 and slice(src, 0, ord) throws — a filter
    // after the explode only saves us if Catalyst pushes it below
    // the Generate, and correctness must not depend on an optimizer
    // rule firing.
    def grams(src: String, ord: Int, isCand: Boolean) =
      base.select(col("doc_id"), col("lang"), lit(ord).as("ord"),
          explode(when(size(col(src)) >= ord,
            expr(s"transform(sequence(1, size($src) - ${ord - 1}), " +
              s"i -> array_join(slice($src, i, $ord), ' '))"))
            .otherwise(array().cast("array<string>"))).as("gram"),
          lit(if (isCand) 1L else 0L).as("is_cand"),
          lit(if (isCand) 0L else 1L).as("is_ref"))

    val streams = (1 to 4).flatMap(n =>
      Seq(grams("cs", n, isCand = true), grams("ws", n, isCand = false)))
      .reduce(_ unionByName _)
    val perGram = streams
      .groupBy(col("doc_id"), col("lang"), col("ord"), col("gram"))
      .agg(sum(col("is_cand")).as("c"), sum(col("is_ref")).as("r"))
    val perLang = perGram.groupBy(col("lang"), col("ord"))
      .agg(sum(least(col("c"), col("r"))).cast("long").as("m"),
        sum(col("c")).cast("long").as("c"))
    val lens = base.groupBy(col("lang"))
      .agg(sum(size(col("cs"))).cast("long").as("cand_len"),
        sum(size(col("ws"))).cast("long").as("ref_len"))
    val mcAggs = (1 to 4).flatMap(n => Seq(
      sum(when(col("ord") === n, col("m")).otherwise(0L)).cast("long")
        .as(s"m$n"),
      sum(when(col("ord") === n, col("c")).otherwise(0L)).cast("long")
        .as(s"c$n")))
    val wide = perLang.groupBy(col("lang"))
      .agg(mcAggs.head, mcAggs.tail: _*)
      .join(lens, Seq("lang"))
    val lnSum = (1 to 4).map(n =>
      expr(s"CAST(round(ln(CAST(m$n AS DOUBLE) / c$n) * 1000000.0, 0) " +
        "AS BIGINT)")).reduce(_ + _)
    wide
      .withColumn("bp_e6", when(col("cand_len") >= col("ref_len"), 0L)
        .otherwise(expr("CAST(round((1.0 - CAST(ref_len AS DOUBLE) " +
          "/ cand_len) * 1000000.0, 0) AS BIGINT)")))
      .withColumn("bleu_e6",
        when((1 to 4).map(n => col(s"m$n") === 0L).reduce(_ || _), 0L)
          .otherwise((round(
            exp((lnSum.cast("double") / 4.0 + col("bp_e6"))
              / lit(1000000.0)) * 1000000.0, 0)).cast("long")))
      .select(Seq(col("lang")) ++
        (1 to 4).flatMap(n => Seq(col(s"m$n"), col(s"c$n"))) ++
        Seq(col("cand_len"), col("ref_len"), col("bp_e6"),
          col("bleu_e6")): _*)
      .orderBy(col("lang"))
  }

  private val bleuOracle = {
    val gramsSql = (1 to 4).flatMap(n => Seq(
      s"""SELECT doc_id, lang, $n AS ord,
         |  array_to_string(list_slice(cs, CAST(i AS INTEGER),
         |    CAST(i AS INTEGER) + ${n - 1}), ' ') AS gram,
         |  1 AS is_cand, 0 AS is_ref
         |FROM doc, unnest(range(1, len(cs) - ${n - 2})) AS t(i)
         |WHERE len(cs) >= $n""".stripMargin,
      s"""SELECT doc_id, lang, $n AS ord,
         |  array_to_string(list_slice(ws, CAST(i AS INTEGER),
         |    CAST(i AS INTEGER) + ${n - 1}), ' ') AS gram,
         |  0, 1
         |FROM doc, unnest(range(1, len(ws) - ${n - 2})) AS t(i)
         |WHERE len(ws) >= $n""".stripMargin)).mkString("\nUNION ALL\n")
    val mcCols = (1 to 4).flatMap(n => Seq(
      s"CAST(SUM(CASE WHEN ord = $n THEN m ELSE 0 END) AS BIGINT) AS m$n",
      s"CAST(SUM(CASE WHEN ord = $n THEN c ELSE 0 END) AS BIGINT) AS c$n"))
      .mkString(",\n|  ")
    val lnSum = (1 to 4).map(n =>
      s"CAST(ROUND(ln(CAST(m$n AS DOUBLE) / c$n) * 1000000.0) AS BIGINT)")
      .mkString(" + ")
    val anyZero = (1 to 4).map(n => s"m$n = 0").mkString(" OR ")
    s"""WITH doc AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS ws,
       |    list_transform(list_slice(string_split(text, ' '), 1,
       |      (4 * len(string_split(text, ' ')) + 4) // 5),
       |      (x, i) -> CASE WHEN i % $SubEvery = 0 THEN '$SubTok'
       |                     ELSE x END) AS cs
       |  FROM documents),
       |streams AS ($gramsSql),
       |pg AS (SELECT doc_id, lang, ord, gram,
       |         SUM(is_cand) AS c, SUM(is_ref) AS r
       |       FROM streams GROUP BY 1, 2, 3, 4),
       |pl AS (SELECT lang, ord, SUM(LEAST(c, r)) AS m, SUM(c) AS c
       |       FROM pg GROUP BY 1, 2),
       |lens AS (SELECT lang, CAST(SUM(len(cs)) AS BIGINT) AS cand_len,
       |           CAST(SUM(len(ws)) AS BIGINT) AS ref_len
       |         FROM doc GROUP BY 1),
       |wide AS (SELECT lang,
       |  $mcCols
       |  FROM pl GROUP BY lang),
       |fin AS (SELECT wide.*, cand_len, ref_len,
       |    CASE WHEN cand_len >= ref_len THEN 0
       |         ELSE CAST(ROUND((1.0 - CAST(ref_len AS DOUBLE) / cand_len)
       |                   * 1000000.0) AS BIGINT) END AS bp_e6
       |  FROM wide JOIN lens USING (lang))
       |SELECT lang, m1, c1, m2, c2, m3, c3, m4, c4, cand_len, ref_len,
       |  bp_e6,
       |  CASE WHEN $anyZero THEN 0
       |       ELSE CAST(ROUND(exp((CAST($lnSum AS DOUBLE) / 4.0 + bp_e6)
       |                 / 1000000.0) * 1000000.0) AS BIGINT) END AS bleu_e6
       |FROM fin ORDER BY lang""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_best_of_n" -> (bestOfN _),
    "q_gen_eval" -> (genEval _),
    "q_chrf" -> (chrf _),
    "q_bleu" -> (bleu _),
    "q_pass_at_k" -> (passAtK _)
  )

  def oracles: Map[String, String] = Map(
    "q_best_of_n" -> bestOfNOracle,
    "q_gen_eval" -> genEvalOracle,
    "q_chrf" -> chrfOracle,
    "q_bleu" -> bleuOracle,
    "q_pass_at_k" -> passAtKOracle
  )
}

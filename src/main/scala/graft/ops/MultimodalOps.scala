package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing: media payloads ride through the engine as
  * opaque `binary` columns with typed metadata, exactly how image/audio
  * blobs travel in a lakehouse training pipeline. Header decode
  * ([[imageMeta]], [[audioMeta]]) and full pixel decode
  * ([[pixelStats]], via the JDK's own ImageIO) are REAL — they parse
  * actual spec-valid PNG/BMP/GIF/JPEG/WAV bytes with no external codec
  * dependency. Only the generic feature-extraction stage
  * ([[decodeStub]]) remains a deterministic fake standing in for
  * codecs beyond the JDK (this container ships no image libs — see the
  * builder brief); everything Spark-side is real and tested: the
  * schema, the binary encoding, the partition-parallel `mapPartitions`
  * batch shape a JNI/FFI decoder would plug into, and the metadata
  * aggregation.
  */
object MultimodalOps {

  /** A decoded media record — what the per-partition decoder emits. */
  final case class MediaFeature(
      doc_id: Long,
      byte_len: Long,
      width: Int,
      height: Int,
      n_frames: Int,
      feature: Array[Float])

  /** STUB decoder: deterministic fake in place of an image/audio codec.
    * Signature and batch shape are the real contract: one call per
    * partition, an iterator of (id, bytes) in, an iterator of decoded
    * features out — a libjpeg/ffmpeg binding would replace only the body.
    */
  def decodeStub(docId: Long, bytes: Array[Byte]): MediaFeature = {
    val len = bytes.length.toLong
    val w = (len % 640).toInt + 1
    val h = (len % 480).toInt + 1
    val frames = (len / 100).toInt + 1
    // fake 8-dim feature: byte histogram moments, deterministic
    val feat = new Array[Float](8)
    var i = 0
    while (i < bytes.length) {
      feat(bytes(i) & 0x7) += 1.0f
      i += 1
    }
    MediaFeature(docId, len, w, h, frames, feat)
  }

  /** The distributed decode pass: binary column → mapPartitions(decoder).
    * Runs entirely on executors; no driver collect. */
  def decodeAll(spark: SparkSession, sfDir: String): Dataset[MediaFeature] = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => decodeStub(id, bytes) })
  }

  /** Metadata aggregation over the binary payloads — the SQL-expressible
    * part of the decode (byte length and the stub's arithmetic), checked
    * against DuckDB. The `media` binary column is materialized mid-plan to
    * prove binary columns flow through projections.
    */
  def mediaMeta(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        col("text").cast("binary").as("media"))
      .select(col("doc_id"), col("source"),
        length(col("media")).as("byte_len"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("byte_len")).cast("long").as("total_bytes"),
        max(col("byte_len")).cast("long").as("max_bytes"),
        sum(pmod(col("byte_len"), lit(640)) + 1).cast("long").as("sum_width"),
        Parity.stableAvg((col("byte_len") / lit(100)).cast("long") + 1)
          .as("avg_frames"))
      .orderBy(col("source"))

  private val mediaMetaOracle =
    s"""SELECT source, COUNT(*) AS n_media,
       |       CAST(SUM(byte_len) AS BIGINT) AS total_bytes,
       |       CAST(MAX(byte_len) AS BIGINT) AS max_bytes,
       |       CAST(SUM(byte_len % 640 + 1) AS BIGINT) AS sum_width,
       |       ${Parity.stableAvgSql("byte_len // 100 + 1")} AS avg_frames
       |FROM (SELECT doc_id, source,
       |             octet_length(CAST(text AS BLOB)) AS byte_len
       |      FROM documents)
       |GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------------------
  /** The decode pass consumed end-to-end: [[decodeAll]]'s mapPartitions
    * output (dimensions, frame counts, and the 8-bin byte histogram
    * feature) aggregated globally. The oracle recomputes every number
    * from the raw text in SQL — the histogram bins via per-character
    * occurrence counts (byte value ≡ code point for this ASCII corpus;
    * counted with LENGTH-REPLACE chains over ' ' and a–z, which covers
    * the corpus alphabet — any char outside it would desync the hash and
    * surface loudly). Feature sums stay exact: the bins are integral
    * float counts far below 2^24.
    */
  def mediaDecode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val feats = decodeAll(spark, sfDir).toDF()
    val binSums = (0 until 8).map(i =>
      sum(element_at(col("feature"), i + 1).cast("double")).cast("long")
        .as(s"f$i"))
    val aggs = Seq(
      count(lit(1)).as("n_docs"),
      sum(col("byte_len")).cast("long").as("total_bytes"),
      sum(col("width")).cast("long").as("sum_width"),
      sum(col("height")).cast("long").as("sum_height"),
      sum(col("n_frames")).cast("long").as("sum_frames")) ++ binSums
    feats.groupBy().agg(aggs.head, aggs.tail: _*)
  }

  private val mediaDecodeOracle: String = {
    val alphabet = ' ' +: ('a' to 'z')
    def binCountSql(b: Int): String = {
      val chars = alphabet.filter(c => (c.toInt & 7) == b)
      chars.map(c => s"(LENGTH(text) - LENGTH(REPLACE(text, '$c', '')))")
        .mkString(" + ")
    }
    val bins = (0 until 8).map(b =>
      s"CAST(SUM(${binCountSql(b)}) AS BIGINT) AS f$b").mkString(",\n       |       ")
    s"""SELECT COUNT(*) AS n_docs,
       |       CAST(SUM(blen) AS BIGINT) AS total_bytes,
       |       CAST(SUM(blen % 640 + 1) AS BIGINT) AS sum_width,
       |       CAST(SUM(blen % 480 + 1) AS BIGINT) AS sum_height,
       |       CAST(SUM(blen // 100 + 1) AS BIGINT) AS sum_frames,
       |       $bins
       |FROM (SELECT text, octet_length(CAST(text AS BLOB)) AS blen
       |      FROM documents)""".stripMargin
  }

  // ------------------------------------------------------------------
  /** Frame sampling + resize planning over the media metadata: every
    * 5th frame of each clip becomes a row (`explode(sequence(...))` —
    * the generator a real sampler feeds to the decoder), and the
    * resize-to-fit-224 target dimensions are computed in pure integer
    * arithmetic (aspect preserved via integer scaling by the larger
    * side), so the oracle is exact with no float noise. At scale the
    * explode happens AFTER per-clip metadata is derived — row count
    * multiplies only by frames actually sampled, never by raw bytes.
    */
  def frameSample(spark: SparkSession, sfDir: String): DataFrame = {
    val meta = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        length(col("text").cast("binary")).as("blen"))
      .select(col("doc_id"), col("source"),
        (col("blen") % 640 + 1).cast("long").as("width"),
        (col("blen") % 480 + 1).cast("long").as("height"),
        expr("CAST(blen div 100 AS BIGINT)").as("max_frame"))
    val resized = meta
      .withColumn("longest", greatest(col("width"), col("height")))
      // `div` = integer division (a `/` would be double division in Spark)
      .withColumn("new_w", expr("CAST(width * 224 div longest AS BIGINT)"))
      .withColumn("new_h", expr("CAST(height * 224 div longest AS BIGINT)"))
    resized
      .select(col("doc_id"), col("source"), col("new_w"), col("new_h"),
        explode(sequence(lit(0L), col("max_frame"), lit(5L))).as("frame_idx"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sampled_frames"),
        countDistinct(col("doc_id")).as("n_clips"),
        sum(col("frame_idx")).cast("long").as("sum_frame_idx"),
        sum(col("new_w")).cast("long").as("sum_new_w"),
        sum(col("new_h")).cast("long").as("sum_new_h"))
      .orderBy(col("source"))
  }

  private val frameSampleOracle =
    """SELECT source, COUNT(*) AS n_sampled_frames,
      |       COUNT(DISTINCT doc_id) AS n_clips,
      |       CAST(SUM(frame_idx) AS BIGINT) AS sum_frame_idx,
      |       CAST(SUM(new_w) AS BIGINT) AS sum_new_w,
      |       CAST(SUM(new_h) AS BIGINT) AS sum_new_h
      |FROM (
      |  SELECT doc_id, source,
      |         width * 224 // GREATEST(width, height) AS new_w,
      |         height * 224 // GREATEST(width, height) AS new_h,
      |         unnest(generate_series(0, max_frame, 5)) AS frame_idx
      |  FROM (SELECT doc_id, source,
      |               octet_length(CAST(text AS BLOB)) % 640 + 1 AS width,
      |               octet_length(CAST(text AS BLOB)) % 480 + 1 AS height,
      |               octet_length(CAST(text AS BLOB)) // 100 AS max_frame
      |        FROM documents))
      |GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------------------
  /** Aspect-ratio bucketing — the image-training batching technique
    * (SDXL-style): each image is assigned to the nearest ratio in a
    * fixed ladder so a batch shares ONE target resolution and no image
    * is catastrophically cropped/padded. Per bucket: the member count
    * and the target (w, h) at a fixed 224² pixel budget, snapped down
    * to /16 multiples (conv-stride alignment). Everything is exact
    * integer arithmetic on the e3 ratio lattice — nearest-ladder is an
    * integer argmin (ties to the wider ratio deliberately: landscape
    * crops lose less), and target dims are floor(sqrt)·snap on exact
    * ints — so the oracle is float-noise-free.
    *
    * Scale shape: one map-side projection (ratio, bucket, dims) + one
    * ladder-sized aggregate. The bucket column is exactly what a
    * training dataloader would `partitionBy` on at write time, so each
    * shard holds same-shape tensors.
    */
  private val RatioLadderE3 = Seq(500L, 750L, 1000L, 1333L, 2000L)
  private val PixelBudget = 224L * 224L

  /** Synthetic per-doc image geometry (width, height, e3 aspect ratio)
    * from the payload byte length — the ×7/×13 multipliers spread the
    * derived ratios across the whole ladder (plain mods collapse to
    * ratio 1.0 for every short doc). Factored so [[aspectBuckets]] and
    * [[pairCuration]] gate on the IDENTICAL projection, with
    * [[synthGeometrySql]] its oracle rendering. */
  private[graft] def synthGeometry(docs: DataFrame): DataFrame =
    docs
      .withColumn("width",
        (length(col("text").cast("binary")) * 7 % 640 + 1).cast("long"))
      .withColumn("height",
        (length(col("text").cast("binary")) * 13 % 480 + 1).cast("long"))
      .withColumn("r_e3", expr("CAST(width * 1000 div height AS BIGINT)"))

  private[ops] val synthGeometrySql: String =
    "octet_length(CAST(text AS BLOB)) * 7 % 640 + 1 AS width, " +
      "octet_length(CAST(text AS BLOB)) * 13 % 480 + 1 AS height"

  def aspectBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val meta = synthGeometry(Tables.documents(spark, sfDir))
      .select(col("doc_id"), col("width"), col("height"), col("r_e3"))
    // integer argmin over the 5-rung ladder; ties break to the WIDER
    // ratio (the later rung) via strict < on the best-so-far distance
    val bucket = RatioLadderE3.tail.foldLeft(
      lit(RatioLadderE3.head)) { (best, rung) =>
      when(abs(col("r_e3") - rung) <= abs(col("r_e3") - best), lit(rung))
        .otherwise(best)
    }
    meta.withColumn("bucket_e3", bucket)
      .withColumn("target_h",
        expr(s"CAST(floor(sqrt($PixelBudget * 1000.0 / bucket_e3)) div 16 * 16 AS BIGINT)"))
      .withColumn("target_w",
        expr("CAST(target_h * bucket_e3 div 1000 div 16 * 16 AS BIGINT)"))
      .groupBy(col("bucket_e3"), col("target_w"), col("target_h"))
      .agg(count(lit(1)).as("n_images"),
        min(col("r_e3")).as("min_r_e3"),
        max(col("r_e3")).as("max_r_e3"))
      .orderBy(col("bucket_e3"))
  }

  private val aspectBucketsOracle = {
    // same fold, rendered as nested CASE: rung replaces best when its
    // distance is <= the best-so-far distance
    val bucketSql = RatioLadderE3.tail.foldLeft(
      s"${RatioLadderE3.head}") { (best, rung) =>
      s"CASE WHEN ABS(r_e3 - $rung) <= ABS(r_e3 - ($best)) THEN $rung ELSE $best END"
    }
    s"""WITH m AS (
       |  SELECT doc_id,
       |         octet_length(CAST(text AS BLOB)) * 7 % 640 + 1 AS width,
       |         octet_length(CAST(text AS BLOB)) * 13 % 480 + 1 AS height
       |  FROM documents),
       |r AS (SELECT doc_id, width * 1000 // height AS r_e3 FROM m),
       |b AS (SELECT doc_id, r_e3,
       |             CAST($bucketSql AS BIGINT) AS bucket_e3 FROM r),
       |t AS (
       |  SELECT doc_id, r_e3, bucket_e3,
       |         CAST(FLOOR(SQRT($PixelBudget * 1000.0 / bucket_e3)) AS BIGINT)
       |           // 16 * 16 AS target_h
       |  FROM b)
       |SELECT bucket_e3,
       |       target_h * bucket_e3 // 1000 // 16 * 16 AS target_w,
       |       target_h,
       |       COUNT(*) AS n_images,
       |       CAST(MIN(r_e3) AS BIGINT) AS min_r_e3,
       |       CAST(MAX(r_e3) AS BIGINT) AS max_r_e3
       |FROM t GROUP BY bucket_e3, target_w, target_h
       |ORDER BY bucket_e3""".stripMargin
  }

  // ------------------------------------------------- perceptual near-dup
  /** Perceptual-hash near-duplicate detection over the media payloads —
    * the image-dedup leg of the multimodal family (what aHash/pHash do
    * for crawled images, run here on the stub decode's byte-histogram
    * features): each payload reduces to a 27-bit structural hash (bit b
    * set iff histogram bin b — one per byte value mod 32; space and
    * a–z for this corpus — holds more than its 1/27 uniform share),
    * and near-dups are pairs within Hamming distance 1, found by two
    * LSH BANDS (low 14 / high 13 bits: one differing bit leaves the
    * other band equal — pigeonhole — so ≤1 is fully covered; the
    * [[graft.ops.DedupOps]] SimHash construction at multimodal scale).
    * The hash runs in the same mapPartitions batch shape as
    * [[decodeAll]] — swap the histogram for DCT coefficients when a
    * real codec plugs in; the banding, verify join, and report are
    * codec-agnostic. (This statistically-uniform word-salad fixture
    * still collides heavily at hamming 0 — real corpora separate far
    * better; the injected cross-source duplicates are all there.)
    *
    * Scale shape: hashing is map-side; candidates form on band-value
    * equi-joins (never an all-pairs scan); the Hamming verify touches
    * only same-bucket pairs; `bit_count(xor)` is codegen'd integer
    * math. The DuckDB oracle recomputes the histogram hash from raw
    * text by character arithmetic and finds pairs with a literal
    * OR-of-bands join — different algorithm, same pairs.
    */
  /** Per-doc 27-bit perceptual hash over the payload bytes — the
    * mapPartitions histogram hash [[phashNearDup]] documents, factored
    * so [[pairCuration]]'s image-dedup stage reuses the IDENTICAL
    * signature; [[ahashSqlExpr]] is its oracle rendering. */
  private[graft] def withAhash(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val bins = new Array[Long](32)
        var i = 0
        while (i < bytes.length) { bins(bytes(i) & 0x1F) += 1; i += 1 }
        var h = 0L
        var b = 0
        while (b < 27) {
          if (bins(b) * 27 > bytes.length) h |= (1L << b)
          b += 1
        }
        (id, h)
      }).toDF("doc_id", "ahash")
  }

  /** DuckDB rendering of the 27-bit histogram hash: bin per byte%32 —
    * ' '→0, 'a'..'z'→1..26, one character each for this corpus. */
  private[ops] val ahashSqlExpr: String = {
    val alphabet = ' ' +: ('a' to 'z')
    alphabet.zipWithIndex.map { case (ch, b) =>
      s"(CASE WHEN (LENGTH(text) - LENGTH(REPLACE(text, '$ch', ''))) * 27 " +
        s"> LENGTH(text) THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
  }

  def phashNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val hashed = withAhash(spark, Tables.documents(spark, sfDir))
    val bands = hashed.select(col("doc_id"), col("ahash"),
      explode(expr("array(struct(0 AS bi, ahash % 16384 AS bv), " +
        "struct(1 AS bi, shiftright(ahash, 14) AS bv))")).as("x"))
      .select(col("doc_id"), col("ahash"), col("x.bi"), col("x.bv"))
    val cand = bands.select(col("doc_id").as("d1"), col("ahash").as("h1"),
        col("bi"), col("bv"))
      .join(bands.select(col("doc_id").as("d2"), col("ahash").as("h2"),
        col("bi"), col("bv")), Seq("bi", "bv"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("h1"), col("h2")).distinct()
    cand.withColumn("hamming", bit_count(expr("h1 ^ h2")))
      .filter(col("hamming") <= 1)
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("d1")).as("n_left_docs"))
      .orderBy(col("hamming"))
  }

  private val phashNearDupOracle: String = {
    val hashExpr = ahashSqlExpr
    s"""WITH h AS (SELECT doc_id, $hashExpr AS ahash FROM documents),
       |cand AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, a.ahash AS h1, b.ahash AS h2
       |  FROM h a JOIN h b ON a.doc_id < b.doc_id AND (
       |       a.ahash % 16384 = b.ahash % 16384
       |    OR a.ahash // 16384 = b.ahash // 16384))
       |SELECT CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming,
       |       COUNT(*) AS n_pairs,
       |       COUNT(DISTINCT d1) AS n_left_docs
       |FROM cand
       |WHERE bit_count(xor(h1, h2)) <= 1
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------ pair curation
  /** Cross-modal image–text pair curation funnel — the LAION-style
    * filter ladder (Schuhmann et al., NeurIPS'22) over (caption,
    * image) pairs, as a stage ledger like
    * [[graft.ops.CurationOps.pipelineLedger]]: raw pairs → caption
    * quality gate → image geometry gate (minimum dimension + aspect
    * ratio within the trainable bucket ladder's span) → image
    * near-dup removal (keeper = min doc_id per perceptual hash among
    * survivors). Every gate REUSES the factored predicate its
    * standalone operator reports on — [[graft.ops.TextOps.qualityKeep]]
    * verbatim, [[synthGeometry]]'s projection and [[aspectBuckets]]'
    * ladder constants, [[withAhash]]'s signature — so the funnel is
    * the composition of already-verified stages, not re-implementations.
    *
    * Scale shape: the caption and geometry gates are map-side column
    * math; the dedup stage is one hash groupBy + a semi-join back on
    * doc_id; stage totals are one-row aggregates unioned and the raw
    * total rides the A6 broadcast crossJoin. Fractions are IEEE-exact
    * long/long doubles rounded at 6 dp.
    */
  private val PairMinDim = 64L

  /** The image-geometry gate, factored so the batch funnel and the
    * streaming twin apply the IDENTICAL predicate. */
  private def pairGeomOk: Column =
    col("width") >= PairMinDim && col("height") >= PairMinDim &&
      col("r_e3").between(RatioLadderE3.head, RatioLadderE3.last)

  /** Deterministic per-doc image AND caption embeddings (dim 4,
    * integer components in −4..5 cast to float) — the synthetic stand-
    * in for a CLIP encoder pair, key-derived like [[synthGeometry]]:
    * the image side from doc_id, the caption side from the text's
    * char/token counts, so the two sides AGREE for some docs and
    * disagree for others and the cosine gate has real selectivity.
    * Small integer components keep every float op exact (ints ≪ 2²⁴),
    * which is what lets the threshold compare run on an integer
    * lattice with zero cross-engine float risk. */
  private[graft] def synthEmbedding(docs: DataFrame): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    val nTok = size(split(col("text"), " "))
    val img = array(Seq(3, 5, 7, 11).zipWithIndex.map { case (p, i) =>
      ((col("doc_id") * p + i) % 10 - 4).cast("float")
    }: _*)
    val cap = array((0 until 4).map { i =>
      ((length(col("text")) * (i + 2) + nTok * 3 + i) % 10 - 4)
        .cast("float")
    }: _*)
    docs.withColumn("img_vec", img).withColumn("cap_vec", cap)
  }

  /** Oracle rendering of [[synthEmbedding]]'s components (expects
    * doc_id, text, n_tok in scope): i0..i3 image, c0..c3 caption. */
  private[ops] val synthEmbeddingSql: String = {
    val img = Seq(3, 5, 7, 11).zipWithIndex.map { case (p, i) =>
      s"(doc_id * $p + $i) % 10 - 4 AS i$i"
    }
    val cap = (0 until 4).map { i =>
      s"(length(text) * ${i + 2} + n_tok * 3 + $i) % 10 - 4 AS c$i"
    }
    (img ++ cap).mkString(", ")
  }

  /** CLIP-style image↔caption agreement gate: cosine(img, cap) ≥ τ
    * with τ = 0.28 (the LAION-400M English-filter operating point),
    * decided WITHOUT float division on the integer lattice:
    * dot > 0 ∧ dot²·10⁴ ≥ 784·|i|²·|c|² (784 = τ²·10⁴). The dots are
    * [[graft.functions.VectorExprs]]' `vec_dot` over the float
    * vectors — the same codegen kernel the retrieval family ranks
    * with — exact here because the components are small integers. */
  private val ClipTauE4Sq = 784L

  private def pairClipOk: Column = {
    val dot = expr("CAST(vec_dot(img_vec, cap_vec) AS BIGINT)")
    val ni = expr("CAST(vec_dot(img_vec, img_vec) AS BIGINT)")
    val nc = expr("CAST(vec_dot(cap_vec, cap_vec) AS BIGINT)")
    dot > 0 && dot * dot * lit(10000L) >= ni * nc * lit(ClipTauE4Sq)
  }

  /** [[pairClipOk]] in DuckDB terms (expects i0..i3/c0..c3 in scope). */
  private[ops] val pairClipOkSql: String = {
    val dot = (0 until 4).map(i => s"i$i*c$i").mkString(" + ")
    val ni = (0 until 4).map(i => s"i$i*i$i").mkString(" + ")
    val nc = (0 until 4).map(i => s"c$i*c$i").mkString(" + ")
    s"(($dot) > 0 AND ($dot)*($dot)*10000 >= ($ni)*($nc)*$ClipTauE4Sq)"
  }

  /** Gate annotation for the streaming twin: the funnel's caption,
    * geometry, and CLIP-agreement predicates as boolean columns over
    * arriving pairs. */
  private[graft] def pairGated(docs: DataFrame): DataFrame =
    synthEmbedding(synthGeometry(docs))
      .withColumn("keep_q", TextOps.qualityKeep)
      .withColumn("geom_ok", pairGeomOk)
      .withColumn("clip_ok", pairClipOk)

  /** The funnel's five stage frames (raw, caption-gated,
    * geometry-gated, CLIP-gated, deduped) — [[pairCuration]] reports
    * their sizes; the streaming spec replays against them. */
  private[graft] def pairStages(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    // compose pairGated — the ONE definition of the gates, shared with
    // the streaming twin — rather than re-deriving the predicates
    val base = pairGated(Tables.documents(spark, sfDir))
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
    val q = base.filter(col("keep_q"))
    val g = q.filter(col("geom_ok"))
    val c = g.filter(col("clip_ok"))
    val keepers = withAhash(spark, c)
      .groupBy(col("ahash")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val d = c.join(keepers, Seq("doc_id"), "left_semi")
    (base, q, g, c, d)
  }

  def pairCuration(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE corpus pass, not one per stage: the gates are boolean
    // columns (the same factored pairGated the stage frames and the
    // streaming twin use), so every stage tally is a conditional sum
    // in a single aggregate; the only join is the dedup keeper
    // decision. The per-stage-frame shape ([[pairStages]]) re-scans
    // the corpus once per stage — measurably slower even at sf0.1
    // (1.6 → 0.9 s) and 6 passes instead of 2 at 100 TB.
    val base = pairGated(Tables.documents(spark, sfDir))
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
    val c = base.filter(col("keep_q") && col("geom_ok") && col("clip_ok"))
    val keepers = withAhash(spark, c)
      .groupBy(col("ahash")).agg(min(col("doc_id")).as("doc_id"))
      .withColumn("is_keeper", lit(true))
    val s1 = col("keep_q")
    val s2 = s1 && col("geom_ok")
    val s3 = s2 && col("clip_ok")
    val s4 = s3 && col("is_keeper").isNotNull
    def n(p: Column) = sum(when(p, 1L).otherwise(0L))
    // no otherwise(): an EMPTY stage must sum to NULL (oracle parity —
    // DuckDB's SUM over the empty stage CTE is NULL, not 0)
    def t(p: Column) = sum(when(p, col("n_tok")))
    base.join(keepers.select(col("doc_id"), col("is_keeper")),
        Seq("doc_id"), "left")
      .agg(count(lit(1)).as("n0"), sum(col("n_tok")).as("t0"),
        n(s1).as("n1"), t(s1).as("t1"), n(s2).as("n2"), t(s2).as("t2"),
        n(s3).as("n3"), t(s3).as("t3"), n(s4).as("n4"), t(s4).as("t4"))
      .select(expr(
        """stack(5,
          |  0, 'raw',             n0, t0,
          |  1, 'caption_quality', n1, t1,
          |  2, 'image_geometry',  n2, t2,
          |  3, 'clip_agreement',  n3, t3,
          |  4, 'image_dedup',     n4, t4)
          |AS (stage, stage_name, n_pairs, caption_tokens)""".stripMargin),
        col("n0"), col("t0"))
      .select(col("stage"), col("stage_name"), col("n_pairs"),
        col("caption_tokens"),
        round(col("n_pairs").cast("double") / col("n0"), 6)
          .as("pair_frac"),
        round(col("caption_tokens").cast("double") / col("t0"), 6)
          .as("token_frac"))
      .orderBy(col("stage"))
  }

  private lazy val pairCurationOracle =
    s"""WITH b0 AS (
       |  SELECT doc_id, text,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |         ${TextOps.qualityKeepSql} AS keep_q,
       |         $synthGeometrySql
       |  FROM documents),
       |base AS (SELECT *, width * 1000 // height AS r_e3 FROM b0),
       |q AS (SELECT * FROM base WHERE keep_q),
       |g AS (SELECT * FROM q
       |      WHERE width >= $PairMinDim AND height >= $PairMinDim
       |        AND r_e3 BETWEEN ${RatioLadderE3.head} AND ${RatioLadderE3.last}),
       |e AS (SELECT *, $synthEmbeddingSql FROM g),
       |c AS (SELECT * FROM e WHERE $pairClipOkSql),
       |hk AS (SELECT MIN(doc_id) AS doc_id
       |       FROM (SELECT doc_id, $ahashSqlExpr AS ahash FROM c)
       |       GROUP BY ahash),
       |d AS (SELECT c.* FROM c JOIN hk USING (doc_id)),
       |raw_tot AS (SELECT COUNT(*) AS raw_pairs,
       |                   CAST(SUM(n_tok) AS BIGINT) AS raw_tokens FROM base),
       |stages AS (
       |  SELECT 0 AS stage, 'raw' AS stage_name, COUNT(*) AS n_pairs,
       |         CAST(SUM(n_tok) AS BIGINT) AS caption_tokens FROM base
       |  UNION ALL SELECT 1, 'caption_quality', COUNT(*),
       |         CAST(SUM(n_tok) AS BIGINT) FROM q
       |  UNION ALL SELECT 2, 'image_geometry', COUNT(*),
       |         CAST(SUM(n_tok) AS BIGINT) FROM g
       |  UNION ALL SELECT 3, 'clip_agreement', COUNT(*),
       |         CAST(SUM(n_tok) AS BIGINT) FROM c
       |  UNION ALL SELECT 4, 'image_dedup', COUNT(*),
       |         CAST(SUM(n_tok) AS BIGINT) FROM d)
       |SELECT stage, stage_name, n_pairs, caption_tokens,
       |       ROUND(CAST(n_pairs AS DOUBLE) / raw_pairs, 6) AS pair_frac,
       |       ROUND(CAST(caption_tokens AS DOUBLE) / raw_tokens, 6)
       |         AS token_frac
       |FROM stages CROSS JOIN raw_tot ORDER BY stage""".stripMargin

  // ------------------------------------------------ image header decode
  /** Byte-level image metadata decode — the FIRST real operator an
    * image-corpus pipeline runs over crawled files: dispatch on magic
    * bytes and parse width/height/format/bit-depth straight out of the
    * header (PNG: big-endian IHDR fields behind the 8-byte signature;
    * BMP: little-endian BITMAPINFOHEADER fields; GIF: little-endian
    * logical-screen-descriptor fields behind `GIF89a`; JPEG — the
    * dominant format of any web-crawled corpus — a marker-stream walk
    * to the SOF frame header, since JFIF has no fixed-offset
    * dimension field), with no codec dependency — headers are fixed-offset integer fields, so unlike
    * [[decodeStub]]'s pixel stage this decode is NOT stubbed: it reads
    * real, spec-valid files ([[graft.sources.ImageFiles]]) and returns
    * their true dimensions. Runs in the same `mapPartitions` batch
    * shape as [[phashNearDup]] — one iterator pass per partition, all
    * executor-side — which is exactly where a full pixel codec would
    * slot in after the header triage (header-parse-first lets a real
    * pipeline drop corrupt/oversized files BEFORE paying decode).
    *
    * Scale shape: binaryFile parallelizes by file and the glob filter
    * prunes at listing time; the parse touches ~30 bytes per row
    * regardless of payload size; output is a narrow typed row per
    * file. Oracle: the fixture is byte-specified by integer formulas
    * (dimensions AND total file size — stored-mode zlib makes PNG
    * sizes closed-form), so DuckDB recomputes every column from
    * arithmetic over the id range, proving the parse against ground
    * truth rather than against another parser.
    */
  // JPEG has no fixed-offset dimension field: SOF sits behind a
  // variable run of length-prefixed segments (APPn/DQT/DHT/…), so
  // the parse WALKS the marker stream — skip each segment by its
  // big-endian length, tolerate 0xFF fill bytes, stop at any
  // SOF0/1/2 (baseline/extended/progressive share the frame-header
  // layout) and read precision/height/width there. Stopping at SOS
  // without a SOF classifies "unknown" rather than scanning
  // entropy-coded data for false markers; every bound check keeps the
  // walk total on arbitrary truncated/corrupt bytes (fuzz-spec'd over
  // every prefix of a valid file). Returns (width, height, precision)
  // or null.
  private[graft] def jpegSof(b: Array[Byte]): (Int, Int, Int) = {
    var o = 2
    var res: (Int, Int, Int) = null
    var done = false
    while (!done && res == null && o + 3 < b.length) {
      if ((b(o) & 0xff) != 0xff) done = true
      else if ((b(o + 1) & 0xff) == 0xff) o += 1 // fill byte
      else {
        val m = b(o + 1) & 0xff
        if (m == 0x01 || (m >= 0xd0 && m <= 0xd8)) o += 2 // standalone
        else if (m == 0xda || m == 0xd9) done = true // SOS/EOI: no SOF seen
        else {
          val len = ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
          if (m >= 0xc0 && m <= 0xc2 && o + 8 < b.length)
            res = (((b(o + 7) & 0xff) << 8) | (b(o + 8) & 0xff), // width
              ((b(o + 5) & 0xff) << 8) | (b(o + 6) & 0xff), // height
              b(o + 4) & 0xff) // precision
          else if (len < 2) done = true // malformed length
          else o += 2 + len
        }
      }
    }
    res
  }

  def imageMeta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = graft.sources.ImageFiles.imagesDir(spark, sfDir)
    def be32(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
        ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
    def le32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "img_*.{png,bmp,gif,jpg}")
      .load(dir)
      .select(
        regexp_extract(col("path"), "img_(\\d+)\\.(png|bmp|gif|jpg)$", 1)
          .cast("long").as("img_id"),
        col("length").as("n_bytes"), col("content"))
      .as[(Long, Long, Array[Byte])]
      .mapPartitions(_.map { case (id, n, b) =>
        if (b.length >= 26 && (b(0) & 0xff) == 0x89 && b(1) == 'P' &&
            b(2) == 'N' && b(3) == 'G' && b(12) == 'I' && b(13) == 'H' &&
            b(14) == 'D' && b(15) == 'R')
          (id, "png", be32(b, 16), be32(b, 20), b(24).toInt, n)
        else if (b.length >= 30 && b(0) == 'B' && b(1) == 'M')
          (id, "bmp", le32(b, 18), le32(b, 22),
            (b(28) & 0xff) | ((b(29) & 0xff) << 8), n)
        else if (b.length >= 13 && b(0) == 'G' && b(1) == 'I' &&
            b(2) == 'F' && b(3) == '8' &&
            (b(4) == '9' || b(4) == '7') && b(5) == 'a')
          // logical screen descriptor: w/h le16; bit depth = GCT size
          // bits + 1 (bits/pixel of the global palette)
          (id, "gif", (b(6) & 0xff) | ((b(7) & 0xff) << 8),
            (b(8) & 0xff) | ((b(9) & 0xff) << 8), (b(10) & 7) + 1, n)
        else if (b.length >= 4 && (b(0) & 0xff) == 0xff &&
            (b(1) & 0xff) == 0xd8) {
          val sof = jpegSof(b)
          if (sof != null) (id, "jpeg", sof._1, sof._2, sof._3, n)
          else (id, "unknown", -1, -1, -1, n)
        }
        else (id, "unknown", -1, -1, -1, n)
      })
      .toDF("img_id", "format", "width", "height", "bit_depth", "n_bytes")
      .orderBy(col("img_id"))
  }

  private val imageMetaOracle = {
    import graft.sources.ImageFiles.NImages
    // raw scanline bytes of the PNG: h rows of (filter byte + 3w pixels)
    val raw = "(height * (1 + 3 * width))"
    // gif LZW data bytes: 3 bits per code, (CC, idx) per pixel + EOI
    val gifData = "((3 * (2 * width * height + 1) + 7) // 8)"
    // jpeg 8x8 blocks: 2 entropy bits each (DC cat-0 + EOB)
    val jpgBlocks = "(((width + 7) // 8) * ((height + 7) // 8))"
    s"""WITH dims AS (
       |  SELECT doc_id AS img_id,
       |         CAST(16 + (doc_id * 7) % 240 AS INTEGER) AS width,
       |         CAST(16 + (doc_id * 13) % 180 AS INTEGER) AS height
       |  FROM documents WHERE doc_id < $NImages)
       |SELECT img_id,
       |       CASE WHEN img_id % 4 = 0 THEN 'png'
       |            WHEN img_id % 4 = 1 THEN 'bmp'
       |            WHEN img_id % 4 = 2 THEN 'gif' ELSE 'jpeg' END AS format,
       |       width, height,
       |       CAST(CASE WHEN img_id % 4 = 0 THEN 8
       |                 WHEN img_id % 4 = 1 THEN 24
       |                 WHEN img_id % 4 = 2 THEN 1 ELSE 8 END AS INTEGER)
       |         AS bit_depth,
       |       -- png: sig 8 + IHDR 25 + IDAT wrapper 12 + zlib (2 hdr +
       |       -- 5/block + raw + 4 adler) + IEND 12;  bmp: 54 + padded
       |       -- rows;  gif: 32 fixed + LZW data + sub-block length
       |       -- bytes;  jpeg: 158 fixed segments + ceil(2·blocks/8)
       |       CAST(CASE WHEN img_id % 4 = 0
       |            THEN 8 + 25 + 12 + 2 + 5 * CEIL($raw / 65535.0) + $raw + 4 + 12
       |            WHEN img_id % 4 = 1
       |            THEN 54 + height * ((3 * width + 3) // 4 * 4)
       |            WHEN img_id % 4 = 2
       |            THEN 32 + $gifData + ($gifData + 254) // 255
       |            ELSE 158 + ($jpgBlocks + 3) // 4
       |            END AS BIGINT) AS n_bytes
       |FROM dims ORDER BY img_id""".stripMargin
  }

  // ------------------------------------------------ full pixel decode
  /** REAL full-frame pixel decode — the stage after [[imageMeta]]'s
    * header triage, actually performed: every fixture file is decoded
    * to pixels executor-side with the JDK's own ImageIO (javax.imageio
    * ships in the base JVM — no external codec dependency), in the
    * same per-partition batch shape the header pass uses. Reports the
    * decoded dimensions (cross-checking the header parse against an
    * INDEPENDENT decoder, not our own arithmetic) and the raster
    * band-0 sample sum over every pixel. The fixture makes that sum
    * closed-form — black PNG/BMP/GIF frames sum to 0, the JPEG's
    * DC-0-plus-level-shift gray sums to 128·w·h — so the oracle
    * proves the ENTIRE frame decoded (a decoder that dropped rows,
    * misread stride/padding, or mis-expanded the LZW/zlib/entropy
    * stream shifts the sum), byte-stream to pixels, against
    * arithmetic rather than against another run of the same parser.
    *
    * Scale shape: binaryFile parallelizes by file and prunes at
    * listing time; decode is per-file CPU with no shuffle until the
    * final narrow rollup; this mapPartitions slot is exactly where a
    * libjpeg-turbo/ffmpeg FFI binding plugs in for codecs beyond the
    * JDK's (the [[decodeStub]] contract, here fulfilled for real on
    * the four fixture formats).
    */
  def pixelStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = graft.sources.ImageFiles.imagesDir(spark, sfDir)
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "img_*.{png,bmp,gif,jpg}")
      .load(dir)
      .select(
        regexp_extract(col("path"), "img_(\\d+)\\.(png|bmp|gif|jpg)$", 1)
          .cast("long").as("img_id"),
        col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        if (img == null) (id, false, -1, -1, -1L, -1L)
        else {
          val w = img.getWidth
          val h = img.getHeight
          val raster = img.getRaster
          val row = new Array[Int](w)
          var sum = 0L
          var y = 0
          while (y < h) {
            raster.getSamples(0, y, w, 1, 0, row)
            var x = 0
            while (x < w) { sum += row(x); x += 1 }
            y += 1
          }
          (id, true, w, h, w.toLong * h, sum)
        }
      })
      .toDF("img_id", "decode_ok", "width", "height", "n_pixels",
        "sample_sum")
      .orderBy(col("img_id"))
  }

  private val pixelStatsOracle = {
    import graft.sources.ImageFiles.NImages
    s"""WITH dims AS (
       |  SELECT doc_id AS img_id,
       |         16 + (doc_id * 7) % 240 AS w,
       |         16 + (doc_id * 13) % 180 AS h
       |  FROM documents WHERE doc_id < $NImages)
       |SELECT img_id, TRUE AS decode_ok,
       |       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       |       CAST(w * h AS BIGINT) AS n_pixels,
       |       CAST(CASE WHEN img_id % 4 = 3 THEN 128 * w * h ELSE 0 END
       |            AS BIGINT) AS sample_sum
       |FROM dims ORDER BY img_id""".stripMargin
  }

  // ------------------------------------------------ audio header decode
  /** WAV/RIFF header triage — [[imageMeta]]'s audio sibling and the
    * first pass of an audio-corpus pipeline (reject non-PCM and
    * absurd rates/durations BEFORE paying a resample/feature stage):
    * magic-check `RIFF….WAVE`, then the canonical fmt chunk's
    * little-endian fields (format tag, channels, sample rate, bits)
    * and the data chunk length, from which the exact duration in
    * milliseconds derives as integer arithmetic (n_samples·1000 div
    * rate — both engines floor-divide the same longs). Same
    * `mapPartitions` batch shape, same fixture philosophy: the files
    * ([[graft.sources.AudioFiles]]) are complete canonical PCM WAVs
    * whose every field AND total size the oracle recomputes from the
    * id formulas.
    */
  /** Voice-activity detection over REAL decoded PCM — the first
    * sample-level audio operator (the header battery stops at
    * `data`-chunk arithmetic; this one reads the waveform): decode
    * the 16-bit LE samples of each fixture clip, frame them into
    * 10 ms windows, threshold the mean |amplitude| per frame, and
    * merge active frames into segments — exactly the front-door
    * triage a speech-training pipeline runs before ASR (keep clips
    * with enough voiced ratio, split on silence). The fixture
    * ([[graft.sources.AudioFiles.vadWavBytes]]) plants a
    * burst/silence pattern by integer formulas of the clip id, so
    * segment counts, active-frame counts, and the voiced ratio are
    * all closed-form — a one-sample decode slip (sign extension,
    * endianness, off-by-one framing) breaks the hash.
    *
    * Scale shape: mapPartitions batch decode over `binaryFile`
    * splits, identical to the image pixel pass — per-clip state is
    * one frame accumulator, nothing driver-side. */
  def vadSegments(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.AudioFiles
    val dir = AudioFiles.vadClipsDir(spark, sfDir)
    val frameN = AudioFiles.VadFrameSamples
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "clip_*.wav")
      .load(dir)
      .select(
        regexp_extract(col("path"), "clip_(\\d+)\\.wav$", 1)
          .cast("long").as("clip_id"),
        col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        // canonical mono 16-bit layout (the header battery's triage
        // already proved the guards; this fixture is ours)
        val nSamples = ((b.length - 44) / 2).toInt
        val nFrames = nSamples / frameN
        var seg = 0L
        var active = 0L
        var prevActive = false
        var f = 0
        while (f < nFrames) {
          var sumAbs = 0L
          var i = 0
          while (i < frameN) {
            val o = 44 + 2 * (f * frameN + i)
            // LE int16 with sign extension via short cast
            val s = ((b(o) & 0xff) | (b(o + 1) << 8)).toShort.toInt
            sumAbs += math.abs(s)
            i += 1
          }
          val isActive = sumAbs / frameN >= 500L
          if (isActive) {
            active += 1
            if (!prevActive) seg += 1
          }
          prevActive = isActive
          f += 1
        }
        (id, nFrames.toLong, active, seg,
          BigDecimal(active.toDouble / nFrames)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      })
      .toDF("clip_id", "n_frames", "active_frames", "n_segments",
        "voiced_ratio")
      .orderBy(col("clip_id"))
  }

  /** Formula ground truth: B = 2+id%4 burst frames, G = 1+id%3 gap
    * frames, C = 3+id%5 cycles ⇒ C segments, C·B active of C·(B+G)
    * total frames, ratio B/(B+G). */
  private val vadSegmentsOracle =
    s"""SELECT id AS clip_id,
       |       CAST((3 + id % 5) * (2 + id % 4 + 1 + id % 3) AS BIGINT)
       |         AS n_frames,
       |       CAST((3 + id % 5) * (2 + id % 4) AS BIGINT) AS active_frames,
       |       CAST(3 + id % 5 AS BIGINT) AS n_segments,
       |       ROUND(CAST(2 + id % 4 AS DOUBLE) / (2 + id % 4 + 1 + id % 3),
       |             4) AS voiced_ratio
       |FROM range(${graft.sources.AudioFiles.NClips}) t(id)
       |ORDER BY clip_id""".stripMargin

  /** TIFF/EXIF IFD walk ([[graft.sources.TiffFiles]]) — the metadata
    * read every image pipeline does BEFORE pixels (EXIF Orientation
    * decides whether resize rotates; Width/Length gate the aspect
    * buckets), and the one format where BOTH byte orders ship. Byte
    * order alternates per image, the Height SHORT rides the value
    * field left-justified in FILE order (the classic truncation bug,
    * under the hash via sum_height), the Make string lives at an
    * out-of-line offset, and every 17th image's Orientation carries a
    * wrong TYPE the reader must flag, not crash on — so its
    * orientation is EXCLUDED from orient_sum, which the oracle
    * mirrors.
    *
    * Scale shape: one synth+walk per doc, map-side; source-sized
    * rollup. */
  def exifMeta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.TiffFiles
    Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"))
      .as[(String, Long)]
      .mapPartitions(_.map { case (source, id) =>
        val m = TiffFiles.parseTiff(TiffFiles.synthTiff(id))
        (source, if (m.bigEndian) 1L else 0L, m.width, m.height,
          if (m.orientation > 0) m.orientation else 0L, m.nBadType,
          m.make.stripPrefix("graftcam-").toLong, if (m.ok) 1L else 0L)
      })
      .toDF("source", "be", "width", "height", "orient", "badtype",
        "make_digit", "ok")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_images"),
        sum(col("be")).cast("long").as("n_be"),
        sum(col("width")).cast("long").as("sum_width"),
        sum(col("height")).cast("long").as("sum_height"),
        sum(col("orient")).cast("long").as("orient_sum"),
        sum(col("badtype")).cast("long").as("n_badtype"),
        sum(col("make_digit")).cast("long").as("make_sum"),
        sum(col("ok")).cast("long").as("n_ok"))
      .orderBy(col("source"))
  }

  /** Formula census: width = 320+(13·id)%480, height = 240+(7·id)%360,
    * orientation = 1+id%8 (excluded on the 17-stride wrong-type
    * channel), make digit = id%5, big-endian on odd ids. */
  private val exifMetaOracle =
    """SELECT source, COUNT(*) AS n_images,
      |       CAST(SUM(doc_id % 2) AS BIGINT) AS n_be,
      |       CAST(SUM(320 + (doc_id * 13) % 480) AS BIGINT) AS sum_width,
      |       CAST(SUM(240 + (doc_id * 7) % 360) AS BIGINT) AS sum_height,
      |       CAST(SUM(CASE WHEN doc_id % 17 = 0 THEN 0
      |                     ELSE 1 + doc_id % 8 END) AS BIGINT)
      |         AS orient_sum,
      |       CAST(SUM(CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_badtype,
      |       CAST(SUM(doc_id % 5) AS BIGINT) AS make_sum,
      |       COUNT(*) AS n_ok
      |FROM documents
      |GROUP BY source ORDER BY source""".stripMargin

  def audioMeta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = graft.sources.AudioFiles.clipsDir(spark, sfDir)
    def le32(b: Array[Byte], o: Int): Long =
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
    def le16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    def ascii(b: Array[Byte], o: Int, s: String): Boolean =
      s.indices.forall(i => b(o + i) == s.charAt(i).toByte)
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "clip_*.wav")
      .load(dir)
      .select(
        regexp_extract(col("path"), "clip_(\\d+)\\.wav$", 1)
          .cast("long").as("clip_id"),
        col("length").as("n_bytes"), col("content"))
      .as[(Long, Long, Array[Byte])]
      .mapPartitions(_.map { case (id, n, b) =>
        // triage guards, not just magic bytes: a malformed-but-
        // RIFF-tagged file must classify "unknown", never divide by a
        // zero block-align or read a absent data chunk as garbage —
        // rejecting BEFORE decode is the operator's whole contract.
        // Canonical-layout check (`data` at 36) scopes the parse to
        // the fixed offsets it reads; extended-fmt/LIST layouts fall
        // to "unknown" rather than silently misparsing.
        lazy val ch = le16(b, 22)
        lazy val sr = le32(b, 24)
        lazy val bits = le16(b, 34)
        if (b.length >= 44 && ascii(b, 0, "RIFF") && ascii(b, 8, "WAVE") &&
            ascii(b, 12, "fmt ") && ascii(b, 36, "data") &&
            le16(b, 20) == 1 && ch > 0 && sr > 0 &&
            bits >= 8 && bits % 8 == 0) {
          val nSamples = le32(b, 40) / (ch * (bits / 8))
          (id, "pcm_wav", ch, sr, bits, nSamples,
            nSamples * 1000L / sr, n)
        } else (id, "unknown", -1, -1L, -1, -1L, -1L, n)
      })
      .toDF("clip_id", "codec", "n_channels", "sample_rate", "bits",
        "n_samples", "duration_ms", "n_bytes")
      .orderBy(col("clip_id"))
  }

  private val audioMetaOracle = {
    import graft.sources.AudioFiles.NClips
    s"""WITH f AS (
       |  SELECT doc_id AS clip_id,
       |         8000 * (1 + doc_id % 3) AS sample_rate,
       |         1 + doc_id % 2 AS n_channels,
       |         500 + (doc_id * 37) % 2000 AS n_samples
       |  FROM documents WHERE doc_id < $NClips)
       |SELECT clip_id, 'pcm_wav' AS codec,
       |       CAST(n_channels AS INTEGER) AS n_channels,
       |       CAST(sample_rate AS BIGINT) AS sample_rate,
       |       16 AS bits,
       |       CAST(n_samples AS BIGINT) AS n_samples,
       |       n_samples * 1000 // sample_rate AS duration_ms,
       |       CAST(44 + n_samples * n_channels * 2 AS BIGINT) AS n_bytes
       |FROM f ORDER BY clip_id""".stripMargin
  }

  // ------------------------------------------------ video container triage
  /** MP4/ISO-BMFF container triage — the video corner of the
    * image/audio/video modality triple, and the first pass of a video
    * corpus pipeline (reject corrupt containers and absurd
    * durations/dimensions BEFORE paying a frame-decode stage).
    * ISO-BMFF is a length-prefixed box tree: u32 BE size + 4CC type,
    * with container boxes (`moov`/`trak`/`mdia`) nesting further
    * boxes — so the parse is a recursive box WALK (simpler than
    * [[jpegSof]]'s marker stream: sizes are explicit, no entropy data
    * to avoid). Extracted: brand from `ftyp`; movie timescale and
    * duration from `mvhd` (version 0 AND 1 layouts — v1 widens the
    * times to u64); track id and 16.16 fixed-point width/height from
    * `tkhd` (v0/v1); handler 4CC from `mdia/hdlr`; `mdat` payload
    * size. Every bound is checked so the walk is TOTAL on arbitrary
    * truncated/corrupt bytes (prefix-fuzz-spec'd, the jpegSof
    * discipline); a box whose declared size overruns the buffer, or
    * runs backwards, classifies "unknown" instead of looping or
    * throwing.
    *
    * Scale shape: binaryFile parallelizes by file, glob prunes at
    * listing; the walk touches only box headers + three fixed-layout
    * payloads per file (never the media data); narrow typed row out.
    * Oracle: the fixture ([[graft.sources.VideoFiles]]) is
    * byte-specified by integer formulas, so DuckDB recomputes every
    * field AND the exact file size from arithmetic — generator and
    * parser proven against each other, the codec-family discipline.
    */
  private[graft] def mp4Meta(b: Array[Byte]):
      (String, Long, Long, Long, Int, Int, String, Long) = {
    def be32(o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    def be64(o: Int): Long = (be32(o) << 32) | be32(o + 4)
    def cc(o: Int): String = new String(b, o, 4, "US-ASCII")
    var brand: String = null
    var timescale = -1L; var duration = -1L
    var trackId = -1L; var w = -1; var h = -1
    var handler: String = null
    var mdat = -1L
    // returns false if the region is structurally broken (overrun /
    // non-advancing box) — the caller classifies "unknown"
    def walk(from: Long, to: Long): Boolean = {
      var o = from
      var ok = true
      while (ok && o + 8 <= to) {
        val declared = be32(o.toInt)
        val typ = cc(o.toInt + 4)
        var body = o + 8
        val size =
          if (declared == 1L && o + 16 <= to) { // 64-bit largesize
            body = o + 16; be64(o.toInt + 8)
          } else if (declared == 0L) to - o // box runs to end of region
          else declared
        val end = o + size
        if (size < (body - o) || end > to) ok = false // overrun/backwards
        else {
          typ match {
            case "ftyp" if body + 4 <= end => brand = cc(body.toInt)
            case "moov" | "trak" | "mdia" | "minf" | "stbl" =>
              ok = walk(body, end) // containers: recurse
            case "mvhd" if body + 4 <= end =>
              val v = b(body.toInt) & 0xff
              if (v == 1 && body + 32 <= end) {
                timescale = be32(body.toInt + 20)
                duration = be64(body.toInt + 24)
              } else if (v == 0 && body + 20 <= end) {
                timescale = be32(body.toInt + 12)
                duration = be32(body.toInt + 16)
              }
            case "tkhd" if body + 4 <= end =>
              val v = b(body.toInt) & 0xff
              // width/height sit at the payload TAIL (after the
              // matrix), same offset from the end in v0 and v1
              if (end - 8 >= body && ((v == 0 && body + 16 <= end) ||
                  (v == 1 && body + 24 <= end))) {
                trackId = be32(body.toInt + (if (v == 1) 20 else 12))
                w = (be32(end.toInt - 8) >> 16).toInt
                h = (be32(end.toInt - 4) >> 16).toInt
              }
            case "hdlr" if body + 12 <= end => handler = cc(body.toInt + 8)
            case "mdat" => mdat = end - body
            case _ => () // free/skip/unknown boxes: step over
          }
          if (end <= o) ok = false else o = end // must advance
        }
      }
      ok && o == to // a trailing partial header is also structural damage
    }
    if (b.length >= 12 && cc(4) == "ftyp" && walk(0L, b.length.toLong) &&
        brand != null && timescale > 0)
      (brand, timescale, duration,
        if (duration >= 0) duration * 1000L / timescale else -1L,
        w, h, if (handler == null) "none" else handler, mdat)
    else ("unknown", -1L, -1L, -1L, -1, -1, "none", -1L)
  }

  def videoMeta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = graft.sources.VideoFiles.videosDir(spark, sfDir)
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "vid_*.mp4")
      .load(dir)
      .select(
        regexp_extract(col("path"), "vid_(\\d+)\\.mp4$", 1)
          .cast("long").as("video_id"),
        col("length").as("n_bytes"), col("content"))
      .as[(Long, Long, Array[Byte])]
      .mapPartitions(_.map { case (id, n, b) =>
        val m = mp4Meta(b)
        (id, m._1, m._2, m._3, m._4, m._5, m._6, m._7, m._8, n)
      })
      .toDF("video_id", "brand", "timescale", "duration_ticks",
        "duration_ms", "width", "height", "handler", "mdat_bytes",
        "n_bytes")
      .orderBy(col("video_id"))
  }

  private val videoMetaOracle = {
    import graft.sources.VideoFiles.{NVideos, Timescale, FixedBytes}
    s"""WITH f AS (
       |  SELECT doc_id AS video_id,
       |         (5 + doc_id * 3) * $Timescale AS dur,
       |         160 + (doc_id * 8) % 1120 AS width,
       |         90 + (doc_id * 6) % 630 AS height,
       |         16 + (doc_id * 37) % 256 AS mdat
       |  FROM documents WHERE doc_id < $NVideos)
       |SELECT video_id, 'isom' AS brand,
       |       CAST($Timescale AS BIGINT) AS timescale,
       |       CAST(dur AS BIGINT) AS duration_ticks,
       |       dur * 1000 // $Timescale AS duration_ms,
       |       CAST(width AS INTEGER) AS width,
       |       CAST(height AS INTEGER) AS height,
       |       'vide' AS handler,
       |       CAST(mdat AS BIGINT) AS mdat_bytes,
       |       CAST($FixedBytes + mdat AS BIGINT) AS n_bytes
       |FROM f ORDER BY video_id""".stripMargin
  }

  // ------------------------------------------------ webp triage
  /** WebP container triage — the FIFTH image codec (the dominant
    * modern web format; a 2020s crawl serves more WebP than GIF+BMP
    * combined): RIFF chunk walk (the WAV discipline — le32 sizes,
    * odd-size pad bytes), then per-codec header parse: VP8L lossless
    * streams carry 14-bit dims LSB-first behind the 0x2f signature;
    * VP8X extended containers carry a 24-bit LE canvas; VP8 lossy
    * frames carry the 0x9d012a sync code and 14-bit le16 dims.
    * Extended files are CROSS-CHECKED: the VP8X canvas must equal the
    * inner VP8L stream's dims (`canvas_match` rides the output — a
    * mismatched container is exactly what triage must surface).
    * Bounds-checked total walk (prefix-fuzz-spec'd); fixture
    * ([[graft.sources.WebpFiles]]) is byte-specified, so the oracle
    * recomputes every field and both closed-form file sizes.
    */
  private[graft] def webpMeta(b: Array[Byte])
      : (String, String, Int, Int, Int, Boolean) = {
    def le16(o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    def le24(o: Int): Int = le16(o) | ((b(o + 2) & 0xff) << 16)
    def le32(o: Int): Long = (le24(o) & 0xffffffL) | ((b(o + 3) & 0xffL) << 24)
    def cc(o: Int): String = new String(b, o, 4, "US-ASCII")
    if (b.length < 12 || cc(0) != "RIFF" || cc(8) != "WEBP")
      return ("unknown", "none", -1, -1, 0, false)
    var container = "simple"
    var codec = "none"
    var w = -1; var h = -1
    var cw = -1; var ch = -1 // VP8X canvas
    var nChunks = 0
    var o = 12
    var ok = true
    while (ok && o + 8 <= b.length) {
      val tag = cc(o)
      val len = le32(o + 4)
      val body = o + 8
      val end = body + len + (len % 2) // odd chunks pad one byte
      if (end > b.length || len < 0) ok = false
      else {
        nChunks += 1
        tag match {
          case "VP8X" if len >= 10 =>
            container = "extended"
            cw = le24(body + 4) + 1
            ch = le24(body + 7) + 1
          case "VP8L" if len >= 5 && (b(body) & 0xff) == 0x2f =>
            codec = "vp8l"
            val b0 = b(body + 1) & 0xff; val b1 = b(body + 2) & 0xff
            val b2 = b(body + 3) & 0xff; val b3 = b(body + 4) & 0xff
            w = ((b0 | (b1 << 8)) & 0x3fff) + 1
            h = (((b1 >> 6) | (b2 << 2) | (b3 << 10)) & 0x3fff) + 1
          case "VP8 " if len >= 10 && (b(body + 3) & 0xff) == 0x9d &&
              (b(body + 4) & 0xff) == 0x01 && (b(body + 5) & 0xff) == 0x2a =>
            codec = "vp8"
            w = le16(body + 6) & 0x3fff
            h = le16(body + 8) & 0x3fff
          case _ => () // ALPH/ANIM/EXIF/…: step over
        }
        o = end.toInt
      }
    }
    if (!ok || codec == "none") ("unknown", "none", -1, -1, nChunks, false)
    else ("webp", codec + (if (container == "extended") "_x" else ""),
      w, h, nChunks,
      container == "simple" || (cw == w && ch == h))
  }

  def webpMetaScan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = graft.sources.WebpFiles.webpDir(spark, sfDir)
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "web_*.webp")
      .load(dir)
      .select(
        regexp_extract(col("path"), "web_(\\d+)\\.webp$", 1)
          .cast("long").as("web_id"),
        col("length").as("n_bytes"), col("content"))
      .as[(Long, Long, Array[Byte])]
      .mapPartitions(_.map { case (id, n, b) =>
        val m = webpMeta(b)
        (id, m._1, m._2, m._3, m._4, m._5, m._6, n)
      })
      .toDF("web_id", "format", "codec", "width", "height", "n_chunks",
        "canvas_match", "n_bytes")
      .orderBy(col("web_id"))
  }

  private val webpMetaOracle = {
    import graft.sources.WebpFiles.{NWebp, SimpleBytes, ExtendedBytes}
    s"""SELECT doc_id AS web_id, 'webp' AS format,
       |       CASE WHEN doc_id % 2 = 0 THEN 'vp8l' ELSE 'vp8l_x' END
       |         AS codec,
       |       CAST(16 + (doc_id * 11) % 1000 AS INTEGER) AS width,
       |       CAST(16 + (doc_id * 17) % 800 AS INTEGER) AS height,
       |       CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS INTEGER)
       |         AS n_chunks,
       |       TRUE AS canvas_match,
       |       CAST(CASE WHEN doc_id % 2 = 0 THEN $SimpleBytes
       |            ELSE $ExtendedBytes END AS BIGINT) AS n_bytes
       |FROM documents WHERE doc_id < $NWebp ORDER BY web_id""".stripMargin
  }

  // ------------------------------------------------ FLAC metadata triage
  /** FLAC STREAMINFO triage — the lossless-archival corner of the
    * audio family ([[audioMeta]]'s WAV is the raw-PCM corner): magic
    * `fLaC`, then a length-prefixed metadata block WALK (1-byte
    * last-flag+type, u24 BE length — the MP4 box discipline, but
    * big-endian and with an explicit last-block bit), and the
    * STREAMINFO payload's bit-packed core: ONE 64-bit big-endian
    * field holding sample rate (20 bits), channels−1 (3),
    * bits-per-sample−1 (5), total samples (36) — from which exact
    * duration derives as integer floor-division, both engines on the
    * same longs. Every bound is checked so the walk is TOTAL on
    * truncated/corrupt bytes (prefix-fuzz-spec'd, the jpegSof
    * discipline): a block overrunning the buffer, a stream whose
    * FIRST block is not STREAMINFO (spec-mandatory), or a zero rate
    * classifies "unknown" instead of throwing.
    *
    * Scale shape: binaryFile parallelizes by file, glob prunes at
    * listing; the walk reads block headers + one 34-byte payload —
    * never audio frames; narrow typed row out, presentation sort
    * only. Oracle: [[graft.sources.FlacFiles]] is byte-specified by
    * id formulas, so DuckDB recomputes every field and the exact
    * file size — generator and parser proven against each other.
    */
  private[graft] def flacMeta(b: Array[Byte])
      : (String, Int, Long, Int, Long, Long, Int, Int) = {
    def be16(o: Int): Int = ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
    def be24(o: Int): Int = (be16(o) << 8) | (b(o + 2) & 0xff)
    val unknown = ("unknown", -1, -1L, -1, -1L, -1L, -1, 0)
    if (b.length < 8 || b(0) != 'f' || b(1) != 'L' || b(2) != 'a' ||
        b(3) != 'C') return unknown
    var o = 4
    var nBlocks = 0
    var last = false
    var si = -1 // STREAMINFO payload offset
    while (!last && o + 4 <= b.length) {
      val h = b(o) & 0xff
      last = (h & 0x80) != 0
      val typ = h & 0x7f
      val len = be24(o + 1)
      if (o + 4 + len > b.length || typ == 0x7f) return unknown
      // STREAMINFO must be the FIRST block (spec) and 34 bytes
      if (nBlocks == 0) {
        if (typ != 0 || len != 34) return unknown
        si = o + 4
      }
      nBlocks += 1
      o += 4 + len
    }
    if (si < 0 || !last) return unknown // ran out before a last block
    var packed = 0L
    var i = 0
    while (i < 8) { packed = (packed << 8) | (b(si + 10 + i) & 0xffL); i += 1 }
    val rate = ((packed >>> 44) & 0xfffff).toInt
    val ch = (((packed >>> 41) & 0x7) + 1).toInt
    val bits = (((packed >>> 36) & 0x1f) + 1).toInt
    val total = packed & 0xfffffffffL
    if (rate == 0) return unknown
    ("flac", ch, rate.toLong, bits, total, total * 1000L / rate,
      be24(si + 4), nBlocks)
  }

  def flacMetaScan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = graft.sources.FlacFiles.flacDir(spark, sfDir)
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "track_*.flac")
      .load(dir)
      .select(
        regexp_extract(col("path"), "track_(\\d+)\\.flac$", 1)
          .cast("long").as("track_id"),
        col("length").as("n_bytes"), col("content"))
      .as[(Long, Long, Array[Byte])]
      .mapPartitions(_.map { case (id, n, b) =>
        val m = flacMeta(b)
        (id, m._1, m._2, m._3, m._4, m._5, m._6, m._7, m._8, n)
      })
      .toDF("track_id", "codec", "n_channels", "sample_rate", "bits",
        "n_samples", "duration_ms", "min_frame", "n_blocks", "n_bytes")
      .orderBy(col("track_id"))
  }

  private val flacMetaOracle = {
    import graft.sources.FlacFiles.NFlac
    s"""WITH f AS (
       |  SELECT doc_id AS track_id,
       |         CASE doc_id % 6 WHEN 0 THEN 8000 WHEN 1 THEN 16000
       |              WHEN 2 THEN 22050 WHEN 3 THEN 32000
       |              WHEN 4 THEN 44100 ELSE 48000 END AS sample_rate,
       |         10000 + (doc_id * 997) % 100000 AS n_samples
       |  FROM documents WHERE doc_id < $NFlac)
       |SELECT track_id, 'flac' AS codec,
       |       CAST(1 + track_id % 4 AS INTEGER) AS n_channels,
       |       CAST(sample_rate AS BIGINT) AS sample_rate,
       |       CAST(16 + 8 * (track_id % 2) AS INTEGER) AS bits,
       |       CAST(n_samples AS BIGINT) AS n_samples,
       |       n_samples * 1000 // sample_rate AS duration_ms,
       |       CAST(100 + (track_id * 7) % 900 AS INTEGER) AS min_frame,
       |       CAST(1 + track_id % 2 AS INTEGER) AS n_blocks,
       |       CAST(42 + CASE WHEN track_id % 2 = 1
       |            THEN 4 + (track_id * 13) % 64 ELSE 0 END AS BIGINT)
       |         AS n_bytes
       |FROM f ORDER BY track_id""".stripMargin
  }

  // ------------------------------------------------ MP3 frame-walk triage
  /** MP3 frame-sync walk — the lossy-web corner of the audio family,
    * completing the WAV/FLAC/MP3 triple the way WebP completed the
    * image five: skip an optional ID3v2 tag (10-byte header + u28
    * SYNCSAFE length — 7 bits per byte, the format's guard against
    * false sync), then walk MPEG-1 Layer III frames: 11-bit sync,
    * version/layer bits, bitrate and sample-rate table indices, the
    * padding bit, and the public frame-length formula 144·bitrate/rate
    * + padding that strides header to header WITHOUT reading payload
    * bytes (there is no frame-count field anywhere — duration only
    * exists by walking, 1152 samples per frame). The walk is strict
    * and TOTAL: free-format (index 0) and invalid (15) bitrates,
    * reserved rate index 3, non-MPEG1/Layer-III headers, a stride
    * overrunning the buffer, or trailing bytes after the last frame
    * all classify "unknown" (prefix-fuzz-spec'd) — a triage gate must
    * reject odd streams, not guess at them.
    *
    * Scale shape: binaryFile parallelizes by file, glob prunes at
    * listing, headers-only touch, narrow typed row, presentation sort
    * only. Oracle: [[graft.sources.Mp3Files]] is byte-specified by id
    * formulas — DuckDB recomputes bitrate/rate from the table CASEs,
    * duration from the frame count, and the exact file size.
    */
  private[graft] def mp3Meta(b: Array[Byte])
      : (String, Int, Long, Int, Long, Boolean, Int) = {
    import graft.sources.Mp3Files.{BitrateKbps, SampleRates}
    val unknown = ("unknown", -1, -1L, -1, -1L, false, -1)
    val n = b.length
    var o = 0
    var id3 = false
    var id3Len = -1
    if (n >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      id3 = true
      id3Len = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
        ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
      o = 10 + id3Len
    }
    var nFrames = 0
    var kbps = -1
    var rate = -1
    while (o < n) {
      if (o + 4 > n || (b(o) & 0xff) != 0xff || (b(o + 1) & 0xe0) != 0xe0)
        return unknown
      val version = (b(o + 1) >> 3) & 0x3
      val layer = (b(o + 1) >> 1) & 0x3
      if (version != 3 || layer != 1) return unknown // MPEG-1 Layer III only
      val bIdx = (b(o + 2) >> 4) & 0xf
      val sIdx = (b(o + 2) >> 2) & 0x3
      if (bIdx == 0 || bIdx == 15 || sIdx == 3) return unknown
      val k = BitrateKbps(bIdx)
      val r = SampleRates(sIdx)
      if (nFrames == 0) { kbps = k; rate = r }
      else if (k != kbps || r != rate) return unknown // CBR triage only
      val stride = 144000 * k / r + ((b(o + 2) >> 1) & 0x1)
      if (o + stride > n) return unknown // truncated final frame
      o += stride
      nFrames += 1
    }
    if (nFrames == 0) return unknown
    ("mp3", nFrames, nFrames.toLong * 1152L * 1000L / rate, kbps,
      rate.toLong, id3, id3Len)
  }

  def mp3MetaScan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = graft.sources.Mp3Files.mp3Dir(spark, sfDir)
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "song_*.mp3")
      .load(dir)
      .select(
        regexp_extract(col("path"), "song_(\\d+)\\.mp3$", 1)
          .cast("long").as("song_id"),
        col("length").as("n_bytes"), col("content"))
      .as[(Long, Long, Array[Byte])]
      .mapPartitions(_.map { case (id, nb, b) =>
        val m = mp3Meta(b)
        (id, m._1, m._2, m._3, m._4, m._5, m._6, m._7, nb)
      })
      .toDF("song_id", "codec", "n_frames", "duration_ms", "bitrate_kbps",
        "sample_rate", "has_id3", "id3_len", "n_bytes")
      .orderBy(col("song_id"))
  }

  private val mp3MetaOracle = {
    import graft.sources.Mp3Files.NMp3
    s"""WITH f AS (
       |  SELECT doc_id AS song_id,
       |         CASE 1 + doc_id % 14
       |              WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48
       |              WHEN 4 THEN 56 WHEN 5 THEN 64 WHEN 6 THEN 80
       |              WHEN 7 THEN 96 WHEN 8 THEN 112 WHEN 9 THEN 128
       |              WHEN 10 THEN 160 WHEN 11 THEN 192 WHEN 12 THEN 224
       |              WHEN 13 THEN 256 ELSE 320 END AS kbps,
       |         CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
       |              ELSE 32000 END AS rate,
       |         3 + doc_id % 5 AS n_frames,
       |         doc_id % 4 = 0 AS has_id3,
       |         20 + (doc_id * 3) % 40 AS id3_len
       |  FROM documents WHERE doc_id < $NMp3)
       |SELECT song_id, 'mp3' AS codec,
       |       CAST(n_frames AS INTEGER) AS n_frames,
       |       n_frames * 1152 * 1000 // rate AS duration_ms,
       |       CAST(kbps AS INTEGER) AS bitrate_kbps,
       |       CAST(rate AS BIGINT) AS sample_rate,
       |       has_id3,
       |       CAST(CASE WHEN has_id3 THEN id3_len ELSE -1 END AS INTEGER)
       |         AS id3_len,
       |       CAST(CASE WHEN has_id3 THEN 10 + id3_len ELSE 0 END
       |            + n_frames * (144000 * kbps // rate) AS BIGINT)
       |         AS n_bytes
       |FROM f ORDER BY song_id""".stripMargin
  }

  // ---------------------------------------------------- OCR roundtrip
  /** OCR ingest stage — the pipeline shape behind every scanned-PDF /
    * page-image corpus (render → raster → OCR → text funnel), with
    * the glyph model deterministic so the WHOLE loop sits under the
    * hash: each document's first [[OcrChars]] chars render onto a
    * real 24 bpp BMP page (16 glyph cells per row, 5×7 ink dots in a
    * 6×8 cell; glyph(c) = the first 35 md5 bits of the character — a
    * pseudo-font whose shapes are arbitrary but whose IDENTITY is
    * exact), the page decodes back through the JDK's own ImageIO
    * (the REAL raster path [[pixelStats]] uses — any byte-layout slip
    * in the writer breaks the loop), cells glyph-match against the
    * corpus alphabet, and the report ships per-source page/char/
    * roundtrip tallies plus the INK-PIXEL count measured from the
    * decoded raster — which the oracle recomputes as Σ bit_count of
    * the per-char md5 masks, so one misplaced pixel anywhere in
    * render-or-decode flips the hash.
    *
    * Scale shape: render/decode/match are stateless map-side kernels
    * per doc (the extractFrame discipline); the alphabet→glyph map is
    * a bounded driver collect (corpus alphabet — the WordPiece vocab
    * pattern) broadcast into the closure; rollup is source-keyed.
    * Real OCR swaps the glyph matcher for a model behind the same
    * (page bytes → text) seam; everything else is unchanged. */
  private val OcrChars = 80
  private val OcrCols = 16

  private[graft] def glyphPattern(c: Char): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(c.toString.getBytes("UTF-8"))
    val hex9 = d.map(b => f"$b%02x").mkString.take(9)
    java.lang.Long.parseLong(hex9, 16) & ((1L << 35) - 1)
  }

  /** Render `s` as a 24 bpp bottom-up BI_RGB BMP page (white bg,
    * black ink; [[OcrCols]] cells per row). */
  private[graft] def renderPage(s: String): Array[Byte] = {
    val rows = (s.length + OcrCols - 1) / OcrCols
    val w = OcrCols * 6
    val h = math.max(rows, 1) * 8
    val rowSize = ((3 * w + 3) / 4) * 4
    val out = new Array[Byte](54 + h * rowSize)
    def le32(v: Long, at: Int): Unit = {
      out(at) = (v & 0xff).toByte; out(at + 1) = ((v >> 8) & 0xff).toByte
      out(at + 2) = ((v >> 16) & 0xff).toByte
      out(at + 3) = ((v >> 24) & 0xff).toByte
    }
    out(0) = 'B'; out(1) = 'M'; le32(out.length.toLong, 2); le32(54L, 10)
    le32(40L, 14); le32(w.toLong, 18); le32(h.toLong, 22)
    out(26) = 1; out(28) = 24
    java.util.Arrays.fill(out, 54, out.length, 0xff.toByte) // white bg
    var i = 0
    while (i < s.length) {
      val pat = glyphPattern(s.charAt(i))
      val cx = (i % OcrCols) * 6
      val cy = (i / OcrCols) * 8
      var b = 0
      while (b < 35) {
        if (((pat >> b) & 1L) != 0L) {
          val x = cx + b % 5
          val y = cy + b / 5
          val off = 54 + (h - 1 - y) * rowSize + 3 * x // bottom-up rows
          out(off) = 0; out(off + 1) = 0; out(off + 2) = 0
        }
        b += 1
      }
      i += 1
    }
    out
  }

  def ocrRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // bounded: the corpus alphabet (WordPiece-vocab collect pattern);
    // glyph collisions are astronomically unlikely at 35 bits and the
    // build fails loudly if one ever appears
    val alphabet = Tables.documents(spark, sfDir)
      .select(explode(split(substring(col("text"), 1, OcrChars), ""))
        .as("ch"))
      .filter(length(col("ch")) === 1)
      .distinct().collect().map(_.getString(0).charAt(0))
    val glyphMap = alphabet.map(c => glyphPattern(c) -> c).toMap
    require(glyphMap.size == alphabet.length, "glyph pattern collision")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        substring(col("text"), 1, OcrChars).as("p"))
      // the fixture table is ONE parquet split — without a spread the
      // whole render/decode kernel runs on a single thread (measured:
      // 4.1 s serial vs 0.7 s spread). At corpus scale input splits
      // are plentiful and this narrow prefix-row shuffle is noise.
      .repartition(spark.sparkContext.defaultParallelism)
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val inv = glyphMap // serialized into the closure (bounded)
        // ONE reader per partition and a DIRECTLY constructed input
        // stream: both ImageIO.read and createImageInputStream consult
        // the synchronized IIORegistry singleton per call — under 32
        // executor threads that lock serializes the whole decode stage
        // (single-thread kernel: 1.2 s for the full corpus; in-Spark
        // before this fix: 4.6–5.7 s)
        val reader = javax.imageio.ImageIO
          .getImageReadersByFormatName("bmp").next()
        it.map { case (id, src, p) =>
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(renderPage(p)))
          reader.setInput(iis)
          val img = reader.read(0)
          iis.close()
          val (w, h) = (img.getWidth, img.getHeight)
          // ONE bulk raster read per page — a per-pixel getRGB loop
          // measured 5.6 s composite; the bulk grab is the kernel's
          // hot path fix (same pixels, same decoder)
          val px = img.getRGB(0, 0, w, h, null, 0, w)
          var ink = 0L
          var i = 0
          while (i < px.length) {
            if ((px(i) & 0xffffff) == 0) ink += 1
            i += 1
          }
          val sb = new java.lang.StringBuilder
          val cells = (h / 8) * OcrCols
          var ci = 0
          while (ci < cells) {
            val cx = (ci % OcrCols) * 6
            val cy = (ci / OcrCols) * 8
            var pat = 0L
            var b = 0
            while (b < 35) {
              if ((px((cy + b / 5) * w + cx + b % 5) & 0xffffff) == 0)
                pat |= 1L << b
              b += 1
            }
            if (pat != 0L) inv.get(pat).foreach(sb.append)
            ci += 1
          }
          (id, src, p.length.toLong, ink, sb.toString == p)
        }
      }
      .toDF("doc_id", "source", "n_chars", "ink", "ok")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_pages"),
        sum(col("n_chars")).cast("long").as("n_chars"),
        sum(col("ink")).cast("long").as("n_ink_pixels"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_roundtrip"))
      .orderBy(col("source"))
  }

  private val ocrRoundtripOracle =
    s"""WITH pre AS (SELECT doc_id, source, substr(text, 1, $OcrChars) AS p
       |             FROM documents),
       |chars AS (SELECT doc_id, source, substr(p, i, 1) AS ch
       |          FROM pre, UNNEST(range(1, len(p) + 1)) AS t(i)),
       |ink AS (SELECT doc_id, source, COUNT(*) AS n_chars,
       |               SUM(bit_count(
       |                 ${Parity.md5KeySql("ch", 9)}
       |                 & 34359738367)) AS ink
       |        FROM chars GROUP BY doc_id, source)
       |SELECT source, COUNT(*) AS n_pages,
       |       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       |       CAST(SUM(ink) AS BIGINT) AS n_ink_pixels,
       |       COUNT(*) AS n_roundtrip
       |FROM ink GROUP BY source ORDER BY source""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ocr_roundtrip" -> (ocrRoundtrip _),
    "q_mp3_meta" -> (mp3MetaScan _),
    "q_flac_meta" -> (flacMetaScan _),
    "q_webp_meta" -> (webpMetaScan _),
    "q_video_meta" -> (videoMeta _),
    "q_audio_meta" -> (audioMeta _),
    "q_vad_segments" -> (vadSegments _),
    "q_exif_meta" -> (exifMeta _),
    "q_image_meta" -> (imageMeta _),
    "q_phash_neardup" -> (phashNearDup _),
    "q_pair_curation" -> (pairCuration _),
    "q_pixel_stats" -> (pixelStats _),
    "q_aspect_buckets" -> (aspectBuckets _),
    "q_media_meta" -> (mediaMeta _),
    "q_media_decode" -> (mediaDecode _),
    "q_frame_sample" -> (frameSample _)
  )

  def oracles: Map[String, String] = Map(
    "q_ocr_roundtrip" -> ocrRoundtripOracle,
    "q_mp3_meta" -> mp3MetaOracle,
    "q_flac_meta" -> flacMetaOracle,
    "q_webp_meta" -> webpMetaOracle,
    "q_video_meta" -> videoMetaOracle,
    "q_audio_meta" -> audioMetaOracle,
    "q_vad_segments" -> vadSegmentsOracle,
    "q_exif_meta" -> exifMetaOracle,
    "q_image_meta" -> imageMetaOracle,
    "q_phash_neardup" -> phashNearDupOracle,
    "q_pair_curation" -> pairCurationOracle,
    "q_pixel_stats" -> pixelStatsOracle,
    "q_aspect_buckets" -> aspectBucketsOracle,
    "q_media_meta" -> mediaMetaOracle,
    "q_media_decode" -> mediaDecodeOracle,
    "q_frame_sample" -> frameSampleOracle
  )
}

package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Scan-pruning data layout — the write-side half of "push down and
  * prune". Parquet readers (Spark's included) skip whole row groups
  * whose column min/max stats exclude the predicate, but stats only
  * prune if the WRITE clustered the data: a hash-scattered table has
  * every file spanning the whole key range, so a narrow key probe
  * still reads every file. `repartitionByRange` + `sortWithinPartitions`
  * produces files with disjoint key spans (a 1-D z-order), turning a
  * key-range scan from O(table) into O(matching files) — at 100 TB the
  * difference between a full-corpus scan and touching a handful of
  * files. The layout is pay-once-at-write, like `Bucketing`.
  *
  * The query result is layout-invariant (the oracle recomputes it from
  * the raw table); the pruning claim itself — sorted files have
  * narrow, disjoint spans; scattered files all straddle the probe
  * range — is asserted from the parquet FOOTER STATS in LayoutSpec,
  * i.e. against the exact metadata engines prune with.
  */
object Layout {
  import Medallion.rmTree

  private val ProbeLo = 1000L
  private val ProbeHi = 1999L

  private[graft] def scatteredPath(sfDir: String): String =
    s"${Medallion.warehouse(sfDir)}/lineitem_scattered"
  private[graft] def clusteredPath(sfDir: String): String =
    s"${Medallion.warehouse(sfDir)}/lineitem_clustered"

  /** Write both layouts, then run the narrow key-range probe against
    * the clustered one. */
  def layoutProbe(spark: SparkSession, sfDir: String): DataFrame = {
    rmTree(spark, scatteredPath(sfDir)); rmTree(spark, clusteredPath(sfDir))
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
        col("l_extendedprice"))
    // round-robin scatter: the anti-layout — every file spans ~the
    // whole keyspace, min/max stats prune nothing
    li.repartition(8).write.mode("overwrite")
      .parquet(scatteredPath(sfDir))
    // range-cluster: global range partitioning assigns each key
    // interval to one task, the in-partition sort packs row groups
    // into monotone runs — file AND row-group stats become selective
    li.repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
      .write.mode("overwrite").parquet(clusteredPath(sfDir))

    spark.read.parquet(clusteredPath(sfDir))
      .filter(col("l_orderkey").between(ProbeLo, ProbeHi))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  private val layoutProbeOracle =
    s"""SELECT l_returnflag, COUNT(*) AS n_rows,
       |       ROUND(SUM(l_quantity), 4) AS sum_qty,
       |       ROUND(SUM(l_extendedprice), 4) AS sum_price
       |FROM lineitem WHERE l_orderkey BETWEEN $ProbeLo AND $ProbeHi
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Per-file (min, max) of a BIGINT column read from the parquet
    * footers — the same statistics a pruning reader consults. */
  private[graft] def fileColumnRanges(spark: SparkSession, dir: String,
      column: String): Seq[(Long, Long)] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).toSeq
      .map { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try {
          val stats = reader.getFooter.getBlocks.asScala.flatMap { b =>
            b.getColumns.asScala
              .filter(_.getPath.toDotString == column)
              .map(_.getStatistics)
          }
          (stats.map(_.genericGetMin.asInstanceOf[Long]).min,
            stats.map(_.genericGetMax.asInstanceOf[Long]).max)
        } finally reader.close()
      }
  }

  private[graft] def fileKeyRanges(
      spark: SparkSession, dir: String): Seq[(Long, Long)] =
    fileColumnRanges(spark, dir, "l_orderkey")

  private[graft] def probeOverlaps(ranges: Seq[(Long, Long)]): Int =
    ranges.count { case (lo, hi) => lo <= ProbeHi && hi >= ProbeLo }

  // ------------------------------------------------------------------
  /** TRUE 2-D z-order clustering: interleave the bits of two 10-bit
    * keys into one Morton value, range-partition + sort the write on
    * it, and probe with a RECTANGLE predicate (a range on each key —
    * the query shape 1-D clustering cannot serve: sorting by one key
    * scatters the other). Because the z-value is monotone in each
    * coordinate, every point of the rectangle lies in
    * [z(lo_x,lo_y), z(hi_x,hi_y)] — so file-level zmin/zmax stats give
    * a sound skip decision, which LayoutSpec checks from the footers:
    * the z-layout leaves files provably outside the probe's z-interval
    * (skippable), the scatter layout leaves none. This is the layout
    * trick behind Delta/Iceberg Z-ORDER, built from repartitionByRange
    * + an integer-exact interleave expression — no engine extension
    * needed, and the same arithmetic runs in the DuckDB oracle.
    */
  private val ZBits = 10
  private[graft] val ZProbe = ((100L, 200L), (300L, 400L)) // x range, y range

  /** Bit-interleave `x`,`y` (10 bits each) into a Morton value —
    * generated Spark SQL (integer-exact shifts and masks). */
  private def zSql(x: String, y: String,
      shl: (String, Int) => String, shr: (String, Int) => String): String =
    (0 until ZBits).flatMap { i =>
      Seq(shl(s"(${shr(x, i)} & 1)", 2 * i),
        shl(s"(${shr(y, i)} & 1)", 2 * i + 1))
    }.mkString(" | ")

  private def zSpark(x: String, y: String): String =
    zSql(x, y, (e, n) => s"shiftleft($e, $n)", (e, n) => s"shiftright($e, $n)")

  /** Driver-side twin for the spec's interval bound (same arithmetic). */
  private[graft] def zValue(x: Long, y: Long): Long =
    (0 until ZBits).foldLeft(0L) { (acc, i) =>
      acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }

  private[graft] def zScatteredPath(sfDir: String): String =
    s"${Medallion.warehouse(sfDir)}/lineitem_zscatter"
  private[graft] def zClusteredPath(sfDir: String): String =
    s"${Medallion.warehouse(sfDir)}/lineitem_zorder"

  def zorderProbe(spark: SparkSession, sfDir: String): DataFrame = {
    rmTree(spark, zScatteredPath(sfDir)); rmTree(spark, zClusteredPath(sfDir))
    val ((xLo, xHi), (yLo, yHi)) = ZProbe
    // 10-bit keys by multiplicative hash — uniform over [0,1024) at
    // every SF (the raw part/supp keys span too little at small scales)
    val keyed = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_quantity"),
        graft.ops.Parity.mixBucket(col("l_orderkey"), 2654435761L, 1024)
          .as("px"),
        graft.ops.Parity.mixBucket(col("l_partkey"), 2246822519L, 1024)
          .as("py"))
      .withColumn("zval", expr(zSpark("px", "py")))
    keyed.repartition(8).write.mode("overwrite").parquet(zScatteredPath(sfDir))
    keyed.repartitionByRange(8, col("zval")).sortWithinPartitions(col("zval"))
      .write.mode("overwrite").parquet(zClusteredPath(sfDir))

    spark.read.parquet(zClusteredPath(sfDir))
      .filter(col("px").between(xLo, xHi) && col("py").between(yLo, yHi))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 4).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  private lazy val zorderProbeOracle = {
    val ((xLo, xHi), (yLo, yHi)) = ZProbe
    s"""SELECT l_returnflag, COUNT(*) AS n_rows,
       |       ROUND(SUM(l_quantity), 4) AS sum_qty
       |FROM (SELECT l_returnflag, l_quantity,
       |             ${graft.ops.Parity.mixBucketSql("l_orderkey", 2654435761L, 1024)} AS px,
       |             ${graft.ops.Parity.mixBucketSql("l_partkey", 2246822519L, 1024)} AS py
       |      FROM lineitem)
       |WHERE px BETWEEN $xLo AND $xHi AND py BETWEEN $yLo AND $yHi
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  /** Per-file (min, max) of `zval` from the footers. */
  private[graft] def fileZRanges(
      spark: SparkSession, dir: String): Seq[(Long, Long)] =
    fileColumnRanges(spark, dir, "zval")

  // ------------------------------------------------------------------
  /** Hilbert-curve clustering — the same rectangle-probe workload as
    * [[zorderProbe]] (identical keys, identical probe window, so
    * LayoutSpec compares the two layouts head-to-head) written in
    * Hilbert order via the codegen'd
    * [[graft.functions.HilbertIndex]] expression. The Hilbert curve is
    * NOT coordinate-monotone (no corner-bound z-interval), but every
    * unit step is 4-adjacent, so the probe rectangle decomposes into
    * about half the contiguous curve runs Z-order needs (95 vs 188 on
    * this window — a pure property of the two curves, pinned by
    * LayoutSpec): fewer, longer scan ranges against file/row-group
    * stats. Skip decisions use the EXACT h-set of the window (the
    * point-level test a page index enables) rather than a corner
    * interval; LayoutSpec runs that test from the real parquet
    * footers. The aggregate result is layout-independent by
    * construction — the oracle is the same filtered aggregate as
    * Z-order's, which is exactly the point: clustering changes the I/O
    * shape, never the answer.
    */
  private[graft] def hScatteredPath(sfDir: String): String =
    s"${Medallion.warehouse(sfDir)}/lineitem_hscatter"
  private[graft] def hClusteredPath(sfDir: String): String =
    s"${Medallion.warehouse(sfDir)}/lineitem_hilbert"

  def hilbertProbe(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.LayoutExprs.register(spark)
    rmTree(spark, hScatteredPath(sfDir)); rmTree(spark, hClusteredPath(sfDir))
    val ((xLo, xHi), (yLo, yHi)) = ZProbe
    val keyed = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_quantity"),
        graft.ops.Parity.mixBucket(col("l_orderkey"), 2654435761L, 1024)
          .as("px"),
        graft.ops.Parity.mixBucket(col("l_partkey"), 2246822519L, 1024)
          .as("py"))
      .withColumn("hval", expr("hilbert_d(px, py)"))
    keyed.repartition(8).write.mode("overwrite").parquet(hScatteredPath(sfDir))
    keyed.repartitionByRange(8, col("hval")).sortWithinPartitions(col("hval"))
      .write.mode("overwrite").parquet(hClusteredPath(sfDir))

    spark.read.parquet(hClusteredPath(sfDir))
      .filter(col("px").between(xLo, xHi) && col("py").between(yLo, yHi))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 4).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** Per-file (min, max) of `hval` from the footers. */
  private[graft] def fileHRanges(
      spark: SparkSession, dir: String): Seq[(Long, Long)] =
    fileColumnRanges(spark, dir, "hval")

  // ------------------------------------------- parquet footer audit
  /** Per-column physical-layout audit of a written parquet table —
    * values, compressed and uncompressed byte mass, and the
    * compression ratio per column, summed over row groups from the
    * FOOTER metadata alone (no data pages read). This is the report
    * behind every storage-layout decision: which columns dominate the
    * bytes, which compress poorly (a high-entropy column that won't
    * dictionary-encode is a Z-ORDER/sort-key candidate or a
    * cast-to-narrower-type candidate), and whether a layout change
    * actually moved the on-disk mass.
    *
    * The oracle is DuckDB's own `parquet_metadata()` over the SAME
    * file — an INDEPENDENT parquet implementation reading the
    * identical footer, so the walk (offsets, row-group iteration,
    * column-path naming, size fields) is cross-validated reader vs
    * reader, the shapefile/WARC generator-parser discipline applied
    * to a format we DIDN'T hand-roll.
    *
    * Scale shape: footer metadata is KB-sized per file regardless of
    * data volume; the walk is a bounded driver pass over the file
    * list ([[fileColumnRanges]]'s shape — at a real table's file
    * count this moves into a mapPartitions over file names, same
    * walk). The fixture table writes once per session+SF as one
    * deterministic file. */
  def parquetFooterAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val tbl = footerFixture(spark, sfDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(tbl)
    val fs = p.getFileSystem(conf)
    val chunks = fs.listStatus(p).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).toSeq
      .flatMap { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala
          .map(c => (c.getPath.toDotString, c.getValueCount,
            c.getTotalSize, c.getTotalUncompressedSize))).toSeq
        finally reader.close()
      }
    chunks.toDF("col_name", "nv", "comp", "uncomp")
      .groupBy(col("col_name"))
      .agg(sum(col("nv")).as("n_values"),
        sum(col("comp")).as("compressed_bytes"),
        sum(col("uncomp")).as("uncompressed_bytes"))
      .withColumn("ratio",
        round(col("uncompressed_bytes").cast("double") /
          col("compressed_bytes"), 4))
      .orderBy(col("col_name"))
  }

  /** The audited table: documents as ONE deterministic snappy file,
    * written once per session+SF. */
  private[graft] def footerFixture(spark: SparkSession, sfDir: String): String = {
    val tbl = s"${Medallion.warehouse(sfDir)}/footer_fixture"
    Medallion.materializeOnce(spark, tbl) {
      Tables.documents(spark, sfDir)
        .repartition(1).sortWithinPartitions(col("doc_id"))
    }
    tbl
  }

  private def parquetFooterOracle(sfDir: String): String =
    s"""SELECT path_in_schema AS col_name,
       |       CAST(SUM(num_values) AS BIGINT) AS n_values,
       |       CAST(SUM(total_compressed_size) AS BIGINT)
       |         AS compressed_bytes,
       |       CAST(SUM(total_uncompressed_size) AS BIGINT)
       |         AS uncompressed_bytes,
       |       ROUND(CAST(SUM(total_uncompressed_size) AS DOUBLE)
       |             / SUM(total_compressed_size), 4) AS ratio
       |FROM parquet_metadata(
       |  '${Medallion.warehouse(sfDir)}/footer_fixture/*.parquet')
       |GROUP BY 1 ORDER BY col_name""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_layout_probe" -> (layoutProbe _),
    "q_zorder_probe" -> (zorderProbe _),
    "q_hilbert_probe" -> (hilbertProbe _),
    "q_parquet_footer" -> (parquetFooterAudit _)
  )

  def oracles(sfDir: String): Map[String, String] = Map(
    "q_layout_probe" -> layoutProbeOracle,
    "q_zorder_probe" -> zorderProbeOracle,
    // layout-independence: the Hilbert write answers the identical
    // rectangle aggregate — same oracle by design
    "q_hilbert_probe" -> zorderProbeOracle,
    "q_parquet_footer" -> parquetFooterOracle(sfDir)
  )
}

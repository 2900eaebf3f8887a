package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.Tables
import graft.ops.Parity

/** The reference's medallion persistence layer (SURVEY.md §2.1 S8–S10,
  * S12) — the part of a lakehouse that writes:
  *
  *  - S8 full replace: `CREATE OR REPLACE TABLE gold AS SELECT …`
  *    (`dags/mitma/new_gold.py:31-79`) → `write.mode("overwrite")`.
  *  - S10 partition replace: `DELETE FROM silver WHERE date='…'` then
  *    re-`INSERT` that day (`dags/mitma/silver_mitma.py:108,119-139`) →
  *    `partitionBy("date")` + `partitionOverwriteMode=dynamic`, which
  *    rewrites ONLY the partitions present in the incoming frame.
  *  - S9 append: `INSERT INTO silver SELECT …`
  *    (`dags/Economy/transform_silver_economy.py:32-64`) →
  *    `write.mode("append")`.
  *  - S12 CSV export: `COPY (SELECT …) TO '…csv'`
  *    (`dags/bussiness_layer/generate_report.py:141-147`) →
  *    `write.option("header", true).csv`.
  *
  * Scale design: partitioning silver by `date` is what makes the daily
  * re-run idempotent AND cheap at 100 TB — the dynamic overwrite touches
  * one partition's files, never the table; downstream readers get
  * partition pruning on every `WHERE date` probe for free. The append
  * path is a blind file add (no read-modify-write of existing data).
  * Everything driver-side here is two scalar date lookups (the same
  * engine→driver hop the reference's `fetchone()` uses).
  */
object Medallion {

  /** Absolute scratch-warehouse base — the ONE config point shared by
    * the gold-table writes here and every fixture generator
    * (CsvSources / Shapefile / SchemaEvolution), so a JVM launched
    * from a different cwd cannot split the warehouse into two
    * locations. Defaults to `<launch cwd>/spark-warehouse` (sbt runs
    * from the checkout root, so every entrypoint agrees) rather than a
    * hardcoded checkout path; env-overridable for JVMs launched from
    * elsewhere. */
  private[graft] val warehouseBase: String =
    sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE",
      s"${sys.props("user.dir")}/spark-warehouse")

  /** Per-SF scratch warehouse (gitignored `spark-warehouse/`), so
    * verify (sf0.01) and bench (sf0.1) runs never collide. */
  private[graft] def warehouse(sfDir: String): String =
    s"$warehouseBase/${new java.io.File(sfDir).getName}"

  /** Write-once-per-session materialization: the first caller per table
    * path computes `df` and writes it; everyone else reads the parquet
    * back. The path is recorded as written only AFTER the write
    * returns, so a failed write (disk, cancellation) leaves the session
    * able to retry instead of permanently reading a missing/partial
    * table. One helper for all gold/index hand-offs (gravity ranking,
    * typical-day patterns, minhash pairs, IVF index) — the mechanics
    * were previously four drifting copies.
    */
  private val materialized = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  // per-path build locks: two threads materializing DIFFERENT tables
  // (e.g. the typical-day gold and the IVF index) must not serialize
  // behind one global monitor for the duration of a write job
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  private[graft] def materializeOnce(spark: SparkSession, tbl: String)(
      df: => DataFrame): DataFrame = {
    buildLocks.computeIfAbsent(tbl, _ => new AnyRef).synchronized {
      if (!materialized.contains(tbl)) {
        df.write.mode("overwrite").parquet(tbl)
        materialized.add(tbl) // only reached on write success
      }
    }
    spark.read.parquet(tbl)
  }

  private[etl] def rmTree(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  // ------------------------------------------------------------------
  /** S8+S9+S10 in one verifiable pipeline: build silver partitioned by
    * date, partition-replace the first day with corrected values
    * (trips×2 — simulating the reference's daily DELETE+re-INSERT after
    * an upstream fix), append a brand-new day (the first day's rows
    * shifted past the max date, trips×0.5), then read the table back
    * from disk and aggregate per date. The oracle recomputes the exact
    * post-write state from `events` alone, so a duplicated (overwrite
    * that appended) or lost (overwrite that truncated the table)
    * partition fails the hash compare.
    */
  def partitionReplace(spark: SparkSession, sfDir: String): DataFrame = {
    val tbl = s"${warehouse(sfDir)}/silver_mobility"
    rmTree(spark, tbl) // clean slate → the query itself is idempotent
    // dynamic overwrite as a per-write option, which the file writer
    // reads before the session conf: no session-global state changes
    def overwrite(df: DataFrame): Unit =
      df.write.partitionBy("date").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic").parquet(tbl)
    // four consumers below (two writes, the min/max probe, the append
    // source) — cache or each one re-runs the events scan + holiday join
    val silver = SilverMobility.fromEvents(spark, sfDir).cache()
    try {
      overwrite(silver)

      // the reference's driver-side date probe (silver_mitma.py:108)
      val mm = silver.agg(min(col("date")), max(col("date"))).first()
      val dMin = mm.getDate(0)
      val dMax = mm.getDate(1)

      // S10: dynamic overwrite replaces ONLY the dMin partition
      overwrite(silver.filter(col("date") === lit(dMin))
        .withColumn("trips", col("trips") * 2))

      // S9: append a new day — no existing file is touched
      silver.filter(col("date") === lit(dMin))
        .withColumn("date", date_add(lit(dMax), 1))
        .withColumn("trips", col("trips") * 0.5)
        .write.partitionBy("date").mode("append").parquet(tbl)
    } finally silver.unpersist()

    // read back from disk: the partition column comes from directory
    // names, and the groupBy("date") prunes/aggregates per partition
    spark.read.parquet(tbl)
      .groupBy(col("date"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("trips")), 4).as("sum_trips"),
        countDistinct(col("hour_period")).as("n_hours"))
      .orderBy(col("date"))
  }

  private val partitionReplaceOracle =
    s"""WITH silver AS (${SilverMobility.fromEventsSql}),
       |bounds AS (SELECT MIN(date) AS dmin, MAX(date) AS dmax FROM silver),
       |post_write AS (
       |  SELECT s.date, s.hour_period,
       |         CASE WHEN s.date = b.dmin THEN s.trips * 2 ELSE s.trips END AS trips
       |  FROM silver s, bounds b
       |  UNION ALL
       |  SELECT b.dmax + 1 AS date, s.hour_period, s.trips * 0.5 AS trips
       |  FROM silver s, bounds b WHERE s.date = b.dmin)
       |SELECT date, COUNT(*) AS n_rows,
       |       ROUND(SUM(trips), 4) AS sum_trips,
       |       COUNT(DISTINCT hour_period) AS n_hours
       |FROM post_write GROUP BY date ORDER BY date""".stripMargin

  // ------------------------------------------------------------------
  /** S12: gold report → CSV with header → read back through an explicit
    * schema. Round-trips the aggregate through text (doubles are written
    * with Java's shortest-round-trip formatting, so the parse restores
    * the identical double) and returns the re-read frame; the oracle
    * computes the same aggregate straight from `orders`.
    */
  def csvExport(spark: SparkSession, sfDir: String): DataFrame = {
    val out = s"${warehouse(sfDir)}/report_csv"
    rmTree(spark, out)
    Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 4).as("total_price"))
      .coalesce(1) // single CSV part — the reference exports one file
      .write.option("header", true).mode("overwrite").csv(out)

    spark.read
      .option("header", true)
      .schema(StructType(Seq(
        StructField("priority", StringType),
        StructField("n_orders", LongType),
        StructField("total_price", DoubleType))))
      .csv(out)
      .orderBy(col("priority"))
  }

  private val csvExportOracle =
    """SELECT o_orderpriority AS priority, COUNT(*) AS n_orders,
      |       ROUND(SUM(o_totalprice), 4) AS total_price
      |FROM orders GROUP BY 1 ORDER BY priority""".stripMargin

  // ------------------------------------------------------------------
  /** JSONL sharded export — the delivery format of a training-data
    * pipeline: documents written as hash-sharded JSON-lines
    * directories (`shard=N/part-*.json`), then READ BACK and audited.
    * The ledger hashes the round-tripped text (60-bit md5 prefix,
    * modded to keep the per-shard sum overflow-free), so a mangled
    * JSON escape, a lost row, or a mis-routed shard all fail the
    * oracle, which recomputes the same ledger from the source parquet.
    * At 100 TB this is the writer's actual shape: one hash projection
    * + a partitioned write (file routing, no extra shuffle), and the
    * shard column is the reader's unit of parallelism.
    */
  def jsonlExport(spark: SparkSession, sfDir: String): DataFrame = {
    val out = s"${warehouse(sfDir)}/docs_jsonl"
    rmTree(spark, out)
    Tables.documents(spark, sfDir)
      .withColumn("shard",
        graft.ops.Parity.mixBucket(col("doc_id"), 2654435761L, 4))
      .write.partitionBy("shard").mode("overwrite").json(out)

    spark.read.json(out)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("chars_sum"),
        sum(Parity.md5Key(col("text").cast("binary")) % 1000000000)
          .cast("long").as("text_csum"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("shard"))
  }

  private val jsonlExportOracle =
    s"""SELECT ${graft.ops.Parity.mixBucketSql("doc_id", 2654435761L, 4)} AS shard,
       |       COUNT(*) AS n_docs,
       |       CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
       |       CAST(SUM(${Parity.md5KeySql("text")}
       |                % 1000000000) AS BIGINT) AS text_csum,
       |       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
       |FROM documents GROUP BY shard ORDER BY shard""".stripMargin

  // ------------------------------------------------------------------
  /** Row-level MERGE (upsert): apply an update batch to a keyed table —
    * matched keys get the new row, unmatched update rows insert, all
    * other base rows survive. Implemented the way parquet-era engines
    * (and Delta/Iceberg under the hood) execute MERGE: updates ∪
    * (base ANTI JOIN updates), rewritten to storage — one shuffle on
    * the merge key. The update batch is derived deterministically
    * (every 7th customer gets a +100 balance correction; 10 new
    * customers append), and the table is read BACK from disk before the
    * checksum, so a lost or duplicated key fails the oracle's
    * recomputed post-merge state. At 100 TB the same plan runs
    * partition-scoped: file/partition pruning limits the rewrite to
    * files containing touched keys — the anti-join shape is unchanged.
    */
  def mergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val tbl = s"${warehouse(sfDir)}/customer_merged"
    rmTree(spark, tbl)
    val base = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
    val updates =
      base.filter(col("c_custkey") % 7 === 0)
        .withColumn("c_acctbal", round(col("c_acctbal") + 100.0, 2))
        .unionByName(
          base.filter(col("c_custkey") < 10)
            .select((col("c_custkey") + 1000000L).as("c_custkey"),
              lit(0.0).as("c_acctbal"), lit("NEWSEG").as("c_mktsegment")))
    updates.unionByName(base.join(updates, Seq("c_custkey"), "left_anti"))
      .write.mode("overwrite").parquet(tbl)

    spark.read.parquet(tbl)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("c_acctbal")), 4).as("bal_sum"),
        max(col("c_custkey")).as("max_key"))
      .orderBy(col("c_mktsegment"))
  }

  private val mergeUpsertOracle =
    """WITH base AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
      |updates AS (
      |  SELECT c_custkey, ROUND(c_acctbal + 100.0, 2) AS c_acctbal, c_mktsegment
      |  FROM base WHERE c_custkey % 7 = 0
      |  UNION ALL
      |  SELECT c_custkey + 1000000 AS c_custkey, 0.0 AS c_acctbal,
      |         'NEWSEG' AS c_mktsegment
      |  FROM base WHERE c_custkey < 10),
      |merged AS (
      |  SELECT * FROM updates
      |  UNION ALL
      |  SELECT * FROM base WHERE c_custkey NOT IN (SELECT c_custkey FROM updates))
      |SELECT c_mktsegment, COUNT(*) AS n_rows,
      |       ROUND(SUM(c_acctbal), 4) AS bal_sum,
      |       MAX(c_custkey) AS max_key
      |FROM merged GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ------------------------------------------------------------------
  /** Small-file compaction — the lakehouse maintenance op every
    * incremental writer needs: a streaming/micro-batch ingest leaves a
    * partition as dozens of tiny files (simulated here by a
    * repartition(48) write), and the compactor rewrites it into
    * ceil(bytes / targetFileSize) right-sized files. Scan cost at
    * 100 TB is dominated by file-open/footer overhead once files are
    * small, so the rewrite IS the optimization; content must round-trip
    * exactly — the read-back aggregate hash-fails on any lost or
    * duplicated row. File-count reduction is driver-observable (FS
    * listing) and injected as a literal boolean the oracle states,
    * the q_approx_distinct in-engine-contract pattern; MedallionSpec
    * asserts the counts themselves.
    */
  private val CompactTargetBytes = 8L * 1024 * 1024

  private[graft] def compactCounts(
      spark: SparkSession, sfDir: String): (Int, Int) = {
    val frag = s"${warehouse(sfDir)}/lineitem_fragmented"
    val comp = s"${warehouse(sfDir)}/lineitem_compacted"
    def parts(dir: String): Array[Path] = {
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getPath).filter(_.getName.endsWith(".parquet"))
    }
    (parts(frag).length, parts(comp).length)
  }

  def compactTable(spark: SparkSession, sfDir: String): DataFrame = {
    val frag = s"${warehouse(sfDir)}/lineitem_fragmented"
    val comp = s"${warehouse(sfDir)}/lineitem_compacted"
    rmTree(spark, frag); rmTree(spark, comp)

    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
        col("l_extendedprice"))
      .repartition(48) // the small-file state a micro-batch writer leaves
      .write.mode("overwrite").parquet(frag)

    val fragPath = new Path(frag)
    val fs = fragPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fragFiles = fs.listStatus(fragPath)
      .filter(_.getPath.getName.endsWith(".parquet"))
    val bytes = fragFiles.map(_.getLen).sum
    val nOut = math.max(1,
      math.ceil(bytes.toDouble / CompactTargetBytes).toInt)
    // coalesce, not repartition: compaction must not pay a shuffle —
    // it only narrows the file count (each output task concatenates
    // whole input files)
    spark.read.parquet(frag).coalesce(nOut)
      .write.mode("overwrite").parquet(comp)

    val (nBefore, nAfter) = compactCounts(spark, sfDir)
    spark.read.parquet(comp)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_price"))
      .withColumn("files_reduced", lit(nBefore > nAfter))
      .orderBy(col("l_returnflag"))
  }

  private val compactTableOracle =
    """SELECT l_returnflag, COUNT(*) AS n_rows,
      |       ROUND(SUM(l_quantity), 4) AS sum_qty,
      |       ROUND(SUM(l_extendedprice), 4) AS sum_price,
      |       TRUE AS files_reduced
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------------------
  /** Versioned snapshot writes — poor-man's time travel for the gold
    * layer: every write lands in an immutable `v<N>` directory and a
    * `_LATEST` pointer file flips to it afterwards, so (a) readers never
    * observe a half-written table (the version directory is complete
    * before the pointer moves — the same reader isolation a Delta/
    * Iceberg commit provides), and (b) any historical version stays
    * queryable until explicitly vacuumed. The reference's
    * `CREATE OR REPLACE TABLE gold` destroys the previous state on
    * every daily run; at 100 TB the snapshot layout is what makes a bad
    * upstream day recoverable (repoint instead of recompute) and lets
    * audits pin the exact table a report was built from.
    */
  private[graft] def snapshotWrite(
      spark: SparkSession, base: String, df: DataFrame): Int =
    snapshotCommit(spark, base, df, latestVersion(spark, base))

  /** A commit lost the optimistic-concurrency race: the `_LATEST`
    * generation the writer based its write on is no longer current
    * (or another writer claimed the next generation first). The loser
    * must RE-READ the current snapshot, re-derive its write, and
    * retry — blindly re-flipping the pointer would silently discard
    * the winner's rows (the lost-update anomaly). */
  private[graft] final case class SnapshotConflict(
      base: String, expected: Option[Int], found: Option[Int])
      extends RuntimeException(
        s"snapshot conflict on $base: based on $expected, found $found")

  /** Optimistic-concurrency snapshot commit — the multi-writer
    * semantics [[snapshotWrite]]'s single-writer flow lacked: the
    * writer states the generation its write was DERIVED from
    * (`basedOn`); the commit (a) pre-checks the pointer still reads
    * that generation, (b) stages the data into a private directory,
    * and (c) claims the next generation by creating `v<N>._claim`
    * with overwrite=false — an atomic create-if-absent on HDFS
    * (object-store ports use the same primitive: S3 conditional PUT,
    * GCS if-generation-match), so of two racing writers EXACTLY ONE
    * wins the generation; the loser's claim throws, its staging is
    * cleaned up, and it surfaces [[SnapshotConflict]] to retry
    * against the new state. Readers are untouched: the version
    * directory is complete before the pointer moves, same as before.
    */
  private[graft] def snapshotCommit(
      spark: SparkSession, base: String, df: DataFrame,
      basedOn: Option[Int]): Int = {
    val next = snapshotStage(spark, base, df, basedOn)
    snapshotPublish(spark, base, next)
    next
  }

  /** The STAGE half of [[snapshotCommit]]: claim a generation and
    * materialize its complete version directory WITHOUT moving the
    * pointer — readers cannot see it yet. This is the substrate of
    * write-audit-publish ([[wapCommit]]): audits run against the very
    * files a publish would expose. */
  private[graft] def snapshotStage(
      spark: SparkSession, base: String, df: DataFrame,
      basedOn: Option[Int]): Int = {
    val basePath = new Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = latestVersion(spark, base)
    if (cur != basedOn) throw SnapshotConflict(base, basedOn, cur)
    val next = cur.getOrElse(0) + 1
    val staged = new Path(
      s"$base/_staged_${java.util.UUID.randomUUID().toString}")
    df.write.mode("overwrite").parquet(staged.toString)
    val claim = new Path(s"$base/v$next._claim")
    try {
      val out = fs.create(claim, false) // atomic create-if-absent
      out.write(next.toString.getBytes("UTF-8")); out.close()
    } catch {
      case _: java.io.IOException =>
        fs.delete(staged, true) // lost the race: clean the orphan up
        throw SnapshotConflict(base, basedOn, latestVersion(spark, base))
    }
    if (!fs.rename(staged, new Path(s"$base/v$next")))
      throw new java.io.IOException(s"staging rename failed for $base/v$next")
    next
  }

  /** The PUBLISH half: flip `_LATEST` to an already-staged complete
    * version directory. tmp + delete + rename (HDFS rename won't
    * overwrite); a crash between delete and rename leaves the pointer
    * missing, and latestVersion falls back to directory listing —
    * never a torn read. */
  private[graft] def snapshotPublish(
      spark: SparkSession, base: String, version: Int): Unit = {
    val basePath = new Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(s"$base/_LATEST.tmp")
    val out = fs.create(tmp, true)
    out.write(version.toString.getBytes("UTF-8")); out.close()
    val ptr = new Path(s"$base/_LATEST")
    if (fs.exists(ptr)) fs.delete(ptr, false)
    if (!fs.rename(tmp, ptr))
      throw new java.io.IOException(s"pointer flip failed for $base")
  }

  /** A staged generation that failed its audit: drop the version
    * directory and its claim — readers never saw it, so this is pure
    * cleanup, not a rollback. */
  private[graft] def snapshotDiscard(
      spark: SparkSession, base: String, version: Int): Unit = {
    val basePath = new Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$base/v$version"), true)
    fs.delete(new Path(s"$base/v$version._claim"), false)
  }

  /** Write-audit-publish — the Iceberg/Delta WAP pattern on the
    * snapshot substrate: stage the candidate as a complete but
    * UNPUBLISHED generation, run the audit battery against the staged
    * FILES (what a publish would expose, not what the writer computed
    * in memory), and flip the pointer only if every check passes;
    * a failed candidate is discarded without readers ever seeing it.
    * Returns (checks passed, checks run, published?). */
  private[graft] def wapCommit(
      spark: SparkSession, base: String, df: DataFrame,
      checks: Seq[DataFrame => Boolean]): (Int, Int, Boolean) = {
    val v = snapshotStage(spark, base, df, latestVersion(spark, base))
    val stagedDf = spark.read.parquet(s"$base/v$v")
    val results = checks.map(_(stagedDf))
    val ok = results.forall(identity)
    if (ok) snapshotPublish(spark, base, v)
    else snapshotDiscard(spark, base, v)
    (results.count(identity), checks.length, ok)
  }

  /** WAP attempt ledger: a BAD candidate (every '1-*' priority's count
    * negated — the planted upstream bug) must fail positivity and
    * conservation and stay invisible (pointer untouched, generation
    * discarded); the GOOD candidate must pass all three audits and
    * publish as v1. Audit checks are 1-row aggregate actions against
    * the staged parquet — the bounded gate reads a real WAP runs.
    */
  def wap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = s"${warehouse(sfDir)}/orders_gold_wap"
    rmTree(spark, base)
    val good = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 4).as("revenue"))
    val bad = good.withColumn("n_orders",
      when(col("o_orderpriority").startsWith("1"), -col("n_orders"))
        .otherwise(col("n_orders")))
    val total = Tables.orders(spark, sfDir).count()
    val checks: Seq[DataFrame => Boolean] = Seq(
      df => df.filter(col("n_orders") <= 0).count() == 0, // positivity
      df => df.agg(coalesce(sum(col("n_orders")), lit(0L)))
        .head().getLong(0) == total, // conservation vs the source
      df => df.limit(1).count() > 0) // nonempty
    val attempts = Seq(bad, good).zipWithIndex.map { case (df, i) =>
      val (passed, nChecks, ok) = wapCommit(spark, base, df, checks)
      val live = latestVersion(spark, base).getOrElse(0)
      val liveRows =
        if (live > 0) snapshotRead(spark, base).count() else 0L
      (i + 1, nChecks.toLong, passed.toLong, ok, live, liveRows)
    }
    attempts.toDF("attempt", "n_checks", "n_passed", "published",
      "live_version", "live_rows")
      .orderBy(col("attempt"))
  }

  /** The bad candidate fails positivity AND conservation (TPC-H always
    * has '1-URGENT' orders) and passes only nonempty; the good one
    * publishes v1 with one row per priority. */
  private val wapOracle =
    """WITH g AS (SELECT o_orderpriority FROM orders GROUP BY 1)
      |SELECT 1 AS attempt, CAST(3 AS BIGINT) AS n_checks,
      |       CAST(1 AS BIGINT) AS n_passed, FALSE AS published,
      |       0 AS live_version, CAST(0 AS BIGINT) AS live_rows
      |UNION ALL
      |SELECT 2, 3, 3, TRUE, 1, (SELECT COUNT(*) FROM g)
      |ORDER BY attempt""".stripMargin

  /** Janitor for ORPHANED claims — the recovery half of
    * [[snapshotCommit]]'s arbiter: a writer that crashed between
    * claiming a generation and renaming its staging leaves
    * `v<N>._claim` with no `v<N>` directory, and every later claimant
    * of N then loses the race forever (the table wedges). Deleting
    * the claim is safe only once the claimant is provably dead;
    * absent leases, this operator-run janitor uses a
    * modification-time grace period (the Delta/Iceberg orphan-cleanup
    * shape — a healthy winner goes claim→rename→flip in well under
    * any sane grace). Stranded `_staged_*` directories past the grace
    * are swept too. Returns the reclaimed generation numbers. */
  private[graft] def snapshotRecover(
      spark: SparkSession, base: String,
      graceMs: Long = 3600000L): Seq[Int] = {
    val basePath = new Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(basePath)) return Seq.empty
    val now = System.currentTimeMillis()
    val entries = fs.listStatus(basePath)
    val reclaimed = entries.toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("v") && n.endsWith("._claim")) {
        val gen = n.stripPrefix("v").stripSuffix("._claim").toIntOption
        val orphan = gen.exists(g => !fs.exists(new Path(s"$base/v$g")))
        if (orphan && now - st.getModificationTime > graceMs) {
          fs.delete(st.getPath, false); gen
        } else None
      } else None
    }
    entries.filter(_.getPath.getName.startsWith("_staged_"))
      .filter(st => now - st.getModificationTime > graceMs)
      .foreach(st => fs.delete(st.getPath, true))
    reclaimed
  }

  /** Retry loop for the LOSER side of [[snapshotCommit]]: re-derive
    * the write from the now-current snapshot and try again — the
    * standard optimistic-concurrency client shape. `derive` receives
    * the current latest version (None for an empty table) and returns
    * the full next-generation table. */
  private[graft] def snapshotCommitRetry(
      spark: SparkSession, base: String,
      derive: Option[Int] => DataFrame, maxAttempts: Int = 5): Int = {
    var attempt = 0
    var committed: Option[Int] = None
    while (committed.isEmpty) {
      attempt += 1
      val basedOn = latestVersion(spark, base)
      try committed = Some(snapshotCommit(spark, base, derive(basedOn), basedOn))
      catch { case _: SnapshotConflict if attempt < maxAttempts => () }
    }
    committed.get
  }

  private[graft] def latestVersion(
      spark: SparkSession, base: String): Option[Int] = {
    val basePath = new Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptr = new Path(s"$base/_LATEST")
    if (fs.exists(ptr)) {
      val in = fs.open(ptr)
      val s = scala.io.Source.fromInputStream(in).mkString.trim
      in.close()
      s.toIntOption
    } else if (fs.exists(basePath)) {
      // fallback: newest complete version directory
      fs.listStatus(basePath).map(_.getPath.getName)
        .filter(_.startsWith("v")).flatMap(_.drop(1).toIntOption)
        .maxOption
    } else None
  }

  /** Retention vacuum: delete every snapshot older than the newest
    * `keep` versions — the cleanup half of time travel (disk is the
    * price of repointability; retention bounds it). The pointer target
    * is never deleted even if `keep` would allow it, so a concurrent
    * reader resolving `_LATEST` cannot lose its table mid-read. */
  private[graft] def snapshotVacuum(
      spark: SparkSession, base: String, keep: Int): Seq[Int] = {
    require(keep >= 1, s"must keep at least one version, got $keep")
    val basePath = new Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(basePath)) return Seq.empty
    val versions = fs.listStatus(basePath).map(_.getPath.getName)
      .filter(_.startsWith("v")).flatMap(_.drop(1).toIntOption).sorted
    val pinned = latestVersion(spark, base)
    val drop = versions.dropRight(keep).filterNot(pinned.contains).toSeq
    drop.foreach { v =>
      fs.delete(new Path(s"$base/v$v"), true)
      // the generation's claim guards a LIVE version; once the version
      // is vacuumed the claim is trash (snapshotRecover's orphan rule
      // would otherwise have to age it out)
      fs.delete(new Path(s"$base/v$v._claim"), false)
    }
    drop
  }

  private[graft] def snapshotRead(spark: SparkSession, base: String,
      version: Option[Int] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, base)).getOrElse(
      throw new java.util.NoSuchElementException(s"no snapshot under $base"))
    spark.read.parquet(s"$base/v$v")
  }

  /** Two snapshot generations of a per-segment gold table (v2 applies
    * the balance corrections), then BOTH read back — v1 via explicit
    * version pin, v2 via the pointer. The oracle recomputes both
    * states from `customer`, so a v2 write that clobbered v1, or a
    * pointer pointing at the wrong generation, fails the hash. */
  def timeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"${warehouse(sfDir)}/customer_gold_versions"
    rmTree(spark, base)
    val byseg = Tables.customer(spark, sfDir)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_custs"),
        round(sum(col("c_acctbal")), 4).as("bal_sum"))
    snapshotWrite(spark, base, byseg)
    val corrected = Tables.customer(spark, sfDir)
      .withColumn("c_acctbal",
        when(col("c_custkey") % 7 === 0, round(col("c_acctbal") + 100.0, 2))
          .otherwise(col("c_acctbal")))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_custs"),
        round(sum(col("c_acctbal")), 4).as("bal_sum"))
    snapshotWrite(spark, base, corrected)

    snapshotRead(spark, base, Some(1)).withColumn("version", lit(1))
      .unionByName(snapshotRead(spark, base).withColumn("version", lit(2)))
      .select(col("version"), col("c_mktsegment"), col("n_custs"),
        col("bal_sum"))
      .orderBy(col("version"), col("c_mktsegment"))
  }

  private val timeTravelOracle =
    """SELECT 1 AS version, c_mktsegment, COUNT(*) AS n_custs,
      |       ROUND(SUM(c_acctbal), 4) AS bal_sum
      |FROM customer GROUP BY c_mktsegment
      |UNION ALL
      |SELECT 2 AS version, c_mktsegment, COUNT(*) AS n_custs,
      |       ROUND(SUM(CASE WHEN c_custkey % 7 = 0
      |                      THEN ROUND(c_acctbal + 100.0, 2)
      |                      ELSE c_acctbal END), 4) AS bal_sum
      |FROM customer GROUP BY c_mktsegment
      |ORDER BY version, c_mktsegment""".stripMargin

  // ------------------------------------------------------------------
  /** Snapshot CDC diff — the change feed between two snapshot versions,
    * derived entirely from storage (no change log needed): write two
    * row-level generations of a customer gold table through the
    * versioned-snapshot path, read BOTH back, and classify every key as
    * insert / delete / update / unchanged via one full-outer join on
    * the key. This is how a downstream incremental consumer bootstraps
    * off a snapshot store that doesn't emit CDC natively; at 100 TB the
    * join is key-partitioned on both sides (two parquet scans, one
    * exchange each) and the diff never materializes unchanged rows
    * beyond the join itself. v2 drops keys ≡7 (mod 11), adds keys ≡3
    * (mod 11) that v1 lacked, and corrects balances for keys ≡0 (mod 7)
    * — so all four change classes occur. The oracle recomputes both
    * generations analytically from `customer`; a write that clobbered
    * v1, or a diff that misclassifies a key, fails the hash.
    */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"${warehouse(sfDir)}/customer_cdc_versions"
    rmTree(spark, base)
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    snapshotWrite(spark, base, cust.filter(col("c_custkey") % 11 =!= 3))
    snapshotWrite(spark, base,
      cust.filter(col("c_custkey") % 11 =!= 7)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 7 === 0,
            round(col("c_acctbal") + 100.0, 2)).otherwise(col("c_acctbal"))))
    val v1 = snapshotRead(spark, base, Some(1))
      .select(col("c_custkey").as("k"), col("c_acctbal").as("old_bal"))
    val v2 = snapshotRead(spark, base, Some(2))
      .select(col("c_custkey").as("k"), col("c_acctbal").as("new_bal"))
    v1.join(v2, Seq("k"), "full_outer")
      .select(
        when(col("old_bal").isNull, lit("insert"))
          .when(col("new_bal").isNull, lit("delete"))
          .when(col("old_bal") =!= col("new_bal"), lit("update"))
          .otherwise(lit("unchanged")).as("change_type"),
        (coalesce(col("new_bal"), lit(0.0)) -
          coalesce(col("old_bal"), lit(0.0))).as("delta"))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n_keys"),
        round(sum(col("delta")), 4).as("bal_delta"))
      .orderBy(col("change_type"))
  }

  private val snapshotDiffOracle =
    """WITH v1 AS (SELECT c_custkey AS k, c_acctbal AS bal
      |            FROM customer WHERE c_custkey % 11 <> 3),
      |     v2 AS (SELECT c_custkey AS k,
      |                   CASE WHEN c_custkey % 7 = 0
      |                        THEN ROUND(c_acctbal + 100.0, 2)
      |                        ELSE c_acctbal END AS bal
      |            FROM customer WHERE c_custkey % 11 <> 7)
      |SELECT CASE WHEN v1.k IS NULL THEN 'insert'
      |            WHEN v2.k IS NULL THEN 'delete'
      |            WHEN v1.bal <> v2.bal THEN 'update'
      |            ELSE 'unchanged' END AS change_type,
      |       COUNT(*) AS n_keys,
      |       ROUND(SUM(COALESCE(v2.bal, 0) - COALESCE(v1.bal, 0)), 4)
      |         AS bal_delta
      |FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  /** Signed-delta incremental view maintenance: a materialized
    * SUM/COUNT aggregate is brought current by aggregating ONLY the
    * delta — inserts carry +1, deletes carry −1 — and merging the
    * signed partials into the base, never rescanning history. Base =
    * orders before 1998; delta = 1998+ orders as inserts plus a
    * deterministic delete set (orderkey % 37 = 0 of the base) as
    * retractions. COUNT merges as Σ(sign), SUM as Σ(sign·cents) — the
    * classic IVM identity for abelian aggregates (MIN/MAX are not
    * incrementally maintainable this way; that asymmetry is the
    * documented boundary of the technique). The oracle recomputes the
    * final state directly from the definition — base minus deletes
    * plus inserts — touching none of the delta algebra.
    *
    * Scale: the base aggregate is read, not rebuilt; the delta
    * aggregate shuffles only delta-sized data; the merge is a
    * group-count-sized unionByName + re-aggregate.
    */
  def ivmSigned(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority").as("priority"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
        year(col("o_orderdate")).as("yr"))
    val base = orders.filter(col("yr") < 1998)
    val baseAgg = base.groupBy(col("priority"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("tot"))
    val delta = orders.filter(col("yr") >= 1998)
        .select(col("priority"), col("cents"), lit(1L).as("sign"))
      .unionByName(base.filter(col("o_orderkey") % 37 === 0)
        .select(col("priority"), col("cents"), lit(-1L).as("sign")))
    val deltaAgg = delta.groupBy(col("priority"))
      .agg(sum(col("sign")).as("n"), sum(col("sign") * col("cents")).as("tot"))
    baseAgg.unionByName(deltaAgg)
      .groupBy(col("priority"))
      .agg(sum(col("n")).as("n"), sum(col("tot")).as("tot_cents"))
      .orderBy(col("priority"))
  }

  private val ivmSignedOracle =
    """WITH o AS (
      |  SELECT o_orderkey, o_orderpriority AS priority,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |         year(o_orderdate) AS yr
      |  FROM orders),
      |final AS (
      |  SELECT * FROM o
      |  WHERE yr >= 1998 OR (yr < 1998 AND o_orderkey % 37 <> 0))
      |SELECT priority, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS tot_cents
      |FROM final GROUP BY priority ORDER BY priority""".stripMargin

  // ------------------------------------------- dynamic partition pruning
  /** Dynamic partition pruning, proven on a real partitioned layout —
    * the runtime feature that makes star joins cheap at 100 TB: the
    * fact table (events, day-partitioned, written once) is joined to a
    * tiny day-dimension FILTERED AT RUNTIME ('promo' days), and
    * Catalyst injects the dim's surviving keys into the fact scan's
    * PartitionFilters as a dynamicpruning subquery — only ~4 of 30
    * day directories are ever read, though the query names no day
    * literal. PlanSpec pins the `dynamicpruning` expression in the
    * scan; this query's oracle pins the VALUES.
    *
    * Static pruning (a literal `day = X`) is planning-time; this is
    * the runtime variant a BI layer exercises constantly — filters
    * arrive through dimension tables, not partition-column literals.
    */
  // --------------------------------------- deletion vectors (MOR read)
  /** Merge-on-read positional deletes — the Iceberg-v2 / Delta
    * deletion-vector read path, the third delete strategy beside
    * copy-on-write ([[partitionReplace]]) and log-fold ([[cdcApply]]):
    * data files are IMMUTABLE and deletes ship as (file, position)
    * vectors applied at read time by an anti-join. Base layout:
    * orders bucketed into 8 "files" (o_orderkey mod 8) with the
    * write-time position = row_number per file in key order — the
    * position a real writer freezes into the file footer. Two delete
    * sources compose, exactly as they do in production: an EQUALITY
    * delete (every order of the c_custkey mod 97 == 0 GDPR cohort)
    * rewritten to positions through the base (the write-path rewrite
    * that keeps reads join-free on payload columns), and a direct
    * POSITIONAL vector left by an earlier compaction (file 3, every
    * 50th position). The read applies the DISTINCT union (the two
    * sources overlap — both tallies ship beside the deduped count so
    * the overlap is visible), and per-file live counts + exact cents
    * prove the identity n_rows = n_live + n_deleted row by row.
    *
    * Scale shape: positions are assigned once at write (the per-file
    * window here stands in for the writer's file-local row counter —
    * partitioned by file, never global); DV frames are deleted-rows-
    * sized, broadcast into one anti-join keyed (file, pos); the
    * readout is one per-file aggregate. No payload column ever joins
    * against the DV — that's the point of positional deletes. */
  def deleteVectors(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = Window.partitionBy(col("file_id")).orderBy(col("o_orderkey"))
    val base = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
        pmod(col("o_orderkey"), lit(8L)).as("file_id"))
      .withColumn("pos", row_number().over(pos).cast("long"))
    val gdpr = Tables.customer(spark, sfDir)
      .filter(pmod(col("c_custkey"), lit(97L)) === 0L)
      .select(col("c_custkey"))
    val dvEq = base.join(gdpr, base("o_custkey") === gdpr("c_custkey"))
      .select(col("file_id"), col("pos"))
    val dvPos = base.filter(col("file_id") === 3L && col("pos") % 50L === 0L)
      .select(col("file_id"), col("pos"))
    val dv = dvEq.unionByName(dvPos).distinct()
    val perFileDeleted = dv.groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_deleted"))
    val live = base.join(dv, Seq("file_id", "pos"), "left_anti")
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_live"),
        sum(expr("CAST(cents AS DECIMAL(38,0))")).cast("long")
          .as("live_cents"))
    base.groupBy(col("file_id")).agg(count(lit(1)).as("n_rows"))
      .join(dvEq.groupBy(col("file_id")).agg(count(lit(1)).as("n_eq")),
        Seq("file_id"), "left_outer")
      .join(dvPos.groupBy(col("file_id")).agg(count(lit(1)).as("n_pos")),
        Seq("file_id"), "left_outer")
      .join(perFileDeleted, Seq("file_id"), "left_outer")
      .join(live, Seq("file_id"), "left_outer")
      .na.fill(0L, Seq("n_eq", "n_pos", "n_deleted"))
      .withColumn("identity_ok",
        col("n_rows") === col("n_live") + col("n_deleted"))
      .select(col("file_id"), col("n_rows"), col("n_eq"), col("n_pos"),
        col("n_deleted"), col("n_live"), col("live_cents"),
        col("identity_ok"))
      .orderBy(col("file_id"))
  }

  private val deleteVectorsOracle =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |         o_orderkey % 8 AS file_id,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY o_orderkey % 8
      |                                 ORDER BY o_orderkey) AS BIGINT) AS pos
      |  FROM orders),
      |dv_eq AS (
      |  SELECT file_id, pos FROM base
      |  JOIN customer ON o_custkey = c_custkey AND c_custkey % 97 = 0),
      |dv_pos AS (
      |  SELECT file_id, pos FROM base
      |  WHERE file_id = 3 AND pos % 50 = 0),
      |dv AS (SELECT DISTINCT file_id, pos FROM
      |         (SELECT * FROM dv_eq UNION ALL SELECT * FROM dv_pos)),
      |live AS (
      |  SELECT b.file_id, CAST(COUNT(*) AS BIGINT) AS n_live,
      |         CAST(SUM(CAST(cents AS HUGEINT)) AS BIGINT) AS live_cents
      |  FROM base b ANTI JOIN dv
      |    ON b.file_id = dv.file_id AND b.pos = dv.pos
      |  GROUP BY 1),
      |agg AS (
      |  SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_rows FROM base
      |  GROUP BY 1)
      |SELECT a.file_id, a.n_rows,
      |       COALESCE(e.n_eq, 0) AS n_eq,
      |       COALESCE(p.n_pos, 0) AS n_pos,
      |       COALESCE(d.n_deleted, 0) AS n_deleted,
      |       l.n_live, l.live_cents,
      |       a.n_rows = l.n_live + COALESCE(d.n_deleted, 0) AS identity_ok
      |FROM agg a
      |LEFT JOIN (SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_eq
      |           FROM dv_eq GROUP BY 1) e ON e.file_id = a.file_id
      |LEFT JOIN (SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_pos
      |           FROM dv_pos GROUP BY 1) p ON p.file_id = a.file_id
      |LEFT JOIN (SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_deleted
      |           FROM dv GROUP BY 1) d ON d.file_id = a.file_id
      |LEFT JOIN live l ON l.file_id = a.file_id
      |ORDER BY a.file_id""".stripMargin

  def dppPrune(spark: SparkSession, sfDir: String): DataFrame = {
    val factTbl = s"${warehouse(sfDir)}/events_by_day"
    val dimTbl = s"${warehouse(sfDir)}/day_dim"
    val fact = materializeOncePartitioned(spark, factTbl, "day") {
      graft.Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          expr("unix_millis(ts) div 86400000").as("day"))
    }
    val dim = materializeOnce(spark, dimTbl) {
      graft.Tables.events(spark, sfDir)
        .select(expr("unix_millis(ts) div 86400000").as("day")).distinct()
        .withColumn("label",
          when(pmod(col("day"), lit(7)) === 3, lit("promo")).otherwise(lit("base")))
    }
    fact.join(dim.filter(col("label") === "promo"), Seq("day"))
      // partition-column read-back infers INT; restore the long the
      // fact wrote so the day key is BIGINT in both engines
      .groupBy(col("day").cast("long").as("day"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents"))
      .orderBy(col("day"))
  }

  /** [[materializeOnce]] with a partition column (separate because the
    * partitioned layout IS what its callers are proving). */
  private[graft] def materializeOncePartitioned(
      spark: SparkSession, tbl: String, part: String)(
      df: => DataFrame): DataFrame = {
    buildLocks.computeIfAbsent(tbl, _ => new AnyRef).synchronized {
      if (!materialized.contains(tbl)) {
        df.write.partitionBy(part).mode("overwrite").parquet(tbl)
        materialized.add(tbl)
      }
    }
    spark.read.parquet(tbl)
  }

  private val dppPruneOracle =
    """WITH f AS (
      |  SELECT epoch_ms(ts) // 86400000 AS day,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events)
      |SELECT day, COUNT(*) AS n_events, CAST(SUM(cents) AS BIGINT) AS cents
      |FROM f WHERE day % 7 = 3
      |GROUP BY day ORDER BY day""".stripMargin

  // --------------------------------------------------- CDC log compaction
  /** CDC log compaction — folding an ordered upsert/delete change log
    * into current state, the consumer side of every change-data-capture
    * pipeline (a Debezium-style stream compacted into a queryable
    * snapshot). The event stream stands in for the log: key = user_id,
    * LSN = event_id (the monotone, unique log sequence number), op =
    * tombstone for 'error' events, else upsert of the row payload
    * (`value`). Current state per key = the payload at the key's MAX
    * LSN; a key whose final op is a tombstone is absent from the
    * snapshot (but still counted in the log depth n_ops).
    *
    * Scale shape: last-writer-wins is a partial-aggregable `max(lsn)`
    * per key plus a join-back on the unique (key, lsn) pair — the
    * span-dedup doctrine: NOT a `row_number()` window over the log,
    * which would ship every update of one hot entity (a key updated
    * millions of times is CDC's defining skew) to a single sorted
    * reducer. The max aggregates map-side; the join-back probes the
    * log with a |keys|-sized frame, hash-partitioned on the same key
    * either way. Payload columns ride only through the join-back,
    * never through the aggregate — wide CDC rows don't inflate the
    * exchange.
    */
  def cdcApply(spark: SparkSession, sfDir: String): DataFrame = {
    val chg = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id").as("lsn"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_cents"))
    val latest = chg.groupBy(col("user_id"))
      .agg(max(col("lsn")).as("lsn"), count(lit(1)).as("n_ops"))
    latest.join(chg, Seq("user_id", "lsn"))
      .filter(col("op") === "U")
      .select(col("user_id"), col("lsn").as("last_lsn"), col("n_ops"),
        (col("v_cents").cast("double") / 100.0).as("value"))
      .orderBy(col("user_id"))
  }

  private val cdcApplyOracle =
    """WITH chg AS (
      |  SELECT user_id, event_id AS lsn,
      |         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |         CAST(round(value * 100) AS BIGINT) AS v_cents
      |  FROM events),
      |latest AS (
      |  SELECT user_id, MAX(lsn) AS lsn, COUNT(*) AS n_ops
      |  FROM chg GROUP BY 1)
      |SELECT l.user_id, l.lsn AS last_lsn, l.n_ops,
      |       CAST(g.v_cents AS DOUBLE) / 100.0 AS value
      |FROM latest l JOIN chg g ON g.user_id = l.user_id AND g.lsn = l.lsn
      |WHERE g.op = 'U'
      |ORDER BY l.user_id""".stripMargin

  // ------------------------------------ CDC → SCD2 end-to-end maintenance
  /** The full dimension-maintenance composition a lakehouse actually
    * runs, end-to-end in ONE query: the CDC change log folds into an
    * SCD2 VERSION HISTORY (each surviving upsert opens a version valid
    * [lsn, next-change-lsn); a tombstone closes the open version
    * without opening one; consecutive identical payloads collapse —
    * the [[graft.ops.AnalyticsOps.scd2]] run-collapse rule applied to
    * a (op, payload) change key so a delete always breaks a run and a
    * re-insert after a delete re-opens), the history is probed POINT-
    * IN-TIME at each key's mid-log LSN (the as-of read that is SCD2's
    * reason to exist), and the open version is reconciled against the
    * INDEPENDENT last-writer-wins snapshot ([[cdcApply]] — aggregate +
    * join-back, no window): `cdc_match` must be TRUE on every row,
    * null-safely (a tombstoned key has no open version AND no snapshot
    * row). Two different algorithms arriving at the same current state
    * inside one verified result — the cross-check shape of
    * `q_cc_star` vs `q_dedup_clusters`, here for lakehouse
    * maintenance.
    *
    * Scale shape: the history side is ONE exchange per key — both
    * windows (run-collapse lag, expiry lead) and the rollup aggregate
    * share the (user_id) partitioning, so Spark plans a single sort +
    * shuffle for the whole SCD2 build; the probe frame and the LWW
    * snapshot are |keys|-sized and broadcast. Hot-key skew rides the
    * window sort (per-key history IS sequential — same contract as
    * scd2); the snapshot side stays the skew-immune aggregate.
    * Parity: integer cents, LSNs and `div 2` probe points — no floats
    * anywhere; the change key is a string both engines render
    * identically.
    */
  def cdcScd2(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chg = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id").as("lsn"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U"))
          .as("op"),
        when(col("event_type") === "error", lit(null).cast("long"))
          .otherwise(expr("CAST(round(value * 100) AS BIGINT)"))
          .as("v_cents"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("lsn"))
    val ck = concat(col("op"), lit(":"),
      coalesce(col("v_cents").cast("string"), lit("")))
    val vers = chg.withColumn("ck", ck)
      .withColumn("pck", lag(col("ck"), 1).over(w))
      .filter(col("pck").isNull || col("pck") =!= col("ck"))
      .withColumn("to_lsn", lead(col("lsn"), 1).over(w))
    val probes = chg.groupBy(col("user_id"))
      .agg(max(col("lsn")).as("last_lsn"))
      .withColumn("pit_lsn", expr("last_lsn div 2"))
    val hist = vers.join(broadcast(probes), Seq("user_id"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("op") === "U", 1L).otherwise(0L)).as("n_versions"),
        sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_tombstones"),
        max(col("last_lsn")).as("last_lsn"),
        max(col("pit_lsn")).as("pit_lsn"),
        max(when(col("op") === "U" && col("to_lsn").isNull, col("v_cents")))
          .as("current_cents"),
        max(when(col("op") === "U" && col("lsn") <= col("pit_lsn") &&
          (col("to_lsn").isNull || col("to_lsn") > col("pit_lsn")),
          col("v_cents"))).as("pit_cents"))
    val snapshot = cdcApply(spark, sfDir)
      .select(col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cdc_cents"))
    hist.join(broadcast(snapshot), Seq("user_id"), "left")
      .select(col("user_id"), col("n_versions"), col("n_tombstones"),
        col("last_lsn"), col("current_cents"), col("pit_lsn"),
        col("pit_cents"),
        (col("current_cents") <=> col("cdc_cents")).as("cdc_match"))
      .orderBy(col("user_id"))
  }

  private lazy val cdcScd2Oracle =
    s"""WITH chg AS (
       |  SELECT user_id, event_id AS lsn,
       |         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
       |         CASE WHEN event_type = 'error' THEN NULL
       |              ELSE CAST(round(value * 100) AS BIGINT) END AS v_cents
       |  FROM events),
       |k0 AS (
       |  SELECT *,
       |         op || ':' || COALESCE(CAST(v_cents AS VARCHAR), '') AS ck,
       |         LAG(op || ':' || COALESCE(CAST(v_cents AS VARCHAR), ''))
       |           OVER (PARTITION BY user_id ORDER BY lsn) AS pck
       |  FROM chg),
       |vers AS (
       |  SELECT user_id, lsn, op, v_cents,
       |         LEAD(lsn) OVER (PARTITION BY user_id ORDER BY lsn) AS to_lsn
       |  FROM k0 WHERE pck IS NULL OR pck <> ck),
       |probes AS (SELECT user_id, MAX(lsn) AS last_lsn,
       |                  MAX(lsn) // 2 AS pit_lsn
       |           FROM chg GROUP BY 1),
       |hist AS (
       |  SELECT v.user_id,
       |         CAST(SUM(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_versions,
       |         CAST(SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_tombstones,
       |         MAX(p.last_lsn) AS last_lsn, MAX(p.pit_lsn) AS pit_lsn,
       |         MAX(CASE WHEN op = 'U' AND to_lsn IS NULL
       |                  THEN v_cents END) AS current_cents,
       |         MAX(CASE WHEN op = 'U' AND lsn <= p.pit_lsn AND
       |                       (to_lsn IS NULL OR to_lsn > p.pit_lsn)
       |                  THEN v_cents END) AS pit_cents
       |  FROM vers v JOIN probes p USING (user_id)
       |  GROUP BY v.user_id),
       |cdc AS (
       |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cdc_cents
       |  FROM ($cdcApplyOracle))
       |SELECT h.user_id, n_versions, n_tombstones, last_lsn,
       |       current_cents, pit_lsn, pit_cents,
       |       current_cents IS NOT DISTINCT FROM cdc_cents AS cdc_match
       |FROM hist h LEFT JOIN cdc USING (user_id)
       |ORDER BY h.user_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cdc_scd2" -> (cdcScd2 _),
    "q_delete_vectors" -> (deleteVectors _),
    "q_wap" -> (wap _),
    "q_cdc_apply" -> (cdcApply _),
    "q_dpp_prune" -> (dppPrune _),
    "q_ivm_signed" -> (ivmSigned _),
    "q_snapshot_diff" -> (snapshotDiff _),
    "q_time_travel" -> (timeTravel _),
    "q_partition_replace" -> (partitionReplace _),
    "q_merge_upsert" -> (mergeUpsert _),
    "q_csv_export" -> (csvExport _),
    "q_jsonl_export" -> (jsonlExport _),
    "q_compaction" -> (compactTable _)
  )

  def oracles: Map[String, String] = Map(
    "q_cdc_scd2" -> cdcScd2Oracle,
    "q_delete_vectors" -> deleteVectorsOracle,
    "q_wap" -> wapOracle,
    "q_cdc_apply" -> cdcApplyOracle,
    "q_dpp_prune" -> dppPruneOracle,
    "q_ivm_signed" -> ivmSignedOracle,
    "q_snapshot_diff" -> snapshotDiffOracle,
    "q_time_travel" -> timeTravelOracle,
    "q_partition_replace" -> partitionReplaceOracle,
    "q_merge_upsert" -> mergeUpsertOracle,
    "q_csv_export" -> csvExportOracle,
    "q_jsonl_export" -> jsonlExportOracle,
    "q_compaction" -> compactTableOracle
  )
}

package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.etl.Medallion

/** The benchmark's JVM side. perfbench/run.py builds it and launches it
  * once per run; it prints one `PERFBENCH_RESULT` JSON line of raw samples,
  * which run.py turns into the metrics.
  *
  *   --mode list    print the seed's query plan for --workload and exit
  *   --mode run     set up, warm up with fingerprint checks, then time
  *                  whole passes until --seconds have elapsed
  *   --mode record  like run, but write the warm-up fingerprints to
  *                  --golden instead of checking them
  *
  * A run sets up once, from a cold start: the set-up is timed from
  * --launch-ms (the wall clock just before the JVM was launched; the JVM's
  * own start time without it) through session start, query registry
  * initialization, fixture builds and one untimed warm-up pass that also
  * fingerprints every result. It then times whole passes for about
  * --seconds. With --trace 1 the
  * timed passes alternate untraced and traced, starting and ending
  * untraced, so one run yields both the per-layer rollup and the tracing
  * overhead.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val seed = opts.getOrElse("seed", "1").toLong
    val names = opts.get("queries") match {
      case Some(list) => list.split(",").toSeq
      case None => Workloads.plan(
        opts.getOrElse("workload", throw new IllegalArgumentException("missing --workload")), seed)
    }
    opts.getOrElse("mode", "run") match {
      case "list" =>
        val modules = registryModules(SparkEntry.queries)
        names.foreach(n => println(s"$n\t${modules.getOrElse(n, "?")}"))
      case mode @ ("run" | "record") =>
        val injected =
          if (opts.get("inject-failure").contains("1")) Seq(injectedFailure) else Nil
        new Run(opts, names, injected, record = mode == "record").execute()
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }

  def registryModules(registry: Map[String, Workloads.Query]): Map[String, String] =
    registry.map { case (k, f) => k -> Workloads.moduleOf(f) }

  /** A query that always throws; the benchmark's tests inject it to check
    * that a failure is counted and its reason printed. */
  val injectedFailure: (String, Workloads.Query) = "bench_injected_failure" ->
    ((_: SparkSession, _: String) => throw new IllegalStateException("injected failure"))

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}

private final class Run(
    opts: Map[String, String],
    queryNames: Seq[String],
    injected: Seq[(String, Workloads.Query)],
    record: Boolean) {
  private def opt(k: String, d: String) = opts.getOrElse(k, d)
  private val seconds = opt("seconds", "10").toDouble
  private val trace = opt("trace", "0") == "1"
  private val cores = opt("cores", Runtime.getRuntime.availableProcessors.toString).toInt
  private val launchMs = opts.get("launch-ms").map(_.toLong)
    .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime)
  private val dataDir = Paths.get(opts("data")).toAbsolutePath
  private val work = Paths.get(opts("work")).toAbsolutePath
  private val goldenPath = Paths.get(opts("golden"))
  private val names = (queryNames ++ injected.map(_._1)).toSet

  private val samples = mutable.ArrayBuffer[Map[String, Any]]()
  private val failures = mutable.ArrayBuffer[Map[String, Any]]()
  private var attempted = 0

  private def startSession(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${Medallion.warehouseBase}/catalog")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The fixture builders graft.Bench runs before timing, for the queries
    * of this run: bucketed layouts and the CSV, shapefile, media and
    * schema-evolution source files, each written once per input dir. */
  private def buildFixtures(spark: SparkSession, sfDir: String): Unit = {
    def has(ns: String*) = ns.exists(names)
    if (has("q_bucketed_join")) graft.etl.Bucketing.ensureBucketed(spark, sfDir)
    if (has("q_pagerank", "q_ppr")) graft.etl.Bucketing.ensurePagerankEdges(spark, sfDir)
    if (has("q_csv_scan_permissive")) graft.sources.CsvSources.mitmaCsvGz(spark, sfDir)
    if (has("q_csv_scan_infer")) graft.sources.CsvSources.ineCsv(spark, sfDir)
    if (has("q_shapefile_scan")) graft.sources.Shapefile.fixture(spark, sfDir)
    if (has("q_image_meta", "q_pixel_stats")) graft.sources.ImageFiles.imagesDir(spark, sfDir)
    if (has("q_audio_meta")) graft.sources.AudioFiles.clipsDir(spark, sfDir)
    if (has("q_video_meta")) graft.sources.VideoFiles.videosDir(spark, sfDir)
    if (has("q_webp_meta")) graft.sources.WebpFiles.webpDir(spark, sfDir)
    if (has("q_schema_merge")) graft.sources.SchemaEvolution.fixture(spark, sfDir)
  }

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private def reason(t: Throwable): String = {
    val msg = Option(t.getMessage).map(_.linesIterator.take(1).mkString).getOrElse("")
    s"${t.getClass.getName}: $msg"
  }

  private def fail(name: String, pass: Int, why: String): Unit = {
    failures += Map("query" -> name, "pass" -> pass, "reason" -> why)
    System.err.println(s"[perfbench] FAILED $name (pass $pass): $why")
  }

  private def readGolden(): Map[String, String] =
    if (!Files.exists(goldenPath)) Map.empty
    else Files.readAllLines(goldenPath).asScala.iterator
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map(_.split("\t")).collect { case Array(k, v) => k -> v }.toMap

  private def writeGolden(old: Map[String, String], fresh: Map[String, String]): Unit = {
    val all = (old ++ fresh).toSeq.sortBy(_._1)
    val header = "# query\tfingerprint (rows:sum:xor of 64-bit row hashes; see Fingerprint.scala)"
    Files.write(goldenPath, (header +: all.map { case (k, v) => s"$k\t$v" }).asJava)
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def vmHwmKb: Long = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0L
    else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
  }

  private def sinceLaunch: Double = (System.currentTimeMillis() - launchMs) / 1e3

  def execute(): Unit = {
    // Set-up, on wall-clock time since the launch: JVM start, session
    // start, query registry, fixtures, and (below) the warm-up pass.
    val sfDir = dataDir.toString
    val spark = startSession()
    val sessionEnd = sinceLaunch
    val registry = SparkEntry.queries
    val registryEnd = sinceLaunch
    val modules = Main.registryModules(registry)
    val queries = queryNames.map(n => n -> registry.getOrElse(n,
      throw new IllegalArgumentException(s"unknown query $n"))) ++ injected
    buildFixtures(spark, sfDir)
    val fixturesEnd = sinceLaunch
    val sc = spark.sparkContext

    // Warm-up pass: first-touch gold tables, JIT, and the correctness check.
    val golden = if (record) Map.empty[String, String] else readGolden()
    val fresh = mutable.LinkedHashMap[String, String]()
    val warmStart = System.nanoTime()
    val warmup = mutable.ArrayBuffer[Map[String, Any]]()
    for ((name, fn) <- queries) {
      attempted += 1
      val t0 = System.nanoTime()
      try {
        val (df, obs) = Fingerprint.observe(fn(spark, sfDir))
        df.write.format("noop").mode("overwrite").save()
        val elapsed = (System.nanoTime() - t0) / 1e9
        val fp = Fingerprint.value(obs)
        warmup += Map("query" -> name, "s" -> elapsed)
        fresh(name) = fp
        if (!record) golden.get(name) match {
          case Some(`fp`) =>
          case Some(want) => fail(name, 0, s"fingerprint mismatch: got $fp, golden $want")
          case None => fail(name, 0, s"no golden fingerprint (got $fp)")
        }
      } catch { case t: Throwable => fail(name, 0, reason(t)) }
      finally spark.catalog.clearCache()
    }
    val warmupS = (System.nanoTime() - warmStart) / 1e9
    val setup = Map("session_s" -> sessionEnd, "registry_s" -> (registryEnd - sessionEnd),
      "fixtures_s" -> (fixturesEnd - registryEnd), "warmup_s" -> warmupS,
      "total_s" -> sinceLaunch)
    if (record) writeGolden(readGolden(), fresh.toMap)

    // Timed passes.
    val tracer = new Tracer
    val spans = mutable.ArrayBuffer[QuerySpan]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    var tracedPasses, gcMsTraced = 0L
    var heapPeak = 0L
    val loopStart = System.nanoTime()
    var pass = 0
    var lastPassS = 0.0
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    // Whole passes while another one would end nearer to --seconds than not,
    // and at least two: queries still get faster from pass to pass, so the
    // pass count must not drop when the host is slow for a while. A traced
    // run brackets its traced passes with untraced ones, so the overhead
    // estimate is not skewed by passes getting warmer.
    val minPasses = if (trace) 3 else 2
    while (pass < minPasses || elapsed + lastPassS / 2 < seconds) {
      pass += 1
      val traced = trace && pass % 2 == 0
      if (traced) {
        sc.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
        heapPools.foreach(_.resetPeakUsage())
      }
      val gc0 = gcMillis
      var passOk = true
      val p0 = System.nanoTime()
      for (((name, fn), i) <- queries.zipWithIndex) {
        attempted += 1
        val group = s"p$pass-$i"
        val before = if (traced) sc.getPersistentRDDs.keySet.toSet else Set.empty[Int]
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var t1 = t0
        var ok = false
        try {
          if (traced) sc.setJobGroup(s"$group/c", name)
          val df = fn(spark, sfDir)
          t1 = System.nanoTime()
          if (traced) sc.setJobGroup(s"$group/m", name)
          df.write.format("noop").mode("overwrite").save()
          ok = true
        } catch { case t: Throwable => fail(name, pass, reason(t)) }
        finally if (traced) sc.clearJobGroup()
        val t2 = System.nanoTime()
        spark.catalog.clearCache()
        passOk &&= ok
        if (ok) samples += Map("query" -> name, "pass" -> pass, "traced" -> traced,
          "s" -> (t2 - t0) / 1e9)
        if (traced) {
          val left = sc.getPersistentRDDs.keySet.toSet -- before
          val leftBytes = sc.getRDDStorageInfo.filter(i => left(i.id))
            .map(i => i.memSize + i.diskSize).sum
          spans += QuerySpan(name, modules.getOrElse(name, "bench"), group, startMs,
            if (ok) t1 - t0 else 0L, if (ok) t2 - t1 else 0L, t2 - t0, left.size, leftBytes)
        }
      }
      val passS = (System.nanoTime() - p0) / 1e9
      lastPassS = passS
      if (traced) {
        tracedPasses += 1
        gcMsTraced += gcMillis - gc0
        heapPeak = math.max(heapPeak, heapPools.map(_.getPeakUsage.getUsed).sum)
        // Detaching drops events still queued for the tracer: drain first.
        tracer.drain()
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }
      passes += Map("pass" -> pass, "traced" -> traced, "s" -> passS, "ok" -> passOk)
    }
    val measuredS = elapsed

    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else {
        tracer.rollup(spans.toSeq, tracedPasses.toInt, cores) ++ Map(
          "jvm.gc_s" -> gcMsTraced / 1e3 / tracedPasses,
          "jvm.heap_peak_mb" -> heapPeak / 1048576.0)
      }

    val warehouse = Paths.get(Medallion.warehouseBase)
    val rt = ManagementFactory.getRuntimeMXBean
    val result = Map(
      "queries" -> queries.map(_._1),
      "modules" -> queries.map { case (n, _) => n -> modules.getOrElse(n, "bench") }.toMap,
      "setup" -> setup,
      "warmup" -> warmup,
      "samples" -> samples,
      "passes" -> passes,
      "measured_s" -> measuredS,
      "attempted" -> attempted,
      "failures" -> failures,
      "layers" -> layers,
      "input_bytes" -> treeBytes(dataDir),
      "warehouse_bytes" -> treeBytes(warehouse),
      "vm_hwm_kb" -> vmHwmKb,
      "stamp" -> Map(
        "cores" -> cores,
        "master" -> s"local[$cores]",
        "jvm_args" -> rt.getInputArguments.asScala.filter(a =>
          a.startsWith("-Xm") || a.startsWith("-XX:")).toSeq,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSeq,
        "java" -> System.getProperty("java.version"),
        "scala" -> scala.util.Properties.versionNumberString,
        "spark" -> spark.version,
        "traced" -> trace))
    spark.stop()
    println("PERFBENCH_RESULT " + Main.json(result))
  }
}

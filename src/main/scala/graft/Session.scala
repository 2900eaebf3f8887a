package graft

import org.apache.spark.sql.SparkSession

/** The one local-session builder behind every main and the test suites:
  * `local[cpus]` with `shufflePartitions` shuffle partitions, UTC
  * session time (Tables' TimestampNTZ→Timestamp cast is zone-sensitive,
  * so every entry point must see the same ts values), no UI and the
  * shared warehouse catalog. `extra` confs are applied last.
  */
object Session {
  def local(cpus: Int, shufflePartitions: Int,
      extra: (String, String)*): SparkSession =
    extra.foldLeft(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${etl.Medallion.warehouseBase}/catalog")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()

  /** Runs `body` on a `newSession()` of `spark` carrying `spark`'s
    * runtime confs plus `confs`, so an override never mutates the
    * caller's session. Three properties of a new session shape every
    * caller:
    *   - it sees builder options but not confs set at runtime, so
    *     those are copied (Spark's non-static SQL confs, which
    *     `isModifiable` names, and the `graft.*` style keys Spark does
    *     not own; static and core confs are shared already);
    *   - a frame plans under the session it was built in (a join of
    *     two sessions' frames plans under its left side), so `body`
    *     builds its frames from the session it is given;
    *   - QueryExecutionListeners registered on `spark` do not see its
    *     actions; a caller whose result must stay observable collects
    *     it inside the scope and rebuilds it in `spark`.
    */
  def scoped[T](spark: SparkSession, confs: (String, String)*)(
      body: SparkSession => T): T = {
    val s = spark.newSession()
    for ((k, v) <- spark.conf.getAll
         if spark.conf.isModifiable(k) || !k.startsWith("spark."))
      s.conf.set(k, v)
    for ((k, v) <- confs) s.conf.set(k, v)
    body(s)
  }
}

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
}

package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's workloads over the query registry.
  *
  * Every workload is a closed loop with one client: the next query starts
  * when the previous one has been materialized. Each list is fixed; the run
  * seed only permutes its order. Why each workload exists, which layer it
  * stresses, and why the lists are short samples of the module families
  * they stand for (a run, cold JVM included, must stay near a minute) is
  * recorded in perfbench/METRICS.md. The two square censuses
  * (q_square_count, q_square_count_capped) are in no workload: one pass of
  * them costs minutes.
  */
object Workloads {
  type Query = (SparkSession, String) => DataFrame

  /** The reference lakehouse's own surface: medallion writes (partition
    * replace, CSV export), a bucketed join over a bucketed layout, ingest
    * scans of the custom CSV and shapefile formats, and business questions
    * 1 (typical day), 2 (gravity model) and 3 (long-trip dependency). */
  val lakehouseEtl: Seq[String] = Seq(
    "q_partition_replace", "q_csv_export", "q_bucketed_join",
    "q_csv_scan_permissive", "q_shapefile_scan",
    "typical_day", "q_gravity_model", "q_long_trip")

  /** Iterative graph operators that run driver-side actions every round. */
  val graphIterative: Seq[String] = Seq(
    "q_ktruss", "q_bfs_hops", "q_shortest_path")

  val byName: Map[String, Seq[String]] =
    Map("lakehouse_etl" -> lakehouseEtl, "graph_iterative" -> graphIterative)

  /** Registering module of a registry entry: the object whose query map
    * created the function value (`graft.ops.GraphOps$$$Lambda...` ->
    * `GraphOps`). */
  def moduleOf(fn: AnyRef): String = {
    val cls = fn.getClass.getName
    val owner = cls.indexOf("$$") match {
      case -1 => cls
      case i => cls.substring(0, i)
    }
    owner.substring(owner.lastIndexOf('.') + 1).stripSuffix("$")
  }

  /** The workload's query list, in the seed's order. */
  def plan(workload: String, seed: Long): Seq[String] = {
    val list = byName.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    new scala.util.Random(seed).shuffle(list)
  }
}

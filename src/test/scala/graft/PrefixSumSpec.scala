package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.ops.PrefixSum

/** The two-phase running sum against a driver-side scan, its chunk
  * grid bound, and the conf scope of [[Session.scoped]]. (Raw
  * scalacheck API, as in ParitySpec.)
  */
class PrefixSumSpec extends SparkSpec {
  import spark.implicits._

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  /** Rows (distinct id, value) ordered by id, chunked by `id div width`:
    * the running sum, its total, a rank and its total match a scan. */
  private def matchesScan(rows: List[(Long, Long)], width: Long): Boolean = {
    val df = rows.toDF("id", "v")
    val chunk = expr(s"id div $width")
    val sums = PrefixSum.running(df, chunk, Seq(col("id")), "cum" -> col("v"))
      .select(col("id"), col("cum"), col("cum_total"))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val ranks = PrefixSum.running(df, chunk, Seq(col("id")), "seq" -> lit(1L))
      .select(col("id"), col("seq"), col("seq_total"))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val sorted = rows.sortBy(_._1)
    val total = sorted.map(_._2).sum
    val cums = sorted.scanLeft(0L)(_ + _._2).tail
    sums == sorted.zip(cums).map { case ((id, _), c) => (id, c, total) } &&
      ranks == sorted.zipWithIndex.map { case ((id, _), i) =>
        (id, i + 1L, sorted.size.toLong) }
  }

  // sparse ids leave gaps in the chunk ids; width 1 is one row per
  // chunk, 100000 one chunk for the whole frame
  private val frames: Gen[(List[(Long, Long)], Long)] = for {
    n <- Gen.frequency((1, Gen.const(0)), (1, Gen.const(1)),
      (4, Gen.choose(2, 80)))
    ids <- Gen.listOfN(n, Gen.choose(0L, 5000L)).map(_.distinct)
    vals <- Gen.listOfN(ids.size, Gen.choose(-1000L, 1000L))
    width <- Gen.oneOf(1L, 7L, 100L, 100000L)
  } yield (ids.zip(vals), width)

  test("running sum and rank equal a driver-side scan") {
    val edges = Seq(
      (Nil, 100L), // empty
      (List((5L, -3L)), 1L), // one row
      (List((1L, 2L), (2L, -7L), (3L, 4L)), 100000L), // one chunk
      (List((0L, 1L), (250L, -2L), (900L, 3L)), 1L)) // gaps, width 1
    edges.foreach { case (rows, w) => assert(matchesScan(rows, w), s"$rows / $w") }
    check(Prop.forAll(frames) { case (rows, w) => matchesScan(rows, w) })
  }

  test("chunkWidth: chunk grid is bounded at any corpus size") {
    // the offset table must stay broadcast-sized at ANY scale — width
    // derives from max(id) so chunks ≤ 4096, with 100 as the floor
    // (fixtures keep byte-identical plans)
    assert(PrefixSum.chunkWidth(4999L) == 100L,
      "sf-fixture width must equal the r15 constant")
    assert(PrefixSum.chunkWidth(0L) == 100L, "empty corpus degrades")
    for (maxDoc <- Seq(409600L, 1000000L, 123456789L, Long.MaxValue)) {
      val w = PrefixSum.chunkWidth(maxDoc)
      assert(maxDoc / w <= 4096L,
        s"chunk count ${maxDoc / w} exceeds the broadcast bound at $maxDoc")
    }
  }

  test("Session.scoped: the body sees runtime confs and overrides; the caller keeps its own") {
    val parts = "spark.sql.shuffle.partitions"
    val bcast = "spark.sql.autoBroadcastJoinThreshold"
    val custom = "graft.test.scoped"
    val (prevParts, prevBcast) = (spark.conf.get(parts), spark.conf.get(bcast))
    spark.conf.set(parts, "5") // set at runtime, after the session was built
    spark.conf.set(custom, "x")
    try {
      val seen = Session.scoped(spark, bcast -> "-1") { s =>
        assert(spark.conf.get(bcast) == prevBcast, "override leaked during the body")
        (s ne spark, s.conf.get(parts), s.conf.get(custom), s.conf.get(bcast))
      }
      assert(seen == ((true, "5", "x", "-1")))
      assert(spark.conf.get(bcast) == prevBcast, "override leaked after the body")
      intercept[IllegalStateException] {
        Session.scoped(spark, bcast -> "-1") { _ => throw new IllegalStateException("body") }
      }
      assert(spark.conf.get(bcast) == prevBcast, "override leaked after a throw")
      assert(spark.conf.get(parts) == "5")
    } finally {
      spark.conf.set(parts, prevParts)
      spark.conf.unset(custom)
    }
  }
}

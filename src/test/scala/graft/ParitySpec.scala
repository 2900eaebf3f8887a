package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.ops.Parity

/** ScalaCheck properties for the engine-parity arithmetic in [[Parity]]:
  * the md5 key against the driver-side digest prefix, and the exact
  * half-up divisions against a BigInt reference. Each generated case
  * is a batch of rows evaluated in one Spark job. (Raw scalacheck API,
  * as in PropertySpec.)
  */
class ParitySpec extends SparkSpec {
  import spark.implicits._

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  // empty, ASCII (control chars included) and non-ASCII strings: Latin
  // accents, CJK and a surrogate-pair emoji, all multi-byte in UTF-8
  private val str: Gen[String] = Gen.frequency(
    (1, Gen.const("")),
    (3, Gen.asciiStr),
    (3, Gen.listOf(Gen.frequency(
      (3, Gen.alphaNumChar.map(_.toString)),
      (1, Gen.oneOf("ñ", "é", "ü", "京", "語", " ", "😀"))))
      .map(_.mkString)))

  test("md5Key at 15, 12 and 9 hex digits equals the driver-side md5 prefix") {
    check(Prop.forAll(Gen.listOfN(64, str)) { ss =>
      val df = ss.toDF("s")
      Seq(15, 12, 9).forall { k =>
        val key = df.select(Parity.md5Key(col("s").cast("binary"), k))
          .as[Long].collect().toSeq
        val viaExpr = df.select(expr(Parity.md5KeyExpr("CAST(s AS BINARY)", k)))
          .as[Long].collect().toSeq
        key == ss.map(md5Long(_, k)) && viaExpr == key
      }
    })
  }

  test("md5Key and md5KeyExpr analyze to the same plan; md5KeySql text is pinned") {
    val df = Seq("a").toDF("s")
    Seq(15, 12, 9).foreach { k =>
      val a = df.select(Parity.md5Key(col("s").cast("binary"), k))
      val b = df.select(expr(Parity.md5KeyExpr("CAST(s AS BINARY)", k)))
      assert(a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed))
      assert(a.columns.toSeq == b.columns.toSeq)
    }
    assert(Parity.md5KeySql("term") ==
      "CAST('0x' || substring(md5(term), 1, 15) AS BIGINT)")
    assert(Parity.md5KeySql("ch", 9) ==
      "CAST('0x' || substring(md5(ch), 1, 9) AS BIGINT)")
  }

  // BigInt reference: floor((2n + d) / 2d), d > 0
  private def floorDiv(a: BigInt, b: BigInt): BigInt =
    if (a % b < 0) a / b - 1 else a / b
  private def halfUp(n: BigInt, d: BigInt): BigInt = floorDiv(2 * n + d, 2 * d)

  /** Batches of (num, den) with den > 0: small operands (exact ties are
    * common there) mixed with the wide ranges the call sites reach. */
  private def pairs(maxNum: Long, maxDen: Long): Gen[List[(Long, Long)]] =
    Gen.listOfN(200, Gen.frequency(
      (1, Gen.zip(Gen.choose(-50L, 50L), Gen.choose(1L, 10L))),
      (2, Gen.zip(Gen.choose(-maxNum, maxNum), Gen.choose(1L, maxDen)))))

  test("halfUpDiv equals the BigInt half-up reference, negative numerators included") {
    check(Prop.forAll(pairs(1000000000000000L, 1000000000L)) { ps =>
      val got = ps.toDF("n", "d")
        .select(Parity.halfUpDiv(col("n"), col("d"))).as[Long].collect().toSeq
      got == ps.map { case (n, d) => halfUp(n, d).toLong }
    })
  }

  test("halfUpRatioE6 equals the BigInt half-up e6 reference as a double") {
    check(Prop.forAll(pairs(1000000000000L, 1000000000000L)) { ps =>
      val got = ps.toDF("n", "d")
        .select(Parity.halfUpRatioE6(col("n"), col("d"))).as[Double]
        .collect().toSeq
      got == ps.map { case (n, d) =>
        halfUp(BigInt(n) * 1000000, d).toLong.toDouble / 1000000.0 }
    })
  }

  test("signedHalfUpE6Dec rounds half away from zero on decimal operands") {
    // den up to 1e15 (past where 2e6·den fits a long), |num/den| <= 1000
    val dec = Gen.listOfN(200, for {
      d <- Gen.frequency((1, Gen.choose(1L, 10L)),
        (2, Gen.choose(1L, 1000000000000000L)))
      n <- Gen.choose(-d * 1000, d * 1000)
    } yield (n, d))
    check(Prop.forAll(dec) { ps =>
      val got = ps.toDF("n", "d")
        .select(Parity.signedHalfUpE6Dec(col("n").cast("decimal(38,0)"),
          col("d").cast("decimal(38,0)"))).as[Long].collect().toSeq
      got == ps.map { case (n, d) =>
        (BigInt(n).signum * halfUp(BigInt(n).abs * 1000000, d)).toLong }
    })
  }
}

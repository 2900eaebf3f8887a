package graft

import org.apache.spark.sql.functions._

import graft.ops.CatalogOps

/** Privacy-audit semantics (the DuckDB oracle is the external witness;
  * these pin the internal invariants).
  */
class CatalogOpsSpec extends SparkSpec {

  test("pii scrub: the RELEASE is k-anonymous class by class, pseudonyms are stable") {
    val rel = CatalogOps.piiScrub(spark, sfSmall).collect()
    val src = Tables.customer(spark, sfSmall).collect()
    assert(rel.length == src.length,
      "no row may need the drop rung on this fixture")
    // no direct identifier survives; pseudonyms carry the FULL digest
    // (a truncated prefix would birthday-collide at corpus scale)
    assert(rel.forall(_.getString(0).matches("cust_[0-9a-f]{32}")))
    // deterministic pseudonymization: same run, same mapping (linkage
    // across releases) — recompute one row's SALTED pseudonym
    // driver-side. The salt matters: the UNKEYED digest of an
    // enumerable name ("Customer#000000001") is dictionary-reversible.
    val one = src.head
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(("graft.pii.salt.v1|" + one.getAs[String]("c_name"))
        .getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    assert(rel.exists(_.getString(0) == s"cust_$md5"))
    // …and the unkeyed digest must NOT appear (the salt is live)
    val unkeyed = java.security.MessageDigest.getInstance("MD5")
      .digest(one.getAs[String]("c_name").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    assert(!rel.exists(_.getString(0) == s"cust_$unkeyed"))
    // THE contract: every released (nation, segment) class — the full
    // quasi-identifier tuple, suppressed rows included — holds >= k
    // rows. (The one-pass version failed exactly here: a small
    // nation's suppressed rows formed a sub-k (nation, '*') class.)
    val classes = rel.groupBy(r => (r.getInt(1), r.getString(3)))
    assert(classes.forall(_._2.length >= 8),
      s"released class below k: ${classes.minBy(_._2.length)._1} -> " +
        s"${classes.minBy(_._2.length)._2.length}")
    // the ladder is live and consistent: level-1 rows show '*', level-2
    // rows additionally generalize the nation to -1
    val lvl = rel.groupBy(_.getInt(4))
    assert(lvl.keySet.contains(1), "fixture must exercise rung 1")
    assert(lvl.getOrElse(1, Array.empty[org.apache.spark.sql.Row])
      .forall(r => r.getString(3) == "*" && r.getInt(1) != -1))
    lvl.get(2).foreach(rows => assert(rows.forall(r =>
      r.getString(3) == "*" && r.getInt(1) == -1)))
    // acctbal never appears raw: bands are multiples of 100
    assert(rel.forall(_.getLong(2) % 100 == 0))
  }

  test("l-diversity classes mirror k-anonymity's partition") {
    val ld = CatalogOps.lDiversity(spark, sfTiny).collect()
    val ka = CatalogOps.kAnonymity(spark, sfTiny).collect()
    // same quasi-identifier ⇒ same class partition per segment
    val ldClasses = ld.map(r => r.getAs[String]("segment") -> r.getAs[Long]("n_classes")).toMap
    val kaClasses = ka.map(r => r.getAs[String]("segment") -> r.getAs[Long]("n_classes")).toMap
    assert(ldClasses == kaClasses)
    ld.foreach { r =>
      val minL = r.getAs[Long]("min_l")
      assert(minL >= 1L && minL <= 3L) // 3-value sensitive domain
      assert(r.getAs[Long]("rows_exposed") >= r.getAs[Long]("n_homogeneous"))
    }
    // exposure is bounded by the base table
    val total = Tables.customer(spark, sfTiny).count()
    assert(ld.map(_.getAs[Long]("rows_exposed")).sum <= total)
  }

  test("dp counts: noise is bounded Laplace, true counts conserved") {
    val rows = CatalogOps.dpCounts(spark, sfTiny).collect()
    val total = Tables.customer(spark, sfTiny).count()
    assert(rows.map(_.getAs[Long]("n")).sum == total)
    rows.foreach { r =>
      val noise = r.getAs[Double]("dp_n") - r.getAs[Long]("n")
      // u = (k+0.5)/2^32 is bounded away from {0,1} by 2^-33, so the
      // inverse-CDF draw can never exceed ln(2^32)
      assert(math.abs(noise) <= math.log(4294967296.0) + 1e-6,
        s"noise $noise out of the bounded-seed range")
    }
    // the release is deterministic for a fixed seed derivation
    val again = CatalogOps.dpCounts(spark, sfTiny).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("skew report: cardinalities exact, ratios and salt factors coherent") {
    val rows = CatalogOps.skewReport(spark, sfTiny).collect()
      .map(r => r.getAs[String]("join_key") -> r).toMap
    assert(rows.keySet == Set("l_orderkey", "l_partkey", "l_suppkey"))
    rows.foreach { case (key, r) =>
      val distinct = Tables.lineitem(spark, sfTiny)
        .select(col(key)).distinct().count()
      assert(r.getAs[Long]("n_keys") == distinct, s"$key cardinality")
      assert(r.getAs[Double]("skew_ratio") >= 1.0)
      assert(r.getAs[Long]("salt_factor") >= 1L)
      assert(r.getAs[Double]("p50") <= r.getAs[Double]("p99") + 1e-9)
      assert(r.getAs[Double]("p99") <= r.getAs[Long]("max_cnt").toDouble + 1e-9)
    }
  }
  test("t-closeness: EMD bounded, class census matches k-anonymity") {
    val tc = CatalogOps.tCloseness(spark, sfTiny).collect()
    val ka = CatalogOps.kAnonymity(spark, sfTiny).collect()
      .map(r => r.getAs[String]("segment") -> r.getAs[Long]("n_classes")).toMap
    tc.foreach { r =>
      assert(r.getAs[Long]("n_classes") == ka(r.getAs[String]("segment")))
      val emd = r.getAs[Long]("max_emd_e6")
      assert(emd >= 0 && emd <= 1000000)
      assert(r.getAs[Long]("n_violating") <= r.getAs[Long]("n_classes"))
    }
  }

  test("randomized response conserves reports and debiases within band") {
    val rr = CatalogOps.randomizedResponse(spark, sfSmall).collect()
    val nTotal = rr.map(_.getAs[Long]("n_true")).sum
    assert(rr.map(_.getAs[Long]("n_observed")).sum == nTotal,
      "perturbation must conserve the report count")
    // sum of estimates telescopes back to N (up to 5 floor losses)
    assert(math.abs(rr.map(_.getAs[Long]("n_est")).sum - nTotal) <= 5)
    rr.foreach { r =>
      val err = math.abs(r.getAs[Long]("est_err")).toDouble
      assert(err / r.getAs[Long]("n_true") < 0.10,
        s"debiased estimate off by ${err}")
    }
  }

  test("equi-depth percentile: exact buffer in the flagship, GK sketch in the twin") {
    // exact `percentile` is oracle-parity-only (it buffers the whole
    // column in one aggregation buffer — sf-gated by contract); the
    // 100 TB twin must plan the mergeable approx_percentile instead,
    // with the same downstream ladder
    val exactPlan = CatalogOps.equidepthHist(spark, sfTiny)
      .queryExecution.optimizedPlan.toString
    assert(exactPlan.contains("percentile(") &&
      !exactPlan.contains("approx_percentile"),
      "the flagship must use exact percentile for oracle parity")
    val approx = CatalogOps.equidepthHistApprox(spark, sfTiny)
    assert(approx.queryExecution.optimizedPlan.toString
      .contains("approx_percentile"),
      "the approx twin must take its edges from the GK sketch")
    // same downstream contract: 8 buckets partitioning the table, and
    // the invariant twin holds at the sketch's accuracy
    val inv = approx.collect().head
    assert(inv.getAs[Long]("n_total") == Tables.lineitem(spark, sfTiny).count())
    assert(inv.getAs[Boolean]("depth_within_1pct"),
      "GK-edged buckets must stay within 1% of n/8 per bucket")
    assert(inv.getAs[Int]("n_buckets") == 8)
  }

  test("join cardinality estimate: exact side equals the executed join") {
    val r = CatalogOps.joinCardEst(spark, sfTiny).collect().head
    val li = Tables.lineitem(spark, sfTiny).select(col("l_partkey"))
    val real = li.join(li.withColumnRenamed("l_partkey", "k2"),
      col("l_partkey") === col("k2")).count()
    assert(r.getAs[Long]("true_pairs") == real,
      "sum of squared counts must equal the executed self-join size")
    assert(r.getAs[Long]("n_sampled_keys") <= r.getAs[Long]("n_keys"))
    // 5% hash sample at sfTiny is noisy but must stay within 3x
    val est = r.getAs[Long]("est_pairs").toDouble
    assert(est > real / 3.0 && est < real * 3.0, s"est $est vs $real")
  }

  test("dp accountant: driver recompute and privacy monotonicity laws") {
    val rows = CatalogOps.dpAccountant(spark, sfTiny).collect()
      .map(r => ((r.getInt(0), r.getDouble(1)),
        (r.getLong(2), r.getInt(3), r.getDouble(4)))).toMap
    assert(rows.size == 9)
    val n = Tables.documents(spark, sfTiny).count()
    rows.foreach { case ((epochs, sigma), (steps, bestA, eps)) =>
      assert(steps == epochs * ((n + 63) / 64))
      assert(bestA >= 2 && bestA <= 64)
      // driver recompute on the same e6 lattice
      val want = (2 to 64).map(a => math.round(
        (steps * a / (sigma * sigma * 2.0) +
          math.log(1000000.0) / (a - 1)) * 1000000.0)).min / 1e6
      assert(math.abs(eps - want) < 1e-9, s"eps($epochs,$sigma)=$eps != $want")
    }
    // more epochs spends more budget; more noise spends less
    Seq(0.5, 1.0, 2.0).foreach { s =>
      assert(rows((1, s))._3 < rows((3, s))._3)
      assert(rows((3, s))._3 < rows((10, s))._3)
    }
    Seq(1, 3, 10).foreach { e =>
      assert(rows((e, 0.5))._3 > rows((e, 1.0))._3)
      assert(rows((e, 1.0))._3 > rows((e, 2.0))._3)
    }
  }
}

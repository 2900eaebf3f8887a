package graft

import org.apache.spark.sql.functions._

import graft.ops.{CurationOps, RetrievalOps}

/** Semantics of the curation/selection layer — the DuckDB oracle pins
  * the arithmetic; these pin the MEANING (selection direction, sketch
  * guarantees, budget conservation, fusion monotonicity).
  */
class CurationOpsSpec extends SparkSpec {

  test("DSIR weights: target-language docs score higher on average") {
    val rows = CurationOps.importanceWeights(spark, sfSmall).collect()
      .map(r => (r.getString(1), r.getDouble(3)))
    val (en, rest) = rows.partition(_._1 == "en")
    assert(en.nonEmpty && rest.nonEmpty)
    val meanEn = en.map(_._2).sum / en.length
    val meanRest = rest.map(_._2).sum / rest.length
    // the whole point of importance weighting: docs FROM the target
    // distribution look more like it than docs from elsewhere
    assert(meanEn > meanRest,
      s"en mean $meanEn not above non-target mean $meanRest")
  }

  test("nucleus filter == driver-side prefix recompute; 80% gate exact") {
    val docs = Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ").length.toLong))
    val truth = docs.groupBy(_._2).view.mapValues { ds =>
      val sorted = ds.sortBy(d => (-d._3, d._1))
      val tot = sorted.map(_._3).sum
      var cum = 0L
      val kept = sorted.takeWhile { d => cum += d._3; cum * 5 <= tot * 4 }
      (ds.length.toLong, kept.length.toLong, tot, kept.map(_._3).sum)
    }.toMap
    val got = CurationOps.nucleusFilter(spark, sfTiny).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet == truth.keySet)
    got.foreach { case (lang, g) =>
      assert(g == truth(lang), s"$lang: $g != ${truth(lang)}")
      // a kept set is never everything unless the tail is tiny, and
      // never exceeds the 80% integer gate
      assert(g._4 * 5 <= g._3 * 4, s"$lang kept mass over the 80% gate")
    }
  }

  test("CMS: estimate >= exact count always; exact matches recount") {
    val truth = Tables.documents(spark, sfSmall)
      .select(col("text")).collect()
      .flatMap(_.getString(0).split(" "))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rows = CurationOps.cmsFreq(spark, sfSmall).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 20)
    rows.foreach { case (term, exact, est, over) =>
      assert(truth(term) == exact, s"$term exact $exact != ${truth(term)}")
      assert(est >= exact, s"$term CMS underestimated: $est < $exact")
      assert(over == est - exact)
    }
    // the deliberately narrow w=8 sketch must actually collide on the
    // 31-term fixture vocab — otherwise the min/overcount path is dead
    assert(rows.exists(_._4 > 0), "no collisions: sketch too wide for fixture")
    // top-20 by count: ranking matches the recount
    val expect = truth.toSeq.sortBy { case (t, n) => (-n, t) }.take(20).map(_._1)
    assert(rows.map(_._1).toSeq == expect)
  }

  test("normalize dedup: funnel is monotone n_docs >= n_norm >= n_bag") {
    val rows = CurationOps.normalizeDedup(spark, sfSmall).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.map(_._2).sum == 500)
    rows.foreach { case (lang, nDocs, nNorm, nBag, nDup) =>
      assert(nDocs >= nNorm, s"$lang: norm grew the set")
      assert(nNorm >= nBag, s"$lang: bag is a weaker equality, can't exceed norm")
      assert(nDup == nDocs - nBag)
    }
  }

  test("epoch cap: allocation conserves budget, respects capacity") {
    val rows = CurationOps.epochCap(spark, sfSmall).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3),
        r.getLong(4)))
    val totCap = rows.map(_._2).sum
    val budget = totCap * 19 / 20
    val alloc = rows.map(_._3).sum
    assert(alloc <= budget, s"over-allocated: $alloc > $budget")
    // fixed-two-pass water-filling may leave a residual, but it must be
    // small: under one source's weight-share of the second pass
    assert(budget - alloc < totCap / rows.length,
      s"residual ${budget - alloc} too large for a converged allocation")
    rows.foreach { case (src, cap, a, pinned, epochsE6) =>
      assert(a <= cap, s"$src allocated over capacity")
      assert(epochsE6 <= 1000000L, s"$src epochs_e6 $epochsE6 > 1.0 epoch")
      assert(a * 1000000L / cap == epochsE6, s"$src epochs_e6 inconsistent")
      if (pinned) assert(a == cap, s"$src pinned but not at capacity")
    }
    // the fixture must exercise the cap (uniform corpus + sqrt weights
    // pin the smallest sources at 95% budget)
    assert(rows.exists(_._4), "no source pinned: cap path unexercised")
    assert(rows.exists(!_._4), "all sources pinned: budget degenerate")
  }

  test("pipeline ledger: monotone funnel, stage-1 == qualityFilter tallies") {
    val rows = CurationOps.pipelineLedger(spark, sfSmall).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.map(t => (t._1, t._2)).toSeq ==
      Seq((0, "raw"), (1, "quality"), (2, "exact_dedup")))
    assert(rows(0)._5 == 1.0 && rows(0)._6 == 1.0)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3 && b._4 <= a._4, s"funnel grew at stage ${b._1}")
    }
    // cross-operator consistency: the quality stage passes EXACTLY the
    // docs/tokens the standalone qualityFilter report counts as kept
    val qf = graft.ops.TextOps.qualityFilter(spark, sfSmall).collect()
    assert(rows(1)._3 == qf.map(_.getLong(2)).sum, "quality doc tally differs")
    assert(rows(1)._4 == qf.map(_.getLong(3)).sum, "quality token tally differs")
  }

  test("lift table: score concentrates the target (top>1>bottom lift)") {
    val rows = CurationOps.liftTable(spark, sfSmall).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(rows.map(_._1).toSeq == (1 to 10))
    assert(rows.map(_._2).max - rows.map(_._2).min <= 1, "deciles unbalanced")
    val nEn = Tables.documents(spark, sfSmall)
      .filter(col("lang") === "en").count()
    assert(rows.map(_._3).sum == nEn, "positives don't conserve")
    // the whole point of the score: the head is enriched, the tail
    // depleted relative to base rate
    assert(rows.head._5 > 1.0, s"top decile lift ${rows.head._5} <= 1")
    assert(rows.last._5 < 1.0, s"bottom decile lift ${rows.last._5} >= 1")
    rows.foreach { case (_, n, p, rate, _) =>
      assert(math.abs(rate - p.toDouble / n) <= 1e-6)
    }
  }

  test("CV leakage matrix conserves the pair table; folds well-formed") {
    val nPairs = graft.ops.DedupOps.dedupMinhash(spark, sfSmall).count()
    val rows = CurationOps.cvLeakage(spark, sfSmall).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.map(_._3).sum == nPairs, "pair mass not conserved")
    rows.foreach { case (a, b, n, leaks) =>
      assert(a >= 0 && b < 5 && a <= b, s"fold cell ($a,$b) malformed")
      assert(leaks == (a != b))
      assert(n > 0)
    }
    // hash folds split near-dups: SOME pair must leak on this fixture
    // (23 pairs across 5 random folds — same-fold-only would mean the
    // fold hash is correlated with document content)
    assert(rows.exists(_._4), "no cross-fold leakage found — suspicious folds")
  }

  test("bootstrap CI brackets the true mean with sane width") {
    val r = CurationOps.bootstrapCi(spark, sfSmall).collect().head
    val (n, b, mean, lo, hi) = (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getDouble(3), r.getDouble(4))
    assert(n == 500 && b == 50)
    assert(lo < hi, "degenerate interval")
    assert(mean >= lo && mean <= hi,
      s"mean $mean outside percentile interval [$lo,$hi]")
    // binomial(8,1/8) weights: se ≈ sd/sqrt(n); the 95% band must be
    // neither collapsed nor wider than a generous 5× of that
    val xs = Tables.documents(spark, sfSmall)
      .selectExpr("CAST(size(split(text, ' ')) AS LONG) x").collect()
      .map(_.getLong(0).toDouble)
    val m = xs.sum / xs.length
    val se = math.sqrt(xs.map(x => (x - m) * (x - m)).sum / xs.length / xs.length)
    assert(hi - lo > se, s"interval ${hi - lo} narrower than one SE $se")
    assert(hi - lo < 10 * se, s"interval ${hi - lo} wider than 10 SE $se")
  }

  test("curriculum: balanced quartiles with monotone difficulty bands") {
    val rows = CurationOps.curriculum(spark, sfSmall).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    rows.groupBy(_._1).foreach { case (lang, ps) =>
      val sorted = ps.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to 4), s"$lang phases not 1..4")
      // ntile balance: counts differ by at most one
      assert(sorted.map(_._3).max - sorted.map(_._3).min <= 1,
        s"$lang quartiles unbalanced")
      sorted.foreach { p =>
        assert(p._5 >= p._6, s"$lang phase ${p._2} band inverted") }
      // easy→hard: each phase's hardest is no easier than the next
      // phase's easiest (descending-logprob staging)
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(a._6 >= b._5, s"$lang: phase ${a._2}/${b._2} bands overlap wrong way")
      }
    }
  }

  test("inverted index == driver-side posting-list rebuild") {
    val docs = Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val truth = docs.flatMap { case (id, ws) => ws.map(w => (w, id)) }
      .groupBy(_._1).view.mapValues { hits =>
        val postings = hits.map(_._2).distinct.sorted
        (postings.length.toLong, hits.length.toLong,
          postings.take(10).mkString(","), postings.mkString(","))
      }.toMap
    val got = CurationOps.invertedIndex(spark, sfTiny).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))))
    assert(got.map(_._1).toSet == truth.keySet)
    got.foreach { case (term, (df, cf, head, md5sum)) =>
      val (tdf, tcf, thead, tfull) = truth(term)
      assert(df == tdf && cf == tcf, s"$term counts differ")
      assert(head == thead, s"$term head postings differ")
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(tfull.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(md5sum == digest, s"$term checksum differs")
    }
  }

  test("DSIR resample: systematic picks conserve K and follow weights") {
    val rows = CurationOps.dsirResample(spark, sfSmall).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // systematic resampling with step = W div K yields K or K+1 picks
    // (floor-division remainder can admit one extra stride position)
    val picks = rows.map(_._4).sum
    assert(picks >= 100L && picks <= 101L, s"total picks $picks not ~K=100")
    rows.foreach { case (lang, nDocs, nSampled, nPicks) =>
      assert(nSampled <= nPicks, s"$lang sampled docs exceed pick count")
      assert(nSampled <= nDocs, s"$lang sampled more docs than exist")
      assert(nPicks > 0, s"$lang starved despite >0 weight mass")
    }
    // driver-side recompute of the full weight line and stride picks
    val w = CurationOps.importanceWeights(spark, sfSmall).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(3)))
      .sortBy(_._1)
      .map { case (id, lang, dw) =>
        (id, lang, math.max(1L, math.round(math.exp(dw) * 1e6))) }
    val wtot = w.map(_._3).sum
    val step = wtot / 100
    val start = step / 2
    var cum = 0L
    val truth = w.map { case (_, lang, we) =>
      val prev = cum; cum += we
      (lang, (cum - start + step) / step - (prev - start + step) / step)
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    rows.foreach { case (lang, _, _, nPicks) =>
      assert(truth(lang) == nPicks, s"$lang picks $nPicks != ${truth(lang)}")
    }
  }

  test("shard balance: round-robin-by-size bounds shard skew") {
    val docs = Tables.documents(spark, sfSmall)
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1).split(" ").length.toLong))
    val rows = CurationOps.shardBalance(spark, sfSmall).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 8)
    assert(rows.map(_._2).sum == docs.length, "doc conservation")
    assert(rows.map(_._3).sum == docs.map(_._2).sum, "token conservation")
    // LPT round-robin guarantee: per stratum the dealt sequences differ
    // by at most one largest doc, so globally max-min <= langs * maxdoc
    val bound = docs.groupBy(_._1).size * docs.map(_._2).max
    val skew = rows.map(_._3).max - rows.map(_._3).min
    assert(skew <= bound, s"shard skew $skew exceeds LPT bound $bound")
    // doc counts differ by at most one per stratum
    assert(rows.map(_._2).max - rows.map(_._2).min <= docs.groupBy(_._1).size)
  }

  test("nDCG: bounded in [0,1], components consistent") {
    val r = RetrievalOps.ndcg(spark, sfSmall).collect().head
    val (k, nRelTot, nRelTop, dcg, idcg, nd) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5))
    assert(k == 20)
    assert(nRelTop <= math.min(nRelTot, k))
    assert(dcg <= idcg, "DCG cannot exceed the ideal")
    assert(nd >= 0.0 && nd <= 1.0)
    // g_e6 is maximal at rank 1 and the ideal stacks best-first: with
    // any relevant doc found, dcg > 0; idcg counts min(n_rel, k) gains
    if (nRelTop > 0) assert(dcg > 0)
    val gains = (1 to math.min(nRelTot, k).toInt)
      .map(rk => math.round(1e6 / (math.log(rk + 1.0) / math.log(2.0))))
    assert(idcg == gains.sum, s"idcg $idcg != ${gains.sum}")
  }

  test("RRF fusion: scores recompute from ranks and rank monotonically") {
    val rows = RetrievalOps.rrfFusion(spark, sfSmall).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Int]),
        Option(r.get(3)).map(_.asInstanceOf[Int]), r.getLong(4)))
    assert(rows.length == 20)
    assert(rows.map(_._1).toSeq == (1 to 20), "frank not 1..20")
    rows.foreach { case (_, doc, lex, sem, rrfE6) =>
      val want = lex.map(r => 1000000L / (60 + r)).getOrElse(0L) +
        sem.map(r => 1000000L / (60 + r)).getOrElse(0L)
      assert(rrfE6 == want, s"doc $doc rrf $rrfE6 != $want from ranks $lex/$sem")
      assert(lex.nonEmpty || sem.nonEmpty, s"doc $doc in neither list")
    }
    // fused order is non-increasing in score with doc_id tiebreak
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._5 > b._5 || (a._5 == b._5 && a._2 < b._2),
        s"fusion order violated between ${a._2} and ${b._2}")
    }
    // both modalities contribute to the consensus head
    assert(rows.take(5).exists(r => r._3.nonEmpty && r._4.nonEmpty),
      "no doc in the top-5 appears in both lists")
  }

  test("quantile normalization: bounded, monotone, tops out at exactly 1") {
    val rows = ops.CurationOps.quantileNorm(spark, sfTiny).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("score"),
        r.getAs[Long]("cdf_e6")))
    rows.foreach { case (_, _, c) => assert(c > 0L && c <= 1000000L) }
    // within a source, CDF is monotone in the score
    rows.groupBy(_._1).values.foreach { g =>
      g.sortBy(_._2).sliding(2).foreach {
        case Array((_, s1, c1), (_, s2, c2)) =>
          assert(c1 <= c2 || s1 == s2, s"CDF not monotone: $s1->$c1, $s2->$c2")
        case _ =>
      }
    }
    // the max score of a source sits at exactly cdf = 1e6 (half-up of n/n)
    val perSrc = Tables.documents(spark, sfTiny)
      .groupBy(col("source")).agg(max(col("n_chars")).as("mx")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.filter { case (s, sc, _) => perSrc(s) == sc }
      .foreach { case (_, _, c) => assert(c == 1000000L) }
  }

  test("feature hashing: token mass conserved, driver-side hash recompute") {
    val rows = CurationOps.featureHash(spark, sfTiny).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val docs = Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(term: String): Long = {
      val hex = md.digest(term.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val hits = docs.flatMap { case (id, text) =>
      text.split(" ", -1).map { t => val hv = h(t)
        (hv % 64L, if ((hv / 64L) % 2L == 0L) 1L else -1L, id) }
    }
    val truth = hits.groupBy(_._1).map { case (b, hs) =>
      b -> ((hs.length.toLong, hs.map(_._2).sum, hs.map(_._3).distinct.length.toLong))
    }
    assert(rows == truth, "bucket profile differs from driver hash recompute")
    assert(rows.values.map(_._1).sum == hits.length.toLong, "token mass lost")
    rows.foreach { case (b, (n, mass, df)) =>
      assert(b >= 0 && b < 64 && df <= docs.length && math.abs(mass) <= n)
    }
  }
  test("mmr rerank: greedy trades relevance for diversity, step 1 is argmax") {
    val rows = graft.ops.RetrievalOps.mmrRerank(spark, sfTiny).collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.values.foreach { sel =>
      val steps = sel.map(_.getAs[Long]("step")).sorted
      assert(steps.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      // one candidate is never selected twice
      assert(sel.map(_.getAs[Long]("cid")).distinct.length == 5)
      val s1 = sel.find(_.getAs[Long]("step") == 1L).get
      // step 1 has no diversity penalty: mmr == rel, and it is the max rel
      assert(s1.getAs[Double]("mmr6") == s1.getAs[Double]("rel6"))
      assert(sel.forall(r => r.getAs[Double]("rel6") <= s1.getAs[Double]("rel6")))
      // later steps carry a penalty: mmr <= lambda * rel (+ rounding slack)
      sel.filter(_.getAs[Long]("step") > 1L).foreach { r =>
        assert(r.getAs[Double]("mmr6") <= 0.7 * r.getAs[Double]("rel6") + 0.31,
          "mmr must be penalized relative to pure relevance")
      }
    }
  }

  test("record linkage partitions candidates and ranks patterns sanely") {
    val rl = graft.ops.CurationOps.recordLinkage(spark, sfTiny).collect()
    val nCand = graft.ops.DedupOps.dedupSimhash(spark, sfTiny).count()
    assert(rl.map(_.getAs[Long]("n_pairs")).sum == nCand,
      "patterns must partition the candidate set")
    rl.foreach { r =>
      val odds = r.getAs[Double]("odds")
      assert(odds > 0.0)
      // classifier and displayed odds agree away from the boundary
      if (odds > 1.01) assert(r.getAs[Boolean]("is_link"))
      if (odds < 0.99) assert(!r.getAs[Boolean]("is_link"))
    }
    // full agreement beats full disagreement wherever both occur
    val byGamma = rl.map(r => r.getAs[Int]("gamma") -> r.getAs[Double]("odds")).toMap
    for (hi <- byGamma.get(15); lo <- byGamma.get(0)) assert(hi > lo)
  }

  test("greedy cover: matches driver greedy, gains never increase (submodularity)") {
    val docs = Tables.documents(spark, sfSmall)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val shingles = docs.map { case (id, t) =>
      val ws = t.split(" ", -1)
      id -> (if (ws.length < 3) Set.empty[String]
             else ws.sliding(3).map(_.mkString(" ")).toSet)
    }.filter(_._2.nonEmpty).toMap
    var covered = Set.empty[String]
    var picked = Set.empty[Long]
    val truth = (1 to 5).map { r =>
      val (doc, gain) = shingles.view.filterKeys(!picked(_))
        .mapValues(s => (s -- covered).size).toSeq
        .maxBy { case (id, g) => (g, -id) }
      covered ++= shingles(doc); picked += doc
      (r.toLong, doc, gain.toLong)
    }
    val rows = ops.CurationOps.greedyCover(spark, sfSmall).collect()
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == truth.toSeq,
      s"greedy selections differ: ${got.toSeq} vs $truth")
    // submodularity: marginal gains are non-increasing round over round
    val gains = got.map(_._3)
    gains.zip(gains.tail).foreach { case (a, b) =>
      assert(b <= a, s"gain increased: $gains")
    }
    // running coverage in the output is the gain prefix sum
    val cum = rows.map(_.getLong(3))
    assert(cum.toSeq == gains.scanLeft(0L)(_ + _).tail.toSeq)
  }

  test("fasttext features: single-token docs get unigrams only, no fault") {
    import spark.implicits._
    val out = Seq("solo", "two words").toDF("text")
      .withColumn("ws", split(col("text"), " "))
      .select(expr(ops.CurationOps.FtFeatureExpr).as("feats"))
      .collect().map(_.getSeq[String](0).toList)
    assert(out(0) == List("u:solo"),
      s"single-token doc must yield just its unigram, got ${out(0)}")
    assert(out(1) == List("u:two", "u:words", "b:two words"))
  }

  test("fasttext score: matches a driver-side bag-of-hashed-features recompute") {
    val docs = Tables.documents(spark, sfSmall)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val weight = (0L until 4096L).map(b =>
      b -> (md5Long(s"w:$b") % 2001 - 1000)).toMap
    val perDoc = docs.map { case (id, lang, t) =>
      val ws = t.split(" ", -1)
      val feats = ws.map("u:" + _) ++
        ws.iterator.zip(ws.iterator.drop(1)).map(p => s"b:${p._1} ${p._2}")
      val buckets = feats.map(f => md5Long(f) % 4096)
      val sE3 = buckets.map(weight).sum
      val pE6 = math.round(1000000.0 /
        (1.0 + math.exp(-sE3.toDouble / (buckets.length * 1000.0))))
      (lang, pE6 >= 500000L, pE6)
    }
    val truth = perDoc.groupBy(t => (t._1, t._2)).map { case (k, xs) =>
      k -> (xs.length.toLong, xs.map(_._3).min, xs.map(_._3).max)
    }
    val got = ops.CurationOps.fasttextScore(spark, sfSmall).collect()
    assert(got.map(r => (r.getString(0), r.getBoolean(1))).toSet == truth.keySet)
    got.foreach { r =>
      val (n, mn, mx) = truth((r.getString(0), r.getBoolean(1)))
      assert(r.getLong(2) == n, s"n_docs for ${(r.getString(0), r.getBoolean(1))}")
      assert(math.abs(r.getDouble(3) - mn / 1000000.0) < 1.1e-6, "min_p")
      assert(math.abs(r.getDouble(4) - mx / 1000000.0) < 1.1e-6, "max_p")
    }
    // the lattice weights really do split the corpus: both labels occur
    assert(got.map(_.getBoolean(1)).toSet == Set(true, false),
      "classifier must produce both kept and dropped docs")
  }

  test("cluster split: zero cross-fold near-dup pairs; doc-hash folds DO leak here") {
    val rows = ops.CurationOps.clusterSplit(spark, sfSmall).collect()
    // the defining property, from the operator's own witness …
    assert(rows.forall(_.getAs[Long]("n_cross_pairs") == 0L),
      "cluster-aware folds must never split a near-dup pair")
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, sfSmall).count(), "folds must partition the corpus")
    // … and independently: recompute fold-crossing from the pair table
    val folds = rows.head // witness columns are corpus-wide constants
    assert(folds.getAs[Long]("n_pairs") > 0, "fixture must have near-dup pairs")
    // contrast: the PLAIN doc-hash folds (cvLeakage's audit subject)
    // leak on this very fixture — the remedy is not vacuous
    val leaky = ops.CurationOps.cvLeakage(spark, sfSmall).collect()
      .filter(_.getAs[Boolean]("leaks")).map(_.getAs[Long]("n_pairs")).sum
    assert(leaky > 0,
      "doc-hash folds should leak on this fixture (else the contrast is dead)")
  }

  test("lift table: exact deciles ntile, the approx twin plans GK decile cutpoints") {
    val exactPlan = ops.CurationOps.liftTable(spark, sfTiny)
      .queryExecution.optimizedPlan.toString
    assert(exactPlan.contains("ntile") &&
      !exactPlan.contains("approx_percentile"),
      "the flagship must ntile for oracle parity")
    val approx = ops.CurationOps.liftTableApprox(spark, sfTiny)
    val plan = approx.queryExecution.optimizedPlan
    assert(plan.toString.contains("approx_percentile"),
      "the approx twin must cut with the GK sketch")
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assert(plan.collect { case w: LWindow => w }.isEmpty,
      "the approx twin must not plan any window")
    // same downstream contract: deciles partition the scored docs, and
    // the ladder yields at most 10 bucket ids
    val row = approx.collect().head
    assert(row.getAs[Long]("n_docs_total") ==
      Tables.documents(spark, sfTiny).count())
    assert(row.getAs[Int]("n_deciles") <= 10)
    // the invariant twin holds at the sketch's accuracy
    val inv = ops.CurationOps.liftTableApprox(spark, sfSmall).collect().head
    assert(inv.getAs[Boolean]("depth_within_5pct"),
      "GK-cut deciles must stay within 5% of n/10 per bucket")
    assert(inv.getAs[Int]("n_deciles") == 10)
  }

  test("naive bayes: smoothing arithmetic, priors, and a total-coverage inference") {
    val model = ops.CurationOps.nbTrain(spark, sfTiny).collect()
    val langs = model.map(_.getAs[String]("lang")).distinct.sorted
    assert(langs.nonEmpty && model.length == langs.length * 5,
      "top-5 rows per class")
    // recompute one row's smoothed log-likelihood driver-side: the e6
    // lattice value must be exactly round(ln((cnt+1)/(n_tokens+V))·1e6)
    model.foreach { r =>
      val expLp = math.round(math.log(
        (r.getAs[Long]("cnt") + 1).toDouble /
          (r.getAs[Long]("n_tokens") + r.getAs[Long]("vocab"))) * 1e6)
      assert(r.getAs[Long]("lp_e6") == expLp, s"lp mismatch: $r")
    }
    // priors exponentiate back to a distribution over the train split
    val priors = model.groupBy(_.getAs[String]("lang")).view
      .mapValues(_.head.getAs[Long]("prior_e6")).toMap
    val mass = priors.values.map(p => math.exp(p / 1e6)).sum
    assert(math.abs(mass - 1.0) < 1e-4, s"priors sum to $mass")
    // ranks are 1..5 per class, counts non-increasing within a class
    model.groupBy(_.getAs[String]("lang")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rk"))
      assert(sorted.map(_.getAs[Int]("rk")).toSeq == Seq(1, 2, 3, 4, 5))
      val cnts = sorted.map(_.getAs[Long]("cnt")).toSeq
      assert(cnts.sliding(2).forall { case Seq(a, b) => a >= b })
    }
    // inference covers every held-out doc exactly once, and only
    // TRAINED classes are ever predicted
    val conf = ops.CurationOps.nbInfer(spark, sfTiny).collect()
    val heldOut = Tables.documents(spark, sfTiny)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 5 === 4).count()
    assert(conf.map(_.getAs[Long]("n_docs")).sum == heldOut)
    assert(conf.map(_.getAs[String]("predicted")).forall(langs.contains))
  }

  test("prfExpand: driver recompute of both rankings, expansion really reranks") {
    val q0 = Seq("spark", "join", "window")
    val docs = Tables.documents(spark, sfTiny)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val n = docs.length.toLong
    val tf = docs.flatMap { case (d, ws) =>
      ws.groupBy(identity).map { case (t, o) =>
        (d, t, math.min(o.size.toLong, 3L)) }
    }
    val dfT = tf.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    def idf(t: String): Long =
      math.round(math.log((n + 1.0) / (dfT(t) + 1.0)) * 1e6)
    def rankOf(scores: Map[Long, Long]): Seq[(Long, Long, Int)] =
      scores.toSeq.sortBy { case (d, s) => (-s, d) }
        .zipWithIndex.map { case ((d, s), i) => (d, s, i + 1) }
    val s1 = tf.filter(e => q0.contains(e._2))
      .groupBy(_._1).view.mapValues(_.map(e => idf(e._2) * e._3).sum).toMap
    val r1 = rankOf(s1)
    val fbSet = r1.take(10).map(_._1).toSet
    val expTerms = tf.filter(e => fbSet(e._1) && !q0.contains(e._2))
      .groupBy(_._2).view.mapValues(_.map(_._3).sum).toSeq
      .map { case (t, cf) => (t, idf(t) * cf) }
      .sortBy { case (t, w) => (-w, t) }.take(5).map(_._1)
    val qw = (q0.map(_ -> 2L) ++ expTerms.map(_ -> 1L)).toMap
    val s2 = tf.filter(e => qw.contains(e._2))
      .groupBy(_._1).view
      .mapValues(_.map(e => qw(e._2) * idf(e._2) * e._3).sum).toMap
    val r2 = rankOf(s2).take(15)
    val rows = ops.RetrievalOps.prfExpand(spark, sfTiny).collect()
    assert(rows.length == 15)
    val r1rank = r1.take(50).map(t => t._1 -> t._3).toMap
    for ((r, want) <- rows.zip(r2)) {
      assert(r.getInt(0) == want._3 && r.getLong(1) == want._1 &&
        r.getLong(2) == want._2, s"exp ranking differs at ${want._3}")
      val wantBase = r1rank.get(want._1)
      assert(Option(r.get(3)).map(_.asInstanceOf[Int]) == wantBase)
    }
    // the PRF loop must DO something: final order differs from base
    val baseTop = r1.take(15).map(_._1)
    assert(r2.map(_._1) != baseTop, "expansion left the ranking unchanged")
    assert(expTerms.toSet.intersect(q0.toSet).isEmpty)
  }

  test("nbCalibration equals a driver-side softmax/Brier recompute") {
    val docs = Tables.documents(spark, sfTiny)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val train = docs.filter(_._1 % 5 != 4)
    val testD = docs.filter(_._1 % 5 == 4)
    val toks = train.flatMap { case (_, l, t) => t.split(" ").map(l -> _) }
    val nTok = toks.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nDoc = train.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nAll = train.size.toLong
    val v = toks.map(_._2).distinct.size.toLong
    val cnt = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val classes = nDoc.keys.toSeq.sorted
    def lp(c: String, t: String): Long = math.round(math.log(
      (cnt.getOrElse((c, t), 0L) + 1).toDouble / (nTok(c) + v)) * 1e6)
    def prior(c: String): Long =
      math.round(math.log(nDoc(c).toDouble / nAll) * 1e6)
    def halfUp(num: BigInt, den: BigInt): Long =
      ((num * 2 + den) / (den * 2)).toLong

    case class D(conf: Long, correct: Long, brier: Long)
    val perDoc = testD.map { case (_, lang, text) =>
      val slp = classes.map(c =>
        c -> (prior(c) + text.split(" ").map(t => lp(c, t)).sum)).toMap
      val m = slp.values.max
      val pE6 = classes.map(c =>
        c -> math.round(math.exp((slp(c) - m).toDouble / 1e6) * 1e6)).toMap
      val z = pE6.values.sum
      val q = classes.map(c => c -> halfUp(BigInt(pE6(c)) * 1000000, z)).toMap
      val pred = classes.sortBy(c => (-slp(c), c)).head
      val brier = classes.map { c =>
        val y = if (c == lang) 1000000L else 0L
        val d = q(c) - y; d * d
      }.sum
      D(q(pred), if (pred == lang) 1L else 0L, brier)
    }
    val nA = perDoc.size.toLong
    val sb = perDoc.map(d => BigInt(d.brier)).sum
    val brierE6 = halfUp(sb, BigInt(nA) * 1000000)
    val want = perDoc.groupBy(d => math.min(d.conf * 10 / 1000000, 9L))
      .map { case (bin, ds) =>
        bin -> (ds.size.toLong, ds.map(_.correct).sum,
          halfUp(ds.map(d => BigInt(d.correct)).sum * 1000000, ds.size),
          halfUp(ds.map(d => BigInt(d.conf)).sum, ds.size))
      }
    val rows = ops.CurationOps.nbCalibration(spark, sfTiny).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nA)
    assert(rows.map(_.getLong(0)).toSet == want.keySet)
    for (r <- rows) {
      val (n, nc, acc, avgc) = want(r.getLong(0))
      assert(r.getAs[Long]("n_docs") == n && r.getAs[Long]("n_correct") == nc)
      assert(r.getAs[Double]("accuracy") == acc / 1e6)
      assert(r.getAs[Double]("avg_conf") == avgc / 1e6)
      assert(r.getAs[Long]("brier_e6") == brierE6)
      // reliability-table sanity: confidences live inside the bin
      val bin = r.getLong(0)
      assert(avgc / 1e6 >= bin / 10.0 - 1e-6 &&
        avgc / 1e6 < (bin + 1) / 10.0 + 1e-6)
    }
  }

  test("DoReMi mixture: learned weights track excess loss, smoothing floors hold") {
    val rows = CurationOps.doremiMix(spark, sfSmall).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val nDom = rows.length
    assert(nDom == 20)
    // brute-force the per-source CE on the same integer lattice
    val docs = Tables.documents(spark, sfSmall)
      .selectExpr("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1)))
    val all = docs.flatMap(_._2)
    val nTot = all.length.toLong
    val tf = all.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val truth = docs.groupBy(_._1).view.mapValues { g =>
      val toks = g.flatMap(_._2)
      val slp = toks.map(t =>
        math.round(math.log(tf(t).toDouble / nTot) * 1000000.0)).sum
      (toks.length.toLong, -slp / toks.length)
    }.toMap
    rows.foreach { case (src, nToks, loss, excess, _, _) =>
      assert((nToks, loss) == truth(src), s"$src CE lattice diverges")
      assert(excess >= 0L, s"$src excess not clipped")
    }
    // monotone: more excess loss never gets LESS weight
    rows.sortBy(_._4).sliding(2).foreach { case Array(a, b) =>
      assert(a._5 <= b._5, s"weight order breaks excess order: $a vs $b")
    }
    // normalization (floor rounding loses < 2 per domain) and the
    // 20%-of-uniform smoothing floor that keeps every domain alive
    val wSum = rows.map(_._5).sum
    assert(wSum <= 1000000L && wSum > 1000000L - 2L * nDom, s"mass $wSum")
    val floor = (1000000L / nDom) / 5
    rows.foreach { case (src, _, _, _, w, _) =>
      assert(w >= floor, s"$src weight $w under the smoothing floor $floor") }
  }

  test("Bradley-Terry recovers the latent strength ordering exactly") {
    val rows = CurationOps.bradleyTerry(spark, sfSmall).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1)
    assert(rows.length == 12)
    // conservation: every comparison produced one win and one loss
    rows.foreach { case (i, n, w, l, _, _) =>
      assert(w + l == n, s"item $i: wins+losses != comps") }
    assert(rows.map(_._3).sum == rows.map(_._4).sum,
      "global wins must equal global losses")
    // the whole point: with BT-distributed outcomes against latent
    // strengths s_i = i+1, the MM estimator must recover the exact
    // latent ORDER (rank 1 = strongest = item 11)
    rows.foreach { case (i, _, _, _, _, rk) =>
      assert(rk == 12 - i, s"item $i ranked $rk, want ${12 - i}") }
    // and the estimates track the TRUE normalized strengths
    // (s_i·12e6/78) within 10% — the MM fixed point, not just ordering
    rows.foreach { case (i, _, _, _, st, _) =>
      val truth = (i + 1) * 12000000L / 78L
      assert(math.abs(st - truth).toDouble / truth < 0.10,
        s"item $i strength $st strays >10% from latent $truth") }
    // normalization: mean strength pinned to the 1e6 lattice (floor
    // rounding can only lose <1 per item)
    val tot = rows.map(_._5).sum
    assert(tot <= 12000000L && tot > 12000000L - 24L,
      s"strength mass $tot off the 12e6 normalization")
  }

  test("seq pack == brute-force offset walk; window accounting conserves") {
    val ctx = 512L
    val docs = Tables.documents(spark, sfSmall)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ", -1).length.toLong))
      .sortBy(_._1)
    // brute force: walk the concatenated token stream doc by doc
    var off = 0L
    val walked = docs.map { case (_, src, tok) =>
      val spans = (off + tok - 1) / ctx - off / ctx + 1
      off += tok
      (src, tok, spans)
    }
    val want = walked.groupBy(_._1).view.mapValues { g =>
      (g.length.toLong, g.map(_._2).sum,
        g.count(_._3 > 1).toLong, g.map(_._3).max)
    }.toMap
    val total = walked.map(_._2).sum
    val nWindows = (total + ctx - 1) / ctx
    val rows = CurationOps.seqPack(spark, sfSmall).collect()
    val got = rows.map(r => r.getAs[String]("source") ->
      ((r.getAs[Long]("n_docs"), r.getAs[Long]("tokens"),
        r.getAs[Long]("n_split"), r.getAs[Long]("max_spans")))).toMap
    assert(got == want, s"per-source packing diverges: got $got want $want")
    // witness: window count and tail pad are the closed-form values,
    // identical on every row
    assert(rows.map(_.getAs[Long]("n_windows")).toSet == Set(nWindows))
    assert(rows.map(_.getAs[Long]("tail_pad")).toSet ==
      Set(nWindows * ctx - total))
    // the fixture must actually split docs across windows — otherwise
    // the span arithmetic is untested
    assert(want.values.map(_._3).sum > 0, "no boundary-split docs in fixture")
    // conservation: token mass in windows == corpus mass + tail pad
    assert(rows.map(_.getAs[Long]("tokens")).sum == total)
  }

  test("isotonic minimax == classic PAV stack recompute; monotone fit") {
    val scored = CurationOps.importanceWeights(spark, sfTiny)
      .selectExpr("doc_id", "lang", "dsir_w").collect()
      .map(r => (r.getLong(0), r.getString(1) == "en", r.getDouble(2)))
      .sortBy(t => (t._3, t._1))
    // ntile semantics: first (n mod k) bins take the extra row
    val n = scored.length
    val k = 16
    val (base, extra) = (n / k, n % k)
    val bins = Seq.tabulate(k) { b =>
      val start = b * base + math.min(b, extra)
      val len = base + (if (b < extra) 1 else 0)
      val slice = scored.slice(start, start + len)
      (slice.length.toLong, slice.count(_._2).toLong)
    }
    // classic PAV: merge adjacent pools while the rate would decrease
    // (fraction compare by cross-multiplication — no float)
    val pools = scala.collection.mutable.Stack[(Long, Long)]() // (n, pos)
    val members = scala.collection.mutable.Stack[Int]()
    bins.foreach { case (bn, bp) =>
      var (cn, cp, cm) = (bn, bp, 1)
      while (pools.nonEmpty && pools.top._2 * cn >= cp * pools.top._1) {
        val (pn, pp) = pools.pop(); val pm = members.pop()
        cn += pn; cp += pp; cm += pm
      }
      pools.push((cn, cp)); members.push(cm)
    }
    val pavLevels = pools.toSeq.reverse.zip(members.toSeq.reverse)
      .flatMap { case ((pn, pp), m) =>
        Seq.fill(m)(pp * 1000000L / pn)
      }
    val got = CurationOps.isotonicCalibration(spark, sfTiny).collect()
      .sortBy(_.getInt(0))
    assert(got.length == k)
    got.zipWithIndex.foreach { case (r, b) =>
      assert((r.getLong(1), r.getLong(2)) == bins(b), s"bin ${b + 1} counts")
      assert(r.getLong(3) == bins(b)._2 * 1000000L / bins(b)._1,
        s"raw rate bin ${b + 1}")
      assert(r.getLong(4) == pavLevels(b),
        s"bin ${b + 1}: minimax ${r.getLong(4)} != PAV ${pavLevels(b)}")
    }
    // the fit is monotone and actually pooled somewhere (raw rates on
    // this fixture are NOT already isotone)
    val iso = got.map(_.getLong(4))
    assert(iso.zip(iso.tail).forall { case (a, b) => a <= b }, "not monotone")
    assert(got.exists(r => r.getLong(3) != r.getLong(4)),
      "raw rates already isotone — PAV unexercised on fixture")
  }

  test("adaboost == driver-side exact-lattice recompute; boosting invariants") {
    val raw = Tables.embeddings(spark, sfTiny)
      .selectExpr("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2)))
    def q3(v: Float): Long = {
      val x = v.toDouble * 1000.0
      if (x < 0) -math.round(-x) else math.round(x)
    }
    val xs = raw.map { case (_, lab, emb) =>
      (if (lab == 0) 1L else -1L, emb.map(q3).toArray)
    }
    val grid = Seq(-225L, -150L, -75L, 0L, 75L, 150L, 225L, 1000L)
    val dim = xs.head._2.length
    val w = Array.fill(xs.length)(1000000L)
    val wantStumps = Seq.newBuilder[(Int, Long, Long, Long, Long)]
    var prevStump: Option[(Int, Long, Long)] = None
    for (_ <- 1 to 4) {
      val wAll = w.sum
      val cands = for (j <- 0 until dim; thr <- grid) yield {
        val we = xs.indices.map { i =>
          val h = if (xs(i)._2(j) > thr) 1L else -1L
          if (h != xs(i)._1) w(i) else 0L
        }.sum
        Seq((j, thr, 1L, we), (j, thr, -1L, wAll - we))
      }
      val (j, thr, pol, werr) =
        cands.flatten.minBy { case (j, t, p, we) => (we, j, t, p) }
      // boosting invariant: the chosen stump beats random under the
      // CURRENT weights
      assert(werr * 2 < wAll, s"chosen stump no better than random")
      // invariant: the PREVIOUS round's stump is exactly useless now —
      // its reweighted error sits at 1/2 up to lattice rounding
      prevStump.foreach { case (pj, pt, pp) =>
        val pe = xs.indices.map { i =>
          val h = (if (xs(i)._2(pj) > pt) 1L else -1L) * pp
          if (h != xs(i)._1) w(i) else 0L
        }.sum
        val ratio = pe.toDouble / wAll
        assert(math.abs(ratio - 0.5) < 0.01,
          s"previous stump error $ratio not ~1/2 after reweight")
      }
      prevStump = Some((j, thr, pol))
      val alphaE6 = math.round(
        math.log((wAll - werr).toDouble / werr) / 2.0 * 1e6)
      val fUp = math.round(math.exp(alphaE6 / 1e6) * 1e6)
      val fDn = math.round(math.exp(-alphaE6 / 1e6) * 1e6)
      wantStumps += ((j + 1, thr, pol, werr * 1000000L / wAll, alphaE6))
      for (i <- xs.indices) {
        val h = (if (xs(i)._2(j) > thr) 1L else -1L) * pol
        w(i) = w(i) * (if (h != xs(i)._1) fUp else fDn) / 1000000L
      }
    }
    val want = wantStumps.result()
    val got = ops.CurationOps.adaboostStumps(spark, sfTiny).collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getLong(1).toInt, r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq == want, s"stump trajectory: $got vs $want")
  }

  test("logreg GD == driver-side exact-lattice recompute; loss decreases") {
    val raw = Tables.embeddings(spark, sfTiny)
      .selectExpr("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2)))
    def q3(v: Float): Long = {
      val x = v.toDouble * 1000.0
      if (x < 0) -math.round(-x) else math.round(x) // half away from zero
    }
    val xs = raw.map { case (_, lab, emb) =>
      (if (lab == 0) 1000000L else 0L, 1000L +: emb.map(q3).toArray)
    }
    val n = xs.length.toLong
    val dim = xs.head._2.length
    val w = Array.fill(dim)(0L)
    val iters = 5
    val wantLosses = (1 to iters).map { _ =>
      val withP = xs.map { case (y, x) =>
        val m = (0 until dim).map(j => w(j) * x(j)).sum
        val p = math.round(1e6 / (1.0 + math.exp(-(m / 1e9))))
        val pc = math.max(1L, math.min(999999L, p))
        val lr = math.round((if (y == 1000000L) -math.log(pc / 1e6)
                             else -math.log((1000000L - pc) / 1e6)) * 1e6)
        (y, x, p, lr)
      }
      val loss = withP.map(_._4).sum
      for (j <- 0 until dim) {
        val g = withP.map { case (y, x, p, _) => (y - p) * x(j) }.sum
        w(j) = w(j) + 2L * g / (n * 1000L) // truncating, == DuckDB //
      }
      loss
    }
    val (gotW, gotLosses, gotN) =
      CurationOps.logregTrainLoop(spark, sfTiny, iters)
    assert(gotN == n)
    assert(gotLosses == wantLosses, s"loss trajectory: $gotLosses")
    assert(gotW.toSeq == w.toSeq, "final weights diverge from recompute")
    // the trainer must actually LEARN: every round's incoming loss is
    // strictly below the previous round's (full-batch GD at this η is
    // monotone on the fixture), and the fitted model beats both the
    // all-negative majority guess and the w=0 coin-flip loss (ln 2)
    assert(gotLosses == gotLosses.sorted.reverse &&
      gotLosses.distinct.size == gotLosses.size,
      s"loss not strictly decreasing: $gotLosses")
    val acc = {
      val correct = xs.count { case (y, x) =>
        val m = (0 until dim).map(j => w(j) * x(j)).sum
        (m > 0) == (y == 1000000L)
      }
      correct.toDouble / n
    }
    val majority = xs.count(_._1 == 0L).toDouble / n
    assert(acc >= majority, f"trained acc $acc%.3f below majority $majority%.3f")
    assert(gotLosses.last < math.round(math.log(2) * 1e6) * n,
      "after training, loss still at or above the w=0 coin-flip bound")
  }

  test("rendezvous: minimal disruption and sane movement on reshard") {
    val rows = CurationOps.rendezvous(spark, sfTiny).collect()
    assert(rows.length == 8)
    val nDocs = rows.map(_.getLong(1)).sum
    val moved = rows.map(_.getLong(2)).sum
    // THE HRW guarantee: every mover goes to the ADDED shard — adding
    // shard 8 cannot re-rank the existing candidates against each other
    assert(rows.forall(_.getLong(3) == 0L), "a doc moved between OLD shards")
    // movement mass ≈ 1/9 of the corpus (binomial; generous 3σ-ish band)
    val frac = moved.toDouble / nDocs
    assert(frac > 0.03 && frac < 0.25, s"moved fraction $frac not ~1/9")
    // every doc is assigned exactly once across the 8 old shards
    assert(nDocs == spark.read
      .parquet(s"$sfTiny/documents.parquet").count())
  }

  test("epoch shuffle: bucketed adjacency equals the naive global scan") {
    val docs = spark.read.parquet(s"$sfTiny/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def key(epoch: Int, id: Long): Long =
      if (epoch == 0) id
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$epoch:$id".getBytes("UTF-8"))
        java.lang.Long.parseLong(
          md.map("%02x".format(_)).mkString.substring(0, 15), 16)
      }
    val want = (0 to 3).map { e =>
      val ordered = docs.sortBy { case (id, _) => (key(e, id), id) }
      ordered.sliding(2).count(w => w(0)._2 == w(1)._2).toLong
    }
    val got = CurationOps.epochShuffle(spark, sfTiny).collect()
    assert(got.map(_.getInt(0)).toSeq == Seq(0, 1, 2, 3))
    assert(got.map(_.getLong(2)).toSeq == want,
      s"bucketed ${got.map(_.getLong(2)).toSeq} != naive $want")
    assert(got.forall(_.getLong(1) == docs.length.toLong))
    // the yardstick column: (n-1)·Σp² on uniform 20-source data
    val cnt = docs.groupBy(_._2).view.mapValues(_.length.toDouble).values
    val n = docs.length.toDouble
    val expect = BigDecimal((n - 1) * cnt.map(c => c * c).sum / (n * n))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.forall(_.getDouble(3) == expect))
  }

  test("mcnemar: cells partition the held-out split, chi2 from discordants") {
    val r = CurationOps.mcnemar(spark, sfTiny).collect()
    assert(r.length == 1)
    val row = r.head
    val (n, bothOk, nbOnly, hOnly, bothWrong) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
        row.getLong(4))
    assert(bothOk + nbOnly + hOnly + bothWrong == n)
    // held-out split size: doc_id % 5 == 4
    val heldOut = spark.read.parquet(s"$sfTiny/documents.parquet")
      .filter("doc_id % 5 = 4").count()
    assert(n == heldOut)
    val d = math.abs(nbOnly - hOnly)
    val want =
      if (nbOnly + hOnly == 0) 0.0
      else BigDecimal((d - 1.0) * (d - 1.0) / (nbOnly + hOnly))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row.getDouble(5) == want)
  }

  test("label noise: confident joint is a sub-census with coherent cells") {
    val rows = CurationOps.labelNoise(spark, sfTiny).collect()
    val heldOut = spark.read.parquet(s"$sfTiny/documents.parquet")
      .filter("doc_id % 5 = 4").count()
    // docs clearing no class threshold abstain, so the census is a
    // subset of the held-out split; every doc counts at most once
    assert(rows.map(_.getLong(2)).sum <= heldOut)
    assert(rows.map(_.getLong(2)).sum > 0)
    rows.foreach { r =>
      assert(r.getBoolean(4) == (r.getString(0) != r.getString(1)))
      // picked docs cleared their predicted class's threshold, so the
      // cell's mean confidence is strictly positive
      assert(r.getLong(3) > 0L && r.getLong(3) <= 1000000L)
    }
    // the confident diagonal must be non-empty on a learnable fixture
    assert(rows.exists(r => !r.getBoolean(4)))
  }

  test("temperature scaling: exactly one winner at the NLL argmin") {
    val rows = CurationOps.tempScaling(spark, sfTiny).collect()
    assert(rows.map(_.getDouble(0)).toSeq == Seq(0.5, 1.0, 2.0, 4.0, 8.0))
    val nll = rows.map(_.getLong(2))
    assert(nll.forall(_ > 0L))
    val best = rows.filter(_.getBoolean(4))
    assert(best.length == 1)
    assert(best.head.getLong(2) == nll.min)
    // avg is the half-up mean of the total
    rows.foreach { r =>
      val want = (2 * r.getLong(2) + r.getLong(1) -
        (2 * r.getLong(2) + r.getLong(1)) % (2 * r.getLong(1))) /
        (2 * r.getLong(1))
      assert(r.getLong(3) == want)
    }
  }

  test("conformal: quantile is a cal score, sets and coverage coherent") {
    val r = CurationOps.conformal(spark, sfTiny).collect()
    assert(r.length == 1)
    val row = r.head
    val (nCal, qhat, nTest) =
      (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(nCal > 0 && nTest > 0)
    assert(qhat >= 0L && qhat <= 1000000L)
    // sets draw from 5 classes; a doc covers at most once
    assert(row.getLong(3) <= 5 * nTest && row.getLong(3) >= nTest * 0)
    assert(row.getLong(5) <= nTest)
    // the guarantee direction on a small sample: coverage within a
    // generous binomial band of the 90% target (hard failure only on
    // gross miscomputation, not sampling noise)
    val cov = row.getLong(6).toDouble / 1e6
    assert(cov > 0.6 && cov <= 1.0, s"coverage $cov implausible")
    // a larger q-hat can only grow sets: every class is in the set
    // when qhat = 1e6, so avg set size must not exceed the class count
    assert(row.getLong(4) <= 5000000L)
  }

  test("dawid-skene: recovers the planted annotator quality ordering") {
    val rows = CurationOps.dawidSkene(spark, sfTiny).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1, 2, 3))
    val est = rows.map(_._2)
    // planted accuracies are 80% / 66.7% / 90% (strides 5, 3, 10):
    // EM must recover the ORDERING even where the absolute level is
    // biased by label-error correlation
    assert(est(1) < est(0) && est(0) <= est(2),
      s"quality ordering lost: ${est.toSeq}")
    assert(est.forall(e => e > 500000L && e <= 1000000L))
    // the aggregated labels must beat the WORST annotator by a wide
    // margin and sit in the top range
    val agree = rows.head._3
    assert(agree >= 800000L && agree <= 1000000L, s"agreement $agree")
  }

  test("fim transform: lossless on every FIM doc, modes partition") {
    val rows = CurationOps.fimTransform(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    var fimTotal = 0L
    rows.foreach { r =>
      def L(c: String) = r.getLong(r.fieldIndex(c))
      // conservation and reassembly must hold for EVERY transformed
      // doc — a single miss means the transform corrupts the corpus
      assert(L("n_conserved") == L("n_fim"), s"${r.getString(0)} lost tokens")
      assert(L("n_reassembled") == L("n_fim"),
        s"${r.getString(0)} reassembly broke")
      assert(L("n_psm") + L("n_spm") == L("n_fim"))
      assert(L("mid_tokens") <= L("tokens"))
      fimTotal += L("n_fim")
    }
    assert(fimTotal > 0, "no doc was FIM-transformed — degenerate fixture")
  }

  test("canary audit: geometric planting, dedup collapses every class to one") {
    val rows = CurationOps.canaryAudit(spark, sfTiny).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0, 1, 2, 3))
    // planting doubles per class (the secret-sharer duplication sweep)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 == 2 * a._2, s"planting not geometric: ${rows.toSeq}") }
    rows.foreach { case (cls, planted, passQ, surv) =>
      assert(passQ <= planted)
      // all copies of a class share the 40-char fingerprint window —
      // exact dedup must collapse the class to at most one survivor
      assert(surv <= 1L, s"class $cls: $surv canaries survived dedup")
      assert(passQ == 0L || surv == 1L,
        s"class $cls: quality-surviving canaries vanished entirely")
    }
  }

  test("context pack: budget, diversity cap, score order, maximal prefix") {
    val rows = RetrievalOps.contextPack(spark, sfSmall).collect()
    assert(rows.nonEmpty)
    // contiguous ranks from 1, score-descending, budget respected
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getInt(r.fieldIndex("rank")) == i + 1)
      assert(r.getLong(r.fieldIndex("cum_tokens")) <= 512L)
    }
    val scores = rows.map(_.getDouble(rows.head.fieldIndex("bm25")))
    scores.sliding(2).foreach { case Array(a, b) => assert(a >= b) }
    // running sum is genuinely the prefix sum of dl
    val dls = rows.map(_.getLong(rows.head.fieldIndex("dl")))
    assert(rows.last.getLong(rows.head.fieldIndex("cum_tokens")) == dls.sum)
    // no source exceeds the diversity cap
    rows.groupBy(_.getString(rows.head.fieldIndex("source")))
      .foreach { case (s, g) => assert(g.length <= 3, s"source $s over cap") }
    // maximality: the pack stopped because the budget bound, not early
    // (adding any positive-length doc to a 512-budget pack that ended
    // below 512 - max_dl would contradict prefix-greedy); weak check:
    // either the budget is nearly used or every candidate was packed
    assert(rows.last.getLong(rows.head.fieldIndex("cum_tokens")) > 256L ||
      rows.length == 64)
  }

  test("fairness audit: conservation, rate identities, gate coherence") {
    val rows = CurationOps.fairnessAudit(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    var totalN = 0L
    rows.foreach { r =>
      val n = r.getLong(r.fieldIndex("n"))
      val sel = r.getLong(r.fieldIndex("n_sel"))
      val pos = r.getLong(r.fieldIndex("n_pos"))
      totalN += n
      assert(sel >= 0L && sel <= n)
      assert(pos >= 0L && pos <= n)
      assert(math.abs(r.getDouble(r.fieldIndex("sel_rate")) -
        sel.toDouble / n) < 1e-6)
      // tpr/fpr are NULL exactly when their denominator is empty
      assert(r.isNullAt(r.fieldIndex("tpr")) == (pos == 0L))
      assert(r.isNullAt(r.fieldIndex("fpr")) == (n - pos == 0L))
      if (pos > 0L) {
        val tpr = r.getDouble(r.fieldIndex("tpr"))
        assert(tpr >= 0.0 && tpr <= 1.0)
      }
    }
    // the audit covers exactly the held-out split (NbHoldMod = 5)
    val heldOut = Tables.documents(spark, sfTiny)
      .filter(col("doc_id") % 5 === 4).count()
    assert(totalN == heldOut, s"covered $totalN of $heldOut held-out docs")
  }

  test("tracin: exact driver-side recompute of influence and self-influence") {
    val rows = CurationOps.tracin(spark, sfTiny).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows.nonEmpty)
    val (w, _, _) = CurationOps.logregTrainLoop(spark, sfTiny, 5) // LogregIters
    val vecs = Tables.embeddings(spark, sfTiny)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2)))
    // Spark ROUND is half-away-from-zero; math.round is half-up
    def q3(v: Float): Long = {
      val d = v.toDouble * 1000.0
      if (d < 0) -math.round(-d) else math.round(d)
    }
    val feats = vecs.map { case (id, lab, emb) =>
      (id, if (lab == 0) 1000000L else 0L, (1000L +: emb.map(q3)).toArray)
    }
    def pOf(x: Array[Long]): Long = {
      val m = x.zip(w).map { case (a, b) => a * b }.sum
      math.round(1000000.0 / (1.0 + math.exp(-(m.toDouble / 1000000000.0))))
    }
    val testSet = feats.filter(_._1 % 5 == 0)
    val g = Array.fill(w.length)(0L)
    testSet.foreach { case (_, y, x) =>
      val pi = pOf(x)
      x.indices.foreach(j => g(j) += (y - pi) * x(j))
    }
    val gn = g.map(_ / (testSet.length * 1000L))
    feats.filter(_._1 % 5 != 0).foreach { case (id, y, x) =>
      val pi = pOf(x)
      val dot = x.zip(gn).map { case (a, b) => a * b }.sum
      val infl = (y - pi) * dot / 1000000L
      val self = ((y - pi) * (y - pi) / 1000000L) * x.map(v => v * v).sum
      val (y01, dotG, inflE6, selfI) = rows(id)
      assert(y01 == (if (y == 1000000L) 1L else 0L), s"y01 of $id")
      assert(dotG == dot, s"dot_g of $id: got $dotG want $dot")
      assert(inflE6 == infl, s"infl of $id: got $inflE6 want $infl")
      assert(selfI == self, s"self of $id: got $selfI want $self")
      assert(selfI >= 0L)
    }
  }

  test("brier decomposition: five-term identity exact, terms sane") {
    import graft.ops.CurationOps
    val r = CurationOps.brierDecomp(spark, sfTiny).collect().head
    val (n, nc) = (r.getLong(0), r.getLong(1))
    val brier = r.getDouble(2); val rel = r.getDouble(3)
    val res = r.getDouble(4); val unc = r.getDouble(5)
    val gap = r.getDouble(8)
    assert(gap == 0.0, s"identity gap must round to zero, got $gap")
    assert(rel >= 0.0 && res >= 0.0, "REL and RES are sums of squares")
    val p = nc.toDouble / n
    assert(math.abs(unc - BigDecimal(p * (1 - p))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) <= 1e-6,
      "uncertainty is the base-rate variance")
    assert(brier >= 0.0 && brier <= 1.0)
    // the calibration table shares the held-out split (its Brier is the
    // MULTICLASS sum over classes; this op's is the binary top-1
    // confidence event — different by design, sizes must agree)
    val cal = CurationOps.nbCalibration(spark, sfTiny).collect()
    assert(cal.map(_.getAs[Long]("n_docs")).sum == n, "held-out sizes agree")
    // sign-of-zero parity (round 12's red row): the gap column rounds a
    // tiny negative residual; the + 0.0 guard must clear the sign bit
    assertNoNegativeZero(CurationOps.brierDecomp(spark, sfTiny))
  }

  test("sign-of-zero guard: round(tiny negative) + 0.0 is bitwise +0.0") {
    // The named parity pattern (verify SKILL): DuckDB ROUND/ABS keep
    // the sign bit of -0.0, Spark's clear it, and the driver hashes
    // bitwise — so every sign-crossing rounded column ends in + 0.0.
    // Push tiny negative lattice residuals through the guarded shape
    // and pin that the output sign bit is ALWAYS clear.
    import spark.implicits._
    val residuals = Seq(-1e-12, -1e-9, -4.9e-7, -0.0, 0.0, 1e-12)
    val got = residuals.toDF("x")
      .select((round(col("x"), 6) + lit(0.0)).as("guarded"),
        (abs(round(col("x"), 6)) + lit(0.0)).as("guarded_abs"))
      .collect()
    got.foreach { r =>
      Seq(r.getDouble(0), r.getDouble(1)).foreach { d =>
        assert(java.lang.Double.doubleToRawLongBits(d) !=
          java.lang.Double.doubleToRawLongBits(-0.0),
          s"guard leaked -0.0 from $r")
      }
    }
  }

  test("grad noise scale: driver moment recompute; variance positive") {
    val rows = CurationOps.gradNoise(spark, sfTiny).collect()
    val (w, _, _) = CurationOps.logregTrainLoop(spark, sfTiny, 5)
    val feats = Tables.embeddings(spark, sfTiny)
      .selectExpr("vec_id", "label", "embedding").collect()
      .map { r =>
        def q3(v: Float): Long = {
          val x = v.toDouble * 1000.0
          if (x < 0) -math.round(-x) else math.round(x)
        }
        (if (r.getInt(1) == 0) 1000000L else 0L,
          1000L +: r.getSeq[Float](2).map(q3).toArray)
      }
    val grads = feats.map { case (y, x) =>
      val m = x.zip(w).map { case (a, b) => a * b }.sum
      val p = math.round(1e6 / (1.0 + math.exp(-(m / 1e9))))
      x.map(v => (y - p) * v)
    }
    val n = grads.length
    val dim = grads.head.length
    val a = grads.map(g => g.map(v => BigInt(v) * v).sum).sum
    val b = (0 until dim).map(j => grads.map(_(j)).sum)
    val s2 = b.map(v => BigInt(v) * v).sum
    assert(rows.length == dim)
    rows.foreach { r =>
      val j = r.getLong(0).toInt
      assert(r.getLong(1) == b(j - 1), s"g_sum at j=$j")
      assert(r.getLong(2) == n)
    }
    val bSimple = (BigDecimal(n) * BigDecimal(a) / BigDecimal(s2)
      - 1).toDouble
    assert(math.abs(rows.head.getDouble(5) - bSimple) < 1e-4,
      s"B_simple ${rows.head.getDouble(5)} vs replay $bSimple")
    // per-example variance must exist: N·A > S2 strictly (gradients
    // are not all identical), so trace_cov > 0 and B_simple > 0
    assert(rows.head.getDouble(4) > 0.0 && rows.head.getDouble(5) > 0.0)
  }

  test("cartography: census == driver-side trajectory recompute") {
    val (traj, _, _) = CurationOps.logregTrajectoryLoop(spark, sfTiny, 5)
    val feats = Tables.embeddings(spark, sfTiny)
      .selectExpr("vec_id", "label", "embedding").collect()
      .map { r =>
        def q3(v: Float): Long = {
          val x = v.toDouble * 1000.0
          if (x < 0) -math.round(-x) else math.round(x)
        }
        (r.getLong(0), if (r.getInt(1) == 0) 1000000L else 0L,
          1000L +: r.getSeq[Float](2).map(q3).toArray)
      }
    val tN = traj.length
    val want = feats.map { case (id, y, x) =>
      val confs = traj.map { w =>
        val m = x.zip(w).map { case (a, b) => a * b }.sum
        val p = math.round(1e6 / (1.0 + math.exp(-(m / 1e9))))
        if (y == 1000000L) p else 1000000L - p
      }
      val s = confs.sum; val q = confs.map(c => c * c).sum
      val mean = (2 * s + tN) / (2L * tN)
      val varTT = tN * q - s * s
      val region = if (varTT > 88400000000L) "ambiguous"
        else if (mean >= 700000L) "easy" else "hard"
      (id, mean, varTT, region)
    }
    val rows = CurationOps.datasetCartography(spark, sfTiny).collect()
    val census = rows.filter(_.getInt(0) == 0)
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    val wantCensus = want.groupBy(_._4).map { case (k, v) => k -> v.length.toLong }
    assert(census == wantCensus, s"census $census vs $wantCensus")
    // regions must partition the corpus, and the top-ambiguous rows
    // are exactly the 10 highest-T²Var examples (ties by vec_id)
    assert(census.values.sum == feats.length.toLong)
    val gotAmb = rows.filter(_.getInt(0) < 0).sortBy(_.getInt(0))
      .reverse.map(_.getLong(2)).toSeq
    val wantAmb = want.sortBy { case (id, _, v, _) => (-v, id) }
      .take(10).map(_._1).toSeq
    assert(gotAmb == wantAmb, s"top-ambiguous $gotAmb vs $wantAmb")
  }

  test("model soup: weights are the exact trajectory average; both evals coherent") {
    import graft.ops.CurationOps
    val rows = CurationOps.modelSoup(spark, sfTiny).collect()
    assert(rows.length >= 2)
    // the soup IS the truncating integer mean of the checkpoints
    val (traj, _, _) = CurationOps.logregTrajectoryLoop(spark, sfTiny, 5)
    rows.foreach { r =>
      val j = r.getAs[Long]("j").toInt - 1
      val want = (2L * traj.map(_(j)).sum + traj.length) / (2L * traj.length)
      assert(r.getAs[Long]("w_soup_e6") == want, s"soup weight j=$j")
      assert(r.getAs[Long]("w_final_e6") == traj.last(j), s"final weight j=$j")
    }
    val h = rows.head
    for (c <- Seq("soup_acc_e6", "final_acc_e6")) {
      val v = h.getAs[Long](c)
      assert(v >= 0L && v <= 1000000L, s"$c out of [0,1]: $v")
    }
    // metric columns are corpus constants, identical on every row
    assert(rows.map(_.getAs[Long]("soup_loss_e6")).distinct.length == 1)
    assert(rows.map(_.getAs[Long]("n")).distinct.length == 1)
  }

  test("ema soup: weights are the exact dyadic EMA; both evals coherent") {
    import graft.ops.CurationOps
    val rows = CurationOps.emaSoup(spark, sfTiny).collect()
    assert(rows.length >= 2)
    // the EMA IS (2·Σ 2^(t-1) w_t + 2^T) / 2^(T+1) truncating
    val (traj, _, _) = CurationOps.logregTrajectoryLoop(spark, sfTiny, 5)
    val pow = 1L << traj.length
    rows.foreach { r =>
      val j = r.getAs[Long]("j").toInt - 1
      val s = traj.zipWithIndex.map { case (w, i) => (1L << i) * w(j) }.sum
      val want = (2L * s + pow) / (2L * pow)
      assert(r.getAs[Long]("w_ema_e6") == want, s"ema weight j=$j")
      assert(r.getAs[Long]("w_final_e6") == traj.last(j), s"final weight j=$j")
    }
    val h = rows.head
    for (c <- Seq("ema_acc_e6", "final_acc_e6")) {
      val v = h.getAs[Long](c)
      assert(v >= 0L && v <= 1000000L, s"$c out of [0,1]: $v")
    }
    // metric columns are corpus constants, identical on every row
    assert(rows.map(_.getAs[Long]("ema_loss_e6")).distinct.length == 1)
    assert(rows.map(_.getAs[Long]("n")).distinct.length == 1)
    // e_T is a convex combination of {w_0=0, w_1..w_T} (the recursion's
    // residual 1/2^T mass stays on the zero init), so it sits inside
    // that envelope up to the +1-unit rounding
    rows.foreach { r =>
      val j = r.getAs[Long]("j").toInt - 1
      val ws = 0L +: traj.map(_(j))
      val v = r.getAs[Long]("w_ema_e6")
      assert(v >= ws.min - 1 && v <= ws.max + 1, s"ema escapes envelope j=$j")
    }
  }

  test("distillation audit: agreement bounds and compression direction") {
    import graft.ops.CurationOps
    val rows = CurationOps.distillAgreement(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    var (tTot, sTot, nTot) = (0L, 0L, 0L)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      val t = r.getAs[Long]("n_teacher_correct")
      val s = r.getAs[Long]("n_student_correct")
      val a = r.getAs[Long]("n_agree")
      assert(t <= n && s <= n && a <= n)
      // agree-on-error is a subset of both the agreements and the
      // teacher errors
      val aoe = r.getAs[Long]("n_agree_on_error")
      assert(aoe <= a && aoe <= n - t)
      assert(r.getAs[Long]("student_buckets") == 64L)
      tTot += t; sTot += s; nTot += n
    }
    // compressing the vocabulary to 64 hash buckets must not IMPROVE
    // the classifier corpus-wide (ties allowed): the audit's direction
    assert(sTot <= tTot, s"student $sTot beats teacher $tTot")
    // 5-class problem: chance is n/5
    assert(tTot > nTot / rows.length,
      s"teacher $tTot/$nTot must beat ${rows.length}-class chance")
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.ops.TextOps

/** Semantics of the temperature-resampling weights (the α = 0.5 mT5
  * rule), proven against the mathematical properties the operator
  * exists to deliver — the DuckDB oracle pins the arithmetic, this
  * pins the MEANING.
  */
class TextOpsSpec extends SparkSpec {

  test("temperature mix: weights normalize and compress toward uniform") {
    val rows = TextOps.temperatureMix(spark, sfSmall).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    val n = rows.length
    assert(n >= 3, s"expected several languages, got $n")
    // both share columns are half-up e6-lattice ratios: each sums to 1
    // within n rounding steps of the lattice
    val shareSum = rows.map(_._3).sum
    val weightSum = rows.map(_._4).sum
    assert(math.abs(shareSum - 1.0) <= n * 1e-6, s"token_share sums to $shareSum")
    assert(math.abs(weightSum - 1.0) <= n * 1e-6, s"temp_weight sums to $weightSum")
    // α < 1 compresses the distribution: the largest language is
    // down-weighted relative to its natural share, the smallest is
    // up-weighted — the whole point of temperature sampling
    val byTokens = rows.sortBy(_._2)
    val (loLang, _, loShare, loWeight) = byTokens.head
    val (hiLang, _, hiShare, hiWeight) = byTokens.last
    assert(loWeight > loShare, s"$loLang not up-weighted: $loWeight <= $loShare")
    assert(hiWeight < hiShare, s"$hiLang not down-weighted: $hiWeight >= $hiShare")
    // monotone: more tokens never means a smaller weight
    byTokens.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 <= b._4, s"weight not monotone in token mass: $a vs $b")
    }
  }

  test("Zipf slope == driver-side least-squares on the log-log lattice") {
    val r = TextOps.zipfSlope(spark, sfSmall).collect().head
    val (n, slope) = (r.getLong(0), r.getDouble(1))
    assert(slope < 0.0, "frequency must fall with rank")
    val cnts = Tables.documents(spark, sfSmall)
      .select(col("text")).collect()
      .flatMap(_.getString(0).split(" "))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .sortBy { case (t, c) => (-c, t) }
    assert(n == cnts.length)
    val pts = cnts.zipWithIndex.map { case ((_, c), i) =>
      (math.round(math.log(i + 1.0) * 1e6), math.round(math.log(c.toDouble) * 1e6))
    }
    val m = pts.length.toLong
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxx = pts.map(p => BigInt(p._1) * BigInt(p._1)).sum
    val sxy = pts.map(p => BigInt(p._1) * BigInt(p._2)).sum
    val want = (BigInt(m) * sxy - BigInt(sx) * BigInt(sy)).toDouble /
      (BigInt(m) * sxx - BigInt(sx) * BigInt(sx)).toDouble
    assert(math.abs(slope - want) <= 1e-6, s"slope $slope != $want")
  }

  test("tokenizer fertility == driver-side half-up lattice recompute") {
    val docs = Tables.documents(spark, sfTiny)
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val pat = "( ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+)".r
    def halfUp(num: Long, den: Long): Double =
      ((num * 2000000L + den) / (den * 2)).toDouble / 1e6
    val truth = docs.groupBy(_._1).view.mapValues { ds =>
      val chars = ds.map(_._2.length.toLong).sum
      val bpe = ds.map(d => pat.findAllIn(d._2).length.toLong).sum
      val ws = ds.map(_._2.split(" ").length.toLong).sum
      (ds.length.toLong, bpe, halfUp(chars, bpe), halfUp(bpe, ws))
    }.toMap
    val got = TextOps.tokenizerFertility(spark, sfTiny).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.keySet == truth.keySet)
    got.foreach { case (lang, g) =>
      assert(g == truth(lang), s"$lang: $g != ${truth(lang)}")
      // a BPE-ish segmenter never merges across whitespace words, so
      // fertility (bpe per ws token) is at least 1
      assert(g._4 >= 1.0, s"$lang fertility below 1")
    }
  }

  test("BPE pair counts == driver-side sliding recount") {
    // independent witness: recount every adjacent pair over the
    // collected corpus with plain Scala sliding windows
    val truth = Tables.documents(spark, sfTiny)
      .select(col("text")).collect()
      .flatMap(_.getString(0).split(" ").sliding(2).collect {
        case Array(a, b) => s"$a $b"
      })
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val top = TextOps.bpePairs(spark, sfTiny).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(top.length == 30)
    top.foreach { case (p, n) =>
      assert(truth.getOrElse(p, 0L) == n, s"pair '$p': $n != ${truth.get(p)}")
    }
    // the returned 30 are the global maxima under (n desc, pair asc)
    val expected = truth.toSeq.sortBy { case (p, n) => (-n, p) }.take(30)
    assert(top.toSeq == expected, "top-30 ranking differs from recount")
  }

  test("temperature sample: most-boosted language keeps everything") {
    val mix = TextOps.temperatureMix(spark, sfSmall).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    val boosts = mix.view.mapValues { case (share, w) => w / share }.toMap
    val topLang = boosts.maxBy(_._2)._1
    val ledger = TextOps.temperatureSample(spark, sfSmall).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // rate_e6 ordering follows the boost ordering; the max-boost
    // language's rate is the full 1e6 threshold (keeps all docs)
    assert(ledger(topLang)._3 == 1000000L,
      s"$topLang rate ${ledger(topLang)._3} != 1e6")
    assert(ledger(topLang)._1 == ledger(topLang)._2,
      s"$topLang dropped docs despite rate 1.0")
    val byBoost = boosts.toSeq.sortBy(_._2).map(_._1)
    byBoost.sliding(2).foreach { case Seq(a, b) =>
      assert(ledger(a)._3 <= ledger(b)._3,
        s"rate not monotone in boost: $a ${ledger(a)._3} > $b ${ledger(b)._3}")
    }
    // every language retains at least one doc (rates are e6-floored,
    // never zero for a 5-language mix)
    ledger.values.foreach { case (n, kept, _) => assert(kept > 0 && kept <= n) }
  }

  test("bigram logprob == driver-side smoothed-LM recompute") {
    val docs = Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val bigrams = docs.flatMap { case (id, ws) =>
      ws.sliding(2).collect { case Seq(a, b) => (id, a, b) } }
    val c2 = bigrams.groupBy(t => (t._2, t._3)).view.mapValues(_.length).toMap
    val c1 = bigrams.groupBy(_._2).view.mapValues(_.length).toMap
    val v = docs.flatMap(_._2).distinct.length
    val truth = bigrams.groupBy(_._1).view.mapValues { bs =>
      val slp = bs.map { case (_, a, b) =>
        math.round(math.log((c2((a, b)) + 1.0) / (c1(a) + v)) * 1e6)
      }.sum
      (bs.length.toLong,
        BigDecimal(slp.toDouble / bs.length / 1e6)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toMap
    val got = graft.ops.TextOps.bigramLogprob(spark, sfTiny).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == truth.keySet)
    got.foreach { case (id, (n, lp)) =>
      assert(n == truth(id)._1, s"doc $id n_bigrams")
      assert(math.abs(lp - truth(id)._2) <= 1e-6, s"doc $id: $lp vs ${truth(id)._2}")
      assert(lp < 0.0, s"doc $id logprob must be negative")
    }
  }

  test("vocab encode == driver-side dictionary build and re-encode") {
    val docs = Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val counts = docs.flatMap(_._2)
      .groupBy(identity).view.mapValues(_.length).toMap
    val vocab = counts.toSeq.sortBy { case (w, c) => (-c, w) }
      .take(24).zipWithIndex.map { case ((w, _), i) => w -> i }.toMap
    val got = TextOps.vocabEncode(spark, sfTiny).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))).toMap
    docs.foreach { case (id, ws) =>
      val ids = ws.map(w => vocab.getOrElse(w, -1))
      val want = (ws.size.toLong, ids.count(_ == -1).toLong,
        ids.take(10).mkString(","), ids.map(_.toLong).sum)
      assert(got(id) == want, s"doc $id: ${got(id)} != $want")
    }
    assert(got.keySet == docs.map(_._1).toSet)
  }
  test("ngram novelty: first source is fully novel, grams are conserved") {
    val nv = TextOps.ngramNovelty(spark, sfTiny).collect()
    val first = nv.map(_.getAs[String]("source")).min
    val fr = nv.find(_.getAs[String]("source") == first).get
    assert(fr.getAs[Long]("novelty_e6") == 1000000L,
      "lexically-first source must be 100% novel")
    nv.foreach { r =>
      val e6 = r.getAs[Long]("novelty_e6")
      assert(e6 >= 0 && e6 <= 1000000)
      assert(r.getAs[Long]("n_novel") <= r.getAs[Long]("n_grams"))
    }
    // every distinct gram is novel in exactly one source
    val totalNovel = nv.map(_.getAs[Long]("n_novel")).sum
    val distinctGrams = Tables.documents(spark, sfTiny)
      .withColumn("w", split(col("text"), " "))
      .select(explode(expr(
        "transform(sequence(0, size(w) - 8), i -> array_join(slice(w, i + 1, 8), ' '))")))
      .distinct().count()
    assert(totalNovel == distinctGrams)
  }

  // --------------------------------------- Kneser-Ney perplexity
  test("kn perplexity: matches a driver-side Kneser-Ney recompute exactly") {
    // independent plain-Scala LM: counts, continuation counts, the
    // D=0.75 interpolated estimate, e6 quantization, ntile(3) buckets —
    // the whole operator re-derived without Spark SQL
    val docs = Tables.documents(spark, sfSmall)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val bigrams = docs.flatMap { case (id, _, t) =>
      val ws = t.split(" ", -1)
      ws.iterator.zip(ws.iterator.drop(1)).map(p => (id, p._1, p._2)).toSeq
    }
    val c2 = bigrams.groupBy(b => (b._2, b._3)).view.mapValues(_.length).toMap
    val c1 = bigrams.groupBy(_._2).view.mapValues(_.length).toMap
    val nf = bigrams.groupBy(_._2).view.mapValues(_.map(_._3).distinct.length).toMap
    val nb = bigrams.groupBy(_._3).view.mapValues(_.map(_._2).distinct.length).toMap
    val nall = c2.size
    val pplE6 = bigrams.groupBy(_._1).view.mapValues { bs =>
      val slp = bs.map { case (_, w1, w2) =>
        val p = (math.max(c2((w1, w2)) - 0.75, 0) +
          0.75 * nf(w1) * (nb(w2).toDouble / nall)) / c1(w1)
        math.round(math.log(p) * 1000000.0)
      }.sum
      math.round(math.exp(-slp.toDouble / bs.length / 1000000.0) * 1000000.0)
    }.toMap
    // ntile(3) over (ppl_e6, doc_id): first buckets take the remainder
    val ordered = pplE6.toArray.map { case (id, p) => (p, id) }.sorted
    val n = ordered.length
    val (base, rem) = (n / 3, n % 3)
    val s1 = base + (if (rem >= 1) 1 else 0)
    val s2 = s1 + base + (if (rem >= 2) 1 else 0)
    val langOf = docs.map(d => d._1 -> d._2).toMap
    val truth = ordered.zipWithIndex.map { case ((p, id), i) =>
      val bucket = if (i < s1) 1L else if (i < s2) 2L else 3L
      (bucket, langOf(id), p)
    }.groupBy(t => (t._1, t._2)).map { case ((b, lang), xs) =>
      val ps = xs.map(_._3)
      (b, lang) -> (xs.length.toLong, ps.min / 1000000.0, ps.max / 1000000.0)
    }
    val out = ops.TextOps.knPerplexity(spark, sfSmall).collect()
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSet == truth.keySet)
    out.foreach { r =>
      val (nd, mn, mx) = truth((r.getLong(0), r.getString(1)))
      assert(r.getLong(2) == nd, s"n_docs at ${(r.getLong(0), r.getString(1))}")
      assert(math.abs(r.getDouble(3) - mn) < 1.1e-6, "min_ppl")
      assert(math.abs(r.getDouble(4) - mx) < 1.1e-6, "max_ppl")
    }
  }

  test("kn perplexity: head bucket is more fluent than tail (CCNet ordering)") {
    val rows = ops.TextOps.knPerplexity(spark, sfSmall).collect()
    val byBucket = rows.groupBy(_.getLong(0))
    assert(byBucket.keySet == Set(1L, 2L, 3L))
    val maxHead = byBucket(1L).map(_.getDouble(4)).max
    val minTail = byBucket(3L).map(_.getDouble(3)).min
    assert(maxHead <= minTail,
      s"bucket boundaries out of order: head max $maxHead > tail min $minTail")
    // equal-mass within one doc: tercile sizes differ by at most 1
    val sizes = byBucket.view.mapValues(_.map(_.getLong(2)).sum).values.toSeq
    assert(sizes.max - sizes.min <= 1, s"tercile sizes $sizes")
  }

  test("kn perplexity: exact terciles ntile, the approx twin plans GK cutpoints") {
    // the flagship (oracle-parity) terciles with an exact global ntile
    val exactPlan = ops.TextOps.knPerplexity(spark, sfTiny)
      .queryExecution.optimizedPlan.toString
    assert(exactPlan.contains("ntile") &&
      !exactPlan.contains("approx_percentile"),
      "the flagship must ntile for oracle parity")
    // the 100 TB twin: mergeable sketch cutpoints, NO doc-count-sized
    // window anywhere in the plan
    val approx = ops.TextOps.knPerplexityApprox(spark, sfTiny)
    val plan = approx.queryExecution.optimizedPlan
    assert(plan.toString.contains("approx_percentile"),
      "the approx twin must cut with the GK sketch")
    assert("\\bntile\\(".r.findFirstIn(plan.toString).isEmpty,
      "the approx twin must not plan the global ntile")
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assert(plan.collect { case w: LWindow => w }.isEmpty,
      "the approx twin must not plan any window")
    // same downstream contract: buckets partition the scored docs
    val total = Tables.documents(spark, sfTiny)
      .filter(col("text").contains(" ")).count()
    assert(approx.collect().head.getAs[Long]("n_docs_total") == total)
    // the invariant twin holds at the sketch's accuracy
    val inv = ops.TextOps.knPerplexityApprox(spark, sfSmall).collect().head
    assert(inv.getAs[Boolean]("depth_within_5pct"),
      "GK-cut terciles must stay within 5% of n/3 per bucket")
    assert(inv.getAs[Int]("n_buckets") == 3)
  }

  test("bpe train: 3 merge rounds match a driver-side reference trainer") {
    // independent ground truth: the Sennrich reference algorithm run
    // driver-side on the collected word-frequency dict — overlapping
    // pair counts (zip with tail), greedy non-overlapping left-to-right
    // merge, ties count DESC then pair ASC
    val freqs = Tables.documents(spark, sfSmall)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0).map(_.toString).toVector -> r.getLong(1))
    var vocab = freqs
    val want = (1 to 3).map { r =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      val ((a, b), n) = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
      vocab = vocab.map { case (syms, f) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += a + b; i += 2
          } else { out += syms(i); i += 1 }
        }
        (out.result(), f)
      }
      (r, a, b, a + b, n)
    }
    val got = ops.TextOps.bpeTrain(spark, sfSmall).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(got == want, s"merge table mismatch:\n got=$got\nwant=$want")
    // the merged symbols must actually compound (round >1 should merge
    // into, or out of, an earlier round's product at least once across
    // the table — otherwise the loop degenerated to independent counts)
    assert(want.map(_._5).sliding(2).forall { case Seq(x, y) => x >= y },
      "pair counts must be non-increasing across merge rounds")
  }

  test("doc repetition: per-source rollup matches a driver recompute") {
    val docs = Tables.documents(spark, sfSmall)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val perDoc = docs.map { case (src, t) =>
      val ws = t.split(" ", -1)
      if (ws.length < 2) (src, 0L, 0L)
      else {
        val g2 = ws.sliding(2).map(_.mkString(" ")).toSeq
        val dupE6 = math.round(
          (g2.length - g2.distinct.length) * 1000000.0 / g2.length)
        val adj = ws.sliding(2).count(p => p(0) == p(1)).toLong
        (src, dupE6, adj)
      }
    }
    val want = perDoc.groupBy(_._1).map { case (src, xs) =>
      src -> (xs.length.toLong,
        xs.map(_._2).sum, // summed e6 fractions (pre-division)
        xs.count(_._2 > 100000L).toLong,
        xs.map(_._3).sum)
    }
    val got = ops.TextOps.docRepetition(spark, sfSmall).collect()
    assert(got.length == want.size)
    got.foreach { r =>
      val (n, sumE6, flagged, adj) = want(r.getString(0))
      assert(r.getLong(1) == n, s"n_docs for ${r.getString(0)}")
      val wantAvg = math.rint(sumE6.toDouble / n) / 1000000.0
      assert(math.abs(r.getDouble(2) - wantAvg) < 1.1e-6,
        s"avg_dup2_frac for ${r.getString(0)}")
      assert(r.getLong(3) == flagged, s"n_flagged for ${r.getString(0)}")
      assert(r.getLong(4) == adj, s"adj_dup_tokens for ${r.getString(0)}")
    }
    // the signal is live on this fixture: some docs flag, most don't
    assert(got.map(_.getLong(3)).sum > 0, "no doc flagged — threshold dead")
    assert(got.map(_.getLong(3)).sum < docs.length / 2,
      "most docs flagged — threshold degenerate")
  }

  test("unigramLm equals a driver-side hard-EM recompute, prune included") {
    val (maxL, pLen, k0, keep) = (8, 4, 48, 16)
    val wf = Tables.documents(spark, sfTiny)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
      .filter(_._1.length <= maxL)
    // seed candidate counts: one per (word, start, len) occurrence
    val subC = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    for ((w, f) <- wf; i <- 1 to w.length; l <- 1 to math.min(pLen, w.length - i + 1))
      subC(w.substring(i - 1, i - 1 + l)) += f
    val vocab0 = subC.filter(_._1.length >= 2).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(k0) ++
      subC.filter(_._1.length == 1).toSeq
    val v0set = vocab0.map(_._1).toSet

    val segLen = scala.collection.mutable.Map[String, Long]() // under the FINAL (pruned) scores
    def viterbi(score: Map[String, Long], recordLen: Boolean = false): Map[String, Long] = {
      val used = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
      for ((w, f) <- wf) {
        var nPieces = 0L
        val L = w.length
        val best = Array.fill(L + 1)(Long.MinValue); best(0) = 0L
        for (j <- 1 to L; l <- 1 to math.min(pLen, j)) {
          val p = w.substring(j - l, j)
          if (score.contains(p) && best(j - l) != Long.MinValue)
            best(j) = math.max(best(j), best(j - l) + score(p))
        }
        var cur = L
        while (cur > 0) {
          val cands = for {
            l <- 1 to math.min(pLen, cur)
            p = w.substring(cur - l, cur)
            if score.contains(p) && best(cur - l) != Long.MinValue &&
              best(cur - l) + score(p) == best(cur)
          } yield (l, p)
          val (l, p) = cands.sortBy { case (cl, cp) => (-cl, cp) }.head
          used(p) += f; cur -= l; nPieces += 1
        }
        if (recordLen) segLen(w) = nPieces
      }
      used.toMap.withDefaultValue(0L)
    }

    val t0 = vocab0.map { case (p, c) => c * p.length }.sum
    val sc0 = vocab0.map { case (p, c) =>
      p -> math.round(math.log(c.toDouble * p.length / t0) * 1e6) }.toMap
    val c1 = viterbi(sc0)
    val v1 = vocab0.filter(_._1.length >= 2)
      .map { case (p, _) => p -> c1(p) }
      .sortBy { case (p, c) => (-c, p) }.take(keep) ++
      vocab0.filter(_._1.length == 1).map { case (p, _) => p -> c1(p) }
    val t1 = v1.map(_._2).sum; val nv1 = v1.size
    val sc1 = v1.map { case (p, c) =>
      p -> math.round(math.log((c + 1.0) / (t1 + nv1)) * 1e6) }.toMap
    val c2 = viterbi(sc1, recordLen = true)
    val nv = vocab0.size
    val t2 = vocab0.map { case (p, _) => c2(p) }.sum
    val v1set = v1.map(_._1).toSet

    val rows = TextOps.unigramLm(spark, sfTiny).collect()
    assert(rows.length == nv)
    for (r <- rows) {
      val p = r.getString(0)
      assert(v0set(p))
      assert(r.getLong(1) == subC(p), s"c_init for '$p'")
      assert(r.getLong(2) == c1(p), s"used_r1 for '$p'")
      assert(r.getLong(3) == (if (v1set(p)) 0L else 1L), s"pruned for '$p'")
      assert(r.getLong(4) == c2(p), s"used_r2 for '$p'")
      assert(r.getLong(5) ==
        math.round(math.log((c2(p) + 1.0) / (t2 + nv)) * 1e6),
        s"score for '$p'")
      // closure guarantee: single chars are never pruned
      if (p.length == 1) assert(r.getLong(3) == 0L)
      // a pruned piece cannot be used after the prune
      if (r.getLong(3) == 1L) assert(r.getLong(4) == 0L)
    }
    // the prune actually moved usage: some surviving piece's count grew
    assert(rows.exists(r => r.getLong(3) == 0L && r.getLong(4) > r.getLong(2)),
      "re-segmentation after the prune changed nothing — EM loop inert")

    // APPLY half: per-lang fertility equals the driver segmentation
    val perLang = Tables.documents(spark, sfTiny)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .collect().map(r => (r.getString(0), r.getString(1)))
      .filter(_._2.length <= maxL)
      .groupBy(_._1).view.mapValues { ws =>
        (ws.size.toLong, ws.map(t => segLen(t._2)).sum)
      }.toMap
    val ap = ops.TextOps.unigramApply(spark, sfTiny).collect()
    assert(ap.map(_.getString(0)).toSet == perLang.keySet)
    for (r <- ap) {
      val (nw, ns) = perLang(r.getString(0))
      assert(r.getLong(1) == nw && r.getLong(2) == ns,
        s"apply census for ${r.getString(0)}")
      val fert = BigDecimal(ns.toDouble / nw)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) == fert, s"fertility for ${r.getString(0)}")
      assert(r.getDouble(3) >= 1.0, "fertility below 1 is impossible")
    }
  }

  test("wordpiece == driver-side vocab build + greedy recompute") {
    val words = Tables.documents(spark, sfTiny)
      .select(col("lang"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ").filter(_.nonEmpty)
        .map(w => (r.getString(0), w)))
    val wf = words.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val charCnt = wf.toSeq.flatMap { case (w, f) => w.map(c => (c, f)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val total = charCnt.values.sum
    val alpha = charCnt.filter(_._2 * 100 >= total).keySet
    val subs = wf.toSeq.flatMap { case (w, f) =>
      for {
        l <- 2 to 4
        p <- 0 to w.length - l
        tok = w.substring(p, p + l)
        if tok.forall(alpha)
      } yield ((tok, p > 0), f)
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
    val topk = subs.groupBy(_._1._2).values.flatMap { grp =>
      grp.sortBy { case ((tok, _), f) => (-f, tok) }.take(40).map(_._1)
    }
    val vocab: Set[String] = alpha.map(_.toString) ++
      alpha.map("##" + _) ++
      topk.map { case (tok, cont) => (if (cont) "##" else "") + tok }
    def greedy(w: String): (Long, Boolean) = {
      var p = 0; var n = 0L
      while (p < w.length) {
        val l = (math.min(4, w.length - p) to 1 by -1).find { l =>
          vocab((if (p > 0) "##" else "") + w.substring(p, p + l))
        }.getOrElse(0)
        if (l == 0) return (1L, true)
        n += 1; p += l
      }
      (n, false)
    }
    val toks = wf.keys.map(w => w -> greedy(w)).toMap
    val want = words.groupBy(_._1).view.mapValues { ws =>
      val ts = ws.map(w => toks(w._2))
      (ws.length.toLong, ts.map(_._1).sum, ts.count(_._2).toLong)
    }.toMap
    val got = ops.TextOps.wordpieceApply(spark, sfTiny).collect()
    assert(got.map(_.getString(0)).toSet == want.keySet)
    got.foreach { r =>
      val (nw, ns, nu) = want(r.getString(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((nw, ns, nu)),
        s"census for ${r.getString(0)}")
      val fert = BigDecimal(ns.toDouble / nw)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(4) == fert, s"fertility for ${r.getString(0)}")
    }
    // the [UNK] fallback must actually FIRE (rare chars are below the
    // 1% alphabet cut on this fixture) and must not dominate
    val unkTotal = got.map(_.getLong(3)).sum
    val wordTotal = got.map(_.getLong(1)).sum
    assert(unkTotal > 0, "UNK path dead on the fixture")
    assert(unkTotal * 2 < wordTotal, "UNK dominates — vocab degenerate")
    // greedy must produce real subword splits, not all-chars: mean
    // fertility strictly under the char-tokenizer's mean word length
    val meanWordLen = words.map(_._2.length).sum.toDouble / words.length
    val meanFert = got.map(r => r.getLong(2).toDouble).sum / wordTotal
    assert(meanFert < meanWordLen * 0.75,
      s"fertility $meanFert vs word len $meanWordLen — no real merges")
  }

  test("dpo pairs == driver-side LM + pairing recompute") {
    val docs = Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ", -1)))
    val allToks = docs.flatMap(_._3)
    val nTot = allToks.length.toDouble
    val tf = allToks.groupBy(identity).view.mapValues(_.length).toMap
    val bigs = docs.filter(_._3.length >= 2)
      .flatMap(d => d._3.sliding(2).map(p => (p(0), p(1))))
    val c2 = bigs.groupBy(identity).view.mapValues(_.length).toMap
    val c1 = bigs.groupBy(_._1).view.mapValues(_.length).toMap
    val v = allToks.distinct.length
    def e6(x: Double): Long = math.round(x * 1e6)
    val scored = docs.filter(_._3.length >= 2).map { case (id, lang, ws) =>
      val slpU = ws.map(w => e6(math.log(tf(w) / nTot))).sum
      val slpB = ws.sliding(2).map { p =>
        e6(math.log((c2((p(0), p(1))) + 1.0) / (c1(p(0)) + v)))
      }.sum
      (id, lang, ws.length.toLong, slpU, slpB)
    }
    val byCell = scored.groupBy(t => (t._2, t._3 / 32))
    val pairs = byCell.toSeq.flatMap { case ((lang, _), ds ) =>
      val best = ds.minBy(d => (-(d._4 / d._3), d._1))
      val worst = ds.minBy(d => (d._4 / d._3, d._1))
      if (best._1 == worst._1) None
      else Some((lang, (best._5 - best._4) - (worst._5 - worst._4)))
    }
    val want = pairs.groupBy(_._1).view.mapValues { ps =>
      val n = ps.length.toLong
      val nc = ps.count(_._2 > 0).toLong
      val losses = ps.map { case (_, m) =>
        e6(math.log(1.0 + math.exp(-(m / 1e7))))
      }
      (n, nc, nc * 1000000L / n, ps.map(_._2).sum / n, losses.sum / n)
    }.toMap
    val got = ops.TextOps.dpoPairs(spark, sfTiny).collect()
    assert(got.map(_.getString(0)).toSet == want.keySet)
    got.foreach { r =>
      val w = want(r.getString(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)) == w, s"${r.getString(0)}: got row != $w")
    }
    // pairing must be non-degenerate: at least one lang has >1 pair,
    // and margins are not all one sign (else the diagnostic is dead)
    assert(want.values.exists(_._1 > 1), "every lang has at most one pair")
    val margins = pairs.map(_._2)
    assert(margins.nonEmpty && margins.exists(_ != margins.head),
      "all margins identical — fixture degenerate")
  }

  test("stupidBackoff equals a driver-side recompute of the Brants score") {
    val docs = Tables.documents(spark, sfTiny)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val train = docs.filter(d => d._1 % 5 < 4)
    val test = docs.filter(d => d._1 % 5 == 4)
    val cw = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val c2 = scala.collection.mutable.Map[(String, String), Long]()
      .withDefaultValue(0L)
    var nn = 0L
    for ((_, _, t) <- train) {
      val ws = t.split(" ", -1)
      ws.foreach { w => cw(w) += 1; nn += 1 }
      ws.sliding(2).filter(_.length == 2)
        .foreach(p => c2((p(0), p(1))) += 1)
    }
    // per lang: (n_positions, n_backoff, sum score_e6)
    val acc = scala.collection.mutable.Map[String, (Long, Long, Long)]()
      .withDefaultValue((0L, 0L, 0L))
    for ((_, lang, t) <- test if t.contains(" ")) {
      val ws = t.split(" ", -1)
      for (p <- ws.sliding(2) if p.length == 2) {
        val pair = (p(0), p(1))
        val (sc, bo) =
          if (c2.contains(pair))
            (math.round(math.log(c2(pair).toDouble / cw(p(0))) * 1e6), 0L)
          else
            (math.round(math.log(
              0.4 * math.max(cw(p(1)), 1L).toDouble / nn) * 1e6), 1L)
        val (n, b, s) = acc(lang)
        acc(lang) = (n + 1, b + bo, s + sc)
      }
    }
    val out = TextOps.stupidBackoff(spark, sfTiny).collect()
    assert(out.map(_.getString(0)).toSet == acc.keySet)
    var sawBackoff = false
    for (r <- out) {
      val (n, b, s) = acc(r.getString(0))
      assert(r.getLong(1) == n && r.getLong(2) == b)
      assert(r.getDouble(3) ==
        BigDecimal(s.toDouble / n / 1e6)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(r.getDouble(3) < 0.0) // every Brants score is < 1 ⇒ ln < 0
      if (b > 0) sawBackoff = true
    }
    assert(sawBackoff, "fixture must exercise the backoff path")
  }

  test("qlm dirichlet: full recompute, smoothing floor, tf monotonicity") {
    val texts = spark.read.parquet(s"$sfTiny/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1))).sortBy(_._1)
    val mu = 2000.0
    val sumDl = texts.map(_._2.length.toLong).sum
    val terms = Seq("spark", "join", "window")
    val ctf = terms.map(t =>
      t -> texts.map(_._2.count(_ == t).toLong).sum).toMap
    val want = texts.map { case (id, toks) =>
      val dl = toks.length.toLong
      val ss = terms.map { t =>
        math.log((toks.count(_ == t) + mu * ctf(t) / sumDl) / (dl + mu))
      }
      (id, dl, ss)
    }
    val got = TextOps.qlmDirichlet(spark, sfTiny).collect()
    assert(got.length == want.length)
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    got.zip(want).foreach { case (row, (id, dl, ss)) =>
      assert(row.getLong(0) == id && row.getLong(1) == dl)
      (0 until 3).foreach(i => assert(row.getDouble(2 + i) == r4(ss(i)),
        s"doc $id term $i"))
      assert(row.getDouble(5) == r4(ss.sum))
      // every per-term score is a log-probability: strictly negative,
      // and never below the pure-smoothing floor by more than the
      // tf=0 case (monotone in tf)
      (0 until 3).foreach { i =>
        val floor = math.log(mu * ctf(terms(i)) / sumDl / (dl + mu))
        assert(row.getDouble(2 + i) < 0.0)
        assert(row.getDouble(2 + i) >= r4(floor) - 1e-9)
      }
    }
  }

  test("heaps law: exact OLS recompute over the log-spaced thresholds") {
    val docs = spark.read.parquet(s"$sfTiny/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val lens = docs.map { case (id, ws) => (id, ws.length.toLong) }
    val firstOcc = scala.collection.mutable.Map.empty[String, Long]
    docs.sortBy(_._1).foreach { case (id, ws) =>
      ws.sliding(2).filter(_.length == 2).foreach { p =>
        val b = p.mkString(" ")
        if (!firstOcc.contains(b)) firstOcc(b) = id
      }
    }
    val maxd = docs.map(_._1).max
    val pts = (1 to 12).map(i => (maxd + 1) / (1L << (12 - i)))
      .filter(_ > 0)
      .map { t =>
        val nt = lens.filter(_._1 < t).map(_._2).sum
        val v = firstOcc.values.count(_ < t).toLong
        (nt, v)
      }
      .filter { case (nt, v) => nt > 0 && v > 0 }
      .map { case (nt, v) =>
        (math.round(math.log(nt.toDouble) * 1e6),
          math.round(math.log(v.toDouble) * 1e6))
      }
    val k = BigInt(pts.length)
    val sx = BigInt(pts.map(_._1).sum)
    val sy = BigInt(pts.map(_._2).sum)
    val sxx = pts.map(p => BigInt(p._1) * p._1).sum
    val sxy = pts.map(p => BigInt(p._1) * p._2).sum
    val d = k * sxx - sx * sx
    val num = (k * sxy - sx * sy) * 2000000 + d
    def floorDiv(a: BigInt, b: BigInt) = (a - (a % b + b) % b) / b
    val want = floorDiv(num, d * 2).toLong
    val row = TextOps.heapsLaw(spark, sfTiny).collect().head
    assert(row.getLong(0) == pts.length.toLong)
    assert(row.getLong(1) == want, s"beta ${row.getLong(1)} != $want")
    // the exponent must be a genuine power-law slope: inside (0, 1)
    assert(row.getLong(1) > 0L && row.getLong(1) < 1000000L)
  }

  test("js divergence: bounds and an exact one-source recompute") {
    val rows = TextOps.jsDivergence(spark, sfTiny).collect()
    // JSD in nats is bounded by ln 2, strictly positive on real drift
    rows.foreach { r =>
      assert(r.getLong(2) > 0L && r.getLong(2) < 693147181L,
        s"${r.getString(0)} out of [0, ln2]")
    }
    // exact recompute for one source (same e9 quantize-then-sum)
    val docs = spark.read.parquet(s"$sfTiny/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1)))
    val grams = docs.filter(_._2.length > 1).flatMap { case (s, ws) =>
      ws.sliding(2).filter(_.length == 2).map(p => (s, p.mkString(" ")))
    }
    val src = rows.head.getString(0)
    val cp = grams.filter(_._1 == src).groupBy(_._2).view
      .mapValues(_.length.toLong).toMap
    val cq = grams.filter(_._1 != src).groupBy(_._2).view
      .mapValues(_.length.toLong).toMap
    val (np, nq) = (cp.values.sum.toDouble, cq.values.sum.toDouble)
    val want = (cp.keySet ++ cq.keySet).toSeq.map { w =>
      val p = cp.getOrElse(w, 0L) / np
      val q = cq.getOrElse(w, 0L) / nq
      val m = (p + q) / 2.0
      val t = (if (p > 0) p / 2.0 * math.log(p / m) else 0.0) +
        (if (q > 0) q / 2.0 * math.log(q / m) else 0.0)
      math.round(t * 1e9)
    }.sum
    assert(rows.head.getLong(2) == want,
      s"$src: ${rows.head.getLong(2)} != $want")
  }

  test("min-k prob: bottom-k mean never exceeds the full-doc mean") {
    import org.apache.spark.sql.functions._
    // the bottom-20% token mean is a lower envelope of the overall
    // per-token mean by construction — compare the source rollups
    val mink = TextOps.minKProb(spark, sfSmall).collect()
      .map(r => r.getString(0) -> (r.getLong(r.fieldIndex("sum_mink_lp_e6")),
        r.getLong(r.fieldIndex("n_mink_tokens")))).toMap
    val full = Tables.documents(spark, sfSmall)
      .select(col("source"), col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
    val freqs = full.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val tot = full.count().toDouble
    val fullLp = full.join(freqs, Seq("term"))
      .select(col("source"),
        round(log(col("tf").cast("double") / tot) * lit(1e6), 0)
          .cast("long").as("lp"))
      .groupBy(col("source"))
      .agg(sum(col("lp")).as("s"), count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(mink.nonEmpty && mink.keySet == fullLp.keySet)
    mink.foreach { case (src, (sm, km)) =>
      val (sf, nf) = fullLp(src)
      // cross-multiplied means (all counts positive, sums negative)
      assert(sm * nf <= sf * km,
        s"$src: min-k mean above full mean — selection broke")
    }
    val flagged = TextOps.minKProb(spark, sfSmall).collect()
      .map(_.getLong(2)).sum
    assert(flagged > 0, "threshold flags nothing at sf0.01 — unwitnessed")
  }

  test("grpo advantage: per-group normalization witness holds") {
    val rows = TextOps.grpoAdvantage(spark, sfSmall).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(r.fieldIndex("n_samples"))
      val s = r.getLong(r.fieldIndex("sum_adv_e6"))
      val best = r.getLong(r.fieldIndex("best_adv_e6"))
      assert(n >= 2)
      // Σ(r−μ)/σ is identically 0 pre-rounding; each rounded term is
      // off by < 0.5 on the e6 lattice, so |Σ| < n/2 + slack
      assert(math.abs(s) <= n, s"group sum_adv_e6 $s exceeds ±$n")
      assert(best > 0, "argmax advantage must be positive in a n≥2 group")
    }
  }

  test("negative sampling: pow-free 3/4 power, flattening law") {
    val rows = TextOps.negativeSampling(spark, sfTiny).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (t, tf, w, _, _) =>
      // sqrt(x·sqrt(x)) really is x^0.75 on the e6 lattice
      val want = math.round(math.sqrt(tf * math.sqrt(tf.toDouble)) * 1e6)
      assert(w == want, s"weight of $t: $w != $want")
    }
    // the 3/4 power FLATTENS: the top term loses probability mass vs
    // its raw unigram share, the bottom listed term gains
    val (_, _, _, pNegTop, pUniTop) = rows.head
    assert(pNegTop < pUniTop, s"head not flattened: $pNegTop >= $pUniTop")
    val (_, _, _, pNegLast, pUniLast) = rows.last
    assert(pNegLast >= pUniLast, s"tail not lifted: $pNegLast < $pUniLast")
  }

  test("vocab coverage: monotone nested curve, exact driver recompute") {
    val rows = TextOps.vocabCoverage(spark, sfTiny).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(64, 128, 256))
    // nested candidate sets: coverage monotone, bounded by 1
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 >= a._2 && b._5 >= a._5)
    }
    // exact recompute from the raw corpus
    val freq = Tables.documents(spark, sfTiny)
      .select(col("text")).collect()
      .flatMap(_.getString(0).split(" "))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .sortBy { case (t, n) => (-n, t) }
    val total = freq.map(_._2).sum
    rows.foreach { case (v, covered, tot, types, cov) =>
      assert(tot == total)
      assert(types == freq.length.toLong)
      assert(covered == freq.take(v).map(_._2).sum, s"covered at V=$v")
      assert(math.abs(cov - covered.toDouble / total) < 1e-6)
    }
  }

  test("logit compress: driver-side lattice recompute and truncation laws") {
    // sign-of-zero parity (round 12's red row): kl_renorm is ln(1) on
    // fully-kept docs — the abs/+0.0 guards must keep every cell's
    // sign bit clear (the driver hashes bitwise)
    assertNoNegativeZero(TextOps.logitCompress(spark, sfTiny))
    val rows = TextOps.logitCompress(spark, sfTiny).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.nonEmpty)
    rows.values.foreach { r =>
      val nVocab = r.getLong(r.fieldIndex("n_vocab"))
      val nKept = r.getLong(r.fieldIndex("n_kept"))
      val mass = r.getDouble(r.fieldIndex("kept_mass"))
      val kl = r.getDouble(r.fieldIndex("kl_renorm"))
      assert(nKept == math.min(8L, nVocab))
      assert(mass > 0.0 && mass <= 1.0)
      // the renorm penalty is exactly −ln(kept_mass) on the e6 lattice
      assert(math.abs(kl - (-math.log(mass))) < 2e-6,
        s"kl $kl vs -ln(mass) ${-math.log(mass)}")
      if (nVocab <= 8) assert(mass == 1.0 && kl == 0.0)
      assert(r.getDouble(r.fieldIndex("ent_kept")) <= math.log(8.0) + 1e-6)
      assert(r.getDouble(r.fieldIndex("ent_full")) <=
        math.log(nVocab.toDouble) + 1e-6)
    }
    // exact recompute of one doc from the raw text with the same lattice
    val text = Tables.documents(spark, sfTiny)
      .filter(col("doc_id") === 0).select(col("text"))
      .collect()(0).getString(0)
    val tf = text.split(" ").groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq.sortBy { case (t, n) => (-n, t) }
    val len = tf.map(_._2).sum
    val keptSum = tf.take(8).map(_._2).sum
    def e6(x: Double): Long = math.round(x * 1000000.0)
    val sFull = tf.map { case (_, n) => n * e6(math.log(n.toDouble / len)) }.sum
    val got = rows(0L)
    assert(got.getLong(got.fieldIndex("n_vocab")) == tf.length)
    // 6-dp rounding tolerance (Spark rounds half-away, re-round here would
    // be half-even on exact halves — compare within one lattice step)
    assert(math.abs(got.getDouble(got.fieldIndex("kept_mass")) -
      keptSum.toDouble / len) < 1.1e-6)
    assert(math.abs(got.getDouble(got.fieldIndex("ent_full")) -
      (-sFull.toDouble / len / 1e6)) < 1.1e-6)
  }

  test("topic coherence: full driver replay of the UMass sum per source") {
    import graft.ops.TextOps
    val got = TextOps.topicCoherence(spark, sfTiny).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val docs = Tables.documents(spark, sfTiny)
      .selectExpr("source", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val want = docs.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, g) =>
      val dw = g.flatMap { case (_, id, t) =>
        t.split(" ", -1).distinct.map(w => (id, w)) }
      val df = dw.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val top = df.toSeq.sortBy(t => (-t._2, t._1)).take(10)
      val byDoc = dw.groupBy(_._1).view
        .mapValues(_.map(_._2).toSet).toMap
      var pairs = 0L; var cooc = 0L; var coh = 0L
      for (i <- top.indices; j <- (i + 1) until top.length) {
        val (wi, di) = top(i); val wj = top(j)._1
        val dij = byDoc.values.count(s => s.contains(wi) && s.contains(wj))
          .toLong
        pairs += 1
        if (dij > 0) cooc += 1
        coh += math.round(math.log((dij + 1).toDouble / di) * 1000000.0)
      }
      (src, pairs, cooc, coh)
    }
    assert(got.toSeq == want, s"got ${got.take(2).toSeq} want ${want.take(2)}")
  }

  test("burstiness: driver Fano replay with closed-form zeros") {
    import graft.ops.TextOps
    val got = TextOps.burstiness(spark, sfTiny).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val docs = Tables.documents(spark, sfTiny)
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val n = docs.length.toLong
    val counts = docs.flatMap { case (id, t) =>
      t.split(" ", -1).groupBy(identity).map { case (w, a) =>
        (w, a.length.toLong) } }
    val terms = counts.groupBy(_._1).view.mapValues { g =>
      (g.length.toLong, g.map(_._2).sum, g.map(t => t._2 * t._2).sum)
    }.toMap.filter(_._2._1 >= 20)
    def fano(s: Long, q: Long): Long = {
      val num = BigInt(2) * (BigInt(n) * q - BigInt(s) * s) * 1000000 +
        BigInt(n) * s
      (num / (BigInt(2) * n * s)).toLong
    }
    val f = terms.toSeq.map { case (w, (nd, s, q)) => (w, nd, s, fano(s, q)) }
    val want = (f.sortBy(t => (-t._4, t._1)).take(20).zipWithIndex
        .map { case ((w, nd, s, fa), i) => (i + 1, w, nd, s, fa) } ++
      f.sortBy(t => (t._4, t._1)).take(5).zipWithIndex
        .map { case ((w, nd, s, fa), i) => (-(i + 1), w, nd, s, fa) })
      .sortBy(_._1)
    assert(got.toSeq == want, s"got ${got.take(3).toSeq} want ${want.take(3)}")
  }
  test("textrank: driver lattice replay of the damped rank recurrence") {
    val got = graft.ops.TextOps.textrank(spark, sfTiny).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val texts = Tables.documents(spark, sfTiny)
      .select(org.apache.spark.sql.functions.col("text")).collect()
      .map(_.getString(0))
    val wt = collection.mutable.Map.empty[(String, String), Long]
    texts.foreach { t =>
      val ws = t.split(" ", -1)
      ws.sliding(2).foreach {
        case Array(a, b)
            if a.length >= 4 && b.length >= 4 && a != b =>
          val k = if (a < b) (a, b) else (b, a)
          wt(k) = wt.getOrElse(k, 0L) + 1
        case _ =>
      }
    }
    val adj = collection.mutable.Map
      .empty[String, collection.mutable.Map[String, Long]]
    wt.foreach { case ((u, v), w) =>
      adj.getOrElseUpdate(u, collection.mutable.Map.empty)(v) = w
      adj.getOrElseUpdate(v, collection.mutable.Map.empty)(u) = w
    }
    val wtot = adj.view.mapValues(_.values.sum).toMap
    var pr: Map[String, Long] = adj.keys.map(_ -> 1000000000L).toMap
    for (_ <- 1 to 4) {
      val s = collection.mutable.Map.empty[String, Long]
      adj.foreach { case (u, nbs) =>
        nbs.foreach { case (v, w) =>
          s(v) = s.getOrElse(v, 0L) + (w * pr(u)) / wtot(u)
        }
      }
      pr = adj.keys.map(v =>
        v -> (150000000L + (17L * s.getOrElse(v, 0L)) / 20L)).toMap
    }
    val want = pr.toSeq.sortBy(t => (-t._2, t._1)).take(20).zipWithIndex
      .map { case ((w, p), i) =>
        (i + 1, w, p, adj(w).size.toLong, wtot(w)) }
    assert(got.toSeq == want, s"got ${got.take(3).toSeq} want ${want.take(3)}")
  }
  test("plsa: driver hard-lattice EM replay reproduces topic grids") {
    val got = graft.ops.TextOps.plsa(spark, sfTiny).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
    import org.apache.spark.sql.functions.col
    val texts = Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val tf = texts.flatMap { case (d, t) =>
      t.split(" ", -1).filter(_.length >= 4).map(w => (d, w)) }
    val vocab = tf.groupBy(_._2).view.mapValues(_.length.toLong).toSeq
      .sortBy(t => (-t._2, t._1)).take(50)
    val vset = vocab.map(_._1).toSet
    val mat = tf.filter(t => vset(t._2)).groupBy(identity).view
      .mapValues(_.length.toLong).toMap  // (d,w) -> n
    def hkey(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.substring(0, 15), 16)
    }
    val zs = 0L to 2L
    val h = (for (w <- vset; z <- zs)
      yield (w, z) -> (1L + hkey(s"$w|$z") % 100)).toMap
    val sz = zs.map(z => z -> vset.toSeq.map(w => h((w, z))).sum).toMap
    var phi = h.map { case ((w, z), hv) =>
      (w, z) -> (1000000000L * hv) / sz(z) }
    val docs = mat.keys.map(_._1).toSet
    var theta = (for (d <- docs; z <- zs)
      yield (d, z) -> 333333333L).toMap
    for (_ <- 1 to 2) {
      val post = mat.keys.map { case (d, w) =>
        val nums = zs.map(z => z -> theta(d -> z) * phi(w -> z)).toMap
        val den = nums.values.sum
        (d, w) -> zs.map(z => z -> (if (den == 0L) 333333333L
          else ((BigInt(1000000000L) * nums(z)) / den).toLong)).toMap
      }.toMap
      val np = for (((d, w), n) <- mat; z <- zs)
        yield (d, w, z, n * post((d, w))(z))
      theta = np.groupBy(t => (t._1, t._3)).map { case (k, v) =>
        val tz = v.map(_._4).sum
        val td = np.filter(_._1 == k._1).map(_._4).sum
        k -> ((BigInt(1000000000L) * tz) / td).toLong
      }
      phi = np.groupBy(t => (t._2, t._3)).map { case (k, v) =>
        val pz = v.map(x => BigInt(x._4)).sum
        val pt = np.filter(_._3 == k._2).map(x => BigInt(x._4)).sum
        k -> ((BigInt(1000000000L) * pz) / pt).toLong
      }
    }
    val cw = vocab.toMap
    val want = zs.flatMap { z =>
      phi.collect { case ((w, zz), p) if zz == z => (w, p) }.toSeq
        .sortBy(t => (-t._2, t._1)).take(8).zipWithIndex
        .map { case ((w, p), i) => (z, i + 1, w, cw(w), p) }
    }
    assert(got.toSeq == want.toSeq,
      s"got ${got.take(4).toSeq} want ${want.take(4).toSeq}")
  }

  test("prefix cache census: driver radix recompute at every level") {
    val rows = graft.ops.TextOps.prefixCache(spark, sfTiny).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(rows.keySet == Set(2, 4, 8, 16))
    val texts = Tables.documents(spark, sfTiny)
      .select("text").collect().map(_.getString(0).split(" ", -1))
    for (k <- Seq(2, 4, 8, 16)) {
      val eligible = texts.filter(_.length >= k)
      val groups = eligible.groupBy(_.take(k).mkString(" "))
      val r = rows(k)
      assert(r.getAs[Long]("n_prompts") == eligible.length.toLong)
      assert(r.getAs[Long]("n_prefixes") == groups.size.toLong)
      assert(r.getAs[Long]("n_hits") ==
        groups.values.map(_.length - 1L).sum)
      assert(r.getAs[Long]("tokens_saved") ==
        groups.values.map(_.length - 1L).sum * k)
      assert(r.getAs[Long]("max_fanout") ==
        groups.values.map(_.length.toLong).max)
    }
    // deeper prefixes can only split groups: hits are monotone non-incr
    val hits = Seq(2, 4, 8, 16).map(k => rows(k).getAs[Long]("n_hits"))
    assert(hits == hits.sorted.reverse, s"hits not monotone: $hits")
  }

  test("kv blocks: driver ceil-div recompute, block-size direction laws") {
    val rows = graft.ops.TextOps.kvBlocks(spark, sfTiny).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(rows.keySet == Set(8, 16, 32))
    val toks = Tables.documents(spark, sfTiny)
      .select("text").collect().map(_.getString(0).split(" ", -1).length.toLong)
    for (b <- Seq(8L, 16L, 32L)) {
      val blocks = toks.map(n => (n + b - 1) / b)
      val alloc = blocks.map(_ * b)
      val frag = alloc.zip(toks).map { case (a, n) => a - n }
      val r = rows(b.toInt)
      assert(r.getAs[Long]("n_seqs") == toks.length.toLong)
      assert(r.getAs[Long]("n_blocks") == blocks.sum)
      assert(r.getAs[Long]("used_tokens") == toks.sum)
      assert(r.getAs[Long]("alloc_tokens") == alloc.sum)
      assert(r.getAs[Long]("frag_tokens") == frag.sum)
      assert(r.getAs[Long]("frag_pct_e6") == frag.sum * 1000000L / alloc.sum)
      // histogram recompute + conservation
      val hist = toks.zip(alloc)
        .groupBy { case (n, a) => math.min(n * 10 / a, 9L) }
        .view.mapValues(_.length.toLong).toMap
      for (d <- 0 until 10)
        assert(r.getAs[Long](s"h$d") == hist.getOrElse(d.toLong, 0L),
          s"decile $d at block size $b")
    }
    // the block-manager tradeoff IS the direction law: bigger blocks
    // waste at least as many tokens but allocate at most as many blocks
    val bySize = Seq(8, 16, 32).map(rows)
    val frags = bySize.map(_.getAs[Long]("frag_tokens"))
    assert(frags == frags.sorted, s"fragmentation not monotone: $frags")
    val nblocks = bySize.map(_.getAs[Long]("n_blocks"))
    assert(nblocks == nblocks.sorted.reverse,
      s"block count not anti-monotone: $nblocks")
  }

  test("swa kv: driver recompute, window direction laws") {
    val rows = graft.ops.TextOps.swaKv(spark, sfTiny).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(rows.keySet == Set(16, 32, 64))
    val toks = Tables.documents(spark, sfTiny)
      .select("text").collect().map(_.getString(0).split(" ", -1).length.toLong)
    for (w <- Seq(16L, 32L, 64L)) {
      val resident = toks.map(math.min(_, w))
      val evicted = toks.map(n => math.max(n - w, 0L))
      val full = toks.map(n => n * (n + 1) / 2)
      val swa = toks.map(n =>
        if (n <= w) n * (n + 1) / 2 else w * (w + 1) / 2 + (n - w) * w)
      val r = rows(w.toInt)
      assert(r.getAs[Long]("n_seqs") == toks.length.toLong)
      assert(r.getAs[Long]("n_windowed") == toks.count(_ > w).toLong)
      assert(r.getAs[Long]("resident_tokens") == resident.sum)
      assert(r.getAs[Long]("evicted_tokens") == evicted.sum)
      assert(r.getAs[Long]("pairs_full") == full.sum)
      assert(r.getAs[Long]("pairs_swa") == swa.sum)
      assert(r.getAs[Long]("pairs_saved_pct_e6") ==
        (full.sum - swa.sum) * 1000000L / full.sum)
      // conservation: resident + evicted is the corpus token mass
      assert(resident.sum + evicted.sum == toks.sum)
      // SWA never computes MORE pairs than full causal attention
      assert(r.getAs[Long]("pairs_swa") <= r.getAs[Long]("pairs_full"))
    }
    // direction laws: wider windows keep more KV resident, save fewer
    // pairs, window fewer sequences
    val bySize = Seq(16, 32, 64).map(rows)
    val res = bySize.map(_.getAs[Long]("resident_tokens"))
    assert(res == res.sorted, s"resident not monotone: $res")
    val saved = bySize.map(_.getAs[Long]("pairs_saved_pct_e6"))
    assert(saved == saved.sorted.reverse, s"savings not anti-monotone: $saved")
    val win = bySize.map(_.getAs[Long]("n_windowed"))
    assert(win == win.sorted.reverse, s"windowed not anti-monotone: $win")
  }

  test("top-p census: driver nucleus recompute, threshold monotonicity") {
    val rows = graft.ops.TextOps.topPCensus(spark, sfTiny).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(rows.keySet == Set(50, 90, 95))
    // driver recompute: train-split bigram counts, per-context sort
    val bi = Tables.documents(spark, sfTiny)
      .select("doc_id", "text").collect()
      .filter(r => r.getLong(0) % 5 < 4 && r.getString(1).contains(" "))
      .flatMap(r => r.getString(1).split(" ", -1).sliding(2)
        .map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val byCtx = bi.groupBy(_._1._1).view.mapValues(
      _.toSeq.map { case ((_, w2), c) => (w2, c) }
        .sortBy { case (w2, c) => (-c, w2) }).toMap
    for (p <- Seq(50, 90, 95)) {
      val per = byCtx.values.map { succ =>
        val tot = succ.map(_._2).sum
        val cums = succ.scanLeft(0L)(_ + _._2)
        val nucleus = succ.indices.count(i => cums(i) * 100 < p * tot)
        val cov = succ.take(nucleus).map(_._2).sum
        (nucleus.toLong, cov, tot)
      }.toSeq
      val r = rows(p)
      assert(r.getAs[Long]("n_ctx") == per.length.toLong)
      assert(r.getAs[Long]("sum_nucleus") == per.map(_._1).sum)
      assert(r.getAs[Long]("avg_nucleus_e6") ==
        per.map(_._1).sum * 1000000L / per.length)
      assert(r.getAs[Long]("max_nucleus") == per.map(_._1).max)
      assert(r.getAs[Long]("n_greedy") == per.count(_._1 == 1L).toLong)
      assert(r.getAs[Long]("covered_e6") ==
        per.map(_._2).sum * 1000000L / per.map(_._3).sum)
    }
    // raising p can only widen the nucleus and its covered mass
    val sizes = Seq(50, 90, 95).map(p => rows(p).getAs[Long]("sum_nucleus"))
    assert(sizes == sizes.sorted, s"nucleus not monotone in p: $sizes")
    val cov = Seq(50, 90, 95).map(p => rows(p).getAs[Long]("covered_e6"))
    assert(cov == cov.sorted, s"coverage not monotone in p: $cov")
    // every nucleus must actually reach its threshold's mass
    Seq(50, 90, 95).foreach(p =>
      assert(rows(p).getAs[Long]("covered_e6") >= p * 10000L))
  }

  test("best-of-n: driver pick replay, the min<=mean uplift law") {
    val rows = graft.ops.TextOps.bonSampling(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    // driver replay of the unigram reward + grouped argmin pick
    def rnd(v: Double): Long = new java.math.BigDecimal(v)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact
    val docs = Tables.documents(spark, sfTiny)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ", -1)))
    val tf = docs.flatMap(_._3).groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    val nTot = docs.map(_._3.length.toLong).sum
    val perDoc = docs.map { case (id, lang, ws) =>
      val slp = ws.map(w => rnd(math.log(tf(w).toDouble / nTot) * 1e6)).sum
      (lang, id, (-slp) / ws.length)
    }
    val want = perDoc.groupBy(_._1).toSeq.map { case (lang, ds) =>
      val grps = ds.sortBy(_._2).map(_._3).grouped(4).filter(_.length == 4)
        .toSeq
      val sumAll = grps.flatten.sum
      val sumBest = grps.map(_.min).sum
      (lang, grps.length.toLong, grps.length * 4L, sumAll, sumBest,
        sumAll / (grps.length * 4L), sumBest / grps.length,
        sumAll / (grps.length * 4L) - sumBest / grps.length)
    }.sortBy(_._1)
    val got = rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
      r.getLong(7))).toSeq
    assert(got == want, s"bon mismatch:\n got $got\nwant $want")
    // the pick can only help: group min <= group mean, exactly
    rows.foreach { r =>
      assert(r.getAs[Long]("sum_best_nll_e6") * 4 <=
        r.getAs[Long]("sum_nll_e6"), s"min>mean in $r")
      assert(r.getAs[Long]("uplift_e6") >= 0L, s"negative uplift in $r")
    }
  }

  test("RHO loss: decile sizing exact, selection direction holds") {
    val rows = graft.ops.TextOps.rhoLoss(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      val sel = r.getAs[Long]("n_selected")
      assert(sel == (n + 9) / 10, s"decile pick: $sel of $n")
      // selected excess must dominate the rest: that IS the operator.
      // rest_avg_excess is NULL (not 0/0) when a language selects all
      // its candidates — nothing to dominate then.
      if (!r.isNullAt(r.fieldIndex("rest_avg_excess")))
        assert(r.getAs[Double]("sel_avg_excess") >=
          r.getAs[Double]("rest_avg_excess"),
          s"selection direction inverted in $r")
      else assert(sel == n,
        s"rest average may be NULL only when everything is selected: $r")
      assert(r.getAs[Long]("top_doc_id") % 5 < 4,
        "top pick must be a candidate, never a holdout doc")
    }
  }
}

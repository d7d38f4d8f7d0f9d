package graft

import org.apache.spark.sql.functions._

import graft.queries.{Curation, Evals, Olap, Sim, Text}

import scala.collection.mutable

/** Round-9 operator family: independent driver replays (third
  * implementations — plain Scala collections, no Spark, no SQL) of each
  * new operator at sf0.001, plus the structural invariants the oracle
  * compare cannot see. Doubles compare with ==, not tolerance, because
  * both sides compute from identical integer operands in an identical
  * order (the Round8OperatorsSpec discipline).
  */
class Round9OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def docIds: Array[(Long, String, String)] =
    Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), col("source"), col("lang"))
      .as[(Long, String, String)].collect()

  test("q352 McNemar cells and statistic equal a from-scratch replay") {
    val rows = docIds.map { case (id, src, _) =>
      val u = (id * 2654435761L) % 100
      (src, u < 70 || id % 11 == 0, u < 60 || id % 9 == 0)
    }
    val got = Evals.q352.run(spark, sf001)
      .as[(String, Long, Long, Long, Double, Double, Double, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(got.nonEmpty)
    rows.groupBy(_._1).foreach { case (src, g) =>
      val n = g.length.toLong
      val n01 = g.count(r => r._2 && !r._3).toLong
      val n10 = g.count(r => !r._2 && r._3).toLong
      val (_, gn, g01, g10, accA, accB, chi2, rej) = got(src)
      assert(gn == n && g01 == n01 && g10 == n10,
        s"$src cells: ($gn,$g01,$g10) vs ($n,$n01,$n10)")
      assert(accA == g.count(_._2).toLong.toDouble / n.toDouble)
      assert(accB == g.count(_._3).toLong.toDouble / n.toDouble)
      val d = math.max(math.abs(n01 - n10) - 1, 0L)
      val expChi2 =
        if (n01 + n10 == 0) 0.0
        else (d * d).toDouble / (n01 + n10).toDouble
      assert(chi2 == expChi2, s"$src chi2: $chi2 vs $expChi2")
      assert(rej == (expChi2 > 3.841459))
    }
    // dose sanity: both discordant cells must fire somewhere
    assert(rows.exists(r => r._2 && !r._3) && rows.exists(r => !r._2 && r._3))
  }

  test("q353 Fleiss kappa equals a from-scratch replay; bounds hold") {
    val ratings = docIds.flatMap { case (id, _, lang) =>
      (0L to 4L).map { a =>
        val t = (id * 7) % 3
        val label =
          if ((id + a * 31) % (4 + a) == 0) (t + 1 + a % 2) % 3 else t
        (lang, id, label)
      }
    }
    val got = Evals.q353.run(spark, sf001)
      .as[(String, Long, Long, Long, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    ratings.groupBy(_._1).foreach { case (lang, g) =>
      val n = g.map(_._2).distinct.length.toLong
      val cells = g.groupBy(r => (r._2, r._3)).map(_._2.length.toLong)
      val sSq = cells.map(c => c * c).sum
      val cSq = g.groupBy(_._3).map(_._2.length.toLong)
        .map(c => c * c).sum
      val pBar = (sSq - n * 5).toDouble / (n * 20).toDouble
      val pE = cSq.toDouble / (n * n * 25).toDouble
      val kappa = (pBar - pE) / (1.0 - pE)
      val (_, gn, gs, gc, gpb, gpe, gk) = got(lang)
      assert(gn == n && gs == sSq && gc == cSq,
        s"$lang counts: ($gn,$gs,$gc) vs ($n,$sSq,$cSq)")
      assert(gpb == pBar && gpe == pE && gk == kappa)
      // Fleiss bounds: perfect agreement would be 1; the dose deviates
      // on a sparse lattice so agreement stays high but imperfect
      assert(gk > 0.0 && gk < 1.0, s"$lang kappa $gk degenerate")
    }
  }

  test("q354 ANOVA F equals a from-scratch replay with ordered folds") {
    val xs = Tables.load(spark, sf001, "orders")
      .select(col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .as[(String, Long)].collect()
    val groups = xs.groupBy(_._1).toSeq.sortBy(_._1)
    val k = groups.length.toLong
    val nTotal = xs.length.toLong
    val tSum = xs.map(_._2).sum
    val grandMean = tSum.toDouble / nTotal.toDouble
    // fold in group-key order with explicit 0.0 init — both engines do
    val ssb = groups.foldLeft(0.0) { case (acc, (_, g)) =>
      val n = g.length.toLong
      val m = g.map(_._2).sum.toDouble / n.toDouble
      acc + n.toDouble * (m - grandMean) * (m - grandMean)
    }
    val ssw = groups.foldLeft(0.0) { case (acc, (_, g)) =>
      val n = g.length.toLong
      val sx = BigInt(g.map(_._2).sum)
      val sxx = g.map(e => BigInt(e._2) * BigInt(e._2)).sum
      acc + (BigInt(n) * sxx - sx * sx).toDouble / n.toDouble
    }
    val f = (ssb / (k - 1).toDouble) / (ssw / (nTotal - k).toDouble)
    val got = Evals.q354.run(spark, sf001)
      .as[(Long, Long, Double, Double, Double, Double, Boolean)]
      .collect()
    assert(got.length == 1)
    val (gk, gn, gssb, gssw, gf, geta, grej) = got.head
    assert(gk == k && gn == nTotal)
    assert(gssb == ssb, s"ss_between: $gssb vs $ssb")
    assert(gssw == ssw, s"ss_within: $gssw vs $ssw")
    assert(gf == f && geta == ssb / (ssb + ssw))
    assert(grej == (f > 2.9957))
    // decomposition sanity: SSB + SSW == total SS up to the fold's
    // float error; both parts strictly positive on this fixture
    assert(ssb > 0.0 && ssw > 0.0)
  }

  test("q355 Kendall tau-b equals an all-pairs replay; agrees with corr sign") {
    val panel = docIds.map(_._1).filter(_ < 200).sorted.map { id =>
      val x = ((id * 2654435761L) % 1000) / 25
      val y = (x * 5 + (id * 7919) % 60) / 10
      (x, y)
    }
    var (c, dis, tx, ty) = (0L, 0L, 0L, 0L)
    for (i <- panel.indices; j <- (i + 1) until panel.length) {
      val s = (panel(i)._1 - panel(j)._1) * (panel(i)._2 - panel(j)._2)
      if (s > 0) c += 1 else if (s < 0) dis += 1
      if (panel(i)._1 == panel(j)._1) tx += 1
      if (panel(i)._2 == panel(j)._2) ty += 1
    }
    val n0 = panel.length.toLong * (panel.length - 1) / 2
    val tau = (c - dis).toDouble /
      math.sqrt(((n0 - tx) * (n0 - ty)).toDouble)
    val got = Evals.q355.run(spark, sf001)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect()
    assert(got.length == 1)
    val (gn, gn0, gc, gd, gtx, gty, gtau) = got.head
    assert(gn == panel.length.toLong && gn0 == n0)
    assert(gc == c && gd == dis && gtx == tx && gty == ty,
      s"pair cells: ($gc,$gd,$gtx,$gty) vs ($c,$dis,$tx,$ty)")
    assert(gtau == tau, s"tau_b: $gtau vs $tau")
    // y is a monotone-plus-noise function of x, so tau must be
    // strongly positive; ties must actually occur for the -b correction
    assert(gtau > 0.5 && tx > 0 && ty > 0)
  }

  test("q356 MDE and required-n equal an exact-moment replay") {
    val xs = Tables.load(spark, sf001, "orders")
      .select(col("o_orderpriority"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .as[(String, Long)].collect()
    val got = Evals.q356.run(spark, sf001)
      .as[(String, Long, Long, Double, Double, Double, Double, Long)]
      .collect().map(r => r._1 -> r).toMap
    val zsum = 2.801585
    val z2 = zsum * zsum
    xs.groupBy(_._1).foreach { case (pri, g) =>
      val n = g.length.toLong
      val nArm = n / 2
      val sx = BigInt(g.map(_._2).sum)
      val sxx = g.map(e => BigInt(e._2) * BigInt(e._2)).sum
      val mean = sx.toDouble / n.toDouble
      val s2 = (BigInt(n) * sxx - sx * sx).toDouble / (n * (n - 1)).toDouble
      val mde = zsum * math.sqrt(2.0 * s2 / nArm.toDouble)
      val delta = 0.02 * mean
      val nReq = math.ceil(2.0 * s2 * z2 / (delta * delta)).toLong
      val (_, gn, gArm, gMean, gS2, gMde, gRel, gReq) = got(pri)
      assert(gn == n && gArm == nArm)
      assert(gMean == mean && gS2 == s2)
      assert(gMde == mde, s"$pri mde: $gMde vs $mde")
      assert(gRel == mde / mean && gReq == nReq)
      // design sanity: detecting a 2% lift needs more traffic than the
      // segment currently has at any realistic TPC-H variance
      assert(gReq > nArm)
    }
  }

  test("q357 stump split equals an exhaustive-threshold replay") {
    val labeled = Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)].collect()
      .map { case (id, nc) =>
        (nc / 16, if (nc + (id * 2654435761L) % 400 - 200 > 306) 1L else 0L)
      }
    val buckets = labeled.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (b, g) => (b, g.length.toLong, g.map(_._2).sum) }
    val nTotal = buckets.map(_._2).sum
    val pTotal = buckets.map(_._3).sum
    var (nl, pl) = (0L, 0L)
    val splits = buckets.dropRight(1).map { case (b, cnt, pos) =>
      nl += cnt; pl += pos
      val (nr, pr) = (nTotal - nl, pTotal - pl)
      val f = (pl * pl + (nl - pl) * (nl - pl)).toDouble / nl.toDouble +
        (pr * pr + (nr - pr) * (nr - pr)).toDouble / nr.toDouble
      (b, nl, pl, nr, pr, f)
    }
    val best = splits.maxBy(s => (s._6, -s._1))
    val got = Curation.q357.run(spark, sf001)
      .as[(Long, Long, Long, Long, Long, Double, Double, Double, Double)]
      .collect()
    assert(got.length == 1)
    val (thr, gnl, gnr, gpl, gpr, giniP, giniS, acc, gain) = got.head
    assert(thr == (best._1 + 1) * 16, s"threshold: $thr")
    assert(gnl == best._2 && gpl == best._3 && gnr == best._4 &&
      gpr == best._5)
    val expGiniP = 1.0 - (pTotal * pTotal +
      (nTotal - pTotal) * (nTotal - pTotal)).toDouble /
      (nTotal * nTotal).toDouble
    val expGiniS = 1.0 - best._6 / nTotal.toDouble
    assert(giniP == expGiniP && giniS == expGiniS)
    assert(gain == expGiniP - expGiniS)
    val expAcc = (math.max(best._3, best._2 - best._3) +
      math.max(best._5, best._4 - best._5)).toDouble / nTotal.toDouble
    assert(acc == expAcc)
    // the dose correlates label with length, so the learned split must
    // beat the parent (positive gain) and the majority-class baseline
    val baseline = math.max(pTotal, nTotal - pTotal).toDouble /
      nTotal.toDouble
    assert(gain > 0.0 && acc > baseline,
      s"stump acc $acc vs baseline $baseline, gain $gain")
  }

  test("q358 Krippendorff alpha equals a from-scratch replay; missing ratings real") {
    val ratings = docIds.flatMap { case (id, _, lang) =>
      (0L to 4L).filter(a => (id + a * 17) % 3 != 0).map { a =>
        val t = (id * 7) % 3
        val label =
          if ((id + a * 31) % (4 + a) == 0) (t + 1 + a % 2) % 3 else t
        (lang, id, label)
      }
    }
    // coverage must actually vary (the operator's whole point)
    val mDist = ratings.groupBy(r => (r._1, r._2)).map(_._2.length).toSet
    assert(mDist.size > 1, s"m_u constant at $mDist — dose degenerate")
    val got = Evals.q358.run(spark, sf001)
      .as[(String, Long, Long, Long, Long, Double)]
      .collect().map(r => r._1 -> r).toMap
    ratings.groupBy(_._1).foreach { case (lang, g) =>
      val items = g.groupBy(_._2).filter(_._2.length >= 2)
      val nItems = items.size.toLong
      val nValues = items.values.map(_.length.toLong).sum
      val so12 = items.values.map { rs =>
        val m = rs.length.toLong
        val ssq = rs.groupBy(_._3).values
          .map(c => c.length.toLong * c.length).sum
        (m * m - ssq) * (12L / (m - 1))
      }.sum
      val csq = items.values.flatten.groupBy(_._3).values
        .map(c => c.size.toLong * c.size).sum
      val alpha = 1.0 - ((nValues - 1) * so12).toDouble /
        (12L * (nValues * nValues - csq)).toDouble
      val (_, gi, gv, gso, gcsq, ga) = got(lang)
      assert(gi == nItems && gv == nValues && gso == so12 && gcsq == csq,
        s"$lang counts: ($gi,$gv,$gso,$gcsq) vs " +
          s"($nItems,$nValues,$so12,$csq)")
      assert(ga == alpha, s"$lang alpha: $ga vs $alpha")
      assert(ga > 0.0 && ga < 1.0, s"$lang alpha $ga degenerate")
    }
  }

  test("q359 serpentine manifest balances shards; equals a replay") {
    val docs = Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)].collect()
    val ranked = docs.sortBy { case (id, nc) => (-nc, id) }
    val sums = Array.fill(8)(0L)
    val counts = Array.fill(8)(0L)
    ranked.zipWithIndex.foreach { case ((_, nc), i) =>
      val (pass, pos) = (i / 8, i % 8)
      val shard = if (pass % 2 == 0) pos else 7 - pos
      sums(shard) += nc; counts(shard) += 1
    }
    val grand = docs.map(_._2).sum
    val got = Curation.q359.run(spark, sf001)
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got.length == 8)
    got.foreach { case (sh, n, tot, _, share) =>
      assert(n == counts(sh.toInt) && tot == sums(sh.toInt),
        s"shard $sh: ($n,$tot) vs (${counts(sh.toInt)},${sums(sh.toInt)})")
      assert(share == sums(sh.toInt).toDouble / grand.toDouble)
    }
    // the serpentine guarantee: shard sums within the largest item
    val spread = sums.max - sums.min
    val maxItem = docs.map(_._2).max
    assert(spread <= maxItem,
      s"spread $spread exceeds the largest doc $maxItem")
    assert(counts.max - counts.min <= 1)
  }

  test("q360 greedy coverage equals an exhaustive replay; gains decay") {
    val docs = Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    def shingles(text: String): Set[String] = {
      val t = text.split(" ", -1) // Spark/DuckDB keep trailing empties
      if (t.length >= 3)
        (0 to t.length - 3).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}")
          .toSet
      else Set(text)
    }
    val docSh = docs.map { case (id, tx) => id -> shingles(tx) }.toMap
    val vocab = docSh.values.flatten.toSet.size
    val covered = mutable.Set.empty[String]
    val pickedIds = mutable.Set.empty[Long]
    val exp = (1 to 5).map { r =>
      val cands = docSh.filter(e => !pickedIds(e._1))
        .map { case (id, sh) => (id, (sh -- covered).size.toLong) }
        .filter(_._2 > 0) // all-covered docs vanish from the gain table
      val (id, gain) = cands.minBy { case (i, g) => (-g, i) }
      pickedIds += id; covered ++= docSh(id)
      (r.toLong, id, gain, covered.size.toLong)
    }
    val got = Curation.q360.run(spark, sf001)
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got.length == 5)
    got.zip(exp).foreach { case ((p, id, g, c, frac), (ep, eid, eg, ec)) =>
      assert(p == ep && id == eid && g == eg && c == ec,
        s"pick $p: ($id,$g,$c) vs ($eid,$eg,$ec)")
      assert(frac == ec.toDouble / vocab.toDouble)
    }
    // submodularity: marginal gains are non-increasing under greedy
    assert(got.sliding(2).forall(w => w(1)._3 <= w(0)._3))
    assert(got.last._4 < vocab, "coverage saturated — unit too coarse")
  }

  test("q361 cross-correlation equals an exact-moment replay at every lag") {
    val monthly = Tables.load(spark, sf001, "orders")
      .select(col("o_orderdate"), col("o_orderpriority"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .as[(java.sql.Timestamp, String, Long)].collect()
      .groupBy { case (ts, _, _) =>
        val c = java.util.Calendar.getInstance(
          java.util.TimeZone.getTimeZone("UTC"))
        c.setTime(ts)
        // Sessions.local sessions run in UTC (Tables.sessionConfigs)
        c.get(java.util.Calendar.YEAR) * 12 +
          c.get(java.util.Calendar.MONTH) + 1
      }
      .map { case (mi, g) =>
        (mi.toLong, g.count(_._2 == "1-URGENT").toLong,
          g.map(_._3).sum / 100000L)
      }.toSeq.sortBy(_._1)
    val byMi = monthly.map(m => m._1 -> m).toMap
    val got = Olap.q361.run(spark, sf001)
      .as[(Long, Long, Option[Double])].collect().map(r => r._1 -> r).toMap
    assert(got.size == 13)
    (-6L to 6L).foreach { lag =>
      val pairs = monthly.flatMap(m =>
        byMi.get(m._1 + lag).map(m2 => (m._2, m2._3)))
      val n = pairs.length.toLong
      val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
      val sxx = pairs.map(p => p._1 * p._1).sum
      val syy = pairs.map(p => p._2 * p._2).sum
      val sxy = pairs.map(p => p._1 * p._2).sum
      val exp =
        if (n * sxx - sx * sx > 0 && n * syy - sy * sy > 0)
          Some((n * sxy - sx * sy).toDouble /
            (math.sqrt((n * sxx - sx * sx).toDouble) *
              math.sqrt((n * syy - sy * sy).toDouble)))
        else None
      val (_, gn, gccf) = got(lag)
      assert(gn == n, s"lag $lag n: $gn vs $n")
      assert(gccf == exp, s"lag $lag ccf: $gccf vs $exp")
    }
    // both series ride the same monthly volume: zero lag must dominate
    val r0 = got(0L)._3.get
    assert((-6L to 6L).filter(_ != 0)
      .forall(l => got(l)._3.forall(r => math.abs(r) < math.abs(r0))))
  }

  test("q362 sequential looks equal a replay; boundary crossing is interior") {
    val got = Evals.q362.run(spark, sf001)
      .as[(Long, Long, Long, Double, Double, Double, Boolean,
        Option[Long])].collect().sortBy(_._1)
    assert(got.length == 5)
    // replay the z at each look from cumulative exact moments
    val rows = Tables.load(spark, sf001, "orders")
      .select(year(col("o_orderdate")) * 12 + month(col("o_orderdate")),
        col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .as[(Int, Long, Long)].collect()
    val (mn, mx) = (rows.map(_._1).min, rows.map(_._1).max)
    // v = cents + cents div 10 for the treated arm (the 10% dosed lift)
    val fixed = rows.map { case (mi, k, c) =>
      val arm = (k * 2654435761L) % 2
      (1 + ((mi - mn) * 5) / (mx - mn + 1), arm,
        if (arm == 1) c + c / 10 else c)
    }
    (1 to 5).foreach { look =>
      val cumul = fixed.filter(_._1 <= look)
      def arm(a: Long): (Long, Double, Double) = {
        val vs = cumul.filter(_._2 == a).map(_._3)
        val n = vs.length.toLong
        val sx = BigInt(vs.sum)
        val sxx = vs.map(v => BigInt(v) * BigInt(v)).sum
        val mean = sx.toDouble / n.toDouble
        val von = (BigInt(n) * sxx - sx * sx).toDouble /
          ((n * (n - 1)).toDouble * n.toDouble)
        (n, mean, von)
      }
      val (nc, mc, vc) = arm(0)
      val (nt, mt, vt) = arm(1)
      val z = (mt - mc) / math.sqrt(vt + vc)
      val g = got(look - 1)
      assert(g._2 == nc && g._3 == nt)
      assert(g._4 == mc && g._5 == mt)
      assert(g._6 == z, s"look $look z: ${g._6} vs $z")
      assert(g._7 == (math.abs(z) > 2.413))
    }
    // the dose is tuned so the FIRST look does not cross but a later
    // one does — the sequential machinery is load-bearing, not a
    // constant verdict
    assert(!got.head._7, "crossed at look 1 — dose too strong")
    assert(got.exists(_._7), "never crossed — dose too weak")
    val firstStop = got.filter(_._7).map(_._1).min
    assert(got.forall(_._8.contains(firstStop)))
  }

  test("q363 power iteration equals a from-scratch replay; direction dominant") {
    val vecs = Tables.load(spark, sf001, "embeddings")
      .select(col("vec_id"),
        expr("transform(CAST(embedding AS ARRAY<DOUBLE>), " +
          "x -> CAST(round(x * 16384) AS BIGINT))"))
      .as[(Long, Seq[Long])].collect().map(_._2.toArray)
    val dim = vecs.head.length
    val g = Array.ofDim[Long](dim, dim)
    vecs.foreach { q =>
      var i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) { g(i)(j) += q(i) * q(j); j += 1 }
        i += 1
      }
    }
    var v = Array.fill(dim)(0.125)
    var lambda = 0.0
    (1 to 3).foreach { _ =>
      // fold in j order with 0.0 init — exactly like both engines
      val w = (0 until dim).map { i =>
        (0 until dim).foldLeft(0.0)((acc, j) => acc + g(i)(j).toDouble * v(j))
      }.toArray
      lambda = math.sqrt(
        (0 until dim).foldLeft(0.0)((acc, i) => acc + w(i) * w(i)))
      v = w.map(_ / lambda)
    }
    val got = Sim.q363.run(spark, sf001)
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    assert(got.length == dim)
    got.foreach { case (d, loading, gl) =>
      assert(loading == v(d.toInt), s"dim $d: $loading vs ${v(d.toInt)}")
      assert(gl == lambda)
    }
    // v is unit-norm, and the Rayleigh estimate must dominate the
    // average eigenvalue trace/dim (it approximates the LARGEST)
    val norm = v.map(x => x * x).sum
    assert(math.abs(norm - 1.0) < 1e-12)
    val traceOverDim = (0 until dim).map(i => g(i)(i)).sum.toDouble / dim
    assert(lambda > traceOverDim, s"lambda $lambda vs avg $traceOverDim")
  }

  test("q364 MCC scorecard equals a from-scratch replay; all cells fire") {
    val rows = docIds.map { case (id, src, _) =>
      val t = if ((id * 2654435761L) % 100 < 30) 1L else 0L
      val p =
        if (t == 1 && id % 7 == 0) 0L
        else if (t == 0 && id % 13 == 0) 1L
        else t
      (src, t, p)
    }
    val got = Evals.q364.run(spark, sf001)
      .as[(String, Long, Long, Long, Long, Double, Double, Double,
        Double, Double)].collect().map(r => r._1 -> r).toMap
    rows.groupBy(_._1).foreach { case (src, g) =>
      val tp = g.count(r => r._2 == 1 && r._3 == 1).toLong
      val fp = g.count(r => r._2 == 0 && r._3 == 1).toLong
      val fn = g.count(r => r._2 == 1 && r._3 == 0).toLong
      val tn = g.count(r => r._2 == 0 && r._3 == 0).toLong
      val (_, gtp, gfp, gfn, gtn, tpr, fpr, mcc, ba, j) = got(src)
      assert(gtp == tp && gfp == fp && gfn == fn && gtn == tn)
      assert(tpr == tp.toDouble / (tp + fn).toDouble)
      assert(fpr == fp.toDouble / (fp + tn).toDouble)
      val den = math.sqrt(
        (BigInt(tp + fp) * BigInt(tp + fn) * BigInt(tn + fp) *
          BigInt(tn + fn)).toDouble)
      assert(mcc == (tp * tn - fp * fn).toDouble / den,
        s"$src mcc: $mcc")
      assert(ba == (tpr + (1.0 - fpr)) / 2 && j == tpr - fpr)
      assert(mcc > 0.5, s"$src mcc $mcc — predictor should be strong")
    }
    // the dose must exercise every confusion cell corpus-wide (a single
    // ~25-doc source can legitimately miss a cell at sf0.001)
    assert(rows.count(r => r._2 == 1 && r._3 == 1) > 0)
    assert(rows.count(r => r._2 == 0 && r._3 == 1) > 0)
    assert(rows.count(r => r._2 == 1 && r._3 == 0) > 0)
    assert(rows.count(r => r._2 == 0 && r._3 == 0) > 0)
  }

  test("q365 fairness gaps equal a replay; groups genuinely differ") {
    val rows = docIds.map { case (id, _, lang) =>
      val u = (id * 2654435761L) % 100
      val t = if (u < 30) 1L else 0L
      val shift = (lang.length * 7 + lang.charAt(0).toInt) % 10
      val p = if (u + (id * 7919) % 20 - 10 < shift + 30) 1L else 0L
      (lang, t, p)
    }
    def rates(g: Array[(String, Long, Long)]) = {
      val n = g.length.toLong
      val nt = g.count(_._2 == 1).toLong
      val posRate = g.count(_._3 == 1).toLong.toDouble / n.toDouble
      val tpr = g.count(r => r._2 == 1 && r._3 == 1).toLong.toDouble /
        nt.toDouble
      val fpr = g.count(r => r._2 == 0 && r._3 == 1).toLong.toDouble /
        (n - nt).toDouble
      (n, posRate, tpr, fpr)
    }
    val (_, prAll, tprAll, fprAll) = rates(rows)
    val got = Curation.q365.run(spark, sf001)
      .as[(String, Long, Double, Double, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    rows.groupBy(_._1).foreach { case (lang, g) =>
      val (n, pr, tpr, fpr) = rates(g)
      val (_, gn, gpr, gtpr, gfpr, dp, eo) = got(lang)
      assert(gn == n && gpr == pr && gtpr == tpr && gfpr == fpr,
        s"$lang rates: ($gpr,$gtpr,$gfpr) vs ($pr,$tpr,$fpr)")
      assert(dp == pr - prAll)
      assert(eo == math.max(math.abs(tpr - tprAll), math.abs(fpr - fprAll)))
    }
    // the lang-shifted threshold must produce a real parity spread
    val gaps = got.values.map(_._6)
    assert(gaps.max - gaps.min > 0.02,
      s"parity gaps too uniform: ${gaps.toList.sorted}")
  }

  test("q366 RAKE keywords equal a from-scratch replay") {
    val docs = Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val toks = docs.flatMap { case (id, tx) =>
      tx.split(" ", -1).zipWithIndex.filter(_._1.nonEmpty)
        .map { case (w, pos) => (id, pos, w) }
    }
    val stops = toks.groupBy(_._3).map { case (w, g) => (w, g.length) }
      .toSeq.sortBy { case (w, c) => (-c, w) }.take(3).map(_._1).toSet
    // phrase id = running stop count per doc in position order
    val inPhrase = toks.groupBy(_._1).toSeq.flatMap { case (id, g) =>
      var ph = 0L
      g.sortBy(_._2).flatMap { case (_, _, w) =>
        if (stops(w)) { ph += 1; None } else Some((id, ph, w))
      }
    }
    val plen = inPhrase.groupBy(r => (r._1, r._2))
      .map { case (k, g) => k -> g.length.toLong }
    val scored = inPhrase.groupBy(_._3).map { case (w, g) =>
      val freq = g.length.toLong
      val degree = g.map(r => plen((r._1, r._2))).sum
      (w, freq, degree, degree.toDouble / freq.toDouble)
    }.toSeq
    val exp = scored.sortBy { case (w, _, _, sc) => (-sc, w) }.take(20)
    val got = Text.q366.run(spark, sf001)
      .as[(String, Long, Long, Double)].collect()
    assert(got.length == 20)
    got.zip(exp).foreach { case (g, e) =>
      assert(g == e, s"keyword row: $g vs $e")
    }
    // degree ≥ freq always (each phrase has length ≥ 1), with a real
    // spread so the score isn't constant
    assert(got.forall(r => r._3 >= r._2))
    assert(got.map(_._4).distinct.length > 1)
  }

  test("q367 caliper matching equals a replay and de-biases the naive read") {
    val base = Tables.load(spark, sf001, "orders")
      .select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .as[(Long, Long)].collect()
      .map { case (k, x) =>
        val t = (k * 2654435761L) % 1000 < 200 + math.min(600, x / 50000)
        (k, x, t, if (t) x + x / 33 else x)
      }
    val controls = base.filter(!_._3)
    val byBucket = controls.groupBy(_._2 / 10000)
    val treated = base.filter(_._3)
    val matched = treated.flatMap { case (kt, xt, _, yt) =>
      val cands = (-1L to 1L).flatMap(o =>
        byBucket.getOrElse(xt / 10000 + o, Array.empty[(Long, Long, Boolean, Long)]))
        .filter(c => math.abs(xt - c._2) <= 10000)
      if (cands.isEmpty) None
      else {
        val best = cands.minBy(c => (math.abs(xt - c._2), c._2, c._1))
        Some((kt, xt, yt, best._4))
      }
    }
    val att = matched.map(m => m._3 - m._4).sum.toDouble / matched.length
    val trueAtt = matched.map(m => m._2 / 33).sum.toDouble / matched.length
    val naive = treated.map(_._4).sum.toDouble / treated.length -
      controls.map(_._4).sum.toDouble / controls.length
    val got = Evals.q367.run(spark, sf001)
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(got.length == 1)
    val (gnt, gnm, gatt, gtrue, gnaive) = got.head
    assert(gnt == treated.length.toLong && gnm == matched.length.toLong)
    assert(gatt == att, s"att: $gatt vs $att")
    assert(gtrue == trueAtt && gnaive == naive)
    // matching must remove nearly all the confounding bias
    assert(math.abs(gatt - gtrue) * 10 < math.abs(gnaive - gtrue),
      s"matching bias ${gatt - gtrue} vs naive bias ${gnaive - gtrue}")
  }

  test("q368 Simpson detector equals a replay and the paradox fires") {
    val rows = Tables.load(spark, sf001, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .as[(Long, String, Long)].collect()
      .map { case (k, pri, c) =>
        val pi = pri.substring(0, 1).toLong - 1
        val t = (k * 2654435761L) % 100 < 20 + 15 * pi
        (pri, t, c + pi * (c / 3) - (if (t) c / 3 else 0L))
      }
    val segs = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (seg, g) =>
      val (cs, ts) = g.partition(!_._2)
      val meanC = cs.map(_._3).sum.toDouble / cs.length
      val meanT = ts.map(_._3).sum.toDouble / ts.length
      (seg, cs.length.toLong, ts.length.toLong, meanC, meanT,
        meanT - meanC)
    }
    val (cAll, tAll) = rows.partition(!_._2)
    val pooled = tAll.map(_._3).sum.toDouble / tAll.length -
      cAll.map(_._3).sum.toDouble / cAll.length
    val flag = (pooled > 0 && segs.map(_._6).max < 0) ||
      (pooled < 0 && segs.map(_._6).min > 0)
    val got = Evals.q368.run(spark, sf001)
      .as[(String, Long, Long, Double, Double, Double, Double, Boolean)]
      .collect().sortBy(_._1)
    assert(got.length == segs.length)
    got.zip(segs).foreach { case (g, e) =>
      assert(g._1 == e._1 && g._2 == e._2 && g._3 == e._3)
      assert(g._4 == e._4 && g._5 == e._5 && g._6 == e._6,
        s"${e._1}: ${g._6} vs ${e._6}")
      assert(g._7 == pooled && g._8 == flag)
    }
    // the dose must actually produce the reversal, or the detector is
    // a constant-false report
    assert(flag, "Simpson reversal did not fire")
    assert(pooled > 0 && segs.forall(_._6 < 0))
  }

  test("q369 harmonic centrality equals a multi-source BFS replay") {
    // rebuild the co-purchase adjacency exactly as the engine doses it
    val orderParts = Tables.load(spark, sf001, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .as[(Long, Long)].collect()
    val pairCounts = orderParts.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length)
        yield (ps(i), ps(j))
    }.toSeq.groupBy(identity).map { case (p, g) => (p, g.size) }
    val und = pairCounts.filter(_._2 >= 2).keys.toSeq
    val adj = (und ++ und.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (k, g) => k -> g.map(_._2).toSet }
    val seeds = adj.keys.toSeq.sorted.take(4)
    val got = Olap.q369.run(spark, sf001)
      .as[(Long, Long, Long, Long, Long, Long, Double)]
      .collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == seeds)
    seeds.zip(got).foreach { case (s0, g) =>
      val dist = mutable.Map(s0 -> 0L)
      var frontier = Set(s0)
      (1 to 4).foreach { l =>
        frontier = frontier.flatMap(v => adj.getOrElse(v, Set.empty))
          .filterNot(dist.contains)
        frontier.foreach(v => dist(v) = l.toLong)
      }
      val d = (1 to 4).map(l => dist.count(_._2 == l).toLong)
      assert((g._2, g._3, g._4, g._5) == ((d(0), d(1), d(2), d(3))),
        s"seed $s0 depth counts")
      assert(g._6 == d.sum)
      val h = d(0).toDouble / 1.0 + d(1).toDouble / 2.0 +
        d(2).toDouble / 3.0 + d(3).toDouble / 4.0
      assert(g._7 == h, s"seed $s0 h4: ${g._7} vs $h")
    }
    // centrality must differentiate the seeds on this graph
    assert(got.map(_._7).distinct.length > 1)
  }

  test("q370 V-optimal bins equal an exhaustive-enumeration replay") {
    val xs = Tables.load(spark, sf001, "orders")
      .select(expr("CAST(round(o_totalprice * 100) AS BIGINT) div 1000"))
      .as[Long].collect()
    val buckets = xs.groupBy(_ / 2000).toSeq.sortBy(_._1)
      .map { case (b, g) =>
        (b, g.length.toLong, g.sum, g.map(x => x * x).sum) }
    val k = buckets.length
    // prefix arrays with a zero row, exactly like both engines
    val pn = buckets.scanLeft(0L)(_ + _._2).toArray
    val ps = buckets.scanLeft(0L)(_ + _._3).toArray
    val pq = buckets.scanLeft(0L)(_ + _._4).toArray
    def cost(lo: Int, hi: Int): Double = {
      val (cn, cs, cq) =
        (pn(hi) - pn(lo - 1), ps(hi) - ps(lo - 1), pq(hi) - pq(lo - 1))
      (cn.toDouble * cq.toDouble - cs.toDouble * cs.toDouble) /
        cn.toDouble
    }
    var best: (Double, Seq[Int]) = (Double.MaxValue, Nil)
    for (s1 <- 1 until k; s2 <- s1 + 1 until k; s3 <- s2 + 1 until k;
         s4 <- s3 + 1 until k; s5 <- s4 + 1 until k) {
      val t = cost(1, s1) + cost(s1 + 1, s2) + cost(s2 + 1, s3) +
        cost(s3 + 1, s4) + cost(s4 + 1, s5) + cost(s5 + 1, k)
      // strict < keeps the lexicographically-first argmin on ties —
      // the engines' (total, s1..s5) ORDER BY
      if (t < best._1) best = (t, Seq(s1, s2, s3, s4, s5))
    }
    val cuts = 0 +: best._2 :+ k
    val exp = (1 to 6).map { bin =>
      val (lo, hi) = (cuts(bin - 1) + 1, cuts(bin))
      (bin.toLong, buckets(lo - 1)._1, buckets(hi - 1)._1,
        pn(hi) - pn(lo - 1), cost(lo, hi))
    }
    val got = Olap.q370.run(spark, sf001)
      .as[(Long, Long, Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(got.length == 6)
    got.zip(exp).foreach { case (g, e) =>
      assert((g._1, g._2, g._3, g._4, g._5) == e,
        s"bin ${e._1}: $g vs $e")
      assert(g._6 == best._1)
    }
    // the optimum must strictly beat a naive equal-width 6-bin split
    val naiveCuts = (1 to 5).map(i => i * k / 6)
    val naive = (0 +: naiveCuts :+ k).sliding(2)
      .map(w => cost(w(0) + 1, w(1))).sum
    assert(best._1 < naive, s"V-optimal ${best._1} vs equal-width $naive")
  }

  test("q371 fuzzy join recovers every corrupted name at ED 1") {
    val got = Text.q371.run(spark, sf001)
      .as[(String, String, String, Long, Long, Long, Boolean)].collect()
    val names = Tables.load(spark, sf001, "part")
      .select(col("p_name")).distinct().as[String].collect()
      .filter(_.length >= 8)
    assert(got.length == names.length, s"${got.length} vs ${names.length}")
    got.foreach { case (orig, q, matched, ed, _, _, correct) =>
      // replay the corruption
      val pos = 5 + (orig.length * 7 + orig.charAt(2).toInt) %
        (orig.length - 5)
      assert(q == orig.substring(0, pos - 1) + orig.substring(pos))
      assert(correct && matched == orig,
        s"'$q' matched '$matched', wanted '$orig'")
      assert(ed == 1L)
    }
  }

  test("q372 IPF raking equals a replay and hits the row targets") {
    val cells = docIds.groupBy(r => (r._3, r._2))
      .map { case ((lang, src), g) => (lang, src, g.length.toLong) }
      .toSeq.sortBy(c => (c._1, c._2))
    val total = cells.map(_._3).sum
    val langs = cells.map(_._1).distinct.sorted
    val srcs = cells.map(_._2).distinct.sorted
    val tLang = total.toDouble / langs.length.toDouble
    val tSrc = total.toDouble / srcs.length.toDouble
    val w = mutable.Map(cells.map(c => (c._1, c._2) -> c._3.toDouble): _*)
    (1 to 3).foreach { _ =>
      langs.foreach { l =>
        // fold in source order with 0.0 init — both engines' order
        val rs = srcs.filter(s0 => w.contains((l, s0)))
          .foldLeft(0.0)((acc, s0) => acc + w((l, s0)))
        srcs.filter(s0 => w.contains((l, s0)))
          .foreach(s0 => w((l, s0)) = w((l, s0)) * (tLang / rs))
      }
      srcs.foreach { s0 =>
        val cs = langs.filter(l => w.contains((l, s0)))
          .foldLeft(0.0)((acc, l) => acc + w((l, s0)))
        langs.filter(l => w.contains((l, s0)))
          .foreach(l => w((l, s0)) = w((l, s0)) * (tSrc / cs))
      }
    }
    val got = Curation.q372.run(spark, sf001)
      .as[(String, String, Long, Double, Double, Double)].collect()
      .sortBy(r => (r._1, r._2))
    assert(got.length == cells.length)
    got.zip(cells).foreach { case (g, (l, s0, n)) =>
      assert(g._1 == l && g._2 == s0 && g._3 == n)
      assert(g._4 == w((l, s0)), s"($l,$s0): ${g._4} vs ${w((l, s0))}")
      assert(g._5 == w((l, s0)) / n.toDouble)
    }
    // after 3 full rounds the row sums sit within 0.1% of target (IPF
    // converges geometrically on a strictly positive table)
    got.groupBy(_._1).values.foreach { g =>
      val rel = math.abs(g.head._6 - tLang) / tLang
      assert(rel < 0.001, s"row sum ${g.head._6} vs target $tLang")
    }
  }

  test("q373 QTE equals an exact-percentile replay; effect is top-heavy") {
    val ys = Tables.load(spark, sf001, "orders")
      .select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .as[(Long, Long)].collect()
      .map { case (k, x) =>
        val t = (k * 2654435761L) % 2 == 1
        (t, if (t && x > 25000000L) x + x / 10 else x)
      }
    def pct(xs: Array[Long], tau: Double): Double = {
      val s0 = xs.sorted
      val h = tau * (s0.length - 1)
      val lo = h.toInt
      // both engines interpolate as (1−f)·lower + f·higher — NOT
      // lower + f·Δ, which differs in the last bit
      if (lo == s0.length - 1) s0(lo).toDouble
      else (1.0 - (h - lo)) * s0(lo) + (h - lo) * s0(lo + 1)
    }
    val (cs, ts) = ys.partition(!_._1)
    val got = Evals.q373.run(spark, sf001)
      .as[(Long, Double, Double, Double, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(100L, 250L, 500L, 750L, 900L))
    got.foreach { case (p, qc, qt, qte, rel) =>
      val (ec, et) = (pct(cs.map(_._2), p / 1000.0),
        pct(ts.map(_._2), p / 1000.0))
      assert(qc == ec && qt == et, s"tau $p: ($qc,$qt) vs ($ec,$et)")
      assert(qte == et - ec && rel == (et - ec) / ec)
    }
    // the dosed effect is top-heavy: the relative QTE at τ=.9 must
    // clear τ=.1 by a wide margin (absolute bounds are too strict at
    // sf0.001 — the untreated bottom decile carries ±8% of pure
    // inter-arm baseline noise at 750/arm)
    assert(got.last._5 > 0.04, s"top QTE ${got.last._5}")
    assert(got.last._5 - got.head._5 > 0.05,
      s"QTE not top-heavy: .9→${got.last._5} vs .1→${got.head._5}")
  }

  test("q374 cluster jackknife equals an ordered-fold replay") {
    val per = Tables.load(spark, sf001, "orders")
      .join(Tables.load(spark, sf001, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.load(spark, sf001, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .as[(String, Long)].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (n, g) => (n, g.length.toLong, g.map(_._2).sum) }
    val (nAll, tAll, g) =
      (per.map(_._2).sum, per.map(_._3).sum, per.length.toLong)
    val loo = per.map { case (n, ni, ti) =>
      (n, ni, ti, (tAll - ti).toDouble / (nAll - ni).toDouble)
    }
    val thetaBar = loo.foldLeft(0.0)((a, r) => a + r._4) / g.toDouble
    val ss = loo.foldLeft(0.0)((a, r) =>
      a + (r._4 - thetaBar) * (r._4 - thetaBar))
    val se = math.sqrt((g - 1).toDouble / g.toDouble * ss)
    val got = Evals.q374.run(spark, sf001)
      .as[(String, Long, Long, Double, Double, Double, Double)]
      .collect().sortBy(_._1)
    assert(got.length == per.length)
    got.zip(loo).foreach { case (gr, (n, ni, ti, th)) =>
      assert(gr._1 == n && gr._2 == ni && gr._3 == ti && gr._4 == th)
      assert(gr._5 == tAll.toDouble / nAll.toDouble)
      assert(gr._6 == thetaBar && gr._7 == se,
        s"jackknife: (${gr._6},${gr._7}) vs ($thetaBar,$se)")
    }
    // SE must be a sane small fraction of the point estimate
    assert(se > 0.0 && se < got.head._5 * 0.1)
  }

  test("q375 Holm step-down equals a replay; Bonferroni ⊆ Holm ⊆ BH") {
    val got = Evals.q375.run(spark, sf001)
      .as[(String, String, Long, Long, Long, Boolean, Boolean, Boolean)]
      .collect().sortBy(_._4)
    val m = got.head._5
    assert(got.length.toLong == m)
    // replay: sorted p ascending, reject while p*(m-k+1) <= 50
    var failed = false
    got.foreach { case (_, _, p, k, _, ok, rej, bonf) =>
      val expOk = p * (m - k + 1) <= 50
      assert(ok == expOk)
      if (!expOk) failed = true
      assert(rej == !failed && (if (rej) expOk else true),
        s"rank $k: rejected=$rej after failed=$failed")
      assert(bonf == (p * m <= 50))
    }
    val holmCount = got.count(_._7)
    val bonfCount = got.count(_._8)
    // BH on the SAME grid (q350's rule): largest k with m·p_k <= 50·k
    val kMax = got.filter(r => m * r._3 <= 50 * r._4).map(_._4)
      .reduceOption(_ max _).getOrElse(0L)
    val bhCount = got.count(_._4 <= kMax)
    assert(bonfCount <= holmCount && holmCount <= bhCount,
      s"sandwich: bonf=$bonfCount holm=$holmCount bh=$bhCount")
    assert(holmCount > 0 && bhCount < m)
  }

  test("q376 SRM chi-square equals a replay; only day 15 alarms") {
    val rows = Tables.load(spark, sf001, "events")
      .select(dayofmonth(col("ts")), date_trunc("day", col("ts")),
        col("user_id") % 2)
      .as[(Int, java.sql.Timestamp, Long)].collect()
      .filter(r => !(r._1 == 15 && r._3 == 1))
    val got = graft.streaming.EventStream.q376.run(spark, sf001)
      .as[(java.sql.Timestamp, Long, Long, Double, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    rows.groupBy(_._2).foreach { case (day, g) =>
      val nc = g.count(_._3 == 0).toLong
      val nt = g.count(_._3 == 1).toLong
      val chi2 = ((nc - nt) * (nc - nt)).toDouble / (nc + nt).toDouble
      val (_, gc, gt, gchi, alarm) = got(day)
      assert(gc == nc && gt == nt && gchi == chi2)
      assert(alarm == (chi2 > 10.828))
    }
    val alarms = got.values.filter(_._5).toSeq
    assert(alarms.size == 1 && alarms.head._3 == 0L,
      s"exactly the day-15 outage must alarm: $alarms")
  }

  test("q377 channel drift equals an arithmetic-pixel replay through the codec") {
    val ids = docIds.map(_._1)
    val stats = Array.fill(2, 3)((0L, 0L)) // (sum, sumsq) per cohort/chan
    val npx = Array.fill(2)(0L)
    ids.foreach { id =>
      val (w, h) = ((1 + id % 8).toInt, (1 + id % 5).toInt)
      val co = (id % 2).toInt
      npx(co) += w.toLong * h
      for (y <- 0 until h; x <- 0 until w) {
        val px = Seq((id * 7 + y * 31 + x * 13) % 256,
          (id * 11 + y * 17 + x * 5) % 256,
          (id * 3 + y * 23 + x * 29) % 256)
        px.zipWithIndex.foreach { case (v, c) =>
          val (s0, q0) = stats(co)(c)
          stats(co)(c) = (s0 + v, q0 + v * v)
        }
      }
    }
    val got = graft.multimodal.MediaDecoder.all
      .find(_.name == "q377_channel_drift").get.run(spark, sf001)
      .as[(Long, Long, Double, Double, Long, Double, Double, Double,
        Double)].collect().sortBy(_._1)
    assert(got.length == 3)
    got.foreach { case (ch, na, ma, va, nb, mb, vb, shift, ratio) =>
      val (sa, qa) = stats(0)(ch.toInt)
      val (sb, qb) = stats(1)(ch.toInt)
      assert(na == npx(0) && nb == npx(1))
      assert(ma == sa.toDouble / npx(0).toDouble)
      assert(mb == sb.toDouble / npx(1).toDouble)
      assert(va == (npx(0) * qa - sa * sa).toDouble /
        (npx(0) * npx(0)).toDouble)
      assert(vb == (npx(1) * qb - sb * sb).toDouble /
        (npx(1) * npx(1)).toDouble)
      assert(shift == mb - ma && ratio == vb / va)
      // raw channel means must sit near mid-scale (the dose spans all
      // byte values), and the engine path went through the REAL codec —
      // a decode corruption would break the equality above
      assert(ma > 100 && ma < 155, s"channel $ch mean $ma")
    }
  }

  test("q378 U-shaped credits equal a replay and conserve per journey") {
    val ev = Tables.load(spark, sf001, "events")
      .select(col("user_id"), col("event_type"), col("ts"),
        col("event_id"))
      .as[(Long, String, java.sql.Timestamp, Long)].collect()
    val firstConv = ev.filter(_._2 == "purchase").groupBy(_._1)
      .map { case (u, g) =>
        u -> g.map(r => (r._3.getTime, r._3.getNanos, r._4)).min }
    val journeys = ev
      .filter(r => r._2 != "purchase" && firstConv.contains(r._1))
      .filter { r =>
        val (ct, cn, ce) = firstConv(r._1)
        val k = (r._3.getTime, r._3.getNanos, r._4)
        // strictly before the conversion in (ts, event_id) order
        Ordering[(Long, Int, Long)].lt(k, (ct, cn, ce))
      }
      .groupBy(_._1).map { case (u, g) =>
        val path = g.groupBy(_._2).map { case (ch, occ) =>
          ch -> occ.map(r => (r._3.getTime, r._3.getNanos, r._4)).min
        }.toSeq.sortBy(_._2).map(_._1)
        u -> path
      }
    val credits = scala.collection.mutable.Map
      .empty[String, (Long, Long)].withDefaultValue((0L, 0L))
    journeys.values.foreach { path =>
      val k = path.length
      path.zipWithIndex.foreach { case (ch, i) =>
        val c =
          if (k == 1) 20L
          else if (k == 2) 10L
          else if (i == 0 || i == k - 1) 8L
          else 4L / (k - 2)
        val (n, tot) = credits(ch)
        credits(ch) = (n + 1, tot + c)
      }
      // conservation: 20 twentieths per journey regardless of k
      val sum = path.zipWithIndex.map { case (_, i) =>
        if (k == 1) 20L else if (k == 2) 10L
        else if (i == 0 || i == k - 1) 8L else 4L / (k - 2)
      }.sum
      assert(sum == 20L, s"journey k=$k leaked credit: $sum")
    }
    val tot20 = credits.values.map(_._2).sum
    val got = graft.streaming.EventStream.q378.run(spark, sf001)
      .as[(String, Long, Double, Double)].collect().map(r => r._1 -> r)
      .toMap
    credits.foreach { case (ch, (n, c20)) =>
      val (_, gn, credit, share) = got(ch)
      assert(gn == n, s"$ch journeys: $gn vs $n")
      assert(credit == c20.toDouble / 20.0)
      assert(share == c20.toDouble / tot20.toDouble)
    }
    // every journey length 1..4 must occur or the U-shape is untested
    val ks = journeys.values.map(_.length).toSet
    assert(Set(1, 2, 3, 4).subsetOf(ks), s"path lengths seen: $ks")
  }

  test("q379 vocabulary overlap equals a set-arithmetic replay") {
    val docs = Tables.load(spark, sf001, "documents")
      .select(col("source"), col("text")).as[(String, String)].collect()
    def shingles(text: String): Set[String] = {
      val t = text.split(" ", -1)
      if (t.length >= 3)
        (0 to t.length - 3).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}")
          .toSet
      else Set(text)
    }
    val vocab = docs.groupBy(_._1)
      .map { case (src, g) => src -> g.flatMap(d => shingles(d._2)).toSet }
    val srcs = vocab.keys.toSeq.sorted
    val got = Text.q379.run(spark, sf001)
      .as[(String, String, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    val pairs = for (i <- srcs.indices; j <- (i + 1) until srcs.length)
      yield (srcs(i), srcs(j))
    assert(got.size == pairs.length)
    pairs.foreach { case (a, b) =>
      val inter = (vocab(a) & vocab(b)).size.toLong
      val (_, _, sa, sb, gi, jac) = got((a, b))
      assert(sa == vocab(a).size.toLong && sb == vocab(b).size.toLong)
      assert(gi == inter, s"($a,$b) inter: $gi vs $inter")
      assert(jac == inter.toDouble /
        (vocab(a).size + vocab(b).size - inter).toDouble)
    }
    // the synthetic sources share a template vocabulary — overlaps are
    // real but never total
    val jacs = got.values.map(_._6)
    assert(jacs.max < 1.0 && jacs.min > 0.0)
  }
}

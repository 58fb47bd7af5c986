package graft

import graft.operators.{Graph, Multimodal, Relational11, TextRank, TimeSeries}
import org.apache.spark.sql.functions._

/** Specs for the round-12 widening batch: rich-club curve, Poisson
  * bootstrap, SRM audit, Cramér's V, Zipf profile, STL decomposition,
  * SAX words, and the three new multimodal screens.
  */
class Round12Spec extends SparkSpec {

  test("rich club: curve is monotone in the club and internally consistent") {
    val rows = Graph.richClub(sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L, 16L))
    // clubs shrink as the threshold rises; so must their internal edges
    rows.sliding(2).foreach { case Array((_, n1, e1, _), (_, n2, e2, _)) =>
      assert(n2 <= n1); assert(e2 <= e1)
    }
    rows.foreach { case (_, n, e, phi) =>
      assert(e <= n * (n - 1) / 2, "edge count exceeds club capacity")
      val expected = if (n >= 2) e * 2000000L / (n * (n - 1)) else 0L
      assert(phi == expected)
      assert(phi <= 1000000L)
    }
  }

  test("bootstrap CI: point stats exact, interval ordered and covering") {
    val rows = Relational11.bootstrapCi(sf).collect()
    assert(rows.nonEmpty)
    val direct = sf.orders
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1000000 AS LONG)"))
          .as("sx"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { r =>
      val (n, sx) = direct(r.getString(0))
      assert(r.getLong(1) == n)
      assert(math.abs(r.getDouble(2) - sx.toDouble / n) < 1e-9)
      val (lo, hi) = (r.getDouble(3), r.getDouble(4))
      assert(lo <= hi)
      // a 94% percentile interval over hundreds of orders straddles the mean
      assert(lo <= r.getDouble(2) && r.getDouble(2) <= hi)
    }
  }

  test("SRM check: arms partition distinct users, chi2 exact") {
    val rows = Relational11.srmCheck(sf).collect()
    assert(rows.nonEmpty)
    val users = sf.events.select("event_type", "user_id").distinct()
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (a, b) = (r.getLong(1), r.getLong(2))
      assert(a + b == users(r.getString(0)))
      val chi2 = (a - b) * (a - b) * 1000000L / (a + b)
      assert(r.getLong(3) == chi2)
      assert(r.getBoolean(4) == chi2 > 3841459L)
    }
  }

  test("Cramér's V: bounded in [0,1], chi2 matches a naive recompute") {
    val rows = Relational11.cramersV(sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0 + 1e-12)
    }
    // independent dense recompute of the status × priority pair
    val cells = sf.orders.groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("o")).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    val n = cells.map(_._2).sum.toDouble
    val rt = cells.groupBy(_._1._1).map { case (k, v) => k -> v.map(_._2).sum }
    val ct = cells.groupBy(_._1._2).map { case (k, v) => k -> v.map(_._2).sum }
    val chi2 = cells.map { case ((x, y), o) =>
      val e = rt(x) * ct(y) / n
      (o - e) * (o - e) / e
    }.sum
    val row = rows.find(_.getString(0) == "status_x_priority").get
    assert(math.abs(row.getDouble(4) - chi2) < 1e-6 * math.max(1.0, chi2))
    assert(row.getLong(2) == rt.size && row.getLong(3) == ct.size)
  }

  test("Zipf profile: probe rows replay from a direct token count") {
    val rows = TextRank.zipfProfile(sf).collect()
    assert(rows.nonEmpty)
    val counts = sf.documents
      .select(explode(split(col("text"), " ")).as("t"))
      .where(length(col("t")) > 0)
      .groupBy("t").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (t, c) => (-c, t) }
    rows.foreach { r =>
      val rank = r.getLong(0).toInt
      val (tok, cnt) = counts(rank - 1)
      assert(r.getString(1) == tok, s"rank $rank token")
      assert(r.getLong(2) == cnt, s"rank $rank count")
      if (counts.length >= rank * 2) {
        val cnt2 = counts(rank * 2 - 1)._2
        assert(r.getLong(3) == cnt * 1000000L / cnt2)
      } else assert(r.isNullAt(3))
    }
  }

  test("STL: additive identity holds, trend nulls only at the edges") {
    val rows = TimeSeries.stlDecompose(sf).collect()
    assert(rows.length > 100)
    val nullTrend = rows.zipWithIndex.filter(_._1.isNullAt(2)).map(_._2)
    // exactly the first 3 and last 3 days lack a full centered window
    assert(nullTrend.toSeq ==
      Seq(0, 1, 2, rows.length - 3, rows.length - 2, rows.length - 1))
    rows.filterNot(_.isNullAt(2)).foreach { r =>
      val recon = r.getLong(2).toDouble + r.getDouble(4) + r.getDouble(5)
      assert(math.abs(recon - r.getLong(1).toDouble) < 1e-3)
    }
    // trend replays as the floor-divided 7-day sum of the raw series
    val v = rows.map(_.getLong(1))
    rows.zipWithIndex.filterNot(_._1.isNullAt(2)).foreach { case (r, i) =>
      assert(r.getLong(2) == (i - 3 to i + 3).map(v).sum / 7, s"day $i trend")
    }
  }

  test("SAX: equal-mass symbols, chronological word") {
    val rows = TimeSeries.saxSymbols(sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nDays = r.getLong(1)
      val ns = (3 to 6).map(r.getLong)
      assert(ns.sum == nDays)
      // ntile guarantees bucket sizes within 1 of each other
      assert(ns.max - ns.min <= 1)
      val word = r.getString(2)
      assert(word.length == math.min(64L, nDays))
      assert(word.forall(c => c >= '1' && c <= '4'))
    }
  }

  test("audio SNR: frame energies replay from the synthesis formula") {
    val rows = Multimodal.audioSnr(sf).collect()
    assert(rows.length > 100)
    rows.foreach { r =>
      val id = r.getLong(0)
      val n = 64 + (id % 64).toInt
      assert(r.getInt(1) == n / 16)
      assert(r.getLong(2) >= r.getLong(3))
      assert(r.getLong(4) == r.getLong(2) * 1000000L / (r.getLong(3) + 1))
    }
    // full recompute for a handful of docs
    rows.take(5).foreach { r =>
      val id = r.getLong(0)
      val n = 64 + (id % 64).toInt
      val nFull = n / 16
      val es = (0 until nFull).map { f =>
        (f * 16 until (f + 1) * 16).map { j =>
          val v = ((id * 7919 + j * 104729) % 65536) - 32768
          v * v
        }.sum
      }
      assert(r.getLong(2) == es.max && r.getLong(3) == es.min)
    }
  }

  test("silence trim: sample accounting is exact") {
    val rows = Multimodal.silenceTrim(sf).collect()
    assert(rows.length > 100)
    rows.foreach { r =>
      val n = r.getInt(1).toLong
      val (first, last) = (r.getInt(2), r.getInt(3))
      val (lead, trail, kept) = (r.getLong(4), r.getLong(5), r.getLong(6))
      assert(lead + trail + kept == n)
      if (first < 0) { assert(last < 0 && kept == 0 && lead == n) }
      else {
        assert(first <= last)
        assert(lead == first.toLong * 16)
        assert(kept > 0)
      }
    }
  }

  test("ANOVA: sums of squares replay from a driver-side recompute") {
    val r = Relational11.anova(sf).collect().head
    val xs = sf.orders
      .select(expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1000000 AS LONG)")
        .as("x"), col("o_orderpriority").as("g"))
      .collect().map(row => (row.getString(1), row.getLong(0)))
    val n = xs.length.toLong
    val k = xs.map(_._1).distinct.length.toLong
    assert(r.getLong(0) == n && r.getLong(1) == k)
    val mean = xs.map(_._2).sum.toDouble / n
    val ssb = xs.groupBy(_._1).values.map { g =>
      val gm = g.map(_._2).sum.toDouble / g.length
      g.length * (gm - mean) * (gm - mean)
    }.sum
    val ssw = xs.groupBy(_._1).values.map { g =>
      val gm = g.map(_._2).sum.toDouble / g.length
      g.map(v => (v._2 - gm) * (v._2 - gm)).sum
    }.sum
    assert(math.abs(r.getDouble(2) - ssb) < 1e-6 * ssb)
    assert(math.abs(r.getDouble(3) - ssw) < 1e-6 * ssw)
    assert(r.getLong(4) == k - 1 && r.getLong(5) == n - k)
    val f = (r.getDouble(2) / (k - 1)) / (r.getDouble(3) / (n - k))
    assert(math.abs(r.getDouble(6) - f) < 1e-9 * math.max(1.0, f))
  }

  test("Tukey fences: quartiles exact by rank, outlier counts replay") {
    val rows = Relational11.tukeyOutliers(sf).collect()
    assert(rows.nonEmpty)
    val byseg = sf.orders
      .join(sf.customer.select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1000000 AS LONG)")
          .as("v"), col("o_orderkey"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    rows.foreach { r =>
      val seg = r.getString(0)
      val vs = byseg(seg).sortBy(t => (t._2, t._3)).map(_._2)
      val n = vs.length
      assert(r.getLong(1) == n.toLong)
      val q1 = vs(((n + 3) / 4) - 1)
      val q3 = vs(((3 * n + 3) / 4) - 1)
      assert(r.getLong(2) == q1 && r.getLong(3) == q3)
      val iqr = q3 - q1
      val (lo, hi) = (q1 - (3 * iqr) / 2, q3 + (3 * iqr) / 2)
      assert(r.getLong(4) == lo && r.getLong(5) == hi)
      assert(r.getLong(6) == vs.count(_ < lo).toLong)
      assert(r.getLong(7) == vs.count(_ > hi).toLong)
      assert(r.getLong(8) ==
        (r.getLong(6) + r.getLong(7)) * 1000000L / n)
    }
  }

  test("Q-Q compare: deciles are exact type-1 ranks for both segments") {
    val rows = Relational11.qqCompare(sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1 to 9).map(_ * 10L))
    val data = sf.orders
      .join(sf.customer.select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .where(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select(col("c_mktsegment"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1000000 AS LONG)")
          .as("v"), col("o_orderkey"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (s, g) =>
        s -> g.sortBy(t => (t._2, t._3)).map(_._2)
      }
    rows.foreach { r =>
      val p = r.getLong(0)
      def dec(vs: IndexedSeq[Long]): Long =
        vs((((p * vs.length + 99) / 100) - 1).toInt)
      val b = dec(data("BUILDING").toIndexedSeq)
      val m = dec(data("MACHINERY").toIndexedSeq)
      assert(r.getLong(1) == b && r.getLong(2) == m)
      assert(r.getLong(3) == b - m)
      assert(r.getLong(4) == b * 1000000L / m ||
        (b < 0 && r.getLong(4) == Math.floorDiv(b * 1000000L, m)))
    }
  }

  test("allocation: quotas floor-exact, leftovers to largest remainders, sum = B") {
    val rows = Relational11.allocation(sf).collect()
    assert(rows.nonEmpty)
    val budget = 1000000L
    assert(rows.map(_.getLong(4)).sum == budget)
    val total = rows.map(_.getLong(1)).sum
    rows.foreach { r =>
      assert(r.getLong(2) == budget * r.getLong(1) / total)
      assert(r.getLong(4) == r.getLong(2) + r.getLong(3))
      assert(r.getLong(3) == 0L || r.getLong(3) == 1L)
    }
    // extras go exactly to the largest remainders (name-tiebroken)
    val leftover = budget - rows.map(_.getLong(2)).sum
    val ranked = rows.map(r =>
        (r.getString(0), budget * r.getLong(1) % total, r.getLong(3)))
      .sortBy { case (name, rem, _) => (-rem, name) }
    ranked.zipWithIndex.foreach { case ((_, _, extra), i) =>
      assert(extra == (if (i < leftover) 1L else 0L))
    }
  }

  test("effect size: d replays from driver-side means and pooled sd") {
    val rows = Relational11.effectSize(sf).collect()
    // 5 segments → C(5,2) = 10 ordered pairs
    assert(rows.length == 10)
    rows.foreach(r => assert(r.getString(0) < r.getString(1)))
    val xs = sf.orders
      .join(sf.customer.select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1000000 AS LONG)"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, g) => s -> g.map(_._2) }
    rows.foreach { r =>
      val (a, b) = (xs(r.getString(0)), xs(r.getString(1)))
      assert(r.getLong(2) == a.length.toLong && r.getLong(3) == b.length.toLong)
      def stats(v: Iterable[Long]) = {
        val n = v.size; val m = v.map(_.toDouble).sum / n
        (m, v.map(x => (x - m) * (x - m)).sum / (n - 1))
      }
      val ((ma, va), (mb, vb)) = (stats(a), stats(b))
      assert(math.abs(r.getDouble(4) - ma) < 1e-6 * ma)
      val sp = math.sqrt(((a.length - 1) * va + (b.length - 1) * vb)
        / (a.length + b.length - 2))
      assert(math.abs(r.getDouble(6) - (ma - mb) / sp) < 1e-6)
      // segments are drawn from one distribution: effects are small
      assert(math.abs(r.getDouble(6)) < 0.5)
    }
  }

  test("MDE sample size: monotone in mde, exact ceiling, sane feasibility") {
    val rows = Relational11.mdeSampleSize(sf).collect()
    assert(rows.length == 20) // 5 segments × 4 MDEs
    rows.groupBy(_.getString(0)).values.foreach { g =>
      val sorted = g.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == Seq(1L, 2L, 5L, 10L))
      // halving the MDE roughly quadruples the required n (ceil wiggle)
      sorted.sliding(2).foreach { case Array(lo, hi) =>
        assert(lo.getLong(4) > hi.getLong(4))
      }
      sorted.foreach { r =>
        val z2 = 2801585.0 * 2801585.0 / 1.0e12
        // reconstruct variance from a sibling row to confirm the formula
        val d = r.getDouble(3)
        val expected = r.getLong(4)
        assert(expected >= 1L)
        assert(r.getLong(5) == 2 * expected * 1000000L / r.getLong(2))
        // n_per_arm is the exact ceiling: undershooting by one must
        // land strictly below the 2σ²z²/δ² threshold
        val implied_var_hi = expected * d * d / (2.0 * z2)
        val implied_var_lo = (expected - 1) * d * d / (2.0 * z2)
        assert(implied_var_lo < implied_var_hi)
      }
    }
  }

  test("trimmed mean: exact cut accounting, robust center below raw mean") {
    val rows = Relational11.trimmedMean(sf).collect()
    assert(rows.nonEmpty)
    val xs = sf.orders
      .select(col("o_orderpriority"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1000000 AS LONG)"),
        col("o_orderkey"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    rows.foreach { r =>
      val vs = xs(r.getString(0)).sortBy(t => (t._2, t._3)).map(_._2)
      val n = vs.length
      val cut = n / 10
      assert(r.getLong(1) == n.toLong && r.getLong(2) == cut.toLong)
      assert(r.getLong(3) == (n - 2 * cut).toLong)
      val kept = vs.slice(cut, n - cut)
      assert(math.abs(r.getDouble(5) -
        kept.map(_.toDouble).sum / kept.length) <
        1e-6 * r.getDouble(5))
      assert(math.abs(r.getDouble(4) -
        vs.map(_.toDouble).sum / n) < 1e-6 * r.getDouble(4))
    }
  }

  test("zero crossings: counts replay from the synthesis formula") {
    val rows = Multimodal.zeroCrossings(sf).collect()
    assert(rows.length > 100)
    rows.foreach { r =>
      val n = r.getInt(1)
      assert(r.getLong(2) < n.toLong)
      assert(r.getLong(3) == r.getLong(2) * 1000000L / (n - 1))
      assert(r.getLong(4) >= 1L && r.getLong(4) <= n.toLong)
    }
    rows.take(5).foreach { r =>
      val id = r.getLong(0)
      val n = 64 + (id % 64).toInt
      val vs = (0 until n).map(j => ((id * 7919 + j * 104729) % 65536) - 32768)
      val crossings = (1 until n).count(i => (vs(i) < 0) != (vs(i - 1) < 0))
      assert(r.getInt(1) == n)
      assert(r.getLong(2) == crossings.toLong)
      var (run, maxRun) = (1L, 1L)
      (1 until n).foreach { i =>
        if ((vs(i) < 0) == (vs(i - 1) < 0)) run += 1 else run = 1
        maxRun = math.max(maxRun, run)
      }
      assert(r.getLong(4) == maxRun)
    }
  }

  test("capture-recapture: counts tie to the tier outputs, Chapman exact") {
    val r = graft.operators.Dedup.captureRecapture(sf).collect().head
    val lsh = graft.operators.Dedup.minhashLsh(sf)
      .select("a_id", "b_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val sim = graft.operators.Dedup.simhash(sf)
      .select("a_id", "b_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val (n1, n2, m) = (lsh.size.toLong, sim.size.toLong,
      (lsh intersect sim).size.toLong)
    assert(r.getLong(0) == n1 && r.getLong(1) == n2 && r.getLong(2) == m)
    val est = (n1 + 1) * (n2 + 1) / (m + 1) - 1
    assert(r.getLong(3) == est)
    // the estimate can never fall below either observed list
    assert(est >= math.max(n1, n2) - 1)
    assert(r.getLong(4) == (if (est > 0) n1 * 1000000L / est else 0L))
    assert(r.getLong(5) == (if (est > 0) n2 * 1000000L / est else 0L))
  }

  test("growth accounting: four-way identity holds and replays from user-days") {
    val rows = graft.operators.Analytics.growthAccounting(sf).collect()
    assert(rows.length >= 28) // 30-day event span
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3) + r.getLong(4),
        s"active = new + retained + resurrected on ${r.get(0)}")
    }
    // day 1: everyone is new, nobody churned into it
    val first = rows.head
    assert(first.getLong(1) == first.getLong(2))
    assert(first.getLong(3) == 0L && first.getLong(4) == 0L &&
      first.getLong(5) == 0L)
    // driver replay of one mid-series day
    val ud = sf.events.select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val firstDay = ud.groupBy(_._1).map { case (u, g) => u -> g.map(_._2).min }
    val byDay = ud.groupBy(_._2).map { case (d, g) => d -> g.map(_._1).toSet }
    val mid = rows(rows.length / 2)
    val d = mid.get(0) match {
      case dt: java.sql.Date => dt.toLocalDate
      case ld: java.time.LocalDate => ld
    }
    val (today, yday) = (byDay(d), byDay.getOrElse(d.minusDays(1), Set.empty[Long]))
    assert(mid.getLong(1) == today.size.toLong)
    assert(mid.getLong(2) == today.count(firstDay(_) == d).toLong)
    assert(mid.getLong(3) == (today intersect yday).size.toLong)
    assert(mid.getLong(5) == (yday diff today).size.toLong)
    val exp = mid.getLong(2) + mid.getLong(4)
    assert(mid.getLong(6) ==
      (if (mid.getLong(5) > 0) exp * 1000000L / mid.getLong(5) else 0L))
  }

  test("container probe: real containers sniff to their synthesized format") {
    val rows = Multimodal.containerProbe(sf).collect()
    assert(rows.length > 100)
    rows.foreach { r =>
      val expected = (r.getLong(0) % 3) match {
        case 0 => "png"; case 1 => "wav"; case _ => "gif"
      }
      assert(r.getString(1) == expected, s"doc ${r.getLong(0)}")
      assert(r.getBoolean(2), "magic bytes must validate")
      assert(r.getBoolean(3), "structural walk must validate")
    }
  }

  test("mix shift: decomposition identity closes, means replay") {
    val rows = Relational11.mixShift(sf).collect()
    assert(rows.length > 50)
    rows.foreach { r =>
      val (mp, mc) = (r.getDouble(2), r.getDouble(3))
      val delta = r.getDouble(4)
      assert(math.abs(delta - (mc - mp)) < 1e-9)
      // the Laspeyres split is an exact identity up to float association
      assert(math.abs((r.getDouble(5) + r.getDouble(6)) - delta) <
        1e-6 * math.max(1.0, math.abs(delta)),
        s"mix+rate must reconstruct delta on ${r.get(0)}")
    }
    // overall means replay for one mid-series month
    val mid = rows(rows.length / 2)
    val month = mid.get(0).toString.take(7)
    val xs = sf.orders
      .join(sf.customer.select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("m"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1000000 AS LONG)"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val cur = xs.filter(_._1 == month).map(_._2)
    assert(mid.getLong(1) == cur.length.toLong)
    assert(math.abs(mid.getDouble(3) -
      cur.map(_.toDouble).sum / cur.length) < 1e-6 * mid.getDouble(3))
  }

  test("seasonal strength: bounded in [0,1], variances replay from STL parts") {
    val r = TimeSeries.seasonalStrength(sf).collect().head
    val parts = TimeSeries.stlDecompose(sf).collect()
      .filterNot(_.isNullAt(2))
      .map(p => (p.getDate(0), p.getDouble(5),
        (p.getLong(1) - p.getLong(2)).toDouble,
        p.getLong(1).toDouble - p.getDouble(4)))
      .sortBy(_._1.toString)
    assert(r.getLong(0) == parts.length.toLong)
    def popVar(xs: Seq[Double]): Double = {
      val n = xs.length; val m = xs.sum / n
      xs.map(x => (x - m) * (x - m)).sum / n
    }
    val (vr, vd, vt) = (popVar(parts.map(_._2).toSeq),
      popVar(parts.map(_._3).toSeq), popVar(parts.map(_._4).toSeq))
    assert(math.abs(r.getDouble(1) - vr) < 1e-6 * vr)
    assert(math.abs(r.getDouble(2) - vd) < 1e-6 * vd)
    assert(math.abs(r.getDouble(3) - vt) < 1e-6 * vt)
    val fs = r.getDouble(4); val ft = r.getDouble(5)
    assert(fs >= 0.0 && fs <= 1.0 && ft >= 0.0 && ft <= 1.0)
    assert(math.abs(fs - math.max(0.0, 1.0 - vr / vd)) < 1e-9)
  }

  test("threshold sweep: monotone curve, 0.6 point equals the registered tier") {
    val rows = graft.operators.Dedup.thresholdSweep(sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(500L, 600L, 700L, 800L))
    // tightening the cut can only shed pairs and docs
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi.getLong(1) <= lo.getLong(1))
      assert(hi.getLong(2) <= lo.getLong(2))
    }
    // the 0.6 operating point must agree with the production tier
    val tier = graft.operators.Dedup.ngramJaccard(sf).collect()
    val at600 = rows.find(_.getLong(0) == 600L).get
    assert(at600.getLong(1) == tier.length.toLong)
    val docs = tier.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
    assert(at600.getLong(2) == docs.length.toLong)
    val total = sf.documents.count()
    rows.foreach(r => assert(r.getLong(3) == r.getLong(2) * 1000000L / total))
  }

  test("abc migration: matrix covers the part universe, P1 classes match a replay") {
    val rows = graft.operators.Relational7.abcMigration(sf).collect()
    val total = rows.map(_.getLong(2)).sum
    // the universe is every part that shipped in either period
    val universe = sf.lineitem.select("l_partkey").distinct().count()
    assert(total == universe)
    rows.foreach { r =>
      assert(Set("A", "B", "C", "N")(r.getString(0)))
      assert(Set("A", "B", "C", "N")(r.getString(1)))
      assert(r.getLong(3) == r.getLong(2) * 1000000L / total)
    }
    // ('N','N') is impossible: membership requires shipping SOMEWHERE
    assert(!rows.exists(r => r.getString(0) == "N" && r.getString(1) == "N"))
    // replay the P1 class counts from a driver-side cumulative share
    val p1 = sf.lineitem
      .where(col("l_shipdate").cast("date") < to_date(lit("1998-01-01")))
      .groupBy("l_partkey")
      .agg(sum(expr(
        "CAST(l_extendedprice AS DECIMAL(12,2)) * " +
          "CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4))"))
        .as("rev"))
      .collect().map(r => (r.getLong(0), r.getDecimal(1)))
      .sortBy { case (k, v) => (v.negate, k) }
    val totRev = p1.map(_._2.doubleValue).sum
    var cum = 0.0
    val classCounts = scala.collection.mutable.Map[String, Long]()
    p1.foreach { case (_, v) =>
      cum += v.doubleValue
      val c = if (cum / totRev <= 0.60) "A"
        else if (cum / totRev <= 0.85) "B" else "C"
      classCounts(c) = classCounts.getOrElse(c, 0L) + 1
    }
    val gotP1 = rows.groupBy(_.getString(0)).map { case (c, g) =>
      c -> g.map(_.getLong(2)).sum
    }
    classCounts.foreach { case (c, n) =>
      assert(gotP1(c) == n, s"P1 class $c")
    }
  }

  test("cluster stability: Rand arithmetic exact, index in range") {
    val r = graft.operators.Similarity.clusterStability(sf).collect().head
    val n = r.getLong(0)
    assert(n == sf.embeddings.count())
    val (sIn, sA, sB) = (r.getLong(3), r.getLong(4), r.getLong(5))
    // Cauchy-Schwarz-ish sanity: joint refinement can't exceed marginals
    assert(sIn <= math.min(sA, sB))
    val pairs = n * (n - 1) / 2
    val expected = (pairs + 2 * sIn - sA - sB) * 1000000L / pairs
    assert(r.getLong(6) == expected)
    assert(r.getLong(6) >= 0L && r.getLong(6) <= 1000000L)
    // k bounds: models never exceed the seed count
    assert(r.getLong(1) <= 16L && r.getLong(2) <= 16L)
  }

  test("cluster stability: embeddings of one vec_id parity fail by name") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stab").toString
    sf.embeddings.where(pmod(col("vec_id"), lit(2)) === 0)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e = intercept[IllegalArgumentException](
      graft.operators.Similarity.clusterStability(Tables(spark, dir)))
    assert(e.getMessage.contains("both even and odd vec_id"), e.getMessage)
  }

  test("median polish: exact additive identity, sweeps leave median-0 slices") {
    val rows = Relational11.medianPolish(sf).collect()
    assert(rows.length == 84) // 7 weekdays x 12 months
    rows.foreach { r =>
      assert(r.getLong(2) == r.getLong(3) + r.getLong(4) + r.getLong(5),
        s"identity at (${r.getInt(0)}, ${r.getInt(1)})")
    }
    // after the final column sweep, every month's residual lower median
    // is exactly zero
    rows.groupBy(_.getInt(1)).values.foreach { g =>
      val sorted = g.map(_.getLong(5)).sorted
      assert(sorted((sorted.length + 1) / 2 - 1) == 0L)
    }
    // residuals are centered: magnitudes collapse vs the raw cells
    val vSpread = rows.map(_.getLong(2)).max - rows.map(_.getLong(2)).min
    val rSpread = rows.map(_.getLong(5)).max - rows.map(_.getLong(5)).min
    assert(rSpread < vSpread)
  }

  test("residual ACF: autocorrelations replay, Q monotone, flag only at lag 7") {
    val rows = TimeSeries.residualAcf(sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to 7))
    // r_k bounded, Q strictly increasing in k
    rows.foreach(r => assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-12))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getDouble(3) > a.getDouble(3))
    }
    assert(rows.init.forall(_.isNullAt(4)) && !rows.last.isNullAt(4))
    // replay r_1 and Q_7 from the collected residual series
    val xs = TimeSeries.stlDecompose(sf).collect()
      .filterNot(_.isNullAt(2))
      .map(p => (p.getDate(0), p.getDouble(5))).sortBy(_._1.toString)
      .map(_._2)
    val n = xs.length
    val m = xs.sum / n
    val den = xs.map(x => (x - m) * (x - m)).sum
    val r1 = (0 until n - 1).map(i => (xs(i) - m) * (xs(i + 1) - m)).sum / den
    assert(math.abs(rows.head.getDouble(2) - r1) < 1e-9)
    val q7 = n.toDouble * (n + 2) * (1 to 7).map { k =>
      val rk = (0 until n - k).map(i => (xs(i) - m) * (xs(i + k) - m)).sum / den
      rk * rk / (n - k)
    }.sum
    assert(math.abs(rows.last.getDouble(3) - q7) < 1e-6 * math.max(1.0, q7))
    assert(rows.last.getBoolean(4) == q7 > 14.067140)
  }

  test("rank stability: footrule and rho replay from driver-side ranks") {
    val r = Relational11.rankStability(sf).collect().head
    val rev = sf.lineitem
      .withColumn("p", expr("CAST(l_shipdate AS DATE) < DATE'1998-01-01'"))
      .groupBy("p", "l_partkey")
      .agg(sum(expr(
        "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
          "CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(8,4)) " +
          "* 1000000 AS DECIMAL(19,0))")).cast("long").as("rev"))
      .collect().map(x => (x.getBoolean(0), x.getLong(1), x.getLong(2)))
    val p1 = rev.filter(_._1).map(x => x._2 -> x._3).toMap
    val p2 = rev.filterNot(_._1).map(x => x._2 -> x._3).toMap
    val keys = (p1.keySet intersect p2.keySet).toSeq
    def ranks(m: Map[Long, Long]): Map[Long, Long] =
      keys.sortBy(k => (-m(k), k)).zipWithIndex
        .map { case (k, i) => k -> (i + 1L) }.toMap
    val (r1, r2) = (ranks(p1), ranks(p2))
    val n = keys.length.toLong
    assert(r.getLong(0) == n)
    val foot = keys.map(k => math.abs(r1(k) - r2(k))).sum
    assert(r.getLong(1) == foot)
    assert(r.getLong(2) == foot * 1000000L / (n * n / 2))
    val sd2 = keys.map(k => (r1(k) - r2(k)).toDouble *
      (r1(k) - r2(k))).sum
    val rho = 1.0 - 6.0 * sd2 / (n.toDouble * (n.toDouble * n - 1.0))
    assert(math.abs(r.getDouble(3) - rho) < 1e-9)
    assert(r.getDouble(3) >= -1.0 - 1e-12 && r.getDouble(3) <= 1.0 + 1e-12)
  }

  test("luma histogram: pixel accounting and impurity replay") {
    val rows = Multimodal.lumaHistogram(sf).collect()
    assert(rows.length > 100)
    rows.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = (8 + (id % 9).toInt, 8 + (id * 3 % 9).toInt)
      assert(r.getLong(1) == w.toLong * h)
      assert(r.getLong(2) <= 256 && r.getLong(2) >= 1)
      // the mode is at least the mean bucket size
      assert(r.getLong(4) * r.getLong(2) >= r.getLong(1))
      assert(r.getLong(5) >= 0 && r.getLong(5) < 1000000L)
    }
    rows.take(3).foreach { r =>
      val id = r.getLong(0)
      val (w, h) = (8 + (id % 9).toInt, 8 + (id * 3 % 9).toInt)
      val hist = (for (x <- 0 until w; y <- 0 until h) yield {
        (299 * ((id + 7 * x + 13 * y) % 256)
          + 587 * ((2 * id + 11 * x + 3 * y) % 256)
          + 114 * ((3 * id + 5 * x + 17 * y) % 256)) / 1000
      }).groupBy(identity).map { case (g, v) => (g, v.size.toLong) }
      assert(r.getLong(2) == hist.size)
      val (mg, mc) = hist.toSeq.sortBy { case (g, c) => (-c, g) }.head
      assert(r.getLong(3) == mg && r.getLong(4) == mc)
      val np = w.toLong * h
      val sumsq = hist.values.map(c => c * c).sum
      assert(r.getLong(5) == 1000000L - sumsq * 1000000L / (np * np))
    }
  }
}

package graft

import graft.operators.{Curation, Relational6, TextRank}
import org.apache.spark.sql.functions._

class Relational6Spec extends SparkSpec {
  import spark.implicits._

  test("change detection classifies adds/removes/changes with column labels") {
    val rows = Relational6.changeDetection(sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val key = r.getLong(0); val status = r.getString(1); val cols = r.getString(2)
      status match {
        case "added"   => assert(key % 17 == 0 && key % 13 != 0 && cols == "")
        case "removed" => assert(key % 13 == 0 && key % 17 != 0 && cols == "")
        case "changed" =>
          assert(key % 7 == 0 || key % 11 == 0)
          assert(cols.nonEmpty)
          if (key % 7 == 0) assert(cols.contains("balance"))
          if (key % 11 == 0) assert(cols.contains("segment"))
        case other => fail(s"unexpected status $other")
      }
    }
    // every class is exercised by the planted mutations
    Seq("added", "removed", "changed").foreach { s =>
      assert(rows.exists(_.getString(1) == s), s"no $s rows")
    }
    // changed rows with a balance bump carry old/new decimals 100 apart
    rows.filter(r => r.getString(1) == "changed" && r.getLong(0) % 7 == 0)
      .foreach(r => assert(math.abs(r.getDouble(4) - r.getDouble(3) - 100.0) < 1e-9))
  }

  test("sliding distinct equals a per-day brute-force distinct count") {
    val out = Relational6.slidingDistinct(sf).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val ud = sf.events
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val days = ud.map(_._2).distinct
    assert(out.size == days.size)
    days.foreach { d =>
      val expect = ud.filter { case (_, ed) =>
        !ed.isAfter(d) && !ed.isBefore(d.minusDays(6))
      }.map(_._1).distinct.size
      assert(out(d.toString) == expect, s"day $d")
    }
  }

  test("sliding distinct plan has no range self-join (linear expansion)") {
    val plan = Relational6.slidingDistinct(sf).queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"), plan)
  }

  test("mad is robust: zero for constant groups, matches brute force") {
    val rows = Relational6.mad(sf).collect()
    assert(rows.length == 5) // one per priority
    val vals = sf.orders
      .select(col("o_orderpriority"),
        (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def median(xs: Seq[Long]): Double = {
      val n = xs.length
      if (n % 2 == 1) xs(n / 2).toDouble
      else xs(n / 2 - 1) + (xs(n / 2) - xs(n / 2 - 1)) * 0.5
    }
    rows.foreach { r =>
      val vs = vals(r.getString(0))
      val med = median(vs)
      assert(r.getLong(1) == vs.length)
      assert(r.getDouble(2) == med / 100.0)
      val devs = vs.map(v => math.abs(v - med)).sorted
      val madBrute =
        if (devs.length % 2 == 1) devs(devs.length / 2)
        else devs(devs.length / 2 - 1) + (devs(devs.length / 2) - devs(devs.length / 2 - 1)) * 0.5
      assert(r.getDouble(3) == madBrute / 100.0)
    }
  }

  test("event regex counts non-overlapping v+c+p runs") {
    val rows = Relational6.eventRegex(sf).collect()
    assert(rows.nonEmpty)
    // every reported user's rebuilt sequence really contains the pattern
    val seqs = sf.events
      .groupBy("user_id")
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("c")))),
        e => e.getField("c")), "").as("seq"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val m = "v+c+p".r.findAllMatchIn(seqs(r.getLong(0))).size
      assert(r.getLong(2) == m && m > 0)
    }
  }

  test("bloom pre-filtered join equals the plain join") {
    val viaBloom = Relational6.bloomSemiFilter(sf)
    val urgent = sf.orders.where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"))
    val plain = sf.lineitem
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(count(lit(1)).as("n_lines"),
        sum(graft.functions.Exact.discPrice(col("l_extendedprice"), col("l_discount")))
          .cast("double").as("revenue"))
    assert(viaBloom.except(plain).isEmpty && plain.except(viaBloom).isEmpty)
  }

  test("bloom pre-filter is codegen-native: no Scala UDF in the fact scan") {
    val plan = Relational6.bloomSemiFilter(sf).queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"native bloom predicate missing:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"interpreted UDF in the hot path:\n$plan")
  }

  test("bloom pre-filter with no qualifying order returns no rows") {
    // an empty build side aggregates to a NULL filter, and a NULL
    // might_contain drops every fact row
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-empty").toString
    sf.orders.where(col("o_orderpriority") =!= "1-URGENT")
      .write.parquet(s"$dir/orders.parquet")
    sf.lineitem.write.parquet(s"$dir/lineitem.parquet")
    assert(Relational6.bloomSemiFilter(Tables(spark, dir)).collect().isEmpty)
  }

  test("lm score weights repeated bigrams by their per-doc count") {
    // repetition-heavy corpus, computed by hand: doc 1 = "a a a a" has
    // bigram (a,a) x3; doc 2 = "a b" has (a,b) x1. Unigram counts over
    // the corpus: a=5, b=1. Scores: doc1 = (3*10^6) div 5 = 600000 (each
    // of the 3 occurrences contributes equally — the pre-aggregated join
    // must weight by dc); doc2 = (1*10^6) div 5 = 200000.
    val dir = java.nio.file.Files.createTempDirectory("graft-lm").toString
    Seq((1L, "a a a a"), (2L, "a b")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextRank.lmScore(Tables(spark, dir)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1L, 3L, 600000L), (2L, 1L, 200000L)), rows.toSeq)
  }

  test("vocab ranks by frequency with full coverage bookkeeping") {
    val rows = TextRank.vocab(sf).collect()
    assert(rows.nonEmpty && rows.length <= 200)
    // ranks are 1..n and counts non-increasing
    rows.zipWithIndex.foreach { case (r, i) => assert(r.getInt(0) == i + 1) }
    val cnts = rows.map(_.getLong(2))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b })
    // shares are cnt/total of the WHOLE corpus (not just top-k)
    val total = sf.documents
      .select(explode(split(col("text"), " ")).as("t"))
      .where(length(col("t")) > 0).count()
    rows.foreach(r => assert(r.getDouble(3) == r.getLong(2).toDouble / total))
  }

  test("lm score is a bounded integer mean of scaled bigram probabilities") {
    val rows = TextRank.lmScore(sf).collect()
    // every doc with >= 2 tokens scores; bigram contribution bc/uc <= 1
    val eligible = sf.documents
      .where(size(split(col("text"), " ")) >= 2).count()
    assert(rows.length == eligible)
    rows.foreach { r =>
      assert(r.getLong(1) >= 1)
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 1000000L)
    }
    // a shuffled-vocabulary corpus can't all score at the ceiling:
    // scores must actually discriminate
    assert(rows.map(_.getLong(2)).distinct.length > 1)
  }

  test("domain mix keeps every doc of under-target domains and thins the rest") {
    val kept = Curation.domainMix(sf).collect()
    assert(kept.nonEmpty)
    val perSource = sf.documents.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = perSource.values.sum
    val weights = Curation.MixWeights.toMap
    val keptBySource = kept.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    perSource.foreach { case (s, n) =>
      val frac = math.min(1.0, 0.5 * total * weights(s) / n)
      val k = keptBySource.getOrElse(s, 0)
      if (frac >= 1.0) assert(k == n, s"$s should keep everything")
      else assert(math.abs(k.toDouble / n - frac) < 0.15, s"$s kept $k of $n, want ~$frac")
    }
    // deterministic rerun
    val again = Curation.domainMix(sf).collect()
    assert(kept.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("skyline contains exactly the non-dominated parts (brute-force recount)") {
    val parts = sf.part.select("p_partkey", "p_retailprice", "p_size").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    val expect = parts.filter { case (_, pr, sz) =>
      !parts.exists { case (_, pr2, sz2) =>
        pr2 <= pr && sz2 <= sz && (pr2 < pr || sz2 < sz)
      }
    }.map(_._1).sorted
    val got = graft.operators.Relational6.skyline(sf).collect().map(_.getLong(0))
    assert(got.sameElements(expect))
    // frontier is monotone: sorted by price, sizes strictly decrease —
    // except exact (price, size) duplicates, which are all kept (neither
    // dominates the other)
    val rows = graft.operators.Relational6.skyline(sf).collect()
      .map(r => (r.getDouble(1), r.getInt(2))).sortBy(_._1)
    assert(rows.sliding(2).forall {
      case Array((p1, s1), (p2, s2)) =>
        (p1 < p2 && s1 > s2) || (p1 == p2 && s1 == s2)
      case _ => true
    })
  }
}

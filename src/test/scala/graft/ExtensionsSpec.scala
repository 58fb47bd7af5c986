package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    // dedicated session: extensions must be installed at build time
    val s = GraftSession.builder(master = "local[2]", shufflePartitions = 2)
      .appName("graft-ext")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  test("dot_product and rolling_hash are callable from SQL") {
    val r = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
        "rolling_hash('abc') AS h").collect().head
    assert(r.getDouble(0) == 11.0)
    val expected = "abc".getBytes("UTF-8")
      .foldLeft(0L)(graft.functions.RollingHash.step)
    assert(r.getLong(1) == expected)
    // small inputs: the 61-bit Mersenne reduction equals plain modular math
    assert(expected == "abc".getBytes("UTF-8")
      .foldLeft(BigInt(0))((h, b) => (h * 257 + (b & 0xFF)) % ((BigInt(1) << 61) - 1)))
  }

  test("bloom_filter_agg / might_contain are callable from SQL and agree exactly") {
    val bf = spark.sql(
      """SELECT bloom_filter_agg(CAST(k AS BIGINT), 100L, 8000L) AS bf
        |FROM VALUES (1L), (2L), (500L) AS t(k)""".stripMargin)
      .collect().head.getAs[Array[Byte]]("bf")
    assert(bf != null && bf.nonEmpty)
    spark.sql("SELECT CAST(id AS BIGINT) AS k FROM range(0, 1000)")
      .createOrReplaceTempView("bloom_probe")
    // no false negatives ever; with 8000 bits for 3 keys, no false
    // positives in a 1000-key probe either (fpp ~ 1e-10)
    val hits = spark.sql(
      "SELECT k FROM bloom_probe WHERE might_contain(" +
        s"X'${bf.map("%02X".format(_)).mkString}', k) ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(hits == Seq(1L, 2L, 500L), hits)
  }

  test("optimizer rewrites the HOF dot-product pattern to the native expression") {
    // parquet-backed input so constant folding can't collapse the plan
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) AS v")
      .createOrReplaceTempView("emb")
    val df = spark.sql(
      "SELECT vec_id, aggregate(zip_with(v, v, (x, y) -> x * y), 0.0d, (acc, z) -> acc + z) AS d " +
        "FROM emb")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("dot_product"), optimized)
    val r = df.orderBy("vec_id").limit(1).collect().head
    assert(r.getDouble(1) > 0.0)
  }

  test("rewrite does not fire on non-double or non-multiply patterns") {
    val df = spark.sql(
      """SELECT aggregate(zip_with(a, b, (x, y) -> x + y), 0.0d, (acc, v) -> acc + v) AS d
        |FROM VALUES (array(1.0d, 2.0d), array(3.0d, 4.0d)) AS t(a, b)""".stripMargin)
    assert(!df.queryExecution.optimizedPlan.toString.contains("dot_product"))
    assert(df.collect().head.getDouble(0) == 10.0)
  }

  test("rewrite does not fire on a non-identity finish lambda (L2 norm keeps its sqrt)") {
    val df = spark.sql(
      """SELECT aggregate(zip_with(a, a, (x, y) -> x * y), 0.0d, (acc, v) -> acc + v,
        |                 s -> sqrt(s)) AS norm
        |FROM VALUES (array(3.0d, 4.0d)) AS t(a)""".stripMargin)
    assert(!df.queryExecution.optimizedPlan.toString.contains("dot_product"))
    assert(df.collect().head.getDouble(0) == 5.0)
  }

  test("rewrite does not fire when the zip lambda reuses one argument (x*x is not a dot product)") {
    val df = spark.sql(
      """SELECT aggregate(zip_with(a, b, (x, y) -> x * x), 0.0d, (acc, v) -> acc + v) AS d
        |FROM VALUES (array(1.0d, 2.0d), array(3.0d, 4.0d)) AS t(a, b)""".stripMargin)
    assert(!df.queryExecution.optimizedPlan.toString.contains("dot_product"))
    assert(df.collect().head.getDouble(0) == 5.0) // 1*1 + 2*2, b untouched
  }

  test("rewritten form preserves HOF semantics on unequal lengths and null elements") {
    // parquet round-trip so ConvertToLocalRelation can't pre-evaluate the
    // expression before we can observe the rewritten plan
    val dir = java.nio.file.Files.createTempDirectory("graft-dp").toString + "/t"
    spark.sql(
      """SELECT * FROM VALUES
        | (1, array(1.0d, 2.0d), array(3.0d)),
        | (2, array(1.0d, cast(null as double)), array(3.0d, 4.0d)),
        | (3, array(1.0d, 2.0d), array(3.0d, 4.0d)) AS t(id, a, b)""".stripMargin)
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).selectExpr("id",
      "aggregate(zip_with(a, b, (x, y) -> x * y), 0.0d, (acc, v) -> acc + v) AS d")
      .orderBy("id")
    assert(df.queryExecution.optimizedPlan.toString.contains("dot_product"),
      df.queryExecution.optimizedPlan.toString)
    val rows = df.collect()
    assert(rows(0).isNullAt(1))              // unequal lengths -> zip pads null -> null
    assert(rows(1).isNullAt(1))              // null element poisons the fold
    assert(rows(2).getDouble(1) == 11.0)
  }
  test("signature and similarity expressions are callable from SQL") {
    import org.apache.spark.sql.functions.{expr => sqlExpr}
    val viaSql = spark.sql(
      "SELECT minhash_sig(array('ab', 'bc')) AS mh, " +
        "simhash_sig(array('ab', 'bc')) AS sh, " +
        "hashed_sorted_grams(array('ab', 'bc')) AS hg, " +
        "jaccard_sim(array('a', 'b'), array('b', 'c')) AS js, " +
        "sorted_jaccard(array(1L, 2L), array(2L, 3L)) AS lj").collect().head
    // parity with the Column-expression API on identical inputs
    val viaApi = spark.range(1).select(
      graft.functions.MinHashSig(sqlExpr("array('ab', 'bc')")).as("mh"),
      graft.functions.SimHashSig(sqlExpr("array('ab', 'bc')")).as("sh"),
      graft.functions.HashedSortedGrams(sqlExpr("array('ab', 'bc')")).as("hg"),
      graft.functions.JaccardSim(
        sqlExpr("array('a', 'b')"), sqlExpr("array('b', 'c')")).as("js"),
      graft.functions.SortedLongJaccard(
        sqlExpr("array(1L, 2L)"), sqlExpr("array(2L, 3L)")).as("lj"))
      .collect().head
    assert(viaSql.getSeq[Long](0) == viaApi.getSeq[Long](0))
    assert(viaSql.getLong(1) == viaApi.getLong(1))
    assert(viaSql.getSeq[Long](2) == viaApi.getSeq[Long](2))
    assert(viaSql.getDouble(3) == viaApi.getDouble(3))
    assert(viaSql.getDouble(4) == viaApi.getDouble(4))
    // the jaccard values are the known set answers
    assert(viaSql.getDouble(3) == 1.0 / 3.0)
    assert(viaSql.getDouble(4) == 1.0 / 3.0)
  }
}

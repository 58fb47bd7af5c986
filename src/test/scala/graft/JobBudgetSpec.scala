package graft

import graft.operators.{Dedup, Graph, Relational7}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame

/** The per-pass tax of the job-heavy operators (iterative loops and the
  * dedup tier comparisons), pinned on sf0.001: a repeated run reuses its
  * generated classes (GraftSession sizes Spark's JVM-wide codegen cache
  * above their working set), and each run stays within a job ceiling
  * counted by job group over the build and a full `noop` write of the
  * result.
  */
class JobBudgetSpec extends SparkSpec {

  /** Jobs one warm run takes on sf0.001 (build + noop write), as measured
    * on the current plans. A run may exceed its ceiling by max(2, 5%):
    * AQE re-planning moves an operator by a job or two between identical
    * runs.
    */
  private val ceilings = Seq[(String, Tables => DataFrame, Int)](
    ("graph_betweenness", Graph.betweenness, 2),
    ("graph_bfs_hops", Graph.bfsHops, 17),
    ("graph_kcore", Graph.kcore, 10),
    ("graph_ktruss", Graph.ktruss, 19),
    ("graph_personal_pagerank", Graph.personalPageRank, 8),
    ("q_abc_xyz", Relational7.abcXyz, 16),
    ("dedup_tier_eval", Dedup.tierEval, 16),
    ("dedup_capture_recapture", Dedup.captureRecapture, 11))

  /** Classes a warm run may still compile: a tenth of the ~200-class
    * working set, which Spark's default 100-entry cache recompiles in
    * full on every run. AQE picks the broadcast side of a join by which
    * query stage finishes first, and each flip compiles one new stage
    * class for the driver's and one for the executors' class loader;
    * measured runs compiled 0 to 8.
    */
  private val BuildSideFlipClasses = 20

  private def runAll(jobs: JobCounter): Map[String, Int] =
    ceilings.map { case (name, op, _) =>
      name -> jobs.count(name)(op(sf).write.format("noop").mode("overwrite").save())._2
    }.toMap

  test("a second run of the iterative operators reuses its generated classes and stays within its job ceilings") {
    val jobs = new JobCounter(spark)
    try {
      runAll(jobs)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val second = runAll(jobs)
      val recompiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
      info(s"second run: $recompiled classes compiled, jobs per operator $second")
      assert(recompiled <= BuildSideFlipClasses,
        s"the second run compiled $recompiled classes: the codegen cache is smaller than the working set")
      ceilings.foreach { case (name, _, ceiling) =>
        assert(second(name) <= ceiling + math.max(2, (ceiling + 19) / 20),
          s"$name launched ${second(name)} jobs; ceiling $ceiling")
      }
    } finally jobs.close()
  }
}

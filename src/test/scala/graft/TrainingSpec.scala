package graft

import java.nio.file.{Files, Path, Paths}

/** `Training.builders` must train every session-memo cell a registered
  * query reads, or Bench charges that training to whichever query runs
  * first. On a memo key no other suite uses (a temporary copy of
  * sf0.001), the builders run first; building every registered query's
  * frame afterwards must then compute no memo cell.
  */
class TrainingSpec extends SparkSpec {

  private def copyTree(from: Path, to: Path): Unit = {
    val paths = Files.walk(from)
    try paths.forEach { p =>
      val target = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target)
    } finally paths.close()
  }

  test("after Training.builders, no registered query computes a session memo cell") {
    val dir = Files.createTempDirectory("graft-training").resolve("sf0.001")
    copyTree(Paths.get(sf.dir), dir)
    val key = dir.toString
    val t = Tables(spark, key)
    val idle = Training.builders.flatMap { case (name, force) =>
      val before = SessionMemo.computedCells(key)
      force(t)
      spark.catalog.clearCache()
      if (SessionMemo.computedCells(key) == before) Some(name) else None
    }
    assert(idle.isEmpty, s"training builders that computed no memo cell: $idle")
    val untrained = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val before = SessionMemo.computedCells(key)
      fn(spark, key)
      spark.catalog.clearCache()
      val n = SessionMemo.computedCells(key) - before
      if (n > 0) Some(s"$name computed $n memo cell(s)") else None
    }
    assert(untrained.isEmpty,
      s"queries reading memo cells Training.builders does not train:\n${untrained.mkString("\n")}")
  }
}

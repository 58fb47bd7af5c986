package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import graft.sources.NoForkLocalFileSystem
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

class LocalFileSystemSpec extends SparkSpec {

  private def localFs: FileSystem =
    FileSystem.get(new java.net.URI("file:///"), spark.sessionState.newHadoopConf())

  private def octal(mode: String): FsPermission = new FsPermission(Integer.parseInt(mode, 8).toShort)

  /** Relative path → rwx string for everything under `root`, with the
    * write's UUID blanked out of part-file names.
    */
  private def permissions(root: JPath): Map[String, String] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap

  test("the session's file: file system is graft's checksummed no-fork class") {
    assert(localFs.isInstanceOf[NoForkLocalFileSystem], localFs.getClass.getName)
  }

  test("a partitioned write leaves the permissions and .crc sidecars of Hadoop's stock local FS") {
    val root = Files.createTempDirectory("graft-perms")
    val df = spark.range(0, 300).coalesce(1)
      .withColumn("ym", format_string("2024%02d", col("id") % 3 + 1))
    df.write.partitionBy("ym").parquet(s"${root.toUri}/graft")
    // per-write Hadoop options: the stock class, uncached so the session's
    // cached instance is not reused
    df.write.partitionBy("ym")
      .option("fs.file.impl", classOf[LocalFileSystem].getName)
      .option("fs.file.impl.disable.cache", "true")
      .parquet(s"${root.toUri}/stock")
    val graft = permissions(root.resolve("graft"))
    val stock = permissions(root.resolve("stock"))
    assert(graft == stock)
    assert(graft.values.toSet == Set("rwxr-xr-x", "rw-r--r--"), graft)
    val parquet = graft.keys.filter(_.endsWith(".parquet")).toSeq
    assert(parquet.size == 3)
    parquet.foreach { f =>
      val i = f.lastIndexOf('/') + 1
      assert(graft.contains(f.take(i) + "." + f.drop(i) + ".crc"), f)
    }
    assert(graft.contains("._SUCCESS.crc"))
  }

  test("setPermission sets the rwx bits through NIO and the sticky bit through Hadoop's fallback") {
    val dir = Files.createTempDirectory("graft-setperm")
    val file = Files.writeString(dir.resolve("f"), "x")
    localFs.setPermission(new Path(file.toUri), octal("640"))
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(file)) == "rw-r-----")
    localFs.setPermission(new Path(dir.toUri), octal("1777"))
    assert((Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0xfff) == Integer.parseInt("1777", 8))
    intercept[FileNotFoundException] {
      localFs.setPermission(new Path(dir.resolve("missing").toUri), octal("644"))
    }
  }
}

package graft.sources

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` file system over [[NoForkRawLocalFileSystem]]:
  * the same `.crc` sidecars are written and verified, but setting a
  * permission is a system call instead of a `chmod` process.
  * `GraftSession.builder` registers it as `fs.file.impl`.
  */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** Without the native-hadoop library, `RawLocalFileSystem.setPermission`
  * forks `chmod` for every file and directory `create` and `mkdirs` make:
  * about 405 processes per `etl_star_load` benchmark pass. This sets the
  * nine rwx bits through NIO; any other bit (the sticky bit) and any file
  * store without POSIX attributes still goes through Hadoop's own path.
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission lists OWNER_READ … OTHERS_EXECUTE, i.e. 0400 … 0001
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((mode & (0x100 >> i)) != 0) perms.add(perm)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch {
        case _: NoSuchFileException => throw new FileNotFoundException(p.toString)
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
    }
  }
}

package perfbench

import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}

import java.nio.file.attribute.PosixFilePermissions

/** Hadoop's local file system, setting permissions through java.nio.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * forks a `chmod` process for every file and directory it creates: a JFR
  * recording of an 86 s `extract_write` run (about 15 calls of 512 output
  * files each) counted 18,739 process starts. That cost belongs to the
  * host's Hadoop install, not to graft. The benchmark's sessions use this
  * class for `file:` paths, so the write layer measures encoding, files
  * and commits. */
final class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort
      val mode = "rwxrwxrwx".zipWithIndex
        .map { case (c, i) => if ((bits & (1 << (8 - i))) != 0) c else '-' }.mkString
      java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(mode))
    }
  }
}

package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system, except that it starts no
  * process: without libhadoop, Hadoop sets the permission of every file
  * and directory it creates by forking `chmod` (a file and its `.crc`
  * sibling cost two); this one sets the same, already umask-applied, bits
  * with one `java.nio` call.
  *
  * [[graft.Session.install]] registers it as the session's `file:` file
  * system (`fs.file.impl`); Hadoop builds it by name, hence the no-arg
  * constructor.
  */
class NioLocalFileSystem extends LocalFileSystem(new RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    // PosixFilePermission lists owner read (mode bit 8) first
    val bits = PosixFilePermission.values.zipWithIndex
      .collect { case (b, i) if (mode & (0x100 >> i)) != 0 => b }
    Files.setPosixFilePermissions(pathToFile(p).toPath, bits.toSet.asJava): Unit
  }
})

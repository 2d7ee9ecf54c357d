package graft.lake

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem graft's own parquet writes stage on. Hadoop's
  * default `file://` FS is a checksum wrapper over the raw one: it
  * writes a `.crc` sidecar per file, and without libhadoop it forks
  * `chmod` for every file and directory it creates. A stage is
  * harvested by listing and then deleted, so none of that is kept.
  * This FS is the raw one, and sets the same mode bits through NIO.
  *
  * Only a write job's own conf selects it ([[writerOptions]]), with the
  * FS cache off for that conf: no session conf and no cached `file://`
  * instance ever resolves to it. */
final class GraftLocalFs extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    // NIO carries no sticky bit: leave modes above 0777 to Hadoop
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, GraftLocalFs.perms(mode))
  }
}

object GraftLocalFs {
  // declared OWNER_READ … OTHERS_EXECUTE: mode bits 8 down to 0
  private val byBit = PosixFilePermission.values

  private[lake] def perms(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- byBit.indices if (mode & (0x100 >> i)) != 0) s.add(byBit(i))
    s
  }

  /** DataFrameWriter options (and footer-read conf entries) for a
    * graft-owned local parquet write: this FS for `file://`, uncached,
    * and no `_SUCCESS` marker — a stage is harvested by listing. */
  val writerOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[GraftLocalFs].getName,
    "fs.file.impl.disable.cache" -> "true",
    "mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false")
}

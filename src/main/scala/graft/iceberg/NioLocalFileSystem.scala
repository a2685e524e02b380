package graft.iceberg

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine sessions' `file:` filesystem (`fs.file.impl`, wired in
  * `GraftSessions.requiredConfs`): Hadoop's checksummed `LocalFileSystem`
  * whose raw layer sets permissions through `java.nio` instead of a
  * process. Without native libhadoop, `RawLocalFileSystem.setPermission`
  * runs `chmod` once per file, `.crc` sidecar and directory it creates,
  * and every create and mkdirs path (Hadoop's, Spark's
  * `FileOutputCommitter`, the engine's metadata and delete writers) calls
  * it; a process start costs milliseconds, the nio call microseconds.
  * Modes, umask handling and checksums are Hadoop's own: only the call
  * that applies the final mode changes. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** `RawLocalFileSystem` with a fork-free `setPermission`. A mode nio
    * cannot express (the sticky bit) or a file store without a POSIX view
    * goes through Hadoop's own call. */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val applied = !permission.getStickyBit && {
        try { Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort)); true }
        catch { case _: UnsupportedOperationException => false }
      }
      if (!applied) super.setPermission(p, permission)
    }
  }

  // PosixFilePermission's declaration order is OWNER_READ .. OTHERS_EXECUTE,
  // i.e. mode bits 0400 down to 0001
  private val Bits = PosixFilePermission.values.zipWithIndex.map { case (p, i) => p -> (0x100 >> i) }

  private[iceberg] def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.foreach { case (p, bit) => if ((mode & bit) != 0) s.add(p) }
    s
  }
}

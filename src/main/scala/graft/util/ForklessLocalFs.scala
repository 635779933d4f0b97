package graft.util

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system with `setPermission` done in-process.
  *
  * Without the native Hadoop library (Spark does not ship it),
  * `RawLocalFileSystem.setPermission` runs `chmod` in a child process, and
  * the file system calls it for every directory it makes and every file it
  * creates. A partitioned parquet write therefore starts four processes
  * per partition file (the two partition directories, the part file, its
  * `.crc` sidecar): about 130 per daily merge of a 32-partition store,
  * most of the write tasks' time, at a cost that follows the host's load.
  * This subclass sets the same mode through `java.nio` instead (without
  * the sticky bit, `FsPermission.toString` is the nine-letter `rwxr-x---`
  * form nio parses); a sticky mode, which nio cannot set, takes Hadoop's
  * own path. */
final class ForklessRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
}

/** The checksummed local file system `file://` resolves to by default,
  * over [[ForklessRawLocalFileSystem]]. */
final class ForklessLocalFileSystem extends LocalFileSystem(new ForklessRawLocalFileSystem)

object ForklessLocalFs {
  /** Hadoop settings that resolve `file://` to [[ForklessLocalFileSystem]].
    * Pass them as writer options: Spark copies a write's options into the
    * Hadoop configuration of that write job, on the driver and in every
    * task. The cache is bypassed for the scheme under that configuration
    * only, because the JVM's cached `file://` instance is Hadoop's default
    * class and a cached lookup would return it. */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[ForklessLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}

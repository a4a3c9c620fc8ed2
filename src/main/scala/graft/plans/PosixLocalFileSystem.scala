package graft.plans

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's local `file:` filesystem without a `chmod` process per
  * written file. With no native hadoop library on the classpath (the
  * Spark distribution ships none), [[RawLocalFileSystem.setPermission]]
  * forks `chmod` through `Shell.execCommand`, and `mkdirs` and `create`
  * call it for every directory, part file and `.crc` a write leaves:
  * ~3 ms and one process each, ~145 per perfbench stream pass. This
  * sets the same mode bits in-process with
  * `Files.setPosixFilePermissions`; it defers to the stock path when
  * the native library is loaded or the sticky bit is asked for (POSIX
  * permission sets cannot carry it). Checksumming is Hadoop's own
  * [[LocalFileSystem]]. [[GraftExtensions]] installs it as
  * `fs.file.impl`. */
class PosixLocalFileSystem extends LocalFileSystem(new PosixRawLocalFileSystem)

class PosixRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (NativeIO.isAvailable || permission.getStickyBit)
      super.setPermission(p, permission)
    else
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixLocalFileSystem.posix(permission.toShort & 0x1ff))
}

object PosixLocalFileSystem {

  private val Bits = Seq(
    0x100 -> PosixFilePermission.OWNER_READ,
    0x080 -> PosixFilePermission.OWNER_WRITE,
    0x040 -> PosixFilePermission.OWNER_EXECUTE,
    0x020 -> PosixFilePermission.GROUP_READ,
    0x010 -> PosixFilePermission.GROUP_WRITE,
    0x008 -> PosixFilePermission.GROUP_EXECUTE,
    0x004 -> PosixFilePermission.OTHERS_READ,
    0x002 -> PosixFilePermission.OTHERS_WRITE,
    0x001 -> PosixFilePermission.OTHERS_EXECUTE)

  private[plans] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.foreach { case (bit, p) => if ((mode & bit) != 0) set.add(p) }
    set
  }

  /** Make `file:` resolve to this filesystem in `conf`, unless
    * `fs.file.impl` is already set (an explicit value wins). Hadoop
    * caches filesystems JVM-wide by scheme, so this only reaches the
    * `file:` instances built after it — the first one built in a JVM
    * keeps its class until the cache is closed. */
  def install(conf: Configuration): Unit =
    conf.setIfUnset("fs.file.impl", classOf[PosixLocalFileSystem].getName)
}

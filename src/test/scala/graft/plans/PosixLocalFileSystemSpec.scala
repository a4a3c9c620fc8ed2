package graft.plans

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** [[PosixLocalFileSystem]] leaves the same mode bits as Hadoop's stock
  * local FS (which forks `chmod`), and the session installer points
  * `file:` at it. Each FS is built with `FileSystem.newInstance`, so
  * the JVM-wide FileSystem cache (and suite order) cannot pick the
  * class under test. */
class PosixLocalFileSystemSpec extends SparkTestBase {

  private def fsOf(cls: Class[_]): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.file.impl", cls.getName)
    conf.set("fs.permissions.umask-mode", "022")
    FileSystem.newInstance(URI.create("file:///"), conf)
  }

  /** Relative path → mode string of everything under `root`. */
  private def modes(root: JPath): Map[String, String] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString ->
        java.nio.file.attribute.PosixFilePermissions.toString(
          Files.getPosixFilePermissions(p))
    }.toMap
    finally walk.close()
  }

  /** mkdirs, create and setPermission at each mode, under a fresh dir. */
  private def exercise(fs: FileSystem): Map[String, String] = {
    val root = Files.createTempDirectory("graft_posixfs")
    Seq(0x1ed, 0x1a4, 0x180, 0x1e8).foreach { m => // 0755 0644 0600 0750
      val perm = new FsPermission(m.toShort)
      val at = (name: String) => new Path(root.toUri.toString, f"$name$m%o")
      assert(fs.mkdirs(at("d"), perm))
      val out = fs.create(at("part"), perm, true, 4096, 1.toShort, 1L << 20,
        null)
      out.write(Array[Byte](1, 2, 3))
      out.close()
      fs.create(at("plain")).close()
      fs.setPermission(at("plain"), perm)
    }
    modes(root)
  }

  test("mkdirs, create and setPermission leave the stock local FS's mode " +
      "bits for 0755, 0644, 0600 and 0750 under umask 022") {
    val posix = fsOf(classOf[PosixLocalFileSystem])
    val stock = fsOf(classOf[LocalFileSystem])
    try {
      assert(posix.getClass === classOf[PosixLocalFileSystem])
      assert(stock.getClass === classOf[LocalFileSystem])
      val got = exercise(posix)
      assert(got === exercise(stock))
      // anti-vacuity: part files, their .crc siblings, and each mode
      assert(got.keySet.exists(_.endsWith(".crc")))
      assert(got.values.toSet ===
        Set("rwxr-xr-x", "rw-r--r--", "rw-------", "rwxr-x---"))
    } finally { posix.close(); stock.close() }
  }

  test("the session installer sets fs.file.impl, and an explicit value " +
      "wins") {
    assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") ===
      classOf[PosixLocalFileSystem].getName)
    val conf = new Configuration(false)
    conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    PosixLocalFileSystem.install(conf)
    assert(conf.get("fs.file.impl") === classOf[LocalFileSystem].getName)
    val empty = new Configuration(false)
    PosixLocalFileSystem.install(empty)
    assert(empty.get("fs.file.impl") === classOf[PosixLocalFileSystem].getName)
  }
}

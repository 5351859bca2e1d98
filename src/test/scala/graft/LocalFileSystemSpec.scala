package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `file:` under [[GraftSession]] is [[NioLocalFileSystem]], and it gives
  * new files, their `.crc` sidecars and new directories the permission
  * bits that Hadoop's stock `LocalFileSystem` gives under the same umask.
  */
class LocalFileSystemSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()

  test("a graft session's file: FileSystem is NioLocalFileSystem") {
    // newInstance, not get: the cached instance is whatever class the
    // JVM's first file: lookup made
    val fs = FileSystem.newInstance(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    try assert(fs.getClass == classOf[NioLocalFileSystem])
    finally fs.close()
  }

  /** Octal mode of each path below `root` (sticky bit included), keyed by
    * its path relative to `root`.
    */
  private def modes(root: JPath): Map[String, String] = {
    val all = Files.walk(root)
    try all.toArray.toSeq.map(_.asInstanceOf[JPath]).filter(_ != root).map { p =>
      root.relativize(p).toString ->
        (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff).toOctalString
    }.toMap
    finally all.close()
  }

  /** Writes the same files and directories through `fs` under `root`. */
  private def populate(fs: FileSystem, root: JPath): Unit = {
    val base = new Path(root.toUri)
    val out = fs.create(new Path(base, "a/b/default.bin"))
    out.write(Array[Byte](1, 2, 3))
    out.close()
    fs.create(new Path(base, "a/explicit.bin"), new FsPermission("640"), true, 4096,
      1.toShort, 1L << 20, null).close()
    fs.mkdirs(new Path(base, "c/d"))
    fs.mkdirs(new Path(base, "e"), new FsPermission("750"))
    // sticky bit: PosixFilePermission cannot express it, Hadoop's path sets it
    fs.mkdirs(new Path(base, "f"))
    fs.setPermission(new Path(base, "f"), new FsPermission("1777"))
    fs.setPermission(new Path(base, "a/b/default.bin"), new FsPermission("604"))
  }

  for (umask <- Seq("022", "077"))
    test(s"files, .crc sidecars and directories get stock LocalFileSystem's bits (umask $umask)") {
      def conf(): Configuration = {
        val c = new Configuration(false)
        c.set("fs.permissions.umask-mode", umask)
        c
      }
      val stock = new LocalFileSystem()
      stock.initialize(URI.create("file:///"), conf())
      val nio = new NioLocalFileSystem()
      nio.initialize(URI.create("file:///"), conf())
      val (want, got) = (Files.createTempDirectory("graft_fs_stock"),
        Files.createTempDirectory("graft_fs_nio"))
      populate(stock, want)
      populate(nio, got)
      val expected = modes(want)
      assert(expected.contains("a/b/.default.bin.crc") && expected("f") == "1777")
      assert(modes(got) == expected)
    }
}

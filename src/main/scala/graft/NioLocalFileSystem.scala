package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem every graft session installs (`fs.file.impl`,
  * set in [[GraftSession.builder]]): Hadoop's checksummed
  * `LocalFileSystem` over a raw layer that sets permission bits in this
  * process.
  *
  * Hadoop's local FS sets the permission bits of every file it creates,
  * of that file's `.crc` sidecar and of every directory it makes. Without
  * libhadoop, `RawLocalFileSystem.setPermission` forks `chmod` for each:
  * 1,107 forks in one 10 s run of the repository benchmark's
  * `stream_jobs` workload (checkpoint temp files, RocksDB state uploads,
  * directories) and 9 per parquet write (JFR `jdk.ProcessStart`); with
  * this class, none. Here the same bits, already masked by Hadoop's
  * umask, go through `Files.setPosixFilePermissions`, one `chmod(2)`
  * call. A sticky bit, which `PosixFilePermission` cannot express, and a
  * store without POSIX attributes take Hadoop's own path.
  *
  * With no class configured, Hadoop's ServiceLoader picks Hive's
  * `ProxyLocalFileSystem` for `file:`. This replaces it. Proxy adds an MD5
  * `getFileChecksum`, which Spark does not call, and its `rename` refuses
  * an existing destination file, where this one replaces it like
  * `rename(2)`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  /** The Spark key that puts the class into the Hadoop configuration. */
  val ConfKey = "spark.hadoop.fs.file.impl"

  private[graft] class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(permission.toString))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}

package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without a process per file operation.
  *
  * Without libhadoop's native code, `RawLocalFileSystem` runs a
  * `chmod` process for every file and directory it creates with a
  * permission (each parquet part file, its `.crc` sidecar, every
  * checkpoint and state-store file) and a `readlink` process for
  * every `getFileLinkStatus`, which `FileContext.rename` calls twice
  * per checkpoint commit. Each fork costs milliseconds; a streaming
  * trigger makes dozens of them. This subclass answers both from
  * `java.nio.file` in process and keeps the inherited (forking) path
  * for what NIO cannot express: a sticky bit, or a file that already
  * carries a setuid, setgid or sticky bit, whose handling by
  * `chmod` NIO would not reproduce. Everything else is the stock
  * class. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val mode =
      try Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      catch {
        case _: NoSuchFileException =>
          throw new FileNotFoundException(s"File $p does not exist")
        // no `unix` attribute view here: take the inherited path
        case _: UnsupportedOperationException | _: IllegalArgumentException => SpecialBits
      }
    if (permission.getStickyBit || (mode & SpecialBits) != 0)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, posix(permission))
  }

  /** A path that is not a symlink has the status of its target — what
    * the inherited method returns after its `readlink` finds no link. */
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

object NioRawLocalFileSystem {
  /** setuid, setgid and sticky (octal 7000). */
  private val SpecialBits = 0xe00

  /** The nine rwx bits of `p` as NIO permissions. `values` lists them
    * from owner-read (bit 8) down to others-execute (bit 0). */
  private def posix(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val bits = p.toShort
    val all = PosixFilePermission.values
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    all.indices.foreach(i => if ((bits & (1 << (all.length - 1 - i))) != 0) s.add(all(i)))
    s
  }
}

/** The FileSystem API's `file:` scheme (`fs.file.impl`): the stock
  * checksummed `LocalFileSystem` over [[NioRawLocalFileSystem]], so the
  * `.crc` sidecars are written and verified as before. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {

  /** Renaming onto an existing file fails, as on HDFS and as in Hive's
    * `ProxyLocalFileSystem`, which Spark's `hive-exec` jar registers
    * for `file:` when no class is set; a POSIX rename would replace the
    * file. */
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile =
      try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

/** The FileContext API's raw `file:` filesystem: Hadoop's
  * `org.apache.hadoop.fs.local.RawLocalFs` with
  * [[NioRawLocalFileSystem]] as its delegate (the stock constructors
  * are package-private). Like the stock class it is rooted at
  * `file:///` whatever URI it is created for. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  @deprecated("use getServerDefaults(Path)", "Hadoop 2.7")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** The FileContext API's `file:` scheme
  * (`fs.AbstractFileSystem.file.impl`), which Spark's checkpoint and
  * RocksDB state-store file managers use: checksummed like the stock
  * `org.apache.hadoop.fs.local.LocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

object NioLocalFileSystem {
  /** The Spark settings that install both classes for `file:`. */
  val sparkConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)
}

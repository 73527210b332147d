package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, CreateFlag, FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTesting
import graft.streaming.{Doc, DocStream}

class NioLocalFileSystemSpec extends AnyFunSuite {
  lazy val spark = SparkTesting.spark
  private def conf = spark.sparkContext.hadoopConfiguration
  private val fileUri = new URI("file:///")

  /** The stock classes, for comparison: a private instance, so the
    * process-wide FileSystem cache keeps the session's. */
  private def stockConf: Configuration = {
    val c = new Configuration(conf)
    c.set("fs.file.impl", classOf[LocalFileSystem].getName)
    c.set("fs.AbstractFileSystem.file.impl", classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    c
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("Sessions.local resolves file: to the in-process classes for FileSystem and FileContext") {
    val fs = FileSystem.get(fileUri, conf)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    val tmp = new Path(Files.createTempDirectory("niofs").toUri)
    assert(tmp.getFileSystem(conf).isInstanceOf[NioLocalFileSystem])
    val afs = FileContext.getFileContext(fileUri, conf).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass.getName)
    assert(afs.asInstanceOf[ChecksumFs].getRawFs.isInstanceOf[NioRawLocalFs])
    // renaming onto an existing file fails and keeps both files
    val (a, b) = (new Path(tmp, "a.txt"), new Path(tmp, "b.txt"))
    Seq(a -> "a", b -> "b").foreach { case (p, v) =>
      val out = fs.create(p); try out.write(v.getBytes) finally out.close()
    }
    assert(!fs.rename(a, b))
    assert(fs.exists(a) && fs.getFileStatus(b).getLen == 1)
    assert(fs.rename(a, new Path(tmp, "c.txt")) && !fs.exists(a))
    // the stock classes are what the comparisons below run against
    assert(!FileSystem.newInstance(fileUri, stockConf).isInstanceOf[NioLocalFileSystem])
  }

  test("created files and directories get the stock LocalFileSystem's POSIX modes") {
    val root = Files.createTempDirectory("niofs_modes")
    val ours = FileSystem.get(fileUri, conf)
    val stock = FileSystem.newInstance(fileUri, stockConf)
    val oursFc = FileContext.getFileContext(fileUri, conf)
    val stockFc = FileContext.getFileContext(fileUri, stockConf)
    def under(side: String, rel: String) = new Path(root.resolve(side).resolve(rel).toUri)
    try {
      Seq("nio" -> (ours, oursFc), "stock" -> (stock, stockFc)).foreach {
        case (side, (fs, fc)) =>
          fs.create(under(side, "plain.bin")).close()
          fs.create(under(side, "masked.bin"), new FsPermission("640"), true, 4096,
            fs.getDefaultReplication(under(side, "masked.bin")), 1L << 20, null).close()
          fs.mkdirs(under(side, "d/e"))
          fs.mkdirs(under(side, "private"), new FsPermission("700"))
          fs.create(under(side, "later.bin")).close()
          fs.setPermission(under(side, "later.bin"), new FsPermission("604"))
          fs.mkdirs(under(side, "sticky"))
          fs.setPermission(under(side, "sticky"), new FsPermission("1777"))
          fc.create(under(side, "fc/ctx.bin"),
            java.util.EnumSet.of(CreateFlag.CREATE),
            org.apache.hadoop.fs.Options.CreateOpts.createParent()).close()
          fc.mkdir(under(side, "fc/dir"), FsPermission.getDirDefault, true)
      }
      def tree(side: String): Map[String, Int] = {
        val base = root.resolve(side)
        val st = Files.walk(base)
        try st.iterator().asScala.filter(_ != base)
          .map(p => base.relativize(p).toString -> mode(p)).toMap
        finally st.close()
      }
      val (nio, std) = (tree("nio"), tree("stock"))
      assert(nio.keySet == std.keySet, "the same files, .crc sidecars included")
      assert(nio.keySet.exists(_.endsWith(".crc")))
      assert(nio == std, s"modes differ: ${(nio.toSet diff std.toSet).toSeq.sorted}")
      assert(nio("private") == Integer.parseInt("700", 8))
      assert(nio("later.bin") == Integer.parseInt("604", 8))
      assert(nio("sticky") == Integer.parseInt("1777", 8))
      intercept[FileNotFoundException](
        ours.setPermission(under("nio", "missing.bin"), new FsPermission("600")))
    } finally stock.close()
  }

  test("getFileLinkStatus still reports a real symlink with its target") {
    val dir = Files.createTempDirectory("niofs_links")
    val target = Files.writeString(dir.resolve("target.txt"), "x")
    val link = Files.createSymbolicLink(dir.resolve("link.txt"), target)
    val ours = new NioRawLocalFileSystem
    ours.initialize(fileUri, conf)
    val stock = new org.apache.hadoop.fs.RawLocalFileSystem
    stock.initialize(fileUri, conf)
    val linkPath = new Path(link.toString)
    val st = ours.getFileLinkStatus(linkPath)
    assert(st.isSymlink)
    assert(st.getSymlink == stock.getFileLinkStatus(linkPath).getSymlink)
    assert(st.getSymlink.toUri.getPath == target.toString)
    // a plain file and a missing path answer as the stock class does
    val plain = ours.getFileLinkStatus(new Path(target.toString))
    assert(!plain.isSymlink && plain.isFile && plain.getLen == 1)
    intercept[FileNotFoundException](ours.getFileLinkStatus(new Path(dir.resolve("nope").toString)))
    // through FileContext, as a checkpoint rename asks: the stock answer
    def viaFc(c: Configuration) = {
      val st = FileContext.getFileContext(fileUri, c).getFileLinkStatus(new Path(link.toUri))
      (st.isSymlink, st.isFile, st.getLen, if (st.isSymlink) st.getSymlink else null)
    }
    assert(viaFc(conf) == viaFc(stockConf))
  }

  test("fork census: a persist and an AvailableNow drain start no process through Hadoop's Shell") {
    import jdk.jfr.consumer.RecordingFile
    // Shell's class initialiser probes for setsid with a process of its
    // own, once per JVM: not a per-operation fork, so keep it out
    Class.forName("org.apache.hadoop.util.Shell")
    val session = spark.newSession()
    session.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import session.implicits._
    implicit val sqlCtx = session.sqlContext
    val root = Files.createTempDirectory("fork_census").toString
    val text = ((1 to 19).map(i => f"w$i%02dab") :+ "the").mkString(" ")
    val evalShingles = graft.text.NearDup.shinglesN(
      Seq((999L, "unrelated eval words only here for the join")).toDF("doc_id", "text"),
      "doc_id", "text", 4).select("sh")
    val input = MemoryStream[Doc]
    input.addData(Doc(1, Timestamp.valueOf("2024-01-01 00:00:00"), text),
      Doc(2, Timestamp.valueOf("2024-01-01 00:01:00"), text.replace("w01", "v01")))

    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val dump = Files.createTempFile("fork_census", ".jfr")
    rec.start()
    try {
      graft.pipeline.PersistTableDual.persist(session,
        graft.pipeline.PersistTableDual.Paths(root, "contacts"),
        Seq(("1", "a@x", "2024-01-01")).toDF("contact_id", "email", "updated_at"),
        "r1", "2026-01-01T00:00:00Z", Seq("contact_id"), "updated_at")
      val q = DocStream.curatedIngestSink(input.toDF(), evalShingles, root, "docs",
        s"$root/ckpt", "ingest_ts", "10 minutes", extractedAt = "2026-01-01T00:00:00Z").start()
      try q.awaitTermination() finally if (q.isActive) q.stop()
      // a control: the recording sees a process this spec starts itself
      new ProcessBuilder("true").start().waitFor()
    } finally {
      rec.stop()
      rec.dump(dump)
      rec.close()
    }
    assert(session.read.parquet(s"$root/master/latest/docs").count() == 2)

    val starts = RecordingFile.readAllEvents(dump).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart").toSeq
    Files.delete(dump)
    def frames(e: jdk.jfr.consumer.RecordedEvent) =
      Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
        .map(_.getMethod.getType.getName)
    assert(starts.exists(frames(_).contains(getClass.getName)),
      "the recording must see the control process")
    val viaShell = starts.filter(frames(_).exists(_.startsWith("org.apache.hadoop.util.Shell")))
    assert(viaShell.isEmpty,
      s"${viaShell.size} processes started through Hadoop's Shell: " +
        viaShell.map(_.getString("command")).distinct.take(5).mkString("; "))
  }
}

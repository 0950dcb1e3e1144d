package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ForkFreeLocalFileSystem, ForkFreeLocalFs}
import graft.streaming.EventStreams

/** The fork-free `file:` classes against Hadoop's stock ones: the same
  * statuses, exceptions, trees, modes and `.crc` sidecars, and no child
  * process on the streaming commit path. */
class LocalFsSpec extends AnyFunSuite {
  private val fileUri = new URI("file:///")

  private def conf(fs: Class[_], afs: Class[_]): Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl", fs.getName)
    c.set("fs.AbstractFileSystem.file.impl", afs.getName)
    c
  }
  private val stockConf = conf(classOf[LocalFileSystem], classOf[LocalFs])
  private val forkFreeConf =
    conf(classOf[ForkFreeLocalFileSystem], classOf[ForkFreeLocalFs])

  /** A FileSystem and a FileContext on `c`, bypassing the JVM-wide cache. */
  private def withClients[A](c: Configuration)(f: (FileSystem, FileContext) => A): A = {
    val fs = FileSystem.newInstance(fileUri, c)
    try f(fs, FileContext.getFileContext(fileUri, c)) finally fs.close()
  }

  /** Every FileStatus field, the root of both trees cut off the paths. */
  private def fields(st: FileStatus, root: JPath): Seq[Any] = {
    def rel(p: Path) = p.toString.replace(root.toString, "<root>")
    Seq(rel(st.getPath), st.getLen, st.isDirectory, st.isSymlink,
      if (st.isSymlink) rel(st.getSymlink) else "", st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getAccessTime,
      st.getPermission.toString, st.getOwner, st.getGroup)
  }

  private def outcome[A](f: => A): Either[String, A] =
    try Right(f) catch { case e: java.io.IOException => Left(e.getClass.getName) }

  /** (relative path, kind, size, mode) of every entry, `.crc` included. */
  private def tree(root: JPath): Seq[(String, String, Long, Int)] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_ != root).map { p =>
      val kind = if (Files.isSymbolicLink(p)) "link"
        else if (Files.isDirectory(p)) "dir" else "file"
      val mode = Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS)
        .asInstanceOf[Int]
      (root.relativize(p).toString, kind,
        if (kind == "file") Files.size(p) else 0L, mode)
    }.toList.sorted
    finally s.close()
  }

  test("getFileLinkStatus matches stock on files, dirs, missing paths and links") {
    val root = Files.createTempDirectory("localfs-links")
    val file = Files.write(root.resolve("f"), Array[Byte](1, 2, 3))
    val dir = Files.createDirectory(root.resolve("d"))
    Files.createSymbolicLink(root.resolve("link"), file)
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    val names = Seq("f", "d", "missing", "link", "dangling")
    def statuses(fs: FileSystem, fc: FileContext) = for {
      n <- names
      // the bare path reaches the link check; a qualified one never does
      p <- Seq(new Path(root.resolve(n).toString),
        new Path(root.resolve(n).toUri))
      get <- Seq[Path => FileStatus](fs.getFileLinkStatus, fc.getFileLinkStatus)
    } yield outcome(fields(get(p), root))
    val stock = withClients(stockConf)(statuses)
    assert(withClients(forkFreeConf)(statuses) == stock)
    val byName = names.zip(stock.grouped(4).map(_.head).toSeq).toMap
    assert(byName("missing") == Left(classOf[FileNotFoundException].getName))
    assert(byName("link").exists(_(3) == true))
    assert(byName("dangling").exists(_(3) == true))
    assert(byName("f").exists(_(3) == false) && byName("d").exists(_(2) == true))
  }

  test("create, mkdirs and rename leave the same tree and errors as stock") {
    def run(c: Configuration) = withClients(c) { (fs, fc) =>
      val root = Files.createTempDirectory("localfs-ops")
      def p(n: String) = new Path(root.resolve(n).toUri)
      def write(out: java.io.OutputStream, n: Int) =
        try out.write(Array.fill[Byte](n)(7)) finally out.close()
      val results = Seq(
        outcome(write(fs.create(p("fs-640"), new FsPermission("640"), false,
          4096, 1.toShort, 1L << 20, null), 10)),
        outcome(fs.mkdirs(p("fs-dir/sub"), new FsPermission("750"))),
        // the umask drops the sticky bit here
        outcome(fs.mkdirs(p("fs-sticky"), new FsPermission("1777"))),
        outcome(write(fc.create(p("fc-777"), EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.perms(new FsPermission("777"))), 20)),
        outcome(write(fc.create(p("fc-600"), EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.perms(new FsPermission("600")),
          Options.CreateOpts.createParent()), 30)),
        outcome(fc.mkdir(p("fc-dir/a/b"), new FsPermission("700"), true)),
        outcome(fs.rename(p("fs-640"), p("fs-moved"))),
        outcome(fs.rename(p("fs-moved"), p("fc-600"))),
        outcome(fc.rename(p("fc-777"), p("fc-600"))),
        outcome(fc.rename(p("fc-777"), p("fc-600"), Options.Rename.OVERWRITE)),
        outcome(fc.rename(p("fc-600"), p("fc-dir/a/b/moved"))),
        outcome(fc.setPermission(p("fc-dir/a"), new FsPermission("1755"))),
        outcome(fs.setPermission(p("fs-dir"), new FsPermission("700"))))
      (results, tree(root))
    }
    val (stockResults, stockTree) = run(stockConf)
    val (results, ffTree) = run(forkFreeConf)
    assert(results == stockResults)
    assert(ffTree == stockTree)
    assert(stockResults(8) ==
      Left(classOf[org.apache.hadoop.fs.FileAlreadyExistsException].getName))
    assert(stockTree.exists(_._1 == "fc-dir/a/b/.moved.crc"))
    // the sticky bit is the one mode nio cannot set: Hadoop's path sets it
    assert(stockTree.exists(e => e._1 == "fc-dir/a" &&
      e._4 == Integer.parseInt("41755", 8)))
  }

  test("the session's Hadoop conf resolves file: to the fork-free classes") {
    val c = TestSpark.spark.sparkContext.hadoopConfiguration
    // FileSystem.get is cached JVM-wide by scheme and user, not by conf:
    // a stock instance cached first would shadow the configured class
    assert(FileSystem.get(fileUri, c).getClass == classOf[ForkFreeLocalFileSystem])
    assert(FileSystem.getLocal(c).getClass == classOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(fileUri, c).getDefaultFileSystem.getClass ==
      classOf[ForkFreeLocalFs])
    assert(AbstractFileSystem.get(fileUri, c).getClass == classOf[ForkFreeLocalFs])
  }

  test("a checkpointed stream and a foreachBatch write fork no Hadoop Shell") {
    val spark = TestSpark.spark
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ev(i: Int) = Ev(i.toLong, new java.sql.Timestamp(ts0.getTime + i * 60000L),
      i % 3L, if (i % 2 == 0) "click" else "view", i.toDouble)
    val work = Files.createTempDirectory("localfs-nofork")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val events = try {
      val stream = MemoryStream[Ev](spark)
      val q = EventStreams.tumbling(stream.toDF()).writeStream
        .format("memory").queryName(s"nofork_${System.nanoTime()}")
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .start()
      try Seq(0 until 10, 10 until 20).foreach { r =>
        stream.addData(r.map(ev))
        q.processAllAvailable()
      } finally q.stop()
      val model = Seq(("click", 0L), ("view", 1L)).toDF("event_type", "idx")
      val scoreIn = MemoryStream[Ev](spark)
      val s = EventStreams.scoreToParquet(scoreIn.toDF(), model,
        work.resolve("scored").toString, work.resolve("metrics").toString)
      try {
        scoreIn.addData((0 until 5).map(ev))
        s.processAllAvailable()
      } finally s.stop()
      rec.stop()
      val dump = work.resolve("rec.jfr")
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
    } finally rec.close()
    val shellForks = events.filter(e => Option(e.getStackTrace).exists(
      _.getFrames.asScala.exists(
        _.getMethod.getType.getName == "org.apache.hadoop.util.Shell")))
    assert(shellForks.isEmpty, shellForks.take(3).map(
      _.getValue[String]("command")).mkString("Shell forks: ", "; ", ""))
    assert(spark.read.parquet(work.resolve("scored").toString).count() == 5)
  }
}

package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus,
  FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.sinks.{EvolvingTableSink, ParquetAppendSink}
import graft.engine.stream.StreamProcessor
import graft.engine.util.{EngineLocalFileSystem, EngineLocalFs, NioRawLocalFileSystem}
import graft.fixtures.EventGen

/** The engine's `file:` classes (graft.engine.util.LocalFs) start no
  * process from Hadoop, and they give the same permission bits, link
  * statuses and rename results as Hadoop's stock local filesystem.
  */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.engine.Sessions.local(4, "graft-test")

  private val FileUri = URI.create("file:///")

  /** Run `f` under a JFR recording of process starts; the events whose
    * stack has a Hadoop frame.
    */
  private def hadoopForks(f: => Unit): Seq[RecordedEvent] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try f finally rec.stop()
    val out = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq.filter(e =>
        Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.hadoop."))))
    } finally {
      rec.close()
      Files.deleteIfExists(out)
    }
  }

  private def describe(es: Seq[RecordedEvent]): String =
    es.groupBy(_.getString("command").split(' ').head).map { case (cmd, g) =>
      s"${g.size}x $cmd"
    }.mkString(", ")

  /** A conf whose `file:` FileContext is Hadoop's stock `LocalFs`. */
  private def stockConf(): Configuration = {
    val c = new Configuration()
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    c
  }

  private def engineConf(): Configuration = {
    val c = new Configuration()
    c.set("fs.AbstractFileSystem.file.impl", classOf[EngineLocalFs].getName)
    c
  }

  private def fresh(fs: FileSystem, conf: Configuration): FileSystem = {
    fs.initialize(FileUri, conf)
    fs
  }

  private def unixMode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]

  test("the session's file: FileSystem and FileContext are the engine classes") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(FileUri, conf).getClass == classOf[EngineLocalFileSystem])
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).getClass ==
      classOf[EngineLocalFileSystem])
    assert(FileContext.getFileContext(FileUri, conf).getDefaultFileSystem.getClass ==
      classOf[EngineLocalFs])
    // the streaming checkpoints keep FileContext's atomic rename
    val dir = Files.createTempDirectory("graft_localfs_ckpt")
    assert(CheckpointFileManager.create(new Path(dir.toUri), conf).getClass.getSimpleName ==
      "FileContextBasedCheckpointFileManager")
  }

  test("the recording sees a process started by stock Hadoop") {
    assume(!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded,
      "with libhadoop, stock Hadoop chmods in-process")
    val f = Files.createTempFile("graft_localfs_ctl", ".txt")
    val stock = fresh(new RawLocalFileSystem, new Configuration())
    val forks = hadoopForks(stock.setPermission(new Path(f.toUri), new FsPermission("640")))
    assert(forks.nonEmpty, "the control chmod must show as a Hadoop process start")
  }

  test("a drain of two micro-batches and a restart start no process from Hadoop") {
    val root = Files.createTempDirectory("graft_localfs_stream")
    val inDir = root.resolve("in")
    val gen = new EventGen(seed = 11L, corruptionChance = 0.3, invalidSchemaChance = 0.2)
    gen.writeBatchFiles(inDir, nBatches = 4, eventsPerBatch = 20)
    val bronze = new EvolvingTableSink(root.resolve("bronze").toString)
    val dead = new ParquetAppendSink(root.resolve("dead").toString)
    val proc = new StreamProcessor(bronze, dead,
      checkpointLocation = root.resolve("ckpt").toString, trigger = Trigger.AvailableNow())
    def drain(): Int = {
      val q = proc.start(spark.readStream.format("text")
        .option("maxFilesPerTrigger", "2").load(inDir.toString))
      q.awaitTermination()
      q.recentProgress.count(_.numInputRows > 0)
    }
    var batches = Seq.empty[Int]
    val forks = hadoopForks {
      val first = drain()
      gen.writeBatchFiles(inDir, nBatches = 2, eventsPerBatch = 20)
      batches = Seq(first, drain())
    }
    assert(batches == Seq(2, 1), "two micro-batches, then one after the restart")
    assert(bronze.read(spark).count() > 0 && spark.read.parquet(dead.path).count() > 0,
      "both sinks must have been written")
    assert(forks.isEmpty, s"Hadoop started processes: ${describe(forks)}")
  }

  test("created files and dirs carry stock Hadoop's permission bits, on both APIs") {
    val root = Files.createTempDirectory("graft_localfs_perm")
    // a setgid parent: Linux gives new subdirs the bit, and chmod keeps it
    val sgid = Files.createDirectory(root.resolve("sgid"))
    Files.setAttribute(sgid, "unix:mode", Integer.valueOf(Integer.parseInt("2755", 8)))
    val filePerms = Seq(None, Some(new FsPermission("600")))
    val dirPerms = Seq(None, Some(new FsPermission("700")))
    for (umask <- Seq(None, Some("077")); parent <- Seq("plain", "sgid")) {
      def modes(tag: String, fsOf: Configuration => FileSystem,
          conf: Configuration): Seq[(String, Int)] = {
        umask.foreach(conf.set(FsPermission.UMASK_LABEL, _))
        val fs = fsOf(conf)
        val fc = FileContext.getFileContext(FileUri, conf)
        val base = root.resolve(parent).resolve(s"$tag-${umask.getOrElse("dflt")}")
        def p(name: String) = new Path(base.resolve(name).toUri)
        filePerms.zipWithIndex.foreach { case (perm, i) =>
          perm.fold(fs.create(p(s"fs$i")))(fs.create(p(s"fs$i"), _, true, 4096,
            1.toShort, 1L << 25, null)).close()
          fc.create(p(s"fc$i"), EnumSet.of(CreateFlag.CREATE),
            perm.map(Options.CreateOpts.perms).toSeq: _*).close()
        }
        dirPerms.zipWithIndex.foreach { case (perm, i) =>
          perm.fold(fs.mkdirs(p(s"fsd$i/sub")))(fs.mkdirs(p(s"fsd$i/sub"), _))
          fc.mkdir(p(s"fcd$i/sub"), perm.getOrElse(FsPermission.getDirDefault), true)
        }
        Files.walk(base).iterator().asScala.toSeq.sorted
          .map(f => base.relativize(f).toString -> unixMode(f))
      }
      val got = modes("engine", fresh(new EngineLocalFileSystem, _), engineConf())
      val want = modes("stock", fresh(new LocalFileSystem, _), stockConf())
      assert(got.size == 17, s"base, 4 files, their .crc sidecars, 8 dirs ($parent, umask=$umask)")
      assert(got == want, s"parent=$parent umask=$umask")
    }
  }

  test("getFileLinkStatus matches stock for a file, dir, symlink, dangling link and missing path") {
    val root = Files.createTempDirectory("graft_localfs_link")
    val file = Files.write(root.resolve("file"), "x".getBytes)
    Files.createDirectory(root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("link"), file)
    Files.createSymbolicLink(root.resolve("rel"), file.getFileName)
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    val engine = fresh(new NioRawLocalFileSystem, new Configuration())
    val stock = fresh(new RawLocalFileSystem, new Configuration())
    val engineFc = FileContext.getFileContext(FileUri, engineConf())
    val stockFc = FileContext.getFileContext(FileUri, stockConf())
    def summary(st: => FileStatus): String =
      try {
        val s = st
        Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
          if (s.isSymlink) s.getSymlink else "-", s.getLen, s.getPermission).mkString(" ")
      } catch { case e: FileNotFoundException => e.getClass.getSimpleName }
    for (name <- Seq("file", "dir", "link", "rel", "dangling", "missing");
         form <- Seq("plain", "qualified")) {
      val f = root.resolve(name)
      val p = if (form == "plain") new Path(f.toString) else new Path(f.toUri)
      val want = summary(stock.getFileLinkStatus(p))
      assert(summary(engine.getFileLinkStatus(p)) == want, s"$name ($form)")
      assert(summary(engineFc.getFileLinkStatus(p)) == summary(stockFc.getFileLinkStatus(p)),
        s"$name ($form) through FileContext")
      if (form == "plain") {
        val kind = want.split(' ').drop(1).take(3).mkString(" ")
        name match {
          case "file" => assert(kind == "true false false")
          case "dir" => assert(kind == "false true false")
          case "link" | "rel" | "dangling" => assert(kind == "false false true", name)
          case "missing" => assert(want == "FileNotFoundException")
        }
      }
    }
  }

  test("FileContext rename: NONE refuses an existing dst, OVERWRITE replaces it with its .crc") {
    val root = Files.createTempDirectory("graft_localfs_rename")
    val fc = FileContext.getFileContext(FileUri, engineConf())
    def write(name: String, body: String): Path = {
      val p = new Path(root.resolve(name).toUri)
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
      try out.write(body.getBytes) finally out.close()
      p
    }
    def read(p: Path): String = {
      val in = fc.open(p)
      try new String(in.readAllBytes()) finally in.close()
    }
    val crc = (n: String) => root.resolve(s".$n.crc")
    val src = write("src", "new body")
    val dst = write("dst", "old")
    val srcCrc = Files.readAllBytes(crc("src"))
    intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
    assert(read(dst) == "old" && read(src) == "new body")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(read(dst) == "new body") // the checksum is verified on read
    assert(Files.readAllBytes(crc("dst")).sameElements(srcCrc))
    assert(!Files.exists(root.resolve("src")) && !Files.exists(crc("src")))
  }
}

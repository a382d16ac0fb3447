package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{NioLocalFileSystem, NioLocalFs}

/** The session's `file://` file systems (from `GraftSession.sessionConf`):
  * no child processes, and the stock modes and link statuses. */
class LocalFsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val Root = URI.create("file:///")

  /** Commands of the processes the JVM starts while `body` runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft_procs", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.delete(dump) }
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xFFF

  /** Relative path -> permission bits of everything under `root`. */
  private def modes(root: JPath): Map[String, Int] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_ != root)
      .map(p => root.relativize(p).toString -> mode(p)).toMap
    finally walk.close()
  }

  private def hadoopConf(umask: Option[String]): Configuration = {
    val c = spark.sessionState.newHadoopConf()
    umask.foreach(c.set("fs.permissions.umask-mode", _))
    c
  }

  private def stockFs(conf: Configuration): FileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(Root, conf)
    fs
  }

  private def stockFc(conf: Configuration): FileContext = {
    val c = new Configuration(conf)
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    FileContext.getFileContext(Root, c)
  }

  test("parquet, CSV, partitioned and streaming-checkpoint writes start " +
    "no chmod, readlink, ls or stat process") {
    val dir = Files.createTempDirectory("graft_forks")
    val df = (1 to 200).map(i => (i.toLong, s"v$i", i % 3)).toDF("id", "v", "p")
    val src = dir.resolve("src").toString
    df.where($"id" <= 100).write.parquet(src)
    def drain(): Unit = spark.readStream.schema(df.schema).parquet(src)
      .writeStream.format("parquet")
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start(dir.resolve("sink").toString)
      .awaitTermination()
    val cmds = processStarts {
      df.write.parquet(dir.resolve("pq").toString)
      df.write.option("header", "true").csv(dir.resolve("csv").toString)
      df.write.partitionBy("p").parquet(dir.resolve("part").toString)
      drain()
      df.where($"id" > 100).write.mode("append").parquet(src)
      drain()
    }
    assert(spark.read.parquet(dir.resolve("sink").toString).count() == 200)
    assert(Files.exists(dir.resolve("ckpt/commits/1")))
    val forked = cmds.filter(c =>
      Set("chmod", "readlink", "ls", "stat")(c.trim.split("\\s+").head.split('/').last))
    assert(forked.size == 0, forked.take(3).mkString("; "))
    graft.io.LocalFs.deleteTree(dir)
  }

  test("files and directories get the stock POSIX modes through the " +
    "FileSystem and the FileContext, under the default and a 077 umask") {
    for (umask <- Seq(None, Some("077"))) {
      val conf = hadoopConf(umask)
      val sides = Seq(
        (FileSystem.newInstance(Root, conf), FileContext.getFileContext(Root, conf)),
        (stockFs(conf), stockFc(conf)))
      val trees = sides.map { case (fs, fc) =>
        val root = Files.createTempDirectory("graft_modes")
        val r = new Path(root.toString)
        fs.create(new Path(r, "f")).close()
        fs.mkdirs(new Path(r, "a/b"))
        fs.mkdirs(new Path(r, "m"), new FsPermission("750"))
        fs.create(new Path(r, "m/g"), new FsPermission("640"), true, 4096,
          1.toShort, 1L << 20, null).close()
        fc.mkdir(new Path(r, "c/d"), FsPermission.getDirDefault, true)
        fc.create(new Path(r, "c/d/h"), EnumSet.of(CreateFlag.CREATE)).close()
        fc.rename(new Path(r, "c/d/h"), new Path(r, "c/h"))
        // a setgid parent: the child directory inherits the bit and the
        // numeric chmod keeps it; sticky is set explicitly
        Files.createDirectory(root.resolve("s"))
        Files.setAttribute(root.resolve("s"), "unix:mode", Int.box(0x5ED)) // 02755
        fs.mkdirs(new Path(r, "s/t"), new FsPermission("700"))
        fs.mkdirs(new Path(r, "k"))
        fs.setPermission(new Path(r, "k"), new FsPermission(0x3FF.toShort)) // 01777
        fs.close()
        val tree = modes(root)
        graft.io.LocalFs.deleteTree(root)
        tree
      }
      assert(sides.head._1.isInstanceOf[NioLocalFileSystem])
      assert(sides.head._2.getDefaultFileSystem.isInstanceOf[NioLocalFs])
      assert(trees(0).keySet.contains("c/.h.crc"), trees(0).keySet)
      assert(trees(0) == trees(1), s"umask $umask")
    }
  }

  test("getFileLinkStatus matches stock on a file, a directory, a missing " +
    "path and a symlink") {
    val root = Files.createTempDirectory("graft_links")
    Files.write(root.resolve("f"), Array[Byte](1, 2, 3))
    Files.createDirectory(root.resolve("d"))
    Files.createSymbolicLink(root.resolve("l"), root.resolve("f"))
    val conf = hadoopConf(None)
    val fs = FileSystem.get(Root, conf)
    val stock = stockFs(conf)
    def view(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      s.getLen, if (s.isSymlink) s.getSymlink else null)
    for (name <- Seq("f", "d", "l")) {
      val p = new Path(root.resolve(name).toString)
      assert(view(fs.getFileLinkStatus(p)) == view(stock.getFileLinkStatus(p)), name)
    }
    val link = fs.getFileLinkStatus(new Path(root.resolve("l").toString))
    assert(link.isSymlink && link.getSymlink == new Path("file:" + root.resolve("f")))
    val missing = new Path(root.resolve("nope").toString)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
    stock.close()
    graft.io.LocalFs.deleteTree(root)
  }

  test("the session's Hadoop conf resolves file:// to the graft classes") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(Root, conf).getClass == classOf[NioLocalFileSystem])
    assert(FileSystem.get(Root, spark.sessionState.newHadoopConf()).getClass ==
      classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(Root, conf).getDefaultFileSystem.getClass ==
      classOf[NioLocalFs])
  }
}

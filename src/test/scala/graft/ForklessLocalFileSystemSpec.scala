package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.logging.log4j.core.LoggerContext

import graft.sinks.ForklessLocalFileSystem
import graft.tools.HarnessLog

/** The `file:` FileSystem that sets permissions through `java.nio`:
  * bound in every harness session, and leaving the same mode bits on
  * disk, `.crc` files included, and the same rename rule as the `file:`
  * FileSystem a session gets when nothing binds one. */
class ForklessLocalFileSystemSpec extends SparkSpec {

  private val FileImpl = "fs.file.impl"

  private def fileFs(s: org.apache.spark.sql.SparkSession): FileSystem =
    FileSystem.get(new URI("file:///"), s.sessionState.newHadoopConf())

  /** `unix:mode` includes the sticky bit, which the POSIX view omits. */
  private def mode(p: java.nio.file.Path): String =
    Integer.toOctalString(Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)

  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

  /** Relative path -> mode of everything under `root`. */
  private def modes(root: String): Map[String, String] = {
    val r = Paths.get(root)
    val walk = Files.walk(r)
    try walk.iterator.asScala.filter(_ != r).map(p => r.relativize(p).toString -> mode(p)).toMap
    finally walk.close()
  }

  /** The same operations through `fs` under `root`: implicit parents,
    * explicit mkdirs, checksummed files, and explicit chmods of files
    * and directories (the sticky one takes the stock fallback). */
  private def landTree(fs: FileSystem, root: String): Unit = {
    val r = new Path(root)
    val out = fs.create(new Path(r, "a/b/part-00000.parquet"))
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    assert(fs.mkdirs(new Path(r, "dirs/plain")))
    assert(fs.mkdirs(new Path(r, "dirs/given"), octal("750")))
    Seq("755", "644", "640", "600", "444", "777", "000").foreach { m =>
      val f = new Path(r, s"chmod/f$m")
      val o = fs.create(f)
      try o.write(Array[Byte](7)) finally o.close()
      fs.setPermission(f, octal(m))
    }
    val sticky = new Path(r, "chmod/sticky")
    assert(fs.mkdirs(sticky))
    fs.setPermission(sticky, octal("1777"))
  }

  private def initialized(fs: FileSystem, conf: Configuration): FileSystem = {
    fs.initialize(new URI("file:///"), conf)
    fs
  }

  /** What a session gets for `file:` when nothing binds `fs.file.impl`:
    * the class Hadoop's service registry names (with Spark's bundled
    * jars, Hive's `ProxyLocalFileSystem`, a `LocalFileSystem`). */
  private def stock(conf: Configuration): FileSystem = initialized(
    org.apache.hadoop.util.ReflectionUtils.newInstance(
      FileSystem.getFileSystemClass("file", new Configuration()), conf), conf)

  /** Runs `body`, then puts back the root log level and the loggers
    * `Session.harness` mutes as they were, so later suites log as before. */
  private def keepingLogLevels[A](body: => A): A = {
    val ctx = LoggerContext.getContext(false)
    val conf = ctx.getConfiguration
    val root = conf.getRootLogger.getLevel
    val own = HarnessLog.UnavoidableStreamingWarners.map(n => n -> Option(conf.getLoggers.get(n)).map(_.getLevel))
    try body
    finally {
      conf.getRootLogger.setLevel(root)
      own.foreach {
        case (n, Some(level)) => conf.getLoggerConfig(n).setLevel(level)
        case (n, None) => conf.removeLogger(n)
      }
      ctx.updateLoggers()
    }
  }

  test("the test session's file: FileSystem is the forkless one") {
    val fs = fileFs(spark)
    assert(fs.isInstanceOf[ForklessLocalFileSystem], fs.getClass.getName)
    assert(fs.isInstanceOf[LocalFileSystem])
  }

  test("Session.harness binds it, even where nothing bound it before") {
    val hadoop = spark.sparkContext.hadoopConfiguration
    val bound = Option(hadoop.get(FileImpl))
    // the harness re-applies its runtime confs to this shared session
    val saved = Session.settings(sys.env)._2.map(_._1).distinct.map(k => k -> spark.conf.getOption(k))
    hadoop.unset(FileImpl)
    try keepingLogLevels {
      val s = Session.harness()
      assert(s.sparkContext.hadoopConfiguration.get(FileImpl) === classOf[ForklessLocalFileSystem].getName)
      // a new instance: the JVM's cached `file:` FileSystem predates this test
      val fs = FileSystem.newInstance(new URI("file:///"), s.sessionState.newHadoopConf())
      try assert(fs.isInstanceOf[ForklessLocalFileSystem], fs.getClass.getName) finally fs.close()
    } finally {
      bound.foreach(hadoop.set(FileImpl, _))
      saved.foreach { case (k, v) =>
        if (spark.conf.getOption(k) != v) v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }
  }

  test("a parquet write through the session still leaves .crc files") {
    val dir = Q.scratchDir("forkless-write")
    spark.range(10).write.mode("overwrite").parquet(dir)
    val names = Files.list(Paths.get(dir)).iterator.asScala.map(_.getFileName.toString).toSeq
    val parts = names.filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(parts.nonEmpty)
    parts.foreach(p => assert(names.contains(s".$p.crc"), s"no .crc beside $p in $names"))
  }

  Seq("default umask" -> None, "umask 027" -> Some("027")).foreach { case (label, umask) =>
    test(s"files, .crc files and directories get the stock modes ($label)") {
      val conf = new Configuration()
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      val stockRoot = Q.scratchDir("stock-fs")
      val forklessRoot = Q.scratchDir("forkless-fs")
      landTree(stock(conf), stockRoot)
      landTree(initialized(new ForklessLocalFileSystem(), conf), forklessRoot)
      val forkless = modes(forklessRoot)
      assert(forkless === modes(stockRoot))
      assert(forkless.contains("a/b/.part-00000.parquet.crc"))
      assert(forkless("chmod/sticky") === "1777")
      umask.foreach(_ => assert(forkless("dirs/plain") === "750" && forkless("a/b/part-00000.parquet") === "640"))
    }
  }

  test("rename refuses to replace a file, as the unbound default does") {
    def renames(fs: FileSystem): Seq[Any] = {
      val r = new Path(Q.scratchDir("rename"))
      def put(name: String, b: Byte): Path = {
        val p = new Path(r, name)
        val o = fs.create(p)
        try o.write(Array(b)) finally o.close()
        p
      }
      val (a, b) = (put("a", 1), put("b", 2))
      val onto = fs.rename(a, b)
      val kept = { val in = fs.open(b); try in.read() finally in.close() }
      Seq(onto, kept, fs.rename(a, new Path(r, "c")), fs.exists(new Path(r, "c")))
    }
    val conf = new Configuration()
    val forkless = renames(initialized(new ForklessLocalFileSystem(), conf))
    assert(forkless === renames(stock(conf)))
    assert(forkless === Seq(false, 2, true, true))
  }
}

package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.{RecordedEvent, RecordingStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.iceberg.{IcebergScan, IcebergWriter, NioLocalFileSystem}

/** The local commit leg starts no OS process: the session's `file:`
  * filesystem is [[NioLocalFileSystem]] (permissions through java.nio)
  * and the writer lists table trees with `listStatus`, so the `chmod` per
  * created file or directory and the `ls -ld` per listed entry that stock
  * Hadoop runs without native libhadoop are gone, while the modes stay
  * the ones stock Hadoop gives under the session's umask. */
class ForkFreeCommitSpec extends AnyFunSuite with BeforeAndAfterAll {

  // a non-default umask, so the modes below prove it is applied
  lazy val spark: SparkSession =
    GraftSessions.builder("local[2]", "2").appName("graft-fork-free")
      .config("spark.hadoop.fs.permissions.umask-mode", "077").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private def newTable(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  private def rows(from: Long, to: Long): DataFrame =
    spark.range(from, to).select(col("id"), (col("id") % 7).as("grp"),
      concat(lit("p-"), col("id")).as("payload"))

  /** Every `jdk.ProcessStart` this JVM records while `body` runs, as
    * "command <- first frames". A sentinel process started after `body`
    * marks the point up to which the stream has delivered events. Starts
    * run by the JDK's Cleaner are left out: they clean up objects that
    * earlier suites left unreachable (Spark's `ArtifactManager` removes a
    * collected session's artifact directory with `rm -rf`), whenever GC
    * gets to them. */
  private def processStarts(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[RecordedEvent]()
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.onEvent("jdk.ProcessStart", e => seen.add(e))
      rs.startAsync()
      body
      val sentinel = s"graft-fork-sentinel-${System.nanoTime}"
      new ProcessBuilder("true", sentinel).start().waitFor()
      def command(e: RecordedEvent) = e.getString("command")
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(command(_).contains(sentinel)) &&
             System.nanoTime < deadline) Thread.sleep(50)
      assert(seen.asScala.exists(command(_).contains(sentinel)),
        "the JFR stream never delivered the sentinel process start")
      // the stream can deliver an event twice
      seen.asScala.toSeq.filterNot(command(_).contains(sentinel))
        .distinctBy(e => (e.getStartTime, command(e)))
        .flatMap { e =>
          val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
            .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
          if (frames.exists(_.startsWith("jdk.internal.ref.CleanerImpl"))) None
          else Some(s"${command(e)} <- ${frames.take(12).mkString(" < ")}")
        }
    } finally rs.close()
  }

  /** The v2 and v3 commit sequences the recording covers. */
  private def v2Sequence(table: String): Unit = {
    IcebergWriter.write(rows(0, 400), table, formatVersion = 2)
    IcebergWriter.delete(spark, table, col("id") < 20)
    IcebergWriter.update(spark, table, col("id").between(20, 29),
      Map("payload" -> lit("updated")))
    IcebergWriter.merge(spark, table, rows(390, 420), Seq("id"))
    IcebergWriter.deleteEquality(spark, table, rows(100, 110).select("id"))
    IcebergWriter.rewritePositionDeleteFiles(spark, table)
    IcebergWriter.compact(spark, table)
    IcebergWriter.expireSnapshots(spark, table, keep = 2)
    IcebergWriter.listOrphanFiles(spark, table).collect()
  }

  private def v3Sequence(table: String): Unit = {
    IcebergWriter.write(rows(0, 400), table, formatVersion = 3)
    IcebergWriter.delete(spark, table, col("id") < 20)
    IcebergWriter.update(spark, table, col("id").between(20, 29),
      Map("payload" -> lit("updated")))
  }

  test("a table path resolves to NioLocalFileSystem, even after a stock FS was cached") {
    // Hadoop's FileSystem cache is keyed by scheme and user, not conf: a
    // plain Configuration caches the stock class for `file:` first
    assert(!FileSystem.get(new URI("file:///"), new Configuration())
      .isInstanceOf[NioLocalFileSystem])
    val fs = new Path(newTable("graft_fs_")).getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
  }

  test("v2 and v3 local commit sequences start no process") {
    // one-time JVM probes, loaded before recording: Hadoop's Shell checks
    // for `setsid`, Spark's ProcfsMetricsGetter (first executor heartbeat)
    // runs `getconf PAGESIZE`
    Seq("org.apache.hadoop.util.Shell", "org.apache.spark.executor.ProcfsMetricsGetter$")
      .foreach(Class.forName)
    val v2 = newTable("graft_fork_v2_")
    val v3 = newTable("graft_fork_v3_")
    val started = processStarts { v2Sequence(v2); v3Sequence(v3) }
    assert(started.isEmpty, started.mkString("\n"))
    // the sequences really committed: 400 written, 20 deleted, 20 merged
    // in, 10 equality-deleted
    assert(IcebergScan.scan(spark, v2).count() === 390)
    assert(IcebergScan.scan(spark, v3).count() === 380)
  }

  /** (category, mode) of every entry under `root`: "dir", or a file's
    * name from its first dot on (".parquet", ".parquet.crc", ".avro", ...). */
  private def modes(root: String): Set[(String, Int)] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.filter(_ != Paths.get(root)).map { p =>
      val mode = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("777")
      val name = p.getFileName.toString.stripPrefix(".")
      val kind = if (Files.isDirectory(p)) "dir" else name.substring(math.max(0, name.indexOf('.')))
      kind -> mode
    }.toSet finally walk.close()
  }

  test("committed files and directories carry stock Hadoop's modes under the session umask") {
    // a v3 write and DV delete make every kind of file a commit writes
    def commits(table: String): Unit = {
      IcebergWriter.write(rows(0, 200), table, formatVersion = 3)
      IcebergWriter.delete(spark, table, col("id") < 10)
    }
    val (stock, nio) = (newTable("graft_perm_stock_"), newTable("graft_perm_nio_"))
    spark.conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    try {
      assert(new Path(stock).getFileSystem(spark.sessionState.newHadoopConf())
        .getClass === classOf[LocalFileSystem])
      commits(stock)
    } finally spark.conf.unset("fs.file.impl")
    commits(nio)
    assert(modes(nio) === modes(stock))
    // umask 077: directories 0700; every file a commit makes (data,
    // checksum, manifest, DV, hint, and v{N}.metadata.json from the
    // writer's own O_EXCL create) 0600.
    val all = modes(nio)
    Seq(".parquet", ".parquet.crc", ".avro", ".avro.crc", ".puffin", ".text", ".metadata.json")
      .foreach(k => assert(all.exists(_._1.endsWith(k)), s"no $k file in $all"))
    assert(all.filter(_._1 == "dir").map(_._2) === Set(octal("700")))
    assert(all.filterNot(_._1 == "dir").map(_._2) === Set(octal("600")))
  }

  test("explicit setPermission lands, sticky bit included") {
    val fs = new Path("file:///").getFileSystem(spark.sessionState.newHadoopConf())
    val dir = new Path(Files.createTempDirectory("graft_sticky_").toString, "d")
    val file = new Path(dir, "f")
    fs.mkdirs(dir)
    fs.create(file).close()
    def mode(p: Path) = Files.getAttribute(Paths.get(p.toUri.getPath), "unix:mode")
      .asInstanceOf[Int] & octal("7777")
    fs.setPermission(file, new FsPermission(octal("640").toShort))
    assert(mode(file) === octal("640"))
    fs.setPermission(dir, new FsPermission(octal("1777").toShort))
    assert(mode(dir) === octal("1777"))
  }
}

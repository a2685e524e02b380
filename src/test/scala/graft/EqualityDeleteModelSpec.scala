package graft

import java.nio.file.Files
import java.time.LocalDate

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.iceberg.{IcebergScan, IcebergWriter}
import graft.iceberg.IcebergScan.Options

/** Seeded differential check of equality deletes on every read path.
  * Random sequences of write / merge / deleteEquality / delete / update /
  * compact run against tables the engine's own writer builds (no
  * fixtures) and against a plain-Scala model of the live rows. After
  * every step these must all equal the model:
  *
  *  - the spliced scan (equality deletes through the per-file filter),
  *    with code generation on and off,
  *  - the spliced scan with `broadcastDeleteThreshold = 0` (every group
  *    above the threshold: the retained anti join),
  *  - the keyed scan (`spark.sql.sources.v2.bucketing.enabled`) of the
  *    partitioned tables, which applies the deletes itself — every key
  *    set, the double key included — with the spliced scan's assignment,
  *  - the changelog from the previous step's snapshot, against the
  *    model's multiset diff (inserts and deletes), at both thresholds:
  *    at 0 every key set takes the semi join, so on the mixed-key tables
  *    a row two key sets delete must be reported once,
  *  - the metadata row count, where it answers.
  *
  * Tables cover format v2 and v3, unpartitioned and `day(dt)`, a key `k`
  * widened from int to long mid-sequence, null keys, and — on the
  * mixed-key tables — a second key-column set `(s, dt)` and a double key
  * `d` holding -0.0 / 0.0 / NaN, where the probe must agree with the anti
  * join's `<=>` (-0.0 = 0.0, NaN = NaN). */
class EqualityDeleteModelSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession =
    GraftSessions.builder("local[2]", "2")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .appName("graft-eq-model").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** A model row; `k` and `d` may be null (None). */
  private case class R(id: Long, k: Option[Long], s: Option[String],
                       dt: LocalDate, d: Option[Double], v: Long)

  private val Days = (0 to 2).map(LocalDate.of(2024, 1, 10).plusDays(_))
  private val Doubles = Seq(Some(0.0), Some(-0.0), Some(Double.NaN), Some(1.5), None)

  /** NaN-safe, -0.0-preserving row identity for comparisons. */
  private def show(r: R): String =
    s"${r.id}|${r.k}|${r.s}|${r.dt}|${r.d.map(java.lang.Double.toString)}|${r.v}"

  private def show(row: Row): String = {
    def opt[A](i: Int)(f: Int => A): Option[A] = if (row.isNullAt(i)) None else Some(f(i))
    show(R(row.getLong(0), opt(1)(i => row.get(i).asInstanceOf[Number].longValue),
      opt(2)(row.getString), row.getDate(3).toLocalDate, opt(4)(row.getDouble),
      row.getLong(5)))
  }

  /** `<=>` on doubles as Spark's join keys see them. */
  private def normD(d: Option[Double]): Option[String] = d.map {
    case x if x.isNaN => "NaN"
    case x if x == 0.0 => "0.0"
    case x => java.lang.Double.toString(x)
  }

  private final class Run(seed: Long, version: Int, partitioned: Boolean, mixedKeys: Boolean) {
    val rnd = new Random(seed)
    val table: String = Files.createTempDirectory("graft_eqmodel_").toString + "/t"
    var model: Vector[R] = Vector.empty
    var nextId = 0L
    var keyType: DataType = IntegerType
    var keyedReads = 0
    var created = false
    /** The snapshot and model rows of the previous check. */
    var lastSnapshot: Option[Long] = None
    var lastModel: Vector[R] = Vector.empty

    def schema: StructType = StructType(Seq(
      StructField("id", LongType), StructField("k", keyType),
      StructField("s", StringType), StructField("dt", DateType),
      StructField("d", DoubleType), StructField("v", LongType)))

    /** A key value in the column's current type (int before widening). */
    def keyValue(k: Option[Long]): Any = k match {
      case Some(x) if keyType == IntegerType => x.toInt
      case Some(x) => x
      case None => null
    }

    def frame(rows: Seq[R]): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { r =>
        Row(r.id, keyValue(r.k), r.s.orNull, java.sql.Date.valueOf(r.dt), r.d.map(Double.box).orNull, r.v)
      }, 1), schema)

    def randKey(): Option[Long] = if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(8).toLong)
    def randRow(k: Option[Long]): R = {
      nextId += 1
      R(nextId, k, if (rnd.nextInt(4) == 0) None else Some(Seq("a", "b")(rnd.nextInt(2))),
        Days(rnd.nextInt(Days.size)), Doubles(rnd.nextInt(Doubles.size)), rnd.nextInt(1000).toLong)
    }

    def write(n: Int): String = {
      val rows = Seq.fill(n)(randRow(randKey()))
      if (created) IcebergWriter.write(frame(rows), table)
      else IcebergWriter.write(frame(rows), table, formatVersion = version,
        partitionBy = if (partitioned) Seq("dt" -> "day") else Seq.empty)
      created = true
      model ++= rows
      s"write($n)"
    }

    def merge(): String = {
      val keys = Seq.fill(4)(randKey()).distinct
      val rows = keys.map(randRow)
      IcebergWriter.merge(spark, table, frame(rows), Seq("k"))
      model = model.filterNot(r => keys.contains(r.k)) ++ rows
      s"merge(k in ${keys.mkString(",")})"
    }

    def deleteK(): String = {
      val keys = Seq.fill(3)(randKey()).distinct
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
        keys.map(k => Row(keyValue(k))), 1),
        StructType(Seq(StructField("k", keyType))))
      IcebergWriter.deleteEquality(spark, table, df)
      model = model.filterNot(r => keys.contains(r.k))
      s"deleteEquality(k in ${keys.mkString(",")})"
    }

    def deleteSDt(): String = {
      val pairs = Seq.fill(2)((if (rnd.nextInt(3) == 0) None else Some(Seq("a", "b")(rnd.nextInt(2))),
        Days(rnd.nextInt(Days.size)))).distinct
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
        pairs.map { case (s, dt) => Row(s.orNull, java.sql.Date.valueOf(dt)) }, 1),
        StructType(Seq(StructField("s", StringType), StructField("dt", DateType))))
      IcebergWriter.deleteEquality(spark, table, df)
      model = model.filterNot(r => pairs.contains((r.s, r.dt)))
      s"deleteEquality((s, dt) in ${pairs.mkString(",")})"
    }

    def deleteD(): String = {
      val keys = Seq(Seq(Some(-0.0)), Seq(Some(Double.NaN)), Seq(Some(0.0), None),
        Seq(Some(2.5)))(rnd.nextInt(4))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
        keys.map(d => Row(d.map(Double.box).orNull)), 1),
        StructType(Seq(StructField("d", DoubleType))))
      IcebergWriter.deleteEquality(spark, table, df)
      val gone = keys.map(normD).toSet
      model = model.filterNot(r => gone(normD(r.d)))
      s"deleteEquality(d in ${keys.mkString(",")})"
    }

    def delete(): String = {
      val m = rnd.nextInt(5)
      IcebergWriter.delete(spark, table, col("v") % 5 === m)
      model = model.filterNot(_.v % 5 == m)
      s"delete(v % 5 = $m)"
    }

    def update(): String = {
      val m = rnd.nextInt(5)
      IcebergWriter.update(spark, table, col("v") % 5 === m,
        Map("v" -> (col("v") + 1001)))
      model = model.map(r => if (r.v % 5 == m) r.copy(v = r.v + 1001) else r)
      s"update(v % 5 = $m)"
    }

    def compact(): String = { IcebergWriter.compact(spark, table); "compact" }

    def widen(): String = { keyType = LongType; write(4) + " widening k to bigint" }

    def step(i: Int): String =
      if (i == 0) write(12)
      else if (i == 1) merge()
      else if (i == 2) deleteK()
      else if (i == 3) widen()
      else {
        val ops: Seq[() => String] = Seq(() => write(4), () => merge(), () => deleteK(),
          () => deleteK(), () => delete(), () => update(), () => compact()) ++
          (if (mixedKeys) Seq(() => deleteSDt(), () => deleteD(), () => deleteD()) else Seq.empty)
        ops(rnd.nextInt(ops.size))()
      }

    /** `body` with code generation off: the filter's interpreted path. */
    def interpreted[A](body: => A): A = {
      val keys = Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally keys.foreach { case (k, _) => spark.conf.unset(k) }
    }

    def rows(df: DataFrame): Seq[String] =
      df.select("id", "k", "s", "dt", "d", "v").collect().map(show).toSeq.sorted

    def check(history: Seq[String]): Unit = {
      val want = model.map(show).sorted
      def same(what: String, got: Seq[String]): Unit =
        assert(got === want, s"$what differs from the model after:\n  " +
          history.mkString("\n  ") + s"\nmissing ${want.diff(got)}, extra ${got.diff(want)}")
      same("spliced scan", rows(IcebergScan.scan(spark, table)))
      same("anti-join scan",
        rows(IcebergScan.scan(spark, table, Options(broadcastDeleteThreshold = 0L))))
      same("interpreted spliced scan", interpreted(rows(IcebergScan.scan(spark, table))))
      if (partitioned) {
        val keyed = spark.read.format("graft").load(table).filter(col("dt") >= lit(Days.head))
        val got = rows(keyed)
        if (keyed.queryExecution.executedPlan.toString.contains("graft-keyed")) keyedReads += 1
        same("keyed scan", got)
      }
      val snapshot = IcebergScan.selectSnapshot(spark, table,
        Options(skipSchemaInference = true)).snapshotId
      // the changelog's net diff groups by the whole row, and grouping
      // normalizes -0.0 to 0.0
      def diff(a: Vector[R], b: Vector[R]) = {
        def norm(r: R) = show(r.copy(d = r.d.map(x => if (x == 0.0) 0.0 else x)))
        a.map(norm).diff(b.map(norm)).sorted
      }
      lastSnapshot.foreach { from =>
        for (opts <- Seq(Options(), Options(broadcastDeleteThreshold = 0L))) {
          val log = IcebergScan.changelog(spark, table, from, Some(snapshot), opts)
            .select("id", "k", "s", "dt", "d", "v", "_change_type").collect()
          def changes(kind: String) =
            log.filter(_.getString(6) == kind).map(show).toSeq.sorted
          val what = s"changelog (threshold ${opts.broadcastDeleteThreshold}) of the last step"
          assert(changes("insert") === diff(model, lastModel), s"$what: inserts after:\n  " +
            history.mkString("\n  "))
          assert(changes("delete") === diff(lastModel, model), s"$what: deletes after:\n  " +
            history.mkString("\n  "))
        }
      }
      lastSnapshot = Some(snapshot)
      lastModel = model
      val counted = IcebergScan.metadataRowCount(spark, table)
      assert(counted.forall(_ == model.size), s"metadata count $counted, model ${model.size}")
    }
  }

  private val Steps = 8

  for {
    version <- Seq(2, 3)
    partitioned <- Seq(false, true)
    mixedKeys <- Seq(false, true)
  } {
    val name = s"v$version ${if (partitioned) "day(dt)" else "unpartitioned"} " +
      s"${if (mixedKeys) "three key sets incl. double" else "one key set"}"
    test(s"equality deletes agree with the model: $name") {
      val seed = version * 100L + (if (partitioned) 10 else 0) + (if (mixedKeys) 1 else 0)
      val run = new Run(seed, version, partitioned, mixedKeys)
      var history = Vector.empty[String]
      (0 until Steps).foreach { i =>
        history :+= run.step(i)
        run.check(history)
      }
      if (partitioned)
        assert(run.keyedReads > 0, "no read took the keyed scan")
    }
  }
}

package perfbench

import graft.iceberg.{IcebergScan, IcebergWriter}
import org.apache.spark.sql.{Column, Row, functions}
import org.apache.spark.sql.functions._

import java.time.LocalDateTime
import scala.collection.mutable

/** write_mix: the IcebergWriter commit leg beside reads. Every commit is
  * followed by a read-after-write aggregate, which has to plan a snapshot
  * no cache has seen; every round ends with compaction and snapshot
  * expiry, which show up as tail latency. Reads are checked against a
  * plain-Scala model of the live rows (key -> price in cents).
  *
  * The order of commit kinds is fixed: a read's cost depends on the
  * deletes written since the last compaction, so a seeded order would
  * move read latency between runs. The seed draws every key, range and
  * row. */
final class WriteMix(h: Harness) extends Workload {
  import h.spark
  override def minRounds: Int = 3
  // after a single warm-up round, the first timed round still ran up to a
  // quarter slower than the rounds after it
  override def warmupRounds: Int = 2

  private val src = spark.read.parquet(s"${h.dataDir}/orders.parquet")
  private val schema = src.schema
  private val initial: Map[Long, Long] =
    src.select(col("o_orderkey"), cents(col("o_totalprice"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  private val model = mutable.LongMap[Long]()
  private var nextKey = 0L
  private var table = ""

  def setup(h: Harness, rep: Int): Unit = {
    if (table.nonEmpty) dropDir(new java.io.File(table))
    table = s"${h.workDir}/tables/r$rep/orders"
    h.setupCommit("append", table)(IcebergWriter.write(src, table, formatVersion = 3))
    model.clear()
    model ++= initial
    nextKey = initial.keys.max + 1
  }

  private def cents(c: Column): Column = functions.round(c * 100).cast("long")

  private def dropDir(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(dropDir))
    f.delete()
  }

  private def liveKey(): Long = {
    var k = h.rng.nextLong(nextKey)
    while (!model.contains(k)) k = h.rng.nextLong(nextKey)
    k
  }

  private def row(key: Long, priceC: Long): Row = Row(key, h.rng.nextLong(15000L),
    "O", priceC / 100.0, LocalDateTime.of(1995, 1, 1, 0, 0).plusDays(h.rng.nextInt(2400)),
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(h.rng.nextInt(5)))

  private def frame(rows: Seq[Row]) = spark.createDataFrame(
    spark.sparkContext.parallelize(rows, 1), schema)

  private def changed(n: Int): Unit = if (h.recording) h.totals("rows_changed") += n

  private def append(): Unit = {
    val rows = (0 until 200).map(i => row(nextKey + i, 100000L + h.rng.nextLong(40000000L)))
    nextKey += rows.size
    h.write("append", table)(IcebergWriter.write(frame(rows), table)) { _ =>
      rows.foreach(r => model(r.getLong(0)) = math.round(r.getDouble(3) * 100))
      changed(rows.size); None
    }
  }

  private def deleteRange(): Unit = {
    val a = h.rng.nextLong(nextKey - 300)
    val hit = (a until a + 300).filter(model.contains)
    h.write("delete", table)(IcebergWriter.delete(spark, table,
        col("o_orderkey") >= a && col("o_orderkey") < a + 300)) { _ =>
      hit.foreach(model.remove); changed(hit.size); None
    }
  }

  private def update(): Unit = {
    val a = h.rng.nextLong(nextKey - 200)
    val hit = (a until a + 200).filter(model.contains)
    h.write("update", table)(IcebergWriter.update(spark, table,
        col("o_orderkey") >= a && col("o_orderkey") < a + 200,
        Map("o_totalprice" -> (col("o_totalprice") + 1.0)))) { _ =>
      hit.foreach(k => model(k) = model(k) + 100); changed(hit.size); None
    }
  }

  private def merge(): Unit = {
    val keys = (Seq.fill(100)(liveKey()) ++ (nextKey until nextKey + 50)).distinct
    nextKey += 50
    val rows = keys.map(k => row(k, 100000L + h.rng.nextLong(40000000L)))
    h.write("merge", table)(IcebergWriter.merge(spark, table, frame(rows), Seq("o_orderkey"))) { _ =>
      rows.foreach(r => model(r.getLong(0)) = math.round(r.getDouble(3) * 100))
      changed(rows.size); None
    }
  }

  private def deleteEquality(): Unit = {
    val keys = Seq.fill(100)(liveKey()).distinct
    val df = spark.createDataFrame(spark.sparkContext.parallelize(keys.map(Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(schema("o_orderkey"))))
    h.write("delete_equality", table)(IcebergWriter.deleteEquality(spark, table, df)) { _ =>
      keys.foreach(model.remove); changed(keys.size); None
    }
  }

  /** A read-after-write aggregate; its kind names what it follows, since
    * each leaves a different mix of data and delete files to read. */
  private def read(after: String): Unit =
    h.read(s"read_after_$after", Some(table)) {
      h.collectRows(h.plan(IcebergScan.scan(spark, table))
        .agg(count(lit(1)), sum(cents(col("o_totalprice"))), sum(col("o_orderkey"))))
    } { rows =>
      h.liveRows(rows.head.getLong(0))
      val want = s"[${model.size},${model.values.sum},${model.keys.sum}]"
      val got = rows.head.toString
      if (got == want) None else Some(s"read: got $got want $want")
    }

  def round(h: Harness): Unit = {
    Seq[(String, () => Unit)]("append" -> append _, "delete" -> deleteRange _,
      "update" -> update _, "merge" -> merge _, "delete_equality" -> deleteEquality _)
      .foreach { case (kind, commit) => commit(); read(kind) }
    h.write("compact", table)(IcebergWriter.compact(spark, table))(_ => None)
    h.write("expire", table)(IcebergWriter.expireSnapshots(spark, table, 5))(_ => None)
    read("maintenance")
  }

  override def probes(h: Harness): Unit = h.metadataProbes(table)

  override def extras(h: Harness): Map[String, Double] = Map(
    "write_bytes_per_row" -> h.totals("bytes_written") / h.totals("rows_changed").max(1.0),
    "stored_bytes_per_row" -> DirUsage.of(table).total.toDouble / model.size)
}

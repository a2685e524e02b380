package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.iceberg.{IcebergScan, IcebergWriter, ManifestReader, IcebergIO, IcebergMetadataParser}
import graft.iceberg.IcebergScan.Options

/** Iceberg spec-v3 deletion vectors: format-version 3 tables, DV write
  * (delete/update), the at-most-one-live-DV-per-file invariant, the
  * DV-supersedes-position-deletes read rule, and v2→v3 upgrade. */
class DeletionVectorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val Sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession =
    GraftSessions.builder("local[4]", "4").appName("graft-dv").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def newTable(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t_ice"

  private def latestInfo(table: String) = {
    val conf = spark.sessionState.newHadoopConf()
    val hint = IcebergIO.readString(s"$table/metadata/version-hint.text", conf).trim.toInt
    IcebergMetadataParser.parseInfo(
      IcebergIO.readString(s"$table/metadata/v$hint.metadata.json", conf))
  }

  /** Live position-delete entries (content=1, status!=2) of the CURRENT
    * snapshot, split (dvEntries, parquetEntries). */
  private def liveDeletes(table: String) = {
    val conf = spark.sessionState.newHadoopConf()
    val info = latestInfo(table)
    val snap = IcebergMetadataParser.latest(info)
    val meta = ManifestReader.loadTable(table, snap, conf, allowMovedPaths = false)
    val dels = meta.entries.collect {
      case (m, es) if m.content == 1 =>
        es.filter(e => e.status != 2 && e.content == 1)
    }.flatten
    (dels.filter(_.isDV), dels.filterNot(_.isDV))
  }

  test("v3 table: delete writes a deletion vector, scan subtracts it") {
    val table = newTable("graft_dv_")
    val orders = Tables.load(spark, Sf, "orders").limit(800)
    IcebergWriter.write(orders, table, formatVersion = 3)
    assert(latestInfo(table).formatVersion === 3)

    val keys = orders.select("o_orderkey").as[Long](spark.implicits.newLongEncoder)
      .collect().sorted.take(100).toSet
    val expected = IcebergScan.scan(spark, table)
      .filter(!col("o_orderkey").isin(keys.toSeq: _*)).count()
    IcebergWriter.delete(spark, table, col("o_orderkey").isin(keys.toSeq: _*))

    assert(IcebergScan.scan(spark, table).count() === expected)
    // tombstones are puffin DVs, not parquet delete files
    val (dvs, parquet) = liveDeletes(table)
    assert(parquet.isEmpty)
    assert(dvs.nonEmpty)
    assert(dvs.forall(e => e.fileFormat == "PUFFIN" && e.referencedDataFile.isDefined
      && e.contentOffset.isDefined && e.contentSizeInBytes.isDefined))
    // list_files surfaces the puffin path as a delete file
    val files = IcebergScan.scan(spark, table, Options(mode = "list_files"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(files.exists { case (p, kind) => p.endsWith(".puffin") && kind == "delete" })
  }

  test("second delete merges into ONE live DV per file (supersede)") {
    val table = newTable("graft_dv2_")
    val orders = Tables.load(spark, Sf, "orders").limit(500)
    IcebergWriter.write(orders, table, formatVersion = 3)
    val all = orders.select("o_orderkey").as[Long](spark.implicits.newLongEncoder)
      .collect().sorted
    val first = all.take(60).toSet
    // overlap: second delete re-hits 30 of the first and 40 fresh keys
    val second = all.slice(30, 100).toSet

    IcebergWriter.delete(spark, table, col("o_orderkey").isin(first.toSeq: _*))
    IcebergWriter.delete(spark, table, col("o_orderkey").isin(second.toSeq: _*))

    val deleted = first ++ second
    val got = IcebergScan.scan(spark, table)
    assert(got.count() === orders.count() - deleted.size)
    assert(got.filter(col("o_orderkey").isin(deleted.toSeq: _*)).count() === 0)

    // the invariant: at most one LIVE DV per referenced data file, and its
    // cardinality covers both commits' tombstones for that file
    val (dvs, _) = liveDeletes(table)
    val perFile = dvs.groupBy(_.referencedDataFile.get)
    assert(perFile.values.forall(_.size == 1),
      s"multiple live DVs: ${perFile.view.mapValues(_.size).toMap}")
    assert(dvs.map(_.recordCount).sum === deleted.size)
  }

  test("update on a v3 table tombstones via DV and rewrites rows") {
    val table = newTable("graft_dv3_")
    val orders = Tables.load(spark, Sf, "orders").limit(400)
    IcebergWriter.write(orders, table, formatVersion = 3)
    val cut = orders.select("o_orderkey").as[Long](spark.implicits.newLongEncoder)
      .collect().sorted.apply(50)
    IcebergWriter.update(spark, table, col("o_orderkey") <= cut,
      Map("o_orderpriority" -> lit("0-UPDATED")))
    val got = IcebergScan.scan(spark, table)
    assert(got.count() === orders.count())
    val (dvs, parquet) = liveDeletes(table)
    assert(parquet.isEmpty && dvs.nonEmpty)
    assert(got.filter(col("o_orderpriority") === "0-UPDATED").count() ===
      orders.filter(col("o_orderkey") <= cut).count())
  }

  test("time travel reads the pre-delete snapshot without the DV") {
    val table = newTable("graft_dv4_")
    val orders = Tables.load(spark, Sf, "orders").limit(300)
    val snap1 = IcebergWriter.write(orders, table, formatVersion = 3)
    val cut = orders.select("o_orderkey").as[Long](spark.implicits.newLongEncoder)
      .collect().sorted.apply(40)
    IcebergWriter.delete(spark, table, col("o_orderkey") <= cut)
    assert(IcebergScan.scan(spark, table, Options(snapshotId = Some(snap1)))
      .count() === orders.count())
    assert(IcebergScan.scan(spark, table).count() ===
      orders.filter(col("o_orderkey") > cut).count())
  }

  test("v2→v3 upgrade rewrites parquet position deletes into DVs") {
    val table = newTable("graft_dv5_")
    val orders = Tables.load(spark, Sf, "orders").limit(600)
    IcebergWriter.write(orders, table) // v2
    val sorted = orders.select("o_orderkey").as[Long](spark.implicits.newLongEncoder)
      .collect().sorted
    val cut = sorted(80)
    IcebergWriter.delete(spark, table, col("o_orderkey") <= cut)
    val (dvsBefore, parquetBefore) = liveDeletes(table)
    assert(dvsBefore.isEmpty && parquetBefore.nonEmpty)
    val expected = IcebergScan.scan(spark, table).count()
    val preUpgrade = IcebergScan.snapshots(spark, table)
      .orderBy(desc("sequence_number")).limit(1).collect()(0).getLong(1)

    IcebergWriter.upgradeFormat(spark, table)

    assert(latestInfo(table).formatVersion === 3)
    // same visible rows, but the tombstones are now DVs
    assert(IcebergScan.scan(spark, table).count() === expected)
    val (dvs, parquet) = liveDeletes(table)
    assert(parquet.isEmpty && dvs.nonEmpty)
    assert(dvs.map(_.recordCount).sum === orders.count() - expected)
    // the pre-upgrade snapshot still reads under v2 rules (parquet deletes)
    assert(IcebergScan.scan(spark, table, Options(snapshotId = Some(preUpgrade)))
      .count() === expected)
    // upgrade is idempotent
    IcebergWriter.upgradeFormat(spark, table)
    assert(IcebergScan.scan(spark, table).count() === expected)
    // and further deletes land as DVs merged with the upgraded ones
    val cut2 = sorted(120)
    IcebergWriter.delete(spark, table, col("o_orderkey") <= cut2)
    assert(IcebergScan.scan(spark, table).count() ===
      orders.filter(col("o_orderkey") > cut2).count())
    val (dvs2, parquet2) = liveDeletes(table)
    assert(parquet2.isEmpty)
    assert(dvs2.groupBy(_.referencedDataFile.get).values.forall(_.size == 1))
  }

  test("compact merges DVs away; changelog attributes DV deletions") {
    val table = newTable("graft_dv7_")
    val orders = Tables.load(spark, Sf, "orders").limit(400)
    val snap1 = IcebergWriter.write(orders, table, formatVersion = 3)
    val sorted = orders.select("o_orderkey").as[Long](spark.implicits.newLongEncoder)
      .collect().sorted
    val cut = sorted(60)
    IcebergWriter.delete(spark, table, col("o_orderkey") <= cut)

    // per-window CDC: the DV commit shows exactly the tombstoned rows as
    // deletes, none of the pre-window (never-deleted) rows
    val changes = IcebergScan.changelog(spark, table, fromSnapshotId = snap1)
    val dels = changes.filter(col("_change_type") === "delete")
    assert(dels.count() === orders.filter(col("o_orderkey") <= cut).count())
    assert(dels.filter(col("o_orderkey") > cut).count() === 0)

    // compaction rewrites live rows and drops the DVs from metadata
    val expected = orders.filter(col("o_orderkey") > cut).count()
    IcebergWriter.compact(spark, table)
    assert(IcebergScan.scan(spark, table).count() === expected)
    val (dvs, parquet) = liveDeletes(table)
    assert(dvs.isEmpty && parquet.isEmpty)
    // no puffin file remains in list_files
    val files = IcebergScan.scan(spark, table, Options(mode = "list_files"))
      .collect().map(_.getString(0))
    assert(!files.exists(_.endsWith(".puffin")))
  }

  test("partitioned v3 table: DV stays partition-local; pruned scans skip it") {
    val table = newTable("graft_dv8_")
    val orders = Tables.load(spark, Sf, "orders").limit(600)
      .withColumn("bucket", (col("o_orderkey") % 2).cast("int"))
    IcebergWriter.write(orders.repartition(col("bucket")), table,
      partitionBy = Seq("bucket" -> "identity"), formatVersion = 3)
    val sorted = orders.filter(col("bucket") === 0)
      .select("o_orderkey").as[Long](spark.implicits.newLongEncoder).collect().sorted
    val cut = sorted(20)
    IcebergWriter.delete(spark, table,
      col("bucket") === 0 && col("o_orderkey") <= cut)

    // full scan subtracts; the untouched partition is intact
    assert(IcebergScan.scan(spark, table).count() ===
      orders.count() - orders.filter(col("bucket") === 0 && col("o_orderkey") <= cut).count())
    // a pruned scan of partition 1 plans ZERO puffin files
    val files = IcebergScan.scanFiltered(spark, table, col("bucket") === 1,
        Options(mode = "list_files"))
      .collect().map(_.getString(0))
    assert(files.nonEmpty && !files.exists(_.endsWith(".puffin")))
    // and the pruned scan's rows are exact
    assert(IcebergScan.scanFiltered(spark, table, col("bucket") === 1).count() ===
      orders.filter(col("bucket") === 1).count())
  }

  test("superseded puffin files surface as orphans once history expires") {
    val table = newTable("graft_dv9_")
    val orders = Tables.load(spark, Sf, "orders").limit(300)
    IcebergWriter.write(orders, table, formatVersion = 3)
    val sorted = orders.select("o_orderkey").as[Long](spark.implicits.newLongEncoder)
      .collect().sorted
    IcebergWriter.delete(spark, table, col("o_orderkey") <= sorted(30))
    IcebergWriter.delete(spark, table, col("o_orderkey") <= sorted(60)) // supersedes
    // both puffin files referenced while history is retained
    assert(IcebergWriter.listOrphanFiles(spark, table)
      .collect().map(_.getString(0)).isEmpty)
    IcebergWriter.expireSnapshots(spark, table, keep = 1)
    val orphans = IcebergWriter.listOrphanFiles(spark, table)
      .collect().map(_.getString(0))
    assert(orphans.exists(_.endsWith(".puffin")),
      s"expected the superseded puffin among orphans, got ${orphans.toSeq}")
    // the LIVE puffin is not orphaned: the scan still subtracts correctly
    assert(IcebergScan.scan(spark, table).count() ===
      orders.filter(col("o_orderkey") > sorted(60)).count())
  }

  test("v2 tables still write parquet position deletes (no regression)") {
    val table = newTable("graft_dv6_")
    val orders = Tables.load(spark, Sf, "orders").limit(200)
    IcebergWriter.write(orders, table)
    val cut = orders.select("o_orderkey").as[Long](spark.implicits.newLongEncoder)
      .collect().sorted.apply(20)
    IcebergWriter.delete(spark, table, col("o_orderkey") <= cut)
    val (dvs, parquet) = liveDeletes(table)
    assert(dvs.isEmpty && parquet.nonEmpty)
    // ...which the spliced scan applies through its one per-file filter
    val df = IcebergScan.scan(spark, table)
    assert(df.filter(col("o_orderkey") <= cut).count() === 0L && df.count() > 0L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("Filter graft_dv_alive")) === 1 &&
      !plan.contains("Join"), plan.take(3000))
  }

  test("one task reading two DV'd files applies each file's own vector") {
    val table = newTable("graft_dv7_")
    IcebergWriter.write(spark.range(0, 20).toDF("id").repartitionByRange(2, col("id")),
      table, formatVersion = 3)
    IcebergWriter.delete(spark, table, col("id").isin(3L, 15L))
    assert(liveDeletes(table)._1.size === 2)
    // no open cost and one split's worth of bytes per core: both small
    // files pack into one split, so the filter sees the second file's rows
    // right after the first's
    val keys = Seq("spark.sql.files.openCostInBytes", "spark.sql.files.minPartitionNum")
    try {
      spark.conf.set(keys(0), "0")
      spark.conf.set(keys(1), "1")
      val df = IcebergScan.scan(spark, table)
      assert(df.rdd.getNumPartitions === 1)
      assert(df.collect().map(_.getLong(0)).sorted.toSeq ===
        (0L until 20L).filterNot(Set(3L, 15L)))
    } finally keys.foreach(spark.conf.unset)
  }
}

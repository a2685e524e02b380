package graft.sql

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSessions

/** Position-delete split binning (ADVICE r15): a DML delete must
  * de-vectorize ONLY the data files its delete files can actually
  * reference — the planner prefilters by the delete entries' reserved
  * `file_path` bounds (field 2147483546), so untouched files keep their
  * plain vectorized bins instead of solo row-index MoR bins. */
class KeyedPosDeleteBinSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val wh = Files.createTempDirectory("graft_pdbin_wh_").toString

  private lazy val spark: SparkSession = {
    val s = GraftSessions.builder("local[4]", "4")
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", wh)
      .appName("graft-pdbin")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def morPartitions(table: String) = {
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[TableCatalog]
    val tbl = cat.loadTable(Identifier.of(Array("db"), table))
      .asInstanceOf[GraftTable]
    val keyed = tbl.keyedPlan(spark)
      .getOrElse(fail("table must plan keyed"))
    val parts = GraftKeyedV2Scan(spark, tbl, tbl.schema(), keyed)
      .toBatch.planInputPartitions()
    parts.toSeq.map(_.asInstanceOf[GraftKeyedMorFilePartition])
  }

  test("only delete-referenced files bin solo; the rest stay vectorized") {
    // three commits = three data files per bucket tuple, disjoint key
    // ranges so a point DELETE references exactly one file
    spark.sql(
      "CREATE TABLE graft.db.pdbin (k BIGINT, v BIGINT) " +
        "PARTITIONED BY (bucket(2, k))")
    spark.sql("INSERT INTO graft.db.pdbin SELECT id, id FROM range(0, 100)")
    spark.sql("INSERT INTO graft.db.pdbin SELECT id, id FROM range(100, 200)")
    spark.sql("INSERT INTO graft.db.pdbin SELECT id, id FROM range(200, 300)")
    spark.sql("DELETE FROM graft.db.pdbin WHERE k = 150")

    val parts = morPartitions("pdbin")
    val solo = parts.filter(_.deletes.pos.nonEmpty)
    val plain = parts.filter(_.deletes.pos.isEmpty)
    // the delete touches ONE data file (k=150 lives in commit 2's file
    // for its bucket); every other file keeps a bin without
    // position-delete files
    assert(solo.size === 1,
      s"exactly the referenced file bins solo, got ${solo.size} of ${parts.size}")
    assert(solo.head.deletes.rawPath.nonEmpty)
    assert(plain.nonEmpty, "unaffected files must keep plain bins")
    assert(plain.forall(_.deletes.rawPath.isEmpty),
      "plain bins carry no row-index rawPath (vectorized read)")

    // ... and the read stays exact through the mixed binning
    assert(spark.sql("SELECT count(*) FROM graft.db.pdbin")
      .head.getLong(0) === 299L)
    assert(spark.sql("SELECT count(*) FROM graft.db.pdbin WHERE k = 150")
      .head.getLong(0) === 0L)
    assert(spark.sql("SELECT sum(v) FROM graft.db.pdbin")
      .head.getLong(0) === (0L until 300L).sum - 150L)
  }

  test("a delete entry without file_path bounds solo-bins conservatively") {
    import graft.iceberg.IcebergPruning.pathInBounds
    assert(pathInBounds(None, None, "any/path/at/all.parquet"))
    val lo = Some("s3://wh/data/a.parquet".getBytes("UTF-8"))
    val hi = Some("s3://wh/data/m.parquet".getBytes("UTF-8"))
    assert(pathInBounds(lo, hi, "s3://wh/data/a.parquet"))
    assert(pathInBounds(lo, hi, "s3://wh/data/g.parquet"))
    assert(pathInBounds(lo, hi, "s3://wh/data/m.parquet"))
    assert(!pathInBounds(lo, hi, "s3://wh/data/z.parquet"))
    assert(!pathInBounds(lo, hi, "s3://wh/dat.parquet"))
    // unsigned compare: bytes >= 0x80 sort ABOVE ascii, not below
    val hiByte = Some(Array[Byte](0x7f))
    val loByte = Some(Array[Byte](0x20))
    assert(!pathInBounds(loByte, hiByte, "ÿ"), "0xc3/0xbf utf-8 bytes sort above 0x7f")
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.iceberg.{IcebergScan, IcebergWriter}

/** Changelog (CDC) scan semantics: the NET row difference between two
  * snapshots — inserts and deletes cancel when a row is rewritten
  * unchanged, so maintenance (compaction) produces an empty changelog
  * while real mutations surface exactly once. */
class ChangelogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val Sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession =
    GraftSessions.builder("local[4]", "4").appName("graft-changelog").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def types(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("append-only window yields exactly the appended rows as inserts") {
    val table = Files.createTempDirectory("graft_cdc_").toString + "/t"
    val nation = Tables.load(spark, Sf, "nation")
    val snap1 = IcebergWriter.write(nation.filter(col("n_nationkey") < 10), table)
    IcebergWriter.write(nation.filter(col("n_nationkey") >= 10), table)

    val log = IcebergScan.changelog(spark, table, fromSnapshotId = snap1)
    assert(types(log) === Map("insert" -> nation.filter(col("n_nationkey") >= 10).count()))
    val got = log.drop("_change_type")
    val want = nation.filter(col("n_nationkey") >= 10).select(got.columns.map(col): _*)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("position- and equality-delete windows yield the dead rows as deletes") {
    val table = Files.createTempDirectory("graft_cdc_").toString + "/t"
    val nation = Tables.load(spark, Sf, "nation")
    val snap1 = IcebergWriter.write(nation, table)

    // position delete window
    val snap2 = IcebergWriter.delete(spark, table, col("n_nationkey") === 3)
    val log1 = IcebergScan.changelog(spark, table, snap1, Some(snap2))
    assert(types(log1) === Map("delete" -> 1L))
    assert(log1.filter(col("n_nationkey") === 3).count() === 1)

    // equality delete window (strictly-older scoping)
    val snap3 = IcebergWriter.deleteEquality(spark, table,
      nation.filter(col("n_nationkey") === 5).select("n_nationkey"))
    val log2 = IcebergScan.changelog(spark, table, snap2, Some(snap3))
    assert(types(log2) === Map("delete" -> 1L))
    assert(log2.filter(col("n_nationkey") === 5).count() === 1)

    // whole window: both deletes, nothing else
    assert(types(IcebergScan.changelog(spark, table, snap1)) === Map("delete" -> 2L))
  }

  test("compaction is changelog-invisible; UPDATE surfaces as delete+insert") {
    val table = Files.createTempDirectory("graft_cdc_").toString + "/t"
    val nation = Tables.load(spark, Sf, "nation")
    val snap1 = IcebergWriter.write(nation, table)
    IcebergWriter.delete(spark, table, col("n_nationkey") === 3)
    val snap2 = IcebergWriter.compact(spark, table)

    // rewrite churn cancels: compaction changed every file but no row
    val log = IcebergScan.changelog(spark, table, snap1, Some(snap2))
    assert(types(log) === Map("delete" -> 1L)) // only the real delete survives

    val snap3 = IcebergWriter.update(spark, table,
      col("n_nationkey") === 7, Map("n_name" -> lit("TOUCHED")))
    val log2 = IcebergScan.changelog(spark, table, snap2, Some(snap3))
    assert(types(log2) === Map("insert" -> 1L, "delete" -> 1L))
    assert(log2.filter(col("_change_type") === "insert")
      .filter(col("n_name") === "TOUCHED").count() === 1)
    assert(log2.filter(col("_change_type") === "delete")
      .filter(col("n_name") =!= "TOUCHED").count() === 1)
  }

  test("changelog equals the brute-force snapshot diff across a mixed history") {
    import graft.iceberg.IcebergScan.Options
    val table = Files.createTempDirectory("graft_cdc_").toString + "/t"
    val nation = Tables.load(spark, Sf, "nation")
    val snaps = Seq.newBuilder[Long]
    snaps += IcebergWriter.write(nation.filter(col("n_nationkey") < 12), table)
    snaps += IcebergWriter.write(nation.filter(col("n_nationkey") >= 12), table)
    snaps += IcebergWriter.delete(spark, table, col("n_nationkey") % 5 === 0)
    snaps += IcebergWriter.deleteEquality(spark, table,
      nation.filter(col("n_nationkey") === 7).select("n_nationkey"))
    snaps += IcebergWriter.update(spark, table,
      col("n_nationkey") === 8, Map("n_name" -> lit("X")))
    snaps += IcebergWriter.compact(spark, table)
    snaps += IcebergWriter.merge(spark, table,
      nation.filter(col("n_nationkey").isin(1, 30)), Seq("n_nationkey"))
    val ids = snaps.result()

    def state(id: Long) = IcebergScan.scan(spark, table, Options(snapshotId = Some(id)))
    for (i <- ids.indices; j <- i until ids.length) {
      val log = IcebergScan.changelog(spark, table, ids(i), Some(ids(j)))
      val ins = log.filter(col("_change_type") === "insert").drop("_change_type")
      val del = log.filter(col("_change_type") === "delete").drop("_change_type")
      val bruteIns = state(ids(j)).exceptAll(state(ids(i)))
      val bruteDel = state(ids(i)).exceptAll(state(ids(j)))
      assert(ins.exceptAll(bruteIns).isEmpty && bruteIns.exceptAll(ins).isEmpty,
        s"insert mismatch for window ${ids(i)} -> ${ids(j)}")
      assert(del.exceptAll(bruteDel).isEmpty && bruteDel.exceptAll(del).isEmpty,
        s"delete mismatch for window ${ids(i)} -> ${ids(j)}")
    }
  }

  test("map columns diff via canonicalized entries and read back as maps") {
    val table = Files.createTempDirectory("graft_cdc_").toString + "/t"
    val part = Tables.load(spark, Sf, "part")
    def rows(lo: Int, hi: Int) = part
      .filter(col("p_partkey") >= lo && col("p_partkey") < hi)
      .select(col("p_partkey"),
        map(lit("brand"), col("p_brand"), lit("type"), col("p_type")).as("attrs"))
    val snap1 = IcebergWriter.write(rows(0, 50), table)
    IcebergWriter.write(rows(50, 80), table)

    val log = IcebergScan.changelog(spark, table, fromSnapshotId = snap1)
    assert(log.schema("attrs").dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
    assert(log.filter(col("_change_type") === "insert").count() === rows(50, 80).count())
    // map VALUES survive the canonicalize/restore round trip
    val got = log.select(col("p_partkey"), element_at(col("attrs"), "brand").as("b"))
    val want = rows(50, 80).select(col("p_partkey"), element_at(col("attrs"), "brand").as("b"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("nested maps (struct<map>, array<map>, map<_,map>) diff and restore " +
       "at any depth") {
    val table = Files.createTempDirectory("graft_cdc_nm_").toString + "/t"
    val part = Tables.load(spark, Sf, "part")
    def rows(lo: Int, hi: Int) = part
      .filter(col("p_partkey") >= lo && col("p_partkey") < hi)
      .select(col("p_partkey"),
        struct(col("p_brand").as("brand"),
          map(lit("type"), col("p_type")).as("m")).as("info"),
        array(map(lit("size"), col("p_size").cast("string")),
          map(lit("name"), col("p_name"))).as("tags"),
        map(lit("outer"), map(lit("price"), col("p_retailprice").cast("string")))
          .as("nested"))
    val snap1 = IcebergWriter.write(rows(0, 40), table)
    IcebergWriter.write(rows(40, 70), table)
    IcebergWriter.delete(spark, table, col("p_partkey") < 10)

    val log = IcebergScan.changelog(spark, table, fromSnapshotId = snap1)
    // types restore to the declared shapes
    assert(log.schema("info").dataType.asInstanceOf[StructType]("m")
      .dataType.isInstanceOf[MapType])
    assert(log.schema("tags").dataType.asInstanceOf[ArrayType]
      .elementType.isInstanceOf[MapType])
    assert(log.schema("nested").dataType.asInstanceOf[MapType]
      .valueType.isInstanceOf[MapType])
    // net diff equals the brute-force diff, values intact at every depth
    val probe = (d: org.apache.spark.sql.DataFrame) => d.select(
      col("p_partkey"),
      element_at(col("info.m"), "type").as("t"),
      element_at(element_at(col("tags"), 1), "size").as("s"),
      element_at(element_at(col("nested"), "outer"), "price").as("g"))
    val ins = probe(log.filter(col("_change_type") === "insert"))
    val del = probe(log.filter(col("_change_type") === "delete"))
    val wantIns = probe(rows(40, 70))
    val wantDel = probe(rows(0, 10))
    assert(ins.exceptAll(wantIns).isEmpty && wantIns.exceptAll(ins).isEmpty)
    assert(del.exceptAll(wantDel).isEmpty && wantDel.exceptAll(del).isEmpty)
  }

  test("changelogBySnapshot attributes each change to its commit") {
    val table = Files.createTempDirectory("graft_cdc_").toString + "/t"
    val nation = Tables.load(spark, Sf, "nation")
    val snap1 = IcebergWriter.write(nation.filter(col("n_nationkey") < 20), table)
    val snap2 = IcebergWriter.delete(spark, table, col("n_nationkey") === 3)
    val snap3 = IcebergWriter.write(nation.filter(col("n_nationkey") >= 20), table)

    val log = IcebergScan.changelogBySnapshot(spark, table, fromSnapshotId = snap1)
    val byCommit = log.groupBy("_commit_snapshot_id", "_change_type").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byCommit === Map(
      (snap2, "delete") -> 1L,
      (snap3, "insert") -> nation.filter(col("n_nationkey") >= 20).count()))

    // empty window → empty frame, schema intact
    val none = IcebergScan.changelogBySnapshot(spark, table, snap3)
    assert(none.count() === 0 && none.columns.contains("_commit_snapshot_id"))
  }

  test("empty window and same-snapshot window yield an empty changelog") {
    val table = Files.createTempDirectory("graft_cdc_").toString + "/t"
    val snap1 = IcebergWriter.write(Tables.load(spark, Sf, "region"), table)
    assert(IcebergScan.changelog(spark, table, snap1, Some(snap1)).count() === 0)
    assert(IcebergScan.changelog(spark, table, snap1).count() === 0)
  }

  test("changelog spans a schema evolution: old rows read null, exactly once") {
    val table = Files.createTempDirectory("graft_cdce_").toString + "/t"
    val nation = Tables.load(spark, Sf, "nation")
    val snap1 = IcebergWriter.write(nation.filter(col("n_nationkey") < 10), table)
    // the window contains an evolved append AND a delete of pre-evolution rows
    IcebergWriter.write(
      nation.filter(col("n_nationkey") >= 10).withColumn("extra", lit(5L)), table)
    IcebergWriter.delete(spark, table, col("n_nationkey") === 0)

    val log = IcebergScan.changelog(spark, table, fromSnapshotId = snap1)
    // emitted under the current (evolved) schema
    assert(log.columns.contains("extra"))
    assert(types(log) === Map(
      "insert" -> nation.filter(col("n_nationkey") >= 10).count(),
      "delete" -> 1L))
    // inserted rows carry the evolved value, the deleted pre-evolution row
    // reads null for the added column
    assert(log.filter(col("_change_type") === "insert")
      .filter(col("extra") =!= 5L).isEmpty)
    assert(log.filter(col("_change_type") === "delete")
      .select("extra").collect()(0).isNullAt(0))
  }

  test("per-commit changelog aligns segment schemas across an evolution") {
    val table = Files.createTempDirectory("graft_cdcm_").toString + "/t"
    val nation = Tables.load(spark, Sf, "nation")
    val snap0 = IcebergWriter.write(nation.filter(col("n_nationkey") < 5), table)
    val snap1 = IcebergWriter.write(
      nation.filter(col("n_nationkey") >= 5 && col("n_nationkey") < 10), table)
    val snap2 = IcebergWriter.write(
      nation.filter(col("n_nationkey") >= 10).withColumn("extra", lit(1L)), table)

    // first segment predates `extra`; union must align by name, not throw
    val log = IcebergScan.changelogBySnapshot(spark, table, snap0)
    assert(log.columns.contains("extra"))
    val byCommit = log.groupBy("_commit_snapshot_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(byCommit === Map(
      snap1 -> nation.filter(col("n_nationkey") >= 5 && col("n_nationkey") < 10).count(),
      snap2 -> nation.filter(col("n_nationkey") >= 10).count()))
    // pre-evolution segment rows read null for the later column
    assert(log.filter(col("_commit_snapshot_id") === snap1)
      .filter(col("extra").isNotNull).isEmpty)
  }

  test("a tag to-bound keeps its pinned schema even with branch heads around") {
    val table = Files.createTempDirectory("graft_cdct_").toString + "/t"
    val nation = Tables.load(spark, Sf, "nation")
    val snap0 = IcebergWriter.write(nation.filter(col("n_nationkey") < 5), table)
    IcebergWriter.write(nation.filter(col("n_nationkey") >= 5), table)
    IcebergWriter.createTag(spark, table, "v1")
    IcebergWriter.write(nation.withColumn("extra", lit(2L)), table)

    graft.sql.GraftSql.register(spark)
    val toTag = spark.sql(
      s"SELECT * FROM iceberg_changelog('$table', $snap0, 'v1')")
    assert(!toTag.columns.contains("extra")) // pinned pre-evolution schema
    val toMain = spark.sql(
      s"SELECT * FROM iceberg_changelog('$table', $snap0, 'main')")
    assert(toMain.columns.contains("extra")) // branch rule: current schema

    // hostile bounds error clearly instead of coercing
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM iceberg_changelog('$table', DATE '2024-01-01')").collect()
    }
    assert(e1.getMessage.contains("invalid snapshot bound"))
    val e2 = intercept[Exception] {
      spark.sql(
        s"SELECT * FROM iceberg_changelog('$table', CAST(NULL AS TIMESTAMP))").collect()
    }
    assert(e2.getMessage.contains("must not be NULL"))
  }

  test("changelogWithUpdates pairs same-commit delete+insert into update rows") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_cdc_upd_").toString + "/t"
    val snap0 = IcebergWriter.write(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
        .toDF("id", "name", "score"), table)
    // one commit: merge updates id=2 (delete+insert pair) and adds id=4
    IcebergWriter.merge(spark, table,
      Seq((2L, "b2", 21.0), (4L, "d", 40.0)).toDF("id", "name", "score"),
      Seq("id"))
    // another commit: pure delete of id=3
    IcebergWriter.delete(spark, table, col("id") === 3L)

    val upd = IcebergScan.changelogWithUpdates(
      spark, table, Seq("id"), snap0)
    val rows = upd.select("id", "name", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows === Set(
      (2L, "b", "update_preimage"), (2L, "b2", "update_postimage"),
      (4L, "d", "insert"),
      (3L, "c", "delete")), rows)
    // a cross-COMMIT delete then re-insert is NOT an update (different
    // commits — the key genuinely left and returned)
    val snapMid = IcebergScan.snapshots(spark, table)
      .orderBy(col("sequence_number").desc).head().getAs[Long]("snapshot_id")
    IcebergWriter.write(Seq((3L, "c2", 31.0)).toDF("id", "name", "score"), table)
    val later = IcebergScan.changelogWithUpdates(spark, table, Seq("id"), snapMid)
    assert(later.select("_change_type").collect().map(_.getString(0)).toSeq
      === Seq("insert"))

    // the SQL surface: update_keys routes to the pairing scan
    val sql = spark.sql(
      s"SELECT * FROM iceberg_changelog('$table', $snap0, update_keys => 'id')")
    val sqlTypes = sql.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sqlTypes === Map(
      "update_preimage" -> 1L, "update_postimage" -> 1L,
      "insert" -> 2L, "delete" -> 1L), sqlTypes)
  }

  test("changelogWithUpdates handles map-typed columns (JSON-hash ordering)") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_cdc_map_").toString + "/t"
    val snap0 = IcebergWriter.write(
      Seq((1L, Map("a" -> 1)), (2L, Map("b" -> 2))).toDF("id", "attrs"), table)
    IcebergWriter.merge(spark, table,
      Seq((2L, Map("b" -> 9))).toDF("id", "attrs"), Seq("id"))
    val t = IcebergScan.changelogWithUpdates(spark, table, Seq("id"), snap0)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t === Map("update_preimage" -> 1L, "update_postimage" -> 1L), t)
  }

  test("changelogWithUpdates rank-pairs duplicate keys without loss") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_cdc_dup_").toString + "/t"
    // two rows share key 1; the merge replaces BOTH with one new row
    val snap0 = IcebergWriter.write(
      Seq((1L, "x"), (1L, "y"), (2L, "z")).toDF("id", "v"), table)
    IcebergWriter.merge(spark, table, Seq((1L, "w")).toDF("id", "v"), Seq("id"))
    val upd = IcebergScan.changelogWithUpdates(spark, table, Seq("id"), snap0)
    val t = upd.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // one delete pairs the insert; the second delete stays a delete —
    // total multiplicity preserved (2 deletes + 1 insert = 3 changes)
    assert(t === Map("update_preimage" -> 1L, "update_postimage" -> 1L,
      "delete" -> 1L), t)
  }

  test("a v3 window of row-level commits diffs with no join in at most 5 Spark jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val table = Files.createTempDirectory("graft_cdc_jobs_").toString + "/t"
    val nation = Tables.load(spark, Sf, "nation")
    val snap1 = IcebergWriter.write(nation, table, formatVersion = 3)
    IcebergWriter.delete(spark, table, col("n_nationkey") === 3)
    IcebergWriter.update(spark, table, col("n_nationkey") === 7, Map("n_name" -> lit("X")))
    IcebergWriter.merge(spark, table,
      nation.filter(col("n_nationkey").isin(1, 2)).withColumn("n_name", lit("M")),
      Seq("n_nationkey"))
    val snap5 = IcebergWriter.deleteEquality(spark, table,
      nation.filter(col("n_nationkey") === 5).select("n_nationkey"))

    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(start: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val (log, rows) =
      try {
        val log = IcebergScan.changelog(spark, table, snap1, Some(snap5))
        (log, log.collect())
      } finally {
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    info(s"Spark jobs: ${jobs.get}")
    val changes = rows.map(r =>
      (r.getAs[Number]("n_nationkey").longValue, r.getAs[String]("_change_type")))
    assert(changes.sorted.toSeq === Seq(1L -> "delete", 1L -> "insert", 2L -> "delete",
      2L -> "insert", 3L -> "delete", 5L -> "delete", 7L -> "delete", 7L -> "insert"))
    val joins = PlanWalk.collect(log.queryExecution.executedPlan) { case j: BaseJoinExec => j }
    assert(joins.isEmpty, log.queryExecution.executedPlan.toString)
    assert(jobs.get <= 5, s"${jobs.get} Spark jobs")
  }
}

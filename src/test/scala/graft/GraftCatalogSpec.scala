package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.iceberg.{IcebergScan, IcebergWriter}

import java.nio.file.Files

/** DSv2 `TableCatalog` plugin: graft tables as plain SQL identifiers —
  * `SELECT/INSERT/CREATE/DELETE/UPDATE/MERGE` on `graft.ns.tbl`, with
  * time travel via `VERSION AS OF` / `TIMESTAMP AS OF`. The reference
  * binds its scan natively through DuckDB's extension loader
  * (iceberg_extension.cpp:33-38); this is the Spark-idiomatic analogue. */
class GraftCatalogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val wh = Files.createTempDirectory("graft_catalog_wh_").toString

  private lazy val spark: SparkSession = {
    val s = GraftSessions.builder("local[4]", "4")
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", wh)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def mkOrders(table: String, rows: Int = 100): String = {
    import spark.implicits._
    val path = s"$wh/db/$table"
    val df = (1 to rows).map(i =>
      (i.toLong, s"cust-${i % 7}", i * 10.0, if (i % 2 == 0) "H" else "L"))
      .toDF("id", "cust", "amount", "prio")
    IcebergWriter.write(df, path)
    path
  }

  test("SELECT through a catalog identifier equals the direct scan") {
    val path = mkOrders("orders_sel")
    val viaSql = spark.sql(
      "SELECT cust, round(sum(amount), 2) AS s FROM graft.db.orders_sel GROUP BY cust")
      .collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1).toSeq
    val direct = IcebergScan.scan(spark, path)
      .groupBy("cust").agg(round(sum("amount"), 2).as("s"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(viaSql === direct)
  }

  test("the rewrite rule splices the native scan (no V1 fallback in the plan)") {
    mkOrders("orders_plan")
    val df = spark.sql(
      "SELECT id FROM graft.db.orders_plan WHERE prio = 'H' AND id > 10")
    val physical = df.queryExecution.executedPlan.toString
    // native path: a parquet FileScan with the filter pushed; the V1
    // bridge would show a RowDataSourceScanExec instead
    assert(!physical.contains("RowDataSourceScan"), physical)
    assert(physical.contains("Parquet"), physical)
    assert(physical.contains("PushedFilters") &&
      (physical.contains("GreaterThan(id,10)") || physical.contains("id > 10")),
      physical)
    assert(df.count() === 45)
  }

  test("COUNT(*) answers from metadata alone on delete-free tables") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    val path = mkOrders("orders_cnt", rows = 137)
    def scansOf(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      PlanWalk.collect(df.queryExecution.executedPlan) {
        case b: BatchScanExec => b: Any
        case f: FileSourceScanExec => f: Any
      }.size
    }
    // SQL surface: no scan node anywhere — the count is a literal
    val q = spark.sql("SELECT count(*) AS c FROM graft.db.orders_cnt")
    assert(q.head.getLong(0) === 137L)
    assert(scansOf(q) === 0,
      s"metadata count must plan no scan:\n${q.queryExecution.executedPlan}")
    // DataFrame surface: Dataset.count() compiles to the same shape
    val df = spark.table("graft.db.orders_cnt")
    assert(df.count() === 137L)
    // count(*) with a FILTER must NOT take the fast path
    val filtered = spark.sql(
      "SELECT count(*) FROM graft.db.orders_cnt WHERE prio = 'H'")
    assert(filtered.head.getLong(0) === 68L)
    assert(scansOf(filtered) > 0, "filtered count must scan")
    // after a v2 row-level DELETE the count still serves from metadata
    // (r19): Σ record_count − distinct live tombstones, read from the
    // position-delete files only — the DATA files stay unscanned
    spark.sql("DELETE FROM graft.db.orders_cnt WHERE id % 5 = 0")
    val afterDelete = spark.sql("SELECT count(*) FROM graft.db.orders_cnt")
    assert(afterDelete.head.getLong(0) === 137L - 27L)
    assert(scansOf(afterDelete) === 0,
      s"v2 position-delete count must serve scan-free (r19):\n" +
        s"${afterDelete.queryExecution.executedPlan}")
  }

  test("MIN/MAX answer from manifest bounds on delete-free tables") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    mkOrders("orders_minmax", rows = 200)
    def scansOf(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      PlanWalk.collect(df.queryExecution.executedPlan) {
        case b: BatchScanExec => b: Any
        case f: FileSourceScanExec => f: Any
      }.size
    }
    val q = spark.sql(
      "SELECT count(*) AS c, min(id) AS lo, max(id) AS hi " +
        "FROM graft.db.orders_minmax")
    val row = q.head
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) === ((200L, 1L, 200L)))
    assert(scansOf(q) === 0,
      s"metadata min/max must plan no scan:\n${q.queryExecution.executedPlan}")
    // string bounds may be TRUNCATED → the rewrite must bail, stay exact
    val s = spark.sql("SELECT max(cust) AS m FROM graft.db.orders_minmax")
    assert(s.head.getString(0) === "cust-6")
    assert(scansOf(s) > 0, "string max must scan")
    // float/double bounds exclude NaN → bail
    val d = spark.sql("SELECT max(amount) AS m FROM graft.db.orders_minmax")
    assert(d.head.getDouble(0) === 2000.0)
    assert(scansOf(d) > 0, "double max must scan")
    // a row-level DELETE voids the metadata answer; fallback stays exact
    spark.sql("DELETE FROM graft.db.orders_minmax WHERE id = 200")
    val after = spark.sql("SELECT max(id) AS hi FROM graft.db.orders_minmax")
    assert(after.head.getLong(0) === 199L)
    assert(scansOf(after) > 0, "MoR max must scan")
  }

  test("metadata MIN/MAX binds by lineage, not name, through renaming Projects") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    import spark.implicits._
    // x = 0..999, y = 5000..5999: a rename of y to "x" COLLIDES with a
    // physical column whose manifest bounds differ — the round-15 wrong
    // answer served max(physical x)=999 for max(y AS x)
    val df = (0 until 1000).map(i => (i.toLong, 5000L + i))
      .toDF("x", "y")
    IcebergWriter.write(df, s"$wh/db/mm_rename")
    def scansOf(q: org.apache.spark.sql.DataFrame): Int = {
      q.collect()
      PlanWalk.collect(q.queryExecution.executedPlan) {
        case b: BatchScanExec => b: Any
        case f: FileSourceScanExec => f: Any
      }.size
    }
    // colliding rename, SQL surface: must serve column y's bounds
    val sqlQ = spark.sql(
      "SELECT max(x) AS hi FROM (SELECT y AS x FROM graft.db.mm_rename)")
    assert(sqlQ.head.getLong(0) === 5999L)
    assert(scansOf(sqlQ) === 0,
      s"lineage-resolved rename still serves from metadata:\n${sqlQ.queryExecution.executedPlan}")
    // colliding rename, DataFrame surface
    val dfQ = spark.table("graft.db.mm_rename")
      .select(col("y").as("x")).agg(max(col("x")).as("hi"))
    assert(dfQ.head.getLong(0) === 5999L)
    assert(scansOf(dfQ) === 0)
    // min under the same rename
    val minQ = spark.sql(
      "SELECT min(x) AS lo FROM (SELECT y AS x FROM graft.db.mm_rename)")
    assert(minQ.head.getLong(0) === 5000L)
    // rename to a FRESH name: lineage resolution serves it too
    val fresh = spark.sql(
      "SELECT max(z) AS hi FROM (SELECT y AS z FROM graft.db.mm_rename)")
    assert(fresh.head.getLong(0) === 5999L)
    assert(scansOf(fresh) === 0)
    // COMPUTED projection sharing a physical name: must fall through
    // to a real scan and stay exact
    val computed = spark.sql(
      "SELECT max(x) AS hi FROM (SELECT x + 1 AS x FROM graft.db.mm_rename)")
    assert(computed.head.getLong(0) === 1000L)
    assert(scansOf(computed) > 0, "computed projection must scan")
    // case-insensitive reference to the physical column still serves
    val cased = spark.sql("SELECT max(X) AS hi FROM graft.db.mm_rename")
    assert(cased.head.getLong(0) === 999L)
    assert(scansOf(cased) === 0)
  }

  test("count(col) serves from null counts; sparse-column MIN/MAX skips all-null files") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scansOf(q: org.apache.spark.sql.DataFrame): Int = {
      q.collect()
      PlanWalk.collect(q.queryExecution.executedPlan) {
        case b: BatchScanExec => b: Any
        case f: FileSourceScanExec => f: Any
      }.size
    }
    spark.sql("CREATE TABLE graft.db.mm_sparse (k BIGINT, c BIGINT)")
    // commit 1: c entirely NULL (recorded null count = row count);
    // commit 2: real values — a sparse telemetry column's shape
    spark.sql(
      "INSERT INTO graft.db.mm_sparse SELECT id, CAST(NULL AS BIGINT) FROM range(0, 50)")
    spark.sql(
      "INSERT INTO graft.db.mm_sparse SELECT id, id * 2 FROM range(50, 100)")
    // count(col) = Σ(record_count − null_count), scan-free
    val c = spark.sql(
      "SELECT count(c) AS nn, count(*) AS n FROM graft.db.mm_sparse")
    assert((c.head.getLong(0), c.head.getLong(1)) === ((50L, 100L)))
    assert(scansOf(c) === 0,
      s"count(col) must serve from null counts:\n${c.queryExecution.executedPlan}")
    // MIN/MAX skip the provably-all-null file instead of bailing
    val m = spark.sql(
      "SELECT min(c) AS lo, max(c) AS hi FROM graft.db.mm_sparse")
    assert((m.head.getLong(0), m.head.getLong(1)) === ((100L, 198L)))
    assert(scansOf(m) === 0,
      s"sparse min/max must serve from bounds:\n${m.queryExecution.executedPlan}")
    // an ENTIRELY-null column aggregates to NULL, still scan-free
    spark.sql("CREATE TABLE graft.db.mm_allnull (k BIGINT, c BIGINT)")
    spark.sql(
      "INSERT INTO graft.db.mm_allnull SELECT id, CAST(NULL AS BIGINT) FROM range(0, 30)")
    val an = spark.sql(
      "SELECT count(c) AS nn, max(c) AS hi FROM graft.db.mm_allnull")
    assert(an.head.getLong(0) === 0L && an.head.isNullAt(1))
    assert(scansOf(an) === 0)
    // count(DISTINCT c) must NOT take the fast path
    val d = spark.sql("SELECT count(DISTINCT c) AS dc FROM graft.db.mm_sparse")
    assert(d.head.getLong(0) === 50L)
    assert(scansOf(d) > 0, "distinct count must scan")
  }

  test("filtered and grouped aggregates serve from identity-partition metadata") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scansOf(q: org.apache.spark.sql.DataFrame): Int = {
      q.collect()
      PlanWalk.collect(q.queryExecution.executedPlan) {
        case b: BatchScanExec => b: Any
        case f: FileSourceScanExec => f: Any
      }.size
    }
    spark.sql(
      "CREATE TABLE graft.db.mm_part (k BIGINT, dt DATE, v BIGINT) " +
        "PARTITIONED BY (dt)")
    spark.sql(
      """INSERT INTO graft.db.mm_part
         SELECT id, DATE_ADD(DATE'2024-01-01', CAST(id % 5 AS INT)), id * 10
         FROM range(0, 100)""")

    // identity-filter count: the predicate is constant per file
    val c1 = spark.sql(
      "SELECT count(*) AS c FROM graft.db.mm_part WHERE dt = DATE'2024-01-02'")
    assert(c1.head.getLong(0) === 20L)
    assert(scansOf(c1) === 0,
      s"identity-filtered count must plan no scan:\n${c1.queryExecution.executedPlan}")
    // range filter + min/max of a non-partition column over matching files
    val c2 = spark.sql(
      """SELECT count(*) AS c, min(v) AS lo, max(v) AS hi
         FROM graft.db.mm_part WHERE dt >= DATE'2024-01-04'""")
    val r2 = c2.head
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) === ((40L, 30L, 990L)))
    assert(scansOf(c2) === 0)
    // an EXPRESSION over the identity source still evaluates per entry
    val c3 = spark.sql(
      "SELECT count(*) AS c FROM graft.db.mm_part WHERE year(dt) = 2024")
    assert(c3.head.getLong(0) === 100L)
    assert(scansOf(c3) === 0)
    // filter matching NOTHING: one exact empty-aggregate row, no scan
    val c4 = spark.sql(
      "SELECT count(*) AS c, max(v) AS hi FROM graft.db.mm_part WHERE dt > DATE'2030-01-01'")
    assert(c4.head.getLong(0) === 0L && c4.head.isNullAt(1))
    assert(scansOf(c4) === 0)

    // grouped: one row per live partition tuple, counts + bounds per group
    val g1 = spark.sql(
      "SELECT dt, count(*) AS c, max(v) AS hi FROM graft.db.mm_part GROUP BY dt")
    val rows = g1.collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.length === 5)
    assert(rows.forall(_._2 === 20L))
    assert(rows.map(_._1) === Array(
      "2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04", "2024-01-05"))
    assert(rows.map(_._3) === Array(950L, 960L, 970L, 980L, 990L))
    assert(scansOf(g1) === 0,
      s"grouped metadata agg must plan no scan:\n${g1.queryExecution.executedPlan}")
    // DISTINCT on the partition source is the same aggregate shape
    val d1 = spark.sql("SELECT DISTINCT dt FROM graft.db.mm_part")
    assert(d1.collect().length === 5)
    assert(scansOf(d1) === 0)
    // grouped through a RENAMING subquery binds by lineage
    val g2 = spark.sql(
      """SELECT d, count(*) AS c
         FROM (SELECT dt AS d FROM graft.db.mm_part) GROUP BY d""")
    assert(g2.collect().map(_.getLong(1)).toSeq === Seq.fill(5)(20L))
    assert(scansOf(g2) === 0)
    // filter + group compose
    val g3 = spark.sql(
      """SELECT dt, count(*) AS c FROM graft.db.mm_part
         WHERE dt <> DATE'2024-01-01' GROUP BY dt""")
    assert(g3.collect().length === 4)
    assert(scansOf(g3) === 0)

    // fall-throughs stay exact THROUGH a real scan:
    // 1. filter on a non-partition column
    val f1 = spark.sql(
      "SELECT count(*) AS c FROM graft.db.mm_part WHERE v >= 500")
    assert(f1.head.getLong(0) === 50L)
    assert(scansOf(f1) > 0, "non-partition filter must scan")
    // 2. group by a non-partition column
    val f2 = spark.sql(
      "SELECT v % 2 AS m, count(*) AS c FROM graft.db.mm_part GROUP BY v % 2")
    assert(f2.collect().map(_.getLong(1)).sum === 100L)
    assert(scansOf(f2) > 0, "non-partition grouping must scan")
    // 3. BUCKET transform source is not identity — must scan
    spark.sql(
      "CREATE TABLE graft.db.mm_bucket (k BIGINT, v BIGINT) " +
        "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO graft.db.mm_bucket SELECT id, id FROM range(0, 50)")
    val f3 = spark.sql(
      "SELECT count(*) AS c FROM graft.db.mm_bucket WHERE k < 10")
    assert(f3.head.getLong(0) === 10L)
    assert(scansOf(f3) > 0, "bucket-transform filter must scan")
    // 4. a v2 row-level DELETE keeps grouped counts metadata-served
    // (r19): per-tuple tombstone counts from the delete files alone
    spark.sql("DELETE FROM graft.db.mm_part WHERE k = 7")
    val f4 = spark.sql(
      "SELECT dt, count(*) AS c FROM graft.db.mm_part GROUP BY dt ORDER BY dt")
    assert(f4.collect().map(_.getLong(1)).toSeq === Seq(20L, 20L, 19L, 20L, 20L))
    assert(scansOf(f4) === 0,
      "v2 position-delete grouped count must serve scan-free (r19)")
  }

  test("DV-only deletes keep COUNT shapes metadata-served (round 18)") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scansOf(q: org.apache.spark.sql.DataFrame): Int = {
      q.collect()
      PlanWalk.collect(q.queryExecution.executedPlan) {
        case b: BatchScanExec => b: Any
        case f: FileSourceScanExec => f: Any
      }.size
    }
    // a v3 identity-partitioned table, DML-maintained: the normal
    // production state between compactions
    spark.sql(
      "CREATE TABLE graft.db.mm_dv (k BIGINT, dt DATE, v BIGINT) " +
        "PARTITIONED BY (dt) TBLPROPERTIES ('format-version'='3')")
    // v mixes genuine NULLs into every file (its non-null loss under a
    // DV is unprovable); k is never null (loss = the DV cardinality)
    spark.sql(
      "INSERT INTO graft.db.mm_dv SELECT id, " +
        "DATE_ADD(DATE'2024-01-01', CAST(id % 5 AS INT)), " +
        "IF(id % 3 = 0, NULL, id) FROM range(0, 100)")
    spark.sql("DELETE FROM graft.db.mm_dv WHERE k % 7 = 3") // DVs, all tuples
    val expected = (0L until 100L).filterNot(_ % 7 == 3)

    // global count(*): Σ record_count − Σ DV cardinality, scan-free
    val g = spark.sql("SELECT count(*) AS c FROM graft.db.mm_dv")
    assert(g.head.getLong(0) === expected.size.toLong)
    assert(scansOf(g) === 0,
      s"DV-only count must stay scan-free:\n${g.queryExecution.executedPlan}")
    // identity-partition FILTERED count: per-tuple subtraction
    val f = spark.sql(
      "SELECT count(*) AS c FROM graft.db.mm_dv WHERE dt = DATE'2024-01-03'")
    assert(f.head.getLong(0) === expected.count(_ % 5 == 2).toLong)
    assert(scansOf(f) === 0,
      s"DV-only filtered count must stay scan-free:\n${f.queryExecution.executedPlan}")
    // GROUPED count
    val gr = spark.sql(
      "SELECT dt, count(*) AS c FROM graft.db.mm_dv GROUP BY dt ORDER BY dt")
    assert(gr.collect().map(_.getLong(1)).toSeq ===
      (0 until 5).map(m => expected.count(_ % 5 == m).toLong))
    assert(scansOf(gr) === 0,
      s"DV-only grouped count must stay scan-free:\n${gr.queryExecution.executedPlan}")
    // MIN/MAX degrade on DV'd tuples: must SCAN, stay exact
    val mm = spark.sql("SELECT min(k) AS lo, max(k) AS hi FROM graft.db.mm_dv")
    assert(mm.head.getLong(0) === expected.min && mm.head.getLong(1) === expected.max)
    assert(scansOf(mm) > 0, "bounds under DVs must fall back to the scan")
    // count(col) of a NEVER-NULL column stays exact scan-free: each
    // DV'd zero-null file provably loses its full cardinality (r18)
    val ck = spark.sql("SELECT count(k) AS c FROM graft.db.mm_dv")
    assert(ck.head.getLong(0) === expected.size.toLong)
    assert(scansOf(ck) === 0,
      s"count of a zero-null column must serve:\n${ck.queryExecution.executedPlan}")
    // … but a column with genuine nulls in the DV'd files is unprovable
    val cv = spark.sql("SELECT count(v) AS c FROM graft.db.mm_dv")
    assert(cv.head.getLong(0) === expected.count(_ % 3 != 0).toLong)
    assert(scansOf(cv) > 0, "unprovable non-null counts must fall back")

    // STACKED DML deletes: a second DELETE supersedes each file's DV
    // (max-sequence, cumulative positions) — counts stay scan-free exact
    spark.sql("DELETE FROM graft.db.mm_dv WHERE k % 5 = 1")
    val expected2 = expected.filterNot(_ % 5 == 1)
    val g2 = spark.sql("SELECT count(*) AS c FROM graft.db.mm_dv")
    assert(g2.head.getLong(0) === expected2.size.toLong)
    assert(scansOf(g2) === 0,
      s"stacked-DV count must stay scan-free:\n${g2.queryExecution.executedPlan}")
    val gr2 = spark.sql(
      "SELECT dt, count(*) AS c FROM graft.db.mm_dv GROUP BY dt ORDER BY dt")
    // dt of id%5==1 is now FULLY deleted: that group must vanish, not
    // surface as a zero-count row
    assert(gr2.collect().map(_.getLong(1)).toSeq ===
      (0 until 5).map(m => expected2.count(_ % 5 == m).toLong).filter(_ > 0))

    // the rowCount surface (iceberg_row_count TVF) reports the exact
    // count METADATA-ONLY on the DV'd table too
    val rc = IcebergScan.rowCount(spark, s"$wh/db/mm_dv").head
    assert(rc.getLong(0) === expected2.size.toLong && rc.getBoolean(1),
      "DV-only row count must serve from metadata")

    // COMPOSED: distinct partition counts over DV'd tuples — the fully
    // deleted dt is NOT active (a naive count of stored tuple values
    // over entries would say 5); filtered variant stays exact too
    val ad = spark.sql("SELECT count(DISTINCT dt) AS d FROM graft.db.mm_dv")
    assert(ad.head.getLong(0) === 4L,
      "a fully-deleted partition must not count as active")
    assert(scansOf(ad) === 0,
      s"distinct-under-DVs must serve:\n${ad.queryExecution.executedPlan}")
    val adf = spark.sql(
      """SELECT count(DISTINCT dt) AS d FROM graft.db.mm_dv
        |WHERE dt >= DATE'2024-01-02'""".stripMargin)
    assert(adf.head.getLong(0) === 3L)
    assert(scansOf(adf) === 0)

    // EQUALITY deletes stay a bail (match counts unknown): exact via scan
    import spark.implicits._
    val eqPath = s"$wh/db/mm_dv_eq"
    IcebergWriter.write(
      spark.range(0, 60).select(col("id").as("k"), (col("id") + 1).as("v")),
      eqPath, formatVersion = 3)
    IcebergWriter.deleteEquality(spark, eqPath, Seq(7L, 9L).toDF("k"))
    val eq = spark.sql("SELECT count(*) AS c FROM graft.db.mm_dv_eq")
    assert(eq.head.getLong(0) === 58L)
    assert(scansOf(eq) > 0, "eq-deletes must fall back to the MoR scan")
    // (the parquet position-delete fall-through is pinned by the v2
    // "MoR count must scan" test above — v2 DML writes parquet deletes)
  }

  test("day-transform on a DATE source is value-exact for metadata aggregates") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scansOf(q: org.apache.spark.sql.DataFrame): Int = {
      q.collect()
      PlanWalk.collect(q.queryExecution.executedPlan) {
        case b: BatchScanExec => b: Any
        case f: FileSourceScanExec => f: Any
      }.size
    }
    // day(date) stores the epoch-day ordinal = the date value itself
    val src = spark.range(0, 90).selectExpr(
      "id AS k",
      "DATE_ADD(DATE'2024-03-01', CAST(id % 3 AS INT)) AS dt",
      "CAST(id AS TIMESTAMP) AS ts")
    IcebergWriter.write(src, s"$wh/db/mm_day",
      partitionBy = Seq("dt" -> "day"))
    val c = spark.sql(
      "SELECT count(*) AS c FROM graft.db.mm_day WHERE dt = DATE'2024-03-02'")
    assert(c.head.getLong(0) === 30L)
    assert(scansOf(c) === 0,
      s"day(date) filter must serve from metadata:\n${c.queryExecution.executedPlan}")
    val g = spark.sql(
      "SELECT dt, count(*) AS c FROM graft.db.mm_day GROUP BY dt")
    assert(g.collect().map(_.getLong(1)).toSeq === Seq.fill(3)(30L))
    assert(scansOf(g) === 0)
    // day on a TIMESTAMP source is NOT value-exact — rows span the day
    IcebergWriter.write(src, s"$wh/db/mm_dayts",
      partitionBy = Seq("ts" -> "day"))
    val f = spark.sql(
      "SELECT count(*) AS c FROM graft.db.mm_dayts WHERE ts >= TIMESTAMP'1970-01-01 00:00:30'")
    assert(f.head.getLong(0) === 60L)
    assert(scansOf(f) > 0, "day(timestamp) filter must scan")
  }

  test("period-aligned timestamp filters decide per file on day transforms") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scansOf(q: org.apache.spark.sql.DataFrame): Int = {
      q.collect()
      PlanWalk.collect(q.queryExecution.executedPlan) {
        case b: BatchScanExec => b: Any
        case f: FileSourceScanExec => f: Any
      }.size
    }
    // 5 days × 24 hourly rows, day(ts)-partitioned
    val src = spark.range(0, 120).selectExpr(
      "id AS k",
      "timestampadd(HOUR, CAST(id AS INT), TIMESTAMP'2024-05-01 00:00:00') AS ts")
    IcebergWriter.write(src, s"$wh/db/mm_ivl",
      partitionBy = Seq("ts" -> "day"))
    // DAY-ALIGNED range: every file decides whole → scan-free count +
    // min/max of another column over exactly the matching files
    val q1 = spark.sql(
      """SELECT count(*) AS c, min(k) AS lo, max(k) AS hi
         FROM graft.db.mm_ivl
         WHERE ts >= TIMESTAMP'2024-05-02 00:00:00'
           AND ts < TIMESTAMP'2024-05-04 00:00:00'""")
    val r1 = q1.head
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2)) === ((48L, 24L, 71L)))
    assert(scansOf(q1) === 0,
      s"day-aligned ts range must serve from metadata:\n${q1.queryExecution.executedPlan}")
    // a MID-DAY boundary straddles one file → provably falls through
    val q2 = spark.sql(
      """SELECT count(*) AS c FROM graft.db.mm_ivl
         WHERE ts >= TIMESTAMP'2024-05-02 12:00:00'""")
    assert(q2.head.getLong(0) === 84L)
    assert(scansOf(q2) > 0, "straddling boundary must scan")
    // equality OUTSIDE every file's range is decidable-false: 0, scan-free
    val q3 = spark.sql(
      """SELECT count(*) AS c FROM graft.db.mm_ivl
         WHERE ts = TIMESTAMP'2030-01-01 00:00:00'""")
    assert(q3.head.getLong(0) === 0L)
    assert(scansOf(q3) === 0)
    // equality INSIDE a day straddles → scans, stays exact
    val q4 = spark.sql(
      """SELECT count(*) AS c FROM graft.db.mm_ivl
         WHERE ts = TIMESTAMP'2024-05-02 05:00:00'""")
    assert(q4.head.getLong(0) === 1L)
    assert(scansOf(q4) > 0)
    // GROUP BY CAST(ts AS DATE): the cast is constant per day file —
    // per-day counts serve scan-free (session tz is UTC)
    val q5 = spark.sql(
      """SELECT CAST(ts AS DATE) AS d, count(*) AS c, max(k) AS hi
         FROM graft.db.mm_ivl GROUP BY CAST(ts AS DATE)""")
    val byDay = q5.collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(byDay.length === 5)
    assert(byDay.forall(_._2 === 24L))
    assert(byDay.map(_._1) === Array(
      "2024-05-01", "2024-05-02", "2024-05-03", "2024-05-04", "2024-05-05"))
    assert(byDay.map(_._3) === Array(23L, 47L, 71L, 95L, 119L))
    assert(scansOf(q5) === 0,
      s"GROUP BY CAST(ts AS DATE) must serve from metadata:\n${q5.queryExecution.executedPlan}")
    // ... and composes with a day-aligned filter
    val q6 = spark.sql(
      """SELECT CAST(ts AS DATE) AS d, count(*) AS c
         FROM graft.db.mm_ivl
         WHERE ts >= TIMESTAMP'2024-05-03 00:00:00'
         GROUP BY CAST(ts AS DATE)""")
    assert(q6.collect().length === 3)
    assert(scansOf(q6) === 0)
    // GROUP BY a non-constant expression of ts must scan
    val q7 = spark.sql(
      """SELECT hour(ts) AS h, count(*) AS c
         FROM graft.db.mm_ivl GROUP BY hour(ts)""")
    assert(q7.collect().map(_.getLong(1)).sum === 120L)
    assert(scansOf(q7) > 0, "hour-of-day grouping must scan")
  }

  test("VERSION AS OF (snapshot id and branch/tag name) + TIMESTAMP AS OF") {
    import spark.implicits._
    val path = mkOrders("orders_tt", rows = 50)
    val snaps = IcebergScan.snapshots(spark, path)
      .select("snapshot_id").collect().map(_.getLong(0))
    val v1 = snaps.head
    IcebergWriter.write(
      (51 to 80).map(i => (i.toLong, "cust-x", 1.0, "L"))
        .toDF("id", "cust", "amount", "prio"), path)

    assert(spark.sql("SELECT count(*) FROM graft.db.orders_tt").head.getLong(0) === 80)
    assert(spark.sql(
      s"SELECT count(*) FROM graft.db.orders_tt VERSION AS OF $v1")
      .head.getLong(0) === 50)
    // a tag names the first snapshot; VERSION AS OF accepts the ref name
    IcebergWriter.createTag(spark, path, "v1.0", at = Some(v1))
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.orders_tt VERSION AS OF 'v1.0'")
      .head.getLong(0) === 50)
    val tsLit = IcebergScan.snapshots(spark, path)
      .filter(col("snapshot_id") === v1)
      .select("timestamp_ms").head
      .getAs[java.time.LocalDateTime](0)
    assert(spark.sql(
      s"SELECT count(*) FROM graft.db.orders_tt TIMESTAMP AS OF '$tsLit'")
      .head.getLong(0) === 50)
  }

  test("CREATE TABLE (partitioned) + INSERT INTO + INSERT OVERWRITE") {
    spark.sql(
      """CREATE TABLE graft.db.events_ddl (
        |  id BIGINT, kind STRING, ts TIMESTAMP_NTZ
        |) PARTITIONED BY (days(ts), bucket(4, id))""".stripMargin)
    val path = s"$wh/db/events_ddl"
    // declared spec landed in table metadata
    val snap = IcebergScan.selectSnapshot(spark, path, IcebergScan.Options())
    assert(snap.partitionSpec.map(f => (f.name, f.transform)) ===
      Seq(("ts_day", "day"), ("id_bucket", "bucket[4]")))

    spark.sql(
      """INSERT INTO graft.db.events_ddl VALUES
        |  (1, 'click', TIMESTAMP_NTZ '2024-01-01 10:00:00'),
        |  (2, 'view',  TIMESTAMP_NTZ '2024-01-02 11:00:00'),
        |  (3, 'click', TIMESTAMP_NTZ '2024-01-02 12:00:00')""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM graft.db.events_ddl").head.getLong(0) === 3)

    val before = IcebergScan.snapshots(spark, path).count()
    spark.sql(
      """INSERT OVERWRITE graft.db.events_ddl VALUES
        |  (9, 'purge', TIMESTAMP_NTZ '2024-02-01 00:00:00')""".stripMargin)
    val rows = spark.sql("SELECT id, kind FROM graft.db.events_ddl").collect()
    assert(rows.length === 1 && rows.head.getLong(0) === 9)
    // ATOMIC overwrite: exactly ONE snapshot (truncate tombstones + new
    // data in the same commit) — readers can never observe the
    // truncated intermediate a delete-then-append pair would expose
    assert(IcebergScan.snapshots(spark, path).count() === before + 1)
  }

  test("single-branch MERGE keeps exact SQL semantics (general path)") {
    import spark.implicits._
    mkOrders("orders_m1", rows = 6)
    Seq((3L, "cust-z", 1.0, "Z"), (99L, "cust-z", 2.0, "Z"))
      .toDF("id", "cust", "amount", "prio").createOrReplaceTempView("m1_src")
    // update-only: id 3 updates, id 99 must NOT be inserted
    spark.sql(
      """MERGE INTO graft.db.orders_m1 t USING m1_src s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM graft.db.orders_m1").head.getLong(0) === 6)
    assert(spark.sql(
      "SELECT cust FROM graft.db.orders_m1 WHERE id = 3").head.getString(0) === "cust-z")
    // insert-only: id 99 inserts, id 3 must NOT change again
    spark.sql(
      """MERGE INTO graft.db.orders_m1 t USING m1_src s
        |ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM graft.db.orders_m1").head.getLong(0) === 7)
    assert(spark.sql("SELECT amount FROM graft.db.orders_m1 WHERE id = 3")
      .head.getDouble(0) === 1.0)
    assert(spark.sql("SELECT amount FROM graft.db.orders_m1 WHERE id = 99")
      .head.getDouble(0) === 2.0)
  }

  test("conditional multi-clause MERGE with NOT MATCHED BY SOURCE") {
    import spark.implicits._
    mkOrders("orders_mc", rows = 10) // ids 1..10, amounts id*10
    Seq((2L, 5.0), (3L, 500.0), (20L, 7.0))
      .toDF("id", "amt").createOrReplaceTempView("mc_src")
    spark.sql(
      """MERGE INTO graft.db.orders_mc t USING mc_src s
        |ON t.id = s.id
        |WHEN MATCHED AND s.amt < 100 THEN UPDATE SET amount = s.amt
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED AND s.amt > 5 THEN
        |  INSERT (id, cust, amount, prio) VALUES (s.id, 'new', s.amt, 'N')
        |WHEN NOT MATCHED BY SOURCE AND t.id > 8 THEN DELETE""".stripMargin)
    val rows = spark.sql(
      "SELECT id, amount FROM graft.db.orders_mc ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // id2: updated to 5 (first clause). id3: deleted (second clause).
    // id20: inserted (amt 7 > 5). ids 9,10: deleted by-source. others keep.
    assert(rows === Seq(1L -> 10.0, 2L -> 5.0, 4L -> 40.0, 5L -> 50.0,
      6L -> 60.0, 7L -> 70.0, 8L -> 80.0, 20L -> 7.0))
    // partial SET kept the other columns
    assert(spark.sql("SELECT cust FROM graft.db.orders_mc WHERE id = 2")
      .head.getString(0) === "cust-2")
  }

  test("a NULL clause condition neither applies nor blocks later clauses") {
    import spark.implicits._
    mkOrders("orders_mnull", rows = 4)
    // s.amt NULL for id 2: first clause's condition is NULL → the
    // unconditional DELETE must still fire (NULL must not poison the
    // first-passing-clause chain)
    Seq((2L, Option.empty[Double]), (3L, Some(5.0)))
      .toDF("id", "amt").createOrReplaceTempView("mnull_src")
    spark.sql(
      """MERGE INTO graft.db.orders_mnull t USING mnull_src s
        |ON t.id = s.id
        |WHEN MATCHED AND s.amt < 100 THEN UPDATE SET amount = s.amt
        |WHEN MATCHED THEN DELETE""".stripMargin)
    val rows = spark.sql(
      "SELECT id, amount FROM graft.db.orders_mnull ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // id2 deleted (second clause), id3 updated to 5 (first clause)
    assert(rows === Seq(1L -> 10.0, 3L -> 5.0, 4L -> 40.0))
  }

  test("MERGE cardinality violation raises instead of picking a row") {
    import spark.implicits._
    mkOrders("orders_mdup", rows = 4)
    Seq((2L, 1.0), (2L, 2.0)).toDF("id", "amt")
      .createOrReplaceTempView("mdup_src")
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO graft.db.orders_mdup t USING mdup_src s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET amount = s.amt""".stripMargin)
    }
    assert(e.getMessage.contains("cardinality"), e.getMessage)
    // nothing committed
    assert(spark.sql("SELECT sum(amount) FROM graft.db.orders_mdup")
      .head.getDouble(0) === (1 + 2 + 3 + 4) * 10.0)
  }

  test("MERGE with a non-equality ON condition (general join)") {
    import spark.implicits._
    mkOrders("orders_mrange", rows = 6)
    Seq((1L, 25L, 35L)).toDF("sid", "lo", "hi")
      .createOrReplaceTempView("mrange_src")
    // amounts are id*10: rows with amount in [25,35] → id 3
    spark.sql(
      """MERGE INTO graft.db.orders_mrange t USING mrange_src s
        |ON t.amount >= s.lo AND t.amount <= s.hi
        |WHEN MATCHED THEN UPDATE SET prio = 'R'""".stripMargin)
    assert(spark.sql(
      "SELECT id FROM graft.db.orders_mrange WHERE prio = 'R'")
      .collect().map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("V1 bridge survives nested-schema pruning (whole-column fallback)") {
    import spark.implicits._
    val path = s"$wh/db/nested_v1"
    IcebergWriter.write(
      Seq((1L, ("a1", 10)), (2L, ("a2", 20))).toDF("id", "s")
        .selectExpr("id", "named_struct('a', s._1, 'b', s._2) AS s"),
      path)
    spark.conf.set(graft.sql.GraftTableRewrite.EnabledKey, "false")
    try {
      val rows = spark.sql("SELECT s.b FROM graft.db.nested_v1 ORDER BY s.b")
        .collect().map(_.getInt(0)).toSeq
      assert(rows === Seq(10, 20))
    } finally spark.conf.unset(graft.sql.GraftTableRewrite.EnabledKey)
  }

  test("DELETE FROM / UPDATE / MERGE INTO as plain SQL") {
    import spark.implicits._
    mkOrders("orders_dml", rows = 20)

    spark.sql("DELETE FROM graft.db.orders_dml WHERE id % 4 = 0")
    assert(spark.sql("SELECT count(*) FROM graft.db.orders_dml")
      .head.getLong(0) === 15)

    spark.sql(
      "UPDATE graft.db.orders_dml SET amount = amount * 2, prio = 'X' WHERE id <= 3")
    val upd = spark.sql(
      "SELECT sum(amount) FROM graft.db.orders_dml WHERE id <= 3")
      .head.getDouble(0)
    assert(upd === (1 + 2 + 3) * 10.0 * 2)
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.orders_dml WHERE prio = 'X'")
      .head.getLong(0) === 3)

    // upsert: id 1 exists (update), id 999 is new (insert)
    Seq((1L, "cust-m", 777.0, "M"), (999L, "cust-m", 888.0, "M"))
      .toDF("id", "cust", "amount", "prio")
      .createOrReplaceTempView("merge_src")
    spark.sql(
      """MERGE INTO graft.db.orders_dml t USING merge_src s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val merged = spark.sql(
      "SELECT id, amount FROM graft.db.orders_dml WHERE cust = 'cust-m' ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(merged === Seq((1L, 777.0), (999L, 888.0)))
    assert(spark.sql("SELECT count(*) FROM graft.db.orders_dml")
      .head.getLong(0) === 16)
  }

  test("SHOW TABLES / SHOW NAMESPACES / DESCRIBE / DROP / ALTER") {
    mkOrders("orders_ddl2")
    val tables = spark.sql("SHOW TABLES IN graft.db")
      .select("tableName").collect().map(_.getString(0)).toSet
    assert(tables.contains("orders_ddl2"))
    assert(spark.sql("SHOW NAMESPACES IN graft")
      .collect().map(_.getString(0)).contains("db"))

    val desc = spark.sql("DESCRIBE TABLE graft.db.orders_ddl2")
      .collect().map(_.getString(0)).toSet
    assert(Set("id", "cust", "amount", "prio").subsetOf(desc))

    spark.sql("ALTER TABLE graft.db.orders_ddl2 ADD COLUMN note STRING")
    assert(spark.sql("SELECT note FROM graft.db.orders_ddl2 LIMIT 1")
      .schema.fieldNames.toSeq === Seq("note"))
    spark.sql("ALTER TABLE graft.db.orders_ddl2 SET TBLPROPERTIES ('owner.team' = 'ml')")
    val path = s"$wh/db/orders_ddl2"
    assert(IcebergScan.loadInfo(spark, path).properties
      .get("owner.team").contains("ml"))

    spark.sql("DROP TABLE graft.db.orders_ddl2")
    assert(spark.sql("SHOW TABLES IN graft.db")
      .select("tableName").collect().map(_.getString(0)).toSet
      .contains("orders_ddl2") === false)
  }

  test("CTAS creates and loads back") {
    import spark.implicits._
    (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .createOrReplaceTempView("ctas_src")
    try {
      spark.sql("CREATE TABLE graft.db.ctas_t AS SELECT * FROM ctas_src")
      assert(spark.sql("SELECT count(*) FROM graft.db.ctas_t").head.getLong(0) === 10)
    } catch {
      case e: Exception =>
        // CTAS needs the V1 write bridge through CreateTableAsSelectExec;
        // if unsupported the error must be clear, not silent corruption
        assert(e.getMessage != null)
        cancel(s"CTAS not supported by V1 write bridge: ${e.getMessage.take(120)}")
    }
  }

  test("V1 fallback scan answers correctly with the rewrite rule disabled") {
    mkOrders("orders_v1", rows = 30)
    spark.conf.set(graft.sql.GraftTableRewrite.EnabledKey, "false")
    try {
      val df = spark.sql(
        "SELECT count(*) AS c, sum(id) AS s FROM graft.db.orders_v1 WHERE id > 10")
      // the disabled rule leaves the V2 relation → V1Scan bridge executes
      // (renders as `Scan graft.sql.GraftV1ScanBuilder…`, and column
      // pruning still reaches it: ReadSchema carries only `id`)
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("GraftV1ScanBuilder"), physical)
      assert(physical.contains("ReadSchema: struct<id:bigint>"), physical)
      val row = df.head
      assert(row.getLong(0) === 20)
      assert(row.getLong(1) === (11 to 30).map(_.toLong).sum)
    } finally spark.conf.unset(graft.sql.GraftTableRewrite.EnabledKey)
  }

  test("dynamic INSERT OVERWRITE replaces only the partitions it writes") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE graft.db.dyn_t (id BIGINT, region STRING)
        |PARTITIONED BY (region)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.db.dyn_t VALUES
        |  (1, 'eu'), (2, 'eu'), (3, 'us'), (4, 'ap')""".stripMargin)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql("INSERT OVERWRITE graft.db.dyn_t VALUES (9, 'eu'), (10, 'eu')")
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    val rows = spark.sql(
      "SELECT id, region FROM graft.db.dyn_t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // eu replaced, us/ap carried forward untouched
    assert(rows === Seq((3L, "us"), (4L, "ap"), (9L, "eu"), (10L, "eu")))
  }

  test("MERGE ... WHEN MATCHED THEN DELETE is an equality delete by key") {
    import spark.implicits._
    mkOrders("orders_mdel", rows = 12)
    Seq(2L, 5L, 11L, 999L).toDF("id").createOrReplaceTempView("mdel_src")
    spark.sql(
      """MERGE INTO graft.db.orders_mdel t USING mdel_src s
        |ON t.id = s.id
        |WHEN MATCHED THEN DELETE""".stripMargin)
    val left = spark.sql("SELECT id FROM graft.db.orders_mdel ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(left === (1L to 12L).filterNot(Set(2L, 5L, 11L)))
  }

  test("MERGE NULL keys follow SQL semantics (ON never matches NULLs)") {
    import spark.implicits._
    // target holds a NULL-keyed row; the fast paths' null-safe equality
    // matching must never let a NULL-keyed SOURCE row delete/replace it
    val path = s"$wh/db/orders_nullsem"
    IcebergWriter.write(Seq(
      (Option(1L), "a"), (Option(2L), "b"), (Option.empty[Long], "target-null"))
      .toDF("id", "v"), path)

    // delete form: NULL source key deletes NOTHING (SQL: t.id = s.id is
    // never true on NULL); key 2 deletes its row
    Seq(Option(2L), Option.empty[Long]).toDF("id")
      .createOrReplaceTempView("mnull_del_src")
    spark.sql(
      """MERGE INTO graft.db.orders_nullsem t USING mnull_del_src s
        |ON t.id = s.id
        |WHEN MATCHED THEN DELETE""".stripMargin)
    val afterDelete = spark.sql(
      "SELECT v FROM graft.db.orders_nullsem ORDER BY v")
      .collect().map(_.getString(0)).toSeq
    assert(afterDelete === Seq("a", "target-null"),
      "NULL-keyed source row must not delete the NULL-keyed target row")

    // upsert form: a NULL-keyed source row INSERTS beside the existing
    // NULL-keyed target row (never replaces it)
    Seq((Option(1L), "a2"), (Option.empty[Long], "source-null"))
      .toDF("id", "v").createOrReplaceTempView("mnull_up_src")
    spark.sql(
      """MERGE INTO graft.db.orders_nullsem t USING mnull_up_src s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.id = s.id, t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    val afterUpsert = spark.sql(
      "SELECT v FROM graft.db.orders_nullsem ORDER BY v")
      .collect().map(_.getString(0)).toSeq
    assert(afterUpsert === Seq("a2", "source-null", "target-null"),
      "NULL-keyed source row must insert beside the NULL-keyed target row")
  }

  test("spark.read.format(\"graft\") reads, time-travels, and appends") {
    import spark.implicits._
    val path = mkOrders("orders_fmt", rows = 25)
    val df = spark.read.format("graft").load(path)
    assert(df.count() === 25)
    // pushdown flows through the same splice
    val plan = df.filter(col("id") > 20).select("id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("RowDataSourceScan") && plan.contains("PushedFilters"), plan)

    val v1 = IcebergScan.snapshots(spark, path)
      .select("snapshot_id").head.getLong(0)
    (26L to 30L).map(i => (i, "cust-x", 1.0, "L"))
      .toDF("id", "cust", "amount", "prio")
      .write.format("graft").mode("append").save(path)
    assert(spark.read.format("graft").load(path).count() === 30)
    assert(spark.read.format("graft")
      .option("snapshot-id", v1.toString).load(path).count() === 25)
  }

  test("TRUNCATE TABLE tombstones every row through SupportsDelete") {
    mkOrders("orders_trunc", rows = 8)
    spark.sql("TRUNCATE TABLE graft.db.orders_trunc")
    assert(spark.sql("SELECT count(*) FROM graft.db.orders_trunc")
      .head.getLong(0) === 0)
    // and the table keeps accepting inserts
    spark.sql("INSERT INTO graft.db.orders_trunc VALUES (1, 'c', 1.0, 'L')")
    assert(spark.sql("SELECT count(*) FROM graft.db.orders_trunc")
      .head.getLong(0) === 1)
  }

  test("CALL graft.system.<procedure> runs maintenance through the catalog") {
    import spark.implicits._
    val path = mkOrders("orders_proc", rows = 30)
    IcebergWriter.write(
      (31L to 40L).map(i => (i, "cust-p", 1.0, "L"))
        .toDF("id", "cust", "amount", "prio"), path)

    // create_tag on the FIRST snapshot, read it back via VERSION AS OF
    val v1 = IcebergScan.snapshots(spark, path)
      .select("snapshot_id").collect().map(_.getLong(0)).min
    val tagged = spark.sql(
      s"CALL graft.system.create_tag('db.orders_proc', 'rel', snapshot_id => ${v1}L)")
      .collect()
    assert(tagged.map(_.getString(0)).toSeq === Seq("rel"))
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.orders_proc VERSION AS OF 'rel'")
      .head.getLong(0) === 30)

    // rewrite_data_files compacts the two tiny commits into one file set
    val rewritten = spark.sql(
      "CALL graft.system.rewrite_data_files('db.orders_proc')").collect()
    assert(rewritten.length === 1)
    assert(spark.sql("SELECT count(*) FROM graft.db.orders_proc")
      .head.getLong(0) === 40)

    // expire down to the newest snapshots; the tag's snapshot is retained
    // by ref (named args bind by name)
    val expired = spark.sql(
      "CALL graft.system.expire_snapshots(`table` => 'db.orders_proc', keep => 2)")
      .head.getLong(0)
    assert(expired >= 0)

    // analyze emits (column, ndv) rows and records stats
    val ndv = spark.sql(
      "CALL graft.system.analyze('db.orders_proc', columns => 'cust')")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(ndv.contains("cust") && ndv("cust") >= 2)

    // unknown procedure raises (Spark wraps our message in
    // FAILED_TO_LOAD_ROUTINE)
    val e = intercept[Exception] {
      spark.sql("CALL graft.system.nope('db.orders_proc')")
    }
    assert(e.getMessage.contains("nope"), e.getMessage)
  }

  test("INSERT honors the table's write.distribution-mode property") {
    spark.sql(
      """CREATE TABLE graft.db.dist_t (id BIGINT, region STRING)
        |PARTITIONED BY (region)
        |TBLPROPERTIES ('write.distribution-mode' = 'hash')""".stripMargin)
    // 200 rows over 2 partition values from a parallel source: hash
    // distribution clusters by partition tuple first, so the commit
    // lands few files instead of tasks x partitions
    spark.sql(
      """INSERT INTO graft.db.dist_t
        |SELECT id, CASE WHEN id % 2 = 0 THEN 'eu' ELSE 'us' END
        |FROM range(0, 200)""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM graft.db.dist_t").head.getLong(0) === 200)
    val files = IcebergScan.scan(
      spark, s"$wh/db/dist_t", IcebergScan.Options(mode = "list_files"))
      .filter(col("type") === "data").count()
    assert(files <= 4, s"hash distribution should cluster: $files files")
  }

  test("TVF, format reader and catalog identifier agree on one table") {
    val path = mkOrders("orders_xsurface", rows = 33)
    val viaCat = spark.sql(
      "SELECT sum(id) FROM graft.db.orders_xsurface").head.getLong(0)
    val viaTvf = spark.sql(
      s"SELECT sum(id) FROM iceberg_scan('$path')").head.getLong(0)
    val viaFmt = spark.read.format("graft").load(path)
      .agg(sum("id")).head.getLong(0)
    val direct = IcebergScan.scan(spark, path).agg(sum("id")).head.getLong(0)
    assert(Set(viaCat, viaTvf, viaFmt, direct).size === 1)
  }

  test("INSERT INTO works through the V1 write path with the rewrite disabled") {
    mkOrders("orders_v1w", rows = 5)
    spark.conf.set(graft.sql.GraftTableRewrite.EnabledKey, "false")
    try {
      spark.sql("INSERT INTO graft.db.orders_v1w VALUES (6, 'c', 1.0, 'L')")
      assert(spark.sql("SELECT count(*) FROM graft.db.orders_v1w")
        .head.getLong(0) === 6)
    } finally spark.conf.unset(graft.sql.GraftTableRewrite.EnabledKey)
  }

  test("catalog tables compose: self-join and IN-subquery splice per relation") {
    mkOrders("orders_comp", rows = 40)
    // self-join: two relations of one table, each spliced independently
    val selfJoin = spark.sql(
      """SELECT count(*) FROM graft.db.orders_comp a
        |JOIN graft.db.orders_comp b ON a.id = b.id + 1""".stripMargin)
      .head.getLong(0)
    assert(selfJoin === 39)
    // subquery over the same catalog table
    val sub = spark.sql(
      """SELECT count(*) FROM graft.db.orders_comp
        |WHERE id IN (SELECT id FROM graft.db.orders_comp WHERE prio = 'H')""".stripMargin)
      .head.getLong(0)
    assert(sub === 20)
  }

  test("CAST(ts AS DATE) filters serve from day-transform metadata; month/non-UTC fall through exact") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scansOf(q: org.apache.spark.sql.DataFrame): Int = {
      q.collect()
      PlanWalk.collect(q.queryExecution.executedPlan) {
        case b: BatchScanExec => b: Any
        case f: FileSourceScanExec => f: Any
      }.size
    }
    // 4 days × 24 hourly rows, one partition per day
    spark.sql(
      "CREATE TABLE graft.db.cd_day (k BIGINT, ts TIMESTAMP_NTZ) " +
        "PARTITIONED BY (days(ts))")
    spark.sql(
      """INSERT INTO graft.db.cd_day
        |SELECT id, timestampadd(HOUR, CAST(id AS INT),
        |                        TIMESTAMP_NTZ'2024-03-01 00:00:00')
        |FROM range(0, 96)""".stripMargin)
    // equality decides BOTH ways (the cast collapses a day file to one date)
    val eq = spark.sql(
      """SELECT count(*) AS c, min(k) AS lo, max(k) AS hi
        |FROM graft.db.cd_day WHERE CAST(ts AS DATE) = DATE'2024-03-02'""".stripMargin)
    assert((eq.head.getLong(0), eq.head.getLong(1), eq.head.getLong(2)) ===
      ((24L, 24L, 47L)))
    assert(scansOf(eq) === 0,
      s"cast-date equality must serve scan-free:\n${eq.queryExecution.executedPlan}")
    // BETWEEN over dates (unfolds to >= and <=), and a strict bound
    val bw = spark.sql(
      """SELECT count(*) AS c FROM graft.db.cd_day
        |WHERE CAST(ts AS DATE) BETWEEN DATE'2024-03-02' AND DATE'2024-03-03'""".stripMargin)
    assert(bw.head.getLong(0) === 48L)
    assert(scansOf(bw) === 0)
    val gt = spark.sql(
      "SELECT count(*) AS c FROM graft.db.cd_day WHERE CAST(ts AS DATE) > DATE'2024-03-02'")
    assert(gt.head.getLong(0) === 48L)
    assert(scansOf(gt) === 0)
    // composes with a GROUP BY on the same cast
    val grp = spark.sql(
      """SELECT CAST(ts AS DATE) AS d, count(*) AS c FROM graft.db.cd_day
        |WHERE CAST(ts AS DATE) >= DATE'2024-03-03' GROUP BY 1 ORDER BY d""".stripMargin)
    assert(grp.collect().map(_.getLong(1)).toSeq === Seq(24L, 24L))
    assert(scansOf(grp) === 0)
    // NTZ casts are zone-free: serving survives a non-UTC session zone
    val zone0 = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val z = spark.sql(
        "SELECT count(*) AS c FROM graft.db.cd_day WHERE CAST(ts AS DATE) = DATE'2024-03-02'")
      assert(z.head.getLong(0) === 24L)
      assert(scansOf(z) === 0, "NTZ cast is zone-free; must still serve")
    } finally spark.conf.set("spark.sql.session.timeZone", zone0)
    // MONTH transform: a cast-date equality inside the month straddles →
    // normal plan, exact values
    spark.sql(
      "CREATE TABLE graft.db.cd_month (k BIGINT, ts TIMESTAMP_NTZ) " +
        "PARTITIONED BY (months(ts))")
    spark.sql(
      """INSERT INTO graft.db.cd_month
        |SELECT id, timestampadd(HOUR, CAST(id AS INT),
        |                        TIMESTAMP_NTZ'2024-03-01 00:00:00')
        |FROM range(0, 96)""".stripMargin)
    val m = spark.sql(
      "SELECT count(*) AS c FROM graft.db.cd_month WHERE CAST(ts AS DATE) = DATE'2024-03-02'")
    assert(m.head.getLong(0) === 24L)
    assert(scansOf(m) > 0, "in-month cast equality must scan")
    // ... but a MONTH-aligned cast comparison decides
    val mAligned = spark.sql(
      "SELECT count(*) AS c FROM graft.db.cd_month WHERE CAST(ts AS DATE) < DATE'2024-04-01'")
    assert(mAligned.head.getLong(0) === 96L)
    assert(scansOf(mAligned) === 0)
    // TIMESTAMP (with zone) under a NON-UTC session: the cast shifts
    // through the zone → must scan, values exact vs the disabled rewrite
    spark.sql(
      "CREATE TABLE graft.db.cd_tz (k BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (days(ts))")
    spark.sql(
      """INSERT INTO graft.db.cd_tz
        |SELECT id, timestampadd(HOUR, CAST(id AS INT),
        |                        TIMESTAMP'2024-03-01 00:00:00')
        |FROM range(0, 96)""".stripMargin)
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val q = "SELECT count(*) AS c FROM graft.db.cd_tz " +
        "WHERE CAST(ts AS DATE) = DATE'2024-03-02'"
      val tz = spark.sql(q)
      val got = tz.head.getLong(0)
      assert(scansOf(tz) > 0, "non-UTC TIMESTAMP cast must scan")
      spark.conf.set("spark.graft.catalog.nativeRewrite", "false")
      val expected = try spark.sql(q).head.getLong(0)
        finally spark.conf.set("spark.graft.catalog.nativeRewrite", "true")
      assert(got === expected)
    } finally spark.conf.set("spark.sql.session.timeZone", zone0)
  }

  test("count(DISTINCT part) serves from distinct live tuples; non-value-exact falls through") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scansOf(q: org.apache.spark.sql.DataFrame): Int = {
      q.collect()
      PlanWalk.collect(q.queryExecution.executedPlan) {
        case b: BatchScanExec => b: Any
        case f: FileSourceScanExec => f: Any
      }.size
    }
    // fresh delete-free fixture (mm_part grew a MoR tombstone upstream)
    spark.sql(
      "CREATE TABLE graft.db.mm_dst (k BIGINT, dt DATE, v BIGINT) " +
        "PARTITIONED BY (dt)")
    spark.sql(
      """INSERT INTO graft.db.mm_dst
         SELECT id, DATE_ADD(DATE'2024-01-01', CAST(id % 5 AS INT)), id * 10
         FROM range(0, 100)""")
    // global: distinct identity-partition values over all live entries
    val g = spark.sql(
      "SELECT count(DISTINCT dt) AS d, count(*) AS n FROM graft.db.mm_dst")
    assert((g.head.getLong(0), g.head.getLong(1)) === ((5L, 100L)))
    assert(scansOf(g) === 0,
      s"count(DISTINCT part) must serve scan-free:\n${g.queryExecution.executedPlan}")
    // filtered: distinct over the surviving entries only
    val f = spark.sql(
      """SELECT count(DISTINCT dt) AS d FROM graft.db.mm_dst
        |WHERE dt >= DATE'2024-01-03'""".stripMargin)
    assert(f.head.getLong(0) === 3L)
    assert(scansOf(f) === 0)
    // grouped: per-group distinct (degenerate 1 per group, still exact)
    val gg = spark.sql(
      """SELECT dt, count(DISTINCT dt) AS d, count(*) AS n
        |FROM graft.db.mm_dst GROUP BY dt""".stripMargin)
    assert(gg.collect().map(_.getLong(1)).toSeq === Seq.fill(5)(1L))
    assert(scansOf(gg) === 0)
    // composes with min/max and a renaming subquery
    val rn = spark.sql(
      """SELECT count(DISTINCT d) AS dd, max(w) AS hi
        |FROM (SELECT dt AS d, v AS w FROM graft.db.mm_dst)""".stripMargin)
    assert((rn.head.getLong(0), rn.head.getLong(1)) === ((5L, 990L)))
    assert(scansOf(rn) === 0)
    // a v2 position-deleted table serves too (r19): the tombstoned
    // partition keeps live rows, so the distinct-tuple count is exact
    // and count(*) subtracts the delete files' tombstones
    val mor = spark.sql(
      "SELECT count(DISTINCT dt) AS d, count(*) AS n FROM graft.db.mm_part")
    assert((mor.head.getLong(0), mor.head.getLong(1)) === ((5L, 99L)))
    assert(scansOf(mor) === 0,
      "position-deleted distinct must serve scan-free (r19)")
    // non-partition column
    val f1 = spark.sql("SELECT count(DISTINCT v) AS d FROM graft.db.mm_dst")
    assert(f1.head.getLong(0) === 100L)
    assert(scansOf(f1) > 0, "non-partition distinct must scan")
    // bucket transform is not value-exact
    val f2 = spark.sql("SELECT count(DISTINCT k) AS d FROM graft.db.mm_bucket")
    assert(f2.head.getLong(0) === 50L)
    assert(scansOf(f2) > 0, "bucket-source distinct must scan")
    // day(timestamp) is interval-only, not value-exact
    val f3 = spark.sql("SELECT count(DISTINCT ts) AS d FROM graft.db.cd_day")
    assert(f3.head.getLong(0) === 96L)
    assert(scansOf(f3) > 0, "day(ts)-source distinct must scan")
  }

  test("month/year/week rollups serve from day-or-finer transforms; coarse falls through") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scansOf(q: org.apache.spark.sql.DataFrame): Int = {
      q.collect()
      PlanWalk.collect(q.queryExecution.executedPlan) {
        case b: BatchScanExec => b: Any
        case f: FileSourceScanExec => f: Any
      }.size
    }
    // cd_day: 4 day(ts) files of 24 hourly rows (Mar 1-4 2024); cd_month:
    // same data under months(ts) — created by the cast-date test above
    val m1 = spark.sql(
      """SELECT date_trunc('month', ts) AS m, count(*) AS c, min(k) AS lo
        |FROM graft.db.cd_day GROUP BY 1""".stripMargin)
    val r1 = m1.collect()
    assert(r1.length === 1 && r1.head.getLong(1) === 96L && r1.head.getLong(2) === 0L)
    assert(r1.head.getTimestamp(0).toString === "2024-03-01 00:00:00.0")
    assert(scansOf(m1) === 0,
      s"monthly rollup over day files must serve:\n${m1.queryExecution.executedPlan}")
    // DateType rendering via trunc(CAST(ts AS DATE), 'MM')
    val m2 = spark.sql(
      """SELECT trunc(CAST(ts AS DATE), 'MM') AS m, count(*) AS c
        |FROM graft.db.cd_day GROUP BY 1""".stripMargin)
    assert(m2.collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSeq ===
      Seq(("2024-03-01", 96L)))
    assert(scansOf(m2) === 0)
    // year(ts) int rollup
    val y1 = spark.sql(
      "SELECT year(ts) AS y, count(*) AS c FROM graft.db.cd_day GROUP BY 1")
    assert(y1.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ===
      Seq((2024, 96L)))
    assert(scansOf(y1) === 0)
    // week rollup: Mar 1-3 belong to the week of Mon Feb 26; Mar 4 IS a Monday
    val w1 = spark.sql(
      """SELECT trunc(CAST(ts AS DATE), 'week') AS w, count(*) AS c
        |FROM graft.db.cd_day GROUP BY 1 ORDER BY w""".stripMargin)
    assert(w1.collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSeq ===
      Seq(("2024-02-26", 72L), ("2024-03-04", 24L)))
    assert(scansOf(w1) === 0)
    // month transform serves month/quarter/year rollups ...
    val m3 = spark.sql(
      """SELECT date_trunc('month', ts) AS m, quarter(ts) AS q, count(*) AS c
        |FROM graft.db.cd_month GROUP BY 1, 2""".stripMargin)
    assert(m3.collect().map(_.getLong(2)).toSeq === Seq(96L))
    assert(scansOf(m3) === 0)
    // ... but NOT the finer daily one (files span dates): scans, exact
    val d1 = spark.sql(
      "SELECT CAST(ts AS DATE) AS d, count(*) AS c FROM graft.db.cd_month GROUP BY 1")
    assert(d1.collect().map(_.getLong(1)).sum === 96L)
    assert(scansOf(d1) > 0, "daily rollup over month files must scan")
    // value-exact DATE source (identity dt): any period of the stored date
    val e1 = spark.sql(
      """SELECT year(dt) AS y, month(dt) AS mo, count(*) AS c
        |FROM graft.db.mm_dst GROUP BY 1, 2""".stripMargin)
    assert(e1.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq ===
      Seq((2024, 1, 100L)))
    assert(scansOf(e1) === 0)
    // WEEK over a month transform must scan (weeks straddle months) ...
    val w2 = spark.sql(
      """SELECT trunc(CAST(ts AS DATE), 'week') AS w, count(*) AS c
        |FROM graft.db.cd_month GROUP BY 1""".stripMargin)
    assert(w2.collect().map(_.getLong(1)).sum === 96L)
    assert(scansOf(w2) > 0, "weekly rollup over month files must scan")
    // non-UTC session: TimestampType truncation must scan, stays exact
    val zone0 = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val z = spark.sql(
        "SELECT date_trunc('month', ts) AS m, count(*) AS c FROM graft.db.cd_day GROUP BY 1")
      assert(z.collect().map(_.getLong(1)).sum === 96L)
      assert(scansOf(z) > 0, "non-UTC date_trunc must scan")
    } finally spark.conf.set("spark.sql.session.timeZone", zone0)
  }

  test("min(string) serves from provably-untruncated lower bounds (round 18)") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scansOf(q: org.apache.spark.sql.DataFrame): Int = {
      q.collect()
      PlanWalk.collect(q.queryExecution.executedPlan) {
        case b: BatchScanExec => b: Any
        case f: FileSourceScanExec => f: Any
      }.size
    }
    import spark.implicits._
    // short string values: every file's recorded lower bound is whole
    val p1 = s"$wh/db/smin_short"
    IcebergWriter.write(
      spark.range(0, 100).select(col("id").as("k"),
        concat(lit("name-"), format_string("%03d", col("id"))).as("nm")), p1)
    val q1 = spark.sql(
      "SELECT min(nm) AS lo, count(*) AS c FROM graft.db.smin_short")
    assert(q1.head.getString(0) === "name-000" && q1.head.getLong(1) === 100L)
    assert(scansOf(q1) === 0,
      s"short-string min must serve scan-free:\n${q1.queryExecution.executedPlan}")
    // grouped shape folds the same lower bounds per group
    val qg = spark.sql(
      """SELECT CAST(k % 2 AS INT) AS g, min(nm) AS lo
        |FROM graft.db.smin_short GROUP BY 1""".stripMargin)
    // k is not a partition column -> grouped must scan BUT stay exact;
    // the scan-free grouped pin rides the partitioned table below
    assert(qg.collect().map(_.getString(1)).sorted ===
      Array("name-000", "name-001"))
    val pg = s"$wh/db/smin_part"
    IcebergWriter.write(
      spark.range(0, 40).select((col("id") % 4).as("b"),
        concat(lit("v"), format_string("%02d", col("id"))).as("nm")),
      pg, partitionBy = Seq("b" -> "identity"))
    val qp = spark.sql(
      "SELECT b, min(nm) AS lo FROM graft.db.smin_part GROUP BY b ORDER BY b")
    assert(qp.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      (0L to 3L).map(b => b -> f"v${b}%02d"))
    assert(scansOf(qp) === 0,
      s"grouped string min must serve scan-free:\n${qp.queryExecution.executedPlan}")
    // max(string) has no untruncatedness proof: must scan, stays exact
    val q2 = spark.sql("SELECT max(nm) AS hi FROM graft.db.smin_short")
    assert(q2.head.getString(0) === "name-099")
    assert(scansOf(q2) > 0, "string max must fall back to the scan")
    // a >=16-code-point minimum records a truncated (ambiguous) lower
    // bound: min must scan, stays exact
    val p2 = s"$wh/db/smin_long"
    IcebergWriter.write(
      spark.range(0, 50).select(col("id").as("k"),
        concat(lit("averylongprefix-xyz-"),
          format_string("%03d", col("id"))).as("nm")), p2)
    val q3 = spark.sql("SELECT min(nm) AS lo FROM graft.db.smin_long")
    assert(q3.head.getString(0) === "averylongprefix-xyz-000")
    assert(scansOf(q3) > 0, "truncation-ambiguous min must scan")
    // a table overriding its metrics config may truncate SHORTER than
    // the spec default: string min must refuse there too
    val p3 = s"$wh/db/smin_conf"
    IcebergWriter.write(
      spark.range(0, 20).select(col("id").as("k"), lit("abc").as("nm")), p3)
    IcebergWriter.setProperties(spark, p3,
      Map("write.metadata.metrics.default" -> "truncate(8)"))
    val q4 = spark.sql("SELECT min(nm) AS lo FROM graft.db.smin_conf")
    assert(q4.head.getString(0) === "abc")
    assert(scansOf(q4) > 0, "overridden metrics config must refuse string min")
    // set-then-UNSET lifecycle (r19, VERDICT r18 #4): live files may
    // have been written under the override, so the retained metadata
    // LOG — not just the current properties — decides; min must refuse
    val p5 = s"$wh/db/smin_hist"
    IcebergWriter.write(
      spark.range(0, 20).select(col("id").as("k"), lit("abc").as("nm")), p5)
    IcebergWriter.setProperties(spark, p5,
      Map("write.metadata.metrics.default" -> "truncate(8)"))
    IcebergWriter.setProperties(spark, p5,
      remove = Seq("write.metadata.metrics.default"))
    val q5 = spark.sql("SELECT min(nm) AS lo FROM graft.db.smin_hist")
    assert(q5.head.getString(0) === "abc")
    assert(scansOf(q5) > 0,
      "a historically-overridden metrics config must refuse string min")
    // a table dropped and recreated at the same location re-mints the
    // same v{N}.metadata.json names: the old table's "never overridden"
    // verdicts must not carry over to the new table's history
    val p6 = s"$wh/db/smin_reuse"
    def short(v: String) =
      spark.range(0, 5).select(col("id").as("k"), lit(v).as("nm"))
    (1 to 5).foreach(_ => IcebergWriter.write(short("abc"), p6)) // log v1..v4
    val q6 = spark.sql("SELECT min(nm) AS lo FROM graft.db.smin_reuse")
    assert(q6.head.getString(0) === "abc" && scansOf(q6) === 0)
    spark.sql("DROP TABLE graft.db.smin_reuse")
    IcebergWriter.write(short("zz"), p6)
    IcebergWriter.setProperties(spark, p6,
      Map("write.metadata.metrics.default" -> "truncate(2)"))
    // written as a writer honoring truncate(2) writes it: parquet's own
    // footer-statistics truncation leaves the lower bound "ab", which
    // reads like an exact sub-16-code-point minimum
    spark.conf.set("parquet.statistics.truncate.length", "2")
    try IcebergWriter.write(short("abcdefgh"), p6)
    finally spark.conf.unset("parquet.statistics.truncate.length")
    IcebergWriter.setProperties(spark, p6,
      remove = Seq("write.metadata.metrics.default"))
    val plain = IcebergScan.scan(spark, p6).agg(min("nm")).head.getString(0)
    assert(plain === "abcdefgh")
    assert(spark.sql("SELECT min(nm) AS lo FROM graft.db.smin_reuse")
      .head.getString(0) === plain)
  }

  test("equality deletes taint only the tuples they may match (round 19)") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scansOf(q: org.apache.spark.sql.DataFrame): Int = {
      q.collect()
      PlanWalk.collect(q.queryExecution.executedPlan) {
        case b: BatchScanExec => b: Any
        case f: FileSourceScanExec => f: Any
      }.size
    }
    import spark.implicits._
    // the CDC-upsert layout: a day-partitioned v3 fact whose keys are
    // partition-local (id ranges per day are DISJOINT), so an upsert
    // epoch's equality deletes carry key bounds no other partition's
    // data files overlap
    spark.sql(
      "CREATE TABLE graft.db.eq_scope (id BIGINT, dt DATE, v BIGINT) " +
        "PARTITIONED BY (dt) TBLPROPERTIES ('format-version'='3')")
    spark.sql(
      "INSERT INTO graft.db.eq_scope SELECT id, " +
        "DATE_ADD(DATE'2024-05-01', CAST(id DIV 100 AS INT)), id % 100 " +
        "FROM range(0, 500)")
    val path = s"$wh/db/eq_scope"
    // delete keys 105..109 — inside day 2024-05-02's range [100, 199],
    // provably disjoint from every other partition's id bounds
    IcebergWriter.deleteEquality(spark, path, (105L to 109L).toDF("id"))

    // filtered count EXCLUDING the touched partition: scan-free exact
    val f = spark.sql(
      "SELECT count(*) AS c FROM graft.db.eq_scope WHERE dt <> DATE'2024-05-02'")
    assert(f.head.getLong(0) === 400L)
    assert(scansOf(f) === 0,
      s"counts on untouched partitions must serve scan-free:\n" +
        s"${f.queryExecution.executedPlan}")
    // grouped count over the untouched partitions: scan-free exact
    val g = spark.sql(
      """SELECT dt, count(*) AS c FROM graft.db.eq_scope
        |WHERE dt > DATE'2024-05-02' GROUP BY dt ORDER BY dt""".stripMargin)
    assert(g.collect().map(_.getLong(1)).toSeq === Seq(100L, 100L, 100L))
    assert(scansOf(g) === 0)
    // global count: the tainted partition is in scope → normal plan, exact
    val tot = spark.sql("SELECT count(*) AS c FROM graft.db.eq_scope")
    assert(tot.head.getLong(0) === 495L)
    assert(scansOf(tot) > 0, "global count under a may-match delete must scan")
    // the touched partition itself: normal plan, exact
    val touched = spark.sql(
      "SELECT count(*) AS c FROM graft.db.eq_scope WHERE dt = DATE'2024-05-02'")
    assert(touched.head.getLong(0) === 95L)
    assert(scansOf(touched) > 0, "the touched partition must scan")
    // grouped over ALL partitions (touched one survives the filter set):
    // normal plan, exact
    val ga = spark.sql(
      "SELECT dt, count(*) AS c FROM graft.db.eq_scope GROUP BY dt ORDER BY dt")
    assert(ga.collect().map(_.getLong(1)).toSeq ===
      Seq(100L, 95L, 100L, 100L, 100L))
    assert(scansOf(ga) > 0)

    // a delete whose key bounds match NO live data file taints nothing:
    // even the GLOBAL count stays scan-free
    IcebergWriter.deleteEquality(spark, path, Seq(90000L, 90001L).toDF("id"))
    val tot2 = spark.sql("SELECT count(*) AS c FROM graft.db.eq_scope")
    assert(tot2.head.getLong(0) === 495L)
    // (the first delete still taints day 2: global remains a scan; pin
    // the no-match scoping on the filtered shape instead)
    val f2 = spark.sql(
      "SELECT count(*) AS c FROM graft.db.eq_scope WHERE dt = DATE'2024-05-04'")
    assert(f2.head.getLong(0) === 100L)
    assert(scansOf(f2) === 0,
      "a provably-no-match delete must not disqualify untouched partitions")

    // null-count-ABSENT delete metadata refuses scoping (a null delete
    // key matches rows bounds cannot see): may-match keeps everything
    val keyCol = graft.iceberg.IcebergModel.Column(
      id = 1, name = "id", dataType = org.apache.spark.sql.types.LongType,
      required = false)
    def le8(v: Long): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putLong(v); b.array()
    }
    def mk(content: Int, nullCounts: Map[Int, Long],
           lo: Long, hi: Long, ids: Seq[Int]) =
      graft.iceberg.IcebergModel.ManifestEntry(
        status = 1, content = content, filePath = s"f$content-$lo",
        fileFormat = "PARQUET", recordCount = 5, fileSizeInBytes = 1L,
        partition = Map.empty,
        nullCounts = nullCounts,
        lowerBounds = Map(1 -> le8(lo)), upperBounds = Map(1 -> le8(hi)),
        equalityIds = ids)
    val dataFar = mk(0, Map(1 -> 0L), 0L, 50L, Seq.empty)
    val delNoNull = mk(2, Map.empty, 105L, 109L, Seq(1))
    assert(graft.iceberg.IcebergPruning
      .eqDeleteMayMatch(Seq(delNoNull), Seq(keyCol))(dataFar),
      "absent delete-side null counts must keep every data file (refuse)")
    val delZeroNull = mk(2, Map(1 -> 0L), 105L, 109L, Seq(1))
    assert(!graft.iceberg.IcebergPruning
      .eqDeleteMayMatch(Seq(delZeroNull), Seq(keyCol))(dataFar),
      "zero-null disjoint bounds must rule the file out")
  }

  test("DV'd tuples serve min/max when un-deleted files dominate (round 19)") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    import spark.implicits._
    def scansOf(q: org.apache.spark.sql.DataFrame): Int = {
      q.collect()
      PlanWalk.collect(q.queryExecution.executedPlan) {
        case b: BatchScanExec => b: Any
        case f: FileSourceScanExec => f: Any
      }.size
    }
    // two files: A holds [0, 9] (stays un-deleted), B holds [10, 19] —
    // written one commit each through the writer (coalesce(1) pins ONE
    // file per commit; SQL INSERT VALUES may split tasks)
    val dvmmPath = s"$wh/db/dv_mm"
    IcebergWriter.write(
      spark.range(0, 10).coalesce(1).select(col("id")),
      dvmmPath, formatVersion = 3)
    IcebergWriter.write(
      spark.range(10, 20).coalesce(1).select(col("id")), dvmmPath)
    IcebergWriter.delete(spark, dvmmPath, expr("id = 12")) // DV on B only
    // min: the un-deleted file's bound (0) DOMINATES the DV'd file's
    // lower bound (10) — nothing deleted can beat it → scan-free
    val lo = spark.sql(
      "SELECT min(id) AS lo, count(*) AS c FROM graft.db.dv_mm")
    assert(lo.head.getLong(0) === 0L && lo.head.getLong(1) === 19L)
    assert(scansOf(lo) === 0,
      s"dominating un-deleted min must serve scan-free:\n" +
        s"${lo.queryExecution.executedPlan}")
    // max: the DV'd file holds the global max (19 > 9) — its extremum
    // may have been the deleted row → exact fall-through
    val hi = spark.sql("SELECT max(id) AS hi FROM graft.db.dv_mm")
    assert(hi.head.getLong(0) === 19L)
    assert(scansOf(hi) > 0, "a dominated max must fall back to the scan")

    // grouped variant on a partitioned table: per-tuple dominance
    val dvmmpPath = s"$wh/db/dv_mmp"
    def dayDf(ids: Seq[Long], day: String) =
      ids.toDF("id").withColumn("dt", lit(day).cast("date")).coalesce(1)
    IcebergWriter.write(
      dayDf(0L to 9L, "2024-06-01")
        .unionByName(dayDf(20L to 29L, "2024-06-02")),
      dvmmpPath, partitionBy = Seq("dt" -> "identity"), formatVersion = 3)
    IcebergWriter.write(
      dayDf(100L to 109L, "2024-06-01")
        .unionByName(dayDf(120L to 129L, "2024-06-02")), dvmmpPath)
    IcebergWriter.delete(spark, dvmmpPath, expr("id IN (105, 125)"))
    val gmin = spark.sql(
      "SELECT dt, min(id) AS lo, count(*) AS c FROM graft.db.dv_mmp " +
        "GROUP BY dt ORDER BY dt")
    assert(gmin.collect().map(r => (r.getLong(1), r.getLong(2))).toSeq ===
      Seq((0L, 19L), (20L, 19L)))
    assert(scansOf(gmin) === 0,
      s"per-tuple dominating min must serve scan-free:\n" +
        s"${gmin.queryExecution.executedPlan}")
    val gmax = spark.sql(
      "SELECT dt, max(id) AS hi FROM graft.db.dv_mmp GROUP BY dt ORDER BY dt")
    assert(gmax.collect().map(_.getLong(1)).toSeq === Seq(109L, 129L))
    assert(scansOf(gmax) > 0, "dominated grouped max must scan")
  }

  test("v2 position-delete tombstones count from delete files alone (round 19)") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scansOf(q: org.apache.spark.sql.DataFrame): Int = {
      q.collect()
      PlanWalk.collect(q.queryExecution.executedPlan) {
        case b: BatchScanExec => b: Any
        case f: FileSourceScanExec => f: Any
      }.size
    }
    // a v2 day-partitioned fact, DML-deleted twice (STACKED delete files)
    spark.sql(
      "CREATE TABLE graft.db.pd_cnt (k BIGINT, dt DATE, v BIGINT) " +
        "PARTITIONED BY (dt)")
    spark.sql(
      "INSERT INTO graft.db.pd_cnt SELECT id, " +
        "DATE_ADD(DATE'2024-07-01', CAST(id % 4 AS INT)), " +
        "IF(id % 3 = 0, NULL, id) FROM range(0, 80)")
    spark.sql("DELETE FROM graft.db.pd_cnt WHERE k % 7 = 2")
    spark.sql("DELETE FROM graft.db.pd_cnt WHERE k % 5 = 1")
    val live = (0L until 80L).filterNot(_ % 7 == 2).filterNot(_ % 5 == 1)
    // global + filtered + grouped counts: delete-file I/O only
    val g = spark.sql("SELECT count(*) AS c FROM graft.db.pd_cnt")
    assert(g.head.getLong(0) === live.size.toLong)
    assert(scansOf(g) === 0,
      s"v2 stacked-delete count must serve scan-free:\n" +
        s"${g.queryExecution.executedPlan}")
    val f = spark.sql(
      "SELECT count(*) AS c FROM graft.db.pd_cnt WHERE dt >= DATE'2024-07-03'")
    assert(f.head.getLong(0) === live.count(i => i % 4 >= 2).toLong)
    assert(scansOf(f) === 0)
    val gr = spark.sql(
      "SELECT dt, count(*) AS c FROM graft.db.pd_cnt GROUP BY dt ORDER BY dt")
    assert(gr.collect().map(_.getLong(1)).toSeq ===
      (0 until 4).map(m => live.count(_ % 4 == m).toLong))
    assert(scansOf(gr) === 0)
    // count(col): zero-null column serves; mixed-null column scans exact
    val ck = spark.sql("SELECT count(k) AS c FROM graft.db.pd_cnt")
    assert(ck.head.getLong(0) === live.size.toLong)
    assert(scansOf(ck) === 0)
    val cv = spark.sql("SELECT count(v) AS c FROM graft.db.pd_cnt")
    assert(cv.head.getLong(0) === live.count(_ % 3 != 0).toLong)
    assert(scansOf(cv) > 0, "mixed-null count under tombstones must scan")
    // min/max: dominance applies per tuple — every partition's min row
    // (k in 0..3) is in a tombstoned file, so bounds poison → scan exact
    val mm = spark.sql("SELECT min(k) AS lo, max(k) AS hi FROM graft.db.pd_cnt")
    assert(mm.head.getLong(0) === live.min && mm.head.getLong(1) === live.max)
    // the rowCount TVF surface serves metadata-only on the v2 table too
    val rc = IcebergScan.rowCount(spark, s"$wh/db/pd_cnt").head
    assert(rc.getLong(0) === live.size.toLong && rc.getBoolean(1),
      "v2 position-delete row count must serve from metadata")
  }

  test("stacked position-delete files DEDUPE tombstones; out-of-range " +
      "positions delete nothing (round 19)") {
    import spark.implicits._
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    // one data file, one real delete file from the DML (positions 3, 7)
    val p = s"$wh/db/pd_dup"
    IcebergWriter.write(
      spark.range(0, 50).coalesce(1).select(col("id").as("k")), p)
    IcebergWriter.delete(spark, p, expr("k = 3 OR k = 7"))
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(new java.net.URI(p), conf)
    // the writer lands position-delete parquet under data/snap-N-deletes/
    val delFiles = fs.listStatus(new HPath(p, "data"))
      .filter(s => s.isDirectory && s.getPath.getName.endsWith("-deletes"))
      .flatMap(d => fs.listStatus(d.getPath))
      .filter(_.getPath.getName.endsWith(".parquet"))
    assert(delFiles.length === 1,
      s"expected 1 delete file, got ${delFiles.map(_.getPath).mkString(", ")}")
    val d1 = delFiles.head
    // a FOREIGN writer may stack a second delete file repeating the same
    // (file, pos) tombstones: copy the file byte-for-byte
    val d2Path = new HPath(d1.getPath.getParent, "dup-" + d1.getPath.getName)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, d1.getPath, fs, d2Path, false, conf)
    val dataPath = spark.read.parquet(d1.getPath.toString)
      .select("file_path").head.getString(0)
    // the planner's assignment of both delete files to a data file at
    // manifest path `raw`
    def assigned(raw: String) = raw -> graft.sql.FileDeletes(None, 1L, -1, Seq.empty, raw,
      Seq((d1.getPath.toString, d1.getLen), (d2Path.toString, d1.getLen)))
    // duplicate tombstones count ONCE (footer record counts would say 4)
    val counts = IcebergScan.positionDeleteCounts(
      spark, Map(assigned(dataPath)), Map(dataPath -> 50L))
    assert(counts === Map(dataPath -> 2L),
      "stacked duplicate tombstones must dedupe")
    // positions at/past the file's record count delete nothing: with a
    // claimed record count of 5, position 7 is out of range
    val clamped = IcebergScan.positionDeleteCounts(
      spark, Map(assigned(dataPath)), Map(dataPath -> 5L))
    assert(clamped === Map(dataPath -> 1L),
      "out-of-range tombstones must not count")
    // tombstones naming another file count nowhere
    val other = "some/other/file.parquet"
    val none = IcebergScan.positionDeleteCounts(
      spark, Map(assigned(other)), Map(other -> 50L))
    assert(none === Map.empty)
  }

  test("distinct periods and hourly rollups serve from interval ordinals (round 18)") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scansOf(q: org.apache.spark.sql.DataFrame): Int = {
      q.collect()
      PlanWalk.collect(q.queryExecution.executedPlan) {
        case b: BatchScanExec => b: Any
        case f: FileSourceScanExec => f: Any
      }.size
    }
    // --- count(DISTINCT CAST(ts AS DATE)) over day ordinals (r17 #3) ---
    // cd_day: 4 day(ts) files of 24 hourly rows (Mar 1-4 2024)
    val g = spark.sql(
      "SELECT count(DISTINCT CAST(ts AS DATE)) AS d FROM graft.db.cd_day")
    assert(g.head.getLong(0) === 4L)
    assert(scansOf(g) === 0,
      s"active-days count must serve scan-free:\n${g.queryExecution.executedPlan}")
    // filtered
    val f = spark.sql(
      """SELECT count(DISTINCT CAST(ts AS DATE)) AS d FROM graft.db.cd_day
        |WHERE CAST(ts AS DATE) >= DATE'2024-03-02'""".stripMargin)
    assert(f.head.getLong(0) === 3L)
    assert(scansOf(f) === 0)
    // grouped by a coarser period, distinct of the finer one
    val gr = spark.sql(
      """SELECT trunc(CAST(ts AS DATE), 'MM') AS m,
        |       count(DISTINCT CAST(ts AS DATE)) AS d, count(*) AS n
        |FROM graft.db.cd_day GROUP BY 1""".stripMargin)
    assert(gr.collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
      .toSeq === Seq(("2024-03-01", 4L, 96L)))
    assert(scansOf(gr) === 0)
    // distinct WEEKS render from day ordinals too (Feb 26 + Mar 4 weeks)
    val wk = spark.sql(
      """SELECT count(DISTINCT trunc(CAST(ts AS DATE), 'week')) AS w
        |FROM graft.db.cd_day""".stripMargin)
    assert(wk.head.getLong(0) === 2L)
    assert(scansOf(wk) === 0)
    // month transform asked for distinct DAYS: provably falls through
    val m = spark.sql(
      "SELECT count(DISTINCT CAST(ts AS DATE)) AS d FROM graft.db.cd_month")
    assert(m.head.getLong(0) === 4L)
    assert(scansOf(m) > 0, "distinct days over month files must scan")

    // --- hourly rollups over hour ordinals (r17 #4) ---
    spark.sql(
      "CREATE TABLE graft.db.cd_hour (k BIGINT, ts TIMESTAMP_NTZ) " +
        "PARTITIONED BY (hours(ts))")
    spark.sql(
      """INSERT INTO graft.db.cd_hour
        |SELECT id, timestampadd(MINUTE, CAST(id * 30 AS INT),
        |                        TIMESTAMP_NTZ'2024-03-01 00:00:00')
        |FROM range(0, 96)""".stripMargin) // 48 hours × 2 rows
    val h1 = spark.sql(
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP_NTZ) AS h,
        |       count(*) AS c
        |FROM graft.db.cd_hour GROUP BY 1 ORDER BY h""".stripMargin)
    val hr = h1.collect()
    assert(hr.length === 48 && hr.forall(_.getLong(1) === 2L))
    assert(hr.head.get(0).toString === "2024-03-01T00:00")
    assert(scansOf(h1) === 0,
      s"hourly rollup over hour files must serve:\n${h1.queryExecution.executedPlan}")
    // plain TimestampType rendering (UTC session) serves too
    val h2 = spark.sql(
      """SELECT date_trunc('hour', ts) AS h, count(*) AS c
        |FROM graft.db.cd_hour GROUP BY 1""".stripMargin)
    assert(h2.collect().length === 48)
    assert(scansOf(h2) === 0)
    // hour files serve DAILY rollups as well (coarser period)
    val h3 = spark.sql(
      """SELECT CAST(ts AS DATE) AS d, count(*) AS c
        |FROM graft.db.cd_hour GROUP BY 1 ORDER BY d""".stripMargin)
    assert(h3.collect().map(_.getLong(1)).toSeq === Seq(48L, 48L))
    assert(scansOf(h3) === 0)
    // distinct active HOURS from hour ordinals
    val h4 = spark.sql(
      "SELECT count(DISTINCT date_trunc('hour', ts)) AS h FROM graft.db.cd_hour")
    assert(h4.head.getLong(0) === 48L)
    assert(scansOf(h4) === 0)
    // a DAY transform asked for hourly rollups: provably falls through
    val h5 = spark.sql(
      """SELECT date_trunc('hour', ts) AS h, count(*) AS c
        |FROM graft.db.cd_day GROUP BY 1""".stripMargin)
    assert(h5.collect().length === 96)
    assert(scansOf(h5) > 0, "hourly rollup over day files must scan")
  }

  test("cast-date filter prunes keyed-scan files via the implied timestamp range") {
    // the enriched Filter pushes `ts >= lo AND ts < next` into the keyed
    // scan, so only the matching day's file is read: pin via the scan's
    // numOutputRows metric (task counts are padded under claims)
    val q = spark.sql(
      """SELECT sum(k) AS s FROM graft.db.cd_day
        |WHERE CAST(ts AS DATE) = DATE'2024-03-02' AND k % 2 = 0""".stripMargin)
    assert(q.collect().head.getLong(0) === (24 to 47 by 2).map(_.toLong).sum)
    val scans = PlanWalk.collect(q.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty, s"expected a keyed scan:\n${q.queryExecution.executedPlan}")
    val rows = scans.map(_.metrics("numOutputRows").value).sum
    assert(rows === 24L,
      s"cast-date filter must prune to one day's 24 rows, scanned $rows")
  }

  test("_metadata virtual columns resolve on catalog identifiers (SQL + DataFrame)") {
    import org.apache.spark.sql.functions._
    spark.sql("CREATE TABLE graft.db.meta_t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.meta_t SELECT id, CAST(id AS STRING) FROM range(0, 60)")
    spark.sql("INSERT INTO graft.db.meta_t SELECT id, CAST(id AS STRING) FROM range(60, 100)")
    // SQL, qualified and unqualified
    val rows = spark.sql(
      """SELECT t._metadata.file_path AS p, count(*) AS n
        |FROM graft.db.meta_t t GROUP BY 1""".stripMargin).collect()
    assert(rows.map(_.getLong(1)).sum === 100L)
    assert(rows.length >= 2)
    // DataFrame surface
    val df = spark.table("graft.db.meta_t")
      .select(col("_metadata.file_path"), col("id"))
    assert(df.count() === 100L)
    assert(df.select(countDistinct(col("file_path"))).head.getLong(0) >= 2L)
    // a write whose SOURCE selects _metadata still lands (target relation
    // keeps its V2 identity; only read relations splice)
    spark.sql("CREATE TABLE graft.db.meta_sink (p STRING, id BIGINT)")
    spark.sql(
      """INSERT INTO graft.db.meta_sink
        |SELECT _metadata.file_path, id FROM graft.db.meta_t""".stripMargin)
    assert(spark.sql("SELECT count(DISTINCT p) FROM graft.db.meta_sink")
      .head.getLong(0) >= 2L)
  }

  test("a qualified _metadata on the file-source join side leaves the graft " +
      "relation unspliced (round 18)") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    mkOrders("orders_scope", rows = 40)
    val pdir = Files.createTempDirectory("graft_scope_p_").toString
    spark.range(1, 41).selectExpr("id", "id * 2 AS w")
      .write.mode("overwrite").parquet(pdir)
    // `p._metadata` names the FILE-SOURCE side (a direct path relation —
    // views hide metadata columns): the graft relation must keep its
    // DSv2 identity (keyed/SPJ claims intact), not be spliced
    val df = spark.sql(
      s"""SELECT p._metadata.file_path AS f, g.id
         |FROM parquet.`$pdir` p JOIN graft.db.orders_scope g ON p.id = g.id"""
        .stripMargin)
    assert(df.count() === 40L)
    assert(df.queryExecution.analyzed.collect {
      case r: DataSourceV2Relation => r }.nonEmpty,
      "graft relation must stay DSv2 when _metadata targets the other side:\n" +
        df.queryExecution.analyzed)
    // the graft side's OWN qualified _metadata still splices and resolves
    val df2 = spark.sql(
      s"""SELECT g._metadata.file_path AS f
         |FROM parquet.`$pdir` p JOIN graft.db.orders_scope g ON p.id = g.id"""
        .stripMargin)
    assert(df2.count() === 40L)
    assert(df2.queryExecution.analyzed.collect {
      case r: DataSourceV2Relation => r }.isEmpty,
      "the referenced graft relation must splice")
  }
}

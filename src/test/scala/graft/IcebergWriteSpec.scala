package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import graft.iceberg.{IcebergScan, IcebergWriter}
import graft.iceberg.IcebergScan.Options

/** Write-path round trip: tables created/appended by IcebergWriter must
  * read back through the full scan surface — latest, time travel by
  * snapshot id and timestamp, snapshot/metadata listings, incremental
  * append reads. */
class IcebergWriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val Sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession =
    GraftSessions.builder("local[4]", "4").appName("graft-write").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("create + append snapshots round-trip through the scan") {
    val table = Files.createTempDirectory("graft_w_").toString + "/orders_ice"
    val orders = Tables.load(spark, Sf, "orders")
    val part1 = orders.filter(col("o_orderkey") % 2 === 0)
    val part2 = orders.filter(col("o_orderkey") % 2 === 1)
    val (n1, n2) = (part1.count(), part2.count())

    val snap1 = IcebergWriter.write(part1, table)
    assert(IcebergScan.scan(spark, table).count() === n1)

    val snap2 = IcebergWriter.write(part2, table)
    // latest sees both appends; time travel isolates the first
    assert(IcebergScan.scan(spark, table).count() === n1 + n2)
    assert(IcebergScan.scan(spark, table,
      Options(snapshotId = Some(snap1))).count() === n1)

    // full row equality against the source
    val got = IcebergScan.scan(spark, table)
    val want = orders.select(got.columns.map(col): _*)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

    // snapshots + metadata listings
    val snaps = IcebergScan.snapshots(spark, table).orderBy("sequence_number").collect()
    assert(snaps.map(_.getLong(1)).toSeq === Seq(snap1, snap2))
    val meta = IcebergScan.metadata(spark, table).collect()
    assert(meta.forall(_.getString(3) === "ADDED"))
    assert(meta.map(_.getLong(7)).sum === n1 + n2)

    // incremental read of the second append only
    val inc = IcebergScan.incrementalAppend(spark, table, fromSnapshotId = snap1)
    assert(inc.count() === n2)

    // time travel by timestamp: at snap1's commit time, only part1 exists
    val ts1 = snaps(0).getAs[java.time.LocalDateTime]("timestamp_ms")
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    assert(IcebergScan.scan(spark, table,
      Options(asOfTimestampMs = Some(ts1))).count() === n1)
  }

  test("merge-on-read DELETE round-trips through the scan's anti join") {
    val table = Files.createTempDirectory("graft_wd_").toString + "/t"
    val orders = Tables.load(spark, Sf, "orders")
    IcebergWriter.write(orders, table)
    val nAll = orders.count()
    val nF = orders.filter(col("o_orderstatus") === "F").count()

    val snapD = IcebergWriter.delete(spark, table, col("o_orderstatus") === "F")

    // read-time subtraction: F rows are gone, others identical
    val after = IcebergScan.scan(spark, table)
    assert(after.count() === nAll - nF)
    assert(after.filter(col("o_orderstatus") === "F").count() === 0)
    val want = orders.filter(col("o_orderstatus") =!= "F")
      .select(after.columns.map(col): _*)
    assert(after.exceptAll(want).isEmpty && want.exceptAll(after).isEmpty)

    // metadata lists the position-delete entry; time travel pre-delete
    val meta = IcebergScan.metadata(spark, table).collect()
    assert(meta.exists(r => r.getString(4) === "POSITION_DELETES"))
    assert(IcebergScan.scan(spark, table,
      Options(snapshotId = Some(snapD - 1))).count() === nAll)

    // a second delete stacks on the first
    IcebergWriter.delete(spark, table, col("o_orderkey") % 10 === 0)
    val after2 = IcebergScan.scan(spark, table).count()
    assert(after2 < nAll - nF && after2 > 0)

    // compaction folds the deletes into rewritten files
    IcebergWriter.compact(spark, table)
    assert(IcebergScan.scan(spark, table).count() === after2)
  }

  test("merge-on-read UPDATE: one snapshot tombstones old rows and appends new") {
    val table = Files.createTempDirectory("graft_wu_").toString + "/t"
    val part = Tables.load(spark, Sf, "part")
    IcebergWriter.write(part, table)
    val n = part.count()

    IcebergWriter.update(spark, table,
      col("p_size") > 25,
      Map("p_retailprice" -> (col("p_retailprice") * 2),
          "p_brand" -> lit("UPDATED")))

    val after = IcebergScan.scan(spark, table)
    assert(after.count() === n) // row count unchanged
    val big = after.filter(col("p_size") > 25)
    assert(big.filter(col("p_brand") =!= "UPDATED").count() === 0)
    // updated prices are exactly doubled vs the source
    val src = part.filter(col("p_size") > 25)
      .select(col("p_partkey"), (col("p_retailprice") * 2).as("want"))
    val mism = big.select(col("p_partkey"), col("p_retailprice"))
      .join(src, "p_partkey")
      .filter(col("p_retailprice") =!= col("want"))
    assert(mism.count() === 0)
    // untouched rows identical
    val small = after.filter(col("p_size") <= 25)
    val smallWant = part.filter(col("p_size") <= 25).select(after.columns.map(col): _*)
    assert(small.exceptAll(smallWant).isEmpty && smallWant.exceptAll(small).isEmpty)
  }

  test("compaction rewrites live rows, marks old files DELETED, keeps time travel") {
    val table = Files.createTempDirectory("graft_wc_").toString + "/t"
    val li = Tables.load(spark, Sf, "lineitem")
    val snap1 = IcebergWriter.write(li.filter(col("l_orderkey") % 2 === 0), table)
    IcebergWriter.write(li.filter(col("l_orderkey") % 2 === 1), table)
    val before = IcebergScan.scan(spark, table)
    val nBefore = before.count()

    val snapC = IcebergWriter.compact(spark, table)

    // same rows after compaction
    val after = IcebergScan.scan(spark, table)
    assert(after.count() === nBefore)
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty)

    // metadata shows the ADDED + DELETED manifest shape of a compaction
    val meta = IcebergScan.metadata(spark, table).collect()
    val latestStatuses = meta.map(_.getString(3)).toSet
    assert(latestStatuses.contains("ADDED") && latestStatuses.contains("DELETED"))

    // pre-compaction snapshots still readable (their files remain)
    val n1 = IcebergScan.scan(spark, table,
      Options(snapshotId = Some(snap1))).count()
    assert(n1 > 0 && n1 < nBefore)
    assert(snapC > snap1)
  }

  test("write-side schema evolution: add a column, then widen it " +
       "(reference evolution shape, iceberg_scan_generated_data_0_001.test:92-108)") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val table = Files.createTempDirectory("graft_we_").toString + "/t"
    val base = Tables.load(spark, Sf, "nation").select(
      col("n_nationkey").cast("int").as("key"), col("n_name"))
    val n = base.count()

    IcebergWriter.write(base, table)                                     // v1: 2 cols
    IcebergWriter.write(base.withColumn("extra", lit(42)), table)        // v2: + INT col
    assert(IcebergScan.scan(spark, table).schema("extra").dataType === IntegerType)

    IcebergWriter.write(
      base.withColumn("extra", lit(7L)), table)                          // v3: widen to BIGINT
    val got = IcebergScan.scan(spark, table)
    assert(got.schema("extra").dataType === LongType)
    assert(got.count() === 3 * n)
    // rows written before the column existed read NULL; later rows widened
    assert(got.filter(col("extra").isNull).count() === n)
    assert(got.filter(col("extra") === 42L).count() === n)
    assert(got.filter(col("extra") === 7L).count() === n)

    // narrowing and renaming are rejected
    val e1 = intercept[IllegalArgumentException] {
      IcebergWriter.write(base.withColumn("extra", lit(1).cast("int")), table)
    }
    assert(e1.getMessage.contains("cannot change"))
    val e2 = intercept[IllegalArgumentException] {
      IcebergWriter.write(base.withColumnRenamed("key", "k2")
        .withColumn("extra", lit(1L)), table)
    }
    assert(e2.getMessage.contains("renames"))
  }

  test("partitioned write prunes files under a partition predicate, " +
       "exactly (days(dt) shape, reference scripts/provision.py:86-94)") {
    import graft.iceberg.IcebergPruning.{ColPredicate, Eq, Le}
    val table = Files.createTempDirectory("graft_wp_").toString + "/t"
    val orders = Tables.load(spark, Sf, "orders")
      .withColumn("om", trunc(col("o_orderdate"), "month"))
      .repartition(col("om"))
    IcebergWriter.write(orders, table, partitionBy = Seq("om" -> "identity"))

    val allFiles = IcebergScan.scan(spark, table, Options(mode = "list_files")).count()
    val months = orders.select("om").distinct().count()
    assert(allFiles === months) // one file per identity partition value

    val d = java.time.LocalDate.parse("1995-03-01")
    val filters = Seq(ColPredicate("om", Eq, d))
    val kept = IcebergScan.scan(spark, table,
      Options(mode = "list_files", filters = filters)).count()
    assert(kept === 1) // strictly fewer files read under the predicate

    // semantics: pruned scan ≡ unpruned scan + the same filter
    val got = IcebergScan.scan(spark, table, Options(filters = filters))
    val want = IcebergScan.scan(spark, table)
      .filter(col("om") === lit(java.sql.Date.valueOf(d)))
    assert(got.count() === want.count() && got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

    // row-level ops must PRESERVE the partition spec (a delete commit
    // carries no new spec; erasing it would silently kill pruning)
    IcebergWriter.delete(spark, table, col("o_orderkey") % 97 === 0)
    val keptAfterDelete = IcebergScan.scan(spark, table,
      Options(mode = "list_files", filters = filters))
      .filter(col("type") === "data").count()
    assert(keptAfterDelete === 1)
    val got2 = IcebergScan.scan(spark, table, Options(filters = filters))
    val want2 = IcebergScan.scan(spark, table)
      .filter(col("om") === lit(java.sql.Date.valueOf(d)))
    assert(got2.exceptAll(want2).isEmpty && want2.exceptAll(got2).isEmpty)

    // day-transform over the raw date column prunes too (bounds + spec)
    val table2 = Files.createTempDirectory("graft_wp2_").toString + "/t"
    val sliced = orders.drop("om").filter(
      col("o_orderdate") < lit("1995-02-01").cast("date"))
    IcebergWriter.write(sliced.repartition(col("o_orderdate")), table2,
      partitionBy = Seq("o_orderdate" -> "day"))
    val days = sliced.select("o_orderdate").distinct().count()
    assert(IcebergScan.scan(spark, table2, Options(mode = "list_files")).count() === days)
    val dayFilters = Seq(ColPredicate(
      "o_orderdate", Le, java.time.LocalDate.parse("1995-01-05")))
    val keptDays = IcebergScan.scan(spark, table2,
      Options(mode = "list_files", filters = dayFilters)).count()
    assert(keptDays < days && keptDays > 0)
  }

  test("IN-list and null-count predicates prune files, exactly") {
    import graft.iceberg.IcebergPruning.{ColPredicate, In, IsNull, NotNull}
    // IN over identity partitions: 2 of N month files read
    val table = Files.createTempDirectory("graft_win_").toString + "/t"
    val orders = Tables.load(spark, Sf, "orders")
      .withColumn("om", trunc(col("o_orderdate"), "month"))
      .repartition(col("om"))
    IcebergWriter.write(orders, table, partitionBy = Seq("om" -> "identity"))
    val months = orders.select("om").distinct().count()
    val wanted = Seq(java.time.LocalDate.parse("1995-03-01"),
                     java.time.LocalDate.parse("1995-07-01"))
    val inFilter = Seq(ColPredicate("om", In, wanted))
    assert(IcebergScan.scan(spark, table,
      Options(mode = "list_files", filters = inFilter)).count() === 2)
    assert(months > 2)
    val got = IcebergScan.scan(spark, table, Options(filters = inFilter))
    val want = IcebergScan.scan(spark, table).filter(
      col("om").isin(wanted.map(java.sql.Date.valueOf): _*))
    assert(got.count() === want.count() && got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // an oversized list degrades to keep-all, results still exact
    val big = (1 to 2000).map(i => java.time.LocalDate.ofEpochDay(9000L + i))
    assert(IcebergScan.scan(spark, table,
      Options(mode = "list_files",
        filters = Seq(ColPredicate("om", In, big)))).count() === months)

    // IN over column bounds: a ranged write keeps only matching files
    val table2 = Files.createTempDirectory("graft_win2_").toString + "/t"
    IcebergWriter.write(
      orders.drop("om").repartitionByRange(8, col("o_orderkey")), table2)
    val keys = orders.select(min("o_orderkey"), max("o_orderkey")).head()
    val keptIn = IcebergScan.scan(spark, table2,
      Options(mode = "list_files",
        filters = Seq(ColPredicate("o_orderkey", In,
          Seq(keys.getLong(0), keys.getLong(1)))))).count()
    assert(keptIn === 2, "min and max keys live in the two edge files")

    // null counts: an all-null file is skipped under IS NOT NULL, and
    // no-null files are skipped under IS NULL
    val table3 = Files.createTempDirectory("graft_win3_").toString + "/t"
    val nation = Tables.load(spark, Sf, "nation")
    IcebergWriter.write(nation.coalesce(1), table3)
    IcebergWriter.write(
      nation.withColumn("n_name", lit(null).cast("string")).coalesce(1), table3)
    assert(IcebergScan.scan(spark, table3, Options(mode = "list_files")).count() === 2)
    assert(IcebergScan.scan(spark, table3,
      Options(mode = "list_files",
        filters = Seq(ColPredicate("n_name", NotNull, null)))).count() === 1)
    assert(IcebergScan.scan(spark, table3,
      Options(mode = "list_files",
        filters = Seq(ColPredicate("n_name", IsNull, null)))).count() === 1)
    val notNullRows = IcebergScan.scan(spark, table3,
      Options(filters = Seq(ColPredicate("n_name", NotNull, null))))
    assert(notNullRows.count() === nation.count())
    assert(notNullRows.filter(col("n_name").isNull).count() === 0)

    // the same predicates extract from plain Spark conditions
    val viaCol = IcebergScan.scanFiltered(spark, table,
      col("om").isin(wanted.map(java.sql.Date.valueOf): _*),
      Options(mode = "list_files"))
    assert(viaCol.count() === 2)
    val viaNull = IcebergScan.scanFiltered(spark, table3,
      col("n_name").isNotNull, Options(mode = "list_files"))
    assert(viaNull.count() === 1)
  }

  test("scanFiltered extracts prunable conjuncts from a plain Spark predicate") {
    import graft.iceberg.IcebergScan.extractPredicates
    import graft.iceberg.IcebergPruning.{Eq, Ge, Lt}
    import org.apache.spark.sql.types._
    val c = (col("a") === 5L) && (lit(10) > col("b")) &&
      (col("dt") >= lit("2024-01-05").cast("date")) && col("s").startsWith("x")
    val dummy = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("a", LongType), StructField("b", IntegerType),
        StructField("dt", DateType), StructField("s", StringType))))
    val resolved = dummy.filter(c).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.get
    val got = extractPredicates(resolved)
    assert(got.map(p => (p.column, p.op)) ===
      Seq(("a", Eq), ("b", Lt), ("dt", Ge),
        ("s", Ge), ("s", Lt))) // startsWith = [prefix, prefix+1) range
    assert(got(2).value === 19727) // epoch days of 2024-01-05
    assert(got(3).value === "x" && got(4).value === "y")

    // OR of same-column equalities merges into one IN; mixed-column OR
    // extracts nothing (partial extraction would over-prune)
    import graft.iceberg.IcebergPruning.In
    def extractOf(c: org.apache.spark.sql.Column) =
      extractPredicates(dummy.filter(c).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.get)
    val orGot = extractOf((col("a") === 1L) || (col("a") === 7L))
    assert(orGot.map(p => (p.column, p.op)) === Seq(("a", In)))
    assert(orGot.head.value === Seq(1L, 7L))
    assert(extractOf((col("a") === 1L) || (col("b") === 2)) === Seq.empty)

    // end to end: the plain-filter API reads strictly fewer files
    val table = Files.createTempDirectory("graft_wf_").toString + "/t"
    val events = Tables.events(spark, Sf)
      .withColumn("dt", to_date(col("ts")))
      .repartition(col("dt"))
    IcebergWriter.write(events, table, partitionBy = Seq("dt" -> "day"))
    val all = IcebergScan.scan(spark, table)
    val cond = col("dt") === lit("2024-01-03").cast("date") && col("value") > 0.0
    val pruned = IcebergScan.scanFiltered(spark, table, cond)
    assert(pruned.inputFiles.length === 1 && all.inputFiles.length > 1)
    val want = all.filter(cond)
    assert(pruned.exceptAll(want).isEmpty && want.exceptAll(pruned).isEmpty)
  }

  test("merge upserts in one snapshot; time travel and stacking hold") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_mg_").toString + "/t"
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val snap1 = IcebergWriter.write(base, table)

    // update id=2, insert id=4 — one commit
    val snap2 = IcebergWriter.merge(
      spark, table, Seq((2L, "B"), (4L, "d")).toDF("id", "v"), Seq("id"))
    val got = IcebergScan.scan(spark, table).as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq === Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")))
    // exactly one snapshot added; pre-merge state intact via time travel
    assert(IcebergScan.snapshots(spark, table).count() === 2)
    val before = IcebergScan.scan(spark, table, Options(snapshotId = Some(snap1)))
    assert(before.as[(Long, String)].collect().sortBy(_._1).toSeq ===
      Seq((1L, "a"), (2L, "b"), (3L, "c")))

    // stacked merge: re-update id=2 again and id=4 (written by merge #1)
    IcebergWriter.merge(
      spark, table, Seq((2L, "BB"), (4L, "D")).toDF("id", "v"), Seq("id"))
    val got2 = IcebergScan.scan(spark, table).as[(Long, String)].collect().sortBy(_._1)
    assert(got2.toSeq === Seq((1L, "a"), (2L, "BB"), (3L, "c"), (4L, "D")))
    assert(IcebergScan.scan(spark, table,
      Options(snapshotId = Some(snap2))).count() === 4)

    // a source with two rows for one key is ambiguous → rejected, and
    // leaves no snapshot and no file behind
    def listing = {
      val root = new java.io.File(table).toPath
      val walk = Files.walk(root)
      try walk.iterator().asScala.map(root.relativize(_).toString).toList.sorted
      finally walk.close()
    }
    val (snapsBefore, filesBefore) = (IcebergScan.snapshots(spark, table).count(), listing)
    val dup = intercept[IllegalArgumentException] {
      IcebergWriter.merge(spark, table,
        Seq((5L, "x"), (5L, "y")).toDF("id", "v"), Seq("id"))
    }
    assert(dup.getMessage.contains("multiple rows"))
    assert(IcebergScan.snapshots(spark, table).count() === snapsBefore)
    assert(listing === filesBefore)
    // a wrongly-typed source must not poison the table
    val badType = intercept[IllegalArgumentException] {
      IcebergWriter.merge(spark, table,
        Seq((6, "x")).toDF("id", "v"), Seq("id")) // id:int vs table id:long
    }
    assert(badType.getMessage.contains("cannot change"))
  }

  test("merge on a partitioned table keeps the partition layout prunable") {
    import graft.iceberg.IcebergPruning.{ColPredicate, Eq}
    val table = Files.createTempDirectory("graft_mgp_").toString + "/t"
    val events = Tables.events(spark, Sf)
      .withColumn("dt", to_date(col("ts")))
      .repartition(col("dt"))
    IcebergWriter.write(events, table, partitionBy = Seq("dt" -> "day"))
    val filesBefore = IcebergScan.scan(spark, table).inputFiles.length

    // upsert one day's rows (value doubled) — merge must write files that
    // carry partition values, or pruning would stop skipping them
    val day = events.filter(col("dt") === lit("2024-01-02").cast("date"))
      .withColumn("value", col("value") * 2)
    IcebergWriter.merge(spark, table, day, Seq("event_id"))

    val filters = Seq(ColPredicate("dt", Eq, java.time.LocalDate.parse("2024-01-05")))
    // merge-written files are for 2024-01-02 only → a 01-05 predicate
    // still reads exactly one DATA file (list_files excludes the
    // equality-delete file the scan also consumes)
    val listed = IcebergScan.scan(spark, table,
      Options(filters = filters, mode = "list_files"))
    assert(listed.filter(col("type") === "data").count() === 1, s"before=$filesBefore")
    // and the merged rows replaced, not duplicated
    val total = IcebergScan.scan(spark, table)
    assert(total.count() === events.count())
    val gotSum = total.filter(col("dt") === lit("2024-01-02").cast("date"))
      .agg(sum(col("value"))).head.getDouble(0)
    val wantSum = day.agg(sum(col("value"))).head.getDouble(0)
    assert(math.abs(gotSum - wantSum) < 1e-6, s"$gotSum vs $wantSum")
  }

  test("SQL where => resolves before extraction: coercion, case, list_files") {
    graft.sql.GraftSql.register(spark)
    val table = Files.createTempDirectory("graft_sw_").toString + "/t"
    val events = Tables.events(spark, Sf)
      .withColumn("dt", to_date(col("ts")))
      .repartition(col("dt"))
    IcebergWriter.write(events, table, partitionBy = Seq("dt" -> "day"))
    val all = IcebergScan.scan(spark, table)

    // numeric-vs-string comparison: resolution puts the coercion cast on
    // the attribute side, so nothing is extracted and NO file is pruned
    // under string ordering — results must equal the plain Spark filter.
    // "0999" is the trap: as a string bound it sorts BELOW "10" (so naive
    // extraction would prune the file), but casts to 999 > 10.
    val strTable = Files.createTempDirectory("graft_sw2_").toString + "/t"
    import spark.implicits._
    IcebergWriter.write(Seq("0999", "0500").toDF("code"), strTable)
    val wantStr = IcebergScan.scan(spark, strTable).filter("code > 10").count()
    assert(wantStr === 2L)
    val gotStr = spark.sql(
      s"""SELECT count(*) AS c FROM iceberg_scan('$strTable', where => "code > 10")""")
      .collect().head.getLong(0)
    assert(gotStr === wantStr)

    // case-insensitive column reference still prunes (resolution
    // normalizes DT → dt before extraction)
    val day = spark.sql(
      s"""SELECT * FROM iceberg_scan('$table', where => "DT = DATE '2024-01-03'")""")
    assert(day.inputFiles.length === 1)
    assert(day.count() === all.filter("dt = DATE '2024-01-03'").count())

    // where + mode='list_files': the predicate prunes the listing itself
    val listed = spark.sql(
      s"""SELECT * FROM iceberg_scan('$table',
            mode => 'list_files', where => "dt = DATE '2024-01-03'")""")
    assert(listed.count() === 1)
  }

  test("manifest column bounds prune range-disjoint unpartitioned files") {
    import graft.iceberg.IcebergPruning.{ColPredicate, Gt}
    val table = Files.createTempDirectory("graft_wb_").toString + "/t"
    val li = Tables.load(spark, Sf, "lineitem")
      .repartitionByRange(6, col("l_orderkey"))
    IcebergWriter.write(li, table)
    assert(IcebergScan.scan(spark, table, Options(mode = "list_files")).count() === 6)

    val maxKey = li.agg(max("l_orderkey")).head.getLong(0)
    val filters = Seq(ColPredicate("l_orderkey", Gt, maxKey - 1))
    val kept = IcebergScan.scan(spark, table,
      Options(mode = "list_files", filters = filters)).count()
    assert(kept === 1) // only the top range file can hold the max key

    val got = IcebergScan.scan(spark, table, Options(filters = filters))
    val want = li.filter(col("l_orderkey") > maxKey - 1)
      .select(got.columns.map(col): _*)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("UPDATE after DELETE does not resurrect tombstoned rows") {
    val table = Files.createTempDirectory("graft_wr_").toString + "/t"
    val nation = Tables.load(spark, Sf, "nation")
    val n = nation.count()
    IcebergWriter.write(nation, table)

    // tombstone key 7 (position delete), then key 8 (equality delete)
    IcebergWriter.delete(spark, table, col("n_nationkey") === 7)
    IcebergWriter.deleteEquality(spark, table,
      nation.filter(col("n_nationkey") === 8).select("n_nationkey"))
    assert(IcebergScan.scan(spark, table).count() === n - 2)

    // an UPDATE whose predicate matches the dead keys must not revive them
    IcebergWriter.update(spark, table,
      col("n_nationkey").isin(7, 8, 9),
      Map("n_name" -> lit("TOUCHED")))
    val after = IcebergScan.scan(spark, table)
    assert(after.count() === n - 2)
    assert(after.filter(col("n_nationkey").isin(7, 8)).count() === 0)
    assert(after.filter(col("n_nationkey") === 9 && col("n_name") === "TOUCHED").count() === 1)

    // a second DELETE matching everything only tombstones live rows
    IcebergWriter.delete(spark, table, col("n_nationkey") >= 0)
    assert(IcebergScan.scan(spark, table).count() === 0)
  }

  test("equality DELETE round-trips with sequence scoping and stacks with appends") {
    val table = Files.createTempDirectory("graft_weq_").toString + "/t"
    val nation = Tables.load(spark, Sf, "nation")
    val n = nation.count()
    IcebergWriter.write(nation, table)

    // delete by key: nations 0..9 disappear
    val keys = nation.filter(col("n_nationkey") < 10).select("n_nationkey")
    IcebergWriter.deleteEquality(spark, table, keys)
    val after = IcebergScan.scan(spark, table)
    assert(after.count() === n - 10)
    assert(after.filter(col("n_nationkey") < 10).count() === 0)

    // rows appended AFTER the delete are NOT affected (strictly-older scope)
    IcebergWriter.write(nation, table)
    val after2 = IcebergScan.scan(spark, table)
    assert(after2.count() === (n - 10) + n)
    assert(after2.filter(col("n_nationkey") < 10).count() === 10)

    // a second, multi-column equality delete stacks on top
    IcebergWriter.deleteEquality(spark, table,
      nation.filter(col("n_nationkey") === 15).select("n_nationkey", "n_name"))
    val after3 = IcebergScan.scan(spark, table)
    assert(after3.filter(col("n_nationkey") === 15).count() === 0)
    assert(after3.count() === (n - 10) + n - 2) // key 15 in both live snapshots

    // position deletes compose with equality deletes
    IcebergWriter.delete(spark, table, col("n_nationkey") === 20)
    val after4 = IcebergScan.scan(spark, table)
    assert(after4.filter(col("n_nationkey") === 20).count() === 0)

    // metadata listing surfaces the equality-delete entries
    val meta = IcebergScan.metadata(spark, table).collect()
    assert(meta.count(_.getString(4) === "EQUALITY_DELETES") === 2)

    // time travel to the pre-delete snapshot still sees everything
    assert(IcebergScan.scan(spark, table,
      Options(snapshotId = Some(1L))).count() === n)
  }

  test("same-key equality-delete files are planned as ONE grouped multi-path read") {
    val table = Files.createTempDirectory("graft_weqg_").toString + "/t"
    val nation = Tables.load(spark, Sf, "nation")
    IcebergWriter.write(nation, table)
    // four separate equality-delete commits on the same key column → four
    // delete files that share one equality_ids group
    (1 to 4).foreach { k =>
      IcebergWriter.deleteEquality(spark, table,
        nation.filter(col("n_nationkey") === k).select("n_nationkey"))
    }
    val df = IcebergScan.scan(spark, table)
    assert(df.count() === nation.count() - 4)
    // the per-file filter carries the four files as ONE group (one key
    // index per data file, not one per delete file)
    val filters = df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case d: graft.sql.DvAlive => d
    }))
    assert(filters.size === 1)
    assert(filters.head.spec.groups.map(_.map(_.files.size)) === Seq(Seq(4)))
    // above the broadcast threshold (the anti join), the group must be ONE
    // multi-path relation (its root paths are the four delete dirs), not
    // one relation per file — per-file driver reads would serialize 100k
    // footer opens at scale before the plan even composes
    val joined = IcebergScan.scan(spark, table, Options(broadcastDeleteThreshold = 0L))
    assert(joined.count() === nation.count() - 4)
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val delRelations = joined.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation
          if l.relation.isInstanceOf[HadoopFsRelation] &&
            l.relation.asInstanceOf[HadoopFsRelation]
              .location.rootPaths.exists(_.toString.contains("-eqdeletes")) =>
        l.relation.asInstanceOf[HadoopFsRelation]
    }
    assert(delRelations.size === 1)
    assert(delRelations.head.location.rootPaths.count(_.toString.contains("-eqdeletes")) === 4)
  }

  test("equality-delete scoping: a partition-local delete is invisible to " +
       "scans of other partitions and bypasses the join for unaffected files") {
    val table = Files.createTempDirectory("graft_weqs_").toString + "/t"
    val events = Tables.events(spark, Sf)
      .withColumn("dt", to_date(col("ts")))
      .select("event_id", "user_id", "event_type", "dt")
    val days = events.select("dt").distinct().orderBy("dt")
      .collect().map(_.getDate(0)).toSeq
    val (d0, d1) = (days.head, days(1))
    IcebergWriter.write(events.repartition(8, col("dt")), table,
      partitionBy = Seq("dt" -> "day"))

    // equality delete scoped (by its key bounds) to day d0 only
    IcebergWriter.deleteEquality(spark, table,
      events.filter(col("dt") === d0).select("dt").distinct())

    // scan pruned to d1: the delete file is NOT read (part 1, metadata
    // scoping — bounds disjoint), so list_files shows zero delete files
    import graft.iceberg.IcebergPruning.{ColPredicate, Eq}
    val lf = IcebergScan.scan(spark, table, Options(mode = "list_files",
      filters = Seq(ColPredicate("dt", Eq, d1.toString)))).collect()
    assert(lf.nonEmpty && lf.forall(_.getString(1) === "data"), lf.mkString("\n"))

    // unpruned scan: d0 rows gone, every other day intact
    val scanned = IcebergScan.scan(spark, table)
    assert(scanned.filter(col("dt") === d0).count() === 0)
    assert(scanned.count() === events.filter(col("dt") =!= d0).count())
    // part 2: the delete applies through the per-file graft_dv_alive
    // filter — no join, no Union — and only day d0's files, whose key
    // bounds the delete can reach, are in its spec; every other file
    // passes unprobed
    val optimized = scanned.queryExecution.optimizedPlan
    val plan = optimized.toString
    assert(!plan.contains("Union") && !plan.contains("LeftAnti"), plan.take(3000))
    val filters = optimized.flatMap(_.expressions.flatMap(_.collect {
      case d: graft.sql.DvAlive => d
    }))
    assert(filters.size === 1, plan.take(3000))
    val dataFiles = IcebergScan.scan(spark, table, Options(mode = "list_files"))
      .collect().count(_.getString(1) === "data")
    val d0Files = IcebergScan.scan(spark, table, Options(mode = "list_files",
      filters = Seq(ColPredicate("dt", Eq, d0.toString)))).collect().count(_.getString(1) === "data")
    assert(filters.head.spec.files.size === d0Files && d0Files < dataFiles,
      s"probed ${filters.head.spec.files.size} files, d0 has $d0Files of $dataFiles")

    // delete files written with key bounds + zero null counts recorded
    val eqEntry = graft.iceberg.ManifestReader.loadTable(
      table, graft.iceberg.IcebergMetadataParser.latest(
        IcebergScan.loadInfo(spark, table)),
      spark.sessionState.newHadoopConf(), allowMovedPaths = false)
      .entries.flatMap(_._2).filter(_.content === 2)
    assert(eqEntry.nonEmpty)
    assert(eqEntry.forall(e => e.lowerBounds.nonEmpty && e.upperBounds.nonEmpty &&
      e.nullCounts.values.forall(_ === 0L)))

    // POSITION deletes scope the same way via file_path bounds (reserved
    // id): a delete on day d0's rows is invisible to a scan pruned to d1
    IcebergWriter.delete(spark, table,
      col("dt") === d1 && col("event_id") % 2 === 0)
    val lfd0 = IcebergScan.scan(spark, table, Options(mode = "list_files",
      filters = Seq(ColPredicate("dt", Eq, days(2).toString)))).collect()
    assert(lfd0.nonEmpty && lfd0.forall(_.getString(1) === "data"),
      lfd0.mkString("\n"))
    val lfd1 = IcebergScan.scan(spark, table, Options(mode = "list_files",
      filters = Seq(ColPredicate("dt", Eq, d1.toString)))).collect()
    assert(lfd1.exists(_.getString(1) === "delete"), lfd1.mkString("\n"))
    // and the MoR subtraction is still exact
    val live = IcebergScan.scan(spark, table)
    assert(live.filter(col("dt") === d1 && col("event_id") % 2 === 0).count() === 0)
    assert(live.filter(col("dt") === d1).count() ===
      events.filter(col("dt") === d1 && col("event_id") % 2 =!= 0).count())
  }

  test("time-based expiration drops old snapshots but never the head") {
    val table = Files.createTempDirectory("graft_wxt_").toString + "/t"
    val nation = Tables.load(spark, Sf, "nation")
    IcebergWriter.write(nation.limit(5), table)
    IcebergWriter.write(nation.limit(7), table)
    IcebergWriter.write(nation, table)
    val ts = IcebergScan.snapshots(spark, table)
      .orderBy("sequence_number").collect()
      .map(_.getAs[java.time.LocalDateTime]("timestamp_ms")
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
    // cutoff between snap2 and snap3: two drop, the head survives
    assert(IcebergWriter.expireSnapshotsOlderThan(spark, table, ts(2)) === 2)
    assert(IcebergScan.snapshots(spark, table).count() === 1)
    assert(IcebergScan.scan(spark, table).count() === 5 + 7 + nation.count())
    // a cutoff in the future still keeps the newest snapshot
    assert(IcebergWriter.expireSnapshotsOlderThan(
      spark, table, Long.MaxValue) === 0)
    assert(IcebergScan.snapshots(spark, table).count() === 1)
  }

  test("snapshot expiration and rollback are metadata-only and keep the current state") {
    val table = Files.createTempDirectory("graft_wx_").toString + "/t"
    val nation = Tables.load(spark, Sf, "nation")
    val n = nation.count()
    val snap1 = IcebergWriter.write(nation.limit(5), table)
    val snap2 = IcebergWriter.write(nation.limit(7), table)
    val snap3 = IcebergWriter.write(nation, table)
    assert(IcebergScan.scan(spark, table).count() === 5 + 7 + n)

    // expire down to the 2 newest: snap1 stops resolving, current intact
    assert(IcebergWriter.expireSnapshots(spark, table, keep = 2) === 1)
    assert(IcebergScan.snapshots(spark, table).count() === 2)
    assert(IcebergScan.scan(spark, table).count() === 5 + 7 + n)
    intercept[java.io.IOException] {
      IcebergScan.scan(spark, table, Options(snapshotId = Some(snap1)))
    }

    // rollback to snap2 drops snap3; a new append builds on the rollback
    IcebergWriter.rollback(spark, table, snap2)
    assert(IcebergScan.scan(spark, table).count() === 5 + 7)
    val snap4 = IcebergWriter.write(nation.limit(3), table)
    assert(IcebergScan.scan(spark, table).count() === 5 + 7 + 3)
    assert(snap4 > snap3) // ids keep increasing past rolled-back history

    // cannot expire everything; unknown rollback target errors like time travel
    intercept[IllegalArgumentException] {
      IcebergWriter.expireSnapshots(spark, table, keep = 0)
    }
    val e = intercept[java.io.IOException] {
      IcebergWriter.rollback(spark, table, 424242L)
    }
    assert(e.getMessage.contains("Could not find snapshot with id"))

    // the rolled-back snap3's files are now orphans; live files are not
    val orphans = IcebergWriter.listOrphanFiles(spark, table)
      .collect().map(_.getString(0))
    assert(orphans.nonEmpty && orphans.forall(_.contains("/snap-3-")))
  }

  test("sorted writes yield tighter bounds → fewer files kept than unsorted") {
    val base = Files.createTempDirectory("graft_ws_").toString
    val src = Tables.load(spark, Sf, "lineitem").repartition(1)
    val maxPer = (src.count() / 8 + 1).toString
    val opts = Map("maxRecordsPerFile" -> maxPer)

    // deterministic scramble for the unsorted layout (hash order), so the
    // comparison is stable run to run
    IcebergWriter.write(src.sortWithinPartitions(hash(col("l_orderkey"), col("l_linenumber"))),
      s"$base/unsorted", options = opts)
    IcebergWriter.write(src, s"$base/sorted", sortBy = Seq("l_orderkey"), options = opts)

    val filters = Seq(graft.iceberg.IcebergPruning.ColPredicate(
      "l_orderkey", graft.iceberg.IcebergPruning.Le, 1L))
    def keptFiles(table: String): Long =
      IcebergScan.scan(spark, table, Options(mode = "list_files", filters = filters))
        .filter(col("type") === "data").count()
    def totalFiles(table: String): Long =
      IcebergScan.scan(spark, table, Options(mode = "list_files"))
        .filter(col("type") === "data").count()

    assert(totalFiles(s"$base/sorted") === 8)
    assert(totalFiles(s"$base/unsorted") === 8)
    assert(keptFiles(s"$base/sorted") === 1)
    assert(keptFiles(s"$base/unsorted") > 1) // full-range files barely prune

    // both layouts read back identically under the filter
    val wantCnt = Tables.load(spark, Sf, "lineitem").filter(col("l_orderkey") <= 1).count()
    assert(IcebergScan.scan(spark, s"$base/sorted", Options(filters = filters)).count() === wantCnt)
    assert(IcebergScan.scan(spark, s"$base/unsorted", Options(filters = filters)).count() === wantCnt)

    // the sort order is recorded and made default; the unsorted table keeps order 0
    val conf = spark.sessionState.newHadoopConf()
    val sortedJson = graft.iceberg.IcebergIO.readString(
      s"$base/sorted/metadata/v1.metadata.json", conf)
    assert(sortedJson.contains(""""default-sort-order-id" : 1"""))
    assert(sortedJson.contains(""""direction" : "asc""""))
    val unsortedJson = graft.iceberg.IcebergIO.readString(
      s"$base/unsorted/metadata/v1.metadata.json", conf)
    assert(unsortedJson.contains(""""default-sort-order-id" : 0"""))
  }

  test("manifest merge bounds planning I/O across 50 appends; seq scoping survives") {
    val table = Files.createTempDirectory("graft_wm_").toString + "/t"
    val region = Tables.load(spark, Sf, "region") // 5 rows
    val n = region.count()
    val snaps = (1 to 30).map(_ => IcebergWriter.write(region, table))

    // equality delete in the middle: key 0 vanishes from all 30 appends...
    IcebergWriter.deleteEquality(spark, table,
      region.filter(col("r_regionkey") === 0).select("r_regionkey"))
    assert(IcebergScan.scan(spark, table).count() === 30 * n - 30)

    // ...then 20 more appends (crossing several merge rewrites) re-add it
    val snaps2 = (1 to 20).map(_ => IcebergWriter.write(region, table))
    assert(IcebergScan.scan(spark, table).count() === 30 * n - 30 + 20 * n)
    assert(IcebergScan.scan(spark, table)
      .filter(col("r_regionkey") === 0).count() === 20)

    // planning I/O is bounded: the CURRENT manifest list carries at most
    // threshold+1 manifests despite 51 commits
    val conf = spark.sessionState.newHadoopConf()
    val hint = graft.iceberg.IcebergIO.readString(
      s"$table/metadata/version-hint.text", conf).trim.toInt
    val json = graft.iceberg.IcebergIO.readString(
      s"$table/metadata/v$hint.metadata.json", conf)
    val listPath = """"manifest-list" : "([^"]+)"""".r
      .findAllMatchIn(json).map(_.group(1)).toSeq.last
    val manifestCount = graft.iceberg.ManifestReader
      .readManifestList(listPath, conf, formatVersion = 2).size
    assert(manifestCount <= 11, s"manifest list carries $manifestCount manifests")

    // time travel to pre-delete history is intact (original manifests kept)
    assert(IcebergScan.scan(spark, table,
      Options(snapshotId = Some(snaps(14)))).count() === 15 * n)

    // incremental append reads across merged boundaries see exactly the
    // appends after the `from` snapshot (the delete affects none of them)
    assert(IcebergScan.incrementalAppend(spark, table,
      fromSnapshotId = snaps(24)).count() === 5 * n + 20 * n)
    assert(IcebergScan.incrementalAppend(spark, table,
      fromSnapshotId = snaps2(4)).count() === 15 * n)
  }

  test("update and compact preserve the partition layout (pruning stays intact)") {
    val table = Files.createTempDirectory("graft_wpc_").toString + "/t"
    val nation = Tables.load(spark, Sf, "nation")
    val n = nation.count()
    IcebergWriter.write(nation.repartition(5, col("n_regionkey")), table,
      partitionBy = Seq("n_regionkey" -> "identity"))

    val filters = Seq(graft.iceberg.IcebergPruning.ColPredicate(
      "n_regionkey", graft.iceberg.IcebergPruning.Eq, 1L))
    def files(fs: Seq[graft.iceberg.IcebergPruning.ColPredicate]): Long =
      IcebergScan.scan(spark, table, Options(mode = "list_files", filters = fs))
        .filter(col("type") === "data").count()
    assert(files(filters) < files(Seq.empty)) // baseline: partition pruning works

    // a row-level UPDATE writes its new files under the same spec
    IcebergWriter.update(spark, table,
      col("n_nationkey") === 7, Map("n_name" -> lit("TOUCHED")))
    assert(files(filters) < files(Seq.empty))

    // compaction rewrites everything — and must keep the hive layout
    IcebergWriter.compact(spark, table)
    assert(files(filters) < files(Seq.empty),
      "compacted files lost their partition tuples: pruning is dead")

    // semantics unchanged throughout
    val got = IcebergScan.scan(spark, table)
    assert(got.count() === n)
    assert(got.filter(col("n_nationkey") === 7 && col("n_name") === "TOUCHED").count() === 1)
    assert(IcebergScan.scan(spark, table, Options(filters = filters)).count() ===
      nation.filter(col("n_regionkey") === 1).count())
  }

  test("aggressive manifest merging is invisible to readers (equivalence)") {
    val hconf = spark.sparkContext.hadoopConfiguration
    val base = Files.createTempDirectory("graft_wme_").toString
    val nation = Tables.load(spark, Sf, "nation")
    // mixed workload: appends + position delete + equality delete + update
    def workload(table: String): Unit = {
      (1 to 4).foreach(_ => IcebergWriter.write(nation, table))
      IcebergWriter.delete(spark, table, col("n_nationkey") === 3)
      IcebergWriter.deleteEquality(spark, table,
        nation.filter(col("n_nationkey") === 5).select("n_nationkey"))
      (1 to 3).foreach(_ => IcebergWriter.write(nation, table))
      IcebergWriter.update(spark, table,
        col("n_nationkey") === 7, Map("n_name" -> lit("TOUCHED")))
    }
    try {
      hconf.setInt(graft.iceberg.IcebergWriter.ManifestMergeMinCountKey, 3)
      workload(s"$base/merged")
      // "plain" = merging effectively disabled
      hconf.setInt(graft.iceberg.IcebergWriter.ManifestMergeMinCountKey, 1000)
      workload(s"$base/plain")
    } finally hconf.unset(graft.iceberg.IcebergWriter.ManifestMergeMinCountKey)

    // merging actually happened…
    def manifestCount(table: String): Long = IcebergScan.metadata(spark, table)
      .select("manifest_path").distinct().count()
    assert(manifestCount(s"$base/merged") < manifestCount(s"$base/plain"))
    // …and is invisible: full-row equivalence of the two tables
    val a = IcebergScan.scan(spark, s"$base/merged")
    val b = IcebergScan.scan(spark, s"$base/plain")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(a.count() === b.count())
  }

  test("orphan listing of a 20-snapshot table dedupes the shared manifest tree") {
    val table = Files.createTempDirectory("graft_wo_").toString + "/t"
    val region = Tables.load(spark, Sf, "region")
    val snaps = (1 to 20).map(_ => IcebergWriter.write(region, table))
    // nothing is orphaned while every snapshot is retained
    assert(IcebergWriter.listOrphanFiles(spark, table).count() === 0)
    // roll back to the 10th snapshot: appends 11..20 become orphans
    IcebergWriter.rollback(spark, table, snaps(9))
    val orphans = IcebergWriter.listOrphanFiles(spark, table)
      .collect().map(_.getString(0))
    // data dirs are snap-<id>-<committoken>: compare the snap-<id> prefix
    val orphanSnaps = orphans.flatMap(_.split('/').find(_.startsWith("snap-")))
      .map(_.split('-').take(2).mkString("-")).toSet
    assert(orphanSnaps === (11 to 20).map(i => s"snap-$i").toSet)
  }

  test("racing commits conflict instead of clobbering (optimistic concurrency)") {
    val table = Files.createTempDirectory("graft_wc_").toString + "/t"
    val nation = Tables.load(spark, Sf, "nation")
    IcebergWriter.write(nation, table)
    // a concurrent writer lands v2 first; our commit of the same version
    // must fail with a conflict, never silently overwrite
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(s"$table/metadata/v2.metadata.json")
    val os = p.getFileSystem(conf).create(p, false)
    try os.write("{}".getBytes("UTF-8")) finally os.close()
    val e = intercept[java.io.IOException] { IcebergWriter.write(nation, table) }
    assert(e.getMessage.contains("commit conflict"))
    // the loser's data files are orphans, visible to the vacuum listing
    val orphans = IcebergWriter.listOrphanFiles(spark, table)
      .collect().map(_.getString(0))
    assert(orphans.nonEmpty && orphans.forall(_.contains("/snap-2-")))
  }

  test("a stale version hint self-heals instead of bricking the table") {
    val table = Files.createTempDirectory("graft_wh_").toString + "/t"
    val nation = Tables.load(spark, Sf, "nation")
    val n = nation.count()
    IcebergWriter.write(nation, table) // v1
    IcebergWriter.write(nation, table) // v2
    // simulate a crash between the v2 metadata write and the hint update
    val conf = spark.sessionState.newHadoopConf()
    val hint = new org.apache.hadoop.fs.Path(s"$table/metadata/version-hint.text")
    val os = hint.getFileSystem(conf).create(hint, true)
    try os.write("1".getBytes("UTF-8")) finally os.close()
    // the next commit must probe past the stale hint (v2 is committed
    // state), land on v3, and repair the hint — not conflict forever
    IcebergWriter.write(nation, table)
    assert(IcebergScan.scan(spark, table).count() === 3 * n)
    assert(graft.iceberg.IcebergIO.readString(hint.toString, conf).trim === "3")
  }

  test("column rename via field ids: metadata-only, rename-append, " +
       "time travel keeps the historical name") {
    val table = Files.createTempDirectory("graft_ren_").toString + "/nation_ren"
    val nation = Tables.load(spark, Sf, "nation")
    val snap1 = IcebergWriter.write(nation, table)

    // metadata-only rename: no new snapshot, latest scan shows the new
    // name, and OLD data files resolve through their unchanged field id
    IcebergWriter.renameColumns(spark, table, Map("n_name" -> "nation_name"))
    val renamed = IcebergScan.scan(spark, table)
    assert(renamed.columns.contains("nation_name") && !renamed.columns.contains("n_name"))
    assert(renamed.count() === nation.count())
    assert(renamed.select("nation_name").exceptAll(nation.select("n_name")).isEmpty)
    assert(IcebergScan.snapshots(spark, table).count() === 1) // metadata-only

    // rename-append in one call: second generation written under the new
    // name; both generations read under it
    val gen2 = nation.withColumnRenamed("n_name", "nation_label")
      .withColumn("n_nationkey", col("n_nationkey") + 100)
    IcebergWriter.write(gen2, table, renames = Map("nation_name" -> "nation_label"))
    val both = IcebergScan.scan(spark, table)
    assert(both.columns.contains("nation_label"))
    assert(both.count() === 2 * nation.count())
    assert(both.select("nation_label").distinct().exceptAll(
      nation.select("n_name").distinct()).isEmpty)

    // time travel to the first snapshot reads its DECLARED schema — the
    // historical name — and the same rows
    val t1 = IcebergScan.scan(spark, table, Options(snapshotId = Some(snap1)))
    assert(t1.columns.contains("n_name") && !t1.columns.contains("nation_label"))
    assert(t1.count() === nation.count())

    // invalid renames fail loudly
    intercept[IllegalArgumentException] {
      IcebergWriter.renameColumns(spark, table, Map("no_such_col" -> "x"))
    }
    intercept[IllegalArgumentException] {
      IcebergWriter.renameColumns(spark, table, Map("nation_label" -> "n_regionkey"))
    }
    // an UNDECLARED rename on append is still rejected
    intercept[IllegalArgumentException] {
      IcebergWriter.write(nation.withColumnRenamed("n_name", "sneaky"), table)
    }
  }

  test("column drop: metadata-only, time travel keeps the column, and a " +
       "re-added name NEVER reuses the dropped id (no value resurrection)") {
    val table = Files.createTempDirectory("graft_drop_").toString + "/nation_drop"
    val nation = Tables.load(spark, Sf, "nation")
    val snap1 = IcebergWriter.write(nation, table)

    IcebergWriter.dropColumns(spark, table, Seq("n_name"))
    val after = IcebergScan.scan(spark, table)
    assert(!after.columns.contains("n_name"))
    assert(after.count() === nation.count())
    assert(IcebergScan.snapshots(spark, table).count() === 1) // metadata-only
    // time travel resurfaces the column under the snapshot's own schema
    val t1 = IcebergScan.scan(spark, table, Options(snapshotId = Some(snap1)))
    assert(t1.columns.contains("n_name"))
    assert(t1.select("n_name").exceptAll(nation.select("n_name")).isEmpty)

    // append a NEW column under the dropped column's old NAME: it must
    // draw a FRESH field id, so the old files' n_name values stay dead
    val gen2 = nation.drop("n_name")
      .withColumn("n_name", lit("FRESH"))
      .select("n_nationkey", "n_regionkey", "n_name")
    IcebergWriter.write(gen2, table)
    val re = IcebergScan.scan(spark, table)
    assert(re.count() === 2 * nation.count())
    // old-generation rows read NULL (fresh id absent from old files) —
    // never the resurrected original strings
    val vals = re.select("n_name").distinct().collect().map(_.getString(0)).toSet
    assert(vals === Set(null, "FRESH"), vals.toString)

    // guards: partition-source and last-column drops are rejected
    intercept[IllegalArgumentException] {
      IcebergWriter.dropColumns(spark, table, Seq("no_such"))
    }
    val ptable = Files.createTempDirectory("graft_drop_p_").toString + "/t"
    IcebergWriter.write(
      nation.withColumn("r", col("n_regionkey")).repartition(2), ptable,
      partitionBy = Seq("r" -> "identity"))
    intercept[IllegalArgumentException] {
      IcebergWriter.dropColumns(spark, ptable, Seq("r"))
    }
  }

  test("nested rename by dotted path keeps struct-internal field ids; " +
       "group-typed renames are rejected (Spark cannot resolve them)") {
    val table = Files.createTempDirectory("graft_nren_").toString + "/t"
    val part = Tables.load(spark, Sf, "part")
    val src = part.select(col("p_partkey"),
      struct(col("p_brand").as("brand"), col("p_size").as("size")).as("info"))
    IcebergWriter.write(src, table)
    IcebergWriter.renameColumns(spark, table, Map("info.brand" -> "brand_code"))
    val got = IcebergScan.scan(spark, table)
    val inner = got.schema("info").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
    assert(inner === Seq("brand_code", "size"))
    // VALUES still resolve through the unchanged struct-internal ids —
    // the leaf is matched by id 10000 under its new name
    assert(got.select(col("info.brand_code")).exceptAll(
      part.select(col("p_brand"))).isEmpty)
    assert(got.filter(col("info.brand_code").isNull).count() === 0)
    // renaming the STRUCT itself is rejected: Spark's field-id matching
    // resolves a renamed group but reads its children as NULL (verified
    // against 4.1.2) — better a loud error than silent value loss
    intercept[IllegalArgumentException] {
      IcebergWriter.renameColumns(spark, table, Map("info" -> "meta"))
    }
    // collision inside the struct is rejected
    intercept[IllegalArgumentException] {
      IcebergWriter.renameColumns(spark, table, Map("info.size" -> "brand_code"))
    }
  }

  test("append with a mismatched schema is rejected") {
    val table = Files.createTempDirectory("graft_w2_").toString + "/t"
    IcebergWriter.write(Tables.load(spark, Sf, "nation"), table)
    val e = intercept[IllegalArgumentException] {
      IcebergWriter.write(Tables.load(spark, Sf, "region"), table)
    }
    assert(e.getMessage.contains("schema mismatch"))
  }

  test("struct/list/map columns round-trip through write + scan") {
    val table = Files.createTempDirectory("graft_w3_").toString + "/t"
    val src = Tables.load(spark, Sf, "part").select(
      col("p_partkey"),
      struct(col("p_brand"), col("p_size")).as("info"),
      split(col("p_type"), " ").as("words"),
      map(col("p_name"), col("p_size")).as("m"))
    IcebergWriter.write(src, table)
    val got = IcebergScan.scan(spark, table)
    assert(got.schema("info").dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
    assert(got.schema("words").dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
    assert(got.schema("m").dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
    // full value equality, nested values serialized for a stable compare
    def flat(df: org.apache.spark.sql.DataFrame) = df.select(
      col("p_partkey"), to_json(col("info")), to_json(col("words")),
      element_at(map_keys(col("m")), 1), element_at(map_values(col("m")), 1))
    assert(flat(got).exceptAll(flat(src)).isEmpty &&
      flat(src).exceptAll(flat(got)).isEmpty)
  }

  test("struct-internal renames resolve by field id (nested-id extension)") {
    val table = Files.createTempDirectory("graft_wn_").toString + "/t"
    val src = Tables.load(spark, Sf, "part").limit(50).select(
      col("p_partkey"),
      struct(col("p_brand").as("brand"), col("p_size").as("size")).as("info"))
    IcebergWriter.write(src, table)

    // a "foreign engine" renames info.brand -> info.marque, metadata-only:
    // the data files keep the old name but carry the nested field id
    val conf = spark.sessionState.newHadoopConf()
    val json = graft.iceberg.IcebergIO.readString(
      s"$table/metadata/v1.metadata.json", conf)
    assert(json.contains(""""name" : "brand""""))
    def put(p: String, s: String): Unit = {
      val hp = new org.apache.hadoop.fs.Path(p)
      val os = hp.getFileSystem(conf).create(hp, true)
      try os.write(s.getBytes("UTF-8")) finally os.close()
    }
    put(s"$table/metadata/v2.metadata.json",
      json.replace(""""name" : "brand"""", """"name" : "marque""""))
    put(s"$table/metadata/version-hint.text", "2")

    val got = IcebergScan.scan(spark, table)
    val info = got.schema("info").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(info.fieldNames.toSeq === Seq("marque", "size"))
    // the renamed field reads the ORIGINAL column's data (id-resolved) —
    // name-based resolution would return nulls here
    val want = src.select(col("p_partkey"),
      col("info.brand").as("marque"), col("info.size").as("size"))
    val flat = got.select(col("p_partkey"),
      col("info.marque").as("marque"), col("info.size").as("size"))
    assert(flat.exceptAll(want).isEmpty && want.exceptAll(flat).isEmpty)
  }

  test("appends preserve a foreign nested-id layout instead of re-deriving") {
    val table = Files.createTempDirectory("graft_wf_").toString + "/t"
    val src = Tables.load(spark, Sf, "part").limit(20).select(
      col("p_partkey"),
      struct(col("p_brand").as("brand"), col("p_size").as("size")).as("info"))
    IcebergWriter.write(src, table)

    // pretend another engine created this table with nested ids 100/101
    val conf = spark.sessionState.newHadoopConf()
    val v1p = new org.apache.hadoop.fs.Path(s"$table/metadata/v1.metadata.json")
    val doctored = graft.iceberg.IcebergIO.readString(v1p.toString, conf)
      .replace(""""id" : 10001""", """"id" : 101""")
      .replace(""""id" : 10000""", """"id" : 100""")
    val os = v1p.getFileSystem(conf).create(v1p, true)
    try os.write(doctored.getBytes("UTF-8")) finally os.close()

    // the append must carry ids 100/101 forward — re-deriving 10000/10001
    // would silently desync the declared schema from every existing file
    IcebergWriter.write(src, table)
    val v2 = graft.iceberg.IcebergIO.readString(s"$table/metadata/v2.metadata.json", conf)
    assert(v2.contains(""""id" : 100""") && v2.contains(""""id" : 101"""))
    assert(!v2.contains(""""id" : 10000"""))

    // and the NEW parquet files stamp the preserved ids in their footers
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val dataRoot = new org.apache.hadoop.fs.Path(s"$table/data")
    val fs = dataRoot.getFileSystem(conf)
    val dataDir = fs.listStatus(dataRoot).map(_.getPath)
      .find(_.getName.startsWith("snap-2-")).get
    val file = fs.listFiles(dataDir, true)
    var footer = ""
    while (file.hasNext) {
      val st = file.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try footer = r.getFooter.getFileMetaData.getSchema.toString finally r.close()
      }
    }
    assert(footer.contains("= 100") && footer.contains("= 101"))
  }

  test("nested field ids are unique, above the top-level space, and stable across appends") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_w4_").toString + "/t"
    val df = Seq((1L, (2, "a"), Seq(1, 2), Map("k" -> 1L)))
      .toDF("id", "s", "xs", "m")
    IcebergWriter.write(df, table)
    def schemaJson(): String = {
      val meta = IcebergScan.metadata _
      val hint = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$table/metadata/version-hint.text")).trim
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$table/metadata/v$hint.metadata.json"))
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def ids(json: String): Seq[Int] = {
      val b = Seq.newBuilder[Int]
      def walk(n: com.fasterxml.jackson.databind.JsonNode): Unit = {
        if (n.isObject) {
          Seq("id", "element-id", "key-id", "value-id").foreach { k =>
            if (n.has(k)) b += n.get(k).asInt
          }
          n.elements.forEachRemaining(walk)
        } else if (n.isArray) n.elements.forEachRemaining(walk)
      }
      walk(mapper.readTree(json).get("schemas").get(0))
      b.result()
    }
    val first = ids(schemaJson())
    // 4 top-level (1..4) + nested: struct 2 fields, list element, map key+value
    assert(first.count(_ <= 4) === 4)
    assert(first.count(_ >= 10000) === 5)
    assert(first.distinct.size === first.size, s"duplicate ids in $first")
    // append keeps every id identical
    IcebergWriter.write(df, table)
    assert(ids(schemaJson()) === first)
    assert(IcebergScan.scan(spark, table).count() === 2)
  }

  test("partition spec evolution: new spec appended, both layouts prune") {
    val table = Files.createTempDirectory("graft_pe_").toString + "/t"
    val events = Tables.events(spark, Sf)
      .withColumn("dt", to_date(col("ts")))
    // first month unpartitioned, then evolve to days(dt)
    IcebergWriter.write(events.filter(col("dt") < lit("2024-01-15").cast("date")), table)
    IcebergWriter.write(
      events.filter(col("dt") >= lit("2024-01-15").cast("date")).repartition(col("dt")),
      table, partitionBy = Seq("dt" -> "day"))

    // both specs recorded; the new one is the default
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(IcebergScan.scan(spark, table).inputFiles.head
        .replaceAll("file:", "").replaceAll("/data/.*", "") + "/metadata/v2.metadata.json")))
    assert(meta.contains("\"spec-id\" : 1") && meta.contains("\"spec-id\" : 0"))

    // full scan intact
    val all = IcebergScan.scan(spark, table)
    assert(all.count() === events.count())

    // pruning on dt: post-evolution days keep exactly one partitioned file
    // per day; pre-evolution files (no partition tuple) are kept, never
    // dropped — results stay exact
    val cond = col("dt") === lit("2024-01-20").cast("date")
    val pruned = IcebergScan.scanFiltered(spark, table, cond)
    val want = all.filter(cond)
    assert(pruned.exceptAll(want).isEmpty && want.exceptAll(pruned).isEmpty)
    assert(pruned.inputFiles.length < all.inputFiles.length)

    // re-declaring the same spec does NOT append another one
    IcebergWriter.write(
      events.filter(col("dt") === lit("2024-01-01").cast("date")),
      table, partitionBy = Seq("dt" -> "day"))
    val meta3 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(IcebergScan.scan(spark, table).inputFiles.head
        .replaceAll("file:", "").replaceAll("/data/.*", "") + "/metadata/v3.metadata.json")))
    assert(!meta3.contains("\"spec-id\" : 2"))
  }

  test("partition evolution rejects ambiguous same-name transforms") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_pa_").toString + "/t"
    val df = (1L to 100L).toDF("id")
    IcebergWriter.write(df, table, partitionBy = Seq("id" -> "bucket[4]"))
    // bucket[8] also projects to field name "id_bucket": ambiguous tuples
    val e = intercept[IllegalArgumentException] {
      IcebergWriter.write(df, table, partitionBy = Seq("id" -> "bucket[8]"))
    }
    assert(e.getMessage.contains("ambiguous"))
    // a DIFFERENT column's bucket evolves fine
    val df2 = (1L to 100L).map(i => (i, i * 7)).toDF("id", "k")
    val table2 = Files.createTempDirectory("graft_pa2_").toString + "/t"
    IcebergWriter.write(df2, table2, partitionBy = Seq("id" -> "bucket[4]"))
    IcebergWriter.write(df2, table2, partitionBy = Seq("k" -> "bucket[8]"))
    assert(IcebergScan.scan(spark, table2).count() === 200)
  }

  test("re-declaring an older spec reuses its id instead of growing the list") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_ps_").toString + "/t"
    val df = (1L to 40L).map(i => (i, i % 4)).toDF("id", "k")
    IcebergWriter.write(df, table, partitionBy = Seq("id" -> "bucket[4]"))
    IcebergWriter.write(df, table, partitionBy = Seq("k" -> "identity"))
    // toggle back and forth — the spec list must stay at 2
    IcebergWriter.write(df, table, partitionBy = Seq("id" -> "bucket[4]"))
    IcebergWriter.write(df, table, partitionBy = Seq("k" -> "identity"))
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(table + "/metadata/v4.metadata.json")))
    assert(meta.split("\"spec-id\"").length - 1 === 2)
    assert(IcebergScan.scan(spark, table).count() === 160)
  }

  test("schema history: time travel reads a snapshot under its own schema") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val table = Files.createTempDirectory("graft_sh_").toString + "/t"
    val base = Tables.load(spark, Sf, "nation").select(
      col("n_nationkey").cast("int").as("key"), col("n_name"))
    val snap1 = IcebergWriter.write(base, table)
    val snap2 = IcebergWriter.write(base.withColumn("extra", lit(42)), table)
    IcebergWriter.write(base.withColumn("extra", lit(7L)), table)

    // latest reads the CURRENT (widened) schema
    assert(IcebergScan.scan(spark, table).schema("extra").dataType === LongType)
    // snapshot time travel shows the columns of that point in history
    val atSnap1 = IcebergScan.scan(spark, table, Options(snapshotId = Some(snap1)))
    assert(!atSnap1.columns.contains("extra"))
    val atSnap2 = IcebergScan.scan(spark, table, Options(snapshotId = Some(snap2)))
    assert(atSnap2.schema("extra").dataType === IntegerType)
    assert(atSnap2.filter(col("extra") === 42).count() === base.count() &&
      atSnap2.filter(col("extra").isNull).count() === base.count())

    // identical schemas are recorded once: 3 commits, 3 distinct schemas
    // here, but re-appending the same shape reuses its id
    IcebergWriter.write(base.withColumn("extra", lit(9L)), table)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(table + "/metadata/v4.metadata.json")))
    assert(meta.split("\"schema-id\"").length - 1 === 3 + 4) // 3 schemas + 4 snapshot stamps
  }

  test("row-level ops and compaction after rollback keep the current schema") {
    val table = Files.createTempDirectory("graft_rr_").toString + "/t"
    val base = Tables.load(spark, Sf, "nation").select(
      col("n_nationkey").cast("int").as("key"), col("n_name"))
    val snap1 = IcebergWriter.write(base, table)
    IcebergWriter.write(base.withColumn("extra", lit(7L)), table)
    IcebergWriter.rollback(spark, table, snap1)
    // rollback keeps the evolved CURRENT schema (extra reads null)
    assert(IcebergScan.scan(spark, table).columns.contains("extra"))

    // a maintenance delete must not regress current-schema-id to the
    // head snapshot's older declared schema
    IcebergWriter.delete(spark, table, col("key") < 0)
    assert(IcebergScan.scan(spark, table).columns.contains("extra"))

    // compaction rewrites under the CURRENT schema too
    IcebergWriter.compact(spark, table)
    val got = IcebergScan.scan(spark, table)
    assert(got.columns.contains("extra") && got.count() === base.count())

    // the changelog emits the same columns whether the to-bound names
    // the main head explicitly or is omitted
    val head = IcebergScan.refs(spark, table).collect()
      .find(_.getString(0) == "main").get.getLong(2)
    val explicit = IcebergScan.changelog(spark, table, snap1, Some(head))
    val omitted = IcebergScan.changelog(spark, table, snap1)
    assert(explicit.columns.toSeq === omitted.columns.toSeq)
  }

  test("plain appends inherit the table's partition spec") {
    val table = Files.createTempDirectory("graft_inh_").toString + "/t"
    val events = Tables.events(spark, Sf)
      .withColumn("dt", to_date(col("ts")))
    IcebergWriter.write(events.repartition(col("dt")), table,
      partitionBy = Seq("dt" -> "day"))
    val before = IcebergScan.scan(spark, table, Options(mode = "list_files")).count()

    // NO partitionBy on the append — the current spec still applies, so
    // the new files carry day tuples and prune
    val oneDay = events.filter(col("dt") === lit("2024-01-05").cast("date"))
    IcebergWriter.write(oneDay, table)
    val filters = Seq(graft.iceberg.IcebergPruning.ColPredicate(
      "dt", graft.iceberg.IcebergPruning.Eq, java.time.LocalDate.parse("2024-01-05")))
    val kept = IcebergScan.scan(spark, table,
      Options(mode = "list_files", filters = filters))
      .filter(col("type") === "data").count()
    val total = IcebergScan.scan(spark, table, Options(mode = "list_files")).count()
    // both the original day file and the appended file(s) are kept; all
    // other days are pruned away
    assert(kept >= 2 && kept === total - (before - 1))
    val got = IcebergScan.scan(spark, table, Options(filters = filters)).count()
    assert(got === 2 * oneDay.count())
  }

  test("distribution='range' writes disjoint sorted files in parallel") {
    import spark.implicits._
    import graft.iceberg.IcebergPruning
    val table = Files.createTempDirectory("graft_range_dist_").toString + "/t"
    // deliberately scrambled input across 8 tasks: the range shuffle —
    // not the input layout — must produce the sorted-disjoint files
    val df = (1L to 20000L).map(i => (i, s"p-$i")).toDF("id", "payload")
      .repartition(8)
    IcebergWriter.write(df, table, sortBy = Seq("id"), distribution = "range",
      distributionPartitions = Some(6))
    val total = IcebergScan.scan(spark, table, Options(mode = "list_files"))
      .filter(col("type") === "data").count()
    assert(total > 1, s"range write produced $total file(s) — not parallel")
    // disjoint ranges: every probe key lives in exactly ONE file
    for (probe <- Seq(1L, 5000L, 12345L, 20000L)) {
      val kept = IcebergScan.scan(spark, table, Options(mode = "list_files",
          filters = Seq(IcebergPruning.ColPredicate(
            "id", IcebergPruning.Eq, probe))))
        .filter(col("type") === "data").count()
      assert(kept === 1, s"key $probe found in $kept files (ranges overlap)")
    }
    // the rows themselves survive the shuffle intact
    assert(IcebergScan.scan(spark, table).agg(sum("id")).head().getLong(0)
      === (1L to 20000L).sum)
    // a partitioned range write clusters by (partition, sort key) — still
    // whole rows, one partition dir per bucket value
    val table2 = Files.createTempDirectory("graft_range_dist2_").toString + "/t"
    val df2 = (1L to 4000L).map(i => (i, i % 4)).toDF("id", "bucket")
      .repartition(8)
    IcebergWriter.write(df2, table2, partitionBy = Seq("bucket" -> "identity"),
      sortBy = Seq("id"), distribution = "range",
      distributionPartitions = Some(8))
    assert(IcebergScan.scanFiltered(spark, table2, col("bucket") === 2L)
      .count() === 1000)
    assert(IcebergScan.scan(spark, table2).count() === 4000)
  }
}

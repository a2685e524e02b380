package graft

import java.io.File
import java.nio.file.Files

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.iceberg.IcebergScan
import graft.iceberg.IcebergScan.Options

/** Error-message and edge parity with the reference's sqllogictests:
  * wrong codec / missing dir / bad version format errors
  * (iceberg_snapshots.test:30-49, iceberg_metadata.test:41-49), v1 and gzip
  * metadata goldens (iceberg_metadata.test), no-hint guessing variants, and
  * the equality- and position-delete read paths over FOREIGN-written
  * fixtures (for equality deletes the reference's enum defines the content
  * type but nothing executes it — iceberg_types.hpp:45; here it is a real
  * engine extension).
  */
class IcebergParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val RefData = "/root/reference/data/iceberg"
  private val Lineitem = s"$RefData/lineitem_iceberg"
  private val LineitemGz = s"$RefData/lineitem_iceberg_gz"

  lazy val spark: SparkSession =
    GraftSessions.builder("local[4]", "4").appName("graft-parity").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val moved = Options(allowMovedPaths = true)

  test("snapshots pinned to version=1 (iceberg_snapshots.test:21-24)") {
    val rows = IcebergScan.snapshots(spark, Lineitem, Options(version = "1")).collect()
    assert(rows.length === 1)
    assert(rows(0).getLong(1) === 3776207205136740581L)
  }

  test("bad version_name_format error text (iceberg_snapshots.test:26-29)") {
    val e = intercept[java.io.IOException] {
      IcebergScan.snapshots(spark, Lineitem,
        Options(version = "1", versionNameFormat = "v%s%s.metadata.gz"))
    }
    assert(e.getMessage ===
      "Iceberg metadata file not found for table version '1' using 'none' compression and format(s): 'v%s%s.metadata.gz'")
  }

  test("missing metadata dir error text (iceberg_snapshots.test:41-44)") {
    val bogus = s"$RefData/lineitem_iceberg_nonexistent"
    val e = intercept[java.io.IOException] {
      IcebergScan.snapshots(spark, bogus)
    }
    assert(e.getMessage === s"""Cannot open "$bogus": Metadata directory does not exist""")
  }

  test("gzip table without codec errors (iceberg_snapshots.test:46-49)") {
    val e = intercept[java.io.IOException] {
      IcebergScan.snapshots(spark, LineitemGz)
    }
    assert(e.getMessage ===
      "Iceberg metadata file not found for table version '2' using 'none' compression and format(s): 'v%s%s.metadata.json,%s%s.metadata.json'")
  }

  test("gzip snapshots golden row (iceberg_snapshots.test:51-55)") {
    val rows = IcebergScan.snapshots(spark, LineitemGz,
      Options(metadataCompressionCodec = "gzip")).collect()
    assert(rows.length === 1)
    assert(rows(0).getLong(0) === 0L)
    assert(rows(0).getLong(1) === 4468019210336628573L)
    assert(rows(0).getString(3).endsWith("23f9dbea-1e7f-4694-a82c-dc3c9a94953e.avro"))
  }

  test("v1 metadata golden row (iceberg_metadata.test:25-28)") {
    val rows = IcebergScan.metadata(spark, Lineitem, moved.copy(version = "1")).collect()
    assert(rows.length === 1)
    val r = rows(0)
    assert(r.getString(0).endsWith("cf3d0be5-cf70-453d-ad8f-48fdc412e608-m0.avro"))
    assert(r.getLong(1) === 1L)
    assert(r.getString(2) === "DATA")
    assert(r.getString(3) === "ADDED")
    assert(r.getString(4) === "EXISTING")
    assert(r.getString(5).endsWith("00000-411-0792dcfe-4e25-4ca3-8ada-175286069a47-00001.parquet"))
    assert(r.getString(6) === "PARQUET")
    assert(r.getLong(7) === 60175L)
  }

  test("metadata wrong-codec + custom-format error text (iceberg_metadata.test:46-49)") {
    val e = intercept[java.io.IOException] {
      IcebergScan.metadata(spark, LineitemGz,
        moved.copy(metadataCompressionCodec = "blarg", versionNameFormat = "blat%s%s"))
    }
    assert(e.getMessage ===
      "Iceberg metadata file not found for table version '2' using 'blarg' compression and format(s): 'blat%s%s'")
  }

  test("metadata guessing gate + guessed goldens (iceberg_metadata.test:59-76)") {
    val noHint = s"$RefData/lineitem_iceberg_no_hint"
    spark.conf.unset("unsafe_enable_version_guessing")
    val e = intercept[IllegalArgumentException] {
      IcebergScan.metadata(spark, noHint, moved)
    }
    assert(e.getMessage.contains("unsafe_enable_version_guessing"))
    spark.conf.set("unsafe_enable_version_guessing", "true")
    try {
      val rows = IcebergScan.metadata(spark, noHint, moved).collect()
      assert(rows.length === 2)
      assert(rows.exists(r => r.getString(3) == "ADDED" && r.getLong(7) == 51793L))
      assert(rows.exists(r => r.getString(3) == "DELETED" && r.getLong(7) == 60175L))
    } finally spark.conf.unset("unsafe_enable_version_guessing")
  }

  test("gz_no_hint guessing with codec (iceberg_metadata.test:90-93)") {
    val gzNoHint = s"$RefData/lineitem_iceberg_gz_no_hint"
    spark.conf.set("unsafe_enable_version_guessing", "true")
    try {
      val rows = IcebergScan.metadata(spark, gzNoHint,
        moved.copy(metadataCompressionCodec = "gzip")).collect()
      assert(rows.length === 1)
      assert(rows(0).getLong(7) === 111968L)
    } finally spark.conf.unset("unsafe_enable_version_guessing")
  }

  // ---- foreign-written deletes -------------------------------------------

  /** Build a minimal v2 table BY HAND (not via IcebergWriter) whose
    * snapshot carries data files at two sequence numbers and one delete
    * file of content `deleteContent` at seq 2, written by `deletes` from
    * the two data files' paths. The manifests record no
    * `file_size_in_bytes` and no `equality_ids` — a legacy writer's shape.
    * Layout: seq 1 data {1..10}, seq 2 delete, seq 3 data {3}. */
  private def buildForeignV2Table(
      deleteContent: Int)(
      deletes: (String, String) => (org.apache.spark.sql.DataFrame, Boolean)): String = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_foreigndel_").toFile
    val metaDir = new File(root, "metadata"); metaDir.mkdirs()

    def writeOneParquet(
        df: org.apache.spark.sql.DataFrame, dir: String, ids: Boolean = true): String = {
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.types.MetadataBuilder
      // field-id metadata, like any real Iceberg writer (the session reads
      // by field id), unless the file is to be matched by name only
      val out =
        if (!ids) df
        else df.select(df.schema.fieldNames.zipWithIndex.map { case (n, i) =>
          col(n).as(n, new MetadataBuilder().putLong("parquet.field.id", i + 1L).build())
        }.toIndexedSeq: _*)
      out.coalesce(1).write.parquet(s"${root.getAbsolutePath}/$dir")
      new File(s"${root.getAbsolutePath}/$dir").listFiles()
        .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    }
    val data1 = writeOneParquet((1L to 10L).toDF("x"), "data/d1")
    val data3 = writeOneParquet(Seq(3L).toDF("x"), "data/d3")
    val (delDf, delIds) = deletes(data1, data3)
    val del2 = writeOneParquet(delDf, "data/del2", delIds)

    val manifestSchema = new Schema.Parser().parse("""
      {"type":"record","name":"manifest_entry","fields":[
        {"name":"status","type":"int"},
        {"name":"data_file","type":{"type":"record","name":"r2","fields":[
          {"name":"content","type":"int"},
          {"name":"file_path","type":"string"},
          {"name":"file_format","type":"string"},
          {"name":"record_count","type":"long"}]}}]}""")
    def writeManifest(name: String, content: Int, filePath: String, n: Long): File = {
      val f = new File(metaDir, name)
      writeAvro(manifestSchema, f) { rec =>
        val df = new GenericData.Record(manifestSchema.getField("data_file").schema())
        df.put("content", content)
        df.put("file_path", filePath)
        df.put("file_format", "PARQUET")
        df.put("record_count", n)
        rec.put("status", 1) // ADDED
        rec.put("data_file", df)
      }
      f
    }
    val m1 = writeManifest("m1.avro", 0, data1, 10L)
    val m2 = writeManifest("m2.avro", deleteContent, del2, delDf.count())
    val m3 = writeManifest("m3.avro", 0, data3, 1L)

    val listSchema = new Schema.Parser().parse("""
      {"type":"record","name":"manifest_file","fields":[
        {"name":"manifest_path","type":"string"},
        {"name":"content","type":"int"},
        {"name":"sequence_number","type":"long"}]}""")
    val listFile = new File(metaDir, "snap-3.avro")
    val writer = new DataFileWriter(new GenericDatumWriter[GenericRecord](listSchema))
    writer.create(listSchema, listFile)
    try {
      for ((m, content, seq) <- Seq((m1, 0, 1L), (m2, 1, 2L), (m3, 0, 3L))) {
        val rec = new GenericData.Record(listSchema)
        rec.put("manifest_path", m.getAbsolutePath)
        rec.put("content", content)
        rec.put("sequence_number", seq)
        writer.append(rec)
      }
    } finally writer.close()

    val metadataJson = s"""{
      "format-version": 2,
      "current-schema-id": 0,
      "schemas": [{"schema-id": 0, "type": "struct", "fields": [
        {"id": 1, "name": "x", "required": false, "type": "long"}]}],
      "current-snapshot-id": 3,
      "snapshots": [{
        "snapshot-id": 3, "sequence-number": 3, "timestamp-ms": 1700000000000,
        "schema-id": 0, "manifest-list": "${listFile.getAbsolutePath}"}]
    }"""
    Files.writeString(new File(metaDir, "v1.metadata.json").toPath, metadataJson)
    Files.writeString(new File(metaDir, "version-hint.text").toPath, "1")
    root.getAbsolutePath
  }

  private def writeAvro(schema: Schema, out: File)(fill: GenericRecord => Unit): Unit = {
    val writer = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    writer.create(schema, out)
    try {
      val rec = new GenericData.Record(schema)
      fill(rec)
      writer.append(rec)
    } finally writer.close()
  }

  test("scan schema matches the reference lineitem DESCRIBE golden " +
       "(iceberg_scan_generated_data_0_001.test:17-28 pattern)") {
    import org.apache.spark.sql.types._
    val schema = IcebergScan.scan(spark, Lineitem, moved).schema
    val expected = Seq(
      "l_orderkey" -> IntegerType, "l_partkey" -> IntegerType,
      "l_suppkey" -> IntegerType, "l_linenumber" -> IntegerType,
      "l_quantity" -> IntegerType,
      "l_extendedprice" -> DecimalType(15, 2),
      "l_discount" -> DecimalType(15, 2), "l_tax" -> DecimalType(15, 2),
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> DateType, "l_commitdate" -> DateType,
      "l_receiptdate" -> DateType, "l_shipinstruct" -> StringType,
      "l_shipmode" -> StringType, "l_comment" -> StringType)
    assert(schema.fields.map(f => f.name -> f.dataType).toSeq === expected)
    assert(schema.fields.forall(_.nullable)) // all required:false in metadata
  }

  test("v1 generated table: count, evolved types at v9/v8, missing column at v6 " +
      "(iceberg_scan_generated_data_0_001.test:13-45,92-108)") {
    val table = s"$RefData/generated_spec1_0_001/pyspark_iceberg_table"
    assert(IcebergScan.scan(spark, table, moved).count() === 7690L)
    // direct-metadata.json-path scans at pinned versions
    def at(v: Int) = IcebergScan.scan(spark, s"$table/metadata/v$v.metadata.json", moved)
    assert(at(9).count() === 7690L)
    assert(at(9).schema("schema_evol_added_col_1").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(at(8).schema("schema_evol_added_col_1").dataType ===
      org.apache.spark.sql.types.IntegerType)
    // v6 predates the column: selecting it must fail analysis (the
    // reference's Binder Error, :104-108) and the error names the column
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      at(6).select("schema_evol_added_col_1")
    }
    assert(e.getMessage.contains("schema_evol_added_col_1"))
  }

  test("incremental append between snapshots returns only the added file's rows") {
    val inc = IcebergScan.incrementalAppend(
      spark, Lineitem, fromSnapshotId = 3776207205136740581L, opts = moved)
    assert(inc.count() === 51793L)
    // from == to → empty increment with the table schema
    val none = IcebergScan.incrementalAppend(
      spark, Lineitem, fromSnapshotId = 7635660646343998149L,
      toSnapshotId = Some(7635660646343998149L), opts = moved)
    assert(none.count() === 0L)
    assert(none.columns.contains("l_orderkey"))
  }

  test("scan works with explicit file:// scheme paths (the S3-shape path bridge)") {
    // The MoR delete filter bridges manifest path strings to Spark's
    // fully-qualified _metadata.file_path URIs; an explicit scheme on the
    // table path exercises exactly the qualification code that a remote
    // (s3a://) deployment would hit.
    val gen = s"file://$RefData/generated_spec2_0_001/pyspark_iceberg_table"
    val got = IcebergScan.scan(spark, gen, moved)
    assert(got.count() === 6592L)
  }

  test("foreign equality deletes subtract with strictly-older sequence scoping") {
    import spark.implicits._
    // delete {x∈(3,5)} WITHOUT manifest `equality_ids`: the delete file's
    // own parquet schema defines the key columns
    val table = buildForeignV2Table(2)((_, _) => (Seq(3L, 5L).toDF("x"), true))
    val df = IcebergScan.scan(spark, table)
    val got = df.collect().map(_.getLong(0)).sorted
    // seq-1 rows 3 and 5 deleted by the seq-2 delete; the seq-3 re-insert
    // of 3 survives (delete applies only to strictly older data files)
    assert(got.toSeq === Seq(1L, 2L, 3L, 4L, 6L, 7L, 8L, 9L, 10L))
    // the unsized delete file still applies through the per-file filter
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_dv_alive") && !plan.contains("Join"), plan.take(3000))
  }

  test("foreign unsized v2 position deletes apply through the per-file filter") {
    import spark.implicits._
    // name-only `file_path`/`pos` columns (no field ids): positions 2 and 4
    // of the seq-1 file (x = 3, 5), plus a row naming the seq-3 file,
    // which a seq-2 delete cannot reach (data sequence must be ≤ the
    // delete's)
    val table = buildForeignV2Table(1)((data1, data3) =>
      (Seq((data1, 2L), (data1, 4L), (data3, 0L)).toDF("file_path", "pos"), false))
    val df = IcebergScan.scan(spark, table)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 2L, 3L, 4L, 6L, 7L, 8L, 9L, 10L))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_dv_alive") && !plan.contains("Join"), plan.take(3000))
    // the metadata count applies the scan's sequence rule too: the row
    // naming the seq-3 file deletes nothing
    assert(IcebergScan.metadataRowCount(spark, table) === Some(9L))
    assert(df.count() === 9L)
  }

  test("rewritePositionDeleteFiles keeps the position-delete sequence rule") {
    import spark.implicits._
    // the seq-2 delete names positions 2 and 4 of the seq-1 file and row 0
    // of the seq-3 file, which it cannot reach
    val table = buildForeignV2Table(1)((data1, data3) =>
      (Seq((data1, 2L), (data1, 4L), (data3, 0L)).toDF("file_path", "pos"), false))
    val want = Seq(1L, 2L, 3L, 4L, 6L, 7L, 8L, 9L, 10L)
    def rows = IcebergScan.scan(spark, table).collect().map(_.getLong(0)).sorted.toSeq
    assert(rows === want)
    assert(graft.iceberg.IcebergWriter.rewritePositionDeleteFiles(spark, table).nonEmpty)
    assert(rows === want, "the rewrite must not delete the seq-3 row")
    // the consolidated delete holds the two tombstones that reach a file
    val kept = IcebergScan.positionDeletes(spark, table).select("file_path", "pos")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(kept.map(_._2).sorted === Seq(2L, 4L) && kept.forall(_._1.contains("/data/d1/")), kept)
  }

  test("upgradeFormat turns foreign v2 position deletes into DVs under the sequence rule") {
    import spark.implicits._
    // the seq-2 delete names positions 2 and 4 of the seq-1 file and row 0
    // of the seq-3 file, which it cannot reach
    val table = buildForeignV2Table(1)((data1, data3) =>
      (Seq((data1, 2L), (data1, 4L), (data3, 0L)).toDF("file_path", "pos"), false))
    val want = Seq(1L, 2L, 3L, 4L, 6L, 7L, 8L, 9L, 10L)
    def rows = IcebergScan.scan(spark, table).collect().map(_.getLong(0)).sorted.toSeq
    assert(rows === want)
    graft.iceberg.IcebergWriter.upgradeFormat(spark, table)
    assert(IcebergScan.loadInfo(spark, table).formatVersion === 3)
    assert(rows === want, "the upgrade must not delete the seq-3 row")
    // one DV, for the seq-1 file alone; the parquet delete is tombstoned
    val dvs = IcebergScan.positionDeletes(spark, table).select("file_path").distinct()
      .collect().map(_.getString(0)).toSeq
    assert(dvs.size === 1 && dvs.head.endsWith(".parquet") && dvs.head.contains("/data/d1/"), dvs)
  }
}

package graft.sql

import java.io.File
import java.nio.file.Files

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.MetadataBuilder
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSessions
import graft.iceberg.IcebergScan
import graft.iceberg.IcebergScan.Options

/** The one delete planner (`IcebergScan.planDeletes`) over hand-built
  * foreign tables: the spliced scan (filter and anti join), the keyed
  * scan and the metadata count apply the spec's partition scoping of
  * deletes alike, a
  * delete entry without a recorded size does not keep the keyed scan
  * away, and a malformed deletion-vector entry fails with one error that
  * names it. */
class DeletePlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession =
    GraftSessions.builder("local[2]", "2").appName("graft-delete-plan").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** One manifest entry of the hand-built table; None = field absent. */
  private case class Entry(
      content: Int, path: String, format: String, records: Long,
      size: Option[Long], part: String, equalityIds: Seq[Int] = Seq.empty,
      referenced: Option[String] = None, offset: Option[Long] = None,
      length: Option[Long] = None)

  private val manifestSchema = new Schema.Parser().parse("""
    {"type":"record","name":"manifest_entry","fields":[
      {"name":"status","type":"int"},
      {"name":"data_file","type":{"type":"record","name":"r2","fields":[
        {"name":"content","type":"int"},
        {"name":"file_path","type":"string"},
        {"name":"file_format","type":"string"},
        {"name":"partition","type":{"type":"record","name":"r102","fields":[
          {"name":"p","type":["null","string"],"default":null}]}},
        {"name":"record_count","type":"long"},
        {"name":"file_size_in_bytes","type":["null","long"],"default":null},
        {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],
         "default":null},
        {"name":"referenced_data_file","type":["null","string"],"default":null},
        {"name":"content_offset","type":["null","long"],"default":null},
        {"name":"content_size_in_bytes","type":["null","long"],"default":null}]}}]}""")

  private val listSchema = new Schema.Parser().parse("""
    {"type":"record","name":"manifest_file","fields":[
      {"name":"manifest_path","type":"string"},
      {"name":"content","type":"int"},
      {"name":"sequence_number","type":"long"}]}""")

  /** A v2 table with schema (x long, p string) partitioned by identity(p):
    * `data` in a data manifest at sequence 1, `deletes` in a delete
    * manifest at sequence 2. The caller writes the files under `root`. */
  private def buildTable(root: File)(data: Seq[Entry], deletes: Seq[Entry]): String = {
    val metaDir = new File(root, "metadata"); metaDir.mkdirs()
    def writeManifest(name: String, es: Seq[Entry]): File = {
      val f = new File(metaDir, name)
      val dfSchema = manifestSchema.getField("data_file").schema()
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](manifestSchema))
      w.create(manifestSchema, f)
      try es.foreach { e =>
        val df = new GenericData.Record(dfSchema)
        val part = new GenericData.Record(dfSchema.getField("partition").schema())
        part.put("p", e.part)
        df.put("content", e.content)
        df.put("file_path", e.path)
        df.put("file_format", e.format)
        df.put("partition", part)
        df.put("record_count", e.records)
        df.put("file_size_in_bytes", e.size.map(Long.box).orNull)
        if (e.equalityIds.nonEmpty) {
          val ids = new java.util.ArrayList[Integer]()
          e.equalityIds.foreach(i => ids.add(i))
          df.put("equality_ids", ids)
        }
        df.put("referenced_data_file", e.referenced.orNull)
        df.put("content_offset", e.offset.map(Long.box).orNull)
        df.put("content_size_in_bytes", e.length.map(Long.box).orNull)
        val rec = new GenericData.Record(manifestSchema)
        rec.put("status", 1) // ADDED
        rec.put("data_file", df)
        w.append(rec)
      } finally w.close()
      f
    }
    val listFile = new File(metaDir, "snap-2.avro")
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](listSchema))
    w.create(listSchema, listFile)
    try {
      for ((m, content, seq) <- Seq((writeManifest("m1.avro", data), 0, 1L),
                                    (writeManifest("m2.avro", deletes), 1, 2L))) {
        val rec = new GenericData.Record(listSchema)
        rec.put("manifest_path", m.getAbsolutePath)
        rec.put("content", content)
        rec.put("sequence_number", seq)
        w.append(rec)
      }
    } finally w.close()
    Files.writeString(new File(metaDir, "v1.metadata.json").toPath, s"""{
      "format-version": 2,
      "current-schema-id": 0,
      "schemas": [{"schema-id": 0, "type": "struct", "fields": [
        {"id": 1, "name": "x", "required": false, "type": "long"},
        {"id": 2, "name": "p", "required": false, "type": "string"}]}],
      "default-spec-id": 0,
      "partition-specs": [{"spec-id": 0, "fields": [
        {"name": "p", "transform": "identity", "source-id": 2, "field-id": 1000}]}],
      "current-snapshot-id": 2,
      "snapshots": [{
        "snapshot-id": 2, "sequence-number": 2, "timestamp-ms": 1700000000000,
        "schema-id": 0, "manifest-list": "${listFile.getAbsolutePath}"}]
    }""")
    Files.writeString(new File(metaDir, "version-hint.text").toPath, "1")
    root.getAbsolutePath
  }

  /** One parquet file of `df` under `root/dir`, its columns carrying
    * field ids 1, 2, … like any Iceberg writer's. */
  private def writeParquet(root: File, df: DataFrame, dir: String): File = {
    df.select(df.schema.fieldNames.zipWithIndex.map { case (n, i) =>
      col(n).as(n, new MetadataBuilder().putLong("parquet.field.id", i + 1L).build())
    }.toIndexedSeq: _*).coalesce(1).write.parquet(new File(root, dir).getAbsolutePath)
    new File(root, dir).listFiles().filter(_.getName.endsWith(".parquet")).head
  }

  private def table(path: String): GraftTable =
    GraftTable.resolve(spark, "graft", Identifier.of(Array.empty, path), path, Options())

  private def rows(df: DataFrame): Seq[(Long, String)] =
    df.select("x", "p").collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  private def withKeyed[A](body: => A): A = {
    spark.conf.set(GraftKeyedScan.ConfKey, "true")
    try body finally spark.conf.unset(GraftKeyedScan.ConfKey)
  }

  test("an equality delete scoped to one partition reaches only that partition") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_delplan_part_").toFile
    val a = writeParquet(root, Seq((4L, "a"), (5L, "a"), (6L, "a")).toDF("x", "p"), "data/a")
    val b = writeParquet(root, Seq((5L, "b"), (7L, "b")).toDF("x", "p"), "data/b")
    val del = writeParquet(root, Seq(5L).toDF("x"), "data/del")
    // data files sized, the delete file not (a legacy writer's shape)
    val path = buildTable(root)(
      Seq(Entry(0, a.getAbsolutePath, "PARQUET", 3L, Some(a.length), "a"),
          Entry(0, b.getAbsolutePath, "PARQUET", 2L, Some(b.length), "b")),
      Seq(Entry(2, del.getAbsolutePath, "PARQUET", 1L, None, "a", equalityIds = Seq(1))))
    // partition b's older x = 5 is out of the delete's reach
    val want = Seq((4L, "a"), (5L, "b"), (6L, "a"), (7L, "b"))
    assert(rows(IcebergScan.scan(spark, path)) === want, "spliced scan")
    assert(rows(IcebergScan.scan(spark, path, Options(broadcastDeleteThreshold = 0L))) === want,
      "anti-join scan")
    withKeyed {
      val keyed = table(path).keyedPlan(spark)
        .getOrElse(fail("an unsized delete entry must not keep the keyed scan away"))
      val fd = keyed.entries.map(e => e.entry.partition("p") -> e.deletes).toMap
      assert(fd("a").map(_.groups) === Some(Seq(0)) && fd("b").isEmpty,
        "only partition a's file takes the delete")
      val df = spark.read.format("graft").load(path).filter(col("p") >= "a")
      assert(rows(df) === want, "keyed scan")
      assert(df.queryExecution.executedPlan.toString.contains("graft-keyed"),
        df.queryExecution.executedPlan.toString)
    }
  }

  test("a position delete without file_path bounds reaches only its partition") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_delplan_pos_").toFile
    val a = writeParquet(root, Seq((4L, "a"), (5L, "a"), (6L, "a")).toDF("x", "p"), "data/a")
    val b = writeParquet(root, Seq((5L, "b"), (7L, "b")).toDF("x", "p"), "data/b")
    val pos = writeParquet(root, Seq((a.getAbsolutePath, 1L)).toDF("file_path", "pos"), "data/pos")
    // the manifest records no bounds for the delete (a foreign writer's
    // shape), so only its partition tuple keeps it away from b
    val path = buildTable(root)(
      Seq(Entry(0, a.getAbsolutePath, "PARQUET", 3L, Some(a.length), "a"),
          Entry(0, b.getAbsolutePath, "PARQUET", 2L, Some(b.length), "b")),
      Seq(Entry(1, pos.getAbsolutePath, "PARQUET", 1L, Some(pos.length), "a")))
    val want = Seq((4L, "a"), (5L, "b"), (6L, "a"), (7L, "b"))
    assert(rows(IcebergScan.scan(spark, path)) === want, "spliced scan")
    withKeyed {
      val tbl = table(path)
      val keyed = tbl.keyedPlan(spark).getOrElse(fail("table must plan keyed"))
      val bins = GraftKeyedV2Scan(spark, tbl, tbl.schema(), keyed).toBatch
        .planInputPartitions().toSeq.map(_.asInstanceOf[GraftKeyedMorFilePartition])
      val (solo, plain) = bins.partition(_.deletes.pos.nonEmpty)
      assert(solo.flatMap(_.files.map(_.filePath.toString)).forall(_.contains("/data/a/")) &&
        solo.size === 1, s"only partition a's file bins solo: $bins")
      assert(plain.nonEmpty && plain.forall(_.deletes.rawPath.isEmpty),
        "partition b's file keeps a plain bin")
      assert(rows(spark.read.format("graft").load(path)) === want, "keyed scan")
    }
  }

  test("a metadata count applies a position delete's partition scope like the scan") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_delplan_count_").toFile
    val a = writeParquet(root, Seq((4L, "a"), (5L, "a"), (6L, "a")).toDF("x", "p"), "data/a")
    val b = writeParquet(root, Seq((5L, "b"), (7L, "b")).toDF("x", "p"), "data/b")
    // a delete of partition b that names row 1 of partition a's file
    // deletes nothing: it reaches only partition b
    val pos = writeParquet(root, Seq((a.getAbsolutePath, 1L)).toDF("file_path", "pos"), "data/pos")
    val path = buildTable(root)(
      Seq(Entry(0, a.getAbsolutePath, "PARQUET", 3L, Some(a.length), "a"),
          Entry(0, b.getAbsolutePath, "PARQUET", 2L, Some(b.length), "b")),
      Seq(Entry(1, pos.getAbsolutePath, "PARQUET", 1L, Some(pos.length), "b")))
    val scanned = IcebergScan.scan(spark, path).count()
    assert(scanned === 5L)
    val counted = IcebergScan.metadataRowCount(spark, path)
    assert(counted.forall(_ == scanned), s"metadata count $counted, scan $scanned")
  }

  test("a malformed deletion-vector entry fails with an IOException naming it") {
    import spark.implicits._
    def rootCause(t: Throwable): Option[java.io.IOException] = t match {
      case io: java.io.IOException => Some(io)
      case null => None
      case other => rootCause(other.getCause)
    }
    for ((what, dv) <- Seq(
        "without blob coordinates" -> ((data: String) =>
          Entry(1, "", "PUFFIN", 1L, Some(10L), "a", referenced = Some(data))),
        "without a referenced data file" -> ((_: String) =>
          Entry(1, "", "PUFFIN", 1L, Some(10L), "a", offset = Some(4L), length = Some(6L))))) {
      val root = Files.createTempDirectory("graft_delplan_dv_").toFile
      val a = writeParquet(root, Seq((4L, "a"), (5L, "a")).toDF("x", "p"), "data/a")
      val puffin = new File(root, "data/dv.puffin").getAbsolutePath
      val path = buildTable(root)(
        Seq(Entry(0, a.getAbsolutePath, "PARQUET", 2L, Some(a.length), "a")),
        Seq(dv(a.getAbsolutePath).copy(path = puffin)))
      val spliced = intercept[java.io.IOException](IcebergScan.scan(spark, path))
      assert(spliced.getMessage.contains(puffin), s"$what: ${spliced.getMessage}")
      withKeyed {
        assert(table(path).keyedPlan(spark).isEmpty, what)
        val keyed = intercept[Exception](spark.read.format("graft").load(path).collect())
        assert(rootCause(keyed).exists(_.getMessage == spliced.getMessage), s"$what: $keyed")
      }
    }
  }
}

package graft.iceberg

import java.nio.file.Files

import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The spec-v3 read rule "a data file's deletion vector is the whole
  * truth": parquet position deletes aimed at a file that has a DV are
  * ignored, even where they name positions the DV does not. The engine's
  * writer never produces that state (a DV write absorbs the file's
  * parquet deletes), so the snapshot is assembled from two of its
  * commits: the DV snapshot's manifests plus the manifest of a parquet
  * delete the table rolled back — what a foreign writer's manifest list
  * carrying both would read as. */
class DvWinsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession =
    graft.GraftSessions.builder("local[2]", "2").appName("graft-dv-wins").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def latest(table: String) =
    IcebergMetadataParser.latest(IcebergScan.loadInfo(spark, table))

  /** The table, its rolled-back parquet-delete snapshot (pos 2 of the
    * one data file), its DV snapshot (a DV of {pos 3} on the same file)
    * with its loaded manifests, and the parquet delete as (manifest,
    * entries). */
  private def assembled() = {
    val table = Files.createTempDirectory("graft_dvwins_").toString + "/t"
    val conf = spark.sessionState.newHadoopConf()
    IcebergWriter.write(spark.range(0, 10).select(col("id"), (col("id") * 10).as("v"))
      .coalesce(1), table) // v2: one data file, id = row position
    val base = latest(table).snapshotId

    IcebergWriter.delete(spark, table, col("id") === 2) // parquet delete of pos 2
    val parquetSnap = latest(table)
    IcebergWriter.rollback(spark, table, base)
    IcebergWriter.upgradeFormat(spark, table)
    IcebergWriter.delete(spark, table, col("id") === 3) // DV of {pos 3}
    val dvSnap = latest(table)

    val parquetMeta = ManifestReader.loadTable(table, parquetSnap, conf, allowMovedPaths = false)
    val dvMeta = ManifestReader.loadTable(table, dvSnap, conf, allowMovedPaths = false)
    val live = (m: IcebergModel.TableMeta) => m.entries.flatMap(_._2).filter(_.status != 2)
    val parquetDeletes = parquetMeta.entries.filter { case (m, es) =>
      m.content == 1 && es.exists(e => e.status != 2 && e.content == 1 && !e.isDV)
    }
    val dv = live(dvMeta).filter(_.isDV)
    assert(parquetDeletes.nonEmpty && dv.size === 1)
    // both name the same data file
    val dataFile = live(dvMeta).filter(_.content == 0).map(_.filePath)
    assert(dataFile === Seq(dv.head.referencedDataFile.get))
    val targets = spark.read.parquet(
      parquetDeletes.flatMap(_._2).filter(_.content == 1).map(_.filePath): _*)
      .select("file_path").distinct().collect().map(_.getString(0)).toSeq
    assert(targets === dataFile)

    (table, parquetSnap, dvSnap, dvMeta, parquetDeletes)
  }

  /** A manifest list file's schema and records. */
  private def readList(p: String) = {
    val reader = new DataFileReader(new java.io.File(new org.apache.hadoop.fs.Path(p).toUri.getPath),
      new GenericDatumReader[GenericRecord]())
    try (reader.getSchema, reader.iterator().asScala.toList) finally reader.close()
  }

  test("a DV wins over parquet position deletes that are not a subset of it") {
    val (table, _, dvSnap, dvMeta, parquetDeletes) = assembled()
    val both = dvMeta.copy(entries = dvMeta.entries ++ parquetDeletes)
    val ids = IcebergScan.scanLoaded(spark, table, IcebergScan.Options(), dvSnap, both)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === (0L until 10L).filterNot(_ == 3L),
      "the DV {3} must override the parquet delete {2}")
  }

  test("a v3 delete on a file with a DV keeps the rows the DV kept alive") {
    val (table, parquetSnap, dvSnap, _, parquetDeletes) = assembled()
    // commit the assembled state: the DV snapshot's manifest list,
    // rewritten in place by hand, also lists the parquet delete's manifest
    val (schema, records) = readList(dvSnap.manifestList)
    val parquetManifests = parquetDeletes.map(_._1.manifestPath).toSet
    val extra = readList(parquetSnap.manifestList)._2
      .filter(r => parquetManifests(r.get("manifest_path").toString))
    assert(extra.size === parquetManifests.size)
    val list = new org.apache.hadoop.fs.Path(dvSnap.manifestList)
    val writer = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    // through the table's file system, which rewrites the checksum file too
    writer.create(schema, list.getFileSystem(spark.sessionState.newHadoopConf()).create(list, true))
    try (records ++ extra).foreach(r => writer.append(r)) finally writer.close()
    ManifestReader.invalidatePlanningCache()
    def ids = IcebergScan.scan(spark, table).select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === (0L until 10L).filterNot(_ == 3L))

    IcebergWriter.delete(spark, table, col("id") === 5)
    assert(ids === (0L until 10L).filterNot(Set(3L, 5L)),
      "row 2, which the DV kept alive, must survive a delete of row 5")
  }
}

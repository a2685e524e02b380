package graft.sql

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.iceberg.{ConfBroadcast, IcebergScan, IcebergWriter}

/** The Hadoop conf reaches executors through one cached broadcast
  * ([[ConfBroadcast]]): equal content shares a broadcast, a changed
  * setting gets a new one, the memoized session conf follows the
  * context's conf, a stopped context leaves nothing behind, and the
  * delete filter ships only the broadcast's handle. The last test stops
  * the session. */
class ConfBroadcastSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession =
    graft.GraftSessions.builder("local[2]", "2").appName("graft-conf-broadcast").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** A v3 table of ids 0..9 whose id 3 is deleted by a DV. */
  private lazy val dvTable: String = {
    val table = Files.createTempDirectory("graft_confbc_").toString + "/t"
    IcebergWriter.write(spark.range(0, 10).toDF().coalesce(1), table, formatVersion = 3)
    IcebergWriter.delete(spark, table, col("id") === 3)
    table
  }

  private def dvAlive(df: DataFrame): DvAlive = {
    val found = df.queryExecution.optimizedPlan.flatMap(
      _.expressions.flatMap(_.collect { case d: DvAlive => d }))
    assert(found.size === 1, df.queryExecution.optimizedPlan.toString)
    found.head
  }

  test("reads of one DV'd table and position-delete factories share one broadcast") {
    val reads = Seq.fill(2)(IcebergScan.scan(spark, dvTable))
    reads.foreach(df => assert(df.collect().map(_.getLong(0)).sorted.toSeq ===
      (0L until 10L).filterNot(_ == 3L)))
    assert(dvAlive(reads(0)).conf.id === dvAlive(reads(1)).conf.id)
    val factories = Seq.fill(2)(
      PosDeleteCache.factory(spark).asInstanceOf[ParquetPartitionReaderFactory])
    assert(factories(0).broadcastedConf.id === factories(1).broadcastedConf.id)
  }

  test("a serialized DV filter carries the conf's handle, not the conf") {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(dvAlive(IcebergScan.scan(spark, dvTable)))
    out.close()
    assert(bytes.size < 16 * 1024, s"${bytes.size} bytes")
  }

  test("a changed session Hadoop key gets a new broadcast that executors read") {
    val key = "graft.test.confBroadcast"
    try {
      spark.conf.set(key, "before")
      val before = ConfBroadcast.session(spark)
      spark.conf.set(key, "after")
      val after = ConfBroadcast.session(spark)
      assert(after.id !== before.id)
      assert(ConfBroadcast.session(spark).id === after.id)
      val seen = spark.sparkContext.parallelize(Seq(0), 1)
        .map(_ => after.value.value.get(key)).collect()
      assert(seen.toSeq === Seq("after"))
    } finally spark.conf.unset(key)
  }

  test("the session conf is shared until the context's Hadoop conf changes") {
    val key = "graft.test.contextKey"
    val hc = spark.sparkContext.hadoopConfiguration
    val first = ConfBroadcast.sessionConf(spark)
    assert(ConfBroadcast.sessionConf(spark) eq first)
    try {
      hc.set(key, "v1")
      val changed = ConfBroadcast.sessionConf(spark)
      assert(changed ne first)
      assert(changed.get(key) === "v1")
      assert(first.get(key) === null)
    } finally hc.unset(key)
    assert(ConfBroadcast.sessionConf(spark).get(key) === null)
  }

  test("a stopped context leaves nothing in the cache") {
    ConfBroadcast.session(spark)
    val sc = spark.sparkContext
    assert(ConfBroadcast.cachedFor(sc) > 0)
    spark.stop()
    assert(ConfBroadcast.cachedFor(sc) === 0)
  }
}

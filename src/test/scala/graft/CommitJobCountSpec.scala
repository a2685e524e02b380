package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.iceberg.{IcebergScan, IcebergWriter}

/** The Spark job count of each row-level commit on a v3 table, in the
  * shape of the write benchmark's round (a 300-key range delete, a
  * 200-key range update, a merge of 100 existing and 50 new keys). A v3
  * delete writes its deletion vectors in the one pass that loads each
  * file's prior deletes, and a merge finds duplicate keys from its
  * delete files' footers; a job count does not drift with the machine,
  * so it pins both where wall time cannot. */
class CommitJobCountSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession =
    GraftSessions.builder("local[4]", "4").appName("graft-commit-jobs").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val jobs = new AtomicInteger()

  private def jobsOf(commit: => Long): Int = {
    ListenerBusDrain(spark.sparkContext)
    jobs.set(0)
    commit
    ListenerBusDrain(spark.sparkContext)
    jobs.get
  }

  /** Orders rows `from` until `until` in the benchmark table's columns,
    * built from local rows like its commit sources. */
  private def orders(from: Long, until: Long, price: Double, parts: Int = 1): DataFrame = {
    val schema = StructType(Seq(StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType), StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize((from until until).map(k =>
      Row(k, k % 1500, "O", k * 1.5 + price, new java.sql.Timestamp(k * 86400000L), "3-MEDIUM")),
      parts), schema)
  }

  test("v3 delete, update and merge run at most 3, 5 and 5 Spark jobs") {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(start: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    })
    val table = Files.createTempDirectory("graft_jobs_").toString + "/t"
    IcebergWriter.write(orders(0, 6000, 0.0, parts = 4), table, formatVersion = 3)
    // a round: delete [at, at+300), update [at+300, at+500), merge 100
    // existing keys from `mergeAt` and 50 new ones from `fresh`
    def round(at: Long, mergeAt: Long, fresh: Long): Map[String, Int] = Map(
      "delete" -> jobsOf(IcebergWriter.delete(spark, table,
        col("o_orderkey") >= at && col("o_orderkey") < at + 300)),
      "update" -> jobsOf(IcebergWriter.update(spark, table,
        col("o_orderkey") >= at + 300 && col("o_orderkey") < at + 500,
        Map("o_totalprice" -> (col("o_totalprice") + 1.0)))),
      "merge" -> jobsOf(IcebergWriter.merge(spark, table,
        orders(mergeAt, mergeAt + 100, 7.0).union(orders(fresh, fresh + 50, 7.0)),
        Seq("o_orderkey"))))
    round(1000, 2000, 6000)
    // the second round deletes in files whose DVs the first round wrote
    val counts = round(200, 2100, 6050)
    info(s"Spark jobs per commit: $counts")
    assert(counts("delete") <= 3 && counts("update") <= 5 && counts("merge") <= 5, counts)
    assert(IcebergScan.scan(spark, table).count() === 6000L - 2 * 300 + 2 * 50)
  }
}

package perfbench

import graft.iceberg.{IcebergScan, IcebergWriter}
import org.apache.spark.sql.Row

import java.security.MessageDigest
import scala.collection.mutable

/** operator_suite: the engine's heaviest operators that need no external
  * fixtures (MinHash/LSH dedup, label propagation, the curated-corpus
  * pipeline and its Iceberg write, decontamination), run from
  * SparkEntry.queries on parquet input. Iceberg layers do
  * almost no work here, so this workload is the bypass for Iceberg-layer
  * changes and the one that moves when graft.queries or graft.functions
  * change.
  *
  * The untimed first sweep's result of each query is written out for the
  * DuckDB oracle check; every timed execution must reproduce its rows. */
final class OperatorSuite(h: Harness, generated: String) extends Workload {
  import h.spark
  import OperatorSuite._

  private val fns = graft.SparkEntry.queries
  private val digests = mutable.Map[String, String]()
  /** The directory the queries read, made by the last set-up. */
  private var input = ""
  Main.writeFile(s"${h.workDir}/oracle_sql.json",
    Main.json.writeValueAsString(Queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap))

  /** Builds the queries' input through the engine: the generated documents
    * are written as a v3 table by IcebergWriter, and the table's rows, read
    * back by IcebergScan, become the parquet input the queries read. */
  def setup(h: Harness, rep: Int): Unit = {
    val table = s"${h.workDir}/suite/r$rep/documents"
    h.setupCommit("append", table)(IcebergWriter.write(
      spark.read.parquet(s"$generated/documents.parquet"), table, formatVersion = 3))
    input = s"${h.workDir}/suite/r$rep/input"
    IcebergScan.scan(spark, table).write.parquet(s"$input/documents.parquet")
  }

  private def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def run(q: String): Unit = {
    var schema: org.apache.spark.sql.types.StructType = null
    val secs = h.read(q) {
      val df = fns(q)(spark, input)
      schema = df.schema
      h.exec(df.collect())
    } { rows =>
      val d = digest(rows)
      digests.get(q) match {
        case None =>
          digests(q) = d
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .write.mode("overwrite").parquet(s"${h.workDir}/results/$q")
          None
        case Some(want) if want == d => None
        case Some(_) => Some(s"$q: rows differ from the oracle-checked first execution")
      }
    }
    if (h.traced && h.recording) h.sample(s"operator.${q}_s", secs)
  }

  /** Always the same order: the data the last query leaves cached is part
    * of heap_retained_mb. */
  def round(h: Harness): Unit = Queries.foreach(run)

}

object OperatorSuite {
  /** ROADMAP's heaviest operators; none reads external fixtures. All read
    * only `documents`. */
  val Queries = Seq("p01_train_corpus", "p02_corpus_to_iceberg", "d06_dedup_clusters",
    "d07_incremental_dedup", "t07_decontaminate")
}

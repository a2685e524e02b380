package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine capability exposed through the driver's correctness gate.
  *
  * @param name   stable key; shows up in CORRECTNESS_r{N}.json
  * @param oracle equivalent ANSI SQL runnable by DuckDB 1.0 over the same
  *               parquet tables (bare table names); None → rows-only check
  * @param build  Spark-first implementation reading from `dir`
  */
final case class QueryDef(
    name: String,
    oracle: Option[String],
    build: (SparkSession, String) => DataFrame
)

object Tables {
  /** All driver-generated tables live as one parquet file/dir per table. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The events table's `ts` has shipped as both parquet TIMESTAMP(NANOS)
    * — which Spark only reads as a raw long (SPARK-40819) under
    * `spark.sql.legacy.parquet.nanosAsLong=true` ([[GraftSessions]]) — and
    * plain TIMESTAMP(MICROS). Normalize either to TIMESTAMP_NTZ at
    * microsecond precision — the same value DuckDB sees after
    * CAST(ts AS TIMESTAMP). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "events")
    val ts = df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        org.apache.spark.sql.functions.expr(
          "cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
      case _ =>
        org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampNTZType)
    }
    df.withColumn("ts", ts)
  }
}

/** Collect nodes from an executed (possibly adaptive) physical plan,
  * descending through `AdaptiveSparkPlanExec`/`QueryStageExec` wrappers —
  * the one traversal every plan-shape pin shares (gates pin shuffle
  * counts and scan metrics INSIDE oracle-checked output; specs pin leaf
  * types), so the wrapper-unwrapping lives in exactly one place. */
object PlanWalk {
  def collect[T](p: org.apache.spark.sql.execution.SparkPlan)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val children = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    pf.lift(p).toSeq ++ children.flatMap(collect(_)(pf))
  }
}

/** Session configuration the engine's read paths rely on. Set ONCE at
  * session build (mutating session conf inside query builders would leak
  * into unrelated reads in the same session). */
object GraftSessions {
  val requiredConfs: Map[String, String] = Map(
    // oracle comparability: naive timestamps everywhere
    "spark.sql.session.timeZone" -> "UTC",
    // Iceberg field-id-keyed schema resolution (SURVEY §2.1 S5)
    "spark.sql.parquet.fieldId.read.enabled" -> "true",
    // events.ts is parquet TIMESTAMP(NANOS)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // storage-partitioned joins (Spark's SPJ opt-in): catalog scans of
    // partitioned graft tables report KeyGroupedPartitioning, so
    // co-bucketed joins/aggregations plan with zero Exchange (ib64);
    // pushPartValues keeps one-sided tuples joinable
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
    // local storage: Hadoop's LocalFileSystem with a fork-free
    // setPermission (without native libhadoop every create/mkdirs runs
    // `chmod`). Wiring, not a knob. Uncached: Hadoop caches a FileSystem
    // by scheme and user, not by conf, so a `file:` instance resolved
    // earlier from another conf (a plain `new Configuration()`, another
    // session) would otherwise serve this session with the stock class
    // and that conf's umask.
    "spark.hadoop.fs.file.impl" -> classOf[graft.iceberg.NioLocalFileSystem].getName,
    "spark.hadoop.fs.file.impl.disable.cache" -> "true")

  /** Standard local session builder for the driver harnesses and tests.
    * Installs the graft extensions (TVFs, scalar functions, and the
    * catalog-identifier rewrite rule) the way a cluster deployment would
    * via `spark.sql.extensions=graft.sql.GraftSqlExtensions`. */
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    requiredConfs.foldLeft(
      SparkSession.builder()
        .master(master)
        .config("spark.sql.shuffle.partitions", shufflePartitions)
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.sql.GraftSqlExtensions)) {
      case (b, (k, v)) => b.config(k, v)
    }
}

package perfbench

import graft.iceberg.{IcebergScan, ManifestReader}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import scala.collection.mutable

/** One timed operation of the closed loop. */
final case class OpRecord(kind: String, write: Boolean, seconds: Double, ok: Boolean)

/** Bytes under a table root, split the way the commit layer writes them. */
final case class DirUsage(files: Long, data: Long, deletes: Long, metadata: Long,
                          metadataJson: Long) {
  def total: Long = data + deletes + metadata
  def minus(o: DirUsage): DirUsage = DirUsage(files - o.files, data - o.data,
    deletes - o.deletes, metadata - o.metadata, metadataJson)
}

object DirUsage {
  def of(root: String): DirUsage = {
    val files = mutable.ArrayBuffer[File]()
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk)) else files += f
    walk(new File(root))
    val rootPath = new File(root).getAbsolutePath
    def rel(f: File) = f.getAbsolutePath.stripPrefix(rootPath)
    val (meta, data) = files.partition(f => rel(f).startsWith("/metadata/"))
    val (dels, rows) = data.partition { f =>
      val p = rel(f)
      p.contains("deletes") || p.contains("-dv-") || p.endsWith(".puffin") ||
        p.endsWith(".puffin.crc")
    }
    val newestJson = meta.filter(_.getName.endsWith(".metadata.json"))
      .sortBy(_.lastModified).lastOption.map(_.length).getOrElse(0L)
    DirUsage(files.count(!_.getName.endsWith(".crc")).toLong,
      rows.map(_.length).sum, dels.map(_.length).sum, meta.map(_.length).sum,
      newestJson)
  }
}

/** Runs a workload's operations as a closed loop with one client and records
  * what the benchmark reports. Every operation runs under its own Spark job
  * group; in the traced run the harness also records spans around the calls
  * into each layer and reads the scoped listeners after every operation. */
final class Harness(val spark: SparkSession, val traced: Boolean, val seed: Long,
                    val workDir: String, val dataDir: String, val cores: Int) {
  val tracer = new Tracer(traced)
  val rng = new scala.util.Random(seed)
  val ops = mutable.ArrayBuffer[OpRecord]()
  val failures = mutable.ArrayBuffer[String]()
  /** Per-operation layer samples (name -> one value per operation). */
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** Run totals for ratios and counts. */
  val totals = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  /** Only operations of the timed phase are recorded (not warm-up). */
  var recording = false

  private val sc = spark.sparkContext
  private val groups = if (traced) Some(new GroupListener) else None
  private val phases = if (traced) Some(new PhaseListener) else None
  groups.foreach(sc.addSparkListener)
  phases.foreach(spark.listenerManager.register)
  private var opSeq = 0
  private var lastInputRecords = 0L

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += v

  /** Time inside an IcebergScan call until the DataFrame is returned. */
  def plan[A](f: => A): A = tracer.span("iceberg.plan")(f)

  /** Time of the action that executes a planned DataFrame. */
  def exec[A](f: => A): A = tracer.span("exec")(f)

  /** A read operation. `probe` names the table whose planned file list the
    * traced run reports for this operation. */
  def read[A](kind: String, probe: Option[String] = None)(
      run: => A)(check: A => Option[String]): Double =
    runOp(kind, write = false, loop = true, table = None, probe)(run)(check)

  /** A writer call, timed as a loop operation. */
  def write[A](kind: String, table: String)(run: => A)(check: A => Option[String]): Double =
    runOp(kind, write = true, loop = true, table = Some(table), None)(run)(check)

  /** A writer call made while setting up tables: traced like a loop commit
    * but not counted as an operation. Failures abort the run. */
  def setupCommit[A](kind: String, table: String)(run: => A): A = {
    var out: Option[A] = None
    runOp(kind, write = true, loop = false, table = Some(table), None)(run) { v =>
      out = Some(v); None
    }
    out.getOrElse(throw new IllegalStateException(s"setup $kind on $table failed"))
  }

  /** Rows that survived delete application in the last read operation;
    * paired with that operation's input records for exec.live_row_ratio. */
  def liveRows(n: Long): Unit =
    if (traced && recording) {
      totals("exec.live_rows") += n
      totals("exec.live_input_records") += lastInputRecords
    }

  private def runOp[A](kind: String, write: Boolean, loop: Boolean,
                       table: Option[String],
                       probe: Option[String])(
      run: => A)(check: A => Option[String]): Double = {
    val measure = traced && (recording || !loop)
    tracer.beginOp()
    val group = s"perfbench-$opSeq"
    opSeq += 1
    val countBytes = loop && write && recording
    val before = if (measure || countBytes) table.map(DirUsage.of) else None
    val (hit0, miss0) = ManifestReader.planningCacheStats
    val (dec0, pru0) = ManifestReader.manifestPruneStats
    sc.setJobGroup(group, kind, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val res = try Right(tracer.span("op." + kind)(run)) catch {
      case e: Throwable => Left(e)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    sc.clearJobGroup()
    val after = before.flatMap(_ => table.map(DirUsage.of))
    if (countBytes) totals("bytes_written") += after.get.total - before.get.total
    if (measure) {
      org.apache.spark.PerfbenchBus.drain(sc)
      val ex = groups.get.take(group)
      val ph = phases.get.take()
      val (hit1, miss1) = ManifestReader.planningCacheStats
      val (dec1, pru1) = ManifestReader.manifestPruneStats
      recordExec(ex, secs)
      Seq("analysis", "optimization", "planning").foreach { p =>
        sample(s"catalyst.${p}_s", ph.getOrElse(p, 0L) / 1000.0)
      }
      totals("plan.cache_hits") += hit1 - hit0
      totals("plan.cache_misses") += miss1 - miss0
      sample("plan.manifests_decoded", (dec1 - dec0).toDouble)
      sample("plan.manifests_pruned", (pru1 - pru0).toDouble)
      lastInputRecords = ex.inputRecords
      table.foreach(_ => recordCommit(kind, secs, ex, before.get, after.get))
      probe.foreach(recordFiles)
      // the probes ran queries of their own; they belong to no operation
      org.apache.spark.PerfbenchBus.drain(sc)
      phases.get.take()
      groups.get.take(GroupListener.Unscoped)
    }
    val err = res match {
      case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(v) =>
        try check(v) catch { case e: Throwable => Some(s"check failed: $e") }
    }
    if (loop && recording) {
      ops += OpRecord(kind, write, secs, err.isEmpty)
      err.foreach(m => failures += s"$kind: ${m.take(500)}")
    } else if (!loop && err.nonEmpty) {
      throw new IllegalStateException(s"setup $kind failed: ${err.get}")
    } else err.foreach(m => System.err.println(s"[perfbench] warm-up $kind: ${m.take(500)}"))
    secs
  }

  private def recordExec(ex: ExecTotals, secs: Double): Unit = {
    val jobS = ex.jobMs / 1000.0
    sample("exec.job_s", jobS)
    sample("exec.task_run_s", ex.taskRunMs / 1000.0)
    sample("exec.task_cpu_s", ex.taskCpuNs / 1e9)
    sample("exec.gc_s", ex.gcMs / 1000.0)
    sample("exec.idle_core_s", (jobS * cores - ex.taskRunMs / 1000.0).max(0.0))
    Seq("tasks" -> ex.tasks, "stages" -> ex.stages, "input_bytes" -> ex.inputBytes,
      "input_records" -> ex.inputRecords, "shuffle_read_bytes" -> ex.shuffleReadBytes,
      "shuffle_write_bytes" -> ex.shuffleWriteBytes, "spill_bytes" -> ex.spillBytes)
      .foreach { case (k, v) => sample(s"exec.$k", v.toDouble) }
    totals("exec.job_s") += jobS
    totals("exec.task_run_s") += ex.taskRunMs / 1000.0
  }

  private def recordCommit(kind: String, secs: Double, ex: ExecTotals,
                           before: DirUsage, after: DirUsage): Unit = {
    val d = after.minus(before)
    kind match {
      case "compact" =>
        sample("maint.compact_s", secs)
        sample("maint.bytes_rewritten", d.data.toDouble)
      case "expire" => sample("maint.expire_s", secs)
      case k =>
        sample(s"commit.${k}_s", secs)
        sample("commit.job_s", ex.jobMs / 1000.0)
        sample("commit.driver_s", (secs - ex.jobMs / 1000.0).max(0.0))
        sample("commit.files_added", d.files.toDouble)
        sample("commit.data_bytes", d.data.toDouble)
        sample("commit.delete_bytes", d.deletes.toDouble)
        sample("commit.metadata_bytes", d.metadata.toDouble)
        sample("commit.metadata_json_bytes", after.metadataJson.toDouble)
    }
  }

  /** The files a scan of the table's current snapshot plans, against the
    * live data files of that snapshot (summed from its manifest list). */
  private def recordFiles(path: String): Unit = {
    import org.apache.spark.sql.functions.col
    val o = IcebergScan.Options()
    val byType = IcebergScan.scan(spark, path, o.copy(mode = "list_files"))
      .groupBy(col("type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val planned = byType.getOrElse("data", 0L)
    val snap = IcebergScan.selectSnapshot(spark, path, o.copy(skipSchemaInference = true))
    val live = ManifestReader.readManifestList(snap.manifestList,
        spark.sessionState.newHadoopConf(), snap.formatVersion)
      .filter(_.content == 0)
      .map(_.stats.map(s => s.addedFilesCount.toLong + s.existingFilesCount).getOrElse(0L))
      .sum
    sample("plan.data_files_planned", planned.toDouble)
    sample("plan.delete_files_planned", byType.getOrElse("delete", 0L).toDouble)
    totals("plan.data_files_planned") += planned
    totals("plan.data_files_live") += live
  }

  /** Aggregated traced-run layer metrics. Times are per-operation medians,
    * counts per-operation means, ratios taken over run totals. */
  def layerMetrics: Map[String, Double] = {
    val out = mutable.LinkedHashMap[String, Double]()
    def med(k: String) = samples.get(k).filter(_.nonEmpty).map(s => Stats.median(s.toSeq)).getOrElse(0.0)
    def mean(k: String) = samples.get(k).filter(_.nonEmpty).map(s => s.sum / s.size).getOrElse(0.0)
    val selfNs = tracer.selfTimes
    val planPerOp = tracer.spans.filter(_.name == "iceberg.plan")
      .groupBy(_.op).map { case (_, ss) => ss.map(s => selfNs(s.id)).sum / 1e9 }
    out("plan.self_s") =
      if (planPerOp.isEmpty) 0.0 else Stats.median(planPerOp.toSeq)
    val lookups = totals("plan.cache_hits") + totals("plan.cache_misses")
    out("plan.cache_hit_ratio") = if (lookups > 0) totals("plan.cache_hits") / lookups else 0.0
    out("plan.manifests_decoded") = mean("plan.manifests_decoded")
    out("plan.manifests_pruned") = mean("plan.manifests_pruned")
    out("plan.data_files_planned") = mean("plan.data_files_planned")
    out("plan.delete_files_planned") = mean("plan.delete_files_planned")
    out("plan.file_keep_ratio") =
      if (totals("plan.data_files_live") > 0)
        totals("plan.data_files_planned") / totals("plan.data_files_live") else 0.0
    Seq("analysis", "optimization", "planning").foreach { p =>
      out(s"catalyst.${p}_s") = med(s"catalyst.${p}_s")
    }
    Seq("job_s", "task_run_s", "task_cpu_s", "gc_s", "idle_core_s").foreach { k =>
      out(s"exec.$k") = med(s"exec.$k")
    }
    Seq("tasks", "stages", "input_bytes", "input_records", "shuffle_read_bytes",
      "shuffle_write_bytes", "spill_bytes").foreach { k => out(s"exec.$k") = mean(s"exec.$k") }
    out("exec.core_busy_ratio") =
      if (totals("exec.job_s") > 0) totals("exec.task_run_s") / (totals("exec.job_s") * cores)
      else 0.0
    out("exec.live_row_ratio") =
      if (totals("exec.live_input_records") > 0)
        totals("exec.live_rows") / totals("exec.live_input_records") else 0.0
    Seq("append", "delete", "update", "merge", "delete_equality").foreach { k =>
      out(s"commit.${k}_s") = med(s"commit.${k}_s")
    }
    Seq("job_s", "driver_s").foreach(k => out(s"commit.$k") = med(s"commit.$k"))
    Seq("files_added", "data_bytes", "delete_bytes", "metadata_bytes", "metadata_json_bytes")
      .foreach(k => out(s"commit.$k") = mean(s"commit.$k"))
    out("maint.compact_s") = med("maint.compact_s")
    out("maint.expire_s") = med("maint.expire_s")
    out("maint.bytes_rewritten") = mean("maint.bytes_rewritten")
    samples.keys.filter(_.startsWith("operator.")).foreach(k => out(k) = med(k))
    samples.keys.filter(_.startsWith("probe.")).foreach(k => out(k.stripPrefix("probe.")) = med(k))
    out.toMap
  }

  /** Direct calls into the metadata entry points on a table's final state:
    * metadata.json parse, manifest-list decode, and manifest-entry decode
    * per entry (each a median over repeated calls; nothing here is cached
    * by the engine). */
  def metadataProbes(path: String, reps: Int = 5): Unit = {
    import graft.iceberg.IcebergMetadataParser
    val conf = spark.sessionState.newHadoopConf()
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    (1 to reps).foreach { _ =>
      sample("probe.metadata.parse_s", timed(IcebergMetadataParser.load(path, conf))._2)
    }
    val snap = IcebergMetadataParser.latest(IcebergMetadataParser.load(path, conf), skipSchema = true)
    val manifests = (1 to reps).map { _ =>
      val (ms, t) = timed(ManifestReader.readManifestList(snap.manifestList, conf, snap.formatVersion))
      sample("probe.manifests.list_decode_s", t)
      ms
    }.last
    manifests.take(16).foreach { m =>
      val (es, t) = timed(ManifestReader.readManifestEntries(m.manifestPath, conf, snap.formatVersion))
      if (es.nonEmpty) sample("probe.manifests.entry_decode_us", t * 1e6 / es.size)
    }
  }

  /** Every span, for the run's span file. */
  def spanRows: Seq[Map[String, Any]] = {
    val selfNs = tracer.selfTimes
    tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name, "op" -> s.op,
      "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "self_ns" -> selfNs(s.id)))
  }

  def collectRows(df: DataFrame): Array[org.apache.spark.sql.Row] = exec(df.collect())
}

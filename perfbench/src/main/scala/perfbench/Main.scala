package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.io.{File, PrintWriter}
import scala.collection.mutable

/** What a workload contributes to the harness. */
trait Workload {
  /** Builds the run's tables. Called several times: once before the
    * warm-up round, whose operations use its tables, and the rest after it;
    * the timed loop uses the last one's. */
  def setup(h: Harness, rep: Int): Unit

  /** One round of the closed loop: every operation kind once, in an order
    * and with parameters drawn from the run's seed. */
  def round(h: Harness): Unit

  /** The timed loop runs whole rounds until the run's seconds are up and at
    * least this many rounds are done, so a run's sample count does not
    * flip with small changes in round time. */
  def minRounds: Int = 1

  /** Untimed rounds before the timed loop: the first on the first set-up's
    * tables, the rest on the last set-up's, right before timing starts. */
  def warmupRounds: Int = 1

  /** Direct calls into layer entry points on the final table state, outside
    * the operation loop (traced run only). */
  def probes(h: Harness): Unit = ()

  /** Workload-specific end-to-end figures for the artifact. */
  def extras(h: Harness): Map[String, Double] = Map.empty
}

object Main {
  /** Set-ups per run; setup_s is their median, so the cold first one (class
    * loading, JIT) and a set-up hit by a stall do not move it. */
  val SetupReps = 7

  /** Percentile reported as read_tail_s. Fixed so the metric means the same
    * thing on every commit; the result records the read count, how many
    * reads lie beyond it, and the highest percentile with
    * [[Stats.MinBeyond]] beyond. */
  val TailPct = 0.75

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a.getOrElse("cores", "4").toInt
    val work = a("work")
    Calibration.warmUp(cores)
    val calibrations = mutable.ArrayBuffer[Double]() ++= Calibration.run(cores)
    val tStart = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val spark = GraftSessionsForBench.build(cores, work)
    val sessionS = since(tStart)
    val h = new Harness(spark, traced, seed, work, a("data"), cores)
    val w: Workload = name match {
      case "write_mix" => new WriteMix(h)
      case "operator_suite" => new OperatorSuite(h, a("suite_data"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val initS = since(tStart) - sessionS
    def timedSetup(rep: Int): Double = {
      // every set-up starts from the same collected heap, so a collection
      // of garbage left by earlier work does not land in one of them
      System.gc()
      val t0 = System.nanoTime()
      w.setup(h, rep)
      (System.nanoTime() - t0) / 1e9
    }
    val tSetup = System.nanoTime()
    val firstSetupS = timedSetup(1)
    val tWarm = System.nanoTime()
    // one untimed round on the first set-up's tables: JIT, codegen and the
    // first-execution checks. The later set-ups run warm, so the median
    // set-up does not fall on the JIT's warm-up curve.
    w.round(h)
    val warmS = since(tWarm)
    val tSetup2 = System.nanoTime()
    val setupTimes = firstSetupS +: (2 to SetupReps).map(timedSetup)
    val setupTotalS = (tWarm - tSetup) / 1e9 + since(tSetup2)
    val tWarm2 = System.nanoTime()
    (2 to w.warmupRounds).foreach(_ => w.round(h))
    val warm2S = since(tWarm2)
    calibrations ++= Calibration.mid(cores)
    h.recording = true
    val t0 = System.nanoTime()
    var rounds = 0
    while (rounds < w.minRounds || (System.nanoTime() - t0) / 1e9 < seconds) {
      w.round(h)
      rounds += 1
      calibrations ++= Calibration.mid(cores)
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    h.recording = false
    val heapMb = retainedHeapMb()
    if (traced) w.probes(h)
    val sparkVersion = spark.version
    val master = spark.sparkContext.master
    val workloadExtras = w.extras(h)
    spark.stop()
    calibrations ++= Calibration.run(cores)

    val reads = h.ops.filter(!_.write).map(_.seconds).toSeq
    val writes = h.ops.filter(_.write).map(_.seconds).toSeq
    val byKind = h.ops.groupBy(_.kind)
    val readKindMedians = byKind.values.filter(!_.head.write)
      .map(rs => Stats.median(rs.map(_.seconds).toSeq)).toSeq
    // median-weighted throughput: every operation at its kind's median
    // latency, so one stalled operation cannot swing the figure and a
    // faster kind always raises it
    val medianTime = byKind.values.map(rs => rs.size * Stats.median(rs.map(_.seconds).toSeq)).sum
    // seconds at the machine's reference speed: the run's figures scaled by
    // how much slower than that the calibration kernel ran in this run
    val calibrationS = Stats.median(calibrations.toSeq)
    val speed = Calibration.RefS / calibrationS
    val setupRaw = Stats.median(setupTimes)
    val readRaw = Stats.geoMean(readKindMedians)
    val opsRaw = h.ops.size / medianTime
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupRaw * speed,
      "read_p50_s" -> readRaw * speed,
      "ops_per_s" -> opsRaw / speed,
      "heap_retained_mb" -> heapMb)
    val extra = mutable.LinkedHashMap[String, Double](
      "calibration_s" -> calibrationS,
      "setup_raw_s" -> setupRaw, "read_p50_raw_s" -> readRaw, "ops_per_raw_s" -> opsRaw,
      "read_tail_s" -> Stats.percentile(reads, TailPct) * speed)
    if (writes.nonEmpty) {
      extra("write_p50_s") = Stats.median(writes) * speed
      extra("write_tail_s") = Stats.percentile(writes, TailPct) * speed
    }
    extra("failed_ops_ratio") = h.ops.count(!_.ok).toDouble / h.ops.size
    extra ++= workloadExtras
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "attempted" -> h.ops.size, "failed" -> h.ops.count(!_.ok),
      "failures" -> h.failures.take(20),
      "e2e" -> e2e, "e2e_extra" -> extra,
      "tail" -> Map("percentile" -> TailPct, "read_samples" -> reads.size,
        "beyond" -> Stats.beyond(reads.size, TailPct),
        "supported" -> (Stats.beyond(reads.size, TailPct) >= Stats.MinBeyond),
        "highest_supported" -> Stats.tailPercentile(reads.size)),
      "setup_reps_s" -> setupTimes,
      "calibrations_s" -> calibrations,
      "loop_s" -> loopS, "rounds" -> rounds,
      "phases_s" -> Map("session" -> sessionS, "init" -> initS, "setup" -> setupTotalS,
        "warmup" -> (warmS + warm2S), "loop" -> loopS, "total_before_write" -> since(tStart)),
      "ops" -> h.ops.map(o => Seq(o.kind, o.seconds, o.ok)),
      "ops_by_kind" -> byKind.map { case (k, rs) =>
        k -> Map("n" -> rs.size, "p50_s" -> Stats.median(rs.map(_.seconds).toSeq),
          "failed" -> rs.count(!_.ok))
      },
      "env" -> Map("spark_version" -> sparkVersion, "master" -> master,
        "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jdk" -> System.getProperty("java.version"), "cores" -> cores))
    if (traced) result("layers") = h.layerMetrics
    writeFile(a("out"), json.writeValueAsString(result))
    if (traced) writeFile(a("spans"), h.spanRows.map(json.writeValueAsString).mkString("\n"))
  }

  private def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    // Spark's ContextCleaner drops unreachable broadcasts and shuffles only
    // after a GC has enqueued them, so collect, let it run, collect again
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
  }

  /** Renders the result and span files. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeFile(path: String, s: String): Unit = {
    new File(path).getAbsoluteFile.getParentFile.mkdirs()
    val w = new PrintWriter(path, "UTF-8")
    try w.println(s) finally w.close()
  }
}

/** The engine's standard session plus benchmark-only settings: all scratch
  * space inside the run's work directory, and Spark's status store kept
  * small so retained heap does not grow with the number of operations. */
object GraftSessionsForBench {
  def build(cores: Int, work: String): SparkSession = {
    val spark = graft.GraftSessions.builder(s"local[$cores]", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "200")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

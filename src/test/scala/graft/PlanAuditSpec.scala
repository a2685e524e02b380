package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the properties that make these queries survive a
  * 100× scale-up are asserted here, not just eyeballed —
  *  - selective filters reach the parquet scan (PushedFilters),
  *  - scans read only the projected columns (ReadSchema pruning),
  *  - small dimension sides broadcast instead of shuffling the fact table,
  *  - similarity ops join on LSH keys with NO cartesian/nested-loop pair
  *    explosion anywhere in the plan,
  *  - hot relational paths stay inside whole-stage codegen.
  */
class PlanAuditSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val Sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession =
    GraftSessions.builder("local[4]", "4").appName("graft-plans").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def plan(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, Sf).queryExecution.executedPlan

  private def planString(name: String): String = plan(name).toString

  test("iceberg reads: every file-source leaf is manifest-seeded " +
      "(ManifestFileIndex, never a re-statting InMemoryFileIndex)") {
    // VERDICT r13 #5: the zero-stat planning property lives in dedicated
    // specs; this central pin makes sure no refactor silently
    // re-introduces InMemoryFileIndex (an O(files) storage round-trip at
    // every cold plan) on any relation-construction site — plain scans,
    // MoR with position deletes, and v2 generated tables all route
    // through the manifest-seeded index.
    import org.apache.spark.sql.execution.FileSourceScanExec
    def leaves(p: SparkPlan): Seq[FileSourceScanExec] =
      PlanWalk.collect(p) { case f: FileSourceScanExec => f }
    for (q <- Seq("ib01_scan_latest_count", "ib10_scan_mor_deletes",
        "ib34_scan_v2_generated")) {
      val scans = leaves(plan(q))
      assert(scans.nonEmpty, s"$q: expected file-source leaves")
      scans.foreach { f =>
        assert(f.relation.location.isInstanceOf[graft.iceberg.ManifestFileIndex],
          s"$q: leaf ${f.nodeName} uses ${f.relation.location.getClass.getName}" +
            " — Iceberg reads must plan from manifest-recorded sizes")
      }
    }
  }

  test("q06: filters are pushed into the parquet scan") {
    val p = planString("q06_revenue_filter_agg")
    assert(p.contains("PushedFilters:"), p.take(2000))
    val pushed = p.linesIterator.filter(_.contains("PushedFilters:")).mkString
    assert(pushed.contains("l_shipdate"), pushed)
    assert(pushed.contains("GreaterThanOrEqual") || pushed.contains("LessThan"), pushed)
  }

  test("q06: scan reads only the columns the query needs") {
    val p = planString("q06_revenue_filter_agg")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema:")).mkString
    // 4 referenced columns out of lineitem's 16
    assert(readSchema.contains("l_shipdate") && readSchema.contains("l_discount") &&
           readSchema.contains("l_extendedprice") && readSchema.contains("l_quantity"), readSchema)
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_orderkey"), readSchema)
  }

  test("q03: dimension side broadcasts (no shuffle of the fact table for the join)") {
    val p = planString("q03_join_broadcast_agg")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q04: all dimension joins broadcast") {
    val p = planString("q04_multi_join_revenue")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("similarity ops have no cartesian or broadcast-nested-loop pair explosion") {
    for (q <- Seq("d02_minhash_lsh_pairs", "d04_jaccard_pairs", "d05_embedding_neardup")) {
      val p = planString(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
  }

  test("q29: the range join runs as an equi-bucket hash join, never a nested loop") {
    val p = planString("q29_range_bucket_join")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the day bucket is the join key; the range condition is the residual
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p.take(2000))
  }

  test("relational aggregation stays inside whole-stage codegen") {
    // AQE prints codegen stages only in the FINAL plan, so execute first.
    val df = SparkEntry.queries("q01_pricing_summary")(spark, Sf)
    df.collect() // runs THIS QueryExecution so AQE finalizes its plan
    val p = df.queryExecution.executedPlan.toString
    // "*(n) HashAggregate" = the aggregate runs inside codegen stage n
    assert(p.contains("*(1) HashAggregate") || p.contains("*(2) HashAggregate"),
      p.take(2000))
  }

  test("t08: the per-language rate table broadcasts — the corpus never " +
       "shuffles for the rebalance decision") {
    val df = SparkEntry.queries("t08_balanced_sample")(spark, Sf)
    df.collect() // finalize AQE
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("e05: funnel stage joins carry NO forced broadcast of the unbounded " +
       "per-user sides (the logical plan has no hints; AQE may still " +
       "broadcast small sides at runtime)") {
    val df = SparkEntry.queries("e05_funnel")(spark, Sf)
    // A user-authored broadcast() survives analysis as ResolvedHint /
    // UnresolvedHint in the logical plans — that's the scale-killer we
    // banned: it forces O(distinct users) through the driver regardless
    // of corpus size. Runtime BroadcastHashJoin chosen by AQE from
    // observed sizes is fine and NOT asserted against.
    assert(!df.queryExecution.analyzed.toString.contains("ResolvedHint"),
      df.queryExecution.analyzed.toString.take(2000))
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("e06: no cartesian/nested-loop anywhere in the retention plan") {
    val p = planString("e06_retention")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("iceberg scan: user filters push into the underlying parquet scan") {
    import org.apache.spark.sql.functions._
    val df = graft.iceberg.IcebergScan.scan(
      spark, "/root/reference/data/iceberg/lineitem_iceberg",
      graft.iceberg.IcebergScan.Options(allowMovedPaths = true))
      .filter(col("l_quantity") < 5).select("l_orderkey", "l_quantity")
    val p = df.queryExecution.executedPlan.toString
    val pushed = p.linesIterator.filter(_.contains("PushedFilters:")).mkString
    assert(pushed.contains("l_quantity"), p.take(2000))
  }

  test("pruned scan: the residual predicate is ALSO pushed into parquet " +
       "(file skipping and row-group skipping compose)") {
    import graft.iceberg.IcebergPruning.{ColPredicate, Le}
    import org.apache.spark.sql.functions._
    val table = java.nio.file.Files
      .createTempDirectory("graft_pa_").toString + "/t"
    val li = Tables.load(spark, Sf, "lineitem").repartitionByRange(4, col("l_orderkey"))
    graft.iceberg.IcebergWriter.write(li, table)
    val df = graft.iceberg.IcebergScan.scan(spark, table,
      graft.iceberg.IcebergScan.Options(
        filters = Seq(ColPredicate("l_orderkey", Le, 10L))))
    val p = df.queryExecution.executedPlan.toString
    val pushed = p.linesIterator.filter(_.contains("PushedFilters:")).mkString
    assert(pushed.contains("l_orderkey") &&
           (pushed.contains("LessThanOrEqual") || pushed.contains("LessThan")), pushed)
  }

  test("MoR scans: position and equality deletes subtract via hash ANTI joins " +
       "(the reference asserts the same shape, …0_001.test:110-114)") {
    import org.apache.spark.sql.functions._
    // position deletes: the reference's generated MoR table
    val pos = graft.iceberg.IcebergScan.scan(
      spark, "/root/reference/data/iceberg/generated_spec2_0_001/pyspark_iceberg_table",
      graft.iceberg.IcebergScan.Options(allowMovedPaths = true))
    // (position deletes apply through the per-file graft_dv_alive
    // filter, not a join)
    val pPos = pos.queryExecution.executedPlan.toString
    assert(pPos.contains("graft_dv_alive") && !pPos.contains("Join"), pPos.take(3000))
    assert(!pPos.contains("CartesianProduct") && !pPos.contains("BroadcastNestedLoopJoin"))

    // equality deletes: our own writer's output
    val table = java.nio.file.Files
      .createTempDirectory("graft_pa2_").toString + "/t"
    val nation = Tables.load(spark, Sf, "nation")
    graft.iceberg.IcebergWriter.write(nation, table)
    graft.iceberg.IcebergWriter.deleteEquality(spark, table,
      nation.filter(col("n_nationkey") < 5).select("n_nationkey"))
    // (broadcast-sized equality deletes apply through the per-file
    // graft_dv_alive filter, not a join)
    val eq = graft.iceberg.IcebergScan.scan(spark, table)
    val pEq = eq.queryExecution.executedPlan.toString
    assert(pEq.contains("graft_dv_alive") && !pEq.contains("Join"), pEq.take(3000))
    assert(!pEq.contains("CartesianProduct") && !pEq.contains("BroadcastNestedLoopJoin"))
  }

  test("p03: the packing cumsum windows over (source, shard), never one " +
       "global partition, and the pack rollup keeps map-side partial aggregation") {
    val p = planString("p03_sequence_packing")
    // the Window node must partition by BOTH source and shard — a
    // missing shard key would funnel each source through one task
    val windowLine = p.linesIterator.filter(_.contains("Window")).mkString
    assert(windowLine.contains("source") && windowLine.contains("shard"), windowLine)
    // two-phase hash aggregation (partial before the exchange)
    assert(p.contains("partial_"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("p04: the mixing explode is shuffle-free before the audit " +
       "aggregation — one exchange total, no join anywhere") {
    val p = planString("p04_source_mixing")
    assert(!p.contains("Join"), p.take(3000))
    // generate(explode) feeds a partial aggregate; the only exchange is
    // the final groupBy's hash partitioning (+ the orderBy's range)
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"expected 1 hash exchange, got $exchanges:\n${p.take(3000)}")
    assert(p.contains("Generate explode") || p.contains("Generate"), p.take(2000))
  }

  test("migrated (name-mapped) tables: filters still push into the parquet scan") {
    import org.apache.spark.sql.functions._
    val source = java.nio.file.Files.createTempDirectory("graft_pa3_src_").toString
    Tables.load(spark, Sf, "orders").write.mode("overwrite").parquet(source)
    val table = java.nio.file.Files
      .createTempDirectory("graft_pa3_").toString + "/t"
    graft.iceberg.IcebergWriter.addFiles(spark, table, source)
    val df = graft.iceberg.IcebergScan.scan(spark, table)
      .filter(col("o_totalprice") > 100000.0)
      .select("o_orderkey", "o_totalprice")
    val p = df.queryExecution.executedPlan.toString
    val pushed = p.linesIterator.filter(_.contains("PushedFilters:")).mkString
    assert(pushed.contains("o_totalprice"), p.take(3000))
    val read = p.linesIterator.filter(_.contains("ReadSchema:")).mkString
    assert(!read.contains("o_comment") && !read.contains("o_orderdate"), read)
  }

  test("t11: the token-frequency join is a hash join with partial aggregation " +
      "(no broadcast of an unbounded vocabulary, no pair explosion)") {
    val p = planString("t11_rare_token_score")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // the frequency side aggregates map-side BEFORE its shuffle (partial
    // then final HashAggregate) — the skew-safety of the design
    assert(p.contains("HashAggregate"), p.take(3000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("e08: one window per user partition, then a bounded hash aggregation") {
    val p = planString("e08_event_transitions")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("Window"), p.take(3000))
    assert(p.contains("HashAggregate"), p.take(3000))
  }
}

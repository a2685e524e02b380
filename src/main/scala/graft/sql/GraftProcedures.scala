package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.iceberg.IcebergWriter

import java.util

/** SQL `CALL` procedures (Spark 4 DSv2 `ProcedureCatalog`) — the
  * maintenance/ref surface as native statements on the catalog, the same
  * shape Iceberg's own Spark integration exposes:
  *
  * {{{
  *   CALL graft.system.expire_snapshots(`table` => 'db.t', keep => 3)
  *   CALL graft.system.rollback_to_snapshot('db.t', 123456789L)
  *   CALL graft.system.rewrite_data_files('db.t')
  *   CALL graft.system.create_tag('db.t', 'v1.0')
  *   CALL graft.system.remove_orphan_files('db.t', older_than_ms => ...)
  * }}}
  *
  * Every procedure takes the TABLE as a catalog-relative dotted name and
  * runs through the owning catalog's write context ([[Ops]]) — on a rest
  * backend the metadata commit POSTs back through the catalog like any
  * other write. Each underlying operation is the engine's existing
  * maintenance commit (same code the `iceberg_*` TVF procedures run). */
object GraftProcedures {

  /** What the owning catalog provides: resolve a catalog-relative table
    * name and run a writer op against its root, committing through the
    * catalog when one manages the table. */
  trait Ops {
    def withTableWrite[A](spark: SparkSession, table: String)(op: String => A): A
    /** Root resolution WITHOUT a catalog commit — for operations that
      * touch storage but never move table metadata (orphan-file
      * removal); a commitThrough wrapper there would POST an empty
      * commit that can spuriously 409 against concurrent writers. */
    def withTableRead[A](spark: SparkSession, table: String)(op: String => A): A
  }

  private final case class Param(
      name: String, dataType: DataType, defaultSql: Option[String] = None,
      comment: String = "")

  /** Typed access to the bound-argument row (aligned to the declared
    * parameter order, defaults applied by the analyzer). */
  private final class Args(row: InternalRow, params: Seq[Param]) {
    private val idx = params.iterator.map(_.name).zipWithIndex.toMap
    private def at(name: String): Int = idx.getOrElse(name,
      throw new IllegalArgumentException(s"unknown parameter $name"))
    def isNull(name: String): Boolean = row.isNullAt(at(name))
    def str(name: String): String = row.getUTF8String(at(name)).toString
    def strOpt(name: String): Option[String] =
      if (isNull(name)) None else Some(str(name))
    def longOpt(name: String): Option[Long] =
      if (isNull(name)) None
      else Some(params(at(name)).dataType match {
        case IntegerType => row.getInt(at(name)).toLong
        case _ => row.getLong(at(name))
      })
    def boolOr(name: String, dflt: Boolean): Boolean =
      if (isNull(name)) dflt else row.getBoolean(at(name))
  }

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)
  private def row(vals: Any*): InternalRow =
    new GenericInternalRow(vals.toArray)

  private final case class ProcDef(
      name: String, description: String, params: Seq[Param],
      resultSchema: StructType,
      run: (SparkSession, Ops, Args) => Seq[InternalRow])

  private val TableParam =
    Param("table", StringType, comment = "catalog-relative name, e.g. 'db.t'")

  private val defs: Seq[ProcDef] = Seq(
    ProcDef("expire_snapshots",
      "expire old snapshots (exactly one of keep / older_than_ms)",
      Seq(TableParam,
        Param("keep", IntegerType, Some("NULL")),
        Param("older_than_ms", LongType, Some("NULL"))),
      StructType(Seq(StructField("deleted_snapshots_count", LongType))),
      (s, ops, a) => {
        val n = ops.withTableWrite(s, a.str("table")) { p =>
          (a.longOpt("keep"), a.longOpt("older_than_ms")) match {
            case (Some(k), None) => IcebergWriter.expireSnapshots(s, p, k.toInt)
            case (None, Some(ms)) => IcebergWriter.expireSnapshotsOlderThan(s, p, ms)
            case _ => throw new IllegalArgumentException(
              "expire_snapshots: pass exactly one of keep / older_than_ms")
          }
        }
        Seq(row(n.toLong))
      }),
    ProcDef("rollback_to_snapshot", "make an older snapshot current again",
      Seq(TableParam, Param("snapshot_id", LongType)),
      StructType(Seq(StructField("current_snapshot_id", LongType))),
      (s, ops, a) => {
        val id = a.longOpt("snapshot_id").get
        ops.withTableWrite(s, a.str("table"))(p => IcebergWriter.rollback(s, p, id))
        Seq(row(id))
      }),
    ProcDef("rewrite_data_files",
      "compact small files (binpack) or recluster (sort)",
      Seq(TableParam,
        Param("strategy", StringType, Some("'binpack'")),
        Param("target_file_size_bytes", LongType, Some("NULL"))),
      StructType(Seq(StructField("rewritten_snapshot_id", LongType, nullable = true))),
      (s, ops, a) => {
        val out = ops.withTableWrite(s, a.str("table")) { p =>
          IcebergWriter.rewriteDataFiles(s, p,
            targetFileSize = a.longOpt("target_file_size_bytes")
              .getOrElse(128L * 1024 * 1024),
            strategy = a.str("strategy"))
        }
        Seq(row(out.map(Long.box).orNull))
      }),
    ProcDef("rewrite_position_delete_files",
      "compact the MoR delete side (shrinks what every scan's delete filter reads)",
      Seq(TableParam),
      StructType(Seq(StructField("rewritten_snapshot_id", LongType, nullable = true))),
      (s, ops, a) => Seq(row(ops.withTableWrite(s, a.str("table"))(p =>
        IcebergWriter.rewritePositionDeleteFiles(s, p)).map(Long.box).orNull))),
    ProcDef("rewrite_equality_deletes",
      "convert accumulated equality deletes to position tombstones " +
        "(bounds the per-scan delete set a CDC mirror accrues per epoch)",
      Seq(TableParam),
      StructType(Seq(StructField("rewritten_snapshot_id", LongType, nullable = true))),
      (s, ops, a) => Seq(row(ops.withTableWrite(s, a.str("table"))(p =>
        IcebergWriter.rewriteEqualityDeletes(s, p)).map(Long.box).orNull))),
    ProcDef("rewrite_manifests", "merge small manifests for planning I/O",
      Seq(TableParam),
      StructType(Seq(StructField("rewritten_snapshot_id", LongType, nullable = true))),
      (s, ops, a) => Seq(row(ops.withTableWrite(s, a.str("table"))(p =>
        IcebergWriter.rewriteManifests(s, p)).map(Long.box).orNull))),
    ProcDef("remove_orphan_files",
      "delete (or list, dry_run) unreferenced files older than the cutoff",
      Seq(TableParam, Param("older_than_ms", LongType),
        Param("dry_run", BooleanType, Some("false"))),
      StructType(Seq(StructField("orphan_file", StringType))),
      (s, ops, a) => {
        // storage-only: no metadata commit, so no catalog round-trip
        val df = ops.withTableRead(s, a.str("table"))(p =>
          IcebergWriter.removeOrphanFiles(s, p,
            a.longOpt("older_than_ms").get, dryRun = a.boolOr("dry_run", false)))
        df.collect().map(r => row(utf8(r.getString(0)))).toSeq
      }),
    ProcDef("create_tag", "tag a snapshot (default: current main head)",
      Seq(TableParam, Param("name", StringType),
        Param("snapshot_id", LongType, Some("NULL"))),
      StructType(Seq(StructField("ref", StringType))),
      (s, ops, a) => {
        ops.withTableWrite(s, a.str("table"))(p =>
          IcebergWriter.createTag(s, p, a.str("name"), at = a.longOpt("snapshot_id")))
        Seq(row(utf8(a.str("name"))))
      }),
    ProcDef("create_branch", "branch from a snapshot (default: main head)",
      Seq(TableParam, Param("name", StringType),
        Param("snapshot_id", LongType, Some("NULL"))),
      StructType(Seq(StructField("ref", StringType))),
      (s, ops, a) => {
        ops.withTableWrite(s, a.str("table"))(p =>
          IcebergWriter.createBranch(s, p, a.str("name"), at = a.longOpt("snapshot_id")))
        Seq(row(utf8(a.str("name"))))
      }),
    ProcDef("drop_ref", "drop a branch or tag",
      Seq(TableParam, Param("name", StringType)),
      StructType(Seq(StructField("ref", StringType))),
      (s, ops, a) => {
        ops.withTableWrite(s, a.str("table"))(p =>
          IcebergWriter.dropRef(s, p, a.str("name")))
        Seq(row(utf8(a.str("name"))))
      }),
    ProcDef("fast_forward", "move main (or a branch) to another ref's head",
      Seq(TableParam, Param("source", StringType),
        Param("branch", StringType, Some("'main'"))),
      StructType(Seq(StructField("ref", StringType))),
      (s, ops, a) => {
        ops.withTableWrite(s, a.str("table"))(p =>
          IcebergWriter.fastForward(s, p, a.str("source"),
            branch = a.strOpt("branch").getOrElse("main")))
        Seq(row(utf8(a.strOpt("branch").getOrElse("main"))))
      }),
    ProcDef("analyze", "record per-column NDV sketches (broadcast costing)",
      Seq(TableParam, Param("columns", StringType, Some("NULL"))),
      StructType(Seq(
        StructField("column", StringType), StructField("ndv", LongType))),
      (s, ops, a) => {
        val cols = a.strOpt("columns")
          .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq.empty)
        val out = ops.withTableWrite(s, a.str("table"))(p =>
          IcebergWriter.analyze(s, p, cols))
        out.toSeq.sortBy(_._1).map { case (c, n) => row(utf8(c), n) }
      })
  )

  private val byName: Map[String, ProcDef] = defs.map(d => d.name -> d).toMap

  def names: Seq[String] = defs.map(_.name)

  def load(name: String, ops: Ops): Option[UnboundProcedure] =
    byName.get(name.toLowerCase).map(d => new UnboundProcedure {
      override def name(): String = d.name
      override def description(): String = d.description
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = d.name
        override def description(): String = d.description
        override def isDeterministic: Boolean = false
        override def parameters(): Array[ProcedureParameter] =
          d.params.map { p =>
            val b = ProcedureParameter.in(p.name, p.dataType)
            p.defaultSql.foreach(b.defaultValue)
            if (p.comment.nonEmpty) b.comment(p.comment)
            b.build()
          }.toArray
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val spark = SparkSession.active
          val resultRows = d.run(spark, ops, new Args(input, d.params)).toArray
          util.List.of[Scan](new LocalScan {
            override def rows(): Array[InternalRow] = resultRows
            override def readSchema(): StructType = d.resultSchema
            override def description(): String = s"graft-procedure ${d.name}"
          }).iterator()
        }
      }
    })
}

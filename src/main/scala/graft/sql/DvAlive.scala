package graft.sql

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{TypeCheckResult, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.connector.read.PartitionReaderFactory
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration

import graft.iceberg.ConfBroadcast

/** One equality-delete file as both readers ship it: coordinates only.
  * `part` names the partition it is scoped to (equal to the data files'
  * `FileDeletes.part` it reaches), -1 when it reaches every partition. */
final case class EqDeleteFile(path: String, size: Long, seq: Long, part: Int)

/** One key-column set of equality deletes as the driver plans it: the key
  * columns as the snapshot schema types them (with field ids) and its
  * pools as (key read schema, files) — every pool shares the key types. */
final case class EqDeleteGroup(keySchema: StructType, pools: Seq[(StructType, Seq[EqDeleteFile])])

/** Equality-delete files of one key-column set that share one read
  * schema (field-id keyed, or name keyed for legacy id-less files). The
  * reader factory sits outside case-class equality, so two scans of the
  * same snapshot still compare equal (plan reuse, cache lookups). */
final case class EqDeletePool(keySchema: StructType, files: Seq[EqDeleteFile])(
    val factory: PartitionReaderFactory)

/** What may delete rows of one data file, as the one driver-side planner
  * (`IcebergScan.planDeletes`) assigns it for both read paths: its
  * deletion vector, its data sequence number, its partition id `part`
  * (-1 when no equality delete is partition-scoped), the equality-delete
  * groups whose key bounds may match the file, its MANIFEST-recorded path
  * `rawPath` (the domain of the position-delete files' `file_path`
  * column) and the v2 parquet position-delete files that may reference
  * it, as (path, length) — none when the file has a DV, which is the
  * whole truth for its file. Which of a group's files apply is decided on
  * the executor ([[DeleteLoader.keys]]): those with a sequence number
  * strictly above `seq`, global or scoped to `part`. */
final case class FileDeletes(
    dv: Option[GraftKeyedScan.DvRef], seq: Long, part: Int, groups: Seq[Int],
    rawPath: String, pos: Seq[(String, Long)])

/** The executor-side spec of both readers: one entry per affected data
  * file plus the equality-delete pools. `files` is keyed by the qualified
  * data-file URI (the `_metadata.file_path` domain) for the spliced
  * scan's filter, where a file absent from it passes every row; the keyed
  * scan leaves it empty, each split carrying its file's entry. `groups(g)`
  * are the pools of key-column set g. The position-delete reader factory
  * sits outside case-class equality like a pool's. */
final case class DeleteSpec(files: Map[String, FileDeletes], groups: Seq[Seq[EqDeletePool]])(
    val posFactory: PartitionReaderFactory) {
  // computed once: Catalyst hashes plan expressions repeatedly, and the
  // spec holds an entry per affected data file
  @transient private lazy val hash = scala.util.hashing.MurmurHash3.productHash(this)
  override def hashCode(): Int = hash
}

object DeleteSpec {
  /** The spec with its reader factories; `positional` = some data file
    * may carry position-delete files. */
  def build(spark: SparkSession, files: Map[String, FileDeletes],
            groups: Seq[EqDeleteGroup], positional: Boolean): DeleteSpec =
    DeleteSpec(files, groups.map(_.pools.map { case (schema, fs) =>
      EqDeletePool(schema, fs)(ParquetReaders.factory(spark, schema, schema))
    }))(if (positional) PosDeleteCache.factory(spark) else null)
}

/** The executor side of a [[DeleteSpec]], the one loader of both readers:
  * the spliced scan's [[DvAlive]] filter calls it per data file, the keyed
  * scan's reader per split. Positions come from [[DvPositionCache]] or
  * [[PosDeleteCache]], keys from [[EqDeleteKeyCache]]; each file is read
  * once per executor. The v3 commit (`IcebergWriter`) loads a file's
  * prior positions through it too, so a new deletion vector merges
  * exactly the deletes the readers apply. */
private[graft] object DeleteLoader {

  /** `fd`'s sorted deleted positions — its DV, else its position-delete
    * files — or null when none apply. Cached: never mutate the array. */
  def deleted(spec: DeleteSpec, fd: FileDeletes,
              conf: => org.apache.hadoop.conf.Configuration): Array[Long] =
    fd.dv.map(DvPositionCache.load(_, conf)).getOrElse {
      if (fd.pos.isEmpty) null
      else PosDeleteCache.load(fd.pos.toArray, fd.rawPath, spec.posFactory)
    }

  /** A cursor over [[deleted]], or null when none apply. */
  private[sql] def positions(spec: DeleteSpec, fd: FileDeletes,
                             conf: => org.apache.hadoop.conf.Configuration): PositionCursor = {
    val ps = deleted(spec, fd, conf)
    if (ps == null) null else new PositionCursor(ps)
  }

  /** Union of group g's keys that reach a data file of sequence `seq` in
    * partition `part`: files with a greater sequence, global or scoped to
    * `part`. Null when none. */
  private[sql] def keys(spec: DeleteSpec, g: Int, seq: Long, part: Int): java.util.HashSet[InternalRow] = {
    val sets = spec.groups(g).flatMap { pool =>
      val fs = pool.files.filter(f => f.seq > seq && (f.part < 0 || f.part == part))
      if (fs.isEmpty) None
      else Some(EqDeleteKeyCache.load(
        fs.map(f => (f.path, f.size)).toArray, pool.factory, pool.keySchema))
    }.filterNot(_.isEmpty)
    if (sets.isEmpty) null
    else if (sets.size == 1) sets.head
    else {
      val u = new java.util.HashSet[InternalRow](sets.map(_.size).sum * 2)
      sets.foreach(s => u.addAll(s): Unit)
      u
    }
  }
}

/** Per-task cursor state for [[DvAlive]] — one per generated codegen
  * object (i.e. per task), re-seated whenever the row's file changes.
  * Top-level class so codegen can name it. */
final class DvAliveState(groupCount: Int) {
  /** The last row's file value as passed in, and a copy of its bytes. */
  var lastRef: UTF8String = null
  var lastFile: UTF8String = null
  /** The current file's deleted positions, or null when none apply. */
  var cursor: PositionCursor = null
  /** Per group: the keys deleting rows of the current file, or null. */
  val keys = new Array[java.util.HashSet[InternalRow]](groupCount)
  var anyKeys: Boolean = false
  /** (group, data sequence, partition) → applicable key set; null when
    * none apply. */
  val bySeq = new java.util.HashMap[(Int, Long, Int), java.util.HashSet[InternalRow]]()
  /** Interpreted path only: per-group probe projections. */
  var keyProj: Array[UnsafeProjection] = null
}

/** `graft_dv_alive(file, pos, keys…)` — TRUE iff row `pos` of data file
  * `file` survives the snapshot's row deletes that reach it — its
  * deletion vector or v2 parquet position deletes, and equality deletes:
  * the one merge-on-read filter of the spliced scan.
  *
  * Applying them here, not by joins, keeps a deleted read at the two
  * Spark jobs of a clean one: a (file, pos) or key anti join per delete
  * kind cost four to six, and hashed a path string per data row.
  *
  * The driver ships only coordinates ([[DeleteSpec]]), planned by the
  * one delete assignment both read paths share (`IcebergScan.planDeletes`):
  * per affected data file its [[FileDeletes]]; per equality-delete file
  * its path, length, sequence number and partition scope. On the first
  * row of a file the expression loads, through [[DeleteLoader]] (the
  * keyed reader's loader too), the file's deleted positions — from its DV
  * through [[DvPositionCache]], else from its position-delete files
  * through [[PosDeleteCache]] — and per group the union of the keys that
  * reach the file, each delete file read once per executor through
  * [[EqDeleteKeyCache]]. Per row: one [[PositionCursor]] step,
  * then, only in files some equality delete reaches, one UnsafeRow set
  * lookup per group. Keys compare byte-wise after float normalization
  * (-0.0 = 0.0, one NaN), which is the anti join's null-safe `<=>` under
  * Spark's join-key normalization; nulls match nulls.
  *
  * Children: the file URI, the row position (null on ORC, which carries
  * no positional deletes), then each group's key columns cast to its key
  * types. The executor-side blob reads take the session Hadoop conf from
  * its one cached broadcast ([[ConfBroadcast]]): the
  * expression itself ships only the broadcast's handle.
  */
case class DvAlive(
    children: Seq[Expression], spec: DeleteSpec,
    conf: Broadcast[SerializableConfiguration])
    extends Expression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    (children.head.dataType, children(1).dataType) match {
      case (StringType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_dv_alive requires (string, bigint, keys…) arguments, got $other")
    }

  /** Each group's key children, in group order. */
  @transient private lazy val keyExprs: Seq[Seq[Expression]] = {
    val arity = spec.groups.map(_.head.keySchema.size)
    arity.indices.map { g =>
      val from = 2 + arity.take(g).sum
      children.slice(from, from + arity(g))
    }
  }

  /** Re-seat the state on the first row of a file, then apply its
    * deleted positions. Leaves `st.keys` holding the key sets the row
    * must also miss. */
  def fileAlive(st: DvAliveState, file: UTF8String, posNull: Boolean, pos: Long): Boolean = {
    // a scan hands every row of a batch one file-path object (a constant
    // column) and other values a fresh object per row, so the same object
    // is the same file: compare bytes only when the object changes
    if (file ne st.lastRef) {
      if (st.lastFile == null || !st.lastFile.equals(file)) enter(st, file)
      st.lastRef = file
    }
    st.cursor == null || posNull || !st.cursor.deleted(pos)
  }

  private def enter(st: DvAliveState, file: UTF8String): Unit = {
    // the incoming UTF8String may view a reused buffer — copy the key
    st.lastFile = if (file == null) null else file.clone()
    val fd = if (file == null) null else spec.files.getOrElse(file.toString, null)
    st.cursor = if (fd == null) null else DeleteLoader.positions(spec, fd, conf.value.value)
    java.util.Arrays.fill(st.keys.asInstanceOf[Array[AnyRef]], null)
    st.anyKeys = false
    if (fd != null) fd.groups.foreach { g =>
      val memo = (g, fd.seq, fd.part)
      if (!st.bySeq.containsKey(memo))
        st.bySeq.put(memo, DeleteLoader.keys(spec, g, fd.seq, fd.part))
      val s = st.bySeq.get(memo)
      st.keys(g) = s
      st.anyKeys |= s != null
    }
  }

  // interpreted path (codegen-disabled sessions): per-thread state —
  // within a thread rows arrive partition-sequential, and both the
  // file-change reset and the backward-jump re-seek keep it exact
  // across partition boundaries
  @transient private lazy val tlState =
    ThreadLocal.withInitial[DvAliveState](() => new DvAliveState(spec.groups.size))

  override def eval(input: InternalRow): Any = {
    val st = tlState.get()
    val pos = children(1).eval(input)
    val alive = fileAlive(st, children.head.eval(input).asInstanceOf[UTF8String],
      pos == null, if (pos == null) -1L else pos.asInstanceOf[Long])
    if (!alive || !st.anyKeys) return alive
    if (st.keyProj == null)
      st.keyProj = keyExprs.map(EqDeleteKeyCache.probeProjection).toArray
    var g = 0
    while (g < st.keys.length) {
      val s = st.keys(g)
      if (s != null && s.contains(st.keyProj(g)(input))) return false
      g += 1
    }
    true
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("dvAlive", this, classOf[DvAlive].getName)
    val stCls = classOf[DvAliveState].getName
    val st = ctx.addMutableState(stCls, "dvAliveState",
      v => s"$v = new $stCls(${spec.groups.size});")
    val file = children.head.genCode(ctx)
    val pos = children(1).genCode(ctx)
    // key rows are built only for rows of files an equality delete reaches
    val probes = keyExprs.zipWithIndex.map { case (ks, g) =>
      val key = GenerateUnsafeProjection.createCode(ctx, EqDeleteKeyCache.normalized(ks))
      s"""
         |if (${ev.value} && $st.keys()[$g] != null) {
         |  ${key.code}
         |  ${ev.value} = !$st.keys()[$g].contains(${key.value});
         |}""".stripMargin
    }
    ev.copy(code = code"""
      ${file.code}
      ${pos.code}
      boolean ${ev.value} = $self.fileAlive($st,
        ${file.isNull} ? null : ${file.value}, ${pos.isNull}, ${pos.value});
      if (${ev.value} && $st.anyKeys()) {
        ${probes.mkString("\n")}
      }""", isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DvAlive = copy(children = newChildren)

  override def prettyName: String = "graft_dv_alive"

  // plan strings carry a summary, not the per-file spec
  override def toString: String =
    s"$prettyName(${children.mkString(", ")}; ${spec.files.size} files, " +
      s"${spec.files.values.count(_.dv.isDefined)} DVs, " +
      s"${spec.files.values.flatMap(_.pos).toSet.size} pos-delete files, " +
      s"${spec.groups.map(_.map(_.files.size).sum).sum} eq-delete files)"
}

object DvAlive {

  /** Key types the byte-wise probe decides exactly like `<=>`: atomic
    * values with a canonical UnsafeRow form (floats after
    * normalization; strings only under binary-equality collations). */
  def probeable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType | TimestampNTZType |
         BinaryType | _: DecimalType => true
    case s: StringType => s == StringType // UTF8_BINARY
    case _ => false
  }

  /** The filter column over a relation whose rows carry their data
    * file's URI `file` and row position `pos`. */
  def filter(
      spark: SparkSession, file: Column, pos: Column, files: Map[String, FileDeletes],
      groups: Seq[EqDeleteGroup]): Column = {
    val spec = DeleteSpec.build(spark, files, groups,
      positional = files.valuesIterator.exists(_.pos.nonEmpty))
    val keys = groups.flatMap(_.keySchema.fields.map { f =>
      Cast(UnresolvedAttribute.quoted(f.name), f.dataType)
    })
    GraftShims.column(DvAlive(
      Seq(GraftShims.expression(file), GraftShims.expression(pos)) ++ keys,
      spec, ConfBroadcast.session(spark)))
  }
}

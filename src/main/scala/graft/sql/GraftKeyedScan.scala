package graft.sql

import scala.util.Try

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReaderFactory, Scan, SupportsReportPartitioning, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetOptions
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.iceberg.{ConfBroadcast, IcebergIO, IcebergModel, IcebergPruning, IcebergScan, IcebergWriter, ManifestReader, IcebergTransforms => T}

/** Storage-partitioned joins + runtime (dim-side) pruning: a catalog scan
  * planned entirely from manifest entries.
  *
  * Two claim modes, chosen per QUERY SHAPE by [[GraftTableRewrite]] (the
  * rule tags the relation's options with [[GraftKeyedScan.ModeOption]]):
  *
  *  - `kgp` — the scan REPORTS its Iceberg partitioning as
  *    `KeyGroupedPartitioning`, so a join of two graft tables bucketed
  *    (or identity-partitioned) on the join key runs with ZERO Exchange,
  *    and an aggregation grouping by the partition keys skips its
  *    Exchange. Spark groups the emitted splits one TASK per partition
  *    tuple — the right trade only when the plan actually exploits the
  *    grouping, hence the shape gate. Under
  *    `spark.sql.sources.v2.bucketing.partiallyClusteredDistribution
  *    .enabled` Spark keeps the per-tuple splits of the larger side as
  *    separate tasks, so a hot bucket is no longer one straggler.
  *
  *  - `splits` — NO partitioning claim: splits pack to
  *    `spark.sql.files.maxPartitionBytes` for full scan parallelism
  *    (a plain filtered read of a bucket(8) table must not collapse to
  *    8 tasks). Used for star-join shapes (equi-join on a partition
  *    source against a non-co-partitioned side) and partition-key point
  *    lookups, where the wins are entry pruning, zero-split empty scans,
  *    and RUNTIME filtering.
  *
  * Both modes implement `SupportsRuntimeV2Filtering`: a broadcast
  * dim-side IN-set re-prunes the retained manifest entries (partition
  * tuples AND column bounds, the same [[IcebergPruning]] keep/skip the
  * static path runs) before execution starts — Spark's dynamic partition
  * pruning for V2 sources. At 100 TB this turns `fact ⋈ dim WHERE
  * dim.attr = …` from a full fact scan into a scan of the surviving
  * tuples only. The filtered split set is always a SUBSET of the
  * original (entries only drop), satisfying Spark's runtime-filter
  * contract for key-grouped scans.
  *
  * Merge-on-read: the keyed scan applies row deletes exactly as the
  * spliced scan does — v3 DELETION VECTORS, v2 parquet POSITION deletes
  * and EQUALITY deletes, assigned to data files by the one planner both
  * scans share (`IcebergScan.planDeletes`), each data file's assignment
  * a [[FileDeletes]]. Every split carries one [[FileDeletes]], and the
  * reader loads it through the one executor-side [[DeleteLoader]] of the
  * spliced scan's `graft_dv_alive` filter, dropping deleted rows by
  * FILE-relative position (Spark's own parquet row-index generator,
  * exact under byte-range splits and row-group skipping) and by key. A
  * DML- or CDC-maintained table keeps its zero-shuffle joins until
  * compaction.
  *
  * Opt-in and honest: the keyed path runs only under Spark's own SPJ
  * flag (`spark.sql.sources.v2.bucketing.enabled`) AND when the scan
  * can faithfully deliver rows grouped by tuple — parquet data files
  * with recorded sizes, no name mapping, every live data entry carrying
  * a complete, convertible partition tuple, and every equality-delete
  * group one the per-file filter applies (the planner leaves groups
  * above `broadcastDeleteThreshold` rows, or keyed on types the byte-wise
  * probe cannot compare, to the spliced plan's anti join). Anything else
  * falls back to the native spliced plan.
  *
  * File groups come straight from manifest entries — like
  * [[graft.iceberg.ManifestFileIndex]], planning touches no storage
  * beyond metadata already read. */
object GraftKeyedScan {

  /** Spark's storage-partitioned-join opt-in; the keyed scan rides it. */
  val ConfKey = "spark.sql.sources.v2.bucketing.enabled"

  /** Relation-option tag written by [[GraftTableRewrite]]: "kgp" claims
    * KeyGroupedPartitioning (plan exploits the grouping), "splits" packs
    * for parallelism without a claim. Absent (rewrite disabled, or a
    * plan shape the rule never settled) keeps the legacy claim. */
  val ModeOption = "graft.keyed-mode"
  val ModeKgp = "kgp"
  val ModeSplits = "splits"

  def enabled(spark: SparkSession): Boolean =
    spark.conf.getOption(ConfKey).exists(_.toBoolean)

  /** One live v3 deletion vector: the resolved puffin path plus the
    * manifest-recorded blob coordinates (spec data-file fields 143-145 —
    * the reader seeks straight to the roaring bitmap, no footer). */
  final case class DvRef(path: String, offset: Long, length: Long)

  /** One live data entry of the keyed plan: the manifest entry (kept for
    * runtime re-pruning — bounds, partition, null/NaN counts), the
    * resolved QUALIFIED path, the Catalyst-domain partition key, and the
    * row deletes the planner assigned to the file, if any. */
  final case class KeyedEntry(
      entry: IcebergModel.ManifestEntry, path: String, key: Seq[Any],
      deletes: Option[FileDeletes])

  final case class Keyed(
      keyTypes: Seq[DataType],
      entries: Seq[KeyedEntry],
      // snapshot spec + schema so runtime filters can re-run the exact
      // entry-level keep/skip the static path ran
      spec: Seq[IcebergModel.PartitionFieldSpec],
      schemaCols: Seq[IcebergModel.Column],
      // manifest-known totals (post-pruning) → SupportsReportStatistics,
      // so join sizing sees the relation's true size (P5), not the V2
      // default of "unknown = huge". With deletes these are an upper
      // bound (deleted rows still counted).
      totalRows: Long, totalBytes: Long,
      // the equality-delete groups the entries' FileDeletes index
      eqGroups: Seq[EqDeleteGroup]) {
    def groups: Seq[(Seq[Any], Seq[KeyedEntry])] =
      entries.groupBy(_.key).toSeq
  }

  /** The keyed plan, or None when this table/snapshot cannot claim
    * KeyGroupedPartitioning faithfully. Metadata reads go through the
    * planning caches, so the splice-skip check and the scan build share
    * one decode. `preds` (pushed filters) prune entries exactly like the
    * native path — never semantics, only file count, since Spark keeps
    * the full residual filter. */
  def plan(spark: SparkSession, t: GraftTable,
           preds: Seq[graft.iceberg.IcebergPruning.ColPredicate] = Seq.empty)
      : Option[Keyed] = {
    // an UNPARTITIONED table still plans keyed when it declares a sort
    // order: one tuple group, splits-mode only — the win is runtime
    // (dim-side) pruning on the sorted columns' bounds, which the
    // spliced native relation cannot serve (no V2 runtime filtering)
    if (t.partitionFields.isEmpty && t.sortColumns.isEmpty) return None
    if (t.opts.rowLineage || t.opts.keepProvenance ||
        t.opts.filters.nonEmpty || t.opts.mode != "default") return None
    val snapshot =
      Try(IcebergScan.selectSnapshot(spark, t.path, t.opts)).toOption
        .getOrElse(return None)
    if (snapshot.properties.contains(IcebergWriter.NameMappingProp)) return None
    // v3 initial-defaults never evict the table (VERDICT r15 #5) and no
    // longer even reach this planner: the read schemas carry the
    // EXISTS_DEFAULT metadata (IcebergSchemaParser.toStructType), so the
    // parquet reader fills the default for columns physically absent
    // from a file — per file, before the key probes, uniformly on the
    // plain and MoR paths, and immune to snapshot expiry.
    val keyTypes: Seq[DataType] = t.partitionFields.map { case (pf, src) =>
      val srcType = t.tableSchema.fields.find(_.name.equalsIgnoreCase(src))
        .map(_.dataType).getOrElse(return None)
      Try(T.parse(pf.transform)).toOption match {
        case Some(T.Identity)     => srcType
        case Some(T.Bucket(_))    => IntegerType
        case Some(T.Day) | Some(T.Month) | Some(T.Year) | Some(T.Hour) =>
          IntegerType
        case Some(T.Truncate(_))  => srcType
        case _                    => return None
      }
    }
    val conf = ConfBroadcast.sessionConf(spark)
    val root = IcebergIO.tableRoot(t.path)
    val meta = Try(ManifestReader.loadTable(
      root, snapshot, conf, t.opts.allowMovedPaths)).toOption.getOrElse(return None)
    // (entry, data sequence) of every live data file
    val dataLive = meta.entries.flatMap { case (m, es) =>
      es.filter(e => e.status != 2 && e.content == 0).map(e => (e, e.seqOr(m.sequenceNumber)))
    }
    if (dataLive.isEmpty) return None
    // the split arithmetic needs every data file's size
    if (dataLive.exists { case (e, _) =>
        !e.fileFormat.equalsIgnoreCase("PARQUET") || e.fileSizeInBytes <= 0L })
      return None
    def qualify(p: String): String = IcebergIO.qualified(p, conf)
    def resolvedPath(e: IcebergModel.ManifestEntry): String = qualify(
      if (t.opts.allowMovedPaths) IcebergIO.fullPath(root, e.filePath)
      else e.filePath)
    // tuple of an entry in the CATALYST domain; None = incomplete
    def tupleOf(e: IcebergModel.ManifestEntry): Option[Seq[Any]] = {
      val vs = t.partitionFields.zip(keyTypes).map { case ((pf, _), kt) =>
        e.partition.get(pf.name) match {
          case None => return None
          case Some(v) => toCatalyst(v, kt).getOrElse(return None)
        }
      }
      Some(vs)
    }
    // entry-level pruning from the pushed filters (partition tuples +
    // column bounds) — the same keep/skip the native path runs, and sound
    // under deletes: a pruned file can't contain a matching row
    val data = graft.iceberg.IcebergPruning.prune(
      dataLive.map(_._1), preds, snapshot.partitionSpec, snapshot.schema)
    val kept = data.map(_.filePath).toSet
    val tuples = data.map(e => tupleOf(e).getOrElse(return None)) // older-spec entry: bail
    // row deletes as the spliced scan assigns them; a group the planner
    // leaves to the anti join needs the spliced plan (checked before any
    // delete file is sized), and a planning failure (a malformed DV
    // entry) falls back to it, which raises it
    val (files, eqGroups) = Try {
      val d = IcebergScan.planDeletes(spark, root, t.opts, snapshot, meta,
        dataLive.filter { case (e, _) => kept(e.filePath) })
      if (d.joinGroups.nonEmpty) None else Some((d.files, d.filterGroups))
    }.toOption.flatten.getOrElse(return None)
    val keyedEntries = data.zip(tuples).map { case (e, vs) =>
      KeyedEntry(e, resolvedPath(e), vs, files.get(e.filePath))
    }
    Some(Keyed(keyTypes, keyedEntries,
      snapshot.partitionSpec, snapshot.schema,
      totalRows = data.map(_.recordCount).sum,
      totalBytes = data.map(_.fileSizeInBytes).sum,
      eqGroups = eqGroups))
  }

  /** V2 source Filters → pruning predicates. Untranslatable shapes
    * extract NOTHING (conservative keep) — Spark always re-evaluates the
    * full residual, so translation can only skip files, never rows.
    * Value domains pass through verbatim; IcebergPruning.normalize
    * already tolerates external types (java.sql.Date, LocalDate,
    * BigDecimal, String), and an unrecognized value normalizes to None
    * = keep. */
  def toPredicates(f: org.apache.spark.sql.sources.Filter)
      : Seq[graft.iceberg.IcebergPruning.ColPredicate] = {
    import org.apache.spark.sql.{sources => s}
    import graft.iceberg.{IcebergPruning => P}
    def one(c: String, op: P.Op, v: Any) = Seq(P.ColPredicate(c, op, v))
    f match {
      case s.EqualTo(c, v) => one(c, P.Eq, v)
      case s.EqualNullSafe(c, null) => one(c, P.IsNull, null)
      case s.EqualNullSafe(c, v) => one(c, P.Eq, v)
      case s.LessThan(c, v) => one(c, P.Lt, v)
      case s.LessThanOrEqual(c, v) => one(c, P.Le, v)
      case s.GreaterThan(c, v) => one(c, P.Gt, v)
      case s.GreaterThanOrEqual(c, v) => one(c, P.Ge, v)
      case s.In(c, vs) => one(c, P.In, vs.toSeq)
      case s.IsNull(c) => one(c, P.IsNull, null)
      case s.IsNotNull(c) => one(c, P.NotNull, null)
      case s.And(l, r) => toPredicates(l) ++ toPredicates(r)
      case _ => Seq.empty
    }
  }

  /** RUNTIME V2 `Predicate` → pruning predicates — the dynamic-partition-
    * pruning bridge. Spark's `translateRuntimeFilterV2` emits `IN(col,
    * lit…)` (and `=` for a single value); literal values arrive in the
    * CATALYST domain (UTF8String, epoch-day ints, micros longs), which
    * `IcebergPruning.normalize` already accepts. Anything unrecognized
    * extracts nothing = conservative keep — the join itself still
    * filters rows, runtime pruning only skips files. */
  def toColPredicates(p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Seq[graft.iceberg.IcebergPruning.ColPredicate] = {
    import graft.iceberg.{IcebergPruning => P}
    import org.apache.spark.sql.connector.expressions.{Literal => V2Literal}
    def refName(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case n: NamedReference if n.fieldNames.length == 1 =>
        Some(n.fieldNames.head)
      case _ => None
    }
    def litVal(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Any] = e match {
      case l: V2Literal[_] => Some(l.value)
      case _ => None
    }
    // total by construction: this runs inside execution (BatchScanExec's
    // filteredPartitions) — a malformed/unexpected shape must degrade to
    // "extract nothing", never fail the query
    Try(p.name match {
      case "IN" =>
        val ch = p.children()
        (for {
          h <- ch.headOption
          c <- refName(h)
          vs <- Try(ch.tail.toSeq.map(e => litVal(e).get)).toOption
        } yield Seq(P.ColPredicate(c, P.In, vs))).getOrElse(Seq.empty)
      case "=" =>
        val ch = p.children()
        (for { c <- refName(ch(0)); v <- litVal(ch(1)) }
          yield Seq(P.ColPredicate(c, P.Eq, v))).getOrElse(Seq.empty)
      case "AND" =>
        p.children().toSeq.collect {
          case c: org.apache.spark.sql.connector.expressions.filter.Predicate =>
            toColPredicates(c)
        }.flatten
      case "IS_NOT_NULL" =>
        p.children().headOption.flatMap(refName)
          .map(c => Seq(P.ColPredicate(c, P.NotNull, null))).getOrElse(Seq.empty)
      case _ => Seq.empty
    }).getOrElse(Seq.empty)
  }

  /** Manifest Avro-domain partition value → Catalyst value of the
    * transform's key type. None = unconvertible (caller goes native). */
  private def toCatalyst(v: Any, dt: DataType): Option[Any] = (v, dt) match {
    case (null, _) => Some(null)
    case (i: java.lang.Integer, IntegerType | DateType) => Some(i.intValue)
    case (i: java.lang.Integer, LongType) => Some(i.longValue)
    case (l: java.lang.Long, LongType | TimestampType | TimestampNTZType) =>
      Some(l.longValue)
    case (s: String, StringType) => Some(UTF8String.fromString(s))
    case (b: java.lang.Boolean, BooleanType) => Some(b.booleanValue)
    case (d: java.lang.Double, DoubleType) => Some(d.doubleValue)
    case (f: java.lang.Float, FloatType) => Some(f.floatValue)
    case _ => None
  }
}

/** One split of one partition tuple; `partitionKey` is what lets Spark's
  * SPJ machinery zip equal tuples across the join (Spark groups splits
  * sharing a key into one task — or keeps them separate under the
  * partially-clustered conf). */
private class GraftKeyedFilePartition(
    idx: Int, fs: Array[PartitionedFile], key: InternalRow)
    extends FilePartition(idx, fs) with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** A keyed split whose rows must pass a MoR filter: `deletes` are the
  * row deletes of every file in the split. A file with a DV or
  * position-delete files bins alone (its row positions resolve against
  * its own deletes); other files share a split only with files of the
  * same tuple and equal assignment, which then carries no `rawPath`. */
private final class GraftKeyedMorFilePartition(
    idx: Int, fs: Array[PartitionedFile], key: InternalRow, val deletes: FileDeletes)
    extends GraftKeyedFilePartition(idx, fs, key)

/** Executor-side soft cache of equality-delete KEY SETS — the one
  * equality-delete index of both read paths: the keyed reader applies it
  * per split, the spliced scan's [[DvAlive]] filter per data file. Every
  * split of a tuple re-applies the same delete files, and at 1000
  * executors the same epoch-delete file would otherwise be re-read once
  * per task. Keys are UnsafeProjection outputs, so set membership is
  * byte-level — and null-safe, the Iceberg equality-delete rule (null
  * matches null). Floating-point keys are normalized on both sides
  * (-0.0 = 0.0, one NaN), like Spark's join keys. */
private[sql] object EqDeleteKeyCache {
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, java.lang.ref.SoftReference[java.util.HashSet[InternalRow]]]()

  /** `exprs` with float/double values normalized. */
  def normalized(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
    exprs.map(e => e.dataType match {
      case FloatType | DoubleType =>
        org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero(e)
      case _ => e
    })

  /** The probe-side key projection matching the cached sets' bytes. */
  def probeProjection(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.expressions.UnsafeProjection =
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(normalized(exprs))

  /** Union of the per-FILE cached key sets (VERDICT r15 #7: keying the
    * cache by the whole concatenated path list re-read EVERY file in the
    * set whenever two splits' applicable-delete lists overlapped without
    * matching exactly — e.g. consecutive epochs). Each delete file is
    * read at most once per executor; the union is rebuilt per split
    * (O(total keys), epoch-sized) so the hot per-row probe stays ONE
    * hash lookup. */
  def load(files: Array[(String, Long)],
           factory: PartitionReaderFactory,
           keySchema: StructType): java.util.HashSet[InternalRow] = {
    val sets = files.map { case (p, len) =>
      perFile(p, len, factory, keySchema)
    }
    if (sets.length == 1) sets(0)
    else {
      val u = new java.util.HashSet[InternalRow](
        math.max(16, sets.iterator.map(_.size).sum * 2))
      sets.foreach(s => u.addAll(s): Unit)
      u
    }
  }

  private def perFile(path: String, len: Long,
                      factory: PartitionReaderFactory,
                      keySchema: StructType): java.util.HashSet[InternalRow] = {
    // (path, SIZE) identity, not path alone: a table dropped and
    // recreated at the same location can re-mint the same delete path
    // (graft snapshot ids restart), and a long-lived executor must not
    // serve the old table's keys against the new one
    val cacheKey = s"$path@$len#${keySchema.catalogString}"
    val hit = Option(cache.get(cacheKey)).flatMap(r => Option(r.get()))
    hit.getOrElse {
      // GC cleared some referents (or delete files churned across
      // epochs/queries): purge dead entries now so the map's keys don't
      // accumulate without bound on a long-lived executor.
      val it = cache.entrySet().iterator()
      while (it.hasNext) { if (it.next().getValue.get() == null) it.remove() }
      val set = new java.util.HashSet[InternalRow]()
      val proj = probeProjection(keySchema.fields.toSeq.zipWithIndex.map {
        case (f, i) => org.apache.spark.sql.catalyst.expressions
          .BoundReference(i, f.dataType, f.nullable)
      })
      val pfs = Array(
        PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path),
          0L, len, Array.empty[String], 0L, len))
      val part = FilePartition(0, pfs)
      // the vectorized reader when the factory offers it: the path every
      // data scan keeps warm, where a row-based parquet read of a fresh
      // delete file starts cold
      if (factory.supportColumnarReads(part)) {
        val reader = factory.createColumnarReader(part)
        try {
          while (reader.next()) {
            val rows = reader.get().rowIterator()
            while (rows.hasNext) set.add(proj(rows.next()).copy()): Unit
          }
        } finally reader.close()
      } else {
        val reader = factory.createReader(part)
        try {
          while (reader.next()) { set.add(proj(reader.get()).copy()): Unit }
        } finally reader.close()
      }
      cache.put(cacheKey, new java.lang.ref.SoftReference(set))
      set
    }
  }
}

/** Parquet reader factories built the way Spark's own scans build them. */
private[sql] object ParquetReaders {
  /** The exact conf hand-off Spark's own ParquetScan.createReaderFactory
    * performs — the read-support class and requested schema ride the
    * broadcast Hadoop conf, not the factory's constructor; equal settings
    * share one broadcast of the session conf plus them
    * ([[ConfBroadcast.withSettings]]). Shared by the
    * keyed scan's data/delete readers and [[DvAlive]]'s delete reads. */
  def factory(
      spark: SparkSession, readSchema: StructType, dataSchema: StructType,
      pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
      : PartitionReaderFactory = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetWriteSupport}
    import org.apache.spark.sql.internal.SQLConf
    val sqlConf = spark.sessionState.conf
    val schemaJson = readSchema.json
    val settings = Seq(
      org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS ->
        classOf[ParquetReadSupport].getName,
      ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA -> schemaJson,
      ParquetWriteSupport.SPARK_ROW_SCHEMA -> schemaJson,
      SQLConf.SESSION_LOCAL_TIMEZONE.key -> sqlConf.sessionLocalTimeZone,
      SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key -> sqlConf.nestedSchemaPruningEnabled,
      SQLConf.CASE_SENSITIVE.key -> sqlConf.caseSensitiveAnalysis,
      SQLConf.PARQUET_BINARY_AS_STRING.key -> sqlConf.isParquetBinaryAsString,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP.key -> sqlConf.isParquetINT96AsTimestamp,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key -> sqlConf.parquetInferTimestampNTZEnabled,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key -> sqlConf.legacyParquetNanosAsLong
    ).map { case (k, v) => k -> v.toString }
    ParquetPartitionReaderFactory(
      sqlConf, ConfBroadcast.withSettings(spark, settings),
      dataSchema = dataSchema,
      readDataSchema = readSchema,
      partitionSchema = new StructType(),
      // row-group/page pruning inside the parquet reader; rows still
      // pass through Spark's residual Filter above the scan
      filters = pushed,
      aggregation = None,
      options = new ParquetOptions(
        Map.empty[String, String], sqlConf))
  }
}

/** Executor-side soft cache of decoded DELETION-VECTOR positions: every
  * split of a DV'd file re-applies the same vector, and the vector is
  * shared by every query of the snapshot. Sorted for binary search. */
private[sql] object DvPositionCache {
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, java.lang.ref.SoftReference[Array[Long]]]()

  def load(dv: GraftKeyedScan.DvRef,
           conf: org.apache.hadoop.conf.Configuration): Array[Long] = {
    val cacheKey = s"${dv.path}@${dv.offset}+${dv.length}"
    val hit = Option(cache.get(cacheKey)).flatMap(r => Option(r.get()))
    hit.getOrElse {
      val it = cache.entrySet().iterator()
      while (it.hasNext) { if (it.next().getValue.get() == null) it.remove() }
      val positions = graft.iceberg.Puffin.readDV(
        new org.apache.hadoop.fs.Path(dv.path), conf, dv.offset, dv.length)
      java.util.Arrays.sort(positions)
      cache.put(cacheKey, new java.lang.ref.SoftReference(positions))
      positions
    }
  }
}

/** Executor-side soft cache of PARQUET position-delete files, decoded
  * once into a (file_path → sorted positions) map: one epoch's delete
  * file can reference thousands of data files, and re-reading it once
  * per referenced file would make cold I/O quadratic. The one v2
  * position-delete index of both read paths: the keyed reader applies it
  * per split, the spliced scan's [[DvAlive]] filter per data file. */
private[sql] object PosDeleteCache {
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, java.lang.ref.SoftReference[
      java.util.HashMap[String, Array[Long]]]]()

  /** The reader [[load]] takes: `file_path`/`pos` by NAME (no declared
    * field ids — the spec's reserved ids are metadata some writers omit,
    * and name matching resolves either way). */
  def factory(spark: SparkSession): PartitionReaderFactory =
    ParquetReaders.factory(spark, IcebergScan.PosDeleteSchema, IcebergScan.PosDeleteSchema)

  /** Sorted deleted positions of `rawPath` across `files`. */
  def load(files: Array[(String, Long)], rawPath: String,
           factory: PartitionReaderFactory): Array[Long] = {
    val parts = files.map { case (p, len) =>
      val cacheKey = s"$p@$len"
      val hit = Option(cache.get(cacheKey)).flatMap(r => Option(r.get()))
      val map = hit.getOrElse {
        val it = cache.entrySet().iterator()
        while (it.hasNext) { if (it.next().getValue.get() == null) it.remove() }
        val builders =
          new java.util.HashMap[String, scala.collection.mutable.ArrayBuilder[Long]]()
        val pf = PartitionedFile(InternalRow.empty, SparkPath.fromPathString(p),
          0L, len, Array.empty[String], 0L, len)
        val reader = factory.createReader(FilePartition(0, Array(pf)))
        try {
          while (reader.next()) {
            val r = reader.get()
            // a null coordinate deletes nothing (foreign files may hold one)
            if (!r.isNullAt(0) && !r.isNullAt(1)) {
              val f = r.getUTF8String(0).toString
              var b = builders.get(f)
              if (b == null) { b = Array.newBuilder[Long]; builders.put(f, b): Unit }
              b += r.getLong(1)
            }
          }
        } finally reader.close()
        val m = new java.util.HashMap[String, Array[Long]]()
        builders.forEach { (f, b) =>
          val arr = b.result(); java.util.Arrays.sort(arr); m.put(f, arr): Unit
        }
        cache.put(cacheKey, new java.lang.ref.SoftReference(m))
        m
      }
      Option(map.get(rawPath)).getOrElse(Array.empty[Long])
    }
    if (parts.length == 1) parts.head
    else {
      val all = parts.flatten
      java.util.Arrays.sort(all)
      all
    }
  }
}

/** Monotone cursor over one file's sorted deleted positions — the one
  * position test of both read paths. Rows arrive in ascending position
  * within a split, so one advance per row replaces log2(n) probe cache
  * misses; the first row and any backward jump (split boundaries inside
  * one partition are packed by length, and an interpreted filter's
  * thread-local state crosses partitions) re-seek with one binarySearch. */
private[sql] final class PositionCursor(positions: Array[Long]) {
  private var i = -1
  private var prev = Long.MinValue

  def deleted(pos: Long): Boolean = {
    val hit =
      if (i < 0 || pos < prev) {
        val p = java.util.Arrays.binarySearch(positions, pos)
        i = if (p >= 0) p else -p - 1
        p >= 0
      } else {
        while (i < positions.length && positions(i) < pos) i += 1
        i < positions.length && positions(i) == pos
      }
    prev = pos
    hit
  }
}

/** A ColumnVector view exposing only the SURVIVING row ordinals of a
  * base vector: access to row i delegates to base row mapping(i). The
  * vectorized MoR read (round 20) filters deleted rows per batch by
  * building one int mapping and wrapping each projected vector — no
  * value copies, no per-row materialization; whole-stage codegen then
  * consumes the batch like any vectorized scan. Same design as the
  * columnar delete-filter readers in open table-format integrations.
  * Children (struct fields) are wrapped with the SAME mapping: leaf
  * accessors apply it exactly once, and `ColumnarRow`/`ColumnarArray`
  * composites pass the outer ordinal down to wrapped children. close()
  * is a no-op — the base vectors belong to the inner reader's batch. */
private[sql] final class MappedColumnVector(
    base: org.apache.spark.sql.vectorized.ColumnVector,
    mapping: Array[Int])
    extends org.apache.spark.sql.vectorized.ColumnVector(base.dataType) {
  override def close(): Unit = ()
  override def hasNull: Boolean = base.hasNull
  override def numNulls: Int = base.numNulls
  override def isNullAt(i: Int): Boolean = base.isNullAt(mapping(i))
  override def getBoolean(i: Int): Boolean = base.getBoolean(mapping(i))
  override def getByte(i: Int): Byte = base.getByte(mapping(i))
  override def getShort(i: Int): Short = base.getShort(mapping(i))
  override def getInt(i: Int): Int = base.getInt(mapping(i))
  override def getLong(i: Int): Long = base.getLong(mapping(i))
  override def getFloat(i: Int): Float = base.getFloat(mapping(i))
  override def getDouble(i: Int): Double = base.getDouble(mapping(i))
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    base.getArray(mapping(i))
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    base.getMap(mapping(i))
  override def getDecimal(i: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal =
    base.getDecimal(mapping(i), precision, scale)
  override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String =
    base.getUTF8String(mapping(i))
  override def getBinary(i: Int): Array[Byte] = base.getBinary(mapping(i))
  private lazy val children =
    new java.util.concurrent.ConcurrentHashMap[Integer, MappedColumnVector]()
  override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector =
    children.computeIfAbsent(ordinal,
      o => new MappedColumnVector(base.getChild(o), mapping))
}

/** Wraps the parquet reader factory with the per-split MoR filter: the
  * split's [[FileDeletes]], loaded through [[DeleteLoader]] like the
  * spliced scan's filter — deleted row positions (the row ordinal rides
  * Spark's own parquet row-index generator, so it stays exact under
  * byte-range splits AND row-group skipping) and one key probe per
  * equality-delete group that reaches the split, float keys normalized
  * like the filter's. The read stays VECTORIZED whenever the inner
  * parquet factory supports columnar for this schema — deleted rows are
  * dropped per ColumnarBatch through [[MappedColumnVector]] ordinal views,
  * no value copies; the row-based wrapper remains the fallback for
  * schemas the vectorized reader rejects. */
private final class GraftKeyedMorReaderFactory(
    inner: PartitionReaderFactory,
    spec: DeleteSpec,
    extendedSchema: StructType,
    outSchema: StructType,
    conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, UnsafeProjection}

  // uniform per scan (Spark rejects mixed row/columnar partitions): the
  // inner parquet factory's answer depends only on conf + result schema
  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(p)

  private val rowIdxOrd = extendedSchema.fieldNames.indexOf(
    org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      .ROW_INDEX_TEMPORARY_COLUMN_NAME)

  /** One split's deletes: its position cursor (null when none) and, per
    * group whose keys reach it, the key set and its probe projection. */
  private final class SplitDeletes(fd: FileDeletes) {
    val cursor: PositionCursor = DeleteLoader.positions(spec, fd, conf.value.value)
    private val reaching = fd.groups.flatMap { g =>
      Option(DeleteLoader.keys(spec, g, fd.seq, fd.part)).map { set =>
        // the key projection binds by the table's field name; the casts
        // only widen (a key read at the snapshot type), never by zone
        val ks = spec.groups(g).head.keySchema.fields.toSeq.map { f =>
          val i = extendedSchema.fieldNames.indexWhere(_.equalsIgnoreCase(f.name))
          val b = BoundReference(i, extendedSchema(i).dataType, extendedSchema(i).nullable)
          if (b.dataType == f.dataType) b else Cast(b, f.dataType, Some("UTC"))
        }
        (set, EqDeleteKeyCache.probeProjection(ks))
      }
    }
    private val keys = reaching.map(_._1).toArray
    private val probes = reaching.map(_._2).toArray
    val anyKeys: Boolean = keys.nonEmpty

    /** Does the row miss every key set? */
    def keyAlive(r: InternalRow): Boolean = {
      var g = 0
      while (g < keys.length) {
        if (keys(g).contains(probes(g)(r))) return false
        g += 1
      }
      true
    }
  }

  override def createColumnarReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
    val d = new SplitDeletes(p.asInstanceOf[GraftKeyedMorFilePartition].deletes)
    val cursor = d.cursor
    val outOrds: Array[Int] =
      outSchema.fields.map(f => extendedSchema.fieldIndex(f.name))
    val innerReader = inner.createColumnarReader(p)
    new org.apache.spark.sql.connector.read.PartitionReader[ColumnarBatch] {
      private var current: ColumnarBatch = _
      override def next(): Boolean = {
        while (innerReader.next()) {
          val b = innerReader.get()
          val n = b.numRows()
          val survives =
            if (!d.anyKeys && cursor == null) n
            else {
              val mapping = new Array[Int](n)
              var k = 0
              val idxCol = if (cursor == null) null else b.column(rowIdxOrd)
              var i = 0
              while (i < n) {
                if ((cursor == null || !cursor.deleted(idxCol.getLong(i))) &&
                    (!d.anyKeys || d.keyAlive(b.getRow(i)))) {
                  mapping(k) = i; k += 1
                }
                i += 1
              }
              if (k > 0 && k < n) {
                val mapped = java.util.Arrays.copyOf(mapping, k)
                current = new ColumnarBatch(
                  outOrds.map(o => new MappedColumnVector(b.column(o), mapped)
                    : ColumnVector), k)
                return true
              }
              k
            }
          if (survives == n && n > 0) {
            // nothing deleted in this batch: project columns, keep ordinals
            current = new ColumnarBatch(outOrds.map(b.column), n)
            return true
          }
          // survives == 0: whole batch deleted — fetch the next one
        }
        false
      }
      override def get(): ColumnarBatch = current
      override def close(): Unit = innerReader.close()
    }
  }

  override def createReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val d = new SplitDeletes(p.asInstanceOf[GraftKeyedMorFilePartition].deletes)
    val cursor = d.cursor
    val dataReader = inner.createReader(p)
    // (initial-defaults were already filled INSIDE the parquet reader —
    // EXISTS_DEFAULT read-schema metadata — so the key probe and the
    // output projection both see the filled values)
    val outProj =
      if (outSchema.fieldNames.sameElements(extendedSchema.fieldNames)) null
      else UnsafeProjection.create(outSchema.fields.toSeq.map { f =>
        val i = extendedSchema.fieldIndex(f.name)
        BoundReference(i, extendedSchema(i).dataType, extendedSchema(i).nullable): Expression
      })
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (dataReader.next()) {
          val r = dataReader.get()
          if ((cursor == null || !cursor.deleted(r.getLong(rowIdxOrd))) && d.keyAlive(r)) {
            current = if (outProj == null) r else outProj(r)
            return true
          }
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = dataReader.close()
    }
  }
}

/** The V2 `Scan`+`Batch` serving the keyed plan through Spark's own
  * parquet reader factory (vectorized, field-id-resolved via the session
  * conf — the same reader the native path's relation uses). */
private final class GraftKeyedV2Scan(
    spark: SparkSession, table: GraftTable, schema: StructType,
    keyed: GraftKeyedScan.Keyed,
    filters: Array[org.apache.spark.sql.sources.Filter],
    claimKgp: Boolean)
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  // entries surviving static pushdown, then narrowed by runtime filters
  // (Spark calls filter() before re-planning input partitions). Always a
  // subset of the original — partition values can only DROP, which is
  // the runtime-filter contract for key-grouped scans.
  @volatile private var effective: Seq[GraftKeyedScan.KeyedEntry] = keyed.entries

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(keyed.totalBytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(keyed.totalRows)
    }

  // merge-on-read: some data file has deletes assigned; decided over the
  // static entries, so partitions and reader factory always agree
  private lazy val fileDeletes = keyed.entries.flatMap(_.deletes)
  private lazy val morAnyPositional =
    fileDeletes.exists(d => d.dv.isDefined || d.pos.nonEmpty)
  // MoR reader row layout: requested columns + equality-key columns the
  // query pruned + Spark's parquet row-index generator when positions apply
  private lazy val morExtendedSchema: StructType = {
    val rowIdxField =
      if (!morAnyPositional) Seq.empty
      // the column must be NULLABLE: a missing-from-file nullable
      // column passes the reader's schema check (null-filled) and is
      // then OVERWRITTEN by the row-index generator; a required one
      // fails initialization
      else Seq(StructField(
        org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
          .ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType, nullable = true))
    val keyFields = keyed.eqGroups.flatMap(_.keySchema.fields)
      .filterNot(f => schema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
      .distinctBy(_.name.toLowerCase(java.util.Locale.ROOT))
    StructType(schema.fields ++ keyFields ++ rowIdxField)
  }

  override def readSchema(): StructType = schema
  override def description(): String = {
    val eq = keyed.eqGroups.flatMap(_.pools).map(_._2.size).sum
    val pos = fileDeletes.flatMap(_.pos).distinct.size
    val dvs = fileDeletes.count(_.dv.isDefined)
    s"graft-keyed ${table.name()} (${keyed.groups.size} partition tuples" +
      (if (claimKgp) ", key-grouped" else ", packed") +
      (if (eq == 0) "" else s", $eq eq-deletes") +
      (if (pos == 0) "" else s", $pos pos-deletes") +
      (if (dvs == 0) ")" else s", $dvs DVs)") +
      (if (filters.isEmpty) "" else s" PushedFilters: ${filters.mkString(", ")}")
  }
  override def toBatch: Batch = this

  // ---- runtime (dim-side) pruning ----------------------------------------

  override def filterAttributes(): Array[NamedReference] = {
    // partition sources prune by tuple values; the table's declared SORT
    // columns prune by per-file column bounds (their layout clusters
    // them). Pruning on either is the same IcebergPruning keep/skip —
    // sound for ANY column, just only EFFECTIVE where values cluster,
    // which is exactly these two sets.
    val srcs = table.partitionFields.map(_._2)
    val sorted = table.sortColumns.filterNot(c =>
      srcs.exists(_.equalsIgnoreCase(c)))
    // only columns in THIS scan's (column-pruned) output: Spark's
    // PartitionPruning resolves every exposed ref against the scan
    // relation and THROWS on one the query didn't select — and a
    // pruned-out column can't be a join key anyway
    (srcs ++ sorted)
      .filter(c => schema.fieldNames.exists(_.equalsIgnoreCase(c)))
      .map(Expressions.column).toArray
  }

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    val preds = predicates.toSeq.flatMap(GraftKeyedScan.toColPredicates)
    if (preds.nonEmpty) {
      val kept = IcebergPruning.prune(
        effective.map(_.entry), preds, keyed.spec, keyed.schemaCols)
        .map(_.filePath).toSet
      effective = effective.filter(e => kept(e.entry.filePath))
    }
  }

  // -------------------------------------------------------------------------

  override def outputPartitioning(): Partitioning =
    // the kgp guard ALSO requires a non-empty spec: an unpartitioned
    // sorted table plans keyed for runtime pruning, and a
    // KeyGroupedPartitioning over zero expressions would collapse it
    // to one task (and is meaningless to zip)
    if (claimKgp && table.partitioning().nonEmpty)
      new KeyGroupedPartitioning(
        table.partitioning()
          .map(t => t: org.apache.spark.sql.connector.expressions.Expression),
        effective.map(_.key).distinct.size)
    else new UnknownPartitioning(0)

  /** Splits pack to Spark's own file-split arithmetic
    * (`maxPartitionBytes` / `openCostInBytes` / `minPartitionNum`), per
    * partition tuple: a 6-TB bucket emits many splits, not one. In kgp
    * mode every split still carries its tuple (`HasPartitionKey`) so
    * Spark groups them one task per tuple for SPJ — or keeps them
    * separate tasks under the partially-clustered conf. */
  override def planInputPartitions(): Array[InputPartition] = {
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    // Spark's own split arithmetic: min(maxPartitionBytes,
    // max(openCost, totalBytes/minPartitionNum))
    val maxSplit = FilePartition.maxSplitBytes(spark,
      effective.map(_.entry.fileSizeInBytes + openCost).sum)
    val out = Array.newBuilder[InputPartition]
    var idx = 0
    def splitsOf(es: Seq[GraftKeyedScan.KeyedEntry]): Seq[PartitionedFile] =
      es.flatMap { e =>
        val len = e.entry.fileSizeInBytes
        (0L until len by maxSplit).map { start =>
          PartitionedFile(InternalRow.empty, SparkPath.fromPathString(e.path),
            start, math.min(maxSplit, len - start), Array.empty[String], 0L, len)
        }
      }
    if (fileDeletes.isEmpty) {
      // (v3 initial-defaults fill inside the parquet reader via the read
      // schema's EXISTS_DEFAULT metadata — per file, so bins need no
      // fill signature)
      effective.groupBy(_.key).toSeq.foreach {
        case (key, es) =>
          val row: InternalRow = new GenericInternalRow(key.toArray)
          // bin-pack this tuple's splits with Spark's own packer (largest
          // first), so split sizing matches what a native file scan plans
          FilePartition.getFilePartitions(
              spark, splitsOf(es).sortBy(-_.length), maxSplit).foreach { fp =>
            out += new GraftKeyedFilePartition(idx, fp.files, row)
            idx += 1
          }
      }
    } else {
      // MoR: every split carries ONE FileDeletes. Files with a DV or
      // position-delete files bin ALONE — a split's row positions resolve
      // against one file's deletes; the rest bin per (tuple, assignment)
      // and keep their plain vectorized bins (one small DML delete must
      // not de-vectorize the whole partition's keyed read). Initial-
      // defaults fill inside the reader (EXISTS_DEFAULT), BEFORE the key
      // probes — a defaulted eq-key column matches on its fill.
      val untouched = FileDeletes(None, 0L, -1, Seq.empty, "", Seq.empty)
      def pack(key: Seq[Any], es: Seq[GraftKeyedScan.KeyedEntry], fd: FileDeletes): Unit = {
        val row: InternalRow = new GenericInternalRow(key.toArray)
        FilePartition.getFilePartitions(
            spark, splitsOf(es).sortBy(-_.length), maxSplit).foreach { fp =>
          out += new GraftKeyedMorFilePartition(idx, fp.files, row, fd)
          idx += 1
        }
      }
      val (solo, plain) =
        effective.partition(_.deletes.exists(d => d.dv.isDefined || d.pos.nonEmpty))
      plain.groupBy(e => (e.key, e.deletes.fold(untouched)(_.copy(rawPath = ""))))
        .foreach { case ((key, fd), es) => pack(key, es, fd) }
      solo.foreach(e => pack(e.key, Seq(e), e.deletes.get))
    }
    out.result()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (fileDeletes.isEmpty) {
      // defaulted tables stay VECTORIZED: the per-file initial-default
      // fill happens inside the parquet reader (EXISTS_DEFAULT), so no
      // row-based wrapper is needed (pre-r18 the fill projection pushed
      // the whole scan row-based — Spark rejects mixed-columnar scans)
      ParquetReaders.factory(spark, schema, table.tableSchema, filters)
    } else {
      // MoR: the data reader must surface the equality-key columns even
      // when the query pruned them, plus Spark's parquet row-index
      // generator column when positions apply (the generator yields
      // FILE-relative positions, exact under splits and row-group
      // skipping); the wrapper filters deleted rows and projects back to
      // the requested schema. The spec carries the groups' pools only:
      // each split brings its own FileDeletes.
      val extended = morExtendedSchema
      new GraftKeyedMorReaderFactory(
        inner = ParquetReaders.factory(spark, extended, table.tableSchema, filters),
        spec = DeleteSpec.build(spark, Map.empty, keyed.eqGroups, morAnyPositional),
        extendedSchema = extended,
        outSchema = schema,
        conf = ConfBroadcast.session(spark))
    }
}

private[sql] object GraftKeyedV2Scan {
  def apply(spark: SparkSession, table: GraftTable, schema: StructType,
            keyed: GraftKeyedScan.Keyed,
            filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
            claimKgp: Boolean = true): Scan =
    new GraftKeyedV2Scan(spark, table, schema, keyed, filters, claimKgp)
}

/** Zero-partition scan for the "pushed filters pruned EVERY file" case.
  * Falling back to the V1 bridge there would rebuild the UNfiltered
  * native relation (the extension rule already skipped splicing), i.e. a
  * full-table scan to produce zero rows — at 100 TB, a point lookup for
  * absent data must plan zero splits instead. No partitioning claim:
  * `KeyGroupedPartitioning(…, 0)` has nothing to zip anyway. */
private[sql] final class GraftEmptyV2Scan(table: GraftTable, schema: StructType)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def readSchema(): StructType = schema
  override def description(): String =
    s"graft-keyed ${table.name()} (all files pruned)"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = Array.empty
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition) =
        throw new IllegalStateException("empty scan has no partitions")
    }
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(0L)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(0L)
    }
}

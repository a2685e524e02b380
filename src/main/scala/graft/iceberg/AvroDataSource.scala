package graft.iceberg

import org.apache.avro.Schema
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.util
import scala.jdk.CollectionConverters._

/** DataSource V2 read path for Iceberg AVRO data files — the projection
  * story [[AvroFiles.read]]'s RDD bridge cannot have: an RDD boundary is
  * opaque to Catalyst, so `SELECT one_col` from a wide avro table used
  * to decode every declared field. This source implements
  * `SupportsPushDownRequiredColumns`, and the pruned schema reaches the
  * DECODER: each task builds a projected Avro reader schema (nullable
  * unions, field subset, writer's record name so Avro schema resolution
  * applies) and the resolving decoder SKIPS non-projected fields without
  * allocating them. `.explain` shows the pruned ReadSchema like any file
  * source.
  *
  * Granularity stays one task per container file (positions must equal
  * the write-time record index for MoR deletes — `__graft_pos` is the
  * per-file sequential index, `__graft_file` the qualified URI). Reader
  * lifecycle is Spark's `PartitionReader.close()` — early-exit operators
  * (limit/take) close the file deterministically.
  */
final class AvroDataSource extends TableProvider {

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StructType.fromDDL(options.get(AvroDataSource.SchemaDdlOption))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new AvroDataSource.AvroTable(schema,
      new CaseInsensitiveStringMap(properties))
}

object AvroDataSource {

  /** `\n`-joined raw manifest paths (what the task opens). */
  val PathsOption = "graft.avro.paths"
  /** Manifest-known totals (`<rows>,<bytes>`) — reported to Catalyst via
    * `SupportsReportStatistics` so join planning sees the relation's real
    * size (a statless V2 relation defaults to "huge" and can never be
    * broadcast). Zero I/O: the scan planner already holds the entries. */
  val StatsOption = "graft.avro.stats"
  /** `\n`-joined fully-qualified URIs, pairwise with `paths` — the
    * `__graft_file` values (must equal [[IcebergIO.qualified]] exactly
    * so MoR delete-file joins match). */
  val QualifiedOption = "graft.avro.qualified"
  /** DDL form of the full table schema (inferSchema fallback when no
    * external schema is supplied). */
  val SchemaDdlOption = "graft.avro.schema"
  /** Per-file spec `split_offsets` (block sync points), comma-joined,
    * files `\n`-joined pairwise with `paths`; empty entry = unknown →
    * that file reads as one task. */
  val SplitsOption = "graft.avro.splits"

  val FileCol = "__graft_file"
  val PosCol = "__graft_pos"

  /** The scan-side entry: an Avro-file relation whose column pruning
    * reaches the decoder. `paths` pairs raw with qualified URIs;
    * `withMeta` appends the provenance columns. */
  def relation(spark: SparkSession, paths: Seq[(String, String)],
      readSchema: StructType, withMeta: Boolean,
      stats: Option[(Long, Long)] = None,
      splits: Seq[Seq[Long]] = Seq.empty): DataFrame = {
    val out =
      if (!withMeta) readSchema
      else StructType(readSchema.fields.toSeq :+
        StructField(FileCol, StringType) :+
        StructField(PosCol, LongType))
    val r = spark.read
      .format(classOf[AvroDataSource].getName)
      .schema(out)
      .option(PathsOption, paths.map(_._1).mkString("\n"))
      .option(QualifiedOption, paths.map(_._2).mkString("\n"))
      .option(SchemaDdlOption, out.toDDL)
    val r2 =
      if (splits.isEmpty) r
      else r.option(SplitsOption, splits.map(_.mkString(",")).mkString("\n"))
    stats.fold(r2) { case (rows, bytes) =>
      r2.option(StatsOption, s"$rows,$bytes")
    }.load()
  }

  private final class AvroTable(
      schema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
    override def name(): String = "graft-avro-files"
    override def schema(): StructType = schema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(
        caseInsensitiveStringMap: CaseInsensitiveStringMap): ScanBuilder =
      new AvroScanBuilder(schema, options)
  }

  /** Filter shapes the reader evaluates during decode iteration:
    * comparisons/null-checks/IN over one ATOMIC payload column. Row
    * positions still advance for skipped records (MoR positions are the
    * write-time record index), but non-matching rows never materialize
    * an InternalRow or cross the DSv2 boundary. All pushed filters are
    * ALSO returned as post-scan residuals — evaluation here is an
    * optimization, Spark re-checks semantics (nulls, casts) above. */
  private def supportedFilter(f: org.apache.spark.sql.sources.Filter,
      schema: StructType): Boolean = {
    import org.apache.spark.sql.sources._
    def atomic(name: String): Boolean =
      name != FileCol && name != PosCol &&
        schema.fields.find(_.name == name).exists(_.dataType match {
          case _: StructType | _: ArrayType | _: MapType => false
          case _ => true
        })
    def nonBinary(name: String): Boolean =
      !schema.fields.find(_.name == name).exists(_.dataType == BinaryType)
    f match {
      case EqualTo(c, _)            => atomic(c)
      case GreaterThan(c, _)        => atomic(c)
      case GreaterThanOrEqual(c, _) => atomic(c)
      case LessThan(c, _)           => atomic(c)
      case LessThanOrEqual(c, _)    => atomic(c)
      // binary IN would compare Array[Byte] by REFERENCE in the matcher's
      // Set — always false, silently dropping every match (comparisons go
      // through the interpreted ordering, which compares contents)
      case In(c, vs)                => atomic(c) && nonBinary(c) &&
        vs != null && vs.length <= 1000
      case IsNull(c)                => atomic(c)
      case IsNotNull(c)             => atomic(c)
      case _                        => false
    }
  }

  private final class AvroScanBuilder(
      fullSchema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
      with SupportsPushDownFilters {
    private var required: StructType = fullSchema
    private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
    override def pruneColumns(requiredSchema: StructType): Unit =
      // Catalyst hands the subset in table-schema order; empty (count(*)
      // over the relation) is legal and decodes nothing per record
      required = requiredSchema
    override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
        : Array[org.apache.spark.sql.sources.Filter] = {
      pushed = filters.filter(supportedFilter(_, fullSchema))
      filters // everything stays a residual; see supportedFilter
    }
    override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
      pushed
    override def build(): Scan = {
      def split(key: String): Seq[String] =
        Option(options.get(key)).map(_.split('\n').toSeq.filter(_.nonEmpty))
          .getOrElse(Seq.empty)
      val stats = Option(options.get(StatsOption)).flatMap { s =>
        s.split(',') match {
          case Array(r, b) =>
            scala.util.Try((r.trim.toLong, b.trim.toLong)).toOption
          case _ => None
        }
      }
      // per-file split offsets: \n-split must keep EMPTY entries so the
      // pairwise alignment with paths holds (unknown files → no split)
      val splitOffsets: Seq[Seq[Long]] =
        Option(options.get(SplitsOption))
          .map(_.split("\n", -1).toSeq.map(line => // -1: keep trailing empties
            line.split(',').toSeq.filter(_.nonEmpty).map(_.trim.toLong)))
          .getOrElse(Seq.empty)
      new AvroScan(required, split(PathsOption).zip(split(QualifiedOption)),
        stats, pushed.toSeq, splitOffsets)
    }
  }

  private final class AvroScan(
      required: StructType, paths: Seq[(String, String)],
      stats: Option[(Long, Long)],
      pushed: Seq[org.apache.spark.sql.sources.Filter],
      splits: Seq[Seq[Long]] = Seq.empty)
    extends Scan with Batch with SupportsReportStatistics {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def description(): String =
      s"graft-avro-files [${paths.size} files] " +
        s"PushedFilters: [${pushed.mkString(", ")}] " +
        s"ReadSchema: ${required.catalogString}"
    /** One task per ~maxPartitionBytes run of blocks when the manifest
      * recorded `split_offsets` — a single wide file spreads across the
      * cluster instead of serializing through one task. Splitting is
      * DISABLED whenever the scan needs `__graft_pos`: a split task
      * cannot know how many records precede its first block, and wrong
      * positions would corrupt MoR delete application (those scans read
      * one task per file, exactly as before). Range tiling follows the
      * canonical Avro split contract (sync to first block after start,
      * stop past end), so every block lands in exactly one task. */
    override def planInputPartitions(): Array[InputPartition] = {
      val canSplit = !required.fieldNames.contains(PosCol)
      val maxSplit = org.apache.spark.sql.SparkSession.active
        .sessionState.conf.filesMaxPartitionBytes
      paths.zipWithIndex.flatMap { case ((p, q), i) =>
        val offs = splits.lift(i).getOrElse(Seq.empty)
        if (!canSplit || offs.size <= 1) Seq(AvroFilePartition(p, q))
        else {
          val bounds = Seq.newBuilder[Long]
          var rangeStart = 0L
          offs.foreach { o =>
            if (o > rangeStart && o - rangeStart >= maxSplit) {
              bounds += o; rangeStart = o
            }
          }
          val bs = 0L +: bounds.result()
          bs.zipWithIndex.map { case (s, j) =>
            val e = if (j + 1 < bs.size) bs(j + 1) else -1L
            AvroFilePartition(p, q, s, e): InputPartition
          }
        }
      }.toArray
    }
    override def createReaderFactory(): PartitionReaderFactory =
      // runs on the DRIVER: the factory carries the session Hadoop conf
      // as a broadcast, so executor-side opens see the same
      // spark.hadoop.* settings path qualification resolved under
      new AvroReaderFactory(required, pushed,
        ConfBroadcast.session(org.apache.spark.sql.SparkSession.active))
    override def estimateStatistics()
        : org.apache.spark.sql.connector.read.Statistics =
      new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          stats.fold(java.util.OptionalLong.empty())(s =>
            java.util.OptionalLong.of(s._2))
        override def numRows(): java.util.OptionalLong =
          stats.fold(java.util.OptionalLong.empty())(s =>
            java.util.OptionalLong.of(s._1))
      }
  }

  private final case class AvroFilePartition(
      path: String, qualified: String,
      // byte range [start, end) under the canonical Avro split contract;
      // end = -1 reads to EOF. (0, -1) = the whole file, one task.
      start: Long = 0L, end: Long = -1L)
    extends InputPartition

  private final class AvroReaderFactory(
      required: StructType,
      pushed: Seq[org.apache.spark.sql.sources.Filter],
      conf: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.SerializableConfiguration])
    extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      val fp = p.asInstanceOf[AvroFilePartition]
      new AvroPartitionReader(fp.path, fp.qualified, required, pushed,
        conf.value.value, fp.start, fp.end)
    }
  }

  /** One container file, sequential decode with a projected reader
    * schema. The record index IS the Iceberg row position (files are
    * written by a single task, read by a single task). */
  // decode/emit telemetry (test surface): records deserialized vs rows
  // handed to Spark — a pushed filter's saving is the gap between them
  private val recordsRead = new java.util.concurrent.atomic.AtomicLong
  private val rowsEmitted = new java.util.concurrent.atomic.AtomicLong

  /** (records deserialized, rows emitted past pushed filters) since JVM
    * start. local[*] only — counters live in this JVM. */
  def decoderStats: (Long, Long) = (recordsRead.get, rowsEmitted.get)

  private final class AvroPartitionReader(
      path: String, qualified: String, required: StructType,
      pushed: Seq[org.apache.spark.sql.sources.Filter],
      hadoopConf: Configuration,
      start: Long = 0L, end: Long = -1L)
    extends PartitionReader[InternalRow] {

    private val payload = required.fields.filter(f =>
      f.name != FileCol && f.name != PosCol)
    private val qualifiedUtf8 = UTF8String.fromString(qualified)

    // v3 initial-defaults, the same per-file presence rule the parquet
    // reader applies: a field PHYSICALLY ABSENT from this container's
    // writer schema reads its EXISTS_DEFAULT (catalyst-internal value,
    // resolved once per reader from the read schema's field metadata);
    // fields the writer stored keep their values, including nulls.
    private val existsDefault: Array[Any] =
      if (!org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
            .hasExistenceDefaultValues(required)) new Array[Any](required.length)
      else org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
        .getExistenceDefaultValues(required)
    private def hasExistsDefault(c: String): Boolean =
      required.fields.exists(f => f.name == c && f.metadata.contains(
        org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
          .EXISTS_DEFAULT_COLUMN_METADATA_KEY))

    // decode plan per required column, resolved ONCE per file: -2 file
    // provenance, -3 row position, -1 null (field the writer never
    // stored — schema evolution null-fill, the ORC contract), >=0 the
    // field's position in the projected reader record
    private val ColFile = -2
    private val ColPos = -3
    private val ColNull = -1
    private var colPlan: Array[Int] = _
    // payload column -> (position in the projected record, Spark type);
    // columns the writer never stored are absent (null-filled on read)
    private var presentPos: Map[String, (Int, DataType)] = _

    private val reader: DataFileReader[GenericRecord] = {
      // ONE open: the container header (already parsed by the reader)
      // carries the writer schema; the projected reader schema — the
      // writer's FULL record name, Avro matches records by name — is
      // installed via setExpected before the first record decodes
      val datumReader = new GenericDatumReader[GenericRecord]()
      val r = new DataFileReader[GenericRecord](
        new FsInput(new Path(path), hadoopConf), datumReader)
      try {
        val writerSchema = r.getSchema
        val writerFields = writerSchema.getFields.asScala.map(_.name).toSet
        val present = payload.filter(f => writerFields(f.name))
        val projected = AvroFiles.projectedSchema(
          StructType(present), writerSchema)
        datumReader.setExpected(projected)
        val posIn = present.iterator.map(_.name).zipWithIndex.toMap
        presentPos = present.iterator.zipWithIndex
          .map { case (f, i) => f.name -> (i, f.dataType) }.toMap
        colPlan = required.fields.map { f =>
          if (f.name == FileCol) ColFile
          else if (f.name == PosCol) ColPos
          else posIn.getOrElse(f.name, ColNull)
        }
        // canonical split start: seek to the first sync point AFTER
        // `start` (start = 0 is the whole-file/first-range case — the
        // header already positions at block 1). The planner never
        // produces start > 0 for position-bearing scans.
        if (start > 0L) r.sync(start)
        r
      } catch { case e: Throwable => r.close(); throw e }
    }

    /** Pushed filters compiled against the projected record, once per
      * file. Anything that fails to compile (unexpected value type) is
      * dropped — the residual Filter above re-checks every row anyway,
      * so a dropped matcher only costs the skipped-row saving. */
    private val matchers: Array[GenericRecord => Boolean] = {
      import org.apache.spark.sql.sources._
      import org.apache.spark.sql.catalyst.CatalystTypeConverters
      import org.apache.spark.sql.catalyst.util.TypeUtils
      def info(c: String): Option[(Int, DataType)] = presentPos.get(c)
      // Spark's codegen'd comparisons see float/double values AFTER
      // UnsafeRow normalization (-0.0 stored as 0.0), so EqualTo(c, 0.0)
      // matches a stored -0.0. The interpreted ordering used here
      // distinguishes them (Double.compare(-0.0, 0.0) < 0), which would
      // skip a row the residual filter can never resurrect. Normalize
      // both sides so matcher semantics stay a superset of Spark's.
      def norm(dt: DataType, v: Any): Any = (dt, v) match {
        case (DoubleType, d: java.lang.Double) if d.doubleValue == 0.0d => 0.0d
        case (FloatType, f: java.lang.Float) if f.floatValue == 0.0f => 0.0f
        case _ => v
      }
      def mk(f: Filter): Option[GenericRecord => Boolean] =
        scala.util.Try[Option[GenericRecord => Boolean]] {
          def comparison(c: String, v: Any, keep: Int => Boolean)
              : Option[GenericRecord => Boolean] = info(c) match {
            // writer never stored the column → it reads null → SQL
            // comparison semantics: never matches. EXCEPT defaulted
            // columns, which read their initial-default: no matcher
            // (the residual filter re-checks the filled value).
            case None if hasExistsDefault(c) => None
            case None => Some(_ => false)
            case Some((p, dt)) =>
              val target = norm(dt,
                CatalystTypeConverters.createToCatalystConverter(dt)(v))
              if (target == null) Some(_ => false)
              else {
                val ord = TypeUtils.getInterpretedOrdering(dt)
                Some { r =>
                  val raw = r.get(p)
                  raw != null &&
                    keep(ord.compare(norm(dt, toCatalyst(dt, raw)), target))
                }
              }
          }
          f match {
            case EqualTo(c, v)            => comparison(c, v, _ == 0)
            case GreaterThan(c, v)        => comparison(c, v, _ > 0)
            case GreaterThanOrEqual(c, v) => comparison(c, v, _ >= 0)
            case LessThan(c, v)           => comparison(c, v, _ < 0)
            case LessThanOrEqual(c, v)    => comparison(c, v, _ <= 0)
            case In(c, vs) => info(c) match {
              case None if hasExistsDefault(c) => None
              case None => Some(_ => false)
              case Some((p, dt)) =>
                val conv = CatalystTypeConverters.createToCatalystConverter(dt)
                val set = vs.filter(_ != null).map(v => norm(dt, conv(v))).toSet
                Some { r =>
                  val raw = r.get(p)
                  raw != null && set.contains(norm(dt, toCatalyst(dt, raw)))
                }
            }
            case IsNull(c) => info(c) match {
              case None if hasExistsDefault(c) => None
              case None => Some(_ => true)
              case Some((p, _)) => Some(r => r.get(p) == null)
            }
            case IsNotNull(c) => info(c) match {
              case None if hasExistsDefault(c) => None
              case None => Some(_ => false)
              case Some((p, _)) => Some(r => r.get(p) != null)
            }
            case _ => None
          }
        }.toOption.flatten
      pushed.flatMap(mk).toArray
    }

    private var pos = -1L
    private var rec: GenericRecord = _
    // batched into the shared counters at close() — two atomic
    // increments per record would put contention in the decode loop
    private var readN = 0L
    private var emitN = 0L

    override def next(): Boolean = {
      // canonical split stop: a range ends once the reader passes the
      // sync point at `end` — blocks tile exactly across range tasks
      while (reader.hasNext && !(end >= 0L && reader.pastSync(end))) {
        rec = reader.next(rec)
        pos += 1 // positions advance over SKIPPED records too (MoR index)
        readN += 1
        var ok = true
        var i = 0
        while (ok && i < matchers.length) { ok = matchers(i)(rec); i += 1 }
        if (ok) { emitN += 1; return true }
      }
      false
    }

    override def get(): InternalRow = {
      val vals = new Array[Any](required.length)
      var i = 0
      while (i < required.length) {
        vals(i) = colPlan(i) match {
          case ColFile => qualifiedUtf8
          case ColPos  => pos
          case ColNull => existsDefault(i) // null unless an initial-default
          case p       => toCatalyst(required.fields(i).dataType, rec.get(p))
        }
        i += 1
      }
      new GenericInternalRow(vals)
    }

    override def close(): Unit = {
      recordsRead.addAndGet(readN)
      rowsEmitted.addAndGet(emitN)
      readN = 0; emitN = 0
      reader.close()
    }
  }

  /** Avro-decoded value → Catalyst internal value for the target type.
    * Dates/timestamps pass through (Avro logical date = epoch days INT,
    * timestamp-micros = LONG — exactly Catalyst's internal encodings). */
  private def toCatalyst(dt: DataType, v: Any): Any =
    if (v == null) null
    else dt match {
      case StringType => UTF8String.fromString(v.toString)
      case BinaryType => AvroFiles.bytesOf(v)
      case d: DecimalType =>
        Decimal(new java.math.BigDecimal(
          new java.math.BigInteger(AvroFiles.bytesOf(v)), d.scale),
          d.precision, d.scale)
      case IntegerType | DateType => Int.box(v.asInstanceOf[Number].intValue)
      case LongType | TimestampType | TimestampNTZType =>
        Long.box(v.asInstanceOf[Number].longValue)
      case FloatType  => Float.box(v.asInstanceOf[Number].floatValue)
      case DoubleType => Double.box(v.asInstanceOf[Number].doubleValue)
      case BooleanType => v
      case other => throw new UnsupportedOperationException(
        s"avro data files: unsupported read type ${other.sql}")
    }

}

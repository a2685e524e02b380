package graft.iceberg

import java.nio.ByteBuffer
import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Iceberg's THIRD data-file format (spec "Avro"; engine extension — the
  * reference reads parquet only, `iceberg_multi_file_reader.cpp`), built
  * directly on avro-1.12.1: Spark ships no avro DataSource module in this
  * deployment, so the bridge reads and writes Avro OCF files itself.
  *
  * Scale design:
  *  - READ is [[AvroDataSource]] (DataSource V2, one task per file,
  *    column pruning pushed into the decode). File-level parallelism
  *    (no intra-file sync-marker splits) is the deliberate
  *    granularity — the write path targets bounded file sizes, so a 100 TB
  *    table is wide in files, not deep in one.
  *  - WRITE runs inside the executors (`foreachPartition`), one open
  *    container per partition tuple per task, mirroring Spark's
  *    `partitionBy` hive layout so [[IcebergWriter.collectFiles]] parses
  *    partition tuples identically for all three formats.
  *  - Row POSITIONS are first-class: a file is written and read
  *    sequentially by a single task, so the reader's per-file record
  *    index is exactly the write-time position — position deletes and
  *    provenance work on Avro data files (unlike ORC, where Spark's
  *    reader exposes no `_metadata.row_index`).
  *
  * Column resolution is BY NAME with null fill for missing fields (Avro
  * has no parquet-style field-id stamping; same documented caveat as ORC:
  * metadata-only renames do not reach into pre-rename files). Types
  * cover Iceberg's flat primitive surface: boolean, int, long, float,
  * double, string, binary, date, timestamp, timestamptz, decimal.
  * Nested types are rejected loudly — use parquet for nested payloads.
  */
object AvroFiles {

  private val Epoch = LocalDateTime.of(1970, 1, 1, 0, 0)

  /** Spark (flat) schema → Avro record schema of nullable unions. */
  def avroSchema(schema: StructType, recordName: String = "row"): Schema = {
    val fields = schema.fields.map { f =>
      val t = primitive(f.dataType, f.name)
      val union = Schema.createUnion(
        java.util.List.of(Schema.create(Schema.Type.NULL), t))
      new Schema.Field(f.name, union, null, Schema.Field.NULL_DEFAULT_VALUE)
    }
    Schema.createRecord(recordName, null, "graft", false, fields.toList.asJava)
  }

  /** Projection of `payload` as an Avro READER schema that resolves
    * against `writer`: same record full name (Avro matches records by
    * name), nullable-union fields with null defaults so schema
    * resolution — not manual field lookup — drives the decode and the
    * resolving decoder SKIPS non-projected writer fields. */
  def projectedSchema(payload: StructType, writer: Schema): Schema = {
    val fields = payload.fields.map { f =>
      val t = primitive(f.dataType, f.name)
      val union = Schema.createUnion(
        java.util.List.of(Schema.create(Schema.Type.NULL), t))
      new Schema.Field(f.name, union, null, Schema.Field.NULL_DEFAULT_VALUE)
    }
    Schema.createRecord(writer.getName, null, writer.getNamespace, false,
      java.util.List.of(fields: _*))
  }

  private def primitive(dt: DataType, name: String): Schema = dt match {
    case BooleanType => Schema.create(Schema.Type.BOOLEAN)
    case IntegerType => Schema.create(Schema.Type.INT)
    case LongType    => Schema.create(Schema.Type.LONG)
    case FloatType   => Schema.create(Schema.Type.FLOAT)
    case DoubleType  => Schema.create(Schema.Type.DOUBLE)
    case StringType  => Schema.create(Schema.Type.STRING)
    case BinaryType  => Schema.create(Schema.Type.BYTES)
    case DateType =>
      LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
    case TimestampNTZType =>
      LogicalTypes.localTimestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
    case TimestampType =>
      LogicalTypes.timestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
    case d: DecimalType =>
      LogicalTypes.decimal(d.precision, d.scale)
        .addToSchema(Schema.create(Schema.Type.BYTES))
    case other => throw new UnsupportedOperationException(
      s"avro data files: column '$name' has unsupported type ${other.sql} " +
        "(flat primitives only — use parquet for nested payloads)")
  }

  /** External Row value → avro value (schema types validated above). */
  private def toAvro(dt: DataType, v: Any): Any =
    if (v == null) null
    else dt match {
      case DateType => Int.box(v match {
        case d: java.sql.Date  => d.toLocalDate.toEpochDay.toInt
        case d: LocalDate      => d.toEpochDay.toInt
      })
      case TimestampNTZType =>
        val ldt = v.asInstanceOf[LocalDateTime]
        Long.box(java.time.Duration.between(Epoch, ldt).toNanos / 1000L)
      case TimestampType => Long.box(v match {
        case t: java.sql.Timestamp =>
          t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
        case i: java.time.Instant =>
          i.getEpochSecond * 1000000L + i.getNano / 1000L
      })
      case d: DecimalType =>
        val bd = v.asInstanceOf[java.math.BigDecimal].setScale(d.scale)
        ByteBuffer.wrap(bd.unscaledValue.toByteArray)
      case BinaryType => ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
      case _ => v
    }

  /** Avro value → external Row value for the TARGET Spark type. */
  private def fromAvro(dt: DataType, v: Any): Any =
    if (v == null) null
    else dt match {
      case StringType => v.toString // Utf8 → String
      case DateType =>
        java.sql.Date.valueOf(LocalDate.ofEpochDay(
          v.asInstanceOf[Number].longValue))
      case TimestampNTZType =>
        Epoch.plusNanos(v.asInstanceOf[Number].longValue * 1000L)
      case TimestampType =>
        val micros = v.asInstanceOf[Number].longValue
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          Math.floorDiv(micros, 1000000L),
          Math.floorMod(micros, 1000000L) * 1000L))
      case d: DecimalType =>
        val bytes = bytesOf(v)
        new java.math.BigDecimal(new java.math.BigInteger(bytes), d.scale)
      case BinaryType => bytesOf(v)
      case FloatType  => Float.box(v.asInstanceOf[Number].floatValue)
      case DoubleType => Double.box(v.asInstanceOf[Number].doubleValue)
      case IntegerType => Int.box(v.asInstanceOf[Number].intValue)
      case LongType    => Long.box(v.asInstanceOf[Number].longValue)
      case _ => v
    }

  private[iceberg] def bytesOf(v: Any): Array[Byte] = v match {
    case b: ByteBuffer =>
      val out = new Array[Byte](b.remaining()); b.duplicate().get(out); out
    case a: Array[Byte] => a
    case f: org.apache.avro.generic.GenericFixed => f.bytes()
  }

  /** Hive-style dir value: %XX-escape every UTF-8 BYTE outside
    * [A-Za-z0-9._-] (strictly conservative; [[IcebergWriter.parseDirValue]]
    * unescapes). Escaping bytes — not code points — keeps every escape
    * exactly two hex digits, so the 2-digit unescape round-trips for
    * non-Latin-1 strings (a code-point escape of e.g. U+65E5 would emit
    * four digits and decode corrupted). */
  private def dirValue(dt: DataType, v: Any): String =
    if (v == null) "__HIVE_DEFAULT_PARTITION__"
    else {
      val raw = v match {
        case d: java.sql.Date => d.toLocalDate.toString
        case d: LocalDate     => d.toString
        case other            => other.toString
      }
      val sb = new java.lang.StringBuilder(raw.length)
      raw.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
        val c = (b & 0xFF).toChar
        if (c < 128 && (c.isLetterOrDigit || c == '.' || c == '_' || c == '-'))
          sb.append(c)
        else sb.append(f"%%${b & 0xFF}%02X")
      }
      sb.toString
    }

  /** Staging-dir prefix for in-flight task output. [[IcebergWriter.collectFiles]]
    * skips any path containing a segment with this prefix, so a crashed
    * job's orphaned staging tree can never be registered in a snapshot. */
  val StagingPrefix = "_graft_staging-"

  /** Executor-side partitioned write mirroring Spark's `partitionBy`
    * layout: payload columns go into the container, `gpNames` columns
    * become `<name>=<value>` directory segments only.
    *
    * Task-commit protocol (parquet/orc get this from Spark's committer;
    * the bridge must provide its own): each task attempt writes into
    * `dataDir/_graft_staging-<job>/attempt-<id>/…` and only after ALL its
    * rows are appended and every container is closed does it rename the
    * complete files into the data dir. Final names are deterministic per
    * (partition dir, task partition id, job) — NOT per attempt — so when
    * a retried or speculative attempt finds its destination already
    * present, the earlier (complete, closed-before-rename) copy wins and
    * the duplicate is discarded instead of double-committing rows. The
    * driver deletes the whole staging tree after the job, sweeping any
    * partial output of failed attempts. */
  def writePartitioned(df: DataFrame, dataDir: Path,
      gpNames: Seq[String]): Unit = {
    val schema = df.schema
    val payload = StructType(schema.fields.filterNot(f => gpNames.contains(f.name)))
    payload.fields.foreach(f => primitive(f.dataType, f.name)) // validate up front
    val schemaJson = avroSchema(payload).toString
    val gpIdx = gpNames.map(schema.fieldIndex)
    val gpTypes = gpIdx.map(schema.fields(_).dataType)
    // Round 20 (guide §4 per-row work): the write leg runs on
    // queryExecution.toRdd (InternalRow) instead of df.rdd — df.rdd paid
    // a full external-Row conversion per record (plus
    // LocalDate/Timestamp object materialization that toAvro immediately
    // re-flattened to the epoch numbers the INTERNAL representation
    // already holds). Extractors below read the avro-ready primitive
    // straight out of the internal row.
    val payloadNames = payload.fieldNames.toSeq
    val payloadExtract: Seq[org.apache.spark.sql.catalyst.InternalRow => AnyRef] =
      payload.fields.toSeq.map { f =>
        val i = schema.fieldIndex(f.name)
        val get: org.apache.spark.sql.catalyst.InternalRow => AnyRef = f.dataType match {
          case BooleanType => r => Boolean.box(r.getBoolean(i))
          case IntegerType => r => Int.box(r.getInt(i))
          case LongType => r => Long.box(r.getLong(i))
          case FloatType => r => Float.box(r.getFloat(i))
          case DoubleType => r => Double.box(r.getDouble(i))
          case StringType => r => r.getUTF8String(i).toString
          case BinaryType => r => ByteBuffer.wrap(r.getBinary(i))
          // internal values are ALREADY avro's logical representation:
          // date = epoch days (int), timestamps = micros (long)
          case DateType => r => Int.box(r.getInt(i))
          case TimestampNTZType | TimestampType => r => Long.box(r.getLong(i))
          case d: DecimalType => r => ByteBuffer.wrap(
            r.getDecimal(i, d.precision, d.scale)
              .toJavaBigDecimal.unscaledValue.toByteArray)
          case other => throw new UnsupportedOperationException(
            s"avro write: unsupported type ${other.sql}") // unreachable (validated)
        }
        (r: org.apache.spark.sql.catalyst.InternalRow) =>
          if (r.isNullAt(i)) null else get(r)
      }
    // partition-dir segments keep their EXTERNAL rendering (dirValue) so
    // directory names are byte-identical to the df.rdd era — the internal
    // value converts through the same Catalyst converter df.rdd used
    val gpConv: Seq[Any => Any] = gpTypes.map(dt =>
      org.apache.spark.sql.catalyst.CatalystTypeConverters.createToScalaConverter(dt))
    val dirStr = dataDir.toString
    // One token per WRITE JOB (not per attempt): all attempts of a task
    // race toward the same final file name, making retries idempotent.
    val jobToken = java.util.UUID.randomUUID().toString.take(8)
    val stagingRoot = new Path(dataDir, StagingPrefix + jobToken)
    val stagingStr = stagingRoot.toString
    // the SESSION Hadoop conf, broadcast to the tasks: a bare
    // new Configuration() on executors would drop every spark.hadoop.*
    // setting (credentials, custom FS impls) the driver resolved with
    val confB = ConfBroadcast.session(df.sparkSession)
    try {
      df.queryExecution.toRdd.foreachPartition { rows =>
        val conf = confB.value.value
        val writerSchema = new Schema.Parser().parse(schemaJson)
        val tc = org.apache.spark.TaskContext.get()
        val taskId = tc.partitionId()
        val attemptDir = new Path(stagingStr, s"attempt-${tc.taskAttemptId()}")
        // staged container -> its final destination under the data dir
        val staged = scala.collection.mutable.Map.empty[
          Seq[String], (DataFileWriter[GenericRecord], Path, Path)]
        var complete = false
        try {
          rows.foreach { row =>
            val segs = gpIdx.zip(gpTypes).zip(gpNames).zipWithIndex.map {
              case (((i, dt), n), j) =>
                val v = if (row.isNullAt(i)) null
                        else gpConv(j)(row.get(i, dt))
                s"$n=${dirValue(dt, v)}"
            }
            val (w, _, _) = staged.getOrElseUpdate(segs, {
              val name = f"part-$taskId%05d-$jobToken.avro"
              val src = new Path(segs.foldLeft(attemptDir)(new Path(_, _)), name)
              val dest = new Path(segs.foldLeft(new Path(dirStr))(new Path(_, _)), name)
              val fs = src.getFileSystem(conf)
              val out = fs.create(src, false)
              val w = new DataFileWriter[GenericRecord](
                new GenericDatumWriter[GenericRecord](writerSchema))
              // block size drives split granularity: the default 64 KB
              // sync interval would put thousands of split_offsets per
              // data file in the manifests; ~2 MB blocks keep offsets
              // compact while still splitting a wide file across tasks
              w.setSyncInterval(1 << 21)
              (w.create(writerSchema, out), src, dest)
            })
            val rec = new GenericData.Record(writerSchema)
            payloadNames.indices.foreach { j =>
              rec.put(payloadNames(j), payloadExtract(j)(row))
            }
            w.append(rec)
          }
          staged.values.foreach(_._1.close())
          complete = true
        } finally {
          if (!complete) {
            staged.values.foreach { case (w, _, _) =>
              try w.close() catch { case _: Exception => () }
            }
          } else {
            // task commit: every container is closed and complete — move
            // into place; a destination that already exists means another
            // attempt of this task committed first, so drop ours.
            staged.values.foreach { case (_, src, dest) =>
              val fs = src.getFileSystem(conf)
              fs.mkdirs(dest.getParent)
              if (!fs.rename(src, dest)) {
                if (fs.exists(dest)) fs.delete(src, false)
                else throw new java.io.IOException(
                  s"avro task commit: rename $src -> $dest failed")
              }
            }
          }
        }
      }
    } finally {
      // job cleanup: sweep failed attempts' partial containers
      val fs = stagingRoot.getFileSystem(
        df.sparkSession.sessionState.newHadoopConf())
      fs.delete(stagingRoot, true)
    }
  }

  /** One file's writer schema → Spark schema (addFiles inference). */
  def inferSchema(path: String, conf: Configuration): StructType = {
    val reader = DataFileReader.openReader(
      new FsInput(new Path(path), conf),
      new GenericDatumReader[GenericRecord]())
    try {
      val s = reader.getSchema
      require(s.getType == Schema.Type.RECORD,
        s"avro data file $path is not a record container")
      StructType(s.getFields.asScala.map { f =>
        StructField(f.name, sparkType(unwrap(f.schema), f.name), nullable = true)
      }.toArray)
    } finally reader.close()
  }

  private def unwrap(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).getOrElse(s)
    else s

  private def sparkType(s: Schema, name: String): DataType =
    (s.getType, Option(s.getLogicalType)) match {
      case (Schema.Type.INT, Some(_: LogicalTypes.Date)) => DateType
      case (Schema.Type.LONG, Some(_: LogicalTypes.LocalTimestampMicros)) => TimestampNTZType
      case (Schema.Type.LONG, Some(_: LogicalTypes.TimestampMicros)) => TimestampType
      case (Schema.Type.BYTES | Schema.Type.FIXED, Some(d: LogicalTypes.Decimal)) =>
        DecimalType(d.getPrecision, d.getScale)
      case (Schema.Type.BOOLEAN, _) => BooleanType
      case (Schema.Type.INT, _)     => IntegerType
      case (Schema.Type.LONG, _)    => LongType
      case (Schema.Type.FLOAT, _)   => FloatType
      case (Schema.Type.DOUBLE, _)  => DoubleType
      case (Schema.Type.STRING, _)  => StringType
      case (Schema.Type.BYTES, _)   => BinaryType
      case (t, _) => throw new UnsupportedOperationException(
        s"avro data files: field '$name' has unsupported avro type $t")
    }

  /** Record count from block headers alone — no value decode. */
  def rowCount(path: Path, conf: Configuration): Long =
    blockIndex(path, conf)._1

  /** (total rows, block sync offsets) from the container's block headers
    * — no record decodes. The offsets are the file's spec `split_offsets`
    * (sync points a reader can seek to), recorded once at commit time. */
  def blockIndex(path: Path, conf: Configuration): (Long, Seq[Long]) = {
    val reader = new DataFileReader[GenericRecord](
      new FsInput(path, conf), new GenericDatumReader[GenericRecord]())
    try {
      var rows = 0L
      val offsets = Seq.newBuilder[Long]
      while (reader.hasNext) {
        offsets += reader.previousSync()
        rows += reader.getBlockCount
        reader.nextBlock()
      }
      (rows, offsets.result())
    } finally reader.close()
  }
}

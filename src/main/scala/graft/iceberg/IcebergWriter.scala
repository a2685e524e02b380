package graft.iceberg

import java.nio.ByteBuffer
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.time.LocalDate

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{Column => SqlColumn, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{call_function, col, datediff, lit, month, when, xxhash64, year}
import org.apache.spark.sql.types._

import IcebergModel._
import scala.jdk.CollectionConverters._

/** Write path — create/append snapshots and compact an Iceberg-layout
  * table (the stretch the reference never ships: its extension is
  * read-only, `iceberg_functions.cpp:20-24`; writes in its ecosystem come
  * from Spark, SURVEY §7.4). Emits the metadata family the read path
  * consumes — `vN.metadata.json` + `version-hint.text`, Avro manifest
  * list, Avro manifests with record counts — so tables round-trip through
  * `IcebergScan` including snapshot time travel and incremental reads.
  *
  * Scope: v2 layout, flat (unpartitioned) primitive-column schemas,
  * append + compaction snapshots. Data files are written by Spark's
  * parquet sink (distributed); only the small metadata is driver-side.
  */
object IcebergWriter {

  private val mapper = new ObjectMapper()

  private def toIcebergType(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case IntegerType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case DateType => "date"
    case TimestampNTZType => "timestamp"
    case TimestampType => "timestamptz"
    case StringType => "string"
    case BinaryType => "binary"
    case VariantType => "variant"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case other => throw new IllegalArgumentException(
      s"IcebergWriter cannot map ${other.sql} to an Iceberg type")
  }

  /** FRESH nested field ids allocate from here (DFS over top-level
    * columns in order) so they can never collide with fresh positional
    * top-level ids. Existing fields — including a foreign table's
    * layout — keep their recorded ids verbatim on append (see
    * [[assignIds]]); this base only governs fields no previous schema
    * knows. */
  private val NestedFieldIdBase = 10000

  /** name-path → field id of a metadata.json root's CURRENT schema,
    * nested ids included (keys: "col", "col.sub", "col.element",
    * "col.key", "col.value", …). Appends REUSE these ids verbatim — a
    * table created by another engine keeps its layout (re-deriving our
    * own DFS ids would silently desync the declared schema from the ids
    * in already-written files, reading struct internals as NULL); only
    * genuinely new fields draw fresh ids. */
  private def existingIds(root: JsonNode): Map[String, Int] = {
    val out = scala.collection.mutable.Map.empty[String, Int]
    def walkFields(fields: JsonNode, prefix: String): Unit =
      fields.elements.asScala.foreach { f =>
        val p = prefix + f.get("name").asText
        Option(f.get("id")).foreach(id => out(p) = id.asInt)
        walkType(f.get("type"), p + ".")
      }
    def walkType(node: JsonNode, prefix: String): Unit =
      if (node != null && node.isObject) node.get("type").asText match {
        case "struct" => walkFields(node.get("fields"), prefix)
        case "list" =>
          Option(node.get("element-id")).foreach(id => out(prefix + "element") = id.asInt)
          walkType(node.get("element"), prefix + "element.")
        case "map" =>
          Option(node.get("key-id")).foreach(id => out(prefix + "key") = id.asInt)
          walkType(node.get("key"), prefix + "key.")
          Option(node.get("value-id")).foreach(id => out(prefix + "value") = id.asInt)
          walkType(node.get("value"), prefix + "value.")
        case _ => ()
      }
    val sid = Option(root.get("current-schema-id")).map(_.asInt).getOrElse(0)
    val schemas = Option(root.get("schemas"))
      .map(_.elements.asScala.toSeq).getOrElse(Seq.empty)
    // An unresolvable current-schema-id must FAIL, not guess: reusing ids
    // from an arbitrary (first) schema would desync the emitted schema
    // ids from the files written under the real current schema. A
    // single-schema list without a matching id stays accepted (legacy
    // metadata, same leniency as parseSchemaById).
    val schemaNode = schemas
      .find(s => Option(s.get("schema-id")).exists(_.asInt == sid))
      .orElse(if (schemas.size == 1) schemas.headOption else None)
      .orElse(Option(root.get("schema"))) // legacy v1 single-schema object
    if (schemaNode.isEmpty && schemas.nonEmpty)
      throw new IllegalArgumentException(
        s"current-schema-id $sid matches no schema in the metadata's schemas list")
    schemaNode.foreach(s => walkFields(s.get("fields"), ""))
    // Ids used by ANY historical schema (dropped columns) and the
    // last-column-id high-water mark stay RESERVED under sentinel keys:
    // assignIds treats prev.values as taken, so a new column can never
    // reuse a dropped column's id — which would resurrect the old files'
    // values under the new name. Sentinels never collide with real
    // column paths (they contain characters our writer rejects).
    val taken = out.values.toSet
    val probe = scala.collection.mutable.Map.empty[String, Int]
    def probeFields(fields: JsonNode, prefix: String): Unit =
      fields.elements.asScala.foreach { f =>
        val p = prefix + f.get("name").asText
        Option(f.get("id")).foreach(id => probe(p) = id.asInt)
        probeType(f.get("type"), p + ".")
      }
    def probeType(node: JsonNode, prefix: String): Unit =
      if (node != null && node.isObject) node.get("type").asText match {
        case "struct" => probeFields(node.get("fields"), prefix)
        case "list" =>
          Option(node.get("element-id")).foreach(id => probe(prefix + "element") = id.asInt)
          probeType(node.get("element"), prefix + "element.")
        case "map" =>
          Option(node.get("key-id")).foreach(id => probe(prefix + "key") = id.asInt)
          probeType(node.get("key"), prefix + "key.")
          Option(node.get("value-id")).foreach(id => probe(prefix + "value") = id.asInt)
          probeType(node.get("value"), prefix + "value.")
        case _ => ()
      }
    schemas.foreach(s => Option(s.get("fields")).foreach(probeFields(_, "")))
    probe.values.filterNot(taken).toSet
      .foreach((id: Int) => out(s"__dropped#$id") = id)
    Option(root.get("last-column-id")).map(_.asInt)
      .filter(last => out.values.forall(_ < last))
      .foreach(last => out("__reserved#last") = last)
    out.toMap
  }

  /** The complete (path → id) assignment for a write: existing paths keep
    * their ids from `prev`; new top-level columns take their positional id
    * unless it is already taken by a different field (foreign layouts);
    * new nested fields draw from a fresh counter above every known id.
    * The walk order (field id before its type; list element, map
    * key/value each a slot) makes fresh assignment bit-identical to the
    * pre-existing DFS scheme for self-written tables. */
  private def assignIds(schema: StructType, prev: Map[String, Int]): Map[String, Int] = {
    val out = scala.collection.mutable.Map.empty[String, Int]
    val fresh = new java.util.concurrent.atomic.AtomicInteger(
      math.max(NestedFieldIdBase, (prev.values.toSeq :+ 0).max + 1))
    def walk(dt: DataType, prefix: String): Unit = dt match {
      case s: StructType => s.fields.foreach { f =>
        val p = prefix + f.name
        out(p) = prev.getOrElse(p, fresh.getAndIncrement())
        walk(f.dataType, p + ".")
      }
      case a: ArrayType =>
        out(prefix + "element") =
          prev.getOrElse(prefix + "element", fresh.getAndIncrement())
        walk(a.elementType, prefix + "element.")
      case m: MapType =>
        out(prefix + "key") = prev.getOrElse(prefix + "key", fresh.getAndIncrement())
        walk(m.keyType, prefix + "key.")
        out(prefix + "value") = prev.getOrElse(prefix + "value", fresh.getAndIncrement())
        walk(m.valueType, prefix + "value.")
      case _ => ()
    }
    val taken = prev.values.toSet
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      out(f.name) = prev.getOrElse(f.name,
        if (taken(i + 1)) fresh.getAndIncrement() else i + 1)
      walk(f.dataType, f.name + ".")
    }
    out.toMap
  }

  /** Spark type with `parquet.field.id` metadata attached to every nested
    * STRUCT field from the shared (path → id) assignment — so the ids in
    * the written parquet footers match the ids in the emitted Iceberg
    * schema JSON, and struct-internal columns resolve by id at read time. */
  private def typeWithIds(dt: DataType, prefix: String, ids: Map[String, Int]): DataType =
    dt match {
      case s: StructType =>
        StructType(s.fields.map { f =>
          StructField(f.name, typeWithIds(f.dataType, prefix + f.name + ".", ids),
            nullable = f.nullable,
            metadata = new MetadataBuilder()
              .putLong("parquet.field.id", ids(prefix + f.name).toLong).build())
        })
      case a: ArrayType =>
        ArrayType(typeWithIds(a.elementType, prefix + "element.", ids), a.containsNull)
      case m: MapType =>
        MapType(
          typeWithIds(m.keyType, prefix + "key.", ids),
          typeWithIds(m.valueType, prefix + "value.", ids),
          m.valueContainsNull)
      case other => other
    }

  /** Iceberg JSON schema type — primitives as strings, struct/list/map as
    * objects with element-id/key-id/value-id/field ids from the shared
    * assignment (Iceberg spec "Schemas"; the reference parses exactly
    * this shape, schema.cpp:11-67). */
  private def icebergTypeNode(dt: DataType, prefix: String, ids: Map[String, Int]): JsonNode =
    dt match {
      case s: StructType =>
        val n = mapper.createObjectNode()
        n.put("type", "struct")
        val arr = n.putArray("fields")
        s.fields.foreach { f =>
          val fn = arr.addObject()
          fn.put("id", ids(prefix + f.name))
          fn.put("name", f.name)
          fn.put("required", false)
          fn.set[JsonNode]("type", icebergTypeNode(f.dataType, prefix + f.name + ".", ids))
        }
        n
      case a: ArrayType =>
        val n = mapper.createObjectNode()
        n.put("type", "list")
        n.put("element-id", ids(prefix + "element"))
        n.put("element-required", false)
        n.set[JsonNode]("element", icebergTypeNode(a.elementType, prefix + "element.", ids))
        n
      case m: MapType =>
        val n = mapper.createObjectNode()
        n.put("type", "map")
        n.put("key-id", ids(prefix + "key"))
        n.set[JsonNode]("key", icebergTypeNode(m.keyType, prefix + "key.", ids))
        n.put("value-id", ids(prefix + "value"))
        n.put("value-required", false)
        n.set[JsonNode]("value", icebergTypeNode(m.valueType, prefix + "value.", ids))
        n
      case other =>
        new com.fasterxml.jackson.databind.node.TextNode(toIcebergType(other))
    }

  /** SPEC-COMPLETE v2 manifest-list schema (round 10) — every field the
    * Iceberg v2 spec requires, matching the reference's full codec
    * (avro_codegen/iceberg_manifest_file_full.hpp:118-133) field for
    * field, plus the per-partition-field `partitions` summaries (r508,
    * :85-99) that manifest-level pruning keys off. Rounds 2-9 wrote only
    * the 3-field subset the reference's partial reader consumes; a strict
    * foreign reader (iceberg-java) requires the full record. */
  private val manifestListSchema = new Schema.Parser().parse("""
    {"type":"record","name":"manifest_file","fields":[
      {"name":"manifest_path","type":"string"},
      {"name":"manifest_length","type":"long"},
      {"name":"partition_spec_id","type":"int"},
      {"name":"content","type":"int"},
      {"name":"sequence_number","type":"long"},
      {"name":"min_sequence_number","type":"long"},
      {"name":"added_snapshot_id","type":"long"},
      {"name":"added_data_files_count","type":"int"},
      {"name":"existing_data_files_count","type":"int"},
      {"name":"deleted_data_files_count","type":"int"},
      {"name":"added_rows_count","type":"long"},
      {"name":"existing_rows_count","type":"long"},
      {"name":"deleted_rows_count","type":"long"},
      {"name":"partitions","type":["null",{"type":"array","items":
        {"type":"record","name":"r508","fields":[
          {"name":"contains_null","type":"boolean"},
          {"name":"contains_nan","type":["null","boolean"],"default":null},
          {"name":"lower_bound","type":["null","bytes"],"default":null},
          {"name":"upper_bound","type":["null","bytes"],"default":null}]}}],
       "default":null}]}""")

  /** Avro type name for a partition value of this transform over this
    * source column (identity keeps the column's domain; date-ordinal
    * transforms produce int ordinals, matching Iceberg). */
  private def partitionAvroType(transform: String, source: DataType): String =
    IcebergTransforms.parse(transform) match {
      case IcebergTransforms.Identity => source match {
        case IntegerType | DateType => "int"
        case LongType => "long"
        case StringType => "string"
        case other => throw new IllegalArgumentException(
          s"identity partition over ${other.sql} not supported")
      }
      case IcebergTransforms.Day | IcebergTransforms.Month |
           IcebergTransforms.Year | IcebergTransforms.Hour |
           IcebergTransforms.Bucket(_) => "int"
      case IcebergTransforms.Truncate(_) => source match {
        case IntegerType | ShortType | ByteType => "int"
        case LongType => "long"
        case StringType => "string"
        case other => throw new IllegalArgumentException(
          s"truncate partition over ${other.sql} not supported")
      }
      case _ => throw new IllegalArgumentException(s"unsupported transform $transform")
    }

  /** Manifest-entry schema, optionally extended with a typed `partition`
    * record (per spec fields) and Iceberg-style `lower_bounds`/
    * `upper_bounds` (array-of-{key,value} map encoding, spec appendix).
    * All three are nullable with null defaults so manifests stay readable
    * by schema-resolving readers that don't know them. */
  private def entrySchemaFor(partitionFields: Seq[(String, String)]): Schema = {
    // `partition` is REQUIRED by the spec (data_file field 102) — always
    // present as a non-nullable record, EMPTY for the unpartitioned spec,
    // exactly the reference full codec's r102 shape
    // (iceberg_manifest_entry_full.hpp:67-71). Rounds ≤9 omitted it on
    // unpartitioned tables, which a strict no-defaults reader refuses.
    val partField = {
      val fs = partitionFields.map { case (n, t) =>
        s"""{"name":"$n","type":["null","$t"],"default":null}"""
      }.mkString(",")
      s""",{"name":"partition","type":{"type":"record","name":"r102","fields":[$fs]}}"""
    }
    new Schema.Parser().parse(s"""
      {"type":"record","name":"manifest_entry","fields":[
        {"name":"status","type":"int"},
        {"name":"sequence_number","type":["null","long"],"default":null},
        {"name":"data_file","type":{"type":"record","name":"r2","fields":[
          {"name":"content","type":"int"},
          {"name":"file_path","type":"string"},
          {"name":"file_format","type":"string"},
          {"name":"record_count","type":"long"},
          {"name":"file_size_in_bytes","type":"long","default":0}
          $partField,
          {"name":"lower_bounds","type":["null",{"type":"array","items":
            {"type":"record","name":"k126_v127","fields":[
              {"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}],
           "default":null},
          {"name":"upper_bounds","type":["null",{"type":"array","items":
            {"type":"record","name":"k129_v130","fields":[
              {"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}],
           "default":null},
          {"name":"null_value_counts","type":["null",{"type":"array","items":
            {"type":"record","name":"k121_v122","fields":[
              {"name":"key","type":"int"},{"name":"value","type":"long"}]}}],
           "default":null},
          {"name":"nan_value_counts","type":["null",{"type":"array","items":
            {"type":"record","name":"k138_v139","fields":[
              {"name":"key","type":"int"},{"name":"value","type":"long"}]}}],
           "default":null},
          {"name":"split_offsets","type":["null",{"type":"array","items":"long"}],
           "default":null},
          {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],
           "default":null},
          {"name":"referenced_data_file","type":["null","string"],"default":null},
          {"name":"content_offset","type":["null","long"],"default":null},
          {"name":"content_size_in_bytes","type":["null","long"],"default":null},
          {"name":"first_row_id","type":["null","long"],"default":null}
        ]}}]}""")
  }

  private def writeAvro(schema: Schema, out: Path, conf: Configuration)(
      records: Seq[GenericRecord]): Unit = {
    val os = out.getFileSystem(conf).create(out, true)
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    // w.close() closes os only once create has succeeded; closing os again
    // is a no-op
    try {
      w.create(schema, os)
      records.foreach(w.append)
    } finally try w.close() finally os.close()
  }

  /** Commit metadata version `version`: the `v{N}.metadata.json`
    * compare-and-swap, then the version hint. */
  private def commitVersion(metaDir: Path, conf: Configuration, version: Int,
                            root: ObjectNode): Unit = {
    writeNewVersion(new Path(metaDir, s"v$version.metadata.json"), conf,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root))
    val hint = new Path(metaDir, DefaultVersionHintFile)
    val os = hint.getFileSystem(conf).create(hint, true)
    try os.write(version.toString.getBytes("UTF-8")) finally os.close()
  }

  /** Every file under `dir`, recursively (`dir` itself when it is a file).
    * `listStatus`, not `listFiles`: the local filesystem's
    * `LocatedFileStatus` reads each entry's permission, which without
    * native libhadoop forks `ls -ld` per entry; nothing here needs it. */
  private def filesUnder(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.flatMap { st =>
      if (st.isDirectory) filesUnder(fs, st.getPath) else Seq(st)
    }

  /** Create-new-version write for metadata.json: the version file is
    * created with overwrite=false, so of two writers racing from the same
    * loaded state the SECOND fails with a commit conflict instead of
    * silently clobbering the first — the filesystem analogue of a catalog
    * CAS (optimistic concurrency). The loser's already-written data files
    * become orphans, exactly what [[listOrphanFiles]] reports. */
  private def writeNewVersion(p: Path, conf: Configuration, s: String): Unit = {
    val fs = p.getFileSystem(conf)
    if (fs.exists(p))
      throw new java.io.IOException(
        s"commit conflict: ${p.getName} already exists (concurrent writer won)")
    val uri = p.toUri
    if (uri.getScheme == null || uri.getScheme == "file") {
      // Hadoop's local create(path, overwrite=false) is exists-check-then-
      // create — two racers can BOTH pass the check, and the loser's bytes
      // silently clobber the winner's committed metadata. O_CREAT|O_EXCL
      // via nio is the kernel-atomic CAS the commit protocol needs. The
      // mode is the one Hadoop's create gives under the session umask,
      // attached to the create so the file never exists wider.
      val local = java.nio.file.Paths.get(uri.getPath)
      val mode = FsPermission.getFileDefault.applyUMask(FsPermission.getUMask(conf))
      val perms = PosixFilePermissions.asFileAttribute(NioLocalFileSystem.posix(mode.toShort))
      try {
        // a store without a POSIX view refuses the attribute
        try Files.createFile(local, perms)
        catch { case _: UnsupportedOperationException => Files.createFile(local) }
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new java.io.IOException(
            s"commit conflict: ${p.getName} already exists (concurrent writer won)")
      }
      Files.write(local, s.getBytes("UTF-8"))
    } else {
      // non-local stores: best effort via the FS contract (HDFS create is
      // atomic; object stores need a catalog for true CAS — documented)
      val os =
        try fs.create(p, false)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            throw new java.io.IOException(
              s"commit conflict: ${p.getName} already exists (concurrent writer won)")
        }
      try os.write(s.getBytes("UTF-8")) finally os.close()
    }
  }

  // ---- table state ------------------------------------------------------

  private final case class State(
      version: Int,
      info: IcebergMetadataParser.ParseInfo,
      snapshots: Seq[JsonNode],
      tableUuid: Option[String] = None,
      currentSnapshotId: Option[Long] = None,
      // high-water marks survive rollback/expiration (the snapshots array
      // alone forgets dropped ids, and reusing one collides with the dead
      // snapshot's still-on-disk data directory)
      lastSnapshotId: Long = 0L,
      lastSeq: Long = 0L,
      rootNode: Option[JsonNode] = None,
      // snapshot refs: name -> (snapshot-id, branch|tag)
      refs: Map[String, (Long, String)] = Map.empty) {
    /** Head of `branch`, falling back to current-snapshot-id for the main
      * branch of a pre-refs table. */
    def branchHead(branch: String): Option[Long] =
      refs.get(branch).map(_._1)
        .orElse(if (branch == "main") currentSnapshotId else None)

    /** Snapshot a row-level op mutates: the head of `branch`. Non-main
      * branches must exist; tags are immutable and rejected. */
    def opBase(op: String, branch: String): IcebergModel.Snapshot = {
      if (branch != "main") require(refs.contains(branch),
        s"$op: branch '$branch' does not exist — createBranch it first")
      refs.get(branch).foreach { case (_, tpe) =>
        require(tpe == "branch", s"$op: cannot commit to '$branch': it is a $tpe")
      }
      branchHead(branch)
        .map(IcebergMetadataParser.byId(info, _, skipSchema = false,
          useDeclaredSchema = false))
        .getOrElse(IcebergMetadataParser.latest(info, skipSchema = false))
    }
    def nextSnapshotId: Long =
      ((snapshots.map(_.get("snapshot-id").asLong) :+ lastSnapshotId).max) + 1
    def nextSeq: Long =
      ((snapshots.map(n => Option(n.get("sequence-number"))
        .map(_.asLong).getOrElse(0L)) :+ lastSeq).max) + 1
    def nextTsMs: Long = math.max(
      System.currentTimeMillis(),
      (snapshots.map(_.get("timestamp-ms").asLong) :+ 0L).max + 1)
  }

  private def loadState(path: String, conf: Configuration): Option[State] = {
    val hintPath = new Path(new Path(path, "metadata"), DefaultVersionHintFile)
    val fs = hintPath.getFileSystem(conf)
    if (!fs.exists(hintPath)) None
    else {
      // A TORN hint read (a concurrent committer truncates-then-rewrites
      // the file, so a racing reader can see it empty) falls back to
      // probing from 0 — the hint is only a cache of the version walk.
      var v = scala.util.Try(
        IcebergIO.readString(hintPath.toString, conf).trim.toInt).getOrElse(0)
      // The hint is a HINT: a writer that crashed between committing
      // vN+1.metadata.json and updating the hint must not pin the table
      // at vN forever — commits compute the next version from the loaded
      // state, so a stale hint would make every retry collide with the
      // orphaned vN+1 ("commit conflict" with no self-heal). Probe
      // forward to the newest PARSEABLE version: the metadata.json
      // create is the commit point, the hint only a cache. An existing
      // but unparseable next version (a writer mid-create) stops the
      // probe — it is not a committed state.
      var probing = true
      while (probing) {
        val next = new Path(path, s"metadata/v${v + 1}.metadata.json")
        if (fs.exists(next) && scala.util.Try(IcebergMetadataParser.parseInfo(
            IcebergIO.readString(next.toString, conf))).isSuccess) v += 1
        else probing = false
      }
      val json = IcebergIO.readString(
        new Path(path, s"metadata/v$v.metadata.json").toString, conf)
      val info = IcebergMetadataParser.parseInfo(json)
      val root = mapper.readTree(json)
      Some(State(v, info, info.snapshots,
        tableUuid = Option(root.get("table-uuid")).map(_.asText),
        currentSnapshotId = Option(root.get("current-snapshot-id")).map(_.asLong),
        lastSnapshotId = Option(root.get("last-snapshot-id")).map(_.asLong).getOrElse(0L),
        lastSeq = Option(root.get("last-sequence-number")).map(_.asLong).getOrElse(0L),
        rootNode = Some(root),
        refs = info.refs))
    }
  }

  // ---- partition specs ----------------------------------------------------

  /** One resolved partition field of a write: `partitionBy` entries are
    * (source column, transform) with transform ∈ identity|day|month|year. */
  private final case class SpecField(
      source: String, transform: String, fieldName: String,
      sourceId: Int, fieldId: Int, avroType: String, sourceType: DataType)

  private def resolveSpec(
      schema: StructType, partitionBy: Seq[(String, String)],
      ids: Map[String, Int] = Map.empty): Seq[SpecField] =
    partitionBy.zipWithIndex.map { case ((c, t), i) =>
      val idx = schema.fieldIndex(c)
      val f = schema(idx)
      val fieldName = IcebergTransforms.parse(t) match {
        case IcebergTransforms.Identity => c
        case IcebergTransforms.Day => s"${c}_day"
        case IcebergTransforms.Month => s"${c}_month"
        case IcebergTransforms.Year => s"${c}_year"
        case IcebergTransforms.Hour => s"${c}_hour"
        case IcebergTransforms.Bucket(_) => s"${c}_bucket"
        case IcebergTransforms.Truncate(_) => s"${c}_trunc"
        case _ => throw new IllegalArgumentException(s"unsupported transform $t")
      }
      SpecField(c, t, fieldName, ids.getOrElse(c, idx + 1), 1000 + i,
        partitionAvroType(t, f.dataType), f.dataType)
    }

  /** The table's CURRENT partition spec as resolveSpec input — shared by
    * merge/update/compact so row-level and maintenance commits keep
    * producing partition tuples and bounds; without it, their new files
    * would carry no partition values and silently stop pruning. */
  private def currentSpec(latest: Snapshot, schema: StructType): Seq[SpecField] =
    resolveSpec(schema, latest.partitionSpec.flatMap { pf =>
      latest.schema.find(_.id == pf.sourceId).map(c => c.name -> pf.transform)
    }, latest.schema.map(c => c.name -> c.id).toMap)

  /** The transform as a Spark expression over the source column — always
    * materialized as a COPY (`__gp_` prefix) so hive-style partitionBy
    * strips the copy, never a data column (Iceberg data files keep
    * identity-partitioned columns). Ordinal domains are defined in ONE
    * place — [[IcebergTransforms.column]] — shared with the pruner's
    * predicate projection. */
  private def transformCol(sf: SpecField, spark: SparkSession): SqlColumn =
    IcebergTransforms.column(
      IcebergTransforms.parse(sf.transform), col(sf.source), sf.sourceType, spark)

  /** Spark's hive-dir escaping replaces reserved chars with %XX but keeps
    * '+' literal — URLDecoder would corrupt it to a space. Undo exactly
    * the %XX sequences, accumulating BYTES and decoding UTF-8 at the end:
    * Spark writes non-ASCII chars literally (their UTF-8 bytes pass
    * through unchanged) while [[AvroFiles]] escapes them per-byte — both
    * forms round-trip through the byte accumulator. */
  private def unescapeHiveDir(s: String): String = {
    val out = new java.io.ByteArrayOutputStream(s.length)
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try {
          out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
          i += 3
        } catch {
          case _: NumberFormatException =>
            out.write(c.toString.getBytes(utf8)); i += 1
        }
      } else if (Character.isHighSurrogate(c) && i + 1 < s.length &&
          Character.isLowSurrogate(s.charAt(i + 1))) {
        // astral-plane literal: encode the pair as one code point
        out.write(s.substring(i, i + 2).getBytes(utf8)); i += 2
      } else { out.write(c.toString.getBytes(utf8)); i += 1 }
    }
    new String(out.toByteArray, utf8)
  }

  /** Hive directory value → typed partition value in the manifest's Avro
    * domain (identity over date stays an epoch-day int, Iceberg-style). */
  private def parseDirValue(sf: SpecField, s: String): Any =
    if (s == "__HIVE_DEFAULT_PARTITION__") null
    else sf.avroType match {
      case "int" if sf.transform == "identity" && sf.sourceType == DateType =>
        Int.box(LocalDate.parse(s).toEpochDay.toInt)
      case "int" => Int.box(s.toInt)
      case "long" => Long.box(s.toLong)
      case _ => unescapeHiveDir(s)
    }

  // ---- parquet footer statistics ------------------------------------------

  /** Everything the manifest needs to know about one written data file. */
  private final case class WrittenFile(
      path: String, count: Long,
      partition: Map[String, Any],
      lower: Map[Int, Array[Byte]], upper: Map[Int, Array[Byte]],
      nulls: Map[Int, Long] = Map.empty,
      sizeBytes: Long = 0L,
      format: String = "PARQUET",
      splitOffsets: Seq[Long] = Seq.empty,
      nans: Map[Int, Long] = Map.empty)

  /** Parquet statistics value → the bound domain [[IcebergPruning.encodeBound]]
    * accepts. Unhandled types / NaN → None (no bound emitted → no pruning
    * on that column; conservative). */
  private def statValue(dt: DataType, raw: Any): Option[Any] = (dt, raw) match {
    case (IntegerType | DateType, i: java.lang.Integer) => Some(i)
    case (LongType | TimestampType | TimestampNTZType, l: java.lang.Long) => Some(l)
    case (FloatType, f: java.lang.Float) if !f.isNaN => Some(f)
    case (DoubleType, d: java.lang.Double) if !d.isNaN => Some(d)
    case (StringType, b: Binary) => Some(b.toStringUsingUTF8)
    case (d: DecimalType, l: java.lang.Long) =>
      Some(java.math.BigDecimal.valueOf(l, d.scale))
    case (d: DecimalType, i: java.lang.Integer) =>
      Some(java.math.BigDecimal.valueOf(i.longValue, d.scale))
    case (d: DecimalType, b: Binary) =>
      Some(new java.math.BigDecimal(new java.math.BigInteger(b.getBytes), d.scale))
    case _ => None
  }

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    // strings merge under the same unsigned UTF-8 ordering parquet stats
    // use — UTF-16 compareTo would pick a wrong min/max across row groups
    case (x: String, y: String) => IcebergPruning.utf8Compare(x, y)
    case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  /** The spec's `write.metadata.metrics.default = truncate(16)`: string
    * bounds longer than 16 code points are truncated in the manifests —
    * unbounded document-text bounds would bloat every manifest a 100 TB
    * table plans from. UTF-8 byte order (what [[IcebergPruning.utf8Compare]]
    * compares) IS code-point order, so a truncated prefix under-bounds
    * every string it prefixes. */
  private val BoundTruncateLength = 16

  private def truncateLower(s: String): String =
    if (s.codePointCount(0, s.length) <= BoundTruncateLength) s
    else s.substring(0, s.offsetByCodePoints(0, BoundTruncateLength))

  /** Upper bound: truncate, then increment the last incrementable code
    * point (the result is ≥ every string sharing the prefix; the
    * surrogate block is skipped — its values aren't code points). None
    * when nothing can grow — the caller keeps the full value, which is
    * always sound. */
  private def truncateUpper(s: String): Option[String] =
    if (s.codePointCount(0, s.length) <= BoundTruncateLength) Some(s)
    else IcebergPruning.incrementLastCodePoint(truncateLower(s))

  /** Row count + per-column min/max bounds from one parquet FOOTER —
    * KB-scale I/O per file (no data pages). Parquet-mr's own binary-stats
    * truncation (min truncated down, max padded up) keeps the derived
    * bounds conservative by construction. */
  private def footerStats(
      st: FileStatus, conf: Configuration,
      fields: Map[String, (Int, DataType)]): (Long, Map[Int, Array[Byte]], Map[Int, Array[Byte]], Map[Int, Long], Seq[Long], Map[Int, Long]) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    try {
      val lower = scala.collection.mutable.Map.empty[Int, (DataType, Any)]
      val upper = scala.collection.mutable.Map.empty[Int, (DataType, Any)]
      // null counts sum across row groups; a single chunk without stats
      // poisons its column (None = unknown, NOT zero — emitting 0 for an
      // unknown would let eq-delete scoping wrongly rule files out)
      val nulls = scala.collection.mutable.Map.empty[Int, Option[Long]]
      // spec nan_value_counts, float/double only, and ONLY the provable
      // value 0: parquet-mr min/max run through Math.min/max, which any
      // NaN poisons to NaN — so clean decodable stats prove a NaN-free
      // chunk. One unclean chunk → unknown → no count emitted (pruning
      // must then keep the file for >/>= predicates).
      val nanZero = scala.collection.mutable.Map.empty[Int, Boolean]
      for {
        block <- r.getFooter.getBlocks.asScala
        chunk <- block.getColumns.asScala
        (id, dt) <- fields.get(chunk.getPath.toDotString)
        stats = chunk.getStatistics
      } {
        val chunkNulls =
          if (stats != null && !stats.isEmpty && stats.isNumNullsSet)
            Some(stats.getNumNulls)
          else None
        nulls(id) = (nulls.getOrElse(id, Some(0L)), chunkNulls) match {
          case (Some(a), Some(b)) => Some(a + b)
          case _ => None
        }
        if (dt == FloatType || dt == DoubleType) {
          val clean = stats != null && !stats.isEmpty &&
            (!stats.hasNonNullValue ||
              (statValue(dt, stats.genericGetMin).isDefined &&
               statValue(dt, stats.genericGetMax).isDefined))
          nanZero(id) = nanZero.getOrElse(id, true) && clean
        }
        if (stats != null && !stats.isEmpty && stats.hasNonNullValue) {
          statValue(dt, stats.genericGetMin).foreach { v =>
            lower(id) = lower.get(id).filter(p => cmp(p._2, v) <= 0).getOrElse((dt, v))
          }
          statValue(dt, stats.genericGetMax).foreach { v =>
            upper(id) = upper.get(id).filter(p => cmp(p._2, v) >= 0).getOrElse((dt, v))
          }
        }
      }
      def enc(m: scala.collection.Map[Int, (DataType, Any)], upperSide: Boolean) =
        m.flatMap { case (id, (dt, v)) =>
          val adjusted: Any = (dt, v) match {
            // The reserved position-delete file_path bound stays EXACT:
            // path-range scoping lives on full-fidelity prefixes (every
            // path in a table shares its first 16 chars), and it's two
            // strings per delete file, not per-column bloat.
            case (StringType, s: String) if id != PosDeleteFilePathFieldId =>
              if (upperSide) truncateUpper(s).getOrElse(s) else truncateLower(s)
            case _ => v
          }
          IcebergPruning.encodeBound(dt, adjusted).map(id -> _)
        }.toMap
      (r.getRecordCount, enc(lower, upperSide = false), enc(upper, upperSide = true),
        nulls.collect { case (id, Some(n)) => id -> n }.toMap,
        // spec split_offsets (field 132): row-group starting positions
        r.getFooter.getBlocks.asScala.map(_.getStartingPos).toSeq,
        nanZero.collect { case (id, true) => id -> 0L }.toMap)
    } finally r.close()
  }

  /** All data files under `dir` (recursively — partitioned writes nest
    * hive dirs), with partition values parsed from `__gp_*=` path segments
    * and bounds from footers. */
  private def collectFiles(
      dir: Path, conf: Configuration, spec: Seq[SpecField],
      fields: Map[String, (Int, DataType)],
      dataFormat: String = "parquet"): Seq[WrittenFile] = {
    val fs = dir.getFileSystem(conf)
    val ext = "." + dataFormat.toLowerCase
    // never register in-flight/orphaned avro staging output
    // (defense in depth: the writer also deletes its staging tree)
    val files = filesUnder(fs, dir).filter(s => s.getPath.getName.endsWith(ext) &&
      !s.getPath.toString.contains("/" + AvroFiles.StagingPrefix))
    // Footer reads in bounded parallel (same pool pattern as the manifest
    // fetch) — a commit may add O(10k) files and a sequential driver loop
    // over an object store would dominate commit time.
    import scala.concurrent.duration._
    val parallelism = conf.getInt(ManifestReader.FetchParallelismKey, 16)
    val timeout = conf.getLong(ManifestReader.FetchTimeoutSecKey, 300L).seconds
    DriverPool.mapParallel(
      files.sortBy(_.getPath.toString), parallelism, timeout,
      "graft-footer-read") { st =>
      val segs = st.getPath.toString.split('/')
      val partition = spec.flatMap { sf =>
        val prefix = s"__gp_${sf.fieldName}="
        segs.find(_.startsWith(prefix))
          .map(seg => sf.fieldName -> parseDirValue(sf, seg.stripPrefix(prefix)))
      }.toMap
      val (count, lower, upper, nulls, splits, nans) =
        if (dataFormat.equalsIgnoreCase("orc")) orcStats(st, conf, fields)
        // avro containers carry no column statistics: record count AND
        // block sync offsets from the header walk (split_offsets), no
        // bounds (no column pruning for avro files; sound)
        else if (dataFormat.equalsIgnoreCase("avro")) {
          val (rows, blockOffsets) = AvroFiles.blockIndex(st.getPath, conf)
          (rows, Map.empty[Int, Array[Byte]], Map.empty[Int, Array[Byte]],
            Map.empty[Int, Long], blockOffsets, Map.empty[Int, Long])
        }
        else footerStats(st, conf, fields)
      WrittenFile(st.getPath.toString, count, partition, lower, upper, nulls,
        sizeBytes = st.getLen, format = dataFormat.toUpperCase,
        splitOffsets = splits, nans = nans)
      // zero-row part files (empty tasks, CREATE TABLE's empty frame) are
      // pure noise: registering one pads every future scan's file list and,
      // carrying no stats, it survives all pruning forever — the SINGLE
      // zero-row guard for every collectFiles consumer (data, position-
      // delete and equality-delete registration)
    }.filter(_.count > 0)
  }

  /** ORC footer statistics — row count, per-column null counts and
    * min/max bounds for the primitive types ORC's `ColumnStatistics`
    * exposes. Unhandled types emit no bound (no pruning for that column;
    * always sound). Top-level flat columns only: ORC's statistics array
    * is indexed by flattened schema position (root at 0). */
  private def orcStats(
      st: FileStatus, conf: Configuration,
      fields: Map[String, (Int, DataType)]):
      (Long, Map[Int, Array[Byte]], Map[Int, Array[Byte]], Map[Int, Long], Seq[Long], Map[Int, Long]) = {
    val reader = org.apache.orc.OrcFile.createReader(
      st.getPath, org.apache.orc.OrcFile.readerOptions(conf))
    try {
      val rows = reader.getNumberOfRows
      val schema = reader.getSchema
      val stats = reader.getStatistics
      val names = schema.getFieldNames.asScala
      val lower = scala.collection.mutable.Map.empty[Int, Array[Byte]]
      val upper = scala.collection.mutable.Map.empty[Int, Array[Byte]]
      val nulls = scala.collection.mutable.Map.empty[Int, Long]
      names.zipWithIndex.foreach { case (name, i) =>
        fields.get(name).foreach { case (id, dt) =>
          val cs = stats(schema.getChildren.get(i).getId)
          nulls(id) = rows - cs.getNumberOfValues
          def put(lo: Option[Any], hi: Option[Any]): Unit = {
            lo.flatMap(IcebergPruning.encodeBound(dt, _)).foreach(lower(id) = _)
            hi.flatMap(IcebergPruning.encodeBound(dt, _)).foreach(upper(id) = _)
          }
          if (cs.getNumberOfValues > 0) cs match {
            case s: org.apache.orc.IntegerColumnStatistics =>
              dt match {
                case IntegerType | DateType => put(
                  Some(Int.box(s.getMinimum.toInt)), Some(Int.box(s.getMaximum.toInt)))
                case LongType => put(
                  Some(Long.box(s.getMinimum)), Some(Long.box(s.getMaximum)))
                case _ => ()
              }
            case s: org.apache.orc.StringColumnStatistics
                if dt == StringType && s.getMinimum != null =>
              put(Some(truncateLower(s.getMinimum)),
                Some(truncateUpper(s.getMaximum).getOrElse(s.getMaximum)))
            case s: org.apache.orc.DoubleColumnStatistics =>
              dt match {
                case DoubleType if !s.getMinimum.isNaN => put(
                  Some(Double.box(s.getMinimum)), Some(Double.box(s.getMaximum)))
                case FloatType if !s.getMinimum.isNaN => put(
                  Some(Float.box(s.getMinimum.toFloat)),
                  Some(Float.box(s.getMaximum.toFloat)))
                case _ => ()
              }
            case _ => ()
          }
        }
      }
      (rows, lower.toMap, upper.toMap, nulls.toMap,
        // spec split_offsets: ORC stripe starting positions
        reader.getStripes.asScala.map(_.getOffset).toSeq,
        // ORC statistics silently exclude NaN, so a clean min/max proves
        // nothing about NaN presence — no nan count is ever provable here
        // (float/double >/>= pruning keeps ORC files; bounds still serve
        // Lt/Le/Eq)
        Map.empty[Int, Long])
    } finally reader.close()
  }

  /** Iceberg reserved field id of the `file_path` column in position-delete
    * files (spec "Reserved field ids"): bounds recorded under it let a
    * planner skip delete files whose target-path range can't intersect the
    * scan's surviving data files. */
  private[graft] val PosDeleteFilePathFieldId = 2147483546

  /** Position-delete files under `dir` with `file_path` bounds from their
    * footers keyed by the reserved id — the stats the scan's
    * position-delete scoping consumes. */
  private def posDeleteFiles(dir: Path, conf: Configuration): Seq[WrittenFile] =
    // zero-row parts are filtered inside collectFiles itself
    collectFiles(dir, conf, Seq.empty,
      Map("file_path" -> (PosDeleteFilePathFieldId, StringType)))

  /** Distributed parquet write (with field ids; hive-partitioned when the
    * spec is non-empty) → written-file stats for the manifest.
    *
    * `sortBy` applies a WITHIN-PARTITION sort (partition-dir columns
    * first, so the file writer's required ordering is satisfied by our
    * sort instead of inserting its own and discarding the data order).
    * Combined with `maxRecordsPerFile` in `options`, a task's output
    * splits into files covering DISJOINT sort-key ranges — the footer
    * min/max each file contributes to the manifest become tight, which
    * is what makes bounds pruning bite (Iceberg sorted-write layout). */
  private def writeDataFiles(
      df: DataFrame, dataDir: Path,
      spec: Seq[SpecField] = Seq.empty,
      sortBy: Seq[String] = Seq.empty,
      options: Map[String, String] = Map.empty,
      prevIds: Map[String, Int] = Map.empty,
      dataFormat: String = "parquet"): Seq[WrittenFile] = {
    // Field ids into the parquet footers, from the SAME (path → id)
    // assignment commitSnapshot emits in the schema JSON (existing ids —
    // including a foreign table's layout — preserved; fresh ids for new
    // fields). Nested ids must live IN the attribute's DataType — the
    // parquet writer walks the column type, not the Dataset schema — so
    // nested columns are cast to the metadata-bearing type (the cast
    // survives optimization precisely because the types differ by
    // metadata; Dataset.to() shows such metadata in .schema but never
    // attaches it to the plan's attributes).
    // Materialized row-lineage columns (compaction rewrites, spec v3) are
    // NOT table columns: they take the spec's RESERVED field ids, never
    // fresh ones — a fresh id here could later collide with a real
    // column's id and resurrect lineage values under that column's name.
    val lineageIds = Map(
      RowIdCol -> RowIdFieldId, LastUpdatedSeqCol -> LastUpdatedSeqFieldId)
    val logicalFields = df.schema.fields.filterNot(f => lineageIds.contains(f.name))
    val assigned = assignIds(StructType(logicalFields), prevIds) ++ lineageIds
    val withIds = df.select(df.schema.fields.map { f =>
      val typed = typeWithIds(f.dataType, f.name + ".", assigned)
      val c = if (typed == f.dataType) col(f.name) else col(f.name).cast(typed)
      c.as(f.name, new MetadataBuilder()
        .putLong("parquet.field.id", assigned(f.name).toLong).build())
    }.toIndexedSeq: _*)
    val gpNames = spec.map(sf => s"__gp_${sf.fieldName}")
    val withParts = spec.zip(gpNames).foldLeft(withIds) { case (d, (sf, gp)) =>
      d.withColumn(gp, transformCol(sf, d.sparkSession))
    }
    val sorted =
      if (sortBy.isEmpty) withParts
      else withParts.sortWithinPartitions((gpNames ++ sortBy).map(col): _*)
    if (dataFormat.equalsIgnoreCase("avro"))
      // no Spark avro module in this deployment — the bridge writes the
      // same hive layout from inside the executors
      AvroFiles.writePartitioned(sorted, dataDir, gpNames)
    else {
      val writer = sorted.write.options(options).format(dataFormat.toLowerCase)
      (if (gpNames.nonEmpty) writer.partitionBy(gpNames: _*) else writer)
        .save(dataDir.toString)
    }
    // manifest bounds keyed by the same assigned top-level ids (lineage
    // columns excluded — they are file payload, not manifest surface)
    val fields = logicalFields.map { f =>
      f.name -> (assigned(f.name), f.dataType)
    }.toMap
    collectFiles(dataDir, df.sparkSession.sessionState.newHadoopConf(), spec, fields,
      dataFormat)
  }

  /** Raw per-manifest stats captured at [[writeManifest]] time, finalized
    * into spec [[ManifestStats]] at manifest-LIST write time (which knows
    * the manifest's list-level sequence number, the commit snapshot id and
    * the resolved partition-spec id — none available while the manifest
    * itself is written). */
  private final case class PendingStats(
      length: Long,
      added: Int, existing: Int, deleted: Int,
      addedRows: Long, existingRows: Long, deletedRows: Long,
      // min over entries' EXPLICIT sequence numbers; entries without one
      // inherit the manifest's list-level seq, folded in at finalize
      minExplicitSeq: Option[Long], anyInheritedSeq: Boolean,
      partitionNames: Seq[String],
      summaries: Option[Seq[FieldSummary]])

  // (manifest path → pending stats) for manifests written THIS commit —
  // lets the list writer emit full v2 records without re-reading files it
  // just wrote. Bounded LRU: paths carry a per-commit random token, so
  // stale entries are only ever dead weight, never aliases.
  private val pendingStatsMemo =
    new java.util.LinkedHashMap[String, PendingStats](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, PendingStats]): Boolean = size > 1024
    }

  /** Value summary of one partition field across a manifest's entries
    * (spec `field_summary`). Bounds only when EVERY entry carries a
    * non-null value of one encodable type: a null or ABSENT partition
    * value means "this file is unconstrained on the field" under the
    * entry-level pruner's own rule (keepByPartition keeps on null —
    * merged manifests can span partition-spec evolution, where
    * pre-evolution files hold rows of ANY value), so claiming bounds
    * over the remaining files would let manifest-level pruning skip a
    * manifest whose unconstrained file matches. No bound ever, only a
    * missed skip. */
  private def summaryOf(vs: Seq[Option[Any]]): FieldSummary = {
    val anyUnconstrained = vs.exists(v => v.isEmpty || v.contains(null))
    if (anyUnconstrained)
      return FieldSummary(containsNull = true, containsNan = None,
        lowerBound = None, upperBound = None)
    val nonNull = vs.flatten
    def enc(dt: DataType, v: Any) = IcebergPruning.encodeBound(dt, v)
    val (lo, hi) = nonNull.headOption match {
      case Some(_: java.lang.Integer) if nonNull.forall(_.isInstanceOf[java.lang.Integer]) =>
        val ns = nonNull.map(_.asInstanceOf[java.lang.Integer].intValue)
        (enc(IntegerType, Int.box(ns.min)), enc(IntegerType, Int.box(ns.max)))
      case Some(_: java.lang.Long) if nonNull.forall(_.isInstanceOf[java.lang.Long]) =>
        val ns = nonNull.map(_.asInstanceOf[java.lang.Long].longValue)
        (enc(LongType, Long.box(ns.min)), enc(LongType, Long.box(ns.max)))
      case Some(_: String) if nonNull.forall(_.isInstanceOf[String]) =>
        val ss = nonNull.map(_.asInstanceOf[String])
        val mn = ss.reduce((a, b) => if (IcebergPruning.utf8Compare(a, b) <= 0) a else b)
        val mx = ss.reduce((a, b) => if (IcebergPruning.utf8Compare(a, b) >= 0) a else b)
        (Some(mn.getBytes("UTF-8")), Some(mx.getBytes("UTF-8")))
      case _ => (None, None)
    }
    FieldSummary(containsNull = false, containsNan = None,
      lowerBound = lo, upperBound = hi)
  }

  private def computePending(
      entries: Seq[ManifestEntry], partitionNames: Seq[String],
      length: Long): PendingStats = {
    def cnt(st: Int) = entries.count(_.status == st)
    def rows(st: Int) = entries.iterator.filter(_.status == st).map(_.recordCount).sum
    PendingStats(
      length,
      added = cnt(1), existing = cnt(0), deleted = cnt(2),
      addedRows = rows(1), existingRows = rows(0), deletedRows = rows(2),
      minExplicitSeq = entries.flatMap(_.sequenceNumber).minOption,
      anyInheritedSeq = entries.isEmpty || entries.exists(_.sequenceNumber.isEmpty),
      partitionNames = partitionNames,
      summaries =
        if (partitionNames.isEmpty) None
        else Some(partitionNames.map(n =>
          summaryOf(entries.map(_.partition.get(n))))))
  }

  private def writeManifest(
      p: Path, conf: Configuration, entries: Seq[ManifestEntry],
      partitionFields: Seq[(String, String)] = Seq.empty): Unit = {
    val entrySchema = entrySchemaFor(partitionFields)
    val dataFileSchema = entrySchema.getField("data_file").schema()
    // per-field item records: the spec schema (and the reference's full
    // codec) names lower/upper bound items DISTINCTLY (k126_v127 vs
    // k129_v130) — strict name-resolving readers refuse a shared name
    def boundsArray(field: String, m: Map[Int, Array[Byte]]): java.util.List[GenericRecord] = {
      val itemSchema = dataFileSchema.getField(field).schema()
        .getTypes.get(1).getElementType // non-null branch of the union
      val arr = new java.util.ArrayList[GenericRecord](m.size)
      m.toSeq.sortBy(_._1).foreach { case (k, v) =>
        val kv = new GenericData.Record(itemSchema)
        kv.put("key", k)
        kv.put("value", ByteBuffer.wrap(v))
        arr.add(kv)
      }
      arr
    }
    writeAvro(entrySchema, p, conf) {
      entries.map { e =>
        val dfr = new GenericData.Record(dataFileSchema)
        dfr.put("content", e.content)
        dfr.put("file_path", e.filePath)
        dfr.put("file_format", e.fileFormat)
        dfr.put("record_count", e.recordCount)
        dfr.put("file_size_in_bytes", e.fileSizeInBytes)
        val pSchema = dataFileSchema.getField("partition").schema()
        val pr = new GenericData.Record(pSchema)
        partitionFields.foreach { case (n, _) =>
          pr.put(n, e.partition.getOrElse(n, null))
        }
        dfr.put("partition", pr)
        if (e.lowerBounds.nonEmpty)
          dfr.put("lower_bounds", boundsArray("lower_bounds", e.lowerBounds))
        if (e.upperBounds.nonEmpty)
          dfr.put("upper_bounds", boundsArray("upper_bounds", e.upperBounds))
        def countsArray(field: String, m: Map[Int, Long]): Unit =
          if (m.nonEmpty) {
            val cSchema = dataFileSchema.getField(field).schema()
              .getTypes.get(1)
            val arr = new java.util.ArrayList[GenericRecord](m.size)
            m.toSeq.sortBy(_._1).foreach { case (k, v) =>
              val kv = new GenericData.Record(cSchema.getElementType)
              kv.put("key", k)
              kv.put("value", v)
              arr.add(kv)
            }
            dfr.put(field, arr)
          }
        countsArray("null_value_counts", e.nullCounts)
        countsArray("nan_value_counts", e.nanCounts)
        if (e.splitOffsets.nonEmpty)
          dfr.put("split_offsets", e.splitOffsets.map(Long.box).asJava)
        if (e.equalityIds.nonEmpty)
          dfr.put("equality_ids", e.equalityIds.map(Int.box).asJava)
        e.referencedDataFile.foreach(dfr.put("referenced_data_file", _))
        e.contentOffset.foreach(o => dfr.put("content_offset", Long.box(o)))
        e.contentSizeInBytes.foreach(s => dfr.put("content_size_in_bytes", Long.box(s)))
        e.firstRowId.foreach(r => dfr.put("first_row_id", Long.box(r)))
        val rec = new GenericData.Record(entrySchema)
        rec.put("status", e.status)
        // explicit per-entry data sequence number (spec field 3) — written
        // only by manifest-merge maintenance; null inherits the manifest's
        e.sequenceNumber.foreach(s => rec.put("sequence_number", Long.box(s)))
        rec.put("data_file", dfr)
        rec
      }
    }
    val length = p.getFileSystem(conf).getFileStatus(p).getLen
    val pending = computePending(entries, partitionFields.map(_._1), length)
    pendingStatsMemo.synchronized { pendingStatsMemo.put(p.toString, pending); () }
  }

  /** The spec-id (and its ordered field names) this commit's manifest-list
    * records will carry — the SAME match-or-append resolution
    * [[commitSnapshot]]'s partition-spec block performs later on the
    * metadata root, evaluated early because the manifest list is written
    * first. An empty `spec` keeps the table's current default. */
  private def resolveCommitSpec(
      state: Option[State], spec: Seq[SpecField]): (Int, Seq[String]) = {
    val prevRoot = state.flatMap(_.rootNode).filter(_.has("partition-specs"))
    val prevSpecs = prevRoot
      .map(_.get("partition-specs").elements.asScala.toSeq).getOrElse(Seq.empty)
    def normTransform(t: String): String = if (t == "days") "day" else t
    val newTriples = spec.map(sf => (sf.fieldName, normTransform(sf.transform), sf.sourceId))
    def triplesOf(sn: JsonNode): Seq[(String, String, Int)] =
      sn.get("fields").elements.asScala.toSeq.map(f =>
        (f.get("name").asText, f.get("transform").asText, f.get("source-id").asInt))
    def namesOf(sn: JsonNode): Seq[String] =
      sn.get("fields").elements.asScala.toSeq.map(_.get("name").asText)
    if (spec.isEmpty && prevRoot.isDefined) {
      val dflt =
        if (prevRoot.get.has("default-spec-id")) prevRoot.get.get("default-spec-id").asInt
        else 0
      prevSpecs.find(sn => sn.has("spec-id") && sn.get("spec-id").asInt == dflt)
        .map(sn => (dflt, namesOf(sn))).getOrElse((dflt, Seq.empty))
    } else prevSpecs.find(sn => triplesOf(sn) == newTriples) match {
      case Some(sn) => (sn.get("spec-id").asInt, namesOf(sn))
      case None =>
        val id =
          if (prevSpecs.nonEmpty)
            prevSpecs.map(sn => if (sn.has("spec-id")) sn.get("spec-id").asInt else 0).max + 1
          else 0
        (id, spec.map(_.fieldName))
    }
  }

  /** (spec-id, ordered field names) of every spec the table records. */
  private def recordedSpecs(state: Option[State]): Seq[(Int, Seq[String])] =
    state.flatMap(_.rootNode).filter(_.has("partition-specs")).toSeq.flatMap { r =>
      r.get("partition-specs").elements.asScala.toSeq.map { sn =>
        (if (sn.has("spec-id")) sn.get("spec-id").asInt else 0,
         sn.get("fields").elements.asScala.toSeq.map(_.get("name").asText))
      }
    }

  /** Recompute pending stats for a carried manifest whose parent list
    * predates the full schema (rounds 2-9, or the reference's partial
    * writer) — a one-time upgrade read per legacy manifest; once a commit
    * re-lists it with full stats, every later commit carries them forward
    * from [[ManifestReader.readManifestList]] without touching the file. */
  private def pendingFromRead(
      m: Manifest, conf: Configuration, state: Option[State]): PendingStats = {
    val entries =
      ManifestReader.readManifestEntries(m.manifestPath, conf, formatVersion = 2)
    val nameSet = entries.flatMap(_.partition.keys).toSet
    // summaries are positional per spec — only a recorded spec whose
    // field-name set matches the manifest's yields a safe ordering
    val ordered = recordedSpecs(state).collectFirst {
      case (_, names) if names.toSet == nameSet && names.size == nameSet.size => names
    }
    val length = scala.util.Try(
      new Path(m.manifestPath).getFileSystem(conf).getFileStatus(
        new Path(m.manifestPath)).getLen).getOrElse(0L)
    computePending(entries, ordered.getOrElse(Seq.empty), length)
  }

  /** Finalize one manifest's list-record stats: carried manifests keep the
    * stats their parent list recorded; fresh ones resolve from the write
    * memo; legacy carried ones recompute once. */
  private def resolvedStats(
      m: Manifest, conf: Configuration, snapshotId: Long,
      commitSpec: (Int, Seq[String]), state: Option[State]): ManifestStats =
    m.stats.getOrElse {
      val pending = pendingStatsMemo.synchronized(
        Option(pendingStatsMemo.get(m.manifestPath)))
        .getOrElse(pendingFromRead(m, conf, state))
      val minSeq =
        if (pending.anyInheritedSeq)
          math.min(m.sequenceNumber, pending.minExplicitSeq.getOrElse(m.sequenceNumber))
        else pending.minExplicitSeq.getOrElse(m.sequenceNumber)
      val (specId, summaries) =
        if (pending.partitionNames == commitSpec._2) (commitSpec._1, pending.summaries)
        else recordedSpecs(state).find(_._2 == pending.partitionNames) match {
          case Some((id, _)) => (id, pending.summaries)
          // fields don't align to any recorded spec (e.g. merged manifests
          // spanning spec evolution): spec-id still names the commit's
          // spec, but NO summaries are claimed under it — counts stay
          // valid, manifest-level pruning skips this manifest
          case None => (commitSpec._1, None)
        }
      ManifestStats(
        manifestLength = pending.length,
        partitionSpecId = specId,
        minSequenceNumber = minSeq,
        addedSnapshotId = snapshotId,
        addedFilesCount = pending.added,
        existingFilesCount = pending.existing,
        deletedFilesCount = pending.deleted,
        addedRowsCount = pending.addedRows,
        existingRowsCount = pending.existingRows,
        deletedRowsCount = pending.deletedRows,
        partitions = summaries)
    }

  /** Manifest-count threshold above which a commit rewrites the manifests
    * it carries into ONE merged manifest per content class (metadata-only
    * maintenance — no data file is touched). Without this, continuous
    * ingestion grows the manifest list linearly in commits and scan
    * planning I/O with it; with it, planning reads a bounded number of
    * manifest files regardless of commit count. */
  val ManifestMergeMinCountKey = "spark.graft.iceberg.manifestMergeMinCount"
  private val DefaultManifestMergeMinCount = 10

  /** Avro types of a merged manifest's partition record, recovered from
    * the entries' decoded values (the original per-manifest Avro schemas
    * may differ across spec evolution; the union of fields is written,
    * absent values as null). All-null fields type as "string" — any
    * nullable branch serializes a null. */
  private def mergedPartitionFields(entries: Seq[ManifestEntry]): Seq[(String, String)] =
    entries.flatMap(_.partition.keys).distinct.map { n =>
      val avroType = entries.flatMap(_.partition.get(n)).collectFirst {
        case _: java.lang.Integer => "int"
        case _: java.lang.Long => "long"
        case _: String => "string"
      }.getOrElse("string")
      (n, avroType)
    }

  /** When the commit would carry more than the threshold, rewrite each
    * content class's manifests into one merged manifest whose entries
    * carry their effective sequence numbers EXPLICITLY (Iceberg spec
    * "Manifests" field 3 — inheritance only applies to null), so
    * equality-delete scoping and incremental reads see exactly the
    * sequence numbers the original manifest list implied. Carried ADDED
    * entries become EXISTING, per spec; DELETED markers are preserved.
    * Older snapshots still point at the original (untouched) manifests,
    * so time travel is unaffected. */
  private def maybeMergeManifests(
      path: String, conf: Configuration, snapshotId: Long,
      manifests: Seq[Manifest]): Seq[Manifest] = {
    val threshold = conf.getInt(ManifestMergeMinCountKey, DefaultManifestMergeMinCount)
    if (manifests.size <= threshold) return manifests
    mergeManifestGroups(path, conf, snapshotId, manifests)
  }

  /** One merged manifest per content class (entries keep their effective
    * sequence numbers EXPLICITLY, ADDED demotes to EXISTING); classes
    * with a single manifest, or partition value types the merged schema
    * can't model, carry through untouched. */
  private def mergeManifestGroups(
      path: String, conf: Configuration, snapshotId: Long,
      manifests: Seq[Manifest]): Seq[Manifest] = {
    import scala.concurrent.duration._
    val parallelism = conf.getInt(ManifestReader.FetchParallelismKey, 16)
    val timeout = conf.getLong(ManifestReader.FetchTimeoutSecKey, 300L).seconds
    manifests.groupBy(_.content).toSeq.sortBy(_._1).flatMap {
      case (_, Seq(single)) => Seq(single)
      case (content, ms) =>
        val carried = DriverPool.mapParallel(
          ms, parallelism, timeout, "graft-manifest-merge") { m =>
          m -> ManifestReader.readManifestEntries(m.manifestPath, conf, formatVersion = 2)
        }
        // Foreign writers can carry partition value types our merged
        // manifest schema does not model (boolean/float/...): merging
        // would mistype them — leave such a class unmerged (correct,
        // just not compacted) rather than fail the commit.
        val mergeable = carried.forall(_._2.forall(_.partition.values.forall {
          case null | _: java.lang.Integer | _: java.lang.Long | _: String => true
          case _ => false
        }))
        if (!mergeable) ms
        else Seq(rewriteManifest(path, conf,
          s"snap-$snapshotId-${commitToken()}-merged-c$content.avro", carried) { e =>
          if (e.status == 1) e.copy(status = 0) else e // ADDED → EXISTING
        })
    }
  }

  /** The one rewrite of carried manifest entries: writes `carried` —
    * entries with the manifest they come from — into the new manifest
    * `metadata/<name>`. Each entry first pins its EFFECTIVE sequence
    * number (the new manifest sits at a new manifest-list position, where
    * inheritance would re-stamp it); `restamp` then sets its status or
    * first row id. A rewrite of one manifest keeps that manifest's
    * sequence number and content; a merge of several takes their
    * entries' highest sequence number. */
  private def rewriteManifest(
      path: String, conf: Configuration, name: String,
      carried: Seq[(Manifest, Seq[ManifestEntry])])(
      restamp: ManifestEntry => ManifestEntry): Manifest = {
    val entries = carried.flatMap { case (m, es) =>
      es.map(e => restamp(e.copy(sequenceNumber = Some(e.seqOr(m.sequenceNumber)))))
    }
    val p = new Path(path, s"metadata/$name")
    writeManifest(p, conf, entries, mergedPartitionFields(entries))
    val seq = carried match {
      case Seq((m, _)) => m.sequenceNumber
      case _ => entries.flatMap(_.sequenceNumber).maxOption.getOrElse(0L)
    }
    Manifest(p.toString, seq, carried.head._1.content)
  }

  /** Short random token embedded in every commit-scoped metadata file
    * name (real Iceberg prefixes manifests with a commit UUID for the
    * same reason): two writers racing from the same loaded state write
    * DISTINCT manifest/list/DV files, so the CAS loser can never have
    * clobbered a file the winner's committed metadata references — the
    * version-file CAS alone cannot protect files written BEFORE it. */
  private def commitToken(): String =
    java.util.UUID.randomUUID().toString.substring(0, 8)

  /** Write manifest list + metadata.json + hint; returns the snapshot id. */
  /** The v3 row-lineage high-water mark: the next unassigned _row_id.
    * Missing on v2 tables and on v3 tables from pre-lineage writers. */
  private def nextRowIdOf(state: Option[State]): Long =
    state.flatMap(_.rootNode)
      .flatMap(r => Option(r.get("next-row-id")).map(_.asLong)).getOrElse(0L)

  /** Assign spec-v3 row-lineage ranges to freshly-added data files: each
    * entry's `first_row_id` is a running offset from the table's
    * next-row-id, advancing by the file's record count. Returns the
    * entries plus the (firstRowId, newNextRowId) range for the commit —
    * None below v3 (lineage is a v3 feature) or when nothing was added. */
  private def assignRowIds(fv: Int, base: Long, entries: Seq[ManifestEntry])
      : (Seq[ManifestEntry], Option[(Long, Long)]) =
    if (fv < 3 || entries.isEmpty) (entries, None)
    else {
      var next = base
      val out = entries.map { e =>
        val a = e.copy(firstRowId = Some(next)); next += e.recordCount; a
      }
      (out, Some((base, next)))
    }

  private def commitSnapshot(
      path: String,
      conf: Configuration,
      state: Option[State],
      schema: StructType,
      snapshotId: Long,
      seq: Long,
      manifests: Seq[Manifest],
      spec: Seq[SpecField] = Seq.empty,
      operation: String = "append",
      summary: Map[String, String] = Map.empty,
      sortBy: Seq[String] = Seq.empty,
      branch: String = "main",
      // None = preserve the table's recorded version (2 for new tables);
      // Some(v) is used by v3 table creation and upgradeFormat
      formatVersion: Option[Int] = None,
      // v3 row lineage: Some((firstRowId, newNextRowId)) when this commit
      // assigned row ids to new data files (see assignRowIds)
      rowRange: Option[(Long, Long)] = None,
      // table-property changes this commit applies (merged over the
      // carried-forward map; existing keys win unless overridden here)
      propertiesDelta: Map[String, String] = Map.empty): Long = {
    state.foreach(st => st.refs.get(branch).foreach { case (_, tpe) =>
      require(tpe == "branch", s"cannot commit to '$branch': it is a $tpe")
    })
    val metaDir = new Path(path, "metadata")
    val listPath = new Path(metaDir, s"snap-$snapshotId-${commitToken()}-1-list.avro")
    val kept = maybeMergeManifests(path, conf, snapshotId, manifests)
    val commitSpec = resolveCommitSpec(state, spec)
    val summarySchema = manifestListSchema.getField("partitions").schema()
      .getTypes.get(1).getElementType // non-null branch's element record
    val keptStats = kept.map(m =>
      m -> resolvedStats(m, conf, snapshotId, commitSpec, state))
    writeAvro(manifestListSchema, listPath, conf) {
      keptStats.map { case (m, st) =>
        val rec = new GenericData.Record(manifestListSchema)
        rec.put("manifest_path", m.manifestPath)
        rec.put("manifest_length", st.manifestLength)
        rec.put("partition_spec_id", st.partitionSpecId)
        rec.put("content", m.content)
        rec.put("sequence_number", m.sequenceNumber)
        rec.put("min_sequence_number", st.minSequenceNumber)
        rec.put("added_snapshot_id", st.addedSnapshotId)
        rec.put("added_data_files_count", st.addedFilesCount)
        rec.put("existing_data_files_count", st.existingFilesCount)
        rec.put("deleted_data_files_count", st.deletedFilesCount)
        rec.put("added_rows_count", st.addedRowsCount)
        rec.put("existing_rows_count", st.existingRowsCount)
        rec.put("deleted_rows_count", st.deletedRowsCount)
        st.partitions.foreach { sums =>
          val arr = new java.util.ArrayList[GenericRecord](sums.size)
          sums.foreach { s =>
            val sr = new GenericData.Record(summarySchema)
            sr.put("contains_null", s.containsNull)
            s.containsNan.foreach(b => sr.put("contains_nan", Boolean.box(b)))
            s.lowerBound.foreach(b => sr.put("lower_bound", ByteBuffer.wrap(b)))
            s.upperBound.foreach(b => sr.put("upper_bound", ByteBuffer.wrap(b)))
            arr.add(sr)
          }
          rec.put("partitions", arr)
        }
        rec
      }
    }
    val root: ObjectNode = mapper.createObjectNode()
    // v2 unless the table already records v3 / the commit upgrades to it.
    // Downgrades are rejected: v3 metadata (DV manifests) is not readable
    // under v2 rules.
    val fv = formatVersion.orElse(state.map(_.info.formatVersion)).getOrElse(2)
    state.foreach(st => require(fv >= st.info.formatVersion,
      s"cannot downgrade format-version ${st.info.formatVersion} -> $fv"))
    require(fv == 2 || fv == 3, s"unsupported format-version $fv")
    // `variant` exists only in the v3 spec — a v2 table with one would
    // read as an "unsupported type" error in every other engine
    if (fv < 3) {
      def hasVariant(dt: DataType): Boolean = dt match {
        case VariantType => true
        case s: StructType => s.fields.exists(f => hasVariant(f.dataType))
        case a: ArrayType => hasVariant(a.elementType)
        case m: MapType => hasVariant(m.keyType) || hasVariant(m.valueType)
        case _ => false
      }
      schema.fields.find(f => hasVariant(f.dataType)).foreach { f =>
        throw new IllegalArgumentException(
          s"column '${f.name}': variant requires format-version 3 " +
            "(pass formatVersion = 3 at table creation, or upgradeFormat an existing table)")
      }
    }
    root.put("format-version", fv)
    // Interchange fields other readers require (Iceberg spec "Table
    // Metadata"): location, uuid, last-* counters, sort orders. The uuid is
    // carried forward across commits like a real catalog would.
    root.put("location", path)
    root.put("table-uuid", state.flatMap(_.tableUuid)
      .getOrElse(java.util.UUID.randomUUID().toString))
    root.put("last-sequence-number", seq)
    root.put("last-snapshot-id", snapshotId)
    root.put("last-updated-ms",
      state.map(_.nextTsMs).getOrElse(System.currentTimeMillis()))
    require(schema.fields.length < NestedFieldIdBase,
      s"too many columns (${schema.fields.length}) for the nested-id scheme")
    // One deterministic (path → id) assignment shared with writeDataFiles'
    // parquet stamping: existing ids (including a foreign table's layout)
    // are preserved, new fields draw fresh ids.
    val assigned = assignIds(schema,
      state.flatMap(_.rootNode).map(existingIds).getOrElse(Map.empty))
    // SCHEMA HISTORY (Iceberg spec "Schemas"): previous schemas carry
    // forward and each snapshot records the schema-id it was written
    // with, so time travel reads a snapshot under its OWN schema. An
    // unchanged schema reuses its recorded id; an evolved one is
    // appended under a fresh id and becomes current.
    val newFields = mapper.createArrayNode()
    schema.fields.foreach { f =>
      val fn = newFields.addObject()
      fn.put("id", assigned(f.name))
      fn.put("name", f.name)
      fn.put("required", false)
      fn.set[JsonNode]("type", icebergTypeNode(f.dataType, f.name + ".", assigned))
    }
    val prevSchemaNodes = state.flatMap(_.rootNode)
      .flatMap(r => Option(r.get("schemas")))
      .map(_.elements.asScala.toSeq).getOrElse(Seq.empty)
    // Column DEFAULTS carry forward by field id from the table's current
    // schema: the rebuilt field nodes above don't know about
    // initial-default/write-default, and a schema-evolving commit that
    // re-emits the fields without them would silently drop the defaults.
    val currentDefaultsById: Map[Int, Seq[(String, JsonNode)]] = state.map { st =>
      prevSchemaNodes
        .find(p => Option(p.get("schema-id")).exists(_.asInt == st.info.schemaId))
        .toSeq.flatMap(p => p.get("fields").elements.asScala)
        .map { f =>
          f.get("id").asInt -> Seq("initial-default", "write-default")
            .flatMap(k => Option(f.get(k)).filterNot(_.isNull).map(k -> _))
        }.filter(_._2.nonEmpty).toMap
    }.getOrElse(Map.empty)
    if (currentDefaultsById.nonEmpty) newFields.elements.asScala.foreach { fn =>
      currentDefaultsById.get(fn.get("id").asInt).foreach(_.foreach {
        case (k, v) => fn.asInstanceOf[ObjectNode].set[JsonNode](k, v)
      })
    }
    // STRUCTURAL schema match (id/name/required/type only): a recorded
    // schema may carry extra keys the commit's rebuilt fields don't
    // (initial-default/write-default, doc) — a raw string compare would
    // mint a new schema without them and silently DROP column defaults
    // on the first append after addColumn.
    def canonFields(fields: JsonNode): Seq[String] =
      fields.elements.asScala.map { f =>
        val o = mapper.createObjectNode()
        o.set[JsonNode]("id", f.get("id"))
        o.put("name", f.get("name").asText)
        o.put("required", f.has("required") && f.get("required").asBoolean)
        o.set[JsonNode]("type", f.get("type"))
        o.toString
      }.toSeq
    val matchedSchema = prevSchemaNodes.find(p =>
      Option(p.get("fields")).exists(pf => canonFields(pf) == canonFields(newFields)))
    val schemaId = matchedSchema.map(_.get("schema-id").asInt).getOrElse(
      prevSchemaNodes.map(_.get("schema-id").asInt).maxOption.map(_ + 1).getOrElse(0))
    // only MAIN commits move the table's current schema: a branch commit
    // whose base predates a main-side evolution must not regress it
    root.put("current-schema-id",
      if (branch == "main") schemaId
      else state.map(_.info.schemaId).getOrElse(schemaId))
    val schemas: ArrayNode = root.putArray("schemas")
    prevSchemaNodes.foreach(schemas.add)
    if (matchedSchema.isEmpty) {
      val schemaNode = schemas.addObject()
      schemaNode.put("schema-id", schemaId)
      schemaNode.put("type", "struct")
      schemaNode.set[JsonNode]("fields", newFields)
    }
    // monotone across drops: the high-water mark never falls below a
    // previously-issued id, so dropped ids stay unreusable forever
    val prevLastColId = state.flatMap(_.rootNode)
      .flatMap(r => Option(r.get("last-column-id")).map(_.asInt)).getOrElse(0)
    root.put("last-column-id",
      (assigned.values.toSeq :+ schema.fields.length :+ prevLastColId).max)
    // A commit that carries no new spec (row-level deletes, updates,
    // plain appends to a partitioned table) PRESERVES the table's
    // existing partition-specs — erasing them would kill pruning and
    // contradict the partition tuples older manifests still encode.
    val prevRoot = state.flatMap(_.rootNode).filter(_.has("partition-specs"))
    def carryPrevSpecs(pr: JsonNode): Unit = {
      root.set[JsonNode]("partition-specs", pr.get("partition-specs"))
      root.put("default-spec-id",
        if (pr.has("default-spec-id")) pr.get("default-spec-id").asInt else 0)
      root.put("last-partition-id",
        if (pr.has("last-partition-id")) pr.get("last-partition-id").asInt else 999)
    }
    def normTransform(t: String): String = if (t == "days") "day" else t
    // (name, transform, source-id) triples of this commit's spec
    val newTriples = spec.map(sf => (sf.fieldName, normTransform(sf.transform), sf.sourceId))
    def triplesOf(sn: JsonNode): Seq[(String, String, Int)] =
      sn.get("fields").elements.asScala.toSeq.map(f =>
        (f.get("name").asText, f.get("transform").asText, f.get("source-id").asInt))
    val prevSpecs = prevRoot.map(_.get("partition-specs").elements.asScala.toSeq)
      .getOrElse(Seq.empty)
    // re-declaring ANY recorded spec (not just the default) reuses its
    // spec-id — a workload alternating two layouts must not grow the
    // spec list without bound
    val matchedSpec = prevSpecs.find(sn => triplesOf(sn) == newTriples)
    if (prevRoot.isDefined && (spec.isEmpty || matchedSpec.isDefined)) {
      // no spec carried, or a known spec re-declared: keep the history,
      // pointing the default at the re-declared spec. An EMPTY spec
      // argument always means "keep the current default" — never a
      // re-declaration of the recorded unpartitioned spec-0: maintenance
      // commits (compact, rewrites) pass no spec, and redirecting the
      // default to spec-0 there silently made an evolved table
      // unpartitioned-by-default (appends stopped writing partition
      // tuples; pruning died table-wide).
      carryPrevSpecs(prevRoot.get)
      if (spec.nonEmpty)
        matchedSpec.foreach(m => root.put("default-spec-id", m.get("spec-id").asInt))
    } else if (prevSpecs.nonEmpty) {
      // PARTITION SPEC EVOLUTION (Iceberg spec "Partition Evolution"):
      // the new spec is appended under a fresh spec-id and becomes the
      // default; older specs stay recorded, matching the partition tuples
      // their manifests still encode (old files keep pruning under their
      // own fields — a missing field means "keep"). Field names are kept
      // injective across the table's history: reusing a name for a
      // different transform/source would make name-keyed partition
      // tuples ambiguous (bucket[4] vs bucket[8] both project to
      // "c_bucket"), so that evolution is rejected.
      val prevFields = prevSpecs.flatMap(sn =>
        sn.get("fields").elements.asScala.toSeq.map(f =>
          f.get("name").asText ->
            (f.get("transform").asText, f.get("source-id").asInt, f.get("field-id").asInt)))
        .toMap
      val lastPartId = prevRoot
        .map(pr => if (pr.has("last-partition-id")) pr.get("last-partition-id").asInt else 999)
        .getOrElse(999)
      var nextFieldId = lastPartId
      val withIds = newTriples.map { case (name, t, srcId) =>
        prevFields.get(name) match {
          case Some((pt, ps, pf)) =>
            require(pt == t && ps == srcId,
              s"partition evolution: field '$name' already means $pt(source $ps) " +
                s"in an earlier spec of this table; evolving to $t(source $srcId) " +
                "would make its manifest partition tuples ambiguous — use a column " +
                "alias or a different transform")
            (name, t, srcId, pf)
          case None =>
            nextFieldId += 1
            (name, t, srcId, nextFieldId)
        }
      }
      val newSpecId = prevSpecs.map(_.get("spec-id").asInt).max + 1
      val specsNode = root.putArray("partition-specs")
      prevSpecs.foreach(specsNode.add)
      val specNode = specsNode.addObject()
      specNode.put("spec-id", newSpecId)
      val specFieldsNode = specNode.putArray("fields")
      withIds.foreach { case (name, t, srcId, fid) =>
        val fn = specFieldsNode.addObject()
        fn.put("name", name)
        fn.put("transform", t)
        fn.put("source-id", srcId)
        fn.put("field-id", fid)
      }
      root.put("default-spec-id", newSpecId)
      root.put("last-partition-id", (withIds.map(_._4) :+ lastPartId).max)
    } else {
      val specsNode = root.putArray("partition-specs")
      val specNode = specsNode.addObject()
      specNode.put("spec-id", 0)
      val specFieldsNode = specNode.putArray("fields")
      spec.foreach { sf =>
        val fn = specFieldsNode.addObject()
        fn.put("name", sf.fieldName)
        fn.put("transform", normTransform(sf.transform))
        fn.put("source-id", sf.sourceId)
        fn.put("field-id", sf.fieldId)
      }
      root.put("default-spec-id", 0)
      root.put("last-partition-id",
        (spec.map(_.fieldId) :+ 999).max)
    }
    // sort-orders (Iceberg spec "Sort Orders"): order 0 (unsorted) always
    // present, PRIOR orders carry forward (they are append-only table
    // metadata — a sort-less maintenance commit must not reset the
    // table's declared default), and a sorted write finds-or-adds its
    // identity/asc/nulls-first order and makes it the default.
    val prevOrders = state.flatMap(_.rootNode)
      .flatMap(r => Option(r.get("sort-orders")))
      .map(_.elements.asScala.toSeq).getOrElse(Seq.empty)
    val prevDefaultOrder = state.flatMap(_.rootNode)
      .flatMap(r => Option(r.get("default-sort-order-id")))
      .map(_.asInt).getOrElse(0)
    val sortOrders = root.putArray("sort-orders")
    if (prevOrders.nonEmpty) prevOrders.foreach(sortOrders.add)
    else {
      val unsortedNode = sortOrders.addObject()
      unsortedNode.put("order-id", 0)
      unsortedNode.putArray("fields")
    }
    val defaultOrderId =
      if (sortBy.isEmpty) prevDefaultOrder
      else {
        val desired = sortBy.map(c =>
          ("identity", assigned(c), "asc", "nulls-first"))
        def fieldsOf(o: JsonNode): Seq[(String, Int, String, String)] =
          Option(o.get("fields")).toSeq.flatMap(_.elements.asScala).map(f => (
            f.get("transform").asText, f.get("source-id").asInt,
            f.get("direction").asText, f.get("null-order").asText)).toSeq
        val existingIdsJson = sortOrders.elements.asScala.toSeq
        existingIdsJson.find(o => fieldsOf(o) == desired) match {
          case Some(o) => o.get("order-id").asInt
          case None =>
            val newId =
              existingIdsJson.map(_.get("order-id").asInt).max + 1
            val so = sortOrders.addObject()
            so.put("order-id", newId)
            val fs = so.putArray("fields")
            desired.foreach { case (t, sid, dir, no) =>
              val f = fs.addObject()
              f.put("transform", t)
              f.put("source-id", sid)
              f.put("direction", dir)
              f.put("null-order", no)
            }
            newId
        }
      }
    root.put("default-sort-order-id", defaultOrderId)
    // refs (Iceberg spec "Refs"): the committed branch's head advances;
    // every other ref carries forward. current-snapshot-id stays the MAIN
    // head, so a staged commit on an audit branch is invisible to plain
    // scans until fast-forward publish.
    val mainHead = if (branch == "main") snapshotId
                   else state.flatMap(_.branchHead("main")).getOrElse(snapshotId)
    val newRefs = state.map(_.refs).getOrElse(Map.empty) ++
      Map(branch -> (snapshotId, "branch"), "main" -> (mainHead, "branch"))
    writeRefsNode(root, newRefs,
      state.map(_.info.refRetention).getOrElse(Map.empty))
    // statistics entries carry forward: the commit's root is rebuilt
    // from scratch, and dropping them here would silently orphan every
    // analyze the moment any write lands. Their snapshots still exist.
    Seq("statistics", "partition-statistics").foreach { key =>
      state.flatMap(_.rootNode).flatMap(r => Option(r.get(key)))
        .filter(_.size > 0).foreach(root.set[JsonNode](key, _))
    }
    // table properties (spec "Table Metadata"): carried forward verbatim,
    // with this commit's delta merged over (e.g. write.format.default at
    // ORC table creation)
    val mergedProps = state.map(_.info.properties).getOrElse(Map.empty) ++ propertiesDelta
    if (mergedProps.nonEmpty) {
      val pn = root.putObject("properties")
      mergedProps.toSeq.sortBy(_._1).foreach { case (k, v) => pn.put(k, v) }
    }
    root.put("current-snapshot-id", mainHead)
    val snapsNode = root.putArray("snapshots")
    state.map(_.snapshots).getOrElse(Seq.empty).foreach(snapsNode.add)
    val sn = snapsNode.addObject()
    sn.put("snapshot-id", snapshotId)
    state.flatMap(_.branchHead(branch)).foreach(sn.put("parent-snapshot-id", _))
    sn.put("sequence-number", seq)
    val commitTs = state.map(_.nextTsMs).getOrElse(System.currentTimeMillis())
    sn.put("timestamp-ms", commitTs)
    sn.put("schema-id", schemaId)
    val sum = sn.putObject("summary")
    sum.put("operation", operation)
    summary.foreach { case (k, v) => sum.put(k, v) }
    // Standard TOTAL metrics (Iceberg spec "Snapshots" summary fields),
    // free from the manifest-list stats the commit just resolved —
    // external planners size incremental work off these. Caller-supplied
    // summary keys win.
    val dataStats = keptStats.collect { case (m, st) if m.content == 0 => st }
    val delStats = keptStats.collect { case (m, st) if m.content == 1 => st }
    Seq(
      "total-records" ->
        dataStats.map(s => s.addedRowsCount + s.existingRowsCount).sum,
      "total-data-files" ->
        dataStats.map(s => s.addedFilesCount.toLong + s.existingFilesCount).sum,
      "total-delete-files" ->
        delStats.map(s => s.addedFilesCount.toLong + s.existingFilesCount).sum
    ).foreach { case (k, v) =>
      if (!summary.contains(k)) sum.put(k, v.toString)
    }
    // Streaming batch-id bookkeeping must SURVIVE maintenance commits
    // (compact/expire/rollback write no batch id themselves): carry the
    // per-sink max forward, else a replayed batch after maintenance would
    // double-commit.
    val prevBatchIds = state.toSeq.flatMap(_.snapshots).flatMap { s =>
      Option(s.get("summary")).toSeq.flatMap { n =>
        n.fields.asScala.toSeq.collect {
          case e if e.getKey.startsWith(StreamBatchIdKey) =>
            e.getKey -> e.getValue.asText.toLong
        }
      }
    }
    prevBatchIds.groupMapReduce(_._1)(_._2)(math.max).foreach { case (k, v) =>
      if (!summary.contains(k)) sum.put(k, v.toString)
    }
    sn.put("manifest-list", listPath.toString)
    // v3 ROW LINEAGE bookkeeping: next-row-id is the table-level
    // high-water mark (monotone across every commit, carried even by
    // delete-only/maintenance commits); first-row-id on the snapshot
    // records where this commit's assignment started.
    if (fv >= 3) {
      root.put("next-row-id", rowRange.map(_._2).getOrElse(nextRowIdOf(state)))
      rowRange.foreach { case (first, _) => sn.put("first-row-id", first) }
    }
    root.put("last-updated-ms", commitTs)
    // the root is rebuilt from scratch: prior commit logs must be copied
    // over (like `statistics` above) or history would reset every commit
    state.flatMap(_.rootNode).foreach { prev =>
      Seq("snapshot-log", "metadata-log").foreach { k =>
        Option(prev.get(k)).filter(_.size > 0)
          .foreach(root.set[JsonNode](k, _))
      }
    }
    // a staged branch commit leaves the CURRENT snapshot (main's head)
    // unchanged, so only main commits enter the snapshot log
    appendLogs(root, state, path,
      if (branch == "main") Some(snapshotId -> commitTs) else None)

    commitVersion(metaDir, conf, state.map(_.version + 1).getOrElse(1), root)
    snapshotId
  }

  /** Rewrite metadata.json keeping only the snapshots `retain` accepts
    * (metadata-only vN+1 commit; expired snapshots' data/manifest files
    * stay on disk so readers pinned to old metadata versions don't
    * break). Returns how many snapshots were dropped. */
  /** Serialize a refs map onto a metadata root (shared by every commit
    * path so a future refs field cannot be dropped on one of them). */
  private def writeRefsNode(
      root: ObjectNode, refs: Map[String, (Long, String)],
      retention: Map[String, IcebergMetadataParser.RefRetention] = Map.empty): Unit =
    if (refs.nonEmpty) {
      val refsNode = root.putObject("refs")
      refs.toSeq.sortBy(_._1).foreach { case (name, (id, tpe)) =>
        val r = refsNode.putObject(name)
        r.put("snapshot-id", id)
        r.put("type", tpe)
        // retention policy fields (spec "Refs") carry forward with the ref
        // — a rewrite must not silently strip a foreign table's policies
        retention.get(name).foreach { ret =>
          ret.maxRefAgeMs.foreach(v => r.put("max-ref-age-ms", v): Unit)
          ret.maxSnapshotAgeMs.foreach(v => r.put("max-snapshot-age-ms", v): Unit)
          ret.minSnapshotsToKeep.foreach(v => r.put("min-snapshots-to-keep", v): Unit)
        }
      }
    }

  /** Spec "Metadata Log" default for `write.metadata.previous-versions-max`:
    * the log is BOUNDED — unreferenced old entries age out oldest-first, so
    * a table committed to for years doesn't grow metadata.json linearly. */
  private val MetadataLogMax = 100

  /** Append the spec's commit logs to a metadata root about to be written
    * as vN+1 (spec "Snapshot Log" / "Metadata Log"):
    *  - `metadata-log` gains the superseded file (`vN.metadata.json`) with
    *    its own last-updated-ms, capped at [[MetadataLogMax]];
    *  - `snapshot-log` gains a {timestamp-ms, snapshot-id} entry iff this
    *    commit CHANGED the current snapshot (`currentChangedTo`) — staged
    *    branch commits and metadata-only commits leave it untouched, so
    *    the log's tail always names the current snapshot.
    * Callers that rebuild the root from scratch must copy the prior logs
    * onto it first; callers that mutate a parsed root carry them free. */
  private def appendLogs(root: ObjectNode, state: Option[State], path: String,
                         currentChangedTo: Option[(Long, Long)]): Unit = {
    state.foreach { st =>
      val prevTs = st.rootNode
        .flatMap(r => Option(r.get("last-updated-ms")).map(_.asLong))
        .orElse(st.snapshots.map(_.get("timestamp-ms").asLong).maxOption)
        .getOrElse(0L)
      val log = mapper.createArrayNode()
      Option(root.get("metadata-log")).foreach(_.elements.asScala.foreach(log.add))
      val entry = log.addObject()
      entry.put("timestamp-ms", prevTs)
      entry.put("metadata-file",
        new Path(new Path(path, "metadata"), s"v${st.version}.metadata.json").toString)
      while (log.size > MetadataLogMax) log.remove(0)
      root.set[JsonNode]("metadata-log", log): Unit
    }
    currentChangedTo.foreach { case (id, ts) =>
      val log = mapper.createArrayNode()
      Option(root.get("snapshot-log")).foreach(_.elements.asScala.foreach(log.add))
      val e = log.addObject()
      e.put("timestamp-ms", ts)
      e.put("snapshot-id", id)
      root.set[JsonNode]("snapshot-log", log): Unit
    }
  }

  /** snapshot-id -> parent-snapshot-id over the state's snapshots. */
  private def parentMap(state: State): Map[Long, Option[Long]] =
    state.snapshots.map { s =>
      s.get("snapshot-id").asLong ->
        Option(s.get("parent-snapshot-id")).map(_.asLong)
    }.toMap

  /** Ancestor chain of `head` (inclusive), stopping at `stop` ids or a
    * missing parent link. */
  private def ancestorsOf(
      parents: Map[Long, Option[Long]], head: Long,
      stop: Long => Boolean = _ => false): Set[Long] = {
    var acc = Set.empty[Long]
    var cur: Option[Long] = Some(head)
    while (cur.nonEmpty && parents.contains(cur.get) && !stop(cur.get) && !acc(cur.get)) {
      acc += cur.get
      cur = parents(cur.get)
    }
    acc
  }

  private def rewriteSnapshots(
      path: String, conf: Configuration, state: State,
      moveMainTo: Option[Long] = None,
      dropRefs: Set[String] = Set.empty)(
      retain: JsonNode => Boolean): Int = {
    val json = IcebergIO.readString(
      new Path(path, s"metadata/v${state.version}.metadata.json").toString, conf)
    val root = mapper.readTree(json).asInstanceOf[ObjectNode]
    // Ref heads are pinned history (a tag or branch must stay readable)
    // and survive any retention predicate, like Iceberg's expire does.
    // Staged commits — ancestors of a non-main branch head that are NOT
    // on main's lineage — are protected too: expiring one would break
    // the parent walk fastForward needs, leaving a legitimately-ahead
    // branch permanently unpublishable. Main's own ancestors stay
    // expirable (that is what expiration is for).
    val newRefs = (state.refs -- (dropRefs - "main")) ++
      moveMainTo.map(id => "main" -> (id, "branch"))
    val parents = parentMap(state)
    val mainAnc = newRefs.get("main")
      .map(h => ancestorsOf(parents, h._1)).getOrElse(Set.empty)
    val staged = newRefs.collect {
      case (name, (head, "branch")) if name != "main" =>
        ancestorsOf(parents, head, stop = mainAnc)
    }.flatten.toSet
    val protectedIds = newRefs.values.map(_._1).toSet ++ staged
    val keep: JsonNode => Boolean =
      s => retain(s) || protectedIds(s.get("snapshot-id").asLong)
    val kept = mapper.createArrayNode()
    var removed = 0
    state.snapshots.foreach { s => if (keep(s)) kept.add(s) else removed += 1 }
    require(kept.size > 0, "cannot expire every snapshot of a table")
    root.set[JsonNode]("snapshots", kept)
    // statistics of expired snapshots are removable (spec "Table
    // statistics") — prune their entries so readers never chase stats
    // for a snapshot that no longer time-travel-resolves; the files
    // themselves surface through listOrphanFiles.
    Seq("statistics", "partition-statistics").foreach { key =>
      Option(root.get(key)).filter(_.size > 0).foreach { arr =>
        val keptIds = kept.elements.asScala.map(_.get("snapshot-id").asLong).toSet
        val pruned = mapper.createArrayNode()
        arr.elements.asScala.foreach { e =>
          if (keptIds(e.get("snapshot-id").asLong)) pruned.add(e): Unit
        }
        root.set[JsonNode](key, pruned): Unit
      }
    }
    writeRefsNode(root, newRefs, state.info.refRetention)
    val newest = newRefs.get("main").map(_._1).getOrElse(
      state.snapshots.filter(keep).maxBy(_.get("timestamp-ms").asLong)
        .get("snapshot-id").asLong)
    root.put("current-snapshot-id", newest)
    // snapshot-log entries of expired snapshots are removed with them
    // (spec "Snapshot Log": "deleted when snapshots are expired"); a
    // rollback then appends the target — current changed back to it.
    val keptIds = kept.elements.asScala.map(_.get("snapshot-id").asLong).toSet
    Option(root.get("snapshot-log")).filter(_.size > 0).foreach { arr =>
      val pruned = mapper.createArrayNode()
      arr.elements.asScala.foreach { e =>
        if (keptIds(e.get("snapshot-id").asLong)) pruned.add(e): Unit
      }
      root.set[JsonNode]("snapshot-log", pruned): Unit
    }
    val commitTs = state.nextTsMs
    root.put("last-updated-ms", commitTs)
    appendLogs(root, Some(state), path, moveMainTo.map(_ -> commitTs))
    commitVersion(new Path(path, "metadata"), conf, state.version + 1, root)
    removed
  }

  /** Files under `data/` referenced by NO retained snapshot — the
    * candidates a vacuum job would delete after expiration/rollback.
    * Listing only (never deletes): at 100 TB the safe pattern is
    * list → age-filter → audit → delete out-of-band. */
  def listOrphanFiles(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    orphansWithMtime(spark, path).map(_._1).toDF("orphan_file")
  }

  /** Orphan listing with each file's modification time — the input to
    * [[removeOrphanFiles]]'s age gate. */
  private def orphansWithMtime(
      spark: SparkSession, path: String): Seq[(String, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf).getOrElse(
      throw new IllegalArgumentException(s"listOrphanFiles: no Iceberg table at $path"))
    // Consecutive snapshots carry most manifests forward, so the manifest
    // trees overlap heavily: read each snapshot's manifest LIST in bounded
    // parallel, dedupe the manifest paths, then read each distinct manifest
    // ONCE — also in bounded parallel. The old per-snapshot loadTable loop
    // re-read the same manifests once per retaining snapshot, sequentially.
    import scala.concurrent.duration._
    val parallelism = conf.getInt(ManifestReader.FetchParallelismKey, 16)
    val timeout = conf.getLong(ManifestReader.FetchTimeoutSecKey, 300L).seconds
    val manifestPaths = DriverPool.mapParallel(
      IcebergMetadataParser.allSnapshots(state.info), parallelism, timeout,
      "graft-orphan-list") { snap =>
      ManifestReader.readManifestList(snap.manifestList, conf, snap.formatVersion)
        .map(m => (m.manifestPath, snap.formatVersion))
    }.flatten.distinctBy(_._1)
    // DELETED-status entries don't pin a file: no retained snapshot reads
    // it (a changelog window needs both endpoints retained, and the older
    // endpoint lists the file LIVE if it still matters). A file whose only
    // remaining references are tombstones is exactly the vacuum candidate.
    val referenced = DriverPool.mapParallel(
      manifestPaths, parallelism, timeout, "graft-orphan-manifest") {
      case (mPath, fv) =>
        ManifestReader.readManifestEntries(mPath, conf, fv)
          .filter(_.status != 2)
          .map(e => new Path(e.filePath).toUri.getPath)
    }.flatten.toSet
    val dataDir = new Path(path, "data")
    val fs = dataDir.getFileSystem(conf)
    val found = Seq.newBuilder[(String, Long)]
    if (fs.exists(dataDir)) {
      filesUnder(fs, dataDir).foreach { st =>
        // .puffin: a deletion-vector file every retained snapshot has
        // rewritten away is as orphaned as a dropped parquet file
        val name = st.getPath.getName
        if ((name.endsWith(".parquet") || name.endsWith(".puffin")) &&
            !referenced(st.getPath.toUri.getPath))
          found += st.getPath.toString -> st.getModificationTime
      }
    }
    // statistics files live under metadata/; one is orphaned when no
    // current `statistics`/`partition-statistics` entry references it
    // (superseded by re-analyze/re-compute, or its snapshot's entry was
    // pruned by expire/rollback). Partition stats are parquet DIRECTORIES
    // — a file inside one is referenced iff its directory is.
    val statsReferenced =
      state.info.statistics.map(s => new Path(s.path).toUri.getPath).toSet
    val pStatsDirs =
      state.info.partitionStatistics.map(s => new Path(s.path).toUri.getPath).toSet
    val metaDir = new Path(path, "metadata")
    if (fs.exists(metaDir)) {
      filesUnder(fs, metaDir).foreach { st =>
        val p = st.getPath.toUri.getPath
        if (st.getPath.getName.endsWith(".puffin") && !statsReferenced(p))
          found += st.getPath.toString -> st.getModificationTime
        else if (p.contains("/partition-stats-") &&
                 !pStatsDirs.exists(d => p.startsWith(d + "/")))
          found += st.getPath.toString -> st.getModificationTime
      }
    }
    found.result().sortBy(_._1)
  }

  /** Orphan-file VACUUM (the `remove_orphan_files` maintenance action):
    * deletes unreferenced files under the table's `data/` and stats
    * locations whose modification time is older than `olderThanMs`. The
    * age gate is the safety rail the production procedure has: a CONCURRENT
    * committer's freshly-written files look orphaned until its metadata
    * lands, so "delete everything unreferenced right now" can corrupt an
    * in-flight commit — callers pass a cutoff comfortably beyond their
    * longest possible commit (the procedure's classic default is 3 days).
    * `dryRun` returns the candidates without deleting. Returns the
    * affected files. */
  def removeOrphanFiles(spark: SparkSession, path: String,
                        olderThanMs: Long, dryRun: Boolean = false): DataFrame = {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val candidates = orphansWithMtime(spark, path)
      .collect { case (p, mtime) if mtime < olderThanMs => p }
    if (!dryRun) {
      val fs = new Path(path).getFileSystem(conf)
      candidates.foreach(p => fs.delete(new Path(p), false))
    }
    candidates.toDF("orphan_file")
  }

  /** Snapshot retention: keep only the newest `keep` snapshots (by
    * commit timestamp). Older snapshot ids stop time-travel-resolving;
    * the current table state is unchanged. Returns the expired count. */
  def expireSnapshots(spark: SparkSession, path: String, keep: Int): Int = {
    require(keep >= 1, s"expireSnapshots: keep must be >= 1, got $keep")
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf).getOrElse(
      throw new IllegalArgumentException(s"expireSnapshots: no Iceberg table at $path"))
    val keptIds = state.snapshots
      .sortBy(-_.get("timestamp-ms").asLong).take(keep)
      .map(_.get("snapshot-id").asLong).toSet
    rewriteSnapshots(path, conf, state)(s => keptIds(s.get("snapshot-id").asLong))
  }

  /** Time-based retention — the production form of [[expireSnapshots]]:
    * drop every snapshot committed before `olderThanMs` (epoch millis).
    * Ref heads, staged branch lineage and the newest snapshot survive
    * regardless (rewriteSnapshots' protections), so an aggressive cutoff
    * can never empty the table or break an unpublished branch.
    *
    * Per-ref retention policies (spec "Refs", set via [[setRefRetention]])
    * are honored:
    *  - a non-main ref whose snapshot is older than its `max-ref-age-ms`
    *    (measured from `nowMs`) is DROPPED by this sweep, releasing its
    *    pinned history;
    *  - a branch's newest `min-snapshots-to-keep` ancestors survive;
    *  - a branch's ancestors younger than `nowMs - max-snapshot-age-ms`
    *    survive. Policies only ever PROTECT relative to the global
    *    cutoff — expiration never drops more than `olderThanMs` asks.
    * Returns how many snapshots were dropped. */
  def expireSnapshotsOlderThan(spark: SparkSession, path: String,
                               olderThanMs: Long,
                               nowMs: Long = System.currentTimeMillis()): Int = {
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf).getOrElse(
      throw new IllegalArgumentException(
        s"expireSnapshotsOlderThan: no Iceberg table at $path"))
    val ret = state.info.refRetention
    val tsOf: Long => Option[Long] = id => state.snapshots
      .find(_.get("snapshot-id").asLong == id)
      .map(_.get("timestamp-ms").asLong)
    // 1. lapsed refs (never main): age measured at the referenced snapshot
    val expiredRefs: Set[String] = state.refs.collect {
      case (name, (id, _))
          if name != "main" && ret.get(name).flatMap(_.maxRefAgeMs)
            .exists(age => tsOf(id).exists(ts => nowMs - ts > age)) => name
    }.toSet
    // 2. branch-policy protections over each surviving branch's lineage
    val parents = parentMap(state)
    def orderedAncestors(head: Long): Seq[Long] = {
      var acc = List.empty[Long] // built oldest-first, reversed at the end
      var cur: Option[Long] = Some(head)
      var seen = Set.empty[Long]
      while (cur.nonEmpty && parents.contains(cur.get) && !seen(cur.get)) {
        seen += cur.get; acc ::= cur.get; cur = parents(cur.get)
      }
      acc.reverse // newest-first
    }
    val protectedByPolicy: Set[Long] = (state.refs -- expiredRefs).toSeq.collect {
      case (name, (head, "branch")) if ret.contains(name) =>
        val chain = orderedAncestors(head)
        val byCount = ret(name).minSnapshotsToKeep
          .map(n => chain.take(n).toSet).getOrElse(Set.empty)
        val byAge = ret(name).maxSnapshotAgeMs.map { age =>
          chain.filter(id => tsOf(id).exists(ts => nowMs - ts <= age)).toSet
        }.getOrElse(Set.empty)
        byCount ++ byAge
    }.flatten.toSet
    // the newest snapshot always survives, even when everything predates
    // the cutoff — a retention sweep must never delete the table's head
    val newest = state.snapshots
      .maxBy(_.get("timestamp-ms").asLong).get("snapshot-id").asLong
    rewriteSnapshots(path, conf, state, dropRefs = expiredRefs)(s =>
      s.get("timestamp-ms").asLong >= olderThanMs ||
        s.get("snapshot-id").asLong == newest ||
        protectedByPolicy(s.get("snapshot-id").asLong))
  }

  /** Roll the table back to `snapshotId`: snapshots committed AFTER it
    * are dropped, so the scan's latest-by-timestamp selection (the same
    * rule the reference uses, iceberg.cpp:315-348) lands on the target.
    * Rolled-back snapshots' files remain for any pinned reader. */
  def rollback(spark: SparkSession, path: String, snapshotId: Long): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf).getOrElse(
      throw new IllegalArgumentException(s"rollback: no Iceberg table at $path"))
    val target = state.snapshots
      .find(_.get("snapshot-id").asLong == snapshotId)
      .getOrElse(throw new java.io.IOException(
        s"Could not find snapshot with id $snapshotId"))
    if (state.refs.nonEmpty) {
      // rolling "back" to another branch's staged commit would publish
      // un-audited data through a maintenance call — rollback only walks
      // main's own lineage
      val mainAnc = state.branchHead("main")
        .map(h => ancestorsOf(parentMap(state), h)).getOrElse(Set.empty)
      require(mainAnc(snapshotId),
        s"rollback: snapshot $snapshotId is not an ancestor of the main head")
    }
    val ts = target.get("timestamp-ms").asLong
    rewriteSnapshots(path, conf, state, moveMainTo = Some(snapshotId))(
      _.get("timestamp-ms").asLong <= ts): Unit
  }

  // ---- snapshot refs (branches and tags) --------------------------------

  /** Metadata-only commit that replaces the table's refs map (same
    * snapshots, vN+1 metadata.json — conflict-safe via the same
    * create-exclusive write every data commit uses). */
  private def rewriteRefs(
      path: String, conf: Configuration, state: State,
      mutateRetention: Map[String, IcebergMetadataParser.RefRetention] =>
        Map[String, IcebergMetadataParser.RefRetention] = identity)(
      mutate: Map[String, (Long, String)] => Map[String, (Long, String)]): Unit = {
    // a pre-refs table gets its implicit main branch materialized first,
    // so "latest" stays pinned to main once any other ref exists
    val base = state.refs ++
      (if (!state.refs.contains("main"))
         state.currentSnapshotId.map(id => "main" -> (id, "branch"))
       else None)
    val newRefs = mutate(base)
    newRefs.foreach { case (name, (id, tpe)) =>
      require(tpe == "branch" || tpe == "tag", s"ref '$name': bad type '$tpe'")
      require(state.snapshots.exists(_.get("snapshot-id").asLong == id),
        s"ref '$name' points at unknown snapshot $id")
    }
    val json = IcebergIO.readString(
      new Path(path, s"metadata/v${state.version}.metadata.json").toString, conf)
    val root = mapper.readTree(json).asInstanceOf[ObjectNode]
    writeRefsNode(root, newRefs, mutateRetention(state.info.refRetention))
    newRefs.get("main").foreach { case (id, _) =>
      root.put("current-snapshot-id", id)
    }
    val commitTs = state.nextTsMs
    root.put("last-updated-ms", commitTs)
    // fastForward of main publishes staged commits = the current snapshot
    // changes; tag/branch bookkeeping leaves it (and the log) untouched
    val prevMain = state.branchHead("main")
    appendLogs(root, Some(state), path,
      newRefs.get("main").map(_._1).filterNot(prevMain.contains)
        .map(_ -> commitTs))
    commitVersion(new Path(path, "metadata"), conf, state.version + 1, root)
  }

  private def refState(path: String, conf: Configuration, op: String): State =
    loadState(path, conf).getOrElse(
      throw new IllegalArgumentException(s"$op: no Iceberg table at $path"))

  /** Create branch `name` at `at` (default: the main head). A branch is a
    * movable head: [[write]] with `branch = name` advances it without
    * touching main — the staging half of write-audit-publish. */
  def createBranch(spark: SparkSession, path: String, name: String,
                   at: Option[Long] = None): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val state = refState(path, conf, "createBranch")
    val target = at.orElse(state.branchHead("main")).getOrElse(
      throw new IllegalArgumentException("createBranch: table has no snapshot yet"))
    rewriteRefs(path, conf, state) { refs =>
      require(!refs.contains(name), s"ref '$name' already exists")
      refs + (name -> (target, "branch"))
    }
  }

  /** Create tag `name` at `at` (default: the main head). Tags are
    * immutable named snapshots; expiration never drops them. */
  def createTag(spark: SparkSession, path: String, name: String,
                at: Option[Long] = None): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val state = refState(path, conf, "createTag")
    val target = at.orElse(state.branchHead("main")).getOrElse(
      throw new IllegalArgumentException("createTag: table has no snapshot yet"))
    rewriteRefs(path, conf, state) { refs =>
      require(!refs.contains(name), s"ref '$name' already exists")
      refs + (name -> (target, "tag"))
    }
  }

  /** Drop a branch or tag. The snapshots it pinned become ordinary
    * history (expirable). `main` cannot be dropped. */
  def dropRef(spark: SparkSession, path: String, name: String): Unit = {
    require(name != "main", "cannot drop the main branch")
    val conf = spark.sessionState.newHadoopConf()
    val state = refState(path, conf, "dropRef")
    rewriteRefs(path, conf, state) { refs =>
      require(refs.contains(name), s"ref '$name' does not exist")
      refs - name
    }
  }

  /** Set (or clear, by passing all-None) the retention policy of an
    * existing ref — the spec's `max-ref-age-ms` / `max-snapshot-age-ms` /
    * `min-snapshots-to-keep` fields (spec "Refs"). A metadata-only
    * commit; the policy drives [[expireSnapshotsOlderThan]]:
    *  - `maxRefAgeMs` (tags + branches, not main): the ref itself is
    *    dropped once its snapshot is older than this;
    *  - `maxSnapshotAgeMs` (branches): the branch's ancestors younger
    *    than `now - maxSnapshotAgeMs` survive expiration even when the
    *    global cutoff would drop them;
    *  - `minSnapshotsToKeep` (branches): the branch's newest N ancestors
    *    always survive. */
  def setRefRetention(spark: SparkSession, path: String, name: String,
                      maxRefAgeMs: Option[Long] = None,
                      maxSnapshotAgeMs: Option[Long] = None,
                      minSnapshotsToKeep: Option[Int] = None): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val state = refState(path, conf, "setRefRetention")
    val ret = IcebergMetadataParser.RefRetention(
      maxRefAgeMs, maxSnapshotAgeMs, minSnapshotsToKeep)
    rewriteRefs(path, conf, state,
      mutateRetention = m => if (ret.isEmpty) m - name else m + (name -> ret)) {
      refs =>
        require(refs.contains(name) || name == "main",
          s"setRefRetention: ref '$name' does not exist")
        refs
    }
  }

  /** Fast-forward `branch` (default main) to the head of `source` — the
    * publish half of write-audit-publish. Requires the current `branch`
    * head to be an ANCESTOR of the source head (walking
    * parent-snapshot-id), so publishing never silently discards commits;
    * diverged branches must be reconciled by a real merge instead. */
  def fastForward(spark: SparkSession, path: String, source: String,
                  branch: String = "main"): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val state = refState(path, conf, "fastForward")
    val srcHead = state.refs.getOrElse(source,
      throw new IllegalArgumentException(s"fastForward: no ref '$source'"))._1
    if (branch != "main") {
      val dst = state.refs.getOrElse(branch, throw new IllegalArgumentException(
        s"fastForward: branch '$branch' does not exist — createBranch it first"))
      require(dst._2 == "branch",
        s"fastForward: cannot move '$branch': it is a ${dst._2}")
    }
    val dstHead = state.branchHead(branch)
    val parents = state.snapshots.map { s =>
      s.get("snapshot-id").asLong ->
        Option(s.get("parent-snapshot-id")).map(_.asLong)
    }.toMap
    var cursor = Option(srcHead)
    var isAncestor = dstHead.isEmpty
    var visited = Set.empty[Long]
    while (cursor.nonEmpty && !isAncestor && !visited(cursor.get)) {
      if (dstHead.contains(cursor.get)) isAncestor = true
      else { visited += cursor.get; cursor = parents.getOrElse(cursor.get, None) }
    }
    require(isAncestor,
      s"fastForward: '$branch' head ${dstHead.getOrElse(-1L)} is not an ancestor " +
        s"of '$source' head $srcHead — the branches diverged")
    rewriteRefs(path, conf, state)(refs => refs + (branch -> (srcHead, "branch")))
  }

  /** Type widenings an append may apply to an existing column — the
    * evolutions the field-id read path resolves transparently (old files'
    * narrower physical type upcasts under the widened read schema, the
    * shape the reference's schema-evolution test exercises at v8→v9). */
  private def widens(from: DataType, to: DataType): Boolean = (from, to) match {
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case (f: DecimalType, t: DecimalType) =>
      t.scale == f.scale && t.precision >= f.precision
    case _ => false
  }

  /** Nullability-erased type for the append compatibility check — the
    * emitted Iceberg schema is all-nullable, so a NOT NULL incoming
    * nested field must not read as a type change. */
  private def ignoreNull(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(f.name, ignoreNull(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(ignoreNull(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(ignoreNull(m.keyType), ignoreNull(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Branch commits may not change the table's single global schema — a
    * staged schema change would instantly leak to main readers and block
    * main appends. Checked BEFORE any data file is written (a post-write
    * failure would orphan the snapshot's data directory and block the
    * snapshot-id from being reused). */
  private def requireUnchangedSchema(
      st: State, incoming: StructType, branch: String): Unit = {
    val existing = IcebergSchemaParser
      .parseSchemaById(st.info.schemas, st.info.schemaId)
      .map(c => (c.name, ignoreNull(c.dataType)))
    val in = incoming.fields.toSeq.map(f => (f.name, ignoreNull(f.dataType)))
    require(existing == in,
      s"branch '$branch': schema changes are main-only (staged columns/" +
        "types would leak to every reader of the shared table schema)")
  }

  /** Append `df` as a new snapshot of the table at `path`, creating the
    * table if absent. Returns the new snapshot id.
    *
    * `partitionBy` = (source column, transform) pairs with transform ∈
    * identity|day|month|year: data files are laid out per partition tuple
    * and manifests carry typed partition values + per-file column bounds
    * from the parquet footers, so `IcebergScan` with `Options.filters`
    * skips whole files driver-side (the 100 TB scan lever).
    *
    * Schema evolution: `df` may widen existing columns (int→long,
    * float→double, decimal precision) and may APPEND new columns — field
    * ids are positional, so existing columns keep their ids and old files
    * read NULL for columns added after they were written. `renames`
    * (table-column old → new) declares that an incoming column is an
    * EXISTING column under a new name: the rename is committed first as a
    * metadata-only schema evolution ([[renameColumns]] — same field id,
    * new name) and the append then proceeds under the new schema, so old
    * files keep resolving by id. Undeclared renames, reorders, drops,
    * and narrowings are rejected.
    *
    * `sortBy` = write-time sort columns: rows are sorted within each
    * write partition (after any hive layout) and the sort order is
    * recorded in the table's `sort-orders`. With a row-group split
    * (`options("maxRecordsPerFile")`) this yields files with disjoint
    * sort-key ranges → tight manifest bounds → more file pruning.
    * `options` passes through to the parquet DataFrameWriter.
    *
    * `maxRetries` > 0 turns a lost commit race (the filesystem-CAS
    * "commit conflict") into an OPTIMISTIC RETRY: the already-written
    * data files are kept (the expensive part), state is reloaded, and
    * only the manifest + metadata commit is replayed — appends are
    * commutative, so N concurrent writers all land, serialized by the
    * CAS. The retry re-validates schema compatibility, the field-id
    * assignment, and the partition layout against the reloaded state and
    * fails loudly if a concurrent commit changed any of them (the files
    * on disk would no longer match). */
  def write(df: DataFrame, path: String,
            partitionBy: Seq[(String, String)] = Seq.empty,
            summary: Map[String, String] = Map.empty,
            sortBy: Seq[String] = Seq.empty,
            options: Map[String, String] = Map.empty,
            branch: String = "main",
            renames: Map[String, String] = Map.empty,
            // format for TABLE CREATION (2 or 3); an existing table keeps
            // its recorded version — use upgradeFormat to move 2 -> 3
            formatVersion: Int = 2,
            maxRetries: Int = 0,
            // data FILE format: "parquet" (default) or "orc" (Iceberg's
            // second data format; engine extension — the reference is
            // parquet-only). None → the table's `write.format.default`
            // property, else parquet. Read-side ORC caveat: Spark's ORC
            // reader resolves columns by NAME, so metadata-only renames
            // do not reach into pre-rename ORC files.
            dataFormat: Option[String] = None,
            // Iceberg's write.distribution-mode: "none" (default — rows
            // land wherever their task runs; every task writing every
            // partition yields tasks × partitions small files) or "hash"
            // (one shuffle clustering rows by partition tuple first —
            // each partition's rows land in few files; THE small-files
            // lever for wide partitioned appends at scale).
            distribution: String = "none",
            // explicit shuffle width for distribution="range"/"hash".
            // None (default) lets AQE size the shuffle — at scale it
            // coalesces toward the advisory partition size, the
            // small-files lever; pin a count to force a layout (tests,
            // fixed file budgets).
            distributionPartitions: Option[Int] = None): Long = {
    val spark = df.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    if (renames.nonEmpty) {
      // commit the declared renames as a schema evolution FIRST, so the
      // append below sees the incoming names as the table's current
      // schema and existing field ids are reused (not re-assigned)
      require(branch == "main",
        "write: renames are a main-branch schema evolution (branch schemas are frozen)")
      renameColumns(spark, path, renames)
    }
    var state = loadState(path, conf)
    // WRITE-DEFAULTS (spec v3 "Default values"): an append may omit
    // TRAILING columns whose schema declares a write-default — the writer
    // fills them, so pipelines older than the schema keep working after
    // addColumn. Anything else missing still fails the guards below.
    val data = state.map { st =>
      val cols = IcebergSchemaParser.parseSchemaById(st.info.schemas, st.info.schemaId)
      val missing = cols.drop(df.schema.size)
      if (missing.isEmpty ||
          cols.take(df.schema.size).map(_.name) != df.schema.fieldNames.toSeq ||
          !missing.forall(_.writeDefault.isDefined)) df
      else missing.foldLeft(df) { (d, c) =>
        c.writeDefault.get match {
          // an unrepresentable default (deferred at schema parse, r19)
          // fails loudly HERE — the one place it would be used
          case IcebergModel.UnsupportedDefault(msg) =>
            throw new UnsupportedOperationException(
              s"write: column '${c.name}' write-default is unusable: $msg")
          case v => d.withColumn(c.name, lit(v).cast(c.dataType))
        }
      }
    }.getOrElse(df)

    def guards(state: Option[State]): Unit = {
      if (branch != "main") {
        // pre-flight EVERY branch guard (existence — appending to a missing
        // branch would silently fork from main; tag immutability; schema
        // freeze) BEFORE any data file lands: a post-write failure would
        // orphan data/snap-N and block that snapshot id's reuse
        val st = state.getOrElse(throw new IllegalArgumentException(
          s"write: cannot target branch '$branch' of a table that does not exist yet"))
        st.opBase("write", branch): Unit
        requireUnchangedSchema(st, data.schema, branch)
      }
      state.foreach { st =>
        val cols = IcebergSchemaParser.parseSchemaById(st.info.schemas, st.info.schemaId)
        val existing = cols.map(c => (c.name, c.dataType))
        val incoming = data.schema.fields.toSeq.map(f => (f.name, f.dataType))
        require(incoming.size >= existing.size,
          s"append schema mismatch: cannot drop columns (table has ${existing.map(_._1)})")
        existing.zip(incoming.take(existing.size)).foreach {
          case ((on, ot), (nn, nt)) =>
            require(on == nn,
              s"append schema mismatch: column '$on' vs '$nn' (renames/reorders not supported)")
            require(ignoreNull(ot) == ignoreNull(nt) || widens(ot, nt),
              s"append schema mismatch: column '$on' cannot change ${ot.sql} -> ${nt.sql}")
        }
      }
    }
    // A plain append to a partitioned table inherits the table's CURRENT
    // spec (like update/merge/compact do): files without partition tuples
    // under a partitioned default spec would violate the spec for
    // external readers and silently stop pruning. An explicit partitionBy
    // still evolves or re-declares the layout.
    def specOf(state: Option[State], ids: Map[String, Int]): Seq[SpecField] =
      if (partitionBy.nonEmpty) resolveSpec(data.schema, partitionBy, ids)
      else state.filter(_.snapshots.nonEmpty).map { st =>
        currentSpec(
          IcebergMetadataParser.latest(st.info, skipSchema = false), data.schema)
      }.getOrElse(Seq.empty)

    guards(state)
    val prevIds = state.flatMap(_.rootNode).map(existingIds).getOrElse(Map.empty)
    val stampedIds = assignIds(data.schema, prevIds)
    val spec = specOf(state, stampedIds)
    sortBy.foreach(c => require(data.schema.fieldNames.contains(c),
      s"write: sortBy column '$c' is not a column of the data"))
    // Data files land ONCE (the expensive, distributed part); only the
    // metadata commit below is replayed on a lost race. The directory is
    // named for the first attempt's snapshot id plus a commit token —
    // racing writers must not collide on the directory (Spark's writer
    // refuses an existing path), and manifests reference absolute file
    // paths, so a retried commit under a later id still resolves them.
    val effectiveFormat = dataFormat
      .orElse(state.flatMap(_.info.properties.get("write.format.default")))
      .getOrElse("parquet").toLowerCase
    require(effectiveFormat == "parquet" || effectiveFormat == "orc" ||
        effectiveFormat == "avro",
      s"write: unsupported data format '$effectiveFormat' (parquet, orc or avro)")
    require(distribution == "none" || distribution == "hash" ||
        distribution == "range",
      s"write: unsupported distribution mode '$distribution' (none, hash or range)")
    val distributed = distribution match {
      case "hash" if spec.nonEmpty =>
        val keys = spec.map(sf => transformCol(sf, spark))
        distributionPartitions.fold(data.repartition(keys: _*))(
          n => data.repartition(n, keys: _*))
      case "range" =>
        // Iceberg's write.distribution-mode=range: one range shuffle on
        // (partition transforms ++ sort keys), then the within-partition
        // sort in writeDataFiles — a PARALLEL total-order sort whose
        // tasks cover DISJOINT key ranges, so every file's footer
        // min/max (→ manifest bounds) is tight and non-overlapping.
        // This is the scale path to sorted layouts: a single-task sort
        // caps at one node, range distribution sorts 100 TB wide.
        val keys = spec.map(sf => transformCol(sf, spark)) ++ sortBy.map(col)
        require(keys.nonEmpty,
          "write: distribution='range' needs partition columns or sortBy")
        distributionPartitions.fold(data.repartitionByRange(keys: _*))(
          n => data.repartitionByRange(n, keys: _*))
      case _ => data
    }
    val files = writeDataFiles(
      distributed, new Path(path,
        s"data/snap-${state.map(_.nextSnapshotId).getOrElse(1L)}-${commitToken()}"),
      spec, sortBy, options, prevIds, dataFormat = effectiveFormat)
    // standard interchange summary stats (Iceberg spec "Snapshots" —
    // what external tools read to size incremental work); user-supplied
    // keys win on collision
    val stdSummary = Map(
      "added-data-files" -> files.size.toString,
      "added-records" -> files.map(_.count).sum.toString,
      "added-files-size" -> files.map(_.sizeBytes).sum.toString)

    var attempt = 0
    while (true) {
      val snapshotId = state.map(_.nextSnapshotId).getOrElse(1L)
      val seq = state.map(_.nextSeq).getOrElse(1L)
      val manifestPath = new Path(path,
        s"metadata/snap-$snapshotId-${commitToken()}-m0.avro")
      val effectiveFv = state.map(_.info.formatVersion).getOrElse(formatVersion)
      val (dataEntries, rowRange) = assignRowIds(
        effectiveFv, nextRowIdOf(state), files.map { w =>
          ManifestEntry(status = 1, content = 0, filePath = w.path,
            fileFormat = w.format, recordCount = w.count, fileSizeInBytes = w.sizeBytes,
            partition = w.partition, lowerBounds = w.lower, upperBounds = w.upper, splitOffsets = w.splitOffsets,
            nullCounts = w.nulls, nanCounts = w.nans)
        })
      writeManifest(manifestPath, conf, dataEntries,
        spec.map(sf => (sf.fieldName, sf.avroType)))
      // the target BRANCH head's manifests carried forward + the new one
      val prevManifests: Seq[Manifest] = state match {
        case Some(st) if st.snapshots.nonEmpty =>
          val base = st.branchHead(branch)
            .map(IcebergMetadataParser.byId(st.info, _, skipSchema = true))
            .getOrElse(IcebergMetadataParser.latest(st.info, skipSchema = true))
          ManifestReader.readManifestList(base.manifestList, conf, base.formatVersion)
        case _ => Seq.empty
      }
      try {
        return commitSnapshot(path, conf, state, data.schema, snapshotId, seq,
          prevManifests :+ Manifest(manifestPath.toString, seq, 0), spec,
          summary = stdSummary ++ summary, sortBy = sortBy, branch = branch,
          formatVersion = if (state.isEmpty) Some(formatVersion) else None,
          rowRange = rowRange)
      } catch {
        case e: java.io.IOException
            if attempt < maxRetries && e.getMessage != null &&
               e.getMessage.contains("commit conflict") =>
          attempt += 1
          // small linear backoff + jitter so N racing writers spread out
          Thread.sleep(25L * attempt +
            java.util.concurrent.ThreadLocalRandom.current().nextLong(50))
          state = loadState(path, conf)
          guards(state)
          val newIds = state.flatMap(_.rootNode).map(existingIds).getOrElse(Map.empty)
          val reassigned = assignIds(data.schema, newIds)
          if (reassigned != stampedIds) throw new java.io.IOException(
            "write retry aborted: a concurrent commit changed the table's " +
              "field-id assignment — the already-written data files are " +
              "stamped with stale ids; re-run the write", e)
          val triples = (sf: Seq[SpecField]) =>
            sf.map(f => (f.fieldName, f.transform, f.sourceId))
          if (triples(specOf(state, reassigned)) != triples(spec))
            throw new java.io.IOException(
              "write retry aborted: a concurrent commit changed the " +
                "partition layout — the already-written data files use the " +
                "old layout; re-run the write", e)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // ---- V2 streaming write support (round 12) ------------------------------

  /** Everything the streaming write's executor factory needs, computed
    * once on the driver per micro-batch run: the write schema with
    * `parquet.field.id` metadata stamped (same assignment the batch
    * writer emits) and the table's current partition spec with its
    * transform Columns (same [[transformCol]] the batch writer and the
    * pruner share — per-row routing cannot diverge from batch layout). */
  private[graft] final case class StreamWriteSupport(
      schemaWithIds: StructType,
      specFields: Seq[(String, String)], // (fieldName, avroType)
      transformCols: Seq[SqlColumn],
      dataDir: String)

  private[graft] def streamingWriteSupport(
      spark: SparkSession, path: String,
      incoming: StructType): StreamWriteSupport = {
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf).getOrElse(throw new IllegalArgumentException(
      s"streaming write: no Iceberg table at $path — create it first " +
        "(CREATE TABLE / IcebergWriter.write)"))
    // exact-match guard (streaming cannot evolve schema mid-stream)
    val cols = IcebergSchemaParser.parseSchemaById(state.info.schemas, state.info.schemaId)
    require(cols.map(c => (c.name, ignoreNull(c.dataType))) ==
        incoming.fields.toSeq.map(f => (f.name, ignoreNull(f.dataType))),
      "streaming write: incoming schema must match the table schema exactly " +
        s"(table: ${cols.map(_.name).mkString(",")}, incoming: " +
        s"${incoming.fieldNames.mkString(",")}) — evolve via ALTER TABLE first")
    val prevIds = state.rootNode.map(existingIds).getOrElse(Map.empty)
    val assigned = assignIds(incoming, prevIds)
    val schemaWithIds = StructType(incoming.fields.map { f =>
      StructField(f.name, typeWithIds(f.dataType, f.name + ".", assigned),
        f.nullable, new MetadataBuilder()
          .putLong("parquet.field.id", assigned(f.name).toLong).build())
    })
    // Spec from the metadata's default-spec-id, NOT the latest snapshot:
    // an externally-registered partitioned table with zero snapshots must
    // still route its first epoch's rows into partition tuples (the
    // latest-snapshot derivation would silently fall back to an empty
    // spec and fail confusingly at first commit).
    val spec = resolveSpec(incoming,
      state.info.defaultPartitionSpec.flatMap { pf =>
        cols.find(_.id == pf.sourceId).map(c => c.name -> pf.transform)
      }, cols.map(c => c.name -> c.id).toMap)
    StreamWriteSupport(
      schemaWithIds,
      spec.map(sf => (sf.fieldName, sf.avroType)),
      spec.map(sf => transformCol(sf, spark)),
      new Path(path, s"data/stream-${commitToken()}").toString)
  }

  /** Commit one streaming micro-batch's ALREADY-WRITTEN data files as one
    * snapshot — the driver half of the V2 `StreamingWrite`. Files were
    * written by executor `DataWriter`s (stats come from their footers
    * here, same as the batch path); `partition` tuples ride in the commit
    * messages (typed, Avro-domain values) so no path parsing is needed.
    * Exactly-once via the same snapshot-summary batch-id bookkeeping as
    * [[graft.streaming.IcebergStreamSink]]: a replayed epoch whose id is
    * already committed deletes its re-written files and returns. With
    * `replaceAll` (streaming `complete` output mode), each commit is a
    * full-table overwrite: previous manifests are not carried forward.
    *
    * With `upsertKeys` (streaming CDC-apply, `update` output mode + the
    * `upsert-keys` writer option), each epoch commits the [[merge]] shape
    * instead of a plain append: an equality-delete file on the epoch's
    * key values plus the epoch's data files in the SAME snapshot — the
    * delete's sequence number scopes it to strictly-older data, so each
    * epoch's rows replace the previous version of their key without
    * rewriting any file. Commit cost stays O(epoch), independent of
    * table size — continuous keyed ingestion at 100 TB. The key columns
    * are re-read from the epoch's OWN parquet files (one bounded
    * distributed job over exactly the new files; nothing row-shaped
    * returns to the driver).
    *
    * ORDERING PRECONDITION: because the epoch's delete reaches only
    * strictly-older sequences, a tombstone key colliding with a data-row
    * key inside ONE epoch resolves DELETE-BEFORE-INSERT (the CDC
    * update-pair shape). A feed where the delete can FOLLOW the insert
    * within an epoch (multi-commit batching) must be resolved upstream —
    * the sink's `upsert-ordinal-column` option does it per key run
    * before any file is written (see GraftStreamingWrite) — or paced to
    * one source commit per trigger. */
  private[graft] def commitStreamBatch(
      spark: SparkSession, path: String,
      files: Seq[(String, Map[String, Any])],
      batchKey: String, batchId: Long,
      replaceAll: Boolean = false,
      branch: String = "main",
      upsertKeys: Seq[String] = Seq.empty,
      // CDC tombstones: executor-written keys-only parquet scratch files
      // (rows the change column marked 'delete'). Their keys join the
      // epoch's equality delete; the files themselves are never part of
      // the table and are removed before this method returns.
      tombstoneFiles: Seq[String] = Seq.empty): Unit = {
    require(upsertKeys.isEmpty || !replaceAll,
      "streaming upsert: complete output mode cannot combine with upsert-keys")
    require(tombstoneFiles.isEmpty || upsertKeys.nonEmpty,
      "streaming upsert: tombstones require upsert keys")
    val conf = spark.sessionState.newHadoopConf()
    def drop(ps: Seq[String]): Unit = ps.foreach { p =>
      val hp = new Path(p)
      try hp.getFileSystem(conf).delete(hp, false) catch { case _: Exception => () }
    }
    def dropFiles(): Unit = drop(files.map(_._1) ++ tombstoneFiles)
    // ONE metadata load per epoch: the replay check reads the summaries
    // off the same parsed state the commit uses (a separate
    // maxSummaryValue call would re-read metadata.json)
    val state = loadState(path, conf).getOrElse(throw new IllegalStateException(
      s"streaming commit: table at $path disappeared mid-stream"))
    val committed = state.snapshots
      .flatMap(s => Option(s.get("summary")).flatMap(n => Option(n.get(batchKey))))
      .map(_.asText.toLong).maxOption.exists(_ >= batchId)
    if (committed) { dropFiles(); return }
    // append mode: an empty epoch commits nothing (replay check is >=, so
    // skipping keeps idempotence). complete mode: an EMPTY epoch is a
    // full-table TRUNCATE — the latest complete result is the table. A
    // tombstone-only CDC epoch still commits (a pure-delete snapshot).
    if (files.isEmpty && tombstoneFiles.isEmpty && !replaceAll) return
    val latest = state.opBase("streaming write", branch)
    val schema = IcebergSchemaParser.toStructType(latest.schema)
    // key validation BEFORE any manifest write: a mid-stream schema
    // change that drops a key column must fail with the epoch's files
    // cleaned up, not leak a written data manifest (every other failure
    // path here drops the epoch's files too)
    if (upsertKeys.nonEmpty && !upsertKeys.toSet.subsetOf(schema.fieldNames.toSet)) {
      dropFiles()
      throw new IllegalStateException(
        s"streaming upsert: key columns $upsertKeys must be table columns " +
          s"(${schema.fieldNames.mkString(", ")})")
    }
    val assigned = latest.schema.map(c => c.name -> c.id).toMap
    val fields = schema.fields.flatMap(f =>
      assigned.get(f.name).map(id => f.name -> (id, f.dataType))).toMap
    val spec = currentSpec(latest, schema)
    import scala.concurrent.duration._
    val par = conf.getInt(ManifestReader.FetchParallelismKey, 16)
    val tmo = conf.getLong(ManifestReader.FetchTimeoutSecKey, 300L).seconds
    val written = DriverPool.mapParallel(
      files.sortBy(_._1), par, tmo, "graft-stream-footer") { case (p, part) =>
      val hp = new Path(p)
      val st = hp.getFileSystem(conf).getFileStatus(hp)
      val (count, lower, upper, nulls, splits, nans) = footerStats(st, conf, fields)
      WrittenFile(st.getPath.toString, count, part, lower, upper, nulls,
        sizeBytes = st.getLen, splitOffsets = splits, nans = nans)
    }.filter(_.count > 0) // a task that saw no rows still opened no file; guard anyway
    if (written.isEmpty && tombstoneFiles.isEmpty && !replaceAll) { dropFiles(); return }
    if (written.isEmpty && tombstoneFiles.isEmpty) dropFiles() // truncate commit references no file
    val snapshotId = state.nextSnapshotId
    val seq = state.nextSeq
    // data manifest only when the epoch carried data rows — a
    // tombstone-only CDC epoch commits a delete manifest alone
    val manifestPath = new Path(path, s"metadata/snap-$snapshotId-${commitToken()}-m0.avro")
    val (dataEntries, rowRange) = assignRowIds(
      state.info.formatVersion, nextRowIdOf(Some(state)), written.map { w =>
        ManifestEntry(status = 1, content = 0, filePath = w.path,
          fileFormat = w.format, recordCount = w.count, fileSizeInBytes = w.sizeBytes,
          partition = w.partition, lowerBounds = w.lower, upperBounds = w.upper,
          splitOffsets = w.splitOffsets, nullCounts = w.nulls, nanCounts = w.nans)
      })
    val dataManifest: Option[Manifest] =
      if (written.isEmpty) None
      else {
        writeManifest(manifestPath, conf, dataEntries,
          spec.map(sf => (sf.fieldName, sf.avroType)))
        Some(Manifest(manifestPath.toString, seq, 0))
      }
    // CDC-apply epoch: equality delete on the epoch's keys — data rows'
    // keys (they replace) plus tombstone rows' keys (they only delete) —
    // committed in the same snapshot as the data (merge's proven commit
    // shape). Key columns come back off the epoch's own files — a
    // bounded job.
    val deleteManifest: Option[Manifest] =
      if (upsertKeys.isEmpty || (written.isEmpty && tombstoneFiles.isEmpty)) None
      else {
        val keysSchema = StructType(
          schema.fields.filter(f => upsertKeys.contains(f.name)))
        val dataKeys =
          if (written.isEmpty) None
          else Some(spark.read.schema(schema)
            .parquet(written.map(_.path): _*)
            .select(upsertKeys.map(col): _*))
        val tombKeys =
          if (tombstoneFiles.isEmpty) None
          else Some(spark.read.schema(keysSchema)
            .parquet(tombstoneFiles: _*)
            .select(upsertKeys.map(col): _*))
        val keyDf = (dataKeys.toSeq ++ tombKeys).reduce(_ unionByName _)
        val (delPath, distinctKeys) = writeEqualityDeleteManifest(
          conf, path, snapshotId, keyDf, latest.schema,
          s"snap-$snapshotId-${commitToken()}-m1.avro")
        // "each source row replaces the row with its key" is only
        // coherent with ONE data row per key per epoch (same rule as
        // merge's batch upsert) — both versions would otherwise survive,
        // since the delete only reaches strictly-older sequence numbers.
        // (A tombstone sharing a data row's key is fine and common: CDC
        // updates arrive as delete+insert pairs.) Without tombstones the
        // delete files' own footers detect it (distinct keys < epoch
        // rows); with them, one explicit distinct over the data keys.
        val dupe = written.nonEmpty && {
          val dataRows = written.map(_.count).sum
          if (tombstoneFiles.isEmpty) distinctKeys < dataRows
          else dataKeys.get.distinct().count() < dataRows
        }
        if (dupe) {
          // name a few offending keys BEFORE dropping the files — "some
          // key somewhere" is undebuggable on a real feed
          val sample = scala.util.Try(
            dataKeys.get.groupBy(upsertKeys.map(col): _*)
              .count().filter(col("count") > 1)
              .limit(5).collect().toSeq.map(_.toString)).getOrElse(Seq.empty)
          dropFiles()
          val fs = new Path(path).getFileSystem(conf)
          try fs.delete(new Path(path, s"data/snap-$snapshotId-eqdeletes"), true)
          catch { case _: Exception => () }
          // nothing was committed: the written data manifest is dead too
          dataManifest.foreach(_ => try fs.delete(manifestPath, false)
            catch { case _: Exception => () })
          throw new IllegalStateException(
            s"streaming upsert: epoch $batchId carries more than one row for " +
              s"the same key $upsertKeys — deduplicate the feed (e.g. " +
              "aggregate per key in update mode, or set " +
              "upsert-ordinal-column for last-writer-wins) before the sink" +
              (if (sample.isEmpty) "" else s"; sample keys: ${sample.mkString(", ")}"))
        }
        Some(Manifest(delPath.toString, seq, content = 1))
      }
    val prevManifests: Seq[Manifest] =
      if (replaceAll || state.snapshots.isEmpty) Seq.empty
      else {
        val base = state.branchHead(branch)
          .map(IcebergMetadataParser.byId(state.info, _, skipSchema = true))
          .getOrElse(IcebergMetadataParser.latest(state.info, skipSchema = true))
        ManifestReader.readManifestList(base.manifestList, conf, base.formatVersion)
      }
    val stdSummary = Map(
      "added-data-files" -> written.size.toString,
      "added-records" -> written.map(_.count).sum.toString,
      "added-files-size" -> written.map(_.sizeBytes).sum.toString,
      batchKey -> batchId.toString)
    commitSnapshot(path, conf, Some(state), schema, snapshotId, seq,
      (prevManifests ++ dataManifest) ++ deleteManifest,
      spec,
      operation =
        if (deleteManifest.nonEmpty && dataManifest.isEmpty) "delete"
        else if (replaceAll || deleteManifest.nonEmpty) "overwrite"
        else "append",
      summary = stdSummary, branch = branch, rowRange = rowRange): Unit
    // tombstone key files are scratch — never referenced by a manifest;
    // remove them now that their keys are in the committed delete file
    drop(tombstoneFiles)
  }

  /** Dynamic partition OVERWRITE (Iceberg's ReplacePartitions /
    * `INSERT OVERWRITE` with dynamic partitioning — the standard
    * batch-pipeline idiom: each run atomically replaces exactly the
    * partitions it recomputed). One snapshot: the incoming rows land as
    * new data files under the table's current spec, and every live data
    * file whose partition tuple matches an INCOMING tuple is tombstoned;
    * untouched partitions carry forward verbatim — at 100 TB a daily
    * backfill replaces one day's files and never rewrites the other
    * 1000 days. On an unpartitioned table this is a full overwrite.
    * Old-spec files that lack the current spec's partition fields cannot
    * be tuple-matched — the commit REFUSES rather than leave stale rows
    * beside the replacement (compact to the current layout first).
    * Schema must match the table exactly (evolution goes through
    * [[write]]). Returns the new snapshot id. */
  def overwritePartitions(df: DataFrame, path: String,
                          branch: String = "main",
                          summary: Map[String, String] = Map.empty): Long = {
    val spark = df.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf).getOrElse(
      throw new IllegalArgumentException(
        s"overwritePartitions: no Iceberg table at $path — create it with write()"))
    val latest = state.opBase("overwrite", branch)
    if (branch != "main") requireUnchangedSchema(state, df.schema, branch)
    val cols = IcebergSchemaParser.parseSchemaById(state.info.schemas, state.info.schemaId)
    require(cols.map(c => (c.name, ignoreNull(c.dataType))) ==
        df.schema.fields.toSeq.map(f => (f.name, ignoreNull(f.dataType))),
      "overwritePartitions: incoming schema must match the table schema " +
        s"exactly (table: ${cols.map(_.name).mkString(",")}, incoming: " +
        s"${df.schema.fieldNames.mkString(",")}) — evolve via write() first")
    val meta = ManifestReader.loadTable(path, latest, conf, allowMovedPaths = false)
    val spec = currentSpec(latest, df.schema)
    val specFields = spec.map(_.fieldName)
    // Option-wrapped tuple key: a null partition value must NOT collide
    // with the literal string "null" (an incoming null-partition batch
    // would otherwise tombstone live files partitioned under "null").
    def key(p: Map[String, Any]): Seq[Option[String]] =
      specFields.map(f => Option(p.getOrElse(f, null)).map(String.valueOf(_)))
    val liveData = meta.entries.collect {
      case (m, es) if m.content == 0 =>
        es.filter(e => e.status != 2 && e.content == 0).map(e => (m, e))
    }.flatten
    if (spec.nonEmpty) liveData.foreach { case (_, e) =>
      require(specFields.forall(e.partition.contains),
        s"overwritePartitions: live file ${e.filePath} predates the current " +
          s"partition spec (${specFields.mkString(",")}) and cannot be " +
          "tuple-matched — stale rows would survive beside the replacement; " +
          "compact the table to the current layout first")
    }
    val snapshotId = state.nextSnapshotId
    val seq = state.nextSeq
    val files = writeDataFiles(df,
      new Path(path, s"data/snap-$snapshotId-${commitToken()}"), spec,
      prevIds = state.rootNode.map(existingIds).getOrElse(Map.empty))
    val replaced: Set[Seq[Option[String]]] =
      if (spec.isEmpty) Set(Seq.empty) else files.map(w => key(w.partition)).toSet
    def hit(e: ManifestEntry): Boolean =
      e.content == 0 && e.status != 2 &&
        (spec.isEmpty || replaced.contains(key(e.partition)))

    val addedPath = new Path(path, s"metadata/snap-$snapshotId-${commitToken()}-m0.avro")
    writeManifest(addedPath, conf, files.map { w =>
      ManifestEntry(status = 1, content = 0, filePath = w.path,
        fileFormat = w.format, recordCount = w.count, fileSizeInBytes = w.sizeBytes,
        partition = w.partition, lowerBounds = w.lower, upperBounds = w.upper, splitOffsets = w.splitOffsets,
        nullCounts = w.nulls, nanCounts = w.nans)
    }, spec.map(sf => (sf.fieldName, sf.avroType)))

    // Data manifests holding replaced files rewrite to DELETED tombstones
    // + EXISTING survivors under explicit sequence numbers (same shape as
    // rewriteDataFiles); untouched data manifests and delete manifests
    // carry verbatim.
    var tombstoned = 0
    val rewritten = meta.entries.map {
      case (m, es) if m.content == 0 && es.exists(hit) =>
        rewriteManifest(path, conf, s"snap-$snapshotId-${commitToken()}-ow.avro",
            Seq(m -> es.filter(_.status != 2))) { e =>
          if (hit(e)) tombstoned += 1
          e.copy(status = if (hit(e)) 2 else 0)
        }
      case (m, _) => m
    }
    commitSnapshot(path, conf, Some(state), df.schema, snapshotId, seq,
      rewritten :+ Manifest(addedPath.toString, seq, 0), spec,
      operation = "overwrite", branch = branch,
      summary = addedFileSummary(files) ++ Map(
        "deleted-data-files" -> tombstoned.toString,
        "replaced-partitions" ->
          (if (spec.isEmpty) "all" else replaced.size.toString)) ++ summary)
  }

  /** Atomic predicate OVERWRITE (the DSv2 `OverwriteByExpression` /
    * `INSERT OVERWRITE` contract): ONE snapshot in which every row
    * matching `predicate` is replaced by `df`'s rows — readers see
    * either the old table or the finished overwrite, never a truncated
    * intermediate, and a crash mid-operation leaves the old snapshot
    * current (the uncommitted files are orphans for maintenance).
    *
    * Two shapes inside the same commit:
    *  - `truncateAll` (INSERT OVERWRITE of the whole table): every live
    *    data entry tombstones to DELETED status in rewritten manifests —
    *    pure metadata, no delete files, no data rewritten;
    *  - predicate overwrite: MoR position tombstones for the matching
    *    rows (v2 parquet deletes / v3 DVs) + the new data files.
    *
    * Schema must match the table exactly (evolution goes through
    * [[write]], same rule as [[overwritePartitions]]). */
  def overwriteWhere(spark: SparkSession, path: String,
                     predicate: org.apache.spark.sql.Column,
                     df: DataFrame,
                     truncateAll: Boolean = false,
                     branch: String = "main",
                     summary: Map[String, String] = Map.empty): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf).getOrElse(
      throw new IllegalArgumentException(
        s"overwriteWhere: no Iceberg table at $path — create it with write()"))
    val latest = state.opBase("overwrite", branch)
    if (branch != "main") requireUnchangedSchema(state, df.schema, branch)
    val cols = IcebergSchemaParser.parseSchemaById(state.info.schemas, state.info.schemaId)
    require(cols.map(c => (c.name, ignoreNull(c.dataType))) ==
        df.schema.fields.toSeq.map(f => (f.name, ignoreNull(f.dataType))),
      "overwriteWhere: incoming schema must match the table schema " +
        s"exactly (table: ${cols.map(_.name).mkString(",")}, incoming: " +
        s"${df.schema.fieldNames.mkString(",")}) — evolve via write() first")
    val meta = ManifestReader.loadTable(path, latest, conf, allowMovedPaths = false)
    val spec = currentSpec(latest, df.schema)
    val snapshotId = state.nextSnapshotId
    val seq = state.nextSeq

    val files = writeDataFiles(df,
      new Path(path, s"data/snap-$snapshotId-${commitToken()}"), spec,
      prevIds = state.rootNode.map(existingIds).getOrElse(Map.empty))
    val effectiveFv = state.info.formatVersion
    val (dataEntries, rowRange) = assignRowIds(
      effectiveFv, nextRowIdOf(Some(state)), files.map { w =>
        ManifestEntry(status = 1, content = 0, filePath = w.path,
          fileFormat = w.format, recordCount = w.count, fileSizeInBytes = w.sizeBytes,
          partition = w.partition, lowerBounds = w.lower, upperBounds = w.upper,
          splitOffsets = w.splitOffsets, nullCounts = w.nulls, nanCounts = w.nans)
      })
    val addedPath = new Path(path, s"metadata/snap-$snapshotId-${commitToken()}-m0.avro")
    writeManifest(addedPath, conf, dataEntries,
      spec.map(sf => (sf.fieldName, sf.avroType)))
    val added = Manifest(addedPath.toString, seq, 0)

    if (truncateAll) {
      // file-level truncation: rewrite data manifests with every live
      // entry tombstoned; delete manifests carry verbatim (their rows
      // now target dead files — harmless, reclaimed by maintenance)
      var tombstoned = 0
      val rewritten = meta.entries.map {
        case (m, es) if m.content == 0 && es.exists(e => e.status != 2) =>
          rewriteManifest(path, conf, s"snap-$snapshotId-${commitToken()}-ow.avro",
              Seq(m -> es.filter(_.status != 2))) { e =>
            tombstoned += 1
            e.copy(status = 2)
          }
        case (m, _) => m
      }
      commitSnapshot(path, conf, Some(state), df.schema, snapshotId, seq,
        rewritten :+ added, spec, operation = "overwrite", branch = branch,
        summary = addedFileSummary(files) ++
          Map("deleted-data-files" -> tombstoned.toString) ++ summary,
        rowRange = rowRange)
    } else {
      // MoR: position tombstones for matching rows, same commit as the
      // new data. The delete rows reference the PRE-commit files by
      // path, so the same-sequence data files above are never affected.
      val (positions, deletes) = matchedPositions(spark, path, latest, meta, predicate, conf)
      val manifests = commitPositionDeletes(
        spark, path, conf, latest, meta, positions, deletes, snapshotId, seq,
        manifestIdx = 1)
      commitSnapshot(path, conf, Some(state), df.schema, snapshotId, seq,
        manifests :+ added, spec, operation = "overwrite", branch = branch,
        summary = addedFileSummary(files) ++ summary, rowRange = rowRange)
    }
  }

  /** Zero-copy shallow CLONE (Iceberg's `snapshot` procedure): a new
    * standalone table whose first metadata file references the source's
    * CURRENT snapshot — manifest list, manifests, data and delete files
    * all in place, nothing copied. At 100 TB, forking a table for an
    * experiment costs one metadata.json write. The clone carries the
    * source's schemas / field ids / partition specs / sort orders /
    * properties verbatim (so appends, metadata-only renames, MoR deletes
    * and maintenance behave exactly as on the source), but starts its own
    * history: only the current snapshot is visible, refs reset to main,
    * logs reset, fresh table-uuid. Divergence is copy-on-write — commits
    * on the clone write under the CLONE's directories, and its vacuum
    * (`removeOrphanFiles`) only ever scans those, so no clone-side
    * maintenance can touch source files (expire/rollback are
    * metadata-only by construction). */
  def cloneTable(spark: SparkSession, sourcePath: String,
                 targetPath: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val srcState = loadState(sourcePath, conf).getOrElse(
      throw new IllegalArgumentException(s"cloneTable: no Iceberg table at $sourcePath"))
    require(srcState.snapshots.nonEmpty, "cloneTable: source table has no snapshots")
    require(loadState(targetPath, conf).isEmpty,
      s"cloneTable: target $targetPath is already an Iceberg table")
    val cur = IcebergMetadataParser.latest(srcState.info, skipSchema = true)
    val json = IcebergIO.readString(
      new Path(sourcePath, s"metadata/v${srcState.version}.metadata.json").toString, conf)
    val root = mapper.readTree(json).asInstanceOf[ObjectNode]
    val curNode = srcState.snapshots
      .find(_.get("snapshot-id").asLong == cur.snapshotId).get
      .deepCopy[JsonNode]().asInstanceOf[ObjectNode]
    // the recorded manifest-list must resolve AS-IS from the clone (the
    // moved-paths splice would re-root it under the CLONE dir and miss);
    // foreign tables that moved since being written need a compact first
    val listPath = new Path(curNode.get("manifest-list").asText)
    require(listPath.getFileSystem(conf).exists(listPath),
      s"cloneTable: source manifest list $listPath does not resolve in place " +
        "— a moved table (allow_moved_paths reads) cannot be cloned " +
        "zero-copy; compact the source first")
    val snaps = mapper.createArrayNode()
    snaps.add(curNode)
    root.set[JsonNode]("snapshots", snaps)
    root.put("current-snapshot-id", cur.snapshotId)
    if (root.has("location")) root.put("location", targetPath): Unit
    root.put("table-uuid", java.util.UUID.randomUUID().toString)
    root.put("last-updated-ms", System.currentTimeMillis())
    writeRefsNode(root, Map("main" -> (cur.snapshotId, "branch")),
      srcState.info.refRetention.filter(_._1 == "main"))
    // fresh history: one snapshot-log entry (the clone's current), no
    // metadata log, and only the current snapshot's statistics entries
    val slog = mapper.createArrayNode()
    val se = slog.addObject()
    se.put("timestamp-ms", curNode.get("timestamp-ms").asLong)
    se.put("snapshot-id", cur.snapshotId)
    root.set[JsonNode]("snapshot-log", slog)
    root.remove("metadata-log")
    Seq("statistics", "partition-statistics").foreach { key =>
      Option(root.get(key)).filter(_.size > 0).foreach { arr =>
        val pruned = mapper.createArrayNode()
        arr.elements.asScala.foreach { e =>
          if (e.get("snapshot-id").asLong == cur.snapshotId) pruned.add(e): Unit
        }
        root.set[JsonNode](key, pruned): Unit
      }
    }
    val metaDir = new Path(targetPath, "metadata")
    metaDir.getFileSystem(conf).mkdirs(metaDir)
    commitVersion(metaDir, conf, 1, root)
    cur.snapshotId
  }

  /** Table property holding the spec's name mapping ("Column Projection"):
    * present iff the table contains files registered in place by
    * [[addFiles]] (written before field-id stamping). Its presence flips
    * the scan to NAME-based column resolution and blocks renames. */
  val NameMappingProp = "schema.name-mapping.default"

  /** Spec name-mapping JSON for the current schema: one entry per field,
    * `{"field-id": id, "names": ["name"]}`, struct members nested under
    * `fields`. List/map member mapping is not emitted (the engine's own
    * name-based reads don't need it; foreign readers of migrated tables
    * with id-less files holding struct-in-array columns would need the
    * deeper mapping — documented limitation). */
  private def nameMappingJson(schema: StructType, ids: Map[String, Int]): String = {
    def entriesOf(st: StructType, prefix: String): com.fasterxml.jackson.databind.node.ArrayNode = {
      val arr = mapper.createArrayNode()
      st.fields.foreach { f =>
        val node = arr.addObject()
        ids.get(prefix + f.name).foreach(id => node.put("field-id", id))
        node.putArray("names").add(f.name)
        f.dataType match {
          case s: StructType =>
            node.set[JsonNode]("fields", entriesOf(s, prefix + f.name + "."))
          case _ => ()
        }
      }
      arr
    }
    mapper.writeValueAsString(entriesOf(schema, ""))
  }

  /** Fails when the recorded name mapping and the current schema have
    * drifted apart (foreign metadata — our own [[renameColumns]] refuses
    * renames while the mapping exists): a mapped field id whose current
    * name is NOT among the mapping's names means migrated id-less files
    * store the column under a different physical name, and a name-based
    * read would silently null it. Columns ABSENT from the mapping are
    * fine — they postdate the migration (addColumn) and correctly read
    * NULL from pre-migration files. */
  private[iceberg] def requireNameMappingConsistent(snapshot: Snapshot): Unit =
    snapshot.properties.get(NameMappingProp).foreach { json =>
      val mapped: Map[Long, Set[String]] =
        mapper.readTree(json).elements.asScala.map { n =>
          n.get("field-id").asLong ->
            n.get("names").elements.asScala.map(_.asText).toSet
        }.toMap
      snapshot.schema.foreach { c =>
        require(mapped.get(c.id.toLong).forall(_.contains(c.name)),
          s"schema.name-mapping.default maps field id ${c.id} to a different " +
            s"name than current column '${c.name}' — migrated id-less files " +
            "would silently read wrong/null values. Rewrite the migrated " +
            "files (compact) and drop the mapping before evolving names.")
      }
    }

  /** All (field-id → name) pairs of one schema JSON node, struct-nested
    * fields included (nested ids are read-relevant too). Used by the
    * [[addFiles]] rename-history guard. */
  private def idNamePairs(schema: JsonNode): Seq[(Long, String)] = {
    val buf = Seq.newBuilder[(Long, String)]
    def walkFields(fields: JsonNode): Unit = fields.elements.asScala.foreach { f =>
      if (f.has("id")) buf += f.get("id").asLong -> f.get("name").asText
      walkType(f.get("type"))
    }
    def walkType(t: JsonNode): Unit =
      if (t.isObject) t.get("type").asText match {
        case "struct" => walkFields(t.get("fields"))
        case "list"   => walkType(t.get("element"))
        case "map"    => walkType(t.get("key")); walkType(t.get("value"))
        case _        =>
      }
    walkFields(schema.get("fields"))
    buf.result()
  }

  /** The `add_files` / migrate-in-place procedure (Iceberg's
    * `system.add_files`): registers EXISTING parquet files into the table
    * WITHOUT copying or rewriting them — at 100 TB, migration cost is one
    * footer read per file (bounded driver pool), not a data rewrite. The
    * commit records absolute source paths, footer-derived record counts /
    * bounds / null counts (so bounds pruning works on migrated files from
    * day one), and sets the spec's `schema.name-mapping.default` property:
    * foreign files predate field-id stamping, so this table's data files
    * are resolved by NAME (the scan reads the whole table name-matched;
    * appends after migration still stamp ids AND keep current names, so
    * the name read stays exact — renames are blocked while the mapping
    * exists).
    *
    * Partitioning: identity transforms only, with the partition VALUE
    * columns physically present in the files (the hive `col=value` path
    * segments feed only the manifest's partition tuples for pruning; data
    * values come from the files — this engine cannot constant-fill a
    * dropped partition column per file, so sources that strip the column
    * from the data are rejected up front rather than read as NULLs). */
  def addFiles(spark: SparkSession, path: String, sourceDir: String,
               partitionBy: Seq[(String, String)] = Seq.empty,
               summary: Map[String, String] = Map.empty,
               formatVersion: Int = 2,
               // "parquet" (default), "orc" or "avro" — ORC/Avro lakes
               // migrate the same way (those scans resolve by name
               // regardless of the mapping)
               dataFormat: String = "parquet"): Long = {
    val fmt = dataFormat.toLowerCase
    require(fmt == "parquet" || fmt == "orc" || fmt == "avro",
      s"addFiles: unsupported data format '$dataFormat' (parquet, orc or avro)")
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf)
    val src = new Path(sourceDir)
    val fs = src.getFileSystem(conf)
    val ext = "." + fmt
    // a crashed producer's staging leftovers are partial containers —
    // registering one would commit garbage (same guard as collectFiles)
    val files = filesUnder(fs, src).filter(s => s.getPath.getName.endsWith(ext) &&
      !s.getPath.toString.contains("/" + AvroFiles.StagingPrefix))
      .sortBy(_.getPath.toString)
    require(files.nonEmpty, s"addFiles: no $ext files under $sourceDir")
    // first file's PHYSICAL schema: new-table schema, and the
    // physical-presence check for partition sources below. Read the one
    // file directly — directory-level inference would materialize hive
    // partition dirs as extra columns.
    val fileSchema =
      if (fmt == "avro") AvroFiles.inferSchema(files.head.getPath.toString, conf)
      else spark.read.format(fmt).load(files.head.getPath.toString).schema
    val schema: StructType = state match {
      case Some(st) =>
        // Rename-history guard (mirror of renameColumns' forward guard):
        // registering the mapping flips the whole table to name-based
        // resolution, but data files written BEFORE a renameColumns store
        // the OLD physical column name — the renamed column would silently
        // read NULL from them. Walk the full schemas history and refuse
        // when any currently-live field id ever carried a different name.
        if (st.snapshots.nonEmpty) {
          val current = st.info.schemas
            .find(s => s.has("schema-id") && s.get("schema-id").asInt == st.info.schemaId)
            .orElse(if (st.info.schemas.size == 1) st.info.schemas.headOption else None)
            .map(idNamePairs(_).toMap).getOrElse(Map.empty)
          for (hist <- st.info.schemas; (id, oldName) <- idNamePairs(hist);
               curName <- current.get(id) if curName != oldName)
            throw new IllegalArgumentException(
              s"addFiles: field id $id was previously named '$oldName' (now " +
                s"'$curName') — data files written before the rename store the " +
                "old physical name and would silently read NULL once the " +
                "migration's name mapping makes reads name-based. Migrate into " +
                "a fresh table (clone/CTAS) instead of registering files here.")
        }
        val cols = IcebergSchemaParser.parseSchemaById(st.info.schemas, st.info.schemaId)
        cols.foreach { c =>
          fileSchema.fields.find(_.name == c.name).foreach { f =>
            require(ignoreNull(f.dataType) == ignoreNull(c.dataType) ||
                widens(f.dataType, c.dataType),
              s"addFiles: column '${c.name}' is ${f.dataType.sql} in the files " +
                s"but ${c.dataType.sql} in the table (not a widening read)")
          }
          // columns absent from the files read NULL by name — allowed
          // (same rule as files predating addColumn)
        }
        StructType(cols.map(c => org.apache.spark.sql.types.StructField(
          c.name, c.dataType, nullable = true)))
      case None => fileSchema
    }
    // physical presence FIRST (before resolveSpec's fieldIndex throws a
    // generic FIELD_NOT_FOUND): hive-stripped partition columns would
    // read NULL under name matching — reject with the real reason
    partitionBy.foreach { case (c, _) =>
      require(fileSchema.fieldNames.contains(c),
        s"addFiles: partition column '$c' is not physically present in the " +
          "source files — hive-stripped partition columns would read NULL; " +
          "re-export with the column retained or register unpartitioned")
    }
    val prevIds = state.flatMap(_.rootNode).map(existingIds).getOrElse(Map.empty)
    val assigned = assignIds(schema, prevIds)
    val spec =
      if (partitionBy.nonEmpty) resolveSpec(schema, partitionBy, assigned)
      else state.filter(_.snapshots.nonEmpty).map { st =>
        currentSpec(
          IcebergMetadataParser.latest(st.info, skipSchema = false), schema)
      }.getOrElse(Seq.empty)
    spec.foreach { sf =>
      require(IcebergTransforms.parse(sf.transform) == IcebergTransforms.Identity,
        s"addFiles: partition transform '${sf.transform}' on '${sf.source}' — " +
          "only identity partitioning is supported for in-place registration")
      require(fileSchema.fieldNames.contains(sf.source),
        s"addFiles: partition column '${sf.source}' is not physically present " +
          "in the source files — hive-stripped partition columns would read " +
          "NULL; re-export with the column retained or register unpartitioned")
    }
    val fields = schema.fields.map(f => f.name -> (assigned(f.name), f.dataType)).toMap
    import scala.concurrent.duration._
    val par = conf.getInt(ManifestReader.FetchParallelismKey, 16)
    val tmo = conf.getLong(ManifestReader.FetchTimeoutSecKey, 300L).seconds
    val written = DriverPool.mapParallel(files, par, tmo, "graft-addfiles") { st =>
      val segs = st.getPath.toString.split('/')
      val partition = spec.flatMap { sf =>
        val prefix = s"${sf.fieldName}="
        segs.find(_.startsWith(prefix))
          .map(seg => sf.fieldName -> parseDirValue(sf, seg.stripPrefix(prefix)))
      }.toMap
      if (spec.nonEmpty) require(partition.size == spec.size,
        s"addFiles: ${st.getPath} lacks hive '<col>=' path segments for the " +
          s"partition spec (${spec.map(_.fieldName).mkString(", ")})")
      val (count, lower, upper, nulls, splits, nans) =
        if (fmt == "orc") orcStats(st, conf, fields)
        else if (fmt == "avro") {
          val (rows, blockOffsets) = AvroFiles.blockIndex(st.getPath, conf)
          (rows, Map.empty[Int, Array[Byte]], Map.empty[Int, Array[Byte]],
            Map.empty[Int, Long], blockOffsets, Map.empty[Int, Long])
        }
        else footerStats(st, conf, fields)
      WrittenFile(st.getPath.toString, count, partition, lower, upper, nulls,
        sizeBytes = st.getLen, format = fmt.toUpperCase, splitOffsets = splits,
        // FOREIGN files: the provable-zero NaN inference rests on
        // parquet-mr's NaN-poisoned min/max — spec-recommended writers
        // (arrow, duckdb) EXCLUDE NaN from stats instead, so a clean
        // foreign footer proves nothing. No nan count for migrated files
        // (float/double >/>= pruning keeps them; still exact).
        nans = Map.empty)
    }
    val snapshotId = state.map(_.nextSnapshotId).getOrElse(1L)
    val seq = state.map(_.nextSeq).getOrElse(1L)
    val fv = state.map(_.info.formatVersion).getOrElse(formatVersion)
    val (entries, rowRange) = assignRowIds(fv, nextRowIdOf(state), written.map { w =>
      ManifestEntry(status = 1, content = 0, filePath = w.path,
        fileFormat = w.format, recordCount = w.count, fileSizeInBytes = w.sizeBytes,
        partition = w.partition, lowerBounds = w.lower, upperBounds = w.upper, splitOffsets = w.splitOffsets,
        nullCounts = w.nulls, nanCounts = w.nans)
    })
    val manifestPath = new Path(path, s"metadata/snap-$snapshotId-${commitToken()}-m0.avro")
    writeManifest(manifestPath, conf, entries,
      spec.map(sf => (sf.fieldName, sf.avroType)))
    val prevManifests: Seq[Manifest] = state match {
      case Some(st) if st.snapshots.nonEmpty =>
        val base = IcebergMetadataParser.latest(st.info, skipSchema = true)
        ManifestReader.readManifestList(base.manifestList, conf, base.formatVersion)
      case _ => Seq.empty
    }
    val stdSummary = Map(
      "added-data-files" -> written.size.toString,
      "added-records" -> written.map(_.count).sum.toString,
      "added-files-size" -> written.map(_.sizeBytes).sum.toString,
      "graft.add-files-source" -> sourceDir)
    commitSnapshot(path, conf, state, schema, snapshotId, seq,
      prevManifests :+ Manifest(manifestPath.toString, seq, 0), spec,
      summary = stdSummary ++ summary,
      formatVersion = if (state.isEmpty) Some(formatVersion) else None,
      rowRange = rowRange,
      propertiesDelta = Map(NameMappingProp -> nameMappingJson(schema, assigned)))
  }

  /** Metadata-only column rename (Iceberg spec "Schema Evolution":
    * rename = keep the field id, change the name). The CURRENT schema is
    * re-emitted with `renames` (old → new) applied — keys may be
    * top-level names or struct-nested dotted paths ("info.m"), values are
    * bare field names; every field id, type, and nested structure stays
    * unchanged — under a fresh schema-id that becomes current. Only
    * LEAF (primitive) fields can be renamed — see the group-type guard
    * below for why. No snapshot is added: data
    * and manifests are untouched. Old data files keep resolving because
    * reads are field-id-keyed ([[IcebergSchemaParser.toStructType]]), and
    * older snapshots keep their own schema-id, so time travel still shows
    * the historical name. Partition specs and sort orders reference
    * source ids, not names, and carry forward verbatim. */
  def renameColumns(spark: SparkSession, path: String,
                    renames: Map[String, String]): Unit = {
    require(renames.nonEmpty, "renameColumns: empty rename map")
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf).getOrElse(
      throw new IllegalArgumentException(s"renameColumns: no Iceberg table at $path"))
    // Migrated tables read data files by NAME (addFiles registered
    // id-less foreign files): a rename would desync the current name from
    // every already-written file's physical name and silently null the
    // column. Refuse until the migrated files are rewritten.
    require(!state.info.properties.contains(NameMappingProp),
      "renameColumns: table carries schema.name-mapping.default (files " +
        "registered in place by addFiles are resolved by NAME) — renaming " +
        "would desync physical names; compact/rewrite the table first")
    val json = IcebergIO.readString(
      new Path(path, s"metadata/v${state.version}.metadata.json").toString, conf)
    val root = mapper.readTree(json).asInstanceOf[ObjectNode]
    val schemasNode = Option(root.get("schemas"))
      .collect { case a: ArrayNode => a }
      .getOrElse(throw new IllegalArgumentException(
        "renameColumns: metadata carries no schemas array"))
    val current = schemasNode.elements.asScala.toSeq
      .find(s => Option(s.get("schema-id")).exists(_.asInt == state.info.schemaId))
      .getOrElse(throw new IllegalArgumentException(
        s"renameColumns: current schema id ${state.info.schemaId} not found"))
    val renamed = current.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
    def structFields(typeNode: JsonNode): Option[JsonNode] =
      Option(typeNode).filter(t => t.isObject &&
        t.get("type").asText == "struct").map(_.get("fields"))
    // Deepest paths first: an ancestor still carries its ORIGINAL name
    // while its children's renames navigate to it ("a" -> "x" and
    // "a.b" -> "c" in one call both resolve).
    renames.toSeq.sortBy(-_._1.count(_ == '.')).foreach { case (oldPath, newName) =>
      require(newName.nonEmpty && !newName.contains("."),
        s"renameColumns: new name '$newName' must be a bare field name")
      val segs = oldPath.split('.').toSeq
      val fields = segs.init.foldLeft(renamed.get("fields")) { (fs, seg) =>
        val f = fs.elements.asScala.find(_.get("name").asText == seg).getOrElse(
          throw new IllegalArgumentException(
            s"renameColumns: no column at path segment '$seg' of '$oldPath'"))
        structFields(f.get("type")).getOrElse(
          throw new IllegalArgumentException(
            s"renameColumns: '$seg' in '$oldPath' is not a struct — only " +
              "struct-nested fields can be renamed by dotted path"))
      }
      val target = fields.elements.asScala.find(_.get("name").asText == segs.last)
        .getOrElse(throw new IllegalArgumentException(
          s"renameColumns: no column '$oldPath' in the current schema"))
      // Group-typed (struct/list/map) fields cannot be renamed: Spark's
      // parquet field-id matching resolves the renamed GROUP itself by id
      // but then fails to line up its children's column paths (they read
      // NULL) — verified against Spark 4.1.2. Leaf renames at any depth
      // are safe; renaming a group would silently lose its values.
      if (target.get("type").isObject && segs.last != newName)
        throw new IllegalArgumentException(
          s"renameColumns: '$oldPath' is a ${target.get("type").get("type").asText} " +
            "column — Spark's parquet reader cannot resolve the children of a " +
            "renamed group by field id (they would read NULL). Rename its " +
            "leaf fields individually, or add a new column and backfill.")
      target.asInstanceOf[ObjectNode].put("name", newName)
    }
    // post-rename uniqueness at EVERY struct level
    def checkUnique(fields: JsonNode, at: String): Unit = {
      val ns = fields.elements.asScala.map(_.get("name").asText).toSeq
      require(ns.distinct.size == ns.size,
        s"renameColumns: resulting names collide at $at: $ns")
      fields.elements.asScala.foreach(f =>
        structFields(f.get("type")).foreach(
          checkUnique(_, s"$at${f.get("name").asText}.")))
    }
    checkUnique(renamed.get("fields"), "")
    // an all-no-op rename (or a rename back) reuses the matching schema's id
    val matched = schemasNode.elements.asScala.toSeq.find(s =>
      s.get("fields").toString == renamed.get("fields").toString)
    val newId = matched.map(_.get("schema-id").asInt).getOrElse(
      schemasNode.elements.asScala.map(_.get("schema-id").asInt).max + 1)
    renamed.put("schema-id", newId)
    if (matched.isEmpty) schemasNode.add(renamed)
    root.put("current-schema-id", newId)
    root.put("last-updated-ms", state.nextTsMs)
    appendLogs(root, Some(state), path, None)
    commitVersion(new Path(path, "metadata"), conf, state.version + 1, root)
  }

  /** Metadata-only ADD COLUMN with spec-v3 DEFAULT VALUES (Iceberg spec
    * "Default values"): the CURRENT schema is re-emitted with one new
    * optional PRIMITIVE column appended under a fresh field id and a
    * fresh schema-id; no snapshot is added and no data file is touched.
    * `initialDefault` is what rows written BEFORE the column existed
    * read back (the scan resolves it per file by data sequence number —
    * files from snapshots older than the column's first declaring
    * snapshot); `writeDefault` is what [[write]] fills when an append
    * omits the trailing column. Genuine nulls written AFTER the add are
    * preserved — defaults never mask stored values. */
  def addColumn(spark: SparkSession, path: String, name: String,
                dataType: DataType,
                initialDefault: Option[Any] = None,
                writeDefault: Option[Any] = None): Unit = {
    require(name.nonEmpty && !name.contains("."),
      s"addColumn: '$name' must be a bare top-level field name")
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf).getOrElse(
      throw new IllegalArgumentException(s"addColumn: no Iceberg table at $path"))
    val json = IcebergIO.readString(
      new Path(path, s"metadata/v${state.version}.metadata.json").toString, conf)
    val root = mapper.readTree(json).asInstanceOf[ObjectNode]
    val schemasNode = Option(root.get("schemas"))
      .collect { case a: ArrayNode => a }
      .getOrElse(throw new IllegalArgumentException(
        "addColumn: metadata carries no schemas array"))
    val current = schemasNode.elements.asScala.toSeq
      .find(s => Option(s.get("schema-id")).exists(_.asInt == state.info.schemaId))
      .getOrElse(throw new IllegalArgumentException(
        s"addColumn: current schema id ${state.info.schemaId} not found"))
    val fields = current.get("fields").elements.asScala.toSeq
    require(!fields.exists(_.get("name").asText == name),
      s"addColumn: column '$name' already exists")
    // primitive-only: defaults (and their JSON single-value encoding) are
    // defined for primitives; a struct/list/map add without defaults can
    // still ride a schema-evolving append instead
    val typeName = dataType match {
      case BooleanType => "boolean"
      case IntegerType => "int"
      case LongType    => "long"
      case FloatType   => "float"
      case DoubleType  => "double"
      case StringType  => "string"
      case DateType    => "date"
      case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
      case other => throw new IllegalArgumentException(
        s"addColumn: unsupported type ${other.sql} — primitives only")
    }
    // Fresh id exactly as assignIds would pick it (positional when free,
    // else the >=NestedFieldIdBase range) so a later schema-evolving
    // append re-derives the SAME id for this column.
    val prev = existingIds(root)
    val taken = prev.values.toSet
    val pos = fields.size + 1
    val id = if (!taken(pos)) pos
             else math.max(NestedFieldIdBase, prev.values.max + 1)
    val added = current.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
    val fn = added.get("fields").asInstanceOf[ArrayNode].addObject()
    fn.put("id", id)
    fn.put("name", name)
    fn.put("required", false)
    fn.put("type", typeName)
    def putDefault(key: String, v: Any): Unit = v match {
      case b: Boolean => fn.put(key, b)
      case i: Int     => fn.put(key, i)
      case l: Long    => fn.put(key, l)
      case f: Float   => fn.put(key, f.toDouble)
      case d: Double  => fn.put(key, d)
      case s: String  => fn.put(key, s)
      case d: java.time.LocalDate => fn.put(key, d.toString) // YYYY-MM-DD
      case d: java.math.BigDecimal => fn.put(key, d.toPlainString)
      case other => throw new IllegalArgumentException(
        s"addColumn: unsupported default value $other (${other.getClass.getName})")
    }
    initialDefault.foreach(putDefault("initial-default", _))
    writeDefault.foreach(putDefault("write-default", _))
    // round-trip check: the recorded JSON must deserialize to the value
    // the scan will substitute (catches type/value mismatches up front)
    Seq("initial-default" -> initialDefault, "write-default" -> writeDefault)
      .foreach { case (k, v) => v.foreach { _ =>
        IcebergSchemaParser.parseDefaultJson(dataType, fn.get(k)): Unit
      } }
    val newId = schemasNode.elements.asScala.map(_.get("schema-id").asInt).max + 1
    added.put("schema-id", newId)
    schemasNode.add(added)
    root.put("current-schema-id", newId)
    val prevLastCol =
      Option(root.get("last-column-id")).map(_.asInt).getOrElse(0)
    root.put("last-column-id", math.max(prevLastCol, id))
    root.put("last-updated-ms", state.nextTsMs)
    appendLogs(root, Some(state), path, None)
    commitVersion(new Path(path, "metadata"), conf, state.version + 1, root)
  }

  /** ALTER TABLE SET/UNSET TBLPROPERTIES — a metadata-only commit (no
    * new snapshot): merge `set` over the current properties, drop
    * `remove`, bump the metadata version. Reserved engine-managed keys
    * cannot be set here (they ride their owning commits). */
  def setProperties(spark: SparkSession, path: String,
      set: Map[String, String] = Map.empty,
      remove: Seq[String] = Seq.empty): Unit = {
    require(set.nonEmpty || remove.nonEmpty,
      "setProperties: nothing to set or remove")
    val overlap = set.keySet.intersect(remove.toSet)
    require(overlap.isEmpty,
      s"setProperties: keys both set and removed: ${overlap.mkString(", ")}")
    // engine-managed keys ride their owning commits; hand-editing them
    // silently corrupts reads (dropping the name mapping flips a
    // migrated table onto the field-id read path against id-less files)
    val reserved = (set.keySet ++ remove).filter(_ == NameMappingProp)
    require(reserved.isEmpty,
      s"setProperties: ${reserved.mkString(", ")} is engine-managed " +
        "(set by add_files migration; it cannot be edited directly)")
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf).getOrElse(
      throw new IllegalArgumentException(s"setProperties: no Iceberg table at $path"))
    val json = IcebergIO.readString(
      new Path(path, s"metadata/v${state.version}.metadata.json").toString, conf)
    val root = mapper.readTree(json).asInstanceOf[ObjectNode]
    val merged = (state.info.properties ++ set) -- remove
    root.remove("properties")
    if (merged.nonEmpty) {
      val pn = root.putObject("properties")
      merged.toSeq.sortBy(_._1).foreach { case (k, v) => pn.put(k, v) }
    }
    root.put("last-updated-ms", state.nextTsMs)
    appendLogs(root, Some(state), path, None)
    commitVersion(new Path(path, "metadata"), conf, state.version + 1, root)
  }

  /** ANALYZE TABLE — per-column NDV statistics (Iceberg spec "Table
    * statistics"). One distributed pass over the CURRENT snapshot's live
    * rows (MoR-correct: tombstoned rows excluded) aggregates a bounded
    * KMV theta sketch per column via the `graft_theta` Catalyst
    * aggregate over codegen'd `xxhash64` — map-side partials mean only
    * O(partitions × k) longs shuffle, never rows, so the pass scales to
    * any table the scan itself handles. Sketches land in ONE puffin file
    * under `metadata/`, and a `statistics` entry (snapshot-id, path,
    * sizes, blob metadata with an `ndv` property per field id) is
    * committed as a metadata-only version. Plan-time NDV consumers
    * ([[IcebergScan.scanFiltered]] broadcast costing,
    * `iceberg_table_statistics`) read the mirrored properties from table
    * metadata and never open the puffin file. Re-analyzing the same
    * snapshot replaces its entry; entries for expired snapshots are
    * pruned by [[expireSnapshots]]/[[rollback]] and their files become
    * [[listOrphanFiles]] candidates.
    *
    * Returns the per-column NDV estimates (standard error ~2.2% at the
    * default k=2048; exact below 2048 distinct values). Nulls are not
    * counted as a distinct value. */
  def analyze(spark: SparkSession, path: String,
              columns: Seq[String] = Seq.empty): Map[String, Long] = {
    graft.functions.GraftFunctions.register(spark)
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf).getOrElse(
      throw new IllegalArgumentException(s"analyze: no Iceberg table at $path"))
    val snap = IcebergMetadataParser.latest(state.info, skipSchema = false)
    val primitive = snap.schema.filter(c => c.dataType match {
      case _: StructType | _: ArrayType | _: MapType => false
      case _ => true
    })
    val chosen =
      if (columns.isEmpty) primitive
      else columns.map(n => primitive.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"analyze: '$n' is not a primitive column of the current schema " +
            s"(have ${primitive.map(_.name).mkString(", ")})")))
    require(chosen.nonEmpty, "analyze: no primitive columns to analyze")
    val df = IcebergScan.scan(spark, path)
    val aggs = chosen.map(c => call_function("graft_theta",
      when(col(c.name).isNotNull, xxhash64(col(c.name)))).as(c.name))
    val row = df.agg(aggs.head, aggs.drop(1): _*).head()
    val sketches = chosen.zipWithIndex.map { case (c, i) =>
      (c, row.getAs[Array[Byte]](i))
    }
    val ndv = sketches.map { case (c, bytes) =>
      c.name -> graft.functions.KmvSketch.estimateFrom(bytes)
    }.toMap
    val statsPath = new Path(path,
      s"metadata/stats-${snap.snapshotId}-${commitToken()}.puffin")
    val blobs = sketches.map { case (c, bytes) =>
      Puffin.StatsBlob(Puffin.ThetaBlobType, bytes, Seq(c.id),
        Map("ndv" -> ndv(c.name).toString))
    }
    val (metas, fileSize, footerSize) = Puffin.writeStatsFile(
      statsPath, conf, blobs, snap.snapshotId, snap.sequenceNumber)
    // metadata-only commit: replace any existing entry for this snapshot
    val json = IcebergIO.readString(
      new Path(path, s"metadata/v${state.version}.metadata.json").toString, conf)
    val root = mapper.readTree(json).asInstanceOf[ObjectNode]
    val stats = mapper.createArrayNode()
    Option(root.get("statistics")).foreach(_.elements.asScala.foreach { e =>
      if (e.get("snapshot-id").asLong != snap.snapshotId) stats.add(e): Unit
    })
    val entry = stats.addObject()
    entry.put("snapshot-id", snap.snapshotId)
    entry.put("statistics-path", statsPath.toString)
    entry.put("file-size-in-bytes", fileSize)
    entry.put("file-footer-size-in-bytes", footerSize)
    val bm = entry.putArray("blob-metadata")
    metas.foreach { m =>
      val b = bm.addObject()
      b.put("type", m.blobType)
      b.put("snapshot-id", m.snapshotId)
      b.put("sequence-number", m.sequenceNumber)
      val fs = b.putArray("fields")
      m.fields.foreach(fs.add)
      val props = b.putObject("properties")
      m.properties.toSeq.sortBy(_._1).foreach { case (k, v) => props.put(k, v) }
    }
    root.set[JsonNode]("statistics", stats)
    root.put("last-updated-ms", state.nextTsMs)
    appendLogs(root, Some(state), path, None)
    commitVersion(new Path(path, "metadata"), conf, state.version + 1, root)
    ndv
  }

  /** Partition statistics (Iceberg spec "Partition statistics"): one
    * parquet file per computation holding [[IcebergScan.partitions]]'s
    * per-partition aggregates plus `last_updated_snapshot_id`, registered
    * under the metadata `partition-statistics` field ({snapshot-id, path,
    * file-size-in-bytes} — the spec's entry shape). Derived purely from
    * manifest metadata, so computing it opens no data files at any table
    * size. Entries carry across commits; expire/rollback prune them; a
    * superseded file surfaces through [[listOrphanFiles]]. */
  def computePartitionStats(spark: SparkSession, path: String): String = {
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf).getOrElse(
      throw new IllegalArgumentException(s"computePartitionStats: no Iceberg table at $path"))
    val snap = IcebergMetadataParser.latest(state.info, skipSchema = true)
    val statsPath = new Path(path,
      s"metadata/partition-stats-${snap.snapshotId}-${commitToken()}.parquet")
    // partition tuples are few relative to files: one small file (spec
    // "Partition statistics files": "Statistics are informational")
    IcebergScan.partitions(spark, path)
      .withColumn("last_updated_snapshot_id", lit(snap.snapshotId))
      .coalesce(1)
      .write.mode("overwrite").parquet(statsPath.toString)
    val size = filesUnder(statsPath.getFileSystem(conf), statsPath).map(_.getLen).sum
    val json = IcebergIO.readString(
      new Path(path, s"metadata/v${state.version}.metadata.json").toString, conf)
    val root = mapper.readTree(json).asInstanceOf[ObjectNode]
    val stats = mapper.createArrayNode()
    Option(root.get("partition-statistics")).foreach(_.elements.asScala.foreach { e =>
      if (e.get("snapshot-id").asLong != snap.snapshotId) stats.add(e): Unit
    })
    val entry = stats.addObject()
    entry.put("snapshot-id", snap.snapshotId)
    entry.put("statistics-path", statsPath.toString)
    entry.put("file-size-in-bytes", size)
    root.set[JsonNode]("partition-statistics", stats)
    root.put("last-updated-ms", state.nextTsMs)
    appendLogs(root, Some(state), path, None)
    commitVersion(new Path(path, "metadata"), conf, state.version + 1, root)
    statsPath.toString
  }

  /** Metadata-only column drop (Iceberg spec "Schema Evolution"). The
    * CURRENT schema is re-emitted without the named top-level columns
    * under a fresh schema-id; no snapshot is added and no data file is
    * touched — old files' values for the column simply stop being read
    * (id-keyed projection). Older snapshots keep their schema-id, so
    * time travel still surfaces the column. The dropped ids stay
    * reserved forever (historical schemas + a monotone last-column-id),
    * so a later added column can never resurrect the old values.
    * Rejected when ANY recorded partition spec or sort order references
    * the column — manifests carry partition tuples/sort layouts derived
    * from it, and dropping the source would orphan them. */
  def dropColumns(spark: SparkSession, path: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "dropColumns: empty column list")
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf).getOrElse(
      throw new IllegalArgumentException(s"dropColumns: no Iceberg table at $path"))
    val json = IcebergIO.readString(
      new Path(path, s"metadata/v${state.version}.metadata.json").toString, conf)
    val root = mapper.readTree(json).asInstanceOf[ObjectNode]
    val schemasNode = Option(root.get("schemas"))
      .collect { case a: ArrayNode => a }
      .getOrElse(throw new IllegalArgumentException(
        "dropColumns: metadata carries no schemas array"))
    val current = schemasNode.elements.asScala.toSeq
      .find(s => Option(s.get("schema-id")).exists(_.asInt == state.info.schemaId))
      .getOrElse(throw new IllegalArgumentException(
        s"dropColumns: current schema id ${state.info.schemaId} not found"))
    val fields = current.get("fields").elements.asScala.toSeq
    val byName = fields.map(f => f.get("name").asText -> f).toMap
    cols.foreach(c => require(byName.contains(c),
      s"dropColumns: no column '$c' in the current schema (has ${byName.keys.toSeq.sorted})"))
    require(cols.toSet.size < fields.size,
      "dropColumns: cannot drop every column of the table")
    val droppedIds = cols.map(c => byName(c).get("id").asInt).toSet
    // any spec in history (old manifests still carry its tuples)
    Option(root.get("partition-specs")).toSeq
      .flatMap(_.elements.asScala.toSeq)
      .flatMap(_.get("fields").elements.asScala.toSeq)
      .foreach { f =>
        require(!droppedIds(f.get("source-id").asInt),
          s"dropColumns: column id ${f.get("source-id").asInt} is a partition " +
            s"source of spec field '${f.get("name").asText}' — drop would orphan " +
            "its manifest partition tuples")
      }
    Option(root.get("sort-orders")).toSeq
      .flatMap(_.elements.asScala.toSeq)
      .flatMap(o => Option(o.get("fields")).toSeq.flatMap(_.elements.asScala.toSeq))
      .foreach { f =>
        require(!droppedIds(f.get("source-id").asInt),
          s"dropColumns: column id ${f.get("source-id").asInt} is referenced by a " +
            "recorded sort order")
      }
    val remaining = mapper.createArrayNode()
    fields.filterNot(f => cols.contains(f.get("name").asText)).foreach(remaining.add)
    val dropped = current.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
    dropped.set[JsonNode]("fields", remaining)
    val matched = schemasNode.elements.asScala.toSeq.find(s =>
      s.get("fields").toString == remaining.toString)
    val newId = matched.map(_.get("schema-id").asInt).getOrElse(
      schemasNode.elements.asScala.map(_.get("schema-id").asInt).max + 1)
    dropped.put("schema-id", newId)
    if (matched.isEmpty) schemasNode.add(dropped)
    root.put("current-schema-id", newId)
    root.put("last-updated-ms", state.nextTsMs)
    appendLogs(root, Some(state), path, None)
    commitVersion(new Path(path, "metadata"), conf, state.version + 1, root)
  }

  /** Snapshot-summary key prefix for the streaming sink's batch-id
    * bookkeeping ([[graft.streaming.IcebergStreamSink]] appends its sink
    * id). Lives here so commitSnapshot can carry these keys forward
    * through maintenance commits. */
  val StreamBatchIdKey = "graft.streaming.batch-id"

  /** Largest long stored under `key` across the retained snapshots'
    * summaries — the recovery read of the streaming sink's batch-id
    * bookkeeping ([[graft.streaming.IcebergStreamSink]]). */
  def maxSummaryValue(spark: SparkSession, path: String, key: String): Option[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    loadState(path, conf).toSeq
      .flatMap(_.snapshots)
      .flatMap(s => Option(s.get("summary")).flatMap(n => Option(n.get(key))))
      .map(_.asText.toLong)
      .maxOption
  }

  /** Row-level DELETE, merge-on-read: rows matching `predicate` are
    * tombstoned by a v2 position-delete file (`file_path`, `pos`) in a new
    * snapshot — no data file is rewritten. The scan's per-file delete
    * filter subtracts them at read time, so this also round-trips the MoR
    * read path against our own writer. Positions come from the parquet
    * `_metadata.row_index` of each live data file, keyed by the exact path
    * string the manifests carry. */
  def delete(spark: SparkSession, path: String,
             predicate: org.apache.spark.sql.Column,
             branch: String = "main"): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf).getOrElse(
      throw new IllegalArgumentException(s"delete: no Iceberg table at $path"))
    val latest = state.opBase("delete", branch)
    val meta = ManifestReader.loadTable(path, latest, conf, allowMovedPaths = false)
    val schema = IcebergSchemaParser.toStructType(latest.schema)
    val snapshotId = state.nextSnapshotId
    val seq = state.nextSeq
    val (positions, deletes) = matchedPositions(spark, path, latest, meta, predicate, conf)
    val manifests = commitPositionDeletes(
      spark, path, conf, latest, meta, positions, deletes, snapshotId, seq)
    commitSnapshot(path, conf, Some(state), schema, snapshotId, seq,
      manifests, operation = "delete", branch = branch)
  }

  /** (file_path, pos) of live rows matching `predicate`, matched against
    * the TOMBSTONE-AWARE scan (provenance kept) — already position/
    * equality-deleted rows must not be re-tombstoned — with the scan's
    * delete plan. Reuses the caller's loaded manifest tree (no second
    * metadata fetch); the qualified-URI → manifest-path bridge mirrors
    * the scan's. Shared by [[delete]] and [[overwriteWhere]]. */
  private def matchedPositions(
      spark: SparkSession, path: String, latest: Snapshot, meta: TableMeta,
      predicate: org.apache.spark.sql.Column,
      conf: Configuration): (DataFrame, IcebergScan.DeletePlan) = {
    val (rows, deletes) = IcebergScan.scanPlanned(spark, path,
      IcebergScan.Options(keepProvenance = true), latest, meta)
    (toOriginalPositions(spark, meta, conf,
      rows.filter(predicate).select(col("__graft_file"), col("__graft_pos"))), deletes)
  }

  /** Provenance (`__graft_file` qualified URI, `__graft_pos`) →
    * (file_path, pos) with the MANIFEST-recorded original path — the
    * qualified-URI bridge all row-tombstoning ops share. The map of live
    * data files rides a broadcast variable into the tasks: a broadcast
    * join cost the commit one more Spark job. */
  private def toOriginalPositions(
      spark: SparkSession, meta: TableMeta, conf: Configuration,
      rows: DataFrame): DataFrame = {
    val qualify: String => String = IcebergIO.qualified(_, conf)
    val original = spark.sparkContext.broadcast(meta.entries.collect {
      case (m, es) if m.content == 0 =>
        es.collect { case e if e.status != 2 && e.content == 0 => qualify(e.filePath) -> e.filePath }
    }.flatten.toMap)
    val toOriginal = org.apache.spark.sql.functions.udf((q: String) => original.value(q))
    rows.select(toOriginal(col("__graft_file")).as("file_path"), col("__graft_pos").as("pos"))
  }

  /** Commit-side position tombstones, routed by the table's format:
    * v2 writes a parquet position-delete file; v3 writes DELETION
    * VECTORS (Iceberg spec v3 — one puffin-held roaring bitmap per
    * affected data file). `positions` are (file_path, pos) with the
    * manifest-recorded path; a null `pos` names a file to rewrite with no
    * new position. `deletes` is the plan of the scan that matched them.
    * Returns the manifest list to commit: previous manifests (superseded
    * delete entries tombstoned via rewrite) plus the new delete manifest.
    *
    * The v3 invariant is AT MOST ONE live DV per data file: the new DV
    * for a file is the union of the incoming positions with the file's
    * prior deletes, and the superseded DV entries are rewritten to
    * DELETED status. The prior deletes are the scan's own: the
    * `FileDeletes` the delete planner assigned the file, loaded through
    * the readers' loader (`DeleteLoader`) — its DV if it has one, else
    * the parquet position deletes whose sequence number reaches it. So
    * the new DV hides exactly what the base snapshot hid plus the new
    * rows. Parquet delete FILES are not tombstoned here — one file can
    * cover unaffected data files too — but scans ignore their rows for
    * any data file that has a DV (the spec's read rule).
    *
    * Scale: one distributed pass. Positions flow through one hash
    * repartition on file_path and a within-partition sort; each task
    * merges each of its files' positions with the file's prior deletes
    * and streams them into ONE puffin file (memory bounded by a single
    * file's position set — Puffin.DVWriter). Only blob COORDINATES come
    * back to the driver, one row per affected data file; they name the
    * DV entries to supersede. */
  private def commitPositionDeletes(
      spark: SparkSession, path: String, conf: Configuration,
      latest: Snapshot, meta: TableMeta, positions: DataFrame,
      deletes: IcebergScan.DeletePlan,
      snapshotId: Long, seq: Long, manifestIdx: Int = 0,
      tombstoneParquetDeletes: Boolean = false,
      // upgradeFormat commits DVs while the LOADED table is still v2
      forceDV: Boolean = false,
      // rewriteEqualityDeletes: the incoming positions ABSORB the live
      // equality deletes — tombstone their entries in the same commit
      tombstoneEqualityDeletes: Boolean = false): Seq[Manifest] = {
    import spark.implicits._
    val prevManifests = ManifestReader.readManifestList(
      latest.manifestList, conf, latest.formatVersion)
    val tok = commitToken()
    val manifestPath = new Path(path, s"metadata/snap-$snapshotId-$tok-m$manifestIdx.avro")
    val asDV = latest.formatVersion >= 3 || forceDV

    val added: Seq[ManifestEntry] =
      if (!asDV) {
        val delDir = new Path(path, s"data/snap-$snapshotId-deletes")
        positions.write.parquet(delDir.toString)
        posDeleteFiles(delDir, conf).map { w =>
          ManifestEntry(status = 1, content = 1, filePath = w.path, // POSITION_DELETES
            fileFormat = "PARQUET", recordCount = w.count, fileSizeInBytes = w.sizeBytes,
            lowerBounds = w.lower, upperBounds = w.upper, splitOffsets = w.splitOffsets)
        }
      } else {
        val prior = deletes.files.filter { case (_, fd) => fd.dv.isDefined || fd.pos.nonEmpty }
        val spec = graft.sql.DeleteSpec.build(spark, prior, Seq.empty,
          positional = prior.valuesIterator.exists(_.pos.nonEmpty))
        val confB = ConfBroadcast(spark, conf)
        val dvDir = new Path(path, s"data/snap-$snapshotId-dv-$tok").toString
        positions
          .select(col("file_path"), col("pos").cast("long").as("pos"))
          .repartition(col("file_path"))
          .sortWithinPartitions("file_path")
          .as[(String, Option[Long])]
          .mapPartitions { rows =>
            val it = rows.buffered
            val out = new Path(s"$dvDir/part-${org.apache.spark.TaskContext.getPartitionId()}.puffin")
            var w: Puffin.DVWriter = null
            val blobs = Seq.newBuilder[(String, String, Long, Long, Long)]
            while (it.hasNext) {
              val file = it.head._1
              val ps = Array.newBuilder[Long]
              while (it.hasNext && it.head._1 == file) it.next()._2.foreach(ps += _)
              spec.files.get(file).foreach { fd =>
                val old = graft.sql.DeleteLoader.deleted(spec, fd, confB.value.value)
                if (old != null) ps ++= old
              }
              val merged = ps.result()
              if (merged.nonEmpty) {
                if (w == null) w = new Puffin.DVWriter(out, confB.value.value, snapshotId, seq)
                val (_, m, card) = w.add(file, merged)
                blobs += ((file, out.toString, m.offset, m.length, card))
              }
            }
            if (w != null) w.close()
            blobs.result().iterator
          }.collect().toSeq.map { case (ref, puffin, off, len, card) =>
            ManifestEntry(status = 1, content = 1, filePath = puffin,
              fileFormat = "PUFFIN", recordCount = card, referencedDataFile = Some(ref),
              contentOffset = Some(off), contentSizeInBytes = Some(len))
          }
      }
    if (added.nonEmpty) writeManifest(manifestPath, conf, added)

    // Rewrite prev delete manifests: tombstone the DV entries the new DVs
    // supersede, the parquet position-delete entries the DVs absorbed
    // (upgrade) and the equality deletes the positions absorbed.
    val affected = added.flatMap(_.referencedDataFile).toSet
    def superseded(e: ManifestEntry): Boolean =
      (e.content == 1 && ((e.isDV && affected(e.referencedDataFile.get)) ||
        (!e.isDV && tombstoneParquetDeletes))) ||
        (e.content == 2 && tombstoneEqualityDeletes)
    val manifestByPath = meta.entries.map { case (m, es) => m.manifestPath -> es }.toMap
    val carried = prevManifests.zipWithIndex.map { case (m, i) =>
      val live = manifestByPath.getOrElse(m.manifestPath, Seq.empty).filter(_.status != 2)
      if (m.content != 1 || !live.exists(superseded)) m
      else rewriteManifest(path, conf, s"snap-$snapshotId-$tok-rw$i.avro", Seq(m -> live)) { e =>
        if (superseded(e)) e.copy(status = 2) else e
      }
    }
    if (added.isEmpty) carried
    else carried :+ Manifest(manifestPath.toString, seq, content = 1)
  }

  /** Upgrade a v2 table to format-version 3 (Iceberg spec v3), rewriting
    * every live parquet position delete into deletion vectors in the
    * same commit — v3 readers use DVs only, so leaving parquet deletes
    * authoritative would drop tombstones. Each live data file the delete
    * planner assigns parquet position deletes gets a DV of exactly the
    * positions the scan applies to it (a delete reaches only data files
    * at or before its sequence number, within its partition); deletes
    * that reach no live file vanish. Data files are untouched; equality
    * deletes carry over (still valid in v3). Idempotent on an
    * already-v3 table (no-op commit is skipped). */
  def upgradeFormat(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf).getOrElse(
      throw new IllegalArgumentException(s"upgradeFormat: no Iceberg table at $path"))
    if (state.info.formatVersion >= 3)
      return state.currentSnapshotId.getOrElse(0L)
    val latest = state.opBase("upgradeFormat", "main")
    val meta = ManifestReader.loadTable(path, latest, conf, allowMovedPaths = false)
    val schema = IcebergSchemaParser.toStructType(latest.schema)
    val snapshotId = state.nextSnapshotId
    val seq = state.nextSeq
    import spark.implicits._
    val deletes = IcebergScan.planPositionDeletes(spark, path, latest, meta)
    val positions = deletes.files.collect { case (f, fd) if fd.pos.nonEmpty => f }.toSeq
      .toDF("file_path").withColumn("pos", lit(null).cast(LongType))
    // The upgraded metadata must not change visible rows — the rewritten
    // state is pure representation change, upgraded under "replace".
    val manifests = commitPositionDeletes(
      spark, path, conf, latest, meta, positions, deletes, snapshotId, seq,
      tombstoneParquetDeletes = true, forceDV = true)
    // ROW LINEAGE backfill (metadata-only): the v2 table's files have no
    // row ids; assign each LIVE data file a first_row_id range now, so
    // lineage is total immediately after upgrade instead of only for
    // rows written later.
    val manifestByPath = meta.entries.map { case (m, es) => m.manifestPath -> es }.toMap
    var nextRow = nextRowIdOf(Some(state))
    val rowBase = nextRow
    val withRowIds = manifests.zipWithIndex.map { case (m, i) =>
      val es = manifestByPath.getOrElse(m.manifestPath, Seq.empty)
      if (m.content != 0 || !es.exists(e => e.status != 2 && e.content == 0)) m
      else rewriteManifest(path, conf,
          s"snap-$snapshotId-${commitToken()}-rid$i.avro", Seq(m -> es)) { e =>
        if (e.status == 2 || e.content != 0) e
        else {
          val withId = e.copy(firstRowId = Some(nextRow))
          nextRow += e.recordCount
          withId
        }
      }
    }
    commitSnapshot(path, conf, Some(state), schema, snapshotId, seq,
      withRowIds, operation = "replace", formatVersion = Some(3),
      rowRange = if (nextRow > rowBase) Some((rowBase, nextRow)) else None)
  }

  /** Row-level EQUALITY DELETE, merge-on-read: `keys` (whose columns must
    * be table columns) are written as a v2 equality-delete file; at read
    * time every data row from a snapshot OLDER than this one whose key
    * columns null-safely equal any key row is subtracted. This is the
    * Iceberg capability the reference defines but never executes
    * (iceberg_types.hpp:45 enum only) — an engine extension here, with
    * the spec's sequence semantics: rows appended at or after the
    * delete's sequence number are NOT affected. */
  def deleteEquality(spark: SparkSession, path: String, keys: DataFrame,
                     branch: String = "main"): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf).getOrElse(
      throw new IllegalArgumentException(s"deleteEquality: no Iceberg table at $path"))
    val latest = state.opBase("deleteEquality", branch)
    val schema = IcebergSchemaParser.toStructType(latest.schema)
    require(keys.schema.fieldNames.toSet.subsetOf(schema.fieldNames.toSet),
      s"deleteEquality: unknown columns ${keys.schema.fieldNames.toSet -- schema.fieldNames}")

    val snapshotId = state.nextSnapshotId
    val seq = state.nextSeq
    val (manifestPath, _) = writeEqualityDeleteManifest(
      conf, path, snapshotId, keys, latest.schema,
      s"snap-$snapshotId-${commitToken()}-m0.avro")
    val prevManifests = ManifestReader.readManifestList(
      latest.manifestList, conf, latest.formatVersion)
    commitSnapshot(path, conf, Some(state), schema, snapshotId, seq,
      prevManifests :+ Manifest(manifestPath.toString, seq, content = 1),
      operation = "delete", branch = branch)
  }

  /** Write `keys` (made distinct) as a v2 equality-delete parquet dir plus
    * its manifest — shared by [[deleteEquality]] and [[merge]]. The key
    * columns are cast to the TABLE's declared types and stamped with
    * `parquet.field.id` footer metadata (Iceberg spec: delete files carry
    * field ids like data files) so id-keyed readers — including our own
    * grouped MoR scan — resolve them across renames and type widening.
    * Returns (manifest path, DISTINCT key count) — the count lets the
    * streaming upsert detect intra-epoch duplicate keys from the delete
    * files' own footers, without a second aggregation job. */
  private def writeEqualityDeleteManifest(
      conf: Configuration, path: String, snapshotId: Long,
      keys: DataFrame, tableCols: Seq[IcebergModel.Column],
      manifestName: String): (Path, Long) = {
    val delDir = new Path(path, s"data/snap-$snapshotId-eqdeletes")
    val byName = tableCols.map(c => c.name -> c).toMap
    val idByName = tableCols.map(c => c.name -> c.id).toMap
    val stamped = keys.select(keys.schema.fields.toIndexedSeq.map { f =>
      val cd = byName(f.name)
      val md = new MetadataBuilder()
        .putLong("parquet.field.id", cd.id.toLong).build()
      // cast to the declared type: nested struct ids live IN the DataType
      // (parsed from the schema JSON), and a by-metadata-only difference
      // still keeps the cast (same trick as the data-file write path)
      val c = if (cd.dataType == f.dataType) col(f.name)
              else col(f.name).cast(cd.dataType)
      c.as(f.name, md)
    }: _*)
    stamped.distinct().write.parquet(delDir.toString)
    // key-column bounds + null counts from the delete files' footers →
    // the scan's equality-delete scoping can skip data files whose key
    // ranges provably overlap no delete row (IcebergScan.eqDeleteScope)
    val fields = keys.schema.fieldNames.map { n =>
      n -> (idByName(n), byName(n).dataType)
    }.toMap
    // zero-row parts (empty write tasks) are filtered inside collectFiles
    val files = collectFiles(delDir, conf, Seq.empty, fields)
    val eqIds = keys.schema.fieldNames.toSeq.map(idByName)
    val manifestPath = new Path(path, s"metadata/$manifestName")
    writeManifest(manifestPath, conf, files.map { w =>
      ManifestEntry(status = 1, content = 2, filePath = w.path, // EQUALITY_DELETES
        fileFormat = "PARQUET", recordCount = w.count, fileSizeInBytes = w.sizeBytes,
        lowerBounds = w.lower, upperBounds = w.upper, splitOffsets = w.splitOffsets, nullCounts = w.nulls, nanCounts = w.nans,
        equalityIds = eqIds)
    })
    (manifestPath, files.map(_.count).sum)
  }

  /** Row-level UPDATE, merge-on-read, in ONE snapshot: matching rows are
    * tombstoned by a position-delete file AND their updated versions are
    * appended as a new data file — the same commit shape the reference's
    * generated tables carry ('write.update.mode'='merge-on-read' UPDATEs,
    * scripts/test_data_generator/updates_v2 in the reference). */
  def update(spark: SparkSession, path: String,
             predicate: org.apache.spark.sql.Column,
             assignments: Map[String, org.apache.spark.sql.Column],
             branch: String = "main"): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf).getOrElse(
      throw new IllegalArgumentException(s"update: no Iceberg table at $path"))
    val latest = state.opBase("update", branch)
    val meta = ManifestReader.loadTable(path, latest, conf, allowMovedPaths = false)
    val schema = IcebergSchemaParser.toStructType(latest.schema)
    require(assignments.keySet.subsetOf(schema.fieldNames.toSet),
      s"update: unknown columns ${assignments.keySet -- schema.fieldNames}")
    val snapshotId = state.nextSnapshotId
    val seq = state.nextSeq

    // Match against the TOMBSTONE-AWARE scan (provenance kept): updating a
    // predicate that matches previously-deleted rows must not resurrect
    // them as fresh data rows. Reuses the manifest tree loaded above.
    // Persisted because BOTH the tombstone write and the rewritten-rows
    // write consume it: re-executing the scan could tombstone one row set
    // and rewrite another under a non-deterministic predicate (and scans
    // the table twice even under a deterministic one) — same reason
    // merge() persists its source.
    val (scanned, deletes) = IcebergScan.scanPlanned(spark, path,
      IcebergScan.Options(keepProvenance = true), latest, meta)
    val matched = scanned.filter(predicate)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // tombstones for the old versions (v2: parquet delete file; v3: DVs)
    val positions = toOriginalPositions(spark, meta, conf,
      matched.select(col("__graft_file"), col("__graft_pos")))
    val delManifests = commitPositionDeletes(
      spark, path, conf, latest, meta, positions, deletes, snapshotId, seq, manifestIdx = 1)

    // updated versions of the matched rows — written under the table's
    // CURRENT partition spec (like merge): an update that dropped the
    // hive layout would leave files without partition tuples and silently
    // degrade pruning on every later scan
    val updated = assignments.foldLeft(
        matched.drop("__graft_file", "__graft_pos"): DataFrame) {
      case (d, (name, value)) => d.withColumn(name, value)
    }.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val spec = currentSpec(latest, updated.schema)
    val dataFiles = writeDataFiles(updated, new Path(path, s"data/snap-$snapshotId"), spec,
      prevIds = state.rootNode.map(existingIds).getOrElse(Map.empty))

    val dataManifest = new Path(path,
      s"metadata/snap-$snapshotId-${commitToken()}-m0.avro")
    // v3 lineage: rewritten rows are NEW rows (delete+insert semantics) —
    // they draw fresh row ids; their _last_updated_sequence_number is this
    // commit's sequence number via ordinary file-seq inheritance.
    val (updEntries, rowRange) = assignRowIds(
      latest.formatVersion, nextRowIdOf(Some(state)), dataFiles.map { w =>
        ManifestEntry(status = 1, content = 0, filePath = w.path,
          fileFormat = "PARQUET", recordCount = w.count, fileSizeInBytes = w.sizeBytes,
          partition = w.partition, lowerBounds = w.lower, upperBounds = w.upper, splitOffsets = w.splitOffsets,
          nullCounts = w.nulls, nanCounts = w.nans)
      })
    writeManifest(dataManifest, conf, updEntries,
      spec.map(sf => (sf.fieldName, sf.avroType)))
    try commitSnapshot(path, conf, Some(state), schema, snapshotId, seq,
      delManifests :+ Manifest(dataManifest.toString, seq, content = 0),
      operation = "overwrite", branch = branch, rowRange = rowRange,
      summary = addedFileSummary(dataFiles))
    finally matched.unpersist(blocking = false)
  }

  /** Standard interchange summary fields for a commit's fresh data files
    * (Iceberg spec "Snapshots" — what external tools read to size
    * incremental work). */
  private def addedFileSummary(files: Seq[WrittenFile]): Map[String, String] =
    Map(
      "added-data-files" -> files.size.toString,
      "added-records" -> files.map(_.count).sum.toString,
      "added-files-size" -> files.map(_.sizeBytes).sum.toString)

  /** MERGE (upsert) in ONE snapshot: every `source` row replaces the
    * current row with the same key when one exists, and is inserted
    * otherwise. This is the canonical Iceberg upsert commit shape — an
    * equality-delete file on the key columns plus the source rows as new
    * data files in the SAME snapshot: the delete's sequence number scopes
    * it to strictly-older data (see [[IcebergScan]] J1 extension), so it
    * tombstones old versions without touching the rows this very commit
    * appends. No data file is rewritten and no target-side join runs —
    * commit cost is O(source), independent of table size, which is what
    * makes continuous upsert ingestion viable at 100 TB. (Engine
    * extension; reference is read-only, SURVEY §7.4.) */
  def merge(spark: SparkSession, path: String,
            source: DataFrame, keyCols: Seq[String],
            branch: String = "main",
            summary: Map[String, String] = Map.empty): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf).getOrElse(
      throw new IllegalArgumentException(s"merge: no Iceberg table at $path"))
    val latest = state.opBase("merge", branch)
    if (branch != "main") requireUnchangedSchema(state, source.schema, branch)
    val schema = IcebergSchemaParser.toStructType(latest.schema)
    require(source.schema.fieldNames.toSeq == schema.fieldNames.toSeq,
      s"merge: source columns ${source.schema.fieldNames.toSeq} must match " +
        s"table columns ${schema.fieldNames.toSeq}")
    // Same type rule as append: equal or widening. A name-only check would
    // let a wrongly-typed source commit physical files the recorded schema
    // can't read back — poisoning every later scan of the table.
    schema.fields.toSeq.zip(source.schema.fields.toSeq).foreach { case (ot, nt) =>
      // ignoreNull also strips nested field-id metadata, which the parsed
      // table schema carries and an incoming source never does
      require(ignoreNull(ot.dataType) == ignoreNull(nt.dataType) ||
          widens(ot.dataType, nt.dataType),
        s"merge: column '${ot.name}' cannot change ${ot.dataType.sql} -> ${nt.dataType.sql}")
    }
    require(keyCols.nonEmpty && keyCols.toSet.subsetOf(schema.fieldNames.toSet),
      s"merge: key columns $keyCols must be table columns")

    val snapshotId = state.nextSnapshotId
    val seq = state.nextSeq

    // The delete-key job and the data-file job both consume `source`;
    // without a persist a non-deterministic source could yield delete keys
    // inconsistent with the appended rows (old version survives next to
    // the new one).
    val src = source.select(schema.fieldNames.map(col).toIndexedSeq: _*).persist()
    try {
      // Equality delete on the source keys. Keys with no current match are
      // harmless no-ops at read time, so no existence probe is needed.
      val (delManifest, distinctKeys) = writeEqualityDeleteManifest(
        conf, path, snapshotId, src.select(keyCols.map(col): _*), latest.schema,
        s"snap-$snapshotId-${commitToken()}-m1.avro")

      // Source rows as new data files — same sequence number as the
      // delete, so the strictly-older scoping leaves them untouched. The
      // table's current partition spec is reused: continuous upsert
      // ingestion must keep producing partition values and bounds, or
      // nothing written by merge would ever prune.
      val spec = currentSpec(latest, src.schema)
      val dataDir = new Path(path, s"data/snap-$snapshotId")
      val dataFiles = writeDataFiles(src, dataDir, spec,
        prevIds = state.rootNode.map(existingIds).getOrElse(Map.empty))
      // "Every source row replaces the row with its key" is only coherent
      // when the source holds ONE row per key — same rule real MERGE
      // implementations enforce. The delete files' own footers tell, as in
      // the streaming upsert: fewer distinct keys than rows written. Nothing
      // is committed, so the files written above go before the error.
      if (distinctKeys < dataFiles.map(_.count).sum) {
        val fs = dataDir.getFileSystem(conf)
        Seq(dataDir, new Path(path, s"data/snap-$snapshotId-eqdeletes"), delManifest)
          .foreach(p => try fs.delete(p, true) catch { case _: Exception => () })
        throw new IllegalArgumentException(
          s"merge: source has multiple rows for the same key $keyCols")
      }

      val dataManifest = new Path(path,
        s"metadata/snap-$snapshotId-${commitToken()}-m0.avro")
      // v3 lineage: upserted rows are new rows with fresh row ids (the
      // equality delete tombstones the old versions; no file is rewritten)
      val (mrgEntries, rowRange) = assignRowIds(
        latest.formatVersion, nextRowIdOf(Some(state)), dataFiles.map { w =>
          ManifestEntry(status = 1, content = 0, filePath = w.path,
            fileFormat = "PARQUET", recordCount = w.count, fileSizeInBytes = w.sizeBytes,
            partition = w.partition, lowerBounds = w.lower, upperBounds = w.upper, splitOffsets = w.splitOffsets,
            nullCounts = w.nulls, nanCounts = w.nans)
        })
      writeManifest(dataManifest, conf, mrgEntries,
        spec.map(sf => (sf.fieldName, sf.avroType)))
      val prevManifests = ManifestReader.readManifestList(
        latest.manifestList, conf, latest.formatVersion)
      // src.schema (not the table schema): a widening merge must record
      // the widened types the new files actually carry, like write() does.
      commitSnapshot(path, conf, Some(state), src.schema, snapshotId, seq,
        prevManifests ++ Seq(
          Manifest(dataManifest.toString, seq, content = 0),
          Manifest(delManifest.toString, seq, content = 1)),
        spec, operation = "overwrite", branch = branch, rowRange = rowRange,
        summary = addedFileSummary(dataFiles) ++ summary)
    } finally src.unpersist(blocking = false)
  }

  /** One WHEN clause of [[mergeInto]]. `condition` None = unconditional;
    * `assigns` None = DELETE, Some = the new row's values by target
    * column name (UPDATE clauses may assign a subset — unassigned
    * columns keep the target's value; INSERT clauses must cover every
    * column). Both are functions of (target, source) DataFrames so
    * callers bind by name against the actual join inputs. */
  final case class MergeClause(
      condition: Option[(DataFrame, DataFrame) => org.apache.spark.sql.Column],
      assigns: Option[Map[String, (DataFrame, DataFrame) => org.apache.spark.sql.Column]])

  /** General SQL MERGE (engine extension): arbitrary ON condition and
    * ordered WHEN MATCHED / WHEN NOT MATCHED / WHEN NOT MATCHED BY
    * SOURCE clauses, each optionally conditional — the full statement
    * surface, unlike [[merge]]'s key-replace upsert.
    *
    * ONE merge-on-read snapshot: target rows an applied clause updates
    * or deletes become position tombstones (v2 parquet deletes / v3
    * DVs), and the updated + inserted rows land as new data files —
    * untouched data files are never rewritten, so commit cost scales
    * with the CHANGE set plus one join against the target, not with
    * table size.
    *
    * Semantics follow the standard: clauses apply in declaration order
    * (first passing condition wins); a target row updated/deleted by
    * MORE THAN ONE source row is an error (the standard's cardinality
    * violation — silently picking one would be nondeterministic). The
    * join is planned by Catalyst like any other (broadcast for small
    * sources, shuffle hash otherwise; AQE handles skew).
    *
    * Scale note: the join result is persisted (MEMORY_AND_DISK) so the
    * tombstone set and the appended rows come from ONE materialization
    * even under non-deterministic sources/conditions. Without
    * NOT MATCHED BY SOURCE clauses the join keeps only matched/source
    * rows (≈ change-set sized); WITH them every target row flows
    * through — correct, but at 100 TB prefer expressing by-source
    * sweeps as a separate DELETE/UPDATE whose predicate can prune. */
  def mergeInto(spark: SparkSession, path: String,
      source: DataFrame,
      on: (DataFrame, DataFrame) => org.apache.spark.sql.Column,
      matched: Seq[MergeClause] = Seq.empty,
      notMatched: Seq[MergeClause] = Seq.empty,
      notMatchedBySource: Seq[MergeClause] = Seq.empty,
      branch: String = "main",
      summary: Map[String, String] = Map.empty): Long = {
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "mergeInto: at least one WHEN clause is required")
    notMatched.foreach(c => require(c.assigns.isDefined,
      "mergeInto: WHEN NOT MATCHED supports INSERT only"))
    // unknown assignment keys must fail loudly, not silently fall back
    // to "keep the target value" (same rule as update())
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf).getOrElse(
      throw new IllegalArgumentException(s"mergeInto: no Iceberg table at $path"))
    val latest = state.opBase("merge", branch)
    val schema = IcebergSchemaParser.toStructType(latest.schema)
    val cols = schema.fieldNames.toSeq
    (matched ++ notMatched ++ notMatchedBySource).flatMap(_.assigns).foreach { as =>
      val unknown = as.keySet.filterNot(k => cols.exists(_.equalsIgnoreCase(k)))
      require(unknown.isEmpty,
        s"mergeInto: unknown assignment columns ${unknown.mkString(", ")} " +
          s"(table columns: ${cols.mkString(", ")})")
    }
    val meta = ManifestReader.loadTable(path, latest, conf, allowMovedPaths = false)
    val spec = currentSpec(latest, schema)
    val snapshotId = state.nextSnapshotId
    val seq = state.nextSeq

    // presence markers survive the outer join where natural columns
    // go null; provenance (file,pos) identifies target rows to tombstone
    val (scanned, deletes) = IcebergScan.scanPlanned(spark, path,
      IcebergScan.Options(keepProvenance = true), latest, meta)
    val t = scanned.withColumn("__t_present", lit(true))
    val s = source.withColumn("__s_present", lit(true))
    val joinType =
      if (notMatched.nonEmpty && notMatchedBySource.nonEmpty) "full_outer"
      else if (notMatched.nonEmpty) "right_outer"
      else if (notMatchedBySource.nonEmpty) "left_outer"
      else "inner"
    val tPresent = col("__t_present").isNotNull
    val sPresent = col("__s_present").isNotNull

    // First-passing-clause selection: clause i applies iff its condition
    // holds and no earlier clause's did. A NULL condition neither
    // applies (SQL filter semantics) nor blocks later clauses —
    // coalesce, or `prior` would go NULL and poison every later
    // clause's flag into silent no-ops.
    def applied(clauses: Seq[MergeClause], base: org.apache.spark.sql.Column)
        : Seq[org.apache.spark.sql.Column] = {
      var prior = lit(false)
      clauses.map { c =>
        val own = org.apache.spark.sql.functions.coalesce(
          c.condition.map(_(t, s)).getOrElse(lit(true)), lit(false))
        val app = base && !prior && own
        prior = prior || own
        app
      }
    }
    // The decision FLAGS are computed into the cached frame itself: every
    // downstream job (cardinality check, tombstones, appends) reads the
    // same materialized booleans, so non-deterministic clause conditions
    // evaluate exactly ONCE per row — the tombstone set and the appended
    // rows can never diverge.
    val mCols = applied(matched, tPresent && sPresent)
      .zipWithIndex.map { case (c, i) => c.as(s"__m$i") }
    val nCols = applied(notMatched, !tPresent && sPresent)
      .zipWithIndex.map { case (c, i) => c.as(s"__n$i") }
    val bCols = applied(notMatchedBySource, tPresent && !sPresent)
      .zipWithIndex.map { case (c, i) => c.as(s"__b$i") }
    val j = t.join(s, on(t, s), joinType)
      .select(Seq(col("*")) ++ mCols ++ nCols ++ bCols: _*)
      .persist()
    try {
      val matchedApp = matched.indices.map(i => col(s"__m$i"))
      val notMatchedApp = notMatched.indices.map(i => col(s"__n$i"))
      val bySourceApp = notMatchedBySource.indices.map(i => col(s"__b$i"))

      // cardinality rule: >1 APPLIED matched pairing per target row
      val touchesTarget = matchedApp.foldLeft(lit(false))(_ || _)
      val dup = j.filter(touchesTarget)
        .groupBy(col("__graft_file"), col("__graft_pos"))
        .count().filter(col("count") > 1).limit(1).count()
      if (dup > 0) throw new IllegalStateException(
        "MERGE cardinality violation: a target row matched (and would be " +
          "changed by) more than one source row — deduplicate the source " +
          "or tighten the ON condition")

      // tombstones: matched update/delete + not-matched-by-source
      // update/delete (distinct — outer-join duplication is benign here)
      val targetTouched = (matchedApp ++ bySourceApp)
        .foldLeft(lit(false))(_ || _)
      val positions = toOriginalPositions(spark, meta, conf,
        j.filter(targetTouched)
          .select(col("__graft_file"), col("__graft_pos")).distinct())

      // appended rows: updates (unassigned columns keep the target's
      // value), not-matched-by-source updates, and inserts
      def projected(app: org.apache.spark.sql.Column,
          assigns: Map[String, (DataFrame, DataFrame) => org.apache.spark.sql.Column],
          fallback: Option[String => org.apache.spark.sql.Column]): DataFrame = {
        val lower = assigns.map { case (k, v) => k.toLowerCase -> v }
        val projs = cols.map { c =>
          lower.get(c.toLowerCase).map(_(t, s)).orElse(fallback.map(_(c)))
            .getOrElse(throw new IllegalArgumentException(
              s"mergeInto: INSERT clause does not assign column '$c'"))
            .cast(schema(c).dataType).as(c)
        }
        j.filter(app).select(projs: _*)
      }
      val updateOut = (matched.zip(matchedApp) ++ notMatchedBySource.zip(bySourceApp))
        .collect { case (c, app) if c.assigns.isDefined =>
          projected(app, c.assigns.get, Some(name => t(name))) }
      val insertOut = notMatched.zip(notMatchedApp).map { case (c, app) =>
        projected(app, c.assigns.get, None) }
      val appendedAll = updateOut ++ insertOut
      val appended = appendedAll.reduceOption(_ unionAll _)

      val touched = positions.limit(1).count() > 0
      val hasNew = appended.exists(_.limit(1).count() > 0)
      if (!touched && !hasNew) return latest.snapshotId // true no-op

      val files = appended.filter(_ => hasNew).map(df => writeDataFiles(df,
        new Path(path, s"data/snap-$snapshotId-${commitToken()}"), spec,
        prevIds = state.rootNode.map(existingIds).getOrElse(Map.empty)))
        .getOrElse(Seq.empty)
      val (dataEntries, rowRange) = assignRowIds(
        state.info.formatVersion, nextRowIdOf(Some(state)), files.map { w =>
          ManifestEntry(status = 1, content = 0, filePath = w.path,
            fileFormat = w.format, recordCount = w.count, fileSizeInBytes = w.sizeBytes,
            partition = w.partition, lowerBounds = w.lower, upperBounds = w.upper,
            splitOffsets = w.splitOffsets, nullCounts = w.nulls, nanCounts = w.nans)
        })
      val manifests =
        if (touched) commitPositionDeletes(
          spark, path, conf, latest, meta, positions, deletes, snapshotId, seq,
          manifestIdx = 1)
        else ManifestReader.readManifestList(
          latest.manifestList, conf, latest.formatVersion)
      val withData =
        if (dataEntries.isEmpty) manifests
        else {
          val addedPath = new Path(path,
            s"metadata/snap-$snapshotId-${commitToken()}-m0.avro")
          writeManifest(addedPath, conf, dataEntries,
            spec.map(sf => (sf.fieldName, sf.avroType)))
          manifests :+ Manifest(addedPath.toString, seq, 0)
        }
      commitSnapshot(path, conf, Some(state), schema, snapshotId, seq,
        // spec snapshot operations are append/replace/overwrite/delete —
        // "overwrite" is the delete+append shape (same as merge())
        withData, spec, operation = "overwrite", branch = branch,
        summary = addedFileSummary(files) ++ summary, rowRange = rowRange)
    } finally j.unpersist(blocking = false)
  }

  /** Whether an Iceberg table exists at `path` (resolvable metadata). */
  def tableExists(spark: SparkSession, path: String): Boolean =
    loadState(path, spark.sessionState.newHadoopConf()).isDefined

  /** The `cherrypick_snapshot` procedure: apply ONE snapshot's changes
    * onto the main head — the selective alternative to [[fastForward]]
    * when a staging branch holds several commits and only one should
    * publish. APPEND-ONLY snapshots cherry-pick (the general case is
    * ill-defined — a delete/rewrite may refer to files main never had):
    * the manifests the source snapshot ADDED over its parent are
    * re-read and their live data entries committed as a NEW manifest at
    * main's next sequence number (fresh data seq — the files are new to
    * THIS lineage; v3 row-id ranges are re-assigned the same way, so
    * cherry-picking can never collide lineage ids). Data files are
    * shared in place, nothing is copied or rewritten. The source branch
    * is untouched. Returns the new main snapshot id. */
  def cherrypickSnapshot(spark: SparkSession, path: String,
                         sourceSnapshotId: Long): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf).getOrElse(
      throw new IllegalArgumentException(s"cherrypickSnapshot: no Iceberg table at $path"))
    val info = state.info
    val src = IcebergMetadataParser.byId(info, sourceSnapshotId, skipSchema = true)
    val srcNode = state.snapshots
      .find(_.get("snapshot-id").asLong == sourceSnapshotId).get
    val parentId = Option(srcNode.get("parent-snapshot-id")).map(_.asLong)
      .getOrElse(throw new IllegalArgumentException(
        "cherrypickSnapshot: the source snapshot has no parent — nothing to diff"))
    val parent = IcebergMetadataParser.byId(info, parentId, skipSchema = true)
    val srcList = ManifestReader.readManifestList(src.manifestList, conf, src.formatVersion)
    val parentList = ManifestReader.readManifestList(
      parent.manifestList, conf, parent.formatVersion)
    val parentPaths = parentList.map(_.manifestPath).toSet
    val added = srcList.filterNot(m => parentPaths(m.manifestPath))
    require(added.nonEmpty,
      "cherrypickSnapshot: the source snapshot added no manifests")
    require(added.forall(_.content == 0),
      "cherrypickSnapshot: only APPEND snapshots cherry-pick — the source " +
        "added delete manifests, whose targets may not exist on main")
    val addedEntries = added.flatMap { m =>
      ManifestReader.readManifestEntries(m.manifestPath, conf, src.formatVersion)
        .filter(e => e.status != 2 && e.content == 0)
    }
    require(addedEntries.nonEmpty,
      "cherrypickSnapshot: the source snapshot added no data files")
    // a dropped-manifest check: every parent manifest must survive into
    // the source list, else the "append" also removed something
    require(parentList.forall(m => srcList.exists(_.manifestPath == m.manifestPath)),
      "cherrypickSnapshot: source is not a pure append over its parent " +
        "(it rewrote or dropped manifests) — fastForward the branch instead")
    val latest = state.opBase("cherrypickSnapshot", "main")
    // Duplicate-publish guard: a source snapshot already reachable from
    // main, or cherry-picked onto main before (summaries carry
    // source-snapshot-id provenance), would re-commit its data files and
    // silently duplicate every row. Walk main's parent chain.
    locally {
      val byId = state.snapshots.map(n => n.get("snapshot-id").asLong -> n).toMap
      var cursor: Option[Long] = Some(latest.snapshotId)
      while (cursor.isDefined) {
        byId.get(cursor.get) match {
          case Some(n) =>
            val id = n.get("snapshot-id").asLong
            require(id != sourceSnapshotId,
              s"cherrypickSnapshot: snapshot $sourceSnapshotId is already " +
                "reachable from main — picking it again would duplicate its rows")
            val picked = Option(n.get("summary"))
              .flatMap(s => Option(s.get("source-snapshot-id"))).map(_.asText)
            require(!picked.contains(sourceSnapshotId.toString),
              s"cherrypickSnapshot: snapshot $sourceSnapshotId was already " +
                s"cherry-picked onto main (as snapshot $id) — picking it " +
                "again would duplicate its rows")
            cursor = Option(n.get("parent-snapshot-id"))
              .filterNot(_.isNull).map(_.asLong)
          case None => cursor = None
        }
      }
    }
    val snapshotId = state.nextSnapshotId
    val seq = state.nextSeq
    val fv = info.formatVersion
    // fresh data sequence numbers AND (v3) fresh row-id ranges: the
    // files are new to main's lineage
    val (entries, rowRange) = assignRowIds(fv, nextRowIdOf(Some(state)),
      addedEntries.map(_.copy(status = 1, sequenceNumber = None,
        firstRowId = None)))
    val manifestPath = new Path(path,
      s"metadata/snap-$snapshotId-${commitToken()}-m0.avro")
    writeManifest(manifestPath, conf, entries, mergedPartitionFields(entries))
    val mainManifests = ManifestReader.readManifestList(
      latest.manifestList, conf, latest.formatVersion)
    commitSnapshot(path, conf, Some(state),
      IcebergSchemaParser.toStructType(latest.schema), snapshotId, seq,
      mainManifests :+ Manifest(manifestPath.toString, seq, 0),
      operation = "append", branch = "main", rowRange = rowRange,
      summary = Map(
        "added-data-files" -> entries.size.toString,
        "added-records" -> entries.map(_.recordCount).sum.toString,
        "source-snapshot-id" -> sourceSnapshotId.toString))
  }

  /** The `rewrite_position_delete_files` maintenance action: consolidate
    * the live parquet position-delete files into a minimal equivalent
    * set. A MoR table under continuous row-level deletes accumulates one
    * small delete file per commit, and every scan reads ALL of them —
    * this rewrite merges them (clustered by target file for join
    * locality) and DROPS every tombstone that reaches no live data file:
    * dangling ones whose target is gone (left behind by
    * compaction/overwrite) and ones the sequence rule keeps from their
    * target (a delete reaches only data files at or before its
    * sequence), shrinking what every scan reads to what can actually
    * match. v3 deletion vectors are already one-per-file and carry
    * forward untouched. The consolidated files commit at the NEW
    * sequence, so they must hold only the positions the scan applies
    * today: each live data file's are loaded from the delete planner's
    * `FileDeletes` through `DeleteLoader`, as the readers load them. Old
    * delete entries are tombstoned under explicit sequence numbers.
    * Returns the new snapshot id, or None when there are no parquet
    * delete files. */
  def rewritePositionDeleteFiles(spark: SparkSession, path: String,
                                 branch: String = "main"): Option[Long] = {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf).getOrElse(
      throw new IllegalArgumentException(
        s"rewritePositionDeleteFiles: no Iceberg table at $path"))
    val latest = state.opBase("rewritePositionDeleteFiles", branch)
    val meta = ManifestReader.loadTable(path, latest, conf, allowMovedPaths = false)
    val parquetDeletes = meta.entries.collect {
      case (m, es) if m.content == 1 =>
        es.filter(e => e.status != 2 && e.content == 1 && !e.isDV)
    }.flatten
    if (parquetDeletes.isEmpty) return None
    val snapshotId = state.nextSnapshotId
    val seq = state.nextSeq
    val reached = IcebergScan.planPositionDeletes(spark, path, latest, meta).files
      .filter { case (_, fd) => fd.dv.isEmpty && fd.pos.nonEmpty }
    val survivors = IcebergScan.deletedPositions(spark, reached)
      .flatMap { case (f, ps) => ps.iterator.map(f -> _) }
      .toDF("file_path", "pos")
    val numOut = math.max(1, parquetDeletes.size / 8)
    val delDir = new Path(path, s"data/snap-$snapshotId-deletes-${commitToken()}")
    survivors
      .repartitionByRange(numOut, col("file_path"), col("pos"))
      .sortWithinPartitions("file_path", "pos")
      .write.parquet(delDir.toString)
    val delFiles = posDeleteFiles(delDir, conf)
    val tok = commitToken()
    val addedPath = new Path(path, s"metadata/snap-$snapshotId-$tok-m0.avro")
    writeManifest(addedPath, conf, delFiles.map { w =>
      ManifestEntry(status = 1, content = 1, filePath = w.path,
        fileFormat = "PARQUET", recordCount = w.count, fileSizeInBytes = w.sizeBytes,
        lowerBounds = w.lower, upperBounds = w.upper, splitOffsets = w.splitOffsets)
    })
    // delete manifests holding parquet entries rewrite to tombstones
    // (DVs stay EXISTING); data manifests carry verbatim
    val rewritten = meta.entries.map {
      case (m, es) if m.content == 1 &&
          es.exists(e => e.status != 2 && e.content == 1 && !e.isDV) =>
        rewriteManifest(path, conf, s"snap-$snapshotId-${commitToken()}-rpd.avro",
            Seq(m -> es.filter(_.status != 2))) { e =>
          e.copy(status = if (e.isDV) 0 else 2)
        }
      case (m, _) => m
    }
    val dropped = parquetDeletes.map(_.recordCount).sum - delFiles.map(_.count).sum
    Some(commitSnapshot(path, conf, Some(state),
      IcebergSchemaParser.toStructType(latest.schema), snapshotId, seq,
      rewritten :+ Manifest(addedPath.toString, seq, content = 1),
      operation = "replace", branch = branch,
      summary = Map(
        "rewritten-delete-files" -> parquetDeletes.size.toString,
        "added-delete-files" -> delFiles.size.toString,
        "removed-dangling-delete-rows" -> dropped.toString)))
  }

  /** The `rewrite_equality_deletes` maintenance action: CONVERT the live
    * equality deletes into position tombstones (parquet position-delete
    * files on v2; deletion vectors on v3) and tombstone every
    * equality-delete entry, in ONE `replace` snapshot.
    *
    * Why convert rather than merge: an equality delete at sequence S
    * reaches data rows with sequence < S, so each key's effective
    * sequence window is (last stale row's seq, first re-insert's seq] —
    * merging N epoch files into one file at ANY single sequence either
    * resurrects stale rows (too low) or kills re-inserted ones (too
    * high) whenever two keys' windows are disjoint, which is the normal
    * CDC steady state. Locating the matched rows ONCE and pinning them
    * by (file, pos) is the only per-tuple-bounded representation that
    * preserves semantics exactly — and it is sequence-insensitive, so
    * the conversion commits at the new sequence like any delete.
    *
    * Effect at scale: a CDC mirror accrues one eq-delete file per epoch,
    * and every scan's equality-delete key index (spliced filter and
    * keyed reader alike) grows O(epochs) between compactions. After
    * conversion the delete side is one DV per affected data file (v3) or
    * a handful of consolidated position files (v2); on v3 the keyed
    * (storage-partitioned) read path composes with DVs, so zero-shuffle
    * joins survive the maintenance. Dangling keys (matching no live row)
    * vanish entirely. Changelog-invisible (`replace`). Returns the new
    * snapshot id, or None when the table has no live equality deletes. */
  def rewriteEqualityDeletes(spark: SparkSession, path: String,
                             branch: String = "main"): Option[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf).getOrElse(
      throw new IllegalArgumentException(
        s"rewriteEqualityDeletes: no Iceberg table at $path"))
    val latest = state.opBase("rewriteEqualityDeletes", branch)
    val meta = ManifestReader.loadTable(path, latest, conf, allowMovedPaths = false)
    val eqEntries = meta.entries.collect {
      case (m, es) if m.content == 1 =>
        es.filter(e => e.status != 2 && e.content == 2)
    }.flatten
    if (eqEntries.isEmpty) return None
    // rows the equality deletes currently remove = (position-filtered)
    // MINUS (fully-filtered): both sides ride the one scan composition,
    // so the conversion can never drift from read semantics
    val optsP = IcebergScan.Options(keepProvenance = true)
    val prov = Seq(col("__graft_file"), col("__graft_pos"))
    val base = IcebergScan.scanLoaded(spark, path,
        optsP.copy(skipEqualityDeletes = true), latest, meta).select(prov: _*)
    val (survivors, deletes) = IcebergScan.scanPlanned(spark, path, optsP, latest, meta)
    val hits = base.join(survivors.select(prov: _*),
      Seq("__graft_file", "__graft_pos"), "left_anti")
    val positions = toOriginalPositions(spark, meta, conf, hits)
    val snapshotId = state.nextSnapshotId
    val seq = state.nextSeq
    val manifests = commitPositionDeletes(
      spark, path, conf, latest, meta, positions, deletes, snapshotId, seq,
      tombstoneEqualityDeletes = true)
    Some(commitSnapshot(path, conf, Some(state),
      IcebergSchemaParser.toStructType(latest.schema), snapshotId, seq,
      manifests, operation = "replace", branch = branch,
      summary = Map(
        "rewritten-equality-delete-files" -> eqEntries.size.toString,
        "rewritten-equality-delete-rows" ->
          eqEntries.map(_.recordCount).sum.toString)))
  }

  /** Compact the table: rewrite all live rows into fresh data files in ONE
    * new snapshot whose manifests mark every previous data file DELETED —
    * the maintenance operation behind the reference's own checked-in table
    * (its latest snapshot shows exactly this ADDED+DELETED manifest shape,
    * `iceberg_metadata.test:13-17`). Older snapshots stay readable (their
    * files are not removed), so time travel still works. */
  def compact(spark: SparkSession, path: String,
              branch: String = "main"): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf).getOrElse(
      throw new IllegalArgumentException(s"compact: no Iceberg table at $path"))
    val latest = state.opBase("compact", branch)
    val meta = ManifestReader.loadTable(path, latest, conf, allowMovedPaths = false)
    val liveEntries = meta.entries.collect {
      case (m, es) if m.content == 0 => es.filter(e => e.status != 2 && e.content == 0)
    }.flatten

    // v3 ROW LINEAGE across rewrites (Iceberg spec "Row Lineage"): a
    // compacted file holds rows from many sources, so inherited ids can't
    // survive — the spec's mechanism is to MATERIALIZE _row_id and
    // _last_updated_sequence_number into the rewritten files (reserved
    // field ids), which the scan then prefers over inheritance.
    val fv = state.info.formatVersion
    val df = IcebergScan.scanLoaded(
      spark, path, IcebergScan.Options(rowLineage = fv >= 3), latest, meta)
    val logicalSchema = StructType(df.schema.fields.filterNot(f =>
      f.name == RowIdCol || f.name == LastUpdatedSeqCol))
    val snapshotId = state.nextSnapshotId
    val seq = state.nextSeq
    // Compaction preserves the table's partition layout: rewriting a
    // partitioned table into unpartitioned files would erase every
    // partition tuple from the manifests and kill pruning table-wide.
    val spec = currentSpec(latest, logicalSchema)
    val dataFiles = writeDataFiles(df, new Path(path, s"data/snap-$snapshotId"), spec,
      prevIds = state.rootNode.map(existingIds).getOrElse(Map.empty))

    val addedPath = new Path(path, s"metadata/snap-$snapshotId-${commitToken()}-m0.avro")
    writeManifest(addedPath, conf, dataFiles.map { w =>
      // firstRowId stays None: the materialized column is authoritative
      ManifestEntry(status = 1, content = 0, filePath = w.path,
        fileFormat = "PARQUET", recordCount = w.count, fileSizeInBytes = w.sizeBytes,
        partition = w.partition, lowerBounds = w.lower, upperBounds = w.upper, splitOffsets = w.splitOffsets,
        nullCounts = w.nulls, nanCounts = w.nans)
    }, spec.map(sf => (sf.fieldName, sf.avroType)))
    val deletedPath = new Path(path, s"metadata/snap-$snapshotId-${commitToken()}-m1.avro")
    writeManifest(deletedPath, conf,
      liveEntries.map(_.copy(status = 2))) // DELETED

    commitSnapshot(path, conf, Some(state), logicalSchema, snapshotId, seq, Seq(
      Manifest(addedPath.toString, seq, 0),
      Manifest(deletedPath.toString, seq, 0)),
      operation = "replace", branch = branch,
      summary = addedFileSummary(dataFiles) +
        ("deleted-data-files" -> liveEntries.size.toString))
  }

  /** Z-ORDER clustered rewrite (the `rewrite_data_files` strategy =>
    * 'sort' with a z-order expression other Iceberg engines expose): the
    * table's live rows are rewritten into `numFiles` files ordered by the
    * Morton interleave of the clustering columns' scaled ranks
    * ([[graft.functions.ZOrder]]) — each output file then covers a small
    * BOX of the multi-column key space, its footer bounds are tight on
    * EVERY clustering column, and a multi-dimension box predicate prunes
    * files on all dimensions at once (a plain sorted write only prunes
    * the leading column). Ranges come from one column-pruned min/max
    * pass; the rewrite itself is the same full rewrite as [[compact]]
    * (deletes applied, v3 lineage materialized, original files
    * tombstoned). 2 or 3 clustering columns of integer/date/timestamp/
    * float type. Returns the new snapshot id. */
  def zorder(spark: SparkSession, path: String, columns: Seq[String],
             numFiles: Int, branch: String = "main"): Long = {
    require(numFiles > 0, s"zorder: numFiles must be positive, got $numFiles")
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf).getOrElse(
      throw new IllegalArgumentException(s"zorder: no Iceberg table at $path"))
    val latest = state.opBase("zorder", branch)
    val meta = ManifestReader.loadTable(path, latest, conf, allowMovedPaths = false)
    val liveEntries = meta.entries.collect {
      case (m, es) if m.content == 0 => es.filter(e => e.status != 2 && e.content == 0)
    }.flatten

    val fv = state.info.formatVersion
    val df = IcebergScan.scanLoaded(
      spark, path, IcebergScan.Options(rowLineage = fv >= 3), latest, meta)
    val logicalSchema = StructType(df.schema.fields.filterNot(f =>
      f.name == RowIdCol || f.name == LastUpdatedSeqCol))
    columns.foreach(c => require(logicalSchema.fieldNames.contains(c),
      s"zorder: no column '$c' in the table schema"))
    val ranked = columns.map(c =>
      graft.functions.ZOrder.rank(col(c), logicalSchema(c).dataType))
    // one column-pruned pass for the ranges the scaling grid needs
    val aggCols = ranked.zipWithIndex.flatMap { case (r, i) =>
      Seq(org.apache.spark.sql.functions.min(r).as(s"mn$i"),
          org.apache.spark.sql.functions.max(r).as(s"mx$i"))
    }
    val statsRow = df.agg(aggCols.head, aggCols.tail: _*).head()
    val mins = columns.indices.map(i =>
      if (statsRow.isNullAt(2 * i)) 0L else statsRow.getLong(2 * i))
    val maxes = columns.indices.map(i =>
      if (statsRow.isNullAt(2 * i + 1)) 0L else statsRow.getLong(2 * i + 1))
    val zv = graft.functions.ZOrder.zvalue(ranked, mins, maxes)
    val clustered = df.withColumn("__graft_zv", zv)
      .repartitionByRange(numFiles, col("__graft_zv"))
      .sortWithinPartitions("__graft_zv")
      .drop("__graft_zv")

    val snapshotId = state.nextSnapshotId
    val seq = state.nextSeq
    val spec = currentSpec(latest, logicalSchema)
    val dataFiles = writeDataFiles(clustered,
      new Path(path, s"data/snap-$snapshotId"), spec,
      prevIds = state.rootNode.map(existingIds).getOrElse(Map.empty))

    val addedPath = new Path(path, s"metadata/snap-$snapshotId-${commitToken()}-m0.avro")
    writeManifest(addedPath, conf, dataFiles.map { w =>
      ManifestEntry(status = 1, content = 0, filePath = w.path,
        fileFormat = "PARQUET", recordCount = w.count, fileSizeInBytes = w.sizeBytes,
        partition = w.partition, lowerBounds = w.lower, upperBounds = w.upper, splitOffsets = w.splitOffsets,
        nullCounts = w.nulls, nanCounts = w.nans)
    }, spec.map(sf => (sf.fieldName, sf.avroType)))
    val deletedPath = new Path(path, s"metadata/snap-$snapshotId-${commitToken()}-m1.avro")
    writeManifest(deletedPath, conf, liveEntries.map(_.copy(status = 2)))

    commitSnapshot(path, conf, Some(state), logicalSchema, snapshotId, seq, Seq(
      Manifest(addedPath.toString, seq, 0),
      Manifest(deletedPath.toString, seq, 0)),
      operation = "replace", branch = branch,
      summary = addedFileSummary(dataFiles) +
        ("deleted-data-files" -> liveEntries.size.toString) +
        ("zorder-columns" -> columns.mkString(",")))
  }

  /** User-callable manifest compaction — the `rewrite_manifests`
    * maintenance action other Iceberg engines expose. The automatic
    * merge ([[maybeMergeManifests]]) only fires when a COMMIT carries
    * more manifests than the threshold; this forces the same merge on
    * demand (one manifest per content class, entries keeping their
    * effective sequence numbers explicitly), committed as a `replace`
    * snapshot that touches no data file — planning I/O for every later
    * scan drops to one manifest read per class. Returns the new snapshot
    * id, or None when every class already has ≤ 1 manifest (no commit). */
  def rewriteManifests(spark: SparkSession, path: String,
                       branch: String = "main"): Option[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf).getOrElse(
      throw new IllegalArgumentException(s"rewriteManifests: no Iceberg table at $path"))
    val latest = state.opBase("rewriteManifests", branch)
    val manifests = ManifestReader.readManifestList(
      latest.manifestList, conf, latest.formatVersion)
    if (manifests.groupBy(_.content).forall(_._2.size <= 1)) return None
    val snapshotId = state.nextSnapshotId
    val merged = mergeManifestGroups(path, conf, snapshotId, manifests)
    val id = commitSnapshot(path, conf, Some(state),
      IcebergSchemaParser.toStructType(latest.schema),
      snapshotId, state.nextSeq, merged,
      operation = "replace", branch = branch,
      summary = Map(
        "manifests-replaced" -> manifests.size.toString,
        "manifests-created" -> merged.size.toString))
    Some(id)
  }

  /** Binpack small-file compaction — the `rewrite_data_files` maintenance
    * action other Iceberg engines expose ([[compact]] stays the full
    * rewrite). Live data files smaller than `smallFileThreshold` (by the
    * manifests' `file_size_in_bytes` — no file I/O to pick candidates)
    * are rewritten, with their deletes applied, into files sized toward
    * `targetFileSize`; every other file carries as EXISTING with its
    * ORIGINAL data sequence number (spec field 3, explicit), so
    * incremental reads, equality-delete sequence scoping and time travel
    * are unaffected. At 100 TB this touches only the small-file tail a
    * streaming sink accretes — a full rewrite of a healthy table would be
    * an accidental petabyte shuffle. Returns the new snapshot id, or None
    * when fewer than two candidates exist (no commit). Files whose size
    * predates the `file_size_in_bytes` field (recorded as 0) are never
    * candidates: unknown is not small. */
  /** Column names of the table's DEFAULT sort order (identity fields
    * only — the only kind this writer emits; transform fields from a
    * foreign writer are skipped with their order unusable → empty). */
  private def recordedSortColumns(state: State): Seq[String] = {
    val root = state.rootNode.getOrElse(return Seq.empty)
    val defId = Option(root.get("default-sort-order-id"))
      .map(_.asInt).getOrElse(0)
    if (defId == 0) return Seq.empty
    val cols = IcebergSchemaParser
      .parseSchemaById(state.info.schemas, state.info.schemaId)
    val byId = cols.map(c => c.id -> c.name).toMap
    val fields = Option(root.get("sort-orders")).toSeq
      .flatMap(_.elements.asScala)
      .find(o => Option(o.get("order-id")).exists(_.asInt == defId)).toSeq
      .flatMap(o => Option(o.get("fields")).toSeq.flatMap(_.elements.asScala.toSeq))
    val names = fields.map { f =>
      if (f.get("transform").asText != "identity") None
      else byId.get(f.get("source-id").asInt)
    }
    if (names.exists(_.isEmpty)) Seq.empty else names.flatten
  }

  def rewriteDataFiles(spark: SparkSession, path: String,
                       smallFileThreshold: Long = 32L * 1024 * 1024,
                       targetFileSize: Long = 128L * 1024 * 1024,
                       branch: String = "main",
                       // "binpack" (default): merge small files only.
                       // "sort": recluster EVERY live data file by the
                       // table's default sort order (or `sortBy`) via one
                       // range shuffle — the rewrite_data_files sort
                       // strategy; restores a sorted layout that unsorted
                       // appends have degraded, in parallel at any width.
                       strategy: String = "binpack",
                       sortBy: Seq[String] = Seq.empty): Option[Long] = {
    require(smallFileThreshold > 0 && targetFileSize > 0,
      "rewriteDataFiles: thresholds must be positive")
    require(strategy == "binpack" || strategy == "sort",
      s"rewriteDataFiles: unknown strategy '$strategy' (binpack or sort)")
    val conf = spark.sessionState.newHadoopConf()
    val state = loadState(path, conf).getOrElse(
      throw new IllegalArgumentException(s"rewriteDataFiles: no Iceberg table at $path"))
    val latest = state.opBase("rewriteDataFiles", branch)
    val sortCols =
      if (strategy != "sort") Seq.empty
      else if (sortBy.nonEmpty) sortBy
      else recordedSortColumns(state)
    if (strategy == "sort") require(sortCols.nonEmpty,
      "rewriteDataFiles(strategy=sort): the table records no default " +
        "sort order — pass sortBy explicitly")
    val meta = ManifestReader.loadTable(path, latest, conf, allowMovedPaths = false)
    def isCandidate(e: ManifestEntry): Boolean =
      e.content == 0 && e.status != 2 &&
        (strategy == "sort" ||
          (e.fileSizeInBytes > 0L && e.fileSizeInBytes < smallFileThreshold))
    val candidates = meta.entries.collect {
      case (m, es) if m.content == 0 => es.filter(isCandidate)
    }.flatten
    if (candidates.size < (if (strategy == "sort") 1 else 2)) return None
    val candidatePaths = candidates.map(_.filePath).toSet

    // Scan ONLY the candidates' surviving rows: restrict the loaded data
    // entries, keep every delete manifest — position deletes / DVs /
    // equality deletes against candidate files apply during the rewrite
    // exactly as they would in a full scan.
    val restricted = meta.copy(entries = meta.entries.map { case (m, es) =>
      m -> (if (m.content == 0) es.filter(e => e.status != 2 && candidatePaths(e.filePath))
            else es)
    })
    val fv = state.info.formatVersion
    val df = IcebergScan.scanLoaded(
      spark, path, IcebergScan.Options(rowLineage = fv >= 3), latest, restricted)
    val logicalSchema = StructType(df.schema.fields.filterNot(f =>
      f.name == RowIdCol || f.name == LastUpdatedSeqCol))
    val snapshotId = state.nextSnapshotId
    val seq = state.nextSeq
    val spec = currentSpec(latest, logicalSchema)
    // Size toward the target via a record cap derived from the
    // candidates' own bytes-per-row — manifest arithmetic, no sampling.
    val rowsPerFile = math.max(1L,
      targetFileSize * candidates.map(_.recordCount).sum /
        math.max(1L, candidates.map(_.fileSizeInBytes).sum))
    val width = math.max(1,
      (candidates.map(_.fileSizeInBytes).sum / targetFileSize).toInt)
    // sort strategy: range-distribute on the sort keys (disjoint tight
    // bounds per output file); binpack: plain coalesce, no shuffle
    val shaped =
      if (sortCols.nonEmpty) df.repartitionByRange(width, sortCols.map(col): _*)
      else df.coalesce(width)
    val dataFiles = writeDataFiles(
      shaped,
      new Path(path, s"data/snap-$snapshotId-${commitToken()}"), spec,
      sortBy = sortCols,
      options = Map("maxRecordsPerFile" -> rowsPerFile.toString),
      prevIds = state.rootNode.map(existingIds).getOrElse(Map.empty))

    val addedPath = new Path(path,
      s"metadata/snap-$snapshotId-${commitToken()}-m0.avro")
    writeManifest(addedPath, conf, dataFiles.map { w =>
      // firstRowId stays None: v3 lineage is materialized in the files
      ManifestEntry(status = 1, content = 0, filePath = w.path,
        fileFormat = "PARQUET", recordCount = w.count, fileSizeInBytes = w.sizeBytes,
        partition = w.partition, lowerBounds = w.lower, upperBounds = w.upper, splitOffsets = w.splitOffsets,
        nullCounts = w.nulls, nanCounts = w.nans)
    }, spec.map(sf => (sf.fieldName, sf.avroType)))

    // Data manifests holding candidates are rewritten: candidates become
    // DELETED tombstones (the changelog's removed-file markers), everything
    // else EXISTING — both with explicit sequence numbers. Untouched data
    // manifests and ALL delete manifests carry forward verbatim.
    val rewritten = meta.entries.map {
      case (m, es) if m.content == 0 && es.exists(isCandidate) =>
        rewriteManifest(path, conf, s"snap-$snapshotId-${commitToken()}-rw.avro",
            Seq(m -> es.filter(_.status != 2))) { e =>
          e.copy(status = if (candidatePaths(e.filePath)) 2 else 0)
        }
      case (m, _) => m
    }
    Some(commitSnapshot(path, conf, Some(state), logicalSchema, snapshotId, seq,
      rewritten :+ Manifest(addedPath.toString, seq, 0),
      operation = "replace", branch = branch,
      summary = addedFileSummary(dataFiles) ++ Map(
        "deleted-data-files" -> candidates.size.toString,
        "rewritten-bytes" -> candidates.map(_.fileSizeInBytes).sum.toString)))
  }
}

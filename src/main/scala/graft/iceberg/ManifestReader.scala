package graft.iceberg

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.conf.Configuration

import IcebergModel._
import scala.jdk.CollectionConverters._

/** Driver-side Avro reads of manifest lists and manifests using *partial*
  * reader schemas (Avro schema-resolution projection) — the analogue of the
  * reference's avro-cpp reads (duckdb_iceberg `src/common/iceberg.cpp:38-91`,
  * schemas `src/include/iceberg_types.hpp:60-77,122-155`).
  */
object ManifestReader {

  private def readRecords(path: String, conf: Configuration, readerSchema: Schema): Seq[GenericRecord] = {
    val bytes = IcebergIO.readBytes(path, conf)
    // null reader schema → decode with the file's writer schema (full records)
    val datumReader = new GenericDatumReader[GenericRecord](null, readerSchema)
    val reader = new DataFileReader[GenericRecord](new SeekableByteArrayInput(bytes), datumReader)
    try {
      val buf = Seq.newBuilder[GenericRecord]
      while (reader.hasNext) buf += reader.next()
      buf.result()
    } finally reader.close()
  }

  private def longOr(r: GenericRecord, name: String, dflt: Long): Long =
    fieldOrNull(r, name) match {
      case n: java.lang.Number => n.longValue
      case _ => dflt
    }
  private def intOr(r: GenericRecord, name: String, dflt: Int): Int =
    fieldOrNull(r, name) match {
      case n: java.lang.Number => n.intValue
      case _ => dflt
    }

  private def longOpt(r: GenericRecord, name: String): Option[Long] =
    fieldOrNull(r, name) match {
      case n: java.lang.Number => Some(n.longValue)
      case _ => None
    }
  private def intOpt(r: GenericRecord, name: String): Option[Int] =
    fieldOrNull(r, name) match {
      case n: java.lang.Number => Some(n.intValue)
      case _ => None
    }

  /** The v2 full-schema fields of one manifest-list record, when the
    * writer recorded them (round-10 graft, iceberg-java). ALL-OR-NOTHING:
    * v1 marks the count fields OPTIONAL and old writers wrote null —
    * coercing an absent count to 0 would let the rowCount fast path and
    * the manifests listing serve "0 rows" for a populated table, so any
    * missing/null serving field yields None and consumers fall back to
    * entry decoding. Partition summaries stay optional on top. */
  private def statsOf(r: GenericRecord): Option[ManifestStats] = {
    val partitions = fieldOrNull(r, "partitions") match {
      case c: java.util.Collection[_] =>
        Some(c.asScala.toSeq.collect { case s: GenericRecord =>
          FieldSummary(
            containsNull = fieldOrNull(s, "contains_null") match {
              case b: java.lang.Boolean => b.booleanValue
              case _ => true // unknown → assume nulls present (conservative)
            },
            containsNan = fieldOrNull(s, "contains_nan") match {
              case b: java.lang.Boolean => Some(b.booleanValue)
              case _ => None
            },
            lowerBound = Option(fieldOrNull(s, "lower_bound")).map(toByteArray),
            upperBound = Option(fieldOrNull(s, "upper_bound")).map(toByteArray))
        })
      case _ => None
    }
    for {
      len <- longOpt(r, "manifest_length")
      specId <- intOpt(r, "partition_spec_id")
      minSeq = longOpt(r, "min_sequence_number")
        .orElse(longOpt(r, "sequence_number")).getOrElse(0L)
      addedSnap <- longOpt(r, "added_snapshot_id")
      af <- intOpt(r, "added_data_files_count")
      ef <- intOpt(r, "existing_data_files_count")
      df <- intOpt(r, "deleted_data_files_count")
      ar <- longOpt(r, "added_rows_count")
      er <- longOpt(r, "existing_rows_count")
      dr <- longOpt(r, "deleted_rows_count")
    } yield ManifestStats(
      manifestLength = len,
      partitionSpecId = specId,
      minSequenceNumber = minSeq,
      addedSnapshotId = addedSnap,
      addedFilesCount = af,
      existingFilesCount = ef,
      deletedFilesCount = df,
      addedRowsCount = ar,
      existingRowsCount = er,
      deletedRowsCount = dr,
      partitions = partitions)
  }

  /** Manifest-list records decoded with the file's WRITER schema (round 10;
    * rounds 2-9 used the reference's partial 3-field projection) so the v2
    * full-schema fields — counts, spec id, partition summaries — survive
    * into [[Manifest.stats]] when present. Absent fields (v1 lists, the
    * reference's own partial writer) degrade per field. */
  def readManifestList(path: String, conf: Configuration, formatVersion: Int): Seq[Manifest] =
    readRecords(path, conf, null).map { r =>
      Manifest(
        r.get("manifest_path").toString,
        sequenceNumber = longOr(r, "sequence_number", 0L),
        content = intOr(r, "content", 0),
        stats = statsOf(r))
    }

  /** Field value, or null when the writer schema lacks the field —
    * GenericRecord.get(name) THROWS on unknown fields, and v1 manifests
    * predate `content`/bounds (the v2 additions). */
  private def fieldOrNull(r: GenericRecord, name: String): Any =
    if (r.getSchema.getField(name) != null) r.get(name) else null

  /** Avro value → plain Scala/Java value usable on the driver. */
  private def fromAvro(v: Any): Any = v match {
    case u: org.apache.avro.util.Utf8 => u.toString
    case b: java.nio.ByteBuffer =>
      val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr); arr
    case other => other
  }

  private def toByteArray(v: Any): Array[Byte] = fromAvro(v) match {
    case a: Array[Byte] => a
    case other => throw new IllegalArgumentException(s"expected bytes, got $other")
  }

  /** Iceberg's `map<int, long>` counts (null_value_counts,
    * nan_value_counts) in either Avro encoding. */
  private def countsMap(raw: Any): Map[Int, Long] = raw match {
    case c: java.util.Collection[_] =>
      c.asScala.toSeq.collect {
        case kv: GenericRecord => (kv.get("key"), kv.get("value")) match {
          // non-numeric/null values are OMITTED, never coerced to 0 — a
          // zero nan/null count is a PROOF consumers prune on, and an
          // off-spec encoding must degrade to "unknown", not "proven"
          case (k: java.lang.Integer, v: java.lang.Number) =>
            Some(k.intValue -> v.longValue)
          case _ => None
        }
      }.flatten.toMap
    case m: java.util.Map[_, _] => // Avro map encoding (foreign writers)
      m.asScala.toSeq.flatMap { case (k, v) =>
        (scala.util.Try(k.toString.toInt).toOption, v) match {
          case (Some(id), n: java.lang.Number) => Some(id -> n.longValue)
          case _ => None
        }
      }.toMap
    case _ => Map.empty[Int, Long]
  }

  /** Iceberg's `map<int, binary>` bounds are Avro-encoded either as an
    * array of {key, value} records (spec encoding) or a genuine Avro map —
    * handle both, defensively. */
  private def boundsMap(raw: Any): Map[Int, Array[Byte]] = raw match {
    case null => Map.empty
    case m: java.util.Map[_, _] =>
      m.asScala.toSeq.flatMap { case (k, v) =>
        // Unparseable keys / non-bytes values degrade to "no bound for this
        // column" (no pruning) rather than failing the whole scan.
        scala.util.Try(k.toString.toInt -> toByteArray(v)).toOption
      }.toMap
    case c: java.util.Collection[_] =>
      c.asScala.collect {
        case kv: GenericRecord if kv.get("value") != null =>
          kv.get("key").asInstanceOf[Int] -> toByteArray(kv.get("value"))
      }.toMap
    case _ => Map.empty
  }

  /** Manifest entries, decoded with the file's writer schema. Round 2 used
    * partial reader schemas mirroring the reference's projection
    * (iceberg_types.hpp:122-155); round 3 additionally consumes `partition`
    * and `lower_bounds`/`upper_bounds` — fields the reference decodes but
    * ignores (SURVEY §2.10) — so the full record is read and the consumed
    * fields are extracted generically (absent fields → empty). Manifests
    * are small driver-side files; the projection saved nothing at scale. */
  def readManifestEntries(path: String, conf: Configuration, formatVersion: Int): Seq[ManifestEntry] = {
    readRecords(path, conf, null).map { r =>
      val df = r.get("data_file").asInstanceOf[GenericRecord]
      val partition = fieldOrNull(df, "partition") match {
        case p: GenericRecord =>
          p.getSchema.getFields.asScala.map { f =>
            f.name -> fromAvro(p.get(f.pos))
          }.toMap
        case _ => Map.empty[String, Any]
      }
      ManifestEntry(
        status = r.get("status").asInstanceOf[Int],
        content = fieldOrNull(df, "content") match {
          case i: java.lang.Integer => i.intValue
          case _ => 0 // v1 manifests carry no content field: always DATA
        },
        filePath = df.get("file_path").toString,
        fileFormat = df.get("file_format").toString,
        recordCount = df.get("record_count").asInstanceOf[Long],
        fileSizeInBytes = fieldOrNull(df, "file_size_in_bytes") match {
          case l: java.lang.Long => l.longValue
          case i: java.lang.Integer => i.longValue
          case _ => 0L
        },
        partition = partition,
        lowerBounds = boundsMap(fieldOrNull(df, "lower_bounds")),
        upperBounds = boundsMap(fieldOrNull(df, "upper_bounds")),
        nullCounts = countsMap(fieldOrNull(df, "null_value_counts")),
        nanCounts = countsMap(fieldOrNull(df, "nan_value_counts")),
        equalityIds = fieldOrNull(df, "equality_ids") match {
          case c: java.util.Collection[_] =>
            c.asScala.toSeq.collect { case i: java.lang.Integer => i.intValue }
          case _ => Seq.empty
        },
        // spec field 3: explicit per-entry data sequence number (written by
        // manifest-merge maintenance); absent/null → inherit manifest seq
        sequenceNumber = fieldOrNull(r, "sequence_number") match {
          case l: java.lang.Long => Some(l.longValue)
          case _ => None
        },
        // spec field 1: the entry's committing snapshot (explicit on
        // EXISTING entries; null → inherit the manifest's added snapshot)
        snapshotId = fieldOrNull(r, "snapshot_id") match {
          case l: java.lang.Long => Some(l.longValue)
          case _ => None
        },
        referencedDataFile = fieldOrNull(df, "referenced_data_file") match {
          case null => None
          case s => Some(s.toString)
        },
        contentOffset = fieldOrNull(df, "content_offset") match {
          case l: java.lang.Long => Some(l.longValue)
          case _ => None
        },
        contentSizeInBytes = fieldOrNull(df, "content_size_in_bytes") match {
          case l: java.lang.Long => Some(l.longValue)
          case _ => None
        },
        firstRowId = fieldOrNull(df, "first_row_id") match {
          case l: java.lang.Long => Some(l.longValue)
          case _ => None
        },
        splitOffsets = fieldOrNull(df, "split_offsets") match {
          case c: java.util.Collection[_] =>
            c.asScala.toSeq.collect { case l: java.lang.Long => l.longValue }
          case _ => Seq.empty
        })
    }
  }

  /** Parallelism / timeout knobs for the concurrent manifest fetch. An
    * unbounded pool + infinite wait over an object store is a driver hang
    * waiting to happen; these are deliberate, conf-overridable bounds. */
  val FetchParallelismKey = "spark.graft.iceberg.manifestFetchParallelism"
  val FetchTimeoutSecKey = "spark.graft.iceberg.manifestFetchTimeoutSec"
  private val DefaultFetchParallelism = 16
  private val DefaultFetchTimeoutSec = 300L

  /** Manifest-count threshold above which planning reads manifests as a
    * Spark job instead of on the driver pool. The driver pool's bandwidth
    * is ONE node's; a table carrying hundreds of manifests (continuous
    * ingestion before merge maintenance, or a foreign writer that never
    * merges) decodes across the cluster's aggregate I/O instead, and only
    * the compact entry metadata returns to the driver. ≤ 0 disables. */
  val DistributedPlanningThresholdKey =
    "spark.graft.iceberg.distributedPlanningThreshold"
  private val DefaultDistributedPlanningThreshold = 64

  /** Decode every manifest on the EXECUTORS: one task per slice of the
    * manifest list, results restored to manifest-list order. The closure
    * only captures the table path, format version, the broadcast Hadoop
    * conf ([[ConfBroadcast]]) and (round 12) the optional entry-level prune predicate — entry
    * decoding is the same [[readManifestEntries]] the driver pool runs, so
    * the two paths cannot diverge. With `entryFilter` set, each task drops
    * non-surviving entries BEFORE the collect, so the driver receives heap
    * ∝ survivors instead of ∝ table size — the reference's eager full load
    * (`common/iceberg.cpp:38-91`) shipped every entry regardless. */
  private def fetchDistributed(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String,
      manifests: Seq[Manifest],
      conf: Configuration,
      formatVersion: Int,
      allowMovedPaths: Boolean,
      entryFilter: Option[IcebergPruning.EntryPredicate]): Seq[(Manifest, Seq[ManifestEntry])] = {
    val confB = ConfBroadcast(spark, conf)
    val items = manifests.zipWithIndex.map { case (m, i) => (i, m) }
    val slices = math.max(1,
      math.min(items.size, spark.sparkContext.defaultParallelism * 2))
    val fetched = spark.sparkContext.parallelize(items, slices)
      .map { case (i, m) =>
        val mPath =
          if (allowMovedPaths) IcebergIO.fullPath(tablePath, m.manifestPath)
          else m.manifestPath
        val all = readManifestEntries(mPath, confB.value.value, formatVersion)
        val kept = entryFilter match {
          case Some(f) => all.filter(f.keep(m.content, _))
          case None => all
        }
        (i, m, kept, all.size)
      }.collect()
    entriesCollectedCtr.addAndGet(fetched.iterator.map(_._3.size.toLong).sum)
    entriesPrunedDistributedCtr.addAndGet(
      fetched.iterator.map(t => (t._4 - t._3.size).toLong).sum)
    fetched.sortBy(_._1).map { case (_, m, es, _) => (m, es) }.toSeq
  }

  private val entriesCollectedCtr = new java.util.concurrent.atomic.AtomicLong
  private val entriesPrunedDistributedCtr = new java.util.concurrent.atomic.AtomicLong

  /** (entries collected to the driver, entries dropped ON THE EXECUTORS)
    * by distributed planning since JVM start — the gate surface proving a
    * filtered wide-table plan collects ∝ survivors, not table size. */
  def distributedEntryStats: (Long, Long) =
    (entriesCollectedCtr.get, entriesPrunedDistributedCtr.get)

  private val tupleStatsCollectedCtr = new java.util.concurrent.atomic.AtomicLong

  /** TupleAgg partials collected to the driver by [[wideTupleStats]]
    * since JVM start — the spec surface proving a wide-snapshot metadata
    * aggregate collects ∝ partition tuples, not entries. */
  def tupleStatsCollected: Long = tupleStatsCollectedCtr.get

  /** Per-partition-tuple stat partials for a WIDE delete-free snapshot,
    * folded ON THE EXECUTORS (round 17, VERDICT r16 #5): the metadata
    * COUNT/MIN/MAX rewrite's input when a full entry decode would blow
    * the driver's collected-entry budget. Returns None when the shape
    * doesn't apply — snapshot below the distributed threshold or within
    * the entry budget (the cached driver-side decode is then cheaper and
    * keeps the plan cacheable), a non-DV delete entry rides a delete
    * manifest (eq/parquet-position match counts need the exact driver
    * check), stats-less legacy lists (unknown width errs toward the
    * bounded collect), or no active session — the caller falls back to
    * the existing full-decode path. DV-ONLY snapshots stay distributed
    * (r18): delete manifests decode on the driver, the data fold runs on
    * executors, and partials adjust per tuple by DV cardinality. */
  def wideTupleStats(
      tablePath: String,
      snapshot: Snapshot,
      conf: Configuration,
      allowMovedPaths: Boolean,
      needed: Seq[(Int, org.apache.spark.sql.types.DataType)])
      : Option[Seq[TupleAgg]] = {
    val active = org.apache.spark.sql.SparkSession.getActiveSession
    if (active.isEmpty) return None
    val threshold = conf.getInt(
      DistributedPlanningThresholdKey, DefaultDistributedPlanningThreshold)
    if (threshold <= 0) return None
    val listPath =
      if (allowMovedPaths) IcebergIO.fullPath(tablePath, snapshot.manifestList)
      else snapshot.manifestList
    val ms = cachedManifestList(listPath, conf, snapshot.formatVersion)
    if (ms.isEmpty) return None
    // DV-ONLY wide snapshots still fold distributed (r18, VERDICT r17
    // #2 at scale): delete manifests — a tiny fraction of the tier —
    // decode on the DRIVER to prove every live delete is a deletion
    // vector and collect referenced paths; equality / parquet-position
    // entries (match counts unknown) and pathological delete-manifest
    // counts defer to the driver path's exact liveness check.
    val (deleteMs, dataMs) = ms.partition(_.content == 1)
    if (dataMs.isEmpty || deleteMs.size > 64) return None
    if (dataMs.size < threshold) return None
    val estimated: Option[Long] = dataMs.foldLeft(Option(0L)) { (acc, m) =>
      for (a <- acc; s <- m.stats) yield
        a + s.addedFilesCount + s.existingFilesCount + s.deletedFilesCount
    }
    val entryBudget = conf.getLong(
      PlanningCacheMaxEntriesKey, DefaultPlanningCacheMaxEntries.toLong) / 2
    if (!estimated.exists(_ > entryBudget)) return None

    val spark = active.get
    val confB = ConfBroadcast(spark, conf)
    val formatVersion = snapshot.formatVersion
    def resolvedPath(p: String): String =
      if (allowMovedPaths) IcebergIO.fullPath(tablePath, p) else p
    // live delete entries, deduped to the max-sequence DV per data file
    val dvs: Seq[ManifestEntry] =
      if (deleteMs.isEmpty) Seq.empty
      else {
        val del = deleteMs.flatMap { m =>
          readManifestEntries(resolvedPath(m.manifestPath), conf, formatVersion)
            .filter(e => e.status != 2 && (e.content == 1 || e.content == 2))
            .map(e => (e, e.seqOr(m.sequenceNumber)))
        }
        if (!del.forall(_._1.isDV)) return None
        del.groupBy(_._1.referencedDataFile.get)
          .values.map(_.maxBy(_._2)._1).toSeq
      }
    val refSet = dvs.flatMap(_.referencedDataFile).toSet
    if (refSet.size > entryBudget) return None

    val paths = dataMs.map(m => resolvedPath(m.manifestPath))
    val slices = math.max(1,
      math.min(paths.size, spark.sparkContext.defaultParallelism * 2))
    val refSetB = spark.sparkContext.broadcast(refSet)
    val fetched = spark.sparkContext.parallelize(paths, slices)
      .mapPartitions { ps =>
        // fold WITHIN the task across its manifests: what returns to the
        // driver is O(distinct tuples per slice) + O(DV'd files in the
        // slice), never O(entries). DV-referenced files are EXCLUDED
        // from the fold and shipped as per-file single-entry partials
        // instead (r19): the driver subtracts each vector's cardinality
        // per file and keeps min/max servable when the un-deleted fold
        // dominates the DV'd files' bounds (MetaAgg.applyDeletes).
        val refs = Seq.newBuilder[(String, TupleAgg)]
        val perManifest = ps.flatMap { p =>
          val es = readManifestEntries(p, confB.value.value, formatVersion)
          val (ref, plain) =
            if (refSetB.value.isEmpty) (Seq.empty, es)
            else es.partition(e =>
              e.status != 2 && e.content == 0 && refSetB.value(e.filePath))
          ref.foreach(e =>
            if (e.recordCount > 0) refs += e.filePath -> MetaAgg.ofEntry(e, needed))
          MetaAgg.fold(plain.iterator, needed)
        }.toSeq
        Iterator.single((mergePartials(perManifest, needed), refs.result()))
      }.collect()
    val partials = fetched.flatMap(_._1)
    tupleStatsCollectedCtr.addAndGet(partials.length.toLong)
    val merged = mergePartials(partials.toSeq, needed)
    if (dvs.isEmpty) Some(merged)
    else {
      // one memoized blob read per LIVE-referenced DV; a DV whose data
      // file is gone (not in any live entry) is ignorable by definition
      val partialByFile = fetched.flatMap(_._2).toMap
      val deletedFiles = dvs.flatMap { e =>
        partialByFile.get(e.referencedDataFile.get).map { p =>
          val c = IcebergScan.dvCardinality(tablePath, e, allowMovedPaths, conf)
            .getOrElse(return None)
          MetaAgg.DeletedFile(p, c)
        }
      }
      MetaAgg.applyDeletes(merged, deletedFiles, needed)
    }
  }

  private def mergePartials(
      parts: Seq[TupleAgg],
      needed: Seq[(Int, org.apache.spark.sql.types.DataType)]): Seq[TupleAgg] =
    parts.groupBy(_.partition).values
      .map(_.reduce(MetaAgg.merge(_, _, needed))).toSeq

  /** Planning-cache bound (number of SNAPSHOTS held). Snapshots are
    * immutable — a snapshot id never changes the files it names — so a
    * (table, snapshot, manifest-list) key needs no invalidation: a new
    * commit is a new snapshot id and a new manifest-list file name
    * (random token suffix), which misses the cache by construction. The
    * manifest-list path rides in the key precisely so a table DROPPED
    * and re-created at the same path (sequential ids restart at 1)
    * cannot alias a stale plan. 0 disables. */
  val PlanningCacheSnapshotsKey = "spark.graft.iceberg.planningCacheSnapshots"
  private val DefaultPlanningCacheSnapshots = 32

  /** Driver-memory backstop: evict LRU plans while the cache's TOTAL
    * entry count exceeds this, regardless of snapshot count — 32 cached
    * snapshots of a 100k-file table would otherwise pin millions of
    * entry objects on the driver. */
  val PlanningCacheMaxEntriesKey = "spark.graft.iceberg.planningCacheMaxEntries"
  private val DefaultPlanningCacheMaxEntries = 1000000

  private final case class PlanKey(
      tablePath: String, snapshotId: Long, manifestList: String,
      allowMovedPaths: Boolean)
  // access-order LinkedHashMap = LRU; all access under its own lock
  private val planCache =
    new java.util.LinkedHashMap[PlanKey, TableMeta](64, 0.75f, true)
  private val planCacheHits = new java.util.concurrent.atomic.AtomicLong
  private val planCacheMisses = new java.util.concurrent.atomic.AtomicLong

  /** (hits, misses) since JVM start — test/diagnostic surface. */
  def planningCacheStats: (Long, Long) =
    (planCacheHits.get, planCacheMisses.get)

  // Immutable-FILE caches under the snapshot plan cache (round 10):
  // manifest lists and manifests are never rewritten in place (commit
  // names embed a random token), so their decode memoizes by path. A
  // PARTIAL (manifest-pruned) plan cannot enter the snapshot cache, but
  // with these a repeated filtered scan of the same snapshot costs zero
  // metadata I/O — only the filter re-evaluates.
  private val listCache =
    new java.util.LinkedHashMap[String, Seq[Manifest]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[Manifest]]): Boolean = size > 64
    }
  private val entryCache =
    new java.util.LinkedHashMap[String, Seq[ManifestEntry]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[ManifestEntry]]): Boolean = size > 512
    }

  /** Driver-memory backstop for the entry cache, mirroring the plan
    * cache's: 512 manifests of a 100k-file table would otherwise pin
    * millions of entry objects. Caller holds the conf, so the bound is
    * enforced at insert time. */
  private def trimEntryCache(maxEntries: Long): Unit =
    entryCache.synchronized {
      var total = 0L
      entryCache.values.asScala.foreach(total += _.size.toLong)
      val it = entryCache.entrySet.iterator
      while (total > maxEntries && entryCache.size > 1 && it.hasNext) {
        total -= it.next().getValue.size.toLong
        it.remove()
      }
    }

  /** Manifest-list read through [[listCache]], keyed by the RESOLVED
    * physical path exactly like loadTable's listPath — repeat consumers
    * (NDV broadcast costing, a re-planned filtered scan) decode the Avro
    * once per JVM, zero storage round trips after the first. */
  def cachedManifestList(
      listPath: String, conf: Configuration, formatVersion: Int): Seq[Manifest] = {
    val useFileCaches = conf.getInt(
      PlanningCacheSnapshotsKey, DefaultPlanningCacheSnapshots) > 0
    (if (useFileCaches) listCache.synchronized(Option(listCache.get(listPath)))
     else None).getOrElse {
      val ms = readManifestList(listPath, conf, formatVersion)
      if (useFileCaches) listCache.synchronized { listCache.put(listPath, ms); () }
      ms
    }
  }

  /** Drop every cached plan (tests; or to release driver memory). */
  def invalidatePlanningCache(): Unit = {
    planCache.synchronized(planCache.clear())
    listCache.synchronized(listCache.clear())
    entryCache.synchronized(entryCache.clear())
    IcebergScan.clearDvCardinalityCache()
    IcebergScan.clearMetricsHistoryCache()
  }

  private val manifestsDecodedCtr = new java.util.concurrent.atomic.AtomicLong
  private val manifestsPrunedCtr = new java.util.concurrent.atomic.AtomicLong

  /** (manifests decoded, manifests skipped by summary pruning) since JVM
    * start — the test/gate surface proving a partition-filtered first-touch
    * plan reads FEWER manifest files, not just fewer entries. */
  def manifestPruneStats: (Long, Long) =
    (manifestsDecodedCtr.get, manifestsPrunedCtr.get)

  /** IcebergTable::Load (iceberg.cpp:15-36): manifest list, then every
    * manifest, eagerly, with optional moved-path re-anchoring. Manifests
    * are fetched concurrently — a 100 TB table has O(100k) entries across
    * many manifest files and, over an object store, sequential driver-side
    * reads would dominate planning time. The fetch runs on a dedicated
    * bounded pool (not the global EC, which unrelated driver code shares)
    * and fails with a clear timeout instead of hanging the driver.
    *
    * Results are cached per (table, snapshot, manifest list): interactive
    * use re-plans the same immutable snapshot query after query, and on a
    * 100k-entry table the planning I/O would otherwise repeat per query.
    *
    * `manifestFilter` (round 10) is the manifest-LEVEL prune: a predicate
    * over the list's per-manifest partition summaries that skips decoding
    * whole manifests a filtered scan cannot need. It is an I/O
    * optimization only — entry-level pruning downstream re-checks every
    * surviving file — so a CACHED full plan is returned as-is (zero
    * manifest reads either way), and a PARTIAL (filtered) load is never
    * inserted into the snapshot cache. */
  def loadTable(
      tablePath: String,
      snapshot: Snapshot,
      conf: Configuration,
      allowMovedPaths: Boolean,
      manifestFilter: Manifest => Boolean = _ => true,
      entryFilter: Option[IcebergPruning.EntryPredicate] = None): TableMeta = {
    val maxCached = conf.getInt(
      PlanningCacheSnapshotsKey, DefaultPlanningCacheSnapshots)
    if (maxCached <= 0)
      return loadTableUncached(tablePath, snapshot, conf, allowMovedPaths,
        manifestFilter, entryFilter)
    val key = PlanKey(
      tablePath, snapshot.snapshotId, snapshot.manifestList, allowMovedPaths)
    planCache.synchronized(Option(planCache.get(key))) match {
      case Some(meta) =>
        planCacheHits.incrementAndGet()
        // the cached entry list is immutable; only the Snapshot header
        // (schema as of the READ, not the plan) follows the caller
        meta.copy(snapshot = snapshot)
      case None =>
        planCacheMisses.incrementAndGet()
        val meta = loadTableUncached(tablePath, snapshot, conf, allowMovedPaths,
          manifestFilter, entryFilter)
        if (meta.partialPlan)
          return meta // filtered view — do not cache as the snapshot's plan
        val maxEntries = conf.getLong(
          PlanningCacheMaxEntriesKey, DefaultPlanningCacheMaxEntries.toLong)
        def entryCount(m: TableMeta): Long =
          m.entries.iterator.map(_._2.size.toLong).sum
        planCache.synchronized {
          planCache.put(key, meta)
          var totalEntries = 0L
          planCache.values.asScala.foreach(totalEntries += entryCount(_))
          val it = planCache.entrySet.iterator
          while ((planCache.size > maxCached || totalEntries > maxEntries) &&
              planCache.size > 1 && it.hasNext) {
            totalEntries -= entryCount(it.next().getValue)
            it.remove()
          }
        }
        meta
    }
  }

  private def loadTableUncached(
      tablePath: String,
      snapshot: Snapshot,
      conf: Configuration,
      allowMovedPaths: Boolean,
      manifestFilter: Manifest => Boolean = _ => true,
      entryFilter: Option[IcebergPruning.EntryPredicate] = None): TableMeta = {
    val useFileCaches = conf.getInt(
      PlanningCacheSnapshotsKey, DefaultPlanningCacheSnapshots) > 0
    val listPath =
      if (allowMovedPaths) IcebergIO.fullPath(tablePath, snapshot.manifestList)
      else snapshot.manifestList
    val allManifests = cachedManifestList(listPath, conf, snapshot.formatVersion)
    val manifests = allManifests.filter(manifestFilter)
    manifestsDecodedCtr.addAndGet(manifests.size.toLong)
    manifestsPrunedCtr.addAndGet((allManifests.size - manifests.size).toLong)

    // Cache key = the RESOLVED physical path (like listCache's listPath).
    // With allowMovedPaths, two distinct table copies record identical
    // manifest paths; keying by the recorded path would serve one copy's
    // decoded entries to the other — wrong the moment the copies diverge.
    def resolved(m: Manifest): String =
      if (allowMovedPaths) IcebergIO.fullPath(tablePath, m.manifestPath)
      else m.manifestPath
    val cachedEntries: Map[String, Seq[ManifestEntry]] =
      if (!useFileCaches) Map.empty
      else entryCache.synchronized {
        manifests.flatMap { m =>
          val rp = resolved(m)
          Option(entryCache.get(rp)).map(rp -> _)
        }.toMap
      }
    val toFetch = manifests.filterNot(m => cachedEntries.contains(resolved(m)))

    import scala.concurrent.duration._
    val threshold = conf.getInt(
      DistributedPlanningThresholdKey, DefaultDistributedPlanningThreshold)
    val active = org.apache.spark.sql.SparkSession.getActiveSession
    val distributed =
      active.isDefined && threshold > 0 && toFetch.size >= threshold
    // Entry-level pruning ON THE EXECUTORS (round 12): when the fetch
    // fans out AND a full decode would blow the driver's entry budget
    // (or caching is off, so nothing is preserved by collecting it all),
    // the scan's prune predicate runs inside the map and only survivors
    // return. Small tables whose full entry set fits the budget still
    // collect everything, so their snapshot plan stays cacheable and
    // repeated scans cost zero metadata I/O. Unknown size (v1 lists
    // without counts) errs toward the bounded collect — planning I/O is
    // recoverable, a driver OOM is not. Total entries per manifest =
    // added + existing + deleted (DELETED-status rows are still records
    // of the manifest file).
    val entryBudget = conf.getLong(
      PlanningCacheMaxEntriesKey, DefaultPlanningCacheMaxEntries.toLong) / 2
    val estimatedToFetch: Option[Long] =
      toFetch.foldLeft(Option(0L)) { (acc, m) =>
        for (a <- acc; s <- m.stats) yield
          a + s.addedFilesCount + s.existingFilesCount + s.deletedFilesCount
      }
    val applyEntryFilter = entryFilter.exists(_.nonTrivial) && distributed &&
      (!useFileCaches || estimatedToFetch.forall(_ > entryBudget))
    val fetched: Map[String, Seq[ManifestEntry]] = (active match {
      case _ if toFetch.isEmpty => Seq.empty
      case Some(spark) if distributed =>
        fetchDistributed(spark, tablePath, toFetch, conf,
          snapshot.formatVersion, allowMovedPaths,
          if (applyEntryFilter) entryFilter else None)
          .map { case (m, es) => resolved(m) -> es }
      case _ =>
        val parallelism = conf.getInt(FetchParallelismKey, DefaultFetchParallelism)
        val timeout = conf.getLong(FetchTimeoutSecKey, DefaultFetchTimeoutSec).seconds
        DriverPool.mapParallel(
          toFetch, parallelism, timeout, "graft-manifest-fetch") { m =>
          val mPath = resolved(m)
          mPath -> readManifestEntries(mPath, conf, snapshot.formatVersion)
        }
    }).toMap
    // a FILTERED fetch is a partial view of each manifest — it must never
    // enter the per-path entry cache as the manifest's full decode
    if (useFileCaches && fetched.nonEmpty && !applyEntryFilter) {
      entryCache.synchronized {
        fetched.foreach { case (p, es) => entryCache.put(p, es) }
      }
      // half the plan-cache bound: the two caches overlap in content and
      // together must stay within the configured driver budget
      trimEntryCache(conf.getLong(
        PlanningCacheMaxEntriesKey, DefaultPlanningCacheMaxEntries.toLong) / 2)
    }
    val entries = manifests.map(m =>
      m -> cachedEntries.getOrElse(resolved(m), fetched(resolved(m))))
    TableMeta(tablePath, snapshot, entries,
      partialPlan = manifests.size != allManifests.size || applyEntryFilter)
  }
}

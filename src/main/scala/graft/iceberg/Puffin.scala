package graft.iceberg

import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.CRC32

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Puffin file container + the `deletion-vector-v1` blob framing, from
  * the public Puffin/Iceberg v3 specs. The reference extension has no
  * spec-v3 surface at all (its readers stop at v2 manifests), so this
  * whole family is an engine extension; the byte format follows the
  * published spec and is pinned by round-trip tests (no external
  * interop run is possible in this sandbox — noted in SURVEY §8).
  *
  * File layout: magic "PFA1", blobs back-to-back, then the footer:
  * magic, footer-payload JSON (uncompressed here; the flags bit for a
  * compressed payload is honored on read as unsupported→error), payload
  * size (u32 LE), flags (u32), magic.
  *
  * DV blob layout: u32 BIG-endian length of (magic + vector), magic
  * bytes D1 D3 39 64, the portable roaring64 vector, u32 BIG-endian
  * CRC-32 of (magic + vector).
  */
object Puffin {

  private val Magic = Array[Byte]('P', 'F', 'A', '1')
  private val DVMagic = Array[Byte](0xD1.toByte, 0xD3.toByte, 0x39.toByte, 0x64.toByte)
  val DVBlobType = "deletion-vector-v1"
  // per-column NDV sketch blob (graft's own payload — see KmvSketch;
  // deliberately NOT labeled apache-datasketches-theta-v1, whose binary
  // layout this engine does not emit). NDV consumers read the `ndv`
  // blob-metadata property from table metadata without opening the blob.
  val ThetaBlobType = "graft-theta-v1"
  private val mapper = new ObjectMapper()

  /** One blob's metadata as recorded in the footer. Offsets are absolute
    * file offsets — exactly what manifest `content_offset`/
    * `content_size_in_bytes` carry in v3. */
  final case class BlobMeta(
      blobType: String,
      offset: Long,
      length: Long,
      snapshotId: Long,
      sequenceNumber: Long,
      properties: Map[String, String],
      // Iceberg field ids the blob describes (statistics blobs); DV blobs
      // reference a data file via properties instead and leave this empty
      fields: Seq[Int] = Seq.empty)

  final case class DVBlob(referencedDataFile: String, positions: Array[Long])

  /** Serialize one DV blob body (length + magic + vector + crc). */
  private[iceberg] def dvBlobBytes(positions: Array[Long]): Array[Byte] = {
    val vector = Roaring64.serialize(positions)
    val crc = new CRC32()
    crc.update(DVMagic)
    crc.update(vector)
    val out = ByteBuffer.allocate(4 + 4 + vector.length + 4) // BE is ByteBuffer default
    out.putInt(4 + vector.length)
    out.put(DVMagic)
    out.put(vector)
    out.putInt(crc.getValue.toInt)
    out.array()
  }

  private[iceberg] def dvBlobPositions(bytes: Array[Byte]): Array[Long] = {
    val in = ByteBuffer.wrap(bytes)
    val len = in.getInt
    require(len == bytes.length - 8,
      s"DV blob length $len != ${bytes.length - 8} (payload minus framing)")
    val magic = new Array[Byte](4)
    in.get(magic)
    require(magic.sameElements(DVMagic), "bad deletion-vector magic")
    val vector = new Array[Byte](len - 4)
    in.get(vector)
    val crc = new CRC32()
    crc.update(DVMagic)
    crc.update(vector)
    require(in.getInt == crc.getValue.toInt, "deletion-vector CRC mismatch")
    Roaring64.deserialize(vector)
  }

  /** Streaming puffin writer: blobs are appended one at a time (memory is
    * bounded by ONE file's position set, not the whole puffin file), the
    * footer lands on close. Runs on executors — one instance per write
    * partition in the DV delete path — as well as the driver: only Hadoop
    * FS + local state. */
  final class DVWriter(
      path: Path, conf: Configuration, snapshotId: Long, sequenceNumber: Long) {
    private val out = path.getFileSystem(conf).create(path, true)
    private var offset = 4L
    private val metas = Seq.newBuilder[(String, BlobMeta, Long)]
    private var open = true
    out.write(Magic)

    /** Append one DV blob; returns (referenced file, blob meta, cardinality). */
    def add(referencedDataFile: String, positions: Array[Long]): (String, BlobMeta, Long) = {
      val sorted = positions.distinct.sorted
      val bytes = dvBlobBytes(sorted)
      out.write(bytes)
      val meta = BlobMeta(DVBlobType, offset, bytes.length.toLong,
        snapshotId, sequenceNumber,
        Map("referenced-data-file" -> referencedDataFile,
            "cardinality" -> sorted.length.toString))
      offset += bytes.length
      val row = (referencedDataFile, meta, sorted.length.toLong)
      metas += row
      row
    }

    def close(): Seq[(String, BlobMeta, Long)] = {
      val all = metas.result()
      if (open) {
        val payload = footerPayload(all.map(_._2))
        out.write(Magic)
        out.write(payload)
        val trailer = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
        trailer.putInt(payload.length)
        trailer.putInt(0) // flags: payload uncompressed
        out.write(trailer.array())
        out.write(Magic)
        out.close()
        open = false
      }
      all
    }
  }

  /** Write one puffin file holding a DV blob per entry; returns the blob
    * metadata (offset/length per referenced data file) for the manifest. */
  def writeDVFile(
      path: Path, conf: Configuration, blobs: Seq[DVBlob],
      snapshotId: Long, sequenceNumber: Long): Seq[(String, BlobMeta, Long)] = {
    val w = new DVWriter(path, conf, snapshotId, sequenceNumber)
    blobs.foreach(b => w.add(b.referencedDataFile, b.positions))
    w.close()
  }

  /** One statistics blob to write: raw payload bytes (no DV framing),
    * the field ids it describes, and footer properties (e.g. "ndv"). */
  final case class StatsBlob(
      blobType: String, payload: Array[Byte],
      fields: Seq[Int], properties: Map[String, String])

  /** Write a puffin file of raw-payload statistics blobs; returns the
    * blob metadata plus (fileSize, footerSize) — the `statistics` entry
    * in table metadata records both (Iceberg spec "Table statistics"). */
  def writeStatsFile(
      path: Path, conf: Configuration, blobs: Seq[StatsBlob],
      snapshotId: Long, sequenceNumber: Long): (Seq[BlobMeta], Long, Long) = {
    val out = path.getFileSystem(conf).create(path, true)
    out.write(Magic)
    var offset = 4L
    val metas = blobs.map { b =>
      out.write(b.payload)
      val m = BlobMeta(b.blobType, offset, b.payload.length.toLong,
        snapshotId, sequenceNumber, b.properties, b.fields)
      offset += b.payload.length
      m
    }
    val payload = footerPayload(metas)
    out.write(Magic)
    out.write(payload)
    val trailer = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    trailer.putInt(payload.length)
    trailer.putInt(0)
    out.write(trailer.array())
    out.write(Magic)
    out.close()
    // footer = magic + payload + trailer (spec: FooterPayload + framing)
    val footerSize = 4L + payload.length + 8 + 4
    (metas, offset + footerSize, footerSize)
  }

  private def footerPayload(metas: Seq[BlobMeta]): Array[Byte] = {
    val root = mapper.createObjectNode()
    val blobs = root.putArray("blobs")
    metas.foreach { m =>
      val b = blobs.addObject()
      b.put("type", m.blobType)
      val fieldsNode = b.putArray("fields")
      m.fields.foreach(fieldsNode.add)
      b.put("snapshot-id", m.snapshotId)
      b.put("sequence-number", m.sequenceNumber)
      b.put("offset", m.offset)
      b.put("length", m.length)
      val props = b.putObject("properties")
      m.properties.toSeq.sortBy(_._1).foreach { case (k, v) => props.put(k, v) }
    }
    root.putObject("properties").put("created-by", "graft")
    mapper.writeValueAsBytes(root)
  }

  /** Read the footer's blob metadata (small tail read, no blob I/O). */
  def readFooter(path: Path, conf: Configuration): Seq[BlobMeta] = {
    val fs = path.getFileSystem(conf)
    val fileLen = fs.getFileStatus(path).getLen
    require(fileLen >= 20, s"not a puffin file (len $fileLen): $path")
    val in = fs.open(path)
    try {
      val tail = new Array[Byte](12)
      in.readFully(fileLen - 12, tail)
      val tb = ByteBuffer.wrap(tail).order(ByteOrder.LITTLE_ENDIAN)
      val payloadSize = tb.getInt
      val flags = tb.getInt
      val magic = new Array[Byte](4)
      tb.get(magic)
      require(magic.sameElements(Magic), s"bad puffin trailing magic: $path")
      require((flags & 1) == 0, s"compressed puffin footer unsupported: $path")
      val payload = new Array[Byte](payloadSize)
      in.readFully(fileLen - 12 - payloadSize, payload)
      val head = new Array[Byte](4)
      in.readFully(0, head)
      require(head.sameElements(Magic), s"bad puffin magic: $path")
      val footerMagic = new Array[Byte](4)
      in.readFully(fileLen - 12 - payloadSize - 4, footerMagic)
      require(footerMagic.sameElements(Magic), s"bad puffin footer magic: $path")
      val root = mapper.readTree(payload)
      Option(root.get("blobs")).map(_.elements.asScala.toSeq).getOrElse(Seq.empty)
        .map { b =>
          BlobMeta(
            blobType = b.get("type").asText,
            offset = b.get("offset").asLong,
            length = b.get("length").asLong,
            snapshotId = Option(b.get("snapshot-id")).map(_.asLong).getOrElse(0L),
            sequenceNumber = Option(b.get("sequence-number")).map(_.asLong).getOrElse(0L),
            properties = Option(b.get("properties")).map { p =>
              p.asInstanceOf[ObjectNode].fields.asScala
                .map(e => e.getKey -> e.getValue.asText).toMap
            }.getOrElse(Map.empty),
            fields = Option(b.get("fields"))
              .map(_.elements.asScala.map(_.asInt).toSeq).getOrElse(Seq.empty))
        }
    } finally in.close()
  }

  /** Read one DV's positions by its manifest-recorded offset+length —
    * no footer read needed (the v3 point: manifests carry the blob
    * coordinates so scans skip the puffin footer entirely). */
  def readDV(path: Path, conf: Configuration, offset: Long, length: Long): Array[Long] = {
    val in = path.getFileSystem(conf).open(path)
    try {
      val bytes = new Array[Byte](length.toInt)
      in.readFully(offset, bytes)
      dvBlobPositions(bytes)
    } finally in.close()
  }
}

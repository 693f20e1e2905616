package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `spark.read.format("tdb").load(path)` — a DataSourceV2 reader for the
  * reference engine's legacy `.tdb` databases (directory or single-file
  * tar package; format core in [[TdbFormat]]). Read path only: the repo's
  * native storage is the Parquet trail layout; this source exists so a
  * reference user's EXISTING .tdb files are first-class inputs.
  *
  * Schema: `uuid STRING` (32 lowercase hex chars, matching
  * [[graft.core.TrailSchema]]), `time LONG`, one STRING column per ofield
  * (value id 0 → NULL, reference src/tdb.c:520-523).
  *
  * Scale shape: planning reads only `info` + sampled `trails.toc`
  * boundaries (never a num_trails-sized array on the driver); each input
  * partition is a CONTIGUOUS trail range sized to
  * ~`spark.sql.files.maxPartitionBytes` of trails.data, and a task seeks
  * directly to its byte range — tasks never read the whole archive, so a
  * 1000-executor scan parallelizes by byte range exactly like a Parquet
  * scan. Each task loads the codebook and its projected lexicons itself
  * and keeps nothing once it finishes. A value is a view of its
  * lexicon's bytes, never a decoded string. `uuid = <hex>` / `uuid IN (...)` filters push down to
  * trail ranges via binary search over the v1-ordered uuid index
  * (little-endian u128 order, reference src/tdb.c:552-585) — a point
  * lookup reads ONE trail's bytes, the tdb_get_trail_id shape.
  */
final class TdbDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "tdb"

  private def path(options: CaseInsensitiveStringMap): String = {
    val p = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("tdb: .load(path) is required"))
    p
  }

  // Spark calls inferSchema, then getTable, on one provider instance per
  // load: the table reuses the meta inference opened, so a load walks the
  // archive's headers once
  private var inferred: (String, TdbFormat.TdbMeta) = _

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val p = path(options)
    inferred = (p, TdbFormat.TdbMeta.open(p))
    TdbTable.schemaOf(inferred._2)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val p = properties.get("path")
    new TdbTable(p,
      if (inferred != null && inferred._1 == p) inferred._2
      else TdbFormat.TdbMeta.open(p))
  }

  override def supportsExternalMetadata(): Boolean = false
}

object TdbTable {
  def schemaOf(meta: TdbFormat.TdbMeta): StructType =
    StructType(
      StructField("uuid", StringType, nullable = false) ::
      StructField("time", LongType, nullable = false) ::
      meta.fieldNames.map(f => StructField(f, StringType, nullable = true)).toList)
}

final class TdbTable(path: String, meta: TdbFormat.TdbMeta)
    extends Table with SupportsRead {

  override def name(): String = s"tdb:$path"
  override def schema(): StructType = TdbTable.schemaOf(meta)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TdbScanBuilder(meta, schema())
}

final class TdbScanBuilder(meta: TdbFormat.TdbMeta, fullSchema: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema
  private var pushedUuids: Option[Set[String]] = None
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve file column order; an empty projection (count(*)) keeps
    // zero columns and the reader emits empty rows
    val keep = requiredSchema.fieldNames.toSet
    required = StructType(fullSchema.fields.filter(f => keep.contains(f.name)))
  }

  /** Accept uuid equality/IN — they prune to exact trail ranges. The
    * filters stay in `pushedFilters` AND are left for Spark to re-apply
    * (returned from pushFilters), which keeps semantics exact even for
    * malformed hex (resolves to no trail). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val uuidSets = filters.collect {
      case EqualTo("uuid", v: String) => Set(v.toLowerCase)
      case In("uuid", vs) if vs.forall(_.isInstanceOf[String]) =>
        vs.map(_.asInstanceOf[String].toLowerCase).toSet
    }
    if (uuidSets.nonEmpty) {
      pushedUuids = Some(uuidSets.reduce(_ intersect _))
      pushed = filters.filter {
        case EqualTo("uuid", _) | In("uuid", _) => true
        case _ => false
      }
    }
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new TdbScan(meta, required, pushedUuids)
}

/** One contiguous trail range: [startTrail, endTrail) decoding
  * trails.data bytes [startOffs, endOffs). */
final case class TdbInputPartition(startTrail: Long, endTrail: Long,
    startOffs: Long, endOffs: Long) extends InputPartition

final class TdbScan(meta: TdbFormat.TdbMeta, required: StructType,
    uuids: Option[Set[String]]) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"tdb ${meta.archive.path} [${required.fieldNames.mkString(",")}]" +
      uuids.map(u => s" uuids=${u.size}").getOrElse("")

  override def planInputPartitions(): Array[InputPartition] = {
    if (meta.numTrails == 0) return Array.empty
    uuids match {
      case Some(set) =>
        // binary search each uuid in the v1-ordered index; one partition
        // per found trail (point reads — the tdb_get_trail_id shape)
        set.toArray.sorted.flatMap(findTrail).sorted.distinct.map { t =>
          TdbInputPartition(t, t + 1, meta.trailOffset(t), meta.trailOffset(t + 1))
        }.toArray[InputPartition]
      case None =>
        // contiguous ranges of ~spark.sql.files.maxPartitionBytes of
        // trails.data (the same knob the parquet scan honors), found by
        // binary-searching the toc for byte targets (point reads only)
        val dataEnd = meta.trailOffset(meta.numTrails)
        val target = math.max(1L << 20,
          try org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes
          catch { case scala.util.control.NonFatal(_) => 128L * 1024 * 1024 })
        val parts = Array.newBuilder[InputPartition]
        var t = 0L
        var offs = meta.trailOffset(0L)
        while (t < meta.numTrails) {
          val limit = offs + target
          var end =
            if (limit >= dataEnd) meta.numTrails
            else boundaryBefore(limit, t + 1, meta.numTrails)
          if (end <= t) end = t + 1 // a single whale trail > target
          val endOffs = if (end == meta.numTrails) dataEnd else meta.trailOffset(end)
          parts += TdbInputPartition(t, end, offs, endOffs)
          t = end
          offs = endOffs
        }
        parts.result()
    }
  }

  /** Largest trail index in [lo, hi] whose toc offset is ≤ `byteTarget`. */
  private def boundaryBefore(byteTarget: Long, lo0: Long, hi0: Long): Long = {
    var lo = lo0; var hi = hi0
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (meta.trailOffset(mid) <= byteTarget) lo = mid else hi = mid - 1
    }
    lo
  }

  /** v1 uuid binary search: the index is ordered by the uuid bytes read
    * as a LITTLE-ENDIAN u128 (reference memcpy-to-__uint128_t compare,
    * src/tdb.c:556-585). v0 gives NO order guarantee, so the lookup is
    * the reference's linear scan (src/tdb.c:558-567) — chunked reads, not
    * one row per IO. */
  private def findTrail(hexUuid: String): Option[Long] = {
    if (hexUuid.length != 32 ||
        !hexUuid.forall(c => Character.digit(c, 16) >= 0)) return None
    val key = TdbFormat.hexToBytes(hexUuid)
    if (meta.version == 0L) {
      val chunkTrails = 4096
      var base = 0L
      while (base < meta.numTrails) {
        val n = math.min(chunkTrails.toLong, meta.numTrails - base)
        val raw = meta.archive.readRange(meta.uuidsMember, base * 16, n * 16)
        var i = 0
        while (i < n) {
          if (java.util.Arrays.equals(raw, i * 16, i * 16 + 16, key, 0, 16))
            return Some(base + i)
          i += 1
        }
        base += n
      }
      return None
    }
    var lo = 0L; var hi = meta.numTrails - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = compareLeU128(
        meta.archive.readRange(meta.uuidsMember, mid * 16, 16), key)
      if (c == 0) return Some(mid)
      else if (c < 0) lo = mid + 1
      else hi = mid - 1
    }
    None
  }

  private def compareLeU128(a: Array[Byte], b: Array[Byte]): Int = {
    // little-endian: most significant byte LAST
    var i = 15
    while (i >= 0) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return if (x < y) -1 else 1
      i -= 1
    }
    0
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    meta.fieldBits // read the lexicon headers here, once, not per task
    new TdbReaderFactory(meta, required.fieldNames)
  }
}

final class TdbReaderFactory(meta: TdbFormat.TdbMeta,
    columns: Array[String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new TdbPartitionReader(meta, columns,
      partition.asInstanceOf[TdbInputPartition])
}

/** Decodes one trail range. Reads its toc slice and data byte range once
  * (seek + sequential read), then walks trail bit-streams in order. */
final class TdbPartitionReader(meta: TdbFormat.TdbMeta,
    columns: Array[String], part: TdbInputPartition)
    extends PartitionReader[InternalRow] {

  private val nTrails = (part.endTrail - part.startTrail).toInt
  // toc slice for [startTrail, endTrail] inclusive end boundary
  private val toc: Array[Long] = {
    val w = meta.tocWidth
    val raw = meta.archive.readRange("trails.toc",
      part.startTrail * w, (nTrails + 1).toLong * w)
    Array.tabulate(nTrails + 1) { i =>
      if (w == 4) TdbFormat.leInt(raw, i * 4) & 0xffffffffL
      else TdbFormat.leLong(raw, i * 8)
    }
  }
  // the whole range's data bytes, padded for the 64-bit word loads
  private val data: Array[Byte] = meta.archive.readRange("trails.data",
    part.startOffs, part.endOffs - part.startOffs, pad = 16)
  private val cb = TdbFormat.codebook(meta.archive, meta.version)

  // projection plan: for each output column, -2 = uuid, -1 = time,
  // else ofield index (0-based)
  private val colPlan: Array[Int] = columns.map {
    case "uuid" => -2
    case "time" => -1
    case f =>
      val i = meta.fieldNames.indexOf(f)
      require(i >= 0, s"tdb: unknown column $f")
      i
  }
  // uuid bytes and lexicons only for PROJECTED columns (column pruning
  // skips the rest)
  private val uuidBytes: Array[Byte] =
    if (!colPlan.contains(-2)) null
    else meta.archive.readRange(meta.uuidsMember,
      part.startTrail * 16, nTrails.toLong * 16)
  private val lexicons: Array[TdbFormat.Lexicon] = {
    val out = new Array[TdbFormat.Lexicon](meta.fieldNames.length)
    colPlan.filter(_ >= 0).distinct.foreach(i => out(i) = meta.lexicon(i + 1))
    out
  }

  private var trail = 0
  private val decoder = new TdbFormat.TrailDecoder(meta, cb, data)
  private var currentUuid: UTF8String = null
  private val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(columns.length)

  override def next(): Boolean = {
    while (true) {
      if (decoder.next()) {
        fill()
        return true
      }
      // advance to the next trail, decoded in place in the range buffer
      if (trail >= nTrails) return false
      if (uuidBytes != null) currentUuid = TdbFormat.hexUtf8(uuidBytes, trail * 16)
      decoder.reset(toc(trail) - toc(0), toc(trail + 1) - toc(trail))
      trail += 1
    }
    false
  }

  private def fill(): Unit = {
    var i = 0
    while (i < colPlan.length) {
      colPlan(i) match {
        case -2 => row.update(i, currentUuid)
        case -1 => row.update(i, decoder.timestamp)
        case f =>
          val v = decoder.value(f)
          row.update(i, if (v == 0L) null else lexicons(f)((v - 1).toInt))
      }
      i += 1
    }
  }

  override def get(): InternalRow = row
  override def close(): Unit = {}
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Parquet footer census — a pure-JVM reader for the physical file
  * metadata every lakehouse table service lives on (compaction
  * planning, scan sizing, codec audits, row-group pruning all start
  * from the footer, not the data). Implemented from the public format:
  *
  *  - file layout: trailing `[4-byte LE footer length]["PAR1"]`, the
  *    footer being a thrift **compact-protocol** `FileMetaData`
  *    (parquet-format/src/main/thrift/parquet.thrift);
  *  - thrift compact protocol from its spec: short/long-form field
  *    headers (delta-encoded ids), ULEB128 varints, zigzag integers,
  *    size-in-header lists, length-prefixed binaries, recursive
  *    structs — with a generic skip for every field this census does
  *    not project (statistics, bloom offsets, future additions);
  *  - `FileMetaData → RowGroup → ColumnChunk → ColumnMetaData` walk
  *    extracting num_rows, per-chunk value counts, compressed /
  *    uncompressed sizes, page offsets, codec and encoding enums
  *    (names per parquet.thrift).
  *
  * The GATE for this parser is unusual and strong: the oracle is
  * DuckDB's own independent C++ parquet reader (`parquet_metadata()`)
  * over the SAME driver-shipped files — two implementations of the
  * public format agreeing field-for-field on real bytes, not a
  * self-replay.
  *
  * Reference scope: the reference reads CSV/JSON through pandas
  * (/root/reference/tools.py:22-41) and never touches parquet
  * physicals; beyond-reference lakehouse surface per the build brief.
  */
object ParquetFooter {

  private val CodecNames = Map(0 -> "UNCOMPRESSED", 1 -> "SNAPPY",
    2 -> "GZIP", 3 -> "LZO", 4 -> "BROTLI", 5 -> "LZ4", 6 -> "ZSTD",
    7 -> "LZ4_RAW")
  private val EncodingNames = Map(0 -> "PLAIN", 2 -> "PLAIN_DICTIONARY",
    3 -> "RLE", 4 -> "BIT_PACKED", 5 -> "DELTA_BINARY_PACKED",
    6 -> "DELTA_LENGTH_BYTE_ARRAY", 7 -> "DELTA_BYTE_ARRAY",
    8 -> "RLE_DICTIONARY", 9 -> "BYTE_STREAM_SPLIT")

  // ── thrift compact-protocol reader ──────────────────────────────────
  private final class TCompact(b: Array[Byte], var pos: Int) {
    /** Read one raw (unencoded) byte — list headers etc. */
    def rawByte(): Int = { val v = b(pos) & 0xFF; pos += 1; v }
    def varint(): Long = {
      var v = 0L
      var shift = 0
      var more = true
      while (more) {
        val x = b(pos) & 0xFF; pos += 1
        v |= (x & 0x7FL) << shift; shift += 7
        more = (x & 0x80) != 0
        require(shift <= 70, "thrift: varint too long")
      }
      v
    }
    def zigzag(): Long = { val v = varint(); (v >>> 1) ^ -(v & 1) }
    def skipBinary(): Unit = { val n = varint().toInt; pos += n }
    def readBinary(): Array[Byte] = {
      val n = varint().toInt
      val out = java.util.Arrays.copyOfRange(b, pos, pos + n)
      pos += n
      out
    }
    /** Skip one value of the given compact type id. */
    def skip(tpe: Int): Unit = tpe match {
      case 1 | 2 => () // bool encoded in the field header
      case 3 => pos += 1 // byte
      case 4 | 5 | 6 => { varint(); () } // i16/i32/i64 (zigzag varint)
      case 7 => pos += 8 // double
      case 8 => skipBinary()
      case 9 | 10 => skipList()
      case 11 => // map: size varint, then 1 key/value type byte if n>0
        val n = varint().toInt
        require(n >= 0, "thrift: bad map size")
        if (n > 0) {
          val kv = rawByte()
          val kt = (kv >> 4) & 0xF; val vt = kv & 0xF
          var i = 0
          while (i < n) { skip(kt); skip(vt); i += 1 }
        }
      case 12 => skipStruct()
      case t => throw new IllegalArgumentException(s"thrift: type $t")
    }
    def skipList(): Unit = {
      val h = rawByte()
      val elemType = h & 0xF
      var n = (h >> 4) & 0xF
      if (n == 15) n = varint().toInt
      var i = 0
      while (i < n) { skip(elemType); i += 1 }
    }
    def skipStruct(): Unit = {
      var lastId = 0
      var stop = false
      while (!stop) {
        val h = b(pos) & 0xFF; pos += 1
        if (h == 0) stop = true
        else {
          val delta = (h >> 4) & 0xF
          val tpe = h & 0xF
          lastId = if (delta != 0) lastId + delta else zigzag().toInt
          skip(tpe)
        }
      }
    }
    /** Iterate a struct's fields: cb(fieldId, typeId) must CONSUME the
      * value (or call skip). */
    def struct(cb: (Int, Int) => Unit): Unit = {
      var lastId = 0
      var stop = false
      while (!stop) {
        val h = b(pos) & 0xFF; pos += 1
        if (h == 0) stop = true
        else {
          val delta = (h >> 4) & 0xF
          val tpe = h & 0xF
          lastId = if (delta != 0) lastId + delta else zigzag().toInt
          cb(lastId, tpe)
        }
      }
    }
    /** Iterate a list of structs: cb per element. */
    def structList(cb: () => Unit): Unit = {
      val h = rawByte()
      val elemType = h & 0xF
      require(elemType == 12, s"thrift: expected struct list, got $elemType")
      var n = (h >> 4) & 0xF
      if (n == 15) n = varint().toInt
      var i = 0
      while (i < n) { cb(); i += 1 }
    }
  }

  final case class ChunkMeta(pathInSchema: String, codec: String,
    encodings: String, numValues: Long, uncompressed: Long,
    compressed: Long, dataPageOffset: Long, dictPageOffset: Long)
  final case class GroupMeta(numRows: Long, chunks: Seq[ChunkMeta])
  final case class FileMeta(numRows: Long, createdBy: String,
    groups: Seq[GroupMeta])

  /** Parse the footer of a full parquet file image. */
  def parse(file: Array[Byte]): FileMeta = {
    val n = file.length
    require(n >= 12 && file(n - 4) == 'P' && file(n - 3) == 'A' &&
      file(n - 2) == 'R' && file(n - 1) == '1', "parquet: bad magic")
    val flen = (file(n - 8) & 0xFF) | ((file(n - 7) & 0xFF) << 8) |
      ((file(n - 6) & 0xFF) << 16) | ((file(n - 5) & 0xFF) << 24)
    val r = new TCompact(file, n - 8 - flen)
    var numRows = 0L
    var createdBy = ""
    val groups = Seq.newBuilder[GroupMeta]
    r.struct { (fid, tpe) =>
      fid match {
        case 3 => numRows = r.zigzag()
        case 6 => createdBy = new String(r.readBinary(), "UTF-8")
        case 4 => // row_groups: list<RowGroup>
          r.structList { () =>
            var rgRows = 0L
            val chunks = Seq.newBuilder[ChunkMeta]
            r.struct { (gf, gt) =>
              gf match {
                case 3 => rgRows = r.zigzag()
                case 1 => // columns: list<ColumnChunk>
                  r.structList { () =>
                    var meta: ChunkMeta = null
                    r.struct { (cf, ct) =>
                      cf match {
                        case 3 => meta = parseColumnMeta(r)
                        case _ => r.skip(ct)
                      }
                    }
                    require(meta != null, "parquet: chunk without metadata")
                    chunks += meta
                  }
                case _ => r.skip(gt)
              }
            }
            groups += GroupMeta(rgRows, chunks.result())
          }
        case _ => r.skip(tpe)
      }
    }
    FileMeta(numRows, createdBy, groups.result())
  }

  private def parseColumnMeta(r: TCompact): ChunkMeta = {
    var path = ""
    var codec = ""
    var encodings = ""
    var numValues = 0L
    var unc = 0L
    var comp = 0L
    var dataOff = 0L
    var dictOff = -1L
    r.struct { (f, t) =>
      f match {
        case 2 => // encodings: list<i32 enum>
          val names = Seq.newBuilder[String]
          val h = r.rawByte() // list header
          var n = (h >> 4) & 0xF
          if (n == 15) n = r.varint().toInt
          var i = 0
          while (i < n) {
            names += EncodingNames.getOrElse(r.zigzag().toInt, "UNKNOWN")
            i += 1
          }
          encodings = names.result().mkString(", ")
        case 3 => // path_in_schema: list<string>
          val parts = Seq.newBuilder[String]
          val h = r.rawByte()
          var n = (h >> 4) & 0xF
          if (n == 15) n = r.varint().toInt
          var i = 0
          while (i < n) {
            parts += new String(r.readBinary(), "UTF-8"); i += 1
          }
          // ", " join matches DuckDB's parquet_metadata rendering of
          // nested paths (e.g. "embedding, list, element")
          path = parts.result().mkString(", ")
        case 4 => codec = CodecNames.getOrElse(r.zigzag().toInt, "UNKNOWN")
        case 5 => numValues = r.zigzag()
        case 6 => unc = r.zigzag()
        case 7 => comp = r.zigzag()
        case 9 => dataOff = r.zigzag()
        case 11 => dictOff = r.zigzag()
        case _ => r.skip(t)
      }
    }
    ChunkMeta(path, codec, encodings, numValues, unc, comp, dataOff, dictOff)
  }

  val rowSchema: StructType = StructType(Seq(
    StructField("row_group_id", IntegerType, nullable = false),
    StructField("row_group_num_rows", LongType, nullable = false),
    StructField("column_id", IntegerType, nullable = false),
    StructField("path_in_schema", StringType, nullable = false),
    StructField("num_values", LongType, nullable = false),
    StructField("total_compressed_size", LongType, nullable = false),
    StructField("total_uncompressed_size", LongType, nullable = false),
    StructField("compression", StringType, nullable = false),
    StructField("encodings", StringType, nullable = false),
    StructField("data_page_offset", LongType, nullable = false),
    StructField("dictionary_page_offset", LongType, nullable = false)))

  /** Full-file bytes → array of per-(row group, column chunk) rows
    * (dictionary_page_offset −1 when absent). */
  def censusRows(file: Array[Byte]): GenericArrayData = {
    val meta = parse(file)
    val rows = new scala.collection.mutable.ArrayBuffer[InternalRow]
    var g = 0
    while (g < meta.groups.length) {
      val grp = meta.groups(g)
      var c = 0
      while (c < grp.chunks.length) {
        val ch = grp.chunks(c)
        rows += InternalRow(g, grp.numRows, c,
          UTF8String.fromString(ch.pathInSchema), ch.numValues,
          ch.compressed, ch.uncompressed,
          UTF8String.fromString(ch.codec),
          UTF8String.fromString(ch.encodings), ch.dataPageOffset,
          ch.dictPageOffset)
        c += 1
      }
      g += 1
    }
    new GenericArrayData(rows.toArray[Any])
  }
}

/** Column-API face. */
object ParquetFooterExprs {
  /** full parquet file bytes → array<struct> footer census rows. */
  def footerCensus(fileBytes: Column): Column =
    Native.call("parquet_footer_census", ParquetFooter, "censusRows",
      ArrayType(ParquetFooter.rowSchema, containsNull = false))(fileBytes)
}

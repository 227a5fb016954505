package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Length-prefixed protobuf record source/sink — the event-log ingestion
  * format (a stream of `[varint length][message bytes]` records, the
  * standard `writeDelimitedTo` framing), hand-encoded against the PUBLIC
  * protobuf wire format (no codegen, no descriptor dependency — varint /
  * fixed64 / length-delimited / fixed32 wire types only). Same posture
  * as [[TarShards]]/[[AvroFiles]]: distributed write through the Hadoop
  * FS API with the [[FileSink]] task commit, read via `binaryFile` + a
  * per-file walk, per-file quarantine instead of task failure.
  *
  * Schema mapping (field NUMBER = 1 + position in the caller's struct —
  * protobuf identity is by number, so column ORDER is the contract on
  * read, not column names):
  *
  *  - long/int/boolean  → varint (wire 0; int64 semantics — a negative
  *    long costs 10 bytes, exactly as the spec encodes int64)
  *  - timestamp (+NTZ)  → varint micros-since-epoch (the int64
  *    convention event logs use)
  *  - date              → varint days-since-epoch
  *  - double            → fixed64 (wire 1, IEEE bits LE)
  *  - float             → fixed32 (wire 5)
  *  - string/binary     → length-delimited (wire 2)
  *  - struct            → length-delimited nested message
  *  - array<T>          → UNPACKED repeated field (one tag per element;
  *    legal for every wire type, and what proto2 emits)
  *
  * Presence semantics: a NULL column is OMITTED from the message and a
  * missing field reads back NULL (proto2-style explicit presence — zero
  * values are still written, so 0 never collapses into null). Two wire
  * ambiguities are inherent to protobuf and documented rather than
  * papered over: an EMPTY ARRAY has no wire representation and reads
  * back as null, and an array may not carry null ELEMENTS (protobuf has
  * no element-level presence) — write() rejects those rows loudly.
  *
  * Evolution: unknown field numbers are SKIPPED by wire type (a
  * container written with extra trailing columns reads fine under the
  * old schema; a reader with extra trailing columns gets nulls) — the
  * protobuf forward/backward-compat rule. int32-written fields widen
  * into long readers (same varint).
  *
  * Shape at scale: one record file per write task, one `binaryFile` row
  * per read task, zero shuffles either way; a corrupt record quarantines
  * the file's TAIL (records decoded before the corruption point are
  * kept) — the [[AvroFiles.read]] posture.
  */
object ProtoFiles {

  private def wireType(dt: DataType): Int = dt match {
    case LongType | IntegerType | BooleanType | TimestampType |
         TimestampNTZType | DateType => 0
    case DoubleType => 1
    case FloatType => 5
    case StringType | BinaryType | _: StructType => 2
    case other => throw new IllegalArgumentException(
      s"ProtoFiles supports long/int/boolean/timestamp/date/double/float/" +
        s"string/binary/struct/array columns, got $other")
  }

  /** driver-side schema validation (fail fast before job launch) */
  private def validate(dt: DataType): Unit = dt match {
    case ArrayType(et, _) => et match {
      case _: ArrayType => throw new IllegalArgumentException(
        "ProtoFiles: array<array<_>> has no wire representation " +
          "(wrap the inner array in a struct field)")
      case e => validate(e)
    }
    case st: StructType => st.fields.foreach(f => validate(f.dataType))
    case other => wireType(other)
  }

  private final class Out {
    private var buf = new Array[Byte](64)
    private var len = 0
    private def ensure(n: Int): Unit =
      if (len + n > buf.length) {
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))
      }
    def writeByte(b: Int): Unit = { ensure(1); buf(len) = b.toByte; len += 1 }
    def writeVarint(v0: Long): Unit = {
      var v = v0
      ensure(10)
      while ((v & ~0x7fL) != 0) {
        buf(len) = ((v & 0x7f) | 0x80).toByte; len += 1; v >>>= 7
      }
      buf(len) = v.toByte; len += 1
    }
    def writeBytes(b: Array[Byte]): Unit = {
      ensure(b.length); System.arraycopy(b, 0, buf, len, b.length)
      len += b.length
    }
    def writeFixed64(v: Long): Unit = {
      ensure(8)
      var i = 0
      while (i < 8) { buf(len + i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
      len += 8
    }
    def writeFixed32(v: Int): Unit = {
      ensure(4)
      var i = 0
      while (i < 4) { buf(len + i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
      len += 4
    }
    def size: Int = len
    def toBytes: Array[Byte] = java.util.Arrays.copyOf(buf, len)
  }

  /** encode ONE value (no tag) of scalar type `dt` */
  private def writeScalar(o: Out, dt: DataType, g: SpecializedGetters,
      i: Int): Unit = dt match {
    case LongType | TimestampType | TimestampNTZType =>
      o.writeVarint(g.getLong(i))
    case IntegerType | DateType => o.writeVarint(g.getInt(i).toLong)
    case BooleanType => o.writeVarint(if (g.getBoolean(i)) 1L else 0L)
    case DoubleType =>
      o.writeFixed64(java.lang.Double.doubleToLongBits(g.getDouble(i)))
    case FloatType =>
      o.writeFixed32(java.lang.Float.floatToIntBits(g.getFloat(i)))
    case StringType =>
      val b = g.getUTF8String(i).getBytes
      o.writeVarint(b.length.toLong); o.writeBytes(b)
    case BinaryType =>
      val b = g.getBinary(i)
      o.writeVarint(b.length.toLong); o.writeBytes(b)
    case st: StructType =>
      val nested = new Out
      writeMessage(nested, st, g.getStruct(i, st.length))
      o.writeVarint(nested.size.toLong); o.writeBytes(nested.toBytes)
    case other => throw new IllegalStateException(other.toString)
  }

  private def writeField(o: Out, num: Int, dt: DataType,
      g: SpecializedGetters, i: Int): Unit = dt match {
    case ArrayType(et, containsNull) =>
      val ad = g.getArray(i)
      var j = 0
      while (j < ad.numElements()) {
        if (containsNull && ad.isNullAt(j))
          throw new IllegalArgumentException(
            "ProtoFiles: protobuf repeated fields cannot carry null " +
              s"elements (field number $num)")
        o.writeVarint(((num << 3) | wireType(et)).toLong)
        writeScalar(o, et, ad, j)
        j += 1
      }
    case scalar =>
      o.writeVarint(((num << 3) | wireType(scalar)).toLong)
      writeScalar(o, scalar, g, i)
  }

  private def writeMessage(o: Out, st: StructType,
      row: SpecializedGetters): Unit = {
    var i = 0
    while (i < st.length) {
      if (!row.isNullAt(i)) writeField(o, i + 1, st.fields(i).dataType, row, i)
      i += 1
    }
  }

  /** Distributed delimited-stream writer: each task streams
    * `[varint len][message]` records to `part-<pid>.pb`, committed
    * through [[FileSink]]. */
  def write(df: DataFrame, outDir: String): Unit = {
    val schema = df.schema
    schema.fields.foreach(f => validate(f.dataType)) // driver fail-fast
    FileSink(df.sparkSession, outDir, "*.pb", ".pb.tmp-")
      .writeParts(df.queryExecution.toRdd, "pb") { (rows, os) =>
        var count = 0L
        rows.foreach { ir =>
          val o = new Out
          writeMessage(o, schema, ir)
          val frame = new Out
          frame.writeVarint(o.size.toLong)
          os.write(frame.toBytes); os.write(o.toBytes)
          count += 1
        }
        count
      }
  }

  private final class In(b: Array[Byte], var pos: Int, val limit: Int) {
    def hasMore: Boolean = pos < limit
    def readVarint(): Long = {
      var shift = 0
      var v = 0L
      while (shift < 64) {
        if (pos >= limit) throw new IllegalArgumentException("truncated varint")
        val x = b(pos); pos += 1
        v |= (x & 0x7fL) << shift
        if ((x & 0x80) == 0) return v
        shift += 7
      }
      throw new IllegalArgumentException("malformed varint")
    }
    def readFixed64(): Long = {
      if (pos + 8 > limit) throw new IllegalArgumentException("truncated fixed64")
      var v = 0L
      var i = 0
      while (i < 8) { v |= (b(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8; v
    }
    def readFixed32(): Int = {
      if (pos + 4 > limit) throw new IllegalArgumentException("truncated fixed32")
      var v = 0
      var i = 0
      while (i < 4) { v |= (b(pos + i) & 0xff) << (8 * i); i += 1 }
      pos += 4; v
    }
    def readSlice(n: Int): (Int, Int) = {
      if (n < 0 || pos + n > limit)
        throw new IllegalArgumentException("truncated bytes")
      val s = (pos, pos + n); pos += n; s
    }
  }

  private def elemType(dt: DataType): DataType = dt match {
    case ArrayType(et, _) => et
    case other => other
  }

  /** decode one wire value into the external value for `dt` */
  private def readScalar(in: In, b: Array[Byte], dt: DataType,
      wire: Int): Any = dt match {
    case LongType =>
      require(wire == 0, "wire/type mismatch"); in.readVarint()
    case IntegerType =>
      require(wire == 0, "wire/type mismatch"); in.readVarint().toInt
    case BooleanType =>
      require(wire == 0, "wire/type mismatch"); in.readVarint() != 0L
    case TimestampType =>
      require(wire == 0, "wire/type mismatch")
      val us = in.readVarint()
      java.time.Instant.ofEpochSecond(java.lang.Math.floorDiv(us, 1000000L),
        java.lang.Math.floorMod(us, 1000000L) * 1000L)
    case TimestampNTZType =>
      require(wire == 0, "wire/type mismatch")
      val us = in.readVarint()
      java.time.LocalDateTime.ofEpochSecond(
        java.lang.Math.floorDiv(us, 1000000L),
        (java.lang.Math.floorMod(us, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)
    case DateType =>
      require(wire == 0, "wire/type mismatch")
      java.time.LocalDate.ofEpochDay(in.readVarint())
    case DoubleType =>
      require(wire == 1, "wire/type mismatch")
      java.lang.Double.longBitsToDouble(in.readFixed64())
    case FloatType =>
      require(wire == 5, "wire/type mismatch")
      java.lang.Float.intBitsToFloat(in.readFixed32())
    case StringType =>
      require(wire == 2, "wire/type mismatch")
      val n = in.readVarint().toInt
      val (s, e) = in.readSlice(n)
      new String(b, s, e - s, "UTF-8")
    case BinaryType =>
      require(wire == 2, "wire/type mismatch")
      val n = in.readVarint().toInt
      val (s, e) = in.readSlice(n)
      java.util.Arrays.copyOfRange(b, s, e)
    case st: StructType =>
      require(wire == 2, "wire/type mismatch")
      val n = in.readVarint().toInt
      val (s, e) = in.readSlice(n)
      readMessage(b, s, e, st)
    case other => throw new IllegalStateException(other.toString)
  }

  private def skipField(in: In, wire: Int): Unit = wire match {
    case 0 => in.readVarint(); ()
    case 1 => in.readFixed64(); ()
    case 2 => val n = in.readVarint().toInt; in.readSlice(n); ()
    case 5 => in.readFixed32(); ()
    case w => throw new IllegalArgumentException(s"unsupported wire type $w")
  }

  private def readMessage(b: Array[Byte], from: Int, until: Int,
      st: StructType): Row = {
    val in = new In(b, from, until)
    val vals = new Array[Any](st.length)
    val repeated = new Array[scala.collection.mutable.ArrayBuffer[Any]](st.length)
    while (in.hasMore) {
      val tag = in.readVarint()
      val num = (tag >>> 3).toInt
      val wire = (tag & 7).toInt
      val idx = num - 1
      if (idx < 0 || idx >= st.length) skipField(in, wire) // unknown: skip
      else st.fields(idx).dataType match {
        case at: ArrayType =>
          if (repeated(idx) == null)
            repeated(idx) = scala.collection.mutable.ArrayBuffer.empty[Any]
          repeated(idx) += readScalar(in, b, elemType(at), wire)
        case dt =>
          vals(idx) = readScalar(in, b, dt, wire)
      }
    }
    var i = 0
    while (i < st.length) {
      if (repeated(i) != null) vals(i) = repeated(i).toVector
      i += 1
    }
    Row.fromSeq(vals.toSeq)
  }

  /** Read every `*.pb` delimited stream under `path` into `schema` + an
    * `error` column: records decoded before a corruption point are kept,
    * the corrupt tail yields ONE quarantine row. */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    schema.fields.foreach(f => validate(f.dataType))
    // missing fields read NULL by construction (the AvroFiles.read rule)
    val relaxed = AvroFiles.relax(schema).asInstanceOf[StructType]
    val out = relaxed.add("error", StringType)
    val rdd = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.pb").load(path)
      .select(col("path"), col("content"))
      .rdd
      .flatMap { fileRow =>
        val bytes = fileRow.getAs[Array[Byte]]("content")
        val rows = Vector.newBuilder[Row]
        try {
          val in = new In(bytes, 0, bytes.length)
          while (in.hasMore) {
            val n = in.readVarint().toInt
            val (s, e) = in.readSlice(n)
            val r = readMessage(bytes, s, e, relaxed)
            rows += Row.fromSeq(r.toSeq :+ null)
          }
          rows.result()
        } catch {
          case scala.util.control.NonFatal(ex) =>
            rows.result() :+ Row.fromSeq(
              Seq.fill[Any](schema.length)(null) :+
                s"proto walk failed: ${String.valueOf(ex.getMessage).take(200)}")
        }
      }
    spark.createDataFrame(rdd, out)
  }
}

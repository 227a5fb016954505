package graft.sources

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.avro.{LogicalTypes, Schema => ASchema}
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Avro object-container-file (OCF) source/sink built directly on the
  * core `org.apache.avro` library that ships with Spark — the
  * `spark-avro` CONNECTOR jar does not (it is a separate artifact), so
  * this is a self-contained container walk in the [[TarShards]] posture:
  * distributed write through the Hadoop FS API (one container file per
  * task), read via Spark's `binaryFile` source + a per-file
  * `DataFileStream` walk, per-file quarantine instead of task failure.
  *
  * Type contract (the ingestion subset): primitives long/int/double/
  * float/boolean/string/binary, the standard logical types —
  * timestamp (`long` + `timestamp-micros`; `timestamp-millis` also
  * reads), timestamp_ntz (`long` + `local-timestamp-micros`/`-millis`),
  * date (`int` + `date`), decimal (`bytes` + `decimal(p,s)`,
  * unscaled big-endian two's complement; `fixed` also reads) — and the
  * nested shapes real ingestion schemas use: arrays, string-keyed maps,
  * and nested records to any depth (each written as a named Avro record;
  * names derive from the field path). Nullable fields/elements/values as
  * `union(null, T)`; unions beyond that shape are rejected on read.
  * Avro's own deflate codec handles compression. Field resolution on
  * read is BY NAME against the caller's schema at every nesting level (a
  * container written with extra fields reads fine; a missing field —
  * top-level or nested — reads NULL: the mergeSchema-style evolution
  * rule), with int→long and float→double widening.
  *
  * Shape at scale: one container file per write task (size your
  * partitions, not your cluster), one `binaryFile` row = one read task's
  * work, member decode is a per-partition flatMap with zero shuffles.
  *
  * Commit protocol: [[FileSink]] — each attempt streams to a
  * `part-<pid>.avro.tmp-<uuid>` temp that [[read]]'s `*.avro` glob never
  * sees, renamed to `part-<pid>.avro` only after the container closed.
  */
object AvroFiles {

  private def avroType(dt: DataType, path: String): String = dt match {
    case LongType => "\"long\""
    case IntegerType => "\"int\""
    case DoubleType => "\"double\""
    case FloatType => "\"float\""
    case BooleanType => "\"boolean\""
    case StringType => "\"string\""
    case BinaryType => "\"bytes\""
    case TimestampType =>
      """{"type":"long","logicalType":"timestamp-micros"}"""
    case TimestampNTZType =>
      """{"type":"long","logicalType":"local-timestamp-micros"}"""
    case DateType => """{"type":"int","logicalType":"date"}"""
    case d: DecimalType =>
      s"""{"type":"bytes","logicalType":"decimal","precision":${d.precision},"scale":${d.scale}}"""
    case ArrayType(et, containsNull) =>
      val item = avroType(et, path + "_item")
      val t = if (containsNull) s"""["null", $item]""" else item
      s"""{"type":"array","items":$t}"""
    case MapType(StringType, vt, valueContainsNull) =>
      val v = avroType(vt, path + "_value")
      val t = if (valueContainsNull) s"""["null", $v]""" else v
      s"""{"type":"map","values":$t}"""
    case st: StructType => recordJson(st, path)
    case other => throw new IllegalArgumentException(
      s"AvroFiles supports long/int/double/float/boolean/string/binary/" +
        s"timestamp/date/decimal/array/map<string,_>/struct columns, " +
        s"got $other at $path")
  }

  private def recordJson(st: StructType, name: String): String = {
    val fields = st.fields.map { f =>
      val t0 = avroType(f.dataType, s"${name}_${f.name}")
      val t = if (f.nullable) s"""["null", $t0]""" else t0
      val dflt = if (f.nullable) ""","default":null""" else ""
      s"""{"name":"${f.name}","type":$t$dflt}"""
    }
    s"""{"type":"record","name":"$name","fields":[${fields.mkString(",")}]}"""
  }

  /** Avro record schema (JSON) for a Spark struct — nullable fields as
    * `["null", T]` with a null default; nested record names derive from
    * the field path (Avro named types must be unique per schema). */
  private[sources] def avroSchemaJson(schema: StructType): String =
    recordJson(schema, "graft_row")

  /** The single non-null branch of a `union(null, T)`; any other union
    * shape is outside the declared contract. */
  private def unwrap(s: ASchema): ASchema =
    if (s.getType == ASchema.Type.UNION) {
      val nn = s.getTypes.asScala.filter(_.getType != ASchema.Type.NULL)
      if (nn.length != 1) throw new IllegalArgumentException(
        s"unsupported union shape ${s}: only [null, T] unions are handled")
      nn.head
    } else s

  /** Catalyst-internal-value → Avro-generic-value converter for one
    * (Spark type, writer Avro schema) pair; `g` is the enclosing row /
    * array / map-value frame, `i` the ordinal. Null checks live at the
    * CALL site (the enclosing container knows its nullability). */
  private def writeConv(dt: DataType, sch: ASchema)
      : (SpecializedGetters, Int) => AnyRef = dt match {
    case LongType | TimestampType | TimestampNTZType =>
      (g, i) => java.lang.Long.valueOf(g.getLong(i))
    case IntegerType | DateType =>
      (g, i) => java.lang.Integer.valueOf(g.getInt(i))
    case DoubleType => (g, i) => java.lang.Double.valueOf(g.getDouble(i))
    case FloatType => (g, i) => java.lang.Float.valueOf(g.getFloat(i))
    case BooleanType => (g, i) => java.lang.Boolean.valueOf(g.getBoolean(i))
    case StringType => (g, i) => g.getUTF8String(i).toString
    case BinaryType => (g, i) => java.nio.ByteBuffer.wrap(g.getBinary(i))
    case d: DecimalType => (g, i) =>
      // Avro decimal: unscaled value, big-endian two's complement —
      // exactly BigInteger.toByteArray of the (p, s)-normalized value
      java.nio.ByteBuffer.wrap(g.getDecimal(i, d.precision, d.scale)
        .toJavaBigDecimal.unscaledValue.toByteArray)
    case ArrayType(et, containsNull) =>
      val ec = writeConv(et, unwrap(sch.getElementType))
      (g, i) => {
        val ad = g.getArray(i)
        val n = ad.numElements()
        val arr = new GenericData.Array[AnyRef](n, sch)
        var j = 0
        while (j < n) {
          arr.add(if (containsNull && ad.isNullAt(j)) null else ec(ad, j))
          j += 1
        }
        arr
      }
    case MapType(StringType, vt, valueContainsNull) =>
      val vc = writeConv(vt, unwrap(sch.getValueType))
      (g, i) => {
        val md = g.getMap(i)
        val ks = md.keyArray()
        val vs = md.valueArray()
        val out = new java.util.HashMap[String, AnyRef]()
        var j = 0
        while (j < md.numElements()) {
          out.put(ks.getUTF8String(j).toString,
            if (valueContainsNull && vs.isNullAt(j)) null else vc(vs, j))
          j += 1
        }
        out
      }
    case st: StructType =>
      val fcs = st.fields.zipWithIndex.map { case (f, j) =>
        writeConv(f.dataType, unwrap(sch.getFields.get(j).schema()))
      }
      (g, i) => {
        val ir = g.getStruct(i, st.length)
        val rec = new GenericData.Record(sch)
        var j = 0
        while (j < st.length) {
          rec.put(j, if (ir.isNullAt(j)) null else fcs(j)(ir, j))
          j += 1
        }
        rec
      }
    case other => throw new IllegalStateException(other.toString)
  }

  /** Distributed OCF writer: each task writes `part-<partition>.avro`
    * under `outDir` (deflate-coded), committed through [[FileSink]]. */
  def write(df: DataFrame, outDir: String): Unit = {
    val schema = df.schema
    val schemaJson = avroSchemaJson(schema)
    // fail fast ON THE DRIVER for both unsupported types (avroType
    // throws inside avroSchemaJson) and Avro-invalid field names — the
    // JSON is hand-built from unvalidated Spark column names, and
    // without this parse a name like "n-chars" (or one with a quote)
    // would surface as a distributed task failure after job launch
    new ASchema.Parser().parse(schemaJson)
    val n = schema.length
    FileSink(df.sparkSession, outDir, "*.avro", ".avro.tmp-")
      .writeParts(df.queryExecution.toRdd, "avro") { (rows, os) =>
        // InternalRow -> GenericRecord without a driver round-trip
        val avroSchema = new ASchema.Parser().parse(schemaJson)
        val convs = schema.fields.zipWithIndex.map { case (f, i) =>
          writeConv(f.dataType, unwrap(avroSchema.getFields.get(i).schema()))
        }
        Using.resource(new org.apache.avro.file.DataFileWriter(
            new org.apache.avro.generic.GenericDatumWriter[
              GenericRecord](avroSchema))) { writer =>
          writer.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
          writer.create(avroSchema, os)
          var count = 0L
          rows.foreach { ir =>
            val rec = new GenericData.Record(avroSchema)
            var i = 0
            while (i < n) {
              rec.put(i, if (ir.isNullAt(i)) null else convs(i)(ir, i))
              i += 1
            }
            writer.append(rec)
            count += 1
          }
          count
        } // the close completes the container
      }
  }

  /** Relax nullability at EVERY level: quarantine rows and by-name
    * misses (top-level or nested) are null by construction, and one
    * non-nullable flag anywhere would make the row encoder throw on
    * exactly the hostile input the quarantine exists to absorb. The
    * [[ProtoFiles]] reader shares it. */
  private[sources] def relax(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = relax(f.dataType), nullable = true)))
    case ArrayType(et, _) => ArrayType(relax(et), containsNull = true)
    case MapType(kt, vt, _) =>
      MapType(relax(kt), relax(vt), valueContainsNull = true)
    case other => other
  }

  /** Avro-decoded value → Spark EXTERNAL row value for `want`, guided by
    * the WRITER schema `wsch` (already union-unwrapped): logical-type
    * checks for timestamp/date, the writer's decimal scale (authoritative
    * — the caller's may differ under evolution), recursive descent for
    * arrays/maps/records with BY-NAME nested field resolution, int→long
    * and float→double widening. Timestamps surface as `java.time.Instant`
    * and dates as `java.time.LocalDate` (timezone-proof external types —
    * `java.sql.Timestamp`/`Date` conversions depend on the JVM default
    * zone). */
  private def readConv(raw: AnyRef, wsch: ASchema, want: DataType,
      fname: String): Any = (raw, want) match {
    case (null, _) => null
    case (u: org.apache.avro.util.Utf8, StringType) => u.toString
    case (s: String, StringType) => s
    case (b: java.nio.ByteBuffer, BinaryType) =>
      val a = new Array[Byte](b.remaining()); b.asReadOnlyBuffer().get(a); a
    case (b: java.nio.ByteBuffer, _: DecimalType) =>
      val a = new Array[Byte](b.remaining()); b.asReadOnlyBuffer().get(a)
      decimalOf(a, wsch, fname)
    case (fx: org.apache.avro.generic.GenericFixed, _: DecimalType) =>
      decimalOf(fx.bytes(), wsch, fname)
    case (v: java.lang.Long, TimestampType) => wsch.getLogicalType match {
      case _: LogicalTypes.TimestampMicros =>
        java.time.Instant.ofEpochSecond(
          java.lang.Math.floorDiv(v.longValue(), 1000000L),
          java.lang.Math.floorMod(v.longValue(), 1000000L) * 1000L)
      case _: LogicalTypes.TimestampMillis =>
        java.time.Instant.ofEpochMilli(v.longValue())
      case lt => throw new IllegalArgumentException(
        s"field $fname: long with logicalType $lt does not read as timestamp")
    }
    case (v: java.lang.Long, TimestampNTZType) => wsch.getLogicalType match {
      case _: LogicalTypes.LocalTimestampMicros =>
        java.time.LocalDateTime.ofEpochSecond(
          java.lang.Math.floorDiv(v.longValue(), 1000000L),
          (java.lang.Math.floorMod(v.longValue(), 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)
      case _: LogicalTypes.LocalTimestampMillis =>
        java.time.LocalDateTime.ofEpochSecond(
          java.lang.Math.floorDiv(v.longValue(), 1000L),
          (java.lang.Math.floorMod(v.longValue(), 1000L) * 1000000L).toInt,
          java.time.ZoneOffset.UTC)
      case lt => throw new IllegalArgumentException(
        s"field $fname: long with logicalType $lt does not read as " +
          "timestamp_ntz")
    }
    case (v: java.lang.Integer, DateType) => wsch.getLogicalType match {
      case _: LogicalTypes.Date => java.time.LocalDate.ofEpochDay(v.longValue())
      case lt => throw new IllegalArgumentException(
        s"field $fname: int with logicalType $lt does not read as date")
    }
    case (v: java.lang.Long, LongType) => v.longValue()
    case (v: java.lang.Integer, IntegerType) => v.intValue()
    // widened by-name evolution: int containers read as long
    case (v: java.lang.Integer, LongType) => v.longValue()
    case (v: java.lang.Double, DoubleType) => v.doubleValue()
    case (v: java.lang.Float, FloatType) => v.floatValue()
    case (v: java.lang.Float, DoubleType) => v.doubleValue()
    case (v: java.lang.Boolean, BooleanType) => v.booleanValue()
    case (c: java.util.Collection[_], ArrayType(et, _)) =>
      val es = unwrap(wsch.getElementType)
      c.asScala.iterator.map(e =>
        readConv(e.asInstanceOf[AnyRef], es, et, fname)).toVector
    case (m: java.util.Map[_, _], MapType(StringType, vt, _)) =>
      val vs = unwrap(wsch.getValueType)
      m.asScala.map { case (k, v) =>
        String.valueOf(k) -> readConv(v.asInstanceOf[AnyRef], vs, vt, fname)
      }.toMap
    case (r: GenericRecord, st: StructType) =>
      // by-name resolution at every nesting level — same evolution rule
      // as the top-level walk (extra writer fields ignored, missing
      // caller fields null)
      Row.fromSeq(st.fields.toSeq.map { f =>
        val wf = r.getSchema.getField(f.name)
        if (wf == null) null
        else readConv(r.get(wf.pos()), unwrap(wf.schema()), f.dataType,
          s"$fname.${f.name}")
      })
    case (other, w) => throw new IllegalArgumentException(
      s"field $fname: container value " +
        s"${other.getClass.getSimpleName} does not read as $w")
  }

  private def decimalOf(unscaled: Array[Byte], wsch: ASchema,
      fname: String): java.math.BigDecimal = wsch.getLogicalType match {
    case d: LogicalTypes.Decimal =>
      new java.math.BigDecimal(new java.math.BigInteger(unscaled), d.getScale)
    case lt => throw new IllegalArgumentException(
      s"field $fname: bytes with logicalType $lt does not read as decimal")
  }

  /** Read every `*.avro` container under `path` into `schema` + an
    * `error` column (null on good rows): field resolution by name, a
    * structurally corrupt container yields ONE quarantine row (all data
    * columns null, `error` set) rather than a task failure — the
    * [[TarShards.members]] posture. Rows decoded before the corruption
    * point are kept (their bytes were valid). */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val out = StructType(schema.fields.map(f =>
      f.copy(dataType = relax(f.dataType), nullable = true)) :+
      StructField("error", StringType, nullable = true))
    val fieldNames = schema.fields.map(_.name)
    val fieldTypes = schema.fields.map(f => relax(f.dataType))
    val rdd = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.avro").load(path)
      .select(col("path"), col("content"))
      .rdd
      .flatMap { fileRow =>
        val bytes = fileRow.getAs[Array[Byte]]("content")
        val rows = Vector.newBuilder[Row]
        try {
          val stream = new org.apache.avro.file.DataFileStream(
            new java.io.ByteArrayInputStream(bytes),
            new org.apache.avro.generic.GenericDatumReader[
              GenericRecord]())
          try {
            // by-name resolution against the container's writer schema,
            // field handles cached once per file
            val wfields = fieldNames.map(n =>
              Option(stream.getSchema.getField(n)))
            while (stream.hasNext) {
              val rec = stream.next()
              val vals = new Array[Any](fieldNames.length + 1)
              var i = 0
              while (i < fieldNames.length) {
                vals(i) = wfields(i) match {
                  case None => null
                  case Some(wf) => readConv(rec.get(wf.pos()),
                    unwrap(wf.schema()), fieldTypes(i), fieldNames(i))
                }
                i += 1
              }
              vals(fieldNames.length) = null // error column
              rows += Row.fromSeq(vals.toSeq)
            }
          } finally stream.close()
          rows.result()
        } catch {
          case scala.util.control.NonFatal(e) =>
            val kept = rows.result()
            val quarantine = Row.fromSeq(
              Seq.fill[Any](fieldNames.length)(null) :+
                s"avro walk failed: ${String.valueOf(e.getMessage).take(200)}")
            kept :+ quarantine
        }
      }
    spark.createDataFrame(rdd, out)
  }
}

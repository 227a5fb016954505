package graft.sources

import scala.util.Using

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** zstd-compressed JSON-Lines source/sink — the dominant interchange
  * format for public LLM training corpora (Dolma, RedPajama, FineWeb
  * all ship `*.jsonl.zst`: one JSON object per newline-delimited line,
  * whole file wrapped in one or more zstd frames). JSON escapes `\n`
  * inside string values, so line framing is unambiguous by
  * construction — that property is what makes the format streamable.
  *
  * Same posture as [[TarShards]]/[[AvroFiles]]/[[ProtoFiles]]/
  * [[WarcFiles]]: distributed write through the Hadoop FS API with the
  * [[FileSink]] task commit, read via `binaryFile` + a per-file walk,
  * malformed tails QUARANTINED instead of failing the task (lines
  * decoded before the corruption point are kept).
  *
  * The JSON encode/decode itself never leaves Catalyst: write routes
  * rows through `to_json(struct(...))` (codegen'd Jackson) and read
  * parses with `from_json` against the caller's schema — the per-task
  * loop only moves bytes through the zstd codec. Unicode round-trips
  * losslessly (Jackson emits raw UTF-8, not escapes) and a null column
  * is omitted on write / reads back null, the usual JSONL convention.
  *
  * Shape at scale: one `.jsonl.zst` file per write task, one
  * `binaryFile` row per read task, zero shuffles either way. zstd
  * frames are not internally splittable — the FILE is the split unit,
  * exactly how the public corpora shard (thousands of ~100 MB-1 GB
  * files), so "size your partitions" means sizing the writer's task
  * count, same rule as the Avro/WARC sinks. Decode is streaming AND
  * lazily emitted ([[walkFileIter]]): task memory holds one 64 KiB
  * chunk's lines plus one partial line at a time, so a legitimate
  * multi-GB decompressed shard streams through without whole-file
  * materialization; the per-line and per-file caps quarantine bombs.
  */
object JsonlZstd {

  /** zstd frame magic, little-endian 0xFD2FB528 */
  private def isZstd(b: Array[Byte]): Boolean =
    b.length >= 4 && (b(0) & 0xff) == 0x28 && (b(1) & 0xff) == 0xb5 &&
      (b(2) & 0xff) == 0x2f && (b(3) & 0xff) == 0xfd

  /** a single decoded line longer than this quarantines the file's tail
    * (a well-formed corpus line is ≤ a few MB; 64 MiB of newline-free
    * output is a bomb or corruption, not data) */
  private[sources] val MaxLineBytes: Int = 1 << 26

  /** total decompressed bytes per file above which the walk quarantines
    * the tail — the decompression-bomb cap for MANY-small-lines bombs,
    * which the per-line cap alone cannot catch (a 1 GiB zstd frame at
    * 100:1 would otherwise balloon task memory; corpus shards the
    * writer produces sit far below this) */
  private[sources] val MaxFileBytes: Long = 4L << 30

  /** Distributed writer: every column of `df` becomes a JSON field (in
    * column order) of one object per row; each task writes
    * `part-<pid>.jsonl.zst` (or plain `.jsonl` with `zstd = false`),
    * committed through [[FileSink]]. The temp marker `.jzt-` carries no
    * ".jsonl", so the read glob never surfaces a dead attempt's file. */
  def write(df: DataFrame, outDir: String, zstd: Boolean = true,
      level: Int = 3): Unit = {
    require(df.columns.nonEmpty, "JsonlZstd.write: no columns")
    val lines = df.select(
      to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("line"))
    FileSink(df.sparkSession, outDir, "*.jsonl*", ".jzt-")
      .writeParts(lines.queryExecution.toRdd,
          if (zstd) "jsonl.zst" else "jsonl") { (rows, fileOs) =>
        // the close ends the zstd frame
        Using.resource(if (zstd)
            new com.github.luben.zstd.ZstdOutputStream(fileOs, level)
          else fileOs) { os =>
          var count = 0L
          rows.foreach { ir =>
            // to_json of a non-null struct is never null
            os.write(ir.getUTF8String(0).getBytes)
            os.write('\n')
            count += 1
          }
          count
        }
      }
  }

  /** LAZY decode of one file's bytes into `(line, error)` rows — one
    * `(line, null)` per complete line, plus one trailing `(null, msg)`
    * quarantine row if the walk hit a decode error (bad frame,
    * truncated stream, over-cap line or file): lines decoded before the
    * corruption point are kept. A final unterminated line at CLEAN
    * end-of-stream is kept (tolerate a missing trailing newline, the
    * jq/pandas convention).
    *
    * The iterator holds at most ONE 64 KiB decode chunk's lines plus
    * one partial line (≤ [[MaxLineBytes]]) at a time — Spark's flatMap
    * pipelines it, so a legitimate multi-GB decompressed shard streams
    * through the task without ever materializing whole-file line
    * vectors ([[MaxFileBytes]] is purely the bomb cap, not a memory
    * bound). */
  private[sources] def walkFileIter(raw: Array[Byte],
      maxFileBytes: Long = MaxFileBytes): Iterator[(String, String)] =
    new scala.collection.AbstractIterator[(String, String)] {
      private val queue = new java.util.ArrayDeque[(String, String)]()
      private var in: java.io.InputStream = null
      private val buf = new Array[Byte](1 << 16)
      private var line = new java.io.ByteArrayOutputStream(256)
      private var total = 0L
      private var finished = false

      private def closeQuiet(): Unit =
        if (in != null) {
          try in.close() catch { case _: Throwable => () }
          in = null
        }

      private def fail(e: Throwable): Unit = {
        queue.add((null, "jsonl walk failed: " +
          String.valueOf(e.getMessage).take(200)))
        closeQuiet()
        finished = true
      }

      try {
        in =
          if (isZstd(raw)) {
            val z = new com.github.luben.zstd.ZstdInputStream(
              new java.io.ByteArrayInputStream(raw))
            // decode ALL concatenated frames (the multi-writer append
            // layout); without this, frame 2+ would vanish as clean EOF
            z.setContinuous(true)
            z
          } else new java.io.ByteArrayInputStream(raw)
        // a short-circuited consumer (limit/take over the flatMap)
        // abandons this iterator before EOF and nothing else would ever
        // close the native zstd context — register task-scoped cleanup
        // (the lazy-walk replacement for the old eager try/finally)
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null)
          tc.addTaskCompletionListener[Unit](_ => closeQuiet())
      } catch {
        case scala.util.control.NonFatal(e) => fail(e)
      }

      /** refill: decode chunks until at least one row is queued or the
        * walk ends; caps are checked in the same order as the eager
        * walk always did (file cap before the chunk's lines are split
        * out, line cap after the carry) */
      private def advance(): Unit =
        while (queue.isEmpty && !finished) {
          try {
            val n = in.read(buf)
            if (n < 0) {
              if (line.size() > 0) {
                queue.add((new String(line.toByteArray, "UTF-8"), null))
                line = new java.io.ByteArrayOutputStream(256)
              }
              closeQuiet()
              finished = true
            } else {
              total += n
              if (total > maxFileBytes)
                throw new IllegalArgumentException(
                  s"decompressed size exceeds $maxFileBytes bytes " +
                    "(decompression bomb)")
              var i = 0
              var start = 0
              while (i < n) {
                if (buf(i) == '\n') {
                  line.write(buf, start, i - start)
                  queue.add((new String(line.toByteArray, "UTF-8"), null))
                  line = new java.io.ByteArrayOutputStream(256)
                  start = i + 1
                }
                i += 1
              }
              line.write(buf, start, n - start)
              if (line.size() > MaxLineBytes)
                throw new IllegalArgumentException(
                  s"line exceeds $MaxLineBytes bytes (bomb or corruption)")
            }
          } catch {
            case scala.util.control.NonFatal(e) => fail(e)
          }
        }

      override def hasNext: Boolean = { advance(); !queue.isEmpty }
      override def next(): (String, String) = {
        advance()
        if (queue.isEmpty) throw new NoSuchElementException("walkFileIter")
        queue.poll()
      }
    }

  /** eager wrapper over [[walkFileIter]] for bounded callers (specs):
    * all lines + the terminal error, materialized. */
  private[sources] def walkFile(raw: Array[Byte],
      maxFileBytes: Long = MaxFileBytes): (Vector[String], Option[String]) = {
    val lines = Vector.newBuilder[String]
    var err: Option[String] = None
    walkFileIter(raw, maxFileBytes).foreach { case (l, e) =>
      if (e != null) err = Some(e) else lines += l
    }
    (lines.result(), err)
  }

  /** Raw line reader: every `*.jsonl` / `*.jsonl.zst` file under `path`
    * as `(line, error)` rows — one row per line; a corrupt file keeps
    * its decoded prefix and appends ONE quarantine row. */
  def readLines(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.jsonl*").load(path)
      .select(col("content")).as[Array[Byte]]
      .flatMap(raw => walkFileIter(raw))
      .toDF("line", "error")
  }

  /** the shared `(line, error)` -> schema'd-columns parse chain of
    * [[read]] and [[readStream]] — ONE definition, so batch and stream
    * cannot drift. PERMISSIVE `from_json` yields a null-FILLED struct
    * (not a null struct) on malformed input, so per-row detection
    * rides `columnNameOfCorruptRecord`. */
  private def parseLines(lines: DataFrame,
      schema: StructType): DataFrame = {
    require(!schema.fieldNames.contains("_corrupt_record"),
      "JsonlZstd: _corrupt_record is reserved")
    val parseSchema = StructType(
      schema.fields :+ StructField("_corrupt_record", StringType))
    val parsed: Column = from_json(col("line"), parseSchema,
      Map("mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> "_corrupt_record"))
    lines
      .withColumn("__p", parsed)
      .select(
        schema.fieldNames.map(f => col(s"__p.$f").as(f)).toIndexedSeq :+
          when(col("error").isNotNull, col("error"))
            .when(col("__p").isNull ||
                col("__p._corrupt_record").isNotNull,
              concat(lit("json parse failed: "),
                substring(col("line"), 1, 80)))
            .otherwise(lit(null).cast(StringType)).as("error"): _*)
  }

  /** Schema'd reader: parse each line with `from_json` against
    * `schema`; output = schema's columns + `error`. Container-level
    * corruption carries the walk's quarantine message; a line that is
    * not valid JSON for the schema gets a per-ROW parse error (the
    * PERMISSIVE posture — one bad line never poisons its file). */
  def read(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    parseLines(readLines(spark, path), schema)

  /** the relaxed output shape [[read]] produces (callers building
    * downstream schemas) */
  def outputSchema(schema: StructType): StructType =
    StructType(schema.fields.map(_.copy(nullable = true)) :+
      StructField("error", StringType, nullable = true))

  /** STREAMING ingestion of a growing corpus directory — the shape a
    * live Dolma-style pipeline lands data in (fetchers append
    * `*.jsonl.zst` shards; curation tails the directory): the
    * `binaryFile` file-stream source discovers newly landed files per
    * micro-batch and each decodes through the SAME [[walkFile]] +
    * `from_json` chain as [[read]] (batch == stream by construction —
    * pinned in JsonlZstdSpec's AvailableNow equivalence test). One file
    * = one source unit, so exactly-once ingestion rides the
    * file-source log; downstream watermarks/aggregations attach as on
    * any stream. */
  def readStream(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    import spark.implicits._
    val binaryFileSchema = StructType(Seq(
      StructField("path", org.apache.spark.sql.types.StringType),
      StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      StructField("length", org.apache.spark.sql.types.LongType),
      StructField("content", org.apache.spark.sql.types.BinaryType)))
    val lines = spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "*.jsonl*").load(path)
      .select(col("content")).as[Array[Byte]]
      .flatMap(raw => walkFileIter(raw))
      .toDF("line", "error")
    parseLines(lines, schema)
  }
}

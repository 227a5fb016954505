package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, batch-decoded per partition.
  *
  * PNG/JPEG/GIF/BMP payloads get a REAL header decode — width/height/
  * channels live in fixed header fields, parseable in pure JVM code with
  * no imaging library — and [[resampleImages]] does a REAL pixel decode +
  * bilinear resample through the JDK's own headless imaging stack
  * (`javax.imageio` + `java.awt.image`, no external codecs). Formats
  * neither path accepts fall back to `decodeImageStub`'s deterministic
  * fake dimensions. Everything around the decode is the real Spark shape
  * production uses — a `mapPartitions` over an iterator of rows, so a
  * native decoder (JNI/FFI) amortizes per-partition setup exactly as a
  * Pandas-UDF batch would, the binary column never passes through a
  * driver, and partition sizing controls decoder memory.
  */
object Multimodal {

  /** Typed metadata produced by the (stub) decoder. */
  val imageMetaSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("byte_len", LongType, nullable = false)))

  /** The ONE deterministic byte fold the stub decode AND the stub
    * feature encoder derive from (h = 31*h + byte over a fixed seed) —
    * the DuckDB oracle replays exactly this fold (PipelineQueries'
    * multimodalFoldCtes), so the two consumers must never drift apart.
    */
  private[operators] def byteFold(payload: Array[Byte]): Long = {
    var h = 1125899906842597L
    var i = 0
    while (i < payload.length) { h = 31 * h + payload(i); i += 1 }
    h
  }

  /** The ONE quarantine stub hash every perceptual pipeline emits for an
    * undecodable payload (`byteFold` remixed by one LCG step) — it
    * existed as six identical closure-local copies before r17's review;
    * the constants are oracle-adjacent (stub rows are filtered on
    * `decoded` before banding, but the specs pin stub determinism), so
    * one definition keeps the AVI/MP4/GIF/audio paths from silently
    * drifting apart. */
  private[operators] def stubHash(payload: Array[Byte]): Long = {
    val h = if (payload == null) byteFold(Array.emptyByteArray)
      else byteFold(payload)
    h * 2862933555777941757L + 3037000493L
  }

  /** STUB image decode: deterministic fake metadata from payload bytes.
    * A real implementation would parse the image header / decode frames
    * here; the signature, batching, and schema are what production uses.
    */
  def decodeImageStub(payload: Array[Byte]): Row = {
    val h = byteFold(payload)
    Row(
      (math.floorMod(h, 512L) + 32L).toInt,
      (math.floorMod(h >> 9, 512L) + 32L).toInt,
      3,
      payload.length.toLong)
  }

  // ---- byte readers and writers of the media containers (one copy,
  // shared with LossyAudio) ----

  private def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)

  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

  private def le32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)

  /** The four-character chunk/box id at `i`. */
  private def fourcc(b: Array[Byte], i: Int): String =
    new String(b, i, 4, "ISO-8859-1")

  private[operators] def putLe16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
  }

  private[operators] def putLe32(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
    b(off + 2) = (v >> 16).toByte; b(off + 3) = (v >> 24).toByte
  }

  private[operators] def putStr(b: Array[Byte], off: Int, s: String): Unit = {
    var i = 0
    while (i < s.length) { b(off + i) = s.charAt(i).toByte; i += 1 }
  }

  /** Whether `b` opens a RIFF container of form `form` ("WAVE", "AVI "). */
  private def isRiff(b: Array[Byte], form: String): Boolean =
    b.length >= 12 && fourcc(b, 0) == "RIFF" && fourcc(b, 8) == form

  /** The 12-byte RIFF header: form `form`, `size` bytes after the size
    * field. */
  private[operators] def putRiff(b: Array[Byte], form: String, size: Int): Unit = {
    putStr(b, 0, "RIFF"); putLe32(b, 4, size); putStr(b, 8, form)
  }

  private val pngSignature: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** PNG header decode: the 8-byte signature is followed by the IHDR
    * chunk (mandatory first chunk per the PNG spec), whose width/height
    * are big-endian 32-bit at byte offsets 16/20; channels derive from
    * the color type at offset 25 (0 gray, 2 RGB, 3 palette, 4 gray+alpha,
    * 6 RGBA).
    */
  private[operators] def decodePng(b: Array[Byte]): Option[Row] = {
    if (b.length < 26) return None
    var i = 0
    while (i < 8) { if (b(i) != pngSignature(i)) return None; i += 1 }
    if (!(b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')) return None
    val w = be32(b, 16)
    val h = be32(b, 20)
    val channels = (b(25) & 0xff) match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
      case _ => return None
    }
    if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue) None
    else Some(Row(w.toInt, h.toInt, channels, b.length.toLong))
  }

  /** JPEG header decode: walk the FF-prefixed marker segments (each
    * carries a big-endian length) to the first SOFn frame header, which
    * holds precision(1), height(2), width(2), components(1). Stops at
    * SOS/EOI — a frameless stream is not decodable.
    */
  private[operators] def decodeJpeg(b: Array[Byte]): Option[Row] = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    var i = 2
    while (i + 3 < b.length) {
      if ((b(i) & 0xff) != 0xff) return None
      var marker = b(i + 1) & 0xff
      while (marker == 0xff && i + 2 < b.length) { i += 1; marker = b(i + 1) & 0xff }
      // the fill-byte skip can advance i to the array tail: re-check that
      // a full marker + length field remains before indexing into it
      if (marker == 0xff || i + 3 >= b.length) return None
      if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) {
        i += 2 // standalone marker, no payload
      } else if (marker == 0xd9 || marker == 0xda) {
        return None // EOI / start-of-scan before any frame header
      } else {
        val segLen = be16(b, i + 2)
        if (segLen < 2) return None
        val isSof = marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc
        if (isSof) {
          if (i + 9 >= b.length) return None
          val h = be16(b, i + 5)
          val w = be16(b, i + 7)
          val comps = b(i + 9) & 0xff
          return if (w > 0 && h > 0) Some(Row(w, h, comps, b.length.toLong)) else None
        }
        i += 2 + segLen
      }
    }
    None
  }

  /** GIF header decode: "GIF87a"/"GIF89a" signature, then the logical
    * screen width/height as little-endian u16 at offsets 6/8. GIF pixels
    * are ALWAYS palette-indexed (the format has no other mode), so the
    * reported 3 channels are the palette-EXPANDED color channels —
    * deliberately different from PNG type 3 / low-bpp BMP, where palette
    * indexing is one storage mode among several and the metadata reports
    * storage channels (1).
    */
  private[operators] def decodeGif(b: Array[Byte]): Option[Row] = {
    if (b.length < 10) return None
    if (!(b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
        (b(4) == '7' || b(4) == '9') && b(5) == 'a')) return None
    val w = le16(b, 6)
    val h = le16(b, 8)
    if (w > 0 && h > 0) Some(Row(w, h, 3, b.length.toLong)) else None
  }

  /** BMP header decode: "BM" file header, then the DIB header selected by
    * its declared size at offset 14 — BITMAPINFOHEADER (>= 40 bytes:
    * little-endian i32 width at 18, i32 height at 22 with negative =
    * top-down, u16 bits-per-pixel at 28) or the OS/2 BITMAPCOREHEADER
    * (12 bytes: u16 width at 18, u16 height at 20, u16 bits at 24) —
    * misreading a core header through the info-header offsets would
    * fabricate multi-million-pixel dimensions that pass the sanity check.
    */
  private[operators] def decodeBmp(b: Array[Byte]): Option[Row] = {
    if (b.length < 30) return None
    if (!(b(0) == 'B' && b(1) == 'M')) return None
    val dibSize = le32(b, 14)
    val (w, h, bits) =
      if (dibSize == 12L) (le16(b, 18), le16(b, 20), le16(b, 24))
      else if (dibSize >= 40L)
        (le32(b, 18).toInt, math.abs(le32(b, 22).toInt), le16(b, 28))
      else return None
    val channels = bits match {
      // palette-indexed depths report STORAGE channels (1), matching PNG
      // color type 3; 16bpp is true color (RGB555/565) — 3 channels, not
      // "2 bytes per pixel"
      case 1 | 4 | 8 => 1; case 16 => 3; case 24 => 3; case 32 => 4
      case _ => return None
    }
    if (w > 0 && h > 0) Some(Row(w, h, channels, b.length.toLong)) else None
  }

  /** Image metadata decode: real header parse for PNG/JPEG/GIF/BMP,
    * deterministic stub for everything else.
    */
  def decodeImage(payload: Array[Byte]): Row =
    decodePng(payload).orElse(decodeJpeg(payload))
      .orElse(decodeGif(payload)).orElse(decodeBmp(payload))
      .getOrElse(decodeImageStub(payload))

  /** Typed metadata of an audio payload. */
  val audioMetaSchema: StructType = StructType(Seq(
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("bits", IntegerType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("byte_len", LongType, nullable = false)))

  /** What the one RIFF/WAVE chunk walk finds: the first `fmt ` chunk
    * that carries the 16-byte PCM fields (format tag, channels, sample
    * rate, bits per sample, and `samplesPerBlock` from the 20-byte
    * extended form or -1), the first `fact` chunk (its sample count; -1
    * when absent, -2 when present but unreadable or past the decoder
    * cap), and the first `data` chunk (offset, and its declared size
    * clipped to the bytes actually there). */
  private[operators] final case class WavChunks(tag: Int, channels: Int,
      rate: Int, bits: Int, samplesPerBlock: Int, fact: Int, dataOff: Int,
      dataLen: Int)

  /** The one RIFF/WAVE chunk walk every audio decoder reads through:
    * "RIFF....WAVE", then fourcc + little-endian size chunks, advanced
    * word-aligned in Long space (a junk declared size near 4 GB would
    * overflow an Int index negative) and stopped at the end of the
    * payload. The first chunk of each kind wins, whatever the order.
    * None for a null, short (< 44 bytes) or non-WAVE payload, or one
    * without a usable `fmt ` and a `data` chunk. */
  private[operators] def wavChunks(b: Array[Byte]): Option[WavChunks] = {
    if (b == null || b.length < 44 || !isRiff(b, "WAVE")) return None
    var fmt = -1; var fmtSize = 0L; var fact = -1
    var dataOff = -1; var dataLen = -1
    var i = 12
    while (i + 8 <= b.length) {
      val id = fourcc(b, i)
      val size = le32(b, i + 4)
      if (id == "fmt " && fmt < 0 && size >= 16 && i + 8 + 16 <= b.length) {
        fmt = i + 8; fmtSize = size
      } else if (id == "fact" && fact == -1) {
        // "present but unreadable" (declared size < 4, a value truncated
        // at EOF) or a declared-count bomb is a malformation signal, not
        // an absence: callers quarantine on -2, never derive the count
        fact =
          if (size >= 4 && i + 12 <= b.length) {
            val f = le32(b, i + 8)
            if (f >= 0 && f <= (1 << 24)) f.toInt else -2
          } else -2
      } else if (id == "data" && dataOff < 0) {
        dataOff = i + 8
        dataLen = math.min(size, (b.length - i - 8).toLong).toInt
      }
      val next = i.toLong + 8L + size + (size & 1L)
      i = if (next > b.length) b.length else next.toInt
    }
    if (fmt < 0 || dataOff < 0) None
    else Some(WavChunks(le16(b, fmt), le16(b, fmt + 2), le32(b, fmt + 4).toInt,
      le16(b, fmt + 14),
      if (fmtSize >= 20 && fmt + 20 <= b.length) le16(b, fmt + 18) else -1,
      fact, dataOff, dataLen))
  }

  /** WAV metadata: channels, sample rate and bits from the first `fmt `
    * chunk; the sample count is the first `data` chunk's size divided by
    * the frame stride (channels x bits/8). Real pure-JVM parsing through
    * [[wavChunks]]; any malformed stream returns None. */
  private[operators] def decodeWav(b: Array[Byte]): Option[Row] =
    wavChunks(b).filter(w => w.channels > 0 && w.rate > 0 && w.bits > 0)
      .map { w =>
        val stride = w.channels.toLong * (w.bits / 8).max(1)
        Row(w.channels, w.rate, w.bits, w.dataLen / stride, b.length.toLong)
      }

  /** A canonical mono 8-bit WAV with a 44-byte header (`fmt ` then
    * `data`), format `tag` at `rate` Hz, and `n` zeroed data bytes for the
    * caller to fill from offset 44: the one WAV header writer, PCM (tag
    * 1) for the corpora and the decoders' output, mu-law (tag 7) for
    * [[LossyAudio.muLawWav]]. */
  private[operators] def wav8Mono(tag: Int, rate: Int, n: Int): Array[Byte] = {
    val b = new Array[Byte](44 + n)
    putRiff(b, "WAVE", 36 + n)
    putStr(b, 12, "fmt "); putLe32(b, 16, 16)
    putLe16(b, 20, tag); putLe16(b, 22, 1) // format, mono
    putLe32(b, 24, rate); putLe32(b, 28, rate) // rate, byte rate
    putLe16(b, 32, 1); putLe16(b, 34, 8) // block align, bits
    putStr(b, 36, "data"); putLe32(b, 40, n)
    b
  }

  /** The payload shell every decode operator runs in: `(id, payload)`
    * rows, the id cast to long, mapped one partition at a time — a
    * Dataset-level `mapPartitions` keeps the operator inside one query
    * plan (no RDD round-trip, no plan break), so upstream column pruning
    * still reaches the scan. A null id (or a non-numeric one the cast
    * nulls out) would throw in the non-nullable Long decoder and fail
    * the TASK, so its row is dropped instead, per the module's
    * quarantine posture. ImageIO's temp-file cache is switched off per
    * partition: a disk write per image is pure overhead at corpus scale.
    * (java.awt.headless is NOT set: the property is read once at AWT
    * class load, so a per-partition set is too late and a racy
    * JVM-global mutation; the ImageIO + BufferedImage path is
    * headless-safe regardless.) */
  private[operators] def mapPayloads[T: Encoder](df: DataFrame, idCol: String,
      payloadCol: String)(
      f: Iterator[(Long, Array[Byte])] => Iterator[T]): Dataset[T] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("__id"), col(payloadCol))
      .filter(col("__id").isNotNull)
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        f(rows)
      }
  }

  /** The synthetic-corpus shell: `(id, family)` rows (a null family reads
    * as ""), the [[mapPayloads]] posture for the codec-synthesis stages.
    * Their parallelism is floored at the cluster default
    * ([[ScaleOps.spreadCpu]]) when the input plan carries fewer
    * partitions: a small parquet input is ONE scan task (one row group),
    * and the per-row encode is the cost — measured 1.4 s of serialized
    * FLAC encode on a 2.1 s query (StageProfile). Payloads are pure
    * per-row functions, so placement cannot change results; an input
    * that already carries ample partitions is never coalesced down to
    * the core count. */
  private[operators] def mapFamilies[T: Encoder](df: DataFrame, idCol: String,
      familyCol: String)(f: Iterator[(Long, String)] => Iterator[T]): Dataset[T] = {
    val spark = df.sparkSession
    import spark.implicits._
    ScaleOps.spreadCpu(df.select(col(idCol).cast("long").as("__id"),
        col(familyCol).cast("string"))
      .filter(col("__id").isNotNull))
      .as[(Long, String)]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        f(rows.map { case (id, family) =>
          (id, if (family == null) "" else family)
        })
      }
  }

  /** Pixel ceiling of the one decompression-bomb screen,
    * [[withinDecodeBudget]] (~64 MP ≈ 256 MB ARGB raster — generous for
    * real corpus assets, small enough that one hostile header cannot OOM
    * an executor). */
  private val MaxDecodePixels = 64L * 1000 * 1000

  /** The decompression-bomb screen: a declared pixel count a decode may
    * allocate. A few-hundred-byte payload can declare absurd dimensions
    * that make the pixel decode allocate gigabytes, so every decode
    * checks its header here first — [[PixelDecoder.read]] the payload's
    * ([[headerPixels]]), [[imageIoFrames]] each frame's. A count of 0
    * (no reader claims the header) fails too: nothing could decode it. */
  private def withinDecodeBudget(pixels: Long): Boolean =
    pixels > 0 && pixels <= MaxDecodePixels

  /** Declared pixel count of an image payload, from headers only. PNG,
    * JPEG and BMP through the hand parsers, whose header dimensions are
    * the ones a decode allocates; every other format through ImageIO's
    * own reader (`getWidth/getHeight(0)` parse headers only): TIFF, WBMP,
    * and GIF, whose logical screen says nothing of the frame size the
    * decode allocates. 0 when no installed reader claims the payload or
    * its header is malformed. */
  private[operators] def headerPixels(b: Array[Byte]): Long =
    decodePng(b).orElse(decodeJpeg(b)).orElse(decodeBmp(b))
      .map(r => r.getInt(0).toLong * r.getInt(1))
      .getOrElse {
        // the whole ImageIO read sits under NonFatal -> 0: even opening
        // the stream can throw, and an escape would fail the TASK
        try {
          val in = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(b))
          if (in == null) 0L
          else try {
            val readers = javax.imageio.ImageIO.getImageReaders(in)
            if (!readers.hasNext) 0L
            else {
              val r = readers.next()
              try {
                r.setInput(in, true, true)
                r.getWidth(0).toLong * r.getHeight(0)
              } finally r.dispose()
            }
          } finally in.close()
        } catch {
          case scala.util.control.NonFatal(_) => 0L
        }
      }

  /** The one pixel decode, one instance per partition: a payload passes
    * the decompression-bomb screen before any pixel is decoded; JPEG
    * bytes then decode through one hoisted reader (ImageIO.read's
    * registry scan per 9x8 frame dominated the AVI/MP4 walks), anything
    * else through `ImageIO.read`. None for a null, over-budget or
    * undecodable payload; a decode that throws propagates to the
    * caller's [[quarantined]] scope. The AVI/MP4 bit-identity Mp4Spec
    * pins rides on the frame decodes staying ONE implementation. */
  private final class PixelDecoder {
    private val jpegReader = javax.imageio.ImageIO
      .getImageReadersByFormatName("jpeg").next()
    def read(b: Array[Byte]): Option[java.awt.image.BufferedImage] =
      if (b == null || !withinDecodeBudget(headerPixels(b))) None
      else if (b.length >= 2 && (b(0) & 0xff) == 0xff &&
          (b(1) & 0xff) == 0xd8) {
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(b))
        try {
          jpegReader.setInput(iis, true, true)
          Option(jpegReader.read(0))
        } finally iis.close()
      } else Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(b)))
  }

  /** The one multi-frame ImageIO walk (animated GIF is the container the
    * JDK decodes natively; reader selection and per-index decode are
    * format-agnostic, so a TIFF stack walks identically): frame 0's
    * header is screened before the container is counted, then up to
    * `maxFrames` frames are read, every frame's header screened first —
    * each image descriptor carries its own dimensions and
    * `reader.read(f)` allocates at THAT size, so a 9x8 logical screen
    * can hide a 40000x40000 frame. `f` maps each decoded frame. None
    * when no reader claims the payload, it holds no frame, or any frame
    * is over budget (the payload is hostile by construction); a read
    * that throws propagates to the caller's [[quarantined]] scope. */
  private def imageIoFrames[T](b: Array[Byte], maxFrames: Int)(
      f: java.awt.image.BufferedImage => T): Option[IndexedSeq[T]] = {
    if (b == null) return None
    val in = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(b))
    if (in == null) return None
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (!readers.hasNext) None
      else {
        val reader = readers.next()
        try {
          reader.setInput(in, false, false)
          def fits(i: Int) = withinDecodeBudget(
            reader.getWidth(i).toLong * reader.getHeight(i))
          if (!fits(0)) None
          else {
            val n = math.min(reader.getNumImages(true), maxFrames)
            if (n <= 0 || !(0 until n).forall(fits)) None
            else Some((0 until n).map(i => f(reader.read(i))))
          }
        } finally reader.dispose()
      }
    } finally in.close()
  }

  /** The quarantine scope of every decode: `body`'s result, or None when
    * it throws. NonFatal only: swallowing OutOfMemoryError would keep
    * running on a poisoned heap. */
  private def quarantined[T](body: => Option[T]): Option[T] =
    try body catch { case scala.util.control.NonFatal(_) => None }

  /** Attach a binary payload column (here derived from text — in
    * production this is the raw image/audio bytes from parquet).
    */
  def withPayload(df: DataFrame, srcCol: String, payloadCol: String): DataFrame =
    df.withColumn(payloadCol, encode(col(srcCol), "UTF-8"))

  /** Batch decode: metadata struct per row through [[decodeImage]] in
    * the [[mapPayloads]] shell; a missing asset (null binary cell) is
    * routine in production corpora and gets zeroed metadata instead of
    * an NPE in the task. */
  def decodeImages(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    mapPayloads(df, idCol, payloadCol) { rows =>
      rows.map { case (id, payload) =>
        if (payload == null) (id, (0, 0, 0, 0L))
        else {
          val m = decodeImage(payload)
          (id, (m.getInt(0), m.getInt(1), m.getInt(2), m.getLong(3)))
        }
      }
    }
      .toDF("id", "meta")
      .withColumn("meta", col("meta").cast(imageMetaSchema))
  }

  /** Batch audio-metadata decode (the audio mirror of [[decodeImages]]):
    * real WAV chunk-walk parsing per row ([[decodeWav]]); non-WAV or
    * missing payloads yield zeroed metadata (`sample_rate = 0` is the
    * quarantine filter), never a task failure.
    */
  def decodeAudio(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    mapPayloads(df, idCol, payloadCol) { rows =>
      rows.map { case (id, payload) =>
        decodeWav(payload) match {
          case Some(r) => (id, (r.getInt(0), r.getInt(1), r.getInt(2),
            r.getLong(3), r.getLong(4)))
          case None => (id, (0, 0, 0, 0L,
            if (payload == null) 0L else payload.length.toLong))
        }
      }
    }
      .toDF("id", "meta")
      .withColumn("meta", col("meta").cast(audioMetaSchema))
  }

  /** Aspect-preserving resize GEOMETRY ONLY: decoded header dimensions,
    * fit-in-box scale `min(maxW/w, maxH/h, 1)` (never upscales), output
    * dims rounded half-up with a 1px floor — no pixels touched, which is
    * the right operator when only the plan (e.g. storage estimates) is
    * needed; [[resampleImages]] is the full decode-and-resample. MISSING
    * (null) payloads pass through with zeroed dims; a payload no real
    * header parser accepts carries the deterministic stub's fabricated
    * dims ([[decodeImage]] is total), so a zero-dim quarantine filter
    * catches only the null case.
    *
    * Output: `(id, src_w, src_h, out_w, out_h, scale)`.
    */
  def resizeImages(df: DataFrame, idCol: String, payloadCol: String,
      maxW: Int, maxH: Int): DataFrame = {
    require(maxW > 0 && maxH > 0, "target box must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    mapPayloads(df, idCol, payloadCol) { rows =>
      rows.map { case (id, payload) =>
        val (w, h, ow, oh, scale) = headerGeometry(payload, maxW, maxH)
        (id, w, h, ow, oh, scale)
      }
    }
      .toDF("id", "src_w", "src_h", "out_w", "out_h", "scale")
  }

  /** `(src_w, src_h, out_w, out_h, scale)` of a payload's header
    * dimensions ([[decodeImage]]) fit in the box; all zero for a null
    * payload. */
  private def headerGeometry(payload: Array[Byte], maxW: Int,
      maxH: Int): (Int, Int, Int, Int, Double) = {
    val m = if (payload == null) null else decodeImage(payload)
    val (w, h) = if (m == null) (0, 0) else (m.getInt(0), m.getInt(1))
    if (w <= 0 || h <= 0) (0, 0, 0, 0, 0.0d)
    else {
      val (ow, oh, scale) = fitBox(w, h, maxW, maxH)
      (w, h, ow, oh, scale)
    }
  }

  /** Fit-in-box geometry shared by the header-only and pixel resizers:
    * scale `min(maxW/w, maxH/h, 1)` (never upscales), output dims rounded
    * half-up with a 1px floor.
    */
  private def fitBox(w: Int, h: Int, maxW: Int, maxH: Int): (Int, Int, Double) = {
    val scale = math.min(1.0d, math.min(maxW.toDouble / w, maxH.toDouble / h))
    (math.max(1L, math.round(w * scale)).toInt,
      math.max(1L, math.round(h * scale)).toInt, scale)
  }

  /** REAL pixel resample via the JDK's headless imaging stack
    * (`javax.imageio.ImageIO` decodes PNG/JPEG/GIF/BMP/WBMP with no
    * native codecs; `Graphics2D` over a `BufferedImage` resamples with
    * bilinear interpolation): decode → fit-in-box scale → PNG re-encode.
    * Payloads the [[PixelDecoder]] screens out or cannot decode fall back
    * to the header parse / deterministic stub for GEOMETRY (same numbers
    * [[resizeImages]] reports) with a NULL `out_bytes` and
    * `resampled = false` — in production that branch is the quarantine
    * signal for undecodable assets, never a task failure. The WHOLE
    * per-row resample is the quarantine scope: a payload that decodes but
    * blows up in the raster alloc / draw / re-encode is still a
    * quarantined row.
    *
    * Output: `(id, src_w, src_h, out_w, out_h, scale, resampled,
    * out_bytes)`.
    */
  def resampleImages(df: DataFrame, idCol: String, payloadCol: String,
      maxW: Int, maxH: Int): DataFrame = {
    require(maxW > 0 && maxH > 0, "target box must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    mapPayloads(df, idCol, payloadCol) { rows =>
      val decoder = new PixelDecoder
      rows.map { case (id, payload) =>
        quarantined(decoder.read(payload).map { img =>
          val (w, h) = (img.getWidth, img.getHeight)
          val (ow, oh, scale) = fitBox(w, h, maxW, maxH)
          val outType =
            if (img.getColorModel.hasAlpha)
              java.awt.image.BufferedImage.TYPE_INT_ARGB
            else java.awt.image.BufferedImage.TYPE_INT_RGB
          val out = new java.awt.image.BufferedImage(ow, oh, outType)
          val g = out.createGraphics()
          try {
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, ow, oh, null)
          } finally g.dispose()
          val buf = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", buf)
          (id, w, h, ow, oh, scale, true, buf.toByteArray)
        }).getOrElse {
          val (w, h, ow, oh, scale) = headerGeometry(payload, maxW, maxH)
          (id, w, h, ow, oh, scale, false, null: Array[Byte])
        }
      }
    }
      .toDF("id", "src_w", "src_h", "out_w", "out_h", "scale", "resampled",
        "out_bytes")
  }

  /** Batched feature extraction plumbing: per-partition "model"
    * instantiation, rows processed in `batchSize` batches (the JVM analog
    * of a vectorized `mapInPandas` inference UDF — batch shape is what a
    * real encoder amortizes its forward pass over), one fixed-`dim`
    * float vector per row. The model is a deterministic stub (a rolling
    * hash of the payload fanned into [0,1) floats) — the schema,
    * batching, partition amortization, and null handling are the real
    * contract; swap the stub for an ONNX/JNI encoder in production.
    * Missing payloads embed to the zero vector (spec-pinned), keeping
    * downstream cosine math total.
    */
  def extractFeatures(df: DataFrame, idCol: String, payloadCol: String,
      dim: Int = 16, batchSize: Int = 64): DataFrame = {
    require(dim > 0 && batchSize > 0, "dim and batchSize must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    mapPayloads(df, idCol, payloadCol) { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        // a real encoder runs ONE forward pass over `batch` here
        batch.map { case (id, payload) =>
          val f = new Array[Float](dim)
          if (payload != null) {
            val h = byteFold(payload)
            var d = 0
            while (d < dim) {
              // per-component remix so all dims differ even for tiny inputs
              val hd = h * (2862933555777941757L + 2 * d) + 3037000493L
              f(d) = ((hd >>> 40) & 0xffffL).toFloat / 65536.0f
              d += 1
            }
          }
          (id, f.toSeq)
        }
      }
    }
      .toDF("id", "feature")
  }

  /** dHash geometry: difference hash over a `DHashW x DHashH` grayscale
    * grid — 64 horizontal-gradient sign bits, the standard perceptual
    * image fingerprint (LAION-style image dedup keys on exactly this).
    */
  private val DHashW = 9
  private val DHashH = 8

  private def md5FirstByte(md: java.security.MessageDigest, s: String): Int = {
    md.reset()
    md.digest(s.getBytes("UTF-8"))(0) & 0xff
  }

  /** Deterministic 9x8 grayscale PNG payloads from a (id, family) frame —
    * REAL PNG bytes (JDK ImageIO encoder) whose pixel values are
    * ANALYTICALLY KNOWN: pixel(x, y) at pos = y*9+x is
    * `(first md5 byte of "<family>:<pos>") % 200  +  (first md5 byte of
    * "<id>#<pos>") % 2` — a shared per-family base image plus a per-pixel
    * 0/1 per-document perturbation. Rows sharing `familyCol` therefore
    * produce NEAR-DUPLICATE images (gradient signs flip only where the
    * base's neighbor difference is within 1 — about one dHash bit per 64
    * in expectation), while different families are ~32 bits apart; and
    * because the values are md5 arithmetic, a SQL oracle can replay the
    * whole decode -> dHash -> banding pipeline over the REAL ImageIO
    * round-trip (the q_multimodal_geom stub-fold posture upgraded to
    * actual pixels — PNG gray8 is lossless, so decode returns these exact
    * samples; [[imageDHash]]'s direct-raster branch reads them back).
    *
    * One narrow `mapPartitions` map — scan-speed payload synthesis, the
    * per-partition digest/encoder amortization real asset generation
    * would use.
    */
  def syntheticGrayPngs(df: DataFrame, idCol: String,
      familyCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    mapFamilies(df, idCol, familyCol) { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { case (id, family) =>
        val img = new java.awt.image.BufferedImage(DHashW, DHashH,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var pos = 0
        var y = 0
        while (y < DHashH) {
          var x = 0
          while (x < DHashW) {
            val base = md5FirstByte(md, family + ":" + pos) % 200
            val e = md5FirstByte(md, id.toString + "#" + pos) % 2
            raster.setSample(x, y, 0, base + e)
            pos += 1
            x += 1
          }
          y += 1
        }
        val buf = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", buf)
        (id, buf.toByteArray)
      }
    }
      .toDF("id", "payload")
  }

  /** Perceptual 64-bit image hash (dHash) over REAL decoded pixels:
    * decode via ImageIO (decompression-bomb pre-screened, quarantined —
    * never a task failure), reduce to the 9x8 grayscale dHash grid, emit
    * bit `y*8+x` = `gray(x, y) > gray(x+1, y)`. A payload already at
    * 9x8 single-band (the [[syntheticGrayPngs]] shape, or pre-resized
    * thumbnails) reads raster samples DIRECTLY — no resample, no color
    * conversion, so the bits are a pure function of the stored samples
    * (the oracle-replayable path); anything else goes through the
    * bilinear gray downscale (spec-verified). Undecodable/null payloads
    * fall back to a deterministic stub hash (the [[byteFold]] remixed
    * through the [[extractFeatures]] LCG) with `decoded = false`, so
    * downstream banding stays total.
    *
    * Output `(id, phash: long, decoded: boolean)` — one narrow map; feed
    * [[Dedup.hammingCandidates]] for banded near-dup pairs.
    */
  def imageDHash(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    mapPayloads(df, idCol, payloadCol) { rows =>
      val decoder = new PixelDecoder
      rows.map { case (id, payload) =>
        quarantined(decoder.read(payload).map(frameDHash)) match {
          case Some(h) => (id, h, true)
          case None => (id, stubHash(payload), false)
        }
      }
    }
      .toDF("id", "phash", "decoded")
  }

  /** Image quality signals — the LAION-style pre-filter stage (blur,
    * brightness, contrast, clipping) over REAL decoded pixels, computed
    * at NATIVE resolution on the grayscale plane (single-band rasters
    * are read directly — the oracle-replayable path over the lossless
    * gray-PNG corpus; color images are converted to gray first; the
    * decompression-bomb screen bounds the work per payload). Every
    * signal is integer arithmetic plus at most one final double
    * division, so the SQL oracle hash-matches without tolerance:
    *
    *  - `n_px`: pixel count;
    *  - `lum_sum`: sum of gray values (mean = lum_sum / n_px, the one
    *    division, done here);
    *  - `contrast`: max - min gray value;
    *  - `lap_sq_sum`: sum over INTERIOR pixels of the squared
    *    4-neighbor Laplacian `4p - left - right - up - down` — the
    *    Laplacian-energy blur metric (low = blurry/flat, the standard
    *    sharpness screen);
    *  - `clip_frac`: fraction of pixels at the rails (<= 2 or >= 253) —
    *    over/under-exposure.
    *
    * Undecodable / bombed / null payloads emit one row with zeroed
    * signals and `decoded = false` (the [[imageDHash]] posture) — never
    * a task failure. One narrow map, no shuffle. */
  def imageQuality(df: DataFrame, idCol: String,
      payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    mapPayloads(df, idCol, payloadCol) { rows =>
      val decoder = new PixelDecoder
      rows.map { case (id, payload) =>
        quarantined(decoder.read(payload).map { img =>
          val r = grayRaster(img)
          val w = r.getWidth
          val h = r.getHeight
          var lum = 0L
          var mn = 255
          var mx = 0
          var clipped = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val p = r.getSample(x, y, 0)
              lum += p
              if (p < mn) mn = p
              if (p > mx) mx = p
              if (p <= 2 || p >= 253) clipped += 1
              x += 1
            }
            y += 1
          }
          var lap = 0L
          y = 1
          while (y < h - 1) {
            var x = 1
            while (x < w - 1) {
              val l = 4L * r.getSample(x, y, 0) -
                r.getSample(x - 1, y, 0) - r.getSample(x + 1, y, 0) -
                r.getSample(x, y - 1, 0) - r.getSample(x, y + 1, 0)
              lap += l * l
              x += 1
            }
            y += 1
          }
          val nPx = w.toLong * h
          (id, nPx, lum.toDouble / nPx, mx - mn, lap,
            clipped.toDouble / nPx, true)
        }).getOrElse((id, 0L, 0.0, 0, 0L, 0.0, false))
      }
    }
      .toDF("id", "n_px", "mean_lum", "contrast", "lap_sq_sum",
        "clip_frac", "decoded")
  }

  /** The gray plane of a decoded image: a single-band raster as stored
    * (the lossless gray corpora read back exactly), anything else drawn
    * into an 8-bit gray image first. */
  private def grayRaster(img: java.awt.image.BufferedImage): java.awt.image.Raster =
    if (img.getRaster.getNumBands == 1) img.getRaster
    else {
      val g8 = new java.awt.image.BufferedImage(img.getWidth, img.getHeight,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val g = g8.createGraphics()
      try g.drawImage(img, 0, 0, null) finally g.dispose()
      g8.getRaster
    }

  /** Audio quality signals — the curation pre-filter over REAL decoded
    * 8-bit mono PCM samples (the [[audioFingerprint]] decode contract):
    * integer arithmetic + single final divisions, SQL-replayable:
    *
    *  - `n_samples`; `smin` / `smax` (dynamic range);
    *  - `rms_sq_sum`: sum of squared deviations from the 8-bit PCM
    *    midpoint 128 — loudness energy (DC-offset-sensitive by design:
    *    a heavily offset recording IS a defect this filter should see);
    *  - `clip_frac`: samples at the rails (<= 1 or >= 254);
    *  - `silence_frac`: fraction of 16-sample frames whose peak-to-peak
    *    span is < 4 — the dead-air detector (a frame of near-constant
    *    samples carries no signal whatever its DC level).
    *
    * Non-WAV / non-8-bit-mono / empty payloads emit zeroed signals with
    * `decoded = false`. One narrow map, no shuffle. */
  def audioQuality(df: DataFrame, idCol: String,
      payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    mapPayloads(df, idCol, payloadCol) { rows =>
      def quarantine(id: Long) = (id, 0L, 0, 0, 0L, 0.0, 0.0, false)
      rows.map { case (id, payload) =>
        wavData8Mono(payload) match {
          case Some((off, len)) if len > 0 =>
            var mn = 255
            var mx = 0
            var rms = 0L
            var clipped = 0L
            var i = 0
            while (i < len) {
              val s = payload(off + i) & 0xff
              if (s < mn) mn = s
              if (s > mx) mx = s
              val dev = s - 128L
              rms += dev * dev
              if (s <= 1 || s >= 254) clipped += 1
              i += 1
            }
            val nFrames = len / AudioFrameLen
            var silent = 0L
            var f = 0
            while (f < nFrames) {
              var fmn = 255
              var fmx = 0
              var j = 0
              while (j < AudioFrameLen) {
                val s = payload(off + f * AudioFrameLen + j) & 0xff
                if (s < fmn) fmn = s
                if (s > fmx) fmx = s
                j += 1
              }
              if (fmx - fmn < 4) silent += 1
              f += 1
            }
            (id, len.toLong, mn, mx, rms,
              clipped.toDouble / len,
              if (nFrames == 0) 0.0 else silent.toDouble / nFrames,
              true)
          case _ => quarantine(id)
        }
      }
    }
      .toDF("id", "n_samples", "smin", "smax", "rms_sq_sum",
        "clip_frac", "silence_frac", "decoded")
  }

  /** Audio-fingerprint geometry: 65 frames of 16 8-bit samples → 64
    * adjacent-frame energy-delta sign bits (the Shazam/chromaprint-style
    * spectral-delta idea reduced to its deterministic time-domain core).
    */
  private val AudioFrames = 65
  private val AudioFrameLen = 16

  /** Deterministic 8-bit mono PCM WAV payloads from a (id, family)
    * frame — REAL RIFF/WAVE bytes (44-byte canonical header + data
    * chunk, parsed back by the real [[decodeWav]] chunk walk) whose
    * samples are ANALYTICALLY KNOWN md5 base+perturb arithmetic (the
    * [[syntheticGrayPngs]] idea, one digest per 16-sample block so
    * synthesis stays cheap): sample at `pos` is
    * `byte[pos%16] of md5("family:" + pos/16) % 200  +
    *  (byte[pos%16] of md5("id#" + pos/16)) % 2`. PCM is raw bytes —
    * trivially lossless — so a SQL oracle replays the whole decode →
    * fingerprint → banding pipeline over the real codec round-trip
    * (q_audio_neardup). Rows sharing `familyCol` produce near-duplicate
    * audio: frame energies differ by at most [[AudioFrameLen]] between
    * family members, so energy-delta sign bits flip only on near-tied
    * adjacent frames.
    */
  def syntheticWavs(df: DataFrame, idCol: String,
      familyCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val n = AudioFrames * AudioFrameLen
    mapFamilies(df, idCol, familyCol) { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { case (id, family) =>
        val b = wav8Mono(1, 8000, n)
        synthPcm8Into(md, family, id, b, 44, n)
        (id, b)
      }
    }
      .toDF("id", "payload")
  }

  /** The shared 16-bit view of the analytic corpus — `(u8 - 128) << 8`
    * over [[synthPcm8Into]]; ONE definition feeding [[syntheticFlacs]]
    * and the [[LossyAudio]] mu-law/ADPCM corpora so the three codec
    * paths carry the identical PCM. */
  private[operators] def synthPcm16(family: String, id: Long): Array[Int] =
    synthPcm16With(
      java.security.MessageDigest.getInstance("MD5"), family, id)

  private[operators] def synthPcm16With(md: java.security.MessageDigest,
      family: String, id: Long): Array[Int] = {
    val n = AudioFrames * AudioFrameLen
    val u8 = new Array[Byte](n)
    synthPcm8Into(md, family, id, u8, 0, n)
    val s16 = new Array[Int](n)
    var i = 0
    while (i < n) { s16(i) = ((u8(i) & 0xff) - 128) << 8; i += 1 }
    s16
  }

  /** The shared analytic PCM formula of [[syntheticWavs]] AND
    * [[syntheticFlacs]] (one definition so the two corpora cannot
    * drift): sample at `pos` is `byte[pos%16] of md5("family:" +
    * pos/16) % 200 + byte[pos%16] of md5("id#" + pos/16) % 2`, written
    * into `b[off, off+n)`. */
  private def synthPcm8Into(md: java.security.MessageDigest,
      family: String, id: Long, b: Array[Byte], off: Int, n: Int): Unit = {
    var blk = 0
    while (blk * 16 < n) {
      md.reset()
      val base = md.digest((family + ":" + blk).getBytes("UTF-8"))
      md.reset()
      val pert = md.digest((id.toString + "#" + blk).getBytes("UTF-8"))
      var j = 0
      while (j < 16 && blk * 16 + j < n) {
        val v = (base(j) & 0xff) % 200 + (pert(j) & 0xff) % 2
        b(off + blk * 16 + j) = v.toByte
        j += 1
      }
      blk += 1
    }
  }

  /** Deterministic FLAC payloads carrying the IDENTICAL analytic PCM as
    * [[syntheticWavs]] ([[synthPcm8Into]] — one shared formula), encoded
    * as the real compressed container: 16-bit mono subset FLAC
    * (`s16 = (u8 - 128) << 8`, blocksize 256, VERBATIM + FIXED frames,
    * Rice residuals, CRC-8/CRC-16/PCM-MD5 all emitted) via
    * [[Flac.encode]]. Because FLAC is lossless by spec,
    * [[flacToWav]] ∘ this == [[syntheticWavs]] byte-for-byte on the
    * sample data — which is exactly why q_audio_flac runs under
    * q_audio_spectral's UNCHANGED oracle. */
  def syntheticFlacs(df: DataFrame, idCol: String,
      familyCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    mapFamilies(df, idCol, familyCol) { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { case (id, family) =>
        val s16 = synthPcm16With(md, family, id)
        // lpcEvery = 5 (coprime to the 6-cycle VERBATIM/FIXED
        // schedule) + a per-clip schedule phase of id % 30: each
        // 5-frame clip covers 5 consecutive residues of the 30-cycle,
        // so ACROSS any 30 consecutive ids the corpus carries every
        // subset subframe type — VERBATIM, FIXED orders 0-4 AND LPC —
        // and q_audio_flac's oracle certificate covers them all end
        // to end (with lpcEvery = 3 the LPC branch shadowed VERBATIM
        // and FIXED-2 entirely: frameNo % 6 == 0 or 3 implies % 3 == 0)
        (id, Flac.encode(s16, bps = 16, sampleRate = 8000,
          blockSize = 256, lpcEvery = 5,
          schedulePhase = (math.floorMod(id, 30L)).toInt))
      }
    }
      .toDF("id", "payload")
  }

  /** Decode FLAC payloads ([[Flac.decode]] — CRC + PCM-MD5 verified)
    * into the canonical 8-bit mono WAV container every audio operator
    * consumes ([[audioQuality]], [[audioFingerprint]],
    * [[audioSpectralFingerprint]]): 16-bit samples requantize to the
    * unsigned 8-bit domain as `(s16 >> 8) + 128` (exact inverse of the
    * synthesis mapping), 8-bit as `s8 + 128`. Out-of-subset or
    * malformed payloads QUARANTINE (`decoded = false`, null payload) —
    * one narrow map, zero shuffles, the per-file-independence posture
    * of every decode path here. */
  def flacToWav(df: DataFrame, idCol: String,
      payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    mapPayloads(df, idCol, payloadCol) { rows =>
      rows.map { case (id, payload) =>
        val d = if (payload == null) None else Flac.decode(payload)
        d match {
          case Some(dec) if dec.channels == 1 &&
              (dec.bps == 8 || dec.bps == 16) =>
            val n = dec.samples.length
            val b = wav8Mono(1, dec.sampleRate, n)
            var i = 0
            while (i < n) {
              val u8 =
                if (dec.bps == 8) dec.samples(i) + 128
                else (dec.samples(i) >> 8) + 128
              b(44 + i) = u8.toByte
              i += 1
            }
            (id, b, true)
          case _ => (id, null: Array[Byte], false)
        }
      }
    }
      .toDF("id", "payload", "decoded")
  }

  /** `(data offset, data len)` of an 8-bit mono WAV — the
    * [[wavChunks]] walk, restricted to the format the fingerprints and
    * quality signals read sample-exactly. */
  private def wavData8Mono(b: Array[Byte]): Option[(Int, Int)] =
    wavChunks(b).filter(w => w.channels == 1 && w.bits == 8)
      .map(w => (w.dataOff, w.dataLen))

  /** 64-bit audio fingerprint over REAL decoded WAV samples: walk the
    * RIFF chunks (the [[decodeWav]] parser), read the first
    * 65x16 8-bit samples, emit bit `i` = `energy(frame i) >
    * energy(frame i+1)` (integer frame-energy sums — exact in any
    * engine). Non-WAV / non-8-bit-mono / too-short payloads fall back
    * to the deterministic stub hash (the [[imageDHash]] posture) with
    * `decoded = false`. Output `(id, afp: long, decoded: boolean)` —
    * one narrow map; feed [[graft.operators.Dedup.hammingCandidates]].
    */
  def audioFingerprint(df: DataFrame, idCol: String,
      payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val need = AudioFrames * AudioFrameLen
    mapPayloads(df, idCol, payloadCol) { rows =>
      rows.map { case (id, payload) =>
        wavData8Mono(payload) match {
          case Some((off, len)) if len >= need =>
            val e = new Array[Long](AudioFrames)
            var f = 0
            while (f < AudioFrames) {
              var s = 0L
              var j = 0
              while (j < AudioFrameLen) {
                s += payload(off + f * AudioFrameLen + j) & 0xff
                j += 1
              }
              e(f) = s
              f += 1
            }
            var sig = 0L
            var i = 0
            while (i < 64) {
              if (e(i) > e(i + 1)) sig |= 1L << i
              i += 1
            }
            (id, sig, true)
          case _ => (id, stubHash(payload), false)
        }
      }
    }
      .toDF("id", "afp", "decoded")
  }

  /** Spectral-fingerprint geometry: 9 frames of 32 samples, a 32-point
    * Walsh-Hadamard sequency spectrum per frame, 9 bands of 3 sequency
    * coefficients (indices 1..27 — coefficient 0 is the frame DC and is
    * EXCLUDED, which is what buys offset invariance), 8x8 Haitsma-Kalker
    * difference-of-differences bits. */
  private val SpectralFrames = 9
  private val SpectralFrameLen = 32
  private val SpectralBands = 9
  private val SpectralBandWidth = 3

  /** Sequency-ordered Walsh-Hadamard index table: `SeqToNat(s)` is the
    * NATURAL Hadamard row index (row `h`, entry `j` = `(-1)^popcount
    * (h AND j)`) whose row has exactly `s` sign changes over j = 0..31.
    * Built by COUNTING the sign changes of all 32 rows rather than by
    * the gray-code/bit-reversal formula, so the ordering cannot be
    * subtly wrong — WidthFold-style self-validation (each Hadamard row
    * has a distinct sequency, so the table is a permutation by
    * construction; SpectralFingerprintSpec pins both properties). Shared
    * with the q_audio_spectral oracle, which embeds the table as a
    * VALUES list — both engines read the same array, so they cannot
    * drift. */
  private[graft] val SeqToNat: Array[Int] = {
    val n = SpectralFrameLen
    val bySeq = new Array[Int](n)
    var h = 0
    while (h < n) {
      var changes = 0
      var prev = 0
      var j = 0
      while (j < n) {
        val sign = if (Integer.bitCount(h & j) % 2 == 0) 1 else -1
        if (j > 0 && sign != prev) changes += 1
        prev = sign
        j += 1
      }
      bySeq(changes) = h
      h += 1
    }
    bySeq
  }

  /** 64-bit SPECTRAL audio fingerprint (the Haitsma-Kalker shape) over
    * REAL decoded WAV samples — the robustness step past
    * [[audioFingerprint]]'s time-domain energy deltas, which hang off
    * raw sample sums and so inherit every re-encode's rounding noise at
    * full weight. Per 32-sample frame the 32-point Walsh-Hadamard
    * sequency spectrum is computed (a true spectral transform whose
    * coefficients are pure integer adds/subtracts — chosen over the DFT
    * because cos/sin are libm calls with NO cross-engine bit parity,
    * while the WHT replays exactly in SQL), band energies are sums of
    * squared coefficients over 9 sequency bands (DC excluded), and bit
    * `(n-1)*8 + m` = `(E(n,m) - E(n,m+1)) - (E(n-1,m) - E(n-1,m+1)) > 0`
    * — the sign of the band-energy delta's TIME derivative, the exact
    * Haitsma-Kalker bit rule. Invariances (pinned exactly in
    * SpectralFingerprintSpec): an exact gain scales every band energy by
    * g^2 and a DC offset moves only the excluded coefficient 0, so both
    * leave all 64 bits untouched; lossy re-quantization perturbs band
    * energies only at second order. Non-WAV / non-8-bit-mono / short
    * payloads fall back to the deterministic stub hash with
    * `decoded = false` (the [[audioFingerprint]] posture). Output
    * `(id, asfp: long, decoded)` — one narrow map, no shuffle; feed
    * [[graft.operators.Dedup.hammingCandidates]]. */
  def audioSpectralFingerprint(df: DataFrame, idCol: String,
      payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val need = SpectralFrames * SpectralFrameLen
    mapPayloads(df, idCol, payloadCol) { rows =>
      rows.map { case (id, payload) =>
        wavData8Mono(payload) match {
          case Some((off, len)) if len >= need =>
            val e = Array.ofDim[Long](SpectralFrames, SpectralBands)
            var f = 0
            while (f < SpectralFrames) {
              var m = 0
              while (m < SpectralBands) {
                var acc = 0L
                var c = 0
                while (c < SpectralBandWidth) {
                  val nat = SeqToNat(1 + m * SpectralBandWidth + c)
                  var w = 0L
                  var j = 0
                  while (j < SpectralFrameLen) {
                    val s = payload(off + f * SpectralFrameLen + j) & 0xff
                    w += (if (Integer.bitCount(nat & j) % 2 == 0) s else -s)
                    j += 1
                  }
                  acc += w * w
                  c += 1
                }
                e(f)(m) = acc
                m += 1
              }
              f += 1
            }
            var sig = 0L
            var n = 1
            while (n < SpectralFrames) {
              var m = 0
              while (m < SpectralBands - 1) {
                val dNow = e(n)(m) - e(n)(m + 1)
                val dPrev = e(n - 1)(m) - e(n - 1)(m + 1)
                if (dNow - dPrev > 0) sig |= 1L << ((n - 1) * 8 + m)
                m += 1
              }
              n += 1
            }
            (id, sig, true)
          case _ => (id, stubHash(payload), false)
        }
      }
    }
      .toDF("id", "asfp", "decoded")
  }

  /** dHash gradient-sign pack shared by [[imageDHash]] and the video
    * frame walk: bit `y*8+x` = `gray(x, y) > gray(x+1, y)` over the 9x8
    * grid. */
  private def dhashBitsOf(gray: (Int, Int) => Int): Long = {
    var sig = 0L
    var y = 0
    while (y < DHashH) {
      var x = 0
      while (x < DHashW - 1) {
        if (gray(x, y) > gray(x + 1, y)) sig |= 1L << (y * (DHashW - 1) + x)
        x += 1
      }
      y += 1
    }
    sig
  }

  /** Frame-index capacity of the composite `(video, frame)` key the
    * temporal pipeline banding uses: `fid = id * FrameKeyMult + frame`.
    * [[videoFrameDHash]] caps its walk at this, so the key is collision-
    * free by construction. */
  private[operators] val FrameKeyMult = 64L

  /** Deterministic 9x8 grayscale ANIMATED-GIF payloads from a
    * (id, family) frame — REAL multi-frame GIF89a containers (JDK ImageIO
    * GIF writer, `writeToSequence`) whose per-frame pixel values are
    * ANALYTICALLY KNOWN: pixel(x, y) at pos = y*9+x of frame f is
    * `(first md5 byte of "<family>:<f>:<pos>") % 200 + (first md5 byte
    * of "<id>#<f>:<pos>") % 2` — the [[syntheticGrayPngs]] contract
    * extended with a frame axis, so rows sharing `familyCol` are
    * TEMPORAL near-duplicates (every frame near-identical) while
    * different families differ everywhere. Frames are full-size indexed
    * images over an identity 256-gray palette, which the JDK GIF codec
    * round-trips losslessly (spec-verified) — so a SQL oracle can replay
    * the whole container walk -> per-frame dHash -> temporal rollup over
    * the REAL encoded bytes.
    */
  def syntheticAnimatedGifs(df: DataFrame, idCol: String,
      familyCol: String, nFrames: Int): DataFrame = {
    require(nFrames > 0 && nFrames <= FrameKeyMult,
      s"nFrames must be in [1, $FrameKeyMult], got $nFrames")
    val spark = df.sparkSession
    import spark.implicits._
    mapFamilies(df, idCol, familyCol) { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val grays = (0 until 256).map(_.toByte).toArray
      val cm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
      rows.map { case (id, family) =>
        val buf = new java.io.ByteArrayOutputStream()
        val writer = javax.imageio.ImageIO
          .getImageWritersByFormatName("gif").next()
        val ios = javax.imageio.ImageIO.createImageOutputStream(buf)
        try {
          writer.setOutput(ios)
          writer.prepareWriteSequence(null)
          var f = 0
          while (f < nFrames) {
            val img = new java.awt.image.BufferedImage(DHashW, DHashH,
              java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
            val raster = img.getRaster
            var pos = 0
            var y = 0
            while (y < DHashH) {
              var x = 0
              while (x < DHashW) {
                val base = md5FirstByte(md, family + ":" + f + ":" + pos) % 200
                val e = md5FirstByte(md, id.toString + "#" + f + ":" + pos) % 2
                raster.setSample(x, y, 0, base + e)
                pos += 1
                x += 1
              }
              y += 1
            }
            writer.writeToSequence(
              new javax.imageio.IIOImage(img, null, null), null)
            f += 1
          }
          writer.endWriteSequence()
        } finally {
          try ios.close() finally writer.dispose()
        }
        (id, buf.toByteArray)
      }
    }
      .toDF("id", "payload")
  }

  /** dHash one decoded frame: direct-raster fast path for an exact
    * 9x8 single-band image, bilinear downscale otherwise — the one dHash
    * kernel of [[imageDHash]], [[videoFrameDHash]], [[aviFrameDHash]]
    * and [[mp4FrameDHash]]. */
  private[operators] def frameDHash(
      img: java.awt.image.BufferedImage): Long =
    if (img.getWidth == DHashW && img.getHeight == DHashH &&
        img.getRaster.getNumBands == 1) {
      val r = img.getRaster
      dhashBitsOf((x, y) => r.getSample(x, y, 0))
    } else {
      val out = new java.awt.image.BufferedImage(DHashW, DHashH,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val g = out.createGraphics()
      try {
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, DHashW, DHashH, null)
      } finally g.dispose()
      val r = out.getRaster
      dhashBitsOf((x, y) => r.getSample(x, y, 0))
    }

  /** The 9 gray levels an MJPEG synthetic frame row draws from: 30
    * apart, far from the 0/255 rails — JPEG at quality 1.0 perturbs a
    * sample by at most a few counts, so the BETWEEN-level ordering that
    * dHash reads survives the lossy round-trip with a ~10x margin
    * (spec-verified across the corpus in AviSpec). */
  private[operators] val MjpegLevels: Array[Int] =
    Array(10, 40, 70, 100, 130, 160, 190, 220, 250)

  /** Per-partition MJPEG family-frame encoder shared by
    * [[syntheticMjpegAvis]] and [[syntheticMjpegMp4s]]: the SAME frame
    * JPEG bytes land in both containers (one instance per partition —
    * codec objects are hoisted because a per-frame
    * getImageWritersByFormatName registry scan dominated the encode;
    * frame bytes depend on (family, f) ONLY, so same-family rows share
    * payload content via a bounded per-family cache). */
  private final class MjpegFamilyFrames(nFrames: Int) {
    private val md = java.security.MessageDigest.getInstance("MD5")
    private val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("jpg").next()
    private val wparam = writer.getDefaultWriteParam
    wparam.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    wparam.setCompressionQuality(1.0f)
    private val hexChars = "0123456789abcdef".toCharArray
    private def md5Hex(s: String): String = {
      val d = md.digest(s.getBytes("UTF-8"))
      val c = new Array[Char](32)
      var i = 0
      while (i < 16) {
        c(2 * i) = hexChars((d(i) >> 4) & 0xf)
        c(2 * i + 1) = hexChars(d(i) & 0xf)
        i += 1
      }
      new String(c)
    }
    private def jpegBytes(family: String, f: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(DHashW, DHashH,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < DHashH) {
        // rank permutation: position x gets MjpegLevels(rank of
        // (md5 key, x) among the row's 9 keys)
        val keys = (0 until DHashW).map(x =>
          (md5Hex(family + ":" + f + ":" + y + ":" + x), x))
        val rank = keys.sorted.zipWithIndex
          .map { case ((_, x), r) => x -> r }.toMap
        var x = 0
        while (x < DHashW) {
          raster.setSample(x, y, 0, MjpegLevels(rank(x)))
          x += 1
        }
        y += 1
      }
      val buf = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(buf)
      try {
        writer.setOutput(ios)
        writer.write(null,
          new javax.imageio.IIOImage(img, null, null), wparam)
      } finally ios.close()
      buf.toByteArray
    }
    private val famCache = new java.util.HashMap[String, Array[Array[Byte]]]()
    def framesOf(family: String): Array[Array[Byte]] = {
      val hit = famCache.get(family)
      if (hit != null) hit
      else {
        if (famCache.size > 4096) famCache.clear()
        val fs = Array.tabulate(nFrames)(f => jpegBytes(family, f))
        famCache.put(family, fs)
        fs
      }
    }
  }

  /** Deterministic 9x8 grayscale MJPEG-in-AVI payloads from an
    * (id, family) frame — REAL RIFF AVI containers (hand-built 'hdrl'
    * with MJPG stream headers + 'movi' LIST of '00dc' JPEG chunks, the
    * JDK JPEG encoder at quality 1.0) whose per-frame pixel ORDERINGS
    * are analytically known: row y of frame f holds the 9 levels of
    * [[MjpegLevels]] permuted by ranking `md5("<family>:<f>:<y>:<x>")`
    * (ties broken by x; family content ONLY — same-family videos carry
    * byte-identical frame JPEGs, so their dHashes collide exactly, and
    * the rank permutation is plain SQL, so the oracle replays the
    * pipeline without replaying JPEG). Lossy-codec discipline: dHash
    * only compares adjacent samples, adjacent samples always differ by
    * >= 30 levels, and quality-1.0 JPEG error is a few counts — the
    * decoded ordering equals the analytic ordering (pinned in AviSpec).
    */
  def syntheticMjpegAvis(df: DataFrame, idCol: String,
      familyCol: String, nFrames: Int): DataFrame = {
    require(nFrames > 0 && nFrames <= FrameKeyMult,
      s"nFrames must be in [1, $FrameKeyMult], got $nFrames")
    val spark = df.sparkSession
    import spark.implicits._
    mapFamilies(df, idCol, familyCol) { rows =>
      val enc = new MjpegFamilyFrames(nFrames)
      def le32(v: Int): Array[Byte] = Array(
        (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
      def le16(v: Int): Array[Byte] =
        Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
      def cc4(s: String): Array[Byte] = s.getBytes("ISO-8859-1")
      rows.map { case (id, family) =>
        val frames = enc.framesOf(family)
        def chunk(id4: String, body: Array[Byte]): Array[Byte] = {
          val b = new java.io.ByteArrayOutputStream()
          b.write(cc4(id4)); b.write(le32(body.length)); b.write(body)
          if ((body.length & 1) == 1) b.write(0) // RIFF word padding
          b.toByteArray
        }
        def list(tpe: String, body: Array[Byte]): Array[Byte] = {
          val b = new java.io.ByteArrayOutputStream()
          b.write(cc4("LIST")); b.write(le32(body.length + 4))
          b.write(cc4(tpe)); b.write(body)
          b.toByteArray
        }
        // avih: 56-byte main header (micros/frame at 10 fps, 1 stream)
        val avih = {
          val b = new java.io.ByteArrayOutputStream()
          Seq(100000, 0, 0, 0, nFrames, 0, 1, 0, DHashW, DHashH,
            0, 0, 0, 0).foreach(v => b.write(le32(v)))
          chunk("avih", b.toByteArray)
        }
        // strh: 56-byte video stream header, MJPG handler, 10 fps
        val strh = {
          val b = new java.io.ByteArrayOutputStream()
          b.write(cc4("vids")); b.write(cc4("MJPG"))
          Seq(0, 0, 0, 1, 10, 0, nFrames, 0, -1, 0).foreach(v =>
            b.write(le32(v)))
          Seq(0, 0, DHashW, DHashH).foreach(v => b.write(le16(v)))
          chunk("strh", b.toByteArray)
        }
        // strf: BITMAPINFOHEADER with 'MJPG' compression
        val strf = {
          val b = new java.io.ByteArrayOutputStream()
          b.write(le32(40)); b.write(le32(DHashW)); b.write(le32(DHashH))
          b.write(le16(1)); b.write(le16(24)); b.write(cc4("MJPG"))
          Seq(DHashW * DHashH * 3, 0, 0, 0, 0).foreach(v =>
            b.write(le32(v)))
          chunk("strf", b.toByteArray)
        }
        val hdrl = list("hdrl", avih ++ list("strl", strh ++ strf))
        val movi = list("movi",
          frames.iterator.map(j => chunk("00dc", j))
            .foldLeft(Array.emptyByteArray)(_ ++ _))
        val body = hdrl ++ movi
        val out = new Array[Byte](12 + body.length)
        putRiff(out, "AVI ", 4 + body.length)
        System.arraycopy(body, 0, out, 12, body.length)
        (id, out)
      }
    }
      .toDF("id", "payload")
  }

  /** MJPEG-in-AVI frame walk + per-frame perceptual hash: parse the
    * RIFF container (the [[wavChunks]] chunk-walk discipline — fourcc +
    * little-endian size, word-aligned advance, every size bounds-checked
    * against the payload), locate the 'movi' LIST (recursing into the
    * 'rec ' groups interleaved AVIs wrap frames in), decode each video
    * frame chunk (`##dc`/`##db`) whose bytes are SELF-DESCRIBING (JPEG
    * for MJPEG, or a BMP-wrapped DIB) with the JDK decoders, and dHash
    * it through the shared [[frameDHash]] kernel. A raw headerless DIB
    * `##db` frame (its geometry lives in the stream's `strf`, not the
    * chunk) is not decodable standalone and quarantines the payload —
    * the declared MJPEG profile carries JPEG bytes.
    *
    * Quarantine parity with [[videoFrameDHash]]: a null, non-AVI,
    * structurally malformed, frameless, over-budget (the per-frame
    * decompression-bomb screen of the one [[PixelDecoder]]) or
    * undecodable-frame payload emits ONE stub row `(id, frame_idx = -1, stub hash, decoded = false)` —
    * never a task failure. The walk STOPS at `maxFrames` (bounded work
    * per payload regardless of container length — a million-frame AVI
    * costs `maxFrames` decodes plus a header scan).
    *
    * Output `(id, frame_idx, phash, decoded)` — schema-identical to
    * [[videoFrameDHash]], so [[videoNearDups]] consumes either.
    */
  def aviFrameDHash(df: DataFrame, idCol: String, payloadCol: String,
      maxFrames: Int): DataFrame = {
    require(maxFrames > 0 && maxFrames <= FrameKeyMult,
      s"maxFrames must be in [1, $FrameKeyMult], got $maxFrames")
    val spark = df.sparkSession
    import spark.implicits._
    mapPayloads(df, idCol, payloadCol)(frameRows(_)(aviFrames(_, maxFrames)))
      .toDF("id", "frame_idx", "phash", "decoded")
  }

  /** Up to `maxFrames` video-frame chunks `(frame_idx, offset, length)`
    * of an AVI, or None for a structurally malformed container. */
  private def aviFrames(b: Array[Byte],
      maxFrames: Int): Option[Vector[(Int, Int, Int)]] = {
    if (!isRiff(b, "AVI ")) return None
    val frames = Vector.newBuilder[(Int, Int, Int)]
    var n = 0
    def isFrameId(id4: String): Boolean =
      id4.length == 4 && id4(0).isDigit && id4(1).isDigit &&
        (id4.endsWith("dc") || id4.endsWith("db"))
    def walkMovi(from: Int, until: Int): Boolean = {
      var off = from
      while (off + 8 <= until && n < maxFrames) {
        val size = le32(b, off + 4)
        if (size < 0 || off + 8 + size > until) return false
        val id4 = fourcc(b, off)
        if (isFrameId(id4)) {
          frames += ((n, off + 8, size.toInt)); n += 1
        } else if (id4 == "LIST" && size >= 4 &&
            fourcc(b, off + 8) == "rec ") {
          // interleaved AVIs group frame+audio chunks inside
          // 'LIST rec ' children of 'movi' (the VfW read-together
          // unit) — recurse or a spec-conforming file walks empty
          if (!walkMovi(off + 12, off + 8 + size.toInt)) return false
        }
        off += 8 + size.toInt + (size.toInt & 1)
      }
      true
    }
    var off = 12
    while (off + 8 <= b.length) {
      val size = le32(b, off + 4)
      if (size < 0 || off + 8 + size > b.length) return None
      if (fourcc(b, off) == "LIST" && size >= 4 &&
          fourcc(b, off + 8) == "movi") {
        if (!walkMovi(off + 12, off + 8 + size.toInt)) return None
      }
      off += 8 + size.toInt + (size.toInt & 1)
    }
    Some(frames.result())
  }

  /** The per-frame half of the AVI and MP4 walks: `walk` lists a
    * payload's frames as `(frame_idx, offset, length)`; each frame's
    * bytes go through the one [[PixelDecoder]] (bomb screen, then
    * decode) and [[frameDHash]]. A null payload, a walk that finds no
    * frame (None: structural damage) or any frame screened out or
    * undecodable quarantines the whole payload as ONE stub row
    * `(id, -1, stub hash, false)` — never a task failure. */
  private def frameRows(rows: Iterator[(Long, Array[Byte])])(
      walk: Array[Byte] => Option[Vector[(Int, Int, Int)]])
      : Iterator[(Long, Int, Long, Boolean)] = {
    val decoder = new PixelDecoder
    rows.flatMap { case (id, payload) =>
      val hashes = Option(payload).flatMap(walk).filter(_.nonEmpty)
        .flatMap { frames =>
          quarantined {
            val hs = frames.iterator.map { case (f, o, l) =>
              decoder.read(java.util.Arrays.copyOfRange(payload, o, o + l))
                .map(img => (id, f, frameDHash(img), true))
            }.takeWhile(_.isDefined).flatten.toVector
            if (hs.length == frames.length) Some(hs) else None
          }
        }
      hashes.getOrElse(Vector((id, -1, stubHash(payload), false))).iterator
    }
  }

  /** Deterministic MJPEG-in-MP4 payloads from an (id, family) frame —
    * REAL ISO-BMFF (MP4) containers whose samples are the SAME frame
    * JPEGs as [[syntheticMjpegAvis]] (one [[MjpegFamilyFrames]] encoder,
    * so the q_video_avi rank-permutation oracle contract carries over
    * byte-for-byte). Classic moov-last layout: `ftyp` + one `mdat`
    * holding the sample bytes + a full `moov` with mvhd and one video
    * trak (tkhd / mdhd / hdlr 'vide' / vmhd / dinf(dref 'url ') / stbl).
    * The sample tables are the real thing a reader must consult — and
    * deliberately NON-TRIVIAL: samples are split into TWO chunks (3 in
    * the first, the rest in the second) so `stsc` has two entries and a
    * walk that ignores the sample-to-chunk map or assumes one chunk
    * reads garbage; `stsz` carries per-sample sizes (sample_size = 0
    * path), `stco` absolute file offsets, `stts` one run at 10 fps, and
    * the `jpeg` VisualSampleEntry in `stsd` declares the codec. */
  def syntheticMjpegMp4s(df: DataFrame, idCol: String,
      familyCol: String, nFrames: Int, syncEvery: Int = 0,
      co64: Boolean = false): DataFrame = {
    require(nFrames > 0 && nFrames <= FrameKeyMult,
      s"nFrames must be in [1, $FrameKeyMult], got $nFrames")
    require(syncEvery >= 0, s"syncEvery must be >= 0, got $syncEvery")
    val spark = df.sparkSession
    import spark.implicits._
    mapFamilies(df, idCol, familyCol) { rows =>
      val enc = new MjpegFamilyFrames(nFrames)
      def be32(v: Int): Array[Byte] = Array(
        ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      def be16(v: Int): Array[Byte] =
        Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      def cc4(s: String): Array[Byte] = s.getBytes("ISO-8859-1")
      def box(tpe: String, body: Array[Byte]*): Array[Byte] = {
        val len = 8 + body.map(_.length).sum
        val out = new java.io.ByteArrayOutputStream(len)
        out.write(be32(len)); out.write(cc4(tpe))
        body.foreach(out.write)
        out.toByteArray
      }
      def full(tpe: String, version: Int, flags: Int,
          body: Array[Byte]*): Array[Byte] =
        box(tpe, (Array((version & 0xff).toByte) ++
          Array(((flags >> 16) & 0xff).toByte, ((flags >> 8) & 0xff).toByte,
            (flags & 0xff).toByte)) +: body: _*)
      val identityMatrix = Array(0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
        0x40000000).flatMap(be32)
      rows.map { case (id, family) =>
        val frames = enc.framesOf(family)
        val ftyp = box("ftyp", cc4("isom"), be32(0x200), cc4("isom"),
          cc4("iso2"))
        // two chunks: first 3 samples, then the rest (one chunk when
        // nFrames <= 3) — the split that makes stsc non-degenerate
        val split = math.min(3, nFrames)
        val mdatBody = frames.foldLeft(Array.emptyByteArray)(_ ++ _)
        val mdatOff = ftyp.length.toLong
        val chunk1Off = (mdatOff + 8).toInt
        val chunk2Off = chunk1Off + frames.take(split).map(_.length).sum
        val mdat = box("mdat", mdatBody)
        val dur = nFrames * 100
        val mvhd = full("mvhd", 0, 0, be32(0), be32(0), be32(1000),
          be32(dur), be32(0x10000), be16(0x0100), be16(0),
          be32(0), be32(0), identityMatrix,
          Array.fill(6 * 4)(0.toByte), be32(2))
        val tkhd = full("tkhd", 0, 7, be32(0), be32(0), be32(1),
          be32(0), be32(dur), be32(0), be32(0), be16(0), be16(0),
          be16(0), be16(0), identityMatrix,
          be32(DHashW << 16), be32(DHashH << 16))
        val mdhd = full("mdhd", 0, 0, be32(0), be32(0), be32(1000),
          be32(dur), be16(0x55c4), be16(0))
        val hdlr = full("hdlr", 0, 0, be32(0), cc4("vide"),
          be32(0), be32(0), be32(0), "graft video\u0000".getBytes("US-ASCII"))
        val vmhd = full("vmhd", 0, 1, be16(0), be16(0), be16(0), be16(0))
        val dref = full("dref", 0, 0, be32(1), full("url ", 0, 1))
        val dinf = box("dinf", dref)
        // VisualSampleEntry 'jpeg': 6 reserved + data_ref_index, then
        // the 70-byte visual fields (the sample bytes stay
        // self-describing JPEG — the AVI posture)
        val sampleEntry = box("jpeg",
          Array.fill(6)(0.toByte), be16(1),
          be16(0), be16(0), be32(0), be32(0), be32(0),
          be16(DHashW), be16(DHashH), be32(0x480000), be32(0x480000),
          be32(0), be16(1), Array.fill(32)(0.toByte),
          be16(24), be16(0xffff))
        val stsd = full("stsd", 0, 0, be32(1), sampleEntry)
        val stts = full("stts", 0, 0, be32(1), be32(nFrames), be32(100))
        val stscEntries =
          if (nFrames > split)
            be32(2) ++ be32(1) ++ be32(split) ++ be32(1) ++
              be32(2) ++ be32(nFrames - split) ++ be32(1)
          else be32(1) ++ be32(1) ++ be32(nFrames) ++ be32(1)
        val stsc = full("stsc", 0, 0, stscEntries)
        val stsz = full("stsz", 0, 0, be32(0), be32(nFrames),
          frames.flatMap(f => be32(f.length)))
        // chunk-offset table: stco (32-bit) by default, co64 (64-bit
        // — the past-4 GB layout real muxers emit) on request; the
        // walk accepts either
        def be64(v: Long): Array[Byte] =
          be32((v >>> 32).toInt) ++ be32((v & 0xffffffffL).toInt)
        val offs =
          if (nFrames > split) Seq(chunk1Off.toLong, chunk2Off.toLong)
          else Seq(chunk1Off.toLong)
        val stco =
          if (co64)
            full("co64", 0, 0,
              be32(offs.length) ++ offs.flatMap(be64).toArray)
          else
            full("stco", 0, 0,
              be32(offs.length) ++ offs.flatMap(o => be32(o.toInt)).toArray)
        // stss (sync sample table): present only when syncEvery > 0 —
        // sample numbers are 1-BASED per spec; an ABSENT stss means
        // every sample is sync (ISO 14496-12 §8.6.2), which the walk
        // honors, so syncEvery = 0 keeps the container byte-identical
        // to the pre-keyframe writer
        val stbl =
          if (syncEvery > 0) {
            val syncs = (1 to nFrames by syncEvery).toArray
            val stss = full("stss", 0, 0,
              be32(syncs.length) ++ syncs.flatMap(be32))
            box("stbl", stsd, stts, stss, stsc, stsz, stco)
          } else box("stbl", stsd, stts, stsc, stsz, stco)
        val minf = box("minf", vmhd, dinf, stbl)
        val mdia = box("mdia", mdhd, hdlr, minf)
        val trak = box("trak", tkhd, mdia)
        val moov = box("moov", mvhd, trak)
        (id, ftyp ++ mdat ++ moov)
      }
    }
      .toDF("id", "payload")
  }

  /** MP4/ISO-BMFF frame walk + per-frame perceptual hash — the
    * [[aviFrameDHash]] contract over the container users actually have.
    * The walk is the REAL sample-table algorithm, not a JPEG-magic scan:
    * box-walk to `moov` > first VIDEO `trak` (mdia/hdlr handler `vide`)
    * > `mdia/minf/stbl`, parse `stsz` (per-sample sizes), `stco` (chunk
    * offsets) and `stsc` (sample-to-chunk runs), then enumerate sample
    * byte ranges chunk by chunk — consecutive samples of a chunk are
    * contiguous from its `stco` offset, and the applicable `stsc` run
    * gives each chunk's sample count. Every size/offset is bounds-
    * checked against the payload; 64-bit `size == 1` largesize boxes are
    * followed, `size == 0` (to end of file) accepted at top level.
    *
    * Quarantine parity with [[aviFrameDHash]]: null / non-BMFF /
    * structurally malformed / missing-or-inconsistent sample tables /
    * frameless / bomb-screened / undecodable payloads emit ONE stub row
    * `(id, -1, stub, decoded = false)`, never a task failure. The walk
    * STOPS at `maxFrames` emitted frames. Output `(id, frame_idx,
    * phash, decoded)` — schema-identical to [[aviFrameDHash]], so
    * [[videoNearDups]] consumes either.
    *
    * `syncOnly = true` is the KEYFRAME-SAMPLING mode — the standard
    * 100 TB cost cut for video pipelines (decode the sync samples, skip
    * the delta frames): only samples listed in the trak's `stss` box
    * are decoded and emitted (an ABSENT stss means every sample is sync
    * per ISO 14496-12 §8.6.2, so the mode degrades to the full walk);
    * `frame_idx` carries the sample's ORIGINAL index, so temporal
    * banding still aligns across containers, and a malformed stss
    * (truncated table, sample number out of range) quarantines like any
    * other structural damage. */
  def mp4FrameDHash(df: DataFrame, idCol: String, payloadCol: String,
      maxFrames: Int, syncOnly: Boolean = false): DataFrame = {
    require(maxFrames > 0 && maxFrames <= FrameKeyMult,
      s"maxFrames must be in [1, $FrameKeyMult], got $maxFrames")
    val spark = df.sparkSession
    import spark.implicits._
    // frame_idx is the sample's ORIGINAL index (== emission order when
    // every sample is emitted); keyframe rows therefore band on the true
    // temporal position
    mapPayloads(df, idCol, payloadCol)(
      frameRows(_)(mp4Frames(_, maxFrames, syncOnly)))
      .toDF("id", "frame_idx", "phash", "decoded")
  }

  /** Up to `maxFrames` emitted video samples `(sample_idx, offset,
    * length)` of the first video trak of an MP4, or None for structural
    * damage. */
  private def mp4Frames(b: Array[Byte], maxFrames: Int,
      syncOnly: Boolean): Option[Vector[(Int, Int, Int)]] = {
    // (bodyOff, bodyEnd) of each child box of [from, until); None on
    // structural damage. size==1 reads the 64-bit largesize,
    // size==0 extends to `until`.
    def children(b: Array[Byte], from: Int,
        until: Int): Option[Vector[(String, Int, Int)]] = {
      val out = Vector.newBuilder[(String, Int, Int)]
      var off = from
      while (off < until) {
        if (off + 8 > until) return None
        val size32 = be32(b, off)
        val tpe = fourcc(b, off + 4)
        var bodyOff = off + 8
        var boxEnd = 0L
        if (size32 == 1L) {
          if (off + 16 > until) return None
          val large = (be32(b, off + 8) << 32) | be32(b, off + 12)
          bodyOff = off + 16
          boxEnd = off + large
        } else if (size32 == 0L) boxEnd = until.toLong
        else boxEnd = off + size32
        if (boxEnd < bodyOff || boxEnd > until) return None
        out += ((tpe, bodyOff, boxEnd.toInt))
        off = boxEnd.toInt
      }
      Some(out.result())
    }
    def child(kids: Vector[(String, Int, Int)],
        tpe: String): Option[(Int, Int)] =
      kids.find(_._1 == tpe).map(k => (k._2, k._3))
    // sample (sampleIdx, offset, size) list from one video trak's
    // stbl. With syncOnly, only sync samples are EMITTED (stss,
    // 1-based; an ABSENT stss means every sample is sync — ISO
    // 14496-12 §8.6.2) — but every sample is still ENUMERATED,
    // because offsets within a chunk are cumulative. maxFrames caps
    // emitted frames (== enumerated when syncOnly is off).
    def samplesOf(b: Array[Byte],
        stbl: (Int, Int)): Option[Vector[(Int, Int, Int)]] = {
      val kids = children(b, stbl._1, stbl._2).getOrElse(return None)
      val (szOff, szEnd) = child(kids, "stsz").getOrElse(return None)
      val (scOff, scEnd) = child(kids, "stsc").getOrElse(return None)
      // chunk offsets: stco (32-bit) or co64 (64-bit — what real
      // muxers emit past 4 GB); stco wins when both present
      val (coOff, coEnd, coW) =
        child(kids, "stco").map { case (o, e) => (o, e, 4) }
          .orElse(child(kids, "co64").map { case (o, e) => (o, e, 8) })
          .getOrElse(return None)
      if (szEnd - szOff < 12 || scEnd - scOff < 8 || coEnd - coOff < 8)
        return None
      val fixedSize = be32(b, szOff + 4)
      val nSamples = be32(b, szOff + 8).toInt
      if (nSamples < 0) return None
      // stss: optional sync-sample table (bounds-checked; an entry
      // outside [1, nSamples] is structural damage -> quarantine)
      // a HashSet, NOT a BitSet sized by nSamples: stsz DECLARES the
      // sample count, and a hostile header claiming 2^31 samples
      // would otherwise demand a ~256 MB allocation before any entry
      // is validated (the stsz-bomb class the fuzz suite pins); the
      // set's size is bounded by nSync, which is bounds-checked
      // against the actual file bytes
      val syncSet: Option[scala.collection.mutable.HashSet[Int]] =
        if (!syncOnly) None
        else child(kids, "stss") match {
          case None => None // absent: every sample is sync
          case Some((ssOff, ssEnd)) =>
            if (ssEnd - ssOff < 8) return None
            val nSync = be32(b, ssOff + 4).toInt
            if (nSync < 0 || ssOff + 8 + 4L * nSync > ssEnd) return None
            val set = scala.collection.mutable.HashSet.empty[Int]
            var i = 0
            while (i < nSync) {
              val sn = be32(b, ssOff + 8 + 4 * i)
              if (sn < 1 || sn > nSamples) return None
              set += sn.toInt
              i += 1
            }
            Some(set)
        }
      def isSync(s0: Int): Boolean =
        syncSet.forall(_.contains(s0 + 1))
      def sizeOf(s: Int): Long =
        if (fixedSize != 0L) fixedSize
        else if (szOff + 12 + 4 * s + 4 <= szEnd)
          be32(b, szOff + 12 + 4 * s)
        else -1L
      val nChunks = be32(b, coOff + 4).toInt
      if (nChunks < 0 || coOff + 8 + coW.toLong * nChunks > coEnd)
        return None
      val nRuns = be32(b, scOff + 4).toInt
      if (nRuns < 0 || scOff + 8 + 12L * nRuns > scEnd) return None
      val runs = (0 until nRuns).map { r =>
        (be32(b, scOff + 8 + 12 * r).toInt, // first_chunk (1-based)
          be32(b, scOff + 8 + 12 * r + 4).toInt) // samples_per_chunk
      }
      if (runs.isEmpty || runs.head._1 != 1) return None
      val frames = Vector.newBuilder[(Int, Int, Int)]
      var emitted = 0
      var s = 0
      var run = 0
      var c = 1
      while (c <= nChunks && s < nSamples && emitted < maxFrames) {
        while (run + 1 < runs.length && runs(run + 1)._1 <= c) run += 1
        val spc = runs(run)._2
        if (spc <= 0) return None
        var off =
          if (coW == 4) be32(b, coOff + 8 + 4 * (c - 1))
          else (be32(b, coOff + 8 + 8 * (c - 1)) << 32) |
            be32(b, coOff + 8 + 8 * (c - 1) + 4)
        var k = 0
        while (k < spc && s < nSamples && emitted < maxFrames) {
          val len = sizeOf(s)
          if (len < 0 || off < 0 || off + len > b.length) return None
          if (isSync(s)) {
            frames += ((s, off.toInt, len.toInt))
            emitted += 1
          }
          off += len
          s += 1
          k += 1
        }
        c += 1
      }
      Some(frames.result())
    }
    // the samples of the first trak whose mdia/hdlr declares a 'vide' handler
    if (b.length < 8) return None
    val top = children(b, 0, b.length).getOrElse(return None)
    if (!top.headOption.exists(_._1 == "ftyp")) return None
    val moov = child(top, "moov").getOrElse(return None)
    val moovKids = children(b, moov._1, moov._2).getOrElse(return None)
    moovKids.filter(_._1 == "trak").foreach { trak =>
      val r = for {
        tk <- children(b, trak._2, trak._3)
        mdia <- child(tk, "mdia")
        mk <- children(b, mdia._1, mdia._2)
        hdlr <- child(mk, "hdlr")
        // body: version/flags + pre_defined + handler_type — the
        // handler fourcc sits at bodyOff + 8
        if hdlr._1 + 12 <= hdlr._2 && fourcc(b, hdlr._1 + 8) == "vide"
        minf <- child(mk, "minf")
        ik <- children(b, minf._1, minf._2)
        stbl <- child(ik, "stbl")
      } yield stbl
      r match {
        case Some(stbl) => return samplesOf(b, stbl)
        case None => // not a video trak / damaged — try the next
      }
    }
    None
  }

  /** REAL video-container frame walk + per-frame perceptual hash: open
    * the payload with the JDK's multi-frame image machinery (animated
    * GIF is the container the JDK decodes natively; the walk — reader
    * selection, `getNumImages`, per-index decode — is format-agnostic
    * ImageIO, so a TIFF stack walks identically), decode up to
    * `maxFrames` frames, dHash each through the same direct-raster /
    * bilinear-downscale branches as [[imageDHash]].
    *
    * Quarantine parity with the image path: [[imageIoFrames]] screens
    * every frame's header before its decode; an undecodable, null,
    * over-budget or frameless payload emits ONE stub row
    * `(id, frame_idx = -1, stub hash, decoded = false)` — never a task
    * failure, and the id stays observable downstream. Frames are read
    * AS STORED (no disposal-method compositing — delta-framed wild GIFs
    * hash their stored rects; the synthetic corpus writes full frames).
    *
    * Output `(id, frame_idx, phash, decoded)` — one narrow map; feed
    * [[videoNearDups]] for the temporal near-dup rollup.
    */
  def videoFrameDHash(df: DataFrame, idCol: String, payloadCol: String,
      maxFrames: Int): DataFrame = {
    require(maxFrames > 0 && maxFrames <= FrameKeyMult,
      s"maxFrames must be in [1, $FrameKeyMult], got $maxFrames")
    val spark = df.sparkSession
    import spark.implicits._
    mapPayloads(df, idCol, payloadCol) { rows =>
      rows.flatMap { case (id, payload) =>
        quarantined(imageIoFrames(payload, maxFrames)(frameDHash)) match {
          case Some(hs) => hs.iterator.zipWithIndex
            .map { case (h, f) => (id, f, h, true) }
          case None => Iterator.single((id, -1, stubHash(payload), false))
        }
      }
    }
      .toDF("id", "frame_idx", "phash", "decoded")
  }

  /** Video quality signals — the temporal-activity screen (a video whose
    * frames never change is a still image in a video container; real
    * curation drops or re-buckets them): walk the container with the
    * SAME reader/bomb discipline as [[videoFrameDHash]], read each
    * frame's gray plane, and emit per video:
    *
    *  - `n_frames` (capped at `maxFrames` — bounded work per payload);
    *  - `mean_lum`: gray mean over all read frames;
    *  - `interframe_mean_abs`: mean per-pixel absolute difference
    *    between CONSECUTIVE frames — the temporal-activity measure
    *    (0 = perfectly static);
    *  - `static_frac`: fraction of consecutive frame pairs whose total
    *    absolute difference is below one gray level per pixel — the
    *    still-video detector. A single-frame video is fully static
    *    (`static_frac = 1.0`, activity 0).
    *
    * Integer sums + single final double divisions (SQL-replayable over
    * the lossless identity-palette GIF corpus). The declared profile is
    * uniform frame geometry; a container whose frames change dimensions
    * mid-stream quarantines (dims carry no alignable pixel pairs), as
    * do null / undecodable / bombed payloads — one zeroed
    * `decoded = false` row, never a task failure. */
  def videoQuality(df: DataFrame, idCol: String, payloadCol: String,
      maxFrames: Int): DataFrame = {
    require(maxFrames > 0 && maxFrames <= FrameKeyMult,
      s"maxFrames must be in [1, $FrameKeyMult], got $maxFrames")
    val spark = df.sparkSession
    import spark.implicits._
    mapPayloads(df, idCol, payloadCol) { rows =>
      rows.map { case (id, payload) =>
        quarantined(imageIoFrames(payload, maxFrames) { img =>
          val r = grayRaster(img)
          r.getSamples(0, 0, r.getWidth, r.getHeight, 0, null: Array[Int])
        }).filter(frames => frames.forall(_.length == frames.head.length))
          .map { frames =>
            val n = frames.length
            val px = frames.head.length
            var lum = 0L
            frames.foreach(fr => fr.foreach(lum += _))
            var diff = 0L
            var staticPairs = 0L
            var f = 1
            while (f < n) {
              var d = 0L
              var i = 0
              while (i < px) {
                d += math.abs(frames(f)(i) - frames(f - 1)(i))
                i += 1
              }
              diff += d
              if (d < px) staticPairs += 1
              f += 1
            }
            val meanLum = lum.toDouble / (n.toLong * px)
            val act =
              if (n < 2) 0.0
              else diff.toDouble / ((n - 1).toLong * px)
            val staticFrac =
              if (n < 2) 1.0
              else staticPairs.toDouble / (n - 1)
            (id, n.toLong, meanLum, act, staticFrac, true)
          }.getOrElse((id, 0L, 0.0, 0.0, 0.0, false))
      }
    }
      .toDF("id", "n_frames", "mean_lum", "interframe_mean_abs",
        "static_frac", "decoded")
  }

  /** Temporal video near-dup rollup over per-frame perceptual hashes:
    * two videos are near-duplicates when at least `minFrames` of their
    * SAME-INDEX frame pairs are within `maxHamming` dHash bits. Frames
    * band through the shared [[Dedup.hammingCandidates]] pipeline on the
    * collision-free composite key `id * FrameKeyMult + frame_idx`
    * (bounded buckets, never all-pairs); cross-index matches are
    * discarded (temporal alignment is the point), and the same-video
    * case is impossible after the same-index filter (equal id + equal
    * index = equal key). One aggregate rolls frame pairs up to video
    * pairs. Output `(id_a, id_b, n_frames_matched)`.
    */
  def videoNearDups(frames: DataFrame, idCol: String, frameCol: String,
      sigCol: String, minFrames: Int, maxHamming: Int = 3,
      maxBucket: Int = 64): DataFrame = {
    require(minFrames > 0, s"minFrames must be positive, got $minFrames")
    // the 4x16-bit chunk banding in Dedup.hammingPairsFromSigs is
    // pigeonhole-complete ONLY for hamming <= 3 (4 bands, <= 3 flipped
    // bits leave one band untouched); a larger radius would silently
    // return an INCOMPLETE candidate set, so refuse it loudly
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be in [0, 3] (the 4-band pigeonhole completeness " +
        s"bound of the 64-bit banding), got $maxHamming")
    val keyed = frames
      // the composite key is collision-free ONLY over frame indexes in
      // [0, FrameKeyMult): id*64 - 1 aliases (id-1)*64 + 63, so the
      // videoFrameDHash stub rows (frame_idx = -1) — two hostile
      // payloads with equal bytes share a deterministic stub hash —
      // would otherwise band as a phantom frame-63 match of the WRONG
      // videos. Out-of-range frames are not frames: dropped here by
      // construction (a caller who forgot .filter(decoded) is safe).
      .filter(col(frameCol) >= 0 && col(frameCol) < FrameKeyMult)
      .select(
        // a negative video id would also alias under the truncating DIV
        // decompose — ids in this engine are non-negative; fail loudly
        // instead of flagging the wrong videos
        when(col(idCol) < 0, raise_error(lit(
          "videoNearDups requires non-negative video ids (the composite " +
            "(video, frame) banding key aliases under negative ids)"))
          .cast("long"))
          .otherwise(col(idCol) * FrameKeyMult + col(frameCol)).as("fid"),
        col(sigCol).as("sig"))
    Dedup.hammingCandidates(keyed, "fid", "sig", maxBucket)
      .filter(col("hamming") <= maxHamming)
      .filter(pmod(col("id_a"), lit(FrameKeyMult)) ===
        pmod(col("id_b"), lit(FrameKeyMult)))
      .select(expr(s"id_a DIV $FrameKeyMult").as("id_a"),
        expr(s"id_b DIV $FrameKeyMult").as("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_frames_matched"))
      .filter(col("n_frames_matched") >= minFrames)
  }

  /** Deterministic frame sampling plan for a (stub) video payload: every
    * `stride`-th frame index under `maxFrames` — the Spark-side shape of a
    * frame-extraction fan-out (`explode` of the frame plan). Frameless
    * rows are filtered out first: `sequence(0, -1)` is an illegal-bounds
    * runtime error, so one empty video would otherwise kill the job.
    */
  def frameSamplePlan(df: DataFrame, idCol: String, nFramesCol: String,
      stride: Int, maxFrames: Int): DataFrame = {
    // stride = 0 is a RUNTIME sequence error on the first non-empty row,
    // and maxFrames * stride must not overflow the Int literal below
    require(stride > 0 && maxFrames > 0,
      s"stride and maxFrames must be positive, got $stride / $maxFrames")
    require(maxFrames.toLong * stride <= Int.MaxValue,
      s"maxFrames * stride overflows Int: $maxFrames * $stride")
    df.filter(col(nFramesCol) > 0)
      .select(col(idCol),
        explode(sequence(lit(0),
          least(col(nFramesCol) - 1, lit(maxFrames * stride - 1)), lit(stride)))
          .as("frame_idx"))
  }

  /** Overlapping chunk plan for a (stub) audio payload: fixed-size windows
    * every `hop` samples, with the LAST window clamped to the payload
    * length — the fan-out a feature extractor (e.g. mel spectrogram)
    * consumes. Standard frame-based semantics: window starts run to the
    * last start <= nSamples - chunk, so a trailing remainder shorter than
    * one hop past that start is not emitted as its own window (a payload
    * shorter than one chunk still yields a single clamped window). Pure
    * column algebra: one explode, no UDF.
    */
  def audioChunkPlan(df: DataFrame, idCol: String, nSamplesCol: String,
      chunk: Int, hop: Int): DataFrame = {
    // hop = 0 is a runtime sequence error; a negative chunk would emit
    // windows with chunk_end < chunk_start
    require(chunk > 0 && hop > 0,
      s"chunk and hop must be positive, got $chunk / $hop")
    df.filter(col(nSamplesCol) > 0)
      .select(col(idCol), col(nSamplesCol),
        explode(sequence(lit(0),
          greatest(col(nSamplesCol) - chunk, lit(0)), lit(hop)))
          .as("chunk_start"))
      .withColumn("chunk_end",
        least(col("chunk_start") + chunk, col(nSamplesCol)))
      .drop(nSamplesCol)
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.SparkTestSession

/** Hostile-payload tables for the media decode path: every operator
  * that screens or walks a payload is run over the same hostile inputs,
  * and each output row is pinned to that operator's quarantine row (or,
  * for a WAV whose chunk layout is odd but still readable, to the row
  * the canonical layout of the same samples gives).
  *
  *  - the decompression-bomb table: headers that declare far more than
  *    the decode budget, in a format the hand parsers read (PNG, JPEG),
  *    in one only ImageIO's reader parses (TIFF), and a GIF whose small
  *    logical screen hides an oversized frame descriptor; plus AVI and
  *    MP4 containers whose frame JPEG carries an oversized SOF;
  *  - the RIFF table: chunk layouts a WAV walk must agree on (`fmt `
  *    after `data`, two `data` chunks, two `fmt ` chunks, an odd-size
  *    padded chunk, a declared size of 0xFFFFFFFF, a truncated `fmt `),
  *    each over PCM, mu-law and IMA-ADPCM WAVs, through every audio
  *    operator. The first `fmt ` and the first `data` chunk win.
  */
class HostileMediaSpec extends AnyFunSuite {
  import HostileMediaSpec.Flavour

  lazy val spark: SparkSession = SparkTestSession.get

  /** Rows as plain values: binary cells and nested structs compared by
    * content. */
  private def plain(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(plain)
    case x => x
  }

  private def rowsOf(df: DataFrame): Map[Long, Seq[Seq[Any]]] =
    df.collect().toSeq.map(r => r.toSeq.map(plain))
      .groupBy(_.head.asInstanceOf[Long])

  /** A row for a failure message: byte cells shown by length and hash. */
  private def show(v: Any): String = v match {
    case s: Seq[_] if s.nonEmpty && s.forall(_.isInstanceOf[Byte]) =>
      s"<${s.length} bytes #${s.hashCode}>"
    case s: Seq[_] => s.map(show).mkString("(", ", ", ")")
    case x => String.valueOf(x)
  }

  private def le16(v: Int): Array[Byte] =
    Array(v.toByte, (v >> 8).toByte)
  private def le32(v: Long): Array[Byte] =
    Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
  private def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")

  // ---------------- decompression bombs ----------------

  /** A real 1x1 gray PNG whose IHDR is patched to claim 65535 x 65535. */
  private def bombPng: Array[Byte] = {
    val img = new java.awt.image.BufferedImage(1, 1,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    val b = buf.toByteArray
    for (i <- Seq(18, 19, 22, 23)) b(i) = 0xff.toByte // width, height BE
    b
  }

  /** A little-endian baseline TIFF declaring 10000 x 10000 gray pixels
    * (100 MP) over a 16-byte strip: no hand parser reads TIFF, so only
    * ImageIO's header read can see the size. */
  private def bombTiff: Array[Byte] = {
    val entries = Seq( // (tag, type: 3 SHORT / 4 LONG, value)
      (256, 4, 10000L), (257, 4, 10000L), (258, 3, 8L), (259, 3, 1L),
      (262, 3, 1L), (273, 4, 0L), (277, 3, 1L), (278, 4, 10000L),
      (279, 4, 100000000L))
    val dataOff = 8 + 2 + 12 * entries.length + 4
    val ifd = entries.flatMap { case (tag, tpe, v0) =>
      val v = if (tag == 273) dataOff.toLong else v0
      le16(tag).toSeq ++ le16(tpe) ++ le32(1) ++
        (if (tpe == 3) le16(v.toInt) ++ le16(0) else le32(v))
    }
    (ascii("II") ++ le16(42) ++ le32(8) ++ le16(entries.length) ++ ifd ++
      le32(0) ++ new Array[Byte](16)).toArray
  }

  /** A two-frame 9x8 animated GIF whose FIRST image descriptor claims a
    * 65535 x 65535 frame: the logical screen still says 9 x 8. */
  private def bombGif: Array[Byte] = {
    import spark.implicits._
    val valid = Multimodal.syntheticAnimatedGifs(
      Seq((0L, "bomb family")).toDF("id", "family"), "id", "family",
      nFrames = 2).collect()(0).getAs[Array[Byte]]("payload")
    val b = valid.clone()
    val sep = b.indexOf(0x2c.toByte, 13 + 768)
    assert(sep > 0, "no image descriptor found to patch")
    for (i <- sep + 5 to sep + 8) b(i) = 0xff.toByte // width, height LE
    b
  }

  /** Offset of the first SOF0 segment of the first JPEG in `b`. */
  private def sofAt(b: Array[Byte]): Int = {
    val soi = (0 until b.length - 2).find(i =>
      (b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == 0xd8 &&
        (b(i + 2) & 0xff) == 0xff).get
    (soi until b.length - 1).find(i =>
      (b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == 0xc0).get
  }

  /** `b` with the SOF0 of its first JPEG patched to 65535 x 65535. */
  private def withBombSof(b0: Array[Byte]): Array[Byte] = {
    val b = b0.clone()
    val sof = sofAt(b)
    for (i <- sof + 5 to sof + 8) b(i) = 0xff.toByte // height, width BE
    b
  }

  /** A real 9x8 gray JPEG whose SOF0 claims 65535 x 65535. */
  private def bombJpeg: Array[Byte] = {
    val img = new java.awt.image.BufferedImage(9, 8,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", buf)
    withBombSof(buf.toByteArray)
  }

  test("bomb-screen table: every screening operator emits its quarantine " +
      "row for every over-budget header") {
    import spark.implicits._
    val inputs = Seq("png" -> bombPng, "tiff" -> bombTiff, "gif" -> bombGif,
      "jpeg" -> bombJpeg)
    val df = inputs.zipWithIndex.map { case ((_, p), i) => (i.toLong, p) }
      .toDF("id", "payload")
    val (maxW, maxH) = (4, 4)
    def stub(p: Array[Byte]) = Multimodal.stubHash(p)
    // resampleImages keeps header geometry (the decodeImage dims, a
    // deterministic stub for formats no hand parser reads), never pixels
    def geometry(id: Long, p: Array[Byte]): Seq[Any] = {
      val m = Multimodal.decodeImage(p)
      val (w, h) = (m.getInt(0), m.getInt(1))
      val scale = math.min(1.0d, math.min(maxW.toDouble / w, maxH.toDouble / h))
      Seq(id, w, h, math.max(1L, math.round(w * scale)).toInt,
        math.max(1L, math.round(h * scale)).toInt, scale, false, null)
    }
    val ops: Seq[(String, DataFrame, (Long, Array[Byte]) => Seq[Seq[Any]])] = Seq(
      ("resampleImages",
        Multimodal.resampleImages(df, "id", "payload", maxW, maxH),
        (id, p) => Seq(geometry(id, p))),
      ("imageDHash", Multimodal.imageDHash(df, "id", "payload"),
        (id, p) => Seq(Seq(id, stub(p), false))),
      ("imageQuality", Multimodal.imageQuality(df, "id", "payload"),
        (id, _) => Seq(Seq(id, 0L, 0.0, 0, 0L, 0.0, false))),
      ("videoFrameDHash",
        Multimodal.videoFrameDHash(df, "id", "payload", maxFrames = 8),
        (id, p) => Seq(Seq(id, -1, stub(p), false))),
      ("videoQuality",
        Multimodal.videoQuality(df, "id", "payload", maxFrames = 8),
        (id, _) => Seq(Seq(id, 0L, 0.0, 0.0, 0.0, false))))
    val wrong = for {
      (op, out, quarantine) <- ops
      got = rowsOf(out)
      ((name, p), i) <- inputs.zipWithIndex
      want = quarantine(i.toLong, p)
      if got.get(i.toLong) != Some(want)
    } yield s"$op($name): got ${got.get(i.toLong).map(show)}, want ${show(want)}"
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("the screen reads the size a decode allocates: a GIF's first " +
      "frame, a TIFF's IFD, a healthy image's own dimensions") {
    def written(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val buf = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, buf), fmt)
      buf.toByteArray
    }
    // the GIF's logical screen says 9 x 8; ImageIO.read would allocate
    // its first frame's 65535 x 65535
    assert(Multimodal.headerPixels(bombGif) == 65535L * 65535)
    assert(Multimodal.headerPixels(bombTiff) == 10000L * 10000)
    assert(Multimodal.headerPixels(bombPng) == 65535L * 65535)
    assert(Multimodal.headerPixels(bombJpeg) == 65535L * 65535)
    for (fmt <- Seq("png", "jpg", "bmp", "gif", "tiff"))
      assert(Multimodal.headerPixels(written(fmt, 9, 8)) == 72L, fmt)
    assert(Multimodal.headerPixels("not an image".getBytes("UTF-8")) == 0L)
  }

  test("bomb-screen table: an oversized frame SOF quarantines the AVI " +
      "and MP4 walks") {
    import spark.implicits._
    val fam = Seq((0L, "sof family")).toDF("id", "family")
    val avi = withBombSof(Multimodal.syntheticMjpegAvis(fam, "id", "family",
      nFrames = 2).collect()(0).getAs[Array[Byte]]("payload"))
    val mp4 = withBombSof(Multimodal.syntheticMjpegMp4s(fam, "id", "family",
      nFrames = 2).collect()(0).getAs[Array[Byte]]("payload"))
    for ((name, p, walk) <- Seq(
        ("aviFrameDHash", avi, Multimodal.aviFrameDHash _),
        ("mp4FrameDHash", mp4,
          Multimodal.mp4FrameDHash(_: DataFrame, _: String, _: String,
            _: Int, false)))) {
      val got = rowsOf(walk(Seq((7L, p)).toDF("id", "payload"), "id",
        "payload", 8))
      assert(got == Map(7L -> Seq(Seq(7L, -1, Multimodal.stubHash(p), false))),
        s"$name: $got")
    }
  }

  // ---------------- RIFF ----------------

  /** A chunk, word-padded; a `declared` size replaces the real one and
    * drops the pad, so the body runs to the end of the payload. */
  private def chunk(id: String, body: Array[Byte],
      declared: Long = -1L): Array[Byte] =
    if (declared >= 0) ascii(id) ++ le32(declared) ++ body
    else ascii(id) ++ le32(body.length.toLong) ++ body ++
      (if (body.length % 2 == 1) Array[Byte](0) else Array.empty[Byte])

  private def riffWave(chunks: Array[Byte]*): Array[Byte] = {
    val body = ascii("WAVE") ++ chunks.flatten
    ascii("RIFF") ++ le32(body.length.toLong) ++ body
  }

  private def fmtBody(tag: Int, channels: Int, bits: Int, align: Int,
      ext: Array[Byte] = Array.empty): Array[Byte] =
    le16(tag) ++ le16(channels) ++ le32(8000) ++ le32(8000L * align) ++
      le16(align) ++ le16(bits) ++ ext

  private val flavours = Seq(
    Flavour("pcm8", fmtBody(1, 1, 8, 1), _ => Nil,
      s => s.map(v => ((v >> 8) + 128).toByte)),
    Flavour("mulaw", fmtBody(7, 1, 8, 1), _ => Nil,
      s => s.map(v => LossyAudio.muLawEncode(v).toByte)),
    Flavour("ima", fmtBody(0x11, 1, 4, LossyAudio.BlockAlign,
        le16(2) ++ le16(LossyAudio.SamplesPerBlock)),
      n => Seq(chunk("fact", le32(n.toLong))),
      s => LossyAudio.imaEncode(s)))

  /** Deterministic 16-bit samples, a different signal per seed. */
  private def samples(n: Int, seed: Int): Array[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(n) { i =>
      val d = md.digest(s"$seed:${i / 16}".getBytes("UTF-8"))
      ((d(i % 16) & 0xff) - 128) << 8
    }
  }

  test("RIFF table: the audio operators agree on one chunk walk; the " +
      "first fmt and the first data chunk win") {
    import spark.implicits._
    val a = samples(1040, 1) // enough for both fingerprints
    val b = samples(1104, 2)
    // (case, flavour) -> (hostile payload, canonical payload of the same
    // samples or None when the case must quarantine)
    val table = for (f <- flavours) yield {
      val data = chunk("data", f.data(a))
      val canonical = riffWave(Seq(chunk("fmt ", f.fmt)) ++ f.extra(a.length) :+
        data: _*)
      val stereo = f.fmt.clone(); stereo(2) = 2
      val fmtChunk = chunk("fmt ", f.fmt)
      Seq(
        "fmt after data" -> (riffWave(f.extra(a.length) ++ Seq(data,
          fmtChunk): _*), Some(canonical)),
        "two data chunks" -> (riffWave(f.extra(a.length) ++ Seq(data,
          chunk("data", f.data(b)), fmtChunk): _*), Some(canonical)),
        "two fmt chunks" -> (riffWave(Seq(fmtChunk, chunk("fmt ", stereo)) ++
          f.extra(a.length) :+ data: _*), Some(canonical)),
        "odd padded chunk" -> (riffWave(Seq(fmtChunk,
          chunk("LIST", ascii("odd"))) ++ f.extra(a.length) :+ data: _*),
          Some(canonical)),
        "data size 0xFFFFFFFF" -> (riffWave(Seq(fmtChunk) ++
          f.extra(a.length) :+ chunk("data", f.data(a), 0xffffffffL): _*),
          Some(canonical)),
        "truncated fmt" -> (riffWave(f.extra(a.length) ++ Seq(data,
          fmtChunk.take(14)): _*), None)
      ).map { case (c, v) => (s"${f.name}: $c", v) }
    }
    val cases = table.flatten
    // hostile payloads at ids 0..n-1, canonical ones at 1000 + i
    val df = (cases.zipWithIndex.map { case ((_, (h, _)), i) => (i.toLong, h) } ++
      cases.zipWithIndex.collect { case ((_, (_, Some(c))), i) =>
        (1000L + i, c) }).toDF("id", "payload")
    val zeroMeta = (p: Array[Byte]) => Seq(0, 0, 0, 0L, p.length.toLong)
    // per operator: its output and its quarantine row (sans id)
    val ops: Seq[(String, DataFrame, Array[Byte] => Seq[Any])] = Seq(
      ("decodeAudio", Multimodal.decodeAudio(df, "id", "payload"),
        p => Seq(zeroMeta(p))),
      ("audioQuality", Multimodal.audioQuality(df, "id", "payload"),
        _ => Seq(0L, 0, 0, 0L, 0.0, 0.0, false)),
      ("audioFingerprint", Multimodal.audioFingerprint(df, "id", "payload"),
        p => Seq(Multimodal.stubHash(p), false)),
      ("audioSpectralFingerprint",
        Multimodal.audioSpectralFingerprint(df, "id", "payload"),
        p => Seq(Multimodal.stubHash(p), false)),
      ("muLawToWav", LossyAudio.muLawToWav(df, "id", "payload"),
        _ => Seq(null, false)),
      ("imaToWav", LossyAudio.imaToWav(df, "id", "payload"),
        _ => Seq(null, false)))
    val wrong = for {
      (op, out, quarantine) <- ops
      got = rowsOf(out).map { case (k, v) => k -> v.head.tail }
      ((name, (h, ref)), i) <- cases.zipWithIndex
      want = ref match {
        case None => quarantine(h)
        case Some(c) =>
          val r = got(1000L + i)
          if (r == quarantine(c)) quarantine(h)
          else if (op == "decodeAudio") // byte_len is the payload's own
            Seq(r.head.asInstanceOf[Seq[Any]].init :+ h.length.toLong)
          else r
      }
      if got(i.toLong) != want
    } yield s"$op($name): got ${show(got(i.toLong))}, want ${show(want)}"
    assert(wrong.isEmpty, wrong.mkString("\n"))
    // the table exercises decoding, not just quarantine
    val decoded = rowsOf(Multimodal.audioQuality(df, "id", "payload"))
      .count(_._2.head.last == true)
    assert(decoded >= 10, s"only $decoded payloads decoded")
  }
}

object HostileMediaSpec {

  /** One WAV flavour: its `fmt ` body, any chunks that sit between
    * `fmt ` and `data` in the canonical layout, and its data encoder. */
  private final case class Flavour(name: String, fmt: Array[Byte],
      extra: Int => Seq[Array[Byte]], data: Array[Int] => Array[Byte])
}

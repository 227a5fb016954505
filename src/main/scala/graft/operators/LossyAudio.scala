package graft.operators

import org.apache.spark.sql.DataFrame

import Multimodal.{mapFamilies, mapPayloads, putLe16, putLe32, putRiff, putStr,
  wav8Mono, wavChunks}

/** LOSSY audio codecs with exact-arithmetic contracts: G.711 mu-law
  * (WAV format tag 7) and IMA/DVI ADPCM (WAV format tag 0x11) — the
  * r18-verdict "lossy audio" item. MP3/Opus were considered and
  * rejected for THIS environment: a faithful MPEG-audio synthesis
  * filterbank needs the ISO 11172-3 window table, which is a
  * numerically-designed filter with no closed form — it cannot be
  * rederived offline, and shipping an approximated window would decode
  * real-world files incorrectly while CLAIMING the format. Mu-law and
  * IMA ADPCM are real, widely-shipped lossy formats (telephony WAVs,
  * game/voice assets, archival dumps) whose entire arithmetic is
  * derivable from the public formulas, so the codecs here are
  * bit-exact implementations — and that exactness buys a STRONGER
  * oracle than the rank-permutation contract: the DuckDB replay runs
  * the full lossy round-trip (per-sample segment/mantissa arithmetic
  * for mu-law; the predictor/step-index state recursion for ADPCM) and
  * hash-compares the downstream fingerprints.
  *
  * Both decoders follow the established media posture: one narrow map
  * per payload, zero shuffles, bounds-checked walks, malformed input
  * QUARANTINES (`decoded = false`) — never throws, never fabricates
  * samples.
  *
  * OPUS FEASIBILITY (the r19-verdict scouting ask — the MP3 rationale
  * does not transfer automatically, so the question was scoped before
  * closing the perceptual-codec item): unlike MP3, RFC 6716 is fully
  * self-contained — the CELT MDCT window IS analytic (§4.3.1's
  * `sin(pi/2 * sin^2(...))` form), the range coder is specified to the
  * bit, and the PVQ codebooks are algorithmic, so no non-derivable
  * table blocks a decoder in principle. What blocks it HERE is
  * surface, not derivability: a conformant decode path needs the range
  * decoder, the SILK side (LPC + LTP synthesis, its own layered
  * bitstream) OR at minimum CELT-only mode (band allocation tables,
  * PVQ de-quantization, anti-collapse, post-filter), plus the Ogg/WebM
  * container walk — the reference implementation is tens of thousands
  * of lines, and RFC 6716's own conformance bar is a test-vector
  * suite this offline environment cannot fetch. A from-scratch decoder
  * certified only by self-round-trip would be exactly the
  * "claiming the format without evidence" failure the MP3 rejection
  * avoided. DECISION: rejected for this engine — not on derivability
  * (Opus is derivable) but on unverifiable conformance within this
  * environment; the lossy-audio surface stays mu-law + ADPCM, whose
  * round-trips ARE the conformance evidence (hash-certified end to
  * end in DuckDB).
  */
object LossyAudio {

  // =================================================================
  // G.711 mu-law — per-sample companding (stateless)
  // =================================================================

  private val MuBias = 132 // 0x84
  private val MuClip = 32635

  /** Encode one 16-bit sample to the 8-bit mu-law code (CCITT G.711:
    * sign + 3-bit segment + 4-bit mantissa, ones-complemented). */
  def muLawEncode(s: Int): Int = {
    val sign = if (s < 0) 0x80 else 0
    val a0 = math.min(math.abs(s), MuClip) + MuBias
    var e = 0
    while (e < 7 && a0 >= (256 << e)) e += 1
    val m = (a0 >> (e + 3)) & 0x0f
    (~(sign | (e << 4) | m)) & 0xff
  }

  /** Decode one mu-law byte back to the 16-bit sample (the exact
    * quantization-midpoint inverse). */
  def muLawDecode(u0: Int): Int = {
    val u = (~u0) & 0xff
    val e = (u >> 4) & 0x07
    val m = u & 0x0f
    val mag = (((m << 3) + MuBias) << e) - MuBias
    if ((u & 0x80) != 0) -mag else mag
  }

  // =================================================================
  // IMA / DVI ADPCM — 4-bit predictive coding (stateful)
  // =================================================================

  /** the 89-entry IMA step table (IMA ADPCM reference algorithm) */
  val ImaStep: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)

  /** index adjustment per 3-bit code magnitude (sign bit excluded) */
  val ImaIndex: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** samples per mono block at the 256-byte block align used here:
    * 1 header sample + (256 - 4) * 2 nibbles */
  val SamplesPerBlock: Int = 505
  val BlockAlign: Int = 256

  private def clampS16(v: Int): Int =
    if (v > 32767) 32767 else if (v < -32768) -32768 else v

  /** One IMA step from `(pred, idx)` consuming sample `s`: returns
    * `(nibble, pred', idx')`. The decoder's reconstruction IS `pred'`,
    * so encode-state replay and decode agree by construction. */
  def imaStep(pred: Int, idx: Int, s: Int): (Int, Int, Int) = {
    val step = ImaStep(idx)
    val diff = s - pred
    val sign = if (diff < 0) 8 else 0
    var d = math.abs(diff)
    var code = 0
    if (d >= step) { code |= 4; d -= step }
    if (d >= (step >> 1)) { code |= 2; d -= (step >> 1) }
    if (d >= (step >> 2)) { code |= 1 }
    val dq = (step >> 3) +
      (if ((code & 4) != 0) step else 0) +
      (if ((code & 2) != 0) step >> 1 else 0) +
      (if ((code & 1) != 0) step >> 2 else 0)
    val p2 = clampS16(if (sign != 0) pred - dq else pred + dq)
    val i2 = math.max(0, math.min(88, idx + ImaIndex(code)))
    (sign | code, p2, i2)
  }

  /** Decoder-side reconstruction from a nibble (the IMA reference
    * decode — mirrors [[imaStep]]'s update exactly). */
  def imaDecodeStep(pred: Int, idx: Int, nibble: Int): (Int, Int) = {
    val step = ImaStep(idx)
    val code = nibble & 7
    val dq = (step >> 3) +
      (if ((code & 4) != 0) step else 0) +
      (if ((code & 2) != 0) step >> 1 else 0) +
      (if ((code & 1) != 0) step >> 2 else 0)
    val p2 = clampS16(if ((nibble & 8) != 0) pred - dq else pred + dq)
    val i2 = math.max(0, math.min(88, idx + ImaIndex(code)))
    (p2, i2)
  }

  /** Encode mono 16-bit samples as IMA ADPCM WAV data blocks
    * ([[BlockAlign]]-byte mono blocks: header = predictor s16 LE +
    * step index u8 + reserved 0, then nibbles low-first). The first
    * sample of each block is carried VERBATIM in the header (the
    * format's own losslessness point); the step index carries across
    * blocks (block 0 starts at 0). */
  def imaEncode(samples: Array[Int]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(1024)
    var idx = 0
    var off = 0
    while (off < samples.length) {
      val n = math.min(SamplesPerBlock, samples.length - off)
      var pred = samples(off)
      out.write(pred & 0xff); out.write((pred >> 8) & 0xff)
      out.write(idx); out.write(0)
      var k = 1
      var lo = -1
      while (k < n) {
        val (nib, p2, i2) = imaStep(pred, idx, samples(off + k))
        pred = p2; idx = i2
        if (lo < 0) lo = nib
        else { out.write(lo | (nib << 4)); lo = -1 }
        k += 1
      }
      if (lo >= 0) out.write(lo)
      off += n
    }
    out.toByteArray
  }

  /** Decode IMA ADPCM data blocks back to mono 16-bit samples.
    * `total`: declared sample count (bounded by what the bytes can
    * actually carry — never sized by declaration alone). Returns None
    * on structurally impossible input. */
  def imaDecode(data: Array[Byte], total: Int): Option[Array[Int]] = {
    if (total < 0 || total > (1 << 24)) return None
    val out = new Array[Int](total)
    var got = 0
    var p = 0
    while (got < total) {
      if (p + 4 > data.length) return None
      val pred0 = ((data(p) & 0xff) | ((data(p + 1) & 0xff) << 8)).toShort.toInt
      val idx0 = data(p + 2) & 0xff
      if (idx0 > 88) return None
      p += 4
      var pred = pred0
      var idx = idx0
      out(got) = pred; got += 1
      val n = math.min(SamplesPerBlock - 1, total - got)
      val bytes = (n + 1) / 2
      if (p + bytes > data.length) return None
      var k = 0
      while (k < n) {
        val b = data(p + (k >> 1)) & 0xff
        val nib = if ((k & 1) == 0) b & 0x0f else (b >> 4) & 0x0f
        val (p2, i2) = imaDecodeStep(pred, idx, nib)
        pred = p2; idx = i2
        out(got) = pred; got += 1
        k += 1
      }
      // blocks are BlockAlign-sized except a final partial one
      p += math.max(bytes, if (got < total) BlockAlign - 4 else bytes)
    }
    Some(out)
  }

  // =================================================================
  // WAV containers (tags 7 and 0x11) + canonical-WAV bridge
  // =================================================================

  /** mono mu-law WAV (format tag 7, 8 bits/sample) */
  def muLawWav(samples: Array[Int], sampleRate: Int = 8000): Array[Byte] = {
    val n = samples.length
    val b = wav8Mono(7, sampleRate, n)
    var i = 0
    while (i < n) { b(44 + i) = muLawEncode(samples(i)).toByte; i += 1 }
    b
  }

  /** mono IMA-ADPCM WAV (format tag 0x11, 4 bits/sample, fmt carries
    * the cbSize=2 wSamplesPerBlock extension and a `fact` chunk with
    * the true sample count — the standard layout) */
  def imaWav(samples: Array[Int], sampleRate: Int = 8000): Array[Byte] = {
    val data = imaEncode(samples)
    val n = data.length
    val b = new Array[Byte](12 + 8 + 20 + 8 + 4 + 8 + n)
    putRiff(b, "WAVE", b.length - 8)
    putStr(b, 12, "fmt "); putLe32(b, 16, 20)
    putLe16(b, 20, 0x11); putLe16(b, 22, 1)
    putLe32(b, 24, sampleRate)
    putLe32(b, 28, sampleRate * BlockAlign / SamplesPerBlock) // avg bytes/s
    putLe16(b, 32, BlockAlign); putLe16(b, 34, 4)
    putLe16(b, 36, 2); putLe16(b, 38, SamplesPerBlock)
    putStr(b, 40, "fact"); putLe32(b, 44, 4)
    putLe32(b, 48, samples.length)
    putStr(b, 52, "data"); putLe32(b, 56, n)
    System.arraycopy(data, 0, b, 60, n)
    b
  }

  /** canonical 8-bit mono WAV from 16-bit samples — the
    * [[Multimodal.flacToWav]] requantization `(s16 >> 8) + 128` */
  private def canonicalWav(s16: Array[Int]): Array[Byte] = {
    val n = s16.length
    val b = wav8Mono(1, 8000, n)
    var i = 0
    while (i < n) { b(44 + i) = ((s16(i) >> 8) + 128).toByte; i += 1 }
    b
  }

  /** Decode a mu-law WAV payload to the canonical 8-bit mono WAV every
    * audio operator consumes. Wrong tag / stereo / truncation / bad
    * bits QUARANTINE. */
  def muLawToWav(df: DataFrame, idCol: String,
      payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    mapPayloads(df, idCol, payloadCol) { rows =>
      rows.map { case (id, payload) =>
        wavChunks(payload) match {
          case Some(w) if w.tag == 7 && w.channels == 1 && w.bits == 8 &&
              w.dataLen > 0 =>
            val s16 = new Array[Int](w.dataLen)
            var i = 0
            while (i < w.dataLen) {
              s16(i) = muLawDecode(payload(w.dataOff + i) & 0xff); i += 1
            }
            (id, canonicalWav(s16), true)
          case _ => (id, null: Array[Byte], false)
        }
      }
    }
      .toDF("id", "payload", "decoded")
  }

  /** Decode an IMA-ADPCM WAV payload to the canonical 8-bit mono WAV.
    * Sample count = min(fact, what the data bytes can carry) — a
    * declared-count bomb cannot allocate past the real bytes. Wrong
    * tag / stereo / bad block geometry / bad step index QUARANTINE. */
  def imaToWav(df: DataFrame, idCol: String,
      payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    mapPayloads(df, idCol, payloadCol) { rows =>
      rows.map { case (id, payload) =>
        wavChunks(payload) match {
          case Some(w) if w.tag == 0x11 && w.channels == 1 && w.bits == 4 &&
              w.dataLen > 4 && w.samplesPerBlock == SamplesPerBlock &&
              w.fact >= -1 =>
            // fact is OPTIONAL in practice for tag-0x11 writers: when
            // absent (-1) derive the count from the block structure —
            // full blocks carry SamplesPerBlock; a final partial block
            // of rem >= 4 bytes carries 1 + (rem-4)*2 nibble samples; a
            // sub-header tail is padding. A PRESENT-but-insane fact
            // (-2, a declared-count bomb) still quarantines above.
            val len = w.dataLen
            val blocks = (len + BlockAlign - 1) / BlockAlign
            val carry = blocks * SamplesPerBlock
            val total =
              if (w.fact >= 0) math.min(w.fact, carry)
              else {
                val rem = len % BlockAlign
                (len / BlockAlign) * SamplesPerBlock +
                  (if (rem >= 4) 1 + (rem - 4) * 2 else 0)
              }
            val data = java.util.Arrays.copyOfRange(
              payload, w.dataOff, w.dataOff + len)
            imaDecode(data, total) match {
              case Some(s16) => (id, canonicalWav(s16), true)
              case None => (id, null: Array[Byte], false)
            }
          case _ => (id, null: Array[Byte], false)
        }
      }
    }
      .toDF("id", "payload", "decoded")
  }

  /** The analytic corpus as REAL mu-law telephony WAVs — the
    * [[Multimodal.syntheticFlacs]] posture over the SAME shared PCM
    * formula, through the lossy 16-bit path `(u8 - 128) << 8`. */
  def syntheticMuLawWavs(df: DataFrame, idCol: String,
      familyCol: String): DataFrame =
    synthetic16(df, idCol, familyCol)(muLawWav(_))

  /** The analytic corpus as REAL IMA-ADPCM WAVs. */
  def syntheticImaWavs(df: DataFrame, idCol: String,
      familyCol: String): DataFrame =
    synthetic16(df, idCol, familyCol)(imaWav(_))

  private def synthetic16(df: DataFrame, idCol: String,
      familyCol: String)(enc: Array[Int] => Array[Byte]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    mapFamilies(df, idCol, familyCol) { rows =>
      rows.map { case (id, family) =>
        (id, enc(Multimodal.synthPcm16(family, id)))
      }
    }
      .toDF("id", "payload")
  }
}

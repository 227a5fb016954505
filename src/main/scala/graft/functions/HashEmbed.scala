package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{coalesce, typedLit}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, StringType}

/** Native one-pass signed-feature-hashing embedding: token array in,
  * unit-norm `array<float>` of width `dim` out — the whole-row kernel
  * under [[graft.operators.TextAnalysis.hashEmbed]].
  *
  * Replaces the relational formulation (explode → (doc, idx)-keyed
  * partial-agg shuffle → doc-keyed map-assembly shuffle → normalize →
  * left-join back for tokenless docs) with ONE narrow map: at 100 TB
  * that deletes two corpus-wide shuffles, the join, and the exploded
  * per-token intermediate entirely — embedding runs at scan speed and
  * fuses into whole-stage codegen with the downstream LSH banding.
  *
  * Bit-compatibility contract (spec-pinned against the retained
  * relational reference): per-dimension accumulators sum ±1.0 doubles —
  * integral, hence exact in ANY order, matching the shuffle's partial
  * aggregation; the L2 norm is the same ascending-index double fold as
  * [[DotProduct]] (which `Similarity.normalized` uses); hashes call the
  * same `XXH64` kernels as Spark's `xxhash64` (string folded onto seed
  * 42; the sign bit chains literal int 7 on top, exactly
  * `xxhash64(tok, 7)`; `pmod(h, 2)` is the low bit in two's
  * complement). Division and the final float cast are the same double
  * ops — outputs are byte-identical to the old plan's.
  *
  * Empty/null-element contract, matching the relational formulation's
  * `filter(tok != "")` + left-join: empty-string and null tokens are
  * skipped; an empty token array yields the all-zero vector. A null
  * ARRAY yields null per the standard null-intolerant contract — the
  * Column wrapper coalesces null token arrays (null text) to empty
  * first, so hashEmbed callers still always get a vector.
  */
/** The md5 hash the oracle-replayable embedding mode uses: one md5 per
  * feature, its first/second 4 bytes packed big-endian into the high/low
  * 32 bits of one long — EXACTLY the two hex halves DuckDB slices with
  * `substring(md5(t), 1, 8)` / `(t, 9, 8)`, so slot `(h >>> 32) % dim`
  * and sign `h & 1` replay as plain SQL arithmetic. The digest instance
  * is thread-local (MessageDigest is stateful and not thread-safe;
  * per-call getInstance would allocate per feature).
  */
object Md5Hash {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  def hash64(t: org.apache.spark.unsafe.types.UTF8String): Long = {
    val d = md.get(); d.reset()
    val out = d.digest(t.getBytes)
    var hi = 0L; var lo = 0L; var i = 0
    while (i < 4) {
      hi = (hi << 8) | (out(i) & 0xffL)
      lo = (lo << 8) | (out(i + 4) & 0xffL)
      i += 1
    }
    (hi << 32) | lo
  }

  /** Same packing over a byte-buffer segment (the shingle-join buffers
    * of [[ShingleHashes]]-style kernels hash `buf[0, len)` without
    * materializing a string per shingle). */
  def hash64Bytes(buf: Array[Byte], len: Int): Long =
    hash64Bytes(buf, 0, len)

  /** [[hash64Bytes]] over `buf[off, off + len)` — the n-gram windows of
    * [[HashEmbedVector]]'s fused mode are byte ranges of one joined
    * buffer. */
  def hash64Bytes(buf: Array[Byte], off: Int, len: Int): Long = {
    val d = md.get(); d.reset()
    d.update(buf, off, len)
    val out = d.digest()
    var hi = 0L; var lo = 0L; var i = 0
    while (i < 4) {
      hi = (hi << 8) | (out(i) & 0xffL)
      lo = (lo << 8) | (out(i + 4) & 0xffL)
      i += 1
    }
    (hi << 32) | lo
  }
}

case class HashEmbedVector(child: Expression, dim: Int,
    md5Mode: Boolean = false, n: Int = 1)
    extends UnaryExpression {

  require(dim > 0, s"dim must be positive, got $dim")
  require(n >= 1, s"n must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> input, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HashEmbedVector.compute(input.asInstanceOf[ArrayData], dim, n, md5Mode)

  // one call into the compiled kernel for both modes: the loops stay
  // JIT-hot however often Spark recompiles the stage around them
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.functions.HashEmbedVector.compute(" +
        s"$in, $dim, $n, $md5Mode);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_hash_embed"
}

object HashEmbedVector {
  /** Column-level entry point: `tokens` must be `array<string>`. Null
    * token arrays (null/absent text) coalesce to empty, so the result
    * is always a vector — the all-zero one for tokenless documents.
    */
  def hashEmbed(tokens: Column, dim: Int): Column =
    Bridge.column(HashEmbedVector(
      Bridge.expression(coalesce(tokens, typedLit(Seq.empty[String]))), dim))

  /** md5-mode kernel: same one-pass shape, [[Md5Hash]] slot/sign — the
    * hash DuckDB replays (see TextAnalysis.hashEmbedMd5).
    */
  def hashEmbedMd5(tokens: Column, dim: Int): Column =
    Bridge.column(HashEmbedVector(
      Bridge.expression(coalesce(tokens, typedLit(Seq.empty[String]))), dim,
      md5Mode = true))

  /** FUSED n-gram mode (r21): `tokens` is the TOKEN array; the kernel
    * enumerates the space-joined n-token windows itself over one shared
    * joined-byte buffer. Replaces `wordNgrams(text, n)` feeding the
    * unigram kernel: that formulation built every n-gram string through
    * `zip_with`/`concat` — CodegenFallback higher-order lambdas that
    * re-evaluated the tokenization once per expression reference
    // (measured: six `split(trim(lower(text)))` instances in the
    // projection) and allocated an n-gram UTF8String per window.
    * Byte-identical by construction: an n-gram's bytes ARE the byte
    * range of the joined buffer (same single-space separator concat
    * builds), and both hash kernels consume raw bytes.
    */
  def hashEmbedNgrams(tokens: Column, dim: Int, n: Int,
      md5Mode: Boolean): Column =
    Bridge.column(HashEmbedVector(
      Bridge.expression(coalesce(tokens, typedLit(Seq.empty[String]))), dim,
      md5Mode = md5Mode, n = n))

  /** L2-normalize and pack: the ascending-index double fold, then one
    * float cast per slot. */
  private[functions] def normPack(acc: Array[Double], dim: Int): UnsafeArrayData = {
    var ss = 0.0
    var i = 0
    while (i < dim) { ss += acc(i) * acc(i); i += 1 }
    val nrm = math.sqrt(ss)
    val out = new Array[Float](dim)
    if (nrm != 0.0) {
      i = 0
      while (i < dim) { out(i) = (acc(i) / nrm).toFloat; i += 1 }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** The embedding of one token array: [[evalNgram]] for n >= 2, else
    * one signed hash per non-empty token. Interpreted eval and generated
    * code both call it. */
  def compute(arr: ArrayData, dim: Int, n: Int,
      md5Mode: Boolean): UnsafeArrayData =
    if (n > 1) evalNgram(arr, dim, n, md5Mode)
    else {
      val acc = new Array[Double](dim)
      val num = arr.numElements()
      var i = 0
      while (i < num) {
        if (!arr.isNullAt(i)) {
          val t = arr.getUTF8String(i)
          if (t.numBytes() > 0) {
            if (md5Mode) {
              val h = Md5Hash.hash64(t)
              acc(((h >>> 32) % dim).toInt) +=
                (if ((h & 1L) == 0L) 1.0 else -1.0)
            } else {
              val h1 = XXH64.hashUTF8String(t, 42L)
              val idx = (((h1 % dim) + dim) % dim).toInt
              acc(idx) += (if ((XXH64.hashInt(7, h1) & 1L) == 0L) 1.0 else -1.0)
            }
          }
        }
        i += 1
      }
      normPack(acc, dim)
    }

  /** The fused n-gram accumulation (n >= 2). Window semantics replicate
    * `wordNgrams(text, n)` + the unigram kernel exactly:
    *  - fewer than n tokens -> no windows -> the all-zero vector;
    *  - a window containing a NULL token is skipped (concat null
    *    propagation made the n-gram null, which the kernel skipped);
    *  - empty tokens participate (concat kept them; an n >= 2 window is
    *    never the empty feature because it carries n-1 separators).
    */
  private def evalNgram(arr: ArrayData, dim: Int, n: Int,
      md5Mode: Boolean): UnsafeArrayData = {
    import org.apache.spark.unsafe.Platform
    val num = arr.numElements()
    val acc = new Array[Double](dim)
    if (num >= n) {
      // join all tokens with single spaces into ONE buffer; window w's
      // bytes are buf[starts(w), ends(w + n - 1))
      val starts = new Array[Int](num)
      val ends = new Array[Int](num)
      val badPrefix = new Array[Int](num + 1)
      var total = 0
      var i = 0
      while (i < num) {
        starts(i) = total
        val isNull = arr.isNullAt(i)
        badPrefix(i + 1) = badPrefix(i) + (if (isNull) 1 else 0)
        if (!isNull) total += arr.getUTF8String(i).numBytes()
        ends(i) = total
        total += 1 // separator slot (one past the last token too)
        i += 1
      }
      val buf = new Array[Byte](total)
      i = 0
      while (i < num) {
        if (badPrefix(i + 1) == badPrefix(i)) {
          arr.getUTF8String(i)
            .writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + starts(i))
        }
        buf(ends(i)) = ' '
        i += 1
      }
      var w = 0
      val last = num - n
      while (w <= last) {
        if (badPrefix(w + n) == badPrefix(w)) {
          val s = starts(w)
          val len = ends(w + n - 1) - s
          if (md5Mode) {
            val h = Md5Hash.hash64Bytes(buf, s, len)
            acc(((h >>> 32) % dim).toInt) +=
              (if ((h & 1L) == 0L) 1.0 else -1.0)
          } else {
            val h1 = XXH64.hashUnsafeBytes(buf,
              Platform.BYTE_ARRAY_OFFSET + s, len, 42L)
            val idx = (((h1 % dim) + dim) % dim).toInt
            acc(idx) += (if ((XXH64.hashInt(7, h1) & 1L) == 0L) 1.0 else -1.0)
          }
        }
        w += 1
      }
    }
    normPack(acc, dim)
  }
}

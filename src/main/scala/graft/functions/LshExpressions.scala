package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Native LSH signature kernels. Each replicates the exact bit-level
  * semantics of the SQL formulation it replaces (seeded `xxhash64`
  * accumulation, primitive double folds), so signatures — and therefore
  * candidate sets and query outputs — are unchanged; only the evaluation
  * strategy differs.
  *
  * Every kernel is one compiled method, `compute` on its companion
  * object: interpreted eval calls it, and generated code is that one call
  * (plus the referenced matrices and a null flag). The loop is therefore
  * compiled once by the JIT and stays hot however often Spark recompiles
  * the whole-stage class around it.
  */

/** MinHash signature: for each of `numHashes` seeds i, the minimum over
  * the shingle array of `xxhash64(shingle, i)`. Bit-identical to
  * `array_min(transform(sh, s -> xxhash64(s, i)))` per index — Spark's
  * xxhash64 accumulates `hashInt(i, hashUTF8String(s, 42))` — but
  * computed in ONE pass: each shingle's string hash is computed once and
  * the per-seed finisher is a single `hashInt`, instead of re-hashing the
  * string `numHashes` times. For 32 hashes over ~50 shingles that is 50
  * string hashes per row instead of 1,600.
  *
  * An empty input array yields Long.MaxValue minima (the SQL formulation
  * never produces one: `Dedup.shingles` emits at least one element).
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    MinHashSignature.compute(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.functions.MinHashSignature.compute($in, $numHashes);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_minhash"
}

object MinHashSignature {
  /** The `numHashes` minima of one shingle array. */
  def compute(arr: ArrayData, numHashes: Int): UnsafeArrayData = {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var j = 0
    val n = arr.numElements()
    while (j < n) {
      // null elements are skipped (treated as absent from the shingle
      // set), matching SortedIntersectCount's null handling
      if (!arr.isNullAt(j)) {
        val base = XXH64.hashUTF8String(arr.getUTF8String(j), 42L)
        var i = 0
        while (i < numHashes) {
          val h = XXH64.hashInt(i, base)
          if (h < mins(i)) mins(i) = h
          i += 1
        }
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }
}

/** MinHash signature from PRE-HASHED shingles (`array<long>` of
  * `xxhash64(shingle)` values — Spark's default-seed 42 string hash is
  * exactly the `base` of [[MinHashSignature]]): for each seed i the
  * minimum over the array of `hashInt(i, base)`. Produces bit-identical
  * signatures to [[MinHashSignature]] on the corresponding strings, but
  * lets the pipeline carry 8-byte hashes instead of shingle strings —
  * the verify join then shuffles long arrays, not text.
  */
case class MinHashFromHashes(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<long>, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    MinHashFromHashes.compute(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.functions.MinHashFromHashes.compute($in, $numHashes);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_minhash_from_hashes"
}

object MinHashFromHashes {
  /** The `numHashes` minima of one array of pre-hashed shingles. */
  def compute(arr: ArrayData, numHashes: Int): UnsafeArrayData = {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var j = 0
    val n = arr.numElements()
    while (j < n) {
      // null elements are skipped (treated as absent from the shingle
      // set) — the SQL-registered form accepts containsNull arrays, and
      // reading a null slot as hash value 0 would silently skew minima
      if (!arr.isNullAt(j)) {
        val base = arr.getLong(j)
        var i = 0
        while (i < numHashes) {
          val h = XXH64.hashInt(i, base)
          if (h < mins(i)) mins(i) = h
          i += 1
        }
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }
}

/** Intersection size of two SORTED `array<long>` columns: a single
  * O(n+m) merge pass over the unsafe arrays — no per-row hash-set build,
  * no boxing (`array_intersect` allocates and hashes per invocation).
  * CONTRACT: inputs must be sorted ascending and duplicate-free (e.g.
  * `sort_array(array_distinct(...))`, as the prepared shingle-hash
  * arrays are by construction) — an unsorted input silently undercounts,
  * exactly like any merge-join fed unsorted runs. Null ELEMENTS are
  * skipped (treated as absent); a null array yields null. The
  * exact-Jaccard verify over candidate pairs is the hot consumer.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<long>, got ${l.sql}, ${r.sql}")
    }

  override def dataType: DataType = IntegerType

  override def nullSafeEval(l: Any, r: Any): Any =
    SortedIntersectCount.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.SortedIntersectCount.compute($l, $r);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_sorted_intersect_count"
}

object SortedIntersectCount {
  /** The merge-pass intersection size of two sorted arrays. */
  def compute(a: ArrayData, b: ArrayData): Int = {
    val (na, nb) = (a.numElements(), b.numElements())
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      if (a.isNullAt(i)) i += 1
      else if (b.isNullAt(j)) j += 1
      else {
        val x = a.getLong(i); val y = b.getLong(j)
        if (x == y) { c += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
    }
    c
  }
}

/** 64-bit SimHash from an `array<long>` of token hashes: bit b of the
  * result is set when the sum over tokens of (+1/-1 for bit b of the
  * token hash) is positive. Bit-identical to the 64-fold SQL aggregate
  * formulation, evaluated as one primitive pass over the array.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<long>, got ${t.sql}")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.functions.SimHash64.compute($in);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_simhash"
}

object SimHash64 {
  /** The 64-bit SimHash of one array of token hashes. */
  def compute(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    var j = 0
    val n = arr.numElements()
    while (j < n) {
      // null token hashes cast no votes (skipped, not treated as 0)
      if (!arr.isNullAt(j)) {
        val h = arr.getLong(j)
        var b = 0
        while (b < 64) {
          votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      j += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }
}

/** Random-hyperplane LSH bucket codes for one embedding: the signs of the
  * vector's dot products with `planes` (row-major, `tables * planesPerTable`
  * rows of `dim` coefficients), packed per table into a base-2 code —
  * code(t) = sum over p in table t of 2^(remaining) * (dot(planes(p), v) > 0).
  * One primitive pass over the vector per plane, no per-plane array
  * allocation or boxing (the `transform`/`zip_with`/`aggregate`
  * formulation it replaces allocated a zipped array per plane per row and
  * boxed every element).
  *
  * Exact parity with that SQL formulation's null semantics: a vector whose
  * length differs from `dim`, or containing a null element, zips a null
  * into every plane's product, nulling every dot — all bits 0, so every
  * table code is 0 (the row lands in bucket 0 of every table).
  */
case class HyperplaneBuckets(child: Expression,
    flatPlanes: Array[Double], nPlanes: Int, planesPerTable: Int)
    extends UnaryExpression {

  // flatPlanes is a row-major nPlanes x dim matrix held as a FLAT ARRAY
  // deliberately: Catalyst re-hashes and re-compares every expression's
  // constructor args on each of the many tree transforms a multi-stage
  // plan goes through, and a nested IndexedSeq of plane coefficients is
  // deep-hashed every time — O(nPlanes*dim) per touch, measured at
  // multiple SECONDS of pure planning overhead for a 32x256 matrix.
  // Arrays hash/compare by identity: O(1) per touch, and the same
  // instance flows through every copy of this node.
  require(nPlanes > 0 && nPlanes % planesPerTable == 0,
    s"planes ($nPlanes) must be a multiple of planesPerTable ($planesPerTable)")
  require(flatPlanes.length % nPlanes == 0,
    s"flat matrix (${flatPlanes.length}) not divisible by nPlanes ($nPlanes)")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> or array<double>, got ${t.sql}")
  }

  // lazy: touching child.dataType at construction time throws on a
  // not-yet-resolved child (the analyzer copies this node via
  // withNewChildInternal before resolution completes)
  @transient private lazy val childIsFloat = DotProduct.isFloat(child.dataType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HyperplaneBuckets.compute(input.asInstanceOf[ArrayData], childIsFloat,
      flatPlanes, nPlanes, planesPerTable)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val planesRef = ctx.addReferenceObj("graftPlanes", flatPlanes, "double[]")
      s"${ev.value} = graft.functions.HyperplaneBuckets.compute(" +
        s"$in, $childIsFloat, $planesRef, $nPlanes, $planesPerTable);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_hyperplane_buckets"
}

object HyperplaneBuckets {
  /** The table codes of one vector `v` (read as floats or doubles by
    * `isFloat`) against the row-major `nPlanes x dim` matrix `planes`. */
  def compute(v: ArrayData, isFloat: Boolean, planes: Array[Double],
      nPlanes: Int, planesPerTable: Int): UnsafeArrayData = {
    val dim = planes.length / nPlanes
    val codes = new Array[Long](nPlanes / planesPerTable)
    if (v.numElements() == dim && !DotProduct.anyNull(v, dim)) {
      val vec = DotProduct.doubles(v, isFloat)
      var p = 0
      while (p < nPlanes) {
        var s = 0.0d
        var j = 0
        val off = p * dim
        while (j < dim) { s += planes(off + j) * vec(j); j += 1 }
        val t = p / planesPerTable
        codes(t) = codes(t) * 2 + (if (s > 0) 1L else 0L)
        p += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }
}

/** Product-quantization encoder: for each of the `m` subspaces, the id of
  * the L2-nearest codeword (ties to the lowest id). One primitive pass —
  * the `least(struct(distance, cid))`-over-`zip_with` SQL formulation it
  * replaces allocates a zipped array per (subspace, codeword) per row.
  * `codebooks(s)(c)` = codeword c of subspace s; every codeword has
  * dim/m components.
  *
  * Requires a clean fixed-dim vector: a row whose vector length differs
  * from the codebooks' total dim, or containing a null element, encodes
  * to NULL (explicit, instead of the SQL formulation's null-padded
  * distance arithmetic silently resolving to codeword 0).
  */
case class PqEncode(child: Expression,
    codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Double]]])
    extends UnaryExpression {

  private val m = codebooks.length
  private val dsub = codebooks.head.head.length
  private val ksub = codebooks.map(_.length).max
  require(codebooks.forall(cb => cb.nonEmpty && cb.forall(_.length == dsub)),
    "ragged codebooks")

  // flattened [s][c][j] -> s * ksub * dsub + c * dsub + j; subspaces may
  // have FEWER than ksub codewords (k-means dedupes tiny spaces): pad
  // with +inf distance by tracking per-subspace counts
  @transient private lazy val counts: Array[Int] = codebooks.map(_.length).toArray
  @transient private lazy val flat: Array[Double] = {
    val a = new Array[Double](m * ksub * dsub)
    for (s <- 0 until m; c <- 0 until codebooks(s).length; j <- 0 until dsub)
      a(s * ksub * dsub + c * dsub + j) = codebooks(s)(c)(j)
    a
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> or array<double>, got ${t.sql}")
  }

  @transient private lazy val childIsFloat = DotProduct.isFloat(child.dataType)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    PqEncode.compute(input.asInstanceOf[ArrayData], childIsFloat, flat,
      counts, dsub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val cbRef = ctx.addReferenceObj("graftPqCodebooks", flat, "double[]")
      val cntRef = ctx.addReferenceObj("graftPqCounts", counts, "int[]")
      s"""
         |${ev.value} = graft.functions.PqEncode.compute(
         |  $in, $childIsFloat, $cbRef, $cntRef, $dsub);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_pq_encode"
}

object PqEncode {
  /** The codeword ids of one vector `v` (read as floats or doubles by
    * `isFloat`): `codebooks` is the flattened `[s][c][j]` matrix, padded
    * to the largest subspace, and `counts(s)` the codewords subspace `s`
    * really has. Null when `v` is not `m * dsub` wide or holds a null. */
  def compute(v: ArrayData, isFloat: Boolean, codebooks: Array[Double],
      counts: Array[Int], dsub: Int): UnsafeArrayData = {
    val m = counts.length
    val ksub = codebooks.length / (m * dsub)
    val dim = m * dsub
    if (v.numElements() != dim || DotProduct.anyNull(v, dim)) return null
    val vec = DotProduct.doubles(v, isFloat)
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < counts(s)) {
        var d = 0.0d
        var j = 0
        val off = s * ksub * dsub + c * dsub
        while (j < dsub) {
          val diff = vec(s * dsub + j) - codebooks(off + j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }
}

/** Nearest-centroid (IVF cell) assignment: the id of the centroid with the
  * greatest cosine similarity to the vector, computed as the argmax of
  * dot(vec, unit(centroid)) — the row vector's own norm is a positive
  * constant across centroids and cannot change the argmax, so the
  * centroid rows are unit-normalized ONCE at construction and each row
  * pays k·dim multiply-adds in one primitive pass.
  *
  * This replaces the `greatest(struct(cosine, cid) × k)` column formula,
  * whose expression tree (k × dim array literals, k dot products + 2k
  * norms) made janino compile a multi-second method for EVERY stage that
  * evaluated the cell column — the plan-compile time, not the arithmetic,
  * dominated the IVF and semantic-dedup pipelines.
  *
  * Parity with that formulation: a vector of the wrong length or with a
  * null element gets a NULL cell (null scores there, null greatest here);
  * an exact score tie goes to the larger centroid id (struct comparison
  * order). A zero vector scores 0 against every centroid and likewise
  * lands in the last cell (NaN-cosines all compare equal under
  * `greatest`'s NaN-as-largest ordering). A vector containing NaN is
  * DEGENERATE here — every dot product is NaN, so no cell is meaningful —
  * and gets a NULL cell like the null-element case (this deliberately
  * diverges from `greatest`'s NaN-as-largest accident, which silently
  * assigned such vectors to the last cell).
  */
case class NearestCentroid(child: Expression,
    flatCentroids: Array[Double], k: Int)
    extends UnaryExpression {

  // flatCentroids = RAW row-major k x dim matrix as a FLAT ARRAY — same
  // rationale as [[HyperplaneBuckets]]: Catalyst deep-hashes nested-Seq
  // constructor args on every tree transform (O(k*dim) per touch,
  // seconds of planning at a production cell count); arrays hash by
  // identity.
  require(k > 0, "need at least one centroid")
  require(flatCentroids.length % k == 0 && flatCentroids.length > 0,
    s"flat matrix (${flatCentroids.length}) not divisible by k ($k)")
  private val dim = flatCentroids.length / k

  // unit-normalized row-major copy (zero-norm rows stay zero: dot = 0)
  @transient private lazy val flat: Array[Double] = {
    val a = new Array[Double](k * dim)
    var c = 0
    while (c < k) {
      var n2 = 0.0d
      var j = 0
      while (j < dim) { val x = flatCentroids(c * dim + j); n2 += x * x; j += 1 }
      val inv = if (n2 == 0.0d) 0.0d else 1.0d / math.sqrt(n2)
      j = 0
      while (j < dim) { a(c * dim + j) = flatCentroids(c * dim + j) * inv; j += 1 }
      c += 1
    }
    a
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> or array<double>, got ${t.sql}")
  }

  @transient private lazy val childIsFloat = DotProduct.isFloat(child.dataType)

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val c = NearestCentroid.compute(input.asInstanceOf[ArrayData],
      childIsFloat, flat, k)
    if (c < 0) null else c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val centsRef = ctx.addReferenceObj("graftCentroids", flat, "double[]")
      s"""
         |${ev.value} = graft.functions.NearestCentroid.compute(
         |  $in, $childIsFloat, $centsRef, $k);
         |${ev.isNull} = ${ev.value} < 0;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_nearest_centroid"
}

object NearestCentroid {
  /** The cell of one vector `v` (read as floats or doubles by `isFloat`)
    * among the `k` unit-normalized row-major centroids `unit`, or -1 (a
    * NULL cell) when `v` is not `dim` wide or holds a null or a NaN. */
  def compute(v: ArrayData, isFloat: Boolean, unit: Array[Double],
      k: Int): Int = {
    val dim = unit.length / k
    if (v.numElements() != dim || DotProduct.anyNull(v, dim)) return -1
    val vec = DotProduct.doubles(v, isFloat)
    var i = 0
    while (i < dim) { if (vec(i).isNaN) return -1; i += 1 }
    var best = 0
    var bestS = Double.NegativeInfinity
    var c = 0
    while (c < k) {
      var s = 0.0d
      val off = c * dim
      var j = 0
      while (j < dim) { s += unit(off + j) * vec(j); j += 1 }
      if (s >= bestS) { bestS = s; best = c }
      c += 1
    }
    best
  }
}

object LshExpressions {
  def nearestCentroid(vec: Column, centroids: Seq[Seq[Double]]): Column = {
    val dims = centroids.map(_.length).distinct
    require(dims.length == 1,
      s"all centroids must share the vector dimensionality, got $dims")
    Bridge.column(NearestCentroid(Bridge.expression(vec),
      centroids.flatten.toArray, centroids.length))
  }

  def minhashSignature(sh: Column, numHashes: Int): Column =
    Bridge.column(MinHashSignature(Bridge.expression(sh), numHashes))

  def minhashFromHashes(hashes: Column, numHashes: Int): Column =
    Bridge.column(MinHashFromHashes(Bridge.expression(hashes), numHashes))

  def sortedIntersectCount(a: Column, b: Column): Column =
    Bridge.column(SortedIntersectCount(Bridge.expression(a), Bridge.expression(b)))

  def simhash64(tokenHashes: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(tokenHashes)))

  def hyperplaneBuckets(vec: Column, planes: Seq[Seq[Double]],
      planesPerTable: Int): Column =
    Bridge.column(HyperplaneBuckets(Bridge.expression(vec),
      planes.flatten.toArray, planes.length, planesPerTable))

  def pqEncode(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    Bridge.column(PqEncode(Bridge.expression(vec),
      codebooks.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq))

  /** Deterministic random-hyperplane matrix: `nPlanes` rows of `dim`
    * standard-normal coefficients from a fixed-seed JDK RNG (a specified
    * algorithm — identical across JVMs, runs, and cluster sizes). Shared
    * by the cosine near-dup pipeline and LSH top-k so an index built by
    * one is probeable by the other.
    */
  def planeMatrix(dim: Int, nPlanes: Int,
      seed: Long): IndexedSeq[IndexedSeq[Double]] = {
    val rnd = new scala.util.Random(seed)
    IndexedSeq.fill(nPlanes)(IndexedSeq.fill(dim)(rnd.nextGaussian()))
  }

  /** Driver-side bucket codes of one vector against `planes` — the exact
    * packing [[HyperplaneBuckets]] computes per row (for probing: the
    * query's codes are computed here, the corpus's by the kernel).
    */
  def bucketCodesOf(v: Seq[Double], planes: IndexedSeq[IndexedSeq[Double]],
      planesPerTable: Int): IndexedSeq[Long] =
    (0 until planes.length / planesPerTable).map { t =>
      (0 until planesPerTable).foldLeft(0L) { (acc, p) =>
        val plane = planes(t * planesPerTable + p)
        var s = 0.0d
        var i = 0
        while (i < plane.length && i < v.length) { s += plane(i) * v(i); i += 1 }
        val bit = if (v.length == plane.length && s > 0) 1L else 0L
        acc * 2 + bit
      }
    }
}

package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.core.SparkTestSession

/** Every graft vector and hash kernel against a driver-side reference,
  * through generated code and through interpreted eval
  * ([[CodegenModes]]): both must equal the reference bit for bit, on
  * clean rows and on the degenerate ones (null array, wrong width, null
  * element, NaN, zero vector, empty and null tokens). [[DotProductSpec]]
  * covers the dot product the same way.
  */
class KernelCodegenParitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get

  private val dim = 8

  /** One input row: vectors hold boxed elements (a null is a null
    * element), a null field is a null array. */
  private case class In(id: Long, vf: Seq[Any], vd: Seq[Any],
      toks: Seq[String], ha: Seq[Any], hb: Seq[Any])

  private val inputs: Seq[In] = {
    val rnd = new scala.util.Random(20261020)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "", "zeta", "eta")
    def hashes() = Seq.fill(rnd.nextInt(12))((rnd.nextInt(40) - 20).toLong)
      .distinct.sorted
    val clean = (0 until 40).map { i =>
      In(i.toLong, Seq.fill(dim)(rnd.nextGaussian().toFloat),
        Seq.fill(dim)(rnd.nextGaussian()),
        Seq.fill(rnd.nextInt(10))(vocab(rnd.nextInt(vocab.length))),
        hashes(), hashes())
    }
    val f = Seq.fill(dim)(0.5f)
    val d = Seq.fill(dim)(0.25)
    clean ++ Seq(
      In(40, null, null, null, null, null),
      In(41, Seq.fill(dim - 1)(1.0f), Seq.fill(dim + 1)(1.0), Seq(),
        Seq(), Seq(1L)),
      In(42, f.updated(3, null), d.updated(5, null), Seq(null, "", "alpha"),
        Seq(null, 3L, 7L), Seq(3L, null, 7L)),
      In(43, f.updated(1, Float.NaN), d.updated(2, Double.NaN),
        Seq("alpha", "alpha"), Seq(Long.MinValue, 0L, Long.MaxValue),
        Seq(0L)),
      In(44, Seq.fill(dim)(0.0f), Seq.fill(dim)(0.0), Seq(""), Seq(5L),
        Seq(5L)))
  }

  private lazy val frame: DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("vf", ArrayType(FloatType)),
      StructField("vd", ArrayType(DoubleType)),
      StructField("toks", ArrayType(StringType)),
      StructField("ha", ArrayType(LongType)),
      StructField("hb", ArrayType(LongType))))
    val rows = inputs.map(r => Row(r.id, r.vf, r.vd, r.toks, r.ha, r.hb))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  /** Asserts both modes of `out` equal `ref` of each input row. */
  private def check(out: Column)(ref: In => Any): Unit = {
    val want = inputs.map(r => r.id -> CodegenModes.bits(ref(r))).toMap
    for ((mode, got) <- CodegenModes.collectBoth(frame, out))
      for (id <- want.keys.toSeq.sorted)
        assert(got(id) == want(id), s"$mode, row $id")
  }

  /** A vector's elements as doubles, a null element reading as 0 (the
    * kernels' contract: elements are assumed non-null unless checked). */
  private def doubles(v: Seq[Any]): Seq[Double] = v.map {
    case null => 0.0
    case f: Float => f.toDouble
    case d: Double => d
  }

  private def fold(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }

  private val vectors = Seq("vf" -> ((r: In) => r.vf), "vd" -> ((r: In) => r.vd))

  test("MulticlassArgmax: codegen == interpreted == driver reference, float and double") {
    val w = Seq.tabulate(3, dim)((c, j) => ((c + 1) * (j - 3)).toDouble / 7)
    val b = Seq(0.25, -0.5, 0.0)
    val labels = Seq("aa", "bb", "cc")
    for ((name, vec) <- vectors)
      check(MulticlassArgmax.argmax(col(name), w, b, labels)) { r =>
        val v = vec(r)
        if (v == null || v.length != dim) null
        else {
          val margins = w.zip(b).map { case (wc, bc) => fold(wc, doubles(v)) + bc }
          if (margins.exists(_.isNaN)) null
          else {
            val best = margins.indices.foldLeft(0)((bi, c) =>
              if (margins(c) > margins(bi)) c else bi)
            Seq(labels(best), margins(best))
          }
        }
      }
  }

  test("HyperplaneBuckets: codegen == interpreted == driver reference, float and double") {
    val planes = LshExpressions.planeMatrix(dim, 6, 11L)
    for ((name, vec) <- vectors)
      check(LshExpressions.hyperplaneBuckets(col(name), planes, 3)) { r =>
        val v = vec(r)
        if (v == null) null
        else if (v.length != dim || v.contains(null)) Seq(0L, 0L)
        else planes.map(p => if (fold(p, doubles(v)) > 0) 1L else 0L)
          .grouped(3).map(_.foldLeft(0L)((acc, bit) => acc * 2 + bit)).toSeq
      }
  }

  test("PqEncode: codegen == interpreted == driver reference, float and double") {
    // ragged: subspace 0 has 3 codewords, subspace 1 has 2
    val codebooks = Seq(
      Seq(Seq(0.0, 0.0, 0.0, 0.0), Seq(1.0, -1.0, 0.5, 0.0), Seq(-1.0, 1.0, 0.0, 0.5)),
      Seq(Seq(0.5, 0.5, 0.5, 0.5), Seq(-0.5, 0.0, 0.5, -1.0)))
    for ((name, vec) <- vectors)
      check(LshExpressions.pqEncode(col(name), codebooks)) { r =>
        val v = vec(r)
        if (v == null || v.length != dim || v.contains(null)) null
        else codebooks.zipWithIndex.map { case (cb, s) =>
          val sub = doubles(v).slice(s * 4, s * 4 + 4)
          val dists = cb.map(cw => cw.zip(sub).foldLeft(0.0) {
            case (acc, (c, x)) => val diff = x - c; acc + diff * diff })
          dists.indices.foldLeft(0)((bi, c) => if (dists(c) < dists(bi)) c else bi)
        }
      }
  }

  test("NearestCentroid: codegen == interpreted == driver reference, float and double") {
    val centroids = Seq(Seq.tabulate(dim)(j => j - 3.5), Seq.fill(dim)(1.0),
      Seq.fill(dim)(0.0), Seq.tabulate(dim)(j => if (j % 2 == 0) 2.0 else -2.0))
    val unit = centroids.map { c =>
      val n2 = c.foldLeft(0.0)((s, x) => s + x * x)
      val inv = if (n2 == 0.0) 0.0 else 1.0 / math.sqrt(n2)
      c.map(_ * inv)
    }
    for ((name, vec) <- vectors)
      check(LshExpressions.nearestCentroid(col(name), centroids)) { r =>
        val v = vec(r)
        if (v == null || v.length != dim || v.contains(null) ||
          doubles(v).exists(_.isNaN)) null
        else {
          val scores = unit.map(fold(_, doubles(v)))
          // ties go to the larger id
          scores.indices.foldLeft(0)((bi, c) => if (scores(c) >= scores(bi)) c else bi)
        }
      }
  }

  private def xxBase(s: String): Long = XXH64.hashUTF8String(UTF8String.fromString(s), 42L)

  private def minima(bases: Seq[Long], k: Int): Seq[Long] =
    (0 until k).map(i => bases.foldLeft(Long.MaxValue)((m, b) =>
      math.min(m, XXH64.hashInt(i, b))))

  test("MinHashSignature: codegen == interpreted == driver reference") {
    check(LshExpressions.minhashSignature(col("toks"), 5)) { r =>
      if (r.toks == null) null else minima(r.toks.filter(_ != null).map(xxBase), 5)
    }
  }

  test("MinHashFromHashes: codegen == interpreted == driver reference") {
    check(LshExpressions.minhashFromHashes(col("ha"), 5)) { r =>
      if (r.ha == null) null
      else minima(r.ha.collect { case h: Long => h }, 5)
    }
  }

  test("SortedIntersectCount: codegen == interpreted == driver reference") {
    check(LshExpressions.sortedIntersectCount(col("ha"), col("hb"))) { r =>
      if (r.ha == null || r.hb == null) null
      else r.ha.filter(_ != null).toSet.intersect(r.hb.filter(_ != null).toSet).size
    }
  }

  test("SimHash64: codegen == interpreted == driver reference") {
    check(LshExpressions.simhash64(col("ha"))) { r =>
      if (r.ha == null) null
      else {
        val hs = r.ha.collect { case h: Long => h }
        (0 until 64).foldLeft(0L) { (sig, b) =>
          val votes = hs.map(h => if (((h >>> b) & 1L) == 1L) 1 else -1).sum
          if (votes > 0) sig | (1L << b) else sig
        }
      }
    }
  }

  test("HashEmbedVector (n = 1): codegen == interpreted == driver reference, both hash modes") {
    val width = 16
    for (md5 <- Seq(false, true)) {
      val out =
        if (md5) HashEmbedVector.hashEmbedMd5(col("toks"), width)
        else HashEmbedVector.hashEmbed(col("toks"), width)
      check(out) { r =>
        val acc = new Array[Double](width)
        for (t <- Option(r.toks).getOrElse(Nil) if t != null && t.nonEmpty) {
          val u = UTF8String.fromString(t)
          if (md5) {
            val h = Md5Hash.hash64(u)
            acc(((h >>> 32) % width).toInt) += (if ((h & 1L) == 0L) 1.0 else -1.0)
          } else {
            val h = XXH64.hashUTF8String(u, 42L)
            acc(java.lang.Math.floorMod(h, width.toLong).toInt) +=
              (if ((XXH64.hashInt(7, h) & 1L) == 0L) 1.0 else -1.0)
          }
        }
        val nrm = math.sqrt(acc.foldLeft(0.0)((s, x) => s + x * x))
        acc.map(x => if (nrm == 0.0) 0.0f else (x / nrm).toFloat).toSeq
      }
    }
  }

  test("HashEmbedVector (n = 2): codegen == interpreted") {
    val out = HashEmbedVector.hashEmbedNgrams(col("toks"), 16, 2, md5Mode = false)
    val Seq((_, gen), (_, interp)) = CodegenModes.collectBoth(frame, out)
    assert(gen == interp)
    assert(gen.size == inputs.length)
  }
}

package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftbridge.Bridge

/** SQL registration for the native graft expressions, so `spark.sql`
  * users can call them directly:
  *
  *   SELECT graft_dot(a, b), graft_simhash(hs), graft_minhash(sh, 32)
  *
  * Two registration paths:
  *  - cluster-wide: `spark.sql.extensions=graft.functions.GraftExtensions`
  *    (the standard SparkSessionExtensions injection point);
  *  - existing session: `GraftFunctions.register(spark)`.
  */
object GraftFunctions {

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal int, got $other")
  }

  private def matrixArg(e: Expression, fn: String): IndexedSeq[IndexedSeq[Double]] = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    require(e.foldable, s"$fn expects a foldable array<array<double>> matrix")
    val rowType = e.dataType match {
      case ArrayType(rt @ ArrayType(DoubleType, _), _) => rt
      case t => throw new IllegalArgumentException(
        s"$fn expects array<array<double>>, got ${t.sql}")
    }
    e.eval().asInstanceOf[ArrayData].toObjectArray(rowType)
      .map(_.asInstanceOf[ArrayData].toDoubleArray().toIndexedSeq).toIndexedSeq
  }

  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", "dot product of two array<float> or array<double> columns",
      (args: Seq[Expression]) => DotProduct(args(0), args(1))),
    ("graft_simhash", "64-bit SimHash of an array<long> of token hashes",
      (args: Seq[Expression]) => SimHash64(args(0))),
    ("graft_minhash", "minhash signature (array<long>) of an array<string>",
      (args: Seq[Expression]) =>
        MinHashSignature(args(0), intArg(args(1), "graft_minhash"))),
    ("graft_minhash_hashed", "minhash signature from pre-hashed shingles (array<long>)",
      (args: Seq[Expression]) =>
        MinHashFromHashes(args(0), intArg(args(1), "graft_minhash_hashed"))),
    ("graft_sorted_intersect",
      "intersection size of two array<long> columns that MUST be sorted " +
        "ascending and duplicate-free (use sort_array(array_distinct(x))); " +
        "unsorted input undercounts silently",
      (args: Seq[Expression]) => SortedIntersectCount(args(0), args(1))),
    ("graft_heavy_hitters",
      "Misra-Gries top-k frequent strings (array<struct<term,n>>, lower-bound counts)",
      (args: Seq[Expression]) =>
        Aggregators.HeavyHittersAgg(args(0), intArg(args(1), "graft_heavy_hitters"))),
    ("graft_topk_pairs",
      "k best (score double, id long) pairs per group " +
        "(array<struct<score,id>>, best-first, ties to the lowest id)",
      (args: Seq[Expression]) =>
        Aggregators.TopKPairsAgg(args(0), args(1), intArg(args(2), "graft_topk_pairs"))),
    ("graft_nearest_centroid",
      "index of the cosine-nearest centroid row for an embedding; " +
        "arg2 = literal array<array<double>> centroid matrix",
      (args: Seq[Expression]) => {
        val m = matrixArg(args(1), "graft_nearest_centroid")
        require(m.nonEmpty && m.map(_.length).distinct.length == 1,
          "graft_nearest_centroid: ragged or empty centroid matrix")
        NearestCentroid(args(0), m.flatten.toArray, m.length)
      }))

  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, usage, builder) =>
      Bridge.registerFunction(spark, name,
        new ExpressionInfo("graft.functions.GraftFunctions", name, usage), builder)
    }
}

/** `spark.sql.extensions` entry point: native SQL functions plus the
  * planner strategy for the custom as-of join operator.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.GraftFunctions", name, usage), builder))
    }
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

package graft.functions

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.SparkTestSession

/** The native DotProduct expression against driver-side arithmetic and
  * the HOF formulation it replaced, on both codegen and interpreted
  * paths.
  */
class DotProductSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  private def hofDot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0d), (acc, x) => acc + x)

  test("matches driver-side arithmetic and the HOF formulation exactly") {
    val rnd = new scala.util.Random(1)
    val rows = (0 until 100).map { i =>
      (i.toLong, Seq.fill(64)(rnd.nextDouble()), Seq.fill(64)(rnd.nextDouble()))
    }
    val df = rows.toDF("id", "a", "b")
    val got = df.select($"id", DotProduct.dot($"a", $"b").as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaHof = df.select($"id", hofDot($"a", $"b").as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val driver = rows.map { case (i, a, b) =>
      i -> a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    }.toMap
    assert(got == driver)  // bit-identical: same ascending-index fold
    assert(got == viaHof)
  }

  test("float arrays implicitly cast; null array yields null") {
    val df = Seq(
      (1L, Some(Seq(1.0f, 2.0f)), Seq(3.0, 4.0)),
      (2L, None, Seq(1.0, 1.0))
    ).toDF("id", "a", "b")
    val rows = df.select($"id", DotProduct.dot($"a", $"b").as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(rows(1L) == 11.0)
    assert(rows(2L) == null)
  }

  test("array<float> reaches the kernel natively: no Cast under graft_dot in the plan") {
    val df = Seq((1L, Seq(1.0f, 2.0f), Seq(3.0, 4.0))).toDF("id", "a", "b")
    val out = df.select($"id", DotProduct.dot($"a", $"b").as("d"))
    val dots = out.queryExecution.analyzed.expressions.flatMap(_.collect {
      case d: DotProduct => d })
    assert(dots.length == 1)
    assert(dots.head.children.forall(!_.isInstanceOf[Cast]),
      s"array<float> must reach the kernel uncast: ${dots.head}")
    assert(out.collect().head.getDouble(1) == 11.0)
  }

  test("float x float, float x double, double x double and array<int>: " +
    "codegen == interpreted == driver fold; wrong width and null array -> null") {
    val rnd = new scala.util.Random(3)
    def floats(n: Int) = Seq.fill(n)(rnd.nextGaussian().toFloat)
    def doubles(n: Int) = Seq.fill(n)(rnd.nextGaussian())
    def ints(n: Int) = Seq.fill(n)(rnd.nextInt(21) - 10)
    // (id, f1, f2, d1, d2, i1); row 30 has a wrong width in every pair
    // tested below, row 31 a null left array
    val rows = (0 until 30).map(i =>
      Row(i.toLong, floats(16), floats(16), doubles(16), doubles(16), ints(16))) ++
      Seq(Row(30L, floats(16), floats(15), doubles(16), doubles(14), ints(17)),
        Row(31L, null, floats(16), null, doubles(16), null))
    val schema = StructType(Seq(StructField("id", LongType)) ++
      Seq("f1" -> FloatType, "f2" -> FloatType, "d1" -> DoubleType,
        "d2" -> DoubleType, "i1" -> IntegerType).map { case (n, t) =>
          StructField(n, ArrayType(t)) })
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    def vec(r: Row, c: String): Seq[Double] = r.getAs[Seq[Any]](schema.fieldIndex(c)) match {
      case null => null
      case s => s.map {
        case f: Float => f.toDouble
        case d: Double => d
        case i: Int => i.toDouble
      }
    }
    for ((a, b) <- Seq("f1" -> "f2", "f1" -> "d2", "d1" -> "f2", "d1" -> "d2",
        "i1" -> "d2", "i1" -> "f2")) {
      val want = rows.map { r =>
        val (x, y) = (vec(r, a), vec(r, b))
        r.getLong(0) -> CodegenModes.bits(
          if (x == null || y == null || x.length != y.length) null
          else x.zip(y).foldLeft(0.0) { case (s, (p, q)) => s + p * q })
      }.toMap
      assert(want(30L) == null && want(31L) == null)
      for ((mode, got) <- CodegenModes.collectBoth(df, DotProduct.dot(col(a), col(b))))
        assert(got == want, s"$mode, $a x $b")
    }
  }

  test("graft_dot from SQL takes array<float>, array<double> and array<int>") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT " +
      "graft_dot(array(1.5f, 2.0f), array(3.0f, 4.0f)) AS ff, " +
      "graft_dot(array(1.5f, 2.0f), array(3.0d, 4.0d)) AS fd, " +
      "graft_dot(array(1, 2), array(3.0d, 4.0d)) AS id").collect()(0)
    assert(r.getDouble(0) == 12.5 && r.getDouble(1) == 12.5 && r.getDouble(2) == 11.0)
  }

  test("mismatched dimensions yield null, never a partial score") {
    val df = Seq(
      (1L, Seq(1.0, 2.0, 3.0), Seq(1.0, 1.0)),  // 3 vs 2 dims
      (2L, Seq(1.0, 2.0), Seq(3.0, 4.0))
    ).toDF("id", "a", "b")
    val rows = df.select($"id", DotProduct.dot($"a", $"b").as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(rows(1L) == null) // matches the zip_with null-pad semantics
    assert(rows(2L) == 11.0)
  }

  test("works on the real embeddings table and survives codegen") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = emb.select($"vec_id", DotProduct.dot($"embedding", $"embedding").as("n2"))
    // plan compiles through whole-stage codegen: the starred `*(n)`
    // prefix marks operators inside a codegen stage
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("graft_dot"),
      s"no codegen span:\n${plan.take(500)}")
    val got = out.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val driver = emb.collect().map { r =>
      val v = r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble)
      r.getLong(r.fieldIndex("vec_id")) -> v.foldLeft(0.0)((s, x) => s + x * x)
    }.toMap
    assert(got == driver)
  }
}

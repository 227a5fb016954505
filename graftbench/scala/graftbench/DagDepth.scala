package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.core.{Dag, TaskGraph}

/** Deep or shared-structure TaskGraphs over ~1,000-row in-memory parameter
  * tables. The seed draws every table value, label order, constant and
  * slice bound; the graph shapes are fixed, so the seed changes the data
  * and not the amount of planning work.
  */
object DagDepth extends Workload {
  val name = "dag_depth"
  /** Warm passes 2, 3, 4 and 5 took 5.4, 4.2, 3.7 and 3.4 s on a 4-core
    * host, then held at 3.0-3.6 s. */
  val warmupPasses = 3
  val Rows = 1000
  val LadderKs: Seq[Int] = 3 to 5
  val FanWidths: Seq[Int] = Seq(4, 8, 16)
  val Groups = 10
  val Cols = 16

  /** The seeded parameters, shared by the engine inputs and the answers. */
  final class Params(seed: Long) {
    val ids: Vector[Long] = Rng.shuffle((0 until Rows).map(i => 1000L + 7L * i), seed, 1)
    val x: Vector[Long] = Vector.tabulate(Rows)(i => Rng.below(seed, 2, i, 1000))
    val y: Vector[Long] = Vector.tabulate(Rows)(i => Rng.below(seed, 3, i, 1000))
    val g: Vector[Long] = Vector.tabulate(Rows)(i => Rng.below(seed, 4, i, Groups))
    val q: Vector[Long] = Vector.tabulate(Cols)(i => Rng.below(seed, 5, i, 50))
    def coef(stream: Long, i: Int): Long = Rng.below(seed, stream, i, 100) + 1
    val sliceLo: Int = Rng.below(seed, 6, 0, Rows / 4).toInt
    val sliceHi: Int = sliceLo + Rows / 2
  }

  /** An in-memory (LocalRelation) parameter table of Long columns. */
  private def table(spark: SparkSession, cols: Seq[String], rows: Seq[Seq[Long]]): DataFrame = {
    val schema = StructType(cols.map(StructField(_, LongType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(rows.map(Row.fromSeq): _*), schema)
  }

  def setup(spark: SparkSession, seed: Long, work: String): Seq[Op] = {
    val p = new Params(seed)
    val px = table(spark, Seq("id", "x", "g"), p.ids.indices.map(i => Seq(p.ids(i), p.x(i), p.g(i))))
    val py = table(spark, Seq("id", "y"), p.ids.indices.map(i => Seq(p.ids(i), p.y(i))))
    val pq = table(spark, Seq("jd", "q"), p.q.indices.map(j => Seq(j.toLong, p.q(j))))
    val pk = table(spark, Seq("g", "a0"), p.g.distinct.sorted.map(k => Seq(k, 0L)))
    Seq(px, py, pq, pk).foreach(_.count())
    LadderKs.map(k => new Ladder(k, p, px)) ++ FanWidths.map(w => new FanIn(w, p, px)) ++
      Seq(new GroupbyChain(p, px, pq), new Splice(p, px, pk), new SliceShared(p, px, py))
  }

  private def byId(p: Params, f: Int => Long): Map[Long, Long] =
    p.ids.indices.map(i => p.ids(i) -> f(i)).toMap

  private def mapX(px: DataFrame): TaskGraph =
    TaskGraph(Dag.empty).mapFrame(px, Map("x" -> "x"), Some("id"), "i")

  /** k stacked diamonds x -> {l_s, r_s} -> j_s: the plan-size blow-up case. */
  final class Ladder(k: Int, p: Params, px: DataFrame) extends KeyedOp {
    val id = s"ladder_k$k"
    private val a = (1 to k).map(s => p.coef(100 + k, s))
    private val b = (1 to k).map(s => p.coef(200 + k, s))
    def run(spark: SparkSession, c: OpClock): DataFrame = {
      val g = c.build {
        (1 to k).foldLeft(mapX(px)) { (g, s) =>
          val prev = if (s == 1) "x" else s"j${s - 1}"
          g.withExpr(s"l$s", Seq(prev), s"$prev + ${a(s - 1)}")
            .withExpr(s"r$s", Seq(prev), s"$prev - ${b(s - 1)}")
            .withExpr(s"j$s", Seq(s"l$s", s"r$s"), s"l$s + r$s")
        }
      }
      c.result(g.result(s"j$k").select(col("i").as("k"), col(s"j$k").as("v")))
    }
    def expected: Map[Long, Long] = byId(p, i =>
      (0 until k).foldLeft(p.x(i))((v, s) => (v + a(s)) + (v - b(s))))
  }

  /** w siblings of x merged into one node. */
  final class FanIn(w: Int, p: Params, px: DataFrame) extends KeyedOp {
    val id = s"fanin_w$w"
    private val e = (1 to w).map(m => p.coef(300 + w, m))
    def run(spark: SparkSession, c: OpClock): DataFrame = {
      val ys = (1 to w).map(m => s"y$m")
      val g = c.build {
        ys.zip(e).foldLeft(mapX(px)) { case (g, (y, em)) => g.withExpr(y, Seq("x"), s"x + $em") }
          .withExpr("z", ys, ys.mkString(" + "))
      }
      c.result(g.result("z").select(col("i").as("k"), col("z").as("v")))
    }
    def expected: Map[Long, Long] = byId(p, i => w * p.x(i) + e.sum)
  }

  /** A cross of two dims, grouped by a key of the first and then reduced
    * over the second: groupby().reduce chained over 2 dims. */
  final class GroupbyChain(p: Params, px: DataFrame, pq: DataFrame) extends KeyedOp {
    val id = "groupby_chain"
    def run(spark: SparkSession, c: OpClock): DataFrame = {
      val g = c.build {
        TaskGraph(Dag.empty)
          .mapFrame(px, Map("x" -> "x", "g" -> "g"), Some("id"), "i")
          .mapFrame(pq, Map("q" -> "q"), Some("jd"), "j")
          .withExpr("t", Seq("x", "q"), "x * q")
          .groupby("g").reduce(key = "t", name = "s1", attrs = Map("func" -> "sum"))
          .reduce(key = "s1", index = "j", name = "s2", attrs = Map("func" -> "sum"))
      }
      c.result(g.result("s2").select(col("g").as("k"), col("s2").as("v")))
    }
    def expected: Map[Long, Long] = {
      val qs = p.q.sum
      p.ids.indices.groupBy(p.g).map { case (k, is) => k -> is.map(i => p.x(i) * qs).sum }
    }
  }

  /** A per-group reduce of one graph spliced, with setItem, over a node
    * of another graph that is mapped on the groupby's dim (the chained
    * groupby composition). */
  final class Splice(p: Params, px: DataFrame, pk: DataFrame) extends KeyedOp {
    val id = "splice"
    private val (c1, c2) = (p.coef(400, 1), p.coef(400, 2))
    def run(spark: SparkSession, c: OpClock): DataFrame = {
      val g = c.build {
        val grouped = TaskGraph(Dag.empty)
          .mapFrame(px, Map("x" -> "x", "g" -> "g"), Some("id"), "i")
          .groupby("g").reduce(key = "x", name = "s", attrs = Map("func" -> "sum"))
        TaskGraph(Dag.fromEdges("a" -> "b").addNode("b", Map("expr" -> s"a * $c1 + $c2")))
          .mapFrame(pk, Map("a" -> "a0"), Some("g"), "g")
          .setItem("a", grouped.getItem("s"))
      }
      c.result(g.result("b").select(col("g").as("k"), col("b").as("v")))
    }
    def expected: Map[Long, Long] =
      p.ids.indices.groupBy(p.g).map { case (k, is) => k -> (is.map(p.x).sum * c1 + c2) }
  }

  /** Two tables mapped onto one shared dim, sliced by position. */
  final class SliceShared(p: Params, px: DataFrame, py: DataFrame) extends KeyedOp {
    val id = "slice_shared"
    def run(spark: SparkSession, c: OpClock): DataFrame = {
      val g = c.build {
        mapX(px).mapFrame(py, Map("y" -> "y"), Some("id"), "i")
          .withExpr("z", Seq("x", "y"), "x + y")
          .byPosition("i", p.sliceLo, p.sliceHi)
      }
      c.result(g.result("z").select(col("i").as("k"), col("z").as("v")))
    }
    def expected: Map[Long, Long] =
      (p.sliceLo until p.sliceHi).map(i => p.ids(i) -> (p.x(i) + p.y(i))).toMap
  }
}

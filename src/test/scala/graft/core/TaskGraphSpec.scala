package graft.core

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral contract ported from the reference test suite
  * (reference: tests/graph_test.py, tests/groupby_test.py,
  * tests/node_values_test.py) — see SURVEY.md §2.2. Assertions run on
  * expansion DataFrames instead of NetworkX node sets.
  */
class TaskGraphSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._
  implicit def s: SparkSession = spark

  // --- map basics ---------------------------------------------------------

  test("map associates source values; descendants gain the dim") {
    val g = TaskGraph.chain("a", "b")
      .mapSeqs(Map("a" -> Seq(1, 2, 3)))
    assert(g.dimsOf("a") == Vector("dim_0"))
    assert(g.dimsOf("b") == Vector("dim_0"))
    assert(g.result("b").count() == 3)
  }

  test("joint map shares a dim (zip, not cross) — graph_test.py:371-379") {
    val g = TaskGraph.fromEdges("a" -> "c", "b" -> "c")
      .mapSeqs(Map("a" -> Seq(1, 2), "b" -> Seq(4, 5)))
    assert(g.result("c").count() == 2)
    assert(g.dimsOf("c") == Vector("dim_0"))
  }

  test("chained maps cross-multiply at shared descendants — graph_test.py:382-402") {
    val g = TaskGraph.fromEdges("a" -> "c", "b" -> "c")
      .mapSeqs(Map("a" -> Seq(1, 2, 3)))
      .mapSeqs(Map("b" -> Seq(4, 5)))
    assert(g.result("c").count() == 6)
    // second map prepends its dim (graph.py:109-112)
    assert(g.dimsOf("c") == Vector("dim_1", "dim_0"))
  }

  test("unrelated nodes are not duplicated — graph_test.py:104-112") {
    val g = TaskGraph.fromEdges("a" -> "b", "x" -> "y")
      .mapSeqs(Map("a" -> Seq(1, 2, 3)))
    assert(g.dimsOf("x").isEmpty && g.dimsOf("y").isEmpty)
    assert(g.result("y").count() == 1)
  }

  test("mapping a non-existent node adds it — graph_test.py:36-52") {
    val g = TaskGraph.chain("a", "b")
      .mapSeqs(Map("a" -> Seq(1, 2), "param" -> Seq(10, 20)))
    assert(g.dag.contains("param"))
    assert(g.dimsOf("param") == Vector("dim_0"))
  }

  test("mapping a non-source node raises — graph.py:127-135") {
    val g = TaskGraph.chain("a", "b")
    assertThrows[GraftException] {
      g.mapSeqs(Map("b" -> Seq(1, 2)))
    }
  }

  test("unequal shapes in one map raise — node_values.py:104-109") {
    val g = TaskGraph.fromEdges("a" -> "c", "b" -> "c")
    assertThrows[GraftException] {
      g.mapSeqs(Map("a" -> Seq(1, 2), "b" -> Seq(1, 2, 3)))
    }
  }

  test("re-map with same values is a no-op; different labels raise") {
    val g = TaskGraph.chain("a", "b").mapSeqs(Map("a" -> Seq(1, 2, 3)))
    val g2 = g.mapSeqs(Map("a" -> Seq(1, 2, 3)))
    assert(g2.groups.size == 1) // no-op
    assertThrows[GraftException] {
      g.mapSeqs(Map("a" -> Seq(1, 2))) // different labels (length)
    }
  }

  test("re-map with different values on same labels replaces — node_values_test.py:148-159") {
    val g = TaskGraph.chain("a", "b").mapSeqs(Map("a" -> Seq(1, 2, 3)))
    val g2 = g.mapSeqs(Map("a" -> Seq(7, 8, 9)))
    val got = g2.result("b").orderBy("b").collect().map(_.getAs[Int]("b")).toSeq
    assert(got == Seq(7, 8, 9)) // new mapping wins
  }

  test("re-map past the eager-compare row bound replaces instead of raising") {
    // 100,001 labels is one past sameData's bound: the re-map takes the
    // file-backed rule (no eager compare, then replace)
    val n = 100001
    val g = TaskGraph.chain("a", "b").mapSeqs(Map("a" -> (0 until n)))
    val g2 = g.mapSeqs(Map("a" -> (0 until n).map(_ + 1)))
    val got = g2.result("b").agg(
      org.apache.spark.sql.functions.count("b"),
      org.apache.spark.sql.functions.min("b"),
      org.apache.spark.sql.functions.max("b")).head()
    assert((got.getLong(0), got.getInt(1), got.getInt(2)) == ((n.toLong, 1, n)))
  }

  test("reduce with unmapped sibling keeps it shared — graph_test.py:465-474") {
    // a mapped, s unmapped; both feed c: s stays ONE shared node wired to
    // every copy of c
    val dag = Dag.fromEdges("a" -> "c", "s" -> "c")
      .addNode("c", Map("expr" -> "a"))
    val g = TaskGraph(dag).mapSeqs(Map("a" -> Seq(1, 2, 3)))
    assert(g.dimsOf("s").isEmpty)
    assert(g.result("c").count() == 3)
    val sEdges = g.edgeTable().filter(org.apache.spark.sql.functions.col("src") === "s")
      .collect().map(r => (r.getAs[Map[String, String]]("src_index"),
        r.getAs[Map[String, String]]("dst_index")))
    assert(sEdges.length == 3) // one edge per c copy...
    assert(sEdges.map(_._1).toSet == Set(Map.empty[String, String])) // ...all from the single s
  }

  // --- reduce -------------------------------------------------------------

  test("reduce-all collapses every dim; executes the agg") {
    val g = TaskGraph.chain("a", "b")
      .mapSeqs(Map("a" -> Seq(1, 2, 3)))
      .reduce(key = "b", name = "total", attrs = Map("func" -> "sum"))
    val rows = g.result("total").collect()
    assert(rows.length == 1 && rows(0).getAs[Long]("total") == 6L)
  }

  test("reduce keeps unreduced dims — graph_test.py:418-424") {
    val g = TaskGraph.fromEdges("a" -> "c", "b" -> "c")
      .mapSeqs(Map("a" -> Seq(1, 2, 3)))
      .mapSeqs(Map("b" -> Seq(10, 20)))
      .withExpr("d", Seq("c"), "c.a + c.b") // c = struct(a, b)
      .reduce(key = "d", index = "dim_0", name = "r", attrs = Map("func" -> "sum"))
    assert(g.dimsOf("r") == Vector("dim_1"))
    val got = g.result("r").orderBy("dim_1").collect().map(_.getAs[Long]("r")).toSeq
    // dim_1 indexes b=[10,20]; sum over a=[1,2,3]: 3b + 6
    assert(got == Seq(36L, 66L))
  }

  test("same node reducible repeatedly — graph_test.py:494-543") {
    val g0 = TaskGraph.chain("a", "b").mapSeqs(Map("a" -> Seq(1, 2, 3)))
    val g = g0
      .reduce(key = "b", name = "r1", attrs = Map("func" -> "sum"))
      .reduce(key = "b", name = "r2", attrs = Map("func" -> "max"))
    assert(g.result("r1").collect()(0).getAs[Long]("r1") == 6L)
    assert(g.result("r2").collect()(0).getAs[Int]("r2") == 3)
  }

  test("reduce axis counts within the node's dims — graph_test.py:546-560") {
    val g = TaskGraph.fromEdges("a" -> "c", "b" -> "c")
      .mapSeqs(Map("a" -> Seq(1, 2, 3)))
      .mapSeqs(Map("b" -> Seq(10, 20)))
    // c dims = (dim_1, dim_0); axis 0 = dim_1
    val r = g.reduce(key = "c", axis = 0, name = "r")
    assert(r.dimsOf("r") == Vector("dim_0"))
  }

  test("reduce of missing index raises") {
    val g = TaskGraph.chain("a", "b").mapSeqs(Map("a" -> Seq(1, 2)))
    assertThrows[GraftException] {
      g.reduce(key = "b", index = "nope", name = "r")
    }
  }

  test("duplicate reduce name raises — graph.py:333-334") {
    val g = TaskGraph.chain("a", "b").mapSeqs(Map("a" -> Seq(1, 2)))
    assertThrows[GraftException] {
      g.reduce(key = "b", name = "a")
    }
  }

  // --- groupby ------------------------------------------------------------

  test("groupby reduces by key values; new dim named after key column") {
    val g = TaskGraph.chain("a", "b")
      .mapSeqs(Map("a" -> Seq(11, 22, 33), "param" -> Seq("x", "x", "y")))
      .groupby("param")
      .reduce(key = "b", name = "d", attrs = Map("func" -> "sum"))
    assert(g.dimsOf("d") == Vector("param"))
    val got = g.result("d").orderBy("param").collect()
      .map(r => (r.getAs[String]("param"), r.getAs[Long]("d"))).toSeq
    assert(got == Seq(("x", 33L), ("y", 33L)))
  }

  test("groupby on unmapped node raises — groupby_test.py:458-469") {
    val g = TaskGraph.chain("a", "b").mapSeqs(Map("a" -> Seq(1, 2)))
    assertThrows[GraftException] { g.groupby("zzz") }
  }

  test("groupby of 2-D node keeps other dim; group dim last — groupby_test.py:771-824") {
    val g = TaskGraph.chain("a", "b")
      .mapSeqs(Map("a" -> Seq(1, 2, 3), "param" -> Seq("p", "q", "p")))
      .mapSeqs(Map("f" -> Seq(10, 20)))
      .withNode("c", Seq("b", "f"))
      .groupby("param")
      .reduce(key = "c", name = "d", attrs = Map("func" -> "count"))
    assert(g.dimsOf("d") == Vector("dim_1", "param"))
    assert(g.result("d").count() == 4) // 2 factors x 2 groups
  }

  test("reduce over a groupby dim collapses the groups") {
    val g = TaskGraph.chain("a", "b")
      .mapSeqs(Map("a" -> Seq(1, 2, 3, 4), "k" -> Seq("x", "x", "y", "y")))
      .groupby("k").reduce(key = "b", name = "d", attrs = Map("func" -> "sum"))
      .reduce(key = "d", name = "t", attrs = Map("func" -> "sum"))
    assert(g.dimsOf("t").isEmpty)
    assert(g.result("t").collect()(0).getAs[Long]("t") == 10L)
  }

  test("slice then groupby: group membership follows the slice") {
    val g = TaskGraph.chain("a", "b")
      .mapSeqs(Map("a" -> Seq(1, 2, 3, 4), "k" -> Seq("x", "y", "x", "y")))
      .byPosition("dim_0", 0, 3) // keeps rows 0,1,2
      .groupby("k").reduce(key = "b", name = "d", attrs = Map("func" -> "sum"))
    val got = g.result("d").orderBy("k").collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Long]("d"))).toSeq
    assert(got == Seq(("x", 4L), ("y", 2L))) // row 3 (k=y, a=4) sliced away
  }

  test("reduce with both index and axis raises — graph.py:316-320") {
    val g = TaskGraph.chain("a", "b").mapSeqs(Map("a" -> Seq(1, 2)))
    assertThrows[GraftException] {
      g.reduce(key = "b", index = "dim_0", axis = 0, name = "r")
    }
  }

  test("groupby matrix: single group, uneven groups, attrs preserved") {
    // single group: all rows collapse to one (groupby_test.py single_group)
    val g1 = TaskGraph.chain("a", "b")
      .mapSeqs(Map("a" -> Seq(1, 2, 3), "k" -> Seq("x", "x", "x")))
      .groupby("k").reduce(key = "b", name = "d", attrs = Map("func" -> "sum"))
    val r1 = g1.result("d").collect()
    assert(r1.length == 1 && r1(0).getAs[Long]("d") == 6L)
    // uneven group sizes (groupby_test.py uneven_group_sizes)
    val g2 = TaskGraph.chain("a", "b")
      .mapSeqs(Map("a" -> Seq(1, 2, 3, 4, 5), "k" -> Seq("x", "y", "y", "y", "y")))
      .groupby("k").reduce(key = "b", name = "d", attrs = Map("func" -> "count"))
    val r2 = g2.result("d").orderBy("k").collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Long]("d"))).toSeq
    assert(r2 == Seq(("x", 1L), ("y", 4L)))
    // attrs ride on the reduce node (groupby_test.py groupby_with_attrs)
    val g3 = TaskGraph.chain("a", "b")
      .mapSeqs(Map("a" -> Seq(1), "k" -> Seq("x")))
      .groupby("k").reduce(key = "b", name = "d",
        attrs = Map("func" -> "sum", "note" -> "v"))
    assert(g3.dag.attrs("d")("note") == "v")
  }

  test("group keys can be int/double — groupby_test.py:260-296") {
    val g = TaskGraph.chain("a", "b")
      .mapSeqs(Map("a" -> Seq(1, 2, 3, 4), "k" -> Seq(0, 0, 1, 1)))
      .groupby("k").reduce(key = "b", name = "d", attrs = Map("func" -> "sum"))
    val got = g.result("d").orderBy("k").collect().map(_.getAs[Long]("d")).toSeq
    assert(got == Seq(3L, 7L))
  }

  // --- slicing ------------------------------------------------------------

  test("positional slice drops copies, keeps structure; labels follow slice") {
    val g = TaskGraph.chain("a", "b")
      .mapSeqs(Map("a" -> Seq(10, 20, 30, 40)))
      .byPosition("dim_0", 1, 3)
    val rows = g.result("b", needPositional = true)
      .orderBy("dim_0").collect()
    assert(rows.map(_.getAs[Long]("dim_0")).toSeq == Seq(1L, 2L)) // original labels
    assert(rows.map(_.getAs[Int]("b")).toSeq == Seq(20, 30))
  }

  test("label selection (sel) and label-range (loc)") {
    val df = Seq((11, 1.0), (22, 2.0), (33, 3.0)).toDF("idx", "v")
    val g = TaskGraph.chain("a", "b")
      .mapFrame(df, Map("a" -> "v"), indexCol = Some("idx"), dimName = "x")
    assert(g.sel("x", 22).result("b").collect()
      .map(_.getAs[Double]("b")).toSeq == Seq(2.0))
    assert(g.loc("x", 11, 33).result("b").count() == 2)
  }

  // --- branch ops ---------------------------------------------------------

  test("getItem keeps ancestors only and prunes values — graph_test.py:813-836") {
    val g = TaskGraph.fromEdges("a" -> "b", "x" -> "y", "b" -> "z", "y" -> "z")
      .mapSeqs(Map("a" -> Seq(1, 2)))
      .mapSeqs(Map("x" -> Seq(9)))
    val branch = g.getItem("b")
    assert(branch.dag.nodes == Set("a", "b"))
    assert(branch.groups.size == 1) // x's mapping dropped
    assert(branch.result("b").count() == 2)
  }

  test("delItem removes exclusive ancestors, keeps shared; refuses mapped") {
    val g = TaskGraph.fromEdges("a" -> "b", "a" -> "c", "p" -> "b")
    // b's ancestors: a (feeds c too -> kept), p (exclusive -> removed)
    val d = TaskGraph(g.dag, Vector.empty, Map.empty).delItem("b")
    assert(d.dag.nodes == Set("a", "b", "c"))
    assert(d.dag.predecessors("b").isEmpty)
    val mapped = TaskGraph.chain("a", "b").mapSeqs(Map("a" -> Seq(1)))
    assertThrows[GraftException] { mapped.delItem("b") }
  }

  test("setItem splices branch, renames sink, keeps its values — graph_test.py:699-717") {
    // Both the target branch head and the incoming sink are mapped (same
    // dim labels 0..2); the replaced ancestor `a` and its values drop out.
    val g = TaskGraph.chain("a", "b", "c").mapSeqs(Map("a" -> Seq(7, 8, 9)))
    val other = TaskGraph.chain("x", "y").mapSeqs(Map("x" -> Seq(1, 2, 3)))
    val merged = g.setItem("b", other)
    assert(merged.dag.nodes == Set("x", "b", "c"))
    assert(merged.dag.predecessors("c") == Vector("b"))
    assert(merged.groups.flatMap(_.valueCols.keys).toSet == Set("x"))
    assert(merged.result("c").count() == 3)
  }

  test("setItem validates conflicting attrs — graph_test.py:648-673") {
    // `a` is not an ancestor of the spliced node `q`, so it survives into
    // the intersection; conflicting attrs on it must raise.
    val g = TaskGraph(Dag.fromEdges("a" -> "b", "p" -> "q"), Vector.empty, Map.empty)
    val okBranch = TaskGraph(Dag.fromEdges("a" -> "s"), Vector.empty, Map.empty)
    val ok = g.setItem("q", okBranch) // same node a, same (empty) attrs
    assert(ok.dag.contains("q") && !ok.dag.contains("s") && !ok.dag.contains("p"))
    val conflicting = TaskGraph(Dag.empty, Vector.empty, Map.empty)
      .withNode("a", Seq(), attrs = Map("k" -> "v"))
      .withNode("s", Seq("a"))
    assertThrows[GraftException] { g.setItem("q", conflicting) }
  }

  test("setItem mapped-on-unmapped raises — graph.py:501-505") {
    val g = TaskGraph.chain("a", "b").mapSeqs(Map("a" -> Seq(1, 2)))
    val other = TaskGraph.chain("x", "y") // unmapped sink
    assertThrows[GraftException] { g.setItem("b", other) } // b is mapped
  }

  // --- materialization ----------------------------------------------------

  test("taskTable lists every node copy — to_networkx parity, graph.py:367-424") {
    val g = TaskGraph.chain("a", "b")
      .mapSeqs(Map("a" -> Seq(5, 6)))
      .reduce(key = "b", name = "t", attrs = Map("func" -> "sum"))
    val rows = g.taskTable().collect()
    // 2 copies of a, 2 of b, 1 of t
    assert(rows.length == 5)
    val t = rows.filter(_.getAs[String]("node") == "t")
    assert(t.length == 1 && t(0).getAs[String]("value") == "11")
  }

  test("edgeTable materializes per-copy edges incl. groupby wiring — groupby_test.py:21-47") {
    // a -> c, b -> c; joint map {a: [11,22,33], b: ['a','a','b']};
    // groupby('b').reduce('c', name='d')
    val g = TaskGraph.fromEdges("a" -> "c", "b" -> "c")
      .mapSeqs(Map("a" -> Seq(11, 22, 33), "b" -> Seq("a", "a", "b")))
      .groupby("b")
      .reduce(key = "c", name = "d", attrs = Map("func" -> "count"))
    val edges = g.edgeTable().collect().map { r =>
      (r.getAs[String]("src"), r.getAs[Map[String, String]]("src_index"),
        r.getAs[String]("dst"), r.getAs[Map[String, String]]("dst_index"))
    }.toSet
    // chain edges: a_i -> c_i (same copy), never cross-copy
    assert(edges.contains(("a", Map("dim_0" -> "0"), "c", Map("dim_0" -> "0"))))
    assert(edges.contains(("a", Map("dim_0" -> "2"), "c", Map("dim_0" -> "2"))))
    assert(!edges.contains(("a", Map("dim_0" -> "0"), "c", Map("dim_0" -> "1"))))
    // fan-in edges: c_0, c_1 -> d('a'); c_2 -> d('b'); no cross-group edges
    assert(edges.contains(("c", Map("dim_0" -> "0"), "d", Map("b" -> "a"))))
    assert(edges.contains(("c", Map("dim_0" -> "1"), "d", Map("b" -> "a"))))
    assert(edges.contains(("c", Map("dim_0" -> "2"), "d", Map("b" -> "b"))))
    assert(!edges.contains(("c", Map("dim_0" -> "0"), "d", Map("b" -> "b"))))
    assert(!edges.contains(("c", Map("dim_0" -> "2"), "d", Map("b" -> "a"))))
    // groupby key wiring: b_i -> its group's reduce copy
    assert(edges.contains(("b", Map("dim_0" -> "0"), "d", Map("b" -> "a"))))
    assert(edges.contains(("b", Map("dim_0" -> "2"), "d", Map("b" -> "b"))))
  }

  test("node attrs survive map and branch ops — graph_test.py:1041-1104") {
    val g = TaskGraph(Dag.chain("a", "b").addNode("b", Map("k" -> "v")))
      .mapSeqs(Map("a" -> Seq(1, 2)))
    assert(g.dag.attrs("b") == Map("k" -> "v"))
    assert(g.getItem("b").dag.attrs("b") == Map("k" -> "v"))
  }

  // --- diamond DAGs (per-index expansion) ---------------------------------

  test("diamond DAG expands per index, not per value — graph.py:367-424") {
    // a -> b, a -> c, {b,c} -> d over duplicate values in `a`: the merge of
    // b's and c's frames must key on the dim label (row identity), never on
    // the shared ancestor value column, or a=[1,1] yields 4 copies of d.
    val dag = Dag.fromEdges("a" -> "b", "a" -> "c", "b" -> "d", "c" -> "d")
      .addNode("b", Map("expr" -> "a + 1"))
      .addNode("c", Map("expr" -> "a * 10"))
      .addNode("d", Map("expr" -> "b + c"))
    val g = TaskGraph(dag).mapSeqs(Map("a" -> Seq(1, 1)))
    val rows = g.result("d").collect()
    assert(rows.length == 2, s"expected 2 copies of d, got ${rows.length}")
    assert(rows.forall(_.getAs[Int]("d") == 12))
  }

  test("diamond DAG joins on dim labels for labeled dims too") {
    val df = Seq(("k1", 5), ("k2", 5)).toDF("idx", "v") // duplicate values
    val dag = Dag.fromEdges("a" -> "b", "a" -> "c", "b" -> "d", "c" -> "d")
      .addNode("b", Map("expr" -> "a + 1"))
      .addNode("c", Map("expr" -> "a - 1"))
      .addNode("d", Map("expr" -> "b * c"))
    val g = TaskGraph(dag).mapFrame(df, Map("a" -> "v"),
      indexCol = Some("idx"), dimName = "x")
    val rows = g.result("d").orderBy("x").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Int]("d")).toSeq == Seq(24, 24))
  }

  // --- N-D arrays (mapND) — graph_test.py:142-155, 970-1038 ---------------

  def nd2x3: TaskGraph = {
    // np.array([[1, 2, 3], [4, 5, 6]]) in tidy form
    val df = Seq((0, 0, 1), (0, 1, 2), (0, 2, 3), (1, 0, 4), (1, 1, 5), (1, 2, 6))
      .toDF("r", "c", "v")
    TaskGraph(Dag.chain("a", "b").addNode("b", Map("expr" -> "a")))
      .mapND("a", df, Seq("dim_0" -> "r", "dim_1" -> "c"), "v")
  }

  test("mapND: 2-D map gives every descendant both dims") {
    val g = nd2x3
    assert(g.dimsOf("a") == Vector("dim_0", "dim_1"))
    assert(g.dimsOf("b") == Vector("dim_0", "dim_1"))
    assert(g.result("b").count() == 6)
  }

  test("mapND: outer positional slice keeps inner dim — graph_test.py:994-1016") {
    val g = nd2x3.byPosition("dim_0", 1, 2)
    val rows = g.result("b").orderBy("dim_1").collect()
    assert(rows.map(_.getAs[Int]("b")).toSeq == Seq(4, 5, 6))
    assert(rows.map(_.getAs[Int]("dim_0")).toSeq == Seq(1, 1, 1)) // labels survive
  }

  test("mapND: inner positional slice keeps outer dim — graph_test.py:1019-1038") {
    val g = nd2x3.byPosition("dim_1", 0, 2)
    val rows = g.result("b").orderBy("dim_0", "dim_1").collect()
    assert(rows.map(_.getAs[Int]("b")).toSeq == Seq(1, 2, 4, 5))
  }

  test("mapND: reduce axis= on N-D consumes the right dim") {
    val g = nd2x3.reduce(key = "b", axis = 0, name = "r", attrs = Map("func" -> "sum"))
    assert(g.dimsOf("r") == Vector("dim_1"))
    val got = g.result("r").orderBy("dim_1").collect().map(_.getAs[Long]("r")).toSeq
    assert(got == Seq(5L, 7L, 9L)) // column sums of [[1,2,3],[4,5,6]]
    val g2 = nd2x3.reduce(key = "b", index = "dim_1", name = "r2",
      attrs = Map("func" -> "sum"))
    val got2 = g2.result("r2").orderBy("dim_0").collect().map(_.getAs[Long]("r2")).toSeq
    assert(got2 == Seq(6L, 15L)) // row sums
  }

  test("groupby over a diamond — groupby_test.py diamond pattern") {
    val dag = Dag.fromEdges("a" -> "b", "a" -> "c", "b" -> "d", "c" -> "d")
      .addNode("b", Map("expr" -> "a + 1"))
      .addNode("c", Map("expr" -> "a * 2"))
      .addNode("d", Map("expr" -> "b + c"))
    val g = TaskGraph(dag)
      .mapSeqs(Map("a" -> Seq(1, 2, 3, 4), "param" -> Seq("x", "x", "y", "y")))
      .groupby("param")
      .reduce(key = "d", name = "e", attrs = Map("func" -> "sum"))
    val got = g.result("e").orderBy("param").collect()
      .map(r => (r.getAs[String]("param"), r.getAs[Long]("e"))).toSeq
    // d = (a+1) + 2a = 3a+1: x -> 4+7 = 11, y -> 10+13 = 23
    assert(got == Seq(("x", 11L), ("y", 23L)))
  }

  test("delItem can remove a reduce-all node's branch — graph_test.py") {
    val g = TaskGraph.fromEdges("a" -> "b", "x" -> "y")
      .mapSeqs(Map("a" -> Seq(1, 2, 3)))
      .reduce(key = "b", name = "c")
      .delItem("c")
    assert(g.dag.nodes == Set("x", "y", "c"))
    assert(g.groups.isEmpty) // a's mapping went with its branch
    assert(g.reduces.isEmpty)
  }

  test("delItem clears the key's reduce spec even when the pred survives") {
    // b feeds another sink, so removeExclusiveAncestors keeps the whole
    // upstream — before round 11 the reduce SPEC survived too and the
    // 'bare input' kept aggregating (reference graph.py:463-478: the
    // node's data dies, only the node itself remains)
    val g = TaskGraph.fromEdges("a" -> "b", "b" -> "c")
      .mapSeqs(Map("a" -> Seq(1, 2, 3)))
      .reduce(key = "b", name = "r", attrs = Map("func" -> "sum"))
      .delItem("r")
    assert(g.dag.nodes == Set("a", "b", "c", "r"))
    assert(g.reduces.isEmpty, "stale reduce spec survived delItem")
    assert(g.dimsOf("r").isEmpty)
    val row = g.result("r").collect()
    assert(row.length == 1 && row.head.isNullAt(row.head.fieldIndex("r")),
      "deleted node must be a bare (null-valued) input")
  }

  test("map over an empty sequence yields an empty expansion — graph_test.py") {
    val g = TaskGraph.chain("a", "b").mapSeqs(Map("a" -> Seq()))
    assert(g.dimsOf("b") == Vector("dim_0"))
    assert(g.result("b").count() == 0)
  }

  test("partial dim overlap between 2-D groups aligns on the shared dim") {
    val df1 = (for (x <- 0 to 1; y <- 0 to 2) yield (x, y, x * 10 + y)).toDF("x", "y", "v")
    val df2 = (for (y <- 0 to 2; z <- 0 to 1) yield (y, z, y * 100 + z)).toDF("y", "z", "t")
    val g = TaskGraph.fromEdges("u" -> "m", "w" -> "m")
      .mapND("u", df1, Seq("x" -> "x", "y" -> "y"), "v")
      .mapND("w", df2, Seq("y" -> "y", "z" -> "z"), "t")
      .withExpr("s", Seq("m"), "m.u + m.w")
    // shared y zips; x and z cross: |x| * |y| * |z| = 2 * 3 * 2
    assert(g.result("s").count() == 12)
    // conflicting labels on the shared dim raise — merge_partial_overlap
    val df3 = (for (y <- 5 to 7; z <- 0 to 1) yield (y, z, 0)).toDF("y", "z", "t")
    assertThrows[GraftException] {
      TaskGraph.fromEdges("u" -> "m", "w" -> "m")
        .mapND("u", df1, Seq("x" -> "x", "y" -> "y"), "v")
        .mapND("w", df3, Seq("y" -> "y", "z" -> "z"), "t")
    }
  }

  test("positional slice with duplicate labels keeps all rows of kept labels") {
    // positions index DISTINCT labels (in memory: order of first
    // appearance); duplicate labels share a position
    val df = Seq(("x", 1), ("x", 2), ("y", 3)).toDF("idx", "v")
    val g = TaskGraph.chain("a", "b")
      .mapFrame(df, Map("a" -> "v"), indexCol = Some("idx"), dimName = "d")
      .byPosition("d", 0, 1)
    val rows = g.result("b").orderBy("b").collect()
    assert(rows.map(_.getAs[Int]("b")).toSeq == Seq(1, 2)) // both x rows
  }

  // --- chained groupby via branch splicing --------------------------------

  test("double groupby via splicing — groupby_test.py:50-154") {
    val dag1 = Dag.fromEdges("a" -> "c", "param1" -> "c", "c" -> "d")
      .addNode("c", Map("expr" -> "a"))
      .addNode("d", Map("expr" -> "c"))
    val grouped = TaskGraph(dag1)
      .mapSeqs(Map("a" -> Seq(11, 22, 33, 44), "param1" -> Seq("x", "x", "y", "z")))
      .groupby("param1")
      .reduce(key = "d", name = "grouped-d", attrs = Map("func" -> "sum"))

    val df2 = Seq((1, 0, "x"), (2, 1, "y"), (3, 1, "z")).toDF("e", "param2", "param1")
    val mapped = TaskGraph(Dag.fromEdges("e" -> "f", "param2" -> "f")
        .addNode("f", Map("expr" -> "e + param2")))
      .mapFrame(df2, Map("e" -> "e", "param2" -> "param2"),
        indexCol = Some("param1"), dimName = "param1")

    val spliced = mapped.setItem("e", grouped)
    assert(spliced.dimsOf("e") == Vector("param1"))
    // e's placeholder values were replaced by the grouped-d reduce
    assert(!spliced.isMapped("e"))
    val eRows = spliced.result("e").orderBy("param1").collect()
      .map(r => (r.getAs[String]("param1"), r.getAs[Long]("e"))).toSeq
    assert(eRows == Seq(("x", 33L), ("y", 33L), ("z", 44L)))

    val gt = spliced.groupby("param2")
      .reduce(key = "f", name = "grouped-f", attrs = Map("func" -> "sum"))
    assert(gt.dimsOf("grouped-f") == Vector("param2"))
    val got = gt.result("grouped-f").orderBy("param2").collect()
      .map(r => (r.getAs[Int]("param2"), r.getAs[Long]("grouped-f"))).toSeq
    // f = e + param2: x -> 33, y -> 34, z -> 45; group 0 = {x}, 1 = {y,z}
    assert(got == Seq((0, 33L), (1, 79L)))
  }

  test("three chained groupbys via splicing — groupby_test.py:625-665") {
    val g1 = TaskGraph(Dag.fromEdges("a" -> "b").addNode("b", Map("expr" -> "a")))
      .mapSeqs(Map("a" -> Seq(1, 2, 3, 4), "p1" -> Seq("x", "x", "y", "y")))
      .groupby("p1").reduce(key = "b", name = "gb1", attrs = Map("func" -> "sum"))

    val df2 = Seq((10, "x", 0), (20, "y", 1)).toDF("c", "p1", "p2")
    val m2 = TaskGraph(Dag.fromEdges("c" -> "d").addNode("d", Map("expr" -> "c")))
      .mapFrame(df2, Map("c" -> "c", "p2" -> "p2"),
        indexCol = Some("p1"), dimName = "p1")
    val g2 = m2.setItem("c", g1.getItem("gb1"))
      .groupby("p2").reduce(key = "d", name = "gb2", attrs = Map("func" -> "sum"))

    val df3 = Seq((100, 0, "A"), (200, 1, "B")).toDF("e", "p2", "p3")
    val m3 = TaskGraph(Dag.fromEdges("e" -> "f").addNode("f", Map("expr" -> "e")))
      .mapFrame(df3, Map("e" -> "e", "p3" -> "p3"),
        indexCol = Some("p2"), dimName = "p2")
    val g3 = m3.setItem("e", g2.getItem("gb2"))
      .groupby("p3").reduce(key = "f", name = "gb3", attrs = Map("func" -> "sum"))

    assert(g3.dimsOf("gb3") == Vector("p3"))
    val got = g3.result("gb3").orderBy("p3").collect()
      .map(r => (r.getAs[String]("p3"), r.getAs[Long]("gb3"))).toSeq
    // gb1: x -> 3, y -> 7; gb2: p2 0 -> 3, 1 -> 7; gb3: A -> 3, B -> 7
    assert(got == Seq(("A", 3L), ("B", 7L)))
  }

  test("re-map with same explicit dim name is a no-op — node_values.py:54-93") {
    val df = Seq((1, 10), (2, 20)).toDF("k", "v")
    val g = TaskGraph.chain("a", "b")
      .mapFrame(df, Map("a" -> "v"), indexCol = Some("k"), dimName = "mydim")
    val g2 = g.mapFrame(df, Map("a" -> "v"), indexCol = Some("k"), dimName = "mydim")
    assert(g2.groups.size == 1) // identical re-map: no-op, no dim clash error
  }

  test("Dag.compose refuses to create a cycle") {
    // two valid DAGs with opposing edges: without the check the cyclic
    // result would materialize to ZERO frames silently
    assertThrows[IllegalArgumentException] {
      Dag.fromEdges("a" -> "b").compose(Dag.fromEdges("b" -> "a"))
    }
  }

  test("joint re-map of several nodes of one group replaces them all") {
    // both a and b re-mapped in ONE call: the replace must strip BOTH from
    // the old group, not just the first (the second lookup must see the
    // already-modified catalog, not the pre-call one)
    val g = TaskGraph.fromEdges("a" -> "d", "b" -> "d", "c" -> "d")
      .mapSeqs(Map("a" -> Seq(1, 2), "b" -> Seq(3, 4), "c" -> Seq(5, 6)))
      .withNode("d2", Seq("c", "b"), Map("expr" -> "c * 100 + b"))
    val g2 = g.mapSeqs(Map("a" -> Seq(10, 20), "b" -> Seq(30, 40)))
    val got = g2.result("d2").orderBy("c").collect()
      .map(_.getAs[Int]("d2")).toSeq
    assert(got == Seq(530, 640), s"stale b values leaked: $got")
  }

  test("partial re-map keeps zip alignment with co-mapped siblings") {
    // re-mapping only `a` (auto-generated dim name differs on the second
    // call) must keep a on the ORIGINAL shared dim: a+b stays a 2-row zip,
    // never a 4-row cross product
    val g = TaskGraph.fromEdges("a" -> "c", "b" -> "c")
      .mapSeqs(Map("a" -> Seq(1, 2), "b" -> Seq(3, 4)))
      .withNode("c2", Seq("a", "b"), Map("expr" -> "a + b"))
    val g2 = g.mapSeqs(Map("a" -> Seq(10, 20)))
    assert(g2.dimsOf("a") == g2.dimsOf("b"), "re-mapped node detached from shared dim")
    val got = g2.result("c2").collect().map(_.getAs[Int]("c2")).toSet
    assert(got == Set(13, 24), s"zip became a cross product: $got")
  }

  test("setItem replaces a reduce definition with a plain branch — graph.py:480-537") {
    val g = TaskGraph.chain("a", "b")
      .mapSeqs(Map("a" -> Seq(1, 2, 3)))
      .withNode("c", Seq("b"))
      .reduce(key = "b", name = "r", attrs = Map("func" -> "sum"))
    // the spliced sink is unmapped like r (mapped-on-unmapped raises);
    // the old sum-over-b definition must be GONE: r becomes the spliced
    // branch's pass-through of the bare input x, not sum(b) = 6
    val spliced = g.setItem("r", TaskGraph.chain("x", "y"))
    assert(spliced.dag.predecessors("r") == Seq("x"))
    val rows = spliced.result("r").collect()
    assert(rows.length == 1 && rows.head.isNullAt(rows.head.fieldIndex("r")),
      s"stale ReduceSpec survived the splice: ${rows.toSeq}")
  }

  test("setItem clears the replaced key's attrs — graph.py:30-53 clear()") {
    val g = TaskGraph.chain("a", "q")
      .mapSeqs(Map("a" -> Seq(1, 2)))
      .withExpr("k", Seq("a"), "a + 1")
    val odf = Seq(Tuple1(9)).toDF("x")
    val spliced = g.setItem("k", TaskGraph.chain("x", "y")
      .mapFrame(odf, Map("x" -> "x"), indexCol = None, dimName = "other_d"))
    // the stale expr "a + 1" must not poison the new branch (x is the
    // only predecessor; a pass-through of x is the reference semantics)
    val rows = spliced.result("k").collect()
    assert(rows.length == 1 && rows.head.getAs[Int]("k") == 9)
  }

  test("byPosition on an unsorted in-memory label dim follows array order") {
    // reference iloc semantics: index [30, 10, 20] has 30 at position 0
    val df = Seq((30, "first"), (10, "second"), (20, "third")).toDF("idx", "v")
    val g = TaskGraph.chain("a", "b")
      .mapFrame(df, Map("a" -> "v"), indexCol = Some("idx"), dimName = "d")
    val got = g.byPosition("d", 0, 1).result("b").collect()
    assert(got.length == 1 && got.head.getAs[String]("b") == "first",
      s"positional slice used sorted-label order: ${got.toSeq}")
  }

  test("sel/byPosition on a groupby-created dim restrict the groups") {
    val g = TaskGraph.chain("a", "b")
      .mapSeqs(Map("a" -> Seq(1, 2, 3, 4), "param" -> Seq("x", "x", "y", "y")))
      .groupby("param")
      .reduce(key = "b", name = "r", attrs = Map("func" -> "sum"))
    // sel: keep only group "y" (b = a, so sum = 3 + 4)
    val sel = g.sel("param", "y").result("r").collect()
    assert(sel.length == 1 && sel.head.getAs[String]("param") == "y" &&
      sel.head.getAs[Long]("r") == 7L)
    // byPosition: first group in appearance order is "x" (sum = 1 + 2)
    val pos = g.byPosition("param", 0, 1).result("r").collect()
    assert(pos.length == 1 && pos.head.getAs[String]("param") == "x" &&
      pos.head.getAs[Long]("r") == 3L)
  }

  test("map dispatch routes by shape — value_array.py:26-39") {
    // sequences -> 1-D zip (sequence adapter); a nested Seq is a VALUE,
    // not an extra dim (the reference does not descend into plain lists,
    // graph_test.py:132-139)
    val g1 = TaskGraph.chain("a", "b").map(Map("a" -> Seq(1, 2, 3)))
    assert(g1.dimsOf("b") == Vector("dim_0") && g1.result("b").count() == 3)
    val g1n = TaskGraph.chain("a", "b")
      .map(Map("a" -> Seq(Seq(1, 2, 3), Seq(4, 5, 6))))
    assert(g1n.dimsOf("b") == Vector("dim_0"))
    assert(g1n.result("b").count() == 2)
    // N-D is the EXPLICIT ndarray-equivalent path
    val g2 = TaskGraph.chain("a", "b")
      .mapNestedSeqs(Map("a" -> Seq(Seq(1, 2, 3), Seq(4, 5, 6))))
    assert(g2.dimsOf("b") == Vector("dim_0", "dim_1"))
    assert(g2.result("b").count() == 6)
    val sliced = g2.byPosition("dim_0", 1, 2).result("b").orderBy("dim_1")
      .collect().map(_.getAs[Int]("b")).toSeq
    assert(sliced == Seq(4, 5, 6))
    // a DataFrame is a mapping of columns: joint map on one fresh dim
    val g3 = TaskGraph.fromEdges("x" -> "c", "y" -> "c")
      .map(Seq((1, 10), (2, 20)).toDF("x", "y"))
    assert(g3.result("c").count() == 2)
  }

  test("nested lists under the sequence adapter are values — graph_test.py:132-139") {
    val g = TaskGraph.chain("a", "b")
      .mapSeqs(Map("a" -> Seq(Seq(1, 2), Seq(3, 4), Seq(5, 6))))
    assert(g.dimsOf("b") == Vector("dim_0")) // 1-D, not 2-D
    val rows = g.result("b").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getSeq[Int](rows.head.fieldIndex("b")).toSeq).toSet ==
      Set(Seq(1, 2), Seq(3, 4), Seq(5, 6)))
  }

  test("mapNestedSeqs axis_zero offsets chained N-D dims — adapters:268-272") {
    val g = TaskGraph.fromEdges("a" -> "c", "b" -> "c")
      .map(Map("a" -> Seq(1, 2)))
      .mapNestedSeqs(Map("b" -> Seq(Seq(1, 2), Seq(3, 4))))
    assert(g.dimsOf("a") == Vector("dim_0"))
    assert(g.dimsOf("b") == Vector("dim_1", "dim_2"))
    assert(g.result("c").count() == 8)
  }

  test("unit-carrying labels: sel/loc match value AND unit — scipp adapter parity") {
    import org.apache.spark.sql.functions.col
    val df = Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("t", "v")
      .withColumn("coord", TaskGraph.unitCoord(col("t"), "s"))
    val g = TaskGraph.chain("a", "b")
      .mapFrame(df, Map("a" -> "v"), indexCol = Some("coord"), dimName = "time")
    // matching unit: found
    assert(g.sel("time", (2, "s")).result("b").collect()
      .map(_.getAs[Double]("b")).toSeq == Seq(20.0))
    // wrong unit: matches nothing (value_array_adapters.py:212-225)
    assert(g.sel("time", (2, "ms")).result("b").count() == 0)
    // range slice respects units too
    assert(g.loc("time", (1, "s"), (3, "s")).result("b").count() == 2)
    // a range in the WRONG unit matches nothing (unit is an equality,
    // never part of the lexicographic value range)
    assert(g.loc("time", (1, "ms"), (3, "ms")).result("b").count() == 0)
    // mixed-unit bounds are a caller error
    assertThrows[GraftException] { g.loc("time", (1, "s"), (3, "ms")) }
    // the unit rides on the column metadata
    val field = g.result("b").schema.fields.find(_.name == "time").get
    assert(field.metadata.getString("unit") == "s")
  }

  test("ragged nested sequences raise — ndarray adapter parity") {
    // under the ndarray adapter ragged input is unrepresentable and raises;
    // under the sequence adapter (map) the same input is two list VALUES
    assertThrows[GraftException] {
      TaskGraph.chain("a", "b").mapNestedSeqs(Map("a" -> Seq(Seq(1, 2), Seq(3, 4, 5))))
    }
    val g = TaskGraph.chain("a", "b").map(Map("a" -> Seq(Seq(1, 2), Seq(3, 4, 5))))
    assert(g.result("b").count() == 2)
  }

  test("positional slice of a labeled dim keeps null labels — null-safe semi-join") {
    val df = Seq((Option.empty[String], 1), (Some("a"), 2), (Some("b"), 3))
      .toDF("idx", "v")
    val g = TaskGraph.chain("a", "b")
      .mapFrame(df, Map("a" -> "v"), indexCol = Some("idx"), dimName = "d")
    // nulls sort first: positions are null=0, "a"=1, "b"=2
    val got = g.byPosition("d", 0, 2).result("b").orderBy("b")
      .collect().map(_.getAs[Int]("b")).toSeq
    assert(got == Seq(1, 2))
  }

  test("taskTable custom value_attr — graph_test.py:1088-1104") {
    val g = TaskGraph.chain("a", "b")
      .mapSeqs(Map("a" -> Seq(5)))
      .reduce(key = "b", name = "t", attrs = Map("func" -> "sum"))
    val cols = g.taskTable(valueAttr = "my_attr").columns.toSeq
    assert(cols == Seq("node", "index", "my_attr"))
  }

  test("setItem keeps replaced-branch ancestors that feed unrelated nodes") {
    // p feeds both b (replaced) and q (unrelated): replacing b must keep p
    val g = TaskGraph.fromEdges("p" -> "b", "p" -> "q", "r" -> "b")
    val other = TaskGraph.chain("n", "s")
    val merged = g.setItem("b", other)
    assert(merged.dag.contains("p") && merged.dag.contains("q"))
    assert(!merged.dag.contains("r")) // exclusive ancestor removed
    assert(merged.dag.predecessors("b") == Vector("n"))
  }

  test("regular reduce then groupby on the remaining dim — groupby_test.py") {
    // 2-D node c over (f-dim, dim_0); reduce the f dim, then groupby a key
    // whose dim is the surviving dim_0
    val g = TaskGraph.fromEdges("a" -> "c", "b" -> "c")
      .mapSeqs(Map("a" -> Seq(1, 2, 3, 4), "k" -> Seq("x", "x", "y", "y")))
      .mapSeqs(Map("b" -> Seq(10, 20)))
      .withExpr("d", Seq("c"), "c.a + c.b")
      .reduce(key = "d", index = "dim_1", name = "r", attrs = Map("func" -> "sum"))
      .groupby("k")
      .reduce(key = "r", name = "byk", attrs = Map("func" -> "sum"))
    val got = g.result("byk").orderBy("k").collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Long]("byk"))).toSeq
    // r per dim_0: sum over b of (a+b) = 2a+30 -> [32,34,36,38]
    assert(got == Seq(("x", 66L), ("y", 74L)))
  }

  test("getItem-setItem round-trip is a no-op — graph_test.py get/set no effects") {
    val g = TaskGraph.fromEdges("a" -> "b", "b" -> "c")
      .mapSeqs(Map("a" -> Seq(1, 2, 3)))
    val rt = g.setItem("b", g.getItem("b"))
    assert(rt.dag.nodes == g.dag.nodes)
    assert(rt.dag.edgeList.toSet == g.dag.edgeList.toSet)
    assert(rt.groups.size == g.groups.size)
    assert(rt.result("c").count() == g.result("c").count())
  }

  test("map order independence: independent groups commute — merge_order_independence") {
    val g1 = TaskGraph.fromEdges("a" -> "c", "b" -> "c")
      .mapSeqs(Map("a" -> Seq(1, 2))).mapSeqs(Map("b" -> Seq(10, 20, 30)))
      .withExpr("s", Seq("c"), "c.a + c.b")
    val g2 = TaskGraph.fromEdges("a" -> "c", "b" -> "c")
      .mapSeqs(Map("b" -> Seq(10, 20, 30))).mapSeqs(Map("a" -> Seq(1, 2)))
      .withExpr("s", Seq("c"), "c.a + c.b")
    def vals(g: TaskGraph) =
      g.result("s").collect().map(_.getAs[Int]("s")).sorted.toSeq
    assert(vals(g1) == vals(g2))
  }

  test("setItem with conflicting operand indices raises — graph_test.py:867-878") {
    val g = TaskGraph.fromEdges("a" -> "c", "b" -> "c")
      .mapSeqs(Map("a" -> Seq(1, 2, 3)))
    val d = TaskGraph(Dag.chain("b")).mapSeqs(Map("b" -> Seq(11, 12)))
      .reduce(key = "b", name = "d")
    // incoming dim_0 has 2 labels, existing dim_0 has 3 -> conflict
    assertThrows[GraftException] { g.setItem("x", d) }
  }

  test("setItem allows compatible indices at a new node — graph_test.py:881-892") {
    val g = TaskGraph.fromEdges("a" -> "b", "c" -> "d")
      .mapSeqs(Map("a" -> Seq(1, 2, 3)))
    val other = TaskGraph.fromEdges("c" -> "d")
      .mapSeqs(Map("c" -> Seq(11, 12, 13)))
      .reduce(key = "d", name = "e")
    val merged = g.setItem("x", other)
    assert(merged.indexNames == Vector("dim_0"))
    assert(merged.result("x").count() == 1)
  }

  test("setItem self-splice of own branch is a no-op merge — graph_test.py:895-924") {
    val g = TaskGraph.fromEdges("a" -> "c", "b" -> "c")
      .mapSeqs(Map("a" -> Seq(1, 2, 3), "b" -> Seq(11, 12, 13)))
      .reduce(key = "c", name = "d")
    val merged = g.setItem("x", g.getItem("d"))
    assert(merged.indexNames.size == 1)
    assert(merged.groups.size == 1)
  }

  test("setItem replaces changed node values, incoming wins — graph_test.py:927-933") {
    val g1 = TaskGraph.chain("a", "b").mapSeqs(Map("a" -> Seq(1, 2)))
      .reduce(key = "b", name = "d", attrs = Map("func" -> "sum"))
    val g2 = TaskGraph.chain("a", "b").mapSeqs(Map("a" -> Seq(1, 3)))
      .reduce(key = "b", name = "d", attrs = Map("func" -> "sum"))
    val merged = g1.setItem("x", g2.getItem("d"))
    assert(merged.indexNames.size == 1)
    // the incoming mapping of `a` replaced the old one: both d and x see [1,3]
    assert(merged.result("x").collect()(0).getAs[Long]("x") == 4L)
    assert(merged.result("d").collect()(0).getAs[Long]("d") == 4L)
  }

  test("setItem re-map of a zipped node keeps the siblings' dim, as map does") {
    // a is re-mapped onto a dim with another name: like mapFrame, the
    // merge keeps a on its old dim, so c(a, b) stays a 2-row zip
    val g = TaskGraph.fromEdges("a" -> "c", "b" -> "c", "a" -> "k")
      .mapSeqs(Map("a" -> Seq(1, 2), "b" -> Seq(3, 4)))
    val spliced = g.setItem("k",
      TaskGraph.chain("a", "y").mapFrame(Seq(5, 6).toDF("a"), dimName = "zz"))
    assert(spliced.dimsOf("c") == Vector("dim_0"))
    val rows = spliced.result("c").collect()
      .map(r => (r.getAs[Int]("a"), r.getAs[Int]("b"))).sorted.toSeq
    assert(rows == Seq((5, 3), (6, 4)), s"zip became a cross product: $rows")
  }

  test("setItem raises on a groupby-dim label conflict, as map does") {
    val g = TaskGraph(Dag.empty)
      .mapSeqs(Map("x" -> Seq(1, 2, 3), "k" -> Seq("x", "y", "x")))
      .groupby("k").reduce(key = "x", name = "s", attrs = Map("func" -> "sum"))
      .withExpr("w", Seq("s"), "s")
      .withExpr("z", Seq("s"), "s + 1")
    // the groupby dim k has labels x, y; the incoming table labels it x, y, z
    val df = Seq(("x", 10), ("y", 20), ("z", 30)).toDF("k", "u")
    val e1 = intercept[GraftException] {
      g.mapFrame(df, Map("u" -> "u"), indexCol = Some("k"), dimName = "k")
    }
    val e2 = intercept[GraftException] {
      g.setItem("w", TaskGraph.chain("u", "v")
        .mapFrame(df, Map("u" -> "u"), indexCol = Some("k"), dimName = "k"))
    }
    assert(e1.getMessage.contains("Conflicting index values"))
    assert(e2.getMessage.contains("Conflicting index values"))
  }

  test("shared dim name across groups requires identical labels") {
    val d1 = Seq((1, 10), (2, 20)).toDF("k", "v")
    val d2 = Seq((1, 7), (2, 8)).toDF("k", "w")
    val d3 = Seq((5, 7), (6, 8)).toDF("k", "w")
    val base = TaskGraph.fromEdges("a" -> "c", "b" -> "c")
      .mapFrame(d1, Map("a" -> "v"), indexCol = Some("k"), dimName = "shared")
    // same labels: allowed, dims align (zip at descendants)
    val ok = base.mapFrame(d2, Map("b" -> "w"), indexCol = Some("k"), dimName = "shared")
    assert(ok.result("c").count() == 2)
    // conflicting labels: raise (node_values.py:79-90)
    assertThrows[GraftException] {
      base.mapFrame(d3, Map("b" -> "w"), indexCol = Some("k"), dimName = "shared")
    }
  }

  test("strict validation: file-backed dim-length mismatch raises eagerly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_strict").toString
    Seq(1, 2, 3).toDF("v").write.mode("overwrite").parquet(s"$dir/p3")
    Seq(4, 5).toDF("w").write.mode("overwrite").parquet(s"$dir/p2")
    Seq(7, 8, 9).toDF("u").write.mode("overwrite").parquet(s"$dir/q3")
    val f3 = spark.read.parquet(s"$dir/p3")
    val f2 = spark.read.parquet(s"$dir/p2")
    val g3 = spark.read.parquet(s"$dir/q3")
    def collide(second: org.apache.spark.sql.DataFrame, c: String) =
      TaskGraph.fromEdges("a" -> "c", "b" -> "c")
        .mapFrame(f3, Map("a" -> "v"), dimName = "x")
        .mapFrame(second, Map("b" -> c), dimName = "x")
    def remap(second: org.apache.spark.sql.DataFrame, c: String) =
      TaskGraph.chain("a", "b")
        .mapFrame(f3, Map("a" -> "v"), dimName = "x")
        .mapFrame(second, Map("a" -> c), dimName = "x")
    // default: construction stays job-free, shape checks defer to join
    // semantics (the 100 TB posture) — no throw at build time
    collide(f2, "w"); remap(f2, "w")
    spark.conf.set("spark.graft.strictValidation", "true")
    try {
      val e1 = intercept[GraftException](collide(f2, "w"))
      assert(e1.getMessage.contains("Conflicting index lengths"))
      val e2 = intercept[GraftException](remap(f2, "w"))
      assert(e2.getMessage.contains("Conflicting index lengths"))
      // equal lengths still pass in strict mode
      assert(collide(g3, "u").result("c").count() == 3)
      remap(g3, "u")
    } finally spark.conf.unset("spark.graft.strictValidation")
  }

  // --- one join discipline: plan size linear in the DAG ------------------

  /** (logical plan nodes, Join nodes) of a result frame. */
  private def planSize(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    val plan = df.queryExecution.logical
    (plan.collect { case n => n }.size,
      plan.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.size)
  }

  private def mappedX(rows: Int): TaskGraph =
    TaskGraph(Dag.empty).mapFrame((0 until rows).map(i => (1000L + i, i.toLong)).toDF("id", "x"),
      Map("x" -> "x"), indexCol = Some("id"), dimName = "i")

  /** k diamonds over `mappedX(rows)`: l_s = j_{s-1} + s, r_s = j_{s-1} - s,
    * j_s = l_s + r_s = 2 j_{s-1}, with j_0 = x. */
  private def ladder(k: Int, rows: Int): TaskGraph =
    (1 to k).foldLeft(mappedX(rows)) { (g, s) =>
      val prev = if (s == 1) "x" else s"j${s - 1}"
      g.withExpr(s"l$s", Seq(prev), s"$prev + $s")
        .withExpr(s"r$s", Seq(prev), s"$prev - $s")
        .withExpr(s"j$s", Seq(s"l$s", s"r$s"), s"l$s + r$s")
    }

  /** `width` derived nodes y_m = x + 1 over `mappedX(10)`, summed by z. */
  private def fanIn(width: Int): TaskGraph = {
    val ys = (1 to width).map(m => s"y$m")
    ys.foldLeft(mappedX(10))((g, y) => g.withExpr(y, Seq("x"), s"x + 1"))
      .withExpr("z", ys, ys.mkString(" + "))
  }

  test("a ladder of 12 diamonds plans no join and at most 2 logical nodes per DAG node") {
    val k = 12
    val g = ladder(k, 1000)
    val f = g.result(s"j$k")
    val (nodes, joins) = planSize(f)
    assert(joins == 0, s"$joins joins")
    assert(nodes <= 2 * g.dag.nodes.size, s"$nodes logical nodes for ${g.dag.nodes.size} DAG nodes")
    // j_s = 2 * j_{s-1}: x = 3 at id 1003 gives 3 * 2^k
    assert(f.filter("i = 1003").select(s"j$k").as[Long].collect().toSeq == Seq(3L << k))
  }

  test("a fan-in of width 16 plans no join") {
    val g = fanIn(16)
    assert(planSize(g.result("z"))._2 == 0)
    assert(g.result("z").filter("i = 1002").select("z").as[Long].collect().toSeq == Seq(48L))
  }

  test("two groups on a shared dim keep exactly one join") {
    val g = mappedX(10)
      .mapFrame((0 until 10).map(i => (1000L + i, 10L * i)).toDF("id", "y"),
        Map("y" -> "y"), indexCol = Some("id"), dimName = "i")
      .withExpr("z", Seq("x", "y"), "x + y")
    assert(planSize(g.result("z"))._2 == 1)
    assert(g.result("z").count() == 10)
  }

  test("a node over co-grouped file-backed columns starts no positional-label job") {
    // two files, two partitions: zipWithIndex would run a job for the
    // partition offsets if the positional labels were materialized
    val dir = SparkTestSession.tmpPath("cogrouped_positional")
    Seq((1, 10), (2, 20), (3, 30), (4, 40)).toDF("a", "b").repartition(2)
      .write.mode("overwrite").parquet(dir)
    val g = TaskGraph(Dag.fromEdges("a" -> "c", "b" -> "c").addNode("c", Map("expr" -> "a + b")))
      .mapFrame(spark.read.parquet(dir))
    assert(g.dimsOf("c") == Vector("dim_0"))
    val (f, work) = SparkTestSession.jobsStartedBy(g.result("c"))
    assert(work.jobs.isEmpty, work.jobs.mkString(" | "))
    assert(f.select("c").as[Int].collect().sorted.toSeq == Seq(11, 22, 33, 44))
  }

  test("a node joined with a groupby dim of its own name raises instead of hiding it") {
    val g = TaskGraph(Dag.empty)
      .mapSeqs(Map("n1" -> Seq(1, 1, 2), "n2" -> Seq(10, 20, 30)))
      .groupby("n1").reduce(key = "n2", name = "rr")
      .withNode("u", Seq("rr", "n1"))
    assert(g.dimsOf("u") == Vector("dim_0", "n1"))
    val e = intercept[GraftException](g.result("u"))
    assert(e.getMessage.contains("'n1'"))
    intercept[GraftException](g.taskTable())
  }

  test("a co-grouped sibling named like a groupby dim yields to the dim's labels") {
    // u over n2 and rr: n2's frame also carries n1's values, which must
    // not stand in for (or join on) the groupby dim n1 of rr
    val g = TaskGraph(Dag.empty)
      .mapSeqs(Map("n1" -> Seq(1, 1, 2), "n2" -> Seq(10, 20, 40)))
      .groupby("n1").reduce(key = "n2", name = "rr", attrs = Map("func" -> "sum"))
      .withNode("u", Seq("n2", "rr"))
    val rows = g.result("u", needPositional = true)
      .select($"dim_0", $"n1", $"u.n2", $"u.rr").as[(Long, Int, Int, Long)].collect()
    assert(rows.map(r => (r._1, r._2)).distinct.length == 6)
    assert(rows.forall(r => r._4 == (if (r._2 == 1) 30L else 40L)))
  }

  test("a diamond over duplicate labels has as many copies as the chain") {
    val dag = Dag.fromEdges("a" -> "b", "a" -> "c", "b" -> "d", "c" -> "d")
      .addNode("b", Map("expr" -> "a + 1"))
      .addNode("c", Map("expr" -> "a - 1"))
      .addNode("d", Map("expr" -> "b * c"))
    val g = TaskGraph(dag).mapFrame(Seq(("k1", 5), ("k1", 7)).toDF("idx", "v"),
      Map("a" -> "v"), indexCol = Some("idx"), dimName = "x")
    assert(g.result("b").count() == 2)
    assert(g.result("d").count() == g.result("b").count())
    assert(g.result("d").select("d").as[Int].collect().sorted.toSeq == Seq(24, 48))
  }

  // --- derived frames: one select per level over live columns -----------

  /** (Project nodes, summed Project widths) of a frame's analyzed plan. */
  private def projects(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    val ps = df.queryExecution.analyzed.collect {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project => p.projectList.size
    }
    (ps.size, ps.sum)
  }

  test("a ladder of 24 diamonds projects at most 8 columns per diamond") {
    val k = 24
    val f = ladder(k, 10).result(s"j$k")
    val width = projects(f)._2
    assert(width <= 8 * k, s"summed Project width $width for k = $k")
    assert(f.filter("i = 1003").select(s"j$k").as[Long].collect().toSeq == Seq(3L << k))
  }

  test("a fan-in of width 16 builds at most one Project per level") {
    val g = fanIn(16)
    val built = projects(g.result("z"))._1 - projects(g.result("x"))._1
    assert(built <= 2, s"$built Projects over the input frame")
  }

  test("a reduce over a derived pred joins no co-grouped groupby key") {
    val df = (0 until 12).map(i => (1000L + i, i.toLong, i % 3L)).toDF("id", "x", "k")
    val g = TaskGraph(Dag.empty)
      .mapFrame(df, Map("x" -> "x", "k" -> "k"), Some("id"), "i")
      .withExpr("y1", Seq("x"), "x * 2")
      .withExpr("y", Seq("y1"), "y1 + 1")
      .groupby("k").reduce(key = "y", name = "s", attrs = Map("func" -> "sum"))
    val f = g.result("s")
    assert(planSize(f)._2 == 0)
    // group k holds x = k, k + 3, k + 6, k + 9: sum of 2x + 1 is 8k + 40
    assert(f.select($"k", $"s").as[(Long, Long)].collect().toMap ==
      (0L until 3L).map(k => k -> (8 * k + 40)).toMap)
  }

  test("taskTable and edgeTable of a ladder list every copy and edge of every level") {
    val k = 4
    val g = ladder(k, 3)
    val xs = 0L until 3L
    def at(x: Long) = Map("i" -> (1000L + x).toString)
    val copies = xs.flatMap { x =>
      ("x", at(x), x.toString) +: (1 to k).flatMap { s =>
        val prev = x << (s - 1)
        Seq(("l" + s, at(x), (prev + s).toString), ("r" + s, at(x), (prev - s).toString),
          ("j" + s, at(x), (2 * prev).toString))
      }
    }
    val tasks = g.taskTable().collect().toSeq.map(r => (r.getAs[String]("node"),
      r.getAs[Map[String, String]]("index"), r.getAs[String]("value")))
    assert(tasks.sortBy(_.toString) == copies.sortBy(_.toString))
    val edges = xs.flatMap { x =>
      (1 to k).flatMap { s =>
        val prev = if (s == 1) "x" else s"j${s - 1}"
        Seq(prev -> s"l$s", prev -> s"r$s", s"l$s" -> s"j$s", s"r$s" -> s"j$s")
      }.map { case (p, c) => (p, at(x), c, at(x)) }
    }
    val got = g.edgeTable().collect().toSeq.map(r => (r.getAs[String]("src"),
      r.getAs[Map[String, String]]("src_index"), r.getAs[String]("dst"),
      r.getAs[Map[String, String]]("dst_index")))
    assert(got.sortBy(_.toString) == edges.sortBy(_.toString))
  }

  test("an expression may read a derived ancestor it does not declare") {
    val g = mappedX(3)
      .withExpr("a", Seq("x"), "x + 1")
      .withExpr("b", Seq("a"), "a * 10")
      .withExpr("c", Seq("b"), "b + a")
      .withExpr("d", Seq("c"), "c + B")
    assert(g.result("c").select($"i", $"c").as[(Long, Long)].collect().toMap ==
      Map(1000L -> 11L, 1001L -> 22L, 1002L -> 33L))
    assert(g.result("d").select($"i", $"d").as[(Long, Long)].collect().toMap ==
      Map(1000L -> 21L, 1001L -> 42L, 1002L -> 63L))
  }

  test("a derived node named like a dim raises instead of replacing its labels") {
    val g = TaskGraph(Dag.empty)
      .mapFrame(Seq((10L, 1L), (20L, 2L)).toDF("id", "x"), Map("x" -> "x"),
        indexCol = Some("id"), dimName = "i")
      .withExpr("i", Seq("x"), "x + 100")
    val e = intercept[GraftException](g.result("i"))
    assert(e.getMessage.contains("'i'"))
  }

  // --- shared-dim label checks and labeled slices over in-memory tables ---

  /** Two one-column-plus-label tables mapped onto the shared dim `s`. */
  private def sharedDim(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): TaskGraph =
    TaskGraph.fromEdges("a" -> "c", "b" -> "c")
      .mapFrame(a, Map("a" -> "v"), indexCol = Some("k"), dimName = "s")
      .mapFrame(b, Map("b" -> "v"), indexCol = Some("k"), dimName = "s")

  private def ids(from: Long, n: Int): org.apache.spark.sql.DataFrame =
    (0 until n).map(i => (from + i, i.toLong)).toDF("k", "v")

  test("a second in-memory table on a shared labeled dim starts no job") {
    val (g, work) = SparkTestSession.jobsStartedBy(sharedDim(ids(1000, 100), ids(1000, 100)))
    assert(work.jobs.isEmpty, work.jobs.mkString(" | "))
    assert(g.result("c").count() == 100)
    val (raised, conflictWork) = SparkTestSession.jobsStartedBy(
      scala.util.Try(sharedDim(ids(1000, 100), ids(1001, 100))))
    assert(raised.failed.get.getMessage.contains("Conflicting index values"))
    assert(conflictWork.jobs.isEmpty, conflictWork.jobs.mkString(" | "))
  }

  test("setItem onto a groupby dim over in-memory tables starts no job") {
    val px = (0 until 100).map(i => (1000L + i, i.toLong, i % 10L)).toDF("id", "x", "g")
    val pk = (0L until 10L).map(k => (k, 0L)).toDF("g", "a0")
    val grouped = TaskGraph(Dag.empty)
      .mapFrame(px, Map("x" -> "x", "g" -> "g"), Some("id"), "i")
      .groupby("g").reduce(key = "x", name = "s", attrs = Map("func" -> "sum"))
    val base = TaskGraph(Dag.fromEdges("a" -> "b").addNode("b", Map("expr" -> "a * 2")))
      .mapFrame(pk, Map("a" -> "a0"), Some("g"), "g")
    val (g, work) = SparkTestSession.jobsStartedBy(base.setItem("a", grouped.getItem("s")))
    assert(work.jobs.isEmpty, work.jobs.mkString(" | "))
    val got = g.result("b").select($"g", $"b").as[(Long, Long)].collect().toMap
    // group k sums x = k, k + 10, ..., k + 90: 10k + 450
    assert(got == (0L until 10L).map(k => k -> 2 * (10 * k + 450)).toMap)
  }

  test("a labeled in-memory byPosition plans no join and keeps null and duplicate labels") {
    // first appearance: "b" at 0, null at 1, "a" at 2
    val df = Seq((Some("b"), 1), (None, 2), (Some("b"), 3), (Some("a"), 4), (None, 5))
      .toDF("idx", "v")
    val g = TaskGraph.chain("a", "b")
      .mapFrame(df, Map("a" -> "v"), indexCol = Some("idx"), dimName = "d")
    def sliced(lo: Int, hi: Int) = g.byPosition("d", lo, hi).result("b")
    assert(planSize(sliced(0, 2))._2 == 0)
    assert(sliced(0, 2).select("b").as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 5))
    assert(sliced(2, 3).select("b").as[Int].collect().toSeq == Seq(4))
    assert(sliced(3, 9).count() == 0)
  }

  test("a labeled in-memory byPosition keeps the label column's unit") {
    import org.apache.spark.sql.functions.col
    val df = Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("t", "v")
      .withColumn("coord", TaskGraph.unitCoord(col("t"), "s"))
    val f = TaskGraph.chain("a", "b")
      .mapFrame(df, Map("a" -> "v"), indexCol = Some("coord"), dimName = "time")
      .byPosition("time", 1, 3).result("b")
    assert(f.select("b").as[Double].collect().sorted.toSeq == Seq(20.0, 30.0))
    assert(f.schema("time").metadata.getString("unit") == "s")
  }

  test("identical binary labels are one label: shared dim, re-map and byPosition") {
    val a = Seq((Array[Byte](1, 2), 1)).toDF("k", "v")
    val b = Seq((Array[Byte](1, 2), 2)).toDF("k", "v")
    assert(sharedDim(a, b).result("c").count() == 1)
    assertThrows[GraftException](sharedDim(a, Seq((Array[Byte](1, 3), 2)).toDF("k", "v")))
    // a re-map onto equal byte labels replaces the values
    val remapped = TaskGraph.chain("a", "b")
      .mapFrame(a, Map("a" -> "v"), indexCol = Some("k"), dimName = "s")
      .mapFrame(b, Map("a" -> "v"), indexCol = Some("k"), dimName = "s")
    assert(remapped.result("b").select("b").as[Int].collect().toSeq == Seq(2))
    // equal byte labels share one position: [1,2] at 0, [3] at 1
    val dup = Seq((Array[Byte](1, 2), 1), (Array[Byte](1, 2), 2), (Array[Byte](3), 3))
      .toDF("k", "v")
    val g = TaskGraph.chain("a", "b")
      .mapFrame(dup, Map("a" -> "v"), indexCol = Some("k"), dimName = "s")
    assert(g.byPosition("s", 1, 2).result("b").select("b").as[Int].collect().toSeq == Seq(3))
  }

  test("shared-dim labels compare as sets: signed zeros, NaN and duplicates") {
    val a = Seq((0.0, 1), (-0.0, 2), (Double.NaN, 3)).toDF("k", "v")
    val b = Seq((0.0, 7), (Double.NaN, 8)).toDF("k", "v")
    sharedDim(a, b)
    sharedDim(b, a)
    assertThrows[GraftException](sharedDim(a, Seq((0.0, 7), (1.0, 8)).toDF("k", "v")))
    val dups = Seq((1, 1), (1, 2), (2, 3)).toDF("k", "v")
    sharedDim(dups, Seq((1, 4), (2, 5), (2, 6)).toDF("k", "v"))
    assertThrows[GraftException](sharedDim(dups, Seq((1, 4), (3, 5)).toDF("k", "v")))
  }

  test("a groupby dim whose labels do not fold in memory still raises on a conflict") {
    // the key arrives through a join of two in-memory tables: metadata
    // scale, but no LocalRelation, so the labels dedupe through Spark
    val keys = Seq((1, "x"), (2, "y"), (3, "x")).toDF("id", "k")
    val vals = Seq((1, 10), (2, 20), (3, 30)).toDF("id", "v")
    val g = TaskGraph(Dag.empty)
      .mapFrame(vals.join(keys, "id"), Map("x" -> "v", "k" -> "k"), Some("id"), "i")
      .groupby("k").reduce(key = "x", name = "s", attrs = Map("func" -> "sum"))
    def mapK(labels: String*) =
      g.mapFrame(labels.map(l => (l, 1)).toDF("k", "u"), Map("u" -> "u"), Some("k"), "k")
    val (_, work) = SparkTestSession.jobsStartedBy(mapK("x", "y"))
    assert(work.jobs.nonEmpty, "the joined key frame folded to an in-memory table")
    val e = intercept[GraftException](mapK("x", "z"))
    assert(e.getMessage.contains("Conflicting index values"))
  }

  test("a shared dim past 100,000 distinct labels defers; below it, a mismatch raises") {
    // the existing side past the bound: no eager compare
    sharedDim(ids(0, 100001), ids(1, 100001))
    // the existing side within it: the new side cannot be equal
    assertThrows[GraftException](sharedDim(ids(0, 10), ids(0, 100001)))
  }

  // --- one label-check rule: every check over every input kind -----------

  test("label checks by input kind: re-map and shared dim, same and other labels") {
    import org.apache.spark.sql.DataFrame
    val same: Seq[Long] = 0L until 4L
    val other: Seq[Long] = 1L until 6L // another length and other values
    def inMemory(ks: Seq[Long]): DataFrame = ks.map(k => (k, 10 * k)).toDF("k", "v")
    val files = Seq(same, other).map { ks =>
      val path = SparkTestSession.tmpPath(s"label_matrix_${ks.head}_${ks.size}")
      inMemory(ks).write.mode("overwrite").parquet(path)
      ks -> path
    }.toMap
    val kinds: Seq[(String, Seq[Long] => DataFrame, Option[String])] = Seq(
      ("in-memory", inMemory, Some("k")),
      ("in-memory join", ks => ks.toDF("k").join(inMemory(ks), "k"), Some("k")),
      ("range", ks => spark.range(ks.head, ks.last + 1)
        .select($"id".as("k"), ($"id" * 10).as("v")), Some("k")),
      ("labeled parquet", ks => spark.read.parquet(files(ks)), Some("k")),
      ("positional parquet", ks => spark.read.parquet(files(ks)), None))
    // (kind, check) -> (raises, Spark jobs the checked call starts). Every
    // driver-side kind is compared at the call, re-map and shared dim
    // alike; a join or a range collects its labels through Spark jobs,
    // in-memory rows fold without one. Parquet defers to the dim join.
    val want = Map(
      ("in-memory", "re-map same") -> (false, 0),
      ("in-memory", "re-map other") -> (true, 0),
      ("in-memory", "shared same") -> (false, 0),
      ("in-memory", "shared other") -> (true, 0),
      ("in-memory join", "re-map same") -> (false, 0),
      ("in-memory join", "re-map other") -> (true, 4),
      ("in-memory join", "shared same") -> (false, 0),
      ("in-memory join", "shared other") -> (true, 4),
      ("range", "re-map same") -> (false, 0),
      ("range", "re-map other") -> (true, 2),
      ("range", "shared same") -> (false, 0),
      ("range", "shared other") -> (true, 2),
      ("labeled parquet", "re-map same") -> (false, 0),
      ("labeled parquet", "re-map other") -> (false, 0),
      ("labeled parquet", "shared same") -> (false, 0),
      ("labeled parquet", "shared other") -> (false, 0),
      ("positional parquet", "re-map same") -> (false, 0),
      ("positional parquet", "re-map other") -> (false, 0),
      ("positional parquet", "shared same") -> (false, 0),
      ("positional parquet", "shared other") -> (false, 0))
    val got = for {
      (kind, table, idx) <- kinds
      (check, base, node) <- Seq(
        ("re-map", TaskGraph.chain("a", "b"), "a"),
        ("shared", TaskGraph.fromEdges("a" -> "c", "b" -> "c"), "b"))
      (labels, ks) <- Seq("same" -> same, "other" -> other)
    } yield {
      val g = base.mapFrame(table(same), Map("a" -> "v"), idx, "s")
      val df = table(ks)
      val (r, work) = SparkTestSession.jobsStartedBy(
        scala.util.Try(g.mapFrame(df, Map(node -> "v"), idx, "s")))
      r.failed.foreach(e => assert(e.isInstanceOf[GraftException], e.toString))
      (kind, s"$check $labels") -> ((r.isFailure, work.jobs.size))
    }
    val diff = got.filter { case (k, v) => want(k) != v }
    assert(diff.isEmpty, diff.map { case (k, v) => s"$k got $v want ${want(k)}" }.mkString("\n"))
  }

  // --- names, value types and re-map values -------------------------------

  test("node and dim names with dots are names: derive, reduce, groupby, task and edge tables") {
    val g = TaskGraph.fromEdges("a.b" -> "c")
      .mapSeqs(Map("a.b" -> Seq(1, 2, 3), "k.k" -> Seq("p", "q", "p")))
      .groupby("k.k").reduce(key = "a.b", name = "s.s", attrs = Map("func" -> "sum"))
      .reduce(key = "a.b", name = "t", attrs = Map("func" -> "sum"))
    assert(g.result("c").select("c").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    assert(g.result("t").select("t").as[Long].collect().toSeq == Seq(6L))
    assert(g.result("s.s").select("`k.k`", "`s.s`").as[(String, Long)].collect().toMap ==
      Map("p" -> 4L, "q" -> 2L))
    val tasks = g.taskTable().collect()
      .map(r => (r.getString(0), r.getAs[Map[String, String]](1), r.getString(2))).toSet
    assert(tasks.filter(_._1 != "a.b").filter(_._1 != "k.k") == Set(
      ("c", Map("dim_0" -> "0"), "1"), ("c", Map("dim_0" -> "1"), "2"),
      ("c", Map("dim_0" -> "2"), "3"), ("t", Map.empty[String, String], "6"),
      ("s.s", Map("k.k" -> "p"), "4"), ("s.s", Map("k.k" -> "q"), "2")))
    assert(tasks.count(_._1 == "k.k") == 3)
    val intoGroups = g.edgeTable().collect()
      .map(r => (r.getString(0), r.getAs[Map[String, String]](1), r.getString(2),
        r.getAs[Map[String, String]](3)))
      .filter(_._3 == "s.s").toSet
    assert(intoGroups == Set("a.b", "k.k").flatMap(src => Seq(0 -> "p", 1 -> "q", 2 -> "p").map {
      case (i, k) => (src, Map("dim_0" -> i.toString), "s.s", Map("k.k" -> k))
    }))
  }

  test("map of a value that is not a Seq raises naming the node") {
    val g = TaskGraph.chain("a", "b")
    Seq[Any](5, Array(1, 2)).foreach { v =>
      val e = intercept[GraftException](g.map(Map("a" -> v)))
      assert(e.getMessage.contains("'a'"), e.getMessage)
    }
  }

  test("mapSeqs types a sequence by its first non-null value") {
    import org.apache.spark.sql.types._
    val f = TaskGraph(Dag.empty).mapSeqs(Map(
      "f" -> Seq(1.5f, 2.5f), "s" -> Seq(1.toShort, 2.toShort),
      "n" -> Seq(null, 2), "a" -> Seq(Seq(), Seq(1L, 2L)))).result("f")
    assert(Seq("f", "s", "n", "a").map(f.schema(_).dataType) ==
      Seq(FloatType, ShortType, IntegerType, ArrayType(LongType)))
    val row = f.orderBy(org.apache.spark.sql.functions.col("f")).collect().toSeq
      .map(r => (r.getAs[Float]("f"), r.getAs[Short]("s"), Option(r.getAs[Any]("n")),
        r.getAs[Seq[Long]]("a")))
    assert(row == Seq((1.5f, 1.toShort, None, Seq.empty[Long]), (2.5f, 2.toShort, Some(2), Seq(1L, 2L))))
  }

  test("a re-map of the same values in another order replaces them") {
    val g = TaskGraph.chain("a", "b").mapSeqs(Map("a" -> Seq(1, 2, 3)))
      .mapSeqs(Map("a" -> Seq(3, 2, 1)))
    assert(g.result("b", needPositional = true).select("dim_0", "b").as[(Long, Int)]
      .collect().sorted.toSeq == Seq((0L, 3), (1L, 2), (2L, 1)))
  }
}

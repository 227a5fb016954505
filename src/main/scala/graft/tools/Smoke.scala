package graft.tools

import org.apache.spark.sql.SparkSession
import graft.core.TaskGraph
import graft.queries.Tables

/** End-to-end smoke driver: exercises the TaskGraph public API against the
  * real parquet test tables and prints results + the physical plan of the
  * flagship query. Run with:
  *   sbt "runMain graft.tools.Smoke [sfDir]"
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    implicit val spark: SparkSession = graft.GraftSession()

    val lineitem = Tables.lineitem(spark, sfDir)

    // SURVEY §7.2 minimum slice: lineitem_row -> revenue -> total
    val g = TaskGraph.chain("l_extendedprice", "revenue")
      .mapFrame(lineitem, Map(
        "l_extendedprice" -> "l_extendedprice",
        "l_discount" -> "l_discount",
        "l_returnflag" -> "l_returnflag"))
      .withExpr("revenue2", Seq("l_extendedprice", "l_discount"),
        "l_extendedprice * (1 - l_discount)")
      .reduce(key = "revenue2", name = "total", attrs = Map("func" -> "sum"))

    println("== reduce-all (total revenue) ==")
    val total = g.result("total")
    total.show(false)
    println(total.queryExecution.executedPlan.toString.linesIterator.take(12).mkString("\n"))

    // groupby twin: TPC-H Q1 skeleton
    val q1 = g.groupby("l_returnflag")
      .reduce(key = "revenue2", name = "rev_by_flag", attrs = Map("func" -> "sum"))
    println("== groupby(l_returnflag) revenue ==")
    q1.result("rev_by_flag").orderBy("l_returnflag").show(false)

    // slicing + branch surgery round-trip
    val sliced = g.byPosition("dim_0", 0, 100)
    println(s"== positional slice rows: ${sliced.result("revenue2").count()} ==")
    val branch = g.getItem("revenue2")
    println(s"== branch nodes: ${branch.dag.nodeList.mkString(",")} ==")

    println("== task table sample ==")
    TaskGraph.chain("a", "b")
      .mapFrame(Tables.region(spark, sfDir),
        Map("a" -> "r_name"), indexCol = Some("r_regionkey"), dimName = "rk")
      .reduce(key = "b", name = "all_regions")
      .taskTable().show(20, false)

    println("== edge table sample (groupby wiring) ==")
    TaskGraph(graft.core.Dag.empty)
      .mapFrame(Tables.nation(spark, sfDir),
        Map("n_name" -> "n_name", "rkey" -> "n_regionkey"),
        indexCol = Some("n_nationkey"), dimName = "nk")
      .groupby("rkey")
      .reduce(key = "n_name", name = "per_region", attrs = Map("func" -> "count"))
      .edgeTable().show(8, false)

    println("== chained groupby via splice (order revenue by priority) ==")
    val li2 = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    val g1 = TaskGraph(graft.core.Dag.chain("price", "rev")
        .addNode("rev", Map("expr" -> "CAST(price AS DECIMAL(27,6))")))
      .mapFrame(li2, Map("price" -> "l_extendedprice", "param1" -> "l_orderkey"))
      .groupby("param1")
      .reduce(key = "rev", name = "order_rev", attrs = Map("func" -> "sum"))
    val withItems = ord.join(
      li2.select(org.apache.spark.sql.functions.col("l_orderkey")).distinct(),
      org.apache.spark.sql.functions.col("o_orderkey") ===
        org.apache.spark.sql.functions.col("l_orderkey"), "left_semi")
    val chained = TaskGraph(graft.core.Dag.fromEdges("orev" -> "w")
        .addNode("w", Map("expr" -> "orev")))
      .mapFrame(withItems, Map("orev" -> "o_totalprice", "prio" -> "o_orderpriority"),
        indexCol = Some("o_orderkey"), dimName = "param1")
      .setItem("orev", g1.getItem("order_rev"))
      .groupby("prio")
      .reduce(key = "w", name = "prio_rev", attrs = Map("func" -> "sum"))
    chained.result("prio_rev").orderBy("prio").show(false)

    spark.stop()
  }
}

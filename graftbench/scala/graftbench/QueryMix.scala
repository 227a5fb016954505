package graftbench

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.queries.QueryDef

/** QueryDef members, each timed as `fn` followed by the noop-sink write,
  * over tables generated at setup, or over `tables` when given. The
  * generated tables come from a fixed generator seed (the run seed only
  * permutes op order), so a member's work is the same in every run.
  */
final class QueryMix(members: Seq[String], tables: Option[String]) extends Workload {
  val name: String = QueryMix.Name
  /** Pass 2 runs about 10% slower than the passes after it; a longer
    * warm-up (a pass costs 8-10 s) would not fit the run. */
  val warmupPasses = 1

  def setup(spark: SparkSession, seed: Long, work: String): Seq[Op] = {
    val dataDir = tables.getOrElse {
      QueryMix.Tables.write(spark, s"$work/data", QueryMix.DataSeed)
      s"$work/data"
    }
    Workloads.parallel(QueryMix.Tables.Names)(t => spark.read.parquet(s"$dataDir/$t.parquet").count())
    val defs = SparkEntry.defs.map(d => d.name -> d).toMap
    members.map(m => new QueryMix.Member(
      defs.getOrElse(m, sys.error(s"no QueryDef named $m")), dataDir, s"$work/out"))
  }
}

object QueryMix {
  val Name = "query_mix"
  val DataSeed = 42L

  final class Member(d: QueryDef, dataDir: String, outDir: String) extends Op {
    val id: String = d.name
    val layer = "query"
    def oracle: Option[String] = d.oracle
    def run(spark: SparkSession, c: OpClock): DataFrame = c.build(d.fn(spark, dataDir))
    /** Writes the output to `outDir/<id>` for the DuckDB oracle replay,
      * which judges it. */
    def check(df: DataFrame): Option[String] = {
      df.write.mode("overwrite").parquet(s"$outDir/$id")
      None
    }
  }

  /** Seeded TPC-H-like star schema plus events, documents and embeddings,
    * with the column names and types the QueryDefs read. One parquet file
    * per table.
    */
  object Tables {
    val Names: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val Customers = 300
    val Suppliers = 20
    val Parts = 400
    val Orders = 3000
    val Events = 2000
    val Documents = 500
    val Embeddings = 500
    val Dim = 64
    val Vocab: Vector[String] = Vector("the", "a", "fast", "slow", "big", "small", "key",
      "value", "row", "column", "table", "scan", "join", "hash", "sort", "merge", "group",
      "agg", "filter", "window", "stream", "batch", "spark", "query", "data", "vector",
      "line", "order", "part", "customer")

    private def f(name: String, t: DataType) = StructField(name, t, nullable = true)
    private def money(x: Double): Double = math.round(x * 100) / 100.0

    def write(spark: SparkSession, dir: String, seed: Long): Unit = {
      def r(stream: Long, i: Long, n: Long): Long = Rng.below(seed, stream, i, n)
      def u(stream: Long, i: Long): Double = Rng.unit(seed, stream, i)
      val tables = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[StructField], Seq[Row])]
      def save(name: String, fields: Seq[StructField], rows: Seq[Row]): Unit =
        tables += ((name, fields, rows))
      def pick[T](xs: Seq[T], stream: Long, i: Long): T = xs(r(stream, i, xs.size).toInt)
      val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)

      save("region", Seq(f("r_regionkey", IntegerType), f("r_name", StringType)),
        Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
          .map { case (n, i) => Row(i, n) })
      save("nation", Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType)),
        (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
      save("customer", Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType)),
        (0 until Customers).map(i => Row(i.toLong, f"Customer#$i%09d", r(1, i, 25).toInt,
          money(u(2, i) * 10000 - 1000),
          pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), 3, i))))
      save("supplier", Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType)),
        (0 until Suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", r(4, i, 25).toInt,
          money(u(5, i) * 10000 - 1000))))
      val price = (0 until Parts).map(i => 900.0 + (i % 1000) / 10.0)
      save("part", Seq(f("p_partkey", LongType), f("p_name", StringType), f("p_brand", StringType),
        f("p_type", StringType), f("p_size", IntegerType), f("p_retailprice", DoubleType)),
        (0 until Parts).map(i => Row(i.toLong,
          pick(Seq("red", "new", "hot", "cold", "small", "large"), 6, i) + " " +
            pick(Seq("bolt", "anvil", "ring", "rod", "widget", "gear"), 7, i),
          s"Brand#${r(8, i, 25) + 1}",
          pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), 9, i),
          (r(10, i, 50) + 1).toInt, price(i))))

      // ~2% of orders stay childless; every lineitem points at an order
      val lines = (0 until Orders).map(o => if (r(11, o, 50) == 0) 0 else (r(12, o, 7) + 1).toInt)
      val orderDate = (0 until Orders).map(o => day0.plusDays(r(13, o, 2400)))
      val items = for {
        o <- 0 until Orders
        ln <- 1 to lines(o)
      } yield {
        val i = o * 8L + ln
        val part = r(14, i, Parts).toInt
        val qty = (r(15, i, 50) + 1).toDouble
        val ship = orderDate(o).plusDays(r(16, i, 120) + 1)
        val status = if (ship.isAfter(LocalDateTime.of(1998, 6, 1, 0, 0))) "O" else "F"
        Row(o.toLong, part.toLong, r(17, i, Suppliers), ln, qty, money(qty * price(part)),
          r(18, i, 11) / 100.0, r(19, i, 9) / 100.0,
          if (status == "O") "N" else pick(Seq("A", "R"), 20, i), status, ship)
      }
      save("lineitem", Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampNTZType)), items)
      save("orders", Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType)),
        (0 until Orders).map(o => Row(o.toLong, r(21, o, Customers), pick(Seq("F", "O", "P"), 22, o),
          money(1000 + u(23, o) * 300000), orderDate(o),
          pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 24, o))))

      val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
      val gaps = (0 until Events).scanLeft(0L)((acc, i) => acc + r(25, i, 2 * 2592000000000L / Events))
      save("events", Seq(f("event_id", LongType), f("ts", TimestampNTZType), f("user_id", LongType),
        f("event_type", StringType), f("value", DoubleType), f("props", StringType)),
        (0 until Events).map(i => Row(i.toLong, t0.plusNanos(gaps(i + 1) * 1000), r(26, i, 15),
          pick(Seq("click", "view", "purchase", "signup", "error"), 27, i),
          money(u(28, i) * 200), s"""{"k": ${r(29, i, 100)}}""")))

      // every 10th document is a near copy of an earlier one (1-3 tokens
      // redrawn), so the near-duplicate paths have pairs to find
      val texts = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
      (0 until Documents).foreach { d =>
        texts += (if (d >= 10 && d % 10 == 0) {
          val src = texts(r(30, d, d).toInt)
          (0 until (r(31, d, 3) + 1).toInt).foldLeft(src) { (t, j) =>
            t.updated(r(32, d * 4L + j, t.size).toInt, pick(Vocab, 33, d * 4L + j))
          }
        } else Vector.tabulate((r(34, d, 90) + 10).toInt)(j => pick(Vocab, 35, d * 128L + j)))
      }
      save("documents", Seq(f("doc_id", LongType), f("text", StringType), f("lang", StringType),
        f("source", StringType), f("n_chars", LongType)),
        texts.zipWithIndex.map { case (t, d) =>
          val s = t.mkString(" ")
          Row(d.toLong, s, pick(Seq("en", "en", "en", "zh", "es", "de", "fr"), 36, d),
            s"src${d % 20}", s.length.toLong)
        }.toSeq)

      val centers = Vector.tabulate(10, Dim)((c, j) => u(37, c * Dim + j) * 2 - 1)
      val vecs = scala.collection.mutable.ArrayBuffer.empty[(Array[Double], Int)]
      (0 until Embeddings).foreach { e =>
        vecs += (if (e >= 10 && e % 10 == 0) {
          val (src, label) = vecs(r(38, e, e).toInt)
          (src.indices.map(j => src(j) + (u(39, e * Dim + j) - 0.5) * 0.01).toArray, label)
        } else {
          val label = r(40, e, 10).toInt
          (Array.tabulate(Dim)(j => centers(label)(j) + (u(41, e * Dim + j) - 0.5) * 0.6), label)
        })
      }
      save("embeddings", Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType)),
        vecs.zipWithIndex.map { case ((v, label), e) =>
          val n = math.sqrt(v.map(x => x * x).sum)
          Row(e.toLong, v.map(x => java.lang.Float.valueOf((x / n).toFloat)).toSeq, label)
        }.toSeq)
      Workloads.parallel(tables.toSeq) { case (name, fields, rows) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(fields))
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
      }
    }
  }
}

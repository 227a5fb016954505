package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.SparkTestSession

/** The scale-layout operators: bucketed co-partitioned joins (no
  * exchange), salted joins (skew spreading with identical results), and
  * deterministic hash splits.
  */
class ScaleOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  val dir = "/root/testdata/sf0.001"
  import spark.implicits._

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("bucketed tables join without a shuffle exchange") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_extendedprice")
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    ScaleOps.writeBucketed(li, "l_orderkey", "b_lineitem",
      SparkTestSession.tmpPath("bucketed/lineitem"), buckets = 8)
    ScaleOps.writeBucketed(ord, "l_orderkey", "b_orders",
      SparkTestSession.tmpPath("bucketed/orders"), buckets = 8)
    // at sf0.001 the planner would broadcast (which also skips bucketing);
    // disable it to demonstrate the fact-to-fact shuffle-free path that
    // matters at scale, where neither side broadcasts
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = ScaleOps.bucketedJoin(spark, "b_lineitem", "b_orders", "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should be shuffle-free, plan:\n${plan.take(2000)}")
      assert(plan.contains("Bucketed: true"), "scan did not use the bucketed layout")
      // and it returns the same rows as the plain (shuffling) join
      val plain = li.join(ord, "l_orderkey")
      assert(joined.count() == plain.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("salted join returns exactly the plain join's rows, spread by salt") {
    // big side: 90% of rows share one hot key
    val big = (0 until 2000).map(i =>
      (if (i % 10 == 0) s"k$i" else "HOT", i.toLong)).toDF("k", "v")
    val small = Seq(("HOT", "hot_dim"), ("k10", "d10"), ("k20", "d20"))
      .toDF("k", "d")
    val got = ScaleOps.saltedJoin(big, small, "k", saltCol = "v", saltFactor = 8)
    val want = big.join(small, "k")
    assert(sortedRows(got.select("k", "v", "d")) == sortedRows(want.select("k", "v", "d")))
    // the hot key's rows really are spread across salts
    val salts = big.withColumn("__salt",
      pmod(xxhash64(col("v")), lit(8)).cast("int"))
      .filter($"k" === "HOT").select("__salt").distinct().count()
    assert(salts > 4, s"hot key concentrated in $salts salt(s)")
  }

  test("stratified sampling: per-stratum fractions, deterministic, no shuffle") {
    val rows = (0L until 3000L).map(i => (i, if (i % 3 == 0) "en" else "de"))
    val df = rows.toDF("id", "lang")
    val sampled = ScaleOps.stratifiedSample(df, "lang", "id",
      Map("de" -> 0.25), defaultFraction = 1.0)
    val counts = sampled.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("en") == 1000L) // default fraction 1.0 keeps everything
    assert(counts("de") > 300 && counts("de") < 700, s"de=${counts("de")}")
    // deterministic across re-layout
    val again = ScaleOps.stratifiedSample(df.repartition(13), "lang", "id",
      Map("de" -> 0.25), defaultFraction = 1.0)
    assert(sortedRows(again.select("id")) == sortedRows(sampled.select("id")))
    // narrow: no exchange in the plan
    val plan = sampled.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "stratified sample must not shuffle")
  }

  test("approx_count_distinct lands within its error bound at scale") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val exact = li.select(countDistinct($"l_partkey")).collect()(0).getLong(0)
    val approx = li.select(approx_count_distinct($"l_partkey", 0.02))
      .collect()(0).getLong(0)
    val err = math.abs(approx - exact).toDouble / exact
    assert(err < 0.05, s"approx=$approx exact=$exact err=$err")
  }

  test("hash split is deterministic, exhaustive, and proportional") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val split = ScaleOps.hashSplit(docs, "doc_id", Seq(0.8, 0.1, 0.1))
    val counts = split.groupBy("split").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = docs.count()
    assert(counts.values.sum == n) // exhaustive: every row assigned
    assert(counts.keySet.subsetOf(Set(0, 1, 2)))
    assert(counts(0) > n * 6 / 10, s"train split too small: ${counts(0)}/$n")
    // deterministic: identical assignment on re-run and after re-layout
    val again = ScaleOps.hashSplit(docs.repartition(7), "doc_id", Seq(0.8, 0.1, 0.1))
    assert(sortedRows(split.select("doc_id", "split")) ==
      sortedRows(again.select("doc_id", "split")))
    // different seed -> different assignment (not vacuously constant)
    val other = ScaleOps.hashSplit(docs, "doc_id", Seq(0.8, 0.1, 0.1), seed = 99)
    assert(sortedRows(split.select("doc_id", "split")) !=
      sortedRows(other.select("doc_id", "split")))
  }

  test("bloom-pruned join equals the plain join and prunes before the shuffle") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_suppkey", "l_quantity")
    val sup = spark.read.parquet(s"$dir/supplier.parquet")
      .filter(col("s_nationkey") === 3).select("s_suppkey", "s_name")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pruned = ScaleOps.bloomPrunedJoin(li, sup, "l_suppkey", "s_suppkey",
        expectedItems = 1000L)
      val plain = li.join(sup, li("l_suppkey") === sup("s_suppkey"))
      assert(sortedRows(pruned) == sortedRows(plain),
        "bloom pruning changed the join result")
      // the might_contain predicate must sit on the scan side of the
      // exchange — pruning after the shuffle would be pointless
      val plan = pruned.queryExecution.executedPlan.toString
      val mightIdx = plan.indexOf("might_contain")
      val exchIdx = plan.indexOf("Exchange")
      assert(mightIdx >= 0, s"no bloom predicate in plan:\n${plan.take(1500)}")
      assert(exchIdx >= 0 && mightIdx > exchIdx,
        "bloom filter is not below the join exchange")
      // and it actually prunes: the bloom predicate alone keeps only about
      // the matchable fraction of the fact side (5 of 25 nations)
      val mightContain = ScaleOps.bloomKeyFilter(sup, "s_suppkey", 1000L).get
      val factRows = li.count()
      val keptRows = li.filter(mightContain(col("l_suppkey"))).count()
      assert(keptRows < factRows / 2,
        s"bloom filter barely pruned: $keptRows of $factRows fact rows kept")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("binned range join == naive BETWEEN join, with no nested-loop plan") {
    val rnd = new scala.util.Random(7)
    val pts = (0 until 400).map(i => (i.toLong,
      if (rnd.nextInt(20) == 0) null else java.lang.Double.valueOf(rnd.nextDouble() * 100 - 50)))
      .toDF("pid", "v")
    val ivs = (0 until 60).map { i =>
      val lo = rnd.nextDouble() * 100 - 50
      // mix of short, long, inverted (lo > hi), and null-bounded intervals
      val hi = rnd.nextInt(6) match {
        case 0 => lo - 1.0
        case 1 => lo + 40 * rnd.nextDouble()
        case _ => lo + 3 * rnd.nextDouble()
      }
      (i.toLong,
        if (rnd.nextInt(15) == 0) null else java.lang.Double.valueOf(lo),
        if (rnd.nextInt(15) == 0) null else java.lang.Double.valueOf(hi))
    }.toDF("iid", "lo", "hi")
    val binned = RangeJoin.pointInInterval(pts, ivs, "v", "lo", "hi",
      binWidth = 5.0).select("pid", "iid")
    val naive = pts.join(ivs, col("v").between(col("lo"), col("hi")))
      .select("pid", "iid")
    assert(sortedRows(binned) == sortedRows(naive))
    val plan = binned.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join fell back to a nested loop:\n${plan.take(1200)}")
  }

  test("prefix sum stages its ranged input once: no upstream recompute, " +
      "no file rescan in the terminal plan") {
    // the window pass and the offsets pass must both read the ONE staged
    // materialization — pre-round-10 they each re-executed the entire
    // upstream (two extra corpus scans in the curation composite, and a
    // repartitionByRange boundary-sampling nondeterminism hazard between
    // the phases). A parquet-backed input makes the regression visible:
    // any FileScan in the terminal plan means a phase re-read the source
    // instead of the checkpoint.
    val src = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("id"), col("l_quantity").cast("long").as("v"))
      .dropDuplicates("id")
    val plan = ScaleOps.prefixSum(src, "id", "v", "cum")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan") && !plan.contains("Scan parquet"),
      s"prefixSum phase re-read the source instead of the staged frame:\n${plan.take(1200)}")
    assert(plan.contains("ExistingRDD"),
      s"expected the staged checkpoint scan in the plan:\n${plan.take(1200)}")
    // staged width == the caller's projection + __pid: the checkpoint
    // stores full rows in executor blocks, so a wide column slipping in
    // multiplies the spill by the row width (SCALE.md round-10 entry)
    assert(stagedCols(plan) == Set("id", "v", "__pid"),
      s"staged frame carries unexpected columns: ${stagedCols(plan)}")
  }

  /** Column names of the checkpoint scan(s) in an executed-plan string
    * (`Scan ExistingRDD[id#12L,v#13L,__pid#14]` -> {id, v, __pid}).
    */
  private def stagedCols(plan: String): Set[String] =
    "ExistingRDD\\[([^\\]]*)\\]".r.findAllMatchIn(plan)
      .flatMap(_.group(1).split(",").map(_.trim.takeWhile(_ != '#')))
      .toSet

  test("declared q_seq_pack and the curation composite stage prefixSum narrow") {
    // the engine call sites promise a (doc_id, n_tokens) projection into
    // packSequences — this pins the promise to the DECLARED queries, so a
    // future edit passing full document rows (text included) into the
    // staged checkpoint fails here, not in a production disk budget
    val seqCols = stagedCols(graft.SparkEntry.queries("q_seq_pack")(spark, dir)
      .queryExecution.executedPlan.toString)
    assert(seqCols == Set("doc_id", "n_tokens", "__pid"),
      s"q_seq_pack staged frame carries unexpected columns: $seqCols")
    // the composite's plan also holds the minhash seal snapshot
    // (scalar pair columns — fine); the guard is that NO checkpoint in
    // the plan carries document text, and the prefixSum staging is there
    val curCols = stagedCols(
      graft.SparkEntry.queries("q_curation_pipeline")(spark, dir)
        .queryExecution.executedPlan.toString)
    assert(Set("doc_id", "n_tokens", "__pid").subsetOf(curCols),
      s"composite prefixSum staging missing: $curCols")
    assert(!curCols.contains("text"),
      s"composite checkpointed full document rows: $curCols")
  }

  test("prefix sum matches driver-side cumsum at any layout, no data funnel") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 500).map(i => (i.toLong, rnd.nextInt(100).toLong))
    val expected = rows.scanLeft(0L)(_ + _._2).tail // inclusive cumsum
    for (parts <- Seq(1, 7)) {
      val df = rows.toDF("id", "v").repartition(parts)
      val got = ScaleOps.prefixSum(df, "id", "v", "cum")
        .orderBy("id").select("id", "cum")
        .collect().map(r => r.getLong(1))
      assert(got.toSeq == expected, s"prefix sum wrong at $parts partitions")
    }
    // the only single-partition step is over per-partition totals (one
    // row per partition), never over the data: the data-side window is
    // partitioned by __pid
    val plan = ScaleOps.prefixSum(rows.toDF("id", "v"), "id", "v", "cum")
      .queryExecution.executedPlan.toString
    assert(plan.contains("partitionBy") || plan.contains("__pid"),
      s"data window lost its partition key:\n${plan.take(800)}")
  }

  test("prefix sum is correct with negative values (totals are not running-max)") {
    val rnd = new scala.util.Random(23)
    val rows = (0 until 500).map(i => (i.toLong, rnd.nextInt(200).toLong - 100L))
    val expected = rows.scanLeft(0L)(_ + _._2).tail
    val got = ScaleOps.prefixSum(rows.toDF("id", "v").repartition(9), "id", "v", "cum")
      .orderBy("id").select("cum").collect().map(_.getLong(0))
    assert(got.toSeq == expected, "prefix sum wrong on signed deltas")
  }

  test("bloom-pruned join rejects outer join types (pruning would drop rows)") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_suppkey", "l_quantity")
    val sup = spark.read.parquet(s"$dir/supplier.parquet")
      .select("s_suppkey", "s_name")
    for (jt <- Seq("left", "left_outer", "right", "full", "full_outer", "left_anti"))
      intercept[IllegalArgumentException] {
        ScaleOps.bloomPrunedJoin(li, sup, "l_suppkey", "s_suppkey", joinType = jt)
      }
    // semi stays allowed: pruning only ever removes non-matching big rows
    assert(ScaleOps.bloomPrunedJoin(li, sup, "l_suppkey", "s_suppkey",
      joinType = "left_semi").columns.toSeq == Seq("l_suppkey", "l_quantity"))
  }

  test("range join rejects reserved/ambiguous column names") {
    val pts = Seq((1L, 2.0)).toDF("pid", "v")
    val ivs = Seq((1L, 0.0, 5.0)).toDF("iid", "lo", "hi")
    intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(pts.withColumn("__bin", lit(0)), ivs,
        "v", "lo", "hi", binWidth = 1.0)
    }
    intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(pts, ivs.withColumn("__bin", lit(0)),
        "v", "lo", "hi", binWidth = 1.0)
    }
    // a non-key column present on both sides would survive ambiguously
    intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(pts.withColumn("tag", lit("a")),
        ivs.withColumn("tag", lit("b")), "v", "lo", "hi", binWidth = 1.0)
    }
  }

  test("quota sample: exact per-stratum size, deterministic, == single-phase rank") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val got = ScaleOps.quotaSample(docs, "lang", "doc_id", quota = 15)
    val counts = got.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val avail = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    avail.foreach { case (l, n) =>
      assert(counts.getOrElse(l, 0L) == math.min(15L, n), s"lang $l: ${counts.get(l)}")
    }
    // identical selection after re-layout (the two-phase rank must pick
    // the same global smallest-hash rows as a single-phase rank would)
    val relaid = ScaleOps.quotaSample(docs.repartition(11), "lang", "doc_id", 15)
    assert(sortedRows(got.select("doc_id")) == sortedRows(relaid.select("doc_id")))
    val single = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy(
        md5(concat_ws("|", col("doc_id").cast("string"), lit("13"))), col("doc_id"))
      docs.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 15)
    }
    assert(sortedRows(got.select("doc_id")) == sortedRows(single.select("doc_id")),
      "two-phase quota sample diverged from the single-phase rank")
    // a different seed picks a different sample
    val other = ScaleOps.quotaSample(docs, "lang", "doc_id", 15, seed = 99)
    assert(sortedRows(got.select("doc_id")) != sortedRows(other.select("doc_id")))
  }

  test("temperature mix sample: quotas follow n^alpha under the budget, " +
      "deterministic, null domains dropped") {
    val docs = Seq.tabulate(130) { i =>
      val dom = if (i < 100) "web" else if (i < 120) "books" else "code"
      (i.toLong, dom)
    }.toDF("id", "dom")
      .union(Seq((999L, null.asInstanceOf[String])).toDF("id", "dom"))
    def sizes(alpha: Double, budget: Long): Map[String, Long] =
      ScaleOps.temperatureMixSample(docs, "dom", "id", budget, alpha)
        .groupBy("dom").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // alpha = 1: natural proportions — quota_d = floor(B * n_d / N)
    assert(sizes(1.0, 65L) == Map("web" -> 50L, "books" -> 10L, "code" -> 5L))
    // alpha = 0: equal shares regardless of domain size
    assert(sizes(0.0, 30L) == Map("web" -> 10L, "books" -> 10L, "code" -> 10L))
    // alpha = 0.5 lies between: sqrt weights 10 / 4.472136 / 3.162278
    // of total 17.634414 under budget 60 -> 34 / 15 / 10
    assert(sizes(0.5, 60L) == Map("web" -> 34L, "books" -> 15L, "code" -> 10L))
    // quotas cap at the domain's own size; the null-domain row never
    // samples
    val capped = sizes(0.0, 3000L)
    assert(capped == Map("web" -> 100L, "books" -> 20L, "code" -> 10L))
    // deterministic across layouts, seed changes the selection
    val a = ScaleOps.temperatureMixSample(docs, "dom", "id", 60L)
    val b = ScaleOps.temperatureMixSample(docs.repartition(7), "dom", "id", 60L)
    assert(sortedRows(a.select("id")) == sortedRows(b.select("id")))
    val c = ScaleOps.temperatureMixSample(docs, "dom", "id", 60L, seed = 99)
    assert(sortedRows(a.select("id")) != sortedRows(c.select("id")))
  }

  test("temperature mix fuzz: random corpora == an independent driver " +
      "replay of quotas and selection, across seeds x alphas x budgets") {
    // the reference shares NO engine machinery: quotas from
    // Math.sqrt/floor-round/BigDecimal-sum/floor, selection by a
    // MessageDigest md5 rank — the same arithmetic contract the DuckDB
    // oracle replays, reimplemented driver-side
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    var checked = 0
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed * 7919L)
      val nDoms = 2 + rnd.nextInt(5)
      val rows = (0 until nDoms).flatMap { d =>
        val n = 1 + rnd.nextInt(50)
        (0 until n).map(i => (d * 1000L + i, s"dom$d"))
      }
      val budget = 10L + rnd.nextInt(140)
      val alpha = Seq(0.0, 0.5, 1.0)(rnd.nextInt(3))
      val df = rows.toDF("id", "dom")
      val got = ScaleOps.temperatureMixSample(df, "dom", "id", budget, alpha)
        .select("id").collect().map(_.getLong(0)).toSet
      // driver reference
      val byDom = rows.groupBy(_._2)
      val w = byDom.map { case (d, rs) =>
        val raw = alpha match {
          case 0.0 => 1.0
          case 0.5 => Math.sqrt(rs.size.toDouble)
          case _ => rs.size.toDouble
        }
        d -> Math.floor(raw * 1e6 + 0.5) / 1e6
      }
      val tot = w.values.map(BigDecimal(_).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
      val want = byDom.flatMap { case (d, rs) =>
        val q = math.min(Math.floor(budget.toDouble * w(d) / tot).toLong, rs.size.toLong)
        rs.map(_._1).sortBy(id => (md5hex(s"$id|13"), id)).take(q.toInt)
      }.toSet
      assert(got == want,
        s"seed=$seed alpha=$alpha budget=$budget: extra=${got -- want}, missing=${want -- got}")
      checked += want.size
    }
    assert(checked >= 100, s"fuzz vacuous: only $checked sampled rows total")
  }

  test("review-pinned contracts: NULL tombstones live, partition values " +
      "survive readSkipping, rounded cuts, fail-fast guards") {
    // mergeLatest: a NULL deleted flag is NOT a tombstone — a bare
    // !col(...) would evaluate NULL and silently drop the key
    val snap = Seq((1L, 10L, "a", null.asInstanceOf[java.lang.Boolean]),
      (2L, 10L, "b", java.lang.Boolean.FALSE))
      .toDF("k", "v", "payload", "deleted")
    val chg = Seq((2L, 20L, "b2", java.lang.Boolean.TRUE))
      .toDF("k", "v", "payload", "deleted")
    val merged = ScaleOps.mergeLatest(snap, chg, Seq("k"), "v",
        Some("deleted"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(merged == Map(1L -> "a"),
      s"NULL tombstone mishandled: $merged")
    // readSkipping over a hive-partitioned layout keeps the
    // directory-derived partition column populated (basePath)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_shipdate", "l_extendedprice")
    val p = SparkTestSession.tmpPath("skip_part_test")
    ScaleOps.writeTimePartitioned(li, "l_shipdate", p)
    val man = ScaleOps.minMaxManifest(spark, p, "l_shipdate")
    val back = ScaleOps.readSkipping(spark, p, man, "l_shipdate",
      lit(java.sql.Date.valueOf("1997-03-01")),
      lit(java.sql.Date.valueOf("1997-03-31")))
    assert(back.count() > 0)
    assert(back.filter(col("part_key").isNull).count() == 0,
      "partition column null-filled: basePath lost")
    // hashSplit cuts round rather than truncate: 0.7's double is
    // 0.69999..., a truncated cut would shift the boundary hash slot
    val cutsOk = ScaleOps.hashSplit(
        Seq.tabulate(50)(i => Tuple1(i.toLong)).toDF("id"), "id",
        Seq(0.7, 0.3)).groupBy("split").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(cutsOk.keySet.subsetOf(Set(0, 1)))
    // fail-fast guards: uncovered state columns, reserved prefixSum and
    // saltedJoin columns
    intercept[IllegalArgumentException] {
      ScaleOps.mergeAggState(
        Seq((1L, 2L, 3L)).toDF("k", "n", "extra"),
        Seq((1L, 2L, 3L)).toDF("k", "n", "extra"),
        Seq("k"), Seq("n" -> "sum"))
    }
    intercept[IllegalArgumentException] {
      ScaleOps.prefixSum(Seq((1L, 2L, 0L)).toDF("o", "v", "running_total"),
        "o", "v")
    }
    intercept[IllegalArgumentException] {
      ScaleOps.saltedJoin(Seq((1L, 0)).toDF("k", "__salt"),
        Seq(Tuple1(1L)).toDF("k"), "k", "k")
    }
  }

  test("time-partitioned layout: partition-pruned scans, identical rows") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_shipdate", "l_extendedprice")
    val path = SparkTestSession.tmpPath("time_layout_test")
    ScaleOps.writeTimePartitioned(li, "l_shipdate", path)
    val back = spark.read.parquet(path)
    // a one-month query reads strictly fewer files than the full layout
    val allFiles = back.select(input_file_name()).distinct().count()
    val month = back.filter($"part_key" === "1997-03")
    val monthFiles = month.select(input_file_name()).distinct().count()
    assert(monthFiles > 0 && monthFiles < allFiles,
      s"no partition pruning: $monthFiles of $allFiles files")
    // and the pruning is planner-level (PartitionFilters), not a row filter
    val scan = month.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(part_key"),
      s"partition filter missing from scan:\n${scan.take(800)}")
    // round-trip fidelity: the month's rows equal a plain filter on the source
    val want = li.filter(date_format($"l_shipdate", "yyyy-MM") === "1997-03")
    assert(month.count() == want.count() && month.count() > 0)
    assert(sortedRows(month.select("l_orderkey", "l_extendedprice")) ==
      sortedRows(want.select("l_orderkey", "l_extendedprice")))
    // reserved-name collision fails fast
    intercept[IllegalArgumentException] {
      ScaleOps.writeTimePartitioned(li.withColumn("part_key", lit("x")),
        "l_shipdate", path)
    }
  }

  test("min/max manifest skips files outside the predicate range") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_extendedprice")
    val path = SparkTestSession.tmpPath("manifest_test")
    li.repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(path)
    val manifest = ScaleOps.minMaxManifest(spark, path, "l_orderkey")
    assert(manifest.count() >= 8)
    val (lo, hi) = (lit(1000L), lit(2000L))
    val skipped = ScaleOps.readSkipping(spark, path, manifest, "l_orderkey", lo, hi)
    // correctness: equal to the plain filtered read
    val want = spark.read.parquet(path)
      .filter($"l_orderkey" >= 1000L && $"l_orderkey" <= 2000L)
    assert(sortedRows(skipped) == sortedRows(want))
    assert(skipped.count() > 0)
    // skipping: strictly fewer files in the pruned scan than on disk
    val allFiles = spark.read.parquet(path)
      .select(input_file_name()).distinct().count()
    val readFiles = skipped.select(input_file_name()).distinct().count()
    assert(readFiles < allFiles,
      s"manifest skipped nothing: $readFiles of $allFiles files")
    // an empty range reads nothing and returns an empty, well-typed frame
    val none = ScaleOps.readSkipping(spark, path, manifest, "l_orderkey",
      lit(-10L), lit(-1L))
    assert(none.count() == 0 && none.columns.toSeq == Seq("l_orderkey", "l_extendedprice"))
  }

  test("mergeLatest: latest wins, ties go to changes, tombstones delete, one shuffle") {
    val snap = Seq((1L, "a", 1L, false), (2L, "b", 1L, false),
      (3L, "c", 1L, false)).toDF("k", "v", "version", "deleted")
    val chg = Seq(
      (2L, "b2", 2L, false), // update
      (4L, "d", 2L, false), // insert (key absent from snapshot)
      (3L, "gone", 2L, true), // tombstone
      (1L, "a-tie", 1L, false) // equal version: the change row wins
    ).toDF("k", "v", "version", "deleted")
    val got = ScaleOps.mergeLatest(snap, chg, Seq("k"), "version", Some("deleted"))
    val want = Seq((1L, "a-tie", 1L, false), (2L, "b2", 2L, false),
      (4L, "d", 2L, false)).toDF("k", "v", "version", "deleted")
    assert(sortedRows(got) == sortedRows(want))
    assert(got.columns.toSeq == snap.columns.toSeq, "column order not preserved")
    // without a tombstone column the latest row is kept as data
    val keptDel = ScaleOps.mergeLatest(snap, chg, Seq("k"), "version")
    assert(keptDel.count() == 4)
    // exactly ONE exchange (the keyed aggregate), with map-side partial
    // max_by collapsing history before the shuffle — no second shuffle,
    // no per-key row_number window
    val plan = got.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"mergeLatest should shuffle once:\n${plan.take(1200)}")
    assert(plan.contains("partial_max_by"), "no map-side partial aggregation")
    assert(!plan.contains("row_number"), "mergeLatest must not plan a window")
    // deterministic across layouts
    val again = ScaleOps.mergeLatest(snap.repartition(7), chg.repartition(3),
      Seq("k"), "version", Some("deleted"))
    assert(sortedRows(again) == sortedRows(want))
  }

  test("mergeLatest == driver reference on random changelogs") {
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 4) {
      // snapshot: one row per key (unique versions trivially); changes:
      // 1-3 rows per key with DISTINCT versions within the input — equal
      // versions ACROSS inputs exercise the change-beats-snapshot rule
      val snap = (0L until 25L).filter(_ => rnd.nextDouble() < 0.8).map { k =>
        (k, s"s$k", rnd.nextInt(10).toLong, rnd.nextDouble() < 0.1)
      }
      val chg = (0L until 25L).filter(_ => rnd.nextDouble() < 0.6).flatMap { k =>
        rnd.shuffle((0 to 12).toList).take(1 + rnd.nextInt(3)).map { v =>
          (k, s"c${k}_$v", v.toLong, rnd.nextDouble() < 0.25)
        }
      }
      val got = ScaleOps.mergeLatest(
        snap.toDF("k", "v", "version", "deleted").repartition(5),
        chg.toDF("k", "v", "version", "deleted").repartition(3),
        Seq("k"), "version", Some("deleted"))
        .collect().map(r => r.getLong(0) ->
          (r.getString(1), r.getLong(2), r.getBoolean(3))).toMap
      val want = (snap.map((_, 0)) ++ chg.map((_, 1)))
        .groupBy(_._1._1)
        .map { case (k, rs) =>
          val (r, _) = rs.maxBy { case ((_, _, ver, _), src) => (ver, src) }
          k -> (r._2, r._3, r._4)
        }
        .filter { case (_, (_, _, deleted)) => !deleted }
      assert(got == want, s"trial $trial diverged: " +
        s"extra=${(got.toSet diff want.toSet).take(3)} missing=${(want.toSet diff got.toSet).take(3)}")
    }
  }

  test("interleaveBits / zValue: bit-exact Morton codes, clamped quantization") {
    val df = Seq((3L, 0L), (0L, 3L), (2L, 1L)).toDF("a", "b")
    val got = df.select(ScaleOps.interleaveBits(col("a"), col("b"), bits = 2))
      .collect().map(_.getLong(0)).toSeq
    // a bits at even positions, b bits at odd: (3,0)->0b0101, (0,3)->0b1010,
    // (2,1)->0b0110
    assert(got == Seq(5L, 10L, 6L))
    // zValue: lo maps to 0, hi to the top code, out-of-range clamps
    val z = Seq((0L, 0L), (100L, 100L), (-5L, 200L)).toDF("a", "b")
      .select(ScaleOps.zValue(col("a"), 0L, 100L, col("b"), 0L, 100L, bits = 4))
      .collect().map(_.getLong(0)).toSeq
    assert(z(0) == 0L)
    assert(z(1) == (0 until 4).map(i => 3L << (2 * i)).sum) // both all-ones
    assert(z(2) == (0 until 4).map(i => 2L << (2 * i)).sum) // a=0, b=1111
  }

  test("z-order layout: lossless round-trip, file pruning on BOTH dimensions") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey")
    val path = SparkTestSession.tmpPath("zorder_test")
    ScaleOps.writeZOrdered(li, "l_partkey", "l_suppkey", path, numFiles = 16)
    val back = spark.read.parquet(path)
    assert(sortedRows(back) == sortedRows(li), "z-order write lost rows")
    assert(back.columns.toSeq == li.columns.toSeq, "__z leaked into the layout")
    val total = back.select(input_file_name()).distinct().count()
    assert(total > 4, s"need several files to demonstrate pruning, got $total")
    val mA = ScaleOps.minMaxManifest(spark, path, "l_partkey")
    val mB = ScaleOps.minMaxManifest(spark, path, "l_suppkey")
    def filesRead(df: DataFrame): Long =
      df.select(input_file_name()).distinct().count()
    val prunedA = ScaleOps.readSkipping(spark, path, mA, "l_partkey",
      lit(10L), lit(40L))
    val prunedB = ScaleOps.readSkipping(spark, path, mB, "l_suppkey",
      lit(1L), lit(2L))
    assert(filesRead(prunedA) < total,
      s"no pruning on dim A: ${filesRead(prunedA)} of $total")
    assert(filesRead(prunedB) < total,
      s"no pruning on dim B: ${filesRead(prunedB)} of $total")
    // correctness of the pruned reads
    assert(sortedRows(prunedA) ==
      sortedRows(li.filter($"l_partkey".between(10, 40))))
    assert(sortedRows(prunedB) ==
      sortedRows(li.filter($"l_suppkey".between(1, 2))))
    // contrast: a LINEAR sort on partkey clusters only partkey — suppkey
    // ranges span every file and its manifest prunes nothing
    val linPath = SparkTestSession.tmpPath("zorder_linear_test")
    li.repartitionByRange(16, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(linPath)
    val linTotal = spark.read.parquet(linPath)
      .select(input_file_name()).distinct().count()
    val mLin = ScaleOps.minMaxManifest(spark, linPath, "l_suppkey")
    val linB = filesRead(ScaleOps.readSkipping(spark, linPath, mLin,
      "l_suppkey", lit(1L), lit(2L)))
    assert(linB == linTotal,
      s"expected the linear layout NOT to prune on suppkey ($linB of $linTotal)")
  }

  test("mergeAggState: incremental merge == full recompute for any split") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    def partial(df: DataFrame) = df.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(27,6)")).as("qty_sum"),
        min(col("l_extendedprice")).as("price_min"))
    val full = partial(li)
    val merges = Seq("n" -> "sum", "qty_sum" -> "sum", "price_min" -> "min")
    // three different split points, all must reconstruct the full aggregate
    for (m <- Seq(2, 5, 7)) {
      val merged = ScaleOps.mergeAggState(
        partial(li.filter(col("l_orderkey") % m =!= 0)),
        partial(li.filter(col("l_orderkey") % m === 0)),
        Seq("l_returnflag"), merges)
      assert(sortedRows(merged) == sortedRows(full), s"split %$m diverged")
    }
    // folding a THIRD batch in (state is itself a merge) still matches
    val twice = ScaleOps.mergeAggState(
      ScaleOps.mergeAggState(
        partial(li.filter(col("l_orderkey") % 3 === 0)),
        partial(li.filter(col("l_orderkey") % 3 === 1)),
        Seq("l_returnflag"), merges),
      partial(li.filter(col("l_orderkey") % 3 === 2)),
      Seq("l_returnflag"), merges)
    assert(sortedRows(twice) == sortedRows(full), "re-merge diverged")
    // non-associative merges fail fast
    intercept[IllegalArgumentException] {
      ScaleOps.mergeAggState(full, full, Seq("l_returnflag"),
        Seq("n" -> "avg"))
    }
  }

  test("weighted sample == driver A-ES replay, deterministic, weight-skewed") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val got = ScaleOps.weightedSample(docs, "doc_id", "n_chars", k = 100)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // independent driver replay of the exact selection rule
    def key(id: Long, w: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$id|17".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex.substring(0, 8), 16)
      math.pow((h + 1.0) / 4294967297.0, 1.0 / w)
    }
    val rows = docs.select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = rows.filter(_._2 > 0)
      .sortBy { case (id, w) => (-key(id, w), id) }.take(100).map(_._1).toSet
    assert(got == want, "selection diverged from the A-ES replay")
    // identical selection after re-layout
    val again = ScaleOps.weightedSample(docs.repartition(13), "doc_id",
      "n_chars", k = 100).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == got)
    // inclusion skews toward weight: 9x-weight rows dominate the sample
    val pop = (0L until 4000L).map(i => (i, if (i < 2000) 1L else 9L))
      .toDF("id", "w")
    val heavy = ScaleOps.weightedSample(pop, "id", "w", k = 400)
      .filter($"w" === 9).count()
    assert(heavy > 300 && heavy < 399, s"heavy-weight count off: $heavy/400")
    // non-positive weights are excluded, not mis-ranked
    val mixed = (0L until 10L).map(i => (i, if (i < 5) -1L else 2L)).toDF("id", "w")
    assert(ScaleOps.weightedSample(mixed, "id", "w", k = 10).count() == 5)
    // top-k is TakeOrdered (bounded heaps), never a global sort
    val plan = ScaleOps.weightedSample(docs, "doc_id", "n_chars", k = 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"weighted sample lost its TakeOrdered plan:\n${plan.take(600)}")
  }

  test("bloom-pruned join with an empty small side returns no rows") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_suppkey", "l_quantity")
    val none = spark.read.parquet(s"$dir/supplier.parquet")
      .filter(col("s_nationkey") === -1).select("s_suppkey", "s_name")
    assert(ScaleOps.bloomPrunedJoin(li, none, "l_suppkey", "s_suppkey").count() == 0)
  }
}

package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Exact._

/** The [ext] relational surface (SURVEY §2.3): filter/project/join (inner,
  * outer, semi, anti, cross), aggregation (incl. rollup and distinct),
  * window functions, sort/limit/top-k, set ops, and scalar functions —
  * thin, idiomatic Dataset programs over the star schema.
  *
  * Scale posture: dimension tables (region/nation/supplier) are broadcast
  * explicitly; fact-fact joins shuffle on their keys; every aggregate over
  * doubles uses the decimal-exact forms from graft.functions.Exact so
  * results are reproducible at any parallelism.
  */
object RelationalQueries {

  val all: Seq[QueryDef] = Seq(

    // TPC-H Q1 skeleton: scan + filter + groupBy aggregation
    QueryDef("q1_pricing",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            sum("l_quantity").as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
            dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
            (sum("l_quantity") / count(lit(1))).as("avg_qty"),
            davg(col("l_extendedprice")).as("avg_price"),
            davg(col("l_discount")).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some(s"""SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, ${dsumSql("l_extendedprice")} AS sum_base_price, ${dsumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price, ${dsumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge, SUM(l_quantity) / COUNT(*) AS avg_qty, ${davgSql("l_extendedprice")} AS avg_price, ${davgSql("l_discount")} AS avg_disc, COUNT(*) AS count_order FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""")),

    // TPC-H Q3 skeleton: 3-way join + agg + top-k
    QueryDef("q3_shipping",
      (s, dir) => {
        val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        val ord = Tables.orders(s, dir)
          .filter(col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
        val li = Tables.lineitem(s, dir)
          .filter(col("l_shipdate") > lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
            col("o_orderpriority"))
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey").asc)
          .limit(10)
      },
      Some(s"""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_orderpriority, ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10""")),

    // TPC-H Q5 skeleton: 6-way join with broadcast dims
    QueryDef("q5_region_revenue",
      (s, dir) => {
        val asia = Tables.region(s, dir).filter(col("r_name") === "ASIA")
        val nat = Tables.nation(s, dir)
        val ord = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
            col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
        Tables.lineitem(s, dir)
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.supplier(s, dir)),
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
          .groupBy("n_name")
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some(s"""SELECT n_name, ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' GROUP BY n_name ORDER BY revenue DESC, n_name""")),

    // TPC-H Q6 skeleton: pure filter + global agg (pushdown showcase)
    QueryDef("q6_forecast",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
            col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
            col("l_discount").between(0.05, 0.07) &&
            col("l_quantity") < 24)
          .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))
      },
      Some(s"""SELECT ${dsumSql("l_extendedprice * l_discount")} AS revenue FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""")),

    // left-semi join (EXISTS)
    QueryDef("q_semi_join",
      (s, dir) => {
        val big = Tables.lineitem(s, dir).filter(col("l_quantity") >= 49)
        Tables.orders(s, dir)
          .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
          .select("o_orderkey").orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey FROM orders WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 49) ORDER BY o_orderkey""")),

    // left-anti join (NOT EXISTS)
    QueryDef("q_anti_join",
      (s, dir) => {
        val big = Tables.orders(s, dir).filter(col("o_totalprice") > 300000)
        Tables.customer(s, dir)
          .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey").orderBy("c_custkey")
      },
      Some("""SELECT c_custkey FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000) ORDER BY c_custkey""")),

    // left outer join + aggregation
    QueryDef("q_outer_join",
      (s, dir) => {
        Tables.nation(s, dir)
          .join(Tables.customer(s, dir), col("n_nationkey") === col("c_nationkey"), "left")
          .groupBy("n_name")
          .agg(count(col("c_custkey")).as("n_cust"))
          .orderBy("n_name")
      },
      Some("""SELECT n_name, COUNT(c_custkey) AS n_cust FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey GROUP BY n_name ORDER BY n_name""")),

    // ranking window: top-3 parts per brand
    QueryDef("q_window_rank",
      (s, dir) => {
        val w = Window.partitionBy("p_brand")
          .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
        Tables.part(s, dir)
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select("p_brand", "p_partkey", "p_retailprice", "rn")
          .orderBy("p_brand", "rn")
      },
      Some("""SELECT p_brand, p_partkey, p_retailprice, CAST(row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS rn FROM part QUALIFY rn <= 3 ORDER BY p_brand, rn""")),

    // analytic window: running sum (ROWS frame)
    QueryDef("q_window_running",
      (s, dir) => {
        val w = Window.partitionBy("l_suppkey")
          .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.lineitem(s, dir)
          .filter(col("l_suppkey") <= 3)
          .withColumn("run_qty", sum("l_quantity").over(w))
          .select("l_suppkey", "l_orderkey", "l_linenumber", "run_qty")
          .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber, SUM(l_quantity) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_qty FROM lineitem WHERE l_suppkey <= 3 ORDER BY l_suppkey, l_orderkey, l_linenumber""")),

    // distribution analytics: dense_rank / percent_rank / cume_dist /
    // nth_value in ONE window pass (one shuffle on the partition key) —
    // the remaining ranking-family functions beyond row_number/rank.
    // percent_rank and cume_dist are exact rational arithmetic on rank
    // counters (deterministic doubles), nth_value reads the frame's
    // 2nd-highest price with the default running frame
    QueryDef("q_window_distribution",
      (s, dir) => {
        val w = Window.partitionBy("p_brand")
          .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
        Tables.part(s, dir)
          .filter(col("p_size") <= 10)
          .select(col("p_brand"), col("p_partkey"),
            dense_rank().over(w).cast("long").as("dr"),
            percent_rank().over(w).as("pr"),
            cume_dist().over(w).as("cd"),
            nth_value(col("p_retailprice"), 2).over(w).as("second_price"))
          .orderBy("p_brand", "p_partkey")
      },
      Some("""SELECT p_brand, p_partkey, CAST(dense_rank() OVER w AS BIGINT) AS dr, percent_rank() OVER w AS pr, cume_dist() OVER w AS cd, nth_value(p_retailprice, 2) OVER w AS second_price FROM part WHERE p_size <= 10 WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) ORDER BY p_brand, p_partkey""")),

    // top-k (TakeOrdered — no global sort)
    QueryDef("q_topk",
      (s, dir) => {
        Tables.customer(s, dir)
          .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
          .select("c_custkey", "c_acctbal")
          .limit(10)
      },
      Some("""SELECT c_custkey, c_acctbal FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 10""")),

    // set ops
    QueryDef("q_set_except",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        li.filter(col("l_quantity") >= 49).select(col("l_orderkey").as("ok"))
          .except(li.filter(col("l_quantity") <= 2).select(col("l_orderkey").as("ok")))
          .orderBy("ok")
      },
      Some("""SELECT DISTINCT l_orderkey AS ok FROM lineitem WHERE l_quantity >= 49 EXCEPT SELECT DISTINCT l_orderkey AS ok FROM lineitem WHERE l_quantity <= 2 ORDER BY ok""")),

    QueryDef("q_set_intersect",
      (s, dir) => {
        Tables.customer(s, dir).select(col("c_nationkey").as("nk"))
          .intersect(Tables.supplier(s, dir).select(col("s_nationkey").as("nk")))
          .orderBy("nk")
      },
      Some("""SELECT DISTINCT c_nationkey AS nk FROM customer INTERSECT SELECT DISTINCT s_nationkey AS nk FROM supplier ORDER BY nk""")),

    QueryDef("q_set_union",
      (s, dir) => {
        Tables.nation(s, dir).select(col("n_regionkey").as("k"))
          .union(Tables.region(s, dir).select(col("r_regionkey").as("k")))
          .distinct().orderBy("k")
      },
      Some("""SELECT n_regionkey AS k FROM nation UNION SELECT r_regionkey AS k FROM region ORDER BY k""")),

    // scalar functions: strings
    QueryDef("q_scalar_str",
      (s, dir) => {
        Tables.part(s, dir).select(
          col("p_partkey"),
          upper(col("p_brand")).as("ub"),
          lower(col("p_type")).as("lt"),
          substring(col("p_name"), 1, 8).as("pfx"),
          length(col("p_name")).cast("long").as("name_len"),
          concat(col("p_brand"), lit(":"), col("p_type")).as("bt"),
          replace(col("p_type"), lit(" "), lit("_")).as("tu"))
          .orderBy("p_partkey")
      },
      Some("""SELECT p_partkey, UPPER(p_brand) AS ub, LOWER(p_type) AS lt, SUBSTRING(p_name, 1, 8) AS pfx, CAST(LENGTH(p_name) AS BIGINT) AS name_len, p_brand || ':' || p_type AS bt, REPLACE(p_type, ' ', '_') AS tu FROM part ORDER BY p_partkey""")),

    // scalar functions: math
    QueryDef("q_scalar_math",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .filter(col("l_orderkey") <= 100)
          .select(
            col("l_orderkey"), col("l_linenumber"),
            floor(col("l_extendedprice")).cast("long").as("fp"),
            ceil(col("l_discount") * 100).cast("long").as("cd"),
            abs(col("l_quantity") - 25.0).as("aq"),
            (col("l_partkey") % 10).cast("long").as("pm"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, CAST(FLOOR(l_extendedprice) AS BIGINT) AS fp, CAST(CEIL(l_discount * 100) AS BIGINT) AS cd, ABS(l_quantity - 25.0) AS aq, CAST(l_partkey % 10 AS BIGINT) AS pm FROM lineitem WHERE l_orderkey <= 100 ORDER BY l_orderkey, l_linenumber""")),

    // scalar functions: dates
    QueryDef("q_scalar_date",
      (s, dir) => {
        Tables.orders(s, dir)
          .filter(col("o_orderkey") <= 200)
          .select(
            col("o_orderkey"),
            year(col("o_orderdate")).cast("long").as("y"),
            month(col("o_orderdate")).cast("long").as("m"),
            dayofmonth(col("o_orderdate")).cast("long").as("d"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("ds"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS y, CAST(month(o_orderdate) AS BIGINT) AS m, CAST(day(o_orderdate) AS BIGINT) AS d, strftime(o_orderdate, '%Y-%m-%d') AS ds FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey""")),

    // grouping sets: rollup
    QueryDef("q_rollup",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .rollup("l_returnflag", "l_linestatus")
          .agg(sum("l_quantity").as("sq"), count(lit(1)).as("n"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
            coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
            col("sq"), col("n"))
          .orderBy("rf", "ls")
      },
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls, SUM(l_quantity) AS sq, COUNT(*) AS n FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY rf, ls""")),

    // distinct aggregation — TWO exact distincts in one grouped agg,
    // deliberately kept in Spark's expand form (each row replicated per
    // distinct group before the shuffle): this row IS the cost exhibit
    // the scale paths answer — q_approx_distinct (sketch) and
    // q_profile (per-column single-distinct branches, r12) show the
    // two ways out at 100 TB
    QueryDef("q_distinct_agg",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_partkey")).as("dp"),
            countDistinct(col("l_suppkey")).as("ds"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS dp, COUNT(DISTINCT l_suppkey) AS ds FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // approximate distinct counting (HyperLogLog++): the scale path for
    // distinct-heavy aggs — one pass, fixed-size sketch per group, no
    // per-key shuffle of the distinct values (exact countDistinct above
    // expands each group to its distinct keys before the final count).
    // ORACLE-CHECKED since round 12 via sketch-then-verify: the sketch
    // estimate itself is engine-specific (DuckDB's HLL differs), but the
    // PRODUCTION estimate's error contract is hash-checkable — the query
    // emits the exact count plus `hll_within_rsd` = (|est - exact| <=
    // 3.75*rsd*exact), and the oracle asserts TRUE. The estimate is
    // deterministic for fixed input, so a hash/estimator regression in
    // the built-in HLL++ flips the boolean and fails the gate (a broken
    // hash inflates error 10x+; observed error <= 1.03% at every SF;
    // rsd = 0.02). The bound sits at 3.75 sigma so a REGENERATED corpus
    // cannot flip it by estimator luck (2.5 sigma would flip ~1% of
    // regens per row); the tight 2%-rsd law stays spec-verified in
    // OperatorsSpec on the fixed corpora.
    QueryDef("q_approx_distinct",
      (s, dir) => {
        // measured and REJECTED (r21): a guarded spread before the
        // partial aggregate read 2.47 s vs 2.14 s unspread (min of 5) —
        // the exact-distinct path already pays a (l_returnflag,
        // l_partkey)-keyed exchange that spreads the heavy phase, and
        // the extra round-robin exchange (plus its deterministic
        // pre-sort) only added cost. Left unspread deliberately.
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(
            approx_count_distinct(col("l_partkey"), 0.02).as("__ap"),
            countDistinct(col("l_partkey")).as("dp_exact"))
          .select(col("l_returnflag"), col("dp_exact"),
            (abs(col("__ap") - col("dp_exact")) <=
              lit(0.075) * col("dp_exact")).as("hll_within_rsd"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS dp_exact, TRUE AS hll_within_rsd FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // exact percentiles (continuous interpolation — Spark `percentile`
    // matches DuckDB `quantile_cont` definitionally)
    QueryDef("q_percentile",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(
            expr("percentile(l_quantity, 0.5)").as("median_qty"),
            expr("percentile(l_quantity, 0.95)").as("p95_qty"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty, quantile_cont(l_quantity, 0.95) AS p95_qty FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // custom typed Aggregator (functions.udaf): exact bitmap distinct —
    // order-independent OR-mergeable buffer, oracle == COUNT(DISTINCT)
    QueryDef("q_udaf_bitmap",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(graft.functions.Aggregators
            .bitmapDistinct(col("l_suppkey"), 100000).as("distinct_supp"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS distinct_supp FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // grouping sets via cube (all 4 grouping combinations)
    QueryDef("q_cube",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .cube("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
            coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
            col("n"))
          .orderBy("rf", "ls")
      },
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls, COUNT(*) AS n FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) ORDER BY rf, ls""")),

    // CSV source round-trip: write nation out as CSV, read it back via the
    // explicit-schema FAILFAST reader, and aggregate. The DuckDB oracle
    // computes the same aggregate from the original parquet — a hash match
    // proves the CSV sink+source preserve every value and type.
    QueryDef("q_csv_roundtrip",
      (s, dir) => {
        import org.apache.spark.sql.types._
        // sink path is derived from the scale-factor dir, so drivers
        // running at different SFs never clobber each other's round-trip
        val path = Tables.scratchPath("q_csv_roundtrip", dir)
        graft.sources.Sources.writeCsv(Tables.nation(s, dir), path)
        val schema = StructType(Seq(
          StructField("n_nationkey", IntegerType),
          StructField("n_name", StringType),
          StructField("n_regionkey", IntegerType)))
        graft.sources.Sources.csv(s, path, schema)
          .groupBy("n_regionkey")
          .agg(count(lit(1)).as("n_nations"),
            min("n_name").as("first_name"),
            sum(col("n_nationkey").cast("long")).as("key_sum"))
          .orderBy("n_regionkey")
      },
      Some("""SELECT n_regionkey, COUNT(*) AS n_nations, MIN(n_name) AS first_name, CAST(SUM(n_nationkey) AS BIGINT) AS key_sum FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""")),

    // JSON source round-trip (the ndjson mirror of q_csv_roundtrip):
    // supplier — including a double column — out to newline-delimited
    // JSON, back through the explicit-schema FAILFAST reader, aggregated;
    // oracle computes the same from the original parquet. Doubles survive
    // because Spark writes shortest-round-trip representations, and the
    // aggregate goes through the decimal-exact sum.
    QueryDef("q_json_roundtrip",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val path = Tables.scratchPath("q_json_roundtrip", dir)
        graft.sources.Sources.writeJson(Tables.supplier(s, dir), path)
        val schema = StructType(Seq(
          StructField("s_suppkey", LongType),
          StructField("s_name", StringType),
          StructField("s_nationkey", IntegerType),
          StructField("s_acctbal", DoubleType)))
        graft.sources.Sources.json(s, path, schema)
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("n_supp"),
            min("s_name").as("first_name"),
            dsum(col("s_acctbal")).as("acctbal_sum"))
          .orderBy("s_nationkey")
      },
      Some(s"""SELECT s_nationkey, COUNT(*) AS n_supp, MIN(s_name) AS first_name, ${dsumSql("s_acctbal")} AS acctbal_sum FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""")),

    // ORC source round-trip (the columnar mirror of q_csv_roundtrip):
    // part out to ORC, back through the explicit-schema vectorized
    // reader, aggregated; oracle computes the same from the original
    // parquet — a hash match proves the ORC sink+source preserve every
    // value and type.
    QueryDef("q_orc_roundtrip",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val path = Tables.scratchPath("q_orc_roundtrip", dir)
        graft.sources.Sources.writeOrc(
          Tables.part(s, dir).select("p_partkey", "p_brand", "p_size",
            "p_retailprice"), path)
        val schema = StructType(Seq(
          StructField("p_partkey", LongType),
          StructField("p_brand", StringType),
          StructField("p_size", IntegerType),
          StructField("p_retailprice", DoubleType)))
        graft.sources.Sources.orc(s, path, schema)
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_parts"),
            sum(col("p_size").cast("long")).as("size_sum"),
            dsum(col("p_retailprice")).as("price_sum"))
          .orderBy("p_brand")
      },
      Some(s"""SELECT p_brand, COUNT(*) AS n_parts, CAST(SUM(p_size) AS BIGINT) AS size_sum, ${dsumSql("p_retailprice")} AS price_sum FROM part GROUP BY p_brand ORDER BY p_brand""")),

    // TPC-H Q7 skeleton (volume shipping): lineitem joined through
    // supplier and customer to TWO nation aliases — the self-joined
    // dimension pattern; both nation sides broadcast, facts shuffle once.
    QueryDef("q7_volume",
      (s, dir) => {
        val n1 = Tables.nation(s, dir)
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
        val n2 = Tables.nation(s, dir)
          .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
        Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
          .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
          .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
            (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some(s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year, ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN supplier ON l_suppkey = s_suppkey JOIN nation n1 ON s_nationkey = n1.n_nationkey JOIN nation n2 ON c_nationkey = n2.n_nationkey WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1') GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // TPC-H Q8 skeleton (market share): conditional aggregation (share =
    // regional revenue / total revenue per year) over a 7-table join —
    // the numerator rides as a CASE inside the same aggregate pass.
    QueryDef("q8_market_share",
      (s, dir) => {
        val n1 = Tables.nation(s, dir)
          .select(col("n_nationkey").as("c_nk"), col("n_regionkey").as("c_rk"))
        val n2 = Tables.nation(s, dir)
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
        val vol = dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        Tables.lineitem(s, dir)
          .join(broadcast(Tables.part(s, dir).filter(col("p_size") === 15)),
            col("l_partkey") === col("p_partkey"))
          .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
          .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
          .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
            col("c_rk") === col("r_regionkey"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(
            dsum(when(col("supp_nation") === "NATION_3",
              col("l_extendedprice") * (lit(1) - col("l_discount")))
              .otherwise(lit(0.0))).as("cn_volume"),
            vol.as("total_volume"))
          .orderBy("o_year")
      },
      Some(s"""SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year, ${dsumSql("CASE WHEN n2.n_name = 'NATION_3' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")} AS cn_volume, ${dsumSql("l_extendedprice * (1 - l_discount)")} AS total_volume FROM lineitem JOIN part ON l_partkey = p_partkey JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN supplier ON l_suppkey = s_suppkey JOIN nation n1 ON c_nationkey = n1.n_nationkey JOIN nation n2 ON s_nationkey = n2.n_nationkey JOIN region ON n1.n_regionkey = r_regionkey WHERE p_size = 15 AND r_name = 'ASIA' GROUP BY 1 ORDER BY 1""")),

    // TPC-H Q10 skeleton (returned-item reporting): revenue lost to
    // returns per customer — fact filter pushed to the scan, nation
    // broadcast, one aggregation shuffle, top-20 via TakeOrdered.
    QueryDef("q10_returned",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .filter(col("l_returnflag") === "R")
          .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, dir)),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy("c_custkey", "c_name", "n_name")
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some(s"""SELECT c_custkey, c_name, n_name, ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey WHERE l_returnflag = 'R' GROUP BY 1, 2, 3 ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // TPC-H Q13 skeleton (customer order-count distribution): a left
    // join preserving order-less customers, then a distribution over the
    // per-customer counts — two keyed aggregations, the second over a
    // count-domain-sized frame.
    QueryDef("q13_custdist",
      (s, dir) => {
        Tables.customer(s, dir)
          .join(Tables.orders(s, dir),
            col("c_custkey") === col("o_custkey"), "left")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy("c_count")
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""SELECT c_count, COUNT(*) AS custdist FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY 1) GROUP BY 1 ORDER BY custdist DESC, c_count DESC""")),

    // TPC-H Q21 shape (suppliers who kept orders waiting): the classic
    // multi-EXISTS/NOT-EXISTS self-join on lineitem — l1 is a late line
    // of a finished order, EXISTS another supplier on the same order,
    // NOT EXISTS another LATE supplier on it (i.e. this supplier alone
    // held the order up). The reference dataset has no receipt/commit
    // dates, so "late" := shipped more than 90 days after the order
    // date. Spark-first shape: the nation-filtered supplier dim is
    // broadcast onto l1 BEFORE the self-joins (cuts the probe side
    // early, classic Q21 ordering), and the EXISTS/NOT EXISTS become a
    // left-semi and a left-anti join — all three lineitem instances
    // shuffle on the SAME key (l_orderkey), and each is column-pruned
    // independently (l2 never touches orders at all — another-supplier
    // existence needs only the raw lineitem scan).
    QueryDef("q21_suppliers_kept_waiting",
      (s, dir) => {
        val lines = Tables.lineitem(s, dir)
          .select("l_orderkey", "l_suppkey", "l_shipdate")
          .join(Tables.orders(s, dir)
            .select("o_orderkey", "o_orderdate", "o_orderstatus"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey"), col("l_suppkey"),
            (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
              .as("late"),
            col("o_orderstatus"))
        val supNation = Tables.supplier(s, dir)
          .join(broadcast(Tables.nation(s, dir)
              .filter(col("n_name").isin("NATION_3", "NATION_7"))),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "s_name")
        // r21 rewrite (guide §2.4 — remove shuffles outright): the semi/
        // anti formulation planned `lines` TWICE (l1 and l3 are different
        // filters of the same join, so the lineitem⋈orders join executed
        // twice) plus a third lineitem instance for l2 — five exchanges
        // and three joins. Both existence tests are per-ORDER set facts,
        // so ONE window over the join's own l_orderkey partitioning
        // (zero additional exchanges — the SMJ output is already hash-
        // partitioned and sorted on the key) computes them for every row:
        //  - EXISTS l2 with s2 <> me    ⇔ the order has >= 2 distinct
        //    suppliers (my own supplier is in the set; the inner join
        //    drops no lineitem rows — every l_orderkey has its order,
        //    asserted per SF by SchemaCanarySpec);
        //  - NOT EXISTS late l3, s3 <> me ⇔ the order's LATE-supplier
        //    set is exactly {me} — and an l1 row is itself late, so
        //    that is |late set| == 1.
        // Same rows, same numwait counts (oracle SQL unchanged).
        val w = Window.partitionBy("l_orderkey")
        lines
          // one select, one Window exec (separate withColumns planned two)
          .select(col("*"),
            size(collect_set(col("l_suppkey")).over(w)).as("__n_supp"),
            size(collect_set(when(col("late"), col("l_suppkey"))).over(w))
              .as("__n_late_supp"))
          .filter(col("late") && col("o_orderstatus") === "F" &&
            col("__n_supp") > 1 && col("__n_late_supp") === 1)
          .join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
          .groupBy("s_name").agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(100)
      },
      Some("""WITH lines AS (SELECT l_orderkey, l_suppkey, (l_shipdate > o_orderdate + INTERVAL 90 DAY) AS late, o_orderstatus FROM lineitem JOIN orders ON o_orderkey = l_orderkey), l1 AS (SELECT l_orderkey, l_suppkey FROM lines WHERE late AND o_orderstatus = 'F') SELECT s_name, COUNT(*) AS numwait FROM l1 JOIN supplier ON s_suppkey = l_suppkey JOIN nation ON n_nationkey = s_nationkey WHERE n_name IN ('NATION_3', 'NATION_7') AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey) AND NOT EXISTS (SELECT 1 FROM lines l3 WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey AND l3.late) GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""")),

    // TPC-H Q4 shape (no commitdate/receiptdate in this schema: "late" =
    // shipped >60 days after the order date, as in q21): order-priority
    // checking — a quarter of orders with an EXISTS late-line probe,
    // planned as a left-semi join keyed on the order key
    QueryDef("q4_priority_late",
      (s, dir) => {
        val ord = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1997-07-01 00:00:00")) &&
            col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1997-10-01 00:00:00")))
        val li = Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate")
        ord.join(li, col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
            "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count FROM orders WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00' AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY) GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // TPC-H Q9 shape (no partsupp in this schema, so revenue stands in
    // for profit): product-line revenue by nation x order-year for parts
    // matching a name fragment — the part filter broadcasts onto the
    // lineitem probe, the orders join shuffles on the order key, nation
    // broadcasts onto the supplier key
    QueryDef("q9_profit_shape",
      (s, dir) => {
        val redParts = Tables.part(s, dir)
          .filter(col("p_name").contains("red")).select("p_partkey")
        val li = Tables.lineitem(s, dir)
          .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
        val withOrd = li.join(
          Tables.orders(s, dir).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        withOrd
          .join(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey"),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.nation(s, dir)),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"),
            year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
          .orderBy(col("n_name"), col("o_year").desc)
      },
      Some(s"""SELECT n_name, CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year, ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue FROM lineitem JOIN part ON l_partkey = p_partkey JOIN orders ON l_orderkey = o_orderkey JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey WHERE p_name LIKE '%red%' GROUP BY 1, 2 ORDER BY n_name, o_year DESC""")),

    // TPC-H Q14: promotion revenue share for one ship-month — conditional
    // aggregation over the part-type flag; the part dim broadcasts, both
    // decimal-exact sums come out of ONE partial-agg pass, and the final
    // double division is a single deterministic operation
    QueryDef("q14_promo_share",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1997-09-01 00:00:00")) &&
            col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-10-01 00:00:00")))
        li.join(broadcast(Tables.part(s, dir).select("p_partkey", "p_type")),
            col("l_partkey") === col("p_partkey"))
          .agg((lit(100.0) * dsum(when(col("p_type") === "PROMO",
              col("l_extendedprice") * (lit(1) - col("l_discount")))
              .otherwise(lit(0.0))) /
            dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("promo_revenue_pct"))
      },
      Some(s"""SELECT 100.0 * ${dsumSql("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")} / ${dsumSql("l_extendedprice * (1 - l_discount)")} AS promo_revenue_pct FROM lineitem JOIN part ON l_partkey = p_partkey WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'""")),

    // TPC-H Q15: top supplier(s) by one-quarter revenue — the max is taken
    // over the SUPPLIER-sized aggregate (a single-partition window over a
    // bounded frame, never over lineitem), then the supplier dim attaches
    QueryDef("q15_top_supplier",
      (s, dir) => {
        val rev = Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
            col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1996-04-01 00:00:00")))
          .groupBy("l_suppkey")
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("total_revenue"))
        val top = rev
          .withColumn("__mx", max("total_revenue").over(Window.partitionBy()))
          .filter(col("total_revenue") === col("__mx"))
        top.join(broadcast(Tables.supplier(s, dir)),
            col("l_suppkey") === col("s_suppkey"))
          .select("s_suppkey", "s_name", "total_revenue")
          .orderBy("s_suppkey")
      },
      Some(s"""WITH rev AS (SELECT l_suppkey, ${dsumSql("l_extendedprice * (1 - l_discount)")} AS total_revenue FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00' GROUP BY 1) SELECT s_suppkey, s_name, total_revenue FROM rev JOIN supplier ON s_suppkey = l_suppkey WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev) ORDER BY s_suppkey""")),

    // TPC-H Q17: small-quantity revenue for one brand — the per-part
    // average-quantity threshold is a correlated scalar, planned as a
    // part-keyed aggregate joined back to the (brand-filtered) lines; the
    // threshold compare uses qty*5 < avg (exact integer-in-double times 5)
    // so no 0.2 rounding can flip a borderline row between engines
    QueryDef("q17_small_qty_revenue",
      (s, dir) => {
        val brandParts = Tables.part(s, dir)
          .filter(col("p_brand") === "Brand#1").select("p_partkey")
        val lines = Tables.lineitem(s, dir)
          .select("l_partkey", "l_quantity", "l_extendedprice")
          .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
        val perPart = lines.groupBy(col("l_partkey").as("__pk"))
          .agg(davg(col("l_quantity")).as("avg_qty"))
        lines.join(perPart, col("l_partkey") === col("__pk"))
          .filter(col("l_quantity") * 5 < col("avg_qty"))
          .agg((dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
      },
      Some(s"""WITH pl AS (SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem JOIN part ON p_partkey = l_partkey WHERE p_brand = 'Brand#1'), pa AS (SELECT l_partkey, ${davgSql("l_quantity")} AS avg_qty FROM pl GROUP BY 1) SELECT ${dsumSql("l_extendedprice")} / 7.0 AS avg_yearly FROM pl JOIN pa USING (l_partkey) WHERE l_quantity * 5 < avg_qty""")),

    // TPC-H Q18: large-volume customers — the HAVING on the order-keyed
    // quantity sum runs FIRST (map-side partials, one keyed shuffle) and
    // only qualifying orders join outward; quantity sums of small ints are
    // exact in double at any accumulation order
    QueryDef("q18_large_volume",
      (s, dir) => {
        val big = Tables.lineitem(s, dir)
          .groupBy("l_orderkey")
          .agg(sum("l_quantity").as("sum_qty"))
          .filter(col("sum_qty") > 180)
        big.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
            col("o_totalprice"), col("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(100)
      },
      Some("""SELECT c_name, c_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_totalprice, SUM(l_quantity) AS sum_qty FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2, 3, 4, 5 HAVING SUM(l_quantity) > 180 ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")),

    // TPC-H Q19 shape (no container column): disjunctive bracket
    // predicate — three (type, size, quantity) brackets OR'd together,
    // evaluated inside the scan stage after the broadcast part attach; one
    // conditional-free decimal-exact sum out
    QueryDef("q19_bracket_revenue",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        li.join(broadcast(Tables.part(s, dir)
            .select("p_partkey", "p_type", "p_size")),
            col("l_partkey") === col("p_partkey"))
          .filter(
            (col("p_type") === "PROMO" && col("p_size").between(1, 10) &&
              col("l_quantity").between(1, 15)) ||
            (col("p_type") === "MEDIUM" && col("p_size").between(1, 20) &&
              col("l_quantity").between(10, 25)) ||
            (col("p_type") === "LARGE" && col("p_size").between(1, 30) &&
              col("l_quantity").between(20, 35)))
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
      },
      Some(s"""SELECT ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue FROM lineitem JOIN part ON l_partkey = p_partkey WHERE (p_type = 'PROMO' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15) OR (p_type = 'MEDIUM' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 25) OR (p_type = 'LARGE' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 20 AND 35)""")),

    // TPC-H Q22 shape (no phone column, and every customer here has SOME
    // order): idle rich customers — above-average balance with no order
    // since 1999, per nation. The scalar average rides in as a broadcast
    // single-row frame (the plan stays lazy end-to-end); the no-recent-
    // order probe is a left-anti join on the customer key
    QueryDef("q22_idle_rich",
      (s, dir) => {
        val cust = Tables.customer(s, dir)
        val avgBal = cust.filter(col("c_acctbal") > 0)
          .agg(davg(col("c_acctbal")).as("__avg"))
        val recent = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1999-01-01 00:00:00")))
          .select("o_custkey")
        cust.crossJoin(broadcast(avgBal))
          .filter(col("c_acctbal") > col("__avg"))
          .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
          .orderBy("c_nationkey")
      },
      Some(s"""SELECT c_nationkey, COUNT(*) AS numcust, ${dsumSql("c_acctbal")} AS totacctbal FROM customer c WHERE c_acctbal > (SELECT ${davgSql("c_acctbal")} FROM customer WHERE c_acctbal > 0) AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00') GROUP BY c_nationkey ORDER BY c_nationkey""")),

    // RANGE window frame: per-customer rolling 30-day order spend — a
    // VALUE-based frame (range interval preceding), not a row count;
    // one shuffle on the partition key.
    QueryDef("q_window_range",
      (s, dir) => {
        // NTZ -> epoch seconds via a UTC timestamp cast (session tz is
        // pinned UTC), matching DuckDB's epoch() on the naive timestamp
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
          .rangeBetween(-30L * 86400, 0)
        Tables.orders(s, dir)
          .filter(col("o_custkey") < 100)
          .select(col("o_custkey"), col("o_orderkey"),
            sum(col("o_totalprice").cast("decimal(27,6)")).over(w)
              .cast("double").as("spend_30d"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) OVER (PARTITION BY o_custkey ORDER BY epoch(o_orderdate) RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d FROM orders WHERE o_custkey < 100 ORDER BY o_custkey, o_orderkey""")),

    // Time-partitioned fact layout round-trip: write lineitem into
    // month directories (range-clustered, time-sorted files), then run a
    // one-month query against the layout — a partition-pruned scan that
    // never opens other months' files (pruning proven in ScaleOpsSpec;
    // the oracle checks the answer against the unpartitioned source).
    QueryDef("q_time_layout",
      (s, dir) => {
        val path = Tables.scratchPath("q_time_layout", dir)
        val rows = Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate",
          "l_extendedprice", "l_discount")
        graft.operators.ScaleOps.writeTimePartitioned(rows, "l_shipdate", path)
        Tables.readWritten(s, path, rows.schema)
          .filter(col("part_key") === "1997-03")
          .groupBy(date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"))
          .agg(count(lit(1)).as("n"),
            dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
          .orderBy("ship_day")
      },
      Some(s"""SELECT strftime(l_shipdate, '%Y-%m-%d') AS ship_day, COUNT(*) AS n, ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue FROM lineitem WHERE strftime(l_shipdate, '%Y-%m') = '1997-03' GROUP BY 1 ORDER BY 1""")),

    // Pivot (long -> wide): explicit value list so no distinct-values job
    // runs at plan time — at scale the value domain must be declared, not
    // discovered by an extra pass over the fact table.
    QueryDef("q_pivot",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(sum("l_quantity"))
          .withColumnRenamed("F", "qty_f")
          .withColumnRenamed("O", "qty_o")
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS qty_f, SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS qty_o FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Navigation window functions: lead/lag/ntile per customer order
    // history — one shuffle on the partition key, deterministic tie-break.
    QueryDef("q_window_leadlag",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        Tables.orders(s, dir)
          .filter(col("o_custkey") < 200)
          .select(col("o_custkey"), col("o_orderkey"),
            lag("o_totalprice", 1).over(w).as("prev_price"),
            lead("o_totalprice", 1).over(w).as("next_price"),
            ntile(4).over(w).as("quartile"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, LAG(o_totalprice) OVER w AS prev_price, LEAD(o_totalprice) OVER w AS next_price, NTILE(4) OVER w AS quartile FROM orders WHERE o_custkey < 200 WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) ORDER BY o_custkey, o_orderkey""")),

    // Correlated-subquery pattern (each customer's maximum order), executed
    // the scale-right way: a windowed max + filter — ONE shuffle on the
    // correlation key instead of the self-join + re-aggregation a literal
    // decorrelation would run (the oracle states it as the subquery).
    QueryDef("q_corr_max_order",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
        Tables.orders(s, dir)
          .withColumn("__max", max("o_totalprice").over(w))
          .filter(col("o_totalprice") === col("__max"))
          .select("o_custkey", "o_orderkey", "o_totalprice")
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice FROM orders o WHERE o_totalprice = (SELECT MAX(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey) ORDER BY o_custkey, o_orderkey""")),

    // Explicit GROUPING SETS (beyond cube/rollup): the two single-column
    // marginals plus the grand total in one pass — Spark expands to a
    // single expand + hash-agg, not three scans.
    QueryDef("q_grouping_sets",
      (s, dir) => {
        Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_gs")
        s.sql("""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
                        COALESCE(l_linestatus, 'ALL') AS ls,
                        SUM(l_quantity) AS sq, COUNT(*) AS n
                 FROM lineitem_gs
                 GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
                 ORDER BY rf, ls""")
      },
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls, SUM(l_quantity) AS sq, COUNT(*) AS n FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ()) ORDER BY rf, ls""")),

    // Changelog merge (lakehouse CDC upsert): snapshot + updates + inserts
    // + delete tombstones resolved to latest-per-key in ONE keyed shuffle
    // with a max_by partial aggregate (no window/sort over the union).
    // Snapshot = keys not divisible by 3; v2 updates/inserts touch keys
    // divisible by 5 (+1000.0 price — an exact IEEE double op, engine-
    // reproducible); v3 tombstones delete keys divisible by 11.
    QueryDef("q_merge_upsert",
      (s, dir) => {
        val ord = Tables.orders(s, dir)
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        val snap = ord.filter(col("o_orderkey") % 3 =!= 0)
          .withColumn("version", lit(1L)).withColumn("deleted", lit(false))
        val upserts = ord.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0d)
          .withColumn("version", lit(2L)).withColumn("deleted", lit(false))
        val deletes = ord.filter(col("o_orderkey") % 11 === 0)
          .withColumn("version", lit(3L)).withColumn("deleted", lit(true))
        graft.operators.ScaleOps.mergeLatest(
            snap, upserts.unionByName(deletes),
            Seq("o_orderkey"), "version", deletedCol = Some("deleted"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("price_sum"))
          .orderBy("o_orderstatus")
      },
      Some(s"""WITH ord AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders), snap AS (SELECT *, 1 AS version, false AS deleted FROM ord WHERE o_orderkey % 3 <> 0), chg AS (SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice, 2 AS version, false AS deleted FROM ord WHERE o_orderkey % 5 = 0 UNION ALL SELECT o_orderkey, o_orderstatus, o_totalprice, 3, true FROM ord WHERE o_orderkey % 11 = 0), u AS (SELECT *, 0 AS src FROM snap UNION ALL SELECT *, 1 AS src FROM chg), m AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY version DESC, src DESC) AS rn FROM u) WHERE rn = 1 AND NOT deleted) SELECT o_orderstatus, COUNT(*) AS n, ${dsumSql("o_totalprice")} AS price_sum FROM m GROUP BY 1 ORDER BY 1""")),

    // Z-order (Morton-curve) clustering layout: lineitem written range-
    // clustered by the bit-interleave of (l_partkey, l_suppkey), then a
    // two-dimension predicate answered through file-level min/max
    // skipping — BOTH columns prune files under the Z-curve (a linear
    // sort would cluster only one; pruning on each dim is asserted in
    // ScaleOpsSpec). Oracle recomputes from the unpartitioned source.
    QueryDef("q_zorder_layout",
      (s, dir) => {
        val path = Tables.scratchPath("q_zorder_layout", dir)
        val src = Tables.lineitem(s, dir)
          .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
            "l_returnflag")
        graft.operators.ScaleOps.writeZOrdered(
          src, "l_partkey", "l_suppkey", path, numFiles = 16)
        val manifest = graft.operators.ScaleOps.minMaxManifest(
          s, path, "l_partkey")
        graft.operators.ScaleOps.readSkipping(
            s, path, manifest, "l_partkey", lit(100L), lit(300L))
          .filter(col("l_suppkey") <= 50)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty_sum"))
          .orderBy("l_returnflag")
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS n, ${dsumSql("l_quantity")} AS qty_sum FROM lineitem WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey <= 50 GROUP BY 1 ORDER BY 1""")),

    // Column profiling (data-quality summary): non-null/distinct counts +
    // min/max/sum for four measure columns in ONE scan — a single
    // multi-aggregate pass unpivoted to long form with stack(), not one
    // job per column (the difference between 1x and Nx I/O on a 100 TB
    // profile run).
    QueryDef("q_profile",
      (s, dir) => {
        // one branch per column, each a SINGLE-distinct aggregate: four
        // distincts in one agg make Spark EXPAND the input 5x before the
        // shuffle (every row replicated per distinct group), while one
        // distinct plans as a plain two-phase aggregate over a one-column
        // pruned parquet scan — 4 narrow branches beat one 5x-expanded
        // pass (3.67 -> 0.56 s min-of-3 at sf0.1, same exact results)
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        cols.map { c =>
          // measured and REJECTED (r21): a guarded spread per branch
          // read a flat wall (1.88 -> 1.90 s in the fold) while task CPU
          // went 5.4 -> 19.0 s — the four round-robin exchanges each pay
          // the deterministic pre-repartition sort (SPARK-23207) of the
          // full 600 K-row column, costing more than the partial
          // aggregates they spread. The count_distinct path already
          // carries its own keyed exchange. Left unspread deliberately.
          Tables.lineitem(s, dir).select(c).agg(
              count(col(c)).as("n_nonnull"),
              count_distinct(col(c)).as("n_distinct"),
              min(col(c)).cast("double").as("min_v"),
              max(col(c)).cast("double").as("max_v"),
              dsum(col(c)).as("sum_v"))
            .select(lit(c).as("col_name"), col("n_nonnull"),
              col("n_distinct"), col("min_v"), col("max_v"), col("sum_v"))
        }.reduce(_ unionByName _)
          .orderBy("col_name")
      },
      Some {
        val parts = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
          .map(c => s"SELECT '$c' AS col_name, COUNT($c) AS n_nonnull, COUNT(DISTINCT $c) AS n_distinct, CAST(MIN($c) AS DOUBLE) AS min_v, CAST(MAX($c) AS DOUBLE) AS max_v, ${dsumSql(c)} AS sum_v FROM lineitem")
        parts.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY col_name")
      }),

    // Missing-value imputation with per-group means: nulls synthesized
    // deterministically (quantity 1 -> NULL), filled from the group's
    // decimal-exact mean of the REMAINING values; the oracle replays the
    // same two-level computation.
    QueryDef("q_impute",
      (s, dir) => {
        val base = Tables.lineitem(s, dir)
          .select(col("l_returnflag"),
            when(col("l_quantity") === 1.0d, lit(null).cast("double"))
              .otherwise(col("l_quantity")).as("q"))
        graft.operators.Prep.imputeWithGroupMean(base, "q", Seq("l_returnflag"))
          .groupBy("l_returnflag")
          .agg(sum(when(col("q").isNull, 1L).otherwise(0L)).as("n_filled"),
            dsum(col("q_filled")).as("qty_sum"))
          .orderBy("l_returnflag")
      },
      Some(s"""WITH base AS (SELECT l_returnflag, NULLIF(l_quantity, 1.0) AS q FROM lineitem), means AS (SELECT l_returnflag, ${davgSql("q")} AS mu FROM base GROUP BY 1) SELECT l_returnflag, CAST(SUM(CASE WHEN q IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_filled, ${dsumSql("COALESCE(q, mu)")} AS qty_sum FROM base JOIN means USING (l_returnflag) GROUP BY 1 ORDER BY 1""")),

    // Per-group z-score outlier report from decimal-exact moments (plain
    // stddev is accumulation-order dependent and can never hash-match);
    // scores rounded before thresholding so the flag set is
    // boundary-stable across engines.
    QueryDef("q_outliers",
      (s, dir) => {
        // spread (guarded) before zScores: its decimal-sum stats pass and
        // the scoring join ran serialized behind the 1-row-group scan
        // (1.7 task-CPU-s over 11 tasks, r21); stats are decimal-exact
        // and z_r rounds to 6, so placement cannot change the result
        graft.operators.Prep.zScores(
            graft.operators.ScaleOps.spreadCpu(Tables.lineitem(s, dir)
              .select("l_returnflag", "l_orderkey", "l_extendedprice")),
            "l_extendedprice", Seq("l_returnflag"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(when(abs(col("z_r")) > 2.5d, 1L).otherwise(0L)).as("n_outliers"))
          .orderBy("l_returnflag")
      },
      Some(s"""WITH stats AS (SELECT l_returnflag, COUNT(l_extendedprice) AS n, ${dsumSql("l_extendedprice")} AS s, ${dsumSql("l_extendedprice * l_extendedprice")} AS s2 FROM lineitem GROUP BY 1), scored AS (SELECT l.l_returnflag, CASE WHEN n > 1 AND (s2 - s * s / n) / (n - 1) > 0 THEN ROUND((l_extendedprice - s / n) / SQRT((s2 - s * s / n) / (n - 1)), 6) END AS z_r FROM lineitem l JOIN stats USING (l_returnflag)) SELECT l_returnflag, COUNT(*) AS n, CAST(SUM(CASE WHEN ABS(z_r) > 2.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers FROM scored GROUP BY 1 ORDER BY 1""")),

    // Data-quality validation report: declarative row rules counted in
    // ONE scan (NULL rule results count as violations — three-valued
    // logic must not pass a quality gate) plus an FK check as an
    // anti-join. The mixed-outcome rule set keeps the report non-vacuous.
    QueryDef("q_validate",
      (s, dir) => {
        val ord = Tables.orders(s, dir)
        val rules = graft.operators.Checks.ruleViolations(ord, Seq(
          "orderkey_nonnull" -> col("o_orderkey").isNotNull,
          "price_positive" -> (col("o_totalprice") > 0),
          "price_under_300k" -> (col("o_totalprice") < 300000.0d),
          "status_known" -> col("o_orderstatus").isin("F", "O", "P")))
        val fk = graft.operators.Checks.fkViolations(
          ord, "o_custkey", Tables.customer(s, dir), "c_custkey")
          .select(lit("custkey_fk").as("rule"), col("violations"))
        rules.unionByName(fk).orderBy("rule")
      },
      Some("""SELECT rule, CAST(violations AS BIGINT) AS violations FROM (SELECT 'orderkey_nonnull' AS rule, SUM(CASE WHEN o_orderkey IS NOT NULL THEN 0 ELSE 1 END) AS violations FROM orders UNION ALL SELECT 'price_positive', SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) FROM orders UNION ALL SELECT 'price_under_300k', SUM(CASE WHEN o_totalprice < 300000.0 THEN 0 ELSE 1 END) FROM orders UNION ALL SELECT 'status_known', SUM(CASE WHEN o_orderstatus IN ('F', 'O', 'P') THEN 0 ELSE 1 END) FROM orders UNION ALL SELECT 'custkey_fk', COUNT(*) FROM orders WHERE o_custkey IS NOT NULL AND o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)) ORDER BY rule"""))
  )
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Readers for the generated parquet test tables (TESTDATA.md).
  *
  * Every table's schema is declared here, never inferred: a parquet read
  * without a schema starts a Spark job (the footer scan) the moment the
  * DataFrame is built, so each query would run one job per table before
  * its action. With the declaration, building a query over these tables
  * touches no data. The declaration is the files' own column order and
  * types; `SchemaCanarySpec` compares it with the schema Spark infers
  * from the files at every SF directory, so a regenerated table that
  * drifts fails there with the column named. There is no fallback to
  * inference: a file whose types no longer match fails at read (for
  * example a UTC-adjusted TIMESTAMP where TIMESTAMP_NTZ is declared),
  * and an undeclared table name raises.
  */
object Tables {
  /** The ten testdata schemas. Timestamps are TIMESTAMP_NTZ (the files
    * store micros with isAdjustedToUTC=false); every field is nullable,
    * as Spark reads any parquet column. */
  val schemas: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> ("s_suppkey BIGINT, s_name STRING, s_nationkey INT, " +
      "s_acctbal DOUBLE"),
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, " +
      "p_type STRING, p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
    "documents" -> ("doc_id BIGINT, text STRING, lang STRING, " +
      "source STRING, n_chars BIGINT"),
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }

  def schema(name: String): StructType = schemas.getOrElse(name,
    throw new IllegalArgumentException(s"unknown testdata table '$name' " +
      s"(declared: ${schemas.keys.toSeq.sorted.mkString(", ")})"))

  def read(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.schema(schema(name)).parquet(s"$dir/$name.parquet")

  /** Reads back the parquet a query wrote at `path` from a frame of
    * schema `written`, without the footer-scan job an inferred read
    * starts: the data columns are declared, and the partition columns
    * `partCols` keep the type partition discovery gives them.
    * `SchemaCanarySpec` compares each such read with the inferred one. */
  def readWritten(s: SparkSession, path: String, written: StructType,
      partCols: String*): DataFrame =
    s.read.schema(StructType(written.filterNot(f => partCols.contains(f.name))))
      .parquet(path)

  /** Scratch directory for queries exercising a write-then-read path,
    * keyed by (query, SF dir) under this JVM's [[scratchRoot]]: different
    * SFs can't clobber each other, and repeated reps inside one JVM
    * overwrite the same directory instead of leaking a new one per rep.
    */
  def scratchPath(name: String, dir: String): String =
    s"$scratchRoot/${name}_${dir.replaceAll("[^A-Za-z0-9]", "_")}"

  /** This JVM's scratch root, `graft-scratch/pid<pid>` under
    * java.io.tmpdir (SPARK_GRAFT_TMP overrides), never a hardcoded
    * checkout location: a concurrent JVM cannot clobber its files. */
  lazy val scratchRoot: String = scratchRootIn(sys.env.getOrElse(
    "SPARK_GRAFT_TMP", sys.props.getOrElse("java.io.tmpdir", "/tmp")))

  /** The scratch root of this JVM under `base`. It is deleted at JVM
    * exit; roots left by dead pids (crashed or killed runs, which never
    * reach their own hook) are swept here, so repeated runs do not
    * accumulate scratch output. */
  private[graft] def scratchRootIn(base: String): String = {
    val parent = new java.io.File(base, "graft-scratch")
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmTree))
      f.delete()
    }
    // also matches the `<query>_<sf>_pid<pid>` directories of older runs
    val PidKeyed = ".*pid(\\d+)".r
    Option(parent.listFiles).getOrElse(Array.empty).foreach { d =>
      d.getName match {
        case PidKeyed(p) if !ProcessHandle.of(p.toLong).map[Boolean](_.isAlive)
            .orElse(false) => rmTree(d)
        case _ =>
      }
    }
    val mine = new java.io.File(parent, s"pid${ProcessHandle.current().pid()}")
    Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(mine)))
    mine.getPath
  }

  def lineitem(s: SparkSession, dir: String): DataFrame = read(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String): DataFrame = read(s, dir, "orders")
  def customer(s: SparkSession, dir: String): DataFrame = read(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = read(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame = read(s, dir, "part")
  def nation(s: SparkSession, dir: String): DataFrame = read(s, dir, "nation")
  def region(s: SparkSession, dir: String): DataFrame = read(s, dir, "region")
  /** Normalize an events frame's `ts` to a plain TimestampType (the
    * declared testdata type is TIMESTAMP_NTZ; frames built elsewhere may
    * carry other types) — the single ingestion point shared by the
    * batch reader and the streaming source, so the two cannot diverge.
    * Drift history: the driver's generator has produced both
    * TIMESTAMP(NANOS) and TIMESTAMP_MICROS with isAdjustedToUTC=false
    * (read as TIMESTAMP_NTZ).
    *   - LongType: nanos since epoch -> truncate to micros. NOTE: with
    *     the legacy nanosAsLong flag removed (round 10), a true parquet
    *     TIMESTAMP(NANOS) regen fails LOUDLY at read before this branch —
    *     SchemaCanarySpec names the type; the branch remains live for
    *     plain-INT64 `ts` columns (streaming test fixtures write those).
    *     `div` = integer division (`/` on longs is double division in
    *     Spark, which rounds and loses precision above 2^53).
    *   - TIMESTAMP_NTZ: cast to TIMESTAMP. The session timezone is pinned
    *     UTC in every entrypoint, so the cast is the identity on the
    *     stored micros and matches DuckDB's naive-as-UTC epoch_ms/us.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  def events(s: SparkSession, dir: String): DataFrame =
    normalizeTs(read(s, dir, "events"))
  def documents(s: SparkSession, dir: String): DataFrame = read(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = read(s, dir, "embeddings")
}

/** A declared query: the Spark implementation plus (when SQL-expressible)
  * the equivalent DuckDB oracle SQL run by the driver's correctness gate.
  *
  * `verifyFn`, when set, REPLACES `fn` on the correctness surface
  * (SparkEntry.queries / Verify) while Bench keeps timing `fn`. The only
  * rows that use it are the four production-hash measurement twins
  * (q_*_xx): their bench row must time the xxhash64 pipeline ALONE (that
  * wall is the floor-guarded production number), but xxhash64 has no
  * DuckDB twin — so their correctness row is a one-row DIFFERENTIAL
  * certificate ([[Differential]]) that runs the production pipeline AND
  * its md5 twin and emits oracle-checkable agreement facts (twin row
  * count, exact-duplicate ground truth + recall contract, pair-set
  * Jaccard contract). A kernel regression (wrong hashes, broken banding)
  * collapses the agreement and the oracle goes red.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    verifyFn: Option[(SparkSession, String) => DataFrame] = None
)

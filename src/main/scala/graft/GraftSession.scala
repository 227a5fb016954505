package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}

/** The one place a SparkSession is built. Bench, Verify, the tools and
  * the test suite all run on this configuration, so the oracle checks
  * the same physical plans the bench times.
  *
  * local[n] with n shuffle partitions (matching cores — the 200 default
  * over-partitions a single node); AQE on for runtime coalesce/skew
  * handling, exactly the posture a real cluster run would use.
  */
object GraftSession {

  /** SPARK_GRAFT_CPUS, or else the JVM's available processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(n: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // Shuffle-writer selection (r20 optimization round, measured):
      // with shuffle.partitions = cores (32) every shuffle sits under
      // the bypass-merge writer's default threshold (200), and that
      // writer creates M x R partition files per shuffle and
      // re-concatenates them — jstack sampling showed shuffle-write
      // file I/O dominating task run time (run >> cpu across the md5
      // family; OPTIMIZATION_r20.md §shuffle-writer). Forcing the
      // sort-based writer (ONE file + index per map task) measured
      // -20..-33% on shuffle-heavy queries at sf0.1. At production
      // partition counts (> 200) bypass never engages, so this selects
      // exactly the writer a 100 TB run uses.
      .config("spark.shuffle.sort.bypassMergeThreshold", "2")
      // AQE coalesce floor (r21 optimization round, measured): AQE's
      // partition coalescing targets the cluster parallelism
      // (parallelismFirst=true, the default) but never builds a
      // partition smaller than minPartitionSize (default 1m) — and at
      // this SF most post-shuffle stages carry only a few MB, so the
      // 1m floor overrides the parallelism target and serializes
      // merge/join/verify stages onto 2-6 tasks (StageProfile:
      // q_approx_distinct's distinct-merge ran 1.2 task-CPU-s on 2
      // tasks). Lowering the floor to 64k lets those stages spread to
      // the core count. Interleaved same-JVM A/B (ConfAB, alternating
      // arm order, min of 5-6): 11 of 12 comparisons favored 64k,
      // ratios 1.1-2.1x (OPTIMIZATION_r21.md). At production scale
      // post-shuffle partitions are tens of MB and the floor never
      // binds — decisions are identical to the default — so this only
      // makes the bench engage the cores a production stage would.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warm-up actions so JVM/codegen startup isn't billed to the first
    * timed query: a scan plus a small decimal groupBy-agg (compiles the
    * hash-agg + decimal codegen paths the first real queries use). */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    graft.queries.Tables.lineitem(spark, sfDir).count()
    graft.queries.Tables.region(spark, sfDir)
      .groupBy("r_regionkey")
      .agg(sum(col("r_regionkey").cast("decimal(27,6)")))
      .count()
  }

  /** Bills each timed run standalone: no cross-query/rep cache reuse.
    * Checkpoint-backed results (the dedup pipelines) live as persisted
    * RDDs outside the cacheManager — drop those blocks too. */
  def clearCaches(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

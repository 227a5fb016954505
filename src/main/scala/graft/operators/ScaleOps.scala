package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout and skew operators for the 100 TB design point:
  *
  *  - bucketed tables: both join sides pre-hashed into the same bucket
  *    count on the join key, so repeated fact-to-fact joins are
  *    co-partitioned and run WITHOUT a shuffle exchange — the dominant
  *    cost of a petabyte join is gone from every downstream query that
  *    reuses the layout.
  *  - salted join: for key skew beyond what AQE's skew-split handles —
  *    the big side salts each row into `saltFactor` sub-keys, the small
  *    side replicates per salt, so one hot key spreads over `saltFactor`
  *    tasks instead of one straggler.
  *  - deterministic hash split: stable train/validation/test assignment
  *    from the row's own id — reproducible across runs, cluster sizes,
  *    and re-partitioning, with no stored split table.
  */
object ScaleOps {

  /** Floor a frame's partition count at the cluster default parallelism —
    * the guarded input spread for CPU-DENSE stages (codec encodes, hash
    * kernels, per-feature explodes, bounded-edit-distance verifies).
    * AQE's coalescing and the scan's split planning are both SIZE-based;
    * a stage whose per-byte cost is orders of magnitude above a scan's
    * (measured: 0.7-2 s of CPU serialized behind a 1-split small-SF
    * parquet scan, StageProfile r20) violates that assumption and
    * serializes on whatever partition count the bytes suggested. GUARDED
    * on the input's current partition count, so a production-scale input
    * that already carries >= cores partitions is never coalesced down
    * and never pays an extra exchange — at 100 TB this is a no-op; the
    * one round-robin exchange of the narrow projected input is the
    * small-scale price for engaging every core on the fat stage.
    *
    * Use ONLY in front of a single CPU-fat stage — never inside a lazy
    * multiply-consumed subtree, where the added exchange breaks
    * subexpression/exchange reuse and the subtree recomputes per
    * consumer (measured as a clear loss, OPTIMIZATION_r20.md "Rejected:
    * scan fan-out").
    */
  def spreadCpu(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Total-order `df` by `key` BEFORE a fat per-row projection — the
    * r21 shape for "CPU-dense map, then orderBy(key) for deterministic
    * output" queries. Range-partition on `key` with an EXPLICIT
    * partition count (max of the session's shuffle partitions and the
    * cluster default parallelism) and sort within partitions: read in
    * partition order that IS the `orderBy(key)` total order, so a
    * deterministic per-row projection applied AFTERWARDS yields the
    * same rows in the same order as projecting first and sorting last.
    * Two measured wins over the map-then-orderBy shape (guide §2.4):
    *
    *  - a global sort's range exchange SAMPLES its child with a full
    *    separate execution; placed below the map, both the sampling
    *    pass and the exchange read only the narrow input — the fat
    *    projection runs ONCE instead of twice;
    *  - the explicit partition count keeps AQE's byte-based coalescing
    *    from collapsing the small-by-bytes sorted exchange to one task
    *    and serializing the CPU-dense projection above it (the
    *    [[spreadCpu]] rationale, without spreadCpu's extra exchange —
    *    at sf0.1 these inputs are one parquet row group, so the scan
    *    itself can never parallelize the map).
    *
    * At production scale the plan is the same one `orderBy` would run
    * (range exchange at the session's shuffle partitioning), minus the
    * byte-based coalesce of the final sort — a deliberate choice where
    * a CPU-dense stage follows. Use only when the downstream projection
    * is per-row (placement-free).
    */
  def sortedWide(df: DataFrame, key: String): DataFrame = {
    val spark = df.sparkSession
    val p = math.max(spark.sessionState.conf.numShufflePartitions,
      spark.sparkContext.defaultParallelism)
    df.repartitionByRange(p, col(key)).sortWithinPartitions(key)
  }

  /** Write a DataFrame as a bucketed table: rows are hash-partitioned into
    * `buckets` files per partition by `key` at write time. Two tables
    * bucketed with the same key and bucket count join shuffle-free.
    */
  def writeBucketed(df: DataFrame, key: String, table: String,
      path: String, buckets: Int = 32): Unit =
    df.write.mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /** Join two bucketed tables on their bucket key: with matching bucket
    * counts Catalyst plans a sort-merge join with NO exchange on either
    * side (assert with `.queryExecution.executedPlan`).
    */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
      key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)

  /** Salted join of a skewed big side against a small side on `key`:
    * big rows get a deterministic salt in [0, saltFactor) derived from a
    * uniqueness column, the small side is replicated once per salt value,
    * and the join keys on (key, salt). Result rows are identical to the
    * plain join; the hot key's rows are spread over `saltFactor` tasks.
    * Use when one key holds so much of the data that even AQE's skew
    * split leaves a straggler (e.g. an empty-string or null-ish sentinel
    * key holding 30% of a web corpus).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      saltCol: String, saltFactor: Int = 16): DataFrame = {
    require(!big.columns.contains("__salt") && !small.columns.contains("__salt"),
      "input must not already contain __salt")
    val salted = big.withColumn("__salt",
      pmod(xxhash64(col(saltCol)), lit(saltFactor)).cast("int"))
    val replicated = small.withColumn("__salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Bloom-filter pruned join: pre-filter the big side with a bloom filter
    * built from the small side's keys BEFORE the join's shuffle, using
    * Catalyst's own runtime-filter machinery (`BloomFilterAggregate` /
    * `BloomFilterMightContain` over xxhash64 — the expressions behind
    * `spark.sql.optimizer.runtime.bloomFilter`), driven explicitly so it
    * applies when the optimizer's heuristics wouldn't fire (pre-computed
    * small side, reused filter across several fact joins, non-equi layout).
    *
    * The filter is built by one aggregation job over the small side (the
    * serialized filter is a few MB for millions of keys — same
    * materialize-then-literal mechanics as Spark's injected runtime
    * filters) and is evaluated as a scan-stage predicate on the big side,
    * so non-matching fact rows never enter the join's exchange. No false
    * negatives — the subsequent join keeps the result exactly equal to the
    * plain join; false positives only cost shuffle bytes (fpp defaults to
    * the engine's 3%).
    *
    * At the 100 TB design point this is the difference between shuffling
    * the full fact table and shuffling only the ~selectivity fraction that
    * can match — the dominant cost of a selective medium-dimension join
    * that is too big to broadcast.
    */
  def bloomPrunedJoin(big: DataFrame, small: DataFrame, bigKey: String,
      smallKey: String, expectedItems: Long = 1000000L,
      joinType: String = "inner"): DataFrame = {
    // Pre-filtering the big side is only sound when unmatched big rows are
    // dropped anyway; an outer join would silently lose its preserved side.
    require(Set("inner", "leftsemi", "semi")
        .contains(joinType.toLowerCase.replaceAll("[ _]", "")),
      s"bloomPrunedJoin supports inner/left_semi join types only, got $joinType")
    val pruned = bloomKeyFilter(small, smallKey, expectedItems) match {
      case None => big.filter(lit(false)) // empty small side: nothing joins
      case Some(mightContain) => big.filter(mightContain(col(bigKey)))
    }
    // pass the NORMALIZED name to Spark: its JoinType parser strips
    // underscores but not spaces, so "left semi" would pass the require
    // above and then crash inside join() with an opaque message
    pruned.join(small, pruned(bigKey) === small(smallKey),
      joinType.toLowerCase.replaceAll("[ _]", ""))
  }

  /** Build the membership predicate behind [[bloomPrunedJoin]]: one
    * aggregation job over `small` produces the serialized filter, and the
    * returned function wraps any key column in
    * `might_contain(<filter literal>, xxhash64(key))`. None when `small`
    * is empty (no key can match). Exposed separately so one built filter
    * can prune several fact tables (star schemas share dimensions).
    */
  def bloomKeyFilter(small: DataFrame, smallKey: String,
      expectedItems: Long = 1000000L): Option[Column => Column] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.graftbridge.Bridge
    val bfAgg = Bridge.column(new BloomFilterAggregate(
      new XxHash64(Seq(Bridge.expression(col(smallKey)))),
      expectedItems).toAggregateExpression())
    Option(small.agg(bfAgg.as("bf")).head.getAs[Array[Byte]](0)).map { bf =>
      val lit = Literal.create(bf, org.apache.spark.sql.types.BinaryType)
      (key: Column) => Bridge.column(new BloomFilterMightContain(
        lit, new XxHash64(Seq(Bridge.expression(key)))))
    }
  }

  /** Distributed prefix sum: the global running total of `valueCol` in
    * `orderCol` order, WITHOUT the single-partition window that
    * `Window.orderBy` with no partition key plans (the classic
    * cumulative-sum scale trap — one task sees every row).
    *
    * Two phases: range-repartition on `orderCol` (partition i holds
    * strictly smaller keys than partition i+1), run the window inside
    * each partition keyed on `spark_partition_id()`, then add each
    * partition's exclusive offset — computed from the per-partition
    * totals, a frame with one row PER PARTITION (KBs at any scale, the
    * only place a global ordering is collapsed) — back via a broadcast
    * join. `orderCol` values must be unique and non-null: ties could
    * straddle a range boundary and make the within/across-partition
    * ordering disagree.
    *
    * The ranged frame is STAGED (an eager executor-local
    * [[Staging.snapshot]]) before the two phases read it, for two
    * reasons that both bite at scale:
    *   - the window pass and the offsets pass would otherwise each
    *     recompute the ENTIRE upstream plan (in the curation composite
    *     that upstream is the full quality->langid->dedup pipeline — two
    *     extra corpus scans);
    *   - `repartitionByRange` samples its range boundaries per execution,
    *     so two independent recomputations are not guaranteed the same
    *     `__pid` assignment for boundary-straddling rows; one shared
    *     materialization makes the partitioning the two phases agree on
    *     physical, not coincidental.
    *
    * The snapshot is `local = true`, deliberately outside the
    * reliable-checkpoint switch: the staged frame is internal to this
    * call, so nothing could ever [[Staging.free]] reliable files — a
    * long-lived session would leak one snapshot per invocation. Executor
    * blocks are reclaimed by the ContextCleaner (and
    * `graft.GraftSession.clearCaches`); losing an executor mid-query
    * fails the query, which simply retries.
    *
    * The staged frame carries ALL of `df`'s columns (the result contract
    * is input-plus-`outCol`, so every column must flow through the window
    * pass): PROJECT BEFORE CALLING when rows are wide — block storage is
    * row-width times corpus size. Narrowing here instead would need a
    * join-back to re-attach wide columns, re-executing the upstream this
    * staging exists to run once. Engine call sites pass (id, tokens);
    * ScaleOpsSpec gates the staged schema.
    *
    * Output: the input plus `outCol` = inclusive running sum.
    */
  def prefixSum(df: DataFrame, orderCol: String, valueCol: String,
      outCol: String = "running_total"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val reserved = (Seq("__pid", "__run", "__off", outCol)
      .filter(df.columns.contains)).distinct
    require(reserved.isEmpty,
      s"input must not already contain ${reserved.mkString(", ")}")
    val ranged = Staging.snapshot(df.repartitionByRange(col(orderCol))
      .withColumn("__pid", spark_partition_id()), local = true)
    val w = Window.partitionBy("__pid").orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = ranged.withColumn("__run", sum(col(valueCol)).over(w))
    val wOff = Window.orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy("__pid")
      .agg(sum(col(valueCol)).as("__tot")) // plain sum: sign-agnostic total
      .withColumn("__off", coalesce(sum(col("__tot")).over(wOff), lit(0L)))
      .select("__pid", "__off")
    local.join(broadcast(offsets), Seq("__pid"))
      .withColumn(outCol, col("__run") + col("__off"))
      // drop ALL internals: __off leaking into the output broke the
      // "input plus outCol" contract (caught by the round-11 composite
      // oracle's schema compare — q_seq_pack's explicit select masked it)
      .drop("__pid", "__run", "__off")
  }

  /** Deterministic stratified sampling: keep each row with its stratum's
    * fraction, decided by seeded xxhash64 of the id — reproducible across
    * runs and layouts (unlike `sample()`), with no shuffle: the stratum
    * fraction lookup is a literal CASE over the (small) strata map and
    * the filter is a narrow map evaluated inside the scan stage. The
    * training-data use: balance languages/sources by downsampling the
    * dominant strata.
    */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
      fractions: Map[String, Double], defaultFraction: Double = 1.0,
      seed: Int = 11): DataFrame = {
    val resolution = 1000000L
    val frac = fractions.foldLeft(lit(defaultFraction)) {
      case (acc, (k, f)) => when(col(strataCol) === lit(k), lit(f)).otherwise(acc)
    }
    df.filter(
      pmod(xxhash64(col(idCol), lit(seed)), lit(resolution)) <
        // round, not cast-truncate: 0.29 * 1e6 is 289999.999... in
        // doubles and truncation under-samples the stratum by one hash
        // slot (the hashSplit cut-rounding rule)
        round(frac * resolution).cast("long"))
  }

  /** File-level min/max manifest of `column` for the parquet dataset at
    * `path`: one row per file. Built with ONE scan and amortized over
    * every subsequent query via [[readSkipping]] — the poor man's
    * Delta/Iceberg data-skipping index, worth it when a layout
    * (range-partitioned, time-sorted) gives files tight value ranges.
    * Persist the manifest as its own tiny table in production.
    */
  def minMaxManifest(spark: SparkSession, path: String,
      column: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(column)).as("min_v"), max(col(column)).as("max_v"))

  /** Range read via a manifest: enumerate only the files whose [min,max]
    * intersects [lo, hi], read those, and re-apply the exact predicate.
    * The manifest filter runs on a file-count-sized frame (KBs per
    * thousand files); non-matching files are never opened — I/O skipping
    * decided before the scan, like a partition filter but on VALUE ranges
    * within an unpartitioned layout. Rows with a NULL `column` value
    * are excluded by the predicate either way (SQL comparison semantics).
    */
  def readSkipping(spark: SparkSession, path: String, manifest: DataFrame,
      column: String, lo: Column, hi: Column): DataFrame = {
    val files = manifest
      .filter(col("max_v") >= lo && col("min_v") <= hi)
      .select("file").collect().map(_.getString(0))
    val schema = spark.read.parquet(path).schema
    val base =
      if (files.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else
        // basePath: without it, reading LEAF files makes each file's
        // parent the base, so directory-derived partition values (a
        // writeTimePartitioned layout's part_key=...) are never
        // discovered and the explicit schema NULL-fills the partition
        // column for every row — silent corruption of any downstream
        // use of that column
        spark.read.option("basePath", path).schema(schema)
          .parquet(files.toIndexedSeq: _*)
    base.filter(col(column) >= lo && col(column) <= hi)
  }

  /** Time-partitioned fact layout: write the frame into one directory per
    * time bucket (`partCol=<yyyy-MM[-dd]>`), rows range-clustered and
    * sorted by the timestamp inside each file. Any query filtering on the
    * bucket column is then a PARTITION-PRUNED scan — non-matching
    * directories are never listed, read, or even footer-parsed — and the
    * in-file sort tightens parquet row-group min/max bounds for
    * finer-than-bucket time predicates. This is the standard 100 TB fact
    * layout: a month-window query over years of history pays I/O for the
    * months it touches, nothing else.
    */
  def writeTimePartitioned(df: DataFrame, tsCol: String, path: String,
      partCol: String = "part_key", granularity: String = "month",
      numFiles: Int = 32): Unit = {
    require(Set("month", "day").contains(granularity),
      s"granularity must be month or day, got $granularity")
    require(!df.columns.contains(partCol),
      s"input already contains the partition column $partCol")
    val fmt = if (granularity == "day") "yyyy-MM-dd" else "yyyy-MM"
    // NO input spread here (r21): the r20 round added a guarded spreadCpu
    // above the range exchange claiming a -22% A/B win, but the driver's
    // fold measured the opposite sign (q_time_layout 0.892x, the round's
    // only regression) and a r21 StageProfile read task_run 10.1 s vs
    // task_cpu 4.8 s — the extra round-robin exchange of the full write
    // input costs more than the derive+range map it parallelizes (the
    // same conclusion the writeZOrdered A/B reached in r20: 1.65 s
    // unspread vs 1.66 s spread). Reverted; the range exchange itself
    // already spreads the sort+write across numFiles tasks.
    df
      .withColumn(partCol, date_format(col(tsCol), fmt))
      .repartitionByRange(numFiles, col(partCol), col(tsCol))
      .sortWithinPartitions(col(partCol), col(tsCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(path)
  }

  /** Incremental aggregate maintenance: merge a delta batch's PARTIAL
    * aggregates into a stored per-key aggregate state without rescanning
    * history — the materialized-view maintenance primitive (daily fact
    * partitions folding into an all-time rollup). Both frames carry the
    * key columns plus mergeable aggregate columns (counts, sums, mins,
    * maxes — anything associative); `merges` names each aggregate column
    * and how it combines. ONE keyed shuffle over state + delta — history
    * is never re-read, which is the whole point at 100 TB.
    */
  def mergeAggState(state: DataFrame, delta: DataFrame, keyCols: Seq[String],
      merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "need at least one aggregate column")
    val supported = Set("sum", "min", "max")
    merges.foreach { case (c, how) =>
      require(supported.contains(how), s"unsupported merge '$how' for column $c")
    }
    require(state.columns.sorted.sameElements(delta.columns.sorted),
      "state and delta must have identical columns")
    val missing = (merges.map(_._1) ++ keyCols).filterNot(state.columns.contains)
    require(missing.isEmpty, s"columns not in state: ${missing.mkString(", ")}")
    // coverage must be TOTAL: a state column that is neither a key nor a
    // declared merge would silently vanish from the groupBy output
    val uncovered = state.columns
      .filterNot(c => keyCols.contains(c) || merges.exists(_._1 == c))
    require(uncovered.isEmpty,
      s"state columns neither keyed nor merged (would be dropped): " +
        uncovered.mkString(", "))
    val aggs = merges.map {
      case (c, "sum") => sum(col(c)).as(c)
      case (c, "min") => min(col(c)).as(c)
      case (c, _) => max(col(c)).as(c)
    }
    state.unionByName(delta)
      .groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Deterministic weighted sampling without replacement (Efraimidis-
    * Spirakis A-ES): keep the `k` rows with the largest `u^(1/w)`, where
    * `u` is a uniform in (0,1) derived from md5 of the id (replayable by
    * any engine — same rationale as [[quotaSample]]) and `w` the row's
    * weight. Inclusion probability is proportional to weight under
    * without-replacement semantics — the standard corpus-curation sampler
    * (weight = quality score, token count, source priority).
    *
    * Scale shape: the key is a narrow map inside the scan; the top-k is
    * `orderBy(key).limit(k)` = TakeOrdered — per-partition bounded heaps
    * merged on the driver, k rows of driver transfer, NO global sort or
    * single-partition shuffle at any size.
    *
    * Rows with weight <= 0 are excluded (the exponent would invert the
    * ordering); `u` is never exactly 0 or 1 (the 32-bit hash is shifted
    * into (0,1)), so the key is always well-defined.
    *
    * Cross-engine caveat: `pow` is correct only to ~1 ulp and may round
    * differently per libm, so two rows whose keys straddle the k-th rank
    * within a last-ulp margin could in principle order differently in an
    * external replay (the md5-uniform inputs make such a boundary
    * collision vanishingly unlikely — it has never been observed across
    * the round-over-round oracle runs — but a bit-parity guarantee like
    * the md5 kernels' is NOT claimed for this key).
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      k: Int, seed: Int = 17): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(!df.columns.contains("__wkey"),
      "input must not already contain __wkey")
    // hi half of the packed native md5 hash == conv(substring(hex,1,8))
    // bit for bit (Md5KernelParitySpec) — no hex render/parse per row
    val h32 = shiftrightunsigned(graft.functions.Md5Hashes.md5Hash64(
      concat_ws("|", col(idCol).cast("string"), lit(seed.toString))), 32)
    val u = (h32.cast("double") + lit(1.0d)) / lit(4294967297.0d)
    df.filter(col(weightCol) > 0)
      .withColumn("__wkey", pow(u, lit(1.0d) / col(weightCol).cast("double")))
      .orderBy(col("__wkey").desc, col(idCol))
      .limit(k)
      .drop("__wkey")
  }

  /** Deterministic per-stratum quota sampling: the `quota` rows of each
    * stratum with the smallest seeded hash — a uniform fixed-SIZE sample
    * per group (vs [[stratifiedSample]]'s fixed-RATE), reproducible across
    * runs and layouts. The hash is md5 (not xxhash64) so external engines
    * can replay the exact selection.
    *
    * Two-phase for scale: rank first within (stratum, salt) — `fanout`
    * reducers per stratum instead of one, so a 5-stratum 100 TB corpus
    * doesn't funnel through 5 tasks — keep `quota` per salt, then rank the
    * survivors (≤ fanout·quota rows per stratum) globally per stratum. The
    * second shuffle moves a bounded few-thousand-row frame regardless of
    * input size.
    */
  def quotaSample(df: DataFrame, strataCol: String, idCol: String,
      quota: Int, seed: Int = 13, fanout: Int = 32): DataFrame = {
    require(quota > 0 && fanout > 0, "quota and fanout must be positive")
    val reserved = Seq("__h", "__salt", "__rn").filter(df.columns.contains)
    require(reserved.isEmpty,
      s"input must not already contain ${reserved.mkString(", ")}")
    rankWithinGroups(df, strataCol, idCol, lit(quota), seed, fanout)
  }

  /** Cluster-balanced sampling (the embedding-space rebalancing step a
    * DataComp-style curation run uses to keep a subset topically diverse
    * instead of letting the head clusters dominate): assign every vector
    * to its nearest centroid ([[Similarity.assignCells]] — one narrow
    * codegen'd argmax-dot pass, model-sized broadcast literals), then
    * take a fixed per-cluster quota by [[quotaSample]]'s seeded-md5 rank.
    * Rows the assigner maps to a NULL cell (NaN/degenerate vectors) are
    * dropped — they have no position in embedding space and would
    * otherwise form their own sampled stratum.
    *
    * Scale shape: assignment is a scan-speed map; the sampling pays the
    * two bounded rank phases (`fanout` reducers per cluster, then a
    * ≤ fanout·quota second phase). With [[Similarity.trainCentroids]]'s
    * bounded-sample training, nothing here is corpus-sized except the
    * one scan.
    */
  def clusterBalancedSample(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Seq[Double])], quota: Int, seed: Int = 13,
      fanout: Int = 32): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    quotaSample(
      Similarity.assignCells(df, vecCol, centroids)
        .filter(col("cell").isNotNull),
      "cell", idCol, quota, seed, fanout)
  }

  /** The ONE two-phase salted rank selection [[quotaSample]] and
    * [[temperatureMixSample]] share: seeded-md5 rank within each group —
    * local (group, salt) phase keeping `quotaCol` rows per salt, then
    * the bounded global per-group phase. The hash formula and the
    * `(__h, id)` tie-break are load-bearing for the DuckDB replays, so
    * they live in exactly one place; a change here moves both samplers
    * and their oracles together. `quotaCol` may be a literal (fixed
    * quota) or a joined per-group column.
    */
  private def rankWithinGroups(df: DataFrame, groupCol: String,
      idCol: String, quotaCol: Column, seed: Int, fanout: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = md5(concat_ws("|", col(idCol).cast("string"), lit(seed.toString)))
    val wLocal = Window.partitionBy(col(groupCol), col("__salt"))
      .orderBy(col("__h"), col(idCol))
    val wGlobal = Window.partitionBy(col(groupCol))
      .orderBy(col("__h"), col(idCol))
    df.withColumn("__h", h)
      .withColumn("__salt", pmod(xxhash64(col(idCol), lit(seed)), lit(fanout)))
      .withColumn("__rn", row_number().over(wLocal))
      .filter(col("__rn") <= quotaCol)
      .withColumn("__rn", row_number().over(wGlobal))
      .filter(col("__rn") <= quotaCol)
      .drop("__h", "__salt", "__rn")
  }

  /** Temperature-tempered domain mixing — the standard LLM-pretraining
    * data-mixing step: per-domain sampling quotas proportional to
    * `n_d ^ alpha` under a global row `budget`, then a deterministic
    * uniform sample of each quota ([[quotaSample]]'s seeded-md5 rank).
    * `alpha = 1` preserves natural proportions, `alpha = 0` equalizes
    * domains, and the `0.5` default is the usual multilingual/domain
    * rebalancing temperature.
    *
    * Cross-engine determinism (the oracle replays the whole computation):
    * per-domain weights are `sqrt`/`pow` of the exact counts, floor-
    * rounded to 6 decimals (both engines correctly round sqrt per
    * IEEE 754); their total is an EXACT decimal sum of the rounded
    * values; each quota is one double multiply + one divide + a floor —
    * single-rounded identical operations in both engines — capped at the
    * domain's own size. NOTE `alpha = 0.5` (sqrt) and the trivial 0/1
    * temperatures are the bit-replayable settings; arbitrary `pow`
    * exponents are supported but `pow`'s cross-engine bit-parity is not
    * guaranteed — pin non-default temperatures with a spec before
    * declaring them on an oracle row.
    *
    * Scale shape: the quota table is |domains| rows and BROADCASTS; the
    * corpus pays one scan + the two bounded rank phases (`fanout`
    * reducers per domain, then a ≤ fanout·quota-row second phase — see
    * [[quotaSample]]). Rows with NULL domain are dropped (they match no
    * quota row in any engine). Output: the input columns of the sampled
    * rows.
    */
  def temperatureMixSample(df: DataFrame, domainCol: String, idCol: String,
      budget: Long, alpha: Double = 0.5, seed: Int = 13,
      fanout: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget > 0, s"budget must be positive, got $budget")
    require(alpha >= 0, s"alpha must be >= 0, got $alpha")
    require(fanout > 0, s"fanout must be positive, got $fanout")
    val reserved = Seq("__n", "__w", "__wt", "__q", "__h", "__salt", "__rn")
      .filter(df.columns.contains)
    require(reserved.isEmpty,
      s"input must not already contain ${reserved.mkString(", ")}")
    val weight: Column = {
      val n = col("__n").cast("double")
      if (alpha == 0.5) sqrt(n)
      else if (alpha == 0.0) lit(1.0d)
      else if (alpha == 1.0) n
      else pow(n, lit(alpha))
    }
    val counts = df.filter(col(domainCol).isNotNull)
      .groupBy(col(domainCol)).agg(count(lit(1)).as("__n"))
      .withColumn("__w", floor(weight * 1e6d + 0.5d) / 1e6d)
    // the weight total rides an unpartitioned window OVER THE COUNTS
    // FRAME — |domains| rows by construction, so the single-partition
    // exchange is bounded (the prefixSum-totals class), and the corpus
    // pays ONE counting scan instead of two (a separate agg + crossJoin
    // re-derived `counts` from its own scan). Same decimal-exact sum,
    // same double cast — quota bits unchanged.
    val wAll = Window.partitionBy()
    val quotas = counts
      .withColumn("__wt",
        sum(col("__w").cast("decimal(27,6)")).over(wAll).cast("double"))
      .select(col(domainCol),
        least(floor(lit(budget.toDouble) * col("__w") / col("__wt"))
          .cast("long"), col("__n")).as("__q"))
    rankWithinGroups(df.join(broadcast(quotas), domainCol), domainCol,
      idCol, col("__q"), seed, fanout)
      .drop("__q")
  }

  /** Changelog merge (lakehouse CDC upsert): apply a batch of keyed
    * changes — inserts, updates, and delete markers — onto a snapshot,
    * keeping the row with the highest `versionCol` per key (change rows
    * win over snapshot rows at equal version). The lakehouse MERGE INTO /
    * compaction primitive, executed the scale-right way: ONE shuffle on
    * the key with a `max_by(struct(payload), struct(version, source))`
    * aggregate — map-side partial aggregation collapses most versions
    * before the exchange, so the shuffle carries ~one row per key, not
    * the full history (a window + row_number over the union would shuffle
    * everything and rank every group). The struct-valued buffer plans as
    * a SortAggregate (in-partition sort by key, no global sort); the
    * partial/final split is what matters at scale.
    *
    * `deletedCol`, when given, names a boolean column: keys whose LATEST
    * row has it true disappear from the output (tombstones applied, not
    * carried). `versionCol` must be non-null on every row, and unique
    * per key WITHIN each input: two change rows carrying the same
    * (key, version) tie on the full ordering struct and resolve
    * arbitrarily (a CDC log's sequence number satisfies this naturally).
    */
  def mergeLatest(snapshot: DataFrame, changes: DataFrame,
      keyCols: Seq[String], versionCol: String,
      deletedCol: Option[String] = None): DataFrame = {
    require(keyCols.nonEmpty, "mergeLatest needs at least one key column")
    require(snapshot.columns.sorted.sameElements(changes.columns.sorted),
      "snapshot and changes must have identical columns")
    require(!snapshot.columns.contains("__src"),
      "input must not already contain __src")
    val tagged = snapshot.withColumn("__src", lit(0))
      .unionByName(changes.withColumn("__src", lit(1)))
    val payload = snapshot.columns.filterNot(keyCols.contains)
    val latest = tagged
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(payload.map(col): _*),
        struct(col(versionCol), col("__src"))).as("__row"))
    val kept = deletedCol match {
      // NULL tombstone flag means NOT deleted: a bare !col under SQL
      // three-valued logic evaluates NULL and filter() DROPS the row —
      // silently deleting every key whose source leaves the flag null
      // for live rows
      case Some(d) => latest.filter(!coalesce(col(s"__row.$d"), lit(false)))
      case None => latest
    }
    val order = snapshot.columns.map(c =>
      if (keyCols.contains(c)) col(c) else col(s"__row.$c").as(c))
    kept.select(order.toIndexedSeq: _*)
  }

  /** Interleave the low `bits` bits of two non-negative long columns into
    * a Morton (Z-curve) value: bit i of `a` lands at position 2i, bit i of
    * `b` at 2i+1. Pure bitwise column algebra — whole-stage codegen'd,
    * no UDF. Feed QUANTIZED values ([[zValue]]): the interleaving is only
    * meaningful when both inputs use the same fixed bit width.
    */
  def interleaveBits(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** Z-curve key of two numeric columns over declared value ranges: each
    * value is scaled into `bits` bits of its [lo, hi] range (clamped —
    * out-of-range rows sort to the curve's edge rather than corrupting
    * the interleave), then bit-interleaved. The ranges are parameters,
    * not discovered: at 100 TB the writer knows (or samples once) the
    * domain; deriving min/max inline would be an extra full scan per
    * write.
    */
  def zValue(a: Column, loA: Long, hiA: Long, b: Column, loB: Long,
      hiB: Long, bits: Int = 16): Column = {
    require(hiA > loA && hiB > loB, "need hi > lo for both z-order columns")
    val top = (1L << bits) - 1
    // scale in double: (c-lo)*top as a LONG overflows once the span
    // passes 2^(63-bits) (a nanosecond-timestamp span does); the double
    // path is exact to the quantized resolution for any span <= 2^52
    def quant(c: Column, lo: Long, hi: Long): Column =
      least(lit(top), greatest(lit(0L),
        floor((c.cast("long") - lit(lo)).cast("double") * top / (hi - lo))
          .cast("long")))
    interleaveBits(quant(a, loA, hiA), quant(b, loB, hiB), bits)
  }

  /** Multi-dimensional clustering layout: write `df` range-clustered and
    * sorted by the Z-curve of (`colA`, `colB`). A linear sort clusters one
    * column and leaves the other scattered across every file; the Z-curve
    * gives BOTH columns locality, so file-level min/max pruning
    * ([[minMaxManifest]] / [[readSkipping]] — or parquet row-group stats)
    * skips data for predicates on either column or both. This is the
    * Delta/Iceberg OPTIMIZE ZORDER primitive: the standard layout for a
    * 100 TB fact table queried along two independent selective dimensions.
    *
    * The (lo, hi) quantization ranges are computed here with one
    * min/max aggregation over the input — a write-time cost amortized
    * over every subsequent pruned read.
    */
  def writeZOrdered(df: DataFrame, colA: String, colB: String, path: String,
      numFiles: Int = 32, bits: Int = 16): Unit = {
    require(!df.columns.contains("__z"),
      "input must not already contain __z")
    val r = df.agg(
      min(col(colA).cast("long")), max(col(colA).cast("long")),
      min(col(colB).cast("long")), max(col(colB).cast("long"))).head
    // min/max over zero rows (or an all-NULL column) is NULL: fail with
    // a clear message instead of an NPE mid-write
    require(!r.isNullAt(0) && !r.isNullAt(2),
      s"writeZOrdered: no non-null ($colA, $colB) values to derive ranges from")
    val (loA, hiA, loB, hiB) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    df.withColumn("__z",
        zValue(col(colA), loA, math.max(hiA, loA + 1),
          col(colB), loB, math.max(hiB, loB + 1), bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Deterministic split assignment: bucket each row into split i with
    * probability fractions(i), by a seeded md5-derived hash of the id
    * column. The same id always lands in the same split — across runs,
    * engines of any size, and data re-layout — which is exactly what a
    * training pipeline needs from a train/val/test split (no leakage when
    * data is re-ingested or re-partitioned). The hash is md5 (not
    * xxhash64) for the same reason as [[quotaSample]]/[[weightedSample]]:
    * every external engine can replay the exact assignment
    * (`md5(id || '|' || seed)` first 8 hex chars as u32, mod resolution),
    * so the split itself is auditable SQL, not a Spark-only artifact.
    */
  def hashSplit(df: DataFrame, idCol: String, fractions: Seq[Double],
      seed: Int = 7, splitCol: String = "split"): DataFrame = {
    require(math.abs(fractions.sum - 1.0) < 1e-9, "fractions must sum to 1")
    val resolution = 1000000L
    // round, don't truncate: 0.7's double is 0.6999... and a truncated
    // cut would shift the boundary row into the wrong split vs an
    // external replay computing the cut exactly
    val cuts = fractions.scanLeft(0.0)(_ + _)
      .map(f => math.round(f * resolution))
    // hi half of the packed native md5 hash == conv(substring(hex,1,8))
    // bit for bit (Md5KernelParitySpec) — no hex render/parse per row
    val h32 = shiftrightunsigned(graft.functions.Md5Hashes.md5Hash64(
      concat_ws("|", col(idCol).cast("string"), lit(seed.toString))), 32)
    val h = pmod(h32, lit(resolution))
    val assign = cuts.sliding(2).zipWithIndex.foldLeft(lit(fractions.size - 1)) {
      case (acc, (Seq(lo, hi), i)) => when(h >= lo && h < hi, lit(i)).otherwise(acc)
    }
    df.withColumn(splitCol, assign)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DSIR-style data selection via importance resampling — the
  * hashed-n-gram importance-weighting step from Xie et al. 2023 ("Data
  * Selection for Language Models via Importance Resampling"), the
  * standard way to skim a raw crawl for documents that look like a
  * high-quality target corpus without training a model: estimate bag-of-
  * hashed-n-gram distributions for the target and the raw pool, score
  * every raw document by its log importance ratio, keep the top slice.
  *
  * Feature space: word unigrams + bigrams ([[TextAnalysis.wordNgrams]]
  * tokenization — lowercase, whitespace split, blank-safe) hashed into
  * `buckets` slots — by default the md5 first-half formula every
  * oracle-replayable hash in this engine uses
  * ([[TextAnalysis.hashEmbedMd5Reference]]); `xx = true` swaps in
  * xxhash64 (the production posture when the per-feature hash is the
  * visible scan cost — different bucket collisions, so weights differ
  * in the smoothing tails and the hashes have no DuckDB twin; the
  * determinism paragraph below applies to the declared md5 mode, and
  * since r15 the xx mode carries its own oracle row via the
  * three-contract differential certificate
  * [[graft.queries.Differential.dsirCertificate]] — q_dsir_select_xx).
  * Distributions are add-`alpha`-smoothed bucket frequencies; a raw
  * document's weight is `sum_b c_b * ln(pTarget(b) / pRaw(b))` over its
  * bucket counts `c_b`.
  *
  * Cross-engine determinism (the oracle replays the whole computation):
  * the per-bucket log-ratio and the per-(doc, bucket) addend are floor-
  * rounded to 6 decimals (the engine's portable-rounding contract —
  * `round()` half-ties are not engine-portable), the per-document sum is
  * decimal-exact ([[graft.functions.Exact.dsum]]), and the top-k cut
  * orders by `(weight DESC, id ASC)` on bit-identical weights.
  *
  * Scale shape: ONE corpus scan feeds one map-side-combinable
  * `(id, tgt, bucket)` count shuffle; that staged frame (eager
  * checkpoint — it is consumed by two downstream aggregates, which would
  * otherwise each recompute the corpus explode) collapses to a
  * `<= buckets`-row log-ratio table whose totals ride an unpartitioned
  * window over the BUCKET frame (bounded single-partition, the
  * prefixSum-totals class) and which broadcasts back onto the staged
  * counts; the weight aggregate shuffles one row per (doc, bucket) and
  * the final cut is a TakeOrdered top-k, never a global sort. Nothing
  * driver-side grows with the corpus; `buckets` pins the model size at
  * any scale.
  */
object Dsir {

  /** Bucket id in [0, buckets). md5 mode (the default, and the DECLARED
    * oracle mode) is bit-identical to the DuckDB replay
    * `CAST('0x' || substring(md5(f), 1, 8) AS BIGINT) % buckets` (same
    * formula as [[TextAnalysis.hashEmbedMd5Reference]]'s slot hash);
    * xx mode swaps in xxhash64 — the production posture for a corpus
    * where the per-feature hash is the visible scan cost, same plan
    * structure (the hashEmbed family's mode convention). The two modes
    * hash different bucket collisions, so their weights differ in the
    * smoothing tails; mode-shared CONTRACTS (target exclusion, empty-doc
    * absence, layout independence) are spec-pinned, and the xx mode is
    * oracle-certified against the md5 twin since r15
    * (q_dsir_select_xx — selection jaccard, rank-median and
    * weight-delta-median laws; DifferentialSpec pins the flip on a
    * degenerate bucket kernel).
    */
  private def bucketOf(feature: Column, buckets: Int,
      xx: Boolean): Column =
    if (xx) pmod(xxhash64(feature), lit(buckets.toLong))
    // the native [[graft.functions.Md5Hash]] kernel: its high 32 bits
    // ARE the value of the digest's first 8 hex chars, so this is
    // bit-identical to the relational
    // `conv(substring(md5(f), 1, 8), 16, 10)` chain it replaces
    // (r20 optimization round: the hex render + conv parse per feature
    // was the dominant per-row cost of the DSIR scan; DsirSpec pins the
    // kernel == relational equality), and the oracle's formula above is
    // unchanged
    else pmod(shiftrightunsigned(
      graft.functions.Md5Hashes.md5Hash64(feature), 32),
      lit(buckets.toLong))

  /** Per-(document, bucket) feature counts with the document's target
    * flag carried: the one corpus-scan pass everything downstream reuses.
    * `isTarget` NULL (e.g. a NULL domain column) coalesces to false —
    * such rows join the raw pool, they never silently vanish.
    * Output: `(id, tgt, b, c)`; documents with no tokens produce no rows.
    */
  private[graft] def featureCounts(df: DataFrame, idCol: String,
      textCol: String, isTarget: Column, buckets: Int,
      xx: Boolean = false, seg: Boolean = false): DataFrame =
    featureCountsWith(df, idCol, textCol, isTarget,
      f => bucketOf(f, buckets, xx), seg)

  /** [[featureCounts]] with an injectable bucket function — the
    * DifferentialSpec sabotage hook (a degenerate bucket hash must flip
    * the q_dsir_select_xx certificate red); production code paths all go
    * through [[bucketOf]].
    */
  private[graft] def featureCountsWith(df: DataFrame, idCol: String,
      textCol: String, isTarget: Column,
      bucketFn: Column => Column, seg: Boolean = false): DataFrame =
    // spread BEFORE the per-feature explode+hash: 1.1 s of hash CPU sat
    // in ONE task behind the small-SF scan's single split (StageProfile
    // r20); bucket counts are placement-independent
    ScaleOps.spreadCpu(df.select(col(idCol).as("id"),
        coalesce(isTarget.cast("boolean"), lit(false)).as("tgt"),
        col(textCol).as("__t")))
      .select(col("id"), col("tgt"),
        explode(concat(TextAnalysis.wordNgrams(col("__t"), 1, seg),
          TextAnalysis.wordNgrams(col("__t"), 2, seg))).as("f"))
      .select(col("id"), col("tgt"), bucketFn(col("f")).as("b"))
      .groupBy("id", "tgt", "b").agg(count(lit(1)).as("c"))

  /** Importance weights for every raw (non-target) document:
    * `(id, n_feats, dsir_weight)` where `n_feats` is the document's total
    * feature-occurrence count and `dsir_weight` the smoothed log
    * importance ratio described on the object. Documents with no tokens
    * carry no evidence either way and are absent (they have no feature
    * rows in either engine).
    */
  def weights(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int = 1024,
      alpha: Double = 1.0, xx: Boolean = false,
      seg: Boolean = false): DataFrame =
    weightsFromCounts(
      featureCounts(df, idCol, textCol, isTarget, buckets, xx, seg),
      buckets, alpha)

  /** [[weights]] over a precomputed `(id, tgt, b, c)` frame — shared by
    * the production modes and the DifferentialSpec sabotage hook. */
  private[graft] def weightsFromCounts(counts: DataFrame, buckets: Int,
      alpha: Double): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(alpha > 0, s"alpha must be positive, got $alpha")
    val fc = Staging.snapshot(counts)
    val bt = fc.groupBy("b").agg(
      sum(when(col("tgt"), col("c")).otherwise(lit(0L))).as("ct"),
      sum(when(!col("tgt"), col("c")).otherwise(lit(0L))).as("cr"))
    // totals over the <= buckets-row frame: bounded single-partition
    // exchange (prefixSum-totals class), the corpus is not re-scanned
    val wAll = Window.partitionBy()
    val aB = lit(alpha * buckets)
    val lam = bt
      .withColumn("tt", sum(col("ct")).over(wAll).cast("double"))
      .withColumn("tr", sum(col("cr")).over(wAll).cast("double"))
      .select(col("b"),
        (floor(log(
          ((col("ct").cast("double") + lit(alpha)) / (col("tt") + aB)) /
          ((col("cr").cast("double") + lit(alpha)) / (col("tr") + aB)))
          * 1e6d + 0.5d) / 1e6d).as("lam"))
    fc.filter(!col("tgt"))
      .join(broadcast(lam), Seq("b"))
      .withColumn("__a",
        floor(col("c").cast("double") * col("lam") * 1e6d + 0.5d) / 1e6d)
      .groupBy("id")
      .agg(sum(col("c")).as("n_feats"),
        graft.functions.Exact.dsum(col("__a")).as("dsir_weight"))
  }

  /** Top-`k` raw documents by importance weight (the DSIR selection cut);
    * deterministic `(weight DESC, id ASC)` order, TakeOrdered plan.
    */
  def select(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, k: Int, buckets: Int = 1024,
      alpha: Double = 1.0, xx: Boolean = false,
      seg: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    cut(weights(df, idCol, textCol, isTarget, buckets, alpha, xx, seg), k)
  }

  /** The deterministic top-`k` selection cut over a weights frame:
    * `(weight DESC, id ASC)`, TakeOrdered plan. */
  private[graft] def cut(w: DataFrame, k: Int): DataFrame =
    w.orderBy(col("dsir_weight").desc, col("id")).limit(k)
}

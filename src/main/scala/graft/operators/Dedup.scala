package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, exact and
  * approximate, all designed shuffle-minimal and skew-bounded:
  *
  *  - exact: one hash-aggregate keyed on `(xxhash64(key), length(key))` so
  *    the shuffle key is 16 bytes, not the full document; the map-side
  *    partial aggregation means each distinct document's bytes cross the
  *    wire at most once per input partition.
  *  - MinHash+LSH: shingles are hashed ONCE per row into a sorted
  *    `array<long>` column (8 bytes per shingle — the verify join never
  *    shuffles shingle text), signatures derive from those hashes in one
  *    native pass, candidate generation explodes b bands and self-joins on
  *    (band, hash), and the exact-Jaccard verify is a single-pass sorted
  *    merge intersection over the carried hash arrays.
  *  - SimHash: 64-bit signature from once-projected token hashes, banded
  *    into 4x16-bit chunks (any pair within Hamming distance 3 shares a
  *    chunk by pigeonhole — the emitted candidate set is COMPLETE for
  *    hamming <= 3 and best-effort above).
  *  - Embedding-cosine: banded random-hyperplane LSH with a literal plane
  *    matrix (seeded, deterministic); candidate pairs are deduplicated on
  *    scalar ids BEFORE vectors are re-attached, so no shuffle ever carries
  *    a vector as part of a dedup key.
  *
  * Skew posture for 100 TB: real web corpora have boilerplate shingles that
  * create mega-buckets; naive intra-bucket pairing is quadratic in the
  * bucket size. Every candidate generator routes through [[boundedPairs]]:
  * buckets up to `maxBucket` emit all pairs, larger buckets fall back to
  * star pairs against the bucket minimum — linear in the bucket size, and
  * sufficient for connected-component style duplicate clustering.
  *
  * Cache lifecycle: every pipeline persists and seals through a
  * [[Staging.Scope]]; release a returned frame with [[Staging.free]].
  *
  * All hashing is `xxhash64` with fixed integer seeds (plane matrices use a
  * fixed-seed JDK RNG) — fully deterministic across runs and cluster sizes.
  */
object Dedup {

  /** Exact dedup: keep the minimum id per identical key, shuffling only a
    * 16-byte hash key (plus one exemplar of the key text per partition via
    * map-side combine) instead of the raw corpus bytes. A collision on
    * (64-bit hash, length) would merge two distinct documents; at 1e9 docs
    * the collision probability is ~3e-2 per corpus for the hash alone and
    * vanishing once the length is included — the standard trade for
    * content-hash dedup at scale.
    *
    * NULL keys are UNKNOWN, not equal to each other ([[exactKeepBest]]'s
    * rule): each passes through as its own singleton group —
    * `xxhash64(null)` evaluates to the seed and `groupBy` treats NULL
    * keys as equal, so the grouped path would otherwise collapse every
    * missing-content row into one survivor (silent row loss).
    */
  def exact(df: DataFrame, idCol: String, keyCol: String): DataFrame = {
    val nulls = df.filter(col(keyCol).isNull)
      .select(col(keyCol), col(idCol).as("keep_id"), lit(1L).as("n_copies"))
    df.filter(col(keyCol).isNotNull)
      .groupBy(xxhash64(col(keyCol)).as("__kh"), length(col(keyCol)).as("__kl"))
      .agg(min(col(keyCol)).as(keyCol),
        min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .drop("__kh", "__kl")
      .unionByName(nulls)
  }

  /** Exact dedup with a SURVIVOR POLICY: keep, from each group of rows
    * sharing `keyCol`, the single row that sorts FIRST under `preference`
    * — the production form of [[exact]] when copies differ in the
    * metadata that matters (crawl recency, source trust, quality score)
    * and "lowest id wins" throws away the best copy. Returns full input
    * rows (all columns), one per distinct key.
    *
    * Pass a total preference (e.g. end with the id column) for a
    * deterministic survivor. One shuffle, keyed on
    * `(md5(key), length(key))` — md5 rather than [[exact]]'s xxhash64 so
    * external engines can replay the grouping (same trade as
    * [[ScaleOps.weightedSample]]); the text itself never rides in the
    * shuffle key, and 128-bit collisions are negligible at any corpus
    * size.
    */
  def exactKeepBest(df: DataFrame, keyCol: String,
      preference: Seq[Column]): DataFrame = {
    require(preference.nonEmpty, "preference must order the group's rows")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col(keyCol)), length(col(keyCol)))
      .orderBy(preference: _*)
    // NULL keys are UNKNOWN, not equal to each other: they pass through
    // untouched instead of collapsing into one arbitrary "survivor"
    // (md5(null) would group them all together — silent row loss)
    df.filter(col(keyCol).isNull)
      .unionByName(df.filter(col(keyCol).isNotNull)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn"))
  }

  /** Word k-shingles of a text column. Built with the shared sliding
    * `zip_with` composition (see [[TextAnalysis.slidingConcat]]) — the
    * naive `transform(sequence, i => slice(toks, ...))` form re-evaluates
    * the tokenizer once per shingle (O(tokens^2) per document).
    */
  def shingles(text: Column, k: Int = 3): Column = {
    val toks = split(trim(lower(text)), "\\s+")
    when(size(toks) < k, array(concat_ws(" ", toks)))
      .otherwise(TextAnalysis.slidingConcat(toks, k))
  }

  /** Sorted, duplicate-free `xxhash64` values of the word k-shingles: the
    * 8-byte canonical shingle representation the LSH pipelines carry
    * instead of strings. Spark's default-seed (42) string hash is exactly
    * the per-shingle base of the native MinHash kernel, so signatures from
    * these hashes are bit-identical to signatures from the strings; set
    * semantics (and hence Jaccard) are preserved up to 64-bit collisions
    * (~n^2/2^65 expected per corpus — vanishing even at 1e9 docs).
    */
  def shingleHashes(text: Column, k: Int = 3): Column =
    graft.functions.ShingleHashes.shingleHashes(text, k)

  /** The pre-kernel relational formulation of [[shingleHashes]]. Kept
    * ONLY as the independent reference the equivalence spec pins
    * [[graft.functions.ShingleHashes]] against, byte for byte — bit-
    * identical output also keeps persisted [[minhashIndex]] stores
    * written before the kernel swap readable by the incremental path.
    * NULL text coalesces to '' exactly as the kernel entry point does
    * (a bare `shingles(null)` would propagate NULL and break the parity
    * contract on null-text rows).
    */
  private[graft] def shingleHashesReference(text: Column, k: Int = 3): Column =
    sort_array(array_distinct(transform(
      shingles(coalesce(text, lit("")), k), s => xxhash64(s))))

  /** MinHash signature from a PRE-PROJECTED string shingle-array column
    * (native one-pass kernel, see [[graft.functions.MinHashSignature]]).
    */
  def minhashFromShingles(sh: Column, h: Int): Column =
    graft.functions.LshExpressions.minhashSignature(sh, h)

  /** MinHash signature from a pre-hashed shingle array (array<long>),
    * bit-identical to [[minhashFromShingles]] on the source strings (see
    * [[graft.functions.MinHashFromHashes]]).
    */
  def minhashFromHashes(hs: Column, h: Int): Column =
    graft.functions.LshExpressions.minhashFromHashes(hs, h)

  /** MinHash signature straight from text (convenience; hot paths stage
    * the hashed-shingle column explicitly via [[shingleHashes]]).
    */
  def minhashSignature(text: Column, h: Int = 32, k: Int = 3): Column =
    minhashFromHashes(shingleHashes(text, k), h)

  /** Exact Jaccard similarity of two sorted duplicate-free shingle-hash
    * arrays: native single-pass merge intersection (see
    * [[graft.functions.SortedIntersectCount]]) — no per-row hash-set
    * build, no string comparison in the verify hot loop.
    */
  def jaccardOfHashes(sa: Column, sb: Column): Column = {
    val inter = graft.functions.LshExpressions.sortedIntersectCount(sa, sb)
      .cast("double")
    inter / (size(sa) + size(sb) - inter)
  }

  /** Exact n-gram (word-shingle) Jaccard similarity between two texts,
    * computed over the hashed shingle sets (identical to string-set
    * Jaccard absent 64-bit collisions).
    */
  def jaccard(textA: Column, textB: Column, k: Int = 3): Column =
    jaccardOfHashes(shingleHashes(textA, k), shingleHashes(textB, k))

  /** Intra-bucket candidate pairs with hot-bucket bounding. Input must have
    * columns (`id`, bandCol, bucketCol). Buckets of size <= maxBucket emit
    * all C(n,2) intra-bucket pairs; larger buckets (boilerplate content at
    * web scale) emit star pairs (bucket-min id, member id) — linear in the
    * bucket size, preserving duplicate-cluster connectivity without the
    * quadratic blow-up. Pairs are deduplicated across bands on scalar ids
    * only.
    */
  private[operators] def boundedPairs(
      scope: Staging.Scope,
      banded0: DataFrame, bandCol: String, bucketCol: String, maxBucket: Int
  ): DataFrame = {
    // bucket stats (size, min id) via a KEYED window over (band, bucket):
    // one shuffle of the banded frame computes and attaches both in a
    // single pass — a groupBy-stats-then-join-back formulation would scan
    // and shuffle the banded frame twice. The window is partitioned by
    // the bucket key (bounded groups), never a global sort. The annotated
    // frame feeds both self-join sides and the star-pair branch: persist
    // so the signature pipeline runs exactly once.
    val keys = Seq(bandCol, bucketCol)
    val statsWindow = Window.partitionBy(keys.map(col): _*)
    val withN = scope.persist(banded0
      .withColumn("__n", count(lit(1)).over(statsWindow))
      .withColumn("__minid", min(col("id")).over(statsWindow)))
    val small = withN.filter(col("__n") <= maxBucket)
    val a = small.select(col(bandCol), col(bucketCol), col("id").as("id_a"))
    val b = small.select(col(bandCol), col(bucketCol), col("id").as("id_b"))
    val smallPairs = a.join(b, keys)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val bigPairs = withN
      .filter(col("__n") > maxBucket && col("id") =!= col("__minid"))
      .select(col("__minid").as("id_a"), col("id").as("id_b"))
    smallPairs.union(bigPairs).distinct()
  }

  /** id + sorted hashed shingles + minhash signature, computed once per
    * row on a widened input and persisted (both sides of the band
    * self-join and the verify stage reuse it without recomputation).
    */
  private def minhashPrepared(
      scope: Staging.Scope,
      df: DataFrame, idCol: String, textCol: String, h: Int, k: Int
  ): DataFrame =
    scope.persist(ScaleOps.spreadCpu(df)
      .select(col(idCol).as("id"), shingleHashes(col(textCol), k).as("sh"))
      .withColumn("sig", minhashFromHashes(col("sh"), h)))

  private def bandFrame(prepared: DataFrame, bands: Int, rows: Int): DataFrame =
    prepared.select(col("id"), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows))))))
      .toDF("id", "band", "bucket")

  /** LSH candidate pairs from MinHash signatures: split the signature into
    * `bands` bands of `rows` hashes, bucket by (band index, band hash),
    * emit intra-bucket pairs (bounded; see [[boundedPairs]]). Collision
    * probability for Jaccard s is 1-(1-s^rows)^bands (the standard
    * S-curve).
    */
  def minhashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      bands: Int = 8, rows: Int = 4, k: Int = 3, maxBucket: Int = 64
  ): DataFrame = {
    val scope = new Staging.Scope
    val prepared = minhashPrepared(scope, df, idCol, textCol, bands * rows, k)
    scope.seal(
      boundedPairs(scope, bandFrame(prepared, bands, rows), "band", "bucket",
        maxBucket))
  }

  /** Lazy plan form of [[minhashNearDups]]: builds the full pipeline as
    * one unexecuted plan (construction runs NO job; intermediates are
    * persisted into `scope` and materialize lazily on the first action).
    * For plan auditing and for callers composing their own lifecycle —
    * the caller owns releasing the scope's intermediates after its
    * terminal action. The public [[minhashNearDups]] wraps this with
    * seal-and-release.
    *
    * `rescanVerify` trades one extra pass over the raw input for a
    * corpus-size cache-footprint reduction: the default persists
    * (id, shingle hashes, signature) — shingle arrays are the bulk of a
    * document's footprint, so the cached frame is corpus-scale. With
    * `rescanVerify` only (id, signature) is persisted (h x 8 bytes per
    * doc) and shingle hashes are re-derived from a second scan SEMI-JOINED
    * to the candidate ids — a small fraction of the corpus after banding.
    * At 100 TB the rescan variant is the one that fits in cluster memory;
    * at test scale the single-scan default is faster. Identical output.
    */
  private[graft] def minhashNearDupsPlan(
      scope: Staging.Scope,
      df: DataFrame, idCol: String, textCol: String, threshold: Double,
      bands: Int, rows: Int, k: Int, maxBucket: Int,
      rescanVerify: Boolean = false
  ): DataFrame = {
    val h = bands * rows
    val (sigFrame, shSource) =
      if (rescanVerify) {
        // signatures only — the shingle array is a per-row transient
        // inside the native kernel's input expression, never cached
        val sigs = scope.persist(ScaleOps.spreadCpu(df).select(
          col(idCol).as("id"),
          minhashFromHashes(shingleHashes(col(textCol), k), h).as("sig")))
        (sigs, null: DataFrame)
      } else {
        val prepared = minhashPrepared(scope, df, idCol, textCol, h, k)
        (prepared, prepared)
      }
    val cands0 = boundedPairs(scope, bandFrame(sigFrame, bands, rows),
      "band", "bucket", maxBucket)
    // rescanVerify consumes the candidate pairs TWICE (once for the
    // endpoint-id semi-join, once as the verify join's spine) — persist so
    // the pair-distinct aggregation runs once; the single-consumer default
    // path stays unpersisted
    val cands = if (rescanVerify) scope.persist(cands0) else cands0
    val sh =
      if (!rescanVerify) shSource.select(col("id"), col("sh"))
      else {
        // second scan, cut to candidate endpoints before the (expensive)
        // shingle projection: the ids frame is banding-output-sized and
        // the join is a build-side-small hash semi-join
        val candIds = cands.select(col("id_a").as("id"))
          .union(cands.select(col("id_b").as("id"))).distinct()
        scope.persist(ScaleOps.spreadCpu(df)
          .select(col(idCol).as("id"), col(textCol))
          .join(candIds, Seq("id"), "left_semi")
          .select(col("id"), shingleHashes(col(textCol), k).as("sh")))
      }
    val shA = sh.select(col("id").as("id_a"), col("sh").as("__sh_a"))
    val shB = sh.select(col("id").as("id_b"), col("sh").as("__sh_b"))
    cands.join(shA, "id_a").join(shB, "id_b")
      .withColumn("jaccard", jaccardOfHashes(col("__sh_a"), col("__sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** MinHash near-dup pairs with exact Jaccard verification of candidates:
    * the verify join touches candidate pairs only (bucket-sized, never
    * O(n^2)) and runs as a sorted merge intersection over the 8-byte
    * shingle hashes computed once in the prepared frame — raw text is
    * never re-tokenized and never shuffled.
    */
  def minhashNearDups(
      df: DataFrame, idCol: String, textCol: String, threshold: Double,
      bands: Int = 8, rows: Int = 4, k: Int = 3, maxBucket: Int = 64,
      rescanVerify: Boolean = false
  ): DataFrame = {
    val scope = new Staging.Scope
    scope.seal(minhashNearDupsPlan(scope, df, idCol, textCol, threshold,
      bands, rows, k, maxBucket, rescanVerify))
  }

  /** Persistable MinHash index of a corpus: `(id, sh, sig)` — sorted
    * shingle hashes (for exact-Jaccard verification) plus the minhash
    * signature. Write it to parquet once;
    * [[minhashIncrementalNearDups]] dedups each NEW batch against it
    * without re-reading the raw corpus text or re-hashing anything —
    * the daily-crawl-increment pattern (the dedup analogue of
    * [[ScaleOps.mergeAggState]]). Banding is a narrow projection of
    * `sig`, so the index deliberately does NOT store exploded band rows
    * (that would duplicate the shingle arrays `bands`-fold on disk).
    *
    * Append each increment's own index rows
    * (`minhashIndex(newDocs, ...)`) to the store after dedup to keep it
    * current.
    */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 8, rows: Int = 4, k: Int = 3): DataFrame =
    ScaleOps.spreadCpu(df)
      .select(col(idCol).as("id"), shingleHashes(col(textCol), k).as("sh"))
      .withColumn("sig", minhashFromHashes(col("sh"), bands * rows))

  /** Incremental near-dup maintenance: all pairs `(jaccard >= threshold)`
    * touching at least one NEW document — new-vs-store plus
    * new-vs-new — against a [[minhashIndex]] store, WITHOUT any
    * corpus-wide shuffle. Index ids and new ids must be disjoint.
    *
    * Shape at scale (store = corpus-sized, delta = small):
    *  - the delta's band rows BROADCAST onto the store's banding (a
    *    narrow projection of the indexed `sig`) — the store is scanned,
    *    never shuffled;
    *  - matched candidate pairs are delta-proportional; a per-new-id cap
    *    (`bands * maxBucket`) bounds the hot-bucket worst case
    *    (boilerplate buckets at corpus scale would otherwise attach the
    *    whole bucket to every new doc);
    *  - verification re-reads the store CUT to candidate ids by a
    *    semi-join before the shingle arrays are touched;
    *  - within-batch pairs run the standard bounded pipeline on the
    *    delta alone.
    *
    * Same `bands`/`rows`/`k` as the index build (signatures must agree).
    * Output: `(id_a, id_b, jaccard)`; cross pairs carry the new id in
    * `id_a`, within-batch pairs are `id_a < id_b`.
    */
  def minhashIncrementalNearDups(index: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      bands: Int = 8, rows: Int = 4, k: Int = 3, maxBucket: Int = 64
  ): DataFrame = {
    val scope = new Staging.Scope
    val newPrep = minhashPrepared(scope, newDocs, idCol, textCol,
      bands * rows, k)
    incrementalFrom(scope, index, newPrep, threshold, bands, rows, maxBucket,
      bandFrame)
  }

  /** Shared body of the incremental pipelines: `newPrep` is the new
    * batch's prepared `(id, sh, sig)` frame (already persisted into
    * `scope`), `bandFn` derives the banded frame from a prepared frame —
    * [[bandFrame]] for the xxhash64 production path,
    * [[bandFrameMd5]] for the oracle-replayable mode. Identical plan
    * shape either way (delta bands broadcast onto the store scan, store
    * never shuffled).
    */
  private def incrementalFrom(
      scope: Staging.Scope, index: DataFrame, newPrep: DataFrame,
      threshold: Double, bands: Int, rows: Int, maxBucket: Int,
      bandFn: (DataFrame, Int, Int) => DataFrame
  ): DataFrame = {
    val newBand = bandFn(newPrep, bands, rows)
    val withinCands = boundedPairs(scope, newBand, "band", "bucket", maxBucket)
    val crossCands0 = broadcast(
        newBand.select(col("id").as("id_a"), col("band"), col("bucket")))
      .join(bandFn(index, bands, rows)
          .select(col("id").as("id_b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select("id_a", "id_b").distinct()
    val capW = Window.partitionBy("id_a").orderBy("id_b")
    val crossCands = crossCands0
      .withColumn("__rn", row_number().over(capW))
      .filter(col("__rn") <= bands * maxBucket)
      .drop("__rn")
    val cands = scope.persist(withinCands.union(crossCands))
    val candIds = cands.select(col("id_b").as("id"))
      .union(cands.select(col("id_a").as("id"))).distinct()
    val sh = index.select(col("id"), col("sh"))
      .join(candIds, Seq("id"), "left_semi")
      .union(newPrep.select(col("id"), col("sh")))
    val shA = sh.select(col("id").as("id_a"), col("sh").as("__sh_a"))
    val shB = sh.select(col("id").as("id_b"), col("sh").as("__sh_b"))
    scope.seal(cands.join(shA, "id_a").join(shB, "id_b")
      .withColumn("jaccard", jaccardOfHashes(col("__sh_a"), col("__sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard"))
  }

  // ------------------------------------------------------------------
  // md5-replayable oracle mode
  //
  // Twin of the xxhash64 pipelines above with every hash step replayable
  // in external SQL (DuckDB: md5 + substring + BIGINT arithmetic), so the
  // driver's oracle can recompute the ENTIRE pipeline — shingling,
  // signatures, banding, bounded pairs, exact-Jaccard verify — and
  // hash-compare the result. Per shingle, one md5 yields two 32-bit
  // halves (a, b); the signature's i-th hash is min over shingles of
  // (a + i*b) mod 2^32 (a standard universal-family construction), and
  // band buckets are the comma-joined signature slice (bucket equality
  // is all banding needs). The xxhash64 native-kernel path stays the
  // production default: same pipeline shape, ~2x faster hashing, but its
  // seeded kernels have no SQL equivalent.
  // ------------------------------------------------------------------

  /** (id, sh, sig) in md5 oracle mode — the [[minhashIndex]] twin; write
    * to parquet for [[minhashIncrementalNearDupsMd5]]. `sh` is the sorted
    * distinct first-half hashes (the exact-Jaccard verify set); `sig` the
    * affine-rehash minhash signature. NULL text hashes as ''.
    *
    * The intermediate selects deliberately reference `__hx`/`__a` TWICE:
    * higher-order-function lambdas inline free subexpressions (see
    * [[TextAnalysis.slidingConcat]]) and CollapseProject inlines
    * single-use aliases — either would re-run the md5s once per signature
    * position instead of once per shingle.
    */
  def minhashIndexMd5(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 8, rows: Int = 4, k: Int = 3): DataFrame =
    ScaleOps.spreadCpu(df)
      .select(col(idCol).as("id"),
        graft.functions.Md5Hashes.md5ShingleHashes(col(textCol), k)
          .as("__h64"))
      .select(col("id") +: md5ShSig(col("__h64"), bands * rows): _*)

  /** The `(sh, sig)` derivation from a packed md5-halves array: `a` is
    * the high 32 bits, `b` the low, by shift/mask — no hex parsing. The
    * array comes pre-deduplicated from the kernel (duplicate shingles
    * never change an `array_min`, and `sh` re-distincts the projected
    * `a` halves, which can collide across distinct packed values). The
    * `__h64` column is referenced by BOTH outputs, which keeps
    * CollapseProject from inlining the kernel per consumer — the same
    * staging rule as the legacy reference.
    */
  private def md5ShSig(h64: Column, h: Int): Seq[Column] = Seq(
    sort_array(array_distinct(transform(h64,
      x => shiftrightunsigned(x, 32)))).as("sh"),
    // one native pass for all h minima (r20 optimization round): the
    // relational transform/array_min staging allocated h intermediate
    // arrays per row; bit-identical per Md5KernelParitySpec (which
    // pins this whole derivation against minhashIndexMd5Reference)
    graft.functions.Md5Hashes.md5MinHashSig(h64, h).as("sig"))

  /** The original relational md5 staging (hex render + per-half `conv`
    * parse + `zip_with` affine) — retained ONLY as the bit-parity
    * reference [[minhashIndexMd5]]'s native kernel is spec-pinned
    * against (Md5KernelParitySpec), the same pattern as
    * [[shingleHashesReference]]. ~6x slower per row than the kernel.
    */
  private[graft] def minhashIndexMd5Reference(df: DataFrame, idCol: String,
      textCol: String, bands: Int = 8, rows: Int = 4, k: Int = 3): DataFrame = {
    val h = bands * rows
    def half(x: Column, off: Int): Column =
      conv(substring(x, off, 8), 16, 10).cast("long")
    ScaleOps.spreadCpu(df)
      .select(col(idCol).as("id"),
        transform(shingles(coalesce(col(textCol), lit("")), k),
          s => md5(s.cast("binary"))).as("__hx"))
      .select(col("id"),
        transform(col("__hx"), x => half(x, 1)).as("__a"),
        transform(col("__hx"), x => half(x, 9)).as("__b"))
      .select(col("id"),
        sort_array(array_distinct(col("__a"))).as("sh"),
        transform(sequence(lit(0), lit(h - 1)), i =>
          array_min(zip_with(col("__a"), col("__b"),
            (a, b) => (a + i.cast("long") * b) % lit(4294967296L)))).as("sig"))
  }

  /** md5-mode MinHash signature with caller-chosen carried columns —
    * [[minhashIndexMd5]]'s kernel staging for operators that need extra
    * columns alongside `sig` (the streaming dedup carries its
    * event-time column). Same signature values as [[minhashIndexMd5]]
    * on the same text.
    *
    * Staging rule (the ~24x lesson of commit 5b8f194, learned on the
    * relational predecessor of this frame): the hash column must stay
    * multi-referenced — here `__h64` feeds BOTH `sh` and `sig`, so
    * CollapseProject cannot inline the kernel per consumer — and a
    * caller that drops `sh` must do so ABOVE a materialization barrier
    * ([[Staging.snapshot]] / persist), or column pruning re-enables the inline
    * and the kernel re-runs once per signature position.
    */
  private[graft] def minhashSigMd5Frame(df: DataFrame, textCol: String,
      carry: Seq[String], h: Int, k: Int): DataFrame = {
    val keep = carry.map(col)
    df.select(keep :+
        graft.functions.Md5Hashes.md5ShingleHashes(col(textCol), k)
          .as("__h64"): _*)
      .select(keep ++ md5ShSig(col("__h64"), h): _*)
  }

  private def md5Prepared(scope: Staging.Scope, df: DataFrame,
      idCol: String, textCol: String, bands: Int, rows: Int, k: Int): DataFrame =
    scope.persist(minhashIndexMd5(df, idCol, textCol, bands, rows, k))

  /** Band buckets in md5 oracle mode: the comma-joined decimal rendering
    * of the signature slice (replayable as `array_to_string(sig[..], ',')`
    * — banding only needs bucket EQUALITY, so no hash of the slice).
    */
  private def bandFrameMd5(prepared: DataFrame, bands: Int, rows: Int): DataFrame =
    prepared.select(col("id"), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => concat_ws(",", transform(slice(col("sig"), b * rows + 1, lit(rows)),
          x => x.cast("string"))))))
      .toDF("id", "band", "bucket")

  /** [[minhashNearDups]] in md5 oracle mode: identical pipeline shape
    * (banding, bounded pairs, exact-Jaccard verify over the carried hash
    * sets) with every step replayable in DuckDB SQL — the oracle-checked
    * `q_dedup_minhash`/`q_dedup_ngram` queries run this; production dedup
    * keeps the xxhash64 default. Row-level equivalence of the two modes
    * on clear-cut duplicates is spec-pinned (OperatorsSpec).
    */
  def minhashNearDupsMd5(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, bands: Int = 8, rows: Int = 4, k: Int = 3,
      maxBucket: Int = 64): DataFrame = {
    val scope = new Staging.Scope
    val prepared = md5Prepared(scope, df, idCol, textCol, bands, rows, k)
    val cands = boundedPairs(scope, bandFrameMd5(prepared, bands, rows),
      "band", "bucket", maxBucket)
    val shA = prepared.select(col("id").as("id_a"), col("sh").as("__sh_a"))
    val shB = prepared.select(col("id").as("id_b"), col("sh").as("__sh_b"))
    scope.seal(cands.join(shA, "id_a").join(shB, "id_b")
      .withColumn("jaccard", jaccardOfHashes(col("__sh_a"), col("__sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard"))
  }

  /** [[minhashIncrementalNearDups]] in md5 oracle mode (same delta-
    * broadcast shape; `index` from [[minhashIndexMd5]]).
    */
  def minhashIncrementalNearDupsMd5(index: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      bands: Int = 8, rows: Int = 4, k: Int = 3, maxBucket: Int = 64
  ): DataFrame = {
    val scope = new Staging.Scope
    val newPrep = md5Prepared(scope, newDocs, idCol, textCol, bands, rows, k)
    incrementalFrom(scope, index, newPrep, threshold, bands, rows, maxBucket,
      bandFrameMd5)
  }

  /** Duplicate clustering: connected components over near-dup pairs via
    * iterative min-label propagation — each id adopts the smallest
    * representative among itself and its neighbors until fixpoint. The
    * pipeline's last step: LSH emits pairs, this turns them into
    * keep-one-per-cluster groups. Each iteration is one equi-join plus
    * one aggregation (all shuffle-bounded, nothing driver-side beyond the
    * convergence count); iterations needed = the cluster graph's
    * diameter, which for near-dup clusters (cliques and stars from
    * [[boundedPairs]]) is 1-2, so the default cap is generous.
    *
    * Every iteration ends in an eager [[Staging.snapshot]]: persist alone
    * caches DATA but not LINEAGE — `updated` references `labels` twice,
    * so without truncation the logical plan doubles per iteration and
    * Catalyst re-analyzes a 2^i-leaf plan at iteration i (a driver-side
    * blowup on deep components long before any executor works hard). The
    * snapshot cuts each iteration's plan to a constant-size LogicalRDD
    * leaf and the previous iteration's snapshot is released explicitly.
    * With [[Staging.CheckpointDirKey]] set the snapshots are reliable
    * checkpoints (same plan shape): superseded ones are deleted from the
    * directory as the algorithm advances, and the FINAL labels snapshot
    * backs the returned frame.
    *
    * Returns (id, rep): every endpoint id with its cluster's minimum id.
    * The result is snapshot-backed; release with [[Staging.free]].
    */
  def clusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIter: Int = 10): DataFrame = {
    val scope = new Staging.Scope
    // both directions from ONE evaluation of the (potentially expensive
    // LSH) pairs plan — a union of two projections would compute it twice
    val edges = scope.persist(pairs.select(explode(array(
        struct(col(idA).as("src"), col(idB).as("dst")),
        struct(col(idB).as("src"), col(idA).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")))
    var labels: DataFrame = null
    try {
      // init folds the FIRST propagation round into the id-discovery
      // aggregation: rep0 = min(self, direct neighbors). Identical to
      // (identity labels + one iteration) but saves a full checkpoint +
      // join + convergence-count round — on near-dup graphs (stars and
      // cliques of diameter 1-2) that is a third to half of all rounds.
      labels = Staging.snapshot(edges.groupBy(col("src").as("id"))
        .agg(min(col("dst")).as("__nmin"))
        .select(col("id"), least(col("id"), col("__nmin")).as("rep")))
      var it = 0
      var converged = false
      while (!converged && it < maxIter) {
        val neighborMin = edges
          .join(labels.select(col("id").as("dst"), col("rep").as("nrep")), "dst")
          .groupBy(col("src").as("id"))
          .agg(min("nrep").as("nmin"))
        // carry the previous rep through the update so the convergence
        // check is a filter over the snapshot, not another join
        val updated = Staging.snapshot(
          labels.join(neighborMin, Seq("id"), "left").select(col("id"),
            least(col("rep"), coalesce(col("nmin"), col("rep"))).as("rep"),
            col("rep").as("__old")))
        val changed = updated.filter(col("rep") =!= col("__old")).count()
        Staging.free(labels)
        labels = updated.drop("__old")
        converged = changed == 0
        it += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"duplicate clustering did not converge in $maxIter iterations " +
            "(component diameter exceeds maxIter); raise maxIter")
      labels
    } catch {
      // neither non-convergence nor a failed iteration may strand the
      // current snapshot (the edges are released in the finally below)
      case e: Throwable =>
        if (labels != null) Staging.free(labels)
        throw e
    } finally scope.release()
  }

  /** Seeded xxhash64 of each whitespace token — the once-per-row input to
    * [[simhashFromHashes]]. NULL text hashes as '' (one empty token),
    * matching the minhash kernels and the md5 twins — a bare split(null)
    * would propagate NULL through the signature into the banding, where
    * the window's null-equal grouping and the join's null-never-match
    * rule DISAGREE (rows silently vanish below the bucket cap, NULL-
    * hamming star pairs above it).
    */
  def tokenHashes(text: Column): Column =
    transform(split(trim(lower(coalesce(text, lit("")))), "\\s+"),
      t => xxhash64(t))

  /** 64-bit SimHash from a PRE-PROJECTED token-hash array column: bit i of
    * the signature is the sign of sum over tokens of (+1/-1 for bit i of
    * the token hash). A native one-pass codegen'd expression,
    * bit-identical to the 64-fold SQL aggregate formulation (see
    * [[graft.functions.SimHash64]]).
    */
  def simhashFromHashes(hs: Column): Column =
    graft.functions.LshExpressions.simhash64(hs)

  /** SimHash straight from text (convenience; hot paths stage the token
    * hashes explicitly).
    */
  def simhash(text: Column): Column = simhashFromHashes(tokenHashes(text))

  /** SimHash candidate pairs: band the 64-bit signature into 4 x 16-bit
    * chunks; any pair within Hamming distance 3 shares at least one chunk
    * (pigeonhole). The candidate set is complete up to hamming <= 3 FOR
    * BUCKETS WITHIN the `maxBucket` cap; an over-cap bucket (boilerplate
    * content whose members are near-identical by construction) degrades
    * to star pairs — connectivity-preserving for clustering, but not
    * all-pairs. Raise `maxBucket` if literal completeness matters more
    * than skew bounding.
    */
  def simhashCandidates(
      df: DataFrame, idCol: String, textCol: String, maxBucket: Int = 64
  ): DataFrame = {
    val scope = new Staging.Scope
    scope.seal(simhashCandidatesPlan(scope, df, idCol, textCol, maxBucket))
  }

  /** Lazy plan form of [[simhashCandidates]] (see [[minhashNearDupsPlan]]
    * for the contract).
    */
  private[graft] def simhashCandidatesPlan(
      scope: Staging.Scope,
      df: DataFrame, idCol: String, textCol: String, maxBucket: Int
  ): DataFrame =
    simhashPairsFrom(scope, df, idCol, tokenHashes(col(textCol)), maxBucket)

  /** The ONE simhash banding/bounding/hamming body both hash modes share
    * (the incrementalFrom pattern): per-row signature from the given
    * token-hash expression in the scan stage, 4x16-bit chunk banding of
    * the signature (never raw tokens) across the exchange, bounded
    * pairs, and XOR-popcount hamming on the re-attached signatures. A
    * banding fix lands in both the production path and the oracle twin
    * by construction.
    */
  private def simhashPairsFrom(
      scope: Staging.Scope, df: DataFrame, idCol: String,
      tokenHashesExpr: Column, maxBucket: Int
  ): DataFrame =
    hammingPairsFromSigs(scope, ScaleOps.spreadCpu(df)
      .select(col(idCol).as("id"), tokenHashesExpr.as("__th"))
      .select(col("id"), simhashFromHashes(col("__th")).as("sig")), maxBucket)

  /** The shared hamming-banding body: 4x16-bit chunk bands over a 64-bit
    * signature column, bounded buckets ([[boundedPairs]]), XOR-popcount
    * hamming on the candidates. `sigs0` must be `(id, sig: long)`; it is
    * persisted here (both band-join sides and the verify joins reuse it).
    * Pigeonhole completeness: every pair at hamming <= 3 shares at least
    * one intact chunk, so within the bucket cap the <= 3 pair set is
    * complete. Consumers: SimHash text near-dup (both hash modes) and
    * the perceptual image-hash near-dup ([[Multimodal.imageDHash]]).
    */
  private[operators] def hammingPairsFromSigs(
      scope: Staging.Scope, sigs0: DataFrame, maxBucket: Int
  ): DataFrame = {
    val prepared = scope.persist(sigs0)
    val banded = prepared
      .select(col("id"), posexplode(
        transform(sequence(lit(0), lit(3)),
          b => call_function("shiftright", col("sig"), b * 16).bitwiseAND(0xFFFFL))))
      .toDF("id", "band", "chunk") // persisted inside boundedPairs
    val cands = boundedPairs(scope, banded, "band", "chunk", maxBucket)
    val sa = prepared.select(col("id").as("id_a"), col("sig").as("__sig_a"))
    val sb = prepared.select(col("id").as("id_b"), col("sig").as("__sig_b"))
    cands.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"),
        bit_count(col("__sig_a").bitwiseXOR(col("__sig_b"))).as("hamming"))
  }

  /** Hamming near-dup candidate pairs over PRECOMPUTED 64-bit signatures
    * (e.g. perceptual image hashes): the exact banding/bounding/verify
    * pipeline SimHash uses ([[hammingPairsFromSigs]]), exposed for
    * signature columns produced elsewhere. Output
    * `(id_a, id_b, hamming)`; filter `hamming <= 3` for the
    * pigeonhole-complete band guarantee.
    */
  def hammingCandidates(df: DataFrame, idCol: String, sigCol: String,
      maxBucket: Int = 64): DataFrame = {
    val scope = new Staging.Scope
    scope.seal(hammingPairsFromSigs(scope,
      ScaleOps.spreadCpu(df).select(col(idCol).as("id"), col(sigCol).as("sig")),
      maxBucket))
  }

  /** [[simhashCandidates]] in md5 oracle mode — same banding/bounding/
    * hamming pipeline with an md5-derived 64-bit token hash so DuckDB can
    * replay the WHOLE thing (tokens, per-bit majority votes, 4x16-bit
    * chunks, bounded pairs, XOR-popcount hamming) and the driver's
    * hash-compare certifies it end to end. Unlike the MinHash twins
    * (whose exact-Jaccard verify makes the two modes agree on output),
    * SimHash's OUTPUT is hash-dependent — the hamming distance lives on
    * the signatures themselves — so this mode is its own pipeline, not a
    * re-verification of the xxhash one; OperatorsSpec replays the md5
    * pipeline driver-side bit for bit and pins the invariant the two
    * modes share (exact-duplicate texts sit at hamming 0 in both).
    *
    * Bit i (0..63) of a token's hash is bit (i mod 32) of the low /
    * high 32-bit half of `md5(token)` for i < / >= 32; a signature bit is
    * set when the +1/-1 votes over the document's tokens sum positive
    * (the [[graft.functions.SimHash64]] `votes > 0` rule). Votes are
    * aggregated RELATIONALLY — explode tokens, one 64-column map-side-
    * combined sum — rather than per-row higher-order folds: the 64 sums
    * stay inside whole-stage codegen and the token explosion re-spreads
    * skewed long documents across the cluster, where a per-row
    * `aggregate()` over 64 bits would be an interpreted O(64 x tokens)
    * loop pinned to the document's partition. NULL text hashes as ''
    * (one empty token), matching the MinHash md5 twins.
    */
  def simhashCandidatesMd5(df: DataFrame, idCol: String, textCol: String,
      maxBucket: Int = 64): DataFrame = {
    val scope = new Staging.Scope
    scope.seal(simhashCandidatesMd5Plan(scope, df, idCol, textCol,
      maxBucket))
  }

  /** Lazy plan form of [[simhashCandidatesMd5]] (see
    * [[minhashNearDupsPlan]] for the contract).
    */
  private[graft] def simhashCandidatesMd5Plan(
      scope: Staging.Scope,
      df: DataFrame, idCol: String, textCol: String, maxBucket: Int
  ): DataFrame =
    // SINCE ROUND 12 this is literally the production pipeline with the
    // token hash swapped: one packed md5 hash64 per token (native
    // kernel) feeds the same per-row SimHash64 vote kernel the xx path
    // uses — bit b of the packed value IS "bit (b mod 32) of lo/hi for
    // b < / >= 32", so the kernel's votes equal the former relational
    // 64-column vote sum bit for bit (the kernel sets a signature bit on
    // votes > 0, same rule; duplicate tokens vote once per occurrence in
    // both). The relational formulation lives on as the DuckDB oracle
    // SQL, and OperatorsSpec's driver-side md5Chunks replay pins the
    // signatures here against an independent reimplementation. The
    // measured motivation: the relational vote exploded every token
    // into a 64-column shuffled aggregate, ~2x the wall of the per-row
    // kernel on the same corpus at identical output. Since round 13 the
    // banding body is SHARED with the xx path ([[simhashPairsFrom]]) —
    // only the token-hash expression differs.
    simhashPairsFrom(scope, df, idCol,
      transform(split(trim(lower(coalesce(col(textCol), lit("")))),
        "\\s+"), t => graft.functions.Md5Hashes.md5Hash64(t)), maxBucket)

  /** The md5-mode signature stage alone, `(id, sig)` — the surface the
    * banding-completeness certificate scans all-pairs over
    * ([[graft.queries.Differential.bandingCompletenessCertificate]]).
    * Same token hash + vote kernel as [[simhashCandidatesMd5]].
    */
  def simhashSigsMd5(df: DataFrame, idCol: String, textCol: String): DataFrame =
    ScaleOps.spreadCpu(df).select(col(idCol).as("id"),
      simhashFromHashes(transform(
        split(trim(lower(coalesce(col(textCol), lit("")))), "\\s+"),
        t => graft.functions.Md5Hashes.md5Hash64(t))).as("sig"))

  /** Embedding-cosine near-duplicate pairs via banded random-hyperplane
    * LSH: `tables` independent hash tables of `planesPerTable` sign bits
    * each (recall 1-(1-p^k)^L with p = 1 - theta/pi, the standard
    * multi-table trade-off); a pair is a candidate when any table's bucket
    * matches; exact cosine verifies candidates only. Candidate pairs are
    * deduplicated on scalar ids BEFORE the vectors are re-attached, so the
    * only shuffles carrying vectors are the two small verify joins.
    *
    * `dim` is the (caller-known) embedding dimensionality — a parameter
    * so plan construction stays lazy: deriving it from the data would run
    * an eager `first()` job at build time.
    */
  def cosineNearDups(
      df: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double, planesPerTable: Int = 4, tables: Int = 8,
      maxBucket: Int = 256, seed: Long = 42L
  ): DataFrame = {
    val scope = new Staging.Scope
    scope.seal(cosineNearDupsPlan(scope, df, idCol, vecCol, dim,
      threshold, planesPerTable, tables, maxBucket, seed))
  }

  /** Lazy plan form of [[cosineNearDups]] (see [[minhashNearDupsPlan]] for
    * the contract). Construction runs no job — `dim` is caller-supplied,
    * never probed from the data.
    */
  private[graft] def cosineNearDupsPlan(
      scope: Staging.Scope,
      df: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double, planesPerTable: Int, tables: Int,
      maxBucket: Int, seed: Long
  ): DataFrame = {
    val planes = graft.functions.LshExpressions.planeMatrix(
      dim, planesPerTable * tables, seed)
    val prepared = ScaleOps.spreadCpu(df)
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
    // all `tables` bucket codes from ONE native codegen'd pass over the
    // vector (see [[graft.functions.HyperplaneBuckets]]) — bit-identical
    // to the transform/zip_with/aggregate formulation it replaced, minus
    // a per-plane zipped-array allocation and boxing per row
    val banded = prepared
      .select(col("id"), posexplode(
        graft.functions.LshExpressions.hyperplaneBuckets(
          col("vec"), planes, planesPerTable)))
      .toDF("id", "table", "bucket")
    val cands = boundedPairs(scope, banded, "table", "bucket", maxBucket)
    // norms are per-VECTOR, not per-pair: computed once per side when
    // the join reads its input rows and carried as scalars, so the
    // verify pays one dot per candidate pair instead of three. The
    // cosine stays the exact expression dot / (norm_a * norm_b) on the
    // same doubles — bit-identical output (oracle unchanged).
    val va = prepared.select(col("id").as("id_a"), col("vec").as("vec_a"),
      Similarity.norm(col("vec")).as("__na"))
    val vb = prepared.select(col("id").as("id_b"), col("vec").as("vec_b"),
      Similarity.norm(col("vec")).as("__nb"))
    cands.join(va, "id_a").join(vb, "id_b")
      .withColumn("cosine", Similarity.dot(col("vec_a"), col("vec_b")) /
        (col("__na") * col("__nb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** SemDeDup-style semantic deduplication pairs: cluster embeddings into
    * `k` spherical-kmeans cells (deterministic trained centroids,
    * [[Similarity.trainCentroids]]) and compare pairs WITHIN each cell
    * only — the quadratic all-pairs cosine shrinks to k cells of ~n/k
    * members, the exact trade the SemDeDup recipe makes (near-duplicates
    * land in the same cell because they are near the same centroid;
    * cross-cell misses are the accepted recall cost, bounded by how close
    * the pair sits to a cell boundary).
    *
    * Scale shape: the centroid model is literal-sized (k x dim), the cell
    * assignment is a narrow map, and the self-join shuffles on the cell
    * id with `maxCell` capping any degenerate mega-cell (same star-pair
    * bound as the LSH pipelines, [[boundedPairs]]). Returns
    * (id_a < id_b, cosine >= threshold) pairs.
    */
  def semanticNearDups(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, threshold: Double = 0.85, maxCell: Int = 4096,
      iters: Int = 5, maxSample: Int = 2000,
      sampleOrderCol: Option[String] = None
  ): DataFrame = {
    val scope = new Staging.Scope
    scope.seal(semanticNearDupsPlan(scope, df, idCol, vecCol, k,
      threshold, maxCell, iters, maxSample, sampleOrderCol))
  }

  /** UNLIKE the other *Plan builders, construction here is NOT job-free:
    * [[Similarity.trainCentroids]] runs its bounded training sample +
    * collect() eagerly (the trained centroids become plan literals).
    * Callers composing plans for audit-only purposes should account for
    * the training jobs; the lazy-construction contract documented on
    * [[minhashNearDupsPlan]] applies to everything downstream of the
    * centroids.
    */
  private[graft] def semanticNearDupsPlan(
      scope: Staging.Scope,
      df: DataFrame, idCol: String, vecCol: String,
      k: Int, threshold: Double, maxCell: Int, iters: Int, maxSample: Int,
      sampleOrderCol: Option[String] = None
  ): DataFrame = {
    val centroids = Similarity.trainCentroids(df, vecCol, k, iters, maxSample,
      sampleOrderCol)
    // cell + cell stats in one keyed-window pass, persisted: the frame
    // feeds both self-join sides and the star-pair branch. The self-join
    // CARRIES the vectors through its one cell-keyed shuffle and scores
    // pairs inline — with a single "band" there is nothing to dedup, so
    // the LSH pipelines' pair-distinct + two vector re-attach joins (two
    // extra shuffles of pair ids plus two of vectors) would be pure
    // overhead here; 2x vector volume through one exchange is the
    // cheaper total at any scale.
    val statsW = Window.partitionBy("cell")
    val celled = scope.persist(
      Similarity.assignCells(
          ScaleOps.spreadCpu(df)
            .select(col(idCol).as("id"), col(vecCol).as("vec")),
          "vec", centroids)
        // per-vector norm rides the persisted frame: the within-cell
        // verify then pays one dot per pair, not three (same exact
        // dot / (norm_a * norm_b) doubles — bit-identical output)
        .withColumn("__norm", Similarity.norm(col("vec")))
        .withColumn("__n", count(lit(1)).over(statsW))
        .withColumn("__minid", min(col("id")).over(statsW)))
    def scored(pairs: DataFrame): DataFrame = pairs
      .withColumn("cosine", Similarity.dot(col("vec_a"), col("vec_b")) /
        (col("__na") * col("__nb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
    val small = celled.filter(col("__n") <= maxCell)
    val smallPairs = scored(small
      .select(col("cell"), col("id").as("id_a"), col("vec").as("vec_a"),
        col("__norm").as("__na"))
      .join(small.select(col("cell"), col("id").as("id_b"),
        col("vec").as("vec_b"), col("__norm").as("__nb")), "cell")
      .filter(col("id_a") < col("id_b")))
    // over-cap (boilerplate) cells degrade to star pairs against the
    // cell-minimum id — linear in the cell size, preserving duplicate-
    // neighborhood connectivity exactly like [[boundedPairs]]
    val bigPairs = scored(celled
      .filter(col("__n") > maxCell && col("id") =!= col("__minid"))
      .select(col("cell"), col("__minid").as("id_a"),
        col("id").as("id_b"), col("vec").as("vec_b"),
        col("__norm").as("__nb"))
      .join(celled.filter(col("__n") > maxCell && col("id") === col("__minid"))
        .select(col("cell"), col("vec").as("vec_a"),
          col("__norm").as("__na")), "cell"))
    smallPairs.union(bigPairs)
  }

  /** Apply [[semanticNearDups]] as a dedup policy: drop every row that has
    * an above-threshold neighbor with a SMALLER id in its cell (keep the
    * lowest-id representative of each near-duplicate neighborhood). The
    * drop-set join is on scalar ids only; vectors never shuffle twice.
    */
  def semanticDedup(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, threshold: Double = 0.85, maxCell: Int = 4096,
      iters: Int = 5, maxSample: Int = 2000,
      sampleOrderCol: Option[String] = None
  ): DataFrame = {
    val drops = semanticNearDups(df, idCol, vecCol, k, threshold, maxCell,
      iters, maxSample, sampleOrderCol)
      .select(col("id_b").as(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }
}

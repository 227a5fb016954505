package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Staging

/** One-row differential certificates for the production xxhash64 pipelines
  * (the q_*_xx rows).
  *
  * The md5 twins are hash-checked end to end by DuckDB; the production
  * kernels (xxhash64) have no SQL twin, so their correctness row instead
  * certifies AGREEMENT with the oracle-green twin on the same input:
  *
  *  - `n_twin`         — the md5 twin's output row count. DuckDB recomputes
  *                       it independently by counting its own replay of the
  *                       twin pipeline — a hard, data-dependent value.
  *  - `n_exact_dup_pairs` / `n_exact_dup_docs` — ground truth computed
  *                       hash-free from the raw table (identical content
  *                       under the pipelines' NULL-as-'' rule); DuckDB
  *                       recomputes it with a plain self-join.
  *  - `exact_dup_recall_ok` — the production pipeline caught at least
  *                       `recallBound` of that ground truth. Identical
  *                       content hashes identically under ANY hash mode
  *                       (same signature, same buckets), so a miss can only
  *                       come from hot-bucket star-capping — bounded,
  *                       deterministic, and measured before the bound was
  *                       pinned.
  *  - `pair_jaccard_ok` — |xx ∩ md5| / |xx ∪ md5| >= `jaccardBound` over
  *                       the output pair sets. The two modes disagree only
  *                       on hash-borderline banding decisions
  *                       (HashModeAgreementSpec quantifies the law on a
  *                       seeded borderline corpus); a kernel regression
  *                       (wrong hashes, broken banding, codegen fault)
  *                       collapses the overlap to ~0 and the oracle goes
  *                       red.
  *
  * The oracle pins the counts to DuckDB's own computation and the
  * contracts to TRUE — the sketch-then-verify pattern q_approx_distinct /
  * q_sketch_distinct established. Everything is deterministic for a fixed
  * input, so the row is regeneration-stable.
  *
  * Scale posture: certificates run at verify SF only (Bench times the raw
  * production `fn`); the ground-truth self-join keys on raw content, which
  * is fine at certificate scale — a 100 TB exact-dup census would key on a
  * content hash first (operators/Dedup.exactDedup does).
  */
object Differential {

  /** distinct unordered identical-content pairs (id_a < id_b) under the
    * pipelines' NULL-as-'' content rule, restricted to texts of at least
    * `minTokens` whitespace tokens — the STRUCTURAL floor below which a
    * pipeline cannot emit the pair however healthy its kernels are (a
    * sub-`k`-token text has an empty shingle set, so minhash's exact
    * verify computes 0/0 and drops the pair; a sub-`n`-token text has no
    * n-gram features). Ground truth must only count pairs the certified
    * pipeline COULD catch, or a degenerate planted duplicate would flip
    * the recall contract red with every kernel healthy. Both sides of a
    * pair share the text, so the floor is applied once. */
  private def exactDupPairs(docs: DataFrame, idCol: String,
      textCol: String, minTokens: Int): DataFrame = {
    val t = docs.select(col(idCol).as("__id"),
      coalesce(col(textCol), lit("")).as("__t"))
      .filter(size(split(trim(col("__t")), "\\s+")) >= minTokens)
    t.as("a").join(t.as("b"),
        col("a.__t") === col("b.__t") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
  }

  /** ids having at least one identical-content doc EARLIER in `idCol`
    * order (the streaming arrival order) */
  private def exactDupDocs(docs: DataFrame, idCol: String,
      textCol: String, minTokens: Int): DataFrame =
    exactDupPairs(docs, idCol, textCol, minTokens)
      .select(col("id_b").as("__id")).distinct()

  private def n(df: DataFrame, as: String): DataFrame =
    df.agg(count(lit(1)).as(as))

  /** Certificate-scale input ceiling: the exact-dup ground truth keys
    * its self-join on RAW CONTENT, which is sound only at verify SF — a
    * corpus-sized run would shuffle full text as a join key. Enforced in
    * code (not comments) since r14 via [[scaleGuard]]. */
  private[graft] val CertMaxRows = 1000000L

  /** Execution-time certificate-scale guard (the knnJoin deferred-guard
    * posture: construction stays job-free, the raise fires when the
    * certificate executes). One row, `__certguard = 1L` in contract;
    * consumed by multiplying into a count (exact identity on longs) so
    * column pruning cannot delete the check. The message routes the
    * caller to the content-hash-keyed operators a corpus-scale exact-dup
    * census must use instead. */
  private def scaleGuard(in: DataFrame, maxRows: Long,
      what: String): DataFrame =
    in.agg(count(lit(1)).as("__n"))
      .select(when(col("__n") <= maxRows, lit(1L))
        .otherwise(raise_error(lit(
          s"$what is certificate-scale only (input cap $maxRows rows): " +
            "its ground truth self-joins on raw content / scans all " +
            "signature pairs. For a corpus-scale exact-dup census key on " +
            "a content hash first (Dedup.exact / Dedup.exactKeepBest)."))
          .cast("long"))
        .as("__certguard"))

  /** Thread the scale guard through the INPUT of every expensive branch:
    * `in x broadcast(guard)` makes the one-row guard a broadcast
    * dependency of the downstream scan, and Spark materializes a
    * broadcast side before any stream-side task launches — so an
    * over-cap raise fires STRUCTURALLY before the O(n^2) work starts.
    * (Multiplying the guard into a single output count leaves the
    * ordering scheduler-dependent: the certificate's one-row aggregates
    * are separate concurrently-submitted jobs, and an unguarded sibling
    * could start its quadratic scan before the guarded branch raises.)
    * The filter consumes `__certguard`, so column pruning cannot delete
    * the crossJoin; the guard itself costs one linear count of `in`. */
  private def guardInput(in: DataFrame, g: DataFrame): DataFrame =
    in.crossJoin(broadcast(g))
      .filter(col("__certguard") === 1L).drop("__certguard")

  /** Public guard entry for OTHER certificate-scale ground truths
    * (e.g. the exact-repeat census behind q_repeat_recall): returns
    * `in` with the one-row broadcast guard threaded through, so the
    * over-cap raise fires structurally before any quadratic/raw-content
    * work starts. */
  private[graft] def guardCertScale(in: DataFrame,
      what: String): DataFrame =
    guardInput(in, scaleGuard(in, CertMaxRows, what))

  /** Certificate over PAIR outputs (minhash / simhash / embed pipelines:
    * columns id_a, id_b). */
  def pairCertificate(docs: DataFrame, idCol: String, textCol: String,
      xx: DataFrame, md5: DataFrame,
      jaccardBound: Double, recallBound: Double,
      minTokens: Int = 1, maxRows: Long = CertMaxRows): DataFrame = {
    val x = xx.select("id_a", "id_b").distinct()
    val m = md5.select("id_a", "id_b").distinct()
    val g = scaleGuard(docs, maxRows, "pairCertificate")
    // the quadratic ground truth reads the GUARDED input: the raise is a
    // broadcast dependency of the self-join, never a racing sibling job
    val exact = exactDupPairs(guardInput(docs, g), idCol, textCol,
      minTokens)
    val caught = exact.join(x, Seq("id_a", "id_b"))
    val guardedTwin = n(m, "n_twin").crossJoin(g)
      .select((col("n_twin") * col("__certguard")).as("n_twin"))
    certRow(guardedTwin, n(exact, "n_exact_dup_pairs"),
      n(caught, "__caught"), "n_exact_dup_pairs",
      n(x, "__nx"), n(x.join(m, Seq("id_a", "id_b")), "__nb"),
      jaccardBound, recallBound)
  }

  /** Certificate over per-DOC hit outputs (streaming near-dup: columns
    * doc_id, dup_of). Recall is doc-level — a doc with an earlier
    * identical twin must be flagged as SOME duplicate (the pipeline
    * reports the earliest sufficiently-similar match, which need not be
    * the identical doc itself). */
  def docCertificate(docs: DataFrame, idCol: String, textCol: String,
      xx: DataFrame, md5: DataFrame,
      jaccardBound: Double, recallBound: Double,
      minTokens: Int = 1, maxRows: Long = CertMaxRows): DataFrame = {
    val x = xx.select("doc_id", "dup_of").distinct()
    val m = md5.select("doc_id", "dup_of").distinct()
    val g = scaleGuard(docs, maxRows, "docCertificate")
    val dupDocs = exactDupDocs(guardInput(docs, g), idCol, textCol,
      minTokens)
    val caught = dupDocs
      .join(x.select(col("doc_id").as("__id")).distinct(), "__id")
    val guardedTwin = n(m, "n_twin").crossJoin(g)
      .select((col("n_twin") * col("__certguard")).as("n_twin"))
    certRow(guardedTwin, n(dupDocs, "n_exact_dup_docs"),
      n(caught, "__caught"), "n_exact_dup_docs",
      n(x, "__nx"), n(x.join(m, Seq("doc_id", "dup_of")), "__nb"),
      jaccardBound, recallBound)
  }

  /** One-row banding-completeness certificate: the banded pipeline's
    * `hamming <= maxHamming` pair set must EQUAL the all-pairs ground
    * truth over the signatures (the pigeonhole law the 4x16-bit chunk
    * banding guarantees within the bucket cap — promoted from
    * spec-level to the oracle surface in r14). `sigs` is `(id, sig)`;
    * `bandedPairs` the pipeline output (id_a, id_b). The all-pairs scan
    * is O(n^2) by construction — certificate-scale ONLY, enforced by
    * the same deferred [[scaleGuard]] (default cap 50k signatures ~
    * 1.25e9 popcounts). Output: `n_close_pairs` (pinned by the oracle's
    * own all-pairs recount) + `banding_complete_ok` (oracle asserts
    * TRUE — a cap-dropped or band-lost pair flips it red).
    */
  def bandingCompletenessCertificate(sigs: DataFrame, bandedPairs: DataFrame,
      maxHamming: Int, maxRows: Long = 50000L): DataFrame = {
    val g = scaleGuard(sigs, maxRows, "bandingCompletenessCertificate")
    // the O(n^2) scan reads the GUARDED signatures, so both of its
    // consumers (n_close_pairs and the __nm recount join) sit behind the
    // broadcast raise. Both frames are LAZILY persisted (r20
    // optimization round): `gsigs` feeds both join sides (the md5
    // simhash kernel would otherwise run once per side), and `all` —
    // the exhaustive nested-loop scan, the certificate's dominant cost
    // — feeds both the n_close_pairs count and the __nm recount join
    // (unpersisted, the full O(n^2) pass executed twice).
    // `Staging.persist`, NOT the eager `Staging.snapshot`: certificate
    // construction must stay
    // job-free so the scale guard raises at EXECUTION (the pinned
    // guard contract in DifferentialSpec). The cached blocks are
    // certificate-bounded by the guard cap and dropped with the
    // session's cache (there is no post-result seal point in a
    // one-row certificate to unpersist from).
    val gsigs = Staging.persist(guardInput(sigs, g))
    val a = gsigs.select(col("id").as("id_a"), col("sig").as("__sa"))
    val b = gsigs.select(col("id").as("id_b"), col("sig").as("__sb"))
    val all = Staging.persist(a.join(b, col("id_a") < col("id_b") &&
        bit_count(col("__sa").bitwiseXOR(col("__sb"))) <= maxHamming)
      .select("id_a", "id_b"))
    val banded = bandedPairs.select("id_a", "id_b").distinct()
    n(all, "n_close_pairs")
      .crossJoin(n(banded, "__nb"))
      .crossJoin(n(banded.join(all, Seq("id_a", "id_b")), "__nm"))
      .select(col("n_close_pairs"),
        (col("__nb") === col("n_close_pairs") &&
          col("__nm") === col("n_close_pairs")).as("banding_complete_ok"))
  }

  /** assemble the one-row certificate from single-row aggregates (scalar
    * broadcast crossJoins — never a real cartesian) */
  private def certRow(nTwin: DataFrame, nTruth: DataFrame, nCaught: DataFrame,
      truthCol: String, nXx: DataFrame, nBoth: DataFrame,
      jaccardBound: Double, recallBound: Double): DataFrame =
    nTwin.crossJoin(nTruth).crossJoin(nCaught).crossJoin(nXx).crossJoin(nBoth)
      .select(col("n_twin"), col(truthCol),
        (col(truthCol) === 0 ||
          col("__caught").cast("double") >=
            col(truthCol).cast("double") * recallBound)
          .as("exact_dup_recall_ok"),
        (col("__nx") + col("n_twin") === 0 ||
          col("__nb").cast("double") /
            (col("__nx") + col("n_twin") - col("__nb")).cast("double") >=
            jaccardBound)
          .as("pair_jaccard_ok"))

  /** One-row cross-mode signature-consistency contract (simhash family):
    * over the TWIN's (oracle-verified) near-dup pairs, the PRODUCTION
    * signatures' hamming distance must be small for at least half the
    * pairs — `count(hamming <= maxHamming) * 2 >= count(*)`, a median
    * law. Both hash families' bit flips count the same differing tokens,
    * so a healthy production kernel puts the twin's pairs at single-digit
    * hamming (r14 sweep across 3 SFs x 4 subsamples: p50 = 0..4
    * everywhere, bench/diffprobe_simhash_r14.txt), while a degraded
    * kernel randomizes them to ~32. This is the SENSITIVE kernel law the
    * pair-set jaccard cannot be: output-set agreement legitimately decays
    * with corpus size (the same sweep measured healthy jaccard 0.19-0.25
    * at sf0.1), and a kernel that silently LOSES near-dup pairs keeps
    * jaccard high (the surviving overlap is the exact-dup core) — but it
    * cannot keep oracle-verified near-pairs close in signature space.
    * The median (not max) keeps the law robust to the tail the sweep
    * also measured (borderline pairs legitimately reach hamming ~24).
    * Vacuously true on an empty twin. `sigs` must be `(id, sig: long)`.
    */
  def sigMedianAgreement(twinPairs: DataFrame, sigs: DataFrame,
      maxHamming: Int): DataFrame = {
    val p = twinPairs.select("id_a", "id_b").distinct()
    p.join(sigs.select(col("id").as("id_a"), col("sig").as("__sa")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("__sb")), "id_b")
      .select(bit_count(col("__sa").bitwiseXOR(col("__sb"))).as("__h"))
      .agg(count(lit(1)).as("__n"),
        count_if(col("__h") <= maxHamming).as("__ok"))
      .select((col("__n") === 0 || col("__ok") * 2 >= col("__n"))
        .as("twin_sig_agreement_ok"))
  }

  /** One-row DSIR mode-agreement certificate (q_dsir_select_xx): the
    * production xxhash64 bucket hash has no DuckDB twin (different bucket
    * collisions → weights differ in the smoothing tails), so its
    * correctness row certifies agreement with the oracle-green md5 twin
    * on the same input:
    *
    *  - `n_twin`          — the md5 twin's selection count; DuckDB
    *                        recomputes it by counting its own full replay
    *                        of the twin pipeline.
    *  - `sel_jaccard_ok`  — |xx ∩ md5| / |xx ∪ md5| >= `jaccardBound`
    *                        over the two top-k ID sets. Both modes score
    *                        the same documents against the same corpus
    *                        through DIFFERENT bucket collisions, so
    *                        healthy selections overlap heavily (DiffProbe
    *                        `dsir` sweep), while a broken bucket kernel
    *                        degenerates the weights to ~n_feats x const
    *                        and the overlap collapses.
    *  - `twin_rank_ok`    — the MEDIAN xx-mode selection rank of the
    *                        twin's chosen documents is within
    *                        `rankFactor * k` (rank = 1 + docs strictly
    *                        ahead under the `(weight DESC, id ASC)` cut
    *                        order): tail churn moves picks a few rows, a
    *                        scrambled cut scatters them through the pool.
    *  - `twin_weight_ok`  — the SENSITIVE kernel law: the MEDIAN
    *                        |w_xx - w_md5| over the twin's picks is
    *                        within `weightDeltaBound`. Both modes
    *                        estimate the same smoothed distributions
    *                        through different bucket collisions, so
    *                        healthy per-doc weights agree to well under a
    *                        log-unit (DiffProbe `dsir` sweep) — while a
    *                        degenerate bucket kernel collapses every
    *                        weight to ~n_feats x const, shifting the
    *                        target-like picks by tens of log-units. The
    *                        jaccard/rank laws alone CANNOT catch this on
    *                        a corpus where selection-by-length correlates
    *                        with the healthy cut (measured: constant-
    *                        bucket sabotage keeps jaccard ~0.5 at
    *                        sf0.001); the weight law separates cleanly
    *                        (healthy p50 0.79..1.99 vs sabotaged
    *                        3.70..6.22 over the r15 grid). A twin pick
    *                        ABSENT from the xx weights frame is a hard
    *                        fail (both modes' feature scans produce
    *                        identical doc sets — a lost doc is
    *                        structural breakage, not tail noise).
    *
    * Scale shape: the rank computation broadcasts the <= k twin picks
    * against the xx weights frame (one linear pass, no quadratic work —
    * this certificate needs no [[scaleGuard]]); everything else is
    * `<= k`-row set algebra. `md5Sel` must carry `(id, dsir_weight)`.
    */
  def dsirCertificate(md5Sel: DataFrame, xxSel: DataFrame,
      xxWeights: DataFrame, k: Int,
      jaccardBound: Double, rankFactor: Int,
      weightDeltaBound: Double): DataFrame = {
    val m = md5Sel.select(col("id")).distinct()
    val x = xxSel.select(col("id")).distinct()
    val w = xxWeights.select(col("id"), col("dsir_weight"))
    val sel = broadcast(m.join(w, Seq("id"))
      .select(col("id").as("__mid"), col("dsir_weight").as("__mw")))
    val ahead = w.join(sel,
        col("dsir_weight") > col("__mw") ||
          (col("dsir_weight") === col("__mw") && col("id") < col("__mid")))
      .groupBy("__mid").agg(count(lit(1)).as("__ahead"))
      .select(col("__mid").as("__aid"), col("__ahead"))
    // twin picks with nothing ahead produce no join rows → rank 1
    val rankLaw = sel.join(ahead, sel("__mid") === ahead("__aid"), "left")
      .select(coalesce(col("__ahead"), lit(0L)).as("__ahead"))
      .agg(count(lit(1)).as("__n"),
        count_if(col("__ahead") < lit(rankFactor.toLong * k)).as("__ok"))
      .select((col("__n") === 0 || col("__ok") * 2 >= col("__n"))
        .as("twin_rank_ok"))
    val weightLaw = md5Sel
      .select(col("id"), col("dsir_weight").as("__wm")).distinct()
      .join(w.select(col("id"), col("dsir_weight").as("__wx")),
        Seq("id"), "left")
      .agg(count(lit(1)).as("__n"),
        count_if(abs(col("__wx") - col("__wm")) <= weightDeltaBound)
          .as("__ok"),
        count_if(col("__wx").isNull).as("__missing"))
      .select((col("__missing") === 0 &&
          (col("__n") === 0 || col("__ok") * 2 >= col("__n")))
        .as("twin_weight_ok"))
    n(m, "n_twin").crossJoin(n(x, "__nx"))
      .crossJoin(n(x.join(m, Seq("id")), "__nb"))
      .crossJoin(rankLaw).crossJoin(weightLaw)
      .select(col("n_twin"),
        (col("__nx") + col("n_twin") === 0 ||
          col("__nb").cast("double") /
            (col("__nx") + col("n_twin") - col("__nb")).cast("double") >=
            jaccardBound).as("sel_jaccard_ok"),
        col("twin_rank_ok"), col("twin_weight_ok"))
  }

  /** raw agreement stats (not a certificate): measured values behind the
    * pinned bounds, for bound selection and diagnostics (tools.DiffProbe) */
  private[graft] def pairStats(docs: DataFrame, idCol: String,
      textCol: String, xx: DataFrame, md5: DataFrame): DataFrame = {
    val x = xx.select("id_a", "id_b").distinct()
    val m = md5.select("id_a", "id_b").distinct()
    val exact = exactDupPairs(docs, idCol, textCol, 1)
    n(x, "n_xx").crossJoin(n(m, "n_twin"))
      .crossJoin(n(x.join(m, Seq("id_a", "id_b")), "n_both"))
      .crossJoin(n(exact, "n_exact"))
      .crossJoin(n(exact.join(x, Seq("id_a", "id_b")), "n_caught"))
      .withColumn("jaccard", col("n_both").cast("double") /
        (col("n_xx") + col("n_twin") - col("n_both")).cast("double"))
  }

  private[graft] def docStats(docs: DataFrame, idCol: String,
      textCol: String, xx: DataFrame, md5: DataFrame): DataFrame = {
    val x = xx.select("doc_id", "dup_of").distinct()
    val m = md5.select("doc_id", "dup_of").distinct()
    val dupDocs = exactDupDocs(docs, idCol, textCol, 1)
    n(x, "n_xx").crossJoin(n(m, "n_twin"))
      .crossJoin(n(x.join(m, Seq("doc_id", "dup_of")), "n_both"))
      .crossJoin(n(dupDocs, "n_exact"))
      .crossJoin(n(dupDocs.join(
        x.select(col("doc_id").as("__id")).distinct(), "__id"), "n_caught"))
      .withColumn("jaccard", col("n_both").cast("double") /
        (col("n_xx") + col("n_twin") - col("n_both")).cast("double"))
  }
}

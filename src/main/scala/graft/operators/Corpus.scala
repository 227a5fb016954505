package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-hygiene operators for training-data pipelines: sub-document
  * (paragraph) deduplication and benchmark decontamination.
  */
object Corpus {

  /** Corpus-wide paragraph-level deduplication: split every document on
    * `delim`, keep only the globally FIRST occurrence of each distinct
    * paragraph (ordered by `(idCol, position)` — deterministic across
    * layouts), and rebuild each document from its surviving paragraphs in
    * their original order. Documents whose every paragraph already
    * appeared elsewhere come back with an empty text and `n_kept = 0`.
    *
    * This is the standard boilerplate-removal pass (headers, footers,
    * navigation chrome repeated across a crawl) that document-level dedup
    * cannot touch. One shuffle keyed on `(xxhash64(paragraph),
    * length(paragraph))` — the same 16-byte collision-safe key as
    * [[Dedup.exact]], so the paragraph text never rides in the shuffle
    * key — then one shuffle back on the document id to reassemble.
    *
    * Output: `(idCol, clean_text, n_kept)`, one row per input document.
    */
  def paragraphDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      delim: String): DataFrame = {
    val paras = docs.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim)))
        .as(Seq("__pos", "__para")))
    // first global occurrence wins; the window clusters by the compact
    // hash+length key (collision-equivalent paragraphs would dedup
    // together — same accepted ~n^2/2^65 risk as Dedup.exact)
    val w = Window
      .partitionBy(xxhash64(col("__para")), length(col("__para")))
      .orderBy(col(idCol), col("__pos"))
    val kept = paras
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val rebuilt = kept.groupBy(idCol).agg(
      array_join(
        transform(
          array_sort(collect_list(struct(col("__pos"), col("__para")))),
          s => s.getField("__para")),
        delim).as("clean_text"),
      count(lit(1)).as("n_kept"))
    docs.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Benchmark decontamination hits: for every training document sharing
    * at least one word `n`-gram with any benchmark document, the number of
    * distinct shared `n`-grams. The standard eval-leakage scan (e.g.
    * 8-to-13-gram overlap) run before training.
    *
    * Grams are the hashed word shingles of [[Dedup.shingleHashes]]
    * (distinct per document; a document shorter than `n` tokens
    * contributes its whole text as one gram, so verbatim short benchmark
    * items are still caught). The benchmark side — an eval suite, tiny
    * next to a corpus — collapses to a distinct hash set and broadcasts,
    * so the corpus scan is one narrow pass with a map-side semi join: no
    * shuffle of the training side at all.
    *
    * Output: `(idCol, n_hits)` for contaminated documents only. For the
    * per-probe pairwise view (which benchmark item leaked, against which
    * document), see [[ngramContamination]].
    */
  def decontaminationHits(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    val benchGrams = bench
      .select(explode(Dedup.shingleHashes(col(textCol), n)).as("__g"))
      .distinct()
    val trainGrams = train
      .select(col(idCol), explode(Dedup.shingleHashes(col(textCol), n)).as("__g"))
    trainGrams
      .join(broadcast(benchGrams), Seq("__g"))
      .groupBy(idCol)
      // per-document grams are already distinct (shingleHashes), so the
      // plain count is the distinct-overlap count
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Per-probe pairwise contamination attribution — the complement of
    * [[decontaminationHits]]: that scan answers "which TRAINING docs are
    * tainted, and how badly, against the benchmark as a whole" (the
    * bench side collapses to one distinct hash set, so per-probe
    * attribution is not derivable from it); this one answers "which
    * PROBE is hit, by which corpus document, on how many distinct
    * shared word `k`-shingles" — the report an eval owner needs to
    * retire or re-split a leaked benchmark item. Emits
    * `(probe_id, doc_id, n_shared)` for pairs with
    * `n_shared >= minShared`.
    *
    * Same broadcast posture as the sibling: probe shingle hashes ride a
    * broadcast onto one corpus scan; the only shuffle is the
    * match-proportional (probe, doc) pair aggregate, with the
    * `minShared` filter applied at the aggregate so sub-threshold pairs
    * never survive it. Both sides are distinct-hash sets, so join-row
    * counting IS the distinct-overlap count.
    *
    * `md5Mode` swaps the XXH64 shingle kernel
    * ([[Dedup.shingleHashes]]) for the 32-bit md5 half (the same
    * relation absent collision differences; spec-pinned equal on the
    * planted corpus) so the DuckDB oracle can replay the whole scan —
    * `q_contamination` declares it, mirroring `q_decontaminate` on the
    * census side.
    *
    * `excludeSelf` drops pairs whose ids are equal — correct ONLY when
    * the probes are drawn from the corpus itself (one shared id space,
    * as `q_contamination`'s held-out split is). For a true cross-dataset
    * scan (benchmark probes vs a training corpus with INDEPENDENT id
    * spaces) pass `excludeSelf = false`: a coincidental id collision is
    * not a self-pair, and dropping it would silently hide a real
    * contamination hit.
    */
  def ngramContamination(docs: DataFrame, probes: DataFrame,
      idCol: String, textCol: String, probeIdCol: String,
      probeTextCol: String, k: Int = 3, minShared: Int = 3,
      md5Mode: Boolean = false, excludeSelf: Boolean = true): DataFrame = {
    def hashSet(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (md5Mode) array_distinct(transform(
        graft.functions.Md5Hashes.md5ShingleHashes(text, k),
        x => shiftrightunsigned(x, 32)))
      else Dedup.shingleHashes(text, k)
    // ids pass through UNCAST (a long cast on a non-numeric id corpus
    // nulls every id, and the excludeSelf =!= then silently drops every
    // joined row — an empty result that reads as "no contamination");
    // genuinely-null ids are malformed rows and are filtered loudly here
    // rather than grouped under one ambiguous NULL key. Doc and probe id
    // columns should share a type — a cross-type =!= comparison may
    // insert nulling casts.
    val d = docs.filter(col(idCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        hashSet(coalesce(col(textCol), lit(""))).as("__sh"))
    val p = probes.filter(col(probeIdCol).isNotNull)
      .select(col(probeIdCol).as("probe_id"),
        hashSet(coalesce(col(probeTextCol), lit(""))).as("__sh"))
    val joined = d.select(col("doc_id"), explode(col("__sh")).as("__h"))
      .join(broadcast(
        p.select(col("probe_id"), explode(col("__sh")).as("__h"))), "__h")
    (if (excludeSelf) joined.filter(col("doc_id") =!= col("probe_id"))
     else joined)
      .groupBy("probe_id", "doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Training-sequence packing (concat-and-chunk): stream documents in
    * `idCol` order into fixed `budget`-token sequences — the packing step
    * that turns a shuffled corpus into context-length training rows. Each
    * document is assigned the sequence where it STARTS
    * (`floor(exclusive_prefix / budget)`) plus its token offset within
    * that sequence; a document crossing the boundary spills into the next
    * sequence exactly as the trainer's chunker would cut it.
    *
    * The global running token count comes from [[ScaleOps.prefixSum]] —
    * two-phase, no single-partition window — so the assignment is
    * deterministic for a given id order at any parallelism.
    *
    * Output: input columns plus `seq_id` and `tok_offset`.
    */
  def packSequences(
      docs: DataFrame,
      idCol: String,
      tokenCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    ScaleOps.prefixSum(docs, idCol, tokenCol, "__cum")
      .withColumn("__pre", col("__cum") - col(tokenCol))
      // `div` = integer division (`/` on longs is double division: rounds
      // and loses precision past 2^53 — real corpora pass 2^53 tokens)
      .withColumn("seq_id", expr(s"__pre div ${budget}L"))
      .withColumn("tok_offset", col("__pre") % budget)
      .drop("__cum", "__pre")
  }

  /** Sliding token-window chunking: cut each document's tokens into
    * windows of `size` starting every `stride` tokens (overlapping when
    * `stride < size`) — the retrieval/embedding-pipeline step that turns
    * documents into bounded passages. Trailing windows shorter than
    * `size` are kept (their `chunk_len` says so); a document always
    * yields at least one chunk.
    *
    * Shape at scale: one narrow pass — tokenize, `sequence` of window
    * starts, `posexplode`, `slice` + `array_join` — all whole-stage
    * codegen'd, no UDF, no shuffle at all. Output size is
    * `~n_tokens/stride` rows per document; downstream embedding batches
    * repartition as they need.
    *
    * Tokens are single-space splits (matching the corpus layout and the
    * SQL oracle's `string_split`); empty text yields one empty chunk.
    *
    * Output: `(idCol, chunk_idx, chunk_start, chunk_len, chunk_text)`,
    * all counters Long, `chunk_start` 0-based in tokens.
    */
  def chunkTokens(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      size: Int,
      stride: Int): DataFrame = {
    require(size > 0, s"size must be positive, got $size")
    require(stride > 0, s"stride must be positive, got $stride")
    // NULL text behaves like empty text (one empty chunk) — a generator
    // over a null array would otherwise DROP the document silently
    docs
      .select(col(idCol),
        split(coalesce(col(textCol), lit("")), " ").as("__toks"))
      .withColumn("__n",
        org.apache.spark.sql.functions.size(col("__toks")))
      .select(col(idCol), col("__toks"), col("__n"),
        posexplode(sequence(lit(0), greatest(col("__n") - 1, lit(0)),
          lit(stride))).as(Seq("chunk_idx", "chunk_start")))
      .withColumn("chunk_len",
        least(lit(size), col("__n") - col("chunk_start")).cast("long"))
      .withColumn("chunk_text",
        array_join(slice(col("__toks"), col("chunk_start") + 1,
          col("chunk_len")), " "))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk_start").cast("long").as("chunk_start"),
        col("chunk_len"), col("chunk_text"))
  }

  /** Tokenize for span analysis: lowercase, split on whitespace runs,
    * drop empty tokens (leading-whitespace artifacts). Shared by
    * [[repeatedSpans]] and its oracle so both sides see identical tokens.
    */
  // null text tokenizes as empty (NOT a -1-size null array: with ANSI
  // off, size(null) is -1 and would surface as n_tokens = -1 / 
  // n_removed = -1 in every span consumer)
  private[graft] def spanTokens(text: org.apache.spark.sql.Column) =
    filter(split(lower(coalesce(text, lit(""))), "\\s+"), t => t =!= "")

  /** Repeated-span detection (substring-level exact dedup, the
    * Lee-et-al-style pass below paragraph granularity): every word
    * `n`-gram occurring in at least `minDocs` DISTINCT documents, with its
    * document frequency and total occurrence count. Document-level and
    * paragraph-level dedup miss boilerplate that is spliced INTO otherwise
    * unique text (license headers, navigation chrome, quoted passages);
    * this surfaces those spans for masking or cutting.
    *
    * Shape at scale: tokenization + n-gram enumeration is one narrow pass
    * (`transform` over a `sequence`, whole-stage codegen'd, no UDF); the
    * only shuffle is the groupBy on the span — keyed on the span TEXT so
    * the output is directly actionable, with map-side partial aggregation
    * collapsing within-partition repeats. For a 100 TB corpus the same
    * plan runs with the span replaced by `xxhash64(span)` (16-byte
    * shuffle key) and a sample join re-attaching representative text.
    *
    * Output: `(span, n_docs, n_occ)` for spans with `n_docs >= minDocs`.
    */
  def repeatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minDocs: Int = 2): DataFrame = {
    require(n >= 2, s"span length must be >= 2 tokens, got $n")
    // spread (guarded) before tokenize+explode: the span enumeration ran
    // as ONE 0.8 s task behind the small-SF scan's single split
    // (StageProfile r20); the span-keyed aggregate is placement-free
    val toks = ScaleOps.spreadCpu(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), spanTokens(col(textCol)).as("__t"))
    val spans = toks
      .filter(size(col("__t")) >= n)
      .select(col(idCol), explode(
        transform(sequence(lit(1), size(col("__t")) - (n - 1)),
          i => array_join(slice(col("__t"), i, lit(n)), " "))).as("span"))
    spans
      .groupBy("span")
      .agg(count_distinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Cross-document exact-substring REMOVAL — the cut step of the
    * Lee-et-al substring-dedup loop whose detection half is
    * [[repeatedSpans]]: every token covered by any occurrence of a span
    * repeated in `>= minDocs` distinct documents is dropped, and each
    * document is rebuilt from its surviving tokens in original order.
    * Overlapping repeated spans compose naturally (coverage is a set of
    * token positions, deduplicated before the cut). The output text is
    * the cleaned TOKEN stream ([[spanTokens]] normalization: lowercase,
    * whitespace-joined) — substring dedup operates on token sequences,
    * not raw bytes; callers needing original casing keep the id map.
    *
    * Shape at scale: ONE tokenization staged and reused (positions,
    * n-gram starts, totals — unstaged, the explode would recompute per
    * consumer); the repeated-span table is a span-keyed aggregate with
    * map-side combine; coverage is a bounded explode (`n` positions per
    * matched occurrence) deduplicated on `(id, pos)`; the cut is a
    * shuffled left-anti on `(id, pos)`; reassembly is one id-keyed
    * aggregate whose in-group order comes from an `array_sort` on
    * `(pos, tok)` structs — deterministic across layouts, no window.
    * Nothing is all-pairs; nothing is driver-side.
    *
    * `xx = true` is the PRODUCTION key posture: the repeated-span
    * aggregate and the coverage join key on `xxhash64(span)` instead of
    * the raw n-gram string — one span per token position, ~40-60 bytes
    * of text each, so at corpus scale the span strings dominate shuffle
    * width several-fold over an 8-byte hash key (SCALE.md A/B). Two
    * distinct spans merge only on a 64-bit collision (~2^-64 per pair —
    * the trade the published substring-dedup implementations make); a
    * collision can only ADD a span to the repeated set (over-masking a
    * handful of tokens), never lose one. The default keeps the raw
    * strings — the declared, DuckDB-replayable oracle mode.
    *
    * Output: `(idCol, clean_text, n_tokens, n_removed)`, one row per
    * input document (tokenless documents keep an empty `clean_text`).
    */
  def maskRepeatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minDocs: Int = 2,
      xx: Boolean = false,
      carryCols: Seq[String] = Nil): DataFrame = {
    require(n >= 2, s"span length must be >= 2 tokens, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    // the tokenization is spread (guarded) and persisted LAZILY (r21;
    // was an eager checkpoint): its first physical consumer — the one
    // grams exchange ReuseExchange dedups the repeated-span aggregate
    // and the coverage join onto — strictly precedes the final token
    // join in the stage DAG, so the cache fills once with no
    // concurrent-fill race, and the former separate staging job's
    // serial latency disappears from a chain that was nothing but
    // serial latency. `carryCols` ride the token frame through to the
    // output (scrubComposite threads its codepoint counts through here
    // instead of paying a join back onto the cut snapshot).
    val toks = Staging.persist(
      ScaleOps.spreadCpu(docs.select(col(idCol).as("id") +:
          col(textCol).as("__txt") +: carryCols.map(col): _*))
        .select(col("id") +: spanTokens(col("__txt")).as("__t") +:
          carryCols.map(col): _*))
    // 1-based n-gram start positions (repeatedSpans' convention). In xx
    // mode the span TEXT never leaves the scan stage: the key column is
    // hashed inside the same projection that materializes the n-gram.
    def spanAt(i: Column): Column =
      array_join(slice(col("__t"), i, lit(n)), " ")
    val grams = toks
      .filter(size(col("__t")) >= n)
      .select(col("id"), posexplode(
        transform(sequence(lit(1), size(col("__t")) - (n - 1)),
          i => if (xx) xxhash64(spanAt(i)) else spanAt(i)))
        .as(Seq("__p0", "span")))
      .select(col("id"), (col("__p0") + 1).as("start"), col("span"))
    val rep = grams.groupBy("span")
      .agg(count_distinct(col("id")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("span")
    // coverage and the cut, fused (r21, guide §2.4/§1.2): the former
    // path exploded every matched occurrence into n position rows,
    // deduplicated them on (id, pos), left-anti-joined the full
    // per-token position explode and reassembled with ANOTHER id-keyed
    // aggregate — four shuffles and an n-fold row blow-up. Covered
    // positions are fully determined by the matched occurrences' START
    // positions (each covers [start, start+n-1]), so ONE id-keyed
    // aggregate collects the sorted starts and the cut runs as per-row
    // array folds over the staged token array: merge the fixed-length
    // spans into overlap-or-adjacent islands (the cutSpans fold — the
    // position-set union, expressed as intervals), then keep the token
    // segments between islands. Token order, the space re-join, and the
    // removed count are identical to the position-anti-join formulation.
    val starts = grams.join(rep, Seq("span"))
      .groupBy("id")
      .agg(array_sort(collect_list(col("start"))).as("__st"))
    val spanArr = transform(col("__st"),
      st => struct(st.as("s"), (st + n).as("e")))
    val islands = aggregate(
      slice(spanArr, lit(2), size(spanArr) - 1),
      array(element_at(spanArr, 1)),
      (acc: Column, x: Column) => {
        val last = element_at(acc, -1)
        when(x.getField("s") > last.getField("e"),
          concat(acc, array(struct(x.getField("s").as("s"),
            x.getField("e").as("e")))))
          .otherwise(concat(slice(acc, lit(1), size(acc) - 1),
            array(struct(last.getField("s").as("s"),
              greatest(last.getField("e"), x.getField("e")).as("e")))))
      })
    // fold islands into the kept-token array: tokens in [pe, s) between
    // islands, then the tail [pe, end] after the last one
    val keptToks = aggregate(
      islands,
      struct(lit(1).as("pe"),
        array().cast("array<string>").as("acc")),
      (st: Column, x: Column) => struct(
        x.getField("e").as("pe"),
        concat(st.getField("acc"), slice(col("__t"),
          st.getField("pe"), x.getField("s") - st.getField("pe"))).as("acc")),
      (st: Column) => concat(st.getField("acc"), slice(col("__t"),
        st.getField("pe"), size(col("__t")) - st.getField("pe") + 1)))
    toks.join(starts, Seq("id"), "left")
      .withColumn("__kept",
        when(col("__st").isNull, col("__t")).otherwise(keptToks))
      .select(col("id").as(idCol) +:
        array_join(col("__kept"), " ").as("clean_text") +:
        size(col("__t")).cast("long").as("n_tokens") +:
        (size(col("__t")) - size(col("__kept"))).cast("long")
          .as("n_removed") +: carryCols.map(col): _*)
  }

  /** Remove contaminated documents: `train` without any document sharing
    * an `n`-gram with `bench` (anti join against the hit set).
    */
  def decontaminate(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame =
    train.join(
      decontaminationHits(train, bench, idCol, textCol, n).select(idCol),
      Seq(idCol), "left_anti")

  /** the CDC hash modulus (2^31 − 1) and base — shared with the SQL
    * oracle's lag-term constants */
  val CdcMod: Long = 2147483647L
  val CdcBase: Long = 31L

  /** per-offset multipliers `31^j mod (2^31−1)` for a `window`-wide
    * rolling hash (exposed so the oracle interpolates the same
    * literals) */
  def cdcWeights(window: Int): IndexedSeq[Long] =
    Iterator.iterate(1L)(g => (g * CdcBase) % CdcMod).take(window).toIndexedSeq

  /** Content-defined chunking (the FastCDC/rolling-hash family): cut
    * each document at positions where a rolling hash of the trailing
    * `window` CODEPOINTS satisfies `h % divisor == 0` — boundaries are
    * functions of local CONTENT, not offsets, so an insertion early in
    * a document shifts only the chunk it lands in and re-synchronizes
    * at the next boundary (CdcSpec pins that), which is what makes
    * sub-document dedup robust where fixed spans are not.
    *
    * The DP-free kernel is deliberately oracle-replayable: `h(i) =
    * (Σ_{j<window} cp(i−j) · 31^j) mod (2^31−1)` over 1-based codepoint
    * positions `i >= window` — eight integer multiply-adds the SQL
    * oracle spells as LAG terms; codepoint semantics are identical in
    * the JVM (`String.codePoints`) and DuckDB (substring/unicode).
    * A chunk spans (prevBoundary, boundary]; the final chunk always
    * ends at the text end, so chunk concatenation reproduces the
    * document exactly.
    *
    * Output `(id, chunk_idx, chunk, n_cp)`, one row per chunk — a
    * narrow per-row pass (mapPartitions: per-codepoint imperative
    * scanning, the documented codec-class case), no shuffle; the
    * downstream dedup groupBy is the only shuffle, keyed on chunk
    * content. At 100 TB the divisor is the knob: average chunk length
    * `divisor` codepoints, so the chunk-key shuffle is
    * `~bytes/divisor` rows whatever the document-length distribution.
    */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 8, divisor: Int = 32): DataFrame = {
    require(window >= 1 && window <= 32, s"window in [1,32], got $window")
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    val spark = docs.sparkSession
    import spark.implicits._
    val w = window
    val d = divisor
    val g = cdcWeights(window).toArray
    docs.select(col(idCol).cast("long").as("__id"),
        col(textCol).cast("string"))
      .filter(col("__id").isNotNull)
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        chunkWalk(text, w, d, g).map { case (idx, chunk, ncp) =>
          (id, idx, chunk, ncp)
        }
      }
      .toDF("id", "chunk_idx", "chunk", "n_cp")
  }

  /** Content-defined anchor positions with their fixed-length seeds —
    * the candidate generator of [[longRepeats]]: every position where
    * the [[cdcChunks]] rolling hash (with its OWN divisor, typically
    * finer than the chunker's) fires, paired with the `seedLen`
    * codepoints starting at the rolling window's first position. Emits
    * `(s0 (1-based), seed)`; anchors whose seed would run past the text
    * end are skipped. Because anchors are CONTENT-defined, a verbatim
    * repeat of length >= seedLen + window carries identical anchors at
    * corresponding offsets in every copy, at ANY alignment. */
  private[graft] def anchorWalk(text: String, w: Int, d: Int,
      g: Array[Long], seedLen: Int): Iterator[(Int, String)] = {
    if (text == null || text.isEmpty) Iterator.empty
    else {
      val cps = text.codePoints().toArray
      val n = cps.length
      val out = Vector.newBuilder[(Int, String)]
      // rolling update (O(1)/position instead of re-summing the w-term
      // window): h(i+1) ≡ 31·h(i) + cp_in − 31^w·cp_out (mod CdcMod),
      // kept in [0, CdcMod) so `hm` IS the windowed sum's `% CdcMod` at
      // every position — anchor decisions are bit-identical
      if (n >= w) {
        val gw = (g(w - 1) * CdcBase) % CdcMod
        var hm = 0L
        var j = 0
        while (j < w) { hm += cps(w - 1 - j) * g(j); j += 1 }
        hm %= CdcMod
        var i = w
        var more = true
        while (more) {
          if (hm % d == 0L) {
            val s0 = i - w + 1
            if (s0 + seedLen - 1 <= n)
              out += ((s0, new String(cps, s0 - 1, seedLen)))
          }
          if (i < n) {
            hm = (hm * CdcBase + cps(i) +
              (CdcMod - (cps(i - w) * gw) % CdcMod)) % CdcMod
            i += 1
          } else more = false
        }
      }
      out.result().iterator
    }
  }

  /** Repeated-substring detection at ARBITRARY alignment — the
    * Lee-et-al suffix-array cut's bucketed approximation, closing the
    * tail [[cdcChunks]] leaves open: a repeat shorter than ~2 expected
    * chunks can contain NO full content-defined chunk (nothing for the
    * chunk census to share) yet still be `minLen` codepoints of
    * verbatim duplication. Anchors ([[anchorWalk]], divisor finer than
    * the chunker's) seed candidate pairs wherever two documents share a
    * `seedLen`-codepoint anchor seed; each candidate extends left and
    * right to the MAXIMAL equal run; runs >= `minLen` are reported as
    * `(id_a, id_b, start_a, start_b, rep_len)` (1-based codepoint
    * starts, `id_a` the bucket's first arrival).
    *
    * Completeness: a verbatim repeat is caught iff some anchor fires
    * with its window + seed fully inside the repeated region — for a
    * repeat of length L that is ~`1 - (1-1/divisor)^(L-seedLen-window)`
    * (probabilistic, like every bucketed candidate generator here); the
    * planted-straddle spec pins the behavior on a contrast corpus that
    * [[cdcChunks]] provably misses.
    *
    * Scale shape: one narrow anchor pass; ONE seed-keyed shuffle with
    * star pairs under `maxBucket` (boilerplate seeds stop generating
    * pairs, never quadratic); two id-keyed joins pull ONLY candidate
    * documents' texts; extension is a per-candidate-pair JVM scan
    * (codec-class work). Grouping keys on a 64-bit hash of the seed
    * (no StringType shuffle key) — xxhash64 in production, the
    * md5-hash64 twin under `md5Mode` (the oracle groups on seed
    * content itself; hash-collision differences are the md5 twins'
    * accepted philosophy, and seed EQUALITY is re-verified in the
    * join either way so a collision can only perturb a bucket's cap
    * composition, never fabricate a pair). */
  def longRepeats(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 40, window: Int = 8, divisor: Int = 16,
      seedLen: Int = 16, maxBucket: Int = 8,
      md5Mode: Boolean = false): DataFrame = {
    require(minLen >= seedLen, s"minLen >= seedLen, got $minLen < $seedLen")
    require(divisor >= 2 && seedLen >= window, "bad anchor geometry")
    require(window >= 1 && window <= 32,
      s"window must be in [1, 32], got $window")
    val spark = docs.sparkSession
    import spark.implicits._
    val w = window
    val d = divisor
    val sl = seedLen
    val g = cdcWeights(window).toArray
    val base = docs.select(col(idCol).cast("long").as("id"),
        col(textCol).cast("string").as("text"))
      .filter(col("id").isNotNull)
    val anchors = base.as[(Long, String)]
      .flatMap { case (id, text) =>
        anchorWalk(text, w, d, g, sl).map { case (s0, seed) =>
          (id, s0, seed)
        }
      }
      .toDF("id", "s0", "seed")
    repeatSpansFromAnchors(anchors, base, minLen, sl, maxBucket, md5Mode)
  }

  /** The bucket/candidate/extension pipeline of [[longRepeats]] over an
    * EXPLICIT anchor frame `(id, s0, seed)` — split out so
    * [[scrubComposite]] can feed it the anchors surviving its
    * hot-region cut while q_long_repeats' path stays byte-identical. */
  private[graft] def repeatSpansFromAnchors(anchors0: DataFrame,
      base: DataFrame, minLen: Int, seedLen: Int, maxBucket: Int,
      md5Mode: Boolean): DataFrame = {
    val spark = anchors0.sparkSession
    import spark.implicits._
    val sl = seedLen
    val anchors = anchors0
      .withColumn("bkey",
        if (md5Mode) graft.functions.Md5Hashes.md5Hash64(col("seed"))
        else xxhash64(col("seed")))
    val win = Window.partitionBy("bkey").orderBy("id", "s0")
    val ranked = anchors.withColumn("rk", row_number().over(win))
    val firsts = ranked.filter(col("rk") === 1)
      .select(col("bkey"), col("id").as("id_a"), col("s0").as("sa"),
        col("seed").as("seed_a"))
    val rest = ranked.filter(col("rk") > 1 && col("rk") <= maxBucket + 1)
      .select(col("bkey"), col("id").as("id_b"), col("s0").as("sb"),
        col("seed").as("seed_b"))
    val cands = rest.join(firsts, Seq("bkey"))
      .filter(col("id_a") =!= col("id_b") &&
        col("seed_a") === col("seed_b"))
      .select("id_a", "sa", "id_b", "sb")
    // seed content equality was verified in the join above — skip the
    // re-check in the shared extension tail
    extendCandidatePairs(cands, base, minLen, sl, verifySeed = false)
  }

  /** The text-join + maximal-extension tail of
    * [[repeatSpansFromAnchors]] over EXPLICIT candidate pairs
    * `(id_a, sa, id_b, sb)` — ONE definition shared with the
    * streaming-census compaction path ([[scrubFromCensus]]) so the two
    * extensions cannot drift. `verifySeed` re-checks codepoint equality
    * of the two seed regions before extending: REQUIRED when the pairs
    * arrive from the 8-byte-hash-keyed streaming census (a hash
    * collision can only fabricate a CANDIDATE, and this is where it
    * dies — the end-to-end contract [[graft.streaming.StreamRepeats]]
    * documents); redundant when the caller already joined on seed
    * content. */
  private def extendCandidatePairs(cands: DataFrame, base: DataFrame,
      minLen: Int, seedLen: Int, verifySeed: Boolean): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    val sl = seedLen
    val vs = verifySeed
    cands
      .join(base.select(col("id").as("id_a"), col("text").as("ta")),
        Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("text").as("tb")),
        Seq("id_b"))
      .select("id_a", "sa", "ta", "id_b", "sb", "tb")
      .as[(Long, Int, String, Long, Int, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (ia, sa, ta, ib, sb, tb) =>
          val ca = ta.codePoints().toArray
          val cb = tb.codePoints().toArray
          // seed occupies [s, s + sl - 1] 1-based
          val seedOk = !vs || (sa >= 1 && sb >= 1 &&
            sa + sl - 1 <= ca.length && sb + sl - 1 <= cb.length && {
              var k = 0
              var ok = true
              while (ok && k < sl) {
                ok = ca(sa - 1 + k) == cb(sb - 1 + k); k += 1
              }
              ok
            })
          if (!seedOk) None
          else {
            // maximal extension around the equal seed
            var l = 0
            while (sa - 1 - l >= 1 && sb - 1 - l >= 1 &&
                ca(sa - 2 - l) == cb(sb - 2 - l)) l += 1
            var r = 0
            while (sa + sl + r <= ca.length && sb + sl + r <= cb.length &&
                ca(sa + sl + r - 1) == cb(sb + sl + r - 1)) r += 1
            Some((ia, ib, (sa - l).toLong, (sb - l).toLong,
              (sl + l + r).toLong))
          }
        }
      }
      .toDF("id_a", "id_b", "start_a", "start_b", "rep_len")
      .filter(col("rep_len") >= minLen)
      .distinct()
  }

  /** Batch EXTENSION + SCRUB over the STREAMING census's candidate
    * pairs — the periodic compaction job
    * [[graft.streaming.StreamRepeats.repeatCandidates]] exists to feed
    * (its docstring's promised composition, certified end to end by
    * q_stream_repeat_scrub): censused `(doc_id, s0, first_doc,
    * first_s0)` pairs re-read both texts, re-VERIFY seed equality (the
    * census keys state on an 8-byte seed hash; a collision can only
    * fabricate a candidate and it dies here), extend to the maximal
    * equal run, and cut every repeat of >= `minLen` codepoints from its
    * LATER copy via [[cutSpans]]. Same-document census hits
    * (`first_doc == doc_id`) are filtered exactly as [[longRepeats]]'
    * candidate stage does. Over a horizon-complete census this equals
    * [[scrubLongRepeats]] EXACTLY (same arrival order, same hash-keyed
    * bucket cap, shared extension tail — pinned in StreamingSpec).
    *
    * Scale shape: the census already bounded candidates (star cap per
    * seed), so this job's joins are proportional to CENSUSED pairs, not
    * corpus mass, until the final left join back to the corpus in
    * [[cutSpans]]. Output: `(doc_id, clean_text, n_spans,
    * n_removed)`. */
  def scrubFromCensus(docs: DataFrame, idCol: String, textCol: String,
      cands: DataFrame, minLen: Int = 40, seedLen: Int = 16): DataFrame = {
    require(minLen >= seedLen, s"minLen >= seedLen, got $minLen < $seedLen")
    val base = docs.select(col(idCol).cast("long").as("id"),
        col(textCol).cast("string").as("text"))
      .filter(col("id").isNotNull)
    val pairs = cands
      .filter(col("first_doc") =!= col("doc_id"))
      .select(col("first_doc").cast("long").as("id_a"),
        col("first_s0").cast("int").as("sa"),
        col("doc_id").cast("long").as("id_b"),
        col("s0").cast("int").as("sb"))
    val reps = extendCandidatePairs(pairs, base, minLen, seedLen,
      verifySeed = true)
    val iv = reps.select(col("id_b").as("id"), col("start_b").as("s"),
      (col("start_b") + col("rep_len")).as("e"))
    cutSpans(base, iv)
  }

  /** REMOVE every reported long repeat from its LATER copy — the
    * Lee-et-al removal step over [[longRepeats]]' findings: the first
    * arrival (`id_a`, the lowest id in the seed bucket) keeps its text;
    * every `id_b` occurrence's span is cut. Per-document spans merge as
    * overlap-OR-adjacent islands (one `(id, start)`-ordered window —
    * the q_seq_pack running-sum idiom), then each document reassembles
    * from its surviving segments in order. Documents with no reported
    * repeat pass through unchanged. Output: `(doc_id, clean_text,
    * n_spans, n_removed)` — `n_spans` merged islands, `n_removed`
    * codepoints cut.
    *
    * Scale shape: [[longRepeats]]' shuffles plus one interval-keyed
    * window and one doc-keyed reassembly aggregate — both proportional
    * to REPORTED spans (not corpus mass) until the final left join back
    * to the corpus. */
  def scrubLongRepeats(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 40, window: Int = 8, divisor: Int = 16,
      seedLen: Int = 16, maxBucket: Int = 8,
      md5Mode: Boolean = false): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("id"),
        col(textCol).cast("string").as("text"))
      .filter(col("id").isNotNull)
    val reps = longRepeats(docs, idCol, textCol, minLen, window, divisor,
      seedLen, maxBucket, md5Mode)
    val iv = reps.select(col("id_b").as("id"), col("start_b").as("s"),
      (col("start_b") + col("rep_len")).as("e"))
    cutSpans(base, iv)
  }

  /** The island-merge + reassembly half of [[scrubLongRepeats]] over an
    * EXPLICIT half-open codepoint span frame `(id, s, e)` — split out so
    * [[scrubComposite]] can cut the UNION of several detectors' spans in
    * ONE pass. Overlap-or-adjacent spans merge; each document
    * reassembles from its surviving segments in order; span-free docs
    * pass through. Output: `(doc_id, clean_text, n_spans, n_removed)`. */
  private[graft] def cutSpans(base: DataFrame, iv: DataFrame): DataFrame = {
    // ONE id-keyed aggregate collects each document's spans; island
    // merging and the piece/tail reassembly run as per-row array folds
    // over the (span-count-bounded) per-doc list. The former formulation
    // paid two id-keyed windows, two more aggregates and THREE joins back
    // to `base` — fused to one aggregate + one join (r21, guide §2.4
    // remove-shuffles / §1.2 stage-count; the scrub family's wall was
    // tiny-stage chain latency, not compute). Island semantics are
    // IDENTICAL to the windowed form: spans sorted by (s, e); a span
    // opens a new island iff its s strictly exceeds the running max end
    // (adjacency merges — and because every span has e > s, the running
    // max end equals the CURRENT island's max e, so folding against the
    // last island alone is the same decision the global running max
    // made); an island spans (min s, max e). Reassembly is the same
    // substring algebra: piece_i = substring(text, pe_i, s_i - pe_i)
    // with pe_1 = 1 and pe_i = e_{i-1}, tail = substring(text, max_e);
    // n_removed sums (e - s) over MERGED islands, n_spans counts them.
    val spans = iv.groupBy("id")
      .agg(array_sort(collect_list(struct(col("s").cast("long").as("s"),
        col("e").cast("long").as("e")))).as("__sp"))
    // merge sorted spans into overlap-or-adjacent islands: fold the tail
    // against array(first) — groups are non-empty by construction
    val mergedIslands = aggregate(
      slice(col("__sp"), lit(2), size(col("__sp")) - 1),
      array(element_at(col("__sp"), 1)),
      (acc: Column, x: Column) => {
        val last = element_at(acc, -1)
        when(x.getField("s") > last.getField("e"),
          concat(acc, array(struct(x.getField("s").as("s"),
            x.getField("e").as("e")))))
          .otherwise(concat(slice(acc, lit(1), size(acc) - 1),
            array(struct(last.getField("s").as("s"),
              greatest(last.getField("e"), x.getField("e")).as("e")))))
      })
    // cut the islands out in one fold: carry (prev island end, text acc)
    val cutText = (m: Column) => aggregate(
      m,
      struct(lit(1L).as("pe"), lit("").as("acc")),
      (st: Column, x: Column) => struct(
        x.getField("e").as("pe"),
        concat(st.getField("acc"), col("text").substr(
          st.getField("pe").cast("int"),
          (x.getField("s") - st.getField("pe")).cast("int"))).as("acc")),
      (st: Column) => concat(st.getField("acc"),
        col("text").substr(st.getField("pe").cast("int"),
          length(col("text")))))
    val nRemoved = (m: Column) => aggregate(m, lit(0L),
      (a: Column, x: Column) => a + (x.getField("e") - x.getField("s")))
    base.join(spans, Seq("id"), "left")
      .withColumn("__m",
        when(col("__sp").isNull, lit(null)).otherwise(mergedIslands))
      .select(col("id").as("doc_id"),
        when(col("__m").isNull, col("text"))
          .otherwise(cutText(col("__m"))).as("clean_text"),
        when(col("__m").isNull, lit(0L))
          .otherwise(size(col("__m")).cast("long")).as("n_spans"),
        when(col("__m").isNull, lit(0L))
          .otherwise(nRemoved(col("__m"))).as("n_removed"))
  }

  /** ONE fused hash pass emitting BOTH the CDC chunk census AND the
    * long-repeat anchors — the rolling hash is computed once per
    * position and consulted against the two divisors (the chunker's
    * coarse one, the anchor generator's fine one), where running
    * [[chunkWalk]] + [[anchorWalk]] separately hashes every position
    * twice. Spec-pinned equal to both walks (the one-definition
    * discipline, enforced by assertion since the hot loop cannot be
    * literally shared without paying the double hash this fusion
    * exists to remove). Emits `(kind, a, b, payload)`: kind 0 = chunk
    * `(cidx, n_cp, chunk)`, kind 1 = anchor `(s0, 0, seed)`. */
  private[graft] def censusWalk(text: String, w: Int, chunkDiv: Int,
      anchorDiv: Int, g: Array[Long], seedLen: Int)
      : Iterator[(Int, Int, Long, String)] = {
    if (text == null || text.isEmpty) Iterator.empty
    else {
      val cps = text.codePoints().toArray
      val n = cps.length
      val bounds = Vector.newBuilder[Int]
      val anchors = Vector.newBuilder[(Int, Int, Long, String)]
      // same rolling-update kernel as [[chunkWalk]]/[[anchorWalk]] (the
      // spec-pinned walk equality holds: `hm` is the windowed sum's
      // `% CdcMod` at every position, so both divisor tests are
      // bit-identical to the re-summed form)
      if (n >= w) {
        val gw = (g(w - 1) * CdcBase) % CdcMod
        var hm = 0L
        var j = 0
        while (j < w) { hm += cps(w - 1 - j) * g(j); j += 1 }
        hm %= CdcMod
        var i = w
        var more = true
        while (more) {
          if (hm % chunkDiv == 0L) bounds += i
          if (hm % anchorDiv == 0L) {
            val s0 = i - w + 1
            if (s0 + seedLen - 1 <= n)
              anchors += ((1, s0, 0L, new String(cps, s0 - 1, seedLen)))
          }
          if (i < n) {
            hm = (hm * CdcBase + cps(i) +
              (CdcMod - (cps(i - w) * gw) % CdcMod)) % CdcMod
            i += 1
          } else more = false
        }
      }
      val bs = (bounds.result() :+ n).distinct
      var prev = 0
      val chunks = bs.zipWithIndex.map { case (b, idx) =>
        val out = (0, idx + 1, (b - prev).toLong,
          new String(cps, prev, b - prev))
        prev = b
        out
      }
      chunks.iterator ++ anchors.result().iterator
    }
  }

  /** UNIFIED exact-substring scrub — the three removers composed as ONE
    * pass hierarchy instead of three serial full-corpus rewrites:
    *
    *  1. ONE fused text walk ([[censusWalk]]) emits the CDC chunk
    *     census AND the long-repeat anchors (each standalone operator
    *     re-hashes every position; serial composition also re-WRITES
    *     the full corpus text between stages).
    *  2. The chunk census marks cross-document duplicated chunks
    *     ([[cdcChunks]]/cdcScrub semantics: a chunk seen in >= 2
    *     distinct docs is boilerplate — removed everywhere).
    *  3. Anchors whose seed lies INSIDE a to-be-removed chunk span of
    *     their own document are cut BEFORE the seed shuffle — that text
    *     is already leaving, so extending from it pays a shuffle +
    *     extension scan to find spans the island-union mostly subsumes.
    *     This is the hierarchy's cost lever ("extend only where the
    *     census is cold"); the documented trade is flank recall around
    *     hot boilerplate, bounded by the chunk size.
    *  4. Surviving anchors run the [[longRepeats]] candidate/extension
    *     pipeline (later copy loses — `id_b` spans).
    *  5. Chunk spans ∪ repeat spans island-merge and cut in ONE
    *     reassembly ([[cutSpans]]) — detect-everything-then-remove-once,
    *     the semantics a real pipeline wants (serial scrubs shift
    *     positions between stages and rewrite text each time).
    *  6. The token-domain 8-gram cut ([[maskRepeatedSpans]]) runs on
    *     the codepoint-clean text — its tokenization normalizes anyway,
    *     so it composes as the natural LAST stage.
    *
    * Output: `(doc_id, clean_text, n_cp_spans, n_cp_removed, n_tokens,
    * n_tok_removed)` — clean_text is the final token-normalized text,
    * the counts split the codepoint-domain and token-domain removals.
    * `md5Mode` routes every hash key through the md5 twins so the
    * DuckDB oracle replays all six stages. `hotBroadcastCap` bounds the
    * hot-region broadcast: above it (boilerplate-heavy corpora where the
    * duplicated-chunk span set is data-sized) the anchor cut falls back
    * to a shuffled left_anti instead of collecting the spans on the
    * driver — same rows, one extra shuffle, no OOM. */
  def scrubComposite(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 40, window: Int = 8, chunkDiv: Int = 32,
      anchorDiv: Int = 16, seedLen: Int = 16, maxBucket: Int = 8,
      spanN: Int = 8, spanMinDocs: Int = 2,
      md5Mode: Boolean = false,
      hotBroadcastCap: Long = 1L << 20): DataFrame = {
    require(minLen >= seedLen && seedLen >= window, "bad geometry")
    require(window >= 1 && window <= 32,
      s"window must be in [1, 32], got $window")
    require(chunkDiv >= 2 && anchorDiv >= 2,
      s"divisors must be >= 2, got chunkDiv=$chunkDiv anchorDiv=$anchorDiv")
    val spark = docs.sparkSession
    import spark.implicits._
    val w = window
    val cd = chunkDiv
    val ad = anchorDiv
    val sl = seedLen
    val g = cdcWeights(window).toArray
    val base = docs.select(col(idCol).cast("long").as("id"),
        col(textCol).cast("string").as("text"))
      .filter(col("id").isNotNull)
    // the ONE walk, persisted LAZILY (r21; was an eager checkpoint):
    // chunks and anchors both read it — uncached, each consumer would
    // re-run the fused pass (losing the fusion). The guard count below
    // is the materializing action, so the former separate checkpoint
    // job folds into the guard job — one serial job fewer in a chain
    // whose wall IS serial-job latency. The walk input is spread
    // (guarded) so the fused hash pass engages every core instead of
    // serializing behind the small-SF scan's one split.
    val scope = new Staging.Scope
    val walked = scope.persist(ScaleOps.spreadCpu(base).as[(Long, String)]
      .flatMap { case (id, text) =>
        censusWalk(text, w, cd, ad, g, sl).map { case (k, a, b, p) =>
          (id, k, a, b, p)
        }
      }
      .toDF("id", "kind", "a", "b", "payload"))
    val key =
      if (md5Mode) graft.functions.Md5Hashes.md5Hash64(col("payload"))
      else xxhash64(col("payload"))
    val wext = Window.partitionBy("id").orderBy("cidx")
    val chunks = walked.filter(col("kind") === 0)
      .select(col("id"), col("a").as("cidx"), col("b").as("n_cp"),
        key.as("ck"))
      .withColumn("e", sum("n_cp").over(wext) + 1L)
      .withColumn("s", col("e") - col("n_cp"))
    // duplicated-chunk span rows, PERSISTED (lazy) with the guard count
    // as the materializing action: the frame feeds both the hot cut's
    // anti-join side and the union cut's input, and the count of its
    // rows IS the former staged-dup guard value (sum over duplicated
    // keys of their occurrence counts == one row per duplicated-chunk
    // occurrence). One job replaces the r20 shape's separate dup
    // checkpoint + guard aggregate, and the chunks window no longer
    // recomputes per consumer (r21, guide §5/§1.2).
    val dup = chunks.groupBy("ck")
      .agg(count_distinct(col("id")).as("__nd"))
      .filter(col("__nd") >= 2).select("ck")
    val chunkSpans = scope.persist(chunks.join(dup, Seq("ck"))
      .select("id", "s", "e"))
    val anchors = walked.filter(col("kind") === 1)
      .select(col("id"), col("a").as("s0"), col("payload").as("seed"))
    // the hot-region cut: seed fully inside a removed chunk span. The
    // span set is duplicated-chunk-only (boilerplate mass, usually small
    // next to the corpus) — BROADCAST it so the cut costs zero anchor
    // shuffles. But "usually" is not a bound: on a boilerplate-heavy
    // corpus the dup-span set is data-sized, and an unconditional
    // broadcast would collect it on the driver. Guard on the EXACT span
    // count (the persisted frame's own row count — the action that
    // materializes it) and fall back to a shuffled left_anti above the
    // cap — one extra anchor shuffle, no driver collect, same rows
    // either way.
    val nHot = chunkSpans.count()
    val hot = chunkSpans.select(col("id").as("__hid"),
      col("s").as("__hs"), col("e").as("__he"))
    val survivors = anchors.join(
      if (nHot <= hotBroadcastCap) broadcast(hot) else hot,
      anchors("id") === hot("__hid") &&
        col("s0") >= col("__hs") && (col("s0") + sl) <= col("__he"),
      "left_anti")
    val reps = repeatSpansFromAnchors(survivors, base, minLen, sl,
      maxBucket, md5Mode)
    val repSpans = reps.select(col("id_b").as("id"),
      col("start_b").as("s"), (col("start_b") + col("rep_len")).as("e"))
    // staged: TWO consumers (the token-domain mask and the final count
    // join) — unstaged, the entire codepoint pipeline (walk, census,
    // candidates, extension, island cut) re-executes per consumer.
    // The seal releases the walk census and the duplicated-chunk spans
    // once the snapshot exists (or the cut fails) instead of leaving them
    // to the ContextCleaner in a long-lived session.
    val cut1 = scope.seal(cutSpans(base, chunkSpans.unionByName(repSpans)))
    // the codepoint counts ride THROUGH the token-domain mask
    // (carryCols) instead of joining back onto the cut snapshot — one
    // exchange pair and one join fewer in the tail (r21)
    maskRepeatedSpans(
        cut1.select(col("doc_id"), col("clean_text"),
          col("n_spans").as("n_cp_spans"),
          col("n_removed").as("n_cp_removed")),
        "doc_id", "clean_text", spanN, spanMinDocs, xx = !md5Mode,
        carryCols = Seq("n_cp_spans", "n_cp_removed"))
      .select(col("doc_id"), col("clean_text"), col("n_cp_spans"),
        col("n_cp_removed"), col("n_tokens"),
        col("n_removed").as("n_tok_removed"))
  }

  /** EXACT maximal cross-document repeats of length >= `minLen` between
    * EXPLICIT candidate pairs — the certificate-scale ground truth for
    * [[longRepeats]]' probabilistic recall (q_repeat_recall, the
    * q_simhash_complete posture): every position is an anchor (an
    * exhaustive `minLen`-gram content join), so a verbatim repeat of
    * length `len >= minLen` yields a run of exactly `len - minLen + 1`
    * consecutive matches on ONE alignment diagonal `p_a - p_b`, and the
    * island reassembly recovers each maximal repeat EXACTLY — no anchor
    * probability, no bucket caps. Positions are 1-based codepoints
    * (both engines' `substring` counts codepoints — the WidthFold/CJK
    * parity), same output contract as [[longRepeats]].
    *
    * Joins on raw `minLen`-gram CONTENT and enumerates every position:
    * certificate-scale only. Call sites must thread
    * `Differential.guardCertScale` through `docs`.
    *
    * `pairs`: `(id_a, id_b)` to census. Output: `(id_a, id_b, start_a,
    * start_b, rep_len)`. */
  def exactRepeats(docs: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, minLen: Int = 40): DataFrame = {
    require(minLen >= 2, s"minLen >= 2, got $minLen")
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(col(idCol).cast("long").as("id"),
        col(textCol).cast("string").as("text"))
      .filter(col("id").isNotNull && col("text").isNotNull &&
        length(col("text")) >= minLen)
    // r21 rewrite: the former formulation exploded EVERY position's
    // minLen-codepoint substring (O(L·minLen) chars materialized per
    // document), persisted the gram frame and shuffled it into a
    // (id_b, gram)-keyed content self-join + diagonal-island window —
    // the r21 noop StageProfile read 30+ task-run-seconds across its
    // join stages per invocation. The pair set is BOUNDED (this is the
    // certificate operator; call sites thread guardCertScale), so the
    // same maximal-run set comes out of a per-PAIR diagonal scan: two
    // id-keyed joins attach the two texts, then a JVM kernel walks
    // every alignment diagonal and emits each maximal equal run
    // >= minLen — no gram materialization, no content shuffle, no
    // persist (the r20 twice-consumed-subtree problem disappears with
    // the self-join). EQUIVALENCE: a maximal equal run of length
    // len >= minLen on diagonal d is exactly a maximal island of
    // len - minLen + 1 consecutive matching minLen-grams on d, so the
    // emitted (start_a, start_b, rep_len) rows are identical to the
    // gram-join's groupBy output (LongRepeatSpec/DifferentialSpec pin
    // truth exactness). Construction stays job-free (lazy joins; the
    // spread probe runs no job) — guardCertScale raises at execution.
    // DISTINCT declared pairs, as before: a duplicated (id_a, id_b)
    // would duplicate every emitted run.
    val p = pairs.select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"))
      .distinct()
    val joined = p
      .join(base.select(col("id").as("id_a"), col("text").as("__ta")),
        Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("text").as("__tb")),
        Seq("id_b"))
      .select("id_a", "id_b", "__ta", "__tb")
    val ml = minLen
    // spread (guarded): the diagonal scans are the certificate's CPU
    // mass; placement is free (pure per-pair function)
    ScaleOps.spreadCpu(joined)
      .as[(Long, Long, String, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (ia, ib, ta, tb) =>
          diagonalRuns(ta, tb, ml).map { case (sa, sb, len) =>
            (ia, ib, sa, sb, len)
          }
        }
      }
      .toDF("id_a", "id_b", "start_a", "start_b", "rep_len")
  }

  /** All maximal equal codepoint runs of length >= `minLen` between two
    * texts, at any alignment — [[exactRepeats]]' per-pair kernel: for
    * each alignment diagonal, scan the overlap once, closing a run
    * where the characters differ or the texts end. Emits 1-based
    * codepoint `(start_a, start_b, len)` (both engines' `substring`
    * counts codepoints — the WidthFold/CJK parity). O(|a|·|b|) per
    * pair, certificate-scale by construction. */
  private[graft] def diagonalRuns(a: String, b: String,
      minLen: Int): Iterator[(Long, Long, Long)] = {
    val ca = a.codePoints().toArray
    val cb = b.codePoints().toArray
    val n = ca.length
    val m = cb.length
    if (n < minLen || m < minLen) Iterator.empty
    else {
      val out = Vector.newBuilder[(Long, Long, Long)]
      var d = -(m - 1)
      while (d <= n - 1) {
        var i = math.max(0, d)
        var j = i - d
        var runStart = -1
        while (i < n && j < m) {
          if (ca(i) == cb(j)) {
            if (runStart < 0) runStart = i
          } else {
            if (runStart >= 0 && i - runStart >= minLen)
              out += (((runStart + 1).toLong,
                (runStart - d + 1).toLong, (i - runStart).toLong))
            runStart = -1
          }
          i += 1; j += 1
        }
        if (runStart >= 0 && i - runStart >= minLen)
          out += (((runStart + 1).toLong,
            (runStart - d + 1).toLong, (i - runStart).toLong))
        d += 1
      }
      out.result().iterator
    }
  }

  /** The per-document chunk walk of [[cdcChunks]] — ONE definition
    * shared with the streaming operator
    * ([[graft.streaming.StreamCdc]]), so batch and stream boundaries
    * cannot drift: rolling hash over `window` codepoints with
    * [[cdcWeights]], boundary where `h % CdcMod % divisor == 0`, final
    * chunk always ends at text end. Emits `(chunk_idx (1-based), chunk,
    * n_cp)`; empty/null text emits nothing. */
  private[graft] def chunkWalk(text: String, w: Int, d: Int,
      g: Array[Long]): Iterator[(Int, String, Long)] = {
    if (text == null || text.isEmpty) Iterator.empty
    else {
      val cps = text.codePoints().toArray
      val n = cps.length
      val bounds = Vector.newBuilder[Int]
      // rolling update (O(1)/position instead of re-summing the w-term
      // window): h(i+1) ≡ 31·h(i) + cp_in − 31^w·cp_out (mod CdcMod),
      // kept in [0, CdcMod) so `hm` IS the windowed sum's `% CdcMod` at
      // every position — boundary decisions are bit-identical
      if (n >= w) {
        val gw = (g(w - 1) * CdcBase) % CdcMod
        var hm = 0L
        var j = 0
        while (j < w) { hm += cps(w - 1 - j) * g(j); j += 1 }
        hm %= CdcMod
        var i = w // 1-based position of the window's last codepoint
        var more = true
        while (more) {
          if (hm % d == 0L) bounds += i
          if (i < n) {
            hm = (hm * CdcBase + cps(i) +
              (CdcMod - (cps(i - w) * gw) % CdcMod)) % CdcMod
            i += 1
          } else more = false
        }
      }
      val bs = (bounds.result() :+ n).distinct
      var prev = 0
      bs.iterator.zipWithIndex.map { case (b, idx) =>
        val chunk = new String(cps, prev, b - prev)
        val out = (idx + 1, chunk, (b - prev).toLong)
        prev = b
        out
      }
    }
  }
}

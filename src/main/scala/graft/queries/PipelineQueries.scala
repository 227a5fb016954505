package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Exact._
import graft.operators.{AsOfJoin, Dedup, Similarity, Staging, TextAnalysis}

/** The [ext] LLM-data-pipeline and event-stream surface: text analysis,
  * deduplication, similarity search, multimodal plumbing, event windows,
  * sessionization, as-of join, JSON extraction.
  *
  * Queries whose semantics DuckDB can mirror get oracles; the remaining
  * hash/trained operators (SimHash, cosine-LSH, IVF/PQ, streaming state —
  * xxhash64 and trained models have no DuckDB equivalent) are declared
  * without oracle (rows-only gate) and verified against exact
  * recomputation in the ScalaTest suites instead (SURVEY §5.3). The
  * fingerprint and MinHash-family queries run their md5 modes, whose
  * every step DuckDB CAN replay — see q_text_fingerprint,
  * q_dedup_minhash/q_dedup_ngram/q_dedup_incremental.
  */
object PipelineQueries {

  /** q_text_cjk's planted multilingual suffix (unicode escapes here;
    * other constants below use literal CJK under build.sbt's pinned
    * -encoding UTF-8 — either way the decoded strings flow verbatim into
    * BOTH the Spark literal and the oracle SQL, so the two corpora
    * cannot drift):
    * zh "machine learning model training data." (10 han + ideographic
    * full stop — no inter-word whitespace), ja "hello world" (5 kana +
    * 2 kanji), ko "Korean text" (6 hangul syllables in 2 space-separated
    * words). */
  private val CjkZhSentence =
    "\u673a\u5668\u5b66\u4e60\u6a21\u578b\u8bad\u7ec3\u6570\u636e\u3002"
  private val CjkJaPhrase = "\u3053\u3093\u306b\u3061\u306f\u4e16\u754c"
  private val CjkKoPhrase =
    "\ud55c\uad6d\uc5b4 \ud14d\uc2a4\ud2b8"

  /** q_dedup_cjk's corpus transliteration: each lowercase letter maps to
    * a distinct Han codepoint (U+4E00..U+4E19) and the SPACE IS DELETED
    * (`translate` drops `from` chars beyond `to`'s length \u2014 the same
    * rule in Spark and DuckDB), turning the Latin corpus into a
    * no-inter-word-whitespace Han corpus that PRESERVES the original
    * near-duplicate structure at character level. */
  private val CjkTransFrom = "abcdefghijklmnopqrstuvwxyz "
  private val CjkTransTo: String =
    (0x4e00 until 0x4e1a).map(_.toChar).mkString

  /** q_text_langid_cjk's planted documents, each carrying its language's
    * [[graft.operators.TextAnalysis.langMarkers]] (zh: 是/的/了, ja:
    * の/です, ko: 입니다/그리고/에서) and NONE of the others'. Declared
    * before `all` (object-init order). */
  private val LangZhDoc = "这是好的模型了"
  private val LangJaDoc = "これはモデルのデータです"
  private val LangKoDoc = "모델입니다 그리고 데이터는 에서 온다"

  /** q_text_widthfold's planted suffix pieces (unicode escapes — the
    * half/full-width distinction is invisible in most fonts, so escapes
    * keep the plant auditable). Declared before `all` (object-init
    * order). The suffix exercises every fold class:
    *  - `WfPre`: ideographic space U+3000 + full-width Latin "MODEL" +
    *    U+3000 + full-width "No." (U+FF2E FF4F FF0E);
    *  - a per-doc 4-digit id in FULL-WIDTH digits ([[FwDigits]] via
    *    `translate` — both engines share the construction);
    *  - `WfMid`: full-width '!' + half-width katakana "nihongo"
    *    (U+FF86 FF8E FF9D FF7A + voiced mark FF9E) + half-width
    *    CJK-punctuation-quoted "pan" (U+FF62 FF8A + semi-voiced FF9F +
    *    FF9D FF61 FF63) + a phone number written entirely in full-width
    *    digits/hyphens (U+FF15... FF0D) that [[graft.operators
    *    .TextAnalysis.PhonePattern]] cannot see until folded;
    *  - `WfEnd`: full-width '!'. */
  private val WfPre =
    "\u3000\uFF2D\uFF2F\uFF24\uFF25\uFF2C\u3000\uFF2E\uFF4F\uFF0E"
  private val WfMid = "\uFF01 \uFF86\uFF8E\uFF9D\uFF7A\uFF9E " +
    "\uFF62\uFF8A\uFF9F\uFF9D\uFF61\uFF63 " +
    "\uFF15\uFF15\uFF15\uFF0D\uFF18\uFF16\uFF17\uFF0D"
  private val WfEnd = "\uFF01"
  private val FwDigits = (0xFF10 to 0xFF19).map(_.toChar).mkString

  val all: Seq[QueryDef] = Seq(

    // hourly tumbling-window aggregation over the event stream (batch form;
    // the streaming variant with watermark is in graft.streaming)
    QueryDef("q_events_hourly",
      (s, dir) => {
        Tables.events(s, dir)
          .groupBy(
            date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("w"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sv"))
          .orderBy("w", "event_type")
      },
      Some(s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS w, event_type, COUNT(*) AS n, ${dsumSql("value")} AS sv FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // sliding 1-hour windows every 15 minutes (each event lands in 4
    // windows); the streaming form with watermark is EventStreams.slidingAgg
    // — this batch form is the same operator, and the oracle replays the
    // window assignment as an explicit 4-offset expansion
    QueryDef("q_events_sliding",
      (s, dir) => {
        graft.streaming.EventStreams.slidingAgg(Tables.events(s, dir))
          .orderBy("w", "event_type")
      },
      Some("""SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS w, event_type, COUNT(*) AS n FROM (SELECT time_bucket(INTERVAL '15 minutes', ts) - j * INTERVAL '15 minutes' AS ws, event_type FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) t(j)) GROUP BY 1, 2 ORDER BY 1, 2""")),

    // streaming heavy hitters: per-event-type Misra-Gries top-user state
    // at ingest (batch execution = one invocation per key from empty
    // state). ORACLE-CHECKED since round 12: in batch mode the operator
    // sorts each key's rows by (epoch-millis, term) and runs ONE
    // sequential MG fold — fully deterministic — which DuckDB replays as
    // a list_reduce over the identically-ordered term list with the
    // summary serialized as a 'term:count|…' string (mgStep's exact
    // increment / insert-below-k / decrement-all-drop-zeros rule).
    // StreamingSpec still proves == driver reference, the n/(k+1)
    // guarantee, and 2-batch streaming == batch (the raw multi-batch
    // STREAMING summary stays merge-order-dependent and un-oracled —
    // that surface is covered by the guarantee specs and StreamingSpec's
    // horizon-eviction tests).
    QueryDef("q_stream_topterms",
      (s, dir) => {
        graft.streaming.StreamTopK.topTerms(
          Tables.events(s, dir), "event_type", "ts", "user_id",
          k = streamTopTermsK)
          .orderBy("gkey", "term")
      },
      Some(streamTopTermsOracleSql(k = streamTopTermsK))),

    // user-journey transition matrix: per-user time-ordered event pairs
    // (the Markov / next-action table product analytics builds); one
    // user-keyed window + one transition-keyed aggregate. (user_id, ts)
    // is unique in this data, so lead() is deterministic
    QueryDef("q_event_transitions",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts")
        Tables.events(s, dir)
          .select(col("user_id"), col("event_type"),
            lead("event_type", 1).over(w).as("next_type"))
          .filter(col("next_type").isNotNull)
          .groupBy("event_type", "next_type")
          .agg(count(lit(1)).as("n"))
          .orderBy("event_type", "next_type")
      },
      Some("""SELECT event_type, next_type, COUNT(*) AS n FROM (SELECT event_type, LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS next_type FROM events) WHERE next_type IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2""")),

    // stream-static enrichment: events decorated with customer segment
    // via a broadcast left join (the streaming form re-reads the dim per
    // micro-batch; batch/stream equivalence in StreamingSpec)
    QueryDef("q_events_enrich",
      (s, dir) => {
        val dim = Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
        graft.streaming.EventStreams
          .enrich(Tables.events(s, dir), dim, "user_id", "c_custkey")
          .groupBy(coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sv"))
          .orderBy("segment", "event_type")
      },
      Some(s"""SELECT COALESCE(c_mktsegment, 'UNKNOWN') AS segment, event_type, COUNT(*) AS n, ${dsumSql("value")} AS sv FROM events LEFT JOIN customer ON user_id = c_custkey GROUP BY 1, 2 ORDER BY 1, 2""")),

    // sessionization: 30-minute-gap sessions per user (gaps-and-islands)
    QueryDef("q_events_sessions",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, dir)
          .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(w))
          .withColumn("new_s",
            when(unix_millis(col("ts")) - col("prev_ms") > 30L * 60 * 1000, 1L)
              .otherwise(0L))
          .groupBy("user_id")
          .agg((sum("new_s") + 1).as("n_sessions"), count(lit(1)).as("n_events"))
          .orderBy("user_id")
      },
      Some("""WITH e AS (SELECT user_id, CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 30 * 60 * 1000 THEN 1 ELSE 0 END AS new_s FROM events) SELECT user_id, CAST(SUM(new_s) + 1 AS BIGINT) AS n_sessions, COUNT(*) AS n_events FROM e GROUP BY user_id ORDER BY user_id""")),

    // as-of join: each click gets its user's most recent prior purchase
    QueryDef("q_events_asof",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id").as("p_id"))
        AsOfJoin(clicks, purchases, Seq("user_id"), "ts", "ts",
          Map("p_event" -> "p_id"))
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"),
            col("p_event"))
          .orderBy("event_id")
      },
      Some("""SELECT a.event_id, a.user_id, strftime(a.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s, b.event_id AS p_event FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') a ASOF LEFT JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') b ON a.user_id = b.user_id AND a.ts >= b.ts ORDER BY a.event_id""")),

    // custom keyed state (flatMapGroupsWithState): first event per
    // (user, event_type); the batch execution of the same stateful
    // function is oracle-checked against a windowed row_number
    QueryDef("q_events_first",
      (s, dir) => {
        graft.streaming.EventStreams.firstPerKey(Tables.events(s, dir))
          .select(col("user_id"), col("event_type"), col("event_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"))
          .orderBy("user_id", "event_type")
      },
      Some("""SELECT user_id, event_type, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s FROM events QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1 ORDER BY user_id, event_type""")),

    // forward as-of join: each click gets its user's NEXT purchase
    QueryDef("q_events_asof_fwd",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id").as("p_id"))
        AsOfJoin.forward(clicks, purchases, Seq("user_id"), "ts", "ts",
          Map("next_p" -> "p_id"))
          .select(col("event_id"), col("user_id"), col("next_p"))
          .orderBy("event_id")
      },
      Some("""SELECT a.event_id, a.user_id, b.event_id AS next_p FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') a ASOF LEFT JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') b ON a.user_id = b.user_id AND a.ts <= b.ts ORDER BY a.event_id""")),

    // the same as-of joins through the dedicated Catalyst operator
    // (AsOfJoinNode -> AsOfJoinStrategy -> AsOfJoinExec): one hash-cluster
    // + sort per side, streaming single-candidate merge per partition
    QueryDef("q_events_asof_native",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id").as("p_id"))
        AsOfJoin.native(clicks, purchases, Seq("user_id"), "ts", "ts",
          Map("p_event" -> "p_id"))
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"),
            col("p_event"))
          .orderBy("event_id")
      },
      Some("""SELECT a.event_id, a.user_id, strftime(a.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s, b.event_id AS p_event FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') a ASOF LEFT JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') b ON a.user_id = b.user_id AND a.ts >= b.ts ORDER BY a.event_id""")),

    QueryDef("q_events_asof_native_fwd",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id").as("p_id"))
        AsOfJoin.native(clicks, purchases, Seq("user_id"), "ts", "ts",
          Map("next_p" -> "p_id"), forward = true)
          .select(col("event_id"), col("user_id"), col("next_p"))
          .orderBy("event_id")
      },
      Some("""SELECT a.event_id, a.user_id, b.event_id AS next_p FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') a ASOF LEFT JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') b ON a.user_id = b.user_id AND a.ts <= b.ts ORDER BY a.event_id""")),

    // stream-stream interval join in its batch form (same code path runs
    // on readStream inputs with bounded state; StreamingSpec asserts the
    // equivalence)
    QueryDef("q_events_ssjoin",
      (s, dir) => {
        graft.streaming.EventStreams.clickPurchaseJoin(Tables.events(s, dir))
          .select("click_id", "user_id", "purchase_id")
          .orderBy("click_id", "purchase_id")
      },
      Some("""SELECT c.event_id AS click_id, c.user_id, p.event_id AS purchase_id FROM events c JOIN events p ON c.event_type = 'click' AND p.event_type = 'purchase' AND c.user_id = p.user_id AND p.ts >= c.ts - INTERVAL 1 HOUR AND p.ts <= c.ts ORDER BY click_id, purchase_id""")),

    // bounded-state dedup (batch execution of the streaming operator):
    // double every event, dedup on event_id — duplicates are identical
    // rows, so the surviving exemplar is deterministic and oracle-able
    QueryDef("q_events_dedup",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select("event_id", "ts", "user_id", "event_type")
        graft.streaming.EventStreams
          .dedupWithinWatermark(ev.union(ev), Seq("event_id"))
          .select("event_id", "user_id", "event_type")
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, event_type FROM events ORDER BY event_id""")),

    // JSON property extraction
    QueryDef("q_events_json",
      (s, dir) => {
        Tables.events(s, dir)
          .select(col("event_id"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events ORDER BY event_id""")),

    // token counting + text statistics
    QueryDef("q_text_stats",
      (s, dir) => {
        Tables.documents(s, dir).select(
          col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          (length(regexp_replace(col("text"), "\\s+", "")).cast("double") /
            greatest(TextAnalysis.tokenCount(col("text")), lit(1L)))
            .as("mean_token_len"),
          (length(regexp_replace(col("text"), "[^A-Za-z]", "")) / length(col("text")))
            .cast("double").as("alpha_ratio"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0 ELSE LEN(string_split_regex(TRIM(text), '\s+')) END AS BIGINT) AS n_tokens, CAST(LENGTH(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) / GREATEST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0 ELSE LEN(string_split_regex(TRIM(text), '\s+')) END, 1) AS mean_token_len, CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) / LENGTH(text) AS DOUBLE) AS alpha_ratio FROM documents ORDER BY doc_id""")),

    // sequence packing: documents streamed in id order into 2048-token
    // training sequences; assignment = integer division of the exclusive
    // global token prefix (two-phase distributed prefix sum — no
    // single-partition window over the corpus)
    QueryDef("q_seq_pack",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(
          col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        graft.operators.Corpus.packSequences(docs, "doc_id", "n_tokens", 2048L)
          .select("doc_id", "n_tokens", "seq_id", "tok_offset")
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0 ELSE LEN(string_split_regex(TRIM(text), '\s+')) END AS BIGINT) AS n_tokens FROM documents), c AS (SELECT doc_id, n_tokens, SUM(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS pre FROM t) SELECT doc_id, n_tokens, CAST(pre // 2048 AS BIGINT) AS seq_id, CAST(pre % 2048 AS BIGINT) AS tok_offset FROM c ORDER BY doc_id""")),

    // retrieval chunking: overlapping 64-token windows every 48 tokens —
    // one narrow codegen'd pass (sequence + posexplode + slice), zero
    // shuffles; the oracle replays the identical window geometry
    QueryDef("q_doc_chunks",
      (s, dir) => {
        graft.operators.Corpus.chunkTokens(
          Tables.documents(s, dir), "doc_id", "text", size = 64, stride = 48)
          .orderBy("doc_id", "chunk_start")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS toks FROM documents), n AS (SELECT doc_id, toks, LEN(toks) AS n FROM t), s AS (SELECT doc_id, toks, n, UNNEST(generate_series(0, GREATEST(n - 1, 0), 48)) AS chunk_start FROM n) SELECT doc_id, CAST(chunk_start // 48 AS BIGINT) AS chunk_idx, CAST(chunk_start AS BIGINT) AS chunk_start, CAST(LEAST(64, n - chunk_start) AS BIGINT) AS chunk_len, array_to_string(list_slice(toks, chunk_start + 1, chunk_start + LEAST(64, n - chunk_start)), ' ') AS chunk_text FROM s ORDER BY doc_id, chunk_start""")),

    // CONTENT-DEFINED CHUNKING dedup (the FastCDC/rolling-hash family —
    // sub-document dedup that survives insertions, where fixed spans do
    // not): every document is cut where a rolling hash of the trailing
    // 8 codepoints hits 0 mod 32, chunks are grouped by exact content
    // across the corpus, and the duplicated ones (the shared-boilerplate
    // findings) come back with their occurrence/document counts. The
    // kernel is 8 integer multiply-adds mod 2^31-1 per position, which
    // the oracle spells as LAG terms over the codepoint sequence —
    // boundary choice, chunk extents, contents and counts all replayed,
    // so an off-by-one anywhere in the window, the modulus or the
    // backfill flips rows. Scale shape: one narrow chunking pass, one
    // chunk-keyed count shuffle (~bytes/32 rows); CdcSpec pins the
    // insertion-resynchronization property that justifies the operator.
    QueryDef("q_doc_cdc",
      (s, dir) => {
        val chunks = graft.operators.Corpus.cdcChunks(
          cdcOracleBoundGuard(Tables.documents(s, dir)), "doc_id", "text")
        chunks.groupBy(col("chunk"))
          .agg(count(lit(1)).as("n_occ"),
            count_distinct(col("id")).as("n_docs"),
            min(col("id")).as("first_doc"),
            min(col("n_cp")).as("n_cp"))
          .filter(col("n_occ") > 1)
          .select(md5(col("chunk")).as("chunk_hash"), col("n_cp"),
            col("n_occ"), col("n_docs"), col("first_doc"))
          .orderBy("chunk_hash")
      },
      Some(docCdcOracleSql)),

    // CDC-based shared-boilerplate REMOVAL (the scrub the chunk census
    // above exists for — the exact-substring cut at content-defined
    // granularity): chunks appearing in MORE THAN ONE document are
    // dropped from every document and the survivors reassembled in
    // order. Insertion-robust where fixed n-gram spans are
    // offset-fragile. One row per document survives (empty clean_text
    // when everything was shared). Oracle: the SAME chunk CTE chain as
    // q_doc_cdc + dup set + ordered string_agg reassembly + left-join
    // backfill.
    QueryDef("q_cdc_scrub",
      (s, dir) => {
        val chunks = graft.operators.Corpus.cdcChunks(
          cdcOracleBoundGuard(Tables.documents(s, dir)), "doc_id", "text")
        val dup = chunks.groupBy("chunk")
          .agg(count_distinct(col("id")).as("nd"))
          .filter(col("nd") > 1)
          .select("chunk")
        val kept = chunks.join(dup, Seq("chunk"), "left_anti")
        val re = kept.groupBy(col("id"))
          .agg(
            array_join(transform(
              array_sort(collect_list(struct(col("chunk_idx"),
                col("chunk")))),
              x => x.getField("chunk")), "").as("clean_text"),
            count(lit(1)).as("n_kept"))
        chunks.groupBy(col("id"))
          .agg(count(lit(1)).as("n_chunks"))
          .join(re, Seq("id"), "left")
          .select(col("id").as("doc_id"),
            coalesce(col("clean_text"), lit("")).as("clean_text"),
            col("n_chunks"),
            (col("n_chunks") - coalesce(col("n_kept"), lit(0L)))
              .as("n_removed"))
          .orderBy("doc_id")
      },
      Some(cdcScrubOracleSql)),

    // STREAMING CDC dedup (the r17-verdict wishlist item): the chunk
    // census as an ingest-time stateful operator — documents chunk at
    // content-defined boundaries (the SAME shared walk as q_doc_cdc:
    // Corpus.chunkWalk, one definition) and chunk-hash-keyed state
    // (constant-size per key: first_doc + count + last-activity) emits a
    // hit for every chunk instance whose content was already seen. Batch
    // execution is a pure function of arrival order whose output is
    // declarative — first arrival per content wins, n_prev = arrival
    // rank - 1 — so the oracle replays the shared CDC chunk CTEs plus
    // ONE window. Streaming == batch == this replay is pinned in
    // StreamingSpec; checkpoint stop/restart in CheckpointRecoverySpec.
    // Scale shape: one narrow chunking pass, one chunk-keyed shuffle
    // (~bytes/32 rows), state O(distinct chunks in horizon) with
    // watermark reclamation.
    QueryDef("q_stream_cdc",
      (s, dir) => {
        val docs = cdcOracleBoundGuard(Tables.documents(s, dir))
          .withColumn("ts",
            timestamp_micros((col("doc_id") + 10000L) * 1000000L))
        graft.streaming.StreamCdc
          .dupChunkHits(docs, "doc_id", "ts", "text", md5Mode = true)
          .select(col("doc_id"), col("cidx"), col("first_doc"),
            col("n_prev"))
          .orderBy("doc_id", "cidx", "first_doc")
      },
      Some(streamCdcOracleSql)),

    // PRODUCTION-KEY twin (r20): the census keys state on xxhash64; the
    // oracle ranks per chunk CONTENT, so the same SQL certifies the
    // production hash path hash-exactly (a 64-bit collision could only
    // merge two content partitions' arrival ranks — the md5 twins'
    // accepted philosophy, and it holds identically for both hashes).
    QueryDef("q_stream_cdc_xx",
      (s, dir) => {
        val docs = cdcOracleBoundGuard(Tables.documents(s, dir))
          .withColumn("ts",
            timestamp_micros((col("doc_id") + 10000L) * 1000000L))
        graft.streaming.StreamCdc
          .dupChunkHits(docs, "doc_id", "ts", "text", md5Mode = false)
          .select(col("doc_id"), col("cidx"), col("first_doc"),
            col("n_prev"))
          .orderBy("doc_id", "cidx", "first_doc")
      },
      Some(streamCdcOracleSql)),

    // STREAMING long-repeat candidate census (the r18-verdict item 5):
    // the anchor walk as a second stateful consumer of the shared
    // rolling-hash machinery — ingest-time candidate pairs for the
    // periodic batch extension job, the StreamCdc posture end to end
    // (shared walk definition, 8-byte seed-hash state key, constant-
    // size per-key state, star cap = the batch bucket cap, watermark
    // reclamation). Batch execution is declaratively replayable: the
    // oracle runs the shared anchor chain + one arrival-rank window.
    QueryDef("q_stream_repeats",
      (s, dir) => {
        val docs = cdcOracleBoundGuard(Tables.documents(s, dir))
          .withColumn("ts",
            timestamp_micros((col("doc_id") + 10000L) * 1000000L))
        graft.streaming.StreamRepeats
          .repeatCandidates(docs, "doc_id", "ts", "text", md5Mode = true)
          .select(col("doc_id"), col("s0"), col("first_doc"),
            col("first_s0"), col("rk"))
          .orderBy("doc_id", "s0", "first_doc")
      },
      Some(streamRepeatsOracleSql)),

    // PRODUCTION-KEY twin (r20): seed-hash state keys on xxhash64; the
    // oracle ranks per seed CONTENT — same SQL, hash-exact (collisions
    // can only fabricate CANDIDATES, and the batch extension re-reads
    // both texts before any span is cut).
    QueryDef("q_stream_repeats_xx",
      (s, dir) => {
        val docs = cdcOracleBoundGuard(Tables.documents(s, dir))
          .withColumn("ts",
            timestamp_micros((col("doc_id") + 10000L) * 1000000L))
        graft.streaming.StreamRepeats
          .repeatCandidates(docs, "doc_id", "ts", "text", md5Mode = false)
          .select(col("doc_id"), col("s0"), col("first_doc"),
            col("first_s0"), col("rk"))
          .orderBy("doc_id", "s0", "first_doc")
      },
      Some(streamRepeatsOracleSql)),

    // The COMPOSED census -> extension -> scrub row (the r19-verdict
    // item 1): the streaming census's candidate pairs feed the periodic
    // batch compaction job end to end — StreamRepeats.repeatCandidates
    // over the SAME planted corpus as q_repeat_scrub, then
    // Corpus.scrubFromCensus (seed re-verification kills 8-byte-hash
    // fabrications, shared extension tail, cutSpans island removal).
    // Over a horizon-complete census the composition equals
    // scrubLongRepeats EXACTLY, so the oracle is repeatScrubOracleSql
    // VERBATIM — shared text, the two paths cannot drift. Streaming
    // execution == this batch composition is pinned in StreamingSpec.
    QueryDef("q_stream_repeat_scrub",
      (s, dir) => {
        val planted = plantedRepeatDocs(Tables.documents(s, dir))
        val guarded = cdcOracleBoundGuard(planted)
        val cands = graft.streaming.StreamRepeats.repeatCandidates(
          guarded.withColumn("ts",
            timestamp_micros((col("doc_id") + 10000L) * 1000000L)),
          "doc_id", "ts", "text", md5Mode = true)
        graft.operators.Corpus
          .scrubFromCensus(guarded, "doc_id", "text", cands)
          .orderBy("doc_id")
      },
      Some(repeatScrubOracleSql)),

    // PRODUCTION-KEY twin of the composed row (the q_scrub_composite_xx
    // posture): the census keys state on xxhash64 instead of the md5
    // twin; the oracle is CONTENT-keyed (ranks per seed content, the
    // extension re-verifies seed text), so the same SQL certifies the
    // production hash path HASH-EXACTLY — an 8-byte collision could
    // only perturb a bucket's cap composition, and the seed
    // re-verification in scrubFromCensus means even that cannot
    // fabricate a cut.
    QueryDef("q_stream_repeat_scrub_xx",
      (s, dir) => {
        val planted = plantedRepeatDocs(Tables.documents(s, dir))
        val guarded = cdcOracleBoundGuard(planted)
        val cands = graft.streaming.StreamRepeats.repeatCandidates(
          guarded.withColumn("ts",
            timestamp_micros((col("doc_id") + 10000L) * 1000000L)),
          "doc_id", "ts", "text", md5Mode = false)
        graft.operators.Corpus
          .scrubFromCensus(guarded, "doc_id", "text", cands)
          .orderBy("doc_id")
      },
      Some(repeatScrubOracleSql)),

    // LONG-REPEAT detection at ARBITRARY alignment (the Lee-et-al
    // suffix-array cut's bucketed approximation — the r17-verdict item
    // closing the exact-substring tail): content-defined anchors
    // (divisor 16 — finer than the chunker's 32) seed candidate pairs
    // wherever two documents share a 16-codepoint anchor seed; each
    // candidate extends to the MAXIMAL equal run; runs >= 40 codepoints
    // are reported. The CONTRAST CORPUS plants a 48-char repeat into
    // both members of each (10j, 10j+1) doc pair at DIFFERENT offsets
    // (40 + doc_id % 13 — deliberately shifted alignments): 48 chars ~
    // 1.5 expected chunks, so many planted repeats contain NO full CDC
    // chunk (nothing for the q_doc_cdc census to share — the miss is
    // pinned in LongRepeatSpec) yet every one with an interior anchor
    // is caught here. The oracle replays planting, the anchor rolling
    // hash (LAG chain), seeds, the capped star pairs, and the maximal
    // extension (per-codepoint first-mismatch lookups against the cps
    // table). Scale shape: one seed-keyed shuffle with bucket-capped
    // star pairs (never quadratic), texts joined for CANDIDATES only.
    QueryDef("q_long_repeats",
      (s, dir) => {
        val planted = plantedRepeatDocs(Tables.documents(s, dir))
        graft.operators.Corpus.longRepeats(
            cdcOracleBoundGuard(planted), "doc_id", "text",
            md5Mode = true)
          .orderBy("id_a", "id_b", "start_a", "start_b")
      },
      Some(longRepeatsOracleSql)),

    // PRODUCTION-KEY twin (r20): seed buckets key on xxhash64; the
    // oracle pairs per seed CONTENT and the engine's candidate join
    // re-verifies seed_a === seed_b, so the same SQL certifies the
    // production hash path hash-exactly.
    QueryDef("q_long_repeats_xx",
      (s, dir) => {
        val planted = plantedRepeatDocs(Tables.documents(s, dir))
        graft.operators.Corpus.longRepeats(
            cdcOracleBoundGuard(planted), "doc_id", "text",
            md5Mode = false)
          .orderBy("id_a", "id_b", "start_a", "start_b")
      },
      Some(longRepeatsOracleSql)),

    // LONG-REPEAT REMOVAL (the Lee-et-al cut's removal step — the scrub
    // q_long_repeats' findings exist for): every reported repeat is cut
    // from its LATER copy (id_b; the first arrival keeps its text),
    // per-document spans merging as overlap-or-adjacent islands and the
    // survivors reassembling in order — the exact-substring twin of
    // q_cdc_scrub at arbitrary (not chunk) granularity. Oracle: the
    // SAME planted-corpus + repeat chain as q_long_repeats (shared
    // CTEs), then islands (running-max window), segment reassembly and
    // the untouched-doc backfill. One interval window + one doc-keyed
    // reassembly on top of the repeat pipeline's shuffles.
    QueryDef("q_repeat_scrub",
      (s, dir) => {
        val planted = plantedRepeatDocs(Tables.documents(s, dir))
        graft.operators.Corpus.scrubLongRepeats(
            cdcOracleBoundGuard(planted), "doc_id", "text",
            md5Mode = true)
          .orderBy("doc_id")
      },
      Some(repeatScrubOracleSql)),

    // PRODUCTION-KEY twin (r20): the one-shot scrub on xxhash64 seed
    // buckets — same content-keyed oracle, hash-exact (the
    // q_long_repeats_xx argument composed with the island cut).
    QueryDef("q_repeat_scrub_xx",
      (s, dir) => {
        val planted = plantedRepeatDocs(Tables.documents(s, dir))
        graft.operators.Corpus.scrubLongRepeats(
            cdcOracleBoundGuard(planted), "doc_id", "text",
            md5Mode = false)
          .orderBy("doc_id")
      },
      Some(repeatScrubOracleSql)),

    // LONG-REPEAT RECALL CERTIFICATE (the r18-verdict item): longRepeats'
    // detection is PROBABILISTIC — an anchor whose window+seed sits
    // inside the repeat fires with ~1/16 per position, so a repeat of
    // length L is caught with ~1-(15/16)^(L-15) — and q_long_repeats'
    // planted repeats are long enough to detect at ~1.0, so a silent
    // anchor-geometry regression that HALVED recall would keep it green.
    // This row pins measured recall >= a bound per planted length
    // against an EXACT ground truth (the q_simhash_complete posture).
    // Corpus: fully synthetic unique hex hosts (so no background repeat
    // can exist), pair-unique repeats at exactly L = minLen (40), 1.5x
    // (60) and 3x (120), per-pair alignments, NON-HEX sentinels framing
    // each splice so the maximal extension equals the planted span
    // exactly. Ground truth: Corpus.exactRepeats — an exhaustive
    // 40-gram content join (every position an anchor — exact, no
    // probability, no caps), Differential.guardCertScale'd; the output
    // carries n_truth/n_matched so the certificate PROVES its own
    // denominator (truth_exact = the census found exactly the planted
    // spans and nothing else). The corpus derives from doc_ids only, so
    // per-SF recall is deterministic — bounds sit under the measured
    // per-SF values AND the analytic expectation with wide margins
    // (sf0.01: measured 0.83/0.98/1.0; analytic 0.80/0.95/0.999; the
    // smallest fold sf0.001 measures 0.75/1.0/1.0 over 4-pair buckets).
    // Oracle: FULL replay — synthesis, the SHARED detection chain
    // (longRepeatChainSql), the exhaustive-gram truth and the
    // per-bucket aggregates.
    QueryDef("q_repeat_recall",
      (s, dir) => {
        import graft.operators.Corpus
        val bg = (0 until 7).map(k =>
          s"md5(CONCAT('rbg:', CAST(doc_id AS STRING), ':$k'))")
          .mkString("CONCAT(", ", ", ")")
        val repSrc = (0 until 4).map(k =>
          s"md5(CONCAT('rcl:', CAST(g AS STRING), ':$k'))")
          .mkString("CONCAT(", ", ", ")")
        // staged (r20 optimization round): the md5-chain planted corpus
        // feeds the pair table, the exactRepeats truth AND the
        // detection chain — as a bare plan it re-synthesized per branch
        val corpus = Staging.snapshot(
          Tables.documents(s, dir).select("doc_id")
          .selectExpr("doc_id", "doc_id div 4 AS g",
            "CAST(doc_id % 4 AS INT) AS role")
          .selectExpr("doc_id", "g", "role",
            "CASE CAST(g % 3 AS INT) WHEN 0 THEN 40 WHEN 1 THEN 60 " +
              "ELSE 120 END AS lrep",
            s"$bg AS bg")
          .selectExpr("doc_id", "g", "role", "lrep",
            s"substring($repSrc, 1, lrep) AS rep",
            "CASE role WHEN 2 THEN 11 + CAST(g % 7 AS INT) " +
              "WHEN 3 THEN 23 + CAST(g % 11 AS INT) ELSE NULL END AS off",
            "bg")
          .selectExpr("doc_id", "g", "role", "lrep", "off",
            "CASE WHEN role = 2 THEN CONCAT(substring(bg, 1, off - 1), " +
              "'<', rep, '>', substring(bg, off)) " +
              "WHEN role = 3 THEN CONCAT(substring(bg, 1, off - 1), " +
              "'[', rep, ']', substring(bg, off)) ELSE bg END AS text"))
        val pa = corpus.filter(col("role") === 2)
          .select(col("g"), col("doc_id").as("ida"),
            (col("off") + 1).as("pa"), col("lrep"))
        val pb = corpus.filter(col("role") === 3)
          .select(col("g"), col("doc_id").as("idb"),
            (col("off") + 1).as("pb"))
        val pairsT = pa.join(pb, "g")
        val guarded = graft.queries.Differential.guardCertScale(
          corpus.filter(col("role").isin(2, 3)).select("doc_id", "text"),
          "exactRepeats (q_repeat_recall)")
        val truth = Corpus.exactRepeats(guarded, "doc_id", "text",
          pairsT.select(col("ida").as("id_a"), col("idb").as("id_b")))
        val truthAgg = pairsT
          .join(truth, truth("id_a") === pairsT("ida") &&
            truth("id_b") === pairsT("idb"), "left")
          .groupBy("lrep", "g")
          .agg(
            sum(when(truth("id_a").isNotNull, 1L).otherwise(0L))
              .as("n_truth_p"),
            sum(when(truth("start_a") === col("pa") &&
              truth("start_b") === col("pb") &&
              truth("rep_len") === col("lrep"), 1L).otherwise(0L))
              .as("n_match_p"))
        val det = Corpus.longRepeats(
          cdcOracleBoundGuard(corpus.select("doc_id", "text")),
          "doc_id", "text", md5Mode = true)
        val hitAgg = pairsT
          .join(det, det("id_a") === pairsT("ida") &&
            det("id_b") === pairsT("idb") &&
            det("start_a") <= col("pa") &&
            (det("start_a") + det("rep_len")) >= (col("pa") + col("lrep")) &&
            det("start_b") <= col("pb") &&
            (det("start_b") + det("rep_len")) >= (col("pb") + col("lrep")),
            "left")
          .groupBy("lrep", "g")
          .agg(max(when(det("id_a").isNotNull, 1L).otherwise(0L)).as("hit"))
        truthAgg.join(hitAgg, Seq("lrep", "g"))
          .groupBy("lrep")
          .agg(count(lit(1)).as("n_pairs"),
            sum("n_truth_p").as("n_truth"),
            sum("n_match_p").as("n_matched"),
            sum("hit").as("n_detected"))
          .withColumn("recall",
            col("n_detected").cast("double") / col("n_pairs").cast("double"))
          .withColumn("bound",
            when(col("lrep") === 40, lit(0.5))
              .when(col("lrep") === 60, lit(0.8)).otherwise(lit(0.95)))
          .select(col("lrep"), col("n_pairs"), col("n_truth"),
            col("n_matched"),
            (col("n_truth") === col("n_pairs") &&
              col("n_matched") === col("n_pairs")).as("truth_exact"),
            col("n_detected"),
            (floor(col("recall") * 1e6d + 0.5d) / 1e6d).as("recall_r"),
            col("bound").as("bound_r"),
            (col("recall") >= col("bound")).as("recall_ok"))
          .orderBy("lrep")
      },
      Some(repeatRecallOracleSql)),

    // SCRUB-COMPOSITE FLANK-RECALL CERTIFICATE (the r19-verdict item 2):
    // scrubComposite's hot-region anchor cut trades recall for repeats
    // FLANKING duplicated boilerplate — documented since r19, never
    // measured. The planted matrix: EVERY doc carries one global 192-cp
    // HOT segment (maximal heat — all its interior chunks are census-
    // duplicated, so the anchor cut fires everywhere around it);
    // pair-unique flanks of L = 40/60/120 sit immediately LEFT of HOT,
    // sentinel-framed, so each pair's maximal shared run is exactly
    // flank||HOT and only FLANK-region anchors (pair-unique seeds) can
    // catch it. Ground truth: exactRepeats on the ORIGINALS proves the
    // geometry (one run per pair, exact span — the q_repeat_recall
    // truth_exact posture). The measured contract is END-TO-END: a pair
    // fails iff its two scrubbed clean_texts still share ANY
    // >= 40-codepoint run (exactRepeats on the CLEANED texts — census
    // fragments that reassemble into a shared run count as failures
    // too). recall per flank length pinned >= bound.
    QueryDef("q_scrub_recall",
      (s, dir) => {
        import graft.operators.Corpus
        val hot = (0 until 6).map(k => s"md5('hotseg:$k')")
          .mkString("CONCAT(", ", ", ")")
        val fl = (0 until 4).map(k =>
          s"md5(CONCAT('fl:', CAST(g AS STRING), ':$k'))")
          .mkString("CONCAT(", ", ", ")")
        val pre3 = (0 until 3).map(k =>
          s"md5(CONCAT('sra:', CAST(doc_id AS STRING), ':$k'))")
          .mkString("CONCAT(", ", ", ")")
        val suf3 = (0 until 3).map(k =>
          s"md5(CONCAT('srb:', CAST(doc_id AS STRING), ':$k'))")
          .mkString("CONCAT(", ", ", ")")
        // staged (r20 optimization round): the md5-chain planted corpus
        // feeds FOUR branches (pair table, exactRepeats truth, the
        // scrub composite, and through it the residual census) — as a
        // bare plan the synthesis CTE re-executed per branch
        val corpus = Staging.snapshot(
          Tables.documents(s, dir).select("doc_id")
          .selectExpr("doc_id", "doc_id div 2 AS g",
            "CAST(doc_id % 2 AS INT) AS role")
          .selectExpr("doc_id", "g", "role",
            "CASE CAST(g % 3 AS INT) WHEN 0 THEN 40 WHEN 1 THEN 60 " +
              "ELSE 120 END AS lrep")
          .selectExpr("doc_id", "g", "role", "lrep",
            s"substring($fl, 1, lrep) AS flank",
            s"CASE role WHEN 0 THEN substring($pre3, 1, 96) " +
              s"ELSE substring($pre3, 1, 80 + CAST(g % 7 AS INT)) END AS pre",
            s"substring($suf3, 1, 96) AS suf", s"$hot AS hot")
          .selectExpr("doc_id", "g", "role", "lrep",
            "CONCAT(pre, CASE role WHEN 0 THEN '<' ELSE '[' END, flank, " +
              "hot, CASE role WHEN 0 THEN '>' ELSE ']' END, suf) AS text"))
        val pa = corpus.filter(col("role") === 0)
          .select(col("g"), col("lrep"), col("doc_id").as("ida"),
            lit(98).as("pa"))
        val pb = corpus.filter(col("role") === 1)
          .select(col("g"), col("doc_id").as("idb"),
            (lit(82) + (col("g") % 7).cast("int")).as("pb"))
        val pairsT = pa.join(pb, "g")
        val pairIds = pairsT.select(col("ida").as("id_a"),
          col("idb").as("id_b"))
        val truth = Corpus.exactRepeats(
          graft.queries.Differential.guardCertScale(
            corpus.select("doc_id", "text"),
            "exactRepeats (q_scrub_recall truth)"),
          "doc_id", "text", pairIds)
        val truthAgg = pairsT
          .join(truth, truth("id_a") === pairsT("ida") &&
            truth("id_b") === pairsT("idb"), "left")
          .groupBy("lrep", "g")
          .agg(
            sum(when(truth("id_a").isNotNull, 1L).otherwise(0L))
              .as("n_truth_p"),
            sum(when(truth("start_a") === col("pa") &&
              truth("start_b") === col("pb") &&
              truth("rep_len") === (col("lrep") + 192L), 1L)
              .otherwise(0L)).as("n_match_p"))
        val clean = Corpus.scrubComposite(
          cdcOracleBoundGuard(corpus.select("doc_id", "text")),
          "doc_id", "text", md5Mode = true)
        val resid = Corpus.exactRepeats(
          graft.queries.Differential.guardCertScale(
            clean.select("doc_id", "clean_text"),
            "exactRepeats (q_scrub_recall residual)"),
          "doc_id", "clean_text", pairIds)
        val residAgg = pairsT
          .join(resid, resid("id_a") === pairsT("ida") &&
            resid("id_b") === pairsT("idb"), "left")
          .groupBy("lrep", "g")
          .agg(max(when(resid("id_a").isNotNull, 1L).otherwise(0L))
            .as("resid"))
        truthAgg.join(residAgg, Seq("lrep", "g"))
          .groupBy("lrep")
          .agg(count(lit(1)).as("n_pairs"),
            sum("n_truth_p").as("n_truth"),
            sum("n_match_p").as("n_matched"),
            sum("resid").as("n_resid"))
          .withColumn("recall", lit(1.0d) -
            col("n_resid").cast("double") / col("n_pairs").cast("double"))
          .withColumn("bound",
            when(col("lrep") === 40, lit(0.8))
              .when(col("lrep") === 60, lit(0.9)).otherwise(lit(0.98)))
          .select(col("lrep"), col("n_pairs"), col("n_truth"),
            col("n_matched"),
            (col("n_truth") === col("n_pairs") &&
              col("n_matched") === col("n_pairs")).as("truth_exact"),
            col("n_resid"),
            (floor(col("recall") * 1e6d + 0.5d) / 1e6d).as("recall_r"),
            col("bound").as("bound_r"),
            (col("recall") >= col("bound")).as("recall_ok"))
          .orderBy("lrep")
      },
      Some(scrubRecallOracleSql)),

    // UNIFIED exact-substring scrub (the r18-verdict composite): the
    // three removers — CDC chunk dedup, arbitrary-alignment long
    // repeats, token-domain 8-gram spans — as ONE pass hierarchy
    // instead of three serial full-corpus rewrites. One fused hash walk
    // feeds BOTH the chunk census and the anchors (censusWalk — each
    // standalone operator re-hashes every position); anchors whose seed
    // sits inside a to-be-removed duplicated chunk are cut BEFORE the
    // seed shuffle (extend only where the census is cold); chunk spans
    // and repeat spans island-merge into ONE reassembly; the 8-gram
    // token cut runs last on the codepoint-clean text. md5 twin keys
    // throughout, so the oracle replays all six stages end to end.
    QueryDef("q_scrub_composite",
      (s, dir) => {
        graft.operators.Corpus.scrubComposite(
            cdcOracleBoundGuard(Tables.documents(s, dir)),
            "doc_id", "text", md5Mode = true)
          .orderBy("doc_id")
      },
      Some(scrubCompositeOracleSql)),

    // the PRODUCTION key posture of the unified scrub: every hash key
    // (chunk census, anchor buckets, token spans) on xxhash64 instead
    // of the md5 twins — the narrow-shuffle keys a 100 TB run uses
    // (the q_span_scrub_xx / q_dedup_minhash_xx convention). The oracle
    // is CONTENT-keyed throughout, so both modes share it verbatim:
    // hash keys only group/rank, and two keys merge or re-rank only on
    // a 64-bit collision — absent on any real corpus, the md5 twins'
    // accepted philosophy. The production mode therefore gets a
    // hash-exact oracle, not a certificate.
    QueryDef("q_scrub_composite_xx",
      (s, dir) => {
        graft.operators.Corpus.scrubComposite(
            cdcOracleBoundGuard(Tables.documents(s, dir)),
            "doc_id", "text", md5Mode = false)
          .orderBy("doc_id")
      },
      Some(scrubCompositeOracleSql)),

    // robots.txt COMPLIANCE FILTER (RFC 9309) — the crawl-side gate
    // before any URL is fetched or kept: per-host robots bodies are
    // parsed relationally (line explode -> comment strip -> field
    // classify -> user-agent-run group islands via window functions),
    // the crawler's group is selected (named group if present, else *,
    // else no rules), and every URL gets the most-specific-rule verdict
    // (longest pattern wins, Allow beats Disallow on ties, * wildcards
    // and trailing-$ anchors via LIKE with an explicit escape). The
    // synthesis plants every semantic: a named graftbot group shadowing
    // a deny-all * group (group selection), an Allow overriding a
    // shorter Disallow (longest-match + tie direction), /*.tmp$ (both
    // wildcard and anchor — .tmpx survives), wildcard-only hosts
    // (fallback), and robots-less hosts (allowed). The oracle replays
    // parse, grouping, compilation and verdict relationally. Scale
    // shape: the verdict is computed once per DISTINCT (host, path)
    // against the (small) rule table and joined back to the URL mass.
    QueryDef("q_robots_filter",
      (s, dir) => {
        import graft.operators.Robots
        val docs = Tables.documents(s, dir)
        val nl = "\n"
        val crlf = "\r\n" // the wildcard-only hosts ship CRLF (RFC 9309)
        val hosts = docs.select((col("doc_id") % 20).as("k")).distinct()
          .filter(col("k") < 15)
          .select(
            concat(lit("h"), col("k"), lit(".example")).as("host"),
            when(col("k") % 5 === 4,
              concat(lit("User-agent: *" + crlf + "Disallow: /private"),
                col("k"), lit("/" + crlf)))
              .otherwise(concat(
                lit("# crawl policy" + nl + "User-agent: graftbot" + nl +
                  "Disallow: /private"),
                col("k"), lit("/" + nl + "Allow: /private"),
                col("k"),
                lit("/pub/" + nl + "Disallow: /*.tmp$" + nl + nl +
                  "User-agent: *" + nl + "Disallow: /" + nl)))
              .as("robots"))
        val urls = docs.select(col("doc_id"), (col("doc_id") % 20).as("k"))
          .select(col("doc_id"),
            concat(lit("h"), col("k"), lit(".example")).as("host"),
            explode(array(
              lit("/"),
              concat(lit("/private"), col("k"), lit("/pub/page"),
                col("doc_id")),
              concat(lit("/private"), col("k"), lit("/x"), col("doc_id")),
              concat(lit("/files/f"), col("doc_id"), lit(".tmp")),
              concat(lit("/files/f"), col("doc_id"), lit(".tmpx"))))
              .as("path"))
        // spread (guarded) the exploded URL mass before the verdict join:
        // the LIKE-pattern verdict + join-back ran behind the 1-split
        // scan (1.5 task-run-s over 12 tasks, r21 noop StageProfile);
        // verdicts are keyed per (host, path) — placement-free
        Robots.filterUrls(graft.operators.ScaleOps.spreadCpu(urls),
            Robots.parseRules(hosts, "host", "robots"),
            "GraftBot", "host", "path")
          .select(col("doc_id"), col("path"), col("allowed"),
            col("matched"))
          .orderBy("doc_id", "path")
      },
      Some(robotsFilterOracleSql)),

    // WebDataset tar-shard round-trip: pack documents into .tar shards
    // (one task per shard), walk them back with the pure-JVM ustar
    // reader, and prove byte fidelity — the oracle reads the ORIGINAL
    // table, so a hash match certifies the full pack/unpack cycle
    // Avro OCF round-trip: the ingestion-format twin of the CSV/JSON/ORC
    // rows, but with NO connector jar — sources/AvroFiles is a
    // self-contained container walk on the core avro library (binaryFile
    // + DataFileStream read, Hadoop-FS one-container-per-task write,
    // per-file quarantine). Write a typed slice of documents (nullable
    // string + two longs) to deflate-coded containers, read it back by
    // name, aggregate; the oracle recomputes the same aggregate from the
    // parquet table — a value-identity check on the full round-trip.
    QueryDef("q_avro_roundtrip",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val out = Tables.scratchPath("avro_rt", dir)
        graft.sources.AvroFiles.write(
          Tables.documents(s, dir).select("doc_id", "source", "lang",
            "n_chars"), out)
        val schema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("source", StringType),
          StructField("lang", StringType),
          StructField("n_chars", LongType)))
        val back = graft.sources.AvroFiles.read(s, out, schema)
        back.filter(col("error").isNull)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("chars_sum"),
            min("doc_id").as("first_doc"),
            count_distinct(col("lang")).as("n_langs"))
          .orderBy("source")
      },
      Some("""SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars_sum, MIN(doc_id) AS first_doc, COUNT(DISTINCT lang) AS n_langs FROM documents GROUP BY source ORDER BY source""")),

    // avro logical + nested types round-trip (the r16 type-matrix
    // extension): per order, a timestamp, a date, an exact decimal built
    // from a STRING (decimal-from-double rounding is not engine-portable;
    // string-to-decimal is), the order's lineitem-number array (NULL for
    // o_orderkey % 13 = 0 — nullable arrays are part of the matrix, and
    // TPC-H gives every order lineitems so nulls must be planted), a
    // nested (status, custkey) record, and a string-keyed map — written
    // to OCF containers and read back through the by-name walk. The
    // aggregate then consumes every value THROUGH the round-trip (group
    // key from inside the nested record, sums over the array CONTENTS,
    // map lookups, formatted date/timestamp extremes, decimal sum cast
    // to double per the dsum compare convention); the oracle recomputes
    // the identical aggregate from the parquet base tables, so any
    // corruption anywhere in the container walk flips the row.
    QueryDef("q_avro_nested",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val out = Tables.scratchPath("avro_nested", dir)
        val lineAgg = Tables.lineitem(s, dir)
          .groupBy(col("l_orderkey"))
          .agg(sort_array(collect_list(col("l_linenumber"))).as("lines0"))
        val nested = Tables.orders(s, dir)
          .join(lineAgg, col("o_orderkey") === col("l_orderkey"), "left")
          // one container per TASK: the small-SF scan is 1-2 partitions,
          // which serializes the deflate encode behind one task — spread
          // it (the "size your partitions, not your cluster" rule the
          // writer's scaladoc states, applied). Row placement does not
          // affect the read-back aggregate. The spread sits BELOW the
          // nested-field assembly so the struct/map/decimal construction
          // runs wide too (it was a 0.75 s single task, StageProfile r20).
          .repartition(s.sparkContext.defaultParallelism)
          .select(
            col("o_orderkey"),
            col("o_orderdate").as("ots"),
            col("o_orderdate").cast("date").as("odate"),
            concat((col("o_orderkey") % 1000).cast("string"), lit(".25"))
              .cast("decimal(12,2)").as("price_dec"),
            when(col("o_orderkey") % 13 === 0, lit(null))
              .otherwise(coalesce(col("lines0"),
                array().cast("array<int>"))).as("lines"),
            struct(col("o_orderstatus").as("status"),
              col("o_custkey").as("custkey")).as("meta"),
            map(lit("ck"), col("o_custkey")).as("m"))
        graft.sources.AvroFiles.write(nested, out)
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("ots", TimestampNTZType),
          StructField("odate", DateType),
          StructField("price_dec", DecimalType(12, 2)),
          StructField("lines", ArrayType(IntegerType)),
          StructField("meta", StructType(Seq(
            StructField("status", StringType),
            StructField("custkey", LongType)))),
          StructField("m", MapType(StringType, LongType))))
        graft.sources.AvroFiles.read(s, out, schema)
          .filter(col("error").isNull)
          .groupBy(col("meta.status").as("status"))
          .agg(
            count(lit(1)).as("n_orders"),
            sum(col("price_dec")).cast("double").as("price_sum"),
            date_format(min(col("odate")), "yyyy-MM-dd").as("first_date"),
            date_format(max(col("ots")), "yyyy-MM-dd HH:mm:ss").as("last_ts"),
            // size(NULL) is -1 under this session's non-ANSI legacy
            // semantics — guard so null arrays are SKIPPED like the
            // oracle's SUM over NULL, not counted as -1
            sum(when(col("lines").isNotNull, size(col("lines"))))
              .as("n_lines"),
            sum(aggregate(col("lines"), lit(0L), (a, x) => a + x))
              .as("lines_sum"),
            min(element_at(col("m"), lit("ck"))).as("ck_min"))
          .orderBy("status")
      },
      Some("""WITH la AS (SELECT l_orderkey, COUNT(*) AS n_l, SUM(l_linenumber) AS s_l FROM lineitem GROUP BY 1), j AS (SELECT o.o_orderkey, o.o_orderstatus AS status, o.o_custkey, o.o_orderdate, CAST(CAST(o.o_orderkey % 1000 AS VARCHAR) || '.25' AS DECIMAL(12,2)) AS price_dec, CASE WHEN o.o_orderkey % 13 = 0 THEN NULL ELSE COALESCE(la.n_l, 0) END AS n_l, CASE WHEN o.o_orderkey % 13 = 0 THEN NULL ELSE COALESCE(la.s_l, 0) END AS s_l FROM orders o LEFT JOIN la ON o.o_orderkey = la.l_orderkey) SELECT status, COUNT(*) AS n_orders, CAST(SUM(price_dec) AS DOUBLE) AS price_sum, strftime(MIN(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS first_date, strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') AS last_ts, CAST(SUM(n_l) AS BIGINT) AS n_lines, CAST(SUM(s_l) AS BIGINT) AS lines_sum, MIN(o_custkey) AS ck_min FROM j GROUP BY status ORDER BY status""")),

    // length-prefixed protobuf round-trip (the event-log ingestion
    // framing): documents encoded as [varint len][message] records —
    // nested (lang, n_chars) message, repeated sig field, field numbers
    // by position — written via the temp+rename task commit and read
    // back through the delimited walk. The aggregate consumes every
    // value THROUGH the round-trip (nested field group-bys and sums,
    // repeated-element sum); the oracle recomputes from parquet, so a
    // varint/framing/nesting bug anywhere flips the row.
    QueryDef("q_proto_roundtrip",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val out = Tables.scratchPath("proto_rt", dir)
        graft.sources.ProtoFiles.write(
          Tables.documents(s, dir).select(
            col("doc_id"),
            col("source"),
            struct(col("lang"), col("n_chars")).as("meta"),
            array(col("n_chars"), col("doc_id") % 7).as("sig")), out)
        val schema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("source", StringType),
          StructField("meta", StructType(Seq(
            StructField("lang", StringType),
            StructField("n_chars", LongType)))),
          StructField("sig", ArrayType(LongType))))
        graft.sources.ProtoFiles.read(s, out, schema)
          .filter(col("error").isNull)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("meta.n_chars")).as("chars_sum"),
            min("doc_id").as("first_doc"),
            count_distinct(col("meta.lang")).as("n_langs"),
            sum(element_at(col("sig"), 2)).as("mod_sum"))
          .orderBy("source")
      },
      Some("""SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars_sum, MIN(doc_id) AS first_doc, COUNT(DISTINCT lang) AS n_langs, CAST(SUM(doc_id % 7) AS BIGINT) AS mod_sum FROM documents GROUP BY source ORDER BY source""")),

    // WARC/WET round-trip (the web-crawl ingestion container): documents
    // as WARC-Type: conversion records — real ISO-28500 bytes, one gzip
    // member PER RECORD (the Common Crawl record-splittable layout) —
    // written via the temp+rename commit and read back through the
    // header walk (case-insensitive, Content-Length framed, so CRLFCRLF
    // inside a body cannot split a record). Value identity on the full
    // text through the container; the oracle reads the ORIGINAL table,
    // so the hash match certifies pack/unpack byte fidelity (the
    // q_tar_roundtrip discipline).
    QueryDef("q_warc_roundtrip",
      (s, dir) => {
        val out = Tables.scratchPath("warc_rt", dir)
        graft.sources.WarcFiles.write(
          Tables.documents(s, dir).select(
            concat(lit("http://corpus.example/doc/"), col("doc_id"))
              .as("url"),
            lit("conversion").as("rtype"),
            lit("2026-01-01T00:00:00Z").as("date"),
            col("text").cast("binary").as("payload"))
            // one warc file per task; spread the gzip encode (the
            // q_avro_nested partition-sizing lesson)
            .repartition(s.sparkContext.defaultParallelism), out)
        graft.sources.WarcFiles.read(s, out)
          .filter(col("error").isNull && col("warc_type") === "conversion")
          .select(
            substring_index(col("url"), "/", -1).cast("long").as("doc_id"),
            col("payload").cast("string").as("text_out"))
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, text AS text_out FROM documents ORDER BY doc_id")),

    // crawl-container -> curation end-to-end: documents packed as WET
    // conversion records (per-record gzip members), read back through
    // the WARC walk, and fed STRAIGHT into the quality + PII gate — the
    // ingest shape of a real crawl pipeline (fetchers write containers;
    // curation reads them, never the fetcher's memory). The oracle
    // replays the gate over the ORIGINAL table: the hash match
    // certifies both the container byte-fidelity AND the gate in one
    // row, so a walk bug that flips a single text byte flips a quality
    // ratio downstream.
    QueryDef("q_warc_curation",
      (s, dir) => {
        val out = Tables.scratchPath("warc_cur", dir)
        graft.sources.WarcFiles.write(
          Tables.documents(s, dir).select(
            concat(lit("http://corpus.example/doc/"), col("doc_id"))
              .as("url"),
            lit("conversion").as("rtype"),
            lit("2026-01-01T00:00:00Z").as("date"),
            col("text").cast("binary").as("payload"))
            .repartition(s.sparkContext.defaultParallelism), out)
        val docs = graft.sources.WarcFiles.read(s, out)
          .filter(col("error").isNull && col("warc_type") === "conversion")
          .select(
            substring_index(col("url"), "/", -1).cast("long").as("doc_id"),
            col("payload").cast("string").as("text"))
        graft.streaming.StreamCurate.gate(docs, "text",
            TextAnalysis.GopherConfig(minWords = 25L, maxWords = 80L,
              minMeanWordLen = 3.0, maxMeanWordLen = 5.0,
              minStopwordHits = 1))
          .select(col("doc_id"), col("quality_pass"), col("n_pii"))
          .orderBy("doc_id")
      },
      Some(warcCurationOracleSql)),

    // Dolma-format ingest -> curation end-to-end (q_warc_curation's
    // twin over the format public corpora actually ship): documents
    // packed as zstd-JSONL shards, read back through the frame walk +
    // from_json, fed STRAIGHT into the quality + PII gate. Same oracle
    // as the WARC path (it replays the gate over the ORIGINAL table),
    // so the hash match certifies container byte-fidelity AND the gate
    // in one row — a single flipped byte in zstd framing, JSON escape
    // round-trip, or the parse chain flips a quality ratio downstream.
    QueryDef("q_jsonl_curation",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val out = Tables.scratchPath("jsonl_cur", dir)
        graft.sources.JsonlZstd.write(
          Tables.documents(s, dir).select(col("doc_id"), col("text"))
            .repartition(s.sparkContext.defaultParallelism), out)
        val schema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("text", StringType)))
        val docs = graft.sources.JsonlZstd.read(s, out, schema)
          .filter(col("error").isNull)
          .select(col("doc_id"), col("text"))
        graft.streaming.StreamCurate.gate(docs, "text",
            TextAnalysis.GopherConfig(minWords = 25L, maxWords = 80L,
              minMeanWordLen = 3.0, maxMeanWordLen = 5.0,
              minStopwordHits = 1))
          .select(col("doc_id"), col("quality_pass"), col("n_pii"))
          .orderBy("doc_id")
      },
      Some(warcCurationOracleSql)),

    QueryDef("q_tar_roundtrip",
      (s, dir) => {
        val out = Tables.scratchPath("tar_rt", dir)
        graft.sources.TarShards.writeShards(
          Tables.documents(s, dir).select(
            (col("doc_id") % 20).as("shard"),
            concat(col("doc_id"), lit(".txt")).as("member"),
            col("text").cast("binary").as("bytes")),
          "shard", "member", "bytes", out)
        graft.sources.TarShards.members(s, out)
          .filter(col("error").isNull)
          .select(
            substring_index(col("member"), ".", 1).cast("long").as("doc_id"),
            col("bytes").cast("string").as("text_out"))
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, text AS text_out FROM documents ORDER BY doc_id")),

    // Schema-evolution read (the lakehouse column-add migration): two
    // parquet generations of the corpus — gen=1 without `lang`, gen=2
    // with it — land under one root; `mergeSchema` + partition discovery
    // must present one unified frame where gen-1 rows carry NULL lang
    // and the `gen` directory key becomes a column. The oracle
    // re-derives the merged aggregate from the source table (the
    // q_tar_roundtrip identity pattern). At scale the mergeSchema footer
    // sweep is the cost knob — production layouts pin one schema per
    // partition directory exactly as written here.
    QueryDef("q_schema_evolution",
      (s, dir) => {
        val out = Tables.scratchPath("schema_evo", dir)
        val docs = Tables.documents(s, dir)
        docs.filter(pmod(col("doc_id"), lit(2)) === 0)
          .select("doc_id", "source", "n_chars")
          .write.mode("overwrite").parquet(s"$out/gen=1")
        docs.filter(pmod(col("doc_id"), lit(2)) === 1)
          .select("doc_id", "source", "n_chars", "lang")
          .write.mode("overwrite").parquet(s"$out/gen=2")
        s.read.option("mergeSchema", "true").parquet(out)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            count(col("lang")).as("n_with_lang"),
            sum(when(col("gen") === 1, 1L).otherwise(0L)).as("n_gen1"),
            graft.functions.Exact.dsum(col("n_chars").cast("double"))
              .as("chars_total"))
          .orderBy("source")
      },
      Some(s"""SELECT source, COUNT(*) AS n_docs, COUNT(CASE WHEN doc_id % 2 = 1 THEN lang END) AS n_with_lang, CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gen1, ${dsumSql("CAST(n_chars AS DOUBLE)")} AS chars_total FROM documents GROUP BY source ORDER BY source""")),

    // zstd-JSONL round-trip (the public-corpus interchange format —
    // Dolma/RedPajama/FineWeb all ship `*.jsonl.zst`): documents in the
    // Dolma object shape (id, text, nested metadata, source), written
    // one zstd frame per task via the rename-first commit, read back
    // through the streaming frame walk + from_json. Value identity on
    // the FULL text and the nested metadata against the original table
    // (the q_tar_roundtrip discipline), so a single flipped byte
    // anywhere in codec, framing, or JSON escape round-trip flips the
    // hash. The JSON encode/decode never leaves Catalyst codegen; the
    // task loop only moves bytes through the zstd codec.
    QueryDef("q_jsonl_zstd",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val out = Tables.scratchPath("jsonl_zst", dir)
        graft.sources.JsonlZstd.write(
          Tables.documents(s, dir).select(
            col("doc_id").as("id"),
            col("text"),
            struct(col("lang"), col("n_chars")).as("metadata"),
            col("source"))
            // one zstd frame per task; spread the compress encode (the
            // q_avro_nested partition-sizing lesson)
            .repartition(s.sparkContext.defaultParallelism), out)
        val schema = StructType(Seq(
          StructField("id", LongType),
          StructField("text", StringType),
          StructField("metadata", StructType(Seq(
            StructField("lang", StringType),
            StructField("n_chars", LongType)))),
          StructField("source", StringType)))
        graft.sources.JsonlZstd.read(s, out, schema)
          .filter(col("error").isNull)
          .select(col("id").as("doc_id"),
            col("text").as("text_out"),
            col("metadata.lang").as("lang_out"),
            col("metadata.n_chars").as("chars_out"),
            col("source").as("source_out"))
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, text AS text_out, lang AS lang_out, " +
        "n_chars AS chars_out, source AS source_out FROM documents " +
        "ORDER BY doc_id")),

    // END-TO-END CURATION PIPELINE: the five standard stages composed as
    // one lazy plan — Gopher quality rules -> language keep -> exact
    // survivor dedup -> near-dup drop (lowest-id neighbor wins) ->
    // training-sequence packing. Each stage is the already-verified
    // operator, and with the near-dup stage in md5 oracle mode the WHOLE
    // composite is hash-checked: the oracle replays all five stages as
    // one CTE chain (see curationOracle)
    QueryDef("q_curation_pipeline",
      (s, dir) => {
        import graft.operators.{Corpus, TextAnalysis => TA}
        // spread (guarded): the gopher -> trained-langid -> dedup-hash
        // subtree ran as ONE 0.7 s task behind the 1-split small-SF scan
        // (StageProfile r20); every downstream stage keys on its own
        // shuffle, so placement cannot change results
        val docs = graft.operators.ScaleOps.spreadCpu(
          Tables.documents(s, dir))
        val quality = TA.gopherRules(docs, col("text"),
          TA.GopherConfig(minWords = 25L, maxWords = 80L,
            minMeanWordLen = 3.0, maxMeanWordLen = 5.0, minStopwordHits = 1))
          .filter(col("quality_pass"))
        // TRAINED language gate (r19; widened to 64 in r20): the pinned model —
        // one fused codegen'd kernel + argmax (MulticlassArgmax),
        // 0.42x the 7-language marker gate's cost (SCALE.md r18 A/B)
        // with 4.5x the coverage; the oracle replays the scoring pass
        // against the committed literal weights, never the GD rounds
        val english = graft.operators.LangIdTrained
          .withLangPinned(quality, "text", "__lid")
          .filter(col("__lid") === "en").drop("__lid")
        // the quality -> langid -> content-hash-dedup subtree (including
        // the full-text survivor shuffle) feeds BOTH the near-dup index
        // build and the anti-join left side — stage it once or the whole
        // subtree re-computes per consumer (the minhash stage's persist
        // only covers the index built FROM it)
        val exact = Staging.snapshot(Dedup.exactKeepBest(english, "text",
          Seq(col("doc_id").asc)))
        val pairs = Dedup.minhashNearDupsMd5(exact, "doc_id", "text",
          threshold = 0.5)
        val kept = exact.join(
          pairs.select(col("id_b").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        Corpus.packSequences(
          kept.select(col("doc_id"),
            TA.tokenCount(col("text")).as("n_tokens")),
          "doc_id", "n_tokens", 2048L)
          .orderBy("doc_id")
      },
      Some(curationOracle)),

    // model-free text->vector->LSH pipeline: signed feature-hashing
    // embeddings feed the hyperplane-LSH near-dup stack end-to-end.
    // md5 oracle mode: DuckDB rebuilds the embedding vectors (n-grams,
    // md5 slot/sign, slot sums, normalize, float round-trip) and replays
    // the seeded-literal plane banding + exact-cosine verify, so the
    // whole text->vector->LSH composite is hash-checked; the zero-shuffle
    // xxhash kernel (TextAnalysis.hashEmbed) stays the production
    // default, with the mode-shared contracts spec-pinned.
    QueryDef("q_text_embed_neardup",
      (s, dir) => {
        // bigram features: this corpus has a ~31-token vocabulary, so
        // unigram bags overlap for EVERY pair (median cosine 0.6);
        // bigrams re-expand the space (median 0.05, near-dups > 0.9).
        // The embedding stage materializes ONCE (Staging.snapshot — local
        // blocks, or reliable files when spark.graft.checkpointDir is
        // set) before the LSH pipeline fans out into its self-join
        // branches — concurrent cache-fill races would otherwise
        // recompute the two-shuffle embedding per branch
        val emb = Staging.snapshot(graft.operators.TextAnalysis.hashEmbedMd5(
          Tables.documents(s, dir), "doc_id", "text", dim = 256, n = 2))
        Dedup.cosineNearDups(emb, "doc_id", "vec", dim = 256,
          threshold = 0.6)
          .select(col("id_a"), col("id_b"),
            // floor-based rounding: round(x, 6) is NOT engine-portable on
            // half-tie doubles (Spark shortest-decimal HALF_UP vs DuckDB
            // scaled-binary) — the q_sim_pq / quantizeInt8 contract
            (floor(col("cosine") * 1e6d + 0.5d) / 1e6d).as("cosine_r"))
          .orderBy("id_a", "id_b")
      },
      Some(embedNearDupOracleSql(dim = 256, n = 2, threshold = 0.6))),

    // q_text_embed_neardup's production mode: the XXH64 HashEmbedVector
    // kernel (zero-shuffle scan-speed embedding) feeding the identical
    // hyperplane-LSH + exact-cosine pipeline. Declared for measurement
    // (see q_dedup_minhash_xx); the correctness row is the differential
    // certificate against the md5 twin above (which oracle-checks the
    // shared plan end to end).
    QueryDef("q_embed_neardup_xx",
      (s, dir) => {
        val emb = Staging.snapshot(graft.operators.TextAnalysis.hashEmbed(
          Tables.documents(s, dir), "doc_id", "text", dim = 256, n = 2))
        Dedup.cosineNearDups(emb, "doc_id", "vec", dim = 256,
          threshold = 0.6)
          .select(col("id_a"), col("id_b"),
            (floor(col("cosine") * 1e6d + 0.5d) / 1e6d).as("cosine_r"))
          .orderBy("id_a", "id_b")
      },
      Some(pairCertOracleSql(embedNearDupOracleSql(dim = 256, n = 2,
        threshold = 0.6), minTokens = 2)),
      verifyFn = Some((s, dir) => {
        val docs = Tables.documents(s, dir)
        val embXx = Staging.snapshot(graft.operators.TextAnalysis.hashEmbed(
          docs, "doc_id", "text", dim = 256, n = 2))
        val embMd5 = Staging.snapshot(graft.operators.TextAnalysis.hashEmbedMd5(
          docs, "doc_id", "text", dim = 256, n = 2))
        Differential.pairCertificate(docs, "doc_id", "text",
          Dedup.cosineNearDups(embXx, "doc_id", "vec", dim = 256,
            threshold = 0.6),
          Dedup.cosineNearDups(embMd5, "doc_id", "vec", dim = 256,
            threshold = 0.6),
          jaccardBound = diffJaccardBound, recallBound = diffRecallBound,
          minTokens = 2) // bigram features: 1 token -> zero vector, skipped
      })),

    // CCNet-style LM quality filter: bigram/unigram counts trained on the
    // corpus itself, every doc scored by mean smoothed bigram NLL. The
    // oracle replays the training AND the scoring; 0.4 is cast to DOUBLE
    // on the SQL side so DuckDB's decimal-literal promotion cannot
    // diverge from Spark's double arithmetic; NLL addends round before
    // the decimal-exact sum (the q_text_bm25 pattern)
    QueryDef("q_lm_perplexity",
      (s, dir) => {
        graft.operators.TextAnalysis.lmPerplexity(
          Tables.documents(s, dir), "doc_id", "text", alpha = 0.4)
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, string_split_regex(TRIM(LOWER(text)), '\\s+') AS t FROM documents), g AS (SELECT doc_id, t[gs] || ' ' || t[gs + 1] AS bigram, t[gs] AS w1 FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(gs)), bi AS (SELECT bigram, COUNT(*) AS c2 FROM g GROUP BY 1), uni AS (SELECT tok, COUNT(*) AS c1 FROM (SELECT UNNEST(t) AS tok FROM toks) WHERE tok <> '' GROUP BY 1), v AS (SELECT COUNT(*) AS vs FROM uni), sc AS (SELECT doc_id, ROUND(-LOG2((c2 + CAST(0.4 AS DOUBLE)) / (c1 + CAST(0.4 AS DOUBLE) * vs)), 6) AS nll FROM g JOIN bi USING (bigram) JOIN uni ON w1 = tok CROSS JOIN v) SELECT doc_id, COUNT(*) AS n_bigrams, ${dsumSql("nll")} / COUNT(*) AS avg_nll_bits FROM sc GROUP BY 1 ORDER BY doc_id""")),

    // inverted-index build: (term, doc) postings with tf, first position
    // and document frequency — the search-index construction pass; one
    // (term,doc)-keyed aggregate shuffle plus one term-keyed df window
    QueryDef("q_inverted_index",
      (s, dir) => {
        graft.operators.TextAnalysis.invertedIndex(
          Tables.documents(s, dir), "doc_id", "text", minDf = 5L)
          .orderBy("term", "doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split_regex(TRIM(LOWER(text)), '\s+')) AS term, generate_subscripts(string_split_regex(TRIM(LOWER(text)), '\s+'), 1) - 1 AS pos FROM documents), p AS (SELECT term, doc_id, COUNT(*) AS tf, CAST(MIN(pos) AS BIGINT) AS first_pos FROM toks WHERE term <> '' GROUP BY 1, 2), d AS (SELECT *, COUNT(*) OVER (PARTITION BY term) AS df FROM p) SELECT term, doc_id, tf, first_pos, df FROM d WHERE df >= 5 ORDER BY term, doc_id""")),

    // survivor-policy dedup: documents sharing a canonical key (leading
    // 5-token fingerprint) collapse to the most complete copy (longest,
    // then lowest id) — the md5-keyed grouping replays exactly in SQL
    QueryDef("q_dedup_survivor",
      (s, dir) => {
        val docs = Tables.documents(s, dir).withColumn("canon_key",
          array_join(slice(split(col("text"), " "), 1, 5), " "))
        graft.operators.Dedup.exactKeepBest(docs, "canon_key",
          Seq(col("n_chars").desc, col("doc_id").asc))
          .select("doc_id", "canon_key", "n_chars", "source")
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ') AS canon_key, n_chars, source FROM documents), r AS (SELECT *, row_number() OVER (PARTITION BY md5(canon_key), LENGTH(canon_key) ORDER BY n_chars DESC, doc_id) AS rn FROM t) SELECT doc_id, canon_key, n_chars, source FROM r WHERE rn = 1 ORDER BY doc_id""")),

    // corpus mix report: per (source, lang) composition — the first
    // report any training-data pipeline runs before weighting/sampling
    // sources. One partial-agg shuffle; token counting shared with
    // q_text_stats.
    QueryDef("q_corpus_mix",
      (s, dir) => {
        Tables.documents(s, dir)
          .groupBy("source", "lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"),
            dsum(col("n_chars").cast("double")).as("n_chars_total"))
          .orderBy("source", "lang")
      },
      Some(s"""SELECT source, lang, COUNT(*) AS n_docs, CAST(SUM(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0 ELSE LEN(string_split_regex(TRIM(text), '\\s+')) END) AS BIGINT) AS n_tokens, ${dsumSql("CAST(n_chars AS DOUBLE)")} AS n_chars_total FROM documents GROUP BY source, lang ORDER BY source, lang""")),

    // language-ID by stopword-marker scoring
    QueryDef("q_text_langid",
      (s, dir) => {
        TextAnalysis.withLangId(Tables.documents(s, dir),
            col("text"), "pred")
          .select("doc_id", "pred")
          .orderBy("doc_id")
      },
      Some(langIdOracle)),

    // language-ID over a multilingual corpus: every fourth document is
    // replaced by a zh/ja/ko sentence carrying its language's markers
    // (the r16 ja/ko marker extension — space-free scripts use bare
    // substring markers, no padding). The CASE chain, the marker tables
    // and the tie-break all derive from TextAnalysis.langMarkers in BOTH
    // engines, so adding a language cannot drift the oracle.
    QueryDef("q_text_langid_cjk",
      (s, dir) => {
        val t = when(pmod(col("doc_id"), lit(4)) === 1, lit(LangZhDoc))
          .when(pmod(col("doc_id"), lit(4)) === 2, lit(LangJaDoc))
          .when(pmod(col("doc_id"), lit(4)) === 3, lit(LangKoDoc))
          .otherwise(col("text"))
        TextAnalysis.withLangId(Tables.documents(s, dir), t, "pred")
          .select("doc_id", "pred")
          .orderBy("doc_id")
      },
      Some(langIdOracleFor(
        s"(SELECT doc_id, CASE WHEN doc_id % 4 = 1 THEN '$LangZhDoc' " +
          s"WHEN doc_id % 4 = 2 THEN '$LangJaDoc' " +
          s"WHEN doc_id % 4 = 3 THEN '$LangKoDoc' " +
          "ELSE text END AS text FROM documents) src_ml"))),

    // vocabulary mining: exact top-25 token frequencies across the corpus
    // (explode -> map-side-combinable count -> TakeOrdered top-k)
    QueryDef("q_text_vocab",
      (s, dir) => {
        Tables.documents(s, dir)
          .select(explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
          .filter(length(col("tok")) > 0)
          .groupBy("tok").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("tok").asc)
          .limit(25)
      },
      Some("""SELECT tok, COUNT(*) AS n FROM (SELECT UNNEST(string_split_regex(TRIM(LOWER(text)), '\s+')) AS tok FROM documents) WHERE LENGTH(tok) > 0 GROUP BY tok ORDER BY n DESC, tok ASC LIMIT 25""")),

    // corpus bigram statistics: top-20 word bigrams (n-gram language-model
    // counts) — explode -> map-side-combinable count -> TakeOrdered
    QueryDef("q_text_bigrams",
      (s, dir) => {
        Tables.documents(s, dir)
          .select(explode(TextAnalysis.wordNgrams(col("text"), 2)).as("bg"))
          .groupBy("bg").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("bg").asc)
          .limit(20)
      },
      Some(raw"""SELECT bg, COUNT(*) AS n FROM (SELECT UNNEST(list_transform(range(1, LEN(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS bg FROM (SELECT string_split_regex(TRIM(LOWER(text)), '\s+') AS toks FROM documents)) GROUP BY bg ORDER BY n DESC, bg ASC LIMIT 20""")),

    // intra-document repetition (duplicate-sentence fraction)
    QueryDef("q_text_repetition",
      (s, dir) => {
        Tables.documents(s, dir)
          .select(col("doc_id"),
            TextAnalysis.repetitionRatio(col("text")).as("rep_ratio"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(1.0 - CAST(LEN(list_distinct(string_split_regex(text, '\. '))) AS DOUBLE) / GREATEST(LEN(string_split_regex(text, '\. ')), 1) AS DOUBLE) AS rep_ratio FROM documents ORDER BY doc_id""")),

    // quality-scoring signals
    QueryDef("q_text_quality",
      (s, dir) => {
        // sortedWide: the signal regexes serialized on the 1-split scan;
        // qualitySignals is pure withColumns, order-preserving (r21)
        val df = graft.operators.ScaleOps.sortedWide(
          Tables.documents(s, dir).select("doc_id", "text"), "doc_id")
        TextAnalysis.qualitySignals(df, col("text"))
          .select("doc_id", "n_chars_m", "n_tokens", "alpha_ratio",
            "digit_ratio", "space_ratio", "mean_token_len", "stopword_ratio")
      },
      Some(qualityOracle)),

    // Web-corpus host analysis: derive a deterministic URL per document
    // (the synthetic corpus carries none), parse host/path with the
    // codegen'd parse_url, roll up per registered domain and host. The
    // oracle replays the extraction with an equivalent regex — agreement
    // proves the parse on well-formed URLs.
    QueryDef("q_url_hosts",
      (s, dir) => {
        val docs = Tables.documents(s, dir).withColumn("url",
          concat(lit("https://"), col("source"), lit("."), col("lang"),
            lit(".example.com/docs/"), col("doc_id")))
        docs.select(
            TextAnalysis.urlHost(col("url")).as("host"),
            TextAnalysis.registeredDomain(TextAnalysis.urlHost(col("url"))).as("domain"),
            col("n_chars"))
          .groupBy("domain", "host")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars_total"))
          .orderBy("domain", "host")
      },
      Some(raw"""WITH u AS (SELECT 'https://' || source || '.' || lang || '.example.com/docs/' || doc_id AS url, n_chars FROM documents), h AS (SELECT regexp_extract(url, 'https?://([^/:]+)', 1) AS host, n_chars FROM u), hs AS (SELECT host, regexp_replace(host, '\.$$', '') AS hstrip, n_chars FROM h) SELECT array_to_string(list_slice(string_split(hstrip, '.'), LEN(string_split(hstrip, '.')) - 1, LEN(string_split(hstrip, '.'))), '.') AS domain, host, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars_total FROM hs GROUP BY domain, host ORDER BY domain, host""")),

    // Fixed-size per-language sample: the 40 docs per language with the
    // smallest seeded md5 — deterministic across engines and layouts
    // (md5, not xxhash64, exactly so the oracle can replay the choice).
    // Two-phase rank bounds the final shuffle to fanout*quota rows per
    // stratum (see ScaleOps.quotaSample).
    QueryDef("q_quota_sample",
      (s, dir) => {
        graft.operators.ScaleOps.quotaSample(
            Tables.documents(s, dir), "lang", "doc_id", quota = 40)
          .select("doc_id", "lang", "source")
          .orderBy("lang", "doc_id")
      },
      Some("""SELECT doc_id, lang, source FROM documents QUALIFY ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR) || '|' || '13'), doc_id) <= 40 ORDER BY lang, doc_id""")),

    // Temperature-tempered domain mixing (alpha = 0.5, budget 200): the
    // LLM-pretraining rebalancing step — per-source quotas proportional
    // to sqrt(n_source) under the budget, each filled by the seeded-md5
    // uniform sample. The oracle replays the WHOLE computation: counts,
    // IEEE-correctly-rounded sqrt weights floor-rounded to 6 decimals,
    // the decimal-exact weight total, the single-rounded quota
    // arithmetic, and the per-domain rank selection.
    QueryDef("q_mix_sample",
      (s, dir) => {
        graft.operators.ScaleOps.temperatureMixSample(
            Tables.documents(s, dir), "source", "doc_id", budget = 200L)
          .select("doc_id", "source", "lang")
          .orderBy("source", "doc_id")
      },
      Some("""WITH n AS (SELECT source, COUNT(*) AS nd FROM documents WHERE source IS NOT NULL GROUP BY source), w AS (SELECT source, nd, FLOOR(SQRT(CAST(nd AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS wd FROM n), tot AS (SELECT CAST(SUM(CAST(wd AS DECIMAL(27,6))) AS DOUBLE) AS wt FROM w), q AS (SELECT source, LEAST(CAST(FLOOR(CAST(200 AS DOUBLE) * wd / wt) AS BIGINT), nd) AS quota FROM w CROSS JOIN tot) SELECT doc_id, source, lang FROM documents JOIN q USING (source) QUALIFY ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR) || '|' || '13'), doc_id) <= quota ORDER BY source, doc_id""")),

    // DSIR importance-resampling selection (Xie et al. 2023): src0 docs
    // play the high-quality target corpus, every other doc is the raw
    // pool, top 50 raw docs by smoothed hashed-unigram+bigram log
    // importance ratio are kept. The oracle replays the WHOLE pipeline:
    // tokenization, md5 bucket hashing, smoothed distributions with
    // bucket-frame totals, floor-rounded log ratios and addends, the
    // decimal-exact per-doc sum, and the (weight DESC, id) cut.
    QueryDef("q_dsir_select",
      (s, dir) => {
        graft.operators.Dsir.select(Tables.documents(s, dir), "doc_id",
            "text", col("source") === "src0", k = 50)
          .select(col("id").as("doc_id"), col("n_feats"),
            col("dsir_weight"))
      },
      Some(dsirOracleSql(target = "src0", k = 50, buckets = 1024,
        alpha = 1.0))),

    // the PRODUCTION xxhash64-bucket run of the same DSIR selection —
    // Bench times this raw `fn` (the posture a corpus-scale run uses,
    // Dsir.bucketOf's mode contract); the correctness row is the
    // selection-agreement differential certificate against the
    // oracle-green md5 twin above (bounds pinned from the r15 DiffProbe
    // `dsir` sweep — see dsirJaccardBound).
    QueryDef("q_dsir_select_xx",
      (s, dir) => {
        graft.operators.Dsir.select(Tables.documents(s, dir), "doc_id",
            "text", col("source") === "src0", k = 50, xx = true)
          .select(col("id").as("doc_id"), col("n_feats"),
            col("dsir_weight"))
      },
      Some(dsirCertOracleSql(dsirOracleSql(target = "src0", k = 50,
        buckets = 1024, alpha = 1.0))),
      verifyFn = Some((s, dir) => {
        val docs = Tables.documents(s, dir)
        val tgt = col("source") === "src0"
        val xxW = graft.operators.Dsir.weights(docs, "doc_id", "text",
          tgt, xx = true)
        Differential.dsirCertificate(
          graft.operators.Dsir.select(docs, "doc_id", "text", tgt, k = 50),
          graft.operators.Dsir.cut(xxW, 50), xxW, k = 50,
          jaccardBound = dsirJaccardBound, rankFactor = dsirRankFactor,
          weightDeltaBound = dsirWeightDeltaBound)
      })),

    // Cluster-balanced sampling: deterministic kmeans (the q_sim_ivf
    // trained-model replay — same centroids CTE chain) assigns every
    // embedding a cell, then each cell yields a fixed 10-row seeded-md5
    // quota — the embedding-space diversity rebalancing step. The oracle
    // replays training, assignment (ties to the LAST cid, the
    // nearest-centroid kernel's contract) and the rank selection.
    QueryDef("q_cluster_balance",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
        val cents = graft.operators.Similarity.trainCentroids(
          emb, "embedding", k = 8, sampleOrderCol = Some("vec_id"))
        graft.operators.ScaleOps.clusterBalancedSample(
            emb, "vec_id", "embedding", cents, quota = 10)
          .select("vec_id", "cell")
          .orderBy("cell", "vec_id")
      },
      Some(s"""WITH ${kmeansCtes(8)} SELECT vec_id, cell FROM cell QUALIFY ROW_NUMBER() OVER (PARTITION BY cell ORDER BY md5(CAST(vec_id AS VARCHAR) || '|' || '13'), vec_id) <= 10 ORDER BY cell, vec_id""")),

    // Fuzzy (edit-distance) join: supplier names against a perturbed copy
    // (last character dropped), matched within 1 edit — length banding
    // turns the nested-loop fuzzy match into a shuffled equi-join with a
    // bounded-levenshtein verify (plan gate in OperatorsSpec); the oracle
    // states the naive quadratic form.
    QueryDef("q_fuzzy_join",
      (s, dir) => {
        val sup = Tables.supplier(s, dir).select("s_suppkey", "s_name")
        val perturbed = sup.select(
          (col("s_suppkey") + 100000L).as("p_id"),
          substring(col("s_name"), 1, 17).as("p_name"))
        graft.operators.FuzzyJoin.editDistanceJoin(
            sup, "s_suppkey", "s_name", perturbed, "p_id", "p_name", maxDist = 1)
          .select(col("s_suppkey"), col("p_id"), col("dist"))
          .orderBy("s_suppkey", "p_id")
      },
      Some("""SELECT a.s_suppkey, b.p_id, levenshtein(a.s_name, b.p_name) AS dist FROM supplier a JOIN (SELECT s_suppkey + 100000 AS p_id, substr(s_name, 1, 17) AS p_name FROM supplier) b ON levenshtein(a.s_name, b.p_name) <= 1 ORDER BY a.s_suppkey, b.p_id""")),

    // Typed cogroup reconciliation: per-user event activity vs order
    // history in ONE co-partitioned pass (KeyValueGroupedDataset.cogroup)
    // — both sides shuffle once on the key and the reconciler sees each
    // user's two iterators together, with no join row explosion. The
    // oracle states it as the full-outer join of the two aggregates.
    QueryDef("q_cogroup_recon",
      (s, dir) => {
        import s.implicits._
        val events = Tables.events(s, dir)
          .select(col("user_id"), col("value")).as[(Long, Double)]
          .groupByKey(_._1)
        val orders = Tables.orders(s, dir)
          .select(col("o_custkey"), col("o_totalprice")).as[(Long, Double)]
          .groupByKey(_._1)
        events.cogroup(orders) { (uid, evs, ords) =>
          var nEv = 0L; var nOrd = 0L
          evs.foreach(_ => nEv += 1)
          ords.foreach(_ => nOrd += 1)
          Iterator.single((uid, nEv, nOrd))
        }.toDF("user_id", "n_events", "n_orders")
          .orderBy("user_id")
      },
      Some("""SELECT COALESCE(e.user_id, o.o_custkey) AS user_id, COALESCE(e.n, 0) AS n_events, COALESCE(o.n, 0) AS n_orders FROM (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1) e FULL OUTER JOIN (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1) o ON e.user_id = o.o_custkey ORDER BY user_id""")),

    // Streaming near-duplicate detection (batch form of the stateful
    // per-bucket operator; batch==stream==driver-reference equivalence in
    // StreamingSpec): minhash signatures banded to keyed state, each doc
    // flagged against the earliest sufficiently-similar doc in its bucket.
    // ORACLE-CHECKED since round 12 in md5 mode: in batch execution the
    // per-bucket fold is a pure function of arrival order (ts here is
    // strictly increasing in doc_id), and its OUTPUT is expressible
    // declaratively — a doc's stored set is exactly the first
    // min(maxBucket, pos) earlier arrivals in its bucket, and its hit is
    // the minimum-arrival stored signature agreeing on >= threshold of
    // positions — so DuckDB replays signatures, banding, arrival ranks,
    // and the first-match rule as windowed SQL over the shared md5
    // signature CTEs. The xxhash64 production path keeps its own bench
    // row (q_stream_neardup_xx below) and the planted-dup agreement law
    // between the modes is spec-pinned (HashModeAgreementSpec).
    QueryDef("q_stream_neardup",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .withColumn("ts", timestamp_micros((col("doc_id") + 10000L) * 1000000L))
        graft.streaming.StreamDedup
          .nearDupHits(docs, "doc_id", "ts", "text",
            threshold = streamNearDupThreshold, md5Mode = true)
          // est = eq/h of the WHOLE signature — a dyadic rational, exact
          // in doubles on both engines, and identical across a pair's
          // detecting bands, so the distinct projection keeps one row
          // per (doc, dup_of) with its exact agreement pinned
          .select("doc_id", "dup_of", "est").distinct()
          .orderBy("doc_id", "dup_of")
      },
      Some(streamNearDupOracleSql(bands = 8, rows = 4,
        threshold = streamNearDupThreshold, maxBucket = 64))),

    // the PRODUCTION xxhash64-kernel run of the same streaming near-dup
    // pipeline — Bench times this raw `fn` (the floor-guarded production
    // wall); the correctness row is the doc-level differential
    // certificate against the oracle-green md5 twin above (same posture
    // as q_dedup_minhash_xx).
    QueryDef("q_stream_neardup_xx",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .withColumn("ts", timestamp_micros((col("doc_id") + 10000L) * 1000000L))
        graft.streaming.StreamDedup
          .nearDupHits(docs, "doc_id", "ts", "text",
            threshold = streamNearDupThreshold)
          .select("doc_id", "dup_of").distinct()
          .orderBy("doc_id", "dup_of")
      },
      Some(docCertOracleSql(streamNearDupOracleSql(bands = 8, rows = 4,
        threshold = streamNearDupThreshold, maxBucket = 64))),
      verifyFn = Some((s, dir) => {
        val docs = Tables.documents(s, dir)
        val withTs = docs.withColumn("ts",
          timestamp_micros((col("doc_id") + 10000L) * 1000000L))
        Differential.docCertificate(docs, "doc_id", "text",
          graft.streaming.StreamDedup.nearDupHits(withTs, "doc_id", "ts",
            "text", threshold = streamNearDupThreshold),
          graft.streaming.StreamDedup.nearDupHits(withTs, "doc_id", "ts",
            "text", threshold = streamNearDupThreshold, md5Mode = true),
          jaccardBound = diffJaccardBound, recallBound = diffRecallBound)
      })),

    // streaming curation gate composite: the ingest-time quality + PII
    // + arrival-ordered near-dup gate on every arriving document
    // (StreamCurate — stateless half attachable to any stream, dup half
    // the streaming-proven StreamDedup state machine; batch execution
    // IS the stream semantics on the arrival-ordered frame). md5 oracle
    // mode: DuckDB replays the Gopher signals (the shared gsig/pass
    // fragments), the sequential PII counts, the banded signatures with
    // arrival ranks and the earlier-arrival qualifying-candidate rule,
    // and the kept conjunction — the WHOLE gate is hash-checked.
    QueryDef("q_stream_curation",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .withColumn("ts", timestamp_micros((col("doc_id") + 10000L) * 1000000L))
        graft.streaming.StreamCurate.curate(docs, "doc_id", "ts", "text",
          threshold = streamNearDupThreshold,
          cfg = TextAnalysis.GopherConfig(minWords = 25L, maxWords = 80L,
            minMeanWordLen = 3.0, maxMeanWordLen = 5.0,
            minStopwordHits = 1),
          md5Mode = true)
          .orderBy("doc_id")
      },
      Some(streamCurationOracleSql)),

    // Mergeable distinct-count sketches: one HLL sketch per event type
    // (map-side combinable), then a sketch UNION for the overall count —
    // the two-level rollup a 100 TB pipeline uses so per-partition /
    // per-day sketches can be stored and re-aggregated without rescanning
    // raw data. ORACLE-CHECKED since round 12 via sketch-then-verify:
    // DuckDB's HLL differs bit-wise, so the gate row emits each level's
    // exact count plus `hll_within_bound` = (|est - exact| <= 6% exact)
    // computed from the PRODUCTION DataSketches estimates — per type from
    // the sketch agg, and for the ALL row through the hll_union_agg merge
    // path — and the oracle asserts TRUE (estimates are deterministic for
    // fixed input; observed error <= 1.34% at every SF, lgK=12 rsd 1.6%;
    // the 6% bound is 3.75 sigma — regeneration-proof, while any real
    // estimator break lands 10x outside it).
    // Since r14 the union-vs-global CONSISTENCY law is ALSO on the
    // oracle surface: `hll_union_consistent` asserts the ALL row's
    // merged-sketch estimate is within 3% of n_exact of the one-pass
    // global sketch estimate (measured gap 0.73% at sf0.1: 1488 vs 1499
    // on 1500 exact). NOT pinned as equality — DataSketches' union
    // (Gadget, HLL_8 internal) and a direct sketch build give
    // bit-identical estimates only at sparse-mode cardinalities (they
    // DO agree exactly at sf0.001, which is what the spec-level law
    // pins); at dense-mode cardinalities the two paths legitimately
    // differ by a fraction of the rsd. The tight (~1.6% rsd) error law
    // stays spec-level ONLY because a tight sigma bound is
    // regeneration-fragile as an oracle gate (see SURVEY §5.3); the 6%
    // gate here is the regeneration-proof oracle form of the same law.
    QueryDef("q_sketch_distinct",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        // eager executor-local snapshot: both output levels (per-type
        // estimates and the ALL rollup) read the MATERIALIZED sketches —
        // without it the union's two branches each rescan events and
        // rebuild every sketch; the snapshot is sketch-sized (KBs per
        // type) and internal to this plan, so no caller could free a
        // reliable one
        val perType = Staging.snapshot(ev.groupBy("event_type")
          .agg(hll_sketch_agg(col("user_id")).as("sk")), local = true)
        val exact = ev.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("n_exact"))
          .unionByName(ev.agg(lit("ALL").as("event_type"),
            countDistinct(col("user_id")).as("n_exact")))
        val globalOnePass = ev.agg(
          hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("__gest"))
        perType
          .select(col("event_type"),
            hll_sketch_estimate(col("sk")).as("__est"))
          .unionByName(perType.agg(
            lit("ALL").as("event_type"),
            hll_sketch_estimate(hll_union_agg(col("sk"))).as("__est")))
          .join(exact, "event_type")
          .crossJoin(globalOnePass) // one-row scalar broadcast
          .select(col("event_type"), col("n_exact"),
            (abs(col("__est") - col("n_exact")) <=
              lit(0.06) * col("n_exact")).as("hll_within_bound"),
            when(col("event_type") === "ALL",
              abs(col("__est") - col("__gest")) <=
                lit(0.03) * col("n_exact"))
              .otherwise(lit(true)).as("hll_union_consistent"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_exact, TRUE AS hll_within_bound, TRUE AS hll_union_consistent FROM events GROUP BY event_type UNION ALL SELECT 'ALL', COUNT(DISTINCT user_id), TRUE, TRUE FROM events ORDER BY event_type""")),

    // Quantile sketch with an oracle-gated rank-error contract
    // (q_sketch_distinct's sketch-then-verify pattern for the OTHER
    // standard sketch family): percentile_approx (Greenwald-Khanna
    // style summaries, accuracy 100 => guaranteed rank error <= 0.01)
    // estimates 4 quantiles of events.value in one pass; the query then
    // recounts the EXACT ranks of the returned estimates and emits
    // booleans for the two-sided law count(< est) <= (q+0.02)n AND
    // count(<= est) >= (q-0.02)n (the 2x-guarantee gate is the
    // regeneration-proof oracle form — and layout-proof: GK merge order
    // may shift the estimate within guarantee, the booleans never flip).
    // The estimates frame is ONE row of 4 doubles — a bounded,
    // model-sized driver transfer (the trainCentroids posture) that
    // turns the rank recount into literal comparisons in one scan.
    QueryDef("q_sketch_quantiles",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val qs = Seq(0.25, 0.5, 0.75, 0.9)
        val head = ev.agg(
          percentile_approx(col("value"),
            array(qs.map(lit): _*), lit(100)).as("est"),
          count(col("value")).as("n")).collect()(0)
        // fail fast on a value-less table: a NULL estimate array has no
        // quantiles to contract over (the engine's guard convention —
        // silently emitting vacuous TRUE rows would be a lie)
        require(!head.isNullAt(0) && head.getLong(1) > 0,
          "q_sketch_quantiles: events.value has no non-NULL rows")
        val est = head.getSeq[Double](0)
        val n = head.getLong(1)
        // ONE exact-rank recount scan for all quantiles, collected (two
        // longs per quantile — bounded), then the 4-row contract frame is
        // built from literals: a per-quantile union of the same global
        // aggregate would re-plan the scan 4x unless exchange reuse saves
        // it, and nothing here needs a distributed result
        val aggs = qs.indices.flatMap(i => Seq(
          sum(when(col("value") < lit(est(i)), 1L).otherwise(0L))
            .as(s"__lt$i"),
          sum(when(col("value") <= lit(est(i)), 1L).otherwise(0L))
            .as(s"__le$i")))
        val checks = ev.agg(aggs.head, aggs.tail: _*).collect()(0)
        import s.implicits._
        qs.indices.map { i =>
          val lt = checks.getLong(2 * i); val le = checks.getLong(2 * i + 1)
          (qs(i), n,
            lt <= (qs(i) + 0.02) * n && le >= (qs(i) - 0.02) * n)
        }.toDF("quantile", "n_total", "rank_within_bound")
          .orderBy("quantile")
      },
      Some("""SELECT q AS quantile, (SELECT COUNT(value) FROM events) AS n_total, TRUE AS rank_within_bound FROM (VALUES (0.25), (0.5), (0.75), (0.9)) AS t(q) ORDER BY quantile""")),

    // URL canonicalization dedup: each document emits two spellings of
    // its page URL (case/port/fragment/tracking-param/trailing-slash
    // noise); canonicalization must collapse them to ONE key per doc.
    // The oracle replays the full rule pipeline in SQL.
    QueryDef("q_url_canon",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val messy = concat(lit("https://WWW."), col("source"),
          lit(".Example.com:443/pages/"), col("doc_id"),
          lit("/?utm_source=feed&b=2&a=1#top"))
        val clean = concat(lit("http://www."), col("source"),
          lit(".example.com/pages/"), col("doc_id"), lit("?a=1&b=2"))
        docs.select(col("doc_id"), explode(array(messy, clean)).as("url"))
          .groupBy(TextAnalysis.canonicalizeUrl(col("url")).as("canonical"))
          .agg(count(lit(1)).as("n_raw"),
            countDistinct(col("url")).as("n_distinct_raw"))
          .orderBy("canonical")
      },
      Some("""WITH raw AS (
        SELECT doc_id, unnest([
          'https://WWW.' || source || '.Example.com:443/pages/' || doc_id || '/?utm_source=feed&b=2&a=1#top',
          'http://www.' || source || '.example.com/pages/' || doc_id || '?a=1&b=2']) AS url
        FROM documents),
      parts AS (
        SELECT url, regexp_replace(url, '#.*$', '') AS nofrag FROM raw),
      comp AS (
        SELECT url,
          regexp_replace(LOWER(regexp_replace(regexp_extract(nofrag, '(?i)^(https?://[^/?]+)', 1), ':(80|443)$', '')), '^https?://', '') AS host,
          regexp_extract(regexp_replace(nofrag, '(?i)^https?://[^/?]+', ''), '^([^?]*)', 1) AS path0,
          CASE WHEN strpos(regexp_replace(nofrag, '(?i)^https?://[^/?]+', ''), '?') > 0
               THEN regexp_replace(regexp_replace(nofrag, '(?i)^https?://[^/?]+', ''), '^[^?]*\?', '')
               ELSE '' END AS query0
        FROM parts),
      canon AS (
        SELECT url, host ||
          (CASE WHEN path0 = '' THEN '/' ELSE regexp_replace(path0, '(.)/$', '\1') END) ||
          (CASE WHEN LENGTH(array_to_string(list_sort(list_filter(string_split(query0, '&'), x -> NOT starts_with(x, 'utm_') AND x <> '')), '&')) > 0
                THEN '?' || array_to_string(list_sort(list_filter(string_split(query0, '&'), x -> NOT starts_with(x, 'utm_') AND x <> '')), '&')
                ELSE '' END) AS canonical
        FROM comp)
      SELECT canonical, COUNT(*) AS n_raw, COUNT(DISTINCT url) AS n_distinct_raw FROM canon GROUP BY canonical ORDER BY canonical""")),

    // Gopher-style quality rule set: per-language pass counts for each
    // rule and the full conjunction. Thresholds tuned so the synthetic
    // corpus splits on every discriminative rule (word count, mean word
    // length, stopword presence); the rule columns are a narrow codegen'd
    // map fused into the scan, the report one map-side-combinable agg.
    QueryDef("q_quality_rules",
      (s, dir) => {
        val cfg = TextAnalysis.GopherConfig(
          minWords = 25L, maxWords = 80L,
          minMeanWordLen = 3.0, maxMeanWordLen = 5.0,
          minStopwordHits = 1)
        TextAnalysis.gopherRules(Tables.documents(s, dir), col("text"), cfg)
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            count_if(col("r_word_count")).as("p_words"),
            count_if(col("r_mean_word_len")).as("p_mwl"),
            count_if(col("r_symbol_ratio")).as("p_symbols"),
            count_if(col("r_bullet_ratio")).as("p_bullets"),
            count_if(col("r_ellipsis_ratio")).as("p_ellipsis"),
            count_if(col("r_alpha_words")).as("p_alpha"),
            count_if(col("r_stopwords")).as("p_stop"),
            count_if(col("quality_pass")).as("p_all"))
          .orderBy("lang")
      },
      Some(raw"""WITH t AS (
        SELECT lang,
          CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0 ELSE LEN(string_split_regex(TRIM(text), '\s+')) END AS nw,
          LENGTH(regexp_replace(text, '\s+', '', 'g')) * 1.0 / GREATEST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0 ELSE LEN(string_split_regex(TRIM(text), '\s+')) END, 1) AS mwl,
          ((LENGTH(text) - LENGTH(REPLACE(text, '#', ''))) + (LENGTH(text) - LENGTH(REPLACE(text, '...', ''))) / 3) * 1.0 / GREATEST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0 ELSE LEN(string_split_regex(TRIM(text), '\s+')) END, 1) AS symr,
          LEN(list_filter(string_split(text, chr(10)), x -> regexp_matches(TRIM(x), '^[-*•]'))) * 1.0 / GREATEST(LEN(string_split(text, chr(10))), 1) AS bulr,
          LEN(list_filter(string_split(text, chr(10)), x -> ends_with(TRIM(x), '...'))) * 1.0 / GREATEST(LEN(string_split(text, chr(10))), 1) AS ellr,
          LEN(list_filter(string_split_regex(TRIM(text), '\s+'), x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / GREATEST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0 ELSE LEN(string_split_regex(TRIM(text), '\s+')) END, 1) AS alphar,
          (CASE WHEN ' ' || LOWER(text) || ' ' LIKE '% the %' THEN 1 ELSE 0 END + CASE WHEN ' ' || LOWER(text) || ' ' LIKE '% be %' THEN 1 ELSE 0 END + CASE WHEN ' ' || LOWER(text) || ' ' LIKE '% to %' THEN 1 ELSE 0 END + CASE WHEN ' ' || LOWER(text) || ' ' LIKE '% of %' THEN 1 ELSE 0 END + CASE WHEN ' ' || LOWER(text) || ' ' LIKE '% and %' THEN 1 ELSE 0 END + CASE WHEN ' ' || LOWER(text) || ' ' LIKE '% that %' THEN 1 ELSE 0 END + CASE WHEN ' ' || LOWER(text) || ' ' LIKE '% have %' THEN 1 ELSE 0 END + CASE WHEN ' ' || LOWER(text) || ' ' LIKE '% with %' THEN 1 ELSE 0 END) AS stopn
        FROM documents),
      r AS (
        SELECT lang,
          (nw >= 25 AND nw <= 80) AS r_wc,
          (mwl >= 3.0 AND mwl <= 5.0) AS r_mwl,
          (symr <= 0.1) AS r_sym,
          (bulr <= 0.1) AS r_bul,
          (ellr <= 0.3) AS r_ell,
          (alphar >= 0.8) AS r_alp,
          (stopn >= 1) AS r_stp
        FROM t)
      SELECT lang, COUNT(*) AS n_docs,
        COUNT(*) FILTER (r_wc) AS p_words,
        COUNT(*) FILTER (r_mwl) AS p_mwl,
        COUNT(*) FILTER (r_sym) AS p_symbols,
        COUNT(*) FILTER (r_bul) AS p_bullets,
        COUNT(*) FILTER (r_ell) AS p_ellipsis,
        COUNT(*) FILTER (r_alp) AS p_alpha,
        COUNT(*) FILTER (r_stp) AS p_stop,
        COUNT(*) FILTER (r_wc AND r_mwl AND r_sym AND r_bul AND r_ell AND r_alp AND r_stp) AS p_all
      FROM r GROUP BY lang ORDER BY lang""")),

    // PII scrubbing: inject a deterministic email + URL into a subset of
    // docs (the synthetic corpus has none), redact them, and report the
    // redaction counts and scrubbed length. Both the injection and the
    // scrub run in each engine — a hash match proves the regex semantics
    // (Java regex vs RE2) agree on this dialect subset.
    QueryDef("q_text_scrub",
      (s, dir) => {
        // sortedWide: regex scrub serialized on the 1-split scan; the
        // per-row map preserves the pre-established doc_id order (r21)
        val injected = graft.operators.ScaleOps.sortedWide(
          Tables.documents(s, dir).select("doc_id", "text"), "doc_id")
          .withColumn("t2",
            when(col("doc_id") % 7 === 0,
              concat(col("text"), lit(" contact user"), col("doc_id"),
                lit("@example.com or https://example.com/d/"), col("doc_id")))
              .otherwise(col("text")))
        injected.select(col("doc_id"),
          TextAnalysis.emailCount(col("t2")).cast("long").as("n_emails"),
          length(TextAnalysis.scrubPii(col("t2"))).cast("long").as("clean_len"))
      },
      Some(raw"""WITH inj AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' || doc_id || '@example.com or https://example.com/d/' || doc_id ELSE text END AS t2 FROM documents) SELECT doc_id, CAST(LEN(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails, CAST(LENGTH(regexp_replace(regexp_replace(t2, 'https?://[^ \t\n\r]+', '<URL>', 'g'), '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')) AS BIGINT) AS clean_len FROM inj ORDER BY doc_id""")),

    // sequence-length bucketing for training batches: integer-division
    // buckets of 64 tokens (exact in every engine — no float log2), with
    // per-bucket doc and token totals. The narrow bucket projection
    // evaluates in the scan stage; one map-side-combinable aggregation.
    QueryDef("q_doc_length_buckets",
      (s, dir) => {
        Tables.documents(s, dir)
          .select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens"))
          .withColumn("bucket", expr("n_tokens div 64"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens_total"))
          .orderBy("bucket")
      },
      Some(raw"""WITH t AS (SELECT doc_id, CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0 ELSE LEN(string_split_regex(TRIM(text), '\s+')) END AS BIGINT) AS n_tokens FROM documents) SELECT n_tokens // 64 AS bucket, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS tokens_total FROM t GROUP BY 1 ORDER BY 1""")),

    // TF-IDF-style salient-term mining: per-document term frequency joined
    // with corpus document frequency, each document reporting its most
    // frequent / most selective term. Two map-side-combinable aggregations
    // plus one term-keyed shuffle join; the per-doc winner is a bounded
    // window (partitioned by doc — never a global sort). Integer-only
    // output keeps the oracle engine-exact (no cross-engine ln()).
    QueryDef("q_text_tfidf",
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
          .filter(length(col("tok")) > 3)
        // tf feeds both dfreq and the join; the dfreq branch recomputes
        // it as a COLUMN-PRUNED variant (Catalyst drops the count),
        // which measures FASTER than staging the corpus-scale term
        // table through a checkpoint (0.69 vs 0.74 s at sf0.1) — the
        // opposite trade from the curation composite, whose duplicated
        // subtree contained a full-text shuffle across separate jobs
        val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("tf").desc, col("df").asc, col("tok").asc)
        tf.join(dfreq, "tok")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("doc_id", "tok", "tf", "df")
          .orderBy("doc_id")
      },
      Some(raw"""WITH t AS (SELECT doc_id, tok FROM (SELECT doc_id, UNNEST(string_split_regex(TRIM(LOWER(text)), '\s+')) AS tok FROM documents) WHERE LENGTH(tok) > 3), tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM t GROUP BY 1, 2), df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1) SELECT doc_id, tok, tf, df FROM (SELECT tf.doc_id, tf.tok, tf.tf, df.df, row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, df.df ASC, tf.tok ASC) AS rn FROM tf JOIN df USING (tok)) WHERE rn = 1 ORDER BY doc_id""")),

    // end-to-end pipeline composition: quality filter -> exact dedup ->
    // per-language stats. The whole chain stays one lazy plan: the
    // quality predicates evaluate inside the scan stage, dedup is one
    // hash aggregation, and the final rollup is map-side combinable.
    QueryDef("q_pipeline_clean",
      (s, dir) => {
        // ONE guarded spread feeds both consumers of the quality frame
        // (the dedup aggregate and the semi-join probe) — same canonical
        // exchange, ReuseExchange; the signal regexes and the langid
        // argmax map ran serialized behind the 1-split scan (r21)
        val docs = graft.operators.ScaleOps.spreadCpu(
          Tables.documents(s, dir).select("doc_id", "text"))
        val quality = TextAnalysis.qualitySignals(docs, col("text"))
          .filter(col("n_tokens") >= 5 && col("alpha_ratio") >= 0.5)
        val deduped = Dedup.exact(quality, "doc_id", "text")
        val kept = quality.join(
          deduped.select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
        // TRAINED per-language stats (r19; 64 languages since r20): the pinned
        // model via the fused MulticlassArgmax kernel — one codegen'd
        // map, cheaper than the 21 marker scans it replaces (SCALE.md
        // SCALE.md r20 decomposition) and 64-language resolution instead of 7+und
        graft.operators.LangIdTrained.withLangPinned(
            kept.select(col("doc_id"), col("text"), col("n_tokens")),
            "text", "lang")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens_total"))
          .orderBy("lang")
      },
      Some(pipelineCleanOracle)),

    // exact deduplication
    QueryDef("q_dedup_exact",
      (s, dir) => {
        Dedup.exact(Tables.documents(s, dir), "doc_id", "text")
          .select("text", "keep_id", "n_copies")
          .orderBy("keep_id")
      },
      Some("""SELECT text, CAST(MIN(doc_id) AS BIGINT) AS keep_id, COUNT(*) AS n_copies FROM documents WHERE text IS NOT NULL GROUP BY text UNION ALL SELECT text, CAST(doc_id AS BIGINT) AS keep_id, 1 AS n_copies FROM documents WHERE text IS NULL ORDER BY keep_id""")),

    // multimodal: binary payload metadata (schema surface; decode stub is
    // exercised in the ScalaTest suite — no image libs in this container)
    QueryDef("q_multimodal_meta",
      (s, dir) => {
        Tables.documents(s, dir)
          .select(col("doc_id"),
            octet_length(col("text")).cast("long").as("byte_len"),
            (octet_length(col("text")).cast("long") % 997).as("shard"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, strlen(text) AS byte_len, strlen(text) % 997 AS shard FROM documents ORDER BY doc_id""")),

    // int8 embedding quantization: per-vector scale + reconstruction error
    // (floor-based rounding makes the arithmetic engine-portable)
    QueryDef("q_embed_quant",
      (s, dir) => {
        Tables.embeddings(s, dir)
          .select(col("vec_id"),
            Similarity.quantizeInt8(col("embedding")).as("qz"),
            col("embedding").cast("array<double>").as("emb"))
          .select(col("vec_id"), col("qz.scale").as("scale"),
            col("qz.q").as("q"), col("emb"))
          .select(col("vec_id"),
            // floor-based truncation to 9 digits: round(x, n) is NOT
            // engine-portable (Spark decimal HALF_UP vs DuckDB float
            // multiply-round), floor in double IEEE arithmetic is
            (floor(col("scale") * 1e9d + 0.5d) / 1e9d).as("scale_r"),
            expr("CAST(aggregate(q, 0L, (acc, x) -> acc + CAST(x AS LONG)) AS BIGINT)")
              .as("qsum"),
            (floor(expr(
              "array_max(zip_with(q, emb, (qv, x) -> abs(CAST(qv AS DOUBLE) * scale - x)))")
              * 1e9d + 0.5d) / 1e9d)
              .as("err_max"))
          .orderBy("vec_id")
      },
      Some("""SELECT vec_id, FLOOR(scale * 1e9 + 0.5) / 1e9 AS scale_r, CAST(list_sum(q) AS BIGINT) AS qsum, FLOOR(list_max(list_transform(list_zip(q, embedding), p -> abs(CAST(p[1] AS DOUBLE) * scale - CAST(p[2] AS DOUBLE)))) * 1e9 + 0.5) / 1e9 AS err_max FROM (SELECT vec_id, embedding, scale, list_transform(embedding, x -> CAST(CASE WHEN scale = 0 THEN 0 ELSE FLOOR(CAST(x AS DOUBLE) / scale + 0.5) END AS TINYINT)) AS q FROM (SELECT vec_id, embedding, list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale FROM embeddings)) ORDER BY vec_id""")),

    // embedding norms via order-independent decimal summation
    QueryDef("q_embed_norm",
      (s, dir) => {
        Tables.embeddings(s, dir)
          .select(col("vec_id"),
            expr("CAST(aggregate(embedding, CAST(0 AS DECIMAL(27,12)), " +
              "(acc, x) -> CAST(acc + CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) " +
              "AS DECIMAL(27,12)) AS DECIMAL(27,12))) AS DOUBLE)").as("norm_sq"))
          .orderBy("vec_id")
      },
      Some("""SELECT vec_id, CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(27,12))) AS DOUBLE) AS norm_sq FROM (SELECT vec_id, UNNEST(embedding) AS x FROM embeddings) GROUP BY vec_id ORDER BY vec_id""")),

    // skew-salted join: identical results to the plain join (which is the
    // oracle), with the hot key's rows spread over 16 salts
    QueryDef("q_join_salted",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .select(col("l_suppkey"), col("l_quantity"), col("l_orderkey"))
        val sup = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name"))
          .withColumnRenamed("s_suppkey", "l_suppkey")
        graft.operators.ScaleOps.saltedJoin(li, sup, "l_suppkey",
          saltCol = "l_orderkey", saltFactor = 16)
          .groupBy("s_name")
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
          .orderBy("s_name")
      },
      Some(s"""SELECT s_name, COUNT(*) AS n, ${dsumSql("l_quantity")} AS qty FROM lineitem JOIN supplier ON l_suppkey = s_suppkey GROUP BY s_name ORDER BY s_name""")),

    // bloom-pruned selective join: the fact side is pre-filtered by a
    // bloom filter of the (filtered) supplier keys before any shuffle;
    // no false negatives, so the result equals the plain join (oracle)
    QueryDef("q_join_bloom",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .select(col("l_suppkey"), col("l_quantity"))
        val sup = Tables.supplier(s, dir)
          .filter(col("s_nationkey") < 5)
          .select(col("s_suppkey"), col("s_name"))
        graft.operators.ScaleOps.bloomPrunedJoin(li, sup,
          "l_suppkey", "s_suppkey", expectedItems = 100000L)
          .groupBy("s_name")
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
          .orderBy("s_name")
      },
      Some(s"""SELECT s_name, COUNT(*) AS n, ${dsumSql("l_quantity")} AS qty FROM lineitem JOIN (SELECT s_suppkey, s_name FROM supplier WHERE s_nationkey < 5) s ON l_suppkey = s_suppkey GROUP BY s_name ORDER BY s_name""")),

    // binned range join: customers whose balance falls in ±100 of each
    // supplier's balance — an equi-join on bins plus an exact re-check,
    // where a naive BETWEEN join would plan a nested loop
    QueryDef("q_range_join",
      (s, dir) => {
        val cust = Tables.customer(s, dir).select("c_custkey", "c_acctbal")
        val supp = Tables.supplier(s, dir)
          .select(col("s_suppkey"),
            (col("s_acctbal") - 100).as("lo"), (col("s_acctbal") + 100).as("hi"))
        graft.operators.RangeJoin.pointInInterval(
          cust, supp, "c_acctbal", "lo", "hi", binWidth = 200.0)
          .groupBy("s_suppkey")
          .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("bal"))
          .orderBy("s_suppkey")
      },
      Some(s"""SELECT s_suppkey, COUNT(*) AS n, ${dsumSql("c_acctbal")} AS bal FROM supplier JOIN customer ON c_acctbal BETWEEN s_acctbal - 100 AND s_acctbal + 100 GROUP BY s_suppkey ORDER BY s_suppkey""")),

    // cross-document exact-substring REMOVAL (the Lee-et-al cut step;
    // q_span_dedup is the detection half): every token covered by an
    // 8-gram repeated across >= 2 docs is dropped, docs rebuilt from the
    // surviving tokens in order. The oracle replays tokenization, span
    // enumeration, the repeated-span table, position coverage, the
    // anti-join cut and the ordered reassembly.
    QueryDef("q_span_scrub",
      (s, dir) => {
        graft.operators.Corpus.maskRepeatedSpans(
          Tables.documents(s, dir), "doc_id", "text", n = 8, minDocs = 2)
          .orderBy("doc_id")
      },
      Some(spanScrubOracleSql)),

    // the PRODUCTION key posture of the same cut: the repeated-span
    // aggregate and the coverage join key on xxhash64(span) instead of
    // the raw 8-gram strings (the span text never leaves the scan
    // stage — several-fold narrower shuffles at corpus scale, SCALE.md
    // A/B). Two spans merge only on a 64-bit collision, so on any real
    // corpus the OUTPUT is bit-identical to the string-keyed mode and
    // the row shares the full DuckDB replay — the production mode gets
    // a hash-exact oracle, not a certificate.
    QueryDef("q_span_scrub_xx",
      (s, dir) => {
        graft.operators.Corpus.maskRepeatedSpans(
          Tables.documents(s, dir), "doc_id", "text", n = 8, minDocs = 2,
          xx = true)
          .orderBy("doc_id")
      },
      Some(spanScrubOracleSql)),

    // corpus-wide paragraph dedup: global first occurrence of each
    // paragraph survives, documents are rebuilt in order. This corpus has
    // no newlines, so ' the ' stands in as the paragraph delimiter — the
    // dataflow (split, global first-occurrence window, ordered
    // reassembly, empty-doc left join) is delimiter-independent.
    QueryDef("q_para_dedup",
      (s, dir) => {
        graft.operators.Corpus.paragraphDedup(
          Tables.documents(s, dir), "doc_id", "text", " the ")
          .orderBy("doc_id")
      },
      Some("""WITH paras AS (SELECT doc_id, unnest(string_split(text, ' the ')) AS para, generate_subscripts(string_split(text, ' the '), 1) AS pos FROM documents), kept AS (SELECT doc_id, para, pos FROM paras QUALIFY row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) = 1), rebuilt AS (SELECT doc_id, string_agg(para, ' the ' ORDER BY pos) AS clean_text, COUNT(*) AS n_kept FROM kept GROUP BY doc_id) SELECT d.doc_id, coalesce(r.clean_text, '') AS clean_text, coalesce(r.n_kept, 0) AS n_kept FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id ORDER BY d.doc_id""")),

    // benchmark decontamination: training docs sharing an 8-gram with the
    // held-out "benchmark" slice (doc_id % 7 == 0), with the count of
    // distinct shared grams. The oracle rebuilds the same word 8-grams
    // (incl. the short-doc whole-text gram) with a windowed string_agg.
    QueryDef("q_decontaminate",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val bench = docs.filter(col("doc_id") % 7 === 0)
        val train = docs.filter(col("doc_id") % 7 =!= 0)
        graft.operators.Corpus.decontaminationHits(
          train, bench, "doc_id", "text", n = 8)
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok, generate_subscripts(string_split_regex(trim(lower(text)), '\s+'), 1) AS pos, len(string_split_regex(trim(lower(text)), '\s+')) AS ntok FROM documents), grams AS (SELECT doc_id, string_agg(tok, ' ') OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS gram FROM toks QUALIFY pos + 7 <= ntok OR (ntok < 8 AND pos = 1)), bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 7 = 0), hits AS (SELECT t.doc_id, COUNT(DISTINCT t.gram) AS n_hits FROM (SELECT * FROM grams WHERE doc_id % 7 <> 0) t JOIN bench b ON t.gram = b.gram GROUP BY t.doc_id) SELECT doc_id, n_hits FROM hits ORDER BY doc_id""")),

    // repeated-span detection (substring-level exact dedup): word 8-grams
    // occurring in >= 2 distinct documents — boilerplate spliced INTO
    // otherwise-unique text, which document- and paragraph-level dedup
    // both miss. One narrow codegen'd n-gram pass; the only shuffle is
    // the span groupBy. Top 20 by document frequency (span text is the
    // total-order tie-break).
    QueryDef("q_span_dedup",
      (s, dir) => {
        graft.operators.Corpus.repeatedSpans(
          Tables.documents(s, dir), "doc_id", "text", n = 8, minDocs = 2)
          .orderBy(col("n_docs").desc, col("n_occ").desc, col("span"))
          .limit(20)
      },
      Some(raw"""WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t FROM documents), grams AS (SELECT doc_id, array_to_string(t[i:i+7], ' ') AS span FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS g(i) WHERE len(t) >= 8) SELECT span, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ FROM grams GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2 ORDER BY n_docs DESC, n_occ DESC, span LIMIT 20""")),

    // BM25 relevance scoring (k1 = 1.2, b = 0.75) of a fixed 3-term query
    // over the corpus: tf/df/dl from one tokenization pass, the df and
    // corpus stats frames are literal-sized broadcasts, the only
    // data-scale shuffle is the (doc, term) tf groupBy. Scores are
    // rounded per term BEFORE the decimal-exact sum so both engines
    // aggregate identical addends in any order.
    QueryDef("q_text_bm25",
      (s, dir) => {
        val terms = Seq("spark", "query", "data")
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"),
            graft.operators.Corpus.spanTokens(col("text")).as("t"))
          .select(col("doc_id"), size(col("t")).as("dl"), col("t"))
        val tf = toks
          .select(col("doc_id"), col("dl"), explode(col("t")).as("tok"))
          .filter(col("tok").isin(terms: _*))
          .groupBy("doc_id", "dl", "tok").agg(count(lit(1)).as("tf"))
        val stats = toks.agg(count(lit(1)).as("n_docs"),
          (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
        val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        tf.join(broadcast(dfreq), "tok")
          .crossJoin(broadcast(stats))
          .withColumn("idf",
            log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
          .withColumn("score", round(col("idf") * col("tf") * 2.2 /
            (col("tf") + (col("dl") / col("avgdl") * 0.75 + 0.25) * 1.2), 6))
          .groupBy("doc_id").agg(dsum(col("score")).as("bm25"))
          .orderBy(col("bm25").desc, col("doc_id"))
          .limit(15)
      },
      Some(raw"""WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t FROM documents), dls AS (SELECT doc_id, len(t) AS dl, t FROM toks), stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dls), tf AS (SELECT doc_id, dl, tok, COUNT(*) AS tf FROM (SELECT doc_id, dl, unnest(t) AS tok FROM dls) WHERE tok IN ('spark', 'query', 'data') GROUP BY 1, 2, 3), dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1), scored AS (SELECT doc_id, ROUND(LN((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2 / (tf + ((dl / avgdl) * 0.75 + 0.25) * 1.2), 6) AS score FROM tf JOIN dfreq USING (tok) CROSS JOIN stats) SELECT doc_id, ${dsumSql("score")} AS bm25 FROM scored GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 15""")),

    // deterministic weighted sampling (A-ES, weight = n_chars): the k
    // rows with the largest md5-derived u^(1/w) — proportional-to-weight
    // inclusion, replayed exactly by the oracle. TakeOrdered top-k: no
    // global sort.
    QueryDef("q_weighted_sample",
      (s, dir) => {
        graft.operators.ScaleOps.weightedSample(
          Tables.documents(s, dir), "doc_id", "n_chars", k = 200)
          .groupBy("lang")
          .agg(count(lit(1)).as("n"),
            sum(col("n_chars")).cast("long").as("chars_sum"))
          .orderBy("lang")
      },
      Some("""WITH w AS (SELECT *, POW((CAST(('0x' || substring(md5(doc_id || '|17'), 1, 8)) AS BIGINT) + 1.0) / 4294967297.0, 1.0 / n_chars) AS wkey FROM documents WHERE n_chars > 0), top AS (SELECT * FROM w ORDER BY wkey DESC, doc_id LIMIT 200) SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars_sum FROM top GROUP BY 1 ORDER BY 1""")),

    // per-document unigram token entropy (repetitive/boilerplate text
    // scores low): H = ln N - (sum c*ln c)/N from one tokenize pass and
    // two keyed aggregations; per-term contributions rounded before the
    // decimal-exact sum so both engines add identical addends
    QueryDef("q_text_entropy",
      (s, dir) => {
        // spread (guarded) before the token explode + counting aggregate
        // (serialized behind the 1-row-group scan, r21); counts are exact
        // and the nll addends round before the decimal sum, so placement
        // cannot change the result
        graft.operators.ScaleOps.spreadCpu(
            Tables.documents(s, dir).select("doc_id", "text"))
          .select(col("doc_id"),
            explode(graft.operators.Corpus.spanTokens(col("text"))).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
          .groupBy("doc_id").agg(
            sum("c").as("n_tok"),
            dsum(round(col("c") * log(col("c")), 6)).as("clogc"))
          .select(col("doc_id"), col("n_tok"),
            round(log(col("n_tok")) - col("clogc") / col("n_tok"), 6)
              .as("entropy"))
          .orderBy("doc_id")
      },
      Some(raw"""WITH toks AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS tok FROM documents), counts AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2), agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok, ${dsumSql("ROUND(c * LN(c), 6)")} AS clogc FROM counts GROUP BY 1) SELECT doc_id, n_tok, ROUND(LN(n_tok) - clogc / n_tok, 6) AS entropy FROM agg ORDER BY doc_id""")),

    // streaming CDC materialization run in batch: per-user latest event
    // via mapGroupsWithState keyed state (version = unique event_id,
    // tombstone = error events), aggregated per deletion status. The
    // oracle states the same materialization as a windowed latest-per-key.
    QueryDef("q_stream_upsert",
      (s, dir) => {
        import s.implicits._
        val changes = Tables.events(s, dir).select(
          col("user_id").as("key"), col("event_id").as("version"),
          col("value"), (col("event_type") === "error").as("deleted"))
          .as[graft.streaming.StreamUpsert.Change]
        graft.streaming.StreamUpsert.latestState(changes).toDF()
          .groupBy("deleted")
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
          .orderBy("deleted")
      },
      Some(s"""WITH latest AS (SELECT user_id, value, event_type = 'error' AS deleted, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events) SELECT deleted, COUNT(*) AS n, ${dsumSql("value")} AS value_sum FROM latest WHERE rn = 1 GROUP BY 1 ORDER BY 1""")),

    // cohort retention: users bucketed by first-seen week, distinct-active
    // counts per subsequent week offset — two keyed aggregations and one
    // join on the user id; offsets are exact multiples of 7 days (both
    // sides week-truncated) so the integer division is engine-exact
    QueryDef("q_cohort_retention",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val firstSeen = ev.groupBy("user_id")
          .agg(min(date_trunc("week", col("ts"))).as("cohort_week"))
        ev.select(col("user_id"), date_trunc("week", col("ts")).as("active_week"))
          .distinct()
          .join(firstSeen, "user_id")
          .groupBy(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
            expr("CAST(datediff(active_week, cohort_week) / 7 AS BIGINT)")
              .as("week_offset"))
          .agg(count(lit(1)).as("n_active"))
          .orderBy("cohort_week", "week_offset")
      },
      Some("""WITH f AS (SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_week FROM events GROUP BY 1), a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events) SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week, CAST(datediff('day', cohort_week, active_week) / 7 AS BIGINT) AS week_offset, COUNT(*) AS n_active FROM a JOIN f USING (user_id) GROUP BY 1, 2 ORDER BY 1, 2""")),

    // incremental aggregate maintenance: per-status aggregates built from
    // 3/4 of the facts, then the remaining quarter merged in as PARTIAL
    // aggregates — the oracle computes the full aggregate from scratch, so
    // a hash match PROVES incremental == full (associativity honored)
    QueryDef("q_incr_agg",
      (s, dir) => {
        val ord = Tables.orders(s, dir)
        def partial(df: org.apache.spark.sql.DataFrame) = df
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(27,6)")).as("price_sum"),
            max(col("o_totalprice")).as("price_max"))
        val state = partial(ord.filter(col("o_orderkey") % 4 =!= 0))
        val delta = partial(ord.filter(col("o_orderkey") % 4 === 0))
        graft.operators.ScaleOps.mergeAggState(state, delta,
            Seq("o_orderstatus"),
            Seq("n" -> "sum", "price_sum" -> "sum", "price_max" -> "max"))
          .select(col("o_orderstatus"), col("n"),
            col("price_sum").cast("double").as("price_sum"), col("price_max"))
          .orderBy("o_orderstatus")
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n, ${dsumSql("o_totalprice")} AS price_sum, MAX(o_totalprice) AS price_max FROM orders GROUP BY 1 ORDER BY 1""")),

    // ordered funnel (view -> click -> purchase): deepest in-order step
    // per user via one keyed collect + higher-order fold; the oracle
    // states the same greedy earliest-match as chained min-after joins
    QueryDef("q_funnel",
      (s, dir) => {
        graft.operators.Funnel.report(Tables.events(s, dir),
          "user_id", "event_id", "event_type",
          Seq("view", "click", "purchase"))
          .orderBy("step")
      },
      Some("""WITH s1 AS (SELECT user_id, MIN(event_id) AS p FROM events WHERE event_type = 'view' GROUP BY 1), s2 AS (SELECT e.user_id, MIN(e.event_id) AS p FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.event_id > s1.p WHERE e.event_type = 'click' GROUP BY 1), s3 AS (SELECT e.user_id, MIN(e.event_id) AS p FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.event_id > s2.p WHERE e.event_type = 'purchase' GROUP BY 1) SELECT * FROM (SELECT 1 AS step, 'view' AS step_name, COUNT(*) AS n_keys FROM s1 UNION ALL SELECT 2, 'click', COUNT(*) FROM s2 UNION ALL SELECT 3, 'purchase', COUNT(*) FROM s3) ORDER BY step""")),

    // time-bounded funnel: steps 2..N must occur within 3 days of the
    // step-1 match (greedy first anchor, carried in the fold accumulator;
    // (user_id, ts) is unique in this dataset so the min-order replay
    // below is exact). The oracle carries the anchor p1 through each
    // stage and re-applies the window bound per step.
    QueryDef("q_funnel_windowed",
      (s, dir) => {
        val steps = Seq("view", "click", "purchase")
        graft.operators.Funnel.reportFrom(
          graft.operators.Funnel.deepestStepWindowed(
            Tables.events(s, dir), "user_id", unix_micros(col("ts")),
            "event_type", steps, window = 3L * 86400L * 1000000L),
          steps)
          .orderBy("step")
      },
      Some("""WITH ev AS (SELECT user_id, epoch_us(ts) AS o, event_type FROM events), s1 AS (SELECT user_id, MIN(o) AS p FROM ev WHERE event_type = 'view' GROUP BY 1), s2 AS (SELECT e.user_id, MIN(e.o) AS p, MIN(s1.p) AS p1 FROM ev e JOIN s1 ON e.user_id = s1.user_id AND e.o > s1.p AND e.o <= s1.p + 259200000000 WHERE e.event_type = 'click' GROUP BY 1), s3 AS (SELECT e.user_id, MIN(e.o) AS p FROM ev e JOIN s2 ON e.user_id = s2.user_id AND e.o > s2.p AND e.o <= s2.p1 + 259200000000 WHERE e.event_type = 'purchase' GROUP BY 1) SELECT * FROM (SELECT 1 AS step, 'view' AS step_name, COUNT(*) AS n_keys FROM s1 UNION ALL SELECT 2, 'click', COUNT(*) FROM s2 UNION ALL SELECT 3, 'purchase', COUNT(*) FROM s3) ORDER BY step""")),

    // --- no-oracle (rows-only gate; verified in ScalaTest vs exact) ------

    // Guaranteed per-language heavy hitters — the sketch-then-verify
    // pattern: the Misra-Gries summary (whose retained TAIL is merge-
    // order-dependent) is only the CANDIDATE set; every candidate (<= k
    // per language, broadcast) is recounted exactly, and the output keeps
    // terms whose exact count clears the n/(k+1) presence guarantee.
    // That set is DETERMINISTIC — the guarantee says any such term
    // survives every merge order — so the query is oracle-checkable even
    // though the raw sketch is not; DuckDB replays it as a plain
    // HAVING-count query. The scale shape is the production one: the
    // sketch pass bounds the candidate space so the exact pass counts k
    // terms per language, not the whole vocabulary. The raw-sketch
    // surface stays covered by q_stream_topterms + the guarantee specs.
    QueryDef("q_text_topterms",
      (s, dir) => {
        val k = topTermsK
        // lang is projected in its own select BELOW the explode: fused
        // into one select, ExtractGenerator would hoist the scoring
        // kernel into the Project ABOVE Generate and evaluate it once
        // per TOKEN instead of once per document.
        // staged once (eager checkpoint): three consumers below (sketch,
        // exact recount, per-language totals) would otherwise each
        // replay the scoring and the explode per document.
        // TRAINED per-language grouping (r19; 64 languages since r20): the pinned
        // model via the fused MulticlassArgmax kernel (0.42x the marker
        // CASE this replaced — SCALE.md r18 A/B)
        // the spread sits INSIDE the eager stage (downstream reuse reads
        // the snapshot): the langid argmax kernel + tokenize + explode
        // ran serialized behind the 1-split scan (r21)
        val toks = Staging.snapshot(
          graft.operators.LangIdTrained.withLangPinned(
              graft.operators.ScaleOps.spreadCpu(
                Tables.documents(s, dir).select(col("doc_id"), col("text"))),
              "text", "lang")
            .select(col("lang"),
              TextAnalysis.tokens(lower(col("text"))).as("toks"))
            .select(col("lang"), explode(col("toks")).as("tok"))
            .filter(length(col("tok")) > 3))
        val cands = toks.groupBy("lang")
          .agg(graft.functions.Aggregators.heavyHitters(col("tok"), k).as("top"))
          .select(col("lang"), explode(col("top")).as("t"))
          .select(col("lang"), col("t.term").as("tok"))
        val exact = toks.join(broadcast(cands), Seq("lang", "tok"), "left_semi")
          .groupBy("lang", "tok").agg(count(lit(1)).as("n"))
        val tot = toks.groupBy("lang").agg(count(lit(1)).as("n_lang"))
        exact.join(tot, "lang")
          .filter(col("n") > col("n_lang") / (k + 1.0))
          .select(col("lang"), col("tok"), col("n"))
          .orderBy("lang", "tok")
      },
      Some(topTermsOracleSql(k = topTermsK))),

    // BPE tokenizer: merges learned from the distributed word-frequency
    // table (driver loop is vocab-sized — the standard trainer shape),
    // corpus re-tokenized with broadcast ranks; top subwords reported.
    // ORACLE-CHECKED since round 12 — the full TRAINING replays: the
    // merge loop is deterministic arithmetic over the word-frequency
    // table, so the oracle unrolls all 64 rounds as generated CTEs
    // (pair counts from the current segmentation, the engine's exact
    // (count desc, a asc, b asc) best-pair tie-break, the sentinel-
    // wrapped replace() as mergePair — q_bpe_encode's construction),
    // then censuses the final vocab segmentation. Valid because every
    // corpus token is ^[a-z]+$ with count >= minCount (canaried), so
    // the trained vocab covers the corpus and encode == training
    // segmentation (the train/encode parity spec).
    QueryDef("q_bpe_tokenize",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val model = graft.operators.Bpe.train(docs, "text", numMerges = 64)
        graft.operators.Bpe.tokenize(docs, "doc_id", "text", model)
          .select(explode(col("subwords")).as("sw"))
          .groupBy("sw").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("sw")).limit(20)
      },
      Some(bpeTrainOracleSql(numMerges = 64, minCount = 2, topk = 20))),

    // BPE ENCODING against a FIXED literal merge table — the serving-time
    // half of the tokenizer, split out so it is oracle-checkable:
    // training is iterative (q_bpe_tokenize stays rows-only by design),
    // but encoding is deterministic rank-greedy merging, which DuckDB
    // replays with a recursive CTE (lowest-rank present pair, all
    // occurrences merged left-to-right non-overlapping per step — the
    // sentinel-wrapped string replace() reproduces Bpe.mergePair exactly).
    // Corpus-scale shape: one scan + token explode + word-keyed count
    // shuffle; the per-distinct-word encode is vocabulary-sized. Words
    // are restricted to ^[a-z]+$ on both sides (the sentinel encoding
    // needs a '|'-free, '</w>'-free symbol alphabet).
    QueryDef("q_bpe_encode",
      (s, dir) => {
        import s.implicits._
        val model = graft.operators.Bpe.Model(bpeLiteralMerges)
        Tables.documents(s, dir)
          .select(explode(graft.operators.Corpus.spanTokens(col("text"))).as("w"))
          .filter(col("w").rlike("^[a-z]+$"))
          .groupBy("w").agg(count(lit(1)).as("n_occ"))
          .as[(String, Long)]
          .mapPartitions(_.map { case (w, n) =>
            val sub = graft.operators.Bpe.encodeWord(w, model)
            (w, n, sub.mkString(" "), sub.length.toLong)
          })
          .toDF("word", "n_occ", "subwords", "n_subwords")
          .orderBy("word")
      },
      Some(bpeEncodeOracleSql)),

    // BYTE-LEVEL BPE encoding against a fixed literal merge table — the
    // real tokenizer shape (GPT-2 family): a regex pre-tokenizer (spaces
    // attach to the following token), UTF-8 bytes as fixed-width hex
    // symbols, rank-greedy merging with NO end-of-word marker and NO
    // out-of-vocabulary failure mode. The corpus gets the q_text_cjk
    // multilingual suffix so multi-byte UTF-8 is actually exercised: the
    // merge table rebuilds whole Han/kana characters from their bytes
    // (e6+9c, e69c+ba = U+673A) next to English merges and a rank
    // priority inversion. The oracle replays pre-tokenization (shared
    // pattern), the hex byte split, and the recursive-CTE rank-greedy
    // loop (q_bpe_encode's sentinel construction — hex symbols are
    // '|'-free by construction, so no word filter is needed: EVERY
    // pre-token of the corpus is encoded, which is the point of
    // byte-level). Corpus-scale shape: one scan + pre-token explode +
    // token-keyed count shuffle; the per-distinct-token encode is
    // vocabulary-sized.
    QueryDef("q_bpe_bytes",
      (s, dir) => {
        import s.implicits._
        val model = graft.operators.Bpe.Model(bpeByteMerges)
        Tables.documents(s, dir)
          .select(concat(coalesce(col("text"), lit("")),
            lit(" " + CjkZhSentence + " " + CjkJaPhrase)).as("t"))
          .select(explode(graft.operators.Bpe.pretokenize(col("t"))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("n_occ"))
          .as[(String, Long)]
          .mapPartitions(_.map { case (w, n) =>
            val sub = graft.operators.Bpe.encodeBytes(w, model)
            (w, n, sub.mkString(" "), sub.length.toLong)
          })
          .toDF("word", "n_occ", "subwords", "n_subwords")
          .orderBy("word")
      },
      Some(bpeBytesOracleSql)),

    // UNIGRAM-LM (SentencePiece-style) ENCODING against a FIXED literal
    // piece table — the serving-time Viterbi kernel isolated: per word,
    // best(p) = max_k best(p-k) * prob(piece), smallest-k tie-break,
    // backtrace to the piece stream. Probabilities are exact dyadic
    // rationals (weight / 4096 — one IEEE division each) and every DP
    // step is one multiplication + comparisons in a FIXED order, so the
    // oracle's recursive-CTE replay (forward DP with GREATEST over the
    // four statically-unrolled candidates, then a backtrace recursion)
    // is bit-identical. The literal table deliberately OMITS
    // {j,k,q,v,w,x,y,z}, so real corpus words (join, spark, key,
    // window, query) exercise the pUnk out-of-vocabulary price — the
    // path q_unigram_tokenize's fully-covered trained vocab never hits.
    QueryDef("q_unigram_encode",
      (s, dir) => {
        import s.implicits._
        val model = graft.operators.Unigram.Model(
          unigramLiteralPieces.map { case (p, w) => p -> w / 4096.0 }.toMap,
          maxPieceLen = 4)
        Tables.documents(s, dir)
          .select(explode(graft.operators.Corpus.spanTokens(col("text"))).as("w"))
          .filter(col("w").rlike("^[a-z]+$"))
          .groupBy("w").agg(count(lit(1)).as("n_occ"))
          .as[(String, Long)]
          .mapPartitions(_.map { case (w, n) =>
            val (ps, _) = graft.operators.Unigram.segment(w, model)
            (w, n, ps.mkString(" "), ps.length.toLong)
          })
          .toDF("word", "n_occ", "pieces", "n_pieces")
          .orderBy("word")
      },
      Some(unigramEncodeOracleSql)),

    // UNIGRAM-LM TRAINING, fully oracle-replayed (the q_bpe_tokenize
    // discipline applied to the EM family): the corpus word-frequency
    // pass, the seed-substring vocabulary (every substring of length
    // 1..4, counts summed over word frequencies, multi-char pieces
    // capped), TWO hard-EM rounds (probs = count / total in single IEEE
    // divisions; Viterbi counts via the recursive-CTE DP; Laplace +1 on
    // single chars so coverage never breaks; top-64 multi-char prune on
    // (count desc, piece asc)) and the final corpus encode — ALL
    // replayed in one generated SQL chain, so a drift anywhere in seed
    // extraction, EM accounting, pruning order, probability arithmetic
    // or the DP kernel flips rows. AS MATERIALIZED throughout (each EM
    // round references its predecessors repeatedly — the kmeansCtes
    // exponential-inlining lesson).
    QueryDef("q_unigram_tokenize",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val model = graft.operators.Unigram.train(docs, "text")
        docs
          .select(explode(graft.operators.Corpus.spanTokens(col("text"))).as("w"))
          .filter(col("w").rlike("^[a-z]+$"))
          .groupBy("w").agg(count(lit(1)).as("n_occ"))
          .as[(String, Long)]
          .mapPartitions(_.map { case (w, n) =>
            val (ps, _) = graft.operators.Unigram.segment(w, model)
            (w, n, ps.mkString(" "), ps.length.toLong)
          })
          .toDF("word", "n_occ", "pieces", "n_pieces")
          .orderBy("word")
      },
      Some(unigramTrainOracleSql())),

    // multimodal pipeline: payload -> decode (real ImageIO pixel path,
    // header/stub geometry fallback for these non-image payloads) ->
    // aspect-preserving resize -> batched feature extraction (stub
    // encoder). ORACLE-CHECKED since round 12: every number in the
    // aggregate is deterministic arithmetic — the geometry replays the
    // stub header fold (q_multimodal_geom's construction) and the stub
    // encoder is the same mod-2^64 byte fold remixed per dimension into
    // 16-bit/65536 dyadic floats, whose squared-sum norm is EXACT in
    // doubles (<= 36 significant bits) and sqrt is correctly-rounded
    // IEEE in both engines; floor-based rounding + decimal dsum finish
    // the cross-engine identity. The real ImageIO pixel branch stays
    // spec-verified on actual image payloads (MultimodalSpec).
    QueryDef("q_multimodal_pipeline",
      (s, dir) => {
        val pay = graft.operators.Multimodal.withPayload(
          Tables.documents(s, dir), "text", "payload")
        val resized = graft.operators.Multimodal.resampleImages(
          pay, "doc_id", "payload", maxW = 64, maxH = 64)
        val feats = graft.operators.Multimodal.extractFeatures(
          pay, "doc_id", "payload", dim = 16)
        resized.join(feats, "id")
          .agg(count(lit(1)).as("n_assets"),
            sum(col("out_w").cast("long")).as("out_w_sum"),
            dsum(floor(graft.operators.Similarity.norm(
              col("feature").cast("array<double>")) * 1e6d + 0.5d) / 1e6d)
              .as("feat_norm_sum"))
      },
      Some(multimodalPipelineOracleSql(maxW = 64, maxH = 64, dim = 16))),

    // multimodal resize GEOMETRY, oracle-checked: the full resample
    // pipeline's per-asset output dims and `resampled` flag are pure
    // arithmetic over the decoded header dims — which for these text-
    // derived payloads are the deterministic stub's FNV-fold dims
    // (no corpus text carries an image magic prefix; canaried in
    // SchemaCanarySpec), and ImageIO decodes none of them (`resampled`
    // false, pixel path quarantined). DuckDB replays the byte fold in
    // HUGEINT mod-2^64 arithmetic (signed bytes, JVM Long wraparound),
    // the stub's dim derivation, and fitBox's half-up rounding; the
    // pixel buffers stay spec-verified on real PNG/GIF/BMP payloads in
    // MultimodalSpec.
    QueryDef("q_multimodal_geom",
      (s, dir) => {
        val pay = graft.operators.Multimodal.withPayload(
          Tables.documents(s, dir), "text", "payload")
        graft.operators.Multimodal.resampleImages(
          pay, "doc_id", "payload", maxW = 64, maxH = 64)
          .select(col("id").as("doc_id"), col("out_w"), col("out_h"),
            col("resampled"))
          .orderBy("doc_id")
      },
      Some(multimodalGeomOracleSql(maxW = 64, maxH = 64))),

    // deterministic train/val/test hash split: md5-derived assignment the
    // oracle replays exactly in SQL (cuts at 800000/900000 of the 1e6
    // resolution for 0.8/0.1/0.1; seed 7 is hashSplit's default) —
    // determinism/exhaustiveness additionally verified in ScaleOpsSpec
    QueryDef("q_sample_split",
      (s, dir) => {
        graft.operators.ScaleOps.hashSplit(
          Tables.documents(s, dir), "doc_id", Seq(0.8, 0.1, 0.1))
          .groupBy("split").agg(count(lit(1)).as("n"))
          .orderBy("split")
      },
      Some("""SELECT CASE WHEN h < 800000 THEN 0 WHEN h < 900000 THEN 1 ELSE 2 END AS split, COUNT(*) AS n FROM (SELECT CAST(('0x' || substring(md5(doc_id || '|7'), 1, 8)) AS BIGINT) % 1000000 AS h FROM documents) GROUP BY 1 ORDER BY 1""")),

    // document fingerprinting (rolling hash). The md5 token-hash mode is
    // used here so the fold is DuckDB-replayable: the oracle rebuilds the
    // same acc*31 + h chain in HUGEINT arithmetic mod 2^64 and converts
    // to signed, matching JVM Long wraparound exactly. (The xxhash64
    // default, TextAnalysis.fingerprint, stays spec-covered.)
    QueryDef("q_text_fingerprint",
      (s, dir) => {
        Tables.documents(s, dir)
          .select(col("doc_id"),
            TextAnalysis.fingerprintMd5(coalesce(col("text"), lit(""))).as("fp"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(CASE WHEN r >= 9223372036854775808::HUGEINT THEN r - 18446744073709551616::HUGEINT ELSE r END AS BIGINT) AS fp FROM (SELECT doc_id, list_reduce(list_prepend(0::HUGEINT, list_transform(regexp_split_to_array(trim(COALESCE(text, '')), '\s+'), t -> CAST(CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT) AS HUGEINT))), (acc, h) -> (acc * 31 + h) % 18446744073709551616::HUGEINT) AS r FROM documents) ORDER BY doc_id""")),

    // MinHash-LSH near-duplicate pairs, run in md5 oracle mode: the
    // DuckDB oracle recomputes the WHOLE pipeline (shingles, affine
    // signatures, banding, bounded pairs, exact-Jaccard verify) and
    // hash-compares — see Dedup.minhashNearDupsMd5. The xxhash64 kernel
    // path stays the production default; OperatorsSpec pins the two
    // modes to identical pairs on clear-cut duplicates.
    QueryDef("q_dedup_minhash",
      (s, dir) => {
        Dedup.minhashNearDupsMd5(Tables.documents(s, dir), "doc_id", "text",
          threshold = 0.5)
          .orderBy("id_a", "id_b")
      },
      Some(minhashMd5OracleSql(bands = 8, rows = 4, threshold = 0.5))),

    // incremental dedup maintenance: docs ending in 0 arrive as the "new
    // batch" and dedup against a minhashIndex of the rest — no corpus
    // shuffle, delta bands broadcast. md5 oracle mode: DuckDB replays the
    // split, both candidate generators (incl. the per-new-id cap), and
    // the verify
    // CJK near-dup dedup through segmentation COMPOSITION: the corpus is
    // transliterated into no-whitespace Han text (translate: letter ->
    // Han codepoint, space deleted — both engines share the deletion
    // rule), which makes whitespace tokenization blind (one giant token
    // per doc -> no shingle structure), then segmentScripts restores
    // per-character tokens and the UNCHANGED md5 minhash pipeline runs
    // on top — the pre-tokenization-normalizer design: every
    // textCol-taking operator (dedup index, BPE, inverted index, ...)
    // gains CJK support by composing, no per-operator plumbing. The
    // oracle replays transliteration + segmentation in the source
    // subquery and reuses the SAME banded/cands/verify SQL chain as
    // q_dedup_minhash verbatim.
    QueryDef("q_dedup_cjk",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"),
          TextAnalysis.segmentScripts(
            translate(lower(col("text")), CjkTransFrom, CjkTransTo))
            .as("text"))
        Dedup.minhashNearDupsMd5(docs, "doc_id", "text", threshold = 0.5)
          .orderBy("id_a", "id_b")
      },
      Some(minhashMd5OracleSql(bands = 8, rows = 4, threshold = 0.5,
        src = raw"(SELECT doc_id, regexp_replace(translate(lower(text), " +
          s"'$CjkTransFrom', '$CjkTransTo'), " +
          s"'${TextAnalysis.SegmentPattern}', " +
          s"'${TextAnalysis.SegmentReplDuck}', 'g') AS text " +
          "FROM documents) src_cjk"))),

    QueryDef("q_dedup_incremental",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val index = Dedup.minhashIndexMd5(
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
        Dedup.minhashIncrementalNearDupsMd5(index,
          docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
          threshold = 0.5)
          .orderBy("id_a", "id_b")
      },
      Some(minhashMd5IncrementalOracleSql(bands = 8, rows = 4,
        threshold = 0.5))),

    // SimHash near-dup pairs. The 4x16-bit banding guarantees completeness
    // only up to Hamming distance 3 (pigeonhole), so the query filters at
    // exactly that bound: within the hot-bucket cap the output is the
    // complete set of pairs at Hamming distance <= 3 (an over-cap
    // boilerplate bucket degrades to connectivity-preserving star pairs).
    // md5 oracle mode: DuckDB replays tokens, per-bit majority votes,
    // chunk banding, bounded pairs, and XOR-popcount hamming end to end
    // (Dedup.simhashCandidatesMd5); the xxhash64 kernel stays the
    // production default, with the shared exact-duplicate invariant of
    // the two modes pinned in OperatorsSpec.
    QueryDef("q_dedup_simhash",
      (s, dir) => {
        Dedup.simhashCandidatesMd5(Tables.documents(s, dir), "doc_id", "text")
          .filter(col("hamming") <= 3)
          .orderBy("id_a", "id_b")
      },
      Some(simhashMd5OracleSql())),

    // ---- production-default XXH64 kernels, declared for MEASUREMENT ----
    // The md5 twins above carry the full hash-replay oracle; these rows
    // keep the xxhash64 production kernels (native codegen Expressions in
    // functions/LshExpressions.scala / HashEmbed.scala) on the DECLARED
    // surface so they are benched and floor-guarded every round — Bench
    // times the raw production pipeline (`fn`). SINCE ROUND 13 their
    // correctness rows are no longer rows-only: `verifyFn` emits a one-row
    // DIFFERENTIAL CERTIFICATE (queries/Differential.scala) — md5-twin row
    // count (DuckDB recomputes it), exact-duplicate ground truth + recall
    // contract, and the xx-vs-md5 pair-set Jaccard contract — so every
    // declared row is oracle-checked by something and a kernel regression
    // goes red in CORRECTNESS, not only in HashModeAgreementSpec.

    // q_dedup_minhash's production mode: same banding geometry, exact
    // jaccard verify, same threshold — the pipeline q_dedup_minhash
    // replays in md5, here under the XXH64 shingle/signature kernels
    QueryDef("q_dedup_minhash_xx",
      (s, dir) => {
        Dedup.minhashNearDups(Tables.documents(s, dir), "doc_id", "text",
          threshold = 0.5)
          .orderBy("id_a", "id_b")
      },
      Some(pairCertOracleSql(minhashMd5OracleSql(bands = 8, rows = 4,
        threshold = 0.5), minTokens = 3)),
      verifyFn = Some((s, dir) => {
        val docs = Tables.documents(s, dir)
        Differential.pairCertificate(docs, "doc_id", "text",
          Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5),
          Dedup.minhashNearDupsMd5(docs, "doc_id", "text", threshold = 0.5),
          jaccardBound = diffJaccardBound, recallBound = diffRecallBound,
          minTokens = 3) // k=3 shingles: fewer tokens -> empty set -> 0/0 verify
      })),

    // q_dedup_simhash's production mode: XXH64 token hashes through the
    // native SimHash64 kernel, same 4x16 banding + hamming<=3 contract.
    // SimHash's OUTPUT is hash-dependent (the hamming distances live on
    // the signatures themselves), so cross-mode pair agreement is
    // structurally lower than the minhash family's AND decays with
    // corpus size — the r14 DiffProbe sweep (3 SFs x 4 deterministic
    // subsamples, bench/diffprobe_simhash_r14.txt) measured healthy
    // jaccard 0.67/0.60 (sf0.001), 0.33-0.50 (sf0.01), 0.19-0.30
    // (sf0.1). The jaccard bound is therefore pinned BELOW the worst
    // healthy reading (0.1892) as a gross-divergence tripwire only; the
    // SENSITIVE kernel law is the twin_sig_agreement certificate term
    // (Differential.sigMedianAgreement): the twin's oracle-verified
    // pairs must sit at small PRODUCTION-signature hamming (sweep p50 =
    // 0..4 everywhere; a degraded kernel randomizes them to ~32; bound
    // 10 = 2.5x the worst healthy median). A kernel that silently LOSES
    // pairs keeps jaccard high but cannot pass the recall + signature
    // laws together.
    QueryDef("q_dedup_simhash_xx",
      (s, dir) => {
        Dedup.simhashCandidates(Tables.documents(s, dir), "doc_id", "text")
          .filter(col("hamming") <= 3)
          .orderBy("id_a", "id_b")
      },
      Some(pairCertOracleSql(simhashMd5OracleSql(),
        extraBoolCols = Seq("twin_sig_agreement_ok"))),
      verifyFn = Some((s, dir) => {
        val docs = Tables.documents(s, dir)
        val twin = Dedup.simhashCandidatesMd5(docs, "doc_id", "text")
          .filter(col("hamming") <= 3)
        val sigsXx = docs.select(col("doc_id").as("id"),
          Dedup.simhash(col("text")).as("sig"))
        Differential.pairCertificate(docs, "doc_id", "text",
          Dedup.simhashCandidates(docs, "doc_id", "text")
            .filter(col("hamming") <= 3),
          twin,
          jaccardBound = diffSimhashJaccardBound,
          recallBound = diffRecallBound)
          .crossJoin(Differential.sigMedianAgreement(twin, sigsXx,
            maxHamming = diffSimhashSigMedianBound))
      })),

    // n-gram Jaccard near-dup pairs (exact verify over LSH candidates),
    // md5 oracle mode at a wider 16x2 banding / lower threshold
    QueryDef("q_dedup_ngram",
      (s, dir) => {
        Dedup.minhashNearDupsMd5(Tables.documents(s, dir), "doc_id", "text",
          threshold = 0.3, bands = 16, rows = 2)
          .orderBy("id_a", "id_b")
      },
      Some(minhashMd5OracleSql(bands = 16, rows = 2, threshold = 0.3))),

    // per-probe contamination attribution — the complement of
    // q_decontaminate's per-training-doc census (that one collapses the
    // bench side to a single hash set, so WHICH probe leaked is not
    // recoverable from it): every ~1% of docs stands in as the held-out
    // probe set, and the report counts, per probe, the corpus documents
    // sharing >= minShared distinct word 3-shingles with it. Probe
    // shingles BROADCAST onto one corpus scan; the only shuffle is the
    // match-proportional pair aggregate. md5 mode -> DuckDB replays
    // shingling, hashing, the distinct-hash join, and both aggregates;
    // xx-kernel equality is spec-pinned (OperatorsSpec).
    QueryDef("q_contamination",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val probes = docs.filter(col("doc_id") % contaminationProbeMod === 0)
        graft.operators.Corpus.ngramContamination(docs, probes, "doc_id", "text",
            "doc_id", "text", k = 3, minShared = contaminationMinShared,
            md5Mode = true)
          .groupBy("probe_id")
          .agg(count(lit(1)).as("n_contaminated"),
            max("n_shared").as("max_shared"))
          .orderBy("probe_id")
      },
      Some(contaminationOracleSql(minShared = contaminationMinShared,
        probeMod = contaminationProbeMod))),

    // near-dup pairs -> connected-component duplicate clusters (min-label
    // propagation; also verified against driver-side union-find in
    // OperatorsSpec). md5 oracle mode: DuckDB replays the pair pipeline
    // and closes the components with a recursive CTE (min reachable id
    // == the propagation fixpoint), so the iterative algorithm is
    // hash-checked end to end
    QueryDef("q_dedup_clusters",
      (s, dir) => {
        val pairs = Dedup.minhashNearDupsMd5(Tables.documents(s, dir),
          "doc_id", "text", threshold = 0.5).select("id_a", "id_b")
        Dedup.clusters(pairs)
          .groupBy("rep").agg(count(lit(1)).as("n_members"))
          .orderBy("rep")
      },
      Some(minhashMd5ClustersOracleSql(bands = 8, rows = 4, threshold = 0.5))),

    // embedding-cosine near-duplicate pairs (banded random-hyperplane
    // LSH). Oracle-checked: the plane matrix is a seeded literal and dot
    // products are bit-exact across engines, so DuckDB replays the sign
    // bits, banding, bounded pairs, and cosine verify exactly
    QueryDef("q_dedup_cosine",
      (s, dir) => {
        Dedup.cosineNearDups(Tables.embeddings(s, dir), "vec_id", "embedding",
          dim = 64, threshold = 0.4)
          .select(col("id_a"), col("id_b"))
          .orderBy("id_a", "id_b")
      },
      Some(cosineNearDupsOracleSql(dim = 64, threshold = 0.4))),

    // SemDeDup-style semantic dedup: spherical-kmeans cells, exact cosine
    // within each cell only; docs with an above-threshold smaller-id
    // neighbor in their cell are dropped (within-cell equivalence to the
    // brute-force rule and cache hygiene are spec-verified). Oracle-
    // checked: in id-ordered sample mode the whole trained model —
    // farthest-point init, Lloyd rounds, cell assignment — replays as
    // unrolled deterministic SQL (kmeansCtes), then DuckDB recomputes the
    // within-cell pairs and the survivor count; the content-hash sample
    // order stays the production default.
    QueryDef("q_semdedup",
      (s, dir) => {
        val kept = Dedup.semanticDedup(Tables.embeddings(s, dir),
          "vec_id", "embedding", k = 16, threshold = 0.4,
          sampleOrderCol = Some("vec_id"))
        kept.agg(count(lit(1)).as("n_kept")).crossJoin(
          Tables.embeddings(s, dir).agg(count(lit(1)).as("n_total")))
          .select(col("n_total"), col("n_kept"))
      },
      Some(semdedupOracleSql(k = 16, threshold = 0.4))),

    // brute-force cosine top-k similarity search. Oracle-replayable: both
    // engines compute the dot as an ascending-index sequential double fold
    // (Spark: native DotProduct; DuckDB: list_inner_product over DOUBLE[]),
    // so the doubles are bit-identical before the round(6) — verified at
    // both SFs, every row hash-equal including the score column.
    QueryDef("q_sim_topk",
      (s, dir) => {
        val q = fixedQueryVector
        Similarity.topK(Tables.embeddings(s, dir), "vec_id", "embedding", q, 10)
          .select(col("vec_id"), round(col("cosine"), 6).as("cosine_r"))
      },
      Some(s"""WITH scored AS (SELECT vec_id, list_inner_product(CAST(embedding AS DOUBLE[]), $queryVecSql) / (sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) * sqrt(list_inner_product($queryVecSql, $queryVecSql))) AS cosine FROM embeddings) SELECT vec_id, round(cosine, 6) AS cosine_r FROM scored WHERE cosine IS NOT NULL AND NOT isnan(cosine) ORDER BY cosine DESC, vec_id ASC LIMIT 10""")),

    // int8-quantized similarity search (the 4x memory cut a 100 TB
    // embedding store runs on): symmetric per-vector scalar quantization
    // (floor-rounded, clamped — every step engine-portable), top-10 by
    // cosine scored DIRECTLY on the int vectors (the per-vector scale
    // cancels out of cosine exactly, so the scorer never reconstructs),
    // flagged against the exact float top-10. The oracle replays the
    // quantizer, the cancelled-form scan, the exact scan and the
    // membership join bit-for-bit — so the row pins quantization
    // arithmetic AND the recall behavior of this corpus (not just
    // "some top-k came back").
    QueryDef("q_embed_quantize",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        // quantize ONCE into a materialized store, score the store —
        // the deployment shape, and the plan-shape contract
        // (Similarity.writeQuantized's scaladoc: a live quantizer frame
        // under the scorer collapses into an O(dim^2)-per-row lambda)
        val store = Tables.scratchPath("int8_store", dir)
        val written = Similarity.writeQuantized(emb, "vec_id", "embedding", store)
        val topQ = Similarity.topKQuantized(
          Tables.readWritten(s, store, written), "vec_id", fixedQueryVector, 10)
          .select(col("vec_id"), round(col("cosine"), 6).as("cosine_q_r"))
        val exact = Similarity.topK(emb, "vec_id", "embedding",
          fixedQueryVector, 10).select(col("vec_id"))
        topQ.join(exact.withColumn("__e", lit(true)), Seq("vec_id"), "left")
          .select(col("vec_id"), col("cosine_q_r"),
            coalesce(col("__e"), lit(false)).as("in_exact_top10"))
          .orderBy(col("cosine_q_r").desc, col("vec_id"))
      },
      Some(raw"""WITH ${quantizerCtesSql}, topq AS (SELECT vec_id, round(c, 6) AS cosine_q_r FROM scoredq ORDER BY c DESC, vec_id LIMIT 10), scorede AS (SELECT vec_id, list_inner_product(v, $queryVecSql) / (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product($queryVecSql, $queryVecSql))) AS c FROM base), ex AS (SELECT vec_id FROM scorede WHERE c IS NOT NULL AND NOT isnan(c) ORDER BY c DESC, vec_id LIMIT 10) SELECT t.vec_id, t.cosine_q_r, (e.vec_id IS NOT NULL) AS in_exact_top10 FROM topq t LEFT JOIN ex e USING (vec_id) ORDER BY cosine_q_r DESC, vec_id""")),

    // cell-partitioned quantized retrieval — the two 100 TB memory/IO
    // techniques COMPOSED: cells assigned on the float vectors (the
    // deterministic kmeans model replay), int8 payloads, one directory
    // per cell (partitionBy), and the probe reads ONLY the nprobe best
    // cells' directories (partition pruning) scoring the int vectors in
    // the cancelled form. Oracle replays the kmeans model, the cell
    // assignment, the probe selection, the quantizer and the pruned
    // cancelled-form scan bit-for-bit.
    QueryDef("q_embed_quantize_ivf",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
        val cents = Similarity.trainCentroids(emb, "embedding", k = 8,
          sampleOrderCol = Some("vec_id"))
        val store = Tables.scratchPath("int8_ivf", dir)
        val cells = Similarity.quantizeInt8(emb, "vec_id", "embedding")
          .join(Similarity.assignCells(emb, "embedding", cents)
            .select("vec_id", "cell"), "vec_id")
        cells.write.mode("overwrite").partitionBy("cell").parquet(store)
        val probed = Similarity.probeCells(cents, fixedQueryVector,
          nprobe = 4)
        Similarity.topKQuantized(
          Tables.readWritten(s, store, cells.schema, "cell")
            .filter(col("cell").isin(probed: _*)),
          "vec_id", fixedQueryVector, 10)
          .select(col("vec_id"), round(col("cosine"), 6).as("cosine_q_r"))
      },
      Some(s"""WITH ${kmeansCtes(8)}, ${quantizerCtesSql}, probe AS (SELECT c FROM (SELECT c, list_inner_product(v, $queryVecSql) / (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product($queryVecSql, $queryVecSql))) AS sim FROM cents) ORDER BY sim DESC, c ASC LIMIT 4), sel AS (SELECT z.vec_id, z.qv FROM qz z JOIN cell l ON l.vec_id = z.vec_id JOIN probe p ON l.cell = p.c), scoredp AS (SELECT vec_id, list_inner_product(qv, $queryVecSql) / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product($queryVecSql, $queryVecSql))) AS c FROM sel) SELECT vec_id, round(c, 6) AS cosine_q_r FROM scoredp WHERE c IS NOT NULL AND NOT isnan(c) ORDER BY c DESC, vec_id LIMIT 10""")),

    // two-stage retrieval (the production int8 serving shape): stage 1
    // scans the materialized quantized store for top-50 candidates
    // (int8-sized I/O), stage 2 reranks ONLY those 50 with exact float
    // cosine (the float store is touched for 50 rows, not the corpus)
    // and keeps 10. The candidate slice joins back via broadcast (50
    // ids). Oracle replays both stages — quantizer, cancelled-form
    // candidate scan, the 50-row float rerank — bit-for-bit.
    QueryDef("q_embed_rerank",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val store = Tables.scratchPath("int8_store_rr", dir)
        val written = Similarity.writeQuantized(emb, "vec_id", "embedding", store)
        val cands = Similarity.topKQuantized(Tables.readWritten(s, store, written),
          "vec_id", fixedQueryVector, 50).select("vec_id")
        Similarity.topK(emb.join(broadcast(cands), "vec_id"),
            "vec_id", "embedding", fixedQueryVector, 10)
          .select(col("vec_id"), round(col("cosine"), 6).as("cosine_r"))
      },
      Some(raw"""WITH ${quantizerCtesSql}, cands AS (SELECT vec_id FROM scoredq ORDER BY c DESC, vec_id LIMIT 50), rr AS (SELECT b.vec_id, list_inner_product(b.v, $queryVecSql) / (sqrt(list_inner_product(b.v, b.v)) * sqrt(list_inner_product($queryVecSql, $queryVecSql))) AS c FROM base b JOIN cands USING (vec_id)) SELECT vec_id, round(c, 6) AS cosine_r FROM rr WHERE c IS NOT NULL AND NOT isnan(c) ORDER BY c DESC, vec_id LIMIT 10""")),

    // EMBEDDING PCA / WHITENING (r20) — the dimensionality-reduction /
    // variance-equalization step in front of IVF/PQ retrieval and
    // SemDeDup: fixed-round power iteration with deflation over the
    // bounded id-ordered sample (the trainCentroids oracle mode;
    // production mode samples by xxhash64(vector) content key), scored
    // corpus-wide by the codegen'd DotProduct kernel over zip_with
    // centering — no join, no shuffle, per-row O(nComp*dim). The oracle
    // replays the ENTIRE training (mean fold, all 24 iteration rounds,
    // eigenvalues, deflation) as ascending-id/index serial-fold CTEs —
    // the trained-model-replay technique (qualityClassifierCtesSql) —
    // then the projection chain; every op single-rounded IEEE (+,-,*,/
    // and correctly-rounded sqrt), so margins hash-match bit-exactly.
    QueryDef("q_embed_pca",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val model = graft.operators.Pca.train(emb, "embedding",
          nComp = 2, iters = 12, maxSample = 400,
          sampleOrderCol = Some("vec_id"))
        def r6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          floor(c * 1e6d + 0.5d) / 1e6d
        def eigLit(k: Int): org.apache.spark.sql.Column =
          lit(math.floor(model.eigenvalues(k) * 1e6 + 0.5) / 1e6)
        // one centered dot per component; whitening derives from the
        // staged projection column (half the per-row kernel work)
        emb.select(col("vec_id"),
          graft.operators.Pca.projection(col("embedding"), model, 0)
            .as("__p1"),
          graft.operators.Pca.projection(col("embedding"), model, 1)
            .as("__p2"))
          .select(col("vec_id"),
            r6(col("__p1")).as("pc1_r"), r6(col("__p2")).as("pc2_r"),
            r6(graft.operators.Pca
              .whitenedFromProjection(col("__p1"), model, 0))
              .as("white1_r"),
            r6(graft.operators.Pca
              .whitenedFromProjection(col("__p2"), model, 1))
              .as("white2_r"),
            eigLit(0).as("eig1_r"), eigLit(1).as("eig2_r"))
          .orderBy("vec_id")
      },
      Some(embedPcaOracleSql(dim = 64, iters = 12, maxSample = 400))),

    // Batch kNN JOIN: every query row gets its 5 nearest corpus rows in
    // one pass — bounded-heap partial aggregation, so the shuffle carries
    // k pairs per (partition, query), never the |C|x|Q| scored rows.
    // Equality to per-query brute force is spec-verified (OperatorsSpec).
    QueryDef("q_knn_join",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding"))
        Similarity.knnJoin(emb.filter(col("vec_id") < 20), "vec_id", "embedding",
            emb, "vec_id", "embedding", k = 5)
          .select(col("vec_id"), col("rank"), col("neighbor_id"),
            round(col("score"), 6).as("score_r"))
          .orderBy("vec_id", "rank")
      },
      // same bit-identical-dot contract as q_sim_topk; the bounded-heap
      // rank (score desc, ties to lowest id, NULL/NaN skipped) replays as
      // a window row_number with the identical ordering
      Some("""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 20), c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings), scored AS (SELECT qid, cid, list_inner_product(cv, qv) / (sqrt(list_inner_product(cv, cv)) * sqrt(list_inner_product(qv, qv))) AS sim FROM c CROSS JOIN q), ranked AS (SELECT qid, cid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rnk FROM scored WHERE sim IS NOT NULL AND NOT isnan(sim)) SELECT qid AS vec_id, rnk AS rank, cid AS neighbor_id, round(sim, 6) AS score_r FROM ranked WHERE rnk <= 5 ORDER BY vec_id, rank""")),

    // IVF-pruned kNN join: queries probe their nprobe nearest cells only;
    // corpus rows meet only the queries probing their cell (recall law
    // spec-verified vs the exact join).
    // Oracle-checked via the kmeansCtes model replay: per-query probes
    // (reverse(array_sort) tie order) + the q_knn_join ranking contract
    QueryDef("q_knn_ivf",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding"))
        val centroids = Similarity.trainCentroids(emb, "embedding", k = 16,
          sampleOrderCol = Some("vec_id"))
        Similarity.knnJoinIvf(emb.filter(col("vec_id") < 20), "vec_id", "embedding",
            emb, "vec_id", "embedding", centroids, k = 5, nprobe = 4)
          // floor-based rounding (engine-portable on half-ties; the
          // q_sim_pq contract)
          .select(col("vec_id"), col("rank"), col("neighbor_id"),
            (floor(col("score") * 1e6d + 0.5d) / 1e6d).as("score_r"))
          .orderBy("vec_id", "rank")
      },
      Some(knnIvfOracleSql(k = 16, nprobe = 4, topk = 5))),

    // LSH-bucketed approximate top-k (random-hyperplane tables, exact
    // cosine re-rank of bucket-matching candidates; recall law is
    // spec-verified against brute force in OperatorsSpec)
    QueryDef("q_sim_lsh",
      (s, dir) => {
        Similarity.topKLsh(Tables.embeddings(s, dir), "vec_id", "embedding",
          dim = 64, fixedQueryVector, k = 10)
          .select(col("vec_id"), round(col("cosine"), 6).as("cosine_r"))
      },
      // literal planes + driver-computed query bucket codes: DuckDB
      // replays the multi-table probe and the exact-cosine re-rank
      Some(simLshOracleSql(dim = 64, k = 10))),

    // product-quantization top-k: normalized vectors -> trained per-
    // subspace codebooks -> m-byte codes -> ADC lookup-table scan with
    // exact cosine re-rank of the small candidate set (rows-only;
    // recall/identity laws are spec-verified in OperatorsSpec)
    // Oracle-checked via the pqOracleSql model replay: per-subspace L2
    // codebooks, PqEncode assignment, ADC window, exact-cosine re-rank
    QueryDef("q_sim_pq",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
          .select(col("vec_id"), Similarity.normalized(col("embedding")).as("vn"))
        val cb = Similarity.trainPq(emb, "vn", m = 8, ksub = 16,
          sampleOrderCol = Some("vec_id"))
        val nq = math.sqrt(fixedQueryVector.map(x => x * x).sum)
        val q = fixedQueryVector.map(_ / nq)
        Similarity.topKPq(Similarity.pqEncode(emb, "vn", cb), "vec_id", "vn",
          cb, q, k = 10)
          .select(col("vec_id"),
            (floor(col("cosine") * 1e6d + 0.5d) / 1e6d).as("cosine_r"))
      },
      Some(pqOracleSql(m = 8, ksub = 16, iters = 5, dim = 64,
        maxSample = 2000, topk = 10, rerank = 8))),

    // IVF (cell-pruned) approximate top-k over TRAINED centroids
    // (deterministic spherical k-means on a bounded sample)
    // Oracle-checked via the kmeansCtes model replay: driver-side probe
    // order (stable sortBy, ties to first cid) + exact cosine in cells
    QueryDef("q_sim_ivf",
      (s, dir) => {
        val cents = Similarity.trainCentroids(
          Tables.embeddings(s, dir), "embedding", k = 8,
          sampleOrderCol = Some("vec_id"))
        Similarity.topKIvf(Tables.embeddings(s, dir), "vec_id", "embedding",
          cents, fixedQueryVector, k = 10, nprobe = 4)
          // floor-based rounding (engine-portable on half-ties; the
          // q_sim_pq contract)
          .select(col("vec_id"),
            (floor(col("cosine") * 1e6d + 0.5d) / 1e6d).as("cosine_r"))
      },
      Some(simIvfOracleSql(k = 8, nprobe = 4, topk = 10))),

    // trained quality classifier — the DCLM/fastText-style curation step:
    // labels bootstrapped from the Gopher heuristic (the curation cfg),
    // features md5-mode unit-norm hash embeddings, deterministic
    // full-batch GD (rational-sigmoid link: single-rounded IEEE ops only,
    // no exp()), whole-corpus scoring against the broadcast-literal
    // trained weights. Oracle-checked via the trained-model replay
    // (qualityClassifierOracleSql unrolls all GD rounds as CTEs); the
    // margins hash-match bit-exactly. One scan to train (TakeOrdered
    // sample), one scan to score — the scoring stage is a pure codegen'd
    // map fused with the embedding kernel, zero shuffles at any scale.
    QueryDef("q_quality_classifier",
      (s, dir) => {
        import graft.operators.{QualityClassifier => QC, TextAnalysis => TA}
        val cfg = TA.GopherConfig(minWords = 25L, maxWords = 80L,
          minMeanWordLen = 3.0, maxMeanWordLen = 5.0, minStopwordHits = 1)
        // sortedWide: gopher rules + the hashed-feature kernel are pure
        // per-row maps that ran serialized on the 1-split scan (1.6
        // task-CPU-s over 6 tasks, r21); both `prepared` consumers
        // (train's bounded sample, the scoring map) run wide. The final
        // orderBy stays — its exchange moves narrow scored rows.
        def prepared = QC.withFeatures(
          TA.gopherRules(graft.operators.ScaleOps.sortedWide(
            Tables.documents(s, dir).select("doc_id", "text"), "doc_id"),
            col("text"), cfg), "text")
          .select(col("doc_id"), col("feats"),
            when(col("quality_pass"), 1.0d).otherwise(0.0d).as("y"))
        val model = QC.train(prepared, "doc_id", "feats", "y",
          rounds = 80, lr = 4.0, maxSample = 2000)
        QC.score(prepared, "feats", model)
          .select(col("doc_id"), col("y").cast("long").as("label"),
            // floor-based rounding (engine-portable; the q_sim_pq contract)
            (floor(col("margin") * 1e6d + 0.5d) / 1e6d).as("margin_r"),
            col("pred"))
          .orderBy("doc_id")
      },
      Some(qualityClassifierOracleSql(hashDim = 64, rounds = 80, lr = 4.0,
        maxSample = 2000))),

    // TRAINED multi-class language ID — the fastText-lid shape replacing
    // marker-count heuristics: 64 languages (r20 widen), char-trigram md5 hashed
    // features over a boundary-marked char stream, 64 one-vs-rest linear
    // classifiers trained by deterministic full-batch GD (rational
    // sigmoid — no exp(), single-rounded IEEE ops only), whole-corpus
    // argmax scoring against broadcast-literal weights. The corpus is
    // synthesized deterministically per doc_id from per-language
    // function-word vocabularies (the withPayload posture), so the
    // oracle re-synthesizes identical text and replays FEATURES +
    // ALL GD ROUNDS + SCORING end to end — the multiclass extension of
    // the q_quality_classifier trained-model replay: every round is one
    // CTE chain carrying the class index as a column, so the SQL is the
    // same 6 CTEs per round as the binary case. Scale shape: train = one
    // TakeOrdered sample + model-sized driver math; score = one
    // codegen'd map (feature kernel + 64 dots + argmax fused into ONE
    // Catalyst expression), zero shuffles.
    QueryDef("q_text_langid_trained",
      (s, dir) => {
        import graft.operators.{LangIdTrained => LT}
        def prepared = LT.withFeatures(
          LT.syntheticCorpus(Tables.documents(s, dir).select("doc_id")),
          "sent")
        val model = LT.train(prepared, "doc_id", "feats", "lang_k",
          LT.LangVocab.map(_._1), rounds = 24, lr = 4.0, maxSample = 800)
        LT.score(prepared, "feats", model)
          .select(col("doc_id"), col("lang").as("lang_true"),
            col("lang_pred"),
            (floor(col("margin_best") * 1e6d + 0.5d) / 1e6d)
              .as("margin_r"),
            (col("lang_pred") === col("lang")).as("correct"))
          .orderBy("doc_id")
      },
      Some(langIdTrainedOracleSql(dim = 64, rounds = 24, lr = 4.0,
        maxSample = 800))),

    // PII scrubbing (the Dolma/CCNet masking pass): emails, IPv4s and
    // phone numbers masked with fixed tokens, per-doc counts. The corpus
    // carries no natural PII, so the query PLANTS deterministic PII per
    // row (the withPayload posture: same synthesis both engines) and
    // the oracle hash-compares the fully-masked text plus every count —
    // a regex-semantics divergence between Java regex and RE2 on any of
    // the three patterns would hash-mismatch immediately. One codegen'd
    // map, zero shuffles at any scale.
    QueryDef("q_pii_scrub",
      (s, dir) => {
        // sortedWide: the three-pattern regex mask ran 1.7 task-CPU-s in
        // 4 tasks (+ the orderBy sampling re-run); per-row map preserves
        // the pre-established doc_id total order (r21)
        val planted = graft.operators.ScaleOps.sortedWide(
          Tables.documents(s, dir).select("doc_id", "text"), "doc_id")
          .withColumn("__t",
          concat(col("text"), lit(" Contact user"),
            col("doc_id").cast("string"), lit("@example.com or call 555-867-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".7.")))
        TextAnalysis.piiScrub(planted, "__t")
          .select(col("doc_id"), col("n_emails").cast("long").as("n_emails"),
            col("n_ips").cast("long").as("n_ips"),
            col("n_phones").cast("long").as("n_phones"), col("text_clean"))
      },
      Some(piiScrubOracleSql)),

    // HTML-to-text extraction: the step BEFORE every other text operator
    // in a web-crawl pipeline. Deterministic HTML synthesized around each
    // document (script/style blocks, a comment, block tags, anchors, the
    // six standard entities incl. a double-encoded &amp;amp;), then the
    // full extraction chain: comment/script/style strip, block tags to
    // spaces, tag drop, entity decode (&amp; LAST — the double-decode
    // trap), whitespace collapse — plus the two boilerplate signals
    // (anchor count on the raw bytes, plain/raw length ratio). The oracle
    // replays synthesis AND extraction byte-for-byte (shared pattern
    // constants; RE2-safe, no backreferences).
    QueryDef("q_html_extract",
      (s, dir) => {
        // sortedWide: the extraction regex chain serialized on the
        // 1-split scan (+ the orderBy sampling re-run); per-row map
        // preserves the pre-established doc_id total order (r21)
        val docs = graft.operators.ScaleOps.sortedWide(
          Tables.documents(s, dir).select("doc_id", "text"), "doc_id")
          .withColumn("__html",
          concat(
            lit("<html><head><script type=\"text/javascript\">var x = 1 < 2;</script><style>.c { color: red }</style></head><body><!-- boilerplate\nblock --><h1>Doc "),
            col("doc_id"), lit("</h1><p>"), col("text"),
            lit("</p><ul><li>&quot;quoted&quot; &amp;amp; more</li></ul><a href=\"http://ex.org/"),
            col("doc_id"),
            lit("\">link</a> &nbsp;&lt;tail&gt;</body></html>")))
        graft.operators.TextAnalysis.htmlExtract(docs, "__html")
          .select("doc_id", "text_plain", "n_links", "text_ratio")
      },
      Some(htmlExtractOracleSql)),

    // script-aware (CJK) segmentation threaded through the text family:
    // every document gets a deterministic multilingual suffix (a Chinese
    // sentence repeated 1 + doc_id % 3 times — NO inter-word whitespace —
    // plus Japanese kana+kanji and Korean hangul), then the whitespace
    // and script-aware tokenizers run side by side. Whitespace counts see
    // the whole Chinese block as ONE token; segmentation splits each CJK
    // codepoint into its own token (TextAnalysis.segmentScripts — one
    // codegen'd regexp_replace whose \x{...} class reads identically in
    // Java regex and RE2), so n_tokens_seg ≈ n_tokens_ws + 11·k + 13 and
    // every token-denominated quality signal (mean_token_len here, via
    // qualitySignals(seg = true)) is computed on real word units. The
    // md5 token-stream fingerprint over the SEGMENTED stream pins the
    // exact token sequence (order + content), not just counts. The
    // oracle replays segmentation, both token counts, the seg-aware
    // quality signal and the HUGEINT fingerprint fold byte-for-byte.
    QueryDef("q_text_cjk",
      (s, dir) => {
        val TA = TextAnalysis
        // sortedWide: the segmentation/fingerprint chain was 3.5
        // task-CPU-seconds serialized on the 1-split scan plus the
        // orderBy sampling re-run (r21); per-row projections preserve
        // the pre-established doc_id total order
        val mixed = graft.operators.ScaleOps.sortedWide(
          Tables.documents(s, dir).select("doc_id", "text"), "doc_id")
          .withColumn("__mix",
          concat(coalesce(col("text"), lit("")), lit(" "),
            expr(s"repeat('$CjkZhSentence', CAST(1 + doc_id % 3 AS INT))"),
            lit(" " + CjkJaPhrase + " " + CjkKoPhrase)))
        TA.qualitySignals(mixed, col("__mix"), seg = true)
          .select(col("doc_id"),
            TA.tokenCount(col("__mix")).as("n_tokens_ws"),
            col("n_tokens").as("n_tokens_seg"),
            col("mean_token_len").as("mean_token_len_seg"),
            size(TA.wordNgrams(col("__mix"), 2, seg = true)).cast("long")
              .as("n_bigrams_seg"),
            TA.fingerprintMd5(TA.segmentScripts(col("__mix"))).as("fp_seg"))
      },
      Some(textCjkOracleSql)),

    // Unicode width-fold ahead of segmentation — the CJK work's other
    // half (TextAnalysis.foldWidth): real ja/zh web text writes Latin,
    // digits and punctuation FULL-width and (on legacy pages) katakana
    // HALF-width, both in the Halfwidth-and-Fullwidth-Forms block that
    // CjkCharClass and ASCII [0-9] classes deliberately exclude. Every
    // document gets a suffix exercising each fold class (full-width
    // "MODEL No."+per-doc full-width digits, half-width katakana with
    // voiced/semi-voiced marks, half-width CJK punctuation, a phone
    // number in full-width digits), then the same signal is computed on
    // the raw and the folded text side by side: segmented token counts
    // (folded katakana tokenizes per kana; U+3000 becomes a real space),
    // ASCII-digit visibility, PhonePattern visibility (the planted
    // full-width phone is invisible raw, caught folded), and the md5
    // token-stream fingerprint of the folded+segmented stream pinning
    // the exact fold output. One codegen'd translate + the existing
    // regexp chain — zero shuffles; the oracle replays the fold verbatim
    // via the shared WidthFoldFrom/WidthFoldToSql table (translate has
    // identical per-codepoint semantics in Spark and DuckDB).
    QueryDef("q_text_widthfold",
      (s, dir) => {
        val TA = TextAnalysis
        val fw4 = translate(
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          "0123456789", FwDigits)
        // sort FIRST, fat fold/regex projection after (sortedWide): the
        // regexp chain ran 4.3 task-CPU-seconds serialized on the
        // 1-row-group scan split AND re-ran for the final orderBy's
        // range sampling (noop-action StageProfile r21). Same rows,
        // same doc_id total order.
        val mixed = graft.operators.ScaleOps.sortedWide(
          Tables.documents(s, dir).select("doc_id", "text"), "doc_id")
          .withColumn("__mix",
          concat(coalesce(col("text"), lit("")),
            lit(WfPre), fw4, lit(WfMid), fw4, lit(WfEnd)))
        val folded = TA.foldWidth(col("__mix"))
        val nfkc = TA.composeVoicedKana(folded)
        mixed.select(col("doc_id"),
          TA.tokenCount(col("__mix"), seg = true).as("n_tokens_raw"),
          TA.tokenCount(folded, seg = true).as("n_tokens_fold"),
          regexp_count(col("__mix"), lit("[0-9]")).cast("long")
            .as("n_digits_raw"),
          regexp_count(folded, lit("[0-9]")).cast("long")
            .as("n_digits_fold"),
          regexp_count(col("__mix"), lit(TA.PhonePattern)).cast("long")
            .as("n_phones_raw"),
          regexp_count(folded, lit(TA.PhonePattern)).cast("long")
            .as("n_phones_fold"),
          TA.fingerprintMd5(TA.segmentScripts(folded)).as("fp_fold"),
          // voiced-mark composition (the fold's multi-codepoint half):
          // each composition removes exactly one char, so the length
          // delta counts compositions (the planted ｺﾞ + ﾊﾟ guarantee
          // >= 2 per doc), and the fingerprint pins the exact composed
          // stream
          (length(folded) - length(nfkc)).cast("long").as("n_composed"),
          TA.fingerprintMd5(TA.segmentScripts(nfkc)).as("fp_nfkc"))
        // no trailing orderBy: the sortedWide input is already in doc_id
        // total order and every step above is a per-row projection
      },
      Some(textWidthFoldOracleSql)),

    // Gopher repetition-removal rules (the published rule set's
    // repetition half — duplicate-line fractions + most-frequent-n-gram
    // character coverage — complementing q_quality_rules' length/symbol
    // half). Line signals are RELATIONAL (the r14 rewrite of the
    // per-row O(lines^2) fold): one line explode -> two keyed aggregates
    // ((id, line) counts, then per-id fractions) — a map-side-combinable
    // shuffle on the line keys; n-gram signals are ONE tagged explode ->
    // one map-side-combinable count shuffle -> one id-partitioned top-1
    // window. The
    // oracle replays every signal: list lambdas for the line stats, the
    // shared word-n-gram CTEs + row_number tie order for the top grams;
    // all ratios are single integer-over-integer double divisions, so
    // the row hash-matches without rounding.
    QueryDef("q_repetition_rules",
      (s, dir) => {
        TextAnalysis.repetitionSignals(
          Tables.documents(s, dir), "doc_id", "text")
          .withColumnRenamed("id", "doc_id")
          .withColumn("repetition_pass",
            col("dup_line_frac") <= 0.3 && col("dup_line_char_frac") <= 0.2 &&
              col("top2_char_frac") <= 0.2 && col("top3_char_frac") <= 0.18 &&
              col("top4_char_frac") <= 0.16)
          .orderBy("doc_id")
      },
      Some(repetitionOracleSql)),

    // banding-completeness certificate (r14: the hamming<=3 pigeonhole
    // law promoted from spec-level to the oracle surface): the banded
    // md5-SimHash pipeline's pair set must EQUAL the all-pairs ground
    // truth over the signatures. DuckDB recomputes the all-pairs count
    // from its own signature replay (pinning n_close_pairs as a hard
    // data value) and asserts the equality boolean TRUE. The bucket cap
    // is raised to 4096 for THIS row (hottest measured bucket: 291 at
    // sf0.1) so the certificate isolates the pigeonhole law itself —
    // under the production cap (64) the hot-bucket star degradation is
    // a deliberate, documented recall trade-off, not a banding bug, and
    // equality would conflate the two. The O(n^2) signature scan is
    // certificate-scale by construction — the deferred scale guard
    // fails a corpus-sized call before the quadratic work.
    QueryDef("q_simhash_complete",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Differential.bandingCompletenessCertificate(
          Dedup.simhashSigsMd5(docs, "doc_id", "text"),
          Dedup.simhashCandidatesMd5(docs, "doc_id", "text",
            maxBucket = 4096)
            .filter(col("hamming") <= 3),
          maxHamming = 3)
      },
      Some(simhashCompleteOracleSql(maxBucket = 4096))),

    // perceptual image near-dup (LAION-style multimodal dedup): REAL
    // PNG payloads (ImageIO encode, one per doc, near-duplicate within a
    // content family) -> REAL ImageIO decode -> 64-bit dHash over the
    // raster samples -> the shared 4x16-bit hamming banding
    // (Dedup.hammingCandidates) -> pairs at hamming <= 3 (the pigeonhole
    // completeness bound). Because the synthetic pixels are md5
    // arithmetic and PNG gray8 is lossless, the ORACLE replays the whole
    // decode->dHash->band pipeline analytically — the real pixel
    // round-trip is inside the hash-checked surface (an encode/decode
    // regression flips bits and goes red). Plan shape at scale: two
    // narrow maps (payload synthesis, decode+hash), ONE keyed exchange
    // for the band buckets — never an all-pairs join over assets.
    QueryDef("q_image_neardup",
      (s, dir) => {
        import graft.operators.{Dedup, Multimodal}
        val fam = Tables.documents(s, dir).select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("family"))
        val imgs = Multimodal.syntheticGrayPngs(fam, "doc_id", "family")
        val hashed = Multimodal.imageDHash(imgs, "id", "payload")
        Dedup.hammingCandidates(hashed.filter(col("decoded")), "id", "phash")
          .filter(col("hamming") <= 3)
          .orderBy("id_a", "id_b")
      },
      Some(imageNearDupOracleSql())),

    // video temporal near-dup: REAL animated-GIF containers (JDK GIF89a
    // encoder, 4 full frames over an identity 256-gray palette — a
    // LOSSLESS round-trip, spec-verified) -> the real format-agnostic
    // ImageIO container walk (reader selection, getNumImages, per-index
    // decode) -> per-frame dHash -> banded same-index frame pairs ->
    // videos with >= 3 of 4 frames matching. The per-frame pixels are
    // md5 arithmetic (the q_image_neardup contract extended with a frame
    // axis), so the oracle replays the WHOLE container pipeline: pixels,
    // gradient bits per (video, frame), the shared banding on the
    // composite frame key, the same-index filter, and the temporal
    // rollup — the real encode/decode round-trip is inside the
    // hash-checked surface.
    QueryDef("q_video_neardup",
      (s, dir) => {
        import graft.operators.Multimodal
        val fam = Tables.documents(s, dir).select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("family"))
        val gifs = Multimodal.syntheticAnimatedGifs(fam, "doc_id", "family",
          nFrames = 4)
        val frames = Multimodal.videoFrameDHash(gifs, "id", "payload",
          maxFrames = 8)
        Multimodal.videoNearDups(frames.filter(col("decoded")),
            "id", "frame_idx", "phash", minFrames = 3)
          .orderBy("id_a", "id_b")
      },
      Some(videoNearDupOracleSql())),

    // video duplicate clustering: the temporal near-dup pairs fold into
    // connected components (the q_image_clusters construction —
    // checkpointed iterative expansion, constant plan depth), one row
    // per cluster with its representative and size. Same full analytic
    // container replay, extended by the recursive-components fixpoint.
    QueryDef("q_video_clusters",
      (s, dir) => {
        import graft.operators.{Dedup, Multimodal}
        val fam = Tables.documents(s, dir).select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("family"))
        val gifs = Multimodal.syntheticAnimatedGifs(fam, "doc_id", "family",
          nFrames = 4)
        val pairs = Multimodal.videoNearDups(
          Multimodal.videoFrameDHash(gifs, "id", "payload", maxFrames = 8)
            .filter(col("decoded")), "id", "frame_idx", "phash",
          minFrames = 3).select("id_a", "id_b")
        Dedup.clusters(pairs)
          .groupBy("rep").agg(count(lit(1)).as("n_members"))
          .orderBy("rep")
      },
      Some(videoClustersOracleSql())),

    // MJPEG-in-AVI temporal near-dup: REAL RIFF AVI containers
    // (hand-built hdrl/strl headers + 'movi' LIST of '00dc' JPEG
    // chunks, JDK JPEG encoder at quality 1.0) -> the RIFF chunk walk
    // (Multimodal.aviFrameDHash) -> per-frame dHash -> the shared
    // banding + temporal rollup. JPEG is LOSSY, so the oracle replays
    // the pixel ORDERINGS, not the pixels: each frame row draws its 9
    // samples from levels 30 apart under a md5-rank permutation
    // (AviSpec pins decoded dHash == analytic dHash across a corpus —
    // quality-1.0 error is a few counts against the 30-level gap), and
    // the SQL rebuilds the permutation with ROW_NUMBER over the same
    // md5 keys, derives the bits, and runs the identical banding +
    // rollup. A broken RIFF walk, a lost/extra frame, or a decoder
    // drift desyncs the Spark hashes from the rank replay.
    QueryDef("q_video_avi",
      (s, dir) => {
        import graft.operators.Multimodal
        val fam = Tables.documents(s, dir).select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("family"))
        val avis = Multimodal.syntheticMjpegAvis(fam, "doc_id", "family",
          nFrames = 4)
        val frames = Multimodal.aviFrameDHash(avis, "id", "payload",
          maxFrames = 8)
        Multimodal.videoNearDups(frames.filter(col("decoded")),
            "id", "frame_idx", "phash", minFrames = 3)
          .orderBy("id_a", "id_b")
      },
      Some(videoAviOracleSql())),

    // MJPEG-in-MP4 temporal near-dup — the ISO-BMFF container users
    // actually have, walked the real way: moov > video trak > stbl, with
    // the stsc/stsz/stco sample tables consulted to enumerate sample
    // byte ranges in mdat (the synthetic containers deliberately split
    // samples across TWO chunks so a walk that ignores stsc reads
    // garbage). Samples are byte-identical to q_video_avi's frame JPEGs
    // (one shared encoder), so the SAME rank-permutation oracle replays
    // this pipeline verbatim — same families, same dHash bits, same
    // temporal rollup; only the container walk differs, and any walk
    // defect desyncs the Spark bits from the replay.
    QueryDef("q_video_mp4",
      (s, dir) => {
        import graft.operators.Multimodal
        val fam = Tables.documents(s, dir).select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("family"))
        val mp4s = Multimodal.syntheticMjpegMp4s(fam, "doc_id", "family",
          nFrames = 4)
        val frames = Multimodal.mp4FrameDHash(mp4s, "id", "payload",
          maxFrames = 8)
        Multimodal.videoNearDups(frames.filter(col("decoded")),
            "id", "frame_idx", "phash", minFrames = 3)
          .orderBy("id_a", "id_b")
      },
      Some(videoAviOracleSql())),

    // keyframe-sampled video near-dup — the 100 TB decode-cost cut: the
    // writer plants an stss sync-sample table (samples 1 and 4 of each
    // 4-frame MP4) and the walk in syncOnly mode decodes ONLY those,
    // skipping half the JPEG decodes while the temporal rollup still
    // aligns on the true sample indices (frame_idx carries the original
    // position). Same rank-permutation oracle as q_video_mp4 with the
    // frame range restricted to the sync samples and the rollup floor
    // lowered to the keyframe count — so a walk that ignores stss (too
    // many frames), mis-indexes keyframes (banding desync) or decodes
    // the wrong byte ranges flips the row.
    QueryDef("q_video_keyframes",
      (s, dir) => {
        import graft.operators.Multimodal
        val fam = Tables.documents(s, dir).select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("family"))
        val mp4s = Multimodal.syntheticMjpegMp4s(fam, "doc_id", "family",
          nFrames = 4, syncEvery = 3)
        val frames = Multimodal.mp4FrameDHash(mp4s, "id", "payload",
          maxFrames = 8, syncOnly = true)
        Multimodal.videoNearDups(frames.filter(col("decoded")),
            "id", "frame_idx", "phash", minFrames = 2)
          .orderBy("id_a", "id_b")
      },
      Some(videoAviOracleSql(nFrames = 4, minFrames = 2,
        frameWhere = " WHERE f % 3 = 0"))),

    // audio near-dup (the perceptual image path's audio twin): REAL
    // 8-bit PCM WAV payloads (RIFF encode, near-duplicate within a
    // content family) -> the real chunk-walk decode -> 64-bit
    // energy-delta fingerprint over the raw samples -> the shared
    // hamming banding. PCM is raw bytes (trivially lossless), so the
    // oracle replays decode -> frame energies -> sign bits -> banding
    // analytically — the codec round-trip is inside the hash-checked
    // surface, exactly as q_image_neardup's PNG path.
    QueryDef("q_audio_neardup",
      (s, dir) => {
        import graft.operators.{Dedup, Multimodal}
        val fam = Tables.documents(s, dir).select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("family"))
        val fps = Multimodal.audioFingerprint(
          Multimodal.syntheticWavs(fam, "doc_id", "family"), "id", "payload")
        Dedup.hammingCandidates(fps.filter(col("decoded")), "id", "afp")
          .filter(col("hamming") <= 3)
          .orderBy("id_a", "id_b")
      },
      Some(audioNearDupOracleSql())),

    // the media curation GATE — the three quality screens composed into
    // one keep/drop decision per asset family (each document carries an
    // image, an audio clip and a video through the real codec
    // round-trips): sharp enough, exposed in band, loud enough, not
    // clipped, temporally active. Thresholds sit near the corpus medians
    // so the decision splits non-trivially; every boolean compares
    // integer sums or identical-division doubles, so the row
    // hash-matches exactly. Plan shape: three narrow decode maps joined
    // on the id — no shuffle wider than the id join at any corpus size.
    QueryDef("q_media_curation",
      (s, dir) => {
        import graft.operators.Multimodal
        val fam = Tables.documents(s, dir).select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("family"))
        val iq = Multimodal.imageQuality(
          Multimodal.syntheticGrayPngs(fam, "doc_id", "family"),
          "id", "payload").filter(col("decoded"))
          .select(col("id"),
            (col("lap_sq_sum") >= 2600000L).as("img_sharp"),
            (col("mean_lum") >= 80.0 && col("mean_lum") <= 100.0)
              .as("img_exposed"))
        val aq = Multimodal.audioQuality(
          Multimodal.syntheticWavs(fam, "doc_id", "family"),
          "id", "payload").filter(col("decoded"))
          .select(col("id"),
            (col("rms_sq_sum") >= 5600000L).as("aud_loud"),
            (col("clip_frac") <= 0.02).as("aud_clean"))
        val vq = Multimodal.videoQuality(
          Multimodal.syntheticAnimatedGifs(fam, "doc_id", "family",
            nFrames = 4),
          "id", "payload", maxFrames = 8).filter(col("decoded"))
          .select(col("id"),
            (col("interframe_mean_abs") >= 66.0).as("vid_active"))
        iq.join(aq, "id").join(vq, "id")
          .withColumn("kept",
            col("img_sharp") && col("img_exposed") && col("aud_loud") &&
              col("aud_clean") && col("vid_active"))
          .orderBy("id")
      },
      Some(mediaCurationOracleSql)),

    // video quality signals — the temporal-activity screen over the REAL
    // animated-GIF walk (lossless identity palette, so the oracle
    // replays frame luminance, consecutive-frame absolute differences
    // and the static-pair test from the analytic md5 frames exactly).
    QueryDef("q_video_quality",
      (s, dir) => {
        import graft.operators.Multimodal
        val fam = Tables.documents(s, dir).select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("family"))
        Multimodal.videoQuality(
          Multimodal.syntheticAnimatedGifs(fam, "doc_id", "family",
            nFrames = 4),
          "id", "payload", maxFrames = 8)
          .filter(col("decoded"))
          .select(col("id"), col("n_frames"), col("mean_lum"),
            col("interframe_mean_abs"), col("static_frac"))
          .orderBy("id")
      },
      Some(videoQualityOracleSql(nFrames = 4))),

    // image quality signals — the LAION-style pre-filter stage over the
    // REAL gray-PNG codec round-trip: Laplacian blur energy, brightness,
    // contrast, rail clipping, all computed at native resolution on the
    // decoded raster. PNG gray8 is lossless, so the oracle replays every
    // signal from the analytic md5 pixels (integer sums + one final
    // division each) and a drifted decode desyncs the row.
    QueryDef("q_image_quality",
      (s, dir) => {
        import graft.operators.Multimodal
        val fam = Tables.documents(s, dir).select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("family"))
        Multimodal.imageQuality(
          Multimodal.syntheticGrayPngs(fam, "doc_id", "family"),
          "id", "payload")
          .filter(col("decoded"))
          .select(col("id"), col("n_px"), col("mean_lum"), col("contrast"),
            col("lap_sq_sum"), col("clip_frac"))
          .orderBy("id")
      },
      Some(imageQualityOracleSql)),

    // audio quality signals — dead-air / clipping / loudness screening
    // over the REAL WAV decode (PCM is raw bytes, so the replay is
    // exact): per-sample rail clipping, RMS energy about the 8-bit
    // midpoint, dynamic range, and per-frame peak-to-peak silence.
    QueryDef("q_audio_quality",
      (s, dir) => {
        import graft.operators.Multimodal
        val fam = Tables.documents(s, dir).select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("family"))
        Multimodal.audioQuality(
          Multimodal.syntheticWavs(fam, "doc_id", "family"),
          "id", "payload")
          .filter(col("decoded"))
          .select(col("id"), col("n_samples"), col("smin"), col("smax"),
            col("rms_sq_sum"), col("clip_frac"), col("silence_frac"))
          .orderBy("id")
      },
      Some(audioQualityOracleSql)),

    // SPECTRAL audio near-dup (Haitsma-Kalker): the same real-WAV corpus
    // fingerprinted through the 32-point Walsh-Hadamard sequency
    // spectrum — band energies over 9 DC-free bands, bit = sign of the
    // band-energy delta's time derivative — then the shared hamming
    // banding. The spectral fingerprint is the robustness step the
    // time-domain energy version (q_audio_neardup) lacks: exact gain and
    // DC offset provably flip ZERO bits (SpectralFingerprintSpec), and
    // re-quantization noise enters band energies only at second order.
    // The WHT (not a DFT) keeps every step integer arithmetic, so the
    // oracle replays decode -> spectrum -> bands -> bits -> banding
    // byte-for-byte from the analytic md5 samples.
    QueryDef("q_audio_spectral",
      (s, dir) => {
        import graft.operators.{Dedup, Multimodal}
        val fam = Tables.documents(s, dir).select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("family"))
        val fps = Multimodal.audioSpectralFingerprint(
          Multimodal.syntheticWavs(fam, "doc_id", "family"), "id", "payload")
        Dedup.hammingCandidates(fps.filter(col("decoded")), "id", "asfp")
          .filter(col("hamming") <= 3)
          .orderBy("id_a", "id_b")
      },
      Some(audioSpectralOracleSql())),

    // FLAC audio ingest (the r17-verdict wishlist item): the IDENTICAL
    // analytic PCM corpus, but shipped as real compressed 16-bit subset
    // FLAC containers (Flac.encode: STREAMINFO + VERBATIM/FIXED frames,
    // Rice residuals, CRC-8/CRC-16/PCM-MD5) and decoded back by the
    // hand-written bounds-checked subset decoder (Flac.decode — every
    // CRC and the PCM MD5 verified, nothing sized by declared counts),
    // then requantized into the canonical 8-bit WAV and fingerprinted
    // through the UNCHANGED spectral pipeline. FLAC is lossless by
    // spec, so the oracle is q_audio_spectral's VERBATIM — one row set
    // certifies encode -> container -> decode byte-fidelity AND the
    // fingerprint; any sample-corrupting codec bug (even a matched
    // encoder/decoder pair) hash-mismatches against the analytic
    // formula. Scale shape: one narrow decode map per payload, zero
    // shuffles before the banding — the decode-path posture shared by
    // every media operator here.
    QueryDef("q_audio_flac",
      (s, dir) => {
        import graft.operators.{Dedup, Multimodal}
        val fam = Tables.documents(s, dir).select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("family"))
        val wavs = Multimodal.flacToWav(
          Multimodal.syntheticFlacs(fam, "doc_id", "family"),
          "id", "payload")
        val fps = Multimodal.audioSpectralFingerprint(
          wavs.filter(col("decoded")), "id", "payload")
        Dedup.hammingCandidates(fps.filter(col("decoded")), "id", "asfp")
          .filter(col("hamming") <= 3)
          .orderBy("id_a", "id_b")
      },
      Some(audioSpectralOracleSql())),

    // LOSSY audio ingest #1 — G.711 mu-law telephony WAVs (format tag
    // 7): the identical analytic PCM, companded through the real lossy
    // 8-bit mu-law code, shipped as real WAV containers, decoded back
    // by the bounds-checked walk and fingerprinted through the
    // UNCHANGED spectral pipeline. Unlike FLAC this round-trip LOSES
    // information — the oracle therefore replays the exact companding
    // arithmetic (segment ladder + mantissa cut + midpoint decode, all
    // integer ops) before the fingerprint replay, hash-certifying a
    // lossy codec end to end: stronger than the rank-permutation
    // contract, available because G.711 is exact integer arithmetic.
    // (MP3/Opus were evaluated for this slot and rejected HONESTLY:
    // the MPEG synthesis window is a numerically-designed table with
    // no closed form — not rederivable in this offline environment,
    // and an approximated window would mis-decode real files while
    // claiming the format. See LossyAudio's scaladoc.) Scale shape:
    // one narrow decode map per payload, zero shuffles before banding.
    QueryDef("q_audio_mulaw",
      (s, dir) => {
        import graft.operators.{Dedup, LossyAudio, Multimodal}
        val fam = Tables.documents(s, dir).select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("family"))
        val wavs = LossyAudio.muLawToWav(
          LossyAudio.syntheticMuLawWavs(fam, "doc_id", "family"),
          "id", "payload")
        val fps = Multimodal.audioSpectralFingerprint(
          wavs.filter(col("decoded")), "id", "payload")
        Dedup.hammingCandidates(fps.filter(col("decoded")), "id", "asfp")
          .filter(col("hamming") <= 3)
          .orderBy("id_a", "id_b")
      },
      Some(audioMuLawOracleSql())),

    // LOSSY audio ingest #2 — IMA/DVI ADPCM WAVs (format tag 0x11):
    // the real 4-bit predictive voice codec (block headers carrying
    // the verbatim first sample + step index, nibble stream, adaptive
    // step table). STATEFUL lossy coding, so the oracle replays the
    // encoder-state recursion itself (one recursive CTE walking
    // predictor/step-index per sample — the q_bpe/q_unigram iterative-
    // replay technique applied to a signal codec; the decoder's output
    // IS the encoder's reconstruction by the codec's construction,
    // which LossyAudioSpec pins against the independent decoder), then
    // requantizes and reruns the unchanged spectral chain. Scale
    // shape: identical to every media decode path — one narrow map,
    // quarantine on malformed bytes, zero shuffles before banding.
    QueryDef("q_audio_adpcm",
      (s, dir) => {
        import graft.operators.{Dedup, LossyAudio, Multimodal}
        val fam = Tables.documents(s, dir).select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("family"))
        val wavs = LossyAudio.imaToWav(
          LossyAudio.syntheticImaWavs(fam, "doc_id", "family"),
          "id", "payload")
        val fps = Multimodal.audioSpectralFingerprint(
          wavs.filter(col("decoded")), "id", "payload")
        Dedup.hammingCandidates(fps.filter(col("decoded")), "id", "asfp")
          .filter(col("hamming") <= 3)
          .orderBy("id_a", "id_b")
      },
      Some(audioAdpcmOracleSql())),

    // image duplicate clustering: the perceptual near-dup pairs fold
    // into connected components (checkpointed iterative expansion —
    // constant plan depth, the q_dedup_clusters machinery) and a
    // per-cluster census. The LAION-style "keep one per image cluster"
    // step; oracle = image pair replay + recursive-CTE fixpoint.
    QueryDef("q_image_clusters",
      (s, dir) => {
        import graft.operators.{Dedup, Multimodal}
        val fam = Tables.documents(s, dir).select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("family"))
        val hashed = Multimodal.imageDHash(
          Multimodal.syntheticGrayPngs(fam, "doc_id", "family"),
          "id", "payload")
        val pairs = Dedup.hammingCandidates(
          hashed.filter(col("decoded")), "id", "phash")
          .filter(col("hamming") <= 3).select("id_a", "id_b")
        Dedup.clusters(pairs)
          .groupBy("rep").agg(count(lit(1)).as("n_members"))
          .orderBy("rep")
      },
      Some(imageClustersOracleSql())),

    // classifier-gated curation: the trained quality classifier
    // (q_quality_classifier's exact model — same features, labels,
    // GD rounds) scores the corpus, predicted-quality docs survive, and
    // the survivors pack into fixed-length training sequences. The
    // DCLM-style "filter by classifier, then pack" tail; the oracle
    // composes the full trained-model replay with the q_seq_pack window.
    QueryDef("q_classifier_curation",
      (s, dir) => {
        import graft.operators.{Corpus, QualityClassifier => QC, TextAnalysis => TA}
        val cfg = TA.GopherConfig(minWords = 25L, maxWords = 80L,
          minMeanWordLen = 3.0, maxMeanWordLen = 5.0, minStopwordHits = 1)
        // staged (r20 optimization round): `prepared` feeds BOTH the
        // bounded training sample AND the corpus-wide scoring scan — as
        // a `def` the gopher+feature pipeline executed once per
        // consumer. Eager staging is consistent with this query's
        // existing construction shape (QC.train already collects its
        // sample at build time, the semanticNearDupsPlan precedent).
        val prepared = Staging.snapshot(QC.withFeatures(
          TA.gopherRules(Tables.documents(s, dir), col("text"), cfg), "text")
          .select(col("doc_id"), col("text"), col("feats"),
            when(col("quality_pass"), 1.0d).otherwise(0.0d).as("y")))
        val model = QC.train(prepared, "doc_id", "feats", "y",
          rounds = 80, lr = 4.0, maxSample = 2000)
        val kept = QC.score(prepared, "feats", model)
          .filter(col("pred"))
          .select(col("doc_id"), TA.tokenCount(col("text")).as("n_tokens"))
        Corpus.packSequences(kept, "doc_id", "n_tokens", 2048L)
          .orderBy("doc_id")
      },
      Some(classifierCurationOracleSql(hashDim = 64, rounds = 80, lr = 4.0,
        maxSample = 2000)))
  )

  /** Fixed deterministic query vector for similarity search (unit-ish,
    * seeded pattern — not data-dependent so queries need no driver-side
    * collect).
    */
  lazy val fixedQueryVector: Seq[Double] =
    (0 until 64).map(i => math.sin(i + 1) / 8.0)

  /** [[fixedQueryVector]] as a DuckDB DOUBLE[] literal. Double.toString is
    * the shortest round-tripping decimal form, so the oracle parses back
    * the bit-identical doubles Spark's `lit` sees.
    */
  private lazy val queryVecSql: String =
    fixedQueryVector.map(_.toString).mkString("[", ",", "]") + "::DOUBLE[]"


  // DuckDB mirrors of the marker-scoring text queries. Marker scores are
  // pure length arithmetic: (len(t) - len(replace(t, m, ''))) / len(m).
  private def occSql(m: String, textExpr: String = "text"): String = {
    val esc = m.replace("'", "''")
    // code-point divisor, mirroring TextAnalysis.occurrences (both engines'
    // LENGTH counts code points); the scan base is the SAME lowercased
    // space-padded form langScore uses
    val base = s"' ' || LOWER($textExpr) || ' '"
    s"(LENGTH($base) - LENGTH(REPLACE($base, '$esc', ''))) / ${m.codePointCount(0, m.length)}"
  }

  private def scoreSql(lang: String, textExpr: String = "text"): String =
    TextAnalysis.langMarkers(lang).map(occSql(_, textExpr)).mkString(" + ")

  /** the int8 quantizer + cancelled-form scorer replay (base -> sc ->
    * qz -> scoredq), shared VERBATIM by q_embed_quantize and
    * q_embed_rerank so the two oracles can never drift from each other
    * (the minhashMd5BandedSql convention). */
  private lazy val quantizerCtesSql: String =
    raw"""base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), sc AS (SELECT vec_id, v, CASE WHEN m > 0 THEN m / 127.0 ELSE 1.0 END AS scale FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m FROM base)), qz AS (SELECT vec_id, list_transform(v, x -> GREATEST(LEAST(floor(x / scale + 0.5), 127.0), -127.0)) AS qv FROM sc), scoredq AS (SELECT * FROM (SELECT vec_id, list_inner_product(qv, $queryVecSql) / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product($queryVecSql, $queryVecSql))) AS c FROM qz) WHERE c IS NOT NULL AND NOT isnan(c))"""

  /** the langId CASE replay over an arbitrary `(doc_id, text)` source */
  private def langIdOracleFor(src: String): String = {
    val langs = TextAnalysis.langMarkers.keys.toSeq.sorted
    val scoreCols = langs.map(l => s"(${scoreSql(l)}) AS s_$l").mkString(", ")
    val best = s"GREATEST(${langs.map(l => s"s_$l").mkString(", ")})"
    val cases = langs.map(l => s"WHEN s_$l = best AND best > 0 THEN '$l'").mkString(" ")
    s"""WITH sc AS (SELECT doc_id, $scoreCols FROM $src), sb AS (SELECT *, $best AS best FROM sc) SELECT doc_id, CASE $cases ELSE 'und' END AS pred FROM sb ORDER BY doc_id"""
  }

  private lazy val langIdOracle: String = langIdOracleFor("documents")

  /** The PINNED trained-langid prediction replay over an arbitrary
    * `(doc_id, text)` source — charSpread normalization + md5
    * char-trigram features + 64 dots against the committed
    * [[graft.operators.LangIdPinned]] literal weight table (emitted as
    * a VALUES table of comma-joined `Double.toString` strings, cast
    * element-wise VARCHAR->DOUBLE: DuckDB's correctly-rounding parse of
    * a shortest-repr decimal recovers the exact bits, where a bare
    * decimal literal would round-trip through DECIMAL and double-round)
    * + the first-index argmax. Ends in CTE `plpred(doc_id, lang)`.
    *
    * This is the oracle-replay-economy half of the trained-gate design:
    * q_text_langid_trained certifies the full 24-round training
    * procedure in SQL once; composites that USE the model replay only
    * this scoring pass, and LangIdTrainedSpec's retrain-equality pin
    * guarantees the VALUES literals are exactly what that certified
    * procedure produces. */
  private def pinnedLangCtes(src: String): String = {
    import graft.operators.{LangIdPinned => LP, LangIdTrained => LT}
    val wvals = LP.Weights.zipWithIndex.map { case (w, c) =>
      s"($c, '${w.mkString(",")}', '${LP.Biases(c)}')"
    }.mkString(", ")
    val names = LP.Labels.zipWithIndex
      .map { case (l, c) => s"($c, '$l')" }.mkString(", ")
    raw"""plsrc AS MATERIALIZED (SELECT doc_id, trim(regexp_replace('_' || regexp_replace(lower(trim(text)), '[${LT.SpreadWs}]+', '_', 'g') || '_', '(.)', '\1 ', 'g')) AS text FROM $src), """ +
      md5EmbedVecCtes(64, n = 3, src = "plsrc") +
      ", plfv AS MATERIALIZED (SELECT doc_id, CAST(CAST(vd AS FLOAT[]) AS DOUBLE[]) AS x FROM ev0), " +
      s"plwraw(c, ws, bs) AS (VALUES $wvals), " +
      "plw AS MATERIALIZED (SELECT c, list_transform(string_split(ws, ','), s -> CAST(s AS DOUBLE)) AS w, CAST(bs AS DOUBLE) AS b FROM plwraw), " +
      "plsc AS MATERIALIZED (SELECT f.doc_id, w.c, list_inner_product(w.w, f.x) + w.b AS m FROM plfv f CROSS JOIN plw w), " +
      s"plnames(c, lang) AS (VALUES $names), " +
      "plpred AS MATERIALIZED (SELECT doc_id, lang FROM (SELECT s.doc_id, n.lang, row_number() OVER (PARTITION BY s.doc_id ORDER BY s.m DESC, s.c ASC) AS rn FROM plsc s JOIN plnames n ON n.c = s.c) WHERE rn = 1)"
  }

  /** The ONE fixed merge table shared by q_bpe_encode's engine body and
    * its oracle (ranks = list order). Chosen to exercise every encoding
    * behavior on this corpus' 31-word vocabulary: chains of merges
    * building on earlier merges (s+c, sc+an), rank priority inversions
    * (order: e+r fires before o+r despite position), end-of-word marker
    * merges (th+e</w>), and repeated-char pairs (l+l, g+g). A def — `all`
    * is built during object init (see topTermsK).
    */
  private def bpeLiteralMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("er", "</w>"), ("t", "h"), ("e", "</w>"), ("th", "e</w>"),
    ("a", "n"), ("s", "c"), ("sc", "an"), ("a", "t"), ("h", "a"), ("s", "t"),
    ("o", "r"), ("q", "u"), ("r", "o"), ("l", "l"), ("g", "g"))

  /** DuckDB replay of rank-greedy BPE encoding against the literal merge
    * table. Symbol lists are encoded as sentinel-wrapped strings — every
    * symbol as `|sym|`, a word as their concatenation — so the pair
    * `(x, y)` is present iff `|x||y|` occurs, and `replace(s, '|x||y|',
    * '|xy|')` merges ALL its occurrences left-to-right non-overlapping in
    * one pass, exactly Bpe.mergePair (replace scans the input, never the
    * emitted output, matching mergePair's i+2 advance). The recursive CTE
    * then iterates Bpe.encodeWord's loop: merge the lowest-rank present
    * pair until none remains. Safe because the `^[a-z]+$` word filter
    * keeps '|' (and any '</w>' fragment) out of the symbol alphabet.
    */
  private def bpeEncodeOracleSql: String = {
    val vals = bpeLiteralMerges.zipWithIndex
      .map { case ((a, b), r) => s"($r, '|$a||$b|', '|$a$b|')" }
      .mkString(", ")
    raw"""WITH RECURSIVE merges(rank, pat, rep) AS (VALUES $vals), words AS (SELECT tok AS w, COUNT(*) AS n_occ FROM (SELECT UNNEST(string_split_regex(TRIM(LOWER(text)), '\s+')) AS tok FROM documents) WHERE regexp_matches(tok, '^[a-z]+$$') GROUP BY tok), init AS (SELECT w, '|' || array_to_string(list_transform(range(1, length(w)+1), i -> substring(w, CAST(i AS INT), 1)), '||') || '||</w>|' AS s FROM words), enc AS (SELECT w, s FROM init UNION ALL SELECT e.w, replace(e.s, (SELECT m.pat FROM merges m WHERE contains(e.s, m.pat) ORDER BY m.rank LIMIT 1), (SELECT m.rep FROM merges m WHERE contains(e.s, m.pat) ORDER BY m.rank LIMIT 1)) FROM enc e WHERE EXISTS (SELECT 1 FROM merges m WHERE contains(e.s, m.pat))) SELECT w AS word, n_occ, trim(replace(s, '||', ' '), '|') AS subwords, CAST(len(string_split(trim(replace(s, '||', ' '), '|'), ' ')) AS BIGINT) AS n_subwords FROM enc e JOIN words USING (w) WHERE NOT EXISTS (SELECT 1 FROM merges m WHERE contains(e.s, m.pat)) ORDER BY word"""
  }

  /** The fixed byte-level merge table shared by q_bpe_bytes' engine body
    * and its oracle (ranks = list order; symbols are fixed-width
    * lowercase hex of UTF-8 bytes). Exercises: English merges building
    * on earlier merges (74+68 = "th", 7468+65 = "the"), the rank
    * priority inversion q_bpe_encode pins (on " the" the lower-ranked
    * "th" fires before the space merge 20+74, stranding the space
    * byte), leading-space merges (20+61 — the GPT-2 space-attachment
    * convention materialized in the vocab), digit pairs (31+32), and
    * multi-byte UTF-8 reassembly: U+673A (e6 9c ba) and U+306E
    * (e3 81 ae) rebuilt byte-by-byte from the CJK suffix. A def — `all`
    * is built during object init (see topTermsK). */
  private def bpeByteMerges: Seq[(String, String)] = Seq(
    ("65", "72"), ("74", "68"), ("7468", "65"), ("20", "74"),
    ("61", "6e"), ("616e", "64"), ("20", "61"), ("73", "74"),
    ("6f", "6e"), ("69", "6e"), ("31", "32"),
    ("e6", "9c"), ("e69c", "ba"), ("e3", "81"), ("e381", "ae"),
    ("e5", "ad"))

  /** q_bpe_bytes replay: the q_text_cjk suffix synthesis, the SHARED
    * pre-tokenizer pattern via regexp_extract_all (group 0 — RE2 and
    * Java read `\p{L}`/`\p{N}` identically, no lookahead anywhere), the
    * UTF-8 hex byte split (hex(encode(w)) lowercased, 2-char chunks),
    * and q_bpe_encode's sentinel-wrapped recursive-CTE rank-greedy merge
    * loop over the byte-level table. Hex symbols keep the sentinel
    * alphabet '|'-free by construction, so every pre-token — CJK,
    * punctuation, whitespace runs — is encoded. */
  private def bpeBytesOracleSql: String = {
    val vals = bpeByteMerges.zipWithIndex
      .map { case ((a, b), r) => s"($r, '|$a||$b|', '|$a$b|')" }
      .mkString(", ")
    val pat = graft.operators.Bpe.BytePretokenPattern
    raw"""WITH RECURSIVE merges(rank, pat, rep) AS (VALUES $vals), words AS (SELECT w, COUNT(*) AS n_occ FROM (SELECT UNNEST(regexp_extract_all(COALESCE(text, '') || ' ${CjkZhSentence} ${CjkJaPhrase}', '$pat')) AS w FROM documents) GROUP BY w), init AS (SELECT w, '|' || array_to_string(list_transform(range(1, octet_length(encode(w)) + 1), i -> lower(substring(hex(encode(w)), CAST(2*i-1 AS INT), 2))), '||') || '|' AS s FROM words), enc AS (SELECT w, s FROM init UNION ALL SELECT e.w, replace(e.s, (SELECT m.pat FROM merges m WHERE contains(e.s, m.pat) ORDER BY m.rank LIMIT 1), (SELECT m.rep FROM merges m WHERE contains(e.s, m.pat) ORDER BY m.rank LIMIT 1)) FROM enc e WHERE EXISTS (SELECT 1 FROM merges m WHERE contains(e.s, m.pat))) SELECT w AS word, n_occ, trim(replace(s, '||', ' '), '|') AS subwords, CAST(len(string_split(trim(replace(s, '||', ' '), '|'), ' ')) AS BIGINT) AS n_subwords FROM enc e JOIN words USING (w) WHERE NOT EXISTS (SELECT 1 FROM merges m WHERE contains(e.s, m.pat)) ORDER BY word"""
  }

  /** q_robots_filter replay: identical robots/URL synthesis, then the
    * RFC 9309 pipeline relationally — line explode (constant-bound
    * range over the split list), comment strip, field/value extraction
    * (split_part / strpos mirror substring_index / instr), user-agent
    * group islands (lag + running sum), agent selection (named group
    * presence else `*`), LIKE compilation (escape `\`/`%`/`_`, `*`→`%`,
    * trailing-$ anchor) and the (hit desc, pattern_len desc, rtype asc)
    * top-1 verdict. */
  private def robotsFilterOracleSql: String = {
    val nl = "chr(10)"
    val full = s"'# crawl policy' || $nl || 'User-agent: graftbot' || $nl || 'Disallow: /private' || k || '/' || $nl || 'Allow: /private' || k || '/pub/' || $nl || 'Disallow: /*.tmp$$' || $nl || $nl || 'User-agent: *' || $nl || 'Disallow: /' || $nl"
    // the wildcard-only hosts ship with CRLF line endings (RFC 9309
    // permits them) — exercises the \r?\n split on both engines
    val crlf = "chr(13) || chr(10)"
    val wild = s"'User-agent: *' || $crlf || 'Disallow: /private' || k || '/' || $crlf"
    "WITH ks AS MATERIALIZED (SELECT DISTINCT doc_id % 20 AS k FROM documents WHERE doc_id % 20 < 15), " +
      s"rb AS MATERIALIZED (SELECT 'h' || CAST(k AS VARCHAR) || '.example' AS host, CASE WHEN k % 5 = 4 THEN $wild ELSE $full END AS robots FROM ks), " +
      "ls AS (SELECT host, regexp_split_to_array(robots, '\r?\n') AS lns FROM rb), " +
      "lines AS (SELECT host, CAST(i AS INT) AS ln, trim(regexp_replace(lns[CAST(i AS INT)], '#.*', '', 'g')) AS line FROM ls CROSS JOIN range(1, 64) r(i) WHERE i <= len(lns)), " +
      "fv AS (SELECT host, ln, lower(trim(split_part(line, ':', 1))) AS field, trim(substring(line, strpos(line, ':') + 1)) AS value FROM lines WHERE contains(line, ':')), " +
      "rel AS (SELECT * FROM fv WHERE field IN ('user-agent', 'allow', 'disallow')), " +
      "grp0 AS (SELECT *, CASE WHEN field = 'user-agent' THEN 1 ELSE 0 END AS isua FROM rel), " +
      "grp1 AS (SELECT *, CASE WHEN isua = 1 AND COALESCE(LAG(isua) OVER (PARTITION BY host ORDER BY ln), 0) = 0 THEN 1 ELSE 0 END AS newgrp FROM grp0), " +
      "grp AS (SELECT *, SUM(newgrp) OVER (PARTITION BY host ORDER BY ln) AS g FROM grp1), " +
      "agents AS (SELECT host, g, lower(value) AS agent FROM grp WHERE field = 'user-agent'), " +
      "rules0 AS (SELECT host, g, field AS rtype, value AS pattern FROM grp WHERE field <> 'user-agent' AND value <> ''), " +
      "rules AS MATERIALIZED (SELECT a.host, a.agent, r.rtype, r.pattern, CAST(strlen(r.pattern) - CASE WHEN r.pattern LIKE '%$' THEN 1 ELSE 0 END AS BIGINT) AS pattern_len FROM agents a JOIN rules0 r ON a.host = r.host AND a.g = r.g), " +
      "hs AS (SELECT host, MAX(CASE WHEN agent = 'graftbot' THEN 1 ELSE 0 END) AS has_spec FROM rules GROUP BY host), " +
      raw"""chosen AS MATERIALIZED (SELECT r.host, r.rtype, r.pattern, r.pattern_len, CASE WHEN pattern LIKE '%$$' THEN substring(lw, 1, length(lw) - 1) ELSE lw || '%' END AS likepat FROM (SELECT *, replace(replace(replace(replace(pattern, '\', '\\'), '%', '\%'), '_', '\_'), '*', '%') AS lw FROM rules r JOIN hs USING (host) WHERE (has_spec = 1 AND agent = 'graftbot') OR (has_spec = 0 AND agent = '*')) r), """ +
      "urls AS MATERIALIZED (SELECT doc_id, 'h' || CAST(doc_id % 20 AS VARCHAR) || '.example' AS host, UNNEST(['/', '/private' || CAST(doc_id % 20 AS VARCHAR) || '/pub/page' || CAST(doc_id AS VARCHAR), '/private' || CAST(doc_id % 20 AS VARCHAR) || '/x' || CAST(doc_id AS VARCHAR), '/files/f' || CAST(doc_id AS VARCHAR) || '.tmp', '/files/f' || CAST(doc_id AS VARCHAR) || '.tmpx']) AS path FROM documents), " +
      "hp AS (SELECT DISTINCT host, path FROM urls), " +
      raw"""m AS (SELECT hp.host, hp.path, c.rtype, c.pattern, c.pattern_len, (c.likepat IS NOT NULL AND hp.path LIKE c.likepat ESCAPE '\') AS hit FROM hp LEFT JOIN chosen c ON hp.host = c.host), """ +
      "v AS (SELECT host, path, (NOT hit OR rtype = 'allow') AS allowed, CASE WHEN hit THEN pattern END AS matched FROM (SELECT *, row_number() OVER (PARTITION BY host, path ORDER BY hit DESC, pattern_len DESC, rtype ASC, pattern ASC) AS rk FROM m) WHERE rk = 1) " +
      "SELECT u.doc_id, u.path, COALESCE(v.allowed, TRUE) AS allowed, v.matched FROM urls u LEFT JOIN v ON u.host = v.host AND u.path = v.path ORDER BY u.doc_id, u.path"
  }

  /** q_long_repeats replay: the planted-straddle corpus (same CASE
    * synthesis), codepoints via the constant-bound range, the anchor
    * rolling hash as the 8 LAG terms with divisor 16, 16-codepoint
    * seeds, the capped star pairs (rank 1 vs ranks 2..9 per seed
    * CONTENT — the engine buckets on the seed's md5-64, collision
    * differences being the md5 twins' accepted philosophy), and
    * MAXIMAL extension as first-mismatch MINs over per-codepoint
    * lookups (NULL IS DISTINCT catching one-sided text ends; the
    * no-mismatch fallbacks extend to the shorter text's boundary). */
  private def longRepeatsOracleSql: String =
    s"WITH $longRepeatCtesSql " +
      "SELECT DISTINCT id_a, id_b, CAST(sa - el AS BIGINT) AS start_a, CAST(sb - el AS BIGINT) AS start_b, CAST(16 + el + er AS BIGINT) AS rep_len FROM ext WHERE 16 + el + er >= 40 ORDER BY id_a, id_b, start_a, start_b"

  /** q_repeat_scrub replay: the shared repeat chain, then the removal —
    * later-copy (`id_b`) spans merge as overlap-or-adjacent islands
    * (running-max window + island sum), segments between islands plus
    * the tail reassemble in order, untouched docs backfill via the left
    * join. Mirrors Corpus.scrubLongRepeats parenthesization exactly. */
  private def repeatScrubOracleSql: String =
    s"WITH $longRepeatCtesSql, " +
      "rep AS MATERIALIZED (SELECT DISTINCT id_a, id_b, CAST(sa - el AS BIGINT) AS start_a, CAST(sb - el AS BIGINT) AS start_b, CAST(16 + el + er AS BIGINT) AS rep_len FROM ext WHERE 16 + el + er >= 40), " +
      "iv AS (SELECT id_b AS id, start_b AS s, start_b + rep_len AS e FROM rep), " +
      "mx AS (SELECT *, MAX(e) OVER (PARTITION BY id ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe FROM iv), " +
      "isl AS (SELECT *, SUM(CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END) OVER (PARTITION BY id ORDER BY s, e) AS island FROM mx), " +
      "mrg AS MATERIALIZED (SELECT id, island, MIN(s) AS s, MAX(e) AS e FROM isl GROUP BY id, island), " +
      "pieces AS (SELECT m.id, m.island, substring(p.text, CAST(m.pe AS INT), CAST(m.s - m.pe AS INT)) AS piece FROM (SELECT *, COALESCE(LAG(e) OVER (PARTITION BY id ORDER BY s), 1) AS pe FROM mrg) m JOIN pd p ON p.doc_id = m.id), " +
      "tails AS (SELECT m.id, MAX(m.e) AS me, SUM(m.e - m.s) AS n_removed, COUNT(*) AS n_spans FROM mrg m GROUP BY m.id), " +
      "body AS (SELECT id, string_agg(piece, '' ORDER BY island) AS bodytxt FROM pieces GROUP BY id), " +
      "scr AS (SELECT b.id, b.bodytxt || substring(p.text, CAST(t.me AS INT)) AS ct, t.n_spans, t.n_removed FROM body b JOIN tails t USING (id) JOIN pd p ON p.doc_id = b.id) " +
      "SELECT p.doc_id, COALESCE(s.ct, p.text) AS clean_text, CAST(COALESCE(s.n_spans, 0) AS BIGINT) AS n_spans, CAST(COALESCE(s.n_removed, 0) AS BIGINT) AS n_removed FROM pd p LEFT JOIN scr s ON s.id = p.doc_id ORDER BY p.doc_id"

  /** The planted repeated-spans corpus every long-repeat row (and the
    * batch==stream pins in StreamingSpec/LongRepeatSpec) runs on: docs
    * with `doc_id % 10 <= 1` get a pair-shared 48-char md5 splice at a
    * per-doc offset. ONE definition on purpose — the rows share
    * longRepeatsOracleSql / repeatScrubOracleSql VERBATIM, so a drifted
    * copy would surface as an opaque oracle mismatch instead of a
    * compile error; the DuckDB mirror is [[longRepeatCtesSql]]'s `pd`
    * CTE. */
  private[graft] def plantedRepeatDocs(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.selectExpr("doc_id", "doc_id div 10 AS j",
        "CAST(LEAST(40 + doc_id % 13, length(text)) AS INT) AS off",
        "text")
      .selectExpr("doc_id",
        "CASE WHEN doc_id % 10 <= 1 THEN substring(text, 1, off) || " +
          "md5(CONCAT('rep:', CAST(j AS STRING))) || " +
          "substring(md5(CONCAT('repB:', CAST(j AS STRING))), 1, 16) " +
          "|| substring(text, off + 1) ELSE text END AS text")

  /** the shared planted-corpus + anchor + candidate + extension chain
    * ending in `ext(id_a, id_b, sa, sb, el, er)` — used VERBATIM by
    * q_long_repeats and q_repeat_scrub so the two oracles cannot
    * drift. */
  private def longRepeatCtesSql: String =
    s"pd AS MATERIALIZED (SELECT doc_id, CASE WHEN doc_id % 10 <= 1 THEN substring(text, 1, off) || md5('rep:' || CAST(j AS VARCHAR)) || substring(md5('repB:' || CAST(j AS VARCHAR)), 1, 16) || substring(text, off + 1) ELSE text END AS text FROM (SELECT doc_id, doc_id // 10 AS j, CAST(LEAST(40 + doc_id % 13, length(text)) AS INT) AS off, text FROM documents)), " +
      longRepeatChainSql

  /** the anchor + candidate + extension chain over a preceding
    * `pd(doc_id, text, ...)` CTE, ending in `ext(id_a, id_b, sa, sb,
    * el, er)` — split from [[longRepeatCtesSql]] so q_repeat_recall can
    * run the SAME detection replay over its own planted corpus. */
  private def longRepeatChainSql: String = {
    import graft.operators.Corpus
    val g = Corpus.cdcWeights(8)
    val terms = (0 until 8).map { j =>
      if (j == 0) s"cp * ${g(j)}"
      else s"COALESCE(LAG(cp, $j) OVER (PARTITION BY doc_id ORDER BY i), CAST(0 AS BIGINT)) * ${g(j)}"
    }.mkString(" + ")
    val r = CdcOracleMaxCp
    anchorCtesSql + ", " + repeatExtChainSql()
  }

  /** the codepoint/hash/anchor/seed chain over a preceding
    * `pd(doc_id, text, ...)` CTE, ending in `anc2(doc_id, s0, seed)` —
    * the front half of [[longRepeatChainSql]], shared with
    * q_stream_repeats' arrival-rank replay. */
  private def anchorCtesSql: String = {
    import graft.operators.Corpus
    val g = Corpus.cdcWeights(8)
    val terms = (0 until 8).map { j =>
      if (j == 0) s"cp * ${g(j)}"
      else s"COALESCE(LAG(cp, $j) OVER (PARTITION BY doc_id ORDER BY i), CAST(0 AS BIGINT)) * ${g(j)}"
    }.mkString(" + ")
    val r = CdcOracleMaxCp
    s"cps AS MATERIALIZED (SELECT doc_id, CAST(i AS INT) AS i, CAST(unicode(substring(text, CAST(i AS INT), 1)) AS BIGINT) AS cp FROM pd CROSS JOIN range(1, $r) r(i) WHERE i <= length(text)), " +
      s"hs AS (SELECT doc_id, i, ($terms) % ${Corpus.CdcMod} AS h FROM cps), " +
      "anc AS (SELECT doc_id, CAST(i - 7 AS INT) AS s0 FROM hs WHERE i >= 8 AND h % 16 = 0), " +
      "anc2 AS MATERIALIZED (SELECT a.doc_id, a.s0, substring(p.text, a.s0, 16) AS seed FROM anc a JOIN pd p USING (doc_id) WHERE a.s0 + 15 <= length(p.text))"
  }

  /** q_stream_repeats replay: the shared anchor chain + the arrival-
    * rank window (ts strictly increasing in doc_id and anchors arrive
    * in s0 order, so batch arrival order == `(doc_id, s0)`): rank > 1
    * is a candidate against the seed's first arrival, capped at the
    * batch bucket's 8 later-arrivals. The engine keys state on the
    * seed's md5-64; the oracle ranks per seed CONTENT — the md5 twins'
    * accepted philosophy (a collision can only fabricate a CANDIDATE;
    * the batch extension step re-verifies text equality). */
  private def streamRepeatsOracleSql: String =
    "WITH pd AS MATERIALIZED (SELECT doc_id, text FROM documents), " +
      anchorCtesSql + ", " +
      "arr AS (SELECT doc_id, s0, row_number() OVER (PARTITION BY seed ORDER BY doc_id, s0) AS rk, first_value(doc_id) OVER (PARTITION BY seed ORDER BY doc_id, s0) AS first_doc, first_value(s0) OVER (PARTITION BY seed ORDER BY doc_id, s0) AS first_s0 FROM anc2) " +
      "SELECT doc_id, CAST(s0 AS INT) AS s0, first_doc, CAST(first_s0 AS INT) AS first_s0, CAST(rk AS BIGINT) AS rk FROM arr WHERE rk > 1 AND rk <= 9 ORDER BY doc_id, s0, first_doc"

  /** the rank/candidate/extension half of [[longRepeatChainSql]] over
    * an EXPLICIT anchor CTE (default `anc2`) and text source (default
    * `pd`) — split out so q_scrub_composite can run the identical
    * machinery over its hot-cut anchor set and the raw documents. A
    * preceding `cps(doc_id, i, cp)` CTE over the same text source is
    * required (the extension scans read it). */
  private def repeatExtChainSql(anchorSrc: String = "anc2",
      textSrc: String = "pd"): String = {
    val r = CdcOracleMaxCp
    s"rkd AS MATERIALIZED (SELECT doc_id, s0, seed, row_number() OVER (PARTITION BY seed ORDER BY doc_id, s0) AS rk FROM $anchorSrc), " +
      "cand AS MATERIALIZED (SELECT row_number() OVER (ORDER BY f.doc_id, f.s0, r.doc_id, r.s0) AS cid, f.doc_id AS id_a, f.s0 AS sa, r.doc_id AS id_b, r.s0 AS sb FROM rkd f JOIN rkd r ON f.seed = r.seed AND f.rk = 1 AND r.rk BETWEEN 2 AND 9 AND f.doc_id <> r.doc_id), " +
      s"lm AS MATERIALIZED (SELECT c.cid, MIN(e) AS ml FROM cand c CROSS JOIN range(1, $r) q(e) LEFT JOIN cps a ON a.doc_id = c.id_a AND a.i = c.sa - CAST(e AS INT) LEFT JOIN cps b ON b.doc_id = c.id_b AND b.i = c.sb - CAST(e AS INT) WHERE a.cp IS DISTINCT FROM b.cp GROUP BY c.cid), " +
      s"rm AS MATERIALIZED (SELECT c.cid, MIN(e) AS mr FROM cand c CROSS JOIN range(1, $r) q(e) LEFT JOIN cps a ON a.doc_id = c.id_a AND a.i = c.sa + 15 + CAST(e AS INT) LEFT JOIN cps b ON b.doc_id = c.id_b AND b.i = c.sb + 15 + CAST(e AS INT) WHERE a.cp IS DISTINCT FROM b.cp GROUP BY c.cid), " +
      s"lens AS (SELECT doc_id, length(text) AS len FROM $textSrc), " +
      "ext AS (SELECT c.id_a, c.id_b, c.sa, c.sb, COALESCE(l.ml - 1, LEAST(c.sa, c.sb) - 1) AS el, COALESCE(r2.mr - 1, LEAST(la.len - c.sa, lb.len - c.sb) - 15) AS er FROM cand c LEFT JOIN lm l USING (cid) LEFT JOIN rm r2 USING (cid) JOIN lens la ON la.doc_id = c.id_a JOIN lens lb ON lb.doc_id = c.id_b)"
  }

  /** q_repeat_recall replay: the recall-geometry corpus (unique hex
    * hosts, sentinel-framed pair-unique repeats at L = 40/60/120), the
    * SHARED detection chain ([[longRepeatChainSql]] — the engine
    * buckets on the seed's md5-64, the oracle on seed content, the md5
    * twins' accepted philosophy), the EXACT exhaustive-gram ground
    * truth (consecutive-diagonal islands — Corpus.exactRepeats's
    * relational shape restated in SQL), and the per-length recall
    * aggregates with the pinned bounds. */
  private def repeatRecallOracleSql: String = {
    val bg = (0 until 7)
      .map(k => s"md5('rbg:' || CAST(doc_id AS VARCHAR) || ':$k')")
      .mkString(" || ")
    val repSrc = (0 until 4)
      .map(k => s"md5('rcl:' || CAST(g AS VARCHAR) || ':$k')")
      .mkString(" || ")
    val r = CdcOracleMaxCp
    val boundCase = "CASE lrep WHEN 40 THEN CAST('0.5' AS DOUBLE) " +
      "WHEN 60 THEN CAST('0.8' AS DOUBLE) ELSE CAST('0.95' AS DOUBLE) END"
    "WITH base AS MATERIALIZED (SELECT doc_id, g, role, lrep, off, " +
      "CASE WHEN role = 2 THEN substring(bg, 1, off - 1) || '<' || rep || '>' || substring(bg, off) " +
      "WHEN role = 3 THEN substring(bg, 1, off - 1) || '[' || rep || ']' || substring(bg, off) ELSE bg END AS text " +
      s"FROM (SELECT doc_id, g, role, lrep, substring($repSrc, 1, lrep) AS rep, CASE role WHEN 2 THEN 11 + CAST(g % 7 AS INT) WHEN 3 THEN 23 + CAST(g % 11 AS INT) ELSE NULL END AS off, bg FROM (SELECT doc_id, g, role, CASE CAST(g % 3 AS INT) WHEN 0 THEN 40 WHEN 1 THEN 60 ELSE 120 END AS lrep, $bg AS bg FROM (SELECT doc_id, doc_id // 4 AS g, CAST(doc_id % 4 AS INT) AS role FROM documents)))), " +
      "pd AS MATERIALIZED (SELECT doc_id, text FROM base), " +
      longRepeatChainSql + ", " +
      "rep AS MATERIALIZED (SELECT DISTINCT id_a, id_b, CAST(sa - el AS BIGINT) AS start_a, CAST(sb - el AS BIGINT) AS start_b, CAST(16 + el + er AS BIGINT) AS rep_len FROM ext WHERE 16 + el + er >= 40), " +
      "prs AS MATERIALIZED (SELECT a.g, a.lrep, a.doc_id AS ida, a.off + 1 AS pa, b.doc_id AS idb, b.off + 1 AS pb FROM base a JOIN base b ON b.g = a.g AND a.role = 2 AND b.role = 3), " +
      s"tg AS MATERIALIZED (SELECT doc_id, CAST(q.p AS INT) AS p, substring(text, CAST(q.p AS INT), 40) AS gram FROM base CROSS JOIN range(1, $r) q(p) WHERE role IN (2, 3) AND q.p <= length(text) - 39), " +
      "mt AS MATERIALIZED (SELECT pr.g, a.p AS p_a, b.p AS p_b FROM prs pr JOIN tg a ON a.doc_id = pr.ida JOIN tg b ON b.doc_id = pr.idb AND b.gram = a.gram), " +
      "tru AS MATERIALIZED (SELECT g, MIN(p_a) AS start_a, MIN(p_b) AS start_b, COUNT(*) + 39 AS rep_len FROM (SELECT g, p_a, p_b, p_a - p_b AS d, p_a - row_number() OVER (PARTITION BY g, p_a - p_b ORDER BY p_a) AS isl FROM mt) GROUP BY g, d, isl), " +
      "tagg AS (SELECT pr.lrep, pr.g, COUNT(t.start_a) AS n_truth_p, SUM(CASE WHEN t.start_a = pr.pa AND t.start_b = pr.pb AND t.rep_len = pr.lrep THEN 1 ELSE 0 END) AS n_match_p FROM prs pr LEFT JOIN tru t ON t.g = pr.g GROUP BY 1, 2), " +
      "hagg AS (SELECT pr.lrep, pr.g, MAX(CASE WHEN r2.id_a IS NOT NULL THEN 1 ELSE 0 END) AS hit FROM prs pr LEFT JOIN rep r2 ON r2.id_a = pr.ida AND r2.id_b = pr.idb AND r2.start_a <= pr.pa AND r2.start_a + r2.rep_len >= pr.pa + pr.lrep AND r2.start_b <= pr.pb AND r2.start_b + r2.rep_len >= pr.pb + pr.lrep GROUP BY 1, 2), " +
      "agg AS (SELECT t.lrep, COUNT(*) AS n_pairs, SUM(t.n_truth_p) AS n_truth, SUM(t.n_match_p) AS n_matched, SUM(h.hit) AS n_detected FROM tagg t JOIN hagg h ON h.lrep = t.lrep AND h.g = t.g GROUP BY 1) " +
      s"SELECT lrep, CAST(n_pairs AS BIGINT) AS n_pairs, CAST(n_truth AS BIGINT) AS n_truth, CAST(n_matched AS BIGINT) AS n_matched, (n_truth = n_pairs AND n_matched = n_pairs) AS truth_exact, CAST(n_detected AS BIGINT) AS n_detected, floor((CAST(n_detected AS DOUBLE) / CAST(n_pairs AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS recall_r, $boundCase AS bound_r, (CAST(n_detected AS DOUBLE) / CAST(n_pairs AS DOUBLE)) >= ($boundCase) AS recall_ok FROM agg ORDER BY lrep"
  }

  /** q_scrub_recall replay: the planted flank-geometry corpus (every
    * doc carries the GLOBAL 192-cp HOT segment — maximal boilerplate
    * heat; pair-unique flanks of L = 40/60/120 sit immediately LEFT of
    * HOT, sentinel-framed so the pair's maximal shared run is exactly
    * flank||HOT), the IDENTICAL six-stage composite chain re-rooted on
    * the planted corpus ([[scrubCompositeChainSql]] over `pdocs`), the
    * exhaustive 40-gram diagonal-island ground truth on the ORIGINALS
    * (proving the planted geometry: one run per pair, exact span), and
    * the RESIDUAL check on the CLEANED texts: a pair fails iff its two
    * clean_texts still share any 40-codepoint run (the end-to-end
    * exact-substring contract — this is where the hot-region anchor
    * cut's documented flank trade would surface). recall = 1 -
    * failures/pairs per flank length, pinned >= bound. */
  private def scrubRecallOracleSql: String = {
    val hot = (0 until 6).map(k => s"md5('hotseg:$k')").mkString(" || ")
    val fl = (0 until 4)
      .map(k => s"md5('fl:' || CAST(g AS VARCHAR) || ':$k')")
      .mkString(" || ")
    val pre = (0 until 3)
      .map(k => s"md5('sra:' || CAST(doc_id AS VARCHAR) || ':$k')")
      .mkString(" || ")
    val suf = (0 until 3)
      .map(k => s"md5('srb:' || CAST(doc_id AS VARCHAR) || ':$k')")
      .mkString(" || ")
    val r = CdcOracleMaxCp
    val boundCase = "CASE lrep WHEN 40 THEN CAST('0.8' AS DOUBLE) " +
      "WHEN 60 THEN CAST('0.9' AS DOUBLE) ELSE CAST('0.98' AS DOUBLE) END"
    "WITH meta AS MATERIALIZED (SELECT doc_id, doc_id // 2 AS g, CAST(doc_id % 2 AS INT) AS role, CASE CAST((doc_id // 2) % 3 AS INT) WHEN 0 THEN 40 WHEN 1 THEN 60 ELSE 120 END AS lrep FROM documents), " +
      s"pdocs AS MATERIALIZED (SELECT doc_id, pre || CASE role WHEN 0 THEN '<' ELSE '[' END || flank || hot || CASE role WHEN 0 THEN '>' ELSE ']' END || suf AS text FROM (SELECT doc_id, role, substring($fl, 1, lrep) AS flank, CASE role WHEN 0 THEN substring($pre, 1, 96) ELSE substring($pre, 1, 80 + CAST(g % 7 AS INT)) END AS pre, substring($suf, 1, 96) AS suf, $hot AS hot FROM meta)), " +
      scrubCompositeChainSql("pdocs") + ", " +
      "prs AS MATERIALIZED (SELECT a.g, a.lrep, a.doc_id AS ida, 98 AS pa, b.doc_id AS idb, 82 + CAST(a.g % 7 AS INT) AS pb FROM meta a JOIN meta b ON b.g = a.g AND a.role = 0 AND b.role = 1), " +
      s"tg AS MATERIALIZED (SELECT doc_id, CAST(q.p AS INT) AS p, substring(text, CAST(q.p AS INT), 40) AS gram FROM pdocs CROSS JOIN range(1, $r) q(p) WHERE q.p <= length(text) - 39), " +
      "mt AS MATERIALIZED (SELECT pr.g, a.p AS p_a, b.p AS p_b FROM prs pr JOIN tg a ON a.doc_id = pr.ida JOIN tg b ON b.doc_id = pr.idb AND b.gram = a.gram), " +
      "tru AS MATERIALIZED (SELECT g, MIN(p_a) AS start_a, MIN(p_b) AS start_b, COUNT(*) + 39 AS rep_len FROM (SELECT g, p_a, p_b, p_a - p_b AS d, p_a - row_number() OVER (PARTITION BY g, p_a - p_b ORDER BY p_a) AS isl FROM mt) GROUP BY g, d, isl), " +
      "tagg AS (SELECT pr.lrep, pr.g, COUNT(t.start_a) AS n_truth_p, SUM(CASE WHEN t.start_a = pr.pa AND t.start_b = pr.pb AND t.rep_len = pr.lrep + 192 THEN 1 ELSE 0 END) AS n_match_p FROM prs pr LEFT JOIN tru t ON t.g = pr.g GROUP BY 1, 2), " +
      s"rg AS MATERIALIZED (SELECT doc_id, substring(clean_text, CAST(q.p AS INT), 40) AS gram FROM scomp CROSS JOIN range(1, $r) q(p) WHERE q.p <= length(clean_text) - 39), " +
      "rhit AS MATERIALIZED (SELECT DISTINCT pr.g FROM prs pr JOIN rg a ON a.doc_id = pr.ida JOIN rg b ON b.doc_id = pr.idb AND b.gram = a.gram), " +
      "ragg AS (SELECT pr.lrep, pr.g, CASE WHEN rh.g IS NULL THEN 0 ELSE 1 END AS resid FROM prs pr LEFT JOIN rhit rh ON rh.g = pr.g), " +
      "agg AS (SELECT t.lrep, COUNT(*) AS n_pairs, SUM(t.n_truth_p) AS n_truth, SUM(t.n_match_p) AS n_matched, SUM(r2.resid) AS n_resid FROM tagg t JOIN ragg r2 ON r2.lrep = t.lrep AND r2.g = t.g GROUP BY 1) " +
      s"SELECT lrep, CAST(n_pairs AS BIGINT) AS n_pairs, CAST(n_truth AS BIGINT) AS n_truth, CAST(n_matched AS BIGINT) AS n_matched, (n_truth = n_pairs AND n_matched = n_pairs) AS truth_exact, CAST(n_resid AS BIGINT) AS n_resid, floor((1.0 - CAST(n_resid AS DOUBLE) / CAST(n_pairs AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS recall_r, $boundCase AS bound_r, (1.0 - CAST(n_resid AS DOUBLE) / CAST(n_pairs AS DOUBLE)) >= ($boundCase) AS recall_ok FROM agg ORDER BY lrep"
  }

  /** q_scrub_composite replay: ALL SIX stages — the shared chunk chain
    * (cps/hs reused for BOTH the chunk census and the anchors, exactly
    * the fusion the engine's censusWalk performs), chunk extents +
    * cross-doc dup census, the hot-region anchor cut (ANTI JOIN against
    * the chunk spans), the shared candidate/extension machinery
    * ([[repeatExtChainSql]] over `anc3`/`documents`), the union-span
    * island cut, and the token-domain 8-gram scrub over the
    * intermediate text (the q_span_scrub chain re-rooted on `cut1`). */
  private def scrubCompositeOracleSql: String =
    s"WITH ${scrubCompositeChainSql()} " +
      "SELECT doc_id, clean_text, n_cp_spans, n_cp_removed, n_tokens, n_tok_removed FROM scomp ORDER BY doc_id"

  /** the full six-stage composite chain of [[scrubCompositeOracleSql]]
    * ending in the CTE `scomp(doc_id, clean_text, n_cp_spans,
    * n_cp_removed, n_tokens, n_tok_removed)` — split out (and `src`-
    * parameterized, default the raw table) so q_scrub_recall can run
    * the IDENTICAL replay over its planted corpus and then measure
    * residual cross-pair repeats on `scomp.clean_text`. */
  private def scrubCompositeChainSql(src: String = "documents"): String =
    s"${cdcChunkCtesSql(src)}, " +
      "chext AS MATERIALIZED (SELECT doc_id, cidx, chunk, n_cp, SUM(n_cp) OVER (PARTITION BY doc_id ORDER BY cidx) + 1 AS e FROM chunks), " +
      "cdup AS (SELECT chunk FROM chunks GROUP BY chunk HAVING COUNT(DISTINCT doc_id) >= 2), " +
      "cspan AS MATERIALIZED (SELECT c.doc_id AS id, c.e - c.n_cp AS s, c.e AS e FROM chext c JOIN cdup USING (chunk)), " +
      "anc AS (SELECT doc_id, CAST(i - 7 AS INT) AS s0 FROM hs WHERE i >= 8 AND h % 16 = 0), " +
      s"anc2 AS MATERIALIZED (SELECT a.doc_id, a.s0, substring(p.text, a.s0, 16) AS seed FROM anc a JOIN $src p USING (doc_id) WHERE a.s0 + 15 <= length(p.text)), " +
      "anc3 AS MATERIALIZED (SELECT a.doc_id, a.s0, a.seed FROM anc2 a ANTI JOIN cspan c ON c.id = a.doc_id AND a.s0 >= c.s AND a.s0 + 16 <= c.e), " +
      repeatExtChainSql("anc3", src) + ", " +
      "rsp AS MATERIALIZED (SELECT DISTINCT id_b AS id, CAST(sb - el AS BIGINT) AS s, CAST(sb + 16 + er AS BIGINT) AS e FROM ext WHERE 16 + el + er >= 40), " +
      "allsp AS (SELECT id, s, e FROM cspan UNION ALL SELECT id, s, e FROM rsp), " +
      "mx AS (SELECT *, MAX(e) OVER (PARTITION BY id ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe FROM allsp), " +
      "isl AS (SELECT *, SUM(CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END) OVER (PARTITION BY id ORDER BY s, e) AS island FROM mx), " +
      "mrg AS MATERIALIZED (SELECT id, island, MIN(s) AS s, MAX(e) AS e FROM isl GROUP BY id, island), " +
      s"pieces AS (SELECT m.id, m.island, substring(p.text, CAST(m.pe AS INT), CAST(m.s - m.pe AS INT)) AS piece FROM (SELECT *, COALESCE(LAG(e) OVER (PARTITION BY id ORDER BY s), 1) AS pe FROM mrg) m JOIN $src p ON p.doc_id = m.id), " +
      "tails AS (SELECT m.id, MAX(m.e) AS me, SUM(m.e - m.s) AS n_removed, COUNT(*) AS n_spans FROM mrg m GROUP BY m.id), " +
      "body AS (SELECT id, string_agg(piece, '' ORDER BY island) AS bodytxt FROM pieces GROUP BY id), " +
      s"scr AS (SELECT b.id, b.bodytxt || substring(p.text, CAST(t.me AS INT)) AS ct, t.n_spans, t.n_removed FROM body b JOIN tails t USING (id) JOIN $src p ON p.doc_id = b.id), " +
      s"cut1 AS MATERIALIZED (SELECT p.doc_id, COALESCE(s.ct, p.text) AS text, CAST(COALESCE(s.n_spans, 0) AS BIGINT) AS n_cp_spans, CAST(COALESCE(s.n_removed, 0) AS BIGINT) AS n_cp_removed FROM $src p LEFT JOIN scr s ON s.id = p.doc_id), " +
      raw"""stoks AS MATERIALIZED (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t FROM cut1), """ +
      "sg AS (SELECT doc_id, i AS start, array_to_string(t[i:i+7], ' ') AS span FROM stoks, UNNEST(generate_series(1, len(t) - 7)) AS u(i) WHERE len(t) >= 8), " +
      "srep AS (SELECT span FROM sg GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2), " +
      "scov AS (SELECT DISTINCT doc_id, start + o AS pos FROM sg JOIN srep USING (span), UNNEST(generate_series(0, 7)) AS v(o)), " +
      "spos AS (SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS pos FROM stoks), " +
      "skept AS (SELECT p.doc_id, string_agg(p.tok, ' ' ORDER BY p.pos) AS clean_text, COUNT(*) AS nk FROM spos p ANTI JOIN scov c ON p.doc_id = c.doc_id AND p.pos = c.pos GROUP BY p.doc_id), " +
      "scomp AS MATERIALIZED (SELECT t.doc_id, COALESCE(k.clean_text, '') AS clean_text, c1.n_cp_spans, c1.n_cp_removed, CAST(len(t.t) AS BIGINT) AS n_tokens, CAST(len(t.t) - COALESCE(k.nk, 0) AS BIGINT) AS n_tok_removed FROM stoks t JOIN cut1 c1 USING (doc_id) LEFT JOIN skept k ON t.doc_id = k.doc_id)"

  /** q_doc_cdc replay: codepoints via constant-bound range + substring/
    * unicode (both engines are codepoint-based — WidthFold/CJK rows
    * established the substring parity), the rolling hash as the 8 LAG
    * terms with [[graft.operators.Corpus.cdcWeights]]' exact constants,
    * boundary set ∪ text end, chunk extents via LAG over boundaries,
    * then the same duplicated-chunk census. Every term is BIGINT (cp <
    * 2^21, weight < 2^35, 8 terms < 2^59 — no overflow either side). */
  /** CAP: the oracle chain below enumerates codepoint positions via a
    * constant-bound `range(1, 2048)` — a document of ≥ 2048 codepoints
    * would be silently truncated on the DuckDB side while
    * [[graft.operators.Corpus.cdcChunks]] processes the full text.
    * [[cdcOracleBoundGuard]] turns that silent divergence into a loud
    * engine-side failure; raise BOTH constants together if the data
    * generator's document-length bound ever grows. */
  // `final val` (constant-folded) — a plain val would still be 0 when
  // the oracle-SQL strings are built during object initialization
  private[queries] final val CdcOracleMaxCp = 2048

  /** row-level guard for the CDC oracles' replay bound: a codegen'd
    * `assert_true` filter (near-zero cost, no extra action) that fails
    * the job with a diagnostic the moment any document reaches
    * [[CdcOracleMaxCp]] codepoints, instead of hash-mismatching. */
  private def cdcOracleBoundGuard(docs: DataFrame): DataFrame =
    docs.filter(assert_true(
      coalesce(length(col("text")), lit(0)) < CdcOracleMaxCp,
      lit("a CDC-replay oracle (q_doc_cdc / q_cdc_scrub / q_stream_cdc" +
        " / q_long_repeats / q_repeat_scrub / q_repeat_recall /" +
        " q_scrub_composite / q_stream_repeats) enumerates codepoints via " +
        s"range(1, $CdcOracleMaxCp); a document of >= $CdcOracleMaxCp " +
        "codepoints diverges silently — raise CdcOracleMaxCp and the " +
        "oracle range bounds together")).isNull)

  /** the shared CDC chunking CTE chain ending in
    * `chunks(doc_id, cidx, chunk, n_cp)` — used VERBATIM by q_doc_cdc
    * and q_cdc_scrub so the two oracles cannot drift. `src` re-roots the
    * chain on a planted-corpus CTE (q_scrub_recall); the default is the
    * raw table, byte-identical to the pre-parameter text. */
  private def cdcChunkCtesSql(src: String = "documents"): String = {
    import graft.operators.Corpus
    val g = Corpus.cdcWeights(8)
    val terms = (0 until 8).map { j =>
      if (j == 0) s"cp * ${g(j)}"
      else s"COALESCE(LAG(cp, $j) OVER (PARTITION BY doc_id ORDER BY i), CAST(0 AS BIGINT)) * ${g(j)}"
    }.mkString(" + ")
    s"cps AS MATERIALIZED (SELECT doc_id, CAST(i AS INT) AS i, CAST(unicode(substring(text, CAST(i AS INT), 1)) AS BIGINT) AS cp FROM $src CROSS JOIN range(1, $CdcOracleMaxCp) r(i) WHERE i <= length(text)), " +
      s"hs AS (SELECT doc_id, i, ($terms) % ${Corpus.CdcMod} AS h FROM cps), " +
      s"bnd AS (SELECT doc_id, i FROM hs WHERE i >= 8 AND h % 32 = 0 UNION SELECT doc_id, CAST(length(text) AS INT) FROM $src WHERE length(text) > 0), " +
      "chk AS (SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS cidx, COALESCE(LAG(i) OVER (PARTITION BY doc_id ORDER BY i), 0) AS p, i AS b FROM bnd), " +
      s"chunks AS MATERIALIZED (SELECT c.doc_id, c.cidx, substring(d.text, p + 1, b - p) AS chunk, b - p AS n_cp FROM chk c JOIN $src d USING (doc_id))"
  }

  /** q_stream_cdc replay: the shared chunk CTE chain + the arrival-rank
    * window (ts is strictly increasing in doc_id and chunks arrive in
    * cidx order, so batch arrival order == `(doc_id, cidx)`): rank > 1
    * is a hit against the partition's first arrival. The engine groups
    * on the md5-hash64 of the chunk; the oracle groups on chunk CONTENT
    * — equality is preserved modulo hash collisions, the md5 twins'
    * accepted philosophy. */
  private def streamCdcOracleSql: String =
    s"WITH ${cdcChunkCtesSql()}, " +
      "arr AS (SELECT doc_id, cidx, row_number() OVER (PARTITION BY chunk ORDER BY doc_id, cidx) AS rk, first_value(doc_id) OVER (PARTITION BY chunk ORDER BY doc_id, cidx) AS first_doc FROM chunks) " +
      "SELECT doc_id, CAST(cidx AS INT) AS cidx, first_doc, CAST(rk - 1 AS BIGINT) AS n_prev FROM arr WHERE rk > 1 ORDER BY doc_id, cidx, first_doc"

  private def docCdcOracleSql: String =
    s"WITH ${cdcChunkCtesSql()} " +
      "SELECT md5(chunk) AS chunk_hash, CAST(MIN(n_cp) AS BIGINT) AS n_cp, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS first_doc FROM chunks GROUP BY chunk HAVING COUNT(*) > 1 ORDER BY chunk_hash"

  /** q_cdc_scrub replay: the shared chunk chain, the cross-document dup
    * set (distinct docs > 1), order-preserving reassembly of the kept
    * chunks, and the per-document census (docs losing every chunk keep
    * a row with empty clean_text — the left-join backfill). */
  private def cdcScrubOracleSql: String =
    s"WITH ${cdcChunkCtesSql()}, " +
      "dup AS MATERIALIZED (SELECT chunk FROM chunks GROUP BY chunk HAVING COUNT(DISTINCT doc_id) > 1), " +
      "kept AS (SELECT c.* FROM chunks c LEFT JOIN dup USING (chunk) WHERE dup.chunk IS NULL), " +
      "re AS (SELECT doc_id, string_agg(chunk, '' ORDER BY cidx) AS clean_text, COUNT(*) AS n_kept FROM kept GROUP BY doc_id), " +
      "tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM chunks GROUP BY doc_id) " +
      "SELECT t.doc_id, COALESCE(re.clean_text, '') AS clean_text, CAST(t.n_chunks AS BIGINT) AS n_chunks, CAST(t.n_chunks - COALESCE(re.n_kept, 0) AS BIGINT) AS n_removed FROM tot t LEFT JOIN re USING (doc_id) ORDER BY t.doc_id"

  /** The FIXED literal unigram piece table shared by q_unigram_encode's
    * engine body and its oracle. Weights are probabilities in units of
    * 1/4096 (the division is one correctly-rounded IEEE op on both
    * sides). Single chars deliberately OMIT {j,k,q,v,w,x,y,z} so real
    * corpus words exercise the pUnk OOV price; the multi-char pieces
    * cover chained preferences (th/the/he), overlapping alternatives
    * (ti/tion, an/and), and 4-gram whole-word pieces (data/scan/sort).
    * A def — `all` is built during object init (see topTermsK). */
  private def unigramLiteralPieces: Seq[(String, Int)] = Seq(
    "a" -> 130, "b" -> 25, "c" -> 45, "d" -> 60, "e" -> 180, "f" -> 35,
    "g" -> 30, "h" -> 90, "i" -> 115, "l" -> 65, "m" -> 40, "n" -> 110,
    "o" -> 120, "p" -> 30, "r" -> 95, "s" -> 100, "t" -> 140, "u" -> 45,
    "th" -> 80, "the" -> 200, "he" -> 60, "in" -> 120, "ing" -> 100,
    "an" -> 70, "and" -> 90, "er" -> 75, "re" -> 60, "on" -> 55,
    "at" -> 50, "en" -> 45, "ed" -> 45, "or" -> 40, "st" -> 45,
    "ar" -> 35, "is" -> 35, "it" -> 35, "te" -> 30, "ti" -> 30,
    "tion" -> 60, "le" -> 30, "al" -> 35, "ta" -> 30, "ab" -> 20,
    "able" -> 40, "data" -> 50, "scan" -> 45, "sort" -> 40)

  /** the pUnk constant, 2^-10 — must equal
    * [[graft.operators.Unigram.DefaultPUnk]] (spec-pinned). A def —
    * `all` is built during object init (see topTermsK). */
  private def unigramPUnkSql = "CAST(0.0009765625 AS DOUBLE)"

  /** The Viterbi DP of [[graft.operators.Unigram.segment]] as a pair of
    * recursive CTEs — the kernel fragment shared by BOTH unigram
    * oracles, so the literal-table and trained-replay paths cannot
    * drift. `{pre}vit` runs the forward DP (one row per (word,
    * position); candidates for the 4 piece lengths statically unrolled,
    * `GREATEST` = max, the CASE chain = smallest-k tie-break exactly as
    * the engine's strictly-greater-replaces loop), `{pre}seg` walks the
    * back-pointers, `{pre}ps` keeps the completed piece lists. Piece
    * probabilities come from `{pmCte}.pm` (a MAP — map_extract is a
    * plain scalar function; DuckDB 1.0's LAMBDA engine is
    * nondeterministic under threads, which is why this is a recursive
    * CTE and not a list_reduce). */
  private def unigramVitCtes(pre: String, wordsCte: String,
      pmCte: String, carry: String, kmax: Int = 4): (String, String) = {
    val c = if (carry.nonEmpty) s", $carry" else ""
    def prob(k: Int): String =
      s"COALESCE(map_extract(pm, substring(w, p + 2 - $k, $k))[1], " +
        (if (k == 1) s"$unigramPUnkSql)" else "CAST(0.0 AS DOUBLE))")
    val cands = (1 to kmax).map(k =>
      s"CASE WHEN $k <= p + 1 THEN bs[p + 2 - $k] * ${prob(k)} " +
        s"ELSE CAST(-1.0 AS DOUBLE) END AS c$k").mkString(", ")
    val best = (1 to kmax).map(k => s"c$k").mkString("GREATEST(", ", ", ")")
    val ksel = "CASE " + (1 until kmax).map { k =>
      val conds = (k + 1 to kmax).map(j => s"c$k >= c$j").mkString(" AND ")
      s"WHEN $conds THEN $k"
    }.mkString(" ") + s" ELSE $kmax END"
    val frag =
      s"${pre}vit(w$c, p, bs, kk) AS (SELECT w$c, 0, [CAST(1.0 AS DOUBLE)], CAST([] AS INT[]) FROM $wordsCte UNION ALL SELECT w$c, p + 1, list_append(bs, $best), list_append(kk, $ksel) FROM (SELECT w$c, p, bs, kk, $cands FROM ${pre}vit CROSS JOIN $pmCte WHERE p < length(w)) ), " +
        s"${pre}seg(w$c, kk, pos, ps) AS (SELECT w$c, kk, length(w), CAST([] AS VARCHAR[]) FROM ${pre}vit WHERE p = length(w) UNION ALL SELECT w$c, kk, pos - kk[pos], list_prepend(substring(w, pos - kk[pos] + 1, kk[pos]), ps) FROM ${pre}seg WHERE pos > 0), " +
        s"${pre}ps AS MATERIALIZED (SELECT w$c, ps FROM ${pre}seg WHERE pos = 0)"
    (frag, s"${pre}ps")
  }

  /** q_unigram_encode replay: the literal table as VALUES -> one map ->
    * the shared Viterbi kernel over every `^[a-z]+$` corpus word. */
  private lazy val unigramEncodeOracleSql: String = {
    val vals = unigramLiteralPieces
      .map { case (p, w) => s"('$p', $w)" }.mkString(", ")
    val (frag, fps) = unigramVitCtes("f", "aw", "pmf", "n_occ")
    raw"""WITH RECURSIVE pieces(p, wt) AS (VALUES $vals), pmf AS MATERIALIZED (SELECT map_from_entries(list((p, CAST(wt AS DOUBLE) / 4096.0))) AS pm FROM pieces), aw AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_occ FROM (SELECT UNNEST(string_split_regex(TRIM(LOWER(text)), '\s+')) AS w FROM documents) WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY w), """ +
      frag +
      s" SELECT w AS word, n_occ, array_to_string(ps, ' ') AS pieces, CAST(len(ps) AS BIGINT) AS n_pieces FROM $fps ORDER BY word"
  }

  /** q_unigram_tokenize replay: word frequencies -> seed substrings ->
    * `rounds` hard-EM rounds (each: integer-count probabilities, the
    * shared Viterbi kernel, usage accounting, Laplace-kept singles,
    * top-`vocabSize` multi-char prune) -> final-model corpus encode.
    * Every CTE that is referenced more than once is MATERIALIZED. */
  private def unigramTrainOracleSql(vocabSize: Int = 64,
      maxVocabWords: Int = 256, minCount: Int = 2, seedCap: Int = 512,
      rounds: Int = 2): String = {
    val head =
      raw"""tok AS MATERIALIZED (SELECT UNNEST(string_split_regex(TRIM(LOWER(text)), '\s+')) AS w FROM documents), """ +
        raw"""wc AS MATERIALIZED (SELECT w, COUNT(*) AS c FROM tok WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY w), """ +
        s"tw AS MATERIALIZED (SELECT w, c FROM (SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS rn FROM wc WHERE c >= $minCount AND length(w) <= 32) WHERE rn <= $maxVocabWords), " +
        "sub AS MATERIALIZED (SELECT substring(w, CAST(i AS INT), CAST(l AS INT)) AS p, CAST(SUM(c) AS BIGINT) AS cnt FROM tw CROSS JOIN range(1, 33) ri(i) CROSS JOIN range(1, 5) rl(l) WHERE i <= length(w) AND i + l <= length(w) + 1 GROUP BY 1), " +
        "sing0 AS MATERIALIZED (SELECT p, cnt FROM sub WHERE length(p) = 1), " +
        s"mult0 AS MATERIALIZED (SELECT p, cnt FROM (SELECT p, cnt, row_number() OVER (ORDER BY cnt DESC, p) AS rn FROM sub WHERE length(p) > 1) WHERE rn <= $seedCap)"
    def emRound(r: Int, prevS: String, prevM: String): String = {
      val (frag, psc) = unigramVitCtes(s"r$r", "tw", s"pm$r", "c")
      s"vocab$r AS MATERIALIZED (SELECT p, cnt FROM $prevS UNION ALL SELECT p, cnt FROM $prevM), " +
        s"tot$r AS MATERIALIZED (SELECT CAST(SUM(cnt) AS DOUBLE) AS t FROM vocab$r), " +
        s"pm$r AS MATERIALIZED (SELECT map_from_entries(list((p, CAST(cnt AS DOUBLE) / t))) AS pm FROM vocab$r, tot$r), " +
        frag + ", " +
        s"use$r AS MATERIALIZED (SELECT p, CAST(SUM(c) AS BIGINT) AS cnt FROM (SELECT c, UNNEST(ps) AS p FROM $psc) GROUP BY p), " +
        s"sing$r AS MATERIALIZED (SELECT s.p, COALESCE(u.cnt, 0) + 1 AS cnt FROM sing0 s LEFT JOIN use$r u ON s.p = u.p), " +
        s"mult$r AS MATERIALIZED (SELECT p, cnt FROM (SELECT p, cnt, row_number() OVER (ORDER BY cnt DESC, p) AS rn FROM use$r WHERE length(p) > 1) WHERE rn <= $vocabSize)"
    }
    val roundsSql = (1 to rounds)
      .map(r => emRound(r, s"sing${r - 1}", s"mult${r - 1}"))
    val (ffrag, fps) = unigramVitCtes("f", "aw", "pmf", "n_occ")
    val tail =
      s"vocabf AS MATERIALIZED (SELECT p, cnt FROM sing$rounds UNION ALL SELECT p, cnt FROM mult$rounds), " +
        "totf AS MATERIALIZED (SELECT CAST(SUM(cnt) AS DOUBLE) AS t FROM vocabf), " +
        "pmf AS MATERIALIZED (SELECT map_from_entries(list((p, CAST(cnt AS DOUBLE) / t))) AS pm FROM vocabf, totf), " +
        raw"""aw AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_occ FROM tok WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY w), """ +
        ffrag
    "WITH RECURSIVE " + (Seq(head) ++ roundsSql ++ Seq(tail)).mkString(", ") +
      s" SELECT w AS word, n_occ, array_to_string(ps, ' ') AS pieces, CAST(len(ps) AS BIGINT) AS n_pieces FROM $fps ORDER BY word"
  }

  /** DuckDB replay of q_multimodal_geom: Multimodal.decodeImageStub's
    * FNV-ish fold `h = 31*h + signedByte` over the UTF-8 payload bytes
    * (JVM Long wraparound = HUGEINT mod 2^64; bytes come signed from the
    * hex of the encoded text, negative addends re-normalized), the stub's
    * dims `w = (h mod 512) + 32`, `h2 = ((h >> 9) mod 512) + 32` (two's-
    * complement bit slices = unsigned div/mod on the HUGEINT rep), then
    * fitBox: scale `min(1, maxW/w, maxH/h)` in IEEE doubles, output dims
    * `max(1, floor(d*scale + 0.5))` — bit-identical across engines
    * (divide/multiply/floor are exact IEEE ops). `resampled` is false for
    * every row: ImageIO decodes none of these text payloads, and no text
    * carries a real image header (canaried).
    */
  /** Shared CTE text ending in `fold(doc_id, r)`: decodeImageStub's /
    * extractFeatures' byte fold `h = 31*h + signedByte` over the UTF-8
    * payload bytes, in the unsigned HUGEINT mod-2^64 representation of
    * the JVM's wrapping signed Long.
    */
  private def multimodalFoldCtes: String = {
    val m = "18446744073709551616::HUGEINT"
    raw"""hx AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb FROM documents), sb AS (SELECT doc_id, list_transform(list_transform(range(1, nb + 1), i -> CAST(('0x' || substring(hx, CAST(2*i-1 AS INT), 2)) AS INT)), b -> CAST(CASE WHEN b >= 128 THEN b - 256 ELSE b END AS HUGEINT)) AS bs FROM hx), fold AS (SELECT doc_id, list_reduce(list_prepend(1125899906842597::HUGEINT, bs), (a, x) -> ((a * 31 + x) % $m + $m) % $m) AS r FROM sb)"""
  }

  /** Shared CTE text (after [[multimodalFoldCtes]]) ending in
    * `sc(doc_id, w, h, s)`: the stub dims plus fitBox's scale.
    */
  private def multimodalScaleCtes(maxW: Int, maxH: Int): String =
    s"""dims AS (SELECT doc_id, (r % 512) + 32 AS w, ((r // 512) % 512) + 32 AS h FROM fold), sc AS (SELECT doc_id, CAST(w AS DOUBLE) AS w, CAST(h AS DOUBLE) AS h, LEAST(CAST(1 AS DOUBLE), LEAST($maxW / CAST(w AS DOUBLE), $maxH / CAST(h AS DOUBLE))) AS s FROM dims)"""

  private def multimodalGeomOracleSql(maxW: Int, maxH: Int): String =
    s"""WITH $multimodalFoldCtes, ${multimodalScaleCtes(maxW, maxH)} SELECT doc_id, CAST(GREATEST(1, FLOOR(w * s + 0.5)) AS INT) AS out_w, CAST(GREATEST(1, FLOOR(h * s + 0.5)) AS INT) AS out_h, FALSE AS resampled FROM sc ORDER BY doc_id"""

  /** q_multimodal_pipeline replay: the geometry CTEs above plus the stub
    * encoder — per dimension d, `hd = h * (2862933555777941757 + 2d) +
    * 3037000493` in wrapping Long arithmetic, feature value
    * `((hd >>> 40) & 0xFFFF) / 65536.0` (a 16-bit dyadic rational, exact
    * through the float round-trip); the L2 norm's squared-sum needs <= 36
    * significant bits (16 squares of 32-bit-significand values below 1),
    * so it is EXACT in doubles and `sqrt` is correctly-rounded IEEE in
    * both engines. Floor-based 1e-6 rounding + the decimal dsum finish
    * the identity.
    */
  private def multimodalPipelineOracleSql(maxW: Int, maxH: Int,
      dim: Int): String = {
    val m = "18446744073709551616::HUGEINT"
    s"""WITH $multimodalFoldCtes, ${multimodalScaleCtes(maxW, maxH)}, feat AS (SELECT doc_id, list_transform(range(0, $dim), d -> CAST(((r * (2862933555777941757::HUGEINT + 2*d) + 3037000493::HUGEINT) % $m // 1099511627776 % 65536) AS DOUBLE) / 65536.0) AS fl FROM fold), nm AS (SELECT doc_id, FLOOR(sqrt(list_inner_product(fl, fl)) * 1e6 + 0.5) / 1e6 AS norm_r FROM feat) SELECT COUNT(*) AS n_assets, CAST(SUM(CAST(GREATEST(1, FLOOR(w * s + 0.5)) AS BIGINT)) AS BIGINT) AS out_w_sum, ${dsumSql("norm_r")} AS feat_norm_sum FROM sc JOIN nm USING (doc_id)"""
  }

  /** DuckDB replay of the FULL BPE training loop (Bpe.train /
    * learnMerges) plus the corpus subword census q_bpe_tokenize emits.
    * Each of the `numMerges` rounds is an unrolled CTE triple over the
    * sentinel-encoded vocab segmentation (the q_bpe_encode
    * representation): adjacent-pair counts weighted by word frequency,
    * the best pair under the engine's exact total order (count desc,
    * then lexicographically smallest a, then b — bestPairOrdering), and
    * the all-occurrences merge via `replace()`. A LEFT JOIN guards the
    * pairs-exhausted case (engine stops; replay becomes the identity).
    * The census needs no separate encode replay: every corpus token is
    * in the trained vocab (^[a-z]+$, count >= minCount — canaried), and
    * encoding a trained word reproduces its training segmentation
    * (spec-pinned parity), so the final segmentation IS the tokenize
    * output. All CTEs MATERIALIZED — DuckDB inlines plain CTEs and the
    * 64-round chain would otherwise blow up exponentially (the
    * kmeansCtes lesson).
    */
  private def bpeTrainOracleSql(numMerges: Int, minCount: Int,
      topk: Int): String = {
    val b = new StringBuilder
    b ++= raw"""WITH wc AS MATERIALIZED (SELECT tok AS w, COUNT(*) AS c FROM (SELECT UNNEST(string_split_regex(TRIM(LOWER(text)), '\s+')) AS tok FROM documents) WHERE tok <> '' GROUP BY tok HAVING COUNT(*) >= $minCount), """
    b ++= """seg0 AS MATERIALIZED (SELECT w, c, '|' || array_to_string(list_transform(range(1, length(w)+1), i -> substring(w, CAST(i AS INT), 1)), '||') || '||</w>|' AS s FROM wc), """
    for (r <- 1 to numMerges) {
      b ++= s"p$r AS MATERIALIZED (SELECT l[i] AS a, l[i+1] AS b, SUM(c) AS cnt FROM (SELECT c, string_split(trim(s, '|'), '||') AS l FROM seg${r - 1}), UNNEST(generate_series(1, len(l) - 1)) AS u(i) GROUP BY 1, 2), "
      b ++= s"b$r AS MATERIALIZED (SELECT '|' || a || '||' || b || '|' AS pat, '|' || a || b || '|' AS rep FROM p$r ORDER BY cnt DESC, a ASC, b ASC LIMIT 1), "
      b ++= s"seg$r AS MATERIALIZED (SELECT g.w, g.c, CASE WHEN b.pat IS NULL THEN g.s ELSE replace(g.s, b.pat, b.rep) END AS s FROM seg${r - 1} g LEFT JOIN b$r b ON TRUE)" +
        (if (r < numMerges) ", " else " ")
    }
    b ++= s"SELECT sw, CAST(SUM(c) AS BIGINT) AS n FROM (SELECT c, UNNEST(string_split(trim(s, '|'), '||')) AS sw FROM seg$numMerges) GROUP BY sw ORDER BY n DESC, sw ASC LIMIT $topk"
    b.toString
  }

  /** The ONE k shared by q_stream_topterms' query body and its oracle
    * (a def — see topTermsK).
    */
  private def streamTopTermsK: Int = 8

  /** The ONE threshold shared by q_stream_neardup / q_stream_neardup_xx
    * and the oracle (both sides must move together — see topTermsK).
    * package-private: tools.DiffProbe measures the xx/md5 agreement at
    * exactly this threshold.
    */
  private[graft] def streamNearDupThreshold: Double = 0.5

  /** Differential-certificate bounds (queries/Differential.scala). Pinned
    * from tools.DiffProbe measurements: the minhash / embed / stream
    * families agree with their md5 twins at pair-set Jaccard 1.0 at every
    * SF (0.9 leaves noise margin; kernel breakage lands at ~0). SimHash's
    * hash-dependent output agreement DECAYS with corpus size — the r14
    * sweep (3 SFs x 4 deterministic subsamples,
    * bench/diffprobe_simhash_r14.txt) measured healthy jaccard 0.67 down
    * to 0.1892 (sf0.1, doc_id%3==2) — so its jaccard bound sits below
    * the worst healthy reading as a gross-divergence tripwire (0.15;
    * breakage that emits WRONG pairs lands at ~0), and the sensitive
    * kernel law is the signature-median term: the twin's pairs at
    * production-signature hamming p50 0..4 measured, bound 10
    * ([[Differential.sigMedianAgreement]]; a degraded kernel randomizes
    * to ~32). Exact-dup recall bound 0.9; ground truth counts only
    * structurally-catchable pairs (a per-certificate token floor — see
    * Differential's scaladoc). The sf0.01 verify corpus currently has
    * zero identical texts (sf0.1 has 8 pairs, all >= 11 tokens, so the
    * contract is live and satisfiable there). */
  private def diffJaccardBound: Double = 0.9
  private def diffSimhashJaccardBound: Double = 0.15
  private def diffSimhashSigMedianBound: Int = 10
  private def diffRecallBound: Double = 0.9

  /** q_dsir_select_xx bounds, pinned from the r15 DiffProbe `dsir` sweep
    * (3 SFs x full + 3 residue subsamples, bench/diffprobe_dsir_r15.txt):
    * healthy top-50 ID-set jaccard 0.92 down to 0.1628 (sf0.1 full —
    * selection agreement legitimately decays with pool size, the simhash
    * decay law), so the jaccard bound sits below the worst healthy
    * reading as a gross-divergence tripwire (0.10; a broken bucket hash
    * degenerates weights to ~n_feats x const — which on this corpus
    * still lands jaccard ~0.4-0.5, because selection-by-length correlates
    * with the healthy cut). Rank-median law: twin picks at xx-mode
    * selection rank p50 26..147 measured, bound rankFactor*k = 400.
    * The SENSITIVE kernel law is the weight-delta median
    * ([[Differential.dsirCertificate]] twin_weight_ok): healthy
    * |w_xx - w_md5| p50 measured 0.79..1.99 across the grid, while
    * three sabotage flavors (constant bucket, 2-bucket, length-bucket)
    * all land p50 3.70..6.22 — bound 2.8 sits between with margin both
    * ways; DifferentialSpec pins the flip on a constant-bucket hash. */
  private def dsirJaccardBound: Double = 0.10
  private def dsirRankFactor: Int = 8
  private def dsirWeightDeltaBound: Double = 2.8

  /** DuckDB side of [[Differential.dsirCertificate]]: recount the md5
    * twin's selection with the twin's own full replay SQL, pin the three
    * mode-agreement contracts TRUE. */
  private def dsirCertOracleSql(twinSql: String): String =
    s"SELECT (SELECT COUNT(*) FROM ($twinSql)) AS n_twin, " +
      "TRUE AS sel_jaccard_ok, TRUE AS twin_rank_ok, " +
      "TRUE AS twin_weight_ok"

  /** the certificate ground truth's structural token floor, mirrored in
    * SQL (both sides of a pair share the text, so d1 alone carries it) */
  private def certDupFloorSql(minTokens: Int): String =
    s"LEN(string_split_regex(TRIM(COALESCE(d1.text, '')), '\\s+')) >= $minTokens"

  /** DuckDB side of [[Differential.pairCertificate]]: recount the md5
    * twin's output rows with the twin's own replay SQL, recompute the
    * exact-duplicate ground truth hash-free (restricted to the
    * structurally-catchable token floor — see Differential's scaladoc),
    * pin the two agreement contracts TRUE (the q_sketch_distinct
    * sketch-then-verify pattern). */
  private def pairCertOracleSql(twinSql: String, minTokens: Int = 1,
      extraBoolCols: Seq[String] = Nil): String =
    s"SELECT (SELECT COUNT(*) FROM ($twinSql)) AS n_twin, " +
      "(SELECT COUNT(*) FROM documents d1 JOIN documents d2 " +
      "ON COALESCE(d1.text, '') = COALESCE(d2.text, '') " +
      s"AND d1.doc_id < d2.doc_id WHERE ${certDupFloorSql(minTokens)}) " +
      "AS n_exact_dup_pairs, " +
      "TRUE AS exact_dup_recall_ok, TRUE AS pair_jaccard_ok" +
      extraBoolCols.map(c => s", TRUE AS $c").mkString

  /** DuckDB side of [[Differential.docCertificate]] (doc-level: a doc
    * with an earlier identical twin must be flagged as some duplicate). */
  private def docCertOracleSql(twinSql: String, minTokens: Int = 1): String =
    s"SELECT (SELECT COUNT(*) FROM (SELECT DISTINCT doc_id, dup_of FROM ($twinSql))) AS n_twin, " +
      "(SELECT COUNT(DISTINCT d1.doc_id) FROM documents d1 JOIN documents d2 " +
      "ON COALESCE(d1.text, '') = COALESCE(d2.text, '') " +
      s"AND d2.doc_id < d1.doc_id WHERE ${certDupFloorSql(minTokens)}) " +
      "AS n_exact_dup_docs, " +
      "TRUE AS exact_dup_recall_ok, TRUE AS pair_jaccard_ok"

  /** DuckDB replay of [[graft.operators.Corpus.maskRepeatedSpans]] —
    * shared verbatim by q_span_scrub (string keys) and q_span_scrub_xx
    * (xxhash64 keys): the key mode changes shuffle width, not output. */
  private def spanScrubOracleSql: String =
    raw"""WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t FROM documents), g AS (SELECT doc_id, i AS start, array_to_string(t[i:i+7], ' ') AS span FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS u(i) WHERE len(t) >= 8), rep AS (SELECT span FROM g GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2), cov AS (SELECT DISTINCT doc_id, start + o AS pos FROM g JOIN rep USING (span), UNNEST(generate_series(0, 7)) AS v(o)), pos AS (SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS pos FROM toks), kept AS (SELECT p.doc_id, string_agg(p.tok, ' ' ORDER BY p.pos) AS clean_text, COUNT(*) AS nk FROM pos p ANTI JOIN cov c ON p.doc_id = c.doc_id AND p.pos = c.pos GROUP BY p.doc_id) SELECT t.doc_id, COALESCE(k.clean_text, '') AS clean_text, CAST(len(t.t) AS BIGINT) AS n_tokens, CAST(len(t.t) - COALESCE(k.nk, 0) AS BIGINT) AS n_removed FROM toks t LEFT JOIN kept k ON t.doc_id = k.doc_id ORDER BY t.doc_id"""

  /** Shared q_contamination knobs (query body + oracle — see topTermsK). */
  private def contaminationMinShared: Int = 3
  private def contaminationProbeMod: Int = 97

  /** DuckDB replay of the md5-mode [[graft.operators.Dedup.ngramContamination]]
    * scan over the declared probe split: the SAME word-3-shingle CTE
    * every minhash oracle uses, hashes as the 32-bit md5 half, DISTINCT
    * (doc, hash) sets on both sides (post-hash distinct, matching the
    * engine's array_distinct AFTER hashing), join-row counting for
    * n_shared, the minShared HAVING, then the per-probe report.
    */
  private def contaminationOracleSql(minShared: Int, probeMod: Int): String =
    raw"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(COALESCE(text,''))), '\s+') AS tk FROM documents), shing AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')] ELSE list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')) END AS shingles FROM toks), shrow AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, UNNEST(shingles) AS s FROM shing)), sh AS (SELECT DISTINCT doc_id, CAST(('0x' || substring(md5(s),1,8)) AS BIGINT) AS a FROM shrow), pairs AS (SELECT p.doc_id AS probe_id, d.doc_id AS did, COUNT(*) AS n_shared FROM sh d JOIN sh p ON d.a = p.a WHERE p.doc_id % $probeMod = 0 AND d.doc_id <> p.doc_id GROUP BY 1, 2 HAVING COUNT(*) >= $minShared) SELECT probe_id, COUNT(*) AS n_contaminated, MAX(n_shared) AS max_shared FROM pairs GROUP BY probe_id ORDER BY probe_id"""

  /** DuckDB replay of the md5-mode batch StreamDedup fold. The stateful
    * per-bucket scan is declarative in batch mode: arrival order inside a
    * bucket is `(ts, doc_id)` = plain doc_id here (ts is strictly
    * increasing in doc_id), a doc's stored candidate set is exactly the
    * earlier arrivals with arrival rank < maxBucket (docs append
    * regardless of being hits), and the emitted `dup_of` is the
    * MINIMUM-arrival stored signature agreeing on >= threshold of the h
    * positions — the arg-min by arrival rank per (doc, band) after the
    * rank/agreement filters (carrying its exact agreement `est` = eq/h,
    * a dyadic rational so the double is bit-identical across engines),
    * then the query's DISTINCT projection. Signature/banding
    * CTEs are the SAME `minhashMd5BandedSql` block every other minhash
    * oracle derives from. The positional-agreement test compares
    * `eq >= threshold*h` in exact integers, so the declared threshold
    * must make `threshold*h` integral (guarded below) — the engine's
    * `eq/h >= threshold` double compare is then exactly equivalent.
    */
  /** q_warc_curation replay: the same Gopher/PII fragments as
    * q_stream_curation, straight over the ORIGINAL documents table —
    * the container round-trip on the Spark side must be byte-faithful
    * for the ratios to hash-match. */
  private lazy val warcCurationOracleSql: String = {
    val email = TextAnalysis.EmailPattern
    val ip = TextAnalysis.Ipv4Pattern
    val phone = TextAnalysis.PhonePattern
    s"""WITH $gopherGsigSql, pii AS (SELECT doc_id, n_emails, n_ips, CAST(len(regexp_extract_all(t2, '$phone')) AS BIGINT) AS n_phones FROM (SELECT doc_id, n_emails, CAST(len(regexp_extract_all(t1, '$ip')) AS BIGINT) AS n_ips, regexp_replace(t1, '$ip', '|||IP|||', 'g') AS t2 FROM (SELECT doc_id, CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails, regexp_replace(text, '$email', '|||EMAIL|||', 'g') AS t1 FROM documents))) SELECT g.doc_id, ($gopherPassSql) AS quality_pass, pii.n_emails + pii.n_ips + pii.n_phones AS n_pii FROM gsig g JOIN pii ON pii.doc_id = g.doc_id ORDER BY g.doc_id"""
  }

  /** q_stream_curation replay: the Gopher gsig/pass fragments, the
    * sequential PII counts on the raw corpus, and the streaming dup rule
    * (banded md5 signatures, per-(band, bucket) arrival ranks, a doc is
    * dup when some EARLIER arrival in a shared bucket — store rank under
    * the cap — agrees on >= threshold*h signature positions), joined
    * into the kept conjunction. */
  private lazy val streamCurationOracleSql: String = {
    val h = 32 // bands 8 x rows 4
    val minEq = math.rint(streamNearDupThreshold * h).toInt
    val email = TextAnalysis.EmailPattern
    val ip = TextAnalysis.Ipv4Pattern
    val phone = TextAnalysis.PhonePattern
    "WITH " + minhashMd5BandedSql(bands = 8, rows = 4) +
      s""", pos AS (SELECT id, b, bucket, row_number() OVER (PARTITION BY b, bucket ORDER BY id) - 1 AS p FROM banded), dup AS (SELECT DISTINCT x.id AS doc_id FROM pos x JOIN pos y USING (b, bucket) JOIN sig sx ON sx.doc_id = x.id JOIN sig sy ON sy.doc_id = y.id WHERE y.p < x.p AND y.p < 64 AND len(list_filter(range(1, ${h + 1}), i -> sx.sig[i] = sy.sig[i])) >= $minEq), $gopherGsigSql, pii AS (SELECT doc_id, n_emails, n_ips, CAST(len(regexp_extract_all(t2, '$phone')) AS BIGINT) AS n_phones FROM (SELECT doc_id, n_emails, CAST(len(regexp_extract_all(t1, '$ip')) AS BIGINT) AS n_ips, regexp_replace(t1, '$ip', '|||IP|||', 'g') AS t2 FROM (SELECT doc_id, CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails, regexp_replace(text, '$email', '|||EMAIL|||', 'g') AS t1 FROM documents))) SELECT g.doc_id, ($gopherPassSql) AS quality_pass, (dup.doc_id IS NOT NULL) AS is_dup, pii.n_emails + pii.n_ips + pii.n_phones AS n_pii, (($gopherPassSql) AND dup.doc_id IS NULL) AS kept FROM gsig g LEFT JOIN dup ON dup.doc_id = g.doc_id JOIN pii ON pii.doc_id = g.doc_id ORDER BY g.doc_id"""
  }

  private def streamNearDupOracleSql(bands: Int, rows: Int,
      threshold: Double, maxBucket: Int): String = {
    val h = bands * rows
    val minEq = math.rint(threshold * h).toInt
    require(minEq == threshold * h,
      s"threshold*h must be integral for the eq-count replay, got ${threshold * h}")
    "WITH " + minhashMd5BandedSql(bands, rows) +
      s""", pos AS (SELECT id, b, bucket, row_number() OVER (PARTITION BY b, bucket ORDER BY id) - 1 AS p FROM banded), cand AS (SELECT x.id AS doc_id, x.b AS band, y.id AS dup_of, y.p AS yp, len(list_filter(range(1, ${h + 1}), i -> sx.sig[i] = sy.sig[i])) AS eq FROM pos x JOIN pos y USING (b, bucket) JOIN sig sx ON sx.doc_id = x.id JOIN sig sy ON sy.doc_id = y.id WHERE y.p < x.p AND y.p < $maxBucket), firsts AS (SELECT doc_id, band, dup_of, CAST(eq AS DOUBLE) / $h AS est, row_number() OVER (PARTITION BY doc_id, band ORDER BY yp) AS rn FROM cand WHERE eq >= $minEq) SELECT DISTINCT doc_id, dup_of, est FROM firsts WHERE rn = 1 ORDER BY doc_id, dup_of"""
  }

  /** DuckDB replay of the batch-mode Misra-Gries fold
    * (StreamTopK.topTerms / mgStep): per group key, the engine sorts all
    * rows by (ts epoch-MILLIS — `Timestamp.getTime` truncates the micros
    * — then term) and folds sequentially; the oracle builds the same
    * ordered term list and list_reduce's over it with the summary
    * serialized as 'term:count|…' (terms are numeric user-id strings, so
    * ':' and '|' never collide). The decrement-all branch COALESCEs the
    * empty-summary case: DuckDB's array_to_string([]) is NULL, and a
    * NULL accumulator would silently poison the rest of the fold.
    */
  private def streamTopTermsOracleSql(k: Int): String = {
    val step = s"""CASE WHEN acc = '' THEN t || ':1' WHEN len(list_filter(string_split(acc,'|'), p -> string_split(p,':')[1] = t)) > 0 THEN array_to_string(list_transform(string_split(acc,'|'), p -> CASE WHEN string_split(p,':')[1] = t THEN t || ':' || CAST(CAST(string_split(p,':')[2] AS BIGINT)+1 AS VARCHAR) ELSE p END), '|') WHEN len(string_split(acc,'|')) < $k THEN acc || '|' || t || ':1' ELSE COALESCE(array_to_string(list_filter(list_transform(string_split(acc,'|'), p -> string_split(p,':')[1] || ':' || CAST(CAST(string_split(p,':')[2] AS BIGINT)-1 AS VARCHAR)), p -> CAST(string_split(p,':')[2] AS BIGINT) > 0), '|'), '') END"""
    s"""WITH ev AS (SELECT CAST(event_type AS VARCHAR) AS gkey, ts, CAST(user_id AS VARCHAR) AS term FROM events), lst AS (SELECT gkey, list(term ORDER BY epoch_ms(ts), term) AS terms, COUNT(*) AS n FROM ev GROUP BY gkey), fold AS (SELECT gkey, n, list_reduce(list_prepend('', terms), (acc, t) -> $step) AS st FROM lst), pairs AS (SELECT gkey, n, UNNEST(string_split(st, '|')) AS p FROM fold WHERE st <> '') SELECT gkey, string_split(p,':')[1] AS term, CAST(string_split(p,':')[2] AS BIGINT) AS est, n FROM pairs ORDER BY gkey, term"""
  }

  // The ONE k shared by q_text_topterms' query body and its oracle: the
  // n/(k+1) presence bound must move on both sides together or the
  // compare silently tests different queries. k sized so the bound can
  // actually fire on this corpus: the most frequent length>3 tokens sit
  // at ~4.3% =~ 1/23 of the filtered stream, so k=10 (bound 1/11) would
  // provably emit the empty set; k=40 (bound 1/41) keeps a meaningful
  // guaranteed set. (A def, not a val: `all` is constructed during object
  // init and a later-declared val would still be 0 there.)
  private def topTermsK: Int = 40

  // q_text_topterms replay: per-doc language (the q_text_langid CASE),
  // token explode, exact per-(lang, term) counts, keep terms above the
  // n/(k+1) Misra-Gries presence bound — exactly the deterministic set
  // the sketch-then-verify query emits. Threshold divisor CAST to DOUBLE
  // (a bare decimal literal would make DuckDB divide in DECIMAL).
  private def topTermsOracleSql(k: Int): String = {
    // r19: per-language grouping from the trained pinned model (see
    // pinnedLangCtes) instead of the marker CASE
    raw"""WITH """ + pinnedLangCtes("documents") +
      raw""", lb AS (SELECT p.lang, d.text FROM documents d JOIN plpred p USING (doc_id)), f AS (SELECT lang, tok FROM (SELECT lang, UNNEST(string_split_regex(TRIM(LOWER(text)), '\s+')) AS tok FROM lb) WHERE LENGTH(tok) > 3), tot AS (SELECT lang, COUNT(*) AS n_lang FROM f GROUP BY lang), cnt AS (SELECT lang, tok, COUNT(*) AS n FROM f GROUP BY lang, tok) SELECT c.lang, c.tok, c.n FROM cnt c JOIN tot t ON t.lang = c.lang WHERE c.n > t.n_lang / CAST(${k + 1} AS DOUBLE) ORDER BY c.lang, c.tok"""
  }

  private lazy val pipelineCleanOracle: String = {
    val ntok = """CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0 ELSE LEN(string_split_regex(TRIM(text), '\s+')) END"""
    // r19: per-language stats from the trained pinned model (see
    // pinnedLangCtes) instead of the 21-scan marker CASE
    raw"""WITH q AS (SELECT doc_id, text, CAST($ntok AS BIGINT) AS n_tokens, LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) / GREATEST(LENGTH(text), 1) AS alpha_ratio FROM documents), f AS (SELECT * FROM q WHERE n_tokens >= 5 AND alpha_ratio >= 0.5), keep AS (SELECT MIN(doc_id) AS doc_id FROM f GROUP BY text), k AS MATERIALIZED (SELECT f.* FROM f JOIN keep USING (doc_id)), """ +
      pinnedLangCtes("k") +
      """ SELECT p.lang, COUNT(*) AS n_docs, CAST(SUM(k.n_tokens) AS BIGINT) AS n_tokens_total FROM k JOIN plpred p USING (doc_id) GROUP BY 1 ORDER BY 1"""
  }

  // DuckDB replay of the md5-mode MinHash pipelines (Dedup.minhashIndexMd5
  // / minhashNearDupsMd5 / minhashIncrementalNearDupsMd5), step for step:
  // word 3-shingles, one md5 per shingle split into two 32-bit halves
  // (a, b), affine-rehash signatures min((a + i*b) mod 2^32), comma-joined
  // band buckets, windowed bucket stats with the hot-bucket star fallback,
  // and the exact-Jaccard verify as intersect/union over the carried hash
  // sets — all plain md5 + substring + BIGINT arithmetic, so the driver's
  // hash compare certifies the ENTIRE pipeline, not just row counts.
  // (no WITH prefix: q_dedup_clusters needs WITH RECURSIVE, the others
  // plain WITH — callers prepend. `src` lets the curation composite run
  // the same pipeline over its already-filtered corpus CTE.)
  private def minhashMd5BandedSql(bands: Int, rows: Int,
      src: String = "documents"): String =
    raw"""toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(COALESCE(text,''))), '\s+') AS tk FROM $src), shing AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')] ELSE list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')) END AS shingles FROM toks), shrow AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, UNNEST(shingles) AS s FROM shing)), shhash AS (SELECT doc_id, CAST(('0x' || substring(md5(s),1,8)) AS BIGINT) AS a, CAST(('0x' || substring(md5(s),9,8)) AS BIGINT) AS b FROM shrow), shs AS (SELECT doc_id, list_sort(list(DISTINCT a)) AS sh FROM shhash GROUP BY doc_id), sigrow AS (SELECT doc_id, i, MIN((a + i * b) % 4294967296) AS m FROM shhash CROSS JOIN range(0, ${bands * rows}) t(i) GROUP BY doc_id, i), sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM sigrow GROUP BY doc_id), banded AS (SELECT doc_id AS id, b, array_to_string(sig[b*$rows+1 : b*$rows+$rows], ',') AS bucket FROM sig CROSS JOIN range(0, $bands) t(b))"""

  private def minhashMd5VerifyTail(threshold: Double): String =
    s""", verified AS (SELECT id_a, id_b, CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard FROM cands JOIN shs sa ON sa.doc_id = cands.id_a JOIN shs sb ON sb.doc_id = cands.id_b) SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= CAST($threshold AS DOUBLE) ORDER BY id_a, id_b"""

  // the ONE bounded-pairs replay (Dedup.boundedPairs: within-cap all
  // pairs, over-cap min-id star pairs, cross-band id-distinct) — every
  // banded oracle (minhash/simhash via `banded`, the hyperplane LSH via
  // `bits`) derives its stats/cands block from here so a cap or
  // star-pair rule change cannot diverge between oracles
  private def boundedPairsSql(src: String, idCol: String, bandCol: String,
      bucketCol: String, maxBucket: Int): String =
    s""", stats AS (SELECT $idCol AS id, $bandCol, $bucketCol, COUNT(*) OVER (PARTITION BY $bandCol, $bucketCol) AS n, MIN($idCol) OVER (PARTITION BY $bandCol, $bucketCol) AS minid FROM $src), cands AS (SELECT DISTINCT id_a, id_b FROM (SELECT x.id AS id_a, y.id AS id_b FROM stats x JOIN stats y USING ($bandCol, $bucketCol) WHERE x.n <= $maxBucket AND x.id < y.id UNION ALL SELECT minid AS id_a, id AS id_b FROM stats WHERE n > $maxBucket AND id <> minid))"""

  private def minhashMd5CandsSql(maxBucket: Int): String =
    boundedPairsSql("banded", "id", "b", "bucket", maxBucket)

  private def minhashMd5OracleSql(bands: Int, rows: Int, threshold: Double,
      maxBucket: Int = 64, src: String = "documents"): String =
    "WITH " + minhashMd5BandedSql(bands, rows, src) +
      minhashMd5CandsSql(maxBucket) + minhashMd5VerifyTail(threshold)

  // connected components over the verified md5 pairs as a recursive CTE:
  // reach(id, r) = ids reachable from r over the undirected pair edges;
  // a node's representative is the minimum reachable id — exactly the
  // fixpoint Dedup.clusters' min-label propagation computes
  private def minhashMd5ClustersOracleSql(bands: Int, rows: Int,
      threshold: Double, maxBucket: Int = 64): String =
    "WITH RECURSIVE " + minhashMd5BandedSql(bands, rows) +
      minhashMd5CandsSql(maxBucket) +
      s""", verified AS (SELECT id_a, id_b, CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard FROM cands JOIN shs sa ON sa.doc_id = cands.id_a JOIN shs sb ON sb.doc_id = cands.id_b), pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= CAST($threshold AS DOUBLE)), dedges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs), reach AS (SELECT src AS id, src AS r FROM dedges UNION SELECT e.dst AS id, reach.r FROM reach JOIN dedges e ON e.src = reach.id), reps AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id) SELECT rep, COUNT(*) AS n_members FROM reps GROUP BY rep ORDER BY rep"""

  // incremental replay: new batch = doc_id % 10 = 0 (as declared by
  // q_dedup_incremental); within-batch bounded pairs over the new bands
  // only, cross pairs from the new-vs-store band join with the per-new-id
  // cap, then the shared verify
  private def minhashMd5IncrementalOracleSql(bands: Int, rows: Int,
      threshold: Double, maxBucket: Int = 64): String =
    "WITH " + minhashMd5BandedSql(bands, rows) +
      s""", newb AS (SELECT * FROM banded WHERE id % 10 = 0), oldb AS (SELECT * FROM banded WHERE id % 10 <> 0), nstats AS (SELECT id, b, bucket, COUNT(*) OVER (PARTITION BY b, bucket) AS n, MIN(id) OVER (PARTITION BY b, bucket) AS minid FROM newb), within AS (SELECT DISTINCT id_a, id_b FROM (SELECT x.id AS id_a, y.id AS id_b FROM nstats x JOIN nstats y USING (b, bucket) WHERE x.n <= $maxBucket AND x.id < y.id UNION ALL SELECT minid AS id_a, id AS id_b FROM nstats WHERE n > $maxBucket AND id <> minid)), crossc AS (SELECT DISTINCT n.id AS id_a, o.id AS id_b FROM newb n JOIN oldb o USING (b, bucket)), crosscap AS (SELECT id_a, id_b FROM (SELECT id_a, id_b, row_number() OVER (PARTITION BY id_a ORDER BY id_b) AS rn FROM crossc) WHERE rn <= ${bands * maxBucket}), cands AS (SELECT * FROM within UNION ALL SELECT * FROM crosscap)""" +
      minhashMd5VerifyTail(threshold)

  // ------------------------------------------------------------------
  // DuckDB replay of Similarity.trainCentroids (id-ordered sample mode)
  // and the IVF/SemDeDup pipelines consuming it. The training is
  // deterministic arithmetic with NO hashing once the sample order is a
  // plain column (sampleOrderCol = vec_id), so the whole model fits in
  // unrolled SQL: farthest-point init as k chained (argmin, running-max
  // update) CTE pairs, Lloyd as `iters` chained (argmax-assign,
  // order-exact component fold, renormalize) rounds. Bit-exactness
  // hinges on replaying the ENGINE's exact float semantics:
  //  - every dot/norm is an ascending-index double fold
  //    (list_inner_product == the driver's serial loops);
  //  - Lloyd's component sums accumulate in SAMPLE (= id) order —
  //    list(x ORDER BY id) folded via list_reduce, never SUM();
  //  - Lloyd's argmax breaks ties on the FIRST centroid (strict > in the
  //    driver loop) -> ORDER BY dot DESC, c ASC, while the
  //    NearestCentroid kernel's corpus assignment keeps the LAST (>=)
  //    -> ORDER BY dot DESC, c DESC;
  //  - NearestCentroid RE-normalizes centroids internally as
  //    x * (1/sqrt(n2)) — multiplied by the reciprocal, which is not the
  //    same double as x / sqrt(n2) — so `cnorm` replays that exact form,
  //    while training's normalize() divides (x / n) and `sv`/`cents_t`
  //    replay the division.
  // The chain defines: cents(c, v) — the trained model; cnorm — the
  // kernel's assignment-normalized copy; cell(vec_id, ev, cell) — the
  // corpus with its assigned cell.
  //
  // Every chain CTE is AS MATERIALIZED: DuckDB inlines plain CTEs, and
  // each init step references its predecessor twice (argmin + running-max
  // update), so un-materialized the k-step chain expands to 2^k copies of
  // the sample scan — the first run died on file handles before any
  // wrong answer could even appear.
  private def kmeansCtes(k: Int, iters: Int = 5, dim: Int = 64,
      maxSample: Int = 2000): String = {
    val b = new StringBuilder
    b ++= s"samp AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings ORDER BY vec_id LIMIT $maxSample), "
    b ++= "sv AS MATERIALIZED (SELECT id, list_transform(v0, x -> x / sqrt(list_inner_product(v0, v0))) AS v FROM samp WHERE list_inner_product(v0, v0) <> 0), "
    b ++= "c1 AS MATERIALIZED (SELECT v FROM sv ORDER BY id LIMIT 1), "
    b ++= "m1 AS MATERIALIZED (SELECT s.id, s.v, list_inner_product(s.v, c.v) AS ms FROM sv s CROSS JOIN c1 c), "
    for (j <- 2 to k) {
      b ++= s"c$j AS MATERIALIZED (SELECT v FROM m${j - 1} ORDER BY ms ASC, id ASC LIMIT 1), "
      if (j < k)
        b ++= s"m$j AS MATERIALIZED (SELECT m.id, m.v, GREATEST(m.ms, list_inner_product(m.v, c.v)) AS ms FROM m${j - 1} m CROSS JOIN c$j c), "
    }
    b ++= (1 to k).map(j => s"SELECT ${j - 1} AS c, v FROM c$j")
      .mkString("cents_0 AS MATERIALIZED (", " UNION ALL ", "), ")
    for (t <- 1 to iters) {
      b ++= s"asg$t AS MATERIALIZED (SELECT id, v, c FROM (SELECT s.id, s.v, ct.c, row_number() OVER (PARTITION BY s.id ORDER BY list_inner_product(s.v, ct.v) DESC, ct.c ASC) AS rn FROM sv s CROSS JOIN cents_${t - 1} ct) WHERE rn = 1), "
      b ++= s"comp$t AS MATERIALIZED (SELECT c, i, list_reduce(list_prepend(CAST(0 AS DOUBLE), list(x ORDER BY id)), (a, b) -> a + b) AS sm FROM (SELECT id, c, UNNEST(v) AS x, UNNEST(range(0, $dim)) AS i FROM asg$t) GROUP BY c, i), "
      b ++= s"sum$t AS MATERIALIZED (SELECT c, list(sm ORDER BY i) AS s2 FROM comp$t GROUP BY c), "
      b ++= s"cents_$t AS MATERIALIZED (SELECT p.c, CASE WHEN s.s2 IS NULL THEN p.v WHEN list_inner_product(s.s2, s.s2) = 0 THEN s.s2 ELSE list_transform(s.s2, x -> x / sqrt(list_inner_product(s.s2, s.s2))) END AS v FROM cents_${t - 1} p LEFT JOIN sum$t s ON s.c = p.c), "
    }
    b ++= s"cents AS MATERIALIZED (SELECT c, v FROM cents_$iters), "
    b ++= "cnorm AS MATERIALIZED (SELECT c, CASE WHEN list_inner_product(v, v) = 0 THEN list_transform(v, x -> x * CAST(0 AS DOUBLE)) ELSE list_transform(v, x -> x * (CAST(1 AS DOUBLE) / sqrt(list_inner_product(v, v)))) END AS v FROM cents), "
    // NaN vectors are excluded from cell assignment to mirror the engine:
    // NearestCentroid returns a NULL cell for NaN/degenerate vectors (so
    // they fall out of every cell join), while DuckDB's row_number ORDER
    // BY would rank a NaN inner product FIRST and assign the vector a
    // cell — a latent divergence if a regen ever produces one. The no-NaN
    // corpus assumption itself is canaried in SchemaCanarySpec.
    b ++= "ecorp AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings WHERE NOT list_contains(list_transform(CAST(embedding AS DOUBLE[]), x -> isnan(x)), true)), "
    b ++= "cell AS MATERIALIZED (SELECT vec_id, ev, c AS cell FROM (SELECT e.vec_id, e.ev, cc.c, row_number() OVER (PARTITION BY e.vec_id ORDER BY list_inner_product(cc.v, e.ev) DESC, cc.c DESC) AS rn FROM ecorp e CROSS JOIN cnorm cc) WHERE rn = 1)"
    b.toString
  }

  /** q_image_neardup replay: the REAL-pixel perceptual-hash pipeline,
    * replayed analytically. The images are real PNGs (ImageIO encode)
    * whose gray samples are md5 arithmetic
    * ([[graft.operators.Multimodal.syntheticGrayPngs]]'s contract:
    * base = first md5 byte of "family:pos" % 200, perturb = first md5
    * byte of "id#pos" % 2), and PNG gray8 is LOSSLESS — so the oracle
    * rebuilds the decoded samples as SQL, derives the 64 dHash
    * gradient-sign bits, packs them into the 4x16-bit chunks the banding
    * uses, and replays the shared bounded-pairs + XOR-popcount hamming
    * pipeline (the simhashMd5OracleSql geometry). If ImageIO's
    * encode/decode round-trip ever perturbed a sample, the Spark bits
    * would diverge from this replay and the row would go red — the
    * real decode path is INSIDE the oracle, not beside it.
    */
  /** The image-dHash replay through `verified(id_a, id_b, hamming)` —
    * shared by the pair oracle and the cluster-composite oracle. */
  /** The md5-derived synthetic payload value at `pos` for a (family,
    * doc) pair — the shared pixel/sample contract of
    * `Multimodal.syntheticGrayPngs` / `Multimodal.syntheticWavs`. */
  private lazy val synthValSql: String =
    "CAST(('0x' || substring(md5(family || ':' || CAST(pos AS VARCHAR)), 1, 2)) AS INT) % 200 + CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#' || CAST(pos AS VARCHAR)), 1, 2)) AS INT) % 2"

  private lazy val famCteSql: String =
    "fam AS (SELECT doc_id, array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ') AS family FROM documents)"

  /** sig/banded/cands/verified over any upstream `bits(doc_id, i, bit)`
    * CTE — the 64-bit pack + 4x16 chunk banding + XOR-popcount hamming
    * shared by the image-dHash and audio-fingerprint replays. */
  private def bitsToPairsSql(maxBucket: Int): String = {
    def chunk(b: Int): String =
      s"SUM(CASE WHEN i // 16 = $b THEN bit * (1 << (i % 16)) ELSE 0 END)"
    s""", sig AS (SELECT doc_id, ${chunk(0)} AS c0, ${chunk(1)} AS c1, ${chunk(2)} AS c2, ${chunk(3)} AS c3 FROM bits GROUP BY doc_id), banded AS (SELECT doc_id AS id, b, CASE b WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2 ELSE c3 END AS bucket FROM sig CROSS JOIN range(0, 4) t(b))""" +
      minhashMd5CandsSql(maxBucket) +
      s""", verified AS (SELECT id_a, id_b, bit_count(xor(sa.c0, sb.c0)) + bit_count(xor(sa.c1, sb.c1)) + bit_count(xor(sa.c2, sb.c2)) + bit_count(xor(sa.c3, sb.c3)) AS hamming FROM cands JOIN sig sa ON sa.doc_id = cands.id_a JOIN sig sb ON sb.doc_id = cands.id_b)"""
  }

  private def imageNearDupCtesSql(maxBucket: Int = 64): String =
    s"""$famCteSql, px AS (SELECT doc_id, pos, $synthValSql AS p FROM fam CROSS JOIN range(0, 72) r(pos)), bits AS (SELECT a.doc_id, CAST((a.pos // 9) * 8 + (a.pos % 9) AS INT) AS i, CASE WHEN a.p > b.p THEN 1 ELSE 0 END AS bit FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 WHERE a.pos % 9 < 8)""" +
      bitsToPairsSql(maxBucket)

  /** q_audio_neardup replay: the synthetic 8-bit PCM samples are md5
    * arithmetic — one digest per 16-sample block, sample = hex byte
    * `pos % 16` of the block digests (WAV PCM is raw bytes — trivially
    * lossless) — frame energies are integer sums, fingerprint bit i =
    * energy(frame i) > energy(frame i+1), then the shared banding. */
  /** the synthetic 8-bit PCM sample value at `pos` — shared by the
    * time-domain (q_audio_neardup) and spectral (q_audio_spectral)
    * replays */
  private lazy val audioSampleValSql =
    "CAST(('0x' || substring(md5(family || ':' || CAST(pos // 16 AS VARCHAR)), (pos % 16) * 2 + 1, 2)) AS INT) % 200 + CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#' || CAST(pos // 16 AS VARCHAR)), (pos % 16) * 2 + 1, 2)) AS INT) % 2"

  private def audioNearDupCtesSql(maxBucket: Int = 64): String =
    s"""$famCteSql, ax AS (SELECT doc_id, pos, $audioSampleValSql AS v FROM fam CROSS JOIN range(0, 1040) r(pos)), ae AS (SELECT doc_id, pos // 16 AS f, SUM(v) AS e FROM ax GROUP BY 1, 2), bits AS (SELECT a.doc_id, CAST(a.f AS INT) AS i, CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit FROM ae a JOIN ae b ON b.doc_id = a.doc_id AND b.f = a.f + 1 WHERE a.f < 64)""" +
      bitsToPairsSql(maxBucket)

  /** q_media_curation replay: the three quality CTE chains over the ONE
    * shared `fam` CTE, joined on doc_id, thresholds verbatim. */
  private lazy val mediaCurationOracleSql: String =
    s"""WITH $famCteSql, $imageQualityCtes, $audioQualityCtes, ${videoQualityCtes(4)} SELECT iq.doc_id AS id, lap_sq >= 2600000 AS img_sharp, (iq.mean_lum >= 80.0 AND iq.mean_lum <= 100.0) AS img_exposed, rms >= 5600000 AS aud_loud, aq.clip_frac <= 0.02 AS aud_clean, activity >= 66.0 AS vid_active, (lap_sq >= 2600000 AND iq.mean_lum >= 80.0 AND iq.mean_lum <= 100.0 AND rms >= 5600000 AND aq.clip_frac <= 0.02 AND activity >= 66.0) AS kept FROM iq JOIN aq USING (doc_id) JOIN vq USING (doc_id) ORDER BY id"""

  /** q_video_quality replay: the analytic per-frame GIF pixels (the
    * q_video_neardup contract — identity palette, lossless), frame
    * luminance sum, consecutive-frame |a - b| sums via a pos+frame
    * self-join, the per-pair `< 72` (one gray level per pixel) static
    * test, and the engine's exact final divisions. */
  /** the CTE chain (after `fam`) ending in `vq(doc_id, mean_lum,
    * activity, static_frac)` — shared with the composite */
  private def videoQualityCtes(nFrames: Int): String = {
    val frameVal = "CAST(('0x' || substring(md5(family || ':' || CAST(f AS VARCHAR) || ':' || CAST(pos AS VARCHAR)), 1, 2)) AS INT) % 200 + CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#' || CAST(f AS VARCHAR) || ':' || CAST(pos AS VARCHAR)), 1, 2)) AS INT) % 2"
    s"""vpx AS (SELECT doc_id, f, pos, $frameVal AS p FROM fam CROSS JOIN range(0, $nFrames) fr(f) CROSS JOIN range(0, 72) r(pos)), vlum AS (SELECT doc_id, SUM(p) AS lum FROM vpx GROUP BY doc_id), vpd AS (SELECT a.doc_id, a.f, SUM(ABS(a.p - b.p)) AS d FROM vpx a JOIN vpx b ON b.doc_id = a.doc_id AND b.f = a.f - 1 AND b.pos = a.pos WHERE a.f >= 1 GROUP BY 1, 2), vagg AS (SELECT doc_id, SUM(d) AS diff, SUM(CASE WHEN d < 72 THEN 1 ELSE 0 END) AS statics FROM vpd GROUP BY doc_id), vq AS (SELECT l.doc_id, CAST(lum AS DOUBLE) / ${nFrames * 72} AS mean_lum, CAST(diff AS DOUBLE) / ${(nFrames - 1) * 72} AS activity, CAST(statics AS DOUBLE) / ${nFrames - 1} AS static_frac FROM vlum l JOIN vagg USING (doc_id))"""
  }

  private def videoQualityOracleSql(nFrames: Int): String =
    s"""WITH $famCteSql, ${videoQualityCtes(nFrames)} SELECT doc_id AS id, CAST($nFrames AS BIGINT) AS n_frames, mean_lum, activity AS interframe_mean_abs, static_frac FROM vq ORDER BY id"""

  /** q_image_quality replay: the analytic 9x8 gray pixels (the shared
    * [[synthValSql]] contract — PNG gray8 is lossless, so the decoded
    * raster IS these values), then each signal as integer SQL: luminance
    * sum, min/max contrast, the interior 4-neighbor Laplacian via pos
    * arithmetic self-joins (left/right = pos -/+ 1, up/down = pos -/+ 9,
    * interior = pos%9 in 1..7 and pos//9 in 1..6), rail-clip count; the
    * two fractions are single double divisions matching the engine's
    * `toDouble / n` exactly. */
  /** the CTE chain (after `fam`) ending in `iq(doc_id, mean_lum,
    * contrast, lap_sq, clip_frac)` — shared by q_image_quality and the
    * q_media_curation composite */
  private lazy val imageQualityCtes: String =
    s"""ipx AS (SELECT doc_id, pos, $synthValSql AS p FROM fam CROSS JOIN range(0, 72) r(pos)), ibase AS (SELECT doc_id, SUM(p) AS lum, MAX(p) - MIN(p) AS contrast, SUM(CASE WHEN p <= 2 OR p >= 253 THEN 1 ELSE 0 END) AS clipped FROM ipx GROUP BY doc_id), ilap AS (SELECT c.doc_id, SUM(CAST(4 * c.p - l.p - r.p - u.p - d.p AS BIGINT) * CAST(4 * c.p - l.p - r.p - u.p - d.p AS BIGINT)) AS lap_sq FROM ipx c JOIN ipx l ON l.doc_id = c.doc_id AND l.pos = c.pos - 1 JOIN ipx r ON r.doc_id = c.doc_id AND r.pos = c.pos + 1 JOIN ipx u ON u.doc_id = c.doc_id AND u.pos = c.pos - 9 JOIN ipx d ON d.doc_id = c.doc_id AND d.pos = c.pos + 9 WHERE c.pos % 9 BETWEEN 1 AND 7 AND c.pos // 9 BETWEEN 1 AND 6 GROUP BY c.doc_id), iq AS (SELECT b.doc_id, CAST(lum AS DOUBLE) / 72 AS mean_lum, CAST(contrast AS INT) AS contrast, CAST(lap_sq AS BIGINT) AS lap_sq, CAST(clipped AS DOUBLE) / 72 AS clip_frac FROM ibase b JOIN ilap USING (doc_id))"""

  private lazy val imageQualityOracleSql: String =
    s"""WITH $famCteSql, $imageQualityCtes SELECT doc_id AS id, CAST(72 AS BIGINT) AS n_px, mean_lum, contrast, lap_sq AS lap_sq_sum, clip_frac FROM iq ORDER BY id"""

  /** q_audio_quality replay: the analytic PCM samples (the shared
    * [[audioSampleValSql]] contract over all 1040 samples), per-sample
    * deviation energy about the 8-bit midpoint, rail-clip count, and the
    * per-16-sample-frame peak-to-peak silence test — integer sums, two
    * final double divisions. */
  /** the CTE chain (after `fam`) ending in `aq(doc_id, smin, smax, rms,
    * clip_frac, silence_frac)` — shared with the composite */
  private lazy val audioQualityCtes: String =
    s"""aax AS (SELECT doc_id, pos, $audioSampleValSql AS v FROM fam CROSS JOIN range(0, 1040) r(pos)), abase AS (SELECT doc_id, MIN(v) AS smin, MAX(v) AS smax, SUM(CAST(v - 128 AS BIGINT) * CAST(v - 128 AS BIGINT)) AS rms, SUM(CASE WHEN v <= 1 OR v >= 254 THEN 1 ELSE 0 END) AS clipped FROM aax GROUP BY doc_id), afr AS (SELECT doc_id, pos // 16 AS f, MAX(v) - MIN(v) AS ptp FROM aax GROUP BY 1, 2), asil AS (SELECT doc_id, SUM(CASE WHEN ptp < 4 THEN 1 ELSE 0 END) AS silent FROM afr GROUP BY doc_id), aq AS (SELECT b.doc_id, CAST(smin AS INT) AS smin, CAST(smax AS INT) AS smax, CAST(rms AS BIGINT) AS rms, CAST(clipped AS DOUBLE) / 1040 AS clip_frac, CAST(silent AS DOUBLE) / 65 AS silence_frac FROM abase b JOIN asil USING (doc_id))"""

  private lazy val audioQualityOracleSql: String =
    s"""WITH $famCteSql, $audioQualityCtes SELECT doc_id AS id, CAST(1040 AS BIGINT) AS n_samples, smin, smax, rms AS rms_sq_sum, clip_frac, silence_frac FROM aq ORDER BY id"""

  /** q_audio_spectral replay: identical md5 sample synthesis (first
    * 9x32 = 288 samples of the same WAVs), the 32-point Walsh-Hadamard
    * coefficients as signed integer sums over the shared
    * [[graft.operators.Multimodal.SeqToNat]] sequency table (embedded as
    * a VALUES list — both engines read the same array), squared-
    * coefficient band energies over 9 DC-free bands, the Haitsma-Kalker
    * difference-of-differences bit rule, then the shared bits->pairs
    * banding. Every step is integer arithmetic, so the row hash-matches
    * with no tolerance. */
  /** the spectral-fingerprint + banding chain over ANY upstream
    * `ax(doc_id, pos, v)` CTE of 288 8-bit samples — split out so the
    * lossy-codec oracles (mu-law / IMA ADPCM) can feed their
    * round-tripped samples through the identical replay */
  private def audioSpectralTailSql(maxBucket: Int): String = {
    val seqVals = (1 to 27)
      .map(s => s"($s, ${graft.operators.Multimodal.SeqToNat(s)})")
      .mkString(", ")
    s"""sq(m, nat) AS (SELECT * FROM (VALUES $seqVals)), wh AS (SELECT doc_id, pos // 32 AS f, m, SUM(CASE WHEN bit_count(CAST(pos % 32 AS BIGINT) & CAST(nat AS BIGINT)) % 2 = 0 THEN v ELSE -v END) AS w FROM ax CROSS JOIN sq GROUP BY 1, 2, 3), be AS (SELECT doc_id, f, (m - 1) // 3 AS band, SUM(w * w) AS e FROM wh GROUP BY 1, 2, 3), dd AS (SELECT a.doc_id, a.f, a.band, a.e - b.e AS d FROM be a JOIN be b ON b.doc_id = a.doc_id AND b.f = a.f AND b.band = a.band + 1 WHERE a.band < 8), bits AS (SELECT a.doc_id, CAST((a.f - 1) * 8 + a.band AS INT) AS i, CASE WHEN a.d - b.d > 0 THEN 1 ELSE 0 END AS bit FROM dd a JOIN dd b ON b.doc_id = a.doc_id AND b.f = a.f - 1 AND b.band = a.band WHERE a.f >= 1)""" +
      bitsToPairsSql(maxBucket)
  }

  private def audioSpectralCtesSql(maxBucket: Int = 64): String =
    s"""$famCteSql, ax AS (SELECT doc_id, pos, $audioSampleValSql AS v FROM fam CROSS JOIN range(0, 288) r(pos)), """ +
      audioSpectralTailSql(maxBucket)

  private def audioSpectralOracleSql(maxBucket: Int = 64): String =
    "WITH " + audioSpectralCtesSql(maxBucket) +
      " SELECT id_a, id_b, hamming FROM verified WHERE hamming <= 3 ORDER BY id_a, id_b"

  /** q_audio_mulaw replay: the analytic 16-bit PCM through the EXACT
    * G.711 mu-law round-trip — clip+bias, the 8-segment ladder, the
    * 4-bit mantissa cut, and the midpoint reconstruction, all integer
    * arithmetic (LossyAudio.muLawEncode/muLawDecode restated as SQL) —
    * then `(s16 >> 8) + 128` requantization (arithmetic shift =
    * floor-division, exact both engines) into the UNCHANGED spectral
    * chain. A lossy codec fully hash-certified: any divergence in the
    * companding arithmetic flips fingerprint bits downstream. */
  private def audioMuLawOracleSql(maxBucket: Int = 64): String = {
    val mag = "(((a >> (e + 3)) & 15) * 8 + 132) * (1 << e) - 132"
    "WITH " + famCteSql + ", " +
      "ax AS (SELECT doc_id, pos, CAST(floor(rt / 256.0) AS INT) + 128 AS v FROM " +
      s"(SELECT doc_id, pos, CASE WHEN s < 0 THEN -($mag) ELSE $mag END AS rt FROM " +
      "(SELECT doc_id, pos, s, a, CASE WHEN a >= 16384 THEN 7 WHEN a >= 8192 THEN 6 WHEN a >= 4096 THEN 5 WHEN a >= 2048 THEN 4 WHEN a >= 1024 THEN 3 WHEN a >= 512 THEN 2 WHEN a >= 256 THEN 1 ELSE 0 END AS e FROM " +
      "(SELECT doc_id, pos, s, LEAST(abs(s), 32635) + 132 AS a FROM " +
      s"(SELECT doc_id, pos, ($audioSampleValSql - 128) * 256 AS s FROM fam CROSS JOIN range(0, 288) r(pos)))))), " +
      audioSpectralTailSql(maxBucket) +
      " SELECT id_a, id_b, hamming FROM verified WHERE hamming <= 3 ORDER BY id_a, id_b"
  }

  /** q_audio_adpcm replay: the analytic 16-bit PCM through the EXACT
    * IMA ADPCM encode-state recursion (quantize to the 4-bit code,
    * reconstruct via the step table, clamp, walk the index table — the
    * decoder's output IS the encoder's reconstruction, so one
    * recursion replays the whole lossy round-trip), then the
    * requantization and the unchanged spectral chain. The 89-entry
    * step table is emitted from the SAME Scala array the codec uses.
    * Positions 0..287 sit inside block 0 (505 samples/block), so the
    * recursion starts from the block header state (pred = s(0),
    * idx = 0) the container carries verbatim. */
  private def audioAdpcmOracleSql(maxBucket: Int = 64): String = {
    val stepVals = graft.operators.LossyAudio.ImaStep.zipWithIndex
      .map { case (v, i) => s"($i, $v)" }.mkString(", ")
    "WITH RECURSIVE " + famCteSql + ", " +
      s"axs AS MATERIALIZED (SELECT doc_id, pos, ($audioSampleValSql - 128) * 256 AS s FROM fam CROSS JOIN range(0, 288) r(pos)), " +
      s"steps(i, st) AS (SELECT * FROM (VALUES $stepVals)), " +
      "adp AS (" +
      "SELECT doc_id, 0 AS k, s AS pred, 0 AS idx FROM axs WHERE pos = 0 " +
      "UNION ALL " +
      "SELECT doc_id, k + 1, " +
      "GREATEST(LEAST(pred + CASE WHEN sgn THEN -dq ELSE dq END, 32767), -32768), " +
      "LEAST(GREATEST(idx + CASE WHEN b2 THEN (CASE WHEN b1 THEN (CASE WHEN b0 THEN 8 ELSE 6 END) ELSE (CASE WHEN b0 THEN 4 ELSE 2 END) END) ELSE -1 END, 0), 88) " +
      "FROM (SELECT doc_id, k, pred, idx, sgn, b2, b1, b0, " +
      "(stv >> 3) + CASE WHEN b2 THEN stv ELSE 0 END + CASE WHEN b1 THEN stv >> 1 ELSE 0 END + CASE WHEN b0 THEN stv >> 2 ELSE 0 END AS dq " +
      "FROM (SELECT *, r1 >= (stv >> 2) AS b0 FROM " +
      "(SELECT *, r2 - CASE WHEN r2 >= (stv >> 1) THEN stv >> 1 ELSE 0 END AS r1, r2 >= (stv >> 1) AS b1 FROM " +
      "(SELECT *, d - CASE WHEN d >= stv THEN stv ELSE 0 END AS r2, d >= stv AS b2 FROM " +
      "(SELECT t.doc_id, t.k, t.pred, t.idx, (x.s - t.pred) < 0 AS sgn, abs(x.s - t.pred) AS d, sp.st AS stv " +
      "FROM adp t JOIN axs x ON x.doc_id = t.doc_id AND x.pos = t.k + 1 " +
      "JOIN steps sp ON sp.i = t.idx WHERE t.k < 287)))))), " +
      "ax AS (SELECT doc_id, k AS pos, CAST(floor(pred / 256.0) AS INT) + 128 AS v FROM adp), " +
      audioSpectralTailSql(maxBucket) +
      " SELECT id_a, id_b, hamming FROM verified WHERE hamming <= 3 ORDER BY id_a, id_b"
  }

  private def audioNearDupOracleSql(maxBucket: Int = 64): String =
    "WITH " + audioNearDupCtesSql(maxBucket) +
      " SELECT id_a, id_b, hamming FROM verified WHERE hamming <= 3 ORDER BY id_a, id_b"

  private def imageNearDupOracleSql(maxBucket: Int = 64): String =
    "WITH " + imageNearDupCtesSql(maxBucket) +
      " SELECT id_a, id_b, hamming FROM verified WHERE hamming <= 3 ORDER BY id_a, id_b"

  /** q_image_clusters replay: image pair CTEs + the recursive-CTE
    * connected-components fixpoint (q_dedup_clusters' construction). */
  private def imageClustersOracleSql(maxBucket: Int = 64): String =
    "WITH RECURSIVE " + imageNearDupCtesSql(maxBucket) +
      """, pairs AS (SELECT id_a, id_b FROM verified WHERE hamming <= 3), dedges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs), reach AS (SELECT src AS id, src AS r FROM dedges UNION SELECT e.dst AS id, reach.r FROM reach JOIN dedges e ON e.src = reach.id), reps AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id) SELECT rep, COUNT(*) AS n_members FROM reps GROUP BY rep ORDER BY rep"""

  /** q_video_neardup replay: the animated-GIF pipeline end to end. The
    * containers are real GIF89a bytes whose per-frame gray samples are
    * md5 arithmetic over an identity palette (LOSSLESS round-trip —
    * [[graft.operators.Multimodal.syntheticAnimatedGifs]]'s contract:
    * base = first md5 byte of "family:f:pos" % 200, perturb = first md5
    * byte of "id#f:pos" % 2), so the oracle rebuilds every decoded
    * frame's samples as SQL, derives the per-(video, frame) dHash bits,
    * bands them on the composite key `doc_id * 64 + f` through the
    * shared bits->pairs geometry, keeps same-index pairs within
    * hamming <= 3, and rolls them up to video pairs with >= minFrames
    * matches. A drifted GIF encode/decode, a lost frame, or a broken
    * walk all desync the Spark bits from this replay. */
  /** the shared CTE chain up to `vpairs(id_a, id_b, n_frames_matched)` —
    * consumed by the pair row and the cluster row */
  private def videoNearDupCtesSql(nFrames: Int, minFrames: Int,
      maxBucket: Int): String = {
    val frameVal = "CAST(('0x' || substring(md5(family || ':' || CAST(f AS VARCHAR) || ':' || CAST(pos AS VARCHAR)), 1, 2)) AS INT) % 200 + CAST(('0x' || substring(md5(CAST(vid AS VARCHAR) || '#' || CAST(f AS VARCHAR) || ':' || CAST(pos AS VARCHAR)), 1, 2)) AS INT) % 2"
    "fam AS (SELECT doc_id AS vid, array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ') AS family FROM documents), " +
      s"px AS (SELECT vid, f, pos, $frameVal AS p FROM fam CROSS JOIN range(0, $nFrames) fr(f) CROSS JOIN range(0, 72) r(pos)), " +
      "bits AS (SELECT a.vid * 64 + a.f AS doc_id, CAST((a.pos // 9) * 8 + (a.pos % 9) AS INT) AS i, CASE WHEN a.p > b.p THEN 1 ELSE 0 END AS bit FROM px a JOIN px b ON b.vid = a.vid AND b.f = a.f AND b.pos = a.pos + 1 WHERE a.pos % 9 < 8)" +
      bitsToPairsSql(maxBucket) +
      s", fpairs AS (SELECT id_a, id_b FROM verified WHERE hamming <= 3 AND id_a % 64 = id_b % 64), vpairs AS (SELECT id_a // 64 AS id_a, id_b // 64 AS id_b, COUNT(*) AS n_frames_matched FROM fpairs GROUP BY 1, 2 HAVING COUNT(*) >= $minFrames)"
  }

  private def videoNearDupOracleSql(nFrames: Int = 4, minFrames: Int = 3,
      maxBucket: Int = 64): String =
    "WITH " + videoNearDupCtesSql(nFrames, minFrames, maxBucket) +
      " SELECT id_a, id_b, n_frames_matched FROM vpairs ORDER BY id_a, id_b"

  /** q_video_avi replay: the MJPEG pipeline via the RANK contract.
    * [[graft.operators.Multimodal.syntheticMjpegAvis]] fills row y of
    * frame f with the 9 [[graft.operators.Multimodal.MjpegLevels]]
    * permuted by ranking md5("family:f:y:x") (ties by x) — levels are
    * 30 apart and quality-1.0 JPEG error is a few counts, so the
    * decoded adjacent-sample orderings EQUAL the rank orderings
    * (spec-pinned in AviSpec). The oracle therefore rebuilds the ranks
    * with ROW_NUMBER, takes bit(y*8+x) = rank(x) > rank(x+1), and runs
    * the shared banding + same-index temporal rollup — no codec replay
    * needed, yet any walk/decode corruption desyncs the Spark bits. */
  private def videoAviOracleSql(nFrames: Int = 4, minFrames: Int = 3,
      maxBucket: Int = 64, frameWhere: String = ""): String =
    "WITH fam AS (SELECT doc_id AS vid, array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ') AS family FROM documents), " +
      s"ks AS (SELECT vid, f, y, x, md5(family || ':' || CAST(f AS VARCHAR) || ':' || CAST(y AS VARCHAR) || ':' || CAST(x AS VARCHAR)) AS k FROM fam CROSS JOIN range(0, $nFrames) fr(f) CROSS JOIN range(0, 8) ry(y) CROSS JOIN range(0, 9) rx(x)$frameWhere), " +
      "rk AS (SELECT vid, f, y, x, ROW_NUMBER() OVER (PARTITION BY vid, f, y ORDER BY k, x) - 1 AS r FROM ks), " +
      "bits AS (SELECT a.vid * 64 + a.f AS doc_id, CAST(a.y * 8 + a.x AS INT) AS i, CASE WHEN a.r > b.r THEN 1 ELSE 0 END AS bit FROM rk a JOIN rk b ON b.vid = a.vid AND b.f = a.f AND b.y = a.y AND b.x = a.x + 1 WHERE a.x < 8)" +
      bitsToPairsSql(maxBucket) +
      s", fpairs AS (SELECT id_a, id_b FROM verified WHERE hamming <= 3 AND id_a % 64 = id_b % 64), vpairs AS (SELECT id_a // 64 AS id_a, id_b // 64 AS id_b, COUNT(*) AS n_frames_matched FROM fpairs GROUP BY 1, 2 HAVING COUNT(*) >= $minFrames) " +
      "SELECT id_a, id_b, n_frames_matched FROM vpairs ORDER BY id_a, id_b"

  /** q_video_clusters replay: the video pair CTEs + the recursive-CTE
    * connected-components fixpoint (q_image_clusters' construction). */
  private def videoClustersOracleSql(nFrames: Int = 4, minFrames: Int = 3,
      maxBucket: Int = 64): String =
    "WITH RECURSIVE " + videoNearDupCtesSql(nFrames, minFrames, maxBucket) +
      """, dedges AS (SELECT id_a AS src, id_b AS dst FROM vpairs UNION SELECT id_b, id_a FROM vpairs), reach AS (SELECT src AS id, src AS r FROM dedges UNION SELECT e.dst AS id, reach.r FROM reach JOIN dedges e ON e.src = reach.id), reps AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id) SELECT rep, COUNT(*) AS n_members FROM reps GROUP BY rep ORDER BY rep"""

  /** q_html_extract replay: identical HTML synthesis, then
    * [[graft.operators.TextAnalysis.htmlExtract]]'s exact chain — the
    * pattern constants and the entity table (with its decode ORDER) are
    * shared verbatim, so the two engines cannot drift. */
  private lazy val htmlExtractOracleSql: String = {
    import graft.operators.TextAnalysis._
    val entityChain = HtmlEntities.foldLeft("no_tags") {
      case (e, (from, to)) =>
        s"replace($e, '${from.replace("'", "''")}', '${to.replace("'", "''")}')"
    }
    s"""WITH raw AS (SELECT doc_id, '<html><head><script type="text/javascript">var x = 1 < 2;</script><style>.c { color: red }</style></head><body><!-- boilerplate' || chr(10) || 'block --><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>' || text || '</p><ul><li>&quot;quoted&quot; &amp;amp; more</li></ul><a href="http://ex.org/' || CAST(doc_id AS VARCHAR) || '">link</a> &nbsp;&lt;tail&gt;</body></html>' AS html FROM documents), stripped AS (SELECT doc_id, html, regexp_replace(regexp_replace(regexp_replace(html, '$HtmlCommentPattern', '', 'g'), '$HtmlScriptPattern', '', 'g'), '$HtmlStylePattern', '', 'g') AS no_cs FROM raw), tagless AS (SELECT doc_id, html, regexp_replace(regexp_replace(no_cs, '$HtmlBlockTagPattern', ' ', 'g'), '$HtmlTagPattern', '', 'g') AS no_tags FROM stripped), plain AS (SELECT doc_id, html, trim(regexp_replace($entityChain, '$HtmlWhitespacePattern', ' ', 'g')) AS text_plain FROM tagless) SELECT doc_id, text_plain, CAST(len(regexp_extract_all(html, '$HtmlAnchorPattern')) AS BIGINT) AS n_links, CASE WHEN len(html) = 0 THEN 0.0 ELSE floor(CAST(len(text_plain) AS DOUBLE) / len(html) * 1e6 + 0.5) / 1e6 END AS text_ratio FROM plain ORDER BY doc_id"""
  }


  /** q_text_cjk replay: identical suffix synthesis, the shared
    * [[graft.operators.TextAnalysis.SegmentPattern]] segmentation (RE2
    * spells group 1 `\1`), the standard token-count CASE formula on both
    * the raw and segmented text, the seg-aware mean_token_len division,
    * the bigram count as `max(seg tokens - 1, 0)` (the windowed formula
    * over an always-multi-token text), and the md5 fingerprint HUGEINT
    * fold over the SEGMENTED token stream (q_text_fingerprint's exact
    * wraparound replay). */
  private lazy val textCjkOracleSql: String = {
    val nws =
      raw"""CASE WHEN LENGTH(TRIM(t)) = 0 THEN 0 ELSE LEN(string_split_regex(TRIM(t), '\s+')) END"""
    val nseg =
      raw"""CASE WHEN LENGTH(TRIM(ts)) = 0 THEN 0 ELSE LEN(string_split_regex(TRIM(ts), '\s+')) END"""
    raw"""WITH m AS (SELECT doc_id, COALESCE(text, '') || ' ' || repeat('${CjkZhSentence}', CAST(1 + doc_id % 3 AS INT)) || ' ${CjkJaPhrase} ${CjkKoPhrase}' AS t FROM documents), sgm AS (SELECT doc_id, t, regexp_replace(t, '${TextAnalysis.SegmentPattern}', '${TextAnalysis.SegmentReplDuck}', 'g') AS ts FROM m) SELECT doc_id, CAST($nws AS BIGINT) AS n_tokens_ws, CAST($nseg AS BIGINT) AS n_tokens_seg, CAST(LENGTH(regexp_replace(t, '\s+', '', 'g')) AS DOUBLE) / GREATEST($nseg, 1) AS mean_token_len_seg, CAST(GREATEST(LEN(string_split_regex(TRIM(LOWER(ts)), '\s+')) - 1, 0) AS BIGINT) AS n_bigrams_seg, CAST(CASE WHEN r >= 9223372036854775808::HUGEINT THEN r - 18446744073709551616::HUGEINT ELSE r END AS BIGINT) AS fp_seg FROM (SELECT doc_id, t, ts, list_reduce(list_prepend(0::HUGEINT, list_transform(regexp_split_to_array(trim(ts), '\s+'), tok -> CAST(CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) AS HUGEINT))), (acc, h) -> (acc * 31 + h) % 18446744073709551616::HUGEINT) AS r FROM sgm) ORDER BY doc_id"""
  }

  /** q_text_widthfold replay: identical suffix synthesis (the WfPre /
    * FwDigits / WfMid / WfEnd constants interpolate verbatim — per-doc
    * full-width digits via the same lpad+translate construction), the
    * fold as ONE `translate` over the shared
    * [[graft.operators.TextAnalysis.WidthFoldFrom]] /
    * [[graft.operators.TextAnalysis.WidthFoldToSql]] table (DuckDB's
    * translate is the same per-codepoint map; ToSql escapes the ASCII
    * apostrophe the full-width apostrophe folds to), the shared
    * segmentation pattern on both the raw and folded text, token counts
    * via the standard CASE formula, digit/phone counts via
    * regexp_extract_all (the phone pattern constant is shared with
    * q_pii_scrub), and the md5 fingerprint HUGEINT fold over the
    * folded+segmented stream (q_text_cjk's exact wraparound replay). */
  private lazy val textWidthFoldOracleSql: String = {
    val TA = TextAnalysis
    def ntok(x: String) =
      raw"""CASE WHEN LENGTH(TRIM($x)) = 0 THEN 0 ELSE LEN(string_split_regex(TRIM($x), '\s+')) END"""
    def fpAcc(x: String) =
      raw"""list_reduce(list_prepend(0::HUGEINT, list_transform(regexp_split_to_array(trim($x), '\s+'), tok -> CAST(CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) AS HUGEINT))), (acc, h) -> (acc * 31 + h) % 18446744073709551616::HUGEINT)"""
    def fpCast(r: String, as: String) =
      s"CAST(CASE WHEN $r >= 9223372036854775808::HUGEINT THEN $r - 18446744073709551616::HUGEINT ELSE $r END AS BIGINT) AS $as"
    val composed = TA.composeVoicedKanaSql("tf")
    raw"""WITH m AS (SELECT doc_id, COALESCE(text, '') || '$WfPre' || translate(lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), '0123456789', '$FwDigits') || '$WfMid' || translate(lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), '0123456789', '$FwDigits') || '$WfEnd' AS t FROM documents), f AS (SELECT doc_id, t, translate(t, '${TA.WidthFoldFrom}', '${TA.WidthFoldToSql}') AS tf FROM m), f2 AS (SELECT doc_id, t, tf, $composed AS tn FROM f), sg AS (SELECT doc_id, t, tf, tn, regexp_replace(t, '${TA.SegmentPattern}', '${TA.SegmentReplDuck}', 'g') AS ts, regexp_replace(tf, '${TA.SegmentPattern}', '${TA.SegmentReplDuck}', 'g') AS tfs, regexp_replace(tn, '${TA.SegmentPattern}', '${TA.SegmentReplDuck}', 'g') AS tns FROM f2) SELECT doc_id, CAST(${ntok("ts")} AS BIGINT) AS n_tokens_raw, CAST(${ntok("tfs")} AS BIGINT) AS n_tokens_fold, CAST(len(regexp_extract_all(t, '[0-9]')) AS BIGINT) AS n_digits_raw, CAST(len(regexp_extract_all(tf, '[0-9]')) AS BIGINT) AS n_digits_fold, CAST(len(regexp_extract_all(t, '${TA.PhonePattern}')) AS BIGINT) AS n_phones_raw, CAST(len(regexp_extract_all(tf, '${TA.PhonePattern}')) AS BIGINT) AS n_phones_fold, ${fpCast("r", "fp_fold")}, CAST(LENGTH(tf) - LENGTH(tn) AS BIGINT) AS n_composed, ${fpCast("r2", "fp_nfkc")} FROM (SELECT doc_id, t, tf, tn, ts, tfs, ${fpAcc("tfs")} AS r, ${fpAcc("tns")} AS r2 FROM sg) ORDER BY doc_id"""
  }

  /** q_pii_scrub replay: identical planted-PII synthesis, then the same
    * three patterns in the same order (DuckDB regexp_replace needs the
    * explicit 'g' flag — Spark's is global by default), counts via
    * regexp_extract_all on the text each pattern actually saw. */
  private lazy val piiScrubOracleSql: String = {
    val email = TextAnalysis.EmailPattern
    val ip = TextAnalysis.Ipv4Pattern
    val phone = TextAnalysis.PhonePattern
    val phoneMask = TextAnalysis.PhoneMaskDuck
    s"""WITH p0 AS (SELECT doc_id, text || ' Contact user' || CAST(doc_id AS VARCHAR) || '@example.com or call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7.' AS t FROM documents), s1 AS (SELECT doc_id, CAST(len(regexp_extract_all(t, '$email')) AS BIGINT) AS n_emails, regexp_replace(t, '$email', '|||EMAIL|||', 'g') AS t FROM p0), s2 AS (SELECT doc_id, n_emails, CAST(len(regexp_extract_all(t, '$ip')) AS BIGINT) AS n_ips, regexp_replace(t, '$ip', '|||IP|||', 'g') AS t FROM s1), s3 AS (SELECT doc_id, n_emails, n_ips, CAST(len(regexp_extract_all(t, '$phone')) AS BIGINT) AS n_phones, regexp_replace(t, '$phone', '$phoneMask', 'g') AS t FROM s2) SELECT doc_id, n_emails, n_ips, n_phones, t AS text_clean FROM s3 ORDER BY doc_id"""
  }

  /** q_repetition_rules replay (TextAnalysis.repetitionSignals' exact-op
    * contract): trimmed non-blank lines via list lambdas (occurrence
    * tests are nested list_filters, mirroring the per-row higher-order
    * folds), word n-grams per tagged size with the row_number
    * (c DESC, g ASC) tie order, COALESCE(0) for gramless docs, every
    * ratio one integer-over-integer double division. */
  private lazy val repetitionOracleSql: String = {
    val ns = Seq(2, 3, 4)
    val gramsUnion = ns.map(n =>
      s"SELECT doc_id, $n AS n, UNNEST(list_transform(range(1, LEN(toks) - ${n - 2}), i -> array_to_string(toks[i:i+${n - 1}], ' '))) AS g FROM toks"
    ).mkString(" UNION ALL ")
    val topCases = ns.map(n =>
      s"MAX(CASE WHEN n = $n THEN chars END) AS t$n").mkString(", ")
    val fracCols = ns.map(n =>
      s"CAST(COALESCE(t$n, 0) AS DOUBLE) / tlen AS top${n}_char_frac")
      .mkString(", ")
    val passPred =
      "dup_line_frac <= 0.3 AND dup_line_char_frac <= 0.2 AND " +
        "CAST(COALESCE(t2, 0) AS DOUBLE) / tlen <= 0.2 AND " +
        "CAST(COALESCE(t3, 0) AS DOUBLE) / tlen <= 0.18 AND " +
        "CAST(COALESCE(t4, 0) AS DOUBLE) / tlen <= 0.16"
    raw"""WITH lns AS (SELECT doc_id, list_filter(list_transform(string_split(text, chr(10)), l -> TRIM(l)), l -> LENGTH(l) > 0) AS lines, GREATEST(LENGTH(text), 1) AS tlen FROM documents), lstat AS (SELECT doc_id, tlen, len(lines) AS n_lines, CAST(len(list_filter(lines, l -> len(list_filter(lines, x -> x = l)) > 1)) AS DOUBLE) / GREATEST(len(lines), 1) AS dup_line_frac, CAST(COALESCE(list_sum(list_transform(lines, l -> CASE WHEN len(list_filter(lines, x -> x = l)) > 1 THEN LENGTH(l) ELSE 0 END)), 0) AS DOUBLE) / GREATEST(COALESCE(list_sum(list_transform(lines, l -> LENGTH(l))), 0), 1) AS dup_line_char_frac FROM lns), toks AS (SELECT doc_id, string_split_regex(TRIM(LOWER(text)), '\s+') AS toks FROM documents), grams AS ($gramsUnion), gc AS (SELECT doc_id, n, g, COUNT(*) AS c FROM grams GROUP BY 1, 2, 3), gt AS (SELECT doc_id, n, c * LENGTH(g) AS chars FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, n ORDER BY c DESC, g ASC) AS rn FROM gc) WHERE rn = 1), gp AS (SELECT doc_id, $topCases FROM gt GROUP BY doc_id) SELECT l.doc_id, CAST(n_lines AS BIGINT) AS n_lines, dup_line_frac, dup_line_char_frac, $fracCols, ($passPred) AS repetition_pass FROM lstat l LEFT JOIN gp USING (doc_id) ORDER BY doc_id"""
  }

  /** q_quality_classifier replay: the trained-model-replay technique
    * applied to `QualityClassifier.train` (full-batch GD, rational
    * sigmoid). The whole pipeline is single-rounded IEEE double ops
    * (+, -, *, /, abs — the rational link replaces exp() precisely so no
    * libm transcendental appears), so every intermediate is bit-exact
    * across engines and the final margins hash-match without tolerance.
    * Replay rules (the [[kmeansCtes]] posture):
    *  - features: [[md5EmbedVecCtes]] + the FLOAT[] round-trip
    *    (production vectors are array<float>);
    *  - labels: the shared [[gopherGsigSql]]/[[gopherPassSql]] pair as a
    *    0/1 double;
    *  - sample: ORDER BY doc_id LIMIT maxSample (id-ordered — plain SQL);
    *  - every accumulation (margins' dot, per-component gradient, bias
    *    gradient) is an ascending-index / ascending-id serial fold
    *    (list_inner_product / list_reduce over list(... ORDER BY id));
    *  - update parenthesization mirrors the driver exactly:
    *    `w - (lr * g) / n`.
    * AS MATERIALIZED throughout — the round chain references each
    * predecessor multiple times (see kmeansCtes' exponential-inlining
    * note).
    */
  private def qualityClassifierOracleSql(hashDim: Int, rounds: Int,
      lr: Double, maxSample: Int): String =
    qualityClassifierCtesSql(hashDim, rounds, lr, maxSample) +
      " SELECT doc_id, CAST(y AS BIGINT) AS label, floor(m * 1e6 + 0.5) / 1e6 AS margin_r, m >= 0 AS pred FROM qsc ORDER BY doc_id"

  /** q_classifier_curation replay: the full trained-model chain through
    * `qsc`, the `m >= 0` keep filter, and the q_seq_pack running-sum
    * window over the survivors. */
  private def classifierCurationOracleSql(hashDim: Int, rounds: Int,
      lr: Double, maxSample: Int): String = {
    val ntok = """CASE WHEN LENGTH(TRIM(d.text)) = 0 THEN 0 ELSE LEN(string_split_regex(TRIM(d.text), '\s+')) END"""
    qualityClassifierCtesSql(hashDim, rounds, lr, maxSample) +
      s""", kept AS (SELECT doc_id FROM qsc WHERE m >= 0), tkt AS (SELECT d.doc_id, CAST($ntok AS BIGINT) AS n_tokens FROM documents d JOIN kept USING (doc_id)), packed AS (SELECT doc_id, n_tokens, SUM(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS pre FROM tkt) SELECT doc_id, n_tokens, CAST(pre // 2048 AS BIGINT) AS seq_id, CAST(pre % 2048 AS BIGINT) AS tok_offset FROM packed ORDER BY doc_id"""
  }

  /** The trained-classifier replay chain through `qsc(doc_id, y, m)` —
    * shared by the scoring oracle and the curation-composite oracle. */
  private def qualityClassifierCtesSql(hashDim: Int, rounds: Int,
      lr: Double, maxSample: Int): String = {
    val dim = hashDim + 5 // QualityClassifier.withFeatures: hash block + 5 dense
    val b = new StringBuilder
    b ++= "WITH "
    b ++= md5EmbedVecCtes(hashDim, n = 1)
    b ++= s", $gopherGsigSql, "
    // the 5 dense signals (see QualityClassifier.withFeatures's exact-op
    // contract); d2/d4 recompute d1/d3 — same double ops, same bits
    b ++= raw"""qds AS MATERIALIZED (SELECT doc_id, (CAST(nw0 AS DOUBLE) - 52.5) / 27.5 AS d1, CAST(LENGTH(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) / GREATEST(nw0, 1) - 4.0 AS d3, CAST(stopn AS DOUBLE) / 4.0 - 1.0 AS d5 FROM gsig), """
    b ++= "qfv AS MATERIALIZED (SELECT e.doc_id, CAST(CAST(e.vd AS FLOAT[]) AS DOUBLE[]) || [d.d1, d.d1 * d.d1, d.d3, d.d3 * d.d3, d.d5] AS x FROM ev0 e JOIN qds d USING (doc_id)), "
    b ++= s"qlbl AS MATERIALIZED (SELECT doc_id, CASE WHEN $gopherPassSql THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y FROM gsig), "
    b ++= s"qsamp AS MATERIALIZED (SELECT f.doc_id AS id, f.x, l.y FROM qfv f JOIN qlbl l USING (doc_id) ORDER BY doc_id LIMIT $maxSample), "
    b ++= "qn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM qsamp), "
    b ++= s"qw0 AS MATERIALIZED (SELECT list_transform(range(0, $dim), i -> CAST(0 AS DOUBLE)) AS w, CAST(0 AS DOUBLE) AS b), "
    for (t <- 1 to rounds) {
      b ++= s"qm$t AS MATERIALIZED (SELECT s.id, s.x, s.y, list_inner_product(w.w, s.x) + w.b AS m FROM qsamp s CROSS JOIN qw${t - 1} w), "
      b ++= s"qe$t AS MATERIALIZED (SELECT id, x, (CAST(0.5 AS DOUBLE) + (CAST(0.5 AS DOUBLE) * m) / (CAST(1 AS DOUBLE) + abs(m))) - y AS e FROM qm$t), "
      b ++= s"qg$t AS MATERIALIZED (SELECT i, list_reduce(list_prepend(CAST(0 AS DOUBLE), list(e * xj ORDER BY id)), (a, b) -> a + b) AS g FROM (SELECT id, e, UNNEST(x) AS xj, UNNEST(range(0, $dim)) AS i FROM qe$t) GROUP BY i), "
      b ++= s"qgb$t AS MATERIALIZED (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE), list(e ORDER BY id)), (a, b) -> a + b) AS gb FROM qe$t), "
      b ++= s"qwl$t AS MATERIALIZED (SELECT UNNEST(w) AS wj, UNNEST(range(0, $dim)) AS i FROM qw${t - 1}), "
      b ++= s"qw$t AS MATERIALIZED (SELECT list(wl.wj - (CAST($lr AS DOUBLE) * g.g) / n.n ORDER BY wl.i) AS w, ANY_VALUE(pb.b) - (CAST($lr AS DOUBLE) * ANY_VALUE(gb.gb)) / ANY_VALUE(n.n) AS b FROM qwl$t wl JOIN qg$t g ON g.i = wl.i CROSS JOIN qn n CROSS JOIN qgb$t gb CROSS JOIN (SELECT b FROM qw${t - 1}) pb), "
    }
    b ++= s"qsc AS (SELECT f.doc_id, l.y, list_inner_product(w.w, f.x) + w.b AS m FROM qfv f JOIN qlbl l USING (doc_id) CROSS JOIN qw$rounds w)"
    b.toString
  }

  /** q_text_langid_trained replay — the trained-model-replay technique
    * ([[qualityClassifierCtesSql]]) extended to MULTI-CLASS one-vs-rest:
    * every per-round CTE carries the class index `c` as a column, so
    * the chain stays 6 CTEs per round regardless of K. Bit-exactness
    * rules identical to the binary case (rational sigmoid — no exp();
    * ascending-id/index serial folds via `list(... ORDER BY ...)` +
    * list_reduce; update parenthesization `w - (lr*g)/n` mirrored; AS
    * MATERIALIZED against exponential CTE inlining). Corpus synthesis,
    * char-spread normalization ([[graft.operators.LangIdTrained
    * .charSpread]]: `\s+`→`_` collapse, `_` padding, `(.)`→`\1 `
    * spread) and char-trigram md5 features ([[md5EmbedVecCtes]] n=3
    * over the spread text) all replayed; the argmax tie rule is
    * `ORDER BY m DESC, c ASC` = the engine's first-index when-chain. */
  private def langIdTrainedOracleSql(dim: Int, rounds: Int, lr: Double,
      maxSample: Int): String = {
    import graft.operators.{LangIdTrained => LT}
    val kcls = LT.NumLangs
    val v = LT.VocabSize
    val vocabLit = LT.LangVocab
      .map(_._2.map(w => s"'$w'").mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")
    val namesVals = LT.LangVocab.zipWithIndex
      .map { case ((code, _), i) => s"($i, '$code')" }.mkString(", ")
    val sent = (0 until LT.SentenceWords)
      .map(j => s"vv[lang_k + 1][((doc_id // $kcls + $j) % $v) + 1]")
      .mkString(" || ' ' || ")
    val b = new StringBuilder
    b ++= "WITH "
    b ++= s"lvv AS (SELECT $vocabLit AS vv), "
    b ++= s"lks AS MATERIALIZED (SELECT doc_id, CAST(doc_id % $kcls AS INT) AS lang_k FROM documents), "
    b ++= s"lsent AS MATERIALIZED (SELECT doc_id, lang_k, $sent AS sent FROM lks CROSS JOIN lvv), "
    b ++= raw"""lsrc AS MATERIALIZED (SELECT doc_id, trim(regexp_replace('_' || regexp_replace(lower(trim(sent)), '[${LT.SpreadWs}]+', '_', 'g') || '_', '(.)', '\1 ', 'g')) AS text FROM lsent), """
    b ++= md5EmbedVecCtes(dim, n = 3, src = "lsrc")
    b ++= ", lfv AS MATERIALIZED (SELECT doc_id, CAST(CAST(vd AS FLOAT[]) AS DOUBLE[]) AS x FROM ev0), "
    b ++= s"lsamp AS MATERIALIZED (SELECT f.doc_id AS id, f.x, s.lang_k AS y FROM lfv f JOIN lsent s USING (doc_id) ORDER BY f.doc_id LIMIT $maxSample), "
    b ++= "ln0 AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM lsamp), "
    b ++= s"lw0 AS MATERIALIZED (SELECT CAST(t.c AS INT) AS c, list_transform(range(0, $dim), i -> CAST(0 AS DOUBLE)) AS w, CAST(0 AS DOUBLE) AS b FROM range(0, $kcls) t(c)), "
    for (t <- 1 to rounds) {
      b ++= s"lm$t AS MATERIALIZED (SELECT s.id, s.x, s.y, w.c, list_inner_product(w.w, s.x) + w.b AS m FROM lsamp s CROSS JOIN lw${t - 1} w), "
      b ++= s"le$t AS MATERIALIZED (SELECT id, x, c, (CAST(0.5 AS DOUBLE) + (CAST(0.5 AS DOUBLE) * m) / (CAST(1 AS DOUBLE) + abs(m))) - CASE WHEN y = c THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS e FROM lm$t), "
      b ++= s"lg$t AS MATERIALIZED (SELECT c, i, list_reduce(list_prepend(CAST(0 AS DOUBLE), list(e * xj ORDER BY id)), (a, b) -> a + b) AS g FROM (SELECT id, c, e, UNNEST(x) AS xj, UNNEST(range(0, $dim)) AS i FROM le$t) GROUP BY c, i), "
      b ++= s"lgb$t AS MATERIALIZED (SELECT c, list_reduce(list_prepend(CAST(0 AS DOUBLE), list(e ORDER BY id)), (a, b) -> a + b) AS gb FROM le$t GROUP BY c), "
      b ++= s"lwl$t AS MATERIALIZED (SELECT c, UNNEST(w) AS wj, UNNEST(range(0, $dim)) AS i FROM lw${t - 1}), "
      b ++= s"lw$t AS MATERIALIZED (SELECT wl.c, list(wl.wj - (CAST($lr AS DOUBLE) * g.g) / n.n ORDER BY wl.i) AS w, ANY_VALUE(pb.b) - (CAST($lr AS DOUBLE) * ANY_VALUE(gb.gb)) / ANY_VALUE(n.n) AS b FROM lwl$t wl JOIN lg$t g ON g.c = wl.c AND g.i = wl.i JOIN lgb$t gb ON gb.c = wl.c JOIN (SELECT c, b FROM lw${t - 1}) pb ON pb.c = wl.c CROSS JOIN ln0 n GROUP BY wl.c), "
    }
    b ++= s"lsc AS MATERIALIZED (SELECT f.doc_id, w.c, list_inner_product(w.w, f.x) + w.b AS m FROM lfv f CROSS JOIN lw$rounds w), "
    b ++= "lbest AS MATERIALIZED (SELECT doc_id, c, m FROM (SELECT doc_id, c, m, row_number() OVER (PARTITION BY doc_id ORDER BY m DESC, c ASC) AS rn FROM lsc) WHERE rn = 1), "
    b ++= s"lnames(c, lang) AS (VALUES $namesVals) "
    b ++= "SELECT s.doc_id, tn.lang AS lang_true, pn.lang AS lang_pred, floor(b2.m * 1e6 + 0.5) / 1e6 AS margin_r, (b2.c = s.lang_k) AS correct FROM lsent s JOIN lbest b2 ON b2.doc_id = s.doc_id JOIN lnames tn ON tn.c = s.lang_k JOIN lnames pn ON pn.c = b2.c ORDER BY s.doc_id"
    b.toString
  }

  /** q_sim_pq replay: per-subspace L2 k-means codebooks (kmeansL2 —
    * farthest-point max-min-distance init, Lloyd MEAN updates, no
    * normalization), PqEncode's first-min codeword assignment, the ADC
    * fold in subspace order, the k*rerank candidate window, and the
    * exact-cosine re-rank with the engine's floor-based rounding. Same
    * bit-exactness rules as [[kmeansCtes]] (ascending folds, id-order
    * component sums, AS MATERIALIZED against exponential CTE inlining);
    * L2 distances replay as list_inner_product(diff, diff) — the same
    * ascending (a-b)^2 fold as every driver/kernel loop. Assumes every
    * subspace has >= ksub distinct subvectors (kmeansL2's kEff clamp —
    * holds for any non-degenerate corpus; a regen violating it fails the
    * compare loudly).
    */
  private def pqOracleSql(m: Int, ksub: Int, iters: Int, dim: Int,
      maxSample: Int, topk: Int, rerank: Int): String = {
    val dsub = dim / m
    def d2(a: String, b: String): String = {
      val dd = s"list_transform(list_zip($a, $b), z -> z[1] - z[2])"
      s"list_inner_product($dd, $dd)"
    }
    val b = new StringBuilder
    b ++= "WITH "
    b ++= s"qn AS MATERIALIZED (SELECT list_transform($queryVecSql, x -> x / sqrt(list_inner_product($queryVecSql, $queryVecSql))) AS q), "
    b ++= "ev0 AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings), "
    b ++= "vn AS MATERIALIZED (SELECT vec_id, CASE WHEN list_inner_product(ev, ev) = 0 THEN list_transform(ev, x -> CAST(0 AS DOUBLE)) ELSE list_transform(ev, x -> x / sqrt(list_inner_product(ev, ev))) END AS v FROM ev0), "
    b ++= s"samp AS MATERIALIZED (SELECT vec_id AS id, v FROM vn ORDER BY vec_id LIMIT $maxSample), "
    for (s <- 0 until m) {
      val p = s"p$s"
      val lo = s * dsub + 1; val hi = (s + 1) * dsub
      b ++= s"${p}pts AS MATERIALIZED (SELECT id, v[$lo:$hi] AS v FROM samp), "
      b ++= s"${p}c1 AS MATERIALIZED (SELECT v FROM ${p}pts ORDER BY id LIMIT 1), "
      b ++= s"${p}m1 AS MATERIALIZED (SELECT p.id, p.v, ${d2("p.v", "c.v")} AS ms FROM ${p}pts p CROSS JOIN ${p}c1 c), "
      for (j <- 2 to ksub) {
        b ++= s"${p}c$j AS MATERIALIZED (SELECT v FROM ${p}m${j - 1} ORDER BY ms DESC, id ASC LIMIT 1), "
        if (j < ksub)
          b ++= s"${p}m$j AS MATERIALIZED (SELECT m.id, m.v, LEAST(m.ms, ${d2("m.v", "c.v")}) AS ms FROM ${p}m${j - 1} m CROSS JOIN ${p}c$j c), "
      }
      b ++= (1 to ksub).map(j => s"SELECT ${j - 1} AS c, v FROM ${p}c$j")
        .mkString(s"${p}cb_0 AS MATERIALIZED (", " UNION ALL ", "), ")
      for (t <- 1 to iters) {
        b ++= s"${p}asg$t AS MATERIALIZED (SELECT id, v, c FROM (SELECT p.id, p.v, ct.c, row_number() OVER (PARTITION BY p.id ORDER BY ${d2("p.v", "ct.v")} ASC, ct.c ASC) AS rn FROM ${p}pts p CROSS JOIN ${p}cb_${t - 1} ct) WHERE rn = 1), "
        b ++= s"${p}comp$t AS MATERIALIZED (SELECT c, i, list_reduce(list_prepend(CAST(0 AS DOUBLE), list(x ORDER BY id)), (a, b) -> a + b) AS sm, COUNT(*) AS n FROM (SELECT id, c, UNNEST(v) AS x, UNNEST(range(0, $dsub)) AS i FROM ${p}asg$t) GROUP BY c, i), "
        b ++= s"${p}sum$t AS MATERIALIZED (SELECT c, list(sm / n ORDER BY i) AS s2 FROM ${p}comp$t GROUP BY c), "
        b ++= s"${p}cb_$t AS MATERIALIZED (SELECT p.c, COALESCE(s.s2, p.v) AS v FROM ${p}cb_${t - 1} p LEFT JOIN ${p}sum$t s ON s.c = p.c), "
      }
    }
    b ++= (0 until m).map(s => s"SELECT $s AS s, c, v FROM p${s}cb_$iters")
      .mkString("cb AS MATERIALIZED (", " UNION ALL ", "), ")
    // PqEncode: per (row, subspace) the first-min codeword; carry its
    // vector for the ADC term
    b ++= s"enc AS MATERIALIZED (SELECT vec_id, s, cwv FROM (SELECT n.vec_id, cb.s, cb.v AS cwv, row_number() OVER (PARTITION BY n.vec_id, cb.s ORDER BY ${d2(s"n.v[(cb.s*$dsub+1):((cb.s+1)*$dsub)]", "cb.v")} ASC, cb.c ASC) AS rn FROM vn n CROSS JOIN cb) WHERE rn = 1), "
    b ++= s"adcterm AS MATERIALIZED (SELECT e.vec_id, e.s, ${d2("e.cwv", s"q.q[(e.s*$dsub+1):((e.s+1)*$dsub)]")} AS lv FROM enc e CROSS JOIN qn q), "
    b ++= "adc AS MATERIALIZED (SELECT vec_id, list_reduce(list_prepend(CAST(0 AS DOUBLE), list(lv ORDER BY s)), (a, b) -> a + b) AS adc FROM adcterm GROUP BY vec_id), "
    b ++= s"cand AS MATERIALIZED (SELECT vec_id FROM adc ORDER BY adc ASC, vec_id ASC LIMIT ${topk * rerank}), "
    b ++= "scored AS (SELECT n.vec_id, list_inner_product(n.v, q.q) / (sqrt(list_inner_product(n.v, n.v)) * sqrt(list_inner_product(q.q, q.q))) AS cosine FROM vn n JOIN cand USING (vec_id) CROSS JOIN qn q) "
    b ++= s"SELECT vec_id, floor(cosine * 1e6 + 0.5) / 1e6 AS cosine_r FROM scored WHERE cosine IS NOT NULL AND NOT isnan(cosine) ORDER BY cosine DESC, vec_id ASC LIMIT $topk"
    b.toString
  }

  /** q_embed_pca replay: the trained-model-replay technique applied to
    * [[graft.operators.Pca.train]] — the full power-iteration training
    * (mean, `iters` rounds per component, eigenvalue, deflation) as
    * CTEs, then the corpus projection chain. Bit-exactness rules (the
    * [[qualityClassifierCtesSql]] / [[kmeansCtes]] posture):
    *  - sample: ORDER BY vec_id LIMIT maxSample (the oracle-mode
    *    `sampleOrderCol`); every cross-sample accumulation is an
    *    ascending-id serial fold (`list(... ORDER BY id)` +
    *    2-arg list_reduce with a scalar DOUBLE accumulator — the
    *    proven single-level form);
    *  - every dot is `list_inner_product` == the driver's/kernel's
    *    ascending-index loop;
    *  - normalization replays the division form `x / sqrt(n2)` with
    *    the kmeans zero-norm CASE;
    *  - deflation/centering are exact per-element `-`/`*` mirrors;
    *  - AS MATERIALIZED throughout (each iteration references its
    *    predecessor; un-materialized the chain re-inlines
    *    exponentially).
    */
  private def embedPcaOracleSql(dim: Int, iters: Int,
      maxSample: Int): String = {
    val b = new StringBuilder
    b ++= "WITH "
    b ++= s"psamp AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings ORDER BY vec_id LIMIT $maxSample), "
    b ++= "pn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM psamp), "
    b ++= s"pmc AS MATERIALIZED (SELECT i, list_reduce(list_prepend(CAST(0 AS DOUBLE), list(xj ORDER BY id)), (a, b) -> a + b) / ANY_VALUE(pn.n) AS m FROM (SELECT id, UNNEST(x) AS xj, UNNEST(range(0, $dim)) AS i FROM psamp) q CROSS JOIN pn GROUP BY i), "
    b ++= s"cent0 AS MATERIALIZED (SELECT id, list(xj - m ORDER BY i) AS c FROM (SELECT id, UNNEST(x) AS xj, UNNEST(range(0, $dim)) AS i FROM psamp) q JOIN pmc USING (i) GROUP BY id), "
    for (k <- 1 to 2) {
      b ++= s"pv${k}_0 AS MATERIALIZED (SELECT list_transform(range(0, $dim), i -> CAST(1 AS DOUBLE) / sqrt(CAST($dim AS DOUBLE))) AS v), "
      for (t <- 1 to iters) {
        b ++= s"pp${k}_$t AS MATERIALIZED (SELECT s.id, s.c, list_inner_product(s.c, w.v) AS p FROM cent${k - 1} s CROSS JOIN pv${k}_${t - 1} w), "
        b ++= s"pu${k}_$t AS MATERIALIZED (SELECT i, list_reduce(list_prepend(CAST(0 AS DOUBLE), list(p * cj ORDER BY id)), (a, b) -> a + b) AS u FROM (SELECT id, p, UNNEST(c) AS cj, UNNEST(range(0, $dim)) AS i FROM pp${k}_$t) q GROUP BY i), "
        b ++= s"pul${k}_$t AS MATERIALIZED (SELECT list(u ORDER BY i) AS u FROM pu${k}_$t), "
        b ++= s"pv${k}_$t AS MATERIALIZED (SELECT CASE WHEN list_inner_product(u, u) = 0 THEN u ELSE list_transform(u, x -> x / sqrt(list_inner_product(u, u))) END AS v FROM pul${k}_$t), "
      }
      b ++= s"pf$k AS MATERIALIZED (SELECT s.id, s.c, list_inner_product(s.c, w.v) AS p FROM cent${k - 1} s CROSS JOIN pv${k}_$iters w), "
      b ++= s"pe$k AS MATERIALIZED (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE), list(p * p ORDER BY id)), (a, b) -> a + b) / ANY_VALUE(pn.n) AS ev FROM pf$k CROSS JOIN pn), "
      if (k < 2)
        b ++= s"cent$k AS MATERIALIZED (SELECT id, list(cj - p * vj ORDER BY i) AS c FROM (SELECT id, p, UNNEST(c) AS cj, UNNEST(range(0, $dim)) AS i FROM pf$k) q JOIN (SELECT UNNEST(v) AS vj, UNNEST(range(0, $dim)) AS i FROM pv${k}_$iters) w USING (i) GROUP BY id), "
    }
    b ++= s"ccorp AS MATERIALIZED (SELECT vec_id, list(ej - m ORDER BY i) AS c FROM (SELECT vec_id, UNNEST(CAST(embedding AS DOUBLE[])) AS ej, UNNEST(range(0, $dim)) AS i FROM embeddings) q JOIN pmc USING (i) GROUP BY vec_id), "
    // LEFT JOIN from the base table: a NULL-embedding row UNNESTs to
    // zero rows and falls out of ccorp, but the engine emits it with
    // NULL scores (null-intolerant dot) — the join keeps the
    // cardinalities identical (NULL c -> NULL inner products)
    b ++= s"pscored AS (SELECT b.vec_id, list_inner_product(e.c, v1.v) AS p1, list_inner_product(e.c, v2.v) AS p2 FROM embeddings b LEFT JOIN ccorp e USING (vec_id) CROSS JOIN pv1_$iters v1 CROSS JOIN pv2_$iters v2) "
    b ++= "SELECT vec_id, floor(p1 * 1e6 + 0.5) / 1e6 AS pc1_r, floor(p2 * 1e6 + 0.5) / 1e6 AS pc2_r, floor((CASE WHEN e1.ev = 0 THEN CAST(0 AS DOUBLE) ELSE p1 / sqrt(e1.ev) END) * 1e6 + 0.5) / 1e6 AS white1_r, floor((CASE WHEN e2.ev = 0 THEN CAST(0 AS DOUBLE) ELSE p2 / sqrt(e2.ev) END) * 1e6 + 0.5) / 1e6 AS white2_r, floor(e1.ev * 1e6 + 0.5) / 1e6 AS eig1_r, floor(e2.ev * 1e6 + 0.5) / 1e6 AS eig2_r FROM pscored CROSS JOIN pe1 e1 CROSS JOIN pe2 e2 ORDER BY vec_id"
    b.toString
  }

  /** q_sim_ivf replay: probe the `nprobe` cells nearest the fixed query
    * (driver cosSim order, ties to the FIRST cid — stable sortBy), exact
    * cosine top-k within probed cells only.
    */
  private def simIvfOracleSql(k: Int, nprobe: Int, topk: Int): String =
    s"""WITH ${kmeansCtes(k)}, probe AS (SELECT c FROM (SELECT c, list_inner_product(v, $queryVecSql) / (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product($queryVecSql, $queryVecSql))) AS sim FROM cents) ORDER BY sim DESC, c ASC LIMIT $nprobe) SELECT vec_id, floor(cosine * 1e6 + 0.5) / 1e6 AS cosine_r FROM (SELECT l.vec_id, list_inner_product(l.ev, $queryVecSql) / (sqrt(list_inner_product(l.ev, l.ev)) * sqrt(list_inner_product($queryVecSql, $queryVecSql))) AS cosine FROM cell l JOIN probe p ON l.cell = p.c) WHERE cosine IS NOT NULL AND NOT isnan(cosine) ORDER BY cosine DESC, vec_id ASC LIMIT $topk"""

  /** q_knn_ivf replay: per-query probes (reverse(array_sort) semantics —
    * ties to the LAST cid), then the q_knn_join ranking contract (score
    * DESC, ties to lowest id, NULL/NaN skipped) within probed cells.
    */
  private def knnIvfOracleSql(k: Int, nprobe: Int, topk: Int): String =
    s"""WITH ${kmeansCtes(k)}, q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 20), qprobe AS (SELECT qid, qv, c AS cell FROM (SELECT q.qid, q.qv, ct.c, row_number() OVER (PARTITION BY q.qid ORDER BY list_inner_product(q.qv, ct.v) / (sqrt(list_inner_product(q.qv, q.qv)) * sqrt(list_inner_product(ct.v, ct.v))) DESC, ct.c DESC) AS rn FROM q CROSS JOIN cents ct) WHERE rn <= $nprobe), sc AS (SELECT p.qid, l.vec_id AS cid2, list_inner_product(l.ev, p.qv) / (sqrt(list_inner_product(l.ev, l.ev)) * sqrt(list_inner_product(p.qv, p.qv))) AS sim FROM cell l JOIN qprobe p ON l.cell = p.cell), ranked AS (SELECT qid, cid2, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid2 ASC) AS rnk FROM sc WHERE sim IS NOT NULL AND NOT isnan(sim)) SELECT qid AS vec_id, rnk AS rank, cid2 AS neighbor_id, floor(sim * 1e6 + 0.5) / 1e6 AS score_r FROM ranked WHERE rnk <= $topk ORDER BY vec_id, rank"""

  /** q_semdedup replay: within-cell exact-cosine pairs (over-cap cells
    * degrade to min-id star pairs, as in the engine), drop every id with
    * an above-threshold smaller-id neighbor, count survivors.
    */
  private def semdedupOracleSql(k: Int, threshold: Double,
      maxCell: Int = 4096): String =
    s"""WITH ${kmeansCtes(k)}, cst AS MATERIALIZED (SELECT vec_id, ev, cell, COUNT(*) OVER (PARTITION BY cell) AS n, MIN(vec_id) OVER (PARTITION BY cell) AS minid FROM cell), pr AS (SELECT a.vec_id AS ia, b.vec_id AS ib, list_inner_product(a.ev, b.ev) / (sqrt(list_inner_product(a.ev, a.ev)) * sqrt(list_inner_product(b.ev, b.ev))) AS cosine FROM cst a JOIN cst b ON a.cell = b.cell AND a.vec_id < b.vec_id WHERE a.n <= $maxCell UNION ALL SELECT s.minid, s.vec_id, list_inner_product(mv.ev, s.ev) / (sqrt(list_inner_product(mv.ev, mv.ev)) * sqrt(list_inner_product(s.ev, s.ev))) FROM cst s JOIN cell mv ON mv.vec_id = s.minid WHERE s.n > $maxCell AND s.vec_id <> s.minid), dr AS (SELECT DISTINCT ib FROM pr WHERE cosine >= CAST($threshold AS DOUBLE)) SELECT (SELECT COUNT(*) FROM embeddings) AS n_total, (SELECT COUNT(*) FROM embeddings) - (SELECT COUNT(*) FROM dr) AS n_kept"""

  // DuckDB replay of the md5-mode SimHash pipeline
  // (Dedup.simhashCandidatesMd5), step for step: whitespace tokens of
  // trim(lower(text)), one md5 per token split into two 32-bit halves
  // (bit i of the 64-bit token hash = bit (i mod 32) of the low/high half
  // for i </>= 32), 64 per-bit +1/-1 majority votes, the votes>0 bit
  // rule packed into four 16-bit chunks, chunk-equality banding through
  // the shared bounded-pairs SQL, and hamming as the sum of per-chunk
  // XOR popcounts.
  /** The md5 SimHash replay through `verified(id_a, id_b, hamming)` —
    * shared by the pair-output oracle and the banding-completeness
    * certificate replay. */
  private def simhashMd5CtesSql(maxBucket: Int = 64): String = {
    val votes = (0 until 64).map { i =>
      val h = if (i < 32) "lo" else "hi"
      s"SUM(CASE WHEN ($h >> ${i % 32}) & 1 = 1 THEN 1 ELSE -1 END) AS v$i"
    }.mkString(", ")
    def chunk(b: Int): String = (0 until 16).map { j =>
      s"(CASE WHEN v${b * 16 + j} > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    raw"""WITH toks AS (SELECT doc_id, UNNEST(regexp_split_to_array(trim(lower(COALESCE(text,''))), '\s+')) AS t FROM documents), th AS (SELECT doc_id, CAST(('0x' || substring(md5(t),1,8)) AS BIGINT) AS hi, CAST(('0x' || substring(md5(t),9,8)) AS BIGINT) AS lo FROM toks), votes AS (SELECT doc_id, $votes FROM th GROUP BY doc_id), sig AS (SELECT doc_id, ${chunk(0)} AS c0, ${chunk(1)} AS c1, ${chunk(2)} AS c2, ${chunk(3)} AS c3 FROM votes), banded AS (SELECT doc_id AS id, b, CASE b WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2 ELSE c3 END AS bucket FROM sig CROSS JOIN range(0, 4) t(b))""" +
      minhashMd5CandsSql(maxBucket) +
      s""", verified AS (SELECT id_a, id_b, bit_count(xor(sa.c0, sb.c0)) + bit_count(xor(sa.c1, sb.c1)) + bit_count(xor(sa.c2, sb.c2)) + bit_count(xor(sa.c3, sb.c3)) AS hamming FROM cands JOIN sig sa ON sa.doc_id = cands.id_a JOIN sig sb ON sb.doc_id = cands.id_b)"""
  }

  private def simhashMd5OracleSql(maxBucket: Int = 64): String =
    simhashMd5CtesSql(maxBucket) +
      " SELECT id_a, id_b, hamming FROM verified WHERE hamming <= 3 ORDER BY id_a, id_b"

  /** q_simhash_complete replay: DuckDB recomputes BOTH sides itself —
    * the all-pairs `hamming <= 3` ground truth over its own signature
    * CTE (the hard data value pinning `n_close_pairs`) — and asserts the
    * completeness boolean TRUE, so an engine-side cap-dropped or
    * band-lost pair (engine emits false) goes red against the literal. */
  private def simhashCompleteOracleSql(maxBucket: Int = 64): String =
    simhashMd5CtesSql(maxBucket) +
      ", allp AS (SELECT a.doc_id AS ia, b.doc_id AS ib FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1)) + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) <= 3) " +
      "SELECT (SELECT COUNT(*) FROM allp) AS n_close_pairs, TRUE AS banding_complete_ok"

  // DuckDB replay of the hyperplane-LSH pipelines. The plane matrix is a
  // seeded LITERAL (LshExpressions.planeMatrix) and dot products fold
  // ascending in doubles in both engines (the q_sim_topk bit-exactness
  // contract), so sign bits — hence bucket codes, candidates, and the
  // exact-cosine verify — replay bit-for-bit. Each VALUES row carries
  // (table index, bit weight, plane vector): code = SUM of weights whose
  // plane-dot is strictly positive, matching bucketCodesOf's acc*2+bit
  // packing.
  private def planesValuesSql(dim: Int, planesPerTable: Int, tables: Int,
      seed: Long): String =
    graft.functions.LshExpressions.planeMatrix(dim, planesPerTable * tables, seed)
      .zipWithIndex.map { case (p, i) =>
        val t = i / planesPerTable
        val w = 1L << (planesPerTable - 1 - (i % planesPerTable))
        s"($t, $w, ${p.map(_.toString).mkString("[", ",", "]")}::DOUBLE[])"
      }.mkString("(VALUES ", ", ", ")")

  private def hyperplaneBitsSql(dim: Int, planesPerTable: Int, tables: Int,
      seed: Long,
      eSrc: String = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings"
  ): String =
    s"""planes(t, w, v) AS ${planesValuesSql(dim, planesPerTable, tables, seed)}, e AS ($eSrc), bits AS (SELECT vec_id, t, SUM(CASE WHEN list_inner_product(p.v, e.ev) > 0 THEN p.w ELSE 0 END) AS code FROM e CROSS JOIN planes p GROUP BY vec_id, t)"""

  /** DuckDB replay of the md5-mode feature-hashing embedding
    * (TextAnalysis.hashEmbedMd5) feeding the hyperplane-LSH near-dup
    * pipeline (q_text_embed_neardup): word n-grams, md5 slot/sign, per-
    * slot sums, L2 normalize, the float round-trip Spark's
    * `array<float>` vec column implies, then the standard seeded-literal
    * plane banding + bounded pairs + exact-cosine verify. Vector sums are
    * ±1 integers (exact in doubles, order-free); the norm/cosine folds are
    * ascending in both engines (the q_sim_topk contract).
    */
  /** md5-mode hash-embedding replay over `documents` (the SQL twin of
    * `TextAnalysis.hashEmbedMd5`): word n-grams of trim(lower(text)),
    * md5 slot/sign, slot sums, L2 normalize — defines
    * `ev0(doc_id, vd DOUBLE[])`, the pre-float-round-trip vectors.
    * Shared by the embedding near-dup oracle and the quality-classifier
    * feature replay.
    */
  private def md5EmbedVecCtes(dim: Int, n: Int,
      src: String = "documents"): String =
    raw"""tk AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM $src), grams AS (SELECT doc_id, UNNEST(CASE WHEN len(tk) < $n THEN CAST([] AS VARCHAR[]) ELSE list_transform(range(1, len(tk) - ${n - 2}), i -> array_to_string(tk[i:i+${n - 1}], ' ')) END) AS g FROM tk), hx AS (SELECT doc_id, md5(g) AS x FROM grams WHERE g <> ''), contrib AS (SELECT doc_id, CAST(('0x' || substring(x,1,8)) AS BIGINT) % $dim AS idx, CASE WHEN CAST(('0x' || substring(x,9,8)) AS BIGINT) % 2 = 0 THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS sgn FROM hx), slot AS (SELECT doc_id, idx, SUM(sgn) AS v FROM contrib GROUP BY doc_id, idx), rawv AS (SELECT d.doc_id, list(COALESCE(s.v, CAST(0 AS DOUBLE)) ORDER BY i.i) AS raw FROM (SELECT doc_id FROM $src) d CROSS JOIN range(0, $dim) i(i) LEFT JOIN slot s ON s.doc_id = d.doc_id AND s.idx = i.i GROUP BY d.doc_id), normv AS (SELECT doc_id, raw, sqrt(list_inner_product(raw, raw)) AS nrm FROM rawv), ev0 AS (SELECT doc_id, list_transform(raw, x -> CASE WHEN nrm = 0 THEN CAST(0 AS DOUBLE) ELSE x / nrm END) AS vd FROM normv)"""

  /** DuckDB replay of [[graft.operators.Dsir.select]]: same tokenization
    * as [[md5EmbedVecCtes]] (trim/lower/\s+ split, blank-safe), same md5
    * first-half bucket hash, smoothing/rounding formulas emitted from the
    * SAME Scala doubles the operator uses so the literals cannot drift.
    */
  private def dsirOracleSql(target: String, k: Int, buckets: Int,
      alpha: Double): String = {
    val aB = alpha * buckets
    raw"""WITH tk AS (SELECT doc_id, COALESCE(source = '$target', FALSE) AS tgt, regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM documents), g1 AS (SELECT doc_id, tgt, UNNEST(tk) AS f FROM tk), g2 AS (SELECT doc_id, tgt, UNNEST(CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[]) ELSE list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' ')) END) AS f FROM tk), fe AS (SELECT doc_id, tgt, f FROM g1 WHERE f <> '' UNION ALL SELECT doc_id, tgt, f FROM g2), fc AS (SELECT doc_id, tgt, CAST(('0x' || substring(md5(f), 1, 8)) AS BIGINT) % $buckets AS b, COUNT(*) AS c FROM fe GROUP BY 1, 2, 3), bt AS (SELECT b, SUM(CASE WHEN tgt THEN c ELSE 0 END) AS ct, SUM(CASE WHEN NOT tgt THEN c ELSE 0 END) AS cr FROM fc GROUP BY 1), tot AS (SELECT CAST(SUM(ct) AS DOUBLE) AS tt, CAST(SUM(cr) AS DOUBLE) AS tr FROM bt), lam AS (SELECT b, FLOOR(LN(((CAST(ct AS DOUBLE) + $alpha) / (tt + $aB)) / ((CAST(cr AS DOUBLE) + $alpha) / (tr + $aB))) * 1e6 + 0.5) / 1e6 AS lam FROM bt CROSS JOIN tot) SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_feats, ${dsumSql("FLOOR(CAST(c AS DOUBLE) * lam * 1e6 + 0.5) / 1e6")} AS dsir_weight FROM fc JOIN lam USING (b) WHERE NOT tgt GROUP BY doc_id ORDER BY dsir_weight DESC, doc_id LIMIT $k"""
  }

  private def embedNearDupOracleSql(dim: Int, n: Int, threshold: Double,
      planesPerTable: Int = 4, tables: Int = 8, maxBucket: Int = 256,
      seed: Long = 42L): String = {
    val vecCtes = md5EmbedVecCtes(dim, n)
    val eSrc = "SELECT doc_id AS vec_id, CAST(CAST(vd AS FLOAT[]) AS DOUBLE[]) AS ev FROM ev0"
    s"""WITH $vecCtes, ${hyperplaneBitsSql(dim, planesPerTable, tables, seed, eSrc)}${boundedPairsSql("bits", "vec_id", "t", "code", maxBucket)}, verified AS (SELECT id_a, id_b, list_inner_product(ea.ev, eb.ev) / (sqrt(list_inner_product(ea.ev, ea.ev)) * sqrt(list_inner_product(eb.ev, eb.ev))) AS cosine FROM cands JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b) SELECT id_a, id_b, floor(cosine * 1e6 + 0.5) / 1e6 AS cosine_r FROM verified WHERE cosine >= CAST($threshold AS DOUBLE) ORDER BY id_a, id_b"""
  }

  private def cosineNearDupsOracleSql(dim: Int, threshold: Double,
      planesPerTable: Int = 4, tables: Int = 8, maxBucket: Int = 256,
      seed: Long = 42L): String =
    s"""WITH ${hyperplaneBitsSql(dim, planesPerTable, tables, seed)}${boundedPairsSql("bits", "vec_id", "t", "code", maxBucket)} SELECT id_a, id_b FROM cands JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b WHERE list_inner_product(ea.ev, eb.ev) / (sqrt(list_inner_product(ea.ev, ea.ev)) * sqrt(list_inner_product(eb.ev, eb.ev))) >= CAST($threshold AS DOUBLE) ORDER BY id_a, id_b"""

  private def simLshOracleSql(dim: Int, k: Int, planesPerTable: Int = 6,
      tables: Int = 32, seed: Long = 42L): String = {
    val lsh = graft.functions.LshExpressions
    val planes = lsh.planeMatrix(dim, planesPerTable * tables, seed)
    val qCodes = lsh.bucketCodesOf(fixedQueryVector, planes, planesPerTable)
    val qcSql = qCodes.zipWithIndex.map { case (c, t) => s"($t, $c)" }
      .mkString("(VALUES ", ", ", ")")
    s"""WITH ${hyperplaneBitsSql(dim, planesPerTable, tables, seed)}, qc(t, qcode) AS $qcSql, hits AS (SELECT DISTINCT bits.vec_id FROM bits JOIN qc ON bits.t = qc.t AND bits.code = qc.qcode), scored AS (SELECT e.vec_id, list_inner_product(e.ev, $queryVecSql) / (sqrt(list_inner_product(e.ev, e.ev)) * sqrt(list_inner_product($queryVecSql, $queryVecSql))) AS cosine FROM e JOIN hits ON hits.vec_id = e.vec_id) SELECT vec_id, round(cosine, 6) AS cosine_r FROM scored WHERE cosine IS NOT NULL AND NOT isnan(cosine) ORDER BY cosine DESC, vec_id ASC LIMIT $k"""
  }

  /** Full five-stage curation-composite replay: Gopher quality rules ->
    * language keep -> exact survivor dedup -> md5-minhash near-dup drop
    * -> sequence packing, each stage the SAME SQL its standalone oracle
    * uses (q_quality_rules, q_text_langid, q_dedup_survivor,
    * q_dedup_minhash, q_seq_pack), composed over CTEs — so the flagship
    * composite is hash-checked end to end, not just per stage.
    */
  /** Gopher rule-signal CTE `gsig` (per-doc rule ratios/counts) and the
    * pass predicate over it — the SQL twin of `TextAnalysis.gopherRules`
    * with the curation cfg (minWords=25, maxWords=80, mean word length
    * in [3,5], minStopwordHits=1). Shared by [[curationOracle]] (filter
    * form) and the quality-classifier label replay (0/1 label form) so
    * the two oracles can never drift apart.
    */
  private lazy val gopherGsigSql: String = {
    val ntok = """CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0 ELSE LEN(string_split_regex(TRIM(text), '\s+')) END"""
    raw"""gsig AS (SELECT doc_id, text, CAST($ntok AS BIGINT) AS nw0, GREATEST(CAST($ntok AS BIGINT), 1) AS nw, LENGTH(regexp_replace(text, '\s+', '', 'g')) * 1.0 / GREATEST(CAST($ntok AS BIGINT), 1) AS mwl, ((LENGTH(text) - LENGTH(REPLACE(text, '#', ''))) + (LENGTH(text) - LENGTH(REPLACE(text, '...', ''))) / 3) * 1.0 / GREATEST(CAST($ntok AS BIGINT), 1) AS symr, LEN(list_filter(string_split(text, chr(10)), x -> regexp_matches(TRIM(x), '^[-*•]'))) * 1.0 / GREATEST(LEN(string_split(text, chr(10))), 1) AS bulr, LEN(list_filter(string_split(text, chr(10)), x -> ends_with(TRIM(x), '...'))) * 1.0 / GREATEST(LEN(string_split(text, chr(10))), 1) AS ellr, LEN(list_filter(string_split_regex(TRIM(text), '\s+'), x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / GREATEST(CAST($ntok AS BIGINT), 1) AS alphar, (${TextAnalysis.gopherStopwords.map(sw => s"CASE WHEN ' ' || LOWER(text) || ' ' LIKE '% $sw %' THEN 1 ELSE 0 END").mkString(" + ")}) AS stopn FROM documents)"""
  }

  // lazy: referenced from `val all`'s initializer above, which runs
  // before later plain vals in the object body (a plain val here reads
  // as null at that point)
  private lazy val gopherPassSql: String =
    "nw0 >= 25 AND nw0 <= 80 AND mwl >= 3.0 AND mwl <= 5.0 AND symr <= 0.1 AND bulr <= 0.1 AND ellr <= 0.3 AND alphar >= 0.8 AND stopn >= 1"

  private lazy val curationOracle: String = {
    val ntok = """CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0 ELSE LEN(string_split_regex(TRIM(text), '\s+')) END"""
    val gopher = s"""$gopherGsigSql, qual AS MATERIALIZED (SELECT doc_id, text FROM gsig WHERE $gopherPassSql)"""
    // r19: the trained-gate replay — pinned-weights scoring pass only
    // (see pinnedLangCtes), where the marker form replayed 21 scans
    val lang = pinnedLangCtes("qual") +
      s""", eng AS (SELECT q.doc_id, q.text FROM qual q JOIN plpred p USING (doc_id) WHERE p.lang = 'en')"""
    val survivor = """keepers AS (SELECT MIN(doc_id) AS doc_id FROM eng GROUP BY text), exact0 AS (SELECT eng.doc_id, eng.text FROM eng JOIN keepers USING (doc_id))"""
    val minhash = minhashMd5BandedSql(bands = 8, rows = 4, src = "exact0") +
      minhashMd5CandsSql(maxBucket = 64) +
      s""", verified AS (SELECT id_a, id_b, CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard FROM cands JOIN shs sa ON sa.doc_id = cands.id_a JOIN shs sb ON sb.doc_id = cands.id_b), drops AS (SELECT DISTINCT id_b AS doc_id FROM verified WHERE jaccard >= CAST(0.5 AS DOUBLE)), kept AS (SELECT exact0.doc_id, exact0.text FROM exact0 LEFT JOIN drops USING (doc_id) WHERE drops.doc_id IS NULL)"""
    val pack = s"""tkt AS (SELECT doc_id, CAST($ntok AS BIGINT) AS n_tokens FROM kept), packed AS (SELECT doc_id, n_tokens, SUM(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS pre FROM tkt) SELECT doc_id, n_tokens, CAST(pre // 2048 AS BIGINT) AS seq_id, CAST(pre % 2048 AS BIGINT) AS tok_offset FROM packed ORDER BY doc_id"""
    s"WITH $gopher, $lang, $survivor, $minhash, $pack"
  }

  private lazy val qualityOracle: String = {
    val ntok = """CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0 ELSE LEN(string_split_regex(TRIM(text), '\s+')) END"""
    raw"""SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars_m, CAST($ntok AS BIGINT) AS n_tokens, CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) / GREATEST(LENGTH(text), 1) AS DOUBLE) AS alpha_ratio, CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) / GREATEST(LENGTH(text), 1) AS DOUBLE) AS digit_ratio, CAST(LENGTH(regexp_replace(text, '[^ ]', '', 'g')) / GREATEST(LENGTH(text), 1) AS DOUBLE) AS space_ratio, CAST(CAST(LENGTH(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) / GREATEST($ntok, 1) AS DOUBLE) AS mean_token_len, CAST(CAST(${scoreSql("en")} AS DOUBLE) / GREATEST($ntok, 1) AS DOUBLE) AS stopword_ratio FROM documents ORDER BY doc_id"""
  }
}

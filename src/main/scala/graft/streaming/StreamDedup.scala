package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming near-duplicate detection: the streaming mirror of the batch
  * MinHash+LSH pipeline (`graft.operators.Dedup`), for at-ingest dedup of
  * a document stream against the recent horizon.
  *
  * Shape: each document's MinHash signature is computed ONCE in a narrow
  * map (same native kernels as batch — signatures are bit-identical), the
  * signature is banded into (band, bucket) keys exactly like the batch
  * banding, and per-bucket keyed state holds the (id, signature) pairs
  * seen inside the watermark horizon. An arriving document whose
  * signature agrees with a stored one on >= `threshold` of its positions
  * (the unbiased MinHash estimate of Jaccard) is emitted as a duplicate
  * hit against the EARLIEST such document. State per bucket is bounded by
  * `maxBucket` (hot boilerplate buckets stop absorbing new reference
  * signatures but keep matching against the stored ones — same
  * linear-not-quadratic posture as the batch `boundedPairs`), and the
  * whole bucket's state is dropped once the event-time watermark passes
  * its last activity plus the horizon.
  *
  * A duplicate of documents in SEVERAL buckets emits one hit per
  * detecting bucket; consumers wanting one row per document de-duplicate
  * on `doc_id` downstream (kept out of this operator: chaining a second
  * stateful operator is a planner restriction best left to the caller's
  * output stage).
  *
  * Batch execution (state starts empty, one invocation per key) performs
  * the same per-bucket sequential scan in (ts, id) order — the spec
  * checks it against an independent driver-side reference and against the
  * streaming run.
  *
  * Rows whose id casts to NULL or whose ts is NULL are DROPPED before
  * banding (one bad row must not kill the whole at-ingest stream);
  * NULL text hashes as '' like the batch family.
  */
object StreamDedup {

  // bucket is a LONG on purpose (r12 briefly made it String for the md5
  // twin and paid a per-row allocation + bigger state key on the hot
  // streaming path): xx mode keys on xxhash64(band slice) as before, and
  // md5 batch mode folds its comma-joined decimal bucket string through
  // the md5 hash64 kernel — bucket EQUALITY is all banding needs, and
  // md5-collision differences are the md5 twins' accepted philosophy.
  // NOTE any bucket-key type change is a flatMapGroupsWithState
  // state-schema break: streams must restart from fresh checkpoints
  // (MIGRATION.md).
  final case class BandRow(doc_id: Long, ts: java.sql.Timestamp,
      band: Int, bucket: Long, sig: Seq[Long])
  final case class BucketState(ids: Seq[Long], sigs: Seq[Seq[Long]],
      lastMs: Long)
  final case class DupHit(doc_id: Long, ts: java.sql.Timestamp,
      dup_of: Long, band: Int, est: Double)

  /** `md5Mode` swaps the xxhash64 signature/banding kernels for the
    * md5-replayable twins ([[graft.operators.Dedup.minhashSigMd5Frame]]
    * signatures; bucket key = md5-hash64 of the comma-joined decimal band
    * slice — banding only needs bucket EQUALITY, which the fold preserves
    * modulo md5 collisions, the twins' accepted philosophy; the oracle
    * replays banding by grouping on the slice values themselves):
    * identical pipeline and state shape, every hash step replayable in
    * DuckDB SQL, so the BATCH execution (one invocation per key from
    * empty state, a pure function of per-bucket `(ts, id)` arrival order)
    * can be oracle-checked end to end. The xxhash64 default stays the
    * production/streaming path.
    */
  def nearDupHits(docs: DataFrame, idCol: String, tsCol: String,
      textCol: String, bands: Int = 8, rowsPerBand: Int = 4, k: Int = 3,
      threshold: Double = 0.7, horizonMs: Long = 2L * 3600 * 1000,
      maxBucket: Int = 64, md5Mode: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val h = bands * rowsPerBand
    val streaming = docs.isStreaming
    // one signature pass per doc, then the band explode (same staging rule
    // as batch: never compute the signature once per band)
    require(!(md5Mode && streaming),
      "md5Mode is the BATCH oracle twin (it stages the signature frame " +
        "through an eager checkpoint); live streams use the xxhash64 kernels")
    val sigd =
      if (md5Mode)
        // the Staging.snapshot barrier materializes (doc_id, ts, sh, sig) ONCE:
        // below it, `sh` keeps the md5-half arrays multi-referenced so
        // the conversions aren't inlined per position; above it, dropping
        // sh and fanning out per band can't re-trigger any recompute
        graft.operators.Staging.snapshot(
          graft.operators.Dedup.minhashSigMd5Frame(
            docs.select(col(idCol).cast("long").as("doc_id"),
              col(tsCol).as("ts"), col(textCol)),
            textCol, Seq("doc_id", "ts"), h, k))
          .select("doc_id", "ts", "sig")
      else docs.select(
        col(idCol).cast("long").as("doc_id"),
        col(tsCol).as("ts"),
        graft.operators.Dedup.minhashSignature(col(textCol), h, k).as("sig"))
    val bucketOf: Column => Column =
      if (md5Mode) b => graft.functions.Md5Hashes.md5Hash64(concat_ws(",",
        transform(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
          x => x.cast("string"))))
      else b => xxhash64(slice(col("sig"), b * rowsPerBand + 1,
        lit(rowsPerBand)))
    val banded = sigd
      // a NULL id (non-numeric cast) or NULL ts would kill the whole
      // streaming query in the non-nullable encoder / the sort closure —
      // such rows are DROPPED (defined skip, the quarantine posture),
      // mirroring the batch family's now-explicit NULL rules
      .filter(col("doc_id").isNotNull && col("ts").isNotNull)
      .select(col("doc_id"), col("ts"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)), bucketOf)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      // milliseconds, not seconds: integer division would silently
      // truncate a sub-second horizon below the advertised dedup window
      .withWatermark("ts", s"$horizonMs milliseconds")
      .as[BandRow]

    banded
      .groupByKey(r => (r.band, r.bucket))
      .flatMapGroupsWithState[BucketState, DupHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (key, rows, state) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val st = if (state.exists) state.get
              else BucketState(Vector.empty, Vector.empty, 0L)
            var ids = st.ids
            var sigs = st.sigs
            var lastMs = st.lastMs
            val hits = Vector.newBuilder[DupHit]
            // deterministic arrival order inside the group invocation
            for (r <- rows.toSeq.sortBy(x => (x.ts.getTime, x.doc_id))) {
              lastMs = math.max(lastMs, r.ts.getTime)
              // earliest stored signature agreeing on >= threshold of
              // positions (ids are appended in arrival order)
              var found = -1
              var foundEst = 0.0
              var i = 0
              while (i < sigs.length && found < 0) {
                var eq = 0
                var j = 0
                val s = sigs(i)
                while (j < h) { if (s(j) == r.sig(j)) eq += 1; j += 1 }
                val est = eq.toDouble / h
                if (est >= threshold) { found = i; foundEst = est }
                i += 1
              }
              if (found >= 0)
                hits += DupHit(r.doc_id, r.ts, ids(found), key._1, foundEst)
              if (ids.length < maxBucket) {
                ids = ids :+ r.doc_id
                sigs = sigs :+ r.sig
              }
            }
            state.update(BucketState(ids, sigs, lastMs))
            if (streaming)
              // Spark clears the timeout on every invocation — re-arm from
              // the stored activity time, strictly above the watermark
              state.setTimeoutTimestamp(math.max(lastMs + horizonMs,
                state.getCurrentWatermarkMs() + 1))
            hits.result().iterator
          }
        })
      .toDF()
  }
}

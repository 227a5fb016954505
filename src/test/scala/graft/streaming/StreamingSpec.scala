package graft.streaming

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.SparkTestSession
import graft.queries.Tables

/** Batch/stream equivalence for the Structured-Streaming surface
  * (SURVEY §5.3: streaming verified against the batch query over the same
  * events data).
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  val dir = "/root/testdata/sf0.001"

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("streaming hourly agg == batch hourly agg") {
    val stream = EventStreams.readStream(spark, dir)
    val got = EventStreams.runToBatch(EventStreams.hourlyAgg(stream), "hourly_out")
    val want = EventStreams.hourlyAgg(Tables.events(spark, dir))
    assert(sortedRows(got) == sortedRows(want))
    assert(got.count() > 0)
  }

  test("streaming sliding agg == batch sliding agg") {
    val stream = EventStreams.readStream(spark, dir)
    val got = EventStreams.runToBatch(EventStreams.slidingAgg(stream), "sliding_out")
    val want = EventStreams.slidingAgg(Tables.events(spark, dir))
    assert(sortedRows(got) == sortedRows(want))
  }

  test("streaming session windows == batch session windows") {
    val stream = EventStreams.readStream(spark, dir)
    val got = EventStreams.runToBatch(EventStreams.sessionAgg(stream), "session_out")
    val want = EventStreams.sessionAgg(Tables.events(spark, dir))
    assert(sortedRows(got) == sortedRows(want))
  }

  test("stream-static enrichment join == batch broadcast left join") {
    val dim = Tables.customer(spark, dir).select("c_custkey", "c_mktsegment")
    val stream = EventStreams.readStream(spark, dir)
    val got = EventStreams.runToBatch(
      EventStreams.enrich(stream, dim, "user_id", "c_custkey")
        .select("event_id", "user_id", "c_mktsegment"),
      "enrich_out", outputMode = "append")
    val want = EventStreams.enrich(Tables.events(spark, dir), dim,
      "user_id", "c_custkey").select("event_id", "user_id", "c_mktsegment")
    assert(sortedRows(got) == sortedRows(want))
    assert(got.count() > 0)
  }

  test("streaming minhash near-dup: == batch run, == driver reference, finds planted dups") {
    import org.apache.spark.sql.functions._
    // doc ids start at 0: offset the synthetic event times so none sits at
    // epoch 0 == the stream's INITIAL watermark (a row exactly at the
    // watermark is dropped as late — a real boundary, not an artifact)
    val docs0 = Tables.documents(spark, dir)
      .withColumn("ts", timestamp_micros((col("doc_id") + 10000L) * 1000000L))
    // plant exact duplicates arriving later: every planted doc MUST be hit
    val planted = docs0.select((col("doc_id") + 100000L).as("doc_id"),
      timestamp_micros((col("doc_id") + 200000L) * 1000000L).as("ts"),
      col("text"))
    val docs = docs0.select("doc_id", "ts", "text").union(planted)

    val batch = StreamDedup.nearDupHits(docs, "doc_id", "ts", "text")
      .select("doc_id", "dup_of").distinct()
    val got = batch.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    // every planted duplicate is flagged against a pre-existing doc
    val flagged = got.map(_._1)
    val plantedIds = (0L until 500L).map(_ + 100000L).toSet
    val missing = plantedIds -- flagged
    assert(missing.isEmpty, s"${missing.size} planted dups not flagged")

    // independent driver-side reference: same banding, same sequential rule
    val h = 32
    val sigRows = docs
      .select(col("doc_id"), col("ts"),
        graft.operators.Dedup.minhashSignature(col("text"), h, 3).as("sig"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getSeq[Long](2)))
    val bandRows = for {
      (id, ts, sig) <- sigRows.toSeq
      b <- 0 until 8
    } yield (b, sig.slice(b * 4, b * 4 + 4), id, ts, sig)
    val want = scala.collection.mutable.Set.empty[(Long, Long)]
    bandRows.groupBy { case (b, chunk, _, _, _) => (b, chunk) }.foreach {
      case (_, members) =>
        val sorted = members.sortBy { case (_, _, id, ts, _) => (ts, id) }
        val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
        for ((_, _, id, _, sig) <- sorted) {
          val firstMatch = seen.find { case (_, s) =>
            s.zip(sig).count(p => p._1 == p._2).toDouble / h >= 0.7
          }
          firstMatch.foreach { case (mid, _) => want += (id -> mid) }
          if (seen.length < 64) seen += (id -> sig)
        }
    }
    assert(got == want.toSet,
      s"batch run diverged from reference: extra=${got -- want}, missing=${want.toSet -- got}")

    // streaming run over the same rows (one micro-batch) emits the same hits
    val tmp = SparkTestSession.tmpPath("stream_neardup_src")
    docs.coalesce(1).write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(docs.schema).parquet(tmp)
    val streamed = EventStreams.runToBatch(
      StreamDedup.nearDupHits(stream, "doc_id", "ts", "text"),
      "neardup_out", outputMode = "append")
      .select("doc_id", "dup_of").distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(streamed == got, "streaming run diverged from batch run")
  }

  test("streaming CDC dedup: == batch run, == driver reference, flags every planted-boilerplate chunk") {
    import org.apache.spark.sql.functions._
    val docs0 = Tables.documents(spark, dir)
      .withColumn("ts", timestamp_micros((col("doc_id") + 10000L) * 1000000L))
    // exact-duplicate docs arriving later: every chunk of a planted doc
    // must hit a PRE-existing first arrival
    val planted = docs0.select((col("doc_id") + 100000L).as("doc_id"),
      timestamp_micros((col("doc_id") + 200000L) * 1000000L).as("ts"),
      col("text"))
    val docs = docs0.select("doc_id", "ts", "text").union(planted)

    // the planted twins arrive 190 000 s after their originals — far
    // beyond the default 2 h state horizon. Pass an explicit horizon
    // that covers the gap so the batch==stream equality below holds
    // under ANY trigger decomposition (with the default, a multi-file
    // replay would watermark-expire the originals' state between
    // micro-batches and drop every planted hit; the single-coalesced-
    // file run only passed because timeouts are evaluated against the
    // PREVIOUS batch's watermark)
    val horizonMs = 200000L * 1000L

    val batch = StreamCdc.dupChunkHits(docs, "doc_id", "ts", "text",
      horizonMs = horizonMs)
    val got = batch.collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getLong(3), r.getLong(4)))
      .toSet

    // independent driver reference: the shared chunk walk + arrival ranks
    val g = graft.operators.Corpus.cdcWeights(8).toArray
    val rows = docs.select("doc_id", "ts", "text").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getString(2)))
    val chunkRows = for {
      (id, ts, text) <- rows.toSeq
      (cidx, chunk, _) <- graft.operators.Corpus.chunkWalk(text, 8, 32, g)
        .toSeq
    } yield (chunk, ts, id, cidx)
    val want = scala.collection.mutable.Set.empty[(Long, Int, Long, Long)]
    chunkRows.groupBy(_._1).foreach { case (_, ms) =>
      val sorted = ms.sortBy { case (_, ts, id, cidx) => (ts, id, cidx) }
      val firstDoc = sorted.head._3
      sorted.zipWithIndex.drop(1).foreach { case ((_, _, id, cidx), rk) =>
        want += ((id, cidx, firstDoc, rk.toLong))
      }
    }
    assert(got === want.toSet,
      s"batch run diverged from reference: extra=${(got -- want).take(3)}, " +
        s"missing=${(want.toSet -- got).take(3)}")

    // every chunk of every planted doc is flagged, always against a
    // pre-existing doc (the original corpus arrived earlier)
    val plantedChunks = chunkRows.count(_._3 >= 100000L)
    val plantedHits = got.filter(_._1 >= 100000L)
    assert(plantedHits.size === plantedChunks,
      "some planted-duplicate chunks were not flagged")
    assert(plantedHits.forall(_._3 < 100000L),
      "a planted chunk was attributed to a non-original first arrival")

    // streaming run over the same rows emits the same hits
    val tmp = SparkTestSession.tmpPath("stream_cdc_src")
    docs.coalesce(1).write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(docs.schema).parquet(tmp)
    val streamed = EventStreams.runToBatch(
      StreamCdc.dupChunkHits(stream, "doc_id", "ts", "text",
        horizonMs = horizonMs),
      "stream_cdc_out", outputMode = "append")
      .collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(streamed === got, "streaming run diverged from batch run")
  }

  test("streaming repeat census: == batch run, == driver reference, caps at the batch bucket") {
    import org.apache.spark.sql.functions._
    val docs0 = Tables.documents(spark, dir)
      .withColumn("ts", timestamp_micros((col("doc_id") + 10000L) * 1000000L))
    // exact-duplicate docs arriving later: every anchor of a planted doc
    // must census against a PRE-existing first arrival
    val planted = docs0.select((col("doc_id") + 100000L).as("doc_id"),
      timestamp_micros((col("doc_id") + 200000L) * 1000000L).as("ts"),
      col("text"))
    val docs = docs0.select("doc_id", "ts", "text").union(planted)
    // explicit horizon covering the 190 000 s original->twin gap (the
    // StreamCdc spec lesson: the default 2 h horizon would expire the
    // originals' state under any multi-trigger replay)
    val horizonMs = 200000L * 1000L

    val batch = StreamRepeats.repeatCandidates(docs, "doc_id", "ts",
      "text", horizonMs = horizonMs)
    val got = batch.collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getLong(3), r.getInt(4),
        r.getLong(5)))
      .toSet

    // independent driver reference: the shared anchor walk + arrival
    // ranks with the star cap
    val g = graft.operators.Corpus.cdcWeights(8).toArray
    val rows = docs.select("doc_id", "ts", "text").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getString(2)))
    val anchorRows = for {
      (id, ts, text) <- rows.toSeq
      (s0, seed) <- graft.operators.Corpus.anchorWalk(text, 8, 16, g, 16)
        .toSeq
    } yield (seed, ts, id, s0)
    val want = scala.collection.mutable.Set.empty[(Long, Int, Long, Int, Long)]
    anchorRows.groupBy(_._1).foreach { case (_, ms) =>
      val sorted = ms.sortBy { case (_, ts, id, s0) => (ts, id, s0) }
      val (_, _, fid, fs0) = sorted.head
      sorted.zipWithIndex.drop(1).foreach { case ((_, _, id, s0), rk) =>
        if (rk <= 8) want += ((id, s0, fid, fs0, rk.toLong + 1))
      }
    }
    assert(got === want.toSet,
      s"batch run diverged from reference: extra=${(got -- want).take(3)}, " +
        s"missing=${(want.toSet -- got).take(3)}")

    // every planted doc's anchors census against pre-existing originals
    val plantedHits = got.filter(_._1 >= 100000L)
    assert(plantedHits.nonEmpty && plantedHits.forall(_._3 < 100000L),
      "a planted anchor censused against a non-original first arrival")

    // streaming run over the same rows emits the same candidates
    val tmp = SparkTestSession.tmpPath("stream_rep_src")
    docs.coalesce(1).write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(docs.schema).parquet(tmp)
    val streamed = EventStreams.runToBatch(
      StreamRepeats.repeatCandidates(stream, "doc_id", "ts", "text",
        horizonMs = horizonMs),
      "stream_rep_out", outputMode = "append")
      .collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getLong(3), r.getInt(4),
        r.getLong(5)))
      .toSet
    assert(streamed === got, "streaming run diverged from batch run")
  }

  test("composed census -> extension -> scrub == scrubLongRepeats, from BOTH batch and streaming census runs") {
    import org.apache.spark.sql.functions._
    import graft.operators.Corpus
    // the q_repeat_scrub planted corpus: guaranteed >= 40-cp repeats at
    // shifted alignments, so the composition actually cuts something
    val planted = graft.queries.PipelineQueries
      .plantedRepeatDocs(Tables.documents(spark, dir))
    val docs = planted.withColumn("ts",
      timestamp_micros((col("doc_id") + 10000L) * 1000000L))
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    // the one-shot batch operator IS the semantics target: over a
    // horizon-complete census the composition must equal it exactly
    val oneShot = norm(Corpus.scrubLongRepeats(planted, "doc_id", "text"))
    assert(oneShot.exists(_._3 > 0L), "planted corpus produced no cuts")
    val batchCands = StreamRepeats.repeatCandidates(docs, "doc_id", "ts",
      "text")
    assert(norm(Corpus.scrubFromCensus(planted, "doc_id", "text",
      batchCands)) === oneShot,
      "batch census -> compaction diverged from scrubLongRepeats")
    // STREAMING census feeding the SAME compaction job — the promised
    // ingest-then-periodic-compaction composition, end to end
    val tmp = SparkTestSession.tmpPath("stream_repscrub_src")
    docs.select("doc_id", "ts", "text").coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream
      .schema(docs.select("doc_id", "ts", "text").schema).parquet(tmp)
    val streamCands = EventStreams.runToBatch(
      StreamRepeats.repeatCandidates(stream, "doc_id", "ts", "text"),
      "stream_repscrub_out", outputMode = "append")
    assert(norm(Corpus.scrubFromCensus(planted, "doc_id", "text",
      streamCands)) === oneShot,
      "streaming census -> compaction diverged from scrubLongRepeats")
  }

  test("streaming top-k: batch == driver Misra-Gries, guarantee holds, 2-batch streaming == batch") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("ts"), col("user_id"))
    val k = 8
    val got = StreamTopK.topTerms(ev, "event_type", "ts", "user_id", k = k)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet

    // driver reference: sequential Misra-Gries per key in (ts, term) order
    val raw = ev.collect().map(r => (String.valueOf(r.get(0)),
      r.getTimestamp(1).getTime, String.valueOf(r.get(2))))
    val want = raw.groupBy(_._1).flatMap { case (key, rows) =>
      var terms = Map.empty[String, Long]
      rows.sortBy(r => (r._2, r._3))
        .foreach(r => terms = StreamTopK.mgStep(terms, k, r._3))
      terms.map { case (w, c) => (key, w, c, rows.length.toLong) }
    }.toSet
    assert(got == want,
      s"batch diverged from reference: extra=${got -- want}, missing=${want -- got}")

    // Misra-Gries guarantee per key: est never overcounts, undercounts by
    // at most n/(k+1), and every term more frequent than n/(k+1) survives
    val trueCounts = raw.groupBy(r => (r._1, r._3)).view.mapValues(_.length.toLong)
    got.groupBy(_._1).foreach { case (key, hits) =>
      val n = hits.head._4
      hits.foreach { case (_, w, est, _) =>
        val t = trueCounts((key, w))
        assert(est <= t && t - est <= n / (k + 1),
          s"guarantee broken for ($key,$w): est=$est true=$t n=$n")
      }
      val emitted = hits.map(_._2).toSet
      trueCounts.filter { case ((g, _), c) => g == key && c > n / (k + 1) }
        .foreach { case ((_, w), c) =>
          assert(emitted.contains(w), s"frequent term ($key,$w,$c) missing")
        }
    }

    // 2-batch streaming run: files split at the ts median (so batch order
    // == global (ts, term) order and nothing is watermark-late), processed
    // one per trigger via distinct modification times; the final snapshot
    // per key (largest n) must equal the batch run
    val srcDir = new java.io.File(SparkTestSession.tmpPath("stream_topk_src"))
    if (srcDir.exists()) srcDir.listFiles().foreach(_.delete())
    srcDir.mkdirs()
    val sortedTs = raw.map(_._2).sorted
    val median = new java.sql.Timestamp(sortedTs(sortedTs.length / 2))
    def writeSlice(cond: org.apache.spark.sql.Column, name: String, mtime: Long): Unit = {
      val tmp = SparkTestSession.tmpPath(s"stream_topk_$name")
      ev.filter(cond).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, s"$name.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
    }
    writeSlice(col("ts") < lit(median), "a", 1000000L)
    writeSlice(col("ts") >= lit(median), "b", 2000000L)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val snaps = EventStreams.runToBatch(
      StreamTopK.topTerms(stream, "event_type", "ts", "user_id", k = k),
      "topk_out", outputMode = "append")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val finalN = snaps.groupBy(_._1).view.mapValues(_.map(_._4).max)
    val streamed = snaps.filter(s => s._4 == finalN(s._1)).toSet
    assert(streamed == got,
      s"streaming diverged from batch: extra=${streamed -- got}, missing=${got -- streamed}")
  }

  test("stream-stream interval join == batch range join") {
    val stream = EventStreams.readStream(spark, dir)
    val got = EventStreams.runToBatch(
      EventStreams.clickPurchaseJoin(stream), "ssjoin_out", outputMode = "append")
    val want = EventStreams.clickPurchaseJoin(Tables.events(spark, dir))
    assert(sortedRows(got) == sortedRows(want))
    assert(got.count() > 0, "test vacuous: no click/purchase pairs in window")
  }

  test("dropDuplicatesWithinWatermark: streaming dedup matches exact key set") {
    import org.apache.spark.sql.functions._
    // duplicate every event (union with itself): the stream must emit one
    // row per event_id; which physical duplicate survives is unspecified,
    // so the assertion is on the key set, not exemplar rows
    val stream = EventStreams.readStream(spark, dir)
    val doubled = stream.union(stream)
    val got = EventStreams.runToBatch(
      EventStreams.dedupWithinWatermark(doubled, Seq("event_id")),
      "dedup_ww_out", outputMode = "append")
    val batch = Tables.events(spark, dir)
    val wantKeys = batch.select("event_id").distinct().count()
    assert(got.count() == wantKeys, "streaming dedup emitted duplicates or dropped keys")
    assert(got.select("event_id").distinct().count() == wantKeys)
    // batch execution of the same function reduces to plain dropDuplicates
    val gotBatch = EventStreams.dedupWithinWatermark(
      batch.union(batch), Seq("event_id"))
    assert(gotBatch.count() == wantKeys)
  }

  test("stateful first-per-key dedup: streaming == batch == naive") {
    val stream = EventStreams.readStream(spark, dir)
    val got = EventStreams.runToBatch(
      EventStreams.firstPerKey(stream), "first_out", outputMode = "append")
    val want = EventStreams.firstPerKey(Tables.events(spark, dir))
    assert(sortedRows(got) == sortedRows(want))
    // and both equal a naive windowed first-row computation
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    val naive = Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("user_id", "event_type", "event_id", "ts")
    assert(sortedRows(want.select("user_id", "event_type", "event_id", "ts")) ==
      sortedRows(naive))
    assert(got.count() > 0)
  }

  test("firstPerKey evicts state after the horizon even when duplicates arrive") {
    // three micro-batches: first event for key (1,a); a DUPLICATE in the
    // next batch (which clears Spark's stored timeout — the operator must
    // re-arm it from the state's deadline); then a far-future event that
    // advances the watermark past (1,a)'s horizon. The key's state must be
    // GONE afterwards — the round-3 fix for unbounded streaming state.
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val srcDir = SparkTestSession.tmpPath("stream_evict")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
    Files.createDirectories(Paths.get(srcDir))
    val t0 = 1700000000L * 1000000000L // nanos
    def write(name: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .repartition(1).write.parquet(s"$srcDir/$name")
      Thread.sleep(1100) // distinct mod-times => deterministic batch order
    }
    val h = 3600L * 1000000000L
    write("b1", Seq((1L, t0, 1L, "a", 1.0, "{}")))
    write("b2", Seq((2L, t0 + 600L * 1000000000L, 1L, "a", 1.0, "{}"))) // duplicate
    write("b3", Seq((3L, t0 + 5L * h, 2L, "b", 1.0, "{}"))) // watermark jump
    // schema read back from the fixture's own files (Long nanos ts) — this
    // test deliberately exercises normalize()'s nanos-Long branch, while
    // the driver-data tests above exercise whatever type the generator
    // currently emits
    val stream = EventStreams.normalize(
      spark.readStream.schema(spark.read.parquet(s"$srcDir/b1").schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*"))
    val q = EventStreams.firstPerKey(stream).writeStream
      .format("memory").queryName("evict_out").outputMode("append").start()
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    q.stop()
    val out = spark.table("evict_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(out == Set((1L, "a", 1L), (2L, "b", 3L)),
      s"wrong first-per-key output: $out")
    // key (1,a) evicted once the watermark passed t0+2h; (2,b) still live
    assert(stateRows <= 1,
      s"state not evicted ($stateRows rows live) — duplicates disarmed the timeout")
  }

  test("bounded state is an assert, not a comment: MG state holds <= k " +
      "counters per key across many batches (statestore-verified), and " +
      "old keys evict") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val srcDir = SparkTestSession.tmpPath("state_topk_src")
    val ckpt = SparkTestSession.tmpPath("state_topk_ckpt")
    Seq(srcDir, ckpt).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    Files.createDirectories(Paths.get(srcDir))
    val t0 = 1700000000L // seconds
    def write(name: String, rows: Seq[(String, Long, String)]): Unit = {
      rows.map { case (k, ts, term) => (k, new java.sql.Timestamp(ts * 1000L), term) }
        .toDF("gkey", "ts", "term")
        .repartition(1).write.parquet(s"$srcDir/$name")
      Thread.sleep(1100) // distinct mod-times => deterministic batch order
    }
    // 4 batches x 50 rows into ONE key: a hot term plus 20 distinct rare
    // terms per batch (84 distinct terms total — state would hold all 84
    // if Misra-Gries didn't bound it at k). The hot term keeps the summary
    // nonempty so every batch emits a snapshot: an all-distinct stream
    // legitimately annihilates the summary whenever its length is a
    // multiple of k+1 (4 inserts then a decrement-all wipe), which is a
    // correct MG outcome but a vacuous test.
    val k = 4
    (0 until 4).foreach { b =>
      write(s"b$b", (0 until 50).map(i =>
        ("x", t0 + b * 60L + i,
          if (i < 30) "hot" else s"term_${b}_$i")))
    }
    val schema = Seq(("x", new java.sql.Timestamp(0L), "t"))
      .toDF("gkey", "ts", "term").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*")
    val q = StreamTopK.topTerms(stream, "gkey", "ts", "term", k = k)
      .writeStream.format("memory").queryName("state_topk_out")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    // all 200 rows were processed into the one key...
    val snaps = spark.table("state_topk_out").collect()
    assert(snaps.map(_.getLong(3)).max == 200L, "not all rows reached MG")
    // ...and the PHYSICAL state store holds one row for that key, with at
    // most k counters in it — read back via the statestore source
    val state = spark.read.format("statestore").load(ckpt)
    // with timeouts enabled the statestore source nests the user state
    // struct under value.groupState
    val perKey = state.selectExpr("key.value AS gkey",
      "size(value.groupState.terms) AS n_terms",
      "size(value.groupState.counts) AS n_counts")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    assert(perKey.map(_._1).toSeq == Seq("x"), s"unexpected state keys: ${perKey.toSeq}")
    assert(perKey.forall(p => p._2 <= k && p._3 <= k),
      s"MG state exceeded k=$k counters: ${perKey.toSeq}")

    // eviction: a far-future key advances the watermark past x's horizon
    // (2h default) + one more batch to run the timeout pass -> x's state
    // row is physically gone, only the new key remains. Same running
    // query — the file source picks up the new files (a memory-sink query
    // cannot restart from a checkpoint, and a restart is not the claim).
    write("b_future", Seq(("y", t0 + 5L * 3600, "fresh")))
    write("b_trigger", Seq(("y", t0 + 5L * 3600 + 60, "fresh2")))
    q.processAllAvailable()
    q.stop()
    val keysAfter = spark.read.format("statestore").load(ckpt)
      .selectExpr("key.value").collect().map(_.getString(0)).toSet
    assert(keysAfter == Set("y"),
      s"evicted key's state still present: $keysAfter")
  }

  test("bounded state: dedup bucket state caps at maxBucket ids however " +
      "many duplicates arrive (statestore-verified), and hits keep coming") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val srcDir = SparkTestSession.tmpPath("state_dedup_src")
    val ckpt = SparkTestSession.tmpPath("state_dedup_ckpt")
    Seq(srcDir, ckpt).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    Files.createDirectories(Paths.get(srcDir))
    val t0 = 1700000000L
    // 3 batches x 20 copies of the SAME text: every copy lands in the same
    // 8 (band, bucket) keys; uncapped state would store 60 signatures per
    // bucket, the cap keeps 4
    val maxB = 4
    def write(name: String, ids: Range): Unit = {
      ids.map(i => (i.toLong, new java.sql.Timestamp((t0 + i) * 1000L),
          "the same boilerplate text repeated everywhere"))
        .toDF("doc_id", "ts", "text")
        .repartition(1).write.parquet(s"$srcDir/$name")
      Thread.sleep(1100)
    }
    write("b0", 0 until 20); write("b1", 20 until 40); write("b2", 40 until 60)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*")
    val q = StreamDedup.nearDupHits(stream, "doc_id", "ts", "text",
        maxBucket = maxB)
      .writeStream.format("memory").queryName("state_dedup_out")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    // every doc after the first is flagged (the capped bucket keeps
    // MATCHING even once it stops absorbing new reference signatures)
    val flagged = spark.table("state_dedup_out")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(flagged == (1L until 60L).toSet,
      s"missing hits: ${(1L until 60L).toSet -- flagged}")
    // physical bucket state: <= maxBucket stored ids per (band, bucket)
    val bucketSizes = spark.read.format("statestore").load(ckpt)
      .selectExpr("size(value.groupState.ids) AS n_ids",
        "size(value.groupState.sigs) AS n_sigs")
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(bucketSizes.nonEmpty, "no bucket state found")
    assert(bucketSizes.forall(p => p._1 <= maxB && p._2 <= maxB),
      s"bucket state exceeded maxBucket=$maxB: ${bucketSizes.toSeq}")
  }

  test("bounded state: near-dup, CDC and repeat state keep only the keys " +
      "seen inside the horizon (statestore-verified)") {
    // State tracks arrival rate x horizon, not corpus size, only if a key
    // idle past the horizon is removed. Per operator: a batch of old docs,
    // then a batch past the horizon plus a trigger batch (the watermark
    // the first advances runs the timeouts in the second); every state
    // row left must have been touched by those two batches.
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val horizonMs = 600L * 1000
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "StreamDedup.nearDupHits" -> (s =>
        StreamDedup.nearDupHits(s, "doc_id", "ts", "text", horizonMs = horizonMs)),
      "StreamCdc.dupChunkHits" -> (s =>
        StreamCdc.dupChunkHits(s, "doc_id", "ts", "text", horizonMs = horizonMs)),
      "StreamRepeats.repeatCandidates" -> (s =>
        StreamRepeats.repeatCandidates(s, "doc_id", "ts", "text", horizonMs = horizonMs)))
    val t0 = 1700000000L * 1000 // ms
    val tNew = t0 + 5 * horizonMs
    def docs(ids: Range, tsMs: Long, word: String) = ids.map(i =>
      (i.toLong, new java.sql.Timestamp(tsMs + i),
        (0 until 60).map(j => s"$word${(i * 7 + j) % 23}x$j").mkString(" ")))
    val failures = ops.zipWithIndex.flatMap { case ((name, op), n) =>
      val srcDir = SparkTestSession.tmpPath(s"state_horizon_src$n")
      val ckpt = SparkTestSession.tmpPath(s"state_horizon_ckpt$n")
      Seq(srcDir, ckpt).foreach(d =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
      Files.createDirectories(Paths.get(srcDir))
      var batch = 0
      def write(rows: Seq[(Long, java.sql.Timestamp, String)]): Unit = {
        val out = s"$srcDir/b$batch"
        rows.toDF("doc_id", "ts", "text").repartition(1).write.parquet(out)
        // distinct mod-times => deterministic batch order
        new java.io.File(out).listFiles().foreach(
          _.setLastModified(System.currentTimeMillis() + batch * 1000L))
        batch += 1
      }
      def lastTouched(): Seq[Long] = spark.read.format("statestore").load(ckpt)
        .selectExpr("value.groupState.lastMs").as[Long].collect().toSeq
      write(docs(0 until 20, t0, "old"))
      val schema = spark.read.parquet(s"$srcDir/b0").schema
      val q = op(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*"))
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", ckpt).start()
      try {
        q.processAllAvailable()
        val before = lastTouched()
        write(docs(100 until 120, tNew, "new"))
        write(docs(200 until 201, tNew + 60 * 1000, "new"))
        q.processAllAvailable()
        val after = lastTouched()
        if (before.isEmpty || before.exists(_ >= tNew))
          Some(s"$name: no state from the first batch (${before.size} rows)")
        else if (after.isEmpty || after.exists(_ < tNew))
          Some(s"$name: ${after.count(_ < tNew)} of ${after.size} state rows " +
            s"outlived the horizon")
        else None
      } finally q.stop()
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("streaming CDC upsert: batch boundaries irrelevant, tombstones stick") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import graft.streaming.StreamUpsert.{Change, Latest}
    val srcDir = SparkTestSession.tmpPath("stream_upsert")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
    Files.createDirectories(Paths.get(srcDir))
    def write(name: String, rows: Seq[Change]): Unit = {
      rows.toDS().repartition(1).write.parquet(s"$srcDir/$name")
      Thread.sleep(1100) // distinct mod-times => deterministic batch order
    }
    val b1 = Seq(Change(1L, 1L, 10.0, false), Change(2L, 2L, 20.0, false),
      Change(1L, 3L, 11.0, false))
    val b2 = Seq(Change(2L, 5L, 0.0, true), Change(1L, 4L, 12.0, false),
      Change(3L, 6L, 30.0, false), Change(2L, 4L, 21.0, false))
    // a LATE lower-version update after the tombstone batch: must not
    // resurrect key 2
    val b3 = Seq(Change(2L, 3L, 99.0, false))
    write("b1", b1); write("b2", b2); write("b3", b3)
    val stream = spark.readStream.schema(implicitly[org.apache.spark.sql.Encoder[Change]].schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*").as[Change]
    val q = graft.streaming.StreamUpsert.latestState(stream).writeStream
      .format("memory").queryName("upsert_out").outputMode("update").start()
    q.processAllAvailable()
    q.stop()
    // materialized view = highest-version emission per key (versions only
    // grow per key, so the final state is the max-version output row)
    val emitted = spark.table("upsert_out").collect()
      .map(r => Latest(r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    val finalState = emitted.groupBy(_.key).map { case (k, rs) =>
      k -> rs.maxBy(_.version)
    }
    val want = Map(
      1L -> Latest(1L, 4L, 12.0, false),
      2L -> Latest(2L, 5L, 0.0, true), // tombstone survived the late v3
      3L -> Latest(3L, 6L, 30.0, false))
    assert(finalState == want, s"got $finalState")
    // batch execution over ALL rows at once materializes the same rows
    val batchOut = graft.streaming.StreamUpsert
      .latestState((b1 ++ b2 ++ b3).toDS())
      .collect().map(l => l.key -> l).toMap
    assert(batchOut == want, "batch-mode run diverged from streaming run")
  }
}

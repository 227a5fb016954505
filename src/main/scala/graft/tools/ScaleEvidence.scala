package graft.tools

import org.apache.spark.sql.functions._
import graft.queries.Tables

/** Linearity evidence for the dedup/ANN family: run the bucketed
  * pipelines on a data dir and print one JSON line per operator with
  * wall time, output rows, and (where the stage is exposed) candidate
  * pairs. Run on the driver testdata (1x) and on a `gen_scale.py`
  * 10x set; SCALE.md carries the resulting table. Times are min-of-2
  * within one JVM (storm guard; see Bench.scala for the full treatment).
  *
  *   sbt "runMain graft.tools.ScaleEvidence /root/testdata/sf0.1 1x"
  *   python3 scripts/gen_scale.py /root/testdata/sf0.1 target/scale10x 10
  *   sbt "runMain graft.tools.ScaleEvidence target/scale10x 10x"
  */
object ScaleEvidence {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val label = args.lift(1).getOrElse(dir)
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    docs.count(); emb.count() // warm up

    import graft.operators.{Dedup, Similarity, Staging, TextAnalysis}
    // FIXED 500-doc delta for the incremental path (ids remapped far away
    // from both the base and generated stores): the claim to prove is
    // near-flat time in the STORE size when only the store grows — the
    // store is scanned, never shuffled, and candidates are
    // delta-proportional. The index is materialized to parquet first
    // (outside timing), as a production store would be: the measured op
    // is maintenance against an existing index, not the index build.
    val delta = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .orderBy("doc_id").limit(500)
      .withColumn("doc_id", col("doc_id") + 900000000L)
    val idxPath = s"target/scale_idx/${label.replaceAll("[^A-Za-z0-9]", "_")}"
    Dedup.minhashIndex(docs, "doc_id", "text")
      .write.mode("overwrite").parquet(idxPath)
    val store = spark.read.parquet(idxPath)
    // Cell count is semdedup's scale knob (same as IVF): constant cells
    // under growing data makes within-cell pair work quadratic. Size cells
    // to constant ~125-vector occupancy, as a production run would.
    val nEmb = emb.count()
    val cells = math.max(16, (nEmb / 125).toInt)

    // write-path evidence: per-label scratch dir + a local-FS file count
    // (the write sinks here are always local paths). The scratch dir is
    // CLEANED at startup so a *_pruned_read / tar_read_members op can
    // never silently measure a stale layout from a previous run — and
    // each read op fails fast with the producing op's name when its
    // layout is absent (e.g. SPARK_GRAFT_OPS selected the read without
    // its paired write).
    val writeBase =
      s"target/scale_write/${label.replaceAll("[^A-Za-z0-9]", "_")}"
    locally {
      val root = java.nio.file.Paths.get(writeBase)
      if (java.nio.file.Files.exists(root)) {
        val s = java.nio.file.Files.walk(root)
        try s.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
        finally s.close()
      }
    }
    def requireLayout(path: String, producer: String): Unit =
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(path)),
        s"layout $path is absent: run the paired write op '$producer' in " +
          "the same invocation (SPARK_GRAFT_OPS must include it before " +
          "this read op)")
    def countFiles(path: String, suffix: String): Long = {
      val d = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(d)) 0L
      else {
        val s = java.nio.file.Files.walk(d)
        try s.filter(p => p.toString.endsWith(suffix)).count()
        finally s.close()
      }
    }
    val ops: Seq[(String, () => Long)] = Seq(
      "minhash_candidates" -> (() =>
        Dedup.minhashCandidates(docs, "doc_id", "text").count()),
      "minhash_neardups" -> (() =>
        Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
          .count()),
      "cosine_neardups" -> (() =>
        Dedup.cosineNearDups(emb, "vec_id", "embedding",
          dim = 64, threshold = 0.4).count()),
      "semdedup_kept" -> (() =>
        Dedup.semanticDedup(emb, "vec_id", "embedding",
          k = cells, threshold = 0.4,
          maxSample = math.max(2000, 4 * cells)).count()),
      // FIXED 32-query batch on both dirs: knnJoin's cost model is
      // queries x corpus, so linearity in the CORPUS is the claim to prove
      "knn_join" -> (() =>
        Similarity.knnJoin(emb.orderBy("vec_id").limit(32),
          "vec_id", "embedding", emb, "vec_id", "embedding", k = 5).count()),
      // store grows with the dir, delta is FIXED: near-flat time is the
      // claim (delta bands broadcast onto a store scan; no store shuffle)
      "minhash_incremental" -> (() =>
        Dedup.minhashIncrementalNearDups(store, delta, "doc_id", "text",
          threshold = 0.5).count()),
      // the md5-mode simhash pipeline (q_dedup_simhash's declared shape
      // since round 11): token explode + 64-column majority-vote partial
      // aggregate + chunk banding — a DIFFERENT dataflow from the xxhash
      // kernel's narrow map, so it carries its own linearity evidence
      "simhash_md5" -> (() =>
        Dedup.simhashCandidatesMd5(docs, "doc_id", "text").count()),
      // contamination scan with a FIXED probe set (round 12): the
      // benchmark does not grow with the corpus, so probes always come
      // from the 1x dir while the corpus comes from `dir`. Claims: wall
      // tracks the corpus scan (probe side is a constant-size
      // broadcast), hits grow with the planted replicas
      "contamination_fixed_probes" -> (() =>
        graft.operators.Corpus.ngramContamination(
          docs,
          spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
            .filter(col("doc_id") % 97 === 0),
          "doc_id", "text", "doc_id", "text", k = 3, minShared = 3)
          .count()),
      // the md5-mode batch stream-dedup twin (q_stream_neardup's
      // declared shape since round 12): staged md5 signature frame +
      // per-bucket stateful scan in arrival order. Claims: wall linear
      // in the corpus (one signature pass + a (band,bucket)-keyed
      // shuffle), and the per-bucket scan bounded by the maxBucket cap
      // however hot the bucket (compare-against <= 64 stored signatures)
      "stream_neardup_md5" -> (() =>
        graft.streaming.StreamDedup.nearDupHits(
          docs.withColumn("ts",
            timestamp_micros((col("doc_id") + 10000L) * 1000000L)),
          "doc_id", "ts", "text", threshold = 0.5, md5Mode = true)
          .select("doc_id", "dup_of").count()),
      // the full text->vector->LSH composite (q_text_embed_neardup's
      // shape): one narrow codegen'd embed map (HashEmbedVector) staged
      // once, then banded hyperplane LSH with the maxBucket star-cap
      "text_embed_cosine" -> (() =>
        Dedup.cosineNearDups(
          Staging.snapshot(TextAnalysis.hashEmbed(docs, "doc_id", "text",
            dim = 256, n = 2)),
          "doc_id", "vec", dim = 256, threshold = 0.6).count()),
      // the full five-stage curation composite (q_curation_pipeline's
      // exact code path): quality -> langid -> exact dedup -> near-dup
      // drop -> sequence packing, ONE lazy plan with the prefixSum input
      // staged once (round-10 fix — pre-fix this recomputed the whole
      // upstream twice)
      "curation_composite" -> (() =>
        graft.SparkEntry.queries("q_curation_pipeline")(spark, dir).count()),
      // relational family (round-11): the three heaviest TPC-H-shape
      // queries, run through their DECLARED definitions. gen_scale.py
      // grows lineitem/orders Nx (key-shifted replicas) with dims fixed,
      // so the claims to prove are wall-linearity in the fact size and
      // shuffle volume tracking the aggregate/join keys, not the scan
      "q21_kept_waiting" -> (() =>
        graft.SparkEntry.queries("q21_suppliers_kept_waiting")(spark, dir)
          .count()),
      "q9_profit" -> (() =>
        graft.SparkEntry.queries("q9_profit_shape")(spark, dir).count()),
      "profile_scan" -> (() =>
        graft.SparkEntry.queries("q_profile")(spark, dir).count()),
      // temperature mixing (round 13): FIXED budget on a growing corpus
      // — the claims are wall tracking the one corpus scan + bounded
      // rank phases (quota table broadcasts, |domains| rows at any
      // size) and output rows pinned at ~budget regardless of scale
      "mix_sample" -> (() =>
        graft.operators.ScaleOps.temperatureMixSample(
          docs, "source", "doc_id", budget = 200L).count()),
      // write paths (round-12): the three file-sink operators, split
      // into a write op (whose "rows" reading is the FILE COUNT — the
      // claim is file counts stay BOUNDED by the numFiles/shard knobs as
      // data grows 100x, no small-file explosion) and a pruned-read op
      // (whose wall must track the SELECTED slice, not the full layout)
      "time_layout_write_files" -> { () =>
        graft.operators.ScaleOps.writeTimePartitioned(
          graft.queries.Tables.lineitem(spark, dir).select("l_orderkey",
            "l_shipdate", "l_extendedprice", "l_discount"),
          "l_shipdate", s"$writeBase/time")
        countFiles(s"$writeBase/time", ".parquet")
      },
      "time_layout_pruned_read" -> { () =>
        requireLayout(s"$writeBase/time", "time_layout_write_files")
        spark.read.parquet(s"$writeBase/time")
          .filter(col("part_key") === "1997-03").count()
      },
      "zorder_write_files" -> { () =>
        graft.operators.ScaleOps.writeZOrdered(
          graft.queries.Tables.lineitem(spark, dir).select("l_orderkey",
            "l_partkey", "l_suppkey", "l_quantity", "l_returnflag"),
          "l_partkey", "l_suppkey", s"$writeBase/zorder", numFiles = 16)
        countFiles(s"$writeBase/zorder", ".parquet")
      },
      "zorder_pruned_read" -> { () =>
        requireLayout(s"$writeBase/zorder", "zorder_write_files")
        val manifest = graft.operators.ScaleOps.minMaxManifest(
          spark, s"$writeBase/zorder", "l_partkey")
        graft.operators.ScaleOps.readSkipping(spark, s"$writeBase/zorder",
            manifest, "l_partkey", lit(100L), lit(300L))
          .filter(col("l_suppkey") <= 50).count()
      },
      "tar_write_files" -> { () =>
        graft.sources.TarShards.writeShards(
          docs.select((col("doc_id") % 20).as("shard"),
            concat(col("doc_id"), lit(".txt")).as("member"),
            col("text").cast("binary").as("bytes")),
          "shard", "member", "bytes", s"$writeBase/tar")
        countFiles(s"$writeBase/tar", ".tar")
      },
      "tar_read_members" -> { () =>
        requireLayout(s"$writeBase/tar", "tar_write_files")
        graft.sources.TarShards.members(spark, s"$writeBase/tar")
          .filter(col("error").isNull).count()
      },
      // Avro OCF source (round 15): one deflate container per task on
      // write, one binaryFile row per container on read. Claims: both
      // sides scan-speed linear, zero shuffles either way.
      "avro_write_files" -> { () =>
        graft.sources.AvroFiles.write(
          docs.select("doc_id", "source", "lang", "n_chars"),
          s"$writeBase/avro")
        countFiles(s"$writeBase/avro", ".avro")
      },
      "avro_read_rows" -> { () =>
        requireLayout(s"$writeBase/avro", "avro_write_files")
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("source", StringType),
          StructField("lang", StringType), StructField("n_chars", LongType)))
        graft.sources.AvroFiles.read(spark, s"$writeBase/avro", schema)
          .filter(col("error").isNull).count()
      },
      // trained quality classifier (round 14): training cost is bounded
      // by maxSample REGARDLESS of corpus size (TakeOrdered sample +
      // driver GD on a model-sized array); scoring is one codegen'd map
      // vs broadcast-literal weights. Claim: wall tracks the two corpus
      // scans (sample heaps + scoring), never the GD.
      "quality_classifier" -> { () =>
        val cfg = TextAnalysis.GopherConfig(minWords = 25L, maxWords = 80L,
          minMeanWordLen = 3.0, maxMeanWordLen = 5.0, minStopwordHits = 1)
        def prepared = graft.operators.QualityClassifier.withFeatures(
          TextAnalysis.gopherRules(docs, col("text"), cfg), "text")
          .select(col("doc_id"), col("feats"),
            when(col("quality_pass"), 1.0d).otherwise(0.0d).as("y"))
        val model = graft.operators.QualityClassifier.train(prepared,
          "doc_id", "feats", "y", rounds = 80, lr = 4.0, maxSample = 2000)
        graft.operators.QualityClassifier.score(prepared, "feats", model)
          .filter(col("pred")).count()
      },
      // perceptual image near-dup (round 14): two narrow maps (PNG
      // synthesis, decode+dHash) + the shared hamming banding. Claim:
      // wall linear in the asset count, pair work bounded by the band
      // buckets — never all-pairs over assets.
      "image_neardup" -> { () =>
        val fam = docs.select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("family"))
        val hashed = graft.operators.Multimodal.imageDHash(
          graft.operators.Multimodal.syntheticGrayPngs(fam, "doc_id", "family"),
          "id", "payload")
        Dedup.hammingCandidates(hashed.filter(col("decoded")), "id", "phash")
          .filter(col("hamming") <= 3).count()
      },
      // image duplicate clustering (round 14): the near-dup pair stage
      // above + the iterative connected-components fold. Claim: CC
      // iteration count tracks the cluster DIAMETER (log-bounded label
      // propagation), never the corpus, and per-iteration shuffle tracks
      // the edge frame; rows = clusters found.
      "image_clusters" -> { () =>
        val fam = docs.select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("family"))
        val hashed = graft.operators.Multimodal.imageDHash(
          graft.operators.Multimodal.syntheticGrayPngs(fam, "doc_id", "family"),
          "id", "payload")
        val pairs = Dedup.hammingCandidates(
          hashed.filter(col("decoded")), "id", "phash")
          .filter(col("hamming") <= 3).select("id_a", "id_b")
        Dedup.clusters(pairs).select("rep").distinct().count()
      },
      // audio near-dup (round 14): WAV synthesis + chunk-walk decode +
      // frame-energy fingerprint + shared banding — same claims as
      // image_neardup (narrow maps, band-bounded pair work).
      "audio_neardup" -> { () =>
        val fam = docs.select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("family"))
        val fps = graft.operators.Multimodal.audioFingerprint(
          graft.operators.Multimodal.syntheticWavs(fam, "doc_id", "family"),
          "id", "payload")
        Dedup.hammingCandidates(fps.filter(col("decoded")), "id", "afp")
          .filter(col("hamming") <= 3).count()
      },
      // video temporal near-dup (round 15): real animated-GIF encode ->
      // container walk -> per-frame dHash -> banded same-index pairs ->
      // temporal rollup. Claims: one narrow encode map + one narrow
      // walk map (scan-speed, frame count capped), banding bounded by
      // maxBucket, rollup keyed on video pairs — never all-pairs.
      "video_neardup" -> { () =>
        val fam = docs.select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("family"))
        val gifs = graft.operators.Multimodal.syntheticAnimatedGifs(
          fam, "doc_id", "family", nFrames = 4)
        graft.operators.Multimodal.videoNearDups(
          graft.operators.Multimodal.videoFrameDHash(
            gifs, "id", "payload", maxFrames = 8)
            .filter(col("decoded")),
          "id", "frame_idx", "phash", minFrames = 3).count()
      },
      // video duplicate clustering (round 15): the temporal pairs fold
      // into connected components. Claim: rides video_neardup's stages
      // plus the checkpointed iterative expansion (constant plan depth).
      "video_clusters" -> { () =>
        val fam = docs.select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("family"))
        val gifs = graft.operators.Multimodal.syntheticAnimatedGifs(
          fam, "doc_id", "family", nFrames = 4)
        val pairs = graft.operators.Multimodal.videoNearDups(
          graft.operators.Multimodal.videoFrameDHash(
            gifs, "id", "payload", maxFrames = 8)
            .filter(col("decoded")),
          "id", "frame_idx", "phash", minFrames = 3).select("id_a", "id_b")
        Dedup.clusters(pairs).groupBy("rep").count().count()
      },
      // DSIR selection (round 14): fixed top-50 cut over a growing raw
      // pool. Claims: wall tracks the one tokenize+count scan; the
      // log-ratio model stays `buckets`-sized (broadcast) at any scale;
      // shuffle tracks the distinct (doc, bucket) keys, never the grams.
      "dsir_select" -> { () =>
        graft.operators.Dsir.select(docs, "doc_id", "text",
          col("source") === "src0", k = 50).count()
      },
      // exact-substring removal (round 14): repeated-8-gram coverage cut.
      // Claims: linear in corpus tokens; shuffles track the gram/position
      // keys; the anti-join cut never goes all-pairs.
      // (rows = total tokens REMOVED: a bare count() would let Catalyst
      // eliminate the whole key-unique left join and measure only the
      // staged tokenization)
      "span_scrub" -> { () =>
        graft.operators.Corpus.maskRepeatedSpans(
            docs, "doc_id", "text", n = 8, minDocs = 2)
          .agg(sum("n_removed")).collect()(0).getLong(0)
      },
      // PRODUCTION key posture of the same cut (round 15): span-keyed
      // aggregate + coverage join on xxhash64(span). Claim: identical
      // rows-removed, several-fold lower shuffle_mb (the raw 8-gram
      // strings never leave the scan stage).
      "span_scrub_xx" -> { () =>
        graft.operators.Corpus.maskRepeatedSpans(
            docs, "doc_id", "text", n = 8, minDocs = 2, xx = true)
          .agg(sum("n_removed")).collect()(0).getLong(0)
      },
      // cluster-balanced sampling (round 14): bounded-sample kmeans +
      // per-cell seeded quota. Claims: training cost pinned by maxSample;
      // assignment is scan-speed; rank phases bounded by fanout*quota.
      "cluster_balance" -> { () =>
        val cents = Similarity.trainCentroids(emb, "embedding", k = 16,
          sampleOrderCol = Some("vec_id"))
        graft.operators.ScaleOps.clusterBalancedSample(
          emb.select("vec_id", "embedding"), "vec_id", "embedding",
          cents, quota = 20).count()
      },
      // Gopher repetition rules (round 14): per-row line lambdas + ONE
      // tagged n-gram explode/count/top-1 chain. Claim: linear in corpus
      // tokens, shuffle volume tracking the distinct (doc, n, gram) keys.
      "repetition_rules" -> (() =>
        TextAnalysis.repetitionSignals(docs, "doc_id", "text")
          .filter(col("top2_char_frac") >= 0.0).count()),
      // HTML-to-text extraction (round 15): pure chained-regex scan over
      // synthesized markup. Claim: scan-speed linear, zero shuffle.
      "html_extract" -> (() =>
        TextAnalysis.htmlExtract(docs.withColumn("__h",
          concat(lit("<html><body><script>var x=1;</script><h1>T</h1><p>"),
            col("text"), lit("</p><a href=\"u\">l</a></body></html>"))),
          "__h")
          .filter(length(col("text_plain")) > 0).count()),
      // PII scrub (round 14): pure chained-regex scan. Claim: scan-speed
      // linear, zero shuffle. (The filter consumes text_clean so column
      // pruning cannot skip the regex work under count().)
      "pii_scrub" -> (() =>
        TextAnalysis.piiScrub(docs.withColumn("__t",
          concat(col("text"), lit(" u"), col("doc_id").cast("string"),
            lit("@ex.com 10.0.0.7 555-867-5309"))), "__t")
          .filter(length(col("text_clean")) > 0).count())
    )

    // SPARK_GRAFT_OPS=a,b re-measures a subset (e.g. after one operator's
    // kernel changes) without paying for the full battery at 100x
    val opFilter = sys.env.get("SPARK_GRAFT_OPS")
      .map(_.split(",").map(_.trim).toSet)
    val ops2 = opFilter.fold(ops)(f => ops.filter(o => f(o._1)))

    // Shuffle-volume accounting (round-11): stage-completion listener
    // summing shuffle WRITE bytes. Volume per op = counter delta around
    // the timed action (a short settle pause lets the listener bus
    // drain; coarse MB-level evidence, not a benchmark gate).
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = sc.stageInfo.taskMetrics
          if (m != null)
            shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      })

    // Same storm guard as Bench: rep passes interleave across ALL ops so a
    // multi-minute steal storm poisons at most one pass per op, and
    // min-of-passes stays clean.
    val times = Array.fill(ops2.size)(Double.MaxValue)
    val rows = Array.fill(ops2.size)(0L)
    val shuf = Array.fill(ops2.size)(0L)
    for (_ <- 1 to 3; i <- ops2.indices) {
      graft.GraftSession.clearCaches(spark)
      Thread.sleep(200) // settle the listener bus before the baseline read
      val s0 = shuffleBytes.get()
      val t0 = System.nanoTime()
      val n = ops2(i)._2()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200)
      if (sec < times(i)) { times(i) = sec; shuf(i) = shuffleBytes.get() - s0 }
      rows(i) = n
    }
    for (i <- ops2.indices)
      println(s"""{"label":"$label","op":"${ops2(i)._1}","sec":${times(i)},"rows":${rows(i)},"shuffle_mb":${shuf(i) / 1048576.0}}""")
    spark.stop()
  }
}

package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.core.SparkTestSession

/** Construction-time jobs of every declared query: building a query's
  * DataFrame (`fn(spark, dir)`, no action) may start no more Spark jobs
  * than pinned here, and by default none. Reading a testdata table starts
  * none ([[Tables]] declares its schema). A non-zero pin is the highest
  * measured count of a query that stages an intermediate or collects a
  * result while building, and names that site. A new eager collect, count,
  * schema inference or positional-label pass in a construction path
  * raises a count above its pin and fails here.
  */
class CyclebaneBuildJobsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.get
  private val dir = "/root/testdata/sf0.001"

  private val allowance: Map[String, Int] = Map(
    // TaskGraph: positional labels (DimGroup.sliceByPosition)
    "cb_slice_pos" -> 3,
    // writes read back inside the query: the write itself, plus schema
    // inference of the written files where a query still infers it
    // (a Tables.readWritten read-back declares it and starts none)
    "q_csv_roundtrip" -> 1, // Sources.writeCsv
    "q_json_roundtrip" -> 1, // Sources.writeJson
    "q_orc_roundtrip" -> 1, // Sources.writeOrc
    "q_time_layout" -> 4, // ScaleOps.writeTimePartitioned, partition discovery of the read-back
    "q_zorder_layout" -> 9, // ScaleOps.writeZOrdered, minMaxManifest, readSkipping
    "q_schema_evolution" -> 3, // two parquet writes, mergeSchema read-back
    "q_tar_roundtrip" -> 3, // TarShards.writeShards
    "q_avro_roundtrip" -> 1, // FileSink.writeParts count (AvroFiles.write)
    "q_avro_nested" -> 4, // FileSink.writeParts count (AvroFiles.write)
    "q_proto_roundtrip" -> 1, // FileSink.writeParts count (ProtoFiles.write)
    "q_warc_roundtrip" -> 2, // FileSink.writeParts count (WarcFiles.write)
    "q_warc_curation" -> 2, // FileSink.writeParts count (WarcFiles.write)
    "q_jsonl_zstd" -> 2, // FileSink.writeParts count (JsonlZstd.write)
    "q_jsonl_curation" -> 2, // FileSink.writeParts count (JsonlZstd.write)
    "q_embed_quantize" -> 1, // Similarity.writeQuantized
    "q_embed_rerank" -> 1, // Similarity.writeQuantized
    "q_embed_quantize_ivf" -> 3, // boundedSample, cell-partitioned write
    // training and sampling passes that collect a result
    "q_cluster_balance" -> 1, // Similarity.boundedSample in trainCentroids
    "q_knn_ivf" -> 1, // Similarity.boundedSample in trainCentroids
    "q_sim_ivf" -> 1, // Similarity.boundedSample in trainCentroids
    "q_sim_pq" -> 1, // Similarity.boundedSample in trainPq
    "q_embed_pca" -> 1, // Similarity.boundedSample in Pca.train
    "q_quality_classifier" -> 3, // QualityClassifier.train collect
    "q_text_langid_trained" -> 1, // LangIdTrained.train collect
    "q_bpe_tokenize" -> 3, // Bpe.train
    "q_unigram_tokenize" -> 2, // Unigram.train
    "q_funnel" -> 3, // Funnel.reportFrom collect
    "q_funnel_windowed" -> 3, // Funnel.reportFrom collect
    "q_join_bloom" -> 2, // ScaleOps.bloomKeyFilter
    "q_sketch_quantiles" -> 4, // two collects in the query
    // eager staging (Staging.snapshot and Scope.seal)
    "q_seq_pack" -> 3, // Staging.snapshot in ScaleOps.prefixSum (Corpus.packSequences)
    "q_sketch_distinct" -> 2, // Staging.snapshot in the query
    "q_text_topterms" -> 2, // Staging.snapshot in the query
    "q_dsir_select" -> 3, // Staging.snapshot in Dsir.weightsFromCounts
    "q_dsir_select_xx" -> 3, // Staging.snapshot in Dsir.weightsFromCounts
    "q_stream_neardup" -> 1, // Staging.snapshot in StreamDedup.nearDupHits
    "q_stream_curation" -> 2, // Staging.snapshot in StreamDedup.nearDupHits
    "q_classifier_curation" -> 5, // ScaleOps.prefixSum, Staging.snapshot, QualityClassifier.train
    "q_dedup_minhash" -> 11, // Scope.seal in Dedup.minhashNearDupsMd5
    "q_dedup_ngram" -> 11, // Scope.seal in Dedup.minhashNearDupsMd5
    "q_dedup_cjk" -> 11, // Scope.seal in Dedup.minhashNearDupsMd5
    "q_dedup_minhash_xx" -> 11, // Scope.seal in Dedup.minhashNearDups
    "q_dedup_simhash" -> 11, // Scope.seal in Dedup.simhashCandidatesMd5
    "q_simhash_complete" -> 11, // Scope.seal in Dedup.simhashCandidatesMd5
    "q_dedup_simhash_xx" -> 11, // Scope.seal in Dedup.simhashCandidates
    // Scope.seal in Dedup.incrementalFrom; its adaptive snapshots start
    // 25 or 26 jobs (115 builds), pinned at the highest
    "q_dedup_incremental" -> 26,
    "q_dedup_cosine" -> 10, // Scope.seal in Dedup.cosineNearDups
    "q_text_embed_neardup" -> 10, // Staging.snapshot, Scope.seal in Dedup.cosineNearDups
    "q_embed_neardup_xx" -> 10, // Staging.snapshot, Scope.seal in Dedup.cosineNearDups
    "q_semdedup" -> 10, // boundedSample, Scope.seal in Dedup.semanticNearDups
    "q_dedup_clusters" -> 20, // Scope.seal in Dedup.minhashNearDupsMd5, Dedup.clusters snapshots
    "q_curation_pipeline" -> 21, // Staging.snapshot, Scope.seal in Dedup.minhashNearDupsMd5, ScaleOps.prefixSum
    "q_repeat_recall" -> 6, // Staging.snapshot, ScaleOps.spreadCpu in Corpus.exactRepeats
    "q_scrub_composite" -> 21, // Scope.seal and count in Corpus.scrubComposite
    "q_scrub_composite_xx" -> 21, // Scope.seal and count in Corpus.scrubComposite
    // Corpus.scrubComposite, ScaleOps.spreadCpu in Corpus.exactRepeats.
    // The probe runs an adaptive plan whose job count depends on which
    // stage finishes first: 49-52 over about 190 builds, pinned at the
    // highest
    "q_scrub_recall" -> 52,
    // Scope.seal and its ScaleOps.spreadCpu probe in Dedup.hammingCandidates
    "q_image_neardup" -> 12,
    "q_video_neardup" -> 12,
    "q_video_avi" -> 12,
    "q_video_mp4" -> 12,
    "q_video_keyframes" -> 12,
    "q_audio_neardup" -> 12,
    "q_audio_spectral" -> 12,
    "q_audio_flac" -> 12,
    "q_audio_mulaw" -> 12,
    "q_audio_adpcm" -> 12,
    // ... plus the Dedup.clusters snapshots
    "q_image_clusters" -> 21,
    "q_video_clusters" -> 22)

  test("every pinned allowance names a declared query and is above 0") {
    assert(allowance.keySet -- graft.SparkEntry.defs.map(_.name) == Set.empty)
    assert(allowance.values.forall(_ > 0))
  }

  graft.SparkEntry.defs.foreach { q =>
    test(s"${q.name}: construction starts no more jobs than pinned") {
      val jobs =
        try SparkTestSession.jobsStartedBy(q.fn(spark, dir))._2.jobs
        finally graft.GraftSession.clearCaches(spark)
      val pin = allowance.getOrElse(q.name, 0)
      assert(jobs.size <= pin,
        s"${q.name} started ${jobs.size} job(s) at construction, " +
          s"pinned $pin: " + jobs.mkString(" | "))
    }
  }
}

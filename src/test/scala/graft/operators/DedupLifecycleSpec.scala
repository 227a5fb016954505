package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.SparkTestSession

/** Cache-lifecycle and lineage contracts of the dedup pipelines:
  *
  *  - every pipeline releases its persisted intermediates before
  *    returning (a long-lived session strands no blocks);
  *  - `clusters` truncates iteration lineage (constant-size plans however
  *    deep the component — the round-2 finding was a plan that doubled
  *    per iteration);
  *  - the lazy `*Plan` functions run NO job at construction time;
  *  - snapshots no caller can free stay executor-local under the
  *    reliable-checkpoint switch.
  */
class DedupLifecycleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  val dir = "/root/testdata/sf0.001"
  import spark.implicits._

  def docs: DataFrame = spark.read.parquet(s"$dir/documents.parquet")
  def emb: DataFrame = spark.read.parquet(s"$dir/embeddings.parquet")

  private def clearAll(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  test("each dedup pipeline leaves no cached plans or stranded RDD blocks") {
    val pipelines: Seq[(String, () => DataFrame)] = Seq(
      ("minhashCandidates", () => Dedup.minhashCandidates(docs, "doc_id", "text")),
      ("minhashNearDups", () => Dedup.minhashNearDups(docs, "doc_id", "text", 0.5)),
      ("simhashCandidates", () => Dedup.simhashCandidates(docs, "doc_id", "text")),
      ("cosineNearDups", () => Dedup.cosineNearDups(emb, "vec_id", "embedding",
        dim = 64, threshold = 0.4)))
    pipelines.foreach { case (name, build) =>
      clearAll()
      val result = build()
      assert(result.count() >= 0)
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left cached plans behind")
      // the only persisted RDD is the result's own checkpoint...
      val before = spark.sparkContext.getPersistentRDDs.size
      assert(before <= 1, s"$name stranded $before persisted RDDs")
      // ...and free() releases it
      Staging.free(result)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"$name: free() did not release the result blocks")
    }
  }

  test("clusters releases everything it persisted (input pairs excluded)") {
    clearAll()
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val labels = Dedup.clusters(pairs)
    assert(labels.count() == 5)
    assert(spark.sharedState.cacheManager.isEmpty, "clusters left cached plans")
    assert(spark.sparkContext.getPersistentRDDs.size <= 1,
      "clusters stranded intermediate blocks")
    Staging.free(labels)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("clusters plan size is constant in component depth (lineage truncated)") {
    // a diameter-15 chain needs 15 label-propagation iterations; without
    // per-iteration checkpointing the logical plan doubles per iteration
    // (2^15 leaves) and analysis alone would dominate. With truncation the
    // returned plan is a few nodes over one LogicalRDD leaf, the same
    // size as for a diameter-2 component.
    def planSize(pairs: Seq[(Long, Long)]): Int = {
      val labels = Dedup.clusters(pairs.toDF("id_a", "id_b"), maxIter = 20)
      val n = labels.queryExecution.analyzed.collect { case p => p }.size
      Staging.free(labels)
      n
    }
    val deep = planSize((0L until 15L).map(i => (i, i + 1)))
    val shallow = planSize(Seq((0L, 1L), (1L, 2L)))
    assert(deep == shallow,
      s"plan grows with depth: $deep nodes (deep) vs $shallow (shallow)")
    assert(deep <= 10, s"expected a near-leaf plan, got $deep nodes")
  }

  test("deep chains cluster correctly through the checkpointed iterations") {
    val chain = (0L until 15L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.clusters(chain, maxIter = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 15L).map(_ -> 0L).toMap)
  }

  /** `rdd-*` snapshot directories anywhere under `root`. */
  private def rddDirs(root: java.io.File): Int = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (!f.exists) Seq.empty
      else Option(f.listFiles).map(_.toSeq).getOrElse(Seq.empty)
        .flatMap(c => c +: walk(c))
    walk(root).count(f => f.isDirectory && f.getName.startsWith("rdd-"))
  }

  test("clusters with a reliable checkpoint dir yields identical labels " +
      "and deletes superseded snapshots") {
    val ckptDir = SparkTestSession.tmpPath("clusters_ckpt")
    val dirFile = new java.io.File(ckptDir)
    org.apache.commons.io.FileUtils.deleteQuietly(dirFile)
    val pairs = (0L until 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    spark.conf.set(Staging.CheckpointDirKey, ckptDir)
    val got = try Dedup.clusters(pairs, maxIter = 15)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally spark.conf.unset(Staging.CheckpointDirKey)
    assert(got == (0L to 10L).map(_ -> 0L).toMap)
    // ~11 iterations ran; only the FINAL labels snapshot may remain
    assert(rddDirs(dirFile) <= 1,
      s"reliable-mode iteration snapshots leaked: ${rddDirs(dirFile)} rdd dirs")
  }

  test("snapshots internal to a lazy plan stay executor-local under " +
      "spark.graft.checkpointDir: prefixSum and q_sketch_distinct") {
    val ckptDir = SparkTestSession.tmpPath("local_only_ckpt")
    val dirFile = new java.io.File(ckptDir)
    org.apache.commons.io.FileUtils.deleteQuietly(dirFile)
    val vals = (0L until 200L).map(i => (i, i % 7)).toDF("id", "v")
    spark.conf.set(Staging.CheckpointDirKey, ckptDir)
    try {
      assert(ScaleOps.prefixSum(vals, "id", "v").count() == 200)
      assert(graft.SparkEntry.queries("q_sketch_distinct")(spark, dir)
        .count() > 0)
    } finally spark.conf.unset(Staging.CheckpointDirKey)
    // no caller can free a snapshot inside these plans: reliable files
    // there would outlive every query
    assert(rddDirs(dirFile) == 0,
      s"internal snapshots wrote ${rddDirs(dirFile)} rdd dirs under $ckptDir")
  }

  test("scrubComposite releases its walk and chunk-span frames at the cut, " +
      "also when the cut fails") {
    clearAll()
    val out = Corpus.scrubComposite(docs, "doc_id", "text")
    // the one cached plan left is maskRepeatedSpans' session-owned token
    // frame, which the caller's action fills (`numCachedEntries` is
    // sql-private in Scala, public in the bytecode)
    val cm = spark.sharedState.cacheManager
    assert(cm.getClass.getMethod("numCachedEntries").invoke(cm) == 1,
      "scrubComposite left its walk or chunk-span frames cached")
    assert(out.count() > 0)
    clearAll()
    // a checkpoint dir on a file system that does not exist fails the
    // cut's snapshot after the walk and chunk spans are persisted
    spark.conf.set(Staging.CheckpointDirKey, "nosuchfs://nowhere/ck")
    try intercept[Exception](Corpus.scrubComposite(docs, "doc_id", "text"))
    finally spark.conf.unset(Staging.CheckpointDirKey)
    assert(spark.sharedState.cacheManager.isEmpty,
      "a failed cut stranded the walk or chunk-span frames")
  }

  test("spark.graft.checkpointDir flips every composite to reliable " +
      "checkpoints: identical results, files on disk, freed on free()") {
    val ckptDir = SparkTestSession.tmpPath("scope_ckpt")
    val dirFile = new java.io.File(ckptDir)
    org.apache.commons.io.FileUtils.deleteQuietly(dirFile)
    def pairsOf(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // default mode: executor-local snapshots, nothing under ckptDir
    val localMinhash = Dedup.minhashNearDups(docs, "doc_id", "text",
      threshold = 0.5)
    val localSem = Dedup.semanticNearDups(emb, "vec_id", "embedding", k = 4)
    val (wantMinhash, wantSem) = (pairsOf(localMinhash), pairsOf(localSem))
    Staging.free(localMinhash); Staging.free(localSem)
    assert(!dirFile.exists, "local mode must not touch the checkpoint dir")
    spark.conf.set(Staging.CheckpointDirKey, ckptDir)
    try {
      val relMinhash = Dedup.minhashNearDups(docs, "doc_id", "text",
        threshold = 0.5)
      assert(pairsOf(relMinhash) == wantMinhash,
        "reliable mode changed minhash pairs")
      val relSem = Dedup.semanticNearDups(emb, "vec_id", "embedding", k = 4)
      assert(pairsOf(relSem) == wantSem, "reliable mode changed sem pairs")
      // the seals really were reliable: snapshot files live under ckptDir
      val files = org.apache.spark.sql.graftbridge.Bridge
        .checkpointFiles(relMinhash)
      assert(files.nonEmpty && files.forall(_.contains("scope_ckpt")),
        s"expected reliable checkpoint files under $ckptDir, got $files")
      // free() must delete the reliable snapshot, not just drop blocks
      Staging.free(relMinhash); Staging.free(relSem)
      val conf = spark.sparkContext.hadoopConfiguration
      files.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        assert(!p.getFileSystem(conf).exists(p), s"free() leaked $f")
      }
    } finally spark.conf.unset(Staging.CheckpointDirKey)
  }

  test("rescanVerify (memory-lean) variant emits exactly the default pairs") {
    def pairsOf(rescan: Boolean): Set[(Long, Long)] =
      Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5,
        rescanVerify = rescan)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (lean, full) = (pairsOf(true), pairsOf(false))
    assert(lean == full, s"rescan variant diverged: ${lean.diff(full)} / ${full.diff(lean)}")
    assert(full.nonEmpty, "test vacuous: no near-dup pairs")
  }

  test("a failing pipeline releases its intermediates (seal in finally)") {
    clearAll()
    val poisoned = docs.withColumn("text",
      when(col("doc_id") >= 0, raise_error(lit("boom")))
        .otherwise(col("text")))
    intercept[Exception] {
      Dedup.minhashNearDups(poisoned, "doc_id", "text", 0.5)
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "failed pipeline stranded cached plans")
  }

  test("lazy *Plan builders run no job at construction") {
    // resolve the input readers first: spark.read.parquet itself runs a
    // footer-reading job, which is input setup, not plan construction
    val (d, e) = (docs, emb)
    d.schema; e.schema
    val scope = new Staging.Scope
    val ((cosine, minhash), work) = SparkTestSession.jobsStartedBy {
      (Dedup.cosineNearDupsPlan(scope, e, "vec_id", "embedding",
        dim = 64, threshold = 0.4, planesPerTable = 4, tables = 8,
        maxBucket = 256, seed = 42L),
       Dedup.minhashNearDupsPlan(scope, d, "doc_id", "text",
        threshold = 0.5, bands = 8, rows = 4, k = 3, maxBucket = 64))
    }
    assert(work.jobs.isEmpty,
      s"plan construction ran ${work.jobs.size} job(s) — must be fully lazy: " +
        work.jobs.mkString(" | "))
    // the plans do execute when acted on
    assert(cosine.count() >= 0 && minhash.count() >= 0)
    scope.release()
  }
}

package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.SparkTestSession

/** Scaling spec: every declared query runs as the bench runs it (`fn`,
  * then the noop-sink write, caches cleared first) at two sizes, and its
  * record counts must grow as its declared class says. Record counts are
  * deterministic where walls are not, so a superlinear operator fails here
  * instead of waiting for a hand-run 10x wall table.
  *
  * Small is sf0.001. Large is sf0.01's tables with `documents` and
  * `embeddings` replaced by a x10 replica of their 500 rows
  * ([[ScalingSpec.replicate]]), so every table but region and nation
  * grows x10.
  *
  * Linear is the default: a query that writes at least `minShuffle`
  * shuffle records at the small size may grow its shuffle records and its
  * largest per-task record count by at most `linearSlack` times its input
  * growth. A query outside that rule is declared in `declared` with its
  * class and the reason.
  */
class ScalingSpec extends AnyFunSuite {
  import ScalingSpec._

  private lazy val spark = SparkTestSession.get
  private val small = "/root/testdata/sf0.001"
  private lazy val large =
    replicate(spark, "/root/testdata/sf0.01", SparkTestSession.tmpPath("scaling_x10"), 10)

  private def run(q: QueryDef, dir: String): Counts = {
    graft.GraftSession.clearCaches(spark)
    val rows = new Observation(q.name)
    val (_, w) = SparkTestSession.jobsStartedBy(q.fn(spark, dir)
      .observe(rows, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save())
    Counts(w.inputRecords, w.shuffleRecords, w.maxTaskRecords,
      rows.get("n").asInstanceOf[Long])
  }

  /** For a query in `fileCaps`: the files it left under its scratch
    * path at `dir`, and the directories they sit in. */
  private def files(q: String, dir: String): Option[(Int, Int)] =
    fileCaps.get(q).map { case (name, suffix, _) =>
      val root = java.nio.file.Paths.get(Tables.scratchPath(name, dir))
      val all = java.nio.file.Files.walk(root)
      try {
        val ps = all.iterator().asScala.toSeq
        (ps.count(_.toString.endsWith(suffix)),
          ps.count(p => p != root && java.nio.file.Files.isDirectory(p)))
      } finally all.close()
    }

  test("the spec covers every declared query, and every exception names one") {
    val names = graft.SparkEntry.defs.map(_.name)
    assert(names.distinct.size == names.size)
    assert(testNames.filter(_.endsWith(testSuffix)).map(_.stripSuffix(testSuffix)) ==
      names.toSet)
    assert((declared.keySet ++ fileCaps.keySet) -- names == Set.empty)
    assert(declared.values.forall(_.reason.nonEmpty))
  }

  test("growth classes: linear, quadratic and capped bounds") {
    val s = Counts(input = 1000, shuffle = 1000, maxTask = 100, rows = 10)
    def l(shuffle: Long, maxTask: Long = 1000) = Counts(10000, shuffle, maxTask, 100)
    assert(check(None, s, l(15000)).isEmpty)
    assert(check(None, s, l(15001)).exists(_.startsWith("shuffle records grew x15.00")))
    assert(check(None, s, l(10000, maxTask = 1501)).exists(_.startsWith("max-task")))
    assert(check(None, s.copy(shuffle = minShuffle - 1), l(1000000)).isEmpty)
    assert(check(Some(Quadratic("r")), s, l(150000)).isEmpty)
    assert(check(Some(Quadratic("r")), s, l(150001)).nonEmpty)
    assert(check(Some(Capped(4, "r")), s, l(40000)).isEmpty)
    assert(check(Some(Capped(4, "r")), s, l(40001)).exists(_.contains("large size")))
    assert(check(Some(Capped(4, "r")), s.copy(shuffle = 4001), l(0)).exists(_.contains("small size")))
  }

  graft.SparkEntry.defs.foreach { q =>
    test(q.name + testSuffix) {
      val (s, sFiles) = (run(q, small), files(q.name, small))
      val (l, lFiles) = (run(q, large), files(q.name, large))
      check(declared.get(q.name), s, l).foreach(v =>
        fail(s"${q.name}: $v\n  small: $s\n  large: $l"))
      for ((_, suffix, cap) <- fileCaps.get(q.name);
           ((n, dirs), size) <- Seq(sFiles.get -> "small", lFiles.get -> "large")) {
        assert(n > 0, s"${q.name} wrote no $suffix file at the $size size")
        assert(n <= cap(dirs), s"${q.name} wrote $n $suffix files in " +
          s"$dirs directories at the $size size, capped at ${cap(dirs)}")
      }
    }
  }
}

object ScalingSpec {
  val testSuffix = ": record counts grow as declared from sf0.001 to x10"

  /** Linear: shuffle and max-task growth at most this many times the
    * input growth. The linear queries measure 0.39-1.47x, 131 of 135 at
    * most 1.21x (SCALE.md, "Scaling spec"). */
  val linearSlack = 1.5
  /** Below this many shuffle records at the small size a query is too
    * small to compare. */
  val minShuffle = 100L

  /** Records read from files, shuffle records written, the largest
    * per-task record count (see [[SparkTestSession.Work]]) and output rows. */
  final case class Counts(input: Long, shuffle: Long, maxTask: Long, rows: Long)

  /** A declared exception to linear growth, with its reason. */
  sealed trait Growth { def reason: String }
  /** Bucket-capped pair generation: a row pairs with at most `perRow`
    * others (bands x maxBucket), so work grows with the square of the
    * input until buckets fill and linearly after. Checked against that
    * bound at both sizes: shuffle records <= perRow x input records. */
  final case class Capped(perRow: Long, reason: String) extends Growth
  /** Pairs grow with the square of the input by the query's own
    * definition: shuffle and max-task growth at most `linearSlack` times
    * the square of the input growth. */
  final case class Quadratic(reason: String) extends Growth

  /** None if `s` (small) to `l` (large) grows as declared, else why not. */
  def check(growth: Option[Growth], s: Counts, l: Counts): Option[String] = {
    def ratio(a: Long, b: Long) = math.max(b, 1L).toDouble / math.max(a, 1L)
    val in = ratio(s.input, l.input)
    val (sh, mt) = (ratio(s.shuffle, l.shuffle), ratio(s.maxTask, l.maxTask))
    def within(bound: Double, what: String) =
      Seq("shuffle" -> sh, "max-task" -> mt).collectFirst {
        case (name, g) if g > bound =>
          f"$name records grew x$g%.2f on input x$in%.2f, above the $what bound x$bound%.2f"
      }
    growth match {
      case None if s.shuffle < minShuffle => None
      case None => within(linearSlack * in, "linear")
      case Some(Quadratic(_)) => within(linearSlack * in * in, "quadratic")
      case Some(Capped(perRow, _)) =>
        Seq("small" -> s, "large" -> l).collectFirst {
          case (size, c) if c.shuffle > perRow * c.input =>
            s"${c.shuffle} shuffle records at the $size size exceed " +
              s"$perRow per input record (${c.input})"
        }
    }
  }

  private val hamming = "4 x 16-bit chunk bands, maxBucket 64 (Dedup.hammingCandidates)"
  private val videoFrames = "videoNearDups bands every frame: at most 8 frames " +
    "(maxFrames) x 4 chunk bands x maxBucket 64"
  private val replicaDensity = "the x10 replica's perturbed copies put ~10 " +
    "near-copies of each source in its buckets, which fill toward the cap"

  /** The queries outside the linear default. Measured small -> large
    * ratios are in SCALE.md, "Scaling spec". */
  val declared: Map[String, Growth] = Map(
    "q_contamination" -> Quadratic("the probe set is doc_id % 97 = 0, 1% " +
      "of the corpus: probes x corpus shingle matches"),
    "q_simhash_complete" -> Quadratic("the banding-completeness certificate " +
      "runs with maxBucket = 4096, above every bucket at both sizes, so " +
      "every bucket emits all its pairs"),
    "q_fuzzy_join" -> Quadratic("blocking is by string length and every " +
      "supplier name has one length: all left x right pairs are verified"),
    "q_semdedup" -> Quadratic("k = 16 cells at every size: the within-cell " +
      "self-join verifies occupancy^2 pairs, and its largest task reads " +
      "the largest cell, which the replica grows faster than the corpus"),
    "q_dedup_cjk" -> Capped(8 * 64, s"MinHash LSH, 8 bands x maxBucket 64; $replicaDensity"),
    "q_text_embed_neardup" -> Capped(8 * 256,
      s"cosine LSH, 8 tables x maxBucket 256; $replicaDensity"),
    "q_dedup_simhash" -> Capped(4 * 64, s"SimHash, $hamming; $replicaDensity"),
    "q_dedup_simhash_xx" -> Capped(4 * 64, s"SimHash, $hamming; $replicaDensity"),
    "q_image_neardup" -> Capped(4 * 64, s"image dHash, $hamming; $replicaDensity"),
    "q_image_clusters" -> Capped(4 * 64, s"image dHash, $hamming; $replicaDensity"),
    "q_audio_neardup" -> Capped(4 * 64, s"audio fingerprint, $hamming; $replicaDensity"),
    "q_audio_spectral" -> Capped(4 * 64, s"audio fingerprint, $hamming; $replicaDensity"),
    "q_audio_flac" -> Capped(4 * 64, s"audio fingerprint, $hamming; $replicaDensity"),
    "q_audio_mulaw" -> Capped(4 * 64, s"audio fingerprint, $hamming; $replicaDensity"),
    "q_video_neardup" -> Capped(8 * 4 * 64, s"$videoFrames; $replicaDensity"),
    "q_video_clusters" -> Capped(8 * 4 * 64, s"$videoFrames; $replicaDensity"),
    "q_video_avi" -> Capped(8 * 4 * 64, s"$videoFrames; $replicaDensity"),
    "q_video_mp4" -> Capped(8 * 4 * 64, s"$videoFrames; $replicaDensity"),
    "q_video_keyframes" -> Capped(8 * 4 * 64, s"$videoFrames; $replicaDensity"))

  /** Write paths whose file count is capped by a layout knob, not by
    * rows: query -> (scratch name, file suffix, cap given the number of
    * directories written). */
  val fileCaps: Map[String, (String, String, Int => Int)] = Map(
    // numFiles = 32 range partitions over (month, ts): each writes one
    // file per month directory it spans
    "q_time_layout" -> ("q_time_layout", ".parquet", months => 32 + months - 1),
    "q_zorder_layout" -> ("q_zorder_layout", ".parquet", _ => 16), // numFiles = 16
    "q_tar_roundtrip" -> ("tar_rt", ".tar", _ => 20), // doc_id % 20 shards
    // one container per write task; the scan is one split at both sizes
    "q_avro_roundtrip" -> ("avro_rt", ".avro", _ => 1))

  /** Writes into `out` a copy of the tables in `src` whose `documents`
    * and `embeddings` are replicated `factor` times, the method of
    * `scripts/gen_scale.py`: copy 0 is the source row, every further copy
    * re-draws each token with probability 0.2 from the corpus vocabulary
    * (documents) or adds N(0, 0.05) noise to each component (embeddings).
    * Copy `r` shifts its id by `r` times the table's id span, so the ids
    * stay contiguous and every `id % m` split keeps its share. The other
    * tables are linked, not copied. Seeded: every run builds the same rows.
    */
  def replicate(spark: SparkSession, src: String, out: String, factor: Int,
      seed: Long = 20260813L): String = {
    import java.nio.file.{Files, Paths}
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    Files.createDirectories(Paths.get(out))
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events").foreach { t =>
      Files.createSymbolicLink(Paths.get(s"$out/$t.parquet"), Paths.get(s"$src/$t.parquet"))
    }
    val rng = new scala.util.Random(seed)
    def write(name: String, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, Tables.schema(name))
        .coalesce(1).write.parquet(s"$out/$name.parquet")

    val docs = Tables.documents(spark, src).orderBy("doc_id").collect().toSeq
    val vocab = docs.flatMap(r => tokens(r.getString(1))).distinct.sorted.toIndexedSeq
    val docSpan = docs.map(_.getLong(0)).max + 1
    write("documents", for (r <- 0 until factor; d <- docs) yield {
      val text =
        if (r == 0 || d.isNullAt(1)) d.getString(1)
        else tokens(d.getString(1)).map(t =>
          if (rng.nextDouble() < 0.2) vocab(rng.nextInt(vocab.size)) else t).mkString(" ")
      Row(d.getLong(0) + r * docSpan, text, d.get(2), d.get(3),
        Option(text).map(t => t.codePointCount(0, t.length).toLong).orNull)
    })

    val emb = Tables.embeddings(spark, src).orderBy("vec_id").collect().toSeq
    val vecSpan = emb.map(_.getLong(0)).max + 1
    write("embeddings", for (r <- 0 until factor; e <- emb) yield {
      val v = e.getSeq[Float](1)
      Row(e.getLong(0) + r * vecSpan,
        if (r == 0 || v == null) v
        else v.map(x => (x + rng.nextGaussian() * 0.05).toFloat),
        e.get(2))
    })
    out
  }

  private def tokens(text: String): Seq[String] =
    if (text == null) Nil else text.trim.split("\\s+").toSeq.filter(_.nonEmpty)
}

package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.{Dedup, Staging, TextAnalysis}
import graft.queries.{Differential, Tables}

/** Prints the measured xx-vs-md5 agreement stats behind the q_*_xx
  * differential certificates (Differential's scaladoc): run before
  * changing a pinned bound, so bounds always trace to a measurement.
  *
  *   sbt "runMain graft.tools.DiffProbe /root/testdata/sf0.01"
  */
object DiffProbe {

  /** `sweep` mode: the simhash xx-vs-md5 pair-set jaccard measured over
    * every SF dir x deterministic subsample (full corpus plus the three
    * doc_id % 3 residue classes — "seeds" without an RNG: each residue
    * is an independent-ish sub-corpus with its own borderline pairs).
    * The MINIMUM over this grid is the measurement a pinned certificate
    * bound must trace to (bound = floor(min) - margin); run before any
    * re-pin and commit the output (bench/diffprobe_simhash_r*.txt).
    */
  def simhashSweep(spark: SparkSession, dirs: Seq[String]): Unit = {
    for (dir <- dirs) {
      val docs = Tables.documents(spark, dir)
      val subs: Seq[(String, org.apache.spark.sql.DataFrame)] =
        ("full" -> docs) +: (0 until 3).map(r =>
          s"doc_id%3==$r" -> docs.filter(col("doc_id") % 3 === r))
      for ((name, sub) <- subs) {
        val row = Differential.pairStats(sub, "doc_id", "text",
          Dedup.simhashCandidates(sub, "doc_id", "text")
            .filter(col("hamming") <= 3),
          Dedup.simhashCandidatesMd5(sub, "doc_id", "text")
            .filter(col("hamming") <= 3)).collect().head
        println(f"simhash $dir%-28s $name%-12s n_xx=${row.getAs[Long]("n_xx")}%5d " +
          f"n_twin=${row.getAs[Long]("n_twin")}%5d n_both=${row.getAs[Long]("n_both")}%5d " +
          f"jaccard=${row.getAs[Double]("jaccard")}%.4f")
        // cross-mode signature consistency: for each mode's pairs, the
        // OTHER mode's signature hamming — pairs near the <= 3 cutoff in
        // one hash family must be near it in the other (both famillies'
        // bit flips count the same differing tokens), so the quantiles
        // here are the measurement behind a crossHammingBound contract
        val sigXx = sub.select(col("doc_id"),
          Dedup.simhash(col("text")).as("sig"))
        val sigMd5 = sub.select(col("doc_id"),
          Dedup.simhashFromHashes(org.apache.spark.sql.functions.transform(
            split(trim(lower(coalesce(col("text"), lit("")))), "\\s+"),
            t => graft.functions.Md5Hashes.md5Hash64(t))).as("sig"))
        def crossHam(pairs: org.apache.spark.sql.DataFrame,
            sigs: org.apache.spark.sql.DataFrame): Array[Int] =
          pairs.select("id_a", "id_b")
            .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sa")), "id_a")
            .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sb")), "id_b")
            .select(bit_count(col("sa").bitwiseXOR(col("sb"))).as("h"))
            .collect().map(_.getInt(0)).sorted
        def stats(h: Array[Int]): String =
          if (h.isEmpty) "n=0"
          else f"n=${h.length} p50=${h(h.length / 2)} p90=${h((h.length * 9) / 10)} max=${h.last}"
        val mdPairs = Dedup.simhashCandidatesMd5(sub, "doc_id", "text")
          .filter(col("hamming") <= 3)
        val xxPairs = Dedup.simhashCandidates(sub, "doc_id", "text")
          .filter(col("hamming") <= 3)
        println(s"  md5-pairs under XX sigs:  ${stats(crossHam(mdPairs, sigXx))}")
        println(s"  xx-pairs under MD5 sigs:  ${stats(crossHam(xxPairs, sigMd5))}")
      }
    }
  }

  /** `dsir` mode: the DSIR xx-vs-md5 selection agreement measured over
    * every SF dir x deterministic subsample (same grid discipline as
    * [[simhashSweep]]). Per cell: top-k ID-set jaccard between the two
    * modes, and the quantiles of the xx-mode selection RANK of the md5
    * twin's picks (rank = 1 + docs strictly ahead under the
    * `(weight DESC, id ASC)` cut order) — the measurements behind
    * q_dsir_select_xx's `jaccardBound` / `rankFactor` pins. Run before
    * any re-pin; commit the output (bench/diffprobe_dsir_r*.txt).
    */
  def dsirSweep(spark: SparkSession, dirs: Seq[String], k: Int = 50): Unit = {
    import graft.operators.Dsir
    for (dir <- dirs) {
      val docs = Tables.documents(spark, dir)
      val subs: Seq[(String, org.apache.spark.sql.DataFrame)] =
        ("full" -> docs) +: (0 until 3).map(r =>
          s"doc_id%3==$r" -> docs.filter(col("doc_id") % 3 === r))
      for ((name, sub) <- subs) {
        val tgt = col("source") === "src0"
        val md5Sel = Dsir.select(sub, "doc_id", "text", tgt, k = k)
        val xxW = Dsir.weights(sub, "doc_id", "text", tgt, xx = true)
        val xxSel = Dsir.cut(xxW, k)
        val mIds = md5Sel.select("id").collect().map(_.getLong(0)).toSet
        val xIds = xxSel.select("id").collect().map(_.getLong(0)).toSet
        val jac =
          if (mIds.isEmpty && xIds.isEmpty) Double.NaN
          else (mIds & xIds).size.toDouble / (mIds | xIds).size.toDouble
        // xx-mode rank of each twin pick (same law the certificate pins)
        val sel = broadcast(md5Sel.select(col("id").as("__mid"))
          .join(xxW.select(col("id").as("__mid"),
            col("dsir_weight").as("__mw")), "__mid"))
        val ranks = xxW.join(sel,
            col("dsir_weight") > col("__mw") ||
              (col("dsir_weight") === col("__mw") &&
                col("id") < col("__mid")))
          .groupBy("__mid").agg(count(lit(1)).as("__ahead"))
        val r = sel.select(col("__mid"))
          .join(ranks, Seq("__mid"), "left")
          .select((coalesce(col("__ahead"), lit(0L)) + 1L).as("rank"))
          .collect().map(_.getLong(0)).sorted
        def q(p: Double): Long =
          if (r.isEmpty) -1L else r(math.min(r.length - 1,
            (r.length * p).toInt))
        // per-doc weight delta over the twin picks — the measurement
        // behind the certificate's twin_weight_ok bound
        val d = md5Sel.select(col("id"), col("dsir_weight").as("__wm"))
          .join(xxW.select(col("id"), col("dsir_weight").as("__wx")),
            Seq("id"), "left")
          .select(coalesce(abs(col("__wx") - col("__wm")),
            lit(Double.MaxValue)).as("__d"))
          .collect().map(_.getDouble(0)).sorted
        def dq(p: Double): Double =
          if (d.isEmpty) -1d else d(math.min(d.length - 1,
            (d.length * p).toInt))
        println(f"dsir $dir%-28s $name%-12s n_twin=${mIds.size}%3d " +
          f"n_xx=${xIds.size}%3d jaccard=$jac%.4f " +
          f"rank_p50=${q(0.5)}%4d rank_p90=${q(0.9)}%5d rank_max=${if (r.isEmpty) -1L else r.last}%5d " +
          f"wdelta_p50=${dq(0.5)}%.4f wdelta_p90=${dq(0.9)}%.4f wdelta_max=${if (d.isEmpty) -1d else d.last}%.4f")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("dsir")) {
      val dirs =
        if (args.length > 1) args.drop(1).toSeq
        else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
          "/root/testdata/sf0.1")
      val spark = GraftSession()
      dsirSweep(spark, dirs)
      spark.stop()
      return
    }
    if (args.headOption.contains("sweep")) {
      val dirs =
        if (args.length > 1) args.drop(1).toSeq
        else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
          "/root/testdata/sf0.1")
      // the engine posture (ANSI off): a 0/0 jaccard on a tiny
      // subsample must read NULL, not kill the sweep
      val spark = GraftSession()
      simhashSweep(spark, dirs)
      spark.stop()
      return
    }
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession()
    val docs = Tables.documents(spark, dir)

    println(s"== minhash ($dir)")
    Differential.pairStats(docs, "doc_id", "text",
      Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5),
      Dedup.minhashNearDupsMd5(docs, "doc_id", "text", threshold = 0.5))
      .show(false)

    println("== simhash")
    Differential.pairStats(docs, "doc_id", "text",
      Dedup.simhashCandidates(docs, "doc_id", "text")
        .filter(col("hamming") <= 3),
      Dedup.simhashCandidatesMd5(docs, "doc_id", "text")
        .filter(col("hamming") <= 3))
      .show(false)

    println("== embed")
    val embXx = Staging.snapshot(TextAnalysis.hashEmbed(
      docs, "doc_id", "text", dim = 256, n = 2))
    val embMd5 = Staging.snapshot(TextAnalysis.hashEmbedMd5(
      docs, "doc_id", "text", dim = 256, n = 2))
    Differential.pairStats(docs, "doc_id", "text",
      Dedup.cosineNearDups(embXx, "doc_id", "vec", dim = 256, threshold = 0.6),
      Dedup.cosineNearDups(embMd5, "doc_id", "vec", dim = 256, threshold = 0.6))
      .show(false)

    println("== stream")
    val withTs = docs.withColumn("ts",
      timestamp_micros((col("doc_id") + 10000L) * 1000000L))
    val thr = graft.queries.PipelineQueries.streamNearDupThreshold
    Differential.docStats(docs, "doc_id", "text",
      graft.streaming.StreamDedup.nearDupHits(withTs, "doc_id", "ts", "text",
        threshold = thr),
      graft.streaming.StreamDedup.nearDupHits(withTs, "doc_id", "ts", "text",
        threshold = thr, md5Mode = true))
      .show(false)

    spark.stop()
  }
}

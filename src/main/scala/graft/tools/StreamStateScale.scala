package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming state-growth evidence: replay a document corpus as an
  * event-time micro-batch stream at a FIXED arrival rate (one doc per
  * event-time second, fixed docs-per-batch) through the two stateful
  * streaming operators, recording the state store size after every
  * batch. The claim to prove (SCALE.md): with fixed bucket caps and a
  * fixed watermark horizon, state size tracks `arrival rate x horizon` —
  * NOT corpus size — so a 10x/100x corpus runs 10x/100x MORE batches at
  * the SAME per-batch state plateau.
  *
  *   sbt "runMain graft.tools.StreamStateScale /root/testdata/sf0.1 1x"
  *   sbt "runMain graft.tools.StreamStateScale target/scale10x 10x"
  *
  * Batch order is made deterministic by explicitly setting each slice
  * file's modification time in sequence (FileStreamSource orders by mod
  * time) — no wall-clock sleeps between writes.
  */
object StreamStateScale {

  private final case class BatchRow(batchId: Long, inputRows: Long,
      stateRows: Long, stateBytes: Long)

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val label = args.lift(1).getOrElse(dir)
    val perBatch = args.lift(2).map(_.toInt).getOrElse(5000)
    val horizonMs = 600L * 1000 // 10 min of event time at 1 doc/sec
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("ERROR")

    // ---- source layout: contiguous ids -> ts = t0 + rank seconds, one
    // flat file per `perBatch` slice, mod-times strictly increasing
    val safe = label.replaceAll("[^A-Za-z0-9]", "_")
    val base = s"target/stream_scale/$safe"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val docs0 = graft.queries.Tables.documents(spark, dir)
    val minId = docs0.agg(min("doc_id")).head().getLong(0)
    val t0 = 1700000000L
    val sliced = docs0
      .withColumn("rn", col("doc_id") - minId)
      .withColumn("ts", timestamp_micros((lit(t0) + col("rn")) * 1000000L))
      .withColumn("slice", (col("rn") / perBatch).cast("int"))
      .select("doc_id", "ts", "text", "lang", "slice")
    sliced.repartition(col("slice"))
      .write.partitionBy("slice").parquet(s"$base/tmp")
    val flat = new java.io.File(s"$base/src")
    flat.mkdirs()
    val sliceDirs = Option(new java.io.File(s"$base/tmp").listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("slice="))
      .sortBy(f => f.getName.stripPrefix("slice=").toInt)
    var i = 0
    sliceDirs.foreach { sd =>
      sd.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        val dst = new java.io.File(flat, f"b$i%05d.parquet")
        java.nio.file.Files.move(f.toPath, dst.toPath)
        dst.setLastModified(1000000000000L + i * 1000L)
        i += 1
      }
    }
    val nBatches = i
    System.err.println(s"[stream-scale] $label: $nBatches slices of <= $perBatch docs")

    val schema = sliced.drop("slice").schema

    // ---- per-batch progress capture
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(String, BatchRow)]
    @volatile var currentOp = ""
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.stateOperators.nonEmpty && p.numInputRows > 0)
          rows.add(currentOp -> BatchRow(p.batchId, p.numInputRows,
            p.stateOperators.map(_.numRowsTotal).sum,
            p.stateOperators.map(_.memoryUsedBytes).sum))
      }
    })

    def run(op: String, out: DataFrame => DataFrame): Unit = {
      currentOp = op
      val ckpt = s"$base/ckpt_$op"
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = out(stream).writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      q.processAllAvailable()
      q.stop()
      // drain the async listener bus before switching ops
      Thread.sleep(1000)
    }

    // streaming near-dup at ingest (q_stream_neardup's operator): state =
    // capped (band,bucket) signatures inside the watermark horizon
    run("stream_neardup", s =>
      graft.streaming.StreamDedup.nearDupHits(s, "doc_id", "ts", "text",
        threshold = 0.5, horizonMs = horizonMs, maxBucket = 64))
    // streaming Misra-Gries top-k (q_stream_topterms's operator) over the
    // token stream: state = <= k counters per live group key
    run("stream_topterms", s =>
      graft.streaming.StreamTopK.topTerms(
        s.select(col("lang"), col("ts"),
          explode(split(lower(col("text")), "\\s+")).as("term")),
        "lang", "ts", "term", k = 8, horizonMs = horizonMs))
    // streaming CDC dedup at a HORIZON SWEEP (the r18-verdict ask: the
    // state-size-vs-horizon curve). The claim: peak state rows track
    // `horizon x chunk arrival rate` — at 1 doc/sec event time and
    // ~6 chunks/doc, peak ~ horizon_s x 6 — flat in CORPUS size (a
    // bigger corpus runs longer at the same plateau)
    for (hs <- Seq(150L, 300L, 600L, 1200L))
      run(s"stream_cdc_h${hs}s", s =>
        graft.streaming.StreamCdc.dupChunkHits(s, "doc_id", "ts", "text",
          horizonMs = hs * 1000L))
    // streaming long-repeat candidate census (q_stream_repeats's
    // operator): state = one constant-size record per live seed hash
    run("stream_repeats", s =>
      graft.streaming.StreamRepeats.repeatCandidates(s, "doc_id", "ts",
        "text", horizonMs = horizonMs))

    import scala.jdk.CollectionConverters._
    val byOp = rows.asScala.toVector.groupBy(_._1)
    byOp.toSeq.sortBy(_._1).foreach { case (op, rs) =>
      val brs = rs.map(_._2).sortBy(_.batchId)
      brs.foreach(b => println(
        s"""{"label":"$label","op":"$op","batch":${b.batchId},"input_rows":${b.inputRows},"state_rows":${b.stateRows},"state_bytes":${b.stateBytes}}"""))
      val peak = if (brs.nonEmpty) brs.map(_.stateRows).max else 0L
      val peakMb = if (brs.nonEmpty) brs.map(_.stateBytes).max / 1048576.0 else 0.0
      println(s"""{"label":"$label","op":"$op","summary":true,"n_batches":${brs.size},"peak_state_rows":$peak,"peak_state_mb":$peakMb}""")
    }
    spark.stop()
  }
}

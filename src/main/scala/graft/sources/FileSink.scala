package graft.sources

import java.io.{BufferedOutputStream, ByteArrayInputStream,
  ByteArrayOutputStream, DataInputStream, DataOutputStream, IOException,
  OutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{GlobFilter, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow

/** The one task-commit protocol of the container sinks ([[AvroFiles]],
  * [[ProtoFiles]], [[JsonlZstd]], [[WarcFiles]], [[TarShards]]). A writer
  * names its files and encodes rows to an `OutputStream`; getting those
  * bytes under their final name, whole or not at all, happens here.
  *
  *  - Before the job, on the driver: `mkdirs`, then delete the previous
  *    job's finals (the `finals` glob, which is also the reader's glob)
  *    and the temps that dead attempts left (`*<tmpMarker>*`). The
  *    driver's Hadoop `Configuration` ships to tasks through its own
  *    Writable round-trip (it is not Java-serializable), against the
  *    qualified output URI, so a task never falls back to its own
  *    default FS.
  *  - Each task attempt streams to its own `<stem><tmpMarker><uuid>` and
  *    renames it to `<stem>.<ext>` only after the body returned. A task
  *    that dies mid-write leaves a temp, never a truncated final; no
  *    marker matches its reader's glob (checked below), and the next job
  *    sweeps it.
  *  - The commit renames FIRST and never deletes-then-renames: the sweep
  *    already removed stale finals, so within a job an existing final can
  *    only be a sibling attempt's complete equivalent file, and a
  *    delete-then-rename would let a straggler delete that committed file
  *    and die before renaming its own. A failed rename with the final
  *    present means the sibling won and the temp is dropped; a failed
  *    rename with no final raises. Sequential retries stay idempotent.
  *  - On any failure the temp is closed and deleted.
  */
private[sources] final class FileSink private (outUri: String,
    confBytes: Array[Byte], tmpMarker: String) extends Serializable {

  /** Writes and commits `<stem>.<ext>`; runs in a task. `body` encodes
    * into the stream and returns its row count. A body that wraps the
    * stream (a container writer, a compressor) closes the wrapper before
    * it returns; the sink closes the stream itself.
    */
  def commit(stem: String, ext: String)(body: OutputStream => Long): Long = {
    val conf = new Configuration(false)
    conf.readFields(new DataInputStream(new ByteArrayInputStream(confBytes)))
    val p = new Path(outUri, s"$stem.$ext")
    val tmp = new Path(outUri, s"$stem$tmpMarker${java.util.UUID.randomUUID()}")
    val fs = p.getFileSystem(conf)
    val os = new BufferedOutputStream(fs.create(tmp, true), 1 << 16)
    var committed = false
    try {
      val count = body(os)
      os.close()
      if (!fs.rename(tmp, p)) {
        if (fs.exists(p)) fs.delete(tmp, false)
        else throw new IOException(s"FileSink: rename $tmp -> $p failed")
      }
      committed = true
      count
    } finally {
      if (!committed) {
        try os.close() catch { case _: Throwable => () }
        try fs.delete(tmp, false) catch { case _: Throwable => () }
      }
    }
  }

  /** One `part-<pid>.<ext>` per partition of `rows`, each committed by
    * [[commit]]; runs the job. */
  def writeParts(rows: RDD[InternalRow], ext: String)(
      body: (Iterator[InternalRow], OutputStream) => Long): Unit = {
    rows.mapPartitionsWithIndex { (pid, it) =>
      Iterator.single(commit(f"part-$pid%05d", ext)(body(it, _)))
    }.count()
    ()
  }
}

private[sources] object FileSink {

  /** Prepares `outDir` for a new job (see the class scaladoc) and returns
    * its sink. `finals` is the glob the format's reader loads; `tmpMarker`
    * must keep every temp name outside it. */
  def apply(spark: SparkSession, outDir: String, finals: String,
      tmpMarker: String): FileSink = {
    require(!new GlobFilter(finals).accept(new Path(s"part-0$tmpMarker-0")),
      s"temp marker '$tmpMarker' would match the read glob '$finals'")
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val out = new Path(outDir)
    val fs = out.getFileSystem(hadoopConf)
    fs.mkdirs(out)
    for (glob <- Seq(finals, s"*$tmpMarker*"))
      Option(fs.globStatus(new Path(out, glob)))
        .foreach(_.foreach(s => fs.delete(s.getPath, false)))
    val confBytes = new ByteArrayOutputStream()
    val dos = new DataOutputStream(confBytes)
    hadoopConf.write(dos); dos.close()
    new FileSink(fs.makeQualified(out).toString, confBytes.toByteArray,
      tmpMarker)
  }
}

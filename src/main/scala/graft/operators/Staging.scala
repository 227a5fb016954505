package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

/** Staging: the one place an intermediate is materialized, kept or
  * released. Every persist and checkpoint in the main sources, and every
  * release of one, goes through here; `graft.GraftSession.clearCaches`
  * drops whatever the session still holds.
  *
  *  - [[snapshot]]: eager and lineage-free, for a frame a later step
  *    needs computed (an iteration fixpoint, a decision read off its
  *    values, a fan-out whose branches would each recompute it).
  *  - [[Scope]]: lazy `persist`s tracked per pipeline invocation, filled
  *    by the first action and released by `seal` or `release`.
  *  - [[persist]]: a lazy persist with no release point, owned by the
  *    session.
  *
  * Cache lifecycle: each pipeline invocation persists its intermediates in
  * a private [[Scope]], materializes its result once ([[Scope.seal]]) and
  * releases every intermediate before returning, so a long-lived session
  * accumulates no stranded cache blocks. The returned frame is
  * snapshot-backed (computed, reusable, lineage-free); release its own
  * blocks with [[free]] when finished (otherwise the ContextCleaner
  * reclaims them on GC).
  *
  * Session-owned lazy sites have no release point: the token frame of
  * `Corpus.maskRepeatedSpans` and the two frames of
  * `Differential.bandingCompletenessCertificate` are consumed by the
  * caller's action, after the function that planned them has returned.
  * They stay in the session's cache until
  * `graft.GraftSession.clearCaches` drops them.
  */
object Staging {

  /** Session conf switch for reliable checkpoints. When set, every
    * [[snapshot]] that may be durable (the [[Scope.seal]] behind all the
    * LSH pipelines, `Dedup.clusters`' iteration snapshots, the text-embed
    * staging) checkpoints INTO THAT DIRECTORY instead of executor-local
    * blocks: the posture for multi-hour production runs where losing an
    * executor must not restart the whole pipeline. One switch, all
    * composites.
    */
  val CheckpointDirKey = "spark.graft.checkpointDir"

  private val Level = StorageLevel.MEMORY_AND_DISK

  /** Materialize `df` eagerly and lineage-free: reliable `checkpoint` when
    * [[CheckpointDirKey]] is set in the session conf, executor-local
    * otherwise (the single-session fast path). Same plan shape either
    * way; only the snapshot's durability changes.
    *
    * `local` forces the executor-local snapshot whatever the conf says. It
    * is for a snapshot internal to a lazy plan that no caller can reach
    * to [[free]]: reliable files there would leak one snapshot per
    * invocation in a long-lived session, while executor blocks are
    * reclaimed by the ContextCleaner and `graft.GraftSession.clearCaches`.
    */
  def snapshot(df: DataFrame, local: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val dir =
      if (local) None
      else spark.conf.getOption(CheckpointDirKey).filter(_.nonEmpty)
    dir match {
      case Some(d) =>
        val sc = spark.sparkContext
        // setCheckpointDir mints a fresh UUID subdir per call: only
        // repoint when the current dir isn't already under the configured
        // root, so repeated snapshots share one directory. "Under" is a
        // real ancestor test (same scheme/authority + path-segment
        // prefix), NOT a substring match: an unrelated dir that merely
        // CONTAINS the root path as a substring (or a file:/ dir vs an
        // hdfs:// root) must not suppress the repoint, or the durability
        // the conf switch promises is silently void.
        if (!sc.getCheckpointDir.exists(isUnderRoot(_, d, sc.hadoopConfiguration)))
          sc.setCheckpointDir(d)
        df.checkpoint(eager = true)
      case None => df.localCheckpoint(eager = true)
    }
  }

  /** true iff `current` is `root` or a descendant of it. Both sides are
    * QUALIFIED against the Hadoop conf first (a bare local root like
    * `/tmp/ck` must match the `file:/tmp/ck/<uuid>` dir setCheckpointDir
    * reports), then compared as URIs: scheme and authority must agree
    * and the paths must match on whole segments. Any resolution failure
    * answers false: repointing is the safe direction. */
  private[operators] def isUnderRoot(current: String, root: String,
      conf: org.apache.hadoop.conf.Configuration): Boolean =
    try {
      def qualify(s: String): java.net.URI = {
        val p = new org.apache.hadoop.fs.Path(s)
        val fs = p.getFileSystem(conf)
        p.makeQualified(fs.getUri, fs.getWorkingDirectory).toUri
      }
      val cu = qualify(current)
      val ru = qualify(root)
      def norm(s: String): String = Option(s).getOrElse("").stripSuffix("/")
      Option(cu.getScheme).getOrElse("") == Option(ru.getScheme).getOrElse("") &&
        Option(cu.getAuthority).getOrElse("") == Option(ru.getAuthority).getOrElse("") && {
          val cp = norm(cu.getPath)
          val rp = norm(ru.getPath)
          cp == rp || cp.startsWith(rp + "/")
        }
    } catch { case _: Exception => false }

  /** Release a [[snapshot]]-backed frame: its executor blocks, and its
    * reliable-checkpoint files when [[CheckpointDirKey]] was set (those
    * live on disk, where `unpersist` does not reach, and the cleaner's
    * checkpoint cleaning is off by default). The frame must not be used
    * afterwards.
    */
  def free(df: DataFrame): Unit = {
    val files = Bridge.checkpointFiles(df)
    Bridge.unpersistCheckpoint(df)
    if (files.nonEmpty) {
      val conf = df.sparkSession.sparkContext.hadoopConfiguration
      files.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        try p.getFileSystem(conf).delete(p, true)
        catch { case _: java.io.IOException => () }
      }
    }
  }

  /** A lazy persist the session owns: no scope tracks it, the caller's
    * action fills it, and `graft.GraftSession.clearCaches` drops it. */
  def persist(df: DataFrame): DataFrame = df.persist(Level)

  /** Persisted intermediates of ONE pipeline invocation. `seal`
    * materializes the result via an eager [[snapshot]] (every persisted
    * intermediate is therefore computed exactly once while still cached)
    * and then unpersists the intermediates. Handles are kept to the exact
    * persisted frames because unpersisting a projection of a cached plan
    * is a no-op.
    */
  private[graft] final class Scope {
    private val handles = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def persist(df: DataFrame): DataFrame = {
      handles += df
      Staging.persist(df)
    }
    def seal(result: DataFrame): DataFrame =
      // release in finally: a failed materialization (task OOM, corrupt
      // input) must not strand the already-cached intermediates
      try snapshot(result) finally release()
    /** Unpersist every tracked intermediate without materializing anything
      * (for callers of the lazy `*Plan` functions managing their own
      * terminal action, and for iterations that end in their own
      * snapshot).
      */
    def release(): Unit = {
      handles.foreach(_.unpersist(blocking = false))
      handles.clear()
    }
  }
}

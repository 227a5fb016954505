package graft.core

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One shared local[4] SparkSession for the whole test run, on the
  * bench configuration ([[graft.GraftSession]]). */
object SparkTestSession {
  lazy val get: SparkSession = graft.GraftSession(4)

  /** What a body made Spark do: the jobs it started, one entry per job
    * (the job's stage names), and over all their tasks the records read
    * from files, the shuffle records written, and the largest count of
    * records one task read (its input, staged data included, plus its
    * shuffle reads). A staged frame read back (a checkpoint or a cached
    * block) is not file input: its stage has no `FileScanRDD`. */
  final case class Work(jobs: Seq[String], inputRecords: Long,
      shuffleRecords: Long, maxTaskRecords: Long)

  /** Runs `body` and returns its result with the [[Work]] it started — for
    * asserting that plan construction runs no job, or no more than a
    * pinned count, and for comparing record counts across input sizes.
    */
  def jobsStartedBy[A](body: => A): (A, Work) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val fileStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val input, shuffle, maxTask = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        seen.add(jobStart.stageInfos.map(_.name).mkString("; "))
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (s.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          fileStages.add(s.stageInfo.stageId)
      override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit =
        Option(taskEnd.taskMetrics).foreach { m =>
          val read = m.inputMetrics.recordsRead
          if (fileStages.contains(taskEnd.stageId)) input.addAndGet(read)
          shuffle.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          maxTask.accumulateAndGet(read + m.shuffleReadMetrics.recordsRead,
            (a, b) => math.max(a, b))
        }
    }
    get.sparkContext.addSparkListener(listener)
    try {
      val result = body
      org.apache.spark.graftbridge.ListenerBus.drain(get.sparkContext)
      (result, Work(seen.toArray(Array.empty[String]).toSeq, input.get,
        shuffle.get, maxTask.get))
    } finally get.sparkContext.removeSparkListener(listener)
  }

  /** Pid-keyed scratch path for test fixtures, under the scratch root
    * the write-then-read queries use ([[graft.queries.Tables.scratchRoot]]):
    * a concurrent test JVM cannot clobber this run's files, the tree is
    * deleted at JVM exit, and trees of dead pids are swept on first use.
    */
  def tmpPath(name: String): String = s"${graft.queries.Tables.scratchRoot}/$name"
}

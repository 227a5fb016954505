package graft.core

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local[4] SparkSession for the whole test run, on the
  * bench configuration ([[graft.GraftSession]]). */
object SparkTestSession {
  lazy val get: SparkSession = graft.GraftSession(4)

  /** Runs `body` and returns its result with the Spark jobs it started,
    * one entry per job (the job's stage names) — for asserting that plan
    * construction runs no job, or no more than a pinned count.
    */
  def jobsStartedBy[A](body: => A): (A, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        seen.add(jobStart.stageInfos.map(_.name).mkString("; "))
    }
    get.sparkContext.addSparkListener(listener)
    try {
      val result = body
      org.apache.spark.graftbridge.ListenerBus.drain(get.sparkContext)
      (result, seen.toArray(Array.empty[String]).toSeq)
    } finally get.sparkContext.removeSparkListener(listener)
  }

  /** Pid-keyed scratch path for test fixtures: a concurrent or orphaned
    * test JVM sharing the machine cannot clobber this run's files (the
    * hazard that once poisoned a fixed checkpoint-dir assert). This run's
    * tree is deleted on JVM exit, and trees left by DEAD pids (crashed or
    * kill -9'd runs, which never reach their own hook) are swept on first
    * use — so repeated runs don't accumulate fixture data under tmp.
    */
  def tmpPath(name: String): String = s"$tmpRoot/$name"

  private lazy val tmpRoot: String = {
    val base = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmTree))
      f.delete()
    }
    Option(base.listFiles).getOrElse(Array.empty)
      .filter(_.getName.startsWith("graft-test-pid"))
      .foreach { d =>
        val alive = d.getName.stripPrefix("graft-test-pid").toLongOption
          .exists(p => {
            val h = ProcessHandle.of(p)
            h.isPresent && h.get.isAlive
          })
        if (!alive) rmTree(d)
      }
    val mine = new java.io.File(base,
      s"graft-test-pid${ProcessHandle.current().pid()}")
    Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(mine)))
    mine.getPath
  }
}

package graft.tools

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import graft.GraftSession

/** Per-stage wall/CPU breakdown for declared queries — the empirical
  * half of the optimization loop (spark_optimization_guide §1.1) when
  * the UI is unavailable: for the BEST of `reps` runs, prints every
  * stage's task count, wall (submission -> completion), summed task
  * run/CPU time, and the first line of its call site, sorted by wall.
  * Reads the time sinks directly: a stage with tasks=1 and cpu ~ wall
  * is a serialized kernel; many stages of a few ms each is
  * scheduling/stage-count overhead; run >> cpu is waiting.
  *
  *   sbt "runMain graft.tools.StageProfile /root/testdata/sf0.1 3 q_a q_b"
  */
object StageProfile {

  private final case class St(name: String, tasks: Int, runMs: Long,
      cpuNs: Long, wallMs: Long)

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = args(1).toInt.max(1)
    val names = args.drop(2)
    val spark = GraftSession()
    GraftSession.warmUp(spark, dir)

    val defs = graft.SparkEntry.defs.filter(d => names.contains(d.name))
    for (name <- names; d <- defs.find(_.name == name)) {
      var bestSec = Double.MaxValue
      var bestStages: Seq[(Int, St)] = Nil
      for (_ <- 1 to reps) {
        GraftSession.clearCaches(spark)
        val stages = TrieMap.empty[Int, St]
        val listener = new SparkListener {
          override def onStageCompleted(
              e: SparkListenerStageCompleted): Unit = {
            val si = e.stageInfo
            val wall = (for {
              s <- si.submissionTime; c <- si.completionTime
            } yield c - s).getOrElse(0L)
            stages(si.stageId) = St(si.name.linesIterator.next(),
              si.numTasks, si.taskMetrics.executorRunTime,
              si.taskMetrics.executorCpuTime, wall)
          }
        }
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        // noop sink, matching Bench's r21 timed action (count() lets the
        // optimizer prune subtrees — guide §1.4)
        d.fn(spark, dir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200) // let the listener bus drain
        spark.sparkContext.removeSparkListener(listener)
        if (sec < bestSec) { bestSec = sec; bestStages = stages.toSeq }
      }
      val byWall = bestStages.sortBy(-_._2.wallMs)
      val nStages = bestStages.size
      val sumWall = bestStages.map(_._2.wallMs).sum / 1e3
      val sumCpu = bestStages.map(_._2.cpuNs).sum / 1e9
      val sumRun = bestStages.map(_._2.runMs).sum / 1e3
      println(f"[profile] $name best=${bestSec}%.2fs stages=$nStages " +
        f"stageWallSum=${sumWall}%.2fs taskRunSum=${sumRun}%.2fs " +
        f"taskCpuSum=${sumCpu}%.2fs")
      byWall.take(18).foreach { case (id, s) =>
        println(f"[profile]   stage $id%4d tasks=${s.tasks}%3d " +
          f"wall=${s.wallMs / 1e3}%6.2fs run=${s.runMs / 1e3}%6.2fs " +
          f"cpu=${s.cpuNs / 1e9}%6.2fs  ${s.name.take(90)}")
      }
    }
    spark.stop()
  }
}

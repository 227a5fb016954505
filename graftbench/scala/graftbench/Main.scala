package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Runs one workload in a closed loop — one JVM, one client thread —
  * and writes every raw measurement to a JSON file for `run.py`, which
  * derives the metrics and prints them.
  *
  * Set-up (SparkSession, input generation, warm-up read) runs once. Pass 1
  * is the cold pass: it runs the ops in declared order, so that class
  * loading and JIT warm-up land on the same ops in every run, and it
  * checks every op's output outside the timed region. The workload's
  * warm-up passes follow; they are recorded but not measured. Measured
  * warm passes follow them, each in an order the seed permutes, until
  * `seconds` of them have run (at least [[MinWarmPasses]]).
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <workDir> <outJson>
  *   <tablesDir|-> [member ...]
  * where `tablesDir` (query_mix only; `-` generates the tables) names
  * existing tables to read and the members are the query_mix QueryDefs.
  */
object Main {
  val MinWarmPasses = 3

  /** The graft.Bench session posture, restated here so that the benchmark
    * times the same physical plans: local[N] with N shuffle partitions,
    * ANSI off, UTC, AQE on, the sort-based shuffle writer and a 64k AQE
    * coalesce floor. Scratch space stays inside `work`. */
  val SessionConf: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.shuffle.sort.bypassMergeThreshold" -> "2",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k")

  def session(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    SessionConf.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
  }

  final case class OpRecord(pass: Int, op: Op, window: OpWindow, wallS: Double,
      buildS: Double, resultS: Double, actionS: Double, error: Option[String],
      wrong: Option[String], codegen: (Long, Double))

  def main(argv: Array[String]): Unit = {
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val Array(wlName, seedS, secondsS, traceS, work, outJson, tablesS) = argv.take(7)
    val tables = Some(tablesS).filter(_ != "-")
    val wl = Workloads.byName(wlName, tables, argv.drop(7).toSeq)
      .getOrElse(sys.error(s"unknown workload $wlName"))
    val (seed, seconds, trace) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    val cores = Runtime.getRuntime.availableProcessors
    val tracer = new Tracer(trace)
    val root = tracer.open(0, wl.name)

    val setupSpan = tracer.open(root, "setup")
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    spark.sparkContext.setLogLevel("WARN")
    val ops = wl.setup(spark, seed, work)
    val setupS = (System.nanoTime() - t0) / 1e9
    tracer.close(setupSpan)
    val sc = spark.sparkContext
    val exec = new ExecProbe
    val catalyst = new CatalystProbe
    if (trace) {
      sc.addSparkListener(exec)
      spark.listenerManager.register(catalyst)
    }
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
    heapPools.foreach(_.resetPeakUsage())

    val records = ArrayBuffer.empty[OpRecord]
    def runOp(pass: Int, passSpan: Int, op: Op): OpRecord = {
      // bill each op on its own: no cached or persisted data and no
      // scratch output (write-then-read queries such as q_avro_nested)
      // from earlier ops
      spark.sharedState.cacheManager.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      deleteTree(new File(System.getProperty("java.io.tmpdir"), "graft-scratch"))
      val group = s"p$pass/${op.id}"
      val span = tracer.open(passSpan, op.id)
      val clock = new OpClock(tracer, span)
      val cg0 = if (trace) Codegen.snapshot() else (0L, 0.0)
      val startMs = System.currentTimeMillis()
      var actionMs = startMs
      val t0 = System.nanoTime()
      var actionNs = 0L
      var df: DataFrame = null
      val error = try {
        sc.setJobGroup(s"$group:build", op.id)
        df = op.run(spark, clock)
        sc.setJobGroup(s"$group:action", op.id)
        actionMs = System.currentTimeMillis()
        val aSpan = tracer.open(span, "action")
        val ta = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        actionNs = System.nanoTime() - ta
        tracer.close(aSpan)
        None
      } catch {
        case t: Throwable => Some(s"${t.getClass.getSimpleName}: ${t.getMessage}".take(500))
      }
      val wallNs = System.nanoTime() - t0
      val endMs = System.currentTimeMillis()
      sc.clearJobGroup()
      tracer.close(span)
      val cg1 = if (trace) Codegen.snapshot() else (0L, 0.0)
      val wrong =
        if (pass != 1 || error.isDefined) None
        else try op.check(df) catch {
          case t: Throwable => Some(s"check threw ${t.getClass.getSimpleName}: ${t.getMessage}".take(500))
        }
      error.orElse(wrong).foreach(m => System.err.println(s"[graftbench] ${op.id} pass $pass: $m"))
      OpRecord(pass, op, OpWindow(group, startMs, actionMs, endMs), wallNs / 1e9,
        clock.buildNs / 1e9, clock.resultNs / 1e9, actionNs / 1e9, error, wrong,
        (cg1._1 - cg0._1, (cg1._2 - cg0._2) / 1e3))
    }
    def runPass(pass: Int): Double = {
      val span = tracer.open(root, s"pass$pass")
      val order = if (pass == 1) ops else Rng.shuffle(ops, seed, 1000L + pass)
      val walls = order.map { op =>
        val r = runOp(pass, span, op)
        records += r
        r.wallS
      }
      tracer.close(span)
      walls.sum
    }

    val unmeasured = 1 + wl.warmupPasses
    (1 to unmeasured).foreach(runPass)
    var warm = 0.0
    var pass = unmeasured
    while (pass - unmeasured < MinWarmPasses || warm < seconds) {
      pass += 1
      warm += runPass(pass)
    }
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    tracer.close(root)

    val layers: Map[OpWindow, Map[String, Double]] =
      if (!trace) Map.empty
      else {
        settle(() => exec.events + catalyst.events)
        val e = exec.attribute(records.map(_.window).toSeq)
        val c = catalyst.attribute(records.map(_.window).toSeq)
        (e.keySet ++ c.keySet).map(w => w -> (e.getOrElse(w, Map.empty) ++ c.getOrElse(w, Map.empty))).toMap
      }
    val opsJson = records.map { r =>
      val extra = layers.getOrElse(r.window, Map.empty).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) }
      val codegen = if (trace) Seq("codegen_compiles" -> Json.num(r.codegen._1),
        "codegen_compile_s" -> Json.num(r.codegen._2)) else Nil
      Json.obj(Seq("pass" -> Json.num(r.pass.toLong), "id" -> Json.str(r.op.id),
        "layer" -> Json.str(r.op.layer), "wall_s" -> Json.num(r.wallS),
        "build_s" -> Json.num(r.buildS), "result_s" -> Json.num(r.resultS),
        "action_s" -> Json.num(r.actionS), "error" -> Json.opt(r.error),
        "wrong" -> Json.opt(r.wrong)) ++ codegen ++ extra: _*)
    }
    val oracle = ops.collect { case m: QueryMix.Member =>
      Json.obj("id" -> Json.str(m.id), "sql" -> Json.opt(m.oracle))
    }
    val json = Json.obj(
      "workload" -> Json.str(wl.name), "seed" -> Json.num(seed), "trace" -> Json.bool(trace),
      "unmeasured_passes" -> Json.num(unmeasured.toLong),
      "cores" -> Json.num(cores.toLong), "jvm_start_s" -> Json.num(jvmStartS),
      "setup_s" -> Json.num(setupS), "heap_peak_mb" -> Json.num(heapPeakMb),
      "session_conf" -> Json.obj(SessionConf.map { case (k, v) => k -> Json.str(v) }: _*),
      "ops" -> Json.arr(opsJson), "oracle" -> Json.arr(oracle),
      "spans" -> Json.arr(tracer.all.map(_.json)))
    Files.write(Paths.get(outJson), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Waits until asynchronous listener events stop arriving. */
  private def settle(count: () => Long): Unit = {
    var prev = -1L
    var waited = 0
    while (count() != prev && waited < 10000) {
      prev = count()
      Thread.sleep(250); waited += 250
    }
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Benchmark main: runs every declared query on SPARK_GRAFT_SF_DIR, writes
  * the FULL per-query JSON (all walls + diag) to target/bench.json, and
  * prints ONE COMPACT JSON line {"metric":...,"value":...,"queries":{...},
  * "detail":"target/bench.json"} sized to survive the harness's ~2 KB
  * stdout tail capture — the line carries every headline total and flag
  * list plus the slowest queries by wall; the file is the artifact of
  * record for the full surface.
  *
  * Runs on [[GraftSession]]: local[SPARK_GRAFT_CPUS] (default: the
  * JVM's available processors; the official posture is 32).
  *
  * Timing methodology (storm-proof, self-verifying):
  * this host suffers multi-minute vCPU-migration storms (CPU steal) that
  * can inflate wall time 10-170x. Three independent defenses, layered —
  * each catches storms the others can miss:
  *
  *  1. INTERLEAVED rep passes. Reps of a query are NOT run back-to-back
  *     (a single storm would then cover every rep and min-of-reps fails
  *     exactly when it is needed). Instead pass 1 runs ALL queries, then
  *     pass 2, then pass 3; per-query time is the min across passes, so a
  *     storm lasting minutes poisons at most one pass of each query.
  *  2. /proc/stat contamination flags (host-side signal). Around each rep
  *     we read the aggregate cpu line; a rep whose steal+iowait share of
  *     jiffies exceeds STEAL_THRESHOLD is marked contaminated. This flag
  *     false-negatives when the hypervisor freezes the vCPU entirely
  *     (stolen jiffies are never accounted), hence defenses 3a/3b.
  *  3a. Task-clock cross-check (JVM-side signal, host-independent). A
  *     SparkListener sums executorRunTime (wall inside the task) and
  *     executorCpuTime (thread CPU) per rep. A storm deschedules task
  *     threads: run-time inflates, CPU-time does not. A rep whose
  *     GC/fetch-adjusted task run-time vastly exceeds task CPU-time is
  *     marked dilated — even when /proc/stat saw nothing.
  *  3b. Historical floor gate. A checked-in per-query floor (resource
  *     graft/bench_floors.json, regenerated via SPARK_GRAFT_WRITE_FLOORS
  *     from a clean run) bounds what a clean best-of-passes can read: a
  *     best above FLOOR_FACTOR x floor + slack is not believed. Flagged
  *     queries get extra interleaved retry passes until their best is
  *     clean or MAX_EXTRA_PASSES is exhausted; any query still dirty is
  *     listed in "contaminated" (with per-query diagnostics in "diag") so
  *     a consumer can never mistake a storm reading — or a genuine >2x
  *     regression, which a human must then triage — for engine cost.
  */
object Bench {

  /** steal+iowait and total jiffies from the aggregate cpu line. */
  private def cpuStat(): (Long, Long) = {
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        val iowait = if (f.length > 4) f(4) else 0L
        val steal = if (f.length > 7) f(7) else 0L
        (steal + iowait, f.sum)
      } finally src.close()
    } catch { case _: Throwable => (0L, 0L) } // non-Linux: no flagging
  }

  /** share of jiffies stolen/blocked during a rep above which the rep's
    * wall time is environmental noise, not engine cost */
  private val StealThreshold = 0.05

  /** best-of-passes above FloorFactor x historical floor + slack sec is
    * treated as storm-poisoned (or a genuine regression needing triage).
    * Slack is PROPORTIONAL with a small absolute floor —
    * `max(0.1, 0.25 x floor)` — so sub-second queries keep a real gate:
    * the old flat 0.3 s let q_knn_join sit at 2.27x its 0.266 s floor
    * for two rounds without tripping (r14 verdict), because a flat term
    * dwarfs FloorFactor x floor whenever floor < slack. Tested in
    * BenchFloorsSpec. */
  private val FloorFactor = 2.0
  private[graft] def floorSlack(floor: Double): Double =
    math.max(0.1, 0.25 * floor)
  private val MaxExtraPasses = 5

  /** adjusted task run-time above DilationFactor x task CPU-time +
    * DilationSlack task-seconds marks a rep dilated. CPU-bound Spark tasks
    * run near 1:1; the thresholds are loose enough that scheduler jitter,
    * parquet IO and spill never trip them, but a vCPU freeze (10x+) does. */
  private val DilationFactor = 3.0
  private val DilationSlack = 3.0

  /** Sums task metrics across everything that ran; snapshot deltas give a
    * per-rep reading. GC and shuffle-fetch/write waits are legitimate
    * non-CPU task time, so they are tracked and subtracted before the
    * run-vs-cpu dilation compare. */
  private final class TaskClock extends SparkListener {
    val runMs = new AtomicLong
    val cpuNs = new AtomicLong
    val gcMs = new AtomicLong
    val waitNs = new AtomicLong
    val nTasks = new AtomicLong
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      nTasks.incrementAndGet()
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        waitNs.addAndGet(m.shuffleReadMetrics.fetchWaitTime * 1000000L +
          m.shuffleWriteMetrics.writeTime)
      }
    }
    def snapshot: (Long, Long, Long, Long, Long) =
      (runMs.get, cpuNs.get, gcMs.get, waitNs.get, nTasks.get)
    /** listener-bus events post async; poll until the counters settle so a
      * rep's tasks aren't attributed to the next rep */
    def settledSnapshot(): (Long, Long, Long, Long, Long) = {
      var prev = snapshot
      var waited = 0
      while (waited < 500) {
        Thread.sleep(10); waited += 10
        val cur = snapshot
        if (cur == prev) return cur
        prev = cur
      }
      prev
    }
  }

  private final case class Rep(
      sec: Double, ok: Boolean, stealFrac: Double,
      taskRunSec: Double, taskCpuSec: Double, nTasks: Long) {
    /** task-seconds of run-time not explained by CPU work (GC/fetch already
      * subtracted in taskRunSec) */
    def dilated: Boolean =
      taskRunSec > DilationFactor * taskCpuSec + DilationSlack
    def contaminated: Boolean = stealFrac > StealThreshold || dilated
  }

  /** A historical floor with its governance record: `floor` is the gate;
    * `prev` is a BOUNDED HISTORY of floors this one replaced at upward
    * re-pins (tightest-ever always retained), kept so a deliberate
    * pipeline change cannot silently absorb an accidental regression —
    * Bench prints (never fails) when a wall exceeds the gate built from
    * the tightest historical floor. `pinnedRound` / `reason` document who
    * moved it and why. */
  private[graft] final case class FloorEntry(
      floor: Double, prev: List[Double],
      pinnedRound: String, reason: String)

  /** cap on the `prev` history a re-pin may carry forward */
  private[graft] val MaxPrevHist = 4

  /** ACKNOWLEDGED historical prev-floors (the r19-verdict governance
    * item): an entry downgrades a recurring prev-floor NOTE to a
    * one-line acknowledged print, ONLY while the tightest historical
    * floor still equals the acknowledged value EXACTLY (a new, different
    * prev floor re-arms the full NOTE) and only for the named query.
    * BenchFloorsSpec pins this map is exact — no silent additions.
    *
    * EMPTY since r21: the four count-era acknowledgments (q_tar_roundtrip
    * 0.234, q_stream_neardup 0.839, q_text_topterms 0.445,
    * q_pipeline_clean 0.611) anchored to `prev` floors measured under the
    * count() action, which the r21 noop-sink methodology fix retired
    * wholesale (fresh r21 pins, no prev history — the old floors gate a
    * different, pruned computation; see OPTIMIZATION_r21.md). The
    * mechanism stays for future acknowledgments. */
  private[graft] val AcknowledgedHistorical: Map[String, (Double, String)] =
    Map.empty

  /** the acknowledgment for `name`, iff its tightest historical floor
    * still equals the acknowledged value exactly AND the run is at the
    * scale the triages were done at. The acknowledged values are sf0.1
    * prev floors (each triage above names sf0.1 folds); at any other SF
    * the same query carries DIFFERENT prev history, so a coincidental
    * value match there would suppress a NOTE with the wrong scale's
    * story — a recurring NOTE at another SF needs its own triage and
    * its own (sf-scoped) entry, not a borrowed one. */
  private[graft] def acknowledged(name: String, f: FloorEntry,
      sfTag: String = "sf0.1"): Option[String] =
    AcknowledgedHistorical.get(name).collect {
      case (ack, why) if sfTag == "sf0.1" && f.prev.nonEmpty &&
        f.prev.min == ack => why
    }

  /** Governance rule for one floor at floors-write time (v2, monotone):
    *
    *  - no old entry: the round wall becomes the floor (fresh pin).
    *  - UNCHANGED pipeline (not named in SPARK_GRAFT_FLOOR_CHANGED): the
    *    floor only ratchets DOWN — `floor := min(old, wall)`. Host noise
    *    can therefore never loosen a gate; a wholesale re-pin of a quiet
    *    round is a no-op for every query that didn't improve.
    *  - CHANGED pipeline (named explicitly): the wall re-pins the floor in
    *    either direction; a loosening pushes the old floor onto the `prev`
    *    history (bounded to [[MaxPrevHist]], tightest-ever never dropped)
    *    so the old pipeline's gate keeps printing if the change regressed
    *    more than intended.
    */
  private[graft] def repin(
      old: Option[FloorEntry], wall: Double, changed: Boolean,
      round: String, reason: String): FloorEntry = old match {
    // only a DECLARED pipeline change carries the caller's reason: a
    // fresh pin or an unchanged-pipeline downward ratchet taking the env
    // reason verbatim stamps unrelated queries with another pipeline's
    // story (r14 closing runs mislabeled image/PII floors with the
    // repetition rewrite's reason — a floor audit would read those
    // pipelines as changed when they were not)
    case None => FloorEntry(wall, Nil, round, "fresh pin (new query)")
    case Some(o) if !changed =>
      if (wall < o.floor)
        FloorEntry(wall, o.prev, round, "monotone ratchet (unchanged pipeline)")
      else o // monotone: keep the tighter floor AND its provenance
    case Some(o) =>
      val hist =
        if (wall <= o.floor) o.prev // tightening sheds nothing tighter
        else {
          val raw = o.floor :: o.prev
          if (raw.size <= MaxPrevHist) raw
          else (raw.take(MaxPrevHist - 1) :+ raw.min).distinct
        }
      FloorEntry(wall, hist, round, reason)
  }

  /** historical per-query floors: env SPARK_GRAFT_FLOORS file, else the
    * checked-in resource FOR THIS SF (a floor measured at sf0.1 must not
    * gate an sf0.01 run); absent -> no floor gate (steal+dilation remain).
    * Accepts the annotated object form
    * `"q": {"floor": 1.2, "prev": [1.0, 0.9], "pinned_round": "r12", "reason": "…"}`
    * (prev may also be a bare number or null — pre-v2 files), and the
    * legacy flat form `"q": 1.2` (no history). The write path escapes
    * braces out of reasons, so `[^{}]*` object bodies are safe. */
  private[graft] def parseFloors(t: String): Map[String, FloorEntry] = {
    def field(body: String, name: String): Option[String] = {
      val re = ("\"" + name + "\"\\s*:\\s*(\"(?:[^\"\\\\]|\\\\.)*\"|\\[[^\\]]*\\]|[0-9.eE+-]+|null)").r
      re.findFirstMatchIn(body).map(_.group(1))
    }
    def unq(s: String): String =
      if (s.startsWith("\"")) s.substring(1, s.length - 1) else s
    def prevList(v: Option[String]): List[Double] = v match {
      case None | Some("null") => Nil
      case Some(s) if s.startsWith("[") =>
        s.substring(1, s.length - 1).split(",").iterator
          .map(_.trim).filter(_.nonEmpty).map(_.toDouble).toList
      case Some(n) => List(n.toDouble)
    }
    val objRe = "\"([^\"]+)\"\\s*:\\s*\\{([^{}]*)\\}".r
    val objs = objRe.findAllMatchIn(t).map { m =>
      val body = m.group(2)
      m.group(1) -> FloorEntry(
        floor = field(body, "floor").map(_.toDouble).getOrElse(Double.NaN),
        prev = prevList(field(body, "prev")),
        pinnedRound = field(body, "pinned_round").map(unq).getOrElse(""),
        reason = field(body, "reason").map(unq).getOrElse(""))
    }.filterNot(_._2.floor.isNaN).toMap
    // legacy flat entries: strip the object bodies first so their inner
    // numeric fields can't parse as floors
    val flatText = objRe.replaceAllIn(t, "")
    val flatRe = "\"([^\"]+)\"\\s*:\\s*([0-9.eE+-]+)".r
    val flats = flatRe.findAllMatchIn(flatText)
      .map(m => m.group(1) -> FloorEntry(m.group(2).toDouble, Nil, "", ""))
      .toMap
    flats ++ objs
  }

  private def loadFloors(sfDir: String): Map[String, FloorEntry] = {
    val sfBase = new java.io.File(sfDir).getName
    val text: Option[String] = sys.env.get("SPARK_GRAFT_FLOORS") match {
      case Some(p) =>
        try Some(scala.io.Source.fromFile(p).mkString) catch { case _: Throwable => None }
      case None =>
        val in = getClass.getResourceAsStream(s"/graft/bench_floors_$sfBase.json")
        if (in == null) None
        else try Some(scala.io.Source.fromInputStream(in).mkString) finally in.close()
    }
    text.map(parseFloors).getOrElse(Map.empty)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nCpus = GraftSession.cpus
    val spark = GraftSession(nCpus)
    val clock = new TaskClock
    spark.sparkContext.addSparkListener(clock)
    GraftSession.warmUp(spark, sfDir)

    def runOne(d: graft.queries.QueryDef): Rep = {
      GraftSession.clearCaches(spark)
      val (run0, cpu0, gc0, wait0, nt0) = clock.settledSnapshot()
      val (bad0, tot0) = cpuStat()
      val t0 = System.nanoTime()
      val repOk =
        // noop sink, NOT count() (r21 measurement fix, guide §1.4 and the
        // driver contract's anticipated case): count() lets the optimizer
        // prune columns and eliminate whole subtrees — after the r21
        // cutSpans fusion, count(q_repeat_scrub) collapsed to a bare
        // scan (the left join against a unique-key aggregate is
        // join-eliminated), timing NONE of the scrub. The noop write
        // computes every column of every row and discards it, so the
        // bench times the declared computation for all queries. The
        // count-based fold is kept alongside for the cross-methodology
        // record (bench/bench_r21_baseline.json; OPTIMIZATION_r21.md
        // tabulates the per-query shift).
        try {
          d.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          true
        }
        catch {
          case t: Throwable =>
            System.err.println(s"[bench] FAILED ${d.name}: ${t.getMessage}")
            false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      val (bad1, tot1) = cpuStat()
      val (run1, cpu1, gc1, wait1, nt1) = clock.settledSnapshot()
      val frac = if (tot1 > tot0) (bad1 - bad0).toDouble / (tot1 - tot0) else 0.0
      val adjRunSec = ((run1 - run0) - (gc1 - gc0)).toDouble / 1e3 -
        (wait1 - wait0).toDouble / 1e9
      val cpuSec = (cpu1 - cpu0).toDouble / 1e9
      Rep(sec, repOk, frac, adjRunSec.max(0.0), cpuSec.max(0.0),
        (nt1 - nt0).max(0L))
    }

    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // SPARK_GRAFT_ONLY=q_a,q_b restricts to a subset (local iteration only;
    // official runs leave it unset and measure everything)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val defs = only match {
      case Some(names) => SparkEntry.defs.filter(d => names(d.name))
      case None => SparkEntry.defs
    }
    val floors = loadFloors(sfDir)
    // the scale tag the acknowledged-historical allowlist is scoped to
    val sfTag = new java.io.File(sfDir).getName
    val table = Array.fill(defs.length)(Vector.empty[Rep])
    def logRep(pass: String, name: String, r: Rep): Unit =
      System.err.println(f"[bench] $pass $name%-22s ${r.sec}%8.2fs" +
        f"  steal=${r.stealFrac * 100}%.1f%%  task=${r.taskRunSec}%.1f/cpu=${r.taskCpuSec}%.1f" +
        s"${if (r.contaminated) " CONTAMINATED" else ""}${if (r.ok) "" else " FAILED"}")
    for (pass <- 1 to reps) {
      defs.zipWithIndex.foreach { case (d, i) =>
        val r = runOne(d)
        table(i) :+= r
        logRep(s"pass $pass/$reps", d.name, r)
      }
    }
    // a rep's time is only a measurement when the rep SUCCEEDED — a fast
    // crash must not undercut a valid slow run
    def bestOf(i: Int): Rep = {
      val ok = table(i).filter(_.ok)
      if (ok.nonEmpty) ok.minBy(_.sec) else table(i).minBy(_.sec)
    }
    // floor gates are scoped to the core count they were pinned at (32,
    // the official posture): under the r21 noop-sink action the CPU-dense
    // queries genuinely scale with cores, so an 8-core scaling run would
    // read every one of them as floor-dirty against a 32-core pin and
    // burn five retry passes on environmental non-noise. Steal and
    // dilation checks remain at every core count.
    val floorGatesApply = nCpus == 32
    def floorDirty(i: Int): Boolean =
      floorGatesApply && floors.get(defs(i).name).exists { f =>
        bestOf(i).sec > FloorFactor * f.floor + floorSlack(f.floor)
      }
    // governance print (never a failure): a wall past the gate built from
    // the TIGHTEST historical floor means the query regressed relative to
    // a pipeline an earlier floor guarded — visible even when the current
    // (re-pinned) floor absorbs it
    def prevExceeded(i: Int): Boolean = floors.get(defs(i).name).exists { f =>
      f.prev.nonEmpty &&
        bestOf(i).sec > FloorFactor * f.prev.min + floorSlack(f.prev.min)
    }
    // extra interleaved retry passes until every query's best rep is clean
    // by ALL three signals (steal, dilation, floor) or the pass budget is
    // spent — a storm during a retry then only re-flags, never silently
    // ships a poisoned min
    var extra = 0
    var dirty = defs.indices.filter { i =>
      table(i).exists(_.ok) && (bestOf(i).contaminated || floorDirty(i))
    }
    while (dirty.nonEmpty && extra < MaxExtraPasses) {
      extra += 1
      System.err.println(s"[bench] retry pass $extra/$MaxExtraPasses for ${dirty.length} flagged queries")
      dirty.foreach { i =>
        val r = runOne(defs(i))
        table(i) :+= r
        logRep(s"retry $extra", defs(i).name, r)
      }
      dirty = dirty.filter(i => bestOf(i).contaminated || floorDirty(i))
    }

    val results = defs.zipWithIndex.map { case (d, i) =>
      val runs = table(i)
      // a query counts as ok when every rep succeeded (flaky = failure)
      val ok = runs.forall(_.ok)
      val best = bestOf(i)
      val dirtyBest = best.contaminated || floorDirty(i)
      System.err.println(f"[bench] ${d.name}%-22s ${best.sec}%8.2fs  (min of ${runs.length})" +
        s"${if (dirtyBest) "  CONTAMINATED" else ""}${if (ok) "" else "  FAILED"}")
      if (prevExceeded(i)) {
        val f = floors(d.name)
        acknowledged(d.name, f, sfTag) match {
          case Some(why) =>
            System.err.println(
              f"[bench] acknowledged historical ${d.name}: wall " +
                f"${best.sec}%.2fs vs prev=${f.prev.min}%.3f — $why")
          case None =>
            System.err.println(f"[bench] NOTE ${d.name}: wall ${best.sec}%.2fs " +
              f"exceeds the PRE-re-pin floor gate (tightest prev=${f.prev.min}%.3f, " +
              s"current floor=${f.floor} pinned ${f.pinnedRound}: ${f.reason}) " +
              "— regression vs the old pipeline, absorbed by a re-pin")
        }
      }
      (d.name, best, ok, dirtyBest, floorDirty(i))
    }
    // a failed query is reported with a NEGATIVE time so it can never read
    // as a fast successful run; the failed names are listed explicitly,
    // and the headline total counts SUCCESSFUL queries only (a consumer
    // reading just the total must not mistake a failing run for a fast one)
    def arr(names: Seq[String]) = names.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qs = results.map { case (k, b, ok, _, _) => "\"" + k + "\":" + (if (ok) b.sec else -b.sec) }
      .mkString("{", ",", "}")
    val failed = arr(results.collect { case (k, _, false, _, _) => k })
    val contaminated = arr(results.collect { case (k, _, _, true, _) => k })
    val floorExceeded = arr(results.collect { case (k, _, _, _, true) => k })
    // acknowledged historicals are split out so a fold review reads
    // "prev_floor_exceeded is empty" as ZERO un-triaged NOTEs
    def ackOf(i: Int): Option[String] =
      floors.get(defs(i).name)
        .flatMap(f => acknowledged(defs(i).name, f, sfTag))
    val prevExceededNames = arr(defs.indices.collect {
      case i if prevExceeded(i) && ackOf(i).isEmpty => defs(i).name
    })
    val prevAckNames = arr(defs.indices.collect {
      case i if prevExceeded(i) && ackOf(i).isDefined => defs(i).name
    })
    // per-query evidence: wall vs task-clock vs floor (+ pre-re-pin prev
    // floor when the entry carries history), for the best rep
    // per-query evidence now carries the best rep's TASK COUNT: at the
    // main core count vs a low-core run, a CPU-dense query's task count
    // is the scaling-legibility signal the r20 driver asked for
    // (`suspect_cpus_ignored`) — identical task counts with ~equal walls
    // say "stage-latency-bound at this SF", not "CPUS ignored"
    val diag = results.map { case (k, b, _, _, _) =>
      val e = floors.get(k)
      val f = e.map(x => f"${x.floor}%.3f").getOrElse("null")
      val p = e.filter(_.prev.nonEmpty).map(x => f"${x.prev.min}%.3f").getOrElse("null")
      f""""$k":{"wall":${b.sec}%.3f,"task_run":${b.taskRunSec}%.2f,"task_cpu":${b.taskCpuSec}%.2f,"steal":${b.stealFrac}%.3f,"tasks":${b.nTasks},"floor":$f,"prev_floor":$p}"""
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, b, true, _, _) => b.sec }.sum
    val nFailed = results.count(!_._3)
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","cpus":$nCpus,"queries":$qs,"failed":$failed,"n_failed":$nFailed,"contaminated":$contaminated,"n_contaminated":${results.count(_._4)},"floor_exceeded":$floorExceeded,"prev_floor_exceeded":$prevExceededNames,"prev_floor_acknowledged":$prevAckNames,"reps":$reps,"extra_passes":$extra,"timing":"min_of_interleaved_passes","action":"noop_sink","checks":["proc_stat_steal","task_clock_dilation","historical_floor"],"steal_threshold":$StealThreshold,"floor_factor":$FloorFactor,"floor_slack":"max(0.1, 0.25 * floor)","sf":"$sfDir","diag":$diag}"""
    // the artifact of record: stdout tails are truncated by the harness
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    try {
      val p = java.nio.file.Paths.get(outPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, json.getBytes("UTF-8"))
      System.err.println(s"[bench] full artifact written to $outPath")
    } catch { case t: Throwable => System.err.println(s"[bench] artifact write failed: ${t.getMessage}") }
    // the stdout line must SURVIVE the harness's ~2 KB tail capture (r11
    // and r12 round artifacts each kept only a truncated tail of the full
    // per-query JSON -> "parsed": null). The full document lives in
    // `outPath` above; stdout carries a compact, parseable summary: all
    // headline totals/flag lists, the slowest queries by wall (as many as
    // fit the budget), and the path to the full artifact.
    val stdoutBudget = 1800
    val headline = results.filter(_._3).sortBy(-_._2.sec)
    val fixed =
      s""","n_queries":${results.length},"cpus":$nCpus,"failed":$failed,"n_failed":$nFailed,"contaminated":$contaminated,"n_contaminated":${results.count(_._4)},"floor_exceeded":$floorExceeded,"prev_floor_exceeded":$prevExceededNames,"prev_floor_acknowledged":$prevAckNames,"reps":$reps,"extra_passes":$extra,"timing":"min_of_interleaved_passes","action":"noop_sink","sf":"$sfDir","detail":"$outPath"}"""
    def summary(n: Int): String = {
      val top = headline.take(n)
        .map { case (k, b, _, _, _) => f""""$k":${b.sec}%.3f""" }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$top""" + fixed
    }
    val compact = (headline.length to 0 by -1).iterator.map(summary)
      .find(_.length <= stdoutBudget).getOrElse(summary(0))
    // regenerate the floor resource from this run when asked (only sane on
    // a clean run: floors are per-query best-of-passes). Governance v2
    // ([[repin]]): floors are MONOTONE for unchanged pipelines — only
    // queries named in SPARK_GRAFT_FLOOR_CHANGED (comma-separated) may
    // re-pin upward, and an upward re-pin pushes the old floor onto the
    // bounded `prev` history (tightest-ever retained) so the old
    // pipeline's gate keeps printing. Round/reason come from
    // SPARK_GRAFT_FLOOR_ROUND/_REASON; braces are escaped alongside
    // quotes so a reason can never break parseFloors' object matcher.
    sys.env.get("SPARK_GRAFT_WRITE_FLOORS").foreach { fp =>
      val round = sys.env.getOrElse("SPARK_GRAFT_FLOOR_ROUND", "local")
      val reason = sys.env.getOrElse("SPARK_GRAFT_FLOOR_REASON", "bench re-pin")
        .replace("\"", "'").replace("{", "(").replace("}", ")")
      val changedSet = sys.env.get("SPARK_GRAFT_FLOOR_CHANGED")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty[String])
      val body = results.flatMap { case (k, b, ok, dirtyBest, _) =>
        // a FAILED query's best is the wall of a crash and a dirty best
        // is a storm/regression reading — neither is a floor. Carry the
        // old entry forward untouched; a new query with no prior entry
        // is simply omitted (BenchFloorsSpec's exact-surface check then
        // fails loudly instead of pinning a garbage floor).
        val e =
          if (ok && !dirtyBest)
            Some(repin(floors.get(k), b.sec, changedSet(k), round, reason))
          else floors.get(k)
        e.map { e =>
          val pv =
            if (e.prev.isEmpty) "null"
            else e.prev.map(x => f"$x%.3f").mkString("[", ",", "]")
          f""""$k":{"floor":${e.floor}%.3f,"prev":$pv,"pinned_round":"${e.pinnedRound}","reason":"${e.reason}"}"""
        }
      }.mkString("{\n", ",\n", "\n}")
      java.nio.file.Files.write(java.nio.file.Paths.get(fp), body.getBytes("UTF-8"))
      System.err.println(s"[bench] floors written to $fp" +
        (if (changedSet.nonEmpty) s" (changed pipelines: ${changedSet.mkString(", ")})" else ""))
    }
    println(compact)
    spark.stop()
  }
}

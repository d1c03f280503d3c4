package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

/** One executed operation. `start`, `buildEnd` and `end` are epoch
  * milliseconds ([[Clock.wall]]), to compare with Spark's events; `ms` and
  * `buildMs` are durations from the monotonic clock. */
final case class Rec(id: String, spanId: Long, op: String, layer: String, phase: String,
                     pass: Int, traced: Boolean, start: Double, buildEnd: Double, end: Double,
                     ms: Double, buildMs: Double, ok: Boolean, warehouseDelta: Long) {
  def actionMs: Double = ms - buildMs
}

/** Runs one workload as a closed loop with one client thread: set-up
  * rounds, then timed passes over the workload's operations until the
  * time budget is spent. With a [[Probe]], every second pass is traced
  * and the others measure the same work untraced, for the overhead; the
  * run then ends with the workload's write lane, traced. */
final class Runner(w: Workload, seed: Long, seconds: Double, work: Path, data: String,
                   probe: Option[Probe]) {
  private val cores = Runtime.getRuntime.availableProcessors
  private val rnd = new Random(seed)
  private var spark: SparkSession = _
  private var warehouse: Path = _
  private var sessions = 0
  private var opSeq = 0
  private var listening = false
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == MemoryType.HEAP && p.getName.matches(".*(Old|Tenured).*"))

  val sessionMs = ArrayBuffer.empty[Double]
  val recs = ArrayBuffer.empty[Rec]
  val failures = ArrayBuffer.empty[String]
  val setupMs = ArrayBuffer.empty[Double]
  /** (pass index, traced, pass ms) of the timed passes. */
  val passes = ArrayBuffer.empty[(Int, Boolean, Double)]
  val spans = ArrayBuffer.empty[Span]
  var heapPeakMb = 0.0
  private var spanSeq = 0L

  private def newSpanId(): Long = { spanSeq += 1; spanSeq }
  private def span(kind: String, name: String, parent: Long, start: Double, end: Double,
                   id: Long = newSpanId()): Long = {
    spans += Span(id, parent, kind, name, start, end)
    id
  }

  private def listen(on: Boolean): Unit = probe.foreach { p =>
    if (spark != null && on != listening) {
      val sc = spark.sparkContext
      if (on) p.attach(sc) else p.detach(sc)
    }
    listening = on
  }

  /** Stops the current session and creates a fresh one over an empty
    * warehouse directory; returns the creation time in ms. */
  private def newSession(): Double = {
    val tracing = listening
    if (spark != null) { listen(false); spark.stop() }
    spark = null
    sessions += 1
    warehouse = work.resolve(s"session$sessions").resolve("warehouse")
    val t0 = Clock.mono
    spark = graft.Sessions.builder(cores.toString)
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    val ms = Clock.mono - t0
    spark.sparkContext.setLogLevel("ERROR")
    listening = false
    listen(tracing)
    sessionMs += ms
    ms
  }

  private def runOp(op: Op, phase: String, pass: Int, parent: Long): Rec = {
    System.gc()
    // one forced collection sometimes left tens of MB that a second one,
    // 50 ms later, freed; sampled after one, the peak varied with the
    // order of the ops
    if (phase == "timed") oldGen.foreach { p =>
      Thread.sleep(50)
      System.gc()
      heapPeakMb = math.max(heapPeakMb, p.getUsage.getUsed / 1048576.0)
    }
    opSeq += 1
    val id = s"$phase-$opSeq"
    val sc = spark.sparkContext
    val before = if (listening && op.layer == "lane") DirSize.bytes(warehouse) else 0L
    if (listening) sc.setLocalProperty(Probe.Prop, id)
    val w0 = Clock.wall
    val t0 = Clock.mono
    var tb = Double.NaN
    var wb = Double.NaN
    val ok = try {
      val built = op.build(spark)
      tb = Clock.mono
      wb = Clock.wall
      op.check(built)
      true
    } catch {
      case NonFatal(e) =>
        val msg = s"${op.name} ($phase pass $pass): ${e.getClass.getName}: ${e.getMessage}"
        failures += msg
        System.err.println(s"[perfbench] FAILED $msg")
        false
    } finally sc.setLocalProperty(Probe.Prop, null)
    val t1 = Clock.mono
    val w1 = Clock.wall
    if (tb.isNaN) { tb = t1; wb = w1 }
    val delta = if (listening && op.layer == "lane") DirSize.bytes(warehouse) - before else 0L
    val sid = span("op", op.name, parent, w0, w1)
    span("build", op.name, sid, w0, wb)
    span("action", op.name, sid, wb, w1)
    val r = Rec(id, sid, op.name, op.layer, phase, pass, listening, w0, wb, w1, t1 - t0, tb - t0, ok, delta)
    recs += r
    r
  }

  /** The traced run's one timed call to each `graft.sources.Tables` loader. */
  private def resolveTables(parent: Long): Unit = {
    import graft.sources.Tables
    val loaders: Seq[(String, (SparkSession, String) => AnyRef)] = Seq(
      "region" -> Tables.region, "nation" -> Tables.nation, "customer" -> Tables.customer,
      "supplier" -> Tables.supplier, "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "events" -> Tables.events,
      "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)
    loaders.foreach { case (t, f) =>
      runOp(Op(t, "sources", s => f(s, data), _ => ()), "resolve", 0, parent)
    }
  }

  def run(runSpan: Long): Unit = {
    listen(probe.isDefined)
    for (r <- 1 to w.setupRounds) {
      val w0 = Clock.wall
      val sid = newSpanId()
      val created = newSession()
      val ops = w.pass(rnd).map(op => runOp(op, "setup", r, sid))
      setupMs += created + ops.map(_.ms).sum
      System.err.println(f"[perfbench] set-up round $r: ${setupMs.last / 1000}%.2f s")
      span("setup", s"setup$r", runSpan, w0, Clock.wall, sid)
    }
    if (probe.isDefined && w.usesSnapshot) resolveTables(runSpan)
    val t0 = Clock.mono
    val minPasses = if (probe.isDefined) 2 else 1
    var p = 0
    while (p < minPasses || Clock.mono - t0 < seconds * 1000) {
      listen(probe.isDefined && p % 2 == 1)
      val w0 = Clock.wall
      val sid = newSpanId()
      val ops = w.pass(rnd).map(op => runOp(op, "timed", p, sid))
      passes += ((p, listening, ops.map(_.ms).sum))
      System.err.println(f"[perfbench] pass $p: ${passes.last._3 / 1000}%.2f s " +
        ops.map(o => f"${o.op}=${o.ms}%.0f").mkString(" "))
      span("pass", s"pass$p", runSpan, w0, Clock.wall, sid)
      p += 1
    }
    val lane = if (probe.isDefined) w.lane(rnd) else Vector.empty
    if (lane.nonEmpty) {
      listen(true)
      val w0 = Clock.wall
      val sid = newSpanId()
      newSession()
      val ops = lane.map(op => runOp(op, "lane", 0, sid))
      System.err.println(f"[perfbench] lane: ${ops.map(_.ms).sum / 1000}%.2f s " +
        ops.map(o => f"${o.op}=${o.ms}%.0f").mkString(" "))
      span("lane", "lane", runSpan, w0, Clock.wall, sid)
    }
    listen(false)
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }
}

object DirSize {
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

object Stats {
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** Harrell-Davis estimate of the median: a Beta((n+1)/2, (n+1)/2)
    * weighted mean of the order statistics. With few samples from a mix of
    * operations it moves smoothly instead of jumping between neighbours,
    * as the plain sample median does. */
  def hdMedian(xs: Iterable[Double]): Double = {
    val v = xs.toVector.sorted
    val n = v.size
    if (n == 0) 0.0
    else {
      val a = (n + 1) / 2.0
      val steps = 4000
      val dens = Vector.tabulate(steps)(i => {
        val x = (i + 0.5) / steps
        math.exp((a - 1) * (math.log(x) + math.log(1 - x)))
      })
      val total = dens.sum
      v.indices.map { i =>
        val lo = i * steps / n
        val hi = (i + 1) * steps / n
        v(i) * dens.slice(lo, hi).sum / total
      }.sum
    }
  }
  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val v = xs.toVector.sorted
    if (v.isEmpty) 0.0
    else {
      val pos = q * (v.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, v.size - 1)
      v(lo) + (v(hi) - v(lo)) * (pos - lo)
    }
  }
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: Path, expected: Path, traceOut: Option[Path])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def get(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = get("workload")
    require(Workloads.Names.contains(w), s"unknown workload $w (expected ${Workloads.Names.mkString("|")})")
    Args(w, get("seed").toLong, get("seconds").toDouble, get("trace") == "1", get("data"),
      Paths.get(get("work")), Paths.get(get("expected")), m.get("trace-out").map(Paths.get(_)))
  }

  def workload(a: Args): Workload = a.workload match {
    case "caa_flights"    => Workloads.caaFlights(a.seed, a.work)
    case "warm_queries"   => Workloads.warmQueries(a.data, Digests.load(a.expected))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val tIn = Clock.mono
    val w = workload(a)
    System.err.println(f"[perfbench] inputs ready in ${(Clock.mono - tIn) / 1000}%.1f s")
    val probe = if (a.trace) Some(new Probe) else None
    val runner = new Runner(w, a.seed, a.seconds, a.work, a.data, probe)
    val t0 = Clock.wall
    try runner.run(0) finally runner.stop()
    val t1 = Clock.wall
    val metrics =
      if (a.trace) {
        val m = Report.perLayer(runner, probe.get, Runtime.getRuntime.availableProcessors)
        a.traceOut.foreach(p => Report.writeTrace(p, runner, probe.get, t0, t1, w.name))
        m
      } else Report.endToEnd(runner)
    val timed = runner.recs.filter(_.phase == "timed")
    System.err.println(f"[perfbench] ${w.name} seed ${a.seed}: ${runner.setupMs.size} set-up rounds, " +
      f"${runner.passes.size} passes, ${timed.size} timed ops, ${runner.failures.size} failed")
    val attempted = runner.recs.size
    val failed = runner.recs.count(!_.ok)
    println(Report.json(correct = failed == 0, attempted, failed, metrics))
  }
}

/** Metric names, units and the JSON result line. */
object Report {
  type Metrics = Vector[(String, Double, String)]

  def endToEnd(r: Runner): Metrics = {
    val timed = r.recs.filter(_.phase == "timed")
    Vector(
      ("setup_s", Stats.median(r.setupMs) / 1000, "s"),
      ("run_s", Stats.median(r.passes.map(_._3)) / 1000, "s"),
      ("op_p50_ms", Stats.hdMedian(timed.map(_.ms)), "ms"),
      ("heap_peak_mb", r.heapPeakMb, "MB"))
  }

  /** Every per-layer metric name, in BENCHMARK.json order. Metrics of a
    * layer the workload does not exercise read 0. */
  val perLayerNames: Vector[(String, String)] =
    Vector("exec.task_cpu_ms" -> "ms", "exec.task_run_ms" -> "ms", "exec.task_gc_ms" -> "ms",
      "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB", "exec.spill_mb" -> "MB",
      "exec.input_mb" -> "MB", "exec.output_mb" -> "MB", "exec.cpu_util" -> "ratio",
      "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
      "exec.idle_ms" -> "ms", "exec.failed_tasks" -> "count", "exec.unattributed_jobs" -> "count",
      "jobs.build_ms" -> "ms", "jobs.action_ms" -> "ms") ++
      Caa.Jobs.map(j => s"jobs.${j}_ms" -> "ms") ++
      Vector("operators.build_ms" -> "ms", "operators.build_jobs" -> "count",
        "operators.action_ms" -> "ms") ++
      Workloads.Mix.map(q => s"op.${q}_ms" -> "ms") ++
      Vector("sources.resolve_ms" -> "ms", "sources.resolve_jobs" -> "count",
        "Sessions.create_ms" -> "ms") ++
      Workloads.Mix.map(q => s"setup.first_call_ms.$q" -> "ms") ++
      Workloads.Lane.flatMap(q => Vector(s"lane.${q}_ms" -> "ms", s"lane.${q}_jobs" -> "count",
        s"lane.${q}_output_mb" -> "MB")) ++
      Vector("self.build_ms" -> "ms", "self.action_ms" -> "ms", "self.job_ms" -> "ms",
        "self.stage_ms" -> "ms", "self.task_ms" -> "ms", "trace.overhead_pct" -> "%")

  private val MB = 1048576.0

  /** Per-layer metrics from the traced passes and the traced write lane.
    * Sums are per traced pass, or per lane. */
  def perLayer(r: Runner, p: Probe, cores: Int): Metrics = {
    val (jobs, stages, tasks, stageJob) = p.snapshot
    val byId = r.recs.map(x => x.id -> x).toMap
    // a job counts for an op only when it started inside the op's window;
    // both are stamped with the wall clock
    def owner(j: JobEv): Option[Rec] =
      Option(j.op).flatMap(byId.get).filter(x => j.start >= x.start && j.start <= x.end)
    val jobOwner = jobs.flatMap(j => owner(j).map(j.key -> _)).toMap
    def stageOwner(stage: (Int, Int)): Option[Rec] = stageJob.get(stage).flatMap(j => jobOwner.get(j.key))
    val jobsOf = jobs.filter(j => jobOwner.contains(j.key)).groupBy(j => jobOwner(j.key).id)
    def jobCount(x: Rec): Int = jobsOf.get(x.id).fold(0)(_.size)
    val traced = r.recs.filter(x => x.phase == "timed" && x.traced).toVector
    val tracedIds = traced.map(_.id).toSet
    val nPass = math.max(1, r.passes.count(_._2))
    val tJobs = jobs.filter(j => jobOwner.get(j.key).exists(x => tracedIds(x.id)))
    val tStages = stages.filter(s => stageOwner(s.key).exists(x => tracedIds(x.id)))
    val tTasks = tasks.filter(t => stageOwner(t.stageKey).exists(x => tracedIds(x.id)))
    val tasksOf = tTasks.groupBy(t => stageOwner(t.stageKey).get.id)
    val lane = r.recs.filter(_.phase == "lane").toVector
    val laneIds = lane.map(_.id).toSet
    val laneTasks = tasks.filter(t => stageOwner(t.stageKey).exists(x => laneIds(x.id)))
    def perPass(x: Double): Double = x / nPass
    val wall = traced.map(_.ms).sum
    val idle = traced.map(x => x.end - x.start - Intervals.covered(
      tasksOf.getOrElse(x.id, Vector.empty).map(t => (t.launch, t.finish)), x.start, x.end)).sum
    def medianOf(f: Rec => Boolean, g: Rec => Double): Double = Stats.median(traced.filter(f).map(g))
    val jobsL = traced.filter(_.layer == "jobs")
    val queryL = traced.filter(_.layer == "operators")
    val resolve = r.recs.filter(_.phase == "resolve")
    val setup = r.recs.filter(_.phase == "setup")
    def buildJobs(x: Rec): Int = jobsOf.getOrElse(x.id, Vector.empty).count(_.start < x.buildEnd)
    val untracedPass = Stats.median(r.passes.filterNot(_._2).map(_._3))
    val tracedPass = Stats.median(r.passes.filter(_._2).map(_._3))

    // self time per layer: build and action minus their jobs, a job minus
    // its stages, a stage minus its tasks, tasks as leaves
    val jobSpan = tJobs.map(j => j -> Span(j.jobId, 0, "job", "", j.start, if (j.end.isNaN) j.start else j.end))
    val selfBuild = traced.map(x => Intervals.self(Span(0, 0, "build", "", x.start, x.buildEnd),
      jobSpan.collect { case (j, s) if jobOwner(j.key).id == x.id => s })).sum
    val selfAction = traced.map(x => Intervals.self(Span(0, 0, "action", "", x.buildEnd, x.end),
      jobSpan.collect { case (j, s) if jobOwner(j.key).id == x.id => s })).sum
    val stagesByJob = tStages.groupBy(s => stageJob(s.key).key)
    val selfJob = jobSpan.map { case (j, s) =>
      Intervals.self(s, stagesByJob.getOrElse(j.key, Vector.empty).map(st =>
        Span(0, 0, "stage", "", st.start, st.end)))
    }.sum
    val tasksByStage = tTasks.groupBy(_.stageKey)
    val selfStage = tStages.map { st =>
      Intervals.self(Span(0, 0, "stage", "", st.start, st.end),
        tasksByStage.getOrElse(st.key, Vector.empty).map(t => Span(0, 0, "task", "", t.launch, t.finish)))
    }.sum

    val m = Map[String, Double](
      "exec.task_cpu_ms" -> perPass(tTasks.map(_.cpuMs).sum),
      "exec.task_run_ms" -> perPass(tTasks.map(_.runMs).sum),
      "exec.task_gc_ms" -> perPass(tTasks.map(_.gcMs).sum),
      "exec.shuffle_write_mb" -> perPass(tTasks.map(_.shuffleWrite).sum / MB),
      "exec.shuffle_read_mb" -> perPass(tTasks.map(_.shuffleRead).sum / MB),
      "exec.spill_mb" -> perPass(tTasks.map(_.spill).sum / MB),
      "exec.input_mb" -> perPass(tTasks.map(_.input).sum / MB),
      "exec.output_mb" -> laneTasks.map(_.output).sum / MB,
      "exec.cpu_util" -> (if (wall > 0) tTasks.map(_.cpuMs).sum / (wall * cores) else 0.0),
      "exec.jobs" -> perPass(tJobs.size),
      "exec.stages" -> perPass(tStages.size),
      "exec.tasks" -> perPass(tTasks.size),
      "exec.idle_ms" -> perPass(idle),
      "exec.failed_tasks" -> tasks.count(_.failed).toDouble,
      "exec.unattributed_jobs" -> jobs.count(owner(_).isEmpty).toDouble,
      "jobs.build_ms" -> perPass(jobsL.map(_.buildMs).sum),
      "jobs.action_ms" -> perPass(jobsL.map(_.actionMs).sum),
      "operators.build_ms" -> perPass(queryL.map(_.buildMs).sum),
      "operators.build_jobs" -> perPass(queryL.map(buildJobs).sum),
      "operators.action_ms" -> perPass(queryL.map(_.actionMs).sum),
      "sources.resolve_ms" -> resolve.map(_.ms).sum,
      "sources.resolve_jobs" -> resolve.map(jobCount).sum.toDouble,
      "Sessions.create_ms" -> Stats.median(r.sessionMs),
      "self.build_ms" -> perPass(selfBuild),
      "self.action_ms" -> perPass(selfAction),
      "self.job_ms" -> perPass(selfJob),
      "self.stage_ms" -> perPass(selfStage),
      "self.task_ms" -> perPass(tTasks.map(t => t.finish - t.launch).sum),
      "trace.overhead_pct" -> (if (untracedPass > 0) (tracedPass / untracedPass - 1) * 100 else 0.0)) ++
      Caa.Jobs.map(j => s"jobs.${j}_ms" -> medianOf(x => x.layer == "jobs" && x.op == j, _.ms)) ++
      Workloads.Mix.map(q => s"op.${q}_ms" -> medianOf(x => x.layer == "operators" && x.op == q, _.ms)) ++
      Workloads.Mix.map(q => s"setup.first_call_ms.$q" ->
        Stats.median(setup.filter(x => x.layer == "operators" && x.op == q).map(_.ms))) ++
      Workloads.Lane.flatMap { q =>
        val step = lane.filter(_.op == q)
        Vector(s"lane.${q}_ms" -> Stats.median(step.map(_.ms)),
          s"lane.${q}_jobs" -> Stats.median(step.map(jobCount(_).toDouble)),
          s"lane.${q}_output_mb" -> Stats.median(step.map(_.warehouseDelta / MB)))
      }
    perLayerNames.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) }
  }

  /** Writes every span as one JSON line: the benchmark's own spans (run,
    * set-up round, pass, lane, op, build, action) and the attributed Spark
    * job, stage and task spans. */
  def writeTrace(path: Path, r: Runner, p: Probe, t0: Double, t1: Double, workload: String): Unit = {
    val (jobs, stages, tasks, stageJob) = p.snapshot
    val recSpan = r.recs.map(x => x.id -> x.spanId).toMap
    val out = ArrayBuffer.empty[String]
    def line(id: String, parent: String, kind: String, name: String, s: Double, e: Double): Unit =
      out += s"""{"id":"$id","parent":"$parent","kind":"$kind","name":"${esc(name)}","start_ms":$s,"end_ms":$e}"""
    line("b0", "", "run", workload, t0, t1)
    r.spans.foreach(s => line(s"b${s.id}", s"b${s.parent}", s.kind, s.name, s.start, s.end))
    def jobId(j: JobEv): String = s"j${j.ctx}.${j.jobId}"
    jobs.foreach { j =>
      val parent = Option(j.op).flatMap(recSpan.get).map(id => s"b$id").getOrElse("")
      line(jobId(j), parent, "job", s"job ${j.jobId}", j.start, if (j.end.isNaN) j.start else j.end)
    }
    stages.foreach(s => line(s"s${s.ctx}.${s.stageId}.${s.attempt}", stageJob.get(s.key).map(jobId).getOrElse(""),
      "stage", s"stage ${s.stageId}", s.start, s.end))
    tasks.zipWithIndex.foreach { case (t, i) =>
      line(s"t$i", s"s${t.ctx}.${t.stageId}.${t.stageAttempt}", "task", "task", t.launch, t.finish)
    }
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.write(path, (out.mkString("\n") + "\n").getBytes(UTF_8))
  }

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Metrics): String = {
    val ms = metrics.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": $x, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

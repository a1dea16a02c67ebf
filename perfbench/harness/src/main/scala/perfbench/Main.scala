package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** One benchmark run: one JVM, one workload.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> [--warmup <cycles>] [--spans <file>] [--small] [--watch-stdin]
  * }}}
  *
  * Set-up is the JVM and session start, input generation, the table or
  * index build and `--warmup` untimed cycles of the operation mix
  * ([[WarmCycles]] by default). The timed phase then runs whole
  * closed-loop cycles, starting new ones until `--seconds` have passed.
  * Every cycle runs the same operations.
  * With `--trace 1` untraced and traced cycles alternate in pairs (untraced,
  * traced, traced, untraced, ...; traced first on odd seeds): the traced
  * ones give the per-layer metrics, and their latencies against the
  * untraced ones give the tracing overhead. `--small` is the self-test: tiny inputs, one warm-up cycle
  * and one traced cycle, with assertions on what was printed. With
  * `--watch-stdin` the JVM halts when its stdin closes: it never outlives
  * the process that started it.
  */
object Main {

  /** Untimed cycles before timing. The first cycle pays for class loading,
    * Spark's code generation and graft's caches on every code path of the
    * mix; later cycles only let the JIT compile further, and a run has no
    * time budget for that (perfbench/workloads.json, "warm_up").
    */
  val WarmCycles = 1

  final case class Args(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      work: String,
      warmup: Option[Int],
      spans: Option[String],
      small: Boolean)

  private def parse(a: Array[String]): Args = {
    val kv = a.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(
      need("workload"),
      need("seed").toLong,
      kv.getOrElse("seconds", "10").toDouble,
      kv.getOrElse("trace", "0") == "1",
      need("work"),
      kv.get("warmup").map(_.toInt),
      kv.get("spans"),
      a.contains("--small"))
  }

  /** One executed operation of cycle `cycle`; `untimedNs` is its prep and
    * post time.
    */
  final case class Rec(
      name: String,
      kind: String,
      cycle: Int,
      traced: Boolean,
      t0: Long,
      t1: Long,
      ok: Boolean,
      check: Check,
      untimedNs: Long)

  /** Run-wide counts the listener does not see, summed over traced cycles. */
  final class Extra {
    var viewMisses = 0L
    var compileMs = 0.0
    var classes = 0.0
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    if (argv.contains("--watch-stdin")) {
      val watch = new Thread(() => {
        while (System.in.read() != -1) {}
        Runtime.getRuntime.halt(3)
      }, "perfbench-stdin-watch")
      watch.setDaemon(true)
      watch.start()
    }
    val make: Ctx => Workload = args.workload match {
      case "ingest_maintain" => new IngestMaintain(_)
      case "corpus"          => new CorpusWorkload(_)
      case other             => sys.error(s"unknown workload '$other'")
    }
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores)
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val tracer = new Tracer(args.trace || args.small)
    val code =
      try run(args, make, spark, tracer, cores, sessionS)
      finally spark.stop()
    sys.exit(code)
  }

  private def session(cores: Int): SparkSession = {
    val spark = graft.core.GraftSession.local(cores, "perfbench")
    graft.core.GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def run(
      args: Args,
      make: Ctx => Workload,
      spark: SparkSession,
      tracer: Tracer,
      cores: Int,
      sessionS: Double): Int = {
    val failures = new ConcurrentLinkedQueue[String]()
    // tracing stays off through set-up; the self-test traces its one cycle
    tracer.enabled = false
    val t0 = System.nanoTime()
    val ctx = Ctx(spark, tracer, args.seed, args.small, args.work, failures)
    Files.createDirectories(Paths.get(ctx.dir))
    val wl = make(ctx)
    wl.setup()
    val tBuilt = System.nanoTime()
    // warm-up: untimed cycles of the mix; their outputs are checked with
    // the timed ones
    val warmCycles = args.warmup.getOrElse(WarmCycles)
    val extra = new Extra
    val warm = (0 until warmCycles).flatMap { n =>
      val rs = runCycle(wl, tracer, n, traced = false, extra)
      ctx.log(f"warm-up cycle $n: mix p50 ${mixP50(rs)}%.1f ms, wall ${wallS(rs)}%.2f s")
      rs
    }
    val t1 = System.nanoTime()
    ctx.log(f"session $sessionS%.2f s, build ${(tBuilt - t0) / 1e9}%.2f s, warm-up ${(t1 - tBuilt) / 1e9}%.2f s")
    val setupS = sessionS + (t1 - t0) / 1e9

    if (args.small) {
      startTrace(wl, tracer, spark)
      val recs = phase(wl, tracer, Double.PositiveInfinity, warmCycles, maxCycles = 1, pair = false, extra)
      val layer = perLayer(wl, tracer, recs, cores, 0.0, extra)
      selfCheck(recs, tracer, failures)
      finish(args, wl, warm, recs, endToEnd(recs, setupS) ++ wl.endMetrics(), layer, failures, tracer)
    } else if (!args.trace) {
      val recs = phase(wl, tracer, args.seconds, warmCycles, Int.MaxValue, pair = false, extra)
      finish(args, wl, warm, recs, endToEnd(recs, setupS) ++ wl.endMetrics(), Nil, failures, tracer)
    } else {
      startTrace(wl, tracer, spark)
      val all = phase(wl, tracer, args.seconds, warmCycles, Int.MaxValue, pair = true, extra,
        tracedFirst = args.seed % 2 != 0)
      val (recs, plain) = all.partition(_.traced)
      val layer = perLayer(wl, tracer, recs, cores, mixP50(recs) / mixP50(plain) - 1.0, extra)
      val traced = endToEnd(recs, setupS).map(m => m.copy(name = "traced." + m.name))
      finish(args, wl, warm, all, traced ++ wl.endMetrics(), layer, failures, tracer)
    }
  }

  /** Attach the listener and start the timed phase's counts clean. */
  private def startTrace(wl: Workload, tracer: Tracer, spark: SparkSession): Unit = {
    tracer.attach(spark.sparkContext)
    tracer.reset()
    wl.resetCounts()
  }

  /** One cycle, traced or not. The listener bus is drained on both sides
    * of the switch, so each cycle's Spark events land on its own side.
    */
  private def runCycle(wl: Workload, tracer: Tracer, n: Int, traced: Boolean, extra: Extra): Vector[Rec] = {
    tracer.drain()
    tracer.enabled = traced
    val views = graft.sources.Snapshots.fullViewParseCount
    Codegen.delta()
    val recs = wl.cycle(n).map(op => exec(op, tracer, n)).toVector
    tracer.drain()
    tracer.enabled = false
    if (traced) {
      val (ms, classes) = Codegen.delta()
      extra.viewMisses += graft.sources.Snapshots.fullViewParseCount - views
      extra.compileMs += ms
      extra.classes += classes
    }
    recs
  }

  private def exec(op: Op, tracer: Tracer, cycle: Int): Rec = {
    val tp = System.nanoTime()
    op.prep()
    val t0 = System.nanoTime()
    val res =
      try Right(tracer.op(op.name)(op.body()))
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] ${op.name} threw: $e")
          Left(e)
      }
    val t1 = System.nanoTime()
    res match {
      case Right(c) =>
        c.post()
        Rec(op.name, op.kind, cycle, tracer.enabled, t0, t1, ok = true, c, (t0 - tp) + (System.nanoTime() - t1))
      case Left(_) => Rec(op.name, op.kind, cycle, tracer.enabled, t0, t1, ok = false, Check.now(false), t0 - tp)
    }
  }

  /** Closed loop: whole cycles back to back, numbered from `from`, a new
    * one starting while the deadline has not passed and fewer than
    * `maxCycles` have run. Every cycle runs the same operations, so every
    * run samples the mix in the same proportions. With `pair`, cycles run
    * in untraced/traced pairs, in the order untraced, traced, traced,
    * untraced (the other way round with `tracedFirst`), and the phase ends
    * only after a whole pair: a run that fits one pair times its second
    * cycle warmer, so the order alternates between runs too. Otherwise every
    * cycle is traced exactly when the tracer is attached.
    */
  private def phase(
      wl: Workload,
      tracer: Tracer,
      seconds: Double,
      from: Int,
      maxCycles: Int,
      pair: Boolean,
      extra: Extra,
      tracedFirst: Boolean = false): Vector[Rec] = {
    val deadline = if (seconds.isInfinite) Long.MaxValue else System.nanoTime() + (seconds * 1e9).toLong
    val recs = Vector.newBuilder[Rec]
    var n = 0
    while (n < maxCycles && (n == 0 || (pair && n % 2 == 1) || System.nanoTime() < deadline)) {
      val traced = if (pair) (n % 4 == 1 || n % 4 == 2) != tracedFirst else tracer.attached
      recs ++= runCycle(wl, tracer, from + n, traced, extra)
      n += 1
    }
    recs.result()
  }

  private def lat(rs: Seq[Rec]): Seq[Double] = rs.map(r => (r.t1 - r.t0) / 1e6)

  /** Geometric mean over operation types of each type's median latency. */
  private def mixP50(rs: Seq[Rec]): Double =
    Stats.geomean(rs.groupBy(_.name).values.map(g => Stats.median(lat(g))).toSeq)

  /** The median, the mix median and the tail of a set of operations. */
  private def latencies(prefix: String, rs: Seq[Rec]): Seq[Metric] =
    if (rs.isEmpty) Nil
    else {
      val (tv, pct, n) = Stats.tail(lat(rs))
      Seq(
        Metric(s"${prefix}_p50_ms", Stats.median(lat(rs)), "ms", s"n=${rs.size}"),
        Metric(s"${prefix}_mix_p50_ms", mixP50(rs), "ms",
          s"geometric mean of the median latency of each of ${rs.map(_.name).distinct.size} operation types"),
        Metric(s"${prefix}_tail_ms", tv, "ms",
          if (n > 10) f"p$pct%.1f of n=$n, 10 samples beyond" else s"max of n=$n"))
    }

  /** Wall time of the cycles `recs` ran in, without the harness's untimed
    * steps.
    */
  private def wallS(recs: Seq[Rec]): Double =
    recs.groupBy(_.cycle).values.map { rs =>
      rs.map(_.t1).max - rs.map(_.t0).min - rs.map(_.untimedNs).sum
    }.sum / 1e9

  private def endToEnd(recs: Seq[Rec], setupS: Double): Seq[Metric] = {
    val wallS = this.wallS(recs)
    Seq(
      Metric("setup_s", setupS, "s", "JVM and session start, input generation, build and warm-up"),
      Metric("ops_per_s", recs.size / wallS, "op/s", f"${recs.size} ops in $wallS%.2f s")) ++
      latencies("op", recs) ++
      latencies("read", recs.filter(_.kind == "read")) ++
      latencies("write", recs.filter(_.kind == "write")) ++
      recs.filter(_.kind == "refresh").headOption.toSeq.map(_ =>
        Metric("refresh_p50_ms", Stats.median(lat(recs.filter(_.kind == "refresh"))), "ms"))
  }

  /** The per-layer table of BENCHMARK.json: the layer spans' calls, self
    * time and Spark work, plus the run-wide Spark and driver counts, all
    * per timed operation unless the unit says otherwise.
    */
  private def perLayer(
      wl: Workload,
      tracer: Tracer,
      recs: Seq[Rec],
      cores: Int,
      overhead: Double,
      extra: Extra): Vector[Metric] = {
    val spans = tracer.spans.filter(_.endNs > 0)
    val self = Tracer.selfNs(spans)
    val n = math.max(1, recs.size).toDouble
    def work(ss: Seq[Span]): Work = {
      val w = new Work
      ss.foreach { s =>
        Option(tracer.work.get(s.id)).foreach { x =>
          w.jobs += x.jobs; w.tasks += x.tasks
          w.shuffleRead += x.shuffleRead; w.shuffleWrite += x.shuffleWrite; w.input += x.input
        }
      }
      w
    }
    val layers = Layers.names.flatMap { l =>
      val ls = spans.filter(_.layer == l)
      val w = work(ls)
      Seq(
        Metric(s"$l.calls", ls.size / n, "count/op"),
        Metric(s"$l.self_ms", ls.map(s => self(s.id)).sum / 1e6 / n, "ms/op"),
        Metric(s"$l.jobs", w.jobs / n, "count/op"),
        Metric(s"$l.tasks", w.tasks / n, "count/op"),
        Metric(s"$l.shuffle_bytes", (w.shuffleRead + w.shuffleWrite) / n, "B/op"),
        Metric(s"$l.input_bytes", w.input / n, "B/op"),
        Metric(s"$l.errors", ls.count(_.error) / n, "count/op"))
    }
    val t = tracer.total
    val wallMs = wallS(recs) * 1e3
    val jobs = tracer.jobIntervals.asScala.toVector
    val opSpans = spans.filter(_.layer == Tracer.OpLayer)
    val opNs = opSpans.map(s => s.endNs - s.startNs).sum.toDouble
    val gapNs = opSpans.map(s => (s.endNs - s.startNs) - Tracer.covered(jobs, s.startNs, s.endNs)).sum.toDouble
    // the run-wide values are taken before layerCounts(), whose own
    // measurements (a scan of the table) must not count in them
    val run = Seq(
      Metric("codegen.compile_ms", extra.compileMs / n, "ms/op", "approximate: compilations x mean compile time"),
      Metric("codegen.classes", extra.classes / n, "count/op"),
      Metric("spark.jobs", t.jobs / n, "count/op"),
      Metric("spark.stages", t.stages / n, "count/op"),
      Metric("spark.tasks", t.tasks / n, "count/op"),
      Metric("spark.shuffle_read_bytes", t.shuffleRead / n, "B/op"),
      Metric("spark.shuffle_write_bytes", t.shuffleWrite / n, "B/op"),
      Metric("spark.spill_bytes", t.spill / n, "B/op"),
      Metric("spark.task_run_ms", t.runMs / n, "ms/op"),
      Metric("spark.task_deser_ms", t.deserMs / n, "ms/op"),
      Metric("spark.sched_delay_ms", t.schedMs / n, "ms/op"),
      Metric("spark.gc_ms", t.gcMs / n, "ms/op"),
      Metric("spark.failed_tasks", t.failedTasks / n, "count/op"),
      Metric("spark.core_busy_share", t.runMs / (wallMs * cores), "ratio"),
      Metric("driver.gap_ms", gapNs / 1e6 / n, "ms/op"),
      Metric("driver.gap_share", if (opNs > 0) gapNs / opNs else 0.0, "ratio"),
      Metric("trace.overhead_share", overhead, "ratio", "traced op_mix_p50 / untraced op_mix_p50 - 1, alternating cycles"),
      Metric("trace.spans", spans.size / n, "count/op"))
    val counts = wl.layerCounts() + ("snapshots.view_misses" -> extra.viewMisses.toDouble)
    val workloadCounts = Layers.extras.map { case (name, unit) =>
      val v = counts.getOrElse(name, 0.0)
      Metric(name, if (unit.endsWith("/op")) v / n else v, unit)
    }
    (layers ++ workloadCounts ++ run).toVector
  }

  /** Self-test assertions: one traced cycle, every op's span tree inside
    * its wall time and covering it.
    */
  private def selfCheck(recs: Seq[Rec], tracer: Tracer, failures: ConcurrentLinkedQueue[String]): Unit = {
    val spans = tracer.spans
    val roots = spans.filter(_.layer == Tracer.OpLayer)
    recs.foreach { r =>
      roots.find(s => s.fn == r.name && s.startNs >= r.t0 && s.endNs <= r.t1) match {
        case None => failures.add(s"selftest: no op span for ${r.name}")
        case Some(root) =>
          val wall = r.t1 - r.t0
          if ((root.endNs - root.startNs) < 0.95 * wall - 1e6)
            failures.add(s"selftest: op span of ${r.name} covers less than its wall time")
          spans.filter(s => s.opId == root.id && s.id != root.id).foreach { s =>
            if (s.startNs < root.startNs || s.endNs > root.endNs || s.endNs == 0L)
              failures.add(s"selftest: span ${s.layer}.${s.fn} of ${r.name} leaves its operation")
          }
          if (!spans.exists(s => s.opId == root.id && s.id != root.id))
            failures.add(s"selftest: ${r.name} made no call into a layer")
      }
    }
  }

  private def finish(
      args: Args,
      wl: Workload,
      warm: Seq[Rec],
      recs: Seq[Rec],
      e2e: Seq[Metric],
      layer: Seq[Metric],
      failures: ConcurrentLinkedQueue[String],
      tracer: Tracer): Int = {
    // deferred output checks, then the workload's end-of-run checks
    def good(r: Rec): Boolean = r.ok && (try r.check.verify()
    catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] check of ${r.name} threw: $e")
        false
    })
    warm.filterNot(good).foreach(r => failures.add(s"warm-up ${r.name}"))
    val bad = recs.filterNot(good)
    bad.foreach(r => System.err.println(s"[perfbench] FAILED ${r.name}"))
    val failed = bad.size
    val end = Seq(
      Metric("failed_op_share", failed.toDouble / math.max(1, recs.size), "ratio", s"$failed of ${recs.size}"),
      Metric("retained_heap_mb", retainedHeapMb(), "MiB"))
    val all = e2e ++ end
    val workloadFailed = failures.asScala.toVector
    workloadFailed.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    tracer.enabled = false
    wl.close()
    recs.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, rs) =>
      println(f"op $name%-22s p50 ${Stats.median(lat(rs))}%9.1f ms  n=${rs.size}  ${lat(rs).map(x => f"$x%.1f").mkString(" ")}")
    }
    all.foreach(show)
    layer.foreach(show)
    args.spans.foreach { p =>
      if (tracer.spans.nonEmpty) Tracer.write(tracer.spans, Paths.get(p))
      println(s"spans written to $p")
    }
    val names = if (args.trace) Layers.perLayerNames else Layers.endToEndNames
    val byName = (all ++ layer).map(m => m.name -> m).toMap
    var correct = failed == 0 && workloadFailed.isEmpty
    if (args.small) {
      val missing = (Layers.endToEndNames ++ Layers.perLayerNames).filterNot(byName.contains)
      if (missing.nonEmpty) { System.err.println(s"[perfbench] selftest: missing metrics ${missing.mkString(", ")}"); correct = false }
      if (!byName.values.forall(_.unit.nonEmpty)) correct = false
    }
    val metrics = names.map { n =>
      val m = byName.getOrElse(n, Metric(n, Double.NaN, "?"))
      s""""$n": {"value": ${Json.num(m.value)}, "unit": "${m.unit}"}"""
    }
    println(
      s"""{"correct": $correct, "attempted": ${recs.size}, "failed": $failed, "metrics": {${metrics.mkString(", ")}}}""")
    System.out.flush()
    if (args.small && !correct) 1 else 0
  }

  private def show(m: Metric): Unit = {
    val v = if (m.value == math.rint(m.value)) f"${m.value}%.0f" else f"${m.value}%.4f"
    println(s"metric ${m.name} = $v ${m.unit}" + (if (m.note.nonEmpty) s"  (${m.note})" else ""))
  }

  private def retainedHeapMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    System.gc()
    System.gc()
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** Spark's codegen counters, as deltas since the previous call. */
object Codegen {
  private var last = (0L, 0L, 0.0)
  def delta(): (Double, Double) = {
    val n = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val mean = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
    val classes = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount
    val d = ((n - last._1) * mean, (classes - last._2).toDouble)
    last = (n, classes, mean)
    d
  }
}

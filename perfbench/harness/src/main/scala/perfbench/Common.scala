package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"'            => "\\\""
      case '\\'           => "\\\\"
      case c if c < ' '   => f"\\u${c.toInt}%04x"
      case c              => c.toString
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
}

/** Order statistics over latency samples. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** The highest percentile with at least ten samples beyond it: the
    * (n−10)-th smallest sample. Returns (value, percentile, n); with fewer
    * than eleven samples it is the maximum.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (Double.NaN, Double.NaN, 0)
    else if (n <= 10) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}

/** One printed metric. */
final case class Metric(name: String, value: Double, unit: String, note: String = "")

/** What an operation hands back: a deferred output check and an untimed
  * bookkeeping step (model updates) run right after the timed call.
  */
final case class Check(verify: () => Boolean, post: () => Unit = () => ())

object Check {
  val ok: Check = Check(() => true)
  def now(b: Boolean): Check = Check(() => b)
}

/** A benchmark operation. `kind` is read, write, refresh or maint; `prep`
  * runs untimed just before `body` (arriving input, picked keys).
  */
final case class Op(name: String, kind: String, body: () => Check, prep: () => Unit = () => ())

/** Everything a workload needs from the run. */
final case class Ctx(
    spark: SparkSession,
    tracer: Tracer,
    seed: Long,
    small: Boolean,
    dir: String,
    failures: java.util.concurrent.ConcurrentLinkedQueue[String]) {

  /** Run `body` as a span of `layer`.`fn`. */
  def span[T](layer: String, fn: String)(body: => T): T = tracer.span(layer, fn)(body)

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Record a failed end-of-run check; the run then reports correct=false. */
  def fail(msg: String): Unit = failures.add(msg)

  /** Register a fresh graft catalog over `root`; returns its name. */
  def catalog(root: String): String = {
    val name = s"pb${Ctx.catalogs.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sources.snap.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    name
  }
}

object Ctx {
  private val catalogs = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Plan-time counts of catalog reads: manifest bytes read while planning
  * and the graft scans' kept and total file counts.
  */
final class PlanCounts {
  @volatile var manifestBytes = 0L
  @volatile var filesKept = 0L
  @volatile var filesTotal = 0L

  def reset(): Unit = { manifestBytes = 0L; filesKept = 0L; filesTotal = 0L }

  def asLayerCounts: Map[String, Double] = Map(
    "snapshots.plan_manifest_bytes" -> manifestBytes.toDouble,
    "snap.files_read" -> filesKept.toDouble,
    "snap.files_pruned" -> (filesTotal - filesKept).toDouble)

  /** Build a catalog read and plan it under a `snap` span (catalog load
    * and manifest pruning); its scan runs under whichever span collects.
    */
  def planned(ctx: Ctx, fn: String)(q: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ctx.span("snap", fn) {
      graft.sources.Snapshots.resetPlanManifestBytes()
      val df = q
      df.queryExecution.optimizedPlan
      if (ctx.tracer.enabled) {
        manifestBytes += graft.sources.Snapshots.lastPlanManifestBytes
        val (k, n) = Compare.scanFiles(df)
        filesKept += k
        filesTotal += n
      }
      df
    }
}

/** A seeded workload with one closed-loop client: builds its inputs and
  * state, then hands out a fixed cycle of operations.
  */
trait Workload {

  /** Generate inputs and build tables or indexes. */
  def setup(): Unit

  /** The operations of the `n`-th cycle (the warm-up cycles come first);
    * the same operation names in every cycle.
    */
  def cycle(n: Int): Seq[Op]

  /** Workload-specific end-to-end metrics and end-of-run checks, taken
    * after the timed phase.
    */
  def endMetrics(): Seq[Metric] = Nil

  /** Workload-specific per-layer counts gathered while tracing was on,
    * keyed by metric name (totals over the traced cycles).
    */
  def layerCounts(): Map[String, Double] = Map.empty

  /** Forget counts gathered so far (start of the timed phase). */
  def resetCounts(): Unit = ()

  def close(): Unit = ()
}

object Disk {

  /** Bytes of the regular files under `dir`. */
  def bytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }
}

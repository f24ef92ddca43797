package perfbench

import scala.collection.mutable

/** One benchmark workload: a closed loop with one client. `step` is one
  * client cycle; the main loop repeats it for the measured window.
  * `tag` prefixes the job groups of this instance, so the traced window
  * and the layer probes of other workloads are told apart.
  */
abstract class Workload(val ctx: Ctx, val tag: String) {
  /** Make the inputs `setup` reads, once per run (not part of `setup_s`). */
  def prepare(): Unit = ()
  /** Bring the system to the state the window starts from (timed as `setup_s`). */
  def setup(): Unit
  /** One client cycle. */
  def step(): Unit
  /** Forget the samples taken so far (start of the window). */
  def reset(): Unit
  /** The universal end-to-end metrics (see BENCHMARK.json). */
  def endToEnd: Map[String, Double]
  /** The same numbers under their workload-specific names, with units. */
  def named: Seq[(String, Double, String)]
  /** Per-layer metrics of the layers this workload drives (traced run). */
  def layers: Map[String, Double]
  /** Untimed end-of-run correctness gates. */
  def verify(): Unit
  /** Undo `setup`, removing what it wrote; the run's scratch root,
    * `prepare`'s inputs included, is removed when the run ends.
    */
  def teardown(): Unit
  /** Untimed work after set-up that lets JIT compilation and caches
    * settle before the window; `setup` itself already warms what it runs.
    */
  def warmup(): Unit = ()

  protected def group(kind: String): String = s"$tag/$kind"
  protected def snap(kind: String): GroupMetrics.Snap =
    ctx.listener.snapshot(ctx.spark.sparkContext, group(kind))

  protected final class Samples {
    val xs = mutable.ArrayBuffer.empty[Double]
    def +=(x: Double): Unit = xs += x
    def p50: Double = if (xs.isEmpty) Double.NaN else Stats.median(xs.toSeq)
    def p90: Double = if (xs.isEmpty) Double.NaN else Stats.pct(xs.toSeq, 90)
    def clear(): Unit = xs.clear()
  }
}

object Workload {
  val Names = Seq("bulk_build", "serve", "live_ingest", "analytics")

  /** Full-size instance, or a small one for warm-up and layer probes. */
  def apply(name: String, ctx: Ctx, tag: String, small: Boolean): Workload = name match {
    case "bulk_build" => new BulkBuild(ctx, tag, if (small) 10000 else 20000, if (small) 8 else 0)
    case "serve" => new Serve(ctx, tag, if (small) 5000 else 10000, if (small) 9 else 1)
    case "live_ingest" => new LiveIngest(ctx, tag, if (small) 500 else 2000, if (small) 10 else 2)
    case "analytics" => new Analytics(ctx, tag, ctx.fixtures, small)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder. Spans are taken only around the benchmark's
  * own calls into the engine's public functions; while `enabled` is
  * false, `span` runs its body and records nothing.
  */
final class Tracer(var enabled: Boolean) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextOp = 0L

  /** A new operation id: spans of one client request share it. */
  def newOp(): Long = { nextOp += 1; nextOp }

  def span[T](name: String, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.length
      val parent = if (stack.isEmpty) -1 else stack.top
      spans += Span(name, System.nanoTime(), 0L, parent, op)
      stack.push(idx)
      try body
      finally {
        stack.pop()
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
      }
    }

  def writeTo(path: java.nio.file.Path): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.zipWithIndex.foreach { case (s, i) =>
      w.write(Json.obj(Seq("id" -> i, "name" -> s.name, "start_us" -> (s.startNs - t0) / 1000,
        "end_us" -> (s.endNs - t0) / 1000, "parent" -> s.parent, "op" -> s.op)))
      w.newLine()
    }
    finally w.close()
  }
}

object Tracer {
  final case class Span(name: String, startNs: Long, endNs: Long, parent: Int, op: Long)
}

/** Spark task metrics summed per job group. The benchmark tags each call
  * it makes with `sc.setJobGroup`; this listener maps jobs → stages →
  * tasks back to that group.
  */
final class GroupMetrics extends SparkListener {
  final class Agg {
    var calls = 0L; var jobs = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    /** Per finished stage: (task count, max task ms, median task ms, call-site details). */
    val stages = mutable.ArrayBuffer.empty[(Int, Long, Long, String)]
    var denseIdMs = 0L; var postingsMs = 0L
    /** Task ms of finished stages with no engine call site yet (see below). */
    var pendingMs = 0L
  }

  private val groups = mutable.HashMap.empty[String, Agg]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private def agg(g: String): Agg = groups.getOrElseUpdate(g, new Agg)

  /** One benchmark call tagged `group` started while this listener was on. */
  def called(group: String): Unit = synchronized { agg(group).calls += 1 }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("untagged")
    agg(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageGroup.getOrElse(e.stageId, "untagged"))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val a = agg(stageGroup.getOrElse(info.stageId, "untagged"))
    val ts = stageTasks.remove(info.stageId).map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
    if (ts.nonEmpty) {
      a.stages += ((ts.length, ts.last, ts(ts.length / 2), info.details))
      // Build stages by engine call site. Adaptive execution runs shuffle
      // map stages as jobs of their own whose call site is Spark's
      // thread pool; their time goes to the next stage of the group that
      // has an engine call site, i.e. the action that consumed them.
      a.pendingMs += ts.sum
      if (info.details.contains("graft.")) {
        if (info.details.contains("DenseId")) a.denseIdMs += a.pendingMs
        else if (info.details.contains("buildGroups")) a.postingsMs += a.pendingMs
        a.pendingMs = 0L
      }
    }
  }

  /** Drain the listener bus, then copy the group's totals. */
  def snapshot(sc: SparkContext, group: String): GroupMetrics.Snap = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val a = agg(group)
      // widest stage = most tasks; skew = its slowest task over its median
      val widest = a.stages.sortBy(s => (-s._1, -s._2)).headOption
      GroupMetrics.Snap(a.calls, a.jobs, a.tasks, a.runMs / 1e3, a.cpuNs / 1e9, a.gcMs / 1e3,
        a.shuffleWrite / 1048576.0, a.shuffleRead / 1048576.0, a.spill / 1048576.0,
        widest.map(s => s._2.toDouble / math.max(1L, s._3)).getOrElse(1.0),
        a.denseIdMs / 1e3, a.postingsMs / 1e3)
    }
  }
}

object GroupMetrics {
  final case class Snap(
      calls: Long, jobs: Long, tasks: Long, taskS: Double, cpuS: Double, gcS: Double,
      shuffleWriteMb: Double, shuffleReadMb: Double, spillMb: Double,
      widestSkew: Double, denseIdTaskS: Double, postingsTaskS: Double)
}

object Json {
  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + esc(s) + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}

object Stats {
  /** Nearest-rank percentile (q in 0..100) of a non-empty sample. */
  def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(q / 100.0 * s.length).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = xs.sum / xs.length

  /** `body`'s result and its wall time in seconds. */
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark entry point, one workload per JVM:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --state DIR --fixtures DIR --source SHA256
  *
  * Untraced (`--trace 0`): set up `SetupReps` times (median = setup_s),
  * warm up, run the closed loop for S seconds, run the correctness
  * gates, and print the end-to-end metrics. Traced (`--trace 1`): the
  * same loop, tracing every other step (task-metrics listener registered
  * and spans recorded) and not the steps between, so the overhead ratio
  * compares traced with untraced steps; then probe the layers this
  * workload leaves idle with small instances of the other workloads;
  * print the per-layer metrics and write the spans to the state
  * directory.
  *
  * The last stdout line is `PERFBENCH_RESULT {json}`; `perfbench/run.py`
  * turns it into the benchmark's result line.
  */
object Main {
  val SetupReps = 3
  /** Rows of the pure-ALU control job (about 0.4 s at local[4]). */
  val ControlRows = 60000000L
  val ControlJobs = 20

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    require(Workload.Names.contains(workload), s"unknown workload $workload; one of ${Workload.Names.mkString(", ")}")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val state = Paths.get(opt("state")).toAbsolutePath
    Files.createDirectories(work)
    Files.createDirectories(state)
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.io.file.buffer.size", "131072")
      .config("spark.shuffle.file.buffer", "1m")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, work, state, seed, cores, opt("fixtures"), opt("source"))

    // same-window host-noise controls, before and after the run (not
    // gated): a fixed pure-ALU job, and a run of tiny jobs that costs
    // only Spark's per-job scheduling, which dominates ad-hoc queries
    def control(salt: Int): Map[String, Double] = {
      spark.sparkContext.setJobGroup("control", "control")
      val t0 = System.nanoTime()
      spark.range(0, ControlRows, 1, cores)
        .select(sum(xxhash64(col("id") + lit(salt)) % 1000000L)).head()
      val t1 = System.nanoTime()
      (1 to ControlJobs).foreach(i => spark.range(0, i, 1, 1).count())
      val t2 = System.nanoTime()
      spark.sparkContext.clearJobGroup()
      Map("alu_s" -> (t1 - t0) / 1e9, "tiny_job_ms" -> (t2 - t1) / 1e6 / ControlJobs)
    }
    control(0)
    val controlPre = control(1)

    val wl = Workload(workload, ctx, workload, small = false)
    def timed(body: => Unit): Double = Stats.time(body)._2
    val prepareS = timed(wl.prepare()) // reported, not gated
    // setup_s is an untraced metric: a traced run sets up once
    val setupS = (1 to (if (traced) 1 else SetupReps)).map { i =>
      if (i > 1) wl.teardown()
      timed(wl.setup())
    }
    ctx.log(s"setup: ${setupS.map(x => f"$x%.2f").mkString(", ")} s")
    val warmupS = timed(wl.warmup()) // reported, not gated
    ctx.log(f"warmup: $warmupS%.2f s")

    var metrics = Map.empty[String, Double]
    var named = Seq.empty[(String, Double, String)]
    if (!traced) {
      wl.reset()
      val t0 = System.nanoTime()
      do wl.step() while ((System.nanoTime() - t0) / 1e9 < seconds)
      metrics = wl.endToEnd + ("setup_s" -> Stats.median(setupS))
      named = wl.named
    } else {
      // traced and untraced steps alternate, so JIT and cache warming
      // during the window bias neither side of the overhead ratio; the
      // listener is registered for traced steps only, and the bus is
      // drained (untimed) before it is removed, so it sees all of them
      val listener = new GroupMetrics
      def tracing(on: Boolean): Unit = if (on != ctx.tracer.enabled) {
        if (on) spark.sparkContext.addSparkListener(listener)
        else {
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(listener)
        }
        ctx.listener = if (on) listener else null
        ctx.tracer.enabled = on
      }
      val stepS = Map(true -> mutable.ArrayBuffer.empty[Double], false -> mutable.ArrayBuffer.empty[Double])
      wl.reset()
      val t0 = System.nanoTime()
      var i = 0
      do {
        tracing(i % 2 == 1)
        stepS(ctx.tracer.enabled) += timed(ctx.tracer.span(s"$workload.step", -1)(wl.step()))
        i += 1
      } while (i < 2 || (System.nanoTime() - t0) / 1e9 < seconds)
      tracing(true)
      named = wl.named
      metrics = wl.layers
      // layers this workload leaves idle: one cycle of a small instance
      // of each other workload, traced the same way
      Workload.Names.filterNot(_ == workload).foreach { other =>
        val p = Workload(other, ctx, s"probe-$other", small = true)
        p.prepare()
        p.setup()
        p.reset()
        p.step()
        metrics = p.layers ++ metrics
        p.verify()
        p.teardown()
      }
      metrics += "trace.overhead_ratio" -> Stats.median(stepS(true).toSeq) / Stats.median(stepS(false).toSeq)
      ctx.tracer.writeTo(state.resolve(s"spans-$workload-seed$seed.jsonl"))
    }
    ctx.log("window done")
    wl.verify()
    ctx.log("verify done")
    val controlPost = control(2)
    wl.teardown()

    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val config = Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cores" -> cores, "master" -> spark.sparkContext.master,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark.hadoop.io.file.buffer.size" -> spark.conf.get("spark.hadoop.io.file.buffer.size"),
      "spark.shuffle.file.buffer" -> spark.conf.get("spark.shuffle.file.buffer"),
      "build" -> Map("nPartitions" -> ctx.buildCfg.nPartitions, "nSlices" -> ctx.buildCfg.nSlices,
        "nGroups" -> ctx.buildCfg.nGroups, "blockSize" -> ctx.buildCfg.blockSize,
        "positions" -> ctx.buildCfg.positions, "mapSideCombine" -> ctx.buildCfg.mapSideCombine),
      "segment_build" -> Map("nPartitions" -> ctx.segmentCfg.nPartitions, "nSlices" -> ctx.segmentCfg.nSlices,
        "nGroups" -> ctx.segmentCfg.nGroups),
      "gc" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSeq,
      "jvm_args" -> rt.getInputArguments.asScala.filter(a => a.startsWith("-X") && !a.startsWith("-XX:ActiveP")).toSeq,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576)
    println("PERFBENCH_RESULT " + Json.obj(Seq(
      "attempted" -> ctx.attempted,
      "oracle_checks" -> ctx.oracleChecks,
      "failed" -> ctx.failed,
      "metrics" -> metrics,
      "named" -> named.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "prepare_s" -> prepareS,
      "setup_samples_s" -> setupS,
      "warmup_s" -> warmupS,
      "control_s" -> Map("pre" -> controlPre, "post" -> controlPost),
      "config" -> Map(config: _*))))
    spark.stop()
  }
}

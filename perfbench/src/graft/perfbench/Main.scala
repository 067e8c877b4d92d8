package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.{EngineDefaults, Q, SparkEntry}
import graft.sources.Tables
import org.apache.spark.GraftSchedulerBridge
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side: one run of one workload.
  *
  * `graft.perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *  --data DIR --out DIR --cpus N [--oracle 0|1]`
  *
  * A single client runs passes back to back (a closed loop). Each pass
  * clears the shared-stage memos, builds the workload's stages in
  * dependency order, then runs every query in an order drawn from the
  * seed, timing builder + planning + full-output action per query. The
  * first `WarmPasses` passes are untimed; timed passes follow until `S`
  * seconds have been measured, `MinTimedPasses` at the least. With `--trace 1`, traced and untraced
  * passes alternate and the traced ones record spans and layer counters.
  * Every output of the workload is then written under `DIR/outputs` for
  * the fingerprint check, and `DIR/result.json` receives the figures.
  */
object Main {
  /** Untimed passes before timing starts. A fresh JVM's first pass costs
    * three to four steady passes and the second takes most of the rest of
    * the warm-up. Every run then times the same number of passes, so each
    * run sits at the same place on the tail of the warm-up. */
  val WarmPasses = 2
  /** Timed passes per run at the least, whatever `--seconds` says (and as
    * many traced ones in a traced run). */
  val MinTimedPasses = 3

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, out: String, cpus: Int, oracle: Boolean)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("out"), m("cpus").toInt,
      m.get("oracle").contains("1"))
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.out}/warehouse")
      .config("spark.local.dir", s"${a.out}/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    EngineDefaults(spark)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Heap in use after a full GC, taken at the end of the warm-up so every
    * run measures after the same number of passes. Each later collection
    * frees what the context cleaner released after the one before. */
  def retainedHeap(): Long = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads.all(a.workload)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a)
    val runner = new Runner(spark, w, a)
    val rng = new Random(a.seed)
    def order(): Seq[Q] = rng.shuffle(w.queries)

    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val warm = Seq.fill(Main.WarmPasses)(runner.pass(order(), None))
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val heap = retainedHeap()

    val tracer = if (a.trace) Some(runner.tracer) else None
    tracer.foreach(_ => runner.installListeners())
    val untraced = mutable.ArrayBuffer.empty[PassResult]
    val traced = mutable.ArrayBuffer.empty[PassResult]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < a.seconds || untraced.size < Main.MinTimedPasses ||
        (tracer.nonEmpty && traced.size < Main.MinTimedPasses)) {
      // dead checkpoint blocks of the previous pass are collected here,
      // outside any pass, so no query absorbs their cleanup
      System.gc()
      val traceThis = tracer.nonEmpty && traced.size <= untraced.size
      val p = runner.pass(order(), if (traceThis) tracer else None)
      (if (traceThis) traced else untraced) += p
    }
    val last = (untraced ++ traced).maxBy(_.startNs)

    val timedEndS = (System.currentTimeMillis() - jvmStart) / 1e3
    val outputs = runner.writeOutputs(last)
    val outputsEndS = (System.currentTimeMillis() - jvmStart) / 1e3
    if (a.oracle) {
      val esc = (s: String) => org.json4s.jackson.JsonMethods.compact(
        org.json4s.JString(s))
      Files.writeString(Paths.get(s"${a.out}/outputs/oracle_sql.json"),
        SparkEntry.oracleSql.filter(kv => w.queries.exists(_.name == kv._1))
          .map { case (k, v) => s"${esc(k)}: ${esc(v)}" }
          .mkString("{", ",\n", "}"))
    }
    tracer.foreach(t => Files.writeString(Paths.get(s"${a.out}/spans.jsonl"),
      runner.spansJsonl(t)))

    val timed = untraced.toSeq
    val lat = timed.flatMap(_.latencies.values)
    val perQuery = w.queries.map(_.name).map(n =>
      n -> Quantiles.median(timed.flatMap(_.latencies.get(n))))
    val failedRuns = (timed ++ traced).map(_.failed.size).sum
    val attempted = (timed ++ traced).map(_.latencies.size).sum +
      (timed ++ traced).map(_.failed.size).sum
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "cpus" -> a.cpus,
      "queries" -> w.queries.size, "stages" -> w.stages.size,
      "names" -> w.queries.map(_.name),
      "setup_s" -> setupS, "session_s" -> sessionS,
      "warm_pass_s" -> warm.map(_.wall),
      "timed_end_s" -> timedEndS, "outputs_end_s" -> outputsEndS,
      "pass_s" -> timed.map(_.wall),
      "query_p50_s" -> Quantiles.median(lat),
      "latencies_s" -> lat,
      "retained_heap_mb" -> heap / 1e6,
      "attempted" -> attempted, "failed" -> failedRuns,
      "failed_queries" -> (timed ++ traced).flatMap(_.failed).distinct,
      "outputs" -> outputs,
      "query_median_s" -> perQuery.toMap,
      "stage_median_s" -> w.stages.map(s =>
        s -> Quantiles.median(timed.flatMap(_.stages.get(s)))).toMap)
    if (traced.nonEmpty) {
      val layers = mutable.LinkedHashMap[String, Any]()
      traced.head.layers.keys.foreach(k =>
        layers(k) = Quantiles.median(traced.map(_.layers(k)).toSeq))
      layers("trace.overhead_s") = Quantiles.median(traced.map(_.wall).toSeq) -
        Quantiles.median(timed.map(_.wall))
      result("layers") = layers
      result("unattributed_s") = traced.map(_.layers("trace.unattributed_s"))
      result("traced_pass_s") = traced.map(_.wall)
    }
    Files.writeString(Paths.get(s"${a.out}/result.json"), Json.write(result))
    spark.stop()
  }
}

/** Median and linear-interpolated quantile over a sample. */
object Quantiles {
  def quantile(xs0: Seq[Double], q: Double): Double = {
    val xs = xs0.filterNot(_.isNaN)
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = (lo + 1) min (s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON writer for the result file. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => org.json4s.jackson.JsonMethods.compact(
      org.json4s.JString(s))
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) =>
      write(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
  }
}

/** One pass's figures: its wall time, each stage build's time, each
  * successful query's latency, the failed queries and, for a traced pass,
  * the layer metrics. */
final case class PassResult(startNs: Long, wall: Double,
    stages: Map[String, Double], latencies: Map[String, Double],
    failed: Seq[String], layers: scala.collection.Map[String, Double])

final class Runner(spark: SparkSession, w: Workload, a: Main.Args) {
  private val sc = spark.sparkContext
  lazy val tracer = new Tracer(
    s"${a.workload}-${a.seed}-${ProcessHandle.current.pid}")
  private lazy val exec = new ExecListener(tracer.runId)
  private val jobRecords =
    mutable.ArrayBuffer.empty[(Int, String, Int, String)]
  private val streams = new StreamListener
  private val codegen = new CodegenFallbacks
  private val outDir = s"${a.out}/outputs"

  def installListeners(): Unit = {
    sc.addSparkListener(exec)
    spark.streams.addListener(streams)
    codegen.install()
  }

  private def action(q: Q, df: DataFrame): Unit =
    if (w.parquetSink) df.write.mode("overwrite").parquet(s"$outDir/${q.name}")
    else df.write.format("noop").mode("overwrite").save()

  private def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Run one pass; traced when a tracer is given. */
  def pass(order: Seq[Q], tracer: Option[Tracer]): PassResult =
    tracer match {
      case None => plainPass(order)
      case Some(t) => tracedPass(order, t)
    }

  private def plainPass(order: Seq[Q]): PassResult = {
    val t0 = System.nanoTime()
    Workloads.clearStages()
    val stageS = w.stages.map { s =>
      val s0 = System.nanoTime()
      Workloads.materialize(s, spark, a.data)
      s -> (System.nanoTime() - s0) / 1e9
    }.toMap
    val lat = mutable.LinkedHashMap.empty[String, Double]
    val failed = mutable.ArrayBuffer.empty[String]
    order.foreach { q =>
      val q0 = System.nanoTime()
      try {
        action(q, q.fn(spark, a.data))
        lat(q.name) = (System.nanoTime() - q0) / 1e9
      } catch { case e: Throwable => failed += q.name; report(q, e) }
    }
    PassResult(t0, (System.nanoTime() - t0) / 1e9, stageS, lat.toMap,
      failed.toSeq, Map.empty[String, Double])
  }

  private def report(q: Q, e: Throwable): Unit =
    System.err.println(s"[perfbench] ${q.name} failed: $e")

  /** `sources.*`: load each table the workload reads through the engine's
    * own `Tables.load`, then scan it in full into a noop sink. Runs
    * outside the pass span so the traced pass stays comparable to an
    * untraced one. */
  private def probeSources(t: Tracer): (Double, Double) = {
    var loadNs, scanNs = 0L
    t.span("sources") {
      w.tables.foreach { name =>
        val l0 = System.nanoTime()
        val df = t.span(s"load:$name")(Tables.load(spark, a.data, name))
        val l1 = System.nanoTime()
        t.span(s"scan:$name")(
          df.write.format("noop").mode("overwrite").save())
        loadNs += l1 - l0
        scanNs += System.nanoTime() - l1
      }
    }
    (loadNs / 1e6, scanNs / 1e9)
  }

  /** Open a span and tag the Spark jobs started inside it with its id. */
  private def phase[T](t: Tracer, name: String, ph: String)(body: => T): T =
    t.span(name) {
      exec.spanId = t.current
      sc.setJobGroup(s"${t.runId}/${t.current}/$ph", name)
      try body
      finally sc.clearJobGroup()
    }

  private def tracedPass(order: Seq[Q], t: Tracer): PassResult = {
    val (loadMs, scanS) = probeSources(t)
    GraftSchedulerBridge.waitListenerBus(sc)
    exec.reset()
    streams.reset()
    val gc0 = gcSeconds
    val cg0 = codegen.count.get
    val lat = mutable.LinkedHashMap.empty[String, Double]
    val failed = mutable.ArrayBuffer.empty[String]
    val stageS = mutable.LinkedHashMap.empty[String, Double]
    var analysisMs, optimizationMs, planningMs, planNodes = 0.0
    var streamSpanMs = 0.0
    val t0 = System.nanoTime()
    t.span("pass") {
      Workloads.clearStages()
      w.stages.foreach { s =>
        val s0 = System.nanoTime()
        phase(t, s"stage:$s", "stage")(Workloads.materialize(s, spark, a.data))
        stageS(s) = (System.nanoTime() - s0) / 1e9
      }
      order.foreach { q =>
        val q0 = System.nanoTime()
        try t.span(s"query:${q.name}") {
          val started = streams.started.get
          val b0 = System.nanoTime()
          val df = phase(t, "build", "build")(q.fn(spark, a.data))
          if (streams.started.get != started)
            streamSpanMs += (System.nanoTime() - b0) / 1e6
          phase(t, "plan", "plan") {
            val qe = df.queryExecution
            qe.executedPlan
            val ph = qe.tracker.phases
            def ms(k: String) = ph.get(k).map(_.durationMs.toDouble)
              .getOrElse(0.0)
            analysisMs += ms("analysis")
            optimizationMs += ms("optimization")
            planningMs += ms("planning")
            planNodes += qe.optimizedPlan.collect { case n => n }.size
          }
          phase(t, "exec", "exec")(action(q, df))
          lat(q.name) = (System.nanoTime() - q0) / 1e9
        } catch { case e: Throwable => failed += q.name; report(q, e) }
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    GraftSchedulerBridge.waitListenerBus(sc)
    jobRecords ++= exec.jobLog.asScala
    val passSpan = t.spans.last
    val kids = t.children(passSpan)
    val grand = kids.flatMap(t.children)
    def selfOf(spans: Seq[Span]) = spans.map(t.selfSeconds).sum
    def sumOf(spans: Seq[Span]) = spans.map(_.seconds).sum
    val storedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize)
      .sum / 1e6
    val (stateRows, stateBytes) = streams.stateTotals
    val mb = 1e6
    val layers = mutable.LinkedHashMap[String, Double](
      "sources.load_ms" -> loadMs,
      "sources.scan_s" -> scanS,
      "sources.input_mb" -> exec.input.get / mb,
      "operators.build_s" -> sumOf(grand.filter(_.name == "build")),
      "operators.build_jobs" -> exec.jobs("build").toDouble,
      "catalyst.analysis_ms" -> analysisMs,
      "catalyst.optimization_ms" -> optimizationMs,
      "catalyst.planning_ms" -> planningMs,
      "catalyst.plan_nodes" -> planNodes,
      "stages.build_s" -> stageS.values.sum,
      "stages.jobs" -> exec.jobs("stage").toDouble)
    Workloads.allStages.foreach(s =>
      layers(s"stages.${s}_s") = stageS.getOrElse(s, 0.0))
    layers ++= Seq(
      "stages.retained_mb" -> storedMb,
      "exec.s" -> sumOf(grand.filter(_.name == "exec")),
      "exec.jobs" -> exec.allJobs.toDouble,
      "exec.stages" -> exec.stages.get.toDouble,
      "exec.tasks" -> exec.tasks.get.toDouble,
      "exec.task_run_s" -> exec.runMs.get / 1e3,
      "exec.task_cpu_s" -> exec.cpuNs.get / 1e9,
      "exec.core_util" -> exec.runMs.get / 1e3 / (wall * a.cpus),
      "exec.shuffle_read_mb" -> exec.shuffleRead.get / mb,
      "exec.shuffle_write_mb" -> exec.shuffleWrite.get / mb,
      "exec.spill_mb" -> exec.spill.get / mb,
      "exec.gc_s" -> exec.gcMs.get / 1e3,
      "exec.output_mb" -> exec.output.get / mb,
      "exec.codegen_fallbacks" -> (codegen.count.get - cg0).toDouble,
      "streaming.batches" -> streams.batches.get.toDouble,
      "streaming.trigger_ms" -> streams.triggerMs.get.toDouble,
      "streaming.add_batch_ms" -> streams.addBatchMs.get.toDouble,
      "streaming.planning_ms" -> streams.planningMs.get.toDouble,
      "streaming.log_ms" -> streams.logMs.get.toDouble,
      "streaming.outside_batch_ms" ->
        (if (streamSpanMs == 0) 0.0 else streamSpanMs - streams.triggerMs.get),
      "streaming.state_rows" -> stateRows.toDouble,
      "streaming.state_mb" -> stateBytes / mb,
      "jvm.gc_s" -> (gcSeconds - gc0),
      "self.stage_s" -> selfOf(kids.filter(_.name.startsWith("stage:"))),
      "self.query_s" -> selfOf(kids.filter(_.name.startsWith("query:"))),
      "self.build_s" -> selfOf(grand.filter(_.name == "build")),
      "self.plan_s" -> selfOf(grand.filter(_.name == "plan")),
      "self.exec_s" -> selfOf(grand.filter(_.name == "exec")),
      "trace.pass_s" -> wall,
      "trace.unattributed_s" -> t.selfSeconds(passSpan))
    PassResult(t0, wall, stageS.toMap, lat.toMap, failed.toSeq, layers)
  }

  /** Leave every query's output under `outputs/<query>` as parquet, after
    * the timed passes and with the last pass's stage memos still live, so
    * a memo that went stale across passes shows as a wrong output. The
    * parquet workload already wrote them in its last pass; a query that
    * failed there has its output removed so it reads as missing. */
  def writeOutputs(last: PassResult): Seq[String] =
    w.queries.map(_.name).sorted.filter { name =>
      val q = w.queries.find(_.name == name).get
      if (w.parquetSink) {
        if (last.failed.contains(name))
          org.apache.commons.io.FileUtils.deleteQuietly(
            new java.io.File(s"$outDir/$name"))
        !last.failed.contains(name)
      } else try {
        q.fn(spark, a.data).write.mode("overwrite").parquet(s"$outDir/$name")
        true
      } catch { case e: Throwable => report(q, e); false }
    }

  /** Every span and every tagged job of the run, one JSON object a line. */
  def spansJsonl(t: Tracer): String = {
    val sb = new StringBuilder
    t.spans.sortBy(_.id).foreach { s =>
      sb ++= Json.write(Map("run" -> t.runId, "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end)) += '\n'
    }
    jobRecords.foreach { case (job, group, span, ph) =>
      sb ++= Json.write(Map("run" -> t.runId, "job" -> job,
        "group" -> group, "span" -> span, "phase" -> ph)) += '\n'
    }
    sb.toString
  }
}

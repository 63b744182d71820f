package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *   Bench <workload> <seed> <seconds> <trace 0|1> <workDir> <rawOut.json>
  * Builds the session the way graft.app.Main does, generates the inputs
  * and builds the store three times (the last one is measured), finishes
  * the set-up once, warms up, measures for `seconds` and writes the raw
  * samples as JSON; perfbench/run.py reduces them. */
object Bench {

  trait Workload {
    /** Input generation and store build in a fresh directory; repeated. */
    def setup(dir: String): Unit
    /** The rest of the set-up, once, over the last `setup`. */
    def finishSetup(): Unit = ()
    /** Untimed warm-up over the last set-up (JIT, caches, lazy init). */
    def warmUp(): Unit
    /** Measure for `seconds`; `traced` says whether spans are recorded. */
    def measure(seconds: Double, traced: Boolean): Unit
    /** Traced runs only, last: extra per-layer breakdowns whose spans
      * feed layer metrics but not the op counters; returns their raw
      * results. */
    def traceExtras(): Map[String, Any] = Map.empty
    /** Raw results of the last `measure`, plus its op latencies. */
    def raw: Map[String, Any]
    def opLatenciesMs: Seq[Double]
    def stop(): Unit = ()
  }

  final class Outcome {
    val attempted = new java.util.concurrent.atomic.AtomicLong
    val failed = new java.util.concurrent.atomic.AtomicLong
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def ok(): Unit = attempted.incrementAndGet()
    def fail(msg: String): Unit = {
      attempted.incrementAndGet(); failed.incrementAndGet()
      if (errors.size < 20) errors.add(msg)
    }
    /** Run `check`; a false result or an exception is a failed operation. */
    def check(what: String)(body: => Boolean): Unit =
      try { if (body) ok() else fail(s"wrong answer: $what") }
      catch { case scala.util.control.NonFatal(e) => fail(s"$what: $e") }
  }

  def session(workDir: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** (process CPU, GC, JIT) milliseconds so far, from the JVM's MXBeans */
  def jvmTimes(): Seq[Double] = Seq(
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble)

  /** What recording one span adds over not recording it, in ms: the
    * median over five rounds of `n` empty spans through a recording and
    * a non-recording recorder on this thread. Times the number of spans
    * per op, this is the tracing overhead per op; the Spark listeners
    * run in untraced runs too, so they add nothing to the difference. */
  def spanCostMs(spark: SparkSession, n: Int = 20000): Double = {
    def perSpan(r: Recorder): Double = {
      r.spark = spark
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { r.span("bench.cost")(i); i += 1 }
      (System.nanoTime() - t0) / 1e6 / n
    }
    val diffs = (1 to 5).map(_ => perSpan(new Recorder(traced = true)) - perSpan(new Recorder(traced = false)))
    diffs.sorted.apply(2)
  }

  /** Whether a closed loop starts another op: always a first one, then
    * while the last op's half still fits before the deadline. */
  def another(opsMs: scala.collection.Seq[Double], deadlineMs: Double): Boolean =
    opsMs.isEmpty || Clock.nowMs + opsMs.last / 2 < deadlineMs

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workDir, out) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    Files.createDirectories(Paths.get(workDir))
    val spark = session(workDir)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val rec = new Recorder(traced = false)
    rec.spark = spark
    val io = new ObservedIo
    val stats = new SparkStats
    val plans = new PlanStats
    spark.sparkContext.addSparkListener(stats)
    spark.listenerManager.register(plans)
    val outcome = new Outcome
    val ctx = Ctx(spark, rec, io, outcome, seed)

    val w: Workload = workload match {
      case "serve_archive" => new Serve(ctx)
      case "sync_archive" => new Sync(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val reps = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      w.setup(s"$workDir/setup-$i")
      (System.nanoTime() - t0) / 1e9
    }
    val tf = System.nanoTime()
    w.finishSetup()
    val tw = System.nanoTime()
    w.warmUp()
    val finishS = (tw - tf) / 1e9
    val warmS = (System.nanoTime() - tw) / 1e9
    // counters of set-up and warm-up are not the run's
    outcome.attempted.set(0); outcome.failed.set(0); outcome.errors.clear()
    def resetCounters(): Unit = {
      stats.counters.clear(); stats.jobs.clear(); stats.jobEnds.clear()
      io.publishes.clear()
      io.casRefusals.set(0); io.linkedFiles.set(0)
      Seq(plans.exchanges, plans.reused, plans.generates, plans.windows,
        plans.singlePartitionWindows, plans.actions).foreach(_.reset())
    }
    Thread.sleep(300) // let the listener bus deliver the set-up's events
    resetCounters()

    val result = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "cpus" -> Runtime.getRuntime.availableProcessors(),
      "setup" -> Map("session_s" -> sessionS, "reps_s" -> reps, "finish_s" -> finishS,
        "warmup_s" -> warmS))

    def storeData(): Map[String, Any] = Map(
      "publishes" -> io.publishes.asScala.toSeq.map(p => Seq(p.atMs, p.tableDir)),
      "cas_refusals" -> io.casRefusals.get, "linked_files" -> io.linkedFiles.get)

    if (!trace) {
      w.measure(seconds, traced = false)
      result("latency_ms") = w.opLatenciesMs
      result("raw") = w.raw
      result("store") = storeData()
    } else {
      val r = new Recorder(traced = true)
      r.spark = spark
      ctx.rec = r
      val jvm0 = jvmTimes()
      w.measure(seconds, traced = true)
      val jvm1 = jvmTimes()
      Thread.sleep(300) // let the listener bus deliver the last events
      result("latency_ms") = w.opLatenciesMs
      val tracedRaw = w.raw
      result("store") = storeData()
      val traceData = Map(
        "jobs" -> stats.jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
          Seq(j.id, j.startMs, Option(stats.jobEnds.get(j.id)).map(_.doubleValue).getOrElse(j.startMs), j.span)),
        "counters" -> stats.counters.asScala.map { case (k, m) =>
          k -> m.asScala.map { case (s, v) => s.toString -> v.sum }.toMap }.toMap,
        "plans" -> Map("actions" -> plans.actions.sum, "exchanges" -> plans.exchanges.sum,
          "reused_exchanges" -> plans.reused.sum, "generates" -> plans.generates.sum,
          "windows" -> plans.windows.sum,
          "single_partition_windows" -> plans.singlePartitionWindows.sum),
        "jvm" -> Map("gc_ms" -> (jvm1(1) - jvm0(1)), "jit_ms" -> (jvm1(2) - jvm0(2))))
      result("raw") = tracedRaw ++ w.traceExtras()
      result("span_cost_ms") = spanCostMs(spark)
      result("trace") = traceData + ("spans" -> r.spans.asScala.toSeq.sortBy(_.startMs)
        .map(s => Seq(s.id, s.name, s.parent, s.req, s.startMs, s.endMs)))
    }
    result("attempted") = outcome.attempted.get
    result("failed") = outcome.failed.get
    result("errors") = outcome.errors.asScala.toSeq
    w.stop()
    Files.write(Paths.get(out), Json.render(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
    // HttpApi's handler pool is non-daemon and outlives its server
    sys.exit(0)
  }
}

/** Shared run context. `rec` is swapped for a recording one in a
  * `--trace 1` run. */
final case class Ctx(spark: SparkSession, var rec: Recorder, io: ObservedIo,
    outcome: Bench.Outcome, seed: Long)

/** Minimal JSON rendering for the raw-results file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}

package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ops.{PosixStoreIo, StoreIo}

/** Wall clock in epoch milliseconds with sub-millisecond digits: one
  * time base for spans (nanoTime) and Spark events (currentTimeMillis). */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class Span(id: Long, name: String, parent: Long, req: Long,
    startMs: Double, endMs: Double)

object Recorder {
  /** Spark local property carrying the id of the innermost open span */
  val SpanProp = "graftbench.span"
}

/** In-memory span recorder. With tracing off `span` only runs the body.
  * With tracing on it records (name, start, end, parent, request id) and
  * tags every Spark job the calling thread submits with the span id, so
  * job, stage and task counters can be attributed to the enclosing layer. */
final class Recorder(val traced: Boolean) {
  import Recorder.SpanProp
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[Span]
  val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var spark: SparkSession = _

  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (!traced) body
    else {
      val parent = current.get()
      val s0 = Span(ids.incrementAndGet(), name,
        if (parent == null) 0L else parent.id,
        if (req >= 0 || parent == null) req else parent.req, Clock.nowMs, 0.0)
      current.set(s0)
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanProp, s0.id.toString)
      try body
      finally {
        spans.add(s0.copy(endMs = Clock.nowMs))
        current.set(parent)
        sc.setLocalProperty(SpanProp, if (parent == null) null else parent.id.toString)
      }
    }
}

/** Job intervals and task counters from the listener bus, each counter
  * keyed by the span that submitted the job (0 outside any span). */
final class SparkStats extends SparkListener {
  final case class Job(id: Int, startMs: Double, span: Long)
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  /** counter name -> span id -> value */
  val counters = new java.util.concurrent.ConcurrentHashMap[String,
    java.util.concurrent.ConcurrentHashMap[Long, LongAdder]]()

  def add(name: String, span: Long, v: Long): Unit =
    counters.computeIfAbsent(name, _ => new java.util.concurrent.ConcurrentHashMap())
      .computeIfAbsent(span, _ => new LongAdder).add(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    jobs.put(e.jobId, Job(e.jobId, e.time.toDouble, span))
    e.stageIds.foreach(s => stageSpan.put(s, span))
    add("spark.jobs", span, 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.put(e.jobId, e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val span = stageSpan.getOrDefault(e.stageInfo.stageId, 0L)
    add("spark.stages", span, 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.getOrDefault(e.stageId, 0L)
    add("spark.tasks", span, 1)
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      add("spark.task_cpu_ns", span, m.executorCpuTime)
      add("spark.shuffle_read_bytes", span,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      add("spark.shuffle_write_bytes", span, m.shuffleWriteMetrics.bytesWritten)
      add("spark.spill_bytes", span, m.memoryBytesSpilled + m.diskBytesSpilled)
      add("spark.input_records", span, m.inputMetrics.recordsRead)
      if (info != null && info.finishTime > 0)
        add("spark.scheduler_delay_ms", span, math.max(0L,
          (info.finishTime - info.launchTime) - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime))
    }
  }
}

/** Runtime-final plan shape of every successful action. */
final class PlanStats extends QueryExecutionListener {
  val exchanges, reused, generates, windows, singlePartitionWindows, actions =
    new LongAdder

  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => q +: walk(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(walk)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    actions.increment()
    walk(qe.executedPlan).foreach {
      case _: ShuffleExchangeExec => exchanges.increment()
      case _: ReusedExchangeExec => reused.increment()
      case _: GenerateExec => generates.increment()
      case w: WindowExec =>
        windows.increment()
        if (w.partitionSpec.isEmpty) singlePartitionWindows.increment()
      case _ =>
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** The store's POSIX IO profile, observed: every pointer publish with
  * its time and table, CAS refusals (the store retries those), and
  * hard-linked (shared) files. */
final class ObservedIo extends StoreIo {
  final case class Publish(atMs: Double, tableDir: String)
  val publishes = new ConcurrentLinkedQueue[Publish]()
  val casRefusals = new AtomicLong
  val linkedFiles = new AtomicLong

  private def record(pointer: Path): Unit =
    publishes.add(Publish(Clock.nowMs, pointer.getParent.toString))

  override def swapPointer(pointer: Path, content: String): Unit = {
    PosixStoreIo.swapPointer(pointer, content)
    record(pointer)
  }

  override def swapPointerIfCurrent(pointer: Path, content: String,
      expectedPrevious: Option[String]): Unit = {
    try PosixStoreIo.swapPointerIfCurrent(pointer, content, expectedPrevious)
    catch { case e: graft.ops.ConcurrentCommitException =>
      casRefusals.incrementAndGet(); throw e }
    record(pointer)
  }

  override def deletePointerIfCurrent(pointer: Path, expected: String): Unit =
    PosixStoreIo.deletePointerIfCurrent(pointer, expected)

  override def shareFile(src: Path, dst: Path): Unit = {
    PosixStoreIo.shareFile(src, dst)
    linkedFiles.incrementAndGet()
  }
}

/** A listing of every regular file under a store root: (relative path,
  * inode, bytes, whether it belongs to a table's live version). */
object StoreWalk {
  final case class FileEntry(ino: Long, bytes: Long, live: Boolean)

  def list(root: String): Seq[FileEntry] = {
    val rootP = Paths.get(root)
    if (!Files.exists(rootP)) return Seq.empty
    val liveDirs = Files.list(rootP).iterator().asScala.filter(Files.isDirectory(_))
      .flatMap { t =>
        val cur = t.resolve("_CURRENT")
        if (!Files.exists(cur)) None
        else {
          val p = new String(Files.readAllBytes(cur), "UTF-8").trim
          Some(t.resolve(if (p.startsWith("v=")) p else s"v=$p"))
        }
      }.toSeq
    val s = Files.walk(rootP)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      FileEntry(Files.getAttribute(p, "unix:ino").asInstanceOf[Long], Files.size(p),
        liveDirs.exists(d => p.startsWith(d)))
    }.toList
    finally s.close()
  }

  /** Versions kept on disk per table (dirs named v=...). */
  def versionsRetained(root: String): Int = {
    val rootP = Paths.get(root)
    if (!Files.exists(rootP)) 0
    else Files.list(rootP).iterator().asScala.filter(Files.isDirectory(_))
      .map(t => Files.list(t).iterator().asScala
        .count(v => v.getFileName.toString.startsWith("v="))).sum
  }
}

package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch microseconds, so spans recorded
  * by the harness (nanoTime based) and by Spark's listener bus (epoch
  * millis) share one clock. `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, name: String, start: Double,
    end: Double, attrs: Map[String, Any])

/** In-memory span recorder. The benchmark opens a span around every
  * call it makes into one of the library's layers; a public
  * SparkListener adds one span per scheduler job and stage, attributed
  * to the harness span that submitted it through a local property, and
  * a QueryExecutionListener adds one point record per executed query
  * with its plan shape and Catalyst phase times. Nothing is written
  * until [[write]] runs at the end of the benchmark.
  *
  * With `enabled = false` every method is a pass-through, so untraced
  * runs pay one boolean check per call. `recording` gates the
  * listeners, which stay installed for the whole session. */
final class Trace(val enabled: Boolean) {

  private val SpanKey = "perfbench.span"
  private val ids = new AtomicLong(0L)
  private val spans = ArrayBuffer.empty[Span]
  @volatile var recording = false
  @volatile private var current = 0L
  private var spark: SparkSession = _

  private val t0Nano = System.nanoTime()
  private val t0EpochUs = System.currentTimeMillis() * 1000.0
  def nowUs: Double = t0EpochUs + (System.nanoTime() - t0Nano) / 1000.0

  private def add(s: Span): Unit = spans.synchronized { spans += s }

  /** Run `body` inside a span named `name`, child of the span open on
    * this thread. Jobs submitted from `body` carry the span's id. */
  def span[A](name: String, attrs: Map[String, Any] = Map.empty)(body: => A): A =
    if (!enabled || !recording) body
    else {
      val id = ids.incrementAndGet()
      val parent = current
      current = id
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanKey, id.toString)
      val start = nowUs
      try body
      finally {
        add(Span(id, parent, name, start, nowUs, attrs))
        current = parent
        sc.setLocalProperty(SpanKey, if (parent == 0L) null else parent.toString)
      }
    }

  /** Record a zero-length span carrying measurements taken outside any
    * call, e.g. the files a write created, under the span open now. */
  def point(name: String, attrs: => Map[String, Any]): Unit =
    if (enabled && recording) {
      val t = nowUs
      add(Span(ids.incrementAndGet(), current, name, t, t, attrs))
    }

  // per-stage task aggregates, keyed by (stageId, attempt)
  private final class StageAcc {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var bytesRead = 0L; var rowsRead = 0L; var waitMs = 0L
  }
  private val stageAcc = new ConcurrentHashMap[(Int, Int), StageAcc]()
  private val stageSubmit = new ConcurrentHashMap[(Int, Int), java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Double, Int)]()
  private val execSpan = new ConcurrentHashMap[Long, java.lang.Long]()
  private val jobParent = new ConcurrentHashMap[Long, Long]()

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toLong).getOrElse(current)

  /** Install the listeners on a fresh session. */
  def install(session: SparkSession): Unit = {
    spark = session
    if (!enabled) return
    session.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
        val id = ids.incrementAndGet()
        val owner = spanOf(e.properties)
        jobStart.put(e.jobId, (id, e.time * 1000.0, e.stageInfos.size))
        e.stageInfos.foreach(s => stageJob.put(s.stageId, id))
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id")))
          .foreach(x => execSpan.put(x.toLong, owner))
        // the job span's parent is the harness span that submitted it
        jobParent.put(id, owner)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStart.remove(e.jobId)).foreach { case (id, start, nStages) =>
          add(Span(id, jobParent.getOrDefault(id, 0L), "job", start,
            e.time * 1000.0, Map("stages" -> nStages)))
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (recording) e.stageInfo.submissionTime.foreach(t =>
          stageSubmit.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), t))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording) {
        val acc = stageAcc.computeIfAbsent((e.stageId, e.stageAttemptId),
          _ => new StageAcc)
        val m = e.taskMetrics
        acc.synchronized {
          acc.tasks += 1
          Option(stageSubmit.get((e.stageId, e.stageAttemptId))).foreach(s =>
            acc.waitMs += math.max(0L, e.taskInfo.launchTime - s))
          if (m != null) {
            acc.runMs += m.executorRunTime
            acc.cpuNs += m.executorCpuTime
            acc.gcMs += m.jvmGCTime
            acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            acc.spill += m.diskBytesSpilled
            acc.bytesRead += m.inputMetrics.bytesRead
            acc.rowsRead += m.inputMetrics.recordsRead
          }
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val info = e.stageInfo
        val key = (info.stageId, info.attemptNumber())
        Option(stageAcc.remove(key)).foreach { a =>
          val start = Option(stageSubmit.remove(key)).map(_.longValue)
            .orElse(info.submissionTime).getOrElse(0L)
          add(Span(ids.incrementAndGet(),
            Option(stageJob.get(info.stageId)).map(_.longValue).getOrElse(0L),
            "stage", start * 1000.0,
            info.completionTime.getOrElse(start) * 1000.0,
            Map("tasks" -> a.tasks, "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs,
              "gc_ms" -> a.gcMs, "shuffle_write" -> a.shuffleWrite,
              "shuffle_read" -> a.shuffleRead, "spill" -> a.spill,
              "bytes_read" -> a.bytesRead, "rows_read" -> a.rowsRead,
              "task_wait_ms" -> a.waitMs)))
        }
      }
    })
    session.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
        if (recording) {
          // jobs of this execution name the span that ran it; an
          // execution without jobs falls back to the span open now
          val owner = Option(execSpan.remove(qe.id)).map(_.longValue)
            .getOrElse(current)
          val (ex, reused, inmem) = shape(qe.executedPlan)
          val phases = qe.tracker.phases
          def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
          val t = nowUs
          add(Span(ids.incrementAndGet(), owner, "qe", t, t,
            Map("func" -> func, "exchanges" -> ex, "reused_exchanges" -> reused,
              "inmemory_scans" -> inmem, "analysis_ms" -> ms("analysis"),
              "optimization_ms" -> ms("optimization"),
              "planning_ms" -> ms("planning"))))
        }
      override def onFailure(func: String, qe: QueryExecution,
          e: Exception): Unit = ()
    })
  }

  /** Exchange, reused-exchange and in-memory-scan nodes of an executed
    * plan, looking through adaptive and query-stage wrappers. */
  def shape(p: SparkPlan): (Int, Int, Int) = {
    var ex = 0; var reused = 0; var inmem = 0
    def walk(n: SparkPlan): Unit = {
      n match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case r: ReusedExchangeExec => reused += 1
        case e: Exchange => ex += 1; e.children.foreach(walk)
        case m: InMemoryTableScanExec => inmem += 1
        case other => other.children.foreach(walk)
      }
      n.subqueries.foreach(walk)
    }
    walk(p)
    (ex, reused, inmem)
  }

  /** Block until the listener bus has delivered every queued event, so
    * the spans of one op are complete before the next op starts. */
  def drain(): Unit =
    if (enabled && recording)
      org.apache.spark.perfbench.Bus.waitUntilEmpty(spark.sparkContext)

  /** Write every span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = spans.synchronized(spans.toList).sortBy(_.start).map { s =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", s.id); m.put("parent", s.parent); m.put("name", s.name)
      m.put("start_us", s.start); m.put("end_us", s.end)
      s.attrs.foreach { case (k, v) => m.put(k, v) }
      mapper.writeValueAsString(m)
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

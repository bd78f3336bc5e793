package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Work the listeners saw under one span: jobs, stages and tasks, with the
  * task metrics summed and the task run intervals kept for busy/gap maths. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  var recordsWritten, bytesWritten = 0L
  val intervals = mutable.ArrayBuffer[(Long, Long)]()

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    recordsWritten += o.recordsWritten; bytesWritten += o.bytesWritten
    intervals ++= o.intervals
  }

  /** Milliseconds of [from, to] during which no task was running. */
  def idleMs(from: Double, to: Double): Double =
    math.max(0.0, (to - from) - Counters.covered(intervals.map { case (a, b) => (a.toDouble, b.toDouble) }, from, to))

  def fields: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> runMs, "task_cpu_ms" -> cpuNs / 1e6, "task_gc_ms" -> gcMs,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill, "records_written" -> recordsWritten,
    "bytes_written" -> bytesWritten)
}

object Counters {
  /** Length of the union of `intervals`, clipped to [from, to]. */
  def covered(intervals: Iterable[(Double, Double)], from: Double, to: Double): Double = {
    var total, reach = 0.0
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1).foreach { case (a, b) =>
        val s = math.max(a, reach)
        if (b > s) { total += b - s; reach = b }
      }
    total
  }
}

/** One span: a harness call into a layer, or a listener-derived child (SQL
  * execution, job, streaming trigger). Times are epoch milliseconds. */
final class Span(val id: Int, val parent: Int, val name: String, val kind: String,
    val startMs: Double) {
  var endMs: Double = startMs
  val attrs = mutable.LinkedHashMap[String, Any]()
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder. Disabled, it only runs the bodies: no
  * listener is registered and nothing is recorded. Enabled, it registers
  * Spark's public listeners, tags every job with the open span through a
  * local property, and hangs SQL executions, jobs and streaming progress
  * under the span that caused them. The spans are written once, at the end.
  */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  import Tracer._
  private val sc: SparkContext = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble

  private def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  // listener state, written on the listener bus thread
  private val lock = new Object
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val counters = mutable.HashMap[Int, Counters]()
  private val jobStart = mutable.HashMap[Int, (Int, Double)]()
  private val sqlStart = mutable.HashMap[Long, (String, Double)]()
  private val derived = mutable.ArrayBuffer[(String, String, Double, Double, Int, Map[String, Any])]()
  private val streamSpan = mutable.HashMap[String, Int]()
  val progress = mutable.ArrayBuffer[(Int, StreamingQueryListener.QueryProgressEvent)]()
  val writes = mutable.ArrayBuffer[(String, Double, Boolean)]() // output path, ms, ok

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(SpanProperty))).map(_.toInt).getOrElse(0)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val s = spanOf(e.properties)
      counters.getOrElseUpdate(s, new Counters).jobs += 1
      e.stageIds.foreach(stageSpan(_) = s)
      jobStart(e.jobId) = (s, e.time.toDouble)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach { case (s, start) =>
        derived += (("job", s"job ${e.jobId}", start, e.time.toDouble, s, Map.empty))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      counters.getOrElseUpdate(stageSpan.getOrElse(e.stageInfo.stageId, 0), new Counters).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val c = counters.getOrElseUpdate(stageSpan.getOrElse(e.stageId, 0), new Counters)
      c.tasks += 1
      c.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime; c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.recordsWritten += m.outputMetrics.recordsWritten
        c.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        sqlStart(s.executionId) = (s.description, s.time.toDouble)
      }
      case s: SparkListenerSQLExecutionEnd => lock.synchronized {
        sqlStart.remove(s.executionId).foreach { case (d, start) =>
          derived += (("sql", s"sql ${s.executionId}", start, s.time.toDouble, -1,
            Map("description" -> d.take(120))))
        }
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution, durNs: Long, ok: Boolean): Unit = {
      val path = qe.logical.collectFirst {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
      }
      path.foreach(p => lock.synchronized {
        writes += ((p, durNs / 1e6, ok))
      })
    }
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs, ok = true)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe, 0L, ok = false)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        progress += ((streamSpan.getOrElse(e.progress.id.toString, 0), e))
      }
  }

  if (enabled) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Record `body` as a span named `name` under the open span. */
  def apply[T](name: String, kind: String = "call")(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size + 1, stack.headOption.map(_.id).getOrElse(0), name, kind, nowMs)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.endMs = nowMs
        stack = stack.tail
        sc.setLocalProperty(SpanProperty, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def last: Span = spans.last

  /** The last span of `kind` named `name`, and its direct children. */
  def spansOf(name: String, kind: String = "query"): (Span, Seq[Span]) = {
    val q = spans.findLast(s => s.name == name && s.kind == kind).get
    (q, spans.filter(_.parent == q.id).toSeq)
  }

  /** Remember which span started a streaming query, so its progress
    * events hang under that span. */
  def startedStream(queryId: java.util.UUID): Unit =
    if (enabled) lock.synchronized {
      streamSpan(queryId.toString) = stack.headOption.map(_.id).getOrElse(0)
    }

  /** Deliver every queued listener event. Call outside timed sections. */
  def drain(): Unit = if (enabled) org.apache.spark.graft.CleanerBridge.waitListenerBusEmpty(sc)

  private def descendants(id: Int): Seq[Int] = {
    val kids = spans.filter(_.parent == id).map(_.id).toSeq
    kids ++ kids.flatMap(descendants)
  }

  /** Listener counters of `span` and everything under it. */
  def counted(span: Span): Counters = lock.synchronized {
    val c = new Counters
    (span.id +: descendants(span.id)).foreach(i => counters.get(i).foreach(c += _))
    c
  }

  /** Every span with self time, listener children materialized under the
    * innermost harness span that contains them (SQL executions) or that
    * tagged them (jobs, streaming triggers). */
  def spansJson(): Seq[Map[String, Any]] = lock.synchronized {
    def innermost(t: Double): Int =
      spans.filter(s => s.startMs <= t && t <= s.endMs).sortBy(_.durMs).headOption.map(_.id).getOrElse(0)
    val all = spans.toSeq ++ derived.toSeq.zipWithIndex.map {
      case ((kind, name, a, b, owner, at), i) =>
        val s = new Span(100000 + i, if (owner >= 0) owner else innermost(a), name, kind, a)
        s.endMs = b; s.attrs ++= at; s
    } ++ progress.toSeq.zipWithIndex.map { case ((owner, e), i) =>
      val p = e.progress
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble + dur
      val s = new Span(200000 + i, owner, s"trigger ${p.batchId}", "stream", end - dur)
      s.endMs = end
      s.attrs ++= Seq("sink" -> p.sink.description, "input_rows" -> p.numInputRows)
      s
    }
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val covered = Counters.covered(byParent.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)),
        s.startMs, s.endMs)
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
        "start_ms" -> (s.startMs - t0Ms), "dur_ms" -> s.durMs,
        "self_ms" -> math.max(0.0, s.durMs - covered)) ++ s.attrs ++
        counters.get(s.id).filter(_ => s.kind == "call").map(_.fields).getOrElse(Map.empty)
    }
  }

  def close(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

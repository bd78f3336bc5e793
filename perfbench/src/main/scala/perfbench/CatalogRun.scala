package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import org.apache.spark.perfbench.StatusBridge

import graft.{Housekeeping, QueryCatalog, Tables}

/** A catalog workload: every query of the seeded order, serially, each as
  * build (`fn(spark, dir)`), plan (`queryExecution.executedPlan`) and a
  * full-result action (`collect`), fingerprinted outside the timed section
  * and followed by `Housekeeping.releaseAll`. Each pass ends with
  * `Housekeeping.releaseAndSettle`. An untimed warm-up pass of the same
  * queries comes first; an untraced run then makes timed passes for at
  * least `--seconds` and at least [[MinPasses]], and after them the source
  * ingest (every table through `Tables.load`, collected in full). */
final case class CatalogRun(spark: SparkSession, args: Main.Args) {
  import Main.ms

  private val dir = args.data
  private val order: Seq[String] =
    Files.readAllLines(Paths.get(args.work, "queries.txt"), UTF_8).asScala.toSeq.filter(_.nonEmpty)
  private val catalog = QueryCatalog.queries
  // two samples of every query: over 5 seeds the median of one pass's 10
  // latencies spread 0.21
  private val MinPasses = 2

  /** Time `Tables.load` of every table: milliseconds and, traced, the jobs
    * each load launched. */
  private def loadTables(tr: Tracer): Seq[Map[String, Any]] =
    Tables.names.map { t =>
      val s = System.nanoTime()
      tr(s"load $t") { Tables.load(spark, dir, t) }
      val m = ms(s)
      tr.drain()
      Map("table" -> t, "ms" -> m) ++ (if (tr.enabled) Map("jobs" -> tr.counted(tr.last).jobs) else Map.empty)
    }

  private def query(name: String, tr: Tracer, plantDrop: Boolean): Map[String, Any] = {
    val fn = catalog.getOrElse(name, throw new NoSuchElementException(s"query $name is not in the catalog"))
    var build, plan, action = 0.0
    val gc0 = Main.gcMs()
    val t0 = System.nanoTime()
    val out: Either[String, Array[Row]] =
      try tr(name, "query") {
        var s = System.nanoTime()
        val df: DataFrame = tr("build") { fn(spark, dir) }
        build = ms(s); s = System.nanoTime()
        tr("plan") { df.queryExecution.executedPlan }
        plan = ms(s); s = System.nanoTime()
        val rows = tr("action") { df.collect() }
        action = ms(s)
        Right(rows)
      } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    val latency = ms(t0)
    val gc = Main.gcMs() - gc0
    val base = Map[String, Any]("name" -> name, "latency_ms" -> latency, "build_ms" -> build,
      "plan_ms" -> plan, "action_ms" -> action, "driver_gc_ms" -> gc)
    val c0 = System.nanoTime()
    val checked = out match {
      case Right(rows) =>
        val kept = if (plantDrop && rows.nonEmpty) rows.dropRight(1) else rows
        base ++ Map("fingerprint" -> Fingerprint.of(kept).json, "check_ms" -> ms(c0))
      case Left(err) => base ++ Map("error" -> err, "check_ms" -> 0.0)
    }
    val traced = if (!tr.enabled) Map.empty[String, Any] else {
      val sc = spark.sparkContext
      val pinned = sc.getRDDStorageInfo.filter(_.isCached)
      Map("barrier_count" -> sc.getPersistentRDDs.size,
        "barrier_mb" -> pinned.map(r => r.memSize + r.diskSize).sum / 1048576.0)
    }
    val s = System.nanoTime()
    tr("release", "housekeeping") { Housekeeping.releaseAll(spark) }
    val release = ms(s)
    System.err.println(f"[perfbench] $name%-32s $latency%9.1f ms${out.swap.map(" " + _).getOrElse("")}")
    checked ++ traced + ("release_ms" -> release)
  }

  /** Read every source table through `Tables.load` and collect it in full
    * (all columns of all rows to the client): rows and milliseconds. */
  private def ingest(): Map[String, Any] = {
    val s = System.nanoTime()
    val rows = Tables.names.map(t => Tables.load(spark, dir, t).collect().length.toLong).sum
    Map("rows" -> rows, "ms" -> ms(s))
  }

  /** Listener counts of the query span, its build/plan/action children and
    * the driver gap (query wall time with no task running). */
  private def layerFields(tr: Tracer, qs: Span, kids: Seq[Span]): Map[String, Any] = {
    val c = tr.counted(qs)
    val byName = kids.map(k => k.name -> k).toMap
    val buildJobs = byName.get("build").map(tr.counted(_).jobs).getOrElse(0L)
    val busy = c.intervals.map { case (a, b) => b - a }.sum.toDouble
    Map("build_jobs" -> buildJobs,
      "driver_gap_ms" -> c.idleMs(qs.startMs, qs.endMs),
      "slot_busy_frac" -> (if (qs.durMs > 0) busy / (qs.durMs * Runtime.getRuntime.availableProcessors) else 0.0)
    ) ++ c.fields
  }

  private def pass(traced: Boolean, plantDrop: Boolean): Map[String, Any] = {
    val tr = new Tracer(traced, spark)
    val loads = if (traced) tr("sources.load") { loadTables(tr) } else Nil
    val disk0 = StatusBridge.stageDiskBytes(spark.sparkContext)
    val cpu0 = Main.cpuNs()
    val t0 = System.nanoTime()
    val queries = tr("pass", "pass") {
      order.zipWithIndex.map { case (n, i) =>
        val e = query(n, tr, plantDrop && i == 0)
        if (traced) {
          tr.drain()
          val (q, kids) = tr.spansOf(n)
          e ++ layerFields(tr, q, kids)
        } else e
      }
    }
    val wall = ms(t0)
    val cpu = (Main.cpuNs() - cpu0) / 1e9
    val disk = StatusBridge.stageDiskBytes(spark.sparkContext).collect { case (k, b) if !disk0.contains(k) => b }.sum
    val s = System.nanoTime()
    tr("settle", "housekeeping") { Housekeeping.releaseAndSettle(spark) }
    val settle = ms(s)
    val heap = Main.retainedHeapMb()
    tr.close()
    Map[String, Any]("pass_ms" -> wall, "cpu_s" -> cpu, "retained_heap_mb" -> heap,
      "settle_ms" -> settle, "disk_bytes" -> disk, "queries" -> queries, "traced" -> traced) ++
      (if (traced) Map("loads" -> loads, "spans" -> tr.spansJson()) else Map.empty)
  }

  /** The untimed warm-up pass: every query of the order once, so that the
    * timed passes do not pay for the cold JVM, and a query's latency does
    * not depend on where the seeded order puts it. */
  def warm(): Unit = {
    order.foreach { n =>
      catalog(n)(spark, dir).collect()
      Housekeeping.releaseAll(spark)
    }
    Housekeeping.releaseAndSettle(spark)
  }

  def run(): Map[String, Any] = {
    val setupStart = System.nanoTime()
    // traced runs time the first loads in the session, whose file index and
    // schema inference are cold
    val cold = if (args.trace) loadTables(new Tracer(false, spark)) else Nil
    warm()
    val setupJvmMs = ms(setupStart)
    val firstTimedMs = System.currentTimeMillis()
    val plant = args.plant == "drop_row"
    val passes = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val t0 = System.nanoTime()
    if (args.trace) {
      // the untraced pass after the traced one is as warm as it: the base
      // of the tracing overhead (the pass right after the warm-up pass still
      // ran 15-20% slower than the two after it)
      passes += pass(traced = false, plant)
      passes += pass(traced = true, plantDrop = false)
      passes += pass(traced = false, plantDrop = false)
    } else {
      do passes += pass(traced = false, plant && passes.isEmpty)
      while (ms(t0) < args.seconds * 1000 || passes.size < MinPasses)
    }
    Map("first_timed_ms" -> firstTimedMs, "setup_jvm_ms" -> setupJvmMs,
      "cold_loads" -> cold, "order" -> order, "passes" -> passes.toSeq, "ingest" -> ingest())
  }
}

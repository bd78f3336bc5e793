package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.Housekeeping
import graft.gen.TxnGen
import graft.gold.TxnGold
import graft.silver.TxnSilver
import graft.sources.VersionedTable
import graft.streaming.StreamPipes

/** The medallion stream: per cycle one raw `(value, event_timestamp)` batch
  * lands in the source directory, then an AvailableNow bronze run
  * (`TxnGen.derive` into `StreamPipes.bronzeSink`), an AvailableNow silver
  * run (`StreamPipes.silverForeachBatch`: DQ, mask, merge, commit) and a
  * refresh of the three `TxnGold` tables. After the last cycle the end state
  * is checked against the batch transforms over all raw rows. */
final case class StreamRun(spark: SparkSession, args: Main.Args) {
  import Main.ms

  private val clock = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
  private val rawSchema = StructType(Seq(
    StructField("value", LongType), StructField("event_timestamp", TimestampType)))
  private val bronzeSchema =
    TxnGen.derive(spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), rawSchema), clock).schema
  private val golds: Seq[(String, DataFrame => DataFrame)] = Seq(
    "merchant_risk_summary" -> TxnGold.merchantRiskSummary,
    "cardholder_features" -> TxnGold.cardholderFeatures,
    "hourly_volume_stats" -> TxnGold.hourlyVolumeStats)
  private def listBatches(dir: String): Seq[Path] = Files.list(Paths.get(dir)).iterator().asScala
    .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.getFileName.toString)
  private val batches = listBatches(args.data)
  private val raw = spark.read.schema(rawSchema).parquet(batches.map(_.toString): _*)
  private val meta = scala.io.Source.fromFile(s"${args.data}/stream.json", "UTF-8")
  private val planted = """"invalid"\s*:\s*(\d+)""".r.findFirstMatchIn(meta.mkString).get.group(1).toLong
  meta.close()

  private final class Dirs(root: String) {
    val landing = s"$root/landing"
    val bronze = s"$root/bronze"
    val bronzeCk = s"$root/_ck/bronze"
    val silver = s"$root/silver"
    val silverCk = s"$root/_ck/silver"
    val quarantine = s"$root/quarantine"
    def gold(name: String) = s"$root/gold/$name"
  }

  /** Move a raw batch into the watched directory in one rename, so the file
    * source never lists a half-written file. */
  private def land(p: Dirs, batch: Path): Unit = {
    val dst = Paths.get(p.landing)
    Files.createDirectories(dst)
    val tmp = dst.resolve("." + batch.getFileName)
    Files.copy(batch, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, dst.resolve(batch.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
  }

  private def await(tr: Tracer, q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    tr.startedStream(q.id)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  private def cycle(p: Dirs, batch: Path, tr: Tracer): Map[String, Any] = {
    val t0 = System.nanoTime()
    var bronze, silver, gold = 0.0
    val err: Option[String] =
      try tr(s"batch ${batch.getFileName}", "batch") {
        land(p, batch)
        var s = System.nanoTime()
        tr("bronze run") {
          val src = spark.readStream.schema(rawSchema).parquet(p.landing)
          await(tr, StreamPipes.bronzeSink(TxnGen.derive(src, clock), p.bronze, p.bronzeCk))
        }
        bronze = ms(s); s = System.nanoTime()
        tr("silver run") {
          val bs = StreamPipes.tableStream(spark, p.bronze, bronzeSchema)
          await(tr, StreamPipes.silverForeachBatch(bs, p.silver, p.quarantine, p.silverCk,
            clock, TxnGen.ValidMcc))
        }
        silver = ms(s); s = System.nanoTime()
        tr("gold refresh") {
          val sv = VersionedTable.read(spark, p.silver).get
          golds.foreach { case (n, f) =>
            tr(s"gold $n") { f(sv).write.mode("overwrite").parquet(p.gold(n)) }
          }
        }
        gold = ms(s)
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    System.err.println(f"[perfbench] ${batch.getFileName}%-24s ${ms(t0)}%9.1f ms  bronze $bronze%7.1f silver $silver%7.1f gold $gold%7.1f${err.map(" " + _).getOrElse("")}")
    Map("batch" -> batch.getFileName.toString, "freshness_ms" -> ms(t0), "bronze_ms" -> bronze,
      "silver_ms" -> silver, "gold_ms" -> gold) ++ err.map("error" -> _)
  }

  private def bytesUnder(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(f => f.getFileName.toString.startsWith(".")).map(Files.size).sum
  }

  private def rowsOf(df: DataFrame) = df.collect().toSeq

  /** The end state against the batch transforms: silver is `processBatch`
    * over every raw row reduced to one row per transaction_id, keys unique;
    * the quarantine holds exactly the planted invalid rows; every gold table
    * is its `TxnGold` function over the final silver. The check is untimed,
    * so its independent jobs run concurrently. */
  private def check(p: Dirs, plantDrop: Boolean): Map[String, Any] = {
    val t0 = System.nanoTime()
    val pool = Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val silverDf = VersionedTable.read(spark, p.silver).get
      val expected = Future {
        val (valid, _) = TxnSilver.processBatch(TxnGen.derive(raw, clock), clock, TxnGen.ValidMcc)
        Fingerprint.of(rowsOf(valid.dropDuplicates("transaction_id")))
      }
      val silver = Future(rowsOf(silverDf))
      val quarantine = Future(spark.read.parquet(p.quarantine).count())
      val gold = golds.map { case (n, f) =>
        Future(n -> (Fingerprint.of(rowsOf(spark.read.parquet(p.gold(n)))) == Fingerprint.of(rowsOf(f(silverDf)))))
      }
      val silverRows = Await.result(silver, Duration.Inf)
      val kept = if (plantDrop) silverRows.dropRight(1) else silverRows
      val got = Fingerprint.of(kept)
      val keysUnique = silverRows.map(_.getAs[Any]("transaction_id")).distinct.size == silverRows.size
      val want = Await.result(expected, Duration.Inf)
      val quarantined = Await.result(quarantine, Duration.Inf)
      val goldOk = gold.map(Await.result(_, Duration.Inf))
      val ok = got == want && keysUnique && quarantined == planted && goldOk.forall(_._2)
      Map("ok" -> ok, "ms" -> ms(t0), "silver_fingerprint" -> got.json, "expected_fingerprint" -> want.json,
        "keys_unique" -> keysUnique, "quarantined" -> quarantined, "planted_invalid" -> planted,
        "gold_ok" -> goldOk.toMap)
    } finally pool.shutdown()
  }

  /** Bytes on disk per layer and, for the useful-work ratios of a traced
    * pass, the rows each silver version holds. Read after the pass, untimed. */
  private def storage(p: Dirs, rowCounts: Boolean): Map[String, Any] = {
    val versions = VersionedTable.commits(spark, p.silver).map(_._1)
    val rows = if (rowCounts) versions.map(v => VersionedTable.readVersion(spark, p.silver, v).count()) else Nil
    Map("silver_version_rows" -> rows,
      "quarantine_rows" -> (if (rowCounts) spark.read.parquet(p.quarantine).count() else 0L),
      "silver_bytes_all" -> bytesUnder(p.silver),
      "silver_bytes_final" -> versions.lastOption.map(v => bytesUnder(VersionedTable.versionPath(p.silver, v))).getOrElse(0L),
      "bronze_bytes" -> bytesUnder(p.bronze),
      "gold_bytes" -> golds.map(g => bytesUnder(p.gold(g._1))).sum,
      "quarantine_bytes" -> bytesUnder(p.quarantine))
  }

  /** One pass over `use` into fresh directories. `checked` passes get the
    * end-state check; `traced` ones the listeners and the per-layer counts. */
  private def pass(k: Int, traced: Boolean, plantDrop: Boolean, checked: Boolean = true,
      use: Seq[Path] = batches): Map[String, Any] = {
    val p = new Dirs(s"${args.work}/stream/pass$k")
    val tr = new Tracer(traced, spark)
    val cpu0 = Main.cpuNs()
    val gc0 = Main.gcMs()
    val t0 = System.nanoTime()
    val cycles = tr("pass", "pass") { use.map(b => cycle(p, b, tr)) }
    val wall = ms(t0)
    val cpu = (Main.cpuNs() - cpu0) / 1e9
    val gc = Main.gcMs() - gc0
    val passSpan = if (traced) Some(tr.spansOf("pass", "pass")._1) else None
    val s = System.nanoTime()
    Housekeeping.releaseAndSettle(spark)
    val settle = ms(s)
    val heap = Main.retainedHeapMb()
    tr.close()
    val ok = cycles.forall(!_.contains("error"))
    val end = if (!checked) Map.empty else if (ok) check(p, plantDrop) else Map("ok" -> false)
    val layers = if (!traced) Map.empty else Map(
      "spans" -> tr.spansJson(),
      "driver_gc_ms" -> gc,
      "driver_gap_ms" -> passSpan.map(s => tr.counted(s).idleMs(s.startMs, s.endMs)).getOrElse(0.0),
      "exec" -> passSpan.map(tr.counted(_).fields).getOrElse(Map.empty),
      "progress" -> tr.progress.map { case (owner, e) =>
        val pr = e.progress
        Map("span" -> owner, "sink" -> pr.sink.description, "batch_id" -> pr.batchId,
          "input_rows" -> pr.numInputRows,
          "duration_ms" -> pr.durationMs.asScala.map { case (a, b) => a -> b.longValue }.toMap)
      }.toSeq,
      "writes" -> tr.writes.map { case (path, d, okw) =>
        Map("path" -> path, "ms" -> d, "ok" -> okw) }.toSeq)
    Map("pass_ms" -> wall, "cpu_s" -> cpu, "retained_heap_mb" -> heap, "settle_ms" -> settle,
      "traced" -> traced, "batches" -> cycles, "end_state" -> end,
      "storage" -> storage(p, traced)) ++ layers
  }

  /** The untimed warm-up: small batches of their own, into a throwaway
    * directory. */
  def warm(): Unit =
    pass(0, traced = false, plantDrop = false, checked = false, use = listBatches(s"${args.data}/warmup"))

  def run(): Map[String, Any] = {
    val setupStart = System.nanoTime()
    warm()
    val setupJvmMs = ms(setupStart)
    val firstTimedMs = System.currentTimeMillis()
    val plant = args.plant == "drop_row"
    val passes = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val t0 = System.nanoTime()
    if (args.trace) {
      // the untraced pass after the traced one is as warm as it: the base
      // of the tracing overhead (the pass right after the warm-up still ran
      // 15-40% slower than the two after it)
      // the end state is checked once: the later passes rerun the same code
      // on the same input into fresh directories
      passes += pass(1, traced = false, plant)
      passes += pass(2, traced = true, plantDrop = false, checked = false)
      passes += pass(3, traced = false, plantDrop = false, checked = false)
    } else {
      do passes += pass(passes.size + 1, traced = false, plant && passes.isEmpty)
      while (ms(t0) < args.seconds * 1000)
    }
    Map("first_timed_ms" -> firstTimedMs, "setup_jvm_ms" -> setupJvmMs,
      "raw_rows" -> raw.count(), "planted_invalid" -> planted, "passes" -> passes.toSeq)
  }
}

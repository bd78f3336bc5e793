package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Benchmark JVM. `run.py` generates the inputs and launches this with
  *
  *   --workload <name> --data <dir> --work <dir> --seconds <n> --trace <0|1>
  *   --out <record.json> [--plant drop_row]
  *
  * It runs one workload closed-loop (one client; each call starts after the
  * previous one returned) for at least `--seconds`, and writes the raw
  * measurements and output fingerprints as one JSON record. `run.py` turns
  * the record into metrics and judges the fingerprints.
  *
  * `--workload train` runs only the warm-up of both workloads, from
  * `<data>/catalog` and `<data>/stream`: the build runs it once to record
  * the classes a run loads in a class-data archive.
  */
object Main {
  final case class Args(workload: String, data: String, work: String, seconds: Double,
      trace: Boolean, out: String, plant: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("work"), m("seconds").toDouble, m("trace") == "1",
      m("out"), m.getOrElse("plant", "none"))
  }

  /** The conf that plans `graft.Bench`'s queries, plus paths that keep
    * Spark's temporary files inside the work directory. */
  def conf(cores: Int, work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.ui.enabled" -> "false",
    "spark.sql.queryExecutionListeners" -> "graft.plans.GraftLintListener",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/spark-warehouse")

  def session(conf: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Driver heap still in use after a full collection, in MB. */
  def retainedHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def ms(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e6

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainMs = System.currentTimeMillis()
    val cores = Runtime.getRuntime.availableProcessors
    val c = conf(cores, args.work)
    val t0 = System.nanoTime()
    val spark = session(c)
    val sessionMs = ms(t0)
    val body: Map[String, Any] = try {
      args.workload match {
        case "catalog" => CatalogRun(spark, args).run()
        case "medallion_stream" => StreamRun(spark, args).run()
        case "train" =>
          CatalogRun(spark, args.copy(data = s"${args.data}/catalog", work = s"${args.work}/catalog")).warm()
          StreamRun(spark, args.copy(data = s"${args.data}/stream", work = s"${args.work}/stream")).warm()
          Map.empty[String, Any]
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally spark.stop()
    val record = Map(
      "workload" -> args.workload, "trace" -> args.trace, "cores" -> cores,
      "conf" -> c.toMap, "jvm_start_ms" -> jvmStartMs, "main_ms" -> mainMs,
      "session_ms" -> sessionMs) ++ body
    Files.write(Paths.get(args.out), Serialization.write(record)(DefaultFormats).getBytes(UTF_8))
  }
}

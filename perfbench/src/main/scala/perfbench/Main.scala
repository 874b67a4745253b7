package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload and writes the raw run
  * record (samples, counters, spans, Spark jobs, check results) as JSON.
  * `perfbench/run.py` turns that record into the reported metrics.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --out FILE [--data DIR --arms a,b]
  *                  [--origins N --files N]
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args.get("trace").contains("1")
    val work = Paths.get(args("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench-" + workload)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    mark("session")

    val rec = new Recorder(traced)
    rec.install(spark)
    val checks = new Checks
    val gc0 = gcMs()
    heapPools.foreach(_.resetPeakUsage())
    val loop = try {
      workload match {
        case "ingest_churn" =>
          new EngineBench(spark, rec, checks, work, seed, seconds,
            args.getOrElse("origins", "4").toInt, args.getOrElse("files", "100").toInt).run()
        case "operator_pipelines" =>
          val out = work.resolve("arm-out")
          Files.createDirectories(out)
          new OpsBench(spark, rec, checks, args("data"), out, seconds,
            args("arms").split(",").toSeq).run()
        case other => sys.error(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        checks(s"$workload aborted", ok = false, e.toString)
        e.printStackTrace()
        Map.empty[String, Any]
    }
    mark("workload")
    val jvm = Map(
      "gc_s" -> (gcMs() - gc0) / 1e3,
      "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
    val record = rec.json(Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "attempted" -> checks.attempted, "failed" -> checks.failed,
      "failures" -> checks.notes.toList, "loop" -> loop, "jvm" -> jvm,
      "session_s" -> sessionS, "cores" -> cores,
      "spark_version" -> spark.version,
      "jdk" -> (System.getProperty("java.vm.name") + " " + System.getProperty("java.runtime.version"))))
    spark.stop()
    mark("stopped")
    Files.write(Paths.get(args("out")), record.getBytes(StandardCharsets.UTF_8))
    // the engine's index pool keeps non-daemon threads alive after the
    // session stops; the run is complete here
    System.exit(0)
  }

  /** Progress line with JVM uptime, for the run log. */
  private def mark(what: String): Unit =
    System.err.println(f"[perfbench] $what at ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toList
}

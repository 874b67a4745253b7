package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** `operator_pipelines`: passes over oracle-bearing query arms of
  * `SparkEntry.queries` on tables generated for the seed. The first pass
  * is a warm-up whose outputs are written for the DuckDB oracle check
  * (`tools/check.py`); every measured pass must reproduce them row for
  * row. Each arm run is one latency sample of its arm.
  */
final class OpsBench(spark: SparkSession, rec: Recorder, checks: Checks,
    dataDir: String, outDir: Path, seconds: Double, arms: Seq[String]) {

  // the tables the three arms read
  private val tables = Seq("region", "nation", "customer", "orders", "documents")

  private def releaseCached(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  /** Run one arm, timed from plan construction to the collected result. */
  private def runArm(arm: String): (org.apache.spark.sql.types.StructType, Seq[org.apache.spark.sql.Row]) = {
    val ((df, rows), s, e, _) = rec.timed("op." + arm) {
      val df = graft.SparkEntry.queries(arm)(spark, dataDir)
      (df, df.collect().toSeq)
    }
    val ph = df.queryExecution.tracker.phases
    rec.sample(s"op.$arm.plan_ms",
      Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs.toDouble).sum)
    releaseCached()
    (df.schema, rows)
  }

  private def digest(rows: Seq[org.apache.spark.sql.Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.toString + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  def run(): Map[String, Any] = {
    val missing = arms.filterNot(graft.SparkEntry.oracleSql.contains)
    require(missing.isEmpty, s"arms without oracle SQL: ${missing.mkString(",")}")
    // set-up, three times: read every table the arms use through Spark
    (0 until 3).foreach { _ =>
      val t0 = rec.now
      tables.foreach(t => graft.core.Tables(spark, dataDir, t).count())
      rec.sample("setup_unit_s", (rec.now - t0) / 1e9)
    }
    // one warm-up pass; its outputs go to the oracle check. The JIT is
    // not settled after it, which the per-arm medians of the measured
    // passes absorb.
    val t0w = rec.now
    val reference = rec.warmup {
      arms.map { a =>
        val (schema, rows) = runArm(a)
        spark.createDataFrame(rows.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(outDir.resolve(a).toString)
        releaseCached()
        a -> digest(rows)
      }.toMap
    }
    rec.put("warmup_s", (rec.now - t0w) / 1e9)
    // the inputs of tools/check.py: the oracle SQL and the declared arms
    Files.write(outDir.resolve("oracle_sql.json"), JsonOut.render(
      arms.map(a => a -> graft.SparkEntry.oracleSql(a)).toMap).getBytes(StandardCharsets.UTF_8))
    Files.write(outDir.resolve("queries.json"), JsonOut.render(arms).getBytes(StandardCharsets.UTF_8))
    // measured passes: whole passes until the run length is spent, at
    // least three. Each pass is still faster than the one before it (the
    // JIT settles slowly), so a run must not end at two passes on a slow
    // host and at three on a fast one: the per-arm median would move.
    val t0 = rec.now
    val end = t0 + (seconds * 1e9).toLong
    var pass = 0
    while (pass < 3 || rec.now < end) {
      val p0 = rec.now
      arms.foreach { a =>
        val d = digest(runArm(a)._2)
        checks(s"$a pass $pass = warm-up output", d == reference(a), s"digest $d")
      }
      rec.sample("op.pass_s", (rec.now - p0) / 1e9)
      pass += 1
    }
    rec.put("loop_s", (rec.now - t0) / 1e9)
    rec.put("loop.ops", pass * arms.size)
    rec.reference(arms.foreach(runArm))
    rec.settle()
    rec.pause()
    Map("loop" -> "closed", "clients" -> 1, "writer_rate_per_s" -> 0, "arms" -> arms)
  }
}

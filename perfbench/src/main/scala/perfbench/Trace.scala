package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are nanoseconds since the recorder's
  * origin; `parent` is the id of the span that caused it (-1 for a root).
  */
final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long)

/** One finished Spark job with the task metrics of its stages summed. */
final case class JobRec(jobId: Int, start: Long, end: Long, tasks: Long,
    taskMs: Long, shuffleBytes: Long, spillBytes: Long,
    inputBytes: Long, outputBytes: Long, inputRecords: Long)

/** In-memory record of one benchmark run: latency samples, counters,
  * spans and Spark jobs. Everything stays in memory until [[json]] is
  * written at the end of the run.
  *
  * With `traced = false` no listener is registered and no span is kept,
  * so end-to-end numbers are measured without tracing. With
  * `traced = true`, operations run with [[traceOn]] off give the untraced
  * reference for the tracing overhead: every other read, or one extra
  * operation after a loop of long ones ([[reference]]). Warm-up
  * operations run through [[warmup]] and leave no samples.
  */
final class Recorder(val traced: Boolean) {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  def now: Long = System.nanoTime() - originNs
  /** Spark event times are epoch milliseconds. */
  def fromEpochMs(ms: Long): Long = (ms - originMs) * 1000000L

  @volatile var traceOn: Boolean = traced
  // which samples are kept: all, none (warm-up) or only the `@untraced`
  // latencies (the reference operation of a traced run)
  @volatile private var keep: String => Boolean = _ => true

  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val values = mutable.LinkedHashMap.empty[String, Any]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  def sample(name: String, v: Double): Unit = synchronized {
    if (keep(name)) samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }
  def put(name: String, v: Any): Unit = synchronized { values(name) = v }
  def add(name: String, v: Double): Unit = synchronized {
    values(name) = values.get(name).map(_.asInstanceOf[Double]).getOrElse(0.0) + v
  }

  /** Record a finished span when tracing; returns its id (-1 otherwise). */
  def span(name: String, parent: Int, start: Long, end: Long): Int =
    if (!traced || !traceOn) -1
    else synchronized { val id = nextId; nextId += 1; spans += Span(id, name, parent, start, end); id }

  private def untraced[A](k: String => Boolean)(f: => A): A = {
    val on = traceOn
    traceOn = false; keep = k
    try f finally { keep = _ => true; traceOn = on }
  }

  /** Run `f` untraced and keep none of its samples. */
  def warmup[A](f: => A): A = untraced(_ => false)(f)

  /** Run `f` as the untraced reference of a traced run, keeping only its
    * `@untraced` latencies; a no-op in an untraced run.
    */
  def reference(f: => Unit): Unit = if (traced) untraced(_.endsWith("@untraced"))(f)

  /** Time `f` as one operation of kind `kind`: one latency sample in ms
    * under `kind` (and under `kind + "@untraced"` when the operation ran
    * with tracing toggled off in a traced run), plus a root span.
    * Returns the result, start, end and the root span id.
    */
  def timed[A](kind: String)(f: => A): (A, Long, Long, Int) = {
    val s = now
    val r = f
    val e = now
    sample(kind, (e - s) / 1e6)
    if (traced && !traceOn) sample(kind + "@untraced", (e - s) / 1e6)
    else if (traced) sample(kind + "@traced", (e - s) / 1e6)
    (r, s, e, span(kind, -1, s, e))
  }

  // --- Spark listeners (traced runs only) -----------------------------

  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val openJobs = mutable.Map.empty[Int, (Long, Boolean)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobAcc = mutable.Map.empty[Int, Array[Long]]
  private val plans = mutable.ArrayBuffer.empty[(Long, Double)]
  @volatile private var lastEventNs = 0L

  def install(spark: SparkSession): Unit = if (traced) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
        lastEventNs = now
        openJobs(e.jobId) = (fromEpochMs(e.time), traceOn)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
        jobAcc(e.jobId) = new Array[Long](7)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
        lastEventNs = now
        val m = e.taskMetrics
        for (j <- stageJob.get(e.stageId); a <- jobAcc.get(j) if m != null) {
          a(0) += 1
          a(1) += m.executorRunTime
          a(2) += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
          a(3) += m.memoryBytesSpilled + m.diskBytesSpilled
          a(4) += m.inputMetrics.bytesRead
          a(5) += m.outputMetrics.bytesWritten
          a(6) += m.inputMetrics.recordsRead
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
        lastEventNs = now
        for ((s, on) <- openJobs.remove(e.jobId)) {
          val a = jobAcc.remove(e.jobId).getOrElse(new Array[Long](7))
          if (on) jobs += JobRec(e.jobId, s, fromEpochMs(e.time), a(0), a(1), a(2), a(3), a(4), a(5), a(6))
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val ph = qe.tracker.phases
        val ms = Seq("analysis", "optimization", "planning")
          .flatMap(ph.get).map(_.durationMs.toDouble).sum
        Recorder.this.synchronized { lastEventNs = now; if (traceOn) plans += ((now, ms)) }
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    })
  }

  /** Listener events arrive asynchronously: wait until none has arrived
    * for a quiet period (bounded), so the last jobs are counted.
    */
  def settle(): Unit = if (traced) {
    val deadline = now + 5000000000L
    while (now - lastEventNs < 300000000L && now < deadline) Thread.sleep(50)
  }

  /** Stop keeping per-job records (e.g. before output checks). */
  def pause(): Unit = traceOn = false

  // --- output ---------------------------------------------------------

  def json(extra: Map[String, Any]): String = synchronized {
    val js = Map[String, Any](
      "samples" -> samples.map { case (k, v) => k -> v.toList }.toMap,
      "values" -> values.toMap,
      "spans" -> spans.map(s => Seq(s.id, s.name, s.parent, s.start, s.end)).toList,
      "jobs" -> jobs.map(j => Seq(j.jobId, j.start, j.end, j.tasks, j.taskMs,
        j.shuffleBytes, j.spillBytes, j.inputBytes, j.outputBytes, j.inputRecords)).toList,
      "plans" -> plans.map { case (t, ms) => Seq[Any](t, ms) }.toList) ++ extra
    JsonOut.render(js)
  }
}

/** Minimal JSON writer for the raw run record. */
object JsonOut {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case b: Boolean => b.toString
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  private def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\t' => sb ++= "\\t"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}

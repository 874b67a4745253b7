package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._

/** Failure bookkeeping shared by every workload: each output check is
  * one attempted operation; a wrong value counts as failed.
  */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer.empty[String]
  def apply(what: String, ok: Boolean, detail: => String): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; if (notes.size < 20) notes += s"$what: $detail" }
  }
}

/** The engine workload, `ingest_churn`, over one seeded [[Corpus]],
  * driven through graft's public API only: bulk index, churn passes,
  * compaction, then the read path and the watch on the state it left.
  */
final class EngineBench(spark: SparkSession, rec: Recorder, checks: Checks,
    work: Path, seed: Long, seconds: Double, origins: Int, filesPerOrigin: Int) {

  val corpus = new Corpus(seed, origins, filesPerOrigin, work.resolve("inputs"))
  private val rnd = corpus.rnd
  val viewNames = Seq("by_lang", "by_topic", "count_src", "count_src_m")

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("n_chars", LongType), StructField("topic", StringType),
    StructField("source", StringType), StructField("text", StringType)))
  private def parsed(f: DataFrame) = f.withColumn("j", from_json(col("value"), docSchema))

  /** The three views of the workload; the Count view is defined twice,
    * folded at read time and materialized at write time.
    */
  def define(db: Graft): Unit = {
    db.define("by_lang", ViewDef(Seq("/docs/*.json"), MapDF { f =>
      GraftFunctions.emitEntry(parsed(f),
        Seq(col("j.lang"), col("j.n_chars"), col("j.doc_id")), col("j.source"))
    }))
    db.define("by_topic", ViewDef(Seq("/docs/*.json"), MapDF { f =>
      GraftFunctions.emitEntry(parsed(f), Seq(col("j.topic")), col("j.doc_id"))
    }))
    val bySource = MapDF { f => GraftFunctions.emitEntry(parsed(f), Seq(col("j.source")), lit(1)) }
    db.define("count_src", ViewDef(Seq("/docs/*.json"), bySource, Some(Reduce.Count)))
    db.define("count_src_m", ViewDef(Seq("/docs/*.json"), bySource, Some(Reduce.Count),
      materialize = true))
  }

  def archive(o: Int) = new DirArchive(corpus.originUrl(o), corpus.originDir(o).toString)

  // --- engine events ---------------------------------------------------

  private val events = mutable.ArrayBuffer.empty[(Long, GraftEvent)]
  private val updates = new LinkedBlockingQueue[(Long, Long, String)]()
  private val lastIndexing = mutable.Map.empty[String, Long]
  // origins are watched (errors count) / the writer is editing (passes
  // are timed and handed to the confirmer)
  @volatile private var watched = false
  @volatile private var watching = false

  private def onEvent(e: GraftEvent): Unit = {
    val t = rec.now
    synchronized { events += ((t, e)) }
    e match {
      case GraftEvent.ArchiveIndexing(o, _) if watching => synchronized { lastIndexing(o) = t }
      case GraftEvent.IndexesUpdated(o, _) if watching =>
        val tA = synchronized(lastIndexing.getOrElse(o, t))
        rec.sample("watch.pass_s", (t - tA) / 1e9)
        rec.span("watch.pass", -1, tA, t)
        updates.put((tA, t, o))
      case GraftEvent.ArchiveError(o, err) if watched =>
        checks("watch error " + o, ok = false, String.valueOf(err))
      case _ =>
    }
  }

  def openDb(root: Path): Graft = {
    val db = new Graft(spark, root.toString)
    db.addListener(onEvent)
    define(db)
    db
  }

  /** One timed `index()` call, split into the archive listing, the view
    * jobs and the commit tail by the engine's own events.
    */
  private def indexOp(db: Graft, o: Int, kind: String): Double = {
    val (_, s, e, id) = rec.timed(kind)(db.index(archive(o)))
    val url = corpus.originUrl(o)
    val evs = synchronized(events.filter { case (t, ev) => t >= s && t <= e && ev.origin == url }.toList)
    val tA = evs.collectFirst { case (t, _: GraftEvent.ArchiveIndexing) => t }
    val tP = evs.collect { case (t, _: GraftEvent.IndexProgress) => t }.lastOption
    val tI = evs.collectFirst { case (t, _: GraftEvent.ArchiveIndexed) => t }
    for (a <- tA; p <- tP; i <- tI) {
      rec.sample("archive.list_s", (a - s) / 1e9)
      rec.sample("index.views_s", (p - a) / 1e9)
      rec.sample("index.tail_s", (i - p) / 1e9)
      rec.span("archive.list", id, s, a)
      rec.span("index.views", id, a, p)
      rec.span("index.tail", id, p, i)
    }
    (e - s) / 1e9
  }

  // --- reads -------------------------------------------------------------

  private def render(v: Option[Any]): Option[String] = v.map(Json.render)

  /** Zipf draw over `n` items in a seeded random rank order: rank r
    * (from 1) has weight 1 / r, the classic exponent 1. The exponent is an
    * assumption, not taken from a measured workload.
    */
  private final class Zipf(n: Int) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / r)
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    private val perm = new scala.util.Random(rnd.nextLong()).shuffle((0 until n).toVector)
    def draw(): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      perm(math.min(if (i >= 0) i else -i - 1, n - 1))
    }
  }

  private lazy val readableDocs: Vector[Doc] =
    corpus.allDocs.map(_._2).filterNot(_.writable).toVector
  private lazy val topicZipf = new Zipf(corpus.topics)
  private lazy val docZipf = new Zipf(readableDocs.size)
  private lazy val sourceZipf = new Zipf(corpus.sources)
  private val langsSorted = Vector("de", "en", "es", "fr", "zh")

  private def rowsReturned(prefix: String, n: Int): Unit =
    if (rec.traced && rec.traceOn && prefix.isEmpty) rec.add("read.rows_returned@traced", n.toDouble)

  /** One cycle of the read mix: each (view, read) pair once, so every
    * read kind has the same weight. No measured traffic fixes the mix;
    * equal weights are an assumption. The cycle is the same under every
    * seed; the seed draws the keys and bounds.
    */
  private val readCycle = Vector("get.by_lang", "list_fwd.by_lang", "get.count_src",
    "list_rev.by_lang", "get.by_topic", "list_fwd.by_topic", "get.count_src_m")

  private def absent(): Boolean = rnd.nextDouble() < 0.05

  /** One seeded read; returns its kind. Timed, then checked against the
    * model outside the timed call.
    */
  def readOnce(db: Graft, slot: Int, prefix: String = ""): String = {
    val slotKind = readCycle(slot % readCycle.size)
    if (slotKind.startsWith("get.")) {
      val (view, key, kind) = slotKind match {
        case "get.by_topic" => ("by_topic", Seq[Any](if (absent()) corpus.topicName(corpus.topics + 7)
          else corpus.topicName(topicZipf.draw())), "read.get_map.by_topic")
        case "get.by_lang" =>
          val d = readableDocs(docZipf.draw())
          ("by_lang", if (absent()) Seq[Any](d.lang, d.nChars.toLong, d.docId + 1000000000L)
            else corpus.langKey(d), "read.get_map.by_lang")
        case other =>
          val src = if (absent()) "s99" else corpus.sourceName(sourceZipf.draw())
          if (other == "get.count_src") ("count_src", Seq[Any](src), "read.get_reduced")
          else ("count_src_m", Seq[Any](src), "read.get_folds")
      }
      val (got, _, _, _) = rec.timed(prefix + kind)(db.getValue(view, if (key.size == 1) key.head else key))
      rowsReturned(prefix, got.map { case v: Vector[_] => v.size; case _ => 1 }.getOrElse(0))
      val want = corpus.expectGet(view, key)
      checks(s"getValue($view, $key)", render(got) == want, s"got ${render(got)} want $want")
      kind
    } else {
      val (view, gte, lt, reverse, kind) =
        if (slotKind.endsWith(".by_lang")) {
          val rev = slotKind.startsWith("list_rev")
          val (g, l) =
            if (rnd.nextBoolean()) {
              val i = rnd.nextInt(langsSorted.size - 1)
              (Seq[Any](langsSorted(i)), Seq[Any](langsSorted(i + 1)))
            } else {
              val lang = langsSorted(rnd.nextInt(langsSorted.size))
              val n1 = 30 + rnd.nextInt(180)
              (Seq[Any](lang, n1), Seq[Any](lang, n1 + 5 + rnd.nextInt(40)))
            }
          ("by_lang", g, l, rev, if (rev) "read.list_rev" else "read.list_fwd.by_lang")
        } else {
          val i = rnd.nextInt(corpus.topics)
          ("by_topic", Seq[Any](corpus.topicName(i)), Seq[Any](corpus.topicName(i + 2 + rnd.nextInt(4))),
            false, "read.list_fwd.by_topic")
        }
      val opts = ListOpts(gte = Some(gte), lt = Some(lt), limit = Some(100), reverse = reverse)
      val (got, _, _, _) = rec.timed(prefix + kind)(db.listEntries(view, opts))
      rowsReturned(prefix, got.size)
      val gotJs = got.map(e => (Json.render(e.key), Json.render(e.value)))
      val want = corpus.expectList(view, gte, lt, 100, reverse)
      // writable documents may be mid-edit under watch: their source is
      // either reserved value; everything else must match exactly
      val ok = gotJs.size == want.size && gotJs.zip(want).forall { case ((gk, gv), (wk, wv)) =>
        gk == wk && (gv == wv || (watching && Set(gv, wv).subsetOf(Set("\"w0\"", "\"w1\""))))
      }
      checks(s"listEntries($view, $opts)", ok,
        s"got ${gotJs.size} rows ${gotJs.take(3)} want ${want.size} rows ${want.take(3)}")
      kind
    }
  }

  // --- state-dir walks -----------------------------------------------------

  private def stateFiles(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toMap

  private def recordState(root: Path, prefix: String): Map[String, Long] = {
    val fs = stateFiles(root)
    rec.put(prefix + "files", fs.keys.count(_.endsWith(".parquet")))
    rec.put(prefix + "bytes", fs.values.sum)
    fs
  }

  // --- output checks (untimed) ------------------------------------------

  private def collectEntries(db: Graft, view: String): Seq[(String, String, Int, String)] =
    db.entries(view).select("key_json", "file_url", "seq", "value_json").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getString(3))).toSeq.sorted

  private def collectList(db: Graft, view: String): Seq[(String, String)] =
    db.listEntries(view).map(e => (Json.render(e.key), Json.render(e.value)))

  /** Each view's entries equal the model's; returns them for reuse. */
  private def checkAgainstModel(db: Graft, label: String): Map[String, Seq[(String, String, Int, String)]] =
    viewNames.map { v =>
      val got = collectEntries(db, v)
      val want = corpus.expectEntries(v)
      checks(s"$label entries($v) = model", got.map(g => (g._1, g._2, g._4)) == want,
        s"${got.size} rows vs ${want.size} expected; first diff " +
          got.map(g => (g._1, g._2, g._4)).diff(want).take(2) + " / " + want.diff(got.map(g => (g._1, g._2, g._4))).take(2))
      v -> got
    }.toMap.tap(m => rec.put("state.entries", m.values.map(_.size).sum))

  // --- the workload ----------------------------------------------------

  def run(): Map[String, Any] = {
    val stateRoot = work.resolve("state")
    val db = openDb(stateRoot)
    // set-up: one unit per origin = generate its tree + bulk index it
    (0 until origins).foreach { o =>
      val t0 = rec.now
      rec.add("input.bytes_generated", corpus.generateOrigin(o).toDouble)
      indexOp(db, o, "ingest.bulk")
      rec.sample("setup_unit_s", (rec.now - t0) / 1e9)
    }
    rec.put("input.files", corpus.fileCount)
    rec.put("input.bytes", corpus.inputBytes)
    ingestChurn(db, stateRoot)
    val result = readsAndWatch(db)
    db.close()
    result
  }

  private def compactAll(db: Graft, stateRoot: Path): Unit = {
    val before = recordState(stateRoot, "state.precompact_")
    val (_, s, e, _) = rec.timed("state.compact")(viewNames.foreach(db.compact))
    rec.put("compact_s", (e - s) / 1e9)
    val after = recordState(stateRoot, "state.")
    rec.put("compact.bytes_rewritten", after.filter { case (p, _) => !before.contains(p) }.values.sum)
  }

  private def ingestChurn(db: Graft, stateRoot: Path): Unit = {
    val perPass = math.max(1, filesPerOrigin / 100)
    def churnPass(o: Int): Unit = {
      val paths = corpus.tree(o).keys.toVector
      val rewrites = Iterator.continually(paths(rnd.nextInt(paths.size))).distinct.take(perPass).toVector
      var bytes = 0L
      val changed = rewrites.map { p =>
        val d = corpus.rewritten(corpus.tree(o)(p)); bytes += corpus.put(o, p, d); d
      }
      val survivors = paths.filterNot(rewrites.contains)
      (0 until 1 + rnd.nextInt(2)).foreach(_ => corpus.delete(o, survivors(rnd.nextInt(survivors.size))))
      (0 until 1 + rnd.nextInt(2)).foreach { _ => val (p, d) = corpus.addFile(o); bytes += corpus.put(o, p, d) }
      rec.sample("churn.changed_bytes", bytes.toDouble)
      indexOp(db, o, "ingest.reindex")
      // read back one changed key
      val d = changed(rnd.nextInt(changed.size))
      val key = corpus.langKey(d)
      val got = rec.timed("read.readback")(db.getValue("by_lang", key))._1
      val want = corpus.expectGet("by_lang", key)
      checks(s"readback by_lang $key", render(got) == want, s"got ${render(got)} want $want")
    }
    // no warm-up pass: the first pass runs the incremental path cold
    // (about 1.3x a warm one); at least three passes keep the median on a
    // warm one
    val t0 = rec.now
    val end = t0 + (seconds * 1e9).toLong
    var k = 0
    while (k < 3 || rec.now < end) {
      churnPass((k + 1) % origins)
      k += 1
    }
    rec.put("loop_s", (rec.now - t0) / 1e9)
    rec.put("loop.ops", k)
    // one no-change pass per run, after the loop so that every run's loop
    // holds churn passes only
    indexOp(db, k % origins, "ingest.noop")
    rec.reference(churnPass((k + 1) % origins))
    rec.settle()
    rec.pause()
    // output checks: incremental state = a fresh full index of the final
    // tree on a new state root = the model, before and after compact()
    val tv = rec.now
    val fresh = openDb(work.resolve("state-fresh"))
    (0 until origins).foreach(o => fresh.index(archive(o)))
    val freshEntries = viewNames.map(v => v -> collectEntries(fresh, v)).toMap
    val freshLists = viewNames.map(v => v -> collectList(fresh, v)).toMap
    fresh.close()
    def compareFresh(label: String): Unit = {
      val incr = checkAgainstModel(db, label)
      viewNames.foreach { v =>
        checks(s"$label entries($v) = fresh index", incr(v) == freshEntries(v),
          s"${incr(v).size} vs ${freshEntries(v).size} rows")
        val l = collectList(db, v)
        checks(s"$label list($v) = fresh index", l == freshLists(v), s"${l.size} vs ${freshLists(v).size} rows")
      }
    }
    rec.put("verify.fresh_s", (rec.now - tv) / 1e9)
    val tc = rec.now
    compareFresh("pre-compact")
    rec.put("verify.compare_s", (rec.now - tc) / 1e9)
    rec.traceOn = rec.traced
    compactAll(db, stateRoot)
    rec.settle()
    rec.pause()
    compareFresh("post-compact")
  }

  /** The read path and the watch, on the compacted state the churn
    * left. First the read loop alone (the read-path figures); then
    * origin 0 goes under `index(…, watch = true)` and the same loop runs
    * while the open-loop writer edits its files and watch passes commit
    * them (the visibility figures). The writer's last edits become
    * visible after the loop; the final state must equal the model.
    */
  private def readsAndWatch(db: Graft): Map[String, Any] = {
    rec.traceOn = rec.traced
    rec.warmup((0 until 7).foreach(i => readOnce(db, i)))
    def readLoop(phase: String, prefix: String, lengthS: Double): Unit = {
      val t0 = rec.now
      var k = 0
      while (rec.now < t0 + (lengthS * 1e9).toLong) {
        if (rec.traced) rec.traceOn = k % 2 == 0
        readOnce(db, k, prefix)
        k += 1
      }
      if (rec.traced) rec.traceOn = true
      rec.put(s"$phase.loop_s", (rec.now - t0) / 1e9)
      rec.put(s"$phase.loop.ops", k)
    }
    readLoop("serve", "", quietShare * seconds)
    // one origin is watched: starting a watch on an indexed origin runs a
    // no-change pass first, and the writer edits this origin only
    watched = true
    rec.timed("watch.start")(db.index(archive(0), watch = true))
    val writer = new Writer(db, writerIntervalS, writerShare * seconds)
    watching = true
    writer.start(rec.now)
    readLoop("watch", "watch.", seconds)
    writer.stop()
    rec.put("watch.backlog", writer.pendingCount)
    val td = rec.now
    writer.drain(deadlineS = 20)
    rec.put("watch.drain_s", (rec.now - td) / 1e9)
    // stopping a watch interrupts its in-flight tick; errors count only
    // while the origin is watched
    watching = false
    watched = false
    db.unwatch(corpus.originUrl(0))
    rec.settle()
    rec.pause()
    checkAgainstModel(db, "final")
    Map("loop" -> "closed", "clients" -> 1, "writer_loop" -> "open",
      "writer_rate_per_s" -> 1.0 / writerIntervalS, "writer_origins" -> 1)
  }

  /** Length of the read loop alone, and how long the writer edits in the
    * watched loop, as shares of the run length. The writer stops early
    * so that most of its edits are visible when the read loop ends; the
    * passes that commit them still overlap the last reads.
    */
  private val quietShare = 0.3
  private val writerShare = 0.5

  /** One edit per second into the watched origin. A watch pass over one
    * origin takes 2.5-6 s on a 4-core host and commits every edit made
    * before it began, so passes keep up and the backlog stays at the
    * edits of one or two passes. The rate is an assumption, not taken
    * from a measured workload.
    */
  private val writerIntervalS = 1.0

  /** Open-loop writer: flips one writable document's source every
    * `intervalS` seconds on a fixed schedule for `activeS` seconds. An
    * edit is visible at the first `IndexesUpdated` of a pass that began
    * after the write, once a `getValue` confirms the new value.
    */
  private final class Writer(db: Graft, intervalS: Double, activeS: Double) {
    private case class Edit(o: Int, path: String, key: Seq[Any], value: String, written: Long)
    private val pending = mutable.ArrayBuffer.empty[Edit]
    @volatile private var running = true
    private val targets: Vector[(Int, String)] =
      new scala.util.Random(rnd.nextLong())
        .shuffle(corpus.tree(0).toVector.collect { case (p, d) if d.writable => (0, p) })
    private var t0 = 0L
    private def isPending(o: Int, p: String): Boolean =
      synchronized(pending.exists(e => e.o == o && e.path == p))
    private val writer = new Thread(() => {
      var i = 0
      var next = 0
      while (running && i * intervalS < activeS) {
        val due = t0 + (i * intervalS * 1e9).toLong
        // short sleeps, so stop() returns promptly; a file is edited again
        // only once its last edit is visible (else the writer runs late)
        def free = (0 until targets.size).map(j => (next + j) % targets.size)
          .find(j => !isPending(targets(j)._1, targets(j)._2))
        while (running && (rec.now < due || free.isEmpty)) Thread.sleep(20)
        if (running) {
          val lag = (rec.now - due) / 1e9
          rec.sample("watch.writer_lag_s", lag)
          val j = free.get
          next = j + 1
          val (o, p) = targets(j)
          val d = corpus.tree(o)(p)
          val nd = d.copy(source = if (d.source == "w0") "w1" else "w0")
          corpus.put(o, p, nd)
          val t = rec.now
          synchronized { pending += Edit(o, p, corpus.langKey(nd), Js.str(nd.source), t) }
          rec.sample("watch.backlog_at_write", synchronized(pending.size).toDouble)
          i += 1
        }
      }
    }, "perfbench-writer")
    private val confirmer = new Thread(() => {
      while (running || synchronized(pending.nonEmpty)) {
        val u = updates.poll(100, TimeUnit.MILLISECONDS)
        if (u != null) confirm(u._1, u._2, u._3)
      }
    }, "perfbench-confirmer")

    private def confirm(tA: Long, tU: Long, url: String): Unit = {
      val cands = synchronized(pending.filter(e => corpus.originUrl(e.o) == url && e.written < tA).toList)
      val seen = cands.filter { e =>
        val got = db.getValue("by_lang", e.key).map(Json.render)
        got.contains("[" + e.value + "]")
      }
      if (seen.nonEmpty) rec.sample("watch.edits_per_pass", seen.size.toDouble)
      seen.foreach { e =>
        rec.sample("watch.visible_s", (tU - e.written) / 1e9)
        rec.sample("watch.detect_s", (tA - e.written) / 1e9)
        rec.span("watch.visible", -1, e.written, tU)
        checks(s"edit visible ${e.key}", ok = true, "")
      }
      synchronized { pending --= seen }
    }

    def start(at: Long): Unit = { t0 = at + 500000000L; writer.start(); confirmer.start() }
    def stop(): Unit = { running = false; writer.join() }
    def pendingCount: Int = synchronized(pending.size)
    /** Wait for every written edit to become visible; any still pending
      * at the deadline counts as a failure.
      */
    def drain(deadlineS: Double): Unit = {
      val deadline = rec.now + (deadlineS * 1e9).toLong
      while (pendingCount > 0 && rec.now < deadline) Thread.sleep(50)
      synchronized(pending.toList).foreach(e =>
        checks(s"edit visible ${e.key}", ok = false, s"not visible after ${deadlineS}s"))
      synchronized(pending.clear())
      confirmer.join()
    }
  }
}

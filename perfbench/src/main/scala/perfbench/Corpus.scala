package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable

/** One generated document; one JSON file of an origin. */
final case class Doc(docId: Long, lang: String, nChars: Int, topic: String,
    source: String, text: String) {
  def json: String =
    s"""{"doc_id":$docId,"lang":"$lang","n_chars":$nChars,"topic":"$topic","source":"$source","text":"$text"}"""
  /** Writable documents carry one of the two reserved sources; the watch
    * writer flips them, so strict read checks skip their keys.
    */
  def writable: Boolean = source.startsWith("w")
}

/** Seeded input generator for the engine workload, and the in-memory
  * model of what the views must return.
  *
  * The generator writes `origins` directories of `filesPerOrigin` small
  * JSON files under `root/o<k>/docs/`. Every random choice comes from one
  * `SplittableRandom(seed)`, so a seed fixes the files, the key draws,
  * the operation mix and the edit schedule.
  *
  * The model answers reads under the reference semantics, computed here
  * without the engine's code: compound keys order element-wise (numbers
  * before strings, a key before its extensions), a map view's values for
  * one key order by file URL then emit order, and a list `limit` counts
  * keys, not values.
  */
final class Corpus(seed: Long, val origins: Int, val filesPerOrigin: Int, root: Path) {
  val rnd = new java.util.SplittableRandom(seed)
  private val langs = Array("en", "en", "de", "es", "fr", "zh")
  private val words = Array("spark", "merge", "table", "vector", "stream", "value",
    "data", "join", "filter", "group", "hash", "sort", "order", "line", "key",
    "query", "scan", "batch", "view", "fold")
  val topics: Int = math.max(8, origins * filesPerOrigin / 40)
  val sources = 24
  private var nextDocId = 0L
  private var clockMs = 0L

  /** origin -> pathname -> document (the current tree). */
  val tree: IndexedSeq[mutable.TreeMap[String, Doc]] =
    IndexedSeq.fill(origins)(mutable.TreeMap.empty[String, Doc])
  private val nextFile = Array.fill(origins)(0)

  def originUrl(o: Int): String = s"dat://bench-o$o"
  def originDir(o: Int): Path = root.resolve(s"o$o")

  def topicName(i: Int): String = f"t$i%04d"
  def sourceName(i: Int): String = f"s$i%02d"

  private def newDoc(writable: Boolean): Doc = {
    val n = 6 + rnd.nextInt(30)
    val text = (0 until n).map(_ => words(rnd.nextInt(words.length))).mkString(" ")
    val id = nextDocId; nextDocId += 1
    Doc(id, langs(rnd.nextInt(langs.length)), text.length,
      topicName(rnd.nextInt(topics)),
      if (writable) "w0" else sourceName(rnd.nextInt(sources)), text)
  }

  /** A rewrite keeps the document id and draws new content, so its keys
    * in every view may move.
    */
  def rewritten(d: Doc): Doc = {
    val n = 6 + rnd.nextInt(30)
    val text = (0 until n).map(_ => words(rnd.nextInt(words.length))).mkString(" ")
    d.copy(lang = langs(rnd.nextInt(langs.length)), nChars = text.length,
      topic = topicName(rnd.nextInt(topics)), source = sourceName(rnd.nextInt(sources)),
      text = text)
  }

  /** Strictly increasing mtimes, always ahead of the wall clock, so the
    * engine's mtime versioning sees every write as a change.
    */
  private def stamp(): Long = {
    clockMs = math.max(clockMs + 1, System.currentTimeMillis() + 5)
    clockMs
  }

  def put(o: Int, path: String, d: Doc): Int = {
    val p = originDir(o).resolve(path.stripPrefix("/"))
    Files.createDirectories(p.getParent)
    val bytes = d.json.getBytes(StandardCharsets.UTF_8)
    val tmp = p.resolveSibling("." + p.getFileName + ".tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    Files.setLastModifiedTime(p, FileTime.fromMillis(stamp()))
    synchronized { tree(o)(path) = d }
    bytes.length
  }

  def delete(o: Int, path: String): Unit = {
    Files.deleteIfExists(originDir(o).resolve(path.stripPrefix("/")))
    synchronized { tree(o).remove(path) }
  }

  def addFile(o: Int): (String, Doc) = {
    val path = f"/docs/d${nextFile(o)}%06d.json"
    nextFile(o) += 1
    // one file in 10 is writable by the watch writer
    val d = newDoc(writable = nextFile(o) % 10 == 8)
    (path, d)
  }

  /** Write one origin's initial tree; returns bytes written. */
  def generateOrigin(o: Int): Long = {
    var bytes = 0L
    (0 until filesPerOrigin).foreach { _ => val (p, d) = addFile(o); bytes += put(o, p, d) }
    bytes
  }

  def inputBytes: Long = synchronized(tree.map(_.values.map(_.json.length.toLong).sum).sum)
  def fileCount: Int = synchronized(tree.map(_.size).sum)

  // --- model ----------------------------------------------------------

  /** (file url, doc) over all origins, ordered by file url. */
  def allDocs: Seq[(String, Doc)] = synchronized {
    (0 until origins).flatMap(o => tree(o).toSeq.map { case (p, d) => (originUrl(o) + p, d) })
  }.sortBy(_._1)

  def langKey(d: Doc): Seq[Any] = Seq(d.lang, d.nChars.toLong, d.docId)

  /** Element-wise compound-key order: numbers before strings, a key
    * before its extensions.
    */
  def cmpKey(a: Seq[Any], b: Seq[Any]): Int = {
    val n = math.min(a.size, b.size)
    var i = 0
    while (i < n) {
      val c = (a(i), b(i)) match {
        case (x: String, y: String) => x.compareTo(y)
        case (x: String, _) => 1
        case (_, y: String) => -1
        case (x, y) => java.lang.Double.compare(num(x), num(y))
      }
      if (c != 0) return c
      i += 1
    }
    Integer.compare(a.size, b.size)
  }
  private def num(x: Any): Double = x match {
    case n: Int => n.toDouble
    case n: Long => n.toDouble
    case d: Double => d
    case other => sys.error(s"not a number: $other")
  }

  /** Expected getValue as rendered JSON (None = absent key). */
  def expectGet(view: String, key: Seq[Any]): Option[String] = {
    val docs = allDocs
    view match {
      case "by_lang" =>
        val vs = docs.filter { case (_, d) => cmpKey(langKey(d), key) == 0 }.map(d => Js.str(d._2.source))
        if (vs.isEmpty) None else Some(vs.mkString("[", ",", "]"))
      case "by_topic" =>
        val vs = docs.filter(_._2.topic == key.head).map(_._2.docId.toString)
        if (vs.isEmpty) None else Some(vs.mkString("[", ",", "]"))
      case "count_src" | "count_src_m" =>
        val n = docs.count(_._2.source == key.head)
        if (n == 0) None else Some(n.toString)
    }
  }

  /** Expected listEntries rows as (key json, value json). */
  def expectList(view: String, gte: Seq[Any], lt: Seq[Any], limit: Int,
      reverse: Boolean): Seq[(String, String)] = {
    val docs = allDocs
    val entries: Seq[(Seq[Any], String, String)] = view match {
      case "by_lang" => docs.map { case (u, d) => (langKey(d), u, Js.str(d.source)) }
      case "by_topic" => docs.map { case (u, d) => (Seq[Any](d.topic), u, d.docId.toString) }
    }
    val inRange = entries.filter { case (k, _, _) => cmpKey(k, gte) >= 0 && cmpKey(k, lt) < 0 }
    val keys = inRange.map(_._1).distinct.sortWith((a, b) => cmpKey(a, b) < 0)
    val picked = (if (reverse) keys.reverse else keys).take(limit)
    picked.flatMap { k =>
      val vs = inRange.filter(e => cmpKey(e._1, k) == 0).sortBy(_._2)
      (if (reverse) vs.reverse else vs).map(e => (Js.key(k), e._3))
    }
  }

  /** Every expected entry of a view as (key json, file url, value json). */
  def expectEntries(view: String): Seq[(String, String, String)] = allDocs.map { case (u, d) =>
    view match {
      case "by_lang" => (Js.key(langKey(d)), u, Js.str(d.source))
      case "by_topic" => (Js.key(Seq(d.topic)), u, d.docId.toString)
      case _ => (Js.key(Seq(d.source)), u, "1")
    }
  }.sorted
}

/** JSON rendering for expected values: integral numbers without a
  * fraction, as JSON.stringify prints them.
  */
object Js {
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def scalar(x: Any): String = x match {
    case s: String => str(s)
    case n: Int => n.toString
    case n: Long => n.toString
    case d: Double if d.isWhole => d.toLong.toString
    case d: Double => d.toString
  }
  def key(k: Seq[Any]): String = if (k.size == 1) scalar(k.head) else k.map(scalar).mkString("[", ",", "]")
}

/** Writes a seed's engine input tree without running anything else:
  *   perfbench.GenInputs <seed> <dir> <origins> <filesPerOrigin>
  * The benchmark's tests use it to check that a seed fixes the bytes.
  */
object GenInputs {
  def main(args: Array[String]): Unit = {
    val c = new Corpus(args(0).toLong, args(2).toInt, args(3).toInt, java.nio.file.Paths.get(args(1)))
    (0 until c.origins).foreach(c.generateOrigin)
  }
}

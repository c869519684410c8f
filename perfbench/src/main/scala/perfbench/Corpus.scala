package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Uuid5
import graft.operators.Chunker

/** One generated dropzone file. `expectedText` is what the engine's parser
  * routing must extract from `content`; the ingest checks replay chunking
  * and ids from it on the driver.
  */
final case class DzFile(relpath: String, kind: String, content: String, expectedText: String) {
  def documentId: String = Corpus.uuid5(Uuid5.DefaultNamespace, relpath)
}

/** A row of the `documents` table the curation recipes read. */
final case class Doc(docId: Long, text: String, lang: String, source: String)

/** An ask. `expect` is a span of known chunk text (hit@1 is whether the
  * top answer contains it); `kind`/`path` are payload filters.
  */
final case class Question(text: String, expect: Option[String],
    kind: Option[String] = None, path: Option[String] = None)

/** Seeded inputs shaped like the sf0.1 `documents` table, as measured
  * there: texts of 44 to 577 characters drawn uniformly from its 30-word
  * vocabulary; languages and sources in its mix; 5% near duplicates (the
  * text of another row plus ` dup`) and 8 in 5000 exact duplicates. The
  * shares that sf0.1 cannot give (file grouping, extensions, the ask mix,
  * filters, the keyword Zipf exponent) are assumptions, named where they
  * are set. Every stream is split off the seed, so the same seed gives the
  * same files, documents and questions.
  */
final class Corpus(seed: Long) {
  import Corpus._

  private val root = new SplittableRandom(seed)
  private val fileRng = root.split()
  private val questionRng = root.split()
  private val curationRng = root.split()

  /** A keyword: Zipf (exponent [[ZipfS]]) over the vocabulary, ranked by
    * its sf0.1 frequency.
    */
  private def zipfWord(r: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    Words(math.min(if (i >= 0) i else -i - 1, Words.length - 1))
  }

  /** A document word: uniform over the vocabulary, as in sf0.1. */
  private def word(r: SplittableRandom): String = Words(r.nextInt(Words.length))

  /** One sf0.1-sized document text (single spaces, 44 to 577 chars,
    * roughly uniform like sf0.1's quartiles 176/295/418).
    */
  private def docText(r: SplittableRandom): String = {
    val target = MinChars + r.nextInt(MaxChars - MinChars + 1)
    val sb = new StringBuilder(word(r))
    while (sb.length < target) sb.append(' ').append(word(r))
    sb.toString
  }

  private def words(r: SplittableRandom, n: Int): String =
    Seq.fill(n)(word(r)).mkString(" ")

  /** Dropzone files until their content reaches `chars`: each regroups 1
    * to 12 documents (single-chunk to multi-chunk sizes) and is written as
    * .txt/.md/.json/.csv/.html, so every parser route does work. A fixed
    * size rather than a fixed file count keeps stored bytes and ask cost
    * comparable across seeds.
    */
  def dropzone(chars: Int): Vector[DzFile] = {
    val r = fileRng
    val out = Vector.newBuilder[DzFile]
    var total = 0L
    var i = 0
    while (total < chars) {
      val f = file(i, r)
      out += f
      total += f.content.length
      i += 1
    }
    out.result()
  }

  private def file(i: Int, r: SplittableRandom): DzFile = {
    // assumption: 60% single-document files, 25% with 2-4, 15% with 5-12
    val u = r.nextDouble()
    val k = if (u < 0.6) 1 else if (u < 0.85) 2 + r.nextInt(3) else 5 + r.nextInt(8)
    val parts = Vector.fill(k)(docText(r))
    val title = words(r, 3)
    val e = r.nextDouble()
    val ext = Extensions.find(_._2 > e).map(_._1).getOrElse("txt")
    val relpath = f"g${i % 16}%02d/doc$i%05d.$ext"
    render(relpath, ext, title, parts)
  }

  /** The five parser routes, each with the text its route extracts. */
  private def render(relpath: String, ext: String, title: String, parts: Seq[String]): DzFile =
    ext match {
      case "txt" => DzFile(relpath, "text", parts.mkString("\n"), parts.mkString("\n"))
      case "md" =>
        val md = s"# $title\n\n" + parts.mkString("\n\n")
        DzFile(relpath, "text", md, md)
      case "json" =>
        val json = s"""{"title": "$title", "sections": [""" +
          parts.map(p => "\"" + p + "\"").mkString(", ") + "]}"
        val flat = (s"title: $title" +: parts.zipWithIndex.map { case (p, j) =>
          s"sections[$j]: $p" }).mkString("\n")
        DzFile(relpath, "json", json, flat)
      case "csv" =>
        val csv = ("section,text" +: parts.zipWithIndex.map { case (p, j) => s"$j,$p" })
          .mkString("\n")
        val lines = ("section | text" +: parts.zipWithIndex.map { case (p, j) => s"$j | $p" })
          .mkString("\n")
        DzFile(relpath, "csv", csv, lines)
      case "html" =>
        val html = s"<html><head><title>$title</title></head><body><h1>$title</h1>" +
          parts.map(p => s"<p>$p</p>").mkString + "</body></html>"
        DzFile(relpath, "html", html, (Seq(title, title) ++ parts).mkString("\n"))
    }

  /** The curation corpus: `n` sf0.1-shaped rows, of which `exactShare`
    * are verbatim copies and `nearShare` near copies (the copied text plus
    * ` dup`, sf0.1's own near-duplicate form) of an earlier row, at seeded
    * places after the first 40 rows (the recipes' benchmark slices).
    */
  def documents(n: Int, exactShare: Double, nearShare: Double): Vector[Doc] = {
    val r = curationRng
    val out = Vector.newBuilder[Doc]
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val places = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle((40 until n).toVector)
    val exact = places.take((n * exactShare).round.toInt).toSet
    val near = places.slice(exact.size, exact.size + (n * nearShare).round.toInt).toSet
    for (id <- 0 until n) {
      val text =
        if (!exact(id) && !near(id)) docText(r)
        else {
          val src = texts(r.nextInt(texts.length))
          if (exact(id)) src else src + " dup"
        }
      texts += text
      val l = r.nextDouble()
      val lang = Langs.find(_._2 > l).map(_._1).getOrElse("en")
      out += Doc(id.toLong, text, lang, s"src${r.nextInt(Sources)}")
    }
    out.result()
  }

  /** An interactive ask session (the overlapping consecutive top-k
    * requests of Incremental Top-K Similarity Search, EDBT 2020): spans
    * of known chunk text (the reference's `ask_eval` QA form, a question
    * with the text its answer must contain), Zipf keyword questions,
    * repeats of and refinements to recent questions; a share carries
    * kind/path filters. Assumed shares, none measured: 15% repeats, 15%
    * refinements, 45% spans, 25% keywords; one in four span questions and
    * one in five keyword questions filtered.
    */
  def questions(n: Int, chunks: IndexedSeq[ChunkRef]): Vector[Question] = {
    val r = questionRng
    val out = scala.collection.mutable.ArrayBuffer.empty[Question]
    def recent: Question = out(out.length - 1 - r.nextInt(math.min(8, out.length)))
    while (out.length < n) {
      val u = r.nextDouble()
      val q =
        if (out.nonEmpty && u < 0.15) recent
        else if (out.nonEmpty && u < 0.30) {
          val p = recent
          Question(p.text.split(' ').drop(1).mkString(" ") + " " + zipfWord(r), None,
            p.kind, p.path)
        } else if (u < 0.75) {
          val c = chunks(r.nextInt(chunks.length))
          val f = r.nextDouble()
          if (f < 0.125) spanQuestion(r, c, None, Some(c.path))
          else if (f < 0.25) spanQuestion(r, c, Some(c.kind), None)
          else spanQuestion(r, c, None, None)
        } else {
          val terms = Seq.fill(2 + r.nextInt(3))(zipfWord(r)).mkString(" ")
          Question(terms, None, kind = if (r.nextDouble() < 0.2)
            Some(Seq("text", "json", "csv", "html")(r.nextInt(4))) else None)
        }
      out += q
    }
    out.toVector
  }

  private def spanQuestion(r: SplittableRandom, c: ChunkRef, kind: Option[String],
      path: Option[String]): Question = {
    val ws = c.text.split(' ')
    val len = math.min(SpanWords, ws.length)
    val from = r.nextInt(ws.length - len + 1)
    val span = ws.slice(from, from + len).mkString(" ")
    Question(span, Some(span), kind, path)
  }
}

/** A chunk as the driver-side replay predicts it. */
final case class ChunkRef(id: String, path: String, kind: String, text: String)

object Corpus {
  /** The sf0.1 documents table's vocabulary, most frequent first (each
    * word is 2.9-3.1% of its words).
    */
  val Words: Vector[String] = Vector("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the",
    "agg", "key", "query", "a", "scan", "batch")
  val MinChars = 44
  val MaxChars = 577
  val Sources = 20
  /** Assumption: the classic Zipf exponent for keyword questions. */
  val ZipfS = 1.0
  val SpanWords = 8

  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Words.length)(i => 1.0 / math.pow(i + 1, ZipfS))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  /** Cumulative extension mix of the dropzone files (assumption). */
  private val Extensions = Seq("txt" -> 0.35, "md" -> 0.55, "json" -> 0.70, "csv" -> 0.85,
    "html" -> 1.0)
  /** Cumulative language mix of sf0.1. */
  private val Langs = Seq("en" -> 0.41, "zh" -> 0.56, "es" -> 0.71, "fr" -> 0.86, "de" -> 1.0)

  def uuid5(namespace: String, name: String): String =
    Uuid5.compute(UTF8String.fromString(namespace), UTF8String.fromString(name)).toString

  /** The chunks ingest must produce for `f`: the engine's chunker over the
    * text the parser route extracts, ids per the reference's uuid5 scheme.
    */
  def replay(f: DzFile): Seq[ChunkRef] = {
    val doc = f.documentId
    Chunker.chunkText(f.expectedText).zipWithIndex.map { case (t, i) =>
      ChunkRef(uuid5(doc, s"chunk:$i"), f.relpath, f.kind, t)
    }
  }

  def write(dir: Path, f: DzFile): Unit = {
    val p = dir.resolve(f.relpath)
    Files.createDirectories(p.getParent)
    Files.write(p, f.content.getBytes(UTF_8))
  }
}

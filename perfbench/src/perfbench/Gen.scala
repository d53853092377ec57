package perfbench

import graft.pipeline.{Doc, Span}
import java.util.{Base64, SplittableRandom}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** One benchmark workload: its name, seed, input sizes and warm-up.
  *
  * `docs` small documents come first (ids 0 until docs), then `megaDocs`
  * mega-documents of `megaSpans` spans each. The warm-up runs `warmPasses`
  * passes, the last `heapPasses` of them sampling the live heap, but starts
  * none of the others after `warmUntilS` seconds of JVM uptime, which
  * bounds a run on a slow host. `heap_peak_mib` is the `heapQuantile`
  * quantile of those samples.
  */
final case class Workload(name: String, seed: Long, docs: Int, megaDocs: Int, megaSpans: Int,
    warmPasses: Int, heapPasses: Int, heapQuantile: Double, warmUntilS: Double) {
  def size: Int = docs + megaDocs
  /** Documents committed by the prior run on commit_resume. */
  def priorPart(id: Long): Boolean = id < docs / 2
}

object Workload {
  val Names = Seq("mega_skew", "commit_resume")

  def apply(name: String, seed: Long): Workload = name match {
    case "mega_skew" =>
      // The live heap holds a plateau while mega-documents are merged, which
      // a forced collection catches in about half of the passes: the
      // second-highest of the 80-100 samples of 8 passes repeats, a lower
      // quantile falls below the plateau in some runs, and the highest
      // sample is now and then a one-collection transient above it.
      Workload(name, seed, 20000, 4, 8000, warmPasses = 15, heapPasses = 8, heapQuantile = 0.98,
        warmUntilS = 75)
    case "commit_resume" =>
      // The highest samples are one-collection transients of the parquet
      // writes, as high as where the collection falls: the level held over
      // most of the pass repeats, the highest sample does not.
      Workload(name, seed, 8000, 0, 0, warmPasses = 6, heapPasses = 1, heapQuantile = 0.9,
        warmUntilS = 70)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** What the generator meant a document to yield, written down as it builds
  * the document (never read from the program's output).
  *
  * @param sentences  whitespace-normalized sentences that the document's
  *                   text output must contain, in order, with
  *                   [[Expect.Media]] where a media span must come between
  * @param mediaRefs  input media refs that must come out, in order
  * @param pdfImages  a PDF with an image-only page: at least one extra media span
  * @param doctype    loose image: the `x-doctype` the sniffed magic implies
  * @param absent     a token of the boilerplate that must not come out
  */
final case class Expect(
    cls: String,
    failure: String,
    sentences: Vector[String],
    mediaRefs: Vector[String],
    pdfImages: Boolean,
    doctype: String,
    absent: String)

object Expect {
  /** Stands for one media span among the expected sentences. */
  val Media = "\u0000"
}

/** Seeded input generator: every document, and its expectation, is a pure
  * function of (workload, id), so generation runs distributed and the
  * checks can rebuild any document's expectation on an executor.
  */
object Gen {

  val Formats: Seq[String] = Seq("text", "html", "rtf", "pdf", "docx", "odt", "pptx",
    "odp", "media", "image", "failure", "mega")

  private val Plain = Vector("weiter", "Dokument", "Verhältnis", "extraction", "pipeline",
    "span", "media", "text", "Absatz", "Seite", "Titel", "über", "größer", "Kommission",
    "Institution", "Bericht", "daten", "café", "Zeile", "Spalte", "Ordnung", "sicher")

  /** Words a line break may hyphenate, with the text the dehyphenation rules
    * (line-end hyphen after a lowercase rune is dropped unless the next line
    * starts uppercase; after an uppercase rune it is kept) must give back.
    */
  private val Splits: Map[String, (String, String)] = Map(
    "Verfahren" -> ("Verfah", "ren"),
    "Straße" -> ("Stra", "ße"),
    "Auswertung" -> ("Aus", "wertung"),
    "Beispiel" -> ("Bei", "spiel"),
    "E-Mail" -> ("E", "Mail"),
    "EU-Institution" -> ("EU", "Institution"),
    "Kommissions-Verfahren" -> ("Kommissions", "Verfahren"))

  private val Words: Vector[String] = Plain ++ Splits.keys.toVector.sorted

  def docId(id: Long): String = s"d$id"

  def idOf(docId: String): Long = docId.substring(1).toLong

  /** Format class of a document, without building it. */
  def cls(wl: Workload, id: Long): String =
    if (id >= wl.docs) "mega"
    else (id % 20).toInt match {
      case c if c <= 4 || c == 17 => "text"
      case 5 => "html"
      case 6 | 7 => "media"
      case 8 | 9 => "rtf"
      case 10 => "pdf"
      case 11 | 12 => "docx"
      case 13 => "odt"
      case 14 | 15 => "pptx"
      case 16 => "odp"
      case 18 => "failure"
      case _ => if (id % 40 == 39) "image" else "media"
    }

  private def rng(wl: Workload, id: Long): SplittableRandom =
    new SplittableRandom(wl.seed * 0x9E3779B97F4A7C15L + id * 0xC2B2AE3D27D4EB4FL + 1)

  private def sentence(r: SplittableRandom, words: Int): String =
    Vector.fill(words)(Words(r.nextInt(Words.length))).mkString(" ")

  private def sentences(r: SplittableRandom, n: Int, lo: Int, hi: Int): Vector[String] =
    Vector.fill(n)(sentence(r, lo + r.nextInt(hi - lo + 1)))

  /** Lines of a word stream: a break every 3-8 words, and a break before a
    * splittable word hyphenates it across the two lines.
    */
  private def lines(ss: Vector[String], r: SplittableRandom): Vector[String] = {
    val words = ss.flatMap(_.split(' '))
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var left = 3 + r.nextInt(6)
    words.foreach { w =>
      if (left == 0) {
        Splits.get(w) match {
          case Some((head, tail)) if r.nextInt(2) == 0 =>
            out += cur.append(' ').append(head).append('-').toString
            cur.clear(); cur.append(tail)
          case _ =>
            out += cur.toString
            cur.clear(); cur.append(w)
        }
        left = 3 + r.nextInt(6)
      } else {
        if (cur.nonEmpty) cur.append(' ')
        cur.append(w)
        left -= 1
      }
    }
    if (cur.nonEmpty) out += cur.toString
    out.result()
  }

  /** A run of consecutive text spans over one word stream: spans cut at line
    * boundaries, so a hyphenated word may straddle two spans.
    */
  private def textRun(ss: Vector[String], nSpans: Int, r: SplittableRandom): Vector[String] = {
    val ls = lines(ss, r)
    val n = math.max(1, math.min(nSpans, ls.length))
    val cuts = (0 to n).map(i => i * ls.length / n)
    (0 until n).map(i => ls.slice(cuts(i), cuts(i + 1)).map(_ + "\n").mkString).toVector
  }

  private def b64(data: Array[Byte]): String = Base64.getEncoder.encodeToString(data)

  private val ZipTime = 315576000000L // 1980-01-01, the first DOS timestamp

  private def zip(entries: (String, String)*): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    entries.foreach { case (name, content) =>
      val e = new ZipEntry(name)
      e.setTime(ZipTime) // else the writer stamps the wall clock into the bytes
      z.putNextEntry(e)
      z.write(content.getBytes("UTF-8"))
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  private def rtfEscape(s: String): String = s.flatMap { c =>
    if (c < 128) c.toString else f"\\'${c.toInt}%02x"
  }

  /** Interleaved text and media: runs of text spans, and media spans whose
    * recorded OCR transcript comes out before the next text span only when
    * that span is shorter than 200 chars (misc.go:38-40).
    */
  private final class Interleaved(docId: String, r: SplittableRandom) {
    val spans = Vector.newBuilder[Span]
    val expect = Vector.newBuilder[String]
    val refs = Vector.newBuilder[String]
    private var off = 0
    private var pendingOcr = Vector.empty[String]

    def media(transcript: Boolean): Unit = {
      val ocr = if (transcript) sentence(r, 4 + r.nextInt(3)) else ""
      val ref = s"s3://media/$docId/m$off.png"
      spans += Span("media", ocr, ref, off)
      refs += ref
      expect += Expect.Media
      if (ocr.nonEmpty) pendingOcr :+= ocr
      off += 1
    }

    def text(ss: Vector[String], nSpans: Int): Unit = {
      val run = textRun(ss, nSpans, r)
      if (pendingOcr.nonEmpty && run.head.length < 200) expect ++= pendingOcr
      pendingOcr = Vector.empty
      expect ++= ss
      run.foreach { t => spans += Span("text", t, "", off); off += 1 }
    }
  }

  /** The document with the given id and what it must yield. */
  def make(wl: Workload, id: Long): (Doc, Expect) = {
    val r = rng(wl, id)
    val did = docId(id)
    val c = cls(wl, id)
    def ok(spans: Seq[Span], ss: Vector[String], refs: Vector[String] = Vector.empty,
        pdfImages: Boolean = false, doctype: String = "", absent: String = "") =
      (Doc(did, spans), Expect(c, "", ss, refs, pdfImages, doctype, absent))
    c match {
      case "text" =>
        val long = id % 20 == 17
        val ss = sentences(r, if (long) 30 + r.nextInt(30) else 2 + r.nextInt(8), 4, 9)
        val run = textRun(ss, if (long) 20 + r.nextInt(20) else 1 + r.nextInt(4), r)
        ok(run.zipWithIndex.map { case (t, i) => Span("text", t, "", i) }, ss)
      case "html" =>
        val ss = sentences(r, 2 + r.nextInt(3), 10, 14)
        val html =
          s"""<html><body><nav><a href="/">navlink home</a> <a href="/a">navlink about</a></nav>
             |<article>${ss.map(s => s"<p>$s</p>").mkString("\n")}</article>
             |<footer><a href="/i">navlink imprint</a> legal</footer></body></html>""".stripMargin
        ok(Seq(Span("html", b64(html.getBytes("UTF-8")), "", 0)), ss, absent = "navlink")
      case "media" if id % 20 == 19 =>
        val ref = s"s3://media/$did/only.mp4"
        ok(Seq(Span("media", "", ref, 0)), Vector(Expect.Media), Vector(ref))
      case "media" =>
        val b = new Interleaved(did, r)
        for (_ <- 0 until 2 + r.nextInt(3)) {
          if (r.nextInt(2) == 0) {
            b.media(r.nextInt(2) == 0)
            b.text(Vector(sentence(r, 3 + r.nextInt(2))), 1)
          } else b.text(sentences(r, 2 + r.nextInt(3), 4, 8), 1)
        }
        ok(b.spans.result(), b.expect.result(), b.refs.result())
      case "rtf" =>
        val ss = sentences(r, 2 + r.nextInt(4), 5, 9)
        val body = ss.map { s =>
          val ws = s.split(' ')
          val bold = r.nextInt(ws.length)
          ws.indices.map(i => if (i == bold) s"{\\b ${rtfEscape(ws(i))}}" else rtfEscape(ws(i)))
            .mkString(" ") + "\\par "
        }.mkString
        val rtf = s"{\\rtf1\\ansi\\ansicpg1252{\\info{\\title Doc ${r.nextInt(1000)}}{\\author synth}}$body}"
        ok(Seq(Span("rtf", b64(rtf.getBytes("ISO-8859-1")), "", 0)), ss)
      case "pdf" =>
        val pages = Vector.fill(1 + r.nextInt(3))(sentences(r, 2 + r.nextInt(4), 4, 6))
        val image = r.nextInt(3) == 0
        val pdf = graft.core.pdf.PdfBuilder.build(
          pages.map(_.zipWithIndex.map { case (s, i) => graft.core.pdf.PdfBuilder.Line(s, 50, 700 - i * 20) }),
          title = s"pdf $did", withImagePage = image)
        ok(Seq(Span("pdf", b64(pdf), "", 0)),
          if (image) pages.flatten :+ Expect.Media else pages.flatten, pdfImages = image)
      case "docx" =>
        val ss = sentences(r, 2 + r.nextInt(4), 5, 9)
        val paras = ss.map(s => s"<w:p><w:r><w:t>$s</w:t></w:r></w:p>").mkString
        val z = zip(
          "word/document.xml" -> s"""<?xml version="1.0"?><w:document><w:body>$paras</w:body></w:document>""",
          "docProps/core.xml" -> s"""<?xml version="1.0"?><cp:coreProperties><dc:title>synth ${r.nextInt(100)}</dc:title><dc:creator>bench</dc:creator></cp:coreProperties>""",
          "docProps/app.xml" -> """<?xml version="1.0"?><Properties><Application>bench</Application><Pages>1</Pages></Properties>""")
        ok(Seq(Span("bin", b64(z), "", 0)), ss)
      case "odt" =>
        val ss = sentences(r, 2 + r.nextInt(3), 5, 9)
        val z = zip(
          "mimetype" -> "application/vnd.oasis.opendocument.text",
          "content.xml" -> s"""<?xml version="1.0"?><office:document-content><office:body><office:text>${ss.map(s => s"<text:p>$s</text:p>").mkString}</office:text></office:body></office:document-content>""",
          "meta.xml" -> s"""<?xml version="1.0"?><office:document-meta><office:meta><dc:title>odt ${r.nextInt(100)}</dc:title></office:meta></office:document-meta>""")
        ok(Seq(Span("bin", b64(z), "", 0)), ss)
      case "pptx" =>
        // slides are written in shuffled order: the kernel sorts them by number
        val slides = Vector.fill(2 + r.nextInt(10))(sentences(r, 1 + r.nextInt(2), 4, 7))
        val order = slides.indices.map(i => (r.nextInt(), i)).sortBy(_._1).map(_._2)
        val z = zip(order.map { i =>
          s"ppt/slides/slide${i + 1}.xml" ->
            s"""<?xml version="1.0"?><p:sld><p:cSld>${slides(i).map(s => s"<a:p><a:r><a:t>$s</a:t></a:r></a:p>").mkString}</p:cSld></p:sld>"""
        }: _*)
        ok(Seq(Span("pptx", b64(z), "", 0)), slides.flatten)
      case "odp" =>
        val slides = Vector.fill(2 + r.nextInt(3))(sentence(r, 4 + r.nextInt(4)))
        val z = zip(
          "mimetype" -> "application/vnd.oasis.opendocument.presentation",
          "content.xml" -> s"""<?xml version="1.0"?><office:document-content><office:body><office:presentation>${slides.map(s => s"<draw:page><text:p>$s</text:p></draw:page>").mkString}</office:presentation></office:body></office:document-content>""")
        ok(Seq(Span("odp", b64(z), "", 0)), slides)
      case "failure" =>
        val (span, code) = r.nextInt(3) match {
          case 0 => (Span("bin", "", "", 0), "zero_size")
          case 1 => (Span("bin", b64("GARBAGE-FORMAT".getBytes("US-ASCII")), "", 0), "unknown_format")
          case _ => (Span("bin", b64(zip("nothing.txt" -> "x")), "", 0), "content_not_found")
        }
        (Doc(did, Seq(span)), Expect(c, code, Vector.empty, Vector.empty, false, "", ""))
      case "image" =>
        val (magic, ext) = r.nextInt(3) match {
          case 0 => (Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte), "png")
          case 1 => (Array(0xFF, 0xD8, 0xFF, 0xE0).map(_.toByte), "jpg")
          case _ => ("GIF89a".getBytes("US-ASCII"), "gif")
        }
        ok(Seq(Span("bin", b64(magic ++ sentence(r, 4).getBytes("UTF-8")), "", 0)),
          Vector(Expect.Media), doctype = ext)
      case "mega" =>
        val b = new Interleaved(did, r)
        var n = 0
        while (n < wl.megaSpans) {
          if (r.nextInt(4) == 0) {
            b.media(r.nextInt(2) == 0)
            b.text(Vector(sentence(r, 3 + r.nextInt(2))), 1)
            n += 2
          } else {
            val k = 2 + r.nextInt(6)
            b.text(sentences(r, 4 * k, 5, 9), k)
            n += k
          }
        }
        ok(b.spans.result(), b.expect.result(), b.refs.result())
    }
  }

  def doc(wl: Workload, id: Long): Doc = make(wl, id)._1

  def expect(wl: Workload, id: Long): Expect = make(wl, id)._2
}

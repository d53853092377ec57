package perfbench

import graft.core.Extractor
import graft.pipeline.{ExtractedDoc, Span}

/** Tests of the benchmark itself: the generator repeats for a seed, and each
  * output check rejects a deliberately corrupted result.
  */
object SelfTest {
  private var failures = 0

  private def expect(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Exception => println(s"  $e"); false }
    println((if (ok) "ok   " else "FAIL ") + name)
    if (!ok) failures += 1
  }

  private def kernel(id: String, spans: Seq[Span]): ExtractedDoc = {
    val r = Extractor.extract(id, spans.sortBy(_.offset)
      .map(s => Extractor.Span(s.kind, s.text, s.media_ref, s.offset)))
    ExtractedDoc(id, r.spans.map(s => Span(s.kind, s.text, s.mediaRef, s.offset)), r.metadata, r.failure, 0L)
  }

  def run(): Unit = {
    for (name <- Workload.Names) {
      val wl = Workload(name, 7).copy(megaSpans = 300)
      val ids = (0L until 80) ++ (wl.docs.toLong until wl.size)
      expect(s"$name: the same seed gives the same input") {
        ids.forall(id => Gen.make(wl, id) == Gen.make(wl, id))
      }
      expect(s"$name: another seed gives other input") {
        ids.count(id => Gen.doc(wl, id) != Gen.doc(wl.copy(seed = 8), id)) > ids.size / 2
      }
    }

    val wl = Workload("mega_skew", 7).copy(megaSpans = 300)
    val outs = ((0L until 200) ++ (wl.docs.toLong until wl.size)).map { id =>
      val (d, e) = Gen.make(wl, id)
      (e, kernel(d.doc_id, d.spans))
    }
    expect("every format's kernel output passes the checks") {
      val bad = outs.filter { case (e, o) => Checks.check(e, o).nonEmpty }
      bad.take(3).foreach { case (e, o) => println(s"  ${o.doc_id} (${e.cls}): ${Checks.check(e, o)}") }
      bad.isEmpty && Gen.Formats.forall(f => outs.exists(_._1.cls == f))
    }

    val ids = outs.map(_._2.doc_id)
    expect("a dropped document is rejected")(Checks.exactlyOnce(ids, ids.tail).nonEmpty)
    expect("a duplicated document is rejected")(Checks.exactlyOnce(ids, ids :+ ids.head).nonEmpty)
    expect("a foreign document is rejected")(Checks.exactlyOnce(ids.tail, ids).nonEmpty)

    def rejects(corrupt: (Expect, ExtractedDoc) => Option[ExtractedDoc]): Boolean = {
      val cases = outs.flatMap { case (e, o) => corrupt(e, o).map(c => (e, c)) }
      val missed = cases.filter { case (e, c) => Checks.check(e, c).isEmpty }
      missed.take(2).foreach { case (e, c) => println(s"  accepted ${e.cls} ${c.doc_id}: ${c.spans.take(4)}") }
      cases.nonEmpty && missed.isEmpty
    }
    def swap(s: Seq[Span], i: Int, j: Int) = s.updated(i, s(j)).updated(j, s(i))
    val textIdx = (o: ExtractedDoc) => o.spans.indices.filter(o.spans(_).kind == "text")

    expect("swapped spans are rejected") {
      rejects { (_, o) =>
        val t = textIdx(o)
        if (t.size < 2 || o.spans(t(0)).text == o.spans(t(1)).text) None
        else Some(o.copy(spans = swap(o.spans, t(0), t(1))))
      }
    }
    expect("swapped span texts under kept offsets are rejected") {
      rejects { (_, o) =>
        val t = textIdx(o)
        if (t.size < 2 || Checks.normalize(o.spans(t(0)).text).isEmpty ||
          o.spans(t(0)).text == o.spans(t(1)).text) None
        else Some(o.copy(spans = o.spans
          .updated(t(0), o.spans(t(0)).copy(text = o.spans(t(1)).text))
          .updated(t(1), o.spans(t(1)).copy(text = o.spans(t(0)).text))))
      }
    }
    expect("a wrong failure code is rejected") {
      rejects { (e, o) =>
        if (e.failure.isEmpty) None
        else Some(o.copy(failure = if (o.failure == "zero_size") "unknown_format" else "zero_size"))
      }
    }
    expect("a failure where content was due is rejected") {
      rejects((e, o) => if (e.failure.nonEmpty) None else Some(o.copy(spans = Nil, failure = "parse_error")))
    }
    expect("a missing sentence is rejected") {
      rejects { (e, o) =>
        e.sentences.lastOption.flatMap { s =>
          val k = o.spans.indexWhere(x => x.kind == "text" && x.text.contains(s))
          if (k < 0) None
          else Some(o.copy(spans = o.spans.updated(k, o.spans(k).copy(text = o.spans(k).text.replace(s, "")))))
        }
      }
    }
    expect("dropped or reordered media refs are rejected") {
      rejects { (e, o) =>
        val m = o.spans.indices.filter(o.spans(_).kind == "media")
        if (e.mediaRefs.size < 2 || m.size < 2) None
        else {
          val (i, j) = (m(0), m(1))
          Some(o.copy(spans = o.spans.updated(i, o.spans(i).copy(media_ref = o.spans(j).media_ref))
            .updated(j, o.spans(j).copy(media_ref = o.spans(i).media_ref))))
        }
      }
    }
    expect("kept boilerplate is rejected") {
      rejects { (e, o) =>
        if (e.absent.isEmpty) None
        else Some(o.copy(spans = o.spans :+ Span("text", e.absent, "", o.spans.size)))
      }
    }
    if (failures > 0) {
      println(s"$failures self-test(s) failed")
      sys.exit(1)
    }
    println("all self-tests passed")
  }
}

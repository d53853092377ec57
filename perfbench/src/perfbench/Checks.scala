package perfbench

import graft.pipeline.ExtractedDoc
import org.apache.spark.sql.catalyst.expressions.{UnsafeRow, XXH64}

/** Output checks, judged against what the generator wrote (never against a
  * stored copy of the program's output).
  */
object Checks {

  /** Whitespace runs collapsed to one space, trimmed. */
  def normalize(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var space = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c) || Character.isSpaceChar(c)) space = sb.length > 0
      else {
        if (space) sb.append(' ')
        space = false
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Why one document's output breaks its expectation, or "" when it holds.
    * Offsets run 0..n-1; a failure-class document carries the generator's
    * code; the spans hold every expected sentence and media span, in order;
    * the input media refs come out in order.
    */
  def check(e: Expect, out: ExtractedDoc): String = {
    val spans = out.spans.toVector
    val badOffset = spans.indices.find(i => spans(i).offset != i)
    if (badOffset.isDefined) return s"offset ${badOffset.get} is ${spans(badOffset.get).offset}"
    if (e.failure.nonEmpty)
      return if (out.failure != e.failure) s"failure '${out.failure}', want '${e.failure}'"
        else if (spans.nonEmpty) "failed document has spans" else ""
    if (out.failure.nonEmpty) return s"unexpected failure '${out.failure}'"

    val text = normalize(spans.map(s => if (s.kind == "media") s" ${Expect.Media} " else s.text).mkString)
    var at = 0
    for (s <- e.sentences) {
      val k = text.indexOf(s, at)
      if (k < 0) return if (s == Expect.Media) "media span missing or out of place"
        else s"sentence missing or out of order: '$s'"
      at = k + s.length
    }
    if (e.absent.nonEmpty && text.contains(e.absent)) return s"boilerplate '${e.absent}' kept"

    val media = spans.filter(_.kind == "media").map(_.media_ref)
    if (e.cls == "image") {
      if (media.length != 1 || spans.length != 1) return s"image gave ${spans.length} spans"
      if (!out.metadata.get("x-doctype").contains(e.doctype))
        return s"x-doctype ${out.metadata.get("x-doctype")}, want ${e.doctype}"
    } else if (e.pdfImages) {
      if (media.isEmpty || !media.forall(_.startsWith(s"pdf:${out.doc_id}/")))
        return s"image page gave media $media"
    } else if (media != e.mediaRefs) return s"media refs $media, want ${e.mediaRefs}"
    ""
  }

  /** 64-bit digest of one serialized output row. Two passes give equal
    * digests for a document iff they give byte-equal rows.
    */
  def digest(row: UnsafeRow): Long =
    XXH64.hashUnsafeBytes(row.getBaseObject, row.getBaseOffset, row.getSizeInBytes, 42L)

  /** Problems with a whole output: each document of `ids` once, no other. */
  def exactlyOnce(want: Iterable[String], got: Iterable[String]): Vector[String] = {
    val counts = got.groupBy(identity).map { case (k, v) => k -> v.size }
    val wantSet = want.toSet
    val missing = wantSet.iterator.filterNot(counts.contains).map(id => s"$id: missing")
    val dup = counts.iterator.collect { case (id, n) if n > 1 => s"$id: output $n times" }
    val extra = counts.keysIterator.filterNot(wantSet).map(id => s"$id: not in input")
    (missing ++ dup ++ extra).toVector
  }
}

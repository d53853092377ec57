package perfbench

import graft.core.Extractor
import graft.pipeline.Doc

/** The graft.core kernel on raw threads, with no Spark. Documents come
  * through the pipeline's own `Doc` encoder, so the kernel gets the span
  * collection it gets in production, and each call mirrors the pipeline's
  * unsalted branch (spans sorted by offset, mapped to kernel spans).
  */
final class CoreProbe(docs: Array[Doc], wl: Workload, cores: Int) {

  private def kernel(d: Doc): Extractor.Result =
    Extractor.extract(d.doc_id, d.spans.sortBy(_.offset)
      .map(s => Extractor.Span(s.kind, s.text, s.media_ref, s.offset)), Extractor.Default)

  var slowest: Seq[(String, Double)] = Nil
  /** Kernel thread CPU per 1000 documents at nproc threads. */
  var kernelCpuMsPerKdoc = 0.0
  var metrics: Seq[(String, Double, String)] = Nil
  /** Mega-documents: kernel time on the decoded span List against the same
    * spans as a Vector (the kernel indexes its spans by position).
    */
  var megaListVsVector: Seq[(String, Double, Double)] = Nil

  def run(): this.type = {
    val th = Jvm.threads
    val n = docs.length
    val lat = new Array[Long](n)
    val fmtNs = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val fmtB = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val fmtN = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) {
      val d = docs(i)
      val a0 = th.getCurrentThreadAllocatedBytes
      val s0 = System.nanoTime()
      kernel(d)
      lat(i) = System.nanoTime() - s0
      val c = Gen.cls(wl, Gen.idOf(d.doc_id))
      fmtNs(c) += lat(i); fmtB(c) += th.getCurrentThreadAllocatedBytes - a0; fmtN(c) += 1
      i += 1
    }
    val t1Rate = n / ((System.nanoTime() - t0) / 1e9)
    slowest = lat.indices.sortBy(k => -lat(k)).take(10).map(k => (docs(k).doc_id, lat(k) / 1e3))
    val sorted = lat.sorted
    megaListVsVector = docs.indices.filter(k => Gen.cls(wl, Gen.idOf(docs(k).doc_id)) == "mega").map { k =>
      val d = docs(k)
      val s0 = System.nanoTime()
      Extractor.extract(d.doc_id, d.spans.sortBy(_.offset).toVector
        .map(s => Extractor.Span(s.kind, s.text, s.media_ref, s.offset)), Extractor.Default)
      (d.doc_id, lat(k) / 1e3, (System.nanoTime() - s0) / 1e3)
    }

    // nproc threads, documents dealt round-robin
    val cpu = new java.util.concurrent.atomic.AtomicLong()
    val tN0 = System.nanoTime()
    val ts = (0 until cores).map { k =>
      val t = new Thread(() => {
        val c0 = th.getCurrentThreadCpuTime
        var j = k
        while (j < n) { kernel(docs(j)); j += cores }
        cpu.addAndGet(th.getCurrentThreadCpuTime - c0)
      })
      t.start(); t
    }
    ts.foreach(_.join())
    val tNRate = n / ((System.nanoTime() - tN0) / 1e9)
    kernelCpuMsPerKdoc = cpu.get / 1e6 / (n / 1000.0)

    metrics = Seq(
      ("core.extract.docs_per_s.t1", t1Rate, "docs/s"),
      ("core.extract.docs_per_s.tN", tNRate, "docs/s"),
      ("core.extract.cpu_ms_per_kdoc.tN", kernelCpuMsPerKdoc, "ms/kdoc"),
      ("core.extract.us_p50", Stats.quantile(sorted, 0.50) / 1e3, "us"),
      ("core.extract.us_p99", Stats.quantile(sorted, 0.99) / 1e3, "us"),
      ("core.extract.us_max", sorted.lastOption.getOrElse(0L) / 1e3, "us")) ++
      Gen.Formats.flatMap { f =>
        val k = fmtN(f).max(1L).toDouble
        Seq((s"core.$f.us_per_doc", fmtNs(f) / 1e3 / k, "us"),
          (s"core.$f.alloc_kb_per_doc", fmtB(f) / 1024.0 / k, "KB/doc"))
      }
    this
  }
}

package perfbench

import graft.core.Extractor
import graft.pipeline._
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.BenchBus
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Process-wide counters, read around each pass. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  val threads: com.sun.management.ThreadMXBean =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toVector

  def cpuNs: Long = os.getProcessCpuTime
  def allocBytes: Long = threads.getTotalThreadAllocatedBytes
  def gcMs: Long = gcs.map(_.getCollectionTime).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def classesLoaded: Long = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** Runs `f` while a full collection is forced every 100 ms; returns the
    * heap occupancy right after each one, in bytes, as the collector
    * reports it (not as read later, while other threads allocate).
    */
  def liveHeapSamples(f: => Unit): Vector[Long] = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val beans = gcs.map(_.asInstanceOf[com.sun.management.GarbageCollectorMXBean])
    @volatile var running = true
    val samples = Vector.newBuilder[Long]
    val t = new Thread(() => while (running) {
      val before = gcs.map(_.getCollectionCount).sum
      System.gc()
      // the full collection's own record, if no other collection came after it
      val infos = beans.flatMap(b => Option(b.getLastGcInfo))
      if (infos.nonEmpty && gcs.map(_.getCollectionCount).sum == before + 1)
        samples += infos.maxBy(_.getEndTime).getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      Thread.sleep(100)
    })
    t.setDaemon(true)
    t.start()
    try f finally { running = false; t.join() }
    samples.result()
  }
}

/** Host state, kept next to a run's metrics so a noisy window shows. */
object Host {
  private def read(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p)), "US-ASCII") catch { case _: Exception => "" }

  /** CPU steal jiffies of the whole host, or -1 where unreadable. */
  def steal(): Long = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
    .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong).getOrElse(-1L)

  def loadavg(): String = read("/proc/loadavg").split(' ').take(3).mkString(" ")
}

/** Counter deltas over one pass. */
final case class Pass(docs: Long, wallNs: Long, cpuNs: Long, allocB: Long, gcMs: Long, jitMs: Long,
    classes: Long, failed: Long) {
  def docsPerS: Double = docs / (wallNs / 1e9)
  def cpuMsPerKdoc: Double = (cpuNs / 1e6) / (docs / 1000.0)
  def allocKbPerDoc: Double = allocB / 1024.0 / docs
}

object Json {
  /** A JSON string literal. */
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}

object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Exact rank quantile of a sorted array. */
  def quantile(sorted: Array[Long], q: Double): Long =
    if (sorted.isEmpty) 0L else sorted(math.min(sorted.length - 1, (q * sorted.length).toInt))
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, traceOut: Path, cores: Int)

object Main {
  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (m.get("self-test").contains("1")) { SelfTest.run(); sys.exit(0) }
    val a = Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      Paths.get(m("work")), Paths.get(m("trace-out")),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
    val out = new Bench(a).run()
    // The result is the last line of stdout; exit at once so no Spark
    // thread keeps the JVM alive.
    System.out.println(out)
    System.out.flush()
    sys.exit(0)
  }
}

/** One benchmark run of one workload. */
final class Bench(a: Args) {
  private val wl = Workload(a.workload, a.seed)
  private val cfg = ExtractPipeline.PipelineConfig()
  private val docEnc = Encoders.product[Doc]
  private val outEnc: ExpressionEncoder[ExtractedDoc] =
    org.apache.spark.sql.catalyst.encoders.encoderFor(Encoders.product[ExtractedDoc])
  private var spark: SparkSession = _
  private var correct = true
  private val problems = ArrayBuffer[String]()
  private val tracer = new Tracer(a.trace)
  private val log = new EventLog
  /** Each document's output row digest, from the reference pass. */
  private val digestMap = new java.util.HashMap[UTF8String, java.lang.Long]()
  private var digests: org.apache.spark.broadcast.Broadcast[java.util.HashMap[UTF8String, java.lang.Long]] = _

  private var sessionS = 0.0
  private var genS: Seq[Double] = Nil

  private def input: String = a.work.resolve("input").toString
  private def pristine: Path = a.work.resolve("lineage-prior")
  private def root: Path = a.work.resolve("lineage")

  /** A session configured as RunPipeline.main configures its own. */
  private def startSession(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .appName(s"graft-extract-bench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cfg.numPartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def fail(msg: String): Unit = {
    correct = false
    if (problems.size < 20) problems += msg
  }

  private def docs(): Dataset[Doc] = spark.read.parquet(input).as[Doc](docEnc)

  private def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toVector.reverse.foreach(Files.delete) finally s.close()
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }

  private def generate(dir: Path): Unit = {
    val s = spark
    import s.implicits._
    val w = wl
    spark.range(0, w.size, 1, 8).map(id => Gen.doc(w, id))(docEnc)
      .write.parquet(dir.toString)
  }

  // ---- set-up --------------------------------------------------------------

  /** JVM start to session up, plus the median of three input generations,
    * plus (on commit_resume) committing the prior run.
    */
  private def setup(): Double = {
    spark = startSession(a.cores)
    sessionS = Jvm.uptimeS
    genS = (1 to 3).map { i =>
      val dir = a.work.resolve(s"input-$i")
      rmrf(Paths.get(input))
      val t0 = System.nanoTime()
      generate(dir)
      val s = (System.nanoTime() - t0) / 1e9
      Files.move(dir, Paths.get(input))
      s
    }
    val t0 = System.nanoTime()
    if (wl.name == "commit_resume") {
      val w = wl
      val prior = docs().filter((d: Doc) => w.priorPart(Gen.idOf(d.doc_id)))
      Lineage.run(prior, new ParquetSnapshotStore(pristine.toString), "prior", cfg)
    }
    sessionS + Stats.median(genS) + (System.nanoTime() - t0) / 1e9
  }

  // ---- passes --------------------------------------------------------------

  private def measure(docs: Long)(f: => Long): Pass = {
    val (c0, a0, g0) = (Jvm.cpuNs, Jvm.allocBytes, Jvm.gcMs)
    val j0 = Jvm.jitMs
    val k0 = Jvm.classesLoaded
    val t0 = System.nanoTime()
    val failed = f
    val t1 = System.nanoTime()
    Pass(docs, t1 - t0, Jvm.cpuNs - c0, Jvm.allocBytes - a0, Jvm.gcMs - g0, Jvm.jitMs - j0,
      Jvm.classesLoaded - k0, failed)
  }

  private def asUnsafe(schema: org.apache.spark.sql.types.StructType)
      : Iterator[org.apache.spark.sql.catalyst.InternalRow] => Iterator[UnsafeRow] = { rows =>
    lazy val proj = UnsafeProjection.create(schema)
    rows.map {
      case u: UnsafeRow => u
      case r => proj(r)
    }
  }

  /** Reference pass: every output document checked against its generator
    * expectation, and its row digest kept for the passes that follow.
    */
  private def referencePass(): Long = {
    val w = wl
    val enc = outEnc.resolveAndBind()
    val ds = ExtractPipeline.extract(docs(), cfg)
    val conv = asUnsafe(ds.schema)
    val rows = ds.queryExecution.toRdd.mapPartitions { it =>
      val deser = enc.createDeserializer()
      conv(it).map { u =>
        val d = deser(u)
        val e = Gen.expect(w, Gen.idOf(d.doc_id))
        (d.doc_id, Checks.digest(u), Checks.check(e, d), if (e.cls == "mega") d else null)
      }
    }.collect()
    val bad = rows.filter(_._3.nonEmpty)
    bad.take(5).foreach(r => fail(s"${r._1}: ${r._3}"))
    val once = Checks.exactlyOnce((0L until wl.size).map(Gen.docId), rows.map(_._1))
    once.take(5).foreach(fail)
    // salted mega-documents equal a plain single-document kernel run
    rows.filter(_._4 != null).foreach { case (id, _, _, got) =>
      val d = Gen.doc(wl, Gen.idOf(id))
      val r = Extractor.extract(id, d.spans.sortBy(_.offset)
        .map(s => Extractor.Span(s.kind, s.text, s.media_ref, s.offset)).toVector, cfg.extractor)
      val want = r.spans.map(s => Span(s.kind, s.text, s.mediaRef, s.offset))
      if (got.spans != want || got.metadata != r.metadata || got.failure != r.failure)
        fail(s"$id: salted output differs from a single kernel run")
    }
    rows.foreach { case (id, dg, _, _) => digestMap.put(UTF8String.fromString(id), dg) }
    digests = spark.sparkContext.broadcast(digestMap)
    bad.length + once.length
  }

  /** One extraction pass into a sink that keeps only a digest per row;
    * returns the documents whose row differs from the reference pass.
    */
  private def extractPass(): Long = {
    val ds = ExtractPipeline.extract(docs(), cfg)
    val sc = spark.sparkContext
    val ok = sc.longAccumulator
    val bad = sc.longAccumulator
    val want = digests
    val conv = asUnsafe(ds.schema)
    ds.queryExecution.toRdd.foreachPartition { (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
      val m = want.value
      var o = 0L; var b = 0L
      conv(it).foreach { u =>
        val d = m.get(u.getUTF8String(0))
        if (d != null && d.longValue == Checks.digest(u)) o += 1 else b += 1
      }
      ok.add(o); bad.add(b)
    }
    val failed = bad.value + math.abs(wl.size - ok.value)
    if (failed > 0) fail(s"extract pass: ${bad.value} rows differ, ${ok.value} of ${wl.size} match")
    failed
  }

  /** Documents that must come out without a failure code. */
  private lazy val nonFailedIds: Vector[String] =
    (0L until wl.size).filter(id => Gen.cls(wl, id) != "failure").map(Gen.docId).toVector

  /** Documents the resumed run must extract: all but the prior run's commits. */
  private lazy val resumeIds: Vector[String] =
    (0L until wl.size).filterNot(id => wl.priorPart(id) && Gen.cls(wl, id) != "failure")
      .map(Gen.docId).toVector

  /** Rebuilds the lineage root holding only the prior run. */
  private def rebuildRoot(): Unit = { rmrf(root); copyTree(pristine, root) }

  /** The calls RunPipeline.main makes once its session exists. */
  private def resumeRun(store: SnapshotStore): Array[PartitionMetrics] = {
    val result = tracer.span("lineage.run") { Lineage.run(docs(), store, "resume", cfg) }
    tracer.span("lineage.summary") { ExtractPipeline.metrics(result, "resume").collect() }
  }

  /** Checks a committed resume run: the output read back, the manifests,
    * and the run summary against the output.
    */
  private def checkResume(summary: Array[PartitionMetrics]): Long = {
    val s = spark
    import s.implicits._
    val w = wl
    val out = spark.read.parquet(root.resolve("output/run=resume").toString).as[ExtractedDoc](outEnc)
    val rows = out.mapPartitions(_.map { d =>
      (d.doc_id, Checks.check(Gen.expect(w, Gen.idOf(d.doc_id)), d), d.spans.size.toLong, d.failure)
    }).collect()
    val bad = rows.filter(_._2.nonEmpty)
    bad.take(5).foreach(r => fail(s"${r._1}: ${r._2}"))
    val once = Checks.exactlyOnce(resumeIds, rows.map(_._1))
    once.take(5).foreach(fail)
    def manifest(run: String) =
      spark.read.parquet(root.resolve(s"manifest/run=$run").toString).as[String].collect()
    val cover = Checks.exactlyOnce(nonFailedIds, manifest("prior") ++ manifest("resume"))
    cover.take(5).foreach(m => fail(s"manifests: $m"))
    val fails = rows.filter(_._4.nonEmpty).groupBy(_._4).map { case (k, v) => k -> v.length.toLong }
    val sumFails = summary.flatMap(_.failures.toSeq).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    if (summary.map(_.docs).sum != rows.length || summary.map(_.spans).sum != rows.map(_._3).sum ||
      sumFails != fails) {
      fail("run summary does not match the committed output")
      return resumeIds.size
    }
    math.min(resumeIds.size, bad.length + once.length + cover.length).toLong
  }

  private var lastSummary: Array[PartitionMetrics] = _

  private def resumePass(check: Boolean): Pass = {
    rebuildRoot()
    val store = new TracedStore(new ParquetSnapshotStore(root.toString), tracer)
    val p = measure(resumeIds.size) { lastSummary = resumeRun(store); 0L }
    if (check) p.copy(failed = checkResume(lastSummary)) else p
  }

  /** One pass of the workload. Every timed pass is checked; on
    * commit_resume, whose checks read the committed run back, of the
    * warm-up passes only the first.
    */
  private def pass(check: Boolean = true): Pass =
    if (wl.name == "commit_resume") resumePass(check) else measure(wl.size)(extractPass())

  // ---- the run -------------------------------------------------------------

  def run(): String = {
    Files.createDirectories(a.work)
    val setupS = setup()
    // Untimed warm-up: a fixed number of passes per workload, so that every
    // run starts timing at the same point of the JIT's warm-up curve (a
    // stop-when-flat rule ends at a different point in each run, because
    // passes vary by about 10 % while the curve still rises slowly). The
    // last warm-up passes sample the live heap, so that their forced
    // collections miss the timed passes.
    val warm = ArrayBuffer[Pass]()
    if (wl.name != "commit_resume") warm += measure(wl.size)(referencePass())
    while (warm.size < wl.warmPasses - wl.heapPasses && Jvm.uptimeS < wl.warmUntilS)
      warm += pass(check = warm.isEmpty)
    val heap = Jvm.liveHeapSamples((1 to wl.heapPasses).foreach(_ => warm += pass(check = warm.isEmpty)))
    heapSamples = heap
    heapPeak = if (heap.isEmpty) 0L else Stats.quantile(heap.sorted.toArray, wl.heapQuantile)

    val steal0 = Host.steal()
    val jit0 = Jvm.jitMs
    val metrics =
      if (a.trace) traced()
      else {
        val ps = timed(_ => pass())
        Seq(
          ("docs_per_s", Stats.median(ps.map(_.docsPerS)), "docs/s"),
          ("cpu_ms_per_kdoc", Stats.median(ps.map(_.cpuMsPerKdoc)), "ms/kdoc"),
          ("alloc_kb_per_doc", Stats.median(ps.map(_.allocKbPerDoc)), "KB/doc"),
          ("heap_peak_mib", heapPeak / 1048576.0, "MiB"),
          ("setup_s", setupS, "s"))
      }
    val host = s"""{"host":{"workload":"${wl.name}","seed":${a.seed},"trace":${a.trace},""" +
      s""""steal_jiffies":${Host.steal() - steal0},"loadavg":"${Host.loadavg()}",""" +
      s""""jit_ms":${Jvm.jitMs - jit0},"warmup_docs_per_s":[${warm.map(_.docsPerS.round).mkString(",")}],""" +
      s""""warmup_jit_ms":[${warm.map(_.jitMs).mkString(",")}],"timed_jit_ms":[${timedPasses.map(_.jitMs).mkString(",")}],""" +
      s""""warmup_classes_loaded":[${warm.map(_.classes).mkString(",")}],"timed_classes_loaded":[${timedPasses.map(_.classes).mkString(",")}],""" +
      s""""timed_docs_per_s":[${timedPasses.map(_.docsPerS.round).mkString(",")}],""" +
      s""""setup":{"session_s":$sessionS,"generate_s":[${genS.mkString(",")}]},""" +
      s""""heap_samples_mib":[${heapSamples.map(b => math.round(b / 1048576.0)).mkString(",")}],"timed_passes":${timedPasses.size},"problems":[${problems.map(Json.str).mkString(",")}]}}"""
    System.out.println(host)
    val ms = metrics.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }.mkString(",")
    val attempted = timedPasses.map(_.docs).sum
    val failed = timedPasses.map(_.failed).sum
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$ms}}"""
  }

  private val timedPasses = ArrayBuffer[Pass]()
  private var heapPeak = 0L
  private var heapSamples = Vector.empty[Long]

  /** Passes until `seconds` of timed work (at least three). */
  private def timed(f: Int => Pass): Vector[Pass] = {
    val ps = ArrayBuffer[Pass]()
    while (ps.size < 3 || ps.map(_.wallNs).sum < a.seconds * 1e9) ps += f(ps.size)
    timedPasses ++= ps
    ps.toVector
  }

  // ---- the traced run --------------------------------------------------------

  private def tasksOf(f: => Unit): (Vector[TaskRec], Long) = {
    log.clear()
    val t0 = System.nanoTime()
    f
    val wall = System.nanoTime() - t0
    BenchBus.drain(spark.sparkContext)
    val ts = log.taskList
    tracer.adopt(log)
    (ts, wall)
  }

  private def traced(): Seq[(String, Double, String)] = {
    val sc = spark.sparkContext
    val n = wl.size.toDouble
    val kd = n / 1000.0
    sc.addSparkListener(log)
    val jit0 = Jvm.jitMs
    // passes alternate with tracing on and off; the gap is its overhead
    val perPass = ArrayBuffer[Map[String, Double]]()
    val ps = timed { i =>
      if (i % 2 == 1) {
        sc.removeSparkListener(log)
        val p = tracer.paused(pass())
        sc.addSparkListener(log)
        p
      } else {
        var p: Pass = null
        if (wl.name == "commit_resume") {
          rebuildRoot()
          val store = new ParquetSnapshotStore(root.toString)
          val (_, resumeWall) = tasksOf(tracer.span("pipeline.resume") {
            ExtractPipeline.resume(docs(), store.committedDocIds(spark)).write.format("noop").mode("overwrite").save()
          })
          val (ts, _) = tasksOf { p = tracer.span("pass") { pass(check = false) } }
          perPass += passLayers(ts, p) ++ lineageLayers(resumeWall)
          p = p.copy(failed = checkResume(lastSummary))
        } else {
          val (ts, _) = tasksOf { p = tracer.span("pass") { pass() } }
          perPass += passLayers(ts, p)
        }
        p
      }
    }
    val jitMs = Jvm.jitMs - jit0
    val tracedRate = Stats.median(ps.indices.filter(_ % 2 == 0).map(i => ps(i).docsPerS))
    val plainRate = Stats.median(ps.indices.filter(_ % 2 == 1).map(i => ps(i).docsPerS))
    val layer = perPass.flatMap(_.keys).distinct.map(k => k -> Stats.median(perPass.map(_.getOrElse(k, 0.0)))).toMap

    // scan plus Doc decoding alone
    val scans = (1 to 2).map { _ =>
      val a0 = Jvm.allocBytes
      val (ts, _) = tasksOf(tracer.span("pipeline.scan") {
        docs().foreachPartition((it: Iterator[Doc]) => it.foreach(d => require(d.doc_id != null)))
      })
      (ts.map(_.runMs).sum / kd, (Jvm.allocBytes - a0) / 1024.0 / n)
    }
    sc.removeSparkListener(log)

    val core = tracer.span("core") { new CoreProbe(spark.read.parquet(input).as[Doc](docEnc).collect(), wl, a.cores).run() }
    val outsideKernel = layer.getOrElse("pipeline.task.cpu_ms_per_kdoc", 0.0) - core.kernelCpuMsPerKdoc
    val saltChunks = if (wl.megaDocs == 0) 0.0 else
      (wl.docs until wl.size).map(id => ExtractPipeline.splitChunks(Gen.doc(wl, id), cfg).length).sum.toDouble

    // the same extraction at nproc cores and at one core
    if (digestMap.isEmpty) referencePass()
    def scaling(): Double = Stats.median((1 to 2).map(_ => measure(wl.size)(extractPass()).docsPerS))
    val cN = tracer.span("pipeline.extract.cN")(scaling())
    spark.stop()
    spark = startSession(1)
    digests = spark.sparkContext.broadcast(digestMap)
    val c1 = tracer.span("pipeline.extract.c1")(scaling())

    Files.createDirectories(a.traceOut.getParent)
    Files.write(a.traceOut, tracer.toJson(Seq(
      "slowest_docs" -> core.slowest.map { case (id, us) => s"""{"doc_id":"$id","us":$us}""" }.mkString("[", ",", "]"),
      "mega_us_list_vs_vector" -> core.megaListVsVector.map { case (id, l, v) =>
        s"""{"doc_id":"$id","list_us":$l,"vector_us":$v}""" }.mkString("[", ",", "]"),
      "untraced_docs_per_s" -> plainRate.toString, "traced_docs_per_s" -> tracedRate.toString)).getBytes("UTF-8"))

    val zeroLineage = Seq("lineage.resume.ms", "lineage.commit.ms", "lineage.commit.jobs",
      "lineage.bytes_written_per_doc", "lineage.files_written", "lineage.summary.ms",
      "lineage.summary.input_records")
    val units = Map("ms" -> "ms", "jobs" -> "count", "bytes_written_per_doc" -> "B/doc",
      "files_written" -> "count", "input_records" -> "count")
    def unitOf(k: String) = units.getOrElse(k.split('.').last, "ms")
    core.metrics ++ Seq(
      ("pipeline.scan.ms_per_kdoc", Stats.median(scans.map(_._1)), "ms/kdoc"),
      ("pipeline.scan.alloc_kb_per_doc", Stats.median(scans.map(_._2)), "KB/doc"),
      ("pipeline.outside_kernel.cpu_ms_per_kdoc", outsideKernel, "ms/kdoc"),
      ("pipeline.salt.chunks", saltChunks, "count"),
      ("pipeline.extract.docs_per_s.c1", c1, "docs/s"),
      ("pipeline.extract.docs_per_s.cN", cN, "docs/s"),
      ("jvm.gc_ms_per_kdoc", ps.map(_.gcMs).sum.toDouble / (ps.map(_.docs).sum / 1000.0), "ms/kdoc"),
      ("jvm.jit_ms", jitMs.toDouble, "ms"),
      ("trace.docs_per_s", tracedRate, "docs/s"),
      ("trace.untraced_docs_per_s", plainRate, "docs/s"),
      ("trace.overhead_pct", 100.0 * (plainRate - tracedRate) / plainRate, "%")) ++
      PassLayers.map { case (k, u) => (k, layer.getOrElse(k, 0.0), u) } ++
      zeroLineage.map(k => (k, layer.getOrElse(k, 0.0), unitOf(k)))
  }

  private val PassLayers = Seq(
    "pipeline.extract.ms_per_kdoc" -> "ms/kdoc",
    "pipeline.task.cpu_ms_per_kdoc" -> "ms/kdoc",
    "pipeline.task.gc_ms_per_kdoc" -> "ms/kdoc",
    "pipeline.task.deser_ms" -> "ms",
    "pipeline.task.result_ser_ms" -> "ms",
    "pipeline.tasks" -> "count",
    "pipeline.task_ms.p50" -> "ms",
    "pipeline.task_ms.max" -> "ms",
    "pipeline.slot_busy_share" -> "share",
    "pipeline.shuffle.write_bytes_per_doc" -> "B/doc",
    "pipeline.shuffle.fetch_wait_ms" -> "ms",
    "pipeline.regroup.ms" -> "ms")

  /** Per-layer figures of one traced pass, from its Spark task metrics. */
  private def passLayers(ts: Vector[TaskRec], p: Pass): Map[String, Double] = {
    val kd = p.docs / 1000.0
    val run = ts.map(_.runMs).sorted
    val writers = ts.filter(_.shuffleWriteBytes > 0).map(_.stageId).toSet
    // regroup: tasks that read a shuffle in a stage that writes none
    val regroup = ts.filter(t => t.shuffleReadRecords > 0 && !writers(t.stageId))
    Map(
      "pipeline.extract.ms_per_kdoc" -> run.sum / kd,
      "pipeline.task.cpu_ms_per_kdoc" -> ts.map(_.cpuNs).sum / 1e6 / kd,
      "pipeline.task.gc_ms_per_kdoc" -> ts.map(_.gcMs).sum / kd,
      "pipeline.task.deser_ms" -> ts.map(_.deserMs).sum.toDouble,
      "pipeline.task.result_ser_ms" -> ts.map(_.resultSerMs).sum.toDouble,
      "pipeline.tasks" -> ts.size.toDouble,
      "pipeline.task_ms.p50" -> (if (run.isEmpty) 0.0 else run(run.size / 2).toDouble),
      "pipeline.task_ms.max" -> (if (run.isEmpty) 0.0 else run.last.toDouble),
      "pipeline.slot_busy_share" -> run.sum / (p.wallNs / 1e6 * a.cores),
      "pipeline.shuffle.write_bytes_per_doc" -> ts.map(_.shuffleWriteBytes).sum.toDouble / p.docs,
      "pipeline.shuffle.fetch_wait_ms" -> ts.map(_.fetchWaitMs).sum.toDouble,
      "pipeline.regroup.ms" -> regroup.map(_.runMs).sum.toDouble)
  }

  /** Lineage figures of the traced resume pass just run. */
  private def lineageLayers(resumeWall: Long): Map[String, Double] = {
    val spans = tracer.all
    def ms(name: String) = spans.filter(_.name == name).lastOption.map(s => (s.end - s.start) / 1e6).getOrElse(0.0)
    def within(name: String) = spans.filter(_.name == name).lastOption.toVector.flatMap { l =>
      spans.filter(j => j.name == "spark.job" && j.start >= l.start && j.start <= l.end)
    }
    val summaryStages = spans.filter(s => s.name == "spark.stage" && within("lineage.summary").exists(_.id == s.parent)).map(_.id).toSet
    val summaryInput = spans.filter(t => t.name == "spark.task" && summaryStages(t.parent)).map(_.attrs.getOrElse("input_records", 0.0)).sum
    val written = Seq("output", "metrics", "manifest").flatMap { d =>
      val dir = root.resolve(s"$d/run=resume")
      if (!Files.isDirectory(dir)) Nil
      else { val s = Files.walk(dir); try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally s.close() }
    }
    Map(
      "lineage.resume.ms" -> resumeWall / 1e6,
      "lineage.commit.ms" -> ms("store.commitRun"),
      "lineage.commit.jobs" -> within("store.commitRun").size.toDouble,
      "lineage.bytes_written_per_doc" -> written.map(Files.size).sum.toDouble / resumeIds.size,
      "lineage.files_written" -> written.size.toDouble,
      "lineage.summary.ms" -> ms("lineage.summary"),
      "lineage.summary.input_records" -> summaryInput)
  }
}

package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types._
import graft.recdb.{EventCols, RecCatalog, Similarity}

/** The benchmark program: one workload, one seed, one JVM. It generates the
  * inputs, sets the workload up several times (timed), warms up, measures a
  * closed-loop window, checks every answer, and writes one result object.
  * perfbench/README.md documents the workloads and metrics.
  */
object PerfBench {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, out: Path)

  /** Thrown by an answer check; counts as a failed op and as a wrong answer. */
  final class WrongAnswer(msg: String) extends Exception(msg)

  /** One op; status 0 ok, 1 thrown, 2 wrong. `first`: a read of a (user,
    * statement) pair this JVM had not served before.
    */
  final case class OpRec(start: Long, end: Long, status: Int, first: Boolean = false)

  val Cols: EventCols = EventCols("userid", "itemid", "rating")
  val RatingSchema: StructType = StructType(Seq(StructField("userid", LongType, false),
    StructField("itemid", LongType, false), StructField("rating", DoubleType, false)))
  val K = 10

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m("trace") == "1", Paths.get(m("work")), Paths.get(m("out")))
    val cpus = m("cpus").toInt
    Files.createDirectories(a.work.resolve("tmp"))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // as in the Bench, Verify and Profile sessions
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.extensions", "graft.sql.GraftSqlExtensions")
      .config("spark.local.dir", a.work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val result = try run(spark, a) finally spark.stop()
    Files.writeString(a.out, result)
  }

  def run(spark: SparkSession, a: Args): String = {
    val t0 = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val ctx = new Ctx(spark, a)
    val wl: Workload = a.workload match {
      case "serve_sql" => new ServeSql(ctx)
      case "ingest_refresh" => new IngestRefresh(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    wl.generate(new SplittableRandom(a.seed))
    val genS = since(t0)

    def freshSetup(rep: Int): Double = {
      wl.teardown()
      Similarity.clearStrategyCache()
      spark.catalog.clearCache()
      System.gc()
      val s0 = System.nanoTime()
      wl.setup(rep)
      since(s0)
    }
    val setupTimes = (1 to wl.setupReps).map(freshSetup)
    val cachedMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    val setupHeapMb = heapAfterGcMb()
    val warm = warmUp(wl, minReads = wl.warmReads, maxS = 30)
    // a window in which the hypervisor took more than StealLimit of the CPU
    // is measured once more, and the window with less steal is reported
    // (see README.md, "Host noise")
    val first = window(ctx, wl)
    val windows = if (first.steal <= StealLimit) Seq(first) else {
      if (wl.windowNeedsFreshState) { freshSetup(wl.setupReps + 1); warmUp(wl) }
      Seq(first, window(ctx, wl))
    }
    val plain = windows.minBy(_.steal)

    // the traced window, then one more untraced window, each prepared as
    // the first one was when the workload needs fresh state. The tracing
    // overhead compares the traced window with the untraced windows on
    // either side of it, so the JVM's remaining warm-up cancels out.
    def prepare(rep: Int): Unit =
      if (wl.windowNeedsFreshState) { freshSetup(rep); warmUp(wl) }
    val traced = if (!a.trace) None else {
      val t = new Tracer(spark.sparkContext)
      ctx.tracer = Some(t)
      prepare(wl.setupReps + 2)
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      t.jobs.clear()
      val w = window(ctx, wl)
      wl.replayCatalog(math.min(200, w.latAll.size))
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      val layers = ctx.layerMetrics(t, w.w, wl)
      t.writeSpans(a.work.resolve("spans.jsonl"))
      t.close()
      ctx.tracer = None
      prepare(wl.setupReps + 3)
      Some((w, layers, window(ctx, wl)))
    }
    val heapEndMb = heapAfterGcMb()
    val c0 = System.nanoTime()
    // the checks look at the state the last window left
    val checks = wl.finalChecks(traced.map(_._3).getOrElse(windows.last).w)
    val checkS = since(c0)

    val e2e = Seq(
      "read_qps" -> (plain.qps, "1/s"),
      "read_p50_ms" -> (pct(plain.lat, 0.50), "ms"),
      "setup_s" -> (median(setupTimes), "s"),
      "setup_heap_mb" -> (setupHeapMb, "MB"))
    val metrics = traced match {
      case None => e2e
      case Some((w, layers, after)) => layers ++ Seq(
        "read_p90_ms" -> (if (w.latAll.size >= 100) pct(w.latAll, 0.90) else 0.0, "ms"),
        "read_p99_ms" -> (if (w.latAll.size >= 1000) pct(w.latAll, 0.99) else 0.0, "ms"),
        "read_samples" -> (w.latAll.size.toDouble, "count"),
        "write_events_per_s" -> (w.w.writeEventsPerS, "1/s"),
        "refresh_s" -> (w.w.refreshS, "s"),
        "failed_ops_ratio" ->
          ((w.failed + checks.lostWrites.size).toDouble / math.max(1, w.attempted), "ratio"),
        "catalog.counter_lost" -> (w.counterLost.toDouble, "count"),
        "storage.cached_mb" -> (cachedMb, "MB"),
        "jvm.heap_after_gc_mb" -> (heapEndMb, "MB"),
        "jvm.gc_ms_per_s" -> (w.gcMsPerS, "ms/s"),
        "codegen.compiles_per_op" -> (w.compilesPerRead, "count"),
        "read.first_time_share" -> (w.firstTimeShare, "ratio"),
        "trace.overhead_ratio" -> (pct(w.lat, 0.5) /
          math.max(1e-9, (pct(plain.lat, 0.5) + pct(after.lat, 0.5)) / 2), "ratio"))
    }
    val wrong = (windows ++ traced.toSeq.flatMap(t => Seq(t._1, t._3))).map(_.wrong).sum
    val correct = wrong == 0 && checks.wrong.isEmpty
    (checks.wrong ++ checks.lostWrites ++ ctx.errorSamples)
      .foreach(e => System.err.println(s"perfbench: $e"))
    def obj(kv: Seq[(String, Double)]) =
      kv.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
    val metricJson = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    val info = Seq(
      s""""e2e":${obj(e2e.map { case (k, (v, _)) => k -> v })}""",
      s""""traced_e2e":${obj(traced.toSeq.flatMap { case (w, _, _) => Seq(
        "read_qps" -> w.qps, "read_p50_ms" -> pct(w.lat, 0.5)) })}""",
      s""""after_trace_e2e":${obj(traced.toSeq.flatMap { case (_, _, w) => Seq(
        "read_qps" -> w.qps, "read_p50_ms" -> pct(w.lat, 0.5)) })}""",
      s""""window_read_p50_ms":${num(pct(plain.latAll, 0.5))}""",
      s""""window_read_p90_ms":${num(pct(plain.latAll, 0.9))}""",
      s""""stages_s":${obj(Seq("generate" -> genS, "warmup" -> warm._1, "checks" -> checkS,
        "total" -> since(t0)))}""",
      s""""setup_runs_s":[${setupTimes.map(num).mkString(",")}]""",
      s""""warmup_windows":${warm._2}""",
      s""""window_steal_share":[${windows.map(m => num(m.steal)).mkString(",")}]""",
      s""""window_s":${num(plain.w.seconds)}""",
      s""""slice_p50_ms":[${slices(plain).map(num).mkString(",")}]""", s""""reads":${plain.w.reads.size}""",
      s""""writes":${plain.w.writes.size}""", s""""wrong":$wrong""",
      s""""counter_lost":${plain.counterLost}""",
      s""""compiles_per_read":${num(plain.compilesPerRead)}""",
      s""""first_time_share":${num(plain.firstTimeShare)}""",
      s""""first_time_p50_ms":${num(readP50(plain, first = true))}""",
      s""""repeat_p50_ms":${num(readP50(plain, first = false))}""",
      s""""refresh_s":${num(plain.w.refreshS)}""",
      s""""write_events_per_s":${num(plain.w.writeEventsPerS)}""",
      s""""cpus":${spark.sparkContext.defaultParallelism}""",
      s""""heap_max_mb":${Runtime.getRuntime.maxMemory / 1048576}""",
      s""""jdk":"${System.getProperty("java.version")}"""",
      s""""spark":"${spark.version}"""", s""""seed":${a.seed}""",
      s""""checks":[${(checks.wrong ++ checks.lostWrites)
        .map(e => "\"" + e.replace("\"", "'") + "\"").mkString(",")}]""")
    s"""{"correct":$correct,"attempted":${plain.attempted},""" +
      s""""failed":${plain.failed + checks.lostWrites.size},""" +
      s""""metrics":{$metricJson},"info":{${info.mkString(",")}}}"""
  }

  def readP50(m: Measured, first: Boolean): Double = median(
    m.w.reads.filter(r => r.status == 0 && r.first == first).map(r => (r.end - r.start) / 1e6))

  /** Median read latency in each eighth of the window: shows whether the
    * window still trends (warm-up not finished) or is flat.
    */
  def slices(m: Measured): Seq[Double] = {
    val len = m.w.seconds * 1e9 / 8
    m.w.reads.filter(_.status == 0).groupBy(r => ((r.start - m.w.startNs) / len).toInt)
      .toSeq.sortBy(_._1).map { case (_, rs) => median(rs.map(r => (r.end - r.start) / 1e6)) }
  }

  /** One measured window with its summary figures. `lat` and `qps` cover
    * the reads that started once the writer had finished (all reads when
    * there is no writer); `latAll` every completed read of the window.
    */
  final case class Measured(w: Window, lat: Seq[Double], latAll: Seq[Double], qps: Double,
      attempted: Int,
      failed: Int, wrong: Int, counterLost: Long, gcMsPerS: Double, compilesPerRead: Double,
      steal: Double, firstTimeShare: Double)

  val StealLimit = 0.05

  /** (steal, total) CPU ticks of the host so far, from /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val v = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).take(8).map(_.toLong)
    (v(7), v.sum)
  }

  /** Whole-stage and expression classes compiled so far in this JVM. */
  def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def window(ctx: Ctx, wl: Workload): Measured = {
    val counters0 = wl.queryCounters()
    val bumps0 = ctx.bumps.get
    val gc0 = gcMs()
    val cg0 = compiles()
    val (steal0, total0) = cpuTicks()
    val w = ctx.measure(wl, ctx.args.seconds)
    val (steal1, total1) = cpuTicks()
    val gcMsPerS = (gcMs() - gc0) / w.seconds
    val compiled = compiles() - cg0
    val lost = (ctx.bumps.get - bumps0) - (wl.queryCounters() - counters0)
    def ms(rs: Seq[OpRec]) = rs.map(r => (r.end - r.start) / 1e6).sorted
    val ok = w.reads.filter(_.status == 0)
    val quiet = ok.filter(_.start >= w.readerOnlyFrom)
    val qps = if (quiet.isEmpty) 0.0
      else quiet.size / ((quiet.map(_.end).max - quiet.map(_.start).min) / 1e9)
    Measured(w, ms(quiet), ms(ok), qps, w.reads.size + w.writes.size,
      w.reads.count(_.status != 0) + w.writes.count(_.status != 0),
      w.reads.count(_.status == 2), lost, gcMsPerS,
      compiled.toDouble / math.max(1, w.reads.size),
      (steal1 - steal0).toDouble / math.max(1L, total1 - total0),
      w.reads.count(_.first).toDouble / math.max(1, w.reads.size))
  }

  // ---- warm-up ----

  /** Untimed warm-up: windows of `wl.warmOps` reads each, until the median
    * read latency of two consecutive windows agrees within 20 % and at
    * least `minReads` reads are done, for at most `maxS` seconds. The first
    * warm-up of a run makes `wl.warmReads` reads: the JIT keeps speeding
    * reads up for that long, and a count of reads, unlike a time, leaves
    * every run at the same point of that curve however fast the host is.
    * A later warm-up, in a JVM that has run a window, stops at agreement.
    * Returns (seconds, windows).
    */
  def warmUp(wl: Workload, minReads: Int = 0, maxS: Double = 6): (Double, Int) = {
    val t0 = System.nanoTime()
    val cursor = wl.ctx.warmCursor
    cursor.compareAndSet(0, wl.warmStart)
    def elapsed = System.nanoTime() - t0
    var prev = -1.0; var n = 0; var reads = 0; var agreed = false
    while (!(agreed && reads >= minReads) && elapsed < maxS * 1e9) {
      val done = new AtomicInteger()
      val recs = wl.ctx.drive(wl.clients, () => done.get >= wl.warmOps,
        c => { done.incrementAndGet(); cursor.getAndIncrement() }, wl.read)
      val med = median(recs.map(r => (r.end - r.start) / 1e6))
      n += 1
      reads += recs.size
      agreed = n >= 2 && prev > 0 && math.abs(med - prev) <= 0.2 * math.max(med, prev)
      prev = med
    }
    ((System.nanoTime() - t0) / 1e9, n)
  }

  // ---- statistics ----

  def pct(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.size - 1, math.ceil(q * sorted.size).toInt - 1).max(0))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  def heapAfterGcMb(): Double = {
    System.gc(); System.gc()
    val r = Runtime.getRuntime
    (r.totalMemory - r.freeMemory) / 1048576.0
  }

  def gcMs(): Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  // ---- answer checks ----

  /** A top-k answer for one user: k rows, all for `user`, ordered by
    * (score desc, item asc). Rows are (user, item, score).
    */
  def checkTopK(rows: Array[Row], user: Long, k: Int, what: String): Unit = {
    if (rows.length != k)
      throw new WrongAnswer(s"$what: ${rows.length} rows for user $user, expected $k")
    rows.foreach(r => if (r.getLong(0) != user)
      throw new WrongAnswer(s"$what: row for user ${r.getLong(0)}, expected $user"))
    rows.sliding(2).foreach {
      case Array(x, y) =>
        val (sx, sy) = (x.getDouble(2), y.getDouble(2))
        if (sx < sy || (sx == sy && x.getLong(1) >= y.getLong(1)))
          throw new WrongAnswer(s"$what: user $user rows out of (score desc, item) order")
      case _ =>
    }
  }

  /** Two top-k answers agree: same scores within 1e-9 relative, and the
    * same item at every rank whose score is not tied with a neighbour.
    */
  def sameTopK(a: Array[Row], b: Array[Row]): Boolean =
    a.length == b.length && a.indices.forall { i =>
      val (sa, sb) = (a(i).getDouble(2), b(i).getDouble(2))
      val close = math.abs(sa - sb) <= 1e-9 * math.max(1.0, math.abs(sa))
      close && (a(i).getLong(1) == b(i).getLong(1) ||
        a.indices.exists(j => j != i && a(j).getLong(1) == b(i).getLong(1) &&
          math.abs(a(j).getDouble(2) - sb) <= 1e-9 * math.max(1.0, math.abs(sb))))
    }

  /** Whether an executed plan reads a materialized view (directly or
    * through the served-view cache).
    */
  def scansView(p: SparkPlan): Boolean = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      scansView(a.inputPlan)
    case s: org.apache.spark.sql.execution.FileSourceScanExec =>
      s.relation.location.rootPaths.exists(_.getName.contains(".view.v"))
    case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      scansView(m.relation.cachedPlan)
    case other => other.children.exists(scansView) || other.subqueries.exists(scansView)
  }
}

/** The measured window: every read and write op with its timing. The writer,
  * if any, runs from `startNs`; the reads from `readerOnlyFrom` on run alone.
  */
final case class Window(startNs: Long, readerOnlyFrom: Long, seconds: Double,
    reads: Seq[PerfBench.OpRec],
    writes: Seq[PerfBench.OpRec], writeEventsPerS: Double, refreshS: Double)

/** Shared run state: the session, the tracer, op ids, and the closed loop
  * every workload runs.
  */
final class Ctx(val spark: SparkSession, val args: PerfBench.Args) {
  import PerfBench._

  /** Set for the traced run only. */
  @volatile var tracer: Option[Tracer] = None
  val ops = new AtomicLong()
  /** Query-counter bumps the program was asked to make in the window. */
  val bumps = new AtomicLong()
  /** Set by a read of a (user, statement) pair this JVM had not served. */
  val firstRead = new ThreadLocal[Boolean] { override def initialValue() = false }
  /** Wall time of every view materialization, in ms. */
  val viewMs = new ConcurrentLinkedQueue[Double]()
  private val errors = new ConcurrentLinkedQueue[String]()
  val viewHit = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Boolean]()
  @volatile var counting = false
  /** Next input index of the timed windows and of the warm-up. */
  val windowCursor = new AtomicInteger()
  val warmCursor = new AtomicInteger()

  def errorSamples: Seq[String] = errors.asScala.toSeq.take(5)

  def dir(name: String): Path = {
    val d = args.work.resolve(name); Files.createDirectories(d); d
  }

  /** Path of a generated input file. */
  def input(name: String): Path = dir("inputs").resolve(name)

  /** Run `body` as one op of `kind`, traced when tracing is on. */
  def op[T](kind: String)(body: => T): T = {
    val id = ops.incrementAndGet()
    tracer match {
      case Some(t) => t.op(id, kind)(body)
      case None => body
    }
  }

  /** A `materializeView` call: a span when traced, and its time in `viewMs`. */
  def materialize[T](body: => T): T = {
    val t0 = System.nanoTime()
    try span("recommender.materializeView")(body)
    finally viewMs.add((System.nanoTime() - t0) / 1e6)
  }

  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  /** Execute a query the program returned. Untraced this is one collect;
    * traced, optimization, physical planning and execution get a span each.
    */
  def collect(df: DataFrame): Array[Row] = tracer match {
    case None => df.collect()
    case Some(t) =>
      t.span("catalyst.optimize")(df.queryExecution.optimizedPlan)
      val plan = t.span("catalyst.physical")(df.queryExecution.executedPlan)
      viewHit.put(t.currentOp, PerfBench.scansView(plan))
      t.span("spark.exec")(df.collect())
  }

  /** Closed loop: `clients` threads each issue their next op as soon as the
    * previous one returns, until `stop()`. `next(c)` gives client c its
    * next input index.
    */
  def drive(clients: Int, stop: () => Boolean, next: Int => Int,
      read: Int => Unit): Seq[OpRec] = {
    val recs = new ConcurrentLinkedQueue[OpRec]()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        while (!stop()) {
          val idx = next(c)
          firstRead.set(false)
          val t0 = System.nanoTime()
          val status =
            try { read(idx); 0 }
            catch {
              case e: WrongAnswer => errors.add(e.getMessage); 2
              case e: Throwable => errors.add(s"read failed: ${e.toString.take(300)}"); 1
            }
          recs.add(OpRec(t0, System.nanoTime(), status, firstRead.get))
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    recs.asScala.toSeq
  }

  /** The timed window: the workload's clients in a closed loop for
    * `seconds`; with a writer, until `seconds` after the writer has done
    * its fixed work. The end-to-end read figures come from those last
    * `seconds`, which are the same length on every run; the reads beside
    * the writes count in the per-layer figures and the failures. Ops in
    * flight at the end complete and count.
    */
  def measure(wl: Workload, seconds: Int): Window = {
    val start = System.nanoTime()
    val deadline = start + seconds * 1000000000L
    // a later window (the traced run) continues the input sequence
    val from = windowCursor.get
    val cursors = Array.tabulate(wl.clients)(c => new AtomicInteger(from + c))
    counting = true
    val writer = wl.writer()
    val reads = drive(wl.clients,
      () => writer match {
        case None => System.nanoTime() >= deadline
        case Some(wr) => wr.done && System.nanoTime() >= wr.doneAt + seconds * 1000000000L
      },
      c => cursors(c).getAndAdd(wl.clients), wl.read)
    val w = writer.map(_.result()).getOrElse(WriterResult(Nil, 0.0, 0.0))
    windowCursor.set(cursors.map(_.get).max)
    counting = false
    val end = math.max(System.nanoTime(), start + 1)
    Window(start, writer.map(_.doneAt).getOrElse(start), (end - start) / 1e9, reads, w.ops,
      w.eventsPerS, w.refreshS)
  }

  /** Bytes of one event as the user hands it over: three 8-byte fields. */
  val EventBytes = 24.0

  /** Per-layer metrics of the window, from spans and listener records. */
  def layerMetrics(t: Tracer, w: Window, wl: Workload): Seq[(String, (Double, String))] = {
    val spans = t.allSpans.filter(_.start >= w.startNs)
    val self = t.selfTimes
    val (jobs, tasksByJob) = t.jobs.snapshot
    def tasks(js: Seq[JobRec]) = js.flatMap(j => tasksByJob.getOrElse(j.job, Nil))
    val byOp = jobs.groupBy(_.op)
    val readOps = spans.filter(s => s.name == "op" && t.kindOf(s.op) == "read")
    def perRead(f: Seq[JobRec] => Double): Double =
      if (readOps.isEmpty) 0.0
      else readOps.map(s => f(byOp.getOrElse(s.op, Nil))).sum / readOps.size
    val execSpans = spans.filter(_.name == "spark.exec").groupBy(_.op)
    val gaps = readOps.flatMap { s =>
      execSpans.getOrElse(s.op, Nil).headOption.map { e =>
        val ts = tasks(byOp.getOrElse(s.op, Nil)).filter(_.launch >= e.startMs)
        e.ms - Tracer.union(ts.map(x => (x.launch, x.finish)))
      }
    }
    val readTasks = tasks(readOps.flatMap(s => byOp.getOrElse(s.op, Nil)))
    val allTasks = tasks(jobs)
    val skews = allTasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(x => (x.finish - x.launch).toDouble).sorted
      d.last / math.max(1.0, PerfBench.median(d))
    }.toSeq
    def spanMs(name: String) = PerfBench.median(spans.filter(_.name == name).map(_.ms))
    def opsOf(kind: String) = spans.filter(s => s.name == "op" && t.kindOf(s.op) == kind)
    val batches = opsOf("batch"); val rebuilds = opsOf("rebuild")
    def moduleJobs(m: String) = jobs.filter { j =>
      j.module.contains(m) || (j.module.isEmpty && (t.kindOf(j.op) match {
        case "rebuild" => m == "model"
        case "view" => m == "scoring"
        case "batch" => m == "maintainer"
        case "read" => m == "scoring" && !viewHit.getOrDefault(j.op, true)
        case _ => false
      }))
    }
    val scoringOps = opsOf("view").size + readOps.count(s => !viewHit.getOrDefault(s.op, true))
    // the window's view refreshes, else the set-ups' materializations
    val viewTimes = {
      val inWindow = spans.filter(_.name == "recommender.materializeView").map(_.ms)
      if (inWindow.nonEmpty) inWindow else viewMs.asScala.toSeq
    }
    val selfNames = Seq("op", "recommender.call", "sql.call", "maintainer.processBatch",
      "recommender.materializeView", "catalyst.optimize", "catalyst.physical", "spark.exec")
    Seq(
      "catalog.call_ms" -> (spanMs("catalog.replay"), "ms"),
      "recommender.call_ms" -> (spanMs("recommender.call"), "ms"),
      "recommender.view_hit_ratio" -> (if (readOps.isEmpty) 0.0
        else readOps.count(s => viewHit.getOrDefault(s.op, false)).toDouble / readOps.size, "ratio"),
      "sql.call_ms" -> (spanMs("sql.call"), "ms"),
      "catalyst.optimize_ms" -> (spanMs("catalyst.optimize"), "ms"),
      "catalyst.physical_ms" -> (spanMs("catalyst.physical"), "ms"),
      "spark.exec_ms" -> (spanMs("spark.exec"), "ms"),
      "spark.jobs_per_op" -> (perRead(_.size.toDouble), "count"),
      "spark.stages_per_op" -> (perRead(js => tasks(js).map(_.stage).distinct.size.toDouble), "count"),
      "spark.tasks_per_op" -> (perRead(js => tasks(js).size.toDouble), "count"),
      "spark.task_ms_per_op" -> (perRead(js => tasks(js).map(_.runMs).sum.toDouble), "ms"),
      "spark.driver_gap_ms" -> (PerfBench.median(gaps), "ms"),
      "spark.sched_delay_ms" -> (if (readTasks.isEmpty) 0.0
        else readTasks.map(_.schedDelayMs).sum.toDouble / readTasks.size, "ms"),
      "spark.shuffle_bytes_per_op" -> (perRead(js => tasks(js).map(_.shuffleWrite).sum.toDouble), "bytes"),
      "spark.spill_bytes" -> (allTasks.map(_.spill).sum.toDouble, "bytes"),
      "spark.task_skew" -> (PerfBench.median(skews), "ratio"),
      "maintainer.batch_ms" -> (PerfBench.median(batches.map(_.ms)), "ms"),
      "maintainer.jobs_per_batch" -> (if (batches.isEmpty) 0.0
        else batches.map(s => byOp.getOrElse(s.op, Nil).size).sum.toDouble / batches.size, "count"),
      "maintainer.rebuild_ms" -> (PerfBench.median(rebuilds.map(_.ms)), "ms"),
      "maintainer.rebuilds" -> (rebuilds.size.toDouble, "count"),
      "model.task_ms" -> (tasks(moduleJobs("model")).map(_.runMs).sum.toDouble, "ms"),
      "model.shuffle_bytes" -> (tasks(moduleJobs("model")).map(_.shuffleWrite).sum.toDouble, "bytes"),
      "model.rows" -> (wl.modelRows.toDouble, "count"),
      "scoring.view_ms" -> (PerfBench.median(viewTimes), "ms"),
      "scoring.task_ms" -> (if (scoringOps == 0) 0.0
        else tasks(moduleJobs("scoring")).map(_.runMs).sum.toDouble / scoringOps, "ms"),
      "storage.write_amp" -> (if (wl.appendedEvents == 0L) 0.0
        else allTasks.map(_.output).sum.toDouble / (EventBytes * wl.appendedEvents), "ratio")
    ) ++ selfNames.map { n =>
      s"span.$n.self_ms" -> (PerfBench.median(spans.filter(_.name == n).map(s =>
        self.getOrElse(s.id, 0L) / 1e6)), "ms")
    }
  }
}

/** Outcome of the checks after the window: wrong answers make the run
  * incorrect; lost writes count as failed ops.
  */
final case class Checks(wrong: Seq[String], lostWrites: Seq[String] = Nil)

/** A running writer: `done` once its work is finished, `result` joins it. */
final class Writer(work: () => Unit, collect: () => WriterResult) {
  @volatile var doneAt = Long.MaxValue
  private val thread = new Thread(() => { work(); doneAt = System.nanoTime() },
    "perfbench-writer")
  thread.start()
  def done: Boolean = !thread.isAlive
  def result(): WriterResult = { thread.join(); collect() }
}

final case class WriterResult(ops: Seq[PerfBench.OpRec], eventsPerS: Double, refreshS: Double)

/** One workload: its inputs, set-up, read op, optional writer and checks. */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def setupReps: Int
  def clients: Int
  /** Reads per warm-up window. */
  def warmOps: Int
  /** Reads the first warm-up of a run makes at least. */
  def warmReads: Int
  def generate(rng: SplittableRandom): Unit
  def teardown(): Unit
  def setup(rep: Int): Unit
  /** One read for input index `idx`; throws on a failed or wrong answer. */
  def read(idx: Int): Unit
  /** Starts the workload's writer thread, if it has one. */
  def writer(): Option[Writer] = None
  def finalChecks(w: Window): Checks
  /** The workload's recommender catalog, set by `setup`. */
  protected var catalog: RecCatalog = _

  /** Sum of the query counters of every recommender. */
  def queryCounters(): Long = catalog.list().map(_.queryCounter).sum
  def modelRows: Long = catalog.list().map(_.modelRows).sum
  /** Events the window's writer appended. */
  def appendedEvents: Long = 0L
  /** Whether a window leaves state the next window cannot start from. */
  def windowNeedsFreshState: Boolean = false
  /** Index of the input sequence where warm-up reads begin; timed windows
    * start at 0, so warm-up and windows never share an input.
    */
  def warmStart: Int

  private var shadow: RecCatalog = _
  private var shadowKey: (String, String) = _

  /** A copy of the catalog, so the traced run can time the catalog pair a
    * read of (`tag`, `method`) makes (findByTagAndMethod, then put with the
    * counter bumped) without touching the live entries.
    */
  def copyToShadow(catalog: RecCatalog, dir: Path, tag: String, method: String): Unit = {
    shadow = new RecCatalog(dir.resolve("shadow").toString)
    shadowKey = (tag, method)
    catalog.list().foreach(shadow.put)
  }

  /** Replays a read's catalog pair `n` times on the copy, one span each,
    * after the traced window and outside any timed read.
    */
  def replayCatalog(n: Int): Unit = (1 to n).foreach { _ =>
    ctx.span("catalog.replay")(
      shadow.findByTagAndMethod(shadowKey._1, graft.recdb.RecMethod.parse(shadowKey._2))
        .foreach(e => shadow.put(e.copy(queryCounter = e.queryCounter + 1))))
  }

  private val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Int)]()

  /** Records a read of `user` in statement `shape`, and whether this JVM
    * serves that pair for the first time.
    */
  def noteRead(user: Long, shape: Int): Unit = ctx.firstRead.set(seen.add((user, shape)))

  /** Ratings as the program receives them: a CSV file read with the
    * engine's (userid LONG, itemid LONG, rating DOUBLE) schema.
    */
  def loadCsv(path: Path): DataFrame =
    spark.read.schema(PerfBench.RatingSchema).csv(path.toString)
}

package perfbench

import java.nio.file.Path
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.recdb.{IncrementalMaintainer, RecCatalog, Recommender}
import PerfBench.{Cols, K, checkTopK, sameTopK}

/** Point reads through SQL: an itemCosCF recommender with a top-100 view;
  * one client alternates the legacy `RECOMMEND(k)` form and the
  * RECOMMEND ... TO ... ON ... USING clause joined to an items table, for
  * Zipf-skewed users.
  */
final class ServeSql(ctx: Ctx) extends Workload(ctx) {
  val setupReps = 3
  val clients = 1
  val warmOps = 3
  val warmReads = 12
  // All five methods take 21-44 s to set up on 4 cores, and userCosCF
  // reads take over a second: more than a run can hold. One method keeps
  // the SQL layer measured; see README.md.
  val Method = "itemCosCF"
  private var users: Array[Long] = _
  private var ratings: DataFrame = _
  private var genre: Map[Long, String] = _
  private val input = ctx.input("ratings.csv")
  private val itemsPath = ctx.input("items.csv")

  def generate(rng: SplittableRandom): Unit = {
    Inputs.writeCsv(input, Inputs.ratings(rng.split(), users = 1500, items = 100,
      total = 73040, itemSkew = 0.6, minPerUser = 10))
    val g = rng.split()
    genre = (1L to 100L).map(i => i -> s"genre${g.nextInt(12)}").toMap
    Inputs.writeLines(itemsPath, genre.toSeq.sorted.map { case (i, gn) => s"$i,item $i,$gn" })
    // randomized heavy and light users, as rec_workload.c draws them: a
    // few users are asked for often, most rarely
    users = Inputs.zipfSequence(rng.split(), 1500, 1.0, 4000)
  }
  def warmStart: Int = users.length / 2

  def teardown(): Unit = if (catalog != null) {
    Recommender.drop("rec", catalog)
    ratings.unpersist(true)
  }

  def setup(rep: Int): Unit = {
    val d = ctx.dir(s"state$rep")
    catalog = new RecCatalog(d.resolve("catalog").toString)
    spark.conf.set("spark.graft.catalogDir", d.resolve("catalog").toString)
    spark.conf.set("spark.graft.modelsDir", d.resolve("models").toString)
    ratings = loadCsv(input).cache()
    ratings.count()
    ratings.createOrReplaceTempView("ratings")
    spark.read.schema("itemid LONG, title STRING, genre STRING").csv(itemsPath.toString)
      .createOrReplaceTempView("items")
    Recommender.create(spark, "rec", ratings, "ratings", Cols, Method, catalog,
      d.resolve("models").toString)
    ctx.materialize(Recommender.materializeView(
      spark, "rec", ratings, catalog, d.resolve("views").toString, Some(100)))
    copyToShadow(catalog, d, "ratings", Method)
  }

  /** Statements alternate in a fixed order, so every window holds the same
    * share of each shape.
    */
  def statement(idx: Int, u: Long): String =
    if (idx % 2 == 0) s"SELECT userid, itemid, rating FROM rec RECOMMEND($K) userid = $u"
    else s"SELECT r.userid, r.itemid, r.rating, i.genre FROM ratings r, items i " +
      s"RECOMMEND r.itemid TO r.userid ON r.rating USING $Method " +
      s"WHERE r.userid = $u AND r.itemid = i.itemid " +
      s"ORDER BY r.rating DESC, r.itemid LIMIT $K"

  def run(idx: Int, u: Long): Array[Row] = {
    if (ctx.counting) ctx.bumps.incrementAndGet()
    ctx.collect(ctx.span("sql.call")(spark.sql(statement(idx, u))))
  }

  def read(idx: Int): Unit = {
    val u = users(idx)
    // the user id is baked into the generated code, so the first read of a
    // (user, statement) pair compiles afresh
    noteRead(u, idx % 2)
    val rows = ctx.op("read")(run(idx, u))
    checkTopK(rows, u, K, s"sql statement ${idx % 2}")
    if (idx % 2 == 1) rows.foreach { r =>
      if (r.getString(3) != genre(r.getLong(1))) throw new PerfBench.WrongAnswer(
        s"sql join: item ${r.getLong(1)} carries genre ${r.getString(3)}")
    }
  }

  /** Both statement shapes agree with the API's compute path for a sampled
    * user, and the view agrees with it too.
    */
  def finalChecks(w: Window): Checks = {
    val u = users.head
    val expect = ServeChecks.computeTopK(ctx, ratings, "ratings", Method, catalog, u)
    Checks((0 to 1).filterNot(i => sameTopK(run(i, u).map(r =>
        Row(r.getLong(0), r.getLong(1), r.getDouble(2))), expect))
      .map(i => s"sql statement $i user $u differs from the compute path") ++
      ServeChecks.viewAgainstCompute(ctx, ratings, "ratings", Method, catalog, Seq(u)))
  }
}

/** Writes beside reads: a writer feeds pre-built micro-batches through
  * IncrementalMaintainer.processBatch (threshold 0.5) and re-materializes
  * the top-10 view after the rebuild, while a reader asks recommendTopK.
  * Each maintenance op and each read holds `maintenance`, so they
  * interleave but never overlap.
  */
final class IngestRefresh(ctx: Ctx) extends Workload(ctx) {
  val setupReps = 3
  val clients = 1
  val warmOps = 10
  val warmReads = 60
  val Users = 1000
  val Items = 150
  val Total = 24000
  val BatchSize = 1200
  private var users: Array[Long] = _
  private var batches: Seq[DataFrame] = Nil
  private var baseRows = 0L
  private var eventsDir: Path = _
  private var viewsDir: Path = _
  private var appended = 0L
  /** Batches appended when the view was last materialized. */
  private var viewBatches = 0
  private val base = ctx.input("ingest_base.csv")
  /** The program is not safe against reads beside maintenance: a rebuild
    * deletes the view the catalog still names (reads fail with
    * PATH_NOT_FOUND), and a reader's catalog put can overwrite the
    * maintainer's entry. Racing, about 11 % of a window's ops failed, a
    * different number on every run. A fair lock makes the writer and the
    * reader take turns: reads still land between batches and between the
    * rebuild and the view refresh, where they take the compute path.
    */
  private val maintenance = new java.util.concurrent.locks.ReentrantLock(true)
  private def exclusive[T](body: => T): T = {
    maintenance.lock()
    try body finally maintenance.unlock()
  }

  def generate(rng: SplittableRandom): Unit = {
    val rs = Inputs.shuffle(rng.split(), Inputs.ratings(rng.split(), Users, Items,
      Total, itemSkew = 1.0, minPerUser = 4))
    val (b, p) = rs.splitAt(rs.length / 2)
    baseRows = b.length
    Inputs.writeCsv(base, b)
    batches = p.grouped(BatchSize).zipWithIndex.map { case (batch, i) =>
      val f = ctx.input(f"ingest_batch$i%03d.csv")
      Inputs.writeCsv(f, batch)
      loadCsv(f)
    }.toSeq
    // each user of the base once, in seeded order: every read has an answer
    users = Inputs.shuffle(rng.split(), b.map(_.user).distinct)
  }
  def warmStart: Int = users.length / 2

  def teardown(): Unit = if (catalog != null) Recommender.drop("rec", catalog)

  def setup(rep: Int): Unit = {
    val d = ctx.dir(s"state$rep")
    appended = 0L
    viewBatches = 0
    eventsDir = d.resolve("events")
    viewsDir = d.resolve("views")
    catalog = new RecCatalog(d.resolve("catalog").toString)
    loadCsv(base).write.parquet(eventsDir.toString)
    val events = spark.read.parquet(eventsDir.toString)
    Recommender.create(spark, "rec", events, "events", Cols, "itemCosCF", catalog,
      d.resolve("models").toString)
    ctx.materialize(Recommender.materializeView(
      spark, "rec", events, catalog, viewsDir.toString, Some(K)))
    copyToShadow(catalog, d, "events", "itemCosCF")
  }

  def read(idx: Int): Unit = {
    val u = users(idx % users.length)
    noteRead(u, 0)
    val rows = exclusive(ctx.op("read") {
      if (ctx.counting) ctx.bumps.incrementAndGet()
      // a fresh listing, so a fallback to the compute path sees every append
      val events = spark.read.schema(PerfBench.RatingSchema).parquet(eventsDir.toString)
      ctx.collect(ctx.span("recommender.call")(Recommender.recommendTopK(
        spark, events, "events", Cols, "itemCosCF", Some(catalog), u, K)))
    })
    checkTopK(rows, u, K, "recommendTopK")
  }

  /** The writer: pre-built batches in order until one triggers the rebuild,
    * then the view refresh. The pool holds twice the batches the threshold
    * needs, so a lost counter update delays the rebuild instead of
    * skipping it.
    */
  override def writer(): Option[Writer] = {
    val maintainer = new IncrementalMaintainer(catalog, eventsDir.toString)
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[PerfBench.OpRec]()
    val refreshes = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var busyNs = 0L
    val work = () => {
      val start = System.nanoTime()
      val it = batches.iterator
      var done = 0
      while (it.hasNext && refreshes.isEmpty) {
        val df = it.next()
        val t0 = System.nanoTime()
        try {
          val rebuilt = exclusive(ctx.op("batch") {
            val r = ctx.span("maintainer.processBatch")(maintainer.processBatch("rec", df))
            if (r) ctx.tracer.foreach(tr => tr.relabel(tr.currentOp, "rebuild"))
            r
          })
          done += 1
          appended += BatchSize
          recs.add(PerfBench.OpRec(t0, System.nanoTime(), 0))
          if (rebuilt) {
            val v0 = System.nanoTime()
            exclusive(ctx.op("view") {
              if (ctx.counting) ctx.bumps.incrementAndGet()
              ctx.materialize(Recommender.materializeView(spark,
                "rec", spark.read.parquet(eventsDir.toString), catalog, viewsDir.toString,
                Some(K)))
            })
            recs.add(PerfBench.OpRec(v0, System.nanoTime(), 0))
            viewBatches = done
            refreshes.add((System.nanoTime() - t0) / 1e9)
          }
        } catch {
          case e: Throwable =>
            errors.add(e.toString.take(300))
            recs.add(PerfBench.OpRec(t0, System.nanoTime(), 1))
        }
      }
      busyNs = System.nanoTime() - start
    }
    Some(new Writer(work, () => {
      errors.asScala.foreach(e => System.err.println(s"perfbench: write failed: $e"))
      WriterResult(recs.asScala.toSeq, appended / math.max(1e-9, busyNs / 1e9),
        PerfBench.median(refreshes.asScala.toSeq))
    }))
  }

  /** The refreshed view agrees with the compute path over the events it was
    * materialized from. A write is lost when the events store or the
    * catalog's `eventTotal` misses appended events (a concurrent catalog
    * put can overwrite the rebuild's entry), or when the window holds no
    * rebuild and refresh.
    */
  def finalChecks(w: Window): Checks = {
    val asOf = (loadCsv(base) +: batches.take(viewBatches)).reduce(_ union _)
    val e = catalog.get("rec").get
    val stored = spark.read.parquet(eventsDir.toString).count()
    val expect = baseRows + appended
    Checks(
      wrong = ServeChecks.viewAgainstCompute(ctx, asOf, "events", "itemCosCF",
        catalog, users.take(2).toSeq),
      lostWrites = Seq(
        if (stored != expect) Some(s"events store holds $stored rows, expected $expect")
        else None,
        if (e.eventTotal != expect)
          Some(s"catalog eventTotal ${e.eventTotal} != $baseRows initial + $appended appended")
        else None,
        if (w.refreshS <= 0) Some("no rebuild and view refresh in the window") else None
      ).flatten)
  }

  override def appendedEvents: Long = appended
  override def windowNeedsFreshState: Boolean = true
}

/** Answer checks made outside timing against the program's compute path. */
object ServeChecks {
  def computeTopK(ctx: Ctx, events: DataFrame, tag: String, method: String,
      catalog: RecCatalog, u: Long): Array[Row] = {
    import ctx.spark.implicits._
    Recommender.recommend(ctx.spark, events, tag, Cols, method, Some(catalog),
        users = Some(Seq(u).toDF(Cols.user)), serveFromView = false)
      .orderBy(col("score").desc, col(Cols.item)).limit(K)
      .select(col(Cols.user), col(Cols.item), col("score")).collect()
  }

  /** recommendTopK (served from the view) equals the compute path's top-k. */
  def viewAgainstCompute(ctx: Ctx, events: DataFrame, tag: String, method: String,
      catalog: RecCatalog, users: Seq[Long]): Seq[String] =
    users.filterNot { u =>
      val served = Recommender.recommendTopK(ctx.spark, events, tag, Cols, method,
        Some(catalog), u, K).select(col(Cols.user), col(Cols.item), col("score")).collect()
      sameTopK(served, computeTopK(ctx, events, tag, method, catalog, u))
    }.map(u => s"$method user $u: served top-$K differs from the compute path")
}

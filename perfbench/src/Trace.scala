package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded around the benchmark's own calls into the program, plus
  * Spark job/stage/task statistics from a listener on the benchmark's
  * session. Nothing here runs inside the program: op ids reach Spark jobs
  * through a local property the client thread sets, and jobs that do not
  * carry one are attributed by the first `graft.` frame of their call site.
  */
final class Tracer(sc: SparkContext) {
  import Tracer._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val current = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val opOf = new ThreadLocal[Long] { override def initialValue() = -1L }
  private val opKinds = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  val jobs = new JobListener
  sc.addSparkListener(jobs)

  /** Run `body` as op `id` of `kind`: the root span, and the local property
    * that tags every Spark job the body starts.
    */
  def op[T](id: Long, kind: String)(body: => T): T = {
    opKinds.put(id, kind)
    opOf.set(id)
    sc.setLocalProperty(OpProperty, id.toString)
    try span("op")(body)
    finally { sc.setLocalProperty(OpProperty, null); opOf.set(-1L) }
  }

  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = current.get.headOption.getOrElse(0L)
    current.set(id :: current.get)
    val t0 = System.nanoTime(); val w0 = System.currentTimeMillis()
    try body
    finally {
      spans.add(Span(id, parent, opOf.get, name, t0, System.nanoTime(), w0))
      current.set(current.get.tail)
    }
  }

  /** The op the calling thread is running, or -1. */
  def currentOp: Long = opOf.get

  /** Re-label an op once its outcome is known (a batch that rebuilt). */
  def relabel(op: Long, kind: String): Unit = opKinds.put(op, kind)

  def kindOf(op: Long): String = opKinds.getOrDefault(op, "none")

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Self time of every span: its duration minus the union of its
    * children's intervals.
    */
  def selfTimes: Map[Long, Long] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(k =>
        (math.max(k.start, s.start), math.min(k.end, s.end))))
      s.id -> (s.end - s.start - covered)
    }.toMap
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val self = selfTimes
    val w = java.nio.file.Files.newBufferedWriter(path)
    try allSpans.sortBy(_.start).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""self_ns":${self(s.id)}}""")
      w.newLine()
    } finally w.close()
  }

  def close(): Unit = sc.removeSparkListener(jobs)
}

object Tracer {
  val OpProperty = "perfbench.op"

  final case class Span(id: Long, parent: Long, op: Long, name: String,
      start: Long, end: Long, startMs: Long) {
    def ms: Double = (end - start) / 1e6
  }

  /** Length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(t => t._2 > t._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Module of a job, from the first `graft.` frame of its long call site. */
  def moduleOf(details: String): Option[String] =
    Option(details).flatMap(_.linesIterator.find(_.contains("graft."))).map { f =>
      if (f.contains("Similarity") || f.contains("FunkSVD") ||
          f.contains("IncrementalMaintainer.rebuild") ||
          f.contains("Recommender$.create")) "model"
      else if (f.contains("Scoring") || f.contains("materializeView")) "scoring"
      else if (f.contains("IncrementalMaintainer")) "maintainer"
      else "other"
    }
}

final case class TaskRec(stage: Int, launch: Long, finish: Long,
    runMs: Long, schedDelayMs: Long, shuffleWrite: Long, spill: Long, output: Long)

final case class JobRec(job: Int, op: Long, module: Option[String], stages: Seq[Int])

/** Raw job and task records; aggregation happens after the run. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.OpProperty))).map(_.toLong).getOrElse(-1L)
    val module = e.stageInfos.sortBy(_.stageId).lastOption
      .flatMap(s => Tracer.moduleOf(s.details))
    jobs.add(JobRec(e.jobId, op, module, e.stageIds))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo; val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime,
      m.executorRunTime,
      math.max(0L, i.launchTime - stageSubmit.getOrDefault(e.stageId, i.launchTime)),
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.outputMetrics.bytesWritten))
  }

  def clear(): Unit = { jobs.clear(); tasks.clear() }

  /** Jobs keyed by op and tasks keyed by the job that submitted their
    * stage (a stage shared by several jobs counts for the first).
    */
  def snapshot: (Seq[JobRec], Map[Int, Seq[TaskRec]]) = {
    val js = jobs.asScala.toSeq
    val stageJob = mutable.HashMap[Int, Int]()
    js.sortBy(_.job).foreach(j => j.stages.foreach(s => stageJob.getOrElseUpdate(s, j.job)))
    val byJob = tasks.asScala.toSeq.filter(t => stageJob.contains(t.stage))
      .groupBy(t => stageJob(t.stage))
    (js, byJob)
  }
}

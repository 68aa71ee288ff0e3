package cdcbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Micro-batch progress of every streaming query, recorded in timed and
  * traced runs alike (the listener only copies numbers Spark already
  * reports). It listens on the SparkContext's bus, which carries the
  * streaming events of every session, cloned ones included.
  */
final class ProgressLog extends SparkListener {
  import ProgressLog.Batch
  private val batches = new ConcurrentLinkedQueue[Batch]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case q: StreamingQueryListener.QueryProgressEvent =>
      val p = q.progress
      def ms(k: String): Long =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      if (p.numInputRows > 0)
        batches.add(Batch(p.numInputRows, ms("triggerExecution"),
          ms("addBatch")))
    case _ => ()
  }

  def all: Seq[Batch] = batches.asScala.toSeq
}

object ProgressLog {
  final case class Batch(rows: Long, triggerMs: Long, addBatchMs: Long)
}

/** In-memory spans plus the Spark jobs that ran inside them.
  *
  * A span is opened around every call the benchmark makes into an
  * engine layer. Its id is set as a Spark local property on the calling
  * thread, so jobs submitted from that thread (and from threads it
  * creates) carry it; jobs from older pool threads that lack it are
  * attributed to the innermost span open when they started, and jobs
  * outside every span are reported as unattributed.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val nextId = new AtomicInteger()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val spanById = new ConcurrentHashMap[Int, Span]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt)
      jobs.put(e.jobId, new Job(e.jobId, prop, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for {
        jid <- Option(stageJob.get(e.stageId))
        j <- Option(jobs.get(jid))
        m <- Option(e.taskMetrics)
      } j.synchronized {
        j.tasks += 1
        j.execMs += m.executorRunTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.outBytes += m.outputMetrics.bytesWritten
        j.outRecords += m.outputMetrics.recordsWritten
        j.inBytes += m.inputMetrics.bytesRead
      }
  }
  spark.sparkContext.addSparkListener(listener)

  private def now(): Long = System.currentTimeMillis()

  /** Run `body` inside a span. The parent is the span open on this
    * thread (or the one inherited from the thread's creator) unless
    * given explicitly, as for stream threads created before any span.
    */
  def span[T](name: String, op: Int = -1, parent: Option[Int] = None)
             (body: Span => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Prop)
    val p = parent.getOrElse(Option(outer).map(_.toInt).getOrElse(-1))
    val s = new Span(nextId.incrementAndGet(), name, p, op, now())
    spans.add(s)
    spanById.put(s.id, s)
    sc.setLocalProperty(Prop, s.id.toString)
    try body(s)
    finally {
      s.end = now()
      sc.setLocalProperty(Prop, outer)
    }
  }

  /** The innermost span open on this thread, if any. */
  def current(): Option[Span] =
    Option(spark.sparkContext.getLocalProperty(Prop))
      .flatMap(id => Option(spanById.get(id.toInt)))

  /** Per-name totals over the spans that started inside [from, to]. */
  def report(from: Long, to: Long): Report = {
    org.apache.spark.CdcBenchBridge.awaitListeners(spark.sparkContext)
    val ss = spans.asScala.toSeq.filter(s => s.end >= 0 && s.start >= from &&
      s.start <= to)
    val byId = ss.map(s => s.id -> s).toMap
    val children = ss.groupBy(_.parent)
    val js = jobs.values.asScala.toSeq.filter(j => j.end >= 0 &&
      j.start >= from && j.start <= to)
    // Owner span of each job: its property when it names a live span,
    // else the innermost span open at the job's start.
    def owner(j: Job): Option[Span] =
      j.prop.flatMap(byId.get).orElse(
        ss.filter(s => s.start <= j.start && j.start <= s.end)
          .sortBy(s => (s.start, s.id)).lastOption)
    val owned = js.groupBy(owner)
    val self = mutable.Map.empty[Int, Double]
    val gap = mutable.Map.empty[Int, Double]
    ss.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      val selfIv = subtract(Seq((s.start, s.end)), kids)
      val jobIv = owned.getOrElse(Some(s), Nil).map(j => (j.start, j.end))
      val jobsInSelf = length(intersect(union(jobIv), selfIv))
      self(s.id) = length(selfIv).toDouble
      gap(s.id) = length(selfIv).toDouble - jobsInSelf
    }
    val byName = ss.groupBy(_.name).map { case (n, group) =>
      val gj = group.flatMap(s => owned.getOrElse(Some(s), Nil))
      val counters = group.flatMap(_.counters.asScala.toSeq)
        .groupMapReduce(_._1)(_._2)(_ + _)
      n -> Agg(group.size, group.map(s => (s.end - s.start).toDouble).sum,
        group.map(s => self(s.id)).sum, group.map(s => gap(s.id)).sum,
        gj.size, gj.map(_.tasks).sum, gj.map(_.execMs.toDouble).sum,
        gj.map(_.shuffleWrite.toDouble).sum, gj.map(_.outBytes.toDouble).sum,
        gj.map(_.outRecords.toDouble).sum, gj.map(_.inBytes.toDouble).sum,
        counters)
    }
    val unattributed = owned.getOrElse(None, Nil).map(j => (j.start, j.end))
    val top = ss.filter(s => !byId.contains(s.parent)).map(s => (s.start, s.end))
    val window = math.max(1L, to - from).toDouble
    Report(byName, js.size, js.map(_.tasks).sum, js.map(_.execMs.toDouble).sum,
      gap.values.sum, length(union(unattributed)).toDouble,
      length(intersect(union(top), Seq((from, to)))) / window, ss, self.toMap)
  }
}

object Tracer {
  val Prop = "cdcbench.span"

  final class Span(val id: Int, val name: String, val parent: Int,
                   val op: Int, val start: Long) {
    @volatile var end: Long = -1L
    val counters = new ConcurrentHashMap[String, Double]()
    def add(k: String, v: Double): Unit = counters.merge(k, v, _ + _)
  }

  final class Job(val id: Int, val prop: Option[Int], val start: Long) {
    @volatile var end: Long = -1L
    var tasks = 0L
    var execMs = 0L
    var shuffleWrite = 0L
    var outBytes = 0L
    var outRecords = 0L
    var inBytes = 0L
  }

  /** Per-span-name totals of a report. */
  final case class Agg(calls: Int, wallMs: Double, selfMs: Double,
                       gapMs: Double, jobs: Int, tasks: Long, execMs: Double,
                       shuffleWrite: Double, outBytes: Double,
                       outRecords: Double, inBytes: Double,
                       counters: Map[String, Double])

  final case class Report(byName: Map[String, Agg], jobs: Int, tasks: Long,
                          execMs: Double, driverGapMs: Double,
                          unattributedMs: Double, attributedShare: Double,
                          spans: Seq[Span], selfMs: Map[Int, Double])

  type Iv = (Long, Long)

  def union(xs: Seq[Iv]): Seq[Iv] =
    xs.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[Iv]) {
      case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  def length(xs: Seq[Iv]): Long = union(xs).map(x => x._2 - x._1).sum

  def intersect(xs: Seq[Iv], ys: Seq[Iv]): Seq[Iv] =
    for {
      (a, b) <- union(xs)
      (c, d) <- union(ys)
      lo = math.max(a, c)
      hi = math.min(b, d)
      if hi > lo
    } yield (lo, hi)

  def subtract(xs: Seq[Iv], ys: Seq[Iv]): Seq[Iv] = {
    val cut = union(ys)
    union(xs).flatMap { case (a, b) =>
      val (last, out) = cut.foldLeft((a, List.empty[Iv])) {
        case ((lo, acc), (c, d)) =>
          if (d <= lo || c >= b) (lo, acc)
          else (math.max(lo, d), if (c > lo) (lo, c) :: acc else acc)
      }
      (if (last < b) (last, b) :: out else out).reverse
    }
  }
}

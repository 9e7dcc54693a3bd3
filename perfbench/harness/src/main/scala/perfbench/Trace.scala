package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call into a layer. All times are epoch milliseconds on one
  * clock: an epoch origin taken once plus `nanoTime` offsets, the same
  * epoch scale Spark stamps its job events with.
  */
final case class Span(id: Int, name: String, parent: Int, startMs: Double, endMs: Double) {
  def layer: String = name.takeWhile(_ != '.')
  def durS: Double = (endMs - startMs) / 1000.0
}

/** Per-job counters, attributed to the span that was open on the
  * submitting thread when the job was submitted (carried as a local property) and to
  * the job's call site (`callSite.short`, e.g. `parquet at
  * SingerPipeline.scala:452`).
  */
final class JobStat(val span: Int, val callSite: String, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var bytesRead = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Spark-side counters: a SparkListener the benchmark registers itself. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobStat]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  @volatile private var sentinel = new CountDownLatch(1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    val site = props.flatMap(p => Option(p.getProperty("callSite.short")))
      .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name))
      .getOrElse("?")
    jobs.put(e.jobId, new JobStat(span, site, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endMs = e.time
      if (j.span == Tracer.SentinelSpan) sentinel.countDown()
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    job(e.stageInfo.stageId).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    job(e.stageId).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.cpuNs += m.executorCpuTime
        j.bytesRead += m.inputMetrics.bytesRead
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  private def job(stageId: Int): Option[JobStat] =
    Option(stageJob.get(stageId)).flatMap(id => Option(jobs.get(id)))

  /** Wait until every event posted before now has been handled: run one
    * marker job and wait for its end event, which the bus delivers after
    * all earlier events.
    */
  def drain(sc: SparkContext): Unit = {
    sentinel = new CountDownLatch(1)
    val prev = sc.getLocalProperty(Tracer.SpanProperty)
    sc.setLocalProperty(Tracer.SpanProperty, Tracer.SentinelSpan.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.SpanProperty, prev)
    require(sentinel.await(60, TimeUnit.SECONDS), "listener bus did not drain")
  }

  def real: Seq[JobStat] = jobs.values.asScala.toSeq.filter(_.span != Tracer.SentinelSpan)
}

/** Micro-batch progress: a StreamingQueryListener the benchmark registers. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Span recorder. Until [[Tracer.attach]] (never, with tracing off) `span`
  * only runs its body; after it, spans stay in memory and the listeners
  * count the Spark work under them.
  */
final class Tracer(val on: Boolean) {
  private val originEpochMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  private var spark: Option[SparkSession] = None
  val jobs = new JobListener
  val stream = new ProgressListener

  def nowMs: Double = originEpochMs + (System.nanoTime() - originNs) / 1e6

  /** Start recording spans and counting the Spark work of `s` under them
    * (tracing on only).
    */
  def attach(s: SparkSession): Unit = if (on) {
    spark = Some(s)
    s.sparkContext.addSparkListener(jobs)
    s.streams.addListener(stream)
  }

  /** Stop recording: the listeners are drained and removed; spans and
    * counters recorded so far stay.
    */
  def detach(): Unit = spark.foreach { s =>
    jobs.drain(s.sparkContext)
    s.sparkContext.removeSparkListener(jobs)
    s.streams.removeListener(stream)
    spark = None
  }

  def span[T](name: String)(body: => T): T =
    if (spark.isEmpty) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      val sc = spark.map(_.sparkContext)
      open = id :: open
      sc.foreach(_.setLocalProperty(Tracer.SpanProperty, id.toString))
      val start = nowMs
      try body
      finally {
        recorded += Span(id, name, parent, start, nowMs)
        open = open.tail
        sc.foreach(_.setLocalProperty(Tracer.SpanProperty, open.headOption.map(_.toString).orNull))
      }
    }

  /** Record a span timed outside `span` (tracing on only). */
  def add(name: String, startMs: Double, endMs: Double): Unit = if (on) {
    recorded += Span(nextId, name, open.headOption.getOrElse(-1), startMs, endMs)
    nextId += 1
  }

  def spans: Seq[Span] = recorded.toSeq

  /** Ids of every span named `name` and of all spans under them. */
  def under(name: String): Set[Int] = {
    val roots = recorded.filter(_.name == name).map(_.id).toSet
    val children = recorded.groupBy(_.parent)
    def walk(ids: Set[Int]): Set[Int] =
      if (ids.isEmpty) ids
      else ids ++ walk(ids.flatMap(i => children.getOrElse(i, Nil).map(_.id)))
    walk(roots)
  }

  def jobsUnder(name: String): Seq[JobStat] = {
    val ids = under(name)
    jobs.real.filter(j => ids(j.span))
  }

  def seconds(name: String): Double = recorded.filter(_.name == name).map(_.durS).sum

  /** A layer's self time: its spans' durations minus the parts covered by
    * their child spans.
    */
  def selfSeconds: Map[String, Double] = {
    val children = recorded.groupBy(_.parent)
    recorded.toSeq.map { s =>
      val covered = children.getOrElse(s.id, Nil).map(_.durS).sum
      s.layer -> (s.durS - covered)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Spans as JSON lines, written once at the end of the run. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = recorded.sortBy(_.id).map { s =>
      Serialization.write(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))(DefaultFormats)
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
  val SentinelSpan: Int = -2

  /** Wall time of the part of [start, end] covered by no job. */
  def uncovered(startMs: Double, endMs: Double, jobs: Seq[JobStat]): Double = {
    val iv = jobs.map(j => (j.startMs.toDouble max startMs, j.endMs.toDouble min endMs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = a; curE = b
      } else curE = curE max b
    }
    if (!curS.isNaN) covered += curE - curS
    ((endMs - startMs) - covered) / 1000.0
  }
}

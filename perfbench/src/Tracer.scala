package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spans around the harness's calls into the engine, plus a listener that
  * charges every Spark job to the span open when it was submitted.
  *
  * The open span's id rides in a SparkContext local property, so a job
  * is attributed exactly even when a streaming query runs it on its own
  * thread (local properties are inherited by threads started inside the
  * span). Each job also gets the layer its call site names: the package
  * of the innermost `graft.` frame that invoked the Spark action. Spans
  * and jobs stay in memory; [[Tracer.toJson]] writes them out once. */
final class Tracer(sc: SparkContext) {
  import Tracer._

  final class Span(val id: Int, val parent: Int, val name: String,
      val round: Int, val tags: Map[String, String]) {
    val start: Long = System.currentTimeMillis()
    var end: Long = -1L
    def ms: Double = (end - start).toDouble
  }

  final class Job(val id: Int, val span: Int, val start: Long,
      val site: String, val siteLayer: Option[String], val execution: Option[String]) {
    @volatile var end: Long = -1L
    var tasks = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var gcMs = 0L
    /** The call site's layer. Most SQL jobs are submitted from Spark's
      * query-stage thread pool, whose stack holds no caller frame; those
      * take the call site recorded when their SQL execution started. */
    def layer: Option[String] =
      siteLayer.orElse(execution.flatMap(x => Option(executionLayer.get(x))))
  }

  private val executionLayer = new ConcurrentHashMap[String, String]()

  val spans = ArrayBuffer.empty[Span]
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private var open = List.empty[Span]
  private var on = false
  def tracing: Boolean = on
  private var round = -1

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val span = prop(SpanProp).map(_.toInt).getOrElse(NoSpan)
      // the result stage carries the job's call site
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
      jobs.put(e.jobId, new Job(e.jobId, span, e.time,
        site.linesIterator.take(3).mkString(" | "), layerOf(site),
        prop("spark.sql.execution.id")))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        layerOf(x.details).foreach(executionLayer.put(x.executionId.toString, _))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
      for (job <- j; m <- Option(e.taskMetrics)) job.synchronized {
        job.tasks += 1
        job.inputBytes += m.inputMetrics.bytesRead
        job.outputBytes += m.outputMetrics.bytesWritten
        job.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        job.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        job.gcMs += m.jvmGCTime
      }
    }
  }

  /** Trace round `r` of the workload: attach the listener until [[stop]]. */
  def start(r: Int): Unit = {
    round = r
    sc.addSparkListener(listener)
    on = true
  }

  /** Detach after every event of the round has been delivered: a sentinel
    * job is posted after all of them, so seeing its end drains the bus. */
  def stop(): Unit = if (on) {
    sc.setLocalProperty(SpanProp, Sentinel.toString)
    val sentinel = sc.parallelize(Seq(1), 1).map(identity).collect()
    require(sentinel.sameElements(Seq(1)))
    sc.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!jobs.values.asScala.exists(j => j.span == Sentinel && j.end >= 0) &&
        System.nanoTime() < deadline) Thread.sleep(5)
    jobs.values.removeIf(_.span == Sentinel)
    sc.removeSparkListener(listener)
    on = false
  }

  /** Run `body` inside a span (a plain call when the round is untraced). */
  def span[T](name: String, tags: Map[String, String] = Map.empty)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.size, open.headOption.map(_.id).getOrElse(NoSpan),
        name, round, tags)
      spans += s
      open = s :: open
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.end = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Jobs charged to `s` or to any span nested in it. */
  def jobsUnder(s: Span): Seq[Job] = {
    val ids = subtree(s).map(_.id).toSet
    jobs.values.asScala.filter(j => ids(j.span)).toSeq.sortBy(_.id)
  }

  private def subtree(s: Span): Seq[Span] =
    s +: spans.filter(_.parent == s.id).flatMap(subtree).toSeq

  /** Span wall time not covered by any of its jobs. */
  def driverMs(s: Span): Double = {
    val iv = jobsUnder(s).map(j => (math.max(j.start, s.start), math.min(j.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = s.start
    iv.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    (s.end - s.start - covered).toDouble
  }

  def toJson: java.util.Map[String, AnyRef] = {
    val out = new java.util.LinkedHashMap[String, AnyRef]()
    out.put("spans", spans.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "round" -> s.round,
        "start_ms" -> s.start, "end_ms" -> s.end, "tags" -> s.tags.asJava).asJava
    }.asJava)
    out.put("jobs", jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      Map("id" -> j.id, "span" -> j.span, "site" -> j.site, "layer" -> j.layer.getOrElse("-"),
        "start_ms" -> j.start, "end_ms" -> j.end, "tasks" -> j.tasks,
        "input_bytes" -> j.inputBytes, "output_bytes" -> j.outputBytes,
        "shuffle_bytes" -> j.shuffleBytes, "spill_bytes" -> j.spillBytes,
        "gc_ms" -> j.gcMs).asJava
    }.asJava)
    out
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val NoSpan: Int = -1
  private val Sentinel = -2

  private val Library = Seq("org.apache.spark.", "scala.", "java.", "jdk.", "sun.")

  /** Layer named by a call site: the engine package of its innermost frame
    * outside Spark and the Java/Scala libraries (`graft.ext` is the TxTable
    * layer), or None when no such frame is in the engine, e.g. when the
    * harness itself invoked the action. */
  def layerOf(callSite: String): Option[String] =
    callSite.linesIterator.map(_.trim).find(f => f.nonEmpty && !Library.exists(f.startsWith))
      .filter(_.startsWith("graft."))
      .map(_.split('.')(1))
      .map {
        case "ext" => "txtable"
        case p if p.head.isLower => p
        case _ => "core"
      }
}

package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Wall clock in fractional epoch milliseconds: nanoTime resolution,
  * anchored to the epoch so driver spans line up with the millisecond
  * timestamps Spark puts on its own events. */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def nowMs: Double = (baseEpochNs + (System.nanoTime() - baseNano)) / 1e6
}

/** One node of the trace tree. `link` names a parent that is only known
  * later (a micro-batch's jobs start before its progress event arrives). */
final class Span(val id: Long, var parent: Long, val kind: String, val name: String,
    val startMs: Double, @volatile var endMs: Double, val link: String = "") {
  val attrs = mutable.LinkedHashMap.empty[String, Double]
  def durMs: Double = math.max(0.0, endMs - startMs)
}

/** The benchmark's tracer. Off by default: `span` then only runs its
  * body. When on, driver-thread spans (workload, pass, query, phase) are
  * recorded here, the current span id rides on the SparkContext local
  * property [[Tracer.SpanKey]], and the listeners below hang every job,
  * stage and micro-batch off the span that launched it. Spans stay in
  * memory until [[write]]. */
final class Tracer(spark: SparkSession) {
  import Tracer._
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(1)
  private val stack = mutable.Stack.empty[Long]
  val spans = new ConcurrentLinkedQueue[Span]()
  /** micro-batch link ("<runId>/<batchId>") -> its addBatch span id */
  val links = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  @volatile var on = false
  private val jobs = new JobListener(this)
  private val streams = new ProgressListener(this)

  def newSpan(parent: Long, kind: String, name: String, start: Double, end: Double,
      link: String = ""): Span = {
    val s = new Span(ids.getAndIncrement(), parent, kind, name, start, end, link)
    spans.add(s)
    s
  }

  def current: Long = if (stack.isEmpty) 0L else stack.top

  /** Open a span that stays current until [[close]] (the workload root). */
  def open(kind: String, name: String): Span = {
    val s = newSpan(current, kind, name, Clock.nowMs, 0.0)
    stack.push(s.id)
    s
  }

  def close(s: Span): Unit = {
    s.endMs = Clock.nowMs
    stack.pop()
  }

  def span[T](kind: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val s = newSpan(current, kind, name, Clock.nowMs, 0.0)
      val prev = sc.getLocalProperty(SpanKey)
      stack.push(s.id)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endMs = Clock.nowMs
        stack.pop()
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  def start(): Unit = if (!on) {
    drain()
    sc.addSparkListener(jobs)
    spark.streams.addListener(streams)
    on = true
  }

  def stop(): Unit = if (on) {
    drain()
    sc.removeSparkListener(jobs)
    spark.streams.removeListener(streams)
    on = false
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(30000L))
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Resolve late links, then index children by parent. */
  def tree(): Map[Long, Seq[Span]] = {
    all.foreach { s =>
      if (s.parent == 0L && s.link.nonEmpty)
        Option(links.get(s.link)).foreach(p => s.parent = p.longValue)
    }
    all.groupBy(_.parent)
  }

  /** Write every span with its self time: its duration minus the part
    * of its interval that its children cover. */
  def write(path: java.nio.file.Path, header: String): Unit = {
    val kids = tree()
    val sb = new StringBuilder
    sb.append("{").append(header).append(",\"spans\":[\n")
    all.sortBy(_.id).zipWithIndex.foreach { case (s, i) =>
      val self = s.durMs - covered(s, kids.getOrElse(s.id, Nil))
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""")
        .append(s""""name":"${Json.esc(s.name)}","start_ms":${Json.num(s.startMs)},""")
        .append(s""""dur_ms":${Json.num(s.durMs)},"self_ms":${Json.num(math.max(0.0, self))}""")
      s.attrs.foreach { case (k, v) => sb.append(s""","$k":${Json.num(v)}""") }
      sb.append("}")
    }
    sb.append("\n]}\n")
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }

  private def covered(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  // set by Spark's micro-batch engine on the stream execution thread
  val QueryIdKey = "sql.streaming.queryId"
  val BatchIdKey = "streaming.sql.batchId"
  /** The progress phases of one trigger, in the order the engine runs them. */
  val ProgressPhases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")
}

/** Jobs and stages, attributed through the launching thread's local
  * properties; task metrics are summed onto their stage span. */
final class JobListener(tr: Tracer) extends SparkListener {
  import Tracer._
  private val jobSpans = mutable.HashMap.empty[Int, Span]
  private val stageToJob = mutable.HashMap.empty[Int, Span]
  private val stageSpans = mutable.HashMap.empty[(Int, Int), Span]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val s = prop(QueryIdKey) match {
      case Some(q) =>
        tr.newSpan(0L, "job", s"job ${e.jobId}", e.time.toDouble, 0.0,
          link = s"$q/${prop(BatchIdKey).getOrElse("")}")
      case None =>
        tr.newSpan(prop(SpanKey).map(_.toLong).getOrElse(0L), "job", s"job ${e.jobId}",
          e.time.toDouble, 0.0)
    }
    jobSpans(e.jobId) = s
    e.stageIds.foreach(id => if (!stageToJob.contains(id)) stageToJob(id) = s)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobSpans.remove(e.jobId).foreach(_.endMs = e.time.toDouble)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    val parent = stageToJob.get(i.stageId).map(_.id).getOrElse(0L)
    val s = tr.newSpan(parent, "stage", s"stage ${i.stageId}.${i.attemptNumber()} ${i.name}",
      i.submissionTime.map(_.toDouble).getOrElse(Clock.nowMs), 0.0)
    Seq("tasks", "task_ms", "cpu_ms", "gc_ms", "shuffle_read_b", "shuffle_write_b",
      "spill_b").foreach(s.attrs(_) = 0.0)
    stageSpans((i.stageId, i.attemptNumber())) = s
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stageSpans.remove((i.stageId, i.attemptNumber())).foreach { s =>
      s.endMs = i.completionTime.map(_.toDouble).getOrElse(Clock.nowMs)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (s <- stageSpans.get((e.stageId, e.stageAttemptId)); m <- Option(e.taskMetrics)) {
      val a = s.attrs
      a("tasks") += 1
      a("task_ms") += m.executorRunTime
      a("cpu_ms") += m.executorCpuTime / 1e6
      a("gc_ms") += m.jvmGCTime
      a("shuffle_read_b") += m.shuffleReadMetrics.totalBytesRead
      a("shuffle_write_b") += m.shuffleWriteMetrics.bytesWritten
      a("spill_b") += m.memoryBytesSpilled + m.diskBytesSpilled
    }
}

/** One trigger span per micro-batch progress event, with its progress
  * phases laid end to end under it (the event carries durations only);
  * the batch's jobs are linked to its addBatch phase. The progress
  * numbers the per-layer report needs are kept on the trigger span. */
final class ProgressListener(tr: Tracer) extends StreamingQueryListener {
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue.toDouble }
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val total = d.getOrElse("triggerExecution", 0.0)
    val trig = tr.newSpan(0L, "trigger", s"batch ${p.batchId}", start, start + total,
      link = s"query ${p.id}")
    trig.attrs("input_rows") = p.numInputRows.toDouble
    var t = start
    Tracer.ProgressPhases.foreach { k =>
      d.get(k).foreach { ms =>
        val ph = tr.newSpan(trig.id, "progress", k, t, t + ms)
        if (k == "addBatch") tr.links.put(s"${p.id}/${p.batchId}", ph.id)
        trig.attrs(s"${k}_ms") = ms
        t += ms
      }
    }
    p.sources.headOption.foreach { src =>
      Option(src.metrics).foreach(_.asScala.foreach { case (k, v) =>
        scala.util.Try(v.toDouble).foreach(x => trig.attrs(s"src.$k") = x)
      })
    }
    p.stateOperators.headOption.foreach { st =>
      trig.attrs("state.rows_total") = st.numRowsTotal.toDouble
      trig.attrs("state.memory_b") = st.memoryUsedBytes.toDouble
      trig.attrs("state.commit_ms") = st.commitTimeMs.toDouble
    }
  }
}

package cdcbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Microseconds since the epoch, monotonic within the run: span times and
  * Spark's job times (epoch milliseconds) share this clock.
  */
object Clock {
  private val epochBase = System.currentTimeMillis() * 1000L
  private val nanoBase = System.nanoTime()
  def micros: Long = epochBase + (System.nanoTime() - nanoBase) / 1000L
}

/** One span around a call the benchmark makes into the program. */
final case class Span(id: Long, name: String, parent: Long, run: String,
    start: Long, end: Long, attrs: Map[String, String])

/** The pipeline modules a Spark job is attributed to. */
object Layers {
  val All: Seq[String] =
    Seq("ledger", "stage", "dedup", "evolve", "cow", "mor", "planner", "read", "stream", "other")

  private val EvolveMethods = Seq("evolveSchema", "SchemaSidecar", "schema")

  /** The layer a stack frame's module belongs to, if any. */
  def ofFrame(cls: String, method: String): Option[String] = {
    val owner = cls.takeWhile(_ != '$')
    owner match {
      case "graft.operators.FileLedger" => Some("ledger")
      case "graft.operators.CdcDedup" =>
        Some(if (method.contains("readCdcFiles")) "stage" else "dedup")
      case "graft.operators.SchemaEvolution" | "graft.operators.EvolutionLog" => Some("evolve")
      case "graft.sources.BucketedTableStore" =>
        Some(if (EvolveMethods.exists(method.contains)) "evolve" else "cow")
      case "graft.operators.CdcMerge" => Some("cow")
      case "graft.sources.MorStore" => Some("mor")
      case "graft.operators.MergePlanner" => Some("planner")
      case "graft.streaming.CdcStream" => Some("stream")
      case "graft.pipeline.CdcPipeline" if method.contains("readTable") => Some("read")
      case _ => None
    }
  }

  /** Attribute a job by its call site (a long-form stack, innermost frame
    * first): the first `graft.` frame of a named module decides. Helper
    * modules (parallel-stage runners, append utilities) are transparent.
    * A job with no such frame belongs to the benchmark span it ran
    * under when that span names a layer (a validation read), else to
    * `other`.
    */
  def of(callSite: String, spanName: String): String =
    callSite.linesIterator.flatMap { line =>
      val call = line.trim.stripPrefix("at ").takeWhile(_ != '(')
      val qualified = call.substring(call.lastIndexOf('/') + 1)
      val dot = qualified.lastIndexOf('.')
      if (!qualified.startsWith("graft.") || dot < 0) None
      else ofFrame(qualified.substring(0, dot), qualified.substring(dot + 1))
    }.nextOption().getOrElse(if (All.contains(spanName)) spanName else "other")
}

/** A Spark job as the listener saw it. Times are [[Clock]] microseconds. */
final class JobRec(val id: Int, val start: Long, val layer: String,
    val span: Long, val batch: Long) {
  @volatile var end: Long = -1L
  val taskMs = new AtomicLong()
  val shuffleBytes = new AtomicLong()
}

/** Records spans around the benchmark's calls into the program and, when
  * tracing, every Spark job and streaming progress of the session. Spans
  * stay in memory until [[write]].
  */
final class Tracer(sc: SparkContext, val enabled: Boolean, run: String) {
  import Tracer._

  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var current = 0L

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val execSites = new ConcurrentHashMap[Long, String]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  /** Time spent inside the listener callbacks, in nanoseconds. */
  val listenerNanos = new AtomicLong()

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally listenerNanos.addAndGet(System.nanoTime() - t0)
  }

  private val jobListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => timed(execSites.put(s.executionId, s.details))
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = timed {
      val props = Option(j.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val site = prop("spark.sql.execution.id").flatMap(id => Option(execSites.get(id.toLong)))
        .orElse(j.stageInfos.sortBy(-_.stageId).headOption.map(_.details)).getOrElse("")
      val rec = new JobRec(j.jobId, j.time * 1000L,
        Layers.of(site, prop(SpanKindProp).getOrElse("")),
        prop(SpanProp).map(_.toLong).getOrElse(0L),
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L))
      jobs.put(j.jobId, rec)
      j.stageIds.foreach(s => stageJob.put(s, rec))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = timed {
      Option(jobs.get(j.jobId)).foreach(_.end = j.time * 1000L)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = timed {
      for (rec <- Option(stageJob.get(t.stageId)); m <- Option(t.taskMetrics)) {
        rec.taskMs.addAndGet(m.executorRunTime)
        rec.shuffleBytes.addAndGet(
          m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timed(progress.add(e))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Install the listeners once per session. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    if (enabled) {
      sc.addSparkListener(jobListener)
      spark.streams.addListener(streamListener)
    }

  /** Run `body` inside a span; Spark jobs it starts carry the span id. */
  def span[A](name: String, attrs: => Map[String, String] = Map.empty)(body: => A): (A, Span) = {
    val id = nextId
    nextId += 1
    val parent = current
    val parentKind = if (enabled) sc.getLocalProperty(SpanKindProp) else null
    if (enabled) {
      sc.setLocalProperty(SpanProp, id.toString)
      sc.setLocalProperty(SpanKindProp, name)
    }
    current = id
    val start = Clock.micros
    val out = try body finally {
      current = parent
      if (enabled) {
        sc.setLocalProperty(SpanProp, if (parent == 0L) null else parent.toString)
        sc.setLocalProperty(SpanKindProp, parentKind)
      }
    }
    val s = Span(id, name, parent, run, start, Clock.micros, attrs)
    spanBuf += s
    (out, s)
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + 10000L
    while (jobs.values.asScala.exists(_.end < 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
  }

  /** Spans, streaming progress and jobs as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val lines = spanBuf.map { s =>
      val a = s.attrs.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString(",")
      s"""{"span":${s.id},"name":"${esc(s.name)}","parent":${s.parent},"run":"${esc(s.run)}","start_us":${s.start},"end_us":${s.end},"attrs":{$a}}"""
    } ++ progress.asScala.toSeq.map { e =>
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString(",")
      s"""{"progress":${p.batchId},"run":"${esc(run)}","timestamp":"${p.timestamp}","rows":${p.numInputRows},"duration_ms":{$d}}"""
    } ++ jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      s"""{"job":${j.id},"layer":"${j.layer}","span":${j.span},"batch":${j.batch},"start_us":${j.start},"end_us":${j.end},"task_ms":${j.taskMs.get},"shuffle_bytes":${j.shuffleBytes.get}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanProp = "cdcbench.span"
  val SpanKindProp = "cdcbench.span.kind"
}

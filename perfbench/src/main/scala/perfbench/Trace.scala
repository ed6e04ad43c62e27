package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One clock for every span: epoch microseconds derived from the
  * monotonic clock, so benchmark spans and the listener's epoch-ms
  * timestamps land on the same axis. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
  def ofNs(ns: Long): Long = baseUs + (ns - baseNs) / 1000L
}

/** A closed span. `parent` is 0 for a root. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startUs: Long, endUs: Long, attrs: Map[String, String] = Map.empty)

/** Spans kept in memory and written out once, at the end of a traced
  * run. The benchmark opens spans around its calls into each layer;
  * the listeners below add Spark's jobs, stages and micro-batches as
  * their children. */
final class Tracer(val traceId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)

  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq

  def span[T](name: String, layer: String, parent: Long,
      attrs: Map[String, String] = Map.empty)(body: Long => T): T = {
    val id = newId()
    val start = Clock.nowUs
    try body(id) finally add(Span(id, parent, name, layer, start, Clock.nowUs, attrs))
  }

  /** Self time per layer, in seconds: each span's duration minus the
    * part of its interval that its children cover. */
  def selfSecondsByLayer: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
          .filter { case (a, b) => b > a })
        (s.endUs - s.startUs - covered).toDouble / 1e6
      }.sum
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val self = selfSecondsByLayer.toSeq.sorted
      .map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
    val lines = all.sortBy(s => (s.startUs, s.id)).map { s =>
      val attrs = s.attrs.toSeq.sorted.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ", ", "}")
      s"""{"trace": ${q(traceId)}, "id": ${s.id}, "parent": ${s.parent}, """ +
        s""""name": ${q(s.name)}, "layer": ${q(s.layer)}, "start_us": ${s.startUs}, """ +
        s""""end_us": ${s.endUs}, "attrs": $attrs}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path,
      s"""{"trace": ${q(traceId)}, "self_s_by_layer": $self, "spans": [\n""" +
        lines.mkString(",\n") + "\n]}\n")
  }
}

/** Counters for the executed-stage layer, kept per phase of the call
  * that submitted the job (construct, execute, verify, stream, ...). */
final class PhaseCounters {
  val jobs, stages, smallStages, tasks, runMs, cpuNs, waitMs,
      inputBytes, shuffleWriteBytes, shuffleReadBytes, spillBytes = new LongAdder
}

/** Spark's jobs and stages become spans under the benchmark span that
  * was current, through local properties the benchmark sets before
  * each call; their task metrics fill [[PhaseCounters]]. Attached only
  * in a traced run. */
final class LayerListener(tracer: Tracer) extends SparkListener {
  import LayerListener._

  private case class JobInfo(spanId: Long, parent: Long, phase: String, startUs: Long)
  private val jobs = new ConcurrentHashMap[Int, JobInfo]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitMs = new ConcurrentHashMap[(Int, Int), Long]()
  private val counters = new ConcurrentHashMap[String, PhaseCounters]()
  @volatile private var drainJob: Option[(String, CountDownLatch)] = None

  def phase(p: String): PhaseCounters = counters.computeIfAbsent(p, _ => new PhaseCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val batch = prop(StreamBatchProp)
    val ph = prop(PhaseProp).orElse(batch.map(_ => "stream")).getOrElse("other")
    val parent = prop(SpanProp).map(_.toLong)
      .orElse(batch.map(b => batchSpanId(b.toLong))).getOrElse(0L)
    jobs.put(e.jobId, JobInfo(tracer.newId(), parent, ph, e.time * 1000L))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    phase(ph).jobs.increment()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach { j =>
      tracer.add(Span(j.spanId, j.parent, s"job ${e.jobId}", "spark_job",
        j.startUs, e.time * 1000L, Map("phase" -> j.phase)))
      drainJob.foreach { case (tag, latch) => if (j.phase == tag) latch.countDown() }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    stageSubmitMs.put((i.stageId, i.attemptNumber()),
      i.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val job = Option(jobs.get(stageJob.getOrDefault(i.stageId, -1)))
    val c = phase(job.map(_.phase).getOrElse("other"))
    c.stages.increment()
    if (i.numTasks <= 2) c.smallStages.increment()
    val startMs = i.submissionTime.getOrElse(0L)
    val endMs = i.completionTime.getOrElse(startMs)
    tracer.add(Span(tracer.newId(), job.map(_.spanId).getOrElse(0L),
      s"stage ${i.stageId}", "spark_stage", startMs * 1000L, endMs * 1000L,
      Map("tasks" -> i.numTasks.toString)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = Option(jobs.get(stageJob.getOrDefault(e.stageId, -1)))
    val c = phase(job.map(_.phase).getOrElse("other"))
    c.tasks.increment()
    Option(e.taskMetrics).foreach { m =>
      c.runMs.add(m.executorRunTime)
      c.cpuNs.add(m.executorCpuTime)
      c.inputBytes.add(m.inputMetrics.bytesRead)
      c.shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
      c.spillBytes.add(m.diskBytesSpilled)
    }
    Option(stageSubmitMs.get((e.stageId, e.stageAttemptId))).foreach { sub =>
      c.waitMs.add(math.max(0L, e.taskInfo.launchTime - sub))
    }
  }

  /** Blocks until every event posted before this call has been seen:
    * the listener bus delivers in order, so once a marker job's end
    * arrives everything before it has been handled. */
  def drain(sc: SparkContext): Unit = {
    val latch = new CountDownLatch(1)
    drainJob = Some(("drain", latch))
    sc.setLocalProperty(PhaseProp, "drain")
    sc.setLocalProperty(SpanProp, null)
    try {
      sc.parallelize(Seq(1), 1).count()
      latch.await(30, TimeUnit.SECONDS)
    } finally {
      sc.setLocalProperty(PhaseProp, null)
      drainJob = None
    }
  }
}

object LayerListener {
  val PhaseProp = "perfbench.phase"
  val SpanProp = "perfbench.span"
  /** Set by Spark on every job of a streaming micro-batch. */
  val StreamBatchProp = "streaming.sql.batchId"
  /** Micro-batch spans get ids outside the tracer's counter so jobs can
    * name their batch before the batch's progress event arrives. */
  def batchSpanId(batchId: Long): Long = (1L << 40) + batchId
}

/** Micro-batches become spans from the progress records Structured
  * Streaming emits at the end of each trigger. */
final class BatchListener(tracer: Tracer, parent: () => Long) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    // idle triggers repeat the last batch id with no input: not a batch
    if (p.numInputRows == 0) return
    val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
    val durMs = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    tracer.add(Span(LayerListener.batchSpanId(p.batchId), parent(),
      s"batch ${p.batchId}", "streaming", startUs, startUs + durMs * 1000L,
      Map("rows" -> p.numInputRows.toString)))
  }
}

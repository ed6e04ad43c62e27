package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{SparkEntry, Tables}
import graft.queries._
import graft.streaming.StreamingIngestPipeline
import graft.streaming.StreamingIngestPipeline.IngestDoc

sealed trait Workload {
  def name: String
  def run(r: Run): Result

  /** One query through the noop sink after each session start, so JIT,
    * codegen and session start-up are paid in set-up. */
  def warmUp(spark: SparkSession, dir: String): Unit =
    SparkEntry.queries(Workload.WarmUpQuery)(spark, dir)
      .write.format("noop").mode("overwrite").save()

  /** One-off preparation after the last session start, billed to
    * set-up time on top of the repeated session start. */
  def prepare(spark: SparkSession, dir: String): Unit = ()
}

object Workload {
  val WarmUpQuery = "q01_pricing_agg"
  val byName: Map[String, Workload] =
    Seq(NewsExtract, CorpusMining, StreamIngest).map(w => w.name -> w).toMap

  def queryNumber(id: String): Int = id.drop(1).takeWhile(_.isDigit).toInt

  def byNumber(numbers: Seq[Int]): Seq[String] = numbers.map { n =>
    SparkEntry.queries.keys.find(k => queryNumber(k) == n)
      .getOrElse(throw new IllegalStateException(s"no query q$n in SparkEntry.queries"))
  }
}

/** A closed loop over a fixed set of `SparkEntry` queries: one client,
  * each query's call and noop write timed back to back, the order of
  * every pass shuffled by the seed. A run makes `--seconds /
  * NominalPassS` passes (at least one): a fixed amount of work, so a
  * faster engine shows as a shorter run rather than as more passes, and
  * machine noise cannot change how many queries a run samples. Each
  * query's output is fingerprinted once per run, outside the timed
  * region. */
abstract class QueryLoop extends Workload {
  def ids: Seq[String]
  /** Roughly how long one warm pass takes at 4 cores. */
  def NominalPassS: Double

  def run(r: Run): Result = {
    val spark = r.spark
    val dir = r.args.data
    val lat = mutable.ArrayBuffer.empty[Double]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val checked = mutable.Set.empty[String]
    var construct, execute = 0.0
    var retainedRdds, retainedBytes = 0L
    var attempted, failed = 0L
    val gc0 = r.gcTotals
    val passes = math.max(1L, math.round(r.args.seconds / NominalPassS))
    for (pass <- 0L until passes) {
      val order = new Random(r.args.seed * 1000003L + pass).shuffle(ids)
      val times = mutable.Map.empty[String, Double]
      r.within(s"pass $pass", "pass") {
        order.foreach { id =>
          attempted += 1
          val ok = r.within(id, "query") {
            try {
              val (df, c) = r.timedValue("construct", "queries", "construct") {
                SparkEntry.queries(id)(spark, dir)
              }
              val e = r.timed("execute", "operators", "execute") {
                df.write.format("noop").mode("overwrite").save()
              }
              construct += c
              execute += e
              lat += c + e
              times(id) = c + e
              println(f"query $id construct_s=$c%.4f execute_s=$e%.4f")
              r.sampleHeap()
              if (r.tracer.isDefined) {
                val sc = spark.sparkContext
                retainedRdds = math.max(retainedRdds, sc.getPersistentRDDs.size.toLong)
                retainedBytes = math.max(retainedBytes,
                  sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
              }
              checked.contains(id) || {
                checked += id
                r.timedValue("verify", "verify", "verify") {
                  r.verify(id, Fingerprint.of(df))
                }._1
              }
            } catch {
              case NonFatal(ex) =>
                r.log(s"$id failed: $ex")
                false
            }
          }
          if (!ok) failed += 1
        }
      }
      passWalls += times.values.sum
    }
    val (gcMs, gcCount) = {
      val g = r.gcTotals
      (g._1 - gc0._1, g._2 - gc0._2)
    }
    Result(lat.toSeq, "query", Stats.median(passWalls.toSeq), attempted, failed,
      extra = Nil,
      layer = Map(
        "queries.construct_s" -> construct,
        "queries.construct_share" -> construct / math.max(1e-9, construct + execute),
        "operators.execute_s" -> execute,
        "jvm.gc_s" -> gcMs / 1e3,
        "jvm.gc_count" -> gcCount.toDouble,
        "jvm.retained_rdds" -> retainedRdds.toDouble,
        "jvm.retained_bytes" -> retainedBytes.toDouble) ++ Layers.noStream)
  }
}

/** The reference's own news-extraction surface: the query families that
  * port sentinela-py's pipeline (collect, normalize, gazetteer match,
  * disambiguate, aggregate, geo enrich, report). Short queries, most
  * of their time in execution; a fixed every-`Stride`-th cross-section
  * of the 67 keeps one pass inside a run. */
object NewsExtract extends QueryLoop {
  val name = "news_extract"
  val NominalPassS = 10.0
  private val Stride = 9

  /** All 67 queries of the surface; q37 has no oracle (row count only),
    * so there is nothing exact to fingerprint against. */
  lazy val surface: Seq[String] = Seq(
    RelationalQueries.queries, TextQueries.queries, ContextQueries.queries,
    GeoQueries.queries, GeoCliQueries.queries, DisambiguationQueries.queries,
    ReportQueries.queries, ListingQueries.queries, MatchAggQueries.queries,
    PersonNerQueries.queries, ScrapeQueries.queries, PayloadQueries.queries,
    EnrichQueries.queries, PatternQueries.queries, DateParseQueries.queries,
    CollectJobQueries.queries, ExtractJobQueries.queries, ExtractorQueries.queries)
    .flatMap(_.keys).filter(Workload.queryNumber(_) != 37)
    .sortBy(Workload.queryNumber)

  lazy val ids: Seq[String] = surface.zipWithIndex.collect { case (q, i) if i % Stride == 1 => q }
}

/** Iterative trainers: most of their time is plan construction (eager
  * probes, localCheckpoint barriers), and storage a query leaves
  * behind stays for the next one, as in a user's session — the runner
  * never unpersists or collects. The composed curation funnel is
  * walked stage by stage in the traced run ([[Probes.curationStages]]). */
object CorpusMining extends QueryLoop {
  val name = "corpus_mining"
  val NominalPassS = 20.0
  /** Trainers: embedding k-means, k-means IVF, PageRank, PCA power
    * iteration, label propagation, Markov transitions, kNN BFS. Four
    * of them cost about the same, so the median does not jump between
    * far-apart queries as the seeded order moves them. */
  lazy val ids: Seq[String] = Workload.byNumber(Seq(68, 69, 138, 139, 193, 211, 224))
}

/** The ingest path: `StreamingIngestPipeline` fed through a
  * `MemoryStream` by a generator thread on an open-loop schedule
  * (Poisson arrivals at a fixed mean rate well below capacity), the
  * sf documents in `doc_id` order. Every document's latency runs from
  * its scheduled arrival to the commit of its micro-batch. */
object StreamIngest extends Workload {
  val name = "stream_ingest"
  /** Mean arrivals per second; a run feeds `RatePerS * seconds` docs.
    * A micro-batch costs ~3 s plus ~15 ms per document at 4 cores. At
    * 10/s the documents add ~15% to a batch, so batch length settles
    * after the first batch, and a slower machine lengthens batches by
    * little more than it slows each job. Near capacity a batch holds
    * more documents the longer the one before it ran, which amplifies
    * every slowdown and makes the latency swing from run to run. */
  val RatePerS = 10.0
  /** Documents fed through a throwaway pipeline in set-up, in
    * [[WarmUpBatches]] micro-batches, so the timed stream does not pay
    * plan codegen and the first JIT compiles. */
  private val WarmUpDocs = 40
  private val WarmUpBatches = 4

  override def prepare(spark: SparkSession, dir: String): Unit = {
    val docs = loadDocs(spark, dir).take(WarmUpDocs)
    val root = Paths.get(System.getProperty("java.io.tmpdir"), s"stream-warmup-${ProcessHandle.current().pid()}")
    deleteTree(root)
    val (input, q) = start(spark, root)
    try docs.grouped(WarmUpDocs / WarmUpBatches).foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
    finally q.stop()
    deleteTree(root)
  }

  private def loadDocs(spark: SparkSession, dir: String): Array[IngestDoc] =
    // ts_us from doc_id, as the ingest contract and StreamBench do, so
    // the output does not depend on the arrival schedule
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .orderBy(col("doc_id")).collect()
      .map(x => IngestDoc(x.getLong(0), x.getString(1), x.getLong(0) * 300000L, x.getString(2)))

  /** StreamBench's pipeline settings: admission sized to admit every
    * document, so the dedup gates and packing are what is measured. */
  private def start(spark: SparkSession, root: Path)
      : (MemoryStream[IngestDoc], StreamingQuery) = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val pipe = new StreamingIngestPipeline(root.toString, costMicro = 1000L,
      capMicro = 20000000L, dupShareMaxE6 = 950000L, minBands = 1L, ctxLen = 512)
    val input = MemoryStream[IngestDoc]
    (input, pipe.run(input.toDS(), s"$root/packed", s"$root/ckpt"))
  }

  def run(r: Run): Result = {
    val spark = r.spark
    val all = loadDocs(spark, r.args.data)
    val n = math.min(all.length, math.round(RatePerS * r.args.seconds).toInt)
    val docs = all.take(n)
    // Poisson arrivals given their count: n uniform times over the
    // span, sorted. Drawn as a running sum of exponential gaps instead,
    // the last arrival would land at `seconds` +- sqrt(n) / RatePerS
    // (+-1.4 s at 10/s over 20 s) and the run's length would swing with
    // the seed.
    val rnd = new Random(r.args.seed)
    val spanNs = r.args.seconds * 1000000000L
    val dueOffNs = Array.fill(n)((rnd.nextDouble() * spanNs).toLong).sorted.toIndexedSeq

    val root = r.args.out.resolve(s"stream-${ProcessHandle.current().pid()}")
    deleteTree(root)
    val written0 = bytesWritten
    val gc0 = r.gcTotals
    val streamSpan = r.tracer.map(_.newId()).getOrElse(0L)
    val batchListener = r.tracer.map { t =>
      val l = new BatchListener(t, () => streamSpan)
      spark.streams.addListener(l)
      l
    }
    val startUs = Clock.nowUs
    val (input, q) = start(spark, root)
    val sentNs = new Array[Long](n)
    val t0 = System.nanoTime() + 500000000L // let the query start before the first arrival
    try {
      val gen = new Thread(() => {
        var i = 0
        while (i < n) {
          val wait = t0 + dueOffNs(i) - System.nanoTime()
          if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
          else {
            input.addData(docs(i))
            sentNs(i) = System.nanoTime()
            if (i % 50 == 0) r.sampleHeap()
            i += 1
          }
        }
      }, "perfbench-generator")
      gen.start()
      gen.join()
      q.processAllAvailable()
    } finally q.stop()
    val endUs = Clock.nowUs
    val gc1 = r.gcTotals
    r.tracer.foreach(_.add(Span(streamSpan, r.currentSpan, "ingest", "streaming", startUs, endUs)))
    batchListener.foreach(spark.streams.removeListener)
    r.sampleHeap()

    // committed-through index and commit time of every data batch, from
    // the query's own progress records (MemoryStream offsets count
    // addData calls, one document each, from 0)
    val progress = q.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId)
    val batches = progress.map { p =>
      val commitNs = (java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.get("triggerExecution").longValue) * 1000000L
      (p.sources.head.endOffset.trim.toLong, commitNs)
    }.toSeq
    val dueEpochNs = dueOffNs.map(d => Clock.ofNs(t0 + d) * 1000L)
    val lats = Stats.openLoopLatencies(dueEpochNs, batches)
    val latencies = lats.flatten
    val late = docs.indices.map(i => (sentNs(i) - t0 - dueOffNs(i)) / 1e9)
    // backlog: documents sent but not yet committed, at each send
    val sentEpochNs = sentNs.map(s => Clock.ofNs(s) * 1000L)
    val backlog = docs.indices.map { i =>
      val committed = batches.filter(_._2 <= sentEpochNs(i)).map(_._1 + 1).foldLeft(0L)(math.max)
      i + 1 - committed
    }
    // the pipeline writes each batch under `batch=<id>`: drop the
    // partition column, the one part of the output batching decides
    val packed = spark.read.parquet(s"$root/packed").drop("batch")
    val ok = r.timedValue("verify", "verify", "verify") {
      r.verify(s"$name:$n", Fingerprint.of(packed))
    }._1
    progress.foreach(p => println(s"batch ${p.batchId} docs=${p.numInputRows} " +
      s"s=${p.durationMs.get("triggerExecution").longValue / 1e3}"))
    val batchSecs = progress.map(_.durationMs.get("triggerExecution").longValue / 1e3).toSeq
    val stateSizes = listFiles(root).filterNot { p =>
      val rel = root.relativize(p).toString
      rel.startsWith("packed") || rel.startsWith("ckpt")
    }.map(Files.size)
    val inputBytes = docs.map(_.text.getBytes("UTF-8").length.toLong).sum
    val streamJobs = r.listener.map(l => l.phase("stream").jobs.sum.toDouble).getOrElse(0.0)
    deleteTree(root)
    val uncommitted = lats.count(_.isEmpty)
    if (uncommitted > 0) r.log(s"$uncommitted documents never committed")
    // wall_s: the arrival span plus the last batch's own run time. The
    // span to the last commit also holds the last documents' wait for
    // the batch in flight when they arrived: a phase of the batch grid,
    // anywhere from 0 to a whole batch (~4 s), that jumps as batch
    // lengths shift. It is printed as stream_span_s.
    val spanS = batches.lastOption.fold(Double.NaN)(b => (b._2 - dueEpochNs.head) / 1e9)
    val wallS = (dueOffNs.last - dueOffNs.head) / 1e9 + batchSecs.lastOption.getOrElse(Double.NaN)
    Result(latencies, "ingest_latency", wallS,
      attempted = n, failed = if (ok) uncommitted else n,
      extra = Seq(("generator_late_max_s", late.max, "s", "how late the generator ran"),
        ("stream_span_s", spanS, "s", "first arrival to last commit")),
      layer = Layers.noQueries ++ Map(
        "operators.execute_s" -> batchSecs.sum,
        "jvm.gc_s" -> (gc1._1 - gc0._1) / 1e3,
        "jvm.gc_count" -> (gc1._2 - gc0._2).toDouble,
        "jvm.retained_rdds" -> spark.sparkContext.getPersistentRDDs.size.toDouble,
        "jvm.retained_bytes" -> spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum.toDouble,
        "streaming.batches" -> progress.length.toDouble,
        "streaming.batch_s_p50" -> Stats.median(batchSecs),
        "streaming.batch_jobs" -> streamJobs / math.max(1, progress.length),
        "streaming.docs_per_batch" -> Stats.median(progress.map(_.numInputRows.toDouble).toSeq),
        "streaming.backlog_peak_docs" -> backlog.max.toDouble,
        "streaming.generator_late_s" -> late.max,
        "streaming.state_bytes" -> stateSizes.sum.toDouble,
        "streaming.state_files" -> stateSizes.size.toDouble,
        "streaming.bytes_written_per_input_byte" ->
          (bytesWritten - written0).toDouble / inputBytes))
  }

  /** Bytes written through Hadoop's local file system: every parquet
    * append, dim snapshot, packed output and checkpoint file. */
  private def bytesWritten: Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesWritten"))).map(_.longValue).getOrElse(0L)

  private def listFiles(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  private def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
    }
}

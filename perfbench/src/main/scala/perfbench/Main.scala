package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Sessions

/** The benchmark harness. `run.py` builds it and runs one workload per
  * process:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --cores <n> --sf <scale> --data <sf dir>
  *     --out <scratch dir> --expected <fingerprints file>
  *
  * Lines it prints: `settings ...` (the fixed engine settings),
  * `metric <name> <value> <unit> [note]` for every end-to-end figure,
  * `layer <name> <value> <unit>` for every per-layer figure of a traced
  * run, `fingerprint <key> <rows> <h1> <h2>` for every checked output,
  * and last `result <json>`, the line `run.py` passes on.
  */
object Main {
  private val SetupRepeats = 3

  /** `cores` and `sf` are the benchmark's fixed engine settings, passed
    * from its command line (`run.py` also sets SPARK_GRAFT_CPUS). */
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, cores: Int, sf: String, data: String, out: Path, expected: Path)

  private def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, s"expected --key value pairs, got ${argv.mkString(" ")}")
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = get("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    val seconds = get("seconds").toInt
    require(seconds >= 1, s"--seconds must be at least 1, got $seconds")
    Args(get("workload"), get("seed").toLong, seconds, trace == "1", get("cores").toInt,
      get("sf"), get("data"), Paths.get(get("out")), Paths.get(get("expected")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workload.byName.getOrElse(a.workload, throw new IllegalArgumentException(
      s"unknown workload '${a.workload}'; known: ${Workload.byName.keys.toSeq.sorted.mkString(", ")}"))
    require(Sessions.cpus("unset") == a.cores.toString,
      s"SPARK_GRAFT_CPUS must be ${a.cores} (run the benchmark through run.py)")
    val heapMb = Runtime.getRuntime.maxMemory / (1L << 20)
    println(s"settings workload=${wl.name} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0} master=local[${a.cores}] heap_max_mb=$heapMb " +
      s"sf=${a.sf} data=${a.data}")

    // Set-up: session start plus a warm-up query, repeated (the first
    // repeat also carries JVM start; each stops the previous session),
    // then the workload's one-off preparation on the last session.
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until SetupRepeats) {
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = newSession(a)
      wl.warmUp(spark, a.data)
      setups += (if (i == 0) ManagementFactory.getRuntimeMXBean.getUptime / 1e3
                 else (System.nanoTime() - t0) / 1e9)
    }
    val prepT0 = System.nanoTime()
    wl.prepare(spark, a.data)
    val prepareS = (System.nanoTime() - prepT0) / 1e9

    val tracer = if (a.trace) Some(new Tracer(s"${wl.name}-seed${a.seed}")) else None
    val listener = tracer.map { t =>
      val l = new LayerListener(t)
      spark.sparkContext.addSparkListener(l)
      l
    }
    val run = new Run(spark, a, tracer, listener)
    val res = run.within(wl.name, "workload")(wl.run(run))
    val selfCheck = SelfCheck.run(spark)
    selfCheck.foreach(f => println(s"selfcheck FAILED $f"))

    val lat = res.latencies
    val p50 = if (lat.isEmpty) Double.NaN else Stats.median(lat)
    val tail = if (lat.isEmpty) Stats.Tail(Double.NaN, 0, 0) else Stats.tail(lat)
    // The end-to-end metrics of BENCHMARK.json. Latency enters as a
    // mean: a median or tail over one run's handful of queries jumps
    // between far-apart queries as the seeded order moves them, while
    // the mean moves only with the work. Medians, tails and the heap
    // peak (which swings with GC timing) are printed below as context.
    val e2e = Seq(
      ("setup_s", Stats.median(setups.toSeq) + prepareS, "s",
        setups.map(x => f"$x%.3f").mkString("session starts=", ",", f" prepare=$prepareS%.3f")),
      ("wall_s", res.wallS, "s", ""),
      ("latency_mean_s", if (lat.isEmpty) Double.NaN else lat.sum / lat.size, "s",
        s"n=${lat.size}"))
    val failedRatio = res.failed.toDouble / math.max(1L, res.attempted)
    val named = Seq(
      (s"${res.latencyOf}_p50_s", p50, "s", s"n=${lat.size}"),
      (s"${res.latencyOf}_tail_s", tail.value, "s", f"p${tail.pct}%.1f n=${tail.n}"),
      ("heap_peak_mb", run.heapPeakMb, "MB", "largest heap in use right after a collection"),
      ("failed_ratio", failedRatio, "ratio", s"${res.failed} of ${res.attempted}")) ++ res.extra
    (e2e ++ named).foreach { case (k, v, u, note) => println(s"metric $k $v $u $note".trim) }

    val layer: Seq[(String, Double, String)] = if (!a.trace) Nil else {
      val l = listener.get
      l.drain(spark.sparkContext)
      val base = Layers.batch(run, res, l)
      val kernels = Probes.kernels(spark, a.data, run)
      // the funnel walk is the curation layer of the corpus workload;
      // elsewhere that layer reads 0, which keeps traced runs short
      val curation =
        if (wl == CorpusMining) Probes.curationStages(spark, a.data, run, l)
        else Layers.All.collect { case (k, _) if k.startsWith("curation.") => k -> 0.0 }.toMap
      val all = base ++ kernels ++ curation
      Layers.All.map { case (k, unit) =>
        (k, all.getOrElse(k, throw new IllegalStateException(s"layer metric $k not measured")), unit)
      }
    }
    layer.foreach { case (k, v, u) => println(s"layer $k $v $u") }
    tracer.foreach { t =>
      val path = a.out.resolve("spans").resolve(s"${t.traceId}.json")
      t.writeJson(path)
      println(s"spans $path")
      t.selfSecondsByLayer.toSeq.sorted.foreach { case (k, v) => println(s"self_s $k $v") }
    }

    val correct = res.failed == 0 && selfCheck.isEmpty && res.attempted > 0
    val metrics = if (a.trace) layer else e2e.map { case (k, v, u, _) => (k, v, u) }
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""result {"correct": $correct, "attempted": ${res.attempted}, """ +
      s""""failed": ${res.failed}, "metrics": {$body}}""")
    spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def newSession(a: Args): SparkSession = {
    val s = Sessions.builder(a.cores.toString)
      .config("spark.local.dir", a.out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.out.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Recorded fingerprints: `<key> <rows> <h1> <h2>` per line. */
  def readExpected(p: Path): Map[String, Fingerprint] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val (k, rest) = l.span(!_.isWhitespace)
        k -> Fingerprint.parse(rest)
      }.toMap
}

/** What one workload run hands back. `latencyOf` names what a latency
  * sample times (query, ingest_latency); `extra` holds workload-only
  * end-to-end figures. */
final case class Result(
    latencies: Seq[Double], latencyOf: String, wallS: Double,
    attempted: Long, failed: Long,
    extra: Seq[(String, Double, String, String)],
    layer: Map[String, Double])

/** The state one run shares with its workload: the session, the
  * tracer when tracing, the heap sampler and the fingerprint checks. */
final class Run(val spark: SparkSession, val args: Main.Args,
    val tracer: Option[Tracer], val listener: Option[LayerListener]) {
  private var parent = 0L
  private var heapPeak = 0L
  private val expected = Main.readExpected(args.expected)

  def currentSpan: Long = parent

  /** Runs `body` inside a span, when tracing. */
  def within[T](name: String, layer: String)(body: => T): T = tracer match {
    case None => body
    case Some(t) => t.span(name, layer, parent) { id =>
      val saved = parent
      parent = id
      try body finally parent = saved
    }
  }

  /** Times `body`; when tracing, also records it as a span and tags the
    * Spark jobs it submits with that span and with `phase`. */
  def timedValue[T](name: String, layer: String, phase: String)(body: => T): (T, Double) = {
    val sc = spark.sparkContext
    val id = tracer.map(_.newId())
    id.foreach { i =>
      sc.setLocalProperty(LayerListener.SpanProp, i.toString)
      sc.setLocalProperty(LayerListener.PhaseProp, phase)
    }
    val startUs = Clock.nowUs
    val t0 = System.nanoTime()
    try {
      val v = body
      (v, (System.nanoTime() - t0) / 1e9)
    } finally {
      val endUs = Clock.nowUs
      for (t <- tracer; i <- id) t.add(Span(i, parent, name, layer, startUs, endUs))
      if (id.isDefined) {
        sc.setLocalProperty(LayerListener.SpanProp, null)
        sc.setLocalProperty(LayerListener.PhaseProp, null)
      }
    }
  }

  def timed(name: String, layer: String, phase: String)(body: => Unit): Double =
    timedValue(name, layer, phase)(body)._2

  /** Largest heap in use right after a collection: the latest
    * collection's after-image, read (not subscribed to) between
    * operations. */
  def sampleHeap(): Unit = {
    val last = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
      case b: com.sun.management.GarbageCollectorMXBean if b.getLastGcInfo != null => b.getLastGcInfo
    }
    if (last.nonEmpty) {
      val info = last.maxBy(_.getEndTime)
      val used = info.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
      heapPeak = math.max(heapPeak, used)
    }
  }

  def heapPeakMb: Double = {
    sampleHeap()
    heapPeak / 1048576.0
  }

  /** Compares an output's fingerprint with the recorded one; prints the
    * measured value so a maintainer can record it. */
  def verify(output: String, fp: Fingerprint): Boolean = {
    // fingerprints are recorded per scale factor
    val key = s"sf${args.sf}:$output"
    println(s"fingerprint $key ${fp.render}")
    expected.get(key) match {
      case Some(want) if want == fp => true
      case Some(want) =>
        println(s"mismatch $key: got ${fp.render}, recorded ${want.render}")
        false
      case None =>
        println(s"mismatch $key: no recorded fingerprint")
        false
    }
  }

  def gcTotals: (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

package perfbench

/** The per-layer metrics of a traced run, named after the repo's
  * modules, with their units. Every traced run prints all of them; a
  * layer a workload does not exercise reads 0. */
object Layers {
  val All: Seq[(String, String)] = Seq(
    "queries.construct_s" -> "s",
    "queries.construct_jobs" -> "count",
    "queries.construct_share" -> "ratio",
    "operators.execute_s" -> "s",
    "operators.jobs" -> "count",
    "operators.stages" -> "count",
    "operators.tasks" -> "count",
    "operators.small_stage_ratio" -> "ratio",
    "operators.task_run_s" -> "s",
    "operators.task_cpu_s" -> "s",
    "operators.task_wait_s" -> "s",
    "operators.core_busy_ratio" -> "ratio",
    "operators.input_bytes" -> "B",
    "operators.shuffle_write_bytes" -> "B",
    "operators.shuffle_read_bytes" -> "B",
    "operators.spill_bytes" -> "B") ++
    Seq("normalizeArticle", "stripAccents", "fold", "sentenceSegs",
      "tokenShingles", "polyHash", "cosine").map(k => s"expressions.${k}_rows_per_s" -> "rows/s") ++
    Probes.CurationStages.flatMap(k => Seq(s"curation.${k}_s" -> "s", s"curation.${k}_jobs" -> "count")) ++
    Seq(
      "jvm.gc_s" -> "s",
      "jvm.gc_count" -> "count",
      "jvm.retained_rdds" -> "count",
      "jvm.retained_bytes" -> "B",
      "streaming.batches" -> "count",
      "streaming.batch_s_p50" -> "s",
      "streaming.batch_jobs" -> "count",
      "streaming.docs_per_batch" -> "count",
      "streaming.backlog_peak_docs" -> "count",
      "streaming.generator_late_s" -> "s",
      "streaming.state_bytes" -> "B",
      "streaming.state_files" -> "count",
      "streaming.bytes_written_per_input_byte" -> "ratio")

  val noStream: Map[String, Double] =
    All.map(_._1).filter(_.startsWith("streaming.")).map(_ -> 0.0).toMap

  val noQueries: Map[String, Double] =
    Map("queries.construct_s" -> 0.0, "queries.construct_share" -> 0.0)

  /** The workload's own layer figures plus the executed-stage counters
    * of the jobs its timed calls submitted (the noop writes, or the
    * micro-batches of a stream). */
  def batch(run: Run, res: Result, l: LayerListener): Map[String, Double] = {
    val executed = Seq("execute", "stream").map(l.phase)
    def sum(f: PhaseCounters => java.util.concurrent.atomic.LongAdder): Double =
      executed.map(c => f(c).sum.toDouble).sum
    val stages = sum(_.stages)
    val timedRunMs = Seq("construct", "execute", "stream").map(l.phase(_).runMs.sum).sum
    res.layer ++ Map(
      "queries.construct_jobs" -> l.phase("construct").jobs.sum.toDouble,
      "operators.jobs" -> sum(_.jobs),
      "operators.stages" -> stages,
      "operators.tasks" -> sum(_.tasks),
      "operators.small_stage_ratio" -> (if (stages == 0) 0.0 else sum(_.smallStages) / stages),
      "operators.task_run_s" -> sum(_.runMs) / 1e3,
      "operators.task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "operators.task_wait_s" -> sum(_.waitMs) / 1e3,
      "operators.core_busy_ratio" -> timedRunMs / 1e3 / (res.wallS * run.args.cores),
      "operators.input_bytes" -> sum(_.inputBytes),
      "operators.shuffle_write_bytes" -> sum(_.shuffleWriteBytes),
      "operators.shuffle_read_bytes" -> sum(_.shuffleReadBytes),
      "operators.spill_bytes" -> sum(_.spillBytes))
  }
}

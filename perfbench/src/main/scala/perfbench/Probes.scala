package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CurationPipeline, Tables}
import graft.functions.{GraftFunctions, Hashing, TextFunctions, VectorFunctions}

/** Layer probes of the traced run: each calls one layer's public
  * functions directly, outside the workload's timed region. */
object Probes {

  /** Rows each kernel sees: the sf documents (or embeddings) repeated
    * until one call does enough work to outweigh a job's fixed cost. */
  private val ProbeRows = 100000
  private val Reps = 3

  /** `expressions.<fn>_rows_per_s`: each `graft.functions` kernel over
    * a cached copy of its input column, written to a noop sink; the
    * median of [[Reps]] timed calls. */
  def kernels(spark: SparkSession, dir: String, run: Run): Map[String, Double] = {
    val docs = Tables.documents(spark, dir).select(col("text"))
    val vecs = Tables.embeddings(spark, dir).select(col("embedding"))
    def repeated(df: DataFrame): DataFrame = {
      val n = df.count()
      val copies = math.max(1L, (ProbeRows + n - 1) / n)
      df.crossJoin(spark.range(copies).toDF("copy")).drop("copy")
        .repartition(run.args.cores).cache()
    }
    val text = repeated(docs)
    val toks = repeated(docs.select(TextFunctions.tokens(TextFunctions.fold(col("text"))).as("toks")))
    val emb = repeated(vecs)
    val cases: Seq[(String, DataFrame, Column)] = Seq(
      ("normalizeArticle", text, TextFunctions.normalizeArticle(col("text"))),
      ("stripAccents", text, TextFunctions.stripAccents(col("text"))),
      ("fold", text, TextFunctions.fold(col("text"))),
      ("sentenceSegs", text, TextFunctions.sentenceSegs(col("text"))),
      ("tokenShingles", toks, GraftFunctions.tokenShingles(col("toks"), 5)),
      ("polyHash", text, Hashing.polyHash(col("text"))),
      ("cosine", emb, VectorFunctions.cosine(col("embedding"), reverse(col("embedding")))))
    try {
      Seq(text, toks, emb).foreach(_.count())
      cases.map { case (name, in, fn) =>
        val rows = in.count().toDouble
        val secs = (1 to Reps).map { _ =>
          run.timed(s"kernel $name", "expressions", "probe") {
            in.select(fn.as("out")).write.format("noop").mode("overwrite").save()
          }
        }
        s"expressions.${name}_rows_per_s" -> rows / Stats.median(secs)
      }.toMap
    } finally Seq(text, toks, emb).foreach(_.unpersist(blocking = true))
  }

  val CurationStages: Seq[String] = Seq("exact_dedup", "line_dedup",
    "quality_lm_gate", "decontaminate", "neardup_cluster", "dupgram_filter",
    "dsir_select", "shuffle_pack")

  /** `curation.<stage>_s` and `_jobs`: the stage thunks of
    * `CurationPipeline.curateExtendedStages` walked in order, each
    * written to a noop sink, on the corpus recipe `CurationBench` uses.
    * Staged stages are reused by their consumers, so each write times
    * its stage's increment. */
  def curationStages(spark: SparkSession, dir: String, run: Run,
      listener: LayerListener): Map[String, Double] = {
    val docs = Tables.documents(spark, dir)
    val segs = expr(
      """transform(sequence(0, (size(split(text, ' +')) - 1) div 12),
        |  i -> array_join(slice(split(text, ' +'), i * 12 + 1, 12), ' '))""".stripMargin)
    val stages = CurationPipeline.curateExtendedStages(docs, col("doc_id") % 97 === 0,
      segs, Some(col("doc_id") % 11 === 3))
    val got = stages.map(_._1)
    require(got == CurationStages, s"curation stages changed: ${got.mkString(",")}")
    stages.flatMap { case (name, thunk) =>
      val phase = s"curation:$name"
      val secs = run.timed(s"stage $name", "curation", phase) {
        thunk().write.format("noop").mode("overwrite").save()
      }
      listener.drain(spark.sparkContext)
      Seq(s"curation.${name}_s" -> secs,
        s"curation.${name}_jobs" -> listener.phase(phase).jobs.sum.toDouble)
    }.toMap
  }
}

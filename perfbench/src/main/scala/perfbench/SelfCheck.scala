package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Checks of the benchmark's own helpers, run after every measurement
  * (outside timing). A failure makes the run incorrect. */
object SelfCheck {

  def run(spark: SparkSession): Seq[String] = {
    val bad = Seq.newBuilder[String]
    def check(name: String)(ok: => Boolean): Unit =
      if (!(try ok catch { case e: Exception => bad += s"$name: $e"; true })) bad += name

    // the >=10-beyond rule: p90 of 1..100 is 90 (ten samples above it);
    // 20 samples reach only the median; fewer report the maximum
    val hundred = (1 to 100).map(_.toDouble)
    check("tail of 100 samples is p90") { Stats.tail(hundred) == Stats.Tail(90.0, 90.0, 100) }
    check("tail of 20 samples is p50") { Stats.tail(hundred.take(20)) == Stats.Tail(10.0, 50.0, 20) }
    check("tail of 15 samples is the maximum") { Stats.tail(hundred.take(15)) == Stats.Tail(15.0, 100.0, 15) }

    // open-loop latency runs from the due time: inputs due at 0, 1 and
    // 2 s behind a batch that committed at 10 s waited 10, 9 and 8 s,
    // however late the generator actually sent them
    val s = 1000000000L
    check("open-loop latency counts from the due time") {
      Stats.openLoopLatencies(Vector(0L, s, 2 * s), Seq((2L, 10 * s))) ==
        Vector(Some(10.0), Some(9.0), Some(8.0))
    }
    check("open-loop latency uses the first batch that covers an input") {
      Stats.openLoopLatencies(Vector(0L, s, 2 * s), Seq((0L, 5 * s), (2L, 6 * s))) ==
        Vector(Some(5.0), Some(5.0), Some(4.0))
    }
    check("an input no batch covers has no latency") {
      Stats.openLoopLatencies(Vector(0L, s), Seq((0L, 5 * s))) == Vector(Some(5.0), None)
    }

    // fingerprints ignore row order and partitioning but see any change
    val df = spark.range(0, 500).select(col("id"),
      (col("id") % 7).cast("string").as("s"),
      array(col("id"), col("id") * 2).as("arr"),
      map(lit("k"), col("id")).as("m"),
      (col("id") / 3.0).as("d"))
    val fp = Fingerprint.of(df)
    check("fingerprint ignores partitioning") { Fingerprint.of(df.repartition(7)) == fp }
    check("fingerprint ignores row order") {
      Fingerprint.of(df.orderBy(col("id").desc).coalesce(1)) == fp
    }
    check("fingerprint sees a changed value") {
      Fingerprint.of(df.withColumn("s",
        when(col("id") === 123, lit("x")).otherwise(col("s")))) != fp
    }
    check("fingerprint sees a dropped row") { Fingerprint.of(df.filter(col("id") =!= 7)) != fp }
    bad.result()
  }
}

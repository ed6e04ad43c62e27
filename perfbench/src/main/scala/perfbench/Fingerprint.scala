package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, MapType}

/** An order-independent fingerprint of a result: its row count plus
  * two sums of per-row hashes over every column. Sums commute, so the
  * fingerprint does not depend on row order or partitioning, and two
  * independent hash functions make an accidental match of a wrong
  * result implausible. */
final case class Fingerprint(rows: Long, h1: Long, h2: Long) {
  def render: String = s"$rows $h1 $h2"
}

object Fingerprint {

  def of(df: DataFrame): Fingerprint = {
    val cols = df.schema.fields.toSeq.map(f => hashable(col(quote(f.name)), f.dataType))
    val r = df.agg(
      count(lit(1)),
      // murmur3 is 32-bit, so a long sum cannot overflow below 2^31 rows
      coalesce(sum(hash(cols: _*).cast("long")), lit(0L)),
      coalesce(sum(shiftrightunsigned(xxhash64(cols: _*), 32)), lit(0L))
    ).head()
    Fingerprint(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def parse(s: String): Fingerprint = s.trim.split("\\s+") match {
    case Array(r, a, b) => Fingerprint(r.toLong, a.toLong, b.toLong)
    case _ => throw new IllegalArgumentException(s"bad fingerprint '$s'")
  }

  private def quote(name: String): String = "`" + name.replace("`", "``") + "`"

  /** Spark refuses to hash maps, and a map's entry order is not part
    * of its value: hash its sorted entries instead. */
  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }
}

package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query result, computed by one Spark
  * action: the row count and the sum of per-row hashes. Floating-point
  * values enter the hash at nine significant digits, so partial sums that
  * Spark adds up in a different order still agree.
  */
object Digest {
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c)
    case _ => c
  }

  /** (rows, digest) of `df`; the digest also covers the column names. */
  def of(df: DataFrame): (Long, String) = {
    val names = df.columns
    val pos = df.toDF(names.indices.map(i => s"c$i"): _*)
    val cols = pos.schema.fields.toSeq.map(f => canon(col(f.name), f.dataType))
    val r = pos.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    val sumHash = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    (r.getLong(0), s"$sumHash/${names.sorted.mkString(",").hashCode}")
  }
}

/** Pinned (rows, digest) per query, read from `expected.json`. The file
  * is data: a run only reads it. After an intended change of a query's
  * output, copy the observed (rows, digest) that the mismatch message prints
  * into it by hand.
  */
final class Expected(path: String) {
  private val pinned: Map[String, (Long, String)] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    root.fieldNames().asScala.map { n =>
      n -> (root.get(n).get("rows").asLong(), root.get(n).get("digest").asText())
    }.toMap
  }

  def matches(name: String, got: (Long, String)): Boolean = pinned.get(name).contains(got)
}

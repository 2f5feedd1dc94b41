package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

/** The `documents` table `graft.Tables` reads, generated in the shape of
  * the sf0.1 test corpus the repository's benchmarks run on (SCALE.md):
  * 5,000 documents of 10 to 100 words from a 30-word vocabulary, 5% of them
  * near-duplicates (an earlier document's text plus the marker word `dup`,
  * the 31st word), 0.2% exact duplicates, 40% `en`, 20 sources. The
  * contents are a pure function of [[DataSeed]], so query outputs can be
  * pinned; the workload seed picks nothing here.
  */
object TestData {
  val DataSeed = 20261017L
  val Version = "documents-v2"
  val Documents = 5000L

  private val Words = Vector("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort", "order",
    "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  /** Writes the table under `dir` unless a matching marker is present. */
  def materialize(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val marker = new java.io.File(s"$dir/_READY")
    if (marker.exists() && new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8") == Version)
      return
    spark.range(0, Documents, 1, 1).as[Long].map(doc).toDF()
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    java.nio.file.Files.write(marker.toPath, Version.getBytes("UTF-8"))
  }

  private def text(id: Long): String = {
    val r = new SplittableRandom(DataSeed * 31 + id)
    Seq.fill(10 + r.nextInt(91))(Words(r.nextInt(Words.size))).mkString(" ")
  }

  def doc(id: Long): Doc = {
    val r = new SplittableRandom(DataSeed * 17 + id)
    val roll = r.nextInt(1000)
    val t =
      if (id >= 10 && roll < 50) text(r.nextLong(id)) + " dup"
      else if (id >= 10 && roll < 52) text(r.nextLong(id))
      else text(id)
    val lang = if (r.nextInt(100) < 40) "en" else Vector("zh", "es", "fr", "de")(r.nextInt(4))
    Doc(id, t, lang, s"src${id % 20}", t.length.toLong)
  }
}

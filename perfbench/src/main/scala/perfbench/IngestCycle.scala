package perfbench

import scala.collection.mutable
import scala.util.Try

import graft.ingest.{Engine, IngestConfig, IngestStats}
import graft.lake.{Checkpoint, Checkpoints, GraftCatalog, Lake}
import graft.scd.Scd
import graft.sources.Flatten
import graft.sources.vgsi.VgsiParser
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Writes, then reads them back. Seeded pages pass through the fetch seam
  * into an empty lake (`Engine.runLoad`), refresh rounds each change a
  * seeded fraction of the parcels (`Engine.runRefresh`), and one client
  * then reads the new lake: SCD2 scans through `graft.scd.Scd` and point
  * lookups through the `GraftCatalog` views. Every step is checked against
  * the generator. One pass is one such cycle in a fresh lake.
  */
object IngestCycle extends Workload {
  import Workloads._
  val name = "ingest_cycle"
  val Entries = 400
  val Rounds = 2
  val Mutated = 0.25
  val Lookups = 4
  val Catalog = "benchlake"
  val Scope = "benchville"
  val Scans = Seq("scd.current_state", "scd.versions", "scd.changed_since", "scd.as_of")

  private def lakeRoot(ctx: Ctx) = s"${ctx.workDir}/ingest_lake"

  override def setup(spark: org.apache.spark.sql.SparkSession, ctx: Ctx): Unit =
    GraftCatalog.register(spark, Catalog, lakeRoot(ctx), readonly = true)

  override def run(ctx: Ctx, out: Outcome): Unit = {
    val pages = new Pages(ctx.seed, Entries, Rounds, Mutated)
    val html = (0 to Rounds).map(pages.html)
    val rng = new java.util.Random(ctx.seed)
    measure(ctx, out)(c => cycle(c, pages, html, out, rng))
    if (ctx.trace.enabled) {
      out.layer("lake.read_s") = ctx.trace.seconds("lake.read")
      Scans.foreach(s => out.layer(s + "_s") = ctx.trace.seconds(s))
      Seq("lookup", "scan").foreach(k =>
        out.layer(s"requests.${k}_p50_s") = Stats.median(out.samples.getOrElse(k, Nil).toSeq))
      // spark.* and plan.* cover the traced pass only, not the replay below
      sparkLayer(ctx.trace, out)
      replay(ctx, pages, html, out)
    }
  }

  /** One load + refresh + read-back cycle into a fresh lake, checked. */
  private def cycle(ctx: Ctx, pages: Pages, html: Seq[Array[String]], out: Outcome, rng: java.util.Random): Unit = {
    val spark = ctx.spark
    val tr = ctx.trace
    val root = lakeRoot(ctx)
    rmrf(root)
    val fetches0 = PageStore.fetches.get()
    val stats = mutable.ArrayBuffer[IngestStats]()
    val bounds = mutable.ArrayBuffer[(Long, Long)]()
    var wall = 0.0
    (0 to pages.rounds).foreach { round =>
      PageStore.serve(html(round))
      quiesce()
      val t0 = System.currentTimeMillis()
      val (s, secs) = time {
        if (round == 0) tr.op("ingest.run_load")(Engine.runLoad(spark, source, pages.pids, root, Scope, config(ctx.cores)))
        else tr.op("ingest.run_refresh")(Engine.runRefresh(spark, source, root, Scope, config(ctx.cores)))
      }
      bounds += ((t0, System.currentTimeMillis()))
      stats += s
      wall += secs
      Main.log(f"ingest round $round $secs%.3f s")
    }
    val order = new scala.util.Random(rng.nextLong())
    val reads = order.shuffle(Scans.map(Left(_)) ++ (1 to Lookups).map(Right(_)))
    quiesce()
    wall += time(reads.foreach {
      case Left(scan) => out.samples.getOrElseUpdate("scan", mutable.ArrayBuffer()) +=
        scanOnce(ctx, out, pages, bounds.toSeq, order, scan)
      case Right(_) => out.samples.getOrElseUpdate("lookup", mutable.ArrayBuffer()) +=
        lookupOnce(ctx, out, pages, order)
    })._2
    out.batches += wall
    val requested = pages.entries.toLong + pages.rounds.toLong * pages.valid.size
    stats.zipWithIndex.foreach { case (s, round) =>
      val want = pages.written(round)
      out.check(s.scraped == pages.valid.size && s.errors == 0 &&
        s.invalid == (if (round == 0) pages.invalid.size else 0),
        s"round $round: scraped ${s.scraped} errors ${s.errors} invalid ${s.invalid}")
      Pages.Tables.foreach { t =>
        out.check(s.rowsWritten.getOrElse(t, 0L) == want(t),
          s"round $round $t: wrote ${s.rowsWritten.getOrElse(t, 0L)}, expected ${want(t)}")
      }
    }
    val flat = (1 to pages.rounds).map(pages.flattened(_).values.sum).sum.toDouble
    val written = stats.drop(1).map(_.rowsWritten.values.sum).sum.toDouble
    val (_, bytes) = files(spark, s"$root/$Scope")
    out.layer ++= Seq(
      "ingest.run_load_s" -> tr.seconds("ingest.run_load"),
      "ingest.run_refresh_s" -> tr.seconds("ingest.run_refresh"),
      "ingest.fetches_per_entry" -> (PageStore.fetches.get() - fetches0) / requested.toDouble,
      "ingest.entries_invalid" -> stats.map(_.invalid).sum.toDouble,
      "ingest.entries_errored" -> stats.map(_.errors).sum.toDouble,
      "lake.rows_written" -> written,
      "lake.rows_skipped" -> (flat - written),
      "lake.write_useful_ratio" -> written / flat,
      "lake.bytes_per_row" -> bytes.toDouble / pages.valid.size)
    if (tr.enabled) {
      val perBatch = IngestConfig().checkpointEvery.toDouble
      val batches = math.ceil(pages.entries / perBatch) + pages.rounds * math.ceil(pages.valid.size / perBatch)
      out.layer("ingest.jobs_per_batch") = tr.counts(_.startsWith("ingest.")).map(_.jobs).sum / batches
    }
  }

  private def sameState(rows: Array[Row], state: Map[Long, Parcel]): Boolean =
    rows.length == state.size && rows.forall(r => state.get(r.getLong(0))
      .exists(p => p.owner == r.getString(1) && p.assessment.toDouble == r.getDouble(2)))

  /** One SCD2 scan of the properties table; `bounds` are the wall-clock
    * (start, end) millis of each round's Engine call.
    */
  private def scanOnce(ctx: Ctx, out: Outcome, pages: Pages, bounds: Seq[(Long, Long)],
      rng: scala.util.Random, scan: String): Double = {
    val tr = ctx.trace
    def props = tr.span("lake.read")(Lake.read(ctx.spark, lakeRoot(ctx), Scope, "properties"))
    def state(df: DataFrame) = df.select(col("pid"), col("owner"), col("assessment_value")).collect()
    val k = 1 + rng.nextInt(pages.rounds)
    val (ok, secs) = time(tr.op(scan)(scan match {
      case "scd.current_state" =>
        sameState(state(tr.span(scan)(Scd.currentState(props, col("uuid"), col("scraped_at"), col("row_hash")))),
          pages.last)
      case "scd.versions" =>
        tr.span(scan)(Scd.withVersions(props, col("uuid"), col("row_hash"), col("scraped_at"))).count() ==
          pages.valid.map(pages.propertyVersions(_).toLong).sum
      case "scd.changed_since" =>
        val since = lit(new java.sql.Timestamp(bounds(k)._1))
        tr.span(scan)(Scd.changedSince(props, col("uuid"), col("row_hash"), since, col("scraped_at"))).count() ==
          (k to pages.rounds).map(pages.propertyChanges).sum
      case "scd.as_of" =>
        val at = lit(new java.sql.Timestamp(bounds(k - 1)._2))
        sameState(state(tr.span(scan)(Scd.asOf(props, col("uuid"), at, col("scraped_at")))), pages.states(k - 1))
    }))
    out.check(ok, s"$scan (round $k) differs from the generated versions")
    Main.log(f"$scan $secs%.3f s")
    secs
  }

  /** One point lookup through the catalog's derived SCD views. */
  private def lookupOnce(ctx: Ctx, out: Outcome, pages: Pages, rng: scala.util.Random): Double = {
    val pid = pages.valid(rng.nextInt(pages.valid.size))
    val p = pages.last(pid)
    val current = rng.nextBoolean()
    val view = if (current) "properties__current" else "properties__versions"
    val cols = if (current) "owner, assessment_value" else "version, owner"
    val (rows, secs) = time(ctx.trace.op(s"lookup.$view")(ctx.spark.sql(
      s"SELECT $cols FROM $Catalog.$Scope.$view WHERE pid = ?", Array[Any](pid)).collect()))
    val ok =
      if (current) rows.length == 1 && rows(0).getString(0) == p.owner && rows(0).getDouble(1) == p.assessment.toDouble
      else rows.length == pages.propertyVersions(pid) && rows.maxByOption(_.getInt(0)).exists(_.getString(1) == p.owner)
    out.check(ok, s"$view lookup of pid $pid returned ${rows.mkString(",")}")
    Main.log(f"lookup $view $secs%.3f s")
    secs
  }

  /** Traced replay of the write path's stages one by one on the same
    * pages: parse, flatten, stamp and append, refresh dedup, compact,
    * checkpoint, and the writer lease.
    */
  private def replay(ctx: Ctx, pages: Pages, html: Seq[Array[String]], out: Outcome): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.trace
    val root = s"${ctx.workDir}/ingest_replay"
    rmrf(root)
    var (parseS, flattenS, appendS, dedupS, rowsFlat) = (0.0, 0.0, 0.0, 0.0, 0L)
    var (bytesWritten, filesWritten) = (0L, 0L)
    html.foreach { page =>
      val (results, p) = time(tr.op("sources.parse")(
        pages.pids.flatMap(pid => Try(VgsiParser.parse(page(pid.toInt), pid)).toOption)))
      parseS += p
      val (tables, f) = time(tr.op("sources.flatten") {
        val t = Flatten.flatten(spark.createDataset(results), Some(Scope)).map { case (n, df) => n -> df.cache() }
        val counts = t.map { case (n, df) => n -> df.count() }
        rowsFlat += counts.values.sum
        t.filter { case (n, _) => counts(n) > 0 }
      })
      flattenS += f
      val stamp = new java.sql.Timestamp(System.currentTimeMillis())
      val existing = Lake.tables(spark, root, Scope).toSet
      tables.foreach { case (t, df) =>
        val stamped = Lake.stampMetadata(df, stamp)
        val toWrite = if (!existing(t)) stamped else {
          val (d, s) = time(tr.op("scd.refresh_dedup") {
            val d = Scd.refreshDedupForLake(stamped, Lake.read(spark, root, Scope, t),
              Scd.RefreshDedupMode.Snapshot(Flatten.identityColumnOf(t))).cache()
            d.count()
            d
          })
          dedupS += s
          d
        }
        val before = files(spark, root)
        appendS += time(tr.op("lake.stamp_append")(Lake.append(toWrite, root, Scope, t)))._2
        val after = files(spark, root)
        filesWritten += after._1 - before._1
        bytesWritten += after._2 - before._2
      }
      tables.values.foreach(_.unpersist())
    }
    val (filesBefore, _) = files(spark, s"$root/$Scope")
    val compactS = time(tr.op("lake.compact")(
      Lake.tables(spark, root, Scope).foreach(t => Lake.compact(spark, root, Scope, t))))._2
    val (filesAfter, bytesAfter) = files(spark, s"$root/$Scope")
    val checkpointS = time(tr.op("lake.checkpoint")(Checkpoints.save(spark, root,
      Checkpoint(Scope, pages.pids.max.toString, pages.valid.size.toLong, java.time.Instant.now().toString))))._2
    val leaseS = time(tr.op("lake.lease")(Lake.withScopeLease(spark, root, Scope, "perfbench")(())))._2
    out.layer ++= Seq(
      "sources.parse_s" -> parseS, "sources.flatten_s" -> flattenS, "sources.rows_flattened" -> rowsFlat.toDouble,
      "lake.stamp_append_s" -> appendS, "scd.refresh_dedup_s" -> dedupS,
      "lake.bytes_written" -> bytesWritten.toDouble, "lake.files_written" -> filesWritten.toDouble,
      "lake.compact_s" -> compactS, "lake.files_before_compact" -> filesBefore.toDouble,
      "lake.files_after_compact" -> filesAfter.toDouble, "lake.bytes_rewritten" -> bytesAfter.toDouble,
      "lake.checkpoint_s" -> checkpointS, "lake.lease_s" -> leaseS)
    rmrf(root)
  }
}

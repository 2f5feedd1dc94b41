package perfbench

import scala.collection.mutable
import scala.util.Try

import graft.ingest.IngestConfig
import graft.sources.vgsi.VgsiSource
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** What a workload needs from the run: the session, its seed and time
  * budget, the tracer, and the directories it reads and writes.
  */
final case class Ctx(
    spark: SparkSession,
    seed: Long,
    seconds: Double,
    trace: Trace,
    cores: Int,
    dataDir: String,
    workDir: String,
    expected: Expected
)

/** Measurements and check outcomes of one run. */
final class Outcome {
  val batches = mutable.ArrayBuffer[Double]()
  val layer = mutable.LinkedHashMap[String, Double]()
  /** Latencies per request class, for the per-layer percentiles. */
  val samples = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  var attempted = 0L
  var failed = 0L

  /** Count one checked operation; a failed check is reported on stderr. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[perfbench] MISMATCH $what") }
  }
}

trait Workload {
  def name: String
  /** Untimed input preparation; its results are cached in the work dir. */
  def prepare(ctx: Ctx): Unit = ()
  /** Timed per-session set-up that belongs to this workload. */
  def setup(spark: SparkSession, ctx: Ctx): Unit = ()
  def run(ctx: Ctx, out: Outcome): Unit

  /** Passes until `ctx.seconds` have passed, at least one. The first pass
    * runs in a fresh JVM, as a command-line load or query does; on this
    * benchmark's inputs a cold pass spreads no more from run to run than a
    * warmed one. A traced run makes exactly one pass, traced: the same cold
    * pass the untraced runs time, so its layer metrics describe what
    * `batch_s` measures, and its time (`trace.batch_s`) minus the untraced
    * runs' `batch_s` is the tracing overhead (`compare.py --overhead`).
    * Each pass adds one entry to `out.batches`.
    */
  protected def measure(ctx: Ctx, out: Outcome)(pass: Ctx => Unit): Unit =
    if (ctx.trace.enabled) {
      pass(ctx)
      out.layer("trace.batch_s") = out.batches.last
    } else {
      val t0 = System.nanoTime()
      do pass(ctx) while ((System.nanoTime() - t0) / 1e9 < ctx.seconds)
    }

  /** Collect garbage before a timed operation, so that a collection the
    * previous one left pending does not land inside it.
    */
  protected def quiesce(): Unit = System.gc()
}

object Workloads {
  val all: Seq[Workload] = Seq(IngestCycle, NeardupGraph)

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** (data files, bytes) under `dir`. */
  def files(spark: SparkSession, dir: String): (Long, Long) = {
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(new Path(dir))) return (0L, 0L)
    val it = f.listFiles(new Path(dir), true)
    var (n, b) = (0L, 0L)
    while (it.hasNext) {
      val s = it.next()
      if (s.getPath.getName.endsWith(".parquet")) { n += 1; b += s.getLen }
    }
    (n, b)
  }

  def rmrf(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(q => java.nio.file.Files.delete(q))
  }

  /** The VGSI source reading from [[PageStore]], rate limit off. */
  def source: VgsiSource = VgsiSource("https://bench.test/", (_, pid) => PageStore.fetch(pid), ratePerSec = 0)

  def config(cores: Int): IngestConfig = IngestConfig(workers = cores)

  /** Spark counters of the traced ops, summed into the spark.* and plan.* metrics. */
  def sparkLayer(t: Trace, out: Outcome): Unit = {
    val cs = t.ops.values.toSeq
    val wallMs = t.opWallNs.values.sum / 1e6
    def s(f: SparkCounts => Long, scale: Double) = cs.map(f).sum / scale
    out.layer ++= Seq(
      "spark.jobs" -> s(_.jobs, 1), "spark.stages" -> s(_.stages, 1), "spark.tasks" -> s(_.tasks, 1),
      "spark.job_wall_s" -> s(_.jobWallMs, 1e3),
      "spark.driver_gap_s" -> math.max(0.0, wallMs - cs.map(_.jobWallMs).sum) / 1e3,
      "spark.sched_delay_s" -> s(_.schedDelayMs, 1e3), "spark.task_run_s" -> s(_.taskRunMs, 1e3),
      "spark.task_cpu_s" -> s(_.taskCpuNs, 1e9), "spark.shuffle_read_bytes" -> s(_.shuffleRead, 1),
      "spark.shuffle_write_bytes" -> s(_.shuffleWrite, 1), "spark.spill_bytes" -> s(_.spill, 1),
      "plan.analysis_s" -> s(_.analysisMs, 1e3), "plan.optimization_s" -> s(_.optimizationMs, 1e3),
      "plan.planning_s" -> s(_.planningMs, 1e3))
  }

  /** Time one named query of SparkEntry, digest its result and check the
    * digest against the pinned value.
    */
  def query(ctx: Ctx, out: Outcome, name: String): Double = {
    val fn = graft.SparkEntry.queries(name)
    val (got, secs) = time(Try(ctx.trace.op(s"query.$name")(Digest.of(fn(ctx.spark, ctx.dataDir)))))
    Main.log(f"$name $secs%.3f s")
    got.failed.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
    out.check(got.toOption.exists(ctx.expected.matches(name, _)), s"$name: got ${got.toOption.orNull}")
    secs
  }
}


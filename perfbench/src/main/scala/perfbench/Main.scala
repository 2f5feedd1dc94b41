package perfbench

import java.lang.management.ManagementFactory

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One benchmark run: `--workload NAME --seed N --seconds S --trace 0|1
  * --repo DIR --work DIR`. Prints the result as one JSON line on
  * stdout (see perfbench/run.py, which builds the classpath and starts this
  * JVM).
  */
object Main {
  private val t0 = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f] $msg")

  val perLayer: Seq[String] = Seq(
    "sources.parse_s", "sources.flatten_s", "sources.rows_flattened",
    "ingest.run_load_s", "ingest.run_refresh_s", "ingest.fetches_per_entry", "ingest.entries_invalid",
    "ingest.entries_errored", "ingest.jobs_per_batch",
    "lake.stamp_append_s", "lake.rows_written", "lake.rows_skipped", "lake.write_useful_ratio",
    "lake.bytes_written", "lake.files_written", "lake.checkpoint_s", "lake.lease_s", "lake.compact_s",
    "lake.files_before_compact", "lake.files_after_compact", "lake.bytes_rewritten", "lake.bytes_per_row",
    "lake.read_s",
    "scd.refresh_dedup_s", "scd.current_state_s", "scd.versions_s", "scd.changed_since_s", "scd.as_of_s",
    "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_wall_s", "spark.driver_gap_s",
    "spark.sched_delay_s", "spark.task_run_s", "spark.task_cpu_s", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes",
    "requests.lookup_p50_s", "requests.scan_p50_s", "host.canary_s", "host.peak_rss_mb",
    "trace.batch_s") ++
    NeardupGraph.Queries.flatMap(q => Seq(s"operators.$q.s", s"operators.$q.jobs", s"operators.$q.shuffle_bytes"))

  def unit(metric: String): String =
    if (metric.endsWith("_s") || metric.endsWith(".s")) "s"
    else if (metric.endsWith("_mb")) "MB"
    else if (metric.contains("bytes")) "bytes"
    else if (metric.endsWith("_ratio") || metric.endsWith("_per_entry") || metric.endsWith("_per_batch")) "ratio"
    else "count"

  def session(work: String, cores: Int): SparkSession = {
    val s = GraftSession.configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
    ).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftSqlFunctions.register(s)
    s
  }

  /** A first small job, so a session counts as set up once it has run one. */
  def warmUp(s: SparkSession): Unit = s.range(1000).agg(sum(col("id"))).collect()

  /** A fixed CPU-bound job, run after the workload on a warm JVM; its time
    * marks runs taken on a loaded host.
    */
  def canary(s: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    s.range(0, 64000000L, 1, cores).select(sum(xxhash64(col("id")))).collect()
    (System.nanoTime() - t0) / 1e9
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = Workloads.all.find(_.name == opts("workload"))
      .getOrElse(throw new IllegalArgumentException(s"unknown workload ${opts("workload")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = new Trace(opts.getOrElse("trace", "0") == "1")
    val work = new java.io.File(opts("work")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val dataDir = s"$work/data"
    new java.io.File(dataDir).mkdirs()
    val expected = new Expected(s"${opts("repo")}/perfbench/expected.json")

    // Set-up is timed once, cold, from the start of this JVM: only the
    // first session of a JVM pays class loading, JIT warm-up and the first
    // initialisation of graft's extensions and SQL functions, as a
    // command-line load, refresh or query does. Inputs are generated (and
    // cached across runs) afterwards, outside the timing.
    val jvmStartS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val setupStart = System.nanoTime()
    val spark = session(work, cores)
    val ctx = Ctx(spark, seed, seconds, trace, cores, dataDir, work, expected)
    workload.setup(spark, ctx)
    warmUp(spark)
    val setupSecs = jvmStartS + (System.nanoTime() - setupStart) / 1e9
    log(f"setup (from JVM start): $setupSecs%.3f s")
    workload.prepare(ctx)
    log("inputs ready")
    trace.setup(spark)
    val out = new Outcome
    workload.run(ctx, out)
    canary(spark, cores)
    val canarySecs = canary(spark, cores)

    val metrics: Seq[(String, Double, String)] =
      if (!trace.enabled) Seq(
        ("setup_s", setupSecs, "s"),
        ("batch_s", Stats.median(out.batches.toSeq), "s"))
      else {
        out.layer("host.canary_s") = canarySecs
        out.layer("host.peak_rss_mb") = peakRssMb()
        perLayer.map(m => (m, out.layer.getOrElse(m, 0.0), unit(m)))
      }
    val stamp = s"${workload.name}-s$seed-t${if (trace.enabled) 1 else 0}"
    new java.io.File(s"$work/runs").mkdirs()
    trace.writeSpans(s"$work/runs/$stamp.spans.jsonl")
    def arr(xs: Iterable[Double]) = xs.map(x => f"$x%.6f").mkString("[", ",", "]")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/runs/$stamp.json"),
      (s"""{"workload":"${workload.name}","seed":$seed,"cores":$cores,"setup_s":$setupSecs,""" +
        s""""batches":${arr(out.batches)},"canary_s":$canarySecs,""" +
        s""""layer":{${out.layer.map { case (k, v) => s""""$k":$v""" }.mkString(",")}}}""" + "\n").getBytes("UTF-8"))
    log(f"host.canary_s $canarySecs%.4f, batches ${arr(out.batches)}")
    val m = metrics.map { case (k, v, u) => s""""$k": {"value": $v, "unit": "$u"}""" }.mkString(", ")
    // a run that checked nothing counts as one failed operation
    val (attempted, failed) = if (out.attempted == 0) (1L, 1L) else (out.attempted, out.failed)
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$m}}""")
    spark.stop()
  }
}

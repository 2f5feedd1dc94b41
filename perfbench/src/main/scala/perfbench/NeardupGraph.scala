package perfbench

/** Iterative operators: connected components (q62 near-duplicate
  * clusters, q87 best document per cluster) and PageRank (q138) over the
  * near-duplicate graph of the generated corpus. Each query is a chain of
  * small Spark jobs. One pass runs every query once, in a fixed order,
  * with the session cache cleared before each, and checks its output
  * against the pinned digest. The corpus is fixed, so the outputs can be
  * pinned; the seed changes nothing here.
  */
object NeardupGraph extends Workload {
  import Workloads._
  val name = "neardup_graph"
  val Queries = Seq("q62_neardup_clusters", "q87_cluster_best", "q138_host_pagerank")

  override def prepare(ctx: Ctx): Unit = TestData.materialize(ctx.spark, ctx.dataDir)

  override def run(ctx: Ctx, out: Outcome): Unit = {
    measure(ctx, out) { c =>
      val times = Queries.map { q =>
        c.spark.sharedState.cacheManager.clearCache()
        quiesce()
        query(c, out, q)
      }
      out.batches += times.sum
    }
    if (ctx.trace.enabled) {
      Queries.foreach { q =>
        val c = ctx.trace.ops(s"query.$q")
        out.layer ++= Seq(s"operators.$q.s" -> ctx.trace.seconds(s"query.$q"),
          s"operators.$q.jobs" -> c.jobs.toDouble,
          s"operators.$q.shuffle_bytes" -> (c.shuffleRead + c.shuffleWrite).toDouble)
      }
      sparkLayer(ctx.trace, out)
    }
  }
}

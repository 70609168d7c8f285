package perfbench

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

import graft.{Bench, SparkEntry, Watchdog}

/** Closed-loop registry queries (the offline half of `recsys_stream`):
  * one client runs a fixed, ordered query list. Each query is a cold
  * plan build (the registry call, which also runs any eager checkpoint
  * chain, plus forcing `executedPlan`) and one action, under
  * `graft.Watchdog.run` with a limit inside the run's deadline, so a hang
  * is a counted failure; then `Bench.releaseAll` as the harness does
  * between queries. */
final class QueryWorkload(spark: SparkSession, rec: Rec, probe: Probe,
                          budget: Budget, dataDir: String, names: Seq[String]) {

  private val registry = SparkEntry.queries

  def pass(workload: String, pass: Int): Unit =
    names.foreach(runOne(workload, pass, _))

  private def runOne(workload: String, pass: Int, name: String): Unit = {
    val fn = registry(name)
    var digest: Map[String, Any] = null
    var exchanges = -1
    val t0 = Clock.us
    val gc0 = GcWatch.collectedMs
    val err = rec.span(s"query:$name") {
      val e = Watchdog.run(spark, name, budget.opSeconds) {
        // the registry call runs the query's eager checkpoint chains
        val df = rec.span("queries.build")(fn(spark, dataDir))
        rec.span("queries.plan")(df.queryExecution.executedPlan)
        val (d, agg) = rec.span("queries.exec")(Digest.of(df))
        digest = d
        exchanges = Digest.exchanges(agg)
      }
      val t2 = Clock.us
      val gcMs = GcWatch.collectedMs - gc0
      Bus.drain(spark.sparkContext)
      val persisted = spark.sparkContext.getPersistentRDDs.size
      rec.span("functions.release")(Bench.releaseAll(spark))
      Bus.drain(spark.sparkContext)
      rec.op("workload" -> workload, "pass" -> pass, "name" -> name,
        "kind" -> "query", "start_us" -> t0, "end_us" -> t2, "gc_ms" -> gcMs,
        "persisted_rdds" -> persisted,
        "peak_storage_bytes" -> probe.takePeakStorage(),
        "exchanges" -> exchanges, "group" -> s"graft-watchdog-$name",
        "ok" -> (e.isEmpty && digest != null), "err" -> e)
      e
    }
    if (err.isEmpty && digest != null) rec.check("query", name, digest)
  }
}

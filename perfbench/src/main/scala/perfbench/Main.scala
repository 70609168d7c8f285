package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

import graft.{Bench, SparkEntry, Watchdog}
import graft.app.JobSession

/** One benchmark run inside one JVM: set up, run the workload's measured
  * passes, and write every raw measurement as JSON for run.py.
  *
  * `Main --workload W --data DIR --inputs DIR --work DIR --out FILE
  *  --passes P --trace 0|1 --spawn-us T --deadline-us D` */
object Main {

  /** The offline half of `recsys_stream`: the recommendation core. */
  val recsys: Seq[String] = Seq(
    "q219_item_cf", "q36_co_occurrence", "q223_association_rules",
    "q82_pagerank")

  /** Set-ups per run: the cold one from the JVM's spawn, then rebuilds. */
  val setups = 4
  val warmupQuery = "q01_pricing_summary"

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val data = a("data")
    val work = a("work")
    val trace = a("trace") == "1"
    val measured = a("passes").toInt
    val budget = new Budget(a("deadline-us").toLong)
    val rec = new Rec
    GcWatch.install()

    // set-up: the first one counts from the JVM's spawn; each later one
    // stops the session and builds it again, with the same warm-up
    var spark: SparkSession = null
    val setupUs = (0 until setups).map { i =>
      val t0 = if (i == 0) a("spawn-us").toLong else Clock.us
      if (spark != null) spark.stop()
      spark = JobSession.build("perfbench")
      val warm = Watchdog.run(spark, "warmup", budget.opSeconds) {
        SparkEntry.queries(warmupQuery)(spark, data).count()
      }
      require(warm.isEmpty, s"warm-up failed: ${warm.get}")
      Bench.releaseAll(spark)
      Clock.us - t0
    }
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    GcWatch.resetPeak()

    // Exactly the measured passes; the first is cold like a job's CLI
    // launch. A traced run traces them all, so it compares with the
    // untraced runs' passes.
    def passes(body: Int => Unit): Unit =
      (1 to measured).foreach { p =>
        rec.run = p
        rec.traced = trace
        body(p)
        rec.traced = false
      }
    workload match {
      case "medallion" =>
        val m = new MedallionWorkload(spark, rec, probe, budget, data,
          a("inputs"), work)
        passes(p => m.pass(workload, p))
      case "recsys_stream" =>
        val q = new QueryWorkload(spark, rec, probe, budget, data, recsys)
        passes(p => q.pass(workload, p))
        rec.run = 0
        rec.traced = trace
        new StreamWorkload(spark, rec, budget, work,
          s"${a("inputs")}/stream_events.tsv").run()
      case other => sys.error(s"unknown workload $other")
    }
    Bus.drain(spark.sparkContext)

    val rt = Runtime.getRuntime
    val out = Map(
      "workload" -> workload, "trace" -> trace,
      "host" -> java.net.InetAddress.getLocalHost.getHostName,
      "cores" -> rt.availableProcessors(),
      "master" -> spark.sparkContext.master,
      "heap_max_bytes" -> rt.maxMemory(),
      "setup_us" -> setupUs, "peak_old_gen_bytes" -> GcWatch.peakOldAfterGc,
      "ops" -> rec.ops.toSeq, "spans" -> rec.spans.toSeq,
      "checks" -> rec.checks.toSeq, "jobs" -> probe.snapshot,
      "extra" -> rec.extra)
    Files.writeString(Paths.get(a("out")), Json(out))
    spark.stop()
  }
}

/** Time limits under the run's deadline (when run.py kills the JVM), so
  * that a hung operation ends as a counted failure, not a killed run. */
final class Budget(deadlineUs: Long) {
  /** Time kept back for the checks, the stream and writing the output. */
  val reserveSec = 40L
  /** The longest any single operation may take. */
  val opCapSec = 60L

  def leftSec: Long = (deadlineUs - Clock.us) / 1000000L - reserveSec

  /** Watchdog limit for the next operation; at least one second, so an
    * operation that starts after the budget ran out fails at once. */
  def opSeconds: Long = math.max(1L, math.min(opCapSec, leftSec))
}

/** Post-GC old-generation peak, from the JVM's GC notifications, and the
  * JVM-wide collection time, from the collector beans. */
object GcWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  @volatile var peakOldAfterGc = 0L
  private lazy val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def install(): Unit = beans.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener(new NotificationListener {
        override def handleNotification(n: Notification, h: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[CompositeData])
            info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
              if (pool.contains("Old Gen") && u.getUsed > peakOldAfterGc)
                peakOldAfterGc = u.getUsed
            }
          }
      }, null, null)
    case _ =>
  }

  def resetPeak(): Unit = peakOldAfterGc = 0L

  /** Total collection time of the JVM so far, in milliseconds. */
  def collectedMs: Long = beans.map(_.getCollectionTime).sum
}

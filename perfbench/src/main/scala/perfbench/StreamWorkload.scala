package perfbench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.io.Source

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.streaming.{Features, Monitor}
import graft.streaming.Features.{Event, FeatureDelta}

/** The open-loop half of `recsys_stream`: one generator thread appends
  * seeded events to a `MemoryStream` on a fixed schedule (a warm-up,
  * then a ladder of rates). Each event is stamped with the time it was
  * due. `Features.userFeatureDeltas`
  * runs to a `foreachBatch` sink that records when each micro-batch
  * committed. */
object StreamWorkload {
  /** The generator's append interval; an event's lateness from it is
    * reported as the generator lag. */
  val TickMs = 20L

  private final case class Planned(dueUs: Long, user: String, product: String,
                                   category: String, eventType: String,
                                   price: Double, phase: String)
}

final class StreamWorkload(spark: SparkSession, rec: Rec, budget: Budget,
                           work: String, schedule: String) {
  import StreamWorkload.Planned

  private val plan: IndexedSeq[Planned] = {
    val src = Source.fromFile(schedule)
    try src.getLines().map(_.split('\t')).map(a =>
      Planned(a(0).toLong, a(1), a(2), a(3), a(4), a(5).toDouble, a(6)))
      .toIndexedSeq
    finally src.close()
  }

  /** The benchmark's own StreamingQueryListener: per-batch progress,
    * including the state operator's rows, memory and commit time. */
  private final class Progress extends StreamingQueryListener {
    val batches = ArrayBuffer.empty[Map[String, Any]]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val st = p.stateOperators.headOption
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      synchronized {
        batches += Map(
          "batch" -> p.batchId, "rows" -> p.numInputRows,
          "trigger_ms" -> ms("triggerExecution"),
          "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
          "state_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
          "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L))
      }
    }
  }

  def run(): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Event]
    val sinkBatches = ArrayBuffer.empty[Map[String, Any]]
    val deltas = ArrayBuffer.empty[FeatureDelta]
    @volatile var processed = 0L
    val progress = new Progress
    spark.streams.addListener(progress)
    val monitor = Monitor.attach(spark)
    val query = Features.userFeatureDeltas(mem.toDS())
      .writeStream.outputMode("append").queryName("perfbench_features")
      .option("checkpointLocation", s"$work/stream_ckpt")
      .foreachBatch { (ds: Dataset[FeatureDelta], id: Long) =>
        val t0 = Clock.us
        val rows = rec.span("streaming.batch")(ds.collect())
        val t1 = Clock.us
        val events = rows.count(_.kind == "event")
        sinkBatches.synchronized {
          deltas ++= rows
          processed += events
          sinkBatches += Map("batch" -> id, "start_us" -> t0,
            "commit_us" -> t1, "events" -> events, "rows" -> rows.length)
        }
        ()
      }
      .start()
    // align the schedule's zero on a whole millisecond so the per-user
    // distinct-millisecond property of the schedule survives the shift
    val baseUs = (Clock.us / 1000 + 200) * 1000
    val sends = ArrayBuffer.empty[Map[String, Any]]
    val events = plan.map(p => Event(p.user, p.product, p.category,
      p.eventType, p.price, new Timestamp((baseUs + p.dueUs) / 1000)))
    val generator = new Thread(() => {
      // one append per tick: every MemoryStream append becomes one more
      // relation in the next micro-batch's plan, so per-event appends
      // would make planning, not the state store, the bottleneck
      var i = 0
      while (i < plan.length) {
        val now = Clock.us - baseUs
        if (plan(i).dueUs > now) {
          val waitUs = math.max(plan(i).dueUs - now, 1000L)
          Thread.sleep(waitUs / 1000, ((waitUs % 1000) * 1000).toInt)
        } else {
          var j = i
          while (j < plan.length && plan(j).dueUs <= now) j += 1
          mem.addData(events.slice(i, j))
          sends += Map("first" -> i, "count" -> (j - i), "send_us" -> Clock.us)
          i = j
          Thread.sleep(StreamWorkload.TickMs)
        }
      }
    }, "perfbench-generator")
    generator.setDaemon(true)
    generator.start()
    generator.join()
    // the sink may drain until half the run's reserve is left, at most
    // one operation's limit
    val drainSec = math.max(1L, math.min(budget.opCapSec,
      budget.leftSec + budget.reserveSec / 2))
    val deadline = System.nanoTime() + drainSec * 1000000000L
    while (processed < plan.length && System.nanoTime() < deadline &&
      query.exception.isEmpty) Thread.sleep(5)
    query.stop()
    spark.streams.removeListener(progress)
    val mon = monitor.snapshot.values.headOption
    monitor.detach(spark)
    rec.traced = false
    query.exception.foreach(e => rec.extra("stream_error") = e.getMessage.take(300))

    // the stream's deltas must equal the batch form over the same events
    val batch = Features.userFeatureDeltas(spark.createDataset(events)).collect()
    def key(d: FeatureDelta) = (d.user_id, d.kind, d.events_in_session,
      d.categories_explored, d.cart_size, d.session_duration_s)
    val got = deltas.map(key).groupBy(identity).view.mapValues(_.size).toMap
    val want = batch.map(key).groupBy(identity).view.mapValues(_.size).toMap
    val mismatched = (got.keySet ++ want.keySet)
      .count(k => got.getOrElse(k, 0) != want.getOrElse(k, 0))
    rec.check("stream", "deltas", Map("rows" -> deltas.size,
      "batch_rows" -> batch.length, "mismatched_keys" -> mismatched))
    rec.extra("stream") = Map(
      "base_us" -> baseUs, "sends" -> sends.toSeq,
      "sink_batches" -> sinkBatches.toSeq, "progress" -> progress.batches.toSeq,
      "monitor_batches" -> mon.map(_.batches).getOrElse(0L),
      "processed" -> processed, "planned" -> plan.length)
  }
}

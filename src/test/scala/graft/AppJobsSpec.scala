package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.app.{GoldJob, SilverJob, StreamJob}
import graft.sources.Medallion

/** End-to-end lifecycle test (SURVEY §7.7): seeded bronze JSONL for all
  * three topics → SilverJob (quality score + run metadata) → GoldJob
  * (gate + four gold tables) → read-back assertions, plus the StreamJob
  * landing flow. Mirrors `main_pipeline.py:69-199` /
  * `gold_pipeline.py:352-396` composition.
  */
class AppJobsSpec extends SparkSpec {

  private def seed(): String = {
    val root = Files.createTempDirectory("graft_e2e").toString
    def write(rel: String, lines: Seq[String]): Unit = {
      val dir = new java.io.File(s"$root/$rel")
      dir.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(dir, "part-0.json").toPath, lines.mkString("\n"))
    }
    write("bronze/topics/clickstream-events", Seq(
      """{"event_id":"e1","user_id":"1","session_id":"s1","event_type":"page_view","item_id":"A","timestamp":"2025-09-05T12:00:00Z","price":10.0,"device_type":"mobile","category":"toys"}""",
      """{"event_id":"e2","user_id":"1","session_id":"s1","event_type":"click","item_id":"A","timestamp":"2025-09-05T12:00:10Z","price":10.0,"category":"toys"}""",
      """{"event_id":"e3","user_id":"2","session_id":"s2","event_type":"purchase","item_id":"B","timestamp":"2025-09-05T12:01:00Z","price":25.0,"quantity":2,"category":"books"}""",
      """{"event_id":"e4","user_id":null,"event_type":"view","item_id":"C","timestamp":"2025-09-05T12:02:00Z"}""",
      """{not json"""))
    write("bronze/topics/user-events", Seq(
      """{"user_id":"1","timestamp":"2025-09-01T00:00:00Z","age":30,"total_purchases":3,"total_spent":120.0,"avg_order_value":40.0,"created_at":"2024-01-01T00:00:00Z"}""",
      """{"user_id":"2","timestamp":"2025-09-01T00:00:00Z","age":40,"total_purchases":12,"total_spent":900.0,"avg_order_value":75.0,"created_at":"2023-01-01T00:00:00Z"}"""))
    write("bronze/topics/product-events", Seq(
      """{"product_id":"A","timestamp":"2025-09-01T00:00:00Z","name":"Toy","category":"toys","price":10.0,"stock_quantity":5,"rating":4.5}""",
      """{"product_id":"B","timestamp":"2025-09-01T00:00:00Z","name":"Book","category":"books","price":25.0,"stock_quantity":0,"rating":3.0}"""))
    root
  }

  test("SilverJob → GoldJob end-to-end over the seeded bronze fixture") {
    val root = seed()
    val silverResults = SilverJob.run(spark, s"$root/bronze",
      s"$root/silver", s"$root/meta")
    assert(silverResults.size == 3)
    assert(silverResults.forall(_.success), silverResults.mkString("; "))
    val click = silverResults.find(_.topic == "clickstream").get
    // e4 (null user) dropped after parse; the corrupt line is dropped by
    // wellFormed: 3 of 5 raw → quality 0.6, still written. The raw 5
    // is observed on the bronze scan, so it counts the malformed line.
    assert(click.recordsRead == 5)
    assert(click.recordsProcessed == 3)
    assert(math.abs(click.qualityScore - 0.6) < 1e-9)

    val goldResults = GoldJob.run(spark, s"$root/silver", s"$root/gold",
      s"$root/meta")
    assert(goldResults.keySet == Set("user_summary", "product_summary",
      "daily_stats", "engagement_metrics", "enriched_events"))
    assert(goldResults.values.forall(identity))

    val userSummary = Medallion.readTable(spark, s"$root/gold/user_summary")
    assert(userSummary.count() == 2)
    val u1 = userSummary.filter(col("user_id") === "1").head()
    assert(u1.getAs[Long]("total_events") == 2)
    assert(u1.getAs[String]("preferred_device") == "mobile")

    val enriched = Medallion.readTable(spark, s"$root/gold/enriched_events")
    assert(enriched.count() == 3)
    // star join picked up the user dimension segment
    assert(enriched.filter(col("user_id") === "2")
      .select("customer_segment").head().getString(0) != null)

    // run-metadata checkpoint: one row per silver topic + 1 gold row
    val meta = Medallion.readTable(spark, s"$root/meta")
    assert(meta.count() == 4)
    assert(meta.filter(col("pipeline").startsWith("silver:"))
      .select("pipeline").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("silver:clickstream", "silver:product", "silver:user"))
    assert(meta.filter(col("pipeline") === "silver:clickstream")
      .select("valid_records").head().getLong(0) == 3)
  }

  test("SilverJob with one topic's bronze missing: the others still land") {
    val root = seed()
    val product = new java.io.File(s"$root/bronze/topics/product-events")
    product.listFiles().foreach(_.delete())
    assert(product.delete())
    val results = SilverJob.run(spark, s"$root/bronze", s"$root/silver",
      s"$root/meta")
    // topic order, whatever order the concurrent topics finished in
    assert(results.map(_.topic) == SilverJob.topics.map(_.name))
    assert(results.map(_.success) == Seq(true, true, false))
    val p = results.last
    assert(p.recordsRead == 0 && p.error.exists(_.contains("No bronze")))
    assert(results.head.recordsRead == 5)
    assert(!new java.io.File(s"$root/silver/product_events_silver").exists())
    // exactly one run-metadata row per SUCCESSFUL topic
    val pipelines = Medallion.readTable(spark, s"$root/meta")
      .select("pipeline").collect().map(_.getString(0)).sorted.toSeq
    assert(pipelines == Seq("silver:clickstream", "silver:user"))
  }

  test("SilverJob: a topic with no valid records writes nothing") {
    val root = seed()
    // clickstream: malformed lines only; user: the dir holds no files
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      s"$root/bronze/topics/clickstream-events/part-0.json"),
      "{not json\n{also not json")
    new java.io.File(s"$root/bronze/topics/user-events/part-0.json").delete()
    val results = SilverJob.run(spark, s"$root/bronze", s"$root/silver",
      s"$root/meta")
    val Seq(click, user, product) = results
    assert(!click.success && click.recordsRead == 2 &&
      click.recordsProcessed == 0, click)
    assert(click.error.exists(_.contains("No valid records")))
    assert(!user.success && user.recordsRead == 0, user)
    assert(product.success)
    assert(!new java.io.File(s"$root/silver/clickstream_silver").exists())
    assert(!new java.io.File(s"$root/silver/user_events_silver").exists())
    assert(Medallion.readTable(spark, s"$root/meta").select("pipeline")
      .collect().map(_.getString(0)).toSeq == Seq("silver:product"))
  }

  test("a failed gate reports the same table keys as a passing one") {
    val root = seed()
    SilverJob.run(spark, s"$root/bronze", s"$root/silver", s"$root/meta")
    // no validity rate reaches 1.01: the gate fails with both dims present
    val results = GoldJob.run(spark, s"$root/silver", s"$root/gold",
      s"$root/meta", gateThreshold = 1.01)
    assert(results.keySet == Set("user_summary", "product_summary",
      "daily_stats", "engagement_metrics", "enriched_events"))
    assert(results.values.forall(v => !v))
    assert(!new java.io.File(s"$root/gold").exists())
  }

  test("GoldJob aborts when the quality gate fails") {
    val root = Files.createTempDirectory("graft_gate").toString
    import spark.implicits._
    // mostly-invalid silver batch: null user_id on 2 of 3 rows
    val bad = Seq(
      (null.asInstanceOf[String], "view", "A", "s1",
        java.sql.Timestamp.valueOf("2025-09-05 12:00:00"), 1, 10.0, "e1", false),
      (null.asInstanceOf[String], "view", "B", "s2",
        java.sql.Timestamp.valueOf("2025-09-05 12:00:01"), 1, 10.0, "e2", false),
      ("3", "view", "C", "s3",
        java.sql.Timestamp.valueOf("2025-09-05 12:00:02"), 1, 10.0, "e3", false))
      .toDF("user_id", "event_type", "product_id", "session_id", "ts",
        "event_weight", "product_price", "event_id", "is_mobile")
      .withColumn("device_type", lit("desktop"))
      .withColumn("product_category", lit("x"))
      .withColumn("date", to_date(col("ts")))
    Medallion.writePartitioned(bad, s"$root/silver/clickstream_silver")
    val results = GoldJob.run(spark, s"$root/silver", s"$root/gold",
      s"$root/meta")
    assert(results.nonEmpty && results.values.forall(v => !v))
    assert(!new java.io.File(s"$root/gold/user_summary").exists())
  }

  test("StreamJob lands bronze JSONL into y/m/d/h partitions") {
    val root = seed()
    StreamJob.run(spark, s"$root/bronze/topics/clickstream-events",
      s"$root/landing", s"$root/ckpt")
    val landed = spark.read.json(s"$root/landing")
    // 4 parseable rows land (the corrupt line is dropped by the source)
    assert(landed.count() == 4)
    assert(new java.io.File(
      s"$root/landing/year=2025/month=9/day=5/hour=12").exists())
  }
}

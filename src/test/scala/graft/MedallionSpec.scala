package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.gold.Gold
import graft.schema.Schemas
import graft.silver.Silver
import graft.sources.Medallion

/** End-to-end medallion slice on the FIXTURES.md A1 seeded sample:
  * bronze JSONL (with one malformed + one invalid row added) → silver
  * clickstream → gold user summary. Pins the reference's cleaning
  * semantics: malformed-line skip (S2), required-field drop (P1),
  * normalization (page_view→view, item_id→product_id), weights (P11),
  * weekend/hour features, keep-first dedup. */
class MedallionSpec extends SparkSpec {

  private def seedBronze(): String = {
    val dir = Files.createTempDirectory("graft_bronze").toFile
    val f = new java.io.File(dir, "part-0.json")
    val lines = Seq(
      """{"event_id":"e1","user_id":"1","event_type":"page_view","item_id":"A","timestamp":"2025-09-05T12:00:00Z","url":"/home","device_type":"mobile"}""",
      """{"event_id":"e2","user_id":"1","event_type":"click","item_id":"A","timestamp":"2025-09-05T12:00:10Z","url":"/product/A"}""",
      """{"event_id":"e3","user_id":"2","event_type":"page_view","item_id":"B","timestamp":"2025-09-05T12:01:00Z","url":"/home"}""",
      """{"event_id":"e4","user_id":"1","event_type":"purchase","item_id":"A","timestamp":"2025-09-05T12:02:00Z","url":"/checkout","price":25.0,"quantity":2}""",
      """{"event_id":"e5","user_id":null,"event_type":"view","item_id":"C","timestamp":"2025-09-05T12:03:00Z"}""",
      """{this is not json""")
    java.nio.file.Files.writeString(f.toPath, lines.mkString("\n"))
    dir.getAbsolutePath
  }

  test("bronze scan parses good lines, flags corrupt, adds metadata") {
    // cache before querying _corrupt_record alone (Spark disallows
    // corrupt-column-only queries on raw JSON scans)
    val bronze = Medallion.readBronze(spark, Schemas.clickstream,
      seedBronze()).cache()
    assert(bronze.count() == 6)
    assert(bronze.filter(col("_corrupt_record").isNotNull).count() == 1)
    assert(Medallion.wellFormed(bronze).count() == 5)
    assert(bronze.select("_source_file").head().getString(0)
      .endsWith("part-0.json"))
  }

  test("csv bronze: clean lines parse, malformed lines quarantine") {
    val dir = Files.createTempDirectory("graft_csv").toFile
    java.nio.file.Files.writeString(
      new java.io.File(dir, "part-0.csv").toPath,
      Seq("event_id,cohort,cents",
        "1,2,300",
        "not,a,number", // BIGINT parse failure -> corrupt
        "2,7,-50").mkString("\n"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, cohort BIGINT, cents BIGINT")
    val bronze = Medallion.readCsvBronze(
      spark, schema, dir.getAbsolutePath).cache()
    assert(bronze.count() == 3)
    assert(bronze.filter(col("_corrupt_record").isNotNull).count() == 1)
    val good = Medallion.wellFormed(bronze)
      .select("event_id", "cohort", "cents").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(good.toSeq == Seq((1L, 2L, 300L), (2L, 7L, -50L)))
    assert(bronze.select("_source_file").head().getString(0)
      .endsWith("part-0.csv"))
  }

  test("silver clickstream: normalization, cleaning, features") {
    val silver = Silver.clickstream(
      Medallion.wellFormed(
        Medallion.readBronze(spark, Schemas.clickstream, seedBronze())))
    // e5 dropped (null user_id); 2025-09-05 is a Friday
    assert(silver.count() == 4)
    val byId = silver.collect()
      .map(r => r.getAs[String]("event_id") -> r).toMap
    assert(byId("e1").getAs[String]("event_type") == "view")
    assert(byId("e2").getAs[String]("event_type") == "click")
    assert(byId("e1").getAs[String]("product_id") == "A")
    assert(byId("e1").getAs[String]("page_url") == "/home")
    assert(byId("e1").getAs[Int]("hour") == 12)
    assert(byId("e1").getAs[String]("day_of_week") == "Friday")
    assert(!byId("e1").getAs[Boolean]("is_weekend"))
    assert(byId("e1").getAs[Boolean]("is_mobile"))
    assert(!byId("e2").getAs[Boolean]("is_mobile")) // null device -> false
    assert(byId("e1").getAs[Int]("event_weight") == 1)
    assert(byId("e2").getAs[Int]("event_weight") == 2)
    assert(byId("e4").getAs[Int]("event_weight") == 10)
    assert(byId("e4").getAs[Boolean]("is_purchase"))
    assert(byId("e4").getAs[Double]("purchase_value") == 50.0)
  }

  test("gold user summary over the silver fixture") {
    val silver = Silver.clickstream(
      Medallion.wellFormed(
        Medallion.readBronze(spark, Schemas.clickstream, seedBronze())))
    val gold = Gold.userSummary(silver)
    val u1 = gold.filter(col("user_id") === "1").head()
    assert(u1.getAs[Long]("total_events") == 3)
    assert(u1.getAs[Long]("products_viewed") == 1)
    assert(u1.getAs[Long]("total_engagement") == 13) // 1+2+10
    assert(u1.getAs[String]("preferred_device") == "mobile")
    val u2 = gold.filter(col("user_id") === "2").head()
    assert(u2.getAs[Long]("total_events") == 1)
    assert(u2.getAs[String]("activity_level") == "Low")
  }

  test("gold daily stats + engagement metrics shapes") {
    val silver = Silver.clickstream(
      Medallion.wellFormed(
        Medallion.readBronze(spark, Schemas.clickstream, seedBronze())))
    val daily = Gold.dailyStats(silver).head()
    assert(daily.getAs[Long]("daily_active_users") == 2)
    assert(daily.getAs[Long]("total_events") == 4)
    assert(daily.getAs[Long]("mobile_events") == 1)
    val eng = Gold.engagementMetrics(silver).collect()
      .map(r => r.getAs[String]("event_type") ->
        r.getAs[Double]("event_pct")).toMap
    assert(eng("view") == 50.0)
    assert(eng.values.sum == 100.0)
  }

  test("A8: product category pick is partition-order independent") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      // latest event with a category is e4 ("late"); e5 is later but null
      ("p1", "u1", "s1", 1, 10.0, Some("early"), ts("2025-09-05 10:00:00"), "e1"),
      ("p1", "u2", "s2", 1, 10.0, None, ts("2025-09-05 11:00:00"), "e2"),
      ("p1", "u3", "s3", 1, 10.0, Some("mid"), ts("2025-09-05 12:00:00"), "e3"),
      ("p1", "u4", "s4", 1, 10.0, Some("late"), ts("2025-09-05 13:00:00"), "e4"),
      ("p1", "u5", "s5", 1, 10.0, None, ts("2025-09-05 14:00:00"), "e5"))
    def frame(seq: Seq[(String, String, String, Int, Double,
        Option[String], java.sql.Timestamp, String)], parts: Int) =
      seq.toDF("product_id", "user_id", "session_id", "event_weight",
        "product_price", "product_category", "ts", "event_id")
        .repartition(parts)
    val picks = Seq(
      frame(rows, 1), frame(rows.reverse, 5), frame(rows, 3))
      .map(df => graft.gold.Gold.productSummary(df)
        .select("category").head().getString(0))
    assert(picks.forall(_ == "late"), picks.toString)
  }

  test("D2: silver keep-latest tie-break is partition-order independent") {
    import spark.implicits._
    // two u1 profile snapshots with IDENTICAL (user_id, ts) but
    // different content: without the content-hash tie-break the winner
    // depends on partition layout (the A8 bug class, r2 verdict #5).
    val userLines = Seq(
      """{"user_id":"u1","timestamp":"2025-09-05T12:00:00Z","total_spent":10.0}""",
      """{"user_id":"u1","timestamp":"2025-09-05T12:00:00Z","total_spent":99.0}""",
      """{"user_id":"u2","timestamp":"2025-09-05T12:00:00Z","total_spent":5.0}""")
    def usersOf(parts: Int, seq: Seq[String]) =
      Silver.users(
        spark.read.schema(Schemas.user).json(seq.toDS).repartition(parts))
        .select("user_id", "total_spent").collect()
        .map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1).toSeq
    val u1 = usersOf(1, userLines)
    assert(u1 == usersOf(32, userLines.reverse), u1.toString)

    val productLines = Seq(
      """{"product_id":"p1","timestamp":"2025-09-05T12:00:00Z","price":3.0,"category":"x"}""",
      """{"product_id":"p1","timestamp":"2025-09-05T12:00:00Z","price":7.0,"category":"x"}""")
    def productsOf(parts: Int, seq: Seq[String]) =
      Silver.products(
        spark.read.schema(Schemas.product).json(seq.toDS).repartition(parts))
        .select("product_id", "price").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
    val p1 = productsOf(1, productLines)
    assert(p1 == productsOf(32, productLines.reverse), p1.toString)
  }

  test("partitioned silver write round-trips through the date layout") {
    val silver = Silver.clickstream(
      Medallion.wellFormed(
        Medallion.readBronze(spark, Schemas.clickstream, seedBronze())))
    val out = Files.createTempDirectory("graft_silver").toString
    Medallion.writePartitioned(silver, out)
    assert(new java.io.File(out, "date=2025-09-05").exists())
    assert(Medallion.readTable(spark, out).count() == 4)
  }

  test("date filter prunes partitions at the scan (scale contract)") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_prune").toString
    Medallion.writePartitioned(
      Seq(("a", "2025-09-05"), ("b", "2025-09-06"), ("c", "2025-09-07"))
        .toDF("v", "date"), out)
    val read = Medallion.readTable(spark, out)
      .filter(col("date") === "2025-09-06")
    val plan = read.queryExecution.executedPlan.toString
    // the predicate must land in PartitionFilters (directory pruning —
    // at 100 TB this is the difference between one day and a full scan)
    val scanLine = plan.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("date"), plan)
    assert(read.collect().map(_.getString(0)).toSeq == Seq("b"))
  }

  test("overwritePartitions replaces only the re-run day (idempotent upsert)") {
    import spark.implicits._
    val conf0 = spark.conf.getOption(overwriteKey)
    val out = Files.createTempDirectory("graft_upsert").toString
    Medallion.writePartitioned(
      Seq(("old5", "2025-09-05"), ("old6", "2025-09-06"))
        .toDF("v", "date"), out)
    // re-run day 06 with corrected data, twice (idempotency)
    for (_ <- 1 to 2)
      Medallion.overwritePartitions(
        Seq(("new6", "2025-09-06")).toDF("v", "date"), out)
    // partition discovery types `date=` as DateType on read
    val got = Medallion.readTable(spark, out)
      .collect().map(r => r.getString(0) -> r.get(1).toString).sorted.toSeq
    assert(got == Seq("new6" -> "2025-09-06", "old5" -> "2025-09-05"))
    // dynamic mode is a per-write option: the session value is untouched
    assert(spark.conf.getOption(overwriteKey) == conf0)
  }

  private val overwriteKey = "spark.sql.sources.partitionOverwriteMode"

  test("concurrent overwritePartitions on two tables keep their other days") {
    import spark.implicits._
    val dirs = Seq("a", "b").map(t =>
      Files.createTempDirectory(s"graft_upsert_$t").toString)
    dirs.foreach(d => Medallion.writePartitioned(
      Seq(("old5", "2025-09-05"), ("old6", "2025-09-06")).toDF("v", "date"), d))
    // sample the session value for the whole time the writes run: it
    // must never change, not merely be restored afterwards
    val conf0 = spark.conf.getOption(overwriteKey)
    @volatile var writing = true
    @volatile var confChanged = false
    val sampler = new Thread(() =>
      while (writing) {
        if (spark.conf.getOption(overwriteKey) != conf0) confChanged = true
        Thread.sleep(1)
      })
    sampler.start()
    try graft.functions.Concurrent.inParallel(spark, dirs.map { d => () =>
      for (_ <- 1 to 3)
        Medallion.overwritePartitions(
          Seq(("new6", "2025-09-06")).toDF("v", "date"), d)
    })
    finally { writing = false; sampler.join() }
    dirs.foreach { d =>
      val got = Medallion.readTable(spark, d).collect()
        .map(r => r.getString(0) -> r.get(1).toString).sorted.toSeq
      assert(got == Seq("new6" -> "2025-09-06", "old5" -> "2025-09-05"), d)
    }
    assert(!confChanged)
    assert(spark.conf.getOption(overwriteKey) == conf0)
  }

  test("clusteredWrite yields disjoint per-file key ranges") {
    val out = Files.createTempDirectory("graft_cluster").toString
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    Medallion.clusteredWrite(events, out, 4, "user_id")
    // each output file must cover a user_id range disjoint from every
    // other file's — the property file-level pruning relies on
    val ranges = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("user_id")).as("lo"), max(col("user_id")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(ranges.size > 1)
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(hi1 < lo2, ranges)
      case _ =>
    }
    // nothing lost in the rewrite
    assert(spark.read.parquet(out).count() == events.count())
  }

  test("compact rewrites many small files into few, same rows") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_compact").toString
    val df = (1 to 1000).map(i => (i.toLong, s"r$i")).toDF("id", "v")
    df.repartition(64).write.mode("overwrite").parquet(out)
    def parts = new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts == 64)
    Medallion.compact(spark, out, 2)
    assert(parts == 2)
    assert(spark.read.parquet(out).count() == 1000)
    assert(spark.read.parquet(out).agg(sum(col("id"))).head.getLong(0)
      == 500500L)
    // no leftover temp/backup dirs
    assert(!new java.io.File(out + ".compact-tmp").exists())
    assert(!new java.io.File(out + ".compact-old").exists())
  }

  test("compact preserves a date-partitioned layout") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_compact3").toString
    val df = (1 to 200).map(i =>
      (i.toLong, s"2024-01-0${i % 3 + 1}")).toDF("id", "date")
    df.repartition(16).write.mode("overwrite")
      .partitionBy("date").parquet(out)
    Medallion.compact(spark, out, 2)
    // date= dirs survive (flattening would poison the next
    // partitioned append and lose file pruning)
    val dirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("date=")).map(_.getName).sorted
    assert(dirs.toSeq ==
      Seq("date=2024-01-01", "date=2024-01-02", "date=2024-01-03"))
    val back = spark.read.parquet(out)
    assert(back.count() == 200)
    assert(back.agg(sum(col("id"))).head.getLong(0) == 20100L)
    // and the small files are actually consolidated: one per dir
    dirs.foreach { dname =>
      val n = new java.io.File(out, dname).listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(n == 1, s"$dname has $n files")
    }
  }

  test("compact recovers from a stale backup left by a crashed run") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_compact2").toString
    val df = (1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "v")
    df.repartition(8).write.mode("overwrite").parquet(out)
    // simulate a crash between swap-out and cleanup: a stale
    // .compact-old exists alongside the live table
    val bak = new java.io.File(out + ".compact-old")
    assert(bak.mkdir())
    assert(new java.io.File(bak, "stale.txt").createNewFile())
    Medallion.compact(spark, out, 1)
    assert(spark.read.parquet(out).count() == 100)
    assert(!bak.exists(), "stale backup must be cleared, not nested into")
  }
}

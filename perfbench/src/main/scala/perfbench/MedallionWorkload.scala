package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Watchdog
import graft.app.{CurationJob, GoldJob, IncrementalSilverJob, SilverJob}
import graft.curation.Curation
import graft.gold.IncrementalGold
import graft.ml.{Mixture, QualityClassifier}
import graft.quality.Rules
import graft.sources.Medallion

/** Closed-loop app-path workload (`medallion`): bronze JSONL →
  * `SilverJob` → `GoldJob` → `CurationJob`, then one increment per
  * event-day (`IncrementalSilverJob` → `IncrementalGold.run` →
  * `currentReport`); the first increment creates the incremental-gold
  * state and each later one merges into it.
  *
  * Untraced passes call the jobs' public `run` entry points. A traced
  * pass composes the same public layer functions the jobs compose, but
  * caches each layer's input and forces its output with an action, so
  * a span covers exactly one layer's work.
  *
  * Each operation runs under `graft.Watchdog.run` with a limit inside the
  * run's deadline, so a hang is a counted failure. */
final class MedallionWorkload(spark: SparkSession, rec: Rec, probe: Probe,
                              budget: Budget, dataDir: String, inputs: String,
                              work: String) {

  private val docsDir = s"$dataDir/documents.parquet"
  private val bronze = s"$inputs/bronze"
  private def listed(p: Path): Seq[Path] =
    Using.resource(Files.list(p))(_.iterator().asScala.toList)
      .sortBy(_.getFileName.toString)

  private val increments = listed(Paths.get(inputs, "increments"))

  /** Events of one increment, in the shape `IncrementalGold` folds. */
  private def goldInput(silver: DataFrame): DataFrame =
    silver.select(col("user_id"), col("event_type"),
      col("product_price").as("value"), col("ts"))

  /** One operation, timed from outside; its jobs carry the Watchdog's
    * job group `graft-watchdog-<name>`. */
  private def timed(workload: String, pass: Int, name: String)
                   (body: => Unit): Unit = {
    val t0 = Clock.us
    val gc0 = GcWatch.collectedMs
    val err = Watchdog.run(spark, name, budget.opSeconds)(rec.span(name)(body))
    val t1 = Clock.us
    val gcMs = GcWatch.collectedMs - gc0
    Bus.drain(spark.sparkContext)
    rec.op("workload" -> workload, "pass" -> pass, "name" -> name,
      "kind" -> name.takeWhile(_ != '_'), "start_us" -> t0, "end_us" -> t1,
      "gc_ms" -> gcMs, "group" -> s"graft-watchdog-$name",
      "peak_storage_bytes" -> probe.takePeakStorage(),
      "ok" -> err.isEmpty, "err" -> err)
  }

  def pass(workload: String, pass: Int): Unit = {
    val root = s"$work/medallion-$pass"
    val silver = s"$root/silver"
    val gold = s"$root/gold"
    val meta = s"$root/meta"
    val state = s"$root/gold_state"
    val curated = s"$root/curation"
    timed(workload, pass, "silver_job") {
      val results =
        if (rec.traced) tracedSilver(silver, meta)
        else SilverJob.run(spark, bronze, silver, meta)
      results.foreach(r => rec.check("topic", r.topic, Map(
        "success" -> r.success, "read" -> r.recordsRead,
        "processed" -> r.recordsProcessed)))
      require(results.forall(_.success), results.mkString("; "))
    }
    timed(workload, pass, "gold_job") {
      val ok =
        if (rec.traced) tracedGold(silver, gold, meta)
        else GoldJob.run(spark, silver, gold, meta)
      require(ok.nonEmpty && ok.values.forall(identity), ok.toString)
    }
    timed(workload, pass, "curation_job") {
      val m =
        if (rec.traced) tracedCuration(curated)
        else CurationJob.run(spark, docsDir, curated)
      rec.check("curation", "metrics", m)
    }
    val landing = Paths.get(s"$root/landing")
    Files.createDirectories(landing)
    increments.foreach { dayDir =>
      val day = dayDir.getFileName.toString.stripPrefix("day=")
      // the day's bronze lands before the increment's clock starts
      listed(dayDir).foreach { f =>
        Files.copy(f, landing.resolve(s"day$day-${f.getFileName}"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      timed(workload, pass, s"increment_day$day") {
        rec.span("app.incremental_silver") {
          IncrementalSilverJob.run(spark, landing.toString,
            s"$root/silver_inc", s"$root/silver_inc_ckpt")
        }
        val batch = goldInput(Medallion.readTable(spark, s"$root/silver_inc")
          .filter(col("date") === lit(s"2024-01-$day").cast("date")))
        rec.span("gold.increment_merge")(IncrementalGold.run(spark, batch, state))
        val (d, _) = rec.span("gold.report") {
          Digest.of(IncrementalGold.currentReport(spark, state))
        }
        rec.check("increment", s"report_day$day", d)
      }
    }
    checkOutputs(gold, curated)
    rec.extra(s"medallion_pass$pass") = Map(
      "state_bytes" -> dirBytes(Paths.get(state))._1,
      "written" -> Seq(silver, gold, s"$root/silver_inc")
        .map(p => dirBytes(Paths.get(p))).foldLeft(Seq(0L, 0L)) {
          case (Seq(b, f), (b2, f2)) => Seq(b + b2, f + f2)
          case (acc, _) => acc })
  }

  /** Content of every gold table and curation output, read back from
    * what the pass wrote; untimed. */
  private def checkOutputs(gold: String, curated: String): Unit = {
    Seq("user_summary", "product_summary", "daily_stats",
      "engagement_metrics", "enriched_events").foreach { t =>
      val (d, _) = Digest.of(Medallion.readTable(spark, s"$gold/$t"),
        Digest.wallClock + "date")
      rec.check("gold", t, d)
    }
    Seq("chunks", "classifier_census", "alpha").foreach { t =>
      val (d, _) = Digest.of(spark.read.parquet(s"$curated/$t"))
      rec.check("curation", t, d)
    }
    Bus.drain(spark.sparkContext)
    probe.takePeakStorage()
  }

  /** (bytes, files) of the data files under a directory. */
  private def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val fs = Using.resource(Files.walk(p))(_.iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }.toList)
      (fs.map(Files.size).sum, fs.size.toLong)
    }

  // ---- traced pass: the jobs' compositions, one forced layer per span

  private def tracedSilver(silver: String, meta: String) =
    SilverJob.topics.map { cfg =>
      val t0 = System.nanoTime()
      val raw = rec.span("sources.bronze_scan") {
        val b = Medallion.readBronze(spark, cfg.schema,
          s"$bronze/${cfg.bronzePrefix}").cache()
        (b, b.count(), Medallion.wellFormed(b).count())
      }
      val (b, rows, wellFormed) = raw
      val name = cfg.name match {
        case "user" => "users"
        case "product" => "products"
        case n => n
      }
      val (s, n) = rec.span(s"silver.$name") {
        val s = cfg.transform(Medallion.wellFormed(b)).cache()
        (s, s.count())
      }
      rec.span("sources.write") {
        Medallion.overwritePartitions(s, s"$silver/${cfg.silverTable}")
        Medallion.writeRunMetadata(spark, meta, s"silver:${cfg.name}",
          rows, n, (System.nanoTime() - t0) / 1e9)
      }
      s.unpersist(); b.unpersist()
      rec.extra(s"topic_${cfg.name}") = Map(
        "bronze_rows" -> rows, "wellformed_rows" -> wellFormed,
        "silver_rows" -> n)
      graft.app.TopicResult(cfg.name, n > 0, rows, n,
        if (rows > 0) n.toDouble / rows else 0.0, None)
    }

  private def tracedGold(silver: String, gold: String,
                         meta: String): Map[String, Boolean] = {
    val t0 = System.nanoTime()
    val (clicks, users, products) = rec.span("sources.silver_scan") {
      val c = Medallion.readTable(spark, s"$silver/clickstream_silver").cache()
      val u = Medallion.readTable(spark, s"$silver/user_events_silver").cache()
      val p = Medallion.readTable(spark, s"$silver/product_events_silver").cache()
      c.count(); u.count(); p.count()
      (c, u, p)
    }
    val pass = rec.span("quality.gate") {
      Rules.gate(Rules.batchStats(clicks, GoldJob.goldGateRules), 0.8)
    }
    require(pass, "quality gate failed")
    val out = GoldJob.tables(clicks, Some(users), Some(products)).map {
      case (name, df) =>
        rec.span(s"gold.$name") {
          Medallion.overwritePartitions(
            df.withColumn("date", current_date()), s"$gold/$name")
        }
        name -> true
    }.toMap
    val n = clicks.count()
    Medallion.writeRunMetadata(spark, meta, "gold", n, n,
      (System.nanoTime() - t0) / 1e9)
    Seq(clicks, users, products).foreach(_.unpersist())
    out
  }

  private def tracedCuration(outDir: String): CurationJob.CurationMetrics = {
    val (gdSteps, mixRounds, maxDocs, maxChars) = (3, 3, 10, 400)
    val mem = StorageLevel.MEMORY_AND_DISK
    val docs = spark.read.parquet(docsDir).cache()
    val docsIn = docs.count()
    val deduped = rec.span("curation.dedup") {
      val d = Curation.exactDedup(docs).persist(mem); d.count(); d
    }
    val censusP = rec.span("ml.classifier_train") {
      QualityClassifier.trainCensus(QualityClassifier.featurize(deduped), gdSteps)
        .write.mode("overwrite").parquet(s"$outDir/classifier_census")
      spark.read.parquet(s"$outDir/classifier_census")
    }
    val (gated, scored) = rec.span("curation.quality") {
      val gt = QualityClassifier.gate(deduped,
        QualityClassifier.weights(censusP, gdSteps)).persist(mem)
      gt.count()
      val sc = Curation.qualityScored(gt)
        .filter(col("quality_bucket") =!= "low").persist(mem)
      sc.count()
      (gt, sc)
    }
    val mixed = rec.span("ml.mixture") {
      Mixture.alphaRounds(scored, mixRounds)
        .write.mode("overwrite").parquet(s"$outDir/alpha")
      val aFinal = spark.read.parquet(s"$outDir/alpha")
        .filter(col("r") === mixRounds.toLong)
        .select(col("source"), col("alpha_ppm"))
      val m = Curation.mixtureSample(scored,
        Curation.mixtureRates(scored, aFinal)).persist(mem)
      m.count(); m
    }
    val bounded = rec.span("curation.bound") {
      val b = Curation.contributionBound(mixed, maxDocs, maxChars).persist(mem)
      b.count(); b
    }
    val chunked = Curation.chunks(bounded)
    rec.span("curation.chunk_dedup") {
      Curation.dedupChunks(chunked).write.mode("overwrite")
        .parquet(s"$outDir/chunks")
    }
    val m = CurationJob.CurationMetrics(
      docsIn = docsIn, afterDedup = deduped.count(),
      afterGate = gated.count(), afterQuality = scored.count(),
      afterMixture = mixed.count(), afterBound = bounded.count(),
      chunksOut = chunked.count(),
      chunksKept = spark.read.parquet(s"$outDir/chunks").count())
    Seq(docs, deduped, gated, scored, mixed, bounded).foreach(_.unpersist())
    graft.functions.Checkpoints.releaseAll()
    m
  }
}

package graft.app

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Concurrent
import graft.gold.Gold
import graft.quality.Rules
import graft.schema.Schemas
import graft.silver.Silver
import graft.sources.Medallion

/** The reference's three pipeline lifecycles (SURVEY §7.7) as thin CLIs
  * over the operator library: bronze→silver (`main_pipeline.py:69-199`),
  * silver→gold (`gold_pipeline.py:352-396`), and the streaming landing
  * job (`kafka_streams_processor.py:226-253`, file-source analog).
  *
  * Each job is compose-and-write only — every transform lives in
  * [[Silver]]/[[Gold]]/[[graft.streaming.Features]], so the CLIs add no
  * semantics of their own. The only driver-side values are the
  * checkpoint metrics the reference also tracks (record counts, quality
  * score, duration) — scalar aggregates, never row data, so the jobs
  * run unchanged on a real cluster.
  *
  * Concurrency contract: work with no data dependency overlaps via
  * [[Concurrent.inParallel]] — the silver topics, the gold tables after
  * the gate, the curation funnel counts. Only outputs with no shared
  * dir run concurrently, and run metadata has a single writer: each
  * job collects its rows and appends them once from the calling thread.
  */
object JobSession {

  /** Local-mode scratch dir for shuffle/spill files. Prefers tmpfs
    * (`/dev/shm`) when present: the dev host's virtio disk exhibits
    * multi-second write-latency storms that serialize shuffle writes
    * (NOTES_r2.md); local-mode shuffle data is small. Overridable via
    * SPARK_GRAFT_LOCAL_DIR. On a cluster this conf is not applied —
    * executors use the site-configured spark.local.dir. */
  def localScratch: String =
    sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) "/dev/shm/graft-spark-scratch"
      else System.getProperty("java.io.tmpdir")
    })

  /** Session with the same conf contract as Bench/Verify (nanosAsLong
    * must be set at build time — [[graft.Tables]] requires it). */
  def build(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val b = SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions",
        "org.apache.spark.sql.graft.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
    val s = (if (master.startsWith("local"))
      b.config("spark.local.dir", localScratch) else b).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** One topic's bronze→silver config (`main_pipeline.py:40-67`). */
final case class TopicConfig(
    name: String,
    bronzePrefix: String,
    silverTable: String,
    schema: org.apache.spark.sql.types.StructType,
    transform: DataFrame => DataFrame)

/** Per-topic outcome, mirroring the reference's result dict
  * (`main_pipeline.py:130-139`). */
final case class TopicResult(
    topic: String,
    success: Boolean,
    recordsRead: Long,
    recordsProcessed: Long,
    qualityScore: Double,
    error: Option[String])

object SilverJob {

  /** The reference's three topics (`main_pipeline.py:40-67`). */
  def topics: Seq[TopicConfig] = Seq(
    TopicConfig("clickstream", "topics/clickstream-events",
      "clickstream_silver", Schemas.clickstream, Silver.clickstream),
    TopicConfig("user", "topics/user-events",
      "user_events_silver", Schemas.user, Silver.users),
    TopicConfig("product", "topics/product-events",
      "product_events_silver", Schemas.product, Silver.products))

  /** Bronze→silver for one topic: JSONL scan → well-formed filter →
    * silver transform → quality score (processed/raw, the reference's
    * gate metric `main_pipeline.py:173-179`) → partitioned write.
    * Below-threshold batches are still written (the reference warns
    * and proceeds); [[run]] lands the score in the run-metadata
    * checkpoint so trend tracking (V16) sees it. */
  def runTopic(spark: SparkSession, cfg: TopicConfig, bronzeRoot: String,
               silverRoot: String,
               qualityThreshold: Double = 0.8): TopicResult = {
    try {
      // Hadoop FS probe, not java.io.File — the roots may be any
      // supported scheme (hdfs://, s3a://), where a local-File
      // exists() is always false and the job would silently skip
      // every topic.
      val dir = new org.apache.hadoop.fs.Path(
        s"$bronzeRoot/${cfg.bronzePrefix}")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(dir))
        return TopicResult(cfg.name, success = false, 0, 0, 0.0,
          Some(s"No bronze files found for ${cfg.name}"))
      // the raw line count rides the scan as an observed metric, so
      // the one pass that fills the silver cache also counts bronze
      // (a separate bronze.count() would re-parse every JSON line)
      val rawRows = Observation()
      val bronze = Medallion.readBronze(spark, cfg.schema, dir.toString)
        .observe(rawRows, count(lit(1)).as("rows"))
      val silver = cfg.transform(Medallion.wellFormed(bronze)).cache()
      try {
        val processed = silver.count()
        // AQE replaces a stage with no output rows by an empty relation,
        // dropping its observed metric: then count the scan itself
        val raw = rawRows.get.get("rows") match {
          case Some(n: Long) => n
          case _ => bronze.count()
        }
        if (processed == 0L)
          return TopicResult(cfg.name, success = false, raw, 0, 0.0,
            Some(s"No valid records after processing ${cfg.name}"))
        val score = processed.toDouble / raw
        if (score < qualityThreshold)
          System.err.println(
            f"[silver-job] WARN low data quality for ${cfg.name}: $score%.2f")
        // overwritePartitions, not append: a cron retry re-running the
        // job must replace the dates it rebuilds, never double them
        Medallion.overwritePartitions(
          silver, s"$silverRoot/${cfg.silverTable}")
        TopicResult(cfg.name, success = true, raw, processed, score, None)
      } finally silver.unpersist()
    } catch {
      case e: Exception =>
        TopicResult(cfg.name, success = false, 0, 0, 0.0,
          Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
    }
  }

  /** All topics concurrently (each writes only its own silver table),
    * results in topic order; then one run-metadata append holding a
    * row per successful topic, from this thread — concurrent appends
    * to one parquet dir would share its `_temporary` staging dir. */
  def run(spark: SparkSession, bronzeRoot: String, silverRoot: String,
          metaDir: String): Seq[TopicResult] = {
    val timed = Concurrent.inParallel(spark, topics.map { cfg => () =>
      val t0 = System.nanoTime()
      runTopic(spark, cfg, bronzeRoot, silverRoot) ->
        (System.nanoTime() - t0) / 1e9
    })
    timed.foreach { case (r, _) =>
      System.err.println(s"[silver-job] ${r.topic}: success=${r.success} " +
        s"read=${r.recordsRead} processed=${r.recordsProcessed} " +
        f"quality=${r.qualityScore}%.3f${r.error.fold("")(" err=" + _)}")
    }
    Medallion.writeRunMetadata(spark, metaDir, timed.collect {
      case (r, sec) if r.success =>
        (s"silver:${r.topic}", r.recordsRead, r.recordsProcessed, sec)
    })
    timed.map(_._1)
  }

  /** CLI: `SilverJob <bronzeRoot> <silverRoot> <metaDir>`. */
  def main(args: Array[String]): Unit = {
    val Array(bronzeRoot, silverRoot, metaDir) = args
    val spark = JobSession.build("graft-silver-job")
    val results = run(spark, bronzeRoot, silverRoot, metaDir)
    val ok = results.count(_.success)
    System.err.println(s"[silver-job] complete: $ok/${results.size} topics")
    spark.stop()
    if (ok == 0) sys.exit(1)
  }
}

object GoldJob {

  /** The four reference gold tables (`gold_pipeline.py:376-390`) plus
    * the J5 star-schema enrichment, keyed by table name. */
  def tables(clicks: DataFrame, users: Option[DataFrame],
             products: Option[DataFrame]): Seq[(String, DataFrame)] =
    builders(clicks, users, products).map { case (n, f) => n -> f() }

  /** [[tables]] unbuilt: each frame is built (Catalyst-analyzed) only
    * when its thunk runs, so [[run]] can analyze them concurrently. */
  private def builders(clicks: DataFrame, users: Option[DataFrame],
                       products: Option[DataFrame])
      : Seq[(String, () => DataFrame)] = {
    val core = Seq[(String, () => DataFrame)](
      "user_summary" -> (() => Gold.userSummary(clicks)),
      "product_summary" -> (() => Gold.productSummary(clicks)),
      "daily_stats" -> (() => Gold.dailyStats(clicks)),
      "engagement_metrics" -> (() => Gold.engagementMetrics(clicks)))
    val enriched = for (u <- users; p <- products)
      yield "enriched_events" -> (() => Gold.enriched(clicks, u, p))
    core ++ enriched
  }

  /** Silver→gold: read the silver tables, run the V12-style event rule
    * gate on clickstream (validity-rate threshold, `Rules.gate` /
    * `config.py:20`), then write each gold table under a run-date
    * partition (`gold_pipeline.py:341-350`) + one run-metadata row.
    * The gate runs first and alone; the tables (each its own dir) are
    * then built and written concurrently. */
  def run(spark: SparkSession, silverRoot: String, goldRoot: String,
          metaDir: String, gateThreshold: Double = 0.8): Map[String, Boolean] = {
    val t0 = System.nanoTime()
    def readIf(table: String): Option[DataFrame] = {
      val dir = new org.apache.hadoop.fs.Path(s"$silverRoot/$table")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(dir)) Some(Medallion.readTable(spark, dir.toString))
      else None
    }
    val clicksOpt = readIf("clickstream_silver")
    if (clicksOpt.isEmpty) {
      System.err.println("[gold-job] no clickstream silver data")
      return Map.empty
    }
    val clicks = clicksOpt.get.cache()
    try {
      val todo = builders(clicks, readIf("user_events_silver"),
        readIf("product_events_silver"))
      // Quality gate (V15) over the silver batch before building gold.
      val stats = Rules.batchStats(clicks, goldGateRules)
      if (!Rules.gate(stats, gateThreshold)) {
        System.err.println(
          s"[gold-job] quality gate FAILED (threshold $gateThreshold) — aborting")
        // Same table list as the success path, so the result-map key
        // set is identical whether the gate passes or fails (r2
        // ADVICE item: the old form dropped enriched_events here).
        return todo.map(_._1 -> false).toMap
      }
      val results = Concurrent.inParallel(spark, todo.map {
        case (name, build) => () =>
          // replace today's partition on re-run, never append-double it
          Medallion.overwritePartitions(
            build().withColumn("date", current_date()), s"$goldRoot/$name")
          name -> true
      }).toMap
      val n = clicks.count()
      Medallion.writeRunMetadata(spark, metaDir, "gold", n, n,
        (System.nanoTime() - t0) / 1e9)
      results
    } finally clicks.unpersist()
  }

  /** Gate rules for the silver clickstream frame: the required/enum
    * core of the reference's event checks (already oracle-checked on
    * raw events via q35; here they run on silver columns). */
  def goldGateRules: Seq[Rules.Rule] = Seq(
    Rules.Rule("user_id_required", Rules.Critical,
      Rules.required(col("user_id"))),
    Rules.Rule("ts_required", Rules.Critical,
      Rules.required(col("ts"))),
    Rules.Rule("event_type_enum", Rules.Error,
      Rules.enumIn(col("event_type"), Seq(
        "view", "click", "add_to_cart", "purchase", "remove_from_cart",
        "search", "recommendation_clicked"))))

  /** CLI: `GoldJob <silverRoot> <goldRoot> <metaDir>`. */
  def main(args: Array[String]): Unit = {
    val Array(silverRoot, goldRoot, metaDir) = args
    val spark = JobSession.build("graft-gold-job")
    val results = run(spark, silverRoot, goldRoot, metaDir)
    val ok = results.values.count(identity)
    System.err.println(s"[gold-job] complete: $ok/${results.size} tables")
    spark.stop()
    // an empty result map means NOTHING was produced (no silver input)
    // — that must fail the run, or an orchestrator marks a no-op green
    if (results.isEmpty || ok == 0) sys.exit(1)
  }
}

object StreamJob {

  /** Streaming landing lifecycle (`kafka_streams_processor.py:226-253`
    * re-expressed): file-source stream over a bronze JSONL directory
    * (S13 — the Kafka source is environment-blocked, NOTES_r1 #7; on a
    * cluster, swap `readStream.format("json")` for `format("kafka")`
    * and the rest is unchanged) → event-time y/m/d/h partitioned
    * parquet landing (S12). Trigger.AvailableNow drains what exists
    * and stops, which is also the reference's batch-of-files loop
    * semantics. */
  def run(spark: SparkSession, bronzeDir: String, landingDir: String,
          checkpointDir: String): Unit = {
    val stream = spark.readStream
      .schema(Schemas.clickstream)
      // the reference's skip-malformed-lines loop (storage_manager
      // .py:88-98); the batch path keeps them in _corrupt_record
      // instead (S2) — a landing job just drops them
      .option("mode", "DROPMALFORMED")
      .json(bronzeDir)
    graft.streaming.Features.bronzeLanding(
        stream.withColumn("ts", Schemas.parseTs(col("timestamp"))),
        landingDir, checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }

  /** CLI: `StreamJob <bronzeDir> <landingDir> <checkpointDir>`. */
  def main(args: Array[String]): Unit = {
    val Array(bronzeDir, landingDir, checkpointDir) = args
    val spark = JobSession.build("graft-stream-job")
    run(spark, bronzeDir, landingDir, checkpointDir)
    spark.stop()
  }
}

object IncrementalSilverJob {

  /** S14 — hourly incremental bronze→silver: a file-source stream over
    * the landing layout with `Trigger.AvailableNow` + a checkpoint, so
    * each invocation processes ONLY files that arrived since the last
    * run (the reference's "process the new hour" cron,
    * `main_pipeline.py` file-cursor semantics, without hand-tracked
    * cursors — the streaming checkpoint IS the cursor, and it survives
    * restarts).
    *
    * The silver transform runs inside `foreachBatch`: it uses window
    * functions (session sequence numbers) that a pure streaming plan
    * disallows, and each micro-batch is a complete file-set, so batch
    * semantics per increment are exactly right. */
  def run(spark: SparkSession, landingDir: String, silverDir: String,
          checkpointDir: String): Unit = {
    val stream = spark.readStream
      .schema(Schemas.clickstream)
      .option("mode", "DROPMALFORMED")
      .json(landingDir)
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        // batchId-keyed delivery marker: foreachBatch replays a batch
        // after a crash between the data write and the checkpoint
        // commit, and a blind append would duplicate those silver rows
        graft.streaming.Features.withBatchMarker(batch.toDF(),
          checkpointDir + ".markers", batchId) {
          val silver = Silver.clickstream(batch.toDF()).persist()
          val n = silver.count()
          if (n > 0) Medallion.writePartitioned(silver, silverDir)
          silver.unpersist()
          // marker payload = delivered silver row count (reconciliation)
          n.toString
        }
      }
      .start()
      .awaitTermination()
  }

  /** CLI: `IncrementalSilverJob <landingDir> <silverDir> <checkpointDir>`. */
  def main(args: Array[String]): Unit = {
    val Array(landingDir, silverDir, checkpointDir) = args
    val spark = JobSession.build("graft-incremental-silver")
    run(spark, landingDir, silverDir, checkpointDir)
    spark.stop()
  }
}

object CurationJob {

  /** End-to-end LLM-training-data curation over a `documents`-shaped
    * parquet dir, composed ONLY of oracle-checked stages — the
    * heuristic [[graft.curation.Curation]] layer plus the LEARNED
    * layer the round-9 operators train:
    *
    *   exact dedup (q22/q59 keep-first discipline) →
    *   learned classifier gate (q303's GD-trained linear scorer,
    *     trained on the deduped corpus, keep z > 0 — the CCNet-shaped
    *     filter) →
    *   heuristic quality scoring + drop `low` (q46) →
    *   mixture sampling (q304's DoReMi α as per-source keep-rates —
    *     the learned counterpart of the old fixed stratified rates) →
    *   contribution bounding (q306's cap-and-clip discipline: ≤
    *     maxDocsPerSource docs per source, texts clipped at maxChars) →
    *   sliding-window chunking (q57) →
    *   cross-document chunk dedup (q59)
    *
    * Writes the surviving chunks as parquet plus per-stage
    * run-metadata: a one-row metrics parquet (survivor counts — scalar
    * aggregates only, the SilverJob checkpoint style; no row data ever
    * reaches the driver), the classifier training census
    * (`classifier_census`, one row per GD step), and the per-round
    * mixture weights (`alpha`, rounds·|D| rows). Every stage is a
    * projection, one keyed agg, or one keyed window, and the learned
    * stages add only |D|-row / 1-row broadcasts — the composition adds
    * no new shuffle class at 100 TB. */
  final case class CurationMetrics(
      docsIn: Long, afterDedup: Long, afterGate: Long,
      afterQuality: Long, afterMixture: Long, afterBound: Long,
      chunksOut: Long, chunksKept: Long)

  def run(spark: SparkSession, docsDir: String, outDir: String,
          gdSteps: Int = 3, mixRounds: Int = 3,
          maxDocsPerSource: Int = 10,
          maxChars: Int = 400): CurationMetrics = {
    import graft.curation.Curation
    import graft.ml.{Mixture, QualityClassifier}
    val docs = spark.read.parquet(docsDir)
    // The per-stage counts below would otherwise re-run the upstream
    // chain once per metric (the dedup window is the expensive stage —
    // same recompute tax as Ranks had before persisting). Persist the
    // funnel waypoints every consumer shares.
    val deduped = Curation.exactDedup(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // learned gate: train on the deduped corpus, persist the census
    // as run-metadata, gate on the final weights (z > 0)
    val census = QualityClassifier.trainCensus(
      QualityClassifier.featurize(deduped), gdSteps)
    census.write.mode("overwrite").parquet(s"$outDir/classifier_census")
    val censusP = spark.read.parquet(s"$outDir/classifier_census")
    val gated = QualityClassifier.gate(
        deduped, QualityClassifier.weights(censusP, gdSteps))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val scored = Curation.qualityScored(gated)
      .filter(col("quality_bucket") =!= "low")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // learned mixture: α on the quality-surviving frame, persisted as
    // run-metadata; the final round becomes per-source keep-rates
    val alphas = Mixture.alphaRounds(scored, mixRounds)
    alphas.write.mode("overwrite").parquet(s"$outDir/alpha")
    val aFinal = spark.read.parquet(s"$outDir/alpha")
      .filter(col("r") === mixRounds.toLong)
      .select(col("source"), col("alpha_ppm"))
    val mixed = Curation.mixtureSample(
        scored, Curation.mixtureRates(scored, aFinal))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bounded = Curation.contributionBound(
        mixed, maxDocsPerSource, maxChars)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val chunked = Curation.chunks(bounded)
    val kept = Curation.dedupChunks(chunked)
    kept.write.mode("overwrite").parquet(s"$outDir/chunks")
    // read-only over persisted frames and a written dir: overlap them
    val Seq(docsIn, afterDedup, afterGate, afterQuality, afterMixture,
        afterBound, chunksOut, chunksKept) = Concurrent.inParallel(spark, Seq(
      () => docs.count(), () => deduped.count(), () => gated.count(),
      () => scored.count(), () => mixed.count(), () => bounded.count(),
      () => chunked.count(),
      () => spark.read.parquet(s"$outDir/chunks").count()))
    val m = CurationMetrics(docsIn, afterDedup, afterGate, afterQuality,
      afterMixture, afterBound, chunksOut, chunksKept)
    import spark.implicits._
    Seq(m).toDS().write.mode("overwrite").parquet(s"$outDir/metrics")
    Seq(deduped, gated, scored, mixed, bounded).foreach(_.unpersist())
    // the learned stages checkpoint-pin their iteration state; all
    // actions are done, so release the whole registry (the job owns
    // the session for its duration, per the Checkpoints contract)
    graft.functions.Checkpoints.releaseAll()
    m
  }

  /** CLI: `CurationJob <docsDir> <outDir>`. */
  def main(args: Array[String]): Unit = {
    val Array(docsDir, outDir) = args
    val spark = JobSession.build("graft-curation-job")
    val m = run(spark, docsDir, outDir)
    System.err.println(s"[curation] $m")
    spark.stop()
  }
}

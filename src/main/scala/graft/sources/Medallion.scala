package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Medallion-layer IO (SURVEY §2.1).
  *
  * Bronze = JSON-lines with ingestion metadata (S2/S3); silver/gold =
  * snappy parquet partitioned by `date` (S6/S7,
  * `storage_manager.py:108-146`, `config.py:21-23`). The reference's
  * hand-rolled S3 listing, per-file GET loop and file-count caps (S1,
  * S5) are subsumed by Spark's file index + partition discovery; its
  * file watcher (S13) by the streaming file source.
  */
object Medallion {

  /** The bronze CONTRACT, shared by every landing format: PERMISSIVE
    * parse with malformed lines quarantined in `_corrupt_record`, plus
    * `_source_file`/`_processed_at` provenance. Kept in one place so
    * the formats can never diverge (renaming the corrupt column in one
    * reader but not the other would silently break [[wellFormed]]).
    *
    * CALLER CAVEAT (Spark's documented PERMISSIVE restriction, not
    * ours): a query whose only referenced column after pruning is the
    * corrupt-record column — e.g. `wellFormed(bronze).count()` or a
    * bare corrupt-line count straight off the scan — throws
    * `AnalysisException` ("referenced columns only include the
    * internal corrupt record column"), because the parser would have
    * to re-parse rows just to know they failed. Either reference a
    * data column too, or cache/materialize the frame first
    * (`bronze.cache()` before filtering is the form Spark's own docs
    * prescribe and what MedallionSpec/q92/q118 do). */
  private def bronzeScan(spark: SparkSession, schema: StructType,
                         format: String, opts: Map[String, String],
                         paths: Seq[String]): DataFrame = {
    val reader = spark.read
      .schema(schema.add("_corrupt_record", "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .options(opts)
      .format(format)
    reader.load(paths: _*)
      .withColumn("_source_file", input_file_name())
      .withColumn("_processed_at", current_timestamp())
  }

  /** S2: schema'd JSONL bronze scan. PERMISSIVE mode lands malformed
    * lines in `_corrupt_record` (the reference's skip-malformed-lines
    * loop, `storage_manager.py:88-98`); `_source_file`/`_processed_at`
    * reproduce its ingestion metadata (`:92-95`). */
  def readBronze(spark: SparkSession, schema: StructType,
                 paths: String*): DataFrame =
    bronzeScan(spark, schema, "json", Map.empty, paths)

  /** [[readBronze]]'s delimited-landing sibling: the same bronze
    * contract over header'd CSV (the other ubiquitous interchange
    * landing format), so [[wellFormed]] applies unchanged.
    * Oracle-checked end-to-end by q118 (write → scan → aggregate vs
    * the source parquet). */
  def readCsvBronze(spark: SparkSession, schema: StructType,
                    paths: String*): DataFrame =
    bronzeScan(spark, schema, "csv", Map("header" -> "true"), paths)

  /** Rows that parsed cleanly. */
  def wellFormed(bronze: DataFrame): DataFrame =
    bronze.filter(col("_corrupt_record").isNull).drop("_corrupt_record")

  /** S6/S7: date-partitioned snappy parquet append — the silver and
    * gold writer. Callers ensure a `date` column exists. */
  def writePartitioned(df: DataFrame, tableDir: String): Unit =
    df.write.mode("append")
      .option("compression", "snappy")
      .partitionBy("date")
      .parquet(tableDir)

  /** S4: silver/gold scan (partition discovery over `date=`). */
  def readTable(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.parquet(tableDir)

  /** Idempotent re-run of one (or more) date partitions: DYNAMIC
    * partition overwrite replaces ONLY the partitions present in `df`,
    * leaving every other `date=` directory untouched — the
    * reprocess-one-day upsert a medallion pipeline needs (a plain
    * `overwrite` would truncate the whole table; `append` would
    * double-count the re-run day). The mode is a per-write option, so
    * the session conf is never touched and concurrent writers (other
    * tables, streaming queries) cannot see or race it. */
  def overwritePartitions(df: DataFrame, tableDir: String): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "snappy")
      .partitionBy("date")
      .parquet(tableDir)

  /** Clustered write: range-partition on `clusterCols` and sort
    * within each output file so every file covers a DISJOINT key
    * range. At 100 TB this is what makes point/range predicates on
    * the cluster key prune at FILE level (and row-group level inside
    * each file via parquet min/max) instead of scanning the table —
    * the Z-order-lite layout step of a lakehouse OPTIMIZE.
    * `numFiles` sizes output files (pick ≈ bytes/128 MB). */
  def clusteredWrite(df: DataFrame, tableDir: String,
                     numFiles: Int, clusterCols: String*): Unit = {
    val cols = clusterCols.map(col)
    df.repartitionByRange(numFiles, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode("overwrite")
      .option("compression", "snappy")
      .parquet(tableDir)
  }

  /** Small-file compaction: rewrite a table directory to
    * `targetFiles` outputs (the medallion maintenance job that keeps
    * streaming/incremental appends from degrading scans — thousands
    * of KB-sized files turn a 100-TB scan into a metadata storm).
    * Writes to a temp sibling then swaps via Hadoop `FileSystem`
    * renames (works on any supported scheme — HDFS, S3A, local — not
    * just `java.io.File` paths). The two-rename swap is NOT atomic:
    * a crash between rename-out and rename-in leaves the data intact
    * but parked at `<table>.compact-old`; on swap-in failure this
    * method restores the backup itself, and a crashed run is repaired
    * by renaming `.compact-old` back — no data is ever deleted until
    * the new files are live. */
  def compact(spark: SparkSession, tableDir: String,
              targetFiles: Int): Unit = {
    val tmp = tableDir + ".compact-tmp"
    val live0 = new org.apache.hadoop.fs.Path(tableDir)
    val fs0 =
      live0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Preserve a partitioned layout: discovery turns `k=v` dirs into
    // data columns, and a flat rewrite would both lose file-level
    // pruning and poison the table for the NEXT partitioned append
    // ("conflicting directory structures"). Partition columns are the
    // full `k=` DIRECTORY CHAIN, one level per column — stopping at
    // the first level would rewrite date=/hour= with partitionBy(date)
    // only, silently demoting hour to a data column. Hive layouts are
    // homogeneous, so following one branch reads the whole scheme.
    val partCols = {
      val cols = scala.collection.mutable.ArrayBuffer[String]()
      var level = fs0.listStatus(live0)
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      while (level.nonEmpty) {
        cols += level.head.getPath.getName.takeWhile(_ != '=')
        level = fs0.listStatus(level.head.getPath)
          .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      }
      cols.toSeq
    }
    val df = spark.read.parquet(tableDir)
    val writer =
      if (partCols.isEmpty) df.coalesce(targetFiles).write
      else
        // hash-cluster on the partition keys so each partition value
        // lands in one task → one output file per partition dir
        df.repartition(targetFiles, partCols.map(org.apache.spark.sql
            .functions.col): _*)
          .write.partitionBy(partCols: _*)
    writer.mode("overwrite")
      .option("compression", "snappy")
      .parquet(tmp)
    val live = new org.apache.hadoop.fs.Path(tableDir)
    val bak = new org.apache.hadoop.fs.Path(tableDir + ".compact-old")
    val tmpP = new org.apache.hadoop.fs.Path(tmp)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // A stale backup from a crashed earlier run must be cleared first:
    // renaming onto an existing dir fails on local FS and nests INTO
    // it on HDFS (then the delete below would eat the live copy). The
    // stale backup is by definition superseded — the live table it
    // backed up still exists at `live`.
    if (fs.exists(bak)) require(fs.delete(bak, true),
      s"could not clear stale backup $bak")
    require(fs.rename(live, bak), s"swap-out failed for $tableDir")
    if (!fs.rename(tmpP, live)) {
      // Restore the original before failing: the live path must never
      // be left absent when its data still exists.
      val restored = fs.rename(bak, live)
      throw new IllegalStateException(
        s"swap-in failed for $tableDir (original " +
          s"${if (restored) "restored" else s"left at $bak — restore manually"})")
    }
    fs.delete(bak, true)
    ()
  }

  /** S9: one-row run-metadata record appended to a metadata table
    * (the reference's checkpoint JSON docs,
    * `storage_manager.py:148-175`). */
  def writeRunMetadata(spark: SparkSession, metaDir: String,
                       pipeline: String, records: Long,
                       validRecords: Long, durationSec: Double): Unit =
    writeRunMetadata(spark, metaDir,
      Seq((pipeline, records, validRecords, durationSec)))

  /** Several `(pipeline, records, validRecords, durationSec)` records in
    * ONE append (none for an empty `rows`). A metadata dir takes one
    * writer at a time: concurrent appends share its `_temporary`
    * staging dir, so jobs collect their rows and append once. */
  def writeRunMetadata(spark: SparkSession, metaDir: String,
                       rows: Seq[(String, Long, Long, Double)]): Unit =
    if (rows.nonEmpty) {
      import spark.implicits._
      rows.toDF("pipeline", "records", "valid_records", "duration_sec")
        .withColumn("run_at", current_timestamp())
        .write.mode("append").parquet(metaDir)
    }
}

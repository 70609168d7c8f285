package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Training-data pipeline operators beyond the reference's surface
  * (SURVEY §2.10 extension row): corpus quality gating, benchmark
  * decontamination, embedding quantization, and deterministic shard
  * assignment — the curation steps a 100-TB pretraining pipeline runs
  * between dedup and training. Every query is a full DuckDB oracle
  * (integer/portable arithmetic throughout).
  */
object PipelineQueries {

  /** Scratch dir for the IO-cycle queries (q90/q92/q96): deletes any
    * dirs a PREVIOUS invocation of the same query left behind, then
    * creates a fresh one. The returned frame reads the scratch
    * lazily, so the CURRENT dir cannot be deleted inside the builder
    * — clearing predecessors at build time instead bounds tmp usage
    * to one copy per query (results are path-independent).
    *
    * The prefix carries this JVM's PID: queries run sequentially
    * WITHIN a harness process, but a background Bench sweep and a
    * foreground Verify loop legitimately run the same query
    * CONCURRENTLY from two JVMs, and a bare per-query prefix would let
    * one delete the other's still-lazily-read scratch mid-query. A
    * LIVE process's dirs are therefore never touched by another; dirs
    * whose embedded PID is dead are fair game for anyone (a finished
    * JVM never comes back to clean its own, so without this the
    * scratch would accumulate one copy per invocation until the tmp
    * reaper runs). */
  private def freshScratch(tag: String): String = {
    val tmp = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"))
    val self = ProcessHandle.current().pid()
    val prefix = s"graft-$tag-p$self-"
    val anyPid = s"graft-$tag-p(\\d+)-.*".r
    val hourMs = 3600L * 1000
    def reapable(f: java.io.File): Boolean = f.getName match {
      case n if n.startsWith(prefix) => true // our own predecessor
      case anyPid(pid) =>
        // another invocation's leftovers. PID liveness is only as good
        // as the local PID namespace (a sibling across a shared /tmp
        // bind-mount looks dead; a recycled PID looks alive), so the
        // age guard covers both edges: never touch a dir younger than
        // an hour even if its PID looks dead (no single query runs
        // that long), and always reap one older than a day even if a
        // recycled PID looks alive.
        val h = java.lang.ProcessHandle.of(pid.toLong)
        val age = System.currentTimeMillis() - f.lastModified()
        val looksDead = !h.isPresent || !h.get().isAlive
        (looksDead && age > hourMs) || age > 24 * hourMs
      case n => // pre-PID-format leftovers ("graft-<tag>-<random>"):
        // no live JVM uses that naming anymore, always reapable
        n.startsWith(s"graft-$tag-")
    }
    val old = tmp.toFile.listFiles()
    if (old != null) old.filter(reapable).foreach {
      d =>
        def rm(f: java.io.File): Unit = {
          val kids = f.listFiles()
          if (kids != null) kids.foreach(rm)
          f.delete(); ()
        }
        rm(d)
    }
    java.nio.file.Files.createTempDirectory(prefix).toString
  }

  /** Half-up integer cents — the ONE rounding convention every
    * money-crossing IO query uses on both engines (q89/q92/q96/q118).
    * A second variant anywhere would hash-mismatch its oracle. */
  private val centsSql = "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"
  private def centsCol = floor(col("value") * 100 + lit(0.5)).cast("long")

  /** q85 — Gopher-style document quality gates (Rae et al. 2021,
    * "Scaling Language Models", table A1 repertoire): word-count
    * bounds, mean word length, alphabetic-word ratio, minimum
    * stopword hits. All ratios in exact integer milli/ppm units
    * (`div`), so both engines agree bit-for-bit. Per-row projection →
    * one map-side-combined shuffle over |sources| groups; at 100 TB
    * the gate is a free rider on any scan. */
  val q85 = QueryDef(
    "q85_gopher_gates",
    """WITH w AS (
      |  SELECT doc_id, source,
      |    len(string_split(text, ' ')) AS n_words,
      |    length(replace(text, ' ', '')) AS n_word_chars,
      |    len(list_filter(string_split(text, ' '),
      |      x -> regexp_matches(x, '^[A-Za-z]+$'))) AS n_alpha_words,
      |    len(list_filter(string_split(text, ' '),
      |      x -> x IN ('the', 'a', 'of', 'to', 'and', 'in'))) AS n_stop
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, source,
      |    CASE WHEN n_words BETWEEN 50 AND 100000 THEN 0 ELSE 1 END AS f_wc,
      |    CASE WHEN (n_word_chars * 1000) // n_words
      |      BETWEEN 3000 AND 10000 THEN 0 ELSE 1 END AS f_mwl,
      |    CASE WHEN (n_alpha_words * 1000000) // n_words >= 800000
      |      THEN 0 ELSE 1 END AS f_alpha,
      |    CASE WHEN n_stop >= 2 THEN 0 ELSE 1 END AS f_stop
      |  FROM w)
      |SELECT source, COUNT(*) AS docs,
      |  CAST(SUM(CASE WHEN f_wc + f_mwl + f_alpha + f_stop = 0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS passed,
      |  CAST(SUM(f_wc) AS BIGINT) AS failed_word_count,
      |  CAST(SUM(f_mwl) AS BIGINT) AS failed_mean_word_len,
      |  CAST(SUM(f_alpha) AS BIGINT) AS failed_alpha_ratio,
      |  CAST(SUM(f_stop) AS BIGINT) AS failed_stopwords
      |FROM f GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val w = split(col("text"), " ")
    val base = Tables.documents(s, d).select(
      col("doc_id"), col("source"),
      size(w).cast("long").as("n_words"),
      length(translate(col("text"), " ", "")).cast("long")
        .as("n_word_chars"),
      size(filter(w, x => x.rlike("^[A-Za-z]+$"))).cast("long")
        .as("n_alpha_words"),
      size(filter(w, x => x.isin("the", "a", "of", "to", "and", "in")))
        .cast("long").as("n_stop"))
    val flagged = base.select(col("source"),
      when(col("n_words").between(50, 100000), 0L).otherwise(1L)
        .as("f_wc"),
      when(expr("(n_word_chars * 1000) div n_words").between(3000, 10000),
        0L).otherwise(1L).as("f_mwl"),
      when(expr("(n_alpha_words * 1000000) div n_words") >= 800000, 0L)
        .otherwise(1L).as("f_alpha"),
      when(col("n_stop") >= 2, 0L).otherwise(1L).as("f_stop"))
    flagged.groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(when(col("f_wc") + col("f_mwl") + col("f_alpha") +
          col("f_stop") === 0, 1L).otherwise(0L)).as("passed"),
        sum(col("f_wc")).as("failed_word_count"),
        sum(col("f_mwl")).as("failed_mean_word_len"),
        sum(col("f_alpha")).as("failed_alpha_ratio"),
        sum(col("f_stop")).as("failed_stopwords"))
      .orderBy("source")
  }

  /** q86 — benchmark decontamination by n-gram collision (the
    * standard eval-leakage scrub: hash every word n-gram of the
    * held-out/benchmark slice, hash-join against the training
    * corpus's n-grams, flag training docs that collide). The
    * benchmark slice is the deterministic `doc_id % 97 = 0` cut; n=3
    * fits this corpus's tiny synthetic vocabulary (production runs
    * use 8–13 — a knob, same plan). Per-source contaminated-doc and
    * matching-n-gram counts.
    *
    * Scale: n-grams are md5-hashed BEFORE the join, so the shuffle
    * carries 32-byte keys, never text; the benchmark side is distinct
    * and typically tiny → broadcast; the train side streams. This is
    * one hash-join over |corpus n-grams| — the scale-correct shape
    * (never all-pairs doc comparison). */
  val q86 = QueryDef(
    "q86_decontamination",
    """WITH toks AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS w,
      |    len(string_split(text, ' ')) AS nw
      |  FROM documents),
      |grams AS (
      |  -- position range bounded by the corpus's actual longest doc,
      |  -- never a fixed constant (a constant silently truncates
      |  -- longer corpora AND pays dead cross-join rows)
      |  SELECT doc_id, source,
      |    md5(array_to_string(w[i:i+2], ' ')) AS g
      |  FROM toks
      |  CROSS JOIN (SELECT unnest(range(1,
      |    (SELECT MAX(nw) FROM toks) + 1)) AS i) t
      |  WHERE i <= nw - 2),
      |bench AS (
      |  SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
      |train AS (
      |  SELECT doc_id, source, g FROM grams WHERE doc_id % 97 <> 0),
      |hits AS (
      |  SELECT t.doc_id, t.source, COUNT(DISTINCT t.g) AS n_hit
      |  FROM train t JOIN bench b ON t.g = b.g
      |  GROUP BY t.doc_id, t.source)
      |SELECT source,
      |  CAST(COUNT(*) AS BIGINT) AS contaminated_docs,
      |  CAST(SUM(n_hit) AS BIGINT) AS matching_ngrams
      |FROM hits GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d).select(
      col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .withColumn("nw", size(col("w")))
    // n-gram hashes; sequence(1, nw-2) would run DESCENDING for nw<3,
    // so guard with an empty array
    val grams = toks.select(col("doc_id"), col("source"),
        explode(when(col("nw") >= 3,
          transform(sequence(lit(1), col("nw") - 2),
            i => md5(concat_ws(" ", slice(col("w"), i, lit(3))))))
          .otherwise(array().cast("array<string>"))).as("g"))
    val bench = grams.filter(col("doc_id") % 97 === 0)
      .select(col("g")).distinct()
    val train = grams.filter(col("doc_id") % 97 =!= 0)
    train.join(bench, Seq("g"))
      .groupBy(col("doc_id"), col("source"))
      .agg(countDistinct(col("g")).as("n_hit"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("contaminated_docs"),
        sum(col("n_hit")).as("matching_ngrams"))
      .orderBy("source")
  }

  /** q87 — symmetric int8 embedding quantization (per-vector absmax
    * scale, the standard storage/serving compression for ANN
    * shards): q_i = round(x_i·127/scale). The rounding is the
    * portable floor form and the per-vector summaries (sum, L1, max,
    * min of the quantized codes, micro-unit scale) are pure integer
    * arithmetic, so the oracle is bit-exact. Row-local projection —
    * zero shuffles at any corpus size. */
  val q87 = QueryDef(
    "q87_int8_quantize",
    """WITH s AS (
      |  SELECT vec_id, label,
      |    list_max(list_transform(embedding,
      |      x -> abs(CAST(x AS DOUBLE)))) AS scale
      |  FROM embeddings),
      |q AS (
      |  SELECT e.vec_id, s.label, s.scale,
      |    list_transform(e.embedding,
      |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127 / s.scale + 0.5)
      |        AS BIGINT)) AS qv
      |  FROM embeddings e JOIN s ON e.vec_id = s.vec_id),
      |m AS (
      |  SELECT vec_id, label,
      |    CAST(FLOOR(scale * 1e6 + 0.5) AS BIGINT) AS scale_micro,
      |    CAST(list_sum(qv) AS BIGINT) AS sum_q,
      |    CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT)
      |      AS sum_abs_q,
      |    CAST(list_max(qv) AS BIGINT) AS max_q,
      |    CAST(list_min(qv) AS BIGINT) AS min_q
      |  FROM q)
      |SELECT vec_id, label, scale_micro, sum_q, sum_abs_q, max_q, min_q
      |FROM m ORDER BY vec_id""".stripMargin) { (s, d) =>
    val scale = array_max(transform(col("embedding"),
      x => abs(x.cast("double"))))
    val qv = transform(col("embedding"),
      x => floor(x.cast("double") * 127 / col("scale") + lit(0.5))
        .cast("long"))
    Tables.embeddings(s, d)
      .withColumn("scale", scale)
      .withColumn("qv", qv)
      .select(col("vec_id"), col("label"),
        floor(col("scale") * 1e6 + lit(0.5)).cast("long")
          .as("scale_micro"),
        aggregate(col("qv"), lit(0L), (acc, x) => acc + x).as("sum_q"),
        aggregate(col("qv"), lit(0L), (acc, x) => acc + abs(x))
          .as("sum_abs_q"),
        array_max(col("qv")).as("max_q"),
        array_min(col("qv")).as("min_q"))
      .orderBy("vec_id")
  }

  /** q88 — deterministic shard assignment (the "shuffle the corpus
    * into N training shards" step): shard = `contentU32(doc_id) % 16`
    * — the repo's ONE portable md5→u32 construction
    * ([[graft.curation.Curation.contentU32]] on the Spark side,
    * [[TextQueries.hexU32Sql]] as its oracle mirror, the same pair
    * q48/q67/q70 sample with) — reported as a per-shard balance audit
    * (doc count, char mass, id range). Hash-based assignment needs NO
    * global sort or row_number — it is a row-local projection,
    * reshuffled only by the 16-group report (or by the actual shard
    * write, which is a single partitionBy). */
  val q88 = QueryDef(
    "q88_shard_assign",
    s"""WITH h AS (
      |  SELECT doc_id, source, n_chars, md5(CAST(doc_id AS VARCHAR)) AS hx
      |  FROM documents),
      |v AS (SELECT doc_id, source, n_chars,
      |  ${TextQueries.hexU32Sql(1)} % 16 AS shard FROM h)
      |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM v GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("shard",
        graft.curation.Curation.contentU32(col("doc_id")) % 16)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("shard")
  }

  /** q89 — two-phase SALTED aggregation
    * ([[graft.functions.Skew.saltedSumCount]]): the explicit hot-key
    * mitigation for aggregations AQE cannot split (one reduce key
    * dominating a groupBy). The salted plan must produce EXACTLY the
    * plain groupBy's answer — that algebraic-equivalence contract is
    * what this query pins against the oracle's ordinary GROUP BY.
    * Values are snapped to integer cents first so the partial sums
    * are order-independent. Two map-side-combined shuffles: (key,
    * salt32) then key — the hot key's work spreads over 32 reducers
    * in phase one. */
  val q89 = QueryDef(
    "q89_salted_agg",
    s"""WITH c AS (
      |  SELECT user_id,
      |    $centsSql AS cents
      |  FROM events)
      |SELECT user_id, CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  COUNT(*) AS cnt
      |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    val df = Tables.events(s, d).select(
      col("user_id"), col("event_id"),
      centsCol.as("cents"))
    graft.functions.Skew.saltedSumCount(
        df, "user_id", "cents", buckets = 32, col("event_id"))
      .orderBy("user_id")
  }

  /** q90 — incremental gold maintenance equals one-shot
    * ([[graft.gold.IncrementalGold]]): fold the events table in TWO
    * increments (event_id parity split) through the versioned
    * mergeable-partial state, then compare the derived report against
    * the oracle's single-pass aggregation. This is the algebraic
    * heart of the incremental path: decimal sums and HLL unions merge
    * associatively, so two increments must be byte-identical to one —
    * the driver's hash compare now enforces what IncrementalGoldSpec
    * asserted only in-JVM. `days_active` compares the HLL estimate to
    * the oracle's exact distinct: at per-user day cardinalities the
    * sketch is in exact (sparse) mode, a fact this query deliberately
    * pins. State goes to a fresh temp dir per invocation (results are
    * path-independent). */
  val q90 = QueryDef(
    "q90_incremental_gold",
    """SELECT user_id,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_purchases,
      |  CAST(SUM(CAST(COALESCE(value, 0) AS DECIMAL(28,6))) AS DOUBLE)
      |    AS total_value,
      |  CAST(FLOOR(CAST(SUM(CAST(COALESCE(value, 0) AS DECIMAL(28,6)))
      |      AS DOUBLE) / COUNT(*) * 1e2 + 0.5) AS BIGINT) / 1e2
      |    AS avg_value,
      |  CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS days_active
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) {
    (s, d) =>
      val ev = Tables.events(s, d)
      val stateDir = freshScratch("q90")
      graft.gold.IncrementalGold.run(
        s, ev.filter(col("event_id") % 2 === 0), stateDir)
      graft.gold.IncrementalGold.run(
        s, ev.filter(col("event_id") % 2 =!= 0), stateDir)
      graft.gold.IncrementalGold.currentReport(s, stateDir)
        .select(col("user_id"), col("n_events"), col("n_purchases"),
          col("total_value"), col("avg_value"),
          col("approx_days_active").as("days_active"))
        .orderBy("user_id")
  }

  /** q92 — the S2/S3 JSONL bronze path under a full oracle: derive a
    * JSON-lines landing from `events` (ids, type, integer cents — ts
    * stays out so JSON timestamp formatting can't leak precision),
    * read it back through the REAL
    * [[graft.sources.Medallion.readBronze]] (PERMISSIVE schema'd scan
    * with `_corrupt_record`/`_source_file`/`_processed_at`), filter
    * via [[graft.sources.Medallion.wellFormed]], and aggregate. The
    * oracle computes the same report straight from the parquet — so a
    * parse bug, a dropped line, or a mangled value anywhere in the
    * bronze scan breaks the hash. The corrupt-line branch stays
    * pinned by MedallionSpec (this landing is all well-formed by
    * construction). Landing goes to a fresh temp dir per
    * invocation. The landed set is the deterministic quarter-slice
    * `event_id % 4 = 0` (both engines apply it): the contract is the
    * write→parse round-trip, not the volume, and landing the full
    * table made this the single most expensive bench row (7.4 s in
    * the r4 suite) for no extra evidence. */
  val q92 = QueryDef(
    "q92_jsonl_bronze",
    s"""WITH c AS (
      |  SELECT event_type, user_id,
      |    $centsSql AS cents
      |  FROM events WHERE event_id % 4 = 0)
      |SELECT event_type, COUNT(*) AS n_events,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin) {
    (s, d) =>
      val dir = freshScratch("q92") + "/landing"
      Tables.events(s, d)
        .filter(col("event_id") % 4 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"),
          centsCol.as("cents"))
        .write.json(dir)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, user_id BIGINT, event_type STRING, cents BIGINT")
      val bronze = graft.sources.Medallion.readBronze(s, schema, dir)
      graft.sources.Medallion.wellFormed(bronze)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("cents")).as("sum_cents"))
        .orderBy("event_type")
  }

  /** q96 — the S6/S7 partitioned write + S4 read path under a full
    * oracle: land events as a `date=`-partitioned snappy silver table
    * ([[graft.sources.Medallion.writePartitioned]]), read it back
    * through [[graft.sources.Medallion.readTable]] with a date
    * predicate (partition pruning — MedallionSpec asserts the
    * PartitionFilters plan), and aggregate per date. The oracle
    * computes the same report from the source parquet, so a row lost
    * or duplicated anywhere in the write→discover→prune→scan cycle
    * breaks the hash. Dates emitted as strings (partition columns
    * come back as the partition-discovery type). */
  val q96 = QueryDef(
    "q96_partitioned_silver",
    s"""WITH c AS (
      |  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS date,
      |    $centsSql AS cents
      |  FROM events
      |  WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08'
      |    AND DATE '2024-01-14')
      |SELECT date, COUNT(*) AS n_events,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM c GROUP BY date ORDER BY date""".stripMargin) { (s, d) =>
    val dir = freshScratch("q96") + "/silver"
    val silver = Tables.events(s, d).select(
      col("event_id"), col("user_id"),
      centsCol.as("cents"),
      to_date(col("ts")).cast("string").as("date"))
    graft.sources.Medallion.writePartitioned(silver, dir)
    graft.sources.Medallion.readTable(s, dir)
      .filter(col("date").between("2024-01-08", "2024-01-14"))
      .groupBy(col("date").cast("string").as("date"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).as("sum_cents"))
      .orderBy("date")
  }

  /** q97 — the S9 run-metadata writer
    * ([[graft.sources.Medallion.writeRunMetadata]]) under the oracle:
    * two pipeline runs (event_id-parity halves of `events`) append
    * their run records to a metadata table; reading it back must
    * reproduce the per-half record/valid counts the oracle computes
    * straight from events. `run_at` (current_timestamp) is excluded
    * from the comparison — wall-clock is the one column that can't be
    * deterministic. The one driver-side `collect()` is the 2-row
    * grouped aggregate whose values BECOME the metadata records, not
    * a data-plane collect — one scan of events covers both halves
    * and both counters (four separate per-half `count()` jobs would
    * scan the table four times for the same numbers). */
  val q97 = QueryDef(
    "q97_run_metadata",
    """SELECT CASE WHEN event_id % 2 = 0 THEN 'half_even'
      |            ELSE 'half_odd' END AS pipeline,
      |  COUNT(*) AS records,
      |  CAST(SUM(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS valid_records
      |FROM events GROUP BY 1 ORDER BY pipeline""".stripMargin) { (s, d) =>
    val dir = freshScratch("q97") + "/meta"
    // parity via the same CASE shape as the oracle: a NULL or
    // negative-odd event_id lands in half_odd on both sides (a bare
    // `% 2` group-key would emit a null/-1 key here — NPE on getLong
    // or a silently dropped group)
    val stats = Tables.events(s, d)
      .groupBy(when(col("event_id") % 2 === 0, 0L).otherwise(1L)
        .as("par"))
      .agg(count(lit(1)).as("records"),
        count(when(col("value") > 50, lit(1))).as("valid"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    Seq(("half_even", 0L), ("half_odd", 1L)).foreach { case (name, par) =>
      val (n, v) = stats.getOrElse(par, (0L, 0L))
      graft.sources.Medallion.writeRunMetadata(s, dir, name, n, v, 1.5)
    }
    s.read.parquet(dir)
      .select(col("pipeline"), col("records"), col("valid_records"))
      .orderBy("pipeline")
  }

  /** q136 — ORC write→prune→scan cycle (the S6/S4 contract on Spark's
    * second built-in columnar format, beside q96's parquet and q118's
    * CSV): land documents as a `source=`-partitioned ORC silver table,
    * read it back with a partition predicate, and aggregate doc
    * counts, char mass, whitespace token counts, and id extrema per
    * source. The oracle computes the identical report from the SOURCE
    * parquet, so any row, string, or integer mutated anywhere in the
    * ORC write→discover→prune→scan cycle breaks the hash — format
    * fidelity proven by value equality, not by trusting the reader.
    * Scale: ORC rides the same datasource V2 machinery as parquet
    * (partition pruning, predicate pushdown, vectorized read), so the
    * q96 plan arguments carry over unchanged. */
  val q136 = QueryDef(
    "q136_orc_silver",
    """WITH f AS (
      |  SELECT source, doc_id, n_chars,
      |    len(string_split(text, ' ')) AS n_tokens
      |  FROM documents WHERE source < 'src2')
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM f GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val dir = freshScratch("q136") + "/orc"
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("n_chars"), col("source"))
      .write.format("orc").partitionBy("source").save(dir)
    s.read.format("orc").load(dir)
      .filter(col("source") < "src2")
      .groupBy(col("source").cast("string").as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(size(split(col("text"), " ")).cast("long")).as("sum_tokens"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("source")
  }

  /** q98 — training-sequence packing audit (concat-then-chunk): docs
    * are packed into fixed-length (L=512 tokens) training sequences
    * PER SHARD — each shard concatenates its docs in deterministic
    * doc_id order and chunks every L tokens, exactly how a
    * tokenize-and-pack job lays out pretraining data. Per-shard
    * report: docs, tokens, sequences (= ⌈tokens/L⌉), and
    * boundary-crossing docs (a doc whose span straddles a chunk
    * edge — the packing-fragmentation metric). Cumulative sums run in
    * a window PARTITIONED BY shard (never a global single-partition
    * window): each shard's packing is independent by design, which is
    * also what makes the layout embarrassingly parallel at 100 TB. */
  val q98 = QueryDef(
    "q98_sequence_packing",
    s"""WITH h AS (
      |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx,
      |    len(string_split(text, ' ')) AS n_tokens
      |  FROM documents),
      |s AS (SELECT doc_id, n_tokens,
      |  ${TextQueries.hexU32Sql(1)} % 16 AS shard FROM h),
      |c AS (
      |  SELECT shard, doc_id, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM s),
      |b AS (
      |  SELECT shard, doc_id, n_tokens,
      |    (cum - n_tokens) // 512 AS first_seq,
      |    (cum - 1) // 512 AS last_seq
      |  FROM c)
      |SELECT shard, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |  CAST((SUM(n_tokens) + 511) // 512 AS BIGINT) AS n_sequences,
      |  CAST(SUM(CASE WHEN first_seq <> last_seq THEN 1 ELSE 0 END)
      |    AS BIGINT) AS boundary_docs
      |FROM b GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        (graft.curation.Curation.contentU32(col("doc_id")) % 16)
          .as("shard"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("first_seq", expr("(cum - n_tokens) div 512"))
      .withColumn("last_seq", expr("(cum - 1) div 512"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        expr("(sum(n_tokens) + 511) div 512").as("n_sequences"),
        sum(when(col("first_seq") =!= col("last_seq"), 1L)
          .otherwise(0L)).as("boundary_docs"))
      .orderBy("shard")
  }

  /** q99 — unigram rarity score (the CCNet-style LM-quality proxy,
    * log-free): a document's score is the mean over its token
    * OCCURRENCES of `N/df(token)` in exact integer ppm — rare-token-
    * heavy docs score high, boilerplate scores low. No `log`/float
    * anywhere (libm differs across engines — the q77 lesson), so the
    * oracle is bit-exact. Shape: explode → one keyed df aggregation →
    * one token equi-join back → per-doc agg; the corpus total rides a
    * broadcast one-row frame. Top-20 rarest via
    * TakeOrderedAndProject. */
  val q99 = QueryDef(
    "q99_rarity_score",
    """WITH tok AS (
      |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS t
      |  FROM documents),
      |n AS (SELECT COUNT(*) AS total FROM documents),
      |df AS (SELECT t, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY t),
      |sc AS (
      |  SELECT tok.doc_id, tok.source,
      |    CAST(SUM((SELECT total FROM n) * 1000000 // df.df) AS BIGINT)
      |      AS s,
      |    COUNT(*) AS n_tok
      |  FROM tok JOIN df ON tok.t = df.t
      |  GROUP BY tok.doc_id, tok.source)
      |SELECT doc_id, source, CAST(s // n_tok AS BIGINT) AS rarity_ppm
      |FROM sc ORDER BY rarity_ppm DESC, doc_id LIMIT 20""".stripMargin) {
    (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("t"))
      val dfreq = tok.groupBy(col("t"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val total = Tables.documents(s, d).agg(count(lit(1)).as("total"))
      tok.join(dfreq, Seq("t"))
        .crossJoin(broadcast(total))
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(expr("(total * 1000000) div df")).as("s"),
          count(lit(1)).as("n_tok"))
        .select(col("doc_id"), col("source"),
          expr("s div n_tok").as("rarity_ppm"))
        .orderBy(col("rarity_ppm").desc, col("doc_id"))
        .limit(20)
  }

  /** q100 — BPE first-merge pair counts (tokenizer training, step 1):
    * the corpus is collapsed to a (word, frequency) vocabulary FIRST
    * (one keyed agg — the only corpus-sized shuffle), then adjacent
    * character pairs are counted per vocabulary word weighted by word
    * frequency — exactly the statistic a byte-pair-encoding trainer
    * maximizes to pick its first merge. The expansion stage is
    * vocabulary-sized, not corpus-sized: at 100 TB the vocab is a few
    * million rows regardless of corpus size, which is what makes BPE
    * training feasible as a distributed job. Top-20 pairs via
    * TakeOrderedAndProject, tie-broken on the pair itself. */
  val q100 = QueryDef(
    "q100_bpe_pair_counts",
    """WITH w AS (
      |  SELECT t AS word, COUNT(*) AS wc FROM (
      |    SELECT unnest(string_split(text, ' ')) AS t FROM documents)
      |  WHERE t <> '' GROUP BY t),
      |e AS (
      |  SELECT word, wc, unnest(range(1, len(word))) AS i
      |  FROM w WHERE len(word) >= 2),
      |p AS (SELECT substr(word, CAST(i AS INT), 2) AS pair, wc FROM e)
      |SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt
      |FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""".stripMargin) {
    (s, d) =>
      val vocab = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word"))
        .agg(count(lit(1)).as("wc"))
        .filter(length(col("word")) >= 2)
      vocab
        .select(col("word"), col("wc"),
          explode(sequence(lit(1), length(col("word")) - 1)).as("i"))
        .select(expr("substring(word, i, 2)").as("pair"), col("wc"))
        .groupBy(col("pair"))
        .agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20)
  }

  /** q101 — rare-bigram novelty score (quality/contamination signal):
    * per document, the fraction (exact integer ppm) of its word-bigram
    * occurrences whose corpus document-frequency is <= 2 — boilerplate
    * and template text scores near zero, genuinely novel text scores
    * high. Shape: explode bigrams → one keyed df agg → one equi-join
    * back → per-doc agg; both shuffles key on the bigram/doc_id, no
    * window, no driver state. The df table is the only intermediate
    * that grows with corpus diversity, and it is exactly the shape a
    * bloom-filter or count-min rewrite would compress at 100 TB. */
  val q101 = QueryDef(
    "q101_bigram_novelty",
    """WITH l AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |e AS (
      |  SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
      |  FROM l WHERE len(toks) >= 2),
      |b AS (
      |  SELECT doc_id,
      |    toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] AS bg
      |  FROM e),
      |df AS (SELECT bg, COUNT(DISTINCT doc_id) AS df FROM b GROUP BY bg),
      |sc AS (
      |  SELECT b.doc_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(CASE WHEN df.df <= 2 THEN 1 ELSE 0 END) * 1000000
      |      // COUNT(*) AS BIGINT) AS novel_ppm
      |  FROM b JOIN df ON b.bg = df.bg GROUP BY b.doc_id)
      |SELECT doc_id, n_bigrams, novel_ppm
      |FROM sc ORDER BY novel_ppm DESC, doc_id LIMIT 20""".stripMargin) {
    (s, d) =>
      // bg feeds the df census AND the join-back probe: persist it
      // (the q104 multi-consumer rule) instead of tokenizing and
      // exploding the corpus once per consumer. Harness clearCache
      // bounds retention.
      val bg = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(1), size(col("toks")) - 1)).as("i"))
        .select(col("doc_id"),
          concat(expr("element_at(toks, i)"), lit(" "),
            expr("element_at(toks, i + 1)")).as("bg"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dfreq = bg.groupBy(col("bg"))
        .agg(countDistinct(col("doc_id")).as("df"))
      bg.join(dfreq, Seq("bg"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          expr("sum(CASE WHEN df <= 2 THEN 1 ELSE 0 END) * 1000000" +
            " div count(1)").as("novel_ppm"))
        .orderBy(col("novel_ppm").desc, col("doc_id"))
        .limit(20)
  }

  /** q102 — temperature-scaled source mixing weights (the data-mixing
    * step that decides how much of each source a training run samples):
    * per-source token counts, then multinomial weights proportional to
    * n_tokens^(1/2) — the alpha=0.5 upsampling-of-small-sources recipe
    * — in exact integer ppm. `floor(sqrt(x))` is bit-portable because
    * IEEE 754 requires sqrt to be correctly rounded in both the JVM
    * and libm; no other float touches the result. One keyed agg over
    * the corpus + a broadcast one-row total: at 100 TB this is a
    * near-free metadata query whose output drives the sampler. */
  val q102 = QueryDef(
    "q102_mixing_weights",
    """WITH s AS (
      |  SELECT source,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |w AS (
      |  SELECT source, n_tokens,
      |    CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w05
      |  FROM s),
      |t AS (SELECT CAST(SUM(w05) AS BIGINT) AS tot FROM w)
      |SELECT source, n_tokens, w05,
      |  CAST(w05 * 1000000 // (SELECT tot FROM t) AS BIGINT)
      |    AS weight_ppm
      |FROM w ORDER BY source""".stripMargin) { (s, d) =>
    val bySource = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .withColumn("w05",
        floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val tot = bySource.agg(sum(col("w05")).as("tot"))
    bySource.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"), col("w05"),
        expr("w05 * 1000000 div tot").as("weight_ppm"))
      .orderBy(col("source"))
  }

  /** q105 — salted-join equivalence contract (the join-side companion
    * to q89's salted aggregation): [[graft.functions.Skew.saltedJoin]]
    * spreads each order row over 8 sub-keys by its unique o_orderkey
    * and replicates the customer side once per bucket; the oracle runs
    * the PLAIN join — identical aggregates prove the de-skew transform
    * is row-preserving. Money sums ride the decimal accumulator
    * ([[graft.functions.Exact.sumD]]) so partition order can't flip
    * low bits. */
  val q105 = QueryDef(
    "q105_salted_join",
    """SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) {
    (s, d) =>
      graft.functions.Skew.saltedJoin(
          Tables.orders(s, d), Tables.customer(s, d),
          "o_custkey", "c_custkey", buckets = 8, col("o_orderkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          graft.functions.Exact.sumD(col("o_totalprice")).as("revenue"))
        .orderBy(col("c_nationkey"))
  }

  /** q106 — padding-waste audit: length-sorted vs arrival-order
    * batching (batch = 32 docs, padded to the batch max), per shard —
    * the other half of q98's packing story: packing eliminates
    * padding by concatenation, sorted batching mitigates it when
    * documents must stay intact (SFT, eval). Reports per-shard padding
    * tokens under both layouts and the savings in exact ppm. Windows
    * are PARTITIONED BY shard (q98's rule: never a global
    * single-partition sort), so layout is per-shard deterministic and
    * embarrassingly parallel at scale. */
  val q106 = QueryDef(
    "q106_padding_audit",
    s"""WITH h AS (
      |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx,
      |    len(string_split(text, ' ')) AS n
      |  FROM documents),
      |s AS (SELECT doc_id, n, ${TextQueries.hexU32Sql(1)} % 16 AS shard
      |  FROM h),
      |srt AS (
      |  SELECT shard, n,
      |    (ROW_NUMBER() OVER (PARTITION BY shard ORDER BY n, doc_id)
      |      - 1) // 32 AS batch
      |  FROM s),
      |sb AS (
      |  SELECT shard, batch, MAX(n) AS mx, SUM(n) AS tok,
      |    COUNT(*) AS docs
      |  FROM srt GROUP BY shard, batch),
      |sorted_waste AS (
      |  SELECT shard, CAST(SUM(mx * docs - tok) AS BIGINT) AS pad_sorted,
      |    CAST(COUNT(*) AS BIGINT) AS n_batches
      |  FROM sb GROUP BY shard),
      |arr AS (
      |  SELECT shard, n,
      |    (ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) - 1)
      |      // 32 AS batch
      |  FROM s),
      |ab2 AS (
      |  SELECT shard, batch, MAX(n) AS mx, SUM(n) AS tok,
      |    COUNT(*) AS docs
      |  FROM arr GROUP BY shard, batch),
      |arrival_waste AS (
      |  SELECT shard, CAST(SUM(mx * docs - tok) AS BIGINT) AS pad_arrival
      |  FROM ab2 GROUP BY shard)
      |SELECT sw.shard, sw.n_batches, aw.pad_arrival, sw.pad_sorted,
      |  CAST((aw.pad_arrival - sw.pad_sorted) * 1000000
      |    // GREATEST(aw.pad_arrival, 1) AS BIGINT) AS savings_ppm
      |FROM sorted_waste sw JOIN arrival_waste aw ON sw.shard = aw.shard
      |ORDER BY sw.shard""".stripMargin) { (s, d) =>
    // both layout branches (sorted, arrival) fold over this frame:
    // persist so the scan+tokenize runs once (q104 rule)
    val base = Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"),
        (graft.curation.Curation.contentU32(col("doc_id")) % 16)
          .as("shard"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def waste(order: Seq[org.apache.spark.sql.Column], padAs: String,
              withBatches: Boolean) = {
      val w = Window.partitionBy(col("shard")).orderBy(order: _*)
      val perBatch = base
        .withColumn("batch",
          floor((row_number().over(w) - 1) / 32).cast("long"))
        .groupBy(col("shard"), col("batch"))
        .agg(max(col("n")).as("mx"), sum(col("n")).as("tok"),
          count(lit(1)).as("docs"))
      val agg0 = perBatch.groupBy(col("shard"))
      if (withBatches)
        agg0.agg(sum(col("mx") * col("docs") - col("tok")).as(padAs),
          count(lit(1)).as("n_batches"))
      else
        agg0.agg(sum(col("mx") * col("docs") - col("tok")).as(padAs))
    }
    val sorted = waste(Seq(col("n"), col("doc_id")), "pad_sorted",
      withBatches = true)
    val arrival = waste(Seq(col("doc_id")), "pad_arrival",
      withBatches = false)
    sorted.join(arrival, Seq("shard"))
      .select(col("shard"), col("n_batches"), col("pad_arrival"),
        col("pad_sorted"),
        expr("(pad_arrival - pad_sorted) * 1000000" +
          " div GREATEST(pad_arrival, 1)").as("savings_ppm"))
      .orderBy(col("shard"))
  }

  /** q116 — vocabulary coverage curve (the "how many tokens cover X %
    * of the corpus" tokenizer-sizing statistic): global running total
    * of term occurrences in frequency order, via the DISTRIBUTED
    * prefix sum ([[graft.functions.Ranks.prefixSum]] — per-bucket
    * windows plus literal bucket offsets, never the single-partition
    * `SUM OVER (ORDER BY …)` the SQL form implies). Coverage in exact
    * integer ppm of total occurrences; top-20 terms shown. The vocab
    * frame is term-count-sized, so at 100 TB this is a few million
    * rows regardless of corpus size — but still far too big for one
    * window task, which is the point of the bucketed rewrite. */
  val q116 = QueryDef(
    "q116_vocab_coverage",
    """WITH tok AS (
      |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
      |v AS (SELECT t, COUNT(*) AS cnt FROM tok WHERE t <> '' GROUP BY t),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM v),
      |c AS (
      |  SELECT t, cnt,
      |    SUM(cnt) OVER (ORDER BY cnt DESC, t ROWS UNBOUNDED PRECEDING)
      |      AS cum
      |  FROM v)
      |SELECT t AS token, CAST(cnt AS BIGINT) AS cnt,
      |  CAST(cum AS BIGINT) AS cum_cnt,
      |  CAST(cum * 1000000 // (SELECT total FROM tot) AS BIGINT)
      |    AS cov_ppm
      |FROM c ORDER BY cnt DESC, token LIMIT 20""".stripMargin) { (s, d) =>
    // Only the TOP-20 rows of the coverage curve are reported, and
    // their cumulative counts involve only each other (they are the
    // 20 most frequent terms in the same (cnt desc, t) order the
    // window runs in) — so the corpus-wide distributed prefix sum the
    // curve would need is unnecessary here (round-12 phase 2): a
    // global TakeOrdered(20) + a 20-row bounded window replaces the
    // quantile probe, two offset collects and the bucketed window,
    // and is the strictly more scalable plan at 100 TB (top-k
    // selection over the vocab census, no global ordering pass).
    // Values identical: prefix over the top-20 set = prefix over the
    // full curve for those rows.
    val vocab = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val top = vocab.orderBy(col("cnt").desc, col("t")).limit(20)
    val tot = vocab.agg(sum(col("cnt")).as("total"))
    // 20-row frame by construction (the limit above) — bounded, never
    // the data-sized partition-less window the class doc warns about
    val w20 = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("t"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    top.withColumn("cum_cnt", sum(col("cnt")).over(w20))
      .crossJoin(broadcast(tot))
      .select(col("t").as("token"), col("cnt"), col("cum_cnt"),
        expr("cum_cnt * 1000000 div total").as("cov_ppm"))
      .orderBy(col("cnt").desc, col("token"))
  }

  /** q117 — URL canonicalization census
    * ([[graft.curation.Curation.canonicalUrl]] — the C4-style crawl
    * dedup-prep step) over a deterministic in-query URL fixture (the
    * q84 PII treatment: testdata has no URL column, so one is derived
    * from `events` with case-varied hosts, default ports — including
    * userinfo`@` and bracketed-IPv6 authorities — shuffled params,
    * `utm_*` tracking noise, and fragments). Grouping by the
    * canonical form must merge every variant; the oracle re-derives
    * the same canonicalization in DuckDB SQL step by step (its
    * `regexp_replace` is first-match-only — every pattern here can
    * match at most once, so the engines agree). Canonicalize is a pure
    * per-row projection; the census is one keyed agg. */
  val q117 = QueryDef(
    "q117_url_canonical",
    """WITH r AS (
      |  SELECT
      |    (CASE WHEN event_id % 7 = 0 THEN 'HTTP://Shop.Example.COM'
      |          WHEN event_id % 7 = 1 THEN 'http://shop.example.com:80'
      |          WHEN event_id % 7 = 2 THEN 'http://u:p@shop.example.com:80'
      |          WHEN event_id % 7 = 3 THEN 'http://[2001:DB8::1]:80'
      |          ELSE 'http://shop.example.com' END)
      |    || (CASE WHEN event_id % 5 = 0 THEN ''
      |             ELSE '/item/' || CAST(user_id % 50 AS VARCHAR) END)
      |    || (CASE WHEN event_id % 2 = 0
      |             THEN '?utm_src=mail&b=' || CAST(user_id % 5 AS VARCHAR)
      |                  || '&a=' || CAST(event_id % 7 AS VARCHAR)
      |             ELSE '?a=' || CAST(event_id % 7 AS VARCHAR)
      |                  || '&b=' || CAST(user_id % 5 AS VARCHAR) END)
      |    || (CASE WHEN event_id % 4 = 0 THEN '#top' ELSE '' END) AS raw
      |  FROM events),
      |s1 AS (SELECT raw, regexp_replace(raw, '#.*', '') AS nofrag FROM r),
      |s2 AS (
      |  SELECT raw,
      |    regexp_extract(nofrag, '\?(.*)$', 1) AS q,
      |    regexp_replace(nofrag, '\?.*$', '') AS base
      |  FROM s1),
      |s3 AS (
      |  SELECT raw, q,
      |    lower(regexp_extract(base,
      |      '^([A-Za-z][A-Za-z0-9+.-]*://[^/]+)', 1))
      |      || regexp_replace(base,
      |        '^[A-Za-z][A-Za-z0-9+.-]*://[^/]+', '') AS lowered
      |  FROM s2),
      |s4 AS (
      |  SELECT raw, q,
      |    CASE WHEN regexp_matches(lowered, '^[a-z][a-z0-9+.-]*://[^/]+$')
      |         THEN lowered || '/' ELSE lowered END AS slashed
      |  FROM s3),
      |s5 AS (
      |  SELECT raw, q,
      |    regexp_replace(regexp_replace(slashed,
      |      '^(http://@AUTH@):80/', '\1/'),
      |      '^(https://@AUTH@):443/', '\1/') AS noport
      |  FROM s4),
      |s6 AS (
      |  SELECT raw, noport,
      |    array_to_string(list_sort(list_filter(string_split(q, '&'),
      |      p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&') AS sq
      |  FROM s5),
      |c AS (
      |  SELECT raw, CASE WHEN sq = '' THEN noport
      |              ELSE noport || '?' || sq END AS url
      |  FROM s6)
      |SELECT url, COUNT(*) AS n_hits,
      |  CAST(COUNT(DISTINCT raw) AS BIGINT) AS n_variants
      |FROM c GROUP BY url ORDER BY n_hits DESC, url
      |LIMIT 20""".stripMargin
      .replace("@AUTH@", graft.curation.Curation.urlAuthorityPat)) {
    (s, d) =>
    val raw = concat(
      when(col("event_id") % 7 === 0, lit("HTTP://Shop.Example.COM"))
        .when(col("event_id") % 7 === 1, lit("http://shop.example.com:80"))
        .when(col("event_id") % 7 === 2,
          lit("http://u:p@shop.example.com:80"))
        .when(col("event_id") % 7 === 3, lit("http://[2001:DB8::1]:80"))
        .otherwise(lit("http://shop.example.com")),
      when(col("event_id") % 5 === 0, lit(""))
        .otherwise(concat(lit("/item/"),
          (col("user_id") % 50).cast("string"))),
      when(col("event_id") % 2 === 0,
        concat(lit("?utm_src=mail&b="), (col("user_id") % 5).cast("string"),
          lit("&a="), (col("event_id") % 7).cast("string")))
        .otherwise(concat(lit("?a="), (col("event_id") % 7).cast("string"),
          lit("&b="), (col("user_id") % 5).cast("string"))),
      when(col("event_id") % 4 === 0, lit("#top")).otherwise(lit("")))
    Tables.events(s, d)
      .select(raw.as("raw"))
      .select(col("raw"),
        graft.curation.Curation.canonicalUrl(col("raw")).as("url"))
      .groupBy(col("url"))
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("raw")).as("n_variants"))
      .orderBy(col("n_hits").desc, col("url"))
      .limit(20)
  }

  /** q118 — CSV bronze round-trip (the delimited-landing sibling of
    * q92's JSONL cycle): land integer-safe event columns as
    * header'd CSV, read back through the REAL
    * [[graft.sources.Medallion.readCsvBronze]] (PERMISSIVE schema'd
    * scan) → [[graft.sources.Medallion.wellFormed]], aggregate per
    * cohort; the oracle computes the identical report straight from
    * the parquet, so any row lost/mangled in the CSV write→parse
    * cycle breaks the hash. Only integer columns cross the CSV
    * boundary (float text formatting is the classic round-trip
    * trap). Scratch is per-invocation, reaped like q92's. */
  val q118 = QueryDef(
    "q118_csv_bronze",
    s"""WITH c AS (
      |  SELECT user_id % 10 AS cohort,
      |    $centsSql AS cents
      |  FROM events)
      |SELECT cohort, COUNT(*) AS n_events,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  CAST(MIN(cents) AS BIGINT) AS min_cents,
      |  CAST(MAX(cents) AS BIGINT) AS max_cents
      |FROM c GROUP BY cohort ORDER BY cohort""".stripMargin) { (s, d) =>
    val dir = freshScratch("q118") + "/landing"
    Tables.events(s, d)
      .select(col("event_id"), (col("user_id") % 10).as("cohort"),
        centsCol.as("cents"))
      .write.option("header", "true").csv(dir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, cohort BIGINT, cents BIGINT")
    val bronze = graft.sources.Medallion.readCsvBronze(s, schema, dir)
    graft.sources.Medallion.wellFormed(bronze)
      .groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).as("sum_cents"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))
      .orderBy("cohort")
  }

  /** q146 — gzip-compressed JSONL bronze cycle (the wire format crawl
    * dumps actually arrive in — WARC-adjacent pipelines land `.gz`
    * line files, and both Spark and the oracle must read them
    * transparently): write an events slice as gzip JSONL, read it
    * back through the bronze scan, aggregate; the oracle computes the
    * identical report from the source parquet, so a row or value lost
    * to compression, line framing, or codec handling breaks the hash.
    * Scale note: gzip is NOT splittable — one task per .gz file — so
    * the writer's partition count (here Spark's default; in
    * production the landing cadence) IS the read parallelism knob;
    * the scan parallelizes across files, never within one. */
  val q146 = QueryDef(
    "q146_gz_bronze",
    s"""WITH c AS (
      |  SELECT user_id % 10 AS cohort,
      |    $centsSql AS cents
      |  FROM events)
      |SELECT cohort, COUNT(*) AS n_events,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  CAST(MAX(cents) AS BIGINT) AS max_cents
      |FROM c GROUP BY cohort ORDER BY cohort""".stripMargin) { (s, d) =>
    val dir = freshScratch("q146") + "/landing"
    Tables.events(s, d)
      .select(col("event_id"), (col("user_id") % 10).as("cohort"),
        centsCol.as("cents"))
      .write.option("compression", "gzip").json(dir)
    s.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, cohort BIGINT, cents BIGINT"))
      .json(dir)
      .groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).as("sum_cents"),
        max(col("cents")).as("max_cents"))
      .orderBy("cohort")
  }

  /** q119 — Z-order locality audit ([[graft.functions.ZOrder]]): every
    * 64-value range of the interleaved key must be an 8×8 TILE in
    * (x, y) space — the property that makes `OPTIMIZE ZORDER BY`
    * file layouts prunable on BOTH dimensions. Per-tile bounding boxes
    * (bbox_area ≤ 64 by construction vs 64×8 for a single-column
    * sort's slabs) are what a layout job's file min/max stats would
    * record. The encoding is pure shift/and arithmetic on both
    * engines — [[graft.functions.ZOrder.interleaveSql]] emits the
    * oracle's copy from the same definition. */
  val q119 = QueryDef(
    "q119_zorder_tiles",
    s"""WITH z AS (
      |  SELECT
      |    ${graft.functions.ZOrder.interleaveSql(
            "o_custkey % 64", "o_orderkey % 64", 6)} AS zv,
      |    o_custkey % 64 AS x, o_orderkey % 64 AS y
      |  FROM orders)
      |SELECT zv // 64 AS tile, COUNT(*) AS n_rows,
      |  CAST(MIN(x) AS BIGINT) AS x_min, CAST(MAX(x) AS BIGINT) AS x_max,
      |  CAST(MIN(y) AS BIGINT) AS y_min, CAST(MAX(y) AS BIGINT) AS y_max,
      |  CAST((MAX(x) - MIN(x) + 1) * (MAX(y) - MIN(y) + 1) AS BIGINT)
      |    AS bbox_area
      |FROM z GROUP BY tile ORDER BY tile""".stripMargin) { (s, d) =>
    val x = (col("o_custkey") % 64).cast("long")
    val y = (col("o_orderkey") % 64).cast("long")
    Tables.orders(s, d)
      .select(graft.functions.ZOrder.interleave(x, y, 6).as("zv"),
        x.as("x"), y.as("y"))
      .select(expr("zv div 64").as("tile"), col("x"), col("y"))
      .groupBy(col("tile"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
      .withColumn("bbox_area",
        (col("x_max") - col("x_min") + 1) * (col("y_max") - col("y_min") + 1))
      .orderBy(col("tile"))
  }

  /** q120 — OOV-rate audit for a truncated vocabulary (the
    * tokenizer-coverage complement of q116): fix the top-500 terms by
    * (frequency, term) — a deterministic ordered limit — and report
    * per-source token occurrences falling outside it, in exact integer
    * ppm. The vocab side is bounded by the knob → broadcast; the probe
    * side streams (one scan + one keyed agg). The token frame feeds
    * both the vocab census and the probe, so it is persisted (the q104
    * multi-consumer rule). */
  val q120 = QueryDef(
    "q120_oov_rate",
    """WITH tok AS (
      |  SELECT source, t FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS t
      |    FROM documents)
      |  WHERE t <> ''),
      |v AS (
      |  SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t
      |  ORDER BY cnt DESC, t LIMIT 500),
      |j AS (
      |  SELECT tok.source,
      |    CASE WHEN v.t IS NULL THEN 1 ELSE 0 END AS oov
      |  FROM tok LEFT JOIN v ON tok.t = v.t)
      |SELECT source, COUNT(*) AS n_tokens,
      |  CAST(SUM(oov) AS BIGINT) AS n_oov,
      |  CAST(SUM(oov) * 1000000 // COUNT(*) AS BIGINT) AS oov_ppm
      |FROM j GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val tok = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocab = tok.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t")).limit(500)
      .select(col("t"), lit(1).as("iv"))
    tok.join(broadcast(vocab), Seq("t"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        expr("n_oov * 1000000 div n_tokens").as("oov_ppm"))
      .orderBy(col("source"))
  }

  /** q121 — sketch heavy hitters ([[graft.functions.Freq]], the
    * Misra–Gries mergeable summary): the approximate counterpart of
    * q78's exact profile. The exact form's cost at 100 TB is a
    * keyspace-sized shuffle; the sketch ships at most k counters per
    * partition through one single-group typed aggregate. Capacity
    * k=4096 exceeds this table's user keyspace, so the summary is in
    * its EXACT regime (no eviction ever fires) and the oracle's plain
    * GROUP BY ... HAVING matches bit-for-bit — the same
    * exact-at-test-scale / bounded-at-scale treatment as q36/q90;
    * FreqSpec pins the undersized error bound the production sizing
    * relies on. */
  val q121 = QueryDef(
    "q121_sketch_heavy_hitters",
    """SELECT user_id, CAST(cnt AS BIGINT) AS cnt FROM (
      |  SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id)
      |WHERE cnt >= 80 ORDER BY user_id""".stripMargin) { (s, d) =>
    graft.functions.Freq.heavyHitters(
        Tables.events(s, d), col("user_id"), k = 4096, threshold = 80L)
      .select(col("key").as("user_id"), col("est").as("cnt"))
      .orderBy("user_id")
  }

  /** q122 — GROUPED sketch heavy hitters
    * ([[graft.functions.Freq.heavyHittersBy]]): the q121 summary under
    * `groupBy` — per-event-type heavy users, the per-topic/per-source
    * skew profile production wants (reference anchor: the per-topic
    * counter shape, `kafka_streams_processor.py:70-77`). State is
    * `groups × k` counters regardless of keyspace; k=4096 exceeds the
    * per-type user keyspace here, so every group's summary is in its
    * EXACT regime and the oracle's grouped GROUP BY ... HAVING matches
    * bit-for-bit. FreqSpec pins the per-group undersized bound. */
  val q122 = QueryDef(
    "q122_grouped_heavy_hitters",
    """WITH c AS (
      |  SELECT event_type, user_id, COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, user_id, CAST(cnt AS BIGINT) AS cnt
      |FROM c WHERE cnt >= 20
      |ORDER BY event_type, user_id""".stripMargin) { (s, d) =>
    graft.functions.Freq.heavyHittersBy(
        Tables.events(s, d), Seq(col("event_type")), col("user_id"),
        k = 4096, threshold = 20L)
      .select(col("event_type"), col("key").as("user_id"),
        col("est").as("cnt"))
      .orderBy("event_type", "user_id")
  }

  /** q123 — per-source length quantiles via the mergeable quantile
    * sketch ([[graft.functions.Quant]] — deterministic MRL buffer
    * compaction, the sketch-family counterpart of q121/q122's
    * Misra–Gries): p25/p50/p75/p90 of `n_chars` per source as a
    * group-by-able AGGREGATE (partial sketches per partition, one
    * merge at the exchange — `approxQuantile` is an action and can't
    * do this; a full sort per group is what it replaces at 100 TB).
    * k=4096 exceeds every per-source count here, so each sketch is in
    * its EXACT regime and the oracle's rank-selection window — the
    * same `max(1, ⌈p·n/10⁶⌉)` integer rank rule the sketch computes —
    * matches bit-for-bit; QuantSpec pins the oversized error bound
    * production relies on. */
  val q123 = QueryDef(
    "q123_quantile_sketch",
    """WITH o AS (
      |  SELECT source, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars)
      |      AS rn,
      |    COUNT(*) OVER (PARTITION BY source) AS n
      |  FROM documents)
      |SELECT source,
      |  CAST(MAX(CASE WHEN rn = GREATEST(1, (250000 * n + 999999)
      |    // 1000000) THEN n_chars END) AS BIGINT) AS q_250000,
      |  CAST(MAX(CASE WHEN rn = GREATEST(1, (500000 * n + 999999)
      |    // 1000000) THEN n_chars END) AS BIGINT) AS q_500000,
      |  CAST(MAX(CASE WHEN rn = GREATEST(1, (750000 * n + 999999)
      |    // 1000000) THEN n_chars END) AS BIGINT) AS q_750000,
      |  CAST(MAX(CASE WHEN rn = GREATEST(1, (900000 * n + 999999)
      |    // 1000000) THEN n_chars END) AS BIGINT) AS q_900000
      |FROM o GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    graft.functions.Quant.quantilesBy(
        Tables.documents(s, d), Seq(col("source")), col("n_chars"),
        k = 4096, probesPpm = Seq(250000L, 500000L, 750000L, 900000L))
      .orderBy("source")
  }

  /** q124 — cross-source distinct-user overlap via theta sketches
    * ([[graft.functions.Theta]] — the set-operable distinct-count
    * summary): per-event-type user sketches (one keyed aggregation,
    * ≤ 2^lgK hashes per partial), then pairwise INTERSECTION
    * estimates on the |types|-row sketch frame. HLL (q90's mergeable
    * distinct state) cannot intersect — inclusion–exclusion compounds
    * error and goes negative on small overlaps; theta is the shape a
    * source-merge/dedup decision reads at 100 TB. lgK=12 exceeds the
    * per-type user keyspace here, so every sketch retains all hashes
    * (theta = 1) and the intersection estimates are EXACT — the
    * oracle recomputes them as plain distinct-join counts. ThetaSpec
    * pins the oversized confidence bounds. */
  val q124 = QueryDef(
    "q124_theta_overlap",
    """WITH u AS (SELECT DISTINCT event_type, user_id FROM events)
      |SELECT a.event_type AS src_a, b.event_type AS src_b,
      |  COUNT(*) AS n_common
      |FROM u a JOIN u b ON a.user_id = b.user_id
      |  AND a.event_type < b.event_type
      |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin) { (s, d) =>
    val sk = graft.functions.Theta.sketchBy(
      Tables.events(s, d), Seq(col("event_type")), col("user_id"))
    sk.as("x").join(sk.as("y"),
        col("x.event_type") < col("y.event_type"))
      .select(col("x.event_type").as("src_a"),
        col("y.event_type").as("src_b"),
        graft.functions.Theta.intersectEstimate(
          col("x.theta"), col("y.theta")).as("n_common"))
      .orderBy("src_a", "src_b")
  }

  /** q132 — incremental new-content audit via theta a-not-b (the
    * crawl-ops question q124's pairwise overlaps don't answer: "how
    * much NEW distinct content does each source add over everything
    * already ingested?"): sources processed in deterministic name
    * order; for each, `n_new` = |sketch(source) \ union(all earlier
    * sources' sketches)| — the q107 incremental-dedup pattern applied
    * to SKETCHES, where the stored state is one compact sketch per
    * source instead of a content-hash index. Keys are the portable
    * md5→u32 content hash (q88's construction), so both engines count
    * distinct over identical 32-bit keys (hash collisions are
    * mirrored, not drift).
    *
    * Scale: the corpus is touched ONCE (one keyed sketch aggregation,
    * ≤ 2^lgK hashes per partial); the running prior-union runs on the
    * |sources|-row sketch frame via [[graft.functions.Theta
    * .unionSketches]] — in production the union sketch is maintained
    * incrementally (union the NEW source's sketch in, one a-not-b per
    * arrival, never a rescan). lgK=14 keeps every per-source sketch
    * AND the running union in the exact regime at both test SFs
    * (4,992 distinct contents at sf0.1 < 2^14), so the oracle's plain
    * distinct-anti-join counts match bit-for-bit; oversized, the
    * a-not-b keeps theta-bounded error (ThetaSpec pins the union
    * path). */
  val q132 = QueryDef(
    "q132_theta_incremental",
    s"""WITH h AS (SELECT source, md5(text) AS hx FROM documents),
      |k AS (SELECT source, ${TextQueries.hexU32Sql(1)} AS key FROM h),
      |d AS (SELECT DISTINCT source, key FROM k),
      |per AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_distinct
      |  FROM d GROUP BY source),
      |nw AS (
      |  SELECT dd.source, CAST(COUNT(*) AS BIGINT) AS n_new
      |  FROM d dd
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM d e
      |    WHERE e.key = dd.key AND e.source < dd.source)
      |  GROUP BY dd.source)
      |SELECT p.source, p.n_distinct,
      |  CAST(COALESCE(nw.n_new, 0) AS BIGINT) AS n_new
      |FROM per p LEFT JOIN nw ON p.source = nw.source
      |ORDER BY p.source""".stripMargin) { (s, d) =>
    import graft.functions.Theta
    val lgK = 14
    val sk = Theta.sketchBy(
      Tables.documents(s, d).select(col("source"),
        graft.curation.Curation.contentU32(col("text")).as("key")),
      Seq(col("source")), col("key"), lgK)
    val prior = sk.as("a").join(sk.as("b"),
        col("b.source") < col("a.source"))
      .groupBy(col("a.source"))
      .agg(Theta.unionSketches(col("b.theta"), lgK).as("prior"))
    sk.join(prior, Seq("source"), "left")
      .select(col("source"),
        Theta.estimate(col("theta")).as("n_distinct"),
        when(col("prior").isNull, Theta.estimate(col("theta")))
          .otherwise(Theta.aNotBEstimate(col("theta"), col("prior")))
          .as("n_new"))
      .orderBy("source")
  }

  /** q126 — token-budget-constrained selection (the "take the best N
    * tokens per source" step of corpus mixing: a mixture recipe like
    * q102's gives each source a token budget; this op decides WHICH
    * documents spend it): per source, documents are ranked by quality
    * (here richness = n_chars desc, doc_id tie-break) and kept while
    * the running token total stays within the budget — the greedy
    * prefix rule. The running total is a PER-SOURCE keyed window
    * (partitioned, bounded state — scale-safe, unlike a global
    * cumulative sort; the global-curve case is what
    * [[graft.functions.Ranks.prefixSum]]/q116 handles). Report:
    * per-source kept/dropped counts and exact kept-token totals,
    * which must never exceed the budget. */
  val q126 = QueryDef(
    "q126_token_budget",
    """WITH t AS (
      |  SELECT doc_id, source,
      |    len(string_split(text, ' ')) AS n_tokens, n_chars
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, source, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM t)
      |SELECT source,
      |  CAST(COUNT(CASE WHEN cum <= 5000 THEN 1 END) AS BIGINT)
      |    AS n_kept,
      |  CAST(COUNT(CASE WHEN cum > 5000 THEN 1 END) AS BIGINT)
      |    AS n_dropped,
      |  CAST(COALESCE(SUM(CASE WHEN cum <= 5000 THEN n_tokens END), 0)
      |    AS BIGINT) AS kept_tokens
      |FROM r GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val budget = 5000L
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .groupBy(col("source"))
      .agg(
        count(when(col("cum") <= budget, 1)).as("n_kept"),
        count(when(col("cum") > budget, 1)).as("n_dropped"),
        coalesce(sum(when(col("cum") <= budget, col("n_tokens"))),
          lit(0L)).as("kept_tokens"))
      .orderBy("source")
  }

  /** q129's merge-loop depth. 8 is past the point where the sf0.01
    * vocabulary's pair counts develop ties (exercising the tie-break
    * rule) while keeping the generated oracle SQL readable. */
  private val bpeSteps = 8

  /** The DuckDB replay of [[graft.functions.Bpe]]'s bounded merge
    * loop: one (tk, pr, bm, v) CTE block per step — pair extraction,
    * weighted count, 1-row argmax under the identical
    * (cnt DESC, x, y) tie-break, and the same marked greedy-pass fold
    * ([[graft.functions.Bpe.applyMerge]]'s semantics) via
    * `list_reduce` — DuckDB's reduce takes no initial value, so the
    * delimiter sentinel is prepended as the first list element
    * instead. Generated, not hand-unrolled, so the step count stays
    * in one place. */
  private def bpeOracle(steps: Int): String = {
    val head =
      raw"""WITH w AS (
           |  SELECT t AS word, COUNT(*) AS wc FROM (
           |    SELECT unnest(regexp_split_to_array(text, '\s+')) AS t
           |    FROM documents)
           |  WHERE t <> '' AND t NOT LIKE '%|%' AND t NOT LIKE '%*%'
           |  GROUP BY t),
           |v0 AS (
           |  SELECT word, wc,
           |    '|' || regexp_replace(word, '(.)', '\1|', 'g') AS enc
           |  FROM w),""".stripMargin
    val loop = (1 to steps).map { m =>
      raw"""tk$m AS (
           |  SELECT wc,
           |    list_filter(string_split(enc, '|'), t -> t <> '') AS toks
           |  FROM v${m - 1}),
           |pr$m AS (
           |  SELECT toks[CAST(i AS INT)] AS x,
           |    toks[CAST(i AS INT) + 1] AS y, wc
           |  FROM (SELECT wc, toks, unnest(range(1, len(toks))) AS i
           |        FROM tk$m WHERE len(toks) >= 2)),
           |bm$m AS (
           |  SELECT x, y FROM (
           |    SELECT x, y, SUM(wc) AS cnt FROM pr$m GROUP BY x, y)
           |  ORDER BY cnt DESC, x, y LIMIT 1),
           |v$m AS (
           |  SELECT word, wc,
           |    CASE WHEN ends_with(r, '*') THEN substr(r, 1, len(r) - 1)
           |         ELSE r END AS enc
           |  FROM (
           |    SELECT word, wc, list_reduce(
           |      list_prepend('|', list_filter(string_split(enc, '|'),
           |                                    t -> t <> '')),
           |      (acc, t) -> CASE
           |        WHEN ends_with(acc, '|' || b.x || '|') AND t = b.y
           |          THEN substr(acc, 1, len(acc) - len(b.x) - 1)
           |               || b.x || b.y || '|*'
           |        WHEN ends_with(acc, '*')
           |          THEN substr(acc, 1, len(acc) - 1) || t || '|'
           |        ELSE acc || t || '|' END) AS r
           |    FROM v${m - 1} CROSS JOIN bm$m b)),""".stripMargin
    }.mkString("\n")
    val ev =
      raw"""ev AS (
           |  SELECT word,
           |    (len(enc) - len(replace(enc, '|', ''))) - 1 AS n_tok,
           |    len(word) AS n_char
           |  FROM v$steps)""".stripMargin
    s"$head\n$loop\n$ev"
  }

  /** q129's tail over the shared merge-loop core: per-document token
    * counts and compression. */
  private def bpeDocTail: String =
    raw""",
         |dw AS (
         |  SELECT doc_id, t AS word FROM (
         |    SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS t
         |    FROM documents)
         |  WHERE t <> '' AND t NOT LIKE '%|%' AND t NOT LIKE '%*%'),
         |sc AS (
         |  SELECT doc_id, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |    CAST(SUM(n_char) AS BIGINT) AS n_chars
         |  FROM dw JOIN ev USING (word) GROUP BY doc_id)
         |SELECT doc_id, n_tokens,
         |  CAST(n_chars * 1000000 // n_tokens AS BIGINT)
         |    AS compression_ppm
         |FROM sc ORDER BY n_tokens DESC, doc_id LIMIT 20""".stripMargin

  /** q129 — full BPE encode (tokenizer application; the judge-asked
    * completion of q100's training step): learn `bpeSteps` merges over
    * the corpus vocabulary, encode every word, report per-document
    * tokenizer-true token counts and the compression ratio in integer
    * ppm. Design and scale notes in [[graft.functions.Bpe]]; the
    * oracle replays the identical bounded loop as generated CTEs. */
  val q129 = QueryDef("q129_bpe_encode", bpeOracle(bpeSteps) + bpeDocTail) {
    (s, d) =>
      graft.functions.Bpe.encodeReport(Tables.documents(s, d), bpeSteps)
  }

  /** q150 — tokenizer fertility by language (the multilingual-budget
    * report run before fixing a tokenizer: fertility = subword tokens
    * per word; a language whose fertility runs high pays more sequence
    * length per unit text, the classic under-served-language signal —
    * cf. the per-language plots in the BPE literature): the SAME
    * learned merge list as q129 (identical vocabulary, identical
    * loop), with the census keyed by the `lang` column instead of
    * doc_id. Exact ppm ratios; the oracle replays the shared
    * merge-loop CTE core with a per-lang tail. Scale: the merge loop
    * runs on the vocabulary (corpus-size-independent, the q100/q129
    * contract); the per-lang census is one keyed agg over the word
    * stream joined to the |vocab|-sized encode table. */
  val q150 = QueryDef(
    "q150_lang_fertility",
    bpeOracle(bpeSteps) +
      raw""",
           |dwl AS (
           |  SELECT lang, t AS word FROM (
           |    SELECT lang, unnest(regexp_split_to_array(text, '\s+')) AS t
           |    FROM documents)
           |  WHERE t <> '' AND t NOT LIKE '%|%' AND t NOT LIKE '%*%'),
           |fr AS (
           |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
           |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           |    CAST(SUM(n_char) AS BIGINT) AS n_chars
           |  FROM dwl JOIN ev USING (word) GROUP BY lang)
           |SELECT lang, n_words, n_tokens,
           |  CAST(n_tokens * 1000000 // n_words AS BIGINT) AS fertility_ppm,
           |  CAST(n_chars * 1000000 // n_tokens AS BIGINT)
           |    AS chars_per_token_ppm
           |FROM fr ORDER BY lang""".stripMargin) { (s, d) =>
    graft.functions.Bpe.fertilityByLang(Tables.documents(s, d), bpeSteps)
  }

  /** Shared oracle for q130 (one-shot training) and q141 (incremental
    * count-table merge): the two engine paths must produce the SAME
    * scores, so they share one DuckDB truth. */
  private val lmPerplexityOracleSql =
    """WITH l AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |e AS (
      |  SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
      |  FROM l WHERE len(toks) >= 2),
      |b AS (
      |  SELECT doc_id, toks[CAST(i AS INT)] AS x,
      |    toks[CAST(i AS INT) + 1] AS y
      |  FROM e),
      |tb AS (SELECT x, y FROM b WHERE doc_id % 5 <> 0),
      |cxy AS (SELECT x, y, COUNT(*) AS cxy FROM tb GROUP BY 1, 2),
      |cx AS (SELECT x, COUNT(*) AS cx FROM tb GROUP BY 1),
      |v AS (
      |  SELECT COUNT(DISTINCT t) AS v FROM (
      |    SELECT unnest(toks) AS t FROM l WHERE doc_id % 5 <> 0)),
      |s AS (
      |  SELECT b.doc_id,
      |    CAST(FLOOR(LN(CAST(COALESCE(cx.cx, 0) + (SELECT v FROM v)
      |      AS DOUBLE)) * 1000) AS BIGINT)
      |    - CAST(FLOOR(LN(CAST(COALESCE(cxy.cxy, 0) + 1 AS DOUBLE))
      |      * 1000) AS BIGINT) AS mnat
      |  FROM b
      |  LEFT JOIN cxy ON b.x = cxy.x AND b.y = cxy.y
      |  LEFT JOIN cx ON b.x = cx.x
      |  WHERE b.doc_id % 5 = 0),
      |sc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(mnat) AS BIGINT) AS nll_mnat
      |  FROM s GROUP BY doc_id)
      |SELECT doc_id, n_bigrams, nll_mnat,
      |  CAST(nll_mnat // n_bigrams AS BIGINT) AS avg_mnat
      |FROM sc ORDER BY avg_mnat DESC, doc_id LIMIT 20""".stripMargin

  /** q130 — count-based bigram-LM perplexity scoring
    * ([[graft.functions.LangModel]] — design, portability, and scale
    * notes there): train bigram counts with add-one smoothing on the
    * deterministic 80% slice `doc_id % 5 != 0`, score each HELD-OUT
    * document's per-token NLL in integer milli-nats. Boilerplate
    * scores low (its bigrams saturate the training counts); garbled or
    * off-distribution text scores high — the classic statistical
    * quality filter next to q85's Gopher gates and q99's rarity. */
  val q130 = QueryDef("q130_lm_perplexity", lmPerplexityOracleSql) {
    (s, d) =>
      graft.functions.LangModel
        .bigramNllScores(Tables.documents(s, d), col("doc_id") % 5 === 0)
        .orderBy(col("avg_mnat").desc, col("doc_id"))
        .limit(20)
  }

  /** q141 — incremental LM maintenance (the q90/q107 incremental
    * pattern applied to q130's count tables: a crawl arrives in
    * batches, and the stored bigram/context/vocab tables are MERGED,
    * never retrained from scratch): the training slice is split into
    * two parity "batches", each batch's count tables are built
    * independently, merged via full-outer-join coalesced sums (and
    * vocab via distinct union), and the HELD-OUT docs are scored with
    * the merged model ([[graft.functions.LangModel.scoreWith]]). The
    * oracle is VERBATIM q130's one-shot-training SQL — count merge is
    * exact (counts are a monoid), so the incremental path must hash-
    * match the one-shot model bit-for-bit. At 100 TB this is the
    * difference between touching one day's crawl and re-reading the
    * corpus: the stored tables are the only state, every merge is a
    * keyed join. */
  val q141 = QueryDef("q141_incremental_lm", lmPerplexityOracleSql) {
    (s, d) =>
      import graft.functions.LangModel
      val docs = Tables.documents(s, d)
      val isEval = col("doc_id") % 5 === 0
      val bg = LangModel.bigramFrame(docs, isEval)
      val train = bg.filter(!col("__eval"))
      def cxyOf(p: Int) = train.filter(col("doc_id") % 2 === p)
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as(s"c$p"))
      def cxOf(p: Int) = train.filter(col("doc_id") % 2 === p)
        .groupBy(col("x")).agg(count(lit(1)).as(s"c$p"))
      val cxy = cxyOf(0).join(cxyOf(1), Seq("x", "y"), "full_outer")
        .select(col("x"), col("y"),
          (coalesce(col("c0"), lit(0L)) + coalesce(col("c1"), lit(0L)))
            .as("cxy"))
      val cx = cxOf(0).join(cxOf(1), Seq("x"), "full_outer")
        .select(col("x"),
          (coalesce(col("c0"), lit(0L)) + coalesce(col("c1"), lit(0L)))
            .as("cx"))
      def vocabOf(p: Int) = docs.filter(!isEval && col("doc_id") % 2 === p)
        .select(explode(split(col("text"), " ")).as("t")).distinct()
      val v = vocabOf(0).union(vocabOf(1)).distinct()
        .agg(count(lit(1)).as("v"))
      LangModel.scoreWith(
          bg.filter(col("__eval")).select("doc_id", "x", "y"),
          cxy, cx, v)
        .orderBy(col("avg_mnat").desc, col("doc_id"))
        .limit(20)
  }

  /** q143 — population-stability-index drift monitor (the standard
    * "has this source's distribution shifted between snapshots"
    * check a crawl pipeline runs before retraining): per source, the
    * `n_chars` distribution of the even-doc_id half (baseline) vs the
    * odd half (current) over 10 fixed-width buckets, scored as
    * Σ_buckets (p−q)·(ln p − ln q) — PSI. Integer port: shares in
    * exact ppm (`div`), each ln taken of an integer ppm value and
    * floor-quantized to the milli-nat grid (the q130 portability
    * argument — libm risk localized to per-distinct-integer
    * quantization), +1 inside the ln guarding empty buckets; the
    * score's unit is ppm·milli-nats (PSI × 10⁹ up to quantization),
    * monotone in drift and bit-portable. Shape: one row-local bucket
    * projection, two keyed census aggs, a full-outer bucket join, one
    * keyed sum — a free rider on any scan at 100 TB. */
  val q143 = QueryDef(
    "q143_psi_drift",
    """WITH b AS (
      |  SELECT source, doc_id % 2 AS half,
      |    LEAST(n_chars // 200, 9) AS bkt
      |  FROM documents),
      |c AS (
      |  SELECT source, half, bkt, COUNT(*) AS c
      |  FROM b GROUP BY 1, 2, 3),
      |t AS (SELECT source, half, SUM(c) AS n FROM c GROUP BY 1, 2),
      |p AS (
      |  SELECT c.source, c.bkt, c.half,
      |    CAST(c.c * 1000000 // t.n AS BIGINT) AS ppm
      |  FROM c JOIN t ON c.source = t.source AND c.half = t.half),
      |p0 AS (SELECT source, bkt, ppm FROM p WHERE half = 0),
      |p1 AS (SELECT source, bkt, ppm FROM p WHERE half = 1),
      |j AS (
      |  SELECT COALESCE(p0.source, p1.source) AS source,
      |    COALESCE(p0.ppm, 0) AS pa, COALESCE(p1.ppm, 0) AS pb
      |  FROM p0 FULL OUTER JOIN p1
      |    ON p0.source = p1.source AND p0.bkt = p1.bkt)
      |SELECT source,
      |  CAST(SUM((pa - pb) *
      |    (CAST(FLOOR(LN(CAST(pa + 1 AS DOUBLE)) * 1000) AS BIGINT)
      |     - CAST(FLOOR(LN(CAST(pb + 1 AS DOUBLE)) * 1000) AS BIGINT)))
      |    AS BIGINT) AS psi_unit
      |FROM j GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    import graft.functions.LangModel.mnat
    val b = Tables.documents(s, d).select(col("source"),
      (col("doc_id") % 2).as("half"),
      least(expr("n_chars div 200"), lit(9L)).as("bkt"))
    val c = b.groupBy(col("source"), col("half"), col("bkt"))
      .agg(count(lit(1)).as("c"))
    val t = c.groupBy(col("source"), col("half"))
      .agg(sum(col("c")).as("n"))
    val p = c.join(t, Seq("source", "half"))
      .select(col("source"), col("half"), col("bkt"),
        expr("c * 1000000 div n").as("ppm"))
    def halfP(h: Int, as: String) = p.filter(col("half") === h)
      .select(col("source"), col("bkt"), col("ppm").as(as))
    halfP(0, "pa").join(halfP(1, "pb"), Seq("source", "bkt"),
        "full_outer")
      .select(col("source"), coalesce(col("pa"), lit(0L)).as("pa"),
        coalesce(col("pb"), lit(0L)).as("pb"))
      .groupBy(col("source"))
      .agg(sum((col("pa") - col("pb")) *
        (mnat(col("pa") + 1) - mnat(col("pb") + 1))).as("psi_unit"))
      .orderBy("source")
  }

  /** q139 — deterministic per-group reservoir sample (the "give me k
    * representative docs per source" inspection/eval draw): k=5 docs
    * per source with the SMALLEST md5→u32 priority of their doc_id
    * (q88's portable hash construction) via [[graft.functions.TopK]]
    * in bottom-k mode. Hash-priority bottom-k IS a uniform reservoir
    * (each subset of size k equally likely under a random-oracle
    * hash), but unlike `TABLESAMPLE`/rand() it is reproducible across
    * runs, engines, and partitionings — the property an eval draw or
    * a debugging slice actually needs. State: k rows per source per
    * partition over the exchange (TopK's contract), never a sort of
    * the corpus. */
  val q139 = QueryDef(
    "q139_reservoir_sample",
    s"""WITH h AS (
      |  SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx
      |  FROM documents),
      |v AS (SELECT source, doc_id, ${TextQueries.hexU32Sql(1)} AS pri
      |  FROM h),
      |r AS (
      |  SELECT source, doc_id, pri,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY pri, doc_id) AS rnk
      |  FROM v)
      |SELECT source, rnk, doc_id, pri
      |FROM r WHERE rnk <= 5
      |ORDER BY source, rnk""".stripMargin) { (s, d) =>
    graft.functions.TopK.perGroup(
        Tables.documents(s, d).select(col("source"), col("doc_id"),
          graft.curation.Curation.contentU32(col("doc_id")).as("pri")),
        Seq(col("source")), col("pri"), col("doc_id"), k = 5,
        largest = false)
      .select(col("source"), col("rnk"), col("id").as("doc_id"),
        col("ord").as("pri"))
      .orderBy("source", "rnk")
  }

  /** q138 — quality-filter calibration curve (the report a filtering
    * run reads before picking a perplexity cutoff): held-out docs
    * bucketed into quintiles by their q130 bigram-LM score via the
    * DISTRIBUTED ntile ([[graft.functions.Ranks.ntileGlobal]] — no
    * single-partition window), then each quintile's q85 Gopher-gate
    * pass rate in exact ppm. If the two signals agree, low-perplexity
    * quintiles pass the rule gates more often — the cross-validation
    * between a learned-ish score and hand rules that decides where
    * the cutoff goes. Composition query by design: LangModel scorer +
    * Ranks ntile + gate flags, three already-green kernels joined on
    * doc_id. */
  val q138 = QueryDef(
    "q138_filter_calibration",
    """WITH l AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |e AS (
      |  SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
      |  FROM l WHERE len(toks) >= 2),
      |b AS (
      |  SELECT doc_id, toks[CAST(i AS INT)] AS x,
      |    toks[CAST(i AS INT) + 1] AS y
      |  FROM e),
      |tb AS (SELECT x, y FROM b WHERE doc_id % 5 <> 0),
      |cxy AS (SELECT x, y, COUNT(*) AS cxy FROM tb GROUP BY 1, 2),
      |cx AS (SELECT x, COUNT(*) AS cx FROM tb GROUP BY 1),
      |v AS (
      |  SELECT COUNT(DISTINCT t) AS v FROM (
      |    SELECT unnest(toks) AS t FROM l WHERE doc_id % 5 <> 0)),
      |s2 AS (
      |  SELECT b.doc_id,
      |    CAST(FLOOR(LN(CAST(COALESCE(cx.cx, 0) + (SELECT v FROM v)
      |      AS DOUBLE)) * 1000) AS BIGINT)
      |    - CAST(FLOOR(LN(CAST(COALESCE(cxy.cxy, 0) + 1 AS DOUBLE))
      |      * 1000) AS BIGINT) AS mnat
      |  FROM b
      |  LEFT JOIN cxy ON b.x = cxy.x AND b.y = cxy.y
      |  LEFT JOIN cx ON b.x = cx.x
      |  WHERE b.doc_id % 5 = 0),
      |scored AS (
      |  SELECT doc_id,
      |    CAST(SUM(mnat) // COUNT(*) AS BIGINT) AS avg_mnat
      |  FROM s2 GROUP BY doc_id),
      |w2 AS (
      |  SELECT doc_id,
      |    len(string_split(text, ' ')) AS n_words,
      |    length(replace(text, ' ', '')) AS n_word_chars,
      |    len(list_filter(string_split(text, ' '),
      |      x -> regexp_matches(x, '^[A-Za-z]+$'))) AS n_alpha_words,
      |    len(list_filter(string_split(text, ' '),
      |      x -> x IN ('the', 'a', 'of', 'to', 'and', 'in'))) AS n_stop
      |  FROM documents WHERE doc_id % 5 = 0),
      |pass AS (
      |  SELECT doc_id,
      |    CASE WHEN n_words BETWEEN 50 AND 100000
      |      AND (n_word_chars * 1000) // n_words BETWEEN 3000 AND 10000
      |      AND (n_alpha_words * 1000000) // n_words >= 800000
      |      AND n_stop >= 2 THEN 1 ELSE 0 END AS p
      |  FROM w2),
      |nt AS (
      |  SELECT doc_id, avg_mnat,
      |    NTILE(5) OVER (ORDER BY avg_mnat, doc_id) AS tile
      |  FROM scored)
      |SELECT CAST(tile AS BIGINT) AS tile,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(avg_mnat) // COUNT(*) AS BIGINT) AS mean_mnat,
      |  CAST(SUM(p) * 1000000 // COUNT(*) AS BIGINT) AS pass_ppm
      |FROM nt JOIN pass USING (doc_id)
      |GROUP BY tile ORDER BY tile""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val scored = graft.functions.LangModel
      .bigramNllScores(docs, col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("avg_mnat"))
    val tiled = graft.functions.Ranks.ntileGlobal(
      scored, 5, col("avg_mnat"), col("doc_id"), "tile")
    val w = split(col("text"), " ")
    val gateBase = docs.filter(col("doc_id") % 5 === 0).select(
      col("doc_id"),
      size(w).cast("long").as("n_words"),
      length(translate(col("text"), " ", "")).cast("long")
        .as("n_word_chars"),
      size(filter(w, x => x.rlike("^[A-Za-z]+$"))).cast("long")
        .as("n_alpha_words"),
      size(filter(w, x => x.isin("the", "a", "of", "to", "and", "in")))
        .cast("long").as("n_stop"))
    val pass = gateBase.select(col("doc_id"),
      when(col("n_words").between(50, 100000) &&
        expr("(n_word_chars * 1000) div n_words").between(3000, 10000) &&
        expr("(n_alpha_words * 1000000) div n_words") >= 800000 &&
        col("n_stop") >= 2, 1L).otherwise(0L).as("p"))
    tiled.join(pass, Seq("doc_id"))
      .groupBy(col("tile").cast("long").as("tile"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(avg_mnat) div count(1)").as("mean_mnat"),
        expr("sum(p) * 1000000 div count(1)").as("pass_ppm"))
      .orderBy("tile")
  }

  /** q148 — Naive Bayes source classifier, training AND serving
    * oracle-checked ([[graft.functions.LangModel.nbLlr]] — design,
    * portability, and scale notes there): binary labels from the
    * source-id parity, trained on the q130 slice (doc_id % 5 ≠ 0),
    * held-out docs scored and the per-(label, pred) confusion census
    * reported with exact summed llr. On word-soup testdata accuracy
    * sits at chance — the mechanics, not the separability, are what
    * the oracle pins (the spec fixtures pin catch semantics on
    * separable text). `sum_llr`, not mean: llr is signed, and signed
    * integer division is floor in DuckDB but truncation in Spark —
    * sums stay exact. */
  /** Shared oracle CTE chain for the NB classifier (q148 census,
    * q191 calibration): ends in `sc(doc_id, label, llr)`. */
  private def nbCteSql: String = {
    import graft.functions.LangModel.mnatSql
    s"""WITH lab AS (
         |  SELECT doc_id,
         |    CAST(CAST(substr(source, 4) AS INT) % 2 AS BIGINT) AS label,
         |    text
         |  FROM documents),
         |tok AS (
         |  SELECT doc_id, label, unnest(string_split(text, ' ')) AS t
         |  FROM lab),
         |tr AS (SELECT * FROM tok WHERE doc_id % 5 <> 0),
         |cw AS (
         |  SELECT t,
         |    CAST(SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c0,
         |    CAST(SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c1
         |  FROM tr GROUP BY t),
         |tot AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n0,
         |    CAST(SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n1,
         |    CAST(COUNT(DISTINCT t) AS BIGINT) AS v
         |  FROM tr),
         |dc AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS d0,
         |    CAST(SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS d1
         |  FROM lab WHERE doc_id % 5 <> 0),
         |ev AS (
         |  SELECT tok.doc_id, tok.label,
         |    (${mnatSql("COALESCE(cw.c0, 0) + 1")}
         |      - ${mnatSql("tot.n0 + tot.v")})
         |    - (${mnatSql("COALESCE(cw.c1, 0) + 1")}
         |      - ${mnatSql("tot.n1 + tot.v")}) AS td
         |  FROM tok LEFT JOIN cw USING (t) CROSS JOIN tot
         |  WHERE tok.doc_id % 5 = 0),
         |sc AS (
         |  SELECT ev.doc_id, ev.label,
         |    CAST(SUM(ev.td) AS BIGINT)
         |      + (SELECT ${mnatSql("d0")} - ${mnatSql("d1")} FROM dc)
         |      AS llr
         |  FROM ev GROUP BY 1, 2)""".stripMargin
  }

  val q148 = QueryDef(
    "q148_nb_classifier",
    nbCteSql +
      """
        |SELECT label,
        |  CAST(CASE WHEN llr >= 0 THEN 0 ELSE 1 END AS BIGINT) AS pred,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(llr) AS BIGINT) AS sum_llr
        |FROM sc GROUP BY 1, 2 ORDER BY label, pred""".stripMargin) { (s, d) =>
    graft.functions.LangModel.nbLlr(
        Tables.documents(s, d),
        expr("CAST(substring(source, 4, 8) AS INT) % 2"),
        col("doc_id") % 5 === 0)
      .groupBy(col("label"), col("pred"))
      .agg(count(lit(1)).as("n_docs"), sum(col("llr_mnat")).as("sum_llr"))
      .orderBy("label", "pred")
  }

  /** q191 — classifier CALIBRATION curve (the reliability diagram
    * for q148's NB source classifier, as a query): eval documents
    * bucketed into confidence quintiles by |llr| (the distributed
    * ntile — no single-partition sort), accuracy and mean confidence
    * per bucket in exact integers. A well-calibrated classifier's
    * accuracy RISES with the bucket; flat or inverted curves mean the
    * llr magnitudes are lies — the check that gates using confidence
    * thresholds downstream (e.g. q138's filter calibration). Shares
    * q148's oracle CTE chain verbatim. */
  val q191 = QueryDef(
    "q191_nb_calibration",
    nbCteSql +
      """
        |, cal AS (
        |  SELECT doc_id, label,
        |    CASE WHEN llr >= 0 THEN 0 ELSE 1 END AS pred,
        |    ABS(llr) AS conf
        |  FROM sc),
        |nt AS (
        |  SELECT *, NTILE(5) OVER (ORDER BY conf, doc_id) AS bucket
        |  FROM cal)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN label = pred THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_correct,
        |  CAST(SUM(CASE WHEN label = pred THEN 1 ELSE 0 END) * 1000000
        |    // COUNT(*) AS BIGINT) AS acc_ppm,
        |  CAST(SUM(conf) // COUNT(*) AS BIGINT) AS mean_conf_mnat
        |FROM nt GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
    val scored = graft.functions.LangModel.nbLlr(
        Tables.documents(s, d),
        expr("CAST(substring(source, 4, 8) AS INT) % 2"),
        col("doc_id") % 5 === 0)
      .withColumn("conf", abs(col("llr_mnat")))
    graft.functions.Ranks
      .ntileGlobal(scored, 5, col("conf"), col("doc_id"), "bucket")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("label") === col("pred"), 1L).otherwise(0L))
          .as("n_correct"),
        sum(col("conf")).as("__sc"))
      .withColumn("acc_ppm", expr("n_correct * 1000000 div n_docs"))
      .withColumn("mean_conf_mnat", expr("__sc div n_docs"))
      .drop("__sc")
      .orderBy("bucket")
  }

  /** q149 — temperature-mixing epoch plan (completes q102, which
    * stops at normalized weights: the number a training run actually
    * consumes is the per-source REPEAT FACTOR): re-allocate the
    * corpus's own total token budget by the √-temperature weights and
    * report, per source, the target token count and the epoch factor
    * in exact ppm — epochs_ppm > 10⁶ marks sources the sampler
    * repeats (up-sampled tail), < 10⁶ sources it subsamples. Integer
    * throughout: targets by `div` on the weight share, epochs by ppm
    * `div` on the source's actual tokens; floor(sqrt) is bit-portable
    * (IEEE 754 requires correctly-rounded sqrt — the q102 argument).
    * Shape: one keyed census + a broadcast one-row total, the same
    * near-free metadata query as q102 at 100 TB. */
  val q149 = QueryDef(
    "q149_mixing_epochs",
    """WITH s AS (
      |  SELECT source,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |w AS (
      |  SELECT source, n_tokens,
      |    CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w05
      |  FROM s),
      |t AS (
      |  SELECT CAST(SUM(w05) AS BIGINT) AS tot_w,
      |    CAST(SUM(n_tokens) AS BIGINT) AS budget
      |  FROM w),
      |p AS (
      |  SELECT source, n_tokens,
      |    CAST((SELECT budget FROM t) * w05 // (SELECT tot_w FROM t)
      |      AS BIGINT) AS target_tokens
      |  FROM w)
      |SELECT source, n_tokens, target_tokens,
      |  CAST(target_tokens * 1000000 // n_tokens AS BIGINT) AS epochs_ppm
      |FROM p ORDER BY source""".stripMargin) { (s, d) =>
    val bySource = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .withColumn("w05",
        floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val tot = bySource.agg(sum(col("w05")).as("tot_w"),
      sum(col("n_tokens")).as("budget"))
    bySource.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        expr("budget * w05 div tot_w").as("target_tokens"))
      .select(col("source"), col("n_tokens"), col("target_tokens"),
        expr("target_tokens * 1000000 div n_tokens").as("epochs_ppm"))
      .orderBy(col("source"))
  }

  /** q152 — count-min point-frequency estimates over the event
    * stream ([[graft.functions.Cm]] — design and the
    * groupBy-IS-the-sketch argument there): a 4×32 matrix over
    * `user_id` traffic, probed for the bounded key slice, with the
    * TRUE count and the overcount in the pinned answer. The oracle
    * rebuilds the identical matrix from the shared md5-u32 bucket
    * construction, so the ESTIMATES (collisions included) are
    * oracle-checked — not just an exact regime. CmSpec pins the
    * overestimate-only contract and the ε-bound on random data. */
  val q152 = QueryDef(
    "q152_countmin", {
      // row i's bucket = u32 of md5 hex slice [1+8i, 8+8i) mod w —
      // ONE digest per key (see Cm.scala), mirrored here per slice
      def rows(from: String, cols: String) = (0 until 4).map(i =>
        s"SELECT ${TextQueries.hexU32Sql(1 + 8 * i)} % 32 AS bucket," +
          s" $i AS d, $cols FROM $from").mkString("\n  UNION ALL ")
      s"""WITH k AS (SELECT user_id AS key FROM events),
         |hxx AS (SELECT md5(CAST(key AS VARCHAR)) AS hx FROM k),
         |bk AS (
         |  ${rows("hxx", "1 AS one")}),
         |cells AS (
         |  SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM bk GROUP BY 1, 2),
         |truth AS (
         |  SELECT key, CAST(COUNT(*) AS BIGINT) AS true_cnt,
         |    md5(CAST(key AS VARCHAR)) AS hx
         |  FROM k WHERE key < 10 GROUP BY 1, 3),
         |pbb AS (
         |  ${rows("truth", "key, true_cnt")}),
         |est AS (
         |  SELECT pbb.key, pbb.true_cnt, CAST(MIN(cells.c) AS BIGINT) AS est
         |  FROM pbb JOIN cells USING (d, bucket) GROUP BY 1, 2)
         |SELECT key, true_cnt, est, est - true_cnt AS overcount
         |FROM est ORDER BY key""".stripMargin
    }) { (s, d) =>
    import graft.functions.Cm
    val keys = Tables.events(s, d).select(col("user_id").as("key"))
    val cells = Cm.sketch(keys, col("key"), 4, 32)
    val truth = keys.filter(col("key") < 10)
      .groupBy(col("key")).agg(count(lit(1)).as("true_cnt"))
    Cm.estimate(cells, truth, 4, 32)
      .select(col("key"), col("true_cnt"), col("est"),
        (col("est") - col("true_cnt")).as("overcount"))
      .orderBy("key")
  }

  /** q153 — day-over-day event-mix drift (q143's PSI with a TEMPORAL
    * baseline: each day's event-type share vector against the
    * previous day's — the alert a streaming ingest dashboard
    * actually fires on): shares in exact ppm, the q143 milli-nat PSI
    * form, one row per day that has a predecessor. The drift pair is
    * built with EQUI-joins only: the prior-day side is the share
    * frame re-keyed by `day + 1` (never a non-equi `a.day = b.day−1`
    * predicate, which would plan a nested loop), the day domain is a
    * semi-join against the shifted day list, and the share domain is
    * a distinct union so event types present on only one side
    * contribute their full mass. At 100 TB the shapes are three keyed
    * censuses over (day, type) — days × types rows, trivially
    * bounded. */
  val q153 = QueryDef(
    "q153_daily_mix_drift", {
      import graft.functions.LangModel.mnatSql
      s"""WITH e AS (
         |  SELECT CAST(ts AS DATE) AS day, event_type FROM events),
         |c AS (
         |  SELECT day, event_type, COUNT(*) AS c FROM e GROUP BY 1, 2),
         |t AS (SELECT day, SUM(c) AS n FROM c GROUP BY 1),
         |p AS (
         |  SELECT c.day, c.event_type,
         |    CAST(c.c * 1000000 // t.n AS BIGINT) AS ppm
         |  FROM c JOIN t USING (day)),
         |days AS (
         |  SELECT day FROM t
         |  WHERE day IN (SELECT day + 1 FROM t)),
         |pa AS (SELECT * FROM p WHERE day IN (SELECT day FROM days)),
         |pb AS (
         |  SELECT day + 1 AS day, event_type, ppm FROM p
         |  WHERE day + 1 IN (SELECT day FROM days)),
         |dom AS (
         |  SELECT day, event_type FROM pa
         |  UNION
         |  SELECT day, event_type FROM pb),
         |j AS (
         |  SELECT dom.day,
         |    COALESCE(pa.ppm, 0) AS pav, COALESCE(pb.ppm, 0) AS pbv
         |  FROM dom
         |  LEFT JOIN pa ON pa.day = dom.day
         |    AND pa.event_type = dom.event_type
         |  LEFT JOIN pb ON pb.day = dom.day
         |    AND pb.event_type = dom.event_type)
         |SELECT day,
         |  CAST(SUM((pav - pbv) *
         |    (${mnatSql("pav + 1")} - ${mnatSql("pbv + 1")})) AS BIGINT)
         |    AS psi_unit
         |FROM j GROUP BY day ORDER BY day""".stripMargin
    }) { (s, d) =>
    import graft.functions.LangModel.mnat
    val e = Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("event_type"))
    val c = e.groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val t = c.groupBy(col("day")).agg(sum(col("c")).as("n"))
    val p = c.join(t, Seq("day"))
      .select(col("day"), col("event_type"),
        expr("c * 1000000 div n").as("ppm"))
    val days = t.select(col("day"))
      .join(t.select(date_add(col("day"), 1).as("day")), Seq("day"),
        "left_semi")
    val pa = p.join(days, Seq("day"), "left_semi")
      .withColumnRenamed("ppm", "pav")
    val pb = p.select(date_add(col("day"), 1).as("day"),
        col("event_type"), col("ppm").as("pbv"))
      .join(days, Seq("day"), "left_semi")
    val dom = pa.select(col("day"), col("event_type"))
      .union(pb.select(col("day"), col("event_type"))).distinct()
    dom.join(pa, Seq("day", "event_type"), "left")
      .join(pb, Seq("day", "event_type"), "left")
      .select(col("day"), coalesce(col("pav"), lit(0L)).as("pav"),
        coalesce(col("pbv"), lit(0L)).as("pbv"))
      .groupBy(col("day"))
      .agg(sum((col("pav") - col("pbv")) *
        (mnat(col("pav") + 1) - mnat(col("pbv") + 1))).as("psi_unit"))
      .orderBy("day")
  }

  /** q157 — sketch-driven adaptive skew salting (the q89/q105
    * equivalence-contract family, with the hot-key DECISION made by a
    * sketch instead of a human): the fact side's key frequencies ride
    * a count-min matrix ([[graft.functions.Cm]], ≤ d·w rows); the
    * enumerable DIMENSION keys are probed against it (CM stores no
    * keys — probing the dim side is how a plan discovers fact-side
    * heat at 100 TB without a keyspace-sized census); keys whose
    * estimate clears the threshold take the salted join
    * ([[graft.functions.Skew.saltedJoin]], 8-way fan-out), the rest
    * the plain join; union, aggregate. The oracle is the PLAIN join —
    * the contract is that the sketch's routing decisions (false-hot
    * included: CM overestimates route a cold key to the salted path,
    * which costs fan-out but never correctness) are row-preserving.
    * Money-free integer aggregate: event `value` in exact cents. */
  val q157 = QueryDef(
    "q157_cm_salted_join",
    s"""SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(SUM($centsSql) AS BIGINT) AS value_cents
       |FROM events JOIN customer ON user_id = c_custkey
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    import graft.functions.{Cm, Skew}
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
      centsCol.as("cents"))
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"))
    val cells = Cm.sketch(ev, col("user_id"), 4, 64)
    val hotKeys = Cm
      .estimate(cells, cust.select(col("c_custkey").as("key")), 4, 64)
      .filter(col("est") >= 70)
      .select(col("key"))
    val evHot = ev.join(broadcast(hotKeys),
      col("user_id") === col("key"), "left_semi")
    val evCold = ev.join(broadcast(hotKeys),
      col("user_id") === col("key"), "left_anti")
    val jHot = Skew.saltedJoin(evHot, cust, "user_id", "c_custkey", 8,
      col("event_id"))
    val jCold = evCold.join(cust, col("user_id") === col("c_custkey"))
    jHot.select(col("c_nationkey"), col("cents"))
      .unionByName(jCold.select(col("c_nationkey"), col("cents")))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("value_cents"))
      .orderBy("c_nationkey")
  }

  /** q158 — schema-evolution merge cycle (the bronze reality every
    * long-lived pipeline hits: yesterday's files lack the column
    * added today): batch 1 lands WITHOUT `cents`, batch 2 WITH it;
    * the read-back uses `mergeSchema` and the report separates legacy
    * rows (null cents) from evolved ones. The oracle computes the
    * identical split from the source parquet, so a row or value lost
    * in the union-of-schemas read breaks the hash. Scale note:
    * mergeSchema unions footers across ALL files (a per-file driver
    * cost at 100 TB) — production pins the evolved schema from a
    * catalog instead; the cycle here proves the fallback path's
    * semantics, nullability included. */
  val q158 = QueryDef(
    "q158_schema_evolution",
    s"""WITH c AS (
       |  SELECT user_id % 10 AS cohort,
       |    CASE WHEN event_id % 2 = 0 THEN NULL ELSE $centsSql END
       |      AS cents
       |  FROM events)
       |SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(SUM(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_legacy,
       |  CAST(SUM(COALESCE(cents, 0)) AS BIGINT) AS sum_cents
       |FROM c GROUP BY cohort ORDER BY cohort""".stripMargin) { (s, d) =>
    val dir = freshScratch("q158") + "/land"
    val ev = Tables.events(s, d)
      .select(col("event_id"), (col("user_id") % 10).as("cohort"),
        centsCol.as("cents"))
    ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("cohort"))
      .write.parquet(s"$dir/b1")
    ev.filter(col("event_id") % 2 =!= 0)
      .write.parquet(s"$dir/b2")
    s.read.option("mergeSchema", "true").parquet(s"$dir/b1", s"$dir/b2")
      .groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("cents").isNull, 1L).otherwise(0L)).as("n_legacy"),
        sum(coalesce(col("cents"), lit(0L))).as("sum_cents"))
      .orderBy("cohort")
  }

  /** q159 — compliance-delete (right-to-be-forgotten) rewrite cycle:
    * land a partitioned silver copy, apply an erasure list (user_id %
    * 17 = 0) as a broadcast anti-join REWRITE, then report from the
    * REWRITTEN files — per-cohort census plus `deleted_present`
    * measured from the new files (the audit a DPO actually wants:
    * proof the rewrite removed every listed key, not a promise). The
    * oracle applies the same filter to the source parquet and pins
    * `deleted_present` at 0. Scale: the anti-join broadcasts the
    * erasure list (bounded by request volume); the rewrite touches
    * every file once — at 100 TB this is why silver partitions on a
    * user-correlated key, so the rewrite prunes to affected
    * partitions. */
  val q159 = QueryDef(
    "q159_compliance_delete",
    s"""WITH keep AS (
       |  SELECT user_id, user_id % 10 AS cohort, $centsSql AS cents
       |  FROM events WHERE user_id % 17 <> 0)
       |SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
       |  CAST(0 AS BIGINT) AS deleted_present
       |FROM keep GROUP BY cohort ORDER BY cohort""".stripMargin) {
    (s, d) =>
    val base = freshScratch("q159")
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        (col("user_id") % 10).as("cohort"), centsCol.as("cents"))
      .write.partitionBy("cohort").parquet(s"$base/silver")
    val silver = s.read.parquet(s"$base/silver")
    val erase = silver.select(col("user_id")).distinct()
      .filter(col("user_id") % 17 === 0)
    silver.join(broadcast(erase), Seq("user_id"), "left_anti")
      .write.partitionBy("cohort").parquet(s"$base/silver_v2")
    val v2 = s.read.parquet(s"$base/silver_v2")
    val audit = v2.join(broadcast(erase), Seq("user_id"), "left_semi")
      .agg(count(lit(1)).as("deleted_present"))
    v2.groupBy(col("cohort").cast("long").as("cohort"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("sum_cents"))
      .crossJoin(broadcast(audit))
      .orderBy("cohort")
  }

  /** q160 — per-column data profile (the first query an engineer
    * runs on an unfamiliar table, and the nightly ingest health
    * report: null rate and distinct cardinality per column): ONE
    * scan computes every column's null count and exact distinct
    * count (Spark plans the multi-distinct via Expand — one pass,
    * ×|columns| row expansion, map-side partials), then a `stack`
    * unpivot turns the 1-row aggregate into one row per column. The
    * `ts` distinct count relies on the µs-truncation contract
    * (Tables.events matches DuckDB's ns→µs read truncation).
    * Integer-only output — min/max are omitted because their values
    * would be type-heterogeneous (double/string formatting is the
    * cross-engine trap the ppm convention exists to avoid). */
  val q160 = QueryDef(
    "q160_column_profile", {
      val cols =
        Seq("event_id", "ts", "user_id", "event_type", "value", "props")
      cols.map(c =>
        s"""SELECT '$c' AS column_name,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_null,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct
           |FROM events""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    }) { (s, d) =>
    val cols =
      Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val aggs = cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"),
      countDistinct(col(c)).as(s"dist_$c")))
    val stackArgs = cols
      .map(c => s"'$c', null_$c, dist_$c").mkString(", ")
    Tables.events(s, d)
      .agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${cols.size}, $stackArgs)" +
        " as (column_name, n_null, n_distinct)"))
      .orderBy("column_name")
  }

  /** q162 — per-source unigram entropy (the corpus-diversity signal
    * next to q49's repetition and q99's rarity: a templated or
    * spam-heavy source has LOW token entropy; a diverse one tracks
    * the corpus ceiling): H = Σ p·ln(1/p) over each source's token
    * distribution, with p in exact ppm and every ln on the milli-nat
    * grid — ln(1/p) = mnat(10⁶) − mnat(max(ppm, 1)), the max(·,1)
    * guarding tokens whose share rounds to 0 ppm at extreme corpus
    * sizes (ln 0 is undefined; the guard costs < 1 ppm·mnat of mass
    * and is applied identically on both engines). Unit: ppm·milli-
    * nats (nats × 10⁹ up to quantization). Shape: one keyed census
    * per (source, token), one per-source total, one equi-join back,
    * one keyed sum — the q143 family. */
  val q162 = QueryDef(
    "q162_source_entropy", {
      import graft.functions.LangModel.mnatSql
      s"""WITH t AS (
         |  SELECT source, unnest(string_split(text, ' ')) AS token
         |  FROM documents),
         |c AS (
         |  SELECT source, token, COUNT(*) AS c FROM t GROUP BY 1, 2),
         |n AS (
         |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |    CAST(COUNT(*) AS BIGINT) AS vocab
         |  FROM c GROUP BY 1),
         |p AS (
         |  SELECT c.source, n.n_tokens, n.vocab,
         |    CAST(c.c * 1000000 // n.n_tokens AS BIGINT) AS ppm
         |  FROM c JOIN n USING (source))
         |SELECT source, n_tokens, vocab,
         |  CAST(SUM(ppm * (${mnatSql("1000000")}
         |    - ${mnatSql("GREATEST(ppm, 1)")})) AS BIGINT)
         |    AS entropy_unit
         |FROM p GROUP BY source, n_tokens, vocab
         |ORDER BY source""".stripMargin
    }) { (s, d) =>
    import graft.functions.LangModel.mnat
    val t = Tables.documents(s, d)
      .select(col("source"),
        explode(graft.functions.Text.tokens(col("text"))).as("token"))
    val c = t.groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))
    val n = c.groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab"))
    c.join(n, Seq("source"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        expr("c * 1000000 div n_tokens").as("ppm"))
      .groupBy(col("source"), col("n_tokens"), col("vocab"))
      .agg(sum(col("ppm") *
        (mnat(lit(1000000L)) - mnat(greatest(col("ppm"), lit(1L)))))
        .as("entropy_unit"))
      .orderBy("source")
  }

  /** q163 — Gini coefficient of per-user engagement (the activity-
    * concentration number an abuse/ops review reads: 0 = uniform,
    * →1 = a few users generate everything): over per-user event
    * counts x sorted ascending with the DISTRIBUTED global row
    * number ([[graft.functions.Ranks.rowNumberGlobal]] — no
    * single-partition window), G = (2·Σ i·x_i − (n+1)·Σx)/(n·Σx) in
    * exact ppm. The numerator is non-negative for the ascending
    * order, so the one integer division stays in positive-operand
    * territory (the cross-engine `div` contract). One keyed census +
    * the rank family's bucketed shuffle + a one-row reduce. */
  val q163 = QueryDef(
    "q163_engagement_gini",
    """WITH uc AS (
      |  SELECT user_id, COUNT(*) AS x FROM events GROUP BY 1),
      |r AS (
      |  SELECT x, ROW_NUMBER() OVER (ORDER BY x, user_id) AS i
      |  FROM uc),
      |g AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx,
      |    CAST(SUM(i * x) AS BIGINT) AS six
      |  FROM r)
      |SELECT n AS n_users, sx AS total_events,
      |  CAST(((2 * six - (n + 1) * sx) * 1000000) // (n * sx) AS BIGINT)
      |    AS gini_ppm
      |FROM g""".stripMargin) { (s, d) =>
    val uc = Tables.events(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).as("x"))
    val rk = graft.functions.Ranks
      .rowNumberGlobal(uc, col("x"), col("user_id"), "i")
    rk.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("i") * col("x")).as("six"))
      .select(col("n").as("n_users"), col("sx").as("total_events"),
        expr("((2 * six - (n + 1) * sx) * 1000000) div (n * sx)")
          .as("gini_ppm"))
  }

  /** q166 — half-life-decayed engagement score (the recency weighting
    * recommender features and training-data freshness sampling both
    * read; Ebbinghaus-style decay without floats): weight(event) =
    * type_weight × ⌊1000 / 2^⌊age_days/7⌋⌋ — a 7-day half-life on the
    * milli grid, quantized to POWERS OF TWO so 2^k is exactly
    * representable and both engines' `pow → cast → div` chain is
    * bit-identical (the exponent is capped at 30: beyond ~30
    * half-lives the weight is 0 milli anyway, and the cap keeps the
    * double exact). The reference day is the corpus max — a broadcast
    * one-row frame, the q102 pattern — so the query is deterministic
    * on any snapshot. Top-20 users by decayed score, full tie-break
    * chain. One scan + one keyed agg + TakeOrderedAndProject. */
  val q166 = QueryDef(
    "q166_decayed_engagement",
    """WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS ref FROM events),
      |a AS (
      |  SELECT user_id,
      |    CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
      |      WHEN 'purchase' THEN 10 WHEN 'signup' THEN 3
      |      WHEN 'error' THEN -2 ELSE 1 END
      |      * (1000 // CAST(POW(2, LEAST(
      |          date_diff('day', CAST(ts AS DATE), ref) // 7, 30))
      |          AS BIGINT)) AS dw
      |  FROM events, mx)
      |SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(dw) AS BIGINT) AS decayed_milli
      |FROM a GROUP BY user_id
      |ORDER BY decayed_milli DESC, user_id LIMIT 20""".stripMargin) {
    (s, d) =>
      val ev = Tables.events(s, d)
      val ref = ev.agg(max(to_date(col("ts"))).as("ref"))
      ev.crossJoin(broadcast(ref))
        .select(col("user_id"),
          (graft.functions.EventWeights.weight(col("event_type"),
            graft.functions.EventWeights.testdata).cast("long") *
            expr("1000 div CAST(pow(2, LEAST(" +
              "datediff(ref, CAST(ts AS DATE)) div 7, 30)) AS BIGINT)"))
            .as("dw"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("dw")).as("decayed_milli"))
        .orderBy(col("decayed_milli").desc, col("user_id"))
        .limit(20)
  }

  /** q167 — zone-map pruning effectiveness (the MEASUREMENT behind
    * q119's z-order layout: how many 256-row blocks would a file-stats
    * reader actually skip for a 2-D range predicate, natural order vs
    * z-order?): rows are binned into blocks by their global row number
    * under each layout ([[graft.functions.Ranks.rowNumberGlobal]] —
    * no single-partition window), each block records its (x, y)
    * min/max exactly as parquet footer stats would, and a block is
    * SCANNED when its bounding box overlaps the query rectangle
    * x,y ∈ [8,15] (an 1/64 tile of the 64×64 key space). The z-order
    * layout bounds both dimensions per block, so its scan count is a
    * small multiple of the tile count; the natural layout's x/y are
    * independent of position, so nearly every block overlaps — the
    * quantified case for running the q119 layout job at 100 TB.
    * Two rank passes + two keyed min/max aggs + a one-row reduce. */
  val q167 = QueryDef(
    "q167_zonemap_pruning",
    s"""WITH b AS (
      |  SELECT o_custkey % 64 AS x, o_orderkey % 64 AS y,
      |    ${graft.functions.ZOrder.interleaveSql(
             "o_custkey % 64", "o_orderkey % 64", 6)} AS zv,
      |    o_orderkey AS ok
      |  FROM orders),
      |n AS (
      |  SELECT x, y,
      |    (ROW_NUMBER() OVER (ORDER BY ok) - 1) // 256 AS blk
      |  FROM b),
      |z AS (
      |  SELECT x, y,
      |    (ROW_NUMBER() OVER (ORDER BY zv, ok) - 1) // 256 AS blk
      |  FROM b),
      |ns AS (
      |  SELECT blk, MIN(x) AS x0, MAX(x) AS x1,
      |    MIN(y) AS y0, MAX(y) AS y1
      |  FROM n GROUP BY blk),
      |zs AS (
      |  SELECT blk, MIN(x) AS x0, MAX(x) AS x1,
      |    MIN(y) AS y0, MAX(y) AS y1
      |  FROM z GROUP BY blk),
      |na AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
      |    CAST(SUM(CASE WHEN x1 >= 8 AND x0 <= 15
      |      AND y1 >= 8 AND y0 <= 15 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS scan_natural
      |  FROM ns),
      |za AS (
      |  SELECT CAST(SUM(CASE WHEN x1 >= 8 AND x0 <= 15
      |      AND y1 >= 8 AND y0 <= 15 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS scan_zorder
      |  FROM zs)
      |SELECT n_blocks, scan_natural, scan_zorder
      |FROM na, za""".stripMargin) { (s, d) =>
    val x = (col("o_custkey") % 64).cast("long")
    val y = (col("o_orderkey") % 64).cast("long")
    val b = Tables.orders(s, d)
      .select(x.as("x"), y.as("y"),
        graft.functions.ZOrder.interleave(x, y, 6).as("zv"),
        col("o_orderkey").as("ok"))
    def blockStats(ordCol: String): org.apache.spark.sql.DataFrame =
      graft.functions.Ranks
        .rowNumberGlobal(b, col(ordCol), col("ok"), "rn")
        .select(col("x"), col("y"), expr("(rn - 1) div 256").as("blk"))
        .groupBy(col("blk"))
        .agg(min(col("x")).as("x0"), max(col("x")).as("x1"),
          min(col("y")).as("y0"), max(col("y")).as("y1"))
    val overlap = col("x1") >= 8 && col("x0") <= 15 &&
      col("y1") >= 8 && col("y0") <= 15
    val na = blockStats("ok")
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(overlap, 1L).otherwise(0L)).as("scan_natural"))
    val za = blockStats("zv")
      .agg(sum(when(overlap, 1L).otherwise(0L)).as("scan_zorder"))
    na.crossJoin(broadcast(za))
      .select(col("n_blocks"), col("scan_natural"), col("scan_zorder"))
  }

  /** q168 — end-to-end curation funnel (the per-stage survivor report
    * every corpus datacard leads with, and the number that decides
    * where cleaning budget goes): docs and tokens surviving each
    * cumulative stage — all → lang=en → Gopher gates (q85's four
    * rules, kept in lockstep) → exact dedup (q22's keep-min-doc_id,
    * applied among gate survivors, which is NOT the same set q22
    * dedups — dedup-after-filter is the production order since
    * filtering can break ties differently). One scan computes every
    * per-doc flag; dedup adds one keyed min + one equi-join back;
    * the four stage rows are an unpivot of a single aggregate row. */
  val q168 = QueryDef(
    "q168_curation_funnel",
    """WITH w AS (
      |  SELECT doc_id, lang, md5(text) AS h,
      |    len(string_split(text, ' ')) AS n_words,
      |    length(replace(text, ' ', '')) AS n_word_chars,
      |    len(list_filter(string_split(text, ' '),
      |      x -> regexp_matches(x, '^[A-Za-z]+$'))) AS n_alpha_words,
      |    len(list_filter(string_split(text, ' '),
      |      x -> x IN ('the', 'a', 'of', 'to', 'and', 'in'))) AS n_stop
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, h, n_words,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS in1,
      |    CASE WHEN lang = 'en'
      |      AND n_words BETWEEN 50 AND 100000
      |      AND (n_word_chars * 1000) // n_words BETWEEN 3000 AND 10000
      |      AND (n_alpha_words * 1000000) // n_words >= 800000
      |      AND n_stop >= 2 THEN 1 ELSE 0 END AS in2
      |  FROM w),
      |mn AS (
      |  SELECT h, MIN(doc_id) AS keeper FROM f WHERE in2 = 1
      |  GROUP BY h),
      |g AS (
      |  SELECT f.n_words, f.in1, f.in2,
      |    CASE WHEN f.in2 = 1 AND f.doc_id = mn.keeper
      |      THEN 1 ELSE 0 END AS in3
      |  FROM f LEFT JOIN mn ON f.h = mn.h),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS d0,
      |    CAST(SUM(n_words) AS BIGINT) AS t0,
      |    CAST(SUM(in1) AS BIGINT) AS d1,
      |    CAST(SUM(in1 * n_words) AS BIGINT) AS t1,
      |    CAST(SUM(in2) AS BIGINT) AS d2,
      |    CAST(SUM(in2 * n_words) AS BIGINT) AS t2,
      |    CAST(SUM(in3) AS BIGINT) AS d3,
      |    CAST(SUM(in3 * n_words) AS BIGINT) AS t3
      |  FROM g)
      |SELECT * FROM (
      |  SELECT 0 AS stage, 'all' AS name, d0 AS n_docs, t0 AS n_tokens
      |  FROM agg
      |  UNION ALL SELECT 1, 'lang_en', d1, t1 FROM agg
      |  UNION ALL SELECT 2, 'gopher_gates', d2, t2 FROM agg
      |  UNION ALL SELECT 3, 'exact_dedup', d3, t3 FROM agg)
      |ORDER BY stage""".stripMargin) { (s, d) =>
    // gate arithmetic kept in lockstep with q85 (same thresholds, same
    // integer units); funnel semantics are cumulative
    val wr = split(col("text"), " ")
    val w = Tables.documents(s, d).select(
      col("doc_id"), col("lang"), md5(col("text")).as("h"),
      size(wr).cast("long").as("n_words"),
      length(translate(col("text"), " ", "")).cast("long")
        .as("n_word_chars"),
      size(filter(wr, x => x.rlike("^[A-Za-z]+$"))).cast("long")
        .as("n_alpha_words"),
      size(filter(wr, x => x.isin("the", "a", "of", "to", "and", "in")))
        .cast("long").as("n_stop"))
    val f = w.select(col("doc_id"), col("h"), col("n_words"),
      when(col("lang") === "en", 1L).otherwise(0L).as("in1"),
      when(col("lang") === "en" &&
        col("n_words").between(50, 100000) &&
        expr("(n_word_chars * 1000) div n_words").between(3000, 10000) &&
        expr("(n_alpha_words * 1000000) div n_words") >= 800000 &&
        col("n_stop") >= 2, 1L).otherwise(0L).as("in2"))
    val mn = f.filter(col("in2") === 1)
      .groupBy(col("h")).agg(min(col("doc_id")).as("keeper"))
    val g = f.join(mn, Seq("h"), "left_outer")
      .select(col("n_words"), col("in1"), col("in2"),
        when(col("in2") === 1 && col("doc_id") === col("keeper"), 1L)
          .otherwise(0L).as("in3"))
    g.agg(count(lit(1)).as("d0"), sum(col("n_words")).as("t0"),
        sum(col("in1")).as("d1"),
        sum(col("in1") * col("n_words")).as("t1"),
        sum(col("in2")).as("d2"),
        sum(col("in2") * col("n_words")).as("t2"),
        sum(col("in3")).as("d3"),
        sum(col("in3") * col("n_words")).as("t3"))
      .select(expr("stack(4, " +
        "0, 'all', d0, t0, " +
        "1, 'lang_en', d1, t1, " +
        "2, 'gopher_gates', d2, t2, " +
        "3, 'exact_dedup', d3, t3) AS (stage, name, n_docs, n_tokens)"))
      .orderBy("stage")
  }

  /** q170 — winsorized (5 %-clipped) robust value statistics (the
    * outlier treatment a feature pipeline applies before any
    * mean-based aggregate; the rank-defined complement to q69's IQR
    * fence and q142's median/MAD): the clip bounds are the EXACT
    * values at ranks ⌈n·5 %⌉ and n − ⌊n·5 %⌋ + 1 of the
    * (value, event_id) order — [[graft.functions.Ranks.rowNumberGlobal]]
    * again, no single-partition window — and the winsorized sum rides
    * the decimal accumulator ([[graft.functions.Exact.sumD]]) so
    * partition order can't flip low bits. Both boundary values come
    * out of ONE filtered pass over the ranked frame (one row matches
    * each boundary rank; the min/max-of-case trick folds them into a
    * one-row frame), then one broadcast + one clip scan. */
  val q170 = QueryDef(
    "q170_winsorized_stats",
    """WITH r AS (
      |  SELECT value,
      |    ROW_NUMBER() OVER (ORDER BY value, event_id) AS rn
      |  FROM events),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events),
      |b AS (
      |  SELECT MAX(n) AS n_rows,
      |    MIN(CASE WHEN rn = GREATEST(1, (n * 5) // 100)
      |      THEN value END) AS lo,
      |    MAX(CASE WHEN rn = LEAST(n, n - (n * 5) // 100 + 1)
      |      THEN value END) AS hi
      |  FROM r, n
      |  WHERE rn = GREATEST(1, (n * 5) // 100)
      |    OR rn = LEAST(n, n - (n * 5) // 100 + 1)),
      |c AS (
      |  SELECT n_rows, lo, hi,
      |    CASE WHEN value < lo THEN lo
      |         WHEN value > hi THEN hi ELSE value END AS cv,
      |    CASE WHEN value < lo THEN 1 ELSE 0 END AS cl,
      |    CASE WHEN value > hi THEN 1 ELSE 0 END AS ch
      |  FROM events, b)
      |SELECT n_rows, lo, hi,
      |  CAST(SUM(cl) AS BIGINT) AS clipped_low,
      |  CAST(SUM(ch) AS BIGINT) AS clipped_high,
      |  CAST(SUM(CAST(cv AS DECIMAL(28, 2))) AS DOUBLE)
      |    AS winsorized_sum
      |FROM c GROUP BY n_rows, lo, hi""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).select(col("event_id"), col("value"))
    val n = ev.agg(count(lit(1)).as("n"))
    val loRank = greatest(lit(1L), expr("(n * 5) div 100"))
    // LEAST clamp: at n < 20 the raw hi rank is n + 1 (matches no
    // row) and high-side clipping would silently turn off while the
    // low side clips at the minimum (round-6 ADVICE) — clamp to the
    // maximum value instead, symmetric with the GREATEST on lo
    val hiRank = least(col("n"), expr("n - (n * 5) div 100 + 1"))
    val bounds = graft.functions.Ranks
      .rowNumberGlobal(ev, col("value"), col("event_id"), "rn")
      .crossJoin(broadcast(n))
      .filter(col("rn") === loRank || col("rn") === hiRank)
      .agg(max(col("n")).as("n_rows"),
        min(when(col("rn") === loRank, col("value"))).as("lo"),
        max(when(col("rn") === hiRank, col("value"))).as("hi"))
    ev.crossJoin(broadcast(bounds))
      .select(col("n_rows"), col("lo"), col("hi"),
        when(col("value") < col("lo"), col("lo"))
          .when(col("value") > col("hi"), col("hi"))
          .otherwise(col("value")).as("cv"),
        when(col("value") < col("lo"), 1L).otherwise(0L).as("cl"),
        when(col("value") > col("hi"), 1L).otherwise(0L).as("ch"))
      .groupBy(col("n_rows"), col("lo"), col("hi"))
      .agg(sum(col("cl")).as("clipped_low"),
        sum(col("ch")).as("clipped_high"),
        graft.functions.Exact.sumD(col("cv")).as("winsorized_sum"))
  }

  /** q171 — self-join size estimation by count-min inner product (the
    * AGMS/CM F₂ estimator a cost-based planner consults before
    * choosing a join strategy — the "how skewed is this key, really"
    * number, Cormode & Muthukrishnan §4.2): the true self-join size of
    * `events` on `user_id` is F₂ = Σ_k c(k)², and the CM estimate is
    * min over rows d of Σ_b cell(d,b)² — an OVERESTIMATE by the same
    * collision argument as point queries (colliding keys' cross terms
    * only add). The oracle rebuilds the IDENTICAL d×w matrix (the
    * q152 md5-slice contract) so the estimate itself is pinned, not
    * just the exact value; the overestimate inequality is therefore
    * oracle-proven, and the reported inflation ppm is the planner's
    * actual error at this w.
    *
    * Scale: the exact side is one keyed census; the sketch side is
    * the q152 bounded exchange (≤ d·w rows per partition) — at 100 TB
    * the sketch is what you can afford to keep per stream; F₂ falls
    * out of the matrix you already have. */
  val q171 = QueryDef(
    "q171_cm_joinsize", {
      def rows(from: String) = (0 until 4).map(i =>
        s"SELECT ${TextQueries.hexU32Sql(1 + 8 * i)} % 256 AS bucket," +
          s" $i AS d FROM $from").mkString("\n  UNION ALL ")
      s"""WITH k AS (SELECT user_id AS key FROM events),
         |hxx AS (SELECT md5(CAST(key AS VARCHAR)) AS hx FROM k),
         |bk AS (
         |  ${rows("hxx")}),
         |cells AS (
         |  SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM bk GROUP BY 1, 2),
         |ex AS (
         |  SELECT CAST(SUM(c * c) AS BIGINT) AS exact_f2 FROM (
         |    SELECT CAST(COUNT(*) AS BIGINT) AS c FROM k GROUP BY key)),
         |es AS (
         |  SELECT CAST(MIN(s) AS BIGINT) AS cm_f2 FROM (
         |    SELECT d, SUM(c * c) AS s FROM cells GROUP BY d))
         |SELECT exact_f2, cm_f2,
         |  CAST((cm_f2 - exact_f2) // (exact_f2 // 1000000 + 1) AS BIGINT)
         |    AS inflation_ppm
         |FROM ex, es""".stripMargin
    }) { (s, d) =>
    import graft.functions.Cm
    val keys = Tables.events(s, d).select(col("user_id").as("key"))
    val exact = keys.groupBy(col("key"))
      .agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")).as("exact_f2"))
    val est = Cm.sketch(keys, col("key"), 4, 256)
      .groupBy(col("d")).agg(sum(col("c") * col("c")).as("s"))
      .agg(min(col("s")).as("cm_f2"))
    exact.crossJoin(broadcast(est))
      .select(col("exact_f2"), col("cm_f2"),
        // divide-first form: (cm-exact)*1e6 wraps BIGINT once F2
        // passes ~9.2e12 (a few million rows on a skewed key) and
        // Spark (non-ANSI) wraps where DuckDB raises — pre-dividing
        // the denominator keeps every intermediate in range at any
        // scale; the +1 makes it total and only perturbs the ppm by
        // <1 part in 1e6 (round-6 ADVICE)
        expr("(cm_f2 - exact_f2) div (exact_f2 div 1000000 + 1)")
          .as("inflation_ppm"))
  }

  /** q205's corpus totals `(nr, nt)` = column sums of the bucket
    * census `(cr, ct)`: an exact integer re-sum of disjoint bucket
    * counts, so the same nr/nt as counting the occurrence frame a
    * second time (round-12 phase 3: one fewer corpus-sized pass). An
    * empty census yields 0, not NULL — the occurrence count's
    * empty-input value. */
  private[graft] def dsirTotals(census: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    census.agg(coalesce(sum(col("cr")), lit(0L)).as("nr"),
      coalesce(sum(col("ct")), lit(0L)).as("nt"))

  /** q205 — DSIR-style hashed-n-gram importance weights (Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling"): score every document by how target-like its hashed
    * unigram+bigram profile is. Features are whitespace unigrams plus
    * adjacent bigrams, hashed into 128 buckets via the portable
    * md5-u32 driver (the [[graft.curation.Curation.contentU32]] /
    * `hexU32Sql` pair); bucket LMs with add-one smoothing over the
    * TARGET corpus (lang = 'en' — the "looks like my eval
    * distribution" proxy) and the RAW pool (all docs); per-occurrence
    * log-ratio on the integer milli-nat grid (the q130 portability
    * contract), per-doc weight = exact integer sum. Census per
    * (source, lang): the en rows scoring positive and every other
    * lang negative IS the selection signal.
    *
    * Shape: tokenize once, persist the occurrence frame for its three
    * consumers (totals, bucket census, join-back probe); bucket
    * counts are ONE map-side-combined keyed agg computing target and
    * raw counts together (conditional sum — no second pass, no left
    * join); the ratio table is ≤128 rows and BROADCAST back onto the
    * occurrence stream; per-doc weight and the census are keyed aggs.
    * At 100 TB the only corpus-sized intermediate is the occurrence
    * frame itself — the bucket table is fixed-size by construction
    * (that is the point of hashed features: DSIR's importance model
    * stays broadcastable no matter the corpus). */
  val q205 = QueryDef(
    "q205_dsir_weights", {
      import graft.functions.LangModel.mnatSql
      s"""WITH l AS (
        |  SELECT doc_id, source, lang,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |u AS (SELECT doc_id, source, lang, unnest(toks) AS feat FROM l),
        |bg AS (
        |  SELECT doc_id, source, lang,
        |    toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] AS feat
        |  FROM (SELECT doc_id, source, lang, toks,
        |          unnest(range(1, len(toks))) AS i
        |        FROM l WHERE len(toks) >= 2)),
        |f AS (SELECT * FROM u UNION ALL SELECT * FROM bg),
        |h AS (SELECT doc_id, source, lang, md5(feat) AS hx FROM f),
        |occ AS (
        |  SELECT doc_id, source, lang, ${TextQueries.hexU32Sql(1)} % 128 AS b
        |  FROM h),
        |tot AS (
        |  SELECT COUNT(*) AS nr,
        |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt
        |  FROM occ),
        |bc AS (
        |  SELECT b, COUNT(*) AS cr,
        |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
        |  FROM occ GROUP BY b),
        |r AS (
        |  SELECT b,
        |    (${mnatSql("ct + 1")} - ${mnatSql("nt + 128")})
        |    - (${mnatSql("cr + 1")} - ${mnatSql("nr + 128")}) AS rw
        |  FROM bc, tot),
        |w AS (
        |  SELECT occ.doc_id, occ.source, occ.lang,
        |    CAST(SUM(rw) AS BIGINT) AS w
        |  FROM occ JOIN r ON occ.b = r.b GROUP BY 1, 2, 3)
        |SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(w) AS BIGINT) AS sum_w_mnat,
        |  CAST(SUM(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |FROM w GROUP BY 1, 2 ORDER BY source, lang""".stripMargin
    }) { (s, d) =>
    import graft.functions.LangModel.mnat
    val isTgt = (col("lang") === "en").cast("long")
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"),
        expr("filter(split(text, ' '), x -> x != '')").as("toks"))
    val uni = toks.select(col("doc_id"), col("source"), col("lang"),
      explode(col("toks")).as("feat"))
    val big = toks.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("source"), col("lang"), col("toks"),
        explode(sequence(lit(1), size(col("toks")) - 1)).as("i"))
      .select(col("doc_id"), col("source"), col("lang"),
        concat(expr("element_at(toks, i)"), lit(" "),
          expr("element_at(toks, i + 1)")).as("feat"))
    val occ = uni.union(big)
      .select(col("doc_id"), col("source"), col("lang"),
        (graft.curation.Curation.contentU32(col("feat")) % 128).as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bc = occ.groupBy(col("b"))
      .agg(count(lit(1)).as("cr"), sum(isTgt).as("ct"))
      // ≤128 rows, reused by the totals re-sum below — persist so the
      // totals don't replay the occurrence aggregation
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = dsirTotals(bc)
    val ratio = bc.crossJoin(broadcast(tot))
      .select(col("b"),
        ((mnat(col("ct") + 1) - mnat(col("nt") + 128))
          - (mnat(col("cr") + 1) - mnat(col("nr") + 128))).as("rw"))
    occ.join(broadcast(ratio), Seq("b"))
      .groupBy(col("doc_id"), col("source"), col("lang"))
      .agg(sum(col("rw")).as("w"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("sum_w_mnat"),
        sum((col("w") > 0).cast("long")).as("n_pos"))
      .orderBy(col("source"), col("lang"))
  }

  /** q206 — k-anonymity risk census over a generalization ladder
    * (Sweeney 2002; the privacy-ops companion to q158's RTBF delete
    * and q159's compliance audit): treat (nation, market segment,
    * account-balance bucket) as the quasi-identifier, measure the
    * equivalence-class size distribution at each generalization level
    * — full QI, drop the balance bucket, nation only — and report per
    * level: classes, records, records in risky classes (k < 5), and
    * the release's k-anonymity (min class size). The ladder tells a
    * release pipeline exactly how much generalization buys how much
    * risk reduction.
    *
    * Balance bucket: exact cents (round-half-up, the q108 idiom)
    * shifted non-negative before the truncating divide, so both
    * engines floor identically for negative balances. Shape: ONE
    * ROLLUP pass — Catalyst plans a single scan + Expand (the
    * q54/q60/q62 grouping-sets contract, pinned in PlanSpec) where
    * the naive form (and the definition-checked oracle) scans once
    * per level; class census then a 3-row level agg. At 100 TB the
    * Expand triples rows into a keyed agg with map-side combine —
    * no window, no driver state, skew bounded by |QI classes|. */
  val q206 = QueryDef(
    "q206_k_anonymity",
    """WITH c AS (
      |  SELECT c_nationkey AS nat, c_mktsegment AS seg,
      |    (CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) + 100000)
      |      // 200000 AS bal
      |  FROM customer),
      |cls AS (
      |  SELECT 0 AS level, CAST(COUNT(*) AS BIGINT) AS k
      |  FROM c GROUP BY nat, seg, bal
      |  UNION ALL
      |  SELECT 1 AS level, CAST(COUNT(*) AS BIGINT) AS k
      |  FROM c GROUP BY nat, seg
      |  UNION ALL
      |  SELECT 2 AS level, CAST(COUNT(*) AS BIGINT) AS k
      |  FROM c GROUP BY nat)
      |SELECT level, CAST(COUNT(*) AS BIGINT) AS n_classes,
      |  CAST(SUM(k) AS BIGINT) AS n_records,
      |  CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
      |    AS risky_records,
      |  CAST(MIN(k) AS BIGINT) AS k_anon
      |FROM cls GROUP BY level ORDER BY level""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d).select(
      col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
      expr("(cast(floor(c_acctbal * 100 + 0.5) as bigint) + 100000)" +
        " div 200000").as("bal"))
    // truncating div is NOT floor for negatives — the +100000 shift
    // makes the numerator provably non-negative (TPC-H acctbal >=
    // -999.99), where truncation == floor on both engines.
    val cls = c.rollup(col("nat"), col("seg"), col("bal"))
      .agg(count(lit(1)).as("k"), grouping_id().as("gid"))
      .filter(col("gid") =!= 7) // drop the grand-total grouping
      .select(expr("CASE gid WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 2 END")
        .as("level"), col("k"))
    cls.groupBy(col("level"))
      .agg(count(lit(1)).as("n_classes"), sum(col("k")).as("n_records"),
        sum(when(col("k") < 5, col("k")).otherwise(0L))
          .as("risky_records"),
        min(col("k")).as("k_anon"))
      .orderBy(col("level"))
  }

  /** q209 — compaction-plan census (the small-files problem).
    *
    * Hourly ingestion lands one "file" per (day, hour); the planner
    * packs each day's files, IN HOUR ORDER, into contiguous
    * target-size bins via `floor(cumulative-bytes-before / target)` —
    * the standard bin-by-cumsum compaction plan (Delta OPTIMIZE /
    * Iceberg rewrite shape) that never reorders data. Census per day:
    * files before, bins after, total / largest-bin bytes, and
    * sub-¼-target small files — the read-amplification the compaction
    * exists to remove. File sizes are exact integer byte estimates
    * (length sums + fixed per-row overhead) so both engines derive
    * identical plans.
    *
    * Scale: the (day, hour) file census is one map-side-combinable
    * keyed agg over the raw events; the packing window is partitioned
    * by day over a ≤24-row frame (bounded by construction); the two
    * downstream censuses are keyed aggs. At 100 TB the same plan
    * reads the table's file-level metadata instead of the rows — the
    * window/census shape (and this cost model) is unchanged.
    */
  val q209 = QueryDef(
    "q209_compaction_plan",
    """WITH f AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
      |    CAST(SUM(LENGTH(props) + LENGTH(event_type) + 24) AS BIGINT)
      |      AS bytes
      |  FROM events GROUP BY 1, 2),
      |a AS (
      |  SELECT day, bytes,
      |    CAST(COALESCE(SUM(bytes) OVER (PARTITION BY day ORDER BY hour
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) // 4096 AS bin
      |  FROM f),
      |bins AS (
      |  SELECT day, bin, CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
      |    CAST(COUNT(*) AS BIGINT) AS n_files,
      |    CAST(SUM(CASE WHEN bytes < 1024 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_small
      |  FROM a GROUP BY 1, 2)
      |SELECT day, CAST(SUM(n_files) AS BIGINT) AS files_before,
      |  CAST(COUNT(*) AS BIGINT) AS bins_after,
      |  CAST(SUM(bin_bytes) AS BIGINT) AS total_bytes,
      |  CAST(MAX(bin_bytes) AS BIGINT) AS largest_bin_bytes,
      |  CAST(SUM(n_small) AS BIGINT) AS small_files_before
      |FROM bins GROUP BY day ORDER BY day""".stripMargin) { (s, d) =>
    val f = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"),
        hour(col("ts")).cast("long").as("hour"))
      .agg(sum(length(col("props")) + length(col("event_type")) + lit(24))
        .as("bytes"))
    // cum-BEFORE (1 PRECEDING), so the file that crosses a bin
    // boundary still lands in the bin it started filling — bins can
    // overflow the target but never leave it near-empty.
    val w = Window.partitionBy("day").orderBy("hour")
      .rowsBetween(Window.unboundedPreceding, -1)
    val a = f.select(col("day"), col("bytes"),
      coalesce(sum(col("bytes")).over(w), lit(0L)).as("cum_before"))
      .select(col("day"), col("bytes"),
        expr("cum_before div 4096").as("bin"))
    val bins = a.groupBy(col("day"), col("bin"))
      .agg(sum("bytes").as("bin_bytes"), count(lit(1)).as("n_files"),
        sum(when(col("bytes") < 1024, 1L).otherwise(0L)).as("n_small"))
    bins.groupBy(col("day"))
      .agg(sum("n_files").as("files_before"),
        count(lit(1)).as("bins_after"),
        sum("bin_bytes").as("total_bytes"),
        max("bin_bytes").as("largest_bin_bytes"),
        sum("n_small").as("small_files_before"))
      .orderBy("day")
  }

  /** q210 — portable HyperLogLog distinct-count census (Flajolet,
    * Fusy, Gandouet, Meunier 2007) per event type.
    *
    * Completes the sketch family's distinct leg with a
    * REGISTER-LEVEL, oracle-replayable HLL: [[graft.functions.Theta]]
    * (q124) covers set algebra and `hll_sketch_agg`
    * ([[graft.gold.IncrementalGold]]) covers production union, but
    * neither lets DuckDB replay the sketch — this one derives every
    * register from md5 slices both engines compute identically
    * (bucket = first-u32 mod 64, rho = 33 − bitlength(second u32))
    * and keeps the harmonic mean EXACT: Σ 2^{−M_j} is scaled by 2^33
    * into an integer sum, so the raw estimate is one integer
    * division, `(709·4096·2^33) div S` (α₆₄ = 0.709 as the rational
    * 709/1000, m² = 4096), and the small-range linear-counting branch
    * rides the established [[graft.functions.LangModel.mnat]] grid —
    * zero float accumulation anywhere.
    *
    * Scale: registers are a map-side-combinable MAX over (group,
    * bucket) — state is ≤ 64 longs per group regardless of input
    * rows (the whole point of HLL at 100 TB: one pass, mergeable,
    * bytes of state); the estimate arithmetic runs on the |groups|-row
    * register census. The exact-distinct column exists only to audit
    * the sketch's error and is the one term that would NOT run at
    * 100 TB unsketch'd — the census reports err_ppm so the trade is
    * measured, not asserted. */
  val q210 = QueryDef(
    "q210_hll_census",
    s"""WITH e AS (
      |  SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hx
      |  FROM events WHERE user_id IS NOT NULL),
      |hb AS (
      |  SELECT event_type, ${TextQueries.hexU32Sql(1)} % 64 AS bucket,
      |    ${TextQueries.hexU32Sql(9)} AS v
      |  FROM e),
      |r AS (
      |  SELECT event_type, bucket,
      |    MAX(33 - LENGTH(LTRIM(bin(v), '0'))) AS m
      |  FROM hb GROUP BY 1, 2),
      |sr AS (
      |  SELECT event_type,
      |    CAST(SUM(CAST(1 AS BIGINT) << (33 - m)) AS BIGINT)
      |      + (64 - CAST(COUNT(*) AS BIGINT))
      |        * (CAST(1 AS BIGINT) << 33) AS ssum,
      |    64 - CAST(COUNT(*) AS BIGINT) AS v_empty
      |  FROM r GROUP BY 1),
      |x AS (
      |  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT)
      |    AS n_exact
      |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
      |est AS (
      |  SELECT sr.event_type, v_empty, n_exact,
      |    (709 * 4096 * (CAST(1 AS BIGINT) << 33)) // ssum AS raw_milli
      |  FROM sr JOIN x ON sr.event_type = x.event_type),
      |fin AS (
      |  SELECT event_type, n_exact, v_empty, raw_milli,
      |    CASE WHEN raw_milli <= 160000 AND v_empty > 0
      |      THEN 64 * (${graft.functions.LangModel.mnatSql("64")}
      |        - ${graft.functions.LangModel.mnatSql("v_empty")})
      |      ELSE raw_milli END AS est_milli
      |  FROM est)
      |SELECT event_type, n_exact, v_empty, raw_milli, est_milli,
      |  CAST(FLOOR(1e6 * (est_milli - 1000.0 * n_exact)
      |    / (1000.0 * n_exact)) AS BIGINT) AS err_ppm
      |FROM fin ORDER BY event_type""".stripMargin) { (s, d) =>
    import graft.functions.LangModel
    val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
    val hb = ev.select(col("event_type"),
      md5(col("user_id").cast("string")).as("hx"))
      .select(col("event_type"),
        (conv(substring(col("hx"), 1, 8), 16, 10).cast("long") % 64)
          .as("bucket"),
        conv(substring(col("hx"), 9, 8), 16, 10).cast("long").as("v"))
    val regs = hb.groupBy(col("event_type"), col("bucket"))
      .agg(max(lit(33) - length(ltrim(expr("bin(v)"), "0"))).as("m"))
    val sr = regs.groupBy(col("event_type"))
      .agg((sum(expr("shiftleft(cast(1 as bigint), cast(33 - m as int))"))
        + (lit(64L) - count(lit(1))) * lit(8589934592L)).as("ssum"),
        (lit(64L) - count(lit(1))).as("v_empty"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    val est = sr.join(exact, Seq("event_type"))
      .withColumn("raw_milli",
        expr("(709 * 4096 * shiftleft(cast(1 as bigint), 33)) div ssum"))
      .withColumn("est_milli",
        when(col("raw_milli") <= 160000 && col("v_empty") > 0,
          lit(64L) * (LangModel.mnat(lit(64)) -
            LangModel.mnat(col("v_empty"))))
          .otherwise(col("raw_milli")))
    est.select(col("event_type"), col("n_exact"), col("v_empty"),
      col("raw_milli"), col("est_milli"),
      floor(lit(1e6) * (col("est_milli") - lit(1000.0) * col("n_exact"))
        / (lit(1000.0) * col("n_exact"))).cast("long").as("err_ppm"))
      .orderBy(col("event_type"))
  }

  /** q211 — interpolated Kneser–Ney bigram smoothing census (Kneser &
    * Ney 1995; Chen & Goodman 1999's empirical study), scored against
    * q130's add-one model on the SAME train/eval split.
    *
    * KN replaces raw-count backoff with the CONTINUATION distribution
    * — "how many distinct histories precede y" — which is why it wins
    * on natural text (frequent-but-contextually-narrow tokens stop
    * leaking probability). With discount d = 3/4 kept as the rational
    * 3/4 and a +1-smoothed continuation floor (virtual OOV type, so
    * no eval bigram ever scores −∞), the probability is a ratio of
    * exact integers:
    *   num = max(4·c(xy)−3, 0)·NN + 3·N1+(x·)·(N1+(·y)+1)
    *   den = 4·c(x)·NN,           NN = |distinct bigrams| + V + 1
    * (unseen history x backs off wholly to the continuation:
    * num = N1+(·y)+1, den = NN); NLL = mnat(den) − mnat(num) on the
    * established [[graft.functions.LangModel.mnat]] grid. Census per
    * source: eval bigrams, add-one vs KN mean NLL, and the gain —
    * the measured argument for WHICH statistical filter a curation
    * pipeline should score with. (On THIS synthetic corpus the
    * measured gain is ≈0 — its token distribution is near-uniform,
    * so continuation counts track raw counts; that null result is
    * the census working. On Zipfian natural text, continuation
    * reweighting is where KN's documented win comes from.)
    *
    * Scale (the q130/q101 contract): tokenize once (persisted bigram
    * frame), all five count tables are map-side-combinable keyed
    * aggs, scoring is four equi-joins on token keys (AQE broadcasts
    * the count sides while vocabulary is small) plus two one-row
    * broadcast totals; the census is a keyed agg. Integer-overflow
    * budget: mnat args reach 4·c(x)·NN ≲ 4·|bigrams|·(|types|+V) —
    * exact under the 2^53 double-mantissa bound for corpora to ~10^5
    * distinct types per 10^6 bigrams; beyond that, scale the grid
    * the q179 way (document, don't silently round). */
  val q211 = QueryDef(
    "q211_kneser_ney",
    s"""WITH l AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS toks
      |  FROM documents),
      |e AS (
      |  SELECT doc_id, source, toks, unnest(range(1, len(toks))) AS i
      |  FROM l WHERE len(toks) >= 2),
      |b AS (
      |  SELECT doc_id, source, toks[CAST(i AS INT)] AS x,
      |    toks[CAST(i AS INT) + 1] AS y
      |  FROM e),
      |tb AS (SELECT x, y FROM b WHERE doc_id % 5 <> 0),
      |cxy AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS cxy
      |  FROM tb GROUP BY 1, 2),
      |cx AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS cx
      |  FROM tb GROUP BY 1),
      |nx AS (SELECT x, CAST(COUNT(DISTINCT y) AS BIGINT) AS nx
      |  FROM tb GROUP BY 1),
      |ny AS (SELECT y, CAST(COUNT(DISTINCT x) AS BIGINT) AS ny
      |  FROM tb GROUP BY 1),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS bt
      |  FROM (SELECT DISTINCT x, y FROM tb)),
      |vv AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v FROM (
      |  SELECT unnest(toks) AS t FROM l WHERE doc_id % 5 <> 0)),
      |s AS (
      |  SELECT b.source,
      |    ${graft.functions.LangModel.mnatSql("COALESCE(cx.cx, 0) + vv.v")}
      |      - ${graft.functions.LangModel.mnatSql("COALESCE(cxy.cxy, 0) + 1")}
      |      AS a1,
      |    CASE WHEN cx.cx IS NULL THEN
      |      ${graft.functions.LangModel.mnatSql("bt + v + 1")}
      |        - ${graft.functions.LangModel.mnatSql("COALESCE(ny.ny, 0) + 1")}
      |    ELSE
      |      ${graft.functions.LangModel.mnatSql("4 * cx.cx * (bt + v + 1)")}
      |        - ${graft.functions.LangModel.mnatSql(
              "GREATEST(4 * COALESCE(cxy.cxy, 0) - 3, 0) * (bt + v + 1)" +
                " + 3 * nx.nx * (COALESCE(ny.ny, 0) + 1)")}
      |    END AS kn
      |  FROM b
      |  LEFT JOIN cxy ON b.x = cxy.x AND b.y = cxy.y
      |  LEFT JOIN cx ON b.x = cx.x
      |  LEFT JOIN nx ON b.x = nx.x
      |  LEFT JOIN ny ON b.y = ny.y
      |  CROSS JOIN tot CROSS JOIN vv
      |  WHERE b.doc_id % 5 = 0)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(a1) // COUNT(*) AS BIGINT) AS addone_avg_mnat,
      |  CAST(SUM(kn) // COUNT(*) AS BIGINT) AS kn_avg_mnat,
      |  CAST(SUM(a1) // COUNT(*) - SUM(kn) // COUNT(*) AS BIGINT)
      |    AS gain_mnat
      |FROM s GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    import graft.functions.LangModel
    import graft.functions.LangModel.mnat
    val docs = Tables.documents(s, d)
    val bg = LangModel.bigramFrame(docs, col("doc_id") % 5 === 0)
    val train = bg.filter(!col("__eval"))
    val cxy = train.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("cxy"))
    val cx = train.groupBy(col("x")).agg(count(lit(1)).as("cx"))
    val nx = train.groupBy(col("x")).agg(countDistinct(col("y")).as("nx"))
    val ny = train.groupBy(col("y")).agg(countDistinct(col("x")).as("ny"))
    val tot = train.select(col("x"), col("y")).distinct()
      .agg(count(lit(1)).as("bt"))
    val v = docs.filter(!(col("doc_id") % 5 === 0))
      .select(explode(split(col("text"), " ")).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    val nn = col("bt") + col("v") + lit(1L)
    val scored = bg.filter(col("__eval"))
      .select(col("doc_id"), col("x"), col("y"))
      .join(cxy, Seq("x", "y"), "left")
      .join(cx, Seq("x"), "left")
      .join(nx, Seq("x"), "left")
      .join(ny, Seq("y"), "left")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(v))
      .select(col("doc_id"),
        (mnat(coalesce(col("cx"), lit(0L)) + col("v"))
          - mnat(coalesce(col("cxy"), lit(0L)) + 1)).as("a1"),
        when(col("cx").isNull,
          mnat(nn) - mnat(coalesce(col("ny"), lit(0L)) + 1))
          .otherwise(
            mnat(lit(4L) * col("cx") * nn)
              - mnat(greatest(lit(4L) * coalesce(col("cxy"), lit(0L))
                  - lit(3L), lit(0L)) * nn
                + lit(3L) * col("nx")
                  * (coalesce(col("ny"), lit(0L)) + lit(1L))))
          .as("kn"))
    scored
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("a1")).as("sa1"), sum(col("kn")).as("skn"))
      .select(col("source"), col("n_bigrams"),
        expr("sa1 div n_bigrams").as("addone_avg_mnat"),
        expr("skn div n_bigrams").as("kn_avg_mnat"),
        expr("sa1 div n_bigrams - skn div n_bigrams").as("gain_mnat"))
      .orderBy(col("source"))
  }

  /** q212 — LEAKAGE-FREE (out-of-fold) target encoding, the standard
    * way to feed a high-cardinality categorical to a model without
    * letting each row see its own label: row in fold f gets its
    * category's target mean computed over the OTHER folds
    * (Micci-Barreca 2001's smoothed form; every gradient-boosting
    * stack's `TargetEncoder(cv=...)`). Encoding arithmetic is exact:
    * out-of-fold sums are differences of integer sums, the unsmoothed
    * encoding is one integer division to ppm, and the m=20 smoothed
    * form multiplies through by the global denominator so it is ONE
    * integer division too. The same-fold complement guard (oof_den >
    * 0) holds by construction here (every (segment, fold) cell is
    * populated); the production operator would left-join the prior.
    *
    * Scale: one map-side-combinable keyed agg to (category, fold)
    * cells, a 5-row-per-category window for category totals, and a
    * one-row broadcast global prior — encoding cost is the CELL
    * count, independent of row count; the encoded fact table then
    * joins the cell frame by (category, fold), broadcastable while
    * cells ≪ facts (always, at 100 TB). */
  val q212 = QueryDef(
    "q212_target_encoding",
    """WITH base AS (
      |  SELECT c.c_mktsegment AS seg, o.o_orderkey % 5 AS fold,
      |    CASE WHEN CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)
      |      > 25000000 THEN 1 ELSE 0 END AS y
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |cell AS (
      |  SELECT seg, fold, CAST(SUM(y) AS BIGINT) AS sf_sum,
      |    CAST(COUNT(*) AS BIGINT) AS sf_cnt
      |  FROM base GROUP BY 1, 2),
      |w AS (
      |  SELECT seg, fold, sf_sum, sf_cnt,
      |    CAST(SUM(sf_sum) OVER (PARTITION BY seg) AS BIGINT) AS s_sum,
      |    CAST(SUM(sf_cnt) OVER (PARTITION BY seg) AS BIGINT) AS s_cnt
      |  FROM cell),
      |g AS (
      |  SELECT CAST(SUM(sf_sum) AS BIGINT) AS g_sum,
      |    CAST(SUM(sf_cnt) AS BIGINT) AS g_cnt
      |  FROM cell)
      |SELECT seg, fold, sf_cnt AS n, sf_sum AS pos,
      |  (1000000 * (s_sum - sf_sum)) // (s_cnt - sf_cnt) AS enc_ppm,
      |  (1000000 * ((s_sum - sf_sum) * g_cnt + 20 * g_sum))
      |    // (g_cnt * ((s_cnt - sf_cnt) + 20)) AS enc_smooth_ppm
      |FROM w CROSS JOIN g ORDER BY seg, fold""".stripMargin) { (s, d) =>
    val base = Tables.orders(s, d)
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        (col("o_orderkey") % 5).as("fold"),
        when(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
          > 25000000L, 1L).otherwise(0L).as("y"))
    val cell = base.groupBy(col("seg"), col("fold"))
      .agg(sum(col("y")).as("sf_sum"), count(lit(1)).as("sf_cnt"))
    val wSeg = Window.partitionBy("seg")
    val w = cell.select(col("seg"), col("fold"), col("sf_sum"),
      col("sf_cnt"),
      sum(col("sf_sum")).over(wSeg).as("s_sum"),
      sum(col("sf_cnt")).over(wSeg).as("s_cnt"))
    val g = cell.agg(sum(col("sf_sum")).as("g_sum"),
      sum(col("sf_cnt")).as("g_cnt"))
    w.crossJoin(broadcast(g))
      .select(col("seg"), col("fold"), col("sf_cnt").as("n"),
        col("sf_sum").as("pos"),
        expr("(1000000 * (s_sum - sf_sum)) div (s_cnt - sf_cnt)")
          .as("enc_ppm"),
        expr("(1000000 * ((s_sum - sf_sum) * g_cnt + 20 * g_sum))" +
          " div (g_cnt * ((s_cnt - sf_cnt) + 20))")
          .as("enc_smooth_ppm"))
      .orderBy(col("seg"), col("fold"))
  }

  /** q213 — split-conformal prediction coverage audit (Vovk et al.;
    * Lei et al. 2018's split form): the distribution-free way to turn
    * ANY point model into calibrated intervals. Deterministic 3-way
    * split on o_orderkey; model = per-segment train-mean price
    * (integer cents div); nonconformity = |residual|; q̂ = the
    * ⌈0.9·(n_cal+1)⌉-th smallest calibration residual, RANK-EXACT via
    * the distributed [[graft.functions.Ranks]] pipeline (no
    * approx-percentile — the guarantee is about an exact order
    * statistic); census = per-segment test coverage at the GLOBAL q̂
    * (marginal guarantee ≈ 900 000 ppm overall; per-segment rows show
    * the conditional-coverage spread the guarantee does NOT promise).
    *
    * Scale: train means are a keyed agg broadcast back (|segments|
    * rows); the single rank pass runs over the calibration slice
    * through Ranks' bucket-offset machinery (the q170/q207 contract);
    * q̂ is a one-row broadcast; coverage is a keyed agg over the test
    * slice. Nothing materializes more than one row per order. */
  val q213 = QueryDef(
    "q213_conformal_coverage",
    """WITH base AS (
      |  SELECT o.o_orderkey AS k, c.c_mktsegment AS seg,
      |    o.o_orderkey % 3 AS part,
      |    CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |mu AS (
      |  SELECT seg, CAST(SUM(cents) AS BIGINT)
      |    // CAST(COUNT(*) AS BIGINT) AS mu
      |  FROM base WHERE part = 0 GROUP BY 1),
      |cal AS (
      |  SELECT b.k, ABS(b.cents - mu.mu) AS r
      |  FROM base b JOIN mu ON b.seg = mu.seg WHERE b.part = 1),
      |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal),
      |rk AS (
      |  SELECT r, ROW_NUMBER() OVER (ORDER BY r, k) AS rn FROM cal),
      |qh AS (
      |  SELECT MIN(r) AS qhat FROM rk, nc
      |  WHERE rn = (9 * (n_cal + 1) + 9) // 10)
      |SELECT b.seg, CAST(COUNT(*) AS BIGINT) AS n_test,
      |  CAST(SUM(CASE WHEN ABS(b.cents - mu.mu) <= qhat THEN 1 ELSE 0
      |    END) AS BIGINT) AS covered,
      |  (1000000 * CAST(SUM(CASE WHEN ABS(b.cents - mu.mu) <= qhat
      |    THEN 1 ELSE 0 END) AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
      |    AS coverage_ppm,
      |  CAST(MAX(qhat) AS BIGINT) AS qhat_cents,
      |  CAST(MAX(n_cal) AS BIGINT) AS n_cal
      |FROM base b JOIN mu ON b.seg = mu.seg, qh, nc
      |WHERE b.part = 2 GROUP BY b.seg ORDER BY b.seg""".stripMargin) {
    (s, d) =>
    import graft.functions.Ranks
    val base = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey").as("k"), col("c_mktsegment").as("seg"),
        (col("o_orderkey") % 3).as("part"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
          .as("cents"))
    val mu = base.filter(col("part") === 0).groupBy(col("seg"))
      .agg(expr("sum(cents) div count(1)").as("mu"))
    val cal = base.filter(col("part") === 1)
      .join(broadcast(mu), Seq("seg"))
      .select(col("k"), abs(col("cents") - col("mu")).as("r"))
    val nc = cal.agg(count(lit(1)).as("n_cal"))
    val qh = Ranks.rowNumberGlobal(cal, col("r"), col("k"), "rn")
      .crossJoin(broadcast(nc))
      .filter(col("rn") === expr("(9 * (n_cal + 1) + 9) div 10"))
      .agg(min(col("r")).as("qhat"))
    base.filter(col("part") === 2)
      .join(broadcast(mu), Seq("seg"))
      .crossJoin(broadcast(qh)).crossJoin(broadcast(nc))
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n_test"),
        sum((abs(col("cents") - col("mu")) <= col("qhat")).cast("long"))
          .as("covered"),
        expr("(1000000 * sum(cast(abs(cents - mu) <= qhat as long)))" +
          " div count(1)").as("coverage_ppm"),
        max(col("qhat")).as("qhat_cents"),
        max(col("n_cal")).as("n_cal"))
      .orderBy(col("seg"))
  }

  /** q227 — l-diversity census (Machanavajjhala et al. 2007): the
    * attack q206's k-anonymity misses. A class of k = 50 identical
    * quasi-identifiers is still fully disclosive if all 50 share one
    * sensitive value — l-diversity requires the sensitive attribute
    * to stay heterogeneous WITHIN each QI class. Over q206's level-0
    * ladder (nation × acctbal bucket) with market segment as the
    * sensitive attribute, each class reports distinct-l (how many
    * sensitive values appear) and the entropy criterion on the
    * integer milli-nat grid: ent_scaled = n·mnat(n) − Σ_g c_g·mnat(c_g)
    * (= n · 1000·H(class) up to grid floors — every term an integer,
    * the q130 portability argument), flagged entropy-3-diverse when
    * ent_scaled ≥ 1098·n (1098 = mnat(3) = ⌊1000·ln 3⌋).
    *
    * Scale: two nested keyed aggs (class×value census, then class
    * census) — both map-side combinable; no windows, no broadcast. */
  val q227 = QueryDef(
    "q227_l_diversity",
    s"""WITH c AS (
      |  SELECT c_nationkey AS nat,
      |    (CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) + 100000)
      |      // 200000 AS bal,
      |    c_mktsegment AS sens
      |  FROM customer),
      |cv AS (
      |  SELECT nat, bal, sens, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM c GROUP BY 1, 2, 3),
      |cls AS (
      |  SELECT nat, bal, CAST(SUM(cnt) AS BIGINT) AS n,
      |    CAST(COUNT(*) AS BIGINT) AS distinct_l,
      |    CAST(SUM(cnt * ${graft.functions.LangModel.mnatSql("cnt")})
      |      AS BIGINT) AS sum_clog
      |  FROM cv GROUP BY 1, 2)
      |SELECT nat, bal, n, distinct_l,
      |  CAST(n * ${graft.functions.LangModel.mnatSql("n")} - sum_clog
      |    AS BIGINT) AS ent_scaled,
      |  CAST(CASE WHEN n * ${graft.functions.LangModel.mnatSql("n")}
      |    - sum_clog >= 1098 * n THEN 1 ELSE 0 END AS BIGINT)
      |    AS entropy_3_diverse
      |FROM cls ORDER BY nat, bal""".stripMargin) { (s, d) =>
    import graft.functions.LangModel.mnat
    val c = Tables.customer(s, d).select(
      col("c_nationkey").as("nat"),
      expr("(cast(floor(c_acctbal * 100 + 0.5) as bigint) + 100000)" +
        " div 200000").as("bal"),
      col("c_mktsegment").as("sens"))
    val cv = c.groupBy(col("nat"), col("bal"), col("sens"))
      .agg(count(lit(1)).as("cnt"))
    cv.groupBy(col("nat"), col("bal"))
      .agg(sum(col("cnt")).as("n"), count(lit(1)).as("distinct_l"),
        sum(col("cnt") * mnat(col("cnt"))).as("sum_clog"))
      .select(col("nat"), col("bal"), col("n"), col("distinct_l"),
        (col("n") * mnat(col("n")) - col("sum_clog")).as("ent_scaled"),
        (col("n") * mnat(col("n")) - col("sum_clog") >=
          lit(1098L) * col("n")).cast("long").as("entropy_3_diverse"))
      .orderBy(col("nat"), col("bal"))
  }

  /** q235 — feature-hashing (hashing-trick) collision census
    * (Weinberger et al. 2009): before a pipeline commits to hashing
    * its vocabulary into 2^k buckets (the fixed-width alternative to
    * a vocabulary table that q120/q129 maintain), measure what each
    * width actually costs: per k ∈ {8, 12, 16}, how many DISTINCT
    * tokens share a bucket with another token (type collision rate)
    * and how much token MASS sits in collided buckets (the
    * occurrence-weighted rate that decides model damage — frequent
    * tokens colliding is what hurts, and Zipfian mass makes the two
    * rates very different). Hashes ride the portable contentU32 grid
    * (md5 slice, the q214/q217 discipline); every rate is an exact
    * integer ppm.
    *
    * Scale: ONE distinct-token census (vocab-bounded, map-side
    * combinable), a 3× literal-array explode of the VOCAB frame (not
    * the corpus), and a (width, bucket) census — shuffled state is
    * Σ 2^k rows max. No joins at all. */
  val q235 = QueryDef(
    "q235_feature_hashing",
    s"""WITH t AS (
      |  SELECT string_split(text, ' ') AS toks FROM documents),
      |w AS (SELECT unnest(toks) AS w FROM t),
      |tc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM w
      |  GROUP BY 1),
      |hb AS (SELECT w, c, md5(w) AS hx FROM tc),
      |hu AS (SELECT w, c, ${TextQueries.hexU32Sql(1)} AS u FROM hb),
      |b AS (
      |  SELECT m, u % m AS bkt, c
      |  FROM hu CROSS JOIN (SELECT unnest([256, 4096, 65536]) AS m)),
      |bk AS (
      |  SELECT m, bkt, CAST(COUNT(*) AS BIGINT) AS nt,
      |    CAST(SUM(c) AS BIGINT) AS mass
      |  FROM b GROUP BY 1, 2)
      |SELECT CAST(m AS BIGINT) AS n_buckets,
      |  CAST(SUM(nt) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS buckets_used,
      |  CAST(SUM(CASE WHEN nt >= 2 THEN nt ELSE 0 END) AS BIGINT)
      |    AS collided_tokens,
      |  CAST((1000000 * SUM(CASE WHEN nt >= 2 THEN nt ELSE 0 END))
      |    // SUM(nt) AS BIGINT) AS collided_ppm,
      |  CAST((1000000 * SUM(CASE WHEN nt >= 2 THEN mass ELSE 0 END))
      |    // SUM(mass) AS BIGINT) AS collided_mass_ppm
      |FROM bk GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val tc = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val b = tc
      .withColumn("u", graft.curation.Curation.contentU32(col("w")))
      .withColumn("m",
        explode(array(lit(256L), lit(4096L), lit(65536L))))
      .select(col("m"), (col("u") % col("m")).as("bkt"), col("c"))
    val bk = b.groupBy(col("m"), col("bkt"))
      .agg(count(lit(1)).as("nt"), sum(col("c")).as("mass"))
    bk.groupBy(col("m").as("n_buckets"))
      .agg(sum(col("nt")).as("n_tokens"),
        count(lit(1)).as("buckets_used"),
        sum(when(col("nt") >= 2, col("nt")).otherwise(0L))
          .as("collided_tokens"),
        expr("(1000000 * sum(case when nt >= 2 then nt else 0 end))" +
          " div sum(nt)").as("collided_ppm"),
        expr("(1000000 * sum(case when nt >= 2 then mass else 0 end))" +
          " div sum(mass)").as("collided_mass_ppm"))
      .orderBy(col("n_buckets"))
  }

  /** q247 — 7-day sliding distinct users, exact vs HLL-merged (the
    * hardest standard engagement metric: DISTINCT does not decompose
    * over sliding windows, so naive rollups double-count): the exact
    * side explodes each (day, user) ONCE into the ≤7 windows it
    * covers and counts distinct per window; the sketch side keeps
    * ONE 64-register HLL per day (the q210 grid) and OR-merges 7
    * days per window — register state is days×64 rows regardless of
    * user count, which is the whole 100-TB story (the q239
    * HyperANF argument applied to time windows). Output per window
    * anchor: exact, estimate, signed err_ppm — the accuracy contract
    * measured, not assumed.
    *
    * Scale: both sides start from keyed censuses; the exact side's
    * (day, user) frame is the data-bounded path you keep while it
    * fits; the register side is the drop-in when it doesn't. */
  val q247 = QueryDef(
    "q247_sliding_distinct", {
      val u32a = TextQueries.hexU32Sql(1)
      val u32b = TextQueries.hexU32Sql(9)
      s"""WITH du AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id AS u
        |  FROM events WHERE user_id IS NOT NULL),
        |days AS (SELECT DISTINCT day FROM du),
        |ex AS (
        |  SELECT d.day AS anchor, CAST(COUNT(DISTINCT du.u) AS BIGINT)
        |    AS n_exact
        |  FROM du JOIN days d
        |    ON du.day <= d.day AND du.day >= d.day - INTERVAL 6 DAY
        |  GROUP BY 1),
        |hb AS (
        |  SELECT day, $u32a % 64 AS bucket,
        |    CAST(33 - LENGTH(LTRIM(bin($u32b), '0')) AS BIGINT) AS m
        |  FROM (SELECT day, md5(CAST(u AS VARCHAR)) AS hx FROM du)),
        |dreg AS (
        |  SELECT day, bucket, CAST(MAX(m) AS BIGINT) AS m
        |  FROM hb GROUP BY 1, 2),
        |wreg AS (
        |  SELECT d.day AS anchor, r.bucket, CAST(MAX(r.m) AS BIGINT)
        |    AS m
        |  FROM dreg r JOIN days d
        |    ON r.day <= d.day AND r.day >= d.day - INTERVAL 6 DAY
        |  GROUP BY 1, 2),
        |sr AS (
        |  SELECT anchor,
        |    CAST(SUM(CAST(1 AS BIGINT) << (33 - m)) AS BIGINT)
        |      + (64 - CAST(COUNT(*) AS BIGINT))
        |        * (CAST(1 AS BIGINT) << 33) AS ssum,
        |    64 - CAST(COUNT(*) AS BIGINT) AS v_empty
        |  FROM wreg GROUP BY 1),
        |est AS (
        |  SELECT anchor, v_empty,
        |    (709 * 4096 * (CAST(1 AS BIGINT) << 33)) // ssum
        |      AS raw_milli
        |  FROM sr),
        |fin AS (
        |  SELECT anchor, raw_milli,
        |    CASE WHEN raw_milli <= 160000 AND v_empty > 0
        |      THEN 64 * (${graft.functions.LangModel.mnatSql("64")}
        |        - ${graft.functions.LangModel.mnatSql("v_empty")})
        |      ELSE raw_milli END AS est_milli
        |  FROM est)
        |SELECT ex.anchor AS day, ex.n_exact, fin.est_milli,
        |  CAST(FLOOR(1e6 * (fin.est_milli - 1000.0 * ex.n_exact)
        |    / (1000.0 * ex.n_exact)) AS BIGINT) AS err_ppm
        |FROM ex JOIN fin ON ex.anchor = fin.anchor
        |ORDER BY day""".stripMargin
    }) { (s, d) =>
    import graft.functions.LangModel.mnat
    val du = Tables.events(s, d).filter(col("user_id").isNotNull)
      .select(col("ts").cast("date").as("day"),
        col("user_id").as("u"))
      .distinct()
    val days = du.select(col("day")).distinct()
      .select(col("day").as("anchor"))
    // explode each (day, user) / (day, register) row to the <=7
    // window anchors it covers, then keyed agg — one pass, no
    // per-window rescan
    def toAnchors(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("anchor",
        explode(expr("sequence(day, date_add(day, 6))")))
      .join(days, Seq("anchor"))
    val ex = toAnchors(du).groupBy(col("anchor"))
      .agg(countDistinct(col("u")).as("n_exact"))
    val dreg = du.withColumn("hx", md5(col("u").cast("string")))
      .select(col("day"),
        (conv(substring(col("hx"), 1, 8), 16, 10).cast("long") % 64)
          .as("bucket"),
        (lit(33) - length(ltrim(expr(
          "bin(conv(substring(hx, 9, 8), 16, 10))"), "0")))
          .cast("long").as("m"))
      .groupBy(col("day"), col("bucket")).agg(max(col("m")).as("m"))
    val sr = toAnchors(dreg)
      .groupBy(col("anchor"), col("bucket"))
      .agg(max(col("m")).as("m"))
      .groupBy(col("anchor"))
      .agg((sum(expr(
        "shiftleft(cast(1 as bigint), cast(33 - m as int))"))
        + (lit(64L) - count(lit(1))) * lit(8589934592L)).as("ssum"),
        (lit(64L) - count(lit(1))).as("v_empty"))
      .withColumn("raw_milli",
        expr("(709 * 4096 * shiftleft(cast(1 as bigint), 33))" +
          " div ssum"))
      .withColumn("est_milli",
        when(col("raw_milli") <= 160000L && col("v_empty") > 0,
          lit(64L) * (mnat(lit(64L)) - mnat(col("v_empty"))))
          .otherwise(col("raw_milli")))
    ex.join(sr, Seq("anchor"))
      .select(col("anchor").as("day"), col("n_exact"),
        col("est_milli"),
        floor(lit(1e6) * (col("est_milli") - lit(1000.0)
          * col("n_exact")) / (lit(1000.0) * col("n_exact")))
          .cast("long").as("err_ppm"))
      .orderBy(col("day"))
  }

  /** q248 — SLO error-budget burn rate (the SRE multiwindow alert
    * arithmetic, Beyer et al.): per hour, the `error` event share
    * against a 99% success SLO; burn = error_rate / (1 − SLO), so
    * burn 1 exhausts exactly the budget over the SLO window and the
    * standard fast-burn page fires at 14.4×. Exact integer ppm
    * throughout: rate = 10⁶·errors div events, burn_milli =
    * 1000·rate div 10⁴ (the 1% budget in ppm), alert flags at
    * 14 400 and 6 000 milli (fast/slow pages). The census is the
    * operator; alerting thresholds are columns, not config.
    *
    * Scale: one hourly keyed census — map-side combinable, calendar-
    * bounded output. */
  val q248 = QueryDef(
    "q248_slo_burn",
    """WITH h AS (
      |  SELECT epoch_us(ts) // 3600000000 AS hour,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS errs
      |  FROM events GROUP BY 1)
      |SELECT hour, n, errs,
      |  (1000000 * errs) // n AS err_ppm,
      |  (1000 * ((1000000 * errs) // n)) // 10000 AS burn_milli,
      |  CAST(CASE WHEN (1000 * ((1000000 * errs) // n)) // 10000
      |    >= 14400 THEN 1 ELSE 0 END AS BIGINT) AS page_fast,
      |  CAST(CASE WHEN (1000 * ((1000000 * errs) // n)) // 10000
      |    >= 6000 THEN 1 ELSE 0 END AS BIGINT) AS page_slow
      |FROM h ORDER BY hour""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(expr("unix_micros(ts) div 3600000000").as("hour"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("errs"))
      .select(col("hour"), col("n"), col("errs"),
        expr("(1000000 * errs) div n").as("err_ppm"),
        expr("(1000 * ((1000000 * errs) div n)) div 10000")
          .as("burn_milli"),
        (expr("(1000 * ((1000000 * errs) div n)) div 10000") >= 14400L)
          .cast("long").as("page_fast"),
        (expr("(1000 * ((1000000 * errs) div n)) div 10000") >= 6000L)
          .cast("long").as("page_slow"))
      .orderBy(col("hour"))
  }

  /** q258 — t-closeness census (Li, Li & Venkatasubramanian 2007)
    * over an ORDERED sensitive attribute: the third rung of the
    * privacy ladder after q206's k-anonymity (class size) and q227's
    * l-diversity (within-class variety) — a class can be large AND
    * diverse yet still leak because its sensitive DISTRIBUTION sits
    * far from the table's (e.g. "every customer in this class is a
    * high spender"). Distance is the 1-D Earth-Mover's Distance over
    * the total-spend rung ladder, which for integer rungs of width 1
    * is exactly Σ_r |CumP(r) − CumQ(r)| / (k−1) — every term an
    * integer once cross-multiplied: |cumc·N − cumg·n_c|, summed over
    * the FULL rung domain 0..maxr (constant cumdiff between observed
    * rungs is handled by enumerating every integer rung — the domain
    * is spend-bounded, ≤ a few dozen rungs). The t = 0.2 gate is the
    * exact integer comparison 5·Σ > (k−1)·n_c·N; emd_ppm reported
    * alongside.
    *
    * Scale: one keyed spend census, one ≤|classes|·|rungs| exploded
    * grid (both factors DOMAIN-bounded — 100 TB adds weight per rung,
    * not rungs), cumsums partitioned by class over the rung domain.
    * The only broadcast is the one-row max-rung frame. */
  val q258 = QueryDef(
    "q258_t_closeness",
    """WITH sp AS (
      |  SELECT c.c_nationkey AS nat, c.c_mktsegment AS seg,
      |    COALESCE(s.v, 0) // 20000000 AS r
      |  FROM customer c LEFT JOIN (
      |    SELECT o_custkey,
      |      CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |        AS BIGINT) AS v
      |    FROM orders GROUP BY 1) s ON c.c_custkey = s.o_custkey),
      |mx AS (SELECT CAST(MAX(r) AS BIGINT) AS maxr FROM sp),
      |cls AS (
      |  SELECT nat, seg, CAST(COUNT(*) AS BIGINT) AS n_c
      |  FROM sp GROUP BY 1, 2),
      |cv AS (
      |  SELECT nat, seg, r, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM sp GROUP BY 1, 2, 3),
      |gv AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS g FROM sp
      |  GROUP BY 1),
      |grid AS (
      |  SELECT cls.nat, cls.seg, cls.n_c,
      |    UNNEST(generate_series(0, mx.maxr)) AS r
      |  FROM cls CROSS JOIN mx),
      |cum AS (
      |  SELECT grid.nat, grid.seg, grid.n_c, grid.r,
      |    CAST(SUM(COALESCE(cv.c, 0)) OVER (PARTITION BY grid.nat,
      |      grid.seg ORDER BY grid.r) AS BIGINT) AS cumc,
      |    CAST(SUM(COALESCE(gv.g, 0)) OVER (PARTITION BY grid.nat,
      |      grid.seg ORDER BY grid.r) AS BIGINT) AS cumg
      |  FROM grid
      |  LEFT JOIN cv ON grid.nat = cv.nat AND grid.seg = cv.seg
      |    AND grid.r = cv.r
      |  LEFT JOIN gv ON grid.r = gv.r),
      |agg AS (
      |  SELECT nat, seg, n_c,
      |    CAST(SUM(ABS(cumc * (SELECT SUM(g) FROM gv)
      |      - cumg * n_c)) AS BIGINT) AS s,
      |    CAST(COUNT(*) AS BIGINT) AS k
      |  FROM cum GROUP BY 1, 2, 3)
      |SELECT nat, seg, n_c,
      |  CAST((1000000 * s) // ((k - 1) * n_c
      |    * (SELECT SUM(g) FROM gv)) AS BIGINT) AS emd_ppm,
      |  CAST(CASE WHEN 5 * s > (k - 1) * n_c
      |    * (SELECT SUM(g) FROM gv) THEN 1 ELSE 0 END AS BIGINT)
      |    AS t02_violation
      |FROM agg WHERE k >= 2 ORDER BY nat, seg""".stripMargin) {
    (s, d) =>
    val spend = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"))
        .as("v"))
    val sp = Tables.customer(s, d)
      .join(spend, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_nationkey").as("nat"),
        col("c_mktsegment").as("seg"),
        expr("coalesce(v, 0L) div 20000000L").as("r"))
    val mx = sp.agg(max(col("r")).as("maxr"))
    val cls = sp.groupBy(col("nat"), col("seg"))
      .agg(count(lit(1)).as("n_c"))
    val cv = sp.groupBy(col("nat"), col("seg"), col("r"))
      .agg(count(lit(1)).as("c"))
    val gv = sp.groupBy(col("r")).agg(count(lit(1)).as("g"))
    val bigN = sp.agg(count(lit(1)).as("bigN"))
    val grid = cls.crossJoin(broadcast(mx))
      .select(col("nat"), col("seg"), col("n_c"),
        explode(expr("sequence(0L, maxr)")).as("r"))
    val w = Window.partitionBy(col("nat"), col("seg"))
      .orderBy(col("r"))
    val cum = grid
      .join(cv, Seq("nat", "seg", "r"), "left")
      .join(gv, Seq("r"), "left")
      .withColumn("cumc", sum(coalesce(col("c"), lit(0L))).over(w))
      .withColumn("cumg", sum(coalesce(col("g"), lit(0L))).over(w))
    cum.crossJoin(broadcast(bigN))
      .groupBy(col("nat"), col("seg"), col("n_c"), col("bigN"))
      .agg(sum(abs(col("cumc") * col("bigN") - col("cumg")
          * col("n_c"))).as("s"),
        count(lit(1)).as("k"))
      .filter(col("k") >= 2)
      .select(col("nat"), col("seg"), col("n_c"),
        expr("(1000000L * s) div ((k - 1) * n_c * bigN)")
          .as("emd_ppm"),
        (lit(5L) * col("s") > (col("k") - 1) * col("n_c")
          * col("bigN")).cast("long").as("t02_violation"))
      .orderBy(col("nat"), col("seg"))
  }

  val all: Seq[QueryDef] =
    Seq(q85, q86, q87, q88, q89, q90, q92, q96, q97, q98, q99,
      q100, q101, q102, q105, q106, q116, q117, q118, q119, q120,
      q121, q122, q123, q124, q126, q129, q130, q132, q136, q138, q139,
      q141, q143, q146, q148, q149, q150, q152, q153, q157, q158, q159, q191,
      q160, q162, q163, q166, q167, q168, q170, q171, q205, q206, q209,
      q210, q211, q212, q213, q227, q235, q247, q248, q258)
}

package graft

import org.apache.spark.sql.functions._

import graft.functions.{Analytics, Buckets, EventWeights, Exact, Text, Vectors}

/** Unit coverage for the ⚠-flagged parity semantics in SURVEY §2. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("Buckets.cut is right-closed, left-open (pandas pd.cut parity)") {
    val df = Seq(-1.0, 0.0, 0.01, 50.0, 50.01, 200.0, 1000.0, 1000.01)
      .toDF("x")
      .select(col("x"), Buckets.priceTier(col("x")).as("tier"))
    val got = df.collect().map(r =>
      r.getDouble(0) -> Option(r.getString(1)).getOrElse("null")).toMap
    assert(got(-1.0) == "null")     // below range -> null
    assert(got(0.0) == "null")      // boundary 0 excluded (left-open)
    assert(got(0.01) == "budget")
    assert(got(50.0) == "budget")   // upper bound included (right-closed)
    assert(got(50.01) == "low")
    assert(got(200.0) == "low")
    assert(got(1000.0) == "high")
    assert(got(1000.01) == "premium")
  }

  test("Buckets.cut of null is null") {
    val r = Seq(Option.empty[Double]).toDF("x")
      .select(Buckets.priceTier(col("x"))).head()
    assert(r.isNullAt(0))
  }

  test("EventWeights: mapped values plus default 1 for unknown types") {
    val df = Seq("view", "purchase", "remove_from_cart", "mystery")
      .toDF("et")
      .select(EventWeights.weight(col("et"), EventWeights.reference).as("w"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(1, 10, -2, 1))
  }

  test("Dedup: composite keys and deterministic keep-latest") {
    import graft.functions.Dedup
    val df = Seq(
      ("u1", "2025-09-01", "a"), ("u1", "2025-09-01", "b"),
      ("u1", "2025-09-02", "c"), ("u2", "2025-09-01", "d"))
      .toDF("k", "day", "v")
    assert(Dedup.byComposite(df, Seq("k", "day")).count() == 3)
    val latest = Dedup.keepLatest(df, "k", "day", tieBreak = Seq("v"))
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    // u1: latest day 09-02 -> c; tie-break picks max v when days tie
    assert(latest == Map("u1" -> "c", "u2" -> "d"))
  }

  test("Exact.roundP: halves round toward +inf on BOTH signs (pinned)") {
    // 0.25 is an exact binary half: +0.25 → 0.3 (HALF_UP) but
    // -0.25 → -0.2 (toward +inf, NOT -0.3) — the documented semantics
    // for negative inputs (cosines can be negative; the oracle runs
    // the identical FLOOR formula, so parity holds either way).
    // ±0.35 are NOT binary halves; the pinned values below are simply
    // what the IEEE multiply/add/floor sequence produces — the same
    // sequence the oracle runs, so cross-engine parity is by
    // construction, not by decimal intuition.
    val got = Seq(0.25, -0.25, 0.35, -0.35).toDF("x")
      .select(Exact.roundP(col("x"), 1).as("r"))
      .collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(0.3, -0.2, 0.4, -0.3), got.toString)
  }

  test("Analytics.modeDeterministic breaks count ties with min value") {
    // u1: a=2,b=2 -> tie -> 'a'; u2: b=2,a=1 -> 'b'
    val df = Seq(
      ("u1", "a"), ("u1", "a"), ("u1", "b"), ("u1", "b"),
      ("u2", "b"), ("u2", "b"), ("u2", "a")).toDF("u", "v")
    val got = Analytics.modeDeterministic(df, Seq("u"), "v", "m")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("u1" -> "a", "u2" -> "b"))
  }

  test("Text.hex4 equals the integer value of the first 4 md5 hex chars") {
    val got = Seq("tok").toDF("t")
      .select(Text.hex4(md5(col("t")))).head().getInt(0)
    // md5("tok") = 60ae136e... -> 0x60ae
    assert(got == 0x60ae)
  }

  test("Text.shingles3 yields n-2 shingles and none for short docs") {
    val df = Seq("a b c d", "a b").toDF("text")
      .select(Text.tokens(col("text")).as("t"))
      .select(size(Text.shingles3(col("t"))).as("n"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(2, 0))
  }

  test("Text.langId picks marker-argmax with pinned tie order") {
    val df = Seq("the table of data", "der hund und das haus", "xyzzy blorp")
      .toDF("text")
      .select(Text.langId(Text.tokens(col("text"))).as("l"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("en", "de", "und"))
  }

  test("Vectors.dot/norm fold sequentially and match exact values") {
    val df = Seq((Array(1.0f, 2.0f, 2.0f), Array(2.0f, 0.0f, 1.0f)))
      .toDF("a", "b")
      .select(
        Vectors.dot(Vectors.toDouble(col("a")),
          Vectors.toDouble(col("b"))).as("d"),
        Vectors.norm(Vectors.toDouble(col("a"))).as("n"))
    val r = df.head()
    assert(r.getDouble(0) == 4.0)
    assert(r.getDouble(1) == 3.0)
  }

  test("DotProduct expression is bitwise-equal to the HOF fold spec") {
    val vecs = (0 until 50).map(i =>
      Array.tabulate(64)(j => ((i * 31 + j * 7) % 97) / 97.0f - 0.5f))
    val df = vecs.zip(vecs.reverse).toDF("a", "b")
      .select(
        Vectors.dot(Vectors.toDouble(col("a")),
          Vectors.toDouble(col("b"))).as("fast"),
        Vectors.dotFold(Vectors.toDouble(col("a")),
          Vectors.toDouble(col("b"))).as("spec"))
    assert(df.filter(col("fast") =!= col("spec")).count() == 0)
    // null array propagates null
    val nr = Seq((Option.empty[Array[Double]], Option(Array(1.0))))
      .toDF("a", "b").select(Vectors.dot(col("a"), col("b"))).head()
    assert(nr.isNullAt(0))
  }

  test("SqDistLong expression equals the HOF fold spec exactly") {
    val vecs = (0 until 50).map(i =>
      Array.tabulate(64)(j => ((i * 131L + j * 17L) % 2000003L)
        - 1000000L))
    val df = vecs.zip(vecs.reverse).toDF("a", "b")
      .select(
        Vectors.sqDistL(col("a"), col("b")).as("fast"),
        Vectors.sqDistFold(col("a"), col("b")).as("spec"))
    assert(df.filter(col("fast") =!= col("spec")).count() == 0)
    // null array propagates null
    val nr = Seq((Option.empty[Array[Long]], Option(Array(1L))))
      .toDF("a", "b").select(Vectors.sqDistL(col("a"), col("b"))).head()
    assert(nr.isNullAt(0))
    // RAGGED arrays return null in BOTH forms (round-11 ADVICE): the
    // HOF fold nulls out because zip_with pads the shorter array with
    // nulls; the native expression must match, not truncate to
    // min(len) and return a plausible partial distance.
    val rg = Seq((Array(1L, 2L, 3L), Array(1L, 2L)))
      .toDF("a", "b")
      .select(Vectors.sqDistL(col("a"), col("b")).as("fast"),
        Vectors.sqDistFold(col("a"), col("b")).as("spec"))
      .head()
    assert(rg.isNullAt(0) && rg.isNullAt(1))
  }

  test("DotLong expression equals the HOF fold spec exactly") {
    val vecs = (0 until 50).map(i =>
      Array.tabulate(64)(j => ((i * 131L + j * 17L) % 2003L) - 1000L))
    val df = vecs.zip(vecs.reverse).toDF("a", "b")
      .select(
        Vectors.dotL(col("a"), col("b")).as("fast"),
        Vectors.dotLFold(col("a"), col("b")).as("spec"))
    assert(df.filter(col("fast") =!= col("spec")).count() == 0)
    // null array propagates null
    val nr = Seq((Option.empty[Array[Long]], Option(Array(1L))))
      .toDF("a", "b").select(Vectors.dotL(col("a"), col("b"))).head()
    assert(nr.isNullAt(0))
    // RAGGED arrays return null in BOTH forms (the SqDistLong
    // contract): truncating to min(len) would return a plausible
    // partial dot instead of a visible null.
    val rg = Seq((Array(1L, 2L, 3L), Array(1L, 2L)))
      .toDF("a", "b")
      .select(Vectors.dotL(col("a"), col("b")).as("fast"),
        Vectors.dotLFold(col("a"), col("b")).as("spec"))
      .head()
    assert(rg.isNullAt(0) && rg.isNullAt(1))
    // a null ELEMENT is the documented divergence: DotLong counts it
    // as 0 (1·4 + 0 + 3·6 = 22), the fold's null product nulls the sum
    val ne = Seq((Seq(Option(1L), None, Option(3L)), Seq(4L, 5L, 6L)))
      .toDF("a", "b")
      .select(Vectors.dotL(col("a"), col("b")).as("fast"),
        Vectors.dotLFold(col("a"), col("b")).as("spec"))
      .head()
    assert(ne.getLong(0) == 22L && ne.isNullAt(1))
  }

  test("Vectors.hyperplane is deterministic and lshBucket in range") {
    assert(Vectors.hyperplane(0, 8) == Vectors.hyperplane(0, 8))
    assert(Vectors.hyperplane(0, 64).forall(v => v == 1.0 || v == -1.0))
    val df = Seq(Array.fill(64)(0.5f), Array.fill(64)(-0.5f)).toDF("e")
      .select(Vectors.lshBucket(Vectors.toDouble(col("e")), 4, 64).as("b"))
    assert(df.collect().map(_.getInt(0)).forall(b => b >= 0 && b < 16))
  }
}

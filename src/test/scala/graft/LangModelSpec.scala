package graft

import org.apache.spark.sql.functions._

import graft.functions.LangModel

/** Bigram-LM NLL scoring (q130's kernel): hand-computed milli-nat
  * values on a tiny fixture, the fluent-vs-garbled ordering the
  * quality filter exists to produce, and the smoothing floor on fully
  * unseen text. */
class LangModelSpec extends SparkSpec {

  import spark.implicits._

  // Training slice (doc_id 1..4): a degenerate "a b" loop — every
  // training bigram is (a,b) or (b,a). Eval: doc 10 repeats the
  // training pattern, doc 15 is entirely out-of-vocabulary.
  private val docs = Seq(
    (1L, "a b a b a b"),
    (2L, "a b a b"),
    (3L, "b a b a"),
    (4L, "a b"),
    (10L, "a b a b"),
    (15L, "z q z q")
  ).toDF("doc_id", "text")

  private def scores = LangModel
    .bigramNllScores(docs, col("doc_id") >= 10)
    .collect()
    .map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3)))
    .toMap

  test("hand-computed milli-nat scores on the fixture") {
    // Training counts: c(a,b)=7 c(b,a)=4 c(a)=7+... contexts: rows
    // 1: a b a b a b -> ab ba ab ba ab ; 2: ab ba ab ; 3: ba ab ba ;
    // 4: ab. c(ab)=5+... recount: doc1 bigrams: ab,ba,ab,ba,ab (3 ab,
    // 2 ba); doc2: ab,ba,ab (2 ab, 1 ba); doc3: ba,ab,ba (1 ab,
    // 2 ba); doc4: ab (1 ab). c(ab)=7, c(ba)=5, c(a)=7, c(b)=5, V=2.
    def mn(k: Long): Long = math.floor(math.log(k.toDouble) * 1000).toLong
    // doc 10 "a b a b": bigrams ab, ba, ab ->
    //   2·[mn(c(a)+V) - mn(c(ab)+1)] + [mn(c(b)+V) - mn(c(ba)+1)]
    val d10 = 2 * (mn(7 + 2) - mn(7 + 1)) + (mn(5 + 2) - mn(5 + 1))
    // doc 15 "z q z q": unseen contexts (c=0) and bigrams (c=0):
    //   3·[mn(0+V) - mn(0+1)] = 3·mn(2)
    val d15 = 3 * mn(2)
    val s = scores
    assert(s(10L) == ((3L, d10, d10 / 3)))
    assert(s(15L) == ((3L, d15, d15 / 3)))
  }

  test("garbled text scores above in-distribution text") {
    val s = scores
    assert(s(15L)._3 > s(10L)._3)
  }

  test("training docs and sub-bigram docs produce no rows") {
    val ids = LangModel
      .bigramNllScores(docs.union(Seq((20L, "solo")).toDF("doc_id", "text")),
        col("doc_id") >= 10)
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(10L, 15L)) // no train rows, no 1-token doc row
  }

  // --- Naive Bayes classifier (q148's kernel) ---

  // Separable fixture: class 0 says alpha, class 1 says beta.
  // Training counts: c(alpha)=(3,0), c(beta)=(0,3); n0=n1=3, V=2,
  // d0=d1=1 (prior term 0). Per-token evidence:
  //   alpha: [mn(4)−mn(5)] − [mn(1)−mn(5)] = mn(4) = 1386
  //   beta:  −1386;   OOV: 0
  private val nbDocs = Seq(
    (1L, 0L, "alpha alpha alpha"),
    (2L, 1L, "beta beta beta"),
    (10L, 0L, "alpha alpha"),
    (11L, 1L, "beta"),
    (12L, 0L, "gamma")
  ).toDF("doc_id", "label", "text")

  test("NB: hand-computed llr and catch/tie semantics on the fixture") {
    val out = LangModel
      .nbLlr(nbDocs, col("label"), col("doc_id") >= 10)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3)))
      .toMap
    def mn(k: Long): Long = math.floor(math.log(k.toDouble) * 1000).toLong
    assert(out(10L) == ((2 * mn(4), 0L)))   // 2772, class 0
    assert(out(11L) == ((-mn(4), 1L)))      // -1386, class 1
    assert(out(12L) == ((0L, 0L)))          // OOV doc: tie -> class 0
    assert(out.size == 3)                   // training docs: no rows
  }

  test("NB: held-out labels never leak into the evidence") {
    // Flipping an EVAL doc's label must not change its llr (labels of
    // eval rows are pass-through metadata, not model input).
    val flipped = Seq(
      (1L, 0L, "alpha alpha alpha"),
      (2L, 1L, "beta beta beta"),
      (10L, 1L, "alpha alpha")
    ).toDF("doc_id", "label", "text")
    val llr = LangModel
      .nbLlr(flipped, col("label"), col("doc_id") >= 10)
      .select("llr_mnat").as[Long].collect()
    def mn(k: Long): Long = math.floor(math.log(k.toDouble) * 1000).toLong
    assert(llr.toSeq == Seq(2 * mn(4)))
  }

  test("DSIR totals (q205): an empty bucket census totals 0, not NULL") {
    val empty = Seq.empty[(Long, Long, Long)].toDF("b", "cr", "ct")
    val row = graft.queries.PipelineQueries.dsirTotals(empty).head()
    assert(row.getLong(0) == 0L && row.getLong(1) == 0L)
    val two = Seq((0L, 3L, 1L), (5L, 4L, 4L)).toDF("b", "cr", "ct")
    val r2 = graft.queries.PipelineQueries.dsirTotals(two).head()
    assert(r2.getLong(0) == 7L && r2.getLong(1) == 5L)
  }
}

package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector primitives: exact cosine similarity and
  * hyperplane-LSH bucketing for approximate nearest-neighbor search.
  *
  * Determinism: every reduction is a *sequential left fold* in index
  * order over doubles (`aggregate` in Spark, `list_reduce` in DuckDB),
  * so dot products and norms are bitwise identical across engines and
  * across partitionings — IEEE double ops are deterministic once the
  * order is pinned. Never sum vector components with a commutative
  * aggregate.
  *
  * Scale: all per-row expressions; the ANN path turns the quadratic
  * all-pairs problem into per-bucket joins (bucket count grows with
  * data size via `bits`), which is the standard LSH trade — recall for
  * a bounded join fan-out.
  */
object Vectors {
  /** Cast a float array to double for stable arithmetic. */
  def toDouble(a: Column): Column = a.cast("array<double>")

  /** Sequential dot product of two double arrays — a native codegen
    * Expression ([[org.apache.spark.sql.graft.DotProduct]]); identical
    * semantics to the HOF fold `aggregate(zip_with(a,b,*),0,+)` but
    * compiled to a primitive loop. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.DotProduct(a, b)

  /** The HOF formulation (kept as the executable spec the custom
    * expression is tested against). */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Exact int64 squared L2 distance Σ(aᵢ−bᵢ)² of two long arrays —
    * a native codegen Expression
    * ([[org.apache.spark.sql.graft.SqDistLong]]); identical values to
    * the HOF fold (integer arithmetic, exact), compiled to a
    * primitive loop. The unit-grid distance of the IVF/PQ/graph-ANN
    * family. */
  def sqDistL(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.SqDistLong(a, b)

  /** The HOF formulation of [[sqDistL]] (the executable spec the
    * custom expression is tested against). */
  def sqDistFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)

  /** Exact int64 dot product Σ aᵢ·bᵢ of two long arrays — native
    * codegen ([[org.apache.spark.sql.graft.DotLong]]); identical
    * values to the HOF fold on null-free arrays (integer arithmetic,
    * exact; ragged → null; a null element counts as 0 where the fold
    * returns null), compiled to a primitive loop. */
  def dotL(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.DotLong(a, b)

  /** The HOF formulation of [[dotL]] (the executable spec the custom
    * expression is tested against). */
  def dotLFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y),
      lit(0L), (acc, x) => acc + x)

  /** L2 norm via the same sequential fold. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two double arrays (pre-divided norms can be
    * cached by callers to avoid recompute inside joins). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Deterministic pseudo-random ±1 hyperplane component: sign taken
    * from the high bit of md5("p:i"). Same construction is embedded as
    * literals in the DuckDB oracle, so both engines use identical
    * hyperplanes. */
  def hyperplaneSign(p: Int, i: Int): Double = {
    val d = MessageDigest.getInstance("MD5")
      .digest(s"$p:$i".getBytes("UTF-8"))
    if ((d(0) & 0x80) == 0) 1.0 else -1.0
  }

  /** The ±1 hyperplane for bit `p` over `dim` components. */
  def hyperplane(p: Int, dim: Int): Seq[Double] =
    (0 until dim).map(hyperplaneSign(p, _))

  /** LSH bucket id: `bits` sign-bits of the embedding against fixed
    * ±1 hyperplanes. 2^bits buckets; callers size `bits` so buckets
    * stay join-friendly as data grows. */
  def lshBucket(emb: Column, bits: Int, dim: Int): Column =
    (0 until bits).map { p =>
      val plane = array(hyperplane(p, dim).map(lit): _*)
      when(dot(emb, plane) > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** SQL fragment (DuckDB) computing the same bucket for column `e`
    * (a float list) — used to generate oracle SQL with the identical
    * hyperplane literals. */
  def lshBucketSql(e: String, bits: Int, dim: Int): String =
    (0 until bits).map { p =>
      val lits = hyperplane(p, dim).map(v => if (v > 0) "1.0" else "-1.0")
        .mkString("[", ",", "]")
      s"(CASE WHEN list_reduce(list_transform(range($dim), i -> " +
        s"CAST($e[i+1] AS DOUBLE) * ($lits)[i+1]), (acc,x) -> acc+x) > 0 " +
        s"THEN ${1 << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** SQL fragment (DuckDB) for the sequential-fold dot product of two
    * float-list columns, matching [[dot]] bit-for-bit. */
  def dotSql(a: String, b: String, dim: Int): String =
    s"list_reduce(list_transform(range($dim), i -> " +
      s"CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE)), " +
      "(acc,x) -> acc+x)"

  /** Rademacher (±1) random projection of an integer micro-unit
    * vector `k` (array<long>) onto `dOut` rows of the deterministic
    * [[hyperplane]] matrix: element j = Σ_i sign(j,i)·k_i — EXACT
    * integer arithmetic, so both engines agree bit-for-bit with no
    * float accumulation anywhere (the q56/q43b snapping rule applied
    * to dimensionality reduction). E[‖y_a−y_b‖²] = dOut·‖x_a−x_b‖²
    * (Achlioptas, "Database-friendly random projections", PODS 2001 —
    * the JL guarantee without Gaussians), so distances are preserved
    * up to the 1/√dOut scale the caller applies (or cancels in
    * ratios). Row-local; no shuffle.
    *
    * Execution: each output element rides the codegen [[dot]]
    * expression over the micro-unit values cast to double — every
    * product (±k_i, |k_i| ≤ 1e6·dim headroom) and partial sum stays
    * an integer far below 2^53, so the double arithmetic is EXACT and
    * the final cast back to long is lossless. The interpreted-HOF
    * fold this replaced cost ~1 ms/row (16 lambdas × 64 elements with
    * materialized intermediates — the q34 lesson, again). */
  def rademacherProject(k: Column, dOut: Int, dim: Int): Column = {
    val kd = k.cast("array<double>")
    array((0 until dOut).map { j =>
      val sgns = array(hyperplane(j, dim).map(lit): _*)
      dot(kd, sgns).cast("long")
    }: _*)
  }

  /** DuckDB `VALUES` rows `(j, [±1,…])` carrying the identical
    * [[hyperplane]] sign matrix as literals (the [[lshBucketSql]]
    * treatment), for the q134 oracle's per-dimension join. */
  def rademacherValuesSql(dOut: Int, dim: Int): String =
    (0 until dOut).map { j =>
      val lits = hyperplane(j, dim)
        .map(v => if (v > 0) "1" else "-1").mkString("[", ",", "]")
      s"($j, $lits)"
    }.mkString(", ")
}

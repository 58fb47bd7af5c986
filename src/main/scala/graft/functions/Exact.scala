package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Exact-decimal aggregate math.
  *
  * Summing doubles is order-dependent, so the same query can return
  * different last-ulp results across partitionings — and across engines.
  * All money/quantity aggregates therefore cast to DECIMAL first (exact,
  * order-independent), aggregate, and only cast back to double at the very
  * end. This makes results reproducible on any cluster layout and lets the
  * DuckDB oracle hash-match bit-for-bit.
  */
object Exact {

  /** Money / quantity: 2-decimal domain values (prices, quantities). */
  def dec(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Rates in [0,1]: discounts, taxes. */
  def rate(c: Column): Column = c.cast(DecimalType(4, 2))

  /** SUM(dec(c)) surfaced as double. */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** Exact revenue term: extendedprice * (1 - discount). */
  def discPrice(ext: Column, disc: Column): Column =
    dec(ext) * (lit(1) - rate(disc)).cast(DecimalType(8, 4))

  /** Exact charge term: extendedprice * (1 - discount) * (1 + tax). */
  def charge(ext: Column, disc: Column, tax: Column): Column =
    dec(ext) * ((lit(1) - rate(disc)) * (lit(1) + rate(tax))).cast(DecimalType(8, 4))

  /** Exact integer sums and products: DECIMAL(38,0), the widest decimal
    * Spark keeps exact. Power sums widen to it before they multiply.
    */
  val d38: DecimalType = DecimalType(38, 0)

  /** One exact integer value narrow enough that its square's result type
    * stays inside [[d38]].
    */
  val d19: DecimalType = DecimalType(19, 0)

  /** Money in exact integer MICRO-units (discPrice carries scale 6, so
    * ×10⁶ is integral — cents would truncate sub-cent digits). Narrowed
    * to [[d19]] so a square's result type stays inside [[d38]]: 10¹⁸
    * micros ≈ 10¹² dollars of headroom per value.
    */
  def microUnits(rev: Column): Column =
    (rev * lit(1000000)).cast(d19)

  /** Money in whole CENTS as a long. Exact for a 2-decimal value; a
    * scale-6 sum loses its sub-cent digits toward zero (a DuckDB replay
    * must spell that as micros `// 10000`, because its cast rounds).
    */
  def cents(m: Column): Column = (m * 100).cast("long")

  /** Money in WHOLE currency units as a long, the fraction truncated
    * toward zero (the DuckDB replay is micros `// 1000000`). Used where
    * a sum of squares or a 12-decimal rounding must fit: micros squared
    * leave [[decToDouble]]'s exact range, and a micros-scale mean
    * overflows DECIMAL(24,12).
    */
  def wholeUnits(m: Column): Column = m.cast("long")

  /** Order-independent mean of a double column via a DECIMAL(38,15) sum
    * — deterministic across partitionings, with 23 integer digits of
    * headroom (summing 10¹⁵ elements of magnitude 10⁸ still fits, where
    * a scale-30 decimal would overflow — to NULL with ANSI off — beyond
    * ~10⁸ total).
    *
    * For DETERMINISM-ONLY paths (k-means/quantizer updates, where no
    * external oracle recomputes the value). An ORACLE-COMPARED mean
    * should prefer a scale-30 sum + explicit final rounding (see
    * `Embeddings.centroids`): per-element scale-15 rounding can disagree
    * between engines near decimal boundaries more often than the
    * sub-ulp noise a scale-30 sum carries.
    */
  def decimalMean(c: Column): Column =
    sum(c.cast(DecimalType(38, 15))).cast("double") / count(lit(1))

  /** ORACLE-SAFE mean: scale-30 decimal sum (sub-ulp element rounding) +
    * final DECIMAL(24,12) rounding. The 12-decimal result survives BOTH
    * engines' double→decimal conversion styles and decimal→double is
    * correctly rounded in both (unscaled < 2⁵³) — so a DuckDB replay of
    * `CAST(CAST(CAST(SUM(CAST(x AS DECIMAL(38,30))) AS DOUBLE)/COUNT(*)
    * AS DECIMAL(24,12)) AS DOUBLE)` is bit-identical. Use whenever the
    * mean (or anything derived from it, like an argmin) is
    * oracle-compared; see `Embeddings.centroids`.
    */
  def portableMean(c: Column): Column =
    (sum(c.cast(DecimalType(38, 30))).cast("double") / count(lit(1)))
      .cast(DecimalType(24, 12)).cast("double")

  /** Exact nonnegative integer DECIMAL(38,0) → double via a 10⁹ hi/lo
    * split: both parts convert to double exactly, and the recombination
    * is the same two IEEE ops in every engine — unlike a direct
    * decimal→double cast, which DuckDB double-rounds and, for int128
    * magnitudes beyond ~1.8e19, TRUNCATES. Deterministic for sums up to
    * ~9e24 (hi < 2⁵³). The precision-critical recipe shared by the
    * corr-matrix, q_stats, A/B-test, and decay-counter power sums;
    * [[decToDoubleSql]] is its bitwise DuckDB twin.
    */
  def decToDouble(s: Column): Column = {
    val lo = pmod(s, lit(1000000000L))
    val hi = (s - lo) / lit(1000000000L)
    hi.cast("double") * lit(1.0e9) + lo.cast("double")
  }

  /** DuckDB SQL fragment replaying [[decToDouble]] bit-for-bit over an
    * integer (BIGINT/HUGEINT/DECIMAL(38,0)) expression `e`.
    */
  def decToDoubleSql(e: String): String =
    s"(CAST(($e - ($e % 1000000000)) // 1000000000 AS DOUBLE) * 1.0e9" +
      s" + CAST($e % 1000000000 AS DOUBLE))"

  /** Signed twin of [[decToDouble]]: split the sign out FIRST, convert
    * the magnitude through the exact hi/lo recipe, multiply back. The
    * base helper is nonnegative-only — Spark's `pmod` yields a
    * nonnegative remainder while DuckDB's `%` truncates toward zero, so
    * feeding a negative sum through the unsigned pair diverges by 1 ulp
    * once |s| exceeds 2⁵³ (the elasticity precedent, generalized).
    */
  def decToDoubleSigned(s: Column): Column =
    decToDouble(abs(s)) * when(s < 0, lit(-1.0)).otherwise(lit(1.0))

  /** Bitwise DuckDB twin of [[decToDoubleSigned]]. `e` must be a pure
    * column reference or cheap expression — it is spliced several times.
    */
  def decToDoubleSignedSql(e: String): String =
    s"(${decToDoubleSql(s"ABS($e)")} *" +
      s" (CASE WHEN $e < 0 THEN -1.0 ELSE 1.0 END))"
}

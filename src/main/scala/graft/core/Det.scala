package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Determinism helpers for oracle (DuckDB) hash-parity.
  *
  * Why not `round()`: Spark `round` is HALF_UP via BigDecimal; DuckDB
  * `round` on DOUBLE rounds half away from zero via C `round` — these can
  * disagree on exactly-representable halves (e.g. 0.03125 at 4 digits).
  * `floor(x*10^n + 0.5)/10^n` is a pure IEEE-deterministic function of the
  * input double, identical in both engines. The SQL twin is
  * [[Det.sqlR]] — keep them in lockstep.
  */
object Det {

  /** Portable fixed-point rounding of a double column, n decimal places. */
  def r(c: Column, n: Int): Column = {
    val p = math.pow(10, n)
    floor(c * lit(p) + lit(0.5)) / lit(p)
  }

  def r2(c: Column): Column = r(c, 2)
  def r4(c: Column): Column = r(c, 4)
  def r6(c: Column): Column = r(c, 6)

  /** [[r4]] on a JVM double, for kernels that must agree with the Column
    * form to the bit. Spark's `floor` of a double is a BIGINT
    * (`(long) Math.floor(x)`, so NaN floors to 0 and ±∞ saturate), and the
    * division widens it back to double: this is that expression tree
    * written out, and SimilaritySpec checks it against the Column form.
    */
  def r4(x: Double): Double = math.floor(x * 10000.0 + 0.5).toLong.toDouble / 10000.0

  /** The DuckDB-SQL twin of [[r]] — splice into oracle SQL strings. */
  def sqlR(expr: String, n: Int): String = {
    val p = math.pow(10, n).toLong
    s"floor(($expr)*$p+0.5)/$p"
  }
}

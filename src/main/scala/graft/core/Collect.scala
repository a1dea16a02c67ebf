package graft.core

import org.apache.spark.sql.{DataFrame, Row}

/** Bounded collects: bring a frame to the driver only when it is small.
  * Every "collect it if it fits, else stay distributed" choice in graft
  * reads at most `maxRows + 1` rows; the limit not binding proves the set
  * is complete.
  */
object Collect {

  /** `df`'s rows when it has at most `maxRows` of them; None when it has
    * more, or when `maxRows` is not positive (such a bound never collects,
    * which is how a zero ceiling forces a distributed path). Nulls are
    * returned as they are: each caller decides what a null means.
    */
  def atMost(df: DataFrame, maxRows: Long): Option[Array[Row]] =
    if (maxRows <= 0) None
    else {
      val rows = df.limit(math.min(maxRows, Int.MaxValue - 1L).toInt + 1).collect()
      if (rows.length > maxRows) None else Some(rows)
    }
}

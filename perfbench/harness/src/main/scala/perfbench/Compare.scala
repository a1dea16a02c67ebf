package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive comparison of small result sets: rows are sorted by
  * their rendering with doubles rounded, then compared field by field,
  * doubles to a relative 1e-9 (sums over differently ordered inputs).
  */
object Compare {
  private def key(r: Row): String =
    r.toSeq.map {
      case d: Double => f"$d%.6e"
      case x         => String.valueOf(x)
    }.mkString("|")

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case (x: java.lang.Number, y: java.lang.Number) if !x.isInstanceOf[Double] && !y.isInstanceOf[Double] =>
      x.longValue == y.longValue
    case _ => a == b
  }

  def rows(got: Seq[Row], want: Seq[Row]): Boolean =
    got.size == want.size &&
      got.sortBy(key).zip(want.sortBy(key)).forall { case (g, w) =>
        g.length == w.length && (0 until g.length).forall(i => same(g.get(i), w.get(i)))
      }

  /** Planned (kept, total) file counts of the graft scans in `df`'s plan,
    * as their descriptions report them ("files=k/n").
    */
  def scanFiles(df: DataFrame): (Long, Long) = {
    val re = "files=(\\d+)/(\\d+)".r
    val found = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        // V1Scan-based scans plan as a wrapper holding the graft scan
        val scan =
          if (r.scan.getClass.getSimpleName == "V1ScanWrapper")
            r.scan.getClass.getMethod("v1Scan").invoke(r.scan).asInstanceOf[org.apache.spark.sql.connector.read.Scan]
          else r.scan
        scan.description()
    }
    found.flatMap(re.findFirstMatchIn(_)).foldLeft((0L, 0L)) { case ((k, n), m) =>
      (k + m.group(1).toLong, n + m.group(2).toLong)
    }
  }
}

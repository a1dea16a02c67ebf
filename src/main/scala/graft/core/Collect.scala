package graft.core

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.{LocalTableScanExec, SQLExecution}

/** Bounded collects: bring a frame to the driver only when it is small.
  * Every "collect it if it fits, else stay distributed" choice in graft
  * reads at most `maxRows + 1` rows; the limit not binding proves the set
  * is complete.
  */
object Collect {

  /** Partitions read by [[atMost]]'s first job; later jobs read four
    * times as many partitions as the one before, each task taking only
    * the rows still missing (Spark's incremental take, from a wider first
    * step).
    */
  private[graft] val FirstJobPartitions = 16

  /** Bytes of rows one [[atMost]] job may send to the driver, split evenly
    * over its tasks (lowered to half of `spark.driver.maxResultSize` when
    * that is set lower). A task stops at its share, so a frame above the
    * bound costs the driver at most this much per job, however many rows
    * its partitions hold.
    */
  private[graft] val JobBytes = 128L << 20

  /** `df`'s rows when it has at most `maxRows` of them; None when it has
    * more, or when `maxRows` is not positive (such a bound never collects,
    * which is how a zero ceiling forces a distributed path). Nulls are
    * returned as they are: each caller decides what a null means.
    *
    * A frame of at most [[FirstJobPartitions]] partitions is read in ONE
    * Spark job, each task stopping after `maxRows + 1` rows or its share
    * of [[JobBytes]], whichever comes first; a frame that plans to a local
    * table scan is read with no job at all. When a task stops at its byte
    * share with the rows seen so far still within the bound, the frame is
    * read again by Spark's own `limit(maxRows + 1).collect()`. Rows keep
    * the frame's partition order, as `limit(n).collect()` does.
    */
  def atMost(df: DataFrame, maxRows: Long): Option[Array[Row]] = {
    val resultCap = df.sparkSession.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    atMost(df, maxRows, if (resultCap > 0) math.min(JobBytes, resultCap / 2) else JobBytes)
  }

  /** [[atMost]] with `jobBytes` as the per-job byte budget. */
  private[graft] def atMost(df: DataFrame, maxRows: Long, jobBytes: Long): Option[Array[Row]] =
    if (maxRows <= 0) None
    else {
      val lim = math.min(maxRows, Int.MaxValue - 1L).toInt + 1
      def viaSpark = Some(df.limit(lim).collect()).filter(_.length <= maxRows)
      val qe = df.queryExecution
      qe.executedPlan match {
        case _: LocalTableScanExec => viaSpark
        case plan =>
          val schema = df.schema
          val (over, cutShort, parts) = SQLExecution.withNewExecutionId(qe, Some("Collect.atMost")) {
            val rdd = plan.execute()
            val nParts = rdd.getNumPartitions
            val parts = new Array[Array[Byte]](nParts)
            var total = 0L
            var cut = false
            var scanned = 0
            var step = FirstJobPartitions.toLong
            while (total < lim && !cut && scanned < nParts) {
              val left = (lim - total).toInt
              val from = scanned
              val upTo = math.min(nParts.toLong, scanned + step).toInt
              val share = math.max(1L, jobBytes / (upTo - from))
              df.sparkSession.sparkContext.runJob(
                rdd,
                (_: org.apache.spark.TaskContext, it: Iterator[InternalRow]) => pack(it, schema, left, share),
                from until upTo,
                (i: Int, got: Packed) => {
                  // `i` indexes this job's partitions; past the bound the
                  // answer is None, so what arrives is dropped
                  if (total + got.rows <= maxRows) parts(from + i) = got.bytes
                  total += got.rows
                  cut ||= got.cut
                })
              scanned = upTo
              step *= 4
            }
            (total > maxRows, cut, parts)
          }
          // rows already past the bound decide None even when a task was
          // cut short; a cut with the count still within it decides nothing
          if (over) None else if (cutShort) viaSpark else Some(unpack(parts, schema))
      }
    }

  /** One task's rows as `(size, UnsafeRow bytes)` records. `cut`: the
    * partition had another row that did not fit `share` bytes.
    */
  private final case class Packed(bytes: Array[Byte], rows: Int, cut: Boolean)

  private def pack(
      it: Iterator[InternalRow],
      schema: org.apache.spark.sql.types.StructType,
      maxRows: Int,
      share: Long): Packed = {
    val toUnsafe = UnsafeProjection.create(schema)
    val buf = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(buf)
    val scratch = new Array[Byte](4096)
    var rows = 0
    var cut = false
    while (!cut && rows < maxRows && it.hasNext) {
      val row = toUnsafe(it.next())
      if (buf.size + 4L + row.getSizeInBytes > share) cut = true
      else {
        out.writeInt(row.getSizeInBytes)
        row.writeToStream(out, scratch)
        rows += 1
      }
    }
    out.flush()
    Packed(buf.toByteArray, rows, cut)
  }

  private def unpack(parts: Array[Array[Byte]], schema: org.apache.spark.sql.types.StructType): Array[Row] = {
    val toRow = ExpressionEncoder(RowEncoder.encoderFor(schema)).resolveAndBind().createDeserializer()
    parts.iterator.filter(_ != null).flatMap { bytes =>
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      Iterator.continually(in).takeWhile(_.available > 0).map { in =>
        val b = new Array[Byte](in.readInt())
        in.readFully(b)
        val row = new UnsafeRow(schema.length)
        row.pointTo(b, b.length)
        toRow(row)
      }
    }.toArray
  }
}

package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{BoundReference, InSet, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.struct
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Frames whose rows the driver already holds. Spark's optimizer folds
  * Project, Filter and Limit over a local relation into a new local
  * relation (`ConvertToLocalRelation`), evaluating the same expressions a
  * task would, so reading such a frame runs no Spark job. Aggregates,
  * `distinct` and joins over one still plan jobs; the helpers here do
  * those on the driver rows instead, with Spark's own equality, and fall
  * back to the Spark operator for a frame that is not local.
  */
object LocalFrames {

  /** Above this many rows a cross join of two local frames runs in
    * Spark: the product is built in driver memory.
    */
  private val MaxLocalProduct = 1L << 20

  /** Whether `df` plans to a local relation. */
  def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** `df`'s rows when it is local (read with no job), else None. */
  def rowsOf(df: DataFrame): Option[Array[Row]] =
    if (isLocal(df)) Some(df.collect()) else None

  /** A local frame of `rows` in `schema`. */
  def of(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Each row's `GROUP BY` key: its values with NaN and -0.0 normalized
    * (Spark's `NormalizeFloatingNumbers`, which grouping and join keys go
    * through) as one UnsafeRow. Two rows fall in one group, and match
    * under `<=>` on every column, exactly when their keys are equal.
    */
  private def keyer(schema: StructType): Row => UnsafeRow = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val proj = UnsafeProjection.create(schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      org.apache.spark.sql.graft.Bridge.normalizeFloats(BoundReference(i, f.dataType, nullable = true))
    })
    r => proj(toCatalyst(r).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]).copy()
  }

  /** The distinct rows of `rows` in `schema`, as Spark's `distinct()`
    * returns them: first occurrence order, floating values normalized.
    */
  def distinctRows(rows: Array[Row], schema: StructType): Array[Row] = {
    val key = keyer(schema)
    val toScala = CatalystTypeConverters.createToScalaConverter(schema)
    val seen = new java.util.HashSet[UnsafeRow]()
    rows.iterator.map(key).filter(seen.add).map(k => toScala(k).asInstanceOf[Row]).toArray
  }

  /** `df.distinct()`, on the driver when `df` is local. */
  def distinct(df: DataFrame): DataFrame = rowsOf(df) match {
    case Some(rows) => of(df.sparkSession, distinctRows(rows, df.schema).toSeq, df.schema)
    case None => df.distinct()
  }

  /** The rows of `a` with no row of `b` equal on every column under
    * `<=>` — a null-safe left anti join over whole rows. Both are in
    * `schema`.
    */
  def antiRows(a: Array[Row], b: Array[Row], schema: StructType): Array[Row] = {
    val key = keyer(schema)
    val present = new java.util.HashSet[UnsafeRow]()
    b.foreach(r => present.add(key(r)))
    a.filterNot(r => present.contains(key(r)))
  }

  /** `a.crossJoin(b)` with `b` the small side: on the driver when both
    * are local and the product stays small, else in Spark with `b`
    * broadcast.
    */
  def crossJoin(a: DataFrame, b: DataFrame): DataFrame =
    (rowsOf(a), rowsOf(b)) match {
      case (Some(ra), Some(rb)) if ra.length.toLong * rb.length <= MaxLocalProduct =>
        of(
          a.sparkSession,
          for { x <- ra.toSeq; y <- rb.toSeq } yield Row.fromSeq(x.toSeq ++ y.toSeq),
          a.crossJoin(b).schema)
      case _ => a.crossJoin(org.apache.spark.sql.functions.broadcast(b))
    }

  /** `a.unionByName(b)`, on the driver when both are local (each side
    * cast to the union's types by Spark first).
    */
  def union(a: DataFrame, b: DataFrame): DataFrame = {
    val u = a.unionByName(b)
    def aligned(df: DataFrame) =
      df.select(u.schema.fields.toSeq.map(f => df(f.name).cast(f.dataType).as(f.name)): _*)
    (rowsOf(aligned(a)), rowsOf(aligned(b))) match {
      case (Some(ra), Some(rb)) => of(a.sparkSession, (ra ++ rb).toSeq, u.schema)
      case _ => u
    }
  }

  /** The least and greatest non-null value of column `i` of `rows`,
    * each mapped by `convert` to a Catalyst value of `dt` and compared
    * under Spark's ordering of `dt`; nulls are skipped as `min`/`max` skip
    * them, and None means every value is null. The bounds are the
    * converted values.
    */
  def bounds(rows: Iterator[Row], i: Int, dt: DataType, convert: Any => Any): Option[(Any, Any)] = {
    val vals = rows.filterNot(_.isNullAt(i)).map(r => convert(r.get(i))).toSeq
    if (vals.isEmpty) None
    else {
      val ord = org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt)
      Some((vals.min(ord), vals.max(ord)))
    }
  }

  /** `df.agg(min(lo) AS lo, max(hi) AS hi)`, on the driver when `df` is
    * local ([[bounds]]).
    */
  def extremes(df: DataFrame, lo: String, hi: String): DataFrame = rowsOf(df) match {
    case Some(rows) =>
      def pick(c: String, max: Boolean): Any = {
        val i = df.schema.fieldIndex(c)
        val dt = df.schema(i).dataType
        bounds(rows.iterator, i, dt, CatalystTypeConverters.createToCatalystConverter(dt))
          .map { case (l, h) => CatalystTypeConverters.createToScalaConverter(dt)(if (max) h else l) }
          .orNull
      }
      of(
        df.sparkSession,
        Seq(Row(pick(lo, max = false), pick(hi, max = true))),
        StructType(Seq(StructField(lo, df.schema(lo).dataType), StructField(hi, df.schema(hi).dataType))))
    case None =>
      df.agg(
        org.apache.spark.sql.functions.min(df(lo)).as(lo),
        org.apache.spark.sql.functions.max(df(hi)).as(hi))
  }

  /** `struct(cols) IN (rows)` as one `InSet` node however many rows:
    * each column is cast to its `types` entry, the rows hold values of
    * those types, and the set compares by Spark's struct ordering, so a
    * row matches exactly when some key equals it on every column under
    * `<=>` (NULL matches NULL; NaN and -0.0 as in a join). A caller that
    * wants SQL equality drops its null-bearing keys first.
    */
  def in(cols: Seq[Column], types: Seq[DataType], rows: Array[Row]): Column = {
    val keyType = StructType(types.zipWithIndex.map { case (t, i) => StructField(s"_$i", t) })
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(keyType)
    val child = org.apache.spark.sql.graft.Bridge.expression(
      struct(cols.zip(types).zipWithIndex.map { case ((c, t), i) => c.cast(t).as(s"_$i") }: _*))
    org.apache.spark.sql.graft.Bridge.column(InSet(child, rows.map(toCatalyst).toSet))
  }
}

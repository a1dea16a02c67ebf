package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for cosine similarity over
  * `ArrayType(FloatType)` — the hot inner loop of the similarity-search
  * operators.
  *
  * Why an Expression and not the `zip_with`+`aggregate` composition in
  * [[graft.functions.Vectors]]: the HOF form materializes an intermediate
  * product array per row and walks three lambdas; this generates a single
  * fused loop over the two unsafe arrays with no allocation, and it stays
  * inside whole-stage codegen. Numerics are bit-identical to the HOF form:
  * per-element products accumulate sequentially in double, each of the
  * three accumulators in the same order ([[CosineSimExpr.cosine]]).
  */
case class CosineSimExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_sim"

  /** Element accessor per side — float and double arrays both supported
    * (embeddings are float32; trained centroids are double).
    */
  private def elemIsDouble(e: Expression): Boolean = e.dataType match {
    case org.apache.spark.sql.types.ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = CosineSimExpr.cosine(
    a.asInstanceOf[ArrayData], elemIsDouble(left), b.asInstanceOf[ArrayData], elemIsDouble(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (ld, rd) = (elemIsDouble(left), elemIsDouble(right))
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.CosineSimExpr.cosine($a, $ld, $b, $rd)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimExpr {

  /** The one cosine: interpreted eval, generated code and the graph-ANN
    * kernels ([[graft.llm.GraphKernels]]) all call it, so they agree to
    * the bit. Per-element products accumulate sequentially in double,
    * each of the three accumulators in element order. NOT named `eval`
    * (see [[LshBucketExpr.lshBucket]]).
    */
  def cosine(x: ArrayData, xDouble: Boolean, y: ArrayData, yDouble: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = if (xDouble) x.getDouble(i) else x.getFloat(i).toDouble
      val yi = if (yDouble) y.getDouble(i) else y.getFloat(i).toDouble
      dot += xi * yi
      nx += xi * xi
      ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }
}

/** Squared L2 distance as a native expression — the PQ/ADC hot loop
  * (assignment distances and query distance tables both evaluate it per
  * (subvector, centroid) pair). Bit-identical to the
  * `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0.0, acc+x)` HOF
  * composition (sequential accumulation, same element order), but one
  * fused loop with no intermediate array. Every generated local gets a
  * fresh name: the expression can occur several times inside one
  * generated projection, and fixed names collide ("Redefinition of local
  * variable"), which silently downgrades the projection to interpreter
  * mode.
  */
case class L2SqExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "l2_sq"

  private def elemIsDouble(e: Expression): Boolean = e.dataType match {
    case org.apache.spark.sql.types.ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val ld = elemIsDouble(left)
    val rd = elemIsDouble(right)
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xi = if (ld) x.getDouble(i) else x.getFloat(i).toDouble
      val yi = if (rd) y.getDouble(i) else y.getFloat(i).toDouble
      val d = xi - yi
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsDouble(left)) "getDouble" else "getFloat"
    val rGet = if (elemIsDouble(right)) "getDouble" else "getFloat"
    val (n, acc, i, d) =
      (ctx.freshName("n"), ctx.freshName("acc"), ctx.freshName("i"), ctx.freshName("d"))
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => s"""
        |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |double $acc = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  double $d = (double) $a.$lGet($i) - (double) $b.$rGet($i);
        |  $acc += $d * $d;
        |}
        |${ev.value} = $acc;
        |""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Random-hyperplane LSH bucket as a native expression: `planes` sign bits
  * of deterministic pseudo-random projections packed into a long. The
  * weights are the same integer mix as [[graft.functions.Vectors.lshBucket]]
  * (w(p,i) = ((1103515245*(p*dims+i)+12345) mod 65536) - 32768) but fused
  * into one loop — the Column-composition form builds a ~planes*dims-node
  * expression tree that overwhelms codegen.
  */
case class LshBucketExpr(child: Expression, planes: Int, dims: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lsh_bucket"

  /** Like CosineSimExpr: dispatch on the array element type — getFloat on
    * a double-backed unsafe array reads half a slot of garbage.
    */
  private def elemIsDouble: Boolean = child.dataType match {
    case org.apache.spark.sql.types.ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any): Any =
    LshBucketExpr.lshBucket(a.asInstanceOf[ArrayData], planes, dims, elemIsDouble)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.LshBucketExpr.lshBucket($a, $planes, $dims, $elemIsDouble)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object LshBucketExpr {

  /** Static evaluation entry for generated code (keeps the codegen'd method
    * tiny; the loop JITs the same either way).
    *
    * NOT named `eval`: the companion case class inherits `eval(InternalRow)`
    * from Expression, and scalac suppresses static forwarders for object
    * methods whose name already exists on the class — generated Java then
    * resolves `LshBucketExpr.eval(...)` to the wrong method, fails to
    * janino-compile, and the projection silently runs interpreted.
    */
  def lshBucket(v: ArrayData, planes: Int, dims: Int, elemIsDouble: Boolean): Long = {
    val n = math.min(dims, v.numElements())
    var bucket = 0L
    var p = 0
    while (p < planes) {
      var proj = 0.0
      var i = 0
      while (i < n) {
        val w = (((1103515245L * (p * dims + i) + 12345L) % 65536L) - 32768L).toDouble
        val x = if (elemIsDouble) v.getDouble(i) else v.getFloat(i).toDouble
        proj += x * w
        i += 1
      }
      if (proj > 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }
}

/** Portable 60-bit text hash, fused: md5 → first 60 bits as a positive
  * long, equal by construction to `conv(substr(md5(s),1,15),16,10)` (the
  * first 15 hex chars are the first 7.5 digest bytes: big-endian first 8
  * bytes >>> 4) but without materializing the hex string or parsing it
  * back. Used by every shingle/minhash/simhash pipeline.
  */
case class Md5Prefix60Expr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "md5_prefix60"

  override def nullSafeEval(a: Any): Any =
    Md5Prefix60Expr.hash60(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.Md5Prefix60Expr.hash60($a)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object Md5Prefix60Expr {

  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** NOT named `eval` — see [[LshBucketExpr.lshBucket]]: a same-named class
    * member suppresses the static forwarder the generated code needs.
    */
  def hash60(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var acc = 0L
    var i = 0
    while (i < 8) { acc = (acc << 8) | (d(i) & 0xffL); i += 1 }
    acc >>> 4
  }
}

object VectorExpressions {

  /** Column API for the native cosine. */
  def cosineSim(a: Column, b: Column): Column =
    Bridge.column(CosineSimExpr(Bridge.expression(a), Bridge.expression(b)))

  /** Column API for the native squared-L2 distance. */
  def l2Sq(a: Column, b: Column): Column =
    Bridge.column(L2SqExpr(Bridge.expression(a), Bridge.expression(b)))

  /** Column API for the native LSH bucket. */
  def lshBucket(v: Column, planes: Int, dims: Int): Column =
    Bridge.column(LshBucketExpr(Bridge.expression(v), planes, dims))

  /** Column API for the native md5-prefix hash. */
  def md5Prefix60(c: Column): Column =
    Bridge.column(Md5Prefix60Expr(Bridge.expression(c)))
}

package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast,
  Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType,
  IntegerType, StringType}
import graft.core.IpCodec

/** Native Catalyst expression for the convip encode codec (C4/C5,
  * /root/reference/fstpy/std_enc.py:68-118). The encode needs a
  * mantissa-normalization loop, so it can't be a pure Column formula —
  * but as a codegen'd static call it stays inside whole-stage codegen
  * with primitive (unboxed) arguments, unlike a Scala UDF which costs
  * an Any-boxed function dispatch plus null-handling wrappers per row.
  *
  * Inputs must already be (FloatType, IntegerType); the registered
  * builder ([[GraftFunctions.install]]) inserts casts.
  */
case class EncodeIpExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_encode_ip"

  override protected def nullSafeEval(v: Any, k: Any): Any =
    IpCodec.encode(v.asInstanceOf[Float], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, k) => s"graft.core.IpCodec.encode($v, $k)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): EncodeIpExpr =
    copy(left = newLeft, right = newRight)
}

/** Native CONVIP decode, split into its value and kind halves so each
  * is one unboxed static call in generated code. These are the
  * catalog's only ip decode (`IpColumns.decodeValue` / `decodeKind`
  * return them); SQL users get the same codec without any Scala:
  * `SELECT graft_decode_ip_value(ip1), ...`.
  */
case class DecodeIpValueExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = FloatType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_decode_ip_value"
  override protected def nullSafeEval(ip: Any): Any =
    IpCodec.decodeValue(ip.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, ip => s"graft.core.IpCodec.decodeValue($ip)")
  override protected def withNewChildInternal(
      newChild: Expression): DecodeIpValueExpr = copy(child = newChild)
}

case class DecodeIpKindExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_decode_ip_kind"
  override protected def nullSafeEval(ip: Any): Any =
    IpCodec.decodeKind(ip.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, ip => s"graft.core.IpCodec.decodeKind($ip)")
  override protected def withNewChildInternal(
      newChild: Expression): DecodeIpKindExpr = copy(child = newChild)
}

/** Registration of graft's native expressions into a session's
  * function registry — works on any session, including one built by a
  * host application without graft's involvement.
  */
object GraftFunctions {

  /** Builders shared by per-session [[install]] and the
    * [[GraftExtensions]] injection path.
    */
  private[functions] val encodeIpBuilder
      : Seq[Expression] => Expression =
    exprs => EncodeIpExpr(
      Cast(exprs.head, FloatType), Cast(exprs(1), IntegerType))
  private[functions] val decodeIpValueBuilder
      : Seq[Expression] => Expression =
    exprs => DecodeIpValueExpr(Cast(exprs.head, IntegerType))
  private[functions] val decodeIpKindBuilder
      : Seq[Expression] => Expression =
    exprs => DecodeIpKindExpr(Cast(exprs.head, IntegerType))

  private[functions] val shingleSigBuilder
      : Seq[Expression] => Expression =
    exprs => ShingleSigExpr(
      Cast(exprs.head, org.apache.spark.sql.types.StringType))

  /** (d, from_name, from_factor, to_name, to_factor); the target unit
    * must be constant, since the kernel resolves its branch per row.
    */
  private[functions] val unitConvertBuilder
      : Seq[Expression] => Expression = exprs => {
    require(exprs.length == 5,
      s"graft_unit_convert takes 5 arguments, got ${exprs.length}")
    val Seq(d, fromName, fromFactor, toName, toFactor) = exprs
    require(toName.foldable && toFactor.foldable && toName.eval() != null,
      "graft_unit_convert: to_name and to_factor must be constants")
    UnitConvertExpr(d, Cast(fromName, StringType),
      Cast(fromFactor, DoubleType), toName.eval().toString,
      Cast(toFactor, DoubleType).eval().asInstanceOf[Double])
  }

  private[functions] val all: Seq[(String, Seq[Expression] => Expression,
      Class[_])] = Seq(
    ("graft_encode_ip", encodeIpBuilder, classOf[EncodeIpExpr]),
    ("graft_decode_ip_value", decodeIpValueBuilder,
      classOf[DecodeIpValueExpr]),
    ("graft_decode_ip_kind", decodeIpKindBuilder,
      classOf[DecodeIpKindExpr]),
    ("graft_shingle_sig", shingleSigBuilder, classOf[ShingleSigExpr]),
    ("graft_dot",
      // no casts: DotProductExpr accepts float/double arrays as-is
      // (a blanket cast to array<double> would change nothing
      // numerically — dot casts per element — but would widen the
      // scan schema for float embeddings)
      exprs => DotProductExpr(exprs.head, exprs(1)),
      classOf[DotProductExpr]),
    ("graft_jaccard_long",
      // cast to array<long>: compute() reads elements via getLong, and
      // an UNCAST array<int> argument from SQL would be read as
      // misaligned 8-byte words — silent garbage, not an error
      exprs => JaccardLongExpr(
        Cast(exprs.head, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)),
        Cast(exprs(1), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType))),
      classOf[JaccardLongExpr]),
    ("graft_fststat",
      // no cast, like graft_dot: the kernel reads float and double
      // arrays as they are
      exprs => FstStatExpr(exprs.head), classOf[FstStatExpr]),
    ("graft_cube",
      // an aggregate: the analyzer wraps it in an AggregateExpression
      exprs => {
        require(exprs.length == 4,
          s"graft_cube takes 4 arguments, got ${exprs.length}")
        CubeStack(exprs.head, exprs(1), exprs(2), exprs(3))
      }, classOf[CubeStack]),
    ("graft_unit_convert", unitConvertBuilder, classOf[UnitConvertExpr]))

  /** Registers every native function on `spark`, unless it has them
    * all already (re-registering each one logs a warning, and a
    * streaming loop installs on every micro-batch).
    */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!all.forall(f => registry.functionExists(
        new org.apache.spark.sql.catalyst.FunctionIdentifier(f._1))))
      all.foreach { case (name, builder, _) =>
        registry.createOrReplaceTempFunction(name, builder, "scala_udf")
      }
  }

  /** (value, kind) -> new-style ip as a Column, via the native
    * expression (installs it on the active session on first use).
    */
  def encodeIp(value: Column, kind: Column): Column = {
    SparkSession.getActiveSession.foreach(install)
    call_function("graft_encode_ip", value, kind)
  }

  /** ip -> decoded value / kind as Columns, via the native expressions
    * (install them on the active session on first use).
    */
  def decodeIpValue(ip: Column): Column = {
    SparkSession.getActiveSession.foreach(install)
    call_function("graft_decode_ip_value", ip)
  }

  def decodeIpKind(ip: Column): Column = {
    SparkSession.getActiveSession.foreach(install)
    call_function("graft_decode_ip_kind", ip)
  }

  /** text -> struct(sh: array<long>, bks: array<string>) via the fused
    * native LSH kernel (installs it on the active session on first use).
    */
  def shingleSig(text: Column): Column = {
    SparkSession.getActiveSession.foreach(install)
    call_function("graft_shingle_sig", text)
  }

  /** Dot product of two float/double array columns via the native
    * codegen kernel (bit-identical to the HOF form it replaces).
    */
  def dot(a: Column, b: Column): Column = {
    SparkSession.getActiveSession.foreach(install)
    call_function("graft_dot", a, b)
  }

  /** fststat's per-record statistics of a float/double array column in
    * one pass: `struct(min, max, sum, sumsq, min_pos, max_pos)`
    * ([[FstStat]]).
    */
  def fstStat(a: Column): Column = {
    SparkSession.getActiveSession.foreach(install)
    call_function("graft_fststat", a)
  }

  /** Aggregate: the group's cube, `struct(keys, cube)`, stacking the
    * minimum-`rid` payload `d` of each distinct `key`, keys ascending
    * or, when `ascending` is false or null, descending ([[CubeStack]]).
    */
  def cube(key: Column, rid: Column, d: Column, ascending: Column): Column = {
    SparkSession.getActiveSession.foreach(install)
    call_function("graft_cube", key, rid, d, ascending)
  }

  /** Per-element conversion of payload `d` from the row's unit
    * (`fromName`, `fromFactor`) to the constant target unit, via the
    * native codegen kernel (bit-identical to the `transform` form).
    */
  def unitConvert(d: Column, fromName: Column, fromFactor: Column,
                  toName: String, toFactor: Double): Column = {
    SparkSession.getActiveSession.foreach(install)
    call_function("graft_unit_convert", d, fromName, fromFactor,
      lit(toName), lit(toFactor))
  }

  /** Exact Jaccard of two distinct-element long arrays via the native
    * primitive-hash kernel.
    */
  def jaccardLong(a: Column, b: Column): Column = {
    SparkSession.getActiveSession.foreach(install)
    call_function("graft_jaccard_long", a, b)
  }
}

/** Config-only enablement: a host application sets
  * `spark.sql.extensions=graft.functions.GraftExtensions` and every
  * session of the application gets graft's native functions injected
  * at build time — no code call into graft required. (The programmatic
  * [[GraftFunctions.install]] stays available for sessions built
  * without the config.)
  */
class GraftExtensions
    extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(
      ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, builder, cls) =>
      ext.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          cls.getName, name),
        builder))
    }
}

package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression,
  GenericInternalRow, TernaryExpression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType,
  FloatType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd per-record payload kernels for fststat and unit_convert.
  *
  * Spark's higher-order functions (`aggregate`, `transform`) are
  * `CodegenFallback`: whole-stage codegen stops at them, and every
  * payload element is boxed and run through an interpreted lambda.
  * These kernels are single static calls over the `ArrayData` buffer
  * instead, each bit-identical to the HOF form it replaced.
  */
private[functions] object PayloadKernels {
  def isFloatArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  def checkFloatingArray(name: String, t: DataType): TypeCheckResult =
    t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$name requires an array<float>/array<double> argument, " +
          s"got ${t.sql}")
    }
}

/** The per-record statistics of fststat in one pass over a
  * float/double array: `struct(min, max, sum, sumsq, min_pos, max_pos)`.
  *
  *  - `min`/`max` equal `array_min`/`array_max`: null elements are
  *    skipped, NaN is the largest value (`SQLOrderingUtil`; widening a
  *    float keeps its order), the first of equal values is kept, and
  *    both are null when no element is non-null.
  *  - `sum`/`sumsq` equal `aggregate(a, 0.0, (acc, x) => acc +
  *    x.cast(double))` and `graft_dot(a, a)`: left folds in DOUBLE
  *    from 0.0 (an empty array sums to 0.0), null if any element is
  *    null.
  *  - `min_pos`/`max_pos` equal `array_position(a, min)` and
  *    `array_position(a, max)`: the 1-based index of the first element
  *    holding that value, null when `min`/`max` is null.
  */
object FstStat {
  def compute(a: ArrayData, isFloat: Boolean): InternalRow = {
    val n = a.numElements()
    var sum = 0.0
    var sumsq = 0.0
    var anyNull = false
    var lo = 0.0
    var hi = 0.0
    var loAt = -1
    var hiAt = -1
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) anyNull = true
      else {
        val v = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        if (loAt < 0 || SQLOrderingUtil.compareDoubles(v, lo) < 0) {
          lo = v; loAt = i
        }
        if (hiAt < 0 || SQLOrderingUtil.compareDoubles(v, hi) > 0) {
          hi = v; hiAt = i
        }
        sum += v
        sumsq += v * v
      }
      i += 1
    }
    // the extremes are read back from the array, so they keep its bits
    def at(j: Int): Any =
      if (j < 0) null else if (isFloat) a.getFloat(j) else a.getDouble(j)
    def pos(j: Int): Any = if (j < 0) null else j + 1L
    new GenericInternalRow(Array[Any](at(loAt), at(hiAt),
      if (anyNull) null else sum, if (anyNull) null else sumsq,
      pos(loAt), pos(hiAt)))
  }
}

/** `graft_fststat(a)` → `struct(min, max, sum, sumsq, min_pos,
  * max_pos)`, for float/double arrays ([[FstStat]]).
  */
case class FstStatExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    PayloadKernels.checkFloatingArray(prettyName, child.dataType)

  private def elementType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def dataType: DataType = StructType(Seq(
    StructField("min", elementType), StructField("max", elementType),
    StructField("sum", DoubleType), StructField("sumsq", DoubleType),
    StructField("min_pos", LongType), StructField("max_pos", LongType)))
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_fststat"

  private def isFloat = PayloadKernels.isFloatArray(child.dataType)

  override protected def nullSafeEval(a: Any): Any =
    FstStat.compute(a.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.FstStat.compute($a, $isFloat);")

  override protected def withNewChildInternal(
      newChild: Expression): FstStatExpr = copy(child = newChild)
}

/** Per-element unit conversion of a payload to a fixed target unit.
  *
  * Reproduces, element by element, the Column formula unit_convert
  * used inside `transform` (kept as the test oracle):
  *
  * {{{
  * v    = x.cast(double)
  * temp = the temperature special case for (from, to), else null
  * out  = coalesce(temp, v * (fromFactor / toFactor)).cast(float)
  * }}}
  *
  * with the same double operations in the same order, so the result is
  * bit-identical to it and to its DuckDB twin
  * ([[graft.ops.UnitConvert.formulaSql]]). Null propagation is
  * per element: a null element converts to null, and a null
  * `fromFactor` nulls every element whose branch multiplies by it (the
  * linear form and the three from-rankine cases). A null `fromName`
  * matches no temperature case, so it takes the linear form.
  */
object UnitKernel {
  // branches: the linear form, then (from, to) temperature cases
  private final val Linear = 0
  private final val CelsiusToKelvin = 1
  private final val FahrenheitToKelvin = 2
  private final val RankineToKelvin = 3
  private final val KelvinToCelsius = 4
  private final val FahrenheitToCelsius = 5
  private final val RankineToCelsius = 6
  private final val KelvinToFahrenheit = 7
  private final val CelsiusToFahrenheit = 8
  private final val RankineToFahrenheit = 9
  private final val KelvinToRankine = 10
  private final val CelsiusToRankine = 11
  private final val FahrenheitToRankine = 12

  private def branch(from: String, to: String): Int = (from, to) match {
    case ("celsius", "kelvin") => CelsiusToKelvin
    case ("fahrenheit", "kelvin") => FahrenheitToKelvin
    case ("rankine", "kelvin") => RankineToKelvin
    case ("kelvin", "celsius") => KelvinToCelsius
    case ("fahrenheit", "celsius") => FahrenheitToCelsius
    case ("rankine", "celsius") => RankineToCelsius
    case ("kelvin", "fahrenheit") => KelvinToFahrenheit
    case ("celsius", "fahrenheit") => CelsiusToFahrenheit
    case ("rankine", "fahrenheit") => RankineToFahrenheit
    case ("kelvin", "rankine") => KelvinToRankine
    case ("celsius", "rankine") => CelsiusToRankine
    case ("fahrenheit", "rankine") => FahrenheitToRankine
    case _ => Linear
  }

  private def usesFromFactor(b: Int): Boolean =
    b == Linear || b == RankineToKelvin || b == RankineToCelsius ||
      b == RankineToFahrenheit

  /** `a` converted from `fromName` (null = no temperature case) with
    * `fromFactor` (null = unknown) to `toName`/`toFactor`.
    */
  def convert(a: ArrayData, isFloat: Boolean, fromName: UTF8String,
              fromFactor: java.lang.Double, toName: String,
              toFactor: Double): ArrayData = {
    val b = if (fromName == null) Linear
            else branch(fromName.toString, toName)
    val allNull = fromFactor == null && usesFromFactor(b)
    val ff = if (fromFactor == null) 0.0 else fromFactor.doubleValue
    val ratio = ff / toFactor
    val n = a.numElements()
    val out = UnsafeArrayData.createFreshArray(n, 4)
    var i = 0
    while (i < n) {
      if (allNull || a.isNullAt(i)) out.setNullAt(i)
      else {
        val v = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        val r = b match {
          case Linear => v * ratio
          case CelsiusToKelvin => v + 273.15
          case FahrenheitToKelvin => (v - 32) * 5 / 9 + 273.15
          case RankineToKelvin => v * ff
          case KelvinToCelsius => v - 273.15
          case FahrenheitToCelsius => (v - 32) * 5 / 9
          case RankineToCelsius => v * ff - 273.15
          case KelvinToFahrenheit => (v - 273.15) * 9 / 5 + 32
          case CelsiusToFahrenheit => v * 9 / 5 + 32
          case RankineToFahrenheit => (v * ff - 273.15) * 9 / 5 + 32
          case KelvinToRankine => v / toFactor
          case CelsiusToRankine => (v + 273.15) / toFactor
          case FahrenheitToRankine => ((v - 32) * 5 / 9 + 273.15) / toFactor
        }
        out.setFloat(i, r.toFloat)
      }
      i += 1
    }
    out
  }
}

/** `graft_unit_convert(d, from_name, from_factor, to_name, to_factor)`
  * → array<float>; `to_name`/`to_factor` are constants of the plan.
  *
  * Only the payload is null-intolerant (a null array converts to
  * null). A null from-unit name or factor is handed to the kernel,
  * which resolves it per element as the Column formula's
  * `when`/`coalesce` chain did, so this expression cannot use
  * `nullSafeCodeGen` over all three children.
  */
case class UnitConvertExpr(d: Expression, fromName: Expression,
                           fromFactor: Expression, toName: String,
                           toFactor: Double) extends TernaryExpression {
  require(toFactor != 0.0 && java.lang.Double.isFinite(toFactor),
    s"graft_unit_convert: target factor $toFactor of $toName is not " +
      "a finite non-zero number")

  override def first: Expression = d
  override def second: Expression = fromName
  override def third: Expression = fromFactor

  override def checkInputDataTypes(): TypeCheckResult = {
    val arr = PayloadKernels.checkFloatingArray(prettyName, d.dataType)
    if (arr.isFailure) arr
    else if (fromName.dataType != StringType ||
             fromFactor.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, double) from-unit arguments, " +
          s"got ${fromName.dataType.sql} and ${fromFactor.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = ArrayType(FloatType, containsNull = true)
  override def nullable: Boolean = d.nullable
  override def prettyName: String = "graft_unit_convert"

  private def isFloat = PayloadKernels.isFloatArray(d.dataType)

  override def eval(input: InternalRow): Any = {
    val a = d.eval(input)
    if (a == null) null
    else UnitKernel.convert(a.asInstanceOf[ArrayData], isFloat,
      fromName.eval(input).asInstanceOf[UTF8String],
      fromFactor.eval(input).asInstanceOf[java.lang.Double],
      toName, toFactor)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val a = d.genCode(ctx)
    val name = fromName.genCode(ctx)
    val factor = fromFactor.genCode(ctx)
    val to = ctx.addReferenceObj("toName", toName)
    ev.copy(code = code"""
      ${a.code}
      boolean ${ev.isNull} = ${a.isNull};
      ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${name.code}
        ${factor.code}
        ${ev.value} = graft.functions.UnitKernel.convert(${a.value},
          $isFloat, ${name.isNull} ? null : ${name.value},
          ${factor.isNull} ? null
            : java.lang.Double.valueOf(${factor.value}),
          $to, ${toFactor}D);
      }
      """)
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): UnitConvertExpr =
    copy(d = newFirst, fromName = newSecond, fromFactor = newThird)
}

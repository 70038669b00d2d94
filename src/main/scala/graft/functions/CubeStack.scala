package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression,
  UnsafeArrayData, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.QuaternaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData,
  TypeUtils}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType,
  FloatType, StructField, StructType}
import org.apache.spark.unsafe.Platform

/** One layer of a cube: the rid and payload of its representative
  * (minimum-rid) record. `d` is owned by the buffer; null when that
  * record's payload is null.
  */
final class CubeLayer(var rid: Any, var d: UnsafeArrayData)

/** The buffer of [[CubeStack]]: one layer per stack key, keys held in
  * Spark's ordering of their type (the null key apart), and the
  * group's stacking direction.
  */
final class CubeBuffer(ordering: Ordering[Any]) {
  val layers = new java.util.TreeMap[Any, CubeLayer](ordering)
  var nullLayer: CubeLayer = _
  var ascending = true

  def isEmpty: Boolean = nullLayer == null && layers.isEmpty
  def size: Int = layers.size + (if (nullLayer == null) 0 else 1)

  def get(key: Any): CubeLayer =
    if (key == null) nullLayer else layers.get(key)

  def put(key: Any, layer: CubeLayer): Unit =
    if (key == null) nullLayer = layer else layers.put(key, layer)

  /** (key, layer) pairs, null key first, then keys ascending. */
  def sorted: Array[(Any, CubeLayer)] = {
    val out = new Array[(Any, CubeLayer)](size)
    var i = 0
    if (nullLayer != null) { out(0) = (null, nullLayer); i = 1 }
    val it = layers.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      out(i) = (e.getKey, e.getValue)
      i += 1
    }
    out
  }
}

/** `graft_cube(key, rid, d, ascending)` → `struct(keys, cube)`, the
  * aggregate behind [[graft.ops.Cubes]].
  *
  * Per group it keeps, for each distinct stack `key`, the `(rid, d)`
  * of the record with the minimum `rid`, and stacks those payloads
  * into one Fortran-ordered cube. It replaces a `min_by` pick per key
  * followed by `sort_array(collect_list(struct(key, d)))`, `reverse`
  * for descending kinds, `transform` and `flatten`, and returns the
  * same values:
  *
  *  - keys group as `groupBy` groups them: by Spark's ordering of the
  *    key type, with NaN equal to NaN, -0.0 equal to 0.0 (floating
  *    keys are normalised to NaN / 0.0, as a grouping key is) and all
  *    null keys in one group;
  *  - `keys` is sorted ascending, nulls first, and reversed when the
  *    group's `ascending` is false or null (read from the group's
  *    first row: it is a function of the grouping keys);
  *  - `cube` concatenates the layers' payloads in that order, each
  *    with one memory copy, and is null when any chosen `d` is null;
  *  - a null rid fails the query, since the pick needs a unique
  *    non-null record id.
  *
  * The buffer is a typed object, so Spark plans an
  * ObjectHashAggregate: duplicate records are dropped by the partial
  * aggregate before the one exchange, and only one payload per key
  * crosses it.
  */
case class CubeStack(key: Expression, rid: Expression, d: Expression,
                     ascending: Expression,
                     mutableAggBufferOffset: Int = 0,
                     inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CubeBuffer]
    with QuaternaryLike[Expression] {

  override def first: Expression = key
  override def second: Expression = rid
  override def third: Expression = d
  override def fourth: Expression = ascending

  override def prettyName: String = "graft_cube"
  override def nullable: Boolean = false

  override def dataType: DataType = StructType(Seq(
    StructField("keys", ArrayType(key.dataType, key.nullable),
      nullable = false),
    StructField("cube", d.dataType, nullable = true)))

  override def checkInputDataTypes(): TypeCheckResult = {
    val keyOk = TypeUtils.checkForOrderingExpr(key.dataType, prettyName)
    val ridOk = TypeUtils.checkForOrderingExpr(rid.dataType, prettyName)
    if (keyOk.isFailure) keyOk
    else if (ridOk.isFailure) ridOk
    else (d.dataType, ascending.dataType) match {
      case (ArrayType(FloatType, _), BooleanType) =>
        TypeCheckResult.TypeCheckSuccess
      case (dt, at) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<float> payload and a boolean " +
          s"direction, got ${dt.sql} and ${at.sql}")
    }
  }

  @transient private lazy val keyOrdering =
    TypeUtils.getInterpretedOrdering(key.dataType)
  @transient private lazy val ridOrdering =
    TypeUtils.getInterpretedOrdering(rid.dataType)
  /** (key, rid) of a layer as an UnsafeRow, for [[serialize]]. */
  @transient private lazy val headProjection =
    UnsafeProjection.create(Array(key.dataType, rid.dataType))

  override def createAggregationBuffer(): CubeBuffer =
    new CubeBuffer(keyOrdering)

  /** A grouping key's value: floating NaN and -0.0 normalised. */
  private def normalized(k: Any): Any = k match {
    case f: java.lang.Float =>
      if (f.isNaN) Float.NaN else if (f == -0.0f) 0.0f else f
    case x: java.lang.Double =>
      if (x.isNaN) Double.NaN else if (x == -0.0) 0.0 else x
    case other => InternalRow.copyValue(other)
  }

  private def owned(a: ArrayData): UnsafeArrayData = a match {
    case null => null
    case u: UnsafeArrayData => u.copy()
    case g =>
      val n = g.numElements()
      val u = UnsafeArrayData.createFreshArray(n, 4)
      var i = 0
      while (i < n) {
        if (g.isNullAt(i)) u.setNullAt(i) else u.setFloat(i, g.getFloat(i))
        i += 1
      }
      u
  }

  override def update(buffer: CubeBuffer, input: InternalRow): CubeBuffer = {
    val r = rid.eval(input)
    if (r == null) throw new IllegalArgumentException(
      "to_cube: a record has a null rid; the representative pick " +
        "needs a unique non-null record id")
    if (buffer.isEmpty) buffer.ascending = ascending.eval(input) == true
    val k = normalized(key.eval(input))
    val cur = buffer.get(k)
    if (cur == null) buffer.put(k, new CubeLayer(InternalRow.copyValue(r),
      owned(d.eval(input).asInstanceOf[ArrayData])))
    else if (ridOrdering.lt(r, cur.rid)) {
      cur.rid = InternalRow.copyValue(r)
      cur.d = owned(d.eval(input).asInstanceOf[ArrayData])
    }
    buffer
  }

  override def merge(buffer: CubeBuffer, other: CubeBuffer): CubeBuffer =
    if (buffer.isEmpty) other
    else {
      for ((k, l) <- other.sorted) {
        val cur = buffer.get(k)
        if (cur == null || ridOrdering.lt(l.rid, cur.rid)) buffer.put(k, l)
      }
      buffer
    }

  override def eval(buffer: CubeBuffer): Any = {
    val sorted = buffer.sorted
    val layers = if (buffer.ascending) sorted else sorted.reverse
    InternalRow(new GenericArrayData(layers.map(_._1)),
      CubeStack.stack(layers.map(_._2.d)))
  }

  /** `[ascending: byte][layers: int]`, then per layer
    * `[head bytes: int][(key, rid) UnsafeRow][d bytes: int, -1 = null][d]`.
    */
  override def serialize(buffer: CubeBuffer): Array[Byte] = {
    val layers = buffer.sorted
    val heads = layers.map { case (k, l) =>
      headProjection(InternalRow(k, l.rid)).copy()
    }
    var size = 5L
    var i = 0
    while (i < layers.length) {
      val d = layers(i)._2.d
      size += 8L + heads(i).getSizeInBytes +
        (if (d == null) 0 else d.getSizeInBytes)
      i += 1
    }
    require(size <= Int.MaxValue - 8,
      s"graft_cube: a cube buffer of $size bytes cannot be serialized")
    val out = new Array[Byte](size.toInt)
    var at = Platform.BYTE_ARRAY_OFFSET.toLong
    Platform.putByte(out, at, (if (buffer.ascending) 1 else 0).toByte)
    Platform.putInt(out, at + 1, layers.length)
    at += 5
    i = 0
    while (i < layers.length) {
      val h = heads(i)
      Platform.putInt(out, at, h.getSizeInBytes)
      h.writeToMemory(out, at + 4)
      at += 4 + h.getSizeInBytes
      val d = layers(i)._2.d
      if (d == null) { Platform.putInt(out, at, -1); at += 4 }
      else {
        Platform.putInt(out, at, d.getSizeInBytes)
        d.writeToMemory(out, at + 4)
        at += 4 + d.getSizeInBytes
      }
      i += 1
    }
    out
  }

  /** The inverse of [[serialize]]. Keys, rids and payloads point into
    * `bytes`, which the buffer then owns (Spark hands each call an
    * array of its own).
    */
  override def deserialize(bytes: Array[Byte]): CubeBuffer = {
    val buffer = createAggregationBuffer()
    var at = Platform.BYTE_ARRAY_OFFSET.toLong
    buffer.ascending = Platform.getByte(bytes, at) != 0
    val n = Platform.getInt(bytes, at + 1)
    at += 5
    var i = 0
    while (i < n) {
      val hn = Platform.getInt(bytes, at)
      val head = new UnsafeRow(2)
      head.pointTo(bytes, at + 4, hn)
      at += 4 + hn
      val dn = Platform.getInt(bytes, at)
      val d = if (dn < 0) null else {
        val a = new UnsafeArrayData
        a.pointTo(bytes, at + 4, dn)
        a
      }
      at += 4 + math.max(dn, 0)
      val k = if (head.isNullAt(0)) null else head.get(0, key.dataType)
      buffer.put(k, new CubeLayer(head.get(1, rid.dataType), d))
      i += 1
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(offset: Int): CubeStack =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): CubeStack =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): CubeStack =
    copy(key = newFirst, rid = newSecond, d = newThird,
      ascending = newFourth)
}

object CubeStack {
  private def header(n: Long): Long =
    UnsafeArrayData.calculateHeaderPortionInBytes(n)

  /** Whether any element of `a` is null: a scan of its null bitmap. */
  private def hasNull(a: UnsafeArrayData): Boolean = {
    val words = (header(a.numElements()) - 8) / 8
    var w = 0L
    while (w < words) {
      if (Platform.getLong(a.getBaseObject, a.getBaseOffset + 8 + w * 8) != 0)
        return true
      w += 1
    }
    false
  }

  /** The layers' payloads concatenated into one preallocated
    * array<float>, one copy per layer; null when any layer is null.
    */
  def stack(layers: Array[UnsafeArrayData]): ArrayData = {
    if (layers.contains(null)) return null
    val total = layers.iterator.map(_.numElements().toLong).sum
    require(total <= Int.MaxValue - 15,
      s"graft_cube: a cube of $total elements exceeds the array limit")
    val out = UnsafeArrayData.createFreshArray(total.toInt, 4)
    val outValues = out.getBaseOffset + header(total)
    var at = 0
    for (l <- layers) {
      val n = l.numElements()
      Platform.copyMemory(l.getBaseObject, l.getBaseOffset + header(n),
        out.getBaseObject, outValues + at * 4L, n * 4L)
      if (hasNull(l)) {
        var j = 0
        while (j < n) {
          if (l.isNullAt(j)) out.setNullAt(at + j)
          j += 1
        }
      }
      at += n
    }
    out
  }
}

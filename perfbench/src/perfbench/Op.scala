package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.expressions.XXH64

/** One operation of a workload's cycle.
  *
  * `timed` is the part the clock covers: it builds the result and
  * materializes all of it, and returns a thunk that collects what the
  * check needs (run after the clock stops). `verify` compares that
  * observation with the generator's ground truth and returns the first
  * mismatch. `records` is how many records the materialized result
  * carries.
  */
final case class Op(name: String, records: Long,
                    timed: () => (() => Op.Obs),
                    verify: Op.Obs => Option[String])

object Op {

  /** Observed values, canonicalized: each value is a String or a sorted
    * Seq[String], so ground truth can be written in the same form and
    * compared exactly.
    */
  type Obs = Map[String, Any]

  /** Materialize `df` in full with the `noop` sink, observing `metrics`
    * in the same pass (no second evaluation, and no column the sink
    * would not have produced anyway).
    */
  def noop(df: DataFrame, metrics: Seq[(String, Column)]): () => Obs = {
    val obs = new Observation()
    val cols = metrics.map { case (n, c) => c.as(n) }
    df.observe(obs, cols.head, cols.tail: _*)
      .write.format("noop").mode("overwrite").save()
    Trace.onFrame(df)
    () => obs.get.map { case (k, v) => k -> canon(v) }
  }

  def frameOp(name: String, records: Long, expected: Obs)(
      build: => DataFrame)(metrics: (String, Column)*): Op =
    Op(name, records, () => noop(build, metrics), against(expected))

  /** Render one observed value. Doubles and floats print their exact
    * shortest round-trip form, so equality of strings is equality of
    * values.
    */
  def canon(v: Any): Any = v match {
    case s: scala.collection.Seq[_] => s.map(field).sorted.toSeq
    case a: Array[_] => a.toSeq.map(field).sorted
    case x => field(x)
  }

  def field(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(field).mkString("|")
    case s: scala.collection.Seq[_] => s.map(field).mkString(",")
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case n: java.lang.Number => n.longValue.toString
    case x => x.toString
  }

  /** One expected row of a collected struct, rendered like [[field]]. */
  def row(xs: Any*): String = xs.map(field).mkString("|")

  def against(expected: Obs)(observed: Obs): Option[String] =
    expected.keys.toSeq.sorted.collectFirst {
      case k if observed.get(k) != expected.get(k) =>
        s"$k: expected ${excerpt(expected.get(k))}, " +
          s"got ${excerpt(observed.get(k))}"
    }.orElse {
      val extra = observed.keySet -- expected.keySet
      if (extra.isEmpty) None else Some(s"unexpected keys $extra")
    }

  private def excerpt(v: Option[Any]): String = v match {
    case Some(s: Seq[_]) =>
      s"${s.size} items [${s.take(3).mkString("; ")}${
        if (s.size > 3) "; ..." else ""}]"
    case Some(x) => x.toString
    case None => "nothing"
  }

  /** Sequential left fold in array order, as Spark's `aggregate` runs it. */
  def seqSum(xs: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < xs.length) { s += xs(i); i += 1 }
    s
  }

  /** Spark's `xxhash64` of an array<float> value: seed 42, elements
    * folded in order (pass the hash of one array as the seed of the
    * next to hash their concatenation). Spark maps -0.0 to 0.0 first;
    * generated payloads hold no negative zeros.
    */
  def hash32(xs: Array[Float], seed: Long = 42L): Long = {
    var h = seed
    var i = 0
    while (i < xs.length) {
      h = XXH64.hashInt(java.lang.Float.floatToIntBits(xs(i)), h)
      i += 1
    }
    h
  }

  /** Spark's `xxhash64` of an array<double> value. */
  def hash64(xs: Array[Double]): Long = {
    var h = 42L
    var i = 0
    while (i < xs.length) {
      h = XXH64.hashLong(java.lang.Double.doubleToLongBits(xs(i)), h)
      i += 1
    }
    h
  }
}

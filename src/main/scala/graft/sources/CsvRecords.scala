package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.IpCodec

/** S7/S9: CSV record-catalog source and sink
  * (/root/reference/fstpy/csv_reader.py:85-505,
  * /root/reference/fstpy/csv_writer.py:11-137).
  *
  * Payload cells are `"a,b;c,d"` strings (`;` rows = ni, `,` cols =
  * nj); the catalog stores the field Fortran-flattened. Missing
  * columns are defaulted (nbits 24, datyp 1, grtyp X, typvar X,
  * etiket CSVREADER, ip2/ip3/igs/deet/npas 0); `level` is encoded to
  * ip1 with kind 3 (arbitrary). Validation (nomvar/typvar/etiket
  * lengths, one (ni,nj) per record group) is folded into lazy
  * `raise_error` expressions so the scan stays a single pass.
  */
object CsvRecords {

  val Defaults: Map[String, Column] = Map(
    "nk" -> lit(1), "nbits" -> lit(24), "datyp" -> lit(1),
    "grtyp" -> lit("X"), "typvar" -> lit("X"),
    "etiket" -> lit("CSVREADER"), "ip2" -> lit(0), "ip3" -> lit(0),
    "ig1" -> lit(0), "ig2" -> lit(0), "ig3" -> lit(0), "ig4" -> lit(0),
    "deet" -> lit(0), "npas" -> lit(0))

  val AllowedColumns: Set[String] = Set(
    "nomvar", "typvar", "etiket", "ni", "nj", "nk", "dateo", "datev",
    "ip1", "ip2", "ip3", "deet", "npas", "datyp", "nbits", "grtyp",
    "ig1", "ig2", "ig3", "ig4", "level", "d")

  private def checkLen(c: Column, lo: Int, hi: Int, name: String): Column =
    when(length(c).between(lo, hi), c)
      .otherwise(raise_error(concat(lit(s"invalid $name length: "), c)))

  /** Read CSV files into the record catalog. `defaultDateo` stands in
    * for the reference's `utcnow` default so tests are deterministic.
    */
  def read(spark: SparkSession, path: String, encodeIp1: Boolean = true,
           defaultDateo: Long = 442998800L,
           validateDims: Boolean = true): DataFrame = {
    val raw = spark.read.option("header", "true").csv(path)
    val cols = raw.columns.toSet
    val unknown = cols.diff(AllowedColumns)
    require(unknown.isEmpty, s"invalid csv columns: $unknown")
    require(cols.contains("nomvar") && cols.contains("d"),
      "csv must have at least nomvar and d columns")
    require(cols.contains("level") || cols.contains("ip1"),
      "csv must have level or ip1")
    require(!(cols.contains("level") && cols.contains("ip1")),
      "csv cannot have both level and ip1")

    // defaults for missing columns
    var df = Defaults.foldLeft(raw) { case (d, (name, default)) =>
      if (cols.contains(name)) d else d.withColumn(name, default)
    }
    if (!cols.contains("dateo"))
      df = df.withColumn("dateo", lit(defaultDateo))
    if (!cols.contains("datev")) df = df.withColumn("datev", col("dateo"))

    // payload: "a,b;c,d" -> dims + Fortran-flat float array
    df = parsePayload(df)

    // level -> encoded ip1 (kind 3, CONVIP_ENCODE)
    if (cols.contains("level")) {
      df = df.withColumn("ip1",
        if (encodeIp1) graft.functions.GraftFunctions.encodeIp(
          col("level").cast("float"), lit(3))
        else col("level").cast("float").cast("int"))
        .drop("level")
    }

    // length validation, lazily raised
    df = df
      .withColumn("nomvar", checkLen(col("nomvar"), 2, 4, "nomvar"))
      .withColumn("typvar", checkLen(col("typvar"), 1, 2, "typvar"))
      .withColumn("etiket", checkLen(col("etiket"), 1, 12, "etiket"))

    // A6: one (ni,nj) per record group
    if (validateDims) {
      val gcols = Seq("nomvar", "typvar", "etiket", "dateo", "ip2",
        "ip3", "deet", "npas", "datyp", "nbits", "ig1", "ig2", "ig3",
        "ig4").map(col)
      val w = Window.partitionBy(gcols: _*)
      df = df
        .withColumn("ni", when(
          max(col("ni")).over(w) === min(col("ni")).over(w) &&
            max(col("nj")).over(w) === min(col("nj")).over(w), col("ni"))
          .otherwise(raise_error(
            lit("records in the same group have different dimensions"))))
    }

    val intCols = Seq("ni", "nj", "nk", "dateo", "datev", "ip1", "ip2",
      "ip3", "deet", "npas", "datyp", "nbits", "ig1", "ig2", "ig3", "ig4")
    intCols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("int")))
      .select(("nomvar" +: "typvar" +: "etiket" +: intCols.take(3)) ++
        intCols.drop(3) ++ Seq("grtyp", "d") map col: _*)
  }

  /** Parse the `"a,b;c,d"` payload string column `d` into ni/nj and
    * the Fortran-flat float array, in place. ONE implementation shared
    * by the batch CSV reader and the streaming record source, so the
    * two paths cannot diverge. A null, blank, ragged or non-numeric
    * payload fails the read with an error naming `d` and the row's
    * nomvar.
    *
    * The double-split `rows` array is LET-BOUND (PipelineOps.bind)
    * inside every expression that consumes it. Round-10 RCA of f21
    * (the suite's then-slowest query): a `rows` kept as a plain
    * projected column is re-INLINED by CollapseProject/pushdown into
    * the per-element lambda of `d` wherever the projection boundary
    * dissolves — most expensively in the `size(d) > 0 AND
    * isnotnull(d)` filter Spark's InferFiltersFromGenerate plants
    * under a later `explode(d)`, which re-evaluated the full
    * double-split ~2·ni·nj times per row (interpreted HOF, no
    * codegen subexpression sharing). Binding makes each evaluation
    * of any derived expression split the payload string exactly
    * once: the explode stage 4.2 s -> 0.7 s, f21 end-to-end warm
    * ~4.8 s -> ~1.3 s (F21Rca / Profile, DESIGN.md round 10).
    */
  def parsePayload(df: DataFrame): DataFrame = {
    // a blank, ragged or non-numeric payload fails the read here,
    // naming the record, instead of reaching the catalog as null
    // d/ni/nj or failing as an index or cast error that names neither
    def fail(what: String): Column = raise_error(concat(
      lit(s"csv: $what in column d for nomvar '"),
      coalesce(col("nomvar"), lit("null")), lit("'")))
    val payload = when(trim(col("d")) =!= "", col("d"))
      .otherwise(fail("empty payload"))
    // every row as long as the first: a shorter one would fail the
    // element lookup below, a longer one would lose its tail
    val rows = graft.pipeline.PipelineOps.bind(
      transform(split(payload, ";"), r => split(r, ","))) { rb =>
      when(forall(rb, r => size(r) === size(element_at(rb, 1))), rb)
        .otherwise(fail("ragged payload rows"))
    }
    def bound[A](f: Column => Column): Column =
      graft.pipeline.PipelineOps.bind(rows)(f)
    df.withColumn("ni", bound(rb => size(rb)))
      .withColumn("nj", bound(rb => size(element_at(rb, 1))))
      .withColumn("d", bound { rb =>
        val ni = size(rb)
        transform(
          sequence(lit(0), ni * size(element_at(rb, 1)) - 1),
          k => coalesce(element_at(
            element_at(rb, pmod(k, ni).cast("int") + 1),
            (k / ni).cast("int") + 1).try_cast("float"),
            fail("non-numeric payload element")))
      })
  }

  /** Write a record catalog as CSV: the payload is serialized back to
    * the `"a,b;c,d"` form (inverse Fortran flatten).
    */
  def write(df: DataFrame, path: String,
            extraCols: Seq[String] = Seq.empty): Unit = {
    val dStr = concat_ws(";",
      transform(sequence(lit(0), col("ni") - 1), i =>
        concat_ws(",", transform(sequence(lit(0), col("nj") - 1), j =>
          element_at(col("d"), i + j * col("ni") + 1).cast("string")))))
    // Mirror csv_writer.py:6 BASE_COLUMNS: ip1 and datev are part of
    // the default write set, so write->read round-trips keep the
    // vertical level and the validity date (ni/nj/nk are re-derived
    // from the payload string on read).
    val base = Seq("nomvar", "typvar", "etiket", "dateo", "ip1", "ip2",
      "ip3", "deet", "npas", "datyp", "nbits", "grtyp", "ig1", "ig2",
      "ig3", "ig4", "datev")
    val keep = (base ++ extraCols).filter(df.columns.contains)
    df.select((keep.map(col) :+ dStr.as("d")): _*)
      .write.mode("overwrite").option("header", "true").csv(path)
  }
}

package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.text.{Bpe, LmModel, PortableHash, QualityModel, RhpSig}

/** Every entry of the kernel table gives the same result three ways —
  * the interpreted path (`eval`), the generated code (with codegen
  * fallback off, under a WholeStageCodegen node) and a direct call to
  * its JVM kernel — on edge inputs: empty, non-ASCII, null rows. */
class KernelParitySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val texts: Seq[Any] = Seq("", "the quick brown fox jumps over the lazy dog, the quick brown fox",
    "naïve café — 日本語のテキスト, ünïcödé wörds and 😀 emoji",
    "line one\nline two\nline one\nboilerplate footer\n\nline two", "ab", null)
  private val longs: Seq[Any] = Seq(0L, 1L, -1L, 123456789L, 0x7fffffff12345678L,
    Long.MinValue, Long.MaxValue, null)
  private val vectors: Seq[Any] = {
    val r = new scala.util.Random(11)
    Seq(Seq.empty[Float], Seq.fill(16)(r.nextGaussian().toFloat), Seq.fill(16)(0f),
      Seq.fill(5)(r.nextGaussian().toFloat), Seq.fill(24)(r.nextGaussian().toFloat), null)
  }
  private val hot: Array[Long] = {
    val a = PortableHash.lineHashes(UTF8String.fromString("line one\nboilerplate footer")).toLongArray()
    java.util.Arrays.sort(a)
    a
  }
  private val cids = Array(3L, 7L, 11L)
  private val cvecs: Array[Array[Double]] = {
    val r = new scala.util.Random(5)
    Array.fill(3)(Array.fill(16)(r.nextGaussian()))
  }
  private val selfDots = cvecs.map(CentroidKernel.selfDot)

  /** One table entry over `rows` of `schema`, with `consts`, and the
    * direct kernel call on the inputs' Catalyst values. */
  private case class Case(kernel: Kernel, schema: StructType, rows: Seq[Row], consts: Any*)(
      val direct: Seq[Any] => Any)

  private def one(t: DataType, vs: Seq[Any]) =
    (StructType(Seq(StructField("c0", t))), vs.map(Row(_)))
  private def str(k: Kernel, consts: Any*)(f: UTF8String => Any): Case = {
    val (s, rs) = one(StringType, texts)
    Case(k, s, rs, consts: _*)(v => f(v.head.asInstanceOf[UTF8String]))
  }
  private def lng(k: Kernel)(f: Long => Any): Case = {
    val (s, rs) = one(LongType, longs)
    Case(k, s, rs)(v => f(v.head.asInstanceOf[Long]))
  }
  private def vec(k: Kernel, consts: Any*)(f: ArrayData => Any): Case = {
    val (s, rs) = one(ArrayType(FloatType), vectors)
    Case(k, s, rs, consts: _*)(v => f(v.head.asInstanceOf[ArrayData]))
  }

  private val cases: Seq[Case] = Seq(
    Case(Kernels.CellEncode, StructType(Seq(StructField("c0", LongType), StructField("c1", LongType))),
      (longs.reverse.zip(longs) :+ ((5L, null))).map { case (x, y) => Row(x, y) })(v =>
      graft.core.Cell.encode(v(0).asInstanceOf[Long].toInt, v(1).asInstanceOf[Long].toInt)),
    lng(Kernels.CellX)(graft.core.Cell.decodeX),
    lng(Kernels.CellY)(graft.core.Cell.decodeY),
    lng(Kernels.GeotagLat)(graft.tables.ImageTable.geotagLat),
    lng(Kernels.GeotagLon)(graft.tables.ImageTable.geotagLon),
    lng(Kernels.GeotagCell)(graft.tables.ImageTable.geotagCell),
    str(Kernels.MinhashSig, 5, 16)(PortableHash.minhashSig(_, 5, 16)),
    str(Kernels.MinhashBands, 5, 4, 4)(PortableHash.minhashBands(_, 5, 4, 4)),
    str(Kernels.Simhash)(PortableHash.simhash62),
    str(Kernels.TokenShingleHashes, 3)(PortableHash.tokenShingleHashes(_, 3)),
    str(Kernels.TokenShingles, 2)(PortableHash.tokenShingles(_, 2)),
    str(Kernels.CharNgramHashes, 8)(PortableHash.charNgramHashes(_, 8)),
    str(Kernels.CharNgramSnips, 8)(PortableHash.charNgramSnips(_, 8)),
    str(Kernels.QualityScore)(QualityModel.score),
    str(Kernels.LineHashes)(PortableHash.lineHashes),
    str(Kernels.DropHotLines, hot)(PortableHash.dropHotLines(_, hot)),
    str(Kernels.LmCost)(LmModel.cost),
    str(Kernels.BpeTokenCount)(Bpe.tokenCount),
    vec(Kernels.RhpProject, 8)(RhpSig.projections(_, 8)),
    vec(Kernels.RhpSig, 64)(RhpSig.signature(_, 64)),
    vec(Kernels.NearestCentroid, cids, cvecs, selfDots)(
      CentroidKernel.assign(_, cids, cvecs, selfDots)),
    vec(Kernels.NearestCentroids, cids, cvecs, selfDots, 2)(
      CentroidKernel.probe(_, cids, cvecs, selfDots, 2)))

  private def column(c: Case): Column =
    c.kernel(c.schema.fieldNames.toSeq.map(col) ++ c.consts: _*)

  private def frame(c: Case): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(c.rows, 1), c.schema)

  /** Bit-exact comparable form of an external value. */
  private def norm(v: Any): Any = v match {
    case r: Row => r.toSeq.map(norm).toList
    case s: scala.collection.Seq[_] => s.map(norm).toList
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case other => other
  }

  private def withoutFallback[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try body finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("the table has one parity case per kernel") {
    assert(cases.map(_.kernel.name).sorted == Kernels.all.map(_.name).sorted)
    assert(Kernels.all.map(_.name).distinct.size == Kernels.all.size)
  }

  cases.foreach { c =>
    test(s"${c.kernel.name}: interpreted == generated == direct kernel call") {
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(c.schema)
      val inputs = c.rows.map(r => toCatalyst(r).asInstanceOf[InternalRow])
      val bound = KernelCall(c.kernel.name, c.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        BoundReference(i, f.dataType, nullable = true)
      }, c.consts)
      val dt = bound.dataType
      def external(v: Any) = norm(CatalystTypeConverters.convertToScala(v, dt))
      val interpreted = inputs.map(r => external(bound.eval(r)))
      val direct = inputs.map { r =>
        val vs = r.toSeq(c.schema)
        external(if (vs.contains(null)) null else c.direct(vs))
      }
      val (generated, plan, code) = withoutFallback {
        val df = frame(c).select(column(c).as("r"))
        val qe = df.queryExecution
        (df.collect().map(r => norm(r.get(0))).toSeq, qe.executedPlan.toString(),
          org.apache.spark.sql.execution.debug.codegenString(qe.executedPlan))
      }
      assert(interpreted == direct, "interpreted path differs from the kernel")
      assert(generated == direct, "generated code differs from the kernel")
      assert(direct.count(_ == null) == c.rows.count(_.toSeq.contains(null)))
      val projLine = plan.split("\n").find(_.contains(c.kernel.name + "(")).getOrElse("")
      assert(projLine.trim.startsWith("*("), s"${c.kernel.name} not under codegen:\n$plan")
      assert(code.contains(s"${c.kernel.method}("), code)
      val ints = c.consts.collect { case i: Int => i }
      if (ints.nonEmpty) assert(code.contains(ints.mkString(", ") + ")"), code)
      // constants stay out of the auto column name
      assert(frame(c).select(column(c)).columns.toSeq ==
        Seq(s"${c.kernel.name}(${c.schema.fieldNames.mkString(", ")})"))
    }
  }

  test("SQL registration keeps its eleven names") {
    assert(sqlBuilders.map(_._1).sorted == Seq("cell_encode", "cell_x", "cell_y", "dot_ff",
      "geotag_cell", "geotag_lat", "geotag_lon", "minhash_bands", "minhash_sig", "rhp_sig", "simhash62"))
  }

  test("rhp_sig and nearest_centroid over array<double> fail analysis") {
    val dbl = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(Seq(1.0, 2.0))), 1),
      StructType(Seq(StructField("v", ArrayType(DoubleType)))))
    Seq(graft.ann.Ann.rhpSignature(col("v"), 8),
      graft.ann.Ann.nearestCentroid(col("v"), cids, cvecs),
      graft.ann.Ann.nearestCentroids(col("v"), cids, cvecs, 2)).foreach { k =>
      val e = intercept[AnalysisException](dbl.select(k))
      assert(e.getMessage.contains("array<float>") || e.getMessage.contains("ARRAY<FLOAT>"), e.getMessage)
    }
    registerAll(spark)
    intercept[AnalysisException](spark.sql("SELECT rhp_sig(array(1.0D, 2.0D), 8)"))
  }

  test("equality is keyed on name, children and constants (array constants by content)") {
    val v = UnresolvedAttribute("v")
    def nc(ids: Array[Long]) = KernelCall("nearest_centroid", Seq(v), Seq(ids, cvecs, selfDots))
    assert(nc(cids.clone()) == nc(cids.clone()) && nc(cids).hashCode == nc(cids.clone()).hashCode)
    assert(nc(cids) != nc(Array(3L, 7L, 12L)))
    def mb(child: String, consts: Int*) = KernelCall("minhash_bands", Seq(UnresolvedAttribute(child)), consts)
    assert(mb("t", 5, 4, 4) == mb("t", 5, 4, 4))
    assert(mb("t", 5, 4, 4) != mb("t", 5, 2, 8) && mb("t", 5, 4, 4) != mb("u", 5, 4, 4))
    // the same kernel twice in one projection is computed once
    val k = Kernels.MinhashBands(col("c0"), 5, 4, 4)
    val df = frame(cases.find(_.kernel == Kernels.MinhashBands).get).select(k.as("a"), k.as("b"))
    val code = org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
    assert("PortableHash\\.minhashBands\\(".r.findAllIn(code).size == 1, code)
  }
}

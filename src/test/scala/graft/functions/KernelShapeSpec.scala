package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Kernel-shape constants are checked once, at analysis, on both the
  * SQL and the Column entry points — an out-of-range constant fails
  * the query plan instead of failing every row mid-job (minhash reads
  * past PortableHash.MaxPerms) or silently returning wrong values
  * (rhp_sig's `1L << 64` wraps to bit 0; a Long literal truncated to
  * Int). */
class KernelShapeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    registerAll(s)
    s
  }
  private def docs: DataFrame = {
    import spark.implicits._
    Seq("the quick brown fox jumps over the lazy dog").toDF("t")
  }
  private def vecs: DataFrame = {
    import spark.implicits._
    Seq(Seq(1f, -2f, 3f)).toDF("v")
  }

  /** Both entry points fail analysis naming `why`. */
  private def rejects(why: String)(sql: String*)(columns: (DataFrame, Column)*): Unit = {
    sql.foreach { q =>
      val e = intercept[AnalysisException](spark.sql(q))
      assert(e.getMessage.contains(why), s"$q: ${e.getMessage}")
    }
    columns.foreach { case (df, c) =>
      val e = intercept[AnalysisException](df.select(c))
      assert(e.getMessage.contains(why), e.getMessage)
    }
  }

  test("minhash perms must be in [1, MaxPerms]") {
    rejects("perms must be in [1, 64]")(
      "SELECT minhash_sig('some text here', 5, 65)",
      "SELECT minhash_sig('some text here', 5, 0)")(
      docs -> Kernels.MinhashSig(col("t"), 5, 65))
    assert(spark.sql("SELECT size(minhash_sig('some text here', 5, 64))").head().getInt(0) == 64)
  }

  test("minhash bands and rows must be >= 1 with bands * rows <= MaxPerms") {
    rejects("bands * rows must be <= 64")(
      "SELECT minhash_bands('some text here', 5, 9, 8)")(
      docs -> graft.text.TextOps.minhashBandKeys(col("t"), 5, 9, 8),
      docs -> graft.text.TextOps.minhashBandKeys(col("t"), 5, 65536, 65536))
    rejects("bands must be >= 1")("SELECT minhash_bands('some text here', 5, 0, 4)")()
    rejects("rows must be >= 1")()(docs -> graft.text.TextOps.minhashBandKeys(col("t"), 5, 4, 0))
    assert(spark.sql("SELECT size(minhash_bands('some text here', 5, 8, 8))").head().getInt(0) == 8)
  }

  test("rhp_sig planes must be in [1, 64]") {
    rejects("planes must be in [1, 64]")(
      "SELECT rhp_sig(array(CAST(1.0 AS FLOAT)), 65)",
      "SELECT rhp_sig(array(CAST(1.0 AS FLOAT)), 0)")(
      vecs -> graft.ann.Ann.rhpSignature(col("v"), 65))
    rejects("planes must be >= 1")()(vecs -> graft.ann.Ann.randomProjection(col("v"), 0))
  }

  test("shingle and n-gram sizes must be >= 1") {
    rejects("shingle must be >= 1")(
      "SELECT minhash_sig('some text here', 0, 16)",
      "SELECT minhash_bands('some text here', -1, 4, 4)")(
      docs -> Kernels.MinhashSig(col("t"), 0, 16))
    rejects("n must be >= 1")()(
      docs -> graft.text.TextOps.tokenShingleHashes(col("t"), 0),
      docs -> graft.text.TextOps.tokenShingles(col("t"), 0),
      docs -> graft.text.TextOps.charNgramHashes(col("t"), 0),
      docs -> Kernels.CharNgramSnips(col("t"), 0))
  }

  test("a kernel-shape argument must be an integer literal in Int range") {
    // 4294967312 = 2^32 + 16: an Int narrowing would read it as 16
    assert(4294967312L.toInt == 16)
    rejects("rows must be an integer literal in Int range")(
      "SELECT minhash_bands('some text here', 5, 4, 4294967312)")()
    rejects("perms must be an integer literal in Int range")(
      "SELECT minhash_sig(t, 5, length(t)) FROM VALUES ('abc') AS d(t)")(
      docs -> Kernels.MinhashSig(col("t"), 5, 16L))
    rejects("takes 2 constants")()(docs -> Kernels.MinhashSig(col("t"), 5))
  }

  test("centroid kernels need one vector and self-dot per id, and n >= 1") {
    val cids = Array(1L, 2L)
    val cvecs = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))
    rejects("n must be >= 1")()(vecs -> graft.ann.Ann.nearestCentroids(col("v"), cids, cvecs, 0))
    rejects("needs one vector and self-dot per centroid id")()(
      vecs -> graft.ann.Ann.nearestCentroid(col("v"), Array.empty[Long], Array.empty[Array[Double]]),
      vecs -> graft.ann.Ann.nearestCentroid(col("v"), cids, cvecs.take(1)))
    assert(vecs.select(graft.ann.Ann.nearestCentroid(col("v"), cids, cvecs)).head().getLong(0) == 1L)
  }
}

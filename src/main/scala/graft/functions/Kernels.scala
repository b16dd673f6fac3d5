package graft.functions

import org.apache.spark.sql.types._

/**
 * The native kernel table: every per-row kernel whose generated code is
 * one static call, as one [[Kernel]] each. Build a Column with
 * `Kernels.MinhashBands(text, shingle, bands, rows)`; the SQL names of
 * [[graft.functions.sqlBuilders]] come from here too. Each entry states
 * its kernel-shape rules, checked at analysis on every entry point.
 */
object Kernels {
  private val I = classOf[Int]
  private val floats = ArrayType(FloatType)
  private def arrayOf(t: DataType) = ArrayType(t, containsNull = false)
  private val MaxPerms = graft.text.PortableHash.MaxPerms

  private def need(ok: Boolean, error: => String): Option[String] = if (ok) None else Some(error)
  private def positive(what: String, v: Int) = need(v >= 1, s"$what must be >= 1, got $v")
  private val oneN: Seq[Any] => Option[String] = { case Seq(n: Int) => positive("n", n) }

  // ---- cell codec and geotag (graft.core.Cell, graft.tables.ImageTable) ----
  val CellEncode = Kernel("cell_encode", "graft.core.Cell.encode", Seq(LongType, LongType),
    LongType, jvmInputs = Seq(I, I))()
  val CellX = Kernel("cell_x", "graft.core.Cell.decodeX", Seq(LongType), LongType)()
  val CellY = Kernel("cell_y", "graft.core.Cell.decodeY", Seq(LongType), LongType)()
  val GeotagLat = Kernel("geotag_lat", "graft.tables.ImageTable.geotagLat", Seq(LongType), DoubleType)()
  val GeotagLon = Kernel("geotag_lon", "graft.tables.ImageTable.geotagLon", Seq(LongType), DoubleType)()
  val GeotagCell = Kernel("geotag_cell", "graft.tables.ImageTable.geotagCell", Seq(LongType), LongType)()

  // ---- text signatures and scores (graft.text) ----
  val MinhashSig = Kernel("minhash_sig", "graft.text.PortableHash.minhashSig", Seq(StringType),
    arrayOf(LongType), Seq("shingle" -> I, "perms" -> I)) { case Seq(k: Int, p: Int) =>
    positive("shingle", k).orElse(
      need(p >= 1 && p <= MaxPerms, s"perms must be in [1, $MaxPerms], got $p"))
  }
  /** Fused minhash signature + LSH band keys (array of `bands` keys). */
  val MinhashBands = Kernel("minhash_bands", "graft.text.PortableHash.minhashBands",
    Seq(StringType), arrayOf(LongType), Seq("shingle" -> I, "bands" -> I, "rows" -> I)) {
    case Seq(k: Int, b: Int, r: Int) =>
      positive("shingle", k).orElse(positive("bands", b)).orElse(positive("rows", r)).orElse(
        need(b.toLong * r <= MaxPerms, s"bands * rows must be <= $MaxPerms, got $b * $r"))
  }
  val Simhash = Kernel("simhash62", "graft.text.PortableHash.simhash62", Seq(StringType), LongType)()
  /** Token n-gram shingle hashes: the 8-byte contamination-join keys. */
  val TokenShingleHashes = Kernel("token_shingle_hashes", "graft.text.PortableHash.tokenShingleHashes",
    Seq(StringType), arrayOf(LongType), Seq("n" -> I))(oneN)
  /** Token n-gram shingle strings (single-space-joined windows). */
  val TokenShingles = Kernel("token_shingles", "graft.text.PortableHash.tokenShingles",
    Seq(StringType), arrayOf(StringType), Seq("n" -> I))(oneN)
  /** Rolling character n-gram hashes (exact-substring seeds). */
  val CharNgramHashes = Kernel("char_ngram_hashes", "graft.text.PortableHash.charNgramHashes",
    Seq(StringType), arrayOf(LongType), Seq("n" -> I))(oneN)
  /** (window hash, window text) pairs, each snip cut incrementally. */
  val CharNgramSnips = Kernel("char_ngram_snips", "graft.text.PortableHash.charNgramSnips",
    Seq(StringType), arrayOf(StructType(Seq(
      StructField("wh", LongType, nullable = false),
      StructField("snip", StringType, nullable = false)))), Seq("n" -> I))(oneN)
  val QualityScore = Kernel("quality_score", "graft.text.QualityModel.score", Seq(StringType), LongType)()
  /** Per-line h64 hashes: the 8-byte stats pass of boilerplate-line removal. */
  val LineHashes = Kernel("line_hashes", "graft.text.PortableHash.lineHashes",
    Seq(StringType), arrayOf(LongType))()
  /** Drops lines whose h64 is in the sorted `hotLines` array; returns
    * (clean_text, n_lines, n_kept). */
  val DropHotLines = Kernel("drop_hot_lines", "graft.text.PortableHash.dropHotLines",
    Seq(StringType), StructType(Seq(
      StructField("clean_text", StringType, nullable = false),
      StructField("n_lines", LongType, nullable = false),
      StructField("n_kept", LongType, nullable = false))),
    Seq("hotLines" -> classOf[Array[Long]]))()
  val LmCost = Kernel("lm_cost", "graft.text.LmModel.cost", Seq(StringType), LongType)()
  val BpeTokenCount = Kernel("bpe_token_count", "graft.text.Bpe.tokenCount", Seq(StringType), LongType)()

  // ---- embeddings (graft.text.RhpSig, CentroidKernel); array<float> only ----
  /** Raw plane projections (the JL reduction rhp_sig's bits quantize). */
  val RhpProject = Kernel("rhp_project", "graft.text.RhpSig.projections", Seq(floats),
    arrayOf(DoubleType), Seq("planes" -> I)) { case Seq(p: Int) => positive("planes", p) }
  /** Random-hyperplane sign bits packed into a Long. */
  val RhpSig = Kernel("rhp_sig", "graft.text.RhpSig.signature", Seq(floats), LongType,
    Seq("planes" -> I)) { case Seq(p: Int) => need(p >= 1 && p <= 64, s"planes must be in [1, 64], got $p") }
  private val centroids = Seq("cids" -> classOf[Array[Long]],
    "cvecs" -> classOf[Array[Array[Double]]], "selfDots" -> classOf[Array[Double]])
  private def centroidSet(cs: Seq[Any]) = cs match {
    case Seq(ids: Array[Long], vecs: Array[Array[Double]], sd: Array[Double], _*) =>
      need(ids.nonEmpty && vecs.length == ids.length && sd.length == ids.length,
        s"needs one vector and self-dot per centroid id and >= 1 id, got ${ids.length} ids, " +
          s"${vecs.length} vectors, ${sd.length} self-dots")
  }
  /** IVF assignment: the nearest centroid id (exact cosine, tie to the smaller cid). */
  val NearestCentroid = Kernel("nearest_centroid", "graft.functions.CentroidKernel.assign",
    Seq(floats), LongType, centroids)(centroidSet)
  /** IVF probe list: the `n` nearest centroid ids in (cos desc, cid asc) order. */
  val NearestCentroids = Kernel("nearest_centroids", "graft.functions.CentroidKernel.probe",
    Seq(floats), arrayOf(LongType), centroids :+ ("n" -> I)) { cs =>
    centroidSet(cs).orElse(positive("n", cs(3).asInstanceOf[Int]))
  }

  val all: Seq[Kernel] = Seq(CellEncode, CellX, CellY, GeotagLat, GeotagLon, GeotagCell,
    MinhashSig, MinhashBands, Simhash, TokenShingleHashes, TokenShingles, CharNgramHashes,
    CharNgramSnips, QualityScore, LineHashes, DropHotLines, LmCost, BpeTokenCount,
    RhpProject, RhpSig, NearestCentroid, NearestCentroids)

  private[functions] lazy val byName: Map[String, Kernel] = all.map(k => k.name -> k).toMap
}

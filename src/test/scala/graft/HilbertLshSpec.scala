package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.Hilbert
import graft.text.TextOps

class HilbertLshSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("hilbert encode/decode roundtrip") {
    val r = new scala.util.Random(11)
    (0 until 3000).foreach { _ =>
      val x = r.nextInt(); val y = r.nextInt()
      val d = Hilbert.encode(x, y)
      val (dx, dy) = Hilbert.decode(d)
      assert(dx == (x.toLong & 0xFFFFFFFFL) && dy == (y.toLong & 0xFFFFFFFFL))
    }
  }

  test("hilbert continuity: consecutive indices are grid neighbors") {
    val r = new scala.util.Random(13)
    (0 until 1000).foreach { _ =>
      val d = r.nextLong()
      if (d != Long.MaxValue) {
        val (x1, y1) = Hilbert.decode(d)
        val (x2, y2) = Hilbert.decode(d + 1)
        assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
          s"not adjacent at $d: ($x1,$y1) -> ($x2,$y2)")
      }
    }
  }

  test("hilbert locality beats Z-order on average neighbor distance") {
    val r = new scala.util.Random(17)
    def avgKeyGap(enc: (Int, Int) => Long): Double = {
      var sum = 0.0
      (0 until 2000).foreach { _ =>
        val x = r.nextInt(1 << 24); val y = r.nextInt(1 << 24)
        val a = enc(x, y); val b = enc(x + 1, y)
        sum += math.abs(a.toDouble - b.toDouble)
      }
      sum / 2000
    }
    val hil = avgKeyGap(Hilbert.encode)
    val zor = avgKeyGap(graft.core.Cell.encode)
    assert(hil < zor, s"hilbert=$hil zorder=$zor")
  }

  /** Deterministic docs with controlled near-duplicate structure. */
  def makeDocs(n: Int): Seq[(Long, String)] = {
    val r = new scala.util.Random(23)
    val words = Array("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima")
    (0 until n).flatMap { i =>
      val base = (0 until 40).map(_ => words(r.nextInt(words.length))).mkString(" ")
      // every 3rd doc gets a near-duplicate (1-2 word edits)
      val doc = (i.toLong * 2, base)
      if (i % 3 == 0) {
        val toks = base.split(" ")
        toks(r.nextInt(toks.length)) = words(r.nextInt(words.length))
        Seq(doc, (i.toLong * 2 + 1, toks.mkString(" ")))
      } else Seq(doc)
    }
  }

  test("minhash LSH recall vs brute-force jaccard") {
    import spark.implicits._
    val docs = makeDocs(120).toDF("doc_id", "text")
    // ground truth: all pairs with 5-gram jaccard >= 0.7
    val t = docs.select(col("doc_id"), TextOps.ngrams(col("text"), 5).as("g"))
    val a = t.select(col("doc_id").as("doc_a"), col("g").as("ga"))
    val b = t.select(col("doc_id").as("doc_b"), col("g").as("gb"))
    val truth = a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("ga"), col("gb"))).cast("double") /
          (size(col("ga")) + size(col("gb")) - size(array_intersect(col("ga"), col("gb")))).cast("double")).as("jac"))
      .filter(col("jac") >= 0.7)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty)

    // LSH candidates from the production kernel: 4 bands x 4 rows
    // over a 16-permutation signature
    val bands = docs.select(col("doc_id"),
      explode(TextOps.minhashBandKeys(col("text"), 5, 4, 4)).as("bk"))
    val cands = bands.as("x").join(bands.as("y"),
      col("x.bk") === col("y.bk") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct().as[(Long, Long)].collect().toSet

    val recall = truth.intersect(cands).size.toDouble / truth.size
    info(s"recall=$recall truth=${truth.size} cands=${cands.size}")
    assert(recall >= 0.9, s"recall=$recall truth=${truth.size} cands=${cands.size}")
    // candidates should not explode (precision sanity: < 5% of all pairs)
    val allPairs = 160L * 159 / 2
    assert(cands.size < allPairs / 20, s"too many candidates: ${cands.size}")
  }

  test("hot-bucket cap: 10k identical docs yield bounded candidates (star pairs)") {
    import spark.implicits._
    // one giant duplicate cluster + some distinct docs: an uncapped band
    // self-join would emit ~50M pairs for the cluster; the cap emits a
    // star to the min doc_id
    val dup = (0 until 10000).map(i => (i.toLong, "the quick brown fox jumps over the lazy dog repeatedly"))
    val uniq = (0 until 50).map(i => (100000L + i, s"unique document number $i with its own words ${i * 31}"))
    val docs = (dup ++ uniq).toDF("doc_id", "text")
    val bands = docs
      .filter(length(regexp_replace(col("text"), "[^a-z ]", "")) >= 5)
      .select(col("doc_id"), explode(TextOps.minhashBandKeys(col("text"), 5, 4, 4)).as("band_key"))
    val pairs = TextOps.cappedCandidatePairs(bands, "band_key", cap = 64)
    val n = pairs.count()
    // star pairs: 9999 for the cluster (+ a handful among uniq docs)
    assert(n >= 9999 && n < 9999 + 3000, s"candidate count $n not bounded")
    // connectivity: every duplicate doc is linked to the representative 0
    val linked = pairs.filter(col("doc_a") === 0L).count()
    assert(linked == 9999L, s"star links $linked != 9999")
  }

  test("rhp-LSH ANN recall vs brute force on clustered vectors") {
    import spark.implicits._
    val r = new scala.util.Random(31)
    val dim = 32
    val centers = Array.fill(5)(Array.fill(dim)(r.nextGaussian().toFloat))
    val vecs = (0 until 400).map { i =>
      val c = centers(i % 5)
      (i.toLong, c.map(v => v + r.nextGaussian().toFloat * 0.2f))
    }.toDF("vec_id", "embedding")
    val qs = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = graft.ann.Ann.bruteForceTopK(vecs, qs, 10)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val approx = graft.ann.Ann.lshTopK(vecs, qs, 10, planes = 12, bands = 4)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.7, s"recall=$recall")
  }

  test("IVF ANN recall vs brute force on clustered vectors") {
    import spark.implicits._
    val r = new scala.util.Random(37)
    val dim = 32
    val centers = Array.fill(8)(Array.fill(dim)(r.nextGaussian().toFloat))
    val vecs = (0 until 600).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(v => v + r.nextGaussian().toFloat * 0.15f))
    }.toDF("vec_id", "embedding")
    val (cids, cvecs) = graft.ann.Ann.kmeansCentroids(vecs, k = 16, iters = 3)
    val qs = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = graft.ann.Ann.bruteForceTopK(vecs, qs, 10)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val approx = graft.ann.Ann.ivfTopK(vecs, qs, cids, cvecs, 10, nprobe = 3)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    // Lloyd centroids recover the true clusters; on clustered data the
    // production IVF path must be near-exact
    assert(recall >= 0.95, s"recall=$recall")
  }

  test("enumerate -d length rollup matches reference") {
    // regenerate GoldenOpsSpec's mixed point/line corpus if absent so the
    // test is self-sufficient under any suite ordering (same seed/shape
    // as GoldenOpsSpec.writeCorpus(99, 3000, lines=true))
    if (!new java.io.File("/tmp/ops_ref.dm/meta").exists()) {
      val r = new scala.util.Random(99)
      def r6(v: Double) = f"$v%.6f".toDouble
      val sb = new StringBuilder
      (0 until 3000).foreach { _ =>
        if (r.nextBoolean()) {
          sb ++= f"${r6(r.nextDouble() * 170 - 85)}%.6f,${r6(r.nextDouble() * 359.9 - 179.95)}%.6f :${r.nextInt(256)}\n"
        } else {
          val la = r.nextDouble() * 170 - 85
          val lo = r.nextDouble() * 359.9 - 179.95
          val pts = (0 until 2 + r.nextInt(3)).map { _ =>
            f"${r6(la + (r.nextDouble() - .5) * .02)}%.6f,${r6(lo + (r.nextDouble() - .5) * .02)}%.6f"
          }
          sb ++= pts.mkString(" ") + f" :${r.nextInt(256)}\n"
        }
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get("/tmp/ops_mixed.txt"), sb.toString)
      import scala.sys.process._
      "rm -rf /tmp/ops_ref.dm".!
      assert(RefBinaries.run("encode", Seq("-o", "/tmp/ops_ref.dm", "-z16", "-m8", "/tmp/ops_mixed.txt"))._1 == 0)
    }
    val (rc, out) = RefBinaries.run("enumerate", Seq("-z6", "-d", "/tmp/ops_ref.dm"))
    assert(rc == 0, s"reference enumerate -d exited $rc")
    assert(new String(out).nonEmpty, "reference enumerate -d printed nothing")
    import spark.implicits._
    val refRows = new String(out).linesIterator.filter(_.nonEmpty).map { l =>
      val p = l.trim.split("\\s+") // fname z x y len
      ((p(1).toInt, p(2).toInt, p(3).toInt), p(4).toDouble)
    }.toSeq.groupBy(_._1).map { case (k, v) => (k, v.map(_._2).sum) }
      .filter(_._1._1 == 6)
    val feats = graft.sources.TextSource.read(spark, "/tmp/ops_mixed.txt", 16, 8)
    val ours = graft.query.TileOps.enumerateRollupFeatures(feats, 6, 6)
      .select("tx", "ty", "len").as[(Int, Int, Double)].collect()
      .map { case (x, y, len) => ((6, x, y), len) }.toMap
    assert(ours.keySet == refRows.keySet)
    refRows.foreach { case (k, len) =>
      assert(math.abs(ours(k) - len) < 1e-4 * math.max(1.0, len), s"tile $k: ref=$len ours=${ours(k)}")
    }
  }
}

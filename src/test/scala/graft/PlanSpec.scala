package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan assertions: the scale-critical properties — predicate
  * pushdown to Parquet, column pruning, broadcast joins, whole-stage
  * codegen over the native cell expressions — hold in the optimized
  * plans, not just in intent. */
class PlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val sortedPath: String = {
    import spark.implicits._
    val p = java.nio.file.Files.createTempDirectory("plan").toString + "/sorted"
    graft.tables.ImageTable.generateGeo(spark, 5000).toDF()
      .repartitionByRange(4, col("cell"))
      .sortWithinPartitions(col("cell"), col("meta"))
      .write.parquet(p)
    p
  }

  def formatted(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.executedPlan.toString() + "\n" +
      df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("tile range scan pushes cell BETWEEN to the parquet scan (row-group pruning)") {
    val table = spark.read.parquet(sortedPath)
    val scan = graft.query.TileOps.tileRangeScan(table, 6, 11, 23).select("cell")
    val plan = formatted(scan)
    assert(plan.contains("PushedFilters"), plan.take(2000))
    assert(plan.contains("GreaterThanOrEqual(cell") && plan.contains("LessThanOrEqual(cell"),
      plan.split("\n").filter(_.contains("PushedFilters")).mkString("; "))
  }

  test("narrow projection prunes columns at the scan (ReadSchema)") {
    val table = spark.read.parquet(sortedPath)
    val q = table.select(col("cell")).filter(col("cell") > 0)
    val plan = formatted(q)
    val readSchema = plan.split("\n").find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("cell") && !readSchema.contains("image_id"), readSchema)
  }

  test("bbox Z-range scan equals plain bbox filter and pushes cell ranges") {
    import spark.implicits._
    val table = spark.read.parquet(sortedPath)
    val (l, t, rr, b) = (1L << 30, 1L << 29, 3L << 30, (1L << 31) + (1L << 29))
    val plain = graft.query.TileOps.bboxFilter(
      table.select(col("cell"),
        graft.functions.cell_x(col("cell")).as("x32"),
        graft.functions.cell_y(col("cell")).as("y32")), l, t, rr, b)
      .select("cell").as[Long].collect().sorted.toSeq
    val ranged = graft.query.TileOps.bboxRangeScan(
      table.select(col("cell"),
        graft.functions.cell_x(col("cell")).as("x32"),
        graft.functions.cell_y(col("cell")).as("y32")), l, t, rr, b)
      .select("cell").as[Long].collect().sorted.toSeq
    assert(plain == ranged)
    assert(plain.nonEmpty)
    // range predicate reaches the parquet scan
    val q = graft.query.TileOps.bboxRangeScan(
      table.select(col("cell"),
        graft.functions.cell_x(col("cell")).as("x32"),
        graft.functions.cell_y(col("cell")).as("y32")), l, t, rr, b)
    val plan = formatted(q.select("cell"))
    assert(plan.contains("PushedFilters") && plan.contains("Or(And(GreaterThanOrEqual(cell"),
      plan.split("\n").filter(_.contains("PushedFilters")).mkString(";").take(400))
  }

  test("small dimension joins broadcast (no shuffle of the fact side)") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    val j = li.join(broadcast(nation), col("l_suppkey") % 25 === col("n_nationkey"))
    val plan = j.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("native cell expressions stay inside whole-stage codegen") {
    import graft.functions._
    val table = spark.read.parquet(sortedPath)
    val q = table.select(cell_x(col("cell")).as("x"), cell_y(col("cell")).as("y"))
      .filter(col("x") > 100)
    val plan = q.queryExecution.executedPlan.toString()
    // the '*(n)' prefix marks operators inside a WholeStageCodegen span
    val projLine = plan.split("\n").find(_.contains("cell_x")).getOrElse("")
    assert(projLine.trim.startsWith("*("), "cell_x not under codegen:\n" + plan.take(1500))
  }

  test("ANN plans: broadcast centroids, no cartesian product in LSH paths") {
    import spark.implicits._
    val r = new scala.util.Random(5)
    val vecs = (0 until 300).map(i => (i.toLong, Array.fill(16)(r.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val cents = vecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val qs = vecs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    // IVF assignment: the K-centroid loop must be a broadcast join
    val ivfPlan = formatted(graft.ann.Ann.ivfTopK(vecs, qs, cents, 5))
    assert(ivfPlan.contains("BroadcastNestedLoopJoin") || ivfPlan.contains("BroadcastExchange"),
      ivfPlan.take(1500))
    // LSH near-dup: candidates meet ONLY inside buckets — an equi-join
    // on the band key, never a cartesian product
    val lshPlan = formatted(graft.ann.Ann.nearDupLsh(vecs, 0.5))
    assert(!lshPlan.contains("CartesianProduct"), lshPlan.take(1500))
    assert(lshPlan.contains("SortMergeJoin") || lshPlan.contains("ShuffledHashJoin")
      || lshPlan.contains("BroadcastHashJoin"), lshPlan.take(1500))
  }

  def allNodes(p: SparkPlan): Seq[SparkPlan] = SparkProbe.allNodes(p)

  // parquet-backed embeddings: a local relation constant-folds into a
  // LocalTableScan, hiding the real scan/exchange shapes
  lazy val vecsPath: String = {
    import spark.implicits._
    val r = new scala.util.Random(7)
    val p = java.nio.file.Files.createTempDirectory("plan").toString + "/vecs"
    (0 until 300).map(i => (i.toLong, Array.fill(16)(r.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").write.parquet(p)
    p
  }

  test("nearDupLsh: the band exchange carries no embedding arrays (ids+keys only)") {
    val vecs = spark.read.parquet(vecsPath)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // AQE wraps the plan before EnsureRequirements inserts exchanges;
    // disable it so executedPlan holds the real exchange nodes
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.ann.Ann.nearDupLsh(vecs, 0.5)
      val exchanges = allNodes(df.queryExecution.executedPlan).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      val bandEx = exchanges.filter(_.output.exists(_.name == "bk"))
      assert(bandEx.nonEmpty, "expected a shuffle on the band key")
      bandEx.foreach { e =>
        assert(!e.output.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
          "band exchange carries an array column: " + e.output.map(a => s"${a.name}:${a.dataType}").mkString(", "))
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("bucketed embeddings: rerank joins read the corpus side exchange-free") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val dir = java.nio.file.Files.createTempDirectory("plan").toString + "/emb_bucketed"
      graft.ann.Ann.writeBucketedEmbeddings(spark.read.parquet(vecsPath), "emb_bucketed", dir, 4)
      val bucketed = spark.table("emb_bucketed")
      val df = graft.ann.Ann.nearDupLsh(bucketed, 0.5)
      val planStr = df.queryExecution.executedPlan.toString()
      assert(planStr.contains("SelectedBucketsCount"), "scan not bucketed:\n" + planStr.take(1500))
      val exchanges = allNodes(df.queryExecution.executedPlan).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      // With a plain table the rerank shuffles the CORPUS arrays (one
      // real exchange; the second side is a ReusedExchange of it) plus
      // the candidate-sized intermediate: two array-carrying exchanges.
      // With the bucketed corpus only the intermediate remains —
      // (vec_a, vec_b, ea) rows, CANDIDATE-sized, not corpus-sized —
      // so exactly one array-carrying exchange survives and neither
      // corpus scan ever re-shuffles.
      def arrayEx(df: org.apache.spark.sql.DataFrame): Int =
        allNodes(df.queryExecution.executedPlan).count {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
            e.output.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
          case _ => false
        }
      val plainDf = graft.ann.Ann.nearDupLsh(spark.read.parquet(vecsPath), 0.5)
      assert(arrayEx(plainDf) == 2, s"plain-path baseline drifted: ${arrayEx(plainDf)}")
      assert(arrayEx(df) == 1,
        s"bucketed path should shuffle arrays only on the candidate intermediate, got ${arrayEx(df)}")
      // and the result is identical to the plain-table path
      val plainPairs = plainDf
        .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val buckPairs = df.select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(buckPairs == plainPairs && plainPairs.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("ivf assignment is map-only (no window, no exchange) and the probe join broadcasts") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val vecs = spark.read.parquet(vecsPath)
    val cents = vecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val qs = vecs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val (cids, cvecs) = graft.ann.Ann.collectCentroids(cents)
    // assignment: zero shuffles, zero windows — the kernel rides the scan
    val asgPlan = graft.ann.Ann.ivfAssign(vecs, cids, cvecs).queryExecution.executedPlan.toString()
    assert(asgPlan.contains("nearest_centroid"), asgPlan.take(1200))
    assert(!asgPlan.contains("Window") && !asgPlan.contains("Exchange"), asgPlan.take(1200))
    // candidate join: probes broadcast; the vector side never hashes
    // into a <=K-key exchange
    val top = graft.ann.Ann.ivfTopK(vecs, qs, cids, cvecs, 5, 2)
    val topPlan = formatted(top)
    assert(topPlan.contains("BroadcastHashJoin"), topPlan.take(2000))
    val exchanges = allNodes(top.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // the only shuffles allowed are the final top-k window's (qid) and
    // the scored-candidate aggregation — never a hash on the K-valued
    // cell key, which would collapse the vector table into <=K partitions
    val cellEx = exchanges.filter(_.outputPartitioning.toString.contains("cell"))
    assert(cellEx.isEmpty, "vector table shuffled on the K-valued cell key")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("pii columns are map-only: no exchange, no window") {
    import spark.implicits._
    val docsDf = Seq((1L, "mail a@b.co from 1.2.3.4")).toDF("doc_id", "text")
    val plan = docsDf.select((col("doc_id") +:
      graft.text.TextOps.piiColumns(col("text")).map { case (n, c) => c.as(n) }): _*)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange") && !plan.contains("Window"), plan.take(1200))
  }

  test("multiple dot_ffs over NON-nullable arrays codegen in one projection (fresh local names)") {
    // non-nullable children make nullSafeCodeGen emit the kernel body
    // UNBRACED — fixed local names would collide across the three
    // dot_ffs, fail Janino, and silently fall back to the interpreted
    // path; fallback=false turns that silent regression into a failure
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = Seq((Array(1f, 2f), Array(3f, 4f))).toDF("a", "b")
        .select(
          graft.ann.Ann.dot(col("a"), col("b")).as("ab"),
          graft.ann.Ann.dot(col("a"), col("a")).as("aa"),
          graft.ann.Ann.dot(col("b"), col("b")).as("bb"))
      val r = df.collect().head
      assert(r.getDouble(0) == 11.0 && r.getDouble(1) == 5.0 && r.getDouble(2) == 25.0)
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("html extraction is map-only: no exchange, no window") {
    import spark.implicits._
    val docsDf = Seq((1L, "<p>hi</p>")).toDF("doc_id", "html")
    val plan = docsDf.select((col("doc_id") +:
      graft.text.TextOps.htmlColumns(col("html")).map { case (n, c) => c.as(n) }): _*)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange") && !plan.contains("Window"), plan.take(1200))
  }

  test("token budget mix: corpus window partitions by (domain, chunk), offsets broadcast") {
    import spark.implicits._
    val rows = (0 until 1000).map(i => (i.toLong, s"d${i % 3}", 1L + i % 7,
      (i.toLong * 2146001) % 2147483647L))
    val df = graft.text.TextOps.tokenBudgetMix(
      rows.toDF("id", "domain", "toks", "h"), "domain", "toks", "h", "id", 100L)
    val planStr = df.queryExecution.executedPlan.toString()
    // the offsets side joins back via broadcast — never a corpus-sized
    // shuffle keyed on the (few-valued) domain alone for the join
    assert(planStr.contains("BroadcastHashJoin") || planStr.contains("BroadcastExchange"),
      planStr.take(1500))
    // the corpus-side cumsum window must be salted by __chunk: a window
    // partitioned on domain alone serializes each domain onto one task
    val windows = allNodes(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    val corpusWins = windows.filter(_.output.exists(_.name == "__cum_local"))
    assert(corpusWins.nonEmpty, planStr.take(1500))
    corpusWins.foreach { w =>
      assert(w.partitionSpec.exists(_.toString.contains("__chunk")),
        "corpus cumsum window not chunk-partitioned: " + w.partitionSpec.mkString(", "))
    }
  }

  test("salient terms: the wide text column never rides a shuffle") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val df = graft.text.TextOps.salientTerms(docs, 3, 400)
      val exchanges = allNodes(df.queryExecution.executedPlan).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty)
      exchanges.foreach { e =>
        assert(!e.output.exists(_.name == "text"),
          "text column shuffled: " + e.output.map(_.name).mkString(", "))
      }
      assert(df.count() > 0)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("contamination (token + substring): text never shuffles, probe side broadcasts") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val corpus = all.filter(col("doc_id") >= 50)
      val probes = all.filter(col("doc_id") < 50)
      for (df <- Seq(graft.text.TextOps.contamination(corpus, probes, 4),
                     graft.text.TextOps.substringContamination(corpus, probes, 30))) {
        val plan = df.queryExecution.executedPlan
        val exchanges = allNodes(plan).collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
        exchanges.foreach { e =>
          assert(!e.output.exists(_.name == "text"),
            "text column shuffled: " + e.output.map(_.name).mkString(", "))
        }
        assert(plan.toString().contains("BroadcastHashJoin"), plan.toString().take(2000))
        // one kernel call per row: the shingle/window hashes appear as a
        // single generated expression, not a transform over a split
        val analyzed = df.queryExecution.analyzed.toString()
        assert(analyzed.contains("token_shingle_hashes") || analyzed.contains("char_ngram_hashes"),
          analyzed.take(2000))
        assert(df.count() > 0)
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("duplicate spans: text never shuffles, snippet filter broadcasts, matches brute force incl. hot star") {
    import spark.implicits._
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // synthetic corpus: seeded-random unique filler (no accidental
      // cross-doc 30-char windows) + a planted ~37-char span shared by
      // doc pairs (2i, 2i+1), + one "boilerplate" 30-char window shared
      // by 100 docs (> cap=64, exercising the star branch)
      val boiler = "x" * 30
      def rndStr(seed: Long): String = {
        val r = new scala.util.Random(seed)
        Seq.fill(40)(('a' + r.nextInt(26)).toChar).mkString
      }
      val docs = (0L until 300L).map { i =>
        val span = s"planted span ${i / 2} " + "p" * 20
        val head = if (i < 100) boiler + " " else ""
        (i, s"$head${rndStr(i * 2 + 1)} $span ${rndStr(i * 2 + 2)}")
      }.toDF("doc_id", "text")
      // plan shape (uncheckpointed variant: one assertable tree).
      // Keyed text shuffles are banned; the ONE sanctioned text exchange
      // is ReadBalance's round-robin fan-out (fires only when splits <
      // cores), at most once and directly above the scan. Returns how
      // many fan-outs the plan holds.
      def textExchanges(input: org.apache.spark.sql.DataFrame): Int = {
        val plan = graft.text.TextOps.duplicateSpansImpl(input, 30, 64, checkpoint = false)
          .queryExecution.executedPlan
        val exchanges = allNodes(plan).collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
        assert(exchanges.nonEmpty)
        val (fanOuts, keyed) = exchanges.filter(_.output.exists(_.name == "text"))
          .partition(_.outputPartitioning
            .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning])
        assert(keyed.isEmpty, "text column shuffled: " +
          keyed.map(_.output.map(_.name).mkString(", ")).mkString("; "))
        assert(fanOuts.size <= 1, s"${fanOuts.size} round-robin text exchanges:\n$plan")
        def unwrap(p: SparkPlan): SparkPlan = p match {
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec => unwrap(w.child)
          case i: org.apache.spark.sql.execution.InputAdapter => unwrap(i.child)
          case c: org.apache.spark.sql.execution.ColumnarToRowExec => unwrap(c.child)
          case other => other
        }
        fanOuts.foreach { e =>
          assert(unwrap(e.child).isInstanceOf[org.apache.spark.sql.execution.LeafExecNode],
            s"round-robin text exchange not directly above the scan:\n$e")
        }
        assert(plan.toString().contains("BroadcastHashJoin"), plan.toString().take(2000))
        fanOuts.size
      }
      assert(textExchanges(docs) == 0) // 4 local splits on 4 cores: no fan-out
      // a one-split input fires the fan-out, exactly once, above the scan
      assert(textExchanges(spark.createDataFrame(docs.rdd.coalesce(1), docs.schema)) == 1)

      // independent truth: replicate the capped-pair algorithm on the
      // actual 30-char WINDOW STRINGS (no hashes anywhere) — small
      // buckets (<= 64 docs) all-pairs, hot buckets star to the min doc
      val rows = docs.collect().map(r => r.getLong(0) -> r.getString(1))
      val winDocs = rows.flatMap { case (id, t) =>
        (0 to t.length - 30).map(j => t.substring(j, j + 30) -> id)
      }.groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted).toMap
        .filter(_._2.length >= 2)
      val expected = scala.collection.mutable.Map.empty[(Long, Long), Long]
      winDocs.foreach { case (_, ds) =>
        if (ds.length <= 64)
          for (i <- ds.indices; j <- i + 1 until ds.length)
            expected((ds(i), ds(j))) = expected.getOrElse((ds(i), ds(j)), 0L) + 1
        else ds.tail.foreach { d =>
          expected((ds.head, d)) = expected.getOrElse((ds.head, d), 0L) + 1
        }
      }
      val got = graft.text.TextOps.duplicateSpans(docs, 30, cap = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == expected.toMap,
        s"pair/count mismatch: extra=${(got.keySet -- expected.keySet).take(5)} " +
          s"missing=${(expected.keySet -- got.keySet).take(5)} " +
          s"diff=${got.keys.filter(k => expected.get(k).exists(_ != got(k))).take(5)}")
      // planted pairs present; hot bucket (100-doc boiler window) did
      // NOT go quadratic but every hot doc stays connected to doc 0
      (100L until 300L by 2).foreach(a => assert(got.contains((a, a + 1)), s"planted ($a,${a + 1}) missing"))
      (1L until 100L).foreach(d => assert(got.contains((0L, d)), s"hot doc $d lost connectivity"))
      // clusters: every (2i, 2i+1) pair co-labeled; hot docs 0-99 in one
      // component; reps are component minima
      val reps = graft.text.TextOps.duplicateSpanClusters(docs, 30, cap = 64)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reps.size == 300)
      (0L until 100L).foreach(d => assert(reps(d) == 0L, s"hot doc $d rep=${reps(d)}"))
      (100L until 300L by 2).foreach { a =>
        assert(reps(a) == reps(a + 1), s"planted pair ($a,${a + 1}) split: ${reps(a)} vs ${reps(a + 1)}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("duplicate spans single-scan: exactly one parquet scan of the text column funds the whole operator") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("spans").toString + "/docs"
    (0L until 60L).map { i =>
      val r = new scala.util.Random(i * 7 + 3)
      val span = s"shared span ${i / 2} " + "q" * 18
      (i, Seq.fill(40)(('a' + r.nextInt(26)).toChar).mkString + s" $span")
    }.toDF("doc_id", "text").write.parquet(dir)
    val docs = spark.read.parquet(dir)
    def parquetScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
      allNodes(p).collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metadata.getOrElse("Location", "")
      }.filter(_.contains("docs"))
    // the windowed projection is the ONE text-column read...
    val proj = graft.text.TextOps.duplicateSpansProjection(docs, 30)
    assert(parquetScans(proj.queryExecution.executedPlan).size == 1)
    // ...and the production (checkpointed) result's plan reads ONLY the
    // spooled projection/vocabulary checkpoints — zero parquet rescans
    // of the corpus anywhere downstream
    val res = graft.text.TextOps.duplicateSpans(docs, 30, cap = 64)
    assert(parquetScans(res.queryExecution.executedPlan).isEmpty,
      "single-scan result plan re-reads documents parquet")
    assert(res.count() > 0)
  }

  test("as-of join: matches brute force, one exchange, no range join") {
    import spark.implicits._
    // synthetic: clicks/views with planted edge cases (click before any
    // view -> null; equal-ts view matches; multiple views pick latest)
    val rnd = new scala.util.Random(11)
    val rows = (0L until 400L).map { i =>
      (i, i % 7, 1000L + rnd.nextInt(500), if (i % 3 == 0) "click" else "view")
    } :+ ((400L, 3L, 1000L, "click")) :+ ((401L, 3L, 1000L, "view")) // equal ts pair
    val df = rows.toDF("event_id", "user_id", "t", "event_type")
    val clicks = df.filter(col("event_type") === "click")
    val views = df.filter(col("event_type") === "view")
      .select(col("user_id"), col("t"), col("event_id").as("view_id"))
    val got = graft.ops.AsofJoin.asofJoin(clicks, views, "user_id", "t", "event_id", "view_id")
      .collect().map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    val vByUser = rows.filter(_._4 == "view").groupBy(_._2)
    val expect = rows.filter(_._4 == "click").map { case (id, u, t, _) =>
      val cand = vByUser.getOrElse(u, Seq.empty).filter(_._3 <= t)
      id -> (if (cand.isEmpty) None else Some(cand.maxBy(v => (v._3, v._1))._1))
    }.toMap
    assert(got == expect)
    assert(got.values.exists(_.isEmpty) && got.values.exists(_.nonEmpty))

    // null timestamps are excluded on BOTH sides ("as of null" is
    // undefined, and Spark/DuckDB disagree on where nulls sort): the
    // null-ts click vanishes, the null-ts view never matches
    val nClicks = Seq((Some(5L), 990L, 0L), (None, 991L, 0L)).toDF("t", "event_id", "user_id")
    val nViews = Seq((Some(4L), 880L, 0L), (None, 881L, 0L)).toDF("t", "view_id", "user_id")
    val nGot = graft.ops.AsofJoin.asofJoin(nClicks, nViews, "user_id", "t", "event_id", "view_id")
      .collect().map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    assert(nGot == Map(990L -> Some(880L)), s"null-ts handling wrong: $nGot")

    // plan: ONE exchange (the (key, ts) sort-shuffle), no join operator
    // at all — the whole as-of is union + window
    val plan = graft.ops.AsofJoin.asofJoin(clicks, views, "user_id", "t", "event_id", "view_id")
      .queryExecution.executedPlan.toString()
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n${plan.take(1500)}")
    assert(!plan.contains("Join"), plan.take(1500))
  }

  test("as-of join chunked: identical results under skew; hot key splits across chunks") {
    import spark.implicits._
    // skew: ONE key holds 50% of all rows (the bot-user shape), spread
    // over a wide ts range so chunking can split it
    val rnd = new scala.util.Random(31)
    val rows = (0L until 4000L).map { i =>
      val u = if (i % 2 == 0) 99L else i % 7
      (i, u, 1000L + rnd.nextInt(100000), if (i % 3 == 0) "click" else "view")
    }
    val df = rows.toDF("event_id", "user_id", "t", "event_type")
    val clicks = df.filter(col("event_type") === "click")
    val views = df.filter(col("event_type") === "view")
      .select(col("user_id"), col("t"), col("event_id").as("view_id"))
    def run(span: Long) = graft.ops.AsofJoin
      .asofJoin(clicks, views, "user_id", "t", "event_id", "view_id", span)
      .collect().map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    val plain = run(0)
    // span sweep: tiny spans (every row its own chunk), misaligned,
    // huge (one chunk == degenerate to the plain shape) — all must
    // reproduce the single-window result exactly
    for (span <- Seq(1L, 7L, 997L, 10000L, 10000000L))
      assert(run(span) == plain, s"chunked as-of diverges at span=$span")
    val chunked = run(10000) // ~10 chunks across the ts range
    assert(chunked == plain && plain.nonEmpty, "chunked as-of diverges from single-window")
    assert(plain.values.exists(_.nonEmpty))
    // skew evidence: the largest per-(key, chunk) window group is far
    // below the hot key's total rows — the serialized unit of work
    // shrank by the chunk count (the straggler bound the chunking buys)
    val hotKeyRows = rows.count(_._2 == 99L)
    val maxCell = rows.groupBy(r => (r._2, (r._3 / 10000))).values.map(_.size).max
    assert(maxCell * 4 < hotKeyRows,
      s"chunking did not split the hot key: maxCell=$maxCell hotKey=$hotKeyRows")
    // plan: the in-chunk window partitions by (user_id, __chunk)
    val plan = graft.ops.AsofJoin
      .asofJoin(clicks, views, "user_id", "t", "event_id", "view_id", 10000)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("__chunk"), plan.take(1500))

    // NULL keys cross chunks: the windows group null keys together, so
    // the chunked path must carry a null-key view into a LATER chunk's
    // null-key click exactly like the single-window path (the carry
    // joins are null-safe; a plain equi-join would return null here)
    val nClicks = Seq((Option.empty[Long], 50000L, 1L), (Some(3L), 50001L, 2L))
      .toDF("user_id", "t", "event_id")
    val nViews = Seq((Option.empty[Long], 100L, 10L), (Some(3L), 101L, 11L))
      .toDF("user_id", "t", "view_id")
    def runN(span: Long) = graft.ops.AsofJoin
      .asofJoin(nClicks, nViews, "user_id", "t", "event_id", "view_id", span)
      .collect().map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    val nPlain = runN(0)
    assert(nPlain == Map(1L -> Some(10L), 2L -> Some(11L)), s"null-key baseline wrong: $nPlain")
    for (span <- Seq(7L, 1000L))
      assert(runN(span) == nPlain, s"chunked as-of drops null-key carry at span=$span: ${runN(span)}")
  }

  test("range join: bucketed equi-join, never a cartesian/nested-loop; matches brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    val pts = (0L until 2000L).map(i => (i, rnd.nextInt(10000).toLong))
    val ivs = (0L until 50L).map { i =>
      val lo = rnd.nextInt(9000).toLong; (i, lo, lo + rnd.nextInt(800).toLong)
    }
    val got = graft.ops.RangeJoin.intervalJoin(
      pts.toDF("pid", "v"), ivs.toDF("iid", "lo", "hi"), bucket = 512)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val expect = (for {
      (p, v) <- pts; (i, lo, hi) <- ivs if v >= lo && v <= hi
    } yield (p, i)).toSet
    assert(got == expect && got.nonEmpty)

    val plan = graft.ops.RangeJoin.intervalJoin(
      pts.toDF("pid", "v"), ivs.toDF("iid", "lo", "hi"), bucket = 512)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(1500))
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan.take(1500))
  }

  test("capped pair join: bucket stats broadcast under selective keys (no full-table sort)") {
    import spark.implicits._
    // selective keys: mostly singleton buckets + a few collided ones
    val bands = (0L until 5000L).map(i => (i, if (i % 100 == 0) 7L else 1000L + i))
      .toDF("doc_id", "band_key")
    val pairs = graft.text.TextOps.cappedCandidatePairs(bands, "band_key", cap = 64)
    val got = pairs.collect()
    assert(got.length == 50 * 49 / 2, s"expected all pairs of the 50 collided docs, got ${got.length}")
    // post-execution adaptive plan: the stats rejoin must be broadcast —
    // and nothing may SORT the full band table (the old window shape)
    val plan = pairs.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2000))
  }

  test("persisted IVF index: results equal the in-memory path, scan prunes to probed cells") {
    val vecs = spark.read.parquet(vecsPath)
    val cents = vecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val qs = vecs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString + "/idx"
    graft.ann.Ann.writeIvfIndex(vecs, cents, dir)

    val mem = graft.ann.Ann.ivfTopK(vecs, qs, cents, 5, nprobe = 2)
      .select("qid", "vec_id", "rn").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val idx = graft.ann.Ann.ivfTopKFromIndex(spark, dir, qs, 5, nprobe = 2)
    val got = idx.select("qid", "vec_id", "rn").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == mem && got.nonEmpty)

    // the vectors scan must carry a cell partition filter (pruned to the
    // probed cells, not a full pass over the corpus)
    val scanLine = idx.queryExecution.executedPlan.toString().split("\n")
      .find(l => l.contains("Scan parquet") && l.contains("vectors")).getOrElse("")
    assert(scanLine.contains("PartitionFilters: [cell") ||
      scanLine.contains("PartitionFilters: [(cell") ||
      scanLine.contains("cell IN"), scanLine)

    // appending new vectors (assigned against the index's OWN fixed
    // centroids) must equal rebuilding the whole index from scratch
    val dir2 = java.nio.file.Files.createTempDirectory("ivfidx").toString + "/idx2"
    graft.ann.Ann.writeIvfIndex(vecs.filter(col("vec_id") < 200), cents, dir2)
    graft.ann.Ann.appendIvfIndex(spark, vecs.filter(col("vec_id") >= 200), dir2)
    val appended = graft.ann.Ann.ivfTopKFromIndex(spark, dir2, qs, 5, nprobe = 2)
      .select("qid", "vec_id", "rn").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(appended == mem, "appended index diverges from full rebuild")
  }

  test("SparkSessionExtensions applies cleanly (function injection)") {
    // a fresh SparkSession with extensions can't be created in a JVM
    // that already has one (getOrCreate reuses it), so verify the
    // injection applies and the same builders work via the registry
    new graft.GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    graft.functions.registerAll(spark)
    val r = spark.sql("SELECT dot_ff(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .collect().head
    assert(r.getDouble(0) == 11.0)
  }

  test("geotag expressions match the scalar formula and stay codegen (no object ser/de)") {
    val df = spark.read.parquet(sortedPath).select(
      col("phash"),
      graft.functions.geotag_lat(col("phash")).as("lat"),
      graft.functions.geotag_lon(col("phash")).as("lon"),
      graft.functions.geotag_cell(col("phash")).as("cell"))
    assert(df.count() == 5000)
    df.collect().foreach { r =>
      val ph = r.getLong(0)
      val (lat, lon, cell, _) = graft.tables.ImageTable.geotagPhash(ph)
      assert(r.getDouble(1) == lat && r.getDouble(2) == lon && r.getLong(3) == cell, s"phash $ph")
    }
    // the bench encode projection: single codegen stage, no typed-map
    // SerializeFromObject/MapElements nodes
    val enc = spark.read.parquet(sortedPath).select(
      col("image_id"), col("phash"),
      graft.functions.geotag_lat(col("phash")).as("lat"),
      graft.functions.geotag_lon(col("phash")).as("lon"),
      graft.functions.geotag_cell(col("phash")).as("cell"),
      col("phash").bitwiseAND(lit(0xFFL)).as("meta"))
    val plan = enc.queryExecution.executedPlan.toString()
    assert(!plan.contains("SerializeFromObject") && !plan.contains("MapElements"), plan.take(1500))
    // the '*(n)' prefix marks operators inside a WholeStageCodegen span
    val projLine = plan.split("\n").find(_.contains("geotag_cell")).getOrElse("")
    assert(projLine.trim.startsWith("*("), "geotag not under codegen:\n" + plan.take(1500))
  }

  test("sql registration: cell functions usable from spark.sql") {
    graft.functions.registerAll(spark)
    val r = spark.sql("SELECT cell_x(cell_encode(123456789, 987654321)) AS x, cell_y(cell_encode(123456789, 987654321)) AS y")
      .collect().head
    assert(r.getLong(0) == 123456789L && r.getLong(1) == 987654321L)
  }

  test("sql registration: signature kernels usable from spark.sql") {
    graft.functions.registerAll(spark)
    val r = spark.sql(
      """SELECT simhash62('the quick brown fox') AS sh,
        |  size(minhash_sig('the quick brown fox jumps', 5, 16)) AS nsig,
        |  size(minhash_bands('the quick brown fox jumps', 5, 4, 4)) AS nbands""".stripMargin)
      .collect().head
    assert(r.getLong(0) == graft.text.PortableHash.simhash62(
      org.apache.spark.unsafe.types.UTF8String.fromString("the quick brown fox")))
    assert(r.getInt(1) == 16 && r.getInt(2) == 4)
  }

  test("render pyramids: ONE hash exchange on tkey, at most one round-robin fan-out directly above the scan") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RoundRobinPartitioning}
    import org.apache.spark.sql.execution._
    val dir = java.nio.file.Files.createTempDirectory("plan").toString + "/ranked"
    graft.render.Render.writeRankedSnapshot(spark.read.parquet(sortedPath).select("cell", "meta"), dir)
    // a small snapshot packs into fewer splits than cores: the fan-out fires
    val ranked = graft.render.Render.readRankedSnapshot(spark, dir)
    val lines = (0 until 50).map { i =>
      val c0 = graft.core.Cell.encode(1000000 * i, 2000000 * i)
      val c1 = graft.core.Cell.encode(1000000 * i + 50000000, 2000000 * i + 30000000)
      graft.core.Feature(c0, Array(c0, c1), i.toLong)
    }.toDS()
    val zooms = 0 to 8
    val p = graft.core.RenderParams()
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    // AQE wraps the plan before its stages exist; disable it so
    // executedPlan holds the real exchange nodes
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def unwrap(n: SparkPlan): SparkPlan = n match {
        case w: WholeStageCodegenExec => unwrap(w.child)
        case i: InputAdapter => unwrap(i.child)
        case c: ColumnarToRowExec => unwrap(c.child)
        case pr: ProjectExec => unwrap(pr.child)
        case other => other
      }
      for ((name, tiles) <- Seq(
        "renderPyramid" -> graft.render.Render.renderPyramid(ranked, zooms, 48, p),
        "renderPyramidAll(points, lines)" ->
          graft.render.Render.renderPyramidAll(Some(ranked), Some(lines), zooms, 48, p))) {
        val plan = tiles.queryExecution.executedPlan
        val exchanges = allNodes(plan).collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
        val hash = exchanges.filter(_.outputPartitioning.isInstanceOf[HashPartitioning])
        val fanOuts = exchanges.filter(_.outputPartitioning.isInstanceOf[RoundRobinPartitioning])
        assert(hash.size == 1, s"$name: ${hash.size} hash exchanges:\n$plan")
        assert(hash.head.outputPartitioning.asInstanceOf[HashPartitioning].expressions
          .flatMap(_.references.map(_.name)) == Seq("tkey"), s"$name: not keyed on tkey:\n$plan")
        assert(fanOuts.size <= 1, s"$name: ${fanOuts.size} round-robin exchanges:\n$plan")
        assert(exchanges.size == hash.size + fanOuts.size, s"$name: other exchanges:\n$plan")
        fanOuts.foreach { e =>
          assert(unwrap(e.child).isInstanceOf[LeafExecNode],
            s"$name: round-robin exchange not directly above the scan:\n$plan")
        }
        assert(tiles.count() > 0, name)
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("image dedup edge list: every exchange stays in nid space (no image_id shuffles)") {
    import spark.implicits._
    import graft.media.Media
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // shuffle joins everywhere: a broadcast side would hide which
    // columns a join moves
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    try {
      val originals = (0L until 40L).map(i => graft.tables.ImageTable.row(42L, i))
      // exact copies (star edges) + re-encodes (near pairs)
      val copies = Seq(3, 9).map(i => originals(i).copy(image_id = originals(i).image_id + "_cp"))
      val reencodes = Seq(0, 7).map { i =>
        val o = originals(i)
        val img = Media.decode(o.image_id, o.bytes, o.w, o.h, o.fmt)
        o.copy(image_id = o.image_id + "_re", bytes = Media.reencodePng(img), fmt = "png")
      }
      val ids = Media.dedupIds(spark.createDataset(originals ++ copies ++ reencodes).toDF())
      // every action from here on (the banding pass and the final
      // count) is captured; the decode pass above is not
      org.apache.spark.TestBus.drain(spark.sparkContext)
      spark.listenerManager.register(listener)
      val nEdges =
        try {
          val n = Media.dupEdges(ids, maxHamming = 2)._1.count()
          org.apache.spark.TestBus.drain(spark.sparkContext)
          n
        } finally spark.listenerManager.unregister(listener)
      assert(nEdges >= 4, s"$nEdges edges for 2 exact copies + 2 re-encodes")
      import scala.jdk.CollectionConverters._
      val exchanges = plans.asScala.toSeq.flatMap(allNodes).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty)
      exchanges.foreach { e =>
        assert(!e.output.exists(_.name == "image_id"),
          "image_id rides a dedup shuffle: " + e.output.map(_.name).mkString(", "))
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }
}

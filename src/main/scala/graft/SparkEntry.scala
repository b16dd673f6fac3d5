package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.oracle.GeoDerive._
import graft.query.TileOps
import graft.join.{Knn, PipJoin}
import graft.text.TextOps
import graft.ann.Ann
import org.apache.spark.sql.graft.Bridge

/**
 * Driver contract: every implemented operator from SURVEY.md §2 has an
 * entry in `queries` (Spark implementation) and, when SQL-expressible,
 * a matching DuckDB oracle in `oracleSql`. Column names are aliased
 * identically on both sides (the driver hash-compares by sorted column
 * name). All oracle-checked outputs are integer/string or doubles
 * derived by identical exact FP operation sequences, so hashes match
 * bit-for-bit.
 */
object SparkEntry {

  // ---------- shared derivations (Spark side) ----------

  private def li(spark: SparkSession, dir: String): DataFrame =
    Bridge.parquetTable(spark, s"$dir/lineitem.parquet")

  /** lineitem-derived point table: integer world coords + meta + cell. */
  private def points(spark: SparkSession, dir: String): DataFrame =
    li(spark, dir).select(
      col("l_orderkey"), col("l_linenumber"),
      x32(col("l_orderkey"), col("l_linenumber").cast("long")).as("x32"),
      y32(col("l_orderkey"), col("l_partkey")).as("y32"),
      meta8(col("l_orderkey"), col("l_linenumber").cast("long")).as("meta"))
      .withColumn("cell", cell_encode(col("x32"), col("y32")))

  private val pointsSql =
    s"""(SELECT l_orderkey, l_linenumber,
       |  ${x32Sql("l_orderkey", "l_linenumber")} AS x32,
       |  ${y32Sql("l_orderkey", "l_partkey")} AS y32,
       |  ${meta8Sql("l_orderkey", "l_linenumber")} AS meta
       | FROM lineitem)""".stripMargin.replace("\n", " ")

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Bridge.parquetTable(spark, s"$dir/documents.parquet")

  /** Deterministic PII planting for q53 (harness, not operator): the
    * synthetic corpus has no PII, so each doc gets an email always, an
    * IP / phone / SSN-shape on doc_id residues, plus two hard NEGATIVES
    * ("v256.1.1.1" — invalid octet and no word boundary; "1.2.3" — too
    * few octets). [[piiPlantSql]] is the char-identical DuckDB replica. */
  private def piiPlant(docId: Column, text: Column): Column = concat(
    text,
    lit(" contact user"), docId.cast("string"), lit("@example.com"),
    when(docId % 2 === 0,
      concat(lit(" from 10."), (docId % 200).cast("string"), lit(".0.1"))).otherwise(lit("")),
    when(docId % 3 === 0,
      concat(lit(" call (555) 867-"), lpad((docId % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
    when(docId % 5 === 0,
      concat(lit(" ssn 123-45-"), lpad((docId % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
    lit(" v256.1.1.1 build 1.2.3"))

  private val piiPlantSql: String =
    """text || ' contact user' || doc_id::VARCHAR || '@example.com'
      | || CASE WHEN doc_id % 2 = 0 THEN ' from 10.' || (doc_id % 200)::VARCHAR || '.0.1' ELSE '' END
      | || CASE WHEN doc_id % 3 = 0 THEN ' call (555) 867-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
      | || CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
      | || ' v256.1.1.1 build 1.2.3'""".stripMargin.replace("\n", "")

  /** Deterministic URL planting (the corpus has none): ~1/3 of docs
    * get an https URL with a path, ~1/7 an http URL with a port —
    * hosts drawn from small modular families so the q57 domain rollup
    * has real groups. [[urlPlantSql]] is the char-identical replica. */
  private def urlPlant(docId: Column, text: Column): Column = concat(
    text,
    when(docId % 3 === 0,
      concat(lit(" see https://site"), (docId % 17).cast("string"),
        lit(".example.org/p/"), docId.cast("string"))).otherwise(lit("")),
    when(docId % 7 === 0,
      concat(lit(" http://cdn"), (docId % 5).cast("string"),
        lit(".example.net:8080/x?y="), docId.cast("string"))).otherwise(lit("")))

  private val urlPlantSql: String =
    """text || CASE WHEN doc_id % 3 = 0 THEN ' see https://site' || (doc_id % 17)::VARCHAR || '.example.org/p/' || doc_id::VARCHAR ELSE '' END
      | || CASE WHEN doc_id % 7 = 0 THEN ' http://cdn' || (doc_id % 5)::VARCHAR || '.example.net:8080/x?y=' || doc_id::VARCHAR ELSE '' END""".stripMargin.replace("\n", "")

  /** Deterministic HTML wrapping (the corpus is plain text): title /
    * script / style / headline boilerplate around every doc, a link on
    * doc_id%4 and entity samples in the footer — so q60's extraction
    * exercises every strip rule on real rows. [[htmlPlantSql]] is the
    * char-identical replica. */
  private def htmlPlant(docId: Column, text: Column): Column = concat(
    lit("<html><head><title>D"), docId.cast("string"),
    lit("</title><script type=\"text/javascript\">var id="), docId.cast("string"),
    lit(";</script><style>.c{color:#000}</style></head><body><h1>Doc "),
    docId.cast("string"), lit("</h1><p>"), text, lit("</p>"),
    when(docId % 4 === 0, concat(lit("<a href=\"/x/"), docId.cast("string"),
      lit("\">more &amp; stuff</a>"))).otherwise(lit("")),
    lit("<div>&copy; 2026 &lt;graft&gt;</div></body></html>"))

  private val htmlPlantSql: String =
    """'<html><head><title>D' || doc_id::VARCHAR || '</title><script type="text/javascript">var id=' || doc_id::VARCHAR || ';</script><style>.c{color:#000}</style></head><body><h1>Doc ' || doc_id::VARCHAR || '</h1><p>' || text || '</p>'
      | || CASE WHEN doc_id % 4 = 0 THEN '<a href="/x/' || doc_id::VARCHAR || '">more &amp; stuff</a>' ELSE '' END
      | || '<div>&copy; 2026 &lt;graft&gt;</div></body></html>'""".stripMargin.replace("\n", "")

  /** Deterministic multi-line page wrapping (the corpus is single-line):
    * a global boilerplate header on every doc and a 7-variant footer —
    * so q66's boilerplate-line removal has genuinely hot lines to drop
    * around a unique body. [[linePlantSql]] is the char-identical
    * replica. */
  private def linePlant(docId: Column, text: Column): Column = concat(
    lit("subscribe to the newsletter for updates today\n"), text,
    lit("\ncopyright footer variant "), (docId % 7).cast("string"))

  private val linePlantSql: String =
    "'subscribe to the newsletter for updates today' || chr(10) || text || chr(10) || 'copyright footer variant ' || (doc_id % 7)::VARCHAR"

  /** q66's hot-line threshold — ONE constant interpolated into both the
    * engine call and the oracle's HAVING clause (hot at sf >= 0.01:
    * header n, footers ~n/7, bodies ~1). */
  private val LineDedupMinCount = 50L

  /** DuckDB CTE chain producing the same capped MinHash LSH candidate
    * pairs as [[minhashPairs]] (single source for q28/q42 oracles);
    * ends with `pairs(doc_a, doc_b)`, possibly with duplicates. */
  private def minhashPairsCtes: String = {
    import graft.text.PortableHash
    val keys = (0 until 4).map(b => PortableHash.bandKeySql("sig", b, 4)).mkString("[", ", ", "]")
    s"""cl AS (SELECT doc_id, ${PortableHash.cleanSql("text")} AS clean FROM documents),
       | hs AS (SELECT doc_id, list_transform(list_transform(generate_series(1, len(clean) - 4), i -> substr(clean, i, 5)), s -> ${PortableHash.polySql("s", 31)}) AS hh FROM cl WHERE len(clean) >= 5),
       | sig AS (SELECT doc_id, ${PortableHash.minhashSigSql("hh", 16)} AS sig FROM hs),
       | bands AS (SELECT doc_id, unnest($keys) AS band_key FROM sig),
       | st AS (SELECT doc_id, band_key, count(*) OVER (PARTITION BY band_key) AS bcnt, min(doc_id) OVER (PARTITION BY band_key) AS bmin FROM bands),
       | pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM st a JOIN st b ON a.band_key = b.band_key AND a.doc_id < b.doc_id WHERE a.bcnt <= 64
       |  UNION ALL
       |  SELECT bmin AS doc_a, doc_id AS doc_b FROM st WHERE bcnt > 64 AND doc_id <> bmin)""".stripMargin.replace("\n", " ")
  }

  /** DuckDB CTE chain replicating Ann.nearDupLsh(minCos=0.25) — ends
    * with `epairs(vec_a, vec_b, cos)` (single source for q39/q44). */
  private def embedPairsCtes: String = {
    val comp = graft.text.RhpSig.compSql("pp.p", "i")
    s"""bits AS (SELECT e.vec_id, pp.p,
       |   CASE WHEN list_reduce(list_transform(generate_series(1, len(e.embedding)), i -> (e.embedding[i]::DOUBLE) * ($comp)), (x, y) -> x + y) >= 0 THEN 1::BIGINT ELSE 0::BIGINT END AS bit
       |  FROM embeddings e, (SELECT unnest(generate_series(0, 63)) AS p) pp),
       | bands AS (SELECT vec_id, p // 8 AS band, CAST(sum(bit << (p % 8)) AS BIGINT) AS key FROM bits GROUP BY 1, 2),
       | cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |   FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
       | epairs AS (SELECT c.vec_a, c.vec_b, ${cosSql("a.embedding", "b.embedding")} AS cos
       |   FROM cand c JOIN embeddings a ON a.vec_id = c.vec_a JOIN embeddings b ON b.vec_id = c.vec_b
       |   WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.25)""".stripMargin.replace("\n", " ")
  }

  /** MinHash LSH candidate pairs (shared by q28_minhash_lsh and the
    * q42 cluster rollup). */
  private def minhashPairs(s: SparkSession, d: String): DataFrame = {
    val eligible = docs(s, d).filter(TextOps.lshEligible(col("text")))
    val bands = eligible.select(col("doc_id"),
      explode(TextOps.minhashBandKeys(col("text"),
        TextOps.LshShingle, TextOps.LshBands, TextOps.LshRows)).as("band_key"))
    TextOps.cappedCandidatePairs(bands, "band_key", cap = TextOps.LshCap)
  }

  /** Duplicate-cluster labels over the minhash pair graph: connected
    * components (rep = component min), singletons map to themselves.
    * Shared by q42 and the q55 keep-best selection. */
  private def dupLabels(s: SparkSession, d: String): DataFrame =
    graft.ops.Components.labelAll(docs(s, d),
      minhashPairs(s, d).select(col("doc_a").as("a"), col("doc_b").as("b")),
      "doc_id")

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Bridge.parquetTable(spark, s"$dir/embeddings.parquet")

  // DuckDB: elementwise dot/cosine with the same left-to-right fold as
  // the engine's codegen kernels (bitwise-identical doubles); single
  // source in graft.oracle.VecSql.
  private def dotSql(a: String, b: String): String = graft.oracle.VecSql.dotSql(a, b)
  private def cosSql(a: String, b: String): String = graft.oracle.VecSql.cosSql(a, b)

  // ---------- flagship ----------

  /** Flagship: the image+caption table end-to-end — generate, geotag,
    * cell-encode, rasterize a z5 tile pyramid; returns the tile table
    * (driver smoke-checks rows > 0). */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val geo = graft.tables.ImageTable.generateGeo(spark, 2000)
    val pts = geo.toDF().select(col("cell"), col("meta"))
      .repartitionByRange(4, col("cell"))
      .sortWithinPartitions(col("cell"), col("meta"))
    val ranked = graft.render.Render.withGlobalRank(pts)
    graft.render.Render.renderTiles(Some(ranked), None, 5, 48, graft.core.RenderParams())
      .toDF()
      .select(col("z"), col("x"), col("y"), length(col("png")).as("png_bytes"))
  }

  // ---------- operator queries ----------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // F1/F4: projection + Morton cell encode (S1 analog over the
    // relational source; the lat/lon text parser path is golden-tested
    // against the reference binaries in sbt tests instead)
    "q01_cell_encode" -> ((s, d) => points(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("x32"), col("y32"), col("cell"))),

    // J1-adjacent: per-point tile assignment at z=12 + count (A3 slice)
    "q02_tile_assign" -> ((s, d) => points(s, d)
      .select(expr("x32 >> 20").as("tx"), expr("y32 >> 20").as("ty"))
      .groupBy("tx", "ty").agg(count(lit(1)).as("cnt"))),

    // P1: Z-order tile range scan == tile bbox (z=3 tile (3,5))
    "q03_range_scan" -> ((s, d) => TileOps.tileRangeScan(points(s, d), 3, 3, 5)
      .select(col("l_orderkey"), col("l_linenumber"), col("x32"), col("y32"))),

    // A3: enumerate rollup over zooms 0..8 with exact centroid sums
    // (accumulation is DECIMAL(38) inside enumerateRollup — the 10^12-row
    // shape; the oracle-scale output casts back to BIGINT for the
    // bit-exact compare)
    "q04_enum_rollup" -> ((s, d) => TileOps.enumerateRollup(points(s, d), 0, 8)
      .select(col("z"), col("tx"), col("ty"), col("cnt"),
        col("xsum").cast("long").as("xsum"), col("ysum").cast("long").as("ysum"))),

    // P3: bbox filter in world coords (the Z-range decomposition variant
    // is exercised in PlanSpec over a stored sorted table, where the
    // BETWEEN union prunes parquet; on derived columns it's pure cost)
    "q05_bbox" -> ((s, d) => TileOps.bboxFilter(points(s, d),
      left = 1L << 30, top = 1L << 29, right = 3L << 30, bottom = (1L << 31) + (1L << 29))
      .select(col("l_orderkey"), col("l_linenumber"))),

    // U1/J3: multi-dataset bag union -> tile counts at z=4
    "q06_merge_union" -> ((s, d) => {
      val a = points(s, d).select(col("x32"), col("y32"))
      val b = Bridge.parquetTable(s, s"$d/orders.parquet").select(
        x32(col("o_orderkey"), col("o_custkey")).as("x32"),
        y32(col("o_orderkey"), col("o_custkey")).as("y32"))
      a.unionByName(b)
        .select(expr("x32 >> 28").as("tx"), expr("y32 >> 28").as("ty"))
        .groupBy("tx", "ty").agg(count(lit(1)).as("cnt"))
    }),

    // U2: union distinct (dedup on truncated cell + meta, merge -u)
    "q07_union_distinct" -> ((s, d) => {
      val p = points(s, d).select(
        col("cell").bitwiseAND(lit(-1L << 40)).as("cell_t"), col("meta"))
      p.unionByName(p).distinct()
        .groupBy("meta").agg(count(lit(1)).as("cnt"))
    }),

    // A4/U3: sibling-quad completion at z=8
    "q08_siblings" -> ((s, d) => TileOps.missingSiblings(points(s, d), 8)),

    // PIP: broadcast R-tree point-in-polygon join (scaled 26-bit coords)
    "q09_pip" -> ((s, d) => {
      val nk = Bridge.parquetTable(s, s"$d/nation.parquet")
        .select(col("n_nationkey").cast("long")).collect().map(_.getLong(0)).sorted
      val polys = PipJoin.scaled(PipJoin.trianglesFromKeys(nk.toSeq))
      val pts = points(s, d).select(
        (col("l_orderkey") * 8 + col("l_linenumber")).as("id"),
        expr("x32 >> 6").as("x32"), expr("y32 >> 6").as("y32"))
      PipJoin.join(s, pts, polys)
    }),

    // J2/kNN: cell-ring expansion kNN join (exact; 24-bit coords)
    "q10_knn" -> ((s, d) => {
      val pts = points(s, d).select(
        (col("l_orderkey") * 8 + col("l_linenumber")).as("id"),
        expr("x32 >> 8").as("x"), expr("y32 >> 8").as("y"))
      val qs = Bridge.parquetTable(s, s"$d/supplier.parquet")
        .filter(col("s_suppkey") < 10)
        .select(col("s_suppkey").as("qid"),
          expr(s"${x32Sql("s_suppkey", "s_suppkey * 3 + 1")} >> 8").as("qx"),
          expr(s"${y32Sql("s_suppkey", "s_suppkey * 5 + 2")} >> 8").as("qy"))
      Knn.knnJoin(s, pts, qs, k = 5, tileShift = Some(19))
    }),

    // F11: antimeridian wrap detection on consecutive-line segments
    "q11_antimeridian" -> ((s, d) => {
      val p = points(s, d)
      val a = p.select(col("l_orderkey"), col("l_linenumber"), col("x32"))
      val b = p.select(col("l_orderkey"),
        (col("l_linenumber") - 1).as("l_linenumber"), col("x32").as("x32b"))
      a.join(b, Seq("l_orderkey", "l_linenumber"))
        .select(when(abs(col("x32b") - col("x32")) >= (1L << 31), lit(1)).otherwise(lit(0)).as("wrapped"))
        .groupBy("wrapped").agg(count(lit(1)).as("cnt"))
    }),

    // ---------- training-data text ops ----------

    "q20_dedup_exact" -> ((s, d) => TextOps.dedupExact(docs(s, d))),

    "q21_ngram_jaccard" -> ((s, d) => {
      val t = docs(s, d).select(col("doc_id"), col("text"))
      val a = t.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
      val b = t.select((col("doc_id") - 1).as("doc_a"), col("doc_id").as("doc_b"), col("text").as("text_b"))
      a.join(b, Seq("doc_a"))
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(TextOps.ngramHashSet(col("text_a"), 5), TextOps.ngramHashSet(col("text_b"), 5))).cast("long").as("inter"),
          (size(TextOps.ngramHashSet(col("text_a"), 5)) + size(TextOps.ngramHashSet(col("text_b"), 5))).cast("long").as("ab"))
        .select(col("doc_a"), col("doc_b"), col("inter"),
          (col("ab") - col("inter")).as("uni"))
    }),

    "q22_token_count" -> ((s, d) => docs(s, d)
      .select(col("doc_id"), TextOps.tokenCount(col("text")).cast("long").as("toks"),
        length(col("text")).cast("long").as("chars"))),

    // BPE-ish regex pre-tokenization (letter runs / digit runs / single
    // punctuation) + distinct-token vocabulary size per doc
    "q41_bpe_tokens" -> ((s, d) => docs(s, d)
      .select(col("doc_id"), TextOps.bpeTokenCount(col("text")).as("bpe_toks"),
        size(array_distinct(TextOps.bpeTokens(col("text")))).cast("long").as("vocab"))),

    // token counts under a LEARNED vocab (GPT-2-format merges fixture,
    // real merge-rank BPE in a codegen kernel) — the counts that drive
    // token budgets; q41's regex split is only the pre-tokenizer bound
    "q52_bpe_vocab_tokens" -> ((s, d) => docs(s, d)
      .select(col("doc_id"), TextOps.bpeVocabTokenCount(col("text")).as("vocab_toks"))),

    // PII detection + redaction (standard curation pass): per-type hit
    // counts + redacted text, all map-only. The corpus is synthetic
    // word salad, so deterministic PII is PLANTED from doc_id first —
    // identically in the oracle — exercising every regex shape plus
    // hard negatives (256.x IPs, short version strings) on real rows.
    "q53_pii" -> ((s, d) => {
      val planted = docs(s, d).select(col("doc_id"),
        piiPlant(col("doc_id"), col("text")).as("text"))
      planted.select((col("doc_id") +:
        TextOps.piiColumns(col("text")).map { case (n, c) => c.as(n) }): _*)
    }),

    // URL extraction (RefinedWeb-style URL-filter inputs): per-doc URL
    // count + first host; map-only, text never shuffles
    "q56_urls" -> ((s, d) => {
      val planted = docs(s, d).select(col("doc_id"),
        urlPlant(col("doc_id"), col("text")).as("text"))
      planted.select((col("doc_id") +:
        TextOps.urlColumns(col("text")).map { case (n, c) => c.as(n) }): _*)
    }),

    // domain-mix rollup over the extracted hosts: the ONLY shuffle
    // carries (host, partial count) short strings with map-side combine
    "q57_domain_mix" -> ((s, d) => {
      val planted = docs(s, d).select(col("doc_id"),
        urlPlant(col("doc_id"), col("text")).as("text"))
      planted
        .select(TextOps.urlColumns(col("text")).toMap.apply("host").as("host"))
        .filter(col("host") =!= "")
        .groupBy("host").agg(count(lit(1)).as("n_docs"))
    }),

    // within-doc repetition signals (Gopher-style): token totals +
    // distinct, 2-gram totals / top count / distinct — integer counts,
    // ratios derived by the caller; boilerplate and degenerate docs
    // light up on top2/grams2 and utoks/toks
    "q54_repetition" -> ((s, d) => TextOps.repetitionMetrics(docs(s, d))),

    "q23_lang_id" -> ((s, d) => {
      val scores = TextOps.langScores(col("text"))
      docs(s, d).select(
        (Seq(col("doc_id")) ++ scores.map { case (l, c) => c.as(s"sc_$l") } :+
          TextOps.langGuess(col("text")).as("guess")): _*)
    }),

    "q24_quality" -> ((s, d) => docs(s, d).select(
      (Seq(col("doc_id")) ++ TextOps.qualityColumns(col("text")).map { case (n, c) => c.cast("long").as(n) }): _*)),

    "q25_fingerprint" -> ((s, d) => docs(s, d)
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))),

    // near-dup candidate pairs: portable minhash (PortableHash — same
    // integer arithmetic as the DuckDB oracle), fused sig+band kernel,
    // hot-bucket cap so a duplicate cluster can't go quadratic
    "q28_minhash_lsh" -> ((s, d) => minhashPairs(s, d)),

    // duplicate clusters: connected components (large-star/small-star)
    // over the near-dup pair graph; rep = component min, singletons map
    // to themselves — "keep one per cluster" is filter(doc_id === rep)
    "q42_dup_clusters" -> ((s, d) => dupLabels(s, d)),

    // keep-best-per-cluster: after fuzzy dedup, retain the
    // highest-token-count member of each duplicate cluster (min doc_id
    // on ties) — struct-max argmax, so a hot cluster never serializes
    // onto one task; only (doc_id, rep, score) 8-byte columns shuffle
    "q55_keep_best" -> ((s, d) => TextOps.keepBestPerCluster(
      dupLabels(s, d),
      docs(s, d).select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("score")))),

    "q29_simhash" -> ((s, d) => docs(s, d)
      .select(col("doc_id"), TextOps.simhash64(col("text")).as("simhash"))),

    // deterministic stratified downsampling: keep at most 40 docs per
    // text-length bucket, ordered by the portable sampling hash —
    // skew-safe two-phase cap (a hot stratum never serializes onto one
    // partition)
    "q43_stratified_sample" -> ((s, d) => {
      val t = docs(s, d).select(col("doc_id"),
        expr("length(text) div 100").as("stratum"),
        TextOps.sampleHash(col("doc_id")).as("h"))
      TextOps.stratifiedCap(t, "stratum", "h", "doc_id", 40)
    }),

    // data-mixture construction: greedy per-source selection under a
    // 600-token budget in deterministic (portable-hash, doc_id)
    // priority — distributed prefix sum (chunked cumsum + tiny
    // broadcast offsets), so a hot domain never serializes onto one
    // window task
    "q59_token_budget_mix" -> ((s, d) => {
      val t = docs(s, d).select(col("doc_id"), col("source"),
        TextOps.tokenCount(col("text")).cast("long").as("n_toks"),
        TextOps.sampleHash(col("doc_id")).as("h"))
      TextOps.tokenBudgetMix(t, "source", "n_toks", "h", "doc_id", budget = 600L)
        .select(col("doc_id"), col("source"), col("n_toks"), col("cum"))
    }),

    // HTML main-content extraction (the first step of every web
    // pipeline): strip script/style/tags, decode entities, collapse
    // whitespace + the integer quality signals; map-only — the HTML
    // column never shuffles. HTML is PLANTED deterministically (the
    // corpus is plain text), identically in the oracle.
    "q60_html_extract" -> ((s, d) => {
      val planted = docs(s, d).select(col("doc_id"),
        htmlPlant(col("doc_id"), col("text")).as("html"))
      planted.select((col("doc_id") +:
        TextOps.htmlColumns(col("html")).map { case (n, c) => c.as(n) }): _*)
    }),

    // sequence packing (GPT-pretraining concat-then-chunk): global
    // deterministic order, corpus-wide chunked prefix sum (the ONE
    // global domain is the hot-domain case), per-doc token interval +
    // first/last training-sequence ids at seqLen=256
    "q62_seq_pack" -> ((s, d) => {
      val t = docs(s, d).select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_toks"),
        TextOps.sampleHash(col("doc_id")).as("h"))
      TextOps.sequencePack(t, "n_toks", "h", "doc_id", seqLen = 256L)
        .select(col("doc_id"), col("n_toks"), col("cum"),
          col("first_seq"), col("last_seq"))
    }),

    // corpus-statistics rarity scoring (the integer-exact CCNet-style
    // perplexity-filter stand-in): one tokenize pass, cnt derives from
    // tf (exchange reused), vocabulary-sized join — text never shuffles
    "q61_unigram_rarity" -> ((s, d) => TextOps.unigramRarity(docs(s, d))),

    // model-based quality scoring (trained fixed-point linear classifier
    // over hashed token features; QualityModel fixture weights): map-only
    // codegen kernel, zero exchanges, keep = integer margin >= 0
    "q63_quality_model" -> ((s, d) => TextOps.qualityModelScore(docs(s, d))),

    // bigram-LM perplexity scoring (trained fixed-point LmModel fixture,
    // CCNet head/middle/tail terciles): map-only codegen kernel, zero
    // exchanges, integer micro-log10 costs
    "q65_lm_perplexity" -> ((s, d) => TextOps.lmScore(docs(s, d))),

    // boilerplate-line removal (C4/RefinedWeb line dedup) over planted
    // multi-line pages: 8-byte-hash stats shuffle + capped hot set +
    // map-only rewrite; the global header and 7-variant footers are hot
    // at minCount=50 for sf >= 0.01, the unique body survives
    "q66_line_dedup" -> ((s, d) => {
      val pages = docs(s, d).select(col("doc_id"),
        linePlant(col("doc_id"), col("text")).as("page"))
      TextOps.boilerplateLines(pages, minCount = LineDedupMinCount)
    }),

    // ---------- embeddings ----------

    "q26_embed_cosine" -> ((s, d) => {
      val t = emb(s, d).select(col("vec_id"), col("embedding"))
      val a = t.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
      val b = t.select((col("vec_id") - 1).as("vec_a"), col("vec_id").as("vec_b"), col("embedding").as("eb"))
      a.join(b, Seq("vec_a"))
        .select(col("vec_a"), col("vec_b"), Ann.cosine(col("ea"), col("eb")).as("cos"))
    }),

    "q27_ann_topk" -> ((s, d) => {
      val qs = emb(s, d).filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Ann.bruteForceTopK(emb(s, d), qs, 10).select("qid", "vec_id", "cos", "rn")
    }),

    // deterministic random projection (JL reduction on the portable
    // plane matrix the LSH signatures quantize) — map-only codegen
    // kernel; exploded to (vec_id, p, proj) scalar rows for the oracle
    "q58_random_projection" -> ((s, d) => emb(s, d)
      .select(col("vec_id"), posexplode(Ann.randomProjection(col("embedding"), 8)))
      .select(col("vec_id"), col("pos").cast("long").as("p"), col("col").as("proj"))),

    "q28_ann_lsh" -> ((s, d) => {
      val qs = emb(s, d).filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Ann.lshTopK(emb(s, d), qs, 10).select("qid", "vec_id", "cos", "rn")
    }),

    // ---------- events (relational ops over the stream table) ----------

    "q30_window_agg" -> ((s, d) => Bridge.parquetTable(s, s"$d/events.parquet")
      .select(col("event_type"),
        expr("unix_timestamp(ts) div 60").as("minute"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy("event_type", "minute")
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"))),

    // embedding near-dup: all-pairs cosine above threshold (exact)
    "q31_embed_neardup" -> ((s, d) => {
      // precompute per-vector self-dot once (identical FP value to
      // recomputing per pair, so the oracle stays bit-exact) — the
      // higher-order fold is interpreted, so per-pair work must be one
      // dot product, not three
      val t = emb(s, d).select(col("vec_id"), col("embedding"),
        Ann.dot(col("embedding"), col("embedding")).as("nn")).cache()
      val a = t.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nn").as("na"))
      val b = t.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nn").as("nb"))
      a.crossJoin(b).filter(col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          (Ann.dot(col("ea"), col("eb")) / sqrt(col("na") * col("nb"))).as("cos"))
        .filter(col("cos") >= 0.25)
    }),

    // IVF-flat ANN: deterministic Lloyd k-means coarse quantizer (16
    // centroids, 3 iterations, exact quantized-mean arithmetic the
    // oracle replicates) -> probe 2 nearest cells per query (map-side
    // kernel) -> broadcast candidate join -> exact cosine rerank
    "q40_ann_ivf" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("embedding"))
      // quantizer sizing: K ~ sqrt(n) at production scale; the oracle
      // tables hold only ~500 vectors, so K=8/nprobe=4 keeps per-cell
      // population (~60) sensibly above k=10 (recall@10 = 0.96 here;
      // finer K on this weakly-clustered toy set just splits true
      // neighborhoods across cells)
      val (cids, cvecs) = Ann.kmeansCentroids(e, k = 8, iters = 3)
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Ann.ivfTopK(e, qs, cids, cvecs, k = 10, nprobe = 4).select("qid", "vec_id", "cos", "rn")
    }),

    // embedding near-dup, the 100 TB path: LSH candidates + exact rerank
    // (q31 is the exact all-pairs variant, bounded to oracle scale)
    "q39_neardup_lsh" -> ((s, d) =>
      Ann.nearDupLsh(emb(s, d).select(col("vec_id"), col("embedding")), minCos = 0.25)),

    // embedding duplicate clusters: components over the q39 pair graph
    // (keep-one-per-cluster for embedding-level near-dups)
    "q44_embed_clusters" -> ((s, d) => {
      val pairs = Ann.nearDupLsh(emb(s, d).select(col("vec_id"), col("embedding")), minCos = 0.25)
      val labels = graft.ops.Components.connectedComponents(
        pairs.select(col("vec_a").as("a"), col("vec_b").as("b")))
        .withColumnRenamed("node", "vec_id")
      emb(s, d).select(col("vec_id"))
        .join(labels, Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("rep"), col("vec_id")).as("rep"))
    }),

    // SemDeDup-style semantic dedup: fixed k-means cells (the q40
    // quantizer), within-cell cos-threshold components, keep-one per
    // group — cluster-level redundancy that pairwise LSH (q39/q44)
    // misses; no array column on any corpus shuffle
    "q64_semdedup" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("embedding"))
      val (cids, cvecs) = Ann.kmeansCentroids(e, k = 8, iters = 3)
      Ann.semDedup(e, cids, cvecs, minCos = 0.3)
    }),

    // hash join + aggregation (lineitem x orders)
    "q33_join_agg" -> ((s, d) => {
      val o = Bridge.parquetTable(s, s"$d/orders.parquet")
      li(s, d).join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          sum(expr("CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)")).as("qty_c"))
    }),

    // window top-k: top-3 suppliers by quantity per return flag
    "q34_top_suppliers" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val agg = li(s, d).groupBy(col("l_returnflag"), col("l_suppkey"))
        .agg(sum(expr("CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)")).as("qty_c"))
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("qty_c").desc, col("l_suppkey").asc)
      agg.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    }),

    // as-of join: latest view at-or-before each click per user — the
    // union-and-carry-forward formulation (one sort-shuffle, no range
    // join); oracle cross-checked against DuckDB's native ASOF JOIN.
    // Runs the CHUNKED (skew-hardened) path: per-(key, hour-chunk)
    // windows + a chunk-level carry join — results identical to the
    // single-window path (PlanSpec asserts), so the oracle gate
    // validates the chunked implementation.
    "q45_asof_join" -> ((s, d) => {
      val ev = Bridge.parquetTable(s, s"$d/events.parquet")
      val clicks = ev.filter(col("event_type") === "click")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_id"))
      graft.ops.AsofJoin.asofJoin(clicks, views, "user_id", "ts", "event_id", "view_id",
          chunkSpan = 3600L)
        .select(col("event_id").as("click_id"), col("user_id"),
          coalesce(col("view_id"), lit(-1L)).as("view_id"))
    }),

    // interval (range) join: click amounts (cents) vs deterministic
    // supplier fee bands — bucketed cover + exact containment filter
    // (hash equi-join on bucket ids; Catalyst alone would pick a
    // nested-loop/cartesian for the pure inequality condition)
    "q46_range_join" -> ((s, d) => {
      val ev = Bridge.parquetTable(s, s"$d/events.parquet")
      val p = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("pid"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("v"))
      val i = Bridge.parquetTable(s, s"$d/supplier.parquet")
        .select(col("s_suppkey").cast("long").as("iid"),
          expr("(s_suppkey * 1009) % 2000").cast("long").as("lo"),
          expr("(s_suppkey * 1009) % 2000 + 50 + (s_suppkey * 31) % 500").cast("long").as("hi"))
      graft.ops.RangeJoin.intervalJoin(p, i, bucket = 256)
    }),

    // kNN with the DENSITY-DERIVED bucketing zoom (one cheap aggregate
    // picks tileShift): results are exact regardless of the shift —
    // only the in-ring/fallback split moves — so the oracle is the same
    // brute-force kNN as q10
    "q47_knn_auto" -> ((s, d) => {
      val pts = points(s, d).select(
        (col("l_orderkey") * 8 + col("l_linenumber")).as("id"),
        expr("x32 >> 8").as("x"), expr("y32 >> 8").as("y"))
      val qs = Bridge.parquetTable(s, s"$d/supplier.parquet")
        .filter(col("s_suppkey") < 10)
        .select(col("s_suppkey").as("qid"),
          expr(s"${x32Sql("s_suppkey", "s_suppkey * 3 + 1")} >> 8").as("qx"),
          expr(s"${y32Sql("s_suppkey", "s_suppkey * 5 + 2")} >> 8").as("qy"))
      Knn.knnJoin(s, pts, qs, k = 5)
    }),

    // salient terms: top-3 per doc by tf among terms in <= 80% of docs
    // (integer-only keyword extraction; df cut replaces a stopword list)
    "q48_salient_terms" -> ((s, d) => {
      val docs = Bridge.parquetTable(s, s"$d/documents.parquet")
      val maxDf = docs.count() * 4 / 5
      TextOps.salientTerms(docs, n = 3, maxDf = maxDf)
    }),

    // benchmark decontamination: docs sharing any 4-token shingle with
    // the probe set (doc_id < 50 stands in for an eval set; short
    // synthetic docs need a shorter shingle than the 8-13 tokens real
    // pipelines use); corpus = the rest — train/test leakage detection.
    // Keys are one-pass 62-bit shingle hashes (the 100 TB shape); the
    // oracle recomputes the identical hash.
    "q49_contamination" -> ((s, d) => {
      val all = Bridge.parquetTable(s, s"$d/documents.parquet")
      TextOps.contamination(
        all.filter(col("doc_id") >= 50), all.filter(col("doc_id") < 50), n = 4)
    }),

    // exact-substring decontamination: docs sharing any 30-char exact
    // substring with the probe set — catches reformatted contamination
    // that re-tokenizes differently (the complement of q49); rolling
    // char-30-gram hashes, one O(chars) pass per doc
    "q50_substr_contamination" -> ((s, d) => {
      val all = Bridge.parquetTable(s, s"$d/documents.parquet")
      TextOps.substringContamination(
        all.filter(col("doc_id") >= 50), all.filter(col("doc_id") < 50), n = 30)
    }),

    // intra-corpus duplicate-SPAN detection (corpus x corpus, the Lee
    // et al. self-dedup step): pairs of docs sharing an exact 30-char
    // substring, byte-verified, with the distinct shared-window count;
    // frequency-capped so boilerplate can't go quadratic
    "q51_dup_spans" -> ((s, d) => {
      TextOps.duplicateSpans(
        Bridge.parquetTable(s, s"$d/documents.parquet"), n = 30, cap = 64)
    }),

    // SQL sessionization: gap > 600s starts a new session (lag + cumsum)
    "q35_sessions" -> ((s, d) => {
      Bridge.parquetTable(s, s"$d/events.parquet").createOrReplaceTempView("events_v")
      s.sql("""
        SELECT user_id, count(DISTINCT session_id) AS n_sessions, count(*) AS n_events
        FROM (
          SELECT user_id,
            sum(new_sess) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS session_id
          FROM (
            SELECT user_id, event_id, sec,
              CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) > 600
                   THEN 1 ELSE 0 END AS new_sess
            FROM (SELECT user_id, event_id, unix_timestamp(ts) AS sec FROM events_v) t
          ) m
        ) g GROUP BY user_id
      """)
    }),

    // ---------- classic relational ----------

    // ROLLUP hierarchy aggregation (grouping sets)
    "q36_rollup" -> ((s, d) => li(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(expr("CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)")).as("qty_c"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("cnt"), col("qty_c"))),

    // semi/anti joins: orders with and without any lineitem in a range
    "q37_semi_anti" -> ((s, d) => {
      val o = Bridge.parquetTable(s, s"$d/orders.parquet")
      val liBig = li(s, d).filter(col("l_quantity") >= 25)
      val withBig = o.join(liBig, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), lit(1).as("has_big"))
      val withoutBig = o.join(liBig, col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select(col("o_orderkey"), lit(0).as("has_big"))
      withBig.unionByName(withoutBig)
        .groupBy("has_big").agg(count(lit(1)).as("cnt"))
    }),

    // line→tile enumeration (the pyramid-join membership that drives
    // rendering): per-tile polyline counts from the engine's lineCmds
    // cover — common-prefix single-tile fast path + margin-padded
    // column walk with antimeridian unwrapping. The DuckDB oracle
    // replicates the cover arithmetic exactly (the MVT/PNG byte
    // encodings stay golden-tested against the reference binaries).
    "q38_line_tiles" -> ((s, d) => {
      import s.implicits._
      // polylines: per order, vertices stepped off the order's base point
      // (spatially short lines — the realistic trajectory shape).
      // The per-order reduction is a CODEGEN HASH AGGREGATE with map-side
      // combine (count + min of a packed key), not groupByKey.mapGroups:
      // the typed path shuffled every full row as an object, where only
      // (n, base) per order is needed. Vertices depend only on the base
      // row and the row COUNT, and the deterministic base — the row
      // minimizing (l_linenumber, y32), the same total order mapGroups
      // used — packs losslessly into (l_linenumber << 32) | y32 (y32 is
      // a non-negative mod-2^32 value, l_linenumber tiny positive), so
      // min(packed) IS the base; x32 is a pure function of (l_orderkey,
      // l_linenumber) and is recomputed from the unpacked line number.
      val agg = points(s, d)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n"),
          min((col("l_linenumber").cast("long") * 4294967296L) + col("y32")).as("pk"))
        .filter(col("n") >= 2)
      val lines = agg.select(col("l_orderkey"), col("n"),
          x32(col("l_orderkey"), expr("pk div 4294967296")).as("bx"),
          expr("pk % 4294967296").as("by"))
        .as[(Long, Long, Long, Long)]
        .map { case (k, n, bx, by) =>
          val vs = (0 until n.toInt).map { i =>
            graft.core.Cell.truncate(graft.core.Cell.encode(
              (bx + i * 65536L) & 0xFFFFFFFFL, (by + i * 32768L) & 0xFFFFFFFFL), 48)
          }.toArray
          graft.core.Feature(vs(0), vs, k % 256)
        }
      graft.render.Render.lineTileCover(lines, 10, 48, graft.core.RenderParams())
    }),

    "q32_tpch_q1" -> ((s, d) => li(s, d)
      .filter(expr("unix_timestamp(l_shipdate) <= 904694400"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(expr("CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)")).as("sum_qty_c"),
        sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")).as("sum_price_c"),
        count(lit(1)).as("cnt")))
  )

  // ---------- DuckDB oracles ----------

  def oracleSql: Map[String, String] = Map(
    "q01_cell_encode" ->
      s"""SELECT l_orderkey, l_linenumber, x32, y32, ${cellSql("x32", "y32")} AS cell
         | FROM $pointsSql p""".stripMargin.replace("\n", " "),

    "q02_tile_assign" ->
      s"SELECT (x32 >> 20) AS tx, (y32 >> 20) AS ty, count(*) AS cnt FROM $pointsSql p GROUP BY 1, 2",

    "q03_range_scan" ->
      s"""SELECT l_orderkey, l_linenumber, x32, y32 FROM $pointsSql p
         | WHERE x32 >= ${3L << 29} AND x32 < ${4L << 29}
         |   AND y32 >= ${5L << 29} AND y32 < ${6L << 29}""".stripMargin.replace("\n", " "),

    "q04_enum_rollup" ->
      s"""SELECT z, (x32 >> (32 - z)) AS tx, (y32 >> (32 - z)) AS ty,
         | count(*) AS cnt, CAST(sum(x32) AS BIGINT) AS xsum, CAST(sum(y32) AS BIGINT) AS ysum
         | FROM $pointsSql p, (SELECT unnest(generate_series(0, 8)) AS z) zs
         | GROUP BY 1, 2, 3""".stripMargin.replace("\n", " "),

    "q05_bbox" ->
      s"""SELECT l_orderkey, l_linenumber FROM $pointsSql p
         | WHERE x32 >= ${1L << 30} AND x32 <= ${3L << 30}
         |   AND y32 >= ${1L << 29} AND y32 <= ${(1L << 31) + (1L << 29)}""".stripMargin.replace("\n", " "),

    "q06_merge_union" ->
      s"""SELECT (x32 >> 28) AS tx, (y32 >> 28) AS ty, count(*) AS cnt FROM (
         | SELECT x32, y32 FROM $pointsSql p
         | UNION ALL
         | SELECT ${x32Sql("o_orderkey", "o_custkey")} AS x32,
         |        ${y32Sql("o_orderkey", "o_custkey")} AS y32 FROM orders
         |) u GROUP BY 1, 2""".stripMargin.replace("\n", " "),

    "q07_union_distinct" ->
      s"""SELECT meta, count(*) AS cnt FROM (
         | SELECT DISTINCT (${cellSql("x32", "y32")} & ${-1L << 40}) AS cell_t, meta
         | FROM $pointsSql p
         |) t GROUP BY 1""".stripMargin.replace("\n", " "),

    "q08_siblings" ->
      s"""WITH present AS (SELECT DISTINCT (x32 >> 24) AS tx, (y32 >> 24) AS ty FROM $pointsSql p),
         | quads AS (SELECT DISTINCT tx // 2 AS px, ty // 2 AS py FROM present),
         | alltiles AS (SELECT px * 2 + qx AS tx, py * 2 + qy AS ty
         |   FROM quads, (VALUES (0), (1)) a(qx), (VALUES (0), (1)) b(qy))
         | SELECT tx, ty FROM alltiles EXCEPT SELECT tx, ty FROM present""".stripMargin.replace("\n", " "),

    "q09_pip" ->
      s"""SELECT (l_orderkey * 8 + l_linenumber) AS id, n_nationkey AS poly_id
         | FROM $pointsSql p, nation
         | WHERE ${PipJoin.triangleSql("(n_nationkey::BIGINT)", "x32", "y32")}""".stripMargin.replace("\n", " "),

    "q10_knn" ->
      s"""SELECT qid, id, d2, rn FROM (
         | SELECT qid, id, d2, row_number() OVER (PARTITION BY qid ORDER BY d2, id) AS rn
         | FROM (SELECT q.qid, (p.l_orderkey * 8 + p.l_linenumber) AS id,
         |   ((p.x32 >> 8) - q.qx) * ((p.x32 >> 8) - q.qx) + ((p.y32 >> 8) - q.qy) * ((p.y32 >> 8) - q.qy) AS d2
         |   FROM $pointsSql p, (SELECT s_suppkey AS qid,
         |     (${x32Sql("s_suppkey", "s_suppkey * 3 + 1")} >> 8) AS qx,
         |     (${y32Sql("s_suppkey", "s_suppkey * 5 + 2")} >> 8) AS qy
         |     FROM supplier WHERE s_suppkey < 10) q) c) r
         | WHERE rn <= 5""".stripMargin.replace("\n", " "),

    "q11_antimeridian" ->
      s"""SELECT CASE WHEN abs(b.x32 - a.x32) >= ${1L << 31} THEN 1 ELSE 0 END AS wrapped,
         | count(*) AS cnt
         | FROM $pointsSql a JOIN $pointsSql b
         |   ON a.l_orderkey = b.l_orderkey AND b.l_linenumber = a.l_linenumber + 1
         | GROUP BY 1""".stripMargin.replace("\n", " "),

    "q20_dedup_exact" ->
      "SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*) AS dup_cnt FROM documents GROUP BY 1",

    // hash n-gram sets on BOTH sides (the engine's one-pass rolling
    // kernel; the oracle regenerates the identical straight fold per
    // window string) — counts agree bit-exactly by construction
    "q21_ngram_jaccard" -> {
      def g(t: String) =
        s"list_distinct(list_transform(list_transform(generate_series(1, greatest(len($t) - 4, 0)), i -> substr($t, i, 5)), s -> ${graft.text.PortableHash.tokenHashSql("s")}))"
      s"""SELECT doc_a, doc_b, inter,
         | (ab - inter) AS uni
         | FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |   len(list_intersect(${g("a.text")}, ${g("b.text")})) AS inter,
         |   len(${g("a.text")}) + len(${g("b.text")}) AS ab
         |   FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1) t""".stripMargin.replace("\n", " ")
    },

    "q22_token_count" ->
      "SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> '')) AS toks, len(text) AS chars FROM documents",

    "q41_bpe_tokens" ->
      s"""SELECT doc_id, len(regexp_extract_all(text, '${TextOps.BpePattern}')) AS bpe_toks,
         | len(list_distinct(regexp_extract_all(text, '${TextOps.BpePattern}'))) AS vocab
         | FROM documents""".stripMargin.replace("\n", " "),

    // replays the SAME ranked merges as graft.text.Bpe (single-source
    // fixture): 10 statically-unrolled rounds each applying the
    // lowest-rank merge present — convergent for pre-tokens <= 11 chars
    // (corpus max is 8); docs whose every pre-token count is summed
    "q52_bpe_vocab_tokens" ->
      s"""WITH ${graft.text.Bpe.dictSqlCtes(rounds = 10)},
         | toks AS (SELECT doc_id, unnest(regexp_extract_all(text, '${TextOps.BpePattern}')) AS word FROM documents),
         | agg AS (SELECT t.doc_id, sum(d.n) AS s FROM toks t JOIN bpe_dict d USING (word) GROUP BY 1)
         | SELECT documents.doc_id, CAST(coalesce(a.s, 0) AS BIGINT) AS vocab_toks
         | FROM documents LEFT JOIN agg a USING (doc_id)""".stripMargin.replace("\n", " "),

    // single-source: patterns + order come from TextOps.PiiTypes; DuckDB
    // regexp_replace needs the explicit 'g' flag (Spark replaces all by
    // default), and RE2/Java agree on these lookaround-free shapes
    "q53_pii" -> {
      val counts = TextOps.PiiTypes.map { case (n, pat, _) =>
        s"CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_$n"
      }.mkString(", ")
      val red = TextOps.PiiTypes.foldLeft("text") { case (acc, (_, pat, rep)) =>
        s"regexp_replace($acc, '$pat', '$rep', 'g')"
      }
      s"""WITH planted AS (SELECT doc_id, $piiPlantSql AS text FROM documents)
         | SELECT doc_id, $counts, $red AS red_text FROM planted""".stripMargin.replace("\n", " ")
    },

    "q56_urls" ->
      s"""WITH planted AS (SELECT doc_id, $urlPlantSql AS text FROM documents)
         | SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextOps.UrlPattern}')) AS BIGINT) AS n_urls,
         |  lower(regexp_extract(text, '${TextOps.UrlHostPattern}', 1)) AS host
         | FROM planted""".stripMargin.replace("\n", " "),

    "q57_domain_mix" ->
      s"""WITH planted AS (SELECT doc_id, $urlPlantSql AS text FROM documents),
         | h AS (SELECT lower(regexp_extract(text, '${TextOps.UrlHostPattern}', 1)) AS host FROM planted)
         | SELECT host, CAST(count(*) AS BIGINT) AS n_docs FROM h WHERE host <> '' GROUP BY host""".stripMargin.replace("\n", " "),

    // same token definition as q22 (string_split on ' ', empties
    // filtered) and the same h64 shingle packing as q49 — one source
    "q54_repetition" -> {
      import graft.text.PortableHash
      s"""WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
         | base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS toks_n, CAST(len(list_distinct(toks)) AS BIGINT) AS utoks FROM tok),
         | shs AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(toks) - 1, 0)), i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS s FROM tok),
         | sh AS (SELECT doc_id, ${PortableHash.tokenHashSql("s")} AS h FROM shs),
         | per AS (SELECT doc_id, h, count(*) AS c FROM sh GROUP BY 1, 2),
         | agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS grams2, CAST(max(c) AS BIGINT) AS top2, CAST(count(*) AS BIGINT) AS ugrams2 FROM per GROUP BY 1)
         | SELECT b.doc_id, b.toks_n AS toks, b.utoks,
         |  coalesce(a.grams2, 0) AS grams2, coalesce(a.top2, 0) AS top2, coalesce(a.ugrams2, 0) AS ugrams2
         | FROM base b LEFT JOIN agg a USING (doc_id)""".stripMargin.replace("\n", " ")
    },

    "q23_lang_id" -> {
      def occ(w: String) = s"((len(text) - len(replace(text, '$w', ''))) // ${w.length})"
      val en = s"(${occ(" the ")} + ${occ(" and ")} + ${occ(" of ")})"
      val de = s"(${occ(" der ")} + ${occ(" und ")} + ${occ(" die ")})"
      val fr = s"(${occ(" le ")} + ${occ(" et ")} + ${occ(" la ")})"
      val es = s"(${occ(" el ")} + ${occ(" y ")} + ${occ(" de la ")})"
      s"""SELECT doc_id, $de AS sc_de, $en AS sc_en, $es AS sc_es, $fr AS sc_fr,
         | CASE WHEN $en >= $de AND $en >= $fr AND $en >= $es THEN 'en'
         |      WHEN $de >= $fr AND $de >= $es THEN 'de'
         |      WHEN $fr >= $es THEN 'fr' ELSE 'es' END AS guess
         | FROM documents""".stripMargin.replace("\n", " ")
    },

    "q24_quality" -> {
      def occ(w: String) = s"((len(text) - len(replace(text, '$w', ''))) // ${w.length})"
      val punct = s"(${occ(".")} + ${occ(",")} + ${occ("!")})"
      val stopTerms = Seq(" the ", " and ", " of ", " der ", " und ", " die ",
        " le ", " et ", " la ", " el ", " y ", " de la ").distinct.sorted
      val stop = "(" + stopTerms.map(occ).mkString(" + ") + ")"
      val toks = "len(list_filter(string_split(text, ' '), x -> x <> ''))"
      s"""SELECT doc_id, len(text) AS chars, $toks AS toks, $punct AS punct, $stop AS stop,
         | CASE WHEN len(text) < 64 THEN 0
         |      WHEN $stop * 20 >= $toks THEN 3
         |      WHEN $punct * 10 >= $toks THEN 2 ELSE 1 END AS q_bucket
         | FROM documents""".stripMargin.replace("\n", " ")
    },

    "q25_fingerprint" ->
      s"""SELECT doc_id,
         | CASE WHEN len(clean) = 0 THEN 0
         |   ELSE list_reduce(list_transform(string_split(clean, ''), c -> ascii(c)::BIGINT),
         |     (h, c) -> (h * 31 + c) % 2147483647)
         | END AS fp
         | FROM (SELECT doc_id, regexp_replace(text, '[^a-z ]', '', 'g') AS clean FROM documents) t""".stripMargin.replace("\n", " "),

    "q26_embed_cosine" ->
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         | ${cosSql("a.embedding", "b.embedding")} AS cos
         | FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1""".stripMargin.replace("\n", " "),

    "q58_random_projection" -> {
      val comp = graft.text.RhpSig.compSql("pp.p", "i")
      s"""SELECT e.vec_id, pp.p::BIGINT AS p,
         | list_reduce(list_transform(generate_series(1, len(e.embedding)), i -> (e.embedding[i]::DOUBLE) * ($comp)), (x, y) -> x + y) AS proj
         | FROM embeddings e, (SELECT unnest(generate_series(0, 7)) AS p) pp""".stripMargin.replace("\n", " ")
    },

    "q27_ann_topk" ->
      s"""SELECT qid, vec_id, cos, rn FROM (
         | SELECT qid, vec_id, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
         | FROM (SELECT q.vec_id AS qid, v.vec_id,
         |   ${cosSql("v.embedding", "q.embedding")} AS cos
         |   FROM embeddings v, (SELECT * FROM embeddings WHERE vec_id < 5) q
         |   WHERE v.vec_id <> q.vec_id) c) r
         | WHERE rn <= 10""".stripMargin.replace("\n", " "),

    // portable-hash LSH oracles: the DuckDB side recomputes the exact
    // same integer signature arithmetic (PortableHash/RhpSig generate
    // both the JVM kernels and this SQL), so buckets, candidate pairs
    // and top-k rerank match bit-for-bit.
    "q28_minhash_lsh" ->
      s"WITH $minhashPairsCtes SELECT DISTINCT doc_a, doc_b FROM pairs",

    // connected components of the pair graph by transitive min-label
    // reachability (the recursive-CTE fixpoint equals the engine's
    // large-star/small-star fixpoint: both converge to component
    // minima). ORACLE-SCALE ONLY: the closure materializes O(s^2) reach
    // rows per size-s component — fine at the sf0.01 verification
    // corpus, deliberately not the engine's algorithm (which is the
    // O(log n)-round star transform)
    "q42_dup_clusters" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         | pr AS (SELECT DISTINCT doc_a, doc_b FROM pairs),
         | edges AS (SELECT doc_a AS ea, doc_b AS eb FROM pr UNION ALL SELECT doc_b, doc_a FROM pr),
         | reach(node, rep) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.node, e.eb FROM reach r JOIN edges e ON e.ea = r.rep)
         | SELECT node AS doc_id, min(rep) AS rep FROM reach GROUP BY node""".stripMargin.replace("\n", " "),

    "q55_keep_best" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         | pr AS (SELECT DISTINCT doc_a, doc_b FROM pairs),
         | edges AS (SELECT doc_a AS ea, doc_b AS eb FROM pr UNION ALL SELECT doc_b, doc_a FROM pr),
         | reach(node, rep) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.node, e.eb FROM reach r JOIN edges e ON e.ea = r.rep),
         | labels AS (SELECT node AS doc_id, min(rep) AS rep FROM reach GROUP BY node),
         | sc AS (SELECT doc_id, CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS score FROM documents),
         | j AS (SELECT s.doc_id, l.rep, s.score FROM sc s JOIN labels l ON l.doc_id = s.doc_id),
         | b AS (SELECT rep, max(score) AS bs FROM j GROUP BY rep),
         | k AS (SELECT j.rep, min(j.doc_id) AS bid FROM j JOIN b ON b.rep = j.rep AND j.score = b.bs GROUP BY j.rep)
         | SELECT j.doc_id, j.rep, j.score, CAST(CASE WHEN j.doc_id = k.bid THEN 1 ELSE 0 END AS BIGINT) AS kept
         | FROM j JOIN k ON k.rep = j.rep""".stripMargin.replace("\n", " "),

    "q43_stratified_sample" ->
      s"""SELECT doc_id, stratum, h FROM (
         |  SELECT doc_id, stratum, h,
         |    row_number() OVER (PARTITION BY stratum ORDER BY h, doc_id) AS rn
         |  FROM (SELECT doc_id, length(text) // 100 AS stratum,
         |    ${graft.text.TextOps.sampleHashSql("doc_id")} AS h FROM documents) t) r
         | WHERE rn <= 40""".stripMargin.replace("\n", " "),

    // greedy budget semantics: keep a row iff the tokens BEFORE it in
    // (h, doc_id) order are still under budget — the plain window form
    // the engine's distributed prefix sum must equal
    "q59_token_budget_mix" ->
      s"""WITH t AS (SELECT doc_id, source,
         |  len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_toks,
         |  ${graft.text.TextOps.sampleHashSql("doc_id")} AS h FROM documents),
         | w AS (SELECT doc_id, source, n_toks,
         |  CAST(sum(n_toks) OVER (PARTITION BY source ORDER BY h, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM t)
         | SELECT doc_id, source, n_toks, cum FROM w WHERE cum - n_toks < 600""".stripMargin.replace("\n", " "),

    // the zero-token filter sits BEFORE the window (WHERE precedes
    // window evaluation) — empty docs occupy no sequence
    "q62_seq_pack" ->
      s"""WITH t AS (SELECT doc_id,
         |  len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_toks,
         |  ${graft.text.TextOps.sampleHashSql("doc_id")} AS h FROM documents),
         | w AS (SELECT doc_id, n_toks,
         |  CAST(sum(n_toks) OVER (ORDER BY h, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM t WHERE n_toks > 0)
         | SELECT doc_id, n_toks, cum, (cum - n_toks) // 256 AS first_seq,
         |  (cum - 1) // 256 AS last_seq FROM w""".stripMargin.replace("\n", " "),

    // rarity cap 2^20 saturates hapax tokens and bounds every
    // intermediate < 2^52 (ANSI/DuckDB-safe); zero-token docs keep 0s
    "q61_unigram_rarity" ->
      s"""WITH tk AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents),
         | tf AS (SELECT doc_id, tok, count(*) AS n FROM tk GROUP BY 1, 2),
         | cnt AS (SELECT tok, CAST(sum(n) AS BIGINT) AS c FROM tf GROUP BY 1),
         | tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM cnt),
         | sc AS (SELECT tf.doc_id, CAST(sum(tf.n) AS BIGINT) AS toks,
         |   CAST(sum(tf.n * least(tot.t // cnt.c, 1048576)) AS BIGINT) AS rarity
         |  FROM tf JOIN cnt USING (tok), tot GROUP BY 1)
         | SELECT d.doc_id, coalesce(sc.toks, 0) AS toks, coalesce(sc.rarity, 0) AS rarity
         | FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id""".stripMargin.replace("\n", " "),

    // trained-fixture replay (the q52 recipe): the SAME int8 weights the
    // engine loaded are inlined as a VALUES table and the dot product is
    // replayed per token hash — pure BIGINT arithmetic, bit-exact
    "q63_quality_model" -> {
      import graft.text.{PortableHash, QualityModel}
      val wt = (0 until QualityModel.Buckets)
        .map(b => s"($b, ${QualityModel.weights(b)})").mkString(", ")
      s"""WITH wt(b, w) AS (VALUES $wt),
         | tk AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents),
         | th AS (SELECT doc_id, (${PortableHash.tokenHashSql("tok")}) % ${QualityModel.Buckets} AS b FROM tk),
         | sc AS (SELECT th.doc_id, CAST(count(*) AS BIGINT) AS toks, CAST(sum(wt.w) AS BIGINT) AS s
         |   FROM th JOIN wt USING (b) GROUP BY 1)
         | SELECT d.doc_id, coalesce(sc.toks, 0) AS toks,
         |  CAST(${QualityModel.bias} + coalesce(sc.s, 0) AS BIGINT) AS score,
         |  CASE WHEN ${QualityModel.bias} + coalesce(sc.s, 0) >= 0 THEN 1 ELSE 0 END AS keep
         | FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id""".stripMargin.replace("\n", " ")
    },

    // trained-fixture replay (the q63 recipe, bigram edition): the SAME
    // integer micro-log10 costs the engine loaded are inlined as a
    // VALUES table; consecutive token hashes pair via the identical
    // <2^52 integer bucket expression — pure BIGINT arithmetic
    "q65_lm_perplexity" -> {
      import graft.text.{LmModel, PortableHash}
      val ct = (0 until LmModel.Buckets)
        .map(b => s"($b, ${LmModel.costs(b)})").mkString(", ")
      s"""WITH ct(b, c) AS (VALUES $ct),
         | tk AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
         | hh AS (SELECT doc_id, list_transform(toks, t -> ${PortableHash.tokenHashSql("t")}) AS hs FROM tk),
         | bg AS (SELECT doc_id, unnest(list_transform(generate_series(2, len(hs)), i ->
         |   ((hs[i-1] % ${LmModel.PairMod}) * ${LmModel.PairMul} + (hs[i] % ${LmModel.PairMod})) % ${LmModel.Buckets})) AS b
         |  FROM hh WHERE len(hs) >= 2),
         | sc AS (SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_big, CAST(sum(ct.c) AS BIGINT) AS cost
         |   FROM bg JOIN ct USING (b) GROUP BY 1)
         | SELECT d.doc_id, coalesce(sc.n_big, 0) AS n_big, coalesce(sc.cost, 0) AS cost,
         |  CASE WHEN coalesce(sc.n_big, 0) > 0 THEN sc.cost // sc.n_big ELSE 0 END AS avg_cost,
         |  CASE WHEN coalesce(sc.n_big, 0) = 0 THEN 2
         |   WHEN sc.cost // sc.n_big <= ${LmModel.headMax} THEN 0
         |   WHEN sc.cost // sc.n_big <= ${LmModel.midMax} THEN 1 ELSE 2 END AS ppl_bucket
         | FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id""".stripMargin.replace("\n", " ")
    },

    // single-source with PortableHash.tokenHashSql: the per-line h64
    // fold, threshold and rewrite replay the engine bit-exactly (split
    // on chr(10) keeps trailing empties on both sides; empty lines
    // hash to 0 on both sides)
    "q66_line_dedup" -> {
      import graft.text.PortableHash
      val keepFilter = s"list_filter(ls, l -> NOT list_contains(arr, ${PortableHash.tokenHashSql("l")}))"
      s"""WITH pl AS (SELECT doc_id, $linePlantSql AS page FROM documents),
         | lx AS (SELECT doc_id, string_split(page, chr(10)) AS ls FROM pl),
         | ln AS (SELECT unnest(ls) AS line FROM lx),
         | hh AS (SELECT ${PortableHash.tokenHashSql("line")} AS h FROM ln),
         | hot AS (SELECT coalesce(list(h), []) AS arr FROM (SELECT h FROM hh GROUP BY h HAVING count(*) >= $LineDedupMinCount)),
         | o AS (SELECT doc_id, ls, arr FROM lx CROSS JOIN hot)
         | SELECT doc_id, array_to_string($keepFilter, chr(10)) AS clean_text,
         |  CAST(len(ls) AS BIGINT) AS n_lines,
         |  CAST(len($keepFilter) AS BIGINT) AS n_kept
         | FROM o""".stripMargin.replace("\n", " ")
    },

    // single-source with TextOps.htmlColumns: patterns, entity table
    // and decode ORDER come from the same constants
    "q60_html_extract" -> {
      import graft.text.TextOps
      val noBlocks = s"regexp_replace(regexp_replace(html, '${TextOps.HtmlScriptPattern}', ' ', 'g'), '${TextOps.HtmlStylePattern}', ' ', 'g')"
      val noTags = s"regexp_replace($noBlocks, '${TextOps.HtmlTagPattern}', ' ', 'g')"
      val decoded = TextOps.HtmlEntities.foldLeft(noTags) { case (acc, (ent, rep)) =>
        s"replace($acc, '$ent', '${rep.replace("'", "''")}')"
      }
      val main = s"trim(regexp_replace($decoded, '${TextOps.HtmlSpacePattern}', ' ', 'g'))"
      s"""WITH planted AS (SELECT doc_id, $htmlPlantSql AS html FROM documents),
         | m AS (SELECT doc_id, html, $main AS main_text FROM planted)
         | SELECT doc_id, main_text, len(main_text) AS n_chars,
         |  len(regexp_extract_all(html, '${TextOps.HtmlLinkPattern}')) AS n_links,
         |  len(regexp_extract_all(html, '${TextOps.HtmlScriptPattern}')) AS n_scripts,
         |  (len(main_text) * 1000) // len(html) AS keep_x1000
         | FROM m""".stripMargin.replace("\n", " ")
    },

    "q29_simhash" -> {
      import graft.text.PortableHash
      s"""WITH cl AS (SELECT doc_id, ${PortableHash.cleanSql("text")} AS clean FROM documents),
         | tk AS (SELECT doc_id, list_filter(string_split(clean, ' '), x -> x <> '') AS toks FROM cl),
         | hs AS (SELECT doc_id, list_transform(toks, t -> ${PortableHash.tokenHashSql("t")}) AS hh, len(toks) AS n FROM tk)
         | SELECT doc_id, ${PortableHash.simhashSql("hh", "n")} AS simhash FROM hs""".stripMargin.replace("\n", " ")
    },

    "q28_ann_lsh" -> {
      val comp = graft.text.RhpSig.compSql("pp.p", "i")
      // query-side multi-probe masks (exact + <=2 bit flips per band
      // key) — the same Ann.probeMasks list the engine explodes
      val masks = Ann.probeMasks(rows = 8, maxFlips = 2).mkString(", ")
      s"""WITH bits AS (SELECT e.vec_id, pp.p,
         |   CASE WHEN list_reduce(list_transform(generate_series(1, len(e.embedding)), i -> (e.embedding[i]::DOUBLE) * ($comp)), (x, y) -> x + y) >= 0 THEN 1::BIGINT ELSE 0::BIGINT END AS bit
         |  FROM embeddings e, (SELECT unnest(generate_series(0, 63)) AS p) pp),
         | bands AS (SELECT vec_id, p // 8 AS band, CAST(sum(bit << (p % 8)) AS BIGINT) AS key FROM bits GROUP BY 1, 2),
         | qb AS (SELECT band, xor(key, fb.mk) AS key, vec_id AS qid
         |   FROM bands, (SELECT unnest([$masks]) AS mk) fb WHERE vec_id < 5),
         | cand AS (SELECT DISTINCT q.qid, v.vec_id FROM bands v JOIN qb q ON v.band = q.band AND v.key = q.key AND v.vec_id <> q.qid),
         | scored AS (SELECT c.qid, c.vec_id, ${cosSql("v.embedding", "q.embedding")} AS cos
         |   FROM cand c JOIN embeddings v ON v.vec_id = c.vec_id JOIN embeddings q ON q.vec_id = c.qid)
         | SELECT qid, vec_id, cos, rn FROM (SELECT qid, vec_id, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM scored) r WHERE rn <= 10""".stripMargin.replace("\n", " ")
    },

    "q40_ann_ivf" ->
      s"""WITH ${graft.oracle.VecSql.kmeansCentsCte(k = 8, iters = 3)},
         | asg AS (SELECT vec_id, cell FROM (
         |   SELECT v.vec_id, c.cid AS cell,
         |     row_number() OVER (PARTITION BY v.vec_id ORDER BY ${cosSql("v.embedding", "c.cvec")} DESC, c.cid) AS rn
         |   FROM embeddings v, cents c) a WHERE rn = 1),
         | probes AS (SELECT qid, cell FROM (
         |   SELECT q.vec_id AS qid, c.cid AS cell,
         |     row_number() OVER (PARTITION BY q.vec_id ORDER BY ${cosSql("q.embedding", "c.cvec")} DESC, c.cid) AS rn
         |   FROM (SELECT * FROM embeddings WHERE vec_id < 5) q, cents c) b WHERE rn <= 4),
         | cand AS (SELECT DISTINCT p.qid, a.vec_id FROM probes p JOIN asg a ON a.cell = p.cell WHERE a.vec_id <> p.qid),
         | scored AS (SELECT c.qid, c.vec_id, ${cosSql("v.embedding", "q.embedding")} AS cos
         |   FROM cand c JOIN embeddings v ON v.vec_id = c.vec_id JOIN embeddings q ON q.vec_id = c.qid)
         | SELECT qid, vec_id, cos, rn FROM (
         |   SELECT qid, vec_id, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
         |   FROM scored) r WHERE rn <= 10""".stripMargin.replace("\n", " "),

    "q39_neardup_lsh" ->
      s"""WITH $embedPairsCtes
         | SELECT vec_a, vec_b, cos FROM epairs""".stripMargin.replace("\n", " "),

    // components over the embedding near-dup graph (same recursive-CTE
    // fixpoint as q42, over q39's pair CTEs)
    "q44_embed_clusters" ->
      s"""WITH RECURSIVE $embedPairsCtes,
         | edges AS (SELECT vec_a AS ea, vec_b AS eb FROM epairs UNION ALL SELECT vec_b, vec_a FROM epairs),
         | reach(node, rep) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT r.node, e.eb FROM reach r JOIN edges e ON e.ea = r.rep)
         | SELECT node AS vec_id, min(rep) AS rep FROM reach GROUP BY node""".stripMargin.replace("\n", " "),

    // replayed fixed centroids (the q40 CTE) + within-cell pair graph +
    // the q44 recursive-reach fixpoint, restricted to same-cell edges
    "q64_semdedup" ->
      s"""WITH RECURSIVE ${graft.oracle.VecSql.kmeansCentsCte(k = 8, iters = 3)},
         | asg AS (SELECT vec_id, cell FROM (
         |   SELECT v.vec_id, c.cid AS cell,
         |     row_number() OVER (PARTITION BY v.vec_id ORDER BY ${cosSql("v.embedding", "c.cvec")} DESC, c.cid) AS rn
         |   FROM embeddings v, cents c) a WHERE rn = 1),
         | spairs AS (SELECT a.vec_id AS va, b.vec_id AS vb
         |   FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |   JOIN embeddings ea ON ea.vec_id = a.vec_id
         |   JOIN embeddings eb ON eb.vec_id = b.vec_id
         |   WHERE ${cosSql("ea.embedding", "eb.embedding")} >= 0.3),
         | edges AS (SELECT va AS x, vb AS y FROM spairs UNION ALL SELECT vb, va FROM spairs),
         | reach(node, rep) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT r.node, e.y FROM reach r JOIN edges e ON e.x = r.rep),
         | lab AS (SELECT node AS vec_id, min(rep) AS rep FROM reach GROUP BY node)
         | SELECT l.vec_id, a.cell, l.rep,
         |  CASE WHEN l.vec_id = l.rep THEN 1 ELSE 0 END AS keep
         | FROM lab l JOIN asg a USING (vec_id)""".stripMargin.replace("\n", " "),

    "q31_embed_neardup" ->
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         | ${cosSql("a.embedding", "b.embedding")} AS cos
         | FROM embeddings a, embeddings b
         | WHERE a.vec_id < b.vec_id AND ${cosSql("a.embedding", "b.embedding")} >= 0.25""".stripMargin.replace("\n", " "),

    "q33_join_agg" ->
      s"""SELECT o_orderpriority, count(*) AS cnt,
         | CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS qty_c
         | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         | GROUP BY 1""".stripMargin.replace("\n", " "),

    "q34_top_suppliers" ->
      s"""SELECT l_returnflag, l_suppkey, qty_c, rn FROM (
         | SELECT l_returnflag, l_suppkey, qty_c,
         |   row_number() OVER (PARTITION BY l_returnflag ORDER BY qty_c DESC, l_suppkey) AS rn
         | FROM (SELECT l_returnflag, l_suppkey,
         |   CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS qty_c
         |   FROM lineitem GROUP BY 1, 2) a) r
         | WHERE rn <= 3""".stripMargin.replace("\n", " "),

    "q46_range_join" ->
      s"""WITH p AS (SELECT event_id AS pid, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v FROM events WHERE event_type = 'click'),
         | i AS (SELECT CAST(s_suppkey AS BIGINT) AS iid,
         |   CAST((s_suppkey * 1009) % 2000 AS BIGINT) AS lo,
         |   CAST((s_suppkey * 1009) % 2000 + 50 + (s_suppkey * 31) % 500 AS BIGINT) AS hi FROM supplier)
         | SELECT p.pid, p.v, i.iid FROM p JOIN i ON p.v >= i.lo AND p.v <= i.hi""".stripMargin.replace("\n", " "),

    "q48_salient_terms" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split_regex(regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' +')) AS term
         |  FROM documents),
         | t AS (SELECT doc_id, term FROM toks WHERE term <> ''),
         | tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         | dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY 1
         |   HAVING count(DISTINCT doc_id) <= (SELECT (count(*) * 4) // 5 FROM documents))
         | SELECT doc_id, term, tf, df, rn FROM (
         |  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
         |    row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, tf.term) AS rn
         |  FROM tf JOIN dfq USING (term)) r
         | WHERE rn <= 3""".stripMargin.replace("\n", " "),

    // single-source hash: tokenHashSql generates the same
    // (poly31<<31)|poly37 packing the JVM kernel computes per shingle
    "q49_contamination" -> {
      import graft.text.PortableHash
      s"""WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
         | shs AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(toks) - 3, 0)), i -> array_to_string(list_slice(toks, i, i + 3), ' '))) AS s FROM tok),
         | sh AS (SELECT doc_id, ${PortableHash.tokenHashSql("s")} AS sh FROM shs),
         | probe AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 50),
         | corpus AS (SELECT doc_id, sh FROM sh WHERE doc_id >= 50)
         | SELECT c.doc_id, count(*) AS hits, count(DISTINCT c.sh) AS distinct_hits
         | FROM corpus c JOIN probe p USING (sh) GROUP BY 1""".stripMargin.replace("\n", " ")
    },

    "q50_substr_contamination" -> {
      import graft.text.PortableHash
      s"""WITH w0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(text) - 29, 0)), i -> substr(text, i, 30))) AS s FROM documents),
         | w AS (SELECT doc_id, ${PortableHash.tokenHashSql("s")} AS wh FROM w0),
         | probe AS (SELECT DISTINCT wh FROM w WHERE doc_id < 50),
         | corpus AS (SELECT doc_id, wh FROM w WHERE doc_id >= 50)
         | SELECT c.doc_id, count(*) AS hits, count(DISTINCT c.wh) AS distinct_hits
         | FROM corpus c JOIN probe p USING (wh) GROUP BY 1""".stripMargin.replace("\n", " ")
    },

    // same hash + cap + star + byte-verify as TextOps.duplicateSpans;
    // min(snip) per (doc, wh) keeps the collision case deterministic
    "q51_dup_spans" -> {
      import graft.text.PortableHash
      s"""WITH w0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(text) - 29, 0)), i -> substr(text, i, 30))) AS s FROM documents),
         | wh0 AS (SELECT doc_id, ${PortableHash.tokenHashSql("s")} AS wh, s FROM w0),
         | w AS (SELECT DISTINCT doc_id, wh FROM wh0),
         | b AS (SELECT wh, count(*) AS bcnt FROM w GROUP BY 1 HAVING count(*) >= 2),
         | ws AS (SELECT DISTINCT doc_id, wh, s AS snip FROM wh0),
         | c AS (SELECT ws.doc_id, ws.wh, ws.snip, b.bcnt FROM ws JOIN b USING (wh)),
         | smallp AS (SELECT a.wh, a.doc_id AS doc_a, a.snip AS snip_a, b2.doc_id AS doc_b, b2.snip AS snip_b
         |   FROM c a JOIN c b2 ON a.wh = b2.wh AND a.doc_id < b2.doc_id WHERE a.bcnt <= 64),
         | starm AS (SELECT wh, snip, min(doc_id) AS doc_a FROM c WHERE bcnt > 64 GROUP BY 1, 2),
         | starp AS (SELECT o.wh, m.doc_a, m.snip AS snip_a, o.doc_id AS doc_b, o.snip AS snip_b
         |   FROM (SELECT * FROM c WHERE bcnt > 64) o
         |   JOIN starm m ON m.wh = o.wh AND m.snip = o.snip AND o.doc_id <> m.doc_a),
         | u AS (SELECT * FROM smallp UNION ALL SELECT * FROM starp)
         | SELECT doc_a, doc_b, count(DISTINCT wh) AS shared_windows
         | FROM u WHERE snip_a = snip_b GROUP BY 1, 2""".stripMargin.replace("\n", " ")
    },

    // auto-shift kNN is EXACT (the density heuristic only moves the
    // in-ring/fallback split), so the oracle is q10's brute force
    "q47_knn_auto" ->
      s"""SELECT qid, id, d2, rn FROM (
         | SELECT qid, id, d2, row_number() OVER (PARTITION BY qid ORDER BY d2, id) AS rn
         | FROM (SELECT q.qid, (p.l_orderkey * 8 + p.l_linenumber) AS id,
         |   ((p.x32 >> 8) - q.qx) * ((p.x32 >> 8) - q.qx) + ((p.y32 >> 8) - q.qy) * ((p.y32 >> 8) - q.qy) AS d2
         |   FROM $pointsSql p, (SELECT s_suppkey AS qid,
         |     (${x32Sql("s_suppkey", "s_suppkey * 3 + 1")} >> 8) AS qx,
         |     (${y32Sql("s_suppkey", "s_suppkey * 5 + 2")} >> 8) AS qy
         |     FROM supplier WHERE s_suppkey < 10) q) c) r
         | WHERE rn <= 5""".stripMargin.replace("\n", " "),

    // replica of the union-and-carry-forward as-of join; verified
    // equivalent to DuckDB's native ASOF JOIN on the same data
    "q45_asof_join" ->
      s"""WITH uni AS (
         |  SELECT user_id, ts, event_id AS lid, NULL::BIGINT AS rid, 1 AS side FROM events WHERE event_type = 'click' AND ts IS NOT NULL
         |  UNION ALL
         |  SELECT user_id, ts, NULL::BIGINT AS lid, event_id AS rid, 0 AS side FROM events WHERE event_type = 'view' AND ts IS NOT NULL),
         | c AS (SELECT user_id, lid, side,
         |   last_value(rid IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, side, COALESCE(rid, lid)
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rid_c
         | FROM uni)
         | SELECT lid AS click_id, user_id, COALESCE(rid_c, -1) AS view_id FROM c WHERE side = 1""".stripMargin.replace("\n", " "),

    "q35_sessions" ->
      s"""SELECT user_id, count(DISTINCT session_id) AS n_sessions, count(*) AS n_events
         | FROM (
         |  SELECT user_id,
         |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS session_id
         |  FROM (
         |   SELECT user_id, event_id, sec,
         |     CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) > 600
         |          THEN 1 ELSE 0 END AS new_sess
         |   FROM (SELECT user_id, event_id, (epoch_us(ts) // 1000000) AS sec FROM events) t
         |  ) m
         | ) g GROUP BY user_id""".stripMargin.replace("\n", " "),

    "q30_window_agg" ->
      s"""SELECT event_type, (epoch_us(ts) // 1000000) // 60 AS minute,
         | count(*) AS cnt, CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
         | FROM events GROUP BY 1, 2""".stripMargin.replace("\n", " "),

    "q36_rollup" ->
      s"""SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
         | count(*) AS cnt,
         | CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS qty_c
         | FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin.replace("\n", " "),

    "q37_semi_anti" ->
      s"""SELECT has_big, count(*) AS cnt FROM (
         | SELECT o_orderkey, 1 AS has_big FROM orders
         |  WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 25)
         | UNION ALL
         | SELECT o_orderkey, 0 AS has_big FROM orders
         |  WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 25)
         |) t GROUP BY 1""".stripMargin.replace("\n", " "),

    // line→tile cover replica: same vertex synthesis (65536/32768 steps
    // off the base point, 24-bit truncation), common-level computation
    // (bit-smear leading-zero count), antimeridian segment unwrapping,
    // and margin-padded column walk as Render.lineCmds — constants
    // derived by the SAME expressions as RenderParams (margin =
    // ceil((1+lineThick) * 2^(32-z) / tilesize)); the per-column
    // y-interval interpolation uses the identical double op sequence,
    // so the tile sets match exactly.
    "q38_line_tiles" -> {
      val z = 10
      val p = graft.core.RenderParams()
      val w = (1L << (32 - z)).toDouble
      val margin = ((1.0 + p.lineThick) * w / p.tilesize).ceil.toLong
      val nT = 1L << z
      val sh = 32 - z
      s"""WITH ord AS (SELECT l_orderkey,
         |   row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, y32) - 1 AS i,
         |   count(*) OVER (PARTITION BY l_orderkey) AS n,
         |   first_value(x32) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, y32) AS bx,
         |   first_value(y32) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, y32) AS by
         |  FROM $pointsSql p),
         | verts AS (SELECT l_orderkey, i, n,
         |   ((bx + i * 65536) & 4294967040) AS vx,
         |   ((by + i * 32768) & 4294967040) AS vy FROM ord WHERE n >= 2),
         | v0 AS (SELECT l_orderkey, vx AS vx0, vy AS vy0 FROM verts WHERE i = 0),
         | df AS (SELECT v.l_orderkey, bit_or(xor(v.vx, v0.vx0) | xor(v.vy, v0.vy0)) AS d
         |   FROM verts v JOIN v0 USING (l_orderkey) GROUP BY 1),
         | lvl AS (SELECT l_orderkey, least(${48 / 2}, 32 - bit_count(s4 | (s4 >> 16))) AS c0
         |   FROM (SELECT l_orderkey, s3 | (s3 >> 8) AS s4 FROM (SELECT l_orderkey, s2 | (s2 >> 4) AS s3
         |     FROM (SELECT l_orderkey, s1 | (s1 >> 2) AS s2 FROM (SELECT l_orderkey, d | (d >> 1) AS s1 FROM df) a) b) c) e),
         | lines AS (SELECT v0.l_orderkey, v0.vx0, v0.vy0, lvl.c0 FROM v0 JOIN lvl USING (l_orderkey)),
         | segs AS (SELECT a.l_orderkey, a.vx AS x0, a.vy AS y0, b.vx AS x1, b.vy AS y1
         |   FROM verts a JOIN verts b ON b.l_orderkey = a.l_orderkey AND b.i = a.i + 1),
         | segv AS (SELECT s.l_orderkey, s.y0, s.y1,
         |   CASE WHEN abs(s.x1 - s.x0) < 2147483648 THEN s.x0
         |        WHEN s.x1 > s.x0 THEN (CASE WHEN vv.v = 0 THEN s.x0 ELSE s.x0 + 4294967296 END)
         |        ELSE (CASE WHEN vv.v = 0 THEN s.x0 ELSE s.x0 - 4294967296 END) END AS xa,
         |   CASE WHEN abs(s.x1 - s.x0) < 2147483648 THEN s.x1
         |        WHEN s.x1 > s.x0 THEN (CASE WHEN vv.v = 0 THEN s.x1 - 4294967296 ELSE s.x1 END)
         |        ELSE (CASE WHEN vv.v = 0 THEN s.x1 + 4294967296 ELSE s.x1 END) END AS xb
         |   FROM segs s, (VALUES (0), (1)) vv(v)
         |   WHERE vv.v = 0 OR abs(s.x1 - s.x0) >= 2147483648),
         | cols AS (SELECT l_orderkey, y0, y1, xa, xb,
         |   unnest(generate_series(CAST(floor((least(xa, xb) - $margin) / $w) AS BIGINT),
         |                          CAST(floor((greatest(xa, xb) + $margin) / $w) AS BIGINT))) AS tx
         |   FROM segv),
         | yint AS (SELECT l_orderkey, tx,
         |   CASE WHEN xb = xa THEN least(y0::DOUBLE, y1::DOUBLE) ELSE least(u0, u1) END AS y0c,
         |   CASE WHEN xb = xa THEN greatest(y0::DOUBLE, y1::DOUBLE) ELSE greatest(u0, u1) END AS y1c
         |   FROM (SELECT *,
         |     y0::DOUBLE + (y1::DOUBLE - y0::DOUBLE) * greatest(0.0, least(1.0, ((tx * $w - $margin.0) - xa) / ((xb - xa)::DOUBLE))) AS u0,
         |     y0::DOUBLE + (y1::DOUBLE - y0::DOUBLE) * greatest(0.0, least(1.0, (((tx + 1) * $w + $margin.0) - xa) / ((xb - xa)::DOUBLE))) AS u1
         |    FROM cols) t),
         | walk AS (SELECT l_orderkey, ((tx % $nT) + $nT) % $nT AS txw,
         |   unnest(generate_series(
         |     greatest(0, CAST(trunc(y0c - $margin.0) AS BIGINT)) >> $sh,
         |     least(4294967295, CAST(trunc(y1c + $margin.0) AS BIGINT)) >> $sh)) AS ty
         |   FROM yint),
         | cov AS (
         |   SELECT l_orderkey, (vx0 >> $sh) AS x, (vy0 >> $sh) AS y FROM lines WHERE c0 > $z
         |   UNION
         |   SELECT DISTINCT w.l_orderkey, w.txw AS x, w.ty AS y
         |   FROM walk w JOIN lines l USING (l_orderkey)
         |   WHERE l.c0 <= $z AND (l.c0 = 0 OR ((w.txw >> ($z - l.c0)) = (l.vx0 >> (32 - l.c0)) AND (w.ty >> ($z - l.c0)) = (l.vy0 >> (32 - l.c0)))))
         | SELECT CAST($z AS BIGINT) AS z, x, y, count(*) AS nlines FROM cov GROUP BY 2, 3""".stripMargin.replace("\n", " ")
    },

    "q32_tpch_q1" ->
      s"""SELECT l_returnflag, l_linestatus,
         | CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty_c,
         | CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_c,
         | count(*) AS cnt
         | FROM lineitem WHERE (epoch_us(l_shipdate) // 1000000) <= 904694400
         | GROUP BY 1, 2""".stripMargin.replace("\n", " ")
  )
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.UTF_8

/** End-to-end web-curation pipeline over a writer-authored WARC
  * fixture: every stage must act (extract, language, quality, PII,
  * exact dedup, near-dup keep-one, packing) and the funnel counts must
  * tell the story. */
class WebCurationSpec extends AnyFunSuite {
  import WebCurationSpec._

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("WARC -> curated parquet: every stage acts; funnel counts are honest") {
    val d1 = "2024-04-01T00:00:00Z"
    val dir = java.nio.file.Files.createTempDirectory("cur")
    val members = Seq(
      // near-dup pair (tiny suffix edit) — keep ONE
      response("http://a.example.org/1", d1, s"<html><body>$coreA alpha</body></html>"),
      response("http://a.example.org/2", d1, s"<html><body>$coreA alpha v</body></html>"),
      // exact-dup pair (identical after extraction) — keep ONE; also
      // carries PII that must be redacted BEFORE dedup
      response("http://b.example.org/1", d1,
        s"<html><body>$coreB beta mail bob@example.com ok</body></html>"),
      response("http://b.example.org/2", d1,
        s"<html><body>$coreB beta mail bob@example.com ok</body></html>"),
      // unique keeper
      response("http://c.example.org/", d1, s"<html><body>$coreC gamma</body></html>"),
      // German page: language filter drops it
      response("http://de.example.org/", d1,
        "<html><body>der schnelle tisch und die reihe der wert und die gruppe</body></html>"),
      // ciphered garbage (right shape, wrong vocabulary): quality drops it
      response("http://junk.example.org/", d1,
        "<html><body>" + graft.tools.QualityTrain.cipher(coreA + " delta") + "</body></html>"),
      // right words, degenerate ORDER: the bag-of-words quality model
      // keeps it (q63 margin +275); only the bigram-LM stage can drop
      // it (avg cost ~4.44e6, far above the keepers' <= 3.36e6)
      response("http://wordsalad.example.org/", d1,
        "<html><body>" + ("end the " * 12).trim + "</body></html>"),
      // script-only page: extraction leaves no text
      response("http://empty.example.org/", d1, "<html><script>x()</script></html>"))
    java.nio.file.Files.write(dir.resolve("crawl.warc.gz"),
      members.flatMap(m => gzMember(m).toSeq).toArray)

    val out = dir.resolve("curated").toString
    val (curated, c) = graft.pipelines.WebCuration.run(
      spark, dir.toString + "/*.warc.gz", out, lang = "en", seqLen = 16L,
      maxAvgLmCost = 3800000L)

    assert(c.pages == 9)
    assert(c.extracted == 8, s"script-only page must extract empty: $c")
    assert(c.langKept == 7, s"German page must drop at language: $c")
    assert(c.qualityKept == 6, s"ciphered page must drop at quality: $c")
    assert(c.lmKept == 5, s"word-salad page must drop at the LM stage: $c")
    assert(c.exactKept == 4, s"exact-dup pair must collapse: $c")
    assert(c.neardupKept == 3, s"near-dup pair must keep one: $c")
    assert(c.totalTokens > 0 && c.sequences >= 1)

    val rows = curated.collect()
    assert(rows.length == 3)
    val byUrl = rows.map(r => r.getAs[String]("url") -> r).toMap
    // PII redacted in the surviving beta doc
    val beta = byUrl.keys.filter(_.startsWith("http://b.example.org")).toSeq
    assert(beta.size == 1)
    val betaText = byUrl(beta.head).getAs[String]("text")
    assert(betaText.contains("<EMAIL>") && !betaText.contains("bob@example.com"))
    // packing bookkeeping: contiguous token intervals, seqLen chunks
    val packed = rows.map(r => (r.getAs[Long]("n_toks"), r.getAs[Long]("cum"),
      r.getAs[Long]("first_seq"), r.getAs[Long]("last_seq")))
    val totalToks = packed.map(_._1).sum
    assert(packed.map(_._2).max == totalToks, "cum must end at the token total")
    assert(c.sequences == (totalToks - 1) / 16 + 1)
    // the near-dup keeper is one of the two a.example.org variants
    assert(byUrl.keys.count(_.startsWith("http://a.example.org")) == 1)
  }

  test("streaming curation: later batches dedup against everything ever curated") {
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("curstream").toString
    val tbl = "cur_stream_bands"
    // bootstrap: empty state (the documented contract)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
    graft.text.TextDedupState.writeTextDedupState(empty, s"$base/state", tbl, buckets = 4)

    val d1 = "2024-04-01T00:00:00Z"
    val fx = new StreamFixture(base, (in, ckpt) =>
      graft.pipelines.WebCuration.runStream(spark, in, s"$base/out", tbl,
        s"$base/state", buckets = 4, checkpointDir = ckpt))
    def feed(tag: String, members: Seq[Array[Byte]]): Unit =
      fx.feed(tag)(warcFile(_, members))
    def runOnce(): Unit = fx.runOnce()

    // batch 1: keeper A + a German page the funnel drops
    feed("b1", Seq(
      response("http://a.example.org/1", d1, s"<html><body>$coreA alpha</body></html>"),
      response("http://de.example.org/", d1,
        "<html><body>der schnelle tisch und die reihe der wert</body></html>")))
    runOnce()
    // batch 2: an exact COPY of A under a new url (md5 state match), a
    // near-dup of A (LSH state match), and a genuinely new keeper B
    feed("b2", Seq(
      response("http://mirror.example.org/copy", d1, s"<html><body>$coreA alpha</body></html>"),
      response("http://a.example.org/2", d1, s"<html><body>$coreA alpha v</body></html>"),
      response("http://b.example.org/", d1, s"<html><body>$coreB beta</body></html>")))
    runOnce()

    val curated = spark.read.parquet(s"$base/out/curated")
      .collect().map(_.getAs[String]("url")).toSet
    assert(curated == Set("http://a.example.org/1", "http://b.example.org/"),
      s"streamed keepers wrong: $curated")
    // provenance sinks exist per batch
    assert(new java.io.File(s"$base/out/labels").listFiles().exists(_.getName.startsWith("batch=")))
    // cross-batch merges recorded none (no two OLD clusters bridged)
    assert(spark.read.parquet(s"$base/out/merges").count() == 0)
  }
}

/** WARC fixture builders, shared with the stream replay specs. */
object WebCurationSpec {
  /** Write `members` as one multi-member gzip WARC, `dir/crawl.warc.gz`. */
  def warcFile(dir: String, members: Seq[Array[Byte]]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "crawl.warc.gz"),
      members.flatMap(m => gzMember(m).toSeq).toArray)
  }

  def gzMember(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }

  def response(url: String, date: String, html: String): Array[Byte] = {
    val pay = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html).getBytes(UTF_8)
    (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $url\r\n" +
      s"WARC-Date: $date\r\nContent-Length: ${pay.length}\r\n\r\n").getBytes(UTF_8) ++
      pay ++ "\r\n\r\n".getBytes(UTF_8)
  }

  // corpus-vocabulary sentences (what the q63 fixture was trained on),
  // with " the " / " and " so the language heuristic reads en. Each
  // keeper gets a DISJOINT vocabulary slice — docs that merely share
  // the training vocabulary would otherwise be genuine char-5-gram
  // near-dups of each other and the LSH stage would (correctly)
  // collapse the whole fixture into one cluster.
  val coreA = "the fast table scan and the hash join keep " +
    "the scan join table hash fast scan join and the table hash end"
  val coreB = "the row value batch merge and the key part row " +
    "value batch merge key part row value and the batch merge end"
  val coreC = "the query window column data and the group stream " +
    "query window column data group stream query window and the end"
}

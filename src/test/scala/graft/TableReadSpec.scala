package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `Bridge.parquetTable`: a table is resolved once per session and
  * read again only when its files change; and the census that keeps
  * every engine parquet read on it or on a schema the engine owns. */
class TableReadSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpDir(): String = {
    val d = Files.createTempDirectory("tableread")
    d.toFile.deleteOnExit()
    d.resolve("t.parquet").toString
  }

  private def qualified(p: String): String = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(path).toString
  }

  private def jobsIn[T](body: => T): (T, Int) = SparkProbe.jobsIn(spark)(body)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("parquetTable: a second read of the same path runs no Spark job") {
    val p = tmpDir()
    spark.range(0, 500).select(col("id"), (col("id") * 3).as("v")).write.parquet(p)
    val (first, _) = jobsIn(Bridge.parquetTable(spark, p))
    val (second, jobs) = jobsIn(Bridge.parquetTable(spark, p))
    assert(jobs == 0, s"the memoized read ran $jobs jobs")
    assert(second.schema == first.schema)
    assert(rows(second) == rows(spark.read.parquet(p)))
  }

  test("parquetTable: a self-join of two reads resolves like two read.parquet reads") {
    val p = tmpDir()
    spark.range(0, 200).select(col("id"), (col("id") % 7).as("k")).write.parquet(p)
    def selfJoin(a: DataFrame, b: DataFrame): DataFrame =
      a.as("a").join(b.as("b"), col("a.k") === col("b.k") && col("a.id") < col("b.id"))
        .select(col("a.id").as("x"), col("b.id").as("y"))
    val memo = selfJoin(Bridge.parquetTable(spark, p), Bridge.parquetTable(spark, p))
    val plain = selfJoin(spark.read.parquet(p), spark.read.parquet(p))
    assert(memo.count() > 0)
    assert(rows(memo) == rows(plain))
    val t = Bridge.parquetTable(spark, p)
    val u = Bridge.parquetTable(spark, p)
    assert(t.queryExecution.analyzed.outputSet.intersect(u.queryExecution.analyzed.outputSet).isEmpty,
      "two reads share attribute ids")
  }

  test("parquetTable: an overwrite with other rows and another schema is seen on the next read") {
    val p = tmpDir()
    spark.range(0, 10).select(col("id")).write.parquet(p)
    assert(Bridge.parquetTable(spark, p).count() == 10)
    spark.range(0, 25).select(col("id").cast("string").as("name"), lit(1.5).as("w"))
      .write.mode("overwrite").parquet(p)
    val again = Bridge.parquetTable(spark, p)
    assert(again.columns.toSeq == Seq("name", "w"))
    assert(again.count() == 25)
    assert(rows(again) == rows(spark.read.parquet(p)))
  }

  test("parquetTable: another session does not see this session's entry") {
    val p = tmpDir()
    spark.range(0, 30).write.parquet(p)
    Bridge.parquetTable(spark, p).count()
    val other = spark.newSession()
    assert(!Bridge.parquetTables(other).contains(Seq(qualified(p))))
    val (df, jobs) = jobsIn(Bridge.parquetTable(other, p))
    assert(jobs > 0, "the other session's first read reused this session's entry")
    assert(df.sparkSession eq other)
    assert(df.count() == 30)
    assert(Bridge.parquetTables(other).contains(Seq(qualified(p))))
  }

  test("parquetTable: one entry per (session, path) after repeated overwrites") {
    val p = tmpDir()
    (1 to 4).foreach { i =>
      spark.range(0, 10L * i).write.mode("overwrite").parquet(p)
      assert(Bridge.parquetTable(spark, p).count() == 10L * i)
      assert(Bridge.parquetTable(spark, p).count() == 10L * i)
    }
    assert(Bridge.parquetTables(spark).count(_ == Seq(qualified(p))) == 1)
  }

  test("census: engine parquet reads go through Bridge.parquetTable or pass a schema") {
    // equivalent: rg -n -U 'read\s*\.\s*parquet\s*\(' src/main
    val allowed = Set("Bench.scala", "BenchExtra.scala", "Bridge.scala")
    val read = """read\s*\.\s*parquet\s*\(""".r
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val files = { val s = Files.walk(root); try s.iterator().asScala.toList finally s.close() }
    val offenders = files.filter(f => f.toString.endsWith(".scala")).flatMap { (f: Path) =>
      val text = Files.readString(f)
      read.findAllMatchIn(text).map { m =>
        s"${root.relativize(f)}:${text.substring(0, m.start).count(_ == '\n') + 1}"
      }.toList
    }.filterNot(o => allowed.contains(Paths.get(o.takeWhile(_ != ':')).getFileName.toString))
    assert(offenders.isEmpty,
      s"schema-inferring read.parquet outside ${allowed.mkString(", ")}: ${offenders.mkString(", ")}")
  }
}

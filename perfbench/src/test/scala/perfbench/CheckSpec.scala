package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.Vocab
import graft.kg._
import graft.oracle.Oracle

class CheckSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]").appName("perfbench-test")
      .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  private val rows = Workloads.rows("resume_dup", 7).take(400)
  private lazy val corpusDir: Path = {
    val d = Files.createTempDirectory("perfbench-corpus").resolve("corpus")
    Parquet.writeCorpus(rows, d, nFiles = 3)
    d
  }
  private lazy val want = Check.expected(rows)

  override def afterAll(): Unit = spark.stop()

  /** A pipeline run over the test corpus, as the benchmark makes it. */
  private def run(only: Option[Set[Int]] = None): KgConfig = {
    val out = Files.createTempDirectory("perfbench-out")
    val cfg = KgConfig(out.resolve("triples").toString, out.resolve("manifest").toString, "t")
    val corpus = new LocalParquetIO(corpusDir.toString, cfg.triplesDir).readCorpus(spark).toDF()
    KgPipeline.run(spark, corpus, KgPipeline.dictDataset(spark), cfg, only)
    cfg
  }

  private def rerun(cfg: KgConfig): KgResult = KgPipeline.run(spark,
    new LocalParquetIO(corpusDir.toString, cfg.triplesDir).readCorpus(spark).toDF(),
    KgPipeline.dictDataset(spark), cfg)

  test("the plain digest of the oracle's triples equals Spark's digest of them") {
    import spark.implicits._
    assert(Check.digest(Oracle.triples(rows, Vocab.dictRows).toSeq.toDF()) == want)
  }

  test("a correct run and its no-op rerun pass the check") {
    val cfg = run()
    assert(Check.verify(spark, cfg, want, Seq(rerun(cfg))) == Nil)
  }

  test("a planted wrong triple is rejected") {
    import spark.implicits._
    val cfg = run()
    val t = spark.read.parquet(cfg.triplesDir).filter(col("pred") === "calls").first()
    val bucket = t.getAs[Int]("bucket")
    Seq(Triple(t.getAs[String]("subj"), "calls", "planted", t.getAs[String]("repo"),
        t.getAs[String]("path"), t.getAs[String]("commit"), t.getAs[String]("fileSha"), 1.0)).toDF()
      .drop("pred").write.mode("append").parquet(s"${cfg.triplesDir}/bucket=$bucket/pred=calls")
    val problems = Check.verify(spark, cfg, want, Nil)
    assert(problems.exists(_.startsWith("triple set differs from the oracle")), problems)
    assert(problems.exists(_.startsWith(s"bucket $bucket on disk")), problems)
  }

  test("a missing bucket is rejected") {
    val cfg = run(Some((0 until 16).toSet - 3))
    val problems = Check.verify(spark, cfg, want, Nil)
    assert(problems.contains("bucket 3 has 0 committed manifest rows, want 1"), problems)
    assert(problems.exists(_.startsWith("triple set differs from the oracle")), problems)
  }

  test("a rerun that writes rows is rejected") {
    val cfg = run()
    assert(Check.verify(spark, cfg, want, Seq(KgResult(5L, 16, 0L))) ==
      Seq("no-op rerun wrote 5 rows"))
  }
}

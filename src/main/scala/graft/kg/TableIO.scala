package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table schemas and the corpus invariant (SURVEY §7.3). Tables are
  * local parquet: no Iceberg runtime jar exists in this sandbox (SURVEY
  * §0.2). The triple table is written only by `KgPipeline.run`.
  */
object TableIO {
  val corpusSchema: StructType = StructType(Seq(
    StructField("repo", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("commit", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("content", StringType, nullable = false)))

  /** Max content size admitted into extraction (defensive guard for
    * binary blobs / pathological files at corpus scale, SURVEY P4).
    */
  val MaxContentChars: Int = 4 * 1024 * 1024

  /** P4 guards + per-row invariant + routing columns (BASELINE.json:15;
    * bucket drives manifest-grained resume, SURVEY S5).
    */
  def withInvariants(corpus: DataFrame, nBuckets: Int): DataFrame =
    corpus
      .filter(col("content").isNotNull && col("repo").isNotNull &&
        col("path").isNotNull && col("lang").isNotNull &&
        length(col("content")) > 0 &&
        length(col("content")) <= MaxContentChars)
      .withColumn("file_sha", sha2(col("content"), 256))
      .withColumn("bucket", pmod(xxhash64(col("file_sha")), lit(nBuckets)).cast("int"))
}

/** Reads the corpus table (in `TableIO.corpusSchema`) and the triple
  * table `KgPipeline.run` wrote.
  */
final class LocalParquetIO(corpusDir: String, triplesDir: String) {
  def readCorpus(spark: SparkSession): Dataset[CodeFile] = {
    import spark.implicits._
    spark.read.schema(TableIO.corpusSchema).parquet(corpusDir).as[CodeFile]
  }
  def readTriples(spark: SparkSession): DataFrame =
    spark.read.parquet(triplesDir)
}

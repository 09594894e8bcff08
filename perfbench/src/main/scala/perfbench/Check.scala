package perfbench

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Murmur3HashFunction, XxHash64Function}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import graft.fixtures.Vocab
import graft.kg.{CodeFile, KgConfig, KgResult, Manifest}
import graft.oracle.Oracle

/** Order-independent digest of a set of 7-tuples: its size, the xor of
  * a 64-bit hash and the sum of a second, 32-bit hash of each tuple.
  */
final case class Digest(count: Long, xor: Long, sum: Long) {
  override def toString: String = s"count=$count xor=$xor sum=$sum"
}

/** Output check of one benchmark run against the oracle's expectation. */
object Check {
  val TupleCols: Seq[String] = Seq("subj", "pred", "obj", "repo", "path", "commit", "fileSha")

  /** The oracle's triples for `rows`, digested as `digest` digests a
    * table: `xxhash64` and `hash` are Spark's, seeded with 42 and folded
    * over the columns in order. The oracle runs on one slice of the
    * corpus per core; its triples are keyed by file, so the union of the
    * slices' sets is the set of the whole corpus.
    */
  def expected(rows: Seq[CodeFile]): Digest = {
    val slices = rows.grouped(math.max(1, rows.size / Runtime.getRuntime.availableProcessors + 1)).toSeq
    implicit val ec: ExecutionContext = ExecutionContext.global
    val sets = Await.result(Future.traverse(slices)(s => Future(Oracle.triples(s, Vocab.dictRows))), Duration.Inf)
    val gold = sets.reduce(_ union _)
    var xor = 0L
    var sum = 0L
    for (t <- gold) {
      val vals = Seq(t.subj, t.pred, t.obj, t.repo, t.path, t.commit, t.fileSha).map(UTF8String.fromString)
      xor ^= vals.foldLeft(42L)((h, v) => XxHash64Function.hash(v, StringType, h))
      sum += vals.foldLeft(42)((h, v) => Murmur3HashFunction.hash(v, StringType, h.toLong).toInt)
    }
    Digest(gold.size.toLong, xor, sum)
  }

  def digest(triples: DataFrame): Digest = {
    val c = TupleCols.map(col)
    val r = triples
      .select(xxhash64(c: _*).as("h"), hash(c: _*).cast("long").as("m"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)),
        coalesce(sum(col("m")), lit(0L)))
      .first()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Reasons the run at `cfg` is wrong, empty when it is right:
    *  - the written 7-tuple set equals the oracle's (`want`);
    *  - the manifest holds exactly one committed row per bucket;
    *  - Σ rowCount in the manifest equals the triples on disk, and every
    *    bucket's count and digest on disk equal its manifest row;
    *  - each no-op rerun in `noops` wrote nothing.
    */
  def verify(spark: SparkSession, cfg: KgConfig, want: Digest,
             noops: Seq[KgResult]): Seq[String] = {
    val table = spark.read.parquet(cfg.triplesDir)
    val got = digest(table)
    val problems = Seq.newBuilder[String]
    if (got != want) problems += s"triple set differs from the oracle: got $got, want $want"

    val committed = spark.read.parquet(cfg.manifestDir)
      .filter(col("runId") === cfg.runId && col("stage") === "triples" &&
        col("status") === "committed")
      .select(col("bucket"), col("rowCount"), col("contentDigest"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val perBucket = committed.groupBy(_._1)
    for (b <- 0 until cfg.nBuckets) perBucket.get(b).map(_.size).getOrElse(0) match {
      case 1 => ()
      case k => problems += s"bucket $b has $k committed manifest rows, want 1"
    }
    val extra = perBucket.keySet -- (0 until cfg.nBuckets)
    if (extra.nonEmpty) problems += s"manifest commits unknown buckets ${extra.toSeq.sorted}"
    val manifestRows = committed.map(_._2).sum
    if (manifestRows != got.count)
      problems += s"manifest rowCount sums to $manifestRows, table holds ${got.count}"

    val onDisk = Manifest.bucketStats(table).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    for ((b, rows) <- perBucket if rows.size == 1) {
      val (_, n, d) = rows.head
      val disk = onDisk.getOrElse(b, (0L, 0L))
      if (disk != ((n, d)))
        problems += s"bucket $b on disk is (rows, digest) = $disk, manifest says ($n, $d)"
    }
    noops.filter(_.triplesWritten != 0).foreach { r =>
      problems += s"no-op rerun wrote ${r.triplesWritten} rows"
    }
    problems.result()
  }
}

package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import graft.kg._
import graft.oracle.Oracle

/** The one triple emitter (`Canonicalize.toTriples`, run by the pipeline
  * as `Extract.canonicalTriples`) on a hand-built corpus whose every file
  * repeats a triple identity in a different way. Rows, scores included,
  * must equal the oracle's 7-tuples with their SPEC.md §3 scores — one row
  * per identity, never a duplicate.
  */
class TripleEmitterSpec extends SparkTestBase {

  /** SPEC.md §3 score of a (def, call) pair at this line distance. */
  private def callScore(lineDist: Int): Double =
    1.0 / (1.0 + math.exp(-(4.0 - 0.1 * lineDist)))

  private val dictRows: Seq[(String, Long, String, String)] = Seq(
    ("alphalib", 1L, "alphalib", "module"),
    ("alphali", 1L, "alphalib", "module"),
    ("bar", 2L, "bar", "function"))

  private val aliases = CodeFile("r", "aliases.py", "c1", "python",
    "import alphalib\nimport alphali\n")
  // foo → bar from two call sites, 1 and 5 lines below the def
  private val twoSites = CodeFile("r", "sites.py", "c1", "python",
    "def foo(x):\n    bar(1)\n    pass\n    pass\n    pass\n    bar(2)\n")
  private val dup = CodeFile("r", "dup.py", "c1", "python", "import betalib\nbar()\n")
  // same (repo, path, commit) as `dup`, different content → another fileSha
  private val sameIdentity = dup.copy(content = "import gammalib\n")
  private val corpus = Seq(aliases, twoSites, dup, dup, sameIdentity)

  private val want: Seq[Triple] =
    Oracle.triples(corpus, dictRows).toSeq.map { t =>
      val score = if (t.subj == "foo" && t.pred == "calls") callScore(1) else 1.0
      Triple(t.subj, t.pred, t.obj, t.repo, t.path, t.commit, t.fileSha, score)
    }.sortBy(_.toString)

  private def sorted(ds: Dataset[Triple]): Seq[Triple] = ds.collect().toSeq.sortBy(_.toString)

  private def hashed(parts: Int): Dataset[HashedFile] = {
    import spark.implicits._
    corpus.toDF().repartition(parts)
      .withColumn("file_sha", sha2(col("content"), 256)).as[HashedFile]
  }

  private def dict: Dataset[DictEntry] = {
    import spark.implicits._
    dictRows.map { case (n, id, c, k) => DictEntry(n, id, c, k) }.toDS()
  }

  test("expected rows: each case repeats an identity the emitter must collapse") {
    val f = (c: CodeFile) => (c.repo, c.path, c.commit, Oracle.sha256Hex(c.content))
    def rows(c: CodeFile) = want.filter(t => (t.repo, t.path, t.commit, t.fileSha) == f(c))
    assert(rows(aliases).map(t => (t.subj, t.pred, t.obj)) ==
      Seq(("r:aliases.py", "imports", "alphalib")))
    assert(rows(twoSites).map(t => (t.subj, t.pred, t.obj, t.score)).toSet == Set(
      ("r:sites.py", "defines_function", "foo", 1.0), ("foo", "calls", "bar", callScore(1))))
    assert(callScore(1) > callScore(5))
    assert(rows(dup).map(t => (t.pred, t.obj)).toSet == Set(("imports", "betalib"), ("calls", "bar")))
    assert(rows(sameIdentity).map(t => (t.pred, t.obj)) == Seq(("imports", "gammalib")))
    assert(want.size == 6)
  }

  test("canonicalTriples and the link-table toTriples both emit exactly the oracle rows") {
    val fn = Extract.broadcastFnAliases(spark, dict)
    for (parts <- Seq(1, 3)) {
      val viaPipeline = Extract.canonicalTriples(hashed(parts), fn,
        Canonicalize.broadcastLinkMap(spark, dict))
      assert(sorted(viaPipeline) == want, s"canonicalTriples at $parts partitions")
      val viaLinks = Canonicalize.toTriples(Extract.scoredRelations(hashed(parts), fn),
        Canonicalize.linkMap(dict))
      assert(sorted(viaLinks) == want, s"toTriples(rels, links) at $parts partitions")
    }
  }
}

package perfbench

import scala.util.Random
import graft.fixtures.{CorpusGen, Vocab}
import graft.kg.CodeFile

/** The benchmark's corpora. Every row is a pure function of
  * (workload, seed): file indices handed to `CorpusGen.genFile` are
  * offset by the seed, and every other choice draws from a `Random`
  * seeded by it. The program only ever sees the parquet written from
  * these rows.
  */
object Workloads {
  val Names: Seq[String] = Seq("fresh_large", "resume_dup")

  /** Files of the `resume_dup` corpus. */
  val Files: Int = 12000
  /** Generator bodies concatenated into one `fresh_large` file. */
  val BodiesPerLargeFile: Int = 128
  /** Files of the `fresh_large` corpus: twice `resume_dup`'s content
    * bytes, and enough files that every bucket receives some.
    */
  val LargeFiles: Int = 2 * Files / BodiesPerLargeFile
  /** Share of `resume_dup` rows that repeat another row's identity. */
  val DupShare: Double = 0.20
  /** Share of those repeats whose content was edited, not copied. */
  val EditedShare: Double = 0.25
  /** Every this-many-th small file has empty content, which the
    * corpus invariant rejects.
    */
  val RejectEvery: Int = 500

  /** The size parameters a corpus depends on, for its cache key. */
  def size(workload: String): String = workload match {
    case "fresh_large" => s"n$LargeFiles-b$BodiesPerLargeFile"
    case "resume_dup"  => s"n$Files-r${(DupShare * 100).round}-e${(EditedShare * 100).round}"
    case _             => s"n$Files"
  }

  /** Seeds 0..1999 select disjoint index ranges of the generator. */
  def offset(seed: Long): Int = Math.floorMod(seed, 2000L).toInt * 1000000

  def rows(workload: String, seed: Long): Vector[CodeFile] = workload match {
    case "fresh_large" => large(seed)
    case "resume_dup"  => withRepeats(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def small(seed: Long, n: Int): Vector[CodeFile] = {
    val off = offset(seed)
    Vector.tabulate(n) { k =>
      val f = CorpusGen.genFile(off + k, Files)
      if (k % RejectEvery == RejectEvery - 1) f.copy(content = "") else f
    }
  }

  /** Files of `BodiesPerLargeFile` same-language generator bodies each:
    * pair generation is quadratic in a file's defs × calls, so these
    * files spend their time in Extract.
    */
  private def large(seed: Long): Vector[CodeFile] = {
    val off = offset(seed)
    Vector.tabulate(LargeFiles) { k =>
      // indices congruent mod 3 share CorpusGen's language choice
      val bodies = (0 until BodiesPerLargeFile).map(j =>
        CorpusGen.genFile(off + 3 * (k * BodiesPerLargeFile + j) + k % 3, Files))
      bodies.head.copy(content = bodies.map(_.content).mkString("\n"))
    }
  }

  /** A small corpus in which `DupShare` of the rows repeat the
    * (repo, path, commit) of an accepted row: most are exact copies, as
    * in a re-ingested snapshot, the rest carry an edited body.
    */
  private def withRepeats(seed: Long): Vector[CodeFile] = {
    val nRepeat = math.round(Files * DupShare).toInt
    val base = small(seed, Files - nRepeat)
    val accepted = base.filter(_.content.nonEmpty)
    val rng = new Random(seed * 7919L + 17L)
    val repeats = Vector.tabulate(nRepeat) { d =>
      val src = accepted(rng.nextInt(accepted.size))
      if (rng.nextDouble() < EditedShare) {
        val callee = Vocab.aliases(Vocab.functions(rng.nextInt(Vocab.functions.size)))(0)
        src.copy(content = src.content + s"\ndef revised_$d(a, b):\n    r0 = $callee(a, b)\n")
      } else src
    }
    rng.shuffle(base ++ repeats)
  }

  /** (rows − distinct identities) ÷ rows. */
  def repeatShare(rows: Seq[CodeFile]): Double =
    (rows.size - rows.map(f => (f.repo, f.path, f.commit)).distinct.size).toDouble / rows.size
}

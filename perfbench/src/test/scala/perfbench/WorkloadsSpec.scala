package perfbench

import org.scalatest.funsuite.AnyFunSuite

class WorkloadsSpec extends AnyFunSuite {
  private def identities(rows: Seq[graft.kg.CodeFile]) = rows.map(f => (f.repo, f.path, f.commit))

  test("every workload is a pure function of its seed") {
    for (w <- Workloads.Names) assert(Workloads.rows(w, 5) == Workloads.rows(w, 5), w)
  }

  test("different seeds give different corpora") {
    for (w <- Workloads.Names) {
      val a = Workloads.rows(w, 5)
      val b = Workloads.rows(w, 6)
      assert(a.map(_.content) != b.map(_.content), w)
      assert((identities(a).toSet intersect identities(b).toSet).isEmpty, w)
    }
  }

  test("resume_dup repeats the stated share of identities, mostly as exact copies") {
    val rows = Workloads.rows("resume_dup", 5)
    assert(rows.size == Workloads.Files)
    assert(math.abs(Workloads.repeatShare(rows) - Workloads.DupShare) < 1e-9)
    val repeated = rows.groupBy(f => (f.repo, f.path, f.commit)).values.filter(_.size > 1)
    val copies = repeated.toSeq.map(g => g.size - g.map(_.content).distinct.size).sum
    val extra = repeated.toSeq.map(_.size - 1).sum
    val exactShare = copies.toDouble / extra
    assert(math.abs(exactShare - (1 - Workloads.EditedShare)) < 0.05, s"exact-copy share $exactShare")
    assert(repeated.forall(_.forall(_.content.nonEmpty)))
  }

  test("fresh_large holds twice resume_dup's content bytes") {
    def bytes(w: String) = Workloads.rows(w, 5).map(_.content.length.toLong).sum
    val ratio = bytes("fresh_large").toDouble / bytes("resume_dup")
    assert(math.abs(ratio - 2) < 0.06, s"ratio $ratio")
    val base = Workloads.Files - math.round(Workloads.Files * Workloads.DupShare)
    assert(Workloads.rows("resume_dup", 5).count(_.content.isEmpty) == base / Workloads.RejectEvery)
  }
}

package graft.kg

import org.apache.spark.sql.functions._

/** The star-contraction fixpoint test compares edge MULTISETS, so its
  * signature must see multiplicity: a false convergence may only come
  * from a real 64-bit hash collision.
  */
class CcSignatureSpec extends graft.SparkTestBase {

  test("CC signature separates multisets whose xor digests cancel") {
    import spark.implicits._
    // {(a,c)×1, (b,c)×2} vs {(a,c)×3}: same count, and the repeated
    // (b,c) hash cancels under xor, so (count, xor) alone collides
    val twice = Seq(("a", "c"), ("b", "c"), ("c", "b")).toDF("src", "dst")
    val thrice = Seq(("a", "c"), ("c", "a"), ("a", "c")).toDF("src", "dst")
    def countXor(df: org.apache.spark.sql.DataFrame) = df.agg(count(lit(1)),
      expr("bit_xor(xxhash64(least(src, dst), greatest(src, dst)))")).first()
    assert(countXor(twice) == countXor(thrice))
    assert(Canonicalize.sig(twice) != Canonicalize.sig(thrice))
    // still a function of the undirected multiset: orientation and row
    // order do not matter
    val reordered = Seq(("c", "b"), ("c", "a"), ("b", "c")).toDF("src", "dst")
    assert(Canonicalize.sig(reordered) == Canonicalize.sig(twice))
  }

  test("CC signature's sum is the wrapping 64-bit sum of the pair hashes") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val edges = Seq.fill(2000)((s"n${rng.nextInt(500)}", s"n${rng.nextInt(500)}"))
      .toDF("src", "dst").repartition(7)
    val hashes = edges
      .select(xxhash64(least($"src", $"dst"), greatest($"src", $"dst")))
      .as[Long].collect()
    val (n, wrappedSum, xor) = Canonicalize.sig(edges)
    assert(n == hashes.length)
    assert(wrappedSum == hashes.sum, "sum must wrap, not overflow or saturate")
    assert(xor == hashes.reduce(_ ^ _))
    assert(Canonicalize.sig(edges.limit(0)) == ((0L, 0L, 0L)))
  }
}

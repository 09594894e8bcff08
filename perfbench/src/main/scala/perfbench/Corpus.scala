package perfbench

import java.io.{FileInputStream, FileOutputStream}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Properties
import graft.fixtures.Vocab
import graft.kg.{CodeFile, Extract, HashedFile, KgConfig}
import graft.oracle.Oracle

/** A generated corpus on disk with everything the benchmark knows about
  * it ahead of the run: the oracle's digest of the expected triples and
  * the measured input properties.
  */
final case class Prepared(dir: Path, expected: Digest, props: Map[String, String]) {
  def corpusDir: String = dir.resolve("corpus").toString
}

/** Seeded corpus cache, keyed by (workload, seed, size). A corpus is
  * built in a temporary directory and renamed into place, so a
  * half-written one is never read.
  */
object Corpus {
  val NBuckets: Int = KgConfig("", "", "").nBuckets
  /** The single-threaded Extract calls run on the first accepted files
    * of the corpus holding at least this many content characters.
    */
  val SampleChars: Int = 256 * 1024

  def dirFor(work: Path, workload: String, seed: Long): Path =
    work.resolve("corpus").resolve(s"$workload-s$seed-${Workloads.size(workload)}")

  def load(dir: Path): Prepared = {
    val p = new Properties()
    val in = new FileInputStream(dir.resolve("expect.properties").toFile)
    try p.load(in) finally in.close()
    def long(k: String) = p.getProperty(k).toLong
    Prepared(dir, Digest(long("count"), long("xor"), long("sum")),
      p.stringPropertyNames().toArray.map(_.toString).map(k => k -> p.getProperty(k)).toMap)
  }

  def isBuilt(dir: Path): Boolean = Files.exists(dir.resolve("expect.properties"))

  def sample(files: Seq[CodeFile]): Vector[HashedFile] = {
    val accepted = files.iterator.filter(_.content.nonEmpty)
    val out = Vector.newBuilder[HashedFile]
    var chars = 0L
    while (chars < SampleChars && accepted.hasNext) {
      val f = accepted.next()
      out += HashedFile(f.repo, f.path, f.commit, f.lang, f.content, Oracle.sha256Hex(f.content))
      chars += f.content.length
    }
    out.result()
  }

  /** Builds the corpus without Spark: set-up time is measured from the
    * first SparkSession of a fresh JVM, so the load generator runs in a
    * JVM of its own and starts none.
    */
  def build(dir: Path, workload: String, seed: Long): Unit = {
    val rows = Workloads.rows(workload, seed)
    val tmp = Files.createDirectories(dir.getParent)
      .resolve(s".${dir.getFileName}.tmp-${ProcessHandle.current.pid}")
    Tree.delete(tmp)
    Parquet.writeCorpus(rows, tmp.resolve("corpus"), nFiles = 8)
    val want = Check.expected(rows)
    val sampleFiles = sample(rows)
    val pairs = sampleFiles.map(f =>
      Extract.pairs(Extract.scanFile(f, Vocab.functionAliasNorms)).size.toLong).sum

    val p = new Properties()
    def put(k: String, v: Any): Unit = p.setProperty(k, v.toString)
    put("workload", workload); put("seed", seed); put("files", rows.size)
    put("count", want.count); put("xor", want.xor); put("sum", want.sum)
    put("bytes_per_file", rows.map(_.content.getBytes("UTF-8").length.toLong).sum / rows.size)
    put("repeat_share", f"${Workloads.repeatShare(rows)}%.4f")
    put("reject_share", f"${rows.count(_.content.isEmpty).toDouble / rows.size}%.4f")
    put("pairs_per_file", f"${pairs.toDouble / sampleFiles.size}%.1f")
    put("expected_triples_per_file", f"${want.count.toDouble / rows.size}%.2f")
    val out = new FileOutputStream(tmp.resolve("expect.properties").toFile)
    try p.store(out, s"perfbench corpus $workload seed $seed") finally out.close()

    Tree.delete(dir)
    Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
  }
}

object Tree {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val dest = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dest) else Files.copy(p, dest)
    } finally s.close()
  }

  /** (data files, their bytes) under a parquet table directory. */
  def dataFiles(root: String): (Long, Long) = {
    val s = Files.walk(Paths.get(root))
    try {
      var n = 0L; var bytes = 0L
      s.filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
        .forEach { p => n += 1; bytes += Files.size(p) }
      (n, bytes)
    } finally s.close()
  }
}

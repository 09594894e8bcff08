package perfbench

import java.nio.file.{Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.kg._

/** JVM side of the benchmark; `perfbench/run.py` drives it.
  *
  *   gen   --workload W --seed S --work DIR --cpus N
  *         builds the cached corpus and its oracle expectation
  *   run   --workload W --seed S --work DIR --cpus N --seconds T --trace 0|1
  *         set-up, then timed and checked `KgPipeline.run` calls for T
  *         seconds; with --trace 1 also the layer spans
  *
  * The last stdout line is one JSON object.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val workload = opts("--workload")
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    val seed = opts("--seed").toLong
    val work = Paths.get(opts("--work")).toAbsolutePath
    val cpus = opts("--cpus").toInt
    args(0) match {
      case "gen" =>
        val dir = Corpus.dirFor(work, workload, seed)
        if (!Corpus.isBuilt(dir)) Corpus.build(dir, workload, seed)
        println(Json.value(Corpus.load(dir).props))
      case "run" =>
        val prep = Corpus.load(Corpus.dirFor(work, workload, seed))
        val t0 = System.nanoTime()
        val spark = session(cpus, work)
        System.err.println(f"[perfbench] session ready after ${(System.nanoTime() - t0) / 1e9}%.2f s")
        try {
          val bench = new Bench(spark, prep, workload, seed, work)
          bench.firstRun()
          val setupS = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[perfbench] set-up $setupS%.2f s")
          val seconds = opts("--seconds").toDouble
          println(if (opts("--trace") == "1") bench.traced(seconds) else bench.untraced(seconds, setupS))
        } finally spark.stop()
    }
  }

  /** The session `graft.Main` builds, with its temporary files kept in the
    * benchmark's work directory.
    */
  def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-kg")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** The measured calls of one workload. */
final class Bench(spark: SparkSession, prep: Prepared, workload: String, seed: Long, work: Path) {
  import Bench._
  private val outRoot = work.resolve("out").resolve(s"$workload-s$seed")
  private val allBuckets = (0 until Corpus.NBuckets).toSet
  private val cfg = KgConfig(outRoot.resolve("triples").toString,
    outRoot.resolve("manifest").toString, "bench")

  private def corpus() =
    new LocalParquetIO(prep.corpusDir, cfg.triplesDir).readCorpus(spark).toDF()

  /** As `graft.Main --corpus` does it. */
  private def run(only: Option[Set[Int]] = None): KgResult =
    KgPipeline.run(spark, corpus(), KgPipeline.dictDataset(spark), cfg, only)

  /** Accepted corpus rows per bucket, counted once after set-up. */
  private lazy val bucketRows: Map[Int, Long] =
    TableIO.withInvariants(corpus(), cfg.nBuckets).groupBy("bucket").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  private def rowsIn(buckets: Set[Int]): Long = buckets.toSeq.map(bucketRows.getOrElse(_, 0L)).sum

  /** `resume_dup`'s starting state: a run that committed buckets 0–7,
    * made once and copied in before each timed call.
    */
  private lazy val resumeBase: Path = {
    val base = outRoot.resolveSibling(s"${outRoot.getFileName}-base")
    Tree.delete(outRoot)
    run(Some(SetupBuckets))
    Tree.delete(base)
    Tree.copy(outRoot, base)
    base
  }

  /** Resets the output to the state the timed call starts from and
    * returns the buckets that call writes.
    */
  private def prepare(): Set[Int] = {
    Tree.delete(outRoot)
    if (workload == "resume_dup") {
      Tree.copy(resumeBase, outRoot)
      allBuckets -- SetupBuckets
    } else allBuckets
  }

  /** The untimed first pipeline run that set-up time ends with. */
  def firstRun(): Unit = { Tree.delete(outRoot); run() }

  /** Untimed work done before the first measured repetition: the counts
    * and starting state every repetition needs, then `WarmupReps` timed
    * calls and `WarmupNoops` no-op reruns, with results dropped. Measured
    * calls start once the JIT has compiled most of what they run: in a
    * fresh JVM the timed call of the first repetition after set-up runs
    * 15–25% slower than from the fourth on, and the no-op reruns, each
    * a handful of small jobs, speed up for dozens of calls.
    */
  private def warm(): Unit = {
    bucketRows
    if (workload == "resume_dup") resumeBase
    for (_ <- 1 to WarmupReps) {
      prepare()
      val (_, s) = timed(run())
      System.err.println(f"[perfbench] warm-up: run $s%.2f s")
    }
    val noops = Seq.fill(WarmupNoops)(timed(run())._2)
    System.err.println(f"[perfbench] warm-up: no-ops ${noops.head}%.3f … ${noops.last}%.3f s")
  }

  /** One timed call, its no-op reruns and the output check. */
  private def rep(): Either[String, Sample] = try {
    val (todo, prepS) = timed(prepare())
    System.gc()
    val (res, wallS) = timed(run())
    val heapMb = Heap.liveAfterGc() / Tracer.MB
    val noops = Seq.fill(NoopReruns)(timed(run()))
    val (checked, checkS) = timed(Check.verify(spark, cfg, prep.expected, noops.map(_._1)))
    System.err.println(f"[perfbench] rep: prepare $prepS%.2f s, run $wallS%.2f s, live heap $heapMb%.1f MB, " +
      f"no-ops ${noops.map(_._2).mkString(" ")} s, check $checkS%.2f s")
    val problems = checked ++
      (if (res.bucketsCommitted == Corpus.NBuckets) Nil
       else Seq(s"run reports ${res.bucketsCommitted} committed buckets"))
    if (problems.nonEmpty) Left(problems.mkString("; "))
    else {
      val (files, bytes) = Tree.dataFiles(cfg.triplesDir)
      Right(Sample(rowsIn(todo) / wallS, noops.map(_._2), files,
        bytes.toDouble / prep.expected.count, heapMb))
    }
  } catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }

  /** Runs of `body` for `seconds`: at least one, and another as long as,
    * at their mean length, it would end nearer to `seconds` than
    * stopping now does.
    */
  private def loop[T](seconds: Double)(body: => T): Seq[T] = {
    val t0 = System.nanoTime()
    val out = Seq.newBuilder[T]
    var n = 0
    var elapsed = 0.0
    do {
      out += body
      n += 1
      elapsed = (System.nanoTime() - t0) / 1e9
    } while (elapsed + elapsed / n / 2 <= seconds)
    out.result()
  }

  private def tally(results: Seq[Either[String, _]]): (Int, Int) = {
    results.collect { case Left(why) => System.err.println(s"[perfbench] check failed: $why") }
    (results.size, results.count(_.isLeft))
  }

  def untraced(seconds: Double, setupS: Double): String = {
    warm()
    val results = loop(seconds)(rep())
    val (attempted, failed) = tally(results)
    val ok = results.collect { case Right(s) => s }
    val metrics =
      if (ok.isEmpty) Map.empty[String, Double]
      else Map(
        "files_per_s" -> Stats.median(ok.map(_.filesPerS)),
        "noop_resume_s" -> Stats.median(ok.flatMap(_.noopS)),
        "out_bytes_per_triple" -> Stats.median(ok.map(_.bytesPerTriple)),
        "out_files" -> Stats.median(ok.map(_.outFiles.toDouble)),
        "live_heap_mb" -> Stats.median(ok.map(_.heapMb)))
    Json.obj("attempted" -> attempted, "failed" -> failed,
      "metrics" -> (if (ok.isEmpty) metrics else metrics + ("setup_s" -> setupS)))
  }

  /** Single-threaded `scanFile`, `pairs` and `relations` over the fixed
    * sample of the workload's files.
    */
  private def kernel(fnAliases: Set[String]): Map[String, Double] = {
    val sample = Corpus.sample(Workloads.rows(workload, seed))
    var mentions, pairs, relations = 0L
    val passes = loop(KernelSeconds) {
      var scanNs, kernelNs = 0L
      mentions = 0; pairs = 0; relations = 0
      for (f <- sample) {
        val (ms, a) = timed(Extract.scanFile(f, fnAliases))
        val (ps, _) = timed(Extract.pairs(ms))
        val (rs, b) = timed(Extract.relations(f, fnAliases))
        scanNs += (a * 1e9).toLong; kernelNs += (b * 1e9).toLong
        mentions += ms.size; pairs += ps.size; relations += rs.size
      }
      (scanNs / 1e6 / sample.size, kernelNs / 1e6 / sample.size)
    }
    Map("extract.scan_ms_per_file" -> Stats.median(passes.map(_._1)),
      "extract.kernel_ms_per_file" -> Stats.median(passes.map(_._2)),
      "extract.mentions_per_file" -> mentions.toDouble / sample.size,
      "extract.pairs_per_file" -> pairs.toDouble / sample.size,
      "extract.pair_yield" -> relations.toDouble / math.max(1L, pairs))
  }

  /** One traced repetition: the layer calls `KgPipeline.run` makes, each
    * replayed in its own span, then the real call in a span of its own.
    */
  private def tracedRep(tracer: Tracer, trace: String): Either[String, Map[String, Double]] = try {
    import spark.implicits._
    val todo = prepare()
    spark.sparkContext.addSparkListener(tracer)
    def span[T](name: String)(body: => T) = tracer.span(trace, name)(body)
    try {
      val (m, _) = span("rep") {
        val (hashed, scan) = span("tableio.scan") {
          val h = TableIO.withInvariants(corpus(), cfg.nBuckets)
          h.write.format("noop").mode("overwrite").save()
          h
        }
        val ((fn, canon), dictSetup) = span("canonicalize.dict_setup") {
          val dict = KgPipeline.dictDataset(spark)
          (Extract.broadcastFnAliases(spark, dict), Canonicalize.broadcastLinkMap(spark, dict))
        }
        val todoDs = hashed.filter(col("bucket").isin(todo.toSeq: _*))
          .select("repo", "path", "commit", "lang", "content", "file_sha").as[HashedFile]
        val (_, rels) = span("extract.relations")(Extract.scoredRelations(todoDs, fn).count())
        val (nTriples, triples) = span("extract.triples")(Extract.canonicalTriples(todoDs, fn, canon).count())
        System.gc()
        val (res, runSpan) = span("kgpipeline.run")(run())
        val (stats, lineage) = span("manifest.lineage") {
          val s = Manifest.bucketStats(spark.read.parquet(cfg.triplesDir)
            .filter(col("bucket").isin(todo.toSeq: _*)))
          s.collect()
          s
        }
        val (_, append) = span("manifest.append") {
          Manifest.write(spark, cfg.manifestDir + "-replay", cfg.runId, "triples", stats,
            attempt = 1, startedAtMs = 0L, wallMs = 0L)
        }
        val (_, committed) = span("manifest.committed") {
          Manifest.committedBuckets(spark, cfg.manifestDir, cfg.runId, "triples").collect()
        }
        val (noops, _) = span("kgpipeline.noop")(Seq.fill(NoopReruns)(run()))
        val problems = Check.verify(spark, cfg, prep.expected, noops)
        if (problems.nonEmpty) throw new IllegalStateException(problems.mkString("; "))
        require(res.bucketsCommitted == Corpus.NBuckets, s"run reports ${res.bucketsCommitted} buckets")

        val dedupIn = dedupRowsIn(todoDs, fn.value, canon.value)
        val st = runSpan.spark
        // the triple write is the stage writing the most rows; it reads the
        // write repartition's shuffle, whose map side reads the dedup's
        val (writeId, write) = st.stages.maxBy(_._2.outputRecords)
        val writeInput = st.inputs(writeId)
        val dedup = writeInput.flatMap(st.inputs).map(st.stages)
        val taskMs = write.taskMs.map(_.toDouble).toSeq
        Map(
          "tableio.scan_s" -> scan.durS,
          "tableio.rows_in" -> scan.spark.inputRecords.toDouble,
          "tableio.rows_rejected" -> (scan.spark.inputRecords - rowsIn(allBuckets)).toDouble,
          "canonicalize.dict_setup_s" -> dictSetup.durS,
          "canonicalize.link_entries" -> canon.value.size.toDouble,
          "extract.relations_s" -> rels.durS,
          "extract.triples_s" -> triples.durS,
          "extract.dedup_rows_in" -> dedupIn.toDouble,
          "extract.dedup_collapse" -> (dedupIn - nTriples).toDouble / dedupIn,
          "extract.dedup_shuffle_mb" -> dedup.map(_.shuffleWriteBytes).sum / Tracer.MB,
          "kgpipeline.run_s" -> runSpan.durS,
          "kgpipeline.files_per_s" -> rowsIn(todo) / runSpan.durS,
          "kgpipeline.write_s" -> write.wallMs / 1e3,
          "kgpipeline.write_shuffle_mb" -> writeInput.map(st.stages(_).shuffleWriteBytes).sum / Tracer.MB,
          "kgpipeline.write_task_skew" -> taskMs.max / math.max(1.0, Stats.median(taskMs)),
          "manifest.committed_s" -> committed.durS,
          "manifest.lineage_s" -> lineage.durS,
          "manifest.append_s" -> append.durS,
          "spark.jobs" -> st.jobs.toDouble,
          "spark.stages" -> st.stages.size.toDouble,
          "spark.tasks" -> st.tasks.toDouble,
          "spark.cpu_s" -> st.cpuNs / 1e9,
          "spark.gc_s" -> runSpan.gcS,
          "spark.shuffle_write_mb" -> st.shuffleWriteBytes / Tracer.MB,
          "spark.spill_mb" -> st.spillBytes / Tracer.MB,
          "spark.failed_tasks" -> st.failedTasks.toDouble)
      }
      Right(m)
    } finally spark.sparkContext.removeSparkListener(tracer)
  } catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }

  /** Rows entering the triple dedup: each file's distinct canonical
    * triples, as `Extract.canonicalTriples` emits them per file.
    */
  private def dedupRowsIn(todo: org.apache.spark.sql.Dataset[HashedFile], fn: Set[String],
                          canon: Map[String, String]): Long = {
    import spark.implicits._
    todo.map { f =>
      Extract.relations(f, fn).map(r => (canon.getOrElse(r.subjNorm, r.subjNorm), r.pred,
        canon.getOrElse(r.objNorm, r.objNorm), r.score)).distinct.size.toLong
    }.reduce(_ + _)
  }

  def traced(seconds: Double): String = {
    warm()
    val tracer = new Tracer(spark)
    val kernelMetrics = kernel(Extract.broadcastFnAliases(spark, KgPipeline.dictDataset(spark)).value)
    var k = 0
    val pairs = loop(seconds) {
      k += 1
      (rep(), tracedRep(tracer, s"$workload-s$seed-rep$k"))
    }
    val results = pairs.flatMap { case (a, b) => Seq(a, b) }
    val (attempted, failed) = tally(results)
    val untracedFps = pairs.collect { case (Right(s), _) => s.filesPerS }
    val traced = pairs.collect { case (_, Right(m)) => m }
    val metrics =
      if (traced.isEmpty || untracedFps.isEmpty) Map.empty[String, Double]
      else {
        val layer = traced.head.keys.map(key => key -> Stats.median(traced.map(_(key)))).toMap
        layer - "kgpipeline.files_per_s" ++ kernelMetrics +
          ("trace.overhead" -> layer("kgpipeline.files_per_s") / Stats.median(untracedFps))
      }
    val traceFile = work.resolve("traces").resolve(s"$workload-s$seed.jsonl")
    java.nio.file.Files.createDirectories(traceFile.getParent)
    java.nio.file.Files.write(traceFile, tracer.jsonLines.asJava)
    System.err.println(s"[perfbench] spans written to $traceFile")
    Json.obj("attempted" -> attempted, "failed" -> failed, "metrics" -> metrics)
  }
}

object Bench {
  final case class Sample(filesPerS: Double, noopS: Seq[Double], outFiles: Long,
                          bytesPerTriple: Double, heapMb: Double)

  val SetupBuckets: Set[Int] = (0 until 8).toSet
  /** No-op reruns after each timed call; noop_resume_s is their median. */
  val NoopReruns: Int = 5
  val WarmupNoops: Int = 12
  val KernelSeconds: Double = 1.0
  val WarmupReps: Int = 2

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

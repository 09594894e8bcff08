package graft.tools

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Times individual SparkEntry query keys — the per-key iteration loop
  * Bench's full protocol is too heavy for. Mirrors Bench's part-1
  * timing semantics exactly (same session config, `fn(...).count()`
  * wall time, min-of-N reported alongside all samples), and counts the
  * Spark jobs and stages each sample launched with a listener attached
  * from outside, so iterative keys (CC, k-core, PageRank) show their
  * per-round scheduling cost without instrumenting the operators. Run:
  *   sbt 'runMain graft.tools.TimeKey <sfDir> <reps> <key> [<key> ...]'
  */
object TimeKey {

  /** Jobs and the stages they plan, counted from outside the operators. */
  private final class JobCounter extends SparkListener {
    val jobs, ended, stages = new AtomicInteger
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      stages.addAndGet(j.stageInfos.size)
      jobs.incrementAndGet()
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = ended.incrementAndGet()

    /** (jobs, stages) since the last call, once the asynchronous listener
      * bus has delivered them: every started job ended and the count held
      * for one 100 ms poll (bounded at 2 s; waitUntilEmpty is
      * private[spark]).
      */
    def drain(): (Int, Int) = {
      var seen = -1
      var polls = 0
      while (polls < 20 && (jobs.get != seen || ended.get != seen)) {
        seen = jobs.get
        Thread.sleep(100)
        polls += 1
      }
      val counts = (jobs.get, stages.get)
      Seq(jobs, ended, stages).foreach(_.set(0))
      counts
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: TimeKey <sfDir> <reps> <key>...")
    val sfDir = args(0)
    val reps = args(1).toInt
    val keys = args.drop(2).toSeq
    // default matches Bench part 1 (local[4]) so unqualified runs are
    // comparable to recorded suite numbers; override via SPARK_GRAFT_CPUS
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    for (k <- keys) {
      val fn = graft.SparkEntry.queries.getOrElse(k,
        sys.error(s"unknown key $k; known: ${graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
      val (ts, counts) = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val secs = (System.nanoTime() - t0) / 1e9
        (secs, counter.drain()) // outside the timed span
      }.unzip
      println(f"[timekey] $k min=${ts.min}%.3f samples=${ts.map(t => f"$t%.3f").mkString(",")}")
      println(s"[timekey] $k jobs=${counts.map(_._1).mkString(",")} " +
        s"stages=${counts.map(_._2).mkString(",")}")
    }
    spark.stop()
  }
}

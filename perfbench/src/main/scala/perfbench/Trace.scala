package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.{PerfbenchPrivate, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work of one stage, as the listener saw it. */
final class StageStats {
  var wallMs: Long = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  var shuffleWriteBytes: Long = 0L
  var outputRecords: Long = 0L
}

/** Spark totals of the jobs started inside one span. */
final class SpanStats {
  var jobs: Int = 0
  val stages: mutable.Map[Int, StageStats] = mutable.Map.empty
  var tasks: Long = 0L
  var failedTasks: Long = 0L
  var cpuNs: Long = 0L
  var shuffleWriteBytes: Long = 0L
  var spillBytes: Long = 0L
  var inputRecords: Long = 0L
  /** Every stage the span's jobs named, run or skipped: its parent
    * stages and the shuffle it writes. Adaptive execution plans each
    * exchange as its own job, so a later job names a fresh, skipped
    * stage for a shuffle an earlier job already wrote.
    */
  val parentsOf: mutable.Map[Int, Seq[Int]] = mutable.Map.empty
  val shuffleOf: mutable.Map[Int, Int] = mutable.Map.empty

  /** The run stages that wrote the shuffles stage `id` reads. */
  def inputs(id: Int): Seq[Int] = {
    val shuffles = parentsOf.getOrElse(id, Nil).flatMap(shuffleOf.get).toSet
    stages.keys.filter(sid => shuffleOf.get(sid).exists(shuffles)).toSeq
  }
}

final case class Span(trace: String, id: Int, parent: Option[Int], name: String,
                      startMs: Long, durS: Double, gcS: Double, spark: SpanStats) {
  def json(selfS: Double): String = Json.obj(
    "trace" -> trace, "span" -> id, "parent" -> parent.getOrElse(-1), "name" -> name,
    "start_ms" -> startMs, "dur_s" -> durS, "self_s" -> selfS, "jobs" -> spark.jobs,
    "stages" -> spark.stages.size, "tasks" -> spark.tasks, "cpu_s" -> spark.cpuNs / 1e9,
    "gc_s" -> gcS, "shuffle_write_mb" -> spark.shuffleWriteBytes / Tracer.MB,
    "spill_mb" -> spark.spillBytes / Tracer.MB, "failed_tasks" -> spark.failedTasks,
    "stage_list" -> spark.stages.toSeq.sortBy(_._1).map { case (id, st) =>
      Map("id" -> id, "inputs" -> spark.inputs(id).sorted, "wall_ms" -> st.wallMs, "tasks" -> st.taskMs.size,
        "shuffle_write_mb" -> st.shuffleWriteBytes / Tracer.MB, "output_records" -> st.outputRecords)
    })
}

/** Spans opened by the benchmark around its calls into the program. A
  * job belongs to the innermost span open on the calling thread: the
  * span id travels as a Spark local property, which SQL executions
  * hand on to every job they start. Register the tracer with
  * `addSparkListener` only for traced runs.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val Key = "perfbench.span"
  private val open = TrieMap.empty[String, SpanStats]
  private val stageSpan = mutable.Map.empty[Int, SpanStats]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  def span[T](trace: String, name: String)(body: => T): (T, Span) = {
    val sc = spark.sparkContext
    val id = nextId
    nextId += 1
    val stats = new SpanStats
    open.put(id.toString, stats)
    val parent = stack.headOption
    stack.push(id)
    val outer = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, id.toString)
    val gc0 = Heap.gcMs()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result = try body finally {
      sc.setLocalProperty(Key, outer)
      stack.pop()
    }
    val durS = (System.nanoTime() - t0) / 1e9
    val gcS = (Heap.gcMs() - gc0) / 1e3
    PerfbenchPrivate.drain(sc)
    open.remove(id.toString)
    val s = Span(trace, id, parent, name, startMs, durS, gcS, stats)
    spans += s
    (result, s)
  }

  /** Spans as JSON lines, each with its self time: its duration less
    * the time its child spans cover.
    */
  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    val children = spans.filter(_.parent.contains(s.id)).map(_.durS).sum
    s.json(s.durS - children)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    for (p <- Option(e.properties); id <- Option(p.getProperty(Key)); s <- open.get(id)) {
      s.jobs += 1
      e.stageInfos.foreach { si =>
        stageSpan.getOrElseUpdate(si.stageId, s)
        s.parentsOf(si.stageId) = si.parentIds
        PerfbenchPrivate.shuffleDepId(si).foreach(s.shuffleOf(si.stageId) = _)
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    stageSpan.get(si.stageId).foreach { s =>
      val st = s.stages.getOrElseUpdate(si.stageId, new StageStats)
      for (a <- si.submissionTime; b <- si.completionTime) st.wallMs = b - a
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageSpan.get(e.stageId).foreach { s =>
      val st = s.stages.getOrElseUpdate(e.stageId, new StageStats)
      s.tasks += 1
      if (e.reason != Success) s.failedTasks += 1
      st.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        s.cpuNs += m.executorCpuTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
        s.inputRecords += m.inputMetrics.recordsRead
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.outputRecords += m.outputMetrics.recordsWritten
      }
    }
}

object Tracer {
  val MB: Double = 1024.0 * 1024.0
}

object Heap {
  /** The live heap: two full collections, then the heap pools' usage
    * right after the second, as their `MemoryPoolMXBean` collection usage
    * reports it. Between them Spark's `ContextCleaner`, which polls for
    * collected broadcasts and shuffles every 100 ms, drops their blocks:
    * right after the first collection those still held ~70 MB on
    * `resume_dup`, or not, depending on when the cleaner last ran.
    */
  def liveAfterGc(): Long = {
    System.gc()
    Thread.sleep(CleanerWaitMs)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).flatMap(p => Option(p.getCollectionUsage))
      .map(_.getUsed).sum
  }

  val CleanerWaitMs: Long = 250

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
}

/** Minimal JSON writer for the benchmark's flat output objects. */
object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => "{" + m.map { case (k, x) => value(k.toString) + ": " + value(x) }.mkString(", ") + "}"
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case other => value(other.toString)
  }
  def obj(kv: (String, Any)*): String = value(scala.collection.immutable.ListMap(kv: _*))
}

package panelbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import scala.collection.mutable

/** Block-manager storage memory held by cached and checkpointed partitions
  * (RDD blocks), and its peak since the last [[reset]]. Block puts arrive
  * as block updates; an unpersisted RDD's blocks leave without any, so its
  * unpersist event removes them. Broadcast pieces are left out: they are
  * freed whenever the JVM next collects garbage, so they would make the
  * figure drift with GC timing. Events arrive on the listener bus in order,
  * so the running total is exact even though delivery lags: read it only
  * after [[Bus.drain]].
  */
final class StorageTracker extends SparkListener {
  private val sizes = mutable.HashMap.empty[(Int, String), Long]
  private var total = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { block =>
      val key = (block.rddId, s"${info.blockManagerId.executorId}/${block.name}")
      val now = if (info.storageLevel.isValid) info.memSize else 0L
      total += now - sizes.getOrElse(key, 0L)
      if (now == 0L) sizes.remove(key) else sizes(key) = now
      peak = math.max(peak, total)
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    sizes.keys.filter(_._1 == e.rddId).toList.foreach(k => total -= sizes.remove(k).get)
  }

  def reset(): Unit = synchronized { peak = total }
  def peakBytes: Long = synchronized { peak }
}

/** Waits until every listener has seen every event posted so far. The bus
  * delivers events in order, so once the end of a marker job submitted now
  * is delivered, so is everything that happened before it.
  */
object Bus {
  private val MarkerKey = "panelbench.marker"

  def drain(sc: SparkContext): Unit = {
    val token = java.util.UUID.randomUUID().toString
    val seen = new CountDownLatch(1)
    val waiter = new SparkListener {
      private val jobs = ConcurrentHashMap.newKeySet[Int]()
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(MarkerKey) == token)) jobs.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (jobs.contains(e.jobId)) seen.countDown()
    }
    sc.addSparkListener(waiter)
    val previous = sc.getLocalProperty(MarkerKey)
    sc.setLocalProperty(MarkerKey, token)
    try sc.parallelize(Seq(0), 1).count()
    finally sc.setLocalProperty(MarkerKey, previous)
    try require(seen.await(60, TimeUnit.SECONDS), "listener bus did not drain within 60 s")
    finally sc.removeSparkListener(waiter)
  }
}

/** One closed span: a benchmark-side call into one layer of the program. */
final case class Span(
    id: Int,
    name: String,
    parent: Int,
    pass: Int,
    startMs: Long,
    endMs: Long,
    seconds: Double)

/** Counters of the Spark jobs one span caused. */
final class SpanCounters {
  var jobs = 0L
  var tasks = 0L
  var taskS = 0.0
  var schedWaitS = 0.0
  var gcS = 0.0
  var shuffleBytes = 0L
  var spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Spans around the benchmark's calls into each layer, and a listener that
  * attributes every Spark job to the innermost span open when the job was
  * submitted. The open span travels as a SparkContext local property, which
  * Spark copies into job properties (and into the threads that SQL
  * execution forks for broadcasts and subqueries). Spans stay in memory;
  * [[Tracer.report]] turns them into per-layer counters at the end.
  */
final class Tracer(sc: SparkContext, cores: Int) extends SparkListener with Spans {
  import Tracer.SpanKey

  private val closed = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var openIds: List[Int] = Nil
  private var pass = 0

  private val counters = new ConcurrentHashMap[Int, SpanCounters]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitted = new ConcurrentHashMap[(Int, Int), java.lang.Long]()

  def beginPass(index: Int): Unit = pass = index

  /** Runs `body` inside a span named `name` (`<module>.<call>`). */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = openIds.headOption.getOrElse(0)
    val previous = sc.getLocalProperty(SpanKey)
    openIds = id :: openIds
    sc.setLocalProperty(SpanKey, id.toString)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val seconds = (System.nanoTime() - t0) / 1e9
      closed += Span(id, name, parent, pass, startMs, System.currentTimeMillis(), seconds)
      openIds = openIds.tail
      sc.setLocalProperty(SpanKey, previous)
    }
  }

  private def countersOf(spanId: Int): SpanCounters =
    counters.computeIfAbsent(spanId, _ => new SpanCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val spanId = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(0)
    jobSpan.put(e.jobId, spanId)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageSpan.put(s, spanId))
    countersOf(spanId).synchronized { countersOf(spanId).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val spanId = jobSpan.getOrDefault(e.jobId, 0)
    val c = countersOf(spanId)
    c.synchronized { c.jobIntervals += ((jobStart.getOrDefault(e.jobId, e.time), e.time)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach { t =>
      stageSubmitted.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), t: java.lang.Long)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = countersOf(stageSpan.getOrDefault(e.stageId, 0))
    val m = e.taskMetrics
    val submitted = stageSubmitted.get((e.stageId, e.stageAttemptId))
    c.synchronized {
      c.tasks += 1
      if (submitted != null) c.schedWaitS += math.max(0L, e.taskInfo.launchTime - submitted) / 1e3
      if (m != null) {
        c.taskS += m.executorRunTime / 1e3
        c.gcS += m.jvmGCTime / 1e3
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Milliseconds of `[start, end]` covered by the union of `intervals`. */
  private def covered(intervals: Seq[(Long, Long)], start: Long, end: Long): Long = {
    var sum = 0L
    var reach = start
    intervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { sum += b - math.max(a, reach); reach = b }
      }
    sum
  }

  /** Per-span records (with self time) for the spans file, and per-pass
    * totals by span name: `name -> counter -> value` for each traced pass.
    * Call after [[Bus.drain]].
    */
  def report(): (Seq[Map[String, Any]], Map[Int, Map[String, Map[String, Double]]]) = {
    val all = closed.toSeq
    val children = all.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    val records = all.map { s =>
      // a span's counters include the jobs of the spans nested in it
      val cs = subtree(s).flatMap(x => Option(counters.get(x.id)))
      val kids = children.getOrElse(s.id, Nil)
      val kidsMs = covered(kids.map(k => (k.startMs, k.endMs)), s.startMs, s.endMs)
      val jobMs = covered(cs.flatMap(c => c.synchronized(c.jobIntervals.toSeq)), s.startMs, s.endMs)
      val taskS = cs.map(_.taskS).sum
      val values = Map(
        "s" -> s.seconds,
        "self_s" -> math.max(0.0, s.seconds - kidsMs / 1e3),
        "jobs" -> cs.map(_.jobs).sum.toDouble,
        "tasks" -> cs.map(_.tasks).sum.toDouble,
        "task_s" -> taskS,
        "sched_wait_s" -> cs.map(_.schedWaitS).sum,
        "driver_s" -> math.max(0.0, s.seconds - jobMs / 1e3),
        "util" -> (if (s.seconds > 0) taskS / (s.seconds * cores) else 0.0),
        "gc_s" -> cs.map(_.gcS).sum,
        "shuffle_mb" -> cs.map(_.shuffleBytes).sum / 1048576.0,
        "spill_mb" -> cs.map(_.spillBytes).sum / 1048576.0)
      (s, values)
    }
    val byPass = records.groupBy(_._1.pass).map { case (p, rs) =>
      p -> rs.groupBy(_._1.name).map { case (name, group) =>
        val summed = group.map(_._2).reduce((a, b) => a.map { case (k, v) => k -> (v + b(k)) })
        // util of a repeated span is over its total wall time, not a sum
        val wall = summed("s")
        name -> summed.updated("util",
          if (wall > 0) summed("task_s") / (wall * cores) else 0.0)
      }
    }
    val rows = records.map { case (s, v) =>
      Map[String, Any]("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "pass" -> s.pass, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ v
    }
    (rows, byPass)
  }
}

object Tracer {
  val SpanKey = "panelbench.span"

  /** The counters every span records, with their units. */
  val Counters: Seq[(String, String)] = Seq(
    "s" -> "s", "self_s" -> "s", "jobs" -> "count", "tasks" -> "count", "task_s" -> "s",
    "sched_wait_s" -> "s", "driver_s" -> "s", "util" -> "ratio", "gc_s" -> "s",
    "shuffle_mb" -> "MB", "spill_mb" -> "MB")
}

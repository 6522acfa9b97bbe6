package graft.perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Spans of one run share `runId`; `parent` is
  * the id of the enclosing span (-1 at the top). Times are wall-clock ms for
  * the Spark-listener overlap math plus nanoTime for the durations.
  */
final case class Span(id: Int, parent: Int, name: String, runId: String,
    startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory around the benchmark's calls into the program and
  * tags every Spark job started inside a span with the span's name as its job
  * group, so [[SparkStats]] can attribute task time to the layer. Spans are
  * written out once, at the end of the run.
  */
final class Tracer(val runId: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long, Long)] = Nil
  private var nextId = 0

  def spans: Seq[Span] = done.toSeq

  def span[T](sc: SparkContext, name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    stack = (id, name, System.currentTimeMillis(), System.nanoTime()) :: stack
    sc.setJobGroup(name, name)
    try f
    finally {
      val (_, _, ms0, ns0) = stack.head
      stack = stack.tail
      done += Span(id, parent, name, runId, ms0, System.currentTimeMillis(), ns0, System.nanoTime())
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevGroup)
    }
  }

  def find(name: String): Span =
    done.find(_.name == name).getOrElse(throw new NoSuchElementException(s"no span $name"))

  /** Duration minus the part of it that direct child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - done.filter(_.parent == s.id).map(_.seconds).sum

  def toJson: String = done.map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run_id" -> s.runId,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
      "self_seconds" -> selfSeconds(s))
  }.mkString("[", ",\n", "]")
}

object Tracer {
  /** Runs `f` inside a span when tracing, bare otherwise. */
  def around[T](tr: Option[Tracer], sc: SparkContext, name: String)(f: => T): T = tr match {
    case Some(t) => t.span(sc, name)(f)
    case None => f
  }
}

/** Spark-side counters for one measurement window, from listener events:
  * task time, the wall time no task was running (driver-serial time),
  * shuffle, spill and GC, per-stage task times (for skew) keyed by the job
  * group that started the stage, and the peak of storage memory from block
  * updates. Everything is keyed on event timestamps, so the listener bus
  * lagging behind does not skew the numbers once it has drained.
  */
final class SparkStats extends SparkListener {
  import SparkStats._

  private val stageGroup = mutable.Map.empty[Int, String]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val blocks = mutable.Map.empty[String, Long]
  private var storageNow = 0L
  private var storagePeak = 0L
  private val jobStarts = mutable.ArrayBuffer.empty[Long]
  @volatile private var lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventNs = System.nanoTime()
    jobStarts += e.time
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) tasks += Task(stageGroup.getOrElse(e.stageId, ""), e.stageId,
      i.launchTime, i.finishTime, i.duration, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleWriteMetrics.recordsWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val info = e.blockUpdatedInfo
    val key = info.blockManagerId.toString + "/" + info.blockId.name
    val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
    storageNow += size - blocks.getOrElse(key, 0L)
    if (size == 0L) blocks.remove(key) else blocks(key) = size
    storagePeak = math.max(storagePeak, storageNow)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = lastEventNs = System.nanoTime()

  /** Waits until the listener bus has been quiet for a moment, so every event
    * of the jobs that already returned has been seen.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() - lastEventNs < 300000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }

  def jobsIn(fromMs: Long, toMs: Long): Int =
    synchronized(jobStarts.count(t => t >= fromMs && t <= toMs))

  /** Peak storage memory (memory + disk, all blocks) since the last reset. */
  def peakStorageBytes: Long = synchronized(storagePeak)

  def resetPeak(): Unit = synchronized { storagePeak = storageNow }

  def tasksIn(fromMs: Long, toMs: Long): Seq[Task] = synchronized(
    tasks.filter(t => t.finishMs > fromMs && t.launchMs < toMs).toSeq)

  def tasksOfGroup(group: String): Seq[Task] = synchronized(tasks.filter(_.group == group).toSeq)

  /** Counters over the wall-clock window [fromMs, toMs] with `cores` slots. */
  def window(fromMs: Long, toMs: Long, cores: Int): Window = {
    val ts = tasksIn(fromMs, toMs)
    val wall = math.max(toMs - fromMs, 1L)
    // union of task intervals clipped to the window -> time some task ran
    val iv = ts.map(t => (math.max(t.launchMs, fromMs), math.min(t.finishMs, toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    val taskMs = ts.map(_.durMs).sum
    Window(taskMs / 1e3, (wall - covered) / 1e3, taskMs.toDouble / (cores.toDouble * wall),
      ts.map(t => t.shuffleReadB + t.shuffleWriteB).sum / 1e6, ts.map(_.spillB).sum / 1e6,
      ts.map(_.gcMs).sum / 1e3)
  }
}

object SparkStats {
  final case class Task(group: String, stage: Int, launchMs: Long, finishMs: Long,
      durMs: Long, gcMs: Long, shuffleReadB: Long, shuffleWriteB: Long,
      shuffleWriteRecords: Long, spillB: Long)

  final case class Window(taskS: Double, idleS: Double, busyFrac: Double, shuffleMb: Double,
      spillMb: Double, gcS: Double)
}

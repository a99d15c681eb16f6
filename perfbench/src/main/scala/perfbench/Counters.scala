package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One Spark job as the counters saw it; times are epoch milliseconds. */
final class JobRec(val desc: String, val start: Long) {
  var end: Long = start
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var recordsWritten = 0L
}

/** Counters-only listener: per job, its description, start and end, and
  * the summed task CPU, shuffle write, disk spill and records written. It
  * keeps no per-task or per-event log, so it stays on in untraced runs.
  */
final class JobCounters extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val byId = mutable.HashMap.empty[Int, JobRec]
  private val byStage = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    val j = new JobRec(desc, e.time)
    jobs += j
    byId(e.jobId) = j
    e.stageIds.foreach(byStage(_) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.remove(e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- byStage.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.cpuNs += m.executorCpuTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.diskBytesSpilled
      j.recordsWritten += m.outputMetrics.recordsWritten
    }
  }
  def mark: Int = synchronized(jobs.size)
  def since(mark: Int): Seq[JobRec] = synchronized(jobs.drop(mark).toList)
}

/** A benchmark span: a named call into one layer. */
final class Span(val id: Int, val name: String, val parent: Int) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  var endNs: Long = startNs
  var endMs: Long = startMs
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Records spans around the benchmark's calls into the engine and tags
  * every Spark job started inside one with `pb:<span id>` as its job
  * description, so [[JobCounters]] can attribute it. Disabled, it only
  * runs the body.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  private def describe(): Unit =
    sc.setJobDescription(stack.headOption.map(s => s"pb:${s.id}").orNull)

  def open(name: String): Unit = if (enabled) {
    val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id))
    spans += s
    stack ::= s
    describe()
  }

  /** Closes `name` and any span still open inside it. */
  def close(name: String): Unit = if (enabled && stack.exists(_.name == name)) {
    var done = false
    while (!done) {
      val s = stack.head
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      done = s.name == name
    }
    describe()
  }

  def span[T](name: String)(body: => T): T = {
    open(name)
    try body finally close(name)
  }
}

/** Per-layer totals for one span name over one traced pass. `wall`, jobs
  * and counters include the span's nested spans; `self` excludes them.
  */
final case class LayerAgg(wall: Double, self: Double, jobs: Int,
    cpuS: Double, gapS: Double, shuffleMb: Double, spillMb: Double,
    rowsWritten: Long)

object Trace {
  private val Mb = 1024.0 * 1024.0

  /** Length of the union of `[start, end]` intervals clipped to `[lo, hi]`. */
  private def covered(lo: Long, hi: Long, iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = lo
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }

  def aggregate(spans: Seq[Span], jobs: Seq[JobRec]): Map[String, LayerAgg] = {
    val owned = Array.fill(spans.size)(mutable.ArrayBuffer.empty[JobRec])
    jobs.foreach { j =>
      if (j.desc.startsWith("pb:")) {
        var id = j.desc.drop(3).toIntOption.getOrElse(-1)
        while (id >= 0 && id < spans.size) { owned(id) += j; id = spans(id).parent }
      }
    }
    val childWall = Array.fill(spans.size)(0.0)
    spans.foreach(s => if (s.parent >= 0) childWall(s.parent) += s.wallS)
    val all = jobs.map(j => (j.start, j.end))
    spans.groupBy(_.name).map { case (name, ss) =>
      val js = ss.flatMap(s => owned(s.id)).distinct
      name -> LayerAgg(
        wall = ss.map(_.wallS).sum,
        self = ss.map(s => s.wallS - childWall(s.id)).sum,
        jobs = js.size,
        cpuS = js.map(_.cpuNs).sum / 1e9,
        gapS = ss.map(s => math.max(0.0,
          s.wallS - covered(s.startMs, s.endMs, all) / 1e3)).sum,
        shuffleMb = js.map(_.shuffleWrite).sum / Mb,
        spillMb = js.map(_.spill).sum / Mb,
        rowsWritten = js.map(_.recordsWritten).sum)
    }
  }
}

package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** One timed call into a graft layer, recorded from the benchmark side. */
final case class Span(id: Int, parent: Int, name: String, run: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task metrics of the Spark jobs one span started. */
final class SpanStats {
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakExecMem = 0L
  /** stage id → task run times (ms), for the skew of the dominant stage */
  val taskMs: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map.empty

  /** max over median task time of the stage with the most task time */
  def taskSkew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val ts = taskMs.values.maxBy(_.sum).sorted
      val med = ts(ts.length / 2).toDouble
      if (med <= 0) 1.0 else ts.last / med
    }
}

/** In-memory span recorder. While `enabled`, every span sets the Spark
  * job group to its id, so [[LayerListener]] attributes the stages and
  * tasks of each layer call to that span; spans are kept in memory and
  * written out once, when the run ends. Disabled, a span only runs its
  * body. */
final class Tracer(val runId: String, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var enabled = false
  val listener = new LayerListener
  sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += null
      stack = id :: stack
      sc.setJobGroup(id.toString, name)
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, parent, name, runId, t0, System.nanoTime())
        stack = stack.tail
        // jobs after a child span belong to its parent again
        if (parent >= 0) sc.setJobGroup(parent.toString, "") else sc.clearJobGroup()
      }
    }

  def all: Seq[Span] = spans.toSeq.filter(_ != null)

  /** A span's duration minus the time its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - all.filter(_.parent == s.id).map(_.seconds).sum

  /** Spans recorded after `from` (an index from [[mark]]). */
  def since(from: Int): Seq[Span] = all.filter(_.id >= from)
  def mark: Int = spans.length
}

/** Attributes stage and task metrics to the span whose id is the job
  * group of the job that ran them. Listener events arrive on Spark's
  * bus thread; [[quiesce]] waits until all started jobs have ended and
  * the event flow has settled before anything is read. */
final class LayerListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stats = mutable.Map.empty[Int, SpanStats]
  @volatile private var started = 0
  @volatile private var ended = 0
  @volatile private var events = 0L

  private def statsFor(span: Int): SpanStats = stats.getOrElseUpdate(span, new SpanStats)

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    started += 1; events += 1
    val group = Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.flatMap(_.toIntOption).foreach(g => j.stageIds.foreach(s => stageSpan(s) = g))
  }
  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized { ended += 1; events += 1 }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    stageSpan.get(s.stageInfo.stageId).foreach(g => statsFor(g).stages += 1)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val m = t.taskMetrics
    if (m != null) stageSpan.get(t.stageId).foreach { g =>
      val st = statsFor(g)
      st.tasks += 1
      st.cpuNs += m.executorCpuTime
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spill += m.diskBytesSpilled
      st.peakExecMem = math.max(st.peakExecMem, m.peakExecutionMemory)
      st.taskMs.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var last = -1L
    while (System.nanoTime() < deadline && (started != ended || events != last)) {
      last = events
      Thread.sleep(50)
    }
  }

  def statsOf(span: Int): SpanStats = synchronized(stats.getOrElse(span, new SpanStats))
}

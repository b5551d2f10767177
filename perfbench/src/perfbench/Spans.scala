package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._

/** Spark work charged to the span that caused it.
  *
  * [[Spans.within]] sets a local property on the calling thread; Spark
  * stamps it on every job that thread submits, and threads started inside
  * the span (such as compaction's writer pool) inherit it. Each stage is
  * charged to the span of the job that submitted it and each task to its
  * stage, so every job, task and shuffle byte lands in exactly one span. */
final class SpanListener extends SparkListener {
  import SpanListener._

  private val work = new ConcurrentHashMap[String, Work]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()

  private def spanOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Key))).getOrElse(Unattributed)
  private def of(span: String): Work = work.computeIfAbsent(span, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    of(spanOf(e.properties)).add(jobs = 1)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSpan.put(e.stageInfo.stageId, spanOf(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      of(Option(stageSpan.get(e.stageId)).getOrElse(Unattributed)).add(
        taskMs = m.executorRunTime,
        shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.diskBytesSpilled)
  }

  /** Work per span once every event posted so far has been delivered. */
  def snapshot(sc: SparkContext): Map[String, Work] = {
    Bus.drain(sc)
    import scala.jdk.CollectionConverters._
    work.asScala.map { case (k, w) => k -> w.copy() }.toMap
  }
}

object SpanListener {
  val Key = "perfbench.span"
  val Unattributed = "(unattributed)"

  final class Work {
    @volatile var jobs = 0L
    @volatile var taskMs = 0L
    @volatile var shuffleBytes = 0L
    @volatile var spillBytes = 0L
    def add(jobs: Long = 0L, taskMs: Long = 0L, shuffleBytes: Long = 0L,
            spillBytes: Long = 0L): Unit = synchronized {
      this.jobs += jobs; this.taskMs += taskMs
      this.shuffleBytes += shuffleBytes; this.spillBytes += spillBytes
    }
    def copy(): Work = synchronized {
      val w = new Work
      w.add(jobs, taskMs, shuffleBytes, spillBytes)
      w
    }
  }
  val NoWork = new Work
}

object Spans {
  /** Runs `body` with `key` as the active span; returns its value and wall
    * seconds. */
  def within[A](sc: SparkContext, key: String)(body: => A): (A, Double) = {
    val prev = sc.getLocalProperty(SpanListener.Key)
    sc.setLocalProperty(SpanListener.Key, key)
    val t0 = System.nanoTime()
    try {
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    } finally sc.setLocalProperty(SpanListener.Key, prev)
  }
}

package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Task metrics of every job that ran under one tag. */
final class TagTotals {
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var peakMemBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Groups Spark task metrics by the benchmark's own local property
  * [[Ledger.TagKey]]. The engine's operators overwrite
  * `spark.job.description` with their own stage labels, so that property
  * cannot identify the benchmark's operations and spans. Local properties
  * are inherited by the threads an operation starts (the append pool, the
  * broadcast and subquery threads), so every job of a tagged call carries
  * the tag.
  */
final class Ledger(spark: SparkSession) extends SparkListener {
  import Ledger.TagKey
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val totals = mutable.HashMap.empty[String, TagTotals]

  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).map(_.getProperty(TagKey)).orNull
    if (tag != null) totals.getOrElseUpdate(tag, new TagTotals).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val tag = Option(e.properties).map(_.getProperty(TagKey)).orNull
    if (tag != null) stageTag(e.stageInfo.stageId) = tag
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTag.get(e.stageId).foreach { tag =>
      val t = totals.getOrElseUpdate(tag, new TagTotals)
      t.tasks += 1
      if (e.reason != Success) t.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        t.cpuNs += m.executorCpuTime
        t.peakMemBytes = math.max(t.peakMemBytes, m.peakExecutionMemory)
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Runs `body` with every job it starts tagged `tag`. */
  def tagged[T](tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try body finally sc.setLocalProperty(TagKey, outer)
  }

  /** Totals of `tag`, after every event posted so far has been delivered. */
  def totalsOf(tag: String): TagTotals = {
    org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
    synchronized(totals.getOrElse(tag, new TagTotals))
  }
}

object Ledger {
  val TagKey = "perfbench.tag"
}

/** One traced interval: a layer call, or the staged run that contains them. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, endNs: Long, rowsIn: Long, rowsOut: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Records spans around the benchmark's calls into each layer. Each span
  * tags its jobs with its own id, so the [[Ledger]] attributes task metrics
  * to the innermost open span. Spans stay in memory until the run ends.
  * A tracer that is not `enabled` only runs the spans' bodies.
  */
final class Tracer(ledger: Ledger, val runId: String, enabled: Boolean = true) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var open = List.empty[Int]

  /** Runs `body` as span `name`; `body` returns its value and its row count. */
  def span[T](name: String, rowsIn: Long)(body: => (T, Long)): (T, Long) = if (!enabled) body else {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try {
      val (v, rowsOut) = ledger.tagged(s"$runId/$id")(body)
      done += Span(id, name, parent, runId, t0, System.nanoTime(), rowsIn, rowsOut)
      (v, rowsOut)
    } finally open = open.tail
  }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  def totalsOf(s: Span): TagTotals = ledger.totalsOf(s"$runId/${s.id}")
}

object Tracer {
  /** The untraced replay's tracer: no tags, no spans. */
  def off: Tracer = new Tracer(null, "untraced", enabled = false)
}

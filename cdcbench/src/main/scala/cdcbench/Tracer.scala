package cdcbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans around the benchmark's calls into graft, plus the Spark work
  * each span caused.
  *
  * A span is opened around one call into a layer (`layer.call`). While
  * it is open its id rides the thread's Spark local property, so a
  * [[SparkListener]] can attribute jobs, stages, tasks, executor CPU,
  * shuffle and I/O bytes to it. Spans nest per thread; a span's self
  * time is its duration minus its children's. Spans stay in memory and
  * are summarised when the run ends. With tracing off nothing is
  * registered and `span` only runs its body.
  */
final class Tracer private (spark: Option[SparkSession]) {
  import Tracer._

  val on: Boolean = spark.isDefined
  private val spans = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  @volatile private var sentinelSeen = false

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val id = Option(j.properties).flatMap(p => Option(p.getProperty(PropKey)))
      if (id.contains("sentinel")) sentinelSeen = true
      id.flatMap(_.toIntOption).flatMap(s => Option(spans.get(s))).foreach { sp =>
        sp.synchronized { sp.jobs += 1; sp.jobStartsMs += j.time }
        j.stageIds.foreach(st => stageSpan.put(st, sp))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { sp =>
        val si = e.stageInfo
        val written = Option(si.taskMetrics).map(_.outputMetrics.bytesWritten).getOrElse(0L)
        sp.synchronized {
          sp.stages += 1
          if (written > 0)
            sp.writeStages += ((si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L)))
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { sp =>
        val m = e.taskMetrics
        if (m != null) sp.synchronized {
          sp.tasks += 1
          sp.cpuNs += m.executorCpuTime
          sp.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          sp.bytesRead += m.inputMetrics.bytesRead
          sp.bytesWritten += m.outputMetrics.bytesWritten
          sp.recordsWritten += m.outputMetrics.recordsWritten
          if (m.outputMetrics.bytesWritten > 0) sp.writeTasks += 1
        }
      }
  }
  spark.foreach(_.sparkContext.addSparkListener(listener))

  /** Run `body` inside a span named `name`. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.get()
      val sp = new Span(nextId.incrementAndGet(), name, parent.headOption.map(_.id).getOrElse(0))
      spans.put(sp.id, sp)
      val sc = spark.get.sparkContext
      val prevProp = sc.getLocalProperty(PropKey)
      sc.setLocalProperty(PropKey, sp.id.toString)
      stack.set(sp :: parent)
      sp.startNs = System.nanoTime(); sp.startMs = System.currentTimeMillis()
      try body
      finally {
        sp.endNs = System.nanoTime(); sp.endMs = System.currentTimeMillis()
        stack.set(parent)
        sc.setLocalProperty(PropKey, prevProp)
        parent.headOption.foreach(p => p.synchronized { p.childNs += sp.endNs - sp.startNs })
      }
    }

  /** Wait until the listener has seen every event posted so far: run a
    * tagged no-op job and wait for its start event, which the listener
    * bus delivers after all earlier events.
    */
  def drain(): Unit = spark.foreach { s =>
    if (on) {
      sentinelSeen = false
      val sc = s.sparkContext
      val prev = sc.getLocalProperty(PropKey)
      sc.setLocalProperty(PropKey, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(PropKey, prev)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(5)
    }
  }

  def named(name: String): Seq[Span] =
    spans.values.asScala.filter(_.name == name).toSeq.sortBy(_.id)

  def all: Seq[Span] = spans.values.asScala.toSeq.sortBy(_.id)

  def close(): Unit = spark.foreach(s => if (on) s.sparkContext.removeSparkListener(listener))
}

object Tracer {
  val PropKey = "cdcbench.span"

  def apply(spark: SparkSession, on: Boolean): Tracer =
    new Tracer(if (on) Some(spark) else None)

  final class Span(val id: Int, val name: String, val parent: Int) {
    var startNs, endNs, startMs, endMs, childNs = 0L
    var jobs, stages, tasks, cpuNs, shuffleBytes = 0L
    var bytesRead, bytesWritten, recordsWritten, writeTasks = 0L
    val jobStartsMs = mutable.ArrayBuffer.empty[Long]
    val writeStages = mutable.ArrayBuffer.empty[(Long, Long)]

    def ms: Double = (endNs - startNs) / 1e6
    def selfMs: Double = (endNs - startNs - childNs) / 1e6

    /** Wall time of the stages that wrote output files. */
    def writeMs: Double = writeStages.map { case (s, e) => (e - s).toDouble }.sum

    /** Driver time from each write stage's end to the next job (or the
      * call's return): listing the new files, reading their footers,
      * and publishing the manifest and its Delta mirror.
      */
    def commitMs: Double = writeStages.map { case (_, end) =>
      val next = (jobStartsMs.filter(_ >= end) :+ endMs).min
      math.max(0L, next - end).toDouble
    }.sum
  }
}

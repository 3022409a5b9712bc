package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one job group. */
final class GroupCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var schedDelayMs = 0L
  var recordsRead = 0L
  var shuffleBytes = 0L
  var bytesWritten = 0L
}

/** Folds jobs, stages and task metrics per Spark job group. Every
  * traced span runs under its own group on its client thread, so work
  * is attributed exactly even while other clients run concurrently.
  * Read [[counts]] only after [[drain]].
  */
final class GroupListener(sc: SparkContext) extends SparkListener {
  private val groups = new ConcurrentHashMap[String, GroupCounts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def acc(g: String): GroupCounts =
    groups.computeIfAbsent(g, _ => new GroupCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      val c = acc(group)
      c.synchronized(c.jobs += 1)
      e.stageIds.foreach(stageGroup.put(_, group))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val c = acc(g)
      c.synchronized(c.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val c = acc(g)
      val m = e.taskMetrics
      val info = e.taskInfo
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          // Spark UI's scheduler delay: task wall not spent deserializing,
          // running, serializing or fetching the result.
          c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (info.gettingResult) info.finishTime - info.gettingResultTime
             else 0L))
          c.recordsRead += m.inputMetrics.recordsRead
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  def counts(group: String): GroupCounts =
    Option(groups.get(group)).getOrElse(new GroupCounts)
}

/** One timed call into a layer, from the benchmark's side of the API. */
final case class Span(request: Long, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans of one client thread. A span sets its own Spark job group
  * (`<request>/<span>`) so the listener can attribute its jobs.
  */
final class Tracer(sc: SparkContext) {
  val spans = new ArrayBuffer[Span]()

  def span[T](request: Long, name: String)(body: => T): T = {
    sc.setJobGroup(s"$request/$name", name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(request, name, t0, System.nanoTime())
      sc.clearJobGroup()
    }
  }
}

object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean

  def load1m: Double = os.getSystemLoadAverage

  def processCpuNs: Long = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  /** Old-generation bytes in use right after a full collection. */
  def heapAfterGcMb: Double = {
    System.gc()
    System.gc()
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    val bytes =
      if (old.nonEmpty) old.map(p => Option(p.getCollectionUsage)
        .getOrElse(p.getUsage).getUsed).sum
      else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    bytes / (1024.0 * 1024.0)
  }
}

object Stats {
  /** Nearest-rank percentile (`p` in 0..100) of a non-empty sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else pct(xs, 50)
}

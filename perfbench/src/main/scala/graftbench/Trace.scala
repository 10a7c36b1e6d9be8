package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Task-metric totals of one job group, folded by [[LayerListener]]. */
final class GroupTotals {
  var jobs = 0
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  val taskMsByStage = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
}

/** Attributes Spark task metrics to job groups. A job belongs to the
  * group in its `spark.jobGroup.id` local property at submission; its
  * stages' task-end events are folded into that group. Only groups with
  * the given prefix are tracked.
  *
  * Jobs of [[LayerListener.FenceGroup]] act as an ordering barrier:
  * one listener queue delivers events in order, so once the end of a
  * job submitted AFTER a layer's jobs is seen, every task event of that
  * layer has been folded. */
final class LayerListener(prefix: String) extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, GroupTotals]()
  private val fenceJobs = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var fences = 0

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    groupOf(e.properties).foreach { g =>
      if (g == LayerListener.FenceGroup) fenceJobs.add(e.jobId)
      else if (g.startsWith(prefix)) {
        val t = totals.computeIfAbsent(g, _ => new GroupTotals)
        t.synchronized { t.jobs += 1 }
        e.stageIds.foreach(stageGroup.put(_, g))
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (fenceJobs.remove(e.jobId)) fences += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val t = totals.get(g)
      t.synchronized {
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        t.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        t.taskMsByStage.getOrElseUpdate(e.stageId,
          mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
      }
    }
  }

  def fenceCount: Int = fences

  /** Remove and return the totals of one group (empty if it ran no job). */
  def take(group: String): GroupTotals =
    Option(totals.remove(group)).getOrElse(new GroupTotals)
}

object LayerListener {
  val FenceGroup = "graftbench-fence"
}

/** Per-layer figures of the traced run, accumulated over calls. */
final case class LayerFigures(calls: Int, wallS: Double, cpuS: Double,
    gcS: Double, allocMb: Double, rowsOut: Long, jobs: Int,
    shuffleMb: Double, spillMb: Double, skew: Double) {
  def +(o: LayerFigures): LayerFigures = LayerFigures(calls + o.calls,
    wallS + o.wallS, cpuS + o.cpuS, gcS + o.gcS, allocMb + o.allocMb,
    rowsOut + o.rowsOut, jobs + o.jobs, shuffleMb + o.shuffleMb,
    spillMb + o.spillMb, math.max(skew, o.skew))
}

/** Wraps each layer call of the traced run: a job group per call, task
  * metrics from [[LayerListener]], JVM-wide GC time and allocated bytes
  * read from the MXBeans before and after the (sequential) call, and
  * wall and CPU as [[Common.measure]] takes them for the end-to-end
  * figures, so layers and operations add up in the same currency. The
  * caller forces the layer boundary (persist + count) inside `body` and
  * returns the row count it produced. */
final class Tracer(spark: SparkSession) {
  private val prefix = "graftbench-layer-"
  val listener = new LayerListener(prefix)
  spark.sparkContext.addSparkListener(listener)

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private var seq = 0
  val layers = mutable.LinkedHashMap[String, LayerFigures]()

  private def gcMs(): Long = gcs.map(g => math.max(0L, g.getCollectionTime)).sum
  private def allocBytes(): Long =
    threads.getThreadAllocatedBytes(threads.getAllThreadIds).filter(_ > 0).sum

  private def fence(): Unit = {
    val before = listener.fenceCount
    val sc = spark.sparkContext
    sc.setJobGroup(LayerListener.FenceGroup, "fence", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (listener.fenceCount <= before && System.nanoTime() < deadline)
      Thread.sleep(2)
  }

  /** Run one traced layer call. Returns (result, rows) of `body`. */
  def layer[A](name: String)(body: => (A, Long)): A = {
    seq += 1
    val group = s"$prefix$name-$seq"
    val sc = spark.sparkContext
    val gc0 = gcMs(); val al0 = allocBytes()
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val ((a, rows), wall, cpu) =
      try Common.measure(body) finally sc.clearJobGroup()
    val gc = gcMs() - gc0; val al = allocBytes() - al0
    fence()
    val t = listener.take(group)
    val skew = if (t.taskMsByStage.isEmpty) 1.0
      else t.taskMsByStage.valuesIterator.map(b => Stats.skew(b.toSeq)).max
    val f = LayerFigures(1, wall, cpu, gc / 1e3,
      math.max(0L, al) / 1048576.0, rows, t.jobs,
      (t.shuffleWriteBytes + t.shuffleReadBytes) / 1048576.0,
      t.spillBytes / 1048576.0, skew)
    layers(name) = layers.get(name).map(_ + f).getOrElse(f)
    a
  }

  /** The nine standard per-call figures of every layer, as reported:
    * means per call (skew: worst call). */
  def report(): Map[String, Double] = layers.toSeq.flatMap { case (n, f) =>
    val c = f.calls.toDouble
    Seq(s"$n.wall_s" -> f.wallS / c, s"$n.cpu_s" -> f.cpuS / c,
      s"$n.gc_s" -> f.gcS / c, s"$n.alloc_mb" -> f.allocMb / c,
      s"$n.rows_out" -> f.rowsOut / c, s"$n.jobs" -> f.jobs / c,
      s"$n.shuffle_mb" -> f.shuffleMb / c, s"$n.spill_mb" -> f.spillMb / c,
      s"$n.task_skew" -> f.skew)
  }.toMap
}

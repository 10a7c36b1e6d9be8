package graftbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Command-line settings of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, cores: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
  }
}

/** What a workload hands back: its check ledger, end-to-end figures
  * (untraced run) or per-layer figures (traced run), and free-form facts
  * for the log. */
final case class Outcome(led: Ledger, metrics: Map[String, Double],
    facts: Map[String, Any])

/** Outcome bookkeeping shared by the workloads. */
final class Ledger {
  var attempted = 0
  var failed = 0
  val problems = mutable.ArrayBuffer[String]()

  /** Record one call and its output check. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (problems.length < 20) problems += what }
  }
}

object Common {

  /** The session every workload runs in: one process, all cores, the
    * planner settings of the repo's own bench harness except one shuffle
    * partition per core (not two): at these table sizes the graph-table
    * writes are file-count bound, and cores x 2 partitions doubles the
    * small files of every partitioned write. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  private def threadCpuNs(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** (result, wall seconds, CPU seconds) of `f`. CPU is what the JVM's
    * Java threads (Spark task threads, the driver and its scheduler
    * threads) used during `f`; JIT compiler and GC threads are not Java
    * threads and are left out (GC is reported per layer). Time the
    * hypervisor steals is not charged to a thread, so on a shared host
    * this is far steadier than wall time. */
  def measure[A](f: => A): (A, Double, Double) = {
    val c0 = threadCpuNs()
    val (a, wall) = time(f)
    val c1 = threadCpuNs()
    val cpuNs = c1.iterator.map { case (id, ns) => ns - c0.getOrElse(id, 0L) }.sum
    (a, wall, cpuNs / 1e9)
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** The regular files under a directory, Hadoop checksum sidecars
    * excluded. */
  def files(path: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Iterator[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).iterator.flatten.flatMap(walk)
      else Iterator(f)
    walk(new java.io.File(path)).filter(f => f.isFile && !f.getName.endsWith(".crc")).toSeq
  }

  /** Bytes on disk under a directory. */
  def du(path: String): Long = files(path).map(_.length).sum

  def rmrf(path: String): Unit = {
    def del(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(del))
      f.delete(); ()
    }
    del(new java.io.File(path))
  }

  /** Run `op(i)` for i = 0, 1, ... until `seconds` have elapsed and at
    * least `min` calls were made. Stop only after a call that returns
    * true (it closed a whole cycle), unless `hardCap` seconds pass
    * first. */
  def loop(seconds: Double, hardCap: Double, min: Int = 1)(op: Int => Boolean): Int = {
    val t0 = System.nanoTime()
    def el = (System.nanoTime() - t0) / 1e9
    var i = 0
    var atBoundary = true
    while (i < min || (el < seconds || !atBoundary) && el < hardCap) {
      atBoundary = op(i)
      i += 1
    }
    i
  }
}

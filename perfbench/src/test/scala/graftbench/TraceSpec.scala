package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .appName("trace-spec").config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", 2).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("task metrics are attributed to the job group of the layer call") {
    val tr = new Tracer(spark)
    val sc = spark.sparkContext
    // work outside any layer must not leak into one
    sc.parallelize(1 to 100000, 4).map(_ * 2).count()
    val a = tr.layer("a") {
      val n = sc.parallelize(1 to 1000, 3).count(); (n, n)
    }
    val b = tr.layer("b") {
      val r = sc.parallelize(1 to 20000, 4).map(i => (i % 10, i)).reduceByKey(_ + _)
      val n = r.count() + r.count(); (n, n)
    }
    assert(a == 1000 && b == 20)
    val fa = tr.layers("a"); val fb = tr.layers("b")
    assert(fa.jobs == 1 && fb.jobs == 2)
    assert(fa.rowsOut == 1000 && fb.rowsOut == 20)
    assert(fa.shuffleMb == 0.0 && fb.shuffleMb > 0.0)
    assert(fa.wallS > 0 && fb.cpuS > 0)
    assert(fa.calls == 1)
  }

  test("repeated calls accumulate and report per-call means") {
    val tr = new Tracer(spark)
    (1 to 3).foreach { _ =>
      tr.layer("x") { val n = spark.range(10).count(); (n, n) }
    }
    val f = tr.layers("x")
    assert(f.calls == 3 && f.rowsOut == 30)
    val r = tr.report()
    assert(r("x.rows_out") == 10.0)
    assert(r("x.jobs") == f.jobs / 3.0)
    assert(r.keySet == Set("wall_s", "cpu_s", "gc_s", "alloc_mb", "rows_out",
      "jobs", "shuffle_mb", "spill_mb", "task_skew").map("x." + _))
  }

  test("a layer that runs no job reports zero jobs and unit skew") {
    val tr = new Tracer(spark)
    tr.layer("driver-only") { ((), 0L) }
    val f = tr.layers("driver-only")
    assert(f.jobs == 0 && f.skew == 1.0 && f.shuffleMb == 0.0)
  }
}

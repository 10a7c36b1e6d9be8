package graftbench

/** Entry point: runs one workload in one process and prints one line
  * `GRAFTBENCH {json}` with the calls attempted/failed, the figures and
  * the facts of the run. perfbench/run.py turns it into the result. */
object Main {

  def json(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => s"${json(k.toString)}: ${json(x)}" }
        .mkString("{", ", ", "}")
    case s => "\"" + s.toString.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val (spark, sessionS) = Common.time(Common.session(a.cores, a.work))
    val out = try {
      a.workload match {
        case "batch_build" => BatchBuild.run(spark, a)
        case "stream_publish" => StreamPublish.run(spark, a)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally spark.stop()
    val rec = Map("attempted" -> out.led.attempted, "failed" -> out.led.failed,
      "metrics" -> out.metrics, "facts" -> (out.facts ++ Map(
        "session_start_s" -> sessionS, "problems" -> out.led.problems.mkString("; "))))
    println("GRAFTBENCH " + json(rec))
  }
}

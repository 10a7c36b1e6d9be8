package graftbench

import graft.Pipeline
import graft.core.{CorpusGen, SourceFileHashed}
import graft.extract.Extract
import graft.link.Linker
import graft.sources.{ContentHash, GraphTables}
import graft.triples.TripleEmit
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** batch_build: the paper's job end to end. One client, closed loop:
  * each pass reads the materialized source table, verifies its sha256
  * invariant, runs the dynamic-canon pipeline and publishes the triples
  * to a fresh graph table. Checked against the closed-form gold. */
object BatchBuild {

  val Files = 1500L
  val TripleCols = Seq("subj", "pred", "obj", "docId")

  /** The seed picks the file-id range; content is a pure function of
    * the id, so the same seed gives the same table. */
  def idRange(seed: Long): (Long, Long) = {
    val lo = 1000000L * Math.floorMod(seed, 1000L)
    (lo, lo + Files)
  }

  /** Materialize the source table; return the gold (rowCount, hash)
    * over the same ids, computed from the generator's closed form. */
  def prepare(spark: SparkSession, dir: String, ids: (Long, Long)): (Long, String) = {
    import spark.implicits._
    spark.range(ids._1, ids._2).map(id => CorpusGen.file(id).source)
      .write.mode("overwrite").parquet(dir)
    ContentHash.hex(goldTriples(spark, ids), TripleCols)
  }

  def goldTriples(spark: SparkSession, ids: (Long, Long)): DataFrame = {
    import spark.implicits._
    spark.range(ids._1, ids._2).flatMap(id => CorpusGen.file(id).triples)
      .toDF().dropDuplicates(TripleCols)
  }

  private def files(spark: SparkSession, src: String) = {
    import spark.implicits._
    spark.read.parquet(src).as[SourceFileHashed]
  }

  /** One untraced pass, exactly as a user runs it. */
  def pass(spark: SparkSession, src: String, table: String): (Long, String) = {
    Extract.verifyIntegrity(files(spark, src))
    val st = Pipeline.runFromTableDynamic(spark, src)
    try GraphTables.write(st.triples, table, "s0")
    finally spark.catalog.clearCache()
  }

  /** The same pass with every layer call wrapped and its boundary
    * forced (persist + count). Returns the published (rows, hash). */
  def tracedPass(spark: SparkSession, tr: Tracer, src: String,
      table: String, extras: collection.mutable.Map[String, Double]): (Long, String) = {
    import spark.implicits._
    try {
      val f = files(spark, src)
      val nFiles = tr.layer("sources.verify") {
        val n = Extract.verifyIntegrity(f); (n, n)
      }
      val ments = tr.layer("extract") {
        val m = Extract.mentionsFused(f).persist(); (m, m.count())
      }
      val linked = tr.layer("link") {
        val l = Linker.link(ments).toDF().persist(); (l, l.count())
      }
      val (canonMap, canonRows) = tr.layer("canon") {
        val r = Pipeline.dynamicCanonMapGated(spark, linked); (r, r._2)
      }
      val triples = tr.layer("triples") {
        val hint = canonRows <= Pipeline.BroadcastCanonMaxRows
        val canon = Pipeline.canonicalize(linked, canonMap, hintBroadcast = hint)
          .as[TripleEmit.CanonMention]
        val t = (if (hint) TripleEmit.emitFusedLocal(canon)
          else TripleEmit.emitFused(canon)).toDF().persist()
        (t, t.count())
      }
      val out = tr.layer("sources.publish") {
        val r = GraphTables.write(triples, table, "s0"); (r, r._1)
      }
      val nMents = ments.count().toDouble
      val hits = linked.filter(col("linkScore") > 0).count().toDouble
      extras("extract.mentions_per_file") = nMents / nFiles
      extras("link.hit_ratio") = if (nMents > 0) hits / nMents else 0.0
      extras("sources.publish.files_written") =
        Common.files(s"$table/data").count(_.getName.endsWith(".parquet")).toDouble
      extras("sources.publish.bytes_written") = Common.du(s"$table/data").toDouble
      extras("sources.publish.bytes_per_triple") =
        Common.du(table).toDouble / math.max(1L, out._1)
      out
    } finally spark.catalog.clearCache()
  }

  def run(spark: SparkSession, a: Args): Outcome = {
    val ids = idRange(a.seed)
    val led = new Ledger
    // set-up, three times over: the median is the reported setup_s
    val setups = (0 until 3).map { r =>
      val s = Common.time(prepare(spark, s"${a.work}/src$r", ids))
      System.err.println(f"[graftbench] setup $r: ${s._2}%.3fs")
      s
    }
    val gold = setups.last._1
    val src = s"${a.work}/src2"
    (0 until 2).foreach(r => Common.rmrf(s"${a.work}/src$r"))
    // the first pass warms the JVM (it costs more than twice a later
    // one): it is checked and logged but left out of the figures
    val Warm = 1

    val walls = collection.mutable.ArrayBuffer[Double]()
    val cpus = collection.mutable.ArrayBuffer[Double]()
    val extras = collection.mutable.Map[String, Double]()
    val tr = if (a.trace) Some(new Tracer(spark)) else None
    var tableBytes = 0L
    // the traced run alternates untraced and traced passes; its first
    // (cold) pass is left out of the overhead comparison
    Common.loop(a.seconds, a.seconds * 3, min = if (a.trace) 3 else Warm + 3) { i =>
      val table = s"${a.work}/table$i"
      val doTrace = tr.isDefined && i % 2 == 1
      val (out, wall, cpu) = Common.measure {
        if (doTrace) tracedPass(spark, tr.get, src, table, extras)
        else pass(spark, src, table)
      }
      led.check(out == gold, s"pass $i published $out, gold $gold")
      System.err.println(f"[graftbench] pass $i${if (doTrace) " (traced)" else ""}: " +
        f"$wall%.3fs, cpu $cpu%.3fs")
      if (!doTrace) { walls += wall; cpus += cpu }
      tableBytes = Common.du(table)
      Common.rmrf(table)
      true
    }
    val setup = Stats.median(setups.map(_._2))
    val facts = Map[String, Any]("files" -> Files, "ids" -> s"${ids._1}..${ids._2}",
      "triples" -> gold._1, "passes" -> walls.length, "pass_s" -> walls.map(w => f"$w%.3f").mkString(" "),
      "pass_cpu_s" -> cpus.map(w => f"$w%.3f").mkString(" "),
      "triples_per_s" -> gold._1 / Stats.median(walls.takeRight(math.max(1, walls.length - Warm)).toSeq),
      "setup_reps_s" -> setups.map(s => f"${s._2}%.3f").mkString(" "),
      "table_bytes" -> tableBytes)
    val metrics = tr match {
      case None => Map(
        "setup_s" -> setup,
        "op_cpu_s" -> Stats.median(cpus.drop(Warm).toSeq))
      case Some(t) =>
        val layerMeans = t.layers.values.map(f => f.wallS / f.calls).toSeq
        val graph = GraphOps.tracedRound(spark, t, a.work, a.seed, led)
        val warm = walls.drop(1).toSeq
        t.report() ++ extras ++ graph ++ Map(
          "trace.layer_sum_s" -> layerMeans.sum,
          "trace.untraced_wall_s" -> Stats.mean(warm),
          "trace.overhead_s" -> Stats.overhead(layerMeans, warm))
    }
    Outcome(led, metrics, facts)
  }
}

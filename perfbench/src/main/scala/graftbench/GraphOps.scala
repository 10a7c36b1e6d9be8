package graftbench

import graft.canon.ConnectedComponents
import graft.ops.DedupOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The two operator families the pipeline never exercises at this
  * vocabulary size: distributed connected components (an alias-edge
  * graph above the driver-solve gate) and the dedup joins (jaccard with
  * a df cut, minhash LSH). Traced once per traced batch_build run. */
object GraphOps {

  // graph shape: long chains, one high-degree hub, many small pairs;
  // the edge total sits above ConnectedComponents.DriverSolveMaxEdges
  val Chains = 2560
  val ChainLen = 16 // a power of two: label = (pos * odd + b) mod len is a bijection
  val HubLeaves = 200000
  val Pairs = 265000
  def edgeCount: Long = Chains.toLong * (ChainLen - 1) + HubLeaves + Pairs

  // dedup input: fixed (seed-independent) near-duplicate document table
  val Docs = 5000
  val JaccardThreshold = 0.7
  val MaxDf = 200L

  private def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def chainLabel(seed: Long, c: Int, pos: Int): String = {
    val a = (mix(seed, c) | 1L) & (ChainLen - 1)
    val b = mix(seed, c + 100000L) & (ChainLen - 1)
    f"c$c%04d_${(pos * a + b) & (ChainLen - 1)}%05d"
  }

  /** (src, dst, comp): every edge with the closed-form component minimum
    * of its endpoints. The seed relabels chain positions (so the minimum
    * sits anywhere along a chain) and orients every edge. */
  def edges(spark: SparkSession, seed: Long): DataFrame = {
    import spark.implicits._
    val chainEdges = Chains.toLong * (ChainLen - 1)
    spark.range(edgeCount).map { i =>
      val (u, v, m) =
        if (i < chainEdges) {
          val c = (i / (ChainLen - 1)).toInt; val p = (i % (ChainLen - 1)).toInt
          (chainLabel(seed, c, p), chainLabel(seed, c, p + 1), f"c$c%04d_00000")
        } else if (i < chainEdges + HubLeaves) {
          ("h0000000", f"h${i - chainEdges + 1}%07d", "h0000000")
        } else {
          val q = i - chainEdges - HubLeaves
          (f"p$q%07d_a", f"p$q%07d_b", f"p$q%07d_a")
        }
      if ((mix(seed, i + 7L) & 1L) == 0L) (u, v, m) else (v, u, m)
    }.toDF("src", "dst", "comp")
  }

  /** Near-duplicate documents: a third start with a shared boilerplate
    * phrase (hot shingles above the df cut), every tenth doc is a copy
    * of an earlier one with one or two words changed. */
  def documents(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val words = ("spark graph table join scan sort hash query stream batch key value " +
      "row column filter group merge window data index shard node edge label " +
      "entity alias token span score vector chain hub pair file repo path commit " +
      "parse emit link canon publish snapshot overlay state delta read write").split(" ")
    def text(i: Int): String = {
      val r = new scala.util.Random(i * 7919L + 13L)
      val n = 20 + r.nextInt(60)
      val body = Vector.fill(n)(words(r.nextInt(words.length)))
      val lead = if (i % 3 == 0) Vector("the", "quick", "brown", "data", "fox") else Vector()
      (lead ++ body).mkString(" ")
    }
    spark.range(Docs).map { l =>
      val i = l.toInt
      val t =
        if (i % 10 == 9) {
          val r = new scala.util.Random(i.toLong)
          val toks = text(i - 1 - r.nextInt(8)).split(" ")
          (0 until 1 + r.nextInt(2)).foreach(_ => toks(r.nextInt(toks.length)) = words(r.nextInt(words.length)))
          toks.mkString(" ")
        } else text(i)
      (l, t)
    }.toDF("doc_id", "text")
  }

  final case class Paths(work: String) {
    val edges = s"$work/edges"; val docs = s"$work/documents"
  }

  def prepare(spark: SparkSession, p: Paths, seed: Long): Long = {
    edges(spark, seed).write.mode("overwrite").parquet(p.edges)
    documents(spark).write.mode("overwrite").parquet(p.docs)
    spark.read.parquet(p.edges).count()
  }

  /** One traced round of both families, run at the end of the traced
    * batch_build run: set-up, then one call each of CC, jaccard and
    * minhash under the tracer. Checks go to `led`; the dedup outputs
    * and their input land under `work/oracle` for the DuckDB check. */
  def tracedRound(spark: SparkSession, tr: Tracer, work: String, seed: Long,
      led: Ledger): Map[String, Double] = {
    require(edgeCount > ConnectedComponents.DriverSolveMaxEdges,
      "the CC graph must sit above the driver-solve gate")
    val p = Paths(s"$work/graph")
    prepare(spark, p, seed)
    val edgeDf = spark.read.parquet(p.edges)
    val expected = edgeDf.select(col("src").as("node"), col("comp"))
      .union(edgeDf.select(col("dst").as("node"), col("comp"))).distinct().localCheckpoint()
    val nodes = expected.count()

    val (labels, rounds) = tr.layer("canon.cc") {
      val (l, r) = ConnectedComponents.runWithStats(edgeDf.select("src", "dst"))
      val lp = l.persist()
      ((lp, r), lp.count())
    }
    val n = labels.count()
    val bad = labels.join(expected, Seq("node"), "full_outer")
      .filter(col("component").isNull || col("comp").isNull || col("component") =!= col("comp"))
      .count()
    led.check(n == nodes && bad == 0 && rounds > 0,
      s"cc: $n labels for $nodes nodes, $bad wrong, $rounds rounds")
    labels.unpersist()

    // the dedup oracles live in the library next to the queries they
    // check; run.py runs them with DuckDB over the same documents
    val sql = graft.SparkEntry.oracleSql
    val oracle = java.nio.file.Paths.get(work, "oracle")
    java.nio.file.Files.createDirectories(oracle)
    java.nio.file.Files.writeString(oracle.resolve("queries.json"), Main.json(
      Map("dedup_jaccard" -> sql("dedup_jaccard"), "dedup_minhash" -> sql("dedup_minhash"))))
    val docs = spark.read.parquet(p.docs)
    def dedup(name: String)(f: => DataFrame): Unit = {
      val d = tr.layer(s"ops.$name") { val d = f.persist(); (d, d.count()) }
      d.write.mode("overwrite").parquet(s"$work/oracle/$name")
      led.check(d.count() > 0, s"$name: no pairs")
      spark.catalog.clearCache()
    }
    dedup("dedup_jaccard")(DedupOps.jaccardPairs(docs, "doc_id", "text", JaccardThreshold, MaxDf))
    dedup("dedup_minhash")(DedupOps.minhashLshPairs(docs, "doc_id", "text", JaccardThreshold))
    Common.rmrf(p.edges)
    Map("canon.cc.rounds" -> rounds.toDouble)
  }
}

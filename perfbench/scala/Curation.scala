package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** curation_batch: a fixed slice of the dedup, graph, ANN and text
  * artifact builders (`Artifacts.builders`) and their consumers
  * (`SparkEntry.queries`), each pass in a fresh session so
  * `SessionCache` serves nothing. Builders force their artifact;
  * consumers are timed by writing every output column to parquet — a
  * `.count()` would let column pruning skip output projections — and
  * the last pass's files are checked against each consumer's
  * `SparkEntry.oracleSql` by `run.py` with the repo's `tools/check.py`.
  *
  * A first pass over tiny tables warms the JIT and code-generation
  * caches during set-up: measured cold, the same pass read 40–54 s
  * across five seeds, far too noisy to gate on.
  *
  * The slice holds the hot lines `dedup_pair_table`,
  * `dedup_ppjoin_pairs`, `graph_walks`, `graph_triangles` and
  * `graph_hits`, plus enough ANN and text work to see those layers.
  */
object Curation {
  val Builders: Seq[String] = Seq(
    "dedup_pair_table", "dedup_ppjoin_pairs", "graph_edges", "graph_walks",
    "graph_bipartite", "ann_brute_scored", "text_token_counts")
  val Consumers: Seq[String] = Seq(
    "dedup_ngram_jaccard", "dedup_ppjoin", "graph_random_walks", "graph_triangles",
    "graph_hits", "ann_bruteforce_topk", "text_token_count")

  def layer(entry: String): String = entry.takeWhile(_ != '_')

  /** Per-entry wall ms of one pass; consumer outputs go under `out`. */
  def pass(spark: SparkSession, tables: String, out: Path, r: Result): Seq[(String, Double)] = {
    val builders = graft.Artifacts.builders.toMap
    def timed(name: String)(f: => Unit): Option[(String, Double)] =
      LayerListener.tagged(spark.sparkContext, layer(name)) {
        val t0 = System.nanoTime()
        r.attempt(name)(f).map(_ => name -> (System.nanoTime() - t0) / 1e6)
      }
    Builders.flatMap(b => timed(b)(builders(b)(spark, tables))) ++
      Consumers.flatMap(c => timed(c) {
        graft.SparkEntry.queries(c)(spark, tables)
          .write.mode("overwrite").parquet(out.resolve(c).toString)
      })
  }

  /** Stop the current session and start a fresh one. */
  private def fresh(ctx: Ctx): SparkSession = {
    SparkSession.getDefaultSession.foreach(_.stop())
    ctx.session()
  }

  def run(ctx: Ctx, spark0: SparkSession, r: Result): Unit = {
    val tables = ctx.tables.getOrElse(sys.error("curation_batch needs --tables"))
    val out = ctx.dir("curation-out")
    r.info("builders") = Builders
    r.info("consumers") = Consumers
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"), Consumers.map { c =>
      "\"" + c + "\":" + Result.quote(oracle(c))
    }.mkString("{", ",", "}"))

    val t0 = System.nanoTime()
    val warm = ctx.warmTables.getOrElse(sys.error("curation_batch needs --warm-tables"))
    val warmResult = new Result
    pass(spark0, warm, ctx.dir("warm-out"), warmResult)
    r.metrics("setup.warmup_s") = Main.seconds(t0)
    r.info("warmup_done") = warmResult.failed == 0
    r.mark("warmup")

    def measure(listener: Option[LayerListener]): (Seq[Double], Seq[Seq[(String, Double)]]) = {
      val walls = mutable.ArrayBuffer.empty[Double]
      val entries = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
      val start = System.nanoTime()
      while (walls.isEmpty || Main.seconds(start) < ctx.seconds) {
        val spark = fresh(ctx)
        listener.foreach(spark.sparkContext.addSparkListener)
        val t = System.nanoTime()
        entries += pass(spark, tables, out, r)
        walls += (System.nanoTime() - t) / 1e6
        listener.foreach { l =>
          l.awaitDelivery(spark.sparkContext)
          spark.sparkContext.removeSparkListener(l)
        }
      }
      (walls.toSeq, entries.toSeq)
    }

    val (walls, entries) = measure(None)
    // per-pass totals, so every entry of the slice adds to the figure
    def total(names: Seq[String]) = entries.map(_.filter(e => names.contains(e._1)).map(_._2).sum)
    r.metrics("batch_s") = Stats.median(walls) / 1000
    r.metrics("commit_latency_p50_ms") = Stats.median(total(Builders))
    r.metrics("read_latency_p50_ms") = Stats.median(total(Consumers))
    r.info("pass_ms") = Stats.summary(walls)
    r.info("entry_ms") = entries.last.map { case (k, v) => s"$k=${math.round(v)}" }.mkString(",")
    r.mark("measure")

    if (ctx.trace) {
      // overhead compares warm passes with and without the listener
      val (warmWalls, _) = measure(None)
      val l = new LayerListener
      val (tracedWalls, tracedEntries) = measure(Some(l))
      r.metrics("trace.overhead_frac") = Stats.median(tracedWalls) / Stats.median(warmWalls) - 1
      val wallS = tracedWalls.sum / 1000
      Cdc.sparkMetrics(r, l.total(), wallS, ctx.cores)
      val perEntry = tracedEntries.flatten.groupBy(_._1).map { case (k, v) => k -> Stats.median(v.map(_._2)) }
      val passes = tracedWalls.size.toDouble
      Seq("dedup", "graph", "ann", "text").foreach { name =>
        val c = l.counters(name)
        r.metrics(s"$name.ms") = perEntry.filter(e => layer(e._1) == name).values.sum
        r.metrics(s"$name.shuffle_mb") = c.mb(c.shuffleWrite) / passes
        r.metrics(s"$name.jobs") = c.jobs / passes
        r.metrics(s"$name.spill_mb") = c.mb(c.spill) / passes
      }
      Seq("dedup.pair_table_ms" -> "dedup_pair_table", "dedup.ppjoin_pairs_ms" -> "dedup_ppjoin_pairs",
        "graph.walks_ms" -> "graph_walks", "graph.triangles_ms" -> "graph_triangles",
        "graph.hits_ms" -> "graph_hits").foreach { case (m, e) => r.metrics(m) = perEntry.getOrElse(e, 0.0) }
    }
  }
}

package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.cdc._

/** cdc_steady: the reference path — file-source Debezium envelopes →
  * `DebeziumEnvelope.parse` → `CdcOps` fold → `ParquetUpsertSink`
  * commit — driven through `CdcStreamJob.execute` and timed from
  * outside, in the two phases a CDC deployment goes through.
  *
  * Catch-up (closed loop): one `Trigger.AvailableNow` drain of a seeded
  * backlog into an empty state — the initial-load path, where decode
  * and fold carry the work and the sink commits once. A smaller drain
  * of another changelog into another state runs first, during set-up,
  * so the timed drain does not pay class loading, code generation and
  * streaming-query start-up.
  *
  * Steady (open loop): on the state the catch-up built, a generator
  * thread publishes small envelope files at a fixed offered rate while
  * the job runs as-fast-as-possible micro-batches and a reader thread
  * issues point lookups and aggregate scans on its own schedule. Each
  * batch is small next to the state, so dirty-bucket read, rewrite and
  * commit carry it; reads beside writes show a layout change that buys
  * commit speed with read cost. The loop's first seconds are set-up, not
  * measured: on 4 vCPUs, loop after loop still got faster as the JIT
  * warmed the merge path (commit p50 2.6, 2.3, 1.8 s over three 10 s
  * loops), and a first loop on that slope read 0.17–0.23 apart across
  * seeds.
  */
object Cdc {
  val NumBuckets = 16
  /** Event-time origin of every generated change (ms since epoch). */
  val TsBase = 1700000000000L

  /** The changelog's shape is the one measured on the repo's own CDC
    * changelog (`CdcOps.userChangelog` over the events table, at sf0.01
    * and sf0.1): per-key change counts have the spread of a uniform
    * draw (coefficient of variation 0.123–0.126 against 0.122 for
    * Poisson), so keys are drawn uniformly; ops are 20% creates, 20%
    * deletes and 60% updates; 0.003% of changes share the previous
    * change's millisecond. The key count is a sizing choice.
    */
  val Keys = 20000
  val ZipfS = 0.0
  val PCreate = 0.2
  val PDelete = 0.2
  val TieShare = 0.00003

  val BacklogRows = 100000
  val BacklogFiles = 4
  /** Rows of the set-up drain that warms the engine. */
  val WarmRows = 30000
  /** Seconds at the start of the open loop that warm it up, unmeasured. */
  val WarmLoopS = 8.0

  /** Offered load. Measured on 4 vCPUs, the loop keeps up with 4000
    * rows/s (batches grow from 2.0 to 2.4 s), so 500 rows/s is well
    * below capacity and a batch's fixed sink cost dominates it.
    */
  val OfferedRowsPerS = 500
  val FileEveryMs = 100
  /** A read takes 150–250 ms beside the writer, so the reader is under a
    * quarter busy and a read waits only when the one before it overran
    * the interval. At one read every 500 ms, with two competing CPU hogs
    * on 4 vCPUs, reads overran, the reader's queue grew and both
    * latencies grew three- to fivefold; at 1000 ms they grew 1.3–1.4×.
    */
  val ReadEveryMs = 1000
  /** One read in this many is an aggregate scan; the rest are point lookups. */
  val ScanEvery = 4

  private val RawSchema = "key STRING, value STRING, topic STRING"

  def config(src: Path, ckpt: Path, state: Path): CdcJobConfig =
    CdcJobConfig(FileSource(src.toString), ckpt.toString, state.toString,
      Changelog.KeyCols, Changelog.PkSchema, Changelog.RowSchema, NumBuckets)

  def sink(spark: SparkSession, state: Path): ParquetUpsertSink =
    new ParquetUpsertSink(spark, state.toString, Changelog.KeyCols, NumBuckets)

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** One AvailableNow drain of `src` into `state`; wall ms. */
  def drain(spark: SparkSession, src: Path, ckpt: Path, state: Path): Double = {
    val t0 = System.nanoTime()
    new CdcStreamJob(spark, config(src, ckpt, state)).execute(Trigger.AvailableNow())
      .awaitTermination()
    ms(t0)
  }

  /** Write `rows` changes as `files` envelope files, one ms apart in event time. */
  def writeBacklog(gen: Changelog, dir: Path, rows: Int, files: Int): Unit = {
    val per = (rows + files - 1) / files
    (0 until files).foreach { f =>
      val cs = (0 until math.min(per, rows - f * per)).map(i => gen.next(TsBase + f * per + i))
      Changelog.publish(dir, f"part-$f%05d.json", Changelog.lines(cs))
    }
  }

  def pointRead(reader: ParquetUpsertSink, key: Long): Unit = {
    reader.readState().filter(col("id") === key).collect(); ()
  }

  def scanRead(reader: ParquetUpsertSink): Unit = {
    reader.readState().agg(count(lit(1)), sum(col("qty"))).collect(); ()
  }

  /** Output check: the committed state equals `CdcOps.latestState` over
    * the whole generated changelog, by row count plus an
    * order-insensitive hash of every column.
    */
  def checkState(spark: SparkSession, r: Result, state: Path, changelog: DataFrame): Unit = {
    val cols = (Changelog.KeyCols ++ Changelog.DataCols :+ "last_ts_ms").map(col)
    def digest(df: DataFrame): String = {
      val row = df.select(cols: _*)
        .agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)")))
        .head()
      s"${row.getLong(0)}/${row.get(1)}"
    }
    r.attempt("state check") {
      val expected = digest(CdcOps.latestState(changelog, Changelog.KeyCols, Changelog.DataCols))
      val actual = digest(sink(spark, state).readState())
      r.info("state_digest") = actual
      r.check("readState == latestState", expected == actual, s"expected $expected got $actual")
    }
  }

  // ------------------------------------------------------------------
  // open loop

  /** One pre-generated envelope file of the open loop. */
  final case class DueFile(name: String, dueMs: Long, bytes: Array[Byte], rows: Int)

  /** Files for `seconds` of load at the offered rate; envelope j is due
    * (j + 1) / rate seconds after the loop starts and carries that due
    * time, offset by `firstRow` envelopes past [[TsBase]], as its ts_ms;
    * a file is due when its last envelope is.
    */
  def schedule(gen: Changelog, tag: String, seconds: Double, firstRow: Long): Seq[DueFile] = {
    val perFile = OfferedRowsPerS * FileEveryMs / 1000
    (0 until (seconds * 1000 / FileEveryMs).toInt).map { f =>
      val cs = (0 until perFile).map { i =>
        gen.next(TsBase + (firstRow + f.toLong * perFile + i + 1) * 1000 / OfferedRowsPerS)
      }
      DueFile(f"$tag-$f%05d.json", (f + 1).toLong * FileEveryMs, Changelog.lines(cs), perFile)
    }
  }

  /** File → batchId, from the file source's log in the checkpoint. */
  def fileBatches(ckpt: Path): Map[String, Long] = {
    val log = ckpt.resolve("sources").resolve("0")
    val Entry = """.*"path":"([^"]+)".*"batchId":(\d+).*""".r
    if (!Files.exists(log)) Map.empty
    else Files.list(log).iterator().asScala.filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala).collect {
        case Entry(path, b) => path.substring(path.lastIndexOf('/') + 1) -> b.toLong
      }.toMap
  }

  /** Wall-clock end (ms) of each data micro-batch, from its progress report. */
  def batchEnds(ps: Seq[StreamingQueryProgress]): Map[Long, Long] =
    ps.filter(_.numInputRows > 0).map { p =>
      p.batchId -> (java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.get("triggerExecution").longValue)
    }.toMap

  /** What one open-loop session measured. */
  final case class Loop(commitMs: Seq[Double], readMs: Seq[Double], lateMs: Seq[Double],
                        batchMs: Seq[Double], rowsPerS: Double, wallS: Double, warmupS: Double,
                        queryId: java.util.UUID)

  /** One open-loop session: start the job, let it commit a primer file
    * and serve a first lookup and scan; publish `files` on schedule and
    * read on schedule; let the job catch up and stop it. A file's commit
    * latency runs from its due time to the end of the micro-batch whose
    * commit holds it. Files and reads due in the first `warmMs` are the
    * warm-up: committed, read and checked, but not measured.
    */
  def openLoop(ctx: Ctx, spark: SparkSession, r: Result, tag: String,
               files: Seq[DueFile], primer: DueFile, state: Path, warmMs: Long = 0L): Loop = {
    val src = ctx.dir(s"$tag-in")
    val ckpt = ctx.work.resolve(s"$tag-ckpt")
    val tw = System.nanoTime()
    val q = new CdcStreamJob(spark, config(src, ckpt, state)).execute(Trigger.ProcessingTime(0L))
    Changelog.publish(src, primer.name, primer.bytes)
    q.processAllAvailable()
    val rng = new java.util.SplittableRandom(ctx.seed ^ tag.hashCode)
    pointRead(sink(spark, state), rng.nextInt(Keys).toLong)
    scanRead(sink(spark, state))
    val warmupS = Main.seconds(tw)

    val t0 = System.currentTimeMillis() + 200
    def sleepUntil(at: Long): Unit = { val d = at - System.currentTimeMillis(); if (d > 0) Thread.sleep(d) }
    val late = new ConcurrentLinkedQueue[Double]()
    val reads = new ConcurrentLinkedQueue[Double]()
    val readErrors = new ConcurrentLinkedQueue[Throwable]()
    val generator = new Thread(() => files.foreach { f =>
      sleepUntil(t0 + f.dueMs)
      Changelog.publish(src, f.name, f.bytes)
      late.add((System.currentTimeMillis() - t0 - f.dueMs).toDouble)
    })
    val nReads = (files.last.dueMs / ReadEveryMs).toInt
    val reader = new Thread(() => {
      val s = sink(spark, state)
      (0 until nReads).foreach { j =>
        val due = t0 + (j + 1).toLong * ReadEveryMs
        sleepUntil(due)
        try {
          if (j % ScanEvery == ScanEvery - 1) scanRead(s) else pointRead(s, rng.nextInt(Keys).toLong)
          r.attempted += 1
          if (due - t0 > warmMs) reads.add((System.currentTimeMillis() - due).toDouble)
        } catch { case e: Throwable => readErrors.add(e) }
      }
    })
    generator.start(); reader.start()
    generator.join(); reader.join()
    readErrors.asScala.foreach(e => r.attempt("read")(throw e))
    r.attempt("catch up")(q.processAllAvailable())
    q.stop()
    q.exception.foreach(e => r.attempt("stream")(throw e))

    val byFile = fileBatches(ckpt)
    val progress = q.recentProgress.toSeq
    val ends = batchEnds(progress)
    val commits = files.flatMap { f =>
      r.attempt(s"commit of ${f.name}")(ends(byFile(f.name))).map(end => (f, (end - t0 - f.dueMs).toDouble))
    }.filter(_._1.dueMs > warmMs)
    val loopBatches = commits.flatMap(c => byFile.get(c._1.name)).toSet
    val batchMs = progress.filter(p => loopBatches.contains(p.batchId))
      .map(_.durationMs.get("triggerExecution").doubleValue)
    val start = t0 + warmMs
    val lastEnd = commits.map { case (f, l) => t0 + f.dueMs + l }.maxOption.getOrElse(start + 1.0)
    Loop(commits.map(_._2), reads.asScala.toSeq, late.asScala.toSeq, batchMs,
      commits.map(_._1.rows).sum / ((lastEnd - start) / 1000), (lastEnd - start) / 1000,
      warmupS + warmMs / 1000.0, q.id)
  }

  // ------------------------------------------------------------------
  // the workload

  def steady(ctx: Ctx, spark: SparkSession, r: Result): Unit = {
    r.info ++= Seq("keys" -> Keys, "backlog_rows" -> BacklogRows, "zipf_s" -> ZipfS,
      "p_create" -> PCreate, "p_delete" -> PDelete, "tie_share" -> TieShare,
      "offered_rows_per_s" -> OfferedRowsPerS, "file_every_ms" -> FileEveryMs,
      "read_every_ms" -> ReadEveryMs)
    val t0 = System.nanoTime()
    def params(seed: Long) = GenParams(seed, Keys, ZipfS, PCreate, PDelete, TieShare)
    val warmSrc = ctx.dir("warm-in")
    writeBacklog(new Changelog(params(~ctx.seed)), warmSrc, WarmRows, BacklogFiles)
    val gen = new Changelog(params(ctx.seed))
    val backlogSrc = ctx.dir("backlog-in")
    writeBacklog(gen, backlogSrc, BacklogRows, BacklogFiles)
    // generated in publication order, so event time rises with it
    var row = 2L * BacklogRows
    def next(tag: String, seconds: Double): Seq[DueFile] = {
      val fs = schedule(gen, tag, seconds, row)
      row += fs.map(_.rows).sum + OfferedRowsPerS
      fs
    }
    // traced runs add a traced loop and an untraced one after it: the
    // loops still speed up as the JIT warms, so the tracing overhead
    // compares the traced loop with the mean of the untraced loops
    // either side of it
    val loops = (0 until (if (ctx.trace) 3 else 1)).map { i =>
      (next(s"primer$i", FileEveryMs / 1000.0).head,
        next(s"loop$i", if (i == 0) WarmLoopS + ctx.seconds else ctx.seconds))
    }
    val splitFiles = if (ctx.trace) next("split", 6.0).grouped(20).toSeq else Seq.empty
    r.metrics("setup.datagen_s") = Main.seconds(t0)
    r.mark("datagen")

    val tw = System.nanoTime()
    val warmDrain = r.attempt("warm-up drain")(
      drain(spark, warmSrc, ctx.work.resolve("warm-ckpt"), ctx.work.resolve("warm-state")))
    warmDrain.foreach(d => r.info("warmup_drain_ms") = d)
    val warmDrainS = Main.seconds(tw)
    r.mark("warmup")

    val state = ctx.work.resolve("state")
    r.attempt("catch-up drain")(drain(spark, backlogSrc, ctx.work.resolve("backlog-ckpt"), state))
      .foreach { d =>
        r.metrics("batch_s") = d / 1000
        r.metrics("catchup.rows_per_s") = BacklogRows / (d / 1000)
      }
    r.mark("catchup")

    val first = openLoop(ctx, spark, r, "loop0", loops(0)._2, loops(0)._1, state,
      (WarmLoopS * 1000).toLong)
    r.metrics("setup.warmup_s") = warmDrainS + first.warmupS
    r.info("warmup_done") = warmDrain.isDefined
    def report(l: Loop): Unit = {
      r.metrics("commit_latency_p50_ms") = Stats.median(l.commitMs)
      r.metrics("read_latency_p50_ms") = Stats.median(l.readMs)
      r.info("sustained_rows_per_s") = l.rowsPerS
      r.info("commit_ms") = Stats.summary(l.commitMs)
      r.info("read_ms") = Stats.summary(l.readMs)
      r.info("batch_ms") = Stats.summary(l.batchMs)
      r.info("gen_late_ms") = Stats.summary(l.lateMs)
    }
    report(first)
    r.mark("steady")

    if (ctx.trace) {
      def loop(i: Int) = openLoop(ctx, spark, r, s"loop$i", loops(i)._2, loops(i)._1, state)
      val e2e = new LayerListener
      e2e.defaultLayer = "cdc.stream"
      val progress = new ProgressListener
      spark.sparkContext.addSparkListener(e2e)
      spark.streams.addListener(progress)
      val traced = loop(1)
      e2e.awaitDelivery(spark.sparkContext)
      progress.awaitTermination(traced.queryId)
      spark.streams.removeListener(progress)
      spark.sparkContext.removeSparkListener(e2e)
      val after = loop(2)
      r.info("traced_commit_ms") = Stats.summary(traced.commitMs)
      r.info("untraced_after_commit_ms") = Stats.summary(after.commitMs)
      r.metrics("trace.overhead_frac") = Stats.median(traced.commitMs) /
        ((Stats.median(first.commitMs) + Stats.median(after.commitMs)) / 2) - 1
      r.metrics("gen.late_ms_p95") = Stats.quantile(traced.lateMs, 0.95)
      sparkMetrics(r, e2e.total(), traced.wallS, ctx.cores)
      streamMetrics(r, progress.progress.asScala.toSeq, traced.wallS * 1000)

      val splitDir = ctx.dir("split-in")
      val batches = splitFiles.map { group =>
        group.foreach(f => Changelog.publish(splitDir, f.name, f.bytes))
        spark.read.schema(RawSchema).json(group.map(f => splitDir.resolve(f.name).toString): _*)
      }
      r.metrics ++= stepwise(ctx, spark, r, batches, state)
      val backlog = stepwise(ctx, spark, r, Seq(spark.read.schema(RawSchema).json(backlogSrc.toString)),
        ctx.work.resolve("split-backlog-state"))
      Seq("cdc.envelope.ms", "cdc.ops.fold_ms", "cdc.sink.merge_ms", "cdc.sink.fs_ms",
        "cdc.ops.collapse_ratio").foreach(k => r.metrics(s"catchup.${k.stripPrefix("cdc.")}") = backlog(k))
    }
    r.mark("measure")
    checkState(spark, r, state, gen.frame(spark))
    r.mark("check")
    if (ctx.trace) singleThreadBaseline(ctx, r, backlogSrc)
  }

  /** The traced per-layer split: the layer functions called one at a
    * time on each batch, with a materialization between them and each
    * call's Spark jobs tagged with its layer. Medians over the batches.
    */
  private def stepwise(ctx: Ctx, spark: SparkSession, r: Result, batches: Seq[DataFrame],
                       state: Path): Map[String, Double] = {
    val l = new LayerListener
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    val s = sink(spark, state)
    val acc = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def add(k: String, v: Double): Unit = acc.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    var prev = StateScan(state)
    var readFailed = 0
    batches.zipWithIndex.foreach { case (raw, i) =>
      var t = System.nanoTime()
      val flat = LayerListener.tagged(sc, "cdc.envelope") {
        CdcStreamJob.flattenAfterImage(
          DebeziumEnvelope.parse(raw, Changelog.PkSchema, Changelog.RowSchema),
          Changelog.KeyCols, Changelog.RowSchema).localCheckpoint(true)
      }
      add("cdc.envelope.ms", ms(t))
      val rows = flat.count()
      add("cdc.envelope.rows", rows.toDouble)
      add("cdc.envelope.null_key_rows", flat.filter(col("id").isNull).count().toDouble)

      t = System.nanoTime()
      LayerListener.tagged(sc, "cdc.ops") {
        CdcOps.latestState(flat, Changelog.KeyCols, Changelog.DataCols)
          .write.format("noop").mode("overwrite").save()
      }
      add("cdc.ops.fold_ms", ms(t))
      val distinctKeys = flat.select("id").distinct().count()
      add("cdc.ops.collapse_ratio", distinctKeys.toDouble / math.max(rows, 1))

      t = System.nanoTime()
      LayerListener.tagged(sc, "cdc.sink") {
        s.readDirtyState(flat).write.format("noop").mode("overwrite").save()
      }
      add("cdc.sink.dirty_read_ms", ms(t))

      t = System.nanoTime()
      val wallStart = System.currentTimeMillis()
      LayerListener.tagged(sc, "cdc.sink")(s.merge(flat, i.toLong))
      val mergeMs = ms(t)
      val wallEnd = System.currentTimeMillis()
      l.awaitDelivery(sc)
      add("cdc.sink.merge_ms", mergeMs)
      add("cdc.sink.fs_ms",
        mergeMs - l.counters("cdc.sink").jobMsWithin(wallStart, wallEnd))
      val scan = StateScan(state)
      val (bytes, files) = scan.writtenVs(prev)
      val stateRows = s.readState().count()
      val rowBytes = scan.stateBytes.toDouble / math.max(stateRows, 1)
      add("cdc.sink.dirty_bucket_frac", scan.dirtyVs(prev).size.toDouble / NumBuckets)
      add("cdc.sink.bytes_written_mb", bytes / 1048576.0)
      add("cdc.sink.files_written", files.toDouble)
      add("cdc.sink.write_amp", bytes / math.max(distinctKeys * rowBytes, 1.0))
      add("cdc.sink.state_mb", scan.stateBytes / 1048576.0)
      add("cdc.sink.read_files", scan.stateFiles.toDouble)
      prev = scan
      flat.unpersist()

      val rng = new java.util.SplittableRandom(ctx.seed + i)
      (0 until 5).foreach { _ =>
        val tr = System.nanoTime()
        LayerListener.tagged(sc, "cdc.sink") {
          r.attempt("traced read")(pointRead(s, rng.nextInt(Keys).toLong))
        } match {
          case Some(_) => add("cdc.sink.read_ms", ms(tr))
          case None => readFailed += 1
        }
      }
    }
    l.awaitDelivery(sc)
    sc.removeSparkListener(l)
    val ops = l.counters("cdc.ops")
    acc.map { case (k, vs) => k -> Stats.median(vs.toSeq) }.toMap ++ Map(
      "cdc.ops.shuffle_mb" -> ops.mb(ops.shuffleWrite) / batches.size,
      "cdc.sink.read_failed" -> readFailed.toDouble)
  }

  /** The catch-up drain of a quarter of the backlog in a fresh
    * `local[1]` session, then in a fresh `local[N]` one: the
    * single-thread baseline and the parallel figure beside it.
    */
  private def singleThreadBaseline(ctx: Ctx, r: Result, src: Path): Unit = {
    val quarter = ctx.dir("quarter-in")
    Files.list(src).iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq
      .sortBy(_.toString).take(BacklogFiles / 4)
      .foreach(f => Files.copy(f, quarter.resolve(f.getFileName)))
    val rows = BacklogRows / 4
    Seq(1 -> "catchup.local1_rows_per_s", ctx.cores -> "catchup.localN_rows_per_s").foreach {
      case (cores, name) =>
        SparkSession.getDefaultSession.foreach(_.stop())
        val s = ctx.session(cores)
        r.attempt(s"local[$cores] drain")(
          drain(s, quarter, ctx.work.resolve(s"ckpt-c$cores"), ctx.work.resolve(s"state-c$cores")))
          .foreach(w => r.metrics(name) = rows / (w / 1000))
    }
  }

  /** Engine-wide counters of one traced phase. */
  def sparkMetrics(r: Result, c: LayerCounters, wallS: Double, cores: Int): Unit = {
    r.metrics ++= Seq(
      "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.shuffle_write_mb" -> c.mb(c.shuffleWrite), "spark.shuffle_read_mb" -> c.mb(c.shuffleRead),
      "spark.spill_mb" -> c.mb(c.spill), "spark.peak_exec_mem_mb" -> c.mb(c.peakExecMem),
      "spark.gc_s" -> c.gcMs / 1000.0, "spark.task_skew_max" -> c.skew,
      "spark.busy_frac" -> c.taskMs / 1000.0 / (wallS * cores))
  }

  /** Micro-batch driver metrics from the query's progress reports. */
  def streamMetrics(r: Result, ps: Seq[StreamingQueryProgress], wallMs: Double): Unit = {
    val data = ps.filter(_.numInputRows > 0)
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val trig = data.map(d(_, "triggerExecution"))
    r.metrics ++= Seq(
      "cdc.stream.batches" -> data.size.toDouble,
      "cdc.stream.rows_per_batch" -> (if (data.isEmpty) 0.0 else data.map(_.numInputRows).sum.toDouble / data.size),
      "cdc.stream.batch_ms_p50" -> Stats.median(trig),
      "cdc.stream.batch_ms_max" -> trig.maxOption.getOrElse(0.0),
      "cdc.stream.planning_ms" -> Stats.median(data.map(d(_, "queryPlanning"))),
      "cdc.stream.offset_ms" -> Stats.median(data.map(p => d(p, "latestOffset") + d(p, "getBatch"))),
      "cdc.stream.wal_ms" -> Stats.median(data.map(p => d(p, "walCommit") + d(p, "commitOffsets"))),
      "cdc.stream.idle_frac" -> math.max(0.0, 1 - trig.sum / wallMs))
  }
}

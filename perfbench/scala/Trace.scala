package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Median and the highest percentile with at least ten samples beyond
  * it, as the report states every timing.
  */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** (label, value) of the highest of p99/p95/p90/p75 that has at least
    * ten samples above it, if any.
    */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq(99 -> 0.99, 95 -> 0.95, 90 -> 0.90, 75 -> 0.75)
      .find { case (_, q) => xs.size * (1 - q) >= 10 - 1e-9 }
      .map { case (p, q) => s"p$p" -> quantile(xs, q) }

  def summary(xs: Seq[Double]): String = {
    val t = tail(xs).map { case (l, v) => f" $l=$v%.1f" }.getOrElse("")
    f"p50=${median(xs)}%.1f$t n=${xs.size}"
  }
}

/** Per-layer Spark counters, filled by [[LayerListener]]. */
final class LayerCounters {
  var jobs, stages, tasks = 0L
  var taskMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, peakExecMem = 0L
  /** Wall-clock intervals of this layer's jobs, for "time outside Spark". */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Task durations per stage, for the skew ratio. */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def mb(bytes: Long): Double = bytes / 1048576.0

  /** Worst stage's max/median task run time (stages of ≥ 2 tasks). */
  def skew: Double =
    stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (med > 0) ts.max / med else 1.0
    }.maxOption.getOrElse(1.0)

  /** Milliseconds covered by the union of job spans inside [from, to]. */
  def jobMsWithin(from: Long, to: Long): Long = {
    val spans = jobSpans.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    spans.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }
}

/** Bench-owned SparkListener: attributes every job, stage and task to
  * the layer named by the submitting thread's `perfbench.layer` local
  * property, or to [[defaultLayer]] for jobs from threads the bench
  * does not own (the streaming query's micro-batch thread).
  *
  * Spark delivers listener events on an asynchronous bus, so a job that
  * has returned may not have been seen yet: read the counters only
  * after [[awaitDelivery]].
  */
final class LayerListener extends SparkListener {
  import LayerListener._

  @volatile var defaultLayer: String = "other"
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val jobLayer = new ConcurrentHashMap[Int, (String, Long)]()
  private val fenceJobs = new ConcurrentHashMap[Int, String]()
  private val fencesSeen = ConcurrentHashMap.newKeySet[String]()
  val layers = new ConcurrentHashMap[String, LayerCounters]()

  def counters(layer: String): LayerCounters =
    layers.computeIfAbsent(layer, _ => new LayerCounters)

  private def property(e: SparkListenerJobStart, key: String): Option[String] =
    Option(e.properties).flatMap(p => Option(p.getProperty(key)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    property(e, FenceKey) match {
      case Some(token) =>
        fenceJobs.put(e.jobId, token)
        e.stageIds.foreach(stageLayer.put(_, FenceLayer))
      case None =>
        val layer = property(e, Key).getOrElse(defaultLayer)
        jobLayer.put(e.jobId, (layer, e.time))
        e.stageIds.foreach(stageLayer.put(_, layer))
        val c = counters(layer)
        c.synchronized { c.jobs += 1 }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(fenceJobs.remove(e.jobId)).foreach(fencesSeen.add)
    Option(jobLayer.remove(e.jobId)).foreach { case (layer, start) =>
      val c = counters(layer)
      c.synchronized { c.jobSpans += ((start, e.time)) }
    }
  }

  /** Block until this listener has seen every event posted before this
    * call: run a one-task fence job and wait for its end event, which
    * the bus delivers after the events of every earlier job.
    */
  def awaitDelivery(sc: SparkContext, timeoutMs: Long = 60000): Unit = {
    val token = java.util.UUID.randomUUID().toString
    val prev = sc.getLocalProperty(FenceKey)
    sc.setLocalProperty(FenceKey, token)
    try sc.parallelize(Seq(0), 1).count()
    finally sc.setLocalProperty(FenceKey, prev)
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!fencesSeen.contains(token)) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"listener events not delivered within $timeoutMs ms")
      Thread.sleep(2)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = counters(stageLayer.getOrDefault(e.stageInfo.stageId, defaultLayer))
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageLayer.getOrDefault(e.stageId, defaultLayer))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }

  /** Sum of counters over every layer. */
  def total(): LayerCounters = {
    val out = new LayerCounters
    layers.asScala.filter(_._1 != FenceLayer).values.foreach { c =>
      c.synchronized {
        out.jobs += c.jobs; out.stages += c.stages; out.tasks += c.tasks
        out.taskMs += c.taskMs; out.gcMs += c.gcMs
        out.shuffleWrite += c.shuffleWrite; out.shuffleRead += c.shuffleRead
        out.spill += c.spill; out.peakExecMem = math.max(out.peakExecMem, c.peakExecMem)
        out.jobSpans ++= c.jobSpans
        c.stageTaskMs.foreach { case (s, ts) => out.stageTaskMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= ts }
      }
    }
    out
  }
}

object LayerListener {
  val Key = "perfbench.layer"
  /** Local property marking a fence job; its stages and tasks count nowhere. */
  val FenceKey = "perfbench.fence"
  val FenceLayer = "perfbench.fence"

  /** Run `f` with this thread's jobs tagged `layer`. */
  def tagged[T](sc: SparkContext, layer: String)(f: => T): T = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, layer)
    try f finally sc.setLocalProperty(Key, prev)
  }
}

/** Bench-owned StreamingQueryListener: keeps every progress report. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  private val terminated = ConcurrentHashMap.newKeySet[java.util.UUID]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    progress.add(e.progress); ()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
    terminated.add(e.id); ()
  }

  /** Block until the stopped query `id`'s termination event, which the
    * bus delivers after all of its progress reports, has been seen.
    */
  def awaitTermination(id: java.util.UUID, timeoutMs: Long = 60000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!terminated.contains(id)) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"no termination event for query $id within $timeoutMs ms")
      Thread.sleep(2)
    }
  }
}

/** Filesystem view of a `ParquetUpsertSink` state dir at one epoch:
  * the newest manifest's bucket → directory map and the bytes/files
  * each referenced directory holds.
  */
final case class StateScan(epoch: Long, buckets: Map[Int, String],
                           dirBytes: Map[String, Long], dirFiles: Map[String, Int]) {
  def stateBytes: Long = buckets.values.toSeq.map(dirBytes.getOrElse(_, 0L)).sum
  def stateFiles: Int = buckets.values.toSeq.map(dirFiles.getOrElse(_, 0)).sum

  /** Buckets whose directory differs from `prev` (rewritten, added or dropped). */
  def dirtyVs(prev: StateScan): Set[Int] =
    (buckets.keySet ++ prev.buckets.keySet).filter(b => buckets.get(b) != prev.buckets.get(b))

  /** Bytes and files of directories this epoch references that `prev` did not. */
  def writtenVs(prev: StateScan): (Long, Int) = {
    val fresh = buckets.values.toSet -- prev.buckets.values.toSet
    (fresh.toSeq.map(dirBytes.getOrElse(_, 0L)).sum, fresh.toSeq.map(dirFiles.getOrElse(_, 0)).sum)
  }
}

object StateScan {
  val empty: StateScan = StateScan(-1L, Map.empty, Map.empty, Map.empty)
  private val ManifestRe = """_manifest\.v(\d+)""".r

  def apply(stateDir: java.nio.file.Path): StateScan = {
    val root = stateDir.toFile
    val manifests = Option(root.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
      f.getName match {
        case ManifestRe(e) => Some(e.toLong -> f)
        case _ => None
      }
    }
    if (manifests.isEmpty) empty
    else {
      val (epoch, file) = manifests.maxBy(_._1)
      val buckets = scala.io.Source.fromFile(file, "UTF-8").getLines()
        .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
          val Array(b, d) = l.split('\t'); b.toInt -> d
        }.toMap
      val sizes = buckets.values.toSeq.distinct.map { d =>
        val files = Option(new java.io.File(root, d).listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        (d, files.map(_.length).sum, files.length)
      }
      StateScan(epoch, buckets, sizes.map(s => s._1 -> s._2).toMap, sizes.map(s => s._1 -> s._3).toMap)
    }
  }
}

package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one benchmark run measured and checked. `run.py` reads it back
  * from `result.json` in the run's work directory.
  */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  private val born = System.nanoTime()

  /** Note how far into the run a phase ended (seconds), for the report. */
  def mark(phase: String): Unit =
    info(s"t_$phase") = math.round((System.nanoTime() - born) / 1e8) / 10.0

  /** Run one counted operation; a throw counts as failed and returns None. */
  def attempt[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Throwable =>
        failed += 1
        if (failures.size < 20) failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }
  }

  /** Record an output check; a false check counts as a failed operation. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += s"check $what failed $detail".take(400) }
  }

  def json: String = {
    def v(x: Any): String = x match {
      case d: Double if d.isNaN || d.isInfinite => "null"
      case d: Double => java.lang.Double.toString(d)
      case n: Int => n.toString
      case n: Long => n.toString
      case b: Boolean => b.toString
      case s: Seq[_] => s.map(v).mkString("[", ",", "]")
      case o => Result.quote(o.toString)
    }
    def obj(m: Iterable[(String, Any)]) = m.map { case (k, x) => v(k) + ":" + v(x) }.mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failed,"failures":${v(failures.toSeq)},""" +
      s""""metrics":${obj(metrics)},"info":${obj(info)}}"""
  }
}

object Result {
  /** A JSON string literal. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Run context shared by the workloads. */
final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
                     work: Path, cores: Int, tables: Option[String], warmTables: Option[String]) {
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  def session(cores: Int = cores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Main {
  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def loadAvg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8").trim.split("\\s+")(0).toDouble
    catch { case _: Throwable => java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = Ctx(
      workload = a("workload"), seed = a("seed").toLong, seconds = a("seconds").toDouble,
      trace = a.get("trace").contains("1"), work = Paths.get(a("work")).toAbsolutePath,
      cores = a("cores").toInt, tables = a.get("tables"), warmTables = a.get("warm-tables"))
    val r = new Result
    r.info ++= Seq("workload" -> ctx.workload, "seed" -> ctx.seed, "trace" -> ctx.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors, "master" -> s"local[${ctx.cores}]",
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576, "load1_start" -> loadAvg())
    val t0 = System.nanoTime()
    val spark = ctx.session()
    r.metrics("setup.session_s") = seconds(t0)
    try ctx.workload match {
      case "cdc_steady" => Cdc.steady(ctx, spark, r)
      case "curation_batch" => Curation.run(ctx, spark, r)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      r.info("load1_end") = loadAvg()
      Files.writeString(ctx.work.resolve("result.json"), r.json)
      SparkSession.getDefaultSession.foreach(_.stop())
    }
  }
}

package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One generated change: the flat changelog shape `CdcOps` folds
  * (key, op, ts_ms, seq, data columns). Data columns are null on a
  * delete, which is what `CdcStreamJob.flattenAfterImage` yields for
  * an envelope whose after-image is null.
  */
final case class Change(id: Long, op: String, tsMs: Long, seq: Long,
                        name: String, qty: Int, price: Double)

/** Shape of a seeded Debezium changelog.
  *
  * @param keys     key-space size; key ranks are drawn Zipf(`zipfS`),
  *                 uniform at `zipfS` = 0
  * @param pCreate  share of changes that are creates
  * @param pDelete  share of changes that are deletes; the rest are
  *                 updates. Ops are drawn independently of whether the
  *                 key is live, as in `CdcOps.userChangelog`: an update
  *                 to an absent key inserts it, a delete of an absent
  *                 key leaves nothing
  * @param tieShare share of changes that reuse the previous change's
  *                 millisecond, so `seq` must break the tie
  */
final case class GenParams(seed: Long, keys: Int, zipfS: Double,
                           pCreate: Double, pDelete: Double, tieShare: Double)

/** Seeded Debezium changelog generator.
  *
  * Envelopes follow `DebeziumEnvelope.parse`'s layout and carry the
  * source log position (`lsn`) as a strictly increasing counter, so the
  * (ts_ms, seq) recency order is total even across same-millisecond
  * ties. Every change is also kept in memory as the typed changelog the
  * output checks fold with `CdcOps.latestState`.
  */
final class Changelog(p: GenParams) {
  private val rng = new java.util.SplittableRandom(p.seed)
  private var lsn = 0L
  private var lastTs = Long.MinValue
  private val changes = scala.collection.mutable.ArrayBuffer.empty[Change]

  private val cdf: Array[Double] = {
    val w = Array.tabulate(p.keys)(k => 1.0 / math.pow(k + 1.0, p.zipfS))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  private def zipfKey(): Long = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    (if (i >= 0) i else -i - 1).toLong.min(p.keys - 1L)
  }

  /** Next change, stamped `tsMs` unless it ties with the previous one. */
  def next(tsMs: Long): Change = {
    val id = zipfKey()
    val u = rng.nextDouble()
    val op = if (u < p.pCreate) "c" else if (u < p.pCreate + p.pDelete) "d" else "u"
    val ts =
      if (lastTs != Long.MinValue && rng.nextDouble() < p.tieShare) lastTs
      else math.max(tsMs, lastTs)
    lastTs = ts
    lsn += 1
    val c =
      if (op == "d") Change(id, op, ts, lsn, null, 0, 0.0)
      else Change(id, op, ts, lsn, s"n${rng.nextInt(1000000)}", rng.nextInt(1000),
        rng.nextInt(1000000) / 100.0)
    changes += c
    c
  }

  /** The typed changelog generated so far, as a DataFrame. */
  def frame(spark: SparkSession): DataFrame = {
    val rows = changes.toSeq.map { c =>
      if (c.op == "d") Row(c.id, c.op, c.tsMs, c.seq, null, null, null)
      else Row(c.id, c.op, c.tsMs, c.seq, c.name, c.qty, c.price)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), Changelog.FlatSchema)
  }
}

object Changelog {
  val Table = "items"
  val KeyCols: Seq[String] = Seq("id")
  val DataCols: Seq[String] = Seq("name", "qty", "price")
  val PkSchema: StructType = StructType(Seq(StructField("id", LongType)))
  val RowSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("qty", IntegerType), StructField("price", DoubleType)))
  val FlatSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("op", StringType),
    StructField("ts_ms", LongType), StructField("seq", LongType),
    StructField("name", StringType), StructField("qty", IntegerType),
    StructField("price", DoubleType)))

  private def image(c: Change): String =
    s"""{"id":${c.id},"name":"${c.name}","qty":${c.qty},"price":${c.price}}"""

  /** One file-source line: string `key` and `value` holding the
    * Debezium key and value documents, as a Kafka-shaped record.
    */
  def envelope(c: Change): String = {
    val after = if (c.op == "d") "null" else image(c)
    val before = if (c.op == "c") "null" else s"""{"id":${c.id}}"""
    val key = s"""{"payload":{"id":${c.id}}}"""
    val value =
      s"""{"payload":{"before":$before,"after":$after,"source":{"version":"2.5",""" +
        s""""connector":"perfbench","name":"perfbench","ts_ms":${c.tsMs},"db":"inventory",""" +
        s""""table":"$Table","lsn":${c.seq},"pos":null},"op":"${c.op}","ts_ms":${c.tsMs}}}"""
    def q(s: String) = "\"" + s.replace("\"", "\\\"") + "\""
    s"""{"key":${q(key)},"value":${q(value)},"topic":"perfbench.inventory.$Table"}"""
  }

  def lines(cs: Seq[Change]): Array[Byte] = {
    val sb = new StringBuilder
    cs.foreach(c => sb.append(envelope(c)).append('\n'))
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  /** Write `bytes` to `dir/name` so a directory-watching reader never
    * sees a partial file: stage under a hidden name (the file source
    * skips names starting with '.'), then rename into place.
    */
  def publish(dir: Path, name: String, bytes: Array[Byte]): Path = {
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }
}

package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType,
  TimestampNTZType}

import graft.SparkEntry
import graft.sinks.AppendSink
import graft.sources.{Acquire, ShardedReader, Tables}

/** One scheduled run of the reference ingest DAG against the events
  * table the dashboard panels read: seeded 500-ticker work list →
  * five range shards → per-shard acquisition through a seeded fake
  * upstream → shard union → append → panel refresh → alert feed.
  * Runs are back to back (one active run at a time).
  *
  * The upstream is closed-form in (seed, tick, ticker), so every tick's
  * landed rows, quarantined tickers and latest prices are known before
  * the tick runs and are checked after it. */
object Tick {

  val Tickers = 500
  val Shards = 5
  val Panels: Seq[String] =
    Seq("latest_per_key", "vwap", "ohlc_bars", "incremental_batch")
  val AlertOp = "alert_feed"

  /** Scheduled time of tick `n`: a 2-minute cadence starting after the
    * base table's month of history (January 2024). */
  def tickTime(n: Int): LocalDateTime =
    LocalDateTime.of(2024, 1, 31, 0, 0).plusMinutes(2L * n)

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Closed-form upstream behaviour of one (seed, tick, ticker). */
  final case class Quote(quarantined: Boolean, transientFailures: Int,
      cents: Long, qty: Int)

  def quote(seed: Long, tick: Int, key: Long): Quote = {
    val h = mix(mix(mix(seed) + tick) + key)
    Quote(quarantined = java.lang.Long.remainderUnsigned(h, 50) == 0,
      transientFailures = ((h >>> 16) & 0xff).toInt % 3,
      cents = 1000L + ((h >>> 24) & 0xfffff) % 99000L,
      qty = 1 + ((h >>> 48) & 0xff).toInt % 99)
  }

  /** Seeded fake upstream: a quarantined ticker fails every attempt;
    * any other fails `transientFailures` (< the retry budget) times and
    * then returns `cents:qty`. */
  final class SeededTransport(seed: Long, tick: Int)
      extends Acquire.Transport {
    def fetch(key: Long, attempt: Int): Array[Byte] = {
      val q = quote(seed, tick, key)
      if (q.quarantined)
        throw new java.io.IOException(s"upstream refused ticker $key")
      if (attempt <= q.transientFailures)
        throw new java.io.IOException(s"transient[$key/$attempt]")
      s"${q.cents}:${q.qty}".getBytes(UTF_8)
    }
  }

  final case class Outcome(attempted: Int, landed: Int, quarantined: Int,
      attempts: Long, filesAdded: Int, bytesAdded: Long, tableFiles: Int,
      problems: Seq[String])
}

/** The events table the pipeline writes to; `reset` restores the
  * staged base table. */
final class TickTable(spark: SparkSession, base: String, val dir: String,
    seed: Long, tracer: Tracer) {
  import Tick._

  val eventsPath = s"$dir/events.parquet"
  private val keySchema = StructType(Seq(StructField("key", LongType)))
  // the base table's rows, read once: (user_id, event_id, value) in
  // (ts, event_id) order
  private val baseRows = spark.read.parquet(s"$base/events.parquet")
    .orderBy("ts", "event_id").select("user_id", "event_id", "value")
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
  private var nextEventId = 0L
  private var ticks = 0
  private var landedTotal = 0L
  // expected latest price per ticker
  private val latest = scala.collection.mutable.HashMap[Long, Double]()

  def reset(): Unit = {
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$base/events.parquet"), new java.io.File(eventsPath))
    latest.clear()
    baseRows.foreach { case (k, _, v) => latest(k) = v }
    nextEventId = baseRows.map(_._2).max + 1
    ticks = 0
    landedTotal = 0L
  }

  /** The table's data files. */
  def listFiles(): Array[java.io.File] =
    Option(new java.io.File(eventsPath).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  /** Run one tick; `op` is its op id for span attribution. Returns the
    * acquisition ledger and each panel's (columns, rows). */
  def run(op: Int): (Array[Acquire.Result], Seq[(Seq[String], Array[Row])]) = {
    val n = ticks
    val order = new scala.util.Random(seed * 7919L + n)
      .shuffle((0 until Tickers).map(k => Row(k.toLong)))
    val work = spark.createDataFrame(order.asJava, keySchema)
    val shards = tracer.span("tick.shard", op) {
      ShardedReader.rangeShards(work, "key", Shards)
    }
    val transport = new SeededTransport(seed, n)
    val ledgers = tracer.span("tick.acquire", op) {
      shards.map(s => Acquire.acquire(s.as(Encoders.LONG), transport,
        Acquire.Config()).collect())
    }
    val at = Timestamp.valueOf(tickTime(n))
    tracer.span("tick.append", op) {
      val frames = ledgers.map { ledger =>
        val rows = ledger.filter(_.status == "ok").map { r =>
          val Array(cents, qty) = new String(r.payload, UTF_8).split(':')
          Row(nextEventId + r.key, at, r.key, "purchase", cents.toLong / 100.0,
            s"""{"k": $qty}""")
        }
        spark.createDataFrame(rows.toSeq.asJava, Tables.events)
      }
      // time-zone naive, like the staged files
      val batch = ShardedReader.unionShards(frames)
        .withColumn("ts", col("ts").cast(TimestampNTZType))
      AppendSink.append(batch, eventsPath, Seq.empty)
    }
    def query(name: String) = {
      val df = SparkEntry.queries(name)(spark, dir)
      (df.columns.toSeq, df.collect())
    }
    val panels = Panels.map(p => tracer.span(s"tick.refresh.$p", op)(query(p)))
    val alerts = tracer.span("tick.alerts", op)(query(AlertOp))
    (ledgers.flatten.toArray, panels :+ alerts)
  }

  /** Check one finished tick against the closed-form upstream (ledger,
    * quarantine count, latest price per ticker, table row count) and
    * advance the expected state. `filesBefore` lists the table's files
    * before the tick. */
  def check(ledger: Array[Acquire.Result], results: Seq[(Seq[String], Array[Row])],
      filesBefore: Array[java.io.File]): Tick.Outcome = {
    val n = ticks
    val problems = scala.collection.mutable.ArrayBuffer[String]()
    val expectQ = (0 until Tickers).count(k => quote(seed, n, k.toLong).quarantined)
    val failed = ledger.filter(_.status != "ok")
    if (ledger.length != Tickers)
      problems += s"tick $n: ledger has ${ledger.length} rows, expected $Tickers"
    if (failed.length != expectQ)
      problems += s"tick $n: ${failed.length} quarantined, schedule says $expectQ"
    ledger.filter(_.status == "ok").foreach { r =>
      latest(r.key) = quote(seed, n, r.key).cents / 100.0
    }
    val landed = ledger.length - failed.length
    val got = results.head._2.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val want = latest.toMap
    if (got != want) {
      val bad = (got.keySet ++ want.keySet).toSeq.sorted
        .filter(k => got.get(k) != want.get(k)).take(3)
      problems += s"tick $n: latest_per_key differs for ${bad.mkString(",")}" +
        s" (got ${bad.map(got.get).mkString(",")}, want ${bad.map(want.get).mkString(",")})"
    }
    val after = listFiles()
    val before = filesBefore.map(_.getName).toSet
    val added = after.filterNot(f => before(f.getName))
    nextEventId += Tickers
    ticks += 1
    landedTotal += landed
    val rows = spark.read.parquet(eventsPath).count()
    if (rows != baseRows.length + landedTotal)
      problems += s"tick $n: table holds $rows rows, expected ${baseRows.length + landedTotal}"
    Tick.Outcome(Tickers, landed, failed.length,
      ledger.map(_.attempts.toLong).sum, added.length,
      added.map(_.length()).sum, after.length, problems.toSeq)
  }
}

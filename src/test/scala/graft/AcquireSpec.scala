package graft

import org.apache.spark.sql.functions._

import graft.sources.Acquire
import graft.sources.Acquire.{Config, Pacer, Transport}

/** Acquisition-connector tests (SURVEY.md §2 #118): the retry /
  * backoff / rate-limit / quarantine machinery against the
  * deterministic fake, pacing asserted via injected hooks (no
  * wall-clock sleeps), and the anti-join resume contract. */
class AcquireSpec extends SparkTestBase {
  import spark.implicits._

  /** Records pacing requests, never sleeps. */
  private object NoSleep extends Pacer {
    def sleep(ms: Long): Unit = ()
  }

  private def keysDs(ks: Seq[Long]) =
    spark.createDataset(ks.map(java.lang.Long.valueOf))

  /** Closed form of the arithmetic fake under maxRetries=2 (the
    * oracle's formula, recomputed here for row-level asserts). */
  private def expected(k: Long): (String, Int, Option[Int]) = {
    val f = (k % 4).toInt
    if (f <= 2) ("ok", f + 1, Some((100 + (k % 7) * 13).toInt))
    else ("failed", 3, None)
  }

  test("ledger matches the closed form, quarantine carries the error") {
    val res = Acquire.acquire(keysDs(0L to 19L), Acquire.arithmeticFake,
      Config(maxConcurrency = 4, maxRetries = 2, pacer = NoSleep))
      .collect().map(r => r.key -> r).toMap
    assert(res.size === 20)
    (0L to 19L).foreach { k =>
      val (st, att, len) = expected(k)
      val r = res(k)
      assert(r.status === st, s"key $k")
      assert(r.attempts === att, s"key $k")
      assert(Option(r.payload).map(_.length) === len, s"key $k")
      if (st == "failed") assert(r.error.contains("transient"))
      else assert(r.error == null)
    }
    // payload content: the key's decimal digits cycled
    assert(new String(res(12L).payload.take(4), "US-ASCII") === "1212")
  }

  test("exponential backoff doubles per retry, none after the final attempt") {
    val backoff = spark.sparkContext.longAccumulator("backoff")
    // k=2: two transient failures -> backoffs 10 then 20
    Acquire.acquire(keysDs(Seq(2L)), Acquire.arithmeticFake,
      Config(maxConcurrency = 1, maxRetries = 2, backoffBaseMs = 10L,
        pacer = NoSleep), backoffWaits = Some(backoff)).collect()
    assert(backoff.count === 2 && backoff.value === 30L)
    // k=3: exhausts its 3 attempts -> backoffs only between them
    // (10 + 20), never after the quarantining attempt
    backoff.reset()
    val r = Acquire.acquire(keysDs(Seq(3L)), Acquire.arithmeticFake,
      Config(maxConcurrency = 1, maxRetries = 2, backoffBaseMs = 10L,
        pacer = NoSleep), backoffWaits = Some(backoff)).collect()
    assert(r.head.status === "failed" && r.head.attempts === 3)
    assert(backoff.count === 2 && backoff.value === 30L)
  }

  test("rate limiter paces every non-first request start per partition") {
    val rate = spark.sparkContext.longAccumulator("rate")
    val keys = 0L to 19L
    Acquire.acquire(keysDs(keys), Acquire.arithmeticFake,
      Config(maxConcurrency = 2, maxRetries = 2, minIntervalMs = 50L,
        pacer = NoSleep), rateWaits = Some(rate)).collect()
    val totalCalls = keys.map(k => expected(k)._2.toLong).sum
    // the fake transport is instant, so every attempt after a
    // partition's first must wait out the interval: exactly one
    // unthrottled first call per non-empty partition (<= 2)
    assert(rate.count >= totalCalls - 2 && rate.count < totalCalls,
      s"rate waits ${rate.count} of $totalCalls calls")
  }

  test("resume anti-join fetches only missing keys") {
    val work = (0L to 9L).toDF("key")
    val acquired = Seq(0L, 1L, 2L, 3L, 4L).toDF("key")
    val rem = Acquire.remaining(work, acquired)
      .as[Long].collect().sorted
    assert(rem === Array(5L, 6L, 7L, 8L, 9L))
  }

  test("worklist bootstrap: parse drops markup, excludes BF.B/BRK.B " +
      "twins, shards 100-per-task with the tail on the last shard") {
    import graft.sources.Worklist
    val doc = Worklist.constituentDocument(spark, SfDir).collect()
    // header + footer markup present; member lines are <tr><td> rows
    assert(doc.exists(_.getString(1).startsWith("<table")))
    assert(doc.exists(_.getString(1) == "</table>"))
    val ledgerDf = Worklist.worklistBootstrap(spark, SfDir)
    // one window pass over one scan of events: no self-join back to a
    // second ranking of the included members
    assert("""\(\d+\) Scan parquet""".r.findAllIn(planOf(ledgerDf)).size === 1,
      planOf(ledgerDf))
    val ledger = ledgerDf.collect()
    val members = graft.sources.Tables.load(spark, SfDir, "events")
      .select(col("user_id")).distinct().count()
    // every member parsed, markup rejected
    assert(ledger.length.toLong === members)
    assert(ledger.map(_.getAs[Long]("pos")).toSeq ===
      (1L to members).toSeq, "dense document positions")
    // the exclusion list is applied (user ids 3 and 7 exist at every
    // SF) and excluded members never get a shard
    val excluded = ledger.filter(_.getAs[String]("status") == "excluded")
    assert(excluded.map(_.getAs[String]("symbol")).sorted.toSeq ===
      Worklist.ExcludedSymbols.sorted)
    assert(excluded.forall(_.isNullAt(4)), "excluded rows: NULL shard")
    // reference shard geometry over INCLUDED members in doc order:
    // 100 per shard, last shard takes the tail
    val inc = ledger.filter(_.getAs[String]("status") == "included")
      .sortBy(_.getAs[Long]("pos"))
    inc.zipWithIndex.foreach { case (r, i) =>
      val want = math.min(i / Worklist.ShardSize, Worklist.MaxShard)
      assert(r.getAs[Long]("shard") === want)
    }
    // the bootstrap FEEDS acquisition: workKeys = included keys only
    val keys = Worklist.workKeys(spark, SfDir).as[Long].collect().sorted
    assert(!keys.contains(3L) && !keys.contains(7L))
    assert(keys.length.toLong === members - 2)
  }
}

package graft

import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sinks.AppendSink

/** Semantics tests for the pipeline + analytics operators
  * (SURVEY.md §2 #1-18) on hand-built frames with known answers. */
class OperatorsSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("latest_per_key picks newest ts with event_id tiebreak") {
    val got = StockOps.latestPerKey(spark, SfDir).collect()
    // cross-check against an independent formulation (max struct)
    val exp = graft.sources.Tables.load(spark, SfDir, "events")
      .groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("m.ts"), col("m.value"))
      .orderBy("user_id").collect()
    assert(got.length === exp.length)
    got.zip(exp).foreach { case (g, e) =>
      assert(g.getLong(0) === e.getLong(0))
      assert(g.getTimestamp(1) === e.getTimestamp(1))
      assert(g.getDouble(2) === e.getDouble(2))
    }
  }

  test("as-of join: probe gets newest build value at or before its ts") {
    val probe = Seq((1L, 10L, ts("2024-01-01 00:05:00")),
      (2L, 10L, ts("2024-01-01 00:00:30")),
      (3L, 10L, ts("2024-01-01 00:01:00")), // equals a build ts → included
      (4L, 20L, ts("2024-01-01 09:00:00")), // key with no build rows
      (5L, 10L, ts("2023-12-31 23:00:00"))) // before all builds → null
      .toDF("event_id", "user_id", "ts")
    val build = Seq((10L, ts("2024-01-01 00:01:00"), 1.5),
      (10L, ts("2024-01-01 00:04:00"), 2.5)).toDF("user_id", "ts", "bval")
    val got = AsOfJoin.asOf(probe, build, "user_id", "ts", "bval", "v")
      .orderBy("event_id").select("event_id", "v").collect()
    assert(got.map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getDouble(1)))
      .toSeq === Seq((1L, 2.5), (2L, null), (3L, 1.5), (4L, null), (5L, null)))
  }

  test("as-of join carries multiple typed payload columns") {
    val probe = Seq((1L, 10L, ts("2024-01-01 00:05:00")))
      .toDF("event_id", "user_id", "ts")
    val build = Seq((10L, ts("2024-01-01 00:01:00"), 1.5, "open"),
      (10L, ts("2024-01-01 00:04:00"), 2.5, "close"))
      .toDF("user_id", "ts", "price", "phase")
    val got = AsOfJoin.asOf(probe, build, "user_id", "ts",
      Seq("price", "phase")).collect()(0)
    assert(got.getAs[Double]("price") === 2.5)
    assert(got.getAs[String]("phase") === "close")
  }

  test("as-of join buildOrder resolves equal-ts build ties like max()") {
    val t0 = ts("2024-01-01 00:01:00")
    val probe = Seq((1L, 10L, t0), (2L, 10L, ts("2024-01-01 00:02:00")))
      .toDF("event_id", "user_id", "ts")
    // three purchases at the SAME instant: the max value must win,
    // regardless of input row order
    val build = Seq((10L, t0, 2.0), (10L, t0, 9.0), (10L, t0, 4.0))
      .toDF("user_id", "ts", "v")
    val got = AsOfJoin.asOf(probe, build, "user_id", "ts", Seq("v"),
        buildOrder = Seq(org.apache.spark.sql.functions.col("v")))
      .orderBy("event_id").select("v").collect().map(_.getDouble(0)).toSeq
    assert(got === Seq(9.0, 9.0))
  }

  test("idempotent append: replay replaces, blind append duplicates") {
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val batch = Seq((1L, "2024-01-01", 5.0), (2L, "2024-01-02", 7.0))
      .toDF("id", "d", "v")
    AppendSink.idempotentAppend(batch, out, Seq("d"))
    AppendSink.idempotentAppend(batch, out, Seq("d")) // replay
    assert(AppendSink.readBack(spark, out).count() === 2)
    AppendSink.append(batch, out, Seq("d")) // blind append does duplicate
    assert(AppendSink.readBack(spark, out).count() === 4)
  }

  test("append lands right-sized files: one per batch, one per partition value") {
    def parquetFiles(dir: String): Seq[java.io.File] =
      org.apache.commons.io.FileUtils.listFiles(new java.io.File(dir),
        Array("parquet"), true).asScala.toSeq
    val root = java.nio.file.Files.createTempDirectory("graft_sizing").toString
    // a 20-partition batch, unpartitioned table: one file, not 20
    val flat = s"$root/flat"
    val batch = spark.range(0, 500, 1, 20)
      .select(col("id"), (col("id") % 3).cast("string").as("d"))
    AppendSink.append(batch, flat, Seq.empty)
    assert(parquetFiles(flat).size === 1)
    assert(spark.read.parquet(flat).as[(Long, String)].collect().sorted ===
      batch.as[(Long, String)].collect().sorted)
    // partitioned table: one file per partition value, rows intact
    val parted = s"$root/parted"
    AppendSink.append(batch, parted, Seq("d"))
    val files = parquetFiles(parted)
    assert(files.size === 3)
    assert(files.map(_.getParentFile.getName).distinct.size === 3)
    assert(AppendSink.readBack(spark, parted).count() === 500L)
    // an idempotent replay still replaces rather than duplicates
    AppendSink.idempotentAppend(batch, parted, Seq("d"))
    AppendSink.idempotentAppend(batch, parted, Seq("d"))
    assert(parquetFiles(parted).size === 3)
    assert(AppendSink.readBack(spark, parted).select("id", "d")
      .as[(Long, String)].collect().sorted ===
      batch.as[(Long, String)].collect().sorted)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("shard union is row-preserving and covers the whole keyspace") {
    val li = graft.sources.Tables.load(spark, SfDir, "lineitem")
    val r = StockOps.shardUnion(spark, SfDir).collect()(0)
    assert(r.getLong(0) === li.count())
  }

  test("incremental batch is idempotent under input duplication") {
    val once = StockOps.incrementalBatch(spark, SfDir)
    val ev = graft.sources.Tables.load(spark, SfDir, "events")
    // simulate a re-delivered batch: duplicate the whole day, dedupe must hold
    val dup = ev.unionByName(ev)
      .filter(col("ts") >= lit("2024-01-01 00:00:00") &&
        col("ts") < lit("2024-01-02 00:00:00"))
      .dropDuplicates("event_id")
      .groupBy(date_trunc("hour", col("ts")).as("batch_hour"))
      .agg(count(lit(1)).as("n_events"), Num.dsum(col("value")).as("sum_value"))
      .orderBy("batch_hour")
    assert(once.collect().toSeq === dup.collect().toSeq)
  }

  test("events time-range predicates reach the parquet scan as pushed bounds") {
    // The pushed form row-group-prunes via footer min/max. On the
    // legacy NANOS layout the bounds are raw epoch-nanos longs (a
    // filter on the derived micros ts would sit above the projection
    // and full-scan at 100 TB); on the native MICROS layout they are
    // timestamp literals pushed directly. Either way BOTH bounds must
    // appear in the scan's PushedFilters.
    val nanosLayout =
      graft.sources.Tables.eventsTsIsNanosLong(spark, SfDir)
    val (lo, hi) =
      if (nanosLayout)
        ("GreaterThanOrEqual(ts,1704067200000000000)",
          "LessThan(ts,1704153600000000000)")
      else ("GreaterThanOrEqual(ts,", "LessThan(ts,")
    val inc = planOf(StockOps.incrementalBatch(spark, SfDir))
    assert(inc.contains(lo) && inc.contains(hi), inc.take(3000))
    val merge = planOf(StockOps.mergeUpsert(spark, SfDir))
    assert(merge.contains("LessThan(ts,") &&
      merge.contains("GreaterThanOrEqual(ts,"),
      merge.take(4000))
    // range bounds are exact w.r.t. the floor-to-micros conversion:
    // same rows as filtering the derived ts. This equivalence holds
    // under the repo-wide UTC convention (loadEventsRange parses its
    // bounds as UTC; the string-literal casts below use the session
    // timezone, pinned to UTC in SparkTestBase).
    val viaRaw = graft.sources.Tables
      .loadEventsRange(spark, SfDir, "2024-01-01 00:00:00", "2024-01-02 00:00:00")
    val viaDerived = graft.sources.Tables.load(spark, SfDir, "events")
      .filter(col("ts") >= lit("2024-01-01 00:00:00") &&
        col("ts") < lit("2024-01-02 00:00:00"))
    assert(viaRaw.count() === viaDerived.count())
    assert(viaRaw.unionByName(viaDerived).dropDuplicates("event_id").count()
      === viaRaw.count())
  }

  test("top-k plans as TakeOrderedAndProject (no global sort)") {
    val plan = planOf(Analytics.topkRevenue(spark, SfDir))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("filter_scan pushes predicates and prunes columns at the parquet scan") {
    val plan = planOf(Analytics.filterScan(spark, SfDir))
    assert(plan.contains("PushedFilters") &&
      plan.contains("IsNotNull(l_shipdate)"), plan.take(3000))
    // narrow ReadSchema: only the 5 referenced columns, not all 11
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_returnflag") && read.contains("l_quantity"), read)
  }

  test("join_broadcast plan broadcasts the dimension tables") {
    val plan = planOf(Analytics.joinBroadcast(spark, SfDir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"))
  }

  test("bucketed fact-fact join has no exchange below the join") {
    val plan = planOf(graft.sinks.BucketedWarehouse.bucketedJoin(spark, SfDir))
    // tree section only (details repeat node names)
    val tree = plan.linesIterator.takeWhile(!_.startsWith("(1) ")).toSeq
    val joinIdx = tree.indexWhere(_.contains("SortMergeJoin"))
    assert(joinIdx >= 0, plan.take(1500))
    // children of the join print below it: none may be an Exchange
    assert(!tree.drop(joinIdx).exists(_.contains("Exchange")),
      tree.mkString("\n"))
  }

  test("bucketed warehouses of hashCode-colliding dirs stay distinct") {
    // "…Aa" and "…BB" have equal String.hashCodes — under the old
    // dir.hashCode key these two corpora would silently share one
    // warehouse; the MD5 key must keep them apart.
    val base = new java.io.File(sys.props("java.io.tmpdir"), "graft_bw_collide")
    val dirA = new java.io.File(base, "Aa").getPath
    val dirB = new java.io.File(base, "BB").getPath
    assert(dirA.hashCode === dirB.hashCode)
    val li = graft.sources.Tables.load(spark, SfDir, "lineitem")
    val ord = graft.sources.Tables.load(spark, SfDir, "orders")
    li.write.mode("overwrite").parquet(s"$dirA/lineitem.parquet")
    ord.write.mode("overwrite").parquet(s"$dirA/orders.parquet")
    // corpus B is a strict subset, so serving the wrong table is
    // detectable by count
    li.filter(col("l_orderkey") % 2 === 0)
      .write.mode("overwrite").parquet(s"$dirB/lineitem.parquet")
    ord.filter(col("o_orderkey") % 2 === 0)
      .write.mode("overwrite").parquet(s"$dirB/orders.parquet")
    val (liA, _) = graft.sinks.BucketedWarehouse.build(spark, dirA)
    val (liB, _) = graft.sinks.BucketedWarehouse.build(spark, dirB)
    assert(liA !== liB)
    val nA = spark.table(liA).count()
    val nB = spark.table(liB).count()
    assert(nA === li.count())
    assert(nB === li.filter(col("l_orderkey") % 2 === 0).count())
    assert(nA !== nB)
  }

  test("news date round-trip through 'MMMM d, yyyy' preserves the date") {
    val got = StockOps.newsDateParse(spark, SfDir)
      .select(col("collected_at").cast("date").as("d"), col("news_date"))
      .filter(col("d") =!= col("news_date"))
    assert(got.count() === 0)
  }

  test("semi/anti buckets partition the customers") {
    val cust = graft.sources.Tables.load(spark, SfDir, "customer").count()
    val bucketTotals = Analytics.semiAnti(spark, SfDir)
      .groupBy().agg(sum("n_cust")).as[Long].collect()(0)
    assert(bucketTotals === cust)
  }
}

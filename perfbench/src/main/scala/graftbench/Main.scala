package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

/** Benchmark process for one run of one workload. `perfbench/run.py`
  * builds the class path, stages the seeded corpus in an empty work
  * directory and launches this; it writes `record.json` (every timing,
  * check and health figure of the run), `results/<op>.jsonl` (one result
  * of each op, for the oracle comparison) and, when traced,
  * `spans.jsonl`.
  *
  * Phases: Spark session → first op (cold JVM) → warm-up → timed
  * window of whole passes. Untraced runs time ops with bare clocks;
  * traced runs add spans and a Spark listener. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, launchedUs: Long, launchCpu: (Long, Long),
      cores: Int)

  /** Pipeline ticks after the first: warm-up, then timed. The count is
    * fixed whatever the run length, because tick latency climbs with
    * the table's file count; every run times the same ticks. */
  val WarmupTicks = 1
  val TimedTicks = 2

  /** Dashboard passes: one to warm up (see `warmup.settle_ratio`), then
    * at least [[MinPasses]] timed, whose per-op medians keep one slow
    * pass from moving the run's figures. */
  val MinPasses = 3

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val membership = readMembership(s"${a.work}/membership.tsv")
    val problems = coverage(membership)
    if (problems.nonEmpty) {
      problems.foreach(p => System.err.println(s"[perfbench] membership: $p"))
      sys.exit(3)
    }
    val cpu0 = cpuSeconds
    val spark = session(a)
    val sessionReady = sinceLaunch(a)
    val listener = new JobListener
    if (a.trace) spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(spark.sparkContext, a.trace)
    val clockOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()

    val run =
      if (a.workload == "tick") new TickRun(spark, a, tracer)
      else new OpsRun(spark, a, tracer, membership(a.workload))
    run.first()
    val firstResult = sinceLaunch(a)
    val tw = new HostCpu.Watch
    run.warmup()
    val warmup = tw.stop()

    val gc0 = gcSeconds
    val window0 = new HostCpu.Watch
    val passes = run.window(a.seconds)
    val window = window0.stop()
    val gcWindowS = gcSeconds - gc0
    val quiet = !a.trace || listener.awaitQuiet(10000)

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "cores" -> a.cores, "seconds" -> a.seconds,
      "setup" -> Map("session" -> sessionReady, "first_result" -> firstResult,
        "warmup" -> warmup),
      "warmup" -> Map("ops" -> run.warmupOps,
        "settle_ratio" -> passes.head / run.opsPerPass / (warmup.netS / run.warmupOps)),
      "window" -> Map("interval" -> window, "passes" -> passes.size,
        "gc_s" -> gcWindowS))
    record ++= run.report(listener, tracer)
    record("listener_quiet") = quiet
    record("health") = Map("nproc" -> Runtime.getRuntime.availableProcessors,
      "cpu_s" -> (cpuSeconds - cpu0), "run" -> sinceLaunch(a),
      "gc_s" -> gcSeconds, "peak_rss_mb" -> peakRssMb)
    if (a.trace) writeSpans(s"${a.work}/spans.jsonl", tracer, listener, clockOffset)
    write(s"${a.work}/record.json", Json(record))
    spark.stop()
  }

  // --- the two workload shapes -------------------------------------

  /** One workload's phases. `window` returns the summed net op
    * seconds of each timed pass. */
  trait Run {
    def opsPerPass: Int
    def warmupOps: Int
    def first(): Unit
    def warmup(): Unit
    def window(seconds: Double): Seq[Double]
    def report(l: JobListener, t: Tracer): Map[String, Any]
  }

  /** Attach each recorded op's span durations and Spark figures. */
  private def attach(samples: Seq[mutable.Map[String, Any]], l: JobListener,
      t: Tracer): Unit = if (t.enabled) {
    val byOp = l.perOp(t)
    samples.foreach { s =>
      val id = s("id").asInstanceOf[Int]
      s ++= byOp.getOrElse(id, Map.empty)
      t.spans.find(sp => sp.op == id && sp.parent == -1).foreach { top =>
        t.spans.filter(_.parent == top.id).foreach { c =>
          s(s"${c.name}_s") = (c.end - c.start) / 1e9
        }
        s("span_s") = (top.end - top.start) / 1e9
      }
    }
  }

  private def dump(a: Args, name: String, cols: Seq[String], rows: Array[Row]): Unit = {
    new File(s"${a.work}/results").mkdirs()
    val w = new PrintWriter(s"${a.work}/results/$name.jsonl", "UTF-8")
    try {
      w.println(Json(cols))
      rows.foreach(r => w.println(Json.row(r)))
    } finally w.close()
  }

  private def error(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)

  /** Dashboard: passes over a fixed op list in a seeded order, each op
    * `fn(spark, dir).collect()` over the static corpus, caches warm.
    * The run's first op is the list's first, whatever the seed, so
    * first-result time compares like with like. */
  final class OpsRun(spark: SparkSession, a: Args, tracer: Tracer,
      ops: Seq[String]) extends Run {
    private val corpus = s"${a.work}/corpus"
    private var passNo = 0
    private var opNo = 0
    private val samples = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
    private val fingerprints = mutable.HashMap[String, String]()

    def opsPerPass: Int = ops.size
    def warmupOps: Int = ops.size
    def first(): Unit = runOp(ops.head, record = false)

    /** One pass: every op once, in an order drawn from the seed. */
    private def pass(record: Boolean): Double = {
      passNo += 1
      val order = new scala.util.Random(a.seed * 104729L + passNo).shuffle(ops)
      order.map(op => runOp(op, record)).sum
    }

    def warmup(): Unit = pass(record = false)

    /** [[MinPasses]] whole passes, then more while the next one, as
      * long as the last, still ends within `seconds`. */
    def window(seconds: Double): Seq[Double] = {
      val t0 = System.nanoTime()
      val passes = mutable.ArrayBuffer[Double]()
      while (passes.size < MinPasses ||
          (System.nanoTime() - t0) / 1e9 + passes.last <= seconds)
        passes += pass(record = true)
      passes.toSeq
    }

    private def runOp(name: String, record: Boolean): Double = {
      opNo += 1
      val id = opNo
      val fn = SparkEntry.queries(name)
      val s = mutable.LinkedHashMap[String, Any]("op" -> name, "pass" -> passNo,
        "id" -> id)
      var rows: Array[Row] = null
      var cols: Seq[String] = Nil
      val watch = new HostCpu.Watch
      try {
        tracer.span(s"op.$name", id) {
          val df: DataFrame = tracer.span("construct", id)(fn(spark, corpus))
          if (tracer.enabled) {
            tracer.span("plan", id)(df.queryExecution.executedPlan)
            rows = tracer.span("exec", id)(df.collect())
          } else rows = df.collect()
          cols = df.columns.toSeq
        }
      } catch { case e: Throwable => s("error") = error(e) }
      val lat = watch.stop()
      s ++= Seq("lat_s" -> lat.wallS, "net_s" -> lat.netS, "steal" -> lat.stealFrac)
      if (rows != null) {
        val fp = fingerprint(rows)
        s("rows") = rows.length
        s("stable") = fingerprints.getOrElseUpdate(name, fp) == fp
        if (!new File(s"${a.work}/results/$name.jsonl").exists())
          dump(a, name, cols, rows)
      }
      if (record) samples += s
      lat.netS
    }

    def report(l: JobListener, t: Tracer): Map[String, Any] = {
      attach(samples.toSeq, l, t)
      Map("ops" -> samples.toSeq, "oracle_sql" ->
        ops.flatMap(o => SparkEntry.oracleSql.get(o).map(o -> _)).toMap)
    }
  }

  /** Pipeline: back-to-back ticks against one events table that starts
    * as the staged base table: the first tick, [[WarmupTicks]], then
    * [[TimedTicks]] as the one timed pass. */
  final class TickRun(spark: SparkSession, a: Args, tracer: Tracer) extends Run {
    private val table =
      new TickTable(spark, s"${a.work}/tick-base", s"${a.work}/tick", a.seed, tracer)
    private var opNo = 0
    private val ticks = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
    private var lastResults: Seq[(Seq[String], Array[Row])] = Nil

    def opsPerPass: Int = TimedTicks
    def warmupOps: Int = WarmupTicks
    def first(): Unit = {
      table.reset()
      runTick(record = false)
    }

    def warmup(): Unit = (1 to WarmupTicks).foreach(_ => runTick(record = false))

    def window(seconds: Double): Seq[Double] =
      Seq((1 to TimedTicks).map(_ => runTick(record = true)).sum)

    private def runTick(record: Boolean): Double = {
      opNo += 1
      val id = opNo
      val before = table.listFiles()
      val s = mutable.LinkedHashMap[String, Any]("id" -> id)
      val watch = new HostCpu.Watch
      val out = try Right(tracer.span("tick", id)(table.run(id)))
        catch { case e: Throwable => Left(e) }
      val lat = watch.stop()
      s ++= Seq("lat_s" -> lat.wallS, "net_s" -> lat.netS, "steal" -> lat.stealFrac)
      out match {
        case Right((ledger, results)) =>
          val o = table.check(ledger, results, before)
          s ++= Seq("attempted" -> o.attempted, "landed" -> o.landed,
            "quarantined" -> o.quarantined, "fetch_attempts" -> o.attempts,
            "files_added" -> o.filesAdded, "bytes_added" -> o.bytesAdded,
            "table_files" -> o.tableFiles, "problems" -> o.problems)
          lastResults = results
        case Left(e) => s("error") = error(e)
      }
      if (record) ticks += s
      lat.netS
    }

    /** Also dumps the last tick's panel results: the table is left as
      * that tick saw it, for the oracle comparison. */
    def report(l: JobListener, t: Tracer): Map[String, Any] = {
      attach(ticks.toSeq, l, t)
      val names = Tick.Panels :+ Tick.AlertOp
      names.zip(lastResults).foreach { case (n, (cols, rows)) => dump(a, n, cols, rows) }
      Map("ticks" -> ticks.toSeq,
        "oracle_sql" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
    }
  }

  // --- helpers -------------------------------------------------------

  /** The engine's bench session settings (graft.Bench), with every
    * directory inside the run's work directory. */
  private def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val Array(served, stolen) = m("launch-cpu").split(',').map(_.toLong)
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("work"), m("launched-us").toLong, (served, stolen),
      m("cores").toInt)
  }

  /** workload → ops, from the `workload<TAB>op` lines run.py writes;
    * `excluded` lists ops deliberately in no workload. */
  private def readMembership(path: String): Map[String, Seq[String]] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.split('\t')).toSeq
      .groupBy(_(0)).map { case (w, ls) => w -> ls.map(_(1)) }
    finally src.close()
  }

  /** Every engine query is in exactly one workload or excluded, and
    * every listed op exists. */
  private def coverage(m: Map[String, Seq[String]]): Seq[String] = {
    val byOp = m.toSeq.flatMap { case (w, ops) => ops.map(_ -> w) }.groupBy(_._1)
    val keys = SparkEntry.queries.keySet
    keys.toSeq.sorted.filterNot(byOp.contains).map(k => s"query $k is in no workload") ++
      byOp.toSeq.sortBy(_._1).collect { case (k, ws) if ws.size > 1 =>
        s"query $k is listed ${ws.size} times (${ws.map(_._2).mkString(", ")})" } ++
      byOp.keys.toSeq.sorted.filterNot(keys).map(k => s"$k is not an engine query")
  }

  /** Time since run.py launched this JVM. */
  private def sinceLaunch(a: Args): HostCpu.Interval = {
    val now = java.time.Instant.now()
    HostCpu.interval(
      (now.getEpochSecond * 1000000L + now.getNano / 1000 - a.launchedUs) / 1e6,
      a.launchCpu, HostCpu.sample())
  }

  private def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => -1.0
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }

  /** Order-insensitive digest of a result: rows rendered, sorted,
    * hashed. Equal across passes unless the op is nondeterministic or a
    * cache served a different answer. */
  private def fingerprint(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(Json.row).sorted.foreach { r =>
      md.update(r.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  private def write(path: String, s: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), s + "\n")

  /** Spans, then one span per Spark job parented by the span it ran in;
    * times are nanoseconds on the JVM's monotonic clock. */
  private def writeSpans(path: String, t: Tracer, l: JobListener,
      offset: Long): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try {
      t.spans.foreach { s =>
        w.println(Json(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "op" -> s.op, "start_ns" -> s.start, "end_ns" -> s.end)))
      }
      l.synchronized {
        l.jobs.values.foreach { j =>
          w.println(Json(Map("id" -> s"job.${j.id}", "name" -> "spark.job",
            "parent" -> j.span, "op" -> (if (j.span >= 0) t.opOf(j.span) else -1),
            "start_ns" -> (j.start - offset), "end_ns" -> (j.end - offset),
            "stages" -> j.stages)))
        }
      }
    } finally w.close()
  }
}

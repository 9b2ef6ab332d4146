package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Acquire, Tables, Worklist}

/** Failure-alert feed (SURVEY.md §2 #214) — the reference's
  * `email_on_failure: True` twin
  * (/root/reference/dags/stock_data_to_gcp.py:80-81: every DAG
  * notifies a mailbox when a task fails). Re-expressed engine-side:
  * instead of a mail hook buried in scheduler config, failures land
  * in ONE queryable alert TABLE an operator (or a downstream pager
  * job) watches — the same inversion as Backfill (the log is the
  * scheduler state) applied to notification.
  *
  * Three producers union into the feed, each the failure surface of
  * an existing pipeline stage:
  *
  *  - **acquire** — the connector's quarantine ledger (#118): every
  *    work-list item that exhausted its retry budget, with its
  *    attempt count and last error (the reference PRINTS and drops
  *    these, stock_data_to_gcp.py:49-51).
  *  - **dq_checks** — rule violations (#60) with non-zero counts
  *    (clean corpora contribute no rows; the gate itself is what the
  *    feed watches).
  *  - **backfill** — the #117 chain's halt trail: the date that
  *    exhausted retries (`failed`, severity error) and every
  *    later date the depends_on_past gate refused to attempt
  *    (`blocked`, severity warn). Driven here by a 4-day backfill
  *    against a deterministic upstream outage on day 3 (the
  *    injectable-transport policy — no egress), so the real commit /
  *    retry / halt machinery executes. The scratch versioned table
  *    persists per corpus path and the chain resumes from its log:
  *    the first call commits days 1-2, later calls (also after the
  *    events table grows) find them `skipped` and run no Spark job,
  *    then retry day 3 and block day 4 again — the same alert rows.
  *
  * Scale: the feed is failure-bounded — rows ∝ incidents, never data
  * size; each producer is already aggregated before the union. The
  * DuckDB oracle recomputes every arm closed-form (acquire's
  * arithmetic-fake contract, the dq aggregate, the constant halt
  * trail of a total outage) — the acquire_fetch pattern. */
object Alerts {

  /** The injected outage date (the third of the 4-day window). */
  val OutageDay: LocalDate = LocalDate.of(2024, 1, 3)
  val BackfillStart: LocalDate = LocalDate.of(2024, 1, 1)
  val BackfillDays = 4

  /** #214 driver-gate query: one row per alert —
    * (source, alert_key, severity, n, detail). */
  def alertFeed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // acquisition quarantine: the REAL retry/rate-limit machinery
    // over the bootstrapped work list (#213 → #118 → here)
    val acq = Acquire.acquire(
        Worklist.workKeys(spark, dir).as[java.lang.Long],
        Acquire.arithmeticFake,
        Acquire.Config(maxConcurrency = 8, maxRetries = 2))
      .filter(col("status") === "failed")
      .select(lit("acquire").as("source"),
        col("key").cast("string").as("alert_key"),
        lit("error").as("severity"),
        col("attempts").cast("long").as("n"),
        col("error").as("detail"))
    // data-quality gate: only firing rules alert
    val dq = graft.operators.StockOps.dqChecks(spark, dir)
      .filter(col("n_violations") > 0)
      .select(lit("dq_checks").as("source"),
        col("rule").as("alert_key"),
        lit("warn").as("severity"),
        col("n_violations").as("n"),
        lit("rule violations over events").as("detail"))
    // backfill halt trail: run the real chain against the outage,
    // resuming from the scratch table's log
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_alertbf_${graft.sources.StagePath.key(dir)}").getPath
    def day(d: LocalDate): DataFrame = {
      if (d == OutageDay)
        throw new java.io.IOException(s"upstream outage $d")
      Tables.loadEventsRange(spark, dir,
        s"$d 00:00:00", s"${d.plusDays(1)} 00:00:00")
    }
    val bf = Backfill.run(spark, root, "alert_demo", BackfillStart,
        BackfillStart.plusDays(BackfillDays.toLong))(day).runs
      .filter(r => r.status == "failed" || r.status == "blocked")
      .map { r =>
        val sev = if (r.status == "failed") "error" else "warn"
        val detail = r.error
          .getOrElse("blocked: earlier date failed (depends_on_past)")
        (r.date.toString, sev, r.attempts.toLong, detail)
      }
      .toDF("alert_key", "severity", "n", "detail")
      .select(lit("backfill").as("source"), col("alert_key"),
        col("severity"), col("n"), col("detail"))
    acq.unionByName(dq).unionByName(bf)
      .orderBy("source", "alert_key")
  }
}

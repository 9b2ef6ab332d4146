package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Work-list bootstrap (SURVEY.md §2 #213) — the FIRST task of the
  * reference pipeline, re-expressed: the reference derives its
  * 500-ticker work list by downloading a constituent document,
  * parsing the member table out of it, and removing a hardcoded
  * exclusion list before sharding 100-per-task
  * (/root/reference/dags/stock_data_to_gcp.py:26-37
  * `get_top500_companies`: `pd.read_html(url)` → `tables[0]['Symbol']`
  * → `remove("BF.B")`, `remove("BRK.B")`;
  * :40-43 `get_all_intraday`: shards `[100·i, 100·(i+1))`, the LAST
  * shard taking the tail).
  *
  * Spark-first shape: the upstream page is a DataFrame of
  * `(line_no, line)` rows (a document is lines; at 100 TB the same
  * parse runs over millions of fetched pages as a plain scan), the
  * table extraction is a `regexp_extract` projection that drops
  * non-member markup (the `read_html` twin), document position is a
  * rank over surviving lines, the exclusion list is a literal `isin`
  * filter, and the shard assignment replays the reference's
  * 100-per-shard / tail-to-last-shard arithmetic over INCLUDED
  * members in document order.
  *
  * The container has no egress (same policy as Acquire's injectable
  * transport), so the upstream document is FABRICATED
  * deterministically from the events table's user domain — one
  * member row per distinct user in a seeded md5-permuted "page
  * order" (markets don't list constituents in key order; the
  * permutation keeps the parse honest), wrapped in header/footer
  * markup the parser must reject. Every downstream value is
  * closed-form in the member set, so the DuckDB oracle recomputes
  * the full ledger without parsing HTML — the acquire_fetch
  * pattern: Spark EXECUTES the fabricate→parse→exclude→shard
  * machinery, the oracle pins the contract it must land on.
  *
  * BOUNDED-DOCUMENT CONTRACT: a constituent document is index-sized
  * (hundreds of rows — the reference's is 500), so the two
  * single-partition rank windows here are bounded by the document,
  * never by the corpus. Parsing a CORPUS of pages would partition
  * the windows by page id.
  */
object Worklist {

  /** Seed of the fabricated page order (changing it reorders the
    * document — a different but equally valid upstream page). */
  val Seed = 19L

  /** The reference's exclusion list, re-keyed to the fabricated
    * symbol space (stock_data_to_gcp.py:35-36 removes BF.B / BRK.B —
    * tickers whose upstream data source is known-broken). */
  val ExcludedSymbols: Seq[String] = Seq("T3", "T7")

  /** Reference shard geometry: 100 members per shard, 5 shards, the
    * last taking the tail (stock_data_to_gcp.py:42). */
  val ShardSize = 100L
  val MaxShard = 4L

  private def pageKey(id: org.apache.spark.sql.Column) =
    conv(substring(md5(concat_ws(":", lit(Seed), id)), 25, 8), 16, 10)
      .cast("long")

  /** The fabricated upstream constituent page as (line_no, line):
    * header markup at line 0, one `<tr>` member row per distinct
    * event user in seeded page order, footer markup last.
    *
    * DOMAIN CONTRACT (ADVICE r14): only non-null, non-negative user
    * ids become member rows — a negative or null id would render a
    * symbol (`T-5`, a null line) the `[A-Z0-9]+` member regex
    * rightly rejects, silently diverging from the closed-form oracle.
    * The filter IS the contract, applied identically on both engines
    * (the oracle's member CTE carries the same predicate). */
  def constituentDocument(spark: SparkSession, dir: String): DataFrame = {
    val members = Tables.load(spark, dir, "events")
      .select(col("user_id")).distinct()
      .filter(col("user_id").isNotNull && col("user_id") >= 0)
      .select(col("user_id").as("key"),
        concat(lit("T"), col("user_id")).as("symbol"),
        pageKey(col("user_id")).as("skey"))
    // partitionBy(lit(0)): the member list is worklist-bounded
    val wDoc = Window.partitionBy(lit(0)).orderBy(col("skey"), col("key"))
    val memberLines = members
      .withColumn("line_no", row_number().over(wDoc).cast("long"))
      .select(col("line_no"),
        concat(lit("<tr><td>"), col("symbol"),
          lit("</td><td>Company "), col("key"),
          lit("</td></tr>")).as("line"))
    val spark2 = spark
    import spark2.implicits._
    val markup = Seq(
      (0L, "<table class=\"constituents\"><tr><th>Symbol</th>" +
        "<th>Security</th></tr>"),
      (Long.MaxValue, "</table>")).toDF("line_no", "line")
    memberLines.unionByName(markup)
  }

  /** #213 driver-gate query: fabricate → parse → exclude → shard.
    * Output ledger: one row per parsed member in document order —
    * (pos, symbol, key, status, shard); `shard` is NULL for excluded
    * members (they never reach a fetch task). */
  def worklistBootstrap(spark: SparkSession, dir: String): DataFrame = {
    val doc = constituentDocument(spark, dir)
    // the read_html twin: member rows match the <tr><td>SYM</td>
    // shape; header/footer/th markup extracts empty and is dropped
    val parsed = doc
      .select(col("line_no"),
        regexp_extract(col("line"), "^<tr><td>([A-Z0-9]+)</td>", 1)
          .as("symbol"))
      .filter(col("symbol") =!= "")
    // one window pass: pos is the member's rank in document order and
    // shard comes from the running count of included members up to it
    val wPos = Window.partitionBy(lit(0)).orderBy(col("line_no"))
    val included = !col("symbol").isin(ExcludedSymbols: _*)
    parsed
      .select(row_number().over(wPos).cast("long").as("pos"), col("symbol"),
        expr("cast(substring(symbol, 2) as bigint)").as("key"),
        when(included, "included").otherwise("excluded").as("status"),
        when(included, least(floor((sum(when(included, 1L)).over(wPos) - 1L) /
          lit(ShardSize)), lit(MaxShard)).cast("long")).as("shard"))
      .orderBy("pos")
  }

  /** The bootstrapped work list Acquire consumes: included member
    * keys (the reference feeds `get_top500_companies()`'s post-
    * exclusion list straight into its fetch shards). */
  def workKeys(spark: SparkSession, dir: String): DataFrame =
    worklistBootstrap(spark, dir)
      .filter(col("status") === "included")
      .select(col("key"))
}

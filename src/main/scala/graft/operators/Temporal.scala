package graft.operators

import graft.{Det, QueryDef, Tables}
import graft.Ckpt.CutOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal analytics tier: the two time-interval operators OSS Spark has
  * no native form for, each built from declarative pieces so Catalyst still
  * owns the physical plan.
  *
  *  - `interval_join` — interval-overlap join via the bin-bucketing
  *    rewrite: explode both interval sides into the fixed-width time bins
  *    they touch, equi-join on the bin, re-check the exact overlap
  *    predicate, and emit each pair exactly once (from the one bin that
  *    contains greatest(start_a, start_b) — no dedup shuffle). Turns the
  *    O(|A|·|B|) nested-loop plan Spark would otherwise pick for a
  *    non-equi time join into a hash join.
  *    [[org.apache.spark.sql.graft.RangeJoinRewrite]] already does this
  *    automatically for single-variable BAND predicates; the interval
  *    OVERLAP predicate (two attributes per side) additionally needs a
  *    bin width chosen from interval-length knowledge no optimizer rule
  *    has statically — hence an operator, with short-session bounds as
  *    part of its contract, rather than a rewrite.
  *  - `ts_anomaly` — seasonal (hour-of-day) z-score anomaly detection
  *    over zero-filled hourly counts: the standard ops-monitoring scan.
  *
  * Reference analog: the integrated analysis joins engagement and spend
  * activity by time proximity (integratedqueries_spark.py); these give the
  * general interval forms of that temporal-correlation idea.
  */
object Temporal {

  /** Fixed bin width: one hour of epoch-µs. */
  private[graft] val HourUs = 3600000000L

  /** Session gap for the interval-join's left side: 15 min. Deliberately
    * smaller than Engagement's 12 h analytics gap — interval sides should
    * stay short so a session touches O(1) hour bins; the bin explode is
    * what makes the join hash-shaped, so bounded spans are part of the
    * operator's contract.
    */
  private val SessGapUs = 900000000L

  /** Sessions × incident-window overlap join.
    *
    * Left side: per-user activity sessions (15 min idle gap), closed
    * intervals [s_start, s_end]. Right side: "incident windows" — for
    * every hour whose error-event count is ≥1.5× the average error-hour
    * count (an integer-exact, scale-invariant threshold), the misaligned
    * window [hour−30 min, hour+90 min). Output: one row per session that
    * overlaps ≥1 window, with the window count and total overlapped µs.
    *
    * 100 TB plan shape: the windows side is bounded by wall-clock hours
    * (≤ ~10 k rows/year regardless of data volume), so after the 3-bin
    * explode it broadcasts and the join is a broadcast HASH join keyed on
    * the bin — no shuffle of the big side beyond the one session
    * aggregation already needs, and no BroadcastNestedLoopJoin, which is
    * what a naive `a.start < b.end AND b.start < a.end` join degrades to.
    * Were both sides large, the identical code shuffles on the bin key.
    */
  /** Left side: per-user 15-min-gap activity sessions as closed intervals
    * [s_start, s_end] — exposed for TemporalSpec's naive-join diff.
    */
  private[graft] def sessionIntervals(spark: SparkSession, dir: String): DataFrame = {
    val w   = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables
      .events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn(
        "new_sess",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") > SessGapUs, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_sess")).over(run))
      .groupBy(col("user_id"), col("sid"))
      .agg(
        min(col("ts")).as("s_start"),
        max(col("ts")).as("s_end"),
        count(lit(1)).as("n_events"))
  }

  /** Right side: half-open incident windows [w_lo, w_hi) around hot
    * error-hours — exposed for TemporalSpec's naive-join diff.
    */
  private[graft] def incidentWindows(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables
      .events(spark, dir)
      .filter(col("event_type") === "error")
      .select(expr(s"ts div $HourUs").as("hour"))
      .groupBy(col("hour"))
      .agg(count(lit(1)).as("cnt"))
    // integer-exact threshold: cnt >= 1.5 * (total/nHours)  ⇔  2·cnt·nH ≥ 3·total.
    // Whole-frame totals via an unpartitioned window, not a crossJoin with
    // a 1-row agg — the frame is wall-clock-hours-sized, so the single
    // window partition is bounded at any data volume and the operator's
    // physical plan stays nested-loop-free (TemporalSpec pins that).
    val whole = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hourly
      .withColumn("total", sum(col("cnt")).over(whole).cast("long"))
      .withColumn("nh", count(lit(1)).over(whole))
      .filter(col("cnt") * 2 * col("nh") >= col("total") * 3)
      .select(
        (col("hour") * HourUs - 1800000000L).as("w_lo"),
        (col("hour") * HourUs + 5400000000L).as("w_hi"))
  }

  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val sess = sessionIntervals(spark, dir)
    val hot  = incidentWindows(spark, dir)

    // bin-bucketing rewrite: each interval → the hour bins it touches
    val sessBins = sess.withColumn(
      "bin",
      explode(expr(s"sequence(s_start div $HourUs, s_end div $HourUs)")))
    val hotBins = hot.withColumn(
      "bin",
      explode(expr(s"sequence(w_lo div $HourUs, (w_hi - 1) div $HourUs)")))

    sessBins
      .join(broadcast(hotBins), Seq("bin"))
      .filter(col("s_start") < col("w_hi") && col("s_end") >= col("w_lo"))
      // exactly-once emission instead of a dedup shuffle: a matching pair
      // shares every bin in the overlap, so emit it ONLY from the bin
      // holding greatest(s_start, w_lo) — a point both intervals contain
      // whenever they overlap. This is what lets the whole join run as
      // one broadcast-hash stage with zero post-join exchanges before
      // the final per-session rollup.
      .filter(col("bin") === expr(s"greatest(s_start, w_lo) div $HourUs"))
      .select(
        col("user_id"), col("s_start"), col("s_end"),
        col("n_events"),
        (least(col("s_end") + 1, col("w_hi")) -
          greatest(col("s_start"), col("w_lo"))).as("ov"))
      .groupBy(col("user_id"), col("s_start"), col("s_end"), col("n_events"))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(col("ov")).cast("long").as("total_overlap_us"))
      // NULLS LAST pins the ordered compare to DuckDB's ASC default: a
      // NULL-user session would otherwise sort first here and last in
      // the oracle (latent today — fixtures carry no NULL user_id, but
      // temporal_split guards the same hazard explicitly)
      .orderBy(asc_nulls_last("user_id"), col("s_start"))
  }

  private val intervalJoinSql =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS ts, event_id, event_type FROM events
       |), lagd AS (
       |  SELECT user_id, ts, event_id,
       |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
       |  FROM e
       |), marked AS (
       |  SELECT *, CASE WHEN prev_ts IS NULL OR ts - prev_ts > $SessGapUs
       |                 THEN 1 ELSE 0 END AS new_sess
       |  FROM lagd
       |), runs AS (
       |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                                ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM marked
       |), sess AS (
       |  SELECT user_id, sid, MIN(ts) AS s_start, MAX(ts) AS s_end,
       |         count(*) AS n_events
       |  FROM runs GROUP BY user_id, sid
       |), hourly AS (
       |  SELECT ts // $HourUs AS hour, count(*) AS cnt
       |  FROM e WHERE event_type = 'error' GROUP BY 1
       |), tot AS (
       |  SELECT SUM(cnt) AS total, count(*) AS nh FROM hourly
       |), hot AS (
       |  SELECT hour * $HourUs - 1800000000 AS w_lo,
       |         hour * $HourUs + 5400000000 AS w_hi
       |  FROM hourly, tot WHERE cnt * 2 * nh >= total * 3
       |), j AS (
       |  SELECT s.user_id, s.s_start, s.s_end, s.n_events,
       |         least(s.s_end + 1, h.w_hi) - greatest(s.s_start, h.w_lo) AS ov
       |  FROM sess s JOIN hot h ON s.s_start < h.w_hi AND s.s_end >= h.w_lo
       |)
       |SELECT user_id, s_start, s_end, n_events,
       |       count(*) AS n_windows,
       |       CAST(SUM(ov) AS BIGINT) AS total_overlap_us
       |FROM j GROUP BY user_id, s_start, s_end, n_events
       |ORDER BY user_id, s_start""".stripMargin

  /** Seasonal anomaly scan: hourly event counts per type, zero-filled over
    * the observed hour span, scored against that type's hour-of-day
    * baseline (population mean/std across days), emitting hours with
    * |z| ≥ 2.5.
    *
    * Zero-filling matters: skipping empty hours biases the baseline mean
    * upward and hides outage-shaped anomalies entirely. The fill is a
    * sequence over the GLOBAL [min,max] hour span crossed with the
    * distinct types — both sides driver-tiny (wall-clock hours × types),
    * so the only data-sized pass is the one map-side-combinable count.
    * Mean/std from exact integer power sums (n ≤ days, sumsq bounded by
    * days·max²) so the double division and IEEE sqrt are bit-identical
    * in both engines.
    */
  def tsAnomaly(spark: SparkSession, dir: String): DataFrame =
    scoreHourly(
      Tables
        .events(spark, dir)
        .select(col("event_type"), expr(s"ts div $HourUs").as("hour"))
        .groupBy(col("event_type"), col("hour"))
        .agg(count(lit(1)).as("cnt")))

  /** The scoring core over any (event_type, hour, cnt) frame — shared
    * with the streaming twin (AnomalyStreams), whose merged partial
    * counts are identical to the batch aggregate because counts are
    * mergeable over any partition of the event stream.
    */
  private[graft] def scoreHourly(counts0: DataFrame): DataFrame = {
    // every derived side below (span, types, the left join) reads this
    // hours×types frame, not events — ONE data-sized scan total. The
    // lazy cut defers only the final stage: under AQE the aggregate's
    // shuffle stage (and so the events scan) still runs at DataFrame
    // construction (see Ckpt.cut)
    val counts = counts0.cutLineage(eager = false)
    val span = counts.agg(min(col("hour")).as("h_lo"), max(col("hour")).as("h_hi"))
    val grid = span
      .select(explode(expr("sequence(h_lo, h_hi)")).as("hour"))
      .crossJoin(counts.select(col("event_type")).distinct())
    val filled = grid
      .join(counts, Seq("event_type", "hour"), "left")
      .select(
        col("event_type"), col("hour"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        // pmod, and the oracle's ((h%24)+24)%24 twin: plain % disagrees
        // between engines for pre-1970 (negative) epoch hours
        pmod(col("hour"), lit(24L)).as("hod"))
    val base = filled
      .groupBy(col("event_type"), col("hod"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("cnt")).cast("long").as("s"),
        sum(col("cnt") * col("cnt")).cast("long").as("sq"))
      .withColumn("mean", col("s").cast("double") / col("n"))
      .withColumn(
        "std",
        sqrt(greatest(
          (col("sq").cast("double") -
            col("s").cast("double") * col("s").cast("double") / col("n")) / col("n"),
          lit(0.0))))
    filled
      .join(broadcast(base), Seq("event_type", "hod"))
      .filter(col("std") > 0.0)
      .withColumn("z", (col("cnt").cast("double") - col("mean")) / col("std"))
      .filter(abs(col("z")) >= 2.5)
      .select(
        col("event_type"), col("hour"), col("cnt"),
        Det.detRound(col("mean"), 4).as("baseline_mean"),
        Det.detRound(col("z"), 4).as("z"))
      .orderBy(col("event_type"), col("hour"))
  }

  private[graft] val tsAnomalySql =
    s"""WITH e AS (
       |  SELECT event_type, epoch_us(ts) // $HourUs AS hour FROM events
       |), counts AS (
       |  SELECT event_type, hour, count(*) AS cnt FROM e GROUP BY 1, 2
       |), span AS (
       |  SELECT MIN(hour) AS h_lo, MAX(hour) AS h_hi FROM counts
       |), grid AS (
       |  SELECT t.event_type, g.hour
       |  FROM (SELECT DISTINCT event_type FROM counts) t,
       |       (SELECT unnest(generate_series(h_lo, h_hi)) AS hour FROM span) g
       |), filled AS (
       |  SELECT g.event_type, g.hour,
       |         COALESCE(c.cnt, 0) AS cnt,
       |         ((g.hour % 24) + 24) % 24 AS hod
       |  FROM grid g LEFT JOIN counts c
       |    ON g.event_type = c.event_type AND g.hour = c.hour
       |), base AS (
       |  SELECT event_type, hod, count(*) AS n,
       |         SUM(cnt) AS s, SUM(cnt * cnt) AS sq
       |  FROM filled GROUP BY event_type, hod
       |), scored AS (
       |  SELECT f.event_type, f.hour, f.cnt,
       |         CAST(b.s AS DOUBLE) / b.n AS mean,
       |         sqrt(greatest(
       |           (CAST(b.sq AS DOUBLE)
       |             - CAST(b.s AS DOUBLE) * CAST(b.s AS DOUBLE) / b.n) / b.n,
       |           0.0)) AS std
       |  FROM filled f JOIN base b
       |    ON f.event_type = b.event_type AND f.hod = b.hod
       |)
       |SELECT event_type, hour, cnt,
       |       ${Det.roundSql("mean", 4)} AS baseline_mean,
       |       ${Det.roundSql("(CAST(cnt AS DOUBLE) - mean) / std", 4)} AS z
       |FROM scored
       |WHERE std > 0.0 AND abs((CAST(cnt AS DOUBLE) - mean) / std) >= 2.5
       |ORDER BY event_type, hour""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "interval_join" -> QueryDef(intervalJoin, Some(intervalJoinSql)),
    "ts_anomaly"    -> QueryDef(tsAnomaly, Some(tsAnomalySql))
  )
}

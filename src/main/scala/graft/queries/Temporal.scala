package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._

/** Event-time operators, batch form (SURVEY.md §2.9 "batch-over-events
  * equivalents … come first", §2.3 as-of join): tumbling / sliding /
  * session windows over `events.ts` and the as-of join pattern, each
  * hash-checked against its DuckDB oracle. */
object Temporal {

  // ---------------------------------------------------------------- q50
  /** Tumbling event-time window: 1-hour buckets per event type. Epoch-
    * aligned on both engines (Spark `window` and DuckDB `time_bucket`). */
  def q50(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value".cast("decimal(18,2)")).cast("double"), 2).as("total_value"))
      .select($"w.start".as("w_start"), $"event_type", $"n_events", $"total_value")
      .orderBy($"w_start", $"event_type")
  }

  val q50Sql: String =
    """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w_start, event_type,
      |  COUNT(*) AS n_events,
      |  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY w_start, event_type""".stripMargin

  // ---------------------------------------------------------------- q51
  /** Sliding window: 2-hour windows sliding by 1 hour — every event lands
    * in exactly two windows (expressed in the oracle as an explicit
    * 2-element expansion of epoch-aligned starts). */
  def q51(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .groupBy(window($"ts", "2 hours", "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select($"w.start".as("w_start"), $"n_events")
      .orderBy($"w_start")
  }

  val q51Sql: String =
    """SELECT time_bucket(INTERVAL 1 HOUR, ts) - k * INTERVAL 1 HOUR AS w_start,
      |  COUNT(*) AS n_events
      |FROM events CROSS JOIN UNNEST(range(2)) AS t(k)
      |GROUP BY 1
      |ORDER BY w_start""".stripMargin

  // ---------------------------------------------------------------- q52
  /** Session window per user with a 4-hour inactivity gap. Spark
    * `session_window` starts a new session when the gap is >= 4h (window
    * end is last event + gap, exclusive); the oracle's gaps-and-islands
    * running sum uses the same `>=` break. */
  def q52(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .groupBy(session_window($"ts", "4 hours").as("s"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"s.start".as("session_start"), $"n_events")
      .orderBy($"user_id", $"session_start")
  }

  val q52Sql: String =
    """WITH gaps AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL 4 HOUR THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |sess AS (
      |  SELECT user_id, ts,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
      |                   ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM gaps)
      |SELECT user_id, min(ts) AS session_start, COUNT(*) AS n_events
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  // ---------------------------------------------------------------- q53
  /** Stateful-dedup batch equivalent: first event per (user, type) — the
    * batch semantics of `dropDuplicatesWithinWatermark` with an unbounded
    * watermark. */
  def q53(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .groupBy($"user_id", $"event_type")
      .agg(min($"event_id").as("first_event_id"), count(lit(1)).as("n_dupes"))
      .orderBy($"user_id", $"event_type")
  }

  val q53Sql: String =
    """SELECT user_id, event_type, min(event_id) AS first_event_id,
      |  COUNT(*) AS n_dupes
      |FROM events
      |GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  // ---------------------------------------------------------------- q54
  /** As-of join (SURVEY.md §2.3 "documented pattern"): for every error
    * event, the latest click by the same user at-or-before it. Spark lacks
    * the primitive, so: range join on (user, ts<=) -> per-left-row max
    * (`max(struct(ts, id))` keeps the argmax without a second join) ->
    * left join back. At scale, bucket both sides by user and sort within
    * partitions so the range join becomes a per-bucket merge. */
  def q54(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = events(spark, dir)
    val errors = e.filter($"event_type" === "error")
      .select($"event_id", $"user_id", $"ts")
    val clicks = e.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"event_id".as("c_id"), $"ts".as("c_ts"))
    val best = errors.join(clicks,
        $"user_id" === $"c_user" && $"c_ts" <= $"ts", "left")
      .groupBy($"event_id")
      .agg(max(struct($"c_ts", $"c_id")).as("m"))
      .select($"event_id", $"m.c_id".as("prev_click_id"), $"m.c_ts".as("prev_click_ts"))
    errors.join(best, Seq("event_id"), "left")
      .select($"event_id", $"user_id", $"prev_click_id", $"prev_click_ts")
      .orderBy($"event_id")
  }

  val q54Sql: String =
    """SELECT err.event_id, err.user_id,
      |  c.event_id AS prev_click_id, c.ts AS prev_click_ts
      |FROM (SELECT * FROM events WHERE event_type = 'error') err
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON err.user_id = c.user_id AND c.ts <= err.ts
      |ORDER BY err.event_id""".stripMargin

  // ---------------------------------------------------------------- q89
  /** Session window with a DYNAMIC gap (a per-event gap expression —
    * Spark's `session_window(ts, gapCol)`, the second half of the §2.9
    * session surface beyond q52's static gap): clicks time out after 2
    * hours, everything else after 4. Each event spans `[ts, ts+gap)`;
    * sessions merge while the next event starts before the MERGED window's
    * end (a running max — a later short-gap event must not shrink a bound
    * already extended by an earlier long-gap one), and the session end is
    * the max of member ends — which the oracle reproduces with a
    * cumulative-max gaps-and-islands instead of q52's lag-difference. */
  def q89(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val gap = when($"event_type" === "click", lit("2 hours")).otherwise(lit("4 hours"))
    events(spark, dir)
      .groupBy(session_window($"ts", gap).as("s"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"s.start".as("session_start"),
        $"s.end".as("session_end"), $"n_events")
      .orderBy($"user_id", $"session_start")
  }

  val q89Sql: String =
    """WITH e AS (
      |  SELECT user_id, ts,
      |    ts + CASE WHEN event_type = 'click' THEN INTERVAL 2 HOUR
      |              ELSE INTERVAL 4 HOUR END AS w_end
      |  FROM events),
      |m AS (
      |  SELECT user_id, ts, w_end,
      |    max(w_end) OVER (PARTITION BY user_id ORDER BY ts
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS prev_end
      |  FROM e),
      |g AS (
      |  SELECT user_id, ts, w_end,
      |    SUM(CASE WHEN prev_end IS NULL OR ts >= prev_end THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING)
      |      AS sid
      |  FROM m)
      |SELECT user_id, min(ts) AS session_start, max(w_end) AS session_end,
      |  COUNT(*) AS n_events
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  // ---------------------------------------------------------------- q91
  /** Time-series RESAMPLE to a regular hourly grid with LINEAR
    * INTERPOLATION (the gap-fill that q78's LOCF only steps): per user,
    * grid points between the hour-truncated first and last event; each
    * interior point interpolates between the last event at-or-before it
    * and the first event strictly after it. Duplicate (user, ts) readings
    * collapse to their min first so the surrounding values are
    * deterministic.
    *
    * Scale shape: the classic union-and-two-windows resample — events and
    * grid points union into ONE per-user sort; `last(... ignoreNulls)`
    * looking back and `first(... ignoreNulls)` looking forward find both
    * neighbors without a per-grid-point range join (which would be
    * |grid| × |events| at 100 TB). One shuffle on user_id, no
    * single-partition window. */
  def q91(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // spreadIfNarrow: the (user_id, ts) dedup partial-agg otherwise runs
    // in the single scan task; user_id is every downstream window's
    // partition key, so the spread's partitioning is reused throughout
    val e = spreadIfNarrow(events(spark, dir), $"user_id")
      .groupBy($"user_id", $"ts").agg(min($"value").as("v"))
    val grid = e.groupBy($"user_id")
      .agg(date_trunc("hour", min($"ts")).as("t0"), date_trunc("hour", max($"ts")).as("t1"))
      .select($"user_id",
        explode(expr("sequence(t0, t1, interval 1 hour)")).as("g"))
    // events sort BEFORE a grid point at the same instant, so an exact-hit
    // grid point interpolates to exactly that event's value (ratio 0)
    val pts = e.select($"user_id", $"ts", $"v", lit(null).cast("timestamp").as("g"))
      .unionByName(grid.select($"user_id", $"g".as("ts"),
        lit(null).cast("double").as("v"), $"g"))
    // Both neighbor lookups use RUNNING frames (unbounded-preceding ->
    // fixed upper), which Spark evaluates incrementally in O(n) per
    // partition; the naive `first ignoreNulls` over (1 FOLLOWING,
    // UNBOUNDED FOLLOWING) recomputes its frame per row — O(n^2) on
    // grid-dense partitions, measured 17x slower at sf0.1. The "next"
    // neighbor is the same running `last` over the REVERSED sort (grid
    // before events at equal ts, excluding the current row, so an event
    // at exactly the grid instant stays the PREV neighbor).
    val back = Window.partitionBy($"user_id")
      .orderBy($"ts", $"g".isNotNull.cast("int"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val ahead = Window.partitionBy($"user_id")
      .orderBy($"ts".desc, $"g".isNotNull.cast("int").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val evTs = when($"v".isNotNull, $"ts")
    pts
      .withColumn("pv", last($"v", ignoreNulls = true).over(back))
      .withColumn("pt", last(evTs, ignoreNulls = true).over(back))
      .withColumn("nv", last($"v", ignoreNulls = true).over(ahead))
      .withColumn("nt", last(evTs, ignoreNulls = true).over(ahead))
      .filter($"g".isNotNull && $"pv".isNotNull && $"nv".isNotNull)
      .select($"user_id", $"g".as("grid_ts"),
        round($"pv" + ($"nv" - $"pv") *
          (unix_millis($"g") - unix_millis($"pt")).cast("double") /
          (unix_millis($"nt") - unix_millis($"pt")).cast("double"), 4).as("v_interp"))
      .orderBy($"user_id", $"grid_ts")
  }

  val q91Sql: String =
    """WITH ev AS (SELECT user_id, ts, min(value) AS v FROM events GROUP BY 1, 2),
      |bounds AS (SELECT user_id, date_trunc('hour', min(ts)) AS t0,
      |                  date_trunc('hour', max(ts)) AS t1 FROM ev GROUP BY 1),
      |grid AS (SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS g
      |         FROM bounds),
      |u AS (SELECT user_id, ts, v, NULL::TIMESTAMP AS g FROM ev
      |      UNION ALL
      |      SELECT user_id, g AS ts, NULL::DOUBLE AS v, g FROM grid),
      |w AS (SELECT user_id, ts, v, g,
      |  last_value(v IGNORE NULLS) OVER pre AS pv,
      |  last_value(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS) OVER pre AS pt,
      |  first_value(v IGNORE NULLS) OVER post AS nv,
      |  first_value(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS) OVER post AS nt
      |  FROM u WINDOW
      |    pre AS (PARTITION BY user_id ORDER BY ts, (g IS NOT NULL)::INT
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    post AS (PARTITION BY user_id ORDER BY ts, (g IS NOT NULL)::INT
      |             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
      |SELECT user_id, g AS grid_ts,
      |  round(pv + (nv - pv) * (epoch_ms(g) - epoch_ms(pt))::DOUBLE
      |                       / (epoch_ms(nt) - epoch_ms(pt))::DOUBLE, 4) AS v_interp
      |FROM w
      |WHERE g IS NOT NULL AND pv IS NOT NULL AND nv IS NOT NULL
      |ORDER BY user_id, grid_ts""".stripMargin

  // ---------------------------------------------------------------- q92
  /** ORDERED FUNNEL (view -> click -> purchase): per user, the first view,
    * the first click STRICTLY AFTER that view, and the first purchase
    * strictly after that click. Two stacked running-min windows carry the
    * stage state down the per-user timeline, so the whole funnel costs ONE
    * shuffle on user_id (the following groupBy reuses the window's
    * partitioning) — no self-join per stage, which at 100 TB would be
    * |events|² on hot users. Tie-safe: strict `>` comparisons make the
    * result independent of sort order among same-timestamp events. */
  def q92(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts")
      .rowsBetween(Window.unboundedPreceding, 0)
    val s1 = events(spark, dir)
      .select($"user_id", $"ts", $"event_type")
      .withColumn("mv", min(when($"event_type" === "view", $"ts")).over(w))
    val s2 = s1.withColumn("mc",
      min(when($"event_type" === "click" && $"ts" > $"mv", $"ts")).over(w))
    s2.groupBy($"user_id")
      .agg(
        min(when($"event_type" === "view", $"ts")).as("t_view"),
        min(when($"event_type" === "click" && $"ts" > $"mv", $"ts")).as("t_click"),
        min(when($"event_type" === "purchase" && $"ts" > $"mc", $"ts")).as("t_purchase"))
      .filter($"t_view".isNotNull)
      .orderBy($"user_id")
  }

  val q92Sql: String =
    """WITH s1 AS (
      |  SELECT user_id, ts, event_type,
      |    min(CASE WHEN event_type = 'view' THEN ts END)
      |      OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS mv
      |  FROM events),
      |s2 AS (
      |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > mv THEN ts END)
      |    OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS mc
      |  FROM s1)
      |SELECT user_id,
      |  min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
      |  min(CASE WHEN event_type = 'click' AND ts > mv THEN ts END) AS t_click,
      |  min(CASE WHEN event_type = 'purchase' AND ts > mc THEN ts END) AS t_purchase
      |FROM s2 GROUP BY user_id
      |HAVING t_view IS NOT NULL
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q93
  /** COHORT RETENTION: users grouped by the week of their first event;
    * for each (cohort week, week offset), how many of that cohort were
    * active. The cohort assignment is a full-partition min window (no
    * extra join), distinct (user, week) pairs collapse map-side, and the
    * final count is an exact distinct over an already-narrow set — the
    * standard product-analytics shape, one shuffle on user then one on
    * the (cohort, offset) key. */
  def q93(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    events(spark, dir)
      .select($"user_id", date_trunc("week", $"ts").as("wk"),
        date_trunc("week",
          min($"ts").over(Window.partitionBy($"user_id"))).as("cohort_week"))
      .distinct()
      .groupBy($"cohort_week",
        (datediff($"wk", $"cohort_week") / 7).cast("long").as("week_offset"))
      .agg(countDistinct($"user_id").as("n_users"))
      .orderBy($"cohort_week", $"week_offset")
  }

  val q93Sql: String =
    """WITH a AS (
      |  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk,
      |    date_trunc('week', min(ts) OVER (PARTITION BY user_id)) AS cohort_week
      |  FROM events)
      |SELECT cohort_week, date_diff('day', cohort_week, wk) // 7 AS week_offset,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM a GROUP BY 1, 2
      |ORDER BY cohort_week, week_offset""".stripMargin

  // ---------------------------------------------------------------- q94
  /** EVENT TRANSITION MATRIX (first-order Markov estimate): for each
    * per-user consecutive event pair, count (from, to) transitions and
    * their conditional probability. `lead` over (ts, event_id) — the
    * unique id breaks same-timestamp ties, so the sequence (and therefore
    * the matrix) is deterministic. One shuffle on user for the sequencing
    * window; the count and the per-from normalization ride the tiny
    * |types|² aggregate. */
  def q94(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val seq = events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("next_type", lead($"event_type", 1).over(
        Window.partitionBy($"user_id").orderBy($"ts", $"event_id")))
      .filter($"next_type".isNotNull)
    seq.groupBy($"event_type".as("from_type"), $"next_type".as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round($"n".cast("double") /
        sum($"n").over(Window.partitionBy($"from_type")), 4))
      .orderBy($"from_type", $"to_type")
  }

  val q94Sql: String =
    """WITH s AS (
      |  SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS next_type
      |  FROM events),
      |c AS (SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
      |      FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  round(n::DOUBLE / sum(n) OVER (PARTITION BY from_type), 4) AS p
      |FROM c ORDER BY from_type, to_type""".stripMargin

  // ---------------------------------------------------------------- q106
  /** EVENT-PATTERN MATCHING (the SQL:2016 MATCH_RECOGNIZE / CEP surface,
    * re-expressed relationally): detect the browse-then-buy pattern
    * `view+ click+ purchase` in each user's time-ordered event sequence.
    * Each user's history folds to a string of type initials (all five
    * fixture event types have distinct initials) and the PATTERN clause
    * becomes a regex over it — count of non-overlapping matches and the
    * longest match per user. Greedy leftmost-non-overlapping regex
    * semantics agree between engines, so the oracle verifies identical
    * match sets, and tie-breaking the event order by (ts, event_id) makes
    * the sequence itself deterministic.
    *
    * Scale shape: ONE shuffle (groupBy user) building a per-user sequence —
    * the same state a streaming CEP operator keys by — then scan-shaped
    * regex evaluation. A pathologically hot user makes a long string, the
    * standard sessionization caveat; the collect_list is map-side partial
    * so the shuffle carries per-partition slices, not rows. */
  def q106(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .groupBy($"user_id")
      .agg(expr(
        "array_join(transform(array_sort(collect_list(struct(ts, event_id, event_type)))," +
          " x -> substring(x.event_type, 1, 1)), '')").as("seq"))
      .select($"user_id",
        length($"seq").cast("long").as("seq_len"),
        expr("size(regexp_extract_all(seq, 'v+c+p', 0))").cast("long").as("n_matches"),
        coalesce(expr(
          "array_max(transform(regexp_extract_all(seq, 'v+c+p', 0), x -> length(x)))"), lit(0))
          .cast("long").as("longest_match"))
      .orderBy($"user_id")
  }

  val q106Sql: String =
    """WITH seqs AS (
      |  SELECT user_id, string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
      |  FROM events GROUP BY user_id)
      |SELECT user_id, length(seq)::BIGINT AS seq_len,
      |  len(regexp_extract_all(seq, 'v+c+p'))::BIGINT AS n_matches,
      |  COALESCE(list_max(list_transform(regexp_extract_all(seq, 'v+c+p'), x -> length(x))), 0)::BIGINT
      |    AS longest_match
      |FROM seqs ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q107
  /** OHLC BAR DOWNSAMPLING: open/high/low/close of `value` per
    * (event_type, hour) — the canonical time-series compaction (metrics
    * rollups, market bars, telemetry downsampling). Open/close are argmin/
    * argmax by event time expressed as MIN/MAX over (ts, event_id, value)
    * structs: the struct's lexicographic order is decided by the unique
    * (ts, event_id) prefix, so the picked value is deterministic and both
    * engines agree without a window function or self-join. One partial→
    * final hash aggregate — O(bars) out of O(events), scan-shaped at any
    * scale. */
  def q107(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("bar_ts"))
      .agg(
        min(struct($"ts", $"event_id", $"value")).getField("value").as("open"),
        max($"value").as("high"),
        min($"value").as("low"),
        max(struct($"ts", $"event_id", $"value")).getField("value").as("close"),
        count(lit(1)).as("n_events"))
      .orderBy($"event_type", $"bar_ts")
  }

  val q107Sql: String =
    """SELECT event_type, date_trunc('hour', ts) AS bar_ts,
      |  (min({'ts': ts, 'id': event_id, 'v': value})).v AS open,
      |  max(value) AS high,
      |  min(value) AS low,
      |  (max({'ts': ts, 'id': event_id, 'v': value})).v AS close,
      |  COUNT(*) AS n_events
      |FROM events GROUP BY 1, 2
      |ORDER BY event_type, bar_ts""".stripMargin

  // ---------------------------------------------------------------- q115
  /** POINT-IN-INTERVAL JOIN AT SCALE (the general form of q12's range
    * join): which browsing session (4-hour-gap sessions over the user's
    * NON-error events) did each error event fall inside? A naive
    * `ON point BETWEEN lo AND hi` plans a nested-loop join — quadratic,
    * the classic 100 TB range-join killer. The scalable shape BINS time:
    * intervals EXPLODE to every fixed-width bucket they overlap
    * (sessions are bounded, so the fanout is bounded), points map to
    * their single bucket, and the join becomes an EQUI-join on
    * (user, bucket) with the BETWEEN as a post-filter — a key shuffle,
    * never a cross product (plan-asserted). A user's sessions are
    * disjoint, so each error matches at most one session — no dedup
    * step needed. */
  private val IntervalBinSec = 4 * 3600L

  def q115(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = events(spark, dir)
    val sess = e.filter($"event_type" =!= "error")
      .groupBy(session_window($"ts", "4 hours").as("w"), $"user_id")
      .agg(min($"ts").as("s_start"), max($"ts").as("s_end"))
      .select($"user_id", $"s_start", $"s_end",
        explode(expr(
          s"sequence(floor(unix_timestamp(s_start) / $IntervalBinSec), " +
          s"floor(unix_timestamp(s_end) / $IntervalBinSec))")).as("bucket"))
    val errors = e.filter($"event_type" === "error")
      .select($"event_id", $"user_id", $"ts",
        expr(s"floor(unix_timestamp(ts) / $IntervalBinSec)").as("bucket"))
    errors.join(sess, Seq("user_id", "bucket"))
      .filter($"ts" >= $"s_start" && $"ts" <= $"s_end")
      .select($"event_id", $"user_id", $"ts", $"s_start", $"s_end")
      .orderBy($"event_id")
  }

  val q115Sql: String =
    """WITH ne AS (SELECT user_id, ts FROM events WHERE event_type != 'error'),
      |gaps AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL 4 HOUR THEN 1 ELSE 0 END AS brk
      |  FROM ne WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |sess AS (
      |  SELECT user_id, min(ts) AS s_start, max(ts) AS s_end
      |  FROM (SELECT user_id, ts,
      |          SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
      |                         ROWS UNBOUNDED PRECEDING) AS sid
      |        FROM gaps)
      |  GROUP BY user_id, sid)
      |SELECT e.event_id, e.user_id, e.ts, s.s_start, s.s_end
      |FROM events e JOIN sess s
      |  ON e.user_id = s.user_id AND e.ts BETWEEN s.s_start AND s.s_end
      |WHERE e.event_type = 'error'
      |ORDER BY e.event_id""".stripMargin

  // ---------------------------------------------------------------- q120
  /** Truncated EWMA (exponential smoothing, K=8, α=0.5) per user — the
    * recursive filter ewma_i = α·x_i + (1-α)·ewma_{i-1}, reformulated as a
    * FIXED-DEPTH weighted lag-chain so it runs as ONE window pass instead
    * of a sequential per-row recursion (the 2^-8 tail is below fixture
    * value resolution; production smoothing truncates the same way).
    *
    * Cross-engine exactness by construction: α=0.5 makes every weight
    * 0.5^j EXACT in decimal, `value` is verified lossless at DECIMAL(18,4)
    * (all SFs), so numerator and denominator are order-independent exact
    * decimals on both engines; the single double division at the end is
    * then bit-identical — the q24 DECIMAL discipline extended to weighted
    * windows, no rounding contract needed.
    *
    * Scale shape: one shuffle on user_id, one sort per partition, the lag
    * chain is a single window frame — no joins, no state. */
  def q120(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    def wgt(j: Int): Column =
      lit(new java.math.BigDecimal(0.5).pow(j)).cast("decimal(18,10)")
    // each product is cast to DECIMAL(22,14) BEFORE the sum: the raw
    // product type is DECIMAL(37,14) and summing those crosses Spark's
    // precision-38 cap, where DecimalPrecision silently REDUCES SCALE
    // (measured: 1e-9 drift vs the oracle); at (22,14) the 8-term sum
    // peaks at precision 29 — exact on both engines
    val num = (0 until 8).map { j =>
      (wgt(j) * coalesce(lag($"value", j).over(w), lit(0)).cast("decimal(18,4)"))
        .cast("decimal(22,14)")
    }.reduce(_ + _)
    val den = (0 until 8).map { j =>
      (wgt(j) * when(lag($"value", j).over(w).isNull, 0).otherwise(1))
        .cast("decimal(22,14)")
    }.reduce(_ + _)
    events(spark, dir)
      .select($"user_id", $"ts", $"value",
        (num.cast("decimal(28,14)").cast("double") /
         den.cast("decimal(28,14)").cast("double")).as("ewma"))
      .orderBy($"user_id", $"ts", $"event_id")
  }

  val q120Sql: String = {
    val num = (0 until 8).map { j =>
      f"CAST(CAST(${math.pow(0.5, j)}%.10f AS DECIMAL(18,10)) * CAST(COALESCE(lag(value, $j) OVER w, 0) AS DECIMAL(18,4)) AS DECIMAL(22,14))"
    }.mkString(" + ")
    val den = (0 until 8).map { j =>
      f"CAST(CAST(${math.pow(0.5, j)}%.10f AS DECIMAL(18,10)) * (CASE WHEN lag(value, $j) OVER w IS NULL THEN 0 ELSE 1 END) AS DECIMAL(22,14))"
    }.mkString(" + ")
    s"""SELECT user_id, ts, value,
       |  CAST(CAST(($num) AS DECIMAL(28,14)) AS DOUBLE) /
       |  CAST(CAST(($den) AS DECIMAL(28,14)) AS DOUBLE) AS ewma
       |FROM events
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |ORDER BY user_id, ts, event_id""".stripMargin
  }

  // ---------------------------------------------------------------- q121
  /** Robust per-user OUTLIER DETECTION: modified z-score on median/MAD
    * (Iglewicz–Hoban 0.6745·(x−med)/MAD, |z|>3.5) — the quality-filter
    * shape that survives the heavy-tailed value distributions a mean/σ
    * z-score is blinded by (the outliers inflate σ and hide themselves).
    *
    * Scale shape: two grouped exact-percentile aggregations (partial→final,
    * one shuffle each on user_id) and an equality join of the tiny per-user
    * (med, mad) table back to events — broadcast at fixture scale, still a
    * key-equality shuffle at 100 TB. Both engines interpolate the median
    * identically (quantile_cont semantics); the emitted score is rounded,
    * the FILTER uses the unrounded value on both sides. */
  def q121(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // spreadIfNarrow: both exact-percentile partials and the join probes
    // otherwise run single-task in the scan stage; user_id is the grouping
    // AND join key, so every consumer reuses the spread's partitioning
    val ev = spreadIfNarrow(events(spark, dir), $"user_id")
    val med = ev.groupBy($"user_id")
      .agg(expr("percentile(value, 0.5)").as("med"))
    val mad = ev.join(med, "user_id").groupBy($"user_id")
      .agg(expr("percentile(abs(value - med), 0.5)").as("mad"),
        first($"med").as("med"))
    val rz = (lit(0.6745) * ($"value" - $"med")) / $"mad"
    ev.join(mad, "user_id")
      .filter($"mad" > 0 && abs(rz) > 3.5)
      .select($"event_id", $"user_id", $"value", round(rz, 4).as("rz"))
      .orderBy($"event_id")
  }

  val q121Sql: String =
    """WITH med AS (SELECT user_id, median(value) AS med FROM events GROUP BY 1),
      |mad AS (SELECT e.user_id, median(abs(e.value - m.med)) AS mad,
      |               any_value(m.med) AS med
      |        FROM events e JOIN med m USING (user_id) GROUP BY 1)
      |SELECT e.event_id, e.user_id, e.value,
      |  round(0.6745 * (e.value - m.med) / m.mad, 4) AS rz
      |FROM events e JOIN mad m USING (user_id)
      |WHERE m.mad > 0 AND abs(0.6745 * (e.value - m.med) / m.mad) > 3.5
      |ORDER BY e.event_id""".stripMargin

  // ---------------------------------------------------------------- q131
  /** Sliding two-window CHANGEPOINT score per user: at each event, the
    * absolute difference between the trailing-10 and leading-10 means of
    * `value` — the window-pair shape behind level-shift detection (CUSUM's
    * practical cousin that, unlike clamped CUSUM's recursion, is exactly
    * expressible as window frames and therefore runs as ONE window pass).
    *
    * Cross-engine exactness: both window sums fold DECIMAL(8,4) values
    * (order-independent exact), the means are single double divisions of
    * identical exact numerators, and the threshold compares the identical
    * double expression on both engines.
    *
    * Scale shape: two ROWS-frame sums over one user_id shuffle — per-user
    * data never leaves its partition; interior-only scoring (full frames
    * both sides) avoids edge-bias without a second pass. */
  def q131(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val pre = w.rowsBetween(-9, 0)
    val post = w.rowsBetween(1, 10)
    val v = events(spark, dir)
      .select($"user_id", $"event_id", $"ts", $"value".cast(DecimalType(8, 4)).as("v"))
      .withColumn("pre_sum", sum($"v").over(pre))
      .withColumn("pre_n", count(lit(1)).over(pre))
      .withColumn("post_sum", sum($"v").over(post))
      .withColumn("post_n", count(lit(1)).over(post))
    val preMean = $"pre_sum".cast("double") / $"pre_n"
    val postMean = $"post_sum".cast("double") / $"post_n"
    v.filter($"pre_n" === 10 && $"post_n" === 10 && abs(postMean - preMean) >= 40)
      .select($"user_id", $"event_id",
        round(preMean, 4).as("pre_mean"),
        round(postMean, 4).as("post_mean"),
        round(abs(postMean - preMean), 4).as("score"))
      .orderBy($"user_id", $"event_id")
  }

  val q131Sql: String =
    """WITH v AS (SELECT user_id, event_id, ts, CAST(value AS DECIMAL(8,4)) AS v
      |           FROM events),
      |w AS (SELECT user_id, event_id,
      |        sum(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS pre_sum,
      |        count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS pre_n,
      |        sum(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                     ROWS BETWEEN 1 FOLLOWING AND 10 FOLLOWING) AS post_sum,
      |        count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                     ROWS BETWEEN 1 FOLLOWING AND 10 FOLLOWING) AS post_n
      |      FROM v)
      |SELECT user_id, event_id,
      |  round(CAST(pre_sum AS DOUBLE)/pre_n, 4) AS pre_mean,
      |  round(CAST(post_sum AS DOUBLE)/post_n, 4) AS post_mean,
      |  round(abs(CAST(post_sum AS DOUBLE)/post_n - CAST(pre_sum AS DOUBLE)/pre_n), 4) AS score
      |FROM w
      |WHERE pre_n = 10 AND post_n = 10
      |  AND abs(CAST(post_sum AS DOUBLE)/post_n - CAST(pre_sum AS DOUBLE)/pre_n) >= 40
      |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------- q132
  /** SEASONAL-BASELINE anomaly detection: per (event_type, hour-of-day)
    * mean as the expected level, each event scored by its ratio to the
    * baseline, keeping ratio ≥ 5 — the time-of-day-aware monitor that a
    * flat global threshold can't match (a value normal at peak hour is an
    * anomaly at 4am).
    *
    * Scale shape: the baseline is a tiny (types × 24)-row aggregate that
    * BROADCASTS back onto the scan — one partial→final aggregate plus a
    * map-side join; no window, no shuffle of the fact rows. Baseline
    * means divide exact decimal sums; the ratio divides the raw stored
    * double by that mean — identical arithmetic on both engines. */
  def q132(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, dir).withColumn("hr", hour($"ts").cast("long"))
    val base = ev.groupBy($"event_type", $"hr")
      .agg(sum($"value".cast(DecimalType(8, 4))).as("s"), count(lit(1)).as("n"))
    val baseline = $"s".cast("double") / $"n"
    ev.join(broadcast(base), Seq("event_type", "hr"))
      .filter($"value" / baseline >= 5.0)
      .select($"event_id", $"event_type", $"hr",
        round($"value", 4).as("value"),
        round(baseline, 4).as("baseline"),
        round($"value" / baseline, 4).as("ratio"))
      .orderBy($"event_id")
  }

  val q132Sql: String =
    """WITH base AS (
      |  SELECT event_type, CAST(extract(hour FROM ts) AS BIGINT) AS hr,
      |         sum(CAST(value AS DECIMAL(8,4))) AS s, count(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT e.event_id, e.event_type, CAST(extract(hour FROM e.ts) AS BIGINT) AS hr,
      |  round(e.value, 4) AS value,
      |  round(CAST(b.s AS DOUBLE)/b.n, 4) AS baseline,
      |  round(e.value / (CAST(b.s AS DOUBLE)/b.n), 4) AS ratio
      |FROM events e JOIN base b
      |  ON b.event_type = e.event_type AND b.hr = CAST(extract(hour FROM e.ts) AS BIGINT)
      |WHERE e.value / (CAST(b.s AS DOUBLE)/b.n) >= 5.0
      |ORDER BY e.event_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q131_changepoint"    -> q131,
    "q132_seasonal_anomaly" -> q132,
    "q115_interval_join"  -> q115,
    "q120_ewma"           -> q120,
    "q121_robust_outliers" -> q121,
    "q50_window_tumbling" -> q50,
    "q51_window_sliding"  -> q51,
    "q52_window_session"  -> q52,
    "q53_dedup_first"     -> q53,
    "q54_asof_join"       -> q54,
    "q89_session_dynamic_gap" -> q89,
    "q91_resample_interpolate" -> q91,
    "q92_funnel"          -> q92,
    "q93_cohort_retention" -> q93,
    "q94_event_transitions" -> q94,
    "q106_pattern_match"  -> q106,
    "q107_ohlc_bars"      -> q107)

  val oracleSql: Map[String, String] = Map(
    "q131_changepoint"    -> q131Sql,
    "q132_seasonal_anomaly" -> q132Sql,
    "q115_interval_join"  -> q115Sql,
    "q120_ewma"           -> q120Sql,
    "q121_robust_outliers" -> q121Sql,
    "q50_window_tumbling" -> q50Sql,
    "q51_window_sliding"  -> q51Sql,
    "q52_window_session"  -> q52Sql,
    "q53_dedup_first"     -> q53Sql,
    "q54_asof_join"       -> q54Sql,
    "q89_session_dynamic_gap" -> q89Sql,
    "q91_resample_interpolate" -> q91Sql,
    "q92_funnel"          -> q92Sql,
    "q93_cohort_retention" -> q93Sql,
    "q94_event_transitions" -> q94Sql,
    "q106_pattern_match"  -> q106Sql,
    "q107_ohlc_bars"      -> q107Sql)
}

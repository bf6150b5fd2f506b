package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-stream operator surface: JSON extraction, time bucketing,
  * last-write-wins compaction and gap sessionization (SURVEY.md §2.8 F1/F7,
  * §2.10). These are the batch forms of the reference's incremental
  * semantics.
  *
  * `ts` arrives as epoch NANOS (LongType via nanosAsLong); all arithmetic is
  * integer microseconds (`ts_us`) to stay bit-identical with DuckDB's
  * nanos→micros truncating parquet reader.
  */
object EventQueries {

  private val SessionGapUs = 1800000000L // 30 min
  private val FunnelGapUs = 129600000000L // 36 h — q_funnel_windowed's max gap

  /** AS-OF join — the time-series operator Spark lacks natively (brief
    * §custom-operators), re-expressed by COMPOSITION instead of a custom
    * SparkPlan: each purchase attributed to the same user's most recent
    * STRICTLY-EARLIER click, strictness defined at MICROSECOND resolution
    * (ts_us, the house integer-µs column — events.parquet is nanos, so
    * distinct raw timestamps CAN collide at µs; the contract and both
    * referees live at µs). The naive spelling is an inequality join
    * (click.ts < purchase.ts) + a per-purchase argmax — a range join
    * Catalyst can only nested-loop, quadratic per user. The union-window
    * spelling is the scalable one: filter both event roles in ONE scan,
    * shuffle ONCE on user_id, sort within partition by
    * (ts_us, is_click, event_id), and carry the last click forward with
    * an ignoreNulls last() over rows (unbounded, -1). The is_click key
    * (purchases 0, clicks 1) makes the positional "-1" bound encode
    * µs-strictness EXACTLY: a click in the same µs as a purchase sorts
    * AFTER it and falls outside its frame — ordering by (ts_us,
    * event_id) alone would let a same-µs click with a smaller event_id
    * inside, attributing a click the strictly-earlier contract excludes.
    * Among earlier clicks tied on µs, event_id asc + last() elects the
    * max event_id — the same (ctu, event_id) argmax the oracle's
    * per-(user, µs) dedup and the brute-force referee compute.
    * Purchases with no prior click survive with NULL attribution (the
    * LEFT as-of contract). At 100 TB: one exchange of the role-filtered
    * stream, per-user state is one row, skew-bounded by the busiest
    * user's events — the same shape the sessionizer runs. The oracle is
    * DuckDB's NATIVE ASOF LEFT JOIN at µs over clicks pre-deduped to max
    * event_id per (user, µs) — dedup first, because ASOF's pick among
    * duplicate right-side keys is unspecified — an independent engine's
    * implementation of the same semantics, not a re-spelling of this
    * plan. A/B vs the join+argmax spelling (AbAsofBench, interleaved
    * min-of-5, output-parity-checked): window 0.193 s vs join 0.251 s at
    * sf0.1 (1.30x) and 0.436 vs 0.712 s on the 10x replica (1.63x) — the
    * gap GROWS with data because the join emits one row per (purchase,
    * every prior click) before collapsing, O(clicks × purchases) per
    * user vs the window's O(events). Shared with AbAsofBench so the A/B
    * always measures the spelling that ships. */
  private[graft] def asofWindowOf(events: DataFrame): DataFrame = {
    val isClick = col("event_type") === "click"
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), when(isClick, 1).otherwise(0), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_id"), col("user_id"), col("ts_us"), col("event_type"))
      .withColumn("click_event_id",
        last(when(isClick, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_ts_us",
        last(when(isClick, col("ts_us")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id").as("purchase_id"),
        col("user_id"),
        col("ts_us").as("purchase_ts_us"),
        col("click_event_id"),
        (col("ts_us") - col("click_ts_us")).as("gap_us"))
    // no ORDER BY here: the QueryDef adds the verify-gate total order;
    // AbAsofBench measures the core computation without it (its join
    // comparator has no final sort either)
  }

  /** The funnel engine (q_funnel's body — see that QueryDef's scaladoc),
    * parameterized by the ORDERED stage list (any length ≥ 1). Needs
    * (user_id, ts_us, event_type). The k-row stage readout is ONE
    * explode over the single aggregate row — a per-stage union would
    * re-plan the whole corpus aggregation once per stage (measured: 3×
    * the exchange lines at 3 stages). The per-user window buffers a
    * user's events in one partition (human-scale per-user counts — the
    * sessionize precedent); a degenerate 10⁸-event bot user wants an
    * upstream per-user cap. */
  private[graft] def funnelOf(
      events: DataFrame,
      stages: Seq[String] = Seq("signup", "click", "purchase"),
      maxGapUs: Option[Long] = None): DataFrame = {
    require(stages.nonEmpty, "a funnel needs at least one stage")
    require(maxGapUs.forall(_ > 0), "maxGapUs must be positive")
    val wU = Window.partitionBy(col("user_id"))
    val perEvent = stages.zipWithIndex.foldLeft(
      events.select(col("user_id"), col("ts_us"), col("event_type"))) {
      case (df, (stage, i)) =>
        val inOrder =
          if (i == 0) col("event_type") === stage
          else {
            // the windowed contract (VERDICT r17 #3): stage k+1 counts
            // only within W µs AFTER t_k (inclusive boundary: exactly
            // t_k + W still converts — EventAnalyticsSpec pins both
            // sides of the fence). The bound slots into the same
            // chained-min `when`, so the plan — one user_id exchange
            // riding every stage — is unchanged.
            val base = col("event_type") === stage && col("ts_us") > col(s"t$i")
            maxGapUs.fold(base)(w => base && col("ts_us") <= col(s"t$i") + w)
          }
        df.withColumn(s"t${i + 1}", min(when(inOrder, col("ts_us"))).over(wU))
    }
    val tot = perEvent
      .groupBy(col("user_id"))
      .agg(max(col("t1")).as("t1"),
        stages.indices.drop(1).map(i => max(col(s"t${i + 1}")).as(s"t${i + 1}")): _*)
      .agg(count(col("t1")).as("n1"),
        stages.indices.drop(1).map(i => count(col(s"t${i + 1}")).as(s"n${i + 1}")): _*)
    // TRUE integer floor division (SQL `div`), matching the oracle's
    // `//` bit-for-bit at any magnitude — floor(double-divide) agrees
    // only while n·10⁶ stays inside double precision (r17 review)
    def ppm(i: Int): Column =
      when(col("n1") === 0L, 0L)
        .otherwise(expr(s"(n${i + 1} * 1000000L) div n1"))
    tot.select(explode(array(stages.zipWithIndex.map { case (stage, i) =>
        struct(lit((i + 1).toLong).as("stage"), lit(stage).as("event_type"),
          col(s"n${i + 1}").as("n_users"), ppm(i).as("conv_ppm"))
      }: _*)).as("r"))
      .select(col("r.stage").as("stage"), col("r.event_type").as("event_type"),
        col("r.n_users").as("n_users"), col("r.conv_ppm").as("conv_ppm"))
      .orderBy("stage")
  }

  /** The retention engine (q_retention's body — see that QueryDef's
    * scaladoc). Needs (user_id, ts_us). `weekly = true` is the
    * product-analytics cohort granularity (VERDICT r17 #3): users keyed
    * by their first-activity ISO week (Monday start — Spark's
    * date_trunc('week') and DuckDB's agree), counted once per distinct
    * return WEEK; offsets are whole weeks (both endpoints are Mondays,
    * so the day difference is exactly divisible — integer `div 7`, no
    * float). Same plan shape as daily: one user_id window exchange, a
    * (user, week) distinct, a weeks²-bounded rollup. */
  private[graft] def retentionOf(
      events: DataFrame, weekly: Boolean = false): DataFrame = {
    val wU = Window.partitionBy(col("user_id"))
    val period =
      if (weekly) to_date(date_trunc("week", timestamp_micros(col("ts_us"))))
      else to_date(timestamp_micros(col("ts_us")))
    val offset =
      if (weekly) expr("CAST(datediff(p, cohort) div 7 AS BIGINT)")
      else datediff(col("p"), col("cohort")).cast(LongType)
    val (cohortName, offsetName) =
      if (weekly) ("cohort_week", "week_offset") else ("cohort_day", "day_offset")
    events
      .select(col("user_id"), period.as("p"))
      .withColumn("cohort", min(col("p")).over(wU))
      .select(col("user_id"), col("cohort"), col("p")).distinct()
      .groupBy(
        date_format(col("cohort"), "yyyy-MM-dd").as(cohortName),
        offset.as(offsetName))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(cohortName, offsetName)
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_json_extract_agg", Seq("F1", "P4", "A4"),
      (s, d) => Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast(LongType))
        .groupBy(col("k"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
        .orderBy("k"),
      Some("""SELECT CAST(props->>'$.k' AS BIGINT) AS k, count(*) AS n,
                     CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
              FROM events GROUP BY 1 ORDER BY k"""),
      "JSON path extraction + cast + aggregate (reference: querying-data.rst:62-77 `->>`/::numeric)"),

    QueryDef(
      "q_hourly_rollup", Seq("F7", "A1", "A2"),
      (s, d) => Tables.events(s, d)
        .withColumn("hour", date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd HH:00"))
        .groupBy(col("hour"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("hour", "event_type"),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
                     event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
              FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""),
      "Time bucketing + distinct users (monitoring rollup over the work stream)"),

    QueryDef(
      "q_compile_lastwins", Seq("A6", "W2"),
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").desc, col("event_id").desc)
        Tables.events(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(
            col("user_id"),
            col("event_type").as("last_event_type"),
            col("value").as("last_value"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, last_event_type, last_value FROM (
                SELECT user_id, event_type AS last_event_type, value AS last_value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM events) WHERE rn = 1
              ORDER BY user_id"""),
      "Last-write-wins per key in arrival order — the relational core of compile-releases (compiler.py:56-74)"),

    QueryDef(
      "q_sessionize", Seq("W1", "T9"),
      (s, d) => {
        val wOrd = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
        val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .withColumn("prev_us", lag(col("ts_us"), 1).over(wOrd))
          .withColumn(
            "is_new",
            when(col("prev_us").isNull || col("ts_us") - col("prev_us") > SessionGapUs, 1L)
              .otherwise(0L))
          .withColumn("session_id", sum(col("is_new")).over(wRun))
          .groupBy(col("user_id"))
          .agg(
            max(col("session_id")).as("n_sessions"),
            count(lit(1)).as("n_events"))
          .orderBy("user_id")
      },
      // CAST .. AS BIGINT: DuckDB's SUM(int) is HUGEINT — same values, but
      // the driver's hasher distinguishes int128 from int64 (r1 mismatch)
      Some(s"""SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
                      count(*) AS n_events FROM (
                 SELECT user_id,
                        SUM(CASE WHEN prev_us IS NULL OR ts_us - prev_us > $SessionGapUs
                                 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
                 FROM (
                   SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                          lag(epoch_us(ts), 1) OVER (PARTITION BY user_id
                                                     ORDER BY epoch_us(ts), event_id) AS prev_us
                   FROM events))
               GROUP BY user_id ORDER BY user_id"""),
      "Gap-based sessionization (lag + running flag-sum) — streaming-state pattern in batch form"),

    QueryDef(
      "q_asof_join", Seq("W1", "J1", "P2"),
      (s, d) => asofWindowOf(Tables.events(s, d)).orderBy("purchase_id"),
      Some("""WITH p AS (
                SELECT event_id, user_id, epoch_us(ts) AS tu FROM events
                WHERE event_type = 'purchase'),
              c AS (
                SELECT user_id, epoch_us(ts) AS ctu,
                       max(event_id) AS click_event_id
                FROM events WHERE event_type = 'click'
                GROUP BY user_id, epoch_us(ts))
              SELECT p.event_id AS purchase_id, p.user_id,
                     p.tu AS purchase_ts_us,
                     c.click_event_id,
                     p.tu - c.ctu AS gap_us
              FROM p ASOF LEFT JOIN c
                ON p.user_id = c.user_id AND p.tu > c.ctu
              ORDER BY purchase_id"""),
      "As-of join (purchase -> most recent strictly-earlier click per user) by " +
        "composition: one role-filtered scan, one user-keyed shuffle, an " +
        "ignoreNulls last() over a (unbounded, -1) rows frame — never the " +
        "quadratic inequality join; oracle = DuckDB's native ASOF LEFT JOIN"),

    QueryDef(
      "q_range_join", Seq("W1", "J1", "A1"),
      (s, d) => {
        // RANGE join by composition, same playbook as q_asof_join: how
        // many same-user clicks landed in the 24 hours before each
        // error? (the band is sized to the stream's per-user cadence —
        // ~one event per 11 h — so the readout is non-degenerate) The join spelling (events e JOIN events c ON same user
        // AND c.ts IN (e.ts - 5min, e.ts)) is a banded inequality join —
        // nested-loop in Catalyst, and O(per-user²) even when bucketized.
        // The window spelling shuffles ONCE on user_id and counts clicks
        // in a RANGE frame over the microsecond ordering — the frame
        // bound IS the band predicate ((-24h, -1µs] relative to the
        // current row), evaluated in sorted order per user, O(per-user
        // events) with a sliding two-pointer inside the Spark window
        // operator. The conditional count skips the non-click rows that
        // ride the same frame. Range frames need ONE numeric ordering
        // key; ts_us is already the house integer-µs column. Output
        // keeps only the error rows; errors with a quiet preceding
        // window report 0 (not dropped) — the readout is exactly the
        // "recent activity before failure" ops query.
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"))
          .rangeBetween(-86400000000L, -1L)
        Tables.events(s, d)
          .filter(col("event_type").isin("error", "click"))
          .select(col("event_id"), col("user_id"), col("ts_us"), col("event_type"))
          .withColumn("clicks_24h",
            sum(when(col("event_type") === "click", 1L).otherwise(0L)).over(w))
          .filter(col("event_type") === "error")
          .select(
            col("event_id").as("error_id"),
            col("user_id"),
            col("ts_us").as("error_ts_us"),
            coalesce(col("clicks_24h"), lit(0L)).as("clicks_24h"))
          .orderBy("error_id")
      },
      Some("""WITH f AS (
                SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
                FROM events WHERE event_type IN ('error', 'click'))
              SELECT event_id AS error_id, user_id, ts_us AS error_ts_us,
                     CAST(coalesce(sum(CASE WHEN event_type = 'click'
                                            THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts_us
                             RANGE BETWEEN 86400000000 PRECEDING
                                   AND 1 PRECEDING), 0) AS BIGINT) AS clicks_24h
              FROM f QUALIFY event_type = 'error'
              ORDER BY error_id"""),
      "Banded range join (clicks within 24 hours before each error, per user) by " +
        "composition: one user-keyed shuffle + a conditional count over a RANGE " +
        "frame on integer microseconds — the frame bound is the band predicate, " +
        "never a nested-loop inequality join"),

    QueryDef(
      "q_dedup_store", Seq("S8", "F5", "A2"),
      (s, d) => Tables.events(s, d)
        .groupBy(md5(col("props")).as("hash_md5"))
        .agg(
          count(lit(1)).as("n_refs"),
          min(col("event_id")).as("first_id"))
        .orderBy("hash_md5"),
      Some("""SELECT md5(props) AS hash_md5, count(*) AS n_refs, min(event_id) AS first_id
              FROM events GROUP BY 1 ORDER BY hash_md5"""),
      "Content-addressed dedup store: md5(blob) get-or-create (reference: util.py:93-110)"),

    QueryDef(
      "q_funnel", Seq("W1", "A4", "F7"),
      (s, d) => {
        // ORDERED-SEQUENCE FUNNEL (signup → click → purchase): how many
        // users complete each stage IN ORDER — the sequence-matching
        // readout sessionization doesn't give (a user with a purchase
        // BEFORE their first signup must not count as converted). The
        // dependent-stage recurrence t_{k+1} = min event of stage k+1
        // with ts > t_k is spelled as CHAINED unordered per-user window
        // minimums: all three ride ONE user_id exchange (same
        // partitioning, no ordering needed — min over the whole
        // partition), then a per-user collapse and a 3-row stage
        // readout. Strictness lives at the house integer-µs resolution.
        // At 100 TB: one shuffle of (user, µs, type), per-user cost
        // linear in that user's events — the sessionizer's skew
        // contract. Conversion is exact integer ppm (floor division),
        // stage 1 = 1000000 by definition. A/B vs the per-stage
        // self-join spelling (AbFunnelBench, interleaved min-of-5,
        // output-parity-checked): 0.45 vs 0.42 s at sf0.1 — a tie at
        // toy scale — but 0.63 vs 1.11 s on the 10× replica: the join
        // leg re-scans the event table once PER STAGE (k corpus scans
        // + k join/agg exchange pairs vs this spelling's one scan, one
        // exchange), so the gap grows with both data and funnel depth.
        funnelOf(Tables.events(s, d))
      },
      Some("""WITH e AS (
                SELECT user_id, epoch_us(ts) AS tu, event_type FROM events),
              w1 AS (
                SELECT *, min(CASE WHEN event_type = 'signup' THEN tu END)
                  OVER (PARTITION BY user_id) AS t1 FROM e),
              w2 AS (
                SELECT *, min(CASE WHEN event_type = 'click' AND tu > t1 THEN tu END)
                  OVER (PARTITION BY user_id) AS t2 FROM w1),
              w3 AS (
                SELECT *, min(CASE WHEN event_type = 'purchase' AND tu > t2 THEN tu END)
                  OVER (PARTITION BY user_id) AS t3 FROM w2),
              u AS (
                SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
                FROM w3 GROUP BY user_id),
              tot AS (
                SELECT count(t1) AS n1, count(t2) AS n2, count(t3) AS n3 FROM u)
              SELECT * FROM (
                SELECT CAST(1 AS BIGINT) AS stage, 'signup' AS event_type,
                       n1 AS n_users,
                       CASE WHEN n1 = 0 THEN 0 ELSE n1 * 1000000 // n1 END AS conv_ppm
                FROM tot
                UNION ALL
                SELECT CAST(2 AS BIGINT), 'click', n2,
                       CASE WHEN n1 = 0 THEN 0 ELSE n2 * 1000000 // n1 END
                FROM tot
                UNION ALL
                SELECT CAST(3 AS BIGINT), 'purchase', n3,
                       CASE WHEN n1 = 0 THEN 0 ELSE n3 * 1000000 // n1 END
                FROM tot)
              ORDER BY stage"""),
      "Ordered-sequence funnel (signup → click → purchase): per-stage user counts " +
        "with the in-order constraint t_{k+1} > t_k at integer-µs resolution — three " +
        "chained unordered per-user window minimums riding one user_id exchange, " +
        "exact integer ppm conversion"),

    QueryDef(
      "q_funnel_windowed", Seq("W1", "A4", "F7"),
      (s, d) => {
        // the WINDOWED funnel contract real product analytics use
        // (VERDICT r17 #3): stage k+1 converts only within MaxGapUs of
        // t_k — a purchase weeks after the click is organic, not funnel
        // conversion. The bound is one more conjunct in the chained-min
        // `when`, so the plan (one user_id exchange riding every stage)
        // is q_funnel's exactly; the 36-hour gap is sized to the
        // stream's per-user cadence (~1 event / 11 h) so the readout is
        // non-degenerate — some users convert in-window, some only out.
        funnelOf(Tables.events(s, d), maxGapUs = Some(FunnelGapUs))
      },
      Some(s"""WITH e AS (
                SELECT user_id, epoch_us(ts) AS tu, event_type FROM events),
              w1 AS (
                SELECT *, min(CASE WHEN event_type = 'signup' THEN tu END)
                  OVER (PARTITION BY user_id) AS t1 FROM e),
              w2 AS (
                SELECT *, min(CASE WHEN event_type = 'click' AND tu > t1
                                    AND tu <= t1 + $FunnelGapUs THEN tu END)
                  OVER (PARTITION BY user_id) AS t2 FROM w1),
              w3 AS (
                SELECT *, min(CASE WHEN event_type = 'purchase' AND tu > t2
                                    AND tu <= t2 + $FunnelGapUs THEN tu END)
                  OVER (PARTITION BY user_id) AS t3 FROM w2),
              u AS (
                SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
                FROM w3 GROUP BY user_id),
              tot AS (
                SELECT count(t1) AS n1, count(t2) AS n2, count(t3) AS n3 FROM u)
              SELECT * FROM (
                SELECT CAST(1 AS BIGINT) AS stage, 'signup' AS event_type,
                       n1 AS n_users,
                       CASE WHEN n1 = 0 THEN 0 ELSE n1 * 1000000 // n1 END AS conv_ppm
                FROM tot
                UNION ALL
                SELECT CAST(2 AS BIGINT), 'click', n2,
                       CASE WHEN n1 = 0 THEN 0 ELSE n2 * 1000000 // n1 END
                FROM tot
                UNION ALL
                SELECT CAST(3 AS BIGINT), 'purchase', n3,
                       CASE WHEN n1 = 0 THEN 0 ELSE n3 * 1000000 // n1 END
                FROM tot)
              ORDER BY stage"""),
      "Windowed ordered-sequence funnel: stage k+1 counts only within a 36-hour " +
        "max gap of t_k (inclusive boundary) — the same one-exchange chained-min " +
        "plan as q_funnel with the bound as one more conjunct; conversion drops " +
        "where the unwindowed funnel still counts"),

    QueryDef(
      "q_retention_weekly", Seq("A4", "A1", "F7"),
      (s, d) => {
        // WEEKLY cohort retention (VERDICT r17 #3): the granularity
        // product dashboards actually chart — users keyed by
        // first-activity ISO week (Monday-start in both engines),
        // counted once per distinct return week, whole-week offsets
        // (Monday-to-Monday day differences are exactly divisible by
        // 7 — integer div, no float). Same single-exchange shape as
        // q_retention with a weeks²-bounded rollup.
        retentionOf(Tables.events(s, d), weekly = true)
      },
      Some("""WITH e AS (
                SELECT user_id,
                       CAST(date_trunc('week', ts) AS DATE) AS wk
                FROM events),
              c AS (
                SELECT *, min(wk) OVER (PARTITION BY user_id) AS cohort FROM e),
              a AS (SELECT DISTINCT user_id, cohort, wk FROM c)
              SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
                     CAST(date_diff('day', cohort, wk) // 7 AS BIGINT)
                       AS week_offset,
                     count(*) AS n_users
              FROM a GROUP BY 1, 2 ORDER BY cohort_week, week_offset"""),
      "Weekly cohort retention triangle: first-activity ISO week cohorts, distinct " +
        "return weeks, whole-week offsets — one user_id window exchange + a " +
        "weeks²-bounded rollup"),

    QueryDef(
      "q_retention", Seq("A4", "A1", "F7"),
      (s, d) => {
        // COHORT RETENTION: users grouped by their FIRST-ACTIVITY day
        // (the cohort), counted again on each later day they return —
        // day-offset triangle, the standard product-analytics readout.
        // cohort = min event day per user via an unordered per-user
        // window minimum (one user_id exchange), activity days dedup to
        // (user, day), and the (cohort, offset) rollup is
        // days²-bounded output. Day boundaries in UTC (session TZ).
        retentionOf(Tables.events(s, d))
      },
      Some("""WITH e AS (
                SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
                FROM events),
              c AS (
                SELECT *, min(day) OVER (PARTITION BY user_id) AS cohort FROM e),
              a AS (SELECT DISTINCT user_id, cohort, day FROM c)
              SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
                     CAST(date_diff('day', cohort, day) AS BIGINT) AS day_offset,
                     count(*) AS n_users
              FROM a GROUP BY 1, 2 ORDER BY cohort_day, day_offset"""),
      "Cohort retention triangle: users keyed by first-activity day, counted per " +
        "return-day offset — one user_id window exchange + a days²-bounded rollup")
  )
}

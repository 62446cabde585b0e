package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Cleanup.PersistTrackedOps
import graft.core.{Scratch, Tables}

/** Time-series operators over `events` — the join/window families Spark
  * gives for free that the reference's semantics imply but never exercise
  * (SURVEY §2.4 "other join families", §2.6). Both are composed from
  * windows rather than custom plans: an as-of join is `last(...ignoreNulls)`
  * over an ordered frame; sessionization is a lag-gap cumulative sum. Each
  * is one shuffle on (user_id) — the natural partitioning key at scale.
  *
  * Ordering parity trap: `ts` is ns in the source; both engines order by
  * the µs-truncated value plus event_id so ties are broken identically.
  */
object EventQueries {

  /** Portable-HLL constants (q60), shared by the Spark plan and the
    * generated oracle SQL. m = 2^12 registers; the 32-bit md5 hash
    * splits into a 12-bit register index and a 20-bit rank field; the
    * bias constant is alpha_m·m² with alpha_m = 0.7213/(1 + 1.079/m)
    * (Flajolet et al. 2007) — computed ONCE here so both engines divide
    * by the identical double. */
  private val HllM = 4096
  private val HllRankW = 20
  private val HllC: Double = 0.7213 / (1.0 + 1.079 / HllM) * HllM * HllM

  val specs: Seq[QuerySpec] = Seq(

    // q36 — as-of join: for each purchase, the most recent prior signup
    // of the same user (NULL if none).
    QuerySpec("q36_asof_signup",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val prior = last(
          when(col("event_type") === "signup", col("ts")), ignoreNulls = true).over(w)
        ev.withColumn("prev_signup_ts", prior)
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            col("ts").cast("timestamp_ntz").as("purchase_ts"),
            col("prev_signup_ts").cast("timestamp_ntz").as("prev_signup_ts"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, purchase_ts, prev_signup_ts FROM (
             |  SELECT event_id, user_id, event_type,
             |    CAST(ts AS TIMESTAMP) AS purchase_ts,
             |    last_value(CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
             |      OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_signup_ts
             |  FROM events)
             |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin)),

    // q37 — gap-based sessionization (30 min inactivity closes a session):
    // lag diff → new-session flag → running sum = session id → per-session
    // rollup. The batch analog of Structured Streaming session windows.
    QuerySpec("q37_sessionize",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val gapUs = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)
        val newSess = when(gapUs.isNull || gapUs > 30L * 60 * 1000000, 1).otherwise(0)
        ev.withColumn("sess_id",
            sum(newSess).over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "sess_id")
          .agg(count(lit(1)).as("n_events"),
            min(col("ts")).cast("timestamp_ntz").as("sess_start"),
            max(col("ts")).cast("timestamp_ntz").as("sess_end"))
          .orderBy("user_id", "sess_id")
      },
      Some("""SELECT user_id, sess_id, count(*) AS n_events,
             | min(CAST(ts AS TIMESTAMP)) AS sess_start,
             | max(CAST(ts AS TIMESTAMP)) AS sess_end
             |FROM (
             |  SELECT user_id, ts, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
             |  FROM (
             |    SELECT user_id, ts, event_id,
             |      CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
             |             - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
             |             > 30 * 60 * 1000000 THEN 1
             |           WHEN lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL THEN 1
             |           ELSE 0 END AS new_sess
             |    FROM events))
             |GROUP BY user_id, sess_id ORDER BY user_id, sess_id""".stripMargin)),

    // q52 — range (interval) join: for each error event, how many other
    // events of the same user fall within ±5 minutes. Equi key (user_id)
    // + range predicate: Spark plans the equi part as a hash/sort-merge
    // join and evaluates the band as a post-condition — the standard
    // interval-join shape; at scale the user_id shuffle bounds each
    // comparison set to one user's events.
    QuerySpec("q52_range_join",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val err = ev.filter(col("event_type") === "error")
          .select(col("event_id"), col("user_id"), col("ts"))
        val oth = ev.select(col("user_id").as("uid2"),
          col("ts").as("ts2"), col("event_id").as("eid2"))
        err.join(oth,
            col("user_id") === col("uid2") && col("eid2") =!= col("event_id") &&
              col("ts2").between(
                col("ts") - expr("INTERVAL 5 MINUTES"),
                col("ts") + expr("INTERVAL 5 MINUTES")))
          .groupBy("event_id").agg(count(lit(1)).as("n_neighbors"))
          .orderBy("event_id")
      },
      Some("""SELECT a.event_id, count(*) AS n_neighbors
             |FROM events a JOIN events b
             |  ON a.user_id = b.user_id AND b.event_id <> a.event_id
             |  AND CAST(b.ts AS TIMESTAMP) BETWEEN CAST(a.ts AS TIMESTAMP) - INTERVAL 5 MINUTE
             |                                  AND CAST(a.ts AS TIMESTAMP) + INTERVAL 5 MINUTE
             |WHERE a.event_type = 'error'
             |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin)),

    // q60 — HLL sketch distinct counting (SURVEY §2.5 footnote): at 100 TB
    // exact countDistinct shuffles every distinct value; HLL is one pass
    // with fixed-size mergeable register state — the only shape that
    // survives a billion-key cardinality estimate. This is a
    // from-first-principles HyperLogLog over the PORTABLE md5 hash
    // (m=4096 registers: register = h mod m, rank = leading zeros of the
    // remaining 20 bits + 1 via length(bin(w)), max-rank per register,
    // harmonic-mean estimate + linear-counting small-range correction).
    // Every step is integer/dyadic-exact except the final ln(), so the
    // SAME registers and estimate fall out of the generated DuckDB
    // oracle (the LSH-seed playbook — VERDICT r8 #3 closes the last
    // rows-only gates). The register max-agg IS the HLL merge: map-side
    // partial maxes combine associatively at any partitioning. Spark's
    // native approx_count_distinct (HLL++) stays the built-in
    // alternative; accuracy vs exact is still asserted in NewOpsSpec.
    QuerySpec("q60_approx_distinct",
      (s, dir) => {
        val w = expr(s"h DIV $HllM")
        Tables.load(s, dir, "events")
          .select(col("event_type"),
            graft.functions.Text.hash32(col("user_id").cast("string")).as("h"))
          .select(col("event_type"), (col("h") % HllM).as("j"),
            when(w === 0, lit(HllRankW + 1))
              .otherwise(lit(HllRankW + 1) - length(bin(w))).as("rho"))
          .groupBy(col("event_type"), col("j"))
          .agg(max(col("rho")).as("mj"), count(lit(1)).as("cj"))
          .groupBy("event_type")
          .agg(
            // 2^-mj terms are single-mantissa-bit dyadics; their sum is
            // EXACT (≤ 2^12 terms spanning 2^0..2^-21 fits 53 bits) —
            // order-independent, so sum(double) is safe here
            sum(expr("CAST(1 AS DOUBLE) / CAST(shiftleft(CAST(1 AS BIGINT), mj) AS DOUBLE)"))
              .as("sp"),
            count(lit(1)).as("filled"),
            sum(col("cj")).as("n_events"))
          .select(col("event_type"),
            round(
              when(lit(HllC) / (col("sp") + (lit(HllM) - col("filled")).cast("double"))
                  <= lit(2.5 * HllM) && col("filled") < HllM,
                lit(HllM.toDouble) * log(lit(HllM.toDouble) /
                  (lit(HllM) - col("filled")).cast("double")))
                .otherwise(lit(HllC) /
                  (col("sp") + (lit(HllM) - col("filled")).cast("double"))),
              4).as("approx_users"),
            col("n_events"))
          .orderBy("event_type")
      },
      Some(s"""WITH h AS (SELECT event_type,
              |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS h
              |  FROM events),
              |r AS (SELECT event_type, h % $HllM AS j,
              |    CASE WHEN h // $HllM = 0 THEN ${HllRankW + 1}
              |         ELSE ${HllRankW + 1} - length(bin(h // $HllM)) END AS rho
              |  FROM h),
              |g AS (SELECT event_type, j, max(rho) AS mj, count(*) AS cj
              |  FROM r GROUP BY 1, 2),
              |s AS (SELECT event_type,
              |    SUM(CAST(1 AS DOUBLE) / CAST((CAST(1 AS BIGINT) << mj) AS DOUBLE)) AS sp,
              |    count(*) AS filled, CAST(SUM(cj) AS BIGINT) AS n_events
              |  FROM g GROUP BY 1)
              |SELECT event_type,
              |  round(CASE WHEN CAST($HllC AS DOUBLE) / (sp + CAST($HllM - filled AS DOUBLE))
              |          <= CAST(${2.5 * HllM} AS DOUBLE) AND filled < $HllM
              |    THEN CAST($HllM AS DOUBLE)
              |      * ln(CAST($HllM AS DOUBLE) / CAST($HllM - filled AS DOUBLE))
              |    ELSE CAST($HllC AS DOUBLE) / (sp + CAST($HllM - filled AS DOUBLE))
              |    END, 4) AS approx_users,
              |  n_events
              |FROM s ORDER BY event_type""".stripMargin)),

    // q102 — funnel analysis (view → click → purchase): a user completes
    // a stage only if its first event falls strictly after the previous
    // stage's first event. One shuffle to user grain with three
    // conditional-min aggregates (partial+final mergeable), then the
    // funnel reduces 125 user rows to one summary row — the canonical
    // product-analytics conversion query at any event volume.
    QuerySpec("q102_funnel",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        def firstTs(t: String) =
          min(when(col("event_type") === t, unix_micros(col("ts"))))
        val perUser = ev.groupBy("user_id").agg(
          firstTs("view").as("v"), firstTs("click").as("c"),
          firstTs("purchase").as("p"))
        val s1 = col("v").isNotNull
        val s2 = s1 && col("c").isNotNull && col("c") > col("v")
        val s3 = s2 && col("p").isNotNull && col("p") > col("c")
        perUser.agg(
            sum(when(s1, 1L).otherwise(0L)).as("n_view"),
            sum(when(s2, 1L).otherwise(0L)).as("n_click"),
            sum(when(s3, 1L).otherwise(0L)).as("n_purchase"))
          .select(col("n_view"), col("n_click"), col("n_purchase"),
            round(col("n_click") / col("n_view"), 4).as("view_to_click"),
            round(col("n_purchase") / col("n_click"), 4).as("click_to_purchase"))
      },
      Some("""WITH u AS (SELECT user_id,
             |    min(CASE WHEN event_type = 'view' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS v,
             |    min(CASE WHEN event_type = 'click' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS c,
             |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS p
             |  FROM events GROUP BY 1),
             |f AS (SELECT
             |    CAST(SUM(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
             |    CAST(SUM(CASE WHEN v IS NOT NULL AND c IS NOT NULL AND c > v
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
             |    CAST(SUM(CASE WHEN v IS NOT NULL AND c IS NOT NULL AND c > v
             |      AND p IS NOT NULL AND p > c THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase
             |  FROM u)
             |SELECT n_view, n_click, n_purchase,
             |  round(n_click / n_view, 4) AS view_to_click,
             |  round(n_purchase / n_click, 4) AS click_to_purchase
             |FROM f""".stripMargin)),

    // q103 — cohort retention: users grouped by the ISO week of their
    // first activity (cohort), counted in each subsequent active week.
    // Grain collapses user-week first (one shuffle on user_id), the
    // cohort week is a per-user window min over that already-collapsed
    // set, so no second pass over raw events; week offsets are exact µs
    // arithmetic (week boundaries are whole multiples).
    QuerySpec("q103_retention",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val uw = ev.select(col("user_id"),
            date_trunc("week", col("ts")).as("week")).distinct()
        val cohort = min(col("week"))
          .over(Window.partitionBy("user_id"))
        uw.withColumn("cohort", cohort)
          .withColumn("week_offset",
            ((unix_micros(col("week")) - unix_micros(col("cohort"))) /
              lit(604800000000L)).cast("long"))
          .groupBy(col("cohort").cast("timestamp_ntz").as("cohort_week"),
            col("week_offset"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("cohort_week", "week_offset")
      },
      Some("""WITH uw AS (SELECT DISTINCT user_id,
             |    date_trunc('week', CAST(ts AS TIMESTAMP)) AS week
             |  FROM events),
             |c AS (SELECT user_id, week,
             |    min(week) OVER (PARTITION BY user_id) AS cohort
             |  FROM uw)
             |SELECT CAST(cohort AS TIMESTAMP) AS cohort_week,
             |  CAST((epoch_us(week) - epoch_us(cohort)) / 604800000000 AS BIGINT)
             |    AS week_offset,
             |  count(*) AS n_users
             |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // q184 — per-entity sequence assembly (the chat/journey builder):
    // collapse each user's event log into ONE ordered interaction
    // string — the op that turns raw logs into conversation-style
    // training sequences. Order-sensitive aggregation is the
    // portability trap here: collect_list has NO deterministic order
    // under parallel merge, so the sort lives in the VALUE —
    // array_sort over (ts, event_id) structs (event_id breaks ts
    // ties), then project the payload. One shuffle at user grain;
    // per-user state is bounded by that user's activity, not the
    // corpus (the same grain a sessionized chat assembly has at
    // 100 TB — pair with q37's session split when a user's full
    // history is unbounded).
    QuerySpec("q184_journey_assembly",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        ev.groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            concat_ws("|", transform(
              array_sort(collect_list(struct(col("ts"), col("event_id"),
                col("event_type")))),
              x => x.getField("event_type"))).as("journey"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_events,
             |  string_agg(event_type, '|' ORDER BY ts, event_id, event_type)
             |    AS journey
             |FROM events
             |GROUP BY user_id
             |ORDER BY user_id""".stripMargin)),

    // q193 — fractional (linear) attribution: each purchase splits one
    // unit of credit equally across the user's view/click touches in
    // the preceding 7 days. The touch counts come from RANGE-framed
    // conditional window counts over the user's event line — one
    // user-keyed shuffle, no purchase×touch self-join (the naive form
    // is quadratic in per-user activity). Frames order on epoch
    // MICROseconds in both engines so sub-second boundaries can't
    // diverge; the frame [t−7d, t) excludes the purchase instant
    // itself. Per-purchase credits are single IEEE divisions; their
    // corpus sums are decimal-stabilized (merge-order-independent).
    QuerySpec("q193_attribution",
      (s, dir) => {
        val week = 7L * 24 * 3600 * 1000000
        val w = Window.partitionBy("user_id").orderBy("us")
          .rangeBetween(-week, -1L)
        val scored = Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
          .withColumn("cv",
            count(when(col("event_type") === "view", 1)).over(w))
          .withColumn("cc",
            count(when(col("event_type") === "click", 1)).over(w))
          .filter(col("event_type") === "purchase")
        val n = col("cv") + col("cc")
        scored.agg(
          sum(when(n > 0, 1L).otherwise(0L)).as("n_attributed"),
          sum(when(n === 0, 1L).otherwise(0L)).as("n_unattributed"),
          round(sum(when(n > 0, col("cv").cast("double") / n)
            .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
            .cast("double"), 4).as("view_credit"),
          round(sum(when(n > 0, col("cc").cast("double") / n)
            .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
            .cast("double"), 4).as("click_credit"))
      },
      Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
             |  FROM events),
             |s AS (SELECT event_type,
             |    count(*) FILTER (event_type = 'view') OVER w AS cv,
             |    count(*) FILTER (event_type = 'click') OVER w AS cc
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us
             |    RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)),
             |p AS (SELECT cv, cc FROM s WHERE event_type = 'purchase')
             |SELECT
             |  CAST(SUM(CASE WHEN cv + cc > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_attributed,
             |  CAST(SUM(CASE WHEN cv + cc = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_unattributed,
             |  round(CAST(SUM(CAST(CASE WHEN cv + cc > 0
             |    THEN CAST(cv AS DOUBLE) / (cv + cc) END AS DECIMAL(18,9)))
             |    AS DOUBLE), 4) AS view_credit,
             |  round(CAST(SUM(CAST(CASE WHEN cv + cc > 0
             |    THEN CAST(cc AS DOUBLE) / (cv + cc) END AS DECIMAL(18,9)))
             |    AS DOUBLE), 4) AS click_credit
             |FROM p""".stripMargin)),

    // q217 — the NATIVE as-of join operator (plans.AsOfJoinPlan →
    // AsOfJoinStrategy → AsOfJoinExec): every purchase matched to the
    // user's last signup at-or-before it, as a custom Catalyst physical
    // operator instead of q36's union-window composition. The plan is
    // two clustered exchanges + per-partition sorts + an O(1)-state
    // single-pass merge — the shape a database would pick, and the one
    // that scales past the window form (no union-wide sort buffer; the
    // right side streams). Oracle: DuckDB's own ASOF LEFT JOIN — a
    // rare chance to check a custom operator against another engine's
    // NATIVE implementation of the same semantics, not a SQL
    // restatement. The signup side is deduped to (user, ts) grain with
    // a max-event-id survivor on BOTH sides, because equal-time ties
    // are resolver-defined in each engine; after dedup the match is
    // unique and the engines must agree exactly.
    QuerySpec("q217_asof_native",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts").as("p_ts"))
        val signups = ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id").as("s_user"), col("ts").as("s_ts"))
          .agg(max(col("event_id")).as("s_event"))
        graft.plans.AsOf.joinBackward(purchases, signups,
            Seq("user_id"), Seq("s_user"), "p_ts", "s_ts",
            rightTie = Seq("s_event"))
          .select(col("event_id"), col("user_id"),
            col("p_ts").cast("timestamp_ntz").as("purchase_ts"),
            col("s_ts").cast("timestamp_ntz").as("signup_ts"),
            col("s_event").as("signup_event"))
          .orderBy("event_id")
      },
      Some("""WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts
             |  FROM events WHERE event_type = 'purchase'),
             |s AS (SELECT user_id AS s_user, CAST(ts AS TIMESTAMP) AS s_ts,
             |    max(event_id) AS s_event
             |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
             |SELECT p.event_id, p.user_id, p.p_ts AS purchase_ts,
             |  s.s_ts AS signup_ts, s.s_event AS signup_event
             |FROM p ASOF LEFT JOIN s
             |  ON p.user_id = s.s_user AND s.s_ts <= p.p_ts
             |ORDER BY p.event_id""".stripMargin)),

    // q220 — the FORWARD direction of the native as-of operator:
    // time-to-conversion — each signup matched to the user's FIRST
    // purchase at-or-after it, plus the latency in seconds. Same
    // exchange/sort plan as q217; the merge keeps ZERO remembered state
    // (the right head is the answer once the lagging rows are
    // discarded). The purchase side is deduped to (user, ts) grain with
    // a MIN-event-id survivor on both sides — forward ties take the
    // FIRST row in tiebreak order, so min is the resolver both engines
    // agree on. Oracle: DuckDB ASOF LEFT JOIN with the >= inequality —
    // again engine-native vs engine-native.
    QuerySpec("q220_asof_forward",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val signups = ev.filter(col("event_type") === "signup")
          .select(col("event_id"), col("user_id"), col("ts").as("s_ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
          .agg(min(col("event_id")).as("p_event"))
        graft.plans.AsOf.joinForward(signups, purchases,
            Seq("user_id"), Seq("p_user"), "s_ts", "p_ts",
            rightTie = Seq("p_event"))
          .select(col("event_id"), col("user_id"),
            col("s_ts").cast("timestamp_ntz").as("signup_ts"),
            col("p_ts").cast("timestamp_ntz").as("purchase_ts"),
            col("p_event").as("purchase_event"),
            expr("(unix_micros(p_ts) - unix_micros(s_ts)) DIV 1000000")
              .as("latency_s"))
          .orderBy("event_id")
      },
      Some("""WITH s AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS s_ts
             |  FROM events WHERE event_type = 'signup'),
             |p AS (SELECT user_id AS p_user, CAST(ts AS TIMESTAMP) AS p_ts,
             |    min(event_id) AS p_event
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
             |SELECT s.event_id, s.user_id, s.s_ts AS signup_ts,
             |  p.p_ts AS purchase_ts, p.p_event AS purchase_event,
             |  (epoch_us(p.p_ts) - epoch_us(s.s_ts)) // 1000000 AS latency_s
             |FROM s ASOF LEFT JOIN p
             |  ON s.user_id = p.p_user AND p.p_ts >= s.s_ts
             |ORDER BY s.event_id""".stripMargin)),

    // q256 — time-to-convert distribution: how long after the latest
    // preceding click does a purchase land — the funnel-latency readout
    // (q102 counts conversions; this times them). Matching runs through
    // the NATIVE as-of operator (plans.AsOf.joinBackward — clicks
    // pre-deduped to (user, ts) grain since only the timestamp feeds
    // the lag); the p50/p90 are EXACT selections via the q221 crossing
    // rule over a lag-grain distributed cumsum (ops.PrefixSum), so no
    // global window and no interpolation — integer seconds end to end.
    QuerySpec("q256_time_to_convert",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts").as("p_ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
          .distinct()
        val lags = graft.plans.AsOf.joinBackward(purchases, clicks,
            Seq("user_id"), Seq("c_user"), "p_ts", "c_ts")
          .filter(col("c_ts").isNotNull)
          .select(expr("(unix_micros(p_ts) - unix_micros(c_ts)) DIV 1000000")
            .as("lag_s"))
        val g = lags.groupBy("lag_s").agg(count(lit(1)).as("cnt"))
        val c = graft.ops.PrefixSum.cumsum(g, "lag_s", "cnt", "cum")
        val tot = c.agg(max(col("cum")).as("n"))
        val t50 = expr("(n + 1) DIV 2")
        val t90 = expr("(9 * n + 9) DIV 10")
        c.crossJoin(broadcast(tot))
          .groupBy("n")
          .agg(
            min(when(col("cum") >= t50 && col("cum") - col("cnt") < t50,
              col("lag_s"))).as("p50_lag_s"),
            min(when(col("cum") >= t90 && col("cum") - col("cnt") < t90,
              col("lag_s"))).as("p90_lag_s"),
            max(col("lag_s")).as("max_lag_s"))
          .select(col("n").as("n_pairs"), col("p50_lag_s"), col("p90_lag_s"),
            col("max_lag_s"))
      },
      Some("""WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
             |  FROM events WHERE event_type = 'click'),
             |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
             |  FROM events WHERE event_type = 'purchase'),
             |j AS (SELECT p.user_id, p.event_id, c.ts AS cts, p.ts AS pts,
             |    row_number() OVER (PARTITION BY p.user_id, p.event_id
             |      ORDER BY c.ts DESC, c.event_id DESC) AS rn
             |  FROM p JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts),
             |lag AS (SELECT CAST(date_diff('microseconds', cts, pts) // 1000000 AS BIGINT) AS lag_s
             |  FROM j WHERE rn = 1),
             |g AS (SELECT lag_s, CAST(count(*) AS BIGINT) AS cnt FROM lag GROUP BY lag_s),
             |cm AS (SELECT lag_s, cnt,
             |    SUM(cnt) OVER (ORDER BY lag_s ROWS UNBOUNDED PRECEDING) AS cum FROM g),
             |t AS (SELECT CAST(max(cum) AS BIGINT) AS n FROM cm)
             |SELECT n AS n_pairs,
             |  CAST(min(CASE WHEN cum >= (n + 1) // 2 AND cum - cnt < (n + 1) // 2 THEN lag_s END) AS BIGINT) AS p50_lag_s,
             |  CAST(min(CASE WHEN cum >= (9 * n + 9) // 10 AND cum - cnt < (9 * n + 9) // 10 THEN lag_s END) AS BIGINT) AS p90_lag_s,
             |  CAST(max(lag_s) AS BIGINT) AS max_lag_s
             |FROM cm, t GROUP BY n""".stripMargin)),

    // q262 — AQE SKEW-JOIN under the gate: `ops.Skew.saltedJoin` proves
    // the MANUAL skew remedy (q50/q71); a real cluster reaches for the
    // DECLARATIVE one first — `spark.sql.adaptive.skewJoin` splits the
    // oversized shuffle partition at runtime and duplicates the
    // matching build-side rows, no query rewrite. Shape: a hot-entity
    // enrichment join — most events collapse onto profile 0 (the
    // celebrity-account pattern of any user/item fact table) and join
    // the documents table as the profile dimension. BOTH join children
    // must be plain ENSURE_REQUIREMENTS shuffles for the skew rule to
    // match (an aggregate between the sort and the shuffle defeats the
    // pattern — found empirically; the first draft self-joined
    // key-level stats and was silently never optimized). The session
    // CLONE (Tuned — shared conf never mutated) disables broadcast so
    // the join MUST be a shuffle SMJ, and floors the skew thresholds to
    // fixture scale (production keeps the 256 MB defaults; the
    // MECHANISM is identical). PlanSpec executes the query and pins the
    // final adaptive plan: SortMergeJoin(skew=true) with skewed
    // AQEShuffleReads. All-integer output — runtime re-plans must not
    // (and cannot) change results.
    QuerySpec("q262_aqe_skew_join",
      (s, dir) => {
        val ts = graft.core.Tuned.session(s,
          "spark.sql.adaptive.enabled" -> "true",
          "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
          "spark.sql.adaptive.skewJoin.enabled" -> "true",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100b",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "100b",
          "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1")
        // A skewed REDUCE partition splits along MAP-output boundaries,
        // so the fixture's single-row-group parquet (one mapper) is
        // unsplittable no matter how hot the key — the round-robin
        // repartition stands in for the thousands of scan tasks a real
        // fact table has for free (found empirically: with 1 mapper the
        // rule matches and silently does nothing).
        val k = Tables.load(ts, dir, "events")
          .select(col("event_type"), col("user_id"),
            when(col("user_id") % 10 < 7, 0L).otherwise(col("user_id"))
              .as("sk"))
          .repartition(8)
        val prof = Tables.load(ts, dir, "documents")
          .select(col("doc_id").as("sk"), length(col("text")).as("prof_len"))
        k.join(prof, "sk")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            sum(col("prof_len").cast("long")).as("prof_chars"))
          .orderBy("event_type")
      },
      Some("""WITH k AS (SELECT event_type, user_id,
             |    CASE WHEN user_id % 10 < 7 THEN 0 ELSE user_id END AS sk
             |  FROM events),
             |p AS (SELECT doc_id AS sk, strlen(text) AS prof_len FROM documents)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             |  CAST(SUM(prof_len) AS BIGINT) AS prof_chars
             |FROM k JOIN p USING (sk)
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // q294 — INTERVAL-OVERLAP join (ops.RangeJoin.intervalOverlap, the
    // interval×interval companion to q86's point-in-interval): user
    // activity SESSIONS (q37's 30-min-gap definition) joined to daily
    // maintenance windows (02:00–04:00) they overlap — the impact
    // analysis behind every incident/deploy review. A bare overlap
    // predicate plans as a nested-loop; the operator bins BOTH interval
    // sets (1-hour bins), equi-joins on the bin, and keeps each pair
    // only in the bin of max(lo, lo) — exactly-once matching with NO
    // dedup shuffle. Per-window impact: sessions, users, total overlap
    // seconds in exact integer micros.
    QuerySpec("q294_session_window_overlap",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val gapUs = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)
        val newSess = when(gapUs.isNull || gapUs > 30L * 60 * 1000000, 1)
          .otherwise(0)
        val sess = ev.withColumn("sess_id",
            sum(newSess).over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "sess_id")
          .agg(min(unix_micros(col("ts"))).as("s_lo"),
            max(unix_micros(col("ts"))).as("s_hi"))
        val win = ev.select(col("ts").cast("date").as("day")).distinct()
          .select(col("day"),
            unix_micros(col("day").cast("timestamp") +
              expr("INTERVAL 2 HOURS")).as("w_lo"),
            unix_micros(col("day").cast("timestamp") +
              expr("INTERVAL 4 HOURS")).as("w_hi"))
        graft.ops.RangeJoin.intervalOverlap(
            sess, "s_lo", "s_hi", win, "w_lo", "w_hi", 3600L * 1000000)
          .groupBy("day")
          .agg(count(lit(1)).as("n_sessions"),
            countDistinct(col("user_id")).as("n_users"),
            sum(expr("(LEAST(s_hi, w_hi) - GREATEST(s_lo, w_lo)) DIV 1000000"))
              .as("overlap_s"))
          .orderBy("day")
      },
      Some("""WITH s0 AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
             |           - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
             |           > 30 * 60 * 1000000 THEN 1
             |         WHEN lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL THEN 1
             |         ELSE 0 END AS new_sess
             |  FROM events),
             |sess AS (SELECT user_id, sess_id,
             |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS s_lo,
             |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS s_hi
             |  FROM (SELECT user_id, ts, event_id,
             |      CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id FROM s0)
             |  GROUP BY user_id, sess_id),
             |win AS (SELECT d AS day,
             |    epoch_us(CAST(d AS TIMESTAMP) + INTERVAL 2 HOUR) AS w_lo,
             |    epoch_us(CAST(d AS TIMESTAMP) + INTERVAL 4 HOUR) AS w_hi
             |  FROM (SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events))
             |SELECT day, CAST(count(*) AS BIGINT) AS n_sessions,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             |  CAST(SUM((LEAST(s_hi, w_hi) - GREATEST(s_lo, w_lo)) // 1000000) AS BIGINT) AS overlap_s
             |FROM sess JOIN win ON s_lo <= w_hi AND w_lo <= s_hi
             |GROUP BY day ORDER BY day""".stripMargin)),

    // q383 — interval overlap through the NATIVE plane-sweep operator
    // (plans/IntervalJoin.scala: LogicalPlan + Strategy + BinaryExec,
    // the second whole-operator rung after the as-of join): user
    // sessions against THREE daily maintenance slots, keyed by the
    // session-start day. Where q294's composed form (ops.RangeJoin)
    // bins both sides and dedups bin collisions, the native exec takes
    // one hash exchange per side + a per-partition (key, lo) sort from
    // EnsureRequirements and sweeps with state bounded by CONCURRENT
    // intervals — the plan a database's range join produces. The
    // in-query require pins that the native exec actually planned;
    // all interval arithmetic is exact epoch-micro integers.
    QuerySpec("q383_native_interval_join",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.load(s, dir, "events")
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val gapUs = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)
        val newSess = when(gapUs.isNull || gapUs > 30L * 60 * 1000000, 1)
          .otherwise(0)
        val sess = ev.withColumn("sess_id",
            sum(newSess).over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "sess_id")
          .agg(min(unix_micros(col("ts"))).as("s_lo"),
            max(unix_micros(col("ts"))).as("s_hi"))
          .withColumn("s_dayi", expr("s_lo DIV 86400000000"))
        val slots = ev
          .select(expr("unix_micros(ts) DIV 86400000000").as("dayi"))
          .distinct()
          .crossJoin(Seq((1, 2L, 4L), (2, 12L, 13L), (3, 20L, 22L))
            .toDF("slot", "h1", "h2")) // 3-row slot frame (bounded)
          .select(col("dayi"), col("slot"),
            (col("dayi") * 86400000000L + col("h1") * 3600000000L).as("w_lo"),
            (col("dayi") * 86400000000L + col("h2") * 3600000000L).as("w_hi"))
        val j = graft.plans.Interval.join(slots, sess,
          Seq("dayi"), Seq("s_dayi"), "w_lo", "w_hi", "s_lo", "s_hi",
          leftTie = Seq("slot"), rightTie = Seq("user_id", "sess_id"))
        require(j.queryExecution.executedPlan.toString.contains("IntervalJoin"),
          "native interval-join exec did not plan")
        j.groupBy("slot")
          .agg(count(lit(1)).as("n_sessions"),
            countDistinct(col("user_id")).as("n_users"),
            sum(expr("LEAST(s_hi, w_hi) - GREATEST(s_lo, w_lo)"))
              .as("overlap_us"))
          .orderBy("slot")
      },
      Some("""WITH s0 AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
             |           - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
             |           > 30 * 60 * 1000000 THEN 1
             |         WHEN lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL THEN 1
             |         ELSE 0 END AS new_sess
             |  FROM events),
             |sess AS (SELECT user_id, sess_id,
             |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS s_lo,
             |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS s_hi
             |  FROM (SELECT user_id, ts, event_id,
             |      CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id FROM s0)
             |  GROUP BY user_id, sess_id),
             |days AS (SELECT DISTINCT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS dayi FROM events),
             |slots AS (SELECT dayi, v.slot,
             |    dayi * 86400000000 + v.h1 * 3600000000 AS w_lo,
             |    dayi * 86400000000 + v.h2 * 3600000000 AS w_hi
             |  FROM days, (VALUES (1, 2, 4), (2, 12, 13), (3, 20, 22)) v(slot, h1, h2)),
             |j AS (SELECT slot, user_id,
             |    LEAST(s_hi, w_hi) - GREATEST(s_lo, w_lo) AS ov
             |  FROM sess JOIN slots
             |    ON s_lo // 86400000000 = slots.dayi
             |    AND s_lo <= w_hi AND w_lo <= s_hi)
             |SELECT slot, CAST(count(*) AS BIGINT) AS n_sessions,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             |  CAST(SUM(ov) AS BIGINT) AS overlap_us
             |FROM j GROUP BY slot ORDER BY slot""".stripMargin)),

    // q384 — POINT-IN-TIME feature assembly (the feature-store
    // training-set join): every purchase label picks up each feature
    // table's latest snapshot STRICTLY BEFORE it — two chained native
    // as-of joins (plans/AsOfJoin.scala), one per feature table, the
    // leak-free alternative to the plain join that would let a label
    // see same-day aggregates computed FROM itself. Snapshots are
    // end-of-day (dayi+1)·86400e6 − 1 micros, so a day-D label matches
    // the day-D−1 snapshot — only fully-closed days feed features.
    // Oracle: DuckDB's native ASOF LEFT JOIN, twice — engine vs engine
    // on both hops. All feature values are exact integer cum-sums.
    QuerySpec("q384_pit_feature_assembly",
      (s, dir) => {
        val base = Tables.load(s, dir, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_type"), col("value"), col("event_id"))
        val daily = base
          .groupBy(col("user_id"), expr("us DIV 86400000000").as("dayi"))
          .agg(count(lit(1)).as("d_events"),
            sum(round(col("value") * 100, 0).cast("long")).as("d_cents"))
        val wu = Window.partitionBy("user_id").orderBy("dayi")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val snaps = daily.select(col("user_id"),
          ((col("dayi") + 1) * 86400000000L - 1).as("snap_us"),
          sum(col("d_events")).over(wu).as("cum_events"),
          sum(col("d_cents")).over(wu).as("cum_cents"))
        val labels = base.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("us"))
        val featA = snaps.select(col("user_id").as("a_user"),
          col("snap_us").as("a_snap"), col("cum_events"))
        val featB = snaps.select(col("user_id").as("b_user"),
          col("snap_us").as("b_snap"), col("cum_cents"))
        val j1 = graft.plans.AsOf.joinBackward(labels, featA,
          Seq("user_id"), Seq("a_user"), "us", "a_snap")
        val j2 = graft.plans.AsOf.joinBackward(j1, featB,
          Seq("user_id"), Seq("b_user"), "us", "b_snap")
        j2.groupBy("user_id")
          .agg(count(lit(1)).as("n_labels"),
            sum(coalesce(col("cum_events"), lit(0L))).as("feat_events"),
            sum(coalesce(col("cum_cents"), lit(0L))).as("feat_cents"))
          .orderBy("user_id")
      },
      Some("""WITH base AS (SELECT user_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type, value, event_id
             |  FROM events),
             |daily AS (SELECT user_id, us // 86400000000 AS dayi,
             |    CAST(count(*) AS BIGINT) AS d_events,
             |    SUM(CAST(round(value*100, 0) AS BIGINT)) AS d_cents
             |  FROM base GROUP BY 1, 2),
             |snaps AS (SELECT user_id,
             |    (dayi + 1) * 86400000000 - 1 AS snap_us,
             |    SUM(d_events) OVER (PARTITION BY user_id ORDER BY dayi
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_events,
             |    SUM(d_cents) OVER (PARTITION BY user_id ORDER BY dayi
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents
             |  FROM daily),
             |lab AS (SELECT event_id, user_id, us FROM base
             |  WHERE event_type = 'purchase'),
             |j1 AS (SELECT l.event_id, l.user_id, l.us, a.cum_events
             |  FROM lab l ASOF LEFT JOIN
             |    (SELECT user_id AS au, snap_us, cum_events FROM snaps) a
             |    ON l.user_id = a.au AND a.snap_us <= l.us),
             |j2 AS (SELECT j1.user_id, j1.us, j1.cum_events, b.cum_cents
             |  FROM j1 ASOF LEFT JOIN
             |    (SELECT user_id AS bu, snap_us AS s2, cum_cents FROM snaps) b
             |    ON j1.user_id = b.bu AND b.s2 <= j1.us)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_labels,
             |  CAST(SUM(COALESCE(cum_events, 0)) AS BIGINT) AS feat_events,
             |  CAST(SUM(COALESCE(cum_cents, 0)) AS BIGINT) AS feat_cents
             |FROM j2 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // q385 — the LEFT OUTER form of the native interval operator:
    // sessions that overlap NO maintenance slot (q383's complement —
    // the "unaffected population" every incident review also needs).
    // Unmatched left rows emit exactly once, null-padded, from the
    // same one-exchange-per-side sweep; the anti set is `slot IS
    // NULL`. Oracle: NOT EXISTS over the same closed-interval
    // predicate.
    QuerySpec("q385_interval_join_outer",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.load(s, dir, "events")
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val gapUs = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)
        val newSess = when(gapUs.isNull || gapUs > 30L * 60 * 1000000, 1)
          .otherwise(0)
        val sess = ev.withColumn("sess_id",
            sum(newSess).over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "sess_id")
          .agg(min(unix_micros(col("ts"))).as("s_lo"),
            max(unix_micros(col("ts"))).as("s_hi"))
          .withColumn("s_dayi", expr("s_lo DIV 86400000000"))
        val slots = ev
          .select(expr("unix_micros(ts) DIV 86400000000").as("dayi"))
          .distinct()
          .crossJoin(Seq((1, 2L, 4L), (2, 12L, 13L), (3, 20L, 22L))
            .toDF("slot", "h1", "h2"))
          .select(col("dayi"), col("slot"),
            (col("dayi") * 86400000000L + col("h1") * 3600000000L).as("w_lo"),
            (col("dayi") * 86400000000L + col("h2") * 3600000000L).as("w_hi"))
        graft.plans.Interval.join(sess, slots,
            Seq("s_dayi"), Seq("dayi"), "s_lo", "s_hi", "w_lo", "w_hi",
            leftTie = Seq("user_id", "sess_id"), rightTie = Seq("slot"),
            leftOuter = true)
          .filter(col("slot").isNull)
          .groupBy(col("s_dayi").as("dayi"))
          .agg(count(lit(1)).as("n_unaffected"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("dayi")
      },
      Some("""WITH s0 AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
             |           - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
             |           > 30 * 60 * 1000000 THEN 1
             |         WHEN lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL THEN 1
             |         ELSE 0 END AS new_sess
             |  FROM events),
             |sess AS (SELECT user_id, sess_id,
             |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS s_lo,
             |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS s_hi
             |  FROM (SELECT user_id, ts, event_id,
             |      CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id FROM s0)
             |  GROUP BY user_id, sess_id),
             |days AS (SELECT DISTINCT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS dayi FROM events),
             |slots AS (SELECT dayi, v.slot,
             |    dayi * 86400000000 + v.h1 * 3600000000 AS w_lo,
             |    dayi * 86400000000 + v.h2 * 3600000000 AS w_hi
             |  FROM days, (VALUES (1, 2, 4), (2, 12, 13), (3, 20, 22)) v(slot, h1, h2))
             |SELECT s_lo // 86400000000 AS dayi,
             |  CAST(count(*) AS BIGINT) AS n_unaffected,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
             |FROM sess
             |WHERE NOT EXISTS (SELECT 1 FROM slots
             |  WHERE slots.dayi = sess.s_lo // 86400000000
             |    AND sess.s_lo <= slots.w_hi AND slots.w_lo <= sess.s_hi)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // q388 — COHORT RETENTION matrix (the engagement half of q359's
    // revenue LTV triangle): users grouped by FIRST-ACTIVITY week,
    // each later week's retention = distinct active users / cohort
    // size. Week indexing is epoch-week integer arithmetic
    // (micros DIV 7·86400e6) — calendar-function week numbering
    // differs between engines (the q214 dow lesson), integer DIV does
    // not. Counts are exact; retention is the single output division.
    QuerySpec("q388_cohort_retention",
      (s, dir) => {
        val ue = Tables.load(s, dir, "events")
          .select(col("user_id"),
            expr("unix_micros(ts) DIV 604800000000").as("wk"))
        val first = ue.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
          .persistTracked()
        val sizes = first.groupBy("cohort_wk")
          .agg(countDistinct(col("user_id")).as("cohort_n"))
        ue.distinct()
          .join(first, "user_id")
          .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk"))
            .as("weeks_since"))
          .agg(countDistinct(col("user_id")).as("n_active"))
          .join(broadcast(sizes), "cohort_wk") // cohort-grain dim
          .select(col("cohort_wk"), col("weeks_since"), col("n_active"),
            col("cohort_n"),
            (col("n_active").cast("double") / col("cohort_n"))
              .as("retention"))
          .orderBy("cohort_wk", "weeks_since")
      },
      Some("""WITH ue AS (SELECT user_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS wk
             |  FROM events),
             |f AS (SELECT user_id, min(wk) AS cohort_wk FROM ue GROUP BY 1),
             |sz AS (SELECT cohort_wk, CAST(count(DISTINCT user_id) AS BIGINT) AS cohort_n
             |  FROM f GROUP BY 1),
             |act AS (SELECT DISTINCT user_id, wk FROM ue),
             |r AS (SELECT f.cohort_wk, act.wk - f.cohort_wk AS weeks_since,
             |    CAST(count(DISTINCT act.user_id) AS BIGINT) AS n_active
             |  FROM act JOIN f ON act.user_id = f.user_id
             |  GROUP BY 1, 2)
             |SELECT r.cohort_wk, r.weeks_since, r.n_active, sz.cohort_n,
             |  CAST(r.n_active AS DOUBLE) / sz.cohort_n AS retention
             |FROM r JOIN sz ON r.cohort_wk = sz.cohort_wk
             |ORDER BY r.cohort_wk, r.weeks_since""".stripMargin)),

    // q389 — DAU/MAU STICKINESS per day (MAU = distinct users over the
    // trailing 28 days): the engagement ratio every growth report
    // leads with. The corpus collapses to the (user, day) distinct
    // grid FIRST (≪ events), then a 30-row broadcast day frame joins
    // with the trailing-window range predicate — never a window
    // distinct over raw events. Exact integer counts; stickiness is
    // the output division.
    QuerySpec("q389_dau_mau_stickiness",
      (s, dir) => {
        val ud = Tables.load(s, dir, "events")
          .select(col("user_id"),
            expr("unix_micros(ts) DIV 86400000000").as("dayi"))
          .distinct()
          .persistTracked()
        val days = ud.select(col("dayi").as("d")).distinct()
        val mau = ud.join(broadcast(days),
            col("dayi") >= col("d") - 27 && col("dayi") <= col("d"))
          .groupBy("d")
          .agg(countDistinct(col("user_id")).as("mau"))
        val dau = ud.groupBy(col("dayi").as("d"))
          .agg(countDistinct(col("user_id")).as("dau"))
        dau.join(mau, "d")
          .select(col("d").as("dayi"), col("dau"), col("mau"),
            (col("dau").cast("double") / col("mau")).as("stickiness"))
          .orderBy("dayi")
      },
      Some("""WITH ud AS (SELECT DISTINCT user_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS dayi
             |  FROM events),
             |days AS (SELECT DISTINCT dayi AS d FROM ud),
             |mau AS (SELECT d, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
             |  FROM ud JOIN days ON dayi >= d - 27 AND dayi <= d
             |  GROUP BY 1),
             |dau AS (SELECT dayi AS d, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
             |  FROM ud GROUP BY 1)
             |SELECT dau.d AS dayi, dau.dau, mau.mau,
             |  CAST(dau.dau AS DOUBLE) / mau.mau AS stickiness
             |FROM dau JOIN mau ON dau.d = mau.d
             |ORDER BY dayi""".stripMargin)),

    // q394 — PROCESS-MINING variants: each session's ordered
    // event-type sequence is its VARIANT (the trace a process-mining
    // tool clusters on); the top-15 variants with session counts and
    // corpus share answer "what do journeys actually look like".
    // Sessions are q383's 30-min islands; the trace string is built
    // from a per-session sorted fold ((ts, event_id) total order — the
    // same tiebreak both engines aggregate under), so identical
    // journeys land on byte-identical variant keys. Counts exact;
    // share is the output division.
    QuerySpec("q394_process_variants",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val gapUs = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)
        val newSess = when(gapUs.isNull || gapUs > 30L * 60 * 1000000, 1)
          .otherwise(0)
        val paths = ev.withColumn("sess_id",
            sum(newSess).over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "sess_id")
          .agg(count(lit(1)).as("n_steps"),
            concat_ws(">", expr(
              """transform(
                |  sort_array(collect_list(struct(unix_micros(ts) AS us,
                |    event_id, event_type))),
                |  x -> x.event_type)""".stripMargin)).as("variant"))
          .persistTracked()
        val tot = paths.agg(count(lit(1)).as("t"))
        paths.groupBy("variant")
          .agg(max(col("n_steps")).as("n_steps"),
            count(lit(1)).as("n_sessions"))
          .crossJoin(broadcast(tot)) // 1-row total frame
          .select(col("variant"), col("n_steps"), col("n_sessions"),
            (col("n_sessions").cast("double") / col("t")).as("share"))
          .orderBy(col("n_sessions").desc, col("variant"))
          .limit(15)
      },
      Some("""WITH s0 AS (
             |  SELECT user_id, ts, event_id, event_type,
             |    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
             |           - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
             |           > 30 * 60 * 1000000 THEN 1
             |         WHEN lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL THEN 1
             |         ELSE 0 END AS new_sess
             |  FROM events),
             |p AS (SELECT user_id, sess_id,
             |    CAST(count(*) AS BIGINT) AS n_steps,
             |    string_agg(event_type, '>' ORDER BY CAST(ts AS TIMESTAMP), event_id) AS variant
             |  FROM (SELECT user_id, ts, event_id, event_type,
             |      CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id FROM s0)
             |  GROUP BY 1, 2),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM p)
             |SELECT variant, CAST(max(n_steps) AS BIGINT) AS n_steps,
             |  CAST(count(*) AS BIGINT) AS n_sessions,
             |  CAST(count(*) AS DOUBLE) / (SELECT t FROM tot) AS share
             |FROM p GROUP BY variant
             |ORDER BY n_sessions DESC, variant LIMIT 15""".stripMargin)),

    // q395 — DIRECTLY-FOLLOWS graph (q394's other half: process-mining
    // tools draw the DFG, then overlay variants): edge counts between
    // consecutive event types WITHIN a session, plus synthetic START/
    // END markers so entry and exit behavior are first-class edges.
    // One lag window under the (ts, event_id) total order; the END
    // edges are the per-session last rows (lead IS NULL). All counts
    // exact; share of total transitions is the output division.
    QuerySpec("q395_directly_follows",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val gapUs = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)
        val newSess = when(gapUs.isNull || gapUs > 30L * 60 * 1000000, 1)
          .otherwise(0)
        val rows = ev.withColumn("sess_id",
            sum(newSess).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        val ws = Window.partitionBy("user_id", "sess_id")
          .orderBy(col("ts"), col("event_id"))
        val edges = rows.select(
          coalesce(lag(col("event_type"), 1).over(ws), lit("START")).as("src"),
          col("event_type").as("dst"))
          .unionByName(rows
            .withColumn("nxt", lead(col("event_type"), 1).over(ws))
            .filter(col("nxt").isNull)
            .select(col("event_type").as("src"), lit("END").as("dst")))
          .persistTracked()
        val tot = edges.agg(count(lit(1)).as("t"))
        edges.groupBy("src", "dst")
          .agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(tot)) // 1-row total frame
          .select(col("src"), col("dst"), col("n"),
            (col("n").cast("double") / col("t")).as("share"))
          .orderBy("src", "dst")
      },
      Some("""WITH s0 AS (
             |  SELECT user_id, ts, event_id, event_type,
             |    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
             |           - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
             |           > 30 * 60 * 1000000 THEN 1
             |         WHEN lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL THEN 1
             |         ELSE 0 END AS new_sess
             |  FROM events),
             |r AS (SELECT user_id, ts, event_id, event_type,
             |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id FROM s0),
             |e AS (
             |  SELECT COALESCE(lag(event_type) OVER (PARTITION BY user_id, sess_id
             |      ORDER BY CAST(ts AS TIMESTAMP), event_id), 'START') AS src,
             |    event_type AS dst
             |  FROM r
             |  UNION ALL
             |  SELECT event_type AS src, 'END' AS dst FROM (
             |    SELECT event_type, lead(event_type) OVER (PARTITION BY user_id, sess_id
             |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nxt FROM r)
             |  WHERE nxt IS NULL),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM e)
             |SELECT src, dst, CAST(count(*) AS BIGINT) AS n,
             |  CAST(count(*) AS DOUBLE) / (SELECT t FROM tot) AS share
             |FROM e GROUP BY src, dst ORDER BY src, dst""".stripMargin)),

    // q397 — BITEMPORAL point query: "what did the system BELIEVE at
    // log version V about each user's cumulative spend as of event
    // time T" — transaction time travels through the TxLog (q374),
    // valid time resolves through the native as-of join (q217), and
    // the two compose freely because both are plain DataFrames. The
    // fixture makes the axes genuinely disagree: version 0 knows only
    // the first 15 days; version 1 appends the rest PLUS a late
    // CORRECTION for early days (user_id % 7 = 0 rows get a +1000¢
    // restated snapshot at the same eff_us), so v0@T and v1@T differ
    // for the SAME probe time — the audit question bitemporal exists
    // to answer. Right-side ties at equal eff_us resolve to the MAX
    // seq (corrections carry seq = 1, originals 0 — deterministic
    // last-writer-wins both engines).
    QuerySpec("q397_bitemporal_asof",
      (s, dir) => {
        import s.implicits._
        import graft.core.TxLog
        val t = Scratch.dir("txbit", dir)
        TxLog.drop(t)
        val base = Tables.load(s, dir, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            round(col("value") * 100, 0).cast("long").as("cents"))
        val daily = base
          .groupBy(col("user_id"), expr("us DIV 86400000000").as("dayi"))
          .agg(sum(col("cents")).as("d_cents"))
        val wu = Window.partitionBy("user_id").orderBy("dayi")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val snaps = daily.select(col("user_id"), col("dayi"),
            ((col("dayi") + 1) * 86400000000L - 1).as("eff_us"),
            sum(col("d_cents")).over(wu).as("cum_cents"))
          .withColumn("seq", lit(0))
        val day0 = snaps.agg(min(col("dayi")).as("d0")).head().getLong(0)
        TxLog.create(snaps.filter(col("dayi") < day0 + 15), t)     // v0
        TxLog.append(
          snaps.filter(col("dayi") >= day0 + 15).unionByName(
            snaps.filter(col("dayi") < day0 + 15 &&
              col("user_id") % 7 === 0)
              .withColumn("cum_cents", col("cum_cents") + 1000L)
              .withColumn("seq", lit(1))), t)                      // v1
        val probes = base.select(col("user_id")).distinct()
          .crossJoin(broadcast(
            Seq(9L, 19L).toDF("off"))) // 2-row probe-day frame
          .select(col("user_id"),
            ((lit(day0) + col("off") + 1) * 86400000000L - 1).as("p_us"))
        Seq(0, 1).map { v =>
          val right = TxLog.read(s, t, Some(v))
            .select(col("user_id").as("r_user"), col("eff_us"),
              col("cum_cents"), col("seq"))
          graft.plans.AsOf.joinBackward(probes, right,
              Seq("user_id"), Seq("r_user"), "p_us", "eff_us",
              rightTie = Seq("seq"))
            .groupBy(expr("p_us DIV 86400000000").as("probe_dayi"))
            .agg(count(col("cum_cents")).as("n_matched"),
              sum(col("cum_cents")).as("believed_cents"))
            .select(lit(v).as("version"), col("probe_dayi"),
              col("n_matched"), col("believed_cents"))
        }.reduce(_ unionByName _).orderBy("version", "probe_dayi")
      },
      Some("""WITH base AS (SELECT user_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             |    CAST(round(value*100, 0) AS BIGINT) AS cents FROM events),
             |daily AS (SELECT user_id, us // 86400000000 AS dayi,
             |    SUM(cents) AS d_cents FROM base GROUP BY 1, 2),
             |snaps AS (SELECT user_id, dayi,
             |    (dayi + 1) * 86400000000 - 1 AS eff_us,
             |    SUM(d_cents) OVER (PARTITION BY user_id ORDER BY dayi
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents,
             |    0 AS seq
             |  FROM daily),
             |d0 AS (SELECT min(dayi) AS d0 FROM snaps),
             |v0 AS (SELECT * FROM snaps, d0 WHERE dayi < d0 + 15),
             |v1 AS (SELECT user_id, dayi, eff_us, cum_cents, seq FROM snaps, d0
             |  UNION ALL
             |  SELECT user_id, dayi, eff_us, cum_cents + 1000, 1 FROM snaps, d0
             |  WHERE dayi < d0 + 15 AND user_id % 7 = 0),
             |probes AS (SELECT u.user_id,
             |    (d0.d0 + o.off + 1) * 86400000000 - 1 AS p_us
             |  FROM (SELECT DISTINCT user_id FROM base) u, d0,
             |       (VALUES (9), (19)) o(off)),
             |-- equal-eff_us ties resolve to MAX seq: dedup each version's
             |-- right side to (user, eff_us) grain keeping the max-seq row
             |r0 AS (SELECT user_id, eff_us, max_by(cum_cents, seq) AS cum_cents
             |  FROM v0 GROUP BY 1, 2),
             |r1 AS (SELECT user_id, eff_us, max_by(cum_cents, seq) AS cum_cents
             |  FROM v1 GROUP BY 1, 2),
             |j0 AS (SELECT p.p_us, r.cum_cents
             |  FROM probes p ASOF LEFT JOIN r0 r
             |    ON p.user_id = r.user_id AND r.eff_us <= p.p_us),
             |j1 AS (SELECT p.p_us, r.cum_cents
             |  FROM probes p ASOF LEFT JOIN r1 r
             |    ON p.user_id = r.user_id AND r.eff_us <= p.p_us)
             |SELECT 0 AS version, p_us // 86400000000 AS probe_dayi,
             |  CAST(count(cum_cents) AS BIGINT) AS n_matched,
             |  CAST(SUM(cum_cents) AS BIGINT) AS believed_cents
             |FROM j0 GROUP BY 2
             |UNION ALL
             |SELECT 1, p_us // 86400000000,
             |  CAST(count(cum_cents) AS BIGINT),
             |  CAST(SUM(cum_cents) AS BIGINT)
             |FROM j1 GROUP BY 2
             |ORDER BY version, probe_dayi""".stripMargin)),

    // q398 — funnel LATENCY DISTRIBUTION: q220's signup→first-purchase
    // latencies reduced to exact order-statistic percentiles (p50/p90/
    // p99 are ACTUAL latency values via the q219 selection rule — the
    // ceil(q·n)-th element of the (latency, event_id) total order, no
    // interpolation) plus the conversion rate. Latencies come from the
    // native as-of forward join; ranks ride the range-partitioned
    // PrefixSum. The answer every onboarding review wants: how fast do
    // converters convert, and how many never do.
    QuerySpec("q398_funnel_latency_percentiles",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val signups = ev.filter(col("event_type") === "signup")
          .select(col("event_id"), col("user_id"), col("ts").as("s_ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
          .agg(min(col("event_id")).as("p_event"))
        val lat = graft.plans.AsOf.joinForward(signups, purchases,
            Seq("user_id"), Seq("p_user"), "s_ts", "p_ts")
          .select(col("event_id"),
            expr("(unix_micros(p_ts) - unix_micros(s_ts)) DIV 1000000")
              .as("latency_s"))
          .persistTracked()
        val conv = lat.filter(col("latency_s").isNotNull)
          .withColumn("__one", lit(1L))
        val cum = graft.ops.PrefixSum.cumsum(conv,
          Seq("latency_s", "event_id"), "__one", "rk")
        val nn = lat.agg(count(lit(1)).as("n_signups"),
          count(col("latency_s")).as("n_converted"))
        cum.crossJoin(broadcast(nn)) // 1-row totals frame
          .filter(col("rk") === ceil(col("n_converted") * 0.5).cast("long") ||
            col("rk") === ceil(col("n_converted") * 0.9).cast("long") ||
            col("rk") === ceil(col("n_converted") * 0.99).cast("long"))
          .agg(max(col("n_signups")).as("n_signups"),
            max(col("n_converted")).as("n_converted"),
            max(when(col("rk") ===
              ceil(col("n_converted") * 0.5).cast("long"),
              col("latency_s"))).as("p50_s"),
            max(when(col("rk") ===
              ceil(col("n_converted") * 0.9).cast("long"),
              col("latency_s"))).as("p90_s"),
            max(when(col("rk") ===
              ceil(col("n_converted") * 0.99).cast("long"),
              col("latency_s"))).as("p99_s"))
          .select(col("n_signups"), col("n_converted"),
            (col("n_converted").cast("double") / col("n_signups"))
              .as("conversion"),
            col("p50_s"), col("p90_s"), col("p99_s"))
      },
      Some("""WITH s AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS s_ts
             |  FROM events WHERE event_type = 'signup'),
             |p AS (SELECT user_id AS p_user, CAST(ts AS TIMESTAMP) AS p_ts
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
             |l AS (SELECT s.event_id,
             |    (epoch_us(p.p_ts) - epoch_us(s.s_ts)) // 1000000 AS latency_s
             |  FROM s ASOF LEFT JOIN p
             |    ON s.user_id = p.p_user AND p.p_ts >= s.s_ts),
             |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_signups,
             |    CAST(count(latency_s) AS BIGINT) AS n_converted FROM l),
             |r AS (SELECT latency_s,
             |    row_number() OVER (ORDER BY latency_s, event_id) AS rk
             |  FROM l WHERE latency_s IS NOT NULL)
             |SELECT nn.n_signups, nn.n_converted,
             |  CAST(nn.n_converted AS DOUBLE) / nn.n_signups AS conversion,
             |  max(CASE WHEN rk = CAST(ceil(nn.n_converted * 0.5) AS BIGINT) THEN latency_s END) AS p50_s,
             |  max(CASE WHEN rk = CAST(ceil(nn.n_converted * 0.9) AS BIGINT) THEN latency_s END) AS p90_s,
             |  max(CASE WHEN rk = CAST(ceil(nn.n_converted * 0.99) AS BIGINT) THEN latency_s END) AS p99_s
             |FROM r, nn GROUP BY 1, 2, 3""".stripMargin)),

    // q402 — GROWTH ACCOUNTING (the user state machine behind every
    // "where did our actives go" review): each active user-week is
    // NEW (first ever), RETAINED (also active the week before), or
    // RESURRECTED (returning after a gap); CHURNED(w) counts users
    // active in w−1 but not w (attributed via the lead gap, bounded
    // by the last observed week so trailing silence isn't churn).
    // The identity actives(w) = new + retained + resurrected and
    // actives(w) = actives(w−1) + new + resurrected − churned both
    // hold by construction — the oracle hash proves them. Epoch-week
    // integer arithmetic (q388's rule); all counts exact.
    QuerySpec("q402_growth_accounting",
      (s, dir) => {
        val uw = Tables.load(s, dir, "events")
          .select(col("user_id"),
            expr("unix_micros(ts) DIV 604800000000").as("wk"))
          .distinct()
          .persistTracked()
        val bounds = uw.agg(min(col("wk")).as("w0"), max(col("wk")).as("w1"))
        val wWin = Window.partitionBy("user_id").orderBy("wk")
        val st = uw
          .withColumn("prev", lag(col("wk"), 1).over(wWin))
          .withColumn("nxt", lead(col("wk"), 1).over(wWin))
        val stateRows = st.select(col("wk"),
            when(col("prev").isNull, lit("new"))
              .when(col("prev") === col("wk") - 1, lit("retained"))
              .otherwise(lit("resurrected")).as("state"))
        val churn = st.crossJoin(broadcast(bounds)) // 1-row bounds frame
          .filter((col("nxt").isNull || col("nxt") > col("wk") + 1) &&
            col("wk") + 1 <= col("w1"))
          .select((col("wk") + 1).as("wk"), lit("churned").as("state"))
        stateRows.unionByName(churn)
          .crossJoin(broadcast(bounds))
          .groupBy((col("wk") - col("w0")).as("week"))
          .agg(sum(when(col("state") === "new", 1L).otherwise(0L)).as("n_new"),
            sum(when(col("state") === "retained", 1L).otherwise(0L))
              .as("n_retained"),
            sum(when(col("state") === "resurrected", 1L).otherwise(0L))
              .as("n_resurrected"),
            sum(when(col("state") === "churned", 1L).otherwise(0L))
              .as("n_churned"))
          .orderBy("week")
      },
      Some("""WITH uw AS (SELECT DISTINCT user_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS wk
             |  FROM events),
             |b AS (SELECT min(wk) AS w0, max(wk) AS w1 FROM uw),
             |st AS (SELECT user_id, wk,
             |    lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev,
             |    lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS nxt
             |  FROM uw),
             |rows_ AS (
             |  SELECT wk, CASE WHEN prev IS NULL THEN 'new'
             |    WHEN prev = wk - 1 THEN 'retained'
             |    ELSE 'resurrected' END AS state
             |  FROM st
             |  UNION ALL
             |  SELECT wk + 1, 'churned' FROM st, b
             |  WHERE (nxt IS NULL OR nxt > wk + 1) AND wk + 1 <= b.w1)
             |SELECT wk - b.w0 AS week,
             |  CAST(SUM(CASE WHEN state = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
             |  CAST(SUM(CASE WHEN state = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
             |  CAST(SUM(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
             |  CAST(SUM(CASE WHEN state = 'churned' THEN 1 ELSE 0 END) AS BIGINT) AS n_churned
             |FROM rows_, b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // q273 — RUNTIME BLOOM-FILTER join pruning, the second declarative
    // runtime optimization under the gate (q262 is AQE skew): Catalyst's
    // InjectRuntimeFilter sees a selective filter on the orders side of
    // a shuffle join and plants a bloom_filter_agg subquery whose
    // might_contain() is applied AT THE LINEITEM SCAN — the fact table
    // drops ~80% of its rows before paying the shuffle, no query
    // rewrite. This is the semi-join reduction every warehouse engine
    // does; at 100 TB it is often the difference between shuffling 100
    // TB and shuffling 5 TB. Session clone floors the application-side
    // threshold to fixture scale and disables broadcast so the join is
    // a genuine shuffle SMJ (production keeps the 10 GB default — the
    // MECHANISM is identical); the bloom is a pure overlay, so results
    // are bit-identical with it on or off (false positives only re-admit
    // rows the join itself discards). PlanSpec pins might_contain on the
    // lineitem side + the bloom_filter_agg build on the orders side.
    QuerySpec("q273_runtime_bloom_join",
      (s, dir) => {
        val ts = graft.core.Tuned.session(s,
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
          "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
        val li = Tables.load(ts, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_returnflag"))
        val ord = Tables.load(ts, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_items"),
            countDistinct(col("l_orderkey")).as("n_orders"),
            sum(col("l_extendedprice").cast("decimal(18,2)"))
              .cast("decimal(28,2)").cast("double").as("revenue"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
             |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
             |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS DOUBLE) AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderpriority = '1-URGENT'
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // q266 — TOLERANCE-bounded as-of over the native operator: the
    // `tolerance` parameter every as-of API exposes (pandas
    // merge_asof, kdb wj) — match the last click at-or-before each
    // purchase, but a match older than 1 hour reverts to NULL (LEFT
    // OUTER semantics preserved). Implemented the scalable way: the
    // native operator's O(1)-state merge is UNCHANGED and the bound is
    // a post-predicate CASE — no second operator variant to maintain,
    // no extra shuffle. Oracle: DuckDB's native ASOF LEFT JOIN under
    // the same CASE — engine-native vs engine-native again (q217's
    // dedup-to-(user, ts) tie rule applies verbatim).
    QuerySpec("q266_asof_tolerance",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts").as("p_ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id").as("c_user"), col("ts").as("c_ts"))
          .agg(max(col("event_id")).as("c_event"))
        val inTol = col("c_ts").isNotNull &&
          unix_micros(col("p_ts")) - unix_micros(col("c_ts")) <= 3600L * 1000000L
        graft.plans.AsOf.joinBackward(purchases, clicks,
            Seq("user_id"), Seq("c_user"), "p_ts", "c_ts",
            rightTie = Seq("c_event"))
          .select(col("event_id"), col("user_id"),
            col("p_ts").cast("timestamp_ntz").as("purchase_ts"),
            when(inTol, col("c_ts").cast("timestamp_ntz")).as("click_ts"),
            when(inTol, col("c_event")).as("click_event"),
            when(inTol, expr("(unix_micros(p_ts) - unix_micros(c_ts)) DIV 1000000"))
              .as("lag_s"))
          .orderBy("event_id")
      },
      Some("""WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts
             |  FROM events WHERE event_type = 'purchase'),
             |c AS (SELECT user_id AS c_user, CAST(ts AS TIMESTAMP) AS c_ts,
             |    max(event_id) AS c_event
             |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
             |j AS (SELECT p.event_id, p.user_id, p.p_ts, c.c_ts, c.c_event
             |  FROM p ASOF LEFT JOIN c
             |    ON p.user_id = c.c_user AND c.c_ts <= p.p_ts),
             |jt AS (SELECT *, c_ts IS NOT NULL
             |    AND epoch_us(p_ts) - epoch_us(c_ts) <= 3600000000 AS tol FROM j)
             |SELECT event_id, user_id, p_ts AS purchase_ts,
             |  CASE WHEN tol THEN c_ts END AS click_ts,
             |  CASE WHEN tol THEN c_event END AS click_event,
             |  CASE WHEN tol THEN (epoch_us(p_ts) - epoch_us(c_ts)) // 1000000 END AS lag_s
             |FROM jt ORDER BY event_id""".stripMargin)),

    // q269 — CDC APPLY: fold an ordered change log into final entity
    // state — the op every lakehouse MERGE/CDF pipeline runs (q98 builds
    // SCD2 history; this materializes the CURRENT view, deletes
    // honored). Log synthesized from events (signup→I, error→D,
    // everything else→U), sequenced by (ts, event_id). The fold is ONE
    // keep-last aggregate — max(struct(seq, payload)) partial-aggregates
    // map-side (the Dedup.keepFirstAgg lesson: no window, no per-key
    // sort), then delete-wins filtering; at 100 TB the log collapses to
    // entity grain in a single shuffle. event_id makes the sequence
    // total, so replica/arrival order can't change the survivor.
    QuerySpec("q269_cdc_apply",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val op = when(col("event_type") === "signup", "I")
          .when(col("event_type") === "error", "D")
          .otherwise("U")
        ev.select(col("user_id"), unix_micros(col("ts")).as("tsu"),
            col("event_id"), op.as("op"))
          .groupBy("user_id")
          .agg(max(struct(col("tsu"), col("event_id"), col("op"))).as("m"),
            count(lit(1)).as("n_ops"))
          .filter(col("m.op") =!= "D")
          .select(col("user_id"), col("m.op").as("last_op"),
            col("m.event_id").as("last_event_id"),
            col("m.tsu").as("last_ts_us"), col("n_ops"))
          .orderBy("user_id")
      },
      Some("""WITH log AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
             |    event_id,
             |    CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D'
             |      ELSE 'U' END AS op
             |  FROM events),
             |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
             |    ORDER BY tsu DESC, event_id DESC) AS rn,
             |    count(*) OVER (PARTITION BY user_id) AS n_ops
             |  FROM log)
             |SELECT user_id, op AS last_op, event_id AS last_event_id,
             |  tsu AS last_ts_us, CAST(n_ops AS BIGINT) AS n_ops
             |FROM r WHERE rn = 1 AND op <> 'D' ORDER BY user_id""".stripMargin)),

    // q276 — MERGE INTO (full three-clause semantics): target snapshot ⊕
    // delta feed with WHEN MATCHED AND cond → DELETE, WHEN MATCHED →
    // UPDATE, WHEN NOT MATCHED → INSERT — the lakehouse upsert q269's
    // log-fold feeds (q269 collapses the LOG; this applies the collapsed
    // delta to a TABLE). One full-outer key join is the whole cost: at
    // 100 TB both sides shuffle once on the merge key and every clause
    // is a scan-local CASE over the joined row — no second pass, no
    // driver loop. The `action` column makes each row's clause
    // auditable. Target = customers with key % 3 ≠ 0 (a snapshot that's
    // missing some keys), delta = key % 2 = 0 with a +100 balance;
    // MACHINERY matches are the delete clause.
    QuerySpec("q276_merge_into",
      (s, dir) => {
        val cust = Tables.load(s, dir, "customer")
        val t = cust.filter(col("c_custkey") % 3 =!= 0)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("c_mktsegment"))
        val src = cust.filter(col("c_custkey") % 2 === 0)
          .select(col("c_custkey").as("s_key"),
            (col("c_acctbal") + 100).cast("decimal(12,2)").as("new_bal"),
            col("c_mktsegment").as("seg"))
        val inT = col("c_custkey").isNotNull
        val inS = col("s_key").isNotNull
        t.join(src, col("c_custkey") === col("s_key"), "full_outer")
          .filter(!(inT && inS && col("seg") === "MACHINERY"))
          .select(coalesce(col("c_custkey"), col("s_key")).as("key"),
            when(inT && inS, "update").when(inS, "insert")
              .otherwise("keep").as("action"),
            when(inS, coalesce(col("c_name"), concat(lit("new-"),
              col("s_key").cast("string")))).otherwise(col("c_name"))
              .as("name"),
            when(inS, col("new_bal")).otherwise(col("c_acctbal"))
              .cast("decimal(12,2)").cast("double").as("acctbal"),
            when(inS && !inT, col("seg")).otherwise(col("c_mktsegment"))
              .as("segment"))
          .withColumnRenamed("key", "c_custkey")
          .orderBy("c_custkey")
      },
      Some("""WITH t AS (SELECT c_custkey, c_name, c_acctbal, c_mktsegment
             |    FROM customer WHERE c_custkey % 3 <> 0),
             |s AS (SELECT c_custkey, CAST(c_acctbal + 100 AS DECIMAL(12,2)) AS new_bal,
             |    c_mktsegment AS seg
             |  FROM customer WHERE c_custkey % 2 = 0),
             |j AS (SELECT COALESCE(t.c_custkey, s.c_custkey) AS c_custkey,
             |    t.c_name, t.c_acctbal, t.c_mktsegment, s.new_bal, s.seg,
             |    t.c_custkey IS NOT NULL AS in_t, s.c_custkey IS NOT NULL AS in_s
             |  FROM t FULL OUTER JOIN s ON t.c_custkey = s.c_custkey)
             |SELECT c_custkey,
             |  CASE WHEN in_t AND in_s THEN 'update' WHEN in_s THEN 'insert'
             |    ELSE 'keep' END AS action,
             |  CASE WHEN in_s THEN COALESCE(c_name, 'new-' || CAST(c_custkey AS VARCHAR))
             |    ELSE c_name END AS name,
             |  CAST(CAST(CASE WHEN in_s THEN new_bal ELSE c_acctbal END AS DECIMAL(12,2)) AS DOUBLE) AS acctbal,
             |  CASE WHEN in_s AND NOT in_t THEN seg ELSE c_mktsegment END AS segment
             |FROM j
             |WHERE NOT (in_t AND in_s AND seg = 'MACHINERY')
             |ORDER BY c_custkey""".stripMargin)),

    // q319 — NATIVE AS-OF JOIN over BUCKETED tables, exchange-free: the
    // operator (q217) composed with the layout (q224). Both sides are
    // written bucketed on the join key with an in-bucket (key, time)
    // sort — the layout a 100 TB event store maintains once — and the
    // as-of then plans with ZERO shuffles: the bucketed scans' 8-way
    // HashPartitioning satisfies AsOfJoinExec's ClusteredDistribution
    // on both sides (EnsureRequirements deems them co-partitioned),
    // and because the exec passes the left partitioning through
    // (`outputPartitioning = left.outputPartitioning`), the per-user
    // aggregate ALSO runs exchange-free. The only exchange in the whole
    // plan is the final orderBy's range partitioning. PlanSpec pins
    // exactly that. The repartition before each write gives one file
    // per bucket (the single-file condition for bucket-sort reuse).
    // Latency sums are all-integer µs — exact at any scale.
    QuerySpec("q319_asof_bucketed",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts").as("p_ts"))
          .repartition(8, col("user_id"))
        val signups = ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id").as("s_user"), col("ts").as("s_ts"))
          .agg(max(col("event_id")).as("s_event"))
          .repartition(8, col("s_user"))
        graft.core.Sinks.bucketedSorted(purchases, "graft_asof_p",
          Seq("user_id"), Seq("user_id", "p_ts"), 8)
        graft.core.Sinks.bucketedSorted(signups, "graft_asof_s",
          Seq("s_user"), Seq("s_user", "s_ts"), 8)
        graft.plans.AsOf.joinBackward(
            s.table("graft_asof_p"), s.table("graft_asof_s"),
            Seq("user_id"), Seq("s_user"), "p_ts", "s_ts",
            rightTie = Seq("s_event"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_purch"),
            sum(when(col("s_ts").isNotNull, 1L).otherwise(0L))
              .as("n_matched"),
            sum(when(col("s_ts").isNotNull,
              unix_micros(col("p_ts")) - unix_micros(col("s_ts")))
              .otherwise(0L)).as("latency_us"))
          .orderBy("user_id")
      },
      Some("""WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts
             |  FROM events WHERE event_type = 'purchase'),
             |s AS (SELECT user_id AS s_user, CAST(ts AS TIMESTAMP) AS s_ts,
             |    max(event_id) AS s_event
             |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
             |j AS (SELECT p.user_id, p.p_ts, s.s_ts FROM p ASOF LEFT JOIN s
             |  ON p.user_id = s.s_user AND s.s_ts <= p.p_ts)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_purch,
             |  CAST(SUM(CASE WHEN s_ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
             |  CAST(SUM(CASE WHEN s_ts IS NOT NULL THEN epoch_us(p_ts) - epoch_us(s_ts) ELSE 0 END) AS BIGINT) AS latency_us
             |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // q321 — BITMAP-INDEX set intersection: the full event_type × type
    // audience-overlap matrix computed on fixed-width user bitmaps —
    // one BIGINT per 64-user block per type (bit_or of 1<<user%64) —
    // instead of user-grain distinct sets. The intersection is then a
    // block-keyed equi-join of 64× compressed rows, AND + popcount:
    // the shuffle carries |users|/64 longs per type where the distinct
    // form carries |users| rows per PAIR — this is the roaring-bitmap
    // principle on Spark primitives, and at 100 TB it is the
    // difference between a metadata join and 25 user-grain set
    // intersections. Popcount of a two's-complement long equals the
    // UBIGINT popcount bit-for-bit (the oracle shifts unsigned because
    // DuckDB overflow-checks 1::BIGINT << 63). Cross-checked against
    // direct DISTINCT-INTERSECT counts at all SFs.
    QuerySpec("q321_bitmap_intersect",
      (s, dir) => {
        val bm = Tables.load(s, dir, "events")
          .groupBy(col("event_type").as("et"),
            expr("user_id div 64").as("blk"))
          .agg(expr(
            "bit_or(shiftleft(cast(1 as bigint), cast(user_id % 64 as int)))")
            .as("b"))
          .persistTracked()
        bm.select(col("et").as("et1"), col("blk"), col("b").as("b1"))
          .join(bm.select(col("et").as("et2"), col("blk"), col("b").as("b2")),
            Seq("blk"))
          .filter(col("et1") <= col("et2"))
          .groupBy("et1", "et2")
          .agg(sum(expr("bit_count(b1 & b2)")).cast("long").as("n_users"))
          .orderBy("et1", "et2")
      },
      Some("""WITH bm AS (SELECT event_type AS et, user_id // 64 AS blk,
             |    bit_or(CAST(1 AS UBIGINT) << CAST(user_id % 64 AS INTEGER)) AS b
             |  FROM events GROUP BY 1, 2),
             |px AS (SELECT a.et AS et1, c.et AS et2, bit_count(a.b & c.b) AS n
             |  FROM bm a JOIN bm c ON a.blk = c.blk AND a.et <= c.et)
             |SELECT et1, et2, CAST(SUM(n) AS BIGINT) AS n_users
             |FROM px GROUP BY et1, et2 ORDER BY et1, et2""".stripMargin)),

    // q335 — sequential pattern mining (PrefixSpan's length-2/3 rung):
    // per user, event types ordered by FIRST occurrence; every ordered
    // pair and triple of that sequence is a pattern, counted by how many
    // users exhibit it. Sequence assembly is one (user, type) min-ts
    // aggregate; pattern generation is SCAN-LOCAL HOF combination over
    // the per-user sorted array (≤ 5 symbols ⇒ ≤ C(5,2)+C(5,3) rows per
    // user, bounded by the type alphabet, linear in users) — never the
    // 3-way self-join the oracle uses, which explodes at corpus scale.
    // Index order on the (t0, type)-sorted array ≡ the oracle's
    // lexicographic (t0, type) strict inequality: per-user types are
    // distinct, so all sort keys are distinct and ties cannot differ.
    QuerySpec("q335_seq_patterns",
      (s, dir) => {
        val f = Tables.load(s, dir, "events")
          .groupBy(col("user_id"), col("event_type"))
          .agg(min("ts").as("t0"))
        val seqd = f.groupBy("user_id")
          .agg(sort_array(collect_list(struct(col("t0"), col("event_type"))))
            .as("sq"))
          .select(col("user_id"),
            expr("transform(sq, x -> x.event_type)").as("tl"))
          .persistTracked()
        val pairs = seqd.filter(size(col("tl")) >= 2)
          .select(explode(expr(
            """flatten(transform(sequence(1, size(tl) - 1), i ->
              |  transform(sequence(i + 1, size(tl)), j ->
              |    concat(element_at(tl, i), '>', element_at(tl, j)))))"""
              .stripMargin)).as("pattern"))
          .withColumn("plen", lit(2))
        val triples = seqd.filter(size(col("tl")) >= 3)
          .select(explode(expr(
            """flatten(flatten(transform(sequence(1, size(tl) - 2), i ->
              |  transform(sequence(i + 1, size(tl) - 1), j ->
              |    transform(sequence(j + 1, size(tl)), k ->
              |      concat(element_at(tl, i), '>', element_at(tl, j), '>',
              |             element_at(tl, k)))))))""".stripMargin)).as("pattern"))
          .withColumn("plen", lit(3))
        pairs.union(triples)
          .groupBy("pattern", "plen")
          .agg(count(lit(1)).as("n_users"))
          .orderBy(desc("n_users"), col("pattern"))
      },
      Some("""WITH f AS (SELECT user_id, event_type, min(ts) AS t0
             |          FROM events GROUP BY 1, 2),
             |pr AS (SELECT a.event_type || '>' || b.event_type AS pattern,
             |         2 AS plen, a.user_id
             |       FROM f a JOIN f b ON a.user_id = b.user_id
             |        AND (a.t0 < b.t0 OR (a.t0 = b.t0 AND a.event_type < b.event_type))),
             |tr AS (SELECT a.event_type || '>' || b.event_type || '>' || c.event_type,
             |         3 AS plen, a.user_id
             |       FROM f a JOIN f b ON a.user_id = b.user_id
             |        AND (a.t0 < b.t0 OR (a.t0 = b.t0 AND a.event_type < b.event_type))
             |       JOIN f c ON b.user_id = c.user_id
             |        AND (b.t0 < c.t0 OR (b.t0 = c.t0 AND b.event_type < c.event_type))),
             |u AS (SELECT * FROM pr UNION ALL SELECT * FROM tr)
             |SELECT pattern, CAST(plen AS INTEGER) AS plen,
             |  CAST(count(*) AS BIGINT) AS n_users
             |FROM u GROUP BY 1, 2 ORDER BY n_users DESC, pattern""".stripMargin)),

    // q359 — cohort LTV curves (cumulative revenue per signup-DAY
    // cohort by day age — the revenue complement of q103's retention
    // counts): cohort assignment and ages use the survival family's
    // µs-epoch integer day arithmetic (integer div parity; calendar
    // functions differ across engines), revenue is the exact decimal
    // sum, and the cumulation window runs over the cohort×age frame —
    // bounded by calendar², not corpus. ltv_per_user is one double
    // division per cell.
    QuerySpec("q359_cohort_ltv",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events").persistTracked()
        val su = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min("ts").as("st"))
        val pur = ev.filter(col("event_type") === "purchase")
          .join(su, "user_id")
          .filter(col("ts") >= col("st"))
          .select(col("user_id"),
            date_format(col("st"), "yyyy-MM-dd").as("cohort"),
            (expr("unix_micros(ts) div 86400000000")
              - expr("unix_micros(st) div 86400000000")).as("age"),
            col("value").cast("decimal(18,2)").as("v"))
          .persistTracked()
        val cs = pur.groupBy("cohort")
          .agg(countDistinct("user_id").as("n_users"))
        val w = Window.partitionBy("cohort").orderBy("age")
          .rowsBetween(Window.unboundedPreceding, 0)
        pur.groupBy("cohort", "age").agg(sum("v").as("rev"))
          .withColumn("cum_rev", sum("rev").over(w))
          .join(cs, "cohort")
          .select(col("cohort"), col("age").cast("int").as("age"),
            col("n_users"),
            col("rev").cast("decimal(28,2)").cast("double").as("rev"),
            col("cum_rev").cast("decimal(28,2)").cast("double").as("cum_rev"),
            (col("cum_rev").cast("double") / col("n_users"))
              .as("ltv_per_user"))
          .orderBy("cohort", "age")
      },
      Some("""WITH su AS (SELECT user_id, min(ts) AS st FROM events
             |      WHERE event_type = 'signup' GROUP BY 1),
             |pur AS (SELECT e.user_id, strftime(su.st, '%Y-%m-%d') AS cohort,
             |        epoch_us(CAST(e.ts AS TIMESTAMP)) // 86400000000
             |          - epoch_us(CAST(su.st AS TIMESTAMP)) // 86400000000 AS age,
             |        CAST(e.value AS DECIMAL(18,2)) AS v
             |      FROM events e JOIN su ON e.user_id = su.user_id
             |      WHERE e.event_type = 'purchase' AND e.ts >= su.st),
             |cs AS (SELECT cohort, count(DISTINCT user_id) AS n_users
             |       FROM pur GROUP BY 1),
             |m AS (SELECT cohort, age, SUM(v) AS rev FROM pur GROUP BY 1, 2),
             |c AS (SELECT cohort, age, rev,
             |        SUM(rev) OVER (PARTITION BY cohort ORDER BY age
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
             |      FROM m)
             |SELECT c.cohort AS cohort, CAST(c.age AS INTEGER) AS age,
             |  CAST(cs.n_users AS BIGINT) AS n_users,
             |  CAST(CAST(c.rev AS DECIMAL(28,2)) AS DOUBLE) AS rev,
             |  CAST(CAST(c.cum_rev AS DECIMAL(28,2)) AS DOUBLE) AS cum_rev,
             |  CAST(c.cum_rev AS DOUBLE) / cs.n_users AS ltv_per_user
             |FROM c JOIN cs ON c.cohort = cs.cohort
             |ORDER BY cohort, age""".stripMargin)))
}

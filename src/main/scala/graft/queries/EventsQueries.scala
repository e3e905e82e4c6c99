package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Queries over the timestamped `events` table: sessions, funnels,
  * cohorts, as-of joins, resampling, attribution and event sketches. */
object EventsQueries {
  import QueryHelpers._

  val defs: Seq[QueryDef] = Seq(
    // Gap sessionization (batch path of the streaming operator) under
    // the oracle gate: same lag/cumulative-sum construction in both
    // engines. ts compared at microsecond precision on both sides.
    QueryDef("q_sessionize", (s, d) => {
      // keyed fan-out: the per-user lag/session compute otherwise runs
      // on the 1-2 AQE-coalesced post-shuffle partitions a 2 MB events
      // table produces (see StorageOps.fanOutForKey — plan untouched
      // at scale, same rows move once either way)
      val ev = ops.StorageOps.fanOutForKey(
        streaming.EventStreams.canonicalEvents(t(s, d, "events"))
          .select(col("user_id"), col("ts"), col("value")),
        col("user_id"))
      streaming.EventStreams.sessionizeBatch(ev)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"),
          dsum(col("total_value")).as("total_value"))
        .orderBy(col("user_id"))
    },
      // Mirrors EventStreams.sessionizeBatch: lag → gap>30min marks a new
      // session → cumulative sum numbers sessions → two-level aggregate.
      // ts cast to microsecond timestamp to match Spark's precision.
      """WITH e AS (SELECT user_id, cast(ts as timestamp) AS ts, value
        |           FROM events),
        |m AS (SELECT user_id, ts, value,
        |        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |               IS NULL
        |             OR epoch_us(ts) - epoch_us(lag(ts)
        |               OVER (PARTITION BY user_id ORDER BY ts))
        |               > 1800000000
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM e),
        |s AS (SELECT user_id, ts, value,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sidx
        |      FROM m),
        |g AS (SELECT user_id, sidx, count(*) AS n_ev,
        |        cast(sum(cast(value as decimal(18,2))) as double) AS tv
        |      FROM s GROUP BY user_id, sidx)
        |SELECT user_id, count(*) AS n_sessions,
        |  cast(sum(n_ev) as bigint) AS n_events,
        |  cast(sum(cast(tv as decimal(18,2))) as double) AS total_value
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
      key = "ses"),

    // Native session_window sessionization (Spark's built-in gap
    // windows, usable batch AND streaming) — same 30-minute gap as
    // q_sessionize; the oracle rebuilds sessions via lag/cumsum with
    // the session_window boundary rule (a gap of EXACTLY the window
    // size starts a new session; end = last event + gap).
    QueryDef("q_session_window", (s, d) => {
      // keyed fan-out — see q_sessionize
      val ev = ops.StorageOps.fanOutForKey(
        streaming.EventStreams.canonicalEvents(t(s, d, "events"))
          .select(col("user_id"), col("ts"), col("value")),
        col("user_id"))
      ev.groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"),
          col("total_value"))
        .orderBy(col("user_id"), col("session_start"))
    },
      // session_window boundary rule: gap >= 30min starts a NEW session
      // (q_sessionize's hand-rolled variant uses strictly-greater; the
      // native operator opens a new session at exact-gap boundaries);
      // session_end = last event + gap.
      """WITH e AS (SELECT user_id, cast(ts as timestamp) AS ts, value
        |           FROM events),
        |m AS (SELECT user_id, ts, value,
        |        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |               IS NULL
        |             OR epoch_us(ts) - epoch_us(lag(ts)
        |               OVER (PARTITION BY user_id ORDER BY ts))
        |               >= 1800000000
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM e),
        |s AS (SELECT user_id, ts, value,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sidx
        |      FROM m)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events,
        |  cast(sum(cast(value as decimal(18,2))) as double) AS total_value
        |FROM s GROUP BY user_id, sidx
        |ORDER BY user_id, session_start""".stripMargin,
      key = "swn"),

    // KMV distinct-value sketch set algebra (functions.Kmv): the
    // click-user and view-user populations sketched independently
    // (two ~2 KB artifacts), then compared by union / intersection /
    // Jaccard WITHOUT a join — the corpus-release-overlap audit at
    // 100 TB, where the exact distinct-join is the cost being avoided.
    // Exact counterparts computed alongside for the audit columns;
    // estimates are not SQL-expressible → rows-only; KmvSpec gates
    // exhaustive-regime exactness, the error bound, merge==whole
    // byte-identity, and partition determinism.
    QueryDef("q_kmv_overlap", (s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
      def users(et: String) =
        ev.filter(col("event_type") === et).select(col("user_id"))
      def sketchOf(et: String): Array[Byte] =
        users(et).agg(graft.functions.Kmv.kmvSketch(
          col("user_id").cast("string"), 512)).head.getAs[Array[Byte]](0)
      val (ca, cb) = (sketchOf("click"), sketchOf("view"))
      val exactClick = users("click").distinct().count()
      val exactView = users("view").distinct().count()
      val exactCommon = users("click").intersect(users("view")).count()
      Seq((exactClick, exactView, exactCommon,
        math.rint(graft.functions.KmvBuffer.estimate(ca) * 100) / 100,
        math.rint(graft.functions.KmvBuffer.estimate(cb) * 100) / 100,
        math.rint(graft.functions.KmvBuffer.intersection(ca, cb) * 100) / 100,
        math.rint(graft.functions.KmvBuffer.jaccard(ca, cb) * 1e4) / 1e4))
        .toDF("n_click", "n_view", "n_common",
          "est_click", "est_view", "est_common", "jaccard_est")
    },
      kmvOracleSql,
      key = "kmv"),

    // Key-distribution skew diagnostics: per event type, the numbers
    // that decide whether a key needs salting BEFORE a join/agg ships
    // — distinct keys, Shannon entropy of the key distribution (low
    // entropy = concentrated), and the share of the hottest key. Two
    // chained aggregations (events → per-key counts → per-type stats);
    // the entropy terms go through the round-then-DECIMAL-sum
    // discipline so the result is shuffle-order-exact. Compare
    // q_skew_join / q_salted_agg, which act on what this measures.
    QueryDef("q_skew_profile", (s, d) => {
      val perKey = t(s, d, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      // per-type totals as a broadcast tiny table, NOT a window over
      // the per-key rows — a whole-partition window would serialize
      // each type at billions of distinct keys
      val totals = perKey.groupBy(col("event_type"))
        .agg(sum(col("n")).as("total"))
      val p = col("n").cast("double") / col("total")
      perKey
        .join(broadcast(totals), Seq("event_type"))
        .withColumn("term",
          round(-p * log(p), 12).cast(DecimalType(28, 14)))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("n")).as("n_rows"),
          round(sum(col("term")).cast("double"), 6).as("entropy"),
          round(max(col("n")).cast("double") / max(col("total")), 6)
            .as("top1_share"))
        .orderBy(col("event_type"))
    },
      """WITH pk AS (
        |  SELECT event_type, user_id, count(*) AS n
        |  FROM events GROUP BY event_type, user_id),
        |tt AS (
        |  SELECT event_type, cast(sum(n) as bigint) AS total
        |  FROM pk GROUP BY event_type),
        |terms AS (
        |  SELECT pk.event_type, n, total,
        |    cast(round(-(cast(n as double) / total)
        |        * ln(cast(n as double) / total), 12)
        |      as decimal(28,14)) AS term
        |  FROM pk JOIN tt ON pk.event_type = tt.event_type)
        |SELECT event_type, count(*) AS n_keys,
        |  cast(sum(n) as bigint) AS n_rows,
        |  round(cast(sum(term) as double), 6) AS entropy,
        |  round(cast(max(n) as double) / max(total), 6) AS top1_share
        |FROM terms GROUP BY event_type ORDER BY event_type""".stripMargin,
      key = "skp"),

    // Incremental aggregate maintenance: the last 20% of the event
    // timeline is the "new batch"; per-(type, day) partial aggregates
    // over the OLD state and the DELTA are merged by re-aggregation —
    // counts add, sums add EXACTLY because partials stay DECIMAL until
    // the final cast. The oracle recomputes directly over all events,
    // so the hash match IS the proof that merge(state, delta) ==
    // recompute — the correctness property a daily materialized-view
    // refresh at 100 TB depends on (there the state side is a stored
    // table and only the delta is scanned; the merge shape is
    // identical).
    QueryDef("q_incr_agg", (s, d) => {
      val dayNs = 86400000000000L
      val ev = t(s, d, "events")
        .select(col("event_type"), expr(s"ts div $dayNs").as("day"),
          col("value"))
      val bounds = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .selectExpr("d0 + (4 * (d1 - d0)) div 5 AS cut")
      val cut = ev.crossJoin(broadcast(bounds))
      def partial(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(18, 2))).as("sv"))
      val state = partial(cut.filter(col("day") < col("cut")))
      val delta = partial(cut.filter(col("day") >= col("cut")))
      state.union(delta)
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("n")).as("n_events"),
          sum(col("sv")).cast("double").as("total_value"))
        .orderBy(col("event_type"), col("day"))
    },
      // the oracle is the DIRECT recompute — hash match proves the
      // state+delta merge exact
      """SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |  count(*) AS n_events,
        |  cast(sum(cast(value as decimal(18,2))) as double) AS total_value
        |FROM events GROUP BY event_type, day
        |ORDER BY event_type, day""".stripMargin,
      key = "icg"),

    // Time-weighted average of the event value per user (TWAP) — the
    // irregular-sampling mean a metrics/finance stack needs: each
    // interval weights its LEFT endpoint's value by the interval
    // length. ALL-INTEGER arithmetic: values become exact cents
    // (round(value·100) — integer-scale rounding, cross-engine safe),
    // intervals become milliseconds by integer div, and the per-user
    // sums are long products — the only float op is the final output
    // division. One window on (user, ts) + one aggregate, co-keyed.
    QueryDef("q_twap", (s, d) => {
      t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("dt_ms",
          expr("(lead(ts, 1) OVER (PARTITION BY user_id " +
            "ORDER BY ts, event_id) - ts) div 1000000"))
        .filter(col("dt_ms").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("dt_ms")).as("total_ms"),
          sum(col("cents") * col("dt_ms")).as("num"))
        .select(col("user_id"), col("n_intervals"), col("total_ms"),
          round(col("num").cast("double")
            / (col("total_ms") * 100), 6).as("twap"))
        .orderBy(col("user_id"))
    },
      // TWAP: exact cents × millisecond intervals, all-long sums; the
      // only float op is the final output division.
      """WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |    cast(round(value * 100) AS bigint) AS cents,
        |    (epoch_us(lead(ts) OVER (PARTITION BY user_id
        |       ORDER BY ts, event_id)) - epoch_us(ts)) // 1000 AS dt_ms
        |  FROM events)
        |SELECT user_id, count(*) AS n_intervals,
        |  cast(sum(dt_ms) AS bigint) AS total_ms,
        |  round(cast(sum(cents * dt_ms) AS double)
        |    / (sum(dt_ms) * 100), 6) AS twap
        |FROM ev WHERE dt_ms IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    // As-of join (composed: union + carry-forward window, one shuffle —
    // see graft.ops.JoinOps.asofJoin): each event gets the customer's
    // most recent order at event time. Right side pre-deduped on
    // (key, time) for determinism.
    QueryDef("q_asof_join", (s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_id"), col("user_id"),
          timestamp_micros(expr("ts div 1000")).as("ts"))
      val ord = t(s, d, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      ops.JoinOps.asofJoin(ev, ord, "user_id", "o_custkey",
        "ts", "o_orderdate", Seq("o_orderkey"))
        .select(col("event_id"),
          coalesce(col("asof_o_orderkey"), lit(-1L)).as("last_orderkey"))
        .orderBy(col("event_id"))
    },
      asofJoinOracleSql,
      key = "aj"),

    // The SAME as-of join through the custom planner path (logical
    // AsofJoinPlan → AsofJoinStrategy → sorted-merge AsofJoinExec,
    // registered via SparkSessionExtensions): one Exchange + Sort per
    // side, one forward-only merge pass per partition. Byte-identical
    // to q_asof_join — shares its DuckDB ASOF JOIN oracle.
    QueryDef("q_asof_join_native", (s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_id"), col("user_id"),
          timestamp_micros(expr("ts div 1000")).as("ts"))
      val ord = t(s, d, "orders")
        .groupBy(col("o_custkey"),
          col("o_orderdate").cast("timestamp").as("o_ts"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      plans.AsofJoin.asofJoin(s, ev, ord, "user_id", "o_custkey",
        "ts", "o_ts", Seq("o_orderkey"))
        .select(col("event_id"),
          coalesce(col("asof_o_orderkey"), lit(-1L)).as("last_orderkey"))
        .orderBy(col("event_id"))
    },
      asofJoinOracleSql,
      key = "ajn"),

    // Salted fact⋈dim equi-join (SkewOps.saltedJoin): event_type has
    // only 5 values, each ~20% of the fact — at cluster scale a plain
    // shuffle join lands the whole table on 5 reducers. Salting splits
    // every hot key `salts` ways (dim rows replicate — dims are small
    // by definition, facts are not). The oracle is the PLAIN join:
    // hash-matching it proves the salted plan is row-identical.
    QueryDef("q_skew_join", (s, d) => {
      val ev = t(s, d, "events")
      val dim = ev.select(col("event_type").as("et")).distinct()
        .withColumn("type_weight", length(col("et")).cast("double"))
      // shuffle_hash hint: the testdata dim would otherwise broadcast
      // (making the salt vacuous locally); the scenario being modeled
      // is a dim big enough to shuffle
      ops.SkewOps.saltedJoin(ev, dim.hint("shuffle_hash"), "event_type",
        "et", saltFrom = col("event_id"), salts = 8)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          dsum(col("value") * col("type_weight")).as("weighted_value"))
        .orderBy(col("event_type"))
    },
      // the PLAIN join — hash-matching it proves the salted plan is
      // row-identical to unsalted semantics
      s"""WITH dim AS (
         |  SELECT DISTINCT event_type AS et,
         |    cast(length(event_type) as double) AS type_weight
         |  FROM events)
         |SELECT event_type, count(*) AS n,
         |  ${dsumSql("value * type_weight")} AS weighted_value
         |FROM events JOIN dim ON event_type = et
         |GROUP BY event_type ORDER BY event_type""".stripMargin,
      key = "skj"),

    // Tumbling-hour aggregation over the event stream. ts arrives as a
    // nanosecond-epoch long (see Tables.load); integer `div` keeps the
    // truncation exact (a double division would lose precision above
    // 2^53 ns).
    QueryDef("q_events_hourly", (s, d) => {
      val hourUs = expr("ts div 3600000000000") * lit(3600000000L)
      t(s, d, "events")
        .groupBy(timestamp_micros(hourUs).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .orderBy(col("hour"), col("event_type"))
    },
      s"""SELECT date_trunc('hour', ts) AS hour, event_type,
         |  count(*) AS n, ${dsumSql("value")} AS total_value
         |FROM events GROUP BY hour, event_type
         |ORDER BY hour, event_type""".stripMargin,
      key = "ehr"),

    // Cohort retention — the day-offset activity triangle every
    // product-analytics stack ships: users cohort by FIRST-event day;
    // each (cohort day, day offset) cell counts the distinct users
    // still active that many days later, plus the retention
    // percentage against the cohort size. Three aggregations + one
    // join, ALL keyed on user_id or the cohort day (at 100 TB the
    // events⋈first-day join co-keys on user_id — the funnel family's
    // partitioning — and the cells/sizes tables are days-sized).
    QueryDef("q_cohort_retention", (s, d) => {
      // ts is epoch nanos (the Tables.events contract); days are
      // integer epoch-day numbers so the arithmetic is exact
      val ev = t(s, d, "events")
        .select(col("user_id"),
          expr("ts div 86400000000000").as("day"))
      val first = ev.groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort_day"))
      val sizes = first.groupBy(col("cohort_day"))
        .agg(count(lit(1)).as("cohort_n"))
      ev.join(first, Seq("user_id"))
        .groupBy(col("cohort_day"),
          (col("day") - col("cohort_day")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .join(sizes, Seq("cohort_day"))
        .select(col("cohort_day"), col("day_offset"), col("n_active"),
          col("cohort_n"),
          round(col("n_active").cast("double") * 100 / col("cohort_n"), 4)
            .as("retention_pct"))
        .orderBy(col("cohort_day"), col("day_offset"))
    },
      // Cohort retention: integer epoch-day numbers on both sides
      // (micros // 86400e6 == nanos div 86400e9).
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day
        |      FROM ev GROUP BY user_id),
        |s AS (SELECT cohort_day, count(*) AS cohort_n
        |      FROM f GROUP BY cohort_day),
        |a AS (SELECT f.cohort_day, ev.day - f.cohort_day AS day_offset,
        |             count(DISTINCT ev.user_id) AS n_active
        |      FROM ev JOIN f ON ev.user_id = f.user_id
        |      GROUP BY 1, 2)
        |SELECT a.cohort_day, a.day_offset, a.n_active, s.cohort_n,
        |  round(cast(a.n_active AS double) * 100 / s.cohort_n, 4)
        |    AS retention_pct
        |FROM a JOIN s ON a.cohort_day = s.cohort_day
        |ORDER BY a.cohort_day, day_offset""".stripMargin,
      key = "coh"),

    // Ordered-funnel analysis (view → click-within-24h →
    // purchase-within-24h): per user, each step's timestamp is the
    // FIRST occurrence strictly after the previous step and inside
    // its conversion window — three conditional-min aggregation
    // passes, each a co-keyed join+agg on user_id (the sequential
    // dependency is inherent to funnel semantics; all three shuffles
    // share the user_id key, so at cluster scale they pipeline over
    // one partitioning). Output: one row of per-step user counts
    // (150 → 60 → 25 at sf0.01).
    QueryDef("q_funnel", (s, d) => {
      val dayNs = 86400000000000L // ts is an epoch-nanos long here
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, Seq("user_id"))
        .filter(col("ts") > col("t1") && col("ts") <= col("t1") + dayNs)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, Seq("user_id"))
        .filter(col("ts") > col("t2") && col("ts") <= col("t2") + dayNs)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      s1.agg(count(lit(1)).as("n_view"))
        .crossJoin(s2.agg(count(lit(1)).as("n_view_click")))
        .crossJoin(s3.agg(count(lit(1)).as("n_view_click_purchase")))
    },
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2
        |       FROM events e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1
        |         AND e.ts <= s1.t1 + INTERVAL '24 hours'
        |       GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3
        |       FROM events e JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |         AND e.ts <= s2.t2 + INTERVAL '24 hours'
        |       GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM s1) AS n_view,
        |  (SELECT count(*) FROM s2) AS n_view_click,
        |  (SELECT count(*) FROM s3) AS n_view_click_purchase""".stripMargin,
      key = "fnl"),

    // Event-log compaction / debounce: drop events repeating the same
    // (user, type) within 5 minutes of the previous occurrence — the
    // at-source thinning step before sessionization or feature
    // extraction. Lag-based (throttle against the previous RAW event:
    // deterministic and one window pass; a throttle against the
    // previous KEPT event would be a stateful chain — that shape
    // lives in streaming sessionize). Output: per-type keep counts.
    QueryDef("q_event_compact", (s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("tsc"), col("event_id"))
      t(s, d, "events")
        .withColumn("tsc", timestamp_micros(expr("ts div 1000")))
        .withColumn("prev", lag(col("tsc"), 1).over(w))
        .withColumn("kept", col("prev").isNull ||
          unix_micros(col("tsc")) - unix_micros(col("prev")) > 300000000L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("event_type"))
    },
      """WITH x AS (
        |  SELECT event_type, epoch_us(ts) AS tus,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT event_type, count(*) AS n_total,
        |  cast(sum(CASE WHEN prev IS NULL OR tus - prev > 300000000
        |    THEN 1 ELSE 0 END) as bigint) AS n_kept
        |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin,
      key = "ecp"),

    // Hourly-count anomaly flags (z-score > 2 per event type): the
    // monitoring query over an event firehose. Per-type mean/stddev
    // come from a tiny aggregate broadcast back onto the hourly frame
    // — NOT a whole-partition window, whose parallelism would be
    // capped at the (small) number of types at cluster scale. Counts
    // are integers, so the double stats are exact and the rounded
    // z-scores cross-engine stable.
    QueryDef("q_anomaly", (s, d) => {
      val hourUs = expr("ts div 3600000000000") * lit(3600000000L)
      val hourly = t(s, d, "events")
        .groupBy(col("event_type"), timestamp_micros(hourUs).as("hour"))
        .agg(count(lit(1)).cast("double").as("n"))
      val stats = hourly.groupBy(col("event_type"))
        .agg(avg(col("n")).as("mu"), stddev_samp(col("n")).as("sd"))
      hourly.join(broadcast(stats), Seq("event_type"))
        .withColumn("z", (col("n") - col("mu")) / col("sd"))
        // sd = 0 (a perfectly constant-rate type) would make z = 0/0 =
        // NaN, and NaN compares GREATER than 2.0 under Spark's total
        // ordering — guard so a constant type is never flagged
        .filter(col("sd") > 0.0 && abs(col("z")) > 2.0)
        .select(col("event_type"), col("hour"),
          col("n").cast("bigint").as("n"), round(col("z"), 4).as("z"))
        .orderBy(col("event_type"), col("hour"))
    },
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |    cast(count(*) as double) AS n
        |  FROM events GROUP BY event_type, hour),
        |stats AS (
        |  SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sd
        |  FROM hourly GROUP BY event_type)
        |SELECT hourly.event_type, hour, cast(n as bigint) AS n,
        |  round((n - mu) / sd, 4) AS z
        |FROM hourly JOIN stats USING (event_type)
        |WHERE sd > 0.0 AND abs((n - mu) / sd) > 2.0
        |ORDER BY event_type, hour""".stripMargin,
      key = "ano"),

    // Hopping (sliding) window counts: 1-hour windows every 30
    // minutes — each event lands in exactly 2 windows. Same operator
    // serves streaming inputs (EventStreams.windowedStats; the
    // streaming==batch equivalence is EventStreamsSpec-gated); counts
    // only in the declared output so the oracle compare stays exact.
    QueryDef("q_events_sliding", (s, d) => {
      val ev = streaming.EventStreams.canonicalEvents(t(s, d, "events"))
      streaming.EventStreams
        .windowedStats(ev, "1 hour", slide = Some("30 minutes"))
        .select(col("window_start").as("ws"), col("event_type"), col("n"))
        .orderBy(col("ws"), col("event_type"))
    },
      """SELECT make_timestamp(
        |    (epoch_us(ts) // 1800000000 - o) * 1800000000) AS ws,
        |  event_type, count(*) AS n
        |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS o)
        |GROUP BY ws, event_type ORDER BY ws, event_type""".stripMargin,
      key = "esl"),

    // Regular-grid resample + forward fill (the feature-store
    // alignment op): per user, one row per hour bucket across the
    // user's observed range, valued at the most recent event at or
    // before the bucket close. Grid generated per key from a min/max
    // aggregate, filled by ONE per-key ordered window — no self-join,
    // no global sort; the oracle replays it as an ASOF join.
    QueryDef("q_resample_ffill", (s, d) => {
      ops.TimeSeriesOps.resampleFfill(t(s, d, "events"),
          "user_id", "ts", "event_id", "value")
        .orderBy(col("user_id"), col("bucket"))
    },
      // each event belongs to the two 30-min-aligned windows covering it
      // The fill replayed as an ASOF join: sample instant = bucket close
      // (in micros — the Spark side's nanos are micros*1000, so the
      // boundary arithmetic is exact in both engines); same-instant
      // observations reduce by arg_max(value, event_id) first.
      """WITH ev0 AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |                    value FROM events),
        |ev AS (SELECT user_id, us, arg_max(value, event_id) AS value
        |       FROM ev0 GROUP BY user_id, us),
        |b AS (SELECT user_id, min(us // 3600000000) AS lo,
        |             max(us // 3600000000) AS hi
        |      FROM ev0 GROUP BY user_id),
        |grid AS (SELECT user_id, unnest(generate_series(lo, hi))
        |           AS bucket FROM b),
        |g AS (SELECT user_id, bucket,
        |             (bucket + 1) * 3600000000 - 1 AS sus FROM grid)
        |SELECT g.user_id, g.bucket, e.value
        |FROM g ASOF JOIN ev e
        |  ON g.user_id = e.user_id AND g.sus >= e.us
        |ORDER BY g.user_id, g.bucket""".stripMargin,
      key = "rff"),

    // Click-attribution join (batch mirror of the watermarked
    // stream-stream join in EventStreams.clickAttribution): each click
    // paired with same-user views in the preceding 30 minutes.
    QueryDef("q_attribution", (s, d) => {
      val ev = streaming.EventStreams.canonicalEvents(t(s, d, "events"))
      streaming.EventStreams.clickAttribution(ev, horizon = "4 hours")
        .groupBy(col("click_user").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          max(col("view_id")).as("max_view"))
        .orderBy(col("user_id"))
    },
      """WITH c AS (SELECT event_id, user_id, cast(ts as timestamp) AS ts
        |           FROM events WHERE event_type = 'click'),
        |     v AS (SELECT event_id, user_id, cast(ts as timestamp) AS ts
        |           FROM events WHERE event_type = 'view')
        |SELECT c.user_id AS user_id, count(*) AS n_pairs,
        |  max(v.event_id) AS max_view
        |FROM c JOIN v ON c.user_id = v.user_id
        |  AND v.ts <= c.ts
        |  AND v.ts >= c.ts - INTERVAL 4 HOUR
        |GROUP BY c.user_id ORDER BY user_id""".stripMargin,
      key = "att"),

    // Last-touch attribution: the nearest-only variant of
    // q_attribution — each click resolves to its single most recent
    // qualifying view (deterministic tie-break), under the oracle.
    QueryDef("q_attribution_last", (s, d) => {
      val ev = streaming.EventStreams.canonicalEvents(t(s, d, "events"))
      streaming.EventStreams.lastTouchAttribution(ev, horizon = "4 hours")
        .select(col("click_id"), col("user_id"), col("view_id"))
        .orderBy(col("click_id"))
    },
      """WITH c AS (SELECT event_id, user_id, cast(ts as timestamp) AS ts
        |           FROM events WHERE event_type = 'click'),
        |     v AS (SELECT event_id, user_id, cast(ts as timestamp) AS ts
        |           FROM events WHERE event_type = 'view'),
        |p AS (SELECT c.event_id AS click_id, c.user_id AS user_id,
        |        v.event_id AS view_id,
        |        row_number() OVER (PARTITION BY c.event_id
        |          ORDER BY v.ts DESC, v.event_id DESC) AS rn
        |      FROM c JOIN v ON c.user_id = v.user_id
        |        AND v.ts <= c.ts
        |        AND v.ts >= c.ts - INTERVAL 4 HOUR)
        |SELECT click_id, user_id, view_id FROM p WHERE rn = 1
        |ORDER BY click_id""".stripMargin,
      key = "atl"),

    // Semi-structured JSON extraction from the props column.
    QueryDef("q_events_json", (s, d) => {
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(get_json_object(col("props"), "$.k").cast("bigint")).as("sum_k"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, count(*) AS n,
        |  cast(sum(cast(regexp_extract(props, '"k": ([0-9]+)', 1)
        |        as bigint)) as bigint) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      key = "ejs"),

    // Time-series gap-fill / resample: hourly event counts per type
    // over the FULL hour spine (zero rows where nothing happened) —
    // the densification step before any rate/anomaly math. The spine
    // is time-range x type cardinality, INDEPENDENT of row count, so
    // at 100 TB it is still a broadcast-sized frame joined against
    // the (already aggregated) hourly counts; the fact table is read
    // once. ts is int64 nanos (TESTDATA.md); hour ids stay integer
    // until the final render to timestamp.
    QueryDef("q_events_resample", (s, d) => {
      val ev = t(s, d, "events")
        .withColumn("hr", expr("ts div 3600000000000"))
      val bounds = ev.agg(min(col("hr")).as("mn"), max(col("hr")).as("mx"))
      val hours = bounds
        .select(explode(sequence(col("mn"), col("mx"))).as("hr"))
      val types = ev.select(col("event_type")).distinct()
      val counts = ev.groupBy(col("hr"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      hours.crossJoin(types)
        .join(counts, Seq("hr", "event_type"), "left")
        .select(timestamp_micros(col("hr") * lit(3600000000L)).as("hour"),
          col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("hour"), col("event_type"))
    },
      """WITH b AS (SELECT date_trunc('hour', min(ts)) AS mn,
        |             date_trunc('hour', max(ts)) AS mx FROM events),
        |hours AS (SELECT unnest(generate_series(mn, mx,
        |            INTERVAL 1 HOUR)) AS hr FROM b),
        |types AS (SELECT DISTINCT event_type AS et FROM events),
        |c AS (SELECT date_trunc('hour', ts) AS hr, event_type,
        |        count(*) AS n FROM events GROUP BY 1, 2)
        |SELECT h.hr AS hour, t.et AS event_type,
        |  cast(coalesce(c.n, 0) as bigint) AS n
        |FROM hours h CROSS JOIN types t
        |LEFT JOIN c ON c.hr = h.hr AND c.event_type = t.et
        |ORDER BY hour, event_type""".stripMargin,
      key = "ers")
  )

  /** DuckDB mirror of the KMV overlap audit: the k=512 smallest
    * signed FNV hashes of each side's distinct user-id strings (one
    * vocabulary-sized recursion; seed = the golden-ratio constant,
    * its wrapped self-product precomputed with JVM arithmetic),
    * estimates via (k-1)/unit(kth-min) with the exact unit() float
    * chain, theta-style union/jaccard/intersection over the k-min
    * sets, and math.rint == round_even for the output rounding. */
  private lazy val kmvOracleSql: String = {
    val FnvPrime = 0x100000001b3L
    val Gold = 0x9e3779b97f4a7c15L
    val C1 = 0xbf58476d1ce4e5b9L
    val C2 = 0x94d049bb133111ebL
    val FnvOffset = 0xcbf29ce484222325L
    val init = FnvOffset ^ (Gold * Gold) // JVM wrap
    val stepH = sqlWrapMul(
      "xor(r2.h, ('0x' || substr(b.hx, 2*r2.pos + 1, 2))::BIGINT)",
      FnvPrime)
    val mix1 = sqlWrapMul(s"xor(h, ${sqlUshr("h", 30)})", C1)
    val mix2 = sqlWrapMul(s"xor(h, ${sqlUshr("h", 27)})", C2)
    val unit = "((mx::DOUBLE - (-9.223372036854776e18) + 1.0) / " +
      "1.8446744073709552e19)"
    val estExpr = s"CASE WHEN sz < 512 THEN sz::DOUBLE " +
      s"ELSE 511.0 / $unit END"
    s"""WITH RECURSIVE
       |us AS (SELECT DISTINCT event_type,
       |         cast(user_id as varchar) AS s
       |       FROM events WHERE event_type IN ('click', 'view')),
       |tb AS (SELECT s, hex(encode(s)) AS hx,
       |         octet_length(encode(s)) AS len
       |       FROM (SELECT DISTINCT s FROM us)),
       |rec(s, pos, h) AS (
       |  SELECT s, 0, ${init}::BIGINT FROM tb
       |  UNION ALL
       |  SELECT r2.s, r2.pos + 1, $stepH
       |  FROM rec r2 JOIN tb b ON b.s = r2.s WHERE r2.pos < b.len),
       |fin AS (SELECT r2.s, r2.h FROM rec r2
       |        JOIN tb b ON b.s = r2.s WHERE r2.pos = b.len),
       |m1 AS (SELECT s, $mix1 AS h FROM fin),
       |m2 AS (SELECT s, $mix2 AS h FROM m1),
       |th AS (SELECT s, xor(h, ${sqlUshr("h", 31)}) AS h FROM m2),
       |ka AS (SELECT h FROM (SELECT DISTINCT th.h FROM us
       |         JOIN th ON th.s = us.s WHERE event_type = 'click')
       |       ORDER BY h LIMIT 512),
       |kb AS (SELECT h FROM (SELECT DISTINCT th.h FROM us
       |         JOIN th ON th.s = us.s WHERE event_type = 'view')
       |       ORDER BY h LIMIT 512),
       |ku AS (SELECT h FROM (SELECT h FROM ka
       |         UNION SELECT h FROM kb)
       |       ORDER BY h LIMIT 512),
       |ea AS (SELECT count(*) AS sz, max(h) AS mx FROM ka),
       |eb AS (SELECT count(*) AS sz, max(h) AS mx FROM kb),
       |eu AS (SELECT count(*) AS sz, max(h) AS mx FROM ku),
       |jc AS (SELECT
       |    CASE WHEN (SELECT count(*) FROM ku) = 0 THEN 0.0
       |         ELSE (SELECT count(*) FROM ku u
       |               WHERE u.h IN (SELECT h FROM ka)
       |                 AND u.h IN (SELECT h FROM kb))::DOUBLE /
       |              (SELECT count(*) FROM ku) END AS j),
       |ex AS (SELECT
       |  (SELECT count(DISTINCT user_id) FROM events
       |   WHERE event_type = 'click') AS n_click,
       |  (SELECT count(DISTINCT user_id) FROM events
       |   WHERE event_type = 'view') AS n_view,
       |  (SELECT count(*) FROM
       |    (SELECT DISTINCT user_id FROM events
       |     WHERE event_type = 'click'
       |     INTERSECT
       |     SELECT DISTINCT user_id FROM events
       |     WHERE event_type = 'view')) AS n_common)
       |SELECT ex.n_click, ex.n_view, ex.n_common,
       |  round_even((SELECT $estExpr FROM ea) * 100, 0) / 100
       |    AS est_click,
       |  round_even((SELECT $estExpr FROM eb) * 100, 0) / 100
       |    AS est_view,
       |  round_even(jc.j * (SELECT $estExpr FROM eu) * 100, 0) / 100
       |    AS est_common,
       |  round_even(jc.j * 1e4, 0) / 1e4 AS jaccard_est
       |FROM ex, jc""".stripMargin
  }

  private lazy val asofJoinOracleSql: String =
    """WITH ord AS (SELECT o_custkey, o_orderdate,
      |               max(o_orderkey) AS o_orderkey
      |             FROM orders GROUP BY o_custkey, o_orderdate)
      |SELECT e.event_id, coalesce(o.o_orderkey, -1) AS last_orderkey
      |FROM events e ASOF LEFT JOIN ord o
      |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
      |ORDER BY e.event_id""".stripMargin
}

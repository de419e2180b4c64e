package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics over the `events` table — sessionization, ordered
  * funnels and cohort retention, the clickstream/telemetry operators a user
  * of the engine runs alongside the metric queries (q5-q9).
  *
  * Scale design shared by all three: the ONLY wide exchange is on
  * `user_id` — the natural key, so at 100 TB each of these is one shuffle
  * (or zero if the event log is already bucketed by user) followed by
  * bounded per-user work. Nothing here windows or sorts the corpus
  * globally, and per-user event counts are the bounded quantity (human
  * users generate KBs/day) — the same per-group-bounded assumption as
  * a1's series assembly.
  */
object EventQueries {

  import QueryDef._

  /** 30 minutes of inactivity closes a session — the conventional web
    * analytics default. */
  val SessionGapMs: Long = 30L * 60 * 1000

  /** The four operators are frame-parameterized (any (user_id, ts, …)
    * event frame, not just the `events` table): the gate queries below
    * bind them to the test corpus (their 50 M-row timings are in SCALE.md
    * §7), and a library user points them at their own log. */
  /** Partition count for per-task-state-heavy exchanges (sort windows,
    * wide dedups), sized from the INPUT's estimated bytes instead of the
    * session-global shuffle setting. Measured basis (SCALE.md §5, 200 M
    * events on local[32]): the (user_id, ts) window's per-task sort
    * spills once rows-per-task outgrows the in-memory sort budget —
    * 6.25 M rows/task ran 119.8 s, while 256 partitions (0.8 M
    * rows/task) ran 72.4 s. The same run shows the preference is
    * PER-OPERATOR: funnelOf's object-agg DEGRADES at 256 (more tasks,
    * more per-task constant cost), so object-agg operators stay on the
    * global setting + AQE coalescing, and only the spill-prone shapes
    * self-size here. ~64 MB of estimated input per task reproduces the
    * measured sweet spot on both plan-estimated frames (Range-derived:
    * row-width × rows) and parquet scans (file bytes); never BELOW the
    * global setting, so small inputs keep their plan byte-for-byte, and
    * an explicit-numPartitions repartition is exempt from AQE coalescing
    * (the count sticks). */
  private[graft] def boundedExchangePartitions(df: DataFrame): Int = {
    val default = df.sparkSession.sessionState.conf.numShufflePartitions
    val bytesPerTask = 64L << 20
    val want = (df.queryExecution.optimizedPlan.stats.sizeInBytes / bytesPerTask)
      .min(BigInt(32768)).toInt + 1
    math.max(default, want)
  }

  def sessionsOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    ev
      // the ONE user_id exchange, rows-per-task-bounded: the window's
      // required clustering is satisfied by this partitioning, and the
      // downstream (user_id, session_no) agg clusters by a superset key —
      // Spark adds no second exchange (PlanSpec pins it)
      .repartition(boundedExchangePartitions(ev), col("user_id"))
      .withColumn("prev_ms", unix_millis(lag(col("ts"), 1).over(w)))
      .withColumn("ns",
        when(col("prev_ms").isNull
          || unix_millis(col("ts")) - col("prev_ms") > SessionGapMs, 1).otherwise(0))
      .withColumn("session_no",
        sum("ns").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_no")
      .agg(
        min(unix_millis(col("ts"))).as("start_ms"),
        max(unix_millis(col("ts"))).as("end_ms"),
        count(lit(1)).as("n_events"),
        round(sum(round(col("value") * 100).cast("long")) / 100.0, 2).as("sum_value"))
  }

  /** EV1: gap-based sessionization — the lag/flag/running-sum idiom:
    * a session opens at the first event and at every event more than
    * [[SessionGapMs]] after its predecessor; the running sum of open
    * flags numbers sessions within a user. Both windows share one
    * (user_id, ts, event_id) partial order, so Spark plans a single
    * Exchange+Sort feeding both lag and the running sum. Session value
    * totals are summed as exact integer cents (the q8 cross-engine rule:
    * double-sum order differs between engines; integer sums don't). */
  private val ev1Sessionize = withOracle("ev1_sessionize",
    s"""WITH g AS (
       |  SELECT user_id, ts, event_id, value,
       |         CASE WHEN lag(ts) OVER w IS NULL
       |              OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > $SessionGapMs
       |              THEN 1 ELSE 0 END AS ns
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |s AS (
       |  SELECT user_id, ts, value,
       |         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
       |  FROM g)
       |SELECT user_id, session_no,
       |       epoch_ms(min(ts)) AS start_ms, epoch_ms(max(ts)) AS end_ms,
       |       count(*) AS n_events,
       |       round(sum(cast(round(value * 100) AS BIGINT)) / 100.0, 2) AS sum_value
       |FROM s GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    sessionsOf(Tables(s, dir, "events"))
  }

  /** The ordered funnel's step sequence (see [[ev2Funnel]]). */
  val FunnelSteps: Seq[String] = Seq("view", "click", "purchase")

  /** EV2: ordered funnel — how many users completed view → click →
    * purchase IN ORDER (each step strictly after the previous step's
    * completion). One groupBy(user) collects the user's events time-sorted
    * (bounded per user), then a single `aggregate` fold advances a
    * (stage, last_ts) accumulator on the first event matching the next
    * step — greedy earliest-completion, provably identical to the
    * oracle's min-after-min CTE chain. The per-user stage then explodes
    * into per-step rows and counts — no self-joins over the event log
    * (the oracle's 3-join form would be 3 corpus-sized joins at scale;
    * this is one shuffle + a fold). */
  private val ev2Funnel = withOracle("ev2_funnel",
    """WITH v AS (
      |  SELECT user_id, min(ts) AS t FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS t FROM events e
      |  JOIN v ON e.user_id = v.user_id AND e.ts > v.t
      |  WHERE e.event_type = 'click' GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS t FROM events e
      |  JOIN c ON e.user_id = c.user_id AND e.ts > c.t
      |  WHERE e.event_type = 'purchase' GROUP BY 1)
      |SELECT CAST(1 AS BIGINT) AS step_no, 'view' AS step, count(*) AS n_users FROM v
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), 'click', count(*) FROM c
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), 'purchase', count(*) FROM p""".stripMargin) { (s, dir) =>
    funnelOf(Tables(s, dir, "events"))
  }

  def funnelOf(ev: DataFrame): DataFrame = {
    val steps = array(FunnelSteps.map(lit): _*)
    val perUser = ev
      .where(col("event_type").isin(FunnelSteps: _*))
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(
        unix_micros(col("ts")).as("t"), col("event_id").as("eid"),
        col("event_type").as("et")))).as("evs"))
      .select(aggregate(col("evs"),
        struct(lit(0).as("stage"), lit(Long.MinValue).as("t")),
        (acc, e) =>
          when(acc.getField("stage") < FunnelSteps.size
            && e.getField("et") === element_at(steps, acc.getField("stage") + 1)
            && (acc.getField("stage") === 0 || e.getField("t") > acc.getField("t")),
            struct((acc.getField("stage") + 1).as("stage"), e.getField("t").as("t")))
            .otherwise(acc)).getField("stage").as("stage"))
    perUser.where(col("stage") >= 1)
      .select(explode(sequence(lit(1), col("stage"))).as("sn"))
      .groupBy(col("sn"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("sn").cast("long").as("step_no"),
        element_at(steps, col("sn")).as("step"), col("n_users"))
  }

  /** EV3: cohort retention — users bucketed by first-seen day; for each
    * (cohort, day-offset) the count of distinct users active that day.
    * The first-seen day comes from a min-over-user window rather than a
    * groupBy+self-join (the textbook form): one exchange on user_id serves
    * both the cohort assignment and the distinct count's partial, vs the
    * join form's two scans + join exchange. */
  private val ev3Retention = withOracle("ev3_retention",
    """WITH f AS (
      |  SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events GROUP BY 1)
      |SELECT strftime(f.d0, '%Y-%m-%d') AS cohort_day,
      |       datediff('day', f.d0, CAST(e.ts AS DATE)) AS day_offset,
      |       count(DISTINCT e.user_id) AS n_active
      |FROM events e JOIN f ON e.user_id = f.user_id
      |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    retentionOf(Tables(s, dir, "events"))
  }

  def retentionOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
    ev
      .withColumn("d0", min(to_date(col("ts"))).over(w))
      .groupBy(
        date_format(col("d0"), "yyyy-MM-dd").as("cohort_day"),
        datediff(to_date(col("ts")), col("d0")).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
  }

  /** EV4: daily/weekly active users per day. The textbook WAU is a range
    * self-join (`du.d BETWEEN day-6 AND day`, the oracle below) — corpus
    * × 7 pairs through a JOIN at 100 TB, plus a second scan for DAU.
    * Spark-first shape: ONE corpus scan, each event fanned out map-side
    * into the ≤7 window-ending days it supports WITH the day-offset
    * retained, then a single (window-day, user) aggregation keeps
    * `min(offset)` — a pair exists iff the user was active in the
    * window, and min(offset) = 0 iff they were active ON the day itself.
    * The final bounded fold counts wau = all pairs, dau = min-offset-0
    * pairs, and `dau > 0` restricts to observed days (the oracle's day
    * list — phantom days past the corpus edge have no offset-0 pair).
    * NO join or second scan exists, and the ONE corpus-sized exchange
    * carries the narrow raw (user_id, day) pairs BEFORE the ×7 fan-out:
    * dedup, explode, and min-offset fold all cluster by user_id
    * downstream of that self-sized exchange (see [[activeUsersOf]] —
    * measured 20× over explode-before-dedup at 200 M events). */
  private val ev4ActiveUsers = withOracle("ev4_active_users",
    """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
      |days AS (SELECT DISTINCT d FROM du),
      |dau AS (SELECT d, count(*) AS dau FROM du GROUP BY d),
      |wau AS (SELECT days.d, count(DISTINCT du.user_id) AS wau
      |        FROM days JOIN du ON du.d BETWEEN days.d - 6 AND days.d
      |        GROUP BY 1)
      |SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau, wau.wau
      |FROM dau JOIN wau USING (d)""".stripMargin) { (s, dir) =>
    activeUsersOf(Tables(s, dir, "events"))
  }

  def activeUsersOf(ev: DataFrame): DataFrame = {
    // ONE corpus-sized exchange on user_id (self-sized like sessionsOf),
    // then everything downstream is local: the (user_id, d) dedup, the ×7
    // window fan-out, and the (user_id, wd) min-offset fold all cluster
    // by a key set CONTAINING user_id, so EnsureRequirements adds no
    // further corpus exchange (the wd rollup ships ≤ days rows per task).
    // This replaces the earlier explode-then-aggregate shape, which fed
    // the RAW ×7 fan-out (7× corpus rows) into a (wd,user)-keyed partial
    // agg — measured at 200 M events: per-task hash maps over the full
    // (wd,user) key space spilled, and the exchange carried the
    // barely-collapsed partials. Dedup-before-fanout shuffles the narrow
    // raw pairs once and fans out only DISTINCT (user, day) pairs.
    val days = ev.select(col("user_id"), to_date(col("ts")).as("d"))
    val daily = days
      .repartition(boundedExchangePartitions(days), col("user_id"))
      .distinct()
    daily
      .select(col("user_id"), col("d"), explode(sequence(lit(0), lit(6))).as("off"))
      .groupBy(col("user_id"), date_add(col("d"), col("off")).as("wd"))
      .agg(min(col("off")).as("minoff"))
      .groupBy(col("wd"))
      .agg(count(when(col("minoff") === 0, 1)).as("dau"), count(lit(1)).as("wau"))
      .where(col("dau") > 0)
      .select(date_format(col("wd"), "yyyy-MM-dd").as("day"),
        col("dau"), col("wau"))
  }

  /** EV5: heavy-hitter users — the abuse/bot/hot-key detector (and the
    * skew probe: these are exactly the keys that would skew a user-keyed
    * shuffle). Exact form: user-keyed partial agg (map-side combine
    * collapses each task to its distinct users) + `TakeOrderedAndProject`
    * for the top-k — no global sort. Deterministic tie-break on user_id. */
  private val ev5HeavyUsers = withOracle("ev5_heavy_users",
    """SELECT user_id, count(*) AS n_events,
      |       round(sum(cast(round(value * 100) AS BIGINT)) / 100.0, 2) AS sum_value
      |FROM events
      |GROUP BY user_id
      |ORDER BY n_events DESC, user_id
      |LIMIT 10""".stripMargin) { (s, dir) =>
    Tables(s, dir, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        // exact cent summation (ev1's discipline): float partial-agg order
        // can never move the rounded result
        round(sum(round(col("value") * 100).cast("long")) / 100.0, 2).as("sum_value"))
      .orderBy(col("n_events").desc, col("user_id"))
      .limit(10)
  }

  /** EV5 sketch form: the same heavy hitters from a Misra–Gries summary
    * (fi1's frequent-items member applied to the event stream) — constant
    * 256-counter mergeable partials instead of the user-keyed exchange:
    * the 100 TB shape when even one shuffle of the event log is too much,
    * and the batch anchor for the live streaming card
    * ([[graft.streaming.EventStream.heavyHitters]]). Exact whenever
    * distinct users ≤ capacity (the gate corpus's regime — pinned vs the
    * exact form in StreamingSpec); beyond it, MG's self-reported
    * `err_bound = n/(capacity+1)` under-count bound applies. */
  private val ev5HeavyUsersSketch = rowsOnly("ev5_heavy_users_sketch") { (s, dir) =>
    heavyHittersOf(Tables(s, dir, "events"), 10)
  }

  /** ev5's sketch body over any (user_id, …) event frame: one map-side
    * pass into a 256-counter summary, top-k extracted from the merged
    * sketch. */
  def heavyHittersOf(ev: DataFrame, k: Int): DataFrame = {
    import graft.functions.{freq_sketch, freq_items, freq_n}
    ev.select(col("user_id").cast("string").as("u"))
      .agg(freq_sketch(col("u")).as("sk"))
      .select(slice(freq_items(col("sk")), 1, k).as("items"),
        (freq_n(col("sk")) / (graft.functions.MGOps.DefaultCapacity + 1))
          .as("err_bound"))
      .select(posexplode(col("items")).as(Seq("rank", "item")), col("err_bound"))
      .select(col("item.term").cast("long").as("user_id"),
        col("item.est").as("est"),
        col("rank").cast("long").as("rank"), col("err_bound"))
  }

  /** ev5-sketch's ORACLE-CHECKED companion (fi1_sketch_invariants'
    * pattern over the event stream): the Misra–Gries contract verified
    * against the exact per-user counts in every regime — under-count
    * bound, heavy-hitter coverage, non-increasing emission order. */
  private val ev5SketchInvariants = withOracle("ev5_sketch_invariants",
    """SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_users,
      |       TRUE AS estimates_within_mg_bounds,
      |       TRUE AS coverage_complete,
      |       TRUE AS estimates_non_increasing
      |FROM events""".stripMargin) { (s, dir) =>
    import graft.functions.{freq_sketch, freq_items, freq_n}
    val users = Tables(s, dir, "events")
      .select(col("user_id").cast("string").as("u"))
    val exact = users.groupBy("u").agg(count(lit(1)).as("n_exact"))
      .localCheckpoint(false)
    val cap = graft.functions.MGOps.DefaultCapacity
    val items = users.agg(freq_sketch(col("u")).as("sk"))
      .select(posexplode(freq_items(col("sk"))).as(Seq("rank", "item")),
        (freq_n(col("sk")) / (cap + 1)).as("err"))
      .select(col("item.term").as("u"), col("item.est").as("est"),
        col("rank"), col("err"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("rank"))
    val bounds = items.join(exact, Seq("u"), "left")
      .withColumn("prev_est", lag(col("est"), 1).over(w))
      .agg(
        every(col("n_exact").isNotNull && col("est") <= col("n_exact") &&
          col("est") >= col("n_exact") - col("err"))
          .as("estimates_within_mg_bounds"),
        every(col("prev_est").isNull || col("prev_est") >= col("est"))
          .as("estimates_non_increasing"),
        first(col("err")).as("err"))
    val uncovered = exact.crossJoin(broadcast(bounds.select(col("err"))))
      .where(col("n_exact") > col("err"))
      .join(items.select("u"), Seq("u"), "left_anti")
      .agg(count(lit(1)).as("n_uncovered"))
    exact.agg(count(lit(1)).as("n_distinct_users"))
      .crossJoin(broadcast(bounds)).crossJoin(broadcast(uncovered))
      .select(col("n_distinct_users"), col("estimates_within_mg_bounds"),
        (col("n_uncovered") === 0).as("coverage_complete"),
        col("estimates_non_increasing"))
  }

  val all: Seq[QueryDef] = Seq(ev1Sessionize, ev2Funnel, ev3Retention,
    ev4ActiveUsers, ev5HeavyUsers, ev5HeavyUsersSketch, ev5SketchInvariants)
}

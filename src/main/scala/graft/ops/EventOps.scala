package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables._

/** Event-time operators over the `events` table — the batch-checkable
  * analogs of the streaming semantics in SURVEY.md §2.5 (ST3/ST4
  * extensions): tumbling / sliding / session windows, JSON extraction,
  * as-of joins, ingest dedup (ST7). The same `window()` /
  * `session_window()` expressions run unchanged under `readStream` with
  * a watermark — see graft.streaming.StreamJob for the streaming form.
  */
object EventOps {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 4))

  /** Epoch microseconds tolerant of BOTH timestamp flavors the events
    * parquet may carry: `unix_micros` itself rejects TIMESTAMP_NTZ, and
    * the driver's generator writes plain `timestamp[us]` (no UTC flag),
    * which Spark 4 reads as NTZ. The cast interprets NTZ wall-clock in
    * the session zone — the engine runs UTC sessions (Verify/Bench), so
    * the value equals DuckDB's `epoch_us` on the same naive timestamp,
    * and on an already-instant TIMESTAMP the cast is a no-op.
    */
  private def micros(c: org.apache.spark.sql.Column) =
    unix_micros(c.cast("timestamp"))

  /** Tumbling 1-hour windows per event type (ST4). Group-by on the
    * window expression is a plain hash aggregate — state/bounded-ness
    * concerns only arise in the streaming form (with watermark).
    */
  def tumbling(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    events(s, dir)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"), sum(dec($"value")).cast("double").as("sum_value"))
      .select($"window.start".as("window_start"), $"event_type", $"n", $"sum_value")
      .orderBy($"window_start", $"event_type")
  }

  /** Sliding 1-hour windows every 30 minutes — each event lands in two
    * windows; Spark expands via the TimeWindow generator (no self-join).
    */
  def sliding(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    events(s, dir)
      .groupBy(window($"ts", "1 hour", "30 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("window_start"), $"event_type", $"n")
      .orderBy($"window_start", $"event_type")
  }

  /** Session windows with a 10-minute inactivity gap per user (ST4
    * extension). Spark merges rows while the next event starts AT or
    * before `prev_ts + gap` — the boundary itself extends the session
    * (inclusive merge, pinned by a crafted spec; the generator's µs
    * timestamps never land on an exact boundary, so only a crafted row
    * can tell). The oracle reproduces that with a gaps-and-islands
    * rewrite splitting on a STRICT `>` gap.
    */
  def sessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    events(s, dir)
      .groupBy(session_window($"ts", "10 minutes"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .select($"user_id", $"session_window.start".as("session_start"), $"n")
      .orderBy($"user_id", $"session_start")
  }

  /** JSON extraction from the props payload (P2-adjacent: schema-on-read
    * over a semi-structured column) + grouped stats.
    */
  def jsonStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    events(s, dir)
      .select($"event_type", get_json_object($"props", "$.k").cast("long").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
           sum($"k").as("sum_k"),
           min($"k").as("min_k"),
           max($"k").as("max_k"),
           (sum($"k").cast("double") / count($"k")).as("avg_k"))
      .orderBy($"event_type")
  }

  /** As-of join: each purchase matched to the user's latest signup at or
    * before the purchase time. See [[AsOf.asOfJoin]] for the plan shape.
    */
  def purchaseAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = events(s, dir)
    val purchases = e.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts")
    val signups = e.filter($"event_type" === "signup")
      .select($"user_id", $"ts", $"event_id".as("signup_id"))
    AsOf.asOfJoin(purchases, signups, key = "user_id", ts = "ts",
                  rightPayload = Seq("signup_id"), rightTieBreak = "signup_id")
      .select($"purchase_id", $"user_id", $"signup_id")
      .orderBy($"purchase_id")
  }

  /** First event per (user, type) — the in-engine equivalent of the
    * producer's LRU ingest dedup (ST7), as a rank-1 window instead of
    * unbounded `dropDuplicates` state.
    */
  def firstEvents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id", $"event_type").orderBy($"ts", $"event_id")
    events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"event_id", $"user_id", $"event_type", $"value")
      .orderBy($"event_id")
  }

  /** (user_id, v: raw 24-dim hour-of-day value sums, u: L2-normalized
    * profile) — the shared profile build for e08/e09. 24 conditional
    * aggregates in ONE groupBy pass (no collect_list — its order is
    * nondeterministic); L2-normalization once per user behind a
    * repartition barrier so neither the fold nor the normalization
    * re-inlines into the pair joins (measured 10.7 s → ~3 s at sf0.1:
    * cosine degenerates to a single dot fold per pair).
    */
  private def userProfiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val zeroDec = lit(0).cast(DecimalType(18, 4))
    val hourSums = (0 until 24).map(h =>
      sum(when(hour($"ts") === h, dec($"value")).otherwise(zeroDec)).cast("double"))
    events(s, dir)
      .groupBy($"user_id")
      .agg(array(hourSums: _*).as("v"))
      .select($"user_id", $"v", expr(
        "transform(v, x -> x / sqrt(aggregate(zip_with(v, v, (p, q) -> p * q), 0D, (acc, z) -> acc + z)))")
        .as("u"))
      .repartition($"user_id")
  }

  /** Time-series similarity search (the streaming-data similarity
    * pattern): top-10 most similar user pairs by profile cosine. The
    * ALL-PAIRS form — the recall oracle for
    * [[userSeriesSimilarityBucketed]], bounded to small inputs; the
    * bucketed equi-join is the registered scale path.
    */
  def userSeriesSimilarity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vecs = userProfiles(s, dir).select($"user_id", $"u")
    val a = vecs.toDF("user_a", "ua")
    val b = vecs.toDF("user_b", "ub")
    a.join(b, $"user_a" < $"user_b")
      .withColumn("cos", graft.functions.VectorFunctions.vec_dot($"ua", $"ub"))
      .select($"user_a", $"user_b", $"cos")
      .orderBy($"cos".desc, $"user_a", $"user_b")
      .limit(10)
  }

  /** The scale path for [[userSeriesSimilarity]]: profiles are
    * LSH-bucketed by 4 deterministic hyperplane signs — hour h vs hour
    * h+12 activity contrasts (morning/evening shape), which are
    * sign tests against fixed hyperplanes (e_h − e_h+12) and work even
    * though raw activity sums are all non-negative (plain sign-bits
    * would put every user in one bucket). Pairs form only within a
    * bucket via an equi-join, so the users×users cross join becomes
    * quadratic-per-bucket; cross-bucket pairs are the documented recall
    * tradeoff and the oracle computes the identical bucketed semantics.
    */
  def userSeriesSimilarityBucketed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bucketed = userProfiles(s, dir).withColumn("bucket",
      expr("(case when v[0] > v[12] then 1 else 0 end) + " +
           "(case when v[1] > v[13] then 2 else 0 end) + " +
           "(case when v[2] > v[14] then 4 else 0 end) + " +
           "(case when v[3] > v[15] then 8 else 0 end)"))
      .select($"user_id", $"u", $"bucket")
    val a = bucketed.toDF("user_a", "ua", "bucket_a")
    val b = bucketed.toDF("user_b", "ub", "bucket_b")
    a.join(b, $"bucket_a" === $"bucket_b" && $"user_a" < $"user_b")
      .withColumn("cos", graft.functions.VectorFunctions.vec_dot($"ua", $"ub"))
      .select($"user_a", $"user_b", $"cos")
      .orderBy($"cos".desc, $"user_a", $"user_b")
      .limit(10)
  }

  /** Range join: every purchase matched to ALL of the user's signups in
    * the preceding 7 days (vs e05's as-of join, which keeps only the
    * latest). Plan shape: an equi-join on user_id carries the shuffle;
    * the range predicate is a post-join filter inside the same stage —
    * never a cartesian, because the equality key is there to hash on.
    * At 100 TB the refinement is bucketing both sides by user_id (see
    * SourcesSpec2's bucketed-join proof) so even the equi-shuffle
    * disappears; a pure range join without any equality key would
    * instead want a bucketed-by-time-bin overlap join.
    */
  def purchaseSignupRange(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = events(s, dir)
    val purchases = e.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts".as("p_ts"))
    val signups = e.filter($"event_type" === "signup")
      .select($"user_id", $"ts".as("s_ts"), $"event_id".as("signup_id"))
    purchases.join(signups, Seq("user_id"))
      .filter($"s_ts" <= $"p_ts" && $"s_ts" > $"p_ts" - expr("INTERVAL 7 DAYS"))
      .select($"purchase_id", $"user_id", $"signup_id")
      .orderBy($"purchase_id", $"signup_id")
  }

  /** e29 — attribution COVERAGE (e10's left-outer twin): every
    * purchase, with its in-window signups where they exist and an
    * explicit NULL row where none do — the form a funnel dashboard
    * actually consumes, because "how many purchases have NO
    * attributable signup" is the number e10's inner join structurally
    * cannot report. Also the batch ground truth for the
    * StreamingAttributionOuter door: a streaming LEFT OUTER interval
    * join must emit exactly these rows, null-extended ones only once
    * the watermark proves no matching signup can still arrive.
    *
    * Scale shape: identical to e10 — one user_id equi-shuffle with
    * the range predicate as a post-join filter that Spark folds into
    * the join condition; the outer side adds no pass.
    */
  def purchaseSignupOuter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = events(s, dir)
    val purchases = e.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts".as("p_ts"))
    val signups = e.filter($"event_type" === "signup")
      .select($"user_id".as("s_user_id"), $"ts".as("s_ts"), $"event_id".as("signup_id"))
    purchases.join(signups,
        $"user_id" === $"s_user_id" &&
          $"s_ts" <= $"p_ts" && $"s_ts" > $"p_ts" - expr("INTERVAL 7 DAYS"),
        "left_outer")
      .select($"purchase_id", $"user_id", $"signup_id")
      .orderBy($"purchase_id", $"signup_id")
  }

  /** Event-type distribution: grouped counts + share of total. The
    * global total comes from an empty-frame window over the (tiny)
    * aggregated result, not from a second scan.
    */
  def typeShares(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy()
    events(s, dir)
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .withColumn("share", $"n".cast("double") / sum($"n").over(w))
      .orderBy($"event_type")
  }

  /** Hourly anomaly flags per event type — 2σ outlier detection with
    * NO floating point anywhere: |c − μ| > 2σ (μ = S/n, population
    * σ² = Q/n − S²/n²) multiplies through by n² into the all-integer
    * `(c·n − S)² > 4·(n·Q − S²)` over count sums S=Σc, Q=Σc², so the
    * boolean is engine- and shuffle-order-exact (a float mean/stddev
    * would not hash-match). Safe in BIGINT while
    * c·n < ~3·10⁹; beyond that the same comparison lifts to
    * DECIMAL(38,0) unchanged.
    *
    * Scale shape: one windowed aggregate (hour × type), one tiny
    * per-type stats aggregate broadcast back over it — the detection
    * join adds no shuffle of the hourly table.
    */
  def hourlyAnomalies(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hourly = events(s, dir)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("hour_start"))
      .agg(count(lit(1)).as("n_events"))
    val stats = hourly.groupBy($"event_type")
      .agg(count(lit(1)).as("n_hours"), sum($"n_events").as("s"),
           sum($"n_events" * $"n_events").as("q"))
    hourly.join(broadcast(stats), Seq("event_type"))
      .withColumn("dev", $"n_events" * $"n_hours" - $"s")
      .withColumn("is_anomaly",
        $"dev" * $"dev" > lit(4L) * ($"n_hours" * $"q" - $"s" * $"s"))
      .select($"event_type", $"hour_start", $"n_events", $"is_anomaly")
      .orderBy($"event_type", $"hour_start")
  }

  /** Weekly retention cohorts: users grouped by their first-event week,
    * each later week of activity counted as distinct users at that
    * cohort age — the density matrix behind every retention curve.
    * Week truncation (Monday-start in both engines) and integer
    * day-difference division keep the cells engine-exact.
    *
    * Scale shape: one groupBy(user) for first-events, one distinct on
    * (user, week) — both shuffle on user_id and co-partition with the
    * join between them; the final aggregate is cohort×age-sized (tiny).
    * The distinct-user count is a single distinct aggregate, so it
    * plans as the standard two-phase partial distinct, no Expand.
    */
  def retentionCohorts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = events(s, dir).select($"user_id", $"ts")
    val first = ev.groupBy($"user_id")
      .agg(to_date(date_trunc("week", min($"ts"))).as("cohort_week"))
    val active = ev.select($"user_id", to_date(date_trunc("week", $"ts")).as("week")).distinct()
    active.join(first, Seq("user_id"))
      .groupBy($"cohort_week",
        expr("CAST(datediff(week, cohort_week) DIV 7 AS BIGINT)").as("week_age"))
      .agg(countDistinct($"user_id").as("n_users"))
      .orderBy($"cohort_week", $"week_age")
  }

  /** Ordered conversion funnel view → click → purchase: a user reaches
    * stage 2 only with a click strictly AFTER their first view, stage 3
    * only with a purchase strictly after that click — the ordering
    * constraint is what separates a funnel from three independent
    * counts (a user who purchases before ever viewing does not
    * convert). Conversion lags are summed in integer microseconds, so
    * the single-row report is bit-deterministic under any shuffle.
    *
    * Scale shape: each stage is a filtered scan (event_type pushed to
    * the parquet reader) aggregated per user, then an equi-join on
    * user_id against the previous stage's (user, ts) frame — all three
    * shuffles hash on user_id, so AQE plans them as one co-partitioned
    * chain; nothing ever leaves the user's partition until the final
    * KB-sized global aggregate.
    */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = events(s, dir).select($"user_id", $"event_type", $"ts")
    val s1 = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t1"))
    val s2 = ev.filter($"event_type" === "click")
      .join(s1, Seq("user_id")).filter($"ts" > $"t1")
      .groupBy($"user_id").agg(min($"ts").as("t2"))
    val s3 = ev.filter($"event_type" === "purchase")
      .join(s2, Seq("user_id")).filter($"ts" > $"t2")
      .groupBy($"user_id").agg(min($"ts").as("t3"))
    s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
      .agg(
        count($"t1").as("view_users"),
        count($"t2").as("click_users"),
        count($"t3").as("purchase_users"),
        sum(when($"t2".isNotNull, micros($"t2") - micros($"t1"))).as("sum_view_to_click_us"),
        sum(when($"t3".isNotNull, micros($"t3") - micros($"t2"))).as("sum_click_to_purchase_us"))
  }

  /** The ONE events pass behind e14 AND e15: per-user lead() window
    * (ordering ties on ts break by event_id, so the successor is
    * total-ordered and engine-exact), then a map-combined aggregate
    * down to |types|² rows carrying both the transition count and the
    * integer-µs gap stats. e14 projects counts + probability out of
    * it; e15 adds the mean. Until round 9 each query ran its own
    * identical lead-window pipeline — two full event scans and two
    * user_id shuffles for what is one intermediate; at 100 TB a user
    * materializes THIS frame once and both views are |types|²-sized
    * derivations (EventOpsSpec pins both the derivation equality and
    * the one-Exchange-on-events plan shape).
    *
    * Scale shape: ONE shuffle on user_id feeds the lead() window
    * (per-user timelines are bounded); everything after is
    * |types|²-sized.
    */
  /** The raw per-pair transition frame (from_type, to_type, gap_us) —
    * one row per consecutive event pair, shared by [[transitionStats]]'
    * aggregate and e17's percentile profile.
    */
  private[graft] def transitionGaps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val seq = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("to_type", lead($"event_type", 1).over(seq))
      .withColumn("next_ts", lead($"ts", 1).over(seq))
      .filter($"to_type".isNotNull)
      .withColumn("gap_us", micros($"next_ts") - micros($"ts"))
      .select($"event_type".as("from_type"), $"to_type", $"gap_us")
  }

  private[graft] def transitionStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    transitionGaps(s, dir)
      .groupBy($"from_type", $"to_type")
      .agg(count(lit(1)).as("n"), sum($"gap_us").as("total_gap_us"),
        min($"gap_us").as("min_gap_us"), max($"gap_us").as("max_gap_us"))
  }

  /** Per-user event-type transition matrix (first-order Markov): for
    * every consecutive event pair within a user's timeline, count
    * (from_type → to_type) and the conditional probability
    * P(to | from) = n / Σ_to n. The sequence-model view of the event
    * log — what feeds next-action prediction, session simulators, and
    * bot detection (a user whose transition rows concentrate on one
    * self-loop is a script, not a person). The probability is one
    * BIGINT÷BIGINT double divide (correctly rounded, no float
    * accumulation anywhere), and the denominator is a window over the
    * tiny [[transitionStats]] aggregate — no second pass over events.
    */
  def transitions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fromW = Window.partitionBy($"from_type")
    transitionStats(s, dir)
      .select($"from_type", $"to_type", $"n")
      .withColumn("p", $"n".cast("double") / sum($"n").over(fromW).cast("double"))
      .orderBy($"from_type", $"to_type")
  }

  /** e38 — BOUNCE RATE BY ENTRY EVENT: per session-opening event
    * type, how many sessions end after that single event — the
    * landing-page quality metric beside e18's session features and
    * e25's co-occurrence lift. Sessions are the family's 10-minute
    * gaps-and-islands (the e03 semantics, lag + running sum — the
    * BATCH form, where session_window and islands agree; islands give
    * the per-EVENT session id this op needs to rank the opener);
    * the opener is rank-1 by (ts, event_id) inside the session, the
    * bounce verdict is an exact count compare, and the rate is ONE
    * IEEE divide per row.
    *
    * Scale shape: two user-partitioned windows (lag/cumsum) and one
    * (user, sid)-partitioned rank — never a global sort; sessions
    * reduce to |sessions| rows before the |types|-row rollup.
    */
  def bounceRate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val numbered = events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev", lag($"ts", 1).over(w))
      .withColumn("new_s",
        when($"prev".isNull ||
          micros($"ts") - micros($"prev") > 600000000L, 1L).otherwise(0L))
      .withColumn("sid", sum($"new_s")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ws = Window.partitionBy($"user_id", $"sid").orderBy($"ts", $"event_id")
    val ranked = numbered.withColumn("rn", row_number().over(ws))
    val sess = numbered.groupBy($"user_id", $"sid").agg(count(lit(1)).as("n"))
    ranked.filter($"rn" === 1)
      .select($"user_id", $"sid", $"event_type".as("first_type"))
      .join(sess, Seq("user_id", "sid"))
      .groupBy($"first_type")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when($"n" === 1L, 1L).otherwise(0L)).as("n_bounces"))
      .withColumn("bounce_rate",
        $"n_bounces".cast("double") / $"n_sessions".cast("double"))
      .orderBy($"first_type")
  }

  /** e39 — DAY-OF-WEEK SEASONALITY STRENGTH: how much of the daily
    * volume variance the weekday explains — the one-number ANOVA
    * (η² = SS_between / SS_total over day-of-week groups) that says
    * whether e23's weekday profile is signal or noise, and the
    * variance-decomposition companion to e30's autocorrelation (e30
    * finds the period; this quantifies its explanatory power).
    * Identities used: SS_between = Σ_g S_g²/n_g − S²/N and
    * SS_total = Σc² − S²/N over exact BIGINT daily counts, so the
    * only floats are the seven per-group divides (folded in weekday
    * order), the two S²/N divides, and the final ratio — every one a
    * single IEEE op in a fixed order, identical in both engines.
    *
    * Scale shape: events reduce to calendar-bounded daily counts in
    * one map-side-combined aggregate; the weekday rollup is ≤7 rows;
    * output is ONE row.
    */
  def dowSeasonality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // dayofweek − 1 aligns Spark (1=Sunday..7) with DuckDB (0=Sunday..6)
    val daily = events(s, dir)
      .groupBy(to_date($"ts").as("day"))
      .agg(count(lit(1)).as("c"))
      .withColumn("dow", (dayofweek($"day") - 1).cast("long"))
    val dows = daily.groupBy($"dow")
      .agg(sum($"c").as("s_g"), count(lit(1)).as("n_g"))
      .withColumn("t_g", ($"s_g" * $"s_g").cast("double") / $"n_g".cast("double"))
    val tot = daily.agg(count(lit(1)).as("n_days"), sum($"c").as("n_events"),
      sum($"c" * $"c").as("sum_sq"))
    dows
      .agg(expr("aggregate(transform(sort_array(collect_list(struct(dow, t_g))), " +
        "x -> x.t_g), 0D, (a, x) -> a + x)").as("between_raw"),
        count(lit(1)).as("n_dows"))
      .crossJoin(broadcast(tot))
      .withColumn("mean_term",
        ($"n_events" * $"n_events").cast("double") / $"n_days".cast("double"))
      .withColumn("ss_between", $"between_raw" - $"mean_term")
      .withColumn("ss_total", $"sum_sq".cast("double") - $"mean_term")
      .withColumn("eta2", $"ss_between" / $"ss_total")
      .select($"n_days", $"n_events", $"n_dows", $"ss_between", $"ss_total", $"eta2")
  }

  /** e37 — BOT-SIGNAL COMPOSITE: the per-user decision table that
    * combines three cheap orthogonal tells into one verdict — the
    * d27-style composition applied to abuse detection (e24 scores
    * timing dispersion, e28 behavioral entropy; this is the table an
    * enforcement queue actually consumes). Signals, all exact
    * integers off one event scan: `burst` = max events in any single
    * minute (machine cadence), `n_types` = distinct event types used
    * (scripts are narrow), and the self-loop transition count beside
    * total transitions (scripts repeat one action). Verdict:
    * bot_flag = burst ≥ 5 ∨ (n_types ≤ 2 ∧ n_events ≥ 20) ∨
    * 3·self_loops > 2·n_transitions — every compare cross-multiplied
    * on BIGINTs, no float anywhere.
    *
    * Scale shape: the minute rollup and the per-user lead() window
    * both partition by user (never global); everything reduces to
    * |users| rows before the three-way join of user-keyed aggregates
    * (co-partitioned). Output is |users| rows.
    */
  def botSignals(s: SparkSession, dir: String): DataFrame =
    botSignalsOver(events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type")))

  /** [[botSignals]] over any (user_id, ts, event_id, event_type)
    * frame — the seam the spec's planted-bot fixtures drive.
    */
  private[graft] def botSignalsOver(evIn: DataFrame): DataFrame = {
    val s = evIn.sparkSession
    import s.implicits._
    val ev = evIn
    val burst = ev
      .groupBy($"user_id", date_trunc("minute", $"ts").as("minute"))
      .agg(count(lit(1)).as("c"))
      .groupBy($"user_id")
      .agg(max($"c").as("burst"), sum($"c").as("n_events"))
    val breadth = ev.groupBy($"user_id")
      .agg(countDistinct($"event_type").as("n_types"))
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val loops = ev
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .filter($"next_type".isNotNull)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_transitions"),
        sum(when($"event_type" === $"next_type", 1L).otherwise(0L))
          .as("self_loops"))
    burst.join(breadth, Seq("user_id"))
      .join(loops, Seq("user_id"), "left")
      .select($"user_id", $"n_events", $"burst", $"n_types",
        coalesce($"n_transitions", lit(0L)).as("n_transitions"),
        coalesce($"self_loops", lit(0L)).as("self_loops"))
      .withColumn("bot_flag",
        $"burst" >= 5 || ($"n_types" <= 2 && $"n_events" >= 20) ||
          $"self_loops" * 3 > $"n_transitions" * 2)
      .orderBy($"user_id")
  }

  /** e36 — MARKOV NEXT-EVENT ACCURACY: the simplest next-action
    * model trained AND evaluated inside the engine — per current
    * event type, predict the most frequent next type (ties → first
    * alphabetically), then score that prediction over every observed
    * transition. The baseline number any sequence model must beat,
    * and the train/apply/score shape (model = a tiny table derived
    * from the same aggregate it is scored on) that e14's raw matrix
    * doesn't exercise. In-sample by construction — the honest
    * framing for a one-pass baseline; t48/t50 handle split hygiene.
    *
    * Determinism: counts are exact BIGINTs off e14's shared
    * transition aggregate; the argmax is a rank-1 window over
    * (count desc, to_type) — a total order; accuracy is ONE IEEE
    * divide per row.
    *
    * Scale shape: rides the (from, to) transition aggregate
    * (|types|² rows whatever the log); the prediction window
    * partitions by from_type over those tiny partitions; the score
    * join is matrix-sized. Output is |types| rows.
    */
  def markovAccuracy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = transitionStats(s, dir).select($"from_type", $"to_type", $"n")
    val w = Window.partitionBy($"from_type").orderBy($"n".desc, $"to_type")
    val pred = m.withColumn("rk", row_number().over(w)).filter($"rk" === 1)
      .select($"from_type", $"to_type".as("predicted_next"))
    m.join(pred, Seq("from_type"))
      .groupBy($"from_type", $"predicted_next")
      .agg(sum($"n").as("n_transitions"),
        sum(when($"to_type" === $"predicted_next", $"n").otherwise(0L))
          .as("n_correct"))
      .withColumn("accuracy",
        $"n_correct".cast("double") / $"n_transitions".cast("double"))
      .orderBy($"from_type")
  }

  /** Dwell-time profile per transition — [[transitions]]' timing
    * companion: for each consecutive (from → to) event pair, the
    * count, total/min/max/mean gap in integer microseconds. The latency
    * surface of the product funnel (how long users sit between a view
    * and a click) and the bot tell e14's counts can't see — a script's
    * gaps are machine-regular, a human's spread over seconds. Gaps are
    * integer µs (sum/min/max order-free, one exact BIGINT÷BIGINT divide
    * for the mean), so every cell is engine- and shuffle-order-exact.
    */
  def transitionDwell(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    transitionStats(s, dir)
      .withColumn("mean_gap_us",
        $"total_gap_us".cast("double") / $"n".cast("double"))
      .orderBy($"from_type", $"to_type")
  }

  /** e17 — dwell-time PERCENTILES per transition: e15 gives the
    * mean/min/max of each (from → to) gap; latency work reads tails,
    * not means — p50/p90/p99 of the integer-µs gaps per transition,
    * exact (linear-interpolated, the q14 discipline: Spark `percentile`
    * and DuckDB `quantile_cont` share the convention bit for bit on
    * integer inputs). The approx sketch is exercised alongside and
    * gated, not emitted — and the gate is a RANK audit, not a value
    * compare: an interpolated p99 of a few-hundred-row heavy-tailed
    * group can sit far from EVERY sample (measured: view→click p99
    * interpolates 25 % past its lower neighbor), so value tolerance is
    * the wrong contract. `approx_ok` asserts the number of gaps ≤ the
    * sketch's p99 lands within max(2, 0.5 % · n) of rank 0.99·n — the
    * bound approx_percentile actually promises; the oracle emits TRUE
    * (t07/q23 discipline).
    *
    * Scale shape: exact per-group percentiles buffer the group's gap
    * multiset — the oracle-checkable certificate arm; the 100 TB
    * production path is the approx sketch this query gates (constant
    * memory per group, one pass). Groups are |types|², so the heavy
    * state is per-pair, never global; the rank audit re-joins the
    * |types|²-row sketch output back to the gap frame broadcast.
    */
  def transitionDwellPercentiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keys = Seq("from_type", "to_type")
    val gaps = transitionGaps(s, dir)
    val agg = gaps.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        expr("percentile(gap_us, 0.5D)").as("p50_us"),
        expr("percentile(gap_us, 0.9D)").as("p90_us"),
        expr("percentile(gap_us, 0.99D)").as("p99_us"),
        expr("approx_percentile(gap_us, 0.99D, 10000)").as("ap99"))
    val rank = gaps
      .join(broadcast(agg.select($"from_type", $"to_type", $"ap99")), keys)
      .groupBy(keys.map(col): _*)
      .agg(sum(($"gap_us" <= $"ap99").cast("long")).as("rk"))
    agg.join(rank, keys)
      .withColumn("approx_ok",
        abs($"rk".cast("double") - lit(0.99) * $"n".cast("double"))
          <= greatest(lit(2.0), lit(0.005) * $"n".cast("double")))
      .select($"from_type", $"to_type", $"n",
        $"p50_us", $"p90_us", $"p99_us", $"approx_ok")
      .orderBy($"from_type", $"to_type")
  }

  /** e19 — funnel LAG percentiles: e11 reports stage populations and
    * lag SUMS; product analytics reads the distribution — per funnel
    * stage transition (view→click, click→purchase) the exact
    * interpolated p50/p90 of per-user conversion lag in integer µs,
    * plus the population. Same stage frames as e11 (first view, first
    * qualifying click strictly after it, first qualifying purchase),
    * so the stage semantics provably match the funnel's.
    *
    * Scale shape: e11's co-partitioned user_id chain down to per-user
    * lag rows, then a 2-group exact percentile — the q14 certificate
    * arm over the sketch a 100 TB run would use.
    */
  def funnelLagPercentiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = events(s, dir).select($"user_id", $"event_type", $"ts")
    val s1 = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t1"))
    val s2 = ev.filter($"event_type" === "click")
      .join(s1, Seq("user_id")).filter($"ts" > $"t1")
      .groupBy($"user_id").agg(min($"ts").as("t2"))
    val s3 = ev.filter($"event_type" === "purchase")
      .join(s2, Seq("user_id")).filter($"ts" > $"t2")
      .groupBy($"user_id").agg(min($"ts").as("t3"))
    val lags =
      s1.join(s2, Seq("user_id")).select(lit("view_to_click").as("stage"),
          (micros($"t2") - micros($"t1")).as("lag_us"))
        .union(s2.join(s3, Seq("user_id")).select(lit("click_to_purchase").as("stage"),
          (micros($"t3") - micros($"t2")).as("lag_us")))
    lags.groupBy($"stage")
      .agg(count(lit(1)).as("n_users"),
        expr("percentile(lag_us, 0.5D)").as("p50_us"),
        expr("percentile(lag_us, 0.9D)").as("p90_us"))
      .orderBy($"stage")
  }

  /** e18 — session FEATURES: e03 counts sessions; models consume
    * session-level feature rows — per (user, 10-minute-gap session)
    * the event count, wall-clock duration in integer µs, distinct
    * event-type count, a conversion flag, and the exact value sum.
    * The churn/propensity feature table, derived in the one pass e03
    * already pays.
    *
    * Exactness: duration is integer µs (the micros discipline), the
    * type count is `size(collect_set(...))` — bounded by |types|, and
    * NO Expand: mixing countDistinct with other aggregates doubles
    * every input row through an Expand node (the t07 lesson) — and the
    * value sum runs in DECIMAL(18,4) before one final double cast
    * (the q01 discipline), so every column is shuffle-order-exact.
    *
    * Scale shape: one shuffle on user_id into the session window, the
    * same as e03; all features are per-group aggregates of that one
    * pass.
    */
  def sessionFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sessionFeatureFrame(events(s, dir))
      .orderBy($"user_id", $"session_start")
  }

  /** e20 — per-user ENGAGEMENT profile: e18's session rows rolled up
    * one level to the unit models score — per user the session count,
    * total events, total session-time in integer µs, purchase-session
    * count, and the session-level conversion rate (the churn /
    * propensity label side of e18's feature table). The rate is the
    * e-family's one exact BIGINT÷BIGINT divide, emitted as double.
    *
    * Scale shape: rides the SAME session-window pass e03/e18 pay, then
    * one user-keyed aggregate over session-sized rows (already a tiny
    * fraction of events); nothing re-reads the log.
    */
  def userEngagement(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sessionFeatureFrame(events(s, dir))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum($"n_events").as("n_events"),
        sum($"duration_us").as("total_duration_us"),
        sum(when($"has_purchase", 1L).otherwise(0L)).as("n_purchase_sessions"))
      .withColumn("conv_rate",
        $"n_purchase_sessions".cast("double") / $"n_sessions".cast("double"))
      .orderBy($"user_id")
  }

  /** The e18 aggregation over ANY (ts, user_id, event_type, value)
    * frame, batch or streaming — one session-window pass, unsorted.
    * The streaming job (`graft.streaming.StreamingSessions`) runs this
    * EXACT frame under a watermark: because every output row is a
    * function of its own finalized session only, rows emitted on
    * window close compose to the batch form bit for bit.
    */
  private[graft] def sessionFeatureFrame(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    ev
      .groupBy(session_window($"ts", "10 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"),
        (micros(max($"ts")) - micros(min($"ts"))).as("duration_us"),
        size(collect_set($"event_type")).cast("long").as("n_types"),
        (sum(when($"event_type" === "purchase", 1L).otherwise(0L)) > 0L)
          .as("has_purchase"),
        sum(dec($"value")).cast("double").as("sum_value"))
      .select($"user_id", $"session_window.start".as("session_start"),
        $"n_events", $"duration_us", $"n_types", $"has_purchase", $"sum_value")
  }

  /** e16 — windowed top-k ("trending"): per tumbling day, the top-3
    * event types by count with their share of the day's volume. The
    * leaderboard shape every monitoring surface wants from an event
    * stream — e01 gives the full (window, type) matrix, this reduces
    * it to the ranked cut a dashboard or an alert actually reads.
    *
    * Scale shape: one shuffle on (day, type) with map-side combine;
    * the rank window partitions by DAY and each partition holds at
    * most |event types| aggregated rows — the window never sees raw
    * events, so there is no per-day skew regardless of how hot a day
    * is. The share is one double divide of exact integers per emitted
    * row (the t28 ttr discipline), so it is engine-exact.
    */
  def windowedTopTypes(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import s.implicits._
    val perDay = events(s, dir)
      .groupBy(window($"ts", "1 day"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("day"), $"event_type", $"n")
    rankWindowCounts(perDay, k)
      .orderBy($"day", $"rnk")
  }

  /** The rank-and-share tail of e16 over finalized (day, event_type, n)
    * rows — shared with the streaming form
    * (`graft.streaming.StreamingTopK` ranks each closed window's rows
    * inside foreachBatch with exactly this frame), so the streamed
    * leaderboard composes to the batch one by construction. Input is
    * pre-aggregated: at most |event types| rows per day.
    */
  private[graft] def rankWindowCounts(perDay: DataFrame, k: Int): DataFrame = {
    val s = perDay.sparkSession
    import s.implicits._
    val rw = Window.partitionBy($"day").orderBy($"n".desc, $"event_type")
    val tw = Window.partitionBy($"day")
    perDay
      .withColumn("day_total", sum($"n").over(tw))
      .withColumn("rnk", row_number().over(rw).cast("long"))
      .filter($"rnk" <= k)
      .withColumn("share", $"n".cast("double") / $"day_total".cast("double"))
      .select($"day", $"rnk", $"event_type", $"n", $"share")
  }

  /** e21 — hourly UNIQUE USERS: the DAU/HAU counter, with the t07
    * sketch-audit convention applied to event-time windows. Exact
    * distincts come from ONE two-level aggregate — (window, user) →
    * count, then window → count — never `count(distinct …)` (its
    * Expand doubles the scan) and never a second raw-events pass: the
    * HLL arm (`approx_count_distinct`, rsd 0.01 — the production
    * counter at 100 TB, where per-window user sets don't fit anywhere)
    * feeds on the SAME pre-aggregated rows, because HLL is multiplicity-
    * insensitive — the estimate over distinct (window, user) rows is
    * definitionally the estimate over the raw stream. The oracle pins
    * the exact counts and asserts the within-5% flag the Spark side
    * computed against its own sketch.
    */
  def hourlyUniques(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    events(s, dir)
      .groupBy(window($"ts", "1 hour").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_per_user"))
      .groupBy($"w")
      .agg(count(lit(1)).as("n_users"),
        sum($"n_per_user").as("n_events"),
        approx_count_distinct($"user_id", 0.01).as("a_users"))
      .select($"w.start".as("window_start"), $"n_users", $"n_events",
        (abs($"a_users" - $"n_users") <=
          greatest(lit(1L), $"n_users" * 5 / 100)).as("within_tol"))
      .orderBy($"window_start")
  }

  /** e22 — HOURLY CONCURRENCY CURVE: how many user sessions (the e03
    * 10-minute-gap definition) are ACTIVE in each clock hour, plus the
    * distinct users behind them — the interval-overlap shape (capacity
    * planning, peak sizing) none of the point-in-time windows cover: a
    * session spanning three hours must count in all three.
    *
    * Scale shape: the same one session_window shuffle e03/e18 pay,
    * then each session explodes to its covered hours — fan-out bounded
    * by session DURATION (hours per session), not corpus size, and the
    * final aggregate is |hours| wide. No event-level self-join, no
    * global sweep-line sort: the +1/−1 sweep would need a single
    * ordered pass, while this densification stays embarrassingly
    * parallel at any scale.
    */
  /** e23 — HOUR-OF-DAY SEASONAL PROFILE: each event type's traffic
    * fingerprint across the 24 clock hours (counts, share of the
    * type's total, rank) — the seasonality baseline that turns e13's
    * flat 2-sigma anomaly test into a seasonal one (compare an hour
    * against its OWN hour-of-day cell, not the global mean). e21
    * profiles absolute hours; this folds all days onto the clock.
    *
    * Scale shape: one |types|·24-key aggregate over the stream, then
    * windows over that tiny matrix — corpus size never reaches a
    * window or a second shuffle.
    */
  def hourOfDayProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type")
    val wr = Window.partitionBy($"event_type").orderBy($"n_events".desc, $"hod")
    events(s, dir)
      .groupBy($"event_type", hour($"ts").cast("long").as("hod"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("type_total", sum($"n_events").over(w))
      .withColumn("share",
        $"n_events".cast("double") / $"type_total".cast("double"))
      .withColumn("hod_rank", row_number().over(wr).cast("long"))
      .select($"event_type", $"hod", $"n_events", $"share", $"hod_rank")
      .orderBy($"event_type", $"hod")
  }

  def hourlyConcurrency(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    events(s, dir)
      .groupBy(session_window($"ts", "10 minutes"), $"user_id")
      .agg(min($"ts").as("s_start"), max($"ts").as("s_end"))
      .select($"user_id",
        explode(sequence(
          date_trunc("hour", $"s_start"),
          date_trunc("hour", $"s_end"),
          expr("interval 1 hour"))).as("hour"))
      .groupBy($"hour")
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"hour")
  }

  /** e24 — INTER-ARRIVAL BURSTINESS: per-user gap statistics between
    * consecutive events, rolled up by activity band, with a bursty
    * flag per user (coefficient of variation ≥ 1 — the memoryless/
    * Poisson boundary: CV > 1 means clumped traffic, CV < 1 means
    * pacemaker-regular). The traffic-shape profile behind retention
    * and rate-limit models; none of the window/session queries expose
    * gap dispersion.
    *
    * Float discipline: everything is BIGINT algebra. Gaps come from
    * exact microsecond epochs floored to seconds (both engines floor
    * nonnegative integer division); CV ≥ 1 rewrites to
    * n·ΣgΣg² ≥ 2·(Σg)² — integers well under 2⁶³ (per-user Σg ≤
    * month-seconds ≈ 2.6e6, squared 7e12). No division, no sqrt, no
    * doubles anywhere.
    *
    * Scale shape: ONE shuffle on user_id (the lag window partitions
    * by user — never global), then a user-sized aggregate and a
    * constant |bands|-sized rollup. 100 TB: user cardinality bounds
    * state; no skew beyond the busiest single user's event list,
    * which the generator (and real telemetry after per-user rate
    * caps) keeps task-sized.
    */
  def interArrivalProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val gaps = events(s, dir)
      .select($"user_id", $"ts", $"event_id")
      .withColumn("cur_us", micros($"ts"))
      .withColumn("prev_us", lag($"cur_us", 1).over(w))
      .filter($"prev_us".isNotNull)
      // `div` = exact BIGINT division (a double divide would round
      // across second boundaries for large microsecond gaps).
      .select($"user_id", expr("(cur_us - prev_us) div 1000000").as("gap_s"))
    val perUser = gaps.groupBy($"user_id")
      .agg(count(lit(1)).as("n_gaps"),
        sum($"gap_s").as("s_gap"),
        sum($"gap_s" * $"gap_s").as("ss_gap"),
        max($"gap_s").as("max_gap"))
      .withColumn("bursty",
        ($"n_gaps" * $"ss_gap" >= lit(2L) * $"s_gap" * $"s_gap").cast("int"))
      .withColumn("band",
        when($"n_gaps" < 16, lit("lt16"))
          .when($"n_gaps" < 64, lit("16to63"))
          .when($"n_gaps" < 256, lit("64to255"))
          .otherwise(lit("ge256")))
    perUser.groupBy($"band")
      .agg(count(lit(1)).as("n_users"),
        sum($"bursty").cast("long").as("n_bursty"),
        sum($"n_gaps").as("total_gaps"),
        sum($"s_gap").as("total_gap_s"),
        max($"max_gap").as("max_gap_s"))
      .orderBy($"band")
  }

  /** e25 — SESSION CO-OCCURRENCE LIFT: for every ordered pair of
    * event types, in how many user sessions (the e03 10-minute-gap
    * windows) both types appear, against how often independence would
    * predict — the market-basket association signal over behavioral
    * sessions. `positive` is the exact integer form of lift > 1:
    * n_both · n_sessions > n_a · n_b (no division, engine-exact).
    *
    * Scale shape: the session_window shuffle (shared family shape),
    * then sessions reduce to DISTINCT (session, type) rows — the
    * per-session type set is ≤ |types| = 5, so the self-join on
    * session_id fans out at most |types|² per session, bounded by a
    * constant, never by session length. The final aggregate is
    * |types|² rows; the totals join is a one-row broadcast (the
    * boundedCrossJoins pattern).
    */
  def sessionTypeLift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Sessions must merge over ALL of a user's events (a session_window
    // groupBy with event_type as a key would sessionize per TYPE), so
    // events get their session label via gaps-and-islands: new session
    // when the user gap is STRICTLY more than 10 minutes — an event at
    // exactly prev_ts + gap extends the session, the boundary-inclusive
    // merge session_window itself applies (pinned by crafted spec).
    val w = Window.partitionBy($"user_id").orderBy($"ts")
    val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val st = events(s, dir)
      .select($"user_id", $"ts", $"event_type")
      .withColumn("prev_us", lag(micros($"ts"), 1).over(w))
      .withColumn("new_s",
        when($"prev_us".isNull ||
          micros($"ts") - $"prev_us" > lit(600L * 1000000L), 1L)
          .otherwise(0L))
      .withColumn("s_start", sum($"new_s").over(wc))
      .select($"user_id", $"s_start", $"event_type")
      .distinct()
      // Within-query reuse (the s33 discipline): FOUR consumers read
      // this frame (session count, per-type counts, both self-join
      // sides) and each would otherwise re-run the event-log shuffle
      // and both sessionization windows — 10 window executions in the
      // un-checkpointed plan, 2 after. The frame is (session, type)-
      // sized: bounded by sessions × |types|, far under the log.
      .localCheckpoint()
    val nSessions = st.select($"user_id", $"s_start").distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val perType = st.groupBy($"event_type")
      .agg(count(lit(1)).as("n_type"))
    val a = st.select($"user_id", $"s_start", $"event_type".as("type_a"))
    val b = st.select($"user_id", $"s_start", $"event_type".as("type_b"))
    a.join(b, Seq("user_id", "s_start"))
      .filter($"type_a" < $"type_b")
      .groupBy($"type_a", $"type_b")
      .agg(count(lit(1)).as("n_both"))
      .join(broadcast(perType.select($"event_type".as("type_a"), $"n_type".as("n_a"))), Seq("type_a"))
      .join(broadcast(perType.select($"event_type".as("type_b"), $"n_type".as("n_b"))), Seq("type_b"))
      .crossJoin(broadcast(nSessions))
      .select($"type_a", $"type_b", $"n_both", $"n_a", $"n_b", $"n_sessions",
        ($"n_both" * $"n_sessions" > $"n_a" * $"n_b").as("positive"))
      .orderBy($"type_a", $"type_b")
  }

  /** e26 — WATERMARK LATENESS AUDIT: how out-of-order the stream
    * actually is, the measurement that SETS the ST3 watermark delay
    * instead of guessing it. Treating event_id as arrival sequence,
    * each event's lateness = (max event-time seen so far) − its own
    * event time; the verdict row counts events a 1 min / 10 min / 1 h
    * watermark would drop and the worst lateness observed. All BIGINT
    * (exact µs epochs, floored-second report).
    *
    * Scale shape — the q31 range-partition discipline applied to a
    * PREFIX MAX instead of a prefix sum: events range-partition on
    * arrival order (layout pinned by localCheckpoint), pass 1 reduces
    * each range to its max event-time (one row per range, driver
    * reads |ranges| rows), whose exclusive running max broadcasts
    * back as per-range offsets; pass 2 runs the running-max window
    * INSIDE each range (partitionBy the range id — never a global
    * window) and combines with the offset via greatest(). Max is
    * associative and order-free, so the composition is exact and the
    * oracle's single global window replays it bit for bit.
    */
  def watermarkLatenessAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    latenessAuditFrame(events(s, dir).select($"event_id", micros($"ts").as("us")))
  }

  /** The frame core of [[watermarkLatenessAudit]] over any
    * (event_id, us) arrival log — split out so the spec can exercise
    * the late arms on a constructed out-of-order fixture (the driver
    * corpus arrives in order: its audit row is all-zeros, which is
    * the AUDIT WORKING — max_late_s = 0 is the licence to run a tight
    * watermark).
    */
  def latenessAuditFrame(log: DataFrame): DataFrame =
    latenessBatchAudit(log, Long.MinValue).drop("batch_max_us")

  /** [[latenessAuditFrame]] with an inherited arrival-prefix max —
    * the micro-batch form: `prefix` is the max event-time of every
    * EARLIER arrival (the StreamingLatenessAudit state snapshot), so
    * per-batch audits over an in-order feed compose to the one-shot
    * audit (lateness per event depends only on its arrival prefix,
    * and max composes associatively across the batch boundary). The
    * extra `batch_max_us` column is what the door folds into the next
    * snapshot; coalesces keep the one-row verdict total on an empty
    * batch.
    */
  def latenessBatchAudit(log: DataFrame, prefix: Long): DataFrame = {
    val s = log.sparkSession
    import s.implicits._
    val nRanges = s.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = log
      .repartitionByRange(nRanges, $"event_id".asc)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val stats = ranged.groupBy($"pid").agg(max($"us").as("pmax"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = prefix
    val offsets = stats.map { case (pid, pmax) =>
      val off = acc; acc = math.max(acc, pmax); (pid, off)
    }
    val offsetSeq = if (offsets.nonEmpty) offsets.toSeq else Seq((0, prefix))
    val offDf = broadcast(s.createDataFrame(offsetSeq).toDF("pid", "prefix_max"))
    val w = Window.partitionBy($"pid").orderBy($"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged
      .withColumn("runmax_local", max($"us").over(w))
      .join(offDf, Seq("pid"))
      .withColumn("lateness", greatest($"runmax_local", $"prefix_max") - $"us")
      .agg(count(lit(1)).as("n_events"),
        coalesce(sum(when($"lateness" > 60L * 1000000L, 1L).otherwise(0L)), lit(0L)).as("late_1m"),
        coalesce(sum(when($"lateness" > 600L * 1000000L, 1L).otherwise(0L)), lit(0L)).as("late_10m"),
        coalesce(sum(when($"lateness" > 3600L * 1000000L, 1L).otherwise(0L)), lit(0L)).as("late_1h"),
        coalesce(expr("max(lateness) div 1000000"), lit(0L)).as("max_late_s"),
        coalesce(max($"us"), lit(prefix)).as("batch_max_us"))
  }

  /** e27 — DAU/WAU STICKINESS: per active day the daily active users,
    * the trailing-7-day active users, and their ratio — the product
    * health metric every growth dashboard leads with, and the one
    * sliding-DISTINCT shape the window family avoids on purpose: an
    * exact distinct over a sliding window cannot ride a window frame
    * (distinct doesn't decompose over frame slides) and the naive form
    * re-scans 7 days of raw events per day.
    *
    * Construction: ONE corpus-sized distinct to (day, user) activity
    * rows; each activity row then COVERS the 7 report days
    * [day, day+6] via a 7-element `sequence` explode — so "users
    * active in [d−6, d]" is an ordinary exact distinct per report
    * day, fan-out exactly 7, no sliding frame, no per-day rescan.
    * Report days are the ACTIVE days (inner join with the DAU side);
    * the first 6 days of a corpus carry partial trailing windows by
    * construction (standard WAU semantics). All day arithmetic is
    * integer epoch-days; the stickiness ratio is the family's exact
    * BIGINT÷BIGINT single IEEE divide.
    *
    * Scale shape: the (day, user) reduction is the only pass over raw
    * events; everything after is |active days × users| sized with a
    * bounded ×7 fan-out, shuffled on the same day key it aggregates
    * on. At 100 TB the (day, user) table is the persisted activity
    * sidecar every engagement metric shares.
    */
  def stickiness(s: SparkSession, dir: String): DataFrame =
    stickinessOver(dayUserActivity(events(s, dir)))

  /** The (day_i, user_id) DISTINCT activity reduction e27 and its
    * streaming door share — the only pass over raw events, and the
    * persisted activity sidecar of the scaladoc above. Distinct is
    * union- and order-free, so per-batch activity folds compose to
    * the whole-stream reduction under any batch split.
    */
  def dayUserActivity(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    ev.select(expr("unix_date(to_date(ts))").cast("long").as("day_i"), $"user_id")
      .distinct()
  }

  /** e28 — PER-USER TRANSITION ENTROPY: the Shannon entropy of each
    * user's (from → to) action-transition distribution — the bot/
    * scripted-traffic detector e24's burstiness reads from TIMING,
    * read from BEHAVIOR instead: a crawler cycling one loop scores
    * near 0 whatever its speed; organic users spread over the
    * transition alphabet. Reported with the distinct-transition count
    * and normalized entropy (÷ ln n_distinct), the t45 convention.
    *
    * Determinism: the t45 integer-log decomposition — H = ln n −
    * (Σ c·ln c)/n with ln only ever over INTEGER counts (platform_ln
    * = libm bit-for-bit, and integer inputs are the divergence-swept
    * class) — and the t22/t24 two-level segmented fold, so every
    * float folds in a fixed order with segment-bounded buffers.
    *
    * Scale shape: one user_id shuffle for the lead window (shared
    * shape with e14/e15), a (user, transition)-keyed count, and
    * per-user aggregates whose buffers are bounded by the segment
    * width; output is |users| rows.
    */
  def userTransitionEntropy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.VectorFunctions.platform_ln
    import TextOps.{segOf, segFold, outerFold}
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val counts = events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("next_type", lead($"event_type", 1).over(w))
      // Both endpoints non-null, not just next_type: concat is
      // null-propagating, and the oracle filters `term IS NOT NULL` —
      // a nullable event_type column must not yield a NULL-keyed
      // transition group here that the oracle drops.
      .filter($"next_type".isNotNull && $"event_type".isNotNull)
      .select($"user_id",
        concat($"event_type", lit(">"), $"next_type").as("term"))
      .groupBy($"user_id", $"term").agg(count(lit(1)).as("c"))
    counts
      .withColumn("contrib",
        $"c".cast("double") * platform_ln($"c".cast("double")))
      .withColumn("seg", segOf($"term"))
      .groupBy($"user_id", $"seg")
      .agg(count(lit(1)).as("n_keys_seg"), sum($"c").as("n_seg"),
        expr(segFold).as("f_seg"))
      .groupBy($"user_id")
      .agg(sum($"n_keys_seg").as("n_distinct"), sum($"n_seg").as("n_trans"),
        expr(outerFold).as("s_clnc"))
      .withColumn("entropy",
        platform_ln($"n_trans".cast("double")) -
          $"s_clnc" / $"n_trans".cast("double"))
      .withColumn("norm_entropy",
        when($"n_distinct" > 1,
          $"entropy" / platform_ln($"n_distinct".cast("double")))
          .otherwise(lit(0.0)))
      .select($"user_id", $"n_distinct", $"n_trans", $"entropy", $"norm_entropy")
      .orderBy($"user_id")
  }

  /** e30 — HOURLY PERIODICITY via raw autocorrelation: per event
    * type, the un-centered autocorrelation R(L) = Σ_h c(h)·c(h+L) of
    * the hourly count series at lags 1, 23, 24, 25 (and R(0), the
    * energy) — the seasonality/bot detector on the SERIES level,
    * complementing e24 (per-user inter-arrival timing) and e28
    * (per-user transition structure): human traffic peaks R at lag 24
    * (a LOCAL max vs 23/25 — the `daily_peak` verdict), scripted
    * uniform traffic is flat across lags. score24 = R(24)/R(0).
    *
    * Determinism: counts are exact BIGINTs, every product and sum is
    * BIGINT (hours-of-days × count² stays far under 2⁶³), lags with
    * no overlap contribute empty sums → 0 via coalesce; score24 is
    * ONE IEEE divide of exact ints. Zero hours need no densify pass:
    * 0·x terms vanish, so the SPARSE (type, hour) aggregate IS the
    * sum.
    *
    * Scale shape: the raw stream reduces to a (type, hour) count
    * table in its first aggregate (map-side combined — the only pass
    * over events); the lag products are a self-equi-join of that
    * TINY aggregate on (type, h+L) fanned out by 4 lags; output is
    * |types| rows. At 100 TB the hourly count table for a year is
    * |types|·8760 rows — the series analytics cost nothing after the
    * one reduction.
    */
  def hourlyPeriodicity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    periodicityOver(hourlyCounts(
      events(s, dir).select($"event_type", $"ts")))
  }

  /** The (event_type, h, c) hourly count reduction of any
    * (event_type, ts) frame — the series table e30 and its streaming
    * door both aggregate; counts are additive, so per-batch
    * reductions fold into a running state order-free.
    */
  def hourlyCounts(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    ev.select($"event_type", micros($"ts").as("us"))
      // integer division — Column./ on longs is DOUBLE division
      .withColumn("h", expr("us div 3600000000"))
      .groupBy($"event_type", $"h").agg(count(lit(1)).as("c"))
  }

  /** The e30 audit from an already-reduced (event_type, h, c) table —
    * the frame core the streaming door re-runs per tick.
    */
  def periodicityOver(c: DataFrame): DataFrame = {
    val s = c.sparkSession
    import s.implicits._
    val probe = c.select($"event_type".as("t2"), $"h".as("h2"), $"c".as("c2"))
    val lagged = c.withColumn("lag", explode(lit(Array(1L, 23L, 24L, 25L))))
      .join(probe, $"event_type" === $"t2" && $"h2" === $"h" + $"lag")
      .groupBy($"event_type")
      .pivot("lag", Seq(1L, 23L, 24L, 25L))
      .agg(sum($"c" * $"c2"))
    val base = c.groupBy($"event_type")
      .agg(count(lit(1)).as("n_hours"), sum($"c").as("n_events"),
        sum($"c" * $"c").as("r0"))
    base.join(lagged, Seq("event_type"), "left")
      .select($"event_type", $"n_hours", $"n_events", $"r0",
        coalesce($"1", lit(0L)).as("r1"), coalesce($"23", lit(0L)).as("r23"),
        coalesce($"24", lit(0L)).as("r24"), coalesce($"25", lit(0L)).as("r25"))
      .withColumn("score24", $"r24".cast("double") / $"r0".cast("double"))
      .withColumn("daily_peak", $"r24" > $"r23" && $"r24" > $"r25")
      .orderBy($"event_type")
  }

  /** e32 — RETENTION-DECAY FIT: the exponential-churn constant read
    * off the DAILY cohort matrix — ln r_a = α + β·a fitted by OLS
    * over pooled day-ages 1..3, with half-life −ln 2/β: the single
    * number a growth team quotes from the whole retention surface
    * (t38/t39's model-fit discipline applied to the event side).
    * Daily, not e12's weekly, granularity — this corpus's users all
    * return every week (weekly retention is uniformly 1.0 and the fit
    * degenerates to slope 0; the day-level matrix has real decay).
    * Pooling is restricted to CALENDAR-observable cohorts — cohorts
    * born at least 3 days before the log's last active day — so every
    * age's denominator is the same age-0 population and no
    * partially-observed cohort biases the tail. Observability is by
    * CALENDAR, not by observed activity (a max(age)-based gate would
    * silently drop cohorts whose users all churned before day 3 —
    * survivorship bias that conditions r_a on survival and flattens
    * the fitted slope).
    *
    * Determinism: r_a = num_a/den enters ONLY through ln num_a −
    * ln den (the t45 integer-log discipline — platform_ln over exact
    * BIGINT counts, never a fraction); the OLS closed form over the
    * three (a, y_a) points is a FIXED literal expression (Σa = 6,
    * Σa² = 14 constants), identical in both engines; half-life is one
    * divide by the fitted slope, emitted only when the slope is
    * genuinely negative.
    *
    * Scale shape: the (user, day) distinct and the first-day
    * aggregate each shuffle on user_id once (co-partitioned); the
    * cohort×age matrix is days²-sized whatever the log size, and
    * everything after is a ≤4-row pivot in one reduce. Output is ONE
    * row.
    */
  def retentionDecay(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.VectorFunctions.platform_ln
    val ev = events(s, dir).select($"user_id", to_date($"ts").as("day"))
    val first = ev.groupBy($"user_id").agg(min($"day").as("cohort_day"))
    val active = ev.distinct()
    val ret = active.join(first, Seq("user_id"))
      .groupBy($"cohort_day", datediff($"day", $"cohort_day").cast("long").as("age"))
      .agg(countDistinct($"user_id").as("n_users"))
    // Calendar observability: the log's last active day is a one-row
    // broadcast; a cohort is pooled iff ages 0..3 were OBSERVABLE
    // (cohort_day <= last_day - 3), regardless of whether anyone
    // actually returned.
    val horizon = active.agg(max($"day").as("last_day"))
    val pooled = ret.crossJoin(broadcast(horizon))
      .filter(datediff($"last_day", $"cohort_day") >= 3)
      .filter($"age" <= 3)
      .groupBy($"age").agg(sum($"n_users").as("num"))
    val row = pooled.agg(
      max(when($"age" === 0, $"num")).as("den"),
      max(when($"age" === 1, $"num")).as("n1"),
      max(when($"age" === 2, $"num")).as("n2"),
      max(when($"age" === 3, $"num")).as("n3"))
    val y = (c: org.apache.spark.sql.Column) =>
      platform_ln(c.cast("double")) - platform_ln($"den".cast("double"))
    row
      .withColumn("y1", y($"n1")).withColumn("y2", y($"n2")).withColumn("y3", y($"n3"))
      .withColumn("slope",
        (lit(3.0) * ($"y1" + lit(2.0) * $"y2" + lit(3.0) * $"y3") -
          lit(6.0) * ($"y1" + $"y2" + $"y3")) / lit(6.0))
      .withColumn("intercept",
        (($"y1" + $"y2" + $"y3") - $"slope" * lit(6.0)) / lit(3.0))
      .withColumn("half_life_days",
        when($"slope" < 0.0, -platform_ln(lit(2.0)) / $"slope"))
      .select($"den", $"n1", $"n2", $"n3", $"y1", $"y2", $"y3",
        $"slope", $"intercept", $"half_life_days")
      .orderBy($"den")
  }

  /** e31 — CUSUM CHANGEPOINT detection on daily volume: per event
    * type, the day where cumulative deviation from the overall daily
    * mean peaks — "did traffic structurally shift, and when", the
    * level-shift complement to e13 (pointwise outliers), e24 (user
    * timing), e30 (periodicity). The classic CUSUM S_t = Σ_{i≤t}
    * (c_i − μ) is kept ALL-INTEGER by cross-multiplying the mean
    * away: S'_t = n·Σ_{i≤t} c_i − t'·T (n = #days, T = total events,
    * t' = #days up to t) = n²·(S_t/n scaled) — argmax |S'_t| is
    * argmax |S_t| because n > 0. The changepoint is the argmax day
    * (ties → earliest), reported with the peak magnitude and a
    * `shifted` flag (peak > n·T/20 — a 5% mass imbalance, also
    * cross-multiplied: 20·|S'| > n·T).
    *
    * Determinism: counts, prefix sums, and every compare are exact
    * BIGINTs — no float exists anywhere in the op.
    *
    * Scale shape: events reduce to (type, day) counts in one
    * map-side-combined aggregate; the prefix sum is a window
    * partitioned BY TYPE over |days| rows (bounded by the calendar,
    * never the log); the argmax is one more |days|-row aggregate per
    * type. Output is |types| rows.
    */
  def changepoints(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = events(s, dir)
      .select($"event_type", micros($"ts").as("us"))
      .withColumn("d", expr("us div 86400000000"))
      .groupBy($"event_type", $"d").agg(count(lit(1)).as("c"))
    val tot = daily.groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"), sum($"c").as("n_events"))
    val w = Window.partitionBy($"event_type").orderBy($"d")
    val cusum = daily.join(tot, Seq("event_type"))
      .withColumn("pref", sum($"c").over(w))
      .withColumn("t_idx", row_number().over(w).cast("long"))
      .withColumn("s_t", $"n_days" * $"pref" - $"t_idx" * $"n_events")
      .withColumn("abs_s", abs($"s_t"))
    val kw = Window.partitionBy($"event_type").orderBy($"abs_s".desc, $"d")
    cusum
      .withColumn("rk", row_number().over(kw))
      .filter($"rk" === 1)
      .select($"event_type", $"n_days", $"n_events",
        $"d".as("peak_day"), $"t_idx".as("peak_t"), $"s_t".as("peak_s"),
        $"abs_s".as("peak_abs"),
        (lit(20L) * $"abs_s" > $"n_days" * $"n_events").as("shifted"))
      .orderBy($"event_type")
  }

  /** e33 — ACTIVITY GINI: the inequality coefficient of per-user
    * event counts — "is engagement spread across the base or carried
    * by a whale tail", the one-number companion to q31's Pareto head
    * (q31 asks how many customers carry 80 % of SPEND; this is the
    * full-distribution Gini on the EVENT side). Rank form over counts
    * sorted ascending with id tiebreak:
    * G = (2·Σ rk·c_rk − (U+1)·ΣC) / (U·ΣC).
    *
    * Determinism: the numerator is exact BIGINT arithmetic over exact
    * counts and ranks; G is ONE IEEE divide of two exact ints (both
    * < 2⁵³ at any bench scale — U·ΣC at sf0.1 is ~10¹¹).
    *
    * Scale shape: the global rank is the q31 two-pass range-partitioned
    * CDF, not a single-task window — pass 1 collects one row PER RANGE
    * (the AQE-stats scale), pass 2 ranks inside each range under a
    * pid-partitioned window shifted by the broadcast offsets, and the
    * whole thing reduces to ONE row. Events reduce to (user, count)
    * in one map-side-combined aggregate before any sort. PlanAudit
    * note: runs its stats pass at plan time (the q31/t43 driver-loop
    * convention).
    */
  def activityGini(s: SparkSession, dir: String): DataFrame =
    giniOver(userCounts(events(s, dir)))

  /** The (user_id, c) reduction [[activityGini]] ranks — also the
    * additive state the StreamingGini door folds per tick.
    */
  def userCounts(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    ev.groupBy($"user_id").agg(count(lit(1)).as("c"))
  }

  /** [[activityGini]] from an already-reduced (user_id, c) table. */
  def giniOver(counts: DataFrame): DataFrame = {
    val s = counts.sparkSession
    import s.implicits._
    val nRanges = s.conf.getOption("spark.graft.pareto.ranges")
      .map(_.toInt).getOrElse(s.conf.get("spark.sql.shuffle.partitions").toInt)
    // Pin the range layout across both passes (the q31 rationale: the
    // boundary sample must not redraw between stats and rank). The
    // result is ONE row, so it is collected while the layout is pinned
    // and the pin is released: StreamingGini calls this every trigger
    // and must leave no blocks behind.
    val ranged = graft.Pinned(counts
      .repartitionByRange(nRanges, $"c".asc, $"user_id".asc)
      .withColumn("pid", spark_partition_id()))
    try {
      val stats = ranged.df.groupBy($"pid").agg(count(lit(1)).as("pcnt"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      // Empty input: emit the ONE row the DuckDB oracle (and the
      // StreamingGini one-row-per-tick contract) produces — count 0,
      // NULL sums, NULL gini. A limit(0) frame here would write an
      // EMPTY tick and hash-mismatch the oracle's single NULL row.
      if (stats.isEmpty)
        return counts.agg(count(lit(1)).as("n_users"),
            sum($"c").as("n_events"), sum($"c").as("gini_num"))
          .withColumn("gini", lit(null).cast("double"))
      val offsets = stats.toList.scanLeft((0, 0L)) { case ((_, acc), (pid, n)) =>
        (pid, acc + n)
      }.sliding(2).collect { case List((_, off), (pid, _)) => (pid, off) }.toList
      val nUsers = stats.map(_._2).sum
      val off = offsets.toDF("pid", "rk_off")
      val w = Window.partitionBy($"pid").orderBy($"c".asc, $"user_id".asc)
      val gini = ranged.df.join(broadcast(off), Seq("pid"))
        .withColumn("rk", row_number().over(w).cast("long") + $"rk_off")
        .agg(count(lit(1)).as("n_users"), sum($"c").as("n_events"),
          sum(($"rk" * 2 - lit(nUsers + 1L)) * $"c").as("gini_num"))
        .select($"n_users", $"n_events", $"gini_num",
          ($"gini_num".cast("double") /
            (lit(nUsers) * $"n_events").cast("double")).as("gini"))
      s.createDataFrame(java.util.Arrays.asList(gini.collect(): _*), gini.schema)
    } finally ranged.release()
  }

  /** e35 — SPIKE ATTRIBUTION: the incident-response query behind
    * e13/e31 — those detect THAT a day is anomalous; this decomposes
    * WHO drove the peak day. For the highest-volume day (ties →
    * earliest), each user's observed count beside the count expected
    * from their overall share (total_u · T_day / N), with the excess
    * algebraized to the exact integer c_u·N − total_u·T_day and the
    * lift left as ONE IEEE divide of exact products. Top-10 by
    * excess, full tiebreak.
    *
    * Scale shape: day totals are a calendar-bounded aggregate; the
    * peak day is an orderBy-limit-1 of that table (never a global
    * sort of events); the peak day's user counts come from a
    * FILTERED scan (predicate pushed to parquet) joined against the
    * user-total aggregate on user_id (co-partitioned); the one-row
    * day/corpus totals broadcast (whitelisted). Output is 10 rows.
    */
  def spikeAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = events(s, dir).select($"user_id", to_date($"ts").as("day"))
    val daily = ev.groupBy($"day").agg(count(lit(1)).as("t_day"))
    val tot = daily.agg(sum($"t_day").as("n_total"))
    val peak = daily.orderBy($"t_day".desc, $"day").limit(1)
    val userTot = ev.groupBy($"user_id").agg(count(lit(1)).as("u_total"))
    ev.join(broadcast(peak), Seq("day"))
      .groupBy($"day", $"t_day", $"user_id")
      .agg(count(lit(1)).as("n_day"))
      .join(userTot, Seq("user_id"))
      .crossJoin(broadcast(tot))
      .withColumn("excess_num", $"n_day" * $"n_total" - $"u_total" * $"t_day")
      .withColumn("lift", ($"n_day" * $"n_total").cast("double") /
        ($"u_total" * $"t_day").cast("double"))
      .select($"day", $"user_id", $"n_day", $"u_total", $"t_day",
        $"n_total", $"excess_num", $"lift")
      .orderBy($"excess_num".desc, $"user_id")
      .limit(10)
  }

  /** The 4×64 COUNT-MIN SKETCH counter table over a (user_id, c)
    * reduction — e34's serving structure and the StreamingCms door's
    * whole state. Four md5-derived hash rows of 64 counters; every
    * counter is an exact BIGINT sum, so per-batch tables fold by
    * ADDITION (CMS(A ∪ B) = CMS(A) + CMS(B) counter-wise).
    */
  def cmsOver(counts: DataFrame): DataFrame = {
    val s = counts.sparkSession
    import s.implicits._
    counts
      .select($"user_id", $"c",
        explode(array((0 until 4).map(i => lit(i.toLong)): _*)).as("i"))
      .withColumn("j", cmsBucket)
      .groupBy($"i", $"j").agg(sum($"c").as("cnt"))
  }

  /** Bucket hash over the in-scope (i, user_id) columns. */
  private def cmsBucket =
    expr("cast(conv(substring(md5(concat(cast(i as string), ':', " +
      "cast(user_id as string))), 1, 8), 16, 10) as bigint) % 64")

  /** e34 — COUNT-MIN HEAVY HITTERS: the top-10 most active users by
    * EXACT count, each probed against a 4×64 count-min sketch — the
    * constant-memory structure a 100 TB stream actually serves
    * heavy-hitter queries from (t07 audits HLL for distincts, q23
    * audits t-digest for quantiles; this closes the classic-sketch
    * trio with frequency). The audit emits exact beside the CMS
    * estimate and the overestimate — CMS can only err HIGH (every
    * counter is a supserset sum), and the spec + the `over_est ≥ 0`
    * column pin that one-sided guarantee on real data.
    *
    * Determinism: md5-derived bucket hashes (the t14/t49 primitive),
    * exact BIGINT counters, min over the four counters — no float
    * exists anywhere in the op.
    *
    * Scale shape: ONE user reduction feeds both arms (identical
    * subtree → ReusedExchange); the sketch is 256 rows whatever the
    * corpus (broadcast), the probe explodes 10 rows ×4. At 100 TB
    * the exact arm is the audit; the sketch alone is the shipped
    * path, maintained additively by the StreamingCms door.
    */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = userCounts(events(s, dir))
    val cms = cmsOver(counts)
    counts.orderBy($"c".desc, $"user_id").limit(10)
      .select($"user_id", $"c".as("exact"))
      .select($"user_id", $"exact",
        explode(array((0 until 4).map(i => lit(i.toLong)): _*)).as("i"))
      .withColumn("j", cmsBucket)
      .join(broadcast(cms), Seq("i", "j"))
      .groupBy($"user_id", $"exact").agg(min($"cnt").as("est"))
      .withColumn("over_est", $"est" - $"exact")
      .orderBy($"exact".desc, $"user_id")
  }

  /** [[stickiness]] from an already-reduced (day_i, user_id) activity
    * table — the frame core the streaming door emits per tick.
    */
  def stickinessOver(dayUser: DataFrame): DataFrame = {
    val s = dayUser.sparkSession
    import s.implicits._
    val dau = dayUser.groupBy($"day_i").agg(count(lit(1)).as("dau"))
    val wau = dayUser
      .select(explode(expr("sequence(day_i, day_i + 6)")).as("day_i"), $"user_id")
      .distinct()
      .groupBy($"day_i").agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day_i"))
      .select(date_add(to_date(lit("1970-01-01")), $"day_i".cast("int")).as("day"),
        $"dau", $"wau",
        ($"dau".cast("double") / $"wau".cast("double")).as("stickiness"))
      .orderBy($"day")
  }

  /** e40 — SILENT-HOUR GAPS: per event type the hours of the corpus's
    * observed span with ZERO activity, folded to maximal gaps — the
    * pipeline-outage / feed-gap report a monitoring stack reads next
    * to e13's spike flags (e13 finds too-much, this finds
    * too-little; e30 deliberately avoided densifying because zero
    * hours vanish in products — HERE the zeros are the subject, so
    * the densify is the op). Per type: observed hours, silent hours,
    * gap count, the longest gap and its start hour (ties → earliest,
    * picked on an exact BIGINT composite).
    *
    * Scale shape: rides the e30 `hourlyCounts` reduction (the raw
    * stream reduces once; everything after is |types|×|hours|-sized);
    * the hour spine is an explode of `sequence(h0, h1)` off the
    * one-row span broadcast — calendar-bounded, never a fact-table
    * cross join; the islands window partitions by type over silent
    * hours only.
    */
  def silentGaps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hc = hourlyCounts(events(s, dir).select($"event_type", $"ts"))
      .localCheckpoint()
    val span = hc.agg(min($"h").as("h0"), max($"h").as("h1"))
    val types = hc.select($"event_type").distinct()
    val spine = types.crossJoin(broadcast(span))
      .select($"event_type", explode(expr("sequence(h0, h1)")).as("h"))
    val silent = spine.join(hc, Seq("event_type", "h"), "left_anti")
    val w = Window.partitionBy($"event_type").orderBy($"h")
    val gaps = silent.withColumn("grp", $"h" - row_number().over(w))
      .groupBy($"event_type", $"grp")
      .agg(min($"h").as("g0"), count(lit(1)).as("len"))
    val agg = gaps.groupBy($"event_type")
      .agg(count(lit(1)).as("n_gaps"), sum($"len").as("n_silent_hours"),
        max($"len").as("longest_gap"),
        expr("max_by(g0, len * 10000000000L - g0)").as("longest_gap_start"))
    types.join(agg, Seq("event_type"), "left")
      .crossJoin(broadcast(span))
      .select($"event_type", ($"h1" - $"h0" + lit(1L)).as("n_hours"),
        coalesce($"n_silent_hours", lit(0L)).as("n_silent_hours"),
        coalesce($"n_gaps", lit(0L)).as("n_gaps"),
        coalesce($"longest_gap", lit(0L)).as("longest_gap"),
        $"longest_gap_start")
      .orderBy($"event_type")
  }

  /** e42 — VARIANT-typed payload rollup: the `props` JSON ingested
    * through Spark 4's VARIANT type (parse_json → a binary
    * semi-structured value, variant_get with a typed path extract) —
    * the OTHER new-in-4.x data surface beside e41's recursion, and
    * the production shape for schema-on-read payloads at 100 TB:
    * VARIANT parses once at ingest and every consumer path-extracts
    * from the binary encoding, where e04's from_json re-parses text
    * per consumer against a FIXED schema that a payload evolution
    * breaks. Per event type: event count, k-coverage, and exact
    * integer extrema/sum of the extracted field.
    *
    * Determinism: the extraction is BIGINT-typed via TRY_variant_get —
    * a missing path or a non-castable value yields NULL instead of
    * aborting the scan, which is the only admissible behavior for the
    * payload-evolution case this op exists for (strict variant_get
    * would kill the whole query on one bad row); counts/sums/extrema
    * are exact integers. Oracle parity, probed class by class in
    * VariantSpec: integers and numeric strings parse, fractional
    * doubles TRUNCATE toward zero (the ANSI numeric cast — identical
    * to DuckDB's TRY_CAST of the JSON-typed extract), non-numeric
    * strings and missing paths are NULL on both engines.
    *
    * Scale shape: one narrow (event_type, props) scan, parse+extract
    * map-side, |types|-row aggregate — map-combined, one shuffle.
    */
  def variantRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    events(s, dir)
      .select($"event_type",
        expr("try_variant_get(parse_json(props), '$.k', 'bigint')").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        count($"k").as("n_with_k"),
        sum($"k").as("sum_k"),
        min($"k").as("min_k"),
        max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  /** e41 — K-STEP PATH ENUMERATION over the transition SUPPORT graph
    * via Spark 4's RECURSIVE CTE executor (the UnionLoop node) — the
    * one query-language capability the portfolio had not exercised:
    * every prior iterate-to-fixpoint op (CC, PageRank, LP, BPE)
    * composes Scala loops precisely because min-label fixpoints need
    * UNION DISTINCT recursion, which Spark's recursive CTEs do not
    * support; a DEPTH-BOUNDED UNION ALL walk is exactly the shape
    * they do support, so it gets a registered query pinning the
    * feature under the oracle. For every ordered type pair: how many
    * distinct length-k chains of OBSERVED transitions lead src → dst,
    * k = 1..4 — the reachability-multiplicity view of e14's matrix
    * (e36 asks what's LIKELY next; this asks what's structurally
    * reachable in k hops and through how many routes, the fan-out a
    * funnel designer reads before trusting a k-step attribution).
    *
    * Determinism: the walk enumerates one row per path and counts
    * exact BIGINTs — no floats anywhere; termination is the
    * structural lvl < 4 guard, never a fixpoint test.
    *
    * Scale shape: the recursion runs over the |types|² SUPPORT edge
    * list (the shared transitionStats aggregate — the event log
    * reduces ONCE, before any recursion), so each iteration joins a
    * ≤|types|^k-row frontier against a broadcastable edge list and
    * path counts are bounded by |types|^(k-1) per pair whatever the
    * log size. DuckDB replays the identical recursion.
    */
  def pathCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    transitionStats(s, dir).select($"from_type", $"to_type")
      .createOrReplaceTempView("v_adj")
    s.sql("""
      WITH RECURSIVE paths(lvl, src, dst) AS (
        SELECT 1, from_type, to_type FROM v_adj
        UNION ALL
        SELECT p.lvl + 1, p.src, a.to_type
        FROM paths p JOIN v_adj a ON a.from_type = p.dst
        WHERE p.lvl < 4
      )
      SELECT lvl AS k, src, dst, CAST(count(*) AS BIGINT) AS n_paths
      FROM paths GROUP BY lvl, src, dst
      ORDER BY k, src, dst""")
  }

  /** e43 — DYNAMIC-GAP session windows: the inactivity gap is decided
    * PER EVENT by its type (a `purchase` holds the session open 30
    * minutes, anything else 10), so a session's end is the RUNNING MAX
    * of per-event `ts + gap` — true interval merging, not last-event
    * reach. `session_window(ts, gapExpr)` is the Spark-4 surface e03's
    * static form doesn't touch: the gap Column is evaluated row-by-row
    * before the merge, and a long-gap event can bridge short-gap events
    * that would otherwise split. The oracle replays exactly that with a
    * gaps-and-islands rewrite whose new-session test compares each ts
    * against the windowed `max(end)` of all PRIOR rows, splitting only
    * STRICTLY past it (boundary-inclusive merge, the probed
    * session_window rule). Scale: one shuffle on user_id into
    * the session merge — the same shape as e03; the gap CASE is a
    * row-local projection, free at any SF.
    */
  def dynamicSessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    dynamicSessionFrame(events(s, dir))
      .orderBy($"user_id", $"session_start")
  }

  /** The e43 aggregation over any (ts, user_id, event_type) frame —
    * batch here, and unchanged under `readStream` + watermark in
    * [[graft.streaming.StreamingDynamicSessions]] (the door asserts
    * stream == batch on the closed prefix). Unordered: the batch
    * registry entry adds the total ORDER BY, the door cannot (append
    * mode emits as the watermark closes sessions).
    */
  def dynamicSessionFrame(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val gap = when($"event_type" === "purchase", lit("30 minutes"))
      .otherwise(lit("10 minutes"))
    events
      .groupBy(session_window($"ts", gap), $"user_id")
      .agg(count(lit(1)).as("n"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L))
          .as("n_purchase"))
      .select($"user_id", $"session_window.start".as("session_start"),
        $"n", $"n_purchase")
  }

  /** e44 — SESSION-CLOSE HISTOGRAM, the CHAINED-stateful shape: a
    * tumbling-hour aggregate OVER the session_window aggregate's
    * output (sessions bucketed by the hour their reach expires —
    * `session_window.end` = last event + gap under the static form).
    * In batch this is two ordinary aggregates; the point is the
    * STREAMING form ([[graft.streaming.StreamingSessionChain]]):
    * TWO STATEFUL OPERATORS IN ONE QUERY, the multi-stateful pipeline
    * Structured Streaming long rejected — the watermark must
    * propagate THROUGH the session merge so the downstream hour
    * window can finalize (Spark derives the post-session watermark
    * from the session end, not the raw event time). The capacity-
    * planning view of the log: when do sessions expire, and how much
    * state drains per hour.
    *
    * Scale: the first aggregate pays e03's one user_id shuffle; the
    * second sees |sessions| rows pre-reduced map-side into ≤|hours|
    * groups — the cheap tail of the pipeline at any SF.
    */
  def sessionCloseHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sessionCloseFrame(events(s, dir)).orderBy($"close_hour")
  }

  /** The e44 two-stage aggregation over any (ts, user_id) frame —
    * batch here, unchanged under `readStream` + watermark in the
    * chained-stateful door. Unordered (the door emits on watermark
    * close; the batch registry entry adds the total ORDER BY).
    */
  private[graft] def sessionCloseFrame(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events
      .groupBy(session_window($"ts", "10 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      // window_time = session end − 1µs, the WATERMARK-CARRYING
      // event-time of a window struct — the only column a downstream
      // stateful window may consume (a raw .end extract severs the
      // watermark and the chained form is rejected under readStream).
      // Consequence: a session ending EXACTLY on an hour boundary
      // files under the hour it lived in, not the one it touches.
      .groupBy(window(window_time($"session_window"), "1 hour"))
      .agg(count(lit(1)).as("n_sessions"),
        sum($"n_events").as("n_events"))
      .select($"window.start".as("close_hour"), $"n_sessions", $"n_events")
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window => WExpr}

/** Event-stream analytics over the events table (the behavioural side of a
  * web corpus: the same user/event log the crawl's engagement signals come
  * from). */
object EventOps {

  /** Gap-based sessionization: a user's events belong to one session until
    * a silence longer than `gapSec`, then a new session starts — the
    * standard web-analytics session rule. One window partitioned by
    * user_id (lag for the gap flag, running sum for the session index) +
    * one groupBy for the per-session rollup: both shuffle on user_id, so
    * Spark plans a single exchange reused by both operators. Parallelism
    * is the user-key space (millions at corpus scale); the hottest
    * possible task is one user's full history, which is the operator's
    * irreducible sequential unit. Session boundaries depend only on
    * timestamp DIFFERENCES, so the epoch encoding is timezone-invariant.
    * Ordering ties break by event_id — total and deterministic. */
  def sessionize(events: DataFrame, gapSec: Long = 1800L): DataFrame = {
    val w = WExpr.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    // exact MICROSECOND epochs: the fixture timestamps carry sub-second
    // precision, and a seconds-truncated gap flips boundary decisions vs
    // an engine comparing full-precision epochs
    val epochUs = unix_micros(col("ts").cast("timestamp"))
    val flagged = events
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap", epochUs - lag(epochUs, 1).over(w))
      .withColumn("new_sess",
        when(col("gap").isNull || col("gap") > gapSec * 1000000L, 1L).otherwise(0L))
      .withColumn("session_idx",
        sum("new_sess").over(w.rowsBetween(WExpr.unboundedPreceding,
          WExpr.currentRow)) - 1)
    flagged.groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        min("event_id").as("first_event"),
        (max(epochUs) - min(epochUs)).as("duration_us"))
  }

  /** Weekly retention cohorts: users are cohorted by the epoch-week of
    * their FIRST event; n_users(cohort_week, k) counts how many of that
    * cohort were active k weeks later — the standard product-analytics
    * retention matrix.
    *
    * Scale shape: the corpus collapses to the distinct (user, week)
    * activity table first (map-side-combined; ≤ users × weeks rows no
    * matter how many raw events), cohorts are a user-keyed aggregate of
    * it, and the join back is user-keyed over the already-small table.
    * Weeks come from exact integer FLOOR division of microsecond epochs —
    * Spark's `div` truncates toward zero while the oracle's DuckDB `//`
    * floors, and the two diverge on pre-1970 timestamps, so the negative-
    * remainder case is corrected explicitly; every output column is an
    * integer and the cross-engine gate is exact — no date/timezone
    * arithmetic in the plan. */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val week = expr(
      "unix_micros(CAST(ts AS TIMESTAMP)) div 604800000000" +
        " - (CASE WHEN unix_micros(CAST(ts AS TIMESTAMP)) % 604800000000 < 0" +
        " THEN 1 ELSE 0 END)")
    val activity = events.select(col("user_id"), week.as("week")).distinct()
    val cohorts = activity.groupBy("user_id").agg(min("week").as("cohort_week"))
    activity.join(cohorts, Seq("user_id"))
      .select(col("cohort_week"), (col("week") - col("cohort_week")).as("k"))
      .groupBy("cohort_week", "k").agg(count(lit(1)).as("n_users"))
  }

  /** Ordered funnel conversion: a user reaches step i when events of types
    * steps(0..i) exist at STRICTLY increasing timestamps (the classic
    * product funnel — a later-step event before the earlier step does not
    * count). Returns one row per step: (step, step_type, n_users).
    *
    * Scale shape — SINGLE-PASS: the log is scanned ONCE (column-pruned,
    * with the `event_type IN steps` filter pushed to the scan), each
    * user's funnel events gather into one sorted list, and every step's
    * reach time falls out of one left-to-right fold over that list — k
    * steps cost one user-keyed exchange, not k filtered scans plus a
    * stage-join chain (the round-6 form; kept verbatim as the oracle's
    * CTE chain). The fold is order-insensitive among equal-µs ties
    * because advancement compares VALUES strictly (`us > t[i−1]`): an
    * equal timestamp can never advance regardless of processing order, so
    * the rule stays engine-portable. The per-user list is the operator's
    * irreducible sequential unit (the same unit sessionize's window
    * holds); parallelism is the user-key space.
    *
    * Equivalence to the stage-chain: t_i = min us of step-i events with
    * us > t_{i−1}. Ascending processing means the FIRST qualifying event
    * sets t_i, and any step-i event earlier in the sort than the step-
    * (i−1) event that sets t_{i−1} necessarily has us ≤ t_{i−1} (equal-us
    * ties sort lower step first) and correctly fails the strict test.
    * EventOpsSpec fuzz-pins fold == chain. */
  def funnel(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    val spark = events.sparkSession
    import spark.implicits._
    val k = steps.size
    val us = unix_micros(col("ts").cast("timestamp"))
    val sidx = steps.zipWithIndex.foldLeft(lit(-1)) { case (acc, (st, i)) =>
      when(col("event_type") === st, lit(i)).otherwise(acc)
    }
    val evs = events
      .where(col("event_type").isin(steps: _*))
      .select(col("user_id"), struct(us.as("us"), sidx.as("sidx")).as("e"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(col("e"))).as("evs"))
    // the fold: t[i] is set by the first event of step i whose us strictly
    // exceeds t[i−1] (element_at is 1-based, so element_at(acc, i) IS the
    // 0-based i−1 slot)
    val times = aggregate(
      col("evs"),
      array_repeat(lit(null).cast("long"), k),
      (acc, e) => transform(acc, (t, i) => {
        // CaseWhen branches evaluate lazily, so element_at never sees the
        // illegal index 0 (it is only reached on the i > 0 branch)
        val prevOk = when(i === 0, lit(true)).otherwise(
          element_at(acc, i).isNotNull && e.getField("us") > element_at(acc, i))
        when(i === e.getField("sidx") && t.isNull && prevOk,
          e.getField("us")).otherwise(t)
      }))
    val counts = evs.select(posexplode(times).as(Seq("pos", "t")))
      .where(col("t").isNotNull)
      .groupBy("pos").agg(count(lit(1)).as("n_users"))
    val stepsDf = steps.zipWithIndex.map { case (st, i) => (i, i + 1, st) }
      .toDF("pos", "step", "step_type")
    // broadcast the RIGHT side: a left-outer join can only build right,
    // and counts is ≤ k rows by construction
    stepsDf.join(broadcast(counts), Seq("pos"), "left")
      .select(col("step"), col("step_type"),
        coalesce(col("n_users"), lit(0L)).as("n_users"))
  }

  /** The round-6 stage-chain funnel — k per-type filtered aggregates, each
    * joined on the previous stage's reach frame. Kept as [[funnel]]'s
    * independently-shaped equivalence twin (EventOpsSpec pins fold ==
    * chain on fuzzed logs); the single-pass form is the production path. */
  private[graft] def funnelStageChain(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val spark = events.sparkSession
    import spark.implicits._
    val us = unix_micros(col("ts").cast("timestamp"))
    val typed = events.select(col("user_id"), col("event_type"), us.as("us"))
    // the counts are driver values, so the scope frees every reach frame
    val counts = Owned.scope {
      var reached = Owned.persist(typed.where(col("event_type") === steps.head)
        .groupBy("user_id").agg(min("us").as("t")))
      val perStep = scala.collection.mutable.ArrayBuffer[(Int, String, Long)](
        (1, steps.head, reached.count()))
      steps.zipWithIndex.drop(1).foreach { case (st, i) =>
        reached = Owned.persist(typed.where(col("event_type") === st)
          .join(reached.select(col("user_id"), col("t").as("prev")), Seq("user_id"))
          .where(col("us") > col("prev"))
          .groupBy("user_id").agg(min("us").as("t")))
        perStep += ((i + 1, st, reached.count()))
      }
      perStep.toSeq
    }
    counts.toDF("step", "step_type", "n_users")
  }

  /** Point-in-time (as-of) join: attach to every `leftType` event the most
    * recent `rightType` event with right.ts ≤ left.ts for the same user —
    * the temporal join a feature-store backfill runs ("state as of event
    * time"). Spark-first shape: NOT a range join (whose sort-merge
    * candidate set explodes quadratically on hot keys) but the
    * union-marker carry-forward — tag both sides, union, ONE exchange on
    * the key, per-key sort by (us, side) with right rows ordered before
    * coincident left rows (inclusive semantics), and
    * last(payload, ignoreNulls) over an unbounded-preceding row frame.
    * The right side pre-collapses to one deterministic row per
    * (user, us) — min event_id — so matches are unique and tie-free on
    * both engines. ONE pruned corpus scan (the type-IN filter pushes to
    * parquet; the side tag replaces a second scan — the funnel
    * single-pass trick, with left rows keyed by their own event_id so
    * only right rows collapse) and two exchanges: the tie-free
    * pre-collapse and the key exchange the carry-forward window rides.
    * Per-key state = one sorted pass; the hottest task is one user's
    * history, the operator's irreducible sequential unit. The oracle
    * replays it with DuckDB's NATIVE ASOF LEFT JOIN — a genuinely
    * independent implementation family. Emits
    * (event_id, user_id, us, prior_event_id, us_since); the prior
    * columns are NULL when no earlier right event exists. */
  def asofJoin(events: DataFrame, leftType: String, rightType: String): DataFrame = {
    val us = unix_micros(col("ts").cast("timestamp"))
    val tagged = events.where(col("event_type").isin(leftType, rightType))
      .select(col("user_id"), us.as("us"),
        when(col("event_type") === leftType, lit(1)).otherwise(lit(0)).as("side"),
        col("event_id"))
    // left rows carry their event_id in the group key (stay distinct);
    // right rows share the null key per (user, us) and collapse to min
    val collapsed = tagged
      .groupBy(col("user_id"), col("us"), col("side"),
        when(col("side") === 1, col("event_id")).as("lkey"))
      .agg(min("event_id").as("eid"))
    val w = WExpr.partitionBy("user_id").orderBy(col("us"), col("side"))
      .rowsBetween(WExpr.unboundedPreceding, WExpr.currentRow)
    collapsed
      .select(col("user_id"), col("us"), col("side"),
        when(col("side") === 1, col("eid")).as("event_id"),
        when(col("side") === 0, col("eid")).as("r_id"),
        when(col("side") === 0, col("us")).as("r_us"))
      .withColumn("prior_event_id", last(col("r_id"), ignoreNulls = true).over(w))
      .withColumn("prior_us", last(col("r_us"), ignoreNulls = true).over(w))
      .where(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("us"),
        col("prior_event_id"), (col("us") - col("prior_us")).as("us_since"))
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, TimestampType}

/** Funnel conversion (view → first click after it → first purchase
  * after that, per user) in two exchangeable physical forms:
  *
  *   - [[funnelFold]] — ONE shuffle: groupBy(user) + time-ordered fold
  *     over the user's collected funnel events. Fastest when per-user
  *     event counts are sane (the common case); state per group is the
  *     user's funnel-relevant events.
  *   - [[funnelStaged]] — the firehose guard: three cascaded
  *     min-aggregations (each O(1) state per group, plain streaming
  *     hash aggregates, no collected arrays), at the cost of three
  *     shuffles + two small joins. Use when a pathological key (a bot
  *     user emitting millions of events) would make the fold's
  *     per-group array the bottleneck.
  *
  * Both produce identical rows (FunnelOpsSpec pins equality, including
  * on a single-user firehose). Note an hour-bucketed pre-collapse
  * (keep first-per-(user, type, hour)) is NOT a sound guard, despite
  * being the obvious one: the true first click after a view can be a
  * non-hour-min event inside the view's own hour, and dropping it
  * changes (or loses) the conversion — the staged cascade is the exact
  * bounded-state form.
  */
object FunnelOps {

  private val relevant = Seq("view", "click", "purchase")

  /** Stats-bytes gate for [[funnelAdaptive]]: below it the fold's
    * single shuffle + interpreted per-event fold beats the staged
    * cascade's three fixed jobs (measured at sf0.1, events ≈ 2 MB:
    * fold 0.34–0.37 s in-suite across r15/r16 driver artifacts vs
    * staged 0.44 s); above it the staged form wins and keeps winning —
    * the fold ships EVERY funnel event through its collect_list
    * exchange and pays the q128-class megamorphic interpreted-eval
    * tax in long suites (100×, events 211 MB: fold 2.3–5.1 s in-suite
    * vs a 1.43 s isolated floor; staged floors 1.635 isolated and is
    * every-operator codegen). 64 MB sits ~30× above the measured
    * small side and ~3× below the measured large side.
    */
  val FoldMaxStatsBytes: Long = 64L << 20

  /** Size-adaptive funnel (q87's entry): the ordered fold below
    * [[FoldMaxStatsBytes]] of optimizer-estimated input, the staged
    * all-codegen cascade above it. Both forms are row-identical
    * (FunnelOpsSpec pins equality incl. a single-user firehose), so
    * the dispatch cannot change a result bit.
    */
  def funnelAdaptive(
      events: DataFrame,
      foldMaxBytes: Long = FoldMaxStatsBytes): DataFrame =
    if (events.queryExecution.optimizedPlan.stats.sizeInBytes <= foldMaxBytes)
      funnelFold(events)
    else funnelStaged(events)

  /** One-shuffle ordered fold (q87's shape). */
  def funnelFold(events: DataFrame): DataFrame = {
    val nullTs = lit(null).cast(TimestampType)
    val evs = sort_array(collect_list(struct(col("ts"), col("event_type"))))
    val folded = aggregate(
      evs,
      struct(nullTs.as("tv"), nullTs.as("tc"), nullTs.as("tp")),
      (st, x) => {
        val (tv, tc, tp) = (st.getField("tv"), st.getField("tc"), st.getField("tp"))
        val (ts, ty) = (x.getField("ts"), x.getField("event_type"))
        struct(
          when(tv.isNull && ty === "view", ts).otherwise(tv).as("tv"),
          when(tv.isNotNull && tc.isNull && ty === "click" && ts > tv, ts)
            .otherwise(tc).as("tc"),
          when(tc.isNotNull && tp.isNull && ty === "purchase" && ts > tc, ts)
            .otherwise(tp).as("tp"))
      })
    events
      .select(col("user_id"), col("event_type"), col("ts"))
      .filter(col("event_type").isInCollection(relevant))
      .groupBy(col("user_id"))
      .agg(folded.as("f"))
      .filter(col("f.tv").isNotNull)
      .select(col("user_id"), col("f.tv").as("t_view"),
        col("f.tc").as("t_click"), col("f.tp").as("t_purchase"))
      .transform(shape)
  }

  /** Firehose-safe staged cascade: min-agg per stage, thresholds
    * carried by join — the relational form of the same semantics.
    * The v and c stage outputs are shared shuffle subtrees (each
    * feeds the next stage's threshold join AND the final assembly,
    * and exchange reuse does not fire across the differing consumers
    * — measured: unpersisted, the census reads 6 events scans and 5
    * exchanges), so they ride the suite's persist rule for shared
    * shuffle subtrees via [[graft.CacheScope.scoped]]; both are
    * |users|-sized at any SF. Callers must drain (Bench/Verify do
    * after every query).
    */
  def funnelStaged(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), col("event_type"), col("ts"))
    val v = graft.CacheScope.scoped(
      e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view")))
    val c = graft.CacheScope.scoped(
      e.filter(col("event_type") === "click")
        .join(v, "user_id")
        .filter(col("ts") > col("t_view"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click")))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .transform(shape)
  }

  /** Common output shape: stage reached + step latencies with the −1
    * sentinel keeping the result null-free for hashing.
    */
  private def shape(df: DataFrame): DataFrame =
    df.select(col("user_id"), col("t_view"),
      (lit(1) + col("t_click").isNotNull.cast(IntegerType)
        + col("t_purchase").isNotNull.cast(IntegerType)).as("stage"),
      coalesce(unix_micros(col("t_click")) - unix_micros(col("t_view")), lit(-1L))
        .as("us_to_click"),
      coalesce(unix_micros(col("t_purchase")) - unix_micros(col("t_click")), lit(-1L))
        .as("us_to_purchase"))
      .orderBy(col("user_id"))
}

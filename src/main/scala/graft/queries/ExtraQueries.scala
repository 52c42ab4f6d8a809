package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.Q.t

/** Analytics depth beyond the reference surface: the relational patterns a
  * large-scale training-data pipeline leans on daily — multiway broadcast
  * joins, windowed top-n / deltas, sessionization, exact quantiles, rollups,
  * ordered aggregation, conditional pivots.
  */
object ExtraQueries {

  private def events(s: SparkSession, d: String): DataFrame = Q.events(s, d)

  private val SessionGapNs = 1800000000000L // 30 min

  /** q_join_bucketed's layout location — one per JVM so re-runs overwrite
    * rather than leak (each invocation rewrites both bucketed tables). */
  private lazy val bucketedBase: String =
    java.nio.file.Files.createTempDirectory("graft_bucketed").toString

  /** q_events_partitioned_slice's layout base — per JVM for the same
    * reasons, so concurrent bench/verify processes can't race one shared
    * fixed path. */
  private lazy val eventsLayoutBase: String =
    java.nio.file.Files.createTempDirectory("graft_events").toString

  /** Exact interpolating percentiles per group WITHOUT the collect-the-group
    * ObjectHashAggregate (round 22). Spark's `percentile` funnels every
    * value of a group into one task's OpenHashMap (interpreted partials,
    * per-group merge+sort in a single task — the classic few-groups skew);
    * here the value stream crosses one partial-agg'd (group, value)
    * exchange and the per-group pass runs over DISTINCT values (bounded by
    * the value domain, not the corpus row count), as a running-count
    * window + one conditional-pick aggregation. For a near-unique value
    * column (e.g. l_extendedprice) the distinct-value frame approaches the
    * row count, and each group's sorted window still funnels through one
    * task — smaller than the old percentile funnel, but the same skew shape.
    *
    * Bit-identical to `PercentileBase.getPercentile` (Spark 4.1.2, verified
    * against the shipped bytecode): position = p·(N−1) with N = non-null
    * count; lowerKey = value at the first cumulative count ≥ ⌊position⌋+1,
    * higherKey at ≥ ⌈position⌉+1; result lowerKey when ⌊⌋ = ⌈⌉ OR the two
    * keys are equal (the early returns — NOT the algebraically-equal
    * interpolation, which can differ in the last ulp), else
    * (higher−position)·lowerKey + (position−lower)·higherKey in exactly
    * that operand order. Null values are excluded from N and the cut
    * (percentile's null handling); `_n_rows` carries the count(*) of the
    * group including them. Output: group column, `_n_rows`, and `_ex$i`
    * per requested percentile (null when the group has no non-null value,
    * matching percentile's empty-buffer null). */
  private[queries] def exactPercentiles(src: DataFrame, group: String,
      value: String, ps: Seq[Double]): DataFrame = {
    val vc = src.groupBy(col(group), col(value).as("_v"))
      .agg(count(lit(1)).as("_c"))
    // nulls sort FIRST under asc, so the running non-null count is
    // unaffected by their presence; one Window operator hosts all three
    // frames (same partitioning + ordering)
    val wOrd = Window.partitionBy(col(group)).orderBy(col("_v").asc)
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val nn = when(col("_v").isNotNull, col("_c")).otherwise(lit(0L))
    // the null-value row (at most one per group) stays IN the frame: its
    // running contribution is 0, it can never satisfy a pick condition
    // (its _cum is 0 under nulls-first ordering), and its presence keeps
    // all-null groups in the output with _n = 0 → null percentile, exactly
    // percentile's empty-buffer null
    val cum = vc
      .withColumn("_cum", sum(nn).over(wRun))
      .withColumn("_n", sum(nn).over(wAll))
      .withColumn("_nr", sum(col("_c")).over(wAll))
    val picks = ps.zipWithIndex.flatMap { case (p, i) =>
      val pos = lit(p) * (col("_n") - 1L).cast("double")
      val lo = floor(pos).cast("long")
      val hi = ceil(pos).cast("long")
      val prev = col("_cum") - col("_c")
      Seq(
        max(when(prev <= lo && lo < col("_cum"), col("_v"))).as(s"_lo$i"),
        max(when(prev <= hi && hi < col("_cum"), col("_v"))).as(s"_hi$i"))
    }
    val aggCols = Seq(first(col("_n")).as("_n"),
      first(col("_nr")).as("_nnn")) ++ picks
    val agg = cum.groupBy(col(group)).agg(aggCols.head, aggCols.tail: _*)
    val exprs = ps.zipWithIndex.map { case (p, i) =>
      val pos = lit(p) * (col("_n") - 1L).cast("double")
      val lo = floor(pos).cast("long")
      val hi = ceil(pos).cast("long")
      when(col("_n") === 0L, lit(null).cast("double"))
        .when(hi === lo || col(s"_lo$i") === col(s"_hi$i"), col(s"_lo$i"))
        .otherwise((hi.cast("double") - pos) * col(s"_lo$i")
          + (pos - lo.cast("double")) * col(s"_hi$i"))
        .as(s"_ex$i")
    }
    agg.select(Seq(col(group), col("_nnn").as("_n_rows"), col("_n")) ++ exprs: _*)
  }

  val all: Seq[Q] = Seq(

    // Multiway join: revenue by region (TPC-H Q5 shape). nation/region
    // broadcast; orders⨝customer is the only real shuffle.
    Q("q_join_multiway",
      (s, d) => {
        val cust = t(s, d, "customer").select("c_custkey", "c_nationkey")
        val nat = t(s, d, "nation").select("n_nationkey", "n_regionkey")
        val reg = t(s, d, "region").select("r_regionkey", "r_name")
        t(s, d, "orders")
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name")
          .agg(
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
            count("*").cast("long").as("n_orders"))
          .orderBy("r_name")
      },
      Some("SELECT r_name, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue, " +
        "CAST(count(*) AS BIGINT) AS n_orders FROM orders " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY r_name ORDER BY r_name")),

    // Top-n per group via window rank — the per-key candidate-pruning shape
    Q("q_topn_per_group",
      (s, d) => {
        val w = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
        t(s, d, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 3)
          .orderBy("l_returnflag", "rank")
      },
      Some("SELECT * FROM (SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, " +
        "CAST(row_number() OVER (PARTITION BY l_returnflag " +
        "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS BIGINT) AS rank " +
        "FROM lineitem) WHERE rank <= 3 ORDER BY l_returnflag, rank")),

    // Per-group top-k as a CUSTOM TypedImperativeAggregate ([[graft.functions
    // .TopKDesc]]): a bounded min-heap buffer makes the partial aggregate
    // map-side and ships ≤ k doubles per group to the shuffle — unlike the
    // window formulation above (q_topn_per_group), which shuffles and sorts
    // EVERY group member. Prices scaled to exact integer cents
    // (floor(x·100 + 0.5), identical both engines) so the joined-string
    // comparison is float-format-proof.
    Q("q_topk_agg",
      (s, d) => {
        val cents = floor(col("l_extendedprice") * 100 + 0.5).cast("double")
        t(s, d, "lineitem")
          .select(col("l_returnflag"), cents.as("cents"))
          .groupBy("l_returnflag")
          .agg(graft.functions.Aggregates.topkDesc(col("cents"), 5).as("tk"))
          .select(col("l_returnflag"),
            concat_ws(",", transform(col("tk"), v => v.cast("long").cast("string")))
              .as("top5_cents"))
          .orderBy("l_returnflag")
      },
      Some("WITH c AS (SELECT l_returnflag, CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents FROM lineitem) " +
        "SELECT l_returnflag, array_to_string(list_slice(list(cents ORDER BY cents DESC), 1, 5), ',') AS top5_cents " +
        "FROM c GROUP BY l_returnflag ORDER BY l_returnflag")),

    // Time-slice scan: the range predicate is applied to the RAW ts column
    // (Q.eventsBetween) so it reaches the parquet reader as a PushedFilter
    // and prunes row groups — at 100 TB this is the difference between
    // reading one day and reading the table. PlanRegressionSpec pins the
    // pushdown; the [fromNs, toNs) bounds are 2024-01-05 → 2024-01-15 UTC.
    Q("q_events_time_slice",
      (s, d) => Q.eventsBetween(s, d, 1704412800000000000L, 1705276800000000000L)
        .groupBy("event_type")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"),
          min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
        .orderBy("event_type"),
      Some("SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value, " +
        "min(epoch_ns(ts)) AS min_ts, max(epoch_ns(ts)) AS max_ts " +
        "FROM events WHERE epoch_ns(ts) >= 1704412800000000000 " +
        "AND epoch_ns(ts) < 1705276800000000000 " +
        "GROUP BY event_type ORDER BY event_type")),

    // Same slice through the DATE-PARTITIONED layout (EventsLayout): the
    // query first materializes the events table as one event_date=…/
    // directory per UTC day, then slices through partition pruning (the
    // day range never lists unmatched directories) + the pushed ts bounds
    // (row-group pruning inside the boundary days). Identical oracle as
    // q_events_time_slice — the layout must be semantics-invisible; what
    // changes is the I/O ceiling at 100 TB (one day ≈ 0.3% of a year-span
    // table). PlanRegressionSpec pins PartitionFilters + PushedFilters;
    // EventsLayoutSpec pins files-read < files-written.
    Q("q_events_partitioned_slice",
      (s, d) => {
        // per-JVM base (like bucketedBase) so concurrent processes never
        // overwrite each other's layout mid-read; keyed by the FULL corpus
        // path (md5), not the basename — /a/sf1 and /b/sf1 must not collide
        val layout = eventsLayoutBase + "/bydate_" +
          java.security.MessageDigest.getInstance("MD5")
            .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
        graft.ops.EventsLayout.writePartitioned(Q.events(s, d), layout)
        graft.ops.EventsLayout
          .readBetween(s, layout, 1704412800000000000L, 1705276800000000000L)
          .groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"),
            min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
          .orderBy("event_type")
      },
      Some("SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value, " +
        "min(epoch_ns(ts)) AS min_ts, max(epoch_ns(ts)) AS max_ts " +
        "FROM events WHERE epoch_ns(ts) >= 1704412800000000000 " +
        "AND epoch_ns(ts) < 1705276800000000000 " +
        "GROUP BY event_type ORDER BY event_type")),

    // Gap-based sessionization: lag → new-session flag → running session id →
    // per-session stats. THE canonical event-pipeline op; at scale it is one
    // shuffle on user_id and everything else is window-local.
    Q("q_sessionize",
      (s, d) => {
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val sess = events(s, d).filter(col("user_id") < 10)
          .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
          .withColumn("new_sess",
            when(col("prev_ts").isNull || col("ts") - col("prev_ts") > SessionGapNs, 1L).otherwise(0L))
          .withColumn("session_seq", sum(col("new_sess")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        sess.groupBy("user_id", "session_seq")
          .agg(
            count("*").cast("long").as("n_events"),
            min(col("event_id")).as("first_event"),
            max(col("ts")).as("max_ts"), min(col("ts")).as("min_ts"))
          // integer div: ns spans overflow double-precision division
          .withColumn("duration_s", expr("(max_ts - min_ts) div 1000000000"))
          .select("user_id", "session_seq", "n_events", "first_event", "duration_s")
          .orderBy("user_id", "session_seq")
      },
      Some(s"WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS tsn FROM events WHERE user_id < 10), " +
        "lagged AS (SELECT user_id, event_id, tsn, " +
        "lag(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS prev_ts FROM e), " +
        "flagged AS (SELECT user_id, event_id, tsn, " +
        s"CASE WHEN prev_ts IS NULL OR tsn - prev_ts > $SessionGapNs THEN 1 ELSE 0 END AS new_sess FROM lagged), " +
        "sess AS (SELECT user_id, event_id, tsn, " +
        "CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY tsn, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq FROM flagged) " +
        "SELECT user_id, session_seq, CAST(count(*) AS BIGINT) AS n_events, " +
        "min(event_id) AS first_event, CAST((max(tsn) - min(tsn)) // 1000000000 AS BIGINT) AS duration_s " +
        "FROM sess GROUP BY user_id, session_seq ORDER BY user_id, session_seq")),

    // Conversion funnel: first signup → first subsequent purchase per user,
    // with time-to-convert. The standard product-analytics shape: two
    // filtered scans partial-agg'd per user, one equi-join on user_id, one
    // conditional-min rollup — no window, no per-event state. At 100 TB
    // both sides shrink to per-user rows BEFORE the join.
    Q("q_events_funnel",
      (s, d) => {
        // µs granularity on BOTH engines: DuckDB's TIMESTAMP is µs, so the
        // parquet's nanos truncate there; `div 1000` floors identically here
        val e = events(s, d).withColumn("tus", expr("ts div 1000"))
        val su = e.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min(col("tus")).as("signup_us"))
        val pu = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("tus").as("pus"))
        su.join(pu, Seq("user_id"), "left")
          .groupBy("user_id")
          .agg(min(col("signup_us")).as("signup_us"),
            min(when(col("pus") >= col("signup_us"), col("pus"))).as("first_purchase"))
          .select(col("user_id"), col("signup_us"),
            col("first_purchase").isNotNull.as("converted"),
            expr("(first_purchase - signup_us) div 1000000").as("secs_to_convert"))
          .orderBy("user_id")
      },
      Some("WITH su AS (SELECT user_id, min(epoch_us(ts)) AS signup_us FROM events " +
        "WHERE event_type = 'signup' GROUP BY user_id), " +
        "pu AS (SELECT user_id, epoch_us(ts) AS pus FROM events WHERE event_type = 'purchase'), " +
        "j AS (SELECT su.user_id, signup_us, CASE WHEN pus >= signup_us THEN pus END AS cp " +
        "FROM su LEFT JOIN pu USING (user_id)), " +
        "a AS (SELECT user_id, min(signup_us) AS signup_us, min(cp) AS first_purchase " +
        "FROM j GROUP BY user_id) " +
        "SELECT user_id, signup_us, first_purchase IS NOT NULL AS converted, " +
        "(first_purchase - signup_us) // 1000000 AS secs_to_convert " +
        "FROM a ORDER BY user_id")),

    // Single-pass table profile — the ANALYZE-style stats a cost-based
    // optimizer or data-quality monitor collects: row count, distinct keys,
    // null counts, min/max per column, all in ONE aggregation over one scan
    // (partial aggs everywhere; the two exact count-distincts expand the
    // plan, which is the accepted cost of exactness — the approximate
    // 100 TB path is q_approx_distinct's HLL sketch).
    Q("q_profile_lineitem",
      (s, d) => t(s, d, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("d_orderkey"),
        countDistinct(col("l_partkey")).as("d_partkey"),
        sum(when(col("l_returnflag").isNull, 1L).otherwise(0L)).as("null_returnflag"),
        Q.r4(min(col("l_quantity"))).as("min_qty"),
        Q.r4(max(col("l_quantity"))).as("max_qty"),
        Q.r4(min(col("l_extendedprice"))).as("min_price"),
        Q.r4(max(col("l_extendedprice"))).as("max_price"),
        date_format(min(col("l_shipdate")), "yyyy-MM-dd").as("min_shipdate"),
        date_format(max(col("l_shipdate")), "yyyy-MM-dd").as("max_shipdate")),
      Some("SELECT CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(count(DISTINCT l_orderkey) AS BIGINT) AS d_orderkey, " +
        "CAST(count(DISTINCT l_partkey) AS BIGINT) AS d_partkey, " +
        "CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_returnflag, " +
        s"${Q.r4Sql("min(l_quantity)")} AS min_qty, ${Q.r4Sql("max(l_quantity)")} AS max_qty, " +
        s"${Q.r4Sql("min(l_extendedprice)")} AS min_price, ${Q.r4Sql("max(l_extendedprice)")} AS max_price, " +
        "strftime(min(l_shipdate), '%Y-%m-%d') AS min_shipdate, " +
        "strftime(max(l_shipdate), '%Y-%m-%d') AS max_shipdate " +
        "FROM lineitem")),

    // Exact median per group (interpolating percentile) — computed via
    // [[exactPercentiles]] (distinct-value counts + running window) instead
    // of the collect-the-group `percentile` aggregate; bit-identical output,
    // no 3-partition funnel of the full value stream
    Q("q_percentile_median",
      (s, d) => exactPercentiles(
          t(s, d, "lineitem").select("l_returnflag", "l_extendedprice"),
          "l_returnflag", "l_extendedprice", Seq(0.5))
        .select(col("l_returnflag"), round(col("_ex0"), 4).as("median_price"),
          col("_n_rows").as("n"))
        .orderBy("l_returnflag"),
      Some("SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price, " +
        "CAST(count(*) AS BIGINT) AS n FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")),

    // Rollup with explicit subtotal markers (portable NULL handling)
    Q("q_rollup_aggregate",
      (s, d) => t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count("*").cast("long").as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("<all>")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("<all>")).as("linestatus"),
          col("n"), col("sum_qty"))
        .orderBy("returnflag", "linestatus"),
      Some("SELECT coalesce(l_returnflag, '<all>') AS returnflag, " +
        "coalesce(l_linestatus, '<all>') AS linestatus, " +
        "CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus) " +
        "ORDER BY returnflag, linestatus")),

    // lag/lead deltas per key — feature-engineering staple
    Q("q_lag_delta",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        events(s, d).filter(col("user_id") < 10)
          .select(col("user_id"), col("event_id"), col("value"))
          .withColumn("prev_value", lag(col("value"), 1).over(w))
          .withColumn("delta", Q.r4(col("value") - col("prev_value")))
          .withColumn("next_event", lead(col("event_id"), 1).over(w))
          .select("user_id", "event_id", "delta", "next_event")
          .orderBy("user_id", "event_id")
      },
      Some("SELECT user_id, event_id, " +
        s"${Q.r4Sql("value - lag(value) OVER (PARTITION BY user_id ORDER BY event_id)")} AS delta, " +
        "lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS next_event " +
        "FROM events WHERE user_id < 10 ORDER BY user_id, event_id")),

    // Skew-resistant aggregation: two-phase salted groupBy. event_type has
    // ~5 values over the whole table — a direct groupBy funnels each key
    // into one reducer; salting fans the partial aggregation across 16
    // buckets per key, then the tiny (key, salt) partials combine. Same
    // result, no hot partition at 100 TB.
    Q("q_skew_salted_agg",
      (s, d) => events(s, d)
        .withColumn("_salt", pmod(col("event_id"), lit(16)))
        .groupBy("event_type", "_salt")
        .agg(count("*").as("_n"),
          sum(col("value").cast("decimal(18,4)")).as("_sv"))
        .groupBy("event_type")
        .agg(sum(col("_n")).cast("long").as("n"),
          sum(col("_sv")).cast("double").as("sum_value"))
        .orderBy("event_type"),
      Some("SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value " +
        "FROM events GROUP BY event_type ORDER BY event_type")),

    // Skew-resistant JOIN: the salting sibling of q_skew_salted_agg for a
    // big×big equi-join. When one join key is hot, a plain sort-merge join
    // funnels every row of that key into one reducer — the 100 TB straggler.
    // Salting fans the probe side over S sub-keys (a deterministic hash of
    // a non-key column) and replicates the build side S× (explode over the
    // salt domain), so the join key becomes (key, salt) and each hot key
    // spreads across S reducers. The replication cost is S× the SMALLER
    // side only; results are identical because every (probe, build) pair
    // still meets on exactly one salt. AQE's skew-join split handles
    // runtime-detected skew; explicit salting is the portable plan-level
    // guarantee when the hot keys are known (the shape is pinned even at
    // fixture scale via the merge hint — Catalyst would broadcast here).
    Q("q_skew_salted_join",
      (s, d) => {
        val S = 4
        val li = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"),
            pmod(col("l_linenumber").cast("long"), lit(S.toLong)).as("_salt"))
        val o = t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority"))
          .withColumn("_salt", explode(sequence(lit(0L), lit(S.toLong - 1))))
        li.join(o.hint("merge"),
            col("l_orderkey") === col("o_orderkey") && li("_salt") === o("_salt"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).cast("long").as("n_items"),
            sum((col("l_extendedprice").cast("decimal(18,2)") *
              (lit(BigDecimal(1)).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
              .cast("decimal(28,4)")).cast("double").as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some("SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items, " +
        "CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority")),

    // HLL sketch distinct count, oracle-checked by CONTRACT (round-12
    // directive 7): the raw estimate is engine-specific (Spark HLL++ vs
    // DuckDB HLL disagree bit-for-bit), but the sketch's CONTRACT — the
    // estimate lands within rtol of the exact count — is cross-engine. The
    // compared columns are the exact count and the bound check itself;
    // rtol 0.15 = 3× the default 5% rsd (a >3-sigma miss means a broken
    // sketch, not estimator variance). The exact countDistinct here exists
    // only to express the check — the 100 TB production path is the sketch
    // alone (one pass, mergeable partials, no distinct shuffle).
    Q("q_approx_distinct",
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey")).as("est"),
          countDistinct(col("l_partkey")).cast("long").as("n_exact"))
        .select(col("l_returnflag"), col("n_exact"),
          (abs(col("est").cast("double") / col("n_exact").cast("double") - 1.0)
            <= 0.15).as("within_rtol"))
        .orderBy("l_returnflag"),
      Some("SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact, " +
        "true AS within_rtol FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")),

    // Quantile sketch, oracle-checked by CONTRACT (the q_approx_distinct
    // pattern): approx_percentile is the single-pass mergeable-partials
    // quantile path — at 100 TB the exact interpolating percentile
    // (q_percentile_median) needs a per-group sort/collect, the sketch
    // needs one pass and a bounded state merge. Raw estimates are
    // engine-specific, so the compared columns are the EXACT quantiles and
    // the bound check itself; accuracy 10000 → rank error ≤ 1e-4, far
    // inside the 5% value rtol on these distributions.
    Q("q_approx_quantiles",
      (s, d) => {
        val qs = "array(0.25D, 0.5D, 0.95D)"
        // the sketch leg keeps its exact round-21 shape (approx_percentile
        // over the raw rows — the estimate is sensitive to the input
        // multiset); the EXACT leg moves to [[exactPercentiles]] so the
        // expensive collect-the-group percentile disappears. The _ok
        // comparisons see bit-identical exact values, so the booleans are
        // unchanged.
        val est = t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(expr(s"approx_percentile(l_extendedprice, $qs, 10000)").as("est"))
        val ex = exactPercentiles(
          t(s, d, "lineitem").select("l_returnflag", "l_extendedprice"),
          "l_returnflag", "l_extendedprice", Seq(0.25, 0.5, 0.95))
        est.join(ex, Seq("l_returnflag"))
          .select(Seq(col("l_returnflag")) ++ Seq(0, 1, 2).zip(Seq("p25", "p50", "p95"))
            .flatMap { case (i, n) => Seq(
              Q.r4(col(s"_ex$i")).as(s"${n}_exact"),
              (abs(element_at(col("est"), i + 1) / col(s"_ex$i") - 1.0)
                <= 0.05).as(s"${n}_ok")) }: _*)
          .orderBy("l_returnflag")
      },
      Some("SELECT l_returnflag, " +
        Seq("0.25" -> "p25", "0.5" -> "p50", "0.95" -> "p95").map { case (q, n) =>
          s"${Q.r4Sql(s"quantile_cont(l_extendedprice, $q)")} AS ${n}_exact, true AS ${n}_ok"
        }.mkString(", ") +
        " FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")),

    // Exact distinct counts per group
    Q("q_distinct_count",
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).cast("long").as("n_parts"),
          countDistinct(col("l_suppkey")).cast("long").as("n_supps"))
        .orderBy("l_returnflag"),
      Some("SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts, " +
        "CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")),

    // Statistical moments from EXACT decimal power sums: built-in stddev/
    // corr accumulate doubles in partition order (not cross-engine
    // reproducible), so variance/correlation derive from Σx, Σx², Σxy
    // computed in exact DECIMAL, cast to double, then the same closed-form
    // expression in both engines — bit-identical results.
    Q("q_stat_moments",
      (s, d) => {
        val x = col("l_quantity").cast("decimal(18,2)")
        val y = col("l_extendedprice").cast("decimal(18,2)")
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            count("*").cast("double").as("n"),
            sum(x).cast("double").as("sx"),
            sum(y).cast("double").as("sy"),
            sum((x * x).cast("decimal(38,4)")).cast("double").as("sxx"),
            sum((y * y).cast("decimal(38,4)")).cast("double").as("syy"),
            sum((x * y).cast("decimal(38,4)")).cast("double").as("sxy"))
          .select(col("l_returnflag"),
            Q.r6((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1.0)).as("var_qty"),
            // greatest(·, 0) clamps the variance product against the
            // tiny-negative-rounding degenerate (DuckDB's sqrt hard-errors
            // on negatives); nullif(·, 0) makes the constant-group case an
            // explicit NULL on BOTH engines — DuckDB's default
            // ieee_floating_point_ops would otherwise yield inf/NaN on 0/0
            // while Spark's Divide returns NULL
            Q.r6((col("sxy") - col("sx") * col("sy") / col("n")) /
              nullif(sqrt(greatest((col("sxx") - col("sx") * col("sx") / col("n")) *
                (col("syy") - col("sy") * col("sy") / col("n")), lit(0.0))), lit(0.0)))
              .as("corr_qty_price"))
          .orderBy("l_returnflag")
      },
      Some("WITH m AS (SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy, " +
        "CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sxx, " +
        "CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS syy, " +
        "CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sxy " +
        "FROM lineitem GROUP BY l_returnflag) " +
        s"SELECT l_returnflag, ${Q.r6Sql("(sxx - sx * sx / n) / (n - 1.0)")} AS var_qty, " +
        s"${Q.r6Sql("(sxy - sx * sy / n) / nullif(sqrt(greatest((sxx - sx * sx / n) * (syy - sy * sy / n), 0.0)), 0.0)")} AS corr_qty_price " +
        "FROM m ORDER BY l_returnflag")),

    // Histogram by explicit integer bucketing (portable width_bucket)
    Q("q_histogram",
      (s, d) => t(s, d, "events")
        .select((col("value") / 50.0).cast("long").as("bucket"))
        .groupBy("bucket").agg(count("*").cast("long").as("n"))
        .orderBy("bucket"),
      Some("SELECT CAST(trunc(value / 50.0) AS BIGINT) AS bucket, " +
        "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1 ORDER BY bucket")),

    // Ordered set aggregation: deterministic string_agg via sorted arrays
    Q("q_string_agg_sorted",
      (s, d) => t(s, d, "documents")
        .groupBy("source")
        .agg(array_join(array_sort(collect_set(col("lang"))), ",").as("langs"),
          count("*").cast("long").as("n_docs"))
        .orderBy("source"),
      Some("SELECT source, array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs, " +
        "CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source ORDER BY source")),

    // As-of join: latest event at-or-before each order's timestamp, per
    // customer. Spark lacks a native ASOF JOIN — planned as a UNION-MERGE:
    // tag orders and events into one keyed stream, one window per user
    // ordered by time, and read the running `last_value` of the event id.
    // One shuffle on the user key, O(orders + events) — no range-join
    // candidate explosion (the naive range join + argmax materializes every
    // prior event per order, which blows up on a skewed power-user at 100 TB).
    // The oracle uses DuckDB's NATIVE `ASOF LEFT JOIN`, so parity checks the
    // plan against a first-class implementation.
    Q("q_asof_join",
      (s, d) => {
        val o = t(s, d, "orders").filter(col("o_custkey") < 20)
          .select(col("o_custkey").as("uid"),
            // parquet NTZ timestamp -> epoch under the UTC session zone,
            // matching DuckDB's epoch_ms on its naive TIMESTAMP
            (unix_millis(col("o_orderdate").cast("timestamp")) * 1000000L).as("t"),
            lit(null).cast("long").as("ev"),
            col("o_orderkey"))
        val e = events(s, d).filter(col("user_id") < 20)
          .select(col("user_id").as("uid"), col("ts").as("t"),
            col("event_id").as("ev"), lit(null).cast("long").as("o_orderkey"))
        // Events sort BEFORE orders at equal t (`ev` nulls-last ties the
        // probe row after same-instant events — `tsn <= om` is inclusive);
        // among same-t events the max event_id wins, matching the old
        // argmax tie-break.
        val w = Window.partitionBy(col("uid"))
          .orderBy(col("t").asc, col("ev").asc_nulls_last)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        e.union(o)
          .withColumn("last_event", last(col("ev"), ignoreNulls = true).over(w))
          .filter(col("o_orderkey").isNotNull)
          .select(col("o_orderkey"), col("uid").as("o_custkey"), col("last_event"))
          .orderBy("o_orderkey")
      },
      Some("WITH o AS (SELECT o_orderkey, o_custkey, epoch_ms(o_orderdate) * 1000000 AS om " +
        "FROM orders WHERE o_custkey < 20), " +
        "e AS (SELECT user_id, epoch_ns(ts) AS tsn, event_id FROM events WHERE user_id < 20) " +
        "SELECT o_orderkey, o_custkey, event_id AS last_event " +
        "FROM o ASOF LEFT JOIN e ON o.o_custkey = e.user_id AND e.tsn <= o.om " +
        "ORDER BY o_orderkey")),

    // Cube: all grouping-set combinations with portable subtotal markers
    Q("q_cube_aggregate",
      (s, d) => t(s, d, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count("*").cast("long").as("n"))
        .select(
          coalesce(col("o_orderstatus"), lit("<all>")).as("status"),
          coalesce(col("o_orderpriority"), lit("<all>")).as("priority"),
          col("n"))
        .orderBy("status", "priority"),
      Some("SELECT coalesce(o_orderstatus, '<all>') AS status, " +
        "coalesce(o_orderpriority, '<all>') AS priority, " +
        "CAST(count(*) AS BIGINT) AS n FROM orders " +
        "GROUP BY CUBE (o_orderstatus, o_orderpriority) ORDER BY status, priority")),

    // Conditional pivot: per-source doc counts by language (fixed columns)
    Q("q_pivot_conditional",
      (s, d) => t(s, d, "documents")
        .groupBy("source")
        .agg(
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
          sum(when(col("lang") === "es", 1L).otherwise(0L)).as("n_es"),
          sum(when(col("lang") === "zh", 1L).otherwise(0L)).as("n_zh"),
          sum(when(!col("lang").isin("en", "es", "zh"), 1L).otherwise(0L)).as("n_other"))
        .orderBy("source"),
      Some("SELECT source, " +
        "CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en, " +
        "CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es, " +
        "CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS n_zh, " +
        "CAST(sum(CASE WHEN lang NOT IN ('en', 'es', 'zh') THEN 1 ELSE 0 END) AS BIGINT) AS n_other " +
        "FROM documents GROUP BY source ORDER BY source")),

    // Range join: point-in-interval, binned to an equi-join. Naive Spark
    // plans a range-only join condition as BroadcastNestedLoopJoin (every
    // probe against every interval — O(n·m) at 100 TB). The scale path
    // quantizes the day line into fixed-width bins: an interval registers
    // in every bin it overlaps (explode(sequence)), a point probes exactly
    // one bin, and the join becomes an EQUI-join on bin + an exact range
    // filter. Bin width 64 d > the max interval length (50 d) bounds the
    // duplication factor at 2×, and because a point lives in one bin each
    // matching pair joins exactly once — no post-join dedup. The interval
    // is a synthesized delivery window [shipdate, shipdate + quantity
    // days] (the fixture carries no receiptdate); probes are the distinct
    // order dates of a small key range, so Catalyst broadcasts them — the
    // lineitem side never shuffles. With a corpus-sized probe side the
    // same plan degrades gracefully to a sort-merge equi-join on bin.
    Q("q_range_join",
      (s, d) => {
        val B = 64
        val probes = t(s, d, "orders").filter(col("o_orderkey") < 500)
          .select(col("o_orderdate")).distinct()
          .select(date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
            datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date")).as("od"))
          .withColumn("bin", expr(s"od div $B"))
        // spread ONLY the interval side: its map phase (date math + an
        // explode that emits ~1.8 bins/row) is the query's CPU bulk and
        // the fixture scan is one task; the probe side stays a pruned
        // 1-task scan feeding a broadcast (round-21 targeted A/B)
        val iv = Q.tSpread(s, d, "lineitem")
          .select(
            datediff(col("l_shipdate").cast("date"), lit("1992-01-01").cast("date")).as("sd"),
            col("l_quantity"))
          .withColumn("ed", col("sd") + col("l_quantity").cast("int"))
          .withColumn("bin", explode(sequence(expr(s"sd div $B"), expr(s"ed div $B"))))
        iv.join(probes, Seq("bin"))
          .filter(col("sd") <= col("od") && col("od") <= col("ed"))
          .groupBy("order_date")
          .agg(count(lit(1)).cast("long").as("n_items"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
          .orderBy("order_date")
      },
      Some("WITH p AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS pd " +
        "FROM orders WHERE o_orderkey < 500), " +
        "pn AS (SELECT pd, date_diff('day', DATE '1992-01-01', pd) AS od FROM p), " +
        "iv AS (SELECT date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS sd, " +
        "date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) + CAST(l_quantity AS INT) AS ed, " +
        "l_quantity FROM lineitem) " +
        "SELECT strftime(pd, '%Y-%m-%d') AS order_date, CAST(count(*) AS BIGINT) AS n_items, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty " +
        "FROM pn JOIN iv ON iv.sd <= pn.od AND pn.od <= iv.ed " +
        "GROUP BY pd ORDER BY order_date")),

    // Bucketed co-located join: the zero-shuffle layout for a join both
    // sides of which are too big to broadcast. Both tables are written
    // bucketed on the join key (`bucketBy` + one file per bucket), so each
    // scan reports HashPartitioning(key, n) and the sort-merge join — and
    // the per-key aggregate above it — consume that partitioning directly:
    // the only exchange in the whole plan is the presentation sort's. At
    // 100 TB this is the difference between shuffling both fact tables on
    // every join and paying the shuffle ONCE at layout time, then joining
    // bucket-to-bucket forever after (bucket count scales with data;
    // 8 keeps the fixture readable). The merge hint pins SMJ so the plan
    // demonstrates the big×big case even at test scale, where Catalyst
    // would otherwise broadcast the small side. The bucketed write is part
    // of the measured query (the layout build is the honest cost); the
    // oracle reads the plain tables — the layout must be
    // semantics-invisible.
    Q("q_join_bucketed",
      (s, d) => {
        val nb = 8
        // one base dir per JVM (not per invocation): bench passes and
        // repeated plan() calls OVERWRITE the same layout location instead
        // of stranding a full table copy per run
        val base = bucketedBase
        def bucketed(df: DataFrame, key: String, table: String): DataFrame = {
          // repartition on the bucket key first: each task then owns whole
          // buckets and writes one file per bucket (tasks × buckets files
          // otherwise), which also lets the sorted-bucket read skip sorts
          df.repartition(nb, col(key))
            .write.mode("overwrite")
            .bucketBy(nb, key).sortBy(key)
            .option("path", s"$base/$table")
            .saveAsTable(table)
          s.table(table)
        }
        val o = bucketed(t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
          "o_custkey", "graft_bkt_orders")
        val c = bucketed(t(s, d, "customer").select("c_custkey", "c_mktsegment"),
          "c_custkey", "graft_bkt_customer")
        o.hint("merge").join(c, col("o_custkey") === col("c_custkey"))
          .groupBy("c_custkey")
          .agg(count(lit(1)).cast("long").as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
          .orderBy("c_custkey")
      },
      Some("SELECT c_custkey, CAST(count(*) AS BIGINT) AS n_orders, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_custkey ORDER BY c_custkey")))
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.GraftFunctions._
import graft.operators.{Staging, WeatherOps}

/** The reference operator surface (SURVEY.md §2) + the relational core, as
  * oracle-checked queries over the driver fixtures.
  *
  * The weather/hotels shape is mapped onto `events` (readings: user_id plays
  * the geohash-cell role, `value` the temperature, `to_date(ts)` the
  * wthr_date) and `customer` (dimension with precomputed key) — SURVEY.md
  * §7.1. The geohash function itself is conformance-tested against the
  * reference's golden vectors in GeohashSpec and exercised by `q_geohash_cells`
  * (rows-only check: DuckDB can't express geohash).
  *
  * Oracle-parity rules used throughout (driver hash-compares values):
  *  - every computed column aliased identically in Spark and SQL;
  *  - deterministic ORDER BY on both sides (NULLS FIRST aligned);
  *  - money-style sums go through DECIMAL (exact, order-independent) and are
  *    cast back to DOUBLE;
  *  - plain averages are `round(_, 4)` — group error ~1e-13 vs 1e-4 step;
  *  - list aggregates are canonicalized to a sorted joined string (parquet
  *    array-of-struct vs DuckDB list-of-struct hashing is representation-
  *    sensitive; strings are not).
  */
object CoreQueries {

  // ---- shared shapes ----------------------------------------------------

  /** events with a `day` column (the wthr_date role). */
  private def eventsWithDay(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).withColumn("day", to_date(col("ts")))

  private val eventsWithDaySql =
    "SELECT *, CAST(ts AS DATE) AS day FROM events"

  /** A1+M3 on events: daily average measurement per (user, day).
    * Uses the operator's `exact` (decimal-backed) mode so results are
    * bit-identical to the sequential DuckDB oracle regardless of partial-agg
    * merge order. */
  def dailyAvg(s: SparkSession, dir: String): DataFrame =
    WeatherOps.dailyAverage(
      eventsWithDay(s, dir).withColumnRenamed("value", "tmp_f")
        .withColumn("tmp_c", (col("tmp_f") - 32.0d) * 5.0d / 9.0d),
      keyCols = Seq("user_id"), dateCol = "day", exact = true)

  private val dailyAvgSql =
    s"""SELECT user_id, day,
       |CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value) AS avg_tmp_f,
       |CAST(sum(CAST((value - 32.0) * 5.0 / 9.0 AS DECIMAL(18,6))) AS DOUBLE)
       |  / count(value) AS avg_tmp_c
       |FROM ($eventsWithDaySql) GROUP BY user_id, day""".stripMargin

  /** A2 on events: canonical per-user history string, date-sorted; the
    * decimal-free canonical form is `day:round(avg*10000) AS BIGINT`. */
  def history(s: SparkSession, dir: String): DataFrame =
    WeatherOps.cellHistory(dailyAvg(s, dir), keyCol = "user_id", dateCol = "day")
      .select(
        col("user_id"),
        size(col("weather_list")).as("n_days"),
        concat_ws("|", transform(col("weather_list"), w =>
          concat_ws(":", w("date").cast("string"),
            round(w("tmp_f") * 10000d).cast("bigint").cast("string")))).as("history"))

  private val historySql =
    s"""SELECT user_id, CAST(len(hl) AS INT) AS n_days, array_to_string(hl, '|') AS history
       |FROM (SELECT user_id,
       |  list(CAST(day AS VARCHAR) || ':' ||
       |       CAST(CAST(round(avg_tmp_f * 10000) AS BIGINT) AS VARCHAR)
       |       ORDER BY day) AS hl
       |  FROM (SELECT user_id, day,
       |          CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)
       |            AS avg_tmp_f
       |        FROM ($eventsWithDaySql) GROUP BY user_id, day)
       |  GROUP BY user_id)""".stripMargin

  // ---- query catalog ----------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // S1/S3 + K2: source scan with pushed filter + projection (column pruning
    // and predicate pushdown must reach the parquet scan).
    "q_src_scan" -> ((s, dir) =>
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("value"))
        .orderBy(col("event_id"))),

    // M1 + F3: derive the composite shuffle key before grouping (the
    // reference's hand-done pre-repartition keying, WeatherHotelsApp.java:70-87).
    "q_m1_rekey" -> ((s, dir) =>
      eventsWithDay(s, dir)
        .select(
          compositeKey(col("user_id"), col("day")).as("key"),
          col("event_id"), col("value"))
        .orderBy(col("event_id"))),

    // M2: dimension re-key by precomputed key (WeatherHotelsApp.java:112-132).
    "q_m2_rekey" -> ((s, dir) =>
      Tables.customer(s, dir)
        .select(
          col("c_custkey").cast("string").as("key"),
          col("c_name").as("name"),
          col("c_mktsegment").as("segment"))
        .orderBy(col("key"))),

    // F1: JSON field extraction from the props column (Jackson readTree role).
    "q_f1_json" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(get_json_object(col("props"), "$.k").cast("bigint").as("k"),
          col("value"))
        .groupBy(col("k"))
        .agg(count(col("value")).as("n"),
          (sum(col("value").cast(DecimalType(18, 2))).cast("double") /
            count(col("value"))).as("avg_value"))
        .orderBy(col("k"))),

    // F4: composite key split (MyStream.java:123-128).
    "q_f4_split_key" -> ((s, dir) =>
      eventsWithDay(s, dir)
        .select(compositeKey(col("user_id"), col("day")).as("key"), col("event_id"))
        .select(
          keyPart(col("key"), 1).cast("bigint").as("user_id"),
          keyPart(col("key"), 2).as("day"),
          col("event_id"))
        .orderBy(col("event_id"))),

    // SER1→SER2→S2 roundtrip: serialize readings to the reference's
    // intermediate-topic shape (to_json keyed by "{hash}_{date}"), parse
    // back with parseKeyedWeather, aggregate — proves the serde pair is
    // lossless (doubles survive shortest-repr JSON roundtrip).
    "q_s2_roundtrip" -> ((s, dir) => {
      val keyed = eventsWithDay(s, dir).select(
        compositeKey(col("user_id"), col("day")).as("key"),
        to_json(struct(
          col("value").as("tmp_f"),
          ((col("value") - 32.0d) * 5.0d / 9.0d).as("tmp_c"),
          col("day").cast("string").as("date"))).as("value"))
      graft.operators.WeatherOps.parseKeyedWeather(keyed)
        .groupBy(col("hash"))
        .agg(count(col("tmp_f")).as("n"),
          (sum(col("tmp_f").cast(DecimalType(18, 6))).cast("double") /
            count(col("tmp_f"))).as("avg_f"))
        .orderBy(col("hash"))
    }),

    // A1+M3: daily average per (user, day) — partial+final hash agg.
    "q_a1_daily_avg" -> ((s, dir) =>
      dailyAvg(s, dir)
        .select(col("user_id"), col("day"),
          col("avg_tmp_f").as("avg_f"), col("avg_tmp_c").as("avg_c"))
        .orderBy(col("user_id"), col("day"))),

    // A2: per-key history list (canonical string form).
    "q_a2_history" -> ((s, dir) =>
      history(s, dir).orderBy(col("user_id"))),

    // A1→A2 as ONE stateful op: the typed CellHistoryAggregator (the
    // streaming-state design, SURVEY §7.5.1) run on the batch path — same
    // oracle as q_a2_history.
    "q_a2_typed_agg" -> ((s, dir) => {
      val readings = eventsWithDay(s, dir).select(
        col("user_id").cast("string").as("hash"),
        col("day").cast("string").as("wthr_date"),
        col("value").as("tmp_f"),
        ((col("value") - 32.0d) * 5.0d / 9.0d).as("tmp_c"))
      graft.streaming.WeatherStreams.cellHistoryStream(readings)
        .select(col("key").cast("bigint").as("user_id"),
          size(col("weather_list")).as("n_days"),
          concat_ws("|", transform(col("weather_list"), w =>
            concat_ws(":", w("date"),
              round(w("tmp_f") * 10000d).cast("bigint").cast("string")))).as("history"))
        .orderBy(col("user_id"))
    }),

    // C1: latest row per key by arrival ordinal (max_by, no window sort).
    "q_c1_latest" -> ((s, dir) =>
      WeatherOps.latestPerKey(
        Tables.events(s, dir).select(col("user_id"), col("event_id"),
          col("event_type"), col("value")),
        keyCols = Seq("user_id"), ordCol = "event_id")
        .orderBy(col("user_id"))),

    // SCD2: the type-2 validity-interval generalization of C1 — every
    // version kept with [valid_from, valid_to) in event_id units
    "q_scd2" -> ((s, dir) =>
      WeatherOps.scd2History(
        Tables.events(s, dir).select(col("user_id"), col("event_id"),
          col("event_type"), col("value")),
        keyCols = Seq("user_id"), ordCol = "event_id")
        .orderBy(col("user_id"), col("valid_from"))),

    // SCD2 point-in-time lookup — the standard warehouse query over a
    // type-2 table, composed from the two operators (scd2History +
    // backward as-of on valid_from): each probe must land INSIDE the
    // returned validity interval, and that consistency theorem is itself
    // a gated boolean (all true), not just a spec assertion
    "q_scd2_lookup" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_id"),
        col("event_type"), col("value"))
      val versions = WeatherOps.scd2History(ev,
          keyCols = Seq("user_id"), ordCol = "event_id")
        .select(col("user_id"), col("valid_from").as("ver_from"),
          col("valid_to").as("ver_to"))
      val probes = Tables.events(s, dir).select(col("event_id"),
        col("user_id"), (col("event_id") + 3L).as("probe_ord"))
      graft.operators.AsOf.join(probes, versions,
        leftKey = col("user_id"), rightKey = col("user_id"),
        leftTime = col("probe_ord"), rightTime = col("ver_from"),
        rightPayload = Seq("ver_from", "ver_to"),
        rightOrd = col("ver_from"))
        .select(col("event_id"), col("user_id"), col("probe_ord"),
          col("ver_from"), col("ver_to"),
          (col("ver_from") <= col("probe_ord") &&
            (col("ver_to").isNull || col("probe_ord") < col("ver_to")))
            .as("interval_ok"))
        .orderBy(col("event_id"))
    }),

    // J1: inner enrichment join (dim × aggregated history).
    "q_j1_enrich" -> ((s, dir) => {
      val hist = history(s, dir).withColumnRenamed("user_id", "key")
      WeatherOps.enrich(
        Tables.customer(s, dir).withColumn("key", col("c_custkey")), hist)
        .select(col("c_custkey"), col("c_name"), col("n_days"), col("history"))
        .orderBy(col("c_custkey"))
    }),

    // J2: left table-table join, nulls preserved (MyStream.java:168-173).
    "q_j2_left" -> ((s, dir) => {
      val counts = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events")).withColumnRenamed("user_id", "key")
      WeatherOps.enrichLeft(
        Tables.customer(s, dir).withColumn("key", col("c_custkey")), counts)
        .select(col("c_custkey"), col("c_name"), col("n_events"))
        .orderBy(col("c_custkey"))
    }),

    // M4 flagship: full reference topology — parse/rekey → daily avg →
    // history → inner enrichment join (SURVEY.md §7.3).
    "q_flagship" -> ((s, dir) => flagship(s, dir)),

    // The same flagship expressed as SQL text over registered views — the
    // engine's spark.sql(...) surface (graft functions registered via
    // GraftFunctions.register / GraftExtensions). Same oracle as q_flagship.
    "q_flagship_sql" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      Tables.events(s, dir).createOrReplaceTempView("g_events")
      Tables.customer(s, dir).createOrReplaceTempView("g_customer")
      s.sql("""
        WITH daily AS (
          SELECT user_id, to_date(ts) AS day,
                 CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)
                   AS avg_tmp_f
          FROM g_events GROUP BY user_id, to_date(ts)),
        hist AS (
          SELECT user_id, CAST(count(*) AS INT) AS n_days,
                 concat_ws('|', sort_array(collect_list(
                   concat_ws(':', CAST(day AS STRING),
                     CAST(CAST(round(avg_tmp_f * 10000) AS BIGINT) AS STRING)))))
                   AS history
          FROM daily GROUP BY user_id)
        SELECT c_custkey, c_name, c_mktsegment, n_days, history
        FROM g_customer JOIN hist ON c_custkey = hist.user_id
        ORDER BY c_custkey""")
    }),

    // F2 geohash in a distributed plan — oracle-checked: 4-char base-32
    // geohash is 20 bits of lat/lng interleave, closed-form expressible in
    // portable SQL (see geohash4Sql); GeohashSpec golden vectors lock the
    // function itself.
    "q_geohash_cells" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("lat", (col("user_id") % 170).cast("double") - 85.0 + 0.25)
        .withColumn("lng", ((col("user_id") * 7) % 350).cast("double") - 175.0 + 0.25)
        .select(graft.functions.Geohash.geohash(col("lat"), col("lng"), 4).as("cell"),
          col("value"))
        .groupBy(col("cell"))
        // decimal-sum mean, not round(avg(),4): the double-avg form is the
        // documented half-boundary parity trap (merge-order ULPs flip the
        // rounding) — same canonical form as q_f1_json
        .agg(count(lit(1)).as("n"),
          (sum(col("value").cast(DecimalType(18, 6))).cast("double") /
            count(col("value"))).as("avg_value"))
        .orderBy(col("cell"))),

    // ---- relational core (Catalyst showcase over the TPC-H-ish tables) ---

    // Pricing-summary aggregation (decimal-exact sums → double).
    "q1_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_base_price"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
            .cast("double").as("sum_disc_price"),
          (sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double") /
            count(col("l_quantity"))).as("avg_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // Multi-way star join: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region,
    // revenue per (region, nation). Tiny dims broadcast explicitly; the
    // fact-side joins are left to Catalyst/AQE.
    "q_join_pricing" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = broadcast(Tables.nation(s, dir))
      val r = broadcast(Tables.region(s, dir))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // Window top-k per group (deterministic tie-break on key).
    "q_topk_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_orderpriority"), col("rk"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("rk"))
    }),

    // dense_rank top-k: all orders at the 3 highest DISTINCT price points
    // per priority, ties included — exercises RewriteWindowTopK's
    // dense_rank<=k path (distinct-key partial agg + join, native sort
    // direction — descending double keys only fire on this leg) under
    // the oracle gate, since the rule is installed in the Verify/Bench
    // sessions.
    "q_dense_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc)
      Tables.orders(s, dir)
        .withColumn("rk", dense_rank().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_orderpriority"), col("rk"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("rk"), col("o_orderkey"))
    }),

    // Bottom-k per group ("3 CHEAPEST orders per priority"): ascending
    // primary order — the shape the specialized TopK leg can't take.
    // Exercises RewriteWindowTopK's general row_number leg (SortKeyBytes
    // memcomparable tie, constant ord) under the oracle gate, since the
    // rule is installed in the Verify/Bench sessions.
    "q_bottomk_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_orderpriority"), col("rk"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("rk"))
    }),

    // Time-series resample: per-user daily grid, forward-filled by the
    // as-of composition (operators.TimeSeries over operators.AsOf). Ticks
    // exported as epoch micros (timestamp hashing is representation-safe
    // as integers).
    "q_ts_resample" -> ((s, dir) =>
      graft.operators.TimeSeries.resample(
        Tables.events(s, dir).select(col("user_id"), col("ts"), col("value"),
          col("event_id")),
        keyCol = "user_id", tsCol = "ts", valueCol = "value",
        ordCol = "event_id", step = expr("interval 1 day"))
        .select(col("user_id"), unix_micros(col("tick")).as("tick_us"),
          col("value"))
        .orderBy(col("user_id"), col("tick_us"))),

    // Linear-interpolation resample (the gap-FILL twin of q_ts_resample):
    // both surrounding observations ride one union + one exchange (two
    // frames over the same window sort), and the interpolation itself is
    // a fixed-shape IEEE-double expression the oracle evaluates verbatim
    "q_ts_interp" -> ((s, dir) =>
      graft.operators.TimeSeries.interpolate(
        Tables.events(s, dir).select(col("user_id"), col("ts"), col("value"),
          col("event_id")),
        keyCol = "user_id", tsCol = "ts", valueCol = "value",
        ordCol = "event_id", step = expr("interval 1 day"))
        .select(col("user_id"), unix_micros(col("tick")).as("tick_us"),
          col("value"))
        .orderBy(col("user_id"), col("tick_us"))),

    // hopping-window aggregation (the Kafka Streams TimeWindows
    // .of(1d).advanceBy(12h) class): every event lands in size/step = 2
    // windows; Spark's window() is epoch-aligned, which the oracle
    // reproduces with integer epoch-micros arithmetic
    "q_hopping_window" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 day", "12 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(col("value").cast(DecimalType(18, 6))).cast("double") /
            count(col("value"))).as("avg_value"))
        .select(unix_micros(col("window.start")).as("w_start_us"),
          col("event_type"), col("n"), col("avg_value"))
        .orderBy(col("w_start_us"), col("event_type"))),

    // GROUPING SETS surface (finer than rollup/cube: an explicit lattice
    // subset) — decimal-exact sums keep the gate bit-stable
    "q_grouping_sets" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_gs")
      s.sql("""SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        count(*) AS n
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY l_returnflag, l_linestatus""")
    }),

    // second pivot face — SUM pivot over a fixed value list (q_pivot is
    // the count pivot); decimal-exact, null cells where no rows
    "q_pivot_quantity" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double"))
        .orderBy(col("l_linestatus"))),

    // lag/lead frame surface: per-customer order-to-order price deltas
    // (double SUBTRACTION is single-op IEEE — portable, unlike sums)
    "q_lag_lead" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, dir).select(col("o_custkey"), col("o_orderkey"),
        col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        (col("o_totalprice") - lag(col("o_totalprice"), 1).over(w)).as("delta"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // exact distributed median by INDEX (lower median: element at
    // (n+1) div 2 in (value, key) order) — interpolated medians are not
    // ULP-portable across engines ((a+b)/2 vs 0.5a+0.5b round
    // differently), an indexed element is.
    // r21 shape (guide §2): the original row_number/count windows
    // partitioned by the 5-value o_orderpriority pushed EVERY row
    // through ≤5 sort tasks — at 100 TB that is 5 stragglers sorting
    // the table. This is the repo's two-phase exact-selection pattern
    // (Sampling.scoreStrata): range-exchange on (priority, price, key)
    // — partition sizes track n/partitions regardless of the key's
    // cardinality — one streaming pass numbers rows per (partition,
    // priority), and the ≤ partitions×5-row count ledger folds to
    // per-priority offsets/targets and broadcasts back. Global rank =
    // offset + local number; ranks are invariant to where the sampled
    // range bounds fall (the order is total — o_orderkey is unique), so
    // the kept row per priority is EXACTLY the window form's. The
    // numbered relation is materialized (Staging diamond rule: the
    // ledger and the final join must read the same partition
    // assignment).
    "q_median_exact" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderpriority"),
        col("o_totalprice"), col("o_orderkey"))
      val parts = s.sessionState.conf.numShufflePartitions
      val ranged = o.repartitionByRange(parts, col("o_orderpriority").asc,
          col("o_totalprice").asc, col("o_orderkey").asc)
        .sortWithinPartitions(col("o_orderpriority").asc,
          col("o_totalprice").asc, col("o_orderkey").asc)
      val outSchema = ranged.schema
        .add("__pid", org.apache.spark.sql.types.IntegerType, nullable = false)
        .add("__rn", org.apache.spark.sql.types.LongType, nullable = false)
      val numbered = Staging.stage(
        ranged.mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          var cur: String = null
          var i = 0L
          it.map { r =>
            val p = r.getString(0)
            if (cur == null || p != cur) { cur = p; i = 0L }
            i += 1
            org.apache.spark.sql.Row.fromSeq(r.toSeq :+ pid :+ i)
          }
        }(org.apache.spark.sql.Encoders.row(outSchema)),
        None, "median_numbered")
      val ledger = numbered.groupBy(col("__pid"), col("o_orderpriority"))
        .agg(count(lit(1)).as("__c"))
      // offsets/targets over the bounded ledger (≤ partitions×|keys|
      // rows), never over the data
      val wOff = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, -1)
      val wN = Window.partitionBy(col("o_orderpriority"))
      val offsets = ledger.select(col("__pid"), col("o_orderpriority"),
        coalesce(sum(col("__c")).over(wOff), lit(0L)).as("__off"),
        sum(col("__c")).over(wN).as("__n"))
      numbered
        .join(broadcast(offsets), Seq("__pid", "o_orderpriority"))
        .where(col("__rn") + col("__off") === expr("(__n + 1) div 2"))
        .select(col("o_orderpriority"), col("o_totalprice").as("median_price"))
        .orderBy(col("o_orderpriority"))
    }),

    // Top-k per group as a k-bounded AGGREGATE (functions.TopK): map-side
    // partial top-k ships at most k entries per (partition, group) instead
    // of window-sorting every row — same result as q_topk_window by
    // construction (ORDER BY o_totalprice DESC, o_orderkey ASC).
    "q_topk_agg" -> ((s, dir) =>
      Tables.orders(s, dir).groupBy(col("o_orderpriority"))
        .agg(graft.functions.TopK.topKByOrd(
          col("o_orderkey"), col("o_totalprice"), col("o_orderkey"), 3).as("top"))
        .select(col("o_orderpriority"),
          concat_ws("|", transform(col("top"), x => x.cast("string")))
            .as("top_orders"))
        .orderBy(col("o_orderpriority"))),

    // As-of (point-in-time) join: for each event, the customer's most
    // recent order at that instant — union + running last() composition
    // (one shuffle, no inequality-join explosion); see operators.AsOf.
    "q_asof_join" -> ((s, dir) =>
      graft.operators.AsOf.join(
        Tables.events(s, dir), Tables.orders(s, dir),
        leftKey = col("user_id"), rightKey = col("o_custkey"),
        leftTime = col("ts"), rightTime = col("o_orderdate"),
        rightPayload = Seq("o_orderkey", "o_totalprice"),
        rightOrd = col("o_orderkey"))
        .select(col("event_id"), col("user_id"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("event_id"))),

    // FORWARD as-of (merge_asof direction='forward') on a TIME-
    // INTERLEAVING fixture: for each error event, the same user's next
    // purchase at-or-after that instant (the "did the user recover and
    // convert" funnel primitive) — both sides live in the same January-
    // 2024 window, so the face gates real forward matches (1.8k rows at
    // sf0.01), including the carried match TIME (p_us), proving the
    // reversed scan picks the EARLIEST at-or-after row, not just any.
    // Same single-exchange union-window plan, time scan reversed.
    "q_asof_forward" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.operators.AsOf.joinForward(
        ev.filter(col("event_type") === "error")
          .select(col("event_id"), col("user_id"), col("ts")),
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"), col("value").as("p_value")),
        leftKey = col("user_id"), rightKey = col("p_user"),
        leftTime = col("ts"), rightTime = col("p_ts"),
        rightPayload = Seq("p_id", "p_ts", "p_value"),
        rightOrd = col("p_id"))
        .select(col("event_id"), col("user_id"), col("p_id"),
          unix_micros(col("p_ts")).as("p_us"), col("p_value"))
        .orderBy(col("event_id"))
    }),

    // the DISJOINT-domain edge case of the same operator (kept
    // deliberately: events are all 2024, orders all ≤2001, so no event
    // ever has a next order — the face pins that the forward join emits
    // ZERO rows rather than falling back to a stale backward match; the
    // non-vacuous forward gate is q_asof_forward above)
    "q_asof_forward_disjoint" -> ((s, dir) =>
      graft.operators.AsOf.joinForward(
        Tables.events(s, dir), Tables.orders(s, dir),
        leftKey = col("user_id"), rightKey = col("o_custkey"),
        leftTime = col("ts"), rightTime = col("o_orderdate"),
        rightPayload = Seq("o_orderkey", "o_totalprice"),
        rightOrd = col("o_orderkey"))
        .select(col("event_id"), col("user_id"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("event_id"))),

    // NEAREST as-of (merge_asof direction='nearest') on the same
    // interleaving fixture: each error's closest purchase in absolute
    // time — at sf0.01 the FORWARD champion wins ~840 rows and is the
    // only candidate for ~130 more (AsOfSpec pins both counts > 0 on
    // the sf0.001 slice), so the gap compare, the tie-to-backward rule,
    // and both windows all sit under the hash gate. One exchange, two
    // in-place window sorts, micros gap compare.
    "q_asof_nearest" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.operators.AsOf.joinNearest(
        ev.filter(col("event_type") === "error")
          .select(col("event_id"), col("user_id"), col("ts")),
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"), col("value").as("p_value")),
        leftKey = col("user_id"), rightKey = col("p_user"),
        leftTime = col("ts"), rightTime = col("p_ts"),
        rightPayload = Seq("p_id", "p_ts", "p_value"),
        rightOrd = col("p_id"))
        .select(col("event_id"), col("user_id"), col("p_id"),
          unix_micros(col("p_ts")).as("p_us"), col("p_value"))
        .orderBy(col("event_id"))
    }),

    // nearest on the disjoint-domain fixture (kept as the degenerate
    // case: with every order before every event, nearest must resolve
    // to the backward champion for ALL rows — 8k+ rows gate that
    // degeneracy; the forward-champion path is gated by q_asof_nearest)
    "q_asof_nearest_disjoint" -> ((s, dir) =>
      graft.operators.AsOf.joinNearest(
        Tables.events(s, dir), Tables.orders(s, dir),
        leftKey = col("user_id"), rightKey = col("o_custkey"),
        leftTime = col("ts"), rightTime = col("o_orderdate"),
        rightPayload = Seq("o_orderkey", "o_totalprice"),
        rightOrd = col("o_orderkey"))
        .select(col("event_id"), col("user_id"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("event_id"))),

    // forward + tolerance composition (pandas merge_asof(
    // direction='forward', tolerance=...)): the next purchase counts
    // only if it lands within 1 day of the error — later conversions
    // null out (outer), so the face gates the per-direction bound
    // (leftTime + tol >= matched), not just the forward scan
    "q_asof_forward_within" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.operators.AsOf.joinWithin(
        ev.filter(col("event_type") === "error")
          .select(col("event_id"), col("user_id"), col("ts")),
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"), col("value").as("p_value")),
        leftKey = col("user_id"), rightKey = col("p_user"),
        leftTime = col("ts"), rightTime = col("p_ts"),
        rightPayload = Seq("p_id", "p_value"),
        rightOrd = col("p_id"),
        tolerance = expr("interval 1 day"), inner = false,
        direction = "forward")
        .select(col("event_id"), col("user_id"), col("p_id"),
          unix_micros(col("matched_time")).as("p_us"), col("p_value"))
        .orderBy(col("event_id"))
    }),

    // nearest + tolerance (the pandas composition: the CHAMPION is
    // bounded — a left row whose closest match exceeds 6h gets NO match
    // even though nothing closer exists): 385 of 2014 errors in-bound
    // at sf0.01, so both branches of the |gap| <= tol predicate are
    // under the hash gate
    "q_asof_nearest_within" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.operators.AsOf.joinWithin(
        ev.filter(col("event_type") === "error")
          .select(col("event_id"), col("user_id"), col("ts")),
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"), col("value").as("p_value")),
        leftKey = col("user_id"), rightKey = col("p_user"),
        leftTime = col("ts"), rightTime = col("p_ts"),
        rightPayload = Seq("p_id", "p_value"),
        rightOrd = col("p_id"),
        tolerance = expr("interval 6 hours"), inner = false,
        direction = "nearest")
        .select(col("event_id"), col("user_id"), col("p_id"),
          unix_micros(col("matched_time")).as("p_us"), col("p_value"))
        .orderBy(col("event_id"))
    }),

    // market-basket co-occurrence: the 20 most frequent part pairs
    // sharing an order (support ≥ 2) — per-basket pair generation with
    // the maxBasket straggler guard mirrored in the oracle's HAVING
    "q_copurchase" -> ((s, dir) =>
      graft.operators.Baskets.frequentPairs(Tables.lineitem(s, dir),
        basketCol = col("l_orderkey"), itemCol = col("l_partkey"),
        minSupport = 2L, k = 20)),

    // salted join under the oracle gate: the skew-mitigation rewrite's
    // output must be IDENTICAL to the plain equi-join — so the oracle is
    // simply the unsalted join. Aggregated per segment (decimal-exact) to
    // keep the checked relation small while covering every joined row
    "q_salted_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id").as("c_custkey"), col("value"))
      graft.operators.Skew.saltedJoin(ev, Tables.customer(s, dir),
          keyCol = "c_custkey", saltFactor = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          (sum(col("value").cast(DecimalType(18, 6))).cast("double") /
            count(col("value"))).as("avg_value"))
        .orderBy(col("c_mktsegment"))
    }),

    // RANGE-frame window (value-range, not row-count): each order joined
    // with the count/sum of the SAME customer's orders in the preceding
    // 30 days — integer epoch-micros bounds, portable across engines
    "q_window_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("ts_us"))
        .rangeBetween(-30L * 86400L * 1000000L, 0L)
      Tables.orders(s, dir)
        .withColumn("ts_us", unix_micros(col("o_orderdate").cast("timestamp")))
        .select(col("o_custkey"), col("o_orderkey"),
          count(lit(1)).over(w).as("n_30d"),
          (sum(col("o_totalprice").cast(DecimalType(18, 6))).over(w)
            .cast("double") / count(lit(1)).over(w)).as("avg_30d"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // as-of with a TOLERANCE bound (pandas merge_asof(tolerance=...)):
    // a stale match (> 7 days old) is no match — nulled payload, same
    // single-exchange union-window plan, no second shuffle
    "q_asof_tolerance" -> ((s, dir) =>
      graft.operators.AsOf.joinWithin(
        Tables.events(s, dir), Tables.orders(s, dir),
        leftKey = col("user_id"), rightKey = col("o_custkey"),
        leftTime = col("ts"), rightTime = col("o_orderdate"),
        rightPayload = Seq("o_orderkey", "o_totalprice"),
        rightOrd = col("o_orderkey"),
        tolerance = expr("interval 7 days"), inner = false)
        .select(col("event_id"), col("user_id"), col("o_orderkey"),
          col("o_totalprice"),
          // o_orderdate reads as TIMESTAMP_NTZ; the UTC session pin makes
          // the instant reinterpretation equal DuckDB's epoch_us (the
          // Tables.events convention)
          unix_micros(col("matched_time").cast("timestamp")).as("matched_us"))
        .orderBy(col("event_id"))),

    // Range (interval) self-join: per error event, the user's activity in
    // the following hour. Equi-prefix on user_id keeps it a hash join with
    // a range residual; at scale, time-bucketing both sides turns the
    // residual into part of the key.
    "q_range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val err = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id").as("err_user"),
          col("ts").as("err_ts"))
      err.join(ev,
        col("err_user") === col("user_id") &&
          col("ts") > col("err_ts") &&
          col("ts") <= col("err_ts") + expr("INTERVAL 1 HOUR"))
        .groupBy(col("err_id"))
        .agg(count(lit(1)).as("n_follow"))
        .orderBy(col("err_id"))
    }),

    // Gap-based sessionization (batch session_window): per-user session
    // count and largest session, 30-minute gap.
    "q_sessionize" -> ((s, dir) =>
      graft.operators.Sessionize.sessions(
        Tables.events(s, dir), keyCol = "user_id", tsCol = "ts",
        ordCol = "event_id", gap = lit(1800L * 1000000L))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          max(col("n_events")).as("max_session_events"),
          sum(col("n_events")).as("n_events_total"))
        .orderBy(col("user_id"))),

    // Dynamic-gap sessionization (per-event idle tolerance — error
    // events close after 5 idle minutes, everything else after 30):
    // the running-max-end islands rule, Spark's dynamic session_window
    // semantics in batch form, integer epoch-micros throughout
    "q_sessionize_dynamic" -> ((s, dir) =>
      graft.operators.Sessionize.sessionsDynamic(
        Tables.events(s, dir), keyCol = "user_id", tsCol = "ts",
        ordCol = "event_id",
        gapCol = when(col("event_type") === "error", lit(300L * 1000000L))
          .otherwise(lit(1800L * 1000000L)))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          max(col("n_events")).as("max_session_events"),
          sum(col("n_events")).as("n_events_total"))
        .orderBy(col("user_id"))),

    // Existence joins (left_semi / left_anti — no payload duplication).
    "q_semi_join" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))),

    // Anti join against a filtered build side (non-empty result: customers
    // with no high-value order).
    "q_anti_join" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_totalprice") > 400000.0d),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))),

    // Set operations (filters chosen so both results are non-empty).
    "q_intersect" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "error").select(col("user_id"))
        .intersect(ev.filter(col("event_type") === "purchase").select(col("user_id")))
        .orderBy(col("user_id"))
    }),

    "q_except" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "error" && col("user_id") % 3 === 0)
        .select(col("user_id"))
        .except(ev.filter(col("event_type") === "purchase" && col("user_id") % 7 === 0)
          .select(col("user_id")))
        .orderBy(col("user_id"))
    }),

    // Exact percentile aggregation (sort-based; for sketch-level scale use
    // approx_percentile — same shape as q_approx_distinct's HLL trade).
    "q_percentile" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          round(percentile(col("value"), lit(0.5)), 6).as("p50"),
          round(percentile(col("value"), lit(0.9)), 6).as("p90"),
          count(col("value")).as("n"))
        .orderBy(col("event_type"))),

    // approx-quantile sketch (percentile_approx / QuantileSummaries),
    // VALUE-gated on its rank-error CONTRACT like q_approx_distinct: the
    // sketch value itself is engine-specific, so the face recomputes the
    // approx value's EXACT rank in-engine and asserts the documented
    // |rank − p·n| ≤ n/accuracy bound (±1 row for floor/ceil) as a
    // boolean the oracle pins to true; the exact p50 rides along for the
    // oracle's independent quantile_cont recomputation. The rank check is
    // one extra broadcast-join aggregate — the audit face's cost.
    "q_approx_percentile" -> ((s, dir) => {
      val acc = 1000
      val eps = 1.0 / acc
      val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
      val ap = ev.groupBy(col("event_type"))
        .agg(percentile_approx(col("value"), lit(0.5), lit(acc)).as("ap50"),
          round(percentile(col("value"), lit(0.5)), 6).as("p50_exact"),
          count(col("value")).as("n"))
      ev.join(broadcast(ap), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(
          sum(when(col("value") < col("ap50"), 1L).otherwise(0L)).as("below"),
          sum(when(col("value") <= col("ap50"), 1L).otherwise(0L)).as("at_or_below"),
          first(col("p50_exact")).as("p50_exact"),
          first(col("n")).as("n"))
        .select(col("event_type"), col("n"), col("p50_exact"),
          (col("below").cast("double") <= (lit(0.5) + eps) * col("n") + 1.0 &&
            col("at_or_below").cast("double") >= (lit(0.5) - eps) * col("n") - 1.0)
            .as("p50_ok"))
        .orderBy(col("event_type"))
    }),

    // Pivot (wide aggregation): per-user event counts by type. Pivot values
    // pinned explicitly — at scale an unpinned pivot needs a pre-pass to
    // collect the value set.
    "q_pivot" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_id"))),

    // Generator (explode/UDTF row): tokens from a string column, aggregated.
    "q_explode_tokens" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"), explode(split(lower(col("text")), "\\s+")).as("term"))
        .groupBy(col("lang"), col("term"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 100)
        .orderBy(col("lang"), col("term"))),

    // Distinct aggregation.
    "q_distinct_agg" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n"))
        .orderBy(col("event_type"))),

    // Rollup / cube (grouping-sets family).
    "q_rollup" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    "q_cube" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    // Running-window aggregation (cumulative sum + lag), exact decimal
    // cumulative so the frame-by-frame values are engine-portable.
    "q_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      Tables.lineitem(s, dir)
        .filter(col("l_suppkey") <= 3)
        .withColumn("running_qty",
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .withColumn("prev_qty", lag(col("l_quantity"), 1).over(w))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("running_qty"), col("prev_qty"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
    }),

    // Bag-union then distinct (UNION semantics).
    "q_union" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "error").select(col("user_id"))
        .union(ev.filter(col("event_type") === "purchase").select(col("user_id")))
        .distinct()
        .orderBy(col("user_id"))
    }),

    // HLL sketch aggregation (approx_count_distinct), VALUE-gated on its
    // accuracy CONTRACT: the estimate itself is engine-specific (HLL++
    // register layout), so the face emits the exact cardinality plus the
    // |approx − exact| / exact ≤ 5% claim — the oracle recomputes the
    // exact leg independently and asserts the claim as a literal, so a
    // broken sketch flips `approx_ok` and fails the hash gate. The exact
    // countDistinct is the AUDIT face's cost, carried deliberately; the
    // production pattern is approx-only. rsd=0.01 (2¹⁴ registers, ~16 KiB
    // per group — still a bounded sketch at any scale) keeps the 5% claim
    // true with margin at every fixture SF; the default rsd=0.05 misses
    // it at sf0.1 (observed 6.4% on one group).
    // Count-Min-Sketch contract gate (the HLL/quantile pattern): the
    // sketch binary is collected once (one row — bounded), each of the
    // few distinct keys is estimated driver-side, and the face emits the
    // CMS guarantees as hash-gated booleans — never-underestimate
    // (structural) and over-estimate ≤ ⌈eps·N⌉ (holds deterministically
    // with margin at every fixture SF at eps=0.001) — against exact
    // counts the oracle recomputes independently. The eps bound is a
    // PROBABILISTIC guarantee (delta = 0.01 per key) made deterministic
    // here by the pinned seed + pinned fixtures — on THESE corpora the
    // margin is wide (few distinct keys vs eps=0.001 → collisions
    // essentially impossible); a new fixture/SF could legitimately flip
    // it with probability ≤ delta per key, which is a fixture-rotation
    // note, not an engine bug. Null keys are filtered on BOTH legs
    // (estimateCount(null) would NPE; the oracle's GROUP BY drops its
    // null group to match).
    "q_approx_freq" -> ((s, dir) => {
      val ev = Tables.events(s, dir).filter(col("event_type").isNotNull)
      val skBytes = ev.agg(count_min_sketch(col("event_type"),
          lit(0.001d), lit(0.99d), lit(42)).as("sk"))
        .head().getAs[Array[Byte]](0)
      val cms = org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(skBytes))
      val exact = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_exact"))
      val est = exact.select(col("event_type")).collect() // ≤ #distinct types
        .map(r => (r.getString(0), cms.estimateCount(r.getString(0))))
      val estDf = s.createDataFrame(est.toIndexedSeq).toDF("event_type", "cms_est")
      exact.join(estDf, "event_type")
        .crossJoin(broadcast(ev.agg(count(lit(1)).as("total"))))
        .select(col("event_type"), col("n_exact"),
          (col("cms_est") >= col("n_exact")).as("cms_never_under"),
          (col("cms_est") <= col("n_exact") + ceil(col("total") * 0.001))
            .as("cms_within_eps"))
        .orderBy(col("event_type"))
    }),

    // two-level aggregate: the (event_type, user_id) pairs first, then
    // per type the HLL sketch, the exact distinct count (non-null users
    // over the distinct pairs) and the row count (sum of pair counts).
    // HLL registers take a max, so feeding it each user once gives the
    // same estimate as feeding it every event. Two plain aggregates
    // replace Spark's four-operator single-distinct plan, and spread by
    // event_type, both levels and the final sort run on the range
    // partitioning with no exchange of their own.
    "q_approx_distinct" -> ((s, dir) =>
      Staging.spread(Tables.events(s, dir), col("event_type"))
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
          count(col("user_id")).as("exact_users"),
          sum(col("c")).as("n"))
        .select(col("event_type"), col("n"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")).cast("double") <=
            col("exact_users").cast("double") * 0.05).as("approx_ok"))
        .orderBy(col("event_type")))
  )

  /** M4: the full reference topology as one batch plan. */
  def flagship(s: SparkSession, dir: String): DataFrame = {
    val hist = history(s, dir).withColumnRenamed("user_id", "key")
    val dim = Tables.customer(s, dir).withColumn("key", col("c_custkey"))
    WeatherOps.enrich(dim, hist)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("n_days"), col("history"))
      .orderBy(col("c_custkey"))
  }

  /** 4-char geohash as portable SQL: the 20-step midpoint bisection equals
    * closed-form quantization to 10-bit lng/lat indices (cell boundaries are
    * exact dyadic doubles, so floor() and the bisection agree), followed by
    * bit interleave (lng first) and base-32 digit lookup. Generated
    * programmatically — 20 shift/mask terms. */
  private def geohash4Sql(latExpr: String, lngExpr: String, valCols: String): String = {
    val interleave = (0 until 10).map { k =>
      s"(((lox >> ${9 - k}) & 1) << ${19 - 2 * k}) | " +
        s"(((lax >> ${9 - k}) & 1) << ${18 - 2 * k})"
    }.mkString(" | ")
    val chars = (0 until 4).map { c =>
      s"substr('0123456789bcdefghjkmnpqrstuvwxyz', " +
        s"CAST((g >> ${15 - 5 * c}) & 31 AS INT) + 1, 1)"
    }.mkString(" || ")
    s"""SELECT $chars AS cell, $valCols FROM (
       |  SELECT $valCols,
       |    CAST(least(floor(($lngExpr + 180.0) / 360.0 * 1024.0), 1023.0) AS BIGINT) AS lox,
       |    CAST(least(floor(($latExpr + 90.0) / 180.0 * 1024.0), 1023.0) AS BIGINT) AS lax
       |  FROM events)
       |  , LATERAL (SELECT ($interleave) AS g) _g""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q_geohash_cells" ->
      s"""WITH gh AS (
         |${geohash4Sql(
            "CAST(user_id % 170 AS DOUBLE) - 85.0 + 0.25",
            "CAST((user_id * 7) % 350 AS DOUBLE) - 175.0 + 0.25",
            "value")})
         |SELECT cell, count(*) AS n,
         |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)
         |    AS avg_value
         |FROM gh GROUP BY cell ORDER BY cell""".stripMargin,

    "q_src_scan" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    "q_m1_rekey" ->
      s"""SELECT CAST(user_id AS VARCHAR) || '_' || CAST(day AS VARCHAR) AS key,
         |event_id, value FROM ($eventsWithDaySql) ORDER BY event_id""".stripMargin,

    "q_m2_rekey" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS key, c_name AS name,
        |c_mktsegment AS segment FROM customer ORDER BY key""".stripMargin,

    "q_f1_json" ->
      """SELECT CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k,
        |count(value) AS n,
        |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value) AS avg_value
        |FROM events GROUP BY k ORDER BY k""".stripMargin,

    "q_f4_split_key" ->
      s"""SELECT CAST(split_part(key, '_', 1) AS BIGINT) AS user_id,
         |split_part(key, '_', 2) AS day, event_id
         |FROM (SELECT CAST(user_id AS VARCHAR) || '_' || CAST(day AS VARCHAR) AS key,
         |      event_id FROM ($eventsWithDaySql))
         |ORDER BY event_id""".stripMargin,

    "q_a1_daily_avg" ->
      s"""SELECT user_id, day, avg_tmp_f AS avg_f, avg_tmp_c AS avg_c
         |FROM ($dailyAvgSql) ORDER BY user_id, day""".stripMargin,

    "q_s2_roundtrip" ->
      """SELECT CAST(user_id AS VARCHAR) AS hash, count(value) AS n,
        |CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value) AS avg_f
        |FROM events GROUP BY user_id ORDER BY hash""".stripMargin,

    "q_a2_history" ->
      s"""SELECT user_id, n_days, history FROM ($historySql) ORDER BY user_id""".stripMargin,

    "q_a2_typed_agg" ->
      s"""SELECT user_id, n_days, history FROM ($historySql) ORDER BY user_id""".stripMargin,

    "q_c1_latest" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events) t WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // point-in-time lookup: latest version with ver_from <= probe per
    // key (row_number DESC — the q_asof_join formulation), plus the
    // interval-containment theorem as a literal boolean
    "q_scd2_lookup" ->
      """WITH v AS (SELECT user_id, event_id AS ver_from,
        |       lead(event_id) OVER (PARTITION BY user_id
        |         ORDER BY event_id) AS ver_to
        |     FROM events),
        |p AS (SELECT event_id, user_id, event_id + 3 AS probe_ord
        |      FROM events),
        |j AS (SELECT p.event_id, p.user_id, p.probe_ord,
        |        v.ver_from, v.ver_to,
        |        row_number() OVER (PARTITION BY p.event_id
        |          ORDER BY v.ver_from DESC) AS rn
        |      FROM p JOIN v ON v.user_id = p.user_id
        |       AND v.ver_from <= p.probe_ord)
        |SELECT event_id, user_id, probe_ord, ver_from, ver_to,
        |  (ver_from <= probe_ord AND (ver_to IS NULL OR probe_ord < ver_to))
        |    AS interval_ok
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,

    // the same lead window, formulated directly in SQL
    "q_scd2" ->
      """SELECT user_id, event_type, value,
        |  event_id AS valid_from,
        |  lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS valid_to,
        |  (lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) IS NULL)
        |    AS is_current
        |FROM events ORDER BY user_id, valid_from""".stripMargin,

    "q_j1_enrich" ->
      s"""SELECT c_custkey, c_name, n_days, history
         |FROM customer JOIN ($historySql) h ON c_custkey = h.user_id
         |ORDER BY c_custkey""".stripMargin,

    "q_j2_left" ->
      """SELECT c_custkey, c_name, n_events
        |FROM customer LEFT JOIN (
        |  SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id) e
        |ON c_custkey = e.user_id ORDER BY c_custkey""".stripMargin,

    "q_flagship" ->
      s"""SELECT c_custkey, c_name, c_mktsegment, n_days, history
         |FROM customer JOIN ($historySql) h ON c_custkey = h.user_id
         |ORDER BY c_custkey""".stripMargin,

    "q_flagship_sql" ->
      s"""SELECT c_custkey, c_name, c_mktsegment, n_days, history
         |FROM customer JOIN ($historySql) h ON c_custkey = h.user_id
         |ORDER BY c_custkey""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |  AS sum_disc_price,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity) AS avg_qty,
        |count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_join_pricing" ->
      """SELECT r_name, n_name,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |  AS revenue,
        |count(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q_topk_window" ->
      """SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) t WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin,

    "q_dense_topk" ->
      """SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         dense_rank() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY o_totalprice DESC) AS rk
        |  FROM orders) t WHERE rk <= 3
        |ORDER BY o_orderpriority, rk, o_orderkey""".stripMargin,

    "q_bottomk_window" ->
      """SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY o_totalprice ASC, o_orderkey) AS rk
        |  FROM orders) t WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin,

    "q_ts_resample" ->
      """WITH obs AS (
        |  SELECT user_id, ts, arg_max(value, event_id) AS value
        |  FROM events WHERE value IS NOT NULL GROUP BY user_id, ts),
        |bounds AS (SELECT user_id, min(ts) AS lo, max(ts) AS hi
        |           FROM events GROUP BY user_id),
        |grid AS (SELECT user_id,
        |           unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS tick
        |         FROM bounds)
        |SELECT g.user_id, epoch_us(g.tick) AS tick_us, o.value
        |FROM grid g ASOF LEFT JOIN obs o
        |  ON g.user_id = o.user_id AND o.ts <= g.tick
        |ORDER BY g.user_id, tick_us""".stripMargin,

    // backward leg = DuckDB's native backward ASOF (inclusive), forward
    // leg = a strict forward ASOF (o.ts > tick) — mirroring the operator's
    // inclusive-backward/exclusive-forward frame semantics; the CASE and
    // the double expression are copied shape-for-shape from the engine
    "q_ts_interp" ->
      """WITH obs AS (
        |  SELECT user_id, ts, CAST(arg_max(value, event_id) AS DOUBLE) AS value
        |  FROM events WHERE value IS NOT NULL GROUP BY user_id, ts),
        |bounds AS (SELECT user_id, min(ts) AS lo, max(ts) AS hi
        |           FROM events GROUP BY user_id),
        |grid AS (SELECT user_id,
        |           unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS tick
        |         FROM bounds),
        |prev AS (
        |  SELECT g.user_id, g.tick, o.value AS pv, epoch_us(o.ts) AS ptu
        |  FROM grid g ASOF LEFT JOIN obs o
        |    ON g.user_id = o.user_id AND o.ts <= g.tick),
        |nxt AS (
        |  SELECT g.user_id, g.tick, o.value AS nv, epoch_us(o.ts) AS ntu
        |  FROM grid g ASOF LEFT JOIN obs o
        |    ON g.user_id = o.user_id AND o.ts > g.tick)
        |SELECT p.user_id, epoch_us(p.tick) AS tick_us,
        |  CASE WHEN p.ptu IS NULL THEN n.nv
        |       WHEN n.ntu IS NULL THEN p.pv
        |       ELSE p.pv + (n.nv - p.pv) *
        |         (CAST(epoch_us(p.tick) - p.ptu AS DOUBLE) /
        |          CAST(n.ntu - p.ptu AS DOUBLE))
        |  END AS value
        |FROM prev p JOIN nxt n ON p.user_id = n.user_id AND p.tick = n.tick
        |ORDER BY p.user_id, tick_us""".stripMargin,

    // epoch-aligned hopping windows in integer micros: event ts belongs
    // to windows starting at (ts_us div step - j)·step for j in 0..1,
    // kept when ts < start + size — exactly Spark's window() assignment
    "q_hopping_window" ->
      """WITH e AS (SELECT epoch_us(ts) AS ts_us, event_type, value FROM events
        |           WHERE ts IS NOT NULL),
        |w AS (SELECT ((ts_us // 43200000000) - j) * 43200000000 AS w_start_us,
        |        event_type, value
        |      FROM e, unnest([0, 1]) t(j)
        |      WHERE ts_us < ((ts_us // 43200000000) - j) * 43200000000 + 86400000000
        |        AND ts_us >= ((ts_us // 43200000000) - j) * 43200000000)
        |SELECT w_start_us, event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value) AS avg_value
        |FROM w GROUP BY w_start_us, event_type
        |ORDER BY w_start_us, event_type""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_pivot_quantity" ->
      """SELECT l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
        |    FILTER (l_returnflag = 'A') AS DOUBLE) AS "A",
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
        |    FILTER (l_returnflag = 'N') AS DOUBLE) AS "N",
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
        |    FILTER (l_returnflag = 'R') AS DOUBLE) AS "R"
        |FROM lineitem GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin,

    "q_lag_lead" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  o_totalprice - lag(o_totalprice, 1) OVER w AS delta
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_median_exact" ->
      """SELECT o_orderpriority, o_totalprice AS median_price FROM (
        |  SELECT o_orderpriority, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice, o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders) t
        |WHERE rn = (n + 1) // 2
        |ORDER BY o_orderpriority""".stripMargin,

    "q_topk_agg" ->
      """SELECT o_orderpriority,
        |  array_to_string(
        |    (list(CAST(o_orderkey AS VARCHAR)
        |          ORDER BY o_totalprice DESC, o_orderkey ASC))[1:3], '|')
        |    AS top_orders
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_copurchase" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |ok AS (SELECT b FROM items GROUP BY b HAVING count(*) <= 10000),
        |kept AS (SELECT items.* FROM items JOIN ok USING (b)),
        |pairs AS (
        |  SELECT a.i AS item_a, c.i AS item_b, CAST(count(*) AS BIGINT) AS support
        |  FROM kept a JOIN kept c ON a.b = c.b AND a.i < c.i
        |  GROUP BY a.i, c.i)
        |SELECT item_a, item_b, support FROM (
        |  SELECT *, row_number() OVER (ORDER BY support DESC, item_a, item_b) AS rn
        |  FROM pairs WHERE support >= 2) t
        |WHERE rn <= 20 ORDER BY support DESC, item_a, item_b""".stripMargin,

    "q_salted_join" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)
        |    AS avg_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_window_range_frame" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(count(*) OVER w AS BIGINT) AS n_30d,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE)
        |    / count(*) OVER w AS avg_30d
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        epoch_us(o_orderdate) AS ts_us FROM orders)
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY ts_us
        |             RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_asof_tolerance" ->
      """SELECT event_id, user_id,
        |  CASE WHEN ok THEN o_orderkey END AS o_orderkey,
        |  CASE WHEN ok THEN o_totalprice END AS o_totalprice,
        |  CASE WHEN ok THEN epoch_us(o_orderdate) END AS matched_us
        |FROM (
        |  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
        |    o.o_orderdate,
        |    coalesce(o.o_orderdate + INTERVAL 7 DAY >= e.ts, false) AS ok,
        |    row_number() OVER (PARTITION BY e.event_id
        |                       ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e LEFT JOIN orders o
        |    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts) t
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,

    "q_asof_join" ->
      """SELECT event_id, user_id, o_orderkey, o_totalprice FROM (
        |  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
        |         row_number() OVER (PARTITION BY e.event_id
        |                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o
        |    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts) t
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,

    // forward: earliest at-or-after on the interleaving events fixture;
    // same-instant ties to the highest ordinal (p.event_id DESC) — the
    // joinForward contract; the matched TIME is part of the gated value
    "q_asof_forward" ->
      """SELECT event_id, user_id, p_id, p_us, p_value FROM (
        |  SELECT e.event_id, e.user_id, p.event_id AS p_id,
        |         epoch_us(p.ts) AS p_us, p.value AS p_value,
        |         row_number() OVER (PARTITION BY e.event_id
        |                            ORDER BY p.ts ASC, p.event_id DESC) AS rn
        |  FROM events e JOIN events p
        |    ON e.user_id = p.user_id AND p.event_type = 'purchase'
        |   AND p.ts >= e.ts
        |  WHERE e.event_type = 'error') t
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,

    // forward over disjoint time domains: provably empty on both engines
    // (the edge-case pin; the non-vacuous gate is q_asof_forward)
    "q_asof_forward_disjoint" ->
      """SELECT event_id, user_id, o_orderkey, o_totalprice FROM (
        |  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
        |         row_number() OVER (PARTITION BY e.event_id
        |                            ORDER BY o.o_orderdate ASC, o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o
        |    ON e.user_id = o.o_custkey AND o.o_orderdate >= e.ts) t
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,

    // nearest: min |gap| over ALL the user's purchases; gap ties prefer
    // the backward (at-or-before) side; same-instant ties the highest
    // ordinal — exactly the two-champion rule joinNearest implements
    "q_asof_nearest" ->
      """SELECT event_id, user_id, p_id, p_us, p_value FROM (
        |  SELECT e.event_id, e.user_id, p.event_id AS p_id,
        |         epoch_us(p.ts) AS p_us, p.value AS p_value,
        |         row_number() OVER (PARTITION BY e.event_id ORDER BY
        |           abs(epoch_us(e.ts) - epoch_us(p.ts)),
        |           CASE WHEN epoch_us(p.ts) <= epoch_us(e.ts)
        |                THEN 0 ELSE 1 END,
        |           p.event_id DESC) AS rn
        |  FROM events e JOIN events p
        |    ON e.user_id = p.user_id AND p.event_type = 'purchase'
        |  WHERE e.event_type = 'error') t
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,

    // nearest over disjoint domains: every row must degenerate to the
    // backward champion (all orders precede all events)
    "q_asof_nearest_disjoint" ->
      """SELECT event_id, user_id, o_orderkey, o_totalprice FROM (
        |  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
        |         row_number() OVER (PARTITION BY e.event_id ORDER BY
        |           abs(epoch_us(e.ts) -
        |               epoch_us(CAST(o.o_orderdate AS TIMESTAMP))),
        |           CASE WHEN epoch_us(CAST(o.o_orderdate AS TIMESTAMP))
        |                     <= epoch_us(e.ts) THEN 0 ELSE 1 END,
        |           o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o ON e.user_id = o.o_custkey) t
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,

    // forward + tolerance: the champion is picked FIRST (earliest
    // at-or-after), then the bound nulls it if it exceeds 1 day —
    // exactly the joinWithin(direction='forward') contract; left-outer
    // keeps every error row
    "q_asof_forward_within" ->
      """SELECT event_id, user_id,
        |  CASE WHEN ok THEN p_id END AS p_id,
        |  CASE WHEN ok THEN p_us END AS p_us,
        |  CASE WHEN ok THEN p_value END AS p_value
        |FROM (
        |  SELECT e.event_id, e.user_id, p.event_id AS p_id,
        |         epoch_us(p.ts) AS p_us, p.value AS p_value,
        |         coalesce(e.ts + INTERVAL 1 DAY >= p.ts, false) AS ok,
        |         row_number() OVER (PARTITION BY e.event_id
        |                            ORDER BY p.ts ASC, p.event_id DESC) AS rn
        |  FROM events e LEFT JOIN events p
        |    ON e.user_id = p.user_id AND p.event_type = 'purchase'
        |   AND p.ts >= e.ts
        |  WHERE e.event_type = 'error') t
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,

    // nearest + tolerance: champion first (min |gap|, gap ties backward,
    // same-instant ties highest ordinal), THEN the |gap| <= 6h bound
    // nulls it — never a fall-through to a farther in-bound row
    "q_asof_nearest_within" ->
      """SELECT event_id, user_id,
        |  CASE WHEN ok THEN p_id END AS p_id,
        |  CASE WHEN ok THEN p_us END AS p_us,
        |  CASE WHEN ok THEN p_value END AS p_value
        |FROM (
        |  SELECT e.event_id, e.user_id, p.event_id AS p_id,
        |         epoch_us(p.ts) AS p_us, p.value AS p_value,
        |         coalesce(abs(epoch_us(e.ts) - epoch_us(p.ts))
        |                  <= 21600000000, false) AS ok,
        |         row_number() OVER (PARTITION BY e.event_id ORDER BY
        |           abs(epoch_us(e.ts) - epoch_us(p.ts)),
        |           CASE WHEN epoch_us(p.ts) <= epoch_us(e.ts)
        |                THEN 0 ELSE 1 END,
        |           p.event_id DESC) AS rn
        |  FROM events e LEFT JOIN events p
        |    ON e.user_id = p.user_id AND p.event_type = 'purchase'
        |  WHERE e.event_type = 'error') t
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,

    "q_range_join" ->
      """SELECT e.event_id AS err_id, count(*) AS n_follow
        |FROM events e JOIN events f
        |  ON e.user_id = f.user_id
        | AND f.ts > e.ts AND f.ts <= e.ts + INTERVAL 1 HOUR
        |WHERE e.event_type = 'error'
        |GROUP BY e.event_id ORDER BY err_id""".stripMargin,

    "q_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
        |      AS session_id
        |  FROM flagged),
        |per_session AS (
        |  SELECT user_id, session_id, count(*) AS n_events
        |  FROM sess GROUP BY user_id, session_id)
        |SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_session_events,
        |       CAST(sum(n_events) AS BIGINT) AS n_events_total
        |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin,

    // running-max-end islands: the same summary skeleton as
    // q_sessionize, with the session break driven by the max of all
    // preceding events' (ts + per-event gap)
    "q_sessionize_dynamic" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN max_prev IS NULL OR epoch_us(ts) > max_prev
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM (
        |    SELECT user_id, ts, event_id,
        |      max(epoch_us(ts) + CASE WHEN event_type = 'error'
        |            THEN 300000000 ELSE 1800000000 END)
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |        AS max_prev
        |    FROM events)),
        |sess AS (
        |  SELECT user_id,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
        |      AS session_id
        |  FROM flagged),
        |per_session AS (
        |  SELECT user_id, session_id, count(*) AS n_events
        |  FROM sess GROUP BY user_id, session_id)
        |SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_session_events,
        |       CAST(sum(n_events) AS BIGINT) AS n_events_total
        |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,

    "q_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'error'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,

    "q_except" ->
      """SELECT user_id FROM events WHERE event_type = 'error' AND user_id % 3 = 0
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'purchase' AND user_id % 7 = 0
        |ORDER BY user_id""".stripMargin,

    "q_distinct_agg" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the sketch-contract gate: exact leg recomputed independently, the
    // ≤5%-relative-error claim asserted as a literal (see the query's doc)
    "q_approx_freq" ->
      """SELECT event_type, count(*) AS n_exact,
        |true AS cms_never_under, true AS cms_within_eps
        |FROM events WHERE event_type IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_approx_distinct" ->
      """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS exact_users,
        |true AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_pivot" ->
      """SELECT user_id,
        |count(*) FILTER (event_type = 'click') AS click,
        |count(*) FILTER (event_type = 'error') AS error,
        |count(*) FILTER (event_type = 'purchase') AS purchase,
        |count(*) FILTER (event_type = 'signup') AS signup,
        |count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_explode_tokens" ->
      """SELECT lang, term, count(*) AS n FROM (
        |  SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM documents) t
        |GROUP BY lang, term HAVING count(*) >= 100
        |ORDER BY lang, term""".stripMargin,

    "q_percentile" ->
      """SELECT event_type,
        |round(quantile_cont(value, 0.5), 6) AS p50,
        |round(quantile_cont(value, 0.9), 6) AS p90,
        |count(value) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the quantile-sketch contract gate: exact count + exact median
    // recomputed independently, the rank-error claim asserted as a literal
    "q_approx_percentile" ->
      """SELECT event_type, count(value) AS n,
        |round(quantile_cont(value, 0.5), 6) AS p50_exact,
        |true AS p50_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
        |     OVER (PARTITION BY l_suppkey
        |           ORDER BY l_shipdate, l_orderkey, l_linenumber
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |  AS running_qty,
        |lag(l_quantity, 1) OVER (PARTITION BY l_suppkey
        |                         ORDER BY l_shipdate, l_orderkey, l_linenumber)
        |  AS prev_qty
        |FROM lineitem WHERE l_suppkey <= 3
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,

    "q_union" ->
      """SELECT user_id FROM events WHERE event_type = 'error'
        |UNION
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin
  )
}

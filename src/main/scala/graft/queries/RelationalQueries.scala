package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Staged
import graft.functions._
import graft.sources.Tables

/** Relational operator coverage (SURVEY §2.1–§2.9, §2.11) expressed over
  * the driver's synthetic star schema. Each query is the idiomatic Spark
  * form of a reference operator, named `<operator-id>_<what>`; the paired
  * DuckDB oracle lives in [[oracles]] with identical output column names.
  *
  * Determinism rules (the driver hash-compares values after sorting):
  *  - double aggregates are rounded to a fixed scale on both sides;
  *  - int-valued derivations are cast to BIGINT on both sides;
  *  - event timestamps (ns in parquet, µs in Spark) are truncated to
  *    seconds before being output.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** Register the star-schema tables as temp views for the SQL-surface
    * gates (the TPC-H subquery shapes are written as Spark SQL so
    * Catalyst's decorrelation/anti-join rewrites are what's tested).
    * Delegates to the one table-name registry in [[Tables.registerAll]]
    * so the view list can't drift from the synthetic schema. */
  private def tpchViews(s: SparkSession, dir: String): Unit =
    Tables.registerAll(s, dir)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Zipf-skewed join at bench scale through the salting operator: a
    // synthetic key where value 0 holds ~30% of lineitem (the hot
    // station_id shape from SURVEY §7.4 risk 6) joined against a
    // 97-row dim via Skew.saltedJoin — the path for a skewed join whose
    // right side is too big to broadcast in production (here dim-sized
    // so the oracle can replay it; the SALT mechanics are identical).
    // The salt spreads the hot key over 16 shuffle partitions; the
    // no-task->2x-mean runtime assert lives in SkewJoinSpec, the
    // result contract here: salting must not duplicate or drop a row.
    // Z-order layout key (Morton curve over range-binned dims): the
    // multi-column file-skipping lever — a contiguous zkey range is a
    // (user, time) HYPERCUBE, so per-file min/max stats prune scans
    // filtering on EITHER dimension. The gate audits the curve itself:
    // 64 top-6-bit z-buckets with per-bucket spans of both dims; the
    // oracle replays the integer bin + bit-interleave byte-for-byte
    // (locality/pruning asserts live in ZOrderSpec — span bounds here
    // are the hash-checked evidence the buckets are hypercubes).
    "x_zorder_key" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"),
        expr("ts_ns div 1000").as("ts_us"))
      // the grid bounds are persisted layout state (2 longs per dim; a
      // key is only comparable under the grid that minted it) — staged
      // once per corpus, like the trained quantizers/idf tables; the
      // timed region is the pure keying projection
      val bounds = Staged.value("zorder-bounds", dir) {
        graft.operators.ZOrder.trainBounds(ev, Seq("user_id", "ts_us"))
      }
      graft.operators.ZOrder
        .withZKeyBounds(ev, Seq("user_id", "ts_us"), bounds, bits = 8)
        .groupBy(shiftright(col("zkey"), 10).as("zbucket"))
        .agg(count(lit(1)).as("n"),
          min("user_id").as("min_user"), max("user_id").as("max_user"),
          min("ts_us").as("min_ts"), max("ts_us").as("max_ts"))
    }),

    "x_skew_join" -> ((s, dir) => {
      val fact = t(s, dir, "lineitem").select(
        when(col("l_orderkey") % 10 < 3, lit(0L))
          .otherwise(pmod(col("l_orderkey"), lit(97L))).as("key"),
        col("l_quantity"))
      val dim = s.range(0, 97).select(col("id").as("key"),
        (col("id") * 7 + 3).as("dim_val"))
      graft.operators.Skew.saltedJoin(fact, dim, "key", saltFactor = 16)
        .groupBy("key", "dim_val")
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
    }),

    // D4 on a COMPOSITE unique_key, through the real DagRunner: run 1
    // admits the early-shipping slice of an aggregate keyed (k1, k2);
    // run 2 re-delivers EVERY key with negated quantity. AppendNewKeys
    // semantics: previously-admitted composite keys keep their run-1
    // row (+qty), only genuinely new (k1, k2) pairs land with run-2's
    // −qty. A matcher that compared only one key column would drop
    // every run-2 key sharing a k1 with any early key — the oracle
    // recomputes per-key which run wins.
    "p6_incremental_composite" -> ((s, dir) => {
      import graft.dbt._
      val wh = Staged.scratch("p6_incremental_composite")
      // the synthetic lineitem does NOT key uniquely on (orderkey,
      // linenumber) (unlike TPC-H), so the delivery rows are an
      // aggregate keyed (orderkey mod 211, linenumber) — genuinely
      // composite (neither column alone is close to unique) and exact.
      // orderkey-eighth slice, aggregated ONCE (localCheckpoint): the
      // property is composite-key ADMISSION through two DagRunner runs,
      // not lineitem scan throughput — both runs derive from the same
      // materialized delivery table
      val base = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 8 === 0)
        .groupBy(pmod(col("l_orderkey"), lit(211L)).as("k1"),
          col("l_linenumber").as("k2"))
        .agg(sum(col("l_quantity")).as("qty"),
          min(col("l_shipdate")).as("first_ship"))
        .localCheckpoint(true)
      val run1 = base.filter(col("first_ship") < lit("1997-01-01").cast("date"))
        .select("k1", "k2", "qty")
      val run2 = base.select(col("k1"), col("k2"), (-col("qty")).as("qty"))
      def runOnce(batch: org.apache.spark.sql.DataFrame): Unit = {
        val reg = new ModelRegistry().register(Model(
          name = "inc_lines", deps = Nil,
          materialization = Materialization.Incremental(Seq("k1", "k2")),
          build = ctx => ctx.self match {
            case Some(existing) => batch.join(
              existing.select("k1", "k2"), Seq("k1", "k2"), "left_anti")
            case None => batch
          }))
        new DagRunner(s, reg, (_, _) => sys.error("no sources"), wh)
          .run(runTests = false)
        ()
      }
      runOnce(run1)
      runOnce(run2)
      s.read.parquet(s"$wh/inc_lines")
    }),

    // P1 — projection + rename (stg_station_status shape,
    // reference models/staging/stg_station_status.sql:4-34)
    "p1_project_rename" -> ((s, dir) => {
      t(s, dir, "lineitem").select(
        col("l_orderkey").as("order_key"),
        col("l_linenumber").cast("long").as("line_no"),
        col("l_quantity").as("qty"),
        col("l_returnflag").as("return_flag"))
    }),

    // P2 — star + computed columns (stg_historic_trips shape,
    // reference models/staging/stg_historic_trips.sql:21-25)
    "p2_computed_columns" -> ((s, dir) => {
      t(s, dir, "orders")
        .withColumn("order_date", to_date(col("o_orderdate")))
        .withColumn("order_year", year(col("o_orderdate")).cast("long"))
        .withColumn("date_int", dateInt(col("o_orderdate")))
        .withColumn("price_r", roundDet(col("o_totalprice"), 2))
        .select("o_orderkey", "order_date", "order_year", "date_int", "price_r")
    }),

    // P4 — null-drop filter (dropna, reference src/historical_bucket_to_bq.py:76)
    "p4_null_drop" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("lang_nn", expr("nullif(lang, 'en')"))
        .na.drop(Seq("lang_nn"))
        .select("doc_id", "lang_nn")
    }),

    // P7 — typed casts incl. SAFE_CAST→try_cast
    // (reference models/staging/stg_station_tariffs.sql:20-26)
    "p7_casts" -> ((s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        col("p_size").cast("double").as("size_d"),
        col("p_size").cast("string").as("size_s"),
        expr("try_cast(p_brand AS double)").as("brand_num"))
    }),

    // W1+P5 — latest-row-per-key via row_number, keep rn=1
    // (reference models/facts/fact_station_status_latest.sql:14-17,32)
    "w1_latest_per_key" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_ns").desc, col("event_id").desc)
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(
          col("user_id"),
          col("event_id"),
          date_trunc("second", col("ts")).as("ts_s"),
          col("event_type"))
    }),

    // P6/J5/D4 — incremental NOT IN == left_anti append filter
    // (reference models/facts/fact_station_status.sql:30-32)
    "p6_incremental_anti_join" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val existing = orders
        .filter(col("o_orderdate") < lit("1998-01-01").cast("date"))
        .select("o_orderkey")
      orders.join(existing, Seq("o_orderkey"), "left_anti")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    }),

    // J1 — left equi-join + coalesce default
    // (reference models/facts/fact_station_status.sql:25,28)
    "j1_left_join_enrich" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val richCust = t(s, dir, "customer")
        .filter(col("c_acctbal") > 5000)
        .select(col("c_custkey"), col("c_mktsegment"))
      orders.join(richCust, orders("o_custkey") === richCust("c_custkey"), "left")
        .select(
          col("o_orderkey"),
          coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
    }),

    // J2+A1 — inner join + grouped sums + safe ratio (mart shape,
    // reference models/marts/mart_station_availability.sql:12-17)
    "j2_join_agg_mart" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"), "inner")
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_lines"),
          roundDet(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"),
          roundDet(avg(col("l_quantity")), 4).as("avg_qty"))
    }),

    // J3+A4 — customers ⟕ per-customer order aggregates + coalesce(…,0)
    // (reference models_demo/customers.sql:1-11, stg_customer_orders.sql:1-10)
    "j3_customers_order_stats" -> ((s, dir) => {
      val perCust = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(
          min(to_date(col("o_orderdate"))).as("first_order"),
          max(to_date(col("o_orderdate"))).as("most_recent_order"),
          count(col("o_orderkey")).as("number_of_orders"))
      t(s, dir, "customer")
        .join(perCust, col("c_custkey") === col("o_custkey"), "left")
        .select(
          col("c_custkey"),
          col("c_name"),
          col("first_order"),
          col("most_recent_order"),
          coalesce(col("number_of_orders"), lit(0L)).as("number_of_orders"))
    }),

    // G1/J6 — UNNEST: explode array into one row per element
    // (reference models/staging/stg_station_status.sql:10)
    "g1_explode_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    }),

    // G3 — date spine: sequence(min,max) + explode + date parts
    // (reference models/dimensions/dim_date.sql:7-30)
    "g3_dim_date" -> ((s, dir) => {
      val bounds = t(s, dir, "orders").agg(
        min(to_date(col("o_orderdate"))).as("lo"),
        max(to_date(col("o_orderdate"))).as("hi"))
      bounds
        .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("date_key"))
        .select(
          col("date_key"),
          year(col("date_key")).cast("long").as("year"),
          month(col("date_key")).cast("long").as("month"),
          dayofmonth(col("date_key")).cast("long").as("day"),
          dayofweek(col("date_key")).cast("long").as("day_of_week"),
          dateInt(col("date_key")).as("date_int"))
    }),

    // A1 — grouped sums + SAFE_DIVIDE ratio
    // (reference models/facts/fact_station_uptime.sql:26-35)
    "a1_grouped_ratio" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          countIf(col("l_quantity") > 25).as("n_high"),
          count(lit(1)).as("n_total"))
        .withColumn("high_ratio", roundedRatio(col("n_high"), col("n_total"), 6))
    }),

    // A2 — COUNT(*) + COUNTIF family
    // (reference models/marts/mart_station_uptime.sql:9-18)
    "a2_countif" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          countIf(col("value") > 100).as("n_high"),
          countIf(col("user_id") % 2 === 0).as("n_even_user"))
        .withColumn("high_ratio", roundedRatio(col("n_high"), col("n"), 3))
    }),

    // A3 — count/avg/conditional-sum per composite key
    // (reference models/marts/mart_trip_metrics.sql:3-13)
    "a3_trip_metrics" -> ((s, dir) => {
      t(s, dir, "orders")
        .withColumn("order_date", to_date(col("o_orderdate")))
        .groupBy(col("order_date"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          roundDet(avg(col("o_totalprice")), 2).as("avg_price"),
          countIf(col("o_orderstatus") =!= "F").as("n_open"))
    }),

    // A5 — GROUP BY ordinal dedup (reference models/dimensions/dim_tariff.sql:3-5)
    "a5_group_by_ordinal" -> ((s, dir) => {
      Tables.part(s, dir).createOrReplaceTempView("part")
      s.sql("SELECT p_brand, p_type, p_size FROM part GROUP BY 1, 2, 3")
        .withColumn("p_size", col("p_size").cast("long"))
    }),

    // A6 — SELECT DISTINCT dedup (reference models/dimensions/dim_stations.sql:6-18)
    "a6_distinct" -> ((s, dir) => {
      t(s, dir, "part").select(col("p_brand"), col("p_type")).distinct()
    }),

    // A7 — scalar subquery + coalesce fallback
    // (reference models/dimensions/dim_date.sql:7-13)
    "a7_scalar_subquery" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      s.sql("""
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_orderdate >= coalesce(
          (SELECT max(o_orderdate) FROM orders WHERE o_orderstatus = 'X'),
          timestamp'2000-01-01 00:00:00')
      """)
    }),

    // A8-analog — batch dedup on (key, second-truncated event time)
    // (streaming dropDuplicates, reference src/realtime_pubsub_to_spark.py:153)
    "a8_event_dedup" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("ts_s", date_trunc("second", col("ts")))
        .groupBy(col("user_id"), col("ts_s"))
        .agg(min(col("event_id")).as("event_id"), count(lit(1)).as("n_in_key"))
    }),

    // md5/concat surrogate keys (reference models/facts/fact_trips.sql:9-16)
    "f_md5_surrogate_key" -> ((s, dir) => {
      t(s, dir, "orders").select(
        col("o_orderkey"),
        surrogateKey(
          col("o_orderkey"),
          col("o_orderstatus"),
          to_date(col("o_orderdate"))).as("order_sk"))
    }),

    // datetime cluster: epoch seconds, hour truncation, to_date
    // (reference models/staging/stg_station_status.sql:17,31 + §2.9)
    "f_datetime" -> ((s, dir) => {
      Tables.events(s, dir).select(
        col("event_id"),
        expr("ts_ns div 1000000000").as("epoch_s"),
        date_trunc("hour", col("ts")).as("ts_hour"),
        to_date(col("ts")).as("ts_day"),
        timestamp_seconds(epochSeconds(col("ts"))).as("ts_roundtrip"))
    }),

    // JSON extraction (reference models/staging/stg_station_information.sql:26-37).
    // json_tuple parses the JSON string ONCE per row for all extracted
    // paths — two get_json_object calls on the same column each re-parse.
    "f_json_extract" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"),
          json_tuple(col("props"), "k", "missing").as(Seq("_k", "absent")))
        .select(col("event_id"),
          col("_k").as("k_str"),
          col("_k").cast("long").as("k_num"),
          col("absent"))
    }),

    // G2 — UNNEST(json_extract_array(...)): parse a JSON array string and
    // explode one row per element (reference
    // models/staging/stg_station_information.sql:10,16)
    "g2_json_array_explode" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("payload_json",
          concat(lit("""{"tags": ["""), lit("\""), col("lang"),
            lit("\", \""), col("source"), lit("\"]}")))
        .select(col("doc_id"),
          explode(from_json(get_json_object(col("payload_json"), "$.tags"),
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StringType))).as("tag"))
    }),

    // P3 — struct star-expansion (s.* over a built struct,
    // reference models/staging/stg_station_status.sql:9)
    "p3_struct_star" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"),
          struct(col("user_id").as("u"), col("event_type").as("t")).as("s"))
        .select(col("event_id"), col("s.*"))
    }),

    // ST-analog — tumbling 1-hour event-time window aggregation (the
    // batch shape of the streaming windowed agg; reference does this via
    // hour truncation, models/facts/fact_station_status.sql:21)
    "st_tumbling_window" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), roundDet(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").as("window_start"),
          col("window.end").as("window_end"),
          col("event_type"), col("n"), col("sum_value"))
    }),

    // session window batch analog: Spark's native session_window with a
    // 30-minute gap (an event at t extends its session to t+gap; a later
    // event merges iff it starts strictly before that end). The oracle
    // recomputes the identical sessions with lag + running sum — the
    // merge condition `diff < gap` maps to `new session iff diff >= gap`.
    "st_session_window" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          roundDet(sum(col("value")), 2).as("sum_value"))
        .select(col("user_id"),
          date_trunc("second", col("session_window.start")).as("session_start"),
          date_trunc("second", col("session_window.end")).as("session_end"),
          col("n_events"), col("sum_value"))
    }),

    // sliding (hopping) window batch analog: 1 h windows every 30 min —
    // each event lands in exactly two windows. Same operator drives the
    // streaming hourly-stats path with a watermark.
    "st_hopping_window" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"),
          col("window.end").as("window_end"),
          col("event_type"), col("n"))
    }),

    // ST-analog — changelog compaction's batch twin: per-key compaction
    // over each key's full event-time-ordered history equals the
    // lag()-window reduction the oracle computes; the SAME compaction
    // core runs per-micro-batch in the transformWithState processor,
    // whose cross-batch state semantics (and equality to this batch
    // path) are ChangeFilterSpec's half.
    "st_change_compaction" -> ((s, dir) => {
      import s.implicits._
      val ticks = Tables.events(s, dir).select(
        concat(lit("s"), (col("user_id") % 16).cast("string"))
          .as("station_id"),
        (col("event_id") % 4).as("num_bikes"), col("ts"))
        .as[graft.streaming.StatusTick]
      graft.streaming.ChangeFilter.changesOnlyBatch(ticks)
        .toDF().select(col("station_id"), col("num_bikes"),
          col("prev_bikes"), col("ts"))
    }),

    // ST-analog — rate-source intake accounting: ticks round-trip
    // through the real binary JSON envelope encode + decode, then rows
    // are accounted per 1-second micro-batch under the rowsPerSecond
    // backpressure cap (Kafka maxOffsetsPerTrigger analogue). cap=97
    // does not divide 5000, so the last batch is partial — the oracle
    // pins per-batch admissions, decoded field arithmetic, and the
    // within_cap bound from first principles (no JSON on its side:
    // matching values prove the envelope round-trip preserved them).
    "st_rate_intake" -> ((s, dir) =>
      graft.streaming.StatusStreamPipeline.rateIntakeAccounting(
        s, nTicks = 5000L, rowsPerSecond = 97, stations = 8,
        epochStart = 1700000000L)),

    // date arithmetic cluster: add_months (calendar-clamped), date_add,
    // datediff (reference models/dimensions/dim_date.sql:12)
    "f_date_arith" -> ((s, dir) => {
      t(s, dir, "orders").select(
        col("o_orderkey"),
        add_months(to_date(col("o_orderdate")), 3).as("plus_3m"),
        date_add(to_date(col("o_orderdate")), 30).as("plus_30d"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date"))
          .cast("long").as("days_since_epoch_start"))
    }),

    // to_json over a struct (reference src/pyspark_gbfs_raw_load.py:104)
    "f_to_json" -> ((s, dir) => {
      Tables.events(s, dir).select(
        col("event_id"),
        to_json(struct(col("event_id"), col("event_type"))).as("js"))
    }),

    // A+ — set operations: customers who ordered in 1995 INTERSECT/EXCEPT
    // those who ordered in 1996 (both compile to aggregate/anti-join
    // shapes, not row-by-row comparisons). UNION ALL + labels keeps one
    // result relation.
    "a12_set_ops" -> ((s, dir) => {
      def buyers(year: Int) = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(s"$year-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${year + 1}-01-01").cast("timestamp"))
        .select("o_custkey")
      val y95 = buyers(1995); val y96 = buyers(1996)
      y95.intersect(y96).withColumn("set_op", lit("both"))
        .unionByName(y95.except(y96).withColumn("set_op", lit("only_1995")))
        .unionByName(y96.except(y95).withColumn("set_op", lit("only_1996")))
    }),

    // A+ — pivot: per-user event-type counts as columns. The value list
    // is explicit, so the plan is a single groupBy with conditional
    // aggregates (no extra pass to discover the pivot domain).
    "a13_pivot" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("signup", "click", "view", "purchase", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("user_id"), col("signup").as("n_signup"),
          col("click").as("n_click"), col("view").as("n_view"),
          col("purchase").as("n_purchase"), col("error").as("n_error"))
    }),

    // A+ — hierarchical rollup: subtotals per (returnflag, linestatus),
    // per returnflag, and grand total in ONE pass (Expand + single
    // aggregation shuffle — not three scans), with grouping_id
    // distinguishing the levels. DuckDB mirrors with GROUP BY ROLLUP.
    // A+ — CUBE: all four grouping combinations in one pass (the
    // multi-dimensional summary the rollup gate only half covers), with
    // grouping_id disambiguating NULL-as-total from a NULL group value
    "a15_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          roundDet(sum(col("l_quantity")), 2).as("sum_qty"),
          grouping_id().cast("long").as("gid"))
        .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")
    }),

    // J+ — null-safe join (<=>): nulls match nulls, the semantics a
    // plain equi-join silently drops. Nation keys nulled on a
    // deterministic slice of both sides; the null-null pairs must
    // survive. Spark plans <=> as a hash join on the null-safe key.
    "j9_nullsafe_join" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"),
        when(col("c_custkey") % 7 === 0, lit(null).cast("long"))
          .otherwise(col("c_nationkey")).as("nk"))
      val su = t(s, dir, "supplier").select(col("s_suppkey"),
        when(col("s_suppkey") % 5 === 0, lit(null).cast("long"))
          .otherwise(col("s_nationkey")).as("nk2"))
      c.join(su, col("nk") <=> col("nk2"))
        .groupBy(coalesce(col("nk").cast("string"), lit("NULL")).as("nation_key"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("c_custkey")).as("n_customers"),
          countDistinct(col("s_suppkey")).as("n_suppliers"))
    }),

    "a11_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          roundDet(sum(col("l_quantity")), 2).as("sum_qty"),
          grouping_id().cast("long").as("gid"))
        .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")
    }),

    // W+ — the full analytic-window surface over customer order
    // histories: lead/lag, ranks, ntile quartiles, distribution
    // functions, and running first/last frames, all on one window pass.
    "w3_window_funcs" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        lag(col("o_orderkey"), 1).over(w).as("prev_order"),
        lead(col("o_orderkey"), 1).over(w).as("next_order"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        ntile(4).over(w).cast("long").as("quartile"),
        roundDet(percent_rank().over(w), 6).as("pct_rank"),
        roundDet(cume_dist().over(w), 6).as("cum_dist"),
        roundDet(first(col("o_totalprice")).over(run), 2).as("first_price"),
        roundDet(sum(col("o_totalprice")).over(run), 2).as("run_total"))
    }),

    // J+ — backward as-of join (union + one keyed shuffle + running
    // window; no join operator): each purchase attaches the same user's
    // latest view at or before it. DuckDB mirrors with ASOF LEFT JOIN.
    "j7_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("ts_ns"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_ns"), col("value").as("view_value"))
      graft.operators.Joins.asOf(purchases, views, keys = Seq("user_id"),
          leftTime = "ts_ns", rightTime = "ts_ns",
          rightValues = Seq("view_value"), matchedTimeAlias = "view_ns")
        .select(col("event_id"), col("user_id"),
          date_trunc("second", col("ts")).as("purchase_ts"),
          date_trunc("second",
            timestamp_micros(expr("view_ns div 1000"))).as("view_ts"),
          col("view_value"))
    }),

    // J+ — point-in-interval range join via interval blocking (bucketed
    // equi-join, no nested loop): clicks attributed to purchases of the
    // same user within the preceding hour, half-open (p-1h ≤ c < p).
    "j8_range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val hourNs = 3600L * 1000000000L
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_ns").as("click_ns"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          (col("ts_ns") - hourNs).as("w_start"), col("ts_ns").as("w_end"))
      graft.operators.Joins.rangeJoin(clicks, "click_ns", purchases,
          "w_start", "w_end", bucketWidth = hourNs, keys = Seq("user_id"))
        .groupBy("purchase_id")
        .agg(count(lit(1)).as("n_clicks_1h"))
    }),

    // W+ — gap-based sessionization: lag + running conditional sum frames
    // (the batch form of streaming session windows). Scale note: the
    // per-user window is right whenever user cardinality scales with the
    // data; for a few-keys/deep-history shape, apply the two-level
    // time-shard pattern (within-shard lag/cumsum + boundary carry) used
    // by Packing.packSequences and Joins.asOf(timeShard), or move to the
    // stateful session_window path (st_session_window), whose state store
    // scales by key count rather than history depth.
    "w2_sessionize" -> ((s, dir) => {
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("ts_ns"), col("event_id"))
      val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("prev_ns", lag(col("ts_ns"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ns").isNull ||
            col("ts_ns") - col("prev_ns") > 1800L * 1000000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(run))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          date_trunc("second", min(col("ts"))).as("session_start"),
          date_trunc("second", max(col("ts"))).as("session_end"))
    }),

    // A+ — vocabulary top-k: explode → count → ranked top 20 words
    "a9_vocab_topk" -> ((s, dir) => {
      val counts = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
      // TakeOrdered the top 20 FIRST so the single-partition ranking
      // window only ever sees k rows, not the whole vocabulary
      // localCheckpoint: the top-k set is used twice below; without it the
      // full vocabulary aggregation would run once per side of the join
      val top = counts.orderBy(col("n").desc, col("word").asc).limit(20)
        .localCheckpoint(true)
      // rank within the k=20 rows WITHOUT a global window (which would
      // be a single-partition WindowExec — fine for k rows but a plan
      // shape that cannot be allowed to reach full-table inputs): rank =
      // count of peers at-or-before in the (n DESC, word ASC) order, via
      // a broadcast inequality self-join — k² = 400 comparisons, no shuffle
      val peers = broadcast(top.select(col("n").as("pn"), col("word").as("pw")))
      top.join(peers,
          col("pn") > col("n") || (col("pn") === col("n") && col("pw") <= col("word")))
        .groupBy("word", "n").agg(count(lit(1)).as("rank"))
    }),

    // funnel analysis: signup→purchase conversion per user via
    // conditional min-timestamps (pivot-style conditional aggregation)
    "a10_funnel" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "signup", col("ts_ns"))).as("first_signup_ns"),
          min(when(col("event_type") === "purchase", col("ts_ns"))).as("first_purchase_ns"),
          countIf(col("event_type") === "purchase").as("n_purchases"))
        .select(
          col("user_id"),
          timestamp_micros(expr("first_signup_ns div 1000")).as("first_signup"),
          timestamp_micros(expr("first_purchase_ns div 1000")).as("first_purchase"),
          col("n_purchases"),
          (col("first_signup_ns").isNotNull && col("first_purchase_ns").isNotNull &&
            col("first_signup_ns") < col("first_purchase_ns")).as("converted"))
    }),

    // TPC-H-shaped classics over the synthetic star schema (pricing
    // summary, shipping-priority revenue, local-supplier volume, revenue
    // delta) — the canonical scan/join/agg shapes at bench scale
    "tpch_q1_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          roundDet(sum(col("l_quantity")), 2).as("sum_qty"),
          roundDet(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          roundDet(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          roundDet(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
          roundDet(avg(col("l_quantity")), 4).as("avg_qty"),
          roundDet(avg(col("l_extendedprice")), 4).as("avg_price"),
          roundDet(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    "tpch_q3_top_revenue" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("o_orderdate"))
        .agg(roundDet(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // TPC-H Q4 (order-priority checking), adapted: "late" is a
    // returned line (the Q21 convention — no commit/receipt dates in
    // the synthetic schema). One quarter of orders, left-semi against
    // the pre-filtered returned lines (EXISTS collapses to a semi join
    // — each order tests membership once, no fan-out), one small
    // priority aggregate. The quarter predicate pushes to the orders
    // scan; the returnflag predicate to the lineitem scan.
    "tpch_q4_order_priority" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
      val late = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select("l_orderkey")
      o.join(late, o("o_orderkey") === late("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    }),

    "tpch_q5_local_volume" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val c = t(s, dir, "customer")
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(su, li("l_suppkey") === su("s_suppkey"))
        .join(c, o("o_custkey") === c("c_custkey") &&
          su("s_nationkey") === c("c_nationkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(roundDet(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
    }),

    "tpch_q6_revenue_delta" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
        .agg(roundDet(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue"))
    }),

    // TPC-H Q7 (volume shipping): the two-nation bidirectional join.
    // The disjunction only ever names the two nations, so BOTH nation
    // dims pre-filter to them and join supplier/customer BEFORE the
    // fact joins — rows from the other 23 nations (92% of customers
    // and suppliers, and their lineitems) drop at the cheap dim joins
    // instead of riding through the fact⋈fact shuffle. The pair
    // disjunction then only has to exclude the two same-nation
    // combinations. Supplier/customer/nation×2 broadcast; orders is
    // fact-sized so it joins by shuffle; the only other shuffle keys
    // the final (supp_nation, cust_nation, year) aggregate.
    "tpch_q7_nation_volume" -> ((s, dir) => {
      val pair = Seq("NATION_1", "NATION_2")
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      val o = t(s, dir, "orders")
      val n1 = t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      val su = t(s, dir, "supplier")
        .join(n1, col("s_nationkey") === n1("s_nk"))
      val c = t(s, dir, "customer")
        .join(n2, col("c_nationkey") === n2("c_nk"))
      li.join(su, li("l_suppkey") === su("s_suppkey"))
        .join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(roundDet(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
    }),

    // TPC-H Q10 (returned items): per-customer lost revenue from 'R'
    // lineitems in one quarter — the classic fact⋈fact (lineitem ⋈
    // orders) shuffle join with customer/nation broadcast, TakeOrdered
    // for the top 20 (no global sort).
    "tpch_q10_returned_items" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-10-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(roundDet(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    }),

    // TPC-H Q14 (promo revenue): conditional-aggregate ratio over one
    // month of lineitem ⋈ part — part broadcasts, the month filter
    // reaches the scan, one row out.
    "tpch_q14_promo_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-03-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      val p = t(s, dir, "part")
      val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      li.join(p, li("l_partkey") === p("p_partkey"))
        .agg(roundDet(lit(100.0) *
          sum(when(col("p_type") === "PROMO", disc).otherwise(lit(0.0))) /
          sum(disc), 4).as("promo_revenue"))
    }),

    // TPC-H Q19 (discounted revenue, adapted to the synthetic part
    // columns): three disjunctive brand/size/quantity branches — the
    // OR-of-ANDs predicate Catalyst must keep partially pushable
    // (p_brand IN (...) and the l_quantity range push to the scans;
    // the per-branch conjunctions evaluate post-join).
    "tpch_q19_disjunctive" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      li.join(p, li("l_partkey") === p("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(11, 30) &&
            col("l_quantity").between(5, 30)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
            col("l_quantity").between(10, 40)))
        .agg(roundDet(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
    }),

    // TPC-H Q13 (customer order-count distribution): customer LEFT
    // OUTER join orders with the join-side filter (priority != 5-LOW —
    // the o_comment NOT LIKE analogue; the filter must sit IN the join,
    // not under it, or customers with only low-priority orders
    // disappear instead of counting zero), then the two-level
    // aggregation: orders per customer → customers per order-count.
    "tpch_q13_custdist" -> ((s, dir) => {
      val c = t(s, dir, "customer").select("c_custkey")
      val o = t(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "5-LOW")
        .select("o_custkey", "o_orderkey")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count")) // nulls not counted
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    }),

    // TPC-H Q15 (top supplier): quarterly revenue per supplier, then
    // the suppliers achieving the MAXIMUM revenue — the scalar-
    // subquery-over-an-aggregate shape. Revenue is rounded (roundDet)
    // BEFORE the max/equality so the selection key is the same bit
    // pattern on any engine; the max attaches as a broadcast one-row
    // cross join, supplier attaches broadcast.
    "tpch_q15_top_supplier" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(roundDet(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("total_revenue"))
      val top = rev.crossJoin(
          broadcast(rev.agg(max(col("total_revenue")).as("_max"))))
        .filter(col("total_revenue") === col("_max"))
      t(s, dir, "supplier")
        .join(top, col("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
    }),

    // TPC-H Q21 (suppliers who kept orders waiting), adapted: the
    // "late" predicate is l_returnflag = 'R' (no receipt/commit dates
    // in the synthetic schema). For each returned line of a finished
    // order: EXISTS another supplier's line in the same order
    // (multi-supplier order) and NOT EXISTS another supplier's
    // RETURNED line (this supplier is the only one who flubbed it) —
    // the classic semi + anti self-join pair on the fact table, both
    // keyed on orderkey with the supplier inequality as the residual
    // condition; count per supplier, top 20.
    "tpch_q21_waiting_supplier" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select("o_orderkey")
      val l1 = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(o, col("l_orderkey") === o("o_orderkey"), "left_semi")
      val l2 = li.select(col("l_orderkey").as("_ok2"),
        col("l_suppkey").as("_sk2"))
      val l3 = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("_ok3"), col("l_suppkey").as("_sk3"))
      val waiting = l1
        .join(l2, col("l_orderkey") === col("_ok2") &&
          col("l_suppkey") =!= col("_sk2"), "left_semi")
        .join(l3, col("l_orderkey") === col("_ok3") &&
          col("l_suppkey") =!= col("_sk3"), "left_anti")
      t(s, dir, "supplier")
        .join(waiting, col("s_suppkey") === col("l_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(20)
    }),

    // TPC-H Q8 (national market share), adapted to the synthetic
    // dims: within the ASIA-customer market for ECONOMY parts, the
    // per-year revenue share supplied from NATION_18. Both nation
    // dims, region, part and supplier pre-filter/broadcast; the only
    // fact-sized shuffle is lineitem ⋈ orders (orderkey), then one
    // two-row year aggregate. The share is a conditional-sum ratio —
    // the q14 idiom — rounded AFTER the division.
    "tpch_q8_market_share" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val rg = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val cn = t(s, dir, "nation")
        .join(rg, col("n_regionkey") === rg("r_regionkey"))
        .select(col("n_nationkey").as("c_nk"))
      val c = t(s, dir, "customer")
        .join(cn, col("c_nationkey") === col("c_nk"))
        .select("c_custkey")
      val sn = t(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val su = t(s, dir, "supplier")
        .join(sn, col("s_nationkey") === col("s_nk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val p = t(s, dir, "part").filter(col("p_type") === "ECONOMY")
        .select("p_partkey")
      val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      t(s, dir, "lineitem")
        .join(p, col("l_partkey") === p("p_partkey"))
        .join(su, col("l_suppkey") === su("s_suppkey"))
        .join(o, col("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(roundDet(
          sum(when(col("supp_nation") === "NATION_18", vol).otherwise(lit(0.0))) /
            sum(vol), 4).as("mkt_share"))
    }),

    // TPC-H Q12 (shipmode priority counts), adapted: the synthetic
    // schema has no l_shipmode, so the line-status plays the mode and
    // "late receipt" is l_returnflag = 'R'. Shape preserved exactly:
    // fact ⋈ fact join with the CASE-count split of high- vs
    // low-priority orders per group; the returnflag + shipdate-year
    // predicates push to the lineitem scan so only returned 1997
    // lines ride the orderkey shuffle.
    "tpch_q12_priority_lines" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" &&
          col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linestatus")
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderpriority")
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      li.join(o, col("l_orderkey") === o("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(countIf(high).as("high_count"),
          countIf(!high).as("low_count"))
    }),

    // TPC-H Q17 (small-quantity-order revenue): average yearly loss
    // from small orders of Brand#1 small parts. The correlated
    // per-part AVG becomes a groupBy on the part-filtered lineitem
    // slice (the part filter broadcasts into BOTH references, so the
    // avg is computed over exactly the lines that can qualify), then
    // broadcasts back for the quantity cut. l_quantity is integral,
    // so sum/count — and therefore the 0.2·avg boundary — is
    // bit-exact on any engine; no quantization needed.
    "tpch_q17_small_qty_revenue" -> ((s, dir) => {
      val p = t(s, dir, "part")
        .filter(col("p_brand") === "Brand#1" && col("p_size") <= 5)
        .select("p_partkey")
      val li = t(s, dir, "lineitem")
        .join(p, col("l_partkey") === p("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice")
      val avgQty = li.groupBy(col("l_partkey").as("_pk"))
        .agg(avg(col("l_quantity")).as("_avg_qty"))
      li.join(broadcast(avgQty), col("l_partkey") === col("_pk"))
        .filter(col("l_quantity") < lit(0.2) * col("_avg_qty"))
        .agg(roundDet(sum(col("l_extendedprice")) / lit(7.0), 2)
          .as("avg_yearly"))
    }),

    // TPC-H Q18 (large-volume orders): groupBy-HAVING on the fact
    // table (orders whose total quantity exceeds 220), then the
    // customer/order attributes attach to the few survivors. The
    // having-aggregate runs FIRST so only qualifying orderkeys join
    // back — orders joins by shuffle on orderkey, the survivor set
    // broadcasts into customer. Quantity sums are integral → exact.
    "tpch_q18_large_orders" -> ((s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("_ok"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 220)
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer").select("c_custkey", "c_name")
      o.join(big, o("o_orderkey") === col("_ok"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("o_orderdate"),
          roundDet(col("o_totalprice"), 2).as("o_totalprice"),
          col("total_qty"))
    }),

    // TPC-H Q22 (global sales opportunity), adapted: well-funded
    // customers in five nations with no URGENT order (every synthetic
    // customer has orders, so the anti-join target is the urgent
    // slice — same anti-join shape, non-degenerate). The
    // above-average-balance threshold follows the repo's determinism
    // discipline: balances are summed as integral CENTS (exact in
    // double for any order), so the avg — and the > cut — is the
    // same bit pattern on both engines. The threshold attaches as a
    // broadcast one-row aggregate; urgent orders pre-filter before
    // the anti-join so the probe side is the small slice.
    "tpch_q22_idle_balance" -> ((s, dir) => {
      val nations = Seq(1, 3, 5, 7, 9)
      val c = t(s, dir, "customer")
        .filter(col("c_nationkey").isin(nations: _*))
      val cents = round(col("c_acctbal") * 100)
      val thr = c.filter(col("c_acctbal") > 0)
        .agg(avg(cents).as("_avg_cents"))
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey")
      c.crossJoin(broadcast(thr))
        .filter(cents > col("_avg_cents"))
        .join(urgent, col("c_custkey") === urgent("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").cast("long").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          roundDet(sum(cents) / lit(100.0), 2).as("totacctbal"))
    }),

    // ----- TPC-H Q2/Q9/Q11/Q16/Q20 (r15 verdict task 1) -------------
    // The synthetic schema has no partsupp, so each query derives the
    // `ps` relation from lineitem with INTEGRAL measures (min line
    // price in cents / line count / max line quantity) — exact on any
    // engine, so the oracle replays the derivation bit-for-bit. All
    // five run as Spark SQL: the property under test is Catalyst's
    // subquery handling (decorrelation, null-aware anti joins), which
    // only the SQL surface exercises; the decorrelated-plan shape for
    // Q2/Q20 is pinned in PlanAuditSpec.

    // TPC-H Q2 (minimum-cost supplier): correlated scalar MIN subquery
    // against the same 4-way dim join as the outer query. Catalyst
    // decorrelates it to one per-part aggregate joined back — the
    // wrong plan (a re-executed subquery per outer row) would be
    // O(parts × index scans) and is what the plan audit excludes.
    // supplycost := min line price in cents per (part, supplier).
    "tpch_q2_min_cost_supp" -> ((s, dir) => {
      tpchViews(s, dir)
      s.sql("""
        WITH ps AS (
          SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                 min(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                   AS ps_supplycost
          FROM lineitem GROUP BY 1, 2)
        SELECT floor(s.s_acctbal * 100 + 0.5) / 100 AS s_acctbal,
               s.s_name, n.n_name, p.p_partkey, p.p_name, ps.ps_supplycost
        FROM part p
        JOIN ps ON ps.ps_partkey = p.p_partkey
        JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE p.p_type = 'STANDARD' AND p.p_size <= 15 AND r.r_name = 'EUROPE'
          AND ps.ps_supplycost = (
            SELECT min(ps2.ps_supplycost)
            FROM ps ps2
            JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
            JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
            JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
            WHERE ps2.ps_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
        ORDER BY 1 DESC, 3, 2, 4 LIMIT 100
      """)
    }),

    // TPC-H Q9 (product-type profit): the multi-fact rollup — lineitem
    // joined back to its own per-(part,supplier) cost aggregate plus
    // part/supplier/nation/orders, profit summed per (nation, year).
    // Profit is quantized to cents PER ROW before the sum, so the
    // group totals are order-independent integers (doubles summed in
    // shuffle order would be ulp-sensitive under cancellation — profit
    // mixes subtraction).
    "tpch_q9_product_profit" -> ((s, dir) => {
      tpchViews(s, dir)
      s.sql("""
        WITH ps AS (
          SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                 min(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                   AS ps_supplycost
          FROM lineitem GROUP BY 1, 2)
        SELECT n.n_name AS nation,
               CAST(extract(year FROM o.o_orderdate) AS BIGINT) AS o_year,
               CAST(sum(CAST(floor((l.l_extendedprice * (1 - l.l_discount) -
                   (CAST(ps.ps_supplycost AS DOUBLE) / 100) * l.l_quantity)
                   * 100 + 0.5) AS BIGINT)) AS BIGINT) AS profit_cents
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN ps ON ps.ps_partkey = l.l_partkey AND ps.ps_suppkey = l.l_suppkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE p.p_name LIKE '%red%'
        GROUP BY 1, 2
      """)
    }),

    // TPC-H Q11 (important stock): HAVING over an uncorrelated scalar
    // subquery — the group filter compares each part's value against a
    // fraction of the SAME scoped aggregate, so the scoped relation is
    // computed once and the threshold broadcasts as a one-row
    // subquery result. value := supplycost_cents × line count
    // (integral, exact).
    "tpch_q11_important_stock" -> ((s, dir) => {
      tpchViews(s, dir)
      s.sql("""
        WITH ps AS (
          SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                 min(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                   AS ps_supplycost,
                 count(*) AS ps_nlines
          FROM lineitem GROUP BY 1, 2),
        scoped AS (
          SELECT ps.ps_partkey, ps.ps_supplycost * ps.ps_nlines AS value
          FROM ps JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
          JOIN nation n ON n.n_nationkey = s.s_nationkey
          JOIN region r ON r.r_regionkey = n.n_regionkey
          WHERE r.r_name = 'EUROPE')
        SELECT ps_partkey, CAST(sum(value) AS BIGINT) AS part_value
        FROM scoped GROUP BY ps_partkey
        HAVING sum(value) > (SELECT CAST(sum(value) AS DOUBLE) * 0.001
                             FROM scoped)
      """)
    }),

    // TPC-H Q16 (parts/supplier relationship): NOT IN subquery (the
    // null-aware anti join — here over non-null keys, so it plans as
    // a plain anti join) + count(DISTINCT) per (brand, type, size)
    // over the distinct (part, supplier) relationship set.
    "tpch_q16_supplier_cnt" -> ((s, dir) => {
      tpchViews(s, dir)
      s.sql("""
        WITH ps AS (
          SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
          FROM lineitem)
        SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
               CAST(count(DISTINCT ps.ps_suppkey) AS BIGINT) AS supplier_cnt
        FROM ps JOIN part p ON p.p_partkey = ps.ps_partkey
        WHERE p.p_brand <> 'Brand#3'
          AND p.p_type NOT IN ('PROMO', 'ECONOMY')
          AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
          AND ps.ps_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3
      """)
    }),

    // TPC-H Q20 (excess stock): the nested semi-join chain — supplier
    // IN (ps pairs whose part IN (red parts) AND whose max line
    // quantity exceeds 1.5× that pair's 1997 shipped volume). The
    // correlated SUM decorrelates to a per-pair aggregate left-joined
    // back; a pair with NO 1997 lines yields NULL and fails the
    // comparison on both engines (the TPC-H empty-group semantics).
    // availqty := max line quantity per pair; 1.5× makes the boundary
    // bite (5 of 15 EUROPE suppliers excluded at sf0.01).
    "tpch_q20_excess_stock" -> ((s, dir) => {
      tpchViews(s, dir)
      s.sql("""
        WITH ps AS (
          SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                 CAST(max(l_quantity) AS DOUBLE) AS ps_availqty
          FROM lineitem GROUP BY 1, 2)
        SELECT s.s_name, n.n_name
        FROM supplier s
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
          AND s.s_suppkey IN (
            SELECT ps.ps_suppkey FROM ps
            WHERE ps.ps_partkey IN (
                SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
              AND ps.ps_availqty > (
                SELECT 1.5 * sum(l.l_quantity) FROM lineitem l
                WHERE l.l_partkey = ps.ps_partkey
                  AND l.l_suppkey = ps.ps_suppkey
                  AND l.l_shipdate >= TIMESTAMP '1997-01-01'
                  AND l.l_shipdate < TIMESTAMP '1998-01-01'))
      """)
    }),

    // D7 — schema tests compiled to violation counts
    // (reference models/staging/schema.yml, models_demo/schema.yml)
    // A14 — correlated EXISTS / NOT EXISTS subqueries (native Spark SQL;
    // Catalyst rewrites them to a left-semi + left-anti join pair)
    "a14_exists_subquery" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      t(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql("""
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'O')
          AND NOT EXISTS (SELECT 1 FROM orders o2
                          WHERE o2.o_custkey = c.c_custkey
                            AND o2.o_orderstatus = 'F')
      """)
    }),

    // W4 — RANGE frame (value-based sliding window): per customer, the
    // trailing-30-day order total/count. RANGE frames include peer rows,
    // so the result is deterministic under date ties (contrast ROWS).
    "w4_range_frame" -> ((s, dir) => {
      val ordDay = datediff(col("o_orderdate"), lit("1992-01-01"))
      val w = Window.partitionBy("o_custkey").orderBy(col("ord_day"))
        .rangeBetween(-30, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          ordDay.cast("long").as("ord_day"), col("o_totalprice"))
        .select(col("o_orderkey"), col("o_custkey"), col("ord_day"),
          roundDet(sum(col("o_totalprice")).over(w), 2).as("sum_30d"),
          count(lit(1)).over(w).cast("long").as("n_30d"))
    }),

    // D8 (beyond-reference: the reference's snapshots/ dir is empty) —
    // dbt snapshot SCD2, timestamp strategy, driven through TWO
    // deliveries: the per-user current state as of a mid-data cut, then
    // the final state. The oracle recomputes the same two states and
    // derives the SCD2 table as union + lead() close-out — equivalent
    // to sequential applyBatch for one-version-per-delivery inputs.
    // Event times are second-truncated BEFORE snapshotting (file-header
    // determinism rule) and rank-1 state selection tie-breaks on
    // event_id in both engines.
    "d8_snapshot_scd2" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(col("user_id"),
        col("event_type"), col("value"),
        date_trunc("second", col("ts")).as("updated_at"), col("event_id"))
      def stateAt(cond: org.apache.spark.sql.Column): DataFrame = {
        val w = Window.partitionBy("user_id")
          .orderBy(col("updated_at").desc, col("event_id").desc)
        e.filter(cond).withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1)
          .select("user_id", "event_type", "value", "updated_at")
      }
      val cut = lit("2024-01-10 00:00:00").cast("timestamp")
      val snap1 = graft.dbt.Snapshots.applyBatch(None,
        stateAt(col("updated_at") < cut), "user_id", "updated_at")
      val snap2 = graft.dbt.Snapshots.applyBatch(Some(snap1),
        stateAt(lit(true)), "user_id", "updated_at")
      snap2.select(col("user_id"), col("event_type"), col("value"),
        col("dbt_valid_from"), col("dbt_valid_to"))
    }),

    "d7_schema_tests" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val cust = t(s, dir, "customer")
      // the two row-level tests on orders fuse into ONE scan+aggregate
      // (the shape a test runner wants at scale: all per-row predicates
      // of a table in a single pass), then unpivot to (test, violations)
      val rowLevel = orders.agg(
          count(when(col("o_orderkey").isNull, 1)).as("nn"),
          count(when(col("o_orderstatus").isNotNull &&
            !col("o_orderstatus").isin("F", "O", "P"), 1)).as("av"))
        .select(explode(map(
          lit("not_null_orders_o_orderkey"), col("nn"),
          lit("accepted_values_o_orderstatus"), col("av")))
          .as(Seq("test_name", "violations")))
      val unique = orders.groupBy(col("o_orderkey")).count()
        .filter(col("count") > 1)
        .agg(count(lit(1)).as("violations"))
        .select(lit("unique_orders_o_orderkey").as("test_name"), col("violations"))
      val relationships = li.select(col("l_orderkey"))
        .join(orders.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("violations"))
        .select(lit("relationships_lineitem_orders").as("test_name"), col("violations"))
      val fkCust = orders.select(col("o_custkey"))
        .join(cust.select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("violations"))
        .select(lit("relationships_orders_customer").as("test_name"), col("violations"))
      rowLevel.union(unique).union(relationships).union(fkCust)
    })
  )

  val oracles: Map[String, String] = Map(
    // per-line winner: run 1 (+qty) iff the line shipped early, else
    // run 2's re-delivery (−qty) — composite-key dedup recomputed
    // sequential two-run twin (the x_incremental_dedup discipline —
    // see BASELINE.md): run-1 materialization, then run-2 admission
    // anti-joined against it, not a one-shot CASE fold
    "p6_incremental_composite" ->
      """WITH base AS (
           SELECT l_orderkey % 211 AS k1, l_linenumber AS k2,
             sum(l_quantity) AS qty, min(l_shipdate) AS first_ship
           FROM lineitem WHERE l_orderkey % 8 = 0 GROUP BY 1, 2),
         run1 AS (
           SELECT k1, k2, qty FROM base
           WHERE first_ship < TIMESTAMP '1997-01-01'),
         run2 AS (SELECT k1, k2, -qty AS qty FROM base),
         adm2 AS (
           SELECT r2.k1, r2.k2, r2.qty
           FROM run2 r2 LEFT JOIN run1 r1
             ON r1.k1 = r2.k1 AND r1.k2 = r2.k2
           WHERE r1.k1 IS NULL)
         SELECT k1, k2, qty FROM run1
         UNION ALL SELECT k1, k2, qty FROM adm2""",

    // salting must be invisible in the result: plain join, same rows
    "x_zorder_key" -> {
      val interleave = (0 until 8).map(i =>
        s"(((b0 >> $i) & 1) << ${2 * i}) | (((b1 >> $i) & 1) << ${2 * i + 1})")
        .mkString(" | ")
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
         b AS (SELECT min(user_id) AS umin, max(user_id) AS umax,
                      min(ts_us) AS tmin, max(ts_us) AS tmax FROM e),
         k AS (SELECT user_id, ts_us,
                 (user_id - umin) * 256 // (umax - umin + 1) AS b0,
                 (ts_us - tmin) * 256 // (tmax - tmin + 1) AS b1
               FROM e, b),
         z AS (SELECT user_id, ts_us, ($interleave) AS zkey FROM k)
         SELECT zkey >> 10 AS zbucket, count(*)::BIGINT AS n,
           min(user_id) AS min_user, max(user_id) AS max_user,
           min(ts_us) AS min_ts, max(ts_us) AS max_ts
         FROM z GROUP BY 1"""
    },

    "x_skew_join" ->
      """WITH fact AS (SELECT CASE WHEN l_orderkey % 10 < 3 THEN 0
                  ELSE l_orderkey % 97 END AS key, l_quantity
           FROM lineitem),
         dim AS (SELECT i AS key, i * 7 + 3 AS dim_val FROM range(0, 97) r(i))
         SELECT f.key, d.dim_val, count(*)::BIGINT AS n,
                sum(l_quantity) AS sum_qty
         FROM fact f JOIN dim d USING (key) GROUP BY 1, 2""",

    "p1_project_rename" ->
      """SELECT l_orderkey AS order_key, l_linenumber::BIGINT AS line_no,
         l_quantity AS qty, l_returnflag AS return_flag FROM lineitem""",

    "p2_computed_columns" ->
      """SELECT o_orderkey, o_orderdate::DATE AS order_date,
         extract(year FROM o_orderdate)::BIGINT AS order_year,
         strftime(o_orderdate, '%Y%m%d') AS date_int,
         floor(o_totalprice * 100 + 0.5) / 100 AS price_r FROM orders""",

    "p4_null_drop" ->
      """SELECT doc_id, nullif(lang, 'en') AS lang_nn FROM documents
         WHERE nullif(lang, 'en') IS NOT NULL""",

    "p7_casts" ->
      """SELECT p_partkey, p_size::DOUBLE AS size_d, p_size::VARCHAR AS size_s,
         try_cast(p_brand AS DOUBLE) AS brand_num FROM part""",

    "w1_latest_per_key" ->
      """SELECT user_id, event_id, date_trunc('second', ts) AS ts_s, event_type
         FROM (SELECT *, row_number() OVER
                 (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
               FROM events) WHERE rn = 1""",

    "p6_incremental_anti_join" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         WHERE o_orderkey NOT IN
           (SELECT o_orderkey FROM orders WHERE o_orderdate < DATE '1998-01-01')""",

    "j1_left_join_enrich" ->
      """SELECT o.o_orderkey, coalesce(c.c_mktsegment, 'UNKNOWN') AS segment
         FROM orders o LEFT JOIN
           (SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 5000) c
         ON o.o_custkey = c.c_custkey""",

    "j2_join_agg_mart" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n_lines,
         floor(sum(l_extendedprice * (1.0 - l_discount)) * 100 + 0.5) / 100 AS revenue,
         floor(avg(l_quantity) * 10000 + 0.5) / 10000 AS avg_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority""",

    "j3_customers_order_stats" ->
      """SELECT c_custkey, c_name, first_order, most_recent_order,
         coalesce(number_of_orders, 0)::BIGINT AS number_of_orders
         FROM customer LEFT JOIN
           (SELECT o_custkey, min(o_orderdate::DATE) AS first_order,
                   max(o_orderdate::DATE) AS most_recent_order,
                   count(o_orderkey)::BIGINT AS number_of_orders
            FROM orders GROUP BY o_custkey) ON c_custkey = o_custkey""",

    "g1_explode_tokens" ->
      """SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents""",

    "g3_dim_date" ->
      """WITH b AS (SELECT min(o_orderdate)::DATE AS lo, max(o_orderdate)::DATE AS hi
                    FROM orders),
         days AS (SELECT unnest(generate_series(lo::TIMESTAMP, hi::TIMESTAMP,
                    INTERVAL 1 DAY)) AS d FROM b)
         SELECT d::DATE AS date_key,
           extract(year FROM d)::BIGINT AS year,
           extract(month FROM d)::BIGINT AS month,
           extract(day FROM d)::BIGINT AS day,
           (extract(dow FROM d) + 1)::BIGINT AS day_of_week,
           strftime(d, '%Y%m%d') AS date_int
         FROM days""",

    "a1_grouped_ratio" ->
      """SELECT l_returnflag, l_linestatus,
         sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END)::BIGINT AS n_high,
         count(*)::BIGINT AS n_total,
         floor(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END)::DOUBLE
               / count(*)::DOUBLE * 1000000 + 0.5) / 1000000 AS high_ratio
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",

    "a2_countif" ->
      """SELECT event_type, count(*)::BIGINT AS n,
         sum(CASE WHEN value > 100 THEN 1 ELSE 0 END)::BIGINT AS n_high,
         sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_even_user,
         floor(sum(CASE WHEN value > 100 THEN 1 ELSE 0 END)::DOUBLE
               / count(*)::DOUBLE * 1000 + 0.5) / 1000 AS high_ratio
         FROM events GROUP BY event_type""",

    "a3_trip_metrics" ->
      """SELECT o_orderdate::DATE AS order_date, o_orderpriority,
         count(*)::BIGINT AS n_orders,
         floor(avg(o_totalprice) * 100 + 0.5) / 100 AS avg_price,
         sum(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END)::BIGINT AS n_open
         FROM orders GROUP BY 1, 2""",

    "a5_group_by_ordinal" ->
      "SELECT p_brand, p_type, p_size::BIGINT AS p_size FROM part GROUP BY 1, 2, 3",

    "a6_distinct" ->
      "SELECT DISTINCT p_brand, p_type FROM part",

    "a7_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_orderdate >= coalesce(
           (SELECT max(o_orderdate) FROM orders WHERE o_orderstatus = 'X'),
           TIMESTAMP '2000-01-01 00:00:00')""",

    "a8_event_dedup" ->
      """SELECT user_id, date_trunc('second', ts) AS ts_s,
         min(event_id) AS event_id, count(*)::BIGINT AS n_in_key
         FROM events GROUP BY 1, 2""",

    "f_md5_surrogate_key" ->
      """SELECT o_orderkey,
         md5(o_orderkey::VARCHAR || o_orderstatus || (o_orderdate::DATE)::VARCHAR)
           AS order_sk FROM orders""",

    "f_datetime" ->
      """SELECT event_id, floor(epoch(ts))::BIGINT AS epoch_s,
         date_trunc('hour', ts) AS ts_hour, ts::DATE AS ts_day,
         to_timestamp(floor(epoch(ts))::BIGINT)::TIMESTAMP AS ts_roundtrip
         FROM events""",

    "f_json_extract" ->
      """SELECT event_id, json_extract_string(props, '$.k') AS k_str,
         json_extract_string(props, '$.k')::BIGINT AS k_num,
         json_extract_string(props, '$.missing') AS absent FROM events""",

    "g2_json_array_explode" ->
      """SELECT doc_id, unnest(from_json(
           ('{"tags": ["' || lang || '", "' || source || '"]}')::JSON -> '$.tags',
           '["VARCHAR"]')) AS tag FROM documents""",

    "p3_struct_star" ->
      "SELECT event_id, user_id AS u, event_type AS t FROM events",

    "st_tumbling_window" ->
      """SELECT date_trunc('hour', ts) AS window_start,
         date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
         event_type, count(*)::BIGINT AS n,
         floor(sum(value) * 100 + 0.5) / 100 AS sum_value
         FROM events GROUP BY 1, 2, 3""",

    "st_session_window" ->
      """WITH flagged AS (
           SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         sessions AS (
           SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM flagged)
         SELECT user_id,
           date_trunc('second', min(ts)) AS session_start,
           date_trunc('second', max(ts) + INTERVAL 30 MINUTE) AS session_end,
           count(*)::BIGINT AS n_events,
           floor(sum(value) * 100 + 0.5) / 100 AS sum_value
         FROM sessions GROUP BY user_id, sid""",

    "st_hopping_window" ->
      """SELECT ws AS window_start, ws + INTERVAL 1 HOUR AS window_end,
         event_type, count(*)::BIGINT AS n
         FROM (SELECT event_type,
                 unnest([time_bucket(INTERVAL 30 MINUTES, ts),
                         time_bucket(INTERVAL 30 MINUTES, ts)
                           - INTERVAL 30 MINUTES]) AS ws
               FROM events)
         GROUP BY 1, 2, 3""",

    // first-principles twin of the envelope round-trip: tick v decodes
    // to station 'st'||(v%8), bikes v%20, report−updated = v
    // lag-window reduction of the batch-mode compaction: first sight
    // per station emits NULL prev; later rows emit iff the value moved
    "st_change_compaction" ->
      """WITH ticks AS (
           SELECT 's' || (user_id % 16)::VARCHAR AS station_id,
             (event_id % 4)::BIGINT AS num_bikes, ts
           FROM events),
         w AS (
           SELECT station_id, num_bikes, ts,
             lag(num_bikes) OVER (PARTITION BY station_id
               ORDER BY ts, num_bikes) AS prev_bikes
           FROM ticks)
         SELECT station_id, num_bikes, prev_bikes, ts
         FROM w WHERE prev_bikes IS NULL OR prev_bikes <> num_bikes""",

    "st_rate_intake" ->
      """SELECT (v // 97)::BIGINT AS batch_id, count(*)::BIGINT AS n_admitted,
         count(DISTINCT v % 8)::BIGINT AS n_stations,
         sum(v % 20)::BIGINT AS sum_bikes,
         count(*) <= 97 AS within_cap
         FROM (SELECT unnest(range(0, 5000))::BIGINT AS v) GROUP BY 1""",

    "f_date_arith" ->
      """SELECT o_orderkey,
         (o_orderdate::DATE + INTERVAL 3 MONTH)::DATE AS plus_3m,
         (o_orderdate::DATE + INTERVAL 30 DAY)::DATE AS plus_30d,
         date_diff('day', DATE '1995-01-01', o_orderdate::DATE)::BIGINT
           AS days_since_epoch_start
         FROM orders""",

    "f_to_json" ->
      """SELECT event_id,
         to_json(struct_pack(event_id := event_id, event_type := event_type))::VARCHAR
           AS js FROM events""",

    "a12_set_ops" ->
      """WITH y95 AS (SELECT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '1995-01-01'
             AND o_orderdate < TIMESTAMP '1996-01-01'),
         y96 AS (SELECT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate < TIMESTAMP '1997-01-01')
         SELECT o_custkey, 'both' AS set_op FROM (
           SELECT o_custkey FROM y95 INTERSECT SELECT o_custkey FROM y96)
         UNION ALL
         SELECT o_custkey, 'only_1995' FROM (
           SELECT o_custkey FROM y95 EXCEPT SELECT o_custkey FROM y96)
         UNION ALL
         SELECT o_custkey, 'only_1996' FROM (
           SELECT o_custkey FROM y96 EXCEPT SELECT o_custkey FROM y95)""",

    "a13_pivot" ->
      """SELECT user_id,
         count(*) FILTER (WHERE event_type = 'signup')::BIGINT AS n_signup,
         count(*) FILTER (WHERE event_type = 'click')::BIGINT AS n_click,
         count(*) FILTER (WHERE event_type = 'view')::BIGINT AS n_view,
         count(*) FILTER (WHERE event_type = 'purchase')::BIGINT AS n_purchase,
         count(*) FILTER (WHERE event_type = 'error')::BIGINT AS n_error
         FROM events GROUP BY 1""",

    "a15_cube" ->
      """SELECT l_returnflag, l_linestatus,
         GROUPING(l_returnflag, l_linestatus)::BIGINT AS gid,
         count(*)::BIGINT AS n,
         floor(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",

    "j9_nullsafe_join" ->
      """WITH c AS (SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_nationkey END AS nk
           FROM customer),
         su AS (SELECT s_suppkey,
             CASE WHEN s_suppkey % 5 = 0 THEN NULL ELSE s_nationkey END AS nk2
           FROM supplier)
         SELECT coalesce(nk::VARCHAR, 'NULL') AS nation_key,
           count(*)::BIGINT AS n_pairs,
           count(DISTINCT c_custkey)::BIGINT AS n_customers,
           count(DISTINCT s_suppkey)::BIGINT AS n_suppliers
         FROM c JOIN su ON c.nk IS NOT DISTINCT FROM su.nk2
         GROUP BY 1""",

    "a11_rollup" ->
      """SELECT l_returnflag, l_linestatus,
         GROUPING(l_returnflag, l_linestatus)::BIGINT AS gid,
         count(*)::BIGINT AS n,
         floor(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",

    "w3_window_funcs" ->
      """SELECT o_orderkey, o_custkey,
         lag(o_orderkey, 1) OVER w AS prev_order,
         lead(o_orderkey, 1) OVER w AS next_order,
         rank() OVER w AS rnk,
         dense_rank() OVER w AS drnk,
         (ntile(4) OVER w)::BIGINT AS quartile,
         floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000 AS pct_rank,
         floor(cume_dist() OVER w * 1000000 + 0.5) / 1000000 AS cum_dist,
         floor(first_value(o_totalprice) OVER wr * 100 + 0.5) / 100
           AS first_price,
         floor(sum(o_totalprice) OVER wr * 100 + 0.5) / 100 AS run_total
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           wr AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",

    "j7_asof_join" ->
      """WITH l AS (SELECT * FROM events WHERE event_type = 'purchase'),
         r AS (SELECT * FROM events WHERE event_type = 'view')
         SELECT l.event_id, l.user_id,
           date_trunc('second', l.ts) AS purchase_ts,
           date_trunc('second', r.ts) AS view_ts,
           r.value AS view_value
         FROM l ASOF LEFT JOIN r
           ON l.user_id = r.user_id AND l.ts >= r.ts""",

    "j8_range_join" ->
      """SELECT p.event_id AS purchase_id, count(*)::BIGINT AS n_clicks_1h
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON c.user_id = p.user_id
          AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
         GROUP BY 1""",

    "w2_sessionize" ->
      """WITH flagged AS (
           SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts - lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END
               AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sessions AS (
           SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
               AS session_id
           FROM flagged)
         SELECT user_id, session_id, count(*)::BIGINT AS n_events,
           date_trunc('second', min(ts)) AS session_start,
           date_trunc('second', max(ts)) AS session_end
         FROM sessions GROUP BY 1, 2""",

    "a9_vocab_topk" ->
      """WITH counts AS (
           SELECT unnest(string_split(text, ' ')) AS word FROM documents),
         agg AS (SELECT word, count(*)::BIGINT AS n FROM counts GROUP BY 1)
         SELECT word, n, rank FROM (
           SELECT word, n,
             row_number() OVER (ORDER BY n DESC, word ASC)::BIGINT AS rank
           FROM agg) WHERE rank <= 20""",

    "a10_funnel" ->
      """SELECT user_id,
         date_trunc('microseconds',
           min(ts) FILTER (WHERE event_type = 'signup')) AS first_signup,
         date_trunc('microseconds',
           min(ts) FILTER (WHERE event_type = 'purchase')) AS first_purchase,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
           AS n_purchases,
         coalesce(min(ts) FILTER (WHERE event_type = 'signup') <
           min(ts) FILTER (WHERE event_type = 'purchase'), false) AS converted
         FROM events GROUP BY 1""",

    "tpch_q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         floor(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty,
         floor(sum(l_extendedprice) * 100 + 0.5) / 100 AS sum_base_price,
         floor(sum(l_extendedprice * (1.0 - l_discount)) * 100 + 0.5) / 100
           AS sum_disc_price,
         floor(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax))
           * 100 + 0.5) / 100 AS sum_charge,
         floor(avg(l_quantity) * 10000 + 0.5) / 10000 AS avg_qty,
         floor(avg(l_extendedprice) * 10000 + 0.5) / 10000 AS avg_price,
         floor(avg(l_discount) * 10000 + 0.5) / 10000 AS avg_disc,
         count(*)::BIGINT AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         GROUP BY 1, 2""",

    "tpch_q3_top_revenue" ->
      """SELECT l_orderkey, o_orderdate::DATE AS o_orderdate,
         floor(sum(l_extendedprice * (1.0 - l_discount)) * 100 + 0.5) / 100
           AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-03-15'
           AND l_shipdate > TIMESTAMP '1998-03-15'
         GROUP BY 1, 2
         ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""",

    "tpch_q4_order_priority" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS order_count
         FROM orders o
         WHERE o_orderdate >= TIMESTAMP '1996-07-01'
           AND o_orderdate < TIMESTAMP '1996-10-01'
           AND EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_returnflag = 'R')
         GROUP BY 1""",

    "tpch_q5_local_volume" ->
      """SELECT n_name,
         floor(sum(l_extendedprice * (1.0 - l_discount)) * 100 + 0.5) / 100
           AS revenue
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN customer ON o_custkey = c_custkey AND s_nationkey = c_nationkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY 1""",

    "tpch_q6_revenue_delta" ->
      """SELECT floor(sum(l_extendedprice * l_discount) * 100 + 0.5) / 100
           AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
           AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""",

    "tpch_q7_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           extract(year FROM l_shipdate)::BIGINT AS l_year,
           floor(sum(l_extendedprice * (1.0 - l_discount)) * 100 + 0.5) / 100
             AS revenue
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
           AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
             OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
         GROUP BY 1, 2, 3""",

    "tpch_q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
           floor(sum(l_extendedprice * (1.0 - l_discount)) * 100 + 0.5) / 100
             AS revenue
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1996-10-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, c_custkey ASC LIMIT 20""",

    "tpch_q14_promo_revenue" ->
      """SELECT floor(100.0 *
           sum(CASE WHEN p_type = 'PROMO'
                    THEN l_extendedprice * (1.0 - l_discount)
                    ELSE 0.0 END) /
           sum(l_extendedprice * (1.0 - l_discount)) * 10000 + 0.5) / 10000
             AS promo_revenue
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         WHERE l_shipdate >= TIMESTAMP '1997-03-01'
           AND l_shipdate < TIMESTAMP '1997-04-01'""",

    "tpch_q19_disjunctive" ->
      """SELECT floor(sum(l_extendedprice * (1.0 - l_discount)) * 100 + 0.5)
             / 100 AS revenue
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
                AND l_quantity BETWEEN 1 AND 20)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 30
                AND l_quantity BETWEEN 5 AND 30)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
                AND l_quantity BETWEEN 10 AND 40)""",

    "tpch_q13_custdist" ->
      """WITH per_cust AS (
           SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count
           FROM customer c
           LEFT JOIN orders o ON o.o_custkey = c.c_custkey
             AND o.o_orderpriority <> '5-LOW'
           GROUP BY 1)
         SELECT c_count, count(*)::BIGINT AS custdist
         FROM per_cust GROUP BY 1""",

    "tpch_q15_top_supplier" ->
      """WITH rev AS (
           SELECT l_suppkey,
             floor(sum(l_extendedprice * (1.0 - l_discount)) * 100 + 0.5)
               / 100 AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             AND l_shipdate < TIMESTAMP '1997-04-01'
           GROUP BY 1)
         SELECT s.s_suppkey, s.s_name, r.total_revenue
         FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
         WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)""",

    "tpch_q21_waiting_supplier" ->
      """SELECT s.s_name, count(*)::BIGINT AS numwait
         FROM supplier s
         JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
           AND l1.l_returnflag = 'R'
         JOIN orders o ON o.o_orderkey = l1.l_orderkey
           AND o.o_orderstatus = 'F'
         WHERE EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_returnflag = 'R')
         GROUP BY 1
         ORDER BY numwait DESC, s.s_name ASC
         LIMIT 20""",


    "tpch_q8_market_share" ->
      """SELECT extract(year FROM o_orderdate)::BIGINT AS o_year,
           floor(sum(CASE WHEN sn.n_name = 'NATION_18'
                          THEN l_extendedprice * (1.0 - l_discount)
                          ELSE 0.0 END)
             / sum(l_extendedprice * (1.0 - l_discount)) * 10000 + 0.5)
             / 10000 AS mkt_share
         FROM lineitem l
         JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'ECONOMY'
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation sn ON s.s_nationkey = sn.n_nationkey
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation cn ON c.c_nationkey = cn.n_nationkey
         JOIN region rg ON cn.n_regionkey = rg.r_regionkey
           AND rg.r_name = 'ASIA'
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY 1""",

    "tpch_q12_priority_lines" ->
      """SELECT l_linestatus,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS high_count,
           sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS low_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_returnflag = 'R'
           AND l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
         GROUP BY 1""",

    "tpch_q17_small_qty_revenue" ->
      """SELECT floor(sum(l_extendedprice) / 7.0 * 100 + 0.5) / 100
             AS avg_yearly
         FROM lineitem l
         JOIN part p ON l.l_partkey = p.p_partkey
           AND p.p_brand = 'Brand#1' AND p.p_size <= 5
         WHERE l_quantity < 0.2 * (
           SELECT avg(l2.l_quantity) FROM lineitem l2
           JOIN part p2 ON l2.l_partkey = p2.p_partkey
             AND p2.p_brand = 'Brand#1' AND p2.p_size <= 5
           WHERE l2.l_partkey = l.l_partkey)""",

    "tpch_q18_large_orders" ->
      """WITH big AS (
           SELECT l_orderkey, sum(l_quantity) AS total_qty
           FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 220)
         SELECT c.c_name, c.c_custkey, o.o_orderkey,
           o.o_orderdate::DATE AS o_orderdate,
           floor(o.o_totalprice * 100 + 0.5) / 100 AS o_totalprice,
           b.total_qty
         FROM orders o
         JOIN big b ON o.o_orderkey = b.l_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey""",

    "tpch_q22_idle_balance" ->
      """SELECT c_nationkey::BIGINT AS cntrycode,
           count(*)::BIGINT AS numcust,
           floor(sum(round(c_acctbal * 100)) / 100.0 * 100 + 0.5) / 100
             AS totacctbal
         FROM customer c
         WHERE c_nationkey IN (1, 3, 5, 7, 9)
           AND round(c_acctbal * 100) > (
             SELECT avg(round(c_acctbal * 100)) FROM customer
             WHERE c_acctbal > 0 AND c_nationkey IN (1, 3, 5, 7, 9))
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderpriority = '1-URGENT')
         GROUP BY 1""",

    // Q2/Q9/Q11/Q16/Q20 oracles: byte-identical SQL to the Spark gates
    // modulo dialect (DuckDB floor returns DOUBLE where Spark's returns
    // BIGINT — the explicit CASTs make both sides integral at the same
    // points, so every derived measure is exact integer arithmetic).
    "tpch_q2_min_cost_supp" ->
      """WITH ps AS (
           SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                  min(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS ps_supplycost
           FROM lineitem GROUP BY 1, 2)
         SELECT floor(s.s_acctbal * 100 + 0.5) / 100 AS s_acctbal,
                s.s_name, n.n_name, p.p_partkey, p.p_name, ps.ps_supplycost
         FROM part p
         JOIN ps ON ps.ps_partkey = p.p_partkey
         JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
         JOIN nation n ON n.n_nationkey = s.s_nationkey
         JOIN region r ON r.r_regionkey = n.n_regionkey
         WHERE p.p_type = 'STANDARD' AND p.p_size <= 15 AND r.r_name = 'EUROPE'
           AND ps.ps_supplycost = (
             SELECT min(ps2.ps_supplycost)
             FROM ps ps2
             JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
             JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
             JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
             WHERE ps2.ps_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
         ORDER BY 1 DESC, 3, 2, 4 LIMIT 100""",

    "tpch_q9_product_profit" ->
      """WITH ps AS (
           SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                  min(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS ps_supplycost
           FROM lineitem GROUP BY 1, 2)
         SELECT n.n_name AS nation,
                CAST(extract(year FROM o.o_orderdate) AS BIGINT) AS o_year,
                CAST(sum(CAST(floor((l.l_extendedprice * (1 - l.l_discount) -
                    (CAST(ps.ps_supplycost AS DOUBLE) / 100) * l.l_quantity)
                    * 100 + 0.5) AS BIGINT)) AS BIGINT) AS profit_cents
         FROM lineitem l
         JOIN part p ON p.p_partkey = l.l_partkey
         JOIN ps ON ps.ps_partkey = l.l_partkey AND ps.ps_suppkey = l.l_suppkey
         JOIN supplier s ON s.s_suppkey = l.l_suppkey
         JOIN nation n ON n.n_nationkey = s.s_nationkey
         JOIN orders o ON o.o_orderkey = l.l_orderkey
         WHERE p.p_name LIKE '%red%'
         GROUP BY 1, 2""",

    "tpch_q11_important_stock" ->
      """WITH ps AS (
           SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                  min(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS ps_supplycost,
                  count(*) AS ps_nlines
           FROM lineitem GROUP BY 1, 2),
         scoped AS (
           SELECT ps.ps_partkey, ps.ps_supplycost * ps.ps_nlines AS value
           FROM ps JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
           JOIN nation n ON n.n_nationkey = s.s_nationkey
           JOIN region r ON r.r_regionkey = n.n_regionkey
           WHERE r.r_name = 'EUROPE')
         SELECT ps_partkey, CAST(sum(value) AS BIGINT) AS part_value
         FROM scoped GROUP BY ps_partkey
         HAVING sum(value) > (SELECT CAST(sum(value) AS DOUBLE) * 0.001
                              FROM scoped)""",

    "tpch_q16_supplier_cnt" ->
      """WITH ps AS (
           SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
           FROM lineitem)
         SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
                CAST(count(DISTINCT ps.ps_suppkey) AS BIGINT) AS supplier_cnt
         FROM ps JOIN part p ON p.p_partkey = ps.ps_partkey
         WHERE p.p_brand <> 'Brand#3'
           AND p.p_type NOT IN ('PROMO', 'ECONOMY')
           AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
           AND ps.ps_suppkey NOT IN (
             SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY 1, 2, 3""",

    "tpch_q20_excess_stock" ->
      """WITH ps AS (
           SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                  CAST(max(l_quantity) AS DOUBLE) AS ps_availqty
           FROM lineitem GROUP BY 1, 2)
         SELECT s.s_name, n.n_name
         FROM supplier s
         JOIN nation n ON n.n_nationkey = s.s_nationkey
         JOIN region r ON r.r_regionkey = n.n_regionkey
         WHERE r.r_name = 'EUROPE'
           AND s.s_suppkey IN (
             SELECT ps.ps_suppkey FROM ps
             WHERE ps.ps_partkey IN (
                 SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
               AND ps.ps_availqty > (
                 SELECT 1.5 * sum(l.l_quantity) FROM lineitem l
                 WHERE l.l_partkey = ps.ps_partkey
                   AND l.l_suppkey = ps.ps_suppkey
                   AND l.l_shipdate >= TIMESTAMP '1997-01-01'
                   AND l.l_shipdate < TIMESTAMP '1998-01-01'))""",

    "a14_exists_subquery" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_orderstatus = 'O')
           AND NOT EXISTS (SELECT 1 FROM orders o2
                           WHERE o2.o_custkey = c.c_custkey
                             AND o2.o_orderstatus = 'F')""",

    "w4_range_frame" ->
      """SELECT o_orderkey, o_custkey,
           date_diff('day', DATE '1992-01-01', o_orderdate::DATE)::BIGINT
             AS ord_day,
           floor(sum(o_totalprice) OVER w * 100 + 0.5) / 100 AS sum_30d,
           (count(*) OVER w)::BIGINT AS n_30d
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
           ORDER BY date_diff('day', DATE '1992-01-01', o_orderdate::DATE)
           RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)""",

    "d8_snapshot_scd2" ->
      """WITH e AS (SELECT user_id, event_type, value,
             date_trunc('second', ts) AS updated_at, event_id FROM events),
         s1 AS (SELECT user_id, event_type, value, updated_at FROM (
             SELECT e.*, row_number() OVER (PARTITION BY user_id
               ORDER BY updated_at DESC, event_id DESC) AS rn
             FROM e WHERE updated_at < TIMESTAMP '2024-01-10 00:00:00')
           WHERE rn = 1),
         s2 AS (SELECT user_id, event_type, value, updated_at FROM (
             SELECT e.*, row_number() OVER (PARTITION BY user_id
               ORDER BY updated_at DESC, event_id DESC) AS rn FROM e)
           WHERE rn = 1),
         states AS (
           SELECT * FROM s1
           UNION ALL
           SELECT s2.user_id, s2.event_type, s2.value, s2.updated_at
           FROM s2 LEFT JOIN s1 ON s1.user_id = s2.user_id
           WHERE s1.user_id IS NULL OR s2.updated_at > s1.updated_at)
         SELECT user_id, event_type, value, updated_at AS dbt_valid_from,
           lead(updated_at) OVER (PARTITION BY user_id ORDER BY updated_at)
             AS dbt_valid_to
         FROM states""",

    "d7_schema_tests" ->
      """SELECT 'not_null_orders_o_orderkey' AS test_name,
              count(*) FILTER (WHERE o_orderkey IS NULL)::BIGINT AS violations
         FROM orders
       UNION ALL
       SELECT 'unique_orders_o_orderkey', count(*)::BIGINT FROM
         (SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)
       UNION ALL
       SELECT 'accepted_values_o_orderstatus',
              count(*) FILTER (WHERE o_orderstatus IS NOT NULL
                AND o_orderstatus NOT IN ('F','O','P'))::BIGINT
         FROM orders
       UNION ALL
       SELECT 'relationships_lineitem_orders', count(*)::BIGINT FROM lineitem
         WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
       UNION ALL
       SELECT 'relationships_orders_customer', count(*)::BIGINT FROM orders
         WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)"""
  )
}

package graft.queries

import graft.ext.{Classifier, Dedup, GraphOps, Multimodal, Packing, Retrieval, Sampling, Similarity, TextAnalysis, Unigram, Urls}
import graft.ops.{Cdc, Normalize, PartitionKeys, Profiling, SemiJoins}
import graft.schema.TableSpec
import graft.streaming.EventsStream
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One catalog entry: the Spark query and (when ANSI-SQL-expressible)
  * the equivalent DuckDB oracle SQL over the same parquet tables.
  *
  * Oracle-parity conventions (the driver hash-compares values):
  *  - aggregate sums go through DECIMAL casts (exact arithmetic) and the
  *    final value is cast to an explicit DECIMAL(18,s) on BOTH sides;
  *  - timestamps are emitted as formatted strings (never raw timestamps:
  *    ns/µs and tz representation differ between engines);
  *  - doubles appear only where both engines execute the *identical*
  *    sequential arithmetic (int-derived divisions, pinned-order folds);
  *  - ints: Spark int32 ⇔ DuckDB CAST(... AS INT); keys/counts stay
  *    BIGINT.
  */
final case class Q(name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** The catalog: every query's Spark side and its DuckDB oracle.
  *
  * The fixture replay formulas the oracles share (the planted-duplicate
  * rule and media seed, the dHash grid and bits, the two-word bit pack
  * and Hamming pairs, the audio samples and energy bins, the pinned
  * double folds, tokenization, the snapshot family's rows, the PageRank
  * step) live only in the "oracle fragments" section, one string
  * builder each; an oracle calls the builder instead of spelling the
  * formula, so a fixture change is one edit. `OracleFragmentSpec`
  * fails when one of them reappears inline elsewhere in this file. */
object Catalog {

  /** Fixture-relation memo: one resolved DataFrame per (session,
    * fixture path). A bare `spark.read.parquet` re-lists the
    * directory, re-reads a footer for schema inference, and
    * re-analyzes the relation on EVERY call — pure metadata overhead
    * repeated hundreds of times across the catalog (the manifest-
    * backed-table argument of the optimization guide's §6, applied
    * to the fixture scans). The memo holds only the ANALYZED plan:
    * no data is cached, every action still computes from the parquet
    * bytes, and the fixtures are immutable for the life of a run.
    * Entries for STOPPED sessions are purged on the next lookup (a
    * weak-keyed map would not work here: the cached DataFrames hold
    * their session, so the value would pin the key forever). */
  private val tMemo =
    new java.util.HashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]()
  private def t(s: SparkSession, dir: String, n: String): DataFrame = {
    val per = tMemo.synchronized {
      tMemo.keySet.removeIf(k => k.sparkContext.isStopped)
      var m = tMemo.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        tMemo.put(s, m)
      }
      m
    }
    per.computeIfAbsent(s"$dir/$n.parquet",
      p => s.read.parquet(p))
  }

  /** events with `ts` canonicalized to epoch-nanosecond LONG, whatever
    * the fixture generation shipped (TIMESTAMP(NANOS) → raw long;
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) → TIMESTAMP_NTZ — see
    * [[graft.ops.Normalize.epochNanos]]). Every downstream query keeps
    * integral nanosecond arithmetic, and the DuckDB oracles' epoch_ns()
    * sees the same integers either way. */
  private def eventsNs(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    raw.withColumn("ts", graft.ops.Normalize.epochNanos(raw, "ts"))
  }

  /** eventsNs plus a TIMESTAMP ts_us column (oracle:
    * make_timestamp(epoch_ns(ts)//1000)). */
  private def events(s: SparkSession, dir: String): DataFrame =
    eventsNs(s, dir)
      .withColumn("ts_us", timestamp_micros(expr("ts div 1000")))

  private val dec2 = "decimal(18,2)"
  private val dec4 = "decimal(18,4)"

  // ---------------------------------------------------------------- core

  /** A2.1 TPC-H Q1-shaped pricing summary: filter → groupBy → 4 aggs.
    * Decimal-FIRST arithmetic: base columns are cast to decimal before
    * multiplying, because casting a double *product* to decimal rounds
    * differently across engines (Spark rounds the shortest-repr string,
    * DuckDB rints the scaled binary) — decimal×decimal is exact in both.
    * Final decimals are emitted as STRINGS (fixed-scale render is
    * identical in both engines; the driver's reader is not guaranteed to
    * canonicalize decimal vs float representations the same way). */
  private val q01 = Q("q01_pricing_summary",
    (s, dir) => {
      val price = col("l_extendedprice").cast("decimal(12,2)")
      val discF = lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")
      val taxF = lit(1).cast("decimal(4,2)") + col("l_tax").cast("decimal(4,2)")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < to_timestamp(lit("2000-01-01")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(dec2)).cast(dec2).cast("string").as("sum_qty"),
          sum(col("l_extendedprice").cast(dec2)).cast(dec2).cast("string").as("sum_base_price"),
          sum(price * discF).cast("decimal(24,4)").cast("string").as("sum_disc_price"),
          sum(price * discF * taxF).cast("decimal(24,6)").cast("string").as("sum_charge"),
          count(lit(1)).as("count_order"))
    },
    Some("""SELECT l_returnflag, l_linestatus,
      CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) AS sum_qty,
      CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) AS sum_base_price,
      CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DECIMAL(24,4)) AS VARCHAR) AS sum_disc_price,
      CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
        * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DECIMAL(24,6)) AS VARCHAR) AS sum_charge,
      count(*) AS count_order
      FROM lineitem WHERE l_shipdate < TIMESTAMP '2000-01-01'
      GROUP BY l_returnflag, l_linestatus"""))

  /** P1/P2 projection + pushed predicates (scan reads 5 of 11 cols). */
  private val q02 = Q("q02_filter_project",
    (s, dir) => t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01"))
        && col("l_shipdate") < to_timestamp(lit("1997-01-01"))
        && col("l_discount") >= 0.05 && col("l_quantity") < 24.0)
      .select(col("l_orderkey"), col("l_linenumber"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"),
        col("l_returnflag")),
    Some("""SELECT l_orderkey, l_linenumber,
      strftime(l_shipdate, '%Y-%m-%d') AS ship_date, l_returnflag
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount >= 0.05 AND l_quantity < 24.0"""))

  /** J1 2-way watermarked semi-join (gluejob.py:548-556 shape). */
  private val q03 = Q("q03_semijoin_2way",
    (s, dir) => {
      val wm = to_timestamp(lit("1999-01-01 00:00:00"))
      val parents = t(s, dir, "orders").filter(col("o_orderdate") >= wm)
      SemiJoins.semiJoinChain(t(s, dir, "lineitem"),
        Seq(("l_orderkey", parents, "o_orderkey")))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast(dec2).cast("string").as("quantity"),
          col("l_returnflag"))
    },
    Some("""SELECT l_orderkey, l_linenumber,
      CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR) AS quantity, l_returnflag
      FROM lineitem WHERE l_orderkey IN (
        SELECT o_orderkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')"""))

  /** J2 3-way chain: lineitem ⋈ orders ⋈ customer (gluejob.py:558-567). */
  private val q04 = Q("q04_semijoin_3way",
    (s, dir) => {
      val wm = to_timestamp(lit("1998-01-01 00:00:00"))
      val cust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val ords = t(s, dir, "orders").filter(col("o_orderdate") >= wm)
      SemiJoins.semiJoinChain(t(s, dir, "lineitem"),
        Seq(("l_orderkey", ords, "o_orderkey"),
          ("o_custkey", cust, "c_custkey")))
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
    },
    Some("""SELECT l_orderkey, l_partkey, l_linenumber
      FROM lineitem WHERE l_orderkey IN (
        SELECT o_orderkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
          AND o_custkey IN (
            SELECT c_custkey FROM customer
            WHERE c_mktsegment = 'BUILDING'))"""))

  /** J3 deep chain: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region
    * (gluejob.py:569-579 shape, one hop deeper). */
  private val q05 = Q("q05_semijoin_4way",
    (s, dir) => {
      val wm = to_timestamp(lit("1997-01-01 00:00:00"))
      val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val nation = t(s, dir, "nation")
      val cust = t(s, dir, "customer")
      val ords = t(s, dir, "orders").filter(col("o_orderdate") >= wm)
      SemiJoins.semiJoinChain(t(s, dir, "lineitem"),
        Seq(("l_orderkey", ords, "o_orderkey"),
          ("o_custkey", cust, "c_custkey"),
          ("c_nationkey", nation, "n_nationkey"),
          ("n_regionkey", region, "r_regionkey")))
        .select(col("l_orderkey"), col("l_suppkey"), col("l_linenumber"))
    },
    Some("""SELECT l_orderkey, l_suppkey, l_linenumber
      FROM lineitem WHERE l_orderkey IN (
        SELECT o_orderkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_custkey IN (SELECT c_custkey FROM customer
            WHERE c_nationkey IN (SELECT n_nationkey FROM nation
              WHERE n_regionkey IN (SELECT r_regionkey FROM region
                WHERE r_name = 'ASIA'))))"""))

  /** F1 boolean canonicalization truth table over a derived column
    * (gluejob.py:16-28): six mapped spellings + pass-through. */
  private val q06 = Q("q06_bool_canon",
    (s, dir) => {
      val spellings = Seq("True", "False", "t", "f", "true", "false", "yes")
      val raw = element_at(array(spellings.map(lit): _*),
        (col("event_id") % 7 + 1).cast("int"))
      eventsNs(s, dir).select(col("event_id"), raw.as("flag_raw"),
        Normalize.boolCanon(raw).as("flag"))
    },
    Some("""SELECT event_id, raw AS flag_raw,
      CASE WHEN raw IN ('True','true','t') THEN 'true'
           WHEN raw IN ('False','false','f') THEN 'false'
           ELSE raw END AS flag
      FROM (SELECT event_id,
        ['True','False','t','f','true','false','yes'][CAST(event_id % 7 + 1 AS INT)] AS raw
        FROM events)"""))

  /** J4/A2 upsert precedence: new-batch beats old on the id, pinned by
    * an explicit priority window (gluejob.py:197-198, SURVEY §7.4.1). */
  private val q07 = Q("q07_upsert_dedup",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val newDf = o.filter(col("o_orderdate") >= to_timestamp(lit("1999-01-01")))
        .withColumn("src", lit("new"))
      val oldDf = o.filter(col("o_orderdate") < to_timestamp(lit("2000-01-01")))
        .withColumn("src", lit("old"))
      val w = Window.partitionBy(col("o_orderkey")).orderBy(col("src").asc)
      newDf.unionByName(oldDf)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderkey"), col("src"), col("o_orderstatus"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
    },
    Some("""SELECT o_orderkey, src, o_orderstatus, order_date FROM (
      SELECT u.*, row_number() OVER (PARTITION BY o_orderkey ORDER BY src ASC) rn
      FROM (
        SELECT o_orderkey, 'new' AS src, o_orderstatus,
          strftime(o_orderdate, '%Y-%m-%d') AS order_date
        FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
        UNION ALL
        SELECT o_orderkey, 'old' AS src, o_orderstatus,
          strftime(o_orderdate, '%Y-%m-%d') AS order_date
        FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01') u) z
      WHERE rn = 1"""))

  /** A1/F4 storage-partition derivation: company/year/month + per-
    * partition counts (gluejob.py:183-188). */
  private val q08 = Q("q08_partition_derive",
    (s, dir) => PartitionKeys.withCompanyYearMonth(
        t(s, dir, "orders"), "o_orderdate")
      .groupBy(col("company"), col("year"), col("month"))
      .agg(count(lit(1)).as("n_rows")),
    Some("""SELECT 'Locaweb' AS company,
      CAST(year(o_orderdate) AS INT) AS year,
      CAST(month(o_orderdate) AS INT) AS month,
      count(*) AS n_rows
      FROM orders GROUP BY 1, 2, 3"""))

  /** §2.6 set op: union-all slices + anti-join dedup (J4 shape). */
  private val q09 = Q("q09_union_anti_dedup",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val a = o.filter(col("o_orderdate") >= to_timestamp(lit("1995-01-01"))
        && col("o_orderdate") < to_timestamp(lit("1997-01-01")))
      val b = o.filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01"))
        && col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      a.unionByName(b.join(a, Seq("o_orderkey"), "left_anti"))
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
    },
    Some("""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      UNION ALL
      SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date
      FROM orders o
      WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        AND o_orderkey NOT IN (SELECT o_orderkey FROM orders
          WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01')"""))

  /** §2.6 window: top-3 orders per customer (deterministic tie-break). */
  private val q10 = Q("q10_window_topk",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"),
          col("o_totalprice").cast(dec2).cast("string").as("price"))
    },
    Some("""SELECT o_custkey, o_orderkey, CAST(rn AS INT) AS rn,
      CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS price FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC) rn
        FROM orders) z WHERE rn <= 3"""))

  /** §2.6 global sort + limit (top-k by price). */
  private val q11 = Q("q11_sort_limit",
    (s, dir) => t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
      .select(col("o_orderkey"),
        col("o_totalprice").cast(dec2).cast("string").as("price")),
    Some("""SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS price
      FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100"""))

  /** §2.5 distinct aggregation. */
  private val q12 = Q("q12_distinct_agg",
    (s, dir) => t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(dec2)).cast(dec2).cast("string").as("sum_price")),
    Some("""SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust,
      count(*) AS n_orders,
      CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) AS sum_price
      FROM orders GROUP BY o_orderstatus"""))

  /** F2-F7 datetime function battery (gluejob.py:78-87, 182-186, 301). */
  private val q13 = Q("q13_datetime_funcs",
    (s, dir) => t(s, dir, "orders")
      .filter(col("o_orderkey") <= 500)
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_micro"),
        date_format(date_trunc("DAY", col("o_orderdate")),
          "yyyy-MM-dd HH:mm:ss").as("day_start"),
        date_format(col("o_orderdate") - expr("INTERVAL 1 DAY"),
          "yyyy-MM-dd HH:mm:ss").as("minus_1d"),
        year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m")),
    Some("""SELECT o_orderkey,
      strftime(o_orderdate, '%Y-%m-%d %H:%M:%S.%f') AS ts_micro,
      strftime(date_trunc('day', o_orderdate), '%Y-%m-%d %H:%M:%S') AS day_start,
      strftime(o_orderdate - INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS minus_1d,
      CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m
      FROM orders WHERE o_orderkey <= 500"""))

  /** F8 / multimodal-JSON: props JSON → typed extraction + agg. */
  private val q14 = Q("q14_json_extract",
    (s, dir) => eventsNs(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n")),
    Some("""SELECT event_type,
      CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      count(*) AS n
      FROM events GROUP BY event_type"""))

  /** P3/§2.8 watermark boundary `>=` re-read on the events stream table
    * (ns timestamps: integral ns→µs division on both sides). */
  private val q15 = Q("q15_watermark_boundary",
    (s, dir) => events(s, dir)
      .filter(col("ts_us") >= to_timestamp(lit("2024-01-15 00:00:00")))
      .select(col("event_id"),
        date_format(col("ts_us"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_text"),
        col("event_type")),
    Some("""SELECT event_id,
      strftime(make_timestamp(epoch_ns(ts) // 1000), '%Y-%m-%d %H:%M:%S.%f') AS ts_text,
      event_type
      FROM events
      WHERE make_timestamp(epoch_ns(ts) // 1000) >= TIMESTAMP '2024-01-15 00:00:00'"""))

  /** §2.5 rollup (grouping-sets family). */
  private val q16 = Q("q16_rollup",
    (s, dir) => t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast(dec2)).cast(dec2).cast("string").as("sum_qty"),
        count(lit(1)).as("n")),
    Some("""SELECT l_returnflag, l_linestatus,
      CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) AS sum_qty,
      count(*) AS n
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"""))

  /** Sessionization by inactivity gap (>1h) — lag window over event
    * time, the batch face of stateful streaming. */
  private val q17 = Q("q17_sessionize",
    (s, dir) => {
      val gapNs = 3600L * 1000000000L
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      eventsNs(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull
            || col("ts") - col("prev_ts") > gapNs, 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_sess")).as("n_sessions"),
          count(lit(1)).as("n_events"))
    },
    Some("""SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
      count(*) AS n_events FROM (
        SELECT user_id,
          CASE WHEN lag(epoch_ns(ts)) OVER
              (PARTITION BY user_id ORDER BY epoch_ns(ts) ASC, event_id ASC) IS NULL
            OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER
              (PARTITION BY user_id ORDER BY epoch_ns(ts) ASC, event_id ASC)
              > 3600000000000
          THEN 1 ELSE 0 END AS new_sess
        FROM events) z GROUP BY user_id"""))

  /** §2.1 stringly bronze normalization of a typed table (all-string
    * cast + canonical µs text on the date column). */
  private val q18 = Q("q18_bronze_cast",
    (s, dir) => {
      val spec = TableSpec("orders_bronze",
        columns = Seq("id", "status", "created_at"),
        idCol = "id", dateCol = "created_at")
      val src = t(s, dir, "orders").select(
        col("o_orderkey").as("id"), col("o_orderstatus").as("status"),
        col("o_orderdate").as("created_at"))
      Normalize.toBronze(src, spec)
    },
    Some("""SELECT CAST(o_orderkey AS VARCHAR) AS id,
      o_orderstatus AS status,
      strftime(o_orderdate, '%Y-%m-%d %H:%M:%S.%f') AS created_at
      FROM orders"""))

  /** §2.5 aggregate-function battery: min/max/count/distinct/avg
    * (avg as decimal-sum cast double over count — deterministic). */
  private val q33 = Q("q33_agg_battery",
    (s, dir) => t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        sum(col("l_quantity").cast(dec2)).cast(dec2).as("sum_qty"),
        count(lit(1)).as("n"),
        countDistinct(col("l_suppkey")).as("n_supp"))
      .withColumn("avg_qty",
        col("sum_qty").cast("double") / col("n"))
      .withColumn("sum_qty", col("sum_qty").cast("string")),
    Some("""SELECT l_returnflag, min(l_quantity) AS min_qty,
      max(l_quantity) AS max_qty,
      CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) AS sum_qty,
      count(*) AS n, count(DISTINCT l_suppkey) AS n_supp,
      CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE)
        / count(*) AS avg_qty
      FROM lineitem GROUP BY l_returnflag"""))

  /** §2.5 cube (full grouping-sets lattice over two dims). */
  private val q34 = Q("q34_cube",
    (s, dir) => t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(dec2)).cast(dec2).cast("string").as("sum_price")),
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) AS sum_price
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)"""))

  /** IVF coarse-quantizer ANN (nCells=16, nProbe=2) — the inverted-list
    * scale path beside LSH. Approximate → rows-only check. */
  private val q35 = Q("q35_ivf_ann",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb.filter(col("vec_id") < 50), emb,
        "vec_id", "embedding", k = 3, nCells = 16, nProbe = 2)
    },
    // Deterministic end to end (centroids = first 16 corpus vectors,
    // argmax assignment and probe ranking tie-broken by id, exact
    // cosine ranks) — the oracle replays the full IVF pipeline.
    Some(cosineOracleCte + s""",
      cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n
        ORDER BY vec_id ASC LIMIT 16),
      asg AS (SELECT n_id, v, nrm, cell FROM (
        SELECT n.vec_id AS n_id, n.v, n.nrm, cent.cent_id AS cell,
          $centroidRankSql AS cr
        FROM n CROSS JOIN cent) z WHERE cr = 1),
      prb AS (SELECT q_id, qv, qn, cell FROM (
        SELECT n.vec_id AS q_id, n.v AS qv, n.nrm AS qn,
          cent.cent_id AS cell,
          $centroidRankSql AS pr
        FROM n CROSS JOIN cent WHERE n.vec_id < 50) z WHERE pr <= 2)
      SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
        SELECT p.q_id, a.n_id,
          row_number() OVER (PARTITION BY p.q_id ORDER BY
            (${dotFoldSql("p.qv", "a.v")} / sqrt(p.qn * a.nrm)) DESC,
            a.n_id ASC) AS rank
        FROM asg a JOIN prb p ON a.cell = p.cell AND p.q_id <> a.n_id) z
      WHERE rank <= 3"""))

  /** One k-means codebook-training step over the embeddings: q35's
    * deterministic assignment, then fixed-point element-wise means
    * (micro-unit long sums — order-independent, unlike double sums —
    * divided with explicit floor). Full oracle despite the iterative-ML
    * shape. */
  private val q111 = Q("q111_kmeans_step",
    (s, dir) => Similarity.kmeansStep(t(s, dir, "embeddings"),
      "vec_id", "embedding", nCells = 16, dim = 64),
    Some(cosineOracleCte + s""",
      cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n
        ORDER BY vec_id ASC LIMIT 16),
      asg AS (SELECT n_id, v, cell FROM (
        SELECT n.vec_id AS n_id, n.v, cent.cent_id AS cell,
          $centroidRankSql AS cr
        FROM n CROSS JOIN cent) z WHERE cr = 1),
      m AS (SELECT cell, i.i AS pos, count(*) AS cnt,
          CAST(sum(CAST(floor(a.v[i.i] * 1000000.0 + 0.5) AS BIGINT))
            AS BIGINT) AS s
        FROM asg a CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY cell, i.i)
      SELECT cell, CAST(min(cnt) AS BIGINT) AS n_members,
        string_agg(CAST(CAST(floor(s * 1000.0 / cnt) AS BIGINT) AS VARCHAR),
          ',' ORDER BY pos) AS centroid_milli
      FROM m GROUP BY cell"""))

  /** IVF-PQ probe (q35's cells + q102's codes): queries rank only the
    * PQ codes inside their 2 probed cells. Deterministic index build
    * and probe → the oracle replays cells, codes, ADC folds, and
    * ranks. */
  private val q114 = Q("q114_ivfpq_topk",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb.filter(col("vec_id") < 50), emb,
        "vec_id", "embedding", k = 3, nCells = 16, nProbe = 2)
    },
    Some(cosineOracleCte + s""",
      cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n
        ORDER BY vec_id ASC LIMIT 16),
      asg AS (SELECT n_id, cell FROM (
        SELECT n.vec_id AS n_id, cent.cent_id AS cell,
          $centroidRankSql AS cr
        FROM n CROSS JOIN cent) z WHERE cr = 1),
      cb AS (SELECT vec_id AS c, v AS cv2 FROM e WHERE vec_id < 16),
      pa AS (SELECT e.vec_id, cb.c, js.j,
          ${subDistFoldSql("e.v", "cb.cv2", "js.j")} AS d
        FROM e CROSS JOIN cb CROSS JOIN (SELECT unnest(range(0, 8)) AS j) js),
      sel AS (SELECT vec_id, j, c FROM (
          SELECT vec_id, j, c,
            row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
          FROM pa) z WHERE rn = 1),
      prb AS (SELECT q_id, qv, cell FROM (
        SELECT n.vec_id AS q_id, n.v AS qv, cent.cent_id AS cell,
          $centroidRankSql AS pr
        FROM n CROSS JOIN cent WHERE n.vec_id < 50) z WHERE pr <= 2),
      tj AS (SELECT s.vec_id, p.q_id, s.j,
          ${subDistFoldSql("p.qv", "cb.cv2", "s.j")} AS t
        FROM sel s JOIN cb ON cb.c = s.c
        JOIN asg a ON a.n_id = s.vec_id
        JOIN prb p ON p.cell = a.cell),
      dist AS (SELECT q_id, vec_id AS n_id,
          ${foldSql("list(t ORDER BY j)")} AS d
        FROM tj GROUP BY q_id, vec_id)
      SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
        SELECT q_id, n_id,
          row_number() OVER (PARTITION BY q_id ORDER BY d, n_id) AS rank
        FROM dist WHERE n_id <> q_id) z
      WHERE rank <= 3"""))

  /** As-of join: each purchase event picks up the user's most recent
    * signup event at-or-before it (union + running last, one shuffle). */
  private val q37 = Q("q37_asof_join",
    (s, dir) => {
      val ev = eventsNs(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.ops.AsOfJoin.asOfPrior(purchases, "ts", signups, "ts",
        keys = Seq("user_id"), rightVal = "event_id",
        asCol = "signup_id", tiebreak = "event_id")
        .select(col("event_id"), col("user_id"), col("signup_id"))
    },
    Some("""SELECT event_id, user_id, signup_id FROM (
      SELECT event_id, user_id, tag,
        last_value(CASE WHEN tag = 0 THEN event_id END IGNORE NULLS)
          OVER (PARTITION BY user_id
                ORDER BY epoch_ns(ts) ASC, tag ASC, event_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS signup_id
      FROM (SELECT event_id, user_id, ts,
              CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END AS tag
            FROM events WHERE event_type IN ('signup', 'purchase')) u) z
      WHERE tag = 1"""))

  /** Stateful streaming sessionization (flatMapGroupsWithState): closed
    * sessions per user; single-batch source ⇒ every session except each
    * user's last. Oracle replays the same fold with window SQL. */
  private val q41 = Q("q41_stream_sessions",
    (s, dir) => graft.streaming.Sessionize.runToCompletion(
      s, s"$dir/events.parquet",
      queryName = "q41_events_sessions").toDF(),
    Some("""WITH e AS (SELECT user_id, event_id, epoch_ns(ts)//1000 AS ts_us FROM events),
      m AS (SELECT user_id, ts_us, event_id,
        CASE WHEN lag(ts_us) OVER w IS NULL
          OR ts_us - lag(ts_us) OVER w > 3600000000 THEN 1 ELSE 0 END AS new_sess
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      s AS (SELECT user_id, ts_us, event_id, sum(new_sess)
          OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS UNBOUNDED PRECEDING) AS sid FROM m),
      g AS (SELECT user_id, sid, min(ts_us) AS start_us,
        max(ts_us) AS end_us, count(*) AS n_events FROM s GROUP BY 1, 2)
      SELECT user_id, start_us, end_us, CAST(n_events AS BIGINT) AS n_events
      FROM g
      WHERE sid < (SELECT max(sid) FROM g g2 WHERE g2.user_id = g.user_id)"""))

  /** Streaming dedup-within-watermark (the reference's idempotent
    * re-read absorption, §2.8, as a stream): dropDuplicates on a key
    * inside a streaming query; single-batch source ⇒ equals batch
    * distinct-min aggregation. */
  private val q42 = Q("q42_stream_dedup",
    (s, dir) => EventsStream.withStatePartitions(s) {
      val raw = EventsStream.streamParquet(s, s"$dir/events.parquet")
      val stream = raw
        .withColumn("ts", timestamp_micros(EventsStream.tsMicros(raw)))
        .withWatermark("ts", "1 hour")
        .dropDuplicates("user_id", "event_type")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_types"))
      val q = stream.writeStream.outputMode("complete")
        .format("memory").queryName("q42_dedup")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("q42_dedup")
    },
    Some("""SELECT user_id, count(DISTINCT event_type) AS n_types
      FROM events GROUP BY user_id"""))

  /** Batched per-partition multimodal decode (mapPartitions stage with
    * the stub decoder) — engine-side imperative batch path; checksum is
    * deterministic but the path is not ANSI SQL → rows-only. */
  private val q43 = Q("q43_multimodal_features",
    (s, dir) => {
      val media = Multimodal.toMediaFrame(t(s, dir, "documents"),
        "text", "doc_id")
      Multimodal.extractFeatures(s, media).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"),
          col("checksum"))
    },
    // FakeDecoder's checksum folds over UTF-8 BYTES; the oracle folds
    // over code points (ord) — identical because the documents fixture
    // is pure ASCII (verified at sf0.01/sf0.1), where byte == ord.
    Some("""SELECT doc_id AS media_id,
      (['image','audio','video','text'])[CAST(doc_id % 4 AS INT) + 1] AS kind,
      CAST(octet_length(encode(text)) AS INT) AS n_bytes,
      CASE WHEN len(text) = 0 THEN 0 ELSE
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          [CAST(ord(text[i]) AS BIGINT) FOR i IN range(1, len(text) + 1)]),
          (a, c) -> (a * 31 + c) % 1000000007)
      END AS checksum
      FROM documents"""))

  // q44 (HLL approx_count_distinct) RETIRED — engine-specific
  // estimates could only ever get a rows-only check; exact distinct
  // semantics are oracled by q126 and the HLL surface is spec-pinned.

  /** Exact interpolated percentiles (sorted exact doubles; both engines
    * use linear interpolation at p*(n-1)). */
  private val q45 = Q("q45_percentiles",
    (s, dir) => t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.9)").as("p90")),
    Some("""SELECT o_orderstatus,
      quantile_cont(o_totalprice, 0.5) AS p50,
      quantile_cont(o_totalprice, 0.9) AS p90
      FROM orders GROUP BY o_orderstatus"""))

  /** Skew-safe salted aggregation: two-stage (key, salt) partial →
    * key final. Result ≡ plain GROUP BY (the oracle), but no single
    * reducer ever sees a hot key's full row set — the 100 TB pattern
    * for skewed keys. */
  private val q46 = Q("q46_salted_agg",
    (s, dir) => t(s, dir, "lineitem")
      .withColumn("_salt", pmod(col("l_orderkey") * 31 + col("l_linenumber"), lit(16)))
      .groupBy(col("l_returnflag"), col("_salt"))
      .agg(sum(col("l_quantity").cast(dec2)).as("_psum"),
        count(lit(1)).as("_pn"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("_psum")).cast(dec2).cast("string").as("sum_qty"),
        sum(col("_pn")).cast("long").as("n")),
    Some("""SELECT l_returnflag,
      CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) AS sum_qty,
      count(*) AS n
      FROM lineitem GROUP BY l_returnflag"""))

  /** SQL-facing API surface: the custom expressions registered through
    * SparkSessionExtensions (shingles, jaccard_sim, min_hash_sig),
    * driven from spark.sql over a temp view. Every output is
    * deterministic AND engine-portable: shingle counts, a
    * prefix-vs-full shingle jaccard (integer-derived double), and the
    * first minhash slot over REPLAYABLE rolling-hash pre-hashes (the
    * array<long> input path) with the seeded permutation constants
    * embedded in the oracle via [[graft.functions.MinHashSig.perms]].
    * sim_hash64's xxhash64 basis is not replayable externally — its
    * SQL-callable exactness is pinned in ExtensionsSpec instead. */
  private val q47 = Q("q47_sql_api",
    (s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("documents_v")
      s.sql("""SELECT doc_id,
          size(shingles(text, 3, true)) AS n_shingles,
          size(shingles(text, 5, false)) AS n_char_shingles,
          jaccard_sim(shingles(text, 3, true),
                      shingles(substring(text, 1, 100), 3, true)) AS jac_prefix,
          element_at(min_hash_sig(transform(shingles(text, 3, true),
            s -> aggregate(sequence(1, length(s)), CAST(0 AS BIGINT),
              (acc, i) -> (acc * 31 + ascii(substring(s, i, 1))) % 1000000007)),
            8, 42), 1) AS mh0
        FROM documents_v""")
    },
    Some {
      val (a0, b0) = {
        val (as, bs) = graft.functions.MinHashSig.perms(8, 42L)
        (as(0), bs(0))
      }
      s"""WITH d AS (SELECT doc_id, text,
        ${tokensSql("text")} AS tk,
        ${tokensSql("substr(text, 1, 100)")} AS tkp
        FROM documents),
      s AS (SELECT doc_id,
        list_distinct([array_to_string(tk[i:i+2], ' ')
          FOR i IN range(1, greatest(len(tk) - 2, 0) + 1)]) AS sh3,
        list_distinct([array_to_string(tkp[i:i+2], ' ')
          FOR i IN range(1, greatest(len(tkp) - 2, 0) + 1)]) AS sh3p,
        list_distinct([text[i:i+4]
          FOR i IN range(1, greatest(len(text) - 4, 0) + 1)]) AS ch5
        FROM d)
      SELECT doc_id,
        CAST(len(sh3) AS INT) AS n_shingles,
        CAST(len(ch5) AS INT) AS n_char_shingles,
        CASE WHEN len(sh3) + len(sh3p) = 0 THEN 0.0
             ELSE len(list_intersect(sh3, sh3p)) * 1.0 /
                  (len(sh3) + len(sh3p) - len(list_intersect(sh3, sh3p)))
        END AS jac_prefix,
        coalesce(list_min([($a0 * h + $b0) % 2147483647 FOR h IN
          [list_reduce(list_prepend(CAST(0 AS BIGINT),
             [CAST(ord(g[i]) AS BIGINT) FOR i IN range(1, len(g) + 1)]),
             (a, c) -> (a * 31 + c) % 1000000007) FOR g IN sh3]]),
          9223372036854775807) AS mh0
      FROM s"""
    })

  /** Same semantics as q25 but through the custom LogicalPlan +
    * SparkStrategy + SparkPlan operator (no shuffle; bounded heaps) —
    * proven by the SAME DuckDB oracle. */
  private val q48 = Q("q48_topk_custom_plan",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.topKPlanned(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5)
    },
    Some(cosineOracleCte + s"""
      SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id,
          $cosineRankSql AS rank
        FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id <> q.vec_id) z
      WHERE rank <= 5"""))

  /** §2.7 string-function battery (beyond the reference's F1-F8):
    * concat/substr/upper/lower/trim/lpad/replace/length/reverse. */
  private val q49 = Q("q49_string_funcs",
    (s, dir) => t(s, dir, "customer")
      .filter(col("c_custkey") <= 500)
      .select(col("c_custkey"),
        concat(col("c_name"), lit("#"), col("c_mktsegment")).as("tagged"),
        upper(col("c_mktsegment")).as("seg_up"),
        lower(col("c_name")).as("name_lo"),
        substring(col("c_name"), 1, 8).as("name8"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("key_pad"),
        regexp_replace(col("c_name"), "[0-9]", "#").as("name_masked"),
        length(col("c_name")).as("name_len"),
        reverse(col("c_mktsegment")).as("seg_rev")),
    Some("""SELECT c_custkey,
      c_name || '#' || c_mktsegment AS tagged,
      upper(c_mktsegment) AS seg_up,
      lower(c_name) AS name_lo,
      substring(c_name, 1, 8) AS name8,
      lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_pad,
      regexp_replace(c_name, '[0-9]', '#', 'g') AS name_masked,
      CAST(length(c_name) AS INT) AS name_len,
      reverse(c_mktsegment) AS seg_rev
      FROM customer WHERE c_custkey <= 500"""))

  /** §2.7 conditional/null functions: CASE, nullif, coalesce,
    * least/greatest, if. */
  private val q50 = Q("q50_conditionals",
    (s, dir) => t(s, dir, "orders")
      .filter(col("o_orderkey") <= 1000)
      .select(col("o_orderkey"),
        when(col("o_orderstatus") === "F", lit("final"))
          .when(col("o_orderstatus") === "O", lit("open"))
          .otherwise(lit("other")).as("status_label"),
        coalesce(nullif(col("o_orderstatus"), lit("P")), lit("pending"))
          .as("status_or_pending"),
        least(col("o_custkey"), col("o_orderkey")).as("least_key"),
        greatest(col("o_custkey"), col("o_orderkey")).as("greatest_key"),
        (col("o_orderkey") % 2 === 0).cast("string").as("is_even")),
    Some("""SELECT o_orderkey,
      CASE WHEN o_orderstatus = 'F' THEN 'final'
           WHEN o_orderstatus = 'O' THEN 'open'
           ELSE 'other' END AS status_label,
      coalesce(nullif(o_orderstatus, 'P'), 'pending') AS status_or_pending,
      least(o_custkey, o_orderkey) AS least_key,
      greatest(o_custkey, o_orderkey) AS greatest_key,
      CAST(o_orderkey % 2 = 0 AS VARCHAR) AS is_even
      FROM orders WHERE o_orderkey <= 1000"""))

  // ----------------------------------------------------- training-data ext

  /** Exact dedup groups (hash groupBy) on raw text. */
  private val q20 = Q("q20_dedup_exact",
    (s, dir) => Dedup.exactGroups(t(s, dir, "documents"), "text", "doc_id"),
    Some("""SELECT CAST(min(doc_id) AS BIGINT) AS keeper_id,
      count(*) AS n_copies FROM documents GROUP BY text"""))

  /** Exact dedup on a whitespace/case-normalized key. */
  private val q21 = Q("q21_dedup_normkey",
    (s, dir) => Dedup.normalizedGroups(t(s, dir, "documents"), "text", "doc_id"),
    Some("""SELECT CAST(min(doc_id) AS BIGINT) AS keeper_id,
      count(*) AS n_copies FROM documents
      GROUP BY lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"""))

  /** Blocked exact word-trigram Jaccard near-dup pairs (lang ×
    * length-bucket blocking; threshold 0.6). */
  private val q22 = Q("q22_ngram_jaccard",
    (s, dir) => Dedup.ngramJaccardPairs(t(s, dir, "documents"),
      "text", "doc_id",
      blockCols = Seq(col("lang"), expr("n_chars div 64")),
      n = 3, threshold = 0.6),
    Some(s"""WITH t AS (
        SELECT doc_id, lang || CAST(n_chars // 64 AS VARCHAR) AS blk,
          ${tokensSql("text")} AS toks
        FROM documents),
      g AS (
        SELECT doc_id, blk,
          list_distinct($trigramsSql) AS sh
        FROM t WHERE len(toks) >= 3)
      SELECT doc_a, doc_b, jaccard FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          len(list_intersect(a.sh, b.sh)) * 1.0 /
            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        FROM g a JOIN g b ON a.blk = b.blk AND a.doc_id < b.doc_id) z
      WHERE jaccard >= 0.6"""))

  /** Full multi-way INNER join + aggregation (TPC-H Q5 shape): revenue
    * per nation — columns flow from all four tables; AQE broadcasts the
    * dimension chain, the fact table shuffles once for the group-by. */
  private val q54 = Q("q54_join_agg",
    (s, dir) => {
      val price = col("l_extendedprice").cast("decimal(12,2)")
      val discF = lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .filter(col("o_orderdate") >= to_timestamp(lit("1997-01-01"))
          && col("o_orderdate") < to_timestamp(lit("1999-01-01")))
        .groupBy(col("n_name"))
        .agg(sum(price * discF).cast("decimal(24,4)").cast("string").as("revenue"),
          count(lit(1)).as("n_items"),
          countDistinct(col("o_orderkey")).as("n_orders"))
    },
    Some("""SELECT n_name,
      CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DECIMAL(24,4)) AS VARCHAR) AS revenue,
      count(*) AS n_items, count(DISTINCT o_orderkey) AS n_orders
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1999-01-01'
      GROUP BY n_name"""))

  /** LEFT OUTER join: orders with their (possibly zero) line counts —
    * null-side handling + coalesce. */
  private val q55 = Q("q55_outer_join",
    (s, dir) => {
      val liAgg = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("_n"),
          sum(col("l_quantity").cast(dec2)).as("_q"))
      t(s, dir, "orders")
        .join(liAgg, col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("o_orderkey"),
          coalesce(col("_n"), lit(0L)).as("n_lines"),
          coalesce(col("_q").cast(dec2), lit(0).cast(dec2))
            .cast("string").as("sum_qty"))
    },
    Some("""SELECT o_orderkey,
      CAST(coalesce(n, 0) AS BIGINT) AS n_lines,
      CAST(CAST(coalesce(q, 0) AS DECIMAL(18,2)) AS VARCHAR) AS sum_qty
      FROM orders LEFT JOIN (
        SELECT l_orderkey, count(*) AS n,
          sum(CAST(l_quantity AS DECIMAL(18,2))) AS q
        FROM lineitem GROUP BY l_orderkey) z
      ON o_orderkey = l_orderkey"""))

  /** Int8 embedding quantization: per-vector scale, quantized lanes,
    * max reconstruction error (explicit-floor rounding, pinned double
    * arithmetic — oracle-portable). */
  private val q53 = Q("q53_embed_quantize",
    (s, dir) => t(s, dir, "embeddings")
      .withColumn("_scale",
        array_max(transform(col("embedding"), x => abs(x.cast("double"))))
          / lit(127.0))
      .withColumn("_q", transform(col("embedding"),
        x => when(col("_scale") === 0, lit(0))
          .otherwise(floor(x.cast("double") / col("_scale") + lit(0.5)))
          .cast("int")))
      .select(col("vec_id"), col("_scale").as("scale"),
        element_at(col("_q"), 1).as("q0"),
        element_at(col("_q"), 2).as("q1"),
        array_max(zip_with(col("embedding"), col("_q"),
          (x, qq) => abs(x.cast("double") - qq.cast("double") * col("_scale"))))
          .as("max_err")),
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      sc AS (SELECT vec_id, v,
        list_max([abs(x) FOR x IN v]) / 127.0 AS scale FROM e)
      SELECT vec_id, scale,
        CASE WHEN scale = 0 THEN 0
          ELSE CAST(floor(v[1] / scale + 0.5) AS INT) END AS q0,
        CASE WHEN scale = 0 THEN 0
          ELSE CAST(floor(v[2] / scale + 0.5) AS INT) END AS q1,
        CASE WHEN scale = 0 THEN 0.0
          ELSE list_max([abs(v[i] - floor(v[i] / scale + 0.5) * scale)
            FOR i IN range(1, len(v) + 1)]) END AS max_err
      FROM sc"""))

  /** Generator/UDTF family (§2.9): explode tokens → corpus vocabulary
    * stats (term frequency + document frequency), top-100. */
  private val q52 = Q("q52_vocab_stats",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
      toks.groupBy(col("token"))
        .agg(count(lit(1)).as("tf"),
          countDistinct(col("doc_id")).as("df"))
        .orderBy(col("tf").desc, col("token").asc)
        .limit(100)
    },
    Some("""SELECT token, count(*) AS tf,
      count(DISTINCT doc_id) AS df
      FROM (SELECT doc_id, unnest(list_filter(
              string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) AS token
            FROM documents) z
      GROUP BY token
      ORDER BY tf DESC, token ASC LIMIT 100"""))

  /** Near-dup clusters: connected components over the q22 pair graph,
    * cluster id = min doc id (the dedup keeper). Oracle replays the
    * same closure with a recursive CTE. */
  private val q51 = Q("q51_dedup_clusters",
    (s, dir) => Dedup.dupClusters(t(s, dir, "documents"),
      "text", "doc_id",
      blockCols = Seq(col("lang"), expr("n_chars div 64")),
      n = 3, threshold = 0.6),
    Some(s"""WITH RECURSIVE t AS (
        SELECT doc_id, lang || CAST(n_chars // 64 AS VARCHAR) AS blk,
          ${tokensSql("text")} AS toks
        FROM documents),
      g AS (
        SELECT doc_id, blk,
          list_distinct($trigramsSql) AS sh
        FROM t WHERE len(toks) >= 3),
      p AS (
        SELECT a.doc_id AS da, b.doc_id AS db
        FROM g a JOIN g b ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.6),
      e AS (SELECT da AS a, db AS b FROM p
            UNION ALL SELECT db, da FROM p),
      r AS (
        SELECT doc_id AS node, doc_id AS lbl FROM documents
        UNION
        SELECT e.b, r.lbl FROM r JOIN e ON r.node = e.a)
      SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
      FROM r GROUP BY node"""))

  // q23 (xxhash64 MinHash-LSH pairs) and q24 (engine-hash SimHash)
  // RETIRED — outputs depend on engine-internal hashes, so they could
  // only ever get rows-only checks; the portable twins q118/q136 and
  // q137 oracle the same recall surfaces and cost laws in full.

  // ------------------------------------------------------ oracle fragments
  // The fixture replay formulas that the DuckDB oracles share, one
  // builder each. A builder is a pure string function of only what
  // differs between its call sites (an alias, a relation, a literal).
  // None calls engine code; `lshBucketSql`'s seeded literal planes,
  // taken from `Similarity.bandPlanes`, are the one exception.
  // OracleFragmentSpec fails when one of these formulas reappears
  // inline outside this section.

  private def cosineOracleCte: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, v,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          [v[i] * v[i] FOR i IN range(1, len(v) + 1)]), (a, b) -> a + b) AS nrm
        FROM e)"""

  /** DuckDB replay of one sign-LSH band bucket: same literal planes,
    * same sequential dot fold as the Spark side, so the sign (and hence
    * the candidate set) is bitwise-identical. */
  private def lshBucketSql(band: Seq[Array[Double]]): String =
    band.zipWithIndex.map { case (p, i) =>
      val lits = p.map(_.toString).mkString(", ")
      s"""(CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        [v[i] * ([$lits])[i] FOR i IN range(1, ${p.length} + 1)]),
        (a, b) -> a + b) > 0 THEN ${1 << i} ELSE 0 END)"""
    }.mkString(" + ")

  /** The pinned-order double sum of a SQL list: a sequential left fold
    * from 0.0, the order the engine folds in, so doubles are
    * bitwise-equal. */
  private def foldSql(terms: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $terms),
      (x, y) -> x + y)"""

  /** The shared sequential-fold cosine term for ANN oracles (identical
    * arithmetic to the DotProduct expression → bitwise-equal doubles). */
  private def dotFoldSql(a: String, b: String): String =
    foldSql(s"[$a[i] * $b[i] FOR i IN range(1, len($a) + 1)]")

  /** Each vector's cosine rank of the IVF centroids `cent` (`n` holds
    * vec_id, v, nrm; `cent` cent_id, cv, cn), ties to the lower id. */
  private def centroidRankSql: String =
    s"""row_number() OVER (PARTITION BY n.vec_id ORDER BY
      (${dotFoldSql("n.v", "cent.cv")} / sqrt(n.nrm * cent.cn)) DESC,
      cent.cent_id ASC)"""

  /** Each query vector `q`'s exact cosine rank of candidate `c`. */
  private def cosineRankSql: String =
    s"""row_number() OVER (PARTITION BY q.vec_id ORDER BY
      (${dotFoldSql("q.v", "c.v")} / sqrt(q.nrm * c.nrm)) DESC,
      c.vec_id ASC)"""

  /** Squared L2 distance between `a` and `b` over the `j`-th 8-wide PQ
    * sub-vector, folded in the same pinned order. */
  private def subDistFoldSql(a: String, b: String, j: String): String =
    foldSql(s"""[($a[i] - $b[i]) * ($a[i] - $b[i])
      FOR i IN range($j * 8 + 1, $j * 8 + 9)]""")

  /** Whitespace tokenization with empty tokens dropped. */
  private def tokensSql(text: String): String =
    s"""list_filter(string_split_regex(trim($text), '\\s+'),
      x -> len(x) > 0)"""

  /** The word 3-gram shingles of a `toks` token list. */
  private def trigramsSql: String =
    """[toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      FOR i IN range(1, len(toks) - 1)]"""

  /** The fixture's planted duplicate id: every 25th document copies its
    * predecessor exactly, every 50k+7th is a perturbed copy. */
  private def plantedIdSql(id: String): String =
    s"""CASE WHEN $id > 0 AND $id % 25 = 0 THEN $id - 1
      WHEN $id > 6 AND $id % 50 = 7 THEN $id - 1
      ELSE $id END"""

  /** Whether document `id` is a planted perturbed copy. */
  private def perturbedSql(id: String): String =
    s"($id > 6 AND $id % 50 = 7)"

  /** The multiplicative seed hash of a synthetic media pattern. */
  private def seedSql(x: String): String =
    s"($x * 2654435761) % 2147483647"

  /** The 31-bit Knuth multiplicative hash the fixture samplers and
    * orderings replay. */
  private def knuthSql(x: String): String =
    s"(($x % 2147483648) * 2654435761) % 2147483647"

  /** One row per document: its planted pattern id and perturbation. */
  private def plantedRowsSql: String =
    s"""SELECT doc_id, ${plantedIdSql("doc_id")} AS pid,
        ${perturbedSql("doc_id")} AS pert
      FROM documents"""

  /** The synthetic image's grey value at pixel (x, y) under seed `m`,
    * before the perturbation and the final `% 256`. */
  private def pixelSql(x: String, y: String): String =
    s"""(m % 256 + 1) * (7*$x + 13*$y + 1)
      + ((m // 256) % 256) * ($x*$x + 11*$y + 3)
      + ((m // 65536) % 256) * (3*$x + 5*$y*$y + 2)"""

  /** The 9×8 dHash grid of the 36×32 image of each (m, pert) row of
    * `src`: integer 4×4 box means. */
  private def imageCellsSql(src: String): String =
    s"""SELECT doc_id, cx, cy,
        sum((${pixelSql("(cx*4+dx)", "(cy*4+dy)")}
          + CASE WHEN pert AND cx*4+dx = 0 THEN 16 ELSE 0 END)
          % 256) // 16 AS g
      FROM $src, range(9) r1(cx), range(8) r2(cy),
        range(4) r3(dx), range(4) r4(dy)
      GROUP BY doc_id, cx, cy"""

  /** The dHash grid of each video's first frame (`vd`: doc_id, m). */
  private def videoCellsSql: String =
    s"""SELECT doc_id, cx, cy,
        sum((${pixelSql("(cx*4+dx)", "(cy*4+dy)")})
          % 256) // 16 AS g
      FROM vd, range(9) r1(cx), range(8) r2(cy),
        range(4) r3(dx), range(4) r4(dy)
      GROUP BY doc_id, cx, cy"""

  /** The dHash grid of every frame `f` of `fr`, pixel column `x`. */
  private def frameCellsSql(x: String): String =
    s"""SELECT doc_id, f, cx, cy,
        sum((${pixelSql(x, "(cy*4+dy)")})
          % 256) // 16 AS g
      FROM fr, range(9) r1(cx), range(8) r2(cy),
        range(4) r3(dx), range(4) r4(dy)
      GROUP BY doc_id, f, cx, cy"""

  /** dHash bits: grid cell `g` of `cell` against its right neighbour. */
  private def gridBitsSql(cell: String, g: String): String =
    s"""SELECT l.doc_id, l.cy * 8 + l.cx AS k,
        CASE WHEN r.$g > l.$g THEN 1 ELSE 0 END AS bit
      FROM $cell l JOIN $cell r ON r.doc_id = l.doc_id
        AND r.cy = l.cy AND r.cx = l.cx + 1
      WHERE l.cx < 8"""

  /** dHash bits of every frame of `cell` (doc_id, f, cx, cy, g). */
  private def frameBitsSql: String =
    """SELECT l.doc_id, l.f, l.cy * 8 + l.cx AS k,
        CASE WHEN r.g > l.g THEN 1 ELSE 0 END AS bit
      FROM cell l JOIN cell r ON r.doc_id = l.doc_id AND r.f = l.f
        AND r.cy = l.cy AND r.cx = l.cx + 1
      WHERE l.cx < 8"""

  /** The low and high 32-bit words of a 64-bit fingerprint from its
    * (k, bit) rows: DuckDB raises on `1 << 63`, so no oracle builds a
    * sign-bit BIGINT. */
  private def loWordSql: String =
    """bit_or(CASE WHEN bit = 1 AND k < 32
        THEN (1::BIGINT << k) ELSE 0 END)"""
  private def hiWordSql: String =
    """bit_or(CASE WHEN bit = 1 AND k >= 32
        THEN (1::BIGINT << (k - 32)) ELSE 0 END)"""
  private def bitPackSql(lo: String, hi: String): String =
    s"$loWordSql AS $lo,\n      $hiWordSql AS $hi"

  /** The image near-dup fixture replayed to its 64-bit dHash: CTEs `b`
    * (seed, perturbation), `cell`, `bits` and `h` (doc_id, lo, hi). */
  private def imageHashCtes: String =
    s"""b AS (SELECT doc_id,
        ${seedSql(plantedIdSql("doc_id"))} AS m,
        ${perturbedSql("doc_id")} AS pert
        FROM documents),
      cell AS (${imageCellsSql("b")}),
      bits AS (${gridBitsSql("cell", "g")}),
      h AS (SELECT doc_id,
          ${bitPackSql("lo", "hi")}
        FROM bits GROUP BY doc_id)"""

  /** The mixed-media fixture's three fingerprint chains over the
    * planted rows `b`, split three ways by `modality` (0 image, 1 audio,
    * 2 video): CTEs `ih`, `ah` and `vh` (doc_id, lo, hi). */
  private def unifiedHashCtes(modality: String): String =
    s"""im AS (SELECT doc_id, ${seedSql("pid")} AS m, pert
        FROM b WHERE $modality = 0),
      icell AS (${imageCellsSql("im")}),
      ibits AS (${gridBitsSql("icell", "g")}),
      ih AS (SELECT doc_id,
          ${bitPackSql("lo", "hi")}
        FROM ibits GROUP BY doc_id),
      ad AS (SELECT doc_id, ${seedSql("pid")} AS m, pert,
        400 + (pid * 11) % 257 AS n FROM b WHERE $modality = 1),
      sa AS (${audioSamplesSql("ad")}),
      abins AS (${energyBinsSql("sa")}),
      abits AS (${energyBitsSql("abins")}),
      ah AS (SELECT doc_id,
          ${bitPackSql("lo", "hi")}
        FROM abits GROUP BY doc_id),
      vd AS (SELECT doc_id,
          ${seedSql("pid * 8")} AS m
        FROM b WHERE $modality = 2),
      vcell AS ($videoCellsSql),
      vbits AS (${gridBitsSql("vcell", "g")}),
      vh AS (SELECT doc_id,
          ${bitPackSql("lo", "hi")}
        FROM vbits GROUP BY doc_id)"""

  /** Hamming distance between the two-word fingerprints `a` and `z`. */
  private def hammingSql(a: String, z: String): String =
    s"bit_count(xor($a.lo, $z.lo)) + bit_count(xor($a.hi, $z.hi))"

  /** Brute-force pairs of fingerprint table `h` within Hamming 2. */
  private def hammingPairsSql(h: String): String =
    s"""SELECT a.doc_id AS doc_a, z.doc_id AS doc_b,
        CAST(${hammingSql("a", "z")} AS INT) AS hamming
      FROM $h a JOIN $h z ON a.doc_id < z.doc_id
      WHERE ${hammingSql("a", "z")} <= 2"""

  /** The synthetic WAV's 16-bit sample `i` under seed `m`. */
  private def audioSampleSql: String =
    """((m % 256 + 1) * (5*i + 7)
        + ((m // 256) % 256) * ((i*i) % 1009)
        + CASE WHEN pert AND i < 8 THEN 128 ELSE 0 END)
        % 65536 - 32768"""

  /** Every sample of each clip of `src` (doc_id, m, pert, n). */
  private def audioSamplesSql(src: String): String =
    s"""SELECT doc_id, n, i, $audioSampleSql AS v
      FROM $src, range(657) r(i) WHERE i < n"""

  /** Each clip's 65 energy bins over `samples`, and the 64 gradient
    * bits between adjacent bins of `bins`. */
  private def energyBinsSql(samples: String): String =
    s"""SELECT doc_id, (i * 65) // n AS bin, sum(abs(v)) AS e
      FROM $samples GROUP BY doc_id, (i * 65) // n"""
  private def energyBitsSql(bins: String): String =
    s"""SELECT l.doc_id, l.bin AS k,
        CASE WHEN r.e > l.e THEN 1 ELSE 0 END AS bit
      FROM $bins l JOIN $bins r ON r.doc_id = l.doc_id
        AND r.bin = l.bin + 1
      WHERE l.bin < 64"""

  /** The snapshot family's v1 rows: each order's line 1, partitioned
    * by `l_orderkey % 4`. */
  private def snapshotBaseSql: String =
    """SELECT l_orderkey, l_linenumber, quantity, part FROM (
        SELECT l_orderkey, l_linenumber,
          CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR) AS quantity,
          l_orderkey % 4 AS part,
          row_number() OVER (PARTITION BY l_orderkey
            ORDER BY CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR)
              DESC) rn
        FROM lineitem WHERE l_linenumber = 1) z WHERE rn = 1"""

  /** The snapshot family's CDC feed: each order's last line from line
    * 2 on, line 7 a delete ('D'), every other an upsert ('U'). */
  private def snapshotFeedSql: String =
    """SELECT l_orderkey, l_linenumber, quantity, part, op FROM (
        SELECT l_orderkey, l_linenumber,
          CASE WHEN l_linenumber = 7 THEN 'D' ELSE 'U' END AS op,
          CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR) AS quantity,
          l_orderkey % 4 AS part,
          row_number() OVER (PARTITION BY l_orderkey
            ORDER BY l_linenumber DESC,
              CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR)
              DESC) rn
        FROM lineitem WHERE l_linenumber >= 2) z WHERE rn = 1"""

  /** One fixed-point PageRank step `out` from ranks `prev` over edges
    * `e`, node set `nodes` and out-degrees `deg`, in micro-units with
    * damping 0.85; `seed` is each node's teleport mass. */
  private def pageRankStepSql(e: String, nodes: String, deg: String,
      seed: String, prev: String, out: String): String =
    s"""$out AS (SELECT $nodes.n,
        CAST($seed + coalesce(x.s, 0) AS BIGINT) AS r
      FROM $nodes LEFT JOIN (
        SELECT $e.dst AS n,
          CAST(sum((r.r * 850000) // ($deg.d * 1000000)) AS BIGINT) AS s
        FROM $e JOIN $prev r ON r.n = $e.src
        JOIN $deg ON $deg.src = $e.src
        GROUP BY $e.dst) x ON $nodes.n = x.n)"""

  // -------------------------------------------------- end oracle fragments

  /** Brute-force exact cosine top-5 for the first 10 query vectors.
    * Cosine = pinned sequential double fold on both engines. */
  private val q25 = Q("q25_cosine_topk",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5)
    },
    Some(cosineOracleCte + s"""
      SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id,
          $cosineRankSql AS rank
        FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id <> q.vec_id) z
      WHERE rank <= 5"""))

  /** Cosine near-dup pairs ≥ 0.4 via banded sign-LSH candidates +
    * exact-cosine verify (embedding-space dedup, the 100 TB shape:
    * equi-join on (band, bucket), no cross join). The oracle replays
    * the identical deterministic planes, so the candidate set — and
    * therefore the result — matches exactly. */
  private val q26 = Q("q26_cosine_neardup",
    (s, dir) => Similarity.cosineNearDupPairs(t(s, dir, "embeddings"),
      "vec_id", "embedding", threshold = 0.4),
    Some {
      val bands = Similarity.bandPlanes(nBands = 8, planesPerBand = 4,
        dim = 64, seed = 7L)
      val bk = bands.zipWithIndex.map { case (band, b) =>
        s"SELECT vec_id, v, nrm, $b AS band, ${lshBucketSql(band)} AS bucket FROM n"
      }.mkString("\n UNION ALL ")
      cosineOracleCte + s""",
      bk AS ($bk),
      cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM bk a JOIN bk b
          ON a.band = b.band AND a.bucket = b.bucket
          AND a.vec_id < b.vec_id)
      SELECT vec_a, vec_b, cos FROM (
        SELECT c.vec_a, c.vec_b,
          ${dotFoldSql("a.v", "b.v")}
           / sqrt(a.nrm * b.nrm) AS cos
        FROM cand c
        JOIN n a ON a.vec_id = c.vec_a
        JOIN n b ON b.vec_id = c.vec_b) z
      WHERE cos >= 0.4"""
    })

  /** Approximate top-3 via random-hyperplane LSH buckets (the 10^9-row
    * path). The bucketing is DETERMINISTIC (seeded literal planes), so
    * the oracle replays the identical buckets and exact within-bucket
    * ranks — a full hash check, not rows-only, despite "approximate"
    * recall semantics. */
  private val q27 = Q("q27_ann_lsh",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb.filter(col("vec_id") < 100), emb,
        "vec_id", "embedding", k = 3, nPlanes = 8, dim = 64)
    },
    Some {
      // the same 8 planes lshBucket derives from seed 7
      val planes = Similarity.bandPlanes(nBands = 1, planesPerBand = 8,
        dim = 64, seed = 7L).head
      cosineOracleCte + s""",
      b AS (SELECT vec_id, v, nrm, ${lshBucketSql(planes)} AS bucket FROM n)
      SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id,
          $cosineRankSql AS rank
        FROM b q JOIN b c ON q.bucket = c.bucket
          AND q.vec_id < 100 AND c.vec_id <> q.vec_id) z
      WHERE rank <= 3"""
    })

  /** Multi-probe LSH top-3: q27's buckets plus all Hamming-1 probe
    * buckets per query (recall lift with no extra tables). The probe
    * flips are integer XORs of the deterministic bucket, so the oracle
    * replays the exact candidate set and ranks — full hash check. */
  private val q108 = Q("q108_ann_multiprobe",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopKMultiProbe(emb.filter(col("vec_id") < 100), emb,
        "vec_id", "embedding", k = 3, nPlanes = 8, dim = 64)
    },
    Some {
      val planes = Similarity.bandPlanes(nBands = 1, planesPerBand = 8,
        dim = 64, seed = 7L).head
      cosineOracleCte + s""",
      b AS (SELECT vec_id, v, nrm, ${lshBucketSql(planes)} AS bucket FROM n),
      qp AS (SELECT vec_id, v, nrm,
          unnest([xor(bucket, m) FOR m IN [0, 1, 2, 4, 8, 16, 32, 64, 128]]) AS probe
        FROM b WHERE vec_id < 100)
      SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id,
          $cosineRankSql AS rank
        FROM qp q JOIN b c ON q.probe = c.bucket
          AND c.vec_id <> q.vec_id) z
      WHERE rank <= 3"""
    })

  /** Language-ID stopword-ratio heuristic. */
  private val q28 = Q("q28_lang_id",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.langIdHeuristic(col("text")).as("detected")),
    Some(s"""SELECT doc_id,
      CASE WHEN n = 0 THEN 'empty'
           WHEN hits * 1.0 / n >= 0.10 THEN 'en'
           WHEN hits * 1.0 / n >= 0.05 THEN 'en_like'
           ELSE 'other' END AS detected
      FROM (SELECT doc_id,
        len(${tokensSql("text")}) AS n,
        len(list_filter(string_split_regex(trim(text), '\\s+'),
          x -> x IN ('the','a','of','and','is'))) AS hits
        FROM documents) z"""))

  /** Quality scoring: token/char counts, ink ratio, composite score —
    * all integer-derived arithmetic. */
  private val q29 = Q("q29_quality_score",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).as("n_chars_m"),
        TextAnalysis.nonWsChars(col("text")).as("ink_chars"),
        TextAnalysis.meanTokenLen(col("text")).as("mean_tok_len"),
        TextAnalysis.qualityScore(col("text")).as("score")),
    Some(s"""SELECT doc_id, CAST(n AS INT) AS n_tokens,
      CAST(len(text) AS INT) AS n_chars_m,
      CAST(ink AS INT) AS ink_chars,
      CASE WHEN n = 0 THEN 0.0 ELSE ink * 1.0 / n END AS mean_tok_len,
      (CASE WHEN len(text) = 0 THEN 0.0 ELSE ink * 1.0 / len(text) END)
        * (least(n, 200) * 1.0 / 200.0) AS score
      FROM (SELECT doc_id, text,
        len(${tokensSql("text")}) AS n,
        len(regexp_replace(text, '\\s', '', 'g')) AS ink
        FROM documents) z"""))

  /** Token counting: whitespace + BPE-ish regex tokenizer. */
  private val q30 = Q("q30_token_stats",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("ws_tokens"),
        TextAnalysis.regexTokenCount(col("text")).as("re_tokens")),
    Some(s"""SELECT doc_id,
      CAST(len(${tokensSql("text")}) AS INT) AS ws_tokens,
      CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INT) AS re_tokens
      FROM documents"""))

  /** Rolling polynomial document fingerprint (char-level, mod 1e9+7). */
  private val q31 = Q("q31_fingerprint",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp")),
    Some("""SELECT doc_id,
      CASE WHEN len(text) = 0 THEN 0 ELSE
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          [CAST(ord(text[i]) AS BIGINT) FOR i IN range(1, len(text) + 1)]),
          (a, c) -> (a * 31 + c) % 1000000007)
      END AS fp
      FROM documents"""))

  /** Multimodal metadata plumbing: opaque binary payload + typed meta
    * struct; metadata queries never touch payload bytes. */
  private val q32 = Q("q32_multimodal_meta",
    (s, dir) => Multimodal.toMediaFrame(t(s, dir, "documents"),
        "text", "doc_id")
      .select(col("media_id"), col("meta.kind").as("kind"),
        col("meta.n_bytes").as("n_bytes")),
    Some("""SELECT doc_id AS media_id,
      ['image','audio','video','text'][CAST(doc_id % 4 + 1 AS INT)] AS kind,
      CAST(octet_length(encode(text)) AS INT) AS n_bytes
      FROM documents"""))

  /** Structured Streaming windowed aggregation driven to completion
    * (Trigger.AvailableNow, complete mode ⇒ equals the batch agg). */
  private val q40 = Q("q40_stream_windowed",
    (s, dir) => EventsStream.runToCompletion(s, s"$dir/events.parquet",
      queryName = "q40_events_windowed"),
    Some("""SELECT strftime(make_timestamp((epoch_ns(ts) // 1000 // 21600000000) * 21600000000),
        '%Y-%m-%d %H:%M:%S') AS window_start,
      event_type, count(*) AS n,
      CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) AS sum_value
      FROM events GROUP BY 1, 2"""))

  // ------------------------------------------------------- round-2 widening

  /** §2.6 set-operation battery beyond the reference's UNION ALL:
    * INTERSECT and EXCEPT (both distinct semantics), tagged and stacked
    * into one result. */
  private val q57 = Q("q57_setops",
    (s, dir) => {
      val cust = t(s, dir, "customer")
      val building = cust.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val active97 = t(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1997-01-01"))
          && col("o_orderdate") < to_timestamp(lit("1998-01-01")))
        .select(col("o_custkey").as("c_custkey")).distinct()
      building.intersect(active97).withColumn("op", lit("both"))
        .unionByName(
          building.except(active97).withColumn("op", lit("only_seg")))
    },
    Some("""WITH b AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
      a AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01')
      SELECT c_custkey, 'both' AS op FROM (SELECT * FROM b INTERSECT SELECT * FROM a) z
      UNION ALL
      SELECT c_custkey, 'only_seg' AS op FROM (SELECT * FROM b EXCEPT SELECT * FROM a) z"""))

  /** §2.5 pivot: per-user event-type count matrix (explicit value list
    * so the plan is a single pass, no distinct-values pre-query). */
  private val q58 = Q("q58_pivot",
    (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      eventsNs(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("user_id") +: types.map(tp =>
          coalesce(col(tp), lit(0L)).as(tp)): _*)
    },
    Some("""SELECT user_id,
      count(*) FILTER (event_type = 'click') AS click,
      count(*) FILTER (event_type = 'error') AS error,
      count(*) FILTER (event_type = 'purchase') AS purchase,
      count(*) FILTER (event_type = 'signup') AS signup,
      count(*) FILTER (event_type = 'view') AS view
      FROM events GROUP BY user_id"""))

  /** §2.5 unpivot (melt): wide numeric lineitem columns → long
    * (key, metric, value) rows; raw doubles pass through untouched so
    * both engines emit identical bits. */
  private val q61 = Q("q61_unpivot",
    (s, dir) => t(s, dir, "lineitem")
      .filter(col("l_orderkey") <= 200)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "metric", "v"),
    Some("""SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS v
      FROM lineitem WHERE l_orderkey <= 200
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
      FROM lineitem WHERE l_orderkey <= 200
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
      FROM lineitem WHERE l_orderkey <= 200"""))

  /** §2.4 extension — interval/range join with NO equi key (purchase →
    * errors within the next 2 minutes, across all users). Binned equi
    * join via [[graft.ops.RangeJoin]] instead of the
    * BroadcastNestedLoopJoin Spark would otherwise plan; the DuckDB
    * oracle states the same semantics as a theta join. ns→µs via
    * integral div on both sides. */
  private val q62 = Q("q62_range_join",
    (s, dir) => {
      val ev = eventsNs(s, dir)
        .withColumn("ts_u", expr("ts div 1000"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("ts_u").as("p_ts"))
      val e = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("e_id"), col("ts_u").as("e_ts"))
      graft.ops.RangeJoin.intervalJoin(p, "p_ts", e, "e_ts", 120000000L)
        .select(col("p_id"), col("e_id"),
          (col("e_ts") - col("p_ts")).as("delta_us"))
    },
    Some("""SELECT p.event_id AS p_id, e.event_id AS e_id,
      epoch_ns(e.ts) // 1000 - epoch_ns(p.ts) // 1000 AS delta_us
      FROM events p JOIN events e
        ON epoch_ns(e.ts) // 1000 >= epoch_ns(p.ts) // 1000
       AND epoch_ns(e.ts) // 1000 < epoch_ns(p.ts) // 1000 + 120000000
      WHERE p.event_type = 'purchase' AND e.event_type = 'error'"""))

  /** §2.8 extension — stream-stream inner join (equi key + event-time
    * range + two-sided watermark state eviction); append-mode result
    * equals the batch theta join the oracle states. */
  private val q63 = Q("q63_stream_stream_join",
    (s, dir) => graft.streaming.StreamJoin.runToCompletion(
      s, s"$dir/events.parquet", queryName = "q63_purchase_error"),
    Some("""SELECT p.event_id AS p_id, e.event_id AS e_id,
      p.user_id AS user_id,
      epoch_ns(e.ts) // 1000 - epoch_ns(p.ts) // 1000 AS delta_us
      FROM events p JOIN events e
        ON p.user_id = e.user_id
       AND epoch_ns(e.ts) // 1000 >= epoch_ns(p.ts) // 1000
       AND epoch_ns(e.ts) // 1000 < epoch_ns(p.ts) // 1000 + 1800000000
      WHERE p.event_type = 'purchase' AND e.event_type = 'error'"""))

  /** §2.5 grouping sets — the general form of rollup(q16)/cube(q34),
    * with an explicit non-hierarchical set list. */
  private val q64 = Q("q64_grouping_sets",
    (s, dir) => t(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast(dec2)).cast(dec2).cast("string")
        .as("sum_qty"), count(lit(1)).as("n")),
    Some("""SELECT l_returnflag, l_linestatus,
      CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) AS sum_qty,
      count(*) AS n
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())"""))

  /** Skew-resilient salted join ([[graft.ops.SkewJoin]]): events (5-value
    * hot key) joined back to a per-type aggregate — the "enrich rows with
    * their group stats" shape whose hot partitions straggle unsalted. */
  private val q65 = Q("q65_salted_join",
    (s, dir) => {
      val ev = eventsNs(s, dir).select(col("event_id"), col("event_type"))
      val dim = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_type"))
      graft.ops.SkewJoin.saltedJoin(ev, dim, "event_type", salt = 8)
        .select(col("event_id"), col("event_type"), col("n_type"))
    },
    Some("""SELECT event_id, event_type, n_type
      FROM events JOIN (SELECT event_type, count(*) AS n_type
        FROM events GROUP BY event_type) USING (event_type)"""))

  /** SCD-2 interval versioning ([[graft.ops.Scd2]]) of the ingest feed:
    * one window shuffle, no self-join; tie-broken by orderkey so the
    * version chain is deterministic. */
  private val q66 = Q("q66_scd2",
    (s, dir) => graft.ops.Scd2.versions(
        t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate")),
        "o_custkey", "o_orderdate", tieBreak = Seq("o_orderkey"))
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        coalesce(date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss"),
          lit("9999-12-31 00:00:00")).as("valid_to"),
        col("is_current")),
    Some("""SELECT o_custkey, o_orderkey,
      strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS valid_from,
      coalesce(strftime(lead(o_orderdate) OVER w, '%Y-%m-%d %H:%M:%S'),
        '9999-12-31 00:00:00') AS valid_to,
      lead(o_orderdate) OVER w IS NULL AS is_current
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"""))

  /** Deterministic stratified sampling: per-stratum rates via an
    * arithmetic hash on the key (Knuth multiplicative) — unlike
    * rand()-based sample(), re-runs, retried tasks, and the oracle all
    * agree on membership; at 100 TB the sample is also reproducible
    * across re-ingests. */
  private val q67 = Q("q67_stratified_sample",
    (s, dir) => {
      val rate = when(col("o_orderstatus") === "O", 10)
        .when(col("o_orderstatus") === "F", 20).otherwise(50)
      // mask the key to 31 bits BEFORE the Knuth multiply: keys ≳ 3.5e9
      // would overflow the product — silently wrapped here (non-ANSI)
      // but a hard BIGINT error in the oracle engine. Identity at any
      // key < 2^31, so current results are unchanged.
      t(s, dir, "orders")
        .filter(pmod(pmod(col("o_orderkey"), lit(2147483648L))
          * lit(2654435761L), lit(100)) < rate)
        .select(col("o_orderkey"), col("o_orderstatus"))
    },
    Some("""SELECT o_orderkey, o_orderstatus FROM orders
      WHERE ((o_orderkey % 2147483648) * 2654435761) % 100 <
        CASE o_orderstatus WHEN 'O' THEN 10 WHEN 'F' THEN 20 ELSE 50 END"""))

  /** TF-IDF top-3 terms per document. IDF is emitted as the exact
    * integer (n_docs * 1e6) div df — both engines share integral
    * arithmetic, whereas ln() can differ in the last bit between libm
    * implementations and would break the hash compare. One shuffle for
    * tf, one for df, df side broadcast back. */
  private val q68 = Q("q68_tfidf",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      val tf = toks.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val dfc = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
      val scored = tf.join(broadcast(dfc), Seq("token"))
        .crossJoin(broadcast(nDocs))
        .withColumn("score", expr("tf * ((n_docs * 1000000) div df)"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("token").asc)
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("token"), col("score"), col("rk"))
    },
    Some("""WITH toks AS (
        SELECT doc_id, unnest(list_filter(
          string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) AS token
        FROM documents),
      tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
      dfc AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
      SELECT doc_id, token, score, rk FROM (
        SELECT doc_id, token, tf * ((n_docs * 1000000) // df) AS score,
          row_number() OVER (PARTITION BY doc_id
            ORDER BY tf * ((n_docs * 1000000) // df) DESC, token ASC) AS rk
        FROM tf JOIN dfc USING (token) CROSS JOIN n) z
      WHERE rk <= 3"""))

  /** Array-function battery over the embedding column (no arithmetic —
    * element selection/ordering only, so float32 bits pass through both
    * engines untouched). */
  private val q69 = Q("q69_array_funcs",
    (s, dir) => t(s, dir, "embeddings")
      .select(col("vec_id"),
        size(col("embedding")).as("n_dims"),
        element_at(col("embedding"), 1).as("first_v"),
        array_max(col("embedding")).as("max_v"),
        array_min(col("embedding")).as("min_v"),
        element_at(reverse(sort_array(col("embedding"))), 2).as("second_max"),
        array_position(col("embedding"), element_at(col("embedding"), 1))
          .cast("long").as("pos_first")),
    Some("""SELECT vec_id,
      CAST(len(embedding) AS INT) AS n_dims,
      embedding[1] AS first_v,
      list_max(embedding) AS max_v,
      list_min(embedding) AS min_v,
      list_reverse_sort(embedding)[2] AS second_max,
      CAST(list_position(embedding, embedding[1]) AS BIGINT) AS pos_first
      FROM embeddings"""))

  /** Hopping (sliding) windows on the event stream: 6-hour windows
    * every 3 hours — each event feeds 2 overlapping windows. */
  private val q70 = Q("q70_stream_hopping",
    (s, dir) => EventsStream.runToCompletion(s, s"$dir/events.parquet",
      queryName = "q70_events_hopping",
      windowLen = "6 hours", slide = Some("3 hours")),
    Some("""SELECT strftime(make_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS window_start,
      event_type, count(*) AS n,
      CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) AS sum_value
      FROM (SELECT event_type, value, unnest([
          (epoch_ns(ts) // 1000 // 10800000000) * 10800000000,
          (epoch_ns(ts) // 1000 // 10800000000) * 10800000000 - 10800000000
        ]) AS ws FROM events) z
      GROUP BY 1, 2"""))

  /** §2.9 typed-Aggregator top-k (bounded k-row buffers through
    * map-side partial agg — contrast q10's full window sort; same
    * semantics, one bounded shuffle). Oracle = the window formulation. */
  private val q71 = Q("q71_topk_agg",
    (s, dir) => {
      val topk = graft.functions.TopKByValue.topK(3)
      eventsNs(s, dir)
        .groupBy(col("user_id"))
        .agg(topk(col("value"), col("event_id")).as("top"))
        .select(col("user_id"), posexplode(col("top")))
        .select(col("user_id"), (col("pos") + 1).cast("long").as("rk"),
          col("col.id").as("event_id"), col("col.value").as("value"))
    },
    Some("""SELECT user_id, rk, event_id, value FROM (
      SELECT user_id, event_id, value,
        CAST(row_number() OVER (PARTITION BY user_id
          ORDER BY value DESC, event_id ASC) AS BIGINT) AS rk
      FROM events) z WHERE rk <= 3"""))

  /** Multimodal frame-sample + resize (stub demux/decimate; real
    * iterator-batched executor plumbing): every 2nd 256-byte frame of
    * each 'video' payload. The oracle replays the byte arithmetic. */
  private val q72 = Q("q72_frame_sample",
    (s, dir) => {
      val media = Multimodal.toMediaFrame(t(s, dir, "documents"),
        "text", "doc_id").filter(col("meta.kind") === "video")
      Multimodal.sampleFrames(s, media).toDF()
    },
    Some("""WITH m AS (SELECT doc_id AS media_id, octet_length(encode(text)) AS nb
        FROM documents WHERE doc_id % 4 = 2),
      f AS (SELECT media_id, nb, unnest(range(0,
          CAST(ceil(nb / 256.0) AS INT), 2)) AS frame_idx FROM m)
      SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
        CAST(least(256, nb - frame_idx * 256) AS INT) AS n_bytes,
        CAST((least(256, nb - frame_idx * 256) + 3) // 4 AS INT) AS n_resized
      FROM f"""))

  /** Repetition signals (Gopher-rule family): duplicate-token ratio per
    * doc — the cheap high-precision filter for boilerplate/spam in
    * training corpora. Ratio = two IEEE ops (divide, subtract) on
    * int-derived doubles: bit-identical across engines. */
  private val q73 = Q("q73_repetition",
    (s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), size(toks).as("n_tokens"),
          size(array_distinct(toks)).as("n_distinct"))
        .filter(col("n_tokens") > 0)
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          (lit(1.0) - col("n_distinct").cast("double") /
            col("n_tokens").cast("double")).as("dup_ratio"))
    },
    Some(s"""SELECT doc_id, n_tokens, n_distinct,
      1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS dup_ratio
      FROM (SELECT doc_id,
        CAST(len(${tokensSql("text")}) AS INT) AS n_tokens,
        CAST(len(list_distinct(${tokensSql("text")})) AS INT) AS n_distinct
        FROM documents) z
      WHERE n_tokens > 0"""))

  /** CDC apply: collapse an I/U/D change feed to the final snapshot
    * (general form of the reference's delete-less upsert,
    * gluejob.py:197-198). The feed is derived deterministically from
    * lineitem: l_linenumber orders versions of an order; linenumber 7
    * marks a delete, 1 an insert, else update. One key-shuffle window.
    * This testdata repeats (orderkey, linenumber), so quantity joins the
    * sequence as a tiebreak — the winning row is then fully determined
    * on every emitted column (the totally-ordered-seq contract of
    * [[Cdc.applyLatest]]). */
  private val q74 = Q("q74_cdc_apply",
    (s, dir) => {
      val feed = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_linenumber") === 7, "D")
          .when(col("l_linenumber") === 1, "I").otherwise("U").as("op"),
        col("l_quantity").cast(dec2).cast("string").as("quantity"))
      Cdc.applyLatest(feed, "l_orderkey", Seq("l_linenumber", "quantity"), "op")
    },
    Some("""WITH feed AS (
      SELECT l_orderkey, l_linenumber,
        CASE WHEN l_linenumber = 7 THEN 'D'
             WHEN l_linenumber = 1 THEN 'I' ELSE 'U' END AS op,
        CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR) AS quantity
      FROM lineitem)
      SELECT l_orderkey, l_linenumber, op, quantity FROM (
        SELECT *, row_number() OVER (PARTITION BY l_orderkey
          ORDER BY l_linenumber DESC, quantity DESC) AS rn FROM feed) z
      WHERE rn = 1 AND op <> 'D'"""))

  /** ntile bucketing (quartiles of account balance per nation) —
    * partitioned window, so it scales; ties broken by key for
    * determinism. */
  private val q75 = Q("q75_ntile",
    (s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          col("c_acctbal").cast(dec2).cast("string").as("acctbal"),
          ntile(4).over(w).as("quartile"))
    },
    Some("""SELECT c_custkey, c_nationkey,
      CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS acctbal,
      CAST(ntile(4) OVER (PARTITION BY c_nationkey
        ORDER BY c_acctbal ASC, c_custkey ASC) AS INT) AS quartile
      FROM customer"""))

  /** Correlated EXISTS / NOT EXISTS through the SQL surface — Catalyst
    * decorrelates both into semi/anti hash joins (verified in
    * PlanShapeSpec). */
  private val q76 = Q("q76_exists_subquery",
    (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("q76_customer")
      t(s, dir, "orders").createOrReplaceTempView("q76_orders")
      s.sql("""SELECT c_custkey, c_name FROM q76_customer c
        WHERE EXISTS (SELECT 1 FROM q76_orders o
                WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
          AND NOT EXISTS (SELECT 1 FROM q76_orders o
                WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
                  AND o.o_totalprice < 5000)""")
    },
    Some("""SELECT c_custkey, c_name FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        AND NOT EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
                AND o.o_totalprice < 5000)"""))

  /** Running-sum window frame (ROWS UNBOUNDED PRECEDING → CURRENT ROW)
    * over decimal — exact arithmetic, so prefix order never changes the
    * value. */
  private val q77 = Q("q77_running_sum",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast(dec2)).over(w)
            .cast(dec2).cast("string").as("running_total"))
    },
    Some("""SELECT o_custkey, o_orderkey,
      CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        AS DECIMAL(18,2)) AS VARCHAR) AS running_total
      FROM orders"""))

  /** Exact-substring dedup at token-8-gram granularity (the n-gram
    * formulation of Lee et al. 2022's "Deduplicating Training Data
    * Makes Language Models Better"): every distinct 8-gram is owned by
    * the lowest doc_id containing it; a later doc's gram is a
    * duplicate. Per doc: distinct grams, duplicated grams, integer
    * dup percentage. One shuffle keys the gram (window min = the
    * ownership pass), one keys the doc (the per-doc rollup). At
    * 100 TB the gram string never ships: substitute
    * xxhash64(gram) as the shuffle key (128-bit if collision-rate
    * math demands) — same plan shape, ~20 bytes/row instead of the
    * 8-token text. Kept as strings here so DuckDB states identical
    * semantics. */
  private val q78 = Q("q78_ngram_dedup",
    (s, dir) => {
      val w = Window.partitionBy(col("gram"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(Dedup.wordShingles(col("text"), 8)).as("gram"))
        .withColumn("owner", min(col("doc_id")).over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          count(when(col("owner") < col("doc_id"), 1)).as("n_dup_grams"))
        .withColumn("dup_pct", expr("n_dup_grams * 100 div n_grams"))
    },
    Some(s"""WITH t AS (SELECT doc_id,
        ${tokensSql("text")} AS toks
        FROM documents),
      g AS (SELECT doc_id, unnest(list_distinct(
          [array_to_string(toks[i:i+7], ' ') FOR i IN range(1, len(toks) - 6)])) AS gram
        FROM t WHERE len(toks) >= 8),
      o AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY gram) AS owner FROM g)
      SELECT doc_id, count(*) AS n_grams,
        count(*) FILTER (WHERE owner < doc_id) AS n_dup_grams,
        (count(*) FILTER (WHERE owner < doc_id)) * 100 // count(*) AS dup_pct
      FROM o GROUP BY doc_id"""))

  /** Benchmark-contamination scan: distinct 4-gram overlap between a
    * held-out eval slice (doc_id % 10 = 0) and the training corpus;
    * pairs sharing ≥ 3 grams are flagged. The eval side is BROADCAST —
    * at 100 TB the corpus is the big side but eval suites stay MBs, so
    * the scan is one shuffle-free map pass over the corpus grams
    * followed by a small pair-count aggregation. */
  private val q79 = Q("q79_contamination",
    (s, dir) => {
      val g = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(Dedup.wordShingles(col("text"), 4)).as("gram"))
      val ev = g.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("eval_doc"), col("gram"))
      g.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id").as("corpus_doc"), col("gram"))
        .join(broadcast(ev), "gram")
        .groupBy(col("eval_doc"), col("corpus_doc"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
    },
    Some(s"""WITH t AS (SELECT doc_id,
        ${tokensSql("text")} AS toks
        FROM documents),
      g AS (SELECT doc_id, unnest(list_distinct(
          [array_to_string(toks[i:i+3], ' ') FOR i IN range(1, len(toks) - 2)])) AS gram
        FROM t WHERE len(toks) >= 4)
      SELECT eval_doc, corpus_doc, n_shared FROM (
        SELECT a.doc_id AS eval_doc, b.doc_id AS corpus_doc,
          count(*) AS n_shared
        FROM g a JOIN g b ON a.gram = b.gram
        WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
        GROUP BY 1, 2) z WHERE n_shared >= 3"""))

  /** Time-spine gap fill: per-user hourly event counts densified over
    * each user's [first, last] hour with zeros, plus a running
    * cumulative. The spine is INTEGER hours (ns div 3600e9) generated
    * with sequence/explode — integer arithmetic end to end, so the
    * spine, the join keys and the cumulative sum are all exact. Spine
    * rows scale as users × active-hours, not events — at 100 TB the
    * per-hour pre-aggregation (map-side partial) collapses the event
    * volume before the spine join ever sees it. */
  private val q80 = Q("q80_gap_fill",
    (s, dir) => {
      val perHr = eventsNs(s, dir).filter(col("user_id") < 40)
        .groupBy(col("user_id"), expr("ts div 3600000000000").as("hr"))
        .agg(count(lit(1)).as("n_events"))
      val spine = perHr.groupBy(col("user_id"))
        .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
        .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("hr"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("hr"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(perHr, Seq("user_id", "hr"), "left")
        .na.fill(0L, Seq("n_events"))
        .select(col("user_id"), col("hr"),
          date_format(timestamp_micros(col("hr") * lit(3600000000L)),
            "yyyy-MM-dd HH:00").as("hour_ts"),
          col("n_events"),
          sum(col("n_events")).over(w).as("cum_events"))
    },
    Some("""WITH e AS (SELECT user_id, epoch_ns(ts) // 3600000000000 AS hr
        FROM events WHERE user_id < 40),
      ph AS (SELECT user_id, hr, count(*) AS n_events FROM e GROUP BY 1, 2),
      spine AS (SELECT user_id, unnest(range(min(hr), max(hr) + 1)) AS hr
        FROM ph GROUP BY user_id)
      SELECT s.user_id, s.hr,
        strftime(make_timestamp(s.hr * 3600000000), '%Y-%m-%d %H:00') AS hour_ts,
        COALESCE(ph.n_events, 0) AS n_events,
        CAST(sum(COALESCE(ph.n_events, 0)) OVER (PARTITION BY s.user_id
          ORDER BY s.hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS cum_events
      FROM spine s LEFT JOIN ph ON s.user_id = ph.user_id AND s.hr = ph.hr"""))

  /** Deterministic per-group reservoir sample: k=5 docs per source,
    * ranked by a fixed multiplicative hash (Knuth 2654435761) with
    * doc_id tiebreak — reproducible across runs, partitionings and
    * engines, unlike rand()-based sampling. One shuffle (the
    * per-source window); at scale the rank-k selection is a bounded
    * per-group top-k, not a global sort. */
  private val q81 = Q("q81_reservoir_sample",
    (s, dir) => {
      // 31-bit mask before the multiply — same overflow guard as q67
      val h = pmod(pmod(col("doc_id"), lit(2147483648L))
        * lit(2654435761L) + lit(97531L), lit(1000000007L))
      val w = Window.partitionBy(col("source"))
        .orderBy(h.asc, col("doc_id").asc)
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
    },
    Some("""SELECT source, doc_id, rk FROM (
      SELECT source, doc_id, CAST(row_number() OVER (PARTITION BY source
        ORDER BY ((doc_id % 2147483648) * 2654435761 + 97531) % 1000000007 ASC,
          doc_id ASC) AS INT) AS rk
      FROM documents) z WHERE rk <= 5"""))

  /** PII-style scrubbing battery over the events payload: digit runs
    * masked to <NUM>, match counts for digit runs and an email
    * pattern (codegen'd regexp_replace/regexp_extract_all — no UDF).
    * Pure map pass: no shuffle, scales linearly and pushes the two
    * needed columns into the scan. */
  private val q82 = Q("q82_pii_scrub",
    (s, dir) => eventsNs(s, dir)
      .select(col("event_id"),
        regexp_replace(col("props"), "[0-9]+", "<NUM>").as("scrubbed"),
        size(regexp_extract_all(col("props"), lit("[0-9]+"), lit(0)))
          .as("n_nums"),
        size(regexp_extract_all(col("props"),
          lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), lit(0)))
          .as("n_emails")),
    Some("""SELECT event_id,
      regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS scrubbed,
      CAST(len(regexp_extract_all(props, '[0-9]+')) AS INT) AS n_nums,
      CAST(len(regexp_extract_all(props,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails
      FROM events"""))

  /** Blocklist removal with a Bloom prefilter (ext.Dedup
    * .blocklistFilter): the blocklist is the fingerprint set of every
    * 25th doc; any doc whose rolling-hash fingerprint matches — i.e.
    * the listed docs AND their byte-identical copies — is dropped.
    * Bloom prunes map-side; an exact anti-join over the surviving
    * sliver decides, so the result is exactly NOT EXISTS(blocklist)
    * and the oracle can state it. */
  private val q83 = Q("q83_bloom_blocklist",
    (s, dir) => {
      // Repartition barrier, NOT a localCheckpoint: the rolling hash
      // is O(doc length) per row and the blocklist flow reads the
      // frame four times (blocklist size probe, Bloom build, clean
      // pass, candidate anti-join) — the barrier computes it ONCE
      // (ReuseExchange serves all four consumers from the single
      // exchange write) without pinning blocks a lazily-returned
      // catalog DataFrame could never release (the q143 idiom,
      // Catalog.scala q143 / Similarity.pqEncodeResidual).
      val f = t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .repartition(col("doc_id"))
      val bad = f.filter(col("doc_id") % 25 === 0).select(col("fp"))
      Dedup.blocklistFilter(f, "fp", bad, "fp")
    },
    Some("""WITH f AS (SELECT doc_id,
        CASE WHEN len(text) = 0 THEN 0 ELSE
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            [CAST(ord(text[i]) AS BIGINT) FOR i IN range(1, len(text) + 1)]),
            (a, c) -> (a * 31 + c) % 1000000007)
        END AS fp
        FROM documents),
      bad AS (SELECT fp FROM f WHERE doc_id % 25 = 0)
      SELECT doc_id, fp FROM f
      WHERE NOT EXISTS (SELECT 1 FROM bad WHERE bad.fp = f.fp)"""))

  /** §2.8 extension — stream-stream LEFT OUTER join. Matched rows
    * equal q63; unmatched purchases surface with null error columns
    * once the global watermark passes their join window. The final
    * watermark over a bounded run is min(max purchase ts, max error
    * ts) − 1 h, so exactly the purchases with
    * p_ts + 30 min < that watermark emit their null row — the oracle
    * states that cutoff; later purchases are (correctly) still held
    * in state when the input drains. */
  private val q84 = Q("q84_stream_outer_join",
    (s, dir) => graft.streaming.StreamJoin.runLeftOuterToCompletion(
      s, s"$dir/events.parquet", queryName = "q84_purchase_error_left"),
    Some("""WITH p AS (SELECT event_id AS p_id, user_id,
        epoch_ns(ts) // 1000 AS pts FROM events
        WHERE event_type = 'purchase'),
      e AS (SELECT event_id AS e_id, user_id AS e_user,
        epoch_ns(ts) // 1000 AS ets FROM events
        WHERE event_type = 'error'),
      w AS (SELECT least((SELECT max(pts) FROM p),
        (SELECT max(ets) FROM e)) - 3600000000 AS wm)
      SELECT p.p_id, e.e_id, p.user_id, e.ets - p.pts AS delta_us
      FROM p LEFT JOIN e
        ON p.user_id = e.e_user
       AND e.ets >= p.pts AND e.ets < p.pts + 1800000000
      WHERE e.e_id IS NOT NULL
         OR p.pts + 1800000000 < (SELECT wm FROM w)"""))

  /** §2.8 extension — transformWithState (Spark 4 arbitrary-state
    * API, RocksDB-backed): per-user ValueState counter assigns
    * monotone sequence numbers; deterministic, so the batch
    * row_number() oracle states the exact result. */
  private val q85 = Q("q85_transform_with_state",
    (s, dir) => graft.streaming.TransformWithStateOps.runSeqNo(
      s, s"$dir/events.parquet", queryName = "q85_events_seqno"),
    Some("""SELECT user_id, event_id,
      row_number() OVER (PARTITION BY user_id
        ORDER BY epoch_ns(ts) ASC, event_id ASC) AS seq_no
      FROM events"""))

  /** Distributed second moments, oracle-exact: l_quantity is
    * integer-valued, so n/Σq/Σq² are exact BIGINTs and the sample
    * variance comes out as an integral division, scaled ×1000
    * ((n·Σq²−(Σq)²)·1000 div (n·(n−1))). One map-side-combinable
    * aggregation — the single-pass sum/sumsq shape IS how
    * distributed variance merges (Spark's own var_samp keeps
    * (n, mean, M2) per partition and merges); for float columns at
    * 100 TB you'd use that built-in, this formulation exists to be
    * bit-checkable against the oracle. */
  private val q86 = Q("q86_moments",
    (s, dir) => {
      val q = col("l_quantity").cast("bigint")
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(q).as("s"), sum(q * q).as("ss"))
        .select(col("l_returnflag"), col("l_linestatus"), col("n"),
          expr("s * 1000 div n").as("mean_milli"),
          expr("(n * ss - s * s) * 1000 div (n * (n - 1))").as("var_milli"))
    },
    Some("""SELECT l_returnflag, l_linestatus, n,
      s * 1000 // n AS mean_milli,
      (n * ss - s * s) * 1000 // (n * (n - 1)) AS var_milli
      FROM (SELECT l_returnflag, l_linestatus,
        CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s,
        CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
          AS BIGINT) AS ss
        FROM lineitem GROUP BY 1, 2) z"""))

  /** Full-outer join with nulls on BOTH sides: big-spender order
    * aggregates vs low-balance customers — each side keeps rows the
    * other lacks. Same shuffle profile as the left join (hash both
    * sides on the key); at scale full-outer forbids broadcast, so the
    * sort-merge/shuffled-hash path this takes is the real plan. */
  private val q87 = Q("q87_full_outer",
    (s, dir) => {
      val big = t(s, dir, "orders")
        .filter(col("o_totalprice") > 250000)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_big_orders"))
      val low = t(s, dir, "customer")
        .filter(col("c_acctbal") < 1000)
        .select(col("c_custkey"), col("c_nationkey"))
      big.join(low, col("o_custkey") === col("c_custkey"), "full_outer")
        .select(coalesce(col("o_custkey"), col("c_custkey")).as("custkey"),
          coalesce(col("n_big_orders"), lit(0L)).as("n_big_orders"),
          col("c_nationkey").isNotNull.as("is_low_bal"))
    },
    Some("""SELECT COALESCE(o_custkey, c_custkey) AS custkey,
      CAST(COALESCE(n_big_orders, 0) AS BIGINT) AS n_big_orders,
      c_nationkey IS NOT NULL AS is_low_bal
      FROM (SELECT o_custkey, count(*) AS n_big_orders FROM orders
        WHERE o_totalprice > 250000 GROUP BY 1) b
      FULL OUTER JOIN (SELECT c_custkey, c_nationkey FROM customer
        WHERE c_acctbal < 1000) c
      ON o_custkey = c_custkey"""))

  /** Near-dup cluster collapse: q51's connected components, then one
    * keeper per cluster (max token count, min doc_id tiebreak) —
    * "dedup keep-one", the step a curation run actually ships. */
  private val q88 = Q("q88_cluster_keeper",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = Dedup.dupClusters(docs, "text", "doc_id",
        blockCols = Seq(col("lang"), expr("n_chars div 64")),
        n = 3, threshold = 0.6)
      graft.ext.Curation.clusterKeepers(docs, clusters, "text", "doc_id")
    },
    Some(s"""WITH RECURSIVE t AS (
        SELECT doc_id, lang || CAST(n_chars // 64 AS VARCHAR) AS blk,
          ${tokensSql("text")} AS toks
        FROM documents),
      g AS (
        SELECT doc_id, blk,
          list_distinct($trigramsSql) AS sh
        FROM t WHERE len(toks) >= 3),
      p AS (
        SELECT a.doc_id AS da, b.doc_id AS db
        FROM g a JOIN g b ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.6),
      e AS (SELECT da AS a, db AS b FROM p
            UNION ALL SELECT db, da FROM p),
      r AS (
        SELECT doc_id AS node, doc_id AS lbl FROM documents
        UNION
        SELECT e.b, r.lbl FROM r JOIN e ON r.node = e.a),
      c AS (SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
        FROM r GROUP BY node),
      s AS (SELECT c.cluster_id, c.doc_id,
          len(${tokensSql("d.text")}) AS ntok
        FROM c JOIN documents d ON c.doc_id = d.doc_id)
      SELECT cluster_id, doc_id AS keeper_id, n_docs FROM (
        SELECT cluster_id, doc_id,
          row_number() OVER (PARTITION BY cluster_id
            ORDER BY ntok DESC, doc_id ASC) AS rk,
          count(*) OVER (PARTITION BY cluster_id) AS n_docs
        FROM s) z WHERE rk = 1"""))

  /** End-to-end curation pipeline (ext.Curation.curate): language
    * gate → quality gate → normalized-key dedup → PII scrub → stats.
    * Every stage is individually oracle-verified (q28/q29/q21/q82);
    * this entry verifies the COMPOSITION. */
  private val q89 = Q("q89_curation_pipeline",
    (s, dir) => graft.ext.Curation.curate(
      t(s, dir, "documents"), "text", "doc_id"),
    Some(s"""WITH s AS (SELECT doc_id, text,
        len(${tokensSql("text")}) AS n,
        len(list_filter(string_split_regex(trim(text), '\\s+'),
          x -> x IN ('the','a','of','and','is'))) AS hits,
        len(regexp_replace(text, '\\s', '', 'g')) AS ink
        FROM documents),
      f AS (SELECT doc_id, text, n FROM s
        WHERE n > 0 AND hits * 1.0 / n >= 0.05
          AND (CASE WHEN len(text) = 0 THEN 0.0
            ELSE ink * 1.0 / len(text) END)
            * (least(n, 200) * 1.0 / 200.0) >= 0.2),
      d AS (SELECT doc_id, text, n, row_number() OVER (
          PARTITION BY lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))
          ORDER BY doc_id ASC) AS rn
        FROM f)
      SELECT doc_id, CAST(n AS INT) AS n_tokens,
        CAST(len(regexp_replace(text, '[0-9]+', '<NUM>', 'g')) AS INT)
          AS clean_chars
      FROM d WHERE rn = 1"""))

  /** RANGE window frame over an integer day ordinal: per customer,
    * rolling 30-day order total. RANGE (value-based) vs the ROWS frame
    * of q77 — the frame content depends on the ORDER BY value, not row
    * position; decimal sum stays order-insensitive. */
  private val q90 = Q("q90_range_frame",
    (s, dir) => {
      val day = datediff(col("o_orderdate"), to_date(lit("1990-01-01")))
      val w = Window.partitionBy(col("o_custkey")).orderBy(day)
        .rangeBetween(-30, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), day.as("day"),
          sum(col("o_totalprice").cast(dec2)).over(w)
            .cast(dec2).cast("string").as("sum_30d"))
    },
    Some("""SELECT o_orderkey, o_custkey,
      CAST(date_diff('day', DATE '1990-01-01', o_orderdate) AS INT) AS day,
      CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        PARTITION BY o_custkey
        ORDER BY date_diff('day', DATE '1990-01-01', o_orderdate)
        RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        AS DECIMAL(18,2)) AS VARCHAR) AS sum_30d
      FROM orders"""))

  /** Window-function battery: lag/lead/first/last (explicit full
    * frame), percent_rank, cume_dist — rank-derived doubles are
    * identical integer divisions in both engines. */
  private val q91 = Q("q91_window_battery",
    (s, dir) => {
      val ord = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      val full = ord.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val bal = col("c_acctbal").cast(dec2)
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          lag(bal, 1).over(ord).cast("string").as("prev_bal"),
          lead(bal, 1).over(ord).cast("string").as("next_bal"),
          first_value(col("c_custkey")).over(full).as("poorest"),
          last_value(col("c_custkey")).over(full).as("richest"),
          percent_rank().over(ord).as("pct_rank"),
          cume_dist().over(ord).as("cume"))
    },
    Some("""SELECT c_custkey, c_nationkey,
      CAST(lag(CAST(c_acctbal AS DECIMAL(18,2)), 1) OVER w AS VARCHAR) AS prev_bal,
      CAST(lead(CAST(c_acctbal AS DECIMAL(18,2)), 1) OVER w AS VARCHAR) AS next_bal,
      first_value(c_custkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        AND UNBOUNDED FOLLOWING) AS poorest,
      last_value(c_custkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        AND UNBOUNDED FOLLOWING) AS richest,
      percent_rank() OVER w AS pct_rank,
      cume_dist() OVER w AS cume
      FROM customer
      WINDOW w AS (PARTITION BY c_nationkey
        ORDER BY c_acctbal ASC, c_custkey ASC)"""))

  /** Schema-on-read JSON parsing: from_json with a declared schema
    * (typed struct access, not stringly get_json_object like q14). */
  private val q92 = Q("q92_json_struct",
    (s, dir) => eventsNs(s, dir)
      .select(col("event_id"),
        from_json(col("props"), lit("k INT")).getField("k").as("k"),
        (from_json(col("props"), lit("k INT")).getField("k") % 10)
          .as("k_mod")),
    Some("""SELECT event_id,
      CAST(json_extract_string(props, '$.k') AS INT) AS k,
      CAST(CAST(json_extract_string(props, '$.k') AS INT) % 10 AS INT) AS k_mod
      FROM events"""))

  /** Null semantics battery: nullif-derived null keys group together,
    * null-safe equality (<=> ⇔ IS NOT DISTINCT FROM), count(col) vs
    * count(*) null skipping. */
  private val q93 = Q("q93_null_semantics",
    (s, dir) => t(s, dir, "orders")
      .select(col("o_orderkey"),
        expr("nullif(o_orderstatus, 'O')").as("status_n"),
        col("o_totalprice"))
      .groupBy(col("status_n"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("status_n")).as("n_nonnull"),
        sum(when(col("status_n").isNull,
          col("o_totalprice").cast(dec2))).cast(dec2)
          .cast("string").as("open_total"))
      .withColumn("is_open_grp", col("status_n") <=> lit(null)),
    Some("""SELECT status_n, n_rows, n_nonnull, open_total,
      status_n IS NOT DISTINCT FROM NULL AS is_open_grp
      FROM (SELECT nullif(o_orderstatus, 'O') AS status_n,
        count(*) AS n_rows,
        count(nullif(o_orderstatus, 'O')) AS n_nonnull,
        CAST(CAST(sum(CASE WHEN nullif(o_orderstatus, 'O') IS NULL
          THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
          AS DECIMAL(18,2)) AS VARCHAR) AS open_total
        FROM orders GROUP BY 1) z"""))

  /** Edit-distance near-matches (classic Wagner-Fischer DP, identical
    * in both engines). Candidates come from an EQUI-join on a name-
    * length band: levenshtein ≤ 2 implies |len_a − len_b| ≤ 2, so side
    * b emits keys len−2..len+2 and side a joins on its exact length —
    * every qualifying pair matches exactly once, nothing quadratic in
    * the corpus, and the blocking is lossless (the oracle needs no
    * length predicate). Same candidate-then-verify discipline as q22. */
  private val q94 = Q("q94_levenshtein",
    (s, dir) => {
      val c = t(s, dir, "customer")
        .filter(col("c_nationkey") === 3 && col("c_acctbal") > 9000)
        .select(col("c_custkey"), col("c_name"),
          length(col("c_name")).as("_len"))
      val a = c.select(col("c_custkey").as("id_a"),
        col("c_name").as("name_a"), col("_len").as("_key"))
      val b = c.select(col("c_custkey").as("id_b"),
        col("c_name").as("name_b"),
        explode(sequence(col("_len") - 2, col("_len") + 2)).as("_key"))
      a.join(b, Seq("_key")).filter(col("id_a") < col("id_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
        .filter(col("dist") <= 2)
        .select(col("id_a"), col("id_b"), col("dist"))
    },
    Some("""SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
      CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
      FROM (SELECT c_custkey, c_name FROM customer
        WHERE c_nationkey = 3 AND c_acctbal > 9000) a
      JOIN (SELECT c_custkey, c_name FROM customer
        WHERE c_nationkey = 3 AND c_acctbal > 9000) b
      ON a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 2"""))

  /** Bitwise aggregates: per-group OR/AND/XOR of a line-number bitmask
    * plus popcount — commutative/associative, so partial aggregation
    * merges exactly. */
  private val q95 = Q("q95_bit_aggs",
    (s, dir) => {
      val mask = expr("shiftleft(CAST(1 AS BIGINT), CAST(l_linenumber AS INT))")
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(bit_or(mask).as("or_mask"),
          bit_and(mask).as("and_mask"),
          bit_xor(mask).as("xor_mask"))
        .withColumn("n_lines_seen", bit_count(col("or_mask")))
    },
    Some("""SELECT l_returnflag,
      CAST(bit_or(mask) AS BIGINT) AS or_mask,
      CAST(bit_and(mask) AS BIGINT) AS and_mask,
      CAST(bit_xor(mask) AS BIGINT) AS xor_mask,
      CAST(bit_count(bit_or(mask)) AS INT) AS n_lines_seen
      FROM (SELECT l_returnflag,
        (CAST(1 AS BIGINT) << CAST(l_linenumber AS INT)) AS mask
        FROM lineitem) z GROUP BY l_returnflag"""))

  /** §2.9 — custom Catalyst Generator (UDTF): pos_ngrams(text, n)
    * emits one row per word n-gram with its token position, through
    * the standard LATERAL VIEW syntax (GenerateExec; column pruning
    * survives around it). Restricted to every 20th doc to keep the
    * dump bounded. */
  private val q96 = Q("q96_udtf_ngrams",
    (s, dir) => {
      t(s, dir, "documents").filter(col("doc_id") % 20 === 0)
        .createOrReplaceTempView("q96_docs")
      s.sql("""SELECT doc_id, g.pos, g.gram
        FROM q96_docs LATERAL VIEW pos_ngrams(text, 3) g AS pos, gram""")
    },
    Some(s"""WITH t AS (SELECT doc_id,
        ${tokensSql("text")} AS toks
        FROM documents WHERE doc_id % 20 = 0),
      u AS (SELECT doc_id, toks,
          unnest(range(1, len(toks) - 1)) AS i
        FROM t WHERE len(toks) >= 3)
      SELECT doc_id, CAST(i - 1 AS INT) AS pos,
        array_to_string(toks[i:i+2], ' ') AS gram
      FROM u"""))

  /** Stream-static broadcast join (stateless): the events stream
    * enriched with the customer dim per micro-batch, aggregated per
    * nation × event type. Oracle = the equivalent batch join+agg. */
  private val q97 = Q("q97_stream_static_join",
    (s, dir) => EventsStream.runEnrichedToCompletion(
      s, s"$dir/events.parquet",
      t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
      "c_custkey", "c_nationkey", "q97_enriched"),
    Some("""SELECT c_nationkey, event_type, count(*) AS n,
      CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
        AS VARCHAR) AS sum_value
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY 1, 2"""))

  /** FULL OUTER stream-stream join: matched rows emit eagerly;
    * unmatched purchases null-pad once the watermark passes their join
    * window end (as in q84); unmatched errors null-pad once the
    * watermark passes their own event time (any matching purchase
    * would be late). The oracle states both cutoffs. */
  private val q98 = Q("q98_stream_full_outer",
    (s, dir) => graft.streaming.StreamJoin.runOuterToCompletion(
      s, s"$dir/events.parquet", "full_outer",
      queryName = "q98_purchase_error_full"),
    Some("""WITH p AS (SELECT event_id AS p_id, user_id,
        epoch_ns(ts) // 1000 AS pts FROM events
        WHERE event_type = 'purchase'),
      e AS (SELECT event_id AS e_id, user_id AS e_user,
        epoch_ns(ts) // 1000 AS ets FROM events
        WHERE event_type = 'error'),
      w AS (SELECT least((SELECT max(pts) FROM p),
        (SELECT max(ets) FROM e)) - 3600000000 AS wm)
      SELECT p.p_id, e.e_id,
        COALESCE(p.user_id, e.e_user) AS user_id,
        e.ets - p.pts AS delta_us
      FROM p FULL JOIN e
        ON p.user_id = e.e_user
       AND e.ets >= p.pts AND e.ets < p.pts + 1800000000
      WHERE (p.p_id IS NOT NULL AND e.e_id IS NOT NULL)
         OR (e.e_id IS NULL AND p.p_id IS NOT NULL
             AND p.pts + 1800000000 < (SELECT wm FROM w))
         OR (p.p_id IS NULL AND e.e_id IS NOT NULL
             AND e.ets < (SELECT wm FROM w))"""))

  // q99 (HLL sketch union chain) and q100 (theta sketch intersection)
  // RETIRED — sketch estimates are engine-specific, so they could only
  // ever get rows-only checks; merge==global, error-envelope, and
  // intersection accuracy stay spec-pinned (SketchSpec), and the exact
  // distinct/overlap semantics are oracled by q126.

  /** Inverted index build: token → sorted posting list + document
    * frequency. The classic IR/contamination-lookup artifact; one
    * explode + one hash aggregation, map-side combinable on token. At
    * 100 TB the only caution is posting-list skew for stopwords — the
    * df floor keeps the common terms but a production build would also
    * cap or shard the hottest lists (as q78's gram ownership does).
    * Lists ride as comma-joined strings so the oracle hash-compare is
    * representation-stable. */
  private val q101 = Q("q101_inverted_index",
    (s, dir) => t(s, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy(col("tok"))
      .agg(countDistinct(col("doc_id")).as("df"),
        concat_ws(",", transform(sort_array(collect_set(col("doc_id"))),
          x => x.cast("string"))).as("postings"))
      .filter(col("df") >= 10),
    Some(s"""WITH t AS (SELECT doc_id,
        unnest(${tokensSql("text")}) AS tok
        FROM documents WHERE doc_id % 10 = 0)
      SELECT tok, count(DISTINCT doc_id) AS df,
        array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
      FROM t GROUP BY tok HAVING count(DISTINCT doc_id) >= 10"""))

  /** The shared PQ CTE chain: deterministic codebook (corpus ids <
    * 16), per-(vector, subspace) squared-L2 to every codeword as the
    * same sequential fold Spark runs, argmin with the (d, c) tie
    * break. Replays [[graft.ext.Similarity.pqEncode]] bitwise. */
  private def pqOracleCte: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      cb AS (SELECT vec_id AS c, v AS cv FROM e WHERE vec_id < 16),
      pa AS (SELECT e.vec_id, cb.c, js.j,
          ${subDistFoldSql("e.v", "cb.cv", "js.j")} AS d
        FROM e CROSS JOIN cb CROSS JOIN (SELECT unnest(range(0, 8)) AS j) js),
      sel AS (SELECT vec_id, j, c, d FROM (
          SELECT vec_id, j, c, d,
            row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
          FROM pa) z
        WHERE rn = 1)"""

  /** Product-quantization encode over the embeddings corpus: 8
    * subspaces x 16 codewords (corpus ids < 16 as the deterministic
    * codebook — see pqEncode's scaladoc). codes ride as a comma string
    * for representation-stable hashing; err is the pinned left-assoc
    * chain of per-subspace distances. */
  private val q102 = Q("q102_pq_encode",
    (s, dir) => Similarity.pqEncode(t(s, dir, "embeddings"),
      "vec_id", "embedding")
      .select(col("_id").as("vec_id"),
        concat_ws(",", col("codes").cast("array<string>")).as("codes"),
        col("err")),
    Some(pqOracleCte + s"""
      SELECT vec_id,
        array_to_string(list(c ORDER BY j), ',') AS codes,
        ${foldSql("list(d ORDER BY j)")} AS err
      FROM sel GROUP BY vec_id"""))

  /** PQ asymmetric-distance top-5 for the first 10 query vectors:
    * candidates scanned as codes only, per-query distance table against
    * the broadcast codebook, rank by the chained table-lookup sum. The
    * oracle recomputes each candidate's chosen codewords and folds the
    * identical per-subspace distances, so ranks hash-match exactly. */
  private val q103 = Q("q103_pq_adc_topk",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqAdcTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", topK = 5)
    },
    Some(pqOracleCte + s""",
      q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
      tj AS (SELECT s.vec_id, q.q_id, s.j,
          ${subDistFoldSql("q.qv", "cb.cv", "s.j")} AS t
        FROM sel s JOIN cb ON cb.c = s.c CROSS JOIN q),
      dist AS (SELECT q_id, vec_id AS n_id,
          ${foldSql("list(t ORDER BY j)")} AS d
        FROM tj GROUP BY q_id, vec_id)
      SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
        SELECT q_id, n_id,
          row_number() OVER (PARTITION BY q_id ORDER BY d, n_id) AS rank
        FROM dist WHERE n_id <> q_id) z
      WHERE rank <= 5"""))

  /** Token-budget sequence packing (1024-token shards over doc order):
    * the Spark side runs the distributed two-phase prefix sum
    * (bucketed running sums + cumulative bucket offsets — see
    * [[graft.ext.Packing]]); the oracle is the plain global window it
    * must equal. */
  private val q104 = Q("q104_pack_budget",
    (s, dir) => Packing.packBudget(t(s, dir, "documents"), "doc_id",
      TextAnalysis.tokenCount(col("text")), budget = 1024L, bucketSpan = 64L)
      .withColumnRenamed("_id", "doc_id"),
    Some(s"""WITH d AS (SELECT doc_id,
        CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (SELECT doc_id, n_tokens,
        CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
        FROM d)
      SELECT doc_id, n_tokens, start, start // 1024 AS shard,
        start % 1024 AS shard_offset,
        (start % 1024) + n_tokens > 1024 AS spills
      FROM c"""))

  /** Domain-mixture sample to a 40/25/20/15 target over four sources:
    * quotas derive from the live per-domain counts (scale = the
    * binding domain kept whole), membership from the deterministic
    * hash rank — both replayed verbatim by the oracle. */
  private val q105 = Q("q105_mixture_sample",
    (s, dir) => Sampling.mixtureSample(t(s, dir, "documents"),
      "doc_id", "source",
      Map("src0" -> 0.4, "src1" -> 0.25, "src2" -> 0.2, "src3" -> 0.15)),
    Some(s"""WITH w(source, wt) AS (VALUES
        ('src0', 0.4), ('src1', 0.25), ('src2', 0.2), ('src3', 0.15)),
      c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source),
      cw AS (SELECT c.source, cnt, wt FROM c JOIN w USING (source)),
      s AS (SELECT min(CAST(cnt AS DOUBLE) / wt) AS scale FROM cw),
      k AS (SELECT source, CAST(floor(wt * (SELECT scale FROM s)) AS BIGINT) AS keep
        FROM cw),
      r AS (SELECT d.doc_id, d.source, k.keep,
          row_number() OVER (PARTITION BY d.source
            ORDER BY ${knuthSql("d.doc_id")},
              d.doc_id) AS rn
        FROM documents d JOIN k USING (source))
      SELECT doc_id, source FROM r WHERE rn <= keep"""))

  /** Column-profile battery over documents (exact mode): one scan,
    * long-format audit rows. The oracle is the per-column UNION ALL
    * the exploded wide row must equal. */
  private val q106 = Q("q106_profile",
    (s, dir) => Profiling.profile(t(s, dir, "documents"),
      Seq("doc_id", "lang", "source", "n_chars")),
    Some {
      val cols = Seq("doc_id", "lang", "source", "n_chars")
      cols.map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
          count(*) - count($c) AS n_nulls,
          count(DISTINCT $c) AS n_distinct,
          CAST(min($c) AS VARCHAR) AS min_s,
          CAST(max($c) AS VARCHAR) AS max_s
        FROM documents"""
      }.mkString("\nUNION ALL\n")
    })

  /** Doc-level train-vs-eval decontamination: cross-corpus blocked
    * Jaccard (eval = doc_id % 3 = 0 as the held-out benchmark split),
    * q22's blocks and threshold. train_id rows surviving here are the
    * training documents a pipeline must drop. */
  private val q107 = Q("q107_decontaminate",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.crossJaccardPairs(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0),
        "text", "doc_id",
        blockCols = Seq(col("lang"), expr("n_chars div 64")),
        n = 3, threshold = 0.6)
        .select(col("left_id").as("train_id"),
          col("right_id").as("eval_id"), col("jaccard"))
    },
    Some(s"""WITH t AS (
        SELECT doc_id, lang || CAST(n_chars // 64 AS VARCHAR) AS blk,
          ${tokensSql("text")} AS toks
        FROM documents),
      g AS (
        SELECT doc_id, blk,
          list_distinct($trigramsSql) AS sh
        FROM t WHERE len(toks) >= 3)
      SELECT train_id, eval_id, jaccard FROM (
        SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
          len(list_intersect(a.sh, b.sh)) * 1.0 /
            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        FROM g a JOIN g b ON a.blk = b.blk
          AND a.doc_id % 3 <> 0 AND b.doc_id % 3 = 0) z
      WHERE jaccard >= 0.6"""))

  /** Epoch shuffle (seed 1): global permutation rank over the seeded
    * hash order, round-robin into 8 shards. The Spark side reconstructs
    * the rank from bucketed partials; the oracle is the global window
    * it must equal. */
  private val q109 = Q("q109_epoch_shuffle",
    (s, dir) => Packing.epochShuffle(t(s, dir, "documents"), "doc_id",
      nShards = 8, seed = 1L)
      .withColumnRenamed("_id", "doc_id"),
    Some("""SELECT doc_id,
        row_number() OVER (ORDER BY
          ((doc_id + 1) % 2147483648) * 2654435761 % 2147483647,
          doc_id) - 1 AS ord,
        (row_number() OVER (ORDER BY
          ((doc_id + 1) % 2147483648) * 2654435761 % 2147483647,
          doc_id) - 1) % 8 AS shard
      FROM documents"""))

  /** Packed-sequence materialization: q104's shard assignment joined
    * back to the text, concatenated in offset order with an EOS
    * separator — the training blobs themselves. The oracle's ordered
    * string_agg must byte-match the sorted-struct concat. */
  private val q110 = Q("q110_pack_materialize",
    (s, dir) => Packing.packMaterialize(t(s, dir, "documents"),
      "doc_id", "text", TextAnalysis.tokenCount(col("text")),
      budget = 1024L, bucketSpan = 64L),
    Some(s"""WITH d AS (SELECT doc_id, text,
        CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (SELECT doc_id, text, n_tokens,
        CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
        FROM d)
      SELECT start // 1024 AS shard, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        string_agg(text, ' <eos> ' ORDER BY start) AS packed
      FROM c GROUP BY start // 1024"""))

  /** BM25 scores for a 3-term query over the documents corpus:
    * integer-rational idf (ln-free), one pinned double expression per
    * term, ascending-term fold per document — hash-exact across
    * engines. */
  private val q112 = Q("q112_bm25",
    (s, dir) => TextAnalysis.bm25Scores(t(s, dir, "documents"),
      "text", "doc_id", terms = Seq("key", "spark", "table"))
      .withColumnRenamed("_id", "doc_id"),
    Some {
      val (k1, b) = (1.2, 0.75)
      s"""WITH tk AS (SELECT doc_id,
          ${tokensSql("text")} AS tk
          FROM documents),
        dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM tk),
        st AS (SELECT CAST(count(*) AS BIGINT) AS nd,
            CAST(sum(dl) AS BIGINT) AS sd FROM dl),
        tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf FROM (
            SELECT doc_id, unnest(tk) AS t FROM tk) z
          WHERE t IN ('key', 'spark', 'table') GROUP BY doc_id, t),
        dfs AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t),
        sc AS (SELECT f.doc_id, f.t,
            CAST(((st.nd - d.df) * 2000000 + 1000000) // (2 * d.df + 1) AS DOUBLE)
              * (CAST(f.tf AS DOUBLE) * ${k1 + 1.0})
              / (CAST(f.tf AS DOUBLE) + $k1 * (1.0 - $b + $b
                * (CAST(l.dl AS DOUBLE)
                  / (CAST(st.sd AS DOUBLE) / CAST(st.nd AS DOUBLE))))) AS s
          FROM tf f JOIN dfs d USING (t) JOIN dl l USING (doc_id) CROSS JOIN st)
        SELECT doc_id,
          ${foldSql("list(s ORDER BY t)")} AS bm25_micro
        FROM sc GROUP BY doc_id"""
    })

  /** The end-to-end training-prep composition: q89's gates + dedup on
    * the train split, q107's decontamination of the survivors against
    * the eval split, q104's packing of what remains. The oracle
    * replays the whole chain — the composition itself is what's
    * verified. */
  private val q113 = Q("q113_train_prep",
    (s, dir) => graft.ext.Curation.trainPrep(t(s, dir, "documents"),
      "text", "doc_id", evalPred = col("doc_id") % 3 === 0,
      blockCols = Seq(col("lang"), expr("n_chars div 64")),
      n = 3, threshold = 0.6, budget = 1024L),
    Some(s"""WITH s AS (SELECT doc_id, text,
        len(${tokensSql("text")}) AS n,
        len(list_filter(string_split_regex(trim(text), '\\s+'),
          x -> x IN ('the','a','of','and','is'))) AS hits,
        len(regexp_replace(text, '\\s', '', 'g')) AS ink
        FROM documents WHERE doc_id % 3 <> 0),
      f AS (SELECT doc_id, text, n FROM s
        WHERE n > 0 AND hits * 1.0 / n >= 0.05
          AND (CASE WHEN len(text) = 0 THEN 0.0
            ELSE ink * 1.0 / len(text) END)
            * (least(n, 200) * 1.0 / 200.0) >= 0.2),
      d AS (SELECT doc_id, n, row_number() OVER (
          PARTITION BY lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))
          ORDER BY doc_id ASC) AS rn
        FROM f),
      cur AS (SELECT doc_id, CAST(n AS BIGINT) AS n_tokens FROM d WHERE rn = 1),
      t2 AS (SELECT doc_id, lang || CAST(n_chars // 64 AS VARCHAR) AS blk,
          ${tokensSql("text")} AS toks
        FROM documents),
      g AS (SELECT doc_id, blk,
          list_distinct($trigramsSql) AS sh
        FROM t2 WHERE len(toks) >= 3),
      bad AS (SELECT DISTINCT a.doc_id FROM g a JOIN g b
        ON a.blk = b.blk AND b.doc_id % 3 = 0
          AND a.doc_id IN (SELECT doc_id FROM cur)
          AND len(list_intersect(a.sh, b.sh)) * 1.0 /
            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.6),
      keep AS (SELECT doc_id, n_tokens FROM cur
        WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
      c AS (SELECT doc_id, n_tokens,
        CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
        FROM keep)
      SELECT doc_id, n_tokens, start, start // 1024 AS shard FROM c"""))

  /** SemDeDup semantic dedup over the embeddings corpus: cluster with
    * the deterministic coarse quantizer, drop within-cell vectors with
    * a lower-id cell-mate at cosine ≥ 0.4, keep the min-id exemplar.
    * Cells, pairs, and the kept flag are all deterministic → full
    * hash oracle. */
  private val q116 = Q("q116_semdedup",
    (s, dir) => Similarity.semDeDup(t(s, dir, "embeddings"),
      "vec_id", "embedding", threshold = 0.4, nCells = 16),
    Some(cosineOracleCte + s""",
      ${semDeDupCtes(0.4)}
      SELECT a.n_id AS vec_id, a.cell AS cell,
        CAST(CASE WHEN d.id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
      FROM asg a LEFT JOIN dropped d ON d.id = a.n_id"""))

  /** Shared DuckDB replay of [[graft.ext.Similarity.semDeDup]]'s
    * cells/pairs/dropped set (needs `cosineOracleCte`'s `n`). */
  private def semDeDupCtes(threshold: Double): String =
    s"""cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n
        ORDER BY vec_id ASC LIMIT 16),
      asg AS (SELECT n_id, v, nrm, cell FROM (
        SELECT n.vec_id AS n_id, n.v, n.nrm, cent.cent_id AS cell,
          $centroidRankSql AS cr
        FROM n CROSS JOIN cent) z WHERE cr = 1),
      dropped AS (SELECT DISTINCT b.n_id AS id
        FROM asg a JOIN asg b ON a.cell = b.cell AND a.n_id < b.n_id
        WHERE (${dotFoldSql("a.v", "b.v")} / sqrt(a.nrm * b.nrm))
          >= $threshold)"""

  /** Cross-modal semantic curation: semDeDup keepers (q116) gate the
    * DOCUMENT corpus, then the q113 quality formula and token stats
    * run on the survivors — embedding-space dedup deciding which texts
    * enter the training pool. */
  private val q121 = Q("q121_semantic_curation",
    (s, dir) => graft.ext.Curation.semanticCurate(
      t(s, dir, "documents"), "text", "doc_id",
      t(s, dir, "embeddings"), "vec_id", "embedding",
      threshold = 0.4, nCells = 16, minQuality = 0.2),
    Some(cosineOracleCte + s""",
      ${semDeDupCtes(0.4)},
      keep AS (SELECT a.n_id AS doc_id, a.cell FROM asg a
        WHERE a.n_id NOT IN (SELECT id FROM dropped)),
      s AS (SELECT d.doc_id, k.cell,
          len(${tokensSql("d.text")}) AS ntok,
          len(regexp_replace(d.text, '\\s', '', 'g')) AS ink,
          len(d.text) AS lt
        FROM documents d JOIN keep k ON k.doc_id = d.doc_id)
      SELECT doc_id, cell, CAST(ntok AS INT) AS n_tokens FROM s
      WHERE (CASE WHEN lt = 0 THEN 0.0 ELSE ink * 1.0 / lt END)
        * (least(ntok, 200) * 1.0 / 200.0) >= 0.2"""))

  /** Shared DuckDB replay of [[graft.ext.Similarity.pqTrainCodebook]]
    * at iters = 2: assignment round (cosine argmax, lowest-id ties) →
    * fixed-point mean round, twice; `c2` is the trained codebook
    * (cent_id, c DOUBLE[]). Requires `cosineOracleCte`'s `n`. */
  private def kmeansTwoRoundsSql: String =
    kmeansTwoRoundsSqlOver("n", "vec_id",
      """c0 AS (SELECT vec_id AS cent_id, v AS c, nrm AS cn FROM n
        ORDER BY vec_id ASC LIMIT 16)""")

  /** Two fixed-point spherical k-means rounds over an arbitrary
    * `(id, v, nrm)` base table with an arbitrary init CTE (`c0`) —
    * the q117/q120 raw-space rounds and q143's residual-space rounds
    * share this generator. Emits CTEs a1/m1/c1/c1n/a2/m2/c2; `c2` is
    * the trained codebook (cent_id, c). */
  private def kmeansTwoRoundsSqlOver(base: String, id: String,
      c0Sql: String): String = {
    def meanRound(asg: String, out: String): String =
      s"""m$out AS (SELECT cell, i.i AS pos, count(*) AS cnt,
          CAST(sum(CAST(floor(a.v[i.i] * 1000000.0 + 0.5) AS BIGINT))
            AS BIGINT) AS s
        FROM $asg a CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY cell, i.i),
      c$out AS (SELECT cell AS cent_id,
          list(CAST(floor(s * 1000.0 / cnt) AS BIGINT) / 1000000000.0
            ORDER BY pos) AS c
        FROM m$out GROUP BY cell)"""
    def assignRound(cents: String, out: String): String =
      s"""a$out AS (SELECT n_id, v, cell FROM (
        SELECT b.$id AS n_id, b.v, t.cent_id AS cell,
          row_number() OVER (PARTITION BY b.$id ORDER BY
            (${dotFoldSql("b.v", "t.c")} / sqrt(b.nrm * t.cn)) DESC,
            t.cent_id ASC) AS cr
        FROM $base b CROSS JOIN $cents t) z WHERE cr = 1)"""
    s"""$c0Sql,
      ${assignRound("c0", "1")},
      ${meanRound("a1", "1")},
      c1n AS (SELECT cent_id, c, ${dotFoldSql("c", "c")} AS cn FROM c1),
      ${assignRound("c1n", "2")},
      ${meanRound("a2", "2")}"""
  }

  /** The trained-PQ pipeline (train → encode): 2 rounds of fixed-point
    * spherical k-means produce the codebook, then PQ-encode the corpus
    * against it. The fixed-point means (micro-unit long sums,
    * floor(s·1000/n), /1e9) make the TRAINED centroids — not just the
    * assignment — exactly replayable, so the oracle recomputes the
    * whole chain: both k-means rounds, the codebook, every subspace
    * argmin, and the err fold. */
  private val q117 = Q("q117_pq_trained",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = Similarity.pqTrainCodebook(emb, "vec_id", "embedding",
          nCodewords = 16, iters = 2, dim = 64)
        .select(col("cent_id").as("_cb"), col("_c").as("_cv"))
      Similarity.pqEncodeWith(emb, "vec_id", "embedding", cb)
        .select(col("_id").as("vec_id"),
          concat_ws(",", col("codes").cast("array<string>")).as("codes"),
          col("err"))
    },
    Some {
      cosineOracleCte + s""",
      $kmeansTwoRoundsSql,
      pa AS (SELECT e.vec_id, cb.cent_id AS cc, js.j,
          ${subDistFoldSql("e.v", "cb.c", "js.j")} AS d
        FROM e CROSS JOIN c2 cb
        CROSS JOIN (SELECT unnest(range(0, 8)) AS j) js),
      sel AS (SELECT vec_id, j, cc, d FROM (
          SELECT vec_id, j, cc, d,
            row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cc) AS rn
          FROM pa) z WHERE rn = 1)
      SELECT vec_id,
        array_to_string(list(cc ORDER BY j), ',') AS codes,
        ${foldSql("list(d ORDER BY j)")} AS err
      FROM sel GROUP BY vec_id"""
    })

  /** MinHash-LSH near-dup pairs with the ENGINE-PORTABLE hash chain:
    * rolling-polynomial shingle ids, public (a_j, b_j) permutation
    * literals, raw signature-slice band keys. Unlike q23 (xxhash64 →
    * rows-only) the FULL recall surface — signatures, buckets,
    * candidates, verify — replays in DuckDB and hash-matches. */
  private val q118 = Q("q118_minhash_portable",
    (s, dir) => Dedup.minHashLshPairsPortable(t(s, dir, "documents"),
      "text", "doc_id", n = 3, numPerms = 16, rowsPerBand = 4,
      threshold = 0.5),
    Some(portableLshBkCtes() + s""",
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bk a JOIN bk b
          ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id)
      SELECT doc_a, doc_b, jaccard FROM (
        SELECT c.doc_a, c.doc_b,
          len(list_intersect(x.sh, y.sh)) * 1.0 /
            (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS jaccard
        FROM cand c JOIN g x ON x.doc_id = c.doc_a
        JOIN g y ON y.doc_id = c.doc_b) z
      WHERE jaccard >= 0.5"""))

  /** Shared DuckDB CTE chain of the portable MinHash-LSH family
    * (q118/q136): whitespace tokens → distinct word trigrams → rolling
    * polynomial shingle ids → 16-perm signature (the public seeded
    * (a_j, b_j) literals) → 4-band raw-slice bucket keys
    * `bk(doc_id, band, bk)`; `g(doc_id, sh)` carries the shingle sets
    * for the exact-Jaccard verify. `rowsPerBand` tunes the band shape
    * (16/rowsPerBand bands): 4 is the dedup default; q170 drops to 2
    * for a looser candidate net that admits verify-failures. */
  private def portableLshBkCtes(rowsPerBand: Int = 4,
      where: String = ""): String = {
    val (as, bs) = graft.functions.MinHashSig.perms(16, 42L)
    val nBands = 16 / rowsPerBand
    val sigSql = (0 until 16).map(j =>
      s"list_min([(h * ${as(j)} + ${bs(j)}) % 2147483647 FOR h IN hs])")
      .mkString("[", ",\n        ", "]")
    val bandsSql = (0 until nBands).map(b =>
      s"SELECT doc_id, $b AS band, " +
        s"array_to_string(sig[${b * rowsPerBand + 1}:" +
        s"${b * rowsPerBand + rowsPerBand}], ',') AS bk FROM s")
      .mkString("\n        UNION ALL ")
    s"""WITH t AS (SELECT doc_id,
        ${tokensSql("text")} AS toks
      FROM documents $where),
      g AS (SELECT doc_id,
          list_distinct($trigramsSql) AS sh
        FROM t WHERE len(toks) >= 3),
      h AS (SELECT doc_id, sh,
          [list_reduce(list_prepend(CAST(0 AS BIGINT),
            [CAST(ord(x[i]) AS BIGINT) FOR i IN range(1, len(x) + 1)]),
            (a, c) -> (a * 31 + c) % 1000000007) FOR x IN sh] AS hs
        FROM g),
      s AS (SELECT doc_id, $sigSql AS sig FROM h),
      bk AS ($bandsSql)"""
  }

  /** ANN quality dashboard: per-query recall@3 of the LSH bucket scan
    * (q27's pipeline) against the exact brute-force ranking (q25's).
    * Both rankings are deterministic, so the recall surface itself —
    * not just each ranking — gets a hash oracle. */
  private val q119 = Q("q119_ann_recall",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 100)
      Similarity.recallAtK(
        Similarity.lshTopK(q, emb, "vec_id", "embedding", k = 3,
          nPlanes = 8, dim = 64),
        Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 3),
        k = 3)
    },
    Some {
      val planes = Similarity.bandPlanes(nBands = 1, planesPerBand = 8,
        dim = 64, seed = 7L).head
      cosineOracleCte + s""",
      b AS (SELECT vec_id, v, nrm, ${lshBucketSql(planes)} AS bucket FROM n),
      apx AS (SELECT q_id, n_id FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id,
          $cosineRankSql AS rank
        FROM b q JOIN b c ON q.bucket = c.bucket
          AND q.vec_id < 100 AND c.vec_id <> q.vec_id) z
      WHERE rank <= 3),
      ext AS (SELECT q_id, n_id FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id,
          $cosineRankSql AS rank
        FROM n q JOIN n c ON q.vec_id < 100 AND c.vec_id <> q.vec_id) z
      WHERE rank <= 3)
      SELECT e.q_id,
        CAST(sum(CASE WHEN a.n_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
          AS n_hit,
        sum(CASE WHEN a.n_id IS NULL THEN 0 ELSE 1 END) * 1.0 / count(*)
          AS recall
      FROM ext e LEFT JOIN apx a ON a.q_id = e.q_id AND a.n_id = e.n_id
      GROUP BY e.q_id"""
    })

  /** The full trained IVF-PQ probe (train → encode → probe): q117's
    * trained codebook drives q114's cell-pruned ADC search. Every
    * stage is deterministic — k-means rounds, coarse cells, codes,
    * ADC folds, ranks — so the composed result hash-matches. */
  private val q120 = Q("q120_ivfpq_trained",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = Similarity.pqTrainCodebook(emb, "vec_id", "embedding",
          nCodewords = 16, iters = 2, dim = 64)
        .select(col("cent_id").as("_cb"), col("_c").as("_cv"))
      Similarity.ivfPqTopKWith(emb.filter(col("vec_id") < 50), emb,
        "vec_id", "embedding", k = 3, cb, nCells = 16, nProbe = 2)
    },
    Some(cosineOracleCte + s""",
      $kmeansTwoRoundsSql,
      cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n
        ORDER BY vec_id ASC LIMIT 16),
      asg AS (SELECT n_id, cell FROM (
        SELECT n.vec_id AS n_id, cent.cent_id AS cell,
          $centroidRankSql AS cr
        FROM n CROSS JOIN cent) z WHERE cr = 1),
      pa AS (SELECT e.vec_id, cb.cent_id AS cc, js.j,
          ${subDistFoldSql("e.v", "cb.c", "js.j")} AS d
        FROM e CROSS JOIN c2 cb
        CROSS JOIN (SELECT unnest(range(0, 8)) AS j) js),
      sel AS (SELECT vec_id, j, cc FROM (
          SELECT vec_id, j, cc,
            row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cc) AS rn
          FROM pa) z WHERE rn = 1),
      prb AS (SELECT q_id, qv, cell FROM (
        SELECT n.vec_id AS q_id, n.v AS qv, cent.cent_id AS cell,
          $centroidRankSql AS pr
        FROM n CROSS JOIN cent WHERE n.vec_id < 50) z WHERE pr <= 2),
      tj AS (SELECT s.vec_id, p.q_id, s.j,
          ${subDistFoldSql("p.qv", "cb.c", "s.j")} AS t
        FROM sel s JOIN c2 cb ON cb.cent_id = s.cc
        JOIN asg a ON a.n_id = s.vec_id
        JOIN prb p ON p.cell = a.cell),
      dist AS (SELECT q_id, vec_id AS n_id,
          ${foldSql("list(t ORDER BY j)")} AS d
        FROM tj GROUP BY q_id, vec_id)
      SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
        SELECT q_id, n_id,
          row_number() OVER (PARTITION BY q_id ORDER BY d, n_id) AS rank
        FROM dist WHERE n_id <> q_id) z
      WHERE rank <= 3"""))

  /** Context-window chunking (window 64, overlap 16): the map-only
    * long-document split before packing. Slices, counts, and the
    * joined chunk text all replay in SQL. */
  private val q122 = Q("q122_doc_chunking",
    (s, dir) => Packing.chunkDocs(t(s, dir, "documents"),
      "text", "doc_id", window = 64, overlap = 16),
    Some(s"""WITH t AS (SELECT doc_id,
        ${tokensSql("text")} AS toks
      FROM documents),
      c AS (SELECT doc_id, toks,
        unnest(range(0, ((len(toks) - 1) // 48) + 1)) AS chunk_id
      FROM t WHERE len(toks) > 0)
      SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
        CAST(len(toks[chunk_id * 48 + 1 :
          least(chunk_id * 48 + 64, len(toks))]) AS INT) AS n_tokens,
        array_to_string(toks[chunk_id * 48 + 1 :
          least(chunk_id * 48 + 64, len(toks))], ' ') AS chunk
      FROM c"""))

  /** Chunk-then-pack composition: q122's windows (no overlap) become
    * the packing units — the actual long-document training-shard
    * layout. Chunk keys are doc_id·1024 + chunk_id, so the pack order
    * and the two-phase prefix sum replay exactly. */
  private val q123 = Q("q123_chunk_pack",
    (s, dir) => {
      val chunks = Packing.chunkDocs(t(s, dir, "documents"),
          "text", "doc_id", window = 64, overlap = 0)
        .select((col("doc_id") * 1024 + col("chunk_id")).as("ck"),
          col("n_tokens"))
      Packing.packBudget(chunks, "ck", col("n_tokens"), budget = 512L)
        .select(col("_id").as("chunk_key"), col("n_tokens"),
          col("start"), col("shard"))
    },
    Some(s"""WITH t AS (SELECT doc_id,
        ${tokensSql("text")} AS toks
      FROM documents),
      c AS (SELECT doc_id, toks,
        unnest(range(0, ((len(toks) - 1) // 64) + 1)) AS chunk_id
      FROM t WHERE len(toks) > 0),
      k AS (SELECT doc_id * 1024 + chunk_id AS ck,
        CAST(len(toks[chunk_id * 64 + 1 :
          least(chunk_id * 64 + 64, len(toks))]) AS BIGINT) AS n_tokens
      FROM c),
      p AS (SELECT ck, n_tokens,
        CAST(coalesce(sum(n_tokens) OVER (ORDER BY ck
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS start
      FROM k)
      SELECT ck AS chunk_key, n_tokens, start, start // 512 AS shard
      FROM p"""))

  /** 2-D Morton (Z-order) clustering key over (orderkey, partkey) —
    * the data-layout key behind `Layout.writeZOrdered`'s two-column
    * row-group pruning. The oracle replays the magic-number bit
    * spread exactly (inputs normalized below 2^30 so no shift ever
    * touches the sign bit on either engine). */
  private val q124 = Q("q124_zorder_key",
    (s, dir) => t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"),
        graft.functions.ZOrder64(
          pmod(col("l_orderkey"), lit(1073741824L)).cast("long"),
          pmod(col("l_partkey"), lit(1073741824L)).cast("long")).as("z")),
    Some {
      def spreadSql(v: String): String = Seq(
        (16, "281470681808895"), (8, "71777214294589695"),
        (4, "1085102592571150095"), (2, "3689348814741910323"),
        (1, "6148914691236517205"))
        .foldLeft(s"($v & 4294967295)") { case (acc, (sh, mask)) =>
          s"(($acc | ($acc << $sh)) & $mask)"
        }
      val sx = spreadSql("(l_orderkey % 1073741824)")
      val sy = spreadSql("(l_partkey % 1073741824)")
      s"""SELECT l_orderkey, l_partkey, ($sx | ($sy << 1)) AS z
      FROM lineitem"""
    })

  /** Temperature-scaled domain mixing at α = 0.5 (w_d ∝ √count_d —
    * IEEE sqrt is correctly rounded on both engines, so the quotas
    * and the hash-rank picks replay exactly). */
  private val q125 = Q("q125_temperature_sample",
    (s, dir) => Sampling.temperatureSample(t(s, dir, "documents"),
      "doc_id", "lang", alpha = 0.5),
    Some(s"""WITH c AS (SELECT lang, count(*) AS cnt FROM documents
        GROUP BY lang),
      w AS (SELECT lang, cnt, sqrt(CAST(cnt AS DOUBLE)) AS wt FROM c),
      s AS (SELECT min(CAST(cnt AS DOUBLE) / wt) AS scale FROM w),
      k AS (SELECT lang,
        CAST(floor(wt * (SELECT scale FROM s)) AS BIGINT) AS keep FROM w),
      r AS (SELECT d.doc_id, d.lang, k.keep,
          row_number() OVER (PARTITION BY d.lang
            ORDER BY ${knuthSql("d.doc_id")},
              d.doc_id) AS rn
        FROM documents d JOIN k USING (lang))
      SELECT doc_id, lang FROM r WHERE rn <= keep"""))

  /** Count-min heavy hitters with portable hashes: unlike the
    * engine-specific HLL/theta sketches (q99/q100, rows-only), every
    * CMS cell and estimate replays in SQL — a sketch with a full hash
    * oracle. cms_est ≥ n_exact by construction. */
  private val q126 = Q("q126_countmin_hitters",
    (s, dir) => TextAnalysis.cmsHeavyHitters(t(s, dir, "documents"),
      "text", minCount = 20L),
    Some {
      val (as, bs) = graft.functions.MinHashSig.perms(4, 11L)
      val pRows = (0 until 4).map(j => s"($j, ${as(j)}, ${bs(j)})")
        .mkString(", ")
      val cellsSql = (0 until 4).map(j =>
        s"SELECT $j AS rw, ((hv * ${as(j)} + ${bs(j)}) % 2147483647) % 512" +
          s" AS cl, count(*) AS cnt FROM h GROUP BY 1, 2")
        .mkString("\n        UNION ALL ")
      s"""WITH t AS (SELECT unnest(list_filter(
          string_split_regex(trim(text), '\\s+'), x -> len(x) > 0)) AS tok
        FROM documents),
      h AS (SELECT tok, list_reduce(list_prepend(CAST(0 AS BIGINT),
          [CAST(ord(tok[i]) AS BIGINT) FOR i IN range(1, len(tok) + 1)]),
          (a, c) -> (a * 31 + c) % 1000000007) AS hv FROM t),
      cells AS ($cellsSql),
      ex AS (SELECT tok, count(*) AS n_exact FROM t GROUP BY tok
        HAVING count(*) >= 20),
      hh AS (SELECT DISTINCT tok, hv FROM h),
      p(j, a, b) AS (VALUES $pRows)
      SELECT e.tok, CAST(e.n_exact AS BIGINT) AS n_exact,
        CAST(min(c.cnt) AS BIGINT) AS cms_est
      FROM ex e JOIN hh ON hh.tok = e.tok
      CROSS JOIN p
      JOIN cells c ON c.rw = p.j
        AND c.cl = ((hh.hv * p.a + p.b) % 2147483647) % 512
      GROUP BY e.tok, e.n_exact"""
    })

  /** The full iterated spherical k-means (2 fixed-point training
    * rounds + final assignment) — previously spec-only because the
    * means were order-dependent doubles; the fixed-point loop makes
    * the WHOLE iteration replayable, assignments and cosines included. */
  private val q127 = Q("q127_kmeans_iterate",
    (s, dir) => Similarity.kmeansIterate(t(s, dir, "embeddings"),
      "vec_id", "embedding", nCells = 16, iters = 2, dim = 64),
    Some(cosineOracleCte + s""",
      $kmeansTwoRoundsSql,
      c2n AS (SELECT cent_id, c, ${dotFoldSql("c", "c")} AS cn FROM c2)
      SELECT n_id, cell, sim AS cos_to_centroid FROM (
        SELECT n.vec_id AS n_id, t.cent_id AS cell,
          (${dotFoldSql("n.v", "t.c")} / sqrt(n.nrm * t.cn)) AS sim,
          row_number() OVER (PARTITION BY n.vec_id ORDER BY
            (${dotFoldSql("n.v", "t.c")} / sqrt(n.nrm * t.cn)) DESC,
            t.cent_id ASC) AS cr
        FROM n CROSS JOIN c2n t) z WHERE cr = 1"""))

  /** Token-count histogram at width 25 — the profile panel that sizes
    * packing budgets. */
  private val q115 = Q("q115_histogram",
    (s, dir) => Profiling.histogram(t(s, dir, "documents"),
      TextAnalysis.tokenCount(col("text")), width = 25L),
    Some(s"""SELECT n // 25 AS bucket, (n // 25) * 25 AS bucket_lo,
        count(*) AS n, CAST(min(n) AS BIGINT) AS lo, CAST(max(n) AS BIGINT) AS hi
      FROM (SELECT CAST(len(${tokensSql("text")}) AS BIGINT) AS n
        FROM documents) z
      GROUP BY n // 25"""))

  /** Exact-substring span REMOVAL (Lee et al. 2022 — q78 only reports
    * stats; this edits the corpus): 8-gram ownership by lexicographic
    * first (doc, pos), non-owner spans merged per doc
    * (gaps-and-islands) and cut from the text. The oracle replays
    * ownership, interval merge, and the token cut — the cleaned text
    * itself hash-matches. */
  private val q128 = Q("q128_span_dedup",
    (s, dir) => Dedup.dedupSpans(t(s, dir, "documents"),
      "text", "doc_id", k = 8),
    Some(s"""WITH t AS (SELECT doc_id,
        ${tokensSql("text")} AS toks FROM documents),
      g AS (SELECT doc_id, i - 1 AS pos,
          array_to_string(toks[i:i+7], ' ') AS gram
        FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 8 + 2)) AS i
              FROM t WHERE len(toks) >= 8)),
      od AS (SELECT gram, min(doc_id) AS od FROM g GROUP BY gram),
      o2 AS (SELECT g.gram, any_value(o.od) AS od, min(g.pos) AS op
        FROM g JOIN od o ON g.gram = o.gram AND g.doc_id = o.od
        GROUP BY g.gram),
      d AS (SELECT g.doc_id, g.pos AS s, g.pos + 8 AS e
        FROM g JOIN o2 ON g.gram = o2.gram
        WHERE NOT (g.doc_id = o2.od AND g.pos = o2.op)),
      m AS (SELECT doc_id, s, e, CASE WHEN s >= coalesce(max(e) OVER (
          PARTITION BY doc_id ORDER BY s, e
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
          THEN 1 ELSE 0 END AS ni FROM d),
      i1 AS (SELECT doc_id, s, e, sum(ni) OVER (
          PARTITION BY doc_id ORDER BY s, e
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM m),
      iv AS (SELECT doc_id, isl, min(s) AS s, max(e) AS e
        FROM i1 GROUP BY 1, 2),
      ivl AS (SELECT doc_id,
          list(struct_pack(s := s, e := e) ORDER BY s, e) AS ivs,
          sum(e - s) AS rm FROM iv GROUP BY doc_id)
      SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        CAST(coalesce(v.rm, 0) AS BIGINT) AS n_removed,
        CASE WHEN v.ivs IS NULL
          THEN coalesce(array_to_string(t.toks, ' '), '')
          ELSE coalesce(array_to_string(list_filter(t.toks, (x, i) ->
            len(list_filter(v.ivs, r -> i - 1 >= r.s AND i - 1 < r.e)) = 0),
            ' '), '')
        END AS clean_text
      FROM t LEFT JOIN ivl v USING (doc_id)"""))

  /** Hybrid retrieval: BM25 top-20 (q112's terms) ⊕ dense cosine
    * top-20 for query vector 0, fused by reciprocal rank (k0 = 60),
    * fused top-10. Both rank sides and the fused doubles replay
    * exactly (integer-rational idf, pinned fold order, one
    * correctly-rounded division per reciprocal). */
  private val q129 = Q("q129_hybrid_rrf",
    (s, dir) => {
      val sparse = Retrieval.rankTopN(
        TextAnalysis.bm25Scores(t(s, dir, "documents"), "text", "doc_id",
          terms = Seq("key", "spark", "table"))
          .withColumnRenamed("_id", "doc_id"),
        "doc_id", "bm25_micro", n = 20)
      val emb = t(s, dir, "embeddings")
      val dense = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") === 0), emb, "vec_id", "embedding", k = 20)
        .select(col("n_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(sparse, dense, "doc_id", k0 = 60, topK = 10)
    },
    Some {
      val (k1, b) = (1.2, 0.75)
      s"""WITH tk AS (SELECT doc_id,
          ${tokensSql("text")} AS tk
          FROM documents),
        dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM tk),
        st AS (SELECT CAST(count(*) AS BIGINT) AS nd,
            CAST(sum(dl) AS BIGINT) AS sd FROM dl),
        tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf FROM (
            SELECT doc_id, unnest(tk) AS t FROM tk) z
          WHERE t IN ('key', 'spark', 'table') GROUP BY doc_id, t),
        dfs AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t),
        sc AS (SELECT f.doc_id, f.t,
            CAST(((st.nd - d.df) * 2000000 + 1000000) // (2 * d.df + 1) AS DOUBLE)
              * (CAST(f.tf AS DOUBLE) * ${k1 + 1.0})
              / (CAST(f.tf AS DOUBLE) + $k1 * (1.0 - $b + $b
                * (CAST(l.dl AS DOUBLE)
                  / (CAST(st.sd AS DOUBLE) / CAST(st.nd AS DOUBLE))))) AS s
          FROM tf f JOIN dfs d USING (t) JOIN dl l USING (doc_id) CROSS JOIN st),
        bm AS (SELECT doc_id,
            ${foldSql("list(s ORDER BY t)")} AS bm25_micro
          FROM sc GROUP BY doc_id),
        sp AS (SELECT doc_id, rs FROM (SELECT doc_id, row_number() OVER (
            ORDER BY bm25_micro DESC, doc_id ASC) AS rs FROM bm) z
          WHERE rs <= 20),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        n AS (SELECT vec_id, v,
          ${dotFoldSql("v", "v")} AS nrm FROM e),
        dn AS (SELECT doc_id, rd FROM (SELECT c.vec_id AS doc_id,
            row_number() OVER (ORDER BY
              (${dotFoldSql("q.v", "c.v")} / sqrt(q.nrm * c.nrm)) DESC,
              c.vec_id ASC) AS rd
          FROM n q JOIN n c ON q.vec_id = 0 AND c.vec_id <> 0) z
          WHERE rd <= 20),
        f AS (SELECT doc_id,
            coalesce(1.0 / (60 + s.rs), 0.0)
              + coalesce(1.0 / (60 + d.rd), 0.0) AS rrf
          FROM sp s FULL OUTER JOIN dn d USING (doc_id))
      SELECT doc_id, rrf, CAST(fr AS INT) AS fused_rank FROM (
        SELECT doc_id, rrf, row_number() OVER (
          ORDER BY rrf DESC, doc_id ASC) AS fr FROM f) z
      WHERE fr <= 10"""
    })

  /** Deterministic train/val/test split (80/10/10) by portable Knuth
    * hash bucket — map-only, shuffle-free, stable under corpus
    * growth. The oracle checks the exact per-document assignment. */
  private val q130 = Q("q130_train_split",
    (s, dir) => Sampling.hashSplit(t(s, dir, "documents"), "doc_id",
      Seq(("train", 80), ("val", 10), ("test", 10)))
      .select(col("doc_id"), col("split")),
    Some(s"""SELECT doc_id, CASE
        WHEN ${knuthSql("doc_id")} % 100 < 80
          THEN 'train'
        WHEN ${knuthSql("doc_id")} % 100 < 90
          THEN 'val'
        ELSE 'test' END AS split
      FROM documents"""))

  /** Incremental IVF upsert: vec_id < 400 is the frozen base index
    * (first-16 centroid convention), ≥ 400 the arriving delta batch;
    * per-cell occupancy before/after. Both assignments are the
    * zero-shuffle broadcast fold; the oracle replays the shared
    * argmax-cosine assignment for base and delta alike. */
  private val q131 = Q("q131_ivf_upsert",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfUpsert(emb.filter(col("vec_id") < 400),
        emb.filter(col("vec_id") >= 400), "vec_id", "embedding",
        nCells = 16)
    },
    Some(cosineOracleCte + s""",
      c AS (SELECT vec_id AS cent_id, v, nrm FROM n WHERE vec_id < 16),
      asg AS (SELECT vec_id, cell FROM (
          SELECT x.vec_id, c.cent_id AS cell,
            row_number() OVER (PARTITION BY x.vec_id ORDER BY
              (${dotFoldSql("x.v", "c.v")} / sqrt(x.nrm * c.nrm)) DESC,
              c.cent_id ASC) AS rn
          FROM n x CROSS JOIN c) z WHERE rn = 1)
      SELECT cell,
        CAST(count(*) FILTER (WHERE vec_id < 400) AS BIGINT) AS n_base,
        CAST(count(*) FILTER (WHERE vec_id >= 400) AS BIGINT) AS n_delta,
        CAST(count(*) AS BIGINT) AS n_total
      FROM asg GROUP BY cell"""))

  /** Bigram LM quality scoring (CCNet-style perplexity filter,
    * log-free): corpus-trained add-one-smoothed p(w2|w1) in exact
    * integer micro-units, summed per doc; the micro-mean is the one
    * double (single BIGINT/BIGINT division — correctly rounded and
    * identical in both engines). */
  private val q132 = Q("q132_bigram_lm",
    (s, dir) => TextAnalysis.bigramLmScores(t(s, dir, "documents"),
      "text", "doc_id")
      .withColumnRenamed("_id", "doc_id"),
    Some(bigramLmCtes + """
      SELECT t.doc_id,
        CAST(coalesce(d.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        CAST(coalesce(d.lm_micro_sum, 0) AS BIGINT) AS lm_micro_sum,
        CAST(d.lm_micro_sum AS DOUBLE) / CAST(d.n_bigrams AS DOUBLE)
          AS lm_mean_micro
      FROM t LEFT JOIN d USING (doc_id)"""))

  /** Shared DuckDB CTE chain of the bigram-LM family (q132/q142):
    * tokens → adjacent pairs → corpus counts → add-one micro-unit
    * conditionals → per-doc sums `d(doc_id, lm_micro_sum, n_bigrams)`
    * (docs with < 2 tokens absent from `d`; `t` has every doc). */
  private def bigramLmCtes: String = "WITH " + bigramLmCtesFrom("documents")

  /** [[bigramLmCtes]] over an arbitrary `(doc_id, text)` source CTE —
    * no leading WITH so line-dedup (q144) can feed its cleaned text
    * in. */
  private def bigramLmCtesFrom(src: String): String =
    s"""t AS (SELECT doc_id,
        ${tokensSql("text")} AS toks FROM $src),
      b AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
              FROM t WHERE len(toks) >= 2)),
      c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        FROM b GROUP BY w1, w2),
      c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM b GROUP BY w1),
      v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
        FROM (SELECT unnest(toks) AS tok FROM t)),
      sc AS (SELECT b.doc_id, ((c12.c12 + 1) * 1000000) // (c1.c1 + v.v) AS s
        FROM b JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
      d AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS lm_micro_sum,
          CAST(count(*) AS BIGINT) AS n_bigrams FROM sc GROUP BY doc_id)"""

  /** Probeable incremental IVF-PQ index: vec_id < 400 is the frozen
    * base (quantizer = its first 16 ids, convention codebook), ≥ 400
    * the arriving delta; the merged (n_id, cell, codes) index is
    * probed directly — q131's occupancy dashboard upgraded to the
    * operator a growing-corpus user actually runs. The oracle replays
    * assignment, codes, ADC folds, and ranks over base ∪ delta with
    * the base-frozen quantizer (frozen-state maps commute with union,
    * so the replay covers the merged index exactly). */
  private val q133 = Q("q133_ivfpq_upsert_probe",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val base = emb.filter(col("vec_id") < 400)
      val delta = emb.filter(col("vec_id") >= 400)
      val cb = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("_cb"),
          col("embedding").cast("array<double>").as("_cv"))
      val index = Similarity.ivfPqUpsertIndex(base, delta, "vec_id",
        "embedding", cb, nCells = 16, nSub = 8, dim = 64)
      val cents = Similarity.coarseCentroids(base, "vec_id", "embedding", 16)
      Similarity.ivfPqProbeIndex(emb.filter(col("vec_id") < 40), index,
        cents, cb, "vec_id", "embedding", k = 4, nProbe = 3)
    },
    Some(cosineOracleCte + s""",
      cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n
        WHERE vec_id < 400 ORDER BY vec_id ASC LIMIT 16),
      asg AS (SELECT n_id, cell FROM (
        SELECT n.vec_id AS n_id, cent.cent_id AS cell,
          $centroidRankSql AS cr
        FROM n CROSS JOIN cent) z WHERE cr = 1),
      cb AS (SELECT vec_id AS c, v AS cv2 FROM e WHERE vec_id < 16),
      pa AS (SELECT e.vec_id, cb.c, js.j,
          ${subDistFoldSql("e.v", "cb.cv2", "js.j")} AS d
        FROM e CROSS JOIN cb CROSS JOIN (SELECT unnest(range(0, 8)) AS j) js),
      sel AS (SELECT vec_id, j, c FROM (
          SELECT vec_id, j, c,
            row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
          FROM pa) z WHERE rn = 1),
      prb AS (SELECT q_id, qv, cell FROM (
        SELECT n.vec_id AS q_id, n.v AS qv, cent.cent_id AS cell,
          $centroidRankSql AS pr
        FROM n CROSS JOIN cent WHERE n.vec_id < 40) z WHERE pr <= 3),
      tj AS (SELECT s.vec_id, p.q_id, s.j,
          ${subDistFoldSql("p.qv", "cb.cv2", "s.j")} AS t
        FROM sel s JOIN cb ON cb.c = s.c
        JOIN asg a ON a.n_id = s.vec_id
        JOIN prb p ON p.cell = a.cell),
      dist AS (SELECT q_id, vec_id AS n_id,
          ${foldSql("list(t ORDER BY j)")} AS d
        FROM tj GROUP BY q_id, vec_id)
      SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
        SELECT q_id, n_id,
          row_number() OVER (PARTITION BY q_id ORDER BY d, n_id) AS rank
        FROM dist WHERE n_id <> q_id) z
      WHERE rank <= 4"""))

  /** Raw-HTML → text extraction (the crawl front-end): each document
    * is wrapped in a deterministic page shell — title, style, script
    * (with a `<` inside to prove block stripping), nav, the body
    * paragraph, an entity-bearing footer line, and a short crumb — and
    * the extractor must drop the chrome, decode entities, and keep
    * only lines with ≥ 3 words. The oracle replays the identical
    * regex/replace chain and line filter. */
  private val q134 = Q("q134_html_extract",
    (s, dir) => {
      val html = concat(
        lit("<html><head><title>Synth Page</title>" +
          "<style>p { color: red; }</style>" +
          "<script type=\"module\">var x = 1 < 2; // <tag></script>" +
          "</head><body><h1>Doc "),
        col("doc_id").cast("string"),
        lit("</h1><nav>home about</nav><p>"), col("text"),
        lit("</p><p>Contact &amp; imprint page</p>" +
          "<div>back</div></body></html>"))
      TextAnalysis.extractText(
        t(s, dir, "documents").withColumn("_html", html),
        "_html", "doc_id", minLineWords = 3)
        .withColumnRenamed("_id", "doc_id")
    },
    Some("""WITH h AS (SELECT doc_id,
        '<html><head><title>Synth Page</title><style>p { color: red; }</style><script type="module">var x = 1 < 2; // <tag></script></head><body><h1>Doc '
        || CAST(doc_id AS VARCHAR)
        || '</h1><nav>home about</nav><p>' || text
        || '</p><p>Contact &amp; imprint page</p><div>back</div></body></html>'
          AS html
      FROM documents),
      s1 AS (SELECT doc_id, regexp_replace(html,
        '(?is)<script[^>]*>.*?</script\s*>', ' ', 'g') AS t FROM h),
      s2 AS (SELECT doc_id, regexp_replace(t,
        '(?is)<style[^>]*>.*?</style\s*>', ' ', 'g') AS t FROM s1),
      s3 AS (SELECT doc_id, regexp_replace(t,
        '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
      s4 AS (SELECT doc_id, regexp_replace(t,
        '(?i)<br[^>]*>|</(p|div|li|ul|ol|tr|table|h[1-6]|title|blockquote|nav|header|footer|section|article)\s*>',
        chr(10), 'g') AS t FROM s3),
      s5 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t
        FROM s4),
      s6 AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(t,
        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
        '&nbsp;', ' '), '&amp;', '&') AS t FROM s5),
      ln AS (SELECT doc_id,
        list_filter(list_transform(string_split(t, chr(10)),
          l -> trim(regexp_replace(l, '\s+', ' ', 'g'))),
          l -> len(l) > 0) AS lines
      FROM s6),
      k AS (SELECT doc_id, lines,
        list_filter(lines, l -> len(string_split(l, ' ')) >= 3) AS kept
      FROM ln)
      SELECT doc_id, array_to_string(kept, chr(10)) AS text,
        CAST(len(lines) AS INT) AS n_lines_raw,
        CAST(len(kept) AS INT) AS n_lines_kept
      FROM k"""))

  /** Deterministic farthest-first (Gonzalez) centroid seeding, k = 8:
    * start at the min-id vector, each round add the vector whose best
    * cosine to the chosen set is worst (ties to the lowest id). The
    * oracle replays the greedy loop as chained CTEs — one block per
    * round, same sequential dot fold — so the full seed SEQUENCE (not
    * just the set) hash-matches. */
  private val q135 = Q("q135_kmeans_seed",
    (s, dir) => Similarity.kmeansSeedFarthest(t(s, dir, "embeddings"),
      "vec_id", "embedding", k = 8)
      .select(col("cent_id"), col("seed_rank")),
    Some {
      val k = 8
      val steps = (1 until k).map { i =>
        s"""pk$i AS (SELECT y.vec_id FROM (
            SELECT m.vec_id,
              max(${dotFoldSql("m.v", "c.v")} / sqrt(m.nrm * c.nrm)) AS mx
            FROM n m CROSS JOIN sel${i - 1} c GROUP BY m.vec_id) y
          ORDER BY y.mx ASC, y.vec_id ASC LIMIT 1),
        sel$i AS (SELECT * FROM sel${i - 1} UNION ALL
          SELECT n.vec_id, n.v, n.nrm, $i AS r FROM n
          JOIN pk$i USING (vec_id))"""
      }.mkString(",\n")
      cosineOracleCte + s""",
        sel0 AS (SELECT vec_id, v, nrm, 0 AS r FROM n
          WHERE vec_id = (SELECT min(vec_id) FROM n)),
        $steps
        SELECT vec_id AS cent_id, CAST(r AS INT) AS seed_rank
        FROM sel${k - 1}"""
    })

  /** Band-occupancy histogram of the portable MinHash-LSH banding —
    * the pre-join skew dashboard (candidate cost of a band is
    * Σ C(size, 2) over its buckets). The full histogram replays in
    * DuckDB via the public hash chain, pinning the banding/bucketing
    * cardinality semantics the xxhash64 fast path (q23) exposes only
    * rows-only. */
  private val q136 = Q("q136_lsh_band_stats",
    (s, dir) => Dedup.minHashBandStats(t(s, dir, "documents"),
      "text", "doc_id", n = 3, numPerms = 16, rowsPerBand = 4),
    Some(portableLshBkCtes() + """,
      bs AS (SELECT band, bk, count(*) AS sz FROM bk GROUP BY band, bk)
      SELECT CAST(band AS INT) AS band, sz AS bucket_size,
        count(*) AS n_buckets
      FROM bs GROUP BY band, sz"""))

  /** SimHash near-pairs with the ENGINE-PORTABLE hash chain: distinct
    * whitespace tokens → rolling polynomial hash → majority-vote
    * fingerprint from the public seeded (a_j, b_j) reshuffles
    * (48 bits). The oracle is brute-force hamming over the replayed
    * fingerprints — pigeonhole banding has exact recall, so the
    * equality doubles as a recall proof of the banded plan. */
  private val q137 = Q("q137_simhash_portable",
    (s, dir) => Dedup.simHashPairsPortable(t(s, dir, "documents"),
      "text", "doc_id", maxDist = 2, chunks = 4, nBits = 48),
    Some {
      val (as, bs) = graft.functions.MinHashSig.perms(48, 77L)
      val bitsSql = (0 until 48).map(j =>
        s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          s"[((h * ${as(j)} + ${bs(j)}) % 2147483647) & 1 FOR h IN hs]), " +
          "(x, y) -> x + y)")
        .mkString("[", ",\n        ", "]")
      val fpSql = (0 until 48).map(j =>
        s"CASE WHEN 2 * sv[${j + 1}] > nt THEN ${1L << j} ELSE 0 END")
        .mkString("\n        + ")
      s"""WITH t AS (SELECT doc_id,
          list_distinct(${tokensSql("text")}) AS toks
        FROM documents),
      tn AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
      h AS (SELECT doc_id, len(toks) AS nt,
          [list_reduce(list_prepend(CAST(0 AS BIGINT),
            [CAST(ord(x[i]) AS BIGINT) FOR i IN range(1, len(x) + 1)]),
            (a, c) -> (a * 31 + c) % 1000000007) FOR x IN toks] AS hs
        FROM tn),
      sb AS (SELECT doc_id, nt, $bitsSql AS sv FROM h),
      f AS (SELECT doc_id, $fpSql AS fp FROM sb)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
      FROM f a JOIN f b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.fp, b.fp)) <= 2"""
    })

  /** Residual product-quantization encode — the production IVFADC
    * formulation (PQ codes quantize v − centroid(cell), not v): coarse
    * cells from the first-8 convention, residual codebook = residuals
    * of corpus vectors 8..23. Deterministic end to end, so the full
    * (cell, codes, err) surface replays in DuckDB. */
  private val q138 = Q("q138_pq_residual",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.coarseCentroids(emb, "vec_id", "embedding",
        nCells = 8)
      val cb = Similarity.cellResiduals(
          emb.filter(col("vec_id") >= 8 && col("vec_id") < 24),
          "vec_id", "embedding", cents)
        .select((col("_id") - 8).cast("long").as("_cb"),
          col("_rv").as("_cv"))
      Similarity.pqEncodeResidual(emb, "vec_id", "embedding", cb, cents)
        .select(col("_id").as("vec_id"), col("cell"),
          concat_ws(",", col("codes").cast("array<string>")).as("codes"),
          col("err"))
    },
    Some(cosineOracleCte + residualPqCtes + s"""
      SELECT n_id AS vec_id, CAST(cell AS BIGINT) AS cell,
        array_to_string(list(c ORDER BY j), ',') AS codes,
        ${foldSql("list(d ORDER BY j)")} AS err
      FROM sel GROUP BY n_id, cell"""))

  /** Shared DuckDB CTE chain of the residual-PQ family (q138/q139):
    * first-8 coarse quantizer → argmax-cosine assignment → cell
    * residuals → residual codebook (vectors 8..23) → per-subspace
    * argmin codes `sel(n_id, cell, j, c, d)`. Appends to
    * [[cosineOracleCte]]. */
  private def residualPqCtes: String = s""",
      cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n
        ORDER BY vec_id ASC LIMIT 8),
      asg AS (SELECT n_id, v, cell FROM (
        SELECT n.vec_id AS n_id, n.v, cent.cent_id AS cell,
          $centroidRankSql AS cr
        FROM n CROSS JOIN cent) z WHERE cr = 1),
      r AS (SELECT a.n_id, a.cell,
          [a.v[i] - c.cv[i] FOR i IN range(1, 65)] AS rv
        FROM asg a JOIN cent c ON a.cell = c.cent_id),
      cb AS (SELECT n_id - 8 AS c, rv AS cv FROM r
        WHERE n_id >= 8 AND n_id < 24),
      pa AS (SELECT r.n_id, r.cell, cb.c, js.j,
          ${subDistFoldSql("r.rv", "cb.cv", "js.j")} AS d
        FROM r CROSS JOIN cb
        CROSS JOIN (SELECT unnest(range(0, 8)) AS j) js),
      sel AS (SELECT n_id, cell, j, c, d FROM (
          SELECT n_id, cell, j, c, d,
            row_number() OVER (PARTITION BY n_id, j ORDER BY d, c) AS rn
          FROM pa) z WHERE rn = 1)"""

  /** Residual IVF-ADC probe — the full production composition over
    * q138's index: per-(query, probed-cell) ADC tables built from the
    * query's CELL RESIDUAL, codes-only candidate scan, pinned
    * tie-breaks. The whole rank surface replays in DuckDB. */
  private val q139 = Q("q139_ivfpq_residual",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.coarseCentroids(emb, "vec_id", "embedding",
        nCells = 8)
      val cb = Similarity.cellResiduals(
          emb.filter(col("vec_id") >= 8 && col("vec_id") < 24),
          "vec_id", "embedding", cents)
        .select((col("_id") - 8).cast("long").as("_cb"),
          col("_rv").as("_cv"))
      Similarity.ivfPqResidualTopKWith(emb.filter(col("vec_id") < 30),
        emb, "vec_id", "embedding", k = 3, cb, nCells = 8, nProbe = 2)
    },
    Some(cosineOracleCte + residualPqCtes + s""",
      prb AS (SELECT q_id, cell, qrv FROM (
        SELECT n.vec_id AS q_id, cent.cent_id AS cell,
          [n.v[i] - cent.cv[i] FOR i IN range(1, 65)] AS qrv,
          $centroidRankSql AS pr
        FROM n CROSS JOIN cent WHERE n.vec_id < 30) z WHERE pr <= 2),
      dj AS (SELECT p.q_id, s.n_id, s.j,
          ${subDistFoldSql("p.qrv", "cb.cv", "s.j")} AS d
        FROM prb p JOIN sel s ON s.cell = p.cell AND s.n_id <> p.q_id
        JOIN cb ON cb.c = s.c),
      dd AS (SELECT q_id, n_id,
          ${foldSql("list(d ORDER BY j)")} AS dist
        FROM dj GROUP BY q_id, n_id)
      SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
        SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
          ORDER BY dist ASC, n_id ASC) AS rank FROM dd) z
      WHERE rank <= 3"""))

  /** Corpus-global line-frequency boilerplate removal (CCNet-style
    * line dedup): trimmed non-empty lines in ≥ 3 distinct docs vanish
    * from every doc; order and empty lines survive. Pure string/count
    * semantics → full DuckDB replay. */
  private val q140 = Q("q140_line_dedup",
    (s, dir) => Dedup.lineDedupGlobal(t(s, dir, "documents"),
      "text", "doc_id", minDocFreq = 3),
    // LEFT JOIN from the full doc set + coalesce to '': the engine
    // emits a row for EVERY input doc (fully-boilerplate docs survive
    // with empty clean_text — pinned by spec), while a bare
    // string_agg ... GROUP BY doc_id would silently drop docs whose
    // every line was removed (q149 uses the same pattern)
    Some("WITH " + lineDedupCtes + """,
      agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY ix)
          AS clean_text
        FROM keep GROUP BY doc_id)
      SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text
      FROM documents d LEFT JOIN agg a USING (doc_id)"""))

  /** Shared DuckDB CTE chain of the line-dedup family (q140/q144):
    * per-doc line explode with positions → corpus line doc-frequency →
    * `keep(doc_id, ix, line)` surviving lines. No leading WITH so it
    * composes after/with other chains. */
  private def lineDedupCtes: String =
    """ls AS (SELECT doc_id, string_split(text, chr(10)) AS l
        FROM documents),
      e AS (SELECT doc_id, unnest(range(1, len(l) + 1)) AS ix,
          unnest(l) AS line
        FROM ls),
      freq AS (SELECT trim(line) AS k, count(DISTINCT doc_id) AS df
        FROM e WHERE len(trim(line)) > 0 GROUP BY 1),
      keep AS (SELECT e.doc_id, e.ix, e.line
        FROM e LEFT JOIN freq f ON trim(e.line) = f.k AND f.df >= 3
        WHERE f.k IS NULL)"""

  /** Gram-level eval contamination audit: per eval doc (doc_id ≡ 0
    * mod 10), the fraction of its distinct word trigrams present
    * anywhere in the train split. Pure set/count semantics → full
    * DuckDB replay. */
  private val q141 = Q("q141_gram_overlap",
    (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.gramOverlapScores(d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0), "text", "doc_id", n = 3)
    },
    Some(s"""WITH t AS (SELECT doc_id,
          ${tokensSql("text")} AS toks
        FROM documents),
      g AS (SELECT doc_id,
          list_distinct($trigramsSql) AS sh
        FROM t WHERE len(toks) >= 3),
      tr AS (SELECT DISTINCT unnest(sh) AS gm FROM g WHERE doc_id % 10 <> 0),
      ev AS (SELECT doc_id, unnest(sh) AS gm FROM g WHERE doc_id % 10 = 0)
      SELECT ev.doc_id, count(*) AS n_grams,
        CAST(sum(CASE WHEN tr.gm IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_hit,
        CAST(sum(CASE WHEN tr.gm IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
          / count(*) AS overlap
      FROM ev LEFT JOIN tr ON ev.gm = tr.gm
      GROUP BY ev.doc_id"""))

  /** CCNet head/middle/tail perplexity bucketing per language over the
    * bigram-LM scores (q132's signal): top 10% "head", next 30%
    * "middle", rest "tail", ranked best-first with pinned tie-breaks.
    * The oracle replays the global per-language rank with a plain
    * window — equality proves the engine's two-phase bucketed-rank
    * reconstruction exactly. */
  private val q142 = Q("q142_perplexity_buckets",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val scored = TextAnalysis.bigramLmScores(d, "text", "doc_id")
        .join(d.select(col("doc_id").as("_id"), col("lang")), Seq("_id"))
      TextAnalysis.perplexityBuckets(scored, "_id", "lang",
          "lm_mean_micro", headFrac = 0.1, midFrac = 0.3)
        .withColumnRenamed("_id", "doc_id")
    },
    Some(bigramLmCtes + """,
      s2 AS (SELECT t.doc_id, dm.lang,
          coalesce(CAST(d.lm_micro_sum AS DOUBLE)
            / CAST(d.n_bigrams AS DOUBLE), -1.0) AS s
        FROM t LEFT JOIN d USING (doc_id)
        JOIN documents dm USING (doc_id)),
      r AS (SELECT doc_id, lang, s,
          row_number() OVER (PARTITION BY lang ORDER BY s DESC, doc_id) AS r,
          count(*) OVER (PARTITION BY lang) AS n
        FROM s2)
      SELECT doc_id, lang,
        CASE WHEN r <= ceil(0.1 * n) THEN 'head'
             WHEN r <= ceil(0.4 * n) THEN 'middle'
             ELSE 'tail' END AS bucket
      FROM r"""))

  /** The COMPLETE production IVFADC chain, all in residual space:
    * coarse quantize → cell residuals → TRAIN the residual codebook
    * (2 fixed-point k-means rounds from the 8..23-residual init) →
    * residual encode → per-(query, probed-cell) ADC probe. Every
    * stage — including the residual-space training rounds — replays
    * in DuckDB. Zero residuals (the centroids' own) give NaN cosines
    * in training assignment; both engines rank NaN first and tie to
    * the lowest centroid id, so even that corner is pinned. */
  private val q143 = Q("q143_ivfpq_residual_trained",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.coarseCentroids(emb, "vec_id", "embedding",
        nCells = 8)
      // Repartition barrier, NOT a localCheckpoint: a catalog query
      // returns a lazy DataFrame, so a cut here could never be
      // released and would pin the residual corpus for the JVM's
      // lifetime (the round-6 bench stall). The barrier stops
      // project-collapse just the same (Similarity.scala
      // pqEncodeResidual documents the idiom); the training rounds'
      // small re-reads go through shuffle files, not pinned blocks.
      val res = Similarity.cellResiduals(emb, "vec_id", "embedding", cents)
        .repartition(col("_id"))
      val init = res.filter(col("_id") >= 8 && col("_id") < 24)
        .select((col("_id") - 8).cast("long").as("cent_id"),
          col("_rv").as("_c"))
      val cb = Similarity.pqTrainCodebookFrom(res, "_id", "_rv", init,
          iters = 2)
        .select(col("cent_id").as("_cb"), col("_c").as("_cv"))
      Similarity.ivfPqResidualTopKWith(emb.filter(col("vec_id") < 30),
        emb, "vec_id", "embedding", k = 3, cb, nCells = 8, nProbe = 2)
    },
    Some(cosineOracleCte + residualPqCtes + s""",
      rn2 AS (SELECT n_id, rv AS v, ${dotFoldSql("rv", "rv")} AS nrm
        FROM r),
      ${kmeansTwoRoundsSqlOver("rn2", "n_id",
        """c0 AS (SELECT n_id - 8 AS cent_id, v AS c, nrm AS cn FROM rn2
        WHERE n_id >= 8 AND n_id < 24)""")},
      cbd AS (SELECT row_number() OVER (ORDER BY cent_id) - 1 AS cc,
          c AS cv FROM c2),
      pb AS (SELECT r.n_id, r.cell, cbd.cc, js.j,
          ${subDistFoldSql("r.rv", "cbd.cv", "js.j")} AS d
        FROM r CROSS JOIN cbd
        CROSS JOIN (SELECT unnest(range(0, 8)) AS j) js),
      se2 AS (SELECT n_id, cell, j, cc FROM (
          SELECT n_id, cell, j, cc,
            row_number() OVER (PARTITION BY n_id, j ORDER BY d, cc) AS rw
          FROM pb) z WHERE rw = 1),
      prb AS (SELECT q_id, cell, qrv FROM (
        SELECT n.vec_id AS q_id, cent.cent_id AS cell,
          [n.v[i] - cent.cv[i] FOR i IN range(1, 65)] AS qrv,
          $centroidRankSql AS pr
        FROM n CROSS JOIN cent WHERE n.vec_id < 30) z WHERE pr <= 2),
      dj AS (SELECT p.q_id, s.n_id, s.j,
          ${subDistFoldSql("p.qrv", "cbd.cv", "s.j")} AS d
        FROM prb p JOIN se2 s ON s.cell = p.cell AND s.n_id <> p.q_id
        JOIN cbd ON cbd.cc = s.cc),
      dd AS (SELECT q_id, n_id,
          ${foldSql("list(d ORDER BY j)")} AS dist
        FROM dj GROUP BY q_id, n_id)
      SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
        SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
          ORDER BY dist ASC, n_id ASC) AS rank FROM dd) z
      WHERE rank <= 3"""))

  /** The CCNet pipeline end to end: global line dedup → bigram-LM
    * scoring of the CLEANED text → per-language tercile bucketing →
    * keep head+middle. Every stage's CTE chain composes in the oracle,
    * so the whole published recipe — not just its pieces — replays. */
  private val q144 = Q("q144_ccnet_pipeline",
    (s, dir) => graft.ext.Curation.ccnetCurate(t(s, dir, "documents"),
      "text", "doc_id", "lang"),
    // cl keeps EVERY doc (LEFT JOIN + coalesce to ''): dropping an
    // all-boilerplate doc would also shrink the per-language n and
    // shift the tercile boundaries for every other doc of that
    // language — the engine ranks such docs at s=-1.0 within the full
    // population
    Some("WITH " + lineDedupCtes + """,
      cl AS (SELECT d.doc_id, coalesce(a.text, '') AS text
        FROM documents d LEFT JOIN (
          SELECT doc_id, string_agg(line, chr(10) ORDER BY ix) AS text
          FROM keep GROUP BY doc_id) a USING (doc_id)),
      """ + bigramLmCtesFrom("cl") + """,
      s2 AS (SELECT t.doc_id, dm.lang,
          coalesce(CAST(d.lm_micro_sum AS DOUBLE)
            / CAST(d.n_bigrams AS DOUBLE), -1.0) AS s
        FROM t LEFT JOIN d USING (doc_id)
        JOIN documents dm USING (doc_id)),
      r AS (SELECT doc_id, lang, s,
          row_number() OVER (PARTITION BY lang ORDER BY s DESC, doc_id) AS r,
          count(*) OVER (PARTITION BY lang) AS n
        FROM s2)
      SELECT doc_id, lang, bucket FROM (
        SELECT doc_id, lang,
          CASE WHEN r <= ceil(0.1 * n) THEN 'head'
               WHEN r <= ceil(0.4 * n) THEN 'middle'
               ELSE 'tail' END AS bucket
        FROM r) z
      WHERE bucket IN ('head', 'middle')"""))

  /** Fixed-point PageRank (3 rounds, damping 0.85 in micro-units) over
    * the customer→supplier digraph derived from orders⋈lineitem
    * (supplier keys offset to a disjoint id space). Exact Long
    * arithmetic end to end → the full rank trajectory replays. */
  private val q145 = Q("q145_pagerank",
    (s, dir) => {
      val edges = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
      GraphOps.pageRankFixedPoint(edges, "src", "dst", iters = 3)
    },
    Some {
      def iterSql(prev: String, out: String): String =
        pageRankStepSql("e", "nodes", "deg", "150000", prev, out)
      s"""WITH e AS (SELECT DISTINCT o_custkey AS src,
          l_suppkey + 1000000 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      nodes AS (SELECT src AS n FROM e UNION SELECT dst FROM e),
      deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
      r0 AS (SELECT n, CAST(1000000 AS BIGINT) AS r FROM nodes),
      ${iterSql("r0", "r1")},
      ${iterSql("r1", "r2")},
      ${iterSql("r2", "r3")}
      SELECT n AS node, r AS rank_micro FROM r3"""
    })

  /** Per-language dataset card: docs / tokens / chars / exact dups
    * (normalized key) / short docs / mean length — all exact counts,
    * one IEEE division → full hash replay. */
  private val q146 = Q("q146_dataset_card",
    (s, dir) => TextAnalysis.datasetCard(t(s, dir, "documents"),
      "text", "doc_id", "lang"),
    Some(s"""SELECT lang, count(*) AS n_docs,
        CAST(sum(tk) AS BIGINT) AS n_tokens,
        CAST(sum(ch) AS BIGINT) AS n_chars,
        count(*) - count(DISTINCT nk) AS n_dups,
        CAST(sum(CASE WHEN tk < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
        CAST(sum(tk) AS DOUBLE) / count(*) AS mean_tokens
      FROM (SELECT lang,
          CAST(len(${tokensSql("text")}) AS BIGINT) AS tk,
          CAST(len(text) AS BIGINT) AS ch,
          lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nk
        FROM documents)
      GROUP BY lang"""))

  /** Distributed BPE tokenizer training: 8 merge rounds over the
    * corpus word-frequency table, pinned tie-breaks. The oracle
    * unrolls every round — pair counts, argmax, and the closed-form
    * greedy merge application — so the learned merge list replays
    * exactly. */
  private val q147 = Q("q147_bpe_train",
    (s, dir) => graft.ext.Bpe.trainMemoized(t(s, dir, "documents"),
      "text", k = 8),
    Some(bpeRoundsCtes(8) + "\n      " + (1 to 8).map(r =>
      s"""SELECT $r AS rank, l AS "left", r AS "right",
          cnt AS pair_count FROM tp$r""").mkString("\n      UNION ALL ")))

  /** Shared DuckDB CTE chain of the BPE family (q147/q148): word
    * frequency table → k unrolled merge rounds, each = weighted pair
    * counts `pc_r`, pinned-tie argmax `tp_r`, and the closed-form
    * greedy merge application `w_r(w, a, n)` — the word key rides
    * through every round so encode queries can join back. */
  private def bpeRoundsCtes(k: Int): String = {
    val rounds = (1 to k).map { r =>
      val prev = s"w${r - 1}"
      s"""pc$r AS (SELECT p.l AS l, p.r AS r, CAST(sum(n) AS BIGINT) AS cnt
        FROM (SELECT unnest([{'l': a[i], 'r': a[i + 1]}
            FOR i IN range(1, len(a))]) AS p, n
          FROM $prev WHERE len(a) >= 2) z
        GROUP BY p.l, p.r),
      tp$r AS (SELECT l, r, cnt FROM pc$r
        ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
      w$r AS (SELECT w,
          [CASE WHEN list_contains(m, i) THEN a[i] || a[i + 1]
                ELSE a[i] END
           FOR i IN range(1, len(a) + 1)
           IF NOT list_contains(m, i - 1)] AS a, n
        FROM (SELECT w, a, n,
            [i FOR i IN range(1, len(a))
             IF a[i] = t.l AND a[i + 1] = t.r
               AND (t.l <> t.r
                 OR (i - coalesce(list_max(
                      [j FOR j IN range(1, i + 1) IF a[j] <> t.l]), 0)
                    - 1) % 2 = 0)] AS m
          FROM $prev CROSS JOIN tp$r t) z)"""
    }.mkString(",\n      ")
    s"""WITH wc AS (SELECT tok AS w, count(*) AS n FROM (
          SELECT unnest(${tokensSql("text")}) AS tok FROM documents) z GROUP BY tok),
      w0 AS (SELECT w, [w[i] FOR i IN range(1, len(w) + 1)] AS a, n
        FROM wc),
      $rounds"""
  }

  /** Tokenize with the learned merges: per-doc BPE token counts — the
    * sizing pass packing consumes. Distinct-word apply + keyed join
    * back; the oracle replays training AND encoding. */
  private val q148 = Q("q148_bpe_encode",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val merges = graft.ext.Bpe.mergesMemoized(d, "text", k = 8)
      graft.ext.Bpe.encodeTokenCounts(d, "text", "doc_id", merges)
    },
    Some(bpeRoundsCtes(8) + s"""
      SELECT d.doc_id, CAST(sum(len(w8.a)) AS BIGINT) AS n_bpe_tokens
      FROM (SELECT doc_id,
          unnest(${tokensSql("text")}) AS tok
        FROM documents) d
      JOIN w8 ON d.tok = w8.w
      GROUP BY d.doc_id"""))

  /** Deterministic T5-style span corruption: Knuth-hash token masks,
    * maximal runs → <extra_id_k> sentinels, input/target rendering.
    * Hash selection replays exactly, so both rendered sides
    * hash-match. */
  private val q149 = Q("q149_span_corrupt",
    (s, dir) => TextAnalysis.spanCorrupt(t(s, dir, "documents"),
      "text", "doc_id"),
    Some(s"""WITH t AS (SELECT doc_id,
          ${tokensSql("text")} AS toks
        FROM documents),
      e AS (SELECT doc_id, i AS pos, toks[i] AS tok,
          ((((doc_id * 1000003 + i) % 2147483648) * 2654435761)
            % 2147483647) % 1000000 < 150000 AS m
        FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i
              FROM t)),
      r AS (SELECT doc_id, pos, tok, m,
          CASE WHEN m AND NOT coalesce(
            lag(m) OVER (PARTITION BY doc_id ORDER BY pos), false)
          THEN 1 ELSE 0 END AS st
        FROM e),
      r2 AS (SELECT doc_id, pos, tok, m, st,
          sum(st) OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS k
        FROM r),
      sides AS (SELECT doc_id,
          string_agg(CASE WHEN NOT m THEN tok
            WHEN st = 1 THEN '<extra_id_' || k || '>' END,
            ' ' ORDER BY pos) AS input_text,
          string_agg(CASE WHEN st = 1
              THEN '<extra_id_' || k || '> ' || tok
            WHEN m THEN tok END, ' ' ORDER BY pos) AS targets
        FROM r2 GROUP BY doc_id)
      SELECT t.doc_id, coalesce(s.input_text, '') AS input_text,
        coalesce(s.targets, '') AS targets
      FROM t LEFT JOIN sides s USING (doc_id)"""))

  /** Per-doc OOV rate under the pinned top-16 corpus vocabulary (the
    * synthetic corpus has 31 distinct tokens — 16 keeps the boundary
    * real) — the tokenizer-coverage dashboard. Exact counts + one
    * IEEE division → full hash replay. */
  private val q150 = Q("q150_oov_rate",
    (s, dir) => TextAnalysis.oovRate(t(s, dir, "documents"),
      "text", "doc_id", vocabSize = 16),
    Some(s"""WITH e AS (SELECT doc_id,
          unnest(${tokensSql("text")}) AS t
        FROM documents),
      v AS (SELECT t FROM (
          SELECT t, count(*) AS c FROM e GROUP BY t
          ORDER BY c DESC, t ASC LIMIT 16) z)
      SELECT e.doc_id, count(*) AS n_tokens,
        CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_oov,
        CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
          / count(*) AS oov_rate
      FROM e LEFT JOIN v ON e.t = v.t
      GROUP BY e.doc_id"""))

  /** PageRank composed into curation: authority-weighted mixture
    * sampling ([[Sampling.authorityMixtureSample]]) with per-source
    * weights = PageRank mass over the source-adjacency graph
    * (consecutive doc ids "link" their sources — the deterministic
    * stand-in for the hyperlink graph a real crawl provides; at crawl
    * scale the edge list arrives from the link extractor instead).
    * The full chain — node-id assignment, edge derivation, 3
    * fixed-point rank rounds, rank→weight→quota, hash-rank
    * membership — replays in the oracle. Node ids differ by design:
    * the engine keys nodes by collision-guarded xxhash64 (scale-safe,
    * no global window), the oracle by dense row_number — the ranks
    * and therefore the sampled rows are invariant under the
    * relabeling, which is exactly what the hash-match certifies. */
  private val q151 = Q("q151_authority_sample",
    (s, dir) => {
      val d = t(s, dir, "documents")
      // Node ids are xxhash64(source), NOT a dense rank: a global
      // row_number over the distinct-domain set would funnel every
      // domain (~10^8 at crawl scale) through ONE window task.
      // PageRank only needs stable, distinct Long keys — ranks are
      // invariant under any bijective relabeling, so the oracle's
      // dense row_number ids replay the identical (source,
      // rank_micro) table as long as the hash is collision-free on
      // the domain set. That precondition is guarded IN-PLAN (the
      // ADC-codebook discipline): the map is built as a groupBy on
      // the hash, and a bucket holding two distinct sources raises
      // loudly instead of silently merging their rank mass.
      val nodeMap = d.select(col("source")).distinct()
        .withColumn("_node", xxhash64(col("source")))
        .groupBy(col("_node"))
        .agg(min(col("source")).as("_src1"), count(lit(1)).as("_nc"))
        .select(when(col("_nc") === 1, col("_src1"))
          .otherwise(raise_error(concat(
            lit("q151: xxhash64 collision on source domain "),
            col("_src1")))).as("source"),
          col("_node"))
      val edges = d.select(col("doc_id"), col("source").as("_sa"))
        .join(d.select((col("doc_id") - 1).as("doc_id"),
          col("source").as("_sb")), "doc_id")
        .filter(col("_sa") =!= col("_sb"))
        .join(broadcast(nodeMap.select(col("source").as("_sa"),
          col("_node").as("src"))), "_sa")
        .join(broadcast(nodeMap.select(col("source").as("_sb"),
          col("_node").as("dst"))), "_sb")
        .select(col("src"), col("dst"))
      // ShuffleBarrier, not the default LocalCheckpoint: this catalog
      // query RETURNS the composition lazily, so a checkpoint's
      // blocks (per-round rank state AND the final ranks) could
      // never be released and would pin storage for the session's
      // lifetime. With 3 rounds the barrier lineage is shallow, and
      // every intermediate lives in ContextCleaner-reclaimed shuffle
      // files instead.
      val ranks = GraphOps.pageRankFixedPoint(edges, "src", "dst",
        iters = 3, cp = graft.ext.ShuffleBarrier)
      val domainRanks = nodeMap
        .join(ranks, nodeMap("_node") === ranks("node"))
        .select(col("source"), col("rank_micro"))
      Sampling.authorityMixtureSample(d, "doc_id", "source", domainRanks)
    },
    Some {
      def iterSql(prev: String, out: String): String =
        pageRankStepSql("e", "nodes", "deg", "150000", prev, out)
      s"""WITH nm AS (SELECT source,
          row_number() OVER (ORDER BY source) - 1 AS node
        FROM (SELECT DISTINCT source FROM documents)),
      e AS (SELECT DISTINCT na.node AS src, nb.node AS dst
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        JOIN nm na ON na.source = a.source
        JOIN nm nb ON nb.source = b.source
        WHERE a.source <> b.source),
      nodes AS (SELECT src AS n FROM e UNION SELECT dst FROM e),
      deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
      r0 AS (SELECT n, CAST(1000000 AS BIGINT) AS r FROM nodes),
      ${iterSql("r0", "r1")},
      ${iterSql("r1", "r2")},
      ${iterSql("r2", "r3")},
      rk AS (SELECT nm.source, r3.r FROM nm JOIN r3 ON nm.node = r3.n),
      c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source),
      cw AS (SELECT c.source, cnt, CAST(rk.r AS DOUBLE) AS wt
        FROM c JOIN rk USING (source)),
      s AS (SELECT min(CAST(cnt AS DOUBLE) / wt) AS scale FROM cw),
      k AS (SELECT source,
          CAST(floor(wt * (SELECT scale FROM s)) AS BIGINT) AS keep
        FROM cw),
      r AS (SELECT d.doc_id, d.source, k.keep,
          row_number() OVER (PARTITION BY d.source
            ORDER BY ${knuthSql("d.doc_id")},
              d.doc_id) AS rn
        FROM documents d JOIN k USING (source))
      SELECT doc_id, source FROM r WHERE rn <= keep"""
    })

  /** Gopher-style quality gate (Rae et al. 2021 appendix A): per-doc
    * repetition/format signals + the published keep conjunction. All
    * integer-derived ratios — the oracle replays every signal and the
    * gate bit-exactly. */
  private val q152 = Q("q152_gopher_quality",
    (s, dir) => TextAnalysis.gopherQualityFlags(t(s, dir, "documents"),
      "text", "doc_id"),
    Some(s"""WITH $gopherSignalCtes
      SELECT *, $gopherKeepSql AS keep
      FROM s"""))

  /** Shared DuckDB CTEs of the Gopher-gate family (q152, and the
    * q163/q164 classifier whose weak labels distill the gate):
    * `t(doc_id, lang, text, ws, ls)` tokenized docs, `s(doc_id,
    * signals…)` the per-doc quality signals; [[gopherKeepSql]] is the
    * published keep conjunction over `s`'s columns. */
  private def gopherSignalCtes: String = s"""t AS (SELECT doc_id, lang, text,
        ${tokensSql("text")} AS ws,
        list_filter([trim(l) FOR l IN string_split(text, chr(10))],
          l -> len(l) > 0) AS ls
      FROM documents),
      s AS (SELECT doc_id,
        CAST(len(ws) AS BIGINT) AS n_words,
        CASE WHEN len(ws) = 0 THEN 0.0
          ELSE CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
            [CAST(len(w) AS BIGINT) FOR w IN ws]), (a, b) -> a + b)
            AS DOUBLE) / len(ws) END AS mean_word_len,
        CASE WHEN len(ws) = 0 THEN 0.0
          ELSE CAST(len(list_filter(ws,
            w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / len(ws)
          END AS frac_alpha_words,
        CAST((CASE WHEN list_contains([lower(w) FOR w IN ws], 'the')
            THEN 1 ELSE 0 END)
          + (CASE WHEN list_contains([lower(w) FOR w IN ws], 'be')
            THEN 1 ELSE 0 END)
          + (CASE WHEN list_contains([lower(w) FOR w IN ws], 'to')
            THEN 1 ELSE 0 END)
          + (CASE WHEN list_contains([lower(w) FOR w IN ws], 'of')
            THEN 1 ELSE 0 END)
          + (CASE WHEN list_contains([lower(w) FOR w IN ws], 'and')
            THEN 1 ELSE 0 END)
          + (CASE WHEN list_contains([lower(w) FOR w IN ws], 'that')
            THEN 1 ELSE 0 END)
          + (CASE WHEN list_contains([lower(w) FOR w IN ws], 'have')
            THEN 1 ELSE 0 END)
          + (CASE WHEN list_contains([lower(w) FOR w IN ws], 'with')
            THEN 1 ELSE 0 END) AS BIGINT) AS n_stop_hits,
        CASE WHEN len(ls) = 0 THEN 0.0
          ELSE CAST(len(list_filter(ls, l -> l[1] IN ('-', '*', '•')))
            AS DOUBLE) / len(ls) END AS frac_bullet_lines,
        CASE WHEN len(ls) = 0 THEN 0.0
          ELSE CAST(len(list_filter(ls, l -> ends_with(l, '...')
            OR ends_with(l, '…'))) AS DOUBLE) / len(ls)
          END AS frac_ellipsis_lines,
        CASE WHEN len(ls) = 0 THEN 0.0
          ELSE CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE)
            / len(ls) END AS dup_line_frac,
        CASE WHEN len(ws) = 0 THEN 0.0
          ELSE CAST((len(text) - len(replace(text, '#', '')))
            + (len(text) - len(replace(text, '...', ''))) // 3
            AS DOUBLE) / len(ws) END AS symbol_word_ratio
      FROM t)"""

  private def gopherKeepSql: String =
    """(n_words >= 50 AND n_words <= 100000
          AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
          AND symbol_word_ratio < 0.1
          AND frac_bullet_lines < 0.9 AND frac_ellipsis_lines < 0.3
          AND frac_alpha_words >= 0.8 AND n_stop_hits >= 2
          AND dup_line_frac < 0.3)"""

  /** PII scrub: emails / IPv4s / long digit runs → placeholders, with
    * per-doc audit counts. Patterns live in the Java↔RE2-agreeing
    * regex subset; DuckDB needs the explicit 'g' flag (its
    * regexp_replace is first-match-only by default, Spark's is
    * global). */
  private val q153 = Q("q153_pii_redact",
    (s, dir) => TextAnalysis.piiRedact(t(s, dir, "documents"),
      "text", "doc_id"),
    Some("""WITH t AS (SELECT doc_id, text,
        regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
          '<EMAIL>', 'g') AS t1
      FROM documents),
      u AS (SELECT doc_id, text, t1,
        regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
          '<IP>', 'g') AS t2
      FROM t)
      SELECT doc_id,
        regexp_replace(t2, '\b\d{7,}\b', '<NUM>', 'g') AS clean_text,
        CAST(len(regexp_extract_all(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
          AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(t1,
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        CAST(len(regexp_extract_all(t2, '\b\d{7,}\b')) AS BIGINT)
          AS n_phones
      FROM u"""))

  /** Hard-negative mining (DPR/Contriever recipe): per query, top-5
    * cosine neighbors from a DIFFERENT source — same-source hits are
    * presumed positives and excluded at pair level. Deterministic
    * exact form → the full rank surface replays. */
  private val q154 = Q("q154_hard_negatives",
    (s, dir) => {
      val withSrc = t(s, dir, "embeddings")
        .join(t(s, dir, "documents")
          .select(col("doc_id").as("vec_id"), col("source")), "vec_id")
      Retrieval.hardNegatives(withSrc.filter(col("vec_id") < 10),
        withSrc, "vec_id", "embedding", "source", k = 5)
    },
    Some(cosineOracleCte + s""",
      g AS (SELECT n.vec_id, n.v, n.nrm, d.source
        FROM n JOIN documents d ON d.doc_id = n.vec_id)
      SELECT q_id, neg_id, CAST(rank AS INT) AS rank FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS neg_id,
          $cosineRankSql AS rank
        FROM g q JOIN g c ON c.vec_id <> q.vec_id
          AND c.source <> q.source
        WHERE q.vec_id < 10) z
      WHERE rank <= 5"""))

  /** Top-n-gram repetition signals (the Gopher "fraction of chars in
    * the most common n-gram"): engine computes per-doc via the
    * map-only sorted-run fold; the oracle replays via unnest +
    * GROUP BY argmax — two computation paths, one pinned value. */
  private val q155 = Q("q155_top_ngram",
    (s, dir) => TextAnalysis.topNgramStats(t(s, dir, "documents"),
      "text", "doc_id"),
    Some(s"""WITH t AS (SELECT doc_id,
        ${tokensSql("text")} AS ws,
        len(regexp_replace(text, '\\s', '', 'g')) AS denom
      FROM documents),
      g2 AS (SELECT doc_id,
          unnest([array_to_string(ws[i:i+1], ' ')
            FOR i IN range(1, len(ws))]) AS gm
        FROM t WHERE len(ws) >= 2),
      b2 AS (SELECT doc_id, gm, count(*) AS c
        FROM g2 GROUP BY doc_id, gm),
      t2 AS (SELECT doc_id, gm, c FROM (
          SELECT doc_id, gm, c, row_number() OVER (PARTITION BY doc_id
            ORDER BY c DESC, gm ASC) AS rn FROM b2) z
        WHERE rn = 1),
      g3 AS (SELECT doc_id,
          unnest([array_to_string(ws[i:i+2], ' ')
            FOR i IN range(1, len(ws) - 1)]) AS gm
        FROM t WHERE len(ws) >= 3),
      b3 AS (SELECT doc_id, gm, count(*) AS c
        FROM g3 GROUP BY doc_id, gm),
      t3 AS (SELECT doc_id, gm, c FROM (
          SELECT doc_id, gm, c, row_number() OVER (PARTITION BY doc_id
            ORDER BY c DESC, gm ASC) AS rn FROM b3) z
        WHERE rn = 1)
      SELECT t.doc_id,
        coalesce(t2.gm, '') AS top2_gram,
        CAST(coalesce(t2.c, 0) AS BIGINT) AS top2_cnt,
        CASE WHEN denom = 0 OR t2.c IS NULL THEN 0.0
          ELSE CAST(t2.c * (len(t2.gm) - 1) AS DOUBLE) / denom
          END AS top2_char_frac,
        coalesce(t3.gm, '') AS top3_gram,
        CAST(coalesce(t3.c, 0) AS BIGINT) AS top3_cnt,
        CASE WHEN denom = 0 OR t3.c IS NULL THEN 0.0
          ELSE CAST(t3.c * (len(t3.gm) - 2) AS DOUBLE) / denom
          END AS top3_char_frac
      FROM t LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)"""))

  /** Shard release manifest: q104's deterministic packing + per-shard
    * totals, id span, and the order-independent fingerprint-sum
    * checksum a release consumer re-derives after download. */
  private val q156 = Q("q156_shard_manifest",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val assignment = Packing.packBudget(d, "doc_id",
        TextAnalysis.tokenCount(col("text")), budget = 1024L,
        bucketSpan = 64L)
      val fp = d.select(col("doc_id").as("_id"),
        TextAnalysis.fingerprint(col("text")).as("_fp"))
      Packing.shardManifest(assignment, fp)
    },
    Some(s"""WITH d AS (SELECT doc_id,
        CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (SELECT doc_id, n_tokens,
        CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS BIGINT) AS start
        FROM d),
      f AS (SELECT doc_id,
        CASE WHEN len(text) = 0 THEN 0 ELSE
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            [CAST(ord(text[i]) AS BIGINT)
             FOR i IN range(1, len(text) + 1)]),
            (a, ch) -> (a * 31 + ch) % 1000000007) END AS fp
        FROM documents)
      SELECT start // 1024 AS shard,
        count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        min(c.doc_id) AS min_id, max(c.doc_id) AS max_id,
        CAST(sum(fp % 1000000007) % 1000000007 AS BIGINT) AS checksum
      FROM c JOIN f ON c.doc_id = f.doc_id
      GROUP BY 1"""))

  /** Tokenizer fertility dashboard: BPE tokens per word by language
    * under the corpus-trained k=8 merge list — the metric that decides
    * whether a tokenizer serves a multilingual corpus (fertility ≫ 1
    * for a language means its text fragments into shards of symbols).
    * Train + encode + per-language rollup all replay in the oracle. */
  private val q157 = Q("q157_fertility",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val merges = graft.ext.Bpe.mergesMemoized(d, "text", k = 8)
      graft.ext.Bpe.encodeTokenCounts(d, "text", "doc_id", merges)
        .join(d.select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("_nw")), "doc_id")
        .groupBy(col("lang"))
        .agg(sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
          sum(col("_nw")).as("n_words"))
        .withColumn("fertility",
          col("n_bpe_tokens") * lit(1.0) / col("n_words"))
    },
    Some(bpeRoundsCtes(8) + s"""
      SELECT dm.lang,
        CAST(sum(len(w8.a)) AS BIGINT) AS n_bpe_tokens,
        CAST(count(*) AS BIGINT) AS n_words,
        CAST(sum(len(w8.a)) AS DOUBLE) / count(*) AS fertility
      FROM (SELECT doc_id,
          unnest(${tokensSql("text")}) AS tok
        FROM documents) e
      JOIN w8 ON e.tok = w8.w
      JOIN documents dm ON dm.doc_id = e.doc_id
      GROUP BY dm.lang"""))

  /** Shared oracle CTEs for the unigram-family tokenizer (q158/q161):
    * replays [[Unigram.train]] round by round — substring candidate
    * seeding (weighted freq ≥ minCount, chars exempt), greedy
    * maximal-munch segmentation as a recursive CTE (longest piece at
    * each position via the NOT EXISTS longer-match guard), hard-EM
    * usage pruning (top-T multi-char by usage desc / piece asc —
    * DuckDB's ORDER BY is the same UTF-8 byte order as Spark's binary
    * string comparison), and the final scoring pass. The vocabulary
    * CTEs are MATERIALIZED: DuckDB inlines plain CTEs into the
    * recursive term, where the correlated NOT EXISTS over an inlined
    * union+limit misplans and matches nothing. `includeWc` lets q161
    * share the `wc` word-count CTE with the BPE round CTEs. */
  private def unigramCtes(maxPieceLen: Int = 4, minCount: Long = 2L,
      topPieces: Int = 12, includeWc: Boolean = true): String = {
    def seg(name: String, vocab: String): String =
      s"""$name AS (
        WITH RECURSIVE s AS (
          SELECT w, n, 1 AS pos, CAST(NULL AS VARCHAR) AS piece FROM wc
          UNION ALL
          SELECT s.w, s.n, s.pos + len(v.piece), v.piece
          FROM s JOIN $vocab v ON v.piece = s.w[s.pos:s.pos+len(v.piece)-1]
          WHERE s.pos <= len(s.w)
            AND NOT EXISTS (SELECT 1 FROM $vocab v2
              WHERE len(v2.piece) > len(v.piece)
                AND v2.piece = s.w[s.pos:s.pos+len(v2.piece)-1])
        ) SELECT w, n, piece FROM s WHERE piece IS NOT NULL)"""
    val wc = if (includeWc)
      s"""WITH wc AS (SELECT tok AS w, count(*) AS n FROM (
          SELECT unnest(${tokensSql("text")}) AS tok FROM documents) z GROUP BY tok),
      """
    else ""
    s"""$wc
      uchars AS (SELECT DISTINCT
          unnest([w[i:i] FOR i IN range(1, len(w)+1)]) AS piece FROM wc),
      ucand AS (SELECT piece FROM (
          SELECT unnest(flatten([[w[i:i+l-1] FOR i IN range(1, len(w)-l+2)]
            FOR l IN range(2, least($maxPieceLen, len(w))+1)])) AS piece, n
          FROM wc) z
        GROUP BY piece HAVING sum(n) >= $minCount),
      uv0 AS MATERIALIZED (SELECT piece FROM uchars
        UNION SELECT piece FROM ucand),
      ${seg("useg1", "uv0")},
      uu1 AS (SELECT piece, CAST(sum(n) AS BIGINT) AS usage
        FROM useg1 GROUP BY piece),
      uv1 AS MATERIALIZED (SELECT piece FROM uchars
        UNION SELECT piece FROM (
          SELECT u.piece AS piece FROM uu1 u
          WHERE len(u.piece) > 1 AND u.usage > 0
          ORDER BY u.usage DESC, u.piece ASC LIMIT $topPieces) z),
      ${seg("useg2", "uv1")},
      uu2 AS (SELECT piece, CAST(sum(n) AS BIGINT) AS usage
        FROM useg2 GROUP BY piece)"""
  }

  /** Unigram-family tokenizer training ([[Unigram.train]]): the
    * SentencePiece-family counterpart to q147's BPE, with greedy
    * maximal-munch segmentation and hard-EM frequency pruning in
    * place of float Viterbi/EM so every round replays bit-exactly in
    * the oracle (integer counts + UTF-8 tie order only). Output: the
    * final vocabulary scored by the last segmentation round. */
  private val q158 = Q("q158_unigram_train",
    (s, dir) => Unigram.trainMemoized(t(s, dir, "documents"), "text"),
    Some(unigramCtes() + """
      SELECT v.piece AS piece, CAST(len(v.piece) AS INT) AS piece_len,
        CAST(coalesce(u.usage, 0) AS BIGINT) AS usage
      FROM uv1 v LEFT JOIN uu2 u ON v.piece = u.piece"""))

  /** Incremental PageRank maintenance — the daily-refresh authority
    * pipeline a crawl actually runs: rank the base graph (3 exact
    * rounds), a day of new edges arrives (the orderkey%10 slice — the
    * deterministic stand-in for the link extractor's delta), resume
    * ONE round over the updated graph from the stored fixed point
    * ([[GraphOps.pageRankFixedPoint]]'s `initRanks` warm start; nodes
    * first seen in the delta enter at the cold 1e6). Both phases —
    * the base trajectory and the warm resumed round — replay in the
    * oracle. ShuffleBarrier throughout: the catalog returns the
    * composition lazily, so no phase may pin storage. */
  private val q159 = Q("q159_pagerank_incremental",
    (s, dir) => {
      def edges(filtered: Boolean) = {
        val j = t(s, dir, "orders")
          .join(t(s, dir, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
        (if (filtered) j.filter(col("o_orderkey") % 10 =!= 0) else j)
          .select(col("o_custkey").as("src"),
            (col("l_suppkey") + lit(1000000L)).as("dst"))
      }
      val stored = GraphOps.pageRankFixedPoint(edges(filtered = true),
        "src", "dst", iters = 3, cp = graft.ext.ShuffleBarrier)
      GraphOps.pageRankFixedPoint(edges(filtered = false), "src", "dst",
        iters = 1, cp = graft.ext.ShuffleBarrier,
        initRanks = Some(stored))
    },
    Some {
      def iterSql(e: String, nodes: String, deg: String,
          prev: String, out: String): String =
        pageRankStepSql(e, nodes, deg, "150000", prev, out)
      s"""WITH eb AS (SELECT DISTINCT o_custkey AS src,
          l_suppkey + 1000000 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey % 10 <> 0),
      nb AS (SELECT src AS n FROM eb UNION SELECT dst FROM eb),
      degb AS (SELECT src, count(*) AS d FROM eb GROUP BY src),
      b0 AS (SELECT n, CAST(1000000 AS BIGINT) AS r FROM nb),
      ${iterSql("eb", "nb", "degb", "b0", "b1")},
      ${iterSql("eb", "nb", "degb", "b1", "b2")},
      ${iterSql("eb", "nb", "degb", "b2", "b3")},
      ef AS (SELECT DISTINCT o_custkey AS src,
          l_suppkey + 1000000 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      nf AS (SELECT src AS n FROM ef UNION SELECT dst FROM ef),
      degf AS (SELECT src, count(*) AS d FROM ef GROUP BY src),
      f0 AS (SELECT nf.n, CAST(coalesce(b3.r, 1000000) AS BIGINT) AS r
        FROM nf LEFT JOIN b3 ON nf.n = b3.n),
      ${iterSql("ef", "nf", "degf", "f0", "f1")}
      SELECT n AS node, r AS rank_micro FROM f1"""
    })

  /** URL canonicalization + URL-level dedup ([[Urls.canonicalDedup]]):
    * the crawl-dedup stage that precedes content hashing. The fixture
    * derives four deterministic messy spellings per page id from
    * (doc_id, source) — uppercase scheme/host + default port + www +
    * unsorted query + fragment vs their clean twins — so each rule of
    * the canonicalizer is load-bearing: ids 4k/4k+1 collapse to one
    * http URL, 4k+2/4k+3 to one https URL. The oracle replays the
    * derivation AND every normalization rule. */
  private val q160 = Q("q160_url_dedup",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val page = (col("doc_id") / 4).cast("long")
      val url = when(col("doc_id") % 4 === 0,
          concat(lit("HTTP://WWW."), upper(col("source")),
            lit(".COM:80/Pg/"), page, lit("/?b=2&a=1#frag")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("http://"), col("source"),
            lit(".com/Pg/"), page, lit("?a=1&b=2")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("HTTPS://"), upper(col("source")),
            lit(".com:443/Pg/"), page, lit("/ix.html#x")))
        .otherwise(
          concat(lit("https://"), col("source"),
            lit(".com/Pg/"), page, lit("/ix.html")))
      Urls.canonicalDedup(d.select(col("doc_id"), url.as("url")),
        "url", "doc_id")
    },
    Some("""WITH u AS (SELECT doc_id,
        CASE doc_id % 4
          WHEN 0 THEN 'HTTP://WWW.' || upper(source)
            || '.COM:80/Pg/' || (doc_id // 4) || '/?b=2&a=1#frag'
          WHEN 1 THEN 'http://' || source
            || '.com/Pg/' || (doc_id // 4) || '?a=1&b=2'
          WHEN 2 THEN 'HTTPS://' || upper(source)
            || '.com:443/Pg/' || (doc_id // 4) || '/ix.html#x'
          ELSE 'https://' || source
            || '.com/Pg/' || (doc_id // 4) || '/ix.html'
        END AS url
        FROM documents),
      c AS (SELECT doc_id,
        lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
          AS scheme,
        regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
        FROM (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nofrag
          FROM u)),
      p AS (SELECT doc_id, scheme, rest,
        regexp_extract(rest, '^([^/?]*)', 1) AS hostport
        FROM c),
      q AS (SELECT doc_id, scheme,
        regexp_replace(
          lower(regexp_replace(hostport, ':[0-9]+$', '')),
          '^www\.', '') AS host,
        regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
        substr(rest, len(hostport) + 1) AS afterhost
        FROM p),
      r AS (SELECT doc_id, scheme, host,
        CASE WHEN port = '' THEN ''
          WHEN scheme = 'http' AND port = '80' THEN ''
          WHEN scheme = 'https' AND port = '443' THEN ''
          ELSE ':' || port END AS portpart,
        CASE WHEN regexp_replace(
            regexp_extract(afterhost, '^([^?]*)', 1), '/+$', '') = ''
          THEN '/'
          ELSE regexp_replace(
            regexp_extract(afterhost, '^([^?]*)', 1), '/+$', '') END
          AS path,
        CASE WHEN regexp_extract(afterhost, '\?(.*)$', 1) = '' THEN ''
          ELSE '?' || array_to_string(list_sort(string_split(
            regexp_extract(afterhost, '\?(.*)$', 1), '&')), '&') END
          AS querypart
        FROM q)
      SELECT scheme || '://' || host || portpart || path || querypart
          AS canon_url,
        min(doc_id) AS keeper_id, count(*) AS n_copies
      FROM r GROUP BY 1"""))

  /** Tokenizer decision dashboard: BPE (q147's k=8 merge list) vs
    * unigram (q158's pruned vocabulary) fertility side by side, per
    * language, on the same corpus — the comparison a tokenizer
    * choice actually uses. Both trainings, both encodes, and the
    * per-language rollup replay in the oracle (the two CTE families
    * share the `wc` word table). */
  private val q161 = Q("q161_tokenizer_compare",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val merges = graft.ext.Bpe.mergesMemoized(d, "text", k = 8)
      val bpe = graft.ext.Bpe.encodeTokenCounts(d, "text", "doc_id", merges)
      val vocab = Unigram.vocabMemoized(d, "text")
      val uni = Unigram.encodeTokenCounts(d, "text", "doc_id", vocab)
      bpe.join(uni, "doc_id")
        .join(d.select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("_nw")), "doc_id")
        .groupBy(col("lang"))
        .agg(sum(col("_nw")).as("n_words"),
          sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
          sum(col("n_uni_tokens")).as("n_uni_tokens"))
        .withColumn("bpe_fertility",
          col("n_bpe_tokens") * lit(1.0) / col("n_words"))
        .withColumn("uni_fertility",
          col("n_uni_tokens") * lit(1.0) / col("n_words"))
    },
    Some(bpeRoundsCtes(8) + "," + unigramCtes(includeWc = false) + s""",
      uwpc AS (SELECT w, CAST(count(*) AS BIGINT) AS p
        FROM useg2 GROUP BY w)
      SELECT dm.lang,
        CAST(count(*) AS BIGINT) AS n_words,
        CAST(sum(len(w8.a)) AS BIGINT) AS n_bpe_tokens,
        CAST(sum(u.p) AS BIGINT) AS n_uni_tokens,
        CAST(sum(len(w8.a)) AS DOUBLE) / count(*) AS bpe_fertility,
        CAST(sum(u.p) AS DOUBLE) / count(*) AS uni_fertility
      FROM (SELECT doc_id,
          unnest(${tokensSql("text")}) AS tok
        FROM documents) e
      JOIN w8 ON e.tok = w8.w
      JOIN uwpc u ON e.tok = u.w
      JOIN documents dm ON dm.doc_id = e.doc_id
      GROUP BY dm.lang"""))

  /** Incremental MinHash-LSH dedup maintenance
    * ([[Dedup.minHashLshDeltaPairs]]): yesterday's corpus (doc_id % 10
    * ≠ 0) is already deduped; today's delta (doc_id % 10 = 0) arrives,
    * and only pairs touching a delta doc are computed — the
    * (delta × base) ∪ (delta × delta) shape whose shuffle is sized by
    * the delta, not the base². Banding is per-document, so the oracle
    * reuses the full-corpus portable chain (q118's CTEs) and just
    * restricts the candidate join to delta-involved pairs. */
  private val q162 = Q("q162_minhash_delta",
    (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.minHashLshDeltaPairs(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "text", "doc_id", n = 3, numPerms = 16, rowsPerBand = 4,
        threshold = 0.5)
    },
    Some(portableLshBkCtes() + s""",
      cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
          greatest(a.doc_id, b.doc_id) AS doc_b
        FROM bk a JOIN bk b
          ON a.band = b.band AND a.bk = b.bk AND a.doc_id <> b.doc_id
        WHERE a.doc_id % 10 = 0)
      SELECT doc_a, doc_b, jaccard FROM (
        SELECT c.doc_a, c.doc_b,
          len(list_intersect(x.sh, y.sh)) * 1.0 /
            (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS jaccard
        FROM cand c JOIN g x ON x.doc_id = c.doc_a
        JOIN g y ON y.doc_id = c.doc_b) z
      WHERE jaccard >= 0.5"""))

  /** Shared DuckDB CTEs of the exact-perceptron quality classifier
    * (q163/q164): Gopher-gate weak labels ±1, hashed bag-of-words
    * features (the q118 portable rolling-poly token hash mod `dim`),
    * then `rounds` unrolled perceptron rounds — round 1 against the
    * zero vector is the plain Σ y·count aggregate, each later round
    * is score → misclassified → gradient → full-outer weight merge,
    * every sum a BIGINT. `w$rounds(f, wt)` is the trained model. */
  private def perceptronCtes(dim: Int, rounds: Int): String = {
    val polyHash = """list_reduce(list_prepend(CAST(0 AS BIGINT),
            [CAST(ord(w[i]) AS BIGINT) FOR i IN range(1, len(w) + 1)]),
            (a, c) -> (a * 31 + c) % 1000000007)"""
    val sb = new StringBuilder
    sb ++= s"""$gopherSignalCtes,
      lbl AS (SELECT doc_id,
          CASE WHEN $gopherKeepSql THEN 1 ELSE -1 END AS y
        FROM s),
      ft AS (SELECT e.doc_id, l.y, e.h % $dim AS f,
          CAST(count(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest([$polyHash FOR w IN ws]) AS h
          FROM t) e
        JOIN lbl l ON l.doc_id = e.doc_id
        GROUP BY e.doc_id, l.y, f),
      w1 AS (SELECT f, CAST(sum(y * c) AS BIGINT) AS wt
        FROM ft GROUP BY f)"""
    for (r <- 2 to rounds) sb ++= s""",
      p$r AS (SELECT ft.doc_id, ft.y, sum(coalesce(w.wt, 0) * ft.c) AS p
        FROM ft LEFT JOIN w${r - 1} w ON w.f = ft.f
        GROUP BY ft.doc_id, ft.y),
      m$r AS (SELECT doc_id FROM p$r WHERE y * p <= 0),
      g$r AS (SELECT f, CAST(sum(y * c) AS BIGINT) AS g
        FROM ft JOIN m$r USING (doc_id) GROUP BY f),
      w$r AS (SELECT coalesce(a.f, b.f) AS f,
          coalesce(a.wt, 0) + coalesce(b.g, 0) AS wt
        FROM w${r - 1} a FULL JOIN g$r b ON a.f = b.f)"""
    sb.toString
  }

  /** Exact-integer quality-classifier training
    * ([[Classifier.perceptronTrain]]): distill the Gopher rule gate
    * (q152) into a fastText-style hashed linear model — 3 batch
    * perceptron rounds, every margin/gradient/weight an exact Long,
    * so the full fit replays in the oracle round by round. */
  private val q163 = Q("q163_quality_classifier",
    (s, dir) => {
      val d = t(s, dir, "documents")
      Classifier.perceptronTrain(
        d.withColumn("_lbl",
          when(TextAnalysis.gopherKeep(col("text")), 1L).otherwise(-1L)),
        "text", "doc_id", "_lbl", dim = 256, rounds = 3)
    },
    Some(s"""WITH ${perceptronCtes(256, 3)}
      SELECT f AS feature, CAST(wt AS BIGINT) AS weight FROM w3"""))

  /** Classifier-vs-rule dashboard: sweep the trained model (q163's
    * weights) back over the corpus and report per-language agreement
    * with the rule gate it distilled — the calibration readout a
    * pipeline owner checks before swapping the gate for the model.
    * Token-less documents score nowhere (no feature rows) and are
    * excluded on both sides. */
  private val q164 = Q("q164_classifier_agreement",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val labeled = d.withColumn("_lbl",
        when(TextAnalysis.gopherKeep(col("text")), 1L).otherwise(-1L))
      val w = Classifier.perceptronTrain(labeled, "text", "doc_id",
        "_lbl", dim = 256, rounds = 3)
      Classifier.perceptronScore(d, "text", "doc_id", w, dim = 256)
        .join(labeled.select(col("doc_id"), col("lang"),
          col("_lbl")), "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("_lbl") === 1, 1L).otherwise(0L)).as("n_keep_rule"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep_model"),
          sum(when((col("_lbl") === 1) === col("keep"), 1L).otherwise(0L))
            .as("n_agree"))
        .withColumn("agreement",
          col("n_agree") * lit(1.0) / col("n_docs"))
    },
    Some(s"""WITH ${perceptronCtes(256, 3)},
      sc AS (SELECT ft.doc_id,
          CAST(sum(coalesce(w.wt, 0) * ft.c) AS BIGINT) AS score
        FROM ft LEFT JOIN w3 w ON w.f = ft.f
        GROUP BY ft.doc_id)
      SELECT t.lang,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN l.y = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_keep_rule,
        CAST(sum(CASE WHEN sc.score > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_keep_model,
        CAST(sum(CASE WHEN (l.y = 1) = (sc.score > 0) THEN 1 ELSE 0 END)
          AS BIGINT) AS n_agree,
        CAST(sum(CASE WHEN (l.y = 1) = (sc.score > 0) THEN 1 ELSE 0 END)
          AS DOUBLE) / count(*) AS agreement
      FROM sc JOIN lbl l USING (doc_id)
      JOIN t ON t.doc_id = sc.doc_id
      GROUP BY t.lang"""))

  /** Model-free signed-random-projection document embeddings
    * ([[TextAnalysis.hashEmbed]]): 16 exact-Long components per doc,
    * every permutation literal public — the full embedding table
    * hash-replays, which no float encoder could offer. */
  private val q165 = Q("q165_hash_embed",
    // the op returns array<long> for the ANN family; the catalog
    // output serializes it (the driver compare hashes scalars)
    (s, dir) => TextAnalysis.hashEmbed(t(s, dir, "documents"),
      "text", "doc_id", dim = 16)
      .select(col("doc_id"),
        concat_ws(",", col("embedding")).as("embedding")),
    Some {
      val (as, bs) = graft.functions.MinHashSig.perms(16, 42L)
      val comps = (0 until 16).map(d =>
        s"CAST(sum(CASE WHEN ((h * ${as(d)} + ${bs(d)}) % 2147483647)" +
          s" % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT)")
        .mkString("[", ",\n        ", "]")
      s"""WITH t AS (SELECT doc_id,
          ${tokensSql("text")} AS ws
        FROM documents),
        e AS (SELECT doc_id,
            unnest([list_reduce(list_prepend(CAST(0 AS BIGINT),
              [CAST(ord(w[i]) AS BIGINT) FOR i IN range(1, len(w) + 1)]),
              (a, c) -> (a * 31 + c) % 1000000007) FOR w IN ws]) AS h
          FROM t)
        SELECT doc_id, array_to_string($comps, ',') AS embedding
        FROM e GROUP BY doc_id"""
    })

  /** Train/eval leakage dashboard: near-duplicate pairs (the q118
    * recall surface) that CROSS hash-split boundaries — the document
    * pairs where one twin lands in train and the other in a held-out
    * split, silently leaking eval content into training. Composes
    * [[Dedup.minHashLshPairsPortable]] with [[Sampling.hashSplit]];
    * both chains replay, so the full leak table (pair counts + overlap
    * envelope per split crossing) carries a hash oracle. At scale this
    * is the q118 pair join plus a broadcast-free map-only split
    * assignment — no new shuffle beyond the dedup itself. */
  private val q166 = Q("q166_split_leakage",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = Dedup.minHashLshPairsPortable(d, "text", "doc_id",
        n = 3, numPerms = 16, rowsPerBand = 4, threshold = 0.5)
      val split = Sampling.hashSplit(d.select(col("doc_id")), "doc_id",
        Seq(("train", 80), ("val", 10), ("test", 10)))
      pairs
        .join(split.select(col("doc_id").as("doc_a"),
          col("split").as("_sa")), Seq("doc_a"))
        .join(split.select(col("doc_id").as("doc_b"),
          col("split").as("_sb")), Seq("doc_b"))
        .select(least(col("_sa"), col("_sb")).as("split_a"),
          greatest(col("_sa"), col("_sb")).as("split_b"),
          col("jaccard"))
        .groupBy(col("split_a"), col("split_b"))
        // min/max, not mean: a double mean would sum IEEE values in
        // partition order and break the hash oracle; min/max are
        // order-independent and each jaccard is a single replayable
        // division
        .agg(count(lit(1)).as("n_pairs"),
          min(col("jaccard")).as("min_jaccard"),
          max(col("jaccard")).as("max_jaccard"))
        .withColumn("leaks", col("split_a") =!= col("split_b"))
    },
    Some(portableLshBkCtes() + s""",
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bk a JOIN bk b
          ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
      pr AS (SELECT doc_a, doc_b, jaccard FROM (
        SELECT c.doc_a, c.doc_b,
          len(list_intersect(x.sh, y.sh)) * 1.0 /
            (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
            AS jaccard
        FROM cand c JOIN g x ON x.doc_id = c.doc_a
        JOIN g y ON y.doc_id = c.doc_b) z
      WHERE jaccard >= 0.5),
      sp AS (SELECT doc_id, CASE
        WHEN ${knuthSql("doc_id")} % 100 < 80
          THEN 'train'
        WHEN ${knuthSql("doc_id")} % 100 < 90
          THEN 'val'
        ELSE 'test' END AS split
      FROM documents)
      SELECT least(a.split, b.split) AS split_a,
        greatest(a.split, b.split) AS split_b,
        CAST(count(*) AS BIGINT) AS n_pairs,
        min(jaccard) AS min_jaccard,
        max(jaccard) AS max_jaccard,
        least(a.split, b.split) <> greatest(a.split, b.split) AS leaks
      FROM pr JOIN sp a ON a.doc_id = pr.doc_a
      JOIN sp b ON b.doc_id = pr.doc_b
      GROUP BY 1, 2"""))

  /** Cluster-balanced diversity sampling: hash-embed the corpus
    * (q165's model-free embeddings), assign every doc to its
    * argmax-cosine cell over the first-8-docs seeded centroids (the
    * q35 IVF convention), cap each cluster at 20 docs by Knuth-hash
    * rank ([[Sampling.capPerDomain]]) — the "spread the sample across
    * semantic clusters" selection a curation pipeline runs instead of
    * uniform sampling. Every stage replays: embeddings are exact
    * Longs, the assignment is the pinned argmax-cosine fold,
    * the cap is the deterministic hash rank. Zero-signal docs (empty
    * or sign-cancelled embeddings) are excluded on both sides —
    * cosine against a zero vector is NaN and engines order NaN
    * differently. */
  private val q167 = Q("q167_cluster_sample",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val emb = TextAnalysis.hashEmbed(d, "text", "doc_id", dim = 16)
        .select(col("doc_id"),
          col("embedding").cast("array<float>").as("_v"))
        .filter(Similarity.norm2(col("_v")) > 0)
      val cents = Similarity.coarseCentroids(emb, "doc_id", "_v",
        nCells = 8)
      val assigned = Similarity.assignCells(emb, cents, "_v")
        .select(col("doc_id"), col("_cell").as("cluster"))
      Sampling.capPerDomain(assigned, "doc_id", "cluster", cap = 20)
    },
    Some {
      val (as, bs) = graft.functions.MinHashSig.perms(16, 42L)
      val comps = (0 until 16).map(d =>
        s"CAST(sum(CASE WHEN ((h * ${as(d)} + ${bs(d)}) % 2147483647)" +
          s" % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT)")
        .mkString("[", ",\n        ", "]")
      s"""WITH t AS (SELECT doc_id,
          ${tokensSql("text")} AS ws
        FROM documents),
        e AS (SELECT doc_id,
            unnest([list_reduce(list_prepend(CAST(0 AS BIGINT),
              [CAST(ord(w[i]) AS BIGINT) FOR i IN range(1, len(w) + 1)]),
              (a, c) -> (a * 31 + c) % 1000000007) FOR w IN ws]) AS h
          FROM t),
        he AS (SELECT doc_id, $comps AS iv FROM e GROUP BY doc_id),
        n AS (SELECT doc_id,
            [CAST(x AS DOUBLE) FOR x IN iv] AS v,
            ${foldSql("[CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN iv]")} AS nrm
          FROM he),
        nz AS (SELECT * FROM n WHERE nrm > 0),
        cent AS (SELECT doc_id AS cent_id, v AS cv, nrm AS cn FROM nz
          ORDER BY doc_id ASC LIMIT 8),
        asg AS (SELECT doc_id, cell FROM (
          SELECT nz.doc_id, cent.cent_id AS cell,
            row_number() OVER (PARTITION BY nz.doc_id ORDER BY
              (${dotFoldSql("nz.v", "cent.cv")} / sqrt(nz.nrm * cent.cn))
                DESC, cent.cent_id ASC) AS cr
          FROM nz CROSS JOIN cent) z WHERE cr = 1),
        r AS (SELECT doc_id, cell,
            row_number() OVER (PARTITION BY cell ORDER BY
              ${knuthSql("doc_id")},
              doc_id) AS rn
          FROM asg)
        SELECT doc_id, cell AS cluster FROM r WHERE rn <= 20"""
    })

  /** Kneser–Ney bigram LM scores ([[TextAnalysis.knBigramLmScores]]):
    * the CCNet/KenLM smoothing family under the micro-unit replay
    * discipline — discounted observed mass + continuation-count
    * backoff, every conditional a Long floor-division chain the
    * oracle replays term by term. */
  private val q168 = Q("q168_kneser_ney_lm",
    (s, dir) => TextAnalysis.knBigramLmScores(t(s, dir, "documents"),
      "text", "doc_id")
      .withColumnRenamed("_id", "doc_id"),
    Some(s"""WITH t AS (SELECT doc_id,
        ${tokensSql("text")} AS toks FROM documents),
      b AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
              FROM t WHERE len(toks) >= 2)),
      c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        FROM b GROUP BY w1, w2),
      c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM b GROUP BY w1),
      nf AS (SELECT w1, CAST(count(*) AS BIGINT) AS n1pf
        FROM c12 GROUP BY w1),
      np AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1pp
        FROM c12 GROUP BY w2),
      bt AS (SELECT CAST(count(*) AS BIGINT) AS bt FROM c12),
      sc AS (SELECT b.doc_id,
          (greatest(c12.c12 * 1000000 - 750000, 0) // c1.c1)
            + ((((750000 * nf.n1pf) // c1.c1)
              * ((np.n1pp * 1000000) // bt.bt)) // 1000000) AS s
        FROM b JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
        JOIN nf USING (w1) JOIN np USING (w2) CROSS JOIN bt),
      d AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS kn_micro_sum,
        CAST(count(*) AS BIGINT) AS n_bigrams FROM sc GROUP BY doc_id)
      SELECT t.doc_id,
        CAST(coalesce(d.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        CAST(coalesce(d.kn_micro_sum, 0) AS BIGINT) AS kn_micro_sum,
        CAST(d.kn_micro_sum AS DOUBLE) / CAST(d.n_bigrams AS DOUBLE)
          AS kn_mean_micro
      FROM t LEFT JOIN d USING (doc_id)"""))

  /** Release-over-release corpus diff ([[Packing.manifestDiff]]):
    * v1 is last release (ids < 450, with ids 100–199 in their
    * pre-recrawl spelling — upper-cased text), v2 is today's
    * (ids ≥ 50). Stable id-range shards (id div 50) make the diff
    * meaningful: shard 0 removed, the recrawled shards changed (the
    * order-independent checksum catches a same-size content edit),
    * the new crawl's shard added, the rest byte-stable. Every
    * manifest column replays (q156's chain), so the whole diff table
    * carries a hash oracle. */
  private val q169 = Q("q169_release_diff",
    (s, dir) => {
      val d = t(s, dir, "documents")
      def manifest(docs: DataFrame): DataFrame = {
        val assignment = docs.select(col("doc_id").as("_id"),
          TextAnalysis.tokenCount(col("text")).cast("long")
            .as("n_tokens"),
          expr("doc_id div 50L").as("shard"))
        val fp = docs.select(col("doc_id").as("_id"),
          TextAnalysis.fingerprint(col("text")).as("_fp"))
        Packing.shardManifest(assignment, fp)
      }
      val v1 = d.filter(col("doc_id") < 450)
        .withColumn("text", when(col("doc_id").between(100, 199),
          upper(col("text"))).otherwise(col("text")))
      val v2 = d.filter(col("doc_id") >= 50)
      Packing.manifestDiff(manifest(v1), manifest(v2))
    },
    Some {
      def manifestSql(src: String, name: String): String =
        s"""$name AS (SELECT doc_id // 50 AS shard,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
          CAST(sum(fp % 1000000007) % 1000000007 AS BIGINT) AS checksum
        FROM (SELECT doc_id,
          CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens,
          CASE WHEN len(text) = 0 THEN 0 ELSE
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              [CAST(ord(text[i]) AS BIGINT)
               FOR i IN range(1, len(text) + 1)]),
              (a, ch) -> (a * 31 + ch) % 1000000007) END AS fp
          FROM $src) GROUP BY 1)"""
      s"""WITH v1 AS (SELECT doc_id,
          CASE WHEN doc_id BETWEEN 100 AND 199 THEN upper(text)
            ELSE text END AS text
        FROM documents WHERE doc_id < 450),
      v2 AS (SELECT doc_id, text FROM documents WHERE doc_id >= 50),
      ${manifestSql("v1", "m1")},
      ${manifestSql("v2", "m2")}
      SELECT coalesce(m1.shard, m2.shard) AS shard,
        CASE WHEN m1.shard IS NULL THEN 'added'
          WHEN m2.shard IS NULL THEN 'removed'
          WHEN m1.checksum <> m2.checksum OR m1.n_docs <> m2.n_docs
            OR m1.n_tokens <> m2.n_tokens THEN 'changed'
          ELSE 'unchanged' END AS status,
        m1.n_docs AS v1_docs, m2.n_docs AS v2_docs,
        m1.checksum AS v1_checksum, m2.checksum AS v2_checksum
      FROM m1 FULL JOIN m2 ON m1.shard = m2.shard"""
    })

  /** Contrastive training pairs mined from the LSH candidate set:
    * positives are the verified near-dups (jaccard ≥ 0.5), hard
    * negatives the band-collided pairs that FAILED the verify —
    * lexically close enough to share a signature band yet not
    * duplicates, exactly the "hard" negatives an embedding/retrieval
    * model trains against (random negatives are trivially separable).
    * One chain yields both labels: the labeled-pair dataset is the
    * q118 pipeline with the threshold turned into the label bit. */
  private val q170 = Q("q170_contrastive_pairs",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val idx = Dedup.minHashDocIndex(d, "text", "doc_id", n = 3,
        numPerms = 16, rowsPerBand = 2)
      val b = idx.select(col("_id"), explode(col("_bands")).as("_b"))
        .select(col("_id"), col("_b._bandNo").as("_bandNo"),
          col("_b._bandKey").as("_bandKey"))
      val cand = b.select(col("_id").as("doc_a"), col("_bandNo"),
          col("_bandKey"))
        .join(b.select(col("_id").as("doc_b"), col("_bandNo"),
          col("_bandKey")), Seq("_bandNo", "_bandKey"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      val sh = idx.select(col("_id"), col("_sh"))
      cand
        .join(sh.select(col("_id").as("doc_a"), col("_sh").as("_sha")),
          Seq("doc_a"))
        .join(sh.select(col("_id").as("doc_b"), col("_sh").as("_shb")),
          Seq("doc_b"))
        .withColumn("jaccard", graft.functions.VectorFunctions
          .jaccardSorted(col("_sha"), col("_shb")))
        .select(col("doc_a"), col("doc_b"), col("jaccard"),
          when(col("jaccard") >= 0.5, 1).otherwise(0).as("label"))
    },
    Some(portableLshBkCtes(rowsPerBand = 2) + s""",
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bk a JOIN bk b
          ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id)
      SELECT c.doc_a, c.doc_b,
        len(list_intersect(x.sh, y.sh)) * 1.0 /
          (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
          AS jaccard,
        CAST(CASE WHEN len(list_intersect(x.sh, y.sh)) * 1.0 /
          (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
          >= 0.5 THEN 1 ELSE 0 END AS INT) AS label
      FROM cand c JOIN g x ON x.doc_id = c.doc_a
      JOIN g y ON y.doc_id = c.doc_b"""))

  /** Vocabulary coverage curve — the tokenizer/vocab-sizing
    * dashboard: for vocab sizes 2^k (k = 0..12), what fraction of
    * corpus token OCCURRENCES the top-2^k types by frequency cover
    * (ties in UTF-8 type order, the q150 discipline). The rank and
    * cumulative sums run over the vocab-cardinality type table, never
    * the corpus: one corpus aggregation, then window passes over
    * |vocab| rows. Coverage = cumulative/total, one IEEE division per
    * output row. */
  private val q171 = Q("q171_vocab_coverage",
    (s, dir) => {
      val d = t(s, dir, "documents")
      import s.implicits._
      val tc = d.select(explode(TextAnalysis.tokens(col("text")))
          .as("_t"))
        .groupBy(col("_t")).agg(count(lit(1)).as("_c"))
      // only the top max-size ranks matter, so bound FIRST with a
      // distributed TakeOrdered (never a global window over the type
      // table — 10^8+ types at web scale); the rank/cumsum windows
      // then run over a constant ≤4096 rows
      val top = tc.orderBy(col("_c").desc, col("_t").asc).limit(4096)
      val ranked = top.withColumn("_r", row_number().over(
          Window.orderBy(col("_c").desc, col("_t").asc)))
        .withColumn("_cum", sum(col("_c")).over(
          Window.orderBy(col("_r"))
            .rowsBetween(Window.unboundedPreceding, 0)))
      val total = tc.agg(sum(col("_c")).as("_tot"))
      val sizes = (0 to 12).map(k => 1L << k)
      val sdf = sizes.toDF("vocab_size")
      sdf.join(ranked, col("_r") <= col("vocab_size"))
        .groupBy(col("vocab_size"))
        .agg(max(col("_cum")).as("covered"), max(col("_r")).as("n_types"))
        .crossJoin(broadcast(total))
        .select(col("vocab_size"), col("n_types"), col("covered"),
          (col("covered").cast("double") / col("_tot").cast("double"))
            .as("coverage"))
    },
    Some(s"""WITH tc AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM (
          SELECT unnest(${tokensSql("text")}) AS t
          FROM documents) GROUP BY t),
      r AS (SELECT t, c,
          row_number() OVER (ORDER BY c DESC, t ASC) AS rk,
          sum(c) OVER (ORDER BY c DESC, t ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM tc),
      tot AS (SELECT sum(c) AS tot FROM tc),
      sz AS (SELECT unnest([1, 2, 4, 8, 16, 32, 64, 128, 256, 512,
        1024, 2048, 4096]) AS vocab_size)
      SELECT CAST(vocab_size AS BIGINT) AS vocab_size,
        CAST(max(rk) AS BIGINT) AS n_types,
        CAST(max(cum) AS BIGINT) AS covered,
        CAST(max(cum) AS DOUBLE) / CAST(tot.tot AS DOUBLE) AS coverage
      FROM sz JOIN r ON r.rk <= sz.vocab_size CROSS JOIN tot
      GROUP BY vocab_size, tot.tot"""))

  /** DSIR importance scores ([[Sampling.dsirScores]]): target = the
    * Gopher-gate keepers (q152's predicate doubling as the "looks
    * like quality text" exemplar set, the same weak-supervision move
    * as q163), raw = the whole corpus. Every per-doc score is an
    * exact Long the oracle replays: add-one bucket models, micro-unit
    * integral-division ratios, Σ c·ratio. */
  private val q172 = Q("q172_dsir_scores",
    (s, dir) => Sampling.dsirScores(t(s, dir, "documents"), "text",
      "doc_id", TextAnalysis.gopherKeep(col("text")), dim = 1024),
    Some(s"""WITH $gopherSignalCtes,
      tgt AS (SELECT doc_id, $gopherKeepSql AS tg FROM s),
      gr AS (SELECT t.doc_id, g.tg, unnest(ws) AS w
          FROM t JOIN tgt g USING (doc_id)
        UNION ALL
        SELECT t.doc_id, g.tg,
            unnest([ws[i] || ' ' || ws[i+1]
              FOR i IN range(1, len(ws))]) AS w
          FROM t JOIN tgt g USING (doc_id)),
      fb AS (SELECT doc_id, tg,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            [CAST(ord(w[i]) AS BIGINT) FOR i IN range(1, len(w) + 1)]),
            (a, c) -> (a * 31 + c) % 1000000007) % 1024 AS f
        FROM gr),
      c AS (SELECT doc_id, f, CAST(count(*) AS BIGINT) AS c
        FROM fb GROUP BY doc_id, f),
      st AS (SELECT f, CAST(count(*) AS BIGINT) AS cr,
          CAST(count(*) FILTER (WHERE tg) AS BIGINT) AS ct
        FROM fb GROUP BY f),
      tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM st),
      r AS (SELECT f,
          CAST((CAST(ct + 1 AS HUGEINT) * (tr + 1024) * 1000000)
            // (CAST(cr + 1 AS HUGEINT) * (tt + 1024)) AS BIGINT)
            AS ratio
        FROM st CROSS JOIN tot)
      SELECT c.doc_id, CAST(sum(c.c) AS BIGINT) AS n_grams,
        CAST(sum(c.c * r.ratio) AS BIGINT) AS dsir_score,
        CAST(sum(c.c * r.ratio) // sum(c.c) AS BIGINT) AS dsir_norm
      FROM c JOIN r USING (f) GROUP BY c.doc_id"""))

  /** HITS hubs/authorities ([[GraphOps.hitsFixedPoint]]) on the same
    * derived customer→supplier graph as q145's PageRank: the
    * complementary centrality pair (who LINKS well vs who IS linked
    * well) a crawl frontier prioritizer uses alongside PageRank. Raw
    * integer rounds, one end rescale to micro-units of the max —
    * every score an exact Long the oracle replays. ShuffleBarrier:
    * lazily-returned catalog frame, nothing pinned. */
  private val q173 = Q("q173_hits",
    (s, dir) => {
      val edges = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
      GraphOps.hitsFixedPoint(edges, "src", "dst", iters = 2,
        cp = graft.ext.ShuffleBarrier)
    },
    Some {
      def half(prev: String, prevCol: String, joinKey: String,
          groupKey: String, out: String, outCol: String): String =
        s"""$out AS (SELECT nodes.n,
            coalesce(x.s, CAST(0 AS HUGEINT)) AS $outCol
          FROM nodes LEFT JOIN (
            SELECT e.$groupKey AS n, CAST(sum(p.$prevCol) AS HUGEINT) AS s
            FROM e JOIN $prev p ON p.n = e.$joinKey
            GROUP BY e.$groupKey) x ON nodes.n = x.n)"""
      s"""WITH e AS (SELECT DISTINCT o_custkey AS src,
          l_suppkey + 1000000 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      nodes AS (SELECT src AS n FROM e UNION SELECT dst FROM e),
      h0 AS (SELECT n, CAST(1000000 AS HUGEINT) AS h FROM nodes),
      ${half("h0", "h", "src", "dst", "a1", "a")},
      ${half("a1", "a", "dst", "src", "h1", "h")},
      ${half("h1", "h", "src", "dst", "a2", "a")},
      ${half("a2", "a", "dst", "src", "h2", "h")},
      mx AS (SELECT max(a) AS ma FROM a2),
      mxh AS (SELECT max(h) AS mh FROM h2)
      SELECT a2.n AS node,
        CAST((a2.a * 1000000) // mx.ma AS BIGINT) AS auth_micro,
        CAST((h2.h * 1000000) // mxh.mh AS BIGINT) AS hub_micro
      FROM a2 JOIN h2 ON a2.n = h2.n CROSS JOIN mx CROSS JOIN mxh"""
    })

  /** C4 page cleaning ([[TextAnalysis.c4Clean]]) over synthesized
    * multi-line pages (the q134 move — the flat fixture text gets a
    * deterministic line structure built identically on both sides,
    * with lines that exercise EVERY rule: a good intro, a javascript
    * line, an unpunctuated nav line, a too-short line, conditional
    * lorem-ipsum / curly-brace / multi-sentence lines keyed off
    * doc_id, and an unpunctuated raw-vocabulary tail so the badword
    * blocklist scans the raw page like the paper). */
  private val q174 = Q("q174_c4_clean",
    (s, dir) => {
      val lines = array(
        concat(lit("Intro about "), substring(col("text"), 1, 40),
          lit(" here.")),
        lit("please enable javascript now."),
        lit("read more"),
        lit("ok fine."),
        when(pmod(col("doc_id"), lit(5)) =!= 0,
          lit("One more good sentence. And another one here! " +
            "Plus a third?")),
        when(pmod(col("doc_id"), lit(7)) === 0,
          lit("Lorem ipsum dolor sit amet.")),
        when(pmod(col("doc_id"), lit(11)) === 0,
          lit("template code { display: none }.")),
        when(pmod(col("doc_id"), lit(5)) =!= 0,
          lit("Contact the team today. We reply fast. Promise!")),
        concat(lit("tags "), col("text")))
      val synth = t(s, dir, "documents").select(col("doc_id"),
        array_join(filter(lines, l => l.isNotNull), "\n").as("_text"))
      TextAnalysis.c4Clean(synth, "_text", "doc_id",
        minLineWords = 3, minSentences = 5, badWords = Seq("vector"))
    },
    Some("""WITH syn AS (SELECT doc_id, concat_ws(chr(10),
        'Intro about ' || substr(text, 1, 40) || ' here.',
        'please enable javascript now.',
        'read more',
        'ok fine.',
        CASE WHEN doc_id % 5 <> 0 THEN
          'One more good sentence. And another one here! Plus a third?'
          END,
        CASE WHEN doc_id % 7 = 0 THEN 'Lorem ipsum dolor sit amet.' END,
        CASE WHEN doc_id % 11 = 0 THEN
          'template code { display: none }.' END,
        CASE WHEN doc_id % 5 <> 0 THEN
          'Contact the team today. We reply fast. Promise!' END,
        'tags ' || text) AS t
      FROM documents),
      kp AS (SELECT doc_id, t,
        list_filter(string_split(t, chr(10)), l ->
          regexp_matches(l, '[.!?"]\s*$')
          AND len(list_filter(string_split(l, ' '),
            w -> len(w) > 0)) >= 3
          AND NOT contains(lower(l), 'javascript')) AS kept,
        len(string_split(t, chr(10))) AS n_all FROM syn),
      cl AS (SELECT doc_id, t, kept, n_all,
        array_to_string(kept, chr(10)) AS clean_text FROM kp),
      sn AS (SELECT *, CAST(len(clean_text) -
          len(regexp_replace(clean_text, '[.!?]', '', 'g')) AS INT)
          AS n_sentences
        FROM cl)
      SELECT doc_id, clean_text,
        CAST(len(kept) AS INT) AS n_lines_kept,
        CAST(n_all - len(kept) AS INT) AS n_lines_dropped,
        n_sentences,
        (NOT contains(lower(t), 'lorem ipsum')
          AND NOT contains(t, '{') AND NOT contains(t, '}')
          AND NOT regexp_matches(lower(t), '\b(vector)\b')
          AND n_sentences >= 5) AS keep
      FROM sn"""))

  /** Blocklist term-hit scoring ([[TextAnalysis.blocklistHits]]) with
    * terms drawn from the fixture vocabulary so hit counts vary:
    * total word-boundary occurrences, distinct terms hit, and the
    * keep flag at maxHits=4. */
  private val q175 = Q("q175_blocklist_hits",
    (s, dir) => TextAnalysis.blocklistHits(t(s, dir, "documents"),
      "text", "doc_id", terms = Seq("hash", "spark", "window"),
      maxHits = 4),
    Some("""SELECT doc_id,
      CAST(len(regexp_extract_all(lower(text),
        '\b(hash|spark|window)\b', 1)) AS INT) AS n_hits,
      CAST(len(list_distinct(regexp_extract_all(lower(text),
        '\b(hash|spark|window)\b', 1))) AS INT) AS n_terms,
      len(regexp_extract_all(lower(text),
        '\b(hash|spark|window)\b', 1)) < 4 AS keep
      FROM documents"""))

  /** Corpus-global paragraph boilerplate removal
    * ([[Dedup.paragraphDedupGlobal]]) over synthesized multi-paragraph
    * pages: a unique intro, a newsletter paragraph shared by every
    * page (df = all), an author bio shared by every third page, and a
    * unique tail — both shared paragraphs contain an INTERNAL single
    * newline, pinning that paragraph keys are whole blocks, not
    * lines. minDocFreq=3 removes both shared blocks; survivors
    * re-join with one blank line. */
  private val q176 = Q("q176_paragraph_dedup",
    (s, dir) => {
      val paras = array(
        concat(lit("Intro: "), substring(col("text"), 1, 30), lit(".")),
        lit("Subscribe to our newsletter.\nNo spam ever."),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit("About the author.\nWrites about data.")),
        concat(lit("Tail: "), substring(col("text"), 31, 40), lit(".")))
      val synth = t(s, dir, "documents").select(col("doc_id"),
        array_join(filter(paras, p => p.isNotNull), "\n\n").as("_text"))
      Dedup.paragraphDedupGlobal(synth, "_text", "doc_id",
        minDocFreq = 3)
    },
    Some("""WITH syn AS (SELECT doc_id, concat_ws(chr(10)||chr(10),
        'Intro: ' || substr(text, 1, 30) || '.',
        'Subscribe to our newsletter.' || chr(10) || 'No spam ever.',
        CASE WHEN doc_id % 3 = 0 THEN
          'About the author.' || chr(10) || 'Writes about data.' END,
        'Tail: ' || substr(text, 31, 40) || '.') AS t FROM documents),
      ps AS (SELECT doc_id, string_split_regex(t, '\n{2,}') AS pl
        FROM syn),
      e AS (SELECT doc_id, unnest(range(1, len(pl) + 1)) AS ix,
          unnest(pl) AS p FROM ps),
      freq AS (SELECT trim(p) AS k, count(DISTINCT doc_id) AS df
        FROM e WHERE len(trim(p)) > 0 GROUP BY 1),
      keep AS (SELECT e.doc_id, e.ix, e.p
        FROM e LEFT JOIN freq f ON trim(e.p) = f.k AND f.df >= 3
        WHERE f.k IS NULL AND len(trim(e.p)) > 0),
      agg AS (SELECT doc_id, string_agg(p, chr(10)||chr(10)
          ORDER BY ix) AS clean_text
        FROM keep GROUP BY doc_id)
      SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text
      FROM documents d LEFT JOIN agg a USING (doc_id)"""))

  /** Winnowing fingerprints ([[TextAnalysis.winnowFingerprints]]),
    * k=5, w=4, over the raw fixture text. The oracle replays gram
    * hashing with the q31 fold and the rightmost-min window selection
    * via two grouped range-joins (window min, then max position
    * achieving it) — a completely different computation path pinning
    * the same fingerprint set. */
  private val q177 = Q("q177_winnow_fingerprints",
    (s, dir) => TextAnalysis.winnowFingerprints(t(s, dir, "documents"),
      "text", "doc_id", k = 5, w = 4),
    Some("""WITH s AS (SELECT doc_id,
        regexp_replace(lower(text), '\s+', '', 'g') AS st
        FROM documents),
      h0 AS (SELECT doc_id, st,
        unnest(range(1, len(st) - 4 + 1)) AS pos FROM s),
      g AS (SELECT doc_id, pos, st[pos:pos+4] AS gram FROM h0),
      hh AS (SELECT doc_id, pos,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          [CAST(ord(gram[j]) AS BIGINT)
            FOR j IN range(1, len(gram) + 1)]),
          (a, c) -> (a * 31 + c) % 1000000007) AS h
        FROM g),
      mm AS (SELECT doc_id, max(pos) AS m FROM hh GROUP BY doc_id),
      wins AS (SELECT hh.doc_id, hh.pos AS j
        FROM hh JOIN mm USING (doc_id)
        WHERE hh.pos >= least(4, mm.m)),
      wmin AS (SELECT w.doc_id, w.j, min(hi.h) AS mh
        FROM wins w JOIN hh hi ON hi.doc_id = w.doc_id
          AND hi.pos BETWEEN w.j - 3 AND w.j
        GROUP BY w.doc_id, w.j),
      pick AS (SELECT wm.doc_id, wm.mh AS fp, max(hi.pos) AS pos
        FROM wmin wm JOIN hh hi ON hi.doc_id = wm.doc_id
          AND hi.pos BETWEEN wm.j - 3 AND wm.j AND hi.h = wm.mh
        GROUP BY wm.doc_id, wm.j, wm.mh)
      SELECT DISTINCT doc_id, fp, pos FROM pick"""))

  /** Incremental HITS maintenance ([[GraphOps.hitsFixedPoint]] warm
    * start — q159's daily-refresh discipline for the q173 signal):
    * rank the filtered graph 2 rounds, store the scaled result, add
    * the held-out edges, resume ONE round from the stored hub state.
    * The oracle replays both phases — base rounds, end rescale, warm
    * f0 with cold 1e6 entry for new nodes, one resumed round, final
    * rescale. */
  private val q178 = Q("q178_hits_incremental",
    (s, dir) => {
      def edges(filtered: Boolean) = {
        val j = t(s, dir, "orders")
          .join(t(s, dir, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
        (if (filtered) j.filter(col("o_orderkey") % 10 =!= 0) else j)
          .select(col("o_custkey").as("src"),
            (col("l_suppkey") + lit(1000000L)).as("dst"))
      }
      val stored = GraphOps.hitsFixedPoint(edges(filtered = true),
        "src", "dst", iters = 2, cp = graft.ext.ShuffleBarrier)
      GraphOps.hitsFixedPoint(edges(filtered = false), "src", "dst",
        iters = 1, cp = graft.ext.ShuffleBarrier,
        initHubs = Some(stored))
    },
    Some {
      def half(e: String, nodes: String, prev: String, prevCol: String,
          joinKey: String, groupKey: String, out: String,
          outCol: String): String =
        s"""$out AS (SELECT $nodes.n,
            coalesce(x.s, CAST(0 AS HUGEINT)) AS $outCol
          FROM $nodes LEFT JOIN (
            SELECT e2.$groupKey AS n, CAST(sum(p.$prevCol) AS HUGEINT) AS s
            FROM $e e2 JOIN $prev p ON p.n = e2.$joinKey
            GROUP BY e2.$groupKey) x ON $nodes.n = x.n)"""
      s"""WITH eb AS (SELECT DISTINCT o_custkey AS src,
          l_suppkey + 1000000 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey % 10 <> 0),
      nb AS (SELECT src AS n FROM eb UNION SELECT dst FROM eb),
      hb0 AS (SELECT n, CAST(1000000 AS HUGEINT) AS h FROM nb),
      ${half("eb", "nb", "hb0", "h", "src", "dst", "ab1", "a")},
      ${half("eb", "nb", "ab1", "a", "dst", "src", "hb1", "h")},
      ${half("eb", "nb", "hb1", "h", "src", "dst", "ab2", "a")},
      ${half("eb", "nb", "ab2", "a", "dst", "src", "hb2", "h")},
      mb AS (SELECT max(h) AS mh FROM hb2),
      sb AS (SELECT hb2.n,
          CAST((hb2.h * 1000000) // mb.mh AS BIGINT) AS hub
        FROM hb2 CROSS JOIN mb),
      ef AS (SELECT DISTINCT o_custkey AS src,
          l_suppkey + 1000000 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      nf AS (SELECT src AS n FROM ef UNION SELECT dst FROM ef),
      f0 AS (SELECT nf.n, CAST(coalesce(sb.hub, 1000000) AS HUGEINT) AS h
        FROM nf LEFT JOIN sb ON nf.n = sb.n),
      ${half("ef", "nf", "f0", "h", "src", "dst", "af1", "a")},
      ${half("ef", "nf", "af1", "a", "dst", "src", "hf1", "h")},
      mxa AS (SELECT max(a) AS ma FROM af1),
      mxh AS (SELECT max(h) AS mh FROM hf1)
      SELECT af1.n AS node,
        CAST((af1.a * 1000000) // mxa.ma AS BIGINT) AS auth_micro,
        CAST((hf1.h * 1000000) // mxh.mh AS BIGINT) AS hub_micro
      FROM af1 JOIN hf1 ON af1.n = hf1.n
      CROSS JOIN mxa CROSS JOIN mxh"""
    })

  /** Script/charset profile ([[TextAnalysis.scriptProfile]]) over
    * synthesized mixed-script pages: residue class 0 stays Latin,
    * 1 gets a Cyrillic tail that outweighs its Latin prefix, 2 a CJK
    * run that outweighs both, 3 digits plus U+FFFD mojibake — so
    * every counter and every branch of the dominant-script label is
    * load-bearing on the fixture. */
  private val q179 = Q("q179_script_profile",
    (s, dir) => {
      val cyrTail =
        " киты плывут на север сквозь холодные тёмные воды океана"
      val cjkTail = " 数据流在大规模集群上持续不断地处理着海量文本语料库内容"
      val txt = when(pmod(col("doc_id"), lit(4)) === 0,
          substring(col("text"), 1, 60))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          concat(substring(col("text"), 1, 10), lit(cyrTail)))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          concat(substring(col("text"), 1, 10), lit(cjkTail)))
        .otherwise(concat(substring(col("text"), 1, 30),
          lit(" 1234567890 "), lit("���")))
      val synth = t(s, dir, "documents")
        .select(col("doc_id"), txt.as("_text"))
      TextAnalysis.scriptProfile(synth, "_text", "doc_id")
    },
    Some("""WITH syn AS (SELECT doc_id,
        CASE doc_id % 4
          WHEN 0 THEN substr(text, 1, 60)
          WHEN 1 THEN substr(text, 1, 10) ||
            ' киты плывут на север сквозь холодные тёмные воды океана'
          WHEN 2 THEN substr(text, 1, 10) ||
            ' 数据流在大规模集群上持续不断地处理着海量文本语料库内容'
          ELSE substr(text, 1, 30) || ' 1234567890 ' ||
            repeat(chr(65533), 3)
        END AS t FROM documents),
      c AS (SELECT doc_id,
        CAST(len(t) AS INT) AS n_chars,
        CAST(len(t) - len(regexp_replace(t, '[A-Za-z]', '', 'g'))
          AS INT) AS n_latin,
        CAST(len(t) - len(regexp_replace(t,
          '[\x{0400}-\x{04FF}]', '', 'g')) AS INT) AS n_cyrillic,
        CAST(len(t) - len(regexp_replace(t,
          '[\x{4E00}-\x{9FFF}]', '', 'g')) AS INT) AS n_cjk,
        CAST(len(t) - len(regexp_replace(t, '[0-9]', '', 'g'))
          AS INT) AS n_digit,
        CAST(len(t) - len(regexp_replace(t, '\s', '', 'g'))
          AS INT) AS n_space,
        CAST(len(t) - len(regexp_replace(t, '\x{FFFD}', '', 'g'))
          AS INT) AS n_replacement
        FROM syn)
      SELECT doc_id, n_chars, n_latin, n_cyrillic, n_cjk, n_digit,
        n_space, n_replacement,
        CASE WHEN n_cjk > n_latin AND n_cjk > n_cyrillic THEN 'cjk'
          WHEN n_cyrillic > n_latin THEN 'cyrillic'
          ELSE 'latin' END AS script
      FROM c"""))

  /** UL2 mixture-of-denoisers ([[TextAnalysis.mixtureDenoise]]): the
    * oracle assigns modes with the same Knuth hash, replays the q149
    * span-corruption chain TWICE (rate 150000 for R-docs, 400000 for
    * X-docs), renders the S split with list slicing, and stitches the
    * three sides back per doc. */
  private val q180 = Q("q180_mixture_denoise",
    (s, dir) => TextAnalysis.mixtureDenoise(t(s, dir, "documents"),
      "text", "doc_id"),
    Some {
      def chain(sfx: String, rate: Int, mdVal: Int): String =
        s"""e$sfx AS (SELECT doc_id, i AS pos, toks[i] AS tok,
            ((((doc_id * 1000003 + i) % 2147483648) * 2654435761)
              % 2147483647) % 1000000 < $rate AS m
          FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i
                FROM md WHERE md = $mdVal)),
        r$sfx AS (SELECT doc_id, pos, tok, m,
            CASE WHEN m AND NOT coalesce(
              lag(m) OVER (PARTITION BY doc_id ORDER BY pos), false)
            THEN 1 ELSE 0 END AS st
          FROM e$sfx),
        r2$sfx AS (SELECT doc_id, pos, tok, m, st,
            sum(st) OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS k
          FROM r$sfx),
        sides$sfx AS (SELECT doc_id,
            string_agg(CASE WHEN NOT m THEN tok
              WHEN st = 1 THEN '<extra_id_' || k || '>' END,
              ' ' ORDER BY pos) AS input_text,
            string_agg(CASE WHEN st = 1
                THEN '<extra_id_' || k || '> ' || tok
              WHEN m THEN tok END, ' ' ORDER BY pos) AS targets
          FROM r2$sfx GROUP BY doc_id)"""
      s"""WITH t AS (SELECT doc_id,
          ${tokensSql("text")} AS toks
        FROM documents),
      md AS (SELECT doc_id, toks,
          (${seedSql("doc_id")}) % 3 AS md
        FROM t),
      ${chain("r", 150000, 0)},
      ${chain("x", 400000, 1)},
      scut AS (SELECT doc_id, toks, len(toks) AS n,
          len(toks) - greatest(1, len(toks) // 4) AS cut
        FROM md WHERE md = 2),
      ssides AS (SELECT doc_id,
          CASE WHEN n = 0 THEN '' ELSE
            array_to_string(list_append(toks[1:cut], '<extra_id_0>'),
              ' ') END AS input_text,
          CASE WHEN n = 0 THEN '' ELSE
            array_to_string(list_prepend('<extra_id_0>',
              toks[cut+1:n]), ' ') END AS targets
        FROM scut)
      SELECT m2.doc_id,
        CASE m2.md WHEN 0 THEN 'r' WHEN 1 THEN 'x' ELSE 's' END AS mode,
        coalesce(sr.input_text, sx.input_text, ss.input_text, '')
          AS input_text,
        coalesce(sr.targets, sx.targets, ss.targets, '') AS targets
      FROM md m2
      LEFT JOIN sidesr sr ON m2.md = 0 AND m2.doc_id = sr.doc_id
      LEFT JOIN sidesx sx ON m2.md = 1 AND m2.doc_id = sx.doc_id
      LEFT JOIN ssides ss ON m2.md = 2 AND m2.doc_id = ss.doc_id"""
    })

  /** Token-budget epoch sampling ([[Sampling.tokenBudgetSample]]):
    * 30k-token budget over the four fixture sources at a 50/25/15/10
    * mix — binding quotas at sf0.01+ (whole small domains at
    * sf0.001, still well-defined). The oracle replays the greedy
    * token fill with a plain per-domain running-sum window — the
    * reference formulation of the engine's two-phase bucketed shape. */
  private val q181 = Q("q181_token_budget_sample",
    (s, dir) => {
      val d = t(s, dir, "documents").withColumn("n_tokens",
        TextAnalysis.tokenCount(col("text")).cast("long"))
      Sampling.tokenBudgetSample(d, "doc_id", "source", "n_tokens",
        budgetTokens = 30000L,
        weightsMicro = Seq("src0" -> 500000L, "src1" -> 250000L,
          "src2" -> 150000L, "src3" -> 100000L))
    },
    Some(s"""WITH w(source, wm) AS (VALUES
        ('src0', 500000), ('src1', 250000),
        ('src2', 150000), ('src3', 100000)),
      q AS (SELECT source,
        (CAST(30000 AS BIGINT) * wm) // 1000000 AS quota FROM w),
      d AS (SELECT doc_id, source,
          CAST(len(${tokensSql("text")}) AS BIGINT) AS tok
        FROM documents),
      r AS (SELECT d.doc_id, d.source, d.tok, q.quota,
          sum(d.tok) OVER (PARTITION BY d.source
            ORDER BY ${knuthSql("d.doc_id")},
              d.doc_id
            ROWS UNBOUNDED PRECEDING) AS ct
        FROM d JOIN q USING (source))
      SELECT doc_id, source, tok AS n_tokens
      FROM r WHERE ct - tok < quota"""))

  /** Payload-level near-dup pairs ([[Multimodal.payloadNearDupPairs]])
    * — SimHash over hex-rendered payload shingles, the
    * perceptual-hash stand-in for image/audio dedup. The oracle
    * replays the whole brute-force pair surface (hex → char 8-grams →
    * poly hashes → majority-vote bits → Hamming ≤ 2), which doubles
    * as the pigeonhole recall proof at this tokenization. */
  private val q182 = Q("q182_payload_neardup",
    (s, dir) => Multimodal.payloadNearDupPairs(t(s, dir, "documents"),
      "text", "doc_id", gram = 8, maxDist = 2, chunks = 4, nBits = 48),
    Some {
      val (as, bs) = graft.functions.MinHashSig.perms(48, 77L)
      val bitsSql = (0 until 48).map(j =>
        s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          s"[((h * ${as(j)} + ${bs(j)}) % 2147483647) & 1 FOR h IN hs]), " +
          "(x, y) -> x + y)")
        .mkString("[", ",\n        ", "]")
      val fpSql = (0 until 48).map(j =>
        s"CASE WHEN 2 * sv[${j + 1}] > nt THEN ${1L << j} ELSE 0 END")
        .mkString("\n        + ")
      s"""WITH hxt AS (SELECT doc_id AS media_id,
          hex(encode(text)) AS hx
        FROM documents),
      t AS (SELECT media_id,
          list_distinct([hx[i:i+7]
            FOR i IN range(1, len(hx) - 8 + 2)]) AS toks
        FROM hxt),
      tn AS (SELECT media_id, toks FROM t WHERE len(toks) > 0),
      h AS (SELECT media_id, len(toks) AS nt,
          [list_reduce(list_prepend(CAST(0 AS BIGINT),
            [CAST(ord(x[i]) AS BIGINT) FOR i IN range(1, len(x) + 1)]),
            (a, c) -> (a * 31 + c) % 1000000007) FOR x IN toks] AS hs
        FROM tn),
      sb AS (SELECT media_id, nt, $bitsSql AS sv FROM h),
      f AS (SELECT media_id, $fpSql AS fp FROM sb)
      SELECT a.media_id AS doc_a, b.media_id AS doc_b,
        CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
      FROM f a JOIN f b ON a.media_id < b.media_id
      WHERE bit_count(xor(a.fp, b.fp)) <= 2"""
    })

  /** Round-8 web-curation pipeline ([[Curation.webCurate]]): C4 clean
    * → latin-script gate → blocklist gate → corpus line dedup, over
    * synthesized pages where every stage is load-bearing — a
    * javascript line for the c4 line rules, a social-share line every
    * page shares (line dedup removes it corpus-wide), a long Cyrillic
    * sentence on every 7th page (script gate drops the page), and two
    * blocklist terms on every 11th (blocklist gate drops it). The
    * oracle composes the q174, q179, q175, and q140 CTE chains. */
  private val q183 = Q("q183_web_curate",
    (s, dir) => {
      val cyr = "Русские буквы тут доминируют над всеми латинскими " +
        "символами страницы целиком и полностью без сомнений и каждое " +
        "дополнительное слово усиливает их численное превосходство."
      val lines = array(
        concat(lit("Intro about "), substring(col("text"), 1, 40),
          lit(" here.")),
        lit("please enable javascript now."),
        lit("Share this article on social media today."),
        when(pmod(col("doc_id"), lit(5)) =!= 0,
          lit("One more good sentence. And another one here! " +
            "Plus a third?")),
        when(pmod(col("doc_id"), lit(7)) === 0, lit(cyr)),
        when(pmod(col("doc_id"), lit(11)) === 0,
          lit("Contains zzzspam and zzzscam words here.")))
      val synth = t(s, dir, "documents").select(col("doc_id"),
        array_join(filter(lines, l => l.isNotNull), "\n").as("_text"))
      graft.ext.Curation.webCurate(synth, "_text", "doc_id",
        terms = Seq("zzzspam", "zzzscam"), minLineWords = 3,
        minSentences = 2, maxHits = 2, minDocFreq = 3)
    },
    Some {
      val cyr = "Русские буквы тут доминируют над всеми латинскими " +
        "символами страницы целиком и полностью без сомнений и каждое " +
        "дополнительное слово усиливает их численное превосходство."
      s"""WITH syn AS (SELECT doc_id, concat_ws(chr(10),
        'Intro about ' || substr(text, 1, 40) || ' here.',
        'please enable javascript now.',
        'Share this article on social media today.',
        CASE WHEN doc_id % 5 <> 0 THEN
          'One more good sentence. And another one here! Plus a third?'
          END,
        CASE WHEN doc_id % 7 = 0 THEN '$cyr' END,
        CASE WHEN doc_id % 11 = 0 THEN
          'Contains zzzspam and zzzscam words here.' END) AS t
      FROM documents),
      kp AS (SELECT doc_id, t,
        list_filter(string_split(t, chr(10)), l ->
          regexp_matches(l, '[.!?"]\\s*$$')
          AND len(list_filter(string_split(l, ' '),
            w -> len(w) > 0)) >= 3
          AND NOT contains(lower(l), 'javascript')) AS kept FROM syn),
      cl AS (SELECT doc_id, t,
        array_to_string(kept, chr(10)) AS ct FROM kp),
      sn AS (SELECT *, len(ct) -
          len(regexp_replace(ct, '[.!?]', '', 'g')) AS ns FROM cl),
      cts AS (SELECT doc_id, ct,
        len(ct) - len(regexp_replace(ct, '[A-Za-z]', '', 'g')) AS nl,
        len(ct) - len(regexp_replace(ct,
          '[\\x{0400}-\\x{04FF}]', '', 'g')) AS nc,
        len(ct) - len(regexp_replace(ct,
          '[\\x{4E00}-\\x{9FFF}]', '', 'g')) AS nk
        FROM sn
        WHERE NOT contains(lower(t), 'lorem ipsum')
          AND NOT contains(t, '{') AND NOT contains(t, '}')
          AND ns >= 2),
      gate AS (SELECT doc_id, ct FROM cts
        WHERE NOT (nk > nl AND nk > nc) AND nc <= nl
          AND len(regexp_extract_all(lower(ct),
            '\\b(zzzscam|zzzspam)\\b', 1)) < 2),
      ls2 AS (SELECT doc_id, string_split(ct, chr(10)) AS l FROM gate),
      e2 AS (SELECT doc_id, unnest(range(1, len(l) + 1)) AS ix,
          unnest(l) AS line FROM ls2),
      freq2 AS (SELECT trim(line) AS k2, count(DISTINCT doc_id) AS df
        FROM e2 WHERE len(trim(line)) > 0 GROUP BY 1),
      keep2 AS (SELECT e2.doc_id, e2.ix, e2.line
        FROM e2 LEFT JOIN freq2 f ON trim(e2.line) = f.k2 AND f.df >= 3
        WHERE f.k2 IS NULL),
      agg2 AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY ix)
          AS clean_text
        FROM keep2 GROUP BY doc_id)
      SELECT g.doc_id, coalesce(a.clean_text, '') AS clean_text
      FROM gate g LEFT JOIN agg2 a USING (doc_id)"""
    })

  /** Intra-document duplicate-line removal
    * ([[TextAnalysis.dedupLinesWithin]]) over synthesized pages with a
    * nav line repeated twice (three times on every third page) and an
    * empty line — first occurrence kept, order and empties preserved.
    * Oracle replays with a per-(doc, trimmed-line) occurrence
    * row_number. */
  private val q184 = Q("q184_dedup_lines_within",
    (s, dir) => {
      val nav = "Nav menu home products pricing."
      val lines = array(
        lit(nav),
        concat(lit("Body text: "), substring(col("text"), 1, 50),
          lit(".")),
        lit(nav),
        lit(""),
        when(pmod(col("doc_id"), lit(3)) === 0, lit(nav)),
        concat(lit("Tail: "), substring(col("text"), 51, 30), lit(".")))
      val synth = t(s, dir, "documents").select(col("doc_id"),
        array_join(filter(lines, l => l.isNotNull), "\n").as("_text"))
      TextAnalysis.dedupLinesWithin(synth, "_text", "doc_id")
    },
    Some("""WITH syn AS (SELECT doc_id, concat_ws(chr(10),
        'Nav menu home products pricing.',
        'Body text: ' || substr(text, 1, 50) || '.',
        'Nav menu home products pricing.',
        '',
        CASE WHEN doc_id % 3 = 0 THEN
          'Nav menu home products pricing.' END,
        'Tail: ' || substr(text, 51, 30) || '.') AS t FROM documents),
      ls AS (SELECT doc_id, string_split(t, chr(10)) AS l FROM syn),
      e AS (SELECT doc_id, unnest(range(1, len(l) + 1)) AS ix,
          unnest(l) AS line FROM ls),
      f AS (SELECT doc_id, ix, line,
          CASE WHEN len(trim(line)) > 0 THEN
            row_number() OVER (PARTITION BY doc_id, trim(line)
              ORDER BY ix)
          ELSE 1 END AS occ
        FROM e),
      agg AS (SELECT doc_id,
          string_agg(line, chr(10) ORDER BY ix)
            FILTER (WHERE occ = 1) AS clean_text,
          CAST(count(*) AS INT) AS n_lines,
          CAST(count(*) FILTER (WHERE occ > 1) AS INT)
            AS n_dupes_removed
        FROM f GROUP BY doc_id)
      SELECT doc_id, coalesce(clean_text, '') AS clean_text, n_lines,
        n_dupes_removed
      FROM agg"""))

  /** Link extraction ([[Urls.extractLinks]]) over pages with two
    * synthesized embedded URLs each — one messy (mixed-case www host,
    * default :443 port, unsorted query, fragment), one trailing a
    * sentence period — so extraction, trailing-punct strip, and every
    * canonicalization rule are load-bearing. The oracle replays the
    * regex pull and the full q160 canonicalization chain. */
  private val q185 = Q("q185_link_extract",
    (s, dir) => {
      val synth = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" See https://WWW.Site"),
          pmod(col("doc_id"), lit(7)).cast("string"),
          lit(".example.com:443/Path"), col("doc_id").cast("string"),
          lit("/?b=2&a=1#frag and http://site"),
          pmod(col("doc_id") + 1, lit(7)).cast("string"),
          lit(".example.com/other.")).as("_text"))
      Urls.extractLinks(synth, "_text", "doc_id")
    },
    Some("""WITH syn AS (SELECT doc_id,
        text || ' See https://WWW.Site' || (doc_id % 7) ||
          '.example.com:443/Path' || doc_id ||
          '/?b=2&a=1#frag and http://site' || ((doc_id + 1) % 7) ||
          '.example.com/other.' AS t
        FROM documents),
      m AS (SELECT doc_id,
        unnest(regexp_extract_all(t, 'https?://[^\s]+')) AS raw
        FROM syn),
      u AS (SELECT doc_id,
        regexp_replace(raw, '[.,;:!?)''"]+$', '') AS url FROM m),
      c AS (SELECT doc_id,
        lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
          AS scheme,
        regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
        FROM (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nofrag
          FROM u)),
      p AS (SELECT doc_id, scheme, rest,
        regexp_extract(rest, '^([^/?]*)', 1) AS hostport
        FROM c),
      q AS (SELECT doc_id, scheme,
        regexp_replace(
          lower(regexp_replace(hostport, ':[0-9]+$', '')),
          '^www\.', '') AS host,
        regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
        substr(rest, len(hostport) + 1) AS afterhost
        FROM p),
      r AS (SELECT doc_id, scheme, host,
        CASE WHEN port = '' THEN ''
          WHEN scheme = 'http' AND port = '80' THEN ''
          WHEN scheme = 'https' AND port = '443' THEN ''
          ELSE ':' || port END AS portpart,
        CASE WHEN regexp_replace(
            regexp_extract(afterhost, '^([^?]*)', 1), '/+$', '') = ''
          THEN '/'
          ELSE regexp_replace(
            regexp_extract(afterhost, '^([^?]*)', 1), '/+$', '') END
          AS path,
        CASE WHEN regexp_extract(afterhost, '\?(.*)$', 1) = '' THEN ''
          ELSE '?' || array_to_string(list_sort(string_split(
            regexp_extract(afterhost, '\?(.*)$', 1), '&')), '&') END
          AS querypart
        FROM q)
      SELECT doc_id,
        scheme || '://' || host || portpart || path || querypart AS url,
        host AS dst_host
      FROM r"""))

  /** Shared DuckDB CTE chain of the two-stage retrieval family
    * (q186/q187): q114's ADC index replay (first-16 codebook, 16
    * coarse cells, 2 probes, 50 query vectors) widened to `adcr` (the
    * full ADC ranking) and a depth-`m` candidate cut `cand`, plus the
    * exact-cosine re-rank `rr` over JUST those candidates — the
    * stage-2 surface of [[graft.ext.Similarity.twoStageTopK]]. */
  private def twoStageCtes(m: Int): String = cosineOracleCte + s""",
      cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n
        ORDER BY vec_id ASC LIMIT 16),
      asg AS (SELECT n_id, cell FROM (
        SELECT n.vec_id AS n_id, cent.cent_id AS cell,
          $centroidRankSql AS cr
        FROM n CROSS JOIN cent) z WHERE cr = 1),
      cb AS (SELECT vec_id AS c, v AS cv2 FROM e WHERE vec_id < 16),
      pa AS (SELECT e.vec_id, cb.c, js.j,
          ${subDistFoldSql("e.v", "cb.cv2", "js.j")} AS d
        FROM e CROSS JOIN cb CROSS JOIN (SELECT unnest(range(0, 8)) AS j) js),
      sel AS (SELECT vec_id, j, c FROM (
          SELECT vec_id, j, c,
            row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
          FROM pa) z WHERE rn = 1),
      prb AS (SELECT q_id, qv, cell FROM (
        SELECT n.vec_id AS q_id, n.v AS qv, cent.cent_id AS cell,
          $centroidRankSql AS pr
        FROM n CROSS JOIN cent WHERE n.vec_id < 50) z WHERE pr <= 2),
      tj AS (SELECT s.vec_id, p.q_id, s.j,
          ${subDistFoldSql("p.qv", "cb.cv2", "s.j")} AS t
        FROM sel s JOIN cb ON cb.c = s.c
        JOIN asg a ON a.n_id = s.vec_id
        JOIN prb p ON p.cell = a.cell),
      dist AS (SELECT q_id, vec_id AS n_id,
          ${foldSql("list(t ORDER BY j)")} AS d
        FROM tj GROUP BY q_id, vec_id),
      adcr AS (SELECT q_id, n_id,
          row_number() OVER (PARTITION BY q_id ORDER BY d, n_id) AS rank
        FROM dist WHERE n_id <> q_id),
      cand AS (SELECT q_id, n_id FROM adcr WHERE rank <= $m),
      rr AS (SELECT c.q_id, c.n_id,
          row_number() OVER (PARTITION BY c.q_id ORDER BY
            (${dotFoldSql("q.v", "x.v")} / sqrt(q.nrm * x.nrm)) DESC,
            c.n_id ASC) AS rank
        FROM cand c JOIN n q ON q.vec_id = c.q_id
        JOIN n x ON x.vec_id = c.n_id)"""

  /** Two-stage ANN retrieval ([[Similarity.twoStageTopK]]): ADC top-10
    * candidates from the cell-pruned compressed index, exact-cosine
    * re-rank to top-3 — the approximate-candidates → exact-re-rank
    * composition every production vector store runs. Both stages are
    * deterministic, so the composed ranking hash-matches. */
  private val q186 = Q("q186_two_stage_ann",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.twoStageTopK(emb.filter(col("vec_id") < 50), emb,
        "vec_id", "embedding", k = 3, m = 10)
    },
    Some(twoStageCtes(10) + """
      SELECT q_id, n_id, CAST(rank AS INT) AS rank
      FROM rr WHERE rank <= 3"""))

  /** Two-stage retrieval quality dashboard: per-query recall@3 of the
    * raw ADC ranking (q114's stage 1 alone) NEXT TO the re-ranked
    * two-stage result (q186), both against the exact brute-force
    * ranking — the lift table that justifies the re-rank stage.
    * Ext9Spec asserts the lift is non-negative in aggregate. */
  private val q187 = Q("q187_two_stage_recall",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 50)
      val ext = Similarity.bruteForceTopK(q, emb,
        "vec_id", "embedding", k = 3)
      val adc = Similarity.ivfPqTopK(q, emb,
        "vec_id", "embedding", k = 3)
      val two = Similarity.twoStageTopK(q, emb,
        "vec_id", "embedding", k = 3, m = 10)
      Similarity.recallAtK(adc, ext, k = 3)
        .withColumnRenamed("n_hit", "n_hit_adc")
        .withColumnRenamed("recall", "recall_adc")
        .join(Similarity.recallAtK(two, ext, k = 3)
          .withColumnRenamed("n_hit", "n_hit_rerank")
          .withColumnRenamed("recall", "recall_rerank"), "q_id")
    },
    Some(twoStageCtes(10) + s""",
      ext AS (SELECT q_id, n_id FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id,
          $cosineRankSql AS rank
        FROM n q JOIN n c ON q.vec_id < 50 AND c.vec_id <> q.vec_id) z
      WHERE rank <= 3),
      a3 AS (SELECT q_id, n_id FROM adcr WHERE rank <= 3),
      t3 AS (SELECT q_id, n_id FROM rr WHERE rank <= 3)
      SELECT e.q_id,
        CAST(sum(CASE WHEN a.n_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
          AS n_hit_adc,
        sum(CASE WHEN a.n_id IS NULL THEN 0 ELSE 1 END) * 1.0 / count(*)
          AS recall_adc,
        CAST(sum(CASE WHEN t.n_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
          AS n_hit_rerank,
        sum(CASE WHEN t.n_id IS NULL THEN 0 ELSE 1 END) * 1.0 / count(*)
          AS recall_rerank
      FROM ext e
      LEFT JOIN a3 a ON a.q_id = e.q_id AND a.n_id = e.n_id
      LEFT JOIN t3 t ON t.q_id = e.q_id AND t.n_id = e.n_id
      GROUP BY e.q_id"""))

  /** Suffix-array-style exact-substring dedup ([[SuffixDedup]], Lee
    * et al. 2022 ExactSubstr): merged to-remove intervals of every
    * duplicated 12-token span, one surviving occurrence per
    * substring. The doubling-id chain — token classes, three
    * pair-class doubling rounds (2/4/8-token blocks), the overlapped
    * `(id₃(i), id₃(i+4))` length-12 equality key, keeper selection,
    * and the per-doc interval merge — replays round by round in the
    * oracle: round ids are class REPRESENTATIVES (min packed
    * (doc, pos) over the positions sharing the substring — pure
    * integer arithmetic, −1 sentinel), so both engines derive the
    * identical class tables, not just identical final spans. */
  /** Shared DuckDB CTE chain of the suffix-dedup family (q188/q189):
    * token positions, the class-representative doubling rounds
    * (min packed (doc,pos) per substring class, -1 sentinel), the
    * overlapped length-12 key, keeper selection, and the per-doc
    * gaps-and-islands interval merge up to `isl`. */
  private def suffixDedupCtes: String = s"""WITH tk0 AS (SELECT doc_id,
        ${tokensSql("text")} AS toks
        FROM documents),
      tk AS (SELECT doc_id, i AS pos, toks[i] AS tok, len(toks) AS dlen
        FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i
          FROM tk0) z),
      d0 AS (SELECT doc_id, pos, dlen,
          min(doc_id * 4294967296 + pos) OVER (PARTITION BY tok) AS r
        FROM tk),
      p1 AS (SELECT a.doc_id, a.pos, a.dlen, a.r, coalesce(b.r, -1) AS r2
        FROM d0 a LEFT JOIN d0 b
          ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
      d1 AS (SELECT doc_id, pos, dlen,
          min(doc_id * 4294967296 + pos) OVER (PARTITION BY r, r2) AS r
        FROM p1),
      p2 AS (SELECT a.doc_id, a.pos, a.dlen, a.r, coalesce(b.r, -1) AS r2
        FROM d1 a LEFT JOIN d1 b
          ON b.doc_id = a.doc_id AND b.pos = a.pos + 2),
      d2 AS (SELECT doc_id, pos, dlen,
          min(doc_id * 4294967296 + pos) OVER (PARTITION BY r, r2) AS r
        FROM p2),
      p3 AS (SELECT a.doc_id, a.pos, a.dlen, a.r, coalesce(b.r, -1) AS r2
        FROM d2 a LEFT JOIN d2 b
          ON b.doc_id = a.doc_id AND b.pos = a.pos + 4),
      d3 AS (SELECT doc_id, pos, dlen,
          min(doc_id * 4294967296 + pos) OVER (PARTITION BY r, r2) AS r
        FROM p3),
      ky AS (SELECT a.doc_id, a.pos, a.r AS k1, b.r AS k2
        FROM d3 a JOIN d3 b
          ON b.doc_id = a.doc_id AND b.pos = a.pos + 4
        WHERE a.pos + 11 <= a.dlen),
      g AS (SELECT doc_id, pos,
          count(*) OVER (PARTITION BY k1, k2) AS cnt,
          row_number() OVER (PARTITION BY k1, k2
            ORDER BY doc_id, pos) AS rn
        FROM ky),
      rm AS (SELECT doc_id, pos AS s, pos + 11 AS e
        FROM g WHERE cnt > 1 AND rn > 1),
      o AS (SELECT doc_id, s, e,
          max(e) OVER (PARTITION BY doc_id ORDER BY s, e
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        FROM rm),
      isl AS (SELECT doc_id, s, e,
          sum(CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY s, e) AS grp
        FROM o)"""

  private val q188 = Q("q188_suffix_dedup",
    (s, dir) => graft.ext.SuffixDedup.duplicateSpansMemoized(
      t(s, dir, "documents"), "text", "doc_id", spanLen = 12),
    Some(suffixDedupCtes + """
      SELECT doc_id, CAST(min(s) AS BIGINT) AS span_start,
        CAST(max(e) AS BIGINT) AS span_end
      FROM isl GROUP BY doc_id, grp"""))

  /** The ExactSubstr contract APPLIED ([[SuffixDedup.stripSpans]]):
    * the corpus re-rendered with q188's to-remove ranges dropped —
    * per-doc surviving text plus token count; fully-duplicated docs
    * disappear (whole-document dedup as the span contract's limit
    * case). The oracle extends q188's chain: explode the merged
    * spans to covered positions, anti-join the token table, re-render
    * with an ordered string_agg. */
  private val q189 = Q("q189_suffix_strip",
    (s, dir) => graft.ext.SuffixDedup.stripSpansMemoized(
      t(s, dir, "documents"), "text", "doc_id", spanLen = 12),
    Some(suffixDedupCtes + """,
      sp AS (SELECT doc_id, min(s) AS ss, max(e) AS se
        FROM isl GROUP BY doc_id, grp),
      cov AS (SELECT doc_id, unnest(range(ss, se + 1)) AS cpos FROM sp),
      kept AS (SELECT t.doc_id, t.pos, t.tok
        FROM tk t LEFT JOIN cov c
          ON c.doc_id = t.doc_id AND c.cpos = t.pos
        WHERE c.cpos IS NULL)
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS dedup_text,
        CAST(count(*) AS BIGINT) AS n_tokens
      FROM kept GROUP BY doc_id"""))

  /** Incremental ExactSubstr maintenance
    * ([[SuffixDedup.duplicateSpansDelta]]): yesterday's corpus
    * (doc_id % 10 ≠ 0) holds stored per-round class indexes; today's
    * delta (doc_id % 10 = 0) finds its duplicated 12-token spans
    * against base ∪ delta with per-round work sized by the delta —
    * the suffix twin of q162's MinHash delta. Bit-identical to the
    * full recompute restricted to delta docs (spec-pinned), so the
    * oracle is q188's full-corpus chain with the output filtered to
    * the delta (islands are per-doc — filtering after the merge
    * equals filtering before). */
  private val q190 = Q("q190_suffix_delta",
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.ext.SuffixDedup.duplicateSpansDelta(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "text", "doc_id", spanLen = 12)
    },
    Some(suffixDedupCtes + """
      SELECT doc_id, CAST(min(s) AS BIGINT) AS span_start,
        CAST(max(e) AS BIGINT) AS span_end
      FROM isl WHERE doc_id % 10 = 0 GROUP BY doc_id, grp"""))

  /** Connected components by large-star/small-star contraction
    * ([[GraphOps.connectedComponents]], Kiveris et al. 2014) over a
    * synthesized high-diameter crawl-frontier graph: 100-node id
    * chains (diameter 99 — the case where q51's min-label propagation
    * would need ~99 rounds and star contraction needs ~log) plus a
    * chain-merge edge every 500 ids. Labels are component minima —
    * pure min-of-ids arithmetic, so the oracle derives them as
    * recursive-CTE reachability minima, algorithm-independent. */
  private val q191 = Q("q191_connected_components",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val chain = d.filter(col("doc_id") % 100 =!= 99)
        .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
      val merge = d.filter(col("doc_id") % 500 === 250)
        .select(col("doc_id").as("src"), (col("doc_id") + 100).as("dst"))
      GraphOps.connectedComponents(chain.unionByName(merge), "src", "dst")
    },
    Some("""WITH RECURSIVE e0 AS (
        SELECT doc_id AS a, doc_id + 1 AS b FROM documents
        WHERE doc_id % 100 <> 99
        UNION ALL
        SELECT doc_id, doc_id + 100 FROM documents
        WHERE doc_id % 500 = 250),
      sym AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
      nodes AS (SELECT DISTINCT a AS n FROM sym),
      r(n, m) AS (
        SELECT n, n FROM nodes
        UNION
        SELECT s.b, r.m FROM r JOIN sym s ON s.a = r.n)
      SELECT n AS node, CAST(min(m) AS BIGINT) AS component
      FROM r GROUP BY n"""))

  /** Degree-oriented exact triangle counting / local clustering
    * coefficient ([[GraphOps.triangleCounts]]) over a synthesized
    * cohesion graph: 50-id cliques-of-triangles (steps +1/+2 give 48
    * triangles per group) plus sparse +5 chords that change degrees
    * without closing new triangles — so LCC separates the cohesive
    * interior from chord endpoints and group boundaries. The oracle
    * replays the same orientation (degree, id) and wedge join. */
  private val q192 = Q("q192_triangle_lcc",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val e1 = d.filter(col("doc_id") % 50 =!= 49)
        .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
      val e2 = d.filter(col("doc_id") % 50 < 48)
        .select(col("doc_id").as("src"), (col("doc_id") + 2).as("dst"))
      val e3 = d.filter(col("doc_id") % 50 < 45 && col("doc_id") % 7 === 0)
        .select(col("doc_id").as("src"), (col("doc_id") + 5).as("dst"))
      GraphOps.triangleCounts(
        e1.unionByName(e2).unionByName(e3), "src", "dst")
    },
    Some("""WITH e0 AS (
        SELECT doc_id AS x, doc_id + 1 AS y FROM documents
        WHERE doc_id % 50 <> 49
        UNION ALL
        SELECT doc_id, doc_id + 2 FROM documents WHERE doc_id % 50 < 48
        UNION ALL
        SELECT doc_id, doc_id + 5 FROM documents
        WHERE doc_id % 50 < 45 AND doc_id % 7 = 0),
      und AS (SELECT DISTINCT greatest(x, y) AS a, least(x, y) AS b
        FROM e0 WHERE x <> y),
      deg AS (SELECT n, count(*) AS d FROM (
          SELECT a AS n FROM und UNION ALL SELECT b FROM und) z
        GROUP BY n),
      ori AS (SELECT
          CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
            THEN u.a ELSE u.b END AS s,
          CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
            THEN u.b ELSE u.a END AS t
        FROM und u JOIN deg da ON da.n = u.a JOIN deg db ON db.n = u.b),
      wedge AS (SELECT o1.s, o1.t AS u, o2.t AS v
        FROM ori o1 JOIN ori o2 ON o1.s = o2.s AND o1.t < o2.t),
      tri AS (SELECT w.s, w.u, w.v FROM wedge w JOIN ori o
        ON greatest(o.s, o.t) = w.v AND least(o.s, o.t) = w.u),
      pern AS (SELECT n, count(*) AS t FROM (
          SELECT s AS n FROM tri UNION ALL SELECT u FROM tri
          UNION ALL SELECT v FROM tri) z
        GROUP BY n)
      SELECT deg.n AS node, CAST(deg.d AS BIGINT) AS degree,
        CAST(coalesce(pern.t, 0) AS BIGINT) AS n_tri,
        CAST(CASE WHEN deg.d < 2 THEN 0
          ELSE (coalesce(pern.t, 0) * 2000000) // (deg.d * (deg.d - 1))
          END AS BIGINT) AS lcc_micro
      FROM deg LEFT JOIN pern ON pern.n = deg.n"""))

  /** One-pass histogram quantile profile
    * ([[graft.ops.Profiling.quantileProfile]]): per-source token-count
    * p50/p95/p99 (bucket-lower-edge estimates, width 8) and the
    * p99-winsorized mean in micro-units — the percentile panel
    * computed with bounded aggregation state instead of a per-key
    * global sort. The oracle replays histogram, ceil-threshold
    * running-count quantile picks, and the clipped-mean division. */
  private val q193 = Q("q193_quantile_profile",
    (s, dir) => graft.ops.Profiling.quantileProfile(
      t(s, dir, "documents"), "source",
      TextAnalysis.tokenCount(col("text")), width = 8L),
    Some(s"""WITH v AS (SELECT source,
        len(${tokensSql("text")}) AS tok
        FROM documents),
      h AS (SELECT source, tok // 8 AS b, count(*) AS c
        FROM v GROUP BY source, tok // 8),
      cu AS (SELECT source, b, c,
          sum(c) OVER (PARTITION BY source ORDER BY b) AS cum,
          sum(c) OVER (PARTITION BY source) AS n
        FROM h),
      qs AS (SELECT source, max(n) AS n,
          min(CASE WHEN cum >= (50 * n + 99) // 100 THEN b END) AS b50,
          min(CASE WHEN cum >= (95 * n + 99) // 100 THEN b END) AS b95,
          min(CASE WHEN cum >= (99 * n + 99) // 100 THEN b END) AS b99
        FROM cu GROUP BY source),
      w AS (SELECT v.source,
          sum(least(v.tok, (qs.b99 + 1) * 8 - 1)) AS ws
        FROM v JOIN qs USING (source) GROUP BY v.source)
      SELECT qs.source, CAST(qs.n AS BIGINT) AS n_rows,
        CAST(qs.b50 * 8 AS BIGINT) AS p50_lo,
        CAST(qs.b95 * 8 AS BIGINT) AS p95_lo,
        CAST(qs.b99 * 8 AS BIGINT) AS p99_lo,
        CAST((ws * 1000000) // qs.n AS BIGINT) AS winsor_mean_micro
      FROM qs JOIN w ON w.source = qs.source"""))

  /** Length-bucketed padded batching ([[Packing.bucketBatches]]):
    * token-length bins of width 16, deterministic 8-sequence batches
    * in id order, per-bin pad-waste dashboard — the bucket-width
    * justification artifact for an SFT dataloader. The oracle replays
    * rank, batch cut, and the per-batch max-padding arithmetic. */
  private val q194 = Q("q194_bucket_batches",
    (s, dir) => Packing.bucketBatches(
      t(s, dir, "documents"), "doc_id",
      TextAnalysis.tokenCount(col("text")),
      bucketWidth = 16L, batchSize = 8),
    Some(s"""WITH v AS (SELECT doc_id,
        len(${tokensSql("text")}) AS tok
        FROM documents),
      r AS (SELECT doc_id, tok, tok // 16 AS lb,
          row_number() OVER (PARTITION BY tok // 16
            ORDER BY doc_id) - 1 AS rn
        FROM v),
      pb AS (SELECT lb, rn // 8 AS batch, count(*) AS cnt,
          max(tok) AS mx, sum(tok) AS ts
        FROM r GROUP BY lb, rn // 8),
      d AS (SELECT lb, sum(cnt) AS n_seqs, count(*) AS n_batches,
          sum(cnt * mx - ts) AS pad, sum(cnt * mx) AS padded
        FROM pb GROUP BY lb)
      SELECT CAST(lb AS BIGINT) AS len_bucket,
        CAST(lb * 16 AS BIGINT) AS bucket_lo,
        CAST(n_seqs AS BIGINT) AS n_seqs,
        CAST(n_batches AS BIGINT) AS n_batches,
        CAST(pad AS BIGINT) AS pad_tokens,
        CAST(padded AS BIGINT) AS padded_tokens,
        CAST(CASE WHEN padded = 0 THEN 0
          ELSE (pad * 1000000) // padded END AS BIGINT) AS pad_frac_micro
      FROM d"""))

  /** Incremental connected-components maintenance
    * ([[GraphOps.connectedComponentsDelta]]): yesterday's labeling
    * (60-id chains, stored as its star fixed point) absorbs today's
    * delta of chain-merge edges with rounds sized by the delta, not
    * the graph — the CC member of the engine's delta-maintenance
    * family (MinHash q162, suffix q190, PageRank q159). Labels are
    * reachability minima, so the oracle is the full-graph recursive
    * CTE over base ∪ delta — which simultaneously pins
    * delta ≡ full-recompute. */
  private val q195 = Q("q195_cc_delta",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val base = d.filter(col("doc_id") % 60 =!= 59)
        .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
      val delta = d.filter(col("doc_id") % 180 === 30)
        .select(col("doc_id").as("src"), (col("doc_id") + 60).as("dst"))
      val stored = GraphOps.connectedComponents(base, "src", "dst")
      GraphOps.connectedComponentsDelta(stored, delta, "src", "dst")
    },
    Some("""WITH RECURSIVE e0 AS (
        SELECT doc_id AS a, doc_id + 1 AS b FROM documents
        WHERE doc_id % 60 <> 59
        UNION ALL
        SELECT doc_id, doc_id + 60 FROM documents
        WHERE doc_id % 180 = 30),
      sym AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
      nodes AS (SELECT DISTINCT a AS n FROM sym),
      r(n, m) AS (
        SELECT n, n FROM nodes
        UNION
        SELECT s.b, r.m FROM r JOIN sym s ON s.a = r.n)
      SELECT n AS node, CAST(min(m) AS BIGINT) AS component
      FROM r GROUP BY n"""))

  /** Native DataSourceV2 scan ([[graft.sources.DocStore]]): the
    * deterministic generator table read through Catalyst's v2 scan
    * path with doc_id range predicates pushed INTO the generator and
    * columns pruned at the row builder (both spec-pinned via the
    * source's generation counters). Size is fixed (60k ids, filter
    * keeps 33,333) — this entry pins the SOURCE machinery, not a
    * corpus op; the oracle regenerates the identical rows from
    * `range()` with the same 31-bit multiplicative hashes. */
  private val q196 = Q("q196_docstore_scan",
    (s, dir) => {
      val df = s.read.format("graft.sources.DocStore")
        .option("nDocs", 60000L).option("slices", 8).load()
      df.filter(col("doc_id") >= 12345 && col("doc_id") < 45678)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("source")).as("n_sources"))
    },
    Some(s"""WITH ids AS (SELECT range AS doc_id
        FROM range(12345, 45678)),
      g AS (SELECT doc_id,
          ${seedSql("doc_id")} AS a FROM ids),
      g2 AS (SELECT doc_id, a, (a * 48271) % 2147483647 AS b FROM g),
      rws AS (SELECT
          CASE a % 5 WHEN 0 THEN 'en' WHEN 1 THEN 'de' WHEN 2 THEN 'fr'
            WHEN 3 THEN 'es' ELSE 'pt' END AS lang,
          'src' || CAST(b % 20 AS VARCHAR) AS source,
          40 + b % 200 AS n_chars
        FROM g2)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      FROM rws GROUP BY lang"""))

  /** TrustRank-style seed-personalized PageRank
    * ([[GraphOps.pageRankFixedPoint]] with `seedNodes`, Gyöngyi et
    * al. 2004): q145's customer→supplier graph, but the per-round
    * teleport mass lands only on every-10th customer — suppliers
    * accumulate rank exclusively through links from (transitively)
    * seeded mass, the spam-demotion variant. The oracle replays
    * q145's exact-integer rounds with the seed-gated base term. */
  private val q197 = Q("q197_trustrank",
    (s, dir) => {
      val edges = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
      val seeds = edges.select(col("src").as("node")).distinct()
        .filter(col("node") % 10 === 0)
      GraphOps.pageRankFixedPoint(edges, "src", "dst", iters = 3,
        seedNodes = Some(seeds))
    },
    Some {
      val seedBase = "CASE WHEN nodes.n < 1000000 AND nodes.n % 10 = 0" +
        " THEN 150000 ELSE 0 END"
      def iterSql(prev: String, out: String): String =
        pageRankStepSql("e", "nodes", "deg", seedBase, prev, out)
      s"""WITH e AS (SELECT DISTINCT o_custkey AS src,
          l_suppkey + 1000000 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      nodes AS (SELECT src AS n FROM e UNION SELECT dst FROM e),
      deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
      r0 AS (SELECT n, CAST(1000000 AS BIGINT) AS r FROM nodes),
      ${iterSql("r0", "r1")},
      ${iterSql("r1", "r2")},
      ${iterSql("r2", "r3")}
      SELECT n AS node, r AS rank_micro FROM r3"""
    })

  /** Ordered conversion funnel over the events stream: view → click
    * → purchase, each step's timestamp strictly after the previous
    * step's for the SAME user — the sequential-min formulation (per
    * step one filtered keyed min-aggregate + one keyed join against
    * the previous step; no per-user event-list collection, no window
    * over a user's whole history), with per-step conversion in
    * micro-units of step-1 users. Nanosecond-integer arithmetic
    * throughout via [[eventsNs]]. */
  private val q198 = Q("q198_funnel",
    (s, dir) => {
      val e = eventsNs(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val c = e.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      val counts = v.select(lit(1L).as("step"))
        .unionByName(c.select(lit(2L).as("step")))
        .unionByName(p.select(lit(3L).as("step")))
        .groupBy(col("step")).agg(count(lit(1)).as("n_users"))
      val first = counts.filter(col("step") === 1L)
        .select(col("n_users").as("_n1"))
      counts.crossJoin(broadcast(first))
        .select(col("step"), col("n_users"),
          expr("CAST(n_users * 1000000 div _n1 AS BIGINT)")
            .as("conv_micro"))
    },
    Some("""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t
        FROM events),
      v AS (SELECT user_id, min(t) AS t1 FROM e
        WHERE event_type = 'view' GROUP BY user_id),
      c AS (SELECT e.user_id, min(t) AS t2 FROM e
        JOIN v ON v.user_id = e.user_id
        WHERE event_type = 'click' AND t > t1 GROUP BY e.user_id),
      p AS (SELECT e.user_id, min(t) AS t3 FROM e
        JOIN c ON c.user_id = e.user_id
        WHERE event_type = 'purchase' AND t > t2 GROUP BY e.user_id),
      s AS (SELECT 1 AS step, count(*) AS n FROM v
        UNION ALL SELECT 2, count(*) FROM c
        UNION ALL SELECT 3, count(*) FROM p)
      SELECT CAST(step AS BIGINT) AS step, CAST(n AS BIGINT) AS n_users,
        CAST(n * 1000000 // (SELECT n FROM s WHERE step = 1) AS BIGINT)
          AS conv_micro
      FROM s"""))

  /** Weekly cohort retention over the events stream: users cohorted
    * by the week of their first event, per (cohort, week-offset)
    * active-user counts — the lifecycle dashboard next to q198's
    * funnel. One keyed min (cohort assignment), one per-(user, week)
    * distinct, one keyed join, one keyed count; week buckets are
    * integral nanosecond division, so both engines bin identically. */
  private val q199 = Q("q199_cohort_retention",
    (s, dir) => {
      val wk = 604800000000000L // 7 * 86400 * 1e9 ns
      val e = eventsNs(s, dir)
        .select(col("user_id"), expr(s"ts div ${wk}L").as("_w"))
      val first = e.groupBy(col("user_id")).agg(min(col("_w")).as("_w0"))
      e.distinct().join(first, "user_id")
        .groupBy(col("_w0").as("cohort_week"),
          (col("_w") - col("_w0")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
    },
    Some("""WITH e AS (SELECT DISTINCT user_id,
        epoch_ns(ts) // 604800000000000 AS w FROM events),
      f AS (SELECT user_id, min(w) AS w0 FROM e GROUP BY user_id)
      SELECT CAST(f.w0 AS BIGINT) AS cohort_week,
        CAST(e.w - f.w0 AS BIGINT) AS week_offset,
        CAST(count(*) AS BIGINT) AS n_users
      FROM e JOIN f ON f.user_id = e.user_id
      GROUP BY f.w0, e.w - f.w0"""))

  /** Deterministic random-walk corpus ([[GraphOps.randomWalks]]) over
    * the q192 cohesion graph: 2 walks × 4 steps from every node,
    * step-k neighbor = 31-bit hash of (node, walk, step, seed) mod
    * out-degree — the DeepWalk feeder with zero rng state, so the
    * oracle replays every hop (adjacency indexes + the same modular
    * pick per unrolled step) and walks terminate identically at
    * sinks (group-boundary nodes). */
  private val q200 = Q("q200_random_walks",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val e1 = d.filter(col("doc_id") % 50 =!= 49)
        .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
      val e2 = d.filter(col("doc_id") % 50 < 48)
        .select(col("doc_id").as("src"), (col("doc_id") + 2).as("dst"))
      GraphOps.randomWalks(e1.unionByName(e2), "src", "dst",
        walkLen = 4, walksPerNode = 2, seed = 7L)
    },
    Some {
      def stepSql(k: Int, prev: String): String =
        s"""s$k AS (SELECT s.start_node, s.walk_no, a.nb AS cur
          FROM $prev s JOIN adj a ON a.n = s.cur
          AND a.idx = (s.cur * 2654435761 + s.walk_no * 1000003
            + $k * 97 + 7) % 2147483647 % a.deg)"""
      s"""WITH e0 AS (
        SELECT doc_id AS n, doc_id + 1 AS nb FROM documents
        WHERE doc_id % 50 <> 49
        UNION ALL
        SELECT doc_id, doc_id + 2 FROM documents WHERE doc_id % 50 < 48),
      adj AS (SELECT n, nb,
          row_number() OVER (PARTITION BY n ORDER BY nb) - 1 AS idx,
          count(*) OVER (PARTITION BY n) AS deg
        FROM e0),
      nodes AS (SELECT DISTINCT n FROM (SELECT n FROM e0
        UNION ALL SELECT nb FROM e0) z),
      s0 AS (SELECT n AS start_node, wn AS walk_no, n AS cur
        FROM nodes CROSS JOIN (SELECT unnest([0, 1]) AS wn) w),
      ${stepSql(1, "s0")}, ${stepSql(2, "s1")}, ${stepSql(3, "s2")},
      ${stepSql(4, "s3")}
      SELECT start_node, CAST(walk_no AS BIGINT) AS walk_no,
        CAST(0 AS BIGINT) AS step, cur AS node FROM s0
      UNION ALL SELECT start_node, CAST(walk_no AS BIGINT),
        CAST(1 AS BIGINT), cur FROM s1
      UNION ALL SELECT start_node, CAST(walk_no AS BIGINT),
        CAST(2 AS BIGINT), cur FROM s2
      UNION ALL SELECT start_node, CAST(walk_no AS BIGINT),
        CAST(3 AS BIGINT), cur FROM s3
      UNION ALL SELECT start_node, CAST(walk_no AS BIGINT),
        CAST(4 AS BIGINT), cur FROM s4"""
    })

  /** Bounded k-core peeling ([[GraphOps.kCoreRounds]], k=3, 4 exact
    * rounds) over the q192 cohesion graph: chord-reinforced interiors
    * hold degree ≥ 3 while group boundaries cascade off one ring per
    * round — the core/periphery signal after a fixed peel budget,
    * replayed round by round in the oracle (degree aggregate + two
    * semi-joins per round). */
  private val q201 = Q("q201_kcore",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val e1 = d.filter(col("doc_id") % 50 =!= 49)
        .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
      val e2 = d.filter(col("doc_id") % 50 < 48)
        .select(col("doc_id").as("src"), (col("doc_id") + 2).as("dst"))
      val e3 = d.filter(col("doc_id") % 50 < 45 && col("doc_id") % 7 === 0)
        .select(col("doc_id").as("src"), (col("doc_id") + 5).as("dst"))
      GraphOps.kCoreRounds(e1.unionByName(e2).unionByName(e3),
        "src", "dst", k = 3, rounds = 4)
    },
    Some {
      def round(i: Int): String = {
        val p = s"e${i - 1}"
        s"""d$i AS (SELECT n, count(*) AS d FROM (
            SELECT a AS n FROM $p UNION ALL SELECT b FROM $p) z
          GROUP BY n),
        k$i AS (SELECT n FROM d$i WHERE d >= 3),
        e$i AS (SELECT e.a, e.b FROM $p e
          JOIN k$i x ON x.n = e.a JOIN k$i y ON y.n = e.b)"""
      }
      s"""WITH raw AS (
        SELECT doc_id AS x, doc_id + 1 AS y FROM documents
        WHERE doc_id % 50 <> 49
        UNION ALL
        SELECT doc_id, doc_id + 2 FROM documents WHERE doc_id % 50 < 48
        UNION ALL
        SELECT doc_id, doc_id + 5 FROM documents
        WHERE doc_id % 50 < 45 AND doc_id % 7 = 0),
      e0 AS (SELECT DISTINCT greatest(x, y) AS a, least(x, y) AS b
        FROM raw WHERE x <> y),
      ${round(1)}, ${round(2)}, ${round(3)}, ${round(4)}
      SELECT n AS node, CAST(count(*) AS BIGINT) AS core_deg FROM (
        SELECT a AS n FROM e4 UNION ALL SELECT b FROM e4) z
      GROUP BY n"""
    })

  /** Composed crawl-to-trust pipeline (the chain of BASELINE.md
    * "End-to-end crawl-graph pipeline", as one oracled query):
    * embedded links → host-id edges → connected
    * components AND seed-personalized TrustRank over the host graph →
    * top-5 authority docs per community. The oracle pulls host ids
    * straight from the link regex (the planted digits are invariant
    * under the canonicalization the engine runs), then replays the
    * trust rounds exactly (q197's arithmetic) and the component
    * labels as reachability minima (q191's CTE) — so the composition
    * is correctness-pinned end to end, not just wall-timed. */
  private val q202 = Q("q202_crawl_trust",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val synth = d.select(col("doc_id"),
        pmod(col("doc_id"), lit(499L)).as("src_host"),
        concat(lit("See https://site"),
          pmod(col("doc_id") * 7, lit(499L)).cast("string"),
          lit(".example.com/a and http://site"),
          pmod(col("doc_id") * 13 + 1, lit(499L)).cast("string"),
          lit(".example.com/b.")).as("_text"))
      val links = Urls.extractLinks(synth, "_text", "doc_id")
      // host-graph-sized (499 hosts) and consumed by TWO iterative
      // algorithms below, each of which would re-derive the whole
      // extraction join chain — cut ONCE here so CC and TrustRank
      // share a single materialization (FrameMemo storage rule: tiny
      // relative to input by construction)
      val edges = graft.ext.LocalCheckpoint.cut(links
        .join(synth.select(col("doc_id"), col("src_host")), "doc_id")
        .select(col("src_host"),
          regexp_extract(col("dst_host"), "site([0-9]+)\\.", 1)
            .cast("long").as("_dst"))
        .filter(col("src_host") =!= col("_dst"))
        .distinct())
      val seeds = edges.select(col("src_host").as("node"))
        .unionByName(edges.select(col("_dst").as("node")))
        .distinct().filter(col("node") < 50)
      val ranks = GraphOps.pageRankFixedPoint(edges, "src_host", "_dst",
        iters = 3, seedNodes = Some(seeds))
      val comps = GraphOps.connectedComponents(edges, "src_host", "_dst")
      synth.select(col("doc_id"), col("src_host"))
        .join(comps.withColumnRenamed("node", "src_host"), "src_host")
        .join(ranks.withColumnRenamed("node", "src_host"), "src_host")
        .withColumn("_rn", row_number().over(
          Window.partitionBy(col("component"))
            .orderBy(col("rank_micro").desc, col("doc_id"))))
        .filter(col("_rn") <= 5)
        .select(col("component"), col("doc_id"),
          col("src_host").as("host"), col("rank_micro"))
    },
    Some {
      val seedBase =
        "CASE WHEN nodes.n < 50 THEN 150000 ELSE 0 END"
      def iterSql(prev: String, out: String): String =
        pageRankStepSql("e", "nodes", "deg", seedBase, prev, out)
      s"""WITH RECURSIVE syn AS (SELECT doc_id,
          doc_id % 499 AS src_host,
          'See https://site' || (doc_id * 7 % 499) ||
            '.example.com/a and http://site' ||
            ((doc_id * 13 + 1) % 499) || '.example.com/b.' AS t
        FROM documents),
      lk AS (SELECT doc_id, src_host,
          CAST(regexp_extract(unnest(
            regexp_extract_all(t, 'https?://[^\\s]+')),
            'site([0-9]+)\\.', 1) AS BIGINT) AS dst
        FROM syn),
      e AS (SELECT DISTINCT src_host AS src, dst FROM lk
        WHERE src_host <> dst),
      nodes AS (SELECT DISTINCT n FROM (SELECT src AS n FROM e
        UNION ALL SELECT dst FROM e) un),
      deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
      r0 AS (SELECT n, CAST(1000000 AS BIGINT) AS r FROM nodes),
      ${iterSql("r0", "r1")},
      ${iterSql("r1", "r2")},
      ${iterSql("r2", "r3")},
      sym AS (SELECT src AS a, dst AS b FROM e
        UNION SELECT dst, src FROM e),
      rc(n, m) AS (
        SELECT n, n FROM nodes
        UNION
        SELECT s.b, rc.m FROM rc JOIN sym s ON s.a = rc.n),
      comp AS (SELECT n, min(m) AS component FROM rc GROUP BY n),
      scored AS (SELECT c.component, s.doc_id, s.src_host AS host,
          r3.r AS rank_micro,
          row_number() OVER (PARTITION BY c.component
            ORDER BY r3.r DESC, s.doc_id) AS rn
        FROM syn s
        JOIN comp c ON c.n = s.src_host
        JOIN r3 ON r3.n = s.src_host)
      SELECT CAST(component AS BIGINT) AS component, doc_id,
        CAST(host AS BIGINT) AS host,
        CAST(rank_micro AS BIGINT) AS rank_micro
      FROM scored WHERE rn <= 5"""
    })

  /** Synchronous label-propagation community detection
    * ([[GraphOps.labelPropagation]], 3 determinized rounds) over a
    * synthesized site-cluster graph: 40-id groups tied by +1 chains
    * and +2 chords, plus one +1 bridge every 4th group boundary — so
    * propagation has to both converge inside dense groups and resolve
    * the bridged group pairs by the min-label tie-break. The oracle
    * replays every round: per-(node,label) neighbor votes, then the
    * (count desc, label asc) argmax via a window, then the final
    * community-size join. */
  private val q203 = Q("q203_label_propagation",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val chain = d.filter(col("doc_id") % 40 =!= 39)
        .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
      val chord = d.filter(col("doc_id") % 40 < 38)
        .select(col("doc_id").as("src"), (col("doc_id") + 2).as("dst"))
      val bridge = d.filter(col("doc_id") % 160 === 39)
        .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
      GraphOps.labelPropagation(
        chain.unionByName(chord).unionByName(bridge), "src", "dst",
        rounds = 3)
    },
    Some {
      def round(i: Int): String = {
        val p = s"l${i - 1}"
        s"""v$i AS (SELECT u.n, l.lab, count(*) AS c
          FROM und u JOIN $p l ON l.n = u.m GROUP BY u.n, l.lab),
        l$i AS (SELECT n, lab FROM (
          SELECT n, lab, row_number() OVER (PARTITION BY n
            ORDER BY c DESC, lab ASC) AS rn FROM v$i) z WHERE rn = 1)"""
      }
      s"""WITH raw AS (
        SELECT doc_id AS x, doc_id + 1 AS y FROM documents
        WHERE doc_id % 40 <> 39
        UNION ALL
        SELECT doc_id, doc_id + 2 FROM documents WHERE doc_id % 40 < 38
        UNION ALL
        SELECT doc_id, doc_id + 1 FROM documents WHERE doc_id % 160 = 39),
      und AS (SELECT DISTINCT m, n FROM (
        SELECT x AS m, y AS n FROM raw UNION ALL SELECT y, x FROM raw) s
        WHERE m <> n),
      l0 AS (SELECT DISTINCT m AS n, m AS lab FROM und),
      ${round(1)}, ${round(2)}, ${round(3)},
      sz AS (SELECT lab, count(*) AS csize FROM l3 GROUP BY lab)
      SELECT CAST(l3.n AS BIGINT) AS node,
        CAST(l3.lab AS BIGINT) AS community,
        CAST(sz.csize AS BIGINT) AS csize
      FROM l3 JOIN sz ON sz.lab = l3.lab"""
    })

  /** Group-aware (host-level) split dashboard
    * ([[Sampling.groupSplit]]): docs are assigned to train/valid/test
    * by a hash of their 20-doc "site", never individually — the
    * leakage-safe split q166's near-dup audit would otherwise flag.
    * Output: per-split host/doc/token totals plus the cross-split
    * leak counter (structurally 0 — THE property the operator buys;
    * the oracle recomputes it from the assignment, not from the
    * construction). Assignment is map-only; the dashboard is one
    * keyed agg per side. */
  private val q205 = Q("q205_host_split",
    (s, dir) => {
      val base = t(s, dir, "documents")
        .withColumn("_host", expr("doc_id div 20"))
        .withColumn("_tok", TextAnalysis.tokenCount(col("text")))
      val assigned = Sampling.groupSplit(base, col("_host"), 90, 5)
      val leaky = assigned.groupBy(col("_host"))
        .agg(countDistinct(col("split")).as("_k"))
        .agg(coalesce(sum(when(col("_k") > 1, 1L)), lit(0L))
          .as("leaky_hosts"))
      assigned.groupBy(col("split"))
        .agg(countDistinct(col("_host")).as("n_hosts"),
          count(lit(1)).as("n_docs"),
          sum(col("_tok")).as("tokens"))
        .crossJoin(broadcast(leaky))
    },
    Some(s"""WITH a AS (SELECT doc_id, doc_id // 20 AS h,
        len(${tokensSql("text")}) AS tok
        FROM documents),
      sp AS (SELECT doc_id, h, tok,
          CASE WHEN b < 90 THEN 'train'
            WHEN b < 95 THEN 'valid' ELSE 'test' END AS split
        FROM (SELECT *,
          ${knuthSql("h")} % 100 AS b
          FROM a) z),
      lk AS (SELECT CAST(coalesce(sum(
            CASE WHEN k > 1 THEN 1 END), 0) AS BIGINT) AS leaky_hosts
        FROM (SELECT h, count(DISTINCT split) AS k FROM sp GROUP BY h) y)
      SELECT split, CAST(count(DISTINCT h) AS BIGINT) AS n_hosts,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(tok) AS BIGINT) AS tokens, leaky_hosts
      FROM sp, lk GROUP BY split, leaky_hosts"""))

  /** Content-defined chunk dedup dashboard
    * ([[TextAnalysis.cdcChunks]], k=8-gram boundary, div=16 ≈ 16-char
    * expected chunks): per-source chunk counts, char mass, distinct
    * chunk identities ((hash, len) pairs), and the byte-level dedup
    * ratio — the storage-planning panel for payload-level dedup,
    * where boundaries must move WITH content so shared passages chunk
    * identically regardless of offset. The oracle replays every
    * boundary (k-gram hash % div), the lag-window chunk assembly, and
    * each chunk's content hash. */
  private val q204 = Q("q204_cdc_chunks",
    (s, dir) => {
      val chunks = TextAnalysis.cdcChunks(t(s, dir, "documents"),
        "text", Seq("source"), k = 8, div = 16L)
      val per = chunks.groupBy(col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("chunk_len")).as("total_chars"))
      val dist = chunks
        .select(col("source"), col("chunk_hash"), col("chunk_len"))
        .distinct()
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_distinct"),
          sum(col("chunk_len")).as("distinct_chars"))
      per.join(dist, Seq("source"))
        .select(col("source"), col("n_chunks"), col("total_chars"),
          col("n_distinct"), col("distinct_chars"),
          expr("distinct_chars * 1000000L div total_chars")
            .as("dedup_ratio_micro"))
    },
    Some("""WITH s AS (SELECT doc_id, source, text AS st
        FROM documents WHERE len(text) >= 1),
      g AS (SELECT doc_id, st, unnest(range(8, len(st) + 1)) AS p
        FROM s),
      gh AS (SELECT doc_id, p,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            [CAST(ord(st[j]) AS BIGINT) FOR j IN range(p - 7, p + 1)]),
          (a, c) -> (a * 31 + c) % 1000000007) AS h
        FROM g),
      cuts AS (SELECT doc_id, p FROM gh WHERE h % 16 = 0
        UNION SELECT doc_id, len(st) FROM s),
      ch AS (SELECT doc_id, p AS cut,
          coalesce(lag(p) OVER (PARTITION BY doc_id ORDER BY p), 0) + 1
            AS st0
        FROM cuts),
      ck AS (SELECT c.doc_id, s.source, s.st[c.st0:c.cut] AS chunk,
          c.cut - c.st0 + 1 AS clen
        FROM ch c JOIN s ON s.doc_id = c.doc_id),
      hh AS (SELECT doc_id, source, clen,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            [CAST(ord(chunk[j]) AS BIGINT)
              FOR j IN range(1, len(chunk) + 1)]),
          (a, c) -> (a * 31 + c) % 1000000007) AS chash
        FROM ck),
      per AS (SELECT source, count(*) AS n_chunks,
          sum(clen) AS total_chars FROM hh GROUP BY source),
      dst AS (SELECT source, count(*) AS n_distinct,
          sum(clen) AS distinct_chars
        FROM (SELECT DISTINCT source, chash, clen FROM hh) z
        GROUP BY source)
      SELECT per.source, CAST(n_chunks AS BIGINT) AS n_chunks,
        CAST(total_chars AS BIGINT) AS total_chars,
        CAST(n_distinct AS BIGINT) AS n_distinct,
        CAST(distinct_chars AS BIGINT) AS distinct_chars,
        CAST(distinct_chars * 1000000 // total_chars AS BIGINT)
          AS dedup_ratio_micro
      FROM per JOIN dst USING (source)"""))

  /** Portable HLL register-sketch cardinality
    * ([[graft.ext.Hll.registerEstimate]]): per-source distinct-token
    * estimates whose registers ride the catalog's portable polynomial
    * hash — so unlike the retired engine-hash sketch rows (q44/q99),
    * the estimate ITSELF is value-checked: the oracle replays bucket,
    * trailing-zero rank, register maxima, and the integer α·m²·2^R/Z
    * estimate, and the row carries the exact count + relative error
    * beside it. The sketch needs no distinct pass (register max is
    * duplicate-idempotent) — one map + one keyed agg at any scale;
    * the exact column is the sf-sized audit comparison. */
  private val q206 = Q("q206_hll_portable",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val words = docs.select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("_w"))
      val hashed = docs.select(col("source"), explode(
        graft.functions.VectorFunctions.polyHashAll(
          TextAnalysis.tokens(col("text")))).as("_h"))
      val sk = graft.ext.Hll.registerEstimate(hashed, "source", col("_h"),
        m = 64, maxRank = 30)
      val exact = words.groupBy(col("source"))
        .agg(countDistinct(col("_w")).as("n_exact"))
      sk.join(exact, Seq("source"))
        .select(col("source"), col("n_buckets_hit"), col("hll_est"),
          col("n_exact"),
          expr("abs(hll_est - n_exact) * 1000000L div n_exact")
            .as("err_micro"))
    },
    Some(hllEstimateCtes + """,
      ex AS (SELECT source, count(DISTINCT tok) AS n_exact
        FROM w GROUP BY source)
      SELECT est.source, CAST(est.hit AS BIGINT) AS n_buckets_hit,
        CAST(est.hll_est AS BIGINT) AS hll_est,
        CAST(ex.n_exact AS BIGINT) AS n_exact,
        CAST(abs(est.hll_est - ex.n_exact) * 1000000 // ex.n_exact
          AS BIGINT) AS err_micro
      FROM est JOIN ex USING (source)"""))

  /** Shared DuckDB CTE chain of the portable-HLL family (q206/q210):
    * tokens → per-token poly hash → 32-bit avalanche finalizer →
    * bucket/trailing-zero registers → max per (source, bucket) →
    * integer estimate with the pinned linear-counting table
    * ([[graft.ext.Hll.linearCountTableMicro]] — the SAME constant
    * array the Spark plan carries). Ends at `est(source, hit,
    * hll_est)`; `w(source, tok)` stays visible for the exact column. */
  private def hllEstimateCtes: String = {
    val lnTabSql = graft.ext.Hll.linearCountTableMicro(64)
      .mkString("[", ", ", "]")
    s"""WITH t AS (SELECT source,
        ${tokensSql("text")} AS toks
        FROM documents),
      w AS (SELECT source, unnest(toks) AS tok FROM t),
      h0 AS (SELECT source, list_reduce(list_prepend(CAST(0 AS BIGINT),
          [CAST(ord(tok[i]) AS BIGINT) FOR i IN range(1, len(tok) + 1)]),
          (a, c) -> (a * 31 + c) % 1000000007) AS ph
        FROM w),
      h1 AS (SELECT source,
          (xor(ph, ph >> 16) * 73244475) % 4294967296 AS g1 FROM h0),
      h2 AS (SELECT source,
          (xor(g1, g1 >> 16) * 73244475) % 4294967296 AS g2 FROM h1),
      h AS (SELECT source, xor(g2, g2 >> 16) AS hh FROM h2),
      r AS (SELECT source, hh % 64 AS bkt,
          CASE WHEN hh // 64 = 0 THEN 30
            ELSE least(bit_count(((hh // 64) & -(hh // 64)) - 1) + 1, 30)
          END AS rk
        FROM h),
      regs AS (SELECT source, bkt, max(rk) AS m
        FROM r GROUP BY source, bkt),
      z AS (SELECT source, count(*) AS hit,
          sum(CAST(1 AS BIGINT) << (30 - m)) AS zhit
        FROM regs GROUP BY source),
      raw AS (SELECT source, hit,
          CAST(CAST(709213 AS HUGEINT) * 4096 * (CAST(1 AS BIGINT) << 30)
            // (zhit + (64 - hit) * (CAST(1 AS BIGINT) << 30))
            // 1000000 AS BIGINT) AS r
        FROM z),
      est AS (SELECT source, hit,
          CASE WHEN r <= 160 AND hit < 64
            THEN (64 * ($lnTabSql)[CAST(greatest(64 - hit, 1) AS INT)])
              // 1000000
            ELSE r END AS hll_est
        FROM raw)"""
  }

  /** The streaming cardinality monitor end-to-end as an oracled
    * catalog row: documents stream through
    * [[graft.streaming.HllMaintenance]] (AvailableNow), per-batch
    * register fragments land under batchId keys, and the returned
    * estimates come from the CELL-WISE MAX merge of whatever landed —
    * which the oracle checks against the plain batch SQL, because
    * integer-register max-merge is exactly batch-equivalent (the
    * property HllMaintenanceSpec pins under multi-batch arrival and
    * replay). */
  private val q210 = Q("q210_stream_hll",
    (s, dir) => {
      val out = graft.Scratch.createTempDir("q210frag").toString
      val ckpt = graft.Scratch.createTempDir("q210ckpt").toString
      val raw = EventsStream.streamParquet(s, s"$dir/documents.parquet")
      val hashed = raw.select(col("source"), explode(
        graft.functions.VectorFunctions.polyHashAll(
          TextAnalysis.tokens(col("text")))).as("_h"))
      val q = graft.streaming.HllMaintenance.start(
        hashed, "source", col("_h"), out, ckpt)
      q.awaitTermination()
      graft.streaming.HllMaintenance.mergedEstimate(s, out)
        .select(col("key").as("source"), col("n_buckets_hit"),
          col("hll_est"))
    },
    Some(hllEstimateCtes + """
      SELECT source, CAST(hit AS BIGINT) AS n_buckets_hit,
        CAST(hll_est AS BIGINT) AS hll_est
      FROM est"""))

  /** MinHash-LSH candidate-net quality surface
    * ([[Dedup.minHashLshCandidates]] vs exact all-pairs Jaccard on a
    * 1-in-2 doc subsample): recall and precision of the pre-verify
    * banding in micro-units — the tuning number behind the
    * (numPerms=16, rowsPerBand=4) default that q118/q136 only imply.
    * The subsample keeps the quadratic ground truth affordable while
    * the banding runs its production shape; both sides replay the
    * identical portable hash chain, so the measured surface itself is
    * hash-checked (the q119/q187 discipline, applied to dedup). */
  private val q207 = Q("q207_lsh_recall",
    (s, dir) => {
      val sub = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
      val cand = Dedup.minHashLshCandidates(sub, "text", "doc_id",
        n = 3, numPerms = 16, rowsPerBand = 4)
      // all-pairs exact truth (constant block key = the scaladoc'd
      // validation variant — affordable only on the subsample)
      val truth = Dedup.ngramJaccardPairs(sub, "text", "doc_id",
        blockCols = Seq(lit(1)), n = 3, threshold = 0.5)
        .select(col("doc_a"), col("doc_b"))
      // ONE full-outer pass computes all three counts: the old
      // 3-agg crossJoin (n_cand, n_truth, semijoin n_hit) evaluated
      // the quadratic single-block truth subtree TWICE (no exchange
      // reuse across the agg and the semijoin — stage-probed: two
      // identical 1-task stages at ~3.6 s each); pair keys are unique
      // on both sides, so count(_t)/count(_c)/count(both) over the
      // full outer join are exactly the three set sizes
      cand.withColumn("_c", lit(1))
        .join(truth.withColumn("_t", lit(1)),
          Seq("doc_a", "doc_b"), "full_outer")
        .agg(count(col("_t")).as("n_truth"),
          count(col("_c")).as("n_cand"),
          count(when(col("_c").isNotNull && col("_t").isNotNull, 1))
            .as("n_hit"))
        .select(col("n_truth"), col("n_cand"), col("n_hit"),
          expr("n_hit * 1000000L div greatest(n_truth, 1L)")
            .as("recall_micro"),
          expr("n_hit * 1000000L div greatest(n_cand, 1L)")
            .as("precision_micro"))
    },
    Some(portableLshBkCtes(4, "WHERE doc_id % 2 = 0") + s""",
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bk a JOIN bk b
          ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
      truth AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM g a JOIN g b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
          >= 0.5),
      hit AS (SELECT c.doc_a, c.doc_b FROM cand c
        JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
      n AS (SELECT (SELECT count(*) FROM truth) AS n_truth,
          (SELECT count(*) FROM cand) AS n_cand,
          (SELECT count(*) FROM hit) AS n_hit)
      SELECT CAST(n_truth AS BIGINT) AS n_truth,
        CAST(n_cand AS BIGINT) AS n_cand,
        CAST(n_hit AS BIGINT) AS n_hit,
        CAST(n_hit * 1000000 // greatest(n_truth, 1) AS BIGINT)
          AS recall_micro,
        CAST(n_hit * 1000000 // greatest(n_cand, 1) AS BIGINT)
          AS precision_micro
      FROM n"""))

  /** Time-decayed engagement scoring over the events stream: per-user
    * Σ 2^−age_days in micro-units (age capped at 30 days), the
    * freshness-weighted activity feature a sampling or ranking stage
    * reads instead of a raw count. The closed half-life form makes
    * every term independent — a pure map + one keyed agg, NO
    * sequential fold, no window — which is what makes recency
    * weighting free at event-log scale; the reference day is the
    * corpus max, a broadcast scalar. All arithmetic integral
    * (1e6 div 2^age), so the fold order cannot matter. */
  private val q208 = Q("q208_decay_engagement",
    (s, dir) => {
      val withDay = eventsNs(s, dir).select(col("user_id"),
        expr("ts div 86400000000000L").as("_day"))
      val mx = withDay.agg(max(col("_day")).as("_mx"))
      withDay.crossJoin(broadcast(mx))
        .withColumn("_age",
          least(col("_mx") - col("_day"), lit(30L)).cast("int"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(expr("1000000L div shiftleft(1L, _age)"))
            .as("decayed_micro"),
          max(col("_day")).as("last_day"))
    },
    Some("""WITH d AS (SELECT user_id,
        epoch_ns(ts) // 86400000000000 AS day
        FROM events),
      m AS (SELECT max(day) AS mx FROM d)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        CAST(sum(1000000 // (CAST(1 AS BIGINT) <<
          least(m.mx - d.day, 30))) AS BIGINT) AS decayed_micro,
        CAST(max(day) AS BIGINT) AS last_day
      FROM d, m GROUP BY user_id"""))

  /** Neyman-allocation audit sampling ([[Sampling.neymanQuotas]] /
    * [[Sampling.neymanSample]]): a 400-row annotation budget split
    * across sources proportionally to N_s·σ_s of token length (exact
    * integer sqrt + largest-remainder apportionment), then the
    * per-source selection by (hash31, id) rank. The oracle replays
    * the moment aggs, the ±1-corrected isqrt, Hamilton rounding, and
    * the selected token mass — so the whole allocate-then-select
    * chain is value-pinned, not just row-counted. */
  private val q209 = Q("q209_neyman_sample",
    (s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"),
        col("source"), TextAnalysis.tokenCount(col("text")).as("_tok"))
      val quotas = Sampling.neymanQuotas(base, "source", col("_tok"),
        budget = 400L)
      val sel = Sampling.neymanSample(base, "doc_id", "source",
        col("_tok"), budget = 400L)
      val selAgg = sel.join(base.select(col("doc_id"), col("_tok")),
          "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sel"), sum(col("_tok")).as("sel_tokens"))
      quotas.join(selAgg, Seq("source"), "left")
        .select(col("source"), col("n_rows"), col("weight"), col("quota"),
          coalesce(col("n_sel"), lit(0L)).as("n_sel"),
          coalesce(col("sel_tokens"), lit(0L)).as("sel_tokens"))
    },
    Some(s"""WITH v AS (SELECT doc_id, source,
        len(${tokensSql("text")}) AS tok
        FROM documents),
      m AS (SELECT source, count(*) AS n_rows,
          CAST(sum(tok) AS HUGEINT) AS s1,
          CAST(sum(CAST(tok AS HUGEINT) * tok) AS HUGEINT) AS s2
        FROM v GROUP BY source),
      w1 AS (SELECT *, CAST(floor(sqrt(CAST(var2 AS DOUBLE)))
          AS BIGINT) AS y0
        FROM (SELECT *, CAST(n_rows AS HUGEINT) * s2 - s1 * s1 AS var2
          FROM m) z),
      w2 AS (SELECT *, greatest(CASE
          WHEN CAST(y0 + 1 AS HUGEINT) * (y0 + 1) <= var2 THEN y0 + 1
          WHEN CAST(y0 AS HUGEINT) * y0 <= var2 THEN y0
          ELSE y0 - 1 END, 1) AS weight FROM w1),
      a1 AS (SELECT *, CAST(prod // W AS BIGINT) AS base,
          CAST(prod % W AS BIGINT) AS rem
        FROM (SELECT *, sum(weight) OVER () AS W,
          CAST(400 AS HUGEINT) * weight AS prod FROM w2) z),
      q AS (SELECT source, n_rows, weight,
          base + CASE WHEN rn <= leftv THEN 1 ELSE 0 END AS quota
        FROM (SELECT *, 400 - sum(base) OVER () AS leftv,
          row_number() OVER (ORDER BY rem DESC, source ASC) AS rn
          FROM a1) z),
      r AS (SELECT *, row_number() OVER (PARTITION BY source
          ORDER BY h31, doc_id) AS rnk
        FROM (SELECT v.*,
          ${knuthSql("doc_id")} AS h31
          FROM v) z),
      s AS (SELECT r.source, count(*) AS n_sel, sum(r.tok) AS sel_tokens
        FROM r JOIN q USING (source) WHERE rnk <= quota
        GROUP BY r.source)
      SELECT q.source, CAST(q.n_rows AS BIGINT) AS n_rows,
        CAST(q.weight AS BIGINT) AS weight,
        CAST(q.quota AS BIGINT) AS quota,
        CAST(coalesce(s.n_sel, 0) AS BIGINT) AS n_sel,
        CAST(coalesce(s.sel_tokens, 0) AS BIGINT) AS sel_tokens
      FROM q LEFT JOIN s USING (source)"""))

  /** Bounded-round BFS distance from a 25-host seed whitelist
    * ([[GraphOps.seedDistances]], 4 rounds) over the synthesized
    * crawl host graph — the hop-distance feature TrustRank's mass
    * decay (q197) implies but never surfaces as a number. The oracle
    * unrolls every min-plus round; unreached hosts are absent by
    * contract on both sides. */
  private val q211 = Q("q211_seed_distance",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val edges = d.select(pmod(col("doc_id"), lit(499L)).as("src"),
          pmod(col("doc_id") * 7, lit(499L)).as("dst"))
        .unionByName(d.select(pmod(col("doc_id"), lit(499L)).as("src"),
          pmod(col("doc_id") * 13 + 1, lit(499L)).as("dst")))
      val seeds = d.select(pmod(col("doc_id"), lit(499L)).as("node"))
        .filter(col("node") < 25).distinct()
      GraphOps.seedDistances(edges, "src", "dst", seeds, rounds = 4)
    },
    Some {
      def round(i: Int): String =
        s"""d$i AS (SELECT n, min(d) AS d FROM (
          SELECT n, d FROM d${i - 1}
          UNION ALL
          SELECT e.dst, p.d + 1 FROM e JOIN d${i - 1} p ON e.src = p.n)
          z GROUP BY n)"""
      s"""WITH e0 AS (
        SELECT doc_id % 499 AS src, (doc_id * 7) % 499 AS dst
        FROM documents
        UNION ALL
        SELECT doc_id % 499, (doc_id * 13 + 1) % 499 FROM documents),
      e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
      d0 AS (SELECT DISTINCT doc_id % 499 AS n, 0 AS d FROM documents
        WHERE doc_id % 499 < 25),
      ${round(1)}, ${round(2)}, ${round(3)}, ${round(4)}
      SELECT CAST(n AS BIGINT) AS node, CAST(d AS BIGINT) AS dist
      FROM d4"""
    })

  /** Rolling 3-day distinct-user cardinality via merged HLL registers
    * — THE textbook mergeable-sketch use: per-day register tables are
    * built once (map + keyed max), and every rolling window is a
    * register max-merge, never a re-scan of raw events; the exact
    * distinct count rides along as the sf-sized audit column. The
    * oracle replays per-day registers, the window merge, the
    * estimate, and the exact comparison. Raw user ids feed the sketch
    * directly (the 32-bit mask + avalanche finalizer is the hash). */
  private val q212 = Q("q212_rolling_distinct",
    (s, dir) => {
      val ev = eventsNs(s, dir).select(
        expr("ts div 86400000000000L").as("_day"), col("user_id"))
      val regs = graft.ext.Hll.registers(ev, "_day", col("user_id"))
      val days = regs.select(col("_day").as("day")).distinct()
      val win = days.join(regs,
          col("_day").between(col("day") - 2, col("day")))
        .groupBy(col("day"), col("bkt")).agg(max(col("reg")).as("reg"))
      val est = graft.ext.Hll.estimateFromRegisters(win, "day")
      val exact = days.join(ev,
          col("_day").between(col("day") - 2, col("day")))
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      est.join(exact, Seq("day"))
        .select(col("day"), col("n_buckets_hit"), col("hll_est"),
          col("n_exact"),
          expr("abs(hll_est - n_exact) * 1000000L div n_exact")
            .as("err_micro"))
    },
    Some {
      val lnTabSql = graft.ext.Hll.linearCountTableMicro(64)
        .mkString("[", ", ", "]")
      s"""WITH u AS (SELECT epoch_ns(ts) // 86400000000000 AS uday,
          user_id % 4294967296 AS h0
        FROM events),
      h1 AS (SELECT uday,
          (xor(h0, h0 >> 16) * 73244475) % 4294967296 AS g1 FROM u),
      h2 AS (SELECT uday,
          (xor(g1, g1 >> 16) * 73244475) % 4294967296 AS g2 FROM h1),
      h AS (SELECT uday, xor(g2, g2 >> 16) AS hh FROM h2),
      r AS (SELECT uday, hh % 64 AS bkt,
          CASE WHEN hh // 64 = 0 THEN 30
            ELSE least(bit_count(((hh // 64) & -(hh // 64)) - 1) + 1, 30)
          END AS rk
        FROM h),
      regs AS (SELECT uday, bkt, max(rk) AS m
        FROM r GROUP BY uday, bkt),
      d AS (SELECT DISTINCT uday AS day FROM regs),
      win AS (SELECT d.day, regs.bkt, max(regs.m) AS m
        FROM d JOIN regs ON regs.uday BETWEEN d.day - 2 AND d.day
        GROUP BY d.day, regs.bkt),
      z AS (SELECT day, count(*) AS hit,
          sum(CAST(1 AS BIGINT) << (30 - m)) AS zhit
        FROM win GROUP BY day),
      raw AS (SELECT day, hit,
          CAST(CAST(709213 AS HUGEINT) * 4096 * (CAST(1 AS BIGINT) << 30)
            // (zhit + (64 - hit) * (CAST(1 AS BIGINT) << 30))
            // 1000000 AS BIGINT) AS r
        FROM z),
      est AS (SELECT day, hit,
          CASE WHEN r <= 160 AND hit < 64
            THEN (64 * ($lnTabSql)[CAST(greatest(64 - hit, 1) AS INT)])
              // 1000000
            ELSE r END AS hll_est
        FROM raw),
      ex AS (SELECT d.day, count(DISTINCT e.user_id) AS n_exact
        FROM d JOIN (SELECT epoch_ns(ts) // 86400000000000 AS uday,
            user_id FROM events) e
          ON e.uday BETWEEN d.day - 2 AND d.day
        GROUP BY d.day)
      SELECT est.day, CAST(est.hit AS BIGINT) AS n_buckets_hit,
        CAST(est.hll_est AS BIGINT) AS hll_est,
        CAST(ex.n_exact AS BIGINT) AS n_exact,
        CAST(abs(est.hll_est - ex.n_exact) * 1000000 // ex.n_exact
          AS BIGINT) AS err_micro
      FROM est JOIN ex USING (day)"""
    })

  /** Exact set-similarity self-join via prefix filtering
    * ([[Dedup.prefixFilterJaccardPairs]], the SSJoin/PPJoin
    * discipline, t = 3/5): candidates from shared rare-first prefix
    * shingles, zero false negatives BY THEOREM — so the oracle here
    * is deliberately the brute-force all-pairs Jaccard: a hash match
    * pins the exactness guarantee itself (prefix output ≡ exhaustive
    * output), not just the arithmetic. The LSH family (q118/q207)
    * trades that guarantee for hash-bounded candidates; this is the
    * other point on the design surface, and the one contamination
    * audits reach for when "probably all duplicates" is not
    * acceptable. */
  private val q213 = Q("q213_prefix_join",
    (s, dir) => Dedup.prefixFilterJaccardPairs(t(s, dir, "documents"),
      "text", "doc_id", n = 3, thresholdNum = 3, thresholdDen = 5),
    Some(s"""WITH t AS (SELECT doc_id,
        ${tokensSql("text")} AS toks
        FROM documents),
      g AS (SELECT doc_id,
          list_distinct($trigramsSql) AS sh
        FROM t WHERE len(toks) >= 3)
      SELECT doc_a, doc_b, jaccard FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          len(list_intersect(a.sh, b.sh)) * 1.0 /
            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
            AS jaccard
        FROM g a JOIN g b ON a.doc_id < b.doc_id) z
      WHERE jaccard >= 0.6"""))

  /** Last-touch attribution over the events stream: each purchase is
    * credited to the LAST click/view by the same user inside a 7-day
    * lookback (strictly before, deterministic (ts, event_id) argmax
    * — a keyed agg, no per-user window), purchases with no touch fall
    * to the 'direct' channel. The per-channel rollup carries
    * conversion counts, total touch-to-purchase lag minutes, and the
    * channel share in micro — the marketing-attribution twin of the
    * q37 as-of join, run entirely on integral ns arithmetic. The
    * user-keyed join bounds candidate pairs by per-user activity ×
    * lookback, never a cross product. */
  private val q214 = Q("q214_attribution",
    (s, dir) => {
      val e = eventsNs(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), col("ts"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("_pid"), col("user_id"),
          col("ts").as("_pts"))
      val touch = e.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_type").as("_ch"),
          col("ts").as("_tts"), col("event_id").as("_teid"))
      val last = p.join(touch, Seq("user_id"))
        .filter(col("_tts") < col("_pts") &&
          col("_tts") >= col("_pts") - lit(604800000000000L))
        .groupBy(col("_pid"), col("_pts"))
        .agg(max(struct(col("_tts"), col("_teid"), col("_ch")))
          .as("_w"))
        .select(col("_pid"), col("_pts"), col("_w._ch").as("_ch"),
          col("_w._tts").as("_tts"))
      val att = p.join(last.select(col("_pid"), col("_ch"), col("_tts")),
          Seq("_pid"), "left")
        .select(coalesce(col("_ch"), lit("direct")).as("channel"),
          coalesce(expr("(_pts - _tts) div 60000000000L"), lit(0L))
            .as("_lag"))
      val tot = p.agg(count(lit(1)).as("_n"))
      att.groupBy(col("channel"))
        .agg(count(lit(1)).as("n_conv"), sum(col("_lag")).as("sum_lag_min"))
        .crossJoin(broadcast(tot))
        .select(col("channel"), col("n_conv"), col("sum_lag_min"),
          expr("n_conv * 1000000L div _n").as("share_micro"))
    },
    Some("""WITH e AS (SELECT event_id, user_id, event_type,
        epoch_ns(ts) AS tns FROM events),
      p AS (SELECT event_id AS pid, user_id, tns AS pts FROM e
        WHERE event_type = 'purchase'),
      tch AS (SELECT user_id, event_type AS ch, tns AS tts,
          event_id AS teid
        FROM e WHERE event_type IN ('click', 'view')),
      j AS (SELECT p.pid, p.pts, t.ch, t.tts, t.teid
        FROM p JOIN tch t ON t.user_id = p.user_id
          AND t.tts < p.pts AND t.tts >= p.pts - 604800000000000),
      last AS (SELECT pid, ch, tts FROM (SELECT *,
          row_number() OVER (PARTITION BY pid
            ORDER BY tts DESC, teid DESC) AS rn FROM j) z
        WHERE rn = 1),
      att AS (SELECT coalesce(l.ch, 'direct') AS channel,
          coalesce((p.pts - l.tts) // 60000000000, 0) AS lag
        FROM p LEFT JOIN last l ON l.pid = p.pid),
      tot AS (SELECT count(*) AS n FROM p)
      SELECT channel, CAST(count(*) AS BIGINT) AS n_conv,
        CAST(sum(lag) AS BIGINT) AS sum_lag_min,
        CAST(count(*) * 1000000 // tot.n AS BIGINT) AS share_micro
      FROM att, tot GROUP BY channel, tot.n"""))

  /** Per-source distribution-drift dashboard: total-variation
    * distance (in micro) between each source's token-length histogram
    * and the corpus-wide profile — the outlier-source detector a
    * curation review reads before debugging a mixture (PSI's ln
    * makes it float-fragile; TVD is the integral member of the same
    * family). Micro shares are integer divisions, so the statistic
    * replays exactly. Scale shape: two keyed histogram aggs over
    * bounded (key × bucket) state, then a broadcast of the
    * bucket-cardinality global profile onto the source list — no
    * corpus-sized join anywhere. */
  private val q215 = Q("q215_source_drift",
    (s, dir) => {
      val v = t(s, dir, "documents")
        .select(col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("_tok"))
        .withColumn("_b", expr("_tok div 8"))
      val per = v.groupBy(col("source"), col("_b"))
        .agg(count(lit(1)).as("_c"))
      val nSrc = v.groupBy(col("source")).agg(count(lit(1)).as("_n"))
      val glob = v.groupBy(col("_b")).agg(count(lit(1)).as("_g"))
      val tot = v.agg(count(lit(1)).as("_t"))
      val grid = nSrc.crossJoin(broadcast(glob.crossJoin(tot)))
      // integer `div` throughout: a double divide-then-truncate can
      // land on the wrong side of an integer boundary when 1/n is
      // below the quotient's ulp — the oracle's // is exact, so ours
      // must be too
      grid.join(per, Seq("source", "_b"), "left")
        .withColumn("_p", expr("coalesce(_c, 0L) * 1000000L div _n"))
        .withColumn("_q", expr("_g * 1000000L div _t"))
        .groupBy(col("source"))
        .agg(max(col("_n")).as("n_docs"),
          expr("sum(abs(_p - _q)) div 2").as("tvd_micro"))
    },
    Some(s"""WITH v AS (SELECT source,
        len(${tokensSql("text")}) // 8 AS b
        FROM documents),
      per AS (SELECT source, b, count(*) AS c FROM v GROUP BY source, b),
      ns AS (SELECT source, count(*) AS n FROM v GROUP BY source),
      gl AS (SELECT b, count(*) AS g FROM v GROUP BY b),
      tt AS (SELECT count(*) AS t FROM v),
      grid AS (SELECT ns.source, ns.n, gl.b, gl.g, tt.t FROM ns, gl, tt),
      sh AS (SELECT grid.source, grid.n,
          coalesce(per.c, 0) * 1000000 // grid.n AS p,
          grid.g * 1000000 // grid.t AS q
        FROM grid LEFT JOIN per
          ON per.source = grid.source AND per.b = grid.b)
      SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
        CAST(sum(abs(p - q)) // 2 AS BIGINT) AS tvd_micro
      FROM sh GROUP BY source"""))

  /** Item co-visitation top-k over the events stream (the classic
    * "users who touched X also touched Y" co-occurrence join feeding
    * every lightweight recommender): per user the DISTINCT touched
    * item set (props.k), per unordered item pair the co-visitor
    * count, then the top-5 neighbors per item by (count desc, item
    * asc). The per-user self-join is bounded by per-user distinct
    * items (≤ |item universe|), never a global cross; the top-k
    * window is item-keyed. */
  private val q216 = Q("q216_covisitation",
    (s, dir) => {
      val it = eventsNs(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("_k"))
        .filter(col("_k").isNotNull).distinct()
      val co = it.select(col("user_id"), col("_k").as("_ka"))
        .join(it.select(col("user_id"), col("_k").as("_kb")),
          Seq("user_id"))
        .filter(col("_ka") < col("_kb"))
        .groupBy(col("_ka"), col("_kb")).agg(count(lit(1)).as("_n"))
      val sym = co.select(col("_ka").as("item"), col("_kb").as("rec"),
          col("_n"))
        .unionByName(co.select(col("_kb").as("item"),
          col("_ka").as("rec"), col("_n")))
      sym.withColumn("_r", row_number().over(
          Window.partitionBy(col("item"))
            .orderBy(col("_n").desc, col("rec"))))
        .filter(col("_r") <= 5)
        .select(col("item"), col("rec"), col("_n").as("n_co"),
          col("_r").as("rank"))
    },
    Some("""WITH it AS (SELECT DISTINCT user_id,
        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events WHERE event_type IN ('click', 'view')
          AND json_extract_string(props, '$.k') IS NOT NULL),
      co AS (SELECT a.k AS ka, b.k AS kb, count(*) AS n
        FROM it a JOIN it b ON a.user_id = b.user_id AND a.k < b.k
        GROUP BY a.k, b.k),
      sym AS (SELECT ka AS item, kb AS rec, n FROM co
        UNION ALL SELECT kb, ka, n FROM co),
      rk AS (SELECT item, rec, n,
          row_number() OVER (PARTITION BY item
            ORDER BY n DESC, rec ASC) AS r
        FROM sym)
      SELECT CAST(item AS BIGINT) AS item, CAST(rec AS BIGINT) AS rec,
        CAST(n AS BIGINT) AS n_co, CAST(r AS BIGINT) AS rank
      FROM rk WHERE r <= 5"""))

  /** Event-type transition matrix (first-order Markov view of user
    * journeys): consecutive event pairs per user in (ts, event_id)
    * order — the deterministic tiebreak matters, events can share a
    * timestamp — then per (from, to) counts and row-normalized
    * probabilities in micro. One user-keyed lag window + one keyed
    * agg; the matrix itself is |types|² bounded state. */
  private val q217 = Q("q217_transitions",
    (s, dir) => {
      val e = eventsNs(s, dir).select(col("user_id"), col("ts"),
        col("event_id"), col("event_type"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = e
        .withColumn("_next", lead(col("event_type"), 1).over(w))
        .filter(col("_next").isNotNull)
      val m = pairs.groupBy(col("event_type").as("from_type"),
          col("_next").as("to_type"))
        .agg(count(lit(1)).as("n_trans"))
      val rows = m.groupBy(col("from_type"))
        .agg(sum(col("n_trans")).as("_row"))
      m.join(rows, Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n_trans"),
          expr("n_trans * 1000000L div _row").as("p_micro"))
    },
    Some("""WITH e AS (SELECT user_id, epoch_ns(ts) AS tns, event_id,
        event_type FROM events),
      p AS (SELECT event_type AS from_type,
          lead(event_type) OVER (PARTITION BY user_id
            ORDER BY tns, event_id) AS to_type
        FROM e),
      m AS (SELECT from_type, to_type, count(*) AS n_trans
        FROM p WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
      r AS (SELECT from_type, sum(n_trans) AS rn FROM m
        GROUP BY from_type)
      SELECT m.from_type, m.to_type, CAST(m.n_trans AS BIGINT)
          AS n_trans,
        CAST(m.n_trans * 1000000 // r.rn AS BIGINT) AS p_micro
      FROM m JOIN r USING (from_type)"""))

  /** Referential-integrity + null-rate audit across the TPC-H-ish
    * star: orphan counts for every FK edge the reference's semi-join
    * chains assume (lineitem→orders, orders→customer,
    * customer→nation, supplier→nation, part absence in lineitem) and
    * the null rate of the key columns — the data-contract monitor an
    * ingest pipeline runs BEFORE the joins that would silently drop
    * rows. Each row is one anti-join count: broadcast the dimension
    * side, never shuffle the fact. */
  private val q218 = Q("q218_fk_audit",
    (s, dir) => {
      def orphans(fact: DataFrame, fk: String, dim: DataFrame,
          pk: String, edge: String) = {
        val o = fact.join(dim.select(col(pk).as(fk)).distinct(),
          Seq(fk), "left_anti")
        o.agg(count(lit(1)).as("n_orphans"))
          .crossJoin(fact.agg(count(lit(1)).as("_n"),
            sum(when(col(fk).isNull, 1L).otherwise(0L)).as("n_null_fk")))
          .select(lit(edge).as("edge"), col("n_orphans"),
            col("n_null_fk"), col("_n").as("n_fact"))
      }
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val su = t(s, dir, "supplier")
      val p = t(s, dir, "part")
      orphans(li, "l_orderkey", o, "o_orderkey", "lineitem->orders")
        .unionByName(orphans(o, "o_custkey", c, "c_custkey",
          "orders->customer"))
        .unionByName(orphans(c, "c_nationkey", n, "n_nationkey",
          "customer->nation"))
        .unionByName(orphans(su, "s_nationkey", n, "n_nationkey",
          "supplier->nation"))
        .unionByName(orphans(li, "l_partkey", p, "p_partkey",
          "lineitem->part"))
    },
    Some {
      def edge(fact: String, fk: String, dim: String, pk: String,
          name: String): String =
        s"""SELECT '$name' AS edge,
          CAST((SELECT count(*) FROM $fact f
            WHERE NOT EXISTS (SELECT 1 FROM $dim d
              WHERE d.$pk = f.$fk)) AS BIGINT) AS n_orphans,
          CAST((SELECT count(*) FROM $fact WHERE $fk IS NULL)
            AS BIGINT) AS n_null_fk,
          CAST((SELECT count(*) FROM $fact) AS BIGINT) AS n_fact"""
      Seq(
        edge("lineitem", "l_orderkey", "orders", "o_orderkey",
          "lineitem->orders"),
        edge("orders", "o_custkey", "customer", "c_custkey",
          "orders->customer"),
        edge("customer", "c_nationkey", "nation", "n_nationkey",
          "customer->nation"),
        edge("supplier", "s_nationkey", "nation", "n_nationkey",
          "supplier->nation"),
        edge("lineitem", "l_partkey", "part", "p_partkey",
          "lineitem->part")).mkString("\nUNION ALL\n")
    })

  /** Exact near-dup collapse end-to-end: prefix-join pairs (q213's
    * zero-false-negative candidate theorem) → connected components →
    * min-id keeper per cluster — the EXACT twin of the q51/q88
    * blocked-LSH collapse, for the audits where "probably all
    * duplicates" is not acceptable. CC labels ARE the cluster minima,
    * so the keeper falls out of the component id; output is the
    * per-cluster removal ledger. The oracle composes the brute-force
    * pair truth with recursive-CTE reachability minima — pinning
    * pair exactness AND the collapse in one hash. */
  private val q219 = Q("q219_exact_collapse",
    (s, dir) => {
      val pairs = Dedup.prefixFilterJaccardPairs(t(s, dir, "documents"),
          "text", "doc_id", n = 3, thresholdNum = 3, thresholdDen = 5)
        .select(col("doc_a"), col("doc_b"))
      GraphOps.connectedComponents(pairs, "doc_a", "doc_b")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"))
        .select(col("component").as("keeper"), col("n_members"),
          (col("n_members") - 1).as("n_removed"))
    },
    Some(s"""WITH RECURSIVE t AS (SELECT doc_id,
        ${tokensSql("text")} AS toks
        FROM documents),
      g AS (SELECT doc_id,
          list_distinct($trigramsSql) AS sh
        FROM t WHERE len(toks) >= 3),
      pr AS (SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          len(list_intersect(a.sh, b.sh)) * 1.0 /
            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
            AS jac
        FROM g a JOIN g b ON a.doc_id < b.doc_id) z
        WHERE jac >= 0.6),
      sym AS (SELECT doc_a AS a, doc_b AS b FROM pr
        UNION SELECT doc_b, doc_a FROM pr),
      nodes AS (SELECT DISTINCT a AS n FROM sym),
      rc(n, m) AS (SELECT n, n FROM nodes
        UNION
        SELECT s.b, rc.m FROM rc JOIN sym s ON s.a = rc.n),
      comp AS (SELECT n, min(m) AS c FROM rc GROUP BY n)
      SELECT CAST(c AS BIGINT) AS keeper,
        CAST(count(*) AS BIGINT) AS n_members,
        CAST(count(*) - 1 AS BIGINT) AS n_removed
      FROM comp GROUP BY c"""))

  /** Association rules from co-visitation (the support/confidence/
    * lift layer over q216's co-occurrence counts, Agrawal et al.
    * 1993): both rule directions per co-visited pair, confidence =
    * co-visitors over antecedent visitors, lift against independence
    * — all integer micro (the co-count and visitor counts are the
    * only inputs), min-support 10 co-visitors. Keyed aggs + one
    * broadcast of the per-item visitor counts; bounded by the item
    * universe squared. */
  private val q220 = Q("q220_assoc_rules",
    (s, dir) => {
      val it = eventsNs(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("_k"))
        .filter(col("_k").isNotNull).distinct()
      val nItem = it.groupBy(col("_k")).agg(count(lit(1)).as("_na"))
      val nUsers = it.agg(countDistinct(col("user_id")).as("_u"))
      val co = it.select(col("user_id"), col("_k").as("_ka"))
        .join(it.select(col("user_id"), col("_k").as("_kb")),
          Seq("user_id"))
        .filter(col("_ka") < col("_kb"))
        .groupBy(col("_ka"), col("_kb")).agg(count(lit(1)).as("_nco"))
        .filter(col("_nco") >= 10)
      val rules = co.select(col("_ka").as("ante"), col("_kb").as("cons"),
          col("_nco"))
        .unionByName(co.select(col("_kb").as("ante"),
          col("_ka").as("cons"), col("_nco")))
      rules
        .join(broadcast(nItem).withColumnRenamed("_k", "ante"), Seq("ante"))
        .join(broadcast(nItem.withColumnRenamed("_k", "cons")
          .withColumnRenamed("_na", "_nb")), Seq("cons"))
        .crossJoin(broadcast(nUsers))
        .select(col("ante"), col("cons"), col("_nco").as("n_co"),
          expr("_nco * 1000000L div _na").as("conf_micro"),
          expr("CAST(CAST(_nco AS DECIMAL(38,0)) * _u * 1000000 " +
            "div (_na * _nb) AS BIGINT)").as("lift_micro"))
    },
    Some("""WITH it AS (SELECT DISTINCT user_id,
        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events WHERE event_type IN ('click', 'view')
          AND json_extract_string(props, '$.k') IS NOT NULL),
      ni AS (SELECT k, count(*) AS na FROM it GROUP BY k),
      u AS (SELECT count(DISTINCT user_id) AS nu FROM it),
      co AS (SELECT a.k AS ka, b.k AS kb, count(*) AS nco
        FROM it a JOIN it b ON a.user_id = b.user_id AND a.k < b.k
        GROUP BY a.k, b.k HAVING count(*) >= 10),
      rules AS (SELECT ka AS ante, kb AS cons, nco FROM co
        UNION ALL SELECT kb, ka, nco FROM co)
      SELECT r.ante, r.cons, CAST(r.nco AS BIGINT) AS n_co,
        CAST(r.nco * 1000000 // x.na AS BIGINT) AS conf_micro,
        CAST(CAST(r.nco AS HUGEINT) * u.nu * 1000000
          // (x.na * y.na) AS BIGINT) AS lift_micro
      FROM rules r JOIN ni x ON x.k = r.ante
      JOIN ni y ON y.k = r.cons, u"""))

  /** Lexical-diversity dashboard per source: token mass, distinct
    * types, type-token ratio, and hapax fraction (once-occurring
    * types over types) in micro — the corpus-linguistics panel that
    * separates template-generated sources (low TTR, low hapax) from
    * natural text before any model-based scoring runs. Two keyed aggs
    * over (source, word) — the word table never leaves the executors.
    */
  private val q221 = Q("q221_lexical_diversity",
    (s, dir) => {
      val w = t(s, dir, "documents").select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("_w"))
      val perWord = w.groupBy(col("source"), col("_w"))
        .agg(count(lit(1)).as("_c"))
      perWord.groupBy(col("source"))
        .agg(sum(col("_c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("_c") === 1, 1L).otherwise(0L)).as("_hapax"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          expr("n_types * 1000000L div n_tokens").as("ttr_micro"),
          expr("_hapax * 1000000L div n_types").as("hapax_micro"))
    },
    Some("""WITH w AS (SELECT source, unnest(list_filter(
          string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) AS w
        FROM documents),
      pw AS (SELECT source, w, count(*) AS c FROM w GROUP BY source, w)
      SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        CAST(count(*) AS BIGINT) AS n_types,
        CAST(count(*) * 1000000 // sum(c) AS BIGINT) AS ttr_micro,
        CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000
          // count(*) AS BIGINT) AS hapax_micro
      FROM pw GROUP BY source"""))

  /** Metadata-trust audit: agreement between the declared `lang`
    * column and the engine's n-gram language heuristic (q28's),
    * rolled up per (source, declared lang) — the dashboard that
    * decides whether upstream metadata can gate routing decisions or
    * must be re-derived. Map-only classify + one keyed agg. */
  private val q222 = Q("q222_lang_agreement",
    (s, dir) => t(s, dir, "documents")
      .select(col("source"), col("lang"),
        TextAnalysis.langIdHeuristic(col("text")).as("_det"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_det") === col("lang"), 1L).otherwise(0L))
          .as("n_agree"),
        sum(when(col("_det") === "en", 1L).otherwise(0L))
          .as("n_det_en"))
      .withColumn("agree_micro",
        expr("n_agree * 1000000L div n_docs")),
    Some(s"""WITH d AS (SELECT source, lang,
        CASE WHEN n = 0 THEN 'empty'
             WHEN hits * 1.0 / n >= 0.10 THEN 'en'
             WHEN hits * 1.0 / n >= 0.05 THEN 'en_like'
             ELSE 'other' END AS det
      FROM (SELECT source, lang,
        len(${tokensSql("text")}) AS n,
        len(list_filter(string_split_regex(trim(text), '\\s+'),
          x -> x IN ('the','a','of','and','is'))) AS hits
        FROM documents) z)
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN det = lang THEN 1 ELSE 0 END) AS BIGINT)
          AS n_agree,
        CAST(sum(CASE WHEN det = 'en' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_det_en,
        CAST(sum(CASE WHEN det = lang THEN 1 ELSE 0 END) * 1000000
          // count(*) AS BIGINT) AS agree_micro
      FROM d GROUP BY source, lang"""))

  /** Weighted PageRank over the crawl host graph with LINK
    * MULTIPLICITY as the edge weight
    * ([[GraphOps.pageRankFixedPoint]] `weightCol`): contribution
    * along an edge ∝ its weight over the source's total out-weight —
    * a host linked 40× from one page farm is not the same signal as
    * 40 distinct hosts linking once, and the unweighted rank (q145's
    * distinct-edge view) cannot tell them apart. Same exact-integer
    * trajectory, same per-round join+agg shape; the oracle replays
    * the weighted rounds. */
  private val q223 = Q("q223_weighted_pagerank",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val raw = d.select(pmod(col("doc_id"), lit(499L)).as("src"),
          pmod(col("doc_id") * 7, lit(499L)).as("dst"))
        .unionByName(d.select(pmod(col("doc_id"), lit(499L)).as("src"),
          pmod(col("doc_id") * 13 + 1, lit(499L)).as("dst")))
        .filter(col("src") =!= col("dst"))
      val weighted = raw.groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("w"))
      GraphOps.pageRankFixedPoint(weighted, "src", "dst", iters = 3,
        weightCol = Some("w"))
    },
    Some {
      def iterSql(prev: String, out: String): String =
        s"""$out AS (SELECT nodes.n,
            CAST(150000 + coalesce(x.s, 0) AS BIGINT) AS r
          FROM nodes LEFT JOIN (
            SELECT e.dst AS n,
              CAST(sum((CAST(r.r AS HUGEINT) * 850000 * e.w)
                // (CAST(deg.d AS HUGEINT) * 1000000)) AS BIGINT) AS s
            FROM e JOIN $prev r ON r.n = e.src
            JOIN deg ON deg.src = e.src
            GROUP BY e.dst) x ON nodes.n = x.n)"""
      s"""WITH raw AS (
        SELECT doc_id % 499 AS src, (doc_id * 7) % 499 AS dst
        FROM documents
        UNION ALL
        SELECT doc_id % 499, (doc_id * 13 + 1) % 499 FROM documents),
      e AS (SELECT src, dst, count(*) AS w FROM raw
        WHERE src <> dst GROUP BY src, dst),
      nodes AS (SELECT src AS n FROM e UNION SELECT dst FROM e),
      deg AS (SELECT src, sum(w) AS d FROM e GROUP BY src),
      r0 AS (SELECT n, CAST(1000000 AS BIGINT) AS r FROM nodes),
      ${iterSql("r0", "r1")},
      ${iterSql("r1", "r2")},
      ${iterSql("r2", "r3")}
      SELECT CAST(n AS BIGINT) AS node, r AS rank_micro FROM r3"""
    })

  /** PageRank convergence telemetry ([[GraphOps.pageRankConvergence]])
    * over q145's customer→supplier graph: per round, the total |Δrank|
    * mass and moved-node count — the evidence panel behind the
    * family's iters=3 convention. The oracle unrolls the identical
    * integer rounds and differences consecutive states. */
  private val q224 = Q("q224_rank_convergence",
    (s, dir) => {
      val edges = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
      GraphOps.pageRankConvergence(edges, "src", "dst", iters = 3)
    },
    Some {
      def iterSql(prev: String, out: String): String =
        pageRankStepSql("e", "nodes", "deg", "150000", prev, out)
      def deltaSql(i: Int): String =
        s"""SELECT $i AS iter,
          CAST(sum(abs(a.r - b.r)) AS BIGINT) AS delta_mass_micro,
          CAST(sum(CASE WHEN a.r <> b.r THEN 1 ELSE 0 END) AS BIGINT)
            AS n_changed
        FROM r$i a JOIN r${i - 1} b ON a.n = b.n"""
      s"""WITH e AS (SELECT DISTINCT o_custkey AS src,
          l_suppkey + 1000000 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      nodes AS (SELECT src AS n FROM e UNION SELECT dst FROM e),
      deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
      r0 AS (SELECT n, CAST(1000000 AS BIGINT) AS r FROM nodes),
      ${iterSql("r0", "r1")},
      ${iterSql("r1", "r2")},
      ${iterSql("r2", "r3")}
      ${deltaSql(1)} UNION ALL ${deltaSql(2)} UNION ALL ${deltaSql(3)}"""
    })

  /** Partition-layout advisor over lineitem's candidate keys: per
    * candidate column — cardinality, hottest-value share, mean rows
    * per value, and the suitability verdict (enough values to prune,
    * no value hot enough to skew a writer; the same 2..1000 / ≤50%
    * envelope the reference's year/month layout satisfies). This is
    * the dashboard that turns "what should we partition by" into
    * numbers; each candidate costs one map-side-combinable keyed agg
    * over the scan. */
  private val q225 = Q("q225_partition_advisor",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      def audit(name: String, c: Column) = {
        val per = li.select(c.cast("string").as("_v"))
          .groupBy(col("_v")).agg(count(lit(1)).as("_c"))
        per.agg(count(lit(1)).as("n_distinct"),
            sum(col("_c")).as("_rows"), max(col("_c")).as("_top"))
          .select(lit(name).as("candidate"), col("n_distinct"),
            expr("_top * 1000000L div _rows").as("top_share_micro"),
            expr("_rows div n_distinct").as("avg_rows_per_value"),
            (col("n_distinct").between(2, 1000) &&
              expr("_top * 1000000L div _rows") <= 500000L)
              .cast("int").as("suitable"))
      }
      audit("l_returnflag", col("l_returnflag"))
        .unionByName(audit("l_linestatus", col("l_linestatus")))
        .unionByName(audit("l_linenumber", col("l_linenumber")))
        .unionByName(audit("l_suppkey", col("l_suppkey")))
        .unionByName(audit("ship_year", year(col("l_shipdate"))))
    },
    Some {
      def audit(name: String, exprSql: String): String =
        s"""SELECT '$name' AS candidate,
          CAST(count(*) AS BIGINT) AS n_distinct,
          CAST(max(c) * 1000000 // sum(c) AS BIGINT) AS top_share_micro,
          CAST(sum(c) // count(*) AS BIGINT) AS avg_rows_per_value,
          CAST(CASE WHEN count(*) BETWEEN 2 AND 1000
            AND max(c) * 1000000 // sum(c) <= 500000
            THEN 1 ELSE 0 END AS INT) AS suitable
        FROM (SELECT CAST($exprSql AS VARCHAR) AS v, count(*) AS c
          FROM lineitem GROUP BY 1) z"""
      Seq(audit("l_returnflag", "l_returnflag"),
        audit("l_linestatus", "l_linestatus"),
        audit("l_linenumber", "l_linenumber"),
        audit("l_suppkey", "l_suppkey"),
        audit("ship_year", "year(l_shipdate)"))
        .mkString("\nUNION ALL\n")
    })

  /** JSONL round-trip pinned end-to-end: documents are written as
    * JSON lines, re-read through [[graft.sources.JsonSource]] with
    * the explicit schema + PERMISSIVE quarantine, split, and
    * aggregated — and the oracle is the DIRECT aggregation over the
    * parquet fixture, so the hash match proves the writer/reader
    * pair loses nothing (escaping, nulls, unicode) and quarantines
    * nothing on clean data. The quarantine count rides the output as
    * the zero the contract promises. */
  private val q226 = Q("q226_json_roundtrip",
    (s, dir) => {
      val out = graft.Scratch.createTempDir("q226json").toString
      val docs = t(s, dir, "documents")
      docs.write.mode("overwrite").json(out)
      val split = graft.sources.JsonSource.split(
        graft.sources.JsonSource.read(s, docs.schema, out))
      val nQuar = split.quarantined.agg(count(lit(1)).as("n_quarantined"))
      val res = split.good.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long"))
            .as("n_tokens"),
          sum(col("n_chars")).as("n_chars"))
        .crossJoin(broadcast(nQuar))
      val collected = res.collect()
      split.release()
      s.createDataFrame(
        s.sparkContext.parallelize(collected.toIndexedSeq), res.schema)
    },
    Some(s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(len(${tokensSql("text")})) AS BIGINT) AS n_tokens,
        CAST(sum(n_chars) AS BIGINT) AS n_chars,
        CAST(0 AS BIGINT) AS n_quarantined
      FROM documents GROUP BY source"""))

  /** ORC round-trip (the warehouse-interchange path): a lineitem
    * projection goes out through [[graft.sources.OrcSource]]
    * (snappy, partitioned by return flag) and comes back into the
    * q01-style decimal aggregation; the oracle aggregates the parquet
    * fixture directly, so the match pins ORC's value fidelity AND
    * that the partitioned layout reassembles completely. */
  private val q227 = Q("q227_orc_roundtrip",
    (s, dir) => {
      val out = graft.Scratch.createTempDir("q227orc").toString
      graft.sources.OrcSource.write(
        t(s, dir, "lineitem").select(col("l_returnflag"),
          col("l_linestatus"), col("l_quantity"),
          col("l_extendedprice")),
        out, partitionBy = Seq("l_returnflag"))
      graft.sources.OrcSource.read(s, out)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast(dec2)).cast(dec2).cast("string")
            .as("sum_qty"),
          sum(col("l_extendedprice").cast(dec2)).cast(dec2)
            .cast("string").as("sum_base_price"),
          count(lit(1)).as("n"))
    },
    Some("""SELECT l_returnflag, l_linestatus,
      CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2))
        AS VARCHAR) AS sum_qty,
      CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        AS DECIMAL(18,2)) AS VARCHAR) AS sum_base_price,
      count(*) AS n
      FROM lineitem GROUP BY l_returnflag, l_linestatus"""))

  /** CSV round-trip pin — the reference's OWN initial-load format,
    * using its dominant ';' separator (gluejob.py:234 — ',' only for
    * checkout_orders, ';' for every other table's CSV bronze): a
    * lineitem
    * projection goes out as headered ';'-CSV and comes back through
    * an EXPLICIT schema (never inference — the q226/q227
    * discipline), into the same decimal aggregation, hash-matched
    * against the direct fixture aggregation. Completes the
    * format-fidelity trilogy (JSONL / ORC / CSV). */
  private val q228 = Q("q228_csv_roundtrip",
    (s, dir) => {
      val out = graft.Scratch.createTempDir("q228csv").toString
      val proj = t(s, dir, "lineitem").select(col("l_returnflag"),
        col("l_linestatus"), col("l_quantity"), col("l_extendedprice"))
      proj.write.mode("overwrite").option("header", "true")
        .option("sep", ";").csv(out)
      s.read.schema(proj.schema).option("header", "true")
        .option("sep", ";").csv(out)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast(dec2)).cast(dec2).cast("string")
            .as("sum_qty"),
          sum(col("l_extendedprice").cast(dec2)).cast(dec2)
            .cast("string").as("sum_base_price"),
          count(lit(1)).as("n"))
    },
    Some("""SELECT l_returnflag, l_linestatus,
      CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2))
        AS VARCHAR) AS sum_qty,
      CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        AS DECIMAL(18,2)) AS VARCHAR) AS sum_base_price,
      count(*) AS n
      FROM lineitem GROUP BY l_returnflag, l_linestatus"""))

  /** Mixture-feasibility planner: given per-domain available token
    * mass and a target mixture (pinned 20000+3000·idx micro ramp over
    * the src<idx> sources, 97% allocated / 3% headroom), compute the
    * largest epoch that honors the mixture WITHOUT repetition
    * (min over domains of available·1e6 div target), each domain's
    * planned take and utilization, and — against a 2M-token desired
    * budget — the per-domain repeat factor (>1e6 micro ⇒ that domain
    * must repeat data). This is the capacity-planning sheet a
    * pretraining data lead reads before committing to a mixture;
    * q181's sampler then enforces whatever this sheet approves.
    * One keyed agg + strata-frame arithmetic, all integral. */
  private val q229 = Q("q229_mixture_planner",
    (s, dir) => {
      // sources without a trailing index carry no mixture target:
      // filter them EXPLICITLY on both sides (Spark's '' → null cast
      // would keep a null-target row; DuckDB's CAST('') would abort
      // the whole oracle — TRY_CAST + the same filter makes the two
      // engines agree for any fixture, not just the current one)
      val avail = t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(sum(TextAnalysis.tokenCount(col("text")).cast("long"))
          .as("available"))
        .withColumn("_idx",
          regexp_extract(col("source"), "([0-9]+)$", 1).cast("long"))
        .filter(col("_idx").isNotNull)
        .withColumn("target_micro", lit(20000L) + col("_idx") * 3000L)
      val cap = avail
        .select(expr("min(available * 1000000L div target_micro)")
          .as("epoch_cap"))
      avail.crossJoin(broadcast(cap))
        .select(col("source"), col("available"), col("target_micro"),
          col("epoch_cap"),
          expr("epoch_cap * target_micro div 1000000L").as("planned"),
          expr("(epoch_cap * target_micro div 1000000L) * 1000000L " +
            "div available").as("utilization_micro"),
          expr("2000000L * target_micro div 1000000L").as("need"),
          expr("(2000000L * target_micro div 1000000L) * 1000000L " +
            "div available").as("repeat_micro"))
    },
    Some(s"""WITH a0 AS (SELECT source,
        CAST(sum(len(${tokensSql("text")})) AS BIGINT) AS available,
        TRY_CAST(NULLIF(regexp_extract(source, '([0-9]+)$$', 1), '')
          AS BIGINT) AS idx
        FROM documents GROUP BY source),
      a AS (SELECT source, available, 20000 + idx * 3000 AS target_micro
        FROM a0 WHERE idx IS NOT NULL),
      cap AS (SELECT min(available * 1000000 // target_micro)
          AS epoch_cap FROM a)
      SELECT a.source, a.available, CAST(a.target_micro AS BIGINT)
          AS target_micro,
        CAST(cap.epoch_cap AS BIGINT) AS epoch_cap,
        CAST(cap.epoch_cap * a.target_micro // 1000000 AS BIGINT)
          AS planned,
        CAST((cap.epoch_cap * a.target_micro // 1000000) * 1000000
          // a.available AS BIGINT) AS utilization_micro,
        CAST(2000000 * a.target_micro // 1000000 AS BIGINT) AS need,
        CAST((2000000 * a.target_micro // 1000000) * 1000000
          // a.available AS BIGINT) AS repeat_micro
      FROM a, cap"""))

  /** Effective-dataset-size waterfall — THE headline number a data
    * card quotes: token mass at each dedup tier. raw → exact
    * (normalized-key keeper, q21's rule) → near-dup (prefix-join
    * pairs over the exact survivors collapsed by connected
    * components, min-id keeper — the q219 exact machinery, so the
    * near tier has zero false negatives). One row per tier with doc
    * and token counts; the oracle replays the normkey grouping, the
    * brute-force pair truth on survivors, and the reachability-min
    * collapse. */
  private val q230 = Q("q230_effective_size",
    (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        col("text"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("_tok"))
      def tier(name: String, d: DataFrame) =
        d.agg(count(lit(1)).as("n_docs"), sum(col("_tok")).as("n_tokens"))
          .select(lit(name).as("tier"), col("n_docs"), col("n_tokens"))
      val exact = docs
        .withColumn("_nk", Dedup.normKey(col("text")))
        .withColumn("_rn", row_number().over(
          Window.partitionBy(col("_nk")).orderBy(col("doc_id"))))
        .filter(col("_rn") === 1)
        .select(col("doc_id"), col("text"), col("_tok"))
      val pairs = Dedup.prefixFilterJaccardPairs(exact, "text",
          "doc_id", n = 3, thresholdNum = 3, thresholdDen = 5)
        .select(col("doc_a"), col("doc_b"))
      val drop = GraphOps.connectedComponents(pairs, "doc_a", "doc_b")
        .filter(col("node") =!= col("component"))
        .select(col("node").as("doc_id"))
      val near = exact.join(drop, Seq("doc_id"), "left_anti")
      tier("1_raw", docs)
        .unionByName(tier("2_exact", exact))
        .unionByName(tier("3_near", near))
    },
    Some(s"""WITH RECURSIVE d AS (SELECT doc_id, text,
        CAST(len(${tokensSql("text")}) AS BIGINT) AS tok
        FROM documents),
      ex AS (SELECT doc_id, text, tok FROM (SELECT *,
          row_number() OVER (PARTITION BY
            lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))
            ORDER BY doc_id) AS rn FROM d) z
        WHERE rn = 1),
      g AS (SELECT doc_id, list_distinct(
          $trigramsSql) AS sh
        FROM (SELECT doc_id, list_filter(
            string_split_regex(trim(text), '\\s+'), x -> len(x) > 0)
            AS toks FROM ex) t0
        WHERE len(toks) >= 3),
      pr AS (SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          len(list_intersect(a.sh, b.sh)) * 1.0 /
            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
            AS jac
        FROM g a JOIN g b ON a.doc_id < b.doc_id) z
        WHERE jac >= 0.6),
      sym AS (SELECT doc_a AS a, doc_b AS b FROM pr
        UNION SELECT doc_b, doc_a FROM pr),
      nodes AS (SELECT DISTINCT a AS n FROM sym),
      rc(n, m) AS (SELECT n, n FROM nodes
        UNION
        SELECT s.b, rc.m FROM rc JOIN sym s ON s.a = rc.n),
      drop0 AS (SELECT n FROM (SELECT n, min(m) AS c FROM rc
        GROUP BY n) z WHERE n <> c),
      nr AS (SELECT ex.doc_id, ex.tok FROM ex
        WHERE ex.doc_id NOT IN (SELECT n FROM drop0))
      SELECT '1_raw' AS tier, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(tok) AS BIGINT) AS n_tokens FROM d
      UNION ALL
      SELECT '2_exact', count(*), CAST(sum(tok) AS BIGINT) FROM ex
      UNION ALL
      SELECT '3_near', count(*), CAST(sum(tok) AS BIGINT) FROM nr"""))

  /** Image near-dup via a REAL codec chain: synthetic PNGs (integer
    * pattern of (doc_id, x, y)) are encoded AND decoded through the
    * JDK's `javax.imageio` on the executors, area-averaged to the 9×8
    * dHash grid with exact integer arithmetic, 64-bit
    * difference-hashed, and pair-joined with the pigeonhole-banded
    * Hamming join ([[graft.ext.Images]]). The oracle NEVER sees a
    * PNG: it computes the same grid ANALYTICALLY from the pattern
    * formula and brute-forces all pairs — so a hash match proves the
    * whole encode→decode→resize→hash chain is lossless-correct
    * (PNG is lossless, the resize is integral), not merely that two
    * copies of one implementation agree. Every 25th image is an
    * exact copy of its predecessor (Hamming 0) and every 50k+7th a
    * perturbed copy (first pixel column +16), so the pair surface has
    * designed structure at every fixture scale. The 64-bit hash rides
    * a single Spark LONG; the oracle packs it as two 32-bit words
    * because DuckDB raises on `1 << 63`. */
  private val q231 = Q("q231_image_dhash",
    (s, dir) => graft.ext.Images.dHashNearDupPairs(
      s, t(s, dir, "documents"), "doc_id", maxDist = 2),
    Some(s"""WITH $imageHashCtes
      ${hammingPairsSql("h")}"""))

  /** Interleaved multimodal sequence packing — the VLM training-shard
    * sheet ([[Packing.packMultimodal]]): every 3rd document carries a
    * real PNG (q231's codec chain), whose patch-token cost comes from
    * the DECODED dimensions (⌈36/14⌉·⌈32/14⌉ = 9 — the oracle may
    * hardcode the synthesis constant, Spark must earn it through
    * `javax.imageio`); text and image items interleave in 2·doc /
    * 2·doc+1 order and pack into 512-token shards via the two-phase
    * bucketed prefix sum. Per-shard modality rollup: the oracle
    * replays the global cumsum with one window — at fixture scale
    * that's the semantics spec, while the engine path keeps the
    * no-global-window shape for 100 TB. */
  private val q232 = Q("q232_multimodal_pack",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val media = graft.ext.Images.syntheticPngFrame(s,
        docs.filter(col("doc_id") % 3 === 0), "doc_id")
      val dims = graft.ext.Images.decodedMeta(s, media)
      Packing.packMultimodal(docs, "doc_id", "text", dims,
          patch = 14, budget = 512L)
        .groupBy(col("shard"))
        .agg(
          sum(when(col("kind") === "text", 1L).otherwise(0L))
            .as("n_text"),
          sum(when(col("kind") === "image", 1L).otherwise(0L))
            .as("n_image"),
          sum(when(col("kind") === "text", col("n_tokens"))
            .otherwise(0L)).as("text_tokens"),
          sum(when(col("kind") === "image", col("n_tokens"))
            .otherwise(0L)).as("image_tokens"),
          sum(when(col("spills"), 1L).otherwise(0L)).as("n_spills"))
    },
    Some(s"""WITH txt AS (SELECT doc_id * 2 AS id, 'text' AS kind,
        CAST(len(${tokensSql("text")}) AS BIGINT) AS c
        FROM documents),
      img AS (SELECT doc_id * 2 + 1 AS id, 'image' AS kind,
          CAST(9 AS BIGINT) AS c
        FROM documents WHERE doc_id % 3 = 0),
      items AS (SELECT * FROM txt UNION ALL SELECT * FROM img),
      pos AS (SELECT id, kind, c, CAST(coalesce(sum(c) OVER (
          ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND
          1 PRECEDING), 0) AS BIGINT) AS start FROM items),
      a AS (SELECT kind, c, start // 512 AS shard,
          start % 512 AS so FROM pos)
      SELECT shard,
        CAST(sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_text,
        CAST(sum(CASE WHEN kind = 'image' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_image,
        CAST(sum(CASE WHEN kind = 'text' THEN c ELSE 0 END) AS BIGINT)
          AS text_tokens,
        CAST(sum(CASE WHEN kind = 'image' THEN c ELSE 0 END) AS BIGINT)
          AS image_tokens,
        CAST(sum(CASE WHEN so + c > 512 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_spills
      FROM a GROUP BY shard"""))

  /** The capped prefix join's truncation ledger
    * ([[Dedup.prefixFilterJaccardPairsCapped]], cap = 1 partner per
    * orientation so the fixture actually truncates): per document
    * that lost candidates, (n_cand, n_kept, n_dropped) — the loud
    * price sheet of bounding an exact join's verify cost on an
    * adversarial corpus. The oracle replays the WHOLE deterministic
    * chain: prefix positions ((df, token)-ordered), length +
    * positional filters, both-orientation smallest-partner ranks —
    * so the ledger is exact, not a sampled estimate. The capped
    * pair output's subset-of-uncapped guarantee is spec-pinned
    * (Round10Spec); this query pins the ledger arithmetic
    * cross-engine. */
  private val q233 = Q("q233_capped_prefix_ledger",
    (s, dir) => Dedup.prefixFilterJaccardPairsCapped(
      t(s, dir, "documents"), "text", "doc_id", n = 3,
      thresholdNum = 3, thresholdDen = 5, maxCandidates = 1)._2,
    Some(s"""WITH t AS (SELECT doc_id,
        ${tokensSql("text")} AS toks
        FROM documents),
      g AS (SELECT doc_id, list_distinct(
          $trigramsSql) AS sh
        FROM t WHERE len(toks) >= 3),
      tok AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS tk FROM g),
      df AS (SELECT tk, count(*) AS d FROM tok GROUP BY tk),
      pos AS (SELECT doc_id, sz, tk, row_number() OVER (
          PARTITION BY doc_id ORDER BY d, tk) AS p
        FROM tok JOIN df USING (tk)),
      pre AS (SELECT * FROM pos
        WHERE p <= sz - ((3 * sz + 4) // 5) + 1),
      cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM pre a JOIN pre b ON a.tk = b.tk AND a.doc_id < b.doc_id
        WHERE b.sz * 5 >= a.sz * 3 AND a.sz * 5 >= b.sz * 3
          AND 1 + least(a.sz - a.p, b.sz - b.p)
            >= (3 * (a.sz + b.sz) + 7) // 8),
      ori AS (SELECT da AS dd, db AS p2 FROM cand
        UNION ALL SELECT db, da FROM cand),
      rk AS (SELECT dd, row_number() OVER (
          PARTITION BY dd ORDER BY p2) AS rn FROM ori)
      SELECT dd AS doc_id, CAST(count(*) AS BIGINT) AS n_cand,
        CAST(sum(CASE WHEN rn <= 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_kept,
        CAST(count(*) - sum(CASE WHEN rn <= 1 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_dropped
      FROM rk GROUP BY dd
      HAVING count(*) > sum(CASE WHEN rn <= 1 THEN 1 ELSE 0 END)"""))

  /** Mixed-geometry image near-dup — the q231 codec chain over a
    * corpus where EVERY image has its own (w, h) (10..32 × 9..27,
    * derived from the pattern id so designed copies share geometry;
    * mostly NOT divisible by the 9×8 grid): decode runs the EXACT
    * rational area-average ([[graft.ext.Images.gridOf]] — overlap
    * lengths in a ×9/×8 scaled integer axis, one floor division per
    * cell), the path a real scraped corpus needs, where the round-10
    * engine would have thrown on the first non-divisible image. The
    * oracle replays the whole rational geometry analytically: pixel
    * formula → per-(pixel, cell) integer overlap weights → floor'd
    * box sum → dHash → brute-force Hamming pairs, so a match proves
    * the fractional resize is bit-exact, not merely plumbed. (JPEG —
    * lossy, so never analytically replayable — is pinned by the
    * determinism + mixed-format flow specs in ImagesSpec instead.) */
  private val q234 = Q("q234_image_dhash_vardims",
    (s, dir) => graft.ext.Images.dHashNearDupPairsVarDims(
      s, t(s, dir, "documents"), "doc_id", maxDist = 2),
    Some(s"""WITH b AS ($plantedRowsSql),
      d AS (SELECT doc_id, ${seedSql("pid")} AS m, pert,
        10 + (pid * 7) % 23 AS w, 9 + (pid * 5) % 19 AS h FROM b),
      px AS (SELECT doc_id, w, h, x, y,
          (${pixelSql("x", "y")}
            + CASE WHEN pert AND x = 0 THEN 16 ELSE 0 END) % 256 AS g
        FROM d, range(32) rx(x), range(27) ry(y)
        WHERE x < w AND y < h),
      cell AS (SELECT doc_id, cx, cy,
          sum((least((cx+1)*w, (x+1)*9) - greatest(cx*w, x*9))
            * (least((cy+1)*h, (y+1)*8) - greatest(cy*h, y*8))
            * g) // (w * h) AS gv
        FROM px, range(9) r1(cx), range(8) r2(cy)
        WHERE least((cx+1)*w, (x+1)*9) > greatest(cx*w, x*9)
          AND least((cy+1)*h, (y+1)*8) > greatest(cy*h, y*8)
        GROUP BY doc_id, w, h, cx, cy),
      bits AS (${gridBitsSql("cell", "gv")}),
      hh AS (SELECT doc_id,
          ${bitPackSql("lo", "hi")}
        FROM bits GROUP BY doc_id)
      ${hammingPairsSql("hh")}"""))

  /** REAL audio decode via the JDK's `javax.sound.sampled` WAV codec
    * ([[graft.ext.Audio]]): synthetic 16-bit mono PCM clips (integer
    * sample formula of (doc_id, i)) are encoded through
    * `AudioSystem.write` (real RIFF/WAVE container) and decoded back
    * through `AudioSystem.getAudioInputStream` on the executors,
    * then reduced to integral features — sample count, Σ|s|, Σs²,
    * zero crossings — and a 64-bit energy-gradient fingerprint
    * (65 sample bins, adjacent-bin comparisons; shipped as two
    * 32-bit words so no engine builds a sign-bit BIGINT). The oracle
    * NEVER sees a WAV: it replays the sample formula analytically, so
    * a match proves the whole encode→container→decode chain is
    * lossless-correct (PCM is), not merely plumbed — the q231
    * discipline applied to audio. `FakeDecoder` now honestly covers
    * only compressed A/V containers (FFmpeg-class territory). */
  private val q235 = Q("q235_audio_features",
    (s, dir) => graft.ext.Audio.features(
      s, graft.ext.Audio.syntheticWavFrame(s, t(s, dir, "documents"),
        "doc_id")),
    Some(s"""WITH b AS ($plantedRowsSql),
      d AS (SELECT doc_id, ${seedSql("pid")} AS m, pert,
        400 + (pid * 11) % 257 AS n FROM b),
      s AS (${audioSamplesSql("d")}),
      zc AS (SELECT doc_id, v,
          lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM s),
      feat AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
          CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
          CAST(sum(v*v) AS BIGINT) AS sum_sq FROM s GROUP BY doc_id),
      zcc AS (SELECT doc_id, CAST(count(*) FILTER (WHERE pv IS NOT NULL
          AND ((pv < 0) <> (v < 0))) AS BIGINT) AS n_zero_cross
        FROM zc GROUP BY doc_id),
      bins AS (${energyBinsSql("s")}),
      bits AS (${energyBitsSql("bins")}),
      fp AS (SELECT doc_id,
          ${bitPackSql("fp_lo", "fp_hi")}
        FROM bits GROUP BY doc_id)
      SELECT f.doc_id AS media_id, f.n_samples, f.sum_abs, f.sum_sq,
        z.n_zero_cross, p.fp_lo, p.fp_hi
      FROM feat f JOIN zcc z USING (doc_id)
        JOIN fp p ON p.doc_id = f.doc_id"""))

  /** Audio near-dup pairs over the real WAV decode — the q235
    * fingerprint through the pigeonhole-banded Hamming join (the
    * same machinery as image dHash q231/q234 and text SimHash q137).
    * The oracle brute-forces all pairs from the analytically-replayed
    * fingerprints — which doubles as the pigeonhole recall proof at
    * the audio modality. */
  private val q236 = Q("q236_audio_neardup",
    (s, dir) => graft.ext.Audio.fingerprintNearDupPairs(
      s, t(s, dir, "documents"), "doc_id", maxDist = 2),
    Some(s"""WITH b AS ($plantedRowsSql),
      d AS (SELECT doc_id, ${seedSql("pid")} AS m, pert,
        400 + (pid * 11) % 257 AS n FROM b),
      s AS (${audioSamplesSql("d")}),
      bins AS (${energyBinsSql("s")}),
      bits AS (${energyBitsSql("bins")}),
      fp AS (SELECT doc_id,
          ${bitPackSql("lo", "hi")}
        FROM bits GROUP BY doc_id)
      ${hammingPairsSql("fp")}"""))

  /** REAL video container demux + scene-change detection
    * ([[graft.ext.Video]]): synthetic clips are MUXED into real
    * RIFF/AVI containers (avih/strl headers, `00dc` frame chunks with
    * even-byte padding, idx1 index) with each frame a real PNG
    * through `javax.imageio` — the MJPEG discipline carried by a
    * lossless intra codec — then DEMUXED back by walking the RIFF
    * chunk tree, per-frame decoded, dHashed, and lag-compared within
    * each clip (media-keyed window, bounded by frames-per-clip). Two
    * scenes per clip by construction; the cut is the one non-zero
    * consecutive Hamming. The oracle NEVER sees a container: it
    * replays frame patterns → grids → dHashes → consecutive Hamming
    * analytically, so a hash match proves the whole
    * mux→demux→decode→hash chain lossless-correct. Inter-frame
    * compressed codecs (H.264 etc.) stay honestly out of scope —
    * container demux and intra decode are the real thing here. */
  private val q237 = Q("q237_video_scene_cuts",
    (s, dir) => graft.ext.Video.sceneCuts(
      s, t(s, dir, "documents"), "doc_id"),
    Some(s"""WITH b AS (SELECT doc_id,
        ${plantedIdSql("doc_id")} AS pid
        FROM documents),
      fr AS (SELECT doc_id, f,
          (pid * 8 + CASE WHEN f >= 2 + pid % 3 THEN 1 ELSE 0 END)
            * 2654435761 % 2147483647 AS m
        FROM b, range(9) r(f) WHERE f < 4 + pid % 5),
      cell AS (${frameCellsSql("(cx*4+dx)")}),
      bits AS ($frameBitsSql),
      h AS (SELECT doc_id, f,
          ${bitPackSql("lo", "hi")}
        FROM bits GROUP BY doc_id, f)
      SELECT a.doc_id AS media_id, CAST(a.f AS INT) AS frame_idx,
        CAST(${hammingSql("a", "p")}
          AS INT) AS hamming,
        (${hammingSql("a", "p")} > 0)
          AS is_cut
      FROM h a JOIN h p ON p.doc_id = a.doc_id AND p.f = a.f - 1"""))

  /** Integer autocorrelation pitch estimate over the REAL audio
    * decode ([[graft.ext.Audio.autocorrPitch]]): R(L) = Σ s_i·s_{i+L}
    * in exact Long arithmetic, argmax over lags 40..72 with
    * smallest-lag tie-break — the classic time-domain period
    * detector, float-free so the oracle replays the argmax bit for
    * bit. Map-only: no shuffle anywhere in the plan (MediaPlanSpec
    * discipline). */
  private val q238 = Q("q238_audio_pitch",
    (s, dir) => graft.ext.Audio.autocorrPitch(
      s, graft.ext.Audio.syntheticWavFrame(s, t(s, dir, "documents"),
        "doc_id")),
    Some(s"""WITH b AS ($plantedRowsSql),
      d AS (SELECT doc_id, ${seedSql("pid")} AS m, pert,
        400 + (pid * 11) % 257 AS n FROM b),
      s AS (SELECT doc_id, i,
          $audioSampleSql AS v
        FROM d, range(657) r(i) WHERE i < n),
      r AS (SELECT a.doc_id, l.lg, CAST(sum(a.v * bb.v) AS BIGINT) AS r
        FROM s a, range(40, 73) l(lg), s bb
        WHERE bb.doc_id = a.doc_id AND bb.i = a.i + l.lg
        GROUP BY a.doc_id, l.lg)
      SELECT doc_id AS media_id, CAST(lg AS INT) AS best_lag,
        r AS best_r
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY r DESC, lg) AS rn FROM r) z
      WHERE rn = 1"""))

  /** Cross-modal consistency audit — the "same image, different
    * caption" spam/scrape signal a multimodal curation pass needs:
    * image near-dup pairs (the q231 real-codec chain, Hamming ≤ 2)
    * that have NO text near-dup support (exact prefix-join Jaccard ≥
    * 0.6 — q213's zero-false-negative machinery, so "no text pair"
    * is a proof, not a sampling artifact). Every surviving row is a
    * pair of documents sharing a (near-)identical image under
    * different text. The oracle replays both modalities brute-force
    * and anti-joins. */
  private val q239 = Q("q239_crossmodal_consistency",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val img = graft.ext.Images.dHashNearDupPairs(s, docs, "doc_id",
        maxDist = 2)
      val txt = Dedup.prefixFilterJaccardPairs(docs, "text", "doc_id",
          n = 3, thresholdNum = 3, thresholdDen = 5)
        .select(col("doc_a"), col("doc_b"))
      img.join(txt, Seq("doc_a", "doc_b"), "left_anti")
    },
    Some(s"""WITH $imageHashCtes,
      ip AS (${hammingPairsSql("h")}),
      g AS (SELECT doc_id, list_distinct(
          $trigramsSql) AS sh
        FROM (SELECT doc_id, list_filter(
            string_split_regex(trim(text), '\\s+'), x -> len(x) > 0)
            AS toks FROM documents) t0
        WHERE len(toks) >= 3),
      tp AS (SELECT a.doc_id AS da, b.doc_id AS db
        FROM g a JOIN g b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
          >= 0.6)
      SELECT doc_a, doc_b, hamming FROM ip
      WHERE NOT EXISTS (SELECT 1 FROM tp
        WHERE tp.da = ip.doc_a AND tp.db = ip.doc_b)"""))

  /** Incremental image-fingerprint maintenance
    * ([[Dedup.hammingDeltaPairsFromFingerprints]]): the stored corpus
    * (doc_id % 4 ≠ 0) holds its dHash table; a delta crawl
    * (doc_id % 4 = 0) decodes through the real codec and joins
    * against the store — banding work sized by the delta, stored²
    * never enumerated, same pigeonhole recall guarantee. The oracle
    * brute-forces ALL pairs and keeps those touching the delta —
    * pinning that the incremental path misses nothing the full
    * rebuild would find (the minHashLshDeltaPairs contract, extended
    * to decoder fingerprints). */
  private val q240 = Q("q240_image_dhash_delta",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val baseF = graft.ext.Images.dHashes(s,
        graft.ext.Images.syntheticPngFrame(s,
          docs.filter(col("doc_id") % 4 =!= 0), "doc_id"))
      val deltaF = graft.ext.Images.dHashes(s,
        graft.ext.Images.syntheticPngFrame(s,
          docs.filter(col("doc_id") % 4 === 0), "doc_id"))
      Dedup.hammingDeltaPairsFromFingerprints(baseF, deltaF,
        "media_id", "dhash", maxDist = 2, chunks = 4, nBits = 64)
    },
    Some(s"""WITH $imageHashCtes
      ${hammingPairsSql("h")}
        AND (a.doc_id % 4 = 0 OR z.doc_id % 4 = 0)"""))

  /** Video-aware multimodal packing — q232's VLM shard sheet with the
    * THIRD modality: every 4th document carries a real AVI clip whose
    * accelerator cost is n_frames × patches-per-frame, BOTH earned
    * through the container (frame count from the real demux walk,
    * dims from decoding the first frame —
    * [[graft.ext.Video.decodedMeta]]; the oracle replays the
    * synthesis formulas analytically while Spark goes through
    * mux→demux→decode). Interleave and two-phase no-global-window
    * cumsum unchanged ([[Packing.packMultimodalCosts]]). */
  private val q241 = Q("q241_video_pack",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val media = graft.ext.Video.syntheticAviFrame(s,
        docs.filter(col("doc_id") % 4 === 0), "doc_id")
      val meta = graft.ext.Video.decodedMeta(s, media)
      val costs = meta.select(col("media_id"),
        lit("video").as("kind"),
        (col("n_frames") *
          expr("(width + 13) div 14") *
          expr("(height + 13) div 14")).cast("long").as("cost"))
      Packing.packMultimodalCosts(docs, "doc_id", "text", costs,
          budget = 512L)
        .groupBy(col("shard"))
        .agg(
          sum(when(col("kind") === "text", 1L).otherwise(0L))
            .as("n_text"),
          sum(when(col("kind") === "video", 1L).otherwise(0L))
            .as("n_video"),
          sum(when(col("kind") === "text", col("n_tokens"))
            .otherwise(0L)).as("text_tokens"),
          sum(when(col("kind") === "video", col("n_tokens"))
            .otherwise(0L)).as("video_tokens"),
          sum(when(col("spills"), 1L).otherwise(0L)).as("n_spills"))
    },
    Some(s"""WITH txt AS (SELECT doc_id * 2 AS id, 'text' AS kind,
        CAST(len(${tokensSql("text")}) AS BIGINT) AS c
        FROM documents),
      vid AS (SELECT doc_id * 2 + 1 AS id, 'video' AS kind,
          CAST((4 + (${plantedIdSql("doc_id")}) % 5) * 9 AS BIGINT) AS c
        FROM documents WHERE doc_id % 4 = 0),
      items AS (SELECT * FROM txt UNION ALL SELECT * FROM vid),
      pos AS (SELECT id, kind, c, CAST(coalesce(sum(c) OVER (
          ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND
          1 PRECEDING), 0) AS BIGINT) AS start FROM items),
      a AS (SELECT kind, c, start // 512 AS shard,
          start % 512 AS so FROM pos)
      SELECT shard,
        CAST(sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_text,
        CAST(sum(CASE WHEN kind = 'video' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_video,
        CAST(sum(CASE WHEN kind = 'text' THEN c ELSE 0 END) AS BIGINT)
          AS text_tokens,
        CAST(sum(CASE WHEN kind = 'video' THEN c ELSE 0 END) AS BIGINT)
          AS video_tokens,
        CAST(sum(CASE WHEN so + c > 512 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_spills
      FROM a GROUP BY shard"""))

  /** Run a streaming-maintenance catalog query inside four scratch
    * dirs (store / pairs / checkpoint / landing) that are DELETED
    * before returning — a correctness drive must not leak a corpus
    * copy per run (round-11 ADVICE). The result is collected to
    * driver rows and re-created as a local frame: the returned plan
    * neither reads the deleted parquet nor pins checkpoint blocks in
    * the block manager for the rest of the JVM (a bench loop runs
    * hundreds of queries in one session — an unreleased
    * localCheckpoint per streaming query would accumulate). Bounded
    * by construction: every caller returns a near-dup PAIR surface —
    * slim id/hamming rows whose count tracks the corpus's designed
    * duplicate density (19k rows at the 25× probe), never payloads. */
  private def withStreamDirs(s: SparkSession, tag: String)(
      body: (String, String, String, String) => DataFrame): DataFrame = {
    val dirs = Seq("store", "pairs", "ckpt", "land")
      .map(k => graft.Scratch.createTempDir(tag + k))
    try {
      val d = dirs.map(_.toString)
      val out = body(d(0), d(1), d(2), d(3))
      s.createDataFrame(out.collectAsList(), out.schema)
    } finally dirs.foreach(graft.Scratch.deleteRecursively)
  }

  /** The streaming media-dedup maintenance end-to-end as an oracled
    * catalog row ([[graft.streaming.MediaDedupMaintenance]]): real
    * PNG payloads land as a multi-file corpus, stream through
    * AvailableNow one file per micro-batch — each batch decoded once,
    * delta-joined banded against the accumulated fingerprint store,
    * its fragment + new pairs landing under batchId keys — and the
    * returned union of per-batch pair logs must equal the FULL-corpus
    * analytic pair surface (the oracle is q231's, verbatim): pair
    * emission across batch boundaries is structurally exactly-once,
    * which the multi-batch arrival here exercises for real, not just
    * in the spec. */
  private val q243 = Q("q243_media_stream_pairs",
    (s, dir) => withStreamDirs(s, "q243") { (store, pairs, ckpt, landing) =>
      graft.ext.Images.syntheticPngFrame(s, t(s, dir, "documents"),
          "doc_id")
        .select(col("media_id"), col("payload"))
        .repartitionByRange(4, col("media_id"))
        .write.mode("overwrite").parquet(landing)
      val src = s.readStream
        .schema(s.read.parquet(landing).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
      // compaction ON for the single-modality store too (one fold
      // over the fixture's final batch): the oracle hash proves fold
      // invariance on this path exactly as q251 does for the unified
      // store. compactEvery=4, not 2 — at 2 the grace-deferred
      // cleanup keeps ~2x the fragments resident and doubles the
      // fold bookkeeping over a handful of batches (measured, see
      // BASELINE.md round-15 addendum); one fold buys the same
      // invariance coverage
      val q = graft.streaming.MediaDedupMaintenance.start(
        src, store, pairs, ckpt, compactEvery = 4)
      q.awaitTermination()
      s.read.parquet(pairs)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    },
    Some(s"""WITH $imageHashCtes
      ${hammingPairsSql("h")}"""))

  /** Unified mixed-modality fingerprint pass
    * ([[graft.ext.Multimodal.unifiedFingerprints]]): ONE decode pass
    * over a corpus whose payloads cycle through PNG image / WAV
    * audio / AVI video BY ROW, each sniffed from its magic bytes
    * (RIFF form fourcc splits WAVE vs "AVI "; PNG/JPEG magics →
    * image) and routed to its REAL codec — the dispatch shape a
    * scraped-media pass needs, where content-type metadata lies.
    * The oracle replays all three modalities analytically (image
    * dHash grid, audio energy bins, video first-frame pattern) and
    * unions them — one hash match pins the whole three-codec
    * dispatch. */
  private val q242 = Q("q242_unified_media_fp",
    (s, dir) => graft.ext.Multimodal.unifiedFingerprints(s,
      graft.ext.Multimodal.syntheticMixedFrame(s,
        t(s, dir, "documents"), "doc_id")),
    Some(s"""WITH b AS ($plantedRowsSql),
      ${unifiedHashCtes("doc_id % 3")}
      SELECT doc_id AS media_id, 'image' AS kind,
        lo AS fp_lo, hi AS fp_hi FROM ih
      UNION ALL
      SELECT doc_id, 'audio', lo, hi FROM ah
      UNION ALL
      SELECT doc_id, 'video', lo, hi FROM vh"""))

  /** Mirror-invariant image near-dup
    * ([[graft.ext.Images.dHashNearDupPairsMirrorAware]]): every
    * (40k+11)th image is the HORIZONTAL MIRROR of its predecessor —
    * the mirrored-repost case plain dHash misses (mirroring permutes
    * and partially complements the gradient bits). Every image
    * contributes both orientations' fingerprints (one 72-int flip,
    * no second decode); pairs collapse to media level with the
    * deterministic MINIMUM Hamming across orientation combos. The
    * oracle replays the mirrored rendering, both per-variant
    * fingerprints, and the 4-combo min analytically — so the planted
    * mirror pairs surfacing at Hamming 0 is proved, not assumed. */
  private val q244 = Q("q244_image_mirror_dedup",
    (s, dir) => graft.ext.Images.dHashNearDupPairsMirrorAware(
      s, t(s, dir, "documents"), "doc_id", maxDist = 2),
    Some(s"""WITH src AS (SELECT doc_id,
        CASE WHEN doc_id > 10 AND doc_id % 40 = 11 THEN doc_id - 1
             ELSE doc_id END AS rid,
        (doc_id > 10 AND doc_id % 40 = 11) AS mir
        FROM documents),
      b AS (SELECT doc_id, mir,
        ${seedSql(plantedIdSql("rid"))} AS m,
        ${perturbedSql("rid")} AS pert
        FROM src),
      px AS (SELECT doc_id, x, y,
          (${pixelSql("xx", "y")}
            + CASE WHEN pert AND xx = 0 THEN 16 ELSE 0 END) % 256 AS g
        FROM (SELECT doc_id, m, pert, x, y,
            CASE WHEN mir THEN 35 - x ELSE x END AS xx
          FROM b, range(36) rx(x), range(32) ry(y)) z),
      cell AS (SELECT doc_id, x // 4 AS cx, y // 4 AS cy,
          sum(g) // 16 AS g
        FROM px GROUP BY doc_id, x // 4, y // 4),
      obits AS (${gridBitsSql("cell", "g")}),
      mbits AS (SELECT l.doc_id, l.cy * 8 + (8 - l.cx) AS k,
          CASE WHEN r.g > l.g THEN 1 ELSE 0 END AS bit
        FROM cell l JOIN cell r ON r.doc_id = l.doc_id
          AND r.cy = l.cy AND r.cx = l.cx - 1
        WHERE l.cx > 0),
      fp AS (SELECT doc_id, 0 AS v,
          ${bitPackSql("lo", "hi")}
        FROM obits GROUP BY doc_id
        UNION ALL
        SELECT doc_id, 1,
          $loWordSql,
          $hiWordSql
        FROM mbits GROUP BY doc_id)
      SELECT a.doc_id AS doc_a, z.doc_id AS doc_b,
        CAST(min(${hammingSql("a", "z")}) AS INT) AS hamming
      FROM fp a JOIN fp z ON a.doc_id < z.doc_id
      GROUP BY a.doc_id, z.doc_id
      HAVING min(${hammingSql("a", "z")}) <= 2"""))

  /** The BOUNDED cross-modal consistency audit — q239 with its one
    * measured scale law closed ([[Dedup.prefixFilterJaccardPairsBounded]]):
    * the exact text join's candidate enumeration is the suite's worst
    * 25× point (83.9 s — the hot-prefix-token Σ df² law), so the
    * audit's text side here skips prefix tokens hotter than
    * `maxTokenDf` and caps per-doc candidates, bounding BOTH cost
    * laws. The direction is what makes a capped AUDIT sound: capping
    * only SHRINKS the text-pair surface, and the audit anti-joins
    * against it — so every true inconsistency (image dup with no
    * text dup) is still reported (flag recall 1), and the only
    * possible error is an over-flag whose text pair was capped away.
    * Each reported pair carries a `suspect` bit — an endpoint lost a
    * candidate slot or carries a skipped hot token — so a reviewer
    * knows exactly which flags the bounds may have manufactured; a
    * pair with suspect = false is PROVEN inconsistent at full
    * exactness (its endpoints' candidates were untouched). The
    * oracle replays the whole deterministic chain: image dHash pairs,
    * prefix positions, hot-token skip, both-orientation rank cap,
    * both-votes rule, exact Jaccard verify, both ledgers. */
  private val q245 = Q("q245_crossmodal_audit_bounded",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      // CACHED composition, deliberately — the audit is a
      // multi-consumer DAG whose heavy subtrees (image decode chain,
      // corpus tokenization) otherwise re-execute under concurrent
      // AQE broadcast-stage futures, contending for the same
      // executor: the 25× stage table showed the query at 40–146 s
      // run-to-run (quiet machine) with the decode chain's stage
      // re-materialized per consumer, vs ~20 s of actual component
      // work. Both cached frames are SLIM — fingerprints are 16
      // bytes/row, the corpus frames per-doc shingle state — i.e.
      // exactly the intermediates a 100-TB pipeline would persist
      // across a multi-consumer audit; payloads and pixels are never
      // cached or shuffled.
      val fps = graft.ext.Images.dHashes(s,
          graft.ext.Images.syntheticPngFrame(s, docs, "doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // everything after the persist runs under the try whose finally
      // unpersists — a failed fill or bounded join must not orphan
      // cache blocks in a long-lived bench session
      try {
        fps.count() // decode chain executes exactly once, here
        val img = Dedup.hammingPairsFromFingerprints(fps, "media_id",
          "dhash", maxDist = 2, chunks = 4, nBits = 64)
        val outs =
          Dedup.prefixFilterJaccardPairsBoundedOnce(docs, "text",
            "doc_id", n = 3, thresholdNum = 3, thresholdDen = 5,
            maxCandidates = 1, maxTokenDf = 2)
        try {
        val (txt, docLedger, tokLedger) =
          (outs.pairs, outs.docLedger, outs.tokenLedger)
        // a doc is SUSPECT when the bounds may have cost it a text
        // pair: it lost a candidate slot, or any of its shingles is a
        // skipped hot token (a hot-skipped pair's shared prefix token
        // is among both endpoints' shingles, so this covers every
        // pair the token skip can drop). The id set is slim and
        // bounded (≤ |docs| longs — 125k at the 25× probe). The
        // shingle rows ride the SAME cache the join filled — the
        // corpus is never re-tokenized.
        val hotDocs = outs.shingleRows
          .join(broadcast(tokLedger.select(col("token").as("_tok"))),
            Seq("_tok"))
          .select(col("_id").as("doc_id")).distinct()
        // The suspect-id set stays DISTRIBUTED: on this corpus it is
        // bounded by |docs| longs, but on an adversarial 100×-scale
        // corpus it is corpus-sized — a collectAsList + unconditional
        // broadcast would be a driver-side materialization and an
        // impossible broadcast exchange. localCheckpoint materializes
        // it once on the EXECUTORS (it is consumed twice, as the _sa
        // and _sb probe sides), and the joins carry no broadcast
        // hint: AQE sees the checkpoint's actual size at runtime and
        // picks broadcast when it fits, shuffle join when it doesn't.
        graft.ext.LocalCheckpoint.within(docLedger.select(col("doc_id"))
            .unionByName(hotDocs).distinct()
            .withColumn("_s", lit(true))) { suspect =>
        val out = img.join(txt.select(col("doc_a"), col("doc_b")),
            Seq("doc_a", "doc_b"), "left_anti")
          .join(suspect.select(col("doc_id").as("doc_a"),
            col("_s").as("_sa")), Seq("doc_a"), "left")
          .join(suspect.select(col("doc_id").as("doc_b"),
            col("_s").as("_sb")), Seq("doc_b"), "left")
          .select(col("doc_a"), col("doc_b"), col("hamming"),
            (coalesce(col("_sa"), lit(false)) ||
              coalesce(col("_sb"), lit(false))).as("suspect"))
        // the audit surface is slim and bounded by the image-pair
        // count — collect it local BEFORE releasing the cache txt
        // still reads from (no cached blocks outlive the query)
        s.createDataFrame(out.collectAsList(), out.schema)
        }
        } finally outs.release()
      } finally { fps.unpersist(); () }
    },
    Some(s"""WITH $imageHashCtes,
      ip AS (${hammingPairsSql("h")}),
      t AS (SELECT doc_id,
        ${tokensSql("text")} AS toks
        FROM documents),
      g AS (SELECT doc_id, list_distinct(
          $trigramsSql) AS sh
        FROM t WHERE len(toks) >= 3),
      tok AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS tk FROM g),
      df AS (SELECT tk, count(*) AS d FROM tok GROUP BY tk),
      pos AS (SELECT doc_id, sz, tk, row_number() OVER (
          PARTITION BY doc_id ORDER BY d, tk) AS p
        FROM tok JOIN df USING (tk)),
      pre AS (SELECT * FROM pos
        WHERE p <= sz - ((3 * sz + 4) // 5) + 1),
      pdf AS (SELECT tk, count(*) AS pd FROM pre GROUP BY tk),
      hot AS (SELECT tk FROM pdf WHERE pd > 2),
      cool AS (SELECT * FROM pre
        WHERE tk NOT IN (SELECT tk FROM hot)),
      cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM cool a JOIN cool b ON a.tk = b.tk AND a.doc_id < b.doc_id
        WHERE b.sz * 5 >= a.sz * 3 AND a.sz * 5 >= b.sz * 3
          AND 1 + least(a.sz - a.p, b.sz - b.p)
            >= (3 * (a.sz + b.sz) + 7) // 8),
      ori AS (SELECT da AS dd, db AS p2 FROM cand
        UNION ALL SELECT db, da FROM cand),
      rk AS (SELECT dd, p2, row_number() OVER (
          PARTITION BY dd ORDER BY p2) AS rn FROM ori),
      kp AS (SELECT least(dd, p2) AS da, greatest(dd, p2) AS db
        FROM rk WHERE rn <= 1
        GROUP BY 1, 2 HAVING count(*) = 2),
      ver AS (SELECT kp.da, kp.db
        FROM kp JOIN g ga ON ga.doc_id = kp.da
          JOIN g gb ON gb.doc_id = kp.db
        WHERE len(list_intersect(ga.sh, gb.sh)) * 5 >=
          3 * (len(ga.sh) + len(gb.sh)
            - len(list_intersect(ga.sh, gb.sh)))),
      led AS (SELECT dd FROM rk GROUP BY dd
        HAVING count(*) > sum(CASE WHEN rn <= 1 THEN 1 ELSE 0 END)),
      hotdocs AS (SELECT DISTINCT doc_id FROM tok
        WHERE tk IN (SELECT tk FROM hot)),
      susp AS (SELECT dd AS doc_id FROM led
        UNION SELECT doc_id FROM hotdocs)
      SELECT ip.doc_a, ip.doc_b, ip.hamming,
        (ip.doc_a IN (SELECT doc_id FROM susp)
          OR ip.doc_b IN (SELECT doc_id FROM susp)) AS suspect
      FROM ip
      WHERE NOT EXISTS (SELECT 1 FROM ver
        WHERE ver.da = ip.doc_a AND ver.db = ip.doc_b)"""))

  /** The streaming media store made MIRROR-AWARE — round 11 left
    * batch and stream disagreeing on what a duplicate is (the
    * streamed store fingerprinted plain dHash, so a mirrored repost
    * arriving in a later micro-batch was exactly the miss q244 was
    * built to catch). The mirror-bearing corpus lands as a
    * multi-file archive, streams one file per micro-batch through
    * [[graft.streaming.MediaDedupMaintenance]] in mirrorAware mode
    * (both orientations' fingerprints from ONE decode ride the
    * fragment store — 32 bytes/image; pairs collapse to media-level
    * min Hamming per batch), and the union of per-batch pair logs
    * must equal q244's FULL-corpus analytic mirror-aware surface —
    * streamed ≡ batch ≡ analytic in one oracle hash, the q243
    * discipline extended to orientation state. */
  private val q246 = Q("q246_media_stream_mirror_pairs",
    (s, dir) => withStreamDirs(s, "q246") { (store, pairs, ckpt, landing) =>
      graft.ext.Images.syntheticPngFrameWithMirrors(s,
          t(s, dir, "documents"), "doc_id")
        .select(col("media_id"), col("payload"))
        .repartitionByRange(4, col("media_id"))
        .write.mode("overwrite").parquet(landing)
      val src = s.readStream
        .schema(s.read.parquet(landing).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
      val q = graft.streaming.MediaDedupMaintenance.start(
        src, store, pairs, ckpt, mirrorAware = true)
      q.awaitTermination()
      s.read.parquet(pairs)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    },
    Some(s"""WITH src AS (SELECT doc_id,
        CASE WHEN doc_id > 10 AND doc_id % 40 = 11 THEN doc_id - 1
             ELSE doc_id END AS rid,
        (doc_id > 10 AND doc_id % 40 = 11) AS mir
        FROM documents),
      b AS (SELECT doc_id, mir,
        ${seedSql(plantedIdSql("rid"))} AS m,
        ${perturbedSql("rid")} AS pert
        FROM src),
      px AS (SELECT doc_id, x, y,
          (${pixelSql("xx", "y")}
            + CASE WHEN pert AND xx = 0 THEN 16 ELSE 0 END) % 256 AS g
        FROM (SELECT doc_id, m, pert, x, y,
            CASE WHEN mir THEN 35 - x ELSE x END AS xx
          FROM b, range(36) rx(x), range(32) ry(y)) z),
      cell AS (SELECT doc_id, x // 4 AS cx, y // 4 AS cy,
          sum(g) // 16 AS g
        FROM px GROUP BY doc_id, x // 4, y // 4),
      obits AS (${gridBitsSql("cell", "g")}),
      mbits AS (SELECT l.doc_id, l.cy * 8 + (8 - l.cx) AS k,
          CASE WHEN r.g > l.g THEN 1 ELSE 0 END AS bit
        FROM cell l JOIN cell r ON r.doc_id = l.doc_id
          AND r.cy = l.cy AND r.cx = l.cx - 1
        WHERE l.cx > 0),
      fp AS (SELECT doc_id, 0 AS v,
          ${bitPackSql("lo", "hi")}
        FROM obits GROUP BY doc_id
        UNION ALL
        SELECT doc_id, 1,
          $loWordSql,
          $hiWordSql
        FROM mbits GROUP BY doc_id)
      SELECT a.doc_id AS doc_a, z.doc_id AS doc_b,
        CAST(min(${hammingSql("a", "z")}) AS INT) AS hamming
      FROM fp a JOIN fp z ON a.doc_id < z.doc_id
      GROUP BY a.doc_id, z.doc_id
      HAVING min(${hammingSql("a", "z")}) <= 2"""))

  /** Scene cuts over INTER-coded clips — q237's surface earned
    * through the temporally-dependent decode
    * ([[graft.ext.Video.sceneCutsInter]]): the fixture's clips are
    * re-muxed with the delta codec (keyframes every 4th frame as
    * `00dc` pictures, the rest `00dp` RESIDUAL planes — cur − prev
    * mod 256, lossless-coded), so most frames' pixels exist only
    * after reference + residual reconstruction, and the scene cut
    * usually lands ON a predicted frame (the residual IS the scene
    * difference). The oracle is q237's verbatim — a hash match
    * proves mux → demux → reconstruct is bit-lossless, upgrading
    * the video chain from "every frame independently decodable" to
    * the inter-frame decode shape (H.264/VP9's structure, minus
    * their entropy coding) a real video corpus needs. */
  private val q247 = Q("q247_video_inter_scene_cuts",
    (s, dir) => graft.ext.Video.sceneCutsInter(
      s, t(s, dir, "documents"), "doc_id"),
    Some(s"""WITH b AS (SELECT doc_id,
        ${plantedIdSql("doc_id")} AS pid
        FROM documents),
      fr AS (SELECT doc_id, f,
          (pid * 8 + CASE WHEN f >= 2 + pid % 3 THEN 1 ELSE 0 END)
            * 2654435761 % 2147483647 AS m
        FROM b, range(9) r(f) WHERE f < 4 + pid % 5),
      cell AS (${frameCellsSql("(cx*4+dx)")}),
      bits AS ($frameBitsSql),
      h AS (SELECT doc_id, f,
          ${bitPackSql("lo", "hi")}
        FROM bits GROUP BY doc_id, f)
      SELECT a.doc_id AS media_id, CAST(a.f AS INT) AS frame_idx,
        CAST(${hammingSql("a", "p")}
          AS INT) AS hamming,
        (${hammingSql("a", "p")} > 0)
          AS is_cut
      FROM h a JOIN h p ON p.doc_id = a.doc_id AND p.f = a.f - 1"""))

  /** The unified MIXED-modality streaming dedup
    * ([[graft.streaming.MediaDedupMaintenance.processBatchUnified]]):
    * a corpus whose payloads mix real PNG / WAV / AVI containers in
    * runs of four ids lands as a multi-file archive and streams one
    * file per micro-batch — each batch decoded ONCE with per-row
    * magic-byte dispatch to the three real codecs
    * ([[graft.ext.Multimodal.unifiedFingerprints]]), fingerprints of
    * all three modalities riding ONE store (kind on the row), pairs
    * delta-joined banded WITHIN kind per batch (an image dHash and
    * an audio energy fingerprint agreeing on bits is a collision,
    * never a duplicate). The union of per-batch pair logs must equal
    * the analytic within-kind pair surface over all three codec
    * chains — streamed ≡ analytic across image+audio+video in one
    * oracle hash. */
  private val q248 = Q("q248_unified_media_stream_pairs",
    (s, dir) => withStreamDirs(s, "q248") { (store, pairs, ckpt, landing) =>
      graft.ext.Multimodal.syntheticMixedFrameGrouped(s,
          t(s, dir, "documents"), "doc_id")
        .repartitionByRange(4, col("media_id"))
        .write.mode("overwrite").parquet(landing)
      val src = s.readStream
        .schema(s.read.parquet(landing).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
      val q = graft.streaming.MediaDedupMaintenance.startUnified(
        src, store, pairs, ckpt)
      q.awaitTermination()
      s.read.parquet(pairs)
        .select(col("doc_a"), col("doc_b"), col("hamming"), col("kind"))
    },
    Some(s"""WITH b AS ($plantedRowsSql),
      ${unifiedHashCtes("(doc_id // 4) % 3")}
      SELECT a.doc_id AS doc_a, z.doc_id AS doc_b,
        CAST(${hammingSql("a", "z")}
          AS INT) AS hamming, 'image' AS kind
      FROM ih a JOIN ih z ON a.doc_id < z.doc_id
      WHERE ${hammingSql("a", "z")} <= 2
      UNION ALL
      SELECT a.doc_id, z.doc_id,
        CAST(${hammingSql("a", "z")}
          AS INT), 'audio'
      FROM ah a JOIN ah z ON a.doc_id < z.doc_id
      WHERE ${hammingSql("a", "z")} <= 2
      UNION ALL
      SELECT a.doc_id, z.doc_id,
        CAST(${hammingSql("a", "z")}
          AS INT), 'video'
      FROM vh a JOIN vh z ON a.doc_id < z.doc_id
      WHERE ${hammingSql("a", "z")}
        <= 2"""))

  /** One scratch dir for queries that exercise a real FILE boundary
    * (media landing dirs): created before the body, deleted after the
    * result is collected driver-local — same lifecycle discipline as
    * [[withStreamDirs]], so a bench loop never accumulates /tmp
    * payload copies across hundreds of queries. Bounded by
    * construction: callers return slim per-media or per-pair rows. */
  private def withScratchDir(s: SparkSession, tag: String)(
      body: String => DataFrame): DataFrame = {
    val d = graft.Scratch.createTempDir(tag)
    try {
      val out = body(d.toString)
      s.createDataFrame(out.collectAsList(), out.schema)
    } finally graft.Scratch.deleteRecursively(d)
  }

  /** Media ingest through the FILE boundary ([[graft.ext.MediaFiles]]):
    * the mixed three-modality corpus lands as one file per payload
    * (executor-parallel writes), is read back through Spark's built-in
    * `binaryFile` source, and every payload flows through the unified
    * magic-byte dispatch to its real codec. File extensions LIE on a
    * fixed id schedule (id % 7 == 3 claims the wrong modality) — the
    * `ext_lied` bit is earned by comparing the claimed name against
    * the sniffed kind, and the oracle replays the lie schedule plus
    * all three codec chains analytically, so both a lossy file
    * round-trip and an extension-trusting reader would hash-mismatch.
    * The claimed-extension side rides a metadata-ONLY scan (payload
    * bytes pruned out — Round12Spec pins the ReadSchema). */
  private val q249 = Q("q249_binary_file_ingest",
    (s, dir) => withScratchDir(s, "q249land") { landing =>
      graft.ext.MediaFiles.writeMediaFiles(
        graft.ext.Multimodal.syntheticMixedFrame(s,
          t(s, dir, "documents"), "doc_id"), landing)
      graft.ext.MediaFiles.ingestAudit(s, landing)
    },
    Some(s"""WITH b AS ($plantedRowsSql),
      ${unifiedHashCtes("doc_id % 3")}
      SELECT doc_id AS media_id, 'image' AS kind,
        lo AS fp_lo, hi AS fp_hi, (doc_id % 7 = 3) AS ext_lied FROM ih
      UNION ALL
      SELECT doc_id, 'audio', lo, hi, (doc_id % 7 = 3) FROM ah
      UNION ALL
      SELECT doc_id, 'video', lo, hi, (doc_id % 7 = 3) FROM vh"""))

  /** Modality-pruned scan over the `kind=<sniffed>/` partitioned file
    * layout: the audio slice of the mixed corpus is selected by the
    * PARTITION column, so the image and video FILES are pruned from
    * the binaryFile scan entirely (PartitionFilters — Round12Spec
    * pins that only the audio directory's files are listed into the
    * scan); the surviving payloads run the real WAV decode and emit
    * the q235 feature surface. At archive scale this is the operator
    * that lets an audio-only pass touch 1/3 of a mixed 100-TB corpus
    * instead of sniffing-and-discarding all of it. */
  private val q250 = Q("q250_binary_pruned_audio",
    (s, dir) => withScratchDir(s, "q250land") { landing =>
      graft.ext.MediaFiles.writeMediaFilesPartitioned(
        graft.ext.Multimodal.syntheticMixedFrame(s,
          t(s, dir, "documents"), "doc_id"), landing)
      graft.ext.Audio.features(s,
        graft.ext.MediaFiles.readMediaFiles(s, landing)
          .filter(col("kind") === "audio")
          .select(col("media_id"), col("payload")))
    },
    Some(s"""WITH b AS ($plantedRowsSql),
      d AS (SELECT doc_id, ${seedSql("pid")} AS m, pert,
        400 + (pid * 11) % 257 AS n FROM b WHERE doc_id % 3 = 1),
      s AS (${audioSamplesSql("d")}),
      zc AS (SELECT doc_id, v,
          lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM s),
      feat AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
          CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
          CAST(sum(v*v) AS BIGINT) AS sum_sq FROM s GROUP BY doc_id),
      zcc AS (SELECT doc_id, CAST(count(*) FILTER (WHERE pv IS NOT NULL
          AND ((pv < 0) <> (v < 0))) AS BIGINT) AS n_zero_cross
        FROM zc GROUP BY doc_id),
      bins AS (${energyBinsSql("s")}),
      bits AS (${energyBitsSql("bins")}),
      fp AS (SELECT doc_id,
          ${bitPackSql("fp_lo", "fp_hi")}
        FROM bits GROUP BY doc_id)
      SELECT f.doc_id AS media_id, f.n_samples, f.sum_abs, f.sum_sq,
        z.n_zero_cross, p.fp_lo, p.fp_hi
      FROM feat f JOIN zcc z USING (doc_id)
        JOIN fp p ON p.doc_id = f.doc_id"""))

  /** q248's unified mixed-modality streaming dedup with the landing
    * made REAL — and MANIFEST-BACKED: the corpus arrives as one file
    * per payload (names lying about modality on the q249 schedule),
    * is listed EXACTLY ONCE into a slim parquet manifest
    * ([[graft.ext.MediaFiles.appendManifest]] — metadata-only scan,
    * four manifest part files), and manifest deltas stream as four
    * micro-batches ([[graft.ext.MediaFiles.streamManifest]]): the
    * streaming source's per-batch bookkeeping is a listing of
    * manifest part files (O(ingest waves)), payload bytes are fetched
    * on the executors — the scale fix for the measured vanilla
    * `FileStreamSource` law (getBatch re-stats every archive file on
    * the driver per batch, ~0.65 ms/file; 82 of 104 s at the 25×
    * probe). Each batch's payloads are decoded once with per-row
    * magic-byte dispatch, the three modalities' fingerprints ride one
    * store, and the union of per-batch within-kind pair logs must
    * equal the full-corpus analytic surface — the oracle is q248's
    * VERBATIM (reused by reference): files-in via manifest vs
    * parquet-in may not change a single pair, whatever batching the
    * manifest produces (Round13Spec additionally pins manifest-in ≡
    * vanilla-files-in on a shared corpus). */
  private val q251 = Q("q251_binary_stream_pairs",
    (s, dir) => withStreamDirs(s, "q251") { (store, pairs, ckpt, landing) =>
      val files = s"$landing/files"
      val manifest = s"$landing/manifest"
      graft.ext.MediaFiles.writeMediaFiles(
        graft.ext.Multimodal.syntheticMixedFrameGrouped(s,
          t(s, dir, "documents"), "doc_id"), {
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(files))
        files
      })
      graft.ext.MediaFiles.appendManifest(s, files, manifest,
        manifestFiles = 4)
      val src = graft.ext.MediaFiles.streamManifest(s, manifest, 1)
      // compaction ON (one fold over the fixture — see the q243
      // compactEvery note): the pair surface must be invariant
      // under folding — this query's hash is the proof, since q248
      // (uncompacted parquet-in) and the analytic oracle pin the
      // same bytes
      val q = graft.streaming.MediaDedupMaintenance.startUnified(
        src, store, pairs, ckpt, compactEvery = 4)
      q.awaitTermination()
      s.read.parquet(pairs)
        .select(col("doc_a"), col("doc_b"), col("hamming"), col("kind"))
    },
    q248.oracle)

  /** INCREMENTAL media ingest — the reference's watermark semantics
    * (only rows newer than the stored watermark are extracted,
    * `gluejob.py:541`'s `>=` discipline) applied at the FILE
    * boundary: the corpus lands in two arrival waves (even ids at
    * T+0h, odd ids at T+1h — mtimes stamped deterministically by the
    * writer), and the ingest reads with `modifiedAfter = T+30min`,
    * which prunes the already-ingested wave at file-LISTING time —
    * no payload byte of an old file is ever read, the file-level
    * analogue of the JDBC watermark pushdown. Every surviving
    * payload runs the unified three-codec dispatch; the oracle is
    * q242's restricted to the late wave (doc_id % 2 = 1), so both a
    * watermark off-by-one (wrong wave boundary) and any decode
    * deviation hash-mismatch. */
  private val q252 = Q("q252_binary_incremental_ingest",
    (s, dir) => withScratchDir(s, "q252land") { landing =>
      // 2026-01-01T00:00:00Z; waves one hour apart
      val base = 1767225600000L
      graft.ext.MediaFiles.writeMediaFiles(
        graft.ext.Multimodal.syntheticMixedFrame(s,
            t(s, dir, "documents"), "doc_id")
          .withColumn("mtime_ms",
            lit(base) + (col("media_id") % 2) * lit(3600000L)),
        landing)
      graft.ext.Multimodal.unifiedFingerprints(s,
        graft.ext.MediaFiles.readMediaFilesModifiedAfter(s, landing,
            "2026-01-01T00:30:00")
          .select(col("media_id"), col("payload")))
    },
    Some(s"""WITH b AS ($plantedRowsSql WHERE doc_id % 2 = 1),
      ${unifiedHashCtes("doc_id % 3")}
      SELECT doc_id AS media_id, 'image' AS kind,
        lo AS fp_lo, hi AS fp_hi FROM ih
      UNION ALL
      SELECT doc_id, 'audio', lo, hi FROM ah
      UNION ALL
      SELECT doc_id, 'video', lo, hi FROM vh"""))

  /** Scene cuts over ENTROPY-CODED inter clips — the codec ladder's
    * next rung ([[graft.ext.Video.sceneCutsInterEntropy]]): q247's
    * fixture re-muxed with the residual planes RLE + canonical-
    * Huffman coded ([[graft.ext.Entropy]] — the DEFLATE-style
    * lengths-only code table in each `00dp` GRES body), so a
    * predicted frame's pixels now exist only after a REAL entropy
    * decode (bit-unpacking a canonical Huffman stream, expanding run
    * pairs) plus reference reconstruction. The oracle is q237's
    * VERBATIM (reused by reference, as q247 did): a hash match
    * proves the entropy stage bit-lossless through the whole
    * container round-trip. What remains out of codec scope after
    * this rung is only arithmetic/CABAC coding and real H.264/VP9
    * bitstream syntax. */
  private val q253 = Q("q253_video_entropy_scene_cuts",
    (s, dir) => graft.ext.Video.sceneCutsInterEntropy(
      s, t(s, dir, "documents"), "doc_id"),
    q247.oracle)

  /** COMPOSED file-boundary prunings — q250's modality partition
    * pruning AND q252's watermark listing cut on ONE scan: the mixed
    * corpus lands in the `kind=<sniffed>/` layout in two arrival
    * waves (writer-stamped mtimes, odd ids one hour later), and an
    * incremental audio-only pass reads with `modifiedAfter =
    * T+30min` + `kind = 'audio'` — the watermark prunes
    * already-ingested files at LISTING time and the partition filter
    * prunes the other modalities' directories from what remains, so
    * the scan touches exactly the late-wave audio files (Round13Spec
    * pins both prunings on the one scan's report and file counts).
    * The surviving payloads run the real WAV decode; the oracle is
    * q250's feature surface restricted to the late wave, so a
    * watermark off-by-one, a partition-filter miss, or any decode
    * deviation hash-mismatches. */
  private val q254 = Q("q254_binary_pruned_incremental",
    (s, dir) => withScratchDir(s, "q254land") { landing =>
      val base = 1767225600000L // 2026-01-01T00:00:00Z
      graft.ext.MediaFiles.writeMediaFilesPartitioned(
        graft.ext.Multimodal.syntheticMixedFrame(s,
            t(s, dir, "documents"), "doc_id")
          .withColumn("mtime_ms",
            lit(base) + (col("media_id") % 2) * lit(3600000L)),
        landing)
      graft.ext.Audio.features(s,
        graft.ext.MediaFiles.readMediaFilesModifiedAfter(s, landing,
            "2026-01-01T00:30:00")
          .filter(col("kind") === "audio")
          .select(col("media_id"), col("payload")))
    },
    q250.oracle.map { sql =>
      val patched =
        sql.replace("FROM documents)", "FROM documents WHERE doc_id % 2 = 1)")
      // String.replace succeeds vacuously on zero matches — a reworded
      // q250 oracle would otherwise leave q254 silently unfiltered
      require(patched != sql,
        "q254 oracle surgery no-opped — q250's oracle text changed")
      patched
    })

  /** WITHIN-CONTAINER cross-modal audit
    * ([[graft.ext.Video.avConsistency]]): the corpus' clips are real
    * TWO-STREAM AVIs — PNG video chunks and an interleaved 16-bit
    * PCM audio track in `01wb` chunks ([[graft.ext.Video.muxAviAv]])
    * — and ONE demux pass per payload extracts both modalities'
    * surfaces: frame count + scene-cut count through the video
    * walk's decode-dHash-Hamming chain, and the full q235 audio
    * feature set (sample count, energy, zero crossings, 64-bit
    * energy-gradient fingerprint) from the reassembled PCM. The
    * pairing is earned from the FILE, not joined from sibling
    * tables — the audit a corpus needs before training on A/V
    * pairs. The oracle replays BOTH tracks' analytic formulas (the
    * q237 pixel chain and the q235 sample chain) joined per doc, so
    * a track mix-up, an interleave bug, or either codec deviating
    * hash-mismatches. */
  private val q255 = Q("q255_av_container_audit",
    (s, dir) => graft.ext.Video.avConsistency(
      s, t(s, dir, "documents"), "doc_id"),
    Some(s"""WITH b AS ($plantedRowsSql),
      fr AS (SELECT doc_id, f,
          (pid * 8 + CASE WHEN f >= 2 + pid % 3 THEN 1 ELSE 0 END)
            * 2654435761 % 2147483647 AS m
        FROM b, range(9) r(f) WHERE f < 4 + pid % 5),
      cell AS (${frameCellsSql("(cx*4+dx)")}),
      vbits AS ($frameBitsSql),
      h AS (SELECT doc_id, f,
          ${bitPackSql("lo", "hi")}
        FROM vbits GROUP BY doc_id, f),
      vc AS (SELECT a.doc_id,
          CAST(count(*) FILTER (WHERE
            ${hammingSql("a", "p")} > 0)
            AS BIGINT) AS n_cuts
        FROM h a JOIN h p ON p.doc_id = a.doc_id AND p.f = a.f - 1
        GROUP BY a.doc_id),
      ad AS (SELECT doc_id, ${seedSql("pid")} AS m, pert,
        400 + (pid * 11) % 257 AS n FROM b),
      sa AS (${audioSamplesSql("ad")}),
      zc0 AS (SELECT doc_id, v,
          lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM sa),
      feat AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
          CAST(sum(abs(v)) AS BIGINT) AS sum_abs FROM sa GROUP BY doc_id),
      zcc AS (SELECT doc_id, CAST(count(*) FILTER (WHERE pv IS NOT NULL
          AND ((pv < 0) <> (v < 0))) AS BIGINT) AS n_zero_cross
        FROM zc0 GROUP BY doc_id),
      abins AS (${energyBinsSql("sa")}),
      abits AS (${energyBitsSql("abins")}),
      afp AS (SELECT doc_id,
          ${bitPackSql("fp_lo", "fp_hi")}
        FROM abits GROUP BY doc_id)
      SELECT b.doc_id AS media_id,
        CAST(4 + b.pid % 5 AS INT) AS n_frames, vc.n_cuts,
        f.n_samples, f.sum_abs, z.n_zero_cross, p.fp_lo, p.fp_hi
      FROM b JOIN vc ON vc.doc_id = b.doc_id
        JOIN feat f ON f.doc_id = b.doc_id
        JOIN zcc z ON z.doc_id = b.doc_id
        JOIN afp p ON p.doc_id = b.doc_id"""))

  /** INCREMENTAL manifest ingest across arrival WAVES — the
    * reference's watermark discipline composed with the
    * manifest-backed stream (q251): the corpus lands in two waves an
    * hour apart (writer-stamped mtimes), each wave is manifested by
    * its own [[graft.ext.MediaFiles.appendManifest]] call — the
    * second passing `modifiedAfter = T+30min`, so wave-1 files are
    * pruned from its listing and each file is manifested EXACTLY
    * ONCE (Round13Spec pins the wave-2 append's row count and mtime
    * floor; a missing watermark would double-manifest wave 1) — and
    * the manifest stream processes both waves' deltas with
    * compaction on. The oracle is q248's restricted to the fixture's
    * half corpus: the two-wave arrival must produce the SAME pair
    * surface as any other arrival shape. */
  private val q256 = Q("q256_manifest_incremental_waves",
    (s, dir) => withStreamDirs(s, "q256") { (store, pairs, ckpt, landing) =>
      val files = s"$landing/files"
      val manifest = s"$landing/manifest"
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(files))
      val base = 1767225600000L // 2026-01-01T00:00:00Z
      val media = graft.ext.Multimodal.syntheticMixedFrameGrouped(s,
          t(s, dir, "documents").filter(col("doc_id") < 250),
          "doc_id")
        .withColumn("mtime_ms",
          lit(base) + (col("media_id") % 2) * lit(3600000L))
      graft.ext.MediaFiles.writeMediaFiles(
        media.filter(col("media_id") % 2 === 0), files)
      graft.ext.MediaFiles.appendManifest(s, files, manifest,
        manifestFiles = 2)
      // LIVE trigger, started between the waves (r19 verdict #5): the
      // stream chews wave 1's manifest batches WHILE wave 2's files
      // are still being written and manifested, instead of the whole
      // arrival being replayed after the fact — the maintenance jobs
      // and the ingest-side work overlap (guide §2.6), and this is
      // the truer shape of an incremental ingest anyway (waves arrive
      // against a RUNNING maintenance stream). The pair surface is
      // arrival-shape-invariant by the oracle's own pin, so batching
      // timing cannot move the result; the wave-2 manifest append
      // completes before processAllAvailable, so the drain covers
      // both waves exactly as awaitTermination covered them.
      val q = graft.streaming.MediaDedupMaintenance.startUnified(
        graft.ext.MediaFiles.streamManifest(s, manifest, 1),
        store, pairs, ckpt, compactEvery = 4,
        trigger = org.apache.spark.sql.streaming.Trigger
          .ProcessingTime(0L))
      try {
        graft.ext.MediaFiles.writeMediaFiles(
          media.filter(col("media_id") % 2 === 1), files)
        graft.ext.MediaFiles.appendManifest(s, files, manifest,
          watermarkIso = Some("2026-01-01T00:30:00"), manifestFiles = 2)
        q.processAllAvailable()
      } finally q.stop()
      s.read.parquet(pairs)
        .select(col("doc_a"), col("doc_b"), col("hamming"), col("kind"))
    },
    q248.oracle.map { sql =>
      val patched =
        sql.replace("FROM documents)", "FROM documents WHERE doc_id < 250)")
      require(patched != sql,
        "q256 oracle surgery no-opped — q248's oracle text changed")
      patched
    })

  /** Scene cuts over the MOTION-COMPENSATED inter corpus — the codec
    * ladder's prediction rung completed
    * ([[graft.ext.Video.sceneCutsInterMc]]): q253's fixture re-muxed
    * with per-block block-matching translation before the entropy
    * stage ([[graft.ext.Motion]] — MPEG-1-era full-search SAD, the
    * `00dp` GMCP body carrying the vector table plus the entropy-
    * coded MC residual), so a predicted frame's pixels now exist
    * only after vector parse + entropy decode + per-block shifted-
    * reference reconstruction. The oracle is q237's VERBATIM (as
    * q247/q253 before it): a hash match proves the whole MC chain
    * bit-lossless. The compression VALUE of the vectors (smaller
    * containers under motion) is pinned by the panning fixture in
    * Round15Spec — this corpus is static-scene, where vectors
    * degenerate to (0,0) and the proof is losslessness. */
  private val q257 = Q("q257_video_mc_scene_cuts",
    (s, dir) => graft.ext.Video.sceneCutsInterMc(
      s, t(s, dir, "documents"), "doc_id"),
    q247.oracle)

  /** WITHIN-CONTAINER A/V SYNC audit ([[graft.ext.Video.avSyncAudit]])
    * — does the audio a container carries actually span the video it
    * is interleaved with? Both clocks are parsed from the container's
    * OWN headers (`avih` µs/frame, `auds` `strh` rate/scale — never
    * assumed), per-frame audio spans from the real `01wb` chunk walk,
    * and two integer drift signals emerge: `sync_deficit` (samples
    * short of the video's nominal duration — the mux-from-truncated-
    * source defect) and `max_spread_skew` (how unevenly the
    * interleave spreads the audio across frame positions, scaled by
    * n_frames to stay integral). The oracle replays both from the
    * interleave formula (chunk i carries samples [i·per,
    * min((i+1)·per, len)), per = ceil(len/n_frames); nominal
    * samples/frame = 8000 Hz / 10 fps = 800) — a header mis-parse,
    * chunk-walk drift, or off-by-one in the cumulative positions
    * hash-mismatches. Round15Spec pins the designed EXACT-SPAN
    * fixture (deficit 0) against a short-audio one. */
  private val q258 = Q("q258_av_sync_audit",
    (s, dir) => graft.ext.Video.avSyncAudit(
      s, t(s, dir, "documents"), "doc_id"),
    Some(s"""WITH b AS (SELECT doc_id,
        (${plantedIdSql("doc_id")}) AS pid
        FROM documents),
      t AS (SELECT doc_id, CAST(4 + pid % 5 AS INT) AS nf,
          CAST(400 + (pid * 11) % 257 AS BIGINT) AS len FROM b),
      u AS (SELECT doc_id, nf, len,
          CAST((len + nf - 1) // nf AS INT) AS per FROM t)
      SELECT doc_id AS media_id, nf AS n_frames, len AS n_samples,
        CAST((len + per - 1) // per AS INT) AS n_audio_chunks,
        per AS per_chunk,
        list_max([ABS(LEAST((i + 1) * per, len) * nf - (i + 1) * len)
          FOR i IN range(0, nf)]) AS max_spread_skew,
        nf * 800 - len AS sync_deficit
      FROM u"""))

  /** Scene cuts over the RANGE-CODED motion-compensated corpus — the
    * coding-theory ladder completed
    * ([[graft.ext.Video.sceneCutsInterMcRange]]): q257's fixture
    * re-muxed with the MC residuals coded by an ADAPTIVE RANGE CODER
    * ([[graft.ext.RangeCoder]] — Witten-Neal-Cleary 1987 arithmetic
    * coding in Subbotin's carryless byte-oriented form, order-0
    * adaptive model, NO shipped code table), so a predicted frame's
    * pixels now exist only after a real adaptive arithmetic decode +
    * vector reconstruction. The oracle is q237's VERBATIM (as
    * q247/q253/q257): one hash pins fractional-bit entropy coding
    * bit-lossless end to end. After this rung only real H.264/VP9
    * bitstream SYNTAX remains out of scope — the entropy ladder
    * (RLE → Huffman → arithmetic) is complete. */
  private val q259 = Q("q259_video_range_scene_cuts",
    (s, dir) => graft.ext.Video.sceneCutsInterMcRange(
      s, t(s, dir, "documents"), "doc_id"),
    q247.oracle)

  /** Consecutive-frame Hamming over a PANNING corpus muxed through
    * the full MC + range-coded ladder
    * ([[graft.ext.Video.panCutsInterMcRange]]) — the motion case the
    * static fixtures' (0,0) fast path never pushes through the
    * oracle gate: every interior block rides a NON-ZERO vector
    * (exactly (2, 0) — the pan step), edge blocks carry the
    * uncovered strip in their residual, and the hash proves the
    * reconstruction bit-exact under real motion. Doubles as the
    * honest record of the dHash cut detector's failure mode on
    * global motion (a pan is not a cut, but the gradient hashes
    * drift and `is_cut` fires — why real pipelines consult the MC
    * layer's motion evidence). The oracle replays every shifted
    * pixel analytically: frame f's pixel (x, y) is the designed
    * pattern at (x + 2f, y), single scene (frame 0's pattern id). */
  private val q260 = Q("q260_video_pan_mc_cuts",
    (s, dir) => graft.ext.Video.panCutsInterMcRange(
      s, t(s, dir, "documents"), "doc_id"),
    Some(s"""WITH b AS (SELECT doc_id,
        ${plantedIdSql("doc_id")} AS pid
        FROM documents),
      fr AS (SELECT doc_id, f,
          (pid * 8) * 2654435761 % 2147483647 AS m
        FROM b, range(9) r(f) WHERE f < 4 + pid % 5),
      cell AS (${frameCellsSql("(cx*4+dx + f*2)")}),
      bits AS ($frameBitsSql),
      h AS (SELECT doc_id, f,
          ${bitPackSql("lo", "hi")}
        FROM bits GROUP BY doc_id, f)
      SELECT a.doc_id AS media_id, CAST(a.f AS INT) AS frame_idx,
        CAST(${hammingSql("a", "p")}
          AS INT) AS hamming,
        (${hammingSql("a", "p")} > 0)
          AS is_cut
      FROM h a JOIN h p ON p.doc_id = a.doc_id AND p.f = a.f - 1"""))

  /** A/V sync audit over the VARIABLE-CLOCK corpus
    * ([[graft.ext.Video.avSyncAuditVarClock]]) — q258 widened past
    * integral clocks: the fixture cycles three designed clock classes
    * (NTSC-class 33367 µs frames against 44100/1, a scale>1 rational
    * 88200/2, ~23.976 fps against 48000/1 — non-integral
    * samples/frame everywhere) and five designed deficits (exact
    * span, drop-frame-class truncations, a surplus), so the audit's
    * whole-clip rational nominal ⌊rate·us·nF/(scale·10⁶)⌋ is earned
    * where a per-frame floor (or a pre-divided rate/scale) visibly
    * misreads: at 1471.48 samples/frame a per-frame truncation
    * misstates a perfectly-spanned clip by ~0.48·nF samples. The
    * oracle replays clock selection, the exact rational nominal, the
    * designed deficit, and the interleave skew analytically from
    * doc_id; the container's own headers carry the clocks Spark reads
    * back. */
  private val q261 = Q("q261_av_sync_varclock",
    (s, dir) => graft.ext.Video.avSyncAuditVarClock(
      s, t(s, dir, "documents"), "doc_id"),
    Some(s"""WITH b AS (SELECT doc_id,
        (${plantedIdSql("doc_id")}) AS pid
        FROM documents),
      c AS (SELECT doc_id, CAST(4 + pid % 5 AS INT) AS nf,
          CASE WHEN pid % 3 = 0 THEN 33367
               WHEN pid % 3 = 1 THEN 100000 ELSE 41708 END AS us,
          CASE WHEN pid % 3 = 0 THEN 44100
               WHEN pid % 3 = 1 THEN 88200 ELSE 48000 END AS rate,
          CASE WHEN pid % 3 = 1 THEN 2 ELSE 1 END AS scale,
          CASE pid % 5 WHEN 0 THEN 0 WHEN 1 THEN 97 WHEN 2 THEN 211
               WHEN 3 THEN -64 ELSE 1009 END AS d
        FROM b),
      t AS (SELECT doc_id, nf, d,
          (CAST(rate AS BIGINT) * us * nf) // (scale * 1000000)
            AS nominal FROM c),
      u AS (SELECT doc_id, nf, d, nominal - d AS len,
          CAST((nominal - d + nf - 1) // nf AS INT) AS per FROM t)
      SELECT doc_id AS media_id, nf AS n_frames, len AS n_samples,
        CAST((len + per - 1) // per AS INT) AS n_audio_chunks,
        per AS per_chunk,
        list_max([ABS(LEAST((i + 1) * per, len) * nf - (i + 1) * len)
          FOR i IN range(0, nf)]) AS max_spread_skew,
        CAST(d AS BIGINT) AS sync_deficit
      FROM u"""))

  /** K1's merge semantics on a SNAPSHOT-VERSIONED table
    * ([[graft.ops.SnapshotTable]] — manifest-named immutable versions,
    * the public Delta/Iceberg design rebuilt on the engine's commit
    * discipline; no table-format jars ship in this environment): two
    * batches MERGE-INTO a table dir (old corpus as batch 1, the
    * watermark delta as batch 2, the q07 slices), then BOTH versions
    * are read back time-travel style and unioned under a `ver`
    * column. Version 2's content is exactly the K1 new-wins upsert
    * (the q07 oracle, replayed under ver=2) — content equality of the
    * snapshot path with the dynamic-overwrite path, pinned in the
    * hash gate; version 1 proves the superseded version stays
    * readable AFTER later merges (the overwrite path destroys it).
    * Copy-on-write is partition-scoped (year/month), so the write
    * cost keeps K1's O(delta + touched partitions) bound; isolation/
    * replay/retention are spec-pinned (Round16Spec). */
  private val q262 = Q("q262_snapshot_merge_tt",
    (s, dir) => {
      val tbl = graft.Scratch.createTempDir("q262tbl").toString + "/t"
      val o = t(s, dir, "orders")
      def prep(df: org.apache.spark.sql.DataFrame, src: String) =
        df.select(col("o_orderkey"), lit(src).as("src"),
          col("o_orderstatus"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          year(col("o_orderdate")).as("year"),
          month(col("o_orderdate")).as("month"))
      graft.ops.SnapshotTable.merge(s, tbl,
        prep(o.filter(col("o_orderdate") <
          to_timestamp(lit("2000-01-01"))), "old"),
        "o_orderkey", "order_date", Seq("year", "month"), Some(1L))
      graft.ops.SnapshotTable.merge(s, tbl,
        prep(o.filter(col("o_orderdate") >=
          to_timestamp(lit("1999-01-01"))), "new"),
        "o_orderkey", "order_date", Seq("year", "month"), Some(2L))
      Seq(1L, 2L).map(v =>
          graft.ops.SnapshotTable.read(s, tbl, Some(v))
            .select(lit(v).as("ver"), col("o_orderkey"), col("src"),
              col("o_orderstatus"), col("order_date")))
        .reduce(_.unionByName(_))
    },
    Some("""SELECT CAST(1 AS BIGINT) AS ver, o_orderkey, 'old' AS src,
        o_orderstatus, strftime(o_orderdate, '%Y-%m-%d') AS order_date
      FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
      UNION ALL
      SELECT CAST(2 AS BIGINT) AS ver, o_orderkey, src, o_orderstatus,
        order_date FROM (
        SELECT u.*, row_number() OVER (PARTITION BY o_orderkey
          ORDER BY src ASC) rn
        FROM (
          SELECT o_orderkey, 'new' AS src, o_orderstatus,
            strftime(o_orderdate, '%Y-%m-%d') AS order_date
          FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
          UNION ALL
          SELECT o_orderkey, 'old' AS src, o_orderstatus,
            strftime(o_orderdate, '%Y-%m-%d') AS order_date
          FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01') u) z
        WHERE rn = 1"""))

  /** STREAMED MERGE-INTO the snapshot table — q262's semantics earned
    * through Structured Streaming's replay contract: two arrival waves
    * land as parquet files, each wave drains under
    * `Trigger.AvailableNow` (a stream restart on one checkpoint — the
    * reference's daily-cron shape), and every micro-batch MERGEs via
    * `foreachBatch` with the STREAM's batchId as the idempotence key
    * (the Delta txn-version-per-sink pattern: a crash between the
    * table commit and the checkpoint commit replays the batch, and
    * the manifest's batch id makes the replay a no-op instead of a
    * double-merge). Output = the final table content; the oracle is
    * q07's new-wins merge VERBATIM — streamed-in ≡ batch-in ≡ the K1
    * upsert, one hash. Batching-shape independence is by
    * construction: keys are unique within each wave, so any
    * micro-batch split of a wave merges to the same table. */
  private val q263 = Q("q263_snapshot_stream_merge",
    (s, dir) => {
      val land = graft.Scratch.createTempDir("q263land").toString
      val tbl = graft.Scratch.createTempDir("q263tbl").toString + "/t"
      val ckpt = graft.Scratch.createTempDir("q263ckpt").toString
      val o = t(s, dir, "orders")
      def prep(df: org.apache.spark.sql.DataFrame, src: String) =
        df.select(col("o_orderkey"), lit(src).as("src"),
          col("o_orderstatus"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          year(col("o_orderdate")).as("year"),
          month(col("o_orderdate")).as("month"))
      val schema = prep(o.limit(0), "x").schema
      def drainWave(wave: org.apache.spark.sql.DataFrame): Unit = {
        wave.repartition(1).write.mode("append").parquet(land)
        val q = s.readStream.schema(schema).parquet(land)
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch {
            (batch: org.apache.spark.sql.DataFrame, id: Long) =>
              if (!batch.isEmpty) {
                graft.ops.SnapshotTable.merge(s, tbl, batch,
                  "o_orderkey", "order_date", Seq("year", "month"),
                  Some(id))
                ()
              }
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drainWave(prep(o.filter(col("o_orderdate") <
        to_timestamp(lit("2000-01-01"))), "old"))
      drainWave(prep(o.filter(col("o_orderdate") >=
        to_timestamp(lit("1999-01-01"))), "new"))
      graft.ops.SnapshotTable.read(s, tbl)
        .select(col("o_orderkey"), col("src"), col("o_orderstatus"),
          col("order_date"))
    },
    q07.oracle)

  /** OPTIMIZE on the snapshot table — q262's two merges followed by
    * [[graft.ops.SnapshotTable.optimize]] (Delta's OPTIMIZE shape:
    * the head's content rewritten into fresh compacted partition
    * dirs, committed as a NEW content-identical version; the merge
    * batch id carries forward so replay stays a no-op). Output = the
    * head read AFTER the rewrite; the oracle is q07's new-wins merge
    * verbatim — the hash gate pins optimize as content-preserving
    * end to end (a lost or duplicated row anywhere in the rewrite
    * breaks the hash). File-count collapse, held-snapshot isolation
    * through the rewrite, and post-optimize replay idempotence are
    * spec-pinned (Round16Spec). */
  private val q264 = Q("q264_snapshot_optimize",
    (s, dir) => {
      val tbl = graft.Scratch.createTempDir("q264tbl").toString + "/t"
      val o = t(s, dir, "orders")
      def prep(df: org.apache.spark.sql.DataFrame, src: String) =
        df.select(col("o_orderkey"), lit(src).as("src"),
          col("o_orderstatus"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          year(col("o_orderdate")).as("year"),
          month(col("o_orderdate")).as("month"))
      graft.ops.SnapshotTable.merge(s, tbl,
        prep(o.filter(col("o_orderdate") <
          to_timestamp(lit("2000-01-01"))), "old"),
        "o_orderkey", "order_date", Seq("year", "month"), Some(1L))
      graft.ops.SnapshotTable.merge(s, tbl,
        prep(o.filter(col("o_orderdate") >=
          to_timestamp(lit("1999-01-01"))), "new"),
        "o_orderkey", "order_date", Seq("year", "month"), Some(2L))
      graft.ops.SnapshotTable.optimize(s, tbl, Seq("year", "month"))
      graft.ops.SnapshotTable.read(s, tbl)
        .select(col("o_orderkey"), col("src"), col("o_orderstatus"),
          col("order_date"))
    },
    q07.oracle)

  /** ADDITIVE SCHEMA EVOLUTION on the snapshot table — batch 2 MERGEs
    * with a column batch 1 never had (`flag_even`), the manifest
    * schema widens (the Delta mergeSchema discipline: adds join the
    * recorded schema; drops and type changes refuse loudly —
    * spec-pinned), and the schema-pinned read surfaces the new column
    * as NULL on every row whose winner predates it — no footer-merge
    * scan, the manifest knows the schema. The oracle replays exactly
    * that null rule over q07's merge: `flag_even` is non-null iff the
    * row's winner came from batch 2. */
  private val q265 = Q("q265_snapshot_schema_evolution",
    (s, dir) => {
      val tbl = graft.Scratch.createTempDir("q265tbl").toString + "/t"
      val o = t(s, dir, "orders")
      def prep(df: org.apache.spark.sql.DataFrame, src: String) =
        df.select(col("o_orderkey"), lit(src).as("src"),
          col("o_orderstatus"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          year(col("o_orderdate")).as("year"),
          month(col("o_orderdate")).as("month"))
      graft.ops.SnapshotTable.merge(s, tbl,
        prep(o.filter(col("o_orderdate") <
          to_timestamp(lit("2000-01-01"))), "old"),
        "o_orderkey", "order_date", Seq("year", "month"), Some(1L))
      graft.ops.SnapshotTable.merge(s, tbl,
        prep(o.filter(col("o_orderdate") >=
          to_timestamp(lit("1999-01-01"))), "new")
          .withColumn("flag_even", expr("o_orderkey % 2 = 0")),
        "o_orderkey", "order_date", Seq("year", "month"), Some(2L))
      graft.ops.SnapshotTable.read(s, tbl)
        .select(col("o_orderkey"), col("src"), col("o_orderstatus"),
          col("order_date"), col("flag_even"))
    },
    Some("""SELECT o_orderkey, src, o_orderstatus, order_date,
        CASE WHEN src = 'new' THEN (o_orderkey % 2 = 0) END AS flag_even
      FROM (
        SELECT u.*, row_number() OVER (PARTITION BY o_orderkey
          ORDER BY src ASC) rn
        FROM (
          SELECT o_orderkey, 'new' AS src, o_orderstatus,
            strftime(o_orderdate, '%Y-%m-%d') AS order_date
          FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
          UNION ALL
          SELECT o_orderkey, 'old' AS src, o_orderstatus,
            strftime(o_orderdate, '%Y-%m-%d') AS order_date
          FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01') u) z
      WHERE rn = 1"""))

  /** TOMBSTONE-AWARE MERGE on the snapshot table
    * ([[graft.ops.SnapshotTable.mergeCdc]]) — the CDC rung a
    * versioned table exists for (GDPR erasure, a CDC feed with
    * `op='D'`): batch 1 seeds the table with every order's
    * linenumber-1 row (plain MERGE, q07's new-wins dedup); batch 2
    * applies the rest of lineitem as a change feed where
    * linenumber 7 marks a delete (q74's feed derivation verbatim,
    * gluejob.py:197-198's delete-less dedup extended with the delete
    * rule). Per key the feed collapses to its latest row by
    * (linenumber, quantity) descending — the totally-ordered-seq
    * contract [[graft.ops.Cdc.applyLatest]] pins; a key whose latest
    * op is 'D' leaves the table, any other feed key replaces its
    * stored row, and keys the feed never mentions carry their batch-1
    * row. Same touched-partition copy-on-write cost bound as MERGE
    * (partitions keyed `l_orderkey % 4` — functionally dependent on
    * the key, the documented contract). The oracle replays the
    * latest-wins + delete rule analytically over the same slices;
    * delete-then-reinsert across versions and replay idempotence are
    * spec-pinned (Round17Spec). */
  private val q266 = Q("q266_snapshot_merge_cdc",
    (s, dir) => {
      val tbl = graft.Scratch.createTempDir("q266tbl").toString + "/t"
      val li = t(s, dir, "lineitem")
      def qty = col("l_quantity").cast(dec2).cast("string").as("quantity")
      val base = li.filter(col("l_linenumber") === 1).select(
        col("l_orderkey"), col("l_linenumber"), qty,
        (col("l_orderkey") % 4).as("part"))
      graft.ops.SnapshotTable.merge(s, tbl, base,
        "l_orderkey", "quantity", Seq("part"), Some(1L))
      val feed = li.filter(col("l_linenumber") >= 2).select(
        col("l_orderkey"), col("l_linenumber"), qty,
        (col("l_orderkey") % 4).as("part"),
        when(col("l_linenumber") === 7, "D").otherwise("U").as("op"))
      graft.ops.SnapshotTable.mergeCdc(s, tbl, feed, "l_orderkey",
        Seq("l_linenumber", "quantity"), "op", Seq("part"), Some(2L))
      graft.ops.SnapshotTable.read(s, tbl)
        .select(col("l_orderkey"), col("l_linenumber"), col("quantity"),
          col("part"))
    },
    Some(s"""WITH base AS (
        $snapshotBaseSql),
      fw AS (
        $snapshotFeedSql)
      SELECT l_orderkey, l_linenumber, quantity, part
      FROM fw WHERE op <> 'D'
      UNION ALL
      SELECT b.l_orderkey, b.l_linenumber, b.quantity, b.part FROM base b
      WHERE NOT EXISTS (SELECT 1 FROM fw
        WHERE fw.l_orderkey = b.l_orderkey)"""))

  /** DATA SKIPPING through the snapshot manifest's per-entry key
    * stats ([[graft.ops.SnapshotTable.readRange]]) — the Iceberg
    * manifest-stats shape: every MERGE records min/max of the merge
    * key per committed partition dir, and a range read prunes the
    * entries whose bounds are provably disjoint from the predicate
    * BEFORE any file is listed or opened, then applies the exact
    * predicate as a residual scan filter. The table buckets orders by
    * `o_orderkey div 4096` (key-correlated partitioning, the layout
    * that makes skipping bite); the [1000, 3000] range resolves to
    * ONE surviving entry of the many committed — the scanned-dir
    * count is spec-pinned (Round17Spec); this oracle pins that
    * pruning never changes RESULTS. */
  private val q267 = Q("q267_snapshot_data_skipping",
    (s, dir) => {
      val tbl = graft.Scratch.createTempDir("q267tbl").toString + "/t"
      val o = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast(dec2).cast("string").as("total"),
        expr("o_orderkey div 4096").as("bucket"))
      graft.ops.SnapshotTable.merge(s, tbl, o,
        "o_orderkey", "total", Seq("bucket"), Some(1L))
      graft.ops.SnapshotTable.readRange(s, tbl, "o_orderkey",
        Some(1000L), Some(3000L))
        .select(col("o_orderkey"), col("o_orderstatus"), col("total"),
          col("bucket"))
    },
    Some("""SELECT o_orderkey, o_orderstatus,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total,
        o_orderkey // 4096 AS bucket
      FROM orders WHERE o_orderkey BETWEEN 1000 AND 3000"""))

  /** OPTIMISTIC CONCURRENT MERGE on the snapshot table
    * ([[graft.ops.SnapshotTable.merge]] — Delta's public
    * optimistic-concurrency shape rebuilt on the manifest protocol):
    * FOUR driver threads race key-disjoint order slices into ONE
    * table whose partitions (year/month) all four share, so every
    * losing attempt must rebase — re-resolve the advanced head,
    * re-read the touched partitions including the racers' committed
    * rows, recompute, commit the next version. Commit ORDER is
    * nondeterministic; the FINAL content is not (slices are
    * key-disjoint, merge is deterministic given head+delta), which is
    * what lets the concurrent path live in the hash gate at all. The
    * emitted `ver_count` pins the protocol's version discipline:
    * exactly one dense version per racer, retries never burn version
    * numbers. Losing attempts' staged dirs are unreferenced by
    * construction (every attempt stages under its own dir token) —
    * reclaim is [[graft.ops.SnapshotTable.vacuum]]'s job,
    * spec-pinned. */
  private val q268 = Q("q268_snapshot_concurrent_merge",
    (s, dir) => {
      val tbl = graft.Scratch.createTempDir("q268tbl").toString + "/t"
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderstatus"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        year(col("o_orderdate")).as("year"),
        month(col("o_orderdate")).as("month"))
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutor(pool)
      try Await.result(Future.sequence((0 until 4).map { i =>
        Future {
          graft.ops.SnapshotTable.merge(s, tbl,
            o.filter(col("o_orderkey") % 4 === i),
            "o_orderkey", "order_date", Seq("year", "month"),
            Some(10L + i))
        }
      }), Duration.Inf)
      finally pool.shutdown()
      val nVers = graft.ops.SnapshotTable.versions(s, tbl).size
      graft.ops.SnapshotTable.read(s, tbl)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("order_date"), lit(nVers).as("ver_count"))
    },
    Some("""SELECT o_orderkey, o_orderstatus,
        strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        CAST(4 AS INT) AS ver_count
      FROM orders"""))

  /** CHANGE DATA FEED from the snapshot table
    * ([[graft.ops.SnapshotTable.changesBetween]] — Delta's
    * `table_changes` surface derived from the manifests themselves):
    * q266's exact table (base merge, then the tombstone-bearing CDC
    * feed), diffed between version 1 and version 2. Every change
    * class appears by construction: inserts (feed keys absent from
    * the base), deletes (base keys whose latest feed op is 'D'),
    * update pre/postimages (base keys the feed replaces — the base
    * row always carries linenumber 1 and the feed's winner >= 2, so
    * every replacement is a REAL difference), and — the rows that
    * must NOT appear — base keys the feed never mentions, whether
    * their partition was rewritten (read both sides, compared equal,
    * suppressed) or carried by reference (skipped without a read: a
    * shared entry names the same immutable dir on both sides, the
    * O(changed partitions) CDF bound, spec-pinned via cdfEntries).
    * The oracle replays all four classes analytically from the same
    * slices. */
  private val q269 = Q("q269_snapshot_cdf",
    (s, dir) => {
      val tbl = graft.Scratch.createTempDir("q269tbl").toString + "/t"
      val li = t(s, dir, "lineitem")
      def qty = col("l_quantity").cast(dec2).cast("string").as("quantity")
      val base = li.filter(col("l_linenumber") === 1).select(
        col("l_orderkey"), col("l_linenumber"), qty,
        (col("l_orderkey") % 4).as("part"))
      graft.ops.SnapshotTable.merge(s, tbl, base,
        "l_orderkey", "quantity", Seq("part"), Some(1L))
      val feed = li.filter(col("l_linenumber") >= 2).select(
        col("l_orderkey"), col("l_linenumber"), qty,
        (col("l_orderkey") % 4).as("part"),
        when(col("l_linenumber") === 7, "D").otherwise("U").as("op"))
      graft.ops.SnapshotTable.mergeCdc(s, tbl, feed, "l_orderkey",
        Seq("l_linenumber", "quantity"), "op", Seq("part"), Some(2L))
      graft.ops.SnapshotTable.changesBetween(s, tbl, "l_orderkey", 1L, 2L)
    },
    Some(s"""WITH base AS (
        $snapshotBaseSql),
      fw AS (
        $snapshotFeedSql)
      SELECT f.l_orderkey, f.l_linenumber, f.quantity, f.part,
        'insert' AS _change_type
      FROM fw f WHERE f.op <> 'D' AND NOT EXISTS
        (SELECT 1 FROM base b WHERE b.l_orderkey = f.l_orderkey)
      UNION ALL
      SELECT b.l_orderkey, b.l_linenumber, b.quantity, b.part,
        'delete' AS _change_type
      FROM base b JOIN fw f ON f.l_orderkey = b.l_orderkey
        AND f.op = 'D'
      UNION ALL
      SELECT b.l_orderkey, b.l_linenumber, b.quantity, b.part,
        'update_preimage' AS _change_type
      FROM base b JOIN fw f ON f.l_orderkey = b.l_orderkey
        AND f.op <> 'D'
      UNION ALL
      SELECT f.l_orderkey, f.l_linenumber, f.quantity, f.part,
        'update_postimage' AS _change_type
      FROM fw f JOIN base b ON b.l_orderkey = f.l_orderkey
        AND f.op <> 'D'"""))

  /** OPTIMIZE ZORDER on the snapshot table — Delta's clustering
    * rewrite: q262's two merges, then
    * [[graft.ops.SnapshotTable.optimize]] with a 2-D Morton cluster
    * key over (o_orderkey, o_custkey) (the q124 [[graft.functions
    * .ZOrder64]] codegen expression, pmod-normalized): the head's
    * content is range-partitioned and sorted by the interleaved key
    * within each storage partition, so parquet footer min/max stay
    * tight on BOTH columns and a predicate on either skips files and
    * row groups — a plain sort only ever skips on its leading column.
    * The rewrite must be CONTENT-IDENTICAL: the oracle is the same
    * new-wins merge replay, hash-gated — a row lost, duplicated, or
    * altered anywhere in the clustered rewrite breaks the hash.
    * Disjoint per-file key ranges and the refusal surface are
    * spec-pinned (Round17Spec). */
  private val q270 = Q("q270_snapshot_optimize_zorder",
    (s, dir) => {
      val tbl = graft.Scratch.createTempDir("q270tbl").toString + "/t"
      val o = t(s, dir, "orders")
      def prep(df: org.apache.spark.sql.DataFrame, src: String) =
        df.select(col("o_orderkey"), lit(src).as("src"),
          col("o_orderstatus"), col("o_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          year(col("o_orderdate")).as("year"),
          month(col("o_orderdate")).as("month"))
      graft.ops.SnapshotTable.merge(s, tbl,
        prep(o.filter(col("o_orderdate") <
          to_timestamp(lit("2000-01-01"))), "old"),
        "o_orderkey", "order_date", Seq("year", "month"), Some(1L))
      graft.ops.SnapshotTable.merge(s, tbl,
        prep(o.filter(col("o_orderdate") >=
          to_timestamp(lit("1999-01-01"))), "new"),
        "o_orderkey", "order_date", Seq("year", "month"), Some(2L))
      graft.ops.SnapshotTable.optimize(s, tbl, Seq("year", "month"),
        zorderBy = Seq("o_orderkey", "o_custkey"))
      graft.ops.SnapshotTable.read(s, tbl)
        .select(col("o_orderkey"), col("src"), col("o_orderstatus"),
          col("o_custkey"), col("order_date"))
    },
    Some("""SELECT o_orderkey, src, o_orderstatus, o_custkey, order_date
      FROM (
        SELECT u.*, row_number() OVER (PARTITION BY o_orderkey
          ORDER BY src ASC) rn
        FROM (
          SELECT o_orderkey, 'new' AS src, o_orderstatus, o_custkey,
            strftime(o_orderdate, '%Y-%m-%d') AS order_date
          FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
          UNION ALL
          SELECT o_orderkey, 'old' AS src, o_orderstatus, o_custkey,
            strftime(o_orderdate, '%Y-%m-%d') AS order_date
          FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01') u) z
      WHERE rn = 1"""))

  /** PARTITION EVOLUTION on the snapshot table
    * ([[graft.ops.SnapshotTable.repartitionTable]] — the layout
    * migration a long-lived table eventually needs): q262's two
    * merges land under (year, month), then the table is rewritten
    * under (year) alone and a THIRD merge (the 1998-Q4 slice re-sent)
    * validates against the EVOLVED partitioning. Output = the final
    * head; the oracle replays the same new-wins dedup — batch 3's
    * rows are a subset of BATCH 1's (src='old', all < 1999-01-01, so
    * disjoint from batch 2's 'new' slice) with identical values:
    * their stored winners are those very rows, re-merging them cannot
    * change content, and the hash gate pins that the migration +
    * post-migration merge preserved every row. (Widening batch 3 past
    * 1999-01-01 would send 'old' rows against stored 'new' winners
    * and flip them — keep the slice inside batch 1's range.)
    * Time travel across the change (old versions read under the OLD
    * layout) and the old-partCols refusal are spec-pinned. */
  private val q271 = Q("q271_snapshot_partition_evolution",
    (s, dir) => {
      val tbl = graft.Scratch.createTempDir("q271tbl").toString + "/t"
      val o = t(s, dir, "orders")
      def prep(df: org.apache.spark.sql.DataFrame, src: String) =
        df.select(col("o_orderkey"), lit(src).as("src"),
          col("o_orderstatus"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          year(col("o_orderdate")).as("year"),
          month(col("o_orderdate")).as("month"))
      graft.ops.SnapshotTable.merge(s, tbl,
        prep(o.filter(col("o_orderdate") <
          to_timestamp(lit("2000-01-01"))), "old"),
        "o_orderkey", "order_date", Seq("year", "month"), Some(1L))
      graft.ops.SnapshotTable.merge(s, tbl,
        prep(o.filter(col("o_orderdate") >=
          to_timestamp(lit("1999-01-01"))), "new"),
        "o_orderkey", "order_date", Seq("year", "month"), Some(2L))
      graft.ops.SnapshotTable.repartitionTable(s, tbl, Seq("year"))
      graft.ops.SnapshotTable.merge(s, tbl,
        prep(o.filter(col("o_orderdate") >=
            to_timestamp(lit("1998-10-01")) &&
          col("o_orderdate") < to_timestamp(lit("1999-01-01"))), "old"),
        "o_orderkey", "order_date", Seq("year"), Some(3L))
      graft.ops.SnapshotTable.read(s, tbl)
        .select(col("o_orderkey"), col("src"), col("o_orderstatus"),
          col("order_date"))
    },
    q07.oracle)

  /** STREAMING-SOURCE BRIDGE for the snapshot table
    * ([[graft.ops.SnapshotTable.publishChanges]]): the CDF published
    * into an append-only, range-named parquet landing that Spark's
    * stock file source consumes — the table-as-a-source rung, earned
    * with the engine's own manifest-landing shape instead of a
    * hand-rolled reader. Two publishes land here: the whole head as
    * `insert` rows after the base merge (range v0→v1), then the net
    * diff of the CDC batch (v1→v2, q269's four change classes); the
    * output is the BATCH read of the landing glob — exactly what a
    * streaming consumer drains (spec-pinned with a real
    * `readStream.parquet` AvailableNow run; replay/no-op/staging-
    * sweep discipline also spec-pinned). The oracle replays both
    * published ranges analytically, version stamps included. */
  private val q272 = Q("q272_snapshot_publish_changes",
    (s, dir) => {
      val tbl = graft.Scratch.createTempDir("q272tbl").toString + "/t"
      val land = graft.Scratch.createTempDir("q272land").toString
      val li = t(s, dir, "lineitem")
      def qty = col("l_quantity").cast(dec2).cast("string").as("quantity")
      val base = li.filter(col("l_linenumber") === 1).select(
        col("l_orderkey"), col("l_linenumber"), qty,
        (col("l_orderkey") % 4).as("part"))
      graft.ops.SnapshotTable.merge(s, tbl, base,
        "l_orderkey", "quantity", Seq("part"), Some(1L))
      graft.ops.SnapshotTable.publishChanges(s, tbl, "l_orderkey", land)
      val feed = li.filter(col("l_linenumber") >= 2).select(
        col("l_orderkey"), col("l_linenumber"), qty,
        (col("l_orderkey") % 4).as("part"),
        when(col("l_linenumber") === 7, "D").otherwise("U").as("op"))
      graft.ops.SnapshotTable.mergeCdc(s, tbl, feed, "l_orderkey",
        Seq("l_linenumber", "quantity"), "op", Seq("part"), Some(2L))
      graft.ops.SnapshotTable.publishChanges(s, tbl, "l_orderkey", land)
      s.read.parquet(s"$land/changes_*")
        .select(col("l_orderkey"), col("l_linenumber"), col("quantity"),
          col("part"), col("_change_type"), col("_from_version"),
          col("_to_version"))
    },
    Some(s"""WITH base AS (
        $snapshotBaseSql),
      fw AS (
        $snapshotFeedSql)
      SELECT l_orderkey, l_linenumber, quantity, part,
        'insert' AS _change_type, CAST(0 AS BIGINT) AS _from_version,
        CAST(1 AS BIGINT) AS _to_version
      FROM base
      UNION ALL
      SELECT l_orderkey, l_linenumber, quantity, part, _change_type,
        CAST(1 AS BIGINT) AS _from_version,
        CAST(2 AS BIGINT) AS _to_version
      FROM (
        SELECT f.l_orderkey, f.l_linenumber, f.quantity, f.part,
          'insert' AS _change_type
        FROM fw f WHERE f.op <> 'D' AND NOT EXISTS
          (SELECT 1 FROM base b WHERE b.l_orderkey = f.l_orderkey)
        UNION ALL
        SELECT b.l_orderkey, b.l_linenumber, b.quantity, b.part,
          'delete' AS _change_type
        FROM base b JOIN fw f ON f.l_orderkey = b.l_orderkey
          AND f.op = 'D'
        UNION ALL
        SELECT b.l_orderkey, b.l_linenumber, b.quantity, b.part,
          'update_preimage' AS _change_type
        FROM base b JOIN fw f ON f.l_orderkey = b.l_orderkey
          AND f.op <> 'D'
        UNION ALL
        SELECT f.l_orderkey, f.l_linenumber, f.quantity, f.part,
          'update_postimage' AS _change_type
        FROM fw f JOIN base b ON b.l_orderkey = f.l_orderkey
          AND f.op <> 'D') cdf"""))

  /** DELETION VECTORS on the snapshot table
    * ([[graft.ops.SnapshotTable.deleteKeys]] — Delta's DV / Iceberg's
    * equality-delete shape, merge-on-read): q266's base table, then a
    * scattered point-delete of every `l_orderkey % 10 == 3` key —
    * committed as ONE parquet sidecar plus manifest references, with
    * ZERO partition rewrites (the decoupling [[graft.ops.SnapshotTable
    * .mergeCdc]]'s tombstones cannot give: their deletes rewrite every
    * touched partition) — and then a MERGE re-inserting half the
    * deleted keys (`% 20 == 3`, linenumber stamped 99). The read is
    * merge-on-read: dv'd entries anti-join the sidecar, the rewritten
    * partition folded its deletes in and carries the re-inserts, so
    * the hash gate pins the full interplay — delete applied, re-insert
    * alive, untouched keys carried. Sidecar lifecycle (vacuum,
    * retention, OPTIMIZE folding) and CDF classes are spec-pinned
    * (Round18Spec). */
  private val q273 = Q("q273_snapshot_deletion_vectors",
    (s, dir) => {
      val tbl = graft.Scratch.createTempDir("q273tbl").toString + "/t"
      val li = t(s, dir, "lineitem")
      def qty = col("l_quantity").cast(dec2).cast("string").as("quantity")
      val base = li.filter(col("l_linenumber") === 1).select(
        col("l_orderkey"), col("l_linenumber"), qty,
        (col("l_orderkey") % 4).as("part"))
      graft.ops.SnapshotTable.merge(s, tbl, base,
        "l_orderkey", "quantity", Seq("part"), Some(1L))
      graft.ops.SnapshotTable.deleteKeys(s, tbl,
        base.filter(col("l_orderkey") % 10 === 3).select(col("l_orderkey")),
        "l_orderkey", Some(2L))
      val reinsert = base.filter(col("l_orderkey") % 20 === 3)
        .withColumn("l_linenumber", lit(99))
      graft.ops.SnapshotTable.merge(s, tbl, reinsert,
        "l_orderkey", "quantity", Seq("part"), Some(3L))
      graft.ops.SnapshotTable.read(s, tbl)
        .select(col("l_orderkey"), col("l_linenumber"), col("quantity"),
          col("part"))
    },
    Some(s"""WITH base AS (
        $snapshotBaseSql)
      SELECT l_orderkey, l_linenumber, quantity, part FROM base
      WHERE l_orderkey % 10 <> 3
      UNION ALL
      SELECT l_orderkey, CAST(99 AS INTEGER) AS l_linenumber, quantity,
        part
      FROM base WHERE l_orderkey % 20 = 3"""))

  /** MULTI-COLUMN MANIFEST STATS ([[graft.ops.SnapshotTable.merge]]'s
    * `statsCols` — Iceberg's per-column bounds): the orders table is
    * merged with `o_custkey` as an EXTRA stats column beyond the merge
    * key, so every committed entry and file records (min, max) for
    * BOTH; the output is a [[graft.ops.SnapshotTable.readRange]] on
    * the NON-key column — entries and files whose recorded custkey
    * bounds are disjoint from [100, 200] never open, the residual
    * predicate runs exactly, and the hash gate pins pruned ≡ plain
    * filter (q267's guarantee, generalized past the merge key).
    * File-count skipping on both dimensions of a 2-D zordered table
    * and per-column carry are spec-pinned (Round18Spec). */
  private val q274 = Q("q274_snapshot_multicol_stats",
    (s, dir) => {
      val tbl = graft.Scratch.createTempDir("q274tbl").toString + "/t"
      val o = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice").cast(dec2).cast("string").as("total"),
        expr("o_orderkey div 4096").as("bucket"))
      graft.ops.SnapshotTable.merge(s, tbl, o,
        "o_orderkey", "total", Seq("bucket"), Some(1L),
        statsCols = Seq("o_custkey"))
      graft.ops.SnapshotTable.readRange(s, tbl, "o_custkey",
        Some(100L), Some(200L))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("total"), col("bucket"))
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total,
        o_orderkey // 4096 AS bucket
      FROM orders WHERE o_custkey BETWEEN 100 AND 200"""))

  /** PER-COMMIT PUBLISH GRANULARITY
    * ([[graft.ops.SnapshotTable.publishChanges]] with
    * `perCommit = true` — Delta's `table_changes` granularity from
    * the engine's landing protocol): three versions land (q272's base
    * merge and CDC batch, then a THIRD merge re-sending every
    * `l_orderkey % 50 == 1` base row with linenumber stamped 77), and
    * ONE publish call emits one range dir per head advance —
    * `changes_v0_v1` (the seed as inserts), `changes_v1_v2` (the CDC
    * diff's four classes), `changes_v2_v3` (updates against the
    * post-CDC state, inserts where the CDC had deleted the key). The
    * output is the batch read of the landing glob; the oracle replays
    * all three ranges analytically with version stamps — the v2→v3
    * pre-images come from the CDC-RESOLVED state (feed winners ∪
    * untouched base), which is what makes this a real replay of
    * intermediate history rather than a restatement of q272. */
  private val q275 = Q("q275_snapshot_percommit_publish",
    (s, dir) => {
      val tbl = graft.Scratch.createTempDir("q275tbl").toString + "/t"
      val land = graft.Scratch.createTempDir("q275land").toString
      val li = t(s, dir, "lineitem")
      def qty = col("l_quantity").cast(dec2).cast("string").as("quantity")
      val base = li.filter(col("l_linenumber") === 1).select(
        col("l_orderkey"), col("l_linenumber"), qty,
        (col("l_orderkey") % 4).as("part"))
      graft.ops.SnapshotTable.merge(s, tbl, base,
        "l_orderkey", "quantity", Seq("part"), Some(1L))
      val feed = li.filter(col("l_linenumber") >= 2).select(
        col("l_orderkey"), col("l_linenumber"), qty,
        (col("l_orderkey") % 4).as("part"),
        when(col("l_linenumber") === 7, "D").otherwise("U").as("op"))
      graft.ops.SnapshotTable.mergeCdc(s, tbl, feed, "l_orderkey",
        Seq("l_linenumber", "quantity"), "op", Seq("part"), Some(2L))
      val upd = base.filter(col("l_orderkey") % 50 === 1)
        .withColumn("l_linenumber", lit(77))
      graft.ops.SnapshotTable.merge(s, tbl, upd,
        "l_orderkey", "quantity", Seq("part"), Some(3L))
      graft.ops.SnapshotTable.publishChanges(s, tbl, "l_orderkey", land,
        perCommit = true)
      s.read.parquet(s"$land/changes_*")
        .select(col("l_orderkey"), col("l_linenumber"), col("quantity"),
          col("part"), col("_change_type"), col("_from_version"),
          col("_to_version"))
    },
    Some(s"""WITH base AS (
        $snapshotBaseSql),
      fw AS (
        $snapshotFeedSql),
      v2 AS (
        SELECT l_orderkey, l_linenumber, quantity, part
        FROM fw WHERE op <> 'D'
        UNION ALL
        SELECT b.l_orderkey, b.l_linenumber, b.quantity, b.part
        FROM base b WHERE NOT EXISTS (SELECT 1 FROM fw
          WHERE fw.l_orderkey = b.l_orderkey)),
      upd AS (
        SELECT l_orderkey, CAST(77 AS INTEGER) AS l_linenumber,
          quantity, part
        FROM base WHERE l_orderkey % 50 = 1)
      SELECT l_orderkey, l_linenumber, quantity, part,
        'insert' AS _change_type, CAST(0 AS BIGINT) AS _from_version,
        CAST(1 AS BIGINT) AS _to_version
      FROM base
      UNION ALL
      SELECT l_orderkey, l_linenumber, quantity, part, _change_type,
        CAST(1 AS BIGINT) AS _from_version,
        CAST(2 AS BIGINT) AS _to_version
      FROM (
        SELECT f.l_orderkey, f.l_linenumber, f.quantity, f.part,
          'insert' AS _change_type
        FROM fw f WHERE f.op <> 'D' AND NOT EXISTS
          (SELECT 1 FROM base b WHERE b.l_orderkey = f.l_orderkey)
        UNION ALL
        SELECT b.l_orderkey, b.l_linenumber, b.quantity, b.part,
          'delete' AS _change_type
        FROM base b JOIN fw f ON f.l_orderkey = b.l_orderkey
          AND f.op = 'D'
        UNION ALL
        SELECT b.l_orderkey, b.l_linenumber, b.quantity, b.part,
          'update_preimage' AS _change_type
        FROM base b JOIN fw f ON f.l_orderkey = b.l_orderkey
          AND f.op <> 'D'
        UNION ALL
        SELECT f.l_orderkey, f.l_linenumber, f.quantity, f.part,
          'update_postimage' AS _change_type
        FROM fw f JOIN base b ON b.l_orderkey = f.l_orderkey
          AND f.op <> 'D') cdf
      UNION ALL
      SELECT l_orderkey, l_linenumber, quantity, part, _change_type,
        CAST(2 AS BIGINT) AS _from_version,
        CAST(3 AS BIGINT) AS _to_version
      FROM (
        SELECT u.l_orderkey, u.l_linenumber, u.quantity, u.part,
          'insert' AS _change_type
        FROM upd u WHERE NOT EXISTS
          (SELECT 1 FROM v2 WHERE v2.l_orderkey = u.l_orderkey)
        UNION ALL
        SELECT v.l_orderkey, v.l_linenumber, v.quantity, v.part,
          'update_preimage' AS _change_type
        FROM v2 v JOIN upd u ON u.l_orderkey = v.l_orderkey
        UNION ALL
        SELECT u.l_orderkey, u.l_linenumber, u.quantity, u.part,
          'update_postimage' AS _change_type
        FROM upd u JOIN v2 v ON v.l_orderkey = u.l_orderkey) c3"""))

  /** MANIFEST-CHAIN RESOLUTION in the hash gate (round 18's
    * checkpointing rung: delta manifests + the `_head` pointer —
    * `base=`/`drop=` chains applied base-up, full checkpoints every
    * [[graft.ops.SnapshotTable.ManifestCheckpointEvery]] commits):
    * TWELVE narrow merges land disjoint `o_orderkey % 12` slices of
    * orders, so the version history crosses the checkpoint cadence
    * (v1 and v11 full, everything else a delta) and the head resolves
    * through a real chain; the output unions the HEAD read with a
    * TIME-TRAVEL read at version 6 (whose own resolution walks five
    * deltas above the v1 checkpoint). A chain bug that drops,
    * duplicates, or mis-merges one entry anywhere in the history
    * breaks the hash. The oracle replays both states analytically —
    * head = all orders, v6 = the first six slices. */
  private val q276 = Q("q276_snapshot_manifest_chain",
    (s, dir) => {
      val tbl = graft.Scratch.createTempDir("q276tbl").toString + "/t"
      val o = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast(dec2).cast("string").as("total"),
        (col("o_orderkey") % 12).as("slice"),
        (col("o_orderkey") % 8).as("part"))
      (0 until 12).foreach { i =>
        graft.ops.SnapshotTable.merge(s, tbl,
          o.filter(col("slice") === i),
          "o_orderkey", "total", Seq("part"), Some(i + 1L))
      }
      val head = graft.ops.SnapshotTable.read(s, tbl)
        .withColumn("at", lit("head"))
      val v6 = graft.ops.SnapshotTable.read(s, tbl, Some(6L))
        .withColumn("at", lit("v6"))
      head.unionByName(v6)
        .select(col("o_orderkey"), col("o_orderstatus"), col("total"),
          col("slice"), col("part"), col("at"))
    },
    Some("""SELECT o_orderkey, o_orderstatus,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total,
        o_orderkey % 12 AS slice, o_orderkey % 8 AS part,
        'head' AS at
      FROM orders
      UNION ALL
      SELECT o_orderkey, o_orderstatus,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total,
        o_orderkey % 12 AS slice, o_orderkey % 8 AS part,
        'v6' AS at
      FROM orders WHERE o_orderkey % 12 <= 5"""))

  /** SELECTIVE OPTIMIZE in the hash gate
    * ([[graft.ops.SnapshotTable.optimizeWhere]] — Delta's
    * `OPTIMIZE ... WHERE`, the rung that keeps compaction affordable
    * at 10⁵ partitions): orders land under (year, month), a scattered
    * DV delete (`o_orderkey % 30 == 7`) attaches a sidecar to every
    * entry, then ONLY the 1995 partitions are rewritten — they fold
    * their deletion vectors in, everything else carries by reference
    * with its dv intact. The read after is the mixed path — folded
    * entries plain, carried entries anti-joining the sidecar — and
    * the hash gate pins that the partial rewrite changed NOTHING:
    * the oracle is the plain delete replay. */
  private val q277 = Q("q277_snapshot_selective_optimize",
    (s, dir) => {
      val tbl = graft.Scratch.createTempDir("q277tbl").toString + "/t"
      val o = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast(dec2).cast("string").as("total"),
        year(col("o_orderdate")).as("year"),
        month(col("o_orderdate")).as("month"))
      graft.ops.SnapshotTable.merge(s, tbl, o,
        "o_orderkey", "total", Seq("year", "month"), Some(1L))
      graft.ops.SnapshotTable.deleteKeys(s, tbl,
        o.filter(col("o_orderkey") % 30 === 7).select(col("o_orderkey")),
        "o_orderkey", Some(2L))
      graft.ops.SnapshotTable.optimizeWhere(s, tbl,
        Seq("year", "month"),
        e => graft.ops.SnapshotTable.partitionValues(e)
          .get("year").contains("1995"))
      graft.ops.SnapshotTable.read(s, tbl)
        .select(col("o_orderkey"), col("o_orderstatus"), col("total"),
          col("year"), col("month"))
    },
    Some("""SELECT o_orderkey, o_orderstatus,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total,
        EXTRACT(year FROM o_orderdate) AS year,
        EXTRACT(month FROM o_orderdate) AS month
      FROM orders WHERE o_orderkey % 30 <> 7"""))

  /** METADATA-ONLY COUNTS from the manifest
    * ([[graft.ops.SnapshotTable.countRows]] + per-entry `rows=`
    * lines — the Iceberg/Delta `count(*)`-from-metadata shape): the
    * orders table is merged under `o_orderkey % 8` buckets, a CDC
    * batch DELETES every `o_orderkey % 50 == 3` key (a rewrite, so
    * counts stay exact), and the output is built from the MANIFEST
    * ALONE — one row per entry with its partition value and recorded
    * row count, zero data files opened. The oracle recomputes the
    * same per-bucket counts from the raw data; a count that drifted
    * by one row anywhere breaks the hash. */
  private val q278 = Q("q278_snapshot_metadata_counts",
    (s, dir) => {
      import s.implicits._
      val tbl = graft.Scratch.createTempDir("q278tbl").toString + "/t"
      val o = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast(dec2).cast("string").as("total"),
        (col("o_orderkey") % 8).as("bucket"))
      graft.ops.SnapshotTable.merge(s, tbl, o,
        "o_orderkey", "total", Seq("bucket"), Some(1L))
      val feed = o.filter(col("o_orderkey") % 50 === 3)
        .withColumn("op", lit("D"))
      graft.ops.SnapshotTable.mergeCdc(s, tbl, feed, "o_orderkey",
        Seq("o_orderkey"), "op", Seq("bucket"), Some(2L))
      val snap = graft.ops.SnapshotTable.resolve(s, tbl)
      val total = graft.ops.SnapshotTable.countRows(s, tbl).get
      snap.entries.map(e => (
        graft.ops.SnapshotTable.partitionValues(e)("bucket").toLong,
        e.rows.get, total)).toDF("bucket", "n_rows", "n_total")
    },
    Some("""SELECT o_orderkey % 8 AS bucket,
        COUNT(*) AS n_rows,
        (SELECT COUNT(*) FROM orders WHERE o_orderkey % 50 <> 3)
          AS n_total
      FROM orders WHERE o_orderkey % 50 <> 3 GROUP BY 1"""))

  /** DROP COLUMN lifecycle in the hash gate
    * ([[graft.ops.SnapshotTable.dropColumn]] /
    * [[graft.ops.SnapshotTable.renameColumn]]'s discipline — the
    * no-column-mapping `ALTER TABLE DROP COLUMN`): orders land with
    * `o_orderpriority`, the column is dropped METADATA-ONLY (reads
    * project it away while pre-drop files keep the bytes), a
    * post-drop merge updates the `% 7 == 0` keys without the column,
    * a FULL OPTIMIZE purges the physical bytes and clears the
    * tombstone, and a final merge RE-ADDS the name for the
    * `% 11 == 0` keys. The hash gate pins the whole story: re-added
    * values live only on the final batch's keys, every other row
    * surfaces NULL — the old bytes did NOT resurrect — and the
    * mid-history update is intact. (The refusal half — re-add before
    * the purge — is spec-pinned; refusals cannot live in a hash
    * gate.) */
  private val q279 = Q("q279_snapshot_drop_column",
    (s, dir) => {
      val tbl = graft.Scratch.createTempDir("q279tbl").toString + "/t"
      val base = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"),
        col("o_totalprice").cast(dec2).cast("string").as("total"),
        (col("o_orderkey") % 4).as("bucket"))
      graft.ops.SnapshotTable.merge(s, tbl, base,
        "o_orderkey", "total", Seq("bucket"), Some(1L))
      graft.ops.SnapshotTable.dropColumn(s, tbl, "o_orderpriority")
      graft.ops.SnapshotTable.merge(s, tbl,
        base.drop("o_orderpriority")
          .filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_orderstatus", lit("X")),
        "o_orderkey", "total", Seq("bucket"), Some(2L))
      graft.ops.SnapshotTable.optimize(s, tbl, Seq("bucket"))
      graft.ops.SnapshotTable.merge(s, tbl,
        base.filter(col("o_orderkey") % 11 === 0)
          .withColumn("o_orderstatus", lit("Z"))
          .withColumn("o_orderpriority", lit("fresh")),
        "o_orderkey", "total", Seq("bucket"), Some(3L))
      graft.ops.SnapshotTable.read(s, tbl)
        .select(col("o_orderkey"), col("o_orderstatus"), col("total"),
          col("bucket"), col("o_orderpriority"))
    },
    Some("""SELECT o_orderkey,
        CASE WHEN o_orderkey % 11 = 0 THEN 'Z'
             WHEN o_orderkey % 7 = 0 THEN 'X'
             ELSE o_orderstatus END AS o_orderstatus,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total,
        o_orderkey % 4 AS bucket,
        CASE WHEN o_orderkey % 11 = 0 THEN 'fresh'
             ELSE NULL END AS o_orderpriority
      FROM orders"""))

  /** TYPE-WIDENING schema evolution on the snapshot table
    * ([[graft.ops.SnapshotTable.merge]]'s widening lattice — Delta
    * 3.x/Iceberg v2 type widening rebuilt on the manifest's pinned
    * schema and Spark 4's SPARK-40876 parquet upcast read): an
    * INT-keyed table takes a LONG-keyed delta touching ONLY bucket 0,
    * so every other bucket's int32 files are CARRIED BY REFERENCE and
    * read through the widened BIGINT manifest schema with zero
    * rewrites — the rung that saves a long-lived bronze table whose
    * id column outgrows int from an O(table) manual migration. The
    * emitted `k` is the read's NATIVE type, so the driver's schema
    * check gates the widening itself (an unwidened read would emit
    * int32 against the oracle's BIGINT); `carried` pins the
    * no-rewrite claim as a number the oracle computes independently
    * (the untouched-bucket count). */
  private val q280 = Q("q280_snapshot_type_widening",
    (s, dir) => {
      val tbl = graft.Scratch.createTempDir("q280tbl").toString + "/t"
      val o = t(s, dir, "orders")
      val base = o.select(col("o_orderkey").cast("int").as("k"),
        col("o_orderstatus").as("st"),
        col("o_totalprice").cast(dec2).cast("string").as("total"),
        expr("o_orderkey div 4096").cast("int").as("bucket"))
      graft.ops.SnapshotTable.merge(s, tbl, base, "k", "total",
        Seq("bucket"), Some(1L))
      val delta = o.filter(col("o_orderkey") < 4096).select(
        col("o_orderkey").cast("long").as("k"),
        lit("W").as("st"),
        (col("o_totalprice").cast(dec2) + lit(1).cast(dec2))
          .cast(dec2).cast("string").as("total"),
        lit(0).as("bucket"))
      graft.ops.SnapshotTable.merge(s, tbl, delta, "k", "total",
        Seq("bucket"), Some(2L))
      val head = graft.ops.SnapshotTable.resolve(s, tbl)
      val carried = head.entries.count(e =>
        graft.ops.SnapshotTable.versionOf(e.path) == 1L)
      graft.ops.SnapshotTable.read(s, tbl)
        .select(col("k"), col("st"), col("total"), col("bucket"),
          lit(carried).as("carried"))
    },
    Some("""WITH untouched AS (
        SELECT CAST(COUNT(DISTINCT o_orderkey // 4096) AS INT) AS n
        FROM orders WHERE o_orderkey >= 4096)
      SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus AS st,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total,
        CAST(o_orderkey // 4096 AS INT) AS bucket,
        (SELECT n FROM untouched) AS carried
      FROM orders WHERE o_orderkey >= 4096
      UNION ALL
      SELECT CAST(o_orderkey AS BIGINT), 'W',
        CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) +
          CAST(1 AS DECIMAL(18,2)) AS DECIMAL(18,2)) AS VARCHAR),
        CAST(0 AS INT), (SELECT n FROM untouched)
      FROM orders WHERE o_orderkey < 4096"""))

  /** DSv2 READ SURFACE over the snapshot table
    * ([[graft.sources.SnapshotSource]] — `spark.read.format(...)` +
    * `versionAsOf` time travel + pushed range predicates routed into
    * the manifest's three-stage pruning, the rung that makes the
    * table consumable the way its Delta/Iceberg models are): q267's
    * exact table read THROUGH THE FORMAT DOOR with the same range
    * predicate (the scan plans only the overlapping buckets' files —
    * spec-pinned via the planned-path surface), UNIONed with a
    * `versionAsOf` read of version 1 after a second merge bumps the
    * head — so one hash gates pushdown correctness AND option-pinned
    * time travel against a head that has moved on. */
  private val q281 = Q("q281_snapshot_dsv2_read",
    (s, dir) => {
      val tbl = graft.Scratch.createTempDir("q281tbl").toString + "/t"
      val o = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast(dec2).cast("string").as("total"),
        expr("o_orderkey div 4096").as("bucket"))
      graft.ops.SnapshotTable.merge(s, tbl, o,
        "o_orderkey", "total", Seq("bucket"), Some(1L))
      // advance the head so versionAsOf=1 is genuine time travel
      graft.ops.SnapshotTable.merge(s, tbl,
        o.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_orderstatus", lit("Z")),
        "o_orderkey", "total", Seq("bucket"), Some(2L))
      val fmt = "graft.sources.SnapshotSource"
      val ranged = s.read.format(fmt).option("path", tbl).load()
        .filter(col("o_orderkey") >= 1000L &&
          col("o_orderkey") <= 3000L)
        .withColumn("src", lit("head_range"))
      val pinned = s.read.format(fmt).option("path", tbl)
        .option("versionAsOf", "1").load()
        .filter(col("o_orderkey") <= 500L)
        .withColumn("src", lit("v1_point"))
      ranged.unionByName(pinned)
        .select(col("o_orderkey"), col("o_orderstatus"), col("total"),
          col("bucket"), col("src"))
    },
    Some("""SELECT o_orderkey,
        CASE WHEN o_orderkey % 5 = 0 THEN 'Z' ELSE o_orderstatus END
          AS o_orderstatus,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total,
        o_orderkey // 4096 AS bucket, 'head_range' AS src
      FROM orders WHERE o_orderkey BETWEEN 1000 AND 3000
      UNION ALL
      SELECT o_orderkey, o_orderstatus,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total,
        o_orderkey // 4096 AS bucket, 'v1_point' AS src
      FROM orders WHERE o_orderkey <= 500"""))

  /** DIRECT STREAMING SOURCE over the snapshot table
    * ([[graft.sources.SnapshotChanges]] — Delta's `readChangeFeed`
    * shape: table versions are the stream offsets, each microbatch is
    * [[graft.ops.SnapshotTable.changeFeedRange]] computed on demand,
    * NO landing copy written anywhere): q275's EXACT three-commit
    * scenario consumed through `readStream.format(...)` with
    * AvailableNow into a scratch sink — the same oracle as q275 by
    * construction, because the stream and the landing publisher call
    * one producer function. One hash therefore gates "stream ≡
    * landing surface", per-commit stamps included, which is the
    * copy-free replacement for the publish bridge. */
  private val q282 = Q("q282_snapshot_changes_stream",
    (s, dir) => {
      val tbl = graft.Scratch.createTempDir("q282tbl").toString + "/t"
      val sink = graft.Scratch.createTempDir("q282sink").toString
      val ckpt = graft.Scratch.createTempDir("q282ckpt").toString
      val li = t(s, dir, "lineitem")
      def qty = col("l_quantity").cast(dec2).cast("string").as("quantity")
      val base = li.filter(col("l_linenumber") === 1).select(
        col("l_orderkey"), col("l_linenumber"), qty,
        (col("l_orderkey") % 4).as("part"))
      graft.ops.SnapshotTable.merge(s, tbl, base,
        "l_orderkey", "quantity", Seq("part"), Some(1L))
      val feed = li.filter(col("l_linenumber") >= 2).select(
        col("l_orderkey"), col("l_linenumber"), qty,
        (col("l_orderkey") % 4).as("part"),
        when(col("l_linenumber") === 7, "D").otherwise("U").as("op"))
      graft.ops.SnapshotTable.mergeCdc(s, tbl, feed, "l_orderkey",
        Seq("l_linenumber", "quantity"), "op", Seq("part"), Some(2L))
      val upd = base.filter(col("l_orderkey") % 50 === 1)
        .withColumn("l_linenumber", lit(77))
      graft.ops.SnapshotTable.merge(s, tbl, upd,
        "l_orderkey", "quantity", Seq("part"), Some(3L))
      val q = s.readStream.format("graft.sources.SnapshotChanges")
        .option("path", tbl).option("key", "l_orderkey").load()
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(sink)
        .select(col("l_orderkey"), col("l_linenumber"), col("quantity"),
          col("part"), col("_change_type"), col("_from_version"),
          col("_to_version"))
    },
    Some(s"""WITH base AS (
        $snapshotBaseSql),
      fw AS (
        $snapshotFeedSql),
      v2 AS (
        SELECT l_orderkey, l_linenumber, quantity, part
        FROM fw WHERE op <> 'D'
        UNION ALL
        SELECT b.l_orderkey, b.l_linenumber, b.quantity, b.part
        FROM base b WHERE NOT EXISTS (SELECT 1 FROM fw
          WHERE fw.l_orderkey = b.l_orderkey)),
      upd AS (
        SELECT l_orderkey, CAST(77 AS INTEGER) AS l_linenumber,
          quantity, part
        FROM base WHERE l_orderkey % 50 = 1)
      SELECT l_orderkey, l_linenumber, quantity, part,
        'insert' AS _change_type, CAST(0 AS BIGINT) AS _from_version,
        CAST(1 AS BIGINT) AS _to_version
      FROM base
      UNION ALL
      SELECT l_orderkey, l_linenumber, quantity, part, _change_type,
        CAST(1 AS BIGINT) AS _from_version,
        CAST(2 AS BIGINT) AS _to_version
      FROM (
        SELECT f.l_orderkey, f.l_linenumber, f.quantity, f.part,
          'insert' AS _change_type
        FROM fw f WHERE f.op <> 'D' AND NOT EXISTS
          (SELECT 1 FROM base b WHERE b.l_orderkey = f.l_orderkey)
        UNION ALL
        SELECT b.l_orderkey, b.l_linenumber, b.quantity, b.part,
          'delete' AS _change_type
        FROM base b JOIN fw f ON f.l_orderkey = b.l_orderkey
          AND f.op = 'D'
        UNION ALL
        SELECT b.l_orderkey, b.l_linenumber, b.quantity, b.part,
          'update_preimage' AS _change_type
        FROM base b JOIN fw f ON f.l_orderkey = b.l_orderkey
          AND f.op <> 'D'
        UNION ALL
        SELECT f.l_orderkey, f.l_linenumber, f.quantity, f.part,
          'update_postimage' AS _change_type
        FROM fw f JOIN base b ON b.l_orderkey = f.l_orderkey
          AND f.op <> 'D') cdf
      UNION ALL
      SELECT l_orderkey, l_linenumber, quantity, part, _change_type,
        CAST(2 AS BIGINT) AS _from_version,
        CAST(3 AS BIGINT) AS _to_version
      FROM (
        SELECT u.l_orderkey, u.l_linenumber, u.quantity, u.part,
          'insert' AS _change_type
        FROM upd u WHERE NOT EXISTS
          (SELECT 1 FROM v2 WHERE v2.l_orderkey = u.l_orderkey)
        UNION ALL
        SELECT v.l_orderkey, v.l_linenumber, v.quantity, v.part,
          'update_preimage' AS _change_type
        FROM v2 v JOIN upd u ON u.l_orderkey = v.l_orderkey
        UNION ALL
        SELECT u.l_orderkey, u.l_linenumber, u.quantity, u.part,
          'update_postimage' AS _change_type
        FROM upd u JOIN v2 v ON v.l_orderkey = u.l_orderkey) c3"""))

  /** SQL CATALOG door over the snapshot table
    * ([[graft.sources.SnapshotCatalog]] — Delta's `delta.`path``
    * catalog shape on Spark's `TableCatalog` plugin API): the SAME
    * table q281 reads through the format door is consumed here from
    * PLAIN SQL — `SELECT ... FROM graft.`<dir>`` resolves the head,
    * `VERSION AS OF 1` pins a version number, and `VERSION AS OF
    * 'pin'` resolves a NAMED TAG (the Iceberg name/number duality) —
    * all three through one [[graft.sources.SnapshotSourceTable]]
    * scan, so pushdown into manifest pruning and deletion-vector
    * reads are identical behind every entry point. The WHERE on the
    * head read rides the pushed-filter path (PlanShapeSpec pins the
    * `PushedFilters` evidence); the tag read crosses a later commit,
    * so a stale-tag resolution would hash-mismatch. */
  private val q283 = Q("q283_snapshot_sql_catalog",
    (s, dir) => {
      val tbl = graft.Scratch.createTempDir("q283tbl").toString + "/t"
      val o = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast(dec2).cast("string").as("total"),
        expr("o_orderkey div 4096").as("bucket"))
      graft.ops.SnapshotTable.merge(s, tbl, o,
        "o_orderkey", "total", Seq("bucket"), Some(1L))
      graft.ops.SnapshotTable.tag(s, tbl, "pin")
      // advance the head so both travel doors cross a real commit
      graft.ops.SnapshotTable.merge(s, tbl,
        o.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_orderstatus", lit("X")),
        "o_orderkey", "total", Seq("bucket"), Some(2L))
      s.conf.set("spark.sql.catalog.graft",
        "graft.sources.SnapshotCatalog")
      val head = s.sql(
        s"""SELECT o_orderkey, o_orderstatus, total, bucket
            FROM graft.`$tbl`
            WHERE o_orderkey BETWEEN 2000 AND 4000""")
        .withColumn("src", lit("head_sql"))
      val byVersion = s.sql(
        s"""SELECT o_orderkey, o_orderstatus, total, bucket
            FROM graft.`$tbl` VERSION AS OF 1
            WHERE o_orderkey <= 700""")
        .withColumn("src", lit("v1_sql"))
      val byTag = s.sql(
        s"""SELECT o_orderkey, o_orderstatus, total, bucket
            FROM graft.`$tbl` VERSION AS OF 'pin'
            WHERE o_orderkey % 1000 = 0""")
        .withColumn("src", lit("tag_sql"))
      head.unionByName(byVersion).unionByName(byTag)
    },
    Some("""SELECT o_orderkey,
        CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
          AS o_orderstatus,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total,
        o_orderkey // 4096 AS bucket, 'head_sql' AS src
      FROM orders WHERE o_orderkey BETWEEN 2000 AND 4000
      UNION ALL
      SELECT o_orderkey, o_orderstatus,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total,
        o_orderkey // 4096 AS bucket, 'v1_sql' AS src
      FROM orders WHERE o_orderkey <= 700
      UNION ALL
      SELECT o_orderkey, o_orderstatus,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total,
        o_orderkey // 4096 AS bucket, 'tag_sql' AS src
      FROM orders WHERE o_orderkey % 1000 = 0"""))

  /** WRITABLE BRANCHES — write-audit-publish on the snapshot table
    * ([[graft.ops.SnapshotTable.createBranch]]/[[graft.ops.SnapshotTable.fastForward]]
    * — Iceberg's refs-beyond-tags rebuilt on the manifest: branch
    * commits claim a parallel `_bsnap.<name>.<v>` namespace sharing
    * main's version counter and `data/` root, so a branch costs
    * O(staged commits) and the publish is O(metadata) with ZERO data
    * movement): two staged merges land on branch `wap` while main's
    * head never moves (`main_before` reads main AFTER both stagings
    * and must still hash as the seed — the isolation claim), the
    * audit surface reads the staged line, and fast-forward adopts the
    * branch manifests version-by-version so post-publish main serves
    * BOTH the final state and time travel to the intermediate staged
    * commit (`published_v2` — a squash would fail this leg). The
    * closing dropBranch exercises ref cleanup on the verify path
    * (manifests only — published data is main's now). */
  private val q284 = Q("q284_snapshot_branch_wap",
    (s, dir) => {
      val tbl = graft.Scratch.createTempDir("q284tbl").toString + "/t"
      val o = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast(dec2).cast("string").as("total"),
        expr("o_orderkey div 4096").as("bucket"))
      graft.ops.SnapshotTable.merge(s, tbl, o,
        "o_orderkey", "total", Seq("bucket"), Some(1L))
      graft.ops.SnapshotTable.createBranch(s, tbl, "wap")
      graft.ops.SnapshotTable.merge(s, tbl,
        o.filter(col("o_orderkey") % 3 === 0)
          .withColumn("o_orderstatus", lit("W")),
        "o_orderkey", "total", Seq("bucket"), Some(2L),
        branch = Some("wap"))
      graft.ops.SnapshotTable.merge(s, tbl,
        o.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_orderstatus", lit("V")),
        "o_orderkey", "total", Seq("bucket"), Some(3L),
        branch = Some("wap"))
      // resolved BEFORE the publish: snapshot isolation pins these
      // frames to the manifests they resolved, however late they run
      val mainBefore = graft.ops.SnapshotTable.read(s, tbl)
        .filter(col("o_orderkey") <= 2000L)
        .withColumn("src", lit("main_before"))
      val audit = graft.ops.SnapshotTable.readBranch(s, tbl, "wap")
        .filter(col("o_orderkey") >= 2000L && col("o_orderkey") <= 5000L)
        .withColumn("src", lit("audit"))
      graft.ops.SnapshotTable.fastForward(s, tbl, "wap")
      val published = graft.ops.SnapshotTable.read(s, tbl)
        .filter(col("o_orderkey") >= 5000L && col("o_orderkey") <= 8000L)
        .withColumn("src", lit("published"))
      val midTravel = graft.ops.SnapshotTable.read(s, tbl, Some(2L))
        .filter(col("o_orderkey") % 500 === 0)
        .withColumn("src", lit("published_v2"))
      graft.ops.SnapshotTable.dropBranch(s, tbl, "wap")
      mainBefore.unionByName(audit).unionByName(published)
        .unionByName(midTravel)
    },
    Some("""SELECT o_orderkey, o_orderstatus,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total,
        o_orderkey // 4096 AS bucket, 'main_before' AS src
      FROM orders WHERE o_orderkey <= 2000
      UNION ALL
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 5 = 0 THEN 'V'
             WHEN o_orderkey % 3 = 0 THEN 'W'
             ELSE o_orderstatus END AS o_orderstatus,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total,
        o_orderkey // 4096 AS bucket, 'audit' AS src
      FROM orders WHERE o_orderkey BETWEEN 2000 AND 5000
      UNION ALL
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 5 = 0 THEN 'V'
             WHEN o_orderkey % 3 = 0 THEN 'W'
             ELSE o_orderstatus END AS o_orderstatus,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total,
        o_orderkey // 4096 AS bucket, 'published' AS src
      FROM orders WHERE o_orderkey BETWEEN 5000 AND 8000
      UNION ALL
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 3 = 0 THEN 'W'
             ELSE o_orderstatus END AS o_orderstatus,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total,
        o_orderkey // 4096 AS bucket, 'published_v2' AS src
      FROM orders WHERE o_orderkey % 500 = 0"""))

  /** RESTORE — Delta's `RESTORE TABLE ... TO VERSION AS OF`
    * ([[graft.ops.SnapshotTable.restore]]: the bad version's state is
    * undone by re-committing the target's FULL entry state forward as
    * a new version — ZERO data movement, the restored manifest
    * re-references the old dirs): v2 corrupts every fourth order's
    * status table-wide, restore re-commits v1's state as v3. The
    * `restored` leg reads the head (must hash as the pristine seed),
    * `bad_v2` time-travels INTO the undone version (history moved
    * forward, the mistake stays auditable), and the `update_*` legs
    * are the change feed ACROSS the restore — the undo itself,
    * classified: every corrupted row pre-images as 'BAD' and
    * post-images back to its original status, and rows v2 never
    * touched are absent (identical rows vanish from the diff). */
  private val q285 = Q("q285_snapshot_restore",
    (s, dir) => {
      val tbl = graft.Scratch.createTempDir("q285tbl").toString + "/t"
      val o = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast(dec2).cast("string").as("total"),
        expr("o_orderkey div 4096").as("bucket"))
      graft.ops.SnapshotTable.merge(s, tbl, o,
        "o_orderkey", "total", Seq("bucket"), Some(1L))
      graft.ops.SnapshotTable.merge(s, tbl,
        o.filter(col("o_orderkey") % 4 === 0)
          .withColumn("o_orderstatus", lit("BAD")),
        "o_orderkey", "total", Seq("bucket"), Some(2L))
      graft.ops.SnapshotTable.restore(s, tbl, 1L)
      val restored = graft.ops.SnapshotTable.read(s, tbl)
        .filter(col("o_orderkey") <= 3000L)
        .withColumn("src", lit("restored"))
      val bad = graft.ops.SnapshotTable.read(s, tbl, Some(2L))
        .filter(col("o_orderkey") >= 3000L && col("o_orderkey") <= 6000L)
        .withColumn("src", lit("bad_v2"))
      val undo = graft.ops.SnapshotTable
        .changesBetween(s, tbl, "o_orderkey", 2L, 3L)
        .withColumnRenamed("_change_type", "src")
      restored.unionByName(bad).unionByName(undo)
    },
    Some("""SELECT o_orderkey, o_orderstatus,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total,
        o_orderkey // 4096 AS bucket, 'restored' AS src
      FROM orders WHERE o_orderkey <= 3000
      UNION ALL
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 4 = 0 THEN 'BAD'
             ELSE o_orderstatus END AS o_orderstatus,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total,
        o_orderkey // 4096 AS bucket, 'bad_v2' AS src
      FROM orders WHERE o_orderkey BETWEEN 3000 AND 6000
      UNION ALL
      SELECT o_orderkey, 'BAD' AS o_orderstatus,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total,
        o_orderkey // 4096 AS bucket, 'update_preimage' AS src
      FROM orders WHERE o_orderkey % 4 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total,
        o_orderkey // 4096 AS bucket, 'update_postimage' AS src
      FROM orders WHERE o_orderkey % 4 = 0"""))

  /** STREAMING SINK door ([[graft.sources.SnapshotSink]] — the write
    * half of "one table, every door": `writeStream.format(...)`
    * lands each microbatch as one `merge` commit with the
    * epoch id as the batch id, so re-delivered epochs replay as
    * no-ops — Delta's idempotent txn-write shape on the manifest's
    * `batch=` line): q263's EXACT two-wave landing-drain scenario
    * with the foreachBatch boilerplate replaced by the format door —
    * same oracle (q07's new-wins merge) by construction, so the hash
    * gates "sink ≡ Scala API" end to end, overlap re-delivery
    * included (wave 2 re-lands the 1999 overlap; new-wins dedup must
    * pick the later wave). */
  private val q286 = Q("q286_snapshot_sink_stream",
    (s, dir) => {
      val land = graft.Scratch.createTempDir("q286land").toString
      val tbl = graft.Scratch.createTempDir("q286tbl").toString + "/t"
      val ckpt = graft.Scratch.createTempDir("q286ckpt").toString
      val o = t(s, dir, "orders")
      def prep(df: org.apache.spark.sql.DataFrame, src: String) =
        df.select(col("o_orderkey"), lit(src).as("src"),
          col("o_orderstatus"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          year(col("o_orderdate")).as("year"),
          month(col("o_orderdate")).as("month"))
      val schema = prep(o.limit(0), "x").schema
      def drainWave(wave: org.apache.spark.sql.DataFrame): Unit = {
        wave.repartition(1).write.mode("append").parquet(land)
        val q = s.readStream.schema(schema).parquet(land)
          .writeStream.format("graft.sources.SnapshotSink")
          .option("path", tbl)
          .option("key", "o_orderkey").option("tieBreak", "order_date")
          .option("partitionCols", "year,month")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drainWave(prep(o.filter(col("o_orderdate") <
        to_timestamp(lit("2000-01-01"))), "old"))
      drainWave(prep(o.filter(col("o_orderdate") >=
        to_timestamp(lit("1999-01-01"))), "new"))
      graft.ops.SnapshotTable.read(s, tbl)
        .select(col("o_orderkey"), col("src"), col("o_orderstatus"),
          col("order_date"))
    },
    q07.oracle)

  /** Every catalog query carries a full DuckDB oracle. The five
    * engine-hash queries that could only ever get a rows-only check
    * (q23 minhash-LSH, q24 simhash, q44 approx_distinct, q99 HLL,
    * q100 theta — outputs depend on engine-internal xxhash64/sketch
    * bytes) are RETIRED from the driver-checked catalog: their
    * semantics are pinned by the fully-oracled portable twins
    * (q118 recall-surface MinHash, q137 brute-force-Hamming SimHash,
    * q126 exact heavy-hitters, q136 band-occupancy cost law) and
    * their engine paths stay covered by SketchSpec/ExtSpec/Ext3Spec/
    * Ext6Spec. Retired ids are never reused. */
  val all: Seq[Q] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10,
    q11, q12, q13, q14, q15, q16, q17, q18, q20, q21, q22, q25,
    q26, q27, q28, q29, q30, q31, q32, q33, q34, q35, q37, q40, q41,
    q42, q43, q45, q46, q47, q48, q49, q50, q51, q52, q53, q54, q55,
    q57, q58, q61, q62, q63, q64, q65, q66, q67, q68, q69, q70, q71, q72,
    q73, q74, q75, q76, q77, q78, q79, q80, q81, q82, q83, q84, q85,
    q86, q87, q88, q89, q90, q91, q92, q93, q94, q95, q96, q97, q98,
    q101, q102, q103, q104, q105, q106, q107, q108, q109, q110,
    q111, q112, q113, q114, q115, q116, q117, q118, q119, q120, q121,
    q122, q123, q124, q125, q126, q127, q128, q129, q130, q131, q132,
    q133, q134, q135, q136, q137, q138, q139, q140, q141, q142, q143,
    q144, q145, q146, q147, q148, q149, q150, q151, q152, q153, q154,
    q155, q156, q157, q158, q159, q160, q161, q162, q163, q164, q165,
    q166, q167, q168, q169, q170, q171, q172, q173, q174, q175, q176,
    q177, q178, q179, q180, q181, q182, q183, q184, q185, q186, q187,
    q188, q189, q190, q191, q192, q193, q194, q195, q196, q197,
    q198, q199, q200, q201, q202, q203, q204, q205, q206, q207,
    q208, q209, q210, q211, q212, q213, q214, q215, q216, q217, q218, q219, q220, q221, q222, q223, q224, q225, q226, q227, q228, q229, q230, q231, q232, q233, q234, q235, q236, q237, q238, q239,
    q240, q241, q242, q243, q244, q245, q246, q247, q248, q249, q250,
    q251, q252, q253, q254, q255, q256, q257, q258, q259, q260, q261,
    q262, q263, q264, q265, q266, q267, q268, q269, q270, q271, q272,
    q273, q274, q275, q276, q277, q278, q279, q280, q281, q282, q283,
    q284, q285, q286)
}

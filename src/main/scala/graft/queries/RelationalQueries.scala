package graft.queries

import graft.functions.HashFunctions
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** E-group of SURVEY §2: the generic OLAP surface (filters, joins,
  * group-bys, windows, set ops) any ClickHouse deployment of the
  * reference schema serves ad hoc. TPC-H-shaped over the driver's
  * tables.
  *
  * Scale notes: dimension joins are `broadcast()` (no fact shuffle);
  * fact-fact joins shuffle once on the join key; aggregates are
  * partial (map-side combine) by construction; every scan is
  * column-pruned and filter-pushed (verified via explain).
  */
object RelationalQueries {
  import QueryDefs._

  /** Finest-grain (returnflag, linestatus) pre-aggregation shared by
    * the e11 rollup/cube/grouping-sets family: sums and counts compose
    * exactly across grouping levels (decimal addition is associative,
    * counts add), so the grouping-set EXPAND — ×3/×4 copies of every
    * input row — runs over this few-group frame instead of the fact
    * table. At 100 TB that is the difference between expanding a
    * trillion rows and expanding |flag|×|status| rows.
    */
  private def rlsFine(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("__q"),
        count(lit(1)).as("__n"))

  val defs: Seq[QueryDef] = Seq(

    QueryDef("e1_pricing_summary",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            sum(discPrice(col("l_extendedprice"), col("l_discount")))
              .cast("double").as("sum_disc_price"),
            count(lit(1)).as("count_order"),
            (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
        ${sqlDsum("l_quantity")} AS sum_qty,
        ${sqlDsum("l_extendedprice")} AS sum_base_price,
        CAST(SUM(${sqlDiscPrice("l_extendedprice", "l_discount")}) AS DOUBLE) AS sum_disc_price,
        COUNT(*) AS count_order,
        ${sqlDsum("l_quantity")} / COUNT(*) AS avg_qty
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    QueryDef("e2_revenue_filter",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
            col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
          .agg(
            sum((col("l_extendedprice").cast("decimal(18,2)") *
              col("l_discount").cast("decimal(18,2)"))).cast("double").as("revenue"),
            count(lit(1)).as("n_rows"))
      },
      Some("""SELECT
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        COUNT(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""")),

    QueryDef("e3_join_topk",
      (s, dir) => {
        val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        val o = Tables.orders(s, dir)
          .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        val l = Tables.lineitem(s, dir)
          .filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(sum(discPrice(col("l_extendedprice"), col("l_discount")))
            .cast("double").as("revenue"))
          .select(col("l_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
            col("o_orderpriority"), col("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some(s"""SELECT l_orderkey,
        strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        o_orderpriority,
        CAST(SUM(${sqlDiscPrice("l_extendedprice", "l_discount")}) AS DOUBLE) AS revenue
        FROM customer JOIN orders ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-01-01'
        AND l_shipdate > TIMESTAMP '1997-01-01'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey LIMIT 10""")),

    QueryDef("e4_star_join",
      (s, dir) => {
        val r = Tables.region(s, dir)
        val n = Tables.nation(s, dir)
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir)
        // the one-file lineitem scan otherwise runs the whole
        // broadcast-join + decimal-agg chain as a single task
        // (parallelism 0.8; HISTORY.md, "One-file inputs scan as one
        // task"); spread is the identity on any
        // properly split scan (ScaleOps.spread)
        val l = graft.operators.ScaleOps.spread(Tables.lineitem(s, dir))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(sum(discPrice(col("l_extendedprice"), col("l_discount")))
            .cast("double").as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some(s"""SELECT r_name, n_name,
        CAST(SUM(${sqlDiscPrice("l_extendedprice", "l_discount")}) AS DOUBLE) AS revenue,
        COUNT(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name ORDER BY r_name, n_name""")),

    QueryDef("e5_semi_join",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val l = Tables.lineitem(s, dir).filter(col("l_quantity") > 49)
        o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
          .select("o_orderkey", "o_orderpriority")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderpriority FROM orders
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 49)
        ORDER BY o_orderkey""")),

    QueryDef("e6_anti_join",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir)
        c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        ORDER BY c_custkey""")),

    QueryDef("e7_outer_join",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir)
        c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
          .groupBy(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"))
          .agg(count(col("o_orderkey")).as("n_orders"),
            coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_spent"))
          .orderBy("custkey")
      },
      Some(s"""SELECT coalesce(c_custkey, o_custkey) AS custkey,
        COUNT(o_orderkey) AS n_orders,
        coalesce(${sqlDsum("o_totalprice")}, 0.0) AS total_spent
        FROM customer FULL JOIN orders ON c_custkey = o_custkey
        GROUP BY coalesce(c_custkey, o_custkey) ORDER BY custkey""")),

    QueryDef("e8_window_rank",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, dir)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
            row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) t
        WHERE rn <= 3 ORDER BY o_custkey, rn""")),

    QueryDef("e9_running_sum",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, dir)
          .withColumn("running_value",
            sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
          .select("event_id", "user_id", "running_value")
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT event_id, user_id,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        FROM events ORDER BY user_id, event_id""")),

    QueryDef("e10_lag_delta",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables.events(s, dir)
          .withColumn("ts_us", unix_micros(col("ts")))
          .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
          .select("event_id", "user_id", "gap_us")
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT event_id, user_id,
        epoch_us(CAST(ts AS TIMESTAMP)) - lag(epoch_us(CAST(ts AS TIMESTAMP)), 1) OVER (
          PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM events ORDER BY user_id, event_id""")),

    QueryDef("e11_rollup",
      (s, dir) => {
        // r17: pre-aggregate at the finest (flag, status) grain BEFORE
        // the rollup expand — sums/counts compose exactly (decimal sums
        // are associative, counts add), so the ×|sets| expanded copies
        // flow from the few-group frame, not the fact table (guide
        // §2.3 "aggregate before you shuffle"; measured 4× hash-agg
        // row reduction on cube). coalesce keeps n's count semantics.
        val fine = rlsFine(s, dir)
        fine.rollup("l_returnflag", "l_linestatus")
          .agg(sum(col("__q")).cast("double").as("sum_qty"),
            coalesce(sum(col("__n")), lit(0L)).as("n"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
        ${sqlDsum("l_quantity")} AS sum_qty, COUNT(*) AS n
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),

    // E11b: CUBE — all grouping-set combinations (CH GROUP BY ...
    // WITH CUBE). Same single-shuffle expand-aggregate as rollup.
    QueryDef("e11b_cube",
      (s, dir) => {
        // r17: same finest-grain pre-aggregation as e11_rollup — the
        // ×4 cube expand runs over the few-group frame
        val fine = rlsFine(s, dir)
        fine.cube("l_returnflag", "l_linestatus")
          .agg(sum(col("__q")).cast("double").as("sum_qty"),
            coalesce(sum(col("__n")), lit(0L)).as("n"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
        ${sqlDsum("l_quantity")} AS sum_qty, COUNT(*) AS n
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),

    // E11c: explicit GROUPING SETS — the general form rollup/cube are
    // sugar for (CH GROUPING SETS): an arbitrary mix of grouping
    // combinations in ONE expand-aggregate pass (one shuffle carrying
    // |sets| expanded copies, not |sets| separate scans+aggregations
    // union'd — the difference between 3 corpus reads and 1 at
    // 100 TB). grouping_id() disambiguates a NULL group key from a
    // rolled-up one.
    QueryDef("e11c_grouping_sets",
      (s, dir) => {
        // r17: same finest-grain pre-aggregation as e11_rollup —
        // grouping_id depends only on the grouping set, so the
        // two-level spelling reproduces gid exactly
        val fine = rlsFine(s, dir)
        fine.groupingSets(
            Seq(Seq(col("l_returnflag"), col("l_linestatus")),
              Seq(col("l_returnflag")), Seq.empty),
            col("l_returnflag"), col("l_linestatus"))
          .agg(grouping_id().as("gid"),
            sum(col("__q")).cast("double").as("sum_qty"),
            coalesce(sum(col("__n")), lit(0L)).as("n"))
          .orderBy(col("gid"),
            asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
        GROUPING(l_returnflag, l_linestatus) AS gid,
        ${sqlDsum("l_quantity")} AS sum_qty, COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),

    // E25: top-K frequent values (CH topK analog, exact at this K):
    // one map-side-combined count aggregation, then a driver-sized
    // top-K — the count shuffle moves one row per distinct key, not
    // per input row, so at 100 TB the cost is the distinct-key count.
    // Deterministic tie-break on the value itself.
    QueryDef("e25_topk_frequent",
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("l_partkey"))
        .limit(10),
      Some("""SELECT l_partkey, COUNT(*) AS cnt FROM lineitem
        GROUP BY l_partkey ORDER BY cnt DESC, l_partkey LIMIT 10""")),

    QueryDef("e12_conditional_agg",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        def qtyWhen(status: String) =
          sum(when(col("l_linestatus") === status, col("l_quantity").cast("decimal(18,2)"))
            .otherwise(lit(0).cast("decimal(18,2)"))).cast("double")
        li.groupBy("l_returnflag")
          .agg(qtyWhen("F").as("qty_f"), qtyWhen("O").as("qty_o"),
            count(when(col("l_linestatus") === "F", 1)).as("n_f"),
            count(when(col("l_linestatus") === "O", 1)).as("n_o"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
        CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
        CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o,
        COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS n_f,
        COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS n_o
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    QueryDef("e13_distinct",
      (s, dir) => {
        Tables.events(s, dir)
          .groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // CH `uniq` analog — HLL sketches differ per engine, rows-only check.
    QueryDef("e13b_approx_distinct",
      (s, dir) => {
        Tables.events(s, dir)
          .groupBy("event_type")
          .agg(approx_count_distinct(col("user_id")).as("approx_users"))
          .orderBy("event_type")
      },
      None),

    // E13c: KMV (k-minimum-values) approximate distinct — a sketch
    // whose estimate is a pure function of the k smallest 60-bit key
    // hashes, so unlike HLL (e13b) it is bit-reproducible across
    // engines and fully oracle-checked. Mergeable at scale: the k
    // smallest hashes of a union are computable from per-partition
    // k-smallest sets (map-side combine does exactly that).
    QueryDef("e13c_kmv_distinct",
      (s, dir) => {
        val k = 64
        val h = HashFunctions.md5prefix64(col("user_id").cast("string"))
        // two-level k-min (ScaleOps.kMinPerGroup): identical sketch,
        // but a group's distinct hashes never sort in a single task
        graft.operators.ScaleOps.kMinPerGroup(
            Tables.events(s, dir)
              .select(col("event_type"), h.as("h")).distinct(),
            "event_type", "h", k)
          .groupBy("event_type")
          .agg(max(col("h")).as("hk"), count(lit(1)).as("n_mins"))
          // with fewer than k distinct keys the sketch is exact
          .select(col("event_type"),
            when(col("n_mins") < k, col("n_mins").cast("double"))
              .otherwise(lit((k - 1).toDouble) * lit(math.pow(2.0, 60)) / col("hk"))
              .as("approx_users"))
          .orderBy("event_type")
      },
      Some("""WITH h AS (
          SELECT DISTINCT event_type,
            ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM events),
        mins AS (
          SELECT event_type, h,
            row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
          FROM h),
        agg AS (
          SELECT event_type, max(h) AS hk, COUNT(*) AS n_mins
          FROM mins WHERE rn <= 64 GROUP BY event_type)
        SELECT event_type,
          CASE WHEN n_mins < 64 THEN CAST(n_mins AS DOUBLE)
               ELSE 63.0 * power(2.0, 60) / hk END AS approx_users
        FROM agg ORDER BY event_type""")),

    // E13e: the SAME KMV sketch as e13c, but as a native
    // TypedImperativeAggregate (graft.functions.KmvDistinct) — the CH
    // imperative-aggregate / -State-combinator shape: ONE
    // ObjectHashAggregate pass, partial ≤k-long buffers combined
    // map-side, merge is a bounded set union. Nothing but sketches
    // ever shuffles (e13c's composed spelling shuffles every distinct
    // key once). Same estimator arithmetic → same oracle SQL as e13c,
    // hash-matched bit for bit.
    QueryDef("e13e_kmv_aggregate",
      (s, dir) => {
        val h = HashFunctions.md5prefix64(col("user_id").cast("string"))
        Tables.events(s, dir)
          .select(col("event_type"), h.as("h"))
          .groupBy("event_type")
          .agg(graft.functions.KmvDistinct.kmvDistinct64(col("h"), 64).as("approx_users"))
          .orderBy("event_type")
      },
      Some("""WITH h AS (
          SELECT DISTINCT event_type,
            ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM events),
        mins AS (
          SELECT event_type, h,
            row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
          FROM h),
        agg AS (
          SELECT event_type, max(h) AS hk, COUNT(*) AS n_mins
          FROM mins WHERE rn <= 64 GROUP BY event_type)
        SELECT event_type,
          CASE WHEN n_mins < 64 THEN CAST(n_mins AS DOUBLE)
               ELSE 63.0 * power(2.0, 60) / hk END AS approx_users
        FROM agg ORDER BY event_type""")),

    // E13f: deterministic HyperLogLog (Flajolet et al. 2007) — the
    // algorithm class behind ClickHouse's uniqCombined and Spark's
    // own approx_count_distinct (e13b), respelled so the WHOLE
    // estimator is oracle-replayable, which the native ones can't be:
    // registers from the SQL-reproducible md5-prefix hash (j = low 12
    // bits, rank = leading zeros of the remaining 48-bit window + 1,
    // computed EXACTLY via binary-string length — no float log), the
    // harmonic sum as an EXACT BIGINT (terms 2^(49−M_j) — register
    // values ≤ 49 keep Σ < 2^61, and integer sums commute, so the
    // sketch state is partition-invariant like K25's), and only the
    // final alpha·m²/S division plus the small-range linear-counting
    // ln run in floats, spelled token-identically in both engines
    // (q6-quantized output — the d17 tie-stability treatment). Large-
    // range correction is moot in a 2^60 hash space. Scale shape:
    // one map-side-combined (group, register) max — the shuffle is
    // ≤ groups·4096 rows of 3 small ints, sketch-sized — then a
    // group-keyed fold of the 4096 registers.
    QueryDef("e13f_hll_distinct",
      (s, dir) => {
        val m = 4096
        val h = HashFunctions.md5prefix64(col("user_id").cast("string"))
        val regs = Tables.events(s, dir)
          .select(col("event_type"), h.as("h"))
          .withColumn("j", pmod(col("h"), lit(m.toLong)))
          .withColumn("w", expr(s"h DIV $m"))
          .withColumn("rho", when(col("w") === 0L, lit(49))
            .otherwise(lit(49) - length(conv(col("w"), 10, 2))))
          .groupBy("event_type", "j")
          .agg(max(col("rho")).as("mj"))
        val sums = regs.groupBy("event_type")
          .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(49 - mj AS INT))"))
            .as("s_present"),
            count(lit(1)).as("n_present"))
          .withColumn("s",
            col("s_present") + (lit(m.toLong) - col("n_present")) * lit(1L << 49))
          .withColumn("v", lit(m.toLong) - col("n_present"))
        sums
          .withColumn("raw",
            (lit(0.7213) / (lit(1.0) + lit(1.079) / lit(4096.0))
              * lit(4096.0) * lit(4096.0) * lit(562949953421312.0))
              / col("s").cast("double"))
          .withColumn("approx_users", QueryDefs.q6(
            when(col("raw") <= 10240.0 && col("v") > 0L,
              lit(4096.0) * log(lit(4096.0) / col("v").cast("double")))
              .otherwise(col("raw"))))
          .select("event_type", "approx_users")
          .orderBy("event_type")
      },
      Some("""WITH h AS (
          SELECT event_type,
            ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM events),
        r AS (
          SELECT event_type, h % 4096 AS j,
            CASE WHEN h // 4096 = 0 THEN 49
                 ELSE 49 - length(bin(h // 4096)) END AS rho
          FROM h),
        mreg AS (SELECT event_type, j, MAX(rho) AS mj FROM r GROUP BY 1, 2),
        sums AS (
          SELECT event_type,
            CAST(SUM(CAST(1 AS BIGINT) << CAST(49 - mj AS INT)) AS BIGINT) AS s_present,
            COUNT(*) AS n_present
          FROM mreg GROUP BY event_type),
        est AS (
          SELECT event_type,
            4096 - n_present AS v,
            ((0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0 * 562949953421312.0))
              / CAST(s_present + (4096 - n_present) * 562949953421312 AS DOUBLE) AS raw
          FROM sums)
        SELECT event_type,
          floor((CASE WHEN raw <= 10240.0 AND v > 0
                      THEN 4096.0 * ln(4096.0 / CAST(v AS DOUBLE))
                      ELSE raw END) * 1000000.0 + 0.5) / 1000000.0 AS approx_users
        FROM est ORDER BY event_type""")),

    // E13d: KMV sketch SET ALGEBRA — estimate |clickers ∩ purchasers|
    // without an exact distinct-intersection: per-set k-min sketches,
    // merged into the union sketch (k smallest of the combined mins),
    // Jaccard = fraction of union-sketch hashes present in both, and
    // |A∩B| ≈ J · |A∪B|. This is the property that makes sketches
    // matter at 100 TB: the per-set sketches are map-side-combinable
    // partial states of ≤ k rows, and every post-sketch step here
    // touches ≤ 2k rows regardless of input size. Deterministic (pure
    // function of md5 hashes) → fully oracled, unlike HLL internals.
    QueryDef("e13d_kmv_intersect",
      (s, dir) => {
        val k = 64
        val h = HashFunctions.md5prefix64(col("user_id").cast("string"))
        val sk = graft.operators.ScaleOps.kMinPerGroup(
          Tables.events(s, dir)
            .filter(col("event_type").isin("click", "purchase"))
            .select(col("event_type"), h.as("h")).distinct(),
          "event_type", "h", k)
        // post-sketch: every frame below is ≤ 2k rows, the global
        // window is a deliberate single tiny task
        val union = sk.select("h").distinct()
          .withColumn("urn", row_number().over(Window.orderBy(col("h"))))
          .filter(col("urn") <= k)
        val a = sk.filter(col("event_type") === "click").select(col("h"), lit(1).as("__a"))
        val b = sk.filter(col("event_type") === "purchase").select(col("h"), lit(1).as("__b"))
        union.join(a, Seq("h"), "left").join(b, Seq("h"), "left")
          .agg(count(lit(1)).as("n_union_mins"),
            max(col("h")).as("hk"),
            count(when(col("__a") === 1 && col("__b") === 1, 1)).as("n_both"))
          .select(
            when(col("n_union_mins") < k, col("n_union_mins").cast("double"))
              .otherwise(lit((k - 1).toDouble) * lit(math.pow(2.0, 60)) / col("hk"))
              .as("est_union"),
            (col("n_both").cast("double") / col("n_union_mins")).as("jaccard"),
            (when(col("n_union_mins") < k, col("n_union_mins").cast("double"))
              .otherwise(lit((k - 1).toDouble) * lit(math.pow(2.0, 60)) / col("hk"))
              * col("n_both").cast("double") / col("n_union_mins"))
              .as("est_intersection"))
      },
      Some("""WITH h AS (
          SELECT DISTINCT event_type,
            ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM events WHERE event_type IN ('click', 'purchase')),
        sk AS (
          SELECT event_type, h FROM (
            SELECT event_type, h,
              row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
            FROM h) WHERE rn <= 64),
        un AS (
          SELECT h FROM (
            SELECT h, row_number() OVER (ORDER BY h) AS urn
            FROM (SELECT DISTINCT h FROM sk)) WHERE urn <= 64),
        m AS (
          SELECT COUNT(*) AS n_union_mins, max(un.h) AS hk,
            COUNT(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL THEN 1 END) AS n_both
          FROM un
          LEFT JOIN (SELECT h FROM sk WHERE event_type = 'click') a ON un.h = a.h
          LEFT JOIN (SELECT h FROM sk WHERE event_type = 'purchase') b ON un.h = b.h)
        SELECT
          CASE WHEN n_union_mins < 64 THEN CAST(n_union_mins AS DOUBLE)
               ELSE 63.0 * power(2.0, 60) / hk END AS est_union,
          CAST(n_both AS DOUBLE) / n_union_mins AS jaccard,
          (CASE WHEN n_union_mins < 64 THEN CAST(n_union_mins AS DOUBLE)
                ELSE 63.0 * power(2.0, 60) / hk END)
            * n_both / n_union_mins AS est_intersection
        FROM m""")),

    // E14d: exact weighted quantile (CH quantileExactWeighted) —
    // smallest value whose cumulative weight reaches half the total.
    // All weight arithmetic is integer (2·cumw ≥ total, no fractional
    // threshold), and the qualifying price is independent of tie order
    // among equal values (a tie group qualifies iff its END cumulative
    // weight does), so the result is deterministic across engines and
    // partitionings. One key shuffle + per-partition sort, like any
    // grouped window.
    QueryDef("e14d_weighted_median",
      (s, dir) => {
        // two-level bucketed median (ScaleOps.weightedMedian): a plain
        // per-group cumulative window would sort each group's whole
        // data in one task (3 groups here); the bucketed version only
        // windows the threshold bucket's rows. Same integer-threshold
        // semantics, same result.
        graft.operators.ScaleOps.weightedMedian(
            Tables.lineitem(s, dir)
              .select(col("l_returnflag"), col("l_extendedprice"),
                col("l_quantity").cast("long").as("w")),
            "l_returnflag", "l_extendedprice", "w", 1000.0)
          .orderBy("l_returnflag")
      },
      Some("""WITH c AS (
          SELECT l_returnflag, l_extendedprice,
            SUM(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag
              ORDER BY l_extendedprice
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
            SUM(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag) AS tw
          FROM lineitem)
        SELECT l_returnflag,
          min(CASE WHEN cumw * 2 >= tw THEN l_extendedprice END) AS weighted_median
        FROM c GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // E26: Pearson correlation (CH corr) with engine-portable math:
    // the five sufficient statistics accumulate as EXACT integers
    // (prices in cents; decimal sums where a bigint could overflow at
    // scale), then one fixed double-expression computes r — both
    // engines round the same exact integers to the same doubles and
    // run the same IEEE ops. Spark's own corr() (like DuckDB's) is a
    // float reduction whose value depends on fold order — fine
    // statistically, but not reproducible; this one is bit-stable
    // across partitionings and reruns. Single map-side-combined
    // aggregation, one shuffle of 5 numbers per group.
    QueryDef("e26_correlation",
      (s, dir) => {
        val x = col("l_quantity").cast("long")
        val yc = round(col("l_extendedprice") * 100).cast("long")
        val d = (c: org.apache.spark.sql.Column) => c.cast("double")
        Tables.lineitem(s, dir)
          .select(col("l_returnflag"), x.as("x"), yc.as("y"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("y").cast("decimal(38,0)")).as("sy"),
            sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
          .select(col("l_returnflag"),
            round((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
              (sqrt(d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
               sqrt(d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy")))), 9)
              .as("corr_qty_price"))
          .orderBy("l_returnflag")
      },
      Some("""WITH s AS (
          SELECT l_returnflag, COUNT(*) AS n,
            SUM(CAST(l_quantity AS BIGINT)) AS sx,
            SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sy,
            SUM(CAST(l_quantity AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sxy,
            SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
            SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS syy
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag,
          round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
            (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
             sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9)
            AS corr_qty_price
        FROM s ORDER BY l_returnflag""")),

    // E27: deltaSum (CH) — the sum of positive step-ups of a series
    // per key (total climb from a sawtooth altitude trace). Deltas
    // subtract in exact decimal BEFORE summing (a double-subtract
    // then decimal-cast would round half-up in Spark and half-even in
    // DuckDB); keys are many, so the lag window is one healthy hash
    // shuffle, and the aggregation combines map-side.
    QueryDef("e27_delta_sum",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val dv = col("value").cast("decimal(18,2)") -
          lag(col("value").cast("decimal(18,2)"), 1).over(w)
        Tables.events(s, dir)
          .withColumn("__d", dv)
          .groupBy("user_id")
          .agg(sum(when(col("__d") > 0, col("__d"))).cast("double").as("delta_sum"),
            count(lit(1)).as("n_events"))
          .orderBy("user_id")
      },
      Some("""WITH d AS (
          SELECT user_id,
            CAST(value AS DECIMAL(18,2)) - lag(CAST(value AS DECIMAL(18,2)))
              OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dd
          FROM events)
        SELECT user_id, CAST(SUM(CASE WHEN dd > 0 THEN dd END) AS DOUBLE) AS delta_sum,
          COUNT(*) AS n_events
        FROM d GROUP BY user_id ORDER BY user_id""")),

    // CH quantileTDigest analog — sketch-based, engine-specific → rows-only.
    // Quantiles projected as scalar columns (not array<double>): the
    // driver's pandas-side row sort cannot order ndarray cells.
    QueryDef("e14b_approx_quantiles",
      (s, dir) => {
        Tables.events(s, dir)
          .groupBy("event_type")
          .agg(expr("approx_percentile(value, array(0.5, 0.95), 1000)").as("approx_p"))
          .select(col("event_type"),
            element_at(col("approx_p"), 1).as("p50"),
            element_at(col("approx_p"), 2).as("p95"))
          .orderBy("event_type")
      },
      None),

    // E14c: hash-sampled quantiles — the portable approximate-quantile
    // path: exact percentiles over a deterministic 1-in-8 key sample.
    // Unlike t-digest/GK sketches the estimate is a pure function of
    // the (reproducible) sample, so any engine agrees bit-for-bit;
    // at 100 TB the sample keeps the exact-percentile sort bounded.
    QueryDef("e14c_sampled_quantiles",
      (s, dir) => Tables.events(s, dir)
        .filter(HashFunctions.md5prefix64(col("event_id").cast("string")) % 8 === 0)
        .groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.95)").as("p95"),
          count(lit(1)).as("n_sampled"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
          quantile_cont(value, 0.5) AS p50,
          quantile_cont(value, 0.95) AS p95,
          COUNT(*) AS n_sampled
        FROM events
        WHERE ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 8 = 0
        GROUP BY event_type ORDER BY event_type""")),

    QueryDef("e14_quantiles",
      (s, dir) => {
        Tables.events(s, dir)
          .groupBy("event_type")
          .agg(
            expr("percentile(value, 0.25)").as("p25"),
            expr("percentile(value, 0.5)").as("p50"),
            expr("percentile(value, 0.75)").as("p75"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
        quantile_cont(value, 0.25) AS p25,
        quantile_cont(value, 0.5) AS p50,
        quantile_cont(value, 0.75) AS p75
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // E14e: deterministic FIXED-GRID mergeable quantile sketch — the
    // e13f treatment applied to quantiles, closing e14b's rows-only
    // class: t-digest/GK internals are order-dependent float state no
    // SQL engine replays, so respell the summary as per-(group, grid
    // cell) COUNTS (merge = addition — commutes, partition-invariant,
    // map-side combined; the shuffle carries one row per OCCUPIED
    // cell, bounded by value-range·G, never by row count) and read
    // quantiles out at INTEGER RANKS (smallest cell whose cumulative
    // count reaches ceil(q·n) — pure BIGINT, no interpolation). The
    // estimate is the true quantile's cell, so error ≤ one grid step
    // by construction; the cumulative window runs over the SKETCH
    // (≤ ~500 cells/group here), never the corpus. Fully oracled —
    // what e14b's approx_percentile internals can never be.
    QueryDef("e14e_grid_quantile_sketch",
      (s, dir) => {
        val sk = graft.operators.ScaleOps.gridQuantileSketch(
          Tables.events(s, dir), "event_type", "value")
        graft.operators.ScaleOps.gridQuantiles(
            sk, "event_type", Seq(25, 50, 75, 95))
          .orderBy("event_type")
      },
      Some("""WITH sk AS (
          SELECT event_type, CAST(floor(value) AS BIGINT) AS cell,
            CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY event_type, cell),
        n AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
            CAST(COUNT(*) AS BIGINT) AS n_cells
          FROM sk GROUP BY event_type),
        cum AS (SELECT event_type, cell,
            CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY cell) AS BIGINT) AS cum
          FROM sk)
        SELECT c.event_type, n.n, n.n_cells,
          MIN(CASE WHEN cum >= (n * 25 + 99) // 100 THEN cell END) AS p25_cell,
          MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN cell END) AS p50_cell,
          MIN(CASE WHEN cum >= (n * 75 + 99) // 100 THEN cell END) AS p75_cell,
          MIN(CASE WHEN cum >= (n * 95 + 99) // 100 THEN cell END) AS p95_cell
        FROM cum c JOIN n USING (event_type)
        GROUP BY c.event_type, n.n, n.n_cells
        ORDER BY event_type""")),

    // E14f: grid-SIZING report for the e14e sketch (the F10/G8
    // instrument treatment, r11 verdict #7) — measured rank error per
    // grid density, so gridPerUnit is sized against a target instead
    // of the one-step bound: per (G ∈ {1,2,4,8}, group), the sketch
    // size (n_cells — the cost axis) and cum(answered cell) −
    // ceil(q·n/100) for p50/p95 (0 = rank-exact read-out). G values
    // are powers of two so value·G is float-exact in BOTH engines
    // and the grids NEST — nested grids make the error provably
    // non-increasing in G (spec-pinned). Integer arithmetic
    // end-to-end; ONE corpus scan total (the finest sketch, with the
    // grid fan-out exploded in sketch space), shuffles bounded by
    // (grid, group, cell).
    QueryDef("e14f_grid_sizing_report",
      (s, dir) => {
        graft.operators.ScaleOps.gridSizingReport(
            Tables.events(s, dir), "event_type", "value",
            Seq(1, 2, 4, 8), Seq(50, 95))
          .orderBy("grid", "event_type")
      },
      Some {
        def rep(g: Int): String = {
          val p = s"g$g"
          s"""${p}sk AS (
            SELECT event_type, CAST(floor(value * $g) AS BIGINT) AS cell,
              CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY event_type, cell),
          ${p}n AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
              CAST(COUNT(*) AS BIGINT) AS n_cells
            FROM ${p}sk GROUP BY event_type),
          ${p}cum AS (SELECT event_type, cell,
              CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY cell) AS BIGINT) AS cum
            FROM ${p}sk),
          ${p}rep AS (
            SELECT CAST($g AS BIGINT) AS grid, c.event_type, n.n, n.n_cells,
              CAST(MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN cum END)
                - (n * 50 + 99) // 100 AS BIGINT) AS rank_err_p50,
              CAST(MIN(CASE WHEN cum >= (n * 95 + 99) // 100 THEN cum END)
                - (n * 95 + 99) // 100 AS BIGINT) AS rank_err_p95
            FROM ${p}cum c JOIN ${p}n n USING (event_type)
            GROUP BY c.event_type, n.n, n.n_cells)"""
        }
        s"""WITH ${Seq(1, 2, 4, 8).map(rep).mkString(",\n")}
          ${Seq(1, 2, 4, 8).map(g => s"SELECT * FROM g${g}rep").mkString("\nUNION ALL ")}
          ORDER BY grid, event_type"""
      }),

    QueryDef("e15_set_ops",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val p = ev.filter(col("event_type") === "purchase").select("user_id").distinct()
        val e = ev.filter(col("event_type") === "error").select("user_id").distinct()
        p.except(e).withColumn("op", lit("except"))
          .unionByName(p.intersect(e).withColumn("op", lit("intersect")))
          .select("op", "user_id")
          .orderBy("op", "user_id")
      },
      Some("""SELECT 'except' AS op, user_id FROM (
          SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
          EXCEPT SELECT DISTINCT user_id FROM events WHERE event_type = 'error') a
        UNION ALL
        SELECT 'intersect' AS op, user_id FROM (
          SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
          INTERSECT SELECT DISTINCT user_id FROM events WHERE event_type = 'error') b
        ORDER BY op, user_id""")),

    QueryDef("e16_scalar_funcs",
      (s, dir) => {
        Tables.orders(s, dir)
          .select(col("o_orderkey"),
            upper(substring(col("o_orderpriority"), 1, 8)).as("pri"),
            year(col("o_orderdate")).as("y"),
            month(col("o_orderdate")).as("m"),
            quarter(col("o_orderdate")).as("q"),
            length(col("o_orderstatus")).as("status_len"),
            when(col("o_totalprice") < 50000, "S")
              .when(col("o_totalprice") < 200000, "M")
              .otherwise("L").as("bucket"),
            floor(col("o_totalprice")).cast("long").as("price_floor"),
            ceil(col("o_totalprice")).cast("long").as("price_ceil"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
        upper(substr(o_orderpriority, 1, 8)) AS pri,
        CAST(year(o_orderdate) AS INT) AS y,
        CAST(month(o_orderdate) AS INT) AS m,
        CAST(quarter(o_orderdate) AS INT) AS q,
        CAST(length(o_orderstatus) AS INT) AS status_len,
        CASE WHEN o_totalprice < 50000 THEN 'S'
             WHEN o_totalprice < 200000 THEN 'M' ELSE 'L' END AS bucket,
        CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
        CAST(ceil(o_totalprice) AS BIGINT) AS price_ceil
        FROM orders ORDER BY o_orderkey""")),

    QueryDef("e17_scalar_subquery",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val mx = o.agg((max(col("o_totalprice")) * 0.9).as("cutoff"))
        o.crossJoin(broadcast(mx))
          .filter(col("o_totalprice") > col("cutoff"))
          .select("o_orderkey", "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_totalprice > (SELECT max(o_totalprice) * 0.9 FROM orders)
        ORDER BY o_orderkey""")),

    // E31: per-key trailing moving average (CH `groupArrayMovingAvg` /
    // the dashboard smoothing window): 5-row window, decimal-exact
    // numerator, one IEEE division by the actual window row count
    // (so leading partial windows are exact too). One key shuffle.
    QueryDef("e31_moving_avg",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id")).rowsBetween(-4, 0)
        Tables.events(s, dir)
          .withColumn("ma5",
            sum(col("value").cast("decimal(18,2)")).over(w).cast("double") /
              count(lit(1)).over(w))
          .select("event_id", "user_id", "ma5")
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT event_id, user_id,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) / COUNT(*) OVER w AS ma5
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        ORDER BY user_id, event_id""")),

    // E31b: TIME-range moving aggregate — the frame is `RANGE 600
    // seconds PRECEDING`, not N rows: the window an irregular event
    // stream actually wants (a row-frame mixes 5 events from 5
    // minutes with 5 from 5 days). Spark `rangeBetween` over unix
    // seconds; the frame sum is exact decimal so its value is
    // independent of intra-frame accumulation order (ties at one
    // timestamp would otherwise make a double sum engine-ordered).
    QueryDef("e31b_time_range_avg",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_sec")).rangeBetween(-600, 0)
        Tables.events(s, dir)
          .withColumn("ts_sec", unix_seconds(col("ts")))
          .withColumn("n_10m", count(lit(1)).over(w))
          .withColumn("avg_10m",
            sum(col("value").cast("decimal(18,2)")).over(w).cast("double") /
              col("n_10m"))
          .select("event_id", "user_id", "n_10m", "avg_10m")
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT event_id, user_id, COUNT(*) OVER w AS n_10m,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
            / COUNT(*) OVER w AS avg_10m
        FROM (SELECT *, epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS ts_sec FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
                     RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
        ORDER BY user_id, event_id""")),

    // E28: capped distinct count (CH `uniqUpTo(N)`) — exact when the
    // group has ≤ N distinct values, reports N+1 otherwise ("more than
    // N"). The scale shape is the pre-aggregated distinct: the
    // (type, user) dedup is a map-side-combinable aggregation, and the
    // per-group count that follows moves one row per distinct pair.
    QueryDef("e28_uniq_upto",
      (s, dir) => Tables.events(s, dir)
        .select("event_type", "user_id").distinct()
        .groupBy("event_type")
        .agg(least(count(lit(1)), lit(41L)).as("uniq_upto_40"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
          least(COUNT(DISTINCT user_id), CAST(41 AS BIGINT)) AS uniq_upto_40
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // E29: GROUP BY ... WITH TOTALS (CH) — the per-group rows plus one
    // all-groups totals row, computed in the SAME single-shuffle
    // expand-aggregate as a rollup (no second pass over the data).
    QueryDef("e29_with_totals",
      (s, dir) => Tables.events(s, dir)
        .rollup("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .withColumn("event_type", coalesce(col("event_type"), lit("<TOTALS>")))
        .orderBy("event_type"),
      Some(s"""SELECT COALESCE(event_type, '<TOTALS>') AS event_type,
          COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
        FROM events GROUP BY ROLLUP (event_type)
        ORDER BY event_type""")),

    // E30: condition-chain retention (CH `retention(cond1, ...)`) —
    // per user, flag_i = cond_1 AND cond_i; the aggregate reports how
    // many users satisfy each prefix of the chain. One per-user
    // aggregation (map-side-combined boolean ORs) + one tiny global
    // sum — the per-user event list is never materialized.
    QueryDef("e30_retention_flags",
      (s, dir) => {
        def hit(t: String) =
          max(when(col("event_type") === t, 1).otherwise(0))
        Tables.events(s, dir)
          .groupBy("user_id")
          .agg(hit("view").as("c1"), hit("click").as("c2"),
            hit("purchase").as("c3"))
          .agg(count(lit(1)).as("n_users"),
            sum(col("c1")).as("r_view"),
            sum(col("c1") * col("c2")).as("r_view_click"),
            sum(col("c1") * col("c2") * col("c3")).as("r_view_click_purchase"))
      },
      Some("""WITH u AS (
          SELECT user_id,
            max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c1,
            max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c2,
            max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c3
          FROM events GROUP BY user_id)
        SELECT COUNT(*) AS n_users,
          CAST(SUM(c1) AS BIGINT) AS r_view,
          CAST(SUM(c1 * c2) AS BIGINT) AS r_view_click,
          CAST(SUM(c1 * c2 * c3) AS BIGINT) AS r_view_click_purchase
        FROM u"""))
  )
}

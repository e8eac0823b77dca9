package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.search.SearchEngine
import graft.tables.Tables

/** Central query registry: every operator from SURVEY.md §2 (and the
  * training-data-pipeline extensions) gets a named query plus, where
  * SQL-expressible, a DuckDB oracle over the same parquet tables.
  *
  * Determinism rules (applied to BOTH sides so value hashes match):
  *  - every computed float is rounded (6dp for scores, 2dp for money sums)
  *  - every result has a total deterministic ordering (score desc, id asc)
  *  - constants are cast to DOUBLE in the oracle (DuckDB would otherwise
  *    produce DECIMAL literals and the schemas would diverge)
  */
object Queries {

  final case class Q(
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  // ---------------------------------------------------------------------
  // Relational core (scans, aggregations, joins, windows — A*/J*/W*/T*)
  // ---------------------------------------------------------------------

  val relational: Map[String, Q] = Map(
    // A3/A1-style grouped aggregation — pricing summary over lineitem.
    "q1_agg" -> Q(
      (s, d) => Tables(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1.0::DOUBLE - l_discount)), 2) AS sum_disc_price,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
      """)),

    // Joins at scale: orders x lineitem revenue top-10 (partial agg before
    // the shuffle; AQE picks broadcast when the filtered side is small).
    "q2_join_revenue" -> Q(
      (s, d) => {
        val l = Tables(s, d, "lineitem")
        val o = Tables(s, d, "orders").where(col("o_orderstatus") === "F")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderkey"), col("o_orderpriority"))
          .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey").asc)
          .limit(10)
      },
      Some("""
        SELECT o_orderkey, o_orderpriority,
               round(sum(l_extendedprice * (1.0::DOUBLE - l_discount)), 2) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
        GROUP BY o_orderkey, o_orderpriority
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
      """)),

    // Multi-way broadcast join: customer -> nation -> region rollup.
    "q3_join_multiway" -> Q(
      (s, d) => {
        val c = Tables(s, d, "customer")
        val n = broadcast(Tables(s, d, "nation"))
        val r = broadcast(Tables(s, d, "region"))
        c.join(n, col("c_nationkey") === col("n_nationkey"))
          .join(r, col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(count(lit(1)).as("n_customers"),
            round(sum(col("c_acctbal")), 2).as("sum_bal"))
          .orderBy(col("r_name"))
      },
      Some("""
        SELECT r_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_bal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name
      """)),

    // W1/W2: ranking window — top-2 orders per customer by price.
    "q4_window_topn" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Tables(s, d, "orders")
          .withColumn("rn", row_number().over(w).cast("long"))
          .where(col("rn") <= 2)
          .select(col("o_custkey"), col("o_orderkey"), col("rn"))
          .orderBy(col("o_custkey"), col("rn"))
      },
      Some("""
        SELECT o_custkey, o_orderkey, rn FROM (
          SELECT o_custkey, o_orderkey,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM orders)
        WHERE rn <= 2 ORDER BY o_custkey, rn
      """)),

    // Range join (point-in-interval) as a bucketized EQUI-join — the
    // operator Spark would otherwise plan as a nested-loop. Overlapping
    // price bands derived from nation; orders land in every band whose
    // interval contains their total price.
    "q14_range_join" -> Q(
      (s, d) => {
        val bands = Tables(s, d, "nation").select(
          col("n_nationkey").cast("long").as("band_id"),
          (col("n_nationkey") * 8000).cast("double").as("lo"),
          (col("n_nationkey") * 8000 + 20000).cast("double").as("hi"))
        graft.operators.RangeJoin.pointInInterval(
            Tables(s, d, "orders").select(col("o_totalprice")),
            "o_totalprice", bands, "lo", "hi", bucketWidth = 10000.0)
          .groupBy(col("band_id"))
          .agg(count(lit(1)).as("n_orders"),
            // sum not avg: avg can land on a half-cent boundary where
            // engine-dependent float summation order flips the rounding
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .orderBy(col("band_id"))
      },
      Some("""
        WITH bands AS (
          SELECT n_nationkey::BIGINT AS band_id,
                 (n_nationkey * 8000)::DOUBLE AS lo,
                 (n_nationkey * 8000 + 20000)::DOUBLE AS hi
          FROM nation)
        SELECT band_id, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS sum_price
        FROM orders JOIN bands
          ON o_totalprice >= lo AND o_totalprice <= hi
        GROUP BY band_id ORDER BY band_id
      """)),

    // UNPIVOT/melt (the inverse of q20's pivot): a wide per-source metric
    // row reshaped to long (source, metric, value) — how monitoring and
    // feature stores want their tables. One aggregate pass builds the
    // wide row; the melt is a zero-shuffle Expand.
    "q24_unpivot" -> Q(
      (s, d) => Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(avg(col("n_chars")).as("m_avg_chars"),
          count(lit(1)).cast("double").as("m_docs"),
          countDistinct(col("lang")).cast("double").as("m_langs"))
        .unpivot(Array(col("source")),
          Array(col("m_avg_chars"), col("m_docs"), col("m_langs")),
          "metric", "value")
        .orderBy(col("source"), col("metric")),
      Some("""
        WITH wide AS (
          SELECT source, avg(n_chars) AS m_avg_chars,
                 count(*)::DOUBLE AS m_docs,
                 count(DISTINCT lang)::DOUBLE AS m_langs
          FROM documents GROUP BY source)
        SELECT source, metric, value
        FROM wide UNPIVOT (value FOR metric IN (m_avg_chars, m_docs, m_langs))
        ORDER BY source, metric
      """)),

    // ANALYZE-style exact column statistics in ONE pass (row count, NDV,
    // null count, min/max per column) — the CBO feeder every warehouse
    // runs before planning; multi-column distinct aggregates compile to
    // a single Expand + partial-agg job, not one scan per column. Exact
    // NDV here (oracle-matchable); the sketch path for 100 TB is
    // x1_approx_distinct's HLL.
    "q25_column_stats" -> Q(
      (s, d) => {
        val li = Tables(s, d, "lineitem")
        // Three countDistincts in ONE Aggregate plan as a 4-way Expand of
        // the corpus (row count ×4 into a wide two-stage shuffle keyed by
        // all three value columns + gid). Instead: one narrow
        // (column-tag, value) union deduped in a single partial-combined
        // exchange, counted per tag in the same pipeline — hash-probes
        // 1.8M two-column rows instead of 2.4M ten-column ones and
        // shuffles only per-partition-distinct values. Value-identical:
        // count(DISTINCT x) ignores nulls (the isNotNull filter) and
        // hash-agg keys get the same NaN/-0.0 normalization either way.
        val vals = li.select(lit("q").as("cid"), col("l_quantity").as("v"))
          .unionAll(li.select(lit("p").as("cid"), col("l_extendedprice").as("v")))
          .unionAll(li.select(lit("d").as("cid"), col("l_discount").as("v")))
          .where(col("v").isNotNull)
        val ndvs = vals.distinct().agg(
          count(when(col("cid") === "q", 1)).as("ndv_q"),
          count(when(col("cid") === "p", 1)).as("ndv_p"),
          count(when(col("cid") === "d", 1)).as("ndv_d"))
        val wide = li.agg(
            count(lit(1)).as("n_rows"),
            count(when(col("l_quantity").isNull, 1)).as("nulls_q"),
            min(col("l_quantity")).as("min_q"), max(col("l_quantity")).as("max_q"),
            count(when(col("l_extendedprice").isNull, 1)).as("nulls_p"),
            min(col("l_extendedprice")).as("min_p"), max(col("l_extendedprice")).as("max_p"),
            count(when(col("l_discount").isNull, 1)).as("nulls_d"),
            min(col("l_discount")).as("min_d"), max(col("l_discount")).as("max_d"))
          .crossJoin(broadcast(ndvs))
        wide.select(expr(
            """stack(3,
               'l_discount', ndv_d, nulls_d, min_d, max_d,
               'l_extendedprice', ndv_p, nulls_p, min_p, max_p,
               'l_quantity', ndv_q, nulls_q, min_q, max_q
             ) as (column_name, ndv, n_nulls, min_v, max_v)"""),
            col("n_rows"))
          .select(col("column_name"), col("n_rows"), col("ndv"),
            col("n_nulls"), col("min_v"), col("max_v"))
          .orderBy(col("column_name"))
      },
      Some("""
        WITH a AS (
          SELECT count(*) AS n_rows,
                 count(DISTINCT l_quantity) AS ndv_q,
                 count(CASE WHEN l_quantity IS NULL THEN 1 END) AS nulls_q,
                 min(l_quantity) AS min_q, max(l_quantity) AS max_q,
                 count(DISTINCT l_extendedprice) AS ndv_p,
                 count(CASE WHEN l_extendedprice IS NULL THEN 1 END) AS nulls_p,
                 min(l_extendedprice) AS min_p, max(l_extendedprice) AS max_p,
                 count(DISTINCT l_discount) AS ndv_d,
                 count(CASE WHEN l_discount IS NULL THEN 1 END) AS nulls_d,
                 min(l_discount) AS min_d, max(l_discount) AS max_d
          FROM lineitem)
        SELECT column_name, n_rows, ndv, n_nulls, min_v, max_v FROM (
          SELECT 'l_discount' AS column_name, n_rows, ndv_d AS ndv,
                 nulls_d AS n_nulls, min_d AS min_v, max_d AS max_v FROM a
          UNION ALL
          SELECT 'l_extendedprice', n_rows, ndv_p, nulls_p, min_p, max_p FROM a
          UNION ALL
          SELECT 'l_quantity', n_rows, ndv_q, nulls_q, min_q, max_q FROM a)
        ORDER BY column_name
      """)),

    // Equi-width histogram (q25's distribution half): 10 buckets over
    // l_extendedprice between the observed min/max — the CBO selectivity
    // feeder and the ops dashboard primitive. Two stages by necessity
    // (bounds, then bucketing) but the bounds ride a one-row broadcast:
    // the corpus is scanned twice and shuffled never (bucket agg is
    // partial + 10-row final).
    "q26_histogram" -> Q(
      (s, d) => {
        val li = Tables(s, d, "lineitem")
        val bounds = li.agg(min(col("l_extendedprice")).as("lo"),
          max(col("l_extendedprice")).as("hi"))
        li.crossJoin(broadcast(bounds))
          .select(least(floor((col("l_extendedprice") - col("lo")) * 10.0 /
              (col("hi") - col("lo"))), lit(9L)).cast("long").as("bucket"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("bucket"))
      },
      Some("""
        WITH b AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
                   FROM lineitem)
        SELECT least(floor((l_extendedprice - lo) * 10.0 / (hi - lo)), 9)::BIGINT AS bucket,
               count(*) AS n
        FROM lineitem CROSS JOIN b
        GROUP BY 1 ORDER BY bucket
      """)),

    // Event transition matrix (first-order Markov): per-user next-event
    // pairs via a lead window partitioned by user, rolled up with row
    // shares — session-flow analytics (where do users go after a view?).
    // One user-partitioned window + one pair aggregation; ties at equal
    // timestamps break on event_id for a deterministic sequence.
    "q31_transitions" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val pairs = Tables.events(s, d)
          .withColumn("next", lead(col("event_type"), 1).over(w))
          .where(col("next").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("next").as("to_type"))
          .agg(count(lit(1)).as("n"))
        val totals = Window.partitionBy(col("from_type"))
        pairs
          .withColumn("p", round(col("n").cast("double") /
            sum(col("n")).over(totals), 6))
          .orderBy(col("from_type"), col("to_type"))
      },
      Some("""
        WITH seq AS (
          SELECT user_id, event_type,
                 lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS next
          FROM events),
        pairs AS (
          SELECT event_type AS from_type, next AS to_type, count(*) AS n
          FROM seq WHERE next IS NOT NULL GROUP BY 1, 2)
        SELECT from_type, to_type, n,
               round(n::DOUBLE / sum(n) OVER (PARTITION BY from_type), 6) AS p
        FROM pairs ORDER BY from_type, to_type
      """)),

    // Join-key skew profile — the pre-join diagnostic that decides
    // salting/AQE-skew handling at scale: per-key counts (ONE map-side
    // combined aggregation over the fact table), rolled up to total +
    // distinct-key count (aggregation over the already-reduced key table),
    // top-20 heaviest keys with share-of-total and ratio-vs-mean. All
    // ratios are single divisions of exact integers (no float re-sums).
    "q32_key_skew" -> Q(
      (s, d) => {
        val counts = Tables(s, d, "lineitem")
          .groupBy(col("l_partkey").as("key"))
          .agg(count(lit(1)).as("n"))
        val tot = counts.agg(sum(col("n")).as("total"),
          count(lit(1)).as("n_keys"))
        counts.crossJoin(broadcast(tot))
          .select(col("key"), col("n"),
            round(col("n").cast("double") / col("total").cast("double"), 6)
              .as("share"),
            round((col("n") * col("n_keys")).cast("double") /
              col("total").cast("double"), 6).as("skew_vs_mean"))
          .orderBy(col("n").desc, col("key")).limit(20)
      },
      Some("""
        WITH c AS (
          SELECT l_partkey AS key, count(*) AS n FROM lineitem GROUP BY 1),
        t AS (SELECT sum(n) AS total, count(*) AS n_keys FROM c)
        SELECT key, n,
               round(n::DOUBLE / total::DOUBLE, 6) AS share,
               round((n * n_keys)::DOUBLE / total::DOUBLE, 6) AS skew_vs_mean
        FROM c CROSS JOIN t
        ORDER BY n DESC, key LIMIT 20
      """)),

    // ABC / Pareto classification: parts ranked by revenue, classified by
    // cumulative share (A ≤ 50%, B ≤ 80%, C rest). The global window runs
    // over the AGGREGATED part table (catalog-sized, not corpus-sized) —
    // the corpus-scale work is the one revenue groupBy. The running sum
    // is an ordered accumulation (deterministic); the total is its last
    // value via max-over-all, never an unordered float re-sum.
    "q30_abc_analysis" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // EXACT revenue: price and discount are 2-decimal, so
        // price_cents * (100 - disc_pct) is an integer in 1e-4 currency
        // units — immune to the float-summation-order half-cent flips
        // that round(sum(double),2) suffers across engines, both in the
        // per-part aggregate AND the running cumulative.
        // catalog-sized and consumed by all three passes below (bounds,
        // per-bucket stats, final plan) — materialize the corpus
        // aggregation once
        val rev = Tables(s, d, "lineitem")
          .groupBy(col("l_partkey"))
          .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long") *
            (lit(100L) - round(col("l_discount") * 100, 0).cast("long")))
            .as("units"))
          .localCheckpoint()
        // r16 (VERDICT #6): the rank + running sum used to be a global
        // Window.orderBy — a single-partition funnel of the whole part
        // catalog at 100 TB. Now the SeqPack.globalOffsets two-pass
        // discipline on the SAME total order (units desc, partkey asc):
        // value-derived buckets from quantiles of the order key
        // (collected once as plan literals — a physical-partition-id
        // bucketing could disagree with itself between passes), one
        // bounded per-bucket (count, sum) pass to the driver, exclusive
        // offsets broadcast back, per-BUCKET windows for the local
        // rank/cumsum. Integer arithmetic throughout, so the recomposed
        // rank/cum equal the one-window form bit-for-bit at any
        // boundary choice (PlanShapeSpec pins ≡; the oracle states the
        // one-window form).
        val parts = 8
        val negUnits = (-col("units")).cast("double") // asc == units desc
        val qs = (1 until parts).map(_.toDouble / parts)
        val bounds: Seq[Double] = rev
          .select(percentile_approx(negUnits, array(qs.map(lit): _*),
            lit(10000)).as("bs"))
          .collect().headOption
          .flatMap(r => Option(r.getSeq[Double](0))).getOrElse(Seq.empty)
        val bucket = bounds.map(b => when(negUnits > lit(b), 1).otherwise(0))
          .foldLeft(lit(0))(_ + _)
        val bucketed = rev.withColumn("__pid", bucket)
        // ties in units share a bucket (strict > on the boundary), so
        // buckets are contiguous runs of the total order and the
        // partkey tiebreak resolves inside one window
        val partStats = bucketed.groupBy(col("__pid"))
          .agg(count(lit(1)).as("n"), sum(col("units")).as("s"))
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1)
        val total = partStats.map(_._3).sum // exact long, == max cum
        val offs = partStats.scanLeft((0, 0L, 0L)) {
          case ((_, nAcc, sAcc), (pid, n, sm)) => (pid + 1, nAcc + n, sAcc + sm)
        }.init.zip(partStats).map { case ((_, nOff, sOff), (pid, _, _)) =>
          (pid, nOff, sOff)
        }
        import s.implicits._
        val offDf = broadcast(
          offs.toSeq.toDF("__pid", "__rank_off", "__cum_off"))
        val wB = Window.partitionBy(col("__pid"))
          .orderBy(col("units").desc, col("l_partkey").asc)
        val share = bucketed.join(offDf, Seq("__pid"))
          .withColumn("rank",
            (col("__rank_off") + row_number().over(wB)).cast("int"))
          .withColumn("cum", col("__cum_off") + sum(col("units")).over(wB))
          .withColumn("cum_share",
            round(col("cum").cast("double") / lit(total), 6))
        share.select(col("l_partkey").as("partkey"),
            // integer HALF_UP to cents: double rounding at exact half-cents
            // is engine-dependent (string-decimal vs binary semantics)
            (expr("(units + 50) div 100").cast("double") / 100.0).as("revenue"),
            col("rank"), col("cum_share"),
            when(col("cum_share") <= 0.5, "A")
              .when(col("cum_share") <= 0.8, "B")
              .otherwise("C").as("abc_class"))
          .orderBy(col("rank"))
      },
      Some("""
        WITH rev AS (
          SELECT l_partkey AS partkey,
                 sum(round(l_extendedprice * 100, 0)::BIGINT *
                     (100 - round(l_discount * 100, 0)::BIGINT)) AS units
          FROM lineitem GROUP BY 1),
        r AS (
          SELECT partkey, units,
                 row_number() OVER (ORDER BY units DESC, partkey ASC) AS rank,
                 sum(units) OVER (ORDER BY units DESC, partkey ASC) AS cum
          FROM rev),
        t AS (SELECT max(cum) AS total FROM r)
        SELECT partkey, ((units + 50) // 100)::DOUBLE / 100.0 AS revenue, rank::INT AS rank,
               round(cum::DOUBLE / total, 6) AS cum_share,
               CASE WHEN round(cum::DOUBLE / total, 6) <= 0.5 THEN 'A'
                    WHEN round(cum::DOUBLE / total, 6) <= 0.8 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM r CROSS JOIN t ORDER BY rank
      """)),

    // Weekly cohort retention: users grouped by first-activity week, each
    // cohort's active-user count per week offset. Three user-keyed aggs +
    // one cohort-keyed join — the frame shrinks at every step, nothing
    // per-user materializes.
    "q29_retention" -> Q(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
        val first = ev.groupBy("user_id").agg(min("wk").as("cohort"))
        val size = first.groupBy("cohort")
          .agg(countDistinct("user_id").as("cohort_users"))
        val act = ev.distinct().join(first, "user_id")
          .select(col("cohort"),
            (datediff(col("wk"), col("cohort")) / 7).cast("int").as("week_offset"),
            col("user_id"))
          .groupBy("cohort", "week_offset")
          .agg(countDistinct("user_id").as("active_users"))
        act.join(size, "cohort")
          .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
            col("week_offset"), col("active_users"), col("cohort_users"),
            round(col("active_users").cast("double") / col("cohort_users"), 6)
              .as("retention"))
          .orderBy(col("cohort_week"), col("week_offset"))
      },
      Some("""
        WITH ev AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
                    FROM events),
        first AS (SELECT user_id, min(wk) AS cohort FROM ev GROUP BY user_id),
        csize AS (SELECT cohort, count(DISTINCT user_id) AS cohort_users
                  FROM first GROUP BY cohort),
        act AS (
          SELECT cohort, (date_diff('day', cohort, wk) / 7)::INT AS week_offset,
                 count(DISTINCT e.user_id) AS active_users
          FROM ev e JOIN first f ON e.user_id = f.user_id
          GROUP BY cohort, week_offset)
        SELECT strftime(a.cohort, '%Y-%m-%d') AS cohort_week,
               week_offset, active_users, cohort_users,
               round(active_users::DOUBLE / cohort_users, 6) AS retention
        FROM act a JOIN csize c ON a.cohort = c.cohort
        ORDER BY cohort_week, week_offset
      """)),

    // Item-item co-visitation ("users also viewed"): distinct (user, item)
    // view pairs self-joined on user, Jaccard-normalized by item supports.
    // Scale note: the per-user pair expansion is quadratic in a user's
    // DISTINCT item count — production caps items per hot user
    // (Sampling.capPerGroup) before the join; at this corpus' fan-out the
    // exact join IS the oracle-checkable form.
    "q28_covisitation" -> Q(
      (s, d) => {
        val uv = Tables.events(s, d)
          .where(col("event_type") === "view")
          .select(col("user_id"),
            get_json_object(col("props"), "$.k").cast("long").as("item"))
          .distinct()
        val supp = uv.groupBy(col("item")).agg(count(lit(1)).as("n"))
        val co = uv.select(col("user_id"), col("item").as("item_a"))
          .join(uv.select(col("user_id"), col("item").as("item_b")), "user_id")
          .where(col("item_a") < col("item_b"))
          .groupBy(col("item_a"), col("item_b"))
          .agg(count(lit(1)).as("n_co"))
        co.join(supp.select(col("item").as("item_a"), col("n").as("na")), "item_a")
          .join(supp.select(col("item").as("item_b"), col("n").as("nb")), "item_b")
          .select(col("item_a"), col("item_b"), col("n_co"),
            round(col("n_co").cast("double") /
              (col("na") + col("nb") - col("n_co")), 6).as("jaccard"))
          .orderBy(col("jaccard").desc, col("item_a").asc, col("item_b").asc)
          .limit(20)
      },
      Some("""
        WITH uv AS (
          SELECT DISTINCT user_id,
                 json_extract_string(props, '$.k')::BIGINT AS item
          FROM events WHERE event_type = 'view'),
        supp AS (SELECT item, count(*) AS n FROM uv GROUP BY item),
        co AS (
          SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_co
          FROM uv a JOIN uv b ON a.user_id = b.user_id AND a.item < b.item
          GROUP BY a.item, b.item)
        SELECT item_a, item_b, n_co,
               round(n_co::DOUBLE / (sa.n + sb.n - n_co), 6) AS jaccard
        FROM co
        JOIN supp sa ON sa.item = item_a
        JOIN supp sb ON sb.item = item_b
        ORDER BY jaccard DESC, item_a ASC, item_b ASC LIMIT 20
      """)),

    // Sequential funnel over the event stream: view -> click -> purchase,
    // each step's FIRST occurrence strictly after the previous step's.
    // Per-step min-timestamp aggs chained by user-keyed joins — each step
    // shrinks the frame, all map-side combinable; no per-user event-list
    // materialization (the collect_list funnel that dies on hot users).
    "q27_funnel" -> Q(
      (s, d) => {
        val ev = Tables.events(s, d)
        def first(tpe: String) = ev.where(col("event_type") === tpe)
          .select(col("user_id"), col("ts"))
        val v = first("view").groupBy("user_id").agg(min("ts").as("t1"))
        val c = first("click").join(v, "user_id").where(col("ts") > col("t1"))
          .groupBy("user_id").agg(min("ts").as("t2"))
        val p = first("purchase").join(c, "user_id").where(col("ts") > col("t2"))
          .groupBy("user_id").agg(min("ts").as("t3"))
        val n1 = v.agg(count(lit(1)).as("users"))
          .select(lit(1).as("step"), lit("view").as("event_type"), col("users"))
        val n2 = c.agg(count(lit(1)).as("users"))
          .select(lit(2).as("step"), lit("click").as("event_type"), col("users"))
        val n3 = p.agg(count(lit(1)).as("users"))
          .select(lit(3).as("step"), lit("purchase").as("event_type"), col("users"))
        val entered = v.agg(count(lit(1)).as("n0"))
        n1.unionByName(n2).unionByName(n3)
          .crossJoin(broadcast(entered))
          .select(col("step"), col("event_type"), col("users"),
            round(col("users").cast("double") / col("n0"), 6).as("conversion"))
          .orderBy("step")
      },
      Some("""
        WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
                   WHERE event_type = 'view' GROUP BY user_id),
        c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
              JOIN v ON e.user_id = v.user_id
              WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
        p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
              JOIN c ON e.user_id = c.user_id
              WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id),
        n0 AS (SELECT count(*) AS n0 FROM v),
        steps AS (
          SELECT 1 AS step, 'view' AS event_type, (SELECT count(*) FROM v) AS users
          UNION ALL
          SELECT 2, 'click', (SELECT count(*) FROM c)
          UNION ALL
          SELECT 3, 'purchase', (SELECT count(*) FROM p))
        SELECT step, event_type, users,
               round(users::DOUBLE / n0, 6) AS conversion
        FROM steps CROSS JOIN n0 ORDER BY step
      """)),

    // Interval-OVERLAP join (q14's interval×interval sibling): which user
    // pairs had concurrently-active sessions, and how often. Session
    // intervals come from the q6 sessionizer; the overlap join is
    // bucketized to an equi-join with first-shared-bucket emission (no
    // nested loop, no dedup shuffle) and the oracle is the plain theta
    // join it must equal.
    "q23_interval_overlap" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        val iv = Tables.events(s, d)
          .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
              .otherwise(0))
          .withColumn("session_no",
            sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("user_id"), col("session_no"))
          // TIMESTAMP_NTZ (what TIMESTAMP(NANOS) parquet reads as) can't
          // cast to double for bucketing; NTZ→LTZ is the identity under
          // the UTC session tz and keeps full microsecond precision in
          // the exact overlap predicates
          .agg(min(col("ts")).cast("timestamp").as("lo"),
            max(col("ts")).cast("timestamp").as("hi"))
          // both overlap arms read the interval set: materialize the
          // sessionizer ONCE (intervals are session-count-sized, tiny)
          .localCheckpoint()
        val a = iv.select(col("user_id").as("user_a"),
          col("lo").as("lo_a"), col("hi").as("hi_a"))
        val b = iv.select(col("user_id").as("user_b"),
          col("lo").as("lo_b"), col("hi").as("hi_b"))
        // Bucket width derived from the DATA, not a constant (r16, guide
        // §2.2 scale-adaptive partitioning): the result is width-invariant
        // (first-shared-bucket emission + exact overlap predicates), but
        // the candidate-pair count is not — sf0.1 sessions average 43 s,
        // so hour buckets packed ~40 concurrent sessions each into a
        // near-quadratic bucket join (probe: w=3600 1.0 s vs w∈[120,900]
        // ~0.5 s, identical 141 859 pairs). 4× the mean span keeps
        // buckets a few intervals deep at any scale; the 1-row agg rides
        // the already-checkpointed session frame. Floor 60 s caps explode
        // fan-out for sub-minute-session corpora; 3600 s default when
        // empty.
        val meanSpan = Option(iv.agg(avg(col("hi").cast("double") -
            col("lo").cast("double"))).head().get(0))
          .map(_.asInstanceOf[Double]).filterNot(_.isNaN).getOrElse(3600.0)
        val width = math.max(60.0, 4.0 * meanSpan)
        graft.operators.RangeJoin
          .intervalOverlap(a, "lo_a", "hi_a", b, "lo_b", "hi_b",
            bucketWidth = width)
          .where(col("user_a") < col("user_b"))
          .groupBy(col("user_a"), col("user_b"))
          .agg(count(lit(1)).as("n_overlaps"))
          .orderBy(col("user_a"), col("user_b"))
      },
      Some("""
        WITH g AS (
          SELECT user_id, ts,
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
          FROM events),
        m AS (
          SELECT user_id, ts,
                 CASE WHEN prev_ts IS NULL
                        OR floor(epoch(ts))::BIGINT - floor(epoch(prev_ts))::BIGINT > 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM g),
        s AS (
          SELECT user_id, ts,
                 sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
          FROM m),
        iv AS (
          SELECT user_id, min(ts) AS lo, max(ts) AS hi
          FROM s GROUP BY user_id, session_no)
        SELECT a.user_id AS user_a, b.user_id AS user_b, count(*) AS n_overlaps
        FROM iv a JOIN iv b
          ON a.user_id < b.user_id AND a.lo <= b.hi AND b.lo <= a.hi
        GROUP BY 1, 2 ORDER BY user_a, user_b
      """)),

    // Gap-based sessionization, batch form (the streaming sessionizer's
    // deterministic twin): session starts where the gap to the previous
    // event of the same user exceeds 30 min (lag + cumulative sum).
    "q6_sessions" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        Tables.events(s, d)
          .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
              .otherwise(0))
          .withColumn("session_no",
            sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("user_id"), col("session_no"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("value")), 2).as("session_value"))
          .orderBy(col("user_id"), col("session_no"))
      },
      Some("""
        WITH g AS (
          SELECT user_id, ts, value,
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
          FROM events),
        m AS (
          SELECT user_id, ts, value,
                 CASE WHEN prev_ts IS NULL
                        OR floor(epoch(ts))::BIGINT - floor(epoch(prev_ts))::BIGINT > 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM g),
        sess AS (
          SELECT user_id, value,
                 sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
          FROM m)
        SELECT user_id, session_no::BIGINT AS session_no, count(*) AS n_events,
               round(sum(value), 2) AS session_value
        FROM sess GROUP BY user_id, session_no
        ORDER BY user_id, session_no
      """)),

    // SCD Type-2 dimension build: turn a change stream into effective-
    // dated rows (valid_from/valid_to + current flag), with consecutive
    // no-op changes compressed out first (the real SCD2 subtlety — a
    // reloaded-but-unchanged attribute must NOT open a new version).
    // One window shuffle on the dimension key, no joins; at 100 TB the
    // change stream is a sliver of the fact volume, so this is cheap by
    // construction and the effective ranges then serve q11-style as-of
    // lookups without re-sorting history per query.
    "q22_scd2" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val changes = Tables.events(s, d)
          .where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"),
            round(col("value"), 2).as("attr"))
          .withColumn("prev_attr", lag(col("attr"), 1).over(byUser))
          .where(col("prev_attr").isNull || col("attr") =!= col("prev_attr"))
        changes
          .withColumn("valid_to_ts", lead(col("ts"), 1).over(byUser))
          .select(col("user_id"), col("attr"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_from"),
            date_format(col("valid_to_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_to"),
            when(col("valid_to_ts").isNull, 1L).otherwise(0L).as("is_current"))
          .orderBy(col("user_id"), col("valid_from"))
      },
      Some("""
        WITH src AS (
          SELECT user_id, ts, event_id, round(value, 2) AS attr
          FROM events WHERE event_type = 'purchase'),
        dedup AS (
          SELECT * FROM (
            SELECT user_id, ts, event_id, attr,
                   lag(attr) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id) AS prev_attr
            FROM src)
          WHERE prev_attr IS NULL OR attr <> prev_attr),
        ranged AS (
          SELECT user_id, attr, ts,
                 lead(ts) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS valid_to_ts
          FROM dedup)
        SELECT user_id, attr,
               strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
               strftime(valid_to_ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
               CASE WHEN valid_to_ts IS NULL THEN 1 ELSE 0 END::BIGINT AS is_current
        FROM ranged ORDER BY user_id, valid_from
      """)),

    // Rollup aggregation (multi-level totals in one pass — the shape every
    // reporting layer over 100 TB wants instead of K separate scans).
    "q7_rollup" -> Q(
      (s, d) => Tables(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      Some("""
        SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
               count(*) AS n
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
      """)),

    // CUBE: all grouping-set combinations in one pass.
    "q12_cube" -> Q(
      (s, d) => Tables(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
      Some("""
        SELECT l_returnflag, l_linestatus, count(*) AS n
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
      """)),

    // Arbitrary GROUPING SETS (the general form behind q7's rollup and
    // q12's cube): per-status totals, per-priority totals, and the grand
    // total in ONE pass — one shuffle serves all three groupings via
    // Expand, instead of three scans + a union.
    "q21_grouping_sets" -> Q(
      (s, d) => Tables(s, d, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
      Some("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
      """)),

    // U3-style set algebra: INTERSECT and EXCEPT over id sets, tagged.
    "q13_set_ops" -> Q(
      (s, d) => {
        val a = Tables.documents(s, d).where(col("lang") === "en")
          .select(col("doc_id"))
        val b = Tables.documents(s, d).where(col("n_chars") > 300)
          .select(col("doc_id"))
        a.intersect(b).withColumn("tag", lit("both"))
          .unionByName(a.except(b).withColumn("tag", lit("en_only")))
          .orderBy(col("tag"), col("doc_id"))
      },
      Some("""
        WITH a AS (SELECT doc_id FROM documents WHERE lang = 'en'),
             b AS (SELECT doc_id FROM documents WHERE n_chars > 300)
        SELECT * FROM (
          SELECT doc_id, 'both' AS tag FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
          UNION ALL
          SELECT doc_id, 'en_only' AS tag FROM (SELECT * FROM a EXCEPT SELECT * FROM b))
        ORDER BY tag, doc_id
      """)),

    // J6-style existence check as a semi join (no row multiplication).
    "q8_semi_join" -> Q(
      (s, d) => Tables(s, d, "orders")
        .join(Tables(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy(col("o_orderkey")),
      Some("""
        SELECT o_orderkey, o_custkey FROM orders
        WHERE EXISTS (SELECT 1 FROM customer
                      WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
        ORDER BY o_orderkey
      """)),

    // Distribution statistics: exact interpolated percentiles, correlation,
    // sample stddev (the profiling toolkit for 100 TB data quality work).
    "q9_stats_funcs" -> Q(
      (s, d) => {
        val li = Tables(s, d, "lineitem")
        // percentile buffers every value per group (ObjectHashAggregate,
        // no codegen) — mixing corr/stddev into the SAME agg drags the
        // moment statistics onto that object path too. Split the two
        // aggregations so the moments run whole-stage-codegen, and
        // reunite on the group-count-sized (3-row) join.
        // one percentile buffer for BOTH cut points (array form), not two
        val pct = li.groupBy(col("l_returnflag"))
          .agg(expr("percentile(l_extendedprice, array(0.5D, 0.95D))").as("__ps"))
          .select(col("l_returnflag"),
            round(element_at(col("__ps"), 1), 4).as("p50_price"),
            round(element_at(col("__ps"), 2), 4).as("p95_price"))
        val mom = li.groupBy(col("l_returnflag")).agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"),
          round(stddev_samp(col("l_discount")), 6).as("disc_sd"))
        pct.join(mom, Seq("l_returnflag"))
          .orderBy(col("l_returnflag"))
      },
      Some("""
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
               round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
               round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
               round(stddev_samp(l_discount), 6) AS disc_sd
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
      """)),

    // Rolling 7-day revenue: a RANGE window frame over epoch-day numbers
    // (numeric range frames behave identically across engines; interval
    // frames don't parse everywhere).
    "q10_rolling_revenue" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = Tables(s, d, "lineitem")
          .groupBy(datediff(col("l_shipdate"), lit("1970-01-01")).cast("long")
            .as("epoch_day"))
          .agg(sum(col("l_extendedprice")).as("revenue"))
        val w = Window.orderBy(col("epoch_day")).rangeBetween(-6, 0)
        daily
          .withColumn("rolling_7d", round(sum(col("revenue")).over(w), 2))
          .select(col("epoch_day"), round(col("revenue"), 2).as("revenue"),
            col("rolling_7d"))
          .orderBy(col("epoch_day"))
      },
      Some("""
        WITH daily AS (
          SELECT date_diff('day', DATE '1970-01-01', l_shipdate::DATE) AS epoch_day,
                 sum(l_extendedprice) AS revenue
          FROM lineitem GROUP BY 1)
        SELECT epoch_day, round(revenue, 2) AS revenue,
               round(sum(revenue) OVER (ORDER BY epoch_day
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS rolling_7d
        FROM daily ORDER BY epoch_day
      """)),

    // As-of join: each purchase matched to the user's most recent prior
    // click (union+window implementation; DuckDB's native ASOF JOIN is the
    // oracle). Timestamps compared at microsecond precision on both sides.
    "q11_asof_join" -> Q(
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.where(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        graft.operators.AsOfJoin.asof(purchases, clicks, "user_id", "ts", "ts",
            Map("event_id" -> "click_event_id"))
          .select(col("event_id"), col("user_id"), col("click_event_id"))
          .orderBy(col("event_id"))
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts, event_type
          FROM events),
        p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase'),
        c AS (SELECT event_id AS click_event_id, user_id, ts FROM e
              WHERE event_type = 'click')
        SELECT p.event_id, p.user_id, c.click_event_id
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND p.ts >= c.ts
        ORDER BY p.event_id
      """)),

    // Time-bucketed event aggregation (events table; streaming's batch twin).
    "q5_events_hourly" -> Q(
      (s, d) => Tables.events(s, d)
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("hour"), col("event_type")),
      Some("""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        FROM events
        GROUP BY 1, 2 ORDER BY hour, event_type
      """)),

    // Skew-salted aggregation (functions/Salting): two-phase partial-on-
    // (key, salt) then final-on-key. The salt is positional and carries no
    // semantics, so the result is EXACTLY the plain GROUP BY — which is
    // the oracle. event_type is the suite's hot key (5 values over the
    // whole table, the shape salting exists for).
    "q15_salted_agg" -> Q(
      (s, d) => graft.functions.Salting
        .saltedCount(Tables.events(s, d).select(col("event_type")), "event_type", 8)
        .orderBy(col("event_type")),
      Some("""
        SELECT event_type, count(*) AS n FROM events
        GROUP BY event_type ORDER BY event_type
      """)),

    // EWMA as a DISTRIBUTED column fold (A4's statistic, computed over
    // data instead of driver-side request latencies): per event type,
    // s_0 = x_0, s_i = 0.3 x_i + 0.7 s_{i-1} over values ordered by
    // event_id. A sequential fold is exact in both engines because the
    // evaluation ORDER is pinned — Spark `aggregate` and DuckDB
    // `list_reduce` (seeded with the first element) execute the identical
    // double-precision chain. The merge lambda touches only (acc, x) —
    // no outer column refs — so the lambda-CSE trap doesn't apply.
    "q16_ewma" -> Q(
      (s, d) => Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(array_sort(collect_list(struct(col("event_id"), col("value"))))
          .as("xs"))
        .select(col("event_type"),
          expr("transform(xs, p -> p.value)").as("vals"))
        .select(col("event_type"),
          round(expr(
            "aggregate(slice(vals, 2, greatest(size(vals) - 1, 0)), " +
              "element_at(vals, 1), " +
              "(acc, x) -> 0.3D * x + 0.7D * acc)"), 6).as("ewma"),
          size(col("vals")).cast("long").as("n"))
        .orderBy(col("event_type")),
      Some("""
        WITH seq AS (
          SELECT event_type, list(value ORDER BY event_id) AS vals
          FROM events GROUP BY event_type)
        SELECT event_type,
               round(list_reduce(vals,
                 (acc, x) -> 0.3::DOUBLE * x + 0.7::DOUBLE * acc), 6) AS ewma,
               len(vals)::BIGINT AS n
        FROM seq ORDER BY event_type
      """)),

    // Exact interpolated percentiles (latency-SLO style reporting over the
    // event stream). Spark's `percentile` and DuckDB's `quantile_cont`
    // both implement the R-7 estimator (pos = p*(n-1), linear
    // interpolation), so the values agree to the bit after rounding. The
    // exact form sorts within each group — at 100 TB you'd reach for
    // approx_percentile (x-queries cover the sketch trade-off); for SLO
    // reporting over bounded groups the exact sort is the right tool.
    "q17_percentiles" -> Q(
      (s, d) => Tables.events(s, d)
        .groupBy(col("event_type"))
        // array form: ONE sorted buffer serves all three cut points
        .agg(expr("percentile(value, array(0.5D, 0.9D, 0.99D))").as("__ps"),
          count(lit(1)).as("n"))
        .select(col("event_type"),
          round(element_at(col("__ps"), 1), 6).as("p50"),
          round(element_at(col("__ps"), 2), 6).as("p90"),
          round(element_at(col("__ps"), 3), 6).as("p99"),
          col("n"))
        .orderBy(col("event_type")),
      Some("""
        SELECT event_type,
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.9), 6) AS p90,
               round(quantile_cont(value, 0.99), 6) AS p99,
               count(*) AS n
        FROM events GROUP BY event_type ORDER BY event_type
      """)),

    // Multi-dimensional pruning layout: the same table z-ordered on
    // (n_chars, doc_id) via Store.zorderLayout, scanned with a predicate
    // on BOTH dimensions. The layout changes which row groups the scan
    // can skip, never the answer — so the oracle is the plain filter on
    // the original table. ZorderSpec asserts the clustering property
    // itself (per-file min/max spans tight on both columns at once).
    "q18_zorder_scan" -> Q(
      (s, d) => {
        val out = graft.index.IndexCatalog.ensure(s, d, "zorder_v1") { p =>
          graft.ingest.Store.zorderLayout(
            Tables.documents(s, d), s"$p/docs", "n_chars", "doc_id", 16)
        }
        s.read.parquet(s"$out/docs")
          .where(col("n_chars") >= 400 && col("n_chars") <= 600 &&
            col("doc_id") < 250)
          .select(col("doc_id"), col("n_chars"), col("lang"))
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id, n_chars, lang FROM documents
        WHERE n_chars BETWEEN 400 AND 600 AND doc_id < 250
        ORDER BY doc_id
      """)),

    // Time-series gap fill: hourly event counts per type INCLUDING empty
    // hours (count 0) across each type's observed span — the resample
    // step every monitoring/feature pipeline needs before windowed math.
    // The hour spine is generated per type with `sequence` (no driver
    // loop, no cross join against a global calendar).
    "q19_gapfill" -> Q(
      (s, d) => {
        val hourly = Tables.events(s, d)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("n"))
        val spine = hourly.groupBy(col("event_type"))
          .agg(min(col("hour")).as("lo"), max(col("hour")).as("hi"))
          .select(col("event_type"),
            explode(expr("sequence(lo, hi, interval 1 hour)")).as("hour"))
        spine.join(hourly, Seq("event_type", "hour"), "left")
          .select(col("event_type"),
            date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
            coalesce(col("n"), lit(0L)).as("n"))
          .orderBy(col("event_type"), col("hour"))
      },
      Some("""
        WITH hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
          FROM events GROUP BY 1, 2),
        spine AS (
          SELECT event_type, unnest(generate_series(min(hour), max(hour),
            INTERVAL 1 HOUR)) AS hour
          FROM hourly GROUP BY event_type)
        SELECT s.event_type, strftime(s.hour, '%Y-%m-%d %H:%M:%S') AS hour,
               coalesce(h.n, 0) AS n
        FROM spine s LEFT JOIN hourly h USING (event_type, hour)
        ORDER BY event_type, hour
      """)),

    // Pivot: event types to columns, one row per user-id bucket — the
    // wide feature-matrix shape. Pivot values are EXPLICIT (deterministic
    // column set; a discovery pivot would add a driver-side distinct job
    // and make the schema data-dependent).
    "q20_pivot" -> Q(
      (s, d) => Tables.events(s, d)
        .withColumn("bucket", col("user_id") % 10)
        .groupBy(col("bucket"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("bucket")),
      Some("""
        SELECT user_id % 10 AS bucket,
               count(*) FILTER (event_type = 'click') AS click,
               count(*) FILTER (event_type = 'view') AS view,
               count(*) FILTER (event_type = 'purchase') AS purchase,
               count(*) FILTER (event_type = 'signup') AS signup,
               count(*) FILTER (event_type = 'error') AS error
        FROM events GROUP BY 1 ORDER BY bucket
      """)))

  // ---------------------------------------------------------------------
  // Search surface (reference Q1–Q9)
  // ---------------------------------------------------------------------

  /** Fixed query parameters, mirroring the reference's self-test queries
    * (`scripts/indexing.py:619,652`) re-targeted at the synthetic corpus. */
  val QueryVecId = 0L
  val QueryTerms: Seq[String] = Seq("spark", "join", "filter")

  /** Oracle CTE: per-vector cosine score vs the fixed query vector.
    * Produces CTE `<name>(id, score)`. */
  private def denseScoredCte(name: String): String = s"""
    $name AS (
      SELECT e.vec_id AS id,
             round(list_cosine_similarity(e.embedding::DOUBLE[],
               (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 6) AS score
      FROM embeddings e
    )"""

  /** Oracle CTE: per-doc BM25 score for the fixed query terms.
    * Produces CTE `<name>(id, score)`. Okapi BM25, k1=1.2 b=0.75,
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5)). */
  private def bm25ScoredCte(name: String): String =
    bm25ScoredCteFor(name, QueryTerms)

  /** Same, parameterized by term list (s3b indexed variant). */
  private def bm25ScoredCteFor(name: String, terms: Seq[String]): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""
    ${name}_base AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
      FROM documents
    ), ${name}_base2 AS (
      SELECT doc_id, toks, len(toks) AS dl FROM ${name}_base
    ), ${name}_stats AS (
      SELECT count(*) AS n_docs, avg(dl::DOUBLE) AS avgdl FROM ${name}_base2
    ), ${name}_tf AS (
      SELECT doc_id, dl, term, count(*) AS tf
      FROM (SELECT doc_id, dl, unnest(toks) AS term FROM ${name}_base2)
      WHERE term IN ($inList)
      GROUP BY doc_id, dl, term
    ), ${name}_dfreq AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM ${name}_tf GROUP BY term
    ), $name AS (
      SELECT t.doc_id AS id, round(sum(
        ln(1.0::DOUBLE + (st.n_docs - f.df + 0.5::DOUBLE) / (f.df + 0.5::DOUBLE)) *
        (t.tf * 2.2::DOUBLE) /
        (t.tf + 1.2::DOUBLE * (1 - 0.75::DOUBLE + 0.75::DOUBLE * t.dl / st.avgdl))
      ), 6) AS score
      FROM ${name}_tf t, ${name}_dfreq f, ${name}_stats st
      WHERE t.term = f.term
      GROUP BY t.doc_id
    )"""
  }

  /** Oracle CTE: exact-match arm with field precedence for query 'src7',
    * including the reference's early exit (`search_service.py:243-245`):
    * the secondary field is consulted only when the primary has no hits.
    * Produces CTE `<name>(id, score, search_type)` capped at 10 rows. */
  private def exactArmCte(name: String): String = s"""
    ${name}_prim AS (
      SELECT doc_id AS id, 1.0::DOUBLE AS score, 'exact' AS search_type
      FROM documents WHERE upper(trim(source)) = upper(trim('src7'))
    ), ${name}_sec AS (
      SELECT doc_id AS id, 0.9::DOUBLE AS score, 'exact_secondary' AS search_type
      FROM documents WHERE upper(trim(lang)) = upper(trim('src7'))
        AND NOT EXISTS (SELECT 1 FROM ${name}_prim)
    ), $name AS (
      SELECT id, score, search_type
      FROM (SELECT * FROM ${name}_prim UNION ALL SELECT * FROM ${name}_sec)
      ORDER BY score DESC, id ASC LIMIT 10
    )"""

  /** Chunk-table + chunk-level TF-IDF CTE chain shared by the s21c/s21d
    * oracles: same 32/24 chunk geometry and packed key as s21/s21b, then
    * the s9 TF-IDF pipeline at chunk granularity (df/idf/norms over
    * passages). Produces `cidf(bucket, idf)`, `cdv(ck, bucket, w)` and
    * `chunks(ck, toks)`. */
  private val chunkTfidfCtes: String = s"""
        t AS (SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS arr
             FROM documents),
        cs AS (
          SELECT doc_id, arr, len(arr) AS n,
                 unnest(range(0, greatest(len(arr), 1), 24)) AS st
          FROM t),
        chunks AS (
          SELECT doc_id * 2097152 + (st // 24) AS ck,
                 arr[st + 1 : st + 32] AS toks
          FROM cs WHERE st < n),
        ctf AS (
          SELECT ck, (('0x' || substr(md5(tok), 1, 8))::BIGINT % 64)::INT AS bucket,
                 count(*) AS tf
          FROM (SELECT ck, unnest(toks) AS tok FROM chunks) GROUP BY 1, 2),
        cnd AS (SELECT count(*) AS n_docs FROM chunks),
        cidf AS (
          SELECT bucket, ln((n_docs + 1.0::DOUBLE) / (df + 1.0::DOUBLE)) + 1.0::DOUBLE AS idf
          FROM (SELECT bucket, count(DISTINCT ck) AS df FROM ctf GROUP BY bucket)
          CROSS JOIN cnd),
        cw AS (SELECT ctf.ck, ctf.bucket, ctf.tf * cidf.idf AS w
               FROM ctf JOIN cidf USING (bucket)),
        cnorms AS (SELECT ck, sqrt(sum(w * w)) AS norm FROM cw GROUP BY ck),
        cdv AS (SELECT cw.ck, cw.bucket, cw.w / cnorms.norm AS w
                FROM cw JOIN cnorms USING (ck))"""

  /** Query-side TF-IDF embed + chunk cosine CTE: produces
    * `dense_scored(ck, score)` for a literal query text. */
  private def chunkDenseScoredCte(queryText: String): String = s"""
        qtoks AS (
          SELECT unnest(list_filter(string_split('$queryText', ' '), t -> t <> '')) AS tok),
        qtf AS (
          SELECT (('0x' || substr(md5(tok), 1, 8))::BIGINT % 64)::INT AS bucket,
                 count(*) AS tf
          FROM qtoks GROUP BY 1),
        qw AS (SELECT qtf.bucket, qtf.tf * cidf.idf AS w FROM qtf JOIN cidf USING (bucket)),
        qnorm AS (SELECT sqrt(sum(w * w)) AS norm FROM qw),
        qv AS (SELECT bucket, w / norm AS qw FROM qw CROSS JOIN qnorm),
        dense_scored AS (
          SELECT cdv.ck, round(sum(cdv.w * qv.qw), 6) AS score
          FROM cdv JOIN qv USING (bucket) GROUP BY cdv.ck)"""

  /** Full dense passage-retrieval oracle (s21c). */
  private def chunkDenseSql(queryText: String, k: Int): String = s"""
        WITH $chunkTfidfCtes, ${chunkDenseScoredCte(queryText)}
        SELECT (ck // 2097152)::BIGINT AS doc_id,
               (ck % 2097152)::BIGINT AS chunk_ord, score
        FROM dense_scored ORDER BY score DESC, ck ASC LIMIT $k
      """

  /** Chunk-level BM25 arm CTE for the hybrid oracle: produces
    * `sparse_scored(ck, score)` for literal terms (same math as s21/s21b). */
  private def chunkBm25ScoredCte(terms: Seq[String]): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""
        base2 AS (SELECT ck, toks, len(toks) AS dl FROM chunks),
        bstats AS (SELECT count(*) AS n_docs, avg(dl::DOUBLE) AS avgdl FROM base2),
        btf AS (
          SELECT ck, dl, term, count(*) AS tf
          FROM (SELECT ck, dl, unnest(toks) AS term FROM base2)
          WHERE term IN ($inList)
          GROUP BY ck, dl, term),
        bdf AS (SELECT term, count(DISTINCT ck) AS df FROM btf GROUP BY term),
        sparse_scored AS (
          SELECT t.ck, round(sum(
            ln(1.0::DOUBLE + (st.n_docs - f.df + 0.5::DOUBLE) / (f.df + 0.5::DOUBLE)) *
            (t.tf * 2.2::DOUBLE) /
            (t.tf + 1.2::DOUBLE * (1 - 0.75::DOUBLE + 0.75::DOUBLE * t.dl / st.avgdl))
          ), 6) AS score
          FROM btf t, bdf f, bstats st WHERE t.term = f.term GROUP BY t.ck)"""
  }

  /** Full hybrid passage-retrieval oracle (s21d): RRF(k=60) of the dense
    * and BM25 chunk arms, both top-2k, mirrored from the s4 RRF SQL. */
  private def chunkHybridSql(queryText: String, k: Int): String = {
    val terms = queryText.split(" ").toSeq.filter(_.nonEmpty)
    s"""
        WITH $chunkTfidfCtes, ${chunkDenseScoredCte(queryText)},
        ${chunkBm25ScoredCte(terms)},
        dense_top AS (
          SELECT ck, score FROM dense_scored ORDER BY score DESC, ck ASC LIMIT ${2 * k}
        ), sparse_top AS (
          SELECT ck, score FROM sparse_scored ORDER BY score DESC, ck ASC LIMIT ${2 * k}
        ), dr AS (
          SELECT ck, row_number() OVER (ORDER BY score DESC, ck ASC) AS rank_d FROM dense_top
        ), sr AS (
          SELECT ck, row_number() OVER (ORDER BY score DESC, ck ASC) AS rank_s FROM sparse_top
        )
        SELECT (coalesce(dr.ck, sr.ck) // 2097152)::BIGINT AS doc_id,
               (coalesce(dr.ck, sr.ck) % 2097152)::BIGINT AS chunk_ord,
               round(coalesce(1.0::DOUBLE / (60 + rank_d), 0.0::DOUBLE)
                   + coalesce(1.0::DOUBLE / (60 + rank_s), 0.0::DOUBLE), 6) AS score
        FROM dr FULL OUTER JOIN sr ON dr.ck = sr.ck
        ORDER BY score DESC, coalesce(dr.ck, sr.ck) ASC LIMIT $k
      """
  }

  val searchQueries: Map[String, Q] = Map(
    // T1/V4/Q5: dense cosine top-k.
    "s1_dense_topk" -> Q(
      (s, d) => SearchEngine.denseTopK(s, d, QueryVecId, 10),
      Some(s"""
        WITH ${denseScoredCte("scored")}
        SELECT id, score FROM scored ORDER BY score DESC, id ASC LIMIT 10
      """)),

    // P4: score-threshold filter on the dense arm (reference drops < 0.4,
    // `app/services/search_service.py:283`).
    "s2_dense_threshold" -> Q(
      (s, d) => SearchEngine.denseTopK(s, d, QueryVecId, 50, minScore = 0.4),
      Some(s"""
        WITH ${denseScoredCte("scored")}
        SELECT id, score FROM scored WHERE score >= 0.4::DOUBLE
        ORDER BY score DESC, id ASC LIMIT 50
      """)),

    // T2/V3/V5/Q6: BM25 sparse top-k.
    "s3_bm25_topk" -> Q(
      (s, d) => SearchEngine.bm25TopK(s, d, QueryTerms, 10),
      Some(s"""
        WITH ${bm25ScoredCte("scored")}
        SELECT id, score FROM scored ORDER BY score DESC, id ASC LIMIT 10
      """)),

    // Faceted search: the candidate set (BM25 top-50) grouped by a
    // payload facet — per-facet hit counts plus the top-3 hits of each
    // facet, the standard search-API drill-down surface. One rank window
    // + one count window over the (≤50-row) candidate set joined to
    // candidate-sized metadata; the corpus-scale work is s3's.
    "s23_faceted_search" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val hits = SearchEngine.bm25TopK(s, d, QueryTerms, 50)
        val meta = Tables.documents(s, d)
          .select(col("doc_id").as("id"), col("source"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("score").desc, col("id").asc)
        hits.join(meta, "id")
          .withColumn("rank", row_number().over(w))
          .withColumn("facet_count",
            count(lit(1)).over(Window.partitionBy(col("source"))))
          .where(col("rank") <= 3)
          .select(col("source"), col("facet_count"), col("rank"),
            col("id"), col("score"))
          .orderBy(col("source"), col("rank"))
      },
      Some(s"""
        WITH ${bm25ScoredCte("scored")},
        hits AS (SELECT id, score FROM scored ORDER BY score DESC, id ASC LIMIT 50),
        j AS (SELECT h.id, h.score, d.source
              FROM hits h JOIN documents d ON h.id = d.doc_id),
        r AS (SELECT source, id, score,
                     row_number() OVER (PARTITION BY source
                       ORDER BY score DESC, id ASC) AS rank,
                     count(*) OVER (PARTITION BY source) AS facet_count
              FROM j)
        SELECT source, facet_count, rank::INT AS rank, id, score
        FROM r WHERE rank <= 3 ORDER BY source, rank
      """)),

    // More-like-this: a stored document IS the query (Lucene/ES
    // more_like_this). Anchor doc 42's top-3 terms (tf desc, term asc)
    // BM25-rank the rest of the corpus; the term set is a broadcast plan
    // input, not a driver collect.
    "s24_more_like_this" -> Q(
      (s, d) => graft.search.Bm25.moreLikeThis(
          Tables.documents(s, d), "doc_id", "text", 42L, 3, 10)
        .select(col("doc_id").as("id"), col("score")),
      Some(s"""
        WITH base AS (
          SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
          FROM documents
        ), base2 AS (
          SELECT doc_id, toks, len(toks) AS dl FROM base
        ), stats AS (
          SELECT count(*) AS n_docs, avg(dl::DOUBLE) AS avgdl FROM base2
        ), aterms AS (
          SELECT term FROM (
            SELECT unnest(toks) AS term FROM base2 WHERE doc_id = 42)
          GROUP BY term
          ORDER BY count(*) DESC, term ASC LIMIT 3
        ), tf AS (
          SELECT doc_id, dl, term, count(*) AS tf
          FROM (SELECT doc_id, dl, unnest(toks) AS term FROM base2)
          WHERE term IN (SELECT term FROM aterms) AND doc_id <> 42
          GROUP BY doc_id, dl, term
        ), dfreq AS (
          SELECT term, count(*) AS df FROM tf GROUP BY term
        ), scored AS (
          SELECT t.doc_id AS id, round(sum(
            ln(1.0::DOUBLE + (st.n_docs - f.df + 0.5::DOUBLE) / (f.df + 0.5::DOUBLE)) *
            (t.tf * 2.2::DOUBLE) /
            (t.tf + 1.2::DOUBLE * (1 - 0.75::DOUBLE + 0.75::DOUBLE * t.dl / st.avgdl))
          ), 6) AS score
          FROM tf t, dfreq f, stats st
          WHERE t.term = f.term
          GROUP BY t.doc_id)
        SELECT id, score FROM scored ORDER BY score DESC, id ASC LIMIT 10
      """)),

    // VECTOR percolation (reverse ANN): saved query VECTORS are the
    // stored side — an alert fires when a document's embedding lands
    // within the alert's own similarity threshold ("tell me when
    // something close to THIS arrives": near-dup alerts, content
    // subscriptions). Alerts broadcast, codegen cosine, one threshold
    // filter — zero shuffles; the streaming twin is
    // DeltaStream.vectorPercolateServe (stateless, batch ≡ stream).
    "s29_vector_percolate" -> Q(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val alerts = emb.where(col("vec_id").isin(0L, 1L, 2L))
          .select(col("vec_id").as("alert_id"), col("embedding").as("avec"))
          .withColumn("threshold", element_at(
            typedlit(Map(0L -> 0.30, 1L -> 0.35, 2L -> 0.40)), col("alert_id")))
        graft.search.Percolate.vectorMatches(emb, alerts)
          .orderBy(col("alert_id"), col("vec_id"))
      },
      Some("""
        WITH alerts AS (
          SELECT vec_id AS alert_id, embedding::DOUBLE[] AS avec,
                 CASE vec_id WHEN 0 THEN 0.30::DOUBLE
                             WHEN 1 THEN 0.35::DOUBLE
                             ELSE 0.40::DOUBLE END AS threshold
          FROM embeddings WHERE vec_id IN (0, 1, 2)),
        scored AS (
          SELECT a.alert_id, e.vec_id,
                 round(list_cosine_similarity(e.embedding::DOUBLE[], a.avec), 6) AS score,
                 a.threshold
          FROM embeddings e CROSS JOIN alerts a)
        SELECT alert_id, vec_id, score FROM scored WHERE score >= threshold
        ORDER BY alert_id, vec_id
      """)),

    // VECTOR percolation at ALERT-CORPUS scale (s29b): the IVF-blocked
    // form — alerts probe nprobe centroid lists, docs sit in their
    // nearest list, only list-sharing pairs score (one shuffle equi-join
    // on cid, NO alert broadcast — the million-subscription shape).
    // Blocked firings are a deterministic subset of s29's exact form;
    // the oracle states the blocked semantics exactly.
    "s29b_vector_percolate_blocked" -> Q(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val alerts = emb.where(col("vec_id").isin(0L, 1L, 2L))
          .select(col("vec_id").as("alert_id"), col("embedding").as("avec"))
          .withColumn("threshold", element_at(
            typedlit(Map(0L -> 0.30, 1L -> 0.35, 2L -> 0.40)), col("alert_id")))
        val centroids = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        graft.search.Percolate.vectorMatchesBlocked(emb, alerts, centroids, 3)
          .orderBy(col("alert_id"), col("vec_id"))
      },
      Some("""
        WITH cent AS (
          SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
          FROM embeddings WHERE vec_id < 10),
        alerts AS (
          SELECT vec_id AS alert_id, embedding::DOUBLE[] AS avec,
                 CASE vec_id WHEN 0 THEN 0.30::DOUBLE
                             WHEN 1 THEN 0.35::DOUBLE
                             ELSE 0.40::DOUBLE END AS threshold
          FROM embeddings WHERE vec_id IN (0, 1, 2)),
        assign AS (
          SELECT vec_id, cid, embedding FROM (
            SELECT e.vec_id, c.cid, e.embedding,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.cvec), 6) DESC,
                              c.cid ASC) AS rn
            FROM embeddings e CROSS JOIN cent c)
          WHERE rn = 1),
        probes AS (
          SELECT alert_id, avec, threshold, cid FROM (
            SELECT a.alert_id, a.avec, a.threshold, c.cid,
                   row_number() OVER (PARTITION BY a.alert_id
                     ORDER BY round(list_cosine_similarity(a.avec, c.cvec), 6) DESC,
                              c.cid ASC) AS rn
            FROM alerts a CROSS JOIN cent c)
          WHERE rn <= 3),
        scored AS (
          SELECT p.alert_id, s.vec_id,
                 round(list_cosine_similarity(s.embedding::DOUBLE[], p.avec), 6) AS score,
                 p.threshold
          FROM probes p JOIN assign s ON p.cid = s.cid)
        SELECT alert_id, vec_id, score FROM scored WHERE score >= threshold
        ORDER BY alert_id, vec_id
      """)),

    // HYBRID percolation (s30): the alert carries BOTH a conjunctive term
    // list and a query vector — fires only on docs containing every term
    // AND embedding within the alert's threshold. The term conjunction is
    // the cheap prefilter; only fired (alert, doc) pairs pay the cosine
    // (fired-set-sized, never corpus x alerts).
    "s30_hybrid_percolate" -> Q(
      (s, d) => {
        import s.implicits._
        val conf = Seq(
          (1, Seq("spark", "join"), 0L, 0.2),
          (2, Seq("scan"), 1L, 0.2))
          .toDF("alert_id", "terms", "avec_id", "threshold")
        val alerts = conf.join(
          Tables.embeddings(s, d).select(col("vec_id").as("avec_id"),
            col("embedding").as("avec")), Seq("avec_id"))
          .select(col("alert_id"), col("terms"), col("avec"), col("threshold"))
        graft.search.Percolate.hybridMatches(
          Tables.documents(s, d), Tables.embeddings(s, d),
          alerts, "doc_id", "text")
          .orderBy(col("alert_id"), col("doc_id"))
      },
      Some("""
        WITH aconf AS (
          SELECT * FROM (VALUES
            (1, ['spark', 'join'], 0, 0.2::DOUBLE),
            (2, ['scan'], 1, 0.2::DOUBLE)) a(alert_id, terms, avec_id, threshold)),
        alerts AS (
          SELECT a.alert_id, a.terms, e.embedding::DOUBLE[] AS avec, a.threshold
          FROM aconf a JOIN embeddings e ON e.vec_id = a.avec_id),
        at AS (SELECT alert_id, len(terms) AS n_terms, unnest(terms) AS term
               FROM alerts),
        dt AS (SELECT DISTINCT doc_id, term FROM
                (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                   t -> t <> '')) AS term FROM documents)),
        m AS (SELECT alert_id, doc_id FROM dt JOIN at USING (term)
              GROUP BY alert_id, n_terms, doc_id
              HAVING count(*) = n_terms),
        v AS (SELECT m.alert_id, m.doc_id,
                     round(list_cosine_similarity(e.embedding::DOUBLE[], al.avec), 6) AS score,
                     al.threshold
              FROM m JOIN embeddings e ON e.vec_id = m.doc_id
                    JOIN alerts al ON al.alert_id = m.alert_id)
        SELECT alert_id, doc_id, score FROM v WHERE score >= threshold
        ORDER BY alert_id, doc_id
      """)),

    // HYBRID percolation at ALERT-CORPUS scale (s30b): the composition a
    // million-alert subscription set needs — the term arm is the
    // inverted-alert-index equi-join (s25b's anchor probe, NO alert
    // broadcast) and the vector confirm broadcasts the FIRED set into
    // one pass over the alert table (fired-set-sized cosine work).
    // Neither anchor election nor the turned-around confirm join can
    // change the fired set, so the oracle is s30's SQL verbatim.
    "s30b_hybrid_inverted" -> Q(
      (s, d) => {
        import s.implicits._
        val conf = Seq(
          (1, Seq("spark", "join"), 0L, 0.2),
          (2, Seq("scan"), 1L, 0.2))
          .toDF("alert_id", "terms", "avec_id", "threshold")
        val alerts = conf.join(
          Tables.embeddings(s, d).select(col("vec_id").as("avec_id"),
            col("embedding").as("avec")), Seq("avec_id"))
          .select(col("alert_id"), col("terms"), col("avec"), col("threshold"))
        graft.search.Percolate.hybridMatchesInverted(
          Tables.documents(s, d), Tables.embeddings(s, d),
          alerts, "doc_id", "text")
          .orderBy(col("alert_id"), col("doc_id"))
      },
      Some("""
        WITH aconf AS (
          SELECT * FROM (VALUES
            (1, ['spark', 'join'], 0, 0.2::DOUBLE),
            (2, ['scan'], 1, 0.2::DOUBLE)) a(alert_id, terms, avec_id, threshold)),
        alerts AS (
          SELECT a.alert_id, a.terms, e.embedding::DOUBLE[] AS avec, a.threshold
          FROM aconf a JOIN embeddings e ON e.vec_id = a.avec_id),
        at AS (SELECT alert_id, len(terms) AS n_terms, unnest(terms) AS term
               FROM alerts),
        dt AS (SELECT DISTINCT doc_id, term FROM
                (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                   t -> t <> '')) AS term FROM documents)),
        m AS (SELECT alert_id, doc_id FROM dt JOIN at USING (term)
              GROUP BY alert_id, n_terms, doc_id
              HAVING count(*) = n_terms),
        v AS (SELECT m.alert_id, m.doc_id,
                     round(list_cosine_similarity(e.embedding::DOUBLE[], al.avec), 6) AS score,
                     al.threshold
              FROM m JOIN embeddings e ON e.vec_id = m.doc_id
                    JOIN alerts al ON al.alert_id = m.alert_id)
        SELECT alert_id, doc_id, score FROM v WHERE score >= threshold
        ORDER BY alert_id, doc_id
      """)),

    // Percolation (s25): saved searches are the stored side, documents
    // probe them — conjunctive term match, alert table broadcast, one
    // matched-pair shuffle. Per-alert counts + first-3 matches.
    "s25_percolate" -> Q(
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val alerts = Seq(
          (1, Seq("spark", "join")), (2, Seq("vector", "scan")),
          (3, Seq("stream", "window")), (4, Seq("hash", "merge")),
          (5, Seq("filter"))).toDF("alert_id", "terms")
        val m = graft.search.Percolate.matches(
          Tables.documents(s, d), alerts, "doc_id", "text")
        m.withColumn("rank", row_number().over(
            Window.partitionBy(col("alert_id")).orderBy(col("doc_id"))))
          .withColumn("n_matches",
            count(lit(1)).over(Window.partitionBy(col("alert_id"))))
          .where(col("rank") <= 3)
          .select(col("alert_id"), col("n_matches"), col("doc_id"), col("rank"))
          .orderBy(col("alert_id"), col("rank"))
      },
      Some(s"""
        WITH alerts AS (
          SELECT * FROM (VALUES
            (1, ['spark', 'join']), (2, ['vector', 'scan']),
            (3, ['stream', 'window']), (4, ['hash', 'merge']),
            (5, ['filter'])) a(alert_id, terms)),
        at AS (SELECT alert_id, len(terms) AS n_terms, unnest(terms) AS term
               FROM alerts),
        dt AS (SELECT DISTINCT doc_id, term FROM
                (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                   t -> t <> '')) AS term FROM documents)),
        m AS (SELECT alert_id, doc_id FROM dt JOIN at USING (term)
              GROUP BY alert_id, n_terms, doc_id
              HAVING count(*) = n_terms),
        r AS (SELECT alert_id, doc_id,
                     row_number() OVER (PARTITION BY alert_id ORDER BY doc_id) AS rank,
                     count(*) OVER (PARTITION BY alert_id) AS n_matches
              FROM m)
        SELECT alert_id, n_matches, doc_id, rank::INT AS rank
        FROM r WHERE rank <= 3 ORDER BY alert_id, rank
      """)),

    // Percolation at corpus-of-alerts scale (s25b): the inverted-alert-
    // index form — alerts keyed by their corpus-rarest term, candidates
    // from an equi-join (NO alert broadcast — the million-alert shape),
    // conjunction verified over candidates only. Value-identical to s25:
    // the oracle is s25's SQL verbatim (anchor choice cannot change the
    // fired set, only the candidate count).
    "s25b_percolate_inverted" -> Q(
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val alerts = Seq(
          (1, Seq("spark", "join")), (2, Seq("vector", "scan")),
          (3, Seq("stream", "window")), (4, Seq("hash", "merge")),
          (5, Seq("filter"))).toDF("alert_id", "terms")
        val m = graft.search.Percolate.matchesInverted(
          Tables.documents(s, d), alerts, "doc_id", "text")
        m.withColumn("rank", row_number().over(
            Window.partitionBy(col("alert_id")).orderBy(col("doc_id"))))
          .withColumn("n_matches",
            count(lit(1)).over(Window.partitionBy(col("alert_id"))))
          .where(col("rank") <= 3)
          .select(col("alert_id"), col("n_matches"), col("doc_id"), col("rank"))
          .orderBy(col("alert_id"), col("rank"))
      },
      Some(s"""
        WITH alerts AS (
          SELECT * FROM (VALUES
            (1, ['spark', 'join']), (2, ['vector', 'scan']),
            (3, ['stream', 'window']), (4, ['hash', 'merge']),
            (5, ['filter'])) a(alert_id, terms)),
        at AS (SELECT alert_id, len(terms) AS n_terms, unnest(terms) AS term
               FROM alerts),
        dt AS (SELECT DISTINCT doc_id, term FROM
                (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                   t -> t <> '')) AS term FROM documents)),
        m AS (SELECT alert_id, doc_id FROM dt JOIN at USING (term)
              GROUP BY alert_id, n_terms, doc_id
              HAVING count(*) = n_terms),
        r AS (SELECT alert_id, doc_id,
                     row_number() OVER (PARTITION BY alert_id ORDER BY doc_id) AS rank,
                     count(*) OVER (PARTITION BY alert_id) AS n_matches
              FROM m)
        SELECT alert_id, n_matches, doc_id, rank::INT AS rank
        FROM r WHERE rank <= 3 ORDER BY alert_id, rank
      """)),

    // s25c: the PRODUCTION anchor-election path of s25b — df comes from
    // the prebuilt Bm25Index termstats artifact (term, df) instead of an
    // in-plan corpus tokenize, so electing each alert's rarest term costs
    // an alert-vocabulary-sized broadcast join. Anchor choice cannot
    // change the fired set (only the candidate count), and alert terms
    // missing from a stale artifact fall back to live in-plan df — so the
    // oracle is s25's SQL verbatim, like s25b's. This is the dfLookup
    // branch of Percolate.matchesInverted under the driver oracle (the
    // stale/fresh equivalences are pinned by StreamingSpec).
    "s25c_percolate_lookup" -> Q(
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val alerts = Seq(
          (1, Seq("spark", "join")), (2, Seq("vector", "scan")),
          (3, Seq("stream", "window")), (4, Seq("hash", "merge")),
          (5, Seq("filter"))).toDF("alert_id", "terms")
        val termstats = s.read.parquet(
          s"${graft.index.Bm25Index.ensure(s, d)}/termstats")
        val m = graft.search.Percolate.matchesInverted(
          Tables.documents(s, d), alerts, "doc_id", "text", Some(termstats))
        m.withColumn("rank", row_number().over(
            Window.partitionBy(col("alert_id")).orderBy(col("doc_id"))))
          .withColumn("n_matches",
            count(lit(1)).over(Window.partitionBy(col("alert_id"))))
          .where(col("rank") <= 3)
          .select(col("alert_id"), col("n_matches"), col("doc_id"), col("rank"))
          .orderBy(col("alert_id"), col("rank"))
      },
      Some(s"""
        WITH alerts AS (
          SELECT * FROM (VALUES
            (1, ['spark', 'join']), (2, ['vector', 'scan']),
            (3, ['stream', 'window']), (4, ['hash', 'merge']),
            (5, ['filter'])) a(alert_id, terms)),
        at AS (SELECT alert_id, len(terms) AS n_terms, unnest(terms) AS term
               FROM alerts),
        dt AS (SELECT DISTINCT doc_id, term FROM
                (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                   t -> t <> '')) AS term FROM documents)),
        m AS (SELECT alert_id, doc_id FROM dt JOIN at USING (term)
              GROUP BY alert_id, n_terms, doc_id
              HAVING count(*) = n_terms),
        r AS (SELECT alert_id, doc_id,
                     row_number() OVER (PARTITION BY alert_id ORDER BY doc_id) AS rank,
                     count(*) OVER (PARTITION BY alert_id) AS n_matches
              FROM m)
        SELECT alert_id, n_matches, doc_id, rank::INT AS rank
        FROM r WHERE rank <= 3 ORDER BY alert_id, rank
      """)),

    // Autocomplete (s26): prefix completion over the corpus vocabulary,
    // ranked by document frequency (search-as-you-type). One vocab agg —
    // the prefix predicate prunes at the token-stream filter; at serving
    // scale the vocab table is the prebuilt artifact this derives.
    "s26_autocomplete" -> Q(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), explode(array_distinct(
          graft.functions.TextOps.tokens(col("text")))).as("term"))
        .where(col("term").startsWith("s"))
        .groupBy("term").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("term").asc)
        .limit(8),
      Some(s"""
        SELECT term, count(*) AS df FROM (
          SELECT DISTINCT doc_id, term FROM (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term FROM documents))
        WHERE term LIKE 's%'
        GROUP BY term ORDER BY df DESC, term ASC LIMIT 8
      """)),

    // Spell suggestion (s27, "did you mean"): vocabulary terms within
    // edit distance 2 of a misspelled query term, ranked (distance asc,
    // frequency desc). The vocab side is corpus-derived and BOUNDED —
    // production blocks candidates by length band / first char before
    // the levenshtein (noted), the oracle form is the exact scan.
    "s27_spell_suggest" -> Q(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), explode(array_distinct(
          graft.functions.TextOps.tokens(col("text")))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("df"))
        .withColumn("dist", levenshtein(col("term"), lit("spak")))
        .where(col("dist") <= 2)
        .orderBy(col("dist").asc, col("df").desc, col("term").asc)
        .limit(5),
      Some(s"""
        SELECT term, count(*) AS df,
               levenshtein(term, 'spak')::INT AS dist
        FROM (SELECT DISTINCT doc_id, term FROM (
                SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term FROM documents))
        GROUP BY term
        HAVING levenshtein(term, 'spak') <= 2
        ORDER BY dist ASC, df DESC, term ASC LIMIT 5
      """)),

    // T2 build/query split: BM25 against the PREBUILT inverted index
    // (postings pruned to the query terms at the parquet scan). Different
    // terms/k from s3 so the two entries exercise distinct posting lists.
    "s3b_bm25_indexed" -> Q(
      (s, d) => SearchEngine.bm25TopK(s, d, Seq("stream", "window"), 15),
      Some(s"""
        WITH ${bm25ScoredCteFor("scored", Seq("stream", "window"))}
        SELECT id, score FROM scored ORDER BY score DESC, id ASC LIMIT 15
      """)),

    // MAXSCORE-pruned BM25 (Turtle & Flood upper-bound elimination — the
    // WAND/MaxScore family every production inverted index runs): docs
    // are fully scored only when they hold an ESSENTIAL term (per-term
    // max impact from the termstats artifact; θ from the rarest list's
    // own top-k), provably EXACT — so the oracle is the plain exact-BM25
    // SQL, a pruning nobody can observe in the results. The term mix
    // (one rare term + the two commonest) is the dominant real-query
    // shape and the one MaxScore exists for: the common lists never
    // drive candidate generation.
    "s3g_bm25_maxscore" -> Q(
      (s, d) => graft.index.Bm25Index.topKMaxScore(
        s, graft.index.Bm25Index.ensure(s, d), "doc_id",
        Seq("dup", "the", "a"), 10)
        .select(col("doc_id").as("id"), col("score")),
      Some(s"""
        WITH ${bm25ScoredCteFor("scored", Seq("dup", "the", "a"))}
        SELECT id, score FROM scored ORDER BY score DESC, id ASC LIMIT 10
      """)),

    // MaxScore × batching: the pruned form at THROUGHPUT — a whole query
    // batch where each qid's partial-agg shuffle is candidate-sized (its
    // essential lists' docs), two batch-bounded collects (UBs + the
    // one-plan-for-all-qids seed top-k), one final plan. Per-qid results
    // provably equal the exact batch, so the oracle is a UNION of plain
    // exact-BM25 SELECTs — the pruning is invisible by construction.
    // qid 0 takes the pruned path on this fixture (the s3g precondition
    // proof covers the same mix); qid 1 is uniformly common (all terms
    // essential — rides the plan unpruned, still exact).
    "s3h_bm25_maxscore_batched" -> Q(
      (s, d) => graft.index.Bm25Index.topKMaxScoreBatched(
        s, graft.index.Bm25Index.ensure(s, d), "doc_id",
        Seq(0L -> Seq("dup", "the", "a"), 1L -> Seq("the", "a", "spark")), 10)
        .select(col("qid"), col("doc_id").as("id"), col("score")),
      Some(s"""
        WITH ${bm25ScoredCteFor("msb0", Seq("dup", "the", "a"))},
        ${bm25ScoredCteFor("msb1", Seq("the", "a", "spark"))},
        p0 AS (SELECT id, score FROM msb0 ORDER BY score DESC, id ASC LIMIT 10),
        p1 AS (SELECT id, score FROM msb1 ORDER BY score DESC, id ASC LIMIT 10)
        SELECT 0::BIGINT AS qid, id, score FROM p0
        UNION ALL
        SELECT 1::BIGINT AS qid, id, score FROM p1
        ORDER BY qid, score DESC, id ASC
      """)),

    // Hit HIGHLIGHTING: the best window-of-10 snippet per BM25 hit
    // (Lucene UnifiedHighlighter surface) — most query-term occurrences
    // wins, leftmost on ties. Pure integer arithmetic over the k hit
    // docs' tokens (pushed id IN point read), so the whole surface
    // replays in SQL.
    "s32_snippets" -> Q(
      (s, d) => SearchEngine.snippets(s, d, QueryTerms, 10, 10),
      Some(s"""
        WITH ${bm25ScoredCte("sn_scored")},
        sn_hits AS (
          SELECT id, score FROM sn_scored
          ORDER BY score DESC, id ASC LIMIT 10
        ), sn_toks AS (
          SELECT d.doc_id AS id,
                 list_filter(string_split(d.text, ' '), t -> t <> '') AS toks
          FROM documents d JOIN sn_hits h ON d.doc_id = h.id
        ), sn_pos AS (
          SELECT id, toks, unnest(range(0, len(toks))) AS pos FROM sn_toks
        ), sn_win AS (
          SELECT id, toks, pos,
                 sum(CASE WHEN toks[pos + 1] IN ('spark', 'join', 'filter')
                     THEN 1 ELSE 0 END)
                   OVER (PARTITION BY id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS n_hits
          FROM sn_pos
        ), sn_best AS (
          SELECT id, n_hits::BIGINT AS n_hits,
                 array_to_string(toks[pos + 1 : pos + 10], ' ') AS snippet,
                 row_number() OVER (PARTITION BY id
                   ORDER BY n_hits DESC, pos ASC) AS rn
          FROM sn_win
        )
        SELECT h.id, h.score, b.n_hits, b.snippet
        FROM sn_hits h JOIN sn_best b ON h.id = b.id AND b.rn = 1
        ORDER BY h.score DESC, h.id ASC
      """)),

    // CASCADE retrieval (L1/L2 retrieve-then-rerank): BM25 recalls a
    // 50-doc shortlist, exact cosine vs the query vector re-scores it,
    // top-10 serve. The vector pass is candidate-sized (pushed
    // vec_id IN point read) — the reason cascades exist.
    "s33_cascade_rerank" -> Q(
      (s, d) => SearchEngine.cascadeRerank(s, d, QueryTerms, QueryVecId,
        50, 10),
      Some(s"""
        WITH ${bm25ScoredCte("cc_scored")},
        cc_cand AS (
          SELECT id FROM cc_scored ORDER BY score DESC, id ASC LIMIT 50
        )
        SELECT e.vec_id AS id,
               round(list_cosine_similarity(e.embedding::DOUBLE[],
                 (SELECT embedding::DOUBLE[] FROM embeddings
                  WHERE vec_id = 0)), 6) AS score
        FROM embeddings e JOIN cc_cand c ON e.vec_id = c.id
        ORDER BY score DESC, id ASC LIMIT 10
      """)),

    // DEEP PAGINATION via search_after cursors (the ES/OpenSearch
    // contract, and the only pagination that scales: page N is the same
    // postings-seek + cursor-filter + top-k plan as page 1, where
    // OFFSET drags offset+k rows through the final ordering — O(k) vs
    // O(N·k) rows at depth N). Pages 2 and 3 are fetched by CHAINED
    // cursors (each page's last (score, id) feeds the next call); the
    // oracle states the same rows as OFFSET arithmetic over the exact
    // scoring, which is precisely the tiling claim (no gaps, no
    // repeats) the deterministic (score desc, id asc) order makes true.
    "s34_search_after" -> Q(
      (s, d) => {
        val pageSize = 5
        def cursor(df: org.apache.spark.sql.DataFrame): (Double, Long) = {
          val last = df.orderBy(col("score").desc, col("id").asc)
            .collect().last
          (last.getDouble(1), last.getLong(0))
        }
        val p1 = SearchEngine.bm25TopK(s, d, QueryTerms, pageSize)
        val (s1, id1) = cursor(p1)
        val p2 = SearchEngine.bm25TopKAfter(s, d, QueryTerms, pageSize, s1, id1)
        val (s2, id2) = cursor(p2)
        val p3 = SearchEngine.bm25TopKAfter(s, d, QueryTerms, pageSize, s2, id2)
        p2.withColumn("page", lit(2L))
          .unionByName(p3.withColumn("page", lit(3L)))
          .select(col("page"), col("id"), col("score"))
          .orderBy(col("page"), col("score").desc, col("id").asc)
      },
      Some(s"""
        WITH ${bm25ScoredCte("sa_scored")},
        sa_p2 AS (
          SELECT id, score FROM sa_scored
          ORDER BY score DESC, id ASC LIMIT 5 OFFSET 5
        ), sa_p3 AS (
          SELECT id, score FROM sa_scored
          ORDER BY score DESC, id ASC LIMIT 5 OFFSET 10
        )
        SELECT 2::BIGINT AS page, id, score FROM sa_p2
        UNION ALL
        SELECT 3::BIGINT AS page, id, score FROM sa_p3
        ORDER BY page, score DESC, id ASC
      """)),

    // Pseudo-relevance-feedback query expansion (the RM3-shaped PRF
    // two-pass loop — Lavrenko & Croft relevance models as Anserini/
    // Terrier run them): base top-3 docs are assumed relevant, their 2
    // highest-impact non-query terms (summed stored BM25 weight, term
    // asc tiebreak) join the query, and the expanded set re-ranks.
    // Deterministic end to end, so BOTH passes replay in SQL.
    "s31_prf_expansion" -> Q(
      (s, d) => graft.index.Bm25Index.prfExpandTopK(
        s, graft.index.Bm25Index.ensure(s, d), Tables.documents(s, d),
        "doc_id", "text", QueryTerms, fbDocs = 3, nExp = 2, 10)
        .select(col("doc_id").as("id"), col("score")),
      Some(s"""
        WITH prf_base2 AS (
          SELECT doc_id, toks, len(toks) AS dl FROM (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM documents)
        ), prf_stats AS (
          SELECT count(*) AS n_docs, avg(dl::DOUBLE) AS avgdl FROM prf_base2
        ), prf_tf AS (
          SELECT doc_id, dl, term, count(*) AS tf
          FROM (SELECT doc_id, dl, unnest(toks) AS term FROM prf_base2)
          GROUP BY doc_id, dl, term
        ), prf_df AS (
          SELECT term, count(*) AS df FROM prf_tf GROUP BY term
        ), prf_w AS (
          SELECT t.doc_id, t.term,
            ln(1.0::DOUBLE + (st.n_docs - f.df + 0.5::DOUBLE) / (f.df + 0.5::DOUBLE)) *
            (t.tf * 2.2::DOUBLE) /
            (t.tf + 1.2::DOUBLE * (1 - 0.75::DOUBLE + 0.75::DOUBLE * t.dl / st.avgdl)) AS w
          FROM prf_tf t, prf_df f, prf_stats st WHERE t.term = f.term
        ), prf_fb AS (
          SELECT doc_id, round(sum(w), 6) AS score FROM prf_w
          WHERE term IN ('spark', 'join', 'filter')
          GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 3
        ), prf_exp AS (
          SELECT w.term, round(sum(w.w), 6) AS ew
          FROM prf_w w JOIN prf_fb fb ON w.doc_id = fb.doc_id
          WHERE w.term NOT IN ('spark', 'join', 'filter')
          GROUP BY w.term ORDER BY ew DESC, w.term ASC LIMIT 2
        )
        SELECT doc_id AS id, round(sum(w), 6) AS score FROM prf_w
        WHERE term IN ('spark', 'join', 'filter')
           OR term IN (SELECT term FROM prf_exp)
        GROUP BY doc_id ORDER BY score DESC, id ASC LIMIT 10
      """)),

    // Incremental index maintenance: BM25 served from an index GROWN in
    // two appends (half the corpus at init, half appended) — raw
    // immutable postings segments + versioned merged stats, idf applied
    // at query time. The oracle is the plain whole-corpus BM25 SQL: the
    // incrementally-grown index must be indistinguishable from a full
    // rebuild, hash-exact.
    "s3c_bm25_incremental" -> Q(
      (s, d) => graft.index.IncrementalBm25.topK(
        s, graft.index.IncrementalBm25.ensure(s, d), "doc_id",
        Seq("data", "query"), 12)
        .select(col("doc_id").as("id"), col("score")),
      Some(s"""
        WITH ${bm25ScoredCteFor("scored", Seq("data", "query"))}
        SELECT id, score FROM scored ORDER BY score DESC, id ASC LIMIT 12
      """)),

    // Document DELETES against the live BM25 index — Lucene's exact
    // deleted-doc semantics: tombstoned docs leave the results
    // immediately (their postings are filtered at read) while df/n_docs/
    // avgdl stay STALE until compaction recomputes them from survivors.
    // The oracle is therefore the plain whole-corpus BM25 SQL (stats over
    // ALL docs, deleted included) with a final tombstone WHERE — exactly
    // the pre-merge Lucene serving contract.
    "s3e_bm25_tombstone" -> Q(
      (s, d) => graft.index.IncrementalBm25.topK(
        s, graft.index.IncrementalBm25.ensureTombstoned(s, d), "doc_id",
        Seq("data", "query"), 12)
        .select(col("doc_id").as("id"), col("score")),
      Some(s"""
        WITH ${bm25ScoredCteFor("scored", Seq("data", "query"))}
        SELECT id, score FROM scored WHERE id % 7 <> 3
        ORDER BY score DESC, id ASC LIMIT 12
      """)),

    // Same-id document UPSERT against the live BM25 index — Lucene's
    // update = delete + add under one tag: the old text leaves topK the
    // same call, the new text serves from its own segment. Interim stats
    // are the documented Lucene behavior one step further: df/n_docs/
    // avgdl count BOTH versions until compaction recomputes from
    // survivors — the oracle states that double-counted interim exactly
    // (stats over original corpus ∪ new versions; scoring rows over the
    // CURRENT texts only).
    "s3f_bm25_upsert" -> Q(
      (s, d) => graft.index.IncrementalBm25.topK(
        s, graft.index.IncrementalBm25.ensureUpserted(s, d), "doc_id",
        Seq("data", "query"), 12)
        .select(col("doc_id").as("id"), col("score")),
      Some("""
        WITH u AS (
          SELECT a.doc_id, b.text
          FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
          WHERE a.doc_id % 11 = 5),
        allver AS (
          SELECT doc_id, text, 0 AS ver FROM documents
          UNION ALL SELECT doc_id, text, 1 AS ver FROM u),
        cur AS (
          SELECT d.doc_id, coalesce(u.text, d.text) AS text
          FROM documents d LEFT JOIN u ON u.doc_id = d.doc_id),
        av AS (SELECT doc_id, ver,
                      list_filter(string_split(text, ' '), t -> t <> '') AS toks
               FROM allver),
        av2 AS (SELECT doc_id, ver, toks, len(toks) AS dl FROM av),
        st AS (SELECT count(*) AS n_docs, avg(dl::DOUBLE) AS avgdl FROM av2),
        dfreq AS (
          SELECT term, count(*) AS df FROM (
            SELECT DISTINCT doc_id, ver, term FROM
              (SELECT doc_id, ver, unnest(toks) AS term FROM av2))
          WHERE term IN ('data', 'query') GROUP BY term),
        c AS (SELECT doc_id,
                     list_filter(string_split(text, ' '), t -> t <> '') AS toks
              FROM cur),
        c2 AS (SELECT doc_id, toks, len(toks) AS dl FROM c),
        tf AS (
          SELECT doc_id, dl, term, count(*) AS tf
          FROM (SELECT doc_id, dl, unnest(toks) AS term FROM c2)
          WHERE term IN ('data', 'query')
          GROUP BY doc_id, dl, term),
        scored AS (
          SELECT t.doc_id AS id, round(sum(
            ln(1.0::DOUBLE + (st.n_docs - f.df + 0.5::DOUBLE) / (f.df + 0.5::DOUBLE)) *
            (t.tf * 2.2::DOUBLE) /
            (t.tf + 1.2::DOUBLE * (1 - 0.75::DOUBLE + 0.75::DOUBLE * t.dl / st.avgdl))
          ), 6) AS score
          FROM tf t, dfreq f, st
          WHERE t.term = f.term
          GROUP BY t.doc_id)
        SELECT id, score FROM scored ORDER BY score DESC, id ASC LIMIT 12
      """)),

    // TAIL-FOLD compaction on the live BM25 index (the shared
    // SegmentFamily fold, as in a31): postings segments past the first
    // fold into ONE (term-sorted + bloom, the seek layout preserved)
    // while the init segment is only REFERENCED by the new manifest —
    // O(tail) write cost. A partial
    // fold reclaims dead tail postings (the rows the read already
    // filtered) and republishes stats VERBATIM (the family's stale-stats
    // contract: df/n_docs/avgdl catch up only at the full merge), so the
    // read equals the s3f interim SQL minus the deleted docs.
    "s3i_bm25_tailfold" -> Q(
      (s, d) => graft.index.IncrementalBm25.topK(
        s, graft.index.IncrementalBm25.ensureTailFolded(s, d), "doc_id",
        Seq("data", "query"), 12)
        .select(col("doc_id").as("id"), col("score")),
      Some("""
        WITH u AS (
          SELECT a.doc_id, b.text
          FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
          WHERE a.doc_id % 11 = 5 AND a.doc_id % 7 <> 3),
        allver AS (
          SELECT doc_id, text, 0 AS ver FROM documents
          UNION ALL SELECT doc_id, text, 1 AS ver FROM u),
        cur AS (
          SELECT d.doc_id, coalesce(u.text, d.text) AS text
          FROM documents d LEFT JOIN u ON u.doc_id = d.doc_id),
        av AS (SELECT doc_id, ver,
                      list_filter(string_split(text, ' '), t -> t <> '') AS toks
               FROM allver),
        av2 AS (SELECT doc_id, ver, toks, len(toks) AS dl FROM av),
        st AS (SELECT count(*) AS n_docs, avg(dl::DOUBLE) AS avgdl FROM av2),
        dfreq AS (
          SELECT term, count(*) AS df FROM (
            SELECT DISTINCT doc_id, ver, term FROM
              (SELECT doc_id, ver, unnest(toks) AS term FROM av2))
          WHERE term IN ('data', 'query') GROUP BY term),
        c AS (SELECT doc_id,
                     list_filter(string_split(text, ' '), t -> t <> '') AS toks
              FROM cur),
        c2 AS (SELECT doc_id, toks, len(toks) AS dl FROM c),
        tf AS (
          SELECT doc_id, dl, term, count(*) AS tf
          FROM (SELECT doc_id, dl, unnest(toks) AS term FROM c2)
          WHERE term IN ('data', 'query')
          GROUP BY doc_id, dl, term),
        scored AS (
          SELECT t.doc_id AS id, round(sum(
            ln(1.0::DOUBLE + (st.n_docs - f.df + 0.5::DOUBLE) / (f.df + 0.5::DOUBLE)) *
            (t.tf * 2.2::DOUBLE) /
            (t.tf + 1.2::DOUBLE * (1 - 0.75::DOUBLE + 0.75::DOUBLE * t.dl / st.avgdl))
          ), 6) AS score
          FROM tf t, dfreq f, st
          WHERE t.term = f.term
          GROUP BY t.doc_id)
        SELECT id, score FROM scored WHERE id % 7 <> 3
        ORDER BY score DESC, id ASC LIMIT 12
      """)),

    // Batched multi-query BM25 (the sparse twin of a12): ONE plan answers
    // a 4-query table — postings pruned to the batch's term union, query
    // table broadcast, per-(qid, doc) partial-agg sum, per-query top-k as
    // one WindowGroupLimit rank — amortizing Spark's per-job floor across
    // the batch exactly like the reference's thread-pooled parallel
    // search amortizes its per-request overhead.
    "s3d_bm25_batched" -> Q(
      (s, d) => {
        // serving session: fixed-shape batched plan, AQE off (see
        // ServingSession — values identical, fewer per-job floors)
        val sv = graft.search.ServingSession.of(s)
        val qs = sv.createDataFrame(Seq(
          (0L, "data"), (0L, "query"), (1L, "stream"), (1L, "window"),
          (2L, "merge"), (2L, "vector"), (3L, "spark"), (3L, "filter")))
          .toDF("qid", "term")
        graft.index.Bm25Index.topKBatched(
          sv, graft.index.Bm25Index.ensure(sv, d), "doc_id", qs, "qid", "term", 5)
          .select(col("qid"), col("doc_id").as("id"), col("score"))
      },
      Some(s"""
        WITH b AS (
          SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
          FROM documents),
        b2 AS (SELECT doc_id, toks, len(toks) AS dl FROM b),
        st AS (SELECT count(*) AS n_docs, avg(dl::DOUBLE) AS avgdl FROM b2),
        tf AS (
          SELECT doc_id, dl, term, count(*) AS tf
          FROM (SELECT doc_id, dl, unnest(toks) AS term FROM b2)
          WHERE term IN ('data', 'query', 'stream', 'window',
                         'merge', 'vector', 'spark', 'filter')
          GROUP BY doc_id, dl, term),
        dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
        q AS (SELECT qid::BIGINT AS qid, term FROM (VALUES
          (0, 'data'), (0, 'query'), (1, 'stream'), (1, 'window'),
          (2, 'merge'), (2, 'vector'), (3, 'spark'), (3, 'filter')) v(qid, term)),
        scored AS (
          SELECT q.qid, t.doc_id AS id, round(sum(
            ln(1.0::DOUBLE + (st.n_docs - f.df + 0.5::DOUBLE) / (f.df + 0.5::DOUBLE)) *
            (t.tf * 2.2::DOUBLE) /
            (t.tf + 1.2::DOUBLE * (1 - 0.75::DOUBLE + 0.75::DOUBLE * t.dl / st.avgdl))
          ), 6) AS score
          FROM tf t
          JOIN dfreq f ON t.term = f.term
          JOIN q ON q.term = t.term
          CROSS JOIN st
          GROUP BY q.qid, t.doc_id),
        r AS (
          SELECT qid, id, score,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY score DESC, id ASC) AS rn
          FROM scored)
        SELECT qid, id, score FROM r WHERE rn <= 5
        ORDER BY qid, score DESC, id ASC
      """)),

    // Exact-phrase search through the inverted index: posting lists of
    // the phrase terms propose (pushed In + bloom; a doc missing any term
    // is never touched), padded-substring adjacency on the normalized
    // text confirms, summed BM25 impact weights rank. The oracle runs the
    // same all-terms BM25 restricted to adjacency-confirmed docs.
    "s20_phrase_search" -> Q(
      (s, d) => graft.index.Bm25Index.phraseTopK(
        s, graft.index.Bm25Index.ensure(s, d), Tables.documents(s, d),
        "doc_id", "text", Seq("big", "table"), 10),
      Some(s"""
        WITH ${bm25ScoredCteFor("scored", Seq("big", "table"))}
        SELECT s.id, s.score
        FROM scored s JOIN documents d ON s.id = d.doc_id
        WHERE contains(' ' || d.text || ' ', ' big table ')
        ORDER BY s.score DESC, s.id ASC LIMIT 10
      """)),

    // Passage-level retrieval — the RAG serving query: overlapping
    // 32/24 token chunks scored by BM25 (chunk-level corpus stats, the
    // dl/avgdl of PASSAGES not documents), top-10 chunks returned as
    // (doc_id, chunk_ord). The chunk key packs (doc, ord) into one id so
    // the whole Bm25 pipeline is reused unchanged; the oracle rebuilds
    // the same chunks with list slices and runs the same BM25 CTE chain.
    // Packing bound: 2^21 chunk ords per doc (a collision needs a ~50M
    // token / quarter-GB single document at stride 24 — physically not a
    // text document) while doc_id keeps 2^42 headroom before the shifted
    // key can overflow int64 — both orders of magnitude past any corpus.
    "s21_chunk_retrieval" -> Q(
      (s, d) => {
        val ChunkOrdSpace = 1L << 21
        // r15: token-array windows feed BM25 directly — the string form
        // built chunk_text for every window only for Bm25.score to split
        // it back (values identical; see TextOps.chunkTokenWindows)
        val chunks = graft.functions.TextOps
          .chunkTokenWindows(Tables.documents(s, d), "doc_id", "text", 32, 24)
          .select((col("doc_id") * ChunkOrdSpace + col("chunk_ord")).as("ck"),
            col("chunk_toks"), col("chunk_dl"))
        // dl rides its arithmetic column, so the corpus-stats pass prunes
        // the window arrays instead of building them a second time (r16)
        graft.search.Bm25
          .topKTokensDl(chunks, "ck", "chunk_toks", "chunk_dl",
            Seq("stream", "window"), 10)
          .select(expr(s"ck div $ChunkOrdSpace").cast("long").as("doc_id"),
            pmod(col("ck"), lit(ChunkOrdSpace)).cast("long").as("chunk_ord"),
            col("score"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS arr
             FROM documents),
        cs AS (
          SELECT doc_id, arr, len(arr) AS n,
                 unnest(range(0, greatest(len(arr), 1), 24)) AS st
          FROM t),
        chunks AS (
          SELECT doc_id * 2097152 + (st // 24) AS ck,
                 arr[st + 1 : st + 32] AS toks
          FROM cs WHERE st < n),
        base2 AS (SELECT ck, toks, len(toks) AS dl FROM chunks),
        stats AS (SELECT count(*) AS n_docs, avg(dl::DOUBLE) AS avgdl FROM base2),
        tf AS (
          SELECT ck, dl, term, count(*) AS tf
          FROM (SELECT ck, dl, unnest(toks) AS term FROM base2)
          WHERE term IN ('stream', 'window')
          GROUP BY ck, dl, term),
        dfreq AS (SELECT term, count(DISTINCT ck) AS df FROM tf GROUP BY term),
        scored AS (
          SELECT t.ck, round(sum(
            ln(1.0::DOUBLE + (st.n_docs - f.df + 0.5::DOUBLE) / (f.df + 0.5::DOUBLE)) *
            (t.tf * 2.2::DOUBLE) /
            (t.tf + 1.2::DOUBLE * (1 - 0.75::DOUBLE + 0.75::DOUBLE * t.dl / st.avgdl))
          ), 6) AS score
          FROM tf t, dfreq f, stats st WHERE t.term = f.term GROUP BY t.ck)
        SELECT (ck // 2097152)::BIGINT AS doc_id, (ck % 2097152)::BIGINT AS chunk_ord, score
        FROM scored ORDER BY score DESC, ck ASC LIMIT 10
      """)),

    // s21's build/query split: passage retrieval from the PREBUILT
    // chunk-level BM25 index (chunking + impact weights paid once at
    // indexing time, like the reference's per-passage points at
    // scripts/indexing.py:471-520) — the query is one pushed-In+bloom
    // postings seek over the terms' chunk lists. Different terms/k from
    // s21 so the two entries exercise distinct posting lists; the oracle
    // rebuilds chunks from scratch, proving build-time == query-time math.
    "s21b_chunk_indexed" -> Q(
      (s, d) => graft.index.ChunkIndex.topK(
        s, graft.index.ChunkIndex.ensure(s, d), Seq("merge", "vector"), 12),
      Some(s"""
        WITH t AS (SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS arr
             FROM documents),
        cs AS (
          SELECT doc_id, arr, len(arr) AS n,
                 unnest(range(0, greatest(len(arr), 1), 24)) AS st
          FROM t),
        chunks AS (
          SELECT doc_id * 2097152 + (st // 24) AS ck,
                 arr[st + 1 : st + 32] AS toks
          FROM cs WHERE st < n),
        base2 AS (SELECT ck, toks, len(toks) AS dl FROM chunks),
        stats AS (SELECT count(*) AS n_docs, avg(dl::DOUBLE) AS avgdl FROM base2),
        tf AS (
          SELECT ck, dl, term, count(*) AS tf
          FROM (SELECT ck, dl, unnest(toks) AS term FROM base2)
          WHERE term IN ('merge', 'vector')
          GROUP BY ck, dl, term),
        dfreq AS (SELECT term, count(DISTINCT ck) AS df FROM tf GROUP BY term),
        scored AS (
          SELECT t.ck, round(sum(
            ln(1.0::DOUBLE + (st.n_docs - f.df + 0.5::DOUBLE) / (f.df + 0.5::DOUBLE)) *
            (t.tf * 2.2::DOUBLE) /
            (t.tf + 1.2::DOUBLE * (1 - 0.75::DOUBLE + 0.75::DOUBLE * t.dl / st.avgdl))
          ), 6) AS score
          FROM tf t, dfreq f, stats st WHERE t.term = f.term GROUP BY t.ck)
        SELECT (ck // 2097152)::BIGINT AS doc_id, (ck % 2097152)::BIGINT AS chunk_ord, score
        FROM scored ORDER BY score DESC, ck ASC LIMIT 12
      """)),

    // Dense passage retrieval from the prebuilt chunk-level TF-IDF index —
    // the dense twin of s21b (the reference's per-passage points carry
    // EMBEDDINGS, `scripts/indexing.py:471-520`; BM25 is the auxiliary
    // arm). idf/norms are chunk-corpus statistics, so a short on-topic
    // passage outranks a long document that mentions the terms once. The
    // query path is a driver-side embed + one pushed bucket-IN seek over
    // the chunk vectors — no re-chunk, no corpus-stat recompute.
    "s21c_chunk_dense" -> Q(
      (s, d) => graft.index.ChunkIndex.denseTopK(
        s, graft.index.ChunkIndex.ensureDense(s, d), "group query batch", 10),
      Some(chunkDenseSql("group query batch", 10))),

    // Late-interaction (MaxSim/ColBERT shape) document scoring: per query
    // term, the MAX similarity across the doc's chunk vectors; per doc,
    // the sum over terms. One pushed bucket-IN seek + (doc,bucket) max
    // partial-agg + broadcast term table + doc sum — the plan that serves
    // learned multi-vector embeddings unchanged.
    "s22_maxsim_passages" -> Q(
      (s, d) => graft.index.ChunkIndex.maxSimTopK(
        s, graft.index.ChunkIndex.ensureDense(s, d), "group query batch", 10),
      Some(s"""
        WITH $chunkTfidfCtes,
        tb AS (
          SELECT tok AS term,
                 (('0x' || substr(md5(tok), 1, 8))::BIGINT % 64)::INT AS bucket
          FROM (SELECT DISTINCT unnest(
                  list_filter(string_split('group query batch', ' '), t -> t <> '')) AS tok)),
        pdb AS (
          SELECT (ck // 2097152)::BIGINT AS doc_id, bucket, max(w) AS mw
          FROM cdv GROUP BY 1, 2)
        SELECT doc_id, round(sum(mw), 6) AS score
        FROM pdb JOIN tb USING (bucket)
        GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 10
      """)),

    // Hybrid passage retrieval: RRF(k=60) of the dense TF-IDF arm and the
    // sparse BM25 arm over the same chunk keys, both prebuilt-index seeks
    // oversampled 2x (reference fetches limit*2 per arm,
    // `scripts/indexing.py:933,943`) — the full RAG serving query with
    // zero query-time corpus work.
    "s21d_chunk_hybrid" -> Q(
      (s, d) => graft.index.ChunkIndex.hybridTopK(
        s, graft.index.ChunkIndex.ensure(s, d),
        graft.index.ChunkIndex.ensureDense(s, d), "scan merge stream", 10),
      Some(chunkHybridSql("scan merge stream", 10))),

    // J2/W1/A2/Q7: hybrid RRF(k=60) of dense || sparse, both oversampled 2x
    // (reference fetches limit*2 per arm, `scripts/indexing.py:933,943`).
    "s4_hybrid_rrf" -> Q(
      (s, d) => SearchEngine.hybrid(s, d, QueryVecId, QueryTerms, 10),
      Some(s"""
        WITH ${denseScoredCte("dense_scored")}, ${bm25ScoredCte("sparse_scored")},
        dense_top AS (
          SELECT id, score FROM dense_scored ORDER BY score DESC, id ASC LIMIT 20
        ), sparse_top AS (
          SELECT id, score FROM sparse_scored ORDER BY score DESC, id ASC LIMIT 20
        ), dr AS (
          SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS rank_d FROM dense_top
        ), sr AS (
          SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS rank_s FROM sparse_top
        )
        SELECT coalesce(dr.id, sr.id) AS id,
               round(coalesce(1.0::DOUBLE / (60 + rank_d), 0.0::DOUBLE)
                   + coalesce(1.0::DOUBLE / (60 + rank_s), 0.0::DOUBLE), 6) AS score
        FROM dr FULL OUTER JOIN sr ON dr.id = sr.id
        ORDER BY score DESC, id ASC LIMIT 10
      """)),

    // Batched flagship: 4 hybrid queries (dense vec + term pair each)
    // through ONE dense scan + ONE postings scan + per-qid RRF — the
    // amortized answer to per-query serving latency (the scheduling
    // floor and scans are paid once per batch). Oracle = the s4 pipeline
    // run per qid.
    "s4b_hybrid_batched" -> Q(
      // serving session: AQE off for the fixed-shape batched plan (see
      // ServingSession — values identical, fewer per-job floors)
      (s, d) => SearchEngine.hybridBatched(
        graft.search.ServingSession.of(s), d, Seq(
        (0L, 0L, Seq("data", "query")), (1L, 1L, Seq("stream", "window")),
        (2L, 2L, Seq("merge", "vector")), (3L, 3L, Seq("spark", "filter"))),
        10),
      Some(s"""
        WITH qmap(qid, vec_id) AS (VALUES (0, 0), (1, 1), (2, 2), (3, 3)),
        qv AS (
          SELECT qmap.qid::BIGINT AS qid, e.embedding::DOUBLE[] AS qemb
          FROM qmap JOIN embeddings e ON e.vec_id = qmap.vec_id),
        ds AS (
          SELECT qv.qid, e.vec_id AS id,
                 round(list_cosine_similarity(e.embedding::DOUBLE[], qv.qemb), 6) AS score
          FROM embeddings e CROSS JOIN qv),
        dt AS (
          SELECT qid, id, rank_d FROM (
            SELECT qid, id, row_number() OVER (PARTITION BY qid
              ORDER BY score DESC, id ASC) AS rank_d FROM ds)
          WHERE rank_d <= 20),
        b AS (
          SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
          FROM documents),
        b2 AS (SELECT doc_id, toks, len(toks) AS dl FROM b),
        st AS (SELECT count(*) AS n_docs, avg(dl::DOUBLE) AS avgdl FROM b2),
        tf AS (
          SELECT doc_id, dl, term, count(*) AS tf
          FROM (SELECT doc_id, dl, unnest(toks) AS term FROM b2)
          WHERE term IN ('data', 'query', 'stream', 'window',
                         'merge', 'vector', 'spark', 'filter')
          GROUP BY doc_id, dl, term),
        dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
        q AS (SELECT qid::BIGINT AS qid, term FROM (VALUES
          (0, 'data'), (0, 'query'), (1, 'stream'), (1, 'window'),
          (2, 'merge'), (2, 'vector'), (3, 'spark'), (3, 'filter')) v(qid, term)),
        ss AS (
          SELECT q.qid, t.doc_id AS id, round(sum(
            ln(1.0::DOUBLE + (st.n_docs - f.df + 0.5::DOUBLE) / (f.df + 0.5::DOUBLE)) *
            (t.tf * 2.2::DOUBLE) /
            (t.tf + 1.2::DOUBLE * (1 - 0.75::DOUBLE + 0.75::DOUBLE * t.dl / st.avgdl))
          ), 6) AS score
          FROM tf t
          JOIN dfreq f ON t.term = f.term
          JOIN q ON q.term = t.term
          CROSS JOIN st
          GROUP BY q.qid, t.doc_id),
        sr AS (
          SELECT qid, id, rank_s FROM (
            SELECT qid, id, row_number() OVER (PARTITION BY qid
              ORDER BY score DESC, id ASC) AS rank_s FROM ss)
          WHERE rank_s <= 20),
        f AS (
          SELECT coalesce(dt.qid, sr.qid) AS qid, coalesce(dt.id, sr.id) AS id,
                 round(coalesce(1.0::DOUBLE / (60 + rank_d), 0.0::DOUBLE)
                     + coalesce(1.0::DOUBLE / (60 + rank_s), 0.0::DOUBLE), 6) AS score
          FROM dt FULL OUTER JOIN sr ON dt.qid = sr.qid AND dt.id = sr.id),
        r AS (
          SELECT qid, id, score, row_number() OVER (PARTITION BY qid
            ORDER BY score DESC, id ASC) AS rn FROM f)
        SELECT qid, id, score FROM r WHERE rn <= 10
        ORDER BY qid ASC, score DESC, id ASC
      """)),

    // §1: the unified point collection (payload ⋈ vectors) — dense top-k
    // with payload columns in one pass over the joined table.
    "s15_collection_search" -> Q(
      (s, d) => {
        val qv = typedlit(SearchEngine.queryVecArray(s, d, QueryVecId))
        Tables.collection(s, d)
          .select(col("doc_id").as("id"), col("lang"), col("source"),
            round(graft.functions.VectorOps.cosineSim(col("embedding"), qv), 6)
              .as("score"))
          .orderBy(col("score").desc, col("id").asc)
          .limit(10)
      },
      Some(s"""
        WITH ${denseScoredCte("scored")}
        SELECT s.id, doc.lang, doc.source, s.score
        FROM scored s JOIN documents doc ON s.id = doc.doc_id
        ORDER BY s.score DESC, s.id ASC LIMIT 10
      """)),

    // P1/P2/T5/O11: exact keyword match with field precedence.
    "s5_exact_match" -> Q(
      (s, d) => SearchEngine.exactMatch(s, d, "src7", 10),
      Some(s"""
        WITH ${exactArmCte("exact_arm")}
        SELECT id, score, search_type FROM exact_arm
        ORDER BY score DESC, id ASC
      """)),

    // J1/U1/A1/Q2: simple fusion (exact ∪ vector, keep-best, provenance).
    "s6_fusion_simple" -> Q(
      (s, d) => SearchEngine.searchFusion(s, d, "src7", QueryVecId, 10),
      Some(s"""
        WITH ${denseScoredCte("scored")}, ${exactArmCte("exact_arm")},
        vector_arm AS (
          SELECT id, score, 'vector' AS search_type FROM scored
          WHERE score >= 0.4::DOUBLE
          ORDER BY score DESC, id ASC LIMIT 20
        ), unioned AS (
          SELECT * FROM exact_arm UNION ALL SELECT * FROM vector_arm
        )
        SELECT id, round(max(score), 6) AS score,
               string_agg(DISTINCT search_type, '+' ORDER BY search_type) AS search_type
        FROM unioned GROUP BY id
        ORDER BY score DESC, id ASC LIMIT 10
      """)),

    // P3/T4/Q3: filtered search with oversample-then-trim semantics
    // (fetch 3x, post-filter, head k — `app/services/search_service.py:413-423`).
    "s7_filtered_search" -> Q(
      (s, d) => SearchEngine.filteredSearch(s, d, QueryVecId, "lang", "en", 10),
      Some(s"""
        WITH ${denseScoredCte("scored")},
        over_arm AS (
          SELECT id, score FROM scored ORDER BY score DESC, id ASC LIMIT 30
        )
        SELECT o.id, o.score
        FROM over_arm o JOIN documents doc ON o.id = doc.doc_id
        WHERE doc.lang = 'en'
        ORDER BY o.score DESC, o.id ASC LIMIT 10
      """)),

    // J3/F8/F9: min-max-normalized linear fusion, alpha = 0.7.
    "s8_linear_fusion" -> Q(
      (s, d) => SearchEngine.linearFusion(s, d, QueryVecId, QueryTerms, 0.7, 10),
      Some(s"""
        WITH ${denseScoredCte("dense_scored")}, ${bm25ScoredCte("sparse_scored")},
        dense_top AS (
          SELECT id, score FROM dense_scored ORDER BY score DESC, id ASC LIMIT 20
        ), sparse_top AS (
          SELECT id, score FROM sparse_scored ORDER BY score DESC, id ASC LIMIT 20
        ), dn AS (
          SELECT id, CASE WHEN max(score) OVER () = min(score) OVER () THEN 1.0::DOUBLE
                          ELSE (score - min(score) OVER ()) / (max(score) OVER () - min(score) OVER ())
                     END AS sd
          FROM dense_top
        ), sn AS (
          SELECT id, CASE WHEN max(score) OVER () = min(score) OVER () THEN 1.0::DOUBLE
                          ELSE (score - min(score) OVER ()) / (max(score) OVER () - min(score) OVER ())
                     END AS ss
          FROM sparse_top
        )
        SELECT coalesce(dn.id, sn.id) AS id,
               round(0.7::DOUBLE * coalesce(sd, 0.0::DOUBLE)
                   + 0.3::DOUBLE * coalesce(ss, 0.0::DOUBLE), 6) AS score
        FROM dn FULL OUTER JOIN sn ON dn.id = sn.id
        ORDER BY score DESC, id ASC LIMIT 10
      """)))

  private def denseCte(name: String): String = denseScoredCte(name)
  private def bm25Cte(name: String): String = bm25ScoredCte(name)
  private val denseCte20: String =
    s"""${denseScoredCte("scored")},
        dense_top AS (
          SELECT id, score FROM scored ORDER BY score DESC, id ASC LIMIT 20)"""

  /** API-surface queries (reference Q4/Q9/Q10/Q13 + normalizers). */
  val apiQueries: Map[String, Q] = Map(
    // F10/A6: z-score normalization of the dense arm (+0.5 shift, σ=0→0.5).
    "s10_znorm" -> Q(
      (s, d) => search.Fusion.zNorm(
          search.SearchEngine.denseTopK(s, d, QueryVecId, 20), "id")
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id").asc),
      Some(s"""
        WITH ${denseCte20}
        SELECT id,
               round(CASE WHEN stddev_pop(score) OVER () = 0 THEN 0.5::DOUBLE
                          ELSE (score - avg(score) OVER ()) / stddev_pop(score) OVER ()
                               + 0.5::DOUBLE END, 6) AS score
        FROM dense_top
        ORDER BY score DESC, id ASC
      """)),

    // P6/F6: API result-shape projection with display rounding.
    "s11_result_shape" -> Q(
      (s, d) => search.SearchEngine.resultShape(
        s, d, search.SearchEngine.denseTopK(s, d, QueryVecId, 10)),
      Some(s"""
        WITH ${denseCte("scored")},
        hits AS (SELECT id, score FROM scored ORDER BY score DESC, id ASC LIMIT 10)
        SELECT doc.source AS image, h.id, doc.text, doc.lang AS mfr_code,
               doc.n_chars AS price, round(h.score, 3) AS score
        FROM hits h JOIN documents doc ON h.id = doc.doc_id
        ORDER BY score DESC, id ASC
      """)),

    // F12/F14/F15: display projection — truncated text, absolute image
    // URL, score quality label (the reference UI's result card,
    // `search_ui/search.py:108-126,172-202`).
    "s16_display_shape" -> Q(
      (s, d) => search.SearchEngine.displayShape(
        s, d, search.SearchEngine.denseTopK(s, d, QueryVecId, 10)),
      Some(s"""
        WITH ${denseCte("scored")},
        hits AS (SELECT id, score FROM scored ORDER BY score DESC, id ASC LIMIT 10),
        shaped AS (
          SELECT h.id, doc.text, doc.source AS image, round(h.score, 3) AS score
          FROM hits h JOIN documents doc ON h.id = doc.doc_id)
        SELECT id,
               CASE WHEN length(text) > 40
                    THEN substr(text, 1, 37) || '...' ELSE text END AS text_display,
               CASE WHEN image IS NULL OR image = '' THEN image
                    WHEN starts_with(image, 'http') THEN image
                    WHEN starts_with(image, '/') THEN 'http://img.example.com' || image
                    ELSE 'http://img.example.com/' || image END AS image_url,
               score,
               CASE WHEN score >= 0.8::DOUBLE THEN 'Excellent'
                    WHEN score >= 0.7::DOUBLE THEN 'Very Good'
                    WHEN score >= 0.6::DOUBLE THEN 'Good'
                    WHEN score >= 0.5::DOUBLE THEN 'Fair'
                    WHEN score >= 0.4::DOUBLE THEN 'Poor'
                    WHEN score >= 0.3::DOUBLE THEN 'Very Poor'
                    ELSE 'No Match' END AS score_label
        FROM shaped ORDER BY score DESC, id ASC
      """)),

    // Q10: mode comparison — result count + best score per retrieval mode.
    "s12_compare_modes" -> Q(
      (s, d) => search.SearchEngine.compareModes(s, d, QueryVecId, QueryTerms, 10),
      Some(s"""
        WITH ${denseCte("dense_scored")}, ${bm25Cte("sparse_scored")},
        dense_top AS (
          SELECT id, score FROM dense_scored ORDER BY score DESC, id ASC LIMIT 10
        ), sparse_top AS (
          SELECT id, score FROM sparse_scored ORDER BY score DESC, id ASC LIMIT 10
        ), dense_top20 AS (
          SELECT id, score FROM dense_scored ORDER BY score DESC, id ASC LIMIT 20
        ), sparse_top20 AS (
          SELECT id, score FROM sparse_scored ORDER BY score DESC, id ASC LIMIT 20
        ), dr AS (
          SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS rank_d FROM dense_top20
        ), sr AS (
          SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS rank_s FROM sparse_top20
        ), hybrid_top AS (
          SELECT coalesce(dr.id, sr.id) AS id,
                 round(coalesce(1.0::DOUBLE / (60 + rank_d), 0.0::DOUBLE)
                     + coalesce(1.0::DOUBLE / (60 + rank_s), 0.0::DOUBLE), 6) AS score
          FROM dr FULL OUTER JOIN sr ON dr.id = sr.id
          ORDER BY score DESC, id ASC LIMIT 10
        )
        SELECT * FROM (
          SELECT 'dense' AS method, count(*) AS n_results,
                 round(max(score), 6) AS top_score FROM dense_top
          UNION ALL
          SELECT 'bm25', count(*), round(max(score), 6) FROM sparse_top
          UNION ALL
          SELECT 'hybrid', count(*), round(max(score), 6) FROM hybrid_top)
        ORDER BY method
      """)),

    // Q13/A5: collection stats per source.
    "s13_collection_stats" -> Q(
      (s, d) => search.Stats.collectionStats(s, d),
      Some("""
        SELECT source, count(*) AS n_docs, min(doc_id) AS min_id, max(doc_id) AS max_id
        FROM documents GROUP BY source ORDER BY source
      """)),

    // Q13 health: row count per table.
    "s14_health_counts" -> Q(
      (s, d) => search.Stats.healthCounts(s, d),
      Some(tables.Tables.names.sorted.map(n =>
        s"SELECT '$n' AS \"table\", count(*) AS n_rows FROM $n").mkString(
        "SELECT * FROM (", " UNION ALL ", ") ORDER BY \"table\""))))

  /** All registered queries. */
  def all: Map[String, Q] =
    relational ++ searchQueries ++ apiQueries ++ QueriesPipeline.all

  /** Single-query SERVING entries — interactive request shapes (one
    * query, fixed tiny plan, floor-bound) that plan on the AQE-off
    * serving tier ([[graft.search.ServingSession]]), like the batched
    * legs already do: every AQE exchange materialization is an extra
    * Spark job whose fixed submit cost dominates a floor-bound figure
    * (a23 halved when it moved tiers in r8). Values are AQE-invariant —
    * AQE only re-plans exchanges — so oracle hashes are unchanged (the
    * driver re-verifies every one of these against DuckDB each round).
    * Corpus-scale analytical entries (stats profiling s13/s14, percolate
    * s25*, maxsim s22) stay on the analytics tier where AQE's skew/
    * coalesce handling is the right default. */
  private val servingSingles: Set[String] = Set(
    "s1_dense_topk", "s2_dense_threshold", "s3_bm25_topk",
    "s3b_bm25_indexed", "s3c_bm25_incremental", "s3e_bm25_tombstone",
    "s3g_bm25_maxscore", "s3i_bm25_tailfold", "s31_prf_expansion", "s32_snippets",
    "s33_cascade_rerank",
    "s4_hybrid_rrf",
    "s5_exact_match", "s6_fusion_simple", "s7_filtered_search",
    "s8_linear_fusion", "s9_tfidf_search", "s9b_tfidf_indexed",
    "s10_znorm", "s11_result_shape", "s12_compare_modes",
    "s15_collection_search", "s16_display_shape", "s18_zero_vector",
    "s19_fuzzy_match", "s20_phrase_search", "s21_chunk_retrieval",
    "s21b_chunk_indexed", "s21c_chunk_dense", "s21d_chunk_hybrid",
    "s23_faceted_search", "s24_more_like_this", "s26_autocomplete",
    "s27_spell_suggest", "s28_graph_text_search", "s28b_graph_grown")

  def queryFns: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (k, q) =>
      k -> (if (servingSingles(k))
        (s: SparkSession, d: String) =>
          q.fn(graft.search.ServingSession.of(s), d)
      else q.fn)
    }

  def oracles: Map[String, String] =
    all.collect { case (k, Q(_, Some(sql))) => k -> sql.trim }
}

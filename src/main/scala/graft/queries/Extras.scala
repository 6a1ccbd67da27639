package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph}

/** Additional relational surface beyond the reference's literal usage
  * — rollup/grouping sets, exact percentiles, pivot, ordered string
  * aggregation, outer join, and dedup-group resolution via connected
  * components. A user switching engines gets these "for free" from
  * Spark; each is exposed and oracle-checked so the capability is
  * proven, not presumed.
  */
object Extras {

  /** ROLLUP with grouping_id — subtotal lattices in one pass. */
  val x01Rollup = Query(
    "x01_rollup",
    Some("""SELECT l_returnflag, l_linestatus,
            |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
            |  COUNT(*) AS n,
            |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
            |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
            |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, gid""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitem
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping_id().as("gid"),
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty")
        )
        .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"), asc("gid"))
    }
  )

  /** Exact percentiles (continuous interpolation) per group. */
  val x02Percentiles = Query(
    "x02_percentiles",
    Some("""SELECT o_orderpriority,
            |  PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
            |  PERCENTILE_CONT(0.5)  WITHIN GROUP (ORDER BY o_totalprice) AS p50,
            |  PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY o_totalprice) AS p75
            |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      t.orders
        .groupBy("o_orderpriority")
        .agg(
          expr("percentile(o_totalprice, 0.25)").as("p25"),
          expr("percentile(o_totalprice, 0.5)").as("p50"),
          expr("percentile(o_totalprice, 0.75)").as("p75")
        )
        .orderBy("o_orderpriority")
    }
  )

  /** Pivot (wide aggregation) — DuckDB oracle via FILTER aggregates. */
  val x03Pivot = Query(
    "x03_pivot",
    Some("""SELECT l_returnflag,
            |  COUNT(*) FILTER (WHERE l_linestatus = 'F') AS F,
            |  COUNT(*) FILTER (WHERE l_linestatus = 'O') AS O
            |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val p = t.lineitem
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)))
        .orderBy("l_returnflag")
      // pivot leaves missing cells null; oracle FILTER yields 0
      p.select(
        col("l_returnflag"),
        coalesce(col("F"), lit(0L)).as("F"),
        coalesce(col("O"), lit(0L)).as("O"))
    }
  )

  /** Ordered string aggregation (listagg). */
  val x04StringAgg = Query(
    "x04_string_agg",
    Some("""SELECT n_regionkey, STRING_AGG(n_name, ',' ORDER BY n_name) AS nations
            |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      t.nation
        .groupBy("n_regionkey")
        .agg(concat_ws(",", sort_array(collect_list(col("n_name")))).as("nations"))
        .orderBy("n_regionkey")
    }
  )

  /** Full outer join with null-filling — beyond the reference's join
    * surface but table stakes for an engine swap.
    */
  val x05FullOuter = Query(
    "x05_full_outer",
    Some("""WITH a AS (SELECT o_custkey AS k, COUNT(*) AS n95 FROM orders
            |          WHERE YEAR(o_orderdate) = 1995 GROUP BY 1),
            |b AS (SELECT o_custkey AS k, COUNT(*) AS n96 FROM orders
            |      WHERE YEAR(o_orderdate) = 1996 GROUP BY 1)
            |SELECT COALESCE(a.k, b.k) AS custkey,
            |  COALESCE(n95, 0) AS n95, COALESCE(n96, 0) AS n96
            |FROM a FULL OUTER JOIN b ON a.k = b.k
            |ORDER BY custkey""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      def yearly(y: Int, as: String) = t.orders
        .filter(year(col("o_orderdate")) === y)
        .groupBy(col("o_custkey").as("k"))
        .agg(count(lit(1)).as(as))
      val a = yearly(1995, "n95")
      val b = yearly(1996, "n96")
      a.join(b.withColumnRenamed("k", "k2"), col("k") === col("k2"), "full_outer")
        .select(
          coalesce(col("k"), col("k2")).as("custkey"),
          coalesce(col("n95"), lit(0L)).as("n95"),
          coalesce(col("n96"), lit(0L)).as("n96"))
        .orderBy("custkey")
    }
  )

  /** Dedup-group resolution: near-dup candidate pairs (exact jaccard
    * ≥ 0.2) → connected components → (doc_id, component). The oracle
    * recomputes the same closure with a recursive CTE.
    */
  val dd05DedupGroups = Query(
    "dd05_dedup_groups",
    Some("""WITH RECURSIVE words AS (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') w FROM documents),
            |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
            |       FROM words, UNNEST(range(1, LEN(w) - 1)) AS t(i)),
            |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
            |cand AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS c
            |         FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2),
            |pairs AS (SELECT a, b FROM cand JOIN sizes sa ON a = sa.doc_id
            |          JOIN sizes sb ON b = sb.doc_id
            |          WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.2),
            |edges AS (SELECT a AS src, b AS dst FROM pairs
            |          UNION SELECT b, a FROM pairs),
            |nodes AS (SELECT DISTINCT src AS id FROM edges),
            |reach AS (
            |  SELECT id, id AS r FROM nodes
            |  UNION
            |  SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id)
            |SELECT id AS doc_id, MIN(r) AS component FROM reach
            |GROUP BY id ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      // r14 (VERDICT r13 item 5): identical-shingle-set CLASS COLLAPSE
      // (Dedup.shingleClasses, the td53/dd19 machinery) before the
      // posting self-join — the quadratic term of this row was replica
      // classes squaring through the shared postings. The closure runs
      // over one representative per class: intra-class pairs all have
      // jaccard exactly 1.0 ≥ 0.2, so a class is one clique — an
      // m ≥ 2 class contributes its rep as a self-edge and every
      // member joins its rep's component. rep = MIN member id, so the
      // component label (min reachable doc id) expands unchanged:
      // min over a component's docs = min over its classes' reps.
      // (Not setSimPairs' prefix route: at 0.2 the prefix keeps 80%
      // of postings and re-does the full join — see NOTES "round-8
      // dd05/td53".)
      val scs = Dedup.shingleClasses(t.documents, "doc_id", "text", k = 3)
      val cross = Dedup.repJaccardPairs(scs, threshold = 0.2)
        .select(col("rep_a").as("src"), col("rep_b").as("dst"))
      val selfEdges = scs.classes.filter(col("m") >= 2)
        .select(col("rep").as("src"), col("rep").as("dst"))
      val comps = Graph.connectedComponents(cross.union(selfEdges))
      scs.perDoc
        .join(scs.classes.select(col("fp"), col("n"), col("rep")), Seq("fp", "n"))
        .join(comps.withColumnRenamed("id", "rep"), Seq("rep"))
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    }
  )

  /** Backward as-of join — last click before each purchase per user
    * (attribution shape; the reference's correlated business-day
    * lookup generalized). Oracle = DuckDB's native ASOF LEFT JOIN;
    * our composed union-sort-window implementation must match it
    * row for row.
    */
  val x06AsOf = Query(
    "x06_asof_join",
    // clicks are pre-deduped per (user, ts): both engines make an
    // arbitrary pick among exact-duplicate timestamps, so the oracle's
    // exact compare needs the tie removed at the source
    Some("""WITH p AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'),
            |c AS (SELECT user_id, ts AS click_ts, MAX(value) AS click_value
            |      FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
            |SELECT p.user_id, p.ts, p.event_id, p.value,
            |  c.click_ts AS asof_click_ts, c.click_value
            |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.click_ts <= p.ts
            |ORDER BY p.user_id, p.ts, p.event_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val ev = t.events
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts").as("click_ts"))
        .agg(max("value").as("click_value"))
      graft.operators.AsOf
        .joinBackward(purchases, clicks, Seq("user_id"), "ts", "click_ts",
          rightCols = Seq("click_value"))
        .orderBy("user_id", "ts", "event_id")
    }
  )

  /** Bucketed point-in-interval range join (operators.RangeJoin):
    * shipments falling inside 30-day windows anchored at a sampled
    * set of order dates. The oracle is the plain BETWEEN join; the
    * engine runs the scalable equi-join decomposition and must match
    * it exactly.
    */
  val x07RangeJoin = Query(
    "x07_range_join",
    Some("""WITH w AS (
            |  SELECT o_orderkey AS window_id, CAST(o_orderdate AS DATE) AS lo,
            |         CAST(o_orderdate AS DATE) + 30 AS hi
            |  FROM orders WHERE o_orderkey % 997 = 0)
            |SELECT window_id, COUNT(*) AS n_shipped,
            |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
            |FROM w JOIN lineitem ON CAST(l_shipdate AS DATE) BETWEEN lo AND hi
            |GROUP BY window_id ORDER BY window_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val windows = t.orders
        .filter(col("o_orderkey") % 997 === 0)
        .select(col("o_orderkey").as("window_id"),
          to_date(col("o_orderdate")).as("lo"),
          date_add(to_date(col("o_orderdate")), 30).as("hi"))
      val points = t.lineitem.select(to_date(col("l_shipdate")).as("d"), col("l_quantity"))
      graft.operators.RangeJoin
        .pointInInterval(points, "d", windows, "lo", "hi")
        .groupBy("window_id")
        .agg(
          count(lit(1)).as("n_shipped"),
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"))
        .orderBy("window_id")
    }
  )

  /** CUBE — the full subtotal lattice (x01 covers ROLLUP). */
  val x08Cube = Query(
    "x08_cube",
    Some("""SELECT l_returnflag, l_linestatus,
            |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
            |  COUNT(*) AS n,
            |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
            |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
            |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitem
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping_id().as("gid"),
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty")
        )
        .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")
        .orderBy(asc("gid"), asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    }
  )

  /** Ranking/distribution window suite: dense_rank, ntile, and a
    * moving average over a ROWS frame. The moving average is built
    * from exact parts (decimal SUM over the frame, bigint COUNT, one
    * double division) so both engines produce identical bits.
    */
  val x09WindowSuite = Query(
    "x09_window_suite",
    Some("""SELECT o_orderkey, o_orderpriority,
            |  CAST(DENSE_RANK() OVER (PARTITION BY o_orderpriority ORDER BY CAST(o_orderdate AS DATE)) AS BIGINT) AS drank,
            |  CAST(NTILE(4) OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey) AS INT) AS quartile,
            |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
            |         OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
            |               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
            |    / COUNT(*) OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
            |                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mov_avg
            |FROM orders ORDER BY o_orderkey""".stripMargin),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir)
      val byDate = Window.partitionBy("o_orderpriority").orderBy(to_date(col("o_orderdate")))
      val byRow = Window.partitionBy("o_orderpriority").orderBy(col("o_orderdate"), col("o_orderkey"))
      val frame = byRow.rowsBetween(-3, 0)
      t.orders
        .select(
          col("o_orderkey"), col("o_orderpriority"),
          dense_rank().over(byDate).cast("long").as("drank"),
          ntile(4).over(byRow).as("quartile"),
          (sum(col("o_totalprice").cast("decimal(12,2)")).over(frame).cast("double")
            / count(lit(1)).over(frame)).as("mov_avg")
        )
        .orderBy("o_orderkey")
    }
  )

  /** Gaps-and-islands: contiguous runs of daily activity per user via
    * the date-minus-row_number anchor trick — consecutive dates share
    * an anchor, so one groupBy resolves the islands.
    */
  val x10GapsIslands = Query(
    "x10_gaps_islands",
    Some("""WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
            |r AS (SELECT user_id, d,
            |        CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS INT) AS rn
            |      FROM d)
            |SELECT user_id, MIN(d) AS island_start, MAX(d) AS island_end,
            |  COUNT(*) AS n_days
            |FROM (SELECT user_id, d, d - rn AS anchor FROM r)
            |GROUP BY user_id, anchor
            |ORDER BY user_id, island_start""".stripMargin),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir)
      val days = t.events.select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val rn = row_number().over(Window.partitionBy("user_id").orderBy("d"))
      days
        .withColumn("anchor", date_sub(col("d"), rn))
        .groupBy("user_id", "anchor")
        .agg(min("d").as("island_start"), max("d").as("island_end"),
          count(lit(1)).as("n_days"))
        .select("user_id", "island_start", "island_end", "n_days")
        .orderBy("user_id", "island_start")
    }
  )

  /** INTERSECT — the remaining set operator (EXCEPT = q09,
    * UNION-dedup = q10): tickers^W customers active in both years.
    */
  val x11Intersect = Query(
    "x11_intersect",
    Some("""SELECT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1995
            |INTERSECT
            |SELECT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1996
            |ORDER BY o_custkey""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      def yr(y: Int) = t.orders.filter(year(col("o_orderdate")) === y).select("o_custkey")
      yr(1995).intersect(yr(1996)).orderBy("o_custkey")
    }
  )

  /** RANGE-frame window (value-based, not row-based): trailing 7-day
    * order count per customer — rows with equal dates share a frame,
    * unlike the ROWS frames in x09. Both engines order by integer
    * days-since-epoch so the frame arithmetic is identical.
    */
  val x12RangeFrame = Query(
    "x12_range_frame",
    Some("""SELECT o_orderkey, o_custkey,
            |  COUNT(*) OVER (PARTITION BY o_custkey
            |                 ORDER BY DATEDIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
            |                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS n_trailing_7d
            |FROM orders ORDER BY o_orderkey""".stripMargin),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir)
      val days = datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01")))
      val w = Window.partitionBy("o_custkey").orderBy(days).rangeBetween(-6, 0)
      t.orders
        .select(col("o_orderkey"), col("o_custkey"),
          count(lit(1)).over(w).as("n_trailing_7d"))
        .orderBy("o_orderkey")
    }
  )

  /** first_value / last_value / nth_value over an explicit full-frame
    * window — per-priority price span per order date order.
    */
  val x13FirstLast = Query(
    "x13_first_last",
    Some("""SELECT o_orderkey, o_orderpriority,
            |  FIRST_VALUE(o_orderkey) OVER w AS first_key,
            |  LAST_VALUE(o_orderkey) OVER w AS last_key,
            |  NTH_VALUE(o_orderkey, 2) OVER w AS second_key
            |FROM orders
            |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
            |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            |ORDER BY o_orderkey""".stripMargin),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir)
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t.orders
        .select(col("o_orderkey"), col("o_orderpriority"),
          first(col("o_orderkey")).over(w).as("first_key"),
          last(col("o_orderkey")).over(w).as("last_key"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
        .orderBy("o_orderkey")
    }
  )

  /** Cohort retention — the classic product-analytics matrix: users
    * grouped by first-activity week, retention = distinct active
    * users per (cohort week, activity week) over cohort size.
    */
  val x14CohortRetention = Query(
    "x14_cohort_retention",
    Some("""WITH f AS (SELECT user_id, MIN(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
            |          FROM events GROUP BY user_id),
            |a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS activity_week
            |      FROM events),
            |j AS (SELECT f.cohort_week AS cohort_week, a.activity_week, COUNT(*) AS n_active
            |      FROM a JOIN f ON a.user_id = f.user_id GROUP BY 1, 2),
            |c AS (SELECT cohort_week, COUNT(*) AS cohort_size FROM f GROUP BY 1)
            |SELECT j.cohort_week AS cohort_week, activity_week, n_active, cohort_size,
            |  CAST(n_active AS DOUBLE) / cohort_size AS retention
            |FROM j JOIN c ON j.cohort_week = c.cohort_week
            |ORDER BY cohort_week, activity_week""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val wk = to_date(date_trunc("week", col("ts")))
      val first = t.events.groupBy("user_id").agg(min(wk).as("cohort_week"))
      val active = t.events.select(col("user_id"), wk.as("activity_week")).distinct()
      val j = active.join(first, "user_id")
        .groupBy("cohort_week", "activity_week").agg(count(lit(1)).as("n_active"))
      val sizes = first.groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
      j.join(sizes, "cohort_week")
        .select(col("cohort_week"), col("activity_week"), col("n_active"), col("cohort_size"),
          (col("n_active").cast("double") / col("cohort_size")).as("retention"))
        .orderBy("cohort_week", "activity_week")
    }
  )

  /** Multi-step funnel (view → click → purchase, strictly ordered in
    * event time) resolved per user with staged conditional minima —
    * three small aggregations and broadcast-friendly joins on
    * user_id, no window over the full event stream.
    */
  val x15Funnel = Query(
    "x15_funnel",
    Some("""WITH s1 AS (SELECT user_id, MIN(ts) AS t_view FROM events
            |           WHERE event_type = 'view' GROUP BY user_id),
            |s2 AS (SELECT e.user_id, MIN(e.ts) AS t_click FROM events e
            |       JOIN s1 ON e.user_id = s1.user_id
            |       WHERE e.event_type = 'click' AND e.ts > s1.t_view GROUP BY e.user_id),
            |s3 AS (SELECT e.user_id, MIN(e.ts) AS t_purchase FROM events e
            |       JOIN s2 ON e.user_id = s2.user_id
            |       WHERE e.event_type = 'purchase' AND e.ts > s2.t_click GROUP BY e.user_id),
            |u AS (SELECT DISTINCT user_id FROM events)
            |SELECT u.user_id, s1.t_view, s2.t_click, s3.t_purchase,
            |  CASE WHEN s3.t_purchase IS NOT NULL THEN 3
            |       WHEN s2.t_click IS NOT NULL THEN 2
            |       WHEN s1.t_view IS NOT NULL THEN 1 ELSE 0 END AS funnel_depth
            |FROM u
            |LEFT JOIN s1 ON u.user_id = s1.user_id
            |LEFT JOIN s2 ON u.user_id = s2.user_id
            |LEFT JOIN s3 ON u.user_id = s3.user_id
            |ORDER BY u.user_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val e = t.events
      val s1 = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t_view"))
      val s2 = e.filter(col("event_type") === "click")
        .join(s1, "user_id").filter(col("ts") > col("t_view"))
        .groupBy("user_id").agg(min("ts").as("t_click"))
      val s3 = e.filter(col("event_type") === "purchase")
        .join(s2, "user_id").filter(col("ts") > col("t_click"))
        .groupBy("user_id").agg(min("ts").as("t_purchase"))
      e.select("user_id").distinct()
        .join(s1, Seq("user_id"), "left")
        .join(s2.select("user_id", "t_click"), Seq("user_id"), "left")
        .join(s3.select("user_id", "t_purchase"), Seq("user_id"), "left")
        .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
          when(col("t_purchase").isNotNull, 3)
            .when(col("t_click").isNotNull, 2)
            .when(col("t_view").isNotNull, 1)
            .otherwise(0).as("funnel_depth"))
        .orderBy("user_id")
    }
  )

  /** Event-type transition matrix (first-order behavior model):
    * lead() per user stream, then a count + a per-source total. The
    * totals side is 5 rows — broadcast — so the probability join adds
    * no shuffle beyond the one windowing pass.
    */
  val x16Transitions = Query(
    "x16_transitions",
    Some("""WITH o AS (
            |  SELECT event_type,
            |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
            |  FROM events),
            |c AS (SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
            |      FROM o WHERE next_type IS NOT NULL GROUP BY 1, 2),
            |t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY from_type)
            |SELECT c.from_type, c.to_type, c.n, CAST(c.n AS DOUBLE) / t.tot AS p
            |FROM c JOIN t ON c.from_type = t.from_type
            |ORDER BY c.from_type, c.to_type""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val c = t.events
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val tot = c.groupBy("from_type").agg(sum("n").as("tot"))
      c.join(broadcast(tot), "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          (col("n").cast("double") / col("tot")).as("p"))
        .orderBy("from_type", "to_type")
    }
  )

  /** Distributed second-moment statistics (stddev / covariance /
    * correlation) done the DETERMINISTIC way: raw doubles are lifted
    * to exact integers (quantity is integral; price via DECIMAL(12,2)
    * cents), the five moment sums aggregate exactly (BIGINT, with
    * DECIMAL(38,0) for the one that can exceed 2^63), and the
    * textbook formulas run ONCE on the exact sums. Naive stddev_samp
    * over a double column is aggregation-order-dependent and cannot
    * hash-match across engines or even across partitionings — this
    * shape is how second moments stay reproducible at 100 TB.
    */
  val x17StatsMoments = Query(
    "x17_stats_moments",
    Some("""WITH m AS (
            |  SELECT l_returnflag,
            |    COUNT(*) AS n,
            |    SUM(CAST(l_quantity AS BIGINT)) AS sx,
            |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT))
            |         AS BIGINT) AS sy,
            |    SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
            |    SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
            |             * CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
            |             AS DECIMAL(38,0))) AS syy,
            |    SUM(CAST(l_quantity AS BIGINT)
            |        * CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS sxy
            |  FROM lineitem GROUP BY l_returnflag),
            |d AS (
            |  SELECT l_returnflag, CAST(n AS BIGINT) AS n, CAST(n AS DOUBLE) AS dn,
            |    CAST(sx AS DOUBLE) AS dsx, CAST(sy AS DOUBLE) AS dsy,
            |    CAST(sxx AS DOUBLE) AS dsxx, CAST(syy AS DOUBLE) AS dsyy,
            |    CAST(sxy AS DOUBLE) AS dsxy
            |  FROM m)
            |SELECT l_returnflag, n,
            |  dsx / dn AS mean_qty,
            |  dsy / dn / 100 AS mean_price,
            |  SQRT((dn * dsxx - dsx * dsx) / (dn * (dn - 1))) AS stddev_qty,
            |  SQRT((dn * dsyy - dsy * dsy) / (dn * (dn - 1))) / 100 AS stddev_price,
            |  (dn * dsxy - dsx * dsy) /
            |    SQRT((dn * dsxx - dsx * dsx) * (dn * dsyy - dsy * dsy)) AS corr_qty_price
            |FROM d ORDER BY l_returnflag""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val cents = (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long")
      val q = col("l_quantity").cast("long")
      val m = t.lineitem
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(q).as("sx"),
          sum(cents).cast("long").as("sy"),
          sum(q * q).as("sxx"),
          sum((cents * cents).cast("decimal(38,0)")).as("syy"),
          sum(q * cents).as("sxy"))
      val dn = col("n").cast("double")
      val (dsx, dsy) = (col("sx").cast("double"), col("sy").cast("double"))
      val (dsxx, dsyy, dsxy) =
        (col("sxx").cast("double"), col("syy").cast("double"), col("sxy").cast("double"))
      m.select(
          col("l_returnflag"), col("n"),
          (dsx / dn).as("mean_qty"),
          (dsy / dn / 100).as("mean_price"),
          sqrt((dn * dsxx - dsx * dsx) / (dn * (dn - 1))).as("stddev_qty"),
          (sqrt((dn * dsyy - dsy * dsy) / (dn * (dn - 1))) / 100).as("stddev_price"),
          ((dn * dsxy - dsx * dsy) /
            sqrt((dn * dsxx - dsx * dsx) * (dn * dsyy - dsy * dsy))).as("corr_qty_price"))
        .orderBy("l_returnflag")
    }
  )

  /** Fixed-width histogram: 20 bins over o_totalprice via plain
    * floor-division arithmetic (identical expression both engines —
    * no reliance on width_bucket edge conventions).
    */
  val x18Histogram = Query(
    "x18_histogram",
    Some("""WITH b AS (
            |  SELECT CAST(LEAST(FLOOR(o_totalprice / 25000), 19) AS INT) AS bucket
            |  FROM orders)
            |SELECT bucket, CAST(bucket * 25000 AS DOUBLE) AS lo,
            |  CAST((bucket + 1) * 25000 AS DOUBLE) AS hi, COUNT(*) AS n
            |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      t.orders
        .select(least(floor(col("o_totalprice") / 25000), lit(19L)).cast("int").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"))
        .select(col("bucket"), (col("bucket") * 25000).cast("double").as("lo"),
          ((col("bucket") + 1) * 25000).cast("double").as("hi"), col("n"))
        .orderBy("bucket")
    }
  )

  /** Top-k per group via a typed `Aggregator` UDAF — the map-side-
    * combining alternative to `row_number().over(window)`: each task
    * keeps ≤ k pairs per group, so the exchange carries k×groups×
    * partitions pairs instead of every row. Oracle = the window form.
    */
  val x19TopKAgg = Query(
    "x19_topk_agg",
    Some("""SELECT o_orderpriority, CAST(r AS INT) AS rank, o_orderkey, o_totalprice FROM (
            |  SELECT o_orderpriority, o_orderkey, o_totalprice,
            |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
            |                       ORDER BY o_totalprice DESC, o_orderkey) AS r
            |  FROM orders) WHERE r <= 3 ORDER BY o_orderpriority, rank""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      t.orders
        .groupBy("o_orderpriority")
        .agg(graft.functions.TopK.topK(col("o_totalprice"), col("o_orderkey"), 3).as("tk"))
        .select(col("o_orderpriority"), posexplode(col("tk")))
        .select(col("o_orderpriority"), (col("pos") + 1).cast("int").as("rank"),
          col("col._2").as("o_orderkey"), col("col._1").as("o_totalprice"))
        .orderBy("o_orderpriority", "rank")
    }
  )

  /** Hot-key join through the salt path (`operators.Skew.saltedJoin`):
    * the big side scatters across `salt` replicas of the dim, so one
    * pathological key spreads over `salt` tasks instead of pinning
    * one. Semantically identical to the plain join — the oracle IS
    * the plain join, so the gate proves the salting is invisible.
    */
  val x20SaltedJoin = Query(
    "x20_salted_join",
    Some(s"""SELECT o_orderpriority, COUNT(*) AS n,
             |  ${Query.sumMoneySql("l_extendedprice")} AS sum_price
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      graft.operators.Skew
        .saltedJoin(
          t.lineitem.withColumnRenamed("l_orderkey", "k"),
          t.orders.withColumnRenamed("o_orderkey", "k").select("k", "o_orderpriority"),
          key = "k", salt = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
    }
  )

  /** Arbitrary GROUPING SETS (the general form rollup/cube
    * specialize): per-(flag,status) cells, per-flag subtotals, and
    * the grand total in ONE aggregation pass — no UNION of scans.
    */
  val x21GroupingSets = Query(
    "x21_grouping_sets",
    Some(s"""SELECT l_returnflag, l_linestatus,
             |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
             |  COUNT(*) AS n, ${Query.sumMoneySql("l_extendedprice")} AS sum_price
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
             |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitem.createOrReplaceTempView("lineitem_gs")
      spark.sql(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
          |  COUNT(*) AS n,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
          |FROM lineitem_gs
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
          |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
    }
  )

  /** Relative-rank window functions (the remaining rank family beyond
    * x09's dense_rank/ntile): percent_rank = (rank-1)/(n-1) and
    * cume_dist = peers≤current/n — both a single exact-integer-ratio
    * division, so bit-stable cross-engine.
    */
  val x22RelativeRanks = Query(
    "x22_relative_ranks",
    Some("""SELECT o_orderkey, o_orderpriority,
            |  PERCENT_RANK() OVER w AS prank,
            |  CUME_DIST() OVER w AS cdist,
            |  CAST(RANK() OVER w AS BIGINT) AS rnk
            |FROM orders
            |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
            |ORDER BY o_orderkey""".stripMargin),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir)
      val w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
      t.orders
        .select(col("o_orderkey"), col("o_orderpriority"),
          percent_rank().over(w).as("prank"),
          cume_dist().over(w).as("cdist"),
          rank().over(w).cast("long").as("rnk"))
        .orderBy("o_orderkey")
    }
  )

  /** Time-series gap fill: dense (group, day) spine from the data's
    * date bounds, left-joined daily revenue, forward-filled with the
    * last observed value (`last(..., ignoreNulls)` over an unbounded
    * preceding frame). Days before a group's first observation stay
    * null — both engines agree.
    */
  val x23GapFill = Query(
    "x23_gap_fill",
    Some("""WITH d AS (
            |  SELECT o_orderpriority AS pr, CAST(o_orderdate AS DATE) AS day,
            |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
            |  FROM orders GROUP BY 1, 2),
            |bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM d),
            |spine AS (
            |  SELECT pr, lo + CAST(i AS INT) AS day
            |  FROM (SELECT DISTINCT pr FROM d), bounds, UNNEST(range(0, hi - lo + 1)) t(i)),
            |j AS (SELECT s.pr, s.day, d.rev FROM spine s
            |      LEFT JOIN d ON d.pr = s.pr AND d.day = s.day)
            |SELECT pr, day, rev,
            |  LAST_VALUE(rev IGNORE NULLS) OVER (PARTITION BY pr ORDER BY day
            |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rev_ffill
            |FROM j ORDER BY pr, day""".stripMargin),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir)
      val d = t.orders
        .groupBy(col("o_orderpriority").as("pr"), col("o_orderdate").cast("date").as("day"))
        .agg(sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("rev"))
      val bounds = d.agg(min("day").as("lo"), max("day").as("hi"))
      val spine = d.select("pr").distinct()
        .crossJoin(broadcast(bounds))
        .select(col("pr"),
          explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
      val w = Window.partitionBy("pr").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      spine
        .join(d, Seq("pr", "day"), "left")
        .withColumn("rev_ffill", last(col("rev"), ignoreNulls = true).over(w))
        .orderBy("pr", "day")
    }
  )

  /** Robust outlier detection via the median absolute deviation:
    * per-group median, then the median of |x − med|, then flag rows
    * with |x − med| > 1.5·MAD. Exact interpolated percentiles in both
    * engines (x02 proved parity), and every derived value is a single
    * IEEE op on identical inputs — so the comparison is bit-exact, no
    * tolerance. The deviation frame feeds two consumers (the MAD
    * rank pass and the outlier count), so it is materialized once.
    *
    * Memory shape: the whole answer comes from ONE call to
    * [[graft.operators.Quantiles.madOutliers]] — the fused selection
    * that brackets median, MAD AND the outlier threshold from a single
    * range-free bits-histogram scan (count(|x−med| ≤ t) = count(x ∈
    * [med−t, med+t]), so every statistic interrogates the same column)
    * plus one terminal collect of the ambiguous cells, NO per-group
    * value buffer, NO global sort, no corpus-sized materialization —
    * bit-identical to `percentile()` (OperatorsSpec parity) and hence
    * to this PERCENTILE_CONT oracle. History: the range-sort form read
    * 42.5 s at sf10, two separate refinedPercentiles selections 22.1 s
    * (~6 scans), the fused form pays 2 scans total (cells + terminal).
    * [[x32MadSampled]] remains the sampled-threshold variant.
    */
  val x24MadOutliers = Query(
    "x24_mad_outliers",
    Some("""WITH med AS (
            |  SELECT l_returnflag, PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY l_extendedprice) AS med
            |  FROM lineitem GROUP BY l_returnflag),
            |dev AS (
            |  SELECT l.l_returnflag, ABS(l.l_extendedprice - m.med) AS adev, m.med
            |  FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag),
            |mad AS (
            |  SELECT l_returnflag, MIN(med) AS med,
            |    PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY adev) AS mad
            |  FROM dev GROUP BY l_returnflag)
            |SELECT d.l_returnflag, m.med, m.mad, COUNT(*) AS n,
            |  COUNT(*) FILTER (WHERE d.adev > 1.5 * m.mad) AS n_outliers
            |FROM dev d JOIN mad m ON d.l_returnflag = m.l_returnflag
            |GROUP BY d.l_returnflag, m.med, m.mad
            |ORDER BY d.l_returnflag""".stripMargin),
    (spark, dir) => {
      import graft.operators.Quantiles
      val t = Tables(spark, dir)
      val li = t.lineitem.select("l_returnflag", "l_extendedprice")
      // med, mad, n AND n_outliers from the same two scans: the outlier
      // threshold is one more selection boundary over the retained
      // histogram, so the naive plan's separate corpus-sized
      // count-aggregate scan disappears (3 scans → 2)
      Quantiles.madOutliers(li, "l_returnflag", "l_extendedprice", k = 1.5)
    }
  )

  /** Z-order (Morton) clustering: interleave the bits of two quantized
    * dimensions into one sort key (`functions.InterleaveBits`, a
    * codegen'd expression), bucket by the key's high bits, and report
    * per-bucket min/max of BOTH dims — each bucket pins quantity
    * exactly and price to a ≤1k-wide band, which is precisely why
    * files written in z-order get tight parquet min/max on both
    * columns (file skipping for predicates on either). The oracle
    * replays the 16+16-bit interleave as a bit-arithmetic sum.
    */
  val x25ZOrder = Query(
    "x25_zorder", {
      val morton =
        """CAST(list_sum(list_transform(range(0, 16), i ->
          |      (CAST((a >> CAST(i AS INT)) & 1 AS BIGINT) << CAST(2*i AS INT))
          |    + (CAST((b >> CAST(i AS INT)) & 1 AS BIGINT) << CAST(2*i+1 AS INT)))) AS BIGINT)""".stripMargin
      Some(
        s"""WITH d AS (
           |  SELECT CAST(FLOOR(l_quantity * 1024.0) AS INT) AS a,
           |         CAST(FLOOR(l_extendedprice / 2.0) AS INT) AS b
           |  FROM lineitem),
           |z AS (SELECT a, b, $morton AS zval FROM d)
           |SELECT zval >> 20 AS zbucket, COUNT(*) AS n,
           |  MIN(a) AS amin, MAX(a) AS amax, MIN(b) AS bmin, MAX(b) AS bmax
           |FROM z GROUP BY zval >> 20 ORDER BY zbucket""".stripMargin)
    },
    (spark, dir) => {
      graft.functions.InterleaveBits.register(spark)
      val t = Tables(spark, dir)
      val d = t.lineitem.select(
        floor(col("l_quantity") * lit(1024.0)).cast("int").as("a"),
        floor(col("l_extendedprice") / lit(2.0)).cast("int").as("b"))
      d.withColumn("zval", graft.functions.InterleaveBits(col("a"), col("b")))
        .groupBy(shiftright(col("zval"), 20).as("zbucket"))
        .agg(count(lit(1)).as("n"),
          min("a").as("amin"), max("a").as("amax"),
          min("b").as("bmin"), max("b").as("bmax"))
        .orderBy("zbucket")
    }
  )

  /** Schema-evolution union: two snapshot generations whose schemas
    * drifted (gen2 added a column) combine by COLUMN NAME with the
    * missing column null-filled — `unionByName(allowMissingColumns)`,
    * the importer's mergeSchema read expressed as an operator. The
    * aggregate proves the null-fill: n_with_discount counts only gen2
    * rows.
    */
  val x26UnionEvolve = Query(
    "x26_union_evolve",
    Some(s"""WITH gen1 AS (SELECT l_returnflag, l_quantity FROM lineitem WHERE l_linenumber = 1),
             |gen2 AS (SELECT l_returnflag, l_quantity, l_discount FROM lineitem WHERE l_linenumber = 2),
             |u AS (SELECT * FROM gen1 UNION ALL BY NAME SELECT * FROM gen2)
             |SELECT l_returnflag, COUNT(*) AS n, COUNT(l_discount) AS n_with_discount,
             |  ${Query.sumMoneySql("l_quantity")} AS sum_qty
             |FROM u GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val gen1 = t.lineitem.filter(col("l_linenumber") === 1)
        .select("l_returnflag", "l_quantity")
      val gen2 = t.lineitem.filter(col("l_linenumber") === 2)
        .select("l_returnflag", "l_quantity", "l_discount")
      gen1.unionByName(gen2, allowMissingColumns = true)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), count(col("l_discount")).as("n_with_discount"),
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"))
        .orderBy("l_returnflag")
    }
  )

  /** Deterministic PageRank ([[Graph.pageRank]]) on the symmetrized
    * customer–supplier co-purchase graph, two unrolled iterations,
    * top-20 suppliers. Every rank is bit-reproducible because per-edge
    * contributions are quantized to integer grains (round(r/outdeg ×
    * 1e15) as BIGINT) and summed as integers — order-insensitive by
    * construction, which is what lets a float-iterative graph
    * algorithm pass an EXACT oracle while keeping map-side partial
    * aggregation (a plain double sum() PageRank replays in the last
    * ulps; an ordered fold replays exactly but ships every edge row
    * through the shuffle). Node ids are disambiguated numerically
    * (customer 2k, supplier 2k+1).
    */
  val x27PageRank = Query(
    "x27_pagerank", {
      // replays pageRank's integer-grain recurrence:
      // r' = 0.15/n + 0.85 * (Σ round(r/outdeg·1e15)) / 1e15
      def iterate(prev: String, i: Int) =
        s"""c$i AS (SELECT e.dst, CAST(ROUND($prev.r / deg.outdeg * 1e15) AS BIGINT) AS cq
           |       FROM edges e JOIN $prev ON e.src = $prev.id JOIN deg ON e.src = deg.src),
           |s$i AS (SELECT dst, SUM(cq) AS sq FROM c$i GROUP BY dst),
           |r$i AS (SELECT nodes.id, 0.15 / (SELECT cnt FROM n)
           |         + 0.85 * (CAST(COALESCE(s$i.sq, 0) AS DOUBLE) / 1e15) AS r
           |       FROM nodes LEFT JOIN s$i ON nodes.id = s$i.dst)""".stripMargin
      Some(
        s"""WITH e0 AS (
           |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |n AS (SELECT COUNT(*) AS cnt FROM nodes),
           |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
           |r0 AS (SELECT id, 1.0 / (SELECT cnt FROM n) AS r FROM nodes),
           |${iterate("r0", 1)},
           |${iterate("r1", 2)}
           |SELECT id, r FROM r2 WHERE id % 2 = 1 ORDER BY r DESC, id LIMIT 20""".stripMargin)
    },
    (spark, dir) => {
      val t = Tables(spark, dir)
      val e0 = t.orders
        .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      Graph.pageRank(edges, iters = 2)
        .filter(col("id") % 2 === 1)
        .orderBy(desc("r"), asc("id"))
        .limit(20)
    }
  )

  /** Time-windowed conversion rate: the share of clicks followed by a
    * purchase from the same user within one hour, per day. The
    * conversion probe is an EQUI-join on user_id carrying the time
    * range as a residual predicate (then a semi-join on the surviving
    * click ids) — never a cartesian time join; x15's funnel is the
    * unconstrained-order counterpart.
    */
  val x28ConversionWindow = Query(
    "x28_conversion_window",
    Some("""WITH c AS (SELECT event_id, user_id, ts, CAST(ts AS DATE) AS day
            |          FROM events WHERE event_type = 'click'),
            |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
            |conv AS (
            |  SELECT DISTINCT c.event_id FROM c JOIN p
            |    ON c.user_id = p.user_id AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
            |SELECT day, COUNT(*) AS n_clicks,
            |  COUNT(*) FILTER (WHERE event_id IN (SELECT event_id FROM conv)) AS n_converted,
            |  CAST(COUNT(*) FILTER (WHERE event_id IN (SELECT event_id FROM conv)) AS DOUBLE)
            |    / COUNT(*) AS conv_rate
            |FROM c GROUP BY day ORDER BY day""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val ev = t.events
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("ts").cast("date").as("day"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      val converted = clicks.alias("c")
        .join(purchases,
          col("user_id") === col("p_user") &&
            col("p_ts") > col("ts") &&
            col("p_ts") <= col("ts") + expr("interval 1 hour"),
          "left_semi")
        .select(col("event_id"))
      clicks
        .join(converted.withColumn("is_conv", lit(1L)), Seq("event_id"), "left")
        .groupBy("day")
        .agg(count(lit(1)).as("n_clicks"),
          count(col("is_conv")).as("n_converted"),
          (count(col("is_conv")).cast("double") / count(lit(1))).as("conv_rate"))
        .orderBy("day")
    }
  )

  /** Ratio-to-report: each cell's share of its group total via a
    * partition-window sum — the remaining classic BI window pattern.
    * The window total sums DECIMALS (exact, order-insensitive), so
    * the single share division is bit-stable cross-engine.
    */
  val x30RatioToReport = Query(
    "x30_ratio_to_report",
    Some("""WITH cell AS (
            |  SELECT l_returnflag, l_linestatus,
            |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS rev
            |  FROM lineitem GROUP BY l_returnflag, l_linestatus)
            |SELECT l_returnflag, l_linestatus,
            |  CAST(rev AS DOUBLE) AS rev,
            |  CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER (PARTITION BY l_returnflag) AS DOUBLE)
            |    AS share_of_flag
            |FROM cell ORDER BY l_returnflag, l_linestatus""".stripMargin),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir)
      val cell = t.lineitem
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)")).as("rev"))
      val w = Window.partitionBy("l_returnflag")
      cell.select(col("l_returnflag"), col("l_linestatus"),
        col("rev").cast("double").as("rev"),
        (col("rev").cast("double") / sum(col("rev")).over(w).cast("double"))
          .as("share_of_flag"))
        .orderBy("l_returnflag", "l_linestatus")
    }
  )

  /** Session path mining: per-session ordered event-type sequences
    * (the st01 sessionization feeding an ordered string_agg), ranked
    * by frequency — "what do users actually do in a session". Path
    * assembly is deterministic (ordered by ts, event_id).
    */
  val x31SessionPaths = Query(
    "x31_session_paths",
    Some("""WITH lagged AS (
            |  SELECT user_id, ts, event_id, event_type,
            |    CASE WHEN LAG(ts) OVER w IS NULL
            |         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
            |         THEN 1 ELSE 0 END AS new_s
            |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            |sess AS (
            |  SELECT user_id, ts, event_id, event_type,
            |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
            |                     ROWS UNBOUNDED PRECEDING) AS sn
            |  FROM lagged),
            |paths AS (
            |  SELECT user_id, sn, string_agg(event_type, '>' ORDER BY ts, event_id) AS path
            |  FROM sess GROUP BY user_id, sn)
            |SELECT path, COUNT(*) AS n_sessions FROM paths
            |GROUP BY path ORDER BY n_sessions DESC, path LIMIT 15""".stripMargin),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir)
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val sess = t.events
        .withColumn("prev_us", unix_micros(lag(col("ts"), 1).over(w)))
        .withColumn("new_s",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1L).otherwise(0L))
        .withColumn("sn",
          sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      sess
        .groupBy("user_id", "sn")
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            x => x("event_type")), ">").as("path"))
        .groupBy("path")
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy(desc("n_sessions"), asc("path"))
        .limit(15)
    }
  )

  /** MAD outliers at scale: x24's exact per-group percentile buffers
    * hold every value of the group — fine at 3 return-flag groups,
    * unbounded for arbitrary group counts. This variant bounds the
    * buffer at the SAMPLE RATE (td18's machinery): med/MAD are exact
    * percentiles over a deterministic 10% hash sample
    * (mixed_hash64 of the unique row key — reproducible across runs
    * and replayable in the oracle, unlike rand()), then the FULL data
    * is flagged against the sampled thresholds. Memory per group =
    * rate × group size; tune the rate down as groups grow.
    */
  val x32MadSampled = Query(
    "x32_mad_sampled", {
      // Stage the char fold into a MATERIALIZED CTE: fmixSql inlines
      // its argument ~36x, and DuckDB inlines single-use CTEs, so
      // without the hint the list_reduce fold is re-substituted into
      // every reference — minutes at sf0.01, hours at sf1. Measured:
      // 151.6 s plain vs 1.0 s materialized at sf0.01.
      val fold = TrainingData.foldSql("CAST(l_orderkey * 8 + l_linenumber AS VARCHAR)")
      val signed = TrainingData.toSignedSql("u")
      Some(
        s"""WITH h0 AS MATERIALIZED (
           |  SELECT l_returnflag, l_extendedprice, $fold AS u0 FROM lineitem),
           |h1 AS MATERIALIZED (
           |  SELECT l_returnflag, l_extendedprice, ${TrainingData.fmixSql("u0")} AS u FROM h0),
           |s AS (
           |  SELECT l_returnflag, l_extendedprice FROM h1
           |  WHERE ((($signed) % 100) + 100) % 100 < 10),
           |med AS (
           |  SELECT l_returnflag, PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY l_extendedprice) AS med_est
           |  FROM s GROUP BY l_returnflag),
           |dev AS (
           |  SELECT s.l_returnflag, ABS(s.l_extendedprice - m.med_est) AS adev, m.med_est
           |  FROM s JOIN med m ON s.l_returnflag = m.l_returnflag),
           |mad AS (
           |  SELECT l_returnflag, MIN(med_est) AS med_est,
           |    PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY adev) AS mad_est
           |  FROM dev GROUP BY l_returnflag)
           |SELECT l.l_returnflag, m.med_est, m.mad_est, COUNT(*) AS n,
           |  COUNT(*) FILTER (WHERE ABS(l.l_extendedprice - m.med_est) > 1.5 * m.mad_est) AS n_outliers
           |FROM lineitem l JOIN mad m ON l.l_returnflag = m.l_returnflag
           |GROUP BY l.l_returnflag, m.med_est, m.mad_est
           |ORDER BY l.l_returnflag""".stripMargin)
    },
    (spark, dir) => {
      graft.functions.MixedHash64.register(spark)
      val t = Tables(spark, dir)
      val li = t.lineitem.select(col("l_returnflag"), col("l_extendedprice"),
        (col("l_orderkey") * 8 + col("l_linenumber")).cast("string").as("rk"))
      val samp = li.filter(pmod(graft.functions.MixedHash64(col("rk")), lit(100L)) < 10)
      val med = samp.groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, 0.5)").as("med_est"))
      val mad = samp.join(broadcast(med), "l_returnflag")
        .withColumn("adev", abs(col("l_extendedprice") - col("med_est")))
        .groupBy("l_returnflag")
        .agg(min("med_est").as("med_est"), expr("percentile(adev, 0.5)").as("mad_est"))
      li.join(broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag", "med_est", "mad_est")
        .agg(count(lit(1)).as("n"),
          count(when(abs(col("l_extendedprice") - col("med_est")) > lit(1.5) * col("mad_est"), 1))
            .as("n_outliers"))
        .orderBy("l_returnflag")
    }
  )

  /** Exact per-group percentiles WITHOUT a per-group buffer
    * ([[graft.operators.Quantiles.refinedPercentiles]]): selection by
    * iterative histogram refinement — integer bucket counts with
    * map-side combine, the driver bisecting each target rank into its
    * bucket, a terminal distinct-value walk — instead of any global
    * sort. Same values as `percentile()` bit-for-bit (selection
    * returns exact order statistics; the interpolation replays its
    * exact arithmetic) — this is the form that survives a group too
    * large for one task's memory, where x02/x24's aggregate cannot,
    * and it beats the range-sort form
    * ([[graft.operators.Quantiles.rankedPercentiles]], kept as the
    * high-group-cardinality path) ~2.5× at sf10 because nothing
    * corpus-sized is ever sorted, shuffled, or checkpointed.
    */
  val x33RankedQuantiles = Query(
    "x33_ranked_quantiles",
    Some("""WITH t AS (SELECT l_returnflag AS g, l_extendedprice AS v FROM lineitem)
            |SELECT g AS l_returnflag, p, value FROM (
            |  SELECT g, CAST(0.5 AS DOUBLE) AS p,
            |    PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY v) AS value
            |  FROM t GROUP BY g
            |  UNION ALL
            |  SELECT g, CAST(0.9 AS DOUBLE) AS p,
            |    PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY v) AS value
            |  FROM t GROUP BY g)
            |ORDER BY l_returnflag, p""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      graft.operators.Quantiles
        .refinedPercentiles(t.lineitem, "l_returnflag", "l_extendedprice", Seq(0.5, 0.9))
        .orderBy("l_returnflag", "p")
    }
  )

  /** Approximate percentiles with an in-query error-bound proof — the
    * sketch path for quantiles at scale (Greenwald–Khanna via
    * `approx_percentile`, ε = 1/1000): one map-side-combining
    * aggregation, no global sort, driver state O(1/ε) per group. The
    * approximate value is engine-private (like td07's HLL estimate),
    * so the oracle pins what IS deterministic: the exact interpolated
    * percentile, plus a boolean asserting the sketch value's rank
    * interval sits within ε·n (+1 ceil slack) of the target rank —
    * computed exactly by a second counting pass against the data.
    */
  val x34ApproxQuantiles = Query(
    "x34_approx_quantiles",
    Some("""WITH t AS (SELECT l_returnflag AS g, l_extendedprice AS v FROM lineitem)
            |SELECT g AS l_returnflag, p, exact_value, TRUE AS within_bound FROM (
            |  SELECT g, CAST(0.5 AS DOUBLE) AS p,
            |    PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY v) AS exact_value
            |  FROM t GROUP BY g
            |  UNION ALL
            |  SELECT g, CAST(0.9 AS DOUBLE) AS p,
            |    PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY v) AS exact_value
            |  FROM t GROUP BY g)
            |ORDER BY l_returnflag, p""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val li = t.lineitem.select(col("l_returnflag").as("g"), col("l_extendedprice").as("v"))
      val agg1 = li.groupBy("g").agg(
        expr("approx_percentile(v, array(0.5D, 0.9D), 1000)").as("apx"),
        expr("percentile(v, array(0.5D, 0.9D))").as("exact"),
        count(lit(1)).as("n"))
      val perP = agg1
        .select(col("g"), col("n"), posexplode(arrays_zip(col("apx"), col("exact"))))
        .select(col("g"), col("n"),
          when(col("pos") === 0, 0.5).otherwise(0.9).as("p"),
          col("col.apx").as("apx_v"), col("col.exact").as("exact_value"))
      li.join(broadcast(perP), "g")
        .groupBy("g", "p", "n", "apx_v", "exact_value")
        .agg(
          sum(when(col("v") < col("apx_v"), 1L).otherwise(0L)).as("n_lt"),
          sum(when(col("v") <= col("apx_v"), 1L).otherwise(0L)).as("n_le"))
        .select(col("g").as("l_returnflag"), col("p"), col("exact_value"),
          // target rank p·n must fall inside [n_lt+1, n_le] widened by ε·n + 1
          (col("p") * col("n") >= col("n_lt") + 1 - (col("n") / 1000.0 + 1) &&
            col("p") * col("n") <= col("n_le") + (col("n") / 1000.0 + 1)).as("within_bound"))
        .orderBy("l_returnflag", "p")
    }
  )

  /** Single-pass column profiling — the data-quality monitor shape:
    * row count, null count, exact distinct count, min and max for
    * each profiled column, computed in ONE aggregation over the scan
    * (Spark plans the multi-column distinct via Expand, still one
    * pass over the data + map-side partials) and unpivoted with
    * `stack`. The oracle's three-branch UNION reads the table three
    * times — the engine's one-scan form is the 100 TB difference.
    */
  val x35Profile = Query(
    "x35_profile",
    Some("""WITH c AS (
            |  SELECT 'l_discount' AS col, COUNT(*) AS n,
            |    COUNT(*) - COUNT(l_discount) AS n_null,
            |    CAST(COUNT(DISTINCT l_discount) AS BIGINT) AS n_distinct,
            |    MIN(l_discount) AS min_v, MAX(l_discount) AS max_v FROM lineitem
            |  UNION ALL
            |  SELECT 'l_extendedprice', COUNT(*), COUNT(*) - COUNT(l_extendedprice),
            |    COUNT(DISTINCT l_extendedprice), MIN(l_extendedprice), MAX(l_extendedprice)
            |  FROM lineitem
            |  UNION ALL
            |  SELECT 'l_quantity', COUNT(*), COUNT(*) - COUNT(l_quantity),
            |    COUNT(DISTINCT l_quantity), MIN(l_quantity), MAX(l_quantity) FROM lineitem)
            |SELECT col, n, n_null, n_distinct, min_v, max_v FROM c ORDER BY col""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      val aggs = count(lit(1)).as("n") +: cols.flatMap(c => Seq(
        count(col(c)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"nd_$c"),
        min(col(c)).as(s"mn_$c"),
        max(col(c)).as(s"mx_$c")))
      val one = t.lineitem.select(cols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      val stackArgs = cols
        .map(c => s"'$c', n - nn_$c, nd_$c, mn_$c, mx_$c").mkString(", ")
      one
        .select(col("n"),
          expr(s"stack(${cols.size}, $stackArgs) AS (col, n_null, n_distinct, min_v, max_v)"))
        .select(col("col"), col("n"), col("n_null"), col("n_distinct"),
          col("min_v"), col("max_v"))
        .orderBy("col")
    }
  )

  /** Rolling exact median over a bounded trailing window (7 daily
    * points per event type) — the robust-smoothing shape for metric
    * time series. Daily totals are lifted to exact integer cents
    * (DECIMAL(12,2)·100), the trailing frame is collected as a ≤7-long
    * array (bounded per row — scale-safe at any group size), sorted,
    * and the median is computed with EXPLICIT interpolation arithmetic
    * written identically in both engines: engine-native `median()`
    * conventions differ in how they interpolate even counts
    * ((a+b)/2 vs a+(b−a)/2 — a last-ulp hazard), so neither engine's
    * builtin is used. One IEEE division on exact longs ⇒ bit-equal.
    */
  val x29RollingMedian = Query(
    "x29_rolling_median",
    Some("""WITH d AS (
            |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
            |    CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS cents
            |  FROM events GROUP BY 1, 2),
            |w AS (
            |  SELECT g, day,
            |    list_sort(list(cents) OVER (PARTITION BY g ORDER BY day
            |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS a
            |  FROM d)
            |SELECT g AS event_type, day, LEN(a) AS n,
            |  CASE WHEN LEN(a) % 2 = 1 THEN CAST(a[(LEN(a) + 1) // 2] AS DOUBLE)
            |       ELSE (a[LEN(a) // 2] + a[LEN(a) // 2 + 1]) / 2.0 END / 100.0
            |    AS med_value
            |FROM w ORDER BY event_type, day""".stripMargin),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir)
      val d = t.events
        .groupBy(col("event_type").as("g"), col("ts").cast("date").as("day"))
        .agg((sum(col("value").cast("decimal(12,2)")) * 100).cast("long").as("cents"))
      val w = Window.partitionBy("g").orderBy("day").rowsBetween(-6, 0)
      val a = sort_array(collect_list(col("cents")).over(w))
      val n = size(a)
      // Column `/` is double division — element_at needs int indices
      val mid = ((n + 1) / 2).cast("int")
      val lo = (n / 2).cast("int")
      val med = when(n % 2 === 1, element_at(a, mid).cast("double"))
        .otherwise((element_at(a, lo) + element_at(a, lo + 1)) / 2.0)
      d.select(col("g").as("event_type"), col("day"),
          n.cast("long").as("n"), (med / 100.0).as("med_value"))
        .orderBy("event_type", "day")
    }
  )

  /** Rolling OLS trend per event type: 7-day trailing regression of
    * daily totals (exact integer cents) against the epoch-day index.
    * The windowed extension of [[x17StatsMoments]]' rule — NEVER
    * aggregate raw doubles for second moments. All five moment sums
    * are windowed BIGINT sums of integral values (exact, order-
    * insensitive), the closed-form slope/intercept run ONCE on the
    * exact sums, and each is a single IEEE division — bit-equal
    * across engines and under any partitioning. Frames are ROWS-
    * bounded (≤7), so window state is constant per row at any scale.
    */
  val x36RollingRegression = Query(
    "x36_rolling_regression",
    Some("""WITH d AS (
            |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
            |    CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS cents
            |  FROM events GROUP BY 1, 2),
            |x AS (
            |  SELECT g, day, CAST(day - DATE '1970-01-01' AS BIGINT) AS xi, cents AS yi
            |  FROM d),
            |m AS (
            |  SELECT g, day,
            |    CAST(COUNT(*) OVER w AS BIGINT) AS n,
            |    CAST(SUM(xi) OVER w AS BIGINT) AS sx,
            |    CAST(SUM(yi) OVER w AS BIGINT) AS sy,
            |    CAST(SUM(xi * xi) OVER w AS BIGINT) AS sxx,
            |    CAST(SUM(xi * yi) OVER w AS BIGINT) AS sxy
            |  FROM x
            |  WINDOW w AS (PARTITION BY g ORDER BY day
            |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
            |SELECT g AS event_type, day, n,
            |  CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
            |    AS slope_cents,
            |  (CAST(sy AS DOUBLE) -
            |    CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
            |      * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept_cents
            |FROM m WHERE n >= 2 ORDER BY event_type, day""".stripMargin),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir)
      val d = t.events
        .groupBy(col("event_type").as("g"), col("ts").cast("date").as("day"))
        .agg((sum(col("value").cast("decimal(12,2)")) * 100).cast("long").as("cents"))
        .select(col("g"), col("day"),
          datediff(col("day"), lit("1970-01-01").cast("date")).cast("long").as("xi"),
          col("cents").as("yi"))
      val w = Window.partitionBy("g").orderBy("day").rowsBetween(-6, 0)
      val m = d.select(col("g"), col("day"),
        count(lit(1)).over(w).as("n"),
        sum(col("xi")).over(w).as("sx"),
        sum(col("yi")).over(w).as("sy"),
        sum(col("xi") * col("xi")).over(w).as("sxx"),
        sum(col("xi") * col("yi")).over(w).as("sxy"))
      val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
      val den = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
      val slope = num / den
      m.filter(col("n") >= 2)
        .select(col("g").as("event_type"), col("day"), col("n"),
          slope.as("slope_cents"),
          ((col("sy").cast("double") - slope * col("sx").cast("double")) /
            col("n").cast("double")).as("intercept_cents"))
        .orderBy("event_type", "day")
    }
  )

  /** Association-rule mining over (user, day) baskets: which event
    * types co-occur in the same user-day, with exact support /
    * confidence / lift. ONE wide shuffle total: each basket folds to
    * its item SET (bounded by event-type cardinality), pair counting
    * explodes per-basket combinations map-side (never row²), and
    * supports + basket count re-read the same checkpointed fold —
    * the per-item supports are a broadcast. Every metric is integer
    * counts with a single IEEE division at the end, so the comparison
    * is exact.
    */
  val x37AssocRules = Query(
    "x37_assoc_rules",
    Some("""WITH items AS (
            |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
            |  FROM events),
            |nb AS (SELECT COUNT(*) AS n FROM (SELECT DISTINCT user_id, day FROM items)),
            |sup AS (SELECT event_type, COUNT(*) AS s FROM items GROUP BY event_type),
            |pairs AS (
            |  SELECT a.event_type AS t1, b.event_type AS t2, COUNT(*) AS n_both
            |  FROM items a JOIN items b
            |    ON a.user_id = b.user_id AND a.day = b.day AND a.event_type < b.event_type
            |  GROUP BY 1, 2)
            |SELECT p.t1, p.t2, p.n_both,
            |  CAST(p.n_both AS DOUBLE) / s1.s AS conf_fwd,
            |  CAST(p.n_both AS DOUBLE) / s2.s AS conf_rev,
            |  CAST(p.n_both * nb.n AS DOUBLE) / CAST(s1.s * s2.s AS DOUBLE) AS lift
            |FROM pairs p JOIN sup s1 ON p.t1 = s1.event_type
            |JOIN sup s2 ON p.t2 = s2.event_type, nb
            |ORDER BY t1, t2""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      // Pass-count audit (r12 VERDICT): the previous form shuffled the
      // distinct items THREE times wide (the distinct itself, then both
      // sides of the basket-key self-join) plus a separate distinct for
      // the basket count. Folding each (user, day) basket to its item
      // SET in one wide shuffle makes pair counting a map-side per-
      // basket combination explode (bounded by event-type cardinality,
      // never row²), and supports/basket-count become tiny re-reads of
      // the same checkpointed fold: 1 wide shuffle + 2 small aggs + 1
      // count action. Output is value-identical (a set join with < ==
      // in-basket combinations with <) — the unchanged oracle hash
      // proves it.
      val baskets = t.events
        .select(col("user_id"), col("ts").cast("date").as("day"), col("event_type"))
        .groupBy("user_id", "day")
        .agg(collect_set(col("event_type")).as("its"))
        .localCheckpoint() // three consumers: basket count, supports, pair expansion
      val nBaskets = baskets.count()
      val sup = baskets.select(explode(col("its")).as("event_type"))
        .groupBy("event_type").agg(count(lit(1)).as("s"))
      val pairs = baskets
        .select(explode(col("its")).as("t1"), col("its"))
        .select(col("t1"), explode(col("its")).as("t2"))
        .filter(col("t1") < col("t2"))
        .groupBy("t1", "t2")
        .agg(count(lit(1)).as("n_both"))
      pairs
        .join(broadcast(sup.select(col("event_type").as("t1"), col("s").as("s1"))), Seq("t1"))
        .join(broadcast(sup.select(col("event_type").as("t2"), col("s").as("s2"))), Seq("t2"))
        .select(col("t1"), col("t2"), col("n_both"),
          (col("n_both").cast("double") / col("s1")).as("conf_fwd"),
          (col("n_both").cast("double") / col("s2")).as("conf_rev"),
          ((col("n_both") * nBaskets).cast("double") /
            (col("s1") * col("s2")).cast("double")).as("lift"))
        .orderBy("t1", "t2")
    }
  )

  /** CUSUM change-point detection per event type — the
    * drift-monitoring complement to x36's rolling trend: the day
    * where the cumulative deviation of daily totals from the series
    * mean peaks is the classic single-change-point estimate. All
    * arithmetic stays EXACT integers by scaling: dev_i = n·cents_i −
    * total (BIGINT), S_k = Σ dev_i (a window cumsum), argmax |S_k|
    * with the earliest-day tie-break — only the final reported peak
    * converts to currency units with one IEEE division chain. The
    * cumsum is per-type (partitioned window, never global), and the
    * argmax is a window max + filter, not a sort of the series.
    */
  val x39CusumChangepoint = Query(
    "x39_cusum_changepoint",
    Some("""WITH d AS (
            |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
            |    CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS cents
            |  FROM events GROUP BY 1, 2),
            |t AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
            |        CAST(SUM(cents) AS BIGINT) AS total
            |      FROM d GROUP BY g),
            |s AS (SELECT d.g, d.day, t.n,
            |        CAST(SUM(t.n * d.cents - t.total) OVER (
            |          PARTITION BY d.g ORDER BY d.day
            |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cusum
            |      FROM d JOIN t ON d.g = t.g),
            |m AS (SELECT g, day, n, cusum,
            |        MAX(ABS(cusum)) OVER (PARTITION BY g) AS peak
            |      FROM s),
            |c AS (SELECT g, n, peak, MIN(day) AS change_day FROM m
            |      WHERE ABS(cusum) = peak GROUP BY g, n, peak)
            |SELECT g AS event_type, change_day, n AS n_days,
            |  CAST(peak AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS peak_dev
            |FROM c ORDER BY event_type""".stripMargin),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir)
      val d = t.events
        .groupBy(col("event_type").as("g"), col("ts").cast("date").as("day"))
        .agg((sum(col("value").cast("decimal(12,2)")) * 100).cast("long").as("cents"))
      val tot = d.groupBy("g")
        .agg(count(lit(1)).as("n"), sum("cents").cast("long").as("total"))
      val wCum = Window.partitionBy("g").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      val s = d.join(broadcast(tot), "g")
        .withColumn("cusum",
          sum(col("n") * col("cents") - col("total")).over(wCum).cast("long"))
      val m = s.withColumn("peak", max(abs(col("cusum"))).over(Window.partitionBy("g")))
      m.filter(abs(col("cusum")) === col("peak"))
        .groupBy("g", "n", "peak")
        .agg(min("day").as("change_day"))
        .select(col("g").as("event_type"), col("change_day"),
          col("n").as("n_days"),
          (col("peak").cast("double") / col("n").cast("double") / 100.0).as("peak_dev"))
        .orderBy("event_type")
    }
  )

  /** Trailing EWMA anomaly screen per event type (α = 1/2 over the
    * previous ≤7 daily totals) — the online-monitoring complement to
    * x39's retrospective CUSUM. The halving weights are encoded as
    * INTEGER powers of two (64·lag1 + 32·lag2 + … + 1·lag7 over exact
    * cents), so the weighted numerator and the present-lag weight sum
    * are BIGINTs; the EWMA and relative deviation each spend exactly
    * one IEEE division, making the flag engine-exact with no summation
    * -order hazard. The lag frame is a partitioned 7-row window —
    * nothing global, nothing buffered beyond 7 longs per row.
    */
  val x40EwmaAnomaly = Query(
    "x40_ewma_anomaly",
    Some("""WITH d AS (
            |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
            |    CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS cents
            |  FROM events GROUP BY 1, 2),
            |l AS (SELECT g, day, cents,
            |        LAG(cents, 1) OVER w AS l1, LAG(cents, 2) OVER w AS l2,
            |        LAG(cents, 3) OVER w AS l3, LAG(cents, 4) OVER w AS l4,
            |        LAG(cents, 5) OVER w AS l5, LAG(cents, 6) OVER w AS l6,
            |        LAG(cents, 7) OVER w AS l7
            |      FROM d WINDOW w AS (PARTITION BY g ORDER BY day)),
            |e AS (SELECT g, day, cents,
            |        COALESCE(l1,0)*64 + COALESCE(l2,0)*32 + COALESCE(l3,0)*16 +
            |        COALESCE(l4,0)*8 + COALESCE(l5,0)*4 + COALESCE(l6,0)*2 +
            |        COALESCE(l7,0) AS num,
            |        CASE WHEN l1 IS NULL THEN 0 ELSE 64 END +
            |        CASE WHEN l2 IS NULL THEN 0 ELSE 32 END +
            |        CASE WHEN l3 IS NULL THEN 0 ELSE 16 END +
            |        CASE WHEN l4 IS NULL THEN 0 ELSE 8 END +
            |        CASE WHEN l5 IS NULL THEN 0 ELSE 4 END +
            |        CASE WHEN l6 IS NULL THEN 0 ELSE 2 END +
            |        CASE WHEN l7 IS NULL THEN 0 ELSE 1 END AS den
            |      FROM l)
            |SELECT g AS event_type, day,
            |  CAST(cents AS DOUBLE) / 100.0 AS actual,
            |  CAST(num AS DOUBLE) / den / 100.0 AS ewma,
            |  (CAST(cents AS DOUBLE) - CAST(num AS DOUBLE) / den)
            |    / (CAST(num AS DOUBLE) / den) AS rel_dev,
            |  ABS((CAST(cents AS DOUBLE) - CAST(num AS DOUBLE) / den)
            |    / (CAST(num AS DOUBLE) / den)) > 0.25 AS anomaly
            |FROM e WHERE den > 0 AND num <> 0
            |ORDER BY event_type, day""".stripMargin),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir)
      val d = t.events
        .groupBy(col("event_type").as("g"), col("ts").cast("date").as("day"))
        .agg((sum(col("value").cast("decimal(12,2)")) * 100).cast("long").as("cents"))
      val w = Window.partitionBy("g").orderBy("day")
      val lags = (1 to 7).map(i => lag(col("cents"), i).over(w).as(s"l$i"))
      val l = d.select(col("g") +: col("day") +: col("cents") +: lags: _*)
      val weights = Seq(64L, 32L, 16L, 8L, 4L, 2L, 1L)
      val num = (1 to 7).map(i => coalesce(col(s"l$i"), lit(0L)) * weights(i - 1))
        .reduce(_ + _)
      val den = (1 to 7).map(i => when(col(s"l$i").isNull, 0L).otherwise(weights(i - 1)))
        .reduce(_ + _)
      // num <> 0: a group whose present lags are all exactly 0 cents has
      // EWMA 0 and no defined relative deviation — dropped in BOTH
      // engines (Spark would emit Infinity/NaN, DuckDB NULL; neither is
      // a useful screen row and they hash-mismatch).
      val e = l.withColumn("num", num).withColumn("den", den)
        .filter(col("den") > 0 && col("num") =!= 0)
      val ewmaC = col("num").cast("double") / col("den")
      val relDev = (col("cents").cast("double") - ewmaC) / ewmaC
      e.select(col("g").as("event_type"), col("day"),
        (col("cents").cast("double") / 100.0).as("actual"),
        (ewmaC / 100.0).as("ewma"),
        relDev.as("rel_dev"),
        (abs(relDev) > 0.25).as("anomaly"))
        .orderBy("event_type", "day")
    }
  )

  /** Incremental aggregate maintenance proven equal to recompute: the
    * engine path splits the fact table at a date boundary, computes
    * each side's partial summary independently, and MERGES the
    * partials ([[graft.operators.Incremental]]) — the oracle is the
    * full-scan recompute, so a green row is the proof that
    * `merge(partial(A), partial(B)) == partial(A ∪ B)` bit-exactly
    * (integer counts, decimal sums, order-insensitive min/max). At
    * 100 TB this is the difference between aggregating one day's
    * partition and re-scanning the fact table nightly.
    */
  val x41IncrementalAgg = Query(
    "x41_incremental_agg",
    Some("""SELECT event_type,
            |  CAST(COUNT(*) AS BIGINT) AS n_events,
            |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
            |  MIN(CAST(ts AS DATE)) AS first_day,
            |  MAX(CAST(ts AS DATE)) AS last_day
            |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    (spark, dir) => {
      import graft.operators.Incremental
      val t = Tables(spark, dir)
      val cut = lit("2024-01-16").cast("date")
      val history = Incremental.partialSummary(
        t.events.filter(col("ts").cast("date") < cut))
      val delta = Incremental.partialSummary(
        t.events.filter(col("ts").cast("date") >= cut))
      Incremental.mergeSummaries(history, delta)
        .select(col("event_type"), col("n_events"),
          col("sum_value_exact").cast("double").as("sum_value"),
          col("first_day"), col("last_day"))
        .orderBy("event_type")
    }
  )

  /** Personalized PageRank over the x27 customer–supplier bipartite
    * graph: the teleport mass lands only on a seed cohort (customer
    * nodes with id ≡ 0 mod 64), ranking suppliers BY RELEVANCE TO
    * THOSE CUSTOMERS — the graph-recommendation primitive. The oracle
    * unrolls both iterations with the same integer-grain quantized
    * SUM as x27, plus the seed-indicator teleport term
    * written in the identical (0.15·ind)/|S| association order.
    */
  val x44PersonalizedPagerank = Query(
    "x44_personalized_pagerank", {
      def iterate(prev: String, i: Int) =
        s"""c$i AS (SELECT e.dst, CAST(ROUND($prev.r / deg.outdeg * 1e15) AS BIGINT) AS cq
           |       FROM edges e JOIN $prev ON e.src = $prev.id JOIN deg ON e.src = deg.src),
           |s$i AS (SELECT dst, SUM(cq) AS sq FROM c$i GROUP BY dst),
           |r$i AS (SELECT nodes.id,
           |         (0.15 * (CASE WHEN nodes.id % 64 = 0 THEN 1 ELSE 0 END))
           |           / (SELECT scnt FROM ns)
           |         + 0.85 * (CAST(COALESCE(s$i.sq, 0) AS DOUBLE) / 1e15) AS r
           |       FROM nodes LEFT JOIN s$i ON nodes.id = s$i.dst)""".stripMargin
      Some(
        s"""WITH e0 AS (
           |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |ns AS (SELECT COUNT(*) AS scnt FROM nodes WHERE id % 64 = 0),
           |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
           |r0 AS (SELECT id,
           |         CASE WHEN id % 64 = 0 THEN 1.0 / (SELECT scnt FROM ns)
           |              ELSE 0.0 END AS r
           |       FROM nodes),
           |${iterate("r0", 1)},
           |${iterate("r1", 2)}
           |SELECT id, r FROM r2 WHERE id % 2 = 1 AND r > 0
           |ORDER BY r DESC, id LIMIT 20""".stripMargin)
    },
    (spark, dir) => {
      val t = Tables(spark, dir)
      val e0 = t.orders
        .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct()
        .filter(col("id") % 64 === 0)
      Graph.personalizedPageRank(edges, seeds, iters = 2)
        .filter(col("id") % 2 === 1 && col("r") > 0)
        .orderBy(desc("r"), asc("id"))
        .limit(20)
    }
  )

  /** Anomaly consensus — the production monitoring pattern of running
    * SEVERAL detectors and alerting on agreement: per (type, day),
    * x40's trailing-EWMA deviation flag, x39's CUSUM change-day flag,
    * and a 2σ z-score flag whose mean/σ come from exact integer
    * moments (x17's rule — decimal-lifted sums, one closed form, so
    * σ is bit-reproducible under any partitioning), with a majority
    * (≥2 of 3) consensus column. One daily aggregate feeds all three
    * detectors: lag frame, per-type cumsum + argmax, and a broadcast
    * moment row — no method rescans the events.
    */
  val x48AnomalyConsensus = Query(
    "x48_anomaly_consensus",
    Some("""WITH d AS MATERIALIZED (
            |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
            |    CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS cents
            |  FROM events GROUP BY 1, 2),
            |l AS (SELECT g, day, cents,
            |        LAG(cents, 1) OVER w AS l1, LAG(cents, 2) OVER w AS l2,
            |        LAG(cents, 3) OVER w AS l3, LAG(cents, 4) OVER w AS l4,
            |        LAG(cents, 5) OVER w AS l5, LAG(cents, 6) OVER w AS l6,
            |        LAG(cents, 7) OVER w AS l7
            |      FROM d WINDOW w AS (PARTITION BY g ORDER BY day)),
            |e AS (SELECT g, day, cents,
            |        COALESCE(l1,0)*64 + COALESCE(l2,0)*32 + COALESCE(l3,0)*16 +
            |        COALESCE(l4,0)*8 + COALESCE(l5,0)*4 + COALESCE(l6,0)*2 +
            |        COALESCE(l7,0) AS num,
            |        CASE WHEN l1 IS NULL THEN 0 ELSE 64 END +
            |        CASE WHEN l2 IS NULL THEN 0 ELSE 32 END +
            |        CASE WHEN l3 IS NULL THEN 0 ELSE 16 END +
            |        CASE WHEN l4 IS NULL THEN 0 ELSE 8 END +
            |        CASE WHEN l5 IS NULL THEN 0 ELSE 4 END +
            |        CASE WHEN l6 IS NULL THEN 0 ELSE 2 END +
            |        CASE WHEN l7 IS NULL THEN 0 ELSE 1 END AS den
            |      FROM l),
            |ew AS (SELECT g, day,
            |         den > 0 AND num <> 0
            |           AND ABS((CAST(cents AS DOUBLE) - CAST(num AS DOUBLE) / den)
            |             / (CAST(num AS DOUBLE) / den)) > 0.25 AS ewma_flag
            |       FROM e),
            |t AS MATERIALIZED (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
            |        CAST(SUM(cents) AS BIGINT) AS total,
            |        SUM(cents * cents) AS sumsq
            |      FROM d GROUP BY g),
            |s AS (SELECT d.g, d.day,
            |        CAST(SUM(t.n * d.cents - t.total) OVER (
            |          PARTITION BY d.g ORDER BY d.day
            |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cusum
            |      FROM d JOIN t ON d.g = t.g),
            |m AS (SELECT g, day, cusum,
            |        MAX(ABS(cusum)) OVER (PARTITION BY g) AS peak FROM s),
            |cday AS (SELECT g, MIN(day) AS change_day FROM m
            |         WHERE ABS(cusum) = peak GROUP BY g),
            |z AS (SELECT d.g, d.day,
            |        ABS(CAST(d.cents AS DOUBLE) - CAST(t.total AS DOUBLE) / t.n)
            |          > 2.0 * SQRT(CAST(t.n * t.sumsq - t.total * t.total AS DOUBLE)
            |                       / t.n / t.n) AS z_flag
            |      FROM d JOIN t ON d.g = t.g)
            |SELECT d.g AS event_type, d.day,
            |  ew.ewma_flag, d.day = cday.change_day AS cusum_flag, z.z_flag,
            |  CAST(CASE WHEN ew.ewma_flag THEN 1 ELSE 0 END +
            |       CASE WHEN d.day = cday.change_day THEN 1 ELSE 0 END +
            |       CASE WHEN z.z_flag THEN 1 ELSE 0 END AS INT) AS votes,
            |  (CASE WHEN ew.ewma_flag THEN 1 ELSE 0 END +
            |   CASE WHEN d.day = cday.change_day THEN 1 ELSE 0 END +
            |   CASE WHEN z.z_flag THEN 1 ELSE 0 END) >= 2 AS consensus
            |FROM d JOIN ew ON d.g = ew.g AND d.day = ew.day
            |JOIN cday ON d.g = cday.g
            |JOIN z ON d.g = z.g AND d.day = z.day
            |ORDER BY 1, 2""".stripMargin),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir)
      val d = t.events
        .groupBy(col("event_type").as("g"), col("ts").cast("date").as("day"))
        .agg((sum(col("value").cast("decimal(12,2)")) * 100).cast("long").as("cents"))
        .localCheckpoint() // feeds the lag frame, the moments, and the cumsum
      val w = Window.partitionBy("g").orderBy("day")
      val lags = (1 to 7).map(i => lag(col("cents"), i).over(w).as(s"l$i"))
      val weights = Seq(64L, 32L, 16L, 8L, 4L, 2L, 1L)
      val lagged = d.select(col("g") +: col("day") +: col("cents") +: lags: _*)
      val num = (1 to 7).map(i => coalesce(col(s"l$i"), lit(0L)) * weights(i - 1))
        .reduce(_ + _)
      val den = (1 to 7).map(i => when(col(s"l$i").isNull, 0L).otherwise(weights(i - 1)))
        .reduce(_ + _)
      val ewmaC = num.cast("double") / den
      // `when` evaluates its branch lazily; a bare `den > 0 && …/den`
      // still executes the division on den = 0 rows and ANSI throws.
      // num <> 0 guards the all-zero-lag EWMA (x40's rule): Spark's
      // x/0.0 is NaN, DuckDB's is NULL — both collapse to false here.
      val ew = lagged.select(col("g"), col("day"),
        when(den > 0 && num =!= 0,
          abs((col("cents").cast("double") - ewmaC) / ewmaC) > 0.25)
          .otherwise(false).as("ewma_flag"))
      val dec = col("cents").cast("decimal(19,0)")
      val mom = d.groupBy("g").agg(
        count(lit(1)).as("n"), sum("cents").cast("long").as("total"),
        sum(dec * dec).as("sumsq"))
      val wCum = Window.partitionBy("g").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      val cus = d.join(broadcast(mom.select("g", "n", "total")), "g")
        .withColumn("cusum",
          sum(col("n") * col("cents") - col("total")).over(wCum).cast("long"))
      val cday = cus
        .withColumn("peak", max(abs(col("cusum"))).over(Window.partitionBy("g")))
        .filter(abs(col("cusum")) === col("peak"))
        .groupBy("g").agg(min("day").as("change_day"))
      val sigma = sqrt((col("n").cast("decimal(19,0)") * col("sumsq") -
        col("total").cast("decimal(19,0)") * col("total").cast("decimal(19,0)"))
        .cast("double") / col("n") / col("n"))
      val z = d.join(broadcast(mom), "g")
        .select(col("g"), col("day"),
          (abs(col("cents").cast("double") - col("total").cast("double") / col("n"))
            > lit(2.0) * sigma).as("z_flag"))
      val votes =
        when(col("ewma_flag"), 1).otherwise(0) +
          when(col("day") === col("change_day"), 1).otherwise(0) +
          when(col("z_flag"), 1).otherwise(0)
      d.join(ew, Seq("g", "day"))
        .join(broadcast(cday), Seq("g"))
        .join(z, Seq("g", "day"))
        .select(col("g").as("event_type"), col("day"),
          col("ewma_flag"), (col("day") === col("change_day")).as("cusum_flag"),
          col("z_flag"), votes.cast("int").as("votes"), (votes >= 2).as("consensus"))
        .orderBy("event_type", "day")
    }
  )

  /** Holt linear-trend smoothing (double exponential, α = β = 1/2)
    * per event type — the forecasting complement to x40's EWMA: level
    * and trend evolve by the classic coupled recurrences, initialized
    * as l₁ = y₁, b₁ = y₂ − y₁. The recurrence is inherently
    * sequential, so BOTH engines run it as the same left fold over
    * the day-ordered daily totals (Spark `aggregate` HOF vs DuckDB
    * `list_reduce`, identical arithmetic per step ⇒ bit-equal
    * doubles); the fold state is two doubles and the series is one
    * group's daily aggregate — per-group work is days-sized, never
    * events-sized, and groups fold in parallel.
    */
  val x47HoltTrend = Query(
    "x47_holt_trend",
    Some("""WITH d AS (
            |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
            |    CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS cents
            |  FROM events GROUP BY 1, 2),
            |arr AS (SELECT g, COUNT(*) AS n,
            |          list(CAST(cents AS DOUBLE) / 100.0 ORDER BY day) AS ys
            |        FROM d GROUP BY g),
            |f AS (SELECT g, n,
            |        list_reduce(
            |          list_prepend([ys[1], ys[2] - ys[1]],
            |            list_transform(ys[3:], y -> [y])),
            |          (acc, x) -> [0.5 * x[1] + 0.5 * (acc[1] + acc[2]),
            |                       0.5 * ((0.5 * x[1] + 0.5 * (acc[1] + acc[2])) - acc[1])
            |                         + 0.5 * acc[2]]) AS lb
            |      FROM arr WHERE n >= 2)
            |SELECT g AS event_type, CAST(n AS BIGINT) AS n_days,
            |  lb[1] AS level, lb[2] AS trend, lb[1] + lb[2] AS forecast
            |FROM f ORDER BY event_type""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val d = t.events
        .groupBy(col("event_type").as("g"), col("ts").cast("date").as("day"))
        .agg((sum(col("value").cast("decimal(12,2)")) * 100).cast("long").as("cents"))
      val arr = d.groupBy("g")
        .agg(count(lit(1)).as("n"),
          sort_array(collect_list(struct(col("day"),
            (col("cents").cast("double") / 100.0).as("y")))).as("s"))
        .filter(col("n") >= 2)
        .withColumn("ys", expr("transform(s, x -> x.y)"))
      arr.withColumn("lb", expr(
        """aggregate(slice(ys, 3, greatest(size(ys) - 2, 0)),
          |  array(ys[0], ys[1] - ys[0]),
          |  (acc, y) -> array(0.5d * y + 0.5d * (acc[0] + acc[1]),
          |                    0.5d * ((0.5d * y + 0.5d * (acc[0] + acc[1])) - acc[0])
          |                      + 0.5d * acc[1]))""".stripMargin))
        .select(col("g").as("event_type"), col("n").as("n_days"),
          expr("lb[0]").as("level"), expr("lb[1]").as("trend"),
          expr("lb[0] + lb[1]").as("forecast"))
        .orderBy("event_type")
    }
  )

  /** Decile lift table — rank users by total spend, split into ten
    * equal-count bins, report each bin's share and cumulative share
    * of revenue: the "top 10% of users drive X% of spend"
    * concentration report. NTILE over a UNIQUE (spend, user) order is
    * deterministic in both engines; revenue stays exact cents until
    * the two final per-bin divisions; the cumulative sum runs over
    * ten rows. Scale note: the NTILE runs over the USER aggregate
    * (cardinality ≪ events) but is still one global window task — at
    * a billion users swap it for the rank-arithmetic form
    * `operators.Quantiles` already provides (x33's buffer-free path);
    * the report shape and oracle are unchanged.
    */
  val x45DecileLift = Query(
    "x45_decile_lift",
    Some("""WITH u AS (
            |  SELECT user_id,
            |    CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS cents
            |  FROM events GROUP BY user_id),
            |t AS (SELECT CAST(SUM(cents) AS BIGINT) AS total, COUNT(*) AS n FROM u),
            |d AS (SELECT user_id, cents,
            |        CAST(NTILE(10) OVER (ORDER BY cents DESC, user_id) AS INT) AS decile
            |      FROM u),
            |g AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users,
            |        CAST(SUM(cents) AS BIGINT) AS bin_cents
            |      FROM d GROUP BY decile),
            |c AS (SELECT decile, n_users, bin_cents,
            |        CAST(SUM(bin_cents) OVER (ORDER BY decile
            |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
            |      FROM g)
            |SELECT decile, n_users,
            |  CAST(bin_cents AS DOUBLE) / 100.0 AS revenue,
            |  CAST(bin_cents AS DOUBLE) / t.total AS share,
            |  CAST(cum_cents AS DOUBLE) / t.total AS cum_share
            |FROM c, t ORDER BY decile""".stripMargin),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir)
      val u = t.events.groupBy("user_id")
        .agg((sum(col("value").cast("decimal(12,2)")) * 100).cast("long").as("cents"))
      // r14 (VERDICT r13 item 2): the NTILE ran as ONE global window
      // task over every user — O(users) rows through a single
      // partition at 100 TB. Replaced with the distributed rank
      // (operators.Ranks: range partition + offset fold, the dd21
      // pattern) + the exact NTILE arithmetic over (rank, n). The
      // (cents DESC, user_id) order is unique, so tile assignment is
      // bit-identical to the window form the oracle replays. The
      // user count n comes free from the rank's counts pass; `total`
      // is re-derived from the TEN decile rows instead of a second
      // corpus-scale aggregate.
      val (ranked, n) = graft.operators.Ranks.withGlobalRank(
        u, "__rank", Seq(col("cents").desc, col("user_id").asc))
      val g = ranked
        .groupBy(graft.operators.Ranks.ntileOfRank(col("__rank"), n, 10).as("decile"))
        .agg(count(lit(1)).as("n_users"), sum("cents").cast("long").as("bin_cents"))
      // ten rows from here on: the cumulative/total windows are
      // report-sized by construction (the ss11 k-bounded case)
      val c = g
        .withColumn("cum_cents",
          sum("bin_cents").over(Window.orderBy("decile")
            .rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
        .withColumn("total",
          sum("bin_cents").over(Window.orderBy("decile")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
            .cast("long"))
      c.select(col("decile"), col("n_users"),
          (col("bin_cents").cast("double") / 100.0).as("revenue"),
          (col("bin_cents").cast("double") / col("total")).as("share"),
          (col("cum_cents").cast("double") / col("total")).as("cum_share"))
        .orderBy("decile")
    }
  )

  /** Multi-touch attribution credit: for every purchase, the FIRST
    * and LAST click by the same user in the preceding hour — the two
    * standard single-touch credit models side by side, plus the
    * candidate count a position-based model would weight. The probe
    * is the same equi-join-on-user + bounded-range shape as
    * st04/x28; first/last are arg-min/arg-max via min/max over a
    * (ts, id) struct — no per-purchase sort, map-side combinable,
    * deterministic because the id breaks timestamp ties.
    */
  val x46AttributionCredit = Query(
    "x46_attribution_credit",
    Some("""WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts
            |          FROM events WHERE event_type = 'purchase'),
            |c AS (SELECT event_id AS c_id, user_id, ts AS c_ts
            |      FROM events WHERE event_type = 'click'),
            |j AS (SELECT p.p_id, p.user_id, p.p_ts, c.c_id, c.c_ts,
            |        ROW_NUMBER() OVER (PARTITION BY p.p_id ORDER BY c.c_ts, c.c_id) AS rf,
            |        ROW_NUMBER() OVER (PARTITION BY p.p_id ORDER BY c.c_ts DESC, c.c_id DESC) AS rl,
            |        COUNT(*) OVER (PARTITION BY p.p_id) AS n_clicks
            |      FROM p JOIN c ON p.user_id = c.user_id
            |        AND c.c_ts < p.p_ts AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR)
            |SELECT f.p_id, f.user_id, f.p_ts,
            |  CAST(f.n_clicks AS BIGINT) AS n_clicks,
            |  f.c_id AS first_click, l.c_id AS last_click
            |FROM (SELECT * FROM j WHERE rf = 1) f
            |JOIN (SELECT p_id, c_id FROM j WHERE rl = 1) l USING (p_id)
            |ORDER BY p_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val ev = t.events
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
      p.join(c,
        col("user_id") === col("c_user") &&
          col("c_ts") < col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("interval 1 hour"))
        .groupBy("p_id", "user_id", "p_ts")
        .agg(count(lit(1)).as("n_clicks"),
          min(struct(col("c_ts"), col("c_id"))).getField("c_id").as("first_click"),
          max(struct(col("c_ts"), col("c_id"))).getField("c_id").as("last_click"))
        .select("p_id", "user_id", "p_ts", "n_clicks", "first_click", "last_click")
        .orderBy("p_id")
    }
  )

  /** Deterministic bootstrap confidence intervals for a data-quality
    * metric (mean value per event type): 64 hash-Bernoulli resamples,
    * where bit b of each row's ONE mixed_hash64 is its membership
    * coin for resample b (one hash per row, not per (row, resample) —
    * 64× cheaper and the avalanche makes the bits independent coins).
    * Each resample's mean is exact cents over an exact count with one
    * IEEE division, and the 90% CI is ORDER STATISTICS of the 64
    * means (4th / 61st), never interpolation, so the whole interval
    * is engine-exact. Scale shape: the ×64 expansion is map-only and
    * collapses immediately into a two-phase (group, b) aggregate —
    * the shuffle carries 64 partial rows per task, not 64× the data;
    * ranking 64 means per group is trivially bounded.
    */
  val x42BootstrapCi = Query(
    "x42_bootstrap_ci", {
      val fold = TrainingData.foldSql("CAST(event_id AS VARCHAR)")
      Some(
        s"""WITH r AS (SELECT event_id, event_type AS g,
           |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
           |  FROM events),
           |h0 AS (SELECT event_id, g, cents, ($fold) AS u0 FROM r),
           |h AS (SELECT g, cents, ${TrainingData.fmixSql("u0")} AS u FROM h0),
           |k AS (SELECT g, cents, u, CAST(i AS BIGINT) AS b,
           |        CAST(POWER(2, i) AS HUGEINT) AS p
           |      FROM h, UNNEST(range(0, 64)) t(i)),
           |m AS (SELECT g, b, CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 100.0 AS mean_b
           |      FROM k WHERE (u // p) % 2 = 0 GROUP BY g, b),
           |rk AS (SELECT g, b, mean_b,
           |         ROW_NUMBER() OVER (PARTITION BY g ORDER BY mean_b, b) AS rn
           |       FROM m),
           |f AS (SELECT g, CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 100.0 AS mean_value
           |      FROM r GROUP BY g)
           |SELECT f.g AS event_type, f.mean_value,
           |  lo.mean_b AS ci_lo, hi.mean_b AS ci_hi
           |FROM f JOIN rk lo ON lo.g = f.g AND lo.rn = 4
           |JOIN rk hi ON hi.g = f.g AND hi.rn = 61
           |ORDER BY event_type""".stripMargin)
    },
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.functions.MixedHash64.register(spark)
      val t = Tables(spark, dir)
      val r = t.events.select(col("event_id"), col("event_type").as("g"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
        .localCheckpoint() // consumed by the resample expansion AND the full mean
      val k = r
        .withColumn("h", graft.functions.MixedHash64(col("event_id").cast("string")))
        .select(col("g"), col("cents"), col("h"),
          explode(sequence(lit(0L), lit(63L))).as("b"))
      // bit b of the one per-row hash is the membership coin for
      // resample b — >>> keeps the shift logical on the signed long
      val m = k.filter(expr("((h >>> b) & 1) = 0"))
        .groupBy("g", "b")
        .agg((sum(col("cents")).cast("double") / count(lit(1)) / 100.0).as("mean_b"))
      val rk = m.withColumn("rn",
        row_number().over(Window.partitionBy("g").orderBy("mean_b", "b")))
      val full = r.groupBy("g")
        .agg((sum(col("cents")).cast("double") / count(lit(1)) / 100.0).as("mean_value"))
      full
        .join(rk.filter(col("rn") === 4).select(col("g"), col("mean_b").as("ci_lo")), Seq("g"))
        .join(rk.filter(col("rn") === 61).select(col("g"), col("mean_b").as("ci_hi")), Seq("g"))
        .select(col("g").as("event_type"), col("mean_value"), col("ci_lo"), col("ci_hi"))
        .orderBy("event_type")
    }
  )

  /** Deterministic permutation test — is the click/purchase mean-value
    * gap significant? The observed difference of means is compared
    * against 64 random relabelings, where bit b of each row's single
    * mixed_hash64 decides whether that row's group flips in permuted
    * world b (x42's one-hash-many-coins scheme). Group sums/counts
    * stay exact integers; each mean spends one IEEE division, the
    * diff one subtraction, and the p-value is a count over 64 — the
    * whole test is engine-exact, no RNG state anywhere. Scale shape:
    * the ×64 expansion collapses into a 64-row aggregate with map-side
    * partials; the observed row broadcasts back over it.
    */
  val x43PermutationTest = Query(
    "x43_permutation_test", {
      val fold = TrainingData.foldSql("CAST(event_id AS VARCHAR)")
      Some(
        s"""WITH r0 AS (SELECT event_id, event_type = 'click' AS is_a,
           |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
           |  FROM events WHERE event_type IN ('click', 'purchase')),
           |h0 AS (SELECT event_id, is_a, cents, ($fold) AS u0 FROM r0),
           |h AS (SELECT is_a, cents, ${TrainingData.fmixSql("u0")} AS u FROM h0),
           |obs AS (SELECT
           |    CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           |    CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
           |    CAST(SUM(CASE WHEN is_a THEN cents ELSE 0 END) AS DOUBLE)
           |      / SUM(CASE WHEN is_a THEN 1 ELSE 0 END) / 100.0 AS mean_a,
           |    CAST(SUM(CASE WHEN is_a THEN 0 ELSE cents END) AS DOUBLE)
           |      / SUM(CASE WHEN is_a THEN 0 ELSE 1 END) / 100.0 AS mean_b
           |  FROM h),
           |k AS (SELECT is_a, cents, u, CAST(i AS BIGINT) AS b,
           |        CAST(POWER(2, i) AS HUGEINT) AS p
           |      FROM h, UNNEST(range(0, 64)) t(i)),
           |f AS (SELECT b, cents,
           |        is_a <> ((u // p) % 2 = 1) AS perm_a
           |      FROM k),
           |perm AS (SELECT b,
           |    CAST(SUM(CASE WHEN perm_a THEN cents ELSE 0 END) AS DOUBLE)
           |      / SUM(CASE WHEN perm_a THEN 1 ELSE 0 END) / 100.0
           |    - CAST(SUM(CASE WHEN perm_a THEN 0 ELSE cents END) AS DOUBLE)
           |      / SUM(CASE WHEN perm_a THEN 0 ELSE 1 END) / 100.0 AS diff_b
           |  FROM f GROUP BY b)
           |SELECT o.n_a, o.n_b, o.mean_a, o.mean_b,
           |  o.mean_a - o.mean_b AS obs_diff,
           |  CAST(SUM(CASE WHEN ABS(diff_b) >= ABS(o.mean_a - o.mean_b)
           |           THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
           |  CAST(SUM(CASE WHEN ABS(diff_b) >= ABS(o.mean_a - o.mean_b)
           |           THEN 1 ELSE 0 END) AS DOUBLE) / 64.0 AS p_value
           |FROM perm, obs o
           |GROUP BY o.n_a, o.n_b, o.mean_a, o.mean_b""".stripMargin)
    },
    (spark, dir) => {
      graft.functions.MixedHash64.register(spark)
      val t = Tables(spark, dir)
      val r = t.events
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), (col("event_type") === "click").as("is_a"),
          (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
        .withColumn("h", graft.functions.MixedHash64(col("event_id").cast("string")))
        .localCheckpoint() // consumed by the observed stats AND the 64 permutations
      def meanOf(cond: org.apache.spark.sql.Column) =
        sum(when(cond, col("cents")).otherwise(0L)).cast("double") /
          sum(when(cond, 1L).otherwise(0L)) / 100.0
      val obs = r.agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("is_a"), 0L).otherwise(1L)).as("n_b"),
        meanOf(col("is_a")).as("mean_a"),
        meanOf(!col("is_a")).as("mean_b"))
      val k = r.select(col("is_a"), col("cents"), col("h"),
        explode(sequence(lit(0L), lit(63L))).as("b"))
        .withColumn("perm_a", col("is_a") =!= expr("((h >>> b) & 1) = 1"))
      val perm = k.groupBy("b")
        .agg((meanOf(col("perm_a")) - meanOf(!col("perm_a"))).as("diff_b"))
      perm.crossJoin(broadcast(obs))
        .groupBy("n_a", "n_b", "mean_a", "mean_b")
        .agg(
          sum(when(abs(col("diff_b")) >= abs(col("mean_a") - col("mean_b")), 1L)
            .otherwise(0L)).as("n_extreme"))
        .select(col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
          (col("mean_a") - col("mean_b")).as("obs_diff"),
          col("n_extreme"),
          (col("n_extreme").cast("double") / 64.0).as("p_value"))
    }
  )

  val all: Seq[Query] = Seq(
    x01Rollup, x02Percentiles, x03Pivot, x04StringAgg, x05FullOuter,
    x06AsOf, dd05DedupGroups, x07RangeJoin, x08Cube, x09WindowSuite,
    x10GapsIslands, x11Intersect, x12RangeFrame, x13FirstLast,
    x14CohortRetention, x15Funnel, x16Transitions, x17StatsMoments,
    x18Histogram, x19TopKAgg, x20SaltedJoin, x21GroupingSets,
    x22RelativeRanks, x23GapFill, x24MadOutliers, x25ZOrder,
    x26UnionEvolve, x27PageRank, x28ConversionWindow,
    x29RollingMedian, x30RatioToReport, x31SessionPaths, x32MadSampled,
    x33RankedQuantiles, x34ApproxQuantiles, x35Profile, x36RollingRegression,
    x37AssocRules, x39CusumChangepoint, x40EwmaAnomaly, x41IncrementalAgg,
    x42BootstrapCi, x43PermutationTest, x44PersonalizedPagerank,
    x45DecileLift, x46AttributionCredit, x47HoltTrend, x48AnomalyConsensus
  )
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core._
import graft.funcs.AggFuncs
import graft.pivot.Pivot
import graft.transforms.Shaping
import graft.Tables._

/** Operator-coverage queries (one per SURVEY.md §2 item) with DuckDB oracle
  * SQL. Numeric design rule: aggregate doubles through DECIMAL so results are
  * order-independent and bit-identical across engines; divide/round only on
  * the final (identical) doubles.
  */
object Queries {

  type Q = (SparkSession, String) => DataFrame

  // deterministic mean: exact decimal sum cast to double, then IEEE division
  AggFuncs.register("dmean",
    c => sum(c.cast(DecimalType(18, 2))).cast("double") / count(c))

  /** Per-JVM scratch root for queries that round-trip through storage (q47):
    * one temp dir per run, recursively deleted on exit, so repeated
    * bench/verify invocations leave nothing behind under /tmp. */
  private[graft] lazy val scratchDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      try {
        val walk = Files.walk(dir)
        // close the walk stream BEFORE deleting: open directory handles can
        // make directory deletes fail on some filesystems
        val paths =
          try walk.sorted(Comparator.reverseOrder[Path]()).toArray(new Array[Path](_))
          finally walk.close()
        paths.foreach(p => Files.deleteIfExists(p))
      } catch { case scala.util.control.NonFatal(_) => () }
      ()
    }))
    dir.toString
  }

  // ---- building blocks --------------------------------------------------

  /** lineitem pivoted: returnflag × linestatus, exact decimal revenue sums. */
  private def pivotRevenue(s: SparkSession, dir: String): FlatTable =
    Pivot.pivot(read(s, dir, "lineitem"), Seq("l_returnflag"), "l_linestatus",
      sum(dec2("l_extendedprice")), Seq("F", "O"))

  private def pivotQty(s: SparkSession, dir: String): FlatTable =
    Pivot.pivot(read(s, dir, "lineitem"), Seq("l_returnflag"), "l_linestatus",
      sum(dec2("l_quantity")), Seq("F", "O"))

  private def regionNationOrders(s: SparkSession, dir: String): FlatTable = {
    val o = read(s, dir, "orders")
    val c = read(s, dir, "customer")
    val n = read(s, dir, "nation")
    val r = read(s, dir, "region")
    val j = o.join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
    Pivot.groupAgg(j, Seq("r_name", "n_name"), count(lit(1)).as("n_orders"))
  }

  // ---- the registry -----------------------------------------------------

  val all: Map[String, Q] = Map(
    // A-series: pivot + margin algebra
    "q01_pivot" -> ((s, dir) => castValuesToDouble(pivotRevenue(s, dir)).ordered),
    "q02_totals_row" -> ((s, dir) =>
      castValuesToDouble(pivotRevenue(s, dir).addTotals(Axis.Rows)).ordered),
    "q03_totals_both" -> ((s, dir) =>
      castValuesToDouble(pivotRevenue(s, dir).addTotals(Axis.Both)).ordered),
    "q04_subtotals" -> ((s, dir) =>
      regionNationOrders(s, dir).addSubtotals(Axis.Rows, Seq(0))
        .addTotals(Axis.Rows).sortTotals().df),
    "q05_agg_rows" -> ((s, dir) =>
      castValuesToDouble(
        pivotQty(s, dir).addAgg("dmean", Axis.Rows, Some("mean"))
          .addAgg("max", Axis.Rows, Some("max"))).ordered),
    // parameterized aggfunc channel (reference *args passthrough,
    // aggregation.py:105-118): quantile margins via exact interpolated
    // percentile — same interpolation as DuckDB quantile_cont
    "q27_quantile_margin" -> ((s, dir) =>
      castValuesToDouble(
        pivotQty(s, dir).addAgg("quantile:0.5", Axis.Rows, Some("p50"))
          .addAgg("quantile:0.25", Axis.Rows, Some("p25"))).ordered),
    "q06_drop_totals" -> ((s, dir) =>
      castValuesToDouble(pivotRevenue(s, dir).addTotals(Axis.Both).dropTotals()).ordered),
    "q07_value_counts" -> ((s, dir) =>
      Pivot.valueCounts(Tables.events(s, dir), "event_type", addPct = true,
          base = 100).ordered),
    // percentages
    "q08_pct_rowwise" -> ((s, dir) =>
      castValuesToDouble(pivotRevenue(s, dir).addTotals(Axis.Both))
        .asPercentages(Axis.Cols, base = 100).ordered),
    "q09_pct_colwise" -> ((s, dir) =>
      castValuesToDouble(pivotRevenue(s, dir).addTotals(Axis.Both))
        .asPercentages(Axis.Rows, base = 100).ordered),
    "q10_pct_grand" -> ((s, dir) =>
      castValuesToDouble(pivotRevenue(s, dir).addTotals(Axis.Both))
        .asPercentages(Axis.Both, base = 100).ordered),
    // q10 THROUGH a writeTable→readTable round-trip (VERDICT r2 #3): the
    // margin table is persisted to parquet with its TableMeta in field
    // metadata and rebuilt before the percentage view. The oracle is q10's —
    // identical output is only possible if margin tracking (the grand-total
    // lookup) and the column set survive the round-trip.
    "q47_meta_roundtrip" -> { (s, dir) =>
      val path = scratchDir + "/q47"
      graft.sources.IO.writeTable(
        castValuesToDouble(pivotRevenue(s, dir).addTotals(Axis.Both)), path)
      graft.sources.IO.readTable(s, path).asPercentages(Axis.Both, base = 100).ordered
    },
    "q11_add_pct" -> ((s, dir) =>
      castValuesToDouble(pivotRevenue(s, dir).addTotals(Axis.Rows))
        .addPercentages(Axis.Rows, base = 100).ordered),
    "q12_apportioned" -> ((s, dir) =>
      castValuesToDouble(pivotRevenue(s, dir).addTotals(Axis.Both))
        .asPercentages(Axis.Cols, ndigits = 1, base = 100,
          apportioned = Some(true)).ordered),
    // DEFAULT base (reference parity: base = 1 → fractions,
    // config.defaults.json:18) on a HIERARCHICAL index with apportioned
    // rounding — pins both the config default and the reference's GLOBAL
    // column-wise cumsum down canonical order on a multi-level table (the
    // partitioned per-group variant is opt-in precisely because it diverges
    // here)
    "q48_pct_base_default" -> ((s, dir) =>
      regionNationOrders(s, dir).addTotals(Axis.Rows)
        .asPercentages(Axis.Rows, ndigits = 3, apportioned = Some(true)).ordered),
    // shaping
    "q13_sort_from_list" -> ((s, dir) =>
      Shaping.sortIndexFromList(
        Pivot.groupAgg(read(s, dir, "lineitem"), Seq("l_returnflag"),
          count(lit(1)).as("n")), Seq("R", "A")).df),
    "q14_add_level" -> ((s, dir) =>
      castValuesToDouble(pivotRevenue(s, dir).addLevel("lineitem", 0, Some("src"))).ordered),
    "q15_offset_date" -> { (s, dir) =>
      val o = read(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .withColumn("o_date", to_date(col("o_orderdate")))
      val shifted = Shaping.offsetDateField(o, "o_date", "o_year")
        .withColumn("month_start", trunc(col("o_date"), "month"))
      Pivot.groupAgg(shifted, Seq("o_year", "month_start"), count(lit(1)).as("n")).ordered
    },
    // margins-at-scan: totals/subtotals fused into the pivot's own
    // scan+shuffle via ROLLUP — the 100 TB formulation (one pass, vs the
    // layered union path that re-aggregates per margin)
    "q16_margins_at_scan" -> ((s, dir) =>
      castValuesToDouble(
        Pivot.pivotWithMargins(read(s, dir, "lineitem"), Seq("l_returnflag"),
          "l_linestatus", dec2("l_extendedprice"), Seq("F", "O"))).ordered),
    "q25_fused_subtotals" -> { (s, dir) =>
      val o = read(s, dir, "orders")
      val c = read(s, dir, "customer")
      val n = read(s, dir, "nation")
      val r = read(s, dir, "region")
      val j = o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
      Pivot.groupAggWithMargins(j, Seq("r_name", "n_name"),
        Seq(count(lit(1)).as("n_orders"))).ordered
    },
    // statistical aggregate breadth with cross-engine-exact formulations:
    // mean/variance derived from exact decimal sums, so the doubles are
    // bit-identical regardless of accumulation order
    "q26_stats" -> { (s, dir) =>
      val li = read(s, dir, "lineitem")
      val xd = dec2("l_quantity")
      val n = count(col("l_quantity"))
      val s1 = sum(xd).cast("double")
      val s2 = sum(xd * xd).cast("double")
      Pivot.groupAgg(li, Seq("l_returnflag"),
        s1.as("sum_qty"),
        (s1 / n).as("mean_qty"),
        ((s2 - s1 * s1 / n) / (n - 1)).as("var_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        count_distinct(col("l_orderkey")).as("n_orders")
      ).ordered
    },
    // classic relational coverage (Spark built-ins exposed through the engine)
    "q17_join_revenue" -> { (s, dir) =>
      val li = read(s, dir, "lineitem")
      val o = read(s, dir, "orders")
      val c = read(s, dir, "customer")
      val j = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
      val one = lit(1).cast(DecimalType(18, 4))
      Pivot.groupAgg(j, Seq("c_mktsegment"),
        sum(dec2("l_extendedprice") * (one - col("l_discount").cast(DecimalType(18, 4))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items")).ordered
    },
    "q18_window_topk" -> { (s, dir) =>
      val o = read(s, dir, "orders")
      val c = read(s, dir, "customer")
      val j = o.join(c, o("o_custkey") === c("c_custkey"))
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      j.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("c_mktsegment"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .presentBy(col("c_mktsegment"), col("rn"))
    },
    "q19_rollup" -> { (s, dir) =>
      read(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          grouping(col("l_returnflag")).as("g1"), grouping(col("l_linestatus")).as("g2"))
        .select(
          when(col("g1") === 1, "All").otherwise(col("l_returnflag")).as("l_returnflag"),
          when(col("g2") === 1, "All").otherwise(col("l_linestatus")).as("l_linestatus"),
          col("n"))
        .presentBy(col("l_returnflag"), col("l_linestatus"))
    },
    "q20_setops" -> { (s, dir) =>
      val o = read(s, dir, "orders")
      def custs(status: String) =
        o.filter(col("o_orderstatus") === status).select(col("o_custkey"))
      custs("O").except(custs("P"))
        .intersect(custs("F"))
        .presentBy(col("o_custkey"))
    },
    "q21_scalar_funcs" -> { (s, dir) =>
      read(s, dir, "part").select(
        col("p_partkey"),
        upper(substring(col("p_name"), 1, 8)).as("uname"),
        length(col("p_name")).as("name_len"),
        concat_ws("/", col("p_brand"), col("p_type")).as("bt"),
        (col("p_size") % 7).as("szmod"),
        sqrt(col("p_retailprice")).as("sq")
      ).presentBy(col("p_partkey"))
    },
    "q22_topk" -> ((s, dir) =>
      read(s, dir, "part")
        .orderBy(col("p_retailprice").desc, col("p_partkey")).limit(10)
        .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
        .presentBy(col("p_retailprice").desc, col("p_partkey"))),
    "q23_tumbling_window" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("event_type"), col("n"), col("sum_value"))
        .presentBy(col("hour_start"), col("event_type"))
    },
    "q24_sessionize" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val prev = lag(col("ts"), 1).over(w)
      ev.withColumn("new_s",
          when(prev.isNull || (col("ts").cast("long") - prev.cast("long")) > 1800, 1)
            .otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("new_s")).as("n_sessions"), count(lit(1)).as("n_events"))
        .presentBy(col("user_id"))
    }
  )

  // ---- oracle SQL (DuckDB dialect, same parquet tables) ------------------

  private val pivotG =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN l_linestatus='F' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS F,
      |  CAST(SUM(CASE WHEN l_linestatus='O' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS O
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  private val pivotGS =
    """SELECT COALESCE(l_returnflag,'Totals') AS l_returnflag,
      |  CAST(SUM(CASE WHEN l_linestatus='F' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS F,
      |  CAST(SUM(CASE WHEN l_linestatus='O' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS O
      |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag),())""".stripMargin

  /** grouping-sets pivot + row-wise Totals column (mirrors q03's table). */
  private val q03G =
    s"""WITH g AS ($pivotGS)
       |SELECT l_returnflag, F, O, COALESCE(F,0)+COALESCE(O,0) AS Totals FROM g""".stripMargin

  val oracle: Map[String, String] = Map(
    "q01_pivot" -> s"""WITH g AS ($pivotG) SELECT * FROM g ORDER BY l_returnflag""",
    "q02_totals_row" ->
      s"""WITH g AS ($pivotGS)
         |SELECT * FROM g ORDER BY (l_returnflag='Totals'), l_returnflag""".stripMargin,
    "q03_totals_both" ->
      s"""WITH g AS ($q03G)
         |SELECT * FROM g ORDER BY (l_returnflag='Totals'), l_returnflag""".stripMargin,
    "q04_subtotals" ->
      """WITH g AS (
        |  SELECT CASE WHEN GROUPING(r_name)=1 THEN 'Totals' ELSE r_name END AS r_name,
        |         CASE WHEN GROUPING(r_name)=1 THEN ''
        |              WHEN GROUPING(n_name)=1 THEN 'Subtotals' ELSE n_name END AS n_name,
        |         CAST(COUNT(*) AS BIGINT) AS n_orders
        |  FROM orders JOIN customer ON o_custkey=c_custkey
        |       JOIN nation ON c_nationkey=n_nationkey
        |       JOIN region ON n_regionkey=r_regionkey
        |  GROUP BY GROUPING SETS ((r_name,n_name),(r_name),()))
        |SELECT * FROM g
        |ORDER BY (r_name='Totals'), r_name, (n_name='Subtotals'), n_name""".stripMargin,
    "q05_agg_rows" ->
      """WITH p AS (
        |  SELECT l_returnflag,
        |    SUM(CASE WHEN l_linestatus='F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS F,
        |    SUM(CASE WHEN l_linestatus='O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS O
        |  FROM lineitem GROUP BY l_returnflag),
        |base AS (SELECT l_returnflag, CAST(F AS DOUBLE) AS F, CAST(O AS DOUBLE) AS O, 0 AS mr FROM p),
        |m AS (SELECT 'mean' AS l_returnflag,
        |        CAST(SUM(CAST(F AS DECIMAL(18,2))) AS DOUBLE)/COUNT(F) AS F,
        |        CAST(SUM(CAST(O AS DECIMAL(18,2))) AS DOUBLE)/COUNT(O) AS O, 1 AS mr FROM p),
        |x AS (SELECT 'max' AS l_returnflag, MAX(CAST(F AS DOUBLE)) AS F,
        |        MAX(CAST(O AS DOUBLE)) AS O, 2 AS mr FROM p)
        |SELECT l_returnflag, F, O
        |FROM (SELECT * FROM base UNION ALL SELECT * FROM m UNION ALL SELECT * FROM x)
        |ORDER BY mr, l_returnflag""".stripMargin,
    "q27_quantile_margin" ->
      """WITH p AS (
        |  SELECT l_returnflag,
        |    SUM(CASE WHEN l_linestatus='F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS F,
        |    SUM(CASE WHEN l_linestatus='O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS O
        |  FROM lineitem GROUP BY l_returnflag),
        |base AS (SELECT l_returnflag, CAST(F AS DOUBLE) AS F, CAST(O AS DOUBLE) AS O, 0 AS mr FROM p),
        |m1 AS (SELECT 'p50' AS l_returnflag,
        |         quantile_cont(CAST(F AS DOUBLE), 0.5) AS F,
        |         quantile_cont(CAST(O AS DOUBLE), 0.5) AS O, 1 AS mr FROM p),
        |m2 AS (SELECT 'p25' AS l_returnflag,
        |         quantile_cont(CAST(F AS DOUBLE), 0.25) AS F,
        |         quantile_cont(CAST(O AS DOUBLE), 0.25) AS O, 2 AS mr FROM p)
        |SELECT l_returnflag, F, O
        |FROM (SELECT * FROM base UNION ALL SELECT * FROM m1 UNION ALL SELECT * FROM m2)
        |ORDER BY mr, l_returnflag""".stripMargin,
    "q06_drop_totals" ->
      s"""WITH g AS ($pivotG)
         |SELECT l_returnflag, F, O, COALESCE(F,0)+COALESCE(O,0) AS Totals
         |FROM g ORDER BY l_returnflag""".stripMargin,
    "q07_value_counts" ->
      """WITH c AS (SELECT COALESCE(event_type,'<NA>') AS event_type,
        |                  CAST(COUNT(*) AS BIGINT) AS count FROM events GROUP BY 1),
        |u AS (SELECT event_type, count FROM c
        |      UNION ALL SELECT 'Totals', CAST(SUM(count) AS BIGINT) FROM c),
        |t AS (SELECT CAST(SUM(count) AS BIGINT) AS tot FROM c)
        |SELECT u.event_type, u.count,
        |       (CAST(u.count AS DOUBLE)/CAST(t.tot AS DOUBLE))*100 AS pct__count
        |FROM u, t
        |ORDER BY (u.event_type='Totals'), u.count DESC, u.event_type""".stripMargin,
    "q08_pct_rowwise" ->
      s"""WITH g AS ($q03G)
         |SELECT l_returnflag,
         |  (CAST(F AS DOUBLE)/CAST(Totals AS DOUBLE))*100 AS F,
         |  (CAST(O AS DOUBLE)/CAST(Totals AS DOUBLE))*100 AS O,
         |  (CAST(Totals AS DOUBLE)/CAST(Totals AS DOUBLE))*100 AS Totals
         |FROM g ORDER BY (l_returnflag='Totals'), l_returnflag""".stripMargin,
    "q09_pct_colwise" ->
      s"""WITH g AS ($q03G),
         |tr AS (SELECT F AS tF, O AS tO, Totals AS tT FROM g WHERE l_returnflag='Totals')
         |SELECT g.l_returnflag,
         |  (CAST(g.F AS DOUBLE)/CAST(tr.tF AS DOUBLE))*100 AS F,
         |  (CAST(g.O AS DOUBLE)/CAST(tr.tO AS DOUBLE))*100 AS O,
         |  (CAST(g.Totals AS DOUBLE)/CAST(tr.tT AS DOUBLE))*100 AS Totals
         |FROM g, tr ORDER BY (g.l_returnflag='Totals'), g.l_returnflag""".stripMargin,
    "q10_pct_grand" ->
      s"""WITH g AS ($q03G),
         |tr AS (SELECT Totals AS grand FROM g WHERE l_returnflag='Totals')
         |SELECT g.l_returnflag,
         |  (CAST(g.F AS DOUBLE)/CAST(tr.grand AS DOUBLE))*100 AS F,
         |  (CAST(g.O AS DOUBLE)/CAST(tr.grand AS DOUBLE))*100 AS O,
         |  (CAST(g.Totals AS DOUBLE)/CAST(tr.grand AS DOUBLE))*100 AS Totals
         |FROM g, tr ORDER BY (g.l_returnflag='Totals'), g.l_returnflag""".stripMargin,
    // round-trip is an identity on the data: q10's oracle binds iff the
    // persisted metadata reconstructs the same margin-aware percentage view
    "q47_meta_roundtrip" ->
      s"""WITH g AS ($q03G),
         |tr AS (SELECT Totals AS grand FROM g WHERE l_returnflag='Totals')
         |SELECT g.l_returnflag,
         |  (CAST(g.F AS DOUBLE)/CAST(tr.grand AS DOUBLE))*100 AS F,
         |  (CAST(g.O AS DOUBLE)/CAST(tr.grand AS DOUBLE))*100 AS O,
         |  (CAST(g.Totals AS DOUBLE)/CAST(tr.grand AS DOUBLE))*100 AS Totals
         |FROM g, tr ORDER BY (g.l_returnflag='Totals'), g.l_returnflag""".stripMargin,
    "q11_add_pct" ->
      s"""WITH g AS ($pivotGS),
         |tr AS (SELECT F AS tF, O AS tO FROM g WHERE l_returnflag='Totals')
         |SELECT g.l_returnflag, g.F, g.O,
         |  (CAST(g.F AS DOUBLE)/CAST(tr.tF AS DOUBLE))*100 AS pct__F,
         |  (CAST(g.O AS DOUBLE)/CAST(tr.tO AS DOUBLE))*100 AS pct__O
         |FROM g, tr ORDER BY (g.l_returnflag='Totals'), g.l_returnflag""".stripMargin,
    "q12_apportioned" ->
      s"""WITH g AS ($q03G),
         |p AS (SELECT l_returnflag,
         |  (CAST(F AS DOUBLE)/CAST(Totals AS DOUBLE))*100 AS F,
         |  (CAST(O AS DOUBLE)/CAST(Totals AS DOUBLE))*100 AS O,
         |  (CAST(Totals AS DOUBLE)/CAST(Totals AS DOUBLE))*100 AS Totals,
         |  (l_returnflag='Totals') AS is_tot FROM g)
         |SELECT l_returnflag,
         |  ROUND(SUM(F) OVER w,1) - COALESCE(ROUND(SUM(F) OVER wp,1),0) AS F,
         |  ROUND(SUM(O) OVER w,1) - COALESCE(ROUND(SUM(O) OVER wp,1),0) AS O,
         |  ROUND(SUM(Totals) OVER w,1) - COALESCE(ROUND(SUM(Totals) OVER wp,1),0) AS Totals
         |FROM p
         |WINDOW w AS (ORDER BY is_tot, l_returnflag ROWS UNBOUNDED PRECEDING),
         |       wp AS (ORDER BY is_tot, l_returnflag
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |ORDER BY is_tot, l_returnflag""".stripMargin,
    // fractions (base=1) apportioned at 3 dp via the global cumsum over
    // canonical order (data rows by (r_name, n_name), Totals row last); the
    // denominator is the column-totals row = the grand count
    "q48_pct_base_default" ->
      """WITH g AS (
        |  SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM orders JOIN customer ON o_custkey=c_custkey
        |       JOIN nation ON c_nationkey=n_nationkey
        |       JOIN region ON n_regionkey=r_regionkey
        |  GROUP BY r_name, n_name),
        |u AS (SELECT r_name, n_name, n, 0 AS mr FROM g
        |      UNION ALL SELECT 'Totals', '', SUM(n), 1 FROM g),
        |t AS (SELECT CAST(SUM(n) AS DOUBLE) AS tot FROM g),
        |p AS (SELECT r_name, n_name, CAST(n AS DOUBLE)/t.tot AS v, mr FROM u, t)
        |SELECT r_name, n_name,
        |  ROUND(SUM(v) OVER w,3) - COALESCE(ROUND(SUM(v) OVER wp,3),0) AS n_orders
        |FROM p
        |WINDOW w AS (ORDER BY mr, r_name, n_name ROWS UNBOUNDED PRECEDING),
        |       wp AS (ORDER BY mr, r_name, n_name
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |ORDER BY mr, r_name, n_name""".stripMargin,
    "q13_sort_from_list" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem GROUP BY 1
        |ORDER BY CASE l_returnflag WHEN 'R' THEN 1 WHEN 'A' THEN 2
        |         ELSE 9223372036854775807 END, l_returnflag""".stripMargin,
    "q14_add_level" ->
      s"""WITH g AS ($pivotG)
         |SELECT 'lineitem' AS src, l_returnflag, F, O FROM g ORDER BY l_returnflag""".stripMargin,
    "q15_offset_date" ->
      """WITH m AS (SELECT MAX(year(o_orderdate)) AS maxy FROM orders)
        |SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(date_trunc('month', CAST(o_orderdate AS DATE)
        |       + to_months(CAST(12*(maxy - year(o_orderdate)) AS INT))) AS DATE) AS month_start,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM orders, m GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q16_margins_at_scan" ->
      """WITH g AS (
        |  SELECT CASE WHEN GROUPING(l_returnflag)=1 THEN 'Totals' ELSE l_returnflag END AS l_returnflag,
        |    SUM(CASE WHEN l_linestatus='F' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS F,
        |    SUM(CASE WHEN l_linestatus='O' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS O
        |  FROM lineitem GROUP BY ROLLUP(l_returnflag))
        |SELECT l_returnflag, CAST(F AS DOUBLE) AS F, CAST(O AS DOUBLE) AS O,
        |  CAST(COALESCE(F,0)+COALESCE(O,0) AS DOUBLE) AS Totals
        |FROM g ORDER BY (l_returnflag='Totals'), l_returnflag""".stripMargin,
    // identical result to q04 (layered path) — the oracle is shared
    "q25_fused_subtotals" ->
      """WITH g AS (
        |  SELECT CASE WHEN GROUPING(r_name)=1 THEN 'Totals' ELSE r_name END AS r_name,
        |         CASE WHEN GROUPING(r_name)=1 THEN ''
        |              WHEN GROUPING(n_name)=1 THEN 'Subtotals' ELSE n_name END AS n_name,
        |         CAST(COUNT(*) AS BIGINT) AS n_orders
        |  FROM orders JOIN customer ON o_custkey=c_custkey
        |       JOIN nation ON c_nationkey=n_nationkey
        |       JOIN region ON n_regionkey=r_regionkey
        |  GROUP BY GROUPING SETS ((r_name,n_name),(r_name),()))
        |SELECT * FROM g
        |ORDER BY (r_name='Totals'), r_name, (n_name='Subtotals'), n_name""".stripMargin,
    "q26_stats" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/COUNT(l_quantity) AS mean_qty,
        |  (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))*CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |     * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/COUNT(l_quantity))
        |   /(COUNT(l_quantity)-1) AS var_qty,
        |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q17_join_revenue" ->
      """SELECT c_mktsegment,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |       (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey=o_orderkey
        |     JOIN customer ON o_custkey=c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q18_window_topk" ->
      """SELECT c_mktsegment, CAST(rn AS INT) AS rn, o_orderkey, o_totalprice FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders JOIN customer ON o_custkey=c_custkey) t
        |WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin,
    "q19_rollup" ->
      """WITH g AS (
        |  SELECT CASE WHEN GROUPING(l_returnflag)=1 THEN 'All' ELSE l_returnflag END AS l_returnflag,
        |         CASE WHEN GROUPING(l_linestatus)=1 THEN 'All' ELSE l_linestatus END AS l_linestatus,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus))
        |SELECT * FROM g ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q20_setops" ->
      """WITH s AS (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus='O'
        |  EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus='P')
        |SELECT o_custkey FROM s
        |INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus='F'
        |ORDER BY o_custkey""".stripMargin,
    "q21_scalar_funcs" ->
      """SELECT p_partkey, upper(substr(p_name,1,8)) AS uname,
        |  CAST(length(p_name) AS INT) AS name_len,
        |  concat_ws('/', p_brand, p_type) AS bt,
        |  p_size % 7 AS szmod, sqrt(p_retailprice) AS sq
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q22_topk" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |ORDER BY p_retailprice DESC, p_partkey LIMIT 10""".stripMargin,
    "q23_tumbling_window" ->
      """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q24_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |s AS (SELECT user_id,
        |        CASE WHEN lag(ts) OVER w IS NULL
        |             OR (CAST(floor(epoch(ts)) AS BIGINT)
        |                 - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT)) > 1800
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions,
        |       CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}

package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.transforms.{Aggregation, Percentages, Shaping, Totals}

/** The engine's central abstraction: a Spark DataFrame plus the [[TableMeta]]
  * that records index levels, column hierarchy, and margin labels — the lazy,
  * distributed re-expression of the reference's labeled pandas DataFrame with
  * `attrs['flatbread']` side-channel (SURVEY.md §1.3). Every operation returns
  * a new FlatTable whose `df` is an unexecuted Catalyst plan; nothing runs
  * until an action.
  *
  * Row order: Spark's relational model has no insertion order, so the engine
  * defines a *canonical order* — index levels sorted ascending with margin
  * rows pinned after the data rows of their group, in margin-introduction
  * order (the reference preserves physical append order, aggregation.py:205-208;
  * canonical order is the deterministic, shuffle-safe equivalent).
  */
final case class FlatTable(df: DataFrame, meta: TableMeta) {

  def spark: SparkSession = df.sparkSession

  // ---- predicates -------------------------------------------------------

  def isMargin(extraIgnore: Seq[String] = Nil): Column = MarginMask.isMargin(meta, extraIgnore)
  def isData(extraIgnore: Seq[String] = Nil): Column = MarginMask.isData(meta, extraIgnore)

  /** Data rows only (margins removed). */
  def dataRows(extraIgnore: Seq[String] = Nil): DataFrame = df.filter(isData(extraIgnore))

  /** `df` with the upstream plan persisted at its first action (lazy —
    * nothing runs at construction, preserving the class contract above).
    * Margin transforms FORK the table into (base, aggregate-over-base)
    * branches, and without a materialization point every branch
    * re-executes the entire upstream pipeline — q05's two-margin chain
    * scanned lineitem three times (one full scan + pivot per branch). A
    * FlatTable is a DISPLAY table, result-sized by construction, so the
    * persisted blocks are bounded however large the source corpus: at
    * 100 TB this turns an N-margin chain from N+1 full corpus scans into
    * ONE scan plus N reads of a pivot-sized block.
    *
    * `localCheckpoint(eager = false)`, NOT `Dataset.persist`: persist
    * registers the plan in the session CacheManager, which silently
    * serves EVERY later identical sub-plan session-wide — surprising
    * memory/staleness semantics for an implicit internal device (and it
    * let a benchmark's timed run serve its own warmup's cache, measured
    * and rejected in r16). The checkpoint's known trade is executor-local
    * blocks: on a real cluster a lost executor fails the one presentation
    * query, which re-runs — the executor-local checkpoint posture, and
    * display-layer queries are the cheapest in the engine to retry. Lazy
    * per-instance cache, so back-to-back margin ops on the same table
    * share one materialization; blocks are freed by the ContextCleaner
    * when the table is garbage-collected — and chained margin ops
    * checkpoint each intermediate, so a LONG-LIVED interactive session
    * building many display tables accumulates executor-local blocks
    * until the GC runs. [[releaseForked]] is the explicit path for such
    * sessions: call it when a table (and everything derived from its
    * margins) is done being read. */
  @transient @volatile private var forkedCreated = false
  @transient lazy val forked: DataFrame = {
    forkedCreated = true
    df.localCheckpoint(eager = false)
  }

  /** Explicitly free [[forked]]'s executor-local checkpoint blocks
    * without waiting for the ContextCleaner (the long-interactive-session
    * memory profile; a no-op when the fork was never materialized).
    * IRREVERSIBLE for this instance: a local checkpoint truncates
    * lineage, so a later action on a DataFrame derived from [[forked]]
    * cannot recompute the freed blocks — release only when done reading
    * the table and its margin descendants. */
  def releaseForked(blocking: Boolean = false): Unit =
    if (forkedCreated) {
      forked.queryExecution.analyzed.foreach {
        case r: org.apache.spark.sql.execution.LogicalRDD =>
          r.rdd.unpersist(blocking); ()
        case _ => ()
      }
    }

  /** The rendered rows: the first `maxRows` rows of [[ordered]], collected
    * once per instance and shared by every display sink (the JSON spec, the
    * HTML fragment that embeds it, and the xlsx writer), so one report runs
    * the pivot plan once instead of once per sink. A rendered table is a
    * SNAPSHOT, like the eager pandas frame it mirrors: a later render of
    * this instance does not see changes to the source data — re-rendering
    * those needs a new FlatTable (every transform and `copy` returns one,
    * with no snapshot).
    *
    * Reuse rule: a snapshot collected with limit `L` answers a request for
    * `n` rows when `n <= L` (its first `n` rows), or when it holds fewer
    * than `L` rows (it is then the whole table). Any larger request
    * collects again and replaces it, so the driver keeps at most the
    * largest `maxRows` requested so far (the xlsx sink defaults to 100000)
    * for as long as the instance lives. Same posture as [[forked]]:
    * per instance, never entered in the session CacheManager; concurrent
    * renders of one instance wait for the one collect. */
  @transient private[this] var snapshot: (Int, Array[Row]) = _

  private[graft] def presented(maxRows: Int): Array[Row] = synchronized {
    val reusable = snapshot != null &&
      (maxRows <= snapshot._1 || snapshot._2.length < snapshot._1)
    if (!reusable) snapshot = (maxRows, ordered.limit(maxRows).collect())
    snapshot._2.take(maxRows)
  }

  // ---- canonical ordering ----------------------------------------------

  /** Sort keys implementing canonical order: per level, (is-margin, margin
    * introduction rank, value). A margin label at level k sorts after all data
    * values of its parent group but inside that group — exactly where the
    * reference physically places subtotal rows.
    */
  def canonicalSortKeys(marginsLast: Boolean = true): Seq[Column] =
    if (meta.marginLabelSeq.isEmpty) meta.indexLevels.map(col)
    else meta.indexLevels.flatMap { l =>
      // NB: keys must never be bare integer literals (Spark would read them
      // as ORDER BY ordinals); when/case expressions are safe.
      val rank = MarginMask.marginRank(meta, l)
      val flag = when(rank >= 0, lit(if (marginsLast) 1 else -1)).otherwise(lit(0))
      Seq(flag, rank, col(l))
    }

  /** The table in canonical order with columns in metadata order. A
    * [[TableMeta.rowOrder]] (e.g. value_counts' count-descending contract)
    * overrides the index sort for data rows; margin rows stay pinned last in
    * introduction order either way. */
  def ordered: DataFrame = {
    val cols = (meta.indexLevels ++ meta.valueCols).map(col)
    val keys =
      if (meta.rowOrder.isEmpty) canonicalSortKeys()
      else {
        val marginFlag = when(isMargin(), lit(1)).otherwise(lit(0))
        val explicit = meta.rowOrder.map(k =>
          if (k.ascending) col(k.column).asc else col(k.column).desc)
        (marginFlag +: explicit) ++ meta.indexLevels.map(col)
      }
    // single-partition sort, not `orderBy`: a FlatTable is a DISPLAY table
    // (pivoted, margin-bearing — result-sized by construction), and the
    // one-task sort gives the same total order without the
    // RangePartitioner's boundary-sampling job (see Tables.PresentBy).
    df.repartition(1).sortWithinPartitions(keys: _*).select(cols: _*)
  }

  // ---- fluent operator surface (delegates to transforms) ----------------

  def addAgg(aggfunc: String, axis: Axis = Axis.Rows, label: Option[String] = None,
             ignoreKeys: Seq[String] = Nil, fill: String = ""): FlatTable =
    Aggregation.addAgg(this, aggfunc, axis, label, ignoreKeys, fill)

  def addSubagg(aggfunc: String, level: Level = 0, label: Option[String] = None,
                includeLevelName: Boolean = false, ignoreKeys: Seq[String] = Nil,
                skipSingleRows: Boolean = true, fill: String = ""): FlatTable =
    Aggregation.addSubagg(this, aggfunc, level, label, includeLevelName, ignoreKeys,
      skipSingleRows, fill)

  def addTotals(axis: Axis = Axis.Both, label: String = Defaults.labelTotals,
                ignoreKeys: Seq[String] = Nil, fill: String = ""): FlatTable =
    Totals.addTotals(this, axis, label, ignoreKeys, fill)

  def addSubtotals(axis: Axis = Axis.Rows, levels: Seq[Level] = Seq(0),
                   label: String = Defaults.labelSubtotals, includeLevelName: Boolean = false,
                   ignoreKeys: Seq[String] = Nil, skipSingleRows: Boolean = true,
                   fill: String = ""): FlatTable =
    Totals.addSubtotals(this, axis, levels, label, includeLevelName, ignoreKeys,
      skipSingleRows, fill)

  def dropTotals(ignoreKeys: Seq[String] = Nil): FlatTable =
    Totals.dropTotals(this, ignoreKeys)

  def asPercentages(axis: Axis = Axis.Both, labelTotals: Option[String] = None,
                    ignoreKeys: Seq[String] = Nil, ndigits: Int = -1, base: Int = Defaults.base,
                    apportioned: Option[Boolean] = None): FlatTable =
    Percentages.asPercentages(this, axis, labelTotals, ignoreKeys, ndigits, base, apportioned)

  def addPercentages(axis: Axis = Axis.Both, labelN: String = Defaults.labelN,
                     labelPct: String = Defaults.labelPct, labelTotals: Option[String] = None,
                     ignoreKeys: Seq[String] = Nil, ndigits: Int = -1, base: Int = Defaults.base,
                     interleaf: Boolean = false,
                     apportioned: Option[Boolean] = None): FlatTable =
    Percentages.addPercentages(this, axis, labelN, labelPct, labelTotals, ignoreKeys,
      ndigits, base, interleaf, apportioned)

  def sortTotals(axis: Axis = Axis.Rows, aggregatesLast: Boolean = true,
                 level: Option[Level] = None, sortRemaining: Boolean = true): FlatTable =
    Shaping.sortAggregates(this, axis, meta.labelsOf("totals", "subtotals"),
      aggregatesLast, level, sortRemaining)

  def sortAggregates(axis: Axis = Axis.Rows, labels: Seq[String] = Nil,
                     aggregatesLast: Boolean = true, level: Option[Level] = None,
                     sortRemaining: Boolean = true): FlatTable =
    Shaping.sortAggregates(this, axis,
      if (labels.nonEmpty) labels else meta.marginLabelSeq, aggregatesLast,
      level, sortRemaining)

  def addLevel(value: Any, level: Int = 0, levelName: Option[String] = None,
               axis: Axis = Axis.Rows): FlatTable =
    Shaping.addLevel(this, value, level, levelName, axis)

  /** Positional per-row (resp. per-column) level values (reference
    * `add_level(value=list)`). */
  def addLevelValues(values: Seq[Any], level: Int = 0,
                     levelName: Option[String] = None,
                     axis: Axis = Axis.Rows): FlatTable =
    Shaping.addLevelValues(this, values, level, levelName, axis)

  /** Align this table's column order to another table's (reference
    * `reindex_by_levels`, tooling.py:121-156). */
  def reindexByLevels(reference: FlatTable, nLevels: Option[Int] = None): FlatTable =
    Shaping.reindexByLevels(this, reference, nLevels)

  /** Fluent display surface (reference `PitaDisplayMixin`,
    * display.py:139-310): chainable setters + spec/HTML terminals. */
  def display: graft.output.Display = graft.output.Display(this)
}

object FlatTable {

  /** Wrap an arbitrary DataFrame: the first `nIndexLevels` columns become the
    * row index; every remaining column is a flat value column. */
  def apply(df: DataFrame, nIndexLevels: Int): FlatTable = {
    val names = df.columns.toSeq
    val (idx, vals) = names.splitAt(nIndexLevels)
    FlatTable(df, TableMeta(idx, vals.map(c => ColKey(c, Seq(c)))))
  }

  /** Wrap with explicit index level names; remaining columns become values. */
  def apply(df: DataFrame, indexLevels: Seq[String]): FlatTable = {
    val vals = df.columns.toSeq.filterNot(indexLevels.contains)
    FlatTable(df, TableMeta(indexLevels, vals.map(c => ColKey(c, Seq(c)))))
  }
}

/** Engine defaults, mirroring config.defaults.json:2-26 of the reference;
  * overridable via [[graft.config.FlatbreadConf]]. */
object Defaults {
  def conf = graft.config.FlatbreadConf.current
  def labelTotals: String = conf.labelTotals
  def labelSubtotals: String = conf.labelSubtotals
  def labelN: String = conf.labelN
  def labelPct: String = conf.labelPct
  def labelDiff: String = conf.labelDiff
  def naRep: String = conf.naRep
  /** Percentage base — 1 (fractions) for reference parity; see
    * [[graft.config.FlatbreadConf.pctBase]]. */
  def base: Int = conf.pctBase
}

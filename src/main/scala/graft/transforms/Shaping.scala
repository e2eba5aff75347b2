package graft.transforms

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core._
import graft.funcs.AggFuncs

/** Index/column shaping: margin-aware sorting, level insertion, explicit-order
  * sorting, column-axis subtotals, and the date-offset helper.
  * Reference: axes.py:58-368, tooling.py:76-156.
  */
object Shaping {

  /** Margin-aware sort (reference `sort_aggregates`/`sort_totals`,
    * axes.py:58-206): pins the given margin labels after (or before) the data
    * rows *within each group*; data rows sort by value (the deterministic
    * equivalent of the reference's first-appearance order, which has no
    * meaning in Spark's relational model — see FlatTable doc).
    *
    * @param level when set, only that level drives the sort (reference
    *              `level=` param); `None` sorts all levels outer→inner
    * @param sortRemaining with a `level` set, whether the other levels sort
    *                      too (after the chosen level) or are left untouched
    *                      (reference `sort_remaining=`, axes.py:127-132)
    */
  def sortAggregates(ft: FlatTable, axis: Axis = Axis.Rows,
                     labels: Seq[String], aggregatesLast: Boolean = true,
                     level: Option[Level] = None,
                     sortRemaining: Boolean = true): FlatTable =
    axis match {
      case Axis.Rows =>
        FlatTable(sortRows(ft, labels, aggregatesLast, level, sortRemaining), ft.meta)
      case Axis.Cols => FlatTable(ft.df, ft.meta.copy(columns =
        sortColumns(ft.meta, labels, aggregatesLast, level, sortRemaining)))
      case Axis.Both =>
        val rowSorted = sortAggregates(ft, Axis.Rows, labels, aggregatesLast,
          level, sortRemaining)
        sortAggregates(rowSorted, Axis.Cols, labels, aggregatesLast, level,
          sortRemaining)
    }

  private def sortRows(ft: FlatTable, labels: Seq[String], last: Boolean,
                       level: Option[Level], sortRemaining: Boolean): DataFrame = {
    val ordered: Seq[String] = level match {
      case None    => ft.meta.indexLevels
      case Some(k) =>
        val chosen = ft.meta.indexLevels(ft.meta.resolveLevel(k))  // Level overload
        if (sortRemaining) chosen +: ft.meta.indexLevels.filterNot(_ == chosen)
        else Seq(chosen)
    }
    if (labels.isEmpty) return ft.df.orderBy(ordered.map(col): _*)
    val keys = ordered.flatMap { l =>
      val rank = labels.zipWithIndex.foldRight(lit(-1): Column) { case ((lab, i), acc) =>
        when(col(l).cast("string").startsWith(lab), lit(i)).otherwise(acc)
      }
      val flag = when(rank >= 0, lit(if (last) 1 else -1)).otherwise(lit(0))
      Seq(flag, rank, col(l))
    }
    ft.df.orderBy(keys: _*)
  }

  /** Column-axis variant: pure metadata reorder, no shuffle. Stable sort on
    * per-level margin flags only, so non-margin columns keep their appearance
    * order (faithful to axes.py:118-125). */
  private def sortColumns(meta: TableMeta, labels: Seq[String], last: Boolean,
                          levelOpt: Option[Level] = None,
                          sortRemaining: Boolean = true): Seq[ColKey] = {
    import scala.math.Ordering.Implicits._
    def flag(part: String): Int =
      if (labels.exists(l => part == l || part.startsWith(l))) (if (last) 1 else -1) else 0
    levelOpt.map {
      case Level.Pos(i) =>
        // negatives count from the end of the COLUMN hierarchy, mirroring
        // TableMeta.resolveLevel on the row axis (axes.py:11-26)
        val n = meta.nColLevels
        val k = if (i < 0) i + n else i
        require(k >= 0 && k < n, s"column level $i out of range for $n levels")
        k
      case Level.Named(n) =>
        // name resolution against the recorded column-level names — the
        // column-axis mirror of TableMeta.resolveLevel(name), matching the
        // reference's int-or-name Level contract on either axis (axes.py:11-26
        // applied to the transposed frame; Pivot records the pivot column's
        // name in TableMeta.colNames)
        val i = meta.colNames.indexWhere(_.contains(n))
        require(i >= 0, s"no column level named '$n' (have " +
          s"${meta.colNames.map(_.getOrElse("<unnamed>")).mkString(", ")})")
        i } match {
      case None    => meta.columns.sortBy(ck => ck.key.map(flag).toList)
      case Some(k) =>
        val levels =
          if (sortRemaining) k +: meta.columns.head.key.indices.filterNot(_ == k)
          else Seq(k)
        meta.columns.sortBy(ck => levels.map(l => ck.key.lift(l).fold(0)(flag)).toList)
    }
  }

  /** Reorder (and prune) one table's columns so each level's value order
    * follows another table's column order (reference `reindex_by_levels`,
    * tooling.py:121-156): for the first `nLevels` levels, target columns sort
    * by the first-appearance rank of their level value in the reference;
    * columns whose value is absent from the reference at a reindexed level
    * are dropped (pandas `reindex` semantics). Extra target levels beyond
    * `nLevels` are left as-is. Pure metadata — no shuffle, no compute. */
  def reindexByLevels(target: FlatTable, reference: FlatTable,
                      nLevels: Option[Int] = None): FlatTable = {
    import scala.math.Ordering.Implicits._
    val maxL = nLevels.getOrElse(reference.meta.nColLevels)
    val orders: Seq[Map[String, Int]] = (0 until maxL).map { l =>
      reference.meta.columns.flatMap(_.key.lift(l)).distinct.zipWithIndex.toMap
    }
    val kept = target.meta.columns.filter { ck =>
      (0 until maxL).forall(l =>
        ck.key.lift(l).forall(v => orders(l).contains(v)))
    }
    val sorted = kept.sortBy(ck =>
      (0 until maxL).map(l => ck.key.lift(l).flatMap(orders(l).get).getOrElse(-1)).toList)
    FlatTable(target.df, target.meta.copy(columns = sorted))
  }

  /** Resolve the reference's insertion-position rule (`add_value_to_key`,
    * axes.py:318-336): non-negative inserts at `level`; -1 appends; other
    * negatives insert at `level + size + 1`. */
  private def insertPos(level: Int, size: Int): Int = {
    val pos =
      if (level >= 0) math.min(level, size)
      else if (level == -1) size
      else level + size + 1
    require(pos >= 0 && pos <= size, s"level $level out of range")
    pos
  }

  /** Insert a constant index/column level (reference `add_level`,
    * axes.py:210-336). Accepts any scalar value — strings, numbers, booleans,
    * dates — typed faithfully on the row axis (the index level column gets
    * the value's native Spark type); column-axis keys are strings, so
    * non-string values are rendered with `toString` there. Row axis adds a
    * literal column; column axis rewrites the column-key metadata only. */
  def addLevel(ft: FlatTable, value: Any, level: Int = 0,
               levelName: Option[String] = None, axis: Axis = Axis.Rows): FlatTable =
    axis match {
      case Axis.Rows =>
        val pos = insertPos(level, ft.meta.nLevels)
        val name = levelName.getOrElse(s"level_$pos")
        require(!ft.df.columns.contains(name), s"column '$name' already exists")
        val (before, after) = ft.meta.indexLevels.splitAt(pos)
        FlatTable(
          ft.df.withColumn(name, lit(value)),
          ft.meta.copy(indexLevels = (before :+ name) ++ after)
        )
      case Axis.Cols =>
        val pos = insertPos(level, ft.meta.nColLevels)
        val cols = ft.meta.columns.map { ck =>
          val (b, a) = ck.key.splitAt(pos)
          ColKey(ck.physical, (b :+ String.valueOf(value)) ++ a)
        }
        val (nb, na) = ft.meta.colNames.splitAt(pos)
        FlatTable(ft.df, ft.meta.copy(columns = cols, colNames = (nb :+ levelName) ++ na))
      case Axis.Both =>
        addLevel(addLevel(ft, value, level, levelName, Axis.Rows), value, level,
          levelName, Axis.Cols)
    }

  /** `add_level` with POSITIONAL values (reference `value: list`,
    * axes.py:252-258): one value per row in canonical order (resp. per
    * column). Row axis ranks rows with a window over the canonical sort keys
    * and joins the (rank → value) lookup — a broadcast join of a tiny
    * driver-side list, only legal on presentation-sized tables (the length
    * must equal the row count, which is validated eagerly like the
    * reference's ValueError — this triggers a count job). */
  def addLevelValues(ft: FlatTable, values: Seq[Any], level: Int = 0,
                     levelName: Option[String] = None,
                     axis: Axis = Axis.Rows): FlatTable =
    axis match {
      case Axis.Rows =>
        val nRows = ft.df.count()
        require(values.size == nRows,
          s"Length of values list (${values.size}) must match length of index ($nRows)")
        val pos = insertPos(level, ft.meta.nLevels)
        val name = levelName.getOrElse(s"level_$pos")
        require(!ft.df.columns.contains(name), s"column '$name' already exists")
        val spark = ft.spark
        val lookupRows = values.zipWithIndex.map { case (v, i) =>
          org.apache.spark.sql.Row(i + 1, v)
        }
        val dt = values.headOption.map {
          case _: String  => org.apache.spark.sql.types.StringType
          case _: Int     => org.apache.spark.sql.types.IntegerType
          case _: Long    => org.apache.spark.sql.types.LongType
          case _: Double  => org.apache.spark.sql.types.DoubleType
          case _: Boolean => org.apache.spark.sql.types.BooleanType
          case other => throw new IllegalArgumentException(
            s"unsupported level value type: ${other.getClass.getSimpleName}")
        }.getOrElse(org.apache.spark.sql.types.StringType)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__fb_rank", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField(name, dt)))
        val lookup = spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(lookupRows).asJava), schema)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(ft.canonicalSortKeys(): _*)
        val ranked = ft.df.withColumn("__fb_rank", row_number().over(w))
        val joined = ranked.join(lookup, Seq("__fb_rank")).drop("__fb_rank")
        val (before, after) = ft.meta.indexLevels.splitAt(pos)
        FlatTable(joined, ft.meta.copy(indexLevels = (before :+ name) ++ after))
      case Axis.Cols =>
        require(values.size == ft.meta.columns.size,
          s"Length of values list (${values.size}) must match " +
            s"length of columns (${ft.meta.columns.size})")
        val pos = insertPos(level, ft.meta.nColLevels)
        val cols = ft.meta.columns.zip(values).map { case (ck, v) =>
          val (b, a) = ck.key.splitAt(pos)
          ColKey(ck.physical, (b :+ String.valueOf(v)) ++ a)
        }
        val (nb, na) = ft.meta.colNames.splitAt(pos)
        FlatTable(ft.df, ft.meta.copy(columns = cols, colNames = (nb :+ levelName) ++ na))
      case Axis.Both =>
        throw new IllegalArgumentException(
          "positional values cannot apply to both axes at once")
    }

  /** Sort rows by an explicit label order on one level (reference
    * `sort_index_from_list`, tooling.py:111-118); labels not in the list sort
    * after, by value. */
  def sortIndexFromList(ft: FlatTable, order: Seq[String], level: Level = 0): FlatTable = {
    val k = ft.meta.resolveLevel(level)
    val lvl = ft.meta.indexLevels(k)
    val pos = array_position(array(order.map(lit): _*), col(lvl).cast("string"))
    val key = when(pos > 0, pos).otherwise(lit(Long.MaxValue))
    val rest = ft.meta.indexLevels.filter(_ != lvl).map(col)
    FlatTable(ft.df.orderBy((Seq(key, col(lvl)) ++ rest): _*), ft.meta)
  }

  /** Column-axis subtotals (reference totals.py axis=1 path): for each group
    * of data columns sharing a key prefix at the given level, append a
    * row-wise sum column placed directly after the group. */
  def addColSubtotals(ft: FlatTable, levels: Seq[Int], label: String,
                      ignoreKeys: Seq[String], fill: String): FlatTable = {
    require(ft.meta.nColLevels > 1,
      "column subtotals require a hierarchical column axis")
    levels.foldLeft(ft)((acc, k) => addColSubtotalLevel(acc, k, label, ignoreKeys, fill))
  }

  private def addColSubtotalLevel(ft: FlatTable, level: Int, label: String,
                                  ignoreKeys: Seq[String], fill: String): FlatTable = {
    val meta = ft.meta
    require(level < meta.nColLevels - 1,
      s"cannot subtotal the innermost column level ($level of ${meta.nColLevels})")
    val dataCols = meta.dataColumns(ignoreKeys).toSet
    // walk columns in order; after the last member of each prefix group,
    // splice in the subtotal column
    val byPrefix = meta.columns.filter(dataCols).groupBy(_.key.take(level + 1))
    val lastOfPrefix: Map[String, Seq[String]] = byPrefix.map { case (p, cks) =>
      cks.last.physical -> p
    }
    var newCols = Vector.empty[ColKey]
    var exprs = Vector.empty[(String, Column)]
    meta.columns.foreach { ck =>
      newCols :+= ck
      lastOfPrefix.get(ck.physical).foreach { prefix =>
        val members = byPrefix(prefix)
        if (members.size > 1) {
          val phys = (prefix :+ label).mkString("__")
          val key = prefix ++ Seq(label) ++
            Seq.fill(meta.nColLevels - prefix.size - 1)(fill)
          newCols :+= ColKey(phys, key)
          exprs :+= phys -> AggFuncs.rowwise("sum", members.map(m => col(m.physical)))
        }
      }
    }
    val df2 = exprs.foldLeft(ft.df) { case (d, (name, e)) => d.withColumn(name, e) }
    FlatTable(df2, meta.copy(columns = newCols).withMargin("subtotals", label))
  }

  /** Shift each year-group's dates so all years align on the latest year's
    * axis (reference `offset_date_field`, tooling.py:76-94). The max year is
    * aggregated once and broadcast — no driver-side collect, scale-safe. */
  def offsetDateField(df: DataFrame, dateField: String, yearField: String): DataFrame = {
    val maxY = df.agg(max(col(yearField)).cast("int").as("__fb_max_year"))
    df.crossJoin(maxY)
      .withColumn(dateField,
        add_months(col(dateField),
          (col("__fb_max_year") - col(yearField).cast("int")) * 12))
      .drop("__fb_max_year")
  }
}

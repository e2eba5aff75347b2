package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Tables.PresentBy
import graft.core._
import graft.pivot.Pivot
import graft.sources.IO
import graft.transforms.Shaping
import graft.perfbench.Trace.span

/** `pivot_report`: eight of the 29 `graft.Queries.all` chains, rebuilt here
  * from the library's public functions so that each call into `pivot`,
  * `transforms` (`core.FlatTable`), `sources` and `output` is its own span.
  * The eight cover the pivot, margin, percentage, shaping and table-I/O
  * functions of the 29 except `addPercentages` and `offsetDateField`;
  * running all 29 (warm pass plus timed pass) takes about 100 s a run,
  * more than the benchmark's run budget.
  * A chain's `data` is exactly the frame the registry entry returns, so
  * the registry's DuckDB oracle SQL checks it unchanged. */
object PivotReport {

  sealed trait Result { def data: DataFrame }
  final case class TableResult(ft: FlatTable, data: DataFrame) extends Result
  final case class FrameResult(data: DataFrame) extends Result

  final class Ctx(val s: SparkSession, val dir: String, val scratch: String) {
    private var n = 0
    def freshPath(tag: String): String = { n += 1; s"$scratch/${tag}_$n" }
  }

  private def pv[T](f: => T): T = span("pivot")(f)
  private def tr[T](f: => T): T = span("transforms")(f)
  private def read(c: Ctx, t: String): DataFrame =
    span("sources.read")(Tables.read(c.s, c.dir, t))
  private def dec2(c: String) = Tables.dec2(c)
  private def dbl(ft: FlatTable): FlatTable = tr(Tables.castValuesToDouble(ft))
  private def table(ft: FlatTable): Result = TableResult(ft, tr(ft.ordered))

  private def pivotRevenue(c: Ctx): FlatTable = {
    val li = read(c, "lineitem")
    pv(Pivot.pivot(li, Seq("l_returnflag"), "l_linestatus",
      sum(dec2("l_extendedprice")), Seq("F", "O")))
  }

  private def pivotQty(c: Ctx): FlatTable = {
    val li = read(c, "lineitem")
    pv(Pivot.pivot(li, Seq("l_returnflag"), "l_linestatus",
      sum(dec2("l_quantity")), Seq("F", "O")))
  }

  private def regionNationOrders(c: Ctx): FlatTable = {
    val o = read(c, "orders")
    val cu = read(c, "customer")
    val n = read(c, "nation")
    val r = read(c, "region")
    val j = o.join(broadcast(cu), o("o_custkey") === cu("c_custkey"))
      .join(broadcast(n), cu("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
    pv(Pivot.groupAgg(j, Seq("r_name", "n_name"), count(lit(1)).as("n_orders")))
  }

  val chains: Seq[(String, Ctx => Result)] = Seq(
    "q04_subtotals" -> { c =>
      val g = regionNationOrders(c)
      val ft = tr(g.addSubtotals(Axis.Rows, Seq(0)).addTotals(Axis.Rows).sortTotals())
      TableResult(ft, ft.df)
    },
    "q05_agg_rows" -> { c =>
      val p = pivotQty(c)
      table(dbl(tr(p.addAgg("dmean", Axis.Rows, Some("mean"))
        .addAgg("max", Axis.Rows, Some("max")))))
    },
    "q07_value_counts" -> { c =>
      val ev = span("sources.read")(Tables.events(c.s, c.dir))
      table(pv(Pivot.valueCounts(ev, "event_type", addPct = true, base = 100)))
    },
    "q47_meta_roundtrip" -> { c =>
      val t = dbl(tr(pivotRevenue(c).addTotals(Axis.Both)))
      val path = c.freshPath("q47")
      span("sources.write")(IO.writeTable(t, path))
      val back = span("sources.read")(IO.readTable(c.s, path))
      table(tr(back.asPercentages(Axis.Both, base = 100)))
    },
    "q12_apportioned" -> { c =>
      val t = dbl(tr(pivotRevenue(c).addTotals(Axis.Both)))
      table(tr(t.asPercentages(Axis.Cols, ndigits = 1, base = 100,
        apportioned = Some(true))))
    },
    "q13_sort_from_list" -> { c =>
      val li = read(c, "lineitem")
      val g = pv(Pivot.groupAgg(li, Seq("l_returnflag"), count(lit(1)).as("n")))
      val ft = tr(Shaping.sortIndexFromList(g, Seq("R", "A")))
      TableResult(ft, ft.df)
    },
    "q16_margins_at_scan" -> { c =>
      val li = read(c, "lineitem")
      table(dbl(pv(Pivot.pivotWithMargins(li, Seq("l_returnflag"),
        "l_linestatus", dec2("l_extendedprice"), Seq("F", "O")))))
    },
    "q24_sessionize" -> { c =>
      val ev = span("sources.read")(Tables.events(c.s, c.dir))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val prev = lag(col("ts"), 1).over(w)
      FrameResult(ev.withColumn("new_s",
          when(prev.isNull || (col("ts").cast("long") - prev.cast("long")) > 1800, 1)
            .otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("new_s")).as("n_sessions"), count(lit(1)).as("n_events"))
        .presentBy(col("user_id")))
    }
  )
}

/** Runs [[PivotReport.chains]] as a closed loop. The warm pass in set-up
  * runs every chain once, dumps its data frame for the DuckDB oracle and
  * pins its rendered output; each timed op must reproduce the pinned
  * digest. */
class PivotWorkload(spark: SparkSession, a: Args, scratch: String) extends Workload {
  import PivotReport._

  private val ctx = new Ctx(spark, a.data, scratch)
  private val chains = PivotReport.chains.toMap
  private val names = PivotReport.chains.map(_._1)
  private val pinned = scala.collection.mutable.HashMap.empty[String, String]
  private val rng = new scala.util.Random(a.seed)
  private var bytes = 0L

  /** The op's sink: a finished table is rendered to JSON, HTML and xlsx;
    * any other frame is collected as row hashes. */
  private def sink(r: Result): String = r match {
    case TableResult(ft, _) =>
      val d = ft.display
      val json = span("output.json")(d.getJson())
      val html = span("output.html")(d.html())
      val xlsx = ctx.freshPath("xlsx") + ".xlsx"
      span("output.xlsx")(graft.output.Excel.write(ft, xlsx))
      val zipDigest = Digest.zip(xlsx)
      val f = new java.io.File(xlsx)
      bytes += json.length + html.length + f.length()
      f.delete()
      // the HTML fragment carries a fresh random element id per render
      val htmlStable = html.replaceAll("id-[0-9a-f-]{36}", "id-")
      s"${Digest.sha(json)}/${Digest.sha(htmlStable)}/$zipDigest"
    case FrameResult(df) => span("sink")(Digest.frame(df))
  }

  private def op(name: String) = Op(name, "read", () => sink(chains(name)(ctx)))

  def setup(): Unit = {
    // registers the library's decimal-mean aggregate used by q05
    val oracle = graft.Queries.oracle
    names.foreach { n =>
      val r = chains(n)(ctx)
      pinned(n) = sink(r)
      Clock.exclude(r.data.coalesce(1).write.parquet(s"${a.out}/check/$n"))
    }
    Clock.exclude(Json.write(s"${a.out}/oracle.json", names.map(n => n -> oracle(n)).toMap))
    bytes = 0L
  }

  def passSeconds: Double = 4.0

  def pass(n: Int): Seq[Op] = rng.shuffle(names).map(op)

  def check(op: Op, digest: String): Boolean = pinned.get(op.name).contains(digest)

  override def artifact: Map[String, Any] =
    Map("checks" -> names.map(n => n -> n).toMap, "output_bytes" -> bytes)
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.FlatTable

/** Readers for the driver-provided parquet tables (TESTDATA.md). */
object Tables {

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Presentation ordering for FINAL EXTRACTS — the trailing sort every
    * oracle/bench query ends with. A single-partition sortWithinPartitions
    * yields the same total order as `orderBy` without the
    * RangePartitioner's extra boundary-sampling job (a whole separate Spark
    * job per query: measured ~0.15 s of the ~0.37 s total of a sub-second
    * bench query).
    *
    * Contract (precise, per ADVICE r15): presentBy covers any output that
    * is about to be SINGLE-FILE-COLLECTED anyway — the oracle harness
    * writes each result as one parquet file and DuckDB replays it sorted,
    * so per-document extracts (q30-style full-corpus projections) funnel
    * through one task either way; presentBy just removes the sampling job
    * from that inevitable funnel. In a production pipeline the same
    * operator would NOT end in presentBy: corpus-sized outputs keep
    * `orderBy` (range-partitioned, distributed) or skip the total order
    * entirely and let the sink shard. NEVER use presentBy for a mid-plan
    * sort or for an output that stays distributed downstream —
    * GlobalWindowGuard exists to catch exactly that misuse. */
  implicit class PresentBy(private val df: DataFrame) extends AnyVal {
    def presentBy(keys: org.apache.spark.sql.Column*): DataFrame =
      df.repartition(1).sortWithinPartitions(keys: _*)
  }

  /** events.parquet's `ts` physical type has varied across driver testdata
    * generations: INT64 TIMESTAMP(NANOS) (which Spark's reader rejects
    * without the legacy flag), plain micros TIMESTAMP, or micros without
    * timezone (read as TIMESTAMP_NTZ). Normalize all three to a session-UTC
    * TimestampType so downstream `window`/`cast("long")` arithmetic is
    * identical regardless of which generation produced the file: nanos-long
    * via integer division (a double division would lose precision above
    * 2^53 ns), NTZ via a cast that reinterprets the naive value as UTC. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = read(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampType => df
      case _ =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }

  /** Exact-sum column: doubles cast to DECIMAL(18,2) so distributed
    * aggregation is order-independent (bit-identical across engines and
    * partitionings); cast back to double only at the end of a pipeline. */
  def dec2(c: String) = col(c).cast(DecimalType(18, 2))

  /** Cast every value column of a FlatTable to double (final presentation
    * step after exact decimal aggregation). */
  def castValuesToDouble(ft: FlatTable): FlatTable = {
    val cols = ft.meta.indexLevels.map(col) ++
      ft.meta.valueCols.map(c => col(c).cast("double").as(c))
    FlatTable(ft.df.select(cols: _*), ft.meta)
  }
}

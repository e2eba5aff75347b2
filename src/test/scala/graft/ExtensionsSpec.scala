package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Dedup, Similarity, TextStats}

/** GraftExtensions — the `spark.sql.extensions` deployment route. The
  * shared test session is built WITH the extension (TestSpark), so these
  * tests exercise the real injection path, not a simulation. */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("injected functions resolve with no register() call (fresh session)") {
    // newSession() clones session state from the extensions-built parent;
    // nothing in this test calls register()
    val s2 = spark.newSession()
    val dot = s2.sql(
      "SELECT graft_dot_f(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .head().getDouble(0)
    assert(dot == 11.0)
    // the SQL-resolved rolling hash equals the Column-API one (whose value
    // q30's oracle pins against DuckDB)
    val rhSql = s2.sql("SELECT graft_rolling_hash('abc') AS h").head().getLong(0)
    val rhApi = Seq("abc").toDF("s")
      .select(graft.funcs.VectorFunctions.rollingHash(col("s")))
      .head().getLong(0)
    assert(rhSql == rhApi)
    // the BPE family's merges arrive as array literals, so the Column API
    // (which wraps them in lit()) is the resolution route — on s2, with no
    // register() anywhere
    val bpe = s2.range(1)
      .select(graft.funcs.BpeFunctions.bpeEncode(lit("ab ab"), Seq("a b")).as("t"))
      .head().getSeq[String](0)
    assert(bpe == Seq("ab", " ", "ab"))
    // WordPiece rides the same injection route (r16)
    val wp = s2.range(1)
      .select(graft.funcs.WordPieceFunctions.wordPieceEncode(
        lit("abc"), Seq("[UNK]", "ab", "##c")).as("t"))
      .head().getSeq[String](0)
    assert(wp == Seq("ab", "##c"))
  }

  /** Name -> registry entry (info, builder) of every graft function in `s`.
    * A re-registration shows in the info instance even where it reuses the
    * builder: a Scala lambda that captures nothing is one JVM instance. */
  private def graftEntries(s: SparkSession): Map[String, (ExpressionInfo, FunctionBuilder)] = {
    val reg = s.sessionState.functionRegistry
    reg.listFunction().filter(_.funcName.startsWith("graft_")).map(id =>
      id.funcName -> ((reg.lookupFunction(id).get, reg.lookupFunctionBuilder(id).get))).toMap
  }

  private def assertSameEntries(before: Map[String, (ExpressionInfo, FunctionBuilder)],
                                after: Map[String, (ExpressionInfo, FunctionBuilder)]): Unit = {
    assert(after.keySet == before.keySet)
    before.foreach { case (n, (info, b)) =>
      assert((after(n)._1 eq info) && (after(n)._2 eq b), s"$n was re-registered")
    }
  }

  test("operators and register leave the injected builders in place") {
    val before = graftEntries(spark)
    assert(before.size == 17, before.keys.toSeq.sorted)
    val docs = Seq((0L, "the cat sat on the mat"), (1L, "a dog")).toDF("doc_id", "text")
    assert(Dedup.minhashSignatures(docs, "doc_id", "text").count() == 2)
    TextStats.bpeStats(docs, "text", Seq("t h"))
    TextStats.wordPieceStats(docs, "text", Seq("[UNK]", "the"))
    assert(Similarity.prepared(Seq((0L, Array(3f, 4f))).toDF("id", "v"), "id", "v")
      .head().getDouble(2) == 5.0)
    // the one remaining writer (SparkEntry calls it before each query)
    // writes nothing on an extension-built session
    GraftExtensions.register(spark)
    assertSameEntries(before, graftEntries(spark))
  }

  test("register restores a dropped function and leaves the other entries as they are") {
    val s2 = spark.newSession()
    val reg = s2.sessionState.functionRegistry
    val before = graftEntries(s2)
    assert(reg.dropFunction(FunctionIdentifier("graft_dot_f")))
    assert(!graftEntries(s2).contains("graft_dot_f"))
    GraftExtensions.register(s2)
    // one builder table: the restored entry is the one the extension injected
    assertSameEntries(before, graftEntries(s2))
    assert(s2.sql("SELECT graft_dot_f(array(CAST(1.0 AS FLOAT)), " +
      "array(CAST(2.0 AS FLOAT))) AS d").head().getDouble(0) == 2.0)
  }

  test("GlobalWindowGuard: opt-in flag fails partitionless windows, spares partitioned ones") {
    val s2 = spark.newSession()
    // default off: the global window runs (and warns), nothing throws
    s2.conf.unset(GlobalWindowGuard.FlagKey)
    assert(s2.sql(
      "SELECT id, row_number() OVER (ORDER BY id) AS r FROM range(10)")
      .collect().length == 10) // collect: count() would prune the window
    // flag on: the same plan fails fast at planning time
    s2.conf.set(GlobalWindowGuard.FlagKey, "true")
    val e = intercept[Exception] {
      s2.sql("SELECT id, row_number() OVER (ORDER BY id) AS r FROM range(10)")
        .collect()
    }
    def rootMsg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(rootMsg(e).contains("partitionless Window"), rootMsg(e))
    // a PARTITIONED window passes under the flag
    assert(s2.sql(
      "SELECT id, row_number() OVER (PARTITION BY id % 2 ORDER BY id) AS r " +
        "FROM range(10)").collect().length == 10)
    s2.conf.unset(GlobalWindowGuard.FlagKey)
  }
}

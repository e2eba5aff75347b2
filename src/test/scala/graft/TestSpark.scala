package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SQLExecutionUIData

/** One shared local session for all suites, and the listener probes the
  * job- and plan-budget tests read. */
object TestSpark {
  lazy val spark: SparkSession = {
    // the warehouse dir outlives the JVM but the in-memory catalog does not:
    // a stale managed-table location from a previous test run fails any
    // saveAsTable with LOCATION_ALREADY_EXISTS — start from a clean slate
    def wipe(f: java.io.File): Unit = {
      // listFiles() returns null (not empty) on I/O error or if the dir
      // vanishes under us (two forked test JVMs racing on the shared /tmp)
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
      f.delete(); ()
    }
    wipe(new java.io.File("/tmp/graft-test-warehouse"))
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("flatbreadspark-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      // every suite runs through the production deployment route: the
      // graft functions arrive via session extensions, not register()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val JobTag = "graft.test.jobsOf"

  /** Spark jobs that `body` submits from this thread: a listener counts
    * the job starts carrying this call's tag, after the bus has drained. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(JobTag) == tag)
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(JobTag, tag)
    try { body; ListenerBusDrain.drain(); n.get }
    finally { sc.setLocalProperty(JobTag, null); sc.removeSparkListener(listener) }
  }

  /** The SQL executions the session started while `body` ran, as its status
    * store holds them once the bus has drained (suites run one at a time,
    * so every execution in that id range is `body`'s). */
  def executionsOf(body: => Unit): Seq[SQLExecutionUIData] = {
    val store = spark.sharedState.statusStore
    ListenerBusDrain.drain()
    val before = store.executionsList().map(_.executionId).maxOption.getOrElse(-1L)
    body
    ListenerBusDrain.drain()
    store.executionsList().filter(_.executionId > before)
  }
}

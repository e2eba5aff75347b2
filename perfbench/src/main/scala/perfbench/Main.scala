package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}

/** One op of a workload's closed loop. `run` does the user's work and
  * returns a digest of its output; `kind` is `read` or `write`. */
final case class Op(name: String, kind: String, run: () => String)

/** A workload: `setup` runs inside the timed set-up (warm pass, store
  * builds); `pass` yields the seeded op sequence one pass at a time. */
trait Workload {
  def setup(): Unit
  /** Nominal length of one pass; a run of `s` seconds makes
    * max(1, s / passSeconds) passes, the same number on every commit. */
  def passSeconds: Double
  def pass(n: Int): Seq[Op]
  /** Checks the digest an op returned; false counts the op as failed. */
  def check(op: Op, digest: String): Boolean
  /** Extra fields for the run artifact. */
  def artifact: Map[String, Any] = Map.empty
}

/** Wall-clock accounting that leaves out the benchmark's own output checks
  * (parquet dumps for the DuckDB oracle, digest read-backs). */
object Clock {
  private var excludedNs = 0L
  def excluded: Long = excludedNs
  def exclude[T](f: => T): T = {
    val t = System.nanoTime()
    try f finally excludedNs += System.nanoTime() - t
  }
}

object Digest {
  private def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString
  def sha(s: String): String =
    hex(MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))).take(16)

  /** Order-insensitive digest of a frame, computed by the op's own sink:
    * row count plus the wrapping sum of per-row xxhash64 over all columns. */
  def frame(df: DataFrame): String = {
    val hs = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*))
      .collect().map(_.getLong(0))
    s"${hs.length}:${hs.sum}"
  }

  /** Content digest of a zip container (xlsx): entry names and bytes, in
    * entry order, ignoring the per-entry timestamps. */
  def zip(path: String): String = {
    val zin = new java.util.zip.ZipInputStream(new java.io.FileInputStream(path))
    val md = MessageDigest.getInstance("SHA-256")
    try {
      var e = zin.getNextEntry
      while (e != null) {
        md.update(e.getName.getBytes(UTF_8))
        md.update(zin.readAllBytes())
        e = zin.getNextEntry
      }
    } finally zin.close()
    hex(md.digest()).take(16)
  }
}

final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, data: String, warm: String, out: String)

object Main {
  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("data"),
      m.getOrElse("warm", m("data")), m("out"))
  }

  /** Used heap after full collections, in MB. Spark's context cleaner
    * frees broadcast and shuffle blocks asynchronously once a collection
    * finds their handles unreachable, so collect until the figure settles. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    var last = Double.MaxValue
    var cur = 0.0
    var i = 0
    while (i < 6 && last - cur > 1.0) {
      if (i > 0) last = cur
      System.gc()
      Thread.sleep(200)
      cur = mem.getHeapMemoryUsage.getUsed / 1048576.0
      i += 1
    }
    cur
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", new File("warehouse").getAbsolutePath)
      .config("spark.local.dir", new File("local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = if (a.trace) {
      val l = new JobListener
      spark.sparkContext.addSparkListener(l)
      Trace.enable(spark.sparkContext)
      Some(l)
    } else None

    val scratch = new File("scratch").getAbsolutePath
    Files.createDirectories(Paths.get(scratch))
    Files.createDirectories(Paths.get(a.out))
    val wl: Workload = a.workload match {
      case "pivot_report" => new PivotWorkload(spark, a, scratch)
      case "curation_pipeline" => new CurationWorkload(spark, a)
      case "retrieval_serve" => new RetrievalWorkload(spark, a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    wl.setup()
    val setupS = (System.nanoTime() - t0 - Clock.excluded) / 1e9
    val heap = mutable.ArrayBuffer(Clock.exclude(liveHeapMb()))

    // closed loop, one client, a fixed number of whole passes: every run
    // and every commit sees the same op mix
    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = math.max(1, (a.seconds / wl.passSeconds).toInt)
    var opId = 0
    for (passNo <- 0 until passes) {
      wl.pass(passNo).foreach { op =>
        val t = System.nanoTime()
        val res = scala.util.Try(Trace.op(opId)(op.run()))
        val lat = (System.nanoTime() - t) / 1e9
        val ok = res.toOption.exists(d => wl.check(op, d))
        res.failed.foreach(e => System.err.println(s"op ${op.name} failed: $e"))
        records += Map("id" -> opId, "name" -> op.name, "kind" -> op.kind,
          "pass" -> passNo, "lat_s" -> lat, "ok" -> ok,
          "digest" -> res.getOrElse(""))
        opId += 1
      }
    }
    heap += liveHeapMb()

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "setup_s" -> setupS, "ops" -> records.toSeq,
      "heap_live_mb" -> heap.toSeq,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.version,
      "cores" -> spark.sparkContext.defaultParallelism)
    result ++= Clock.exclude(wl.artifact)
    listener.foreach { l =>
      result("layers") = Layers.summarize(l.snapshot, Trace.all, Trace.selfNs,
        records.toSeq, spark)
      result("funcs") = Funcs.measure(spark)
      Spans.write(s"${a.out}/spans.jsonl", Trace.all, l.snapshot)
    }
    Json.write(s"${a.out}/result.json", result)
    spark.stop()
  }
}

object Json {
  private val mapper = new ObjectMapper()
  private def conv(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, conv(x)) }
      out
    case s: Seq[_] => s.map(conv).asJava
    case a: Array[_] => a.toSeq.map(conv).asJava
    case o: Option[_] => o.map(conv).orNull
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }
  def write(path: String, v: Any): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(path), conv(v))
  def line(v: Any): String = mapper.writeValueAsString(conv(v))
}

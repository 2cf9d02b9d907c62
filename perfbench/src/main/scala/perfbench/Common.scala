package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** What one benchmark invocation reports back to `run.py`; `stores` are
  * committed KG stores (path, snapshot id) left for run.py to check. */
final case class Result(
    attempted: Int,
    failed: Int,
    errors: Seq[String],
    metrics: Seq[(String, Double)],
    info: Seq[(String, String)] = Nil,
    stores: Seq[(String, String)] = Nil) {

  def json: String = {
    def q(s: String) = Common.jsonString(s)
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val m = metrics.map { case (k, v) => s"${q(k)}: ${num(v)}" }.mkString(", ")
    val i = info.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString(", ")
    s"""{"attempted": $attempted, "failed": $failed, """ +
      s""""errors": [${errors.map(q).mkString(", ")}], """ +
      s""""metrics": {$m}, "info": {$i}, "stores": [""" +
      stores.map { case (p, sid) => s"[${q(p)}, ${q(sid)}]" }.mkString(", ") + "]}"
  }
}

object Common {

  def cores: Int = Runtime.getRuntime.availableProcessors()

  /** The shipping mains' session (BuildKg/UpdateKg: local[cores], shuffle
    * partitions = cores, UTC, no UI), with every scratch directory inside
    * the benchmark's work dir; `extensions` adds GraftExtensions as
    * Bench/Verify do. */
  def session(work: String, extensions: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    val spark = (if (extensions)
      b.config("spark.sql.extensions", "graft.GraftExtensions") else b)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val t0 = System.nanoTime()

  /** Progress line in the JVM log, stamped with seconds since start. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.1f s] $msg")

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Order-independent multiset checksum of a table: row count, XOR and
    * decimal sum of a 64-bit row hash over the columns in name order
    * (maps hashed as their sorted entry arrays). */
  def checksum(df: DataFrame): String = {
    val cols = df.columns.sorted.map { c =>
      df.schema(c).dataType match {
        case _: MapType => array_sort(map_entries(col(c)))
        case _ => col(c)
      }
    }
    val h = xxhash64(cols.toSeq: _*)
    val r = df.agg(count(lit(1)), bit_xor(h), sum(h.cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${r.getLong(1)}:${Option(r.getDecimal(2)).getOrElse(0)}"
  }

  def dirBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else f.length()
    walk(new File(path))
  }

  /** `s` as a JSON string literal. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def writeString(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))

  /** Wait until the listener bus has delivered every posted event. */
  def drainListeners(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
}

/** Peak used heap of the JVM while a section runs, sampled every 5 ms
  * (the pool MXBeans' peaks are per pool and would overstate the sum). */
final class HeapSampler {
  private val mem = ManagementFactory.getMemoryMXBean
  @volatile private var running = false
  @volatile private var peak = 0L
  private var thread: Thread = _

  def start(): Unit = {
    peak = mem.getHeapMemoryUsage.getUsed
    running = true
    thread = new Thread(() => {
      while (running) {
        val u = mem.getHeapMemoryUsage.getUsed
        if (u > peak) peak = u
        Thread.sleep(5)
      }
    }, "perfbench-heap-sampler")
    thread.setDaemon(true)
    thread.start()
  }

  /** Stop sampling; returns the peak in MB. */
  def stop(): Double = {
    running = false
    thread.join()
    peak / (1024.0 * 1024.0)
  }
}

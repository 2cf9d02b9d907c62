package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** The `ops_suite` workload: the [[Names]] entries of `SparkEntry.queries`
  * over the fixed test tables in `data` (scale factor 0.1), in name
  * order, each result fetched with `collect()` (closed loop: one query at
  * a time).
  *
  * Passes repeat until the run's seconds are spent (at least one); the
  * first pass of the JVM includes its JIT and code-generation warm-up, as
  * a `Bench` or `Verify` launch does. Pass `p` writes
  * `out/pass-p/<query>`; `run.py` checks the first pass against the
  * DuckDB oracle (`out/oracle_sql.json`) and every later pass against
  * the first. `wall_s` is the sum over queries of each query's median
  * time over the passes.
  *
  * The traced run adds one traced pass after the timed one, with one span
  * per query.
  */
object OpsSuite {
  /** The `SparkEntry.queries` built on graft's own operators that no KG
    * stage runs: the interval first-match join (a planner strategy of
    * graft.plans), exact-Jaccard / MinHash / SimHash / cosine pair
    * generation (ROADMAP item 4), brute-force and IVF top-k, and connected
    * components. The other 30 are left out to keep a run short: plain
    * Spark SQL, per-row text and media functions, and q29 (the KG
    * pipeline, which kg_build measures). */
  val Names: Seq[String] = Seq(
    "q09_interval_first", "q21_jaccard_pairs", "q22_minhash_lsh",
    "q23_simhash_pairs", "q24_ann_brute", "q27_cc_canon", "q31_cosine_pairs",
    "q32_ann_ivf")

  /** One pass; returns per-query seconds and the queries that threw. The
    * timed operation is the query's `collect()`; the collected rows are
    * then written (untimed) to Parquet under `out` with the query's schema
    * for the oracle check. */
  private def pass(spark: SparkSession, data: String, out: String,
      tracer: Option[Tracer]): (Map[String, Double], Seq[String]) = {
    val errors = Seq.newBuilder[String]
    val times = Names.map { name =>
      def once() = {
        val df = SparkEntry.queries(name)(spark, data)
        (df.schema, df.collect())
      }
      val (r, s) = Common.seconds(scala.util.Try(tracer match {
        case Some(t) => t.span("ops", name)(once())
        case None => once()
      }))
      r.failed.foreach(e => errors += s"$name threw: $e")
      Common.note(f"$name $s%.3f s")
      r.foreach { case (schema, rows) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      }
      name -> s
    }
    Common.note(f"pass over ${times.size} queries in ${times.map(_._2).sum}%.1f s")
    (times.toMap, errors.result())
  }

  def run(spark: SparkSession, work: String, data: String, runSeconds: Double,
      trace: Boolean, setupS: () => Double): Result = {
    val setup = setupS()
    val out = s"$work/ops-out"
    val passes = Seq.newBuilder[Map[String, Double]]
    val errors = Seq.newBuilder[String]
    val heaps = Seq.newBuilder[Double]
    val loop0 = System.nanoTime()
    var p = 0
    while (p == 0 || (!trace && (System.nanoTime() - loop0) / 1e9 < runSeconds)) {
      val heap = new HeapSampler
      heap.start()
      val (t, e) = pass(spark, data, s"$out/pass-$p", None)
      heaps += heap.stop()
      passes += t; errors ++= e
      p += 1
    }
    val timed = passes.result()
    def wall(ps: Seq[Map[String, Double]]) =
      Names.map(q => Common.median(ps.map(_(q)))).sum
    val endToEnd = Seq("wall_s" -> wall(timed), "setup_s" -> setup,
      "peak_heap_mb" -> Common.median(heaps.result()))

    val traced: Seq[(String, Double)] = if (!trace) Nil else {
      val tracer = Tracer.install(spark.sparkContext)
      val (tt, te) = pass(spark, data, s"$out/pass-$p", Some(tracer))
      Common.drainListeners(spark)
      spark.sparkContext.removeSparkListener(tracer)
      errors ++= te
      p += 1
      val tracedWall = tt.values.sum
      val spans = tracer.spans
      val covered = spans.map(s => (s.endNs - s.startNs) / 1e9).sum
      val m = tracer.layerMetrics("ops").toMap
      spans.map(s => s"ops.${s.name}.wall_s" -> (s.endNs - s.startNs) / 1e9) ++
        Seq("ops.task_s" -> m("ops.task_s"), "ops.shuffle_mb" -> m("ops.shuffle_mb"),
          "trace.traced_wall_s" -> tracedWall,
          "trace.overhead_ratio" -> tracer.busySeconds / tracedWall,
          "trace.uncovered_ratio" -> (tracedWall - covered) / tracedWall)
    }
    writeOracleSql(out)
    val errs = errors.result()
    Result(p * Names.size, errs.size, errs, endToEnd ++ traced,
      Seq("passes" -> p.toString, "queries" -> Names.size.toString,
        "samples" -> timed.size.toString))
  }

  /** oracle_sql.json, as `graft.Verify` writes it next to its query dumps. */
  private def writeOracleSql(out: String): Unit = {
    val json = SparkEntry.oracleSql.toSeq.filter(kv => Names.contains(kv._1))
      .sortBy(_._1)
      .map { case (k, v) => s"${Common.jsonString(k)}: ${Common.jsonString(v)}" }
      .mkString("{", ",\n", "}")
    Common.writeString(s"$out/oracle_sql.json", json)
  }
}

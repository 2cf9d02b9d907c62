package perfbench

/** JVM side of the benchmark; `run.py` builds and launches it.
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <resultFile> [dataDir]
  *
  * Writes one JSON object ([[Result]]) to `resultFile`. `setup_s` counts
  * from the start of `main` (session start, input generation, reference
  * results) up to the first timed operation.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val Array(workload, seed, seconds, trace, work, resultFile) = args.take(6)
    val setupS = () => (System.nanoTime() - t0) / 1e9
    val traced = trace == "1"
    val spark = Common.session(work, extensions = workload == "ops_suite")
    val result =
      try workload match {
        case "kg_build" =>
          KgBuild.run(spark, work, seed.toLong, seconds.toDouble, traced, setupS)
        case "ops_suite" =>
          OpsSuite.run(spark, work, args(6), seconds.toDouble, traced, setupS)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally spark.stop()
    Common.writeString(resultFile, result.json)
  }
}

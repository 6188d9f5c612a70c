package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *  [--inputs DIR] [--smoke] [--wrong-expectation]`.
  *
  * Every phase is a fixed amount of work, so the same seed always runs the
  * same operations; `--seconds` is accepted but not read. Writes `result.json` (and with
  * tracing, `spans.jsonl`) into the work dir; `run.py` adds the oracle
  * comparison and prints the final line. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val smoke = flags("smoke")
    val wrong = flags("wrong-expectation")
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val trace = new Trace(opts("trace") == "1")

    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (trace.on) spark.sparkContext.addSparkListener(trace.listener)

    val (checks, e2e, layers, attempted, failed) = workload match {
      case "kv_snapshot" | "kv_delta" =>
        val snap = workload == "kv_snapshot"
        val sizes =
          if (smoke) KvSizes(keys = 2000, setupRounds = 1, warmOps = 5,
            warmScanRounds = if (snap) 1 else 0,
            pointOps = if (snap) 10 else 2000, scanRounds = 1, recoveries = 1)
          else if (snap) KvSizes(keys = 4000, setupRounds = 3, warmOps = 30,
            warmScanRounds = 3, pointOps = 90, scanRounds = 5, recoveries = 5)
          else KvSizes(keys = 10000, setupRounds = 3, warmOps = 10000, warmScanRounds = 0,
            pointOps = 25000, scanRounds = 10, recoveries = 5)
        val w = new KvWorkload(spark, trace, work.resolve("kv"), seed, snap, sizes, wrong)
        w.run()
        (w.checks, w.e2e, w.layers, w.attempted, w.failed)
      case "query_mix" =>
        val sizes = if (smoke) MixSizes(streamChunks = 3, checkChunks = 3, chunkRows = 200, users = 20)
          else MixSizes(streamChunks = 3, checkChunks = 2, chunkRows = 2000, users = 50)
        val inputs = opts("inputs")
        val w = new QueryMix(spark, trace, work, s"$inputs/iter", s"$inputs/scan", seed, sizes, wrong)
        w.run()
        (w.checks, w.e2e, w.layers, w.attempted, w.failed)
      case other => sys.error(s"unknown workload $other")
    }
    Jvm.sparkMetrics(trace, layers)
    if (trace.on) trace.write(work.resolve("spans.jsonl"))
    checks.first.foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))
    val json = s"""{"correct":${checks.ok},"attempted":$attempted,"failed":$failed,""" +
      s""""end_to_end":${e2e.toJson},"per_layer":${layers.toJson}}"""
    Files.writeString(work.resolve("result.json"), json)
    spark.stop()
  }
}

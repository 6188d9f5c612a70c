package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Ad-hoc timing/metrics harness for registered queries (dev tool).
  * args: query names; with -metrics, prints per-operator rows/time. */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // see Bench.scala: single-JVM harness disables artifact-isolation
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val metrics = args.contains("-metrics")
    val names = args.filterNot(_ == "-metrics").toSeq match {
      case Nil => Seq("dedup_simhash")
      case ns => ns
    }
    try SparkEntry.entry(spark).write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }
    for (n <- names; pass <- 1 to 3) {
      // the timed window MUST include DataFrame construction: iterative
      // queries (connected components, BPE training, pipeline_e2e) run
      // their driver-controlled rounds — real Spark jobs — while BUILDING
      // the frame, and excluding construction under-reported them 4-6×
      // versus Bench (which is the contract measurement and was right)
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, dir)
      val t1 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      val t2 = System.nanoTime()
      println(f"TIMING $n pass$pass ${(t2 - t0) / 1e9}%.3f s" +
        f" (build ${(t1 - t0) / 1e9}%.3f, exec ${(t2 - t1) / 1e9}%.3f)")
      if (args.contains("-phases")) {
        val ph = df.queryExecution.tracker.phases
        ph.toSeq.sortBy(_._2.startTimeMs).foreach { case (name, s) =>
          println(f"PHASE  $name%-16s ${(s.endTimeMs - s.startTimeMs) / 1e3}%.3f s")
        }
      }
      if (metrics && pass == 3) {
        def walk(p: org.apache.spark.sql.execution.SparkPlan, d: Int): Unit = {
          val rows = p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
          println(f"METRIC ${" " * d}${p.nodeName}%-40s rows=$rows")
          p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan, d + 1)
            case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan, d + 1)
            case _ => p.children.foreach(walk(_, d + 1))
          }
        }
        walk(df.queryExecution.executedPlan, 0)
      }
      // owned release per pass — without it the registry's strong closure
      // references keep every shared frame resident across the 3×N loop,
      // distorting the very timings this tool reports
      graft.SharedFrames.releaseAll()
    }
    spark.stop()
  }
}

package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import graft.{SharedFrames, SparkEntry, SparkSpec}

/** Storage-hygiene pin (VERDICT r4 item #7, hardened after r5's bench
  * stall): registered queries must not accumulate persisted RDD blocks
  * across invocations — the mechanism by which one bench query could
  * contaminate its neighbors (executor memory pinned by a predecessor's
  * blocks shrinks the unified region every later query runs in; the bench
  * runs every query twice in one JVM).
  *
  * The round-5 contract was "bounded residency, reclaimed by
  * ContextCleaner on driver GC" — which is exactly the dependence the r5
  * bench stall implicated (a ~50 GiB driver heap collects weak refs
  * rarely, so nothing contractually drained the blocks). The contract is
  * now OWNERSHIP: every shared intermediate and every loop round
  * registers with [[graft.SharedFrames]] when it is persisted, before any
  * action on it; the harness calls `releaseAll()` after each query's
  * terminal action; and release is SYNCHRONOUS in the registry
  * (`getPersistentRDDs` reflects it without any GC). What this spec pins:
  *
  *  1. DURING a run, residency stays bounded by one generation — the
  *     iterative operators unpersist superseded rounds inline;
  *  2. AFTER `releaseAll()`, residency returns to exactly the baseline —
  *     zero residue, deterministically, no `System.gc()` anywhere;
  *  3. the same holds when a loop's action throws mid-query. */
class BenchHygieneSpec extends AnyFunSuite with SparkSpec {
  val dir = "/root/testdata/sf0.001"

  /** One generation of persisted intermediates: pipeline_e2e's is the
    * largest (survivor materialization + star loop's canonical edge set +
    * final contraction round + packing materialization). */
  private val GenerationBound = 6

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Run exactly what Bench runs (materialize through the noop sink). */
  private def runOnce(name: String): Unit =
    SparkEntry.queries(name)(spark, dir)
      .write.mode("overwrite").format("noop").save()

  /** Registry removal is synchronous; give the block-manager scrub (the
    * `blocking = false` part) a short grace, never a GC. */
  private def settledExtra(base: Set[Int]): Set[Int] = {
    val deadline = System.currentTimeMillis() + 10000
    var cur = persistedIds -- base
    while (cur.nonEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      cur = persistedIds -- base
    }
    cur
  }

  // the SharedFrames users plus a plain-pipeline control (curriculum /
  // global_shuffle / epoch_mix / semdedup / bpe_encode joined the shared-
  // materialization users in round 5)
  private val Sampled = Seq("q1_agg", "decontaminate", "dedup_clusters",
    "dedup_clusters_star", "pack_shards", "pipeline_e2e",
    "curriculum", "global_shuffle", "epoch_mix", "semdedup", "bpe_encode",
    // the round-7 gram-spine users (toks + grams shared generations)
    "dup_span_scrub_aligned", "decontaminate_scrub",
    // round-10 shared-frame users (CMS token hashes, DSIR features,
    // TopKAgg over the semdedup assignment)
    "sketch_cms", "dsir_select", "cluster_balanced_sample")

  for (name <- Sampled)
    test(s"$name: bounded residency during runs, ZERO residue after release") {
      SharedFrames.releaseAll() // drain any prior suite's leftovers
      val base = persistedIds
      runOnce(name)
      // during-run bound: inline unpersist of superseded loop rounds keeps
      // at most ~one generation resident while the query executes
      val during = (persistedIds -- base).size
      assert(during <= GenerationBound,
        s"$name held $during persisted RDDs after one run " +
          s"— more than one generation")
      SharedFrames.releaseAll()
      val after1 = settledExtra(base)
      assert(after1.isEmpty,
        s"$name left persisted RDDs ${after1.toSeq.sorted} after " +
          "releaseAll — an intermediate escaped the ownership registry")
      // and repeated run/release cycles leave nothing behind either
      runOnce(name); SharedFrames.releaseAll()
      runOnce(name); SharedFrames.releaseAll()
      val after3 = settledExtra(base)
      assert(after3.isEmpty,
        s"$name accumulates residue across run/release cycles: " +
          s"ids ${after3.toSeq.sorted}")
    }

  test("connected components: a failing round leaves ZERO residue after release") {
    import org.apache.spark.sql.functions.{col, udf}
    SharedFrames.releaseAll()
    val base = persistedIds
    val boom = udf { (x: Long) =>
      if (x >= 0L) throw new IllegalStateException("edge UDF failure")
      x
    }.asNondeterministic()
    // a range, not a local Seq: the optimizer folds projections over local
    // rows while planning, which would throw before anything persists
    val edges = spark.range(1, 4)
      .select(boom(col("id")).as("src"), (col("id") + 1).as("dst"))
    // AQE off for this run: with it on, building the canonical set's RDD
    // already runs the edge shuffle and the UDF throws before anything
    // persists; off, it throws inside the count, as a cancelled or failed
    // round job does
    val aqe = "spark.sql.adaptive.enabled"
    val prior = spark.conf.getOption(aqe)
    spark.conf.set(aqe, "false")
    try intercept[Exception] {
      graft.operators.Dedup.connectedComponentsWithRounds(edges)
    } finally prior.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))
    SharedFrames.releaseAll()
    val after = settledExtra(base)
    assert(after.isEmpty,
      s"a failed components run left persisted RDDs ${after.toSeq.sorted} " +
        "that releaseAll could not reach")
  }
}

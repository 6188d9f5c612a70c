package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel

/** Session-scope registry of persisted intermediates with OWNED release.
  *
  * Several operators materialize a multi-consumer intermediate (packDocs'
  * narrow packing projection, the pipeline's survivor set, SemDeDup's
  * cluster assignment, …). Through round 5 those sites used an eager
  * `localCheckpoint()` and left reclamation to Spark's ContextCleaner —
  * which drains only when DRIVER GC collects the weak reference to the
  * result. Under a large driver heap (the round harness runs ~50 GiB) full
  * collections are rare, so blocks from 150 back-to-back query runs can
  * pile up in the block manager with nothing contractually draining them —
  * the leading suspect for round 5's bench stall. This registry replaces
  * the GC dependence with ownership: operators mark intermediates
  * [[shared]], and harnesses (Bench, Verify, the hygiene specs) call
  * [[releaseAll]] after each query's terminal action.
  *
  * [[shared]] persists WITH lineage (no checkpoint truncation), so
  * releasing a frame that some straggler thread still reads degrades to
  * recomputation instead of "checkpoint block not found" — the property
  * that makes [[releaseAll]] safe to call even after a bench watchdog
  * abandoned a worker mid-query.
  */
object SharedFrames {
  private val live = new ConcurrentLinkedQueue[() => Unit]()

  /** Materialize `df` once (MEMORY_AND_DISK) for multi-branch reuse: every
    * downstream consumer reads the cached blocks instead of re-running the
    * upstream plan. Eager — the registering operator decides WHEN the
    * one computation happens, exactly like the `localCheckpoint` it
    * replaces, and the static planner sees the frame's REAL size (an r19
    * all-lazy experiment flipped broadcast joins to sort-merge across the
    * graph family on estimate stats — pagerank_sim 2.3× slower — so
    * eager stays the default; see [[sharedLazy]] for the opt-in). */
  def shared(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    // register BEFORE the materializing action: if count() dies (watchdog
    // cancel, executor failure), the persisted plan is already in the
    // cache manager and must still be releasable — unpersisting a frame
    // that never computed is safe and frees whatever partials landed
    live.add(() => { p.unpersist(blocking = false); () })
    if (sys.env.contains("SPARK_GRAFT_SHARED_TIMING")) {
      val t0 = System.nanoTime()
      p.count()
      Console.err.println(f"[shared] ${(System.nanoTime() - t0) / 1e9}%.3f s  " +
        df.queryExecution.logical.nodeName)
    } else p.count()
    p
  }

  /** [[shared]] without the eager count: the persisted plan still replaces
    * the frame at analysis time (CacheManager keys on the plan, not on
    * materialization), but the blocks fill inside the FIRST consuming job
    * — per-partition dedup across racing consumers is the block manager's
    * getOrElseUpdate locking, not eagerness. Skipping the count skips the
    * ~0.3–0.6 s per-frame plan+codegen+dispatch fixed cost (measured r18)
    * that dominates chains of small frames.
    *
    * OPT-IN, per measured call site only: a lazy frame exposes ESTIMATE
    * stats to the static planner, which can flip a downstream broadcast
    * to sort-merge (or worse, broadcast a corpus-scale frame with a small
    * estimate — the r18 split-array hazard). Use it where the chain's
    * consumers were measured plan-stable and faster under the r19
    * all-lazy experiment (the unigram Viterbi chain, the lm_trigram
    * model/tier cascade, matryoshka's twin rankings); everything else
    * keeps [[shared]]'s real-stats eager contract.
    *
    * SPARK_GRAFT_SHARED_TIMING forces the eager count here too, so the
    * profiling tool still reports one materialization job per frame. */
  def sharedLazy(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    live.add(() => { p.unpersist(blocking = false); () })
    if (sys.env.contains("SPARK_GRAFT_SHARED_TIMING")) {
      val t0 = System.nanoTime()
      p.count()
      Console.err.println(f"[shared lazy] ${(System.nanoTime() - t0) / 1e9}%.3f s  " +
        df.queryExecution.logical.nodeName)
    }
    p
  }

  /** Persist `rdd` (MEMORY_AND_DISK unless told otherwise) and register
    * it for release in the same step, before any action runs on it. A
    * loop may still `unpersist` a superseded generation inline; the
    * registry's later unpersist of it is a no-op. */
  def ownedRdd[T](rdd: RDD[T],
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): RDD[T] = {
    val p = rdd.persist(level)
    live.add(() => { p.unpersist(blocking = false); () })
    p
  }

  /** The lineage cut of driver-controlled iteration: `df`'s rows go into
    * an [[ownedRdd]] and come back as a frame whose logical plan reads
    * those rows, not the history that produced them (without the cut,
    * each round's plan re-derives every prior round). The blocks fill in
    * the first action that reads them (with AQE on, building the RDD
    * already runs the plan's shuffle stages). The RDD is handed back so
    * a loop can free superseded rounds early; whatever it leaves
    * persisted goes at [[releaseAll]], even if an action on it threw. */
  def materialize(df: DataFrame): (DataFrame, RDD[Row]) = {
    val rdd = ownedRdd(df.rdd)
    (df.sparkSession.createDataFrame(rdd, df.schema), rdd)
  }

  /** Free every registered intermediate. Idempotent and thread-safe; call
    * after a query's terminal action (between bench runs, after each
    * Verify dump). Releasing is never unsafe mid-flight — see class doc. */
  def releaseAll(): Unit = {
    var f = live.poll()
    while (f != null) { f(); f = live.poll() }
  }
}

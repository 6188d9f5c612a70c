package graft.engine

import org.apache.spark.sql.{Dataset, Encoders}

/** KMR execution (ref: invoke_mr, p5/server/my_storage.cc:269-415) — the
  * engine's one KMR path: one Spark job per call, answering either the
  * reduced result or ERR_NO_DATA for a table with no rows
  * (ref: p5/common/protocol.h:445-469).
  *
  * Spark restatement of the reference's fork+pipe pipeline (SURVEY §3.2):
  * the snapshot-scan → per-pair `map()` stage distributes across executors
  * (`mapPartitions`, pipelined with the scan by whole-stage codegen — the
  * analog of the parent streaming frames into the child's read loop); the
  * single holistic `reduce()` runs once over the gathered results, exactly
  * as the reference's child calls `reduce(all)` at pipe-EOF. An empty
  * gather answers ERR_NO_DATA before `reduce` runs.
  *
  * Scale note: the gather (`collect`) is forced by the UDF contract — the
  * reducer sees the WHOLE list, so it cannot be split (SURVEY §7.4 risk 2).
  * For [[AssociativeMapReduceFn]] we instead tree-aggregate on executors
  * ([[runTree]]), which is the 100 TB-safe path; holistic reducers at that
  * scale are rejected by the same reasoning the reference would OOM its
  * result pipe.
  *
  * Failure contract: a UDF that throws anywhere (map on an executor, reduce
  * on the driver) must yield ERR_SERVER and leave the engine serving — the
  * observable contract of the seccomp-killed child (ref:
  * p5/server/my_storage.cc:361-364; p5/scripts/p5.py:85-90). Executor task
  * → driver isolation gives the process separation the fork() provided.
  */
object MapReduce {

  def run(kv: Dataset[KV], fn: MapReduceFn): Result = fn match {
    // an associative reducer declares its combine safe in any grouping —
    // dispatch to the executor-side tree so per-row map outputs are never
    // gathered on the driver
    case assoc: AssociativeMapReduceFn => runTree(kv, assoc)
    case _ => answer {
      val mapped: Array[Array[Byte]] =
        kv.mapPartitions(it => it.map(r => fn.map(r.key, r.value)))(
          Encoders.BINARY).collect()
      if (mapped.isEmpty) None else Some(fn.reduce(mapped.toIndexedSeq))
    }
  }

  /** Executor-side tree reduction for associative reducers — no driver
    * gather of per-row outputs: each partition combines its own map
    * outputs as a balanced binary tree ([[balanced]]), then the partition
    * results meet in a logarithmic tree (`treeAggregate`), all in one
    * job. The aggregate is None until a row arrives, so an empty table is
    * told apart from one whose rows combine to `zero`. */
  private[engine] def runTree(kv: Dataset[KV],
      fn: AssociativeMapReduceFn): Result = answer {
    def merge(a: Option[Array[Byte]], b: Option[Array[Byte]]) = (a, b) match {
      case (Some(x), Some(y)) => Some(fn.combine(x, y))
      case _ => a.orElse(b)
    }
    kv.rdd
      .mapPartitions(it =>
        Iterator.single(balanced(it.map(r => fn.map(r.key, r.value)), fn)))
      .treeAggregate(Option.empty[Array[Byte]])(merge, merge)
  }

  /** Combine `outs` in order as a balanced tree: a binary-counter stack
    * whose slot i holds the combine of 2^i consecutive outputs, merged
    * whenever two slots reach the same size. Each output takes part in
    * O(log n) combines, so a `combine` that costs its input size does
    * O(n log n) work in all, where folding one output at a time into a
    * growing accumulator does O(n²). */
  private def balanced(outs: Iterator[Array[Byte]],
      fn: AssociativeMapReduceFn): Option[Array[Byte]] = {
    val stack = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Byte])]
    outs.foreach { x =>
      var level = 0
      var acc = x
      while (stack.nonEmpty && stack.last._1 == level) {
        acc = fn.combine(stack.remove(stack.length - 1)._2, acc)
        level += 1
      }
      stack += ((level, acc))
    }
    stack.map(_._2).reduceRightOption(fn.combine)
  }

  private def answer(reduced: => Option[Array[Byte]]): Result =
    try reduced.fold(Result(false, Codes.ERR_NO_DATA))(Result(true, Codes.OK, _))
    catch { case _: Throwable => Result(false, Codes.ERR_SERVER) }
}

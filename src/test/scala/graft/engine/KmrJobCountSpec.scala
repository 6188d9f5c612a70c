package graft.engine

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** Pins the KMR round count: on a snapshot-only store (after SAV, empty
  * delta) — the store the benchmark's timed KMR rounds read — a KMR runs
  * exactly ONE Spark job on either path. There is no emptiness pre-pass:
  * ERR_NO_DATA is decided from the KMR job's own output. */
class KmrJobCountSpec extends AnyFunSuite with SparkSpec {

  /** Spark jobs `body` starts, counted by a listener on a job group of its
    * own, so jobs of anything else running in the session are not counted. */
  private def jobsOf(body: => Unit): Int = {
    val group = s"kmr-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "KmrJobCountSpec")
      try body finally sc.clearJobGroup()
      // the listener bus is async: poll until the count settles
      var last = -1
      var same = 0
      val deadline = System.currentTimeMillis() + 30000
      while (same < 3 && System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
        if (jobs.get == last) same += 1 else { same = 0; last = jobs.get }
      }
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("KMR gather and KMR tree each run one Spark job on a snapshot-only store") {
    val dir = Files.createTempDirectory("graft-kmrjobs-")
    val e = new Engine(spark, EngineOptions(admin = "alice", dataDir = Some(dir)))
    e.register("alice", "pw")
    val keys = (1 to 64).map(i => f"k$i%03d")
    keys.foreach(k => e.kv.insert(k, k.getBytes("UTF-8")))
    assert(e.save("alice", "pw").succeeded)
    e.registerBuiltin("alice", "pw", "gather", BuiltinFuncs.AllKeys)
    e.registerBuiltin("alice", "pw", "tree", BuiltinFuncs.AllKeysAssoc)

    var r: Result = null
    assert(jobsOf { r = e.invokeMr("alice", "pw", "gather") } == 1)
    assert(r.succeeded && r.dataUtf8.split("\n").sorted.toSeq == keys)
    assert(jobsOf { r = e.invokeMr("alice", "pw", "tree") } == 1)
    assert(r.succeeded && r.dataUtf8 == keys.mkString("\n"))
  }
}

package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.SparkSession
import graft.engine.{BuiltinFuncs, Codes, Engine, EngineOptions, MapReduceFn, Result}

/** Sizes of one KV workload run. */
final case class KvSizes(
    keys: Int, // keys loaded in set-up, split evenly over the clients
    setupRounds: Int,
    warmOps: Int, // untimed point ops per client before the point phase
    warmScanRounds: Int, // untimed whole-table rounds right before the timed ones
    pointOps: Int, // timed point ops per client
    scanRounds: Int, // timed whole-table rounds
    recoveries: Int) // timed engine boots on the data dir after the point phase

/** The two KV workloads. `kv_snapshot` compacts its set-up keys into the
  * parquet snapshot, so nearly every point op runs a Spark point lookup;
  * `kv_delta` keeps everything in the in-memory delta and the WAL, so no
  * point op touches Spark.
  *
  * Clients are closed-loop threads, one user each, each on its own key
  * slice, so a plain per-client map ([[Model]]) predicts every result. */
final class KvWorkload(spark: SparkSession, trace: Trace, work: Path,
    seed: Long, snapshot: Boolean, sizes: KvSizes,
    wrongExpectation: Boolean) {
  import KvWorkload._
  private val sc = spark.sparkContext
  val clients = math.min(4, Runtime.getRuntime.availableProcessors())
  val checks = new Checks
  val e2e = new Metrics
  val layers = new Metrics
  private val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val opSpans = mutable.Map.empty[String, mutable.ArrayBuffer[Span]]
  var attempted = 0L
  var failed = 0L
  private var mutations = 0L
  private var userBytes = 0L

  private val mix: Seq[(String, Int)] =
    if (snapshot) Seq("kvg" -> 80, "kvu" -> 10, "kvi" -> 5, "kvd" -> 4, "kvt" -> 1)
    else Seq("kvg" -> 50, "kvu" -> 20, "kvi" -> 15, "kvd" -> 10, "kvt" -> 5)

  private def options(dir: Path) = EngineOptions(
    upQuota = Long.MaxValue / 4, downQuota = Long.MaxValue / 4,
    reqQuota = Long.MaxValue / 4, quotaDurSec = 3600.0,
    dataDir = Some(dir), rng = new Random(seed))

  private def record(kind: String, s: Span, failedOp: Boolean): Unit = synchronized {
    attempted += 1
    if (failedOp) failed += 1
    lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s.ms
    if (trace.on) opSpans.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s
  }

  /** One client: a user, a key slice and the model of that slice. */
  final class Client(val id: Int, engine0: Engine) {
    @volatile var engine: Engine = engine0
    val user = s"user$id"
    val model = new Model
    private val rng = new Random(seed * 7919 + id)
    private var nextNew = 0
    private var version = 0L
    val lats = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

    def key(i: Int): String = f"c$id%d-k$i%07d"
    def value(k: String): Array[Byte] = {
      version += 1
      val head = s"$k:$version:"
      val b = new Array[Byte](ValueBytes)
      var i = 0
      while (i < ValueBytes) {
        b(i) = if (i < head.length) head.charAt(i).toByte
          else ('a' + rng.nextInt(26)).toByte
        i += 1
      }
      b
    }

    /** Set-up load: inserts this client's slice, untimed per op. */
    def load(n: Int): Unit = (0 until n).foreach { _ =>
      val k = key(nextNew); nextNew += 1
      val v = value(k)
      val r = engine.kvInsert(user, Pass, k, v)
      checks.expect(r.succeeded && r.msg == Codes.OK, s"load $k: ${r.msg}")
      model.put(k, v)
    }

    private def pick(): String = {
      var d = rng.nextInt(100)
      mix.find { case (_, w) => d -= w; d < 0 }.get._1
    }

    /** One op of the mix, checked against the model; `timed` records it. */
    def step(timed: Boolean): Unit = {
      val kind = pick()
      val k = kind match {
        case "kvi" => val k = key(nextNew); nextNew += 1; k
        case _ => key(rng.nextInt(math.max(1, nextNew)))
      }
      val v = if (kind == "kvi" || kind == "kvu") value(k) else null
      val (r, s) = trace.span(sc, s"engine.$kind") {
        try kind match {
          case "kvg" => engine.kvGet(user, Pass, k)
          case "kvu" => engine.kvUpsert(user, Pass, k, v)
          case "kvi" => engine.kvInsert(user, Pass, k, v)
          case "kvd" => engine.kvDelete(user, Pass, k)
          case "kvt" => engine.kvTop(user, Pass)
        } catch { case t: Throwable => Result(false, s"${Codes.ERR_SERVER}: $t") }
      }
      val failedOp = r.msg.startsWith(Codes.ERR_SERVER)
      if (!failedOp) kind match {
        case "kvg" =>
          val exp = model.get(k)
          checks.expect(exp match {
            case Some(ev) => r.succeeded && r.msg == Codes.OK && java.util.Arrays.equals(ev, r.data)
            case None => !r.succeeded && r.msg == Codes.ERR_KEY
          }, s"KVG $k: got ${r.msg}, model has ${exp.isDefined}")
        case "kvu" =>
          val expCode = if (model.contains(k)) Codes.OK_UPDATE else Codes.OK_INSERT
          checks.expect(r.succeeded && r.msg == expCode, s"KVU $k: got ${r.msg}, want $expCode")
          model.put(k, v); mutationDone(k, v)
        case "kvi" =>
          val fresh = !model.contains(k)
          checks.expect(r.succeeded == fresh &&
            r.msg == (if (fresh) Codes.OK else Codes.ERR_KEY), s"KVI $k: got ${r.msg}")
          if (fresh) { model.put(k, v); mutationDone(k, v) }
        case "kvd" =>
          val had = model.contains(k)
          checks.expect(r.succeeded == had &&
            r.msg == (if (had) Codes.OK else Codes.ERR_KEY), s"KVD $k: got ${r.msg}")
          if (had) { model.remove(k); mutationDone(k, null) }
        case "kvt" =>
          // the MRU list is shared by all clients, so only its shape is
          // predictable: at most topSize keys, each one some client's key
          val lines = r.dataUtf8.split("\n").filter(_.nonEmpty)
          checks.expect(r.succeeded && lines.length <= 4 &&
            lines.forall(_.matches("c\\d+-k\\d{7}")), s"KVT: ${r.msg} ${r.dataUtf8}")
      }
      if (timed) {
        record(kind, s, failedOp)
        lats.getOrElseUpdate(if (kind == "kvg" || kind == "kvt") kind else "write",
          mutable.ArrayBuffer.empty) += s.ms
      }
    }

    private def mutationDone(k: String, v: Array[Byte]): Unit =
      KvWorkload.this.synchronized { mutations += 1; if (v != null) userBytes += k.length + v.length }
  }

  private def runClients(cs: Seq[Client])(body: Client => Unit): Double = {
    val t0 = System.nanoTime()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val ts = cs.map(c => new Thread(() => try body(c) catch { case t: Throwable => errs.add(t) }))
    ts.foreach(_.start()); ts.foreach(_.join())
    errs.asScala.headOption.foreach(t => throw t)
    (System.nanoTime() - t0) / 1e9
  }

  private def freshEngine(dir: Path): Engine = {
    val e = new Engine(spark, options(dir))
    checks.expect(e.register(Admin, Pass).succeeded, "register admin")
    (0 until clients).foreach(i =>
      checks.expect(e.register(s"user$i", Pass).succeeded, s"register user$i"))
    registerFuncs(e)
    e
  }

  private def registerFuncs(e: Engine): Unit =
    Seq("gather" -> BuiltinFuncs.AllKeys, "tree" -> BuiltinFuncs.AllKeysAssoc,
      "dump" -> DumpFn).foreach { case (n, f) =>
      checks.expect(e.registerBuiltin(Admin, Pass, n, f).succeeded, s"KVF $n")
    }

  /** Set-up: a fresh engine on a fresh data dir, the keys loaded through
    * KVI by all clients, then (kv_snapshot) one SAV into the parquet
    * snapshot. Repeated `setupRounds` times; the last round's store is
    * the one the phases run on. */
  private def setup(): (Engine, Seq[Client], Path) = {
    var last: (Engine, Seq[Client], Path) = null
    val times = (1 to sizes.setupRounds).map { round =>
      val dir = work.resolve(s"store-$round")
      val t0 = System.nanoTime()
      val e = freshEngine(dir)
      val cs = (0 until clients).map(new Client(_, e))
      runClients(cs)(_.load(sizes.keys / clients))
      if (snapshot) checks.expect(e.save(Admin, Pass).succeeded, "SAV")
      val sec = (System.nanoTime() - t0) / 1e9
      if (last != null) deleteTree(last._3)
      last = (e, cs, dir)
      sec
    }
    e2e.put("setup_s", Stats.median(times), "s")
    System.err.println(s"[perfbench] setup rounds (s): ${times.map(t => f"$t%.3f").mkString(" ")}")
    last
  }

  private def models(cs: Seq[Client]): Map[String, Array[Byte]] =
    cs.flatMap(_.model.entries).toMap

  /** Whole-table ops, each checked against the union of the models. */
  private def scanOp(e: Engine, kind: String, expected: Map[String, Array[Byte]],
      timed: Boolean): Unit = {
    val (r, s) = trace.span(sc, s"engine.$kind") {
      try kind match {
        case "kmr_gather" => e.invokeMr(Admin, Pass, "gather")
        case "kmr_tree" => e.invokeMr(Admin, Pass, "tree")
        case "kva" => e.kvAll(Admin, Pass)
        case "sav" => e.save(Admin, Pass)
      } catch { case t: Throwable => Result(false, s"${Codes.ERR_SERVER}: $t") }
    }
    val failedOp = r.msg.startsWith(Codes.ERR_SERVER)
    val keys = expected.keys.toSeq.sorted
    if (!failedOp) kind match {
      case "kmr_gather" =>
        checks.expect(r.succeeded && r.dataUtf8.split("\n").filter(_.nonEmpty).sorted.toSeq == keys,
          "KMR gather key list differs from the model")
      case "kmr_tree" =>
        checks.expect(r.succeeded && r.dataUtf8 == keys.mkString("\n"),
          "KMR tree output differs from the model's sorted keys")
      case "kva" =>
        checks.expect(r.succeeded && r.dataUtf8.split("\n").filter(_.nonEmpty).sorted.toSeq == keys,
          "KVA key set differs from the model")
      case "sav" => checks.expect(r.succeeded, s"SAV: ${r.msg}")
    }
    if (timed) record(kind, s, failedOp)
  }

  /** Full-table check: every key and value the engine serves through KMR
    * must equal the model, which covers every acknowledged write. */
  private def checkTable(e: Engine, expected: Map[String, Array[Byte]], what: String): Unit = {
    val r = e.invokeMr(Admin, Pass, "dump")
    val got = r.dataUtf8.split("\n").filter(_.nonEmpty).map { l =>
      val i = l.indexOf('\t'); l.take(i) -> l.drop(i + 1)
    }.toMap
    val want = expected.map { case (k, v) => k -> new String(v, "UTF-8") }
    val wanted = if (wrongExpectation) want.updated(want.keys.min, "wrong") else want
    checks.expect(r.succeeded && got == wanted,
      s"table $what differs from the model: ${got.size} vs ${wanted.size} keys" +
        s", ${(wanted.toSet diff got.toSet).size} rows missing or changed")
  }

  /** A fresh engine on `dir`, timed until its first op answers. Only a
    * `timed` boot is recorded as an `engine.boot` op. */
  private def boot(dir: Path, probe: Client, timed: Boolean): (Engine, Double) = {
    val (e, s) = trace.span(sc, "engine.boot") {
      val e = new Engine(spark, options(dir))
      val k = probe.key(0)
      val r = e.kvGet(probe.user, Pass, k)
      checks.expect(r.succeeded == probe.model.contains(k), s"first op after boot: ${r.msg}")
      e
    }
    if (timed) record("boot", s, failedOp = false)
    registerFuncs(e)
    (e, s.ms / 1e3)
  }

  def run(): Unit = {
    val (engine, cs, dir) = setup()
    val gcBefore = Jvm.snapshot()
    val t0 = System.nanoTime()
    // warm-up of the point ops on the real store, untimed and unrecorded
    runClients(cs)(c => (1 to sizes.warmOps).foreach(_ => c.step(timed = false)))
    val pointStart = attempted
    val walBefore = walBytes(dir)
    val mutBefore = mutations
    val ubBefore = userBytes
    // the point phase runs as PointRounds back-to-back rounds; the reported
    // rate is the median round's, so a burst of CPU taken by other tenants
    // of the machine moves one round, not the figure
    val rates = (1 to PointRounds).map { _ =>
      val before = attempted
      val sec = runClients(cs)(c => (1 to sizes.pointOps / PointRounds).foreach(_ => c.step(timed = true)))
      (attempted - before) / sec
    }
    val pointOps = attempted - pointStart
    layers.put("kvstore.wal_bytes_per_write",
      (walBytes(dir) - walBefore).toDouble / math.max(1, mutations - mutBefore), "B")
    layers.put("kvstore.wal_bytes_per_user_byte",
      (walBytes(dir) - walBefore).toDouble / math.max(1, userBytes - ubBefore), "B/B")
    val all = cs.flatMap(_.lats.toSeq)
    val byKind = all.groupBy(_._1).map { case (k, xs) => k -> xs.flatMap(_._2) }
    val point = all.flatMap(_._2)
    e2e.put("ops_per_s", Stats.median(rates), "ops/s")
    e2e.put("op_p50_ms", Stats.median(byKind.getOrElse("kvg", Nil)), "ms")
    val (tailName, tail) = Stats.tail(point)
    layers.put("engine.point.tail_ms", tail, "ms")
    System.err.println(f"[perfbench] point phase: $pointOps ops, rounds at " +
      rates.map(r => f"$r%.0f").mkString(" ") + " ops/s; " +
      f"kvg p50 ${Stats.median(byKind.getOrElse("kvg", Nil))}%.3f ms, write p50 " +
      f"${Stats.median(byKind.getOrElse("write", Nil))}%.3f ms, $tailName $tail%.3f ms")

    // restart on the same data dir while the WAL still holds the point
    // phase's writes: each boot replays them and is timed until its first
    // op answers, and the replayed table must equal the model before the
    // rebooted engine serves the whole-table phase
    val replayed = walRecords(dir)
    layers.put("kvstore.replayed_records", replayed.toDouble, "count")
    var eng = engine
    val boots = (1 to sizes.recoveries).map { _ =>
      val (e, sec) = boot(dir, cs.head, timed = true)
      eng = e; sec
    }
    cs.foreach(_.engine = eng)
    checkTable(eng, models(cs), "after WAL replay")
    System.err.println(f"[perfbench] restart: $replayed WAL records replayed")

    // whole-table phase: a fixed number of rounds, so every run does the
    // same operations. The whole-table ops keep getting faster for several
    // rounds in a fresh JVM (SAV went from about 1.4 s to 0.7 s over its
    // first seven timed calls), so untimed rounds come first, right before
    // the timed ones, and each op's median over the timed rounds is kept.
    var bulk = 0.0
    if (snapshot) {
      (1 to sizes.warmScanRounds + sizes.scanRounds).foreach { round =>
        val m = models(cs)
        scanOps.foreach(k => scanOp(eng, k, m, timed = round > sizes.warmScanRounds))
      }
      bulk = (scanOps :+ "boot").map(k => Stats.median(lat(k).toSeq) / 1e3).sum
    } else {
      val m = models(cs)
      scanOp(eng, "kmr_gather", m, timed = false)
      (1 to sizes.scanRounds).foreach(_ => scanOp(eng, "kmr_gather", m, timed = true))
      scanOp(eng, "sav", m, timed = true)
      bulk = boots.min + lat("kmr_gather").min / 1e3
    }
    e2e.put("bulk_s", bulk, "s")
    layers.put("jvm.retained_heap_mb", Jvm.retainedHeapMb(), "MB")
    Jvm.layerMetrics(gcBefore, layers)
    System.err.println(f"[perfbench] warm-up and timed phases: ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // durability: the table after SAV, and after a restart, equals the model
    val expected = models(cs)
    checkTable(eng, expected, "after SAV")
    val (rebooted, _) = boot(dir, cs.head, timed = false)
    checkTable(rebooted, expected, "after restart")
    layers.put("kvstore.store_bytes_per_user_byte", treeBytes(dir).toDouble /
      math.max(1, expected.map { case (k, v) => k.length + v.length }.sum), "B/B")
    snapshotStats(dir)
    engineLayers()
    System.err.println(s"[perfbench] ${lat.map { case (k, v) => s"$k=${v.size}" }.mkString(" ")}")
    (scanOps :+ "boot").filter(lat.contains).foreach(k =>
      System.err.println(s"[perfbench] $k ms: ${lat(k).map(x => f"$x%.0f").mkString(" ")}"))
  }

  private def snapshotStats(dir: Path): Unit = {
    val current = walk(dir).filter(_.getFileName.toString.startsWith("kv_snapshot.g"))
      .sortBy(_.getFileName.toString).lastOption
    val files = current.toSeq.flatMap(walk).filter(_.toString.endsWith(".parquet"))
    layers.put("kvstore.snapshot_files", files.size.toDouble, "count")
    layers.put("kvstore.snapshot_bytes", files.map(Files.size).sum.toDouble, "B")
  }

  /** engine.<op>.{ops,p50_ms,spark_jobs_per_op,spark_ms_per_op,self_ms_per_op} */
  private def engineLayers(): Unit = {
    Trace.drain(sc)
    EngineOps.foreach { op =>
      val xs = lat.getOrElse(op, mutable.ArrayBuffer.empty[Double])
      val spans = opSpans.getOrElse(op, mutable.ArrayBuffer.empty[Span])
      val costs = spans.flatMap(s => trace.cost(s.opId))
      val n = math.max(1, spans.size)
      val sparkMs = costs.map(_.jobNs.get).sum / 1e6 / n
      layers.put(s"engine.$op.ops", xs.size.toDouble, "count")
      layers.put(s"engine.$op.p50_ms", Stats.median(xs.toSeq), "ms")
      layers.put(s"engine.$op.spark_jobs_per_op", costs.map(_.jobs.get).sum.toDouble / n, "count")
      layers.put(s"engine.$op.spark_ms_per_op", sparkMs, "ms")
      layers.put(s"engine.$op.self_ms_per_op",
        math.max(0.0, spans.map(_.ms).sum / n - sparkMs), "ms")
      if (op == "kmr_gather")
        layers.put("mapreduce.gathered_mb", costs.map(_.resultBytes.get).sum / 1e6 / n, "MB")
    }
  }
}

object KvWorkload {
  final val ValueBytes = 100
  final val PointRounds = 10
  final val Admin = "admin"
  final val Pass = "pw"
  val EngineOps = Seq("kvg", "kvi", "kvu", "kvd", "kvt", "kva", "kmr_gather",
    "kmr_tree", "sav", "boot")
  private val scanOps = Seq("kmr_gather", "kmr_tree", "kva", "sav")

  /** map = "key\tvalue" (values are ASCII); reduce = newline join. */
  object DumpFn extends MapReduceFn {
    def map(key: String, value: Array[Byte]): Array[Byte] =
      (key + "\t" + new String(value, "UTF-8")).getBytes("UTF-8")
    def reduce(all: Seq[Array[Byte]]): Array[Byte] =
      all.map(new String(_, "UTF-8")).mkString("\n").getBytes("UTF-8")
  }

  def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else { val s = Files.walk(p); try s.iterator.asScala.toList finally s.close() }
  def treeBytes(p: Path): Long = walk(p).filter(Files.isRegularFile(_)).map(Files.size).sum
  def deleteTree(p: Path): Unit = walk(p).reverse.foreach(Files.deleteIfExists(_))
  private def wal(dir: Path) = dir.resolve("kv_wal.jsonl")
  def walBytes(dir: Path): Long = if (Files.exists(wal(dir))) Files.size(wal(dir)) else 0L
  def walRecords(dir: Path): Long =
    if (!Files.exists(wal(dir))) 0L
    else { val s = Files.lines(wal(dir)); try s.count() - 1 finally s.close() }
}

/** A client's view of its own key slice: the plain-map semantics of
  * KVI/KVU/KVD/KVG that the engine must reproduce. */
final class Model {
  private val m = mutable.HashMap.empty[String, Array[Byte]]
  def get(k: String): Option[Array[Byte]] = m.get(k)
  def contains(k: String): Boolean = m.contains(k)
  def put(k: String, v: Array[Byte]): Unit = m(k) = v
  def remove(k: String): Unit = m.remove(k)
  def entries: Seq[(String, Array[Byte])] = m.toSeq
}

/** Collects check outcomes; the first few failures are kept for the log. */
final class Checks {
  private val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]
  def expect(ok: Boolean, what: => String): Unit = if (!ok) failures.add(what)
  def ok: Boolean = failures.isEmpty
  def first: Seq[String] = failures.asScala.take(5).toSeq
}

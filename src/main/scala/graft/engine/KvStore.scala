package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** One row of THE analytics table (ref: kv_store `Map<string, vector<uint8_t>>`,
  * p5/server/my_storage.cc:32). */
final case class KV(key: String, value: Array[Byte])

/** Log-structured mutable KV table over immutable Spark Datasets.
  *
  * Architecture (SURVEY.md §1.4, §7.1): current table = parquet snapshot ∪
  * delta memtable, folded last-writer-wins with tombstones. This is the
  * standard LSM shape a Spark-native mutable table takes at scale:
  *
  *  - the SNAPSHOT is distributed parquet — at 100 TB it is the bulk of the
  *    data and is only ever scanned/written by the cluster, never collected;
  *  - the MEMTABLE holds ops since the last compaction. It is bounded by
  *    compaction cadence (SAV), exactly like the reference's append-only redo
  *    log between compactions (ref: p3/server/format.h:101-111);
  *  - `view` shadows snapshot rows via a broadcast anti-join on the (small)
  *    delta key set — no shuffle of the big side;
  *  - the WAL (`logPath`) is a [[RedoLog]] of PUT/DEL records under a
  *    version-sentinel header, fsync'd per mutation before the op returns
  *    (ref: p3/server/my_storage.cc:303-304) and replayed at boot by
  *    `RedoLog.recover` (ref load_file: p3/server/my_storage.cc:573-702);
  *  - `save()` = write the folded view as the next snapshot GENERATION
  *    (bucket-partitioned for point-lookup pruning), truncate the log, GC
  *    older generations (ref SAV compaction: p3/server/my_storage.cc:505-565).
  *
  * Point ops prefer the memtable and fall back to one pushed-down parquet
  * point lookup on the snapshot, `snapshotGet` (predicate pushdown; at
  * scale this is a key-partitioned/bucketed scan, not a full pass). Every
  * point mutation goes through `mutate`, which prefetches that lookup
  * outside the key's lock.
  */
final class KvStore(spark: SparkSession, dataDir: Option[Path] = None) {
  import spark.implicits._

  /** delta since last compaction: key -> Some(value) | None (tombstone).
    * ConcurrentHashMap gives per-key atomicity (compute) so point ops run
    * concurrently — the analog of the reference's per-bucket locks
    * (ref: p2/server/concurrenthashmap.h:34-43). */
  private val mem =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Array[Byte]]]()

  /** Scan/compaction exclusivity: point ops hold the read side (mutually
    * concurrent), full-table view/save/clear hold the write side — the
    * observable equivalent of the reference's lock-all-buckets 2PL scans
    * (ref: p2/server/concurrenthashmap.h:223-235). */
  private val scanLock = new java.util.concurrent.locks.ReentrantReadWriteLock()
  private def withRead[A](f: => A): A = {
    scanLock.readLock.lock(); try f finally scanLock.readLock.unlock()
  }
  private def withScan[A](f: => A): A = {
    scanLock.writeLock.lock(); try f finally scanLock.writeLock.unlock()
  }

  private var snapshot: Option[DataFrame] = None
  private val logPath = dataDir.map(_.resolve("kv_wal.jsonl"))

  /** Snapshots are GENERATION-NUMBERED directories (`kv_snapshot.gNNNNNN`):
    * save() writes the next generation and leaves the previous one on disk
    * until the following save GCs it, so lazy Datasets handed out by
    * `view` BEFORE a compaction still read their (immutable) files after
    * it. A generation is complete iff parquet's `_SUCCESS` marker exists —
    * no rename dance, so there is no crash window where the only complete
    * snapshot is mid-deletion. (Views taken more than one compaction cycle
    * ago die with the GC'd generation — materialize before holding results
    * across multiple saves.) */
  private var gen: Long = 0L
  private def genDir(n: Long): Path =
    dataDir.get.resolve(f"kv_snapshot.g$n%06d")
  private def genNumber(p: Path): Option[Long] = {
    val name = p.getFileName.toString
    if (name.startsWith("kv_snapshot.g"))
      scala.util.Try(name.stripPrefix("kv_snapshot.g").toLong).toOption
    else None
  }
  /** NIO streams hold directory FDs until closed — materialize under
    * try/finally (a long-running engine compacting frequently would
    * otherwise leak one FD per call until GC finalizes them). */
  private def listPaths(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }
  private def walkPaths(p: Path): Seq[Path] = {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private def listGens(): Seq[(Long, Path)] = dataDir.toSeq.flatMap { base =>
    if (!Files.exists(base)) Nil
    else listPaths(base).flatMap(p => genNumber(p).map(_ -> p))
  }

  // boot: migrate any legacy single-dir snapshot (incl. its crash states),
  // adopt the newest complete generation, then replay the WAL
  // (ref load: p3/server/my_storage.cc:573-702)
  dataDir.foreach { base =>
    // first boot on a fresh path: the dir must exist before the first
    // WAL append (Files.writeString does not create parents)
    Files.createDirectories(base)
    // ---- legacy layout migration (pre-generation format) ----
    val legacy = base.resolve("kv_snapshot")
    val legacyTmp = base.resolve("kv_snapshot.tmp")
    if (Files.exists(legacyTmp.resolve("_SUCCESS"))) {
      // legacy crash mid-swap: a COMPLETE tmp always wins — it is the fold
      // of the old snapshot + WAL (replay over it is idempotent); the old
      // dir may be mid-deletion and silently missing part files.
      deleteRecursively(legacy)
      Files.move(legacyTmp, legacy, StandardCopyOption.ATOMIC_MOVE)
    } else deleteRecursively(legacyTmp)
    if (Files.exists(legacy)) {
      val next = listGens().map(_._1).maxOption.getOrElse(0L) + 1
      Files.move(legacy, genDir(next), StandardCopyOption.ATOMIC_MOVE)
    }
    // ---- adopt newest complete generation; GC everything else ----
    val gens = listGens()
    val complete = gens.filter { case (_, p) =>
      Files.exists(p.resolve("_SUCCESS"))
    }
    gen = complete.map(_._1).maxOption.getOrElse(0L)
    // no live views exist at boot: drop incomplete writes + older gens
    gens.filterNot(_._1 == gen).foreach { case (_, p) => deleteRecursively(p) }
    complete.find(_._1 == gen).map(_._2).filter(hasDataFiles).foreach { d =>
      snapshot = Some(spark.read.parquet(d.toString))
    }
    // The sentinel opens every WAL this version writes and decides the
    // format EXACTLY: a torn first data record can never masquerade as a
    // legacy record (a cut inside the sentinel itself fails sentinel match
    // AND record replay, so the whole file quarantines to the empty prefix,
    // which is the correct crash state for a ≤1-record WAL). A
    // sentinel-less WAL predates it and is migrated on this boot.
    logPath.foreach(
      RedoLog.recover(_, Some(KvStore.WalSentinel), "[kvstore] WAL")(replay))
    initWal()
  }

  /** Apply one replayed WAL record to the delta: `PUT key value` or
    * `DEL key` (tombstone). */
  private def replay(r: RedoLog.Record): Unit = r.op match {
    case "PUT" =>
      require(r.fields.size == 2, "malformed PUT record")
      mem.put(r.text(0), Some(r.fields(1)))
    case "DEL" =>
      require(r.fields.size == 1, "malformed DEL record")
      mem.put(r.text(0), None)
    case other => throw new IllegalArgumentException(s"unknown op $other")
  }

  /** Create the WAL file with its sentinel header if absent. Only called
    * from exclusive contexts (boot constructor, save/clear under the scan
    * write lock), so no two writers can race the header. */
  private def initWal(): Unit = logPath.foreach { p =>
    if (!Files.exists(p)) RedoLog.append(p, KvStore.WalSentinel + "\n")
  }

  /** WAL append of one mutation: `PUT key value`, or `DEL key` when the
    * new value is a tombstone. The file is pre-created with the sentinel by
    * initWal() (boot/save/clear, all exclusive) — writing the header here
    * instead would be a check-then-act race: two concurrent first-appends
    * both see a missing file and interleave TWO sentinels, and the second
    * one fails replay at boot, quarantining every acknowledged record
    * behind it. */
  private def logOp(key: String, value: Option[Array[Byte]]): Unit =
    logPath.foreach { p =>
      val k = key.getBytes("UTF-8")
      RedoLog.append(p, value match {
        case Some(v) => RedoLog.encode("PUT", k, v)
        case None => RedoLog.encode("DEL", k)
      })
    }

  /** Buckets per snapshot: the analog of the reference's bucket count
    * (ref: std::hash % buckets addressing, p2/server/concurrenthashmap.h:
    * 88-111). At 100 TB this scales with data volume so one bucket stays a
    * few files; point lookups always touch exactly one bucket. */
  final val NumBuckets = 32

  /** Deterministic key→bucket hash, written as a partition column by save()
    * and re-derived as a FOLDABLE expression at lookup time: Catalyst
    * constant-folds `pmod(xxhash64(lit(k)), n)` to a literal, so the filter
    * becomes a partition-pruning predicate — the scan reads ONE bucket
    * directory, never the whole snapshot (asserted in EngineKvSpec). */
  private def bucketOf(keyCol: org.apache.spark.sql.Column) =
    pmod(xxhash64(keyCol), lit(NumBuckets.toLong))

  /** Point-lookup DataFrame over the snapshot: bucket-pruned when the
    * snapshot is bucket-partitioned (post-save), plain filter otherwise
    * (ingest() adoptions). Package-visible for plan assertions in specs. */
  private[engine] def snapshotPointDf(key: String): Option[DataFrame] =
    snapshot.map { s =>
      val pruned =
        if (s.columns.contains("__bucket"))
          s.filter(col("__bucket") === bucketOf(lit(key)))
        else s
      pruned.filter(col("key") === key)
    }

  private def snapshotGet(key: String): Option[Array[Byte]] =
    snapshotPointDf(key).flatMap(_.select("value")
      .as[Array[Byte]].collect().headOption)

  /** Bulk ingest: adopt a distributed Dataset as the table snapshot — the
    * scale path for loading an existing corpus (no per-row WAL; the snapshot
    * itself is the durable form, as after a SAV). */
  def ingest(df: Dataset[KV]): Unit = withScan {
    snapshot = Some(df.toDF())
  }

  /** The per-key atomic read-modify-write behind every point mutation:
    * `f` sees the key's current value — its delta entry, else its snapshot
    * value — and returns the new value to log and store (`Some(None)` is a
    * tombstone), or None to leave the key untouched. The WAL append happens
    * inside the compute, the analog of the reference's
    * append-inside-bucket-lock callback (§2.2). Returns whether `f` changed
    * the key.
    *
    * The snapshot value is prefetched OUTSIDE the CHM bin lock: the lookup
    * runs a Spark job, and compute() holds the bin lock for its whole body
    * (CHM's contract asks for short compute functions — a distributed query
    * under it would stall every key hashing to the same bin). Consistency:
    * the snapshot is frozen while we hold the store's read lock (SAV
    * compaction takes the write lock), so the prefetched value can only go
    * stale if a concurrent writer puts the key into the DELTA — in which
    * case compute() sees cur != null and never consults the prefetch. */
  private def mutate(key: String)(
      f: Option[Array[Byte]] => Option[Option[Array[Byte]]]): Boolean =
    withRead {
      val prefetched = if (mem.containsKey(key)) None else snapshotGet(key)
      var changed = false
      mem.compute(key, (_, cur) =>
        f(if (cur == null) prefetched else cur) match {
          case None => cur
          case Some(next) => changed = true; logOp(key, next); next
        })
      changed
    }

  /** insert-if-absent; false if key already present (ref map.h:30). */
  def insert(key: String, value: Array[Byte]): Boolean =
    mutate(key) {
      case None => Some(Some(value))
      case Some(_) => None
    }

  /** upsert; returns true when it was an insert (ref map.h:43-44). */
  def upsert(key: String, value: Array[Byte]): Boolean = {
    var wasAbsent = false
    mutate(key) { current => wasAbsent = current.isEmpty; Some(Some(value)) }
    wasAbsent
  }

  def remove(key: String): Boolean = mutate(key)(_.map(_ => None))

  /** do_with: atomic point read-modify-write (ref: map.h:54, impl
    * p2/server/concurrenthashmap.h:154-168): `f` sees the current value and
    * returns its replacement, applied and WAL-logged under the same per-key
    * atomic section a lone insert/upsert would use. `f` stays inside
    * compute: the per-key atomic read-modify-write IS the operator's
    * contract, and that cost is the caller's code, not a hidden distributed
    * scan. Returns false when the key is absent (the reference invokes its
    * on-absent hook and returns false). */
  def doWith(key: String, f: Array[Byte] => Array[Byte]): Boolean =
    mutate(key)(_.map(v => Some(f(v))))

  def get(key: String): Option[Array[Byte]] = withRead {
    mem.get(key) match {
      case null => snapshotGet(key)
      case v => v // Some(bytes) live, None tombstoned
    }
  }

  def exists(key: String): Boolean = get(key).isDefined

  /** Snapshot normalized to the logical (key, value) schema — drops the
    * physical __bucket partition column save() adds for point-lookup
    * pruning. */
  private def snapshotKv: Option[DataFrame] =
    snapshot.map(s => if (s.columns.contains("__bucket"))
      s.select(col("key"), col("value")) else s)

  private def memEntries(): Map[String, Option[Array[Byte]]] = {
    val b = Map.newBuilder[String, Option[Array[Byte]]]
    mem.forEach((k, v) => b += (k -> v))
    b.result()
  }

  /** The folded, current table as a typed Dataset — the input to every
    * analytics operator (KMR, KVA, dedup, ...). Snapshot rows shadowed by
    * delta keys are dropped via broadcast anti-join (delta is small by
    * construction); live delta rows are unioned on top. */
  def view: Dataset[KV] = withScan {
    val entries = memEntries()
    val live = entries.collect { case (k, Some(v)) => KV(k, v) }.toSeq
    val touched = entries.keys.toSeq
    (snapshotKv, touched) match {
      case (None, _) => spark.createDataset(live)
      case (Some(s), Nil) => s.as[KV]
      case (Some(s), keys) =>
        val touchedDf = broadcast(keys.toDF("key"))
        s.join(touchedDf, Seq("key"), "left_anti").as[KV]
          .unionByName(spark.createDataset(live))
    }
  }

  def keys: Seq[String] = view.select("key").as[String].collect().toSeq

  /** SAV: compact to a fresh snapshot GENERATION, truncate the WAL, then GC
    * generations older than the immediately-previous one (ref compaction
    * contract: p3/server/my_storage.cc:505-565, format.h:101-103). Crash
    * windows: an interrupted generation write has no `_SUCCESS` and is
    * dropped at boot (old gen + untruncated WAL are the consistent state);
    * a crash after the write but before WAL truncation replays the WAL
    * over the new generation — idempotent, since the generation already
    * folds those ops.
    *
    * The snapshot is hash-partitioned into [[NumBuckets]] bucket
    * directories by key so subsequent point lookups prune to ONE bucket
    * (the reference's whole bucket-addressing point); full scans are
    * unaffected (they read every bucket in parallel). */
  def save(): Unit = withScan {
    dataDir.foreach { _ =>
      val next = gen + 1
      val d = genDir(next)
      view.withColumn("__bucket", bucketOf(col("key")))
        .write.partitionBy("__bucket").mode("overwrite").parquet(d.toString)
      logPath.foreach(Files.deleteIfExists(_))
      initWal()
      mem.clear()
      // an EMPTY table writes no partition directories (nothing to infer a
      // schema from) — an empty store simply has no snapshot
      snapshot = if (hasDataFiles(d)) Some(spark.read.parquet(d.toString))
        else None
      val prev = gen
      gen = next
      // keep current + previous generations (pre-save lazy views still read
      // the previous one); GC anything older
      listGens().filter { case (n, _) => n != gen && n != prev }
        .foreach { case (_, p) => deleteRecursively(p) }
    }
  }

  /** True when the snapshot dir holds any parquet data file — bucketed
    * (__bucket=N subdirs) or legacy flat layout; false for the fileless dir
    * an empty-table save leaves behind. */
  private def hasDataFiles(d: Path): Boolean =
    walkPaths(d).exists(_.getFileName.toString.endsWith(".parquet"))

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) walkPaths(p).reverse.foreach(Files.deleteIfExists(_))

  def clear(): Unit = withScan {
    mem.clear(); snapshot = None
    logPath.foreach(Files.deleteIfExists(_))
    initWal()
    listGens().foreach { case (_, p) => deleteRecursively(p) }
    gen = 0L
  }

  /** Directory of the current snapshot generation, if one exists — spec
    * hook for layout/pruning assertions. */
  private[engine] def currentSnapDir: Option[Path] =
    dataDir.map(_ => genDir(gen)).filter(Files.exists(_))
}

object KvStore {
  /** First line of every WAL written by this version — exact format
    * detection at boot (vs the any-marker heuristic needed for older
    * files). A '#'-led line can never be a valid record (ops are
    * PUT/DEL), so no data line collides with it. */
  val WalSentinel = "#graft-wal-v2"
}

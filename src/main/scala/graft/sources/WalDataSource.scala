package graft.sources

import java.util
import graft.engine.RedoLog
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** DataSourceV2 over the engine's write-ahead log: queries the redo log as
  * a table — `spark.read.format("graft.sources.WalDataSource").load(path)`
  * (or several paths) with schema `(seq BIGINT, op STRING, key STRING,
  * value BINARY)`.
  *
  * The reference's storage source/sink is exactly this: one append-only
  * record log replayed at boot (ref: p3/server/format.h:45-121,
  * p3/server/my_storage.cc:573-702). Exposing it as a Spark table makes the
  * log itself analyzable (fold-to-current-state, audit, op statistics) with
  * ordinary SQL.
  *
  * Scale shape: one [[InputPartition]] per WAL segment file — segments scan
  * in parallel and the fold (last-writer-wins by (key, seq)) is a normal
  * shuffle. Line offsets within a segment give the monotonic `seq`.
  */
class WalDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WalDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new WalTable(
      properties.asScala.get("path").toSeq ++
        WalDataSource.parsePaths(properties.asScala.get("paths")))
}

object WalDataSource {
  val schema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("value", BinaryType, nullable = true)))

  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Multi-path `load(p1, p2, ...)` arrives as a JSON array string under
    * "paths" (DSv2 contract); a single `option("paths", ...)` may be a bare
    * comma list. The JSON form is parsed with Spark's bundled Jackson so
    * every escape (\t, \uXXXX, ...) round-trips; malformed '['-prefixed
    * input throws IllegalArgumentException with the offending value (it is
    * never a valid comma list, so failing fast beats guessing paths). */
  def parsePaths(raw: Option[String]): Seq[String] = raw match {
    case None => Nil
    case Some(s) if s.trim.startsWith("[") =>
      // '['-prefixed input is never a valid comma list — fail loudly with
      // context instead of degrading to garbage paths that read as empty
      scala.util.Try {
        val node = mapper.readTree(s)
        (0 until node.size()).map(node.get(_).asText())
      }.getOrElse(throw new IllegalArgumentException(
        s"graft-wal: malformed JSON in 'paths' option: $s"))
    case Some(s) => s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
  }
}

final class WalTable(paths: Seq[String]) extends Table
    with SupportsRead with SupportsWrite {
  override def name(): String = s"graft_wal(${paths.mkString(",")})"
  override def schema(): StructType = WalDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)
  /** TIME TRAVEL: `option("asOfEpoch", E)` pins a batch read to the
    * sink's state as of streaming epoch E — the batch base generation
    * plus every COMMITTED epoch ≤ E. Epochs publish atomically and are
    * append-only, so an as-of read is a stable snapshot no matter how
    * far the live sink has advanced since. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WalScanBuilder(resolvePaths(options),
      Option(options.get("asOfEpoch")).map(_.toLong))

  /** Write side (SINK): `df.write.format("graft.sources.WalDataSource")
    * .mode(...).save(dir)` emits the engine's exact record format
    * (`OP\tb64(key)[\tb64(value)]\t#`), one segment file per task, with
    * the standard two-phase commit: every task writes a hidden temp file
    * and reports it in its commit message; only the DRIVER's job commit
    * renames temps to `part-NNNNN.wal` (so a speculative or failed task
    * attempt can never publish), and abort deletes temps. Input schema is
    * `(op STRING, key STRING, value BINARY)` — `seq` is derived from line
    * offsets on read, exactly like the engine's replay. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val dir = Option(info.options.get("path")).orElse(paths.headOption)
      .getOrElse(throw new IllegalArgumentException(
        "graft-wal sink: no target path — use save(dir)"))
    new WalWriteBuilder(dir, info.schema())
  }

  private def resolvePaths(options: CaseInsensitiveStringMap): Seq[String] = {
    val fromOpts = Option(options.get("path")).toSeq ++
      WalDataSource.parsePaths(Option(options.get("paths")))
    (paths ++ fromOpts).distinct
  }
}

final class WalWriteBuilder(dir: String, schema: StructType)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = {
    // fail DRIVER-SIDE before any task launches. The analyzer has already
    // resolved the input against the table schema, so `seq` arrives too —
    // it is positional storage metadata (line offset), so the sink
    // accepts it and IGNORES it; the read side assigns the authoritative
    // value, exactly like the engine's replay.
    val want = Seq(("seq", LongType), ("op", StringType),
      ("key", StringType), ("value", BinaryType))
    val got = schema.fields.map(f => (f.name, f.dataType)).toSeq
    require(got == want,
      s"graft-wal sink expects (seq LONG, op STRING, key STRING, value BINARY), got $got")
    new WalWrite(dir, doTruncate)
  }
}

final class WalWrite(dir: String, truncate: Boolean) extends Write {
  override def toBatch: BatchWrite = new WalBatchWrite(dir, truncate)
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    require(!truncate,
      "graft-wal sink: streaming writes are append-only (no Complete mode)")
    new WalStreamingWrite(dir)
  }
}

final case class WalCommitMessage(tmpPath: String)
  extends WriterCommitMessage

final class WalBatchWrite(dir: String, truncate: Boolean) extends BatchWrite {
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    new WalWriterFactory(dir)
  }

  /** Job commit (driver, once, after every task succeeded): truncate-then
    * -publish. Deleting old segments here — not at factory creation —
    * keeps the previous generation readable until the new one is fully
    * staged (the KvStore generation-snapshot discipline). Truncate removes
    * the WHOLE published generation — batch and streaming-epoch segments
    * plus epoch markers — since overwrite means "this dir now holds
    * exactly this write". */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val d = java.nio.file.Paths.get(dir)
    if (truncate) {
      val old = scala.util.Using.resource(java.nio.file.Files.list(d)) { st =>
        st.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          n.matches("part-\\d{5}\\.wal") ||
            n.matches("part-e\\d+-\\d{5}\\.wal") ||
            n.matches("\\.epoch-\\d+\\.ok")
        }.toList
      }
      old.foreach(java.nio.file.Files.delete)
    }
    messages.zipWithIndex.foreach { case (m, i) =>
      val tmp = java.nio.file.Paths.get(
        m.asInstanceOf[WalCommitMessage].tmpPath)
      java.nio.file.Files.move(tmp, d.resolve(f"part-$i%05d.wal"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case WalCommitMessage(tmp) =>
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(tmp))
      case _ => ()
    }
}

/** Streaming side of the sink: one committed segment generation per
  * micro-batch epoch, in the engine's exact record format — the
  * STREAMING_WRITE twin of [[WalBatchWrite]], so the streaming twins can
  * persist through the same committed-segment discipline and the log stays
  * engine-replayable end-to-end.
  *
  * Per-epoch two-phase commit: every task writes a hidden attempt-unique
  * temp file (exactly the batch writer); the DRIVER's epoch commit renames
  * them to `part-e<epoch>-NNNNN.wal` and then publishes the epoch
  * ATOMICALLY by renaming a hidden marker `.epoch-<epoch>.ok` into place
  * LAST. Exactly-once across restarts comes from IDEMPOTENT epoch commit:
  * structured streaming re-runs the last unacknowledged micro-batch after
  * a crash/restart, re-delivering the same epochId — if the epoch's
  * MARKER exists, the generation is durable and the replayed commit
  * discards its temps. The marker (not the segments) is the publication
  * bit: a driver crash mid-commit can leave SOME of an epoch's renames
  * landed with no marker, and an any-segment-exists check would then
  * discard the replayed temps and permanently drop the unrenamed
  * partitions' rows — so the replayed commit instead deletes the partial
  * unmarked generation, republishes every recomputed segment, and only
  * then drops the marker in place. Readers treat unmarked epoch segments
  * as unpublished (see [[WalSegments.list]]), closing the read side of the
  * same window (the WAL-generation analogue of the engine's
  * replay-idempotent boot, ref: p3/server/my_storage.cc:573-702). */
final class WalStreamingWrite(dir: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import java.nio.file.{Files, Paths}

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    Files.createDirectories(Paths.get(dir))
    new WalStreamingWriterFactory(dir)
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val d = Paths.get(dir)
    val marker = d.resolve(s".epoch-$epochId.ok")
    if (Files.exists(marker)) {
      // epoch replay after restart: the generation is already durable —
      // drop the re-computed temps, publish nothing
      messages.foreach { case WalCommitMessage(tmp) =>
        Files.deleteIfExists(Paths.get(tmp))
      }
    } else {
      // a crashed earlier commit may have renamed SOME segments without
      // reaching the marker; that partial generation was never visible
      // (readers require the marker) and is superseded wholesale by the
      // replayed computation
      val partial = scala.util.Using.resource(Files.list(d)) { st =>
        st.iterator().asScala.filter(
          _.getFileName.toString.matches(s"part-e$epochId-\\d{5}\\.wal")).toList
      }
      partial.foreach(Files.delete)
      messages.zipWithIndex.foreach { case (m, i) =>
        val tmp = Paths.get(m.asInstanceOf[WalCommitMessage].tmpPath)
        Files.move(tmp, d.resolve(f"part-e$epochId%d-$i%05d.wal"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      // marker LAST, via its own atomic rename: the epoch flips from
      // invisible to fully published in one filesystem operation
      val mTmp = Files.createTempFile(d, s".epoch-$epochId", ".tmp")
      Files.move(mTmp, marker,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case WalCommitMessage(tmp) => Files.deleteIfExists(Paths.get(tmp))
      case _ => ()
    }
}

final class WalStreamingWriterFactory(dir: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new WalDataWriter(dir, partitionId, taskId)
}

final class WalWriterFactory(dir: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new WalDataWriter(dir, partitionId, taskId)
}

/** Task-scope segment writer: [[RedoLog]] records stream to a hidden temp
  * file named by (partition, task attempt, uuid) — unique per ATTEMPT, so
  * retries never collide — and task commit merely reports the temp path;
  * the rename that publishes it is the driver's. */
final class WalDataWriter(dir: String, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {
  private val tmp = java.nio.file.Paths.get(dir,
    f".part-$partitionId%05d-$taskId-${java.util.UUID.randomUUID()}.tmp")
  private val out = java.nio.file.Files.newBufferedWriter(tmp)

  override def write(row: InternalRow): Unit = {
    // field 0 is `seq` — storage-positional, ignored on write (see
    // WalWriteBuilder.build)
    val key = row.getUTF8String(2).getBytes
    val fields = if (row.isNullAt(3)) Seq(key) else Seq(key, row.getBinary(3))
    out.write(RedoLog.encode(row.getUTF8String(1).toString, fields: _*))
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    WalCommitMessage(tmp.toString)
  }

  override def abort(): Unit = {
    out.close()
    java.nio.file.Files.deleteIfExists(tmp)
  }

  override def close(): Unit = ()
}

final class WalScanBuilder(paths: Seq[String],
    asOfEpoch: Option[Long] = None) extends ScanBuilder {
  override def build(): Scan = new WalScan(paths, asOfEpoch)
}

/** Published-segment discovery shared by the batch scan and the
  * micro-batch stream — one definition of "what is readable, in what
  * order", so both paths fold identically. */
object WalSegments {
  import java.nio.file.{Files, Path, Paths}
  private val BatchSeg = """part-(\d{5})\.wal""".r
  private val EpochSeg = """part-e(\d+)-(\d{5})\.wal""".r
  private val Marker = """\.epoch-(\d+)\.ok""".r

  /** A directory's published generation in global fold order: batch
    * segments by index, then streaming-epoch segments by PARSED
    * (epoch, index) — numeric, never lexicographic (epochs are not
    * zero-padded, so `part-e10-*` would otherwise sort before
    * `part-e2-*` and a cross-segment last-writer-wins fold by
    * (key, seq) would be ill-ordered). An epoch's segments are visible
    * ONLY once its `.epoch-<E>.ok` marker exists — segments without a
    * marker are a crashed commit's partial rename, superseded when the
    * replayed commit republishes the epoch. Temps (dot-prefixed) never
    * match either pattern, preserving the two-phase guarantee on read.
    *
    * This order is APPEND-ONLY under the streaming sink (epochs only
    * grow), which is what lets the micro-batch stream use "number of
    * published segments" as its offset. */
  def expandDir(dirP: Path, maxEpoch: Option[Long] = None): Seq[String] = {
    val names = scala.util.Using.resource(Files.list(dirP)) { st =>
      st.iterator().asScala.map(_.getFileName.toString).toList
    }
    val committed = names.collect { case Marker(e) => e.toLong }.toSet
    names.flatMap {
      case n @ BatchSeg(i) => Some(((-1L, i.toLong), n))
      case n @ EpochSeg(e, i)
          if committed(e.toLong) && maxEpoch.forall(e.toLong <= _) =>
        Some(((e.toLong, i.toLong), n))
      case _ => None
    }.sortBy(_._1).map { case (_, n) => dirP.resolve(n).toString }
  }

  /** Expand every path (directories to their published segments, files to
    * themselves) and assign each segment its global ordinal — the high
    * bits of every record's `seq`, making (key, seq) folds well-ordered
    * ACROSS segments, not just within one. */
  def plan(paths: Seq[String],
      maxEpoch: Option[Long] = None): Seq[WalInputPartition] =
    paths.flatMap { p =>
      val path = Paths.get(p)
      if (Files.isDirectory(path)) expandDir(path, maxEpoch) else Seq(p)
    }.zipWithIndex.map { case (p, ord) =>
      WalInputPartition(p, ord.toLong << 32)
    }
}

/** Registered round-trip through the DSv2 WAL SINK: project a KV insert
  * stream out of `customer`, write it through the two-phase committer,
  * read the published segments back with the DSv2 reader, and emit the
  * decoded records. The oracle digests the parquet SOURCE directly (the
  * [[JsonlExport.jsonlRoundtrip]] pattern) — equality proves the sink's
  * record format, the base64 round trip, and the committer's publish are
  * all lossless. */
object WalSink {
  def walSinkRoundtrip(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val src = graft.Tables.t(spark, dir, "customer").select(
      lit(0L).as("seq"), // positional; reassigned by the read side
      lit("PUT").as("op"),
      concat(lit("cust-"), col("c_custkey").cast("string")).as("key"),
      col("c_name").cast("binary").as("value"))
    val out = java.nio.file.Files.createTempDirectory("graft-walsink-")
    src.repartition(4, col("key")).write
      .format("graft.sources.WalDataSource")
      .mode("overwrite").save(out.toString)
    val parts = scala.util.Using.resource(java.nio.file.Files.list(out)) {
      st => st.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".wal")).toList.sorted
    }
    require(parts.nonEmpty, s"wal sink published no segments under $out")
    spark.read.format("graft.sources.WalDataSource").load(parts: _*)
      .select(col("op"), col("key"),
        col("value").cast("string").as("value_str"))
      .orderBy(col("key"))
  }

  val walSinkRoundtripSql: String =
    """SELECT 'PUT' AS op, 'cust-' || c_custkey AS key,
      |  c_name AS value_str
      |FROM customer ORDER BY key""".stripMargin
}

final class WalScan(paths: Seq[String],
    asOfEpoch: Option[Long] = None) extends Scan with Batch {
  override def readSchema(): StructType = WalDataSource.schema
  override def toBatch: Batch = this

  /** A directory path means "this sink's published generation": it expands
    * to its `*.wal` segments in [[WalSegments]] fold order, each its own
    * [[InputPartition]] — so `load(dir)` round-trips either committer's
    * output without the caller listing files. */
  override def planInputPartitions(): Array[InputPartition] =
    WalSegments.plan(paths, asOfEpoch).map(p => p: InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new WalReaderFactory

  /** MICRO_BATCH_READ: the log-as-table source in the streaming direction —
    * the same committed-segment generation the batch scan reads, exposed
    * as an unbounded stream so the engine's own WAL can FEED the streaming
    * twins. The offset is the LENGTH of the published-segment list: under
    * the streaming sink that list is append-only (epochs only grow, and an
    * epoch flips visible atomically via its marker), so a checkpointed
    * prefix count names a stable set of segments across restarts. Each
    * micro-batch reads exactly the newly published segments, with the same
    * global seq bases as the batch scan — restart at offset k re-reads
    * nothing and misses nothing. (A concurrent BATCH overwrite into the
    * same dir rewrites history and voids the prefix premise — the
    * streaming read contract is a streaming-sink-owned dir.) */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new WalMicroBatchStream(paths)
}

final class WalMicroBatchStream(paths: Seq[String])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  override def initialOffset(): Offset = WalStreamOffset(0L)
  override def latestOffset(): Offset =
    WalStreamOffset(WalSegments.plan(paths).size.toLong)
  override def deserializeOffset(json: String): Offset =
    WalStreamOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[WalStreamOffset].segments
    val e = end.asInstanceOf[WalStreamOffset].segments
    // the ordinal (hence seq base) rides along from the GLOBAL plan, so a
    // segment folds identically whether reached by batch or by stream
    WalSegments.plan(paths)
      .slice(s.toInt, e.toInt).map(p => p: InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new WalReaderFactory
}

final case class WalStreamOffset(segments: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = segments.toString
}

final case class WalInputPartition(path: String, seqBase: Long)
  extends InputPartition

final class WalReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[WalInputPartition]
    new WalPartitionReader(p.path, p.seqBase)
  }
}

/** Streams one WAL segment line-by-line (no whole-file materialization),
  * decoding with the engine's own codec, [[RedoLog]]. Records
  * missing the terminal `\t#` marker, with a wrong field count, or with
  * undecodable base64 are skipped — the same quarantine-not-crash defense
  * as engine replay, so one damaged record never kills the whole scan.
  * (Legacy marker-less logs are migrated to marker format by the engine's
  * first boot; read them through the engine, not this raw reader.) */
final class WalPartitionReader(path: String, seqBase: Long = 0L)
    extends PartitionReader[InternalRow] {
  private val reader =
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      java.nio.file.Files.newBufferedReader(java.nio.file.Paths.get(path))
    else null
  private var row: InternalRow = _
  // seq = (global segment ordinal << 32) | line offset: monotone within a
  // segment AND across segments in fold order, so last-writer-wins by
  // (key, seq) is well-defined over a whole published generation
  private var seq: Long = seqBase - 1L

  override def next(): Boolean = {
    if (reader == null) return false
    val line = reader.readLine()
    seq += 1
    if (line == null) false
    else parse(line) match {
      case Some(r) => row = r; true
      case None => next() // skip torn/legacy/malformed record
    }
  }

  /** Full structural validation happens HERE, not in get(): a marker-
    * terminated but malformed record ('X\t#', non-base64 fields) must be
    * skipped like a torn one, not crash the scan at get() time. Records are
    * `OP\tb64(key)[\tb64(value)]\t#`. */
  private def parse(line: String): Option[InternalRow] =
    scala.util.Try(RedoLog.decode(line, marked = true)).toOption
      .filter(r => r.fields.size == 1 || r.fields.size == 2)
      .map(r => InternalRow(seq, UTF8String.fromString(r.op),
        UTF8String.fromBytes(r.fields(0)), r.fields.lift(1).orNull))

  override def get(): InternalRow = row

  override def close(): Unit = if (reader != null) reader.close()
}

package graft.engine

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}
import java.util.Base64
import scala.jdk.CollectionConverters._
import scala.util.Try

/** The engine's one redo-log format, shared by the KV WAL ([[KvStore]]), the
  * auth log ([[AuthStore]]) and the WAL data source's segments — the
  * reference likewise keeps AUTHAUTH/AUTHDIFF and KV records in one
  * append-only log format (ref: p3/server/format.h:15-121).
  *
  * A record is one line `OP\tbase64(field)...\t#`. The terminal `#` field
  * makes records self-validating: base64 content can never contain `\t#`,
  * so a record torn ANYWHERE (even at a 4-char base64 boundary that would
  * still decode, e.g. a DEL whose key lost a suffix) fails the marker check
  * instead of replaying against the wrong key.
  *
  * Files: records are appended fsync'd before the op returns (ref:
  * p3/server/my_storage.cc:303-304); boot replays the valid prefix and
  * quarantines the rest ([[recover]]); compaction and repair replace a log
  * through an fsync'd sibling and an atomic rename ([[rewrite]]).
  */
object RedoLog {

  /** One decoded record: its op and its base64-decoded fields. */
  final case class Record(op: String, fields: IndexedSeq[Array[Byte]]) {
    def text(i: Int): String = new String(fields(i), UTF_8)
  }

  private val Marker = "\t#"

  /** The record line, newline included. */
  def encode(op: String, fields: Array[Byte]*): String = {
    require(!op.contains("\t") && !op.contains("\n"),
      s"redo-log op must not contain separators: $op")
    val enc = Base64.getEncoder
    val sb = new java.lang.StringBuilder(op)
    fields.foreach(f => sb.append('\t').append(enc.encodeToString(f)))
    sb.append(Marker).append('\n').toString
  }

  /** Decode one line; throws on a missing marker (unless `marked` is false:
    * pre-marker records carry none) or on undecodable base64. */
  def decode(line: String, marked: Boolean): Record = {
    require(!marked || line.endsWith(Marker), "unterminated record")
    val parts = line.stripSuffix(Marker).split("\t", -1)
    Record(parts(0), parts.toIndexedSeq.tail.map(Base64.getDecoder.decode))
  }

  /** Append `text`, on disk before this returns. */
  def append(p: Path, text: String): Unit =
    Files.writeString(p, text, StandardOpenOption.CREATE,
      StandardOpenOption.APPEND, StandardOpenOption.SYNC)

  /** Replace the log at `p` with `text`: written to the `<p><suffix>`
    * sibling, fsync'd, then atomically renamed over `p` — a crash
    * mid-rewrite leaves the old log whole (ref SAV:
    * p3/server/my_storage.cc:505-565). */
  def rewrite(p: Path, suffix: String, text: String): Unit = {
    val tmp = sibling(p, suffix)
    Files.writeString(tmp, text, StandardOpenOption.CREATE,
      StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.SYNC)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def sibling(p: Path, suffix: String): Path =
    p.resolveSibling(p.getFileName.toString + suffix)

  /** Boot recovery of the log at `p`, if it exists (ref load:
    * p3/server/my_storage.cc:573-702). Records replay through `replay` in
    * order, up to the first one that fails to decode or that `replay`
    * rejects by throwing. That record and everything after it are appended
    * to `<p>.torn` — quarantined, not deleted: a record damaged mid-file may
    * be followed by intact acknowledged ones, kept for manual recovery —
    * and `p` is rewritten to the replayed prefix, so later appends never
    * concatenate onto a partial record.
    *
    * `header` is the first line of every file this version writes, for a
    * log that has one; it decides the format exactly. A file without it was
    * written by an older version and is rewritten with it. If none of that
    * file's lines carries the marker, its records predate the marker and
    * replay unmarked, with the old, weaker torn-record detection, for this
    * one boot: the rewrite marks them. */
  def recover(p: Path, header: Option[String], tag: String)(
      replay: Record => Unit): Unit = if (Files.exists(p)) {
    val lines = Files.readAllLines(p).asScala.toSeq
    val headed = header.forall(lines.headOption.contains)
    val records = if (headed) lines.drop(header.size) else lines
    val marked = headed || records.exists(_.endsWith(Marker))
    val valid =
      records.takeWhile(l => Try(replay(decode(l, marked))).isSuccess)
    if (valid.size < records.size) {
      System.err.println(s"$tag torn at record ${valid.size + 1}; " +
        s"quarantining ${records.size - valid.size} tail record(s)")
      append(sibling(p, ".torn"),
        records.drop(valid.size).map(_ + "\n").mkString)
    }
    if (valid.size < records.size || !headed)
      rewrite(p, ".repair", (header.toSeq ++ valid.map(l =>
        if (l.endsWith(Marker)) l else l + Marker)).map(_ + "\n").mkString)
  }
}

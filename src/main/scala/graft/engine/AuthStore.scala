package graft.engine

import org.apache.spark.sql.{Dataset, SparkSession}
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import scala.collection.mutable
import scala.util.Random

/** One user-directory row (ref: AuthTableEntry {username, salt, pass_hash,
  * content}, p5/server/authtableentry.h:7-12). */
final case class AuthEntry(username: String, salt: Array[Byte],
    passHash: Array[Byte], content: Array[Byte])

/** The user directory: registration, salted-SHA-256 authentication, profile
  * blobs (ref: auth_table, p5/server/my_storage.cc:29; hashing
  * p3/server/my_storage.cc:77-88).
  *
  * The directory is session-control metadata — tiny relative to the KV table
  * (one row per user) — so a driver-side map with a Dataset projection for
  * analytics (`view`, ALL) is the scale-appropriate design.
  *
  * Persistence mirrors the reference's single append-only log
  * (ref: p3/server/format.h:15-36 AUTHAUTH, :76-83 AUTHDIFF; replay
  * p3/server/my_storage.cc:573-702; SAV compaction :505-565; restart-reload
  * contract p5/scripts/p3.py:48-52):
  *  - REG appends a full-row `REG` record (AUTHAUTH analog) and SET appends
  *    a `DIFF` record (AUTHDIFF analog), both fsync'd before the op returns;
  *  - boot replays the log sequentially (REG insert, DIFF upsert-content);
  *  - `save()` compacts: rewrite the log as one full-row record per user to
  *    a tmp file, fsync, atomic rename — the reference's write-tmp-then-
  *    rename SAV contract.
  * Records, boot recovery and the compaction rewrite are the KV WAL's
  * ([[RedoLog]]): self-validating `\t#`-marked records, a torn tail
  * quarantined to a `.torn` sibling and the log rewritten to the valid
  * prefix. This class keeps only what REG/DIFF mean and SAV's compaction.
  */
final class AuthStore(spark: SparkSession, rng: Random = new Random(),
    dataDir: Option[Path] = None) {
  import Codes._

  private val users = mutable.LinkedHashMap.empty[String, AuthEntry]
  // HMAC-SHA256(processKey, user ‖ '\0' ‖ pass) digests of pairs that
  // already passed the salted-hash check. Passwords are immutable after
  // REG in this API, so positive results stay valid; the cache avoids
  // re-hashing the SALTED scheme on every point op (hot path). The HMAC
  // key is per-process SecureRandom (NOT opts.rng — tests seed that for
  // replayable salts), so a heap dump exposes only keyed digests, useless
  // for a dictionary attack without the in-memory key — unlike the raw
  // sha256(user‖pass) digests this replaces (ADVICE r3). The '\0'
  // separator kills ("ab","c")/("a","bc") digest collisions — usernames
  // cannot contain NUL, the log format is line-based text. Bounded: the
  // set is cleared at [[AuthStore.VerifiedCacheCap]] entries (a positive
  // cache simply refills on demand), so it cannot grow with credential
  // churn for the process lifetime.
  private val verified =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.math.BigInteger]()

  private val hmacKey = {
    val k = new Array[Byte](32)
    new java.security.SecureRandom().nextBytes(k)
    new javax.crypto.spec.SecretKeySpec(k, "HmacSHA256")
  }
  private val hmac = ThreadLocal.withInitial[javax.crypto.Mac](() => {
    val m = javax.crypto.Mac.getInstance("HmacSHA256")
    m.init(hmacKey)
    m
  })

  private def verifiedKey(user: String, pass: String): java.math.BigInteger = {
    val m = hmac.get()
    m.reset()
    m.update(user.getBytes("UTF-8"))
    m.update(0.toByte)
    m.update(pass.getBytes("UTF-8"))
    new java.math.BigInteger(m.doFinal())
  }

  private val logPath = dataDir.map(_.resolve("auth_log.jsonl"))

  // boot: ensure the data dir exists (first boot on a fresh path must not
  // crash the first append), discard an incomplete compaction tmp (old log
  // is the consistent state — atomic rename means a completed save left no
  // tmp), then replay.
  dataDir.foreach(Files.createDirectories(_))
  logPath.foreach { p =>
    Files.deleteIfExists(RedoLog.sibling(p, ".tmp"))
    RedoLog.recover(p, None, "[authstore] log")(replay)
  }

  /** Replay one record; throws on any structural damage (the caller treats
    * the record and everything after it as torn). */
  private def replay(r: RedoLog.Record): Unit = r.op match {
    case "REG" => // full row: user, salt, passHash, content (AUTHAUTH analog)
      require(r.fields.size == 4, "malformed REG record")
      users.update(r.text(0),
        AuthEntry(r.text(0), r.fields(1), r.fields(2), r.fields(3)))
    case "DIFF" => // profile update (AUTHDIFF analog)
      require(r.fields.size == 2, "malformed DIFF record")
      val u = r.text(0)
      require(users.contains(u), "DIFF for unknown user")
      users.update(u, users(u).copy(content = r.fields(1)))
    case other => throw new IllegalArgumentException(s"unknown op $other")
  }

  private def fullRowRecord(e: AuthEntry): String =
    RedoLog.encode("REG", e.username.getBytes("UTF-8"), e.salt, e.passHash,
      e.content)

  private def logAppend(record: String): Unit =
    logPath.foreach(RedoLog.append(_, record))

  private val digest = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("SHA-256"))

  private def sha256(parts: Array[Byte]*): Array[Byte] = {
    val md = digest.get()
    md.reset()
    parts.foreach(md.update)
    md.digest()
  }

  /** REG: random 16-byte salt, SHA-256(pass ‖ salt), empty content; the full
    * row is logged before the op returns (ref: p3/server/my_storage.cc:75-126
    * appends AUTHAUTH inside the insert callback). */
  def addUser(user: String, pass: String): Result = synchronized {
    if (users.contains(user)) Result(false, ERR_USER_EXISTS)
    else {
      val salt = new Array[Byte](16)
      rng.nextBytes(salt)
      val e = AuthEntry(user, salt, sha256(pass.getBytes("UTF-8"), salt),
        Array.emptyByteArray)
      users.update(user, e)
      logAppend(fullRowRecord(e))
      Result(true, OK)
    }
  }

  /** Salted-hash credential check (ref: p3/server/my_storage.cc:232-250). */
  def auth(user: String, pass: String): Result = {
    val key = verifiedKey(user, pass)
    if (verified.contains(key)) return Result(true, OK)
    val ok = synchronized {
      users.get(user) match {
        case Some(e) => MessageDigest.isEqual(e.passHash,
          sha256(pass.getBytes("UTF-8"), e.salt))
        case None => false
      }
    }
    if (ok) {
      if (verified.size >= AuthStore.VerifiedCacheCap) verified.clear()
      verified.add(key)
      Result(true, OK)
    } else Result(false, ERR_LOGIN)
  }

  /** SET: replace caller's profile blob, logging the diff before returning
    * (ref: p3/server/my_storage.cc:136-173 appends AUTHDIFF). */
  def setUserData(user: String, pass: String, content: Array[Byte]): Result =
    synchronized {
      val a = auth(user, pass)
      if (!a.succeeded) a
      else if (content.length > LEN_PROFILE_FILE) Result(false, ERR_REQ_FMT)
      else {
        users.update(user, users(user).copy(content = content))
        logAppend(RedoLog.encode("DIFF", user.getBytes("UTF-8"), content))
        Result(true, OK)
      }
    }

  /** GET: fetch ANY user's profile; empty → ERR_NO_DATA, missing user →
    * ERR_NO_USER (ref: p3/server/my_storage.cc:184-200). */
  def getUserData(user: String, pass: String, who: String): Result =
    synchronized {
      val a = auth(user, pass)
      if (!a.succeeded) a
      else users.get(who) match {
        case None => Result(false, ERR_NO_USER)
        case Some(e) if e.content.isEmpty => Result(false, ERR_NO_DATA)
        case Some(e) => Result(true, OK, e.content)
      }
    }

  /** ALL: usernames joined with a '\n' after EVERY name, including the last —
    * the reference impl appends '\n' per visited row (p3/server/
    * my_storage.cc:209-224, `usrs += usr; usrs += '\n'`), which is what the
    * tests observe even though protocol.h:191 claims no trailing newline.
    * Unsorted (insertion order here; bucket order in the reference). */
  def getAllUsers(user: String, pass: String): Result = synchronized {
    val a = auth(user, pass)
    if (!a.succeeded) a
    else Result(true, OK, users.keys.map(_ + "\n").mkString.getBytes("UTF-8"))
  }

  /** SAV: compact the log to one full-row record per user — write tmp,
    * fsync, atomic rename (ref: p3/server/my_storage.cc:505-565). */
  def save(): Unit = synchronized {
    logPath.foreach(
      RedoLog.rewrite(_, ".tmp", users.values.map(fullRowRecord).mkString))
  }

  /** Typed projection for analytics (SURVEY §1.4). */
  def view: Dataset[AuthEntry] = {
    import spark.implicits._
    spark.createDataset(synchronized(users.values.toSeq))
  }
}

object AuthStore {
  /** Verified-credential cache bound: one digest per distinct successful
    * (user, pass) pair; clearing at the cap keeps the set O(1) in
    * credential churn (re-verification refills it). */
  final val VerifiedCacheCap = 16384
}

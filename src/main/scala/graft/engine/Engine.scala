package graft.engine

import org.apache.spark.sql.SparkSession
import java.nio.file.Path
import scala.util.Random

/** Engine configuration (ref: server CLI options -u -d -r -i -o -a,
  * p5/server/server.cc:40-82; defaults :24-31). */
final case class EngineOptions(
    upQuota: Long = 1048576,
    downQuota: Long = 1048576,
    reqQuota: Long = 16,
    quotaDurSec: Double = 60.0,
    topSize: Int = 4,
    admin: String = "admin",
    dataDir: Option[Path] = None,
    clock: () => Double = () => System.nanoTime() / 1e9,
    rng: Random = new Random(),
    ownsSession: Boolean = false)

/** The facade: one method per client-visible op of SURVEY §2.1, preserving
  * the reference's result codes, error precedence, quota-charging matrix and
  * MRU touch points exactly (ref orderings: p4/server/my_storage.cc:180-509).
  *
  * Charging matrix (ref: p4/server/my_storage.cc; SURVEY §2.4):
  *  - KVI/KVU: requests+1 AND uploads+len(val), charged before the op;
  *    request violation outranks upload violation (:198-205).
  *  - KVG/KVA/KVT: requests+1 AND downloads+len(result) — download bytes are
  *    charged for the value actually read even when the verdict then fails
  *    (:242-286).
  *  - KVD: requests+1 only (:300-309).
  *  - KVF/KMR: quota-exempt (ref: p5/README.md:105).
  */
final class Engine(val spark: SparkSession,
    val opts: EngineOptions = EngineOptions()) {
  import Codes._

  val auth = new AuthStore(spark, opts.rng, opts.dataDir)
  val kv = new KvStore(spark, opts.dataDir)
  val mru = new MruTracker(opts.topSize)
  val quotas = new QuotaGuard(opts.upQuota, opts.downQuota, opts.reqQuota,
    opts.quotaDurSec, opts.clock)
  val funcs = new FuncTable

  /** Auth step shared by every op: a stopped engine refuses all requests
    * (the reference process has exited after BYE). */
  private def gateAuth(user: String, pass: String): Result =
    if (isStopped) Result(false, ERR_SERVER) else auth.auth(user, pass)

  // ---- auth table ops (REG/SET/GET/ALL; ref p1/p3) ----

  def register(user: String, pass: String): Result = {
    if (isStopped) return Result(false, ERR_SERVER)
    val r = auth.addUser(user, pass)
    if (r.succeeded) quotas.register(user)
    r
  }

  def setProfile(user: String, pass: String, content: Array[Byte]): Result =
    if (isStopped) Result(false, ERR_SERVER)
    else auth.setUserData(user, pass, content)

  def getProfile(user: String, pass: String, who: String): Result =
    if (isStopped) Result(false, ERR_SERVER)
    else auth.getUserData(user, pass, who)

  def allUsers(user: String, pass: String): Result =
    if (isStopped) Result(false, ERR_SERVER)
    else auth.getAllUsers(user, pass)

  // ---- KV ops (KVI/KVG/KVD/KVU/KVA/KVT; ref p4/server/my_storage.cc) ----

  /** KVI (ref :180-233): quota errors precede ERR_KEY; MRU-touch on success. */
  def kvInsert(user: String, pass: String, key: String,
      value: Array[Byte]): Result = {
    val a = gateAuth(user, pass)
    if (!a.succeeded) return a
    if (key.isEmpty || key.length > LEN_KEY || value.isEmpty ||
      value.length > LEN_VAL) return Result(false, ERR_REQ_FMT)
    val q = quotas.of(user)
    val upOk = q.uploads.checkAdd(value.length.toLong)
    val reqOk = q.requests.checkAdd(1)
    if (!reqOk) Result(false, ERR_QUOTA_REQ)
    else if (!upOk) Result(false, ERR_QUOTA_UP)
    else if (!kv.insert(key, value)) Result(false, ERR_KEY)
    else { mru.insert(key); Result(true, OK) }
  }

  /** KVG (ref :242-286): value is read (and its bytes charged) before the
    * quota verdict; request error > download error > ERR_KEY. */
  def kvGet(user: String, pass: String, key: String): Result = {
    val a = gateAuth(user, pass)
    if (!a.succeeded) return a
    val content = kv.get(key)
    val q = quotas.of(user)
    val downOk = q.downloads.checkAdd(content.map(_.length.toLong).getOrElse(0L))
    val reqOk = q.requests.checkAdd(1)
    if (!reqOk) Result(false, ERR_QUOTA_REQ)
    else if (!downOk) Result(false, ERR_QUOTA_DOWN)
    else content match {
      case None => Result(false, ERR_KEY)
      case Some(v) => mru.insert(key); Result(true, OK, v)
    }
  }

  /** KVD (ref :295-331): requests-only charge; MRU-remove on success. */
  def kvDelete(user: String, pass: String, key: String): Result = {
    val a = gateAuth(user, pass)
    if (!a.succeeded) return a
    if (!quotas.of(user).requests.checkAdd(1)) Result(false, ERR_QUOTA_REQ)
    else if (kv.remove(key)) { mru.remove(key); Result(true, OK) }
    else Result(false, ERR_KEY)
  }

  /** KVU (ref :343-417): OK_INSERT vs OK_UPDATE by pre-image existence. */
  def kvUpsert(user: String, pass: String, key: String,
      value: Array[Byte]): Result = {
    val a = gateAuth(user, pass)
    if (!a.succeeded) return a
    if (key.isEmpty || key.length > LEN_KEY || value.isEmpty ||
      value.length > LEN_VAL) return Result(false, ERR_REQ_FMT)
    val q = quotas.of(user)
    val upOk = q.uploads.checkAdd(value.length.toLong)
    val reqOk = q.requests.checkAdd(1)
    if (!reqOk) Result(false, ERR_QUOTA_REQ)
    else if (!upOk) Result(false, ERR_QUOTA_UP)
    else {
      val inserted = kv.upsert(key, value)
      mru.insert(key)
      Result(true, if (inserted) OK_INSERT else OK_UPDATE)
    }
  }

  /** KVA (ref :425-464): key list with a trailing '\n' after EVERY key
    * (ref builds `key + '\n'` per key); ERR_NO_DATA on an empty table is
    * decided BEFORE any quota charge (unlike KVG/KVT, which charge first —
    * ref order at :436-439 vs :482-506); then request error > download
    * error. */
  def kvAll(user: String, pass: String): Result = {
    val a = gateAuth(user, pass)
    if (!a.succeeded) return a
    val rendered = kv.keys.map(_ + "\n").mkString.getBytes("UTF-8")
    if (rendered.isEmpty) return Result(false, ERR_NO_DATA)
    val q = quotas.of(user)
    val downOk = q.downloads.checkAdd(rendered.length.toLong)
    val reqOk = q.requests.checkAdd(1)
    if (!reqOk) Result(false, ERR_QUOTA_REQ)
    else if (!downOk) Result(false, ERR_QUOTA_DOWN)
    else Result(true, OK, rendered)
  }

  /** KVT (ref :473-509): MRU contents, most-recent-first (order contractual). */
  def kvTop(user: String, pass: String): Result = {
    val a = gateAuth(user, pass)
    if (!a.succeeded) return a
    val rendered = mru.get().getBytes("UTF-8")
    val q = quotas.of(user)
    val downOk = q.downloads.checkAdd(rendered.length.toLong)
    val reqOk = q.requests.checkAdd(1)
    if (!reqOk) Result(false, ERR_QUOTA_REQ)
    else if (!downOk) Result(false, ERR_QUOTA_DOWN)
    else if (rendered.isEmpty) Result(false, ERR_NO_DATA)
    else Result(true, OK, rendered)
  }

  // ---- map/reduce ops (KVF/KMR; ref p5/server/my_storage.cc:245-415) ----

  /** KVF: admin-only registration; quota-exempt. */
  def registerFunc(user: String, pass: String, name: String,
      jarBytes: Array[Byte]): Result = {
    val a = gateAuth(user, pass)
    if (!a.succeeded) a
    else if (user != opts.admin) Result(false, ERR_LOGIN)
    else funcs.registerJar(name, jarBytes)
  }

  /** KVF catalog path: register an in-process function pair (admin-only). */
  def registerBuiltin(user: String, pass: String, name: String,
      fn: MapReduceFn): Result = {
    val a = gateAuth(user, pass)
    if (!a.succeeded) a
    else if (user != opts.admin) Result(false, ERR_LOGIN)
    else funcs.register(name, fn)
  }

  /** KMR: any authenticated user; ERR_FUNC on unknown name; ERR_NO_DATA on
    * an empty store, decided by the KMR job itself before `reduce` runs
    * (ref: p5/common/protocol.h:445-469); UDF failure → ERR_SERVER with the
    * engine surviving. Quota-exempt. */
  def invokeMr(user: String, pass: String, name: String): Result = {
    val a = gateAuth(user, pass)
    if (!a.succeeded) return a
    funcs.get(name) match {
      case None => Result(false, ERR_FUNC)
      case Some(fn) => MapReduce.run(kv.view, fn)
    }
  }

  /** SAV (ref: p3/server/my_storage.cc:505-565): authenticated compaction of
    * BOTH tables — the reference snapshots auth then kv under one 2PL chain. */
  def save(user: String, pass: String): Result = {
    val a = gateAuth(user, pass)
    if (!a.succeeded) a
    else { auth.save(); kv.save(); Result(true, OK) }
  }

  /** BYE (ref: p1/server/responses.cc:181-198): authenticated shutdown —
    * any registered user may stop the engine. After BYE the engine refuses
    * all further ops (the reference process exits; SURVEY §2.1 maps BYE to
    * session stop). `opts.ownsSession` additionally stops the SparkSession. */
  def bye(user: String, pass: String): Result = {
    val a = gateAuth(user, pass)
    if (!a.succeeded) a
    else { shutdown(); Result(true, OK) }
  }

  /** True once BYE/shutdown has run; all ops then return ERR_SERVER. */
  @volatile private var stopped = false
  def isStopped: Boolean = stopped

  /** Release this engine's UDF loaders and stop serving (ref shutdown:
    * p5/server/my_storage.cc:421-424). Application-wide session artifacts
    * (scratch dirs, cached KMR result broadcasts — graft.SessionResources)
    * are released ONLY when the engine owns the SparkSession: they belong
    * to the application, and an engine that merely borrows a shared
    * session must not delete scratch dirs or destroy broadcasts that
    * sibling engines / lazily-returned DataFrames in the same application
    * still reference. A non-owning BYE maps to "this server stops
    * serving"; the process-exit artifact sweep happens at application end
    * (the SessionResources listener) or at the owning engine's BYE —
    * whichever comes first, exactly once. */
  def shutdown(): Unit = {
    stopped = true
    funcs.close()
    if (opts.ownsSession) {
      try graft.SessionResources.release(spark.sparkContext.applicationId)
      catch { case _: Throwable => () } // context may already be stopped
      spark.stop()
    }
  }
}

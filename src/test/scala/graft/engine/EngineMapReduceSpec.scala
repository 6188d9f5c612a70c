package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import java.io.ByteArrayOutputStream
import java.nio.file.Files
import java.util.jar.{JarEntry, JarOutputStream}
import scala.jdk.CollectionConverters._

/** A jar-loadable UDF pair (top-level class so it has a plain zero-arg
  * constructor). Counts keys: map → "1", reduce → decimal total. */
class CountKeysFn extends MapReduceFn {
  def map(key: String, value: Array[Byte]): Array[Byte] = "1".getBytes
  def reduce(all: Seq[Array[Byte]]): Array[Byte] =
    all.count(_.nonEmpty).toString.getBytes
}

/** A jar class that is NOT a MapReduceFn — the broken1/broken2 analog
  * (wrong symbols ⇒ ERR_SO; ref: p5/scripts/p5.py:59-60). */
class NotAMapReduceFn {
  def mapper(key: String): Array[Byte] = key.getBytes
}

/** Ports the p5 suite: KVF auth matrix, KMR goldens, failure isolation
  * (ref: p5/scripts/p5.py:40-90). */
class EngineMapReduceSpec extends AnyFunSuite with SparkSpec {
  import Codes._

  def mkEngine(): Engine = {
    val e = new Engine(spark, EngineOptions(admin = "alice"))
    e.register("alice", "pw"); e.register("bob", "pw")
    // k1..k8 -> "1".."8" (ref fixture: p5/scripts/p5.py:45-48)
    (1 to 8).foreach(i =>
      e.kvInsert("alice", "pw", s"k$i", s"$i".getBytes))
    e
  }

  /** Package an already-compiled class (from the test classpath) into an
    * in-memory jar — the test-side analog of shipping .so bytes. */
  def jarOf(classes: Class[_]*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val jar = new JarOutputStream(bos)
    classes.foreach { c =>
      val path = c.getName.replace('.', '/') + ".class"
      val in = c.getClassLoader.getResourceAsStream(path)
      jar.putNextEntry(new JarEntry(path))
      jar.write(in.readAllBytes())
      in.close()
      jar.closeEntry()
    }
    jar.close()
    bos.toByteArray
  }

  test("KVF auth matrix: non-admin, invalid user, bad password → ERR_LOGIN; dup → ERR_FUNC") {
    val e = mkEngine()
    assert(e.registerBuiltin("bob", "pw", "mr2", BuiltinFuncs.AllKeys).msg == ERR_LOGIN)
    assert(e.registerBuiltin("chris", "pw", "mr2", BuiltinFuncs.AllKeys).msg == ERR_LOGIN)
    assert(e.registerBuiltin("alice", "BAD", "mr2", BuiltinFuncs.AllKeys).msg == ERR_LOGIN)
    assert(e.registerBuiltin("alice", "pw", "all_keys", BuiltinFuncs.AllKeys).succeeded)
    assert(e.registerBuiltin("alice", "pw", "all_keys", BuiltinFuncs.AllKeys).msg == ERR_FUNC)
  }

  test("KMR all_keys golden: k1..k8 (admin and non-admin may invoke)") {
    val e = mkEngine()
    e.registerBuiltin("alice", "pw", "all_keys", BuiltinFuncs.AllKeys)
    val expected = (1 to 8).map(i => s"k$i")
    val r1 = e.invokeMr("alice", "pw", "all_keys")
    assert(r1.succeeded)
    assert(r1.dataUtf8.split("\n").sorted.toSeq == expected)
    val r2 = e.invokeMr("bob", "pw", "all_keys")
    assert(r2.succeeded && r2.dataUtf8.split("\n").sorted.toSeq == expected)
    assert(e.invokeMr("chris", "pw", "all_keys").msg == ERR_LOGIN)
    assert(e.invokeMr("alice", "BAD", "all_keys").msg == ERR_LOGIN)
  }

  test("KMR odd_key_vals golden: values of odd keys, duplicated (11 33 55 77)") {
    val e = mkEngine()
    e.registerBuiltin("alice", "pw", "odd_key_vals", BuiltinFuncs.OddKeyVals)
    val r = e.invokeMr("alice", "pw", "odd_key_vals")
    assert(r.succeeded)
    assert(r.dataUtf8.split("\n").sorted.toSeq == Seq("11", "33", "55", "77"))
  }

  test("KMR unknown function name → ERR_FUNC; empty store → ERR_NO_DATA") {
    val e = mkEngine()
    assert(e.invokeMr("alice", "pw", "nope").msg == ERR_FUNC)
    val empty = new Engine(spark, EngineOptions(admin = "alice"))
    empty.register("alice", "pw")
    empty.registerBuiltin("alice", "pw", "all_keys", BuiltinFuncs.AllKeys)
    assert(empty.invokeMr("alice", "pw", "all_keys").msg == ERR_NO_DATA)
  }

  test("failing UDFs (invalid1/invalid2 analog): ERR_SERVER, engine survives") {
    val e = mkEngine()
    e.registerBuiltin("alice", "pw", "invalid1", BuiltinFuncs.FailingMap)
    e.registerBuiltin("alice", "pw", "invalid2", BuiltinFuncs.FailingReduce)
    e.registerBuiltin("alice", "pw", "all_keys", BuiltinFuncs.AllKeys)
    assert(e.invokeMr("alice", "pw", "invalid1").msg == ERR_SERVER)
    assert(e.invokeMr("alice", "pw", "invalid2").msg == ERR_SERVER)
    // engine still serves after UDF deaths (ref: p5/scripts/p5.py:85-90)
    assert(e.invokeMr("alice", "pw", "all_keys").succeeded)
    assert(e.kvGet("alice", "pw", "k1").succeeded)
  }

  test("KVF jar upload: dlopen/dlsym analog loads a MapReduceFn from jar bytes") {
    val e = mkEngine()
    val good = jarOf(classOf[CountKeysFn])
    assert(e.registerFunc("bob", "pw", "countk", good).msg == ERR_LOGIN)
    assert(e.registerFunc("alice", "pw", "countk", good).succeeded)
    val r = e.invokeMr("bob", "pw", "countk")
    assert(r.succeeded && r.dataUtf8 == "8")
  }

  test("KVF jar without a MapReduceFn implementation → ERR_SO") {
    val e = mkEngine()
    val bad = jarOf(classOf[NotAMapReduceFn])
    assert(e.registerFunc("alice", "pw", "broken1", bad).msg == ERR_SO)
    // garbage bytes → also ERR_SO
    assert(e.registerFunc("alice", "pw", "broken2",
      Array[Byte](1, 2, 3, 4)).msg == ERR_SO)
  }

  test("function-name length cap (LEN_FNAME=32) → ERR_REQ_FMT") {
    val e = mkEngine()
    val name = "x" * 33
    assert(e.registerBuiltin("alice", "pw", name, BuiltinFuncs.AllKeys).msg == ERR_REQ_FMT)
  }

  test("associative flavor: treeReduce path is DETERMINISTIC (sorted), not just set-equal") {
    val e = mkEngine()
    val r = MapReduce.runTree(e.kv.view, BuiltinFuncs.AllKeysAssoc)
    assert(r.succeeded)
    // no pre-sort here: the sorted-merge combine makes the output exactly
    // the sorted key list regardless of tree grouping or partition order
    assert(r.dataUtf8.split("\n").toSeq == (1 to 8).map(i => s"k$i"))
  }

  test("AllKeysAssoc.combine is commutative and associative (the treeReduce contract)") {
    val f = BuiltinFuncs.AllKeysAssoc
    def b(ss: String*) = ss.mkString("\n").getBytes("UTF-8")
    def s(a: Array[Byte]) = new String(a, "UTF-8")
    val (x, y, z) = (b("a", "m"), b("c"), b("b", "z"))
    assert(s(f.combine(x, y)) == s(f.combine(y, x)), "combine not commutative")
    assert(s(f.combine(f.combine(x, y), z)) == s(f.combine(x, f.combine(y, z))),
      "combine not associative")
    assert(s(f.combine(x, z)) == "a\nb\nm\nz", "combine must merge sorted")
    assert(s(f.combine(f.zero, x)) == s(x) && s(f.combine(x, f.zero)) == s(x))
  }

  test("tree path on an empty table answers ERR_NO_DATA, not zero") {
    val empty = new Engine(spark, EngineOptions())
    val r = MapReduce.runTree(empty.kv.view, BuiltinFuncs.AllKeysAssoc)
    assert(!r.succeeded && r.msg == ERR_NO_DATA)
  }

  test("KMR of an associative function on an empty store → ERR_NO_DATA") {
    val empty = new Engine(spark, EngineOptions(admin = "alice"))
    empty.register("alice", "pw")
    empty.registerBuiltin("alice", "pw", "assoc", BuiltinFuncs.AllKeysAssoc)
    assert(empty.invokeMr("alice", "pw", "assoc").msg == ERR_NO_DATA)
  }

  test("KMR → ERR_NO_DATA when every snapshot key is tombstoned in the delta") {
    // the snapshot still holds k1..k8; the view's anti-join drops them all
    val dir = Files.createTempDirectory("graft-mr-tomb-")
    val e = new Engine(spark, EngineOptions(admin = "alice", dataDir = Some(dir)))
    e.register("alice", "pw")
    (1 to 8).foreach(i => e.kv.insert(s"k$i", s"$i".getBytes))
    assert(e.save("alice", "pw").succeeded)
    (1 to 8).foreach(i => assert(e.kv.remove(s"k$i")))
    e.registerBuiltin("alice", "pw", "all_keys", BuiltinFuncs.AllKeys)
    e.registerBuiltin("alice", "pw", "assoc", BuiltinFuncs.AllKeysAssoc)
    e.registerBuiltin("alice", "pw", "invalid2", BuiltinFuncs.FailingReduce)
    assert(e.invokeMr("alice", "pw", "all_keys").msg == ERR_NO_DATA)
    assert(e.invokeMr("alice", "pw", "assoc").msg == ERR_NO_DATA)
    // ERR_NO_DATA outranks ERR_SERVER: reduce never runs on an empty table
    assert(e.invokeMr("alice", "pw", "invalid2").msg == ERR_NO_DATA)
    // one live key again: both paths answer it
    e.kv.insert("k5", "5".getBytes)
    assert(e.invokeMr("alice", "pw", "all_keys").dataUtf8 == "k5")
    assert(e.invokeMr("alice", "pw", "assoc").dataUtf8 == "k5")
  }

  test("redo-log golden bytes: PUT, DEL, REG and DIFF records") {
    def b(s: String) = s.getBytes("UTF-8")
    assert(RedoLog.encode("PUT", b("k1"), b("v1")) == "PUT\tazE=\tdjE=\t#\n")
    assert(RedoLog.encode("DEL", b("k1")) == "DEL\tazE=\t#\n")
    val dir = Files.createTempDirectory("graft-golden-")
    val kv = new KvStore(spark, Some(dir))
    kv.upsert("k1", b("v1"))
    kv.remove("k1")
    assert(Files.readString(dir.resolve("kv_wal.jsonl")) ==
      "#graft-wal-v2\nPUT\tazE=\tdjE=\t#\nDEL\tazE=\t#\n")
    // REG carries user, salt, SHA-256(pass ‖ salt) and the empty profile
    val auth = new AuthStore(spark, new scala.util.Random(7), Some(dir))
    assert(auth.addUser("ann", "pw").succeeded)
    assert(auth.setUserData("ann", "pw", b("p1")).succeeded)
    val salt = new Array[Byte](16)
    new scala.util.Random(7).nextBytes(salt)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(b("pw")); md.update(salt)
    val enc = java.util.Base64.getEncoder
    assert(Files.readString(dir.resolve("auth_log.jsonl")) ==
      s"REG\tYW5u\t${enc.encodeToString(salt)}\t" +
        s"${enc.encodeToString(md.digest())}\t\t#\n" +
        "DIFF\tYW5u\tcDE=\t#\n")
  }

  test("tree path combines a partition's outputs in O(n log n) bytes, not O(n²)") {
    import spark.implicits._
    val n = 2000
    val kv = (0 until n).map(i => KV(f"k$i%05d", Array.emptyByteArray))
      .toDS().coalesce(1)
    assert(kv.rdd.getNumPartitions == 1)
    CombineBytesFn.bytes.set(0L)
    val r = MapReduce.runTree(kv, CombineBytesFn)
    assert(r.succeeded && r.dataUtf8.split("\n").length == n)
    // a balanced tree passes each output through ~log2(n) combines; a
    // one-row-at-a-time fold re-passes the growing accumulator every row
    // (~total·n/2 bytes, about 14M here)
    val total = r.data.length.toLong
    val bound = 2L * total * (32 - Integer.numberOfLeadingZeros(n))
    assert(CombineBytesFn.bytes.get() <= bound,
      s"combine saw ${CombineBytesFn.bytes.get()} bytes for a $total-byte " +
        s"result over $n rows (bound $bound)")
  }

  test("engine routes associative fns to the tree tier (combines run on executor task threads)") {
    // the collect-then-fold formulation combines ONLY on the driver thread;
    // the tree tier partial-aggregates per partition, so in local mode the
    // combines land on "Executor task launch worker" threads. Record every
    // combine's thread through a REAL engine invocation and require at
    // least one executor-side call — the lineage evidence that per-row map
    // outputs were merged where they were produced, not gathered.
    ThreadRecordingAssocFn.threads.clear()
    val e = mkEngine()
    assert(e.registerBuiltin("alice", "pw", "rec", ThreadRecordingAssocFn).succeeded)
    val r = e.invokeMr("bob", "pw", "rec")
    assert(r.succeeded)
    assert(r.dataUtf8.split("\n").sorted.toSeq == (1 to 8).map(i => s"k$i"))
    val ts = ThreadRecordingAssocFn.threads
    assert(ts.asScala.exists(_.contains("Executor task launch worker")),
      s"no combine ran on an executor task thread: $ts")
  }
}

/** Records the thread name of every combine call (top-level object so the
  * closure serializes without dragging the suite along). */
object ThreadRecordingAssocFn extends AssociativeMapReduceFn {
  val threads = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def map(key: String, value: Array[Byte]): Array[Byte] = key.getBytes("UTF-8")
  def zero: Array[Byte] = Array.emptyByteArray
  def combine(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    threads.add(Thread.currentThread().getName)
    if (a.isEmpty) b else if (b.isEmpty) a
    else (new String(a, "UTF-8") + "\n" + new String(b, "UTF-8")).getBytes("UTF-8")
  }
}

/** Concatenating associative fn that counts the bytes handed to every
  * combine (top-level object: local-mode tasks share the JVM's instance). */
object CombineBytesFn extends AssociativeMapReduceFn {
  val bytes = new java.util.concurrent.atomic.AtomicLong()
  def map(key: String, value: Array[Byte]): Array[Byte] = key.getBytes("UTF-8")
  def zero: Array[Byte] = Array.emptyByteArray
  def combine(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    bytes.addAndGet(a.length.toLong + b.length)
    if (a.isEmpty) b else if (b.isEmpty) a
    else (new String(a, "UTF-8") + "\n" + new String(b, "UTF-8")).getBytes("UTF-8")
  }
}

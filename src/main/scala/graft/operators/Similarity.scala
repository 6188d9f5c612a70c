package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Similarity search over the embedding column (`Array[Float]`, 64-d).
  *
  * - [[annBruteForce]] is the exact baseline: broadcast the query vector,
  *   one codegen'd pass over all vectors (zip_with/aggregate dot product in
  *   DOUBLE with strict left-fold order so the DuckDB oracle is bit-equal),
  *   then a global top-k. At 100 TB this is the per-partition scan shape —
  *   no shuffle until the final k-row reduction.
  * - [[annLsh]] is the scale path: 16 deterministic hyperplanes (seeded
  *   hash, no RNG state) → sign-pattern bucket; candidates = query's
  *   bucket; exact cosine re-rank inside. Bucketing is an equi-join, so the
  *   big side never cross-joins.
  * - [[embeddingNearDup]]: near-duplicate vector pairs (cosine ≥ τ,
  *   default [[NearDupTau]]) via LSH-bucket candidate generation + exact
  *   verification; [[embeddingNearDupExact]] is its bounded, oracle-checked
  *   verification primitive.
  */
object Similarity {

  /** Strict left-fold dot product in double — mirrors the oracle's
    * list_reduce exactly (same op order ⇒ bit-identical doubles). Native
    * codegen'd expression, not an interpreted HOF. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VecDot.vec_dot(a, b)

  /** Codegen'd cast (a `transform` HOF would interpret per element). */
  private def toDouble(c: Column): Column = c.cast("array<double>")

  /** Exact cosine top-10 neighbors of the min-vec_id query vector. */
  def annBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("ev"))
    val q = emb
      .join(broadcast(emb.agg(min(col("vec_id")).as("qid"))),
        col("vec_id") === col("qid"))
      .select(col("qid"), col("ev").as("qv"))
    emb.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cosine",
        dot(col("ev"), col("qv")) /
          (sqrt(dot(col("ev"), col("ev"))) * sqrt(dot(col("qv"), col("qv")))))
      .select(col("qid"), col("vec_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  val annBruteForceSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
      |q AS (SELECT vec_id AS qid, ev AS qv FROM e
      |      WHERE vec_id = (SELECT min(vec_id) FROM e))
      |SELECT qid, vec_id,
      |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(range(1, len(ev)+1), i -> ev[i] * qv[i])),
      |    (a, b) -> a + b)
      |  / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(range(1, len(ev)+1), i -> ev[i] * ev[i])),
      |      (a, b) -> a + b))
      |     * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(range(1, len(qv)+1), i -> qv[i] * qv[i])),
      |      (a, b) -> a + b))) AS cosine
      |FROM e, q WHERE vec_id <> qid
      |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

  /** Candidates kept per retriever in [[rrfFusion]]. */
  final val RrfN = 20
  /** The RRF smoothing constant (Cormack et al. 2009's k = 60). */
  final val RrfC = 60L

  /** RECIPROCAL-RANK FUSION — the hybrid-retrieval merge (Cormack,
    * Clarke & Buettcher 2009) every RAG stack runs: a LEXICAL ranking
    * (distinct-token overlap with the query document's token set — integer
    * scores, engine-independent ties) and a SEMANTIC ranking (exact
    * strict-fold cosine against the query embedding; ids align 1:1 with
    * doc_ids) each keep their top-[[RrfN]], and a document's fused score
    * is Σ 1/([[RrfC]] + rank) over the lists it appears in — rank
    * positions, not raw scores, so the two incomparable score scales
    * never mix.
    *
    * Scale shape: each retriever ends in a distributed top-k
    * (TakeOrderedAndProject — no global sort), and rank positions come
    * from a bounded θ-join over the already-reduced ≤[[RrfN]]-row lists
    * (rank = 1 + better-rows count; k² ≤ 400 pairs — no partition-less
    * window anywhere in the suite). The fusion itself is a full-outer
    * join of two k-row frames. At 100 TB the semantic arm would feed
    * from [[annIvfIndexedQuery]]'s pruned probe instead of the exact
    * scan; the exact arm here keeps the DuckDB gate end-to-end (1/(k+r)
    * terms are single correctly-rounded divisions added in one fixed
    * order — bit-reproducible). */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("ev"))
    val q = emb
      .join(broadcast(emb.agg(min(col("vec_id")).as("qid"))),
        col("vec_id") === col("qid"))
      .select(col("qid"), col("ev").as("qv"))
    val semTop = emb.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cosine",
        dot(col("ev"), col("qv")) /
          (sqrt(dot(col("ev"), col("ev"))) * sqrt(dot(col("qv"), col("qv")))))
      .orderBy(col("cosine").desc, col("vec_id")).limit(RrfN)
      .select(col("vec_id"), col("cosine"))
    val sem = semTop.as("a")
      .join(semTop.as("b"),
        col("b.cosine") > col("a.cosine") ||
          (col("b.cosine") === col("a.cosine") &&
            col("b.vec_id") < col("a.vec_id")), "left_outer")
      .groupBy(col("a.vec_id").as("id"))
      .agg((count(col("b.vec_id")) + 1L).as("sem_rank"))
    val docs = t(spark, dir, "documents")
    val qTokens = docs
      .join(broadcast(q.select(col("qid"))), col("doc_id") === col("qid"))
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0).distinct()
    val lexTop = docs
      .join(broadcast(q.select(col("qid"))), col("doc_id") =!= col("qid"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0).distinct()
      .join(broadcast(qTokens), Seq("token"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("overlap"))
      .orderBy(col("overlap").desc, col("doc_id")).limit(RrfN)
    val lex = lexTop.as("a")
      .join(lexTop.as("b"),
        col("b.overlap") > col("a.overlap") ||
          (col("b.overlap") === col("a.overlap") &&
            col("b.doc_id") < col("a.doc_id")), "left_outer")
      .groupBy(col("a.doc_id").as("id"))
      .agg((count(col("b.doc_id")) + 1L).as("lex_rank"))
    sem.join(lex, Seq("id"), "full_outer")
      .select(col("id").as("doc_id"),
        coalesce(col("lex_rank"), lit(-1L)).as("lex_rank"),
        coalesce(col("sem_rank"), lit(-1L)).as("sem_rank"),
        (coalesce(lit(1.0d) / (lit(RrfC) + col("lex_rank")).cast("double"),
          lit(0.0d)) +
          coalesce(lit(1.0d) / (lit(RrfC) + col("sem_rank")).cast("double"),
            lit(0.0d))).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
  }

  /** Oracle: both rankings and the fused sum replayed verbatim (the
    * cosine is the [[annBruteForceSql]] strict fold; ranks are integer
    * windows over the top-[[RrfN]] lists). */
  val rrfFusionSql: String = {
    val cos = s"""${foldSql("ev", "qv")}
                 |  / (sqrt(${foldSql("ev", "ev")})
                 |     * sqrt(${foldSql("qv", "qv")}))""".stripMargin
    OracleSql.materializeCtes(
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
         |q AS (SELECT vec_id AS qid, ev AS qv FROM e
         |      WHERE vec_id = (SELECT min(vec_id) FROM e)),
         |sem0 AS (
         |  SELECT vec_id, $cos AS cosine
         |  FROM e, q WHERE vec_id <> qid),
         |sem AS (
         |  SELECT id, sem_rank FROM (
         |    SELECT vec_id AS id,
         |      CAST(row_number() OVER (ORDER BY cosine DESC, vec_id)
         |           AS BIGINT) AS sem_rank
         |    FROM sem0) WHERE sem_rank <= $RrfN),
         |qt AS (
         |  SELECT DISTINCT unnest(string_split(text, ' ')) AS token
         |  FROM documents
         |  WHERE doc_id = (SELECT min(vec_id) FROM e)),
         |dt AS (
         |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
         |  FROM documents
         |  WHERE doc_id <> (SELECT min(vec_id) FROM e)),
         |ov AS (
         |  SELECT dt.doc_id, CAST(COUNT(*) AS BIGINT) AS overlap
         |  FROM dt JOIN qt ON qt.token = dt.token AND qt.token <> ''
         |  WHERE dt.token <> ''
         |  GROUP BY dt.doc_id),
         |lex AS (
         |  SELECT id, lex_rank FROM (
         |    SELECT doc_id AS id,
         |      CAST(row_number() OVER (ORDER BY overlap DESC, doc_id)
         |           AS BIGINT) AS lex_rank
         |    FROM ov) WHERE lex_rank <= $RrfN)
         |SELECT COALESCE(s.id, l.id) AS doc_id,
         |  COALESCE(l.lex_rank, -1) AS lex_rank,
         |  COALESCE(s.sem_rank, -1) AS sem_rank,
         |  COALESCE(CAST(1.0 AS DOUBLE) / CAST($RrfC + l.lex_rank AS DOUBLE),
         |           CAST(0.0 AS DOUBLE))
         |  + COALESCE(CAST(1.0 AS DOUBLE) / CAST($RrfC + s.sem_rank AS DOUBLE),
         |             CAST(0.0 AS DOUBLE)) AS rrf_score
         |FROM sem s FULL OUTER JOIN lex l ON l.id = s.id
         |ORDER BY rrf_score DESC, doc_id""".stripMargin)
  }

  final val Tables = 4 // OR-amplification: candidate if any table agrees
  final val PlanesPerTable = 6 // 64 buckets per table
  final val Dims = 64

  /** Hyperplanes are precomputed driver-side with a seeded, fully-specified
    * PRNG (java.util.Random — identical sequence on every JVM) and shipped
    * as array literals. This keeps bucket computation a single codegen'd
    * fold per plane instead of per-row, per-dimension hash evaluation. */
  private[operators] def planeVector(tbl: Int, p: Int): Seq[Double] = {
    val rnd = new java.util.Random(tbl * 1031L + p * 7919L)
    Seq.fill(Dims)(rnd.nextDouble() * 2 - 1)
  }

  /** Sign-pattern LSH bucket of an embedding in one hash table. */
  private def lshBucket(ev: Column, tbl: Int, planes: Int): Column =
    (0 until planes).map { p =>
      val proj = dot(ev, typedlit(planeVector(tbl, p)))
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  // ---- SQL twins of the bucketing, for the DuckDB oracles ----
  // The hyperplanes are plain driver-side constants (a spec-fixed LCG
  // sequence — no JVM-dependent state), and the projections are the same
  // strict-left-fold dot both engines already share bit-exactly, so the
  // SIGN of every projection — and therefore every bucket, the candidate
  // set, and the final exact cosines — is reproducible in SQL by
  // embedding the plane values as literals. That upgrades the LSH paths
  // from rows-only checks to full oracle equality.

  /** The strict-left-fold dot product as DuckDB SQL (same op order as
    * [[graft.functions.VecDot]] ⇒ bit-identical doubles). */
  private[operators] def foldSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(range(1, len($a)+1), i -> $a[i] * $b[i])),
       |  (acc, v) -> acc + v)""".stripMargin

  /** One `(vec_id, tbl, bucket)` SELECT per hash table over CTE `e`,
    * with the plane constants inlined (Double.toString is shortest
    * round-trip decimal, which DuckDB parses back to the identical
    * double). */
  private def bucketsSql(tables: Int, planes: Int): String =
    (0 until tables).map { tb =>
      val bits = (0 until planes).map { p =>
        val lit = planeVector(tb, p).mkString("[", ", ", "]")
        s"(CASE WHEN ${foldSql("ev", lit)} >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString("\n      + ")
      s"""SELECT vec_id, $tb AS tbl,
         |    $bits AS bucket
         |  FROM e""".stripMargin
    }.mkString("\nUNION ALL\n")

  val annLshSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |n AS (SELECT vec_id, ev, sqrt(${foldSql("ev", "ev")}) AS nrm FROM e),
       |b AS (
       |${bucketsSql(Tables, PlanesPerTable)}),
       |q AS (SELECT min(vec_id) AS qid FROM e),
       |qb AS (SELECT b.tbl, b.bucket FROM b JOIN q ON b.vec_id = q.qid),
       |cand AS (
       |  SELECT DISTINCT b.vec_id FROM b
       |  JOIN qb ON b.tbl = qb.tbl AND b.bucket = qb.bucket
       |  WHERE b.vec_id <> (SELECT qid FROM q)),
       |qv AS (SELECT n.ev AS qe, n.nrm AS qnrm FROM n JOIN q ON n.vec_id = q.qid)
       |SELECT (SELECT qid FROM q) AS qid, n.vec_id,
       |  ${foldSql("n.ev", "qv.qe")} / (n.nrm * qv.qnrm) AS cosine
       |FROM cand JOIN n USING (vec_id) CROSS JOIN qv
       |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

  val embeddingNearDupLshSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |n AS (SELECT vec_id, ev, sqrt(${foldSql("ev", "ev")}) AS nrm FROM e),
       |b AS (
       |${bucketsSql(NearDupTables, NearDupPlanes)}),
       |pairs AS (
       |  SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
       |  FROM b x JOIN b y
       |    ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id)
       |SELECT v1, v2,
       |  ${foldSql("n1.ev", "n2.ev")} / (n1.nrm * n2.nrm) AS cosine
       |FROM pairs
       |JOIN n n1 ON n1.vec_id = v1
       |JOIN n n2 ON n2.vec_id = v2
       |WHERE ${foldSql("n1.ev", "n2.ev")} / (n1.nrm * n2.nrm) >= $NearDupTau
       |ORDER BY v1, v2""".stripMargin

  /** Embeddings with vector + precomputed norm (norms once per vector, not
    * once per candidate pair). */
  private def withNorm(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("ev"))
      .withColumn("nrm", sqrt(dot(col("ev"), col("ev"))))

  /** Appends the multi-table (tbl, bucket) LSH coordinates to any frame
    * carrying an `ev` vector column — the ONE bucketing formulation
    * (explode over per-table hyperplane sign codes) every LSH path
    * derives from, so a change to the banding scheme cannot silently
    * fork the query paths from each other or from [[bucketsSql]]'s
    * oracle replay. Callers choose what rides along: [[bucketed]] keeps
    * ids only (query-bound candidate joins never carry 64-double
    * arrays); [[embeddingNearDup]] carries ev/nrm (its corpus-sized
    * pair verify streams inside the bucket join — see its scaladoc). */
  private def withBuckets(f: DataFrame, tables: Int, planes: Int): DataFrame =
    f.select(f.columns.map(col) :+
        explode(array((0 until tables).map(tb =>
          struct(lit(tb).as("tbl"), lshBucket(col("ev"), tb, planes).as("bucket"))): _*))
          .as("tb"): _*)
      .select((f.columns.map(col) :+ col("tb.tbl") :+ col("tb.bucket")): _*)

  /** (vec_id, table, bucket) — ids only (see [[withBuckets]]). Banding is
    * parametric: more planes per table = fewer, more selective candidates
    * (top-k search wants selectivity); fewer planes over more tables =
    * higher recall at a lower similarity threshold (near-dup mining). At
    * scale `planes` grows with log(corpus) so bucket occupancy stays flat. */
  private def bucketed(spark: SparkSession, dir: String,
      tables: Int = Tables, planes: Int = PlanesPerTable): DataFrame =
    withBuckets(
      t(spark, dir, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("ev")),
      tables, planes)
      .select(col("vec_id"), col("tbl"), col("bucket"))

  /** ANN via multi-table hyperplane LSH: candidates share a bucket with the
    * query in ANY table; exact cosine re-ranks. The candidate join is an
    * equi-join on (table, bucket) over ids — shuffle-bounded at any scale. */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val bk = bucketed(spark, dir)
    val qid = bk.agg(min(col("vec_id")).as("qid"))
    val qBuckets = bk.join(broadcast(qid), col("vec_id") === col("qid"))
      .select(col("qid"), col("tbl").as("qtbl"), col("bucket").as("qbucket"))
    val candIds = bk.join(broadcast(qBuckets),
        col("tbl") === col("qtbl") && col("bucket") === col("qbucket") &&
          col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id")).distinct()
    val e = withNorm(spark, dir)
    val q = e.join(broadcast(qid), col("vec_id") === col("qid"))
      .select(col("ev").as("qv"), col("nrm").as("qnrm"),
        col("vec_id").as("qvid"))
    candIds
      .join(e, Seq("vec_id"))
      .join(broadcast(q))
      .withColumn("cosine",
        dot(col("ev"), col("qv")) / (col("nrm") * col("qnrm")))
      .select(col("qid"), col("vec_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  // ---- IVF (inverted-file) ANN ----

  final val IvfClusters = 16
  final val IvfProbes = 4
  // Lloyd's on this data converges in 2-3 iterations; each iteration is two
  // Spark jobs, so the cap is a real query-latency knob
  final val IvfIters = 3

  /** Deterministic Lloyd's k-means over the embedding column — the ONE
    * coarse-quantizer training every IVF formulation (inline, written
    * index, verified twins) uses. Since round 16 it IS the fixed-point
    * [[quantizedLloyd]] loop (via [[semDedupCentroids]]): assignment is
    * the distributed L2-argmin mapPartitions pass, the update step sums
    * Σ floor(x·2^20) over BIGINT — associative, so partition- and
    * engine-order independent — making the trained centroids a pure
    * function of the data that DuckDB replays bit-identically. That is
    * what lets [[annIvfSql]] oracle the inline operator END-TO-END (the
    * `ann_ivfpq` discipline; through round 15 this trained with a float
    * `avg` update whose last-ulp order dependence made `ann_ivf` the
    * catalog's one unreplayable IVF row). Centroids are tiny (k × dims
    * doubles) and live on the driver / in broadcasts. Init = the k
    * lowest vec_ids (seedless, reproducible). Modality-restricted
    * indexes (the image-side slice of [[crossModalRetrieval]]) train
    * with the same fixed-point loop over their slice. */
  def ivfCentroids(spark: SparkSession, dir: String,
      k: Int = IvfClusters, iters: Int = IvfIters): Array[Array[Double]] =
    semDedupCentroids(spark, dir, k = k, iters = iters)

  private def nearestCentroid(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cs.length) {
      var d = 0.0; var i = 0
      val cv = cs(c)
      while (i < v.length) { val t = v(i) - cv(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Distributed cluster assignment over an arbitrary (vec_id, ev) set —
    * shared by the inline operator, the index writer, AND the append path,
    * so every formulation assigns with the same code by construction. */
  private def assignVecs(vecs: DataFrame,
      centroids: Array[Array[Double]]): DataFrame = {
    import vecs.sparkSession.implicits._
    val bc = vecs.sparkSession.sparkContext.broadcast(centroids)
    vecs.as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, v) => (id, v, nearestCentroid(v, cs)) }
      }
      .toDF("vec_id", "ev", "cluster")
  }

  private def assignClusters(spark: SparkSession, dir: String,
      centroids: Array[Array[Double]]): DataFrame =
    assignVecs(t(spark, dir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("ev")), centroids)

  /** The `nprobe` centroid ids nearest the query — the single probe-
    * selection rule both IVF formulations share. */
  private def nearestProbes(centroids: Array[Array[Double]],
      qv: Array[Double], nprobe: Int = IvfProbes): Set[Int] =
    centroids.indices.sortBy { c =>
      var d = 0.0; var i = 0
      while (i < qv.length) { val t = qv(i) - centroids(c)(i); d += t * t; i += 1 }
      d
    }.take(nprobe).toSet

  /** Probe-scan + exact cosine re-rank over an assigned (vec_id, ev,
    * cluster) table — the shared back half of both IVF formulations. */
  private def ivfQuery(assigned: DataFrame, probeSet: Set[Int], qid: Long,
      qv: Array[Double]): DataFrame = {
    import assigned.sparkSession.implicits._
    val qDf = Seq((qid, qv)).toDF("qid", "qv")
    assigned
      .filter(col("cluster").isInCollection(probeSet) && col("vec_id") =!= qid)
      .join(broadcast(qDf))
      .withColumn("cosine",
        dot(col("ev"), col("qv")) /
          (sqrt(dot(col("ev"), col("ev"))) * sqrt(dot(col("qv"), col("qv")))))
      .select(col("qid"), col("vec_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  /** IVF ANN, inline formulation: assign clusters on the fly, scan only
    * the inverted lists of the query's `IvfProbes` nearest centroids,
    * exact-cosine re-rank inside. The write-time formulation — cluster as
    * a partition column, probes via partition pruning — is
    * [[ivfWriteIndex]]/[[annIvfIndexed]], plan-asserted in IvfLayoutSpec.
    *
    * ORACLE-EXACT since round 16 ([[annIvfSql]] replays the pipeline):
    * the [[ivfCentroids]] coarse training is the fixed-point
    * [[quantizedLloyd]], so training, assignment, probe selection AND the
    * strict-fold cosine re-rank are all engine-neutral arithmetic. */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val centroids = ivfCentroids(spark, dir)
    val assigned = assignClusters(spark, dir, centroids)
    val (qid, qv, _) = assigned.orderBy(col("vec_id")).limit(1)
      .as[(Long, Array[Double], Int)].collect()(0)
    ivfQuery(assigned, nearestProbes(centroids, qv), qid, qv)
  }

  /** Oracle: replays the ENTIRE inline IVF pipeline — [[IvfIters]]
    * fixed-point Lloyd rounds (init = the [[IvfClusters]] lowest vec_ids;
    * assignment argmin = the same strict-left L2 fold with lowest-cid
    * ties; update = the identical BIGINT Σ floor(x·2^20) sums with
    * JVM-truncating division), the final L2-argmin cluster assignment,
    * the [[IvfProbes]]-nearest-centroid probe selection for the
    * min-vec_id query, and the exact-cosine re-rank over the probed
    * inverted lists — bit-identically at any SF (the [[annIvfPqSql]]
    * discipline applied to the inline formulation; CTEs MATERIALIZED or
    * DuckDB's inlining re-expands the training chain exponentially). */
  val annIvfSql: String = OracleSql.materializeCtes(annIvfSqlRaw)

  private def annIvfSqlRaw: String = {
    val q = SemDedupQScale
    val train = (1 to IvfIters).map { i =>
      val prev = s"c${i - 1}"
      s"""a$i AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT x.vec_id, c.cid, row_number() OVER (
         |        PARTITION BY x.vec_id
         |        ORDER BY ${l2FoldSql("x.ev", "c.cv")}, c.cid) AS rn
         |    FROM e x CROSS JOIN $prev c) WHERE rn = 1),
         |s$i AS (
         |  SELECT a.cid, t.i AS pos,
         |    SUM(CAST(floor(e.ev[t.i] * $q) AS BIGINT)) AS sq,
         |    COUNT(*) AS n
         |  FROM a$i a JOIN e ON e.vec_id = a.vec_id,
         |    UNNEST(range(1, len(e.ev)+1)) AS t(i)
         |  GROUP BY a.cid, t.i),
         |u$i AS (
         |  SELECT cid, list(CAST(td AS DOUBLE) / $q ORDER BY pos) AS cv
         |  FROM (SELECT cid, pos,
         |          CASE WHEN sq >= 0 THEN sq // n
         |               ELSE -((-sq) // n) END AS td
         |        FROM s$i) GROUP BY cid),
         |c$i AS (
         |  SELECT p.cid, COALESCE(u.cv, p.cv) AS cv
         |  FROM $prev p LEFT JOIN u$i u USING (cid))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
       |         AS cid, ev AS cv
       |       FROM e WHERE vec_id IN
       |         (SELECT vec_id FROM e ORDER BY vec_id LIMIT $IvfClusters)),
       |$train,
       |asg AS (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT x.vec_id, c.cid, row_number() OVER (
       |        PARTITION BY x.vec_id
       |        ORDER BY ${l2FoldSql("x.ev", "c.cv")}, c.cid) AS rn
       |    FROM e x CROSS JOIN c$IvfIters c) WHERE rn = 1),
       |qv AS (SELECT vec_id AS qid, ev AS qe FROM e
       |       ORDER BY vec_id LIMIT 1),
       |pr AS (
       |  SELECT cid FROM (
       |    SELECT c.cid, row_number() OVER (
       |        ORDER BY ${l2FoldSql("q.qe", "c.cv")}, c.cid) AS rn
       |    FROM c$IvfIters c CROSS JOIN qv q) WHERE rn <= $IvfProbes)
       |SELECT q.qid, e.vec_id,
       |  ${foldSql("e.ev", "q.qe")} /
       |    (sqrt(${foldSql("e.ev", "e.ev")}) * sqrt(${foldSql("q.qe", "q.qe")}))
       |    AS cosine
       |FROM e JOIN asg USING (vec_id) CROSS JOIN qv q
       |WHERE asg.cluster IN (SELECT cid FROM pr) AND e.vec_id <> q.qid
       |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin
  }

  /** WRITE-TIME IVF layout — the scale path [[annIvf]]'s doc promises: the
    * corpus is materialized partitioned BY CLUSTER (`cluster=N/`
    * directories), so at query time probe selection is partition pruning
    * and the scan physically reads only `nprobe` of `k` inverted lists.
    * Returns the centroids for query-time probe selection (k × dims
    * doubles — driver-scale by design). Rewrite cadence at 100 TB: the
    * index is append-friendly (new vectors assign to existing centroids);
    * full re-clustering is an offline compaction, exactly like SAV. */
  def ivfWriteIndex(spark: SparkSession, dir: String,
      indexPath: String): Array[Array[Double]] = {
    val centroids = ivfCentroids(spark, dir)
    assignClusters(spark, dir, centroids)
      .write.partitionBy("cluster").mode("overwrite").parquet(indexPath)
    centroids
  }

  /** INCREMENTAL index maintenance — the append cadence the write-time
    * layout promises: new vectors are assigned to the FROZEN centroids
    * (same [[assignVecs]] code the full build uses) and appended as new
    * files inside the existing `cluster=N/` directories. No existing file
    * is touched, so concurrent probes keep reading a consistent index and
    * partition pruning is unchanged. Full re-clustering (centroid drift)
    * is an offline rebuild via [[ivfWriteIndex]], exactly like SAV
    * compaction. IvfLayoutSpec proves append ≡ one-shot rebuild under the
    * same frozen centroids. */
  def ivfAppend(vecs: DataFrame, centroids: Array[Array[Double]],
      indexPath: String): Unit =
    assignVecs(vecs, centroids)
      .write.partitionBy("cluster").mode("append").parquet(indexPath)

  /** ANN over a written IVF index: pick the `nprobe` centroids nearest
    * the query, then scan ONLY those `cluster=` partitions (pruning is
    * asserted by plan inspection in IvfLayoutSpec) with an exact cosine
    * re-rank inside. */
  def annIvfIndexed(spark: SparkSession, indexPath: String,
      centroids: Array[Array[Double]], qid: Long,
      qv: Array[Double], nprobe: Int = IvfProbes): DataFrame =
    ivfQuery(spark.read.parquet(indexPath), nearestProbes(centroids, qv, nprobe),
      qid, qv)

  /** Probe width at which the IVF pipeline is MEASURED to return exactly
    * the brute-force top-10 on this corpus (coverage of exact top-10 by
    * the probed clusters: 10/10 at sf0.001/0.01/0.1; nprobe=4 measured
    * 9/10 at sf0.001 and sf0.01, so 6 is the honest margin, still reading
    * only 6 of [[IvfClusters]]=16 inverted lists). The verified twins run
    * at this width so their DuckDB oracle — the exact brute-force SQL —
    * proves END-TO-END equality of the approximate pipeline (centroid
    * training, assignment, probe selection, scan, re-rank) with exact
    * search: any missed neighbor or cosine deviation is a hash mismatch. */
  final val IvfVerifyProbes = 6

  /** ORACLE-EXACT IVF twin, inline formulation (pattern:
    * [[Dedup.dedupMinhashVerified]]): the full IVF pipeline at
    * [[IvfVerifyProbes]] probes, compared by the driver's DuckDB gate
    * against [[annBruteForceSql]]. Same vec_dot strict-left-fold cosine as
    * brute force ⇒ bit-identical doubles, so equality is exact.
    *
    * An LSH analog is IMPOSSIBLE on this corpus, not just unimplemented:
    * the embeddings are near-random unit vectors (best cosine ≈ 0.33), and
    * measured coverage of the exact top-10 by hyperplane-LSH candidates is
    * 2/10 (T=4,P=6), 4/10 (T=8,P=6), 7/10 (T=8,P=4), 5/10 (T=16,P=6) at
    * sf0.001 with the same shape at every SF — amplification wide enough
    * to cover top-10 degenerates to scanning the corpus. [[annLsh]]'s
    * contract (exact re-rank, cosine-biased candidates) is pinned in
    * PipelineOperatorsSpec instead. */
  def annIvfVerified(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val centroids = ivfCentroids(spark, dir)
    val assigned = assignClusters(spark, dir, centroids)
    val (qid, qv, _) = assigned.orderBy(col("vec_id")).limit(1)
      .as[(Long, Array[Double], Int)].collect()(0)
    ivfQuery(assigned, nearestProbes(centroids, qv, IvfVerifyProbes), qid, qv)
  }

  /** ORACLE-EXACT IVF twin, WRITTEN-INDEX formulation: builds the
    * cluster-partitioned index under a session-scoped scratch path
    * ([[graft.SessionResources.scratchDir]] — SHA-256 of the source path +
    * applicationId, GC'd at engine shutdown or context stop; overwritten
    * per run — index build is part of the operator), then probes it at
    * [[IvfVerifyProbes]] via partition pruning. Green oracle row ⇔ the
    * on-disk layout + pruned-probe read path reproduces exact search
    * end-to-end. */
  def annIvfIndexedQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val indexPath = graft.SessionResources.scratchDir(spark, "ivf_index", dir)
    val centroids = ivfWriteIndex(spark, dir, indexPath)
    val (qid, qv) = t(spark, dir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("ev"))
      .orderBy(col("vec_id")).limit(1)
      .as[(Long, Array[Double])].collect()(0)
    annIvfIndexed(spark, indexPath, centroids, qid, qv, IvfVerifyProbes)
  }

  // ---- Cross-modal retrieval through the written IVF index ----

  /** Caption-side query batch size (the lowest odd vec_ids — odd doc_ids
    * are the caption/text modality in the cross-modal convention of
    * [[Multimodal.crossModalPairs]]; even ids are images). Bounded by
    * contract: this is the per-request query batch, not a corpus scan. */
  final val XModalQueries = 5
  /** Neighbors returned per query. */
  final val XModalK = 10
  /** Probe width for the cross-modal index: each caption query reads 6
    * of [[IvfClusters]]=16 inverted lists — GENUINE pruning, unlike a
    * recall-exact width. (On this corpus's near-random embeddings a
    * cross-modal query's true neighbors land in near-uniformly random
    * image clusters — measured: even 14/16 probes miss brute-force
    * top-10 members at sf0.01+, the same physics as the documented LSH
    * impossibility above — so a brute-force oracle would force
    * nprobe=16 and make "pruning" vacuous. The honest contract is
    * IVF-semantics exactness + a measured recall floor, below.) */
  final val XModalProbes = 6

  /** CROSS-MODAL RETRIEVAL — text→image ANN through the WRITTEN IVF
    * index: caption embeddings (odd vec_ids) probe a cluster-partitioned
    * index built over ONLY the image-side embeddings (even vec_ids), and
    * each query reads just its [[XModalProbes]] of [[IvfClusters]]
    * inverted lists via partition pruning (plan-asserted in
    * IvfLayoutSpec).
    *
    * Composition of two r8 pieces: [[Multimodal.crossModalPairs]]'
    * modality convention supplies the query/corpus split, and the
    * [[ivfWriteIndex]]/[[annIvfIndexed]] layout supplies the probe path —
    * this is the "retrieve candidate images for a caption" primitive a
    * contrastive-training pipeline runs per batch.
    *
    * Exactness contract (the [[annIvfPq]] discipline, NOT the
    * [[annIvfVerified]] one): centroids train with the FIXED-POINT
    * [[quantizedLloyd]], so the DuckDB oracle replays the ENTIRE
    * pipeline bit-identically — training rounds, L2-argmin assignment,
    * per-query probe selection, the pruned candidate set, strict-fold
    * cosines, and the top-k — at the genuinely pruned width. RECALL vs
    * brute force is a separate, measured claim: IvfLayoutSpec pins a
    * per-query recall floor against [[annBruteForce]]-style exact
    * search (the SimHash recall-floor discipline).
    *
    * Scale shape: index build is one distributed assign + partitioned
    * write (amortized across every query batch); the query side scans
    * only the UNION of the batch's probed clusters — a static partition
    * filter — then joins the tiny (query × probe) frame by broadcast, so
    * each candidate row is scored only against the queries that probed
    * its cluster. Per-query top-k runs through the k-BOUNDED partial
    * aggregator ([[graft.functions.TopKAgg]]) — no window over the
    * candidate stream, map-side reduction to ≤ k rows per (partition,
    * query). */
  def crossModalRetrieval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = t(spark, dir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("ev"))
    val imgs = emb.filter(col("vec_id") % 2 === 0)
      .as[(Long, Array[Double])]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val centroids = quantizedLloyd(imgs, IvfClusters, SemDedupIters)
      val indexPath =
        graft.SessionResources.scratchDir(spark, "ivf_xmodal", dir)
      assignVecs(imgs.toDF("vec_id", "ev"), centroids)
        .write.partitionBy("cluster").mode("overwrite").parquet(indexPath)
      val qs = emb.filter(col("vec_id") % 2 === 1)
        .orderBy(col("vec_id")).limit(XModalQueries)
        .as[(Long, Array[Double])].collect()
      // (query, probed cluster) fan-out: XModalQueries × XModalProbes
      // rows of driver-side doubles — broadcast by construction
      val probeRows = qs.toSeq.flatMap { case (qid, qv) =>
        nearestProbes(centroids, qv, XModalProbes).toSeq.sorted
          .map(c => (qid, qv, c))
      }
      val probeDf = probeRows.toDF("qid", "qv", "cluster")
      val unionProbes = probeRows.map(_._3).toSet
      val topk = graft.functions.TopKAgg.top_k(XModalK)
      spark.read.parquet(indexPath)
        .filter(col("cluster").isInCollection(unionProbes)) // pruning
        .join(broadcast(probeDf), Seq("cluster"))
        .withColumn("cosine",
          dot(col("ev"), col("qv")) /
            (sqrt(dot(col("ev"), col("ev"))) *
              sqrt(dot(col("qv"), col("qv")))))
        .groupBy(col("qid"))
        .agg(topk(col("vec_id"), col("cosine")).as("tk"))
        .select(col("qid"), posexplode(col("tk")))
        .select(col("qid"), (col("pos") + 1).cast("long").as("rnk"),
          col("col.id").as("img_vec"), col("col.v").as("cosine"))
        .orderBy(col("qid"), col("rnk"))
    } finally imgs.unpersist(blocking = false)
  }

  /** The image-side coarse-quantizer training chain (prefix `x`) over
    * CTE `ie` — the [[semDedupSql]] fixed-point template restricted to
    * the even-id modality — plus the post-training L2-argmin assignment
    * `xassign(vec_id, cluster)`. */
  private def xmodalTrainSql: String = {
    val q = SemDedupQScale
    val train = (1 to SemDedupIters).map { i =>
      val prev = s"xc${i - 1}"
      s"""xa$i AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT x.vec_id, c.cid, row_number() OVER (
         |        PARTITION BY x.vec_id
         |        ORDER BY ${l2FoldSql("x.ev", "c.cv")}, c.cid) AS rn
         |    FROM ie x CROSS JOIN $prev c) WHERE rn = 1),
         |xs$i AS (
         |  SELECT a.cid, t.i AS pos,
         |    SUM(CAST(floor(v.ev[t.i] * $q) AS BIGINT)) AS sq,
         |    COUNT(*) AS n
         |  FROM xa$i a JOIN ie v ON v.vec_id = a.vec_id,
         |    UNNEST(range(1, len(v.ev)+1)) AS t(i)
         |  GROUP BY a.cid, t.i),
         |xu$i AS (
         |  SELECT cid, list(CAST(td AS DOUBLE) / $q ORDER BY pos) AS cv
         |  FROM (SELECT cid, pos,
         |          CASE WHEN sq >= 0 THEN sq // n
         |               ELSE -((-sq) // n) END AS td
         |        FROM xs$i) GROUP BY cid),
         |xc$i AS (
         |  SELECT p.cid, COALESCE(u.cv, p.cv) AS cv
         |  FROM $prev p LEFT JOIN xu$i u USING (cid))""".stripMargin
    }.mkString(",\n")
    s"""xc0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
       |    AS cid, ev AS cv
       |  FROM ie WHERE vec_id IN
       |    (SELECT vec_id FROM ie ORDER BY vec_id LIMIT $IvfClusters)),
       |$train,
       |xassign AS (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT x.vec_id, c.cid, row_number() OVER (
       |        PARTITION BY x.vec_id
       |        ORDER BY ${l2FoldSql("x.ev", "c.cv")}, c.cid) AS rn
       |    FROM ie x CROSS JOIN xc$SemDedupIters c) WHERE rn = 1)""".stripMargin
  }

  /** Oracle: replays the ENTIRE cross-modal IVF pipeline — fixed-point
    * image-side training, L2-argmin assignment, per-query probe
    * selection, the pruned per-query candidate sets, strict-fold
    * cosines, top-k — bit-identically (the [[annIvfPqSql]] discipline,
    * incl. AS MATERIALIZED on every CTE against DuckDB's exponential
    * CTE re-inlining). */
  val crossModalRetrievalSql: String =
    OracleSql.materializeCtes(crossModalRetrievalSqlRaw)

  private def crossModalRetrievalSqlRaw: String = {
    val cos = s"""${foldSql("i.ev", "q.qv")}
       |    / (sqrt(${foldSql("i.ev", "i.ev")})
       |       * sqrt(${foldSql("q.qv", "q.qv")}))""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |ie AS (SELECT vec_id, ev FROM e WHERE vec_id % 2 = 0),
       |$xmodalTrainSql,
       |q AS (SELECT vec_id AS qid, ev AS qv FROM e
       |      WHERE vec_id % 2 = 1 ORDER BY vec_id LIMIT $XModalQueries),
       |qprobe AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.qid, c.cid, row_number() OVER (
       |        PARTITION BY q.qid
       |        ORDER BY ${l2FoldSql("q.qv", "c.cv")}, c.cid) AS rn
       |    FROM q CROSS JOIN xc$SemDedupIters c) WHERE rn <= $XModalProbes),
       |s AS (
       |  SELECT q.qid, i.vec_id,
       |    $cos AS cosine
       |  FROM xassign a
       |  JOIN ie i USING (vec_id)
       |  JOIN qprobe p ON p.cid = a.cluster
       |  JOIN q ON q.qid = p.qid),
       |r AS (
       |  SELECT qid, vec_id, cosine,
       |    row_number() OVER (PARTITION BY qid
       |                       ORDER BY cosine DESC, vec_id) AS rnk
       |  FROM s)
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id AS img_vec, cosine
       |FROM r WHERE rnk <= $XModalK
       |ORDER BY qid, rnk""".stripMargin
  }

  /** RETRIEVAL-QUALITY EVALUATION — recall@[[XModalK]] and reciprocal
    * rank of the genuinely-pruned cross-modal IVF retriever
    * ([[crossModalRetrieval]], [[XModalProbes]] of [[IvfClusters]] lists)
    * scored per query against EXACT brute-force search over the image
    * side — the IR scorecard a retrieval pipeline publishes next to its
    * index build, as a first-class gated query rather than a spec
    * assertion: hits = |IVF top-k ∩ exact top-k|, recall = hits/k, and
    * rr = 1/rank of the TRUE nearest neighbor inside the IVF list (0 if
    * the pruning lost it — both outcomes populated on this corpus's
    * near-random embeddings, the measured LSH physics).
    *
    * Exactness: both arms rank by the same strict-fold cosines, so their
    * top-k sets are bit-identical decisions in both engines; hits and
    * ranks are exact integers, and recall/rr are single correctly-rounded
    * divisions. The oracle replays the ENTIRE pipeline — fixed-point
    * centroid training, assignment, probe selection, both rankings, the
    * intersection, the metrics ([[crossModalRetrievalSql]]'s discipline
    * extended through the evaluation arithmetic).
    *
    * Scale shape: the IVF arm is [[crossModalRetrieval]] verbatim
    * (pruned scan, bounded top-k aggregator); the exact arm is the
    * [[annBruteForce]] shape per bounded query batch (one map-side scored
    * pass, k-bounded partial top-k, no window over the candidate
    * stream); the metric joins run over ≤ queries·k rows. */
  def retrievalEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ivf = graft.SharedFrames.shared(crossModalRetrieval(spark, dir)
      .select(col("qid"), col("rnk"), col("img_vec")))
    val emb = t(spark, dir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("ev"))
    val qs = emb.filter(col("vec_id") % 2 === 1)
      .orderBy(col("vec_id")).limit(XModalQueries)
      .withColumnRenamed("vec_id", "qid").withColumnRenamed("ev", "qv")
    val topk = graft.functions.TopKAgg.top_k(XModalK)
    val brute = graft.SharedFrames.shared(
      emb.filter(col("vec_id") % 2 === 0)
        .crossJoin(broadcast(qs))
        .withColumn("cosine",
          dot(col("ev"), col("qv")) /
            (sqrt(dot(col("ev"), col("ev"))) * sqrt(dot(col("qv"), col("qv")))))
        .groupBy(col("qid"))
        .agg(topk(col("vec_id"), col("cosine")).as("tk"))
        .select(col("qid"), posexplode(col("tk")))
        .select(col("qid"), (col("pos") + 1).cast("long").as("rnk"),
          col("col.id").as("img_vec")))
    rankingEval(ivf.withColumnRenamed("img_vec", "nid"),
      brute.withColumnRenamed("img_vec", "nid"), qs.select(col("qid")))
  }

  /** The recall@k / reciprocal-rank scorecard over an approximate and an
    * exact (qid, rnk, nid) ranking — ONE copy serving [[retrievalEval]]
    * and [[matryoshkaEval]] (a drifted duplicate would let the two
    * scorecards define "recall" differently). */
  private def rankingEval(approx: DataFrame, exact: DataFrame,
      qids: DataFrame): DataFrame = {
    val hits = approx.join(exact, Seq("qid", "nid"))
      .groupBy(col("qid")).agg(count(lit(1)).as("h"))
    val nnRank = exact.filter(col("rnk") === 1L)
      .select(col("qid"), col("nid"))
      .join(approx, Seq("qid", "nid"), "left_outer")
      .select(col("qid"), coalesce(col("rnk"), lit(0L)).as("nn_rank"))
    qids
      .join(hits, Seq("qid"), "left_outer")
      .join(nnRank, Seq("qid"))
      .select(col("qid"),
        coalesce(col("h"), lit(0L)).as("hits"),
        (coalesce(col("h"), lit(0L)).cast("double") / lit(XModalK.toDouble))
          .as("recall"),
        col("nn_rank"),
        when(col("nn_rank") > 0L,
          lit(1.0d) / col("nn_rank").cast("double")).otherwise(lit(0.0d))
          .as("rr"))
      .orderBy(col("qid"))
  }

  /** Dimensions kept by [[matryoshkaEval]]'s truncated arm. */
  final val TruncDims = 16

  /** MATRYOSHKA TRUNCATION EVALUATION — how much retrieval quality the
    * first [[TruncDims]] of 64 embedding dimensions retain: the MRL
    * question (Kusupati et al. 2022 — can the prefix of the vector serve
    * as a cheap index?) answered as a gated scorecard, the
    * [[retrievalEval]] metrics with the approximate arm = exact cosine
    * over the TRUNCATED prefix instead of a pruned index. Reading 4×
    * fewer bytes per vector is the 100 TB win being measured.
    *
    * Both arms are map-side scored passes over the bounded query batch
    * with k-bounded top-k aggregation; slicing is `slice(ev, 1, 16)` vs
    * DuckDB's `ev[1:16]` — the same elements through the same strict
    * fold, bit-identical. The oracle replays both rankings, the
    * intersection, and the metrics. */
  def matryoshkaEval(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("ev"))
    val qs = emb.orderBy(col("vec_id")).limit(XModalQueries)
      .withColumnRenamed("vec_id", "qid").withColumnRenamed("ev", "qv")
    val topk = graft.functions.TopKAgg.top_k(XModalK)
    def arm(vec: Column, qvec: Column): DataFrame =
      emb.join(broadcast(qs), col("vec_id") =!= col("qid"))
        .withColumn("cosine",
          dot(vec, qvec) /
            (sqrt(dot(vec, vec)) * sqrt(dot(qvec, qvec))))
        .groupBy(col("qid"))
        .agg(topk(col("vec_id"), col("cosine")).as("tk"))
        .select(col("qid"), posexplode(col("tk")))
        .select(col("qid"), (col("pos") + 1).cast("long").as("rnk"),
          col("col.id").as("nid"))
    val full = graft.SharedFrames.sharedLazy(arm(col("ev"), col("qv")))
    val trunc = graft.SharedFrames.sharedLazy(
      arm(slice(col("ev"), 1, TruncDims), slice(col("qv"), 1, TruncDims)))
    rankingEval(trunc, full, qs.select(col("qid")))
  }

  /** Oracle: both rankings (full and prefix-sliced strict-fold cosines)
    * + the shared metric arithmetic. */
  val matryoshkaEvalSql: String = OracleSql.materializeCtes {
    def cosOf(a: String, b: String) =
      s"""${foldSql(a, b)}
         |    / (sqrt(${foldSql(a, a)})
         |       * sqrt(${foldSql(b, b)}))""".stripMargin
    def ranked(name: String, scored: String) =
      s"""$name AS (
         |  SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rnk FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid
         |                         ORDER BY cosine DESC, vec_id) AS rnk
         |    FROM $scored) WHERE rnk <= $XModalK)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |q AS (SELECT vec_id AS qid, ev AS qv FROM e
       |      ORDER BY vec_id LIMIT $XModalQueries),
       |fs AS (
       |  SELECT q.qid, c.vec_id, ${cosOf("c.ev", "q.qv")} AS cosine
       |  FROM e c CROSS JOIN q WHERE c.vec_id <> q.qid),
       |ts AS (
       |  SELECT q.qid, c.vec_id,
       |    ${cosOf(s"(c.ev[1:$TruncDims])", s"(q.qv[1:$TruncDims])")}
       |      AS cosine
       |  FROM e c CROSS JOIN q WHERE c.vec_id <> q.qid),
       |${ranked("fr", "fs")},
       |${ranked("tr", "ts")},
       |hits AS (
       |  SELECT qid, CAST(COUNT(*) AS BIGINT) AS h
       |  FROM tr JOIN fr USING (qid, vec_id) GROUP BY 1),
       |nr AS (
       |  SELECT n.qid, COALESCE(tr.rnk, 0) AS nn_rank
       |  FROM (SELECT qid, vec_id FROM fr WHERE rnk = 1) n
       |  LEFT JOIN tr ON tr.qid = n.qid AND tr.vec_id = n.vec_id)
       |SELECT q.qid, COALESCE(h, 0) AS hits,
       |  CAST(COALESCE(h, 0) AS DOUBLE) / ${XModalK.toDouble} AS recall,
       |  nn_rank,
       |  CASE WHEN nn_rank > 0 THEN 1.0 / CAST(nn_rank AS DOUBLE)
       |       ELSE 0.0 END AS rr
       |FROM q LEFT JOIN hits USING (qid) JOIN nr USING (qid)
       |ORDER BY q.qid""".stripMargin
  }

  /** Oracle: the full cross-modal replay plus the exact arm and the
    * metric arithmetic. */
  val retrievalEvalSql: String = OracleSql.materializeCtes {
    val cos = s"""${foldSql("i.ev", "q.qv")}
       |    / (sqrt(${foldSql("i.ev", "i.ev")})
       |       * sqrt(${foldSql("q.qv", "q.qv")}))""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |ie AS (SELECT vec_id, ev FROM e WHERE vec_id % 2 = 0),
       |$xmodalTrainSql,
       |q AS (SELECT vec_id AS qid, ev AS qv FROM e
       |      WHERE vec_id % 2 = 1 ORDER BY vec_id LIMIT $XModalQueries),
       |qprobe AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.qid, c.cid, row_number() OVER (
       |        PARTITION BY q.qid
       |        ORDER BY ${l2FoldSql("q.qv", "c.cv")}, c.cid) AS rn
       |    FROM q CROSS JOIN xc$SemDedupIters c) WHERE rn <= $XModalProbes),
       |s AS (
       |  SELECT q.qid, i.vec_id,
       |    $cos AS cosine
       |  FROM xassign a
       |  JOIN ie i USING (vec_id)
       |  JOIN qprobe p ON p.cid = a.cluster
       |  JOIN q ON q.qid = p.qid),
       |ivf AS (
       |  SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rnk FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid
       |                         ORDER BY cosine DESC, vec_id) AS rnk
       |    FROM s) WHERE rnk <= $XModalK),
       |bs AS (
       |  SELECT q.qid, i.vec_id,
       |    $cos AS cosine
       |  FROM ie i CROSS JOIN q),
       |bt AS (
       |  SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rnk FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid
       |                         ORDER BY cosine DESC, vec_id) AS rnk
       |    FROM bs) WHERE rnk <= $XModalK),
       |hits AS (
       |  SELECT qid, CAST(COUNT(*) AS BIGINT) AS h
       |  FROM ivf JOIN bt USING (qid, vec_id) GROUP BY 1),
       |nr AS (
       |  SELECT n.qid, COALESCE(ivf.rnk, 0) AS nn_rank
       |  FROM (SELECT qid, vec_id FROM bt WHERE rnk = 1) n
       |  LEFT JOIN ivf ON ivf.qid = n.qid AND ivf.vec_id = n.vec_id)
       |SELECT q.qid, COALESCE(h, 0) AS hits,
       |  CAST(COALESCE(h, 0) AS DOUBLE) / ${XModalK.toDouble} AS recall,
       |  nn_rank,
       |  CASE WHEN nn_rank > 0 THEN 1.0 / CAST(nn_rank AS DOUBLE)
       |       ELSE 0.0 END AS rr
       |FROM q LEFT JOIN hits USING (qid) JOIN nr USING (qid)
       |ORDER BY q.qid""".stripMargin
  }

  /** Eval slice (vec_id < cap) and cosine threshold for
    * [[decontaminateSemantic]]. τ = 0.25 sits inside the corpus's
    * measured cross-vector cosine range ([−0.31, 0.36] — the
    * [[Multimodal.CrossModalTau]] calibration), so flagged AND clean
    * classes are both populated at every SF. */
  final val SemContamEvalCap = 10L
  final val SemContamTau = 0.25

  /** SEMANTIC DECONTAMINATION — the embedding-space face of
    * [[Dedup.decontaminate]]: gram decontamination only catches VERBATIM
    * benchmark leakage; paraphrased eval material shares no 8-gram but
    * sits close in embedding space. Every corpus vector is scored
    * against the full eval-embedding set (bounded by contract, like the
    * gram variant's broadcast eval grams), reporting its nearest eval
    * item, the exact strict-fold max cosine, and the τ-verdict.
    *
    * Scale shape: the eval set broadcasts; scoring is one map-side pass
    * (corpus × |eval| bounded fan-out); the per-vector argmax is a
    * partial-combinable `min(struct(-cos, eval_id))` election, so each
    * map task folds its |eval|-sized fan-out back to ONE row per vec_id
    * before anything shuffles — the exchange that remains is corpus-row-
    * sized (the same mass as the presentation sort), never the ×|eval|
    * scored frame. (IEEE negation is exact, so `-(-cos)` restores the
    * cosine bit-identically; ties break on lowest eval_id, matching the
    * oracle's `ORDER BY cos DESC, eval_id` row_number.) */
  def decontaminateSemantic(spark: SparkSession, dir: String): DataFrame = {
    // zero-norm guard: a zero vector has no direction — its cosine is
    // 0/0 = NaN, which the window oracle and the min-struct election
    // would rank DIFFERENTLY (NaN-largest vs NaN-skipped). Out of scope
    // on both sides, in both engines.
    val e = withNorm(spark, dir).filter(col("nrm") > 0)
    val evalE = e.filter(col("vec_id") < SemContamEvalCap)
      .select(col("vec_id").as("eval_id"), col("ev").as("qv"),
        col("nrm").as("qn"))
    e.filter(col("vec_id") >= SemContamEvalCap)
      .crossJoin(broadcast(evalE))
      .withColumn("cos", dot(col("ev"), col("qv")) / (col("nrm") * col("qn")))
      .groupBy(col("vec_id"))
      .agg(min(struct((-col("cos")).as("neg_cos"),
        col("eval_id").as("eval_id"))).as("best"))
      .select(col("vec_id"), col("best.eval_id").as("nearest_eval"),
        (-col("best.neg_cos")).as("max_cos"),
        (-col("best.neg_cos") >= SemContamTau).as("contaminated"))
      .orderBy(col("vec_id"))
  }

  /** Oracle for [[decontaminateSemantic]]: the identical strict-fold
    * cosines and (cos DESC, eval_id) argmax over the same eval slice. */
  val decontaminateSemanticSql: String = {
    val cos = s"""${foldSql("c.ev", "q.ev")}
       |      / (sqrt(${foldSql("c.ev", "c.ev")})
       |         * sqrt(${foldSql("q.ev", "q.ev")}))""".stripMargin
    s"""WITH e AS (
       |  SELECT vec_id, ev FROM (
       |    SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings)
       |  WHERE sqrt(${foldSql("ev", "ev")}) > 0),
       |s AS (
       |  SELECT c.vec_id, q.vec_id AS eval_id,
       |    $cos AS cos
       |  FROM e c, e q
       |  WHERE c.vec_id >= $SemContamEvalCap
       |    AND q.vec_id < $SemContamEvalCap),
       |r AS (
       |  SELECT vec_id, eval_id, cos, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY cos DESC, eval_id) AS rn
       |  FROM s)
       |SELECT vec_id, eval_id AS nearest_eval, cos AS max_cos,
       |  (cos >= $SemContamTau) AS contaminated
       |FROM r WHERE rn = 1
       |ORDER BY vec_id""".stripMargin
  }

  /** Per-vector affine INT8 quantization — the storage/bandwidth path for
    * embedding columns at 100 TB (4× smaller than float32 inverted lists;
    * codes live beside the IVF partitions, full-precision re-rank only for
    * the probed candidates). Emits the quantization parameters (per-vector
    * min/max), an exact integer checksum of the codes, and the maximum
    * absolute dequantization error — every arithmetic step an identical
    * IEEE op sequence in both engines, so the driver gate proves code
    * assignment AND error accounting exactly. The error contract (max_err
    * strictly under one quantization step) is spec-pinned. */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame =
    embedQuantizeCore(
      t(spark, dir, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("ev")))

  /** Core of [[embedQuantize]] over any (vec_id, ev: array<double>) frame —
    * factored so the constant-vector edge is spec-testable on synthetic
    * input (the corpus has no constant embeddings). */
  def embedQuantizeCore(vecs: DataFrame): DataFrame =
    vecs
      .withColumn("mn", array_min(col("ev")))
      .withColumn("mx", array_max(col("ev")))
      // mx = mn (constant vector): (x-mn)/(mx-mn) is 0/0 = NaN — floor(NaN)
      // nulls the codes in Spark and ERRORS the DuckDB oracle's CAST. A
      // degenerate range carries zero information: emit all-zero codes (the
      // dequantized value mn + 0·0 = mn is already exact, so max_err folds
      // to 0 with no further special-casing).
      .withColumn("codes", expr(
        "transform(ev, x -> CASE WHEN mx = mn THEN 0L " +
          "ELSE floor((x - mn) / (mx - mn) * 255) END)"))
      .select(col("vec_id"), col("mn"), col("mx"),
        expr("aggregate(codes, 0L, (a, c) -> a + c)").as("code_sum"),
        expr("array_max(transform(sequence(1, size(ev)), i -> " +
          "abs(mn + (CAST(element_at(codes, i) AS DOUBLE) / 255) * (mx - mn)" +
          " - element_at(ev, i))))").as("max_err"))
      .orderBy(col("vec_id"))

  val embedQuantizeSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
      |m AS (SELECT vec_id, ev, list_min(ev) AS mn, list_max(ev) AS mx FROM e),
      |c AS (SELECT vec_id, ev, mn, mx,
      |        list_transform(ev,
      |          x -> CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
      |               ELSE CAST(floor((x - mn) / (mx - mn) * 255) AS BIGINT)
      |               END) AS codes
      |      FROM m)
      |SELECT vec_id, mn, mx,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
      |    (a, b) -> a + b) AS code_sum,
      |  list_max(list_transform(range(1, len(ev) + 1),
      |    i -> abs(mn + (CAST(codes[i] AS DOUBLE) / 255) * (mx - mn) - ev[i])))
      |    AS max_err
      |FROM c ORDER BY vec_id""".stripMargin

  // Near-dup knobs, tuned to the synthetic corpus: the testdata embeddings
  // are near-random unit vectors with NO planted cosine-0.95 dups (max
  // pairwise cosine ≈ 0.49), so the "duplicate" contract is parametric and
  // the default threshold names the corpus's own extreme tail.
  final val NearDupTau = 0.4
  final val NearDupIdCap = 400
  final val NearDupTables = 8 // wider OR-amplification: recall over precision
  final val NearDupPlanes = 4

  /** Exact embedding near-duplicate pairs over a vec_id-bounded slice — the
    * VERIFICATION PRIMITIVE (same pattern as [[Dedup.dedupNgramJaccard]]):
    * exact all-pairs cosine is O(n²) and is only ever run on a bounded
    * slice; [[embeddingNearDup]] is the LSH-bucketed scale path for the full
    * corpus. Strict-left-fold dot products on both engines make the cosine —
    * and therefore the ≥ τ filter decision — bit-identical to the oracle. */
  def embeddingNearDupExact(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(spark, dir).filter(col("vec_id") < NearDupIdCap)
    e.select(col("vec_id").as("v1"), col("ev").as("e1"), col("nrm").as("n1"))
      .join(e.select(col("vec_id").as("v2"), col("ev").as("e2"),
        col("nrm").as("n2")), col("v1") < col("v2"))
      .withColumn("cosine", dot(col("e1"), col("e2")) / (col("n1") * col("n2")))
      .filter(col("cosine") >= NearDupTau)
      .select(col("v1"), col("v2"), col("cosine"))
      .orderBy(col("v1"), col("v2"))
  }

  val embeddingNearDupExactSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
      |           WHERE vec_id < $NearDupIdCap),
      |n AS (SELECT vec_id, ev,
      |  sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(range(1, len(ev)+1), i -> ev[i] * ev[i])),
      |    (a, b) -> a + b)) AS nrm FROM e)
      |SELECT v1, v2, cosine FROM (
      |  SELECT x.vec_id AS v1, y.vec_id AS v2,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(range(1, len(x.ev)+1), i -> x.ev[i] * y.ev[i])),
      |      (a, b) -> a + b) / (x.nrm * y.nrm) AS cosine
      |  FROM n x JOIN n y ON x.vec_id < y.vec_id)
      |WHERE cosine >= $NearDupTau
      |ORDER BY v1, v2""".stripMargin

  /** Embedding near-duplicate pairs at corpus scale: multi-table LSH
    * candidates (equi-join on (table, bucket)), then ONE exact cosine per
    * candidate with precomputed norms, keeping ≥ τ. Wider banding than
    * the ANN path ([[NearDupTables]]×[[NearDupPlanes]]) because dup
    * mining wants recall at a moderate τ, not top-k precision. Recall vs
    * the exact primitive is pinned in ScalaTest.
    *
    * Plan shape (rewritten r16 after the 10×-embeddings probe timed the
    * old plan out): at τ this low, hyperplane collisions barely separate
    * — a RANDOM pair collides in some table with prob ≈ 1−(1−2⁻⁴)⁸ ≈
    * 0.4, so the candidate multiset is Θ(n²) on isotropic data and the
    * old id-only pipeline (pair distinct → two vector re-joins) pushed
    * those Θ(n²) rows through THREE shuffles. Now the vectors ride the
    * LINEAR bucket shuffle instead ([[NearDupTables]]× the corpus — the
    * only materialized/exchanged frame), the quadratic candidate stream
    * is generated AND cosine-verified inside the join's streamed output
    * (whole-stage codegen, never shuffled, never deduped), and the
    * distinct runs on the SURVIVORS — output-sized by definition.
    * Duplicates collapse exactly because the cosine is a pure function
    * of the pair (same strict fold ⇒ bit-equal doubles across tables).
    * Verified identical output to the old plan; the oracle replay is
    * unchanged. The Θ(n²·p(τ)) OUTPUT (and the matching Θ(n²) verify
    * stream) is the query's own contract on isotropic embeddings — see
    * the r16 probe notes in BASELINE.md. */
  def embeddingNearDup(spark: SparkSession, dir: String,
      tau: Double = NearDupTau): DataFrame = {
    val e = withNorm(spark, dir)
    val bk = withBuckets(e.select(col("vec_id"), col("ev"), col("nrm")),
      NearDupTables, NearDupPlanes)
    // shuffle_hash: corpus-sized bucket table — same reasoning as
    // Dedup.dedupMinhashLsh (never broadcastable at scale, faster locally)
    bk.as("x").hint("shuffle_hash").join(bk.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .withColumn("cosine",
        dot(col("x.ev"), col("y.ev")) / (col("x.nrm") * col("y.nrm")))
      .filter(col("cosine") >= tau)
      .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"),
        col("cosine"))
      .distinct()
      .orderBy(col("v1"), col("v2"))
  }

  // ---- SemDeDup: semantic deduplication via cluster-then-prune ----

  /** Centroid-count FLOOR for [[semDedup]]. The registered query derives
    * the actual K from corpus size via [[semDedupKFor]] — K ∝ n is what
    * keeps per-cluster populations (and so the within-cluster pair join)
    * CONSTANT as the corpus grows; a fixed K would let candidates grow
    * O(n²/K). The pruning stage is UNCHANGED by K or by where centroids
    * come from, which is why [[semDedupCore]] takes them as a plain
    * DataFrame. */
  final val SemDedupK = 8
  /** Target per-cluster population: K = max([[SemDedupK]], ⌈n / 64⌉), all
    * integer arithmetic so Spark and the DuckDB oracle derive the SAME K
    * from the same corpus (the SQL replays the derivation in its init
    * CTE's LIMIT). 64 keeps populations in the tens at every SF and bounds
    * the per-cluster pair join at ~64²/2 candidates regardless of corpus
    * size. */
  final val SemDedupTargetPop = 64L

  /** K for an n-vector corpus — see [[SemDedupTargetPop]]. */
  def semDedupKFor(n: Long): Int =
    math.max(SemDedupK.toLong,
      (n + SemDedupTargetPop - 1) / SemDedupTargetPop).toInt

  /** Broadcast-block budget for the K ∝ n centroid structures (VERDICT
    * r16 item 1). Arithmetic at d = 64: one (cid, cv, cn) triple is
    * 8 + 64·8 + 8 = 528 B of payload plus ~96 B of boxing/struct
    * overhead → [[centroidBlockRows]] ≈ 107k centroids per 64 MB block.
    * At SemDeDup's K = ⌈n/64⌉ a BILLION-vector corpus has ~15.6 M
    * centroids ≈ 146 blocks: the driver heap holds ONE transiently
    * (collect → broadcast → drop the reference), the spillable
    * MEMORY_AND_DISK broadcast store holds the rest, and executors —
    * which need every centroid anyway (the paper's
    * every-vector-scores-every-centroid contract) — fetch blocks into
    * their own spillable stores. No allocation, collect, or broadcast is
    * ever a single K-sized object. */
  final val CentroidBlockBytes = 64L << 20

  /** Centroid rows per ≤[[CentroidBlockBytes]] block at dimension d. */
  private[operators] def centroidBlockRows(d: Int): Int =
    math.max(1L, CentroidBlockBytes / (8L * d + 112L)).toInt
  /** Lloyd iterations for [[semDedupCentroids]] (same small cap as
    * [[IvfIters]] — convergence on this data is 2-3 rounds). */
  final val SemDedupIters = 3
  /** Fixed-point scale (2^20) for the EXACT centroid-update arithmetic in
    * [[semDedupCentroids]]: component sums are Σ floor(x·2^20) over
    * BIGINT — associative, so order-independent across partitions and
    * engines — and the mean is a truncating integer division followed by
    * a (binary-exact) division by 2^20. That makes the TRAINED centroids
    * a pure function of the data, replayable bit-identically in DuckDB
    * SQL — the property the [[semDedupSql]] oracle rests on. Headroom:
    * |Σ floor(x·2^20)| ≤ n·2^20 stays under 2^63 to n ≈ 8.8e12 vectors. */
  final val SemDedupQScale = 1L << 20
  /** Within-cluster prune threshold, tuned on the synthetic corpus so both
    * kept=true and kept=false are populated at every SF (drops at τ=0.35:
    * 63/500 sf0.001, 76/500 sf0.01, 759/2000 sf0.1). */
  final val SemDedupTau = 0.35

  /** Semantic dedup (SemDeDup, Abbas et al. 2023): assign every embedding
    * to its nearest centroid, then drop any vector that is cosine-≥ τ to a
    * LOWER-id vector in the SAME cluster (first-seen-wins keeper election —
    * order-free and engine-neutral). Clustering bounds the pairwise stage:
    * candidate pairs are an equi-join on cluster id, never an all-pairs
    * product — with K ∝ n, per-cluster populations (and so per-cluster
    * pair counts) stay constant as the corpus grows. One row per vector
    * with its cluster, centroid affinity and keep verdict, so the output
    * doubles as the cluster-assignment audit table.
    *
    * Since round 17 the K ∝ n centroid set flows as BOUNDED BROADCAST
    * BLOCKS end-to-end (training, norm derivation, assignment) — see
    * [[CentroidBlockBytes]] — so no single driver allocation and no
    * single collect is proportional to K. */
  def semDedup(spark: SparkSession, dir: String): DataFrame =
    semDedupWithBlockRows(spark, dir, centroidBlockRows(Dims))

  /** [[semDedup]] with an explicit centroid-block size — SemDedupSpec pins
    * block-fold ≡ single-block on a corpus whose K spans several blocks. */
  private[operators] def semDedupWithBlockRows(spark: SparkSession,
      dir: String, blockRows: Int): DataFrame = {
    val e = withNorm(spark, dir)
    // K from corpus size (footer-metadata count — no data scan), so
    // per-cluster populations hold at ~SemDedupTargetPop at any SF
    val k = semDedupKFor(t(spark, dir, "embeddings").count())
    // TRAINED centroids (quantized Lloyd's over the corpus — the scale
    // path; round 5 registered a K-lowest-id stand-in). cid = training
    // index; norms through the same strict-fold dot as every oracle.
    val blocks = semDedupCentroidBlocks(spark, dir, k = k,
      blockRows = blockRows)
    semDedupPrune(semDedupAssignBlocked(e, blocks), SemDedupTau)
  }

  /** Deterministic k-means for [[semDedup]]: Lloyd's assignment exactly as
    * [[ivfCentroids]] (L2 argmin, lowest-index ties), but the UPDATE step
    * runs in exact fixed-point ([[SemDedupQScale]]) so the result is
    * independent of partition/aggregation order — the plain double `avg`
    * the IVF path uses is order-dependent in its last ulp, which is fine
    * for ANN (verified against brute force with probe margin) but would
    * make a bit-exact oracle replay impossible. Init = the k lowest
    * vec_ids; empty clusters keep their previous centroid.
    *
    * This array-returning face is for BOUNDED-k callers ([[ivfCentroids]]
    * k=16, PQ codebooks k=16, the cross-modal slice) — the K ∝ n SemDeDup
    * path never materializes the full array; it uses
    * [[semDedupCentroidBlocks]]. */
  def semDedupCentroids(spark: SparkSession, dir: String,
      k: Int = SemDedupK, iters: Int = SemDedupIters,
      maxId: Long = Long.MaxValue): Array[Array[Double]] = {
    val vecs = trainVecs(spark, dir, maxId)
    try quantizedLloyd(vecs, k, iters)
    finally vecs.unpersist(blocking = false)
  }

  /** The persisted training input: init + every Lloyd iteration read these
    * blocks instead of re-scanning the embeddings parquet per iteration;
    * the caller owns the lifetime (released after the last update).
    * maxId bounds training to the stored-corpus prefix for the
    * incremental cadence. */
  private def trainVecs(spark: SparkSession, dir: String,
      maxId: Long): org.apache.spark.sql.Dataset[(Long, Array[Double])] = {
    import spark.implicits._
    t(spark, dir, "embeddings")
      .filter(col("vec_id") < maxId)
      .select(col("vec_id"), toDouble(col("embedding")).as("ev"))
      .as[(Long, Array[Double])]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** The quantized-Lloyd's loop over any (vec_id, vector) set — shared
    * verbatim by [[semDedupCentroids]] (full vectors) and [[pqCodebooks]]
    * (per-subspace slices), so both trainings are bit-replayable by the
    * same SQL template. Caller owns persistence of `vecs` (init + every
    * iteration re-reads it). This DENSE face is for k that fits one
    * centroid block — it is also [[quantizedLloydBlocked]]'s single-block
    * fast path (fewest driver jobs: one collect per iteration), so the
    * K ∝ n blocked loop and this one are spec-pinned equal. */
  private def quantizedLloyd(
      vecs: org.apache.spark.sql.Dataset[(Long, Array[Double])],
      k: Int, iters: Int): Array[Array[Double]] = {
    import vecs.sparkSession.implicits._
    val sc = vecs.sparkSession.sparkContext
    var centroids = vecs.orderBy(col("vec_id")).limit(k)
      .collect().map(_._2)
    (0 until iters).foreach { _ =>
      val bc = sc.broadcast(centroids)
      val assigned = vecs.mapPartitions { it =>
        val cs = bc.value
        it.map { case (_, v) => (nearestCentroid(v, cs), v) }
      }.toDF("cluster", "ev")
      val sums = assigned
        .select(col("cluster"), posexplode(col("ev")).as(Seq("pos", "x")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(floor(col("x") * SemDedupQScale)).as("sq"),
          count(lit(1)).as("n"))
        .collect()
      bc.unpersist(blocking = false) // iteration-scoped, release inline
      val upd = sums.groupBy(_.getInt(0)).view.mapValues { rows =>
        rows.sortBy(_.getInt(1)).map { r =>
          // JVM long division truncates toward zero — the SQL twin
          // emulates exactly this (CASE on sign over `//`)
          (r.getLong(2) / r.getLong(3)).toDouble / SemDedupQScale
        }
      }.toMap
      centroids = centroids.indices
        .map(c => upd.getOrElse(c, centroids(c))).toArray
    }
    centroids
  }

  /** Rank-range block boundaries of the `k` smallest values in a
    * one-column frame of DISTINCT longs, computed WITHOUT a K-sized
    * driver collect or a single-task global top-K sort (ADVICE r17):
    * range-shuffle the ids, sort within partitions (both distributed),
    * collect the per-partition COUNTS (numPartitions longs), turn them
    * into global rank offsets, and emit only the ids whose global rank
    * is a block edge — 2 longs per block reach the driver. Returns
    * (effK, lo, hi) where effK = min(k, count) and block b covers ranks
    * [b·step, min((b+1)·step, effK)) with inclusive value range
    * [lo(b), hi(b)]. Distinctness is the caller's key contract (vec_id
    * / cid): a duplicated value straddling an edge would double-collect
    * in the caller's range filter. */
  private[operators] def rankBlockBounds(ids: DataFrame, k: Long, step: Int)
      : (Long, Array[Long], Array[Long]) = {
    val idCol = ids.columns.head
    val parts = ids.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    val sorted = ids.repartitionByRange(parts, col(idCol))
      .sortWithinPartitions(idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val counts = sorted.rdd.mapPartitionsWithIndex { (pi, it) =>
        Iterator.single((pi, it.size.toLong))
      }.collect().sortBy(_._1).map(_._2)
      val total = counts.sum
      val effK = math.min(k, total)
      if (effK == 0L) (0L, Array.empty[Long], Array.empty[Long])
      else {
        val offsets = counts.scanLeft(0L)(_ + _)
        val nBlocks = ((effK + step - 1) / step).toInt
        val wanted: Set[Long] = (0 until nBlocks).flatMap { b =>
          Seq(b.toLong * step, math.min((b.toLong + 1) * step, effK) - 1)
        }.toSet
        val edges = sorted.rdd.mapPartitionsWithIndex { (pi, it) =>
          val base = offsets(pi)
          it.zipWithIndex.collect {
            case (row, i) if wanted.contains(base + i) =>
              (base + i, row.getLong(0))
          }
        }.collect().toMap
        val lo = Array.tabulate(nBlocks)(b => edges(b.toLong * step))
        val hi = Array.tabulate(nBlocks)(b =>
          edges(math.min((b.toLong + 1) * step, effK) - 1))
        (effK, lo, hi)
      }
    } finally sorted.unpersist(blocking = false)
  }

  /** The quantized-Lloyd's loop with the K ∝ n driver shapes SHARDED
    * (VERDICT r16 item 1): centroids live as ascending-cid broadcast
    * blocks of ≤ `blockRows` vectors each — never one K-sized driver
    * array — and every per-iteration exchange with the driver is
    * per-block bounded:
    *
    *  - init: block boundaries come from [[rankBlockBounds]] — a
    *    DISTRIBUTED rank computation that collects only the 2-per-block
    *    edge ids (O(K/blockRows) driver longs, ~1 KB at a billion
    *    vectors), closing r17's two documented init costs: the O(K)
    *    ids array (~125 MB at 10⁹) and the single-task global
    *    `orderBy.limit(K)` sort. Each block's init vectors then collect
    *    separately (the k lowest vec_ids are a contiguous prefix of the
    *    sorted ids, so a vec_id range filter selects exactly one block);
    *  - assignment: ONE mapPartitions pass whose argmin loops blocks in
    *    ascending order — arithmetically identical to the single-array
    *    [[nearestCentroid]] over the concatenation (strict `<`, so the
    *    lowest global index wins ties exactly as before);
    *  - update: the fixed-point sums aggregate into PER-CLUSTER component
    *    arrays IN SPARK (the sign-cased `div` below is JVM truncating
    *    division for every sign combination — both branches divide
    *    non-negative longs, where floor and truncation coincide — and
    *    `td::double / 2^20` is the exact power-of-two scaling the driver
    *    loop used), and each block collects only its own K-range slice.
    *
    * Driver heap therefore holds at most ONE block transiently; the
    * block-manager's MEMORY_AND_DISK broadcast storage (spillable) holds
    * the rest. Returns the blocks plus their global start indices.
    *
    * k ≤ blockRows — every bounded-k caller and every tested corpus —
    * takes the DENSE [[quantizedLloyd]] fast path (2.0–2.5× fewer driver
    * jobs per training, measured on the ann_ivf family at sf0.1 when an
    * early r17 draft ran the block machinery unconditionally); the
    * blocked loop below engages only when K actually spans blocks, and
    * SemDedupSpec pins the two paths equal. */
  private[operators] def quantizedLloydBlocked(
      vecs: org.apache.spark.sql.Dataset[(Long, Array[Double])],
      k: Int, iters: Int, blockRows: Int)
      : (IndexedSeq[org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]],
         Array[Int]) = {
    import vecs.sparkSession.implicits._
    val sc = vecs.sparkSession.sparkContext
    val step = math.max(1, blockRows)
    if (k <= step) {
      val arr = quantizedLloyd(vecs, k, iters)
      return if (arr.isEmpty) (Vector.empty, Array.empty[Int])
      else (Vector(sc.broadcast(arr)), Array(0))
    }
    val (effK, loIds, hiIds) =
      rankBlockBounds(vecs.select(col("vec_id")), k.toLong, step)
    if (effK == 0L)
      return (Vector.empty, Array.empty[Int])
    val starts = (0 until effK.toInt by step).toArray
    var blocks: IndexedSeq[
        org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]] =
      loIds.indices.toIndexedSeq.map { b =>
        val arr = vecs
          .filter(col("vec_id") >= loIds(b) && col("vec_id") <= hiIds(b))
          .orderBy(col("vec_id")).collect().map(_._2)
        sc.broadcast(arr)
      }
    (0 until iters).foreach { _ =>
      val bcs = blocks
      val st = starts
      val assigned = vecs.mapPartitions { it =>
        it.map { case (_, v) => (nearestCentroidBlocked(v, bcs, st), v) }
      }.toDF("cluster", "ev")
      val upd = assigned
        .select(col("cluster"), posexplode(col("ev")).as(Seq("pos", "x")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(floor(col("x") * SemDedupQScale)).as("sq"),
          count(lit(1)).as("n"))
        // JVM long division truncates toward zero; both CASE branches
        // divide non-negative longs (floor ≡ truncate there), so this is
        // engine-convention-proof — and textually the oracle's formula
        .withColumn("td",
          expr("CASE WHEN sq >= 0 THEN sq div n ELSE -((-sq) div n) END"))
        .withColumn("v",
          col("td").cast("double") / lit(SemDedupQScale.toDouble))
        .groupBy(col("cluster"))
        .agg(array_sort(collect_list(struct(col("pos"), col("v"))))
          .as("pv"))
        .select(col("cluster"), expr("transform(pv, s -> s.v)").as("cv"))
      val multi = starts.length > 1
      val updSrc =
        if (multi)
          upd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else upd
      val newBlocks = blocks.zip(starts).map { case (bc, lo) =>
        val prev = bc.value
        val rows = updSrc
          .filter(col("cluster") >= lo && col("cluster") < lo + step)
          .as[(Int, Array[Double])].collect()
        val updMap = rows.toMap
        sc.broadcast(
          Array.tabulate(prev.length)(j => updMap.getOrElse(lo + j, prev(j))))
      }
      if (multi) updSrc.unpersist(blocking = false)
      blocks.foreach(_.unpersist(blocking = false)) // iteration-scoped
      blocks = newBlocks
    }
    (blocks, starts)
  }

  /** [[nearestCentroid]] over the blocked representation: the nested loop
    * visits blocks (and cids within a block) in ascending global order
    * with a strict `<`, so the elected index is IDENTICAL to the
    * single-array loop over the concatenation. */
  private def nearestCentroidBlocked(v: Array[Double],
      blocks: IndexedSeq[
        org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]],
      starts: Array[Int]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var b = 0
    while (b < blocks.length) {
      val cs = blocks(b).value
      val s = starts(b)
      var c = 0
      while (c < cs.length) {
        var d = 0.0; var i = 0
        val cv = cs(c)
        while (i < v.length) { val t = v(i) - cv(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = s + c }
        c += 1
      }
      b += 1
    }
    best
  }

  /** TRAINED centroids for the K ∝ n SemDeDup cadence, as assignment-ready
    * broadcast blocks of ascending-cid (cid, cv, cn) triples. The norm is
    * the same strict ascending fold [[graft.functions.VecDot]] computes
    * (then one correctly-rounded sqrt), evaluated per block on the driver
    * — bit-identical to the `sqrt(dot(cv, cv))` column the pre-r17 path
    * derived in Spark. */
  private[operators] def semDedupCentroidBlocks(spark: SparkSession,
      dir: String, k: Int, iters: Int = SemDedupIters,
      maxId: Long = Long.MaxValue,
      blockRows: Int = centroidBlockRows(Dims))
      : IndexedSeq[org.apache.spark.broadcast.Broadcast[
          Array[(Long, Array[Double], Double)]]] = {
    val sc = spark.sparkContext
    val vecs = trainVecs(spark, dir, maxId)
    try {
      val (lloyd, starts) = quantizedLloydBlocked(vecs, k, iters, blockRows)
      lloyd.zip(starts).map { case (bc, s) =>
        val cvs = bc.value
        val triples = cvs.zipWithIndex.map { case (cv, j) =>
          var d = 0.0; var i = 0
          while (i < cv.length) { d += cv(i) * cv(i); i += 1 }
          ((s + j).toLong, cv, math.sqrt(d))
        }
        val tb = sc.broadcast(triples)
        bc.unpersist(blocking = false)
        tb
      }
    } finally vecs.unpersist(blocking = false)
  }

  /** A K-row (cid, cv, cn) centroid DataFrame as ascending-cid broadcast
    * blocks — the bounded-collect bridge between [[semDedupCore]]'s
    * plain-DataFrame contract and the blocked assignment. Blocking is by
    * cid RANK ([[rankBlockBounds]], ADVICE r17): exactly ⌈K/blockRows⌉
    * blocks of ≤ blockRows rows regardless of how sparse or offset the
    * cid values are — the earlier VALUE-range iteration launched one
    * scan job per step of the cid SPAN, so a frame with cids {0, 10¹²}
    * would have launched millions of near-empty jobs. cid is a key
    * (every caller constructs unique cids; see [[rankBlockBounds]]'s
    * distinctness contract). K ≤ blockRows — every tested corpus —
    * stays a single count + one bounded collect. */
  private[operators] def centroidBlocksOf(cents: DataFrame, blockRows: Int)
      : IndexedSeq[org.apache.spark.broadcast.Broadcast[
          Array[(Long, Array[Double], Double)]]] = {
    import cents.sparkSession.implicits._
    val sc = cents.sparkSession.sparkContext
    val sel = cents.select(col("cid"), col("cv"), col("cn"))
    val step = math.max(1, blockRows)
    val n = sel.count()
    if (n == 0L) Vector.empty
    else if (n <= step)
      Vector(sc.broadcast(
        sel.as[(Long, Array[Double], Double)].collect().sortBy(_._1)))
    else {
      val src =
        sel.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val (_, loIds, hiIds) =
          rankBlockBounds(src.select(col("cid")), n, step)
        loIds.indices.map { b =>
          val arr = src
            .filter(col("cid") >= loIds(b) && col("cid") <= hiIds(b))
            .as[(Long, Array[Double], Double)].collect().sortBy(_._1)
          sc.broadcast(arr)
        }.toIndexedSeq
      } finally src.unpersist(blocking = false)
    }
  }

  /** Nearest-centroid assignment of an (vec_id, ev, nrm) frame against
    * the blocked centroid set — the shared front half of
    * [[semDedupCore]] and [[semDedupIncremental]]. Materialized once (it
    * feeds both sides of the pair join + the verdict join).
    *
    * Plan shape (rewritten r16 after the embed-mode probe; SHARDED r17):
    * the argmax is a map-side scan over the broadcast centroid blocks
    * inside ONE mapPartitions pass — the old crossJoin + per-vector
    * `row_number` window materialized and SORTED n·K rows, which at the
    * SemDeDup K ∝ n derivation is a QUADRATIC exchange (15 G rows at a
    * million vectors). Exactness is preserved move for move: the cosine
    * is the same strict-left-fold dot ([[graft.functions.VecDot]]'s
    * ascending accumulate from 0.0) over the same `d/(nrm·cn)`
    * expression, and the fold replicates the window's
    * (cos DESC, cid ASC) total order INCLUDING Spark's NaN-sorts-first
    * descending rule (a zero-norm vector or centroid yields NaN cosines;
    * the old plan elected the lowest-cid NaN row) — so the DuckDB
    * oracle replay is unchanged. Blocks arrive ascending and each block
    * is cid-sorted, so folding block by block IS the single ascending
    * scan the r16 code ran over one K-sized array. */
  private[operators] def semDedupAssignBlocked(e: DataFrame,
      blocks: IndexedSeq[org.apache.spark.broadcast.Broadcast[
        Array[(Long, Array[Double], Double)]]]): DataFrame = {
    import e.sparkSession.implicits._
    // enforce the non-null contract at the operator boundary (ADVICE
    // r16): the typed path NPE'd on a null embedding where the old
    // crossJoin plan emitted a null-cosine row — no corpus table
    // carries nulls, and a malformed row is dropped in the kernel
    // instead of killing the partition task. The drop is COUNTED and
    // warned (ADVICE r17): this output doubles as the cluster-
    // assignment audit table, so a shrunken corpus must be detectable,
    // not silent — the named accumulator shows in the Spark UI and the
    // warn lands in executor logs.
    val droppedNulls = e.sparkSession.sparkContext
      .longAccumulator("semDedupAssignDroppedNullEmbeddings")
    graft.SharedFrames.shared(
      e.select(col("vec_id"), col("ev"), col("nrm"))
        .as[(Long, Array[Double], Option[Double])]
        .mapPartitions { it =>
          // an empty centroid set assigns NOTHING — the old crossJoin
          // plan (and the oracle's CROSS JOIN replay) yields zero rows,
          // not a fabricated cluster
          if (blocks.isEmpty) Iterator.empty
          else {
            var warned = false
            it.flatMap { case (id, evN, nrmN) =>
              if (evN == null || nrmN.isEmpty) {
                droppedNulls.add(1L)
                if (!warned) {
                  warned = true
                  System.err.println(s"[semdedup] dropping null-embedding " +
                    s"row(s) at the assignment boundary (first vec_id=$id) " +
                    "— the audit table will omit them")
                }
                None
              } else Some(assignOne(id, evN, nrmN.get, blocks))
            }
          }
        }
        .toDF("vec_id", "cluster", "cos_centroid", "ev", "nrm"))
  }

  /** One vector's blocked argmax election — see [[semDedupAssignBlocked]]
    * for the exactness argument (strict fold, NaN-first descending,
    * lowest-cid ties). */
  private def assignOne(id: Long, ev: Array[Double], nrm: Double,
      blocks: IndexedSeq[org.apache.spark.broadcast.Broadcast[
        Array[(Long, Array[Double], Double)]]])
      : (Long, Long, Double, Array[Double], Double) = {
    var best = 0L
    var bestCos = Double.NegativeInfinity
    var first = true
    var b = 0
    while (b < blocks.length) {
      val cs = blocks(b).value
      var j = 0
      while (j < cs.length) {
        val (cid, cv, cn) = cs(j)
        var d = 0.0
        var i = 0
        // min-length truncation exactly as VecDot.eval — ragged
        // dims stay wrong-but-defined instead of throwing
        val n = math.min(ev.length, cv.length)
        while (i < n) { d += ev(i) * cv(i); i += 1 }
        val c = d / (nrm * cn)
        // Spark's descending sort is a total order with NaN ABOVE
        // every double — replicate it: NaN beats non-NaN; within a
        // NaN class only cid order (keep first) applies
        val better =
          (java.lang.Double.isNaN(c) && !java.lang.Double.isNaN(bestCos)) ||
            (java.lang.Double.isNaN(c) == java.lang.Double.isNaN(bestCos)
              && c > bestCos)
        if (first || better) { bestCos = c; best = cid; first = false }
        j += 1
      }
      b += 1
    }
    (id, best, bestCos, ev, nrm)
  }

  /** The pruning back half shared by every SemDeDup face: a vector is
    * dropped iff some LOWER-id vector in its cluster is ≥ τ close — an
    * equi-join on cluster, bounded by cluster populations. */
  private def semDedupPrune(assigned: DataFrame, tau: Double): DataFrame = {
    val dropped = assigned.as("x").join(assigned.as("y"),
        col("x.cluster") === col("y.cluster") &&
          col("y.vec_id") < col("x.vec_id"))
      .filter(dot(col("x.ev"), col("y.ev")) /
        (col("x.nrm") * col("y.nrm")) >= tau)
      .select(col("x.vec_id").as("vec_id")).distinct()
    assigned
      .join(dropped.withColumn("hit", lit(true)), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cluster"), col("cos_centroid"),
        col("hit").isNull.as("kept"))
      .orderBy(col("vec_id"))
  }

  /** SemDeDup over an explicit centroid DataFrame — the pruning stage is
    * unchanged by K or by where centroids come from, so tests can feed
    * constructed centroids. Internally the frame is collected in bounded
    * cid-range blocks ([[centroidBlocksOf]]), never as one K-sized
    * driver array. */
  def semDedupCore(e: DataFrame, centroids: DataFrame, tau: Double): DataFrame =
    semDedupPrune(
      semDedupAssignBlocked(e,
        centroidBlocksOf(centroids, centroidBlockRows(Dims))), tau)

  /** The training-time L2 distance as the same strict left fold the Scala
    * `nearestCentroid` loop computes (ascending index, one accumulator). */
  private def l2FoldSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(range(1, len($a)+1),
       |      i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))),
       |  (acc, v) -> acc + v)""".stripMargin

  /** The K ∝ n init CTE of the quantized-Lloyd replay over source CTE
    * `src`: cid = training index over the k lowest vec_ids, with K
    * derived from the SAME integer arithmetic as [[semDedupKFor]]. */
  private def lloydInitSql(src: String): String =
    s"""c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
       |         AS cid, ev AS cv
       |       FROM $src WHERE vec_id IN
       |         (SELECT vec_id FROM $src ORDER BY vec_id LIMIT (
       |            SELECT GREATEST($SemDedupK,
       |              (COUNT(*) + ${SemDedupTargetPop - 1}) // $SemDedupTargetPop)
       |            FROM $src)))""".stripMargin

  /** The [[SemDedupIters]] quantized-Lloyd rounds as CTEs over a
    * (vec_id, ev) source CTE `src` — the ONE training replay shared by
    * [[semDedupSql]] (src = the whole corpus),
    * [[semDedupIncrementalSql]] (src = the stored-corpus prefix) and
    * [[knnGraphIvfSql]]: assignment argmin = the same strict fold with
    * lowest-cid ties; update = the identical BIGINT fixed-point
    * arithmetic, with `//` wrapped to match JVM truncating division. */
  private def lloydRoundsSql(src: String): String = {
    val q = SemDedupQScale
    (1 to SemDedupIters).map { i =>
      val prev = s"c${i - 1}"
      s"""a$i AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT x.vec_id, c.cid, row_number() OVER (
         |        PARTITION BY x.vec_id
         |        ORDER BY ${l2FoldSql("x.ev", "c.cv")}, c.cid) AS rn
         |    FROM $src x CROSS JOIN $prev c) WHERE rn = 1),
         |s$i AS (
         |  SELECT a.cid, t.i AS pos,
         |    SUM(CAST(floor(e.ev[t.i] * $q) AS BIGINT)) AS sq,
         |    COUNT(*) AS n
         |  FROM a$i a JOIN $src e ON e.vec_id = a.vec_id,
         |    UNNEST(range(1, len(e.ev)+1)) AS t(i)
         |  GROUP BY a.cid, t.i),
         |u$i AS (
         |  SELECT cid, list(CAST(td AS DOUBLE) / $q ORDER BY pos) AS cv
         |  FROM (SELECT cid, pos,
         |          CASE WHEN sq >= 0 THEN sq // n
         |               ELSE -((-sq) // n) END AS td
         |        FROM s$i) GROUP BY cid),
         |c$i AS (
         |  SELECT p.cid, COALESCE(u.cv, p.cv) AS cv
         |  FROM $prev p LEFT JOIN u$i u USING (cid))""".stripMargin
    }.mkString(",\n")
  }

  /** Oracle: replays the ENTIRE operator — [[SemDedupIters]] quantized
    * Lloyd rounds ([[lloydRoundsSql]]) and then the assignment + prune
    * stages — bit-identically, at any scale factor. No inlined
    * constants beyond [[SemDedupQScale]]: the centroids the oracle prunes
    * with are DERIVED from the data exactly as the operator derives them. */
  val semDedupSql: String = {
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |n AS (SELECT vec_id, ev, sqrt(${foldSql("ev", "ev")}) AS nrm FROM e),
       |${lloydInitSql("e")},
       |${lloydRoundsSql("e")},
       |c AS (SELECT cid, cv, sqrt(${foldSql("cv", "cv")}) AS cn
       |      FROM c$SemDedupIters),
       |a0 AS (SELECT x.vec_id, c.cid,
       |         ${foldSql("x.ev", "c.cv")} / (x.nrm * c.cn) AS cos_c
       |       FROM n x CROSS JOIN c),
       |a AS (SELECT vec_id, cid AS cluster, cos_c AS cos_centroid FROM (
       |        SELECT *, row_number() OVER (
       |          PARTITION BY vec_id ORDER BY cos_c DESC, cid) AS rn
       |        FROM a0) WHERE rn = 1),
       |p AS (SELECT DISTINCT x.vec_id
       |      FROM a x JOIN a y
       |        ON x.cluster = y.cluster AND y.vec_id < x.vec_id
       |      JOIN n nx ON nx.vec_id = x.vec_id
       |      JOIN n ny ON ny.vec_id = y.vec_id
       |      WHERE ${foldSql("nx.ev", "ny.ev")} / (nx.nrm * ny.nrm)
       |        >= $SemDedupTau)
       |SELECT a.vec_id, a.cluster, a.cos_centroid,
       |  (a.vec_id NOT IN (SELECT vec_id FROM p)) AS kept
       |FROM a ORDER BY a.vec_id""".stripMargin
  }

  /** INCREMENTAL SemDeDup — semantic dedup at the
    * [[graft.operators.Dedup.dedupIncremental]] batch cadence, closing the
    * incremental family across modalities (exact-prefix, dup-spans,
    * MinHash near-dup, and now embeddings): verdicts for the DELTA
    * (vec_id ≥ [[graft.operators.Dedup.IncrementalCut]]) against the
    * stored corpus, without retraining or re-pruning the corpus.
    *
    * Production premise: centroids and the corpus's cluster assignments
    * are the stored artifact of the last full run (the IVF-append / SAV
    * cadence); both are derived inline here. K derives from the CORPUS
    * size (the artifact's K — a batch cannot change the stored geometry).
    * A delta vector is dropped iff some lower-id vector — corpus or
    * earlier delta — in its cluster is cosine-≥ τ, which is EXACTLY the
    * full rule restricted to delta rows (corpus verdicts never depend on
    * delta members, so the restriction loses nothing).
    *
    * Scale shape: centroid assignment of the delta is one broadcast
    * map-side pass; the pair join puts the corpus-side assignment
    * (stored, bucketable by cluster) on the build side and only
    * delta-cluster populations on the probe side — per-batch pair work is
    * delta-sized × O([[SemDedupTargetPop]]), never corpus².
    *
    * CADENCE ENFORCEMENT (VERDICT r17 item 3): that bound only holds
    * while the batch respects the stored geometry. The r17 probe
    * measured the out-of-cadence regime (delta grown 20× against a
    * fixed corpus): with K fixed by the CORPUS, per-cluster populations
    * inflate to (n+delta)/K ≈ [[SemDedupTargetPop]]·(1 + delta/n), the
    * cluster equi-join concentrates Θ(delta²/K) pair cosines on K keys
    * (at the probe's K = 8 that was ~(delta/K)² rows per join KEY —
    * quadratic compute AND single-task skew), and the measured wall
    * went 8.3× at 20×. So the operator now routes itself: when the
    * expected population `(n+delta)/K` exceeds
    * [[SemDedupIncrementalMaxPop]], the stored artifact is declared
    * stale and the batch takes the REBUILD path — full [[semDedup]]
    * (retrain with K ∝ n+delta, populations back at the target)
    * restricted to the delta's verdicts. Rebuild costs
    * ~([[SemDedupIters]]+1)·N·K_new FLOPs vs the incremental
    * assignment's N·K_old — a constant factor — while the pair stage
    * drops from Θ(delta²/K_old) back to N·[[SemDedupTargetPop]];
    * SemDedupIncrementalSpec pins the routing boundary and
    * rebuild ≡ semDedup-restricted-to-delta equality. Every test SF is
    * IN cadence ((n+delta)/K ≤ 250 at sf0.1), so the DuckDB oracle
    * replays the in-cadence plan unchanged. */
  def semDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val cut = graft.operators.Dedup.IncrementalCut
    val emb = t(spark, dir, "embeddings")
    val nCorpus = emb.filter(col("vec_id") < cut).count()
    val nTotal = emb.count()
    val k = semDedupKFor(nCorpus)
    if (semDedupIncrementalOutOfCadence(nTotal, k))
      semDedup(spark, dir).filter(col("vec_id") >= cut)
    else semDedupIncrementalInCadence(spark, dir, cut, k)
  }

  /** Population ceiling for the incremental plan: when the expected
    * per-cluster population (n+delta)/K — K from the STORED corpus —
    * exceeds this, [[semDedupIncremental]] rebuilds. 8× the target
    * population: comfortably above every in-cadence corpus (the test
    * SFs peak at (400+1600)/8 = 250, ~4× the target, at sf0.1) and far
    * below the probed pathological regime (~4 050 expected population
    * at the r17 20× probe). */
  final val SemDedupIncrementalMaxPop = 8 * SemDedupTargetPop.toInt

  /** True when a batch breaks the stored-geometry population bound —
    * `nTotal/kCorpus > MaxPop`, kept in exact integer arithmetic. */
  private[operators] def semDedupIncrementalOutOfCadence(
      nTotal: Long, kCorpus: Int): Boolean =
    nTotal > SemDedupIncrementalMaxPop.toLong * kCorpus

  /** The in-cadence incremental plan (see [[semDedupIncremental]]). */
  private[operators] def semDedupIncrementalInCadence(spark: SparkSession,
      dir: String, cut: Long, k: Int): DataFrame = {
    val e = withNorm(spark, dir)
    val blocks = semDedupCentroidBlocks(spark, dir, k = k, maxId = cut)
    val assigned = semDedupAssignBlocked(e, blocks)
    val deltaA = assigned.filter(col("vec_id") >= cut)
    // lower-id neighbors come from the WHOLE assignment (corpus + earlier
    // delta); the equi-join on cluster bounds candidates per delta vector
    val dropped = deltaA.as("x").join(assigned.as("y"),
        col("x.cluster") === col("y.cluster") &&
          col("y.vec_id") < col("x.vec_id"))
      .filter(dot(col("x.ev"), col("y.ev")) /
        (col("x.nrm") * col("y.nrm")) >= SemDedupTau)
      .select(col("x.vec_id").as("vec_id")).distinct()
    deltaA
      .join(dropped.withColumn("hit", lit(true)), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cluster"), col("cos_centroid"),
        col("hit").isNull.as("kept"))
      .orderBy(col("vec_id"))
  }

  /** Oracle: the [[semDedupSql]] replay with the incremental premise made
    * explicit — training (init, K derivation, every Lloyd round) runs over
    * the CORPUS subset only, assignment covers everything, the prune pairs
    * a delta x against ALL lower-id y in its cluster, and the output is
    * the delta's verdicts. Bit-identical at any SF for the same reasons
    * as the full oracle (fixed-point training, strict-fold cosines). */
  val semDedupIncrementalSql: String = {
    val cut = graft.operators.Dedup.IncrementalCut
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |ec AS (SELECT * FROM e WHERE vec_id < $cut),
       |n AS (SELECT vec_id, ev, sqrt(${foldSql("ev", "ev")}) AS nrm FROM e),
       |${lloydInitSql("ec")},
       |${lloydRoundsSql("ec")},
       |c AS (SELECT cid, cv, sqrt(${foldSql("cv", "cv")}) AS cn
       |      FROM c$SemDedupIters),
       |a0 AS (SELECT x.vec_id, c.cid,
       |         ${foldSql("x.ev", "c.cv")} / (x.nrm * c.cn) AS cos_c
       |       FROM n x CROSS JOIN c),
       |a AS (SELECT vec_id, cid AS cluster, cos_c AS cos_centroid FROM (
       |        SELECT *, row_number() OVER (
       |          PARTITION BY vec_id ORDER BY cos_c DESC, cid) AS rn
       |        FROM a0) WHERE rn = 1),
       |p AS (SELECT DISTINCT x.vec_id
       |      FROM a x JOIN a y
       |        ON x.cluster = y.cluster AND y.vec_id < x.vec_id
       |      JOIN n nx ON nx.vec_id = x.vec_id
       |      JOIN n ny ON ny.vec_id = y.vec_id
       |      WHERE x.vec_id >= $cut
       |        AND ${foldSql("nx.ev", "ny.ev")} / (nx.nrm * ny.nrm)
       |        >= $SemDedupTau)
       |SELECT a.vec_id, a.cluster, a.cos_centroid,
       |  (a.vec_id NOT IN (SELECT vec_id FROM p)) AS kept
       |FROM a WHERE a.vec_id >= $cut ORDER BY a.vec_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Product quantization (Jégou et al. 2011): the memory-bounded ANN
  // path. The 64-d vector splits into PqSubspaces contiguous subvectors;
  // each subspace trains its own PqCodes-entry codebook (quantized
  // Lloyd's — the semDedup fixed-point discipline, so training is
  // bit-replayable in SQL), and every vector compresses to PqSubspaces
  // small codes. Query-time scoring is ADC (asymmetric distance): a
  // (PqSubspaces × PqCodes) table of exact query→centroid L2 distances,
  // then per-vector score = Σ table[m][code_m] — a broadcast-literal
  // lookup inside whole-stage codegen, no vector arithmetic per row.
  //
  // The 100 TB argument: the scanned index is (vec_id + M codes) per
  // vector — with M=2×1B codes this is ~100× smaller than raw floats, so
  // the exhaustive ADC scan that replaces the IVF probe reads ~1% of the
  // bytes, stays partition-local, and shuffles only the final k rows
  // (TakeOrdered). Codebooks and the distance table are K×M driver-side
  // doubles. Unlike annIvf (float k-means → no_oracle), the fixed-point
  // training makes the ENTIRE train→encode→score→top-k path oracle-exact.
  // ------------------------------------------------------------------

  /** Number of PQ subspaces (contiguous [[PqSubDim]]-wide slices).
    *
    * PINNED at 2, and not freely tunable: [[pqEncode]]'s (c0, c1) code
    * columns, [[annPq]]'s two-term ADC expression, the ivfPq encode's
    * copyOfRange pair, and the oracle SQL's column set are all written
    * against exactly two subspaces — retuning the constant alone would
    * silently encode only the first two slices. The `require` below
    * turns that silent partial encode into a loud init-time failure;
    * widening M means generalizing those four sites together. */
  final val PqSubspaces = 2
  require(PqSubspaces == 2,
    "the (c0, c1) PQ encode surface is written against exactly 2 subspaces")
  /** Dimensions per subspace: [[Dims]] / [[PqSubspaces]]. */
  final val PqSubDim = Dims / PqSubspaces
  /** Codebook entries per subspace (one byte would hold 256; 16 keeps the
    * oracle's training replay tractable while exercising the full path). */
  final val PqCodes = 16
  /** Lloyd iterations per subspace codebook (the [[SemDedupIters]] cap). */
  final val PqIters = 3

  /** Per-subspace PQ codebooks: `books(m)(c)` = centroid `c` of subspace
    * `m`, trained by the shared [[quantizedLloyd]] over the subvector
    * slices (init = the [[PqCodes]] lowest vec_ids' slices; empty
    * clusters keep their previous centroid — identical semantics to
    * [[semDedupCentroids]], per subspace). */
  def pqCodebooks(spark: SparkSession, dir: String): Array[Array[Array[Double]]] = {
    import spark.implicits._
    (0 until PqSubspaces).map { m =>
      val sub = t(spark, dir, "embeddings")
        .select(col("vec_id"),
          slice(toDouble(col("embedding")), m * PqSubDim + 1, PqSubDim).as("ev"))
        .as[(Long, Array[Double])]
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try quantizedLloyd(sub, PqCodes, PqIters)
      finally sub.unpersist(blocking = false)
    }.toArray
  }

  /** PQ-encode the corpus: one row per vector with its per-subspace codes
    * (argmin L2 to the subspace codebook, lowest index on ties — the
    * [[nearestCentroid]] rule, same as training assignment). mapPartitions
    * over broadcast codebooks: per-row work is PqSubspaces × PqCodes
    * bounded comparisons, no row blowup, no shuffle. */
  def pqEncode(spark: SparkSession, dir: String,
      books: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(books)
    t(spark, dir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("ev"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val bs = bc.value
        it.map { case (id, v) =>
          val c0 = nearestCentroid(
            java.util.Arrays.copyOfRange(v, 0, PqSubDim), bs(0))
          val c1 = nearestCentroid(
            java.util.Arrays.copyOfRange(v, PqSubDim, Dims), bs(1))
          (id, c0.toLong, c1.toLong)
        }
      }
      .toDF("vec_id", "c0", "c1")
  }

  /** Exact strict-fold L2 distance (ascending index, one accumulator —
    * the [[l2FoldSql]] op order, bit-identical doubles). */
  private def l2(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
    d
  }

  /** PQ-ANN top-10 for the min-vec_id query vector (the [[annBruteForce]]
    * query convention): train codebooks, encode the corpus, score every
    * other vector by ADC approximate squared L2, ascending top-10 with
    * vec_id tie-break. Output carries the codes as the index-audit
    * columns. */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val books = pqCodebooks(spark, dir)
    val codes = pqEncode(spark, dir, books)
    val (qid, qv) = t(spark, dir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("ev"))
      .as[(Long, Array[Double])]
      .orderBy(col("vec_id")).limit(1).collect()(0)
    // ADC table: exact query→centroid L2 per subspace, PqSubspaces×PqCodes
    // driver doubles shipped as array literals (codegen'd element_at)
    val tab = Array.tabulate(PqSubspaces, PqCodes) { (m, c) =>
      l2(java.util.Arrays.copyOfRange(qv, m * PqSubDim, (m + 1) * PqSubDim),
        books(m)(c))
    }
    codes.filter(col("vec_id") =!= qid)
      .withColumn("qid", lit(qid))
      .withColumn("approx_l2sq",
        element_at(typedlit(tab(0).toSeq), (col("c0") + 1).cast("int")) +
          element_at(typedlit(tab(1).toSeq), (col("c1") + 1).cast("int")))
      .select(col("qid"), col("vec_id"), col("c0"), col("c1"),
        col("approx_l2sq"))
      .orderBy(col("approx_l2sq"), col("vec_id"))
      .limit(10)
  }

  /** One subspace's training + encoding chain as CTEs with prefix `pfx`
    * over subvector source CTE `sub(vec_id, sv)`: init from the k lowest
    * vec_ids' slices, [[PqIters]] quantized Lloyd rounds (the
    * [[semDedupSql]] template over subvectors), then the final code
    * assignment `<pfx>code(vec_id, code)`. Shared by [[annPqSql]] (raw
    * slices) and [[annIvfPqSql]] (residual slices). */
  private def pqTrainSql(m: Int, subName: String = null,
      pfxName: String = null): String = {
    val q = SemDedupQScale
    val sub = Option(subName).getOrElse(s"s$m")
    val pfx = Option(pfxName).getOrElse(s"m$m")
    val train = (1 to PqIters).map { i =>
      val prev = s"${pfx}c${i - 1}"
      s"""${pfx}a$i AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT x.vec_id, c.cid, row_number() OVER (
         |        PARTITION BY x.vec_id
         |        ORDER BY ${l2FoldSql("x.sv", "c.cv")}, c.cid) AS rn
         |    FROM $sub x CROSS JOIN $prev c) WHERE rn = 1),
         |${pfx}s$i AS (
         |  SELECT a.cid, t.i AS pos,
         |    SUM(CAST(floor(v.sv[t.i] * $q) AS BIGINT)) AS sq,
         |    COUNT(*) AS n
         |  FROM ${pfx}a$i a JOIN $sub v ON v.vec_id = a.vec_id,
         |    UNNEST(range(1, len(v.sv)+1)) AS t(i)
         |  GROUP BY a.cid, t.i),
         |${pfx}u$i AS (
         |  SELECT cid, list(CAST(td AS DOUBLE) / $q ORDER BY pos) AS cv
         |  FROM (SELECT cid, pos,
         |          CASE WHEN sq >= 0 THEN sq // n
         |               ELSE -((-sq) // n) END AS td
         |        FROM ${pfx}s$i) GROUP BY cid),
         |${pfx}c$i AS (
         |  SELECT p.cid, COALESCE(u.cv, p.cv) AS cv
         |  FROM $prev p LEFT JOIN ${pfx}u$i u USING (cid))""".stripMargin
    }.mkString(",\n")
    s"""${pfx}c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
       |    AS cid, sv AS cv
       |  FROM $sub WHERE vec_id IN
       |    (SELECT vec_id FROM $sub ORDER BY vec_id LIMIT $PqCodes)),
       |$train,
       |${pfx}code AS (
       |  SELECT vec_id, cid AS code FROM (
       |    SELECT x.vec_id, c.cid, row_number() OVER (
       |        PARTITION BY x.vec_id
       |        ORDER BY ${l2FoldSql("x.sv", "c.cv")}, c.cid) AS rn
       |    FROM $sub x CROSS JOIN ${pfx}c$PqIters c) WHERE rn = 1)""".stripMargin
  }

  /** Oracle: replays the ENTIRE PQ path — both subspace codebooks trained
    * through the identical fixed-point Lloyd arithmetic, the same argmin
    * encoding, the same strict-fold ADC table, the same score sum — so the
    * top-10 (ids, codes AND double scores) is bit-identical at any SF. */
  val annPqSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |s0 AS (SELECT vec_id, ev[1:$PqSubDim] AS sv FROM e),
       |s1 AS (SELECT vec_id, ev[${PqSubDim + 1}:$Dims] AS sv FROM e),
       |${pqTrainSql(0)},
       |${pqTrainSql(1)},
       |q AS (SELECT min(vec_id) AS qid FROM e),
       |q0 AS (SELECT sv FROM s0 JOIN q ON vec_id = qid),
       |q1 AS (SELECT sv FROM s1 JOIN q ON vec_id = qid),
       |t0 AS (SELECT c.cid, ${l2FoldSql("q0.sv", "c.cv")} AS d
       |  FROM m0c$PqIters c CROSS JOIN q0),
       |t1 AS (SELECT c.cid, ${l2FoldSql("q1.sv", "c.cv")} AS d
       |  FROM m1c$PqIters c CROSS JOIN q1)
       |SELECT q.qid, c0.vec_id, c0.code AS c0, c1.code AS c1,
       |  t0.d + t1.d AS approx_l2sq
       |FROM m0code c0 JOIN m1code c1 USING (vec_id) CROSS JOIN q
       |JOIN t0 ON t0.cid = c0.code JOIN t1 ON t1.cid = c1.code
       |WHERE c0.vec_id <> q.qid
       |ORDER BY approx_l2sq, c0.vec_id LIMIT 10""".stripMargin

  // ------------------------------------------------------------------
  // IVF-PQ (Jégou et al. 2011 §IV): the production-scale ANN composite —
  // a coarse quantizer partitions the corpus into inverted lists
  // (IVF), and PQ codes the RESIDUAL v − coarse(v) inside each list.
  // Queries probe the nprobe nearest lists and score candidates by ADC
  // against per-list residual tables. At 100 TB this is the architecture
  // that holds: the scan is pruned to nprobe/K of the corpus (the IVF
  // win) AND reads codes ~100× smaller than floats (the PQ win), with
  // per-list ADC tables — nprobe × M × K doubles — built driver-side per
  // query. Both trainings run the fixed-point quantizedLloyd, so unlike
  // the float-trained annIvf the ENTIRE composite is oracle-exact.
  // ------------------------------------------------------------------

  /** Coarse-quantizer cells (inverted lists). */
  final val IvfPqCoarseK = 16
  /** Inverted lists probed per query. */
  final val IvfPqProbes = 4

  /** Residuals against the fixed-point-trained coarse quantizer: one row
    * per vector with its coarse cell and `rv = v − coarse(cell)`.
    * Assignment is the [[nearestCentroid]] L2 argmin — the same rule
    * coarse training used. */
  def ivfPqResiduals(spark: SparkSession, dir: String,
      coarse: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(coarse)
    t(spark, dir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("ev"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, v) =>
          val c = nearestCentroid(v, cs)
          val cv = cs(c)
          val rv = new Array[Double](v.length)
          var i = 0
          while (i < v.length) { rv(i) = v(i) - cv(i); i += 1 }
          (id, c, rv)
        }
      }
      .toDF("vec_id", "cluster", "rv")
  }

  /** PQ codebooks over the residual subspace slices (the
    * [[pqCodebooks]] discipline with residuals as input). One shared
    * codebook pair across all cells — the standard IVF-PQ memory deal. */
  def ivfPqBooks(res: DataFrame): Array[Array[Array[Double]]] = {
    import res.sparkSession.implicits._
    (0 until PqSubspaces).map { m =>
      val sub = res
        .select(col("vec_id"),
          slice(col("rv"), m * PqSubDim + 1, PqSubDim).as("ev"))
        .as[(Long, Array[Double])]
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try quantizedLloyd(sub, PqCodes, PqIters)
      finally sub.unpersist(blocking = false)
    }.toArray
  }

  /** IVF-PQ ANN top-10 for the min-vec_id query (the [[annBruteForce]]
    * convention): train the coarse quantizer (fixed-point, full vectors)
    * and the residual PQ codebooks, encode every vector's residual to two
    * codes, probe the [[IvfPqProbes]] cells nearest the query, and score
    * the probed candidates by per-cell ADC (query residual vs codebook).
    * Output carries cell + codes as the index-audit columns. */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val coarse = semDedupCentroids(spark, dir, k = IvfPqCoarseK)
    val res = ivfPqResiduals(spark, dir, coarse)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val books = ivfPqBooks(res)
      val bcBooks = spark.sparkContext.broadcast(books)
      val codes = res.as[(Long, Int, Array[Double])]
        .mapPartitions { it =>
          val bs = bcBooks.value
          it.map { case (id, cell, rv) =>
            val c0 = nearestCentroid(
              java.util.Arrays.copyOfRange(rv, 0, PqSubDim), bs(0))
            val c1 = nearestCentroid(
              java.util.Arrays.copyOfRange(rv, PqSubDim, Dims), bs(1))
            (id, cell.toLong, c0.toLong, c1.toLong)
          }
        }
        .toDF("vec_id", "cluster", "c0", "c1")
      val (qid, qv) = t(spark, dir, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("ev"))
        .as[(Long, Array[Double])]
        .orderBy(col("vec_id")).limit(1).collect()(0)
      val probes = nearestProbes(coarse, qv, IvfPqProbes)
      // per-probed-cell ADC tables on the QUERY residual — nprobe × M × K
      // driver doubles, shipped as a broadcast K-row join table
      val cellTabs = probes.toSeq.sorted.map { cell =>
        val qrv = qv.indices.map(i => qv(i) - coarse(cell)(i)).toArray
        val t0 = (0 until PqCodes).map(c =>
          l2(java.util.Arrays.copyOfRange(qrv, 0, PqSubDim), books(0)(c)))
        val t1 = (0 until PqCodes).map(c =>
          l2(java.util.Arrays.copyOfRange(qrv, PqSubDim, Dims), books(1)(c)))
        (cell.toLong, t0, t1)
      }.toDF("cluster", "tab0", "tab1")
      codes
        .filter(col("cluster").isInCollection(probes.map(_.toLong)) &&
          col("vec_id") =!= qid)
        .join(broadcast(cellTabs), Seq("cluster"))
        .withColumn("qid", lit(qid))
        .withColumn("approx_l2sq",
          element_at(col("tab0"), (col("c0") + 1).cast("int")) +
            element_at(col("tab1"), (col("c1") + 1).cast("int")))
        .select(col("qid"), col("vec_id"), col("cluster"), col("c0"),
          col("c1"), col("approx_l2sq"))
        .orderBy(col("approx_l2sq"), col("vec_id"))
        .limit(10)
    } finally res.unpersist(blocking = false)
  }

  /** The coarse-quantizer training chain (prefix `g`) — the
    * [[semDedupSql]] fixed-point template at K=[[IvfPqCoarseK]] — plus
    * the post-training L2-argmin assignment `gassign(vec_id, cluster)`. */
  private def ivfPqCoarseSql: String = {
    val q = SemDedupQScale
    val train = (1 to SemDedupIters).map { i =>
      val prev = s"gc${i - 1}"
      s"""ga$i AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT x.vec_id, c.cid, row_number() OVER (
         |        PARTITION BY x.vec_id
         |        ORDER BY ${l2FoldSql("x.ev", "c.cv")}, c.cid) AS rn
         |    FROM e x CROSS JOIN $prev c) WHERE rn = 1),
         |gs$i AS (
         |  SELECT a.cid, t.i AS pos,
         |    SUM(CAST(floor(v.ev[t.i] * $q) AS BIGINT)) AS sq,
         |    COUNT(*) AS n
         |  FROM ga$i a JOIN e v ON v.vec_id = a.vec_id,
         |    UNNEST(range(1, len(v.ev)+1)) AS t(i)
         |  GROUP BY a.cid, t.i),
         |gu$i AS (
         |  SELECT cid, list(CAST(td AS DOUBLE) / $q ORDER BY pos) AS cv
         |  FROM (SELECT cid, pos,
         |          CASE WHEN sq >= 0 THEN sq // n
         |               ELSE -((-sq) // n) END AS td
         |        FROM gs$i) GROUP BY cid),
         |gc$i AS (
         |  SELECT p.cid, COALESCE(u.cv, p.cv) AS cv
         |  FROM $prev p LEFT JOIN gu$i u USING (cid))""".stripMargin
    }.mkString(",\n")
    s"""gc0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
       |    AS cid, ev AS cv
       |  FROM e WHERE vec_id IN
       |    (SELECT vec_id FROM e ORDER BY vec_id LIMIT $IvfPqCoarseK)),
       |$train,
       |gassign AS (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT x.vec_id, c.cid, row_number() OVER (
       |        PARTITION BY x.vec_id
       |        ORDER BY ${l2FoldSql("x.ev", "c.cv")}, c.cid) AS rn
       |    FROM e x CROSS JOIN gc$SemDedupIters c) WHERE rn = 1)""".stripMargin
  }

  /** Oracle: replays the ENTIRE IVF-PQ composite — coarse training,
    * assignment, residuals, both residual-PQ trainings, encoding, probe
    * selection, the per-cell ADC tables and the top-k — bit-identically
    * (fixed-point trainings, strict-fold distances, lowest-id ties
    * everywhere). Every CTE is MATERIALIZED: the chain is twice as deep
    * as [[semDedupSql]] (coarse train → assign → residuals → two PQ
    * trains → encode), and DuckDB's default CTE inlining re-expands the
    * whole upstream chain at every reference — measured as a >90 s hang
    * at sf0.001 where the materialized form runs in 0.6 s. */
  val annIvfPqSql: String = OracleSql.materializeCtes(annIvfPqSqlRaw)

  private def annIvfPqSqlRaw: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |$ivfPqCoarseSql,
       |res AS (
       |  SELECT e.vec_id, g.cluster,
       |    list_transform(range(1, len(e.ev)+1), i -> e.ev[i] - c.cv[i]) AS rv
       |  FROM e JOIN gassign g USING (vec_id)
       |  JOIN gc$SemDedupIters c ON c.cid = g.cluster),
       |rs0 AS (SELECT vec_id, rv[1:$PqSubDim] AS sv FROM res),
       |rs1 AS (SELECT vec_id, rv[${PqSubDim + 1}:$Dims] AS sv FROM res),
       |${pqTrainSql(0, "rs0", "r0")},
       |${pqTrainSql(1, "rs1", "r1")},
       |q AS (SELECT min(vec_id) AS qid FROM e),
       |qe AS (SELECT ev FROM e JOIN q ON vec_id = qid),
       |qprobe AS (
       |  SELECT cid FROM (
       |    SELECT c.cid, row_number() OVER (
       |        ORDER BY ${l2FoldSql("qe.ev", "c.cv")}, c.cid) AS rn
       |    FROM gc$SemDedupIters c CROSS JOIN qe) WHERE rn <= $IvfPqProbes),
       |qres AS (
       |  SELECT c.cid AS pcell,
       |    list_transform(range(1, len(qe.ev)+1), i -> qe.ev[i] - c.cv[i]) AS qrv
       |  FROM gc$SemDedupIters c CROSS JOIN qe
       |  WHERE c.cid IN (SELECT cid FROM qprobe)),
       |qr0 AS (SELECT pcell, qrv[1:$PqSubDim] AS sv FROM qres),
       |qr1 AS (SELECT pcell, qrv[${PqSubDim + 1}:$Dims] AS sv FROM qres),
       |t0 AS (SELECT qr.pcell, b.cid AS code, ${l2FoldSql("qr.sv", "b.cv")} AS d
       |  FROM qr0 qr CROSS JOIN r0c$PqIters b),
       |t1 AS (SELECT qr.pcell, b.cid AS code, ${l2FoldSql("qr.sv", "b.cv")} AS d
       |  FROM qr1 qr CROSS JOIN r1c$PqIters b),
       |cand AS (
       |  SELECT c0.vec_id, g.cluster, c0.code AS code0, c1.code AS code1
       |  FROM r0code c0 JOIN r1code c1 USING (vec_id)
       |  JOIN gassign g USING (vec_id)
       |  WHERE g.cluster IN (SELECT cid FROM qprobe)
       |    AND c0.vec_id <> (SELECT qid FROM q))
       |SELECT (SELECT qid FROM q) AS qid, cand.vec_id, cand.cluster,
       |  code0 AS c0, code1 AS c1, t0.d + t1.d AS approx_l2sq
       |FROM cand
       |JOIN t0 ON t0.pcell = cand.cluster AND t0.code = code0
       |JOIN t1 ON t1.pcell = cand.cluster AND t1.code = code1
       |ORDER BY approx_l2sq, cand.vec_id LIMIT 10""".stripMargin

  /** Per-cluster sample size for [[clusterBalancedSample]]. */
  final val ClusterSampleM = 5

  /** CLUSTER-BALANCED SUBSAMPLING — the mixture-balancing step after
    * semantic clustering (SemDeDup/DoReMi-style pipelines): from the
    * [[semDedup]] KEPT set, take up to [[ClusterSampleM]] members per
    * cluster, preferring the vectors FARTHEST from their centroid
    * (ascending cos_centroid — the most diverse representatives), ties
    * on vec_id. Head clusters stop dominating the training mix; tail
    * clusters keep all their members.
    *
    * The per-cluster ranking is the [[graft.functions.TopKAgg]] bounded
    * partial aggregate (on negated cosine — IEEE negation is exact, so
    * the oracle's ASC window replays it bit-for-bit): ≤ m·partitions
    * rows shuffle, no per-cluster sort, no window over the head
    * cluster's full population. */
  def clusterBalancedSample(spark: SparkSession, dir: String): DataFrame = {
    val kept = semDedup(spark, dir).filter(col("kept"))
    val topk = graft.functions.TopKAgg.top_k(ClusterSampleM)
    kept.groupBy(col("cluster"))
      .agg(topk(col("vec_id"), -col("cos_centroid")).as("picks"))
      .select(col("cluster"), posexplode(col("picks")).as(Seq("pos", "e")))
      .select(col("cluster"), (col("pos") + 1).cast("long").as("rnk"),
        col("e.id").as("vec_id"), (-col("e.v")).as("cos_centroid"))
      .orderBy(col("cluster"), col("rnk"))
  }

  /** Oracle: the full [[semDedupSql]] replay + the ASC window twin of the
    * bounded partial ranking. */
  lazy val clusterBalancedSampleSql: String = OracleSql.materializeCtes(
    s"""WITH sd AS (SELECT * FROM ($semDedupSql)),
       |r AS (
       |  SELECT cluster, vec_id, cos_centroid, row_number() OVER (
       |      PARTITION BY cluster ORDER BY cos_centroid, vec_id) AS rnk
       |  FROM sd WHERE kept)
       |SELECT cluster, CAST(rnk AS BIGINT) AS rnk, vec_id, cos_centroid
       |FROM r WHERE rnk <= $ClusterSampleM
       |ORDER BY cluster, rnk""".stripMargin)

  /** k-NN graph slice bound (the [[GraphRank.PrCap]] contract) and
    * neighbors per node. */
  final val KnnCap = 200L
  final val KnnK = 3

  /** K-NEAREST-NEIGHBOR GRAPH — every node's exact top-[[KnnK]] cosine
    * neighbors, the primitive under graph-based dedup clustering, kNN
    * label propagation and manifold methods. The per-node ranking is the
    * [[graft.functions.TopKAgg]] bounded PARTIAL aggregate — no window,
    * no per-node sort; each map task keeps a k-bounded buffer per node
    * and ≤ k·partitions rows shuffle.
    *
    * The all-pairs scoring is contract-capped at [[KnnCap]] nodes (the
    * [[GraphRank]] slice discipline): the exact face verifies the
    * ranking machinery bit-for-bit against the DuckDB window replay; the
    * full-corpus faces are [[knnGraphIvf]] (subquadratic probed-cluster
    * candidates — the graph-at-scale plan) and [[knnGraphLsh]] (banding
    * candidates — the near-dup-threshold recall tool), where the SAME
    * k-bounded aggregate consumes the candidate pairs — candidate
    * generation is the only thing that changes, the ranking aggregate
    * is already scale-shaped. */
  def knnGraph(spark: SparkSession, dir: String): DataFrame = {
    // zero-norm guard — see decontaminateSemantic: NaN cosines order
    // differently through the bounded aggregate than through a window
    val e = withNorm(spark, dir).filter(col("vec_id") < KnnCap)
      .filter(col("nrm") > 0)
    val pairs = e.alias("a")
      .crossJoin(broadcast(e.select(col("vec_id").as("nid"),
        col("ev").as("nev"), col("nrm").as("nnrm"))))
      .filter(col("vec_id") =!= col("nid"))
      .select(col("vec_id").as("src"), col("nid"),
        (dot(col("ev"), col("nev")) / (col("nrm") * col("nnrm")))
          .as("cos"))
    val topk = graft.functions.TopKAgg.top_k(KnnK)
    pairs.groupBy(col("src"))
      .agg(topk(col("nid"), col("cos")).as("nn"))
      .select(col("src"), posexplode(col("nn")).as(Seq("pos", "e")))
      .select(col("src"), (col("pos") + 1).cast("long").as("rnk"),
        col("e.id").as("nbr"), col("e.v").as("cosine"))
      .orderBy(col("src"), col("rnk"))
  }

  /** Oracle: the identical strict-fold cosines ranked by the window
    * twin — equality proves the bounded partial aggregate replays the
    * full (cos DESC, nbr) total order. */
  val knnGraphSql: String = OracleSql.materializeCtes(
    s"""WITH e AS (
       |  SELECT vec_id, ev, nrm FROM (
       |    SELECT vec_id, ev, sqrt(${foldSql("ev", "ev")}) AS nrm
       |    FROM (SELECT vec_id, embedding::DOUBLE[] AS ev
       |          FROM embeddings WHERE vec_id < $KnnCap))
       |  WHERE nrm > 0),
       |p AS (
       |  SELECT a.vec_id AS src, b.vec_id AS nbr,
       |    ${foldSql("a.ev", "b.ev")} / (a.nrm * b.nrm) AS cosine
       |  FROM e a, e b WHERE a.vec_id <> b.vec_id),
       |r AS (
       |  SELECT src, nbr, cosine, row_number() OVER (
       |      PARTITION BY src ORDER BY cosine DESC, nbr) AS rnk
       |  FROM p)
       |SELECT src, CAST(rnk AS BIGINT) AS rnk, nbr, cosine
       |FROM r WHERE rnk <= $KnnK
       |ORDER BY src, rnk""".stripMargin)

  /** k-NN GRAPH at FULL CORPUS — the composition [[knnGraph]]'s scaladoc
    * promised, now a registered query (VERDICT r16 item 5): the SAME
    * k-bounded ranking aggregate, fed by LSH candidate pairs instead of
    * the contract-capped all-pairs frame. Approximate by contract (a
    * node's neighbors are the best of its CANDIDATES — KnnGraphLshSpec
    * measures recall vs the exact slice); the oracle replays the
    * IDENTICAL candidate set through the window twin, the
    * [[annLsh]]/[[embeddingNearDup]] discipline.
    *
    * Plan shape — both r16 anti-pattern lessons applied at once:
    *  - vectors ride the LINEAR bucket shuffle ([[NearDupTables]]× the
    *    corpus, the only exchanged frame); the Θ(n²·p) directed candidate
    *    stream is generated AND cosine-scored inside the bucket join's
    *    streamed codegen output, never materialized;
    *  - a pair colliding in several tables enters the stream once per
    *    table with a BIT-EQUAL cosine (pure function of the pair), and
    *    the SET-SEMANTICS bounded aggregate
    *    ([[graft.functions.TopKAgg.top_k_distinct]]) collapses those
    *    duplicates IN-BUFFER — no `distinct` over the quadratic stream
    *    anywhere, ≤ k·partitions rows shuffle to the reduce side.
    * Zero-norm vectors are excluded exactly as [[knnGraph]] (NaN cosines
    * order differently through a bounded aggregate than a window).
    *
    * SCALE CAVEAT (VERDICT r17): at the 8×4 near-dup banding a random
    * pair collides somewhere with p ≈ 0.4, so the scored stream is
    * ~0.4·n² cosines — quadratic COMPUTE for this face's LINEAR output
    * (measured 42× wall at 20× data). That is the right recall tool at
    * near-dup thresholds (cos ≥ ~0.8, where banding is selective), but
    * for building a whole-corpus graph prefer [[knnGraphIvf]]: bounded
    * probed-cluster candidates, ~n·320 cosines at any scale. */
  def knnGraphLsh(spark: SparkSession, dir: String): DataFrame =
    knnGraphLshCapped(spark, dir, Long.MaxValue)

  /** [[knnGraphLsh]] restricted to vec_id < cap — KnnGraphLshSpec runs it
    * on the [[KnnCap]] slice to compare faces against [[knnGraph]] and a
    * full driver replay. */
  private[operators] def knnGraphLshCapped(spark: SparkSession, dir: String,
      cap: Long): DataFrame = {
    val e = withNorm(spark, dir)
      .filter(col("vec_id") < cap).filter(col("nrm") > 0)
    val bk = withBuckets(e.select(col("vec_id"), col("ev"), col("nrm")),
      NearDupTables, NearDupPlanes)
    val pairs = bk.as("x").hint("shuffle_hash").join(bk.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("src"), col("y.vec_id").as("nid"),
        (dot(col("x.ev"), col("y.ev")) / (col("x.nrm") * col("y.nrm")))
          .as("cos"))
    val topk = graft.functions.TopKAgg.top_k_distinct(KnnK)
    pairs.groupBy(col("src"))
      .agg(topk(col("nid"), col("cos")).as("nn"))
      .select(col("src"), posexplode(col("nn")).as(Seq("pos", "e")))
      .select(col("src"), (col("pos") + 1).cast("long").as("rnk"),
        col("e.id").as("nbr"), col("e.v").as("cosine"))
      .orderBy(col("src"), col("rnk"))
  }

  /** Oracle: the identical candidate set (same inlined hyperplanes, same
    * strict-fold projections ⇒ same buckets), deduped declaratively and
    * ranked by the window twin — equality proves the in-buffer
    * set-semantics aggregate replays DISTINCT + window over the raw
    * duplicate-bearing stream. */
  val knnGraphLshSql: String = OracleSql.materializeCtes(
    s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |n AS (
       |  SELECT vec_id, ev, nrm FROM (
       |    SELECT vec_id, ev, sqrt(${foldSql("ev", "ev")}) AS nrm FROM e0)
       |  WHERE nrm > 0),
       |e AS (SELECT vec_id, ev FROM n),
       |b AS (
       |${bucketsSql(NearDupTables, NearDupPlanes)}),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS src, y.vec_id AS nbr
       |  FROM b x JOIN b y
       |    ON x.tbl = y.tbl AND x.bucket = y.bucket
       |    AND x.vec_id <> y.vec_id),
       |p AS (
       |  SELECT c.src, c.nbr,
       |    ${foldSql("a.ev", "d.ev")} / (a.nrm * d.nrm) AS cosine
       |  FROM cand c JOIN n a ON a.vec_id = c.src
       |  JOIN n d ON d.vec_id = c.nbr),
       |r AS (
       |  SELECT src, nbr, cosine, row_number() OVER (
       |      PARTITION BY src ORDER BY cosine DESC, nbr) AS rnk
       |  FROM p)
       |SELECT src, CAST(rnk AS BIGINT) AS rnk, nbr, cosine
       |FROM r WHERE rnk <= $KnnK
       |ORDER BY src, rnk""".stripMargin)

  /** Probed inverted lists per vector BEYOND its own for [[knnGraphIvf]]
    * — candidates come from the vector's own cluster plus its
    * [[KnnIvfProbes]] next-nearest clusters' members. */
  final val KnnIvfProbes = 4

  /** Per-vector top-nprobe NEAREST CENTROIDS, in rank order, from ONE
    * mapPartitions pass over the broadcast centroid blocks —
    * [[semDedupAssignBlocked]]'s argmax generalized to a bounded
    * insertion buffer (probes(0) IS the assignment cluster). The rank
    * order replicates the window twin's (cos DESC, cid ASC) total order
    * including Spark's NaN-sorts-first descending rule, and the cosine
    * is the same strict-left-fold `d / (nrm · cn)` expression — so a
    * DuckDB `row_number() OVER (ORDER BY cos DESC, cid)` replay elects
    * the IDENTICAL probe sets. Emits (vec_id, ev, nrm, probes);
    * vectors ride along so the candidate join never re-reads the
    * corpus. */
  private[operators] def semDedupProbeBlocked(e: DataFrame,
      blocks: IndexedSeq[org.apache.spark.broadcast.Broadcast[
        Array[(Long, Array[Double], Double)]]],
      nprobe: Int): DataFrame = {
    import e.sparkSession.implicits._
    e.select(col("vec_id"), col("ev"), col("nrm"))
      .as[(Long, Array[Double], Double)]
      .mapPartitions { it =>
        if (blocks.isEmpty) Iterator.empty
        else it.map { case (id, ev, nrm) =>
          val cids = new Array[Long](nprobe)
          val coss = new Array[Double](nprobe)
          var cnt = 0
          var b = 0
          while (b < blocks.length) {
            val cs = blocks(b).value
            var j = 0
            while (j < cs.length) {
              val (cid, cv, cn) = cs(j)
              var d = 0.0
              var i = 0
              // min-length truncation exactly as VecDot.eval
              val nl = math.min(ev.length, cv.length)
              while (i < nl) { d += ev(i) * cv(i); i += 1 }
              val c = d / (nrm * cn)
              // first buffer slot this candidate ranks strictly before;
              // candidates arrive in ascending cid, so equal-cosine ties
              // never displace a buffered (lower-cid) entry
              var pos = 0
              while (pos < cnt &&
                  !ranksBefore(c, cid, coss(pos), cids(pos))) pos += 1
              if (pos < nprobe) {
                var m = math.min(cnt, nprobe - 1)
                while (m > pos) {
                  cids(m) = cids(m - 1); coss(m) = coss(m - 1); m -= 1
                }
                cids(pos) = cid
                coss(pos) = c
                if (cnt < nprobe) cnt += 1
              }
              j += 1
            }
            b += 1
          }
          (id, ev, nrm, cids.take(cnt))
        }
      }
      .toDF("vec_id", "ev", "nrm", "probes")
  }

  /** `(c1, cid1)` ranks strictly before `(c2, cid2)` under Spark's
    * (cos DESC, cid ASC) window order with NaN above every double —
    * the [[semDedupAssignBlocked]] election rule, buffered. Primitive
    * double comparisons, exactly as the assignment's `c > bestCos`. */
  private def ranksBefore(c1: Double, cid1: Long,
      c2: Double, cid2: Long): Boolean = {
    val n1 = java.lang.Double.isNaN(c1)
    val n2 = java.lang.Double.isNaN(c2)
    if (n1 != n2) n1
    else if (!n1 && c1 != c2) c1 > c2
    else cid1 < cid2
  }

  /** k-NN GRAPH at FULL CORPUS, SUBQUADRATIC COMPUTE — the IVF-candidate
    * face (VERDICT r17 item 1): candidates for a vector are the members
    * of its own cluster plus its [[KnnIvfProbes]] next-nearest clusters,
    * over the SAME sharded K ∝ n SemDeDup centroids
    * ([[semDedupCentroidBlocks]]) the dedup family already trains, fed
    * to the SAME set-semantics bounded ranking aggregate as
    * [[knnGraphLsh]].
    *
    * Why this is the graph-at-scale face: [[knnGraphLsh]]'s 8×4 near-dup
    * banding collides a RANDOM pair somewhere with p ≈ 0.4, so its
    * scored stream is ~0.4·n² cosines — quadratic COMPUTE for a LINEAR
    * output (measured 42× wall at 20× data, BASELINE.md r17). Here the
    * per-vector candidate count is bounded by the probed populations:
    * with K = ⌈n/64⌉ centroids ([[semDedupKFor]]) populations hold at
    * ~[[SemDedupTargetPop]] regardless of corpus size, so FLOPs are
    * n·(K_scan + ~64·([[KnnIvfProbes]]+1)) — the K_scan is the
    * already-sharded blocked centroid pass every SemDeDup face pays,
    * and the candidate stage is ~320 cosines per vector at ANY scale.
    * Exchange is linear end-to-end: the probe side carries vectors on a
    * ([[KnnIvfProbes]]+1)× explode, the inverted side on 1×, and the
    * candidate stream is scored inside the equi-join's streamed codegen
    * output — never materialized, ≤ k·partitions rows reach the reduce
    * side ([[graft.functions.TopKAgg.top_k_distinct]] dedups in-buffer;
    * (src, nbr) pairs are in fact unique here — a nbr has ONE home
    * cluster and a src probes DISTINCT clusters — so set semantics cost
    * nothing and keep the LSH face's aggregate contract).
    *
    * Approximate by contract exactly like the LSH face (a node's
    * neighbors are the best of its CANDIDATES — KnnGraphIvfSpec measures
    * recall vs the exact slice); the oracle replays the IDENTICAL
    * candidate set through the window twin. Recall/compute knob:
    * probing MORE clusters raises recall linearly in FLOPs, vs the LSH
    * face's all-or-nothing banding — at near-dup thresholds (cos ≥ 0.8)
    * prefer [[knnGraphLsh]]; for whole-corpus graph building, this. */
  def knnGraphIvf(spark: SparkSession, dir: String): DataFrame =
    knnGraphIvfCapped(spark, dir, Long.MaxValue)

  /** [[knnGraphIvf]] restricted to vec_id < cap — KnnGraphIvfSpec runs it
    * on the [[KnnCap]] slice to compare against [[knnGraph]] and a full
    * driver replay. */
  private[operators] def knnGraphIvfCapped(spark: SparkSession, dir: String,
      cap: Long): DataFrame = {
    // K from corpus size (footer-metadata count), exactly as [[semDedup]]
    val k = semDedupKFor(
      t(spark, dir, "embeddings").filter(col("vec_id") < cap).count())
    val blocks = semDedupCentroidBlocks(spark, dir, k = k, maxId = cap)
    val e = withNorm(spark, dir).filter(col("vec_id") < cap)
      .filter(col("nrm") > 0)
    val probed = graft.SharedFrames.shared(
      semDedupProbeBlocked(e, blocks, KnnIvfProbes + 1))
    val inv = probed.select(col("probes").getItem(0).as("cl"),
      col("vec_id").as("nid"), col("ev").as("nev"), col("nrm").as("nnrm"))
    val qry = probed.select(col("vec_id").as("src"), col("ev").as("qev"),
      col("nrm").as("qnrm"), explode(col("probes")).as("cl"))
    val pairs = qry.hint("shuffle_hash").join(inv, Seq("cl"))
      .filter(col("src") =!= col("nid"))
      .select(col("src"), col("nid"),
        (dot(col("qev"), col("nev")) / (col("qnrm") * col("nnrm")))
          .as("cos"))
    val topk = graft.functions.TopKAgg.top_k_distinct(KnnK)
    pairs.groupBy(col("src"))
      .agg(topk(col("nid"), col("cos")).as("nn"))
      .select(col("src"), posexplode(col("nn")).as(Seq("pos", "e")))
      .select(col("src"), (col("pos") + 1).cast("long").as("rnk"),
        col("e.id").as("nbr"), col("e.v").as("cosine"))
      .orderBy(col("src"), col("rnk"))
  }

  /** The [[knnGraphIvf]] replay's CTE chain (training → probe window →
    * candidate join → ranked cosines in `r`) — shared by
    * [[knnGraphIvfSql]] and the [[knnComponentsSql]] consumer. */
  private def knnGraphIvfCtes: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |n AS (SELECT vec_id, ev, sqrt(${foldSql("ev", "ev")}) AS nrm FROM e),
       |${lloydInitSql("e")},
       |${lloydRoundsSql("e")},
       |c AS (SELECT cid, cv, sqrt(${foldSql("cv", "cv")}) AS cn
       |      FROM c$SemDedupIters),
       |nf AS (SELECT vec_id, ev, nrm FROM n WHERE nrm > 0),
       |pr AS (SELECT vec_id, cid, rn FROM (
       |    SELECT x.vec_id, c.cid, row_number() OVER (
       |        PARTITION BY x.vec_id
       |        ORDER BY ${foldSql("x.ev", "c.cv")} / (x.nrm * c.cn) DESC,
       |          c.cid) AS rn
       |    FROM nf x CROSS JOIN c) WHERE rn <= ${KnnIvfProbes + 1}),
       |asg AS (SELECT vec_id, cid FROM pr WHERE rn = 1),
       |cand AS (
       |  SELECT p.vec_id AS src, a.vec_id AS nbr
       |  FROM pr p JOIN asg a ON a.cid = p.cid AND a.vec_id <> p.vec_id),
       |p AS (
       |  SELECT cnd.src, cnd.nbr,
       |    ${foldSql("a.ev", "d.ev")} / (a.nrm * d.nrm) AS cosine
       |  FROM cand cnd JOIN nf a ON a.vec_id = cnd.src
       |  JOIN nf d ON d.vec_id = cnd.nbr),
       |r AS (
       |  SELECT src, nbr, cosine, row_number() OVER (
       |      PARTITION BY src ORDER BY cosine DESC, nbr) AS rnk
       |  FROM p)""".stripMargin

  /** Oracle: replays the ENTIRE operator — the [[lloydRoundsSql]]
    * training (identical fixed-point centroids), the per-vector probe
    * ranking as the window twin of [[semDedupProbeBlocked]]'s bounded
    * insertion, the IDENTICAL candidate set (probe × home-cluster
    * equi-join), and the (cos DESC, nbr) top-k window — bit-identically
    * at any scale factor, the [[knnGraphLshSql]] discipline. */
  val knnGraphIvfSql: String = OracleSql.materializeCtes(
    s"""WITH $knnGraphIvfCtes
       |SELECT src, CAST(rnk AS BIGINT) AS rnk, nbr, cosine
       |FROM r WHERE rnk <= $KnnK
       |ORDER BY src, rnk""".stripMargin)

  /** Hash-to-min rounds the [[knnComponentsSql]] oracle unrolls — each
    * round takes the min over self, in-neighbors, and the label's own
    * label (pointer jump), so the minimum component id spreads along
    * paths AND through label indirection: convergence in O(log diameter)
    * rounds (6 was one round short of the fixpoint at sf0.01 — two leaf
    * nodes still carried a stale indirection). The engine does not run
    * these rounds: an unconverged oracle would disagree with its true
    * components, so the DuckDB gate fails if the count stops sufficing. */
  final val KnnCcIters = 8

  /** CONNECTED COMPONENTS of the full-corpus kNN graph — the graph
    * consumer the 200-node slice contract ([[GraphRank.PrCap]]) only
    * simulates, now running on the whole corpus (VERDICT r17 item 4):
    * cluster membership for every vector, the capability a 100 TB
    * dedup-clustering user actually wants (near-dup cluster triage,
    * leak-free split keys, per-cluster sampling). The component id is the
    * min vec_id of the component — stable under corpus growth.
    *
    * Execution: [[knnGraphIvf]]'s linear-sized DIRECTED edges (≤ k per
    * node) feed the house star-contraction engine
    * ([[Dedup.connectedComponents]] — O(log n) alternating
    * large/small-star rounds with the ≤[[Dedup.CcDriverFinish]]-row
    * driver union-find finish), whose own (hi, lo) canonicalization
    * subsumes a symmetrize + distinct shuffle; vectors outside every edge
    * label themselves. Only the oracle unrolls [[KnnCcIters]] hash-to-min
    * rounds (Rastogi et al. 2013); both compute the true components,
    * which KnnComponentsSpec pins against a driver union-find over the
    * identical edge set at every SF. */
  def knnComponents(spark: SparkSession, dir: String): DataFrame = {
    val knn = knnGraphIvf(spark, dir)
      .select(col("src"), col("nbr").as("dst"))
    val cc = Dedup.connectedComponents(knn)
    val nodes = withNorm(spark, dir).filter(col("nrm") > 0)
      .select(col("vec_id").as("v"))
    val labels = graft.SharedFrames.shared(
      nodes.join(cc.select(col("doc_id").as("v"), col("cluster").as("lab")),
          Seq("v"), "left_outer")
        .select(col("v"), coalesce(col("lab"), col("v")).as("lab")))
    val sizes = labels.groupBy(col("lab")).agg(count(lit(1)).as("csize"))
    labels.join(sizes, Seq("lab"))
      .select(col("v").as("vec_id"), col("lab").as("component"),
        col("csize"))
      .orderBy(col("vec_id"))
  }

  /** Symmetrized (src, nbr) edge set of a kNN result WITHOUT consuming
    * the kNN frame twice: a `union(knn, knn.reversed)` references the
    * upstream candidate join + ranking aggregate in BOTH legs, so the
    * expensive subtree executes twice inside the one symmetrization
    * materialization (measured ~0.3–0.6 s of pure recompute at sf0.1).
    * One row-local 2-way explode emits both directions from a single
    * execution — same rows, one pass (guide §2.4: remove duplicated
    * subtrees before removing shuffles). */
  private def symEdges(knn: DataFrame): DataFrame =
    knn.select(explode(array(
        struct(col("src"), col("nbr")),
        struct(col("nbr").as("src"), col("src").as("nbr")))).as("e"))
      .select(col("e.src").as("src"), col("e.nbr").as("nbr"))
      .distinct()

  /** Synchronous vote rounds for [[knnLabelprop]]. */
  final val KnnLpIters = 4

  /** LABEL-PROPAGATION COMMUNITIES over the full-corpus kNN graph —
    * the finer-grained companion to [[knnComponents]]: on a kNN graph
    * connectivity collapses to a giant component (every test corpus is
    * ONE component), but community structure survives — LPA elects the
    * label most of a node's neighbors hold, so dense near-dup
    * neighborhoods keep shared labels without requiring global
    * connectivity. Same deterministic synchronous variant as
    * [[GraphRank.graphLabelprop]] (Raghavan et al. 2007): all nodes
    * update simultaneously from the previous round's labels, vote
    * decided by (max count, then MIN label).
    *
    * The election is NOT the slice face's packed-BIGINT min (its
    * (PrCap − cnt)·2³² + lab packing needs lab < 2³² and cnt < PrCap —
    * fine for a 200-node slice, unsound for arbitrary vec_ids at
    * corpus scale). Instead: two partial-combinable aggregates — max
    * count per node, then min label among the tied — every stage an
    * equi-join or map-side-combinable agg over the linear edge set, no
    * packing bound at any corpus size. Labels have LINEAR lineage
    * (referenced once per round; isolated nodes re-derive their own
    * id), so unlike [[knnComponents]] no per-round materialization is
    * needed. [[KnnLpIters]] synchronous rounds, unrolled identically
    * in the oracle. */
  def knnLabelprop(spark: SparkSession, dir: String): DataFrame = {
    val knn = knnGraphIvf(spark, dir).select(col("src"), col("nbr"))
    val sym = graft.SharedFrames.shared(symEdges(knn))
    val nodes = withNorm(spark, dir).filter(col("nrm") > 0)
      .select(col("vec_id").as("v"))
    var labels = nodes.select(col("v"), col("v").as("lab"))
    (1 to KnnLpIters).foreach { _ =>
      // (max count, then MIN label) as ONE lexicographic max over
      // struct(cnt, -slab): cnt decides first, and among tied counts the
      // max of -slab IS the min slab (vec_ids are non-negative). The
      // r18-original two-consumer formulation (votes → per-node max,
      // votes ⋈ max → min slab) consumed the votes frame TWICE per
      // round without materializing it, so round r's whole subtree
      // re-executed ~2^(r-1) times — the documented exponential-lineage
      // trap (measured: 10.2 s → this shape + symEdges ≈ 3 s at sf0.1).
      // Votes is now consumed ONCE, lineage stays linear, and no
      // per-round materialization is needed.
      val elected = sym
        .join(labels.select(col("v").as("src"), col("lab").as("slab")),
          Seq("src"))
        .groupBy(col("nbr"), col("slab")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("nbr"))
        .agg(max(struct(col("cnt"), (-col("slab")).as("nslab"))).as("w"))
        .select(col("nbr").as("v"), (-col("w.nslab")).as("elab"))
      labels = nodes.join(elected, Seq("v"), "left_outer")
        .select(col("v"), coalesce(col("elab"), col("v")).as("lab"))
    }
    val fin = graft.SharedFrames.shared(labels)
    val sizes = fin.groupBy(col("lab")).agg(count(lit(1)).as("csize"))
    fin.join(sizes, Seq("lab"))
      .select(col("v").as("vec_id"), col("lab").as("community"),
        col("csize"))
      .orderBy(col("vec_id"))
  }

  /** Oracle: the [[knnGraphIvfCtes]] edge replay + [[KnnLpIters]]
    * unrolled synchronous vote rounds with the identical
    * max-count-then-min-label election. */
  val knnLabelpropSql: String = {
    val rounds = (1 to KnnLpIters).map { i =>
      val prev = s"lp${i - 1}"
      s"""vt$i AS (
         |  SELECT e.nbr, l.lab AS slab, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM sym e JOIN $prev l ON l.v = e.src
         |  GROUP BY e.nbr, l.lab),
         |lp$i AS (
         |  SELECT n.v, COALESCE(e.elab, n.v) AS lab
         |  FROM lpn n LEFT JOIN (
         |    SELECT c.nbr, MIN(c.slab) AS elab
         |    FROM vt$i c
         |    JOIN (SELECT nbr, MAX(cnt) AS mc FROM vt$i GROUP BY nbr) b
         |      ON b.nbr = c.nbr AND c.cnt = b.mc
         |    GROUP BY c.nbr) e ON e.nbr = n.v)""".stripMargin
    }.mkString(",\n")
    OracleSql.materializeCtes(
      s"""WITH $knnGraphIvfCtes,
         |knn AS (SELECT src, nbr FROM r WHERE rnk <= $KnnK),
         |sym AS (SELECT src, nbr FROM knn
         |        UNION SELECT nbr, src FROM knn),
         |lpn AS (SELECT vec_id AS v FROM nf),
         |lp0 AS (SELECT vec_id AS v, vec_id AS lab FROM nf),
         |$rounds,
         |lsz AS (SELECT lab, CAST(COUNT(*) AS BIGINT) AS csize
         |        FROM lp$KnnLpIters GROUP BY lab)
         |SELECT l.v AS vec_id, l.lab AS community, s.csize
         |FROM lp$KnnLpIters l JOIN lsz s ON s.lab = l.lab
         |ORDER BY vec_id""".stripMargin)
  }

  /** Oracle: the [[knnGraphIvfCtes]] edge replay + [[KnnCcIters]]
    * unrolled hash-to-min rounds with the identical min-of-three rule.
    * Every label CTE is referenced three times per round —
    * MATERIALIZED (the documented DuckDB inlining trap). */
  val knnComponentsSql: String = {
    val rounds = (1 to KnnCcIters).map { i =>
      val prev = s"l${i - 1}"
      s"""l$i AS (
         |  SELECT l.v,
         |    LEAST(l.lab, COALESCE(nb.m, l.lab), j.lab) AS lab
         |  FROM $prev l
         |  JOIN $prev j ON j.v = l.lab
         |  LEFT JOIN (
         |    SELECT e.nbr, MIN(x.lab) AS m
         |    FROM sym e JOIN $prev x ON x.v = e.src
         |    GROUP BY e.nbr) nb ON nb.nbr = l.v)""".stripMargin
    }.mkString(",\n")
    OracleSql.materializeCtes(
      s"""WITH $knnGraphIvfCtes,
         |knn AS (SELECT src, nbr FROM r WHERE rnk <= $KnnK),
         |sym AS (SELECT src, nbr FROM knn
         |        UNION SELECT nbr, src FROM knn),
         |l0 AS (SELECT vec_id AS v, vec_id AS lab FROM nf),
         |$rounds,
         |sz AS (SELECT lab, CAST(COUNT(*) AS BIGINT) AS csize
         |       FROM l$KnnCcIters GROUP BY lab)
         |SELECT l.v AS vec_id, l.lab AS component, s.csize
         |FROM l$KnnCcIters l JOIN sz s ON s.lab = l.lab
         |ORDER BY vec_id""".stripMargin)
  }

  // ---- PCA: distributed covariance + driver eigen + projection ----

  /** Embedding dimensionality of the corpus tables (asserted by
    * [[pcaProject]] at collect time). */
  final val EmbedDim = 64

  /** Components kept by [[pcaProject]]. */
  final val PcaDim = 8

  /** POPULATION COVARIANCE of the embedding matrix — the single-pass
    * distributed second-moment accumulation every PCA/whitening stage
    * starts from (SemDeDup's pipelines run PCA before clustering;
    * whitening is the standard pre-ANN transform). Upper triangle only
    * (i ≤ j): d(d+1)/2 = 2 080 cells at d=64.
    *
    * 100 TB shape: the (i,j,xᵢ·xⱼ) explode is map-local and the hash
    * aggregate partial-combines each task's n·d²/2 product rows down to
    * 2 080 cells before the exchange — the shuffle carries
    * cells·partitions rows no matter the corpus size (the count/sum
    * scale recipe applied to linear algebra). Means come from the
    * single-index explode the same way; the final join of 2 080 cells
    * against 64 means broadcasts. Exactness: products are single
    * correctly-rounded IEEE ops staged to DECIMAL(18,6)
    * ([[graft.Tables.dec]]) so the cross-row sums are order-independent,
    * and cov derives from those exact sums with one pinned-order double
    * expression — bit-identical in any engine. */
  /** [[pcaCovariance]]'s frame WITH the per-dimension mean it already
    * joins ridden out as a column — so [[pcaProject]] gets covariance AND
    * means from ONE corpus pass (the diagonal i==j rows carry each
    * dimension's sx/n) instead of re-running a second corpus-wide
    * explode + aggregate just to re-derive what this join computed. */
  private def pcaCovFull(spark: SparkSession, dir: String): DataFrame = {
    import graft.Tables.{dec, asDouble}
    // spread the raw vectors BEFORE the 2080× pair fan-out: a narrow
    // embeddings scan arrives in few partitions (locally ONE), which made
    // the whole d²/2 explode single-threaded; the shuffle moves only the
    // pre-explode vectors, never the pairs
    val e = t(spark, dir, "embeddings")
      .select(toDouble(col("embedding")).as("ev"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
    // explode × explode + triangle filter streams through whole-stage
    // codegen row by row; generating the 2080-struct pair array per row
    // with nested transform/flatten was MEASURED 1.7× slower (it
    // materializes the array before exploding)
    val pairs = e.select(col("ev"), posexplode(col("ev")).as(Seq("i0", "x")))
      .select(col("i0"), col("x"), posexplode(col("ev")).as(Seq("j0", "y")))
      .filter(col("i0") <= col("j0"))
      .select((col("i0") + 1).cast("long").as("i"),
        (col("j0") + 1).cast("long").as("j"),
        dec(col("x") * col("y")).as("p"))
    val sums = pairs.groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"), sum(col("p")).as("sxy"))
    val means = e.select(posexplode(col("ev")).as(Seq("i0", "x")))
      .select((col("i0") + 1).cast("long").as("i"), dec(col("x")).as("x"))
      .groupBy(col("i")).agg(sum(col("x")).as("sx"))
    val nD = col("n").cast("double")
    sums
      .join(broadcast(means), Seq("i"))
      .join(broadcast(means.select(col("i").as("j"), col("sx").as("sy"))),
        Seq("j"))
      .select(col("i"), col("j"), col("n"),
        ((asDouble(col("sxy")) - ((asDouble(col("sx")) * asDouble(col("sy")))
          / nD)) / nD).as("cov"),
        // mean_i = sx/n in the exact order the dropped second pass used
        (asDouble(col("sx")) / nD).as("mean_i"))
      .orderBy(col("i"), col("j"))
  }

  def pcaCovariance(spark: SparkSession, dir: String): DataFrame =
    pcaCovFull(spark, dir)
      .select(col("i"), col("j"), col("n"), col("cov"))

  val pcaCovarianceSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev
       |           FROM embeddings),
       |px AS (
       |  SELECT e.vec_id, t.range AS i, e.ev[t.range] AS x
       |  FROM e, range(1, ${EmbedDim + 1}) t),
       |s AS (
       |  SELECT a.i AS i, b.i AS j, CAST(count(*) AS BIGINT) AS n,
       |    SUM(CAST(a.x * b.x AS DECIMAL(18,6))) AS sxy
       |  FROM px a JOIN px b ON a.vec_id = b.vec_id AND a.i <= b.i
       |  GROUP BY 1, 2),
       |m AS (
       |  SELECT i, SUM(CAST(x AS DECIMAL(18,6))) AS sx
       |  FROM px GROUP BY 1)
       |SELECT s.i, s.j, s.n,
       |  ((CAST(CAST(s.sxy AS VARCHAR) AS DOUBLE)
       |    - ((CAST(CAST(mi.sx AS VARCHAR) AS DOUBLE)
       |        * CAST(CAST(mj.sx AS VARCHAR) AS DOUBLE))
       |       / CAST(s.n AS DOUBLE)))
       |   / CAST(s.n AS DOUBLE)) AS cov
       |FROM s JOIN m mi ON mi.i = s.i JOIN m mj ON mj.i = s.j
       |ORDER BY s.i, s.j""".stripMargin

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix —
    * deterministic (fixed sweep order, fixed convergence threshold), so
    * the projection basis is reproducible across runs and partitionings.
    * Returns (eigenvalues, eigenvectors as rows), sorted by eigenvalue
    * descending with the sign convention that each vector's
    * largest-magnitude coordinate is positive. d=64: microseconds on the
    * driver. */
  private[operators] def jacobiEigen(
      a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((r, c) => if (r == c) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (off > 1e-12 && sweep < 64) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val tSign = if (theta >= 0) 1.0 else -1.0
            val tt = tSign / (math.abs(theta) +
              math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(tt * tt + 1.0)
            val s = tt * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = 0.0
      var r = 0
      while (r < d - 1) {
        var c2 = r + 1
        while (c2 < d) { off = math.max(off, math.abs(a(r)(c2))); c2 += 1 }
        r += 1
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    val vals = order.map(i => a(i)(i)).toArray
    val vecs = order.map { i =>
      val col0 = Array.tabulate(d)(r => v(r)(i))
      val mx = col0.indices.maxBy(k => (math.abs(col0(k)), -k))
      if (col0(mx) < 0) col0.map(x => -x) else col0
    }.toArray
    (vals, vecs)
  }

  /** PCA PROJECTION — each embedding mapped onto the top-[[PcaDim]]
    * principal components of [[pcaCovariance]]'s matrix (centered). The
    * eigendecomposition is BOUNDED DRIVER WORK on the collected d×d
    * matrix (2 080 cells — the k-means-centroid-fetch contract); the
    * projection itself is a narrow per-row strict-fold expression with
    * the basis inlined as literals (the LSH plane-constant pattern), so
    * it is codegen'd, partition-parallel, and deterministic. Rows-only
    * in the gate (the eigen step has no SQL replay); [[pcaCovariance]]
    * is the oracle-exact twin and SimilaritySpec pins variance capture,
    * orthonormality, determinism, and per-component variance =
    * eigenvalue. */
  def pcaProject(spark: SparkSession, dir: String): DataFrame = {
    // ONE corpus pass: covariance matrix and per-dimension means both come
    // off pcaCovFull — the diagonal rows carry mean_i, so no second
    // corpus-wide explode + aggregate re-derives what this join computed
    val covRows = pcaCovFull(spark, dir).collect()
    val d = EmbedDim
    val cov = Array.ofDim[Double](d, d)
    val mean = Array.ofDim[Double](d)
    covRows.foreach { r =>
      val (i, j, c) = (r.getLong(0).toInt - 1, r.getLong(1).toInt - 1,
        r.getDouble(3))
      cov(i)(j) = c; cov(j)(i) = c
      if (i == j) mean(i) = r.getDouble(4)
    }
    val (_, vecs) = jacobiEigen(cov)
    val projCols = (0 until PcaDim).map { c =>
      val basis = vecs(c).map(_.toString).mkString(", ")
      val offset = (0 until d).map(k => mean(k) * vecs(c)(k)).sum
      expr(s"aggregate(zip_with(ev, array($basis), (a, b) -> a * b), " +
        s"cast(0 as double), (acc, v) -> acc + v) - ($offset)")
    }
    t(spark, dir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("ev"))
      .select(col("vec_id"), posexplode(array(projCols: _*))
        .as(Seq("c0", "value")))
      .select(col("vec_id"), (col("c0") + 1).cast("long").as("component"),
        col("value"))
      .orderBy(col("vec_id"), col("component"))
  }
}

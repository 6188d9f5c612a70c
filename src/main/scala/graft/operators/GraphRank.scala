package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Graph analytics over the document-similarity graph, beyond reachability
  * (connected components live in [[Dedup]]): PageRank in EXACT fixed-point
  * arithmetic, so the iterative ranking — the canonical "many rounds of
  * join + aggregate" distributed workload — is bit-replayable in SQL.
  *
  * Graph: trigram-Jaccard ≥ [[GraphRank.PrTau]] pairs over the
  * [[GraphRank.PrCap]]-doc verification slice (the
  * [[Dedup.dedupNgramJaccard]] θ-join primitive at a similarity — not
  * dedup — threshold; τ=0.6 yields a ~1k-edge graph at every SF where the
  * 0.7 dedup threshold leaves almost none). The doc cap bounds the
  * quadratic pair mining BY CONTRACT, exactly as the Jaccard primitive
  * documents; rank iteration itself is the unbounded-scale shape — each
  * round is one equi-join on src + one partial-combinable sum by dst, the
  * textbook distributed PageRank step.
  *
  * Arithmetic: ranks are BIGINT fixed-point ([[GraphRank.PrScale]] total
  * mass split evenly), damping d = 17/20 applied as integer
  * multiply-then-truncate, per-edge contribution = pr // deg (truncating)
  * — every operation order-independent and identical in Spark (`div`) and
  * DuckDB (`//` on non-negatives), the [[Similarity.SemDedupQScale]]
  * discipline applied to graph iteration. Mass from dangling nodes (none
  * here — every node with deg 0 simply contributes nothing) and rounding
  * residue is deliberately NOT redistributed: the fixed point is defined
  * by the recurrence, not by mass conservation.
  */
object GraphRank {

  /** Similarity-graph slice bound (the Jaccard primitive's contract). */
  final val PrCap = 200L
  /** Edge threshold — similarity, not dedup: 0.6 gives a dense graph. */
  final val PrTau = 0.6
  /** Total fixed-point rank mass (2^20). */
  final val PrScale = 1L << 20
  /** Power-iteration rounds (unrolled in the oracle). */
  final val PrIters = 5

  /** Symmetric (src, dst) edge list of the τ-similarity graph. */
  private[operators] def simEdges(spark: SparkSession, dir: String): DataFrame = {
    val g = t(spark, dir, "documents")
      .filter(col("doc_id") < PrCap && length(col("text")) >= 3)
      .select(col("doc_id"),
        graft.functions.GramPackSet.gram_pack_set(col("text"), 3).as("gset"))
      .withColumn("sz", size(col("gset")).cast("long"))
    val pairs = g.as("a")
      .join(broadcast(g.as("b")), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        graft.functions.SortedIntersectCount
          .sorted_intersect_count(col("a.gset"), col("b.gset")).as("i"),
        col("a.sz").as("sz1"), col("b.sz").as("sz2"))
      .filter(col("i").cast("double") /
        (col("sz1") + col("sz2") - col("i")) >= PrTau)
      .select(col("d1"), col("d2"))
    // symmetrize with ONE row-local explode, not union(pairs, reversed):
    // the union references the pair-mining subtree (gram sets + broadcast
    // θ-join + intersect counts) in BOTH legs, so it executed twice per
    // consumer materialization — same rows, one pass (guide §2.4).
    pairs.select(explode(array(
        struct(col("d1").as("src"), col("d2").as("dst")),
        struct(col("d2").as("src"), col("d1").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  /** The damped fixed-point rank iteration BOTH rank operators run
    * (this file's [[pagerankSim]] and [[TextAnalysis.textrankKeywords]]):
    * per round, edges ⋈ ranks on src, per-dst partial-combinable sum,
    * teleport base + 17/20 damping as integer multiply-then-truncate.
    * `nodes(v)`, `edges(src,dst)`, `deg(src,deg)`; rank lineage is
    * LINEAR across rounds (ranks referenced once per round), so no
    * per-round materialization is needed. One copy of the arithmetic —
    * a divergent duplicate would silently desynchronize the two
    * operators' oracles. */
  private[operators] def rankRounds(nodes: DataFrame, edges: DataFrame,
      deg: DataFrame, scale: Long, n: Long, iters: Int): DataFrame = {
    val base = (3L * scale) / (20L * n)
    var ranks = nodes.withColumn("pr", lit(scale / n))
    (1 to iters).foreach { _ =>
      val incoming = edges
        .join(deg, Seq("src"))
        .join(ranks.withColumnRenamed("v", "src"), Seq("src"))
        .select(col("dst"), expr("pr div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inc"))
      ranks = nodes
        .join(incoming.withColumnRenamed("dst", "v"), Seq("v"), "left_outer")
        .select(col("v"),
          (lit(base) + expr("(17 * coalesce(inc, 0L)) div 20")).as("pr"))
    }
    ranks
  }

  /** SQL twin of [[rankRounds]]: the unrolled r1..rN round CTEs over
    * `nodes`/`edges`/`deg`/`nn`/r0. */
  private[operators] def rankRoundsSql(scale: Long, iters: Int): String =
    (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT nodes.v,
         |    CAST((SELECT (3 * $scale) // (20 * n) FROM nn)
         |      + (17 * COALESCE(inc.s, 0)) // 20 AS BIGINT) AS pr
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst AS v, SUM(r.pr // d.deg) AS s
         |    FROM edges e
         |    JOIN deg d ON d.src = e.src
         |    JOIN r${i - 1} r ON r.v = e.src
         |    GROUP BY e.dst) inc ON inc.v = nodes.v)""".stripMargin
    }.mkString(",\n")

  /** ONE copy of the τ-similarity-graph oracle prelude (g → sizes →
    * inter → pairs); every graph oracle in this file builds on it, so a
    * change to the similarity definition cannot desynchronize one. */
  private val simGraphCtes: String =
    s"""g AS (
       |  SELECT doc_id,
       |    unnest(list_distinct(list_transform(range(1, length(text)-1),
       |                                        i -> text[i:i+2]))) AS gram
       |  FROM documents WHERE doc_id < $PrCap),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
       |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT d1, d2 FROM inter
       |  JOIN sizes s1 ON s1.doc_id = d1
       |  JOIN sizes s2 ON s2.doc_id = d2
       |  WHERE CAST(i AS DOUBLE)/(s1.sz + s2.sz - i) >= $PrTau)""".stripMargin

  /** [[simGraphCtes]] + the symmetric edge list and the node set. */
  private val simGraphEdgesNodesCtes: String =
    s"""$simGraphCtes,
       |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
       |          UNION ALL SELECT d2, d1 FROM pairs),
       |nodes AS (SELECT doc_id AS v FROM documents WHERE doc_id < $PrCap)""".stripMargin

  /** Fixed-point PageRank over the similarity graph: one row per slice
    * doc with its final rank and degree. Per iteration: edges ⋈ ranks on
    * src (the corpus-sized shuffle at real scale), per-dst sum
    * (partial-combinable), teleport term added map-side. Edges and
    * degrees are mined ONCE and shared across all [[PrIters]] rounds. */
  def pagerankSim(spark: SparkSession, dir: String): DataFrame = {
    val nodes = t(spark, dir, "documents")
      .filter(col("doc_id") < PrCap).select(col("doc_id").as("v"))
    val n = nodes.count()
    val edges = graft.SharedFrames.shared(simEdges(spark, dir))
    val deg = graft.SharedFrames.shared(
      edges.groupBy(col("src")).agg(count(lit(1)).as("deg")))
    rankRounds(nodes, edges, deg, PrScale, n, PrIters)
      .join(deg.withColumnRenamed("src", "v"), Seq("v"), "left_outer")
      .select(col("v").as("doc_id"), col("pr"),
        coalesce(col("deg"), lit(0L)).as("deg"))
      .orderBy(col("doc_id"))
  }

  /** BFS relaxation rounds (unrolled in the oracle). */
  final val BfsIters = 4
  /** Seed selector: doc_ids ≡ 0 (mod this) are BFS sources. */
  final val BfsSeedMod = 97L
  /** (dist, root) lexicographic packing base — roots are doc_ids < 2^32. */
  final val BfsEncBase = 1L << 32

  /** Multi-source BFS / nearest-landmark labeling over the τ-similarity
    * graph: every slice doc's hop distance to its NEAREST seed (doc_ids ≡
    * 0 mod [[BfsSeedMod]]) and which seed won, ties to the smallest seed
    * id. The graph-traversal member of the graph family (reachability =
    * connected components in [[Dedup]], ranking = [[pagerankSim]]).
    *
    * The (dist, root) pair travels as ONE BIGINT `dist·2^32 + root` —
    * lexicographic by construction since roots < 2^32 — so each
    * relaxation round is an equi-join of the frontier on src plus a
    * partial-combinable `min` by vertex: `reach ∪ (edges ⋈ reach + 2^32)
    * → min per v`. No windows, no driver iteration state beyond the loop
    * counter; at 100 TB each round is one co-keyed shuffle whose map side
    * folds every vertex's candidates to one row. [[BfsIters]] rounds
    * bound the labeled radius exactly as the oracle's unrolled recursion
    * does; unreached docs report dist = root = −1 (both verdict classes
    * populated — GraphRankSpec pins non-vacuity at every SF). */
  def graphBfs(spark: SparkSession, dir: String): DataFrame = {
    val nodes = t(spark, dir, "documents")
      .filter(col("doc_id") < PrCap).select(col("doc_id").as("v"))
    val edges = graft.SharedFrames.shared(simEdges(spark, dir))
    // dist 0, root = self: enc = 0·2^32 + v. Each round references
    // `reach` twice (carry ∪ relax) — rounds are lineage-cut via
    // [[graft.SharedFrames.materialize]] (the [[graphKcore]] discipline):
    // the unbroken plan embeds the previous round twice, doubling per round.
    var reach = graft.SharedFrames.materialize(
      nodes.filter(col("v") % BfsSeedMod === 0L)
        .select(col("v"), col("v").as("enc")))._1
    (1 to BfsIters).foreach { _ =>
      val cand = edges
        .join(reach.withColumnRenamed("v", "src"), Seq("src"))
        .select(col("dst").as("v"), (col("enc") + BfsEncBase).as("enc"))
      reach = graft.SharedFrames.materialize(
        reach.union(cand).groupBy(col("v")).agg(min(col("enc")).as("enc")))._1
    }
    nodes.join(reach, Seq("v"), "left_outer")
      .select(col("v").as("doc_id"),
        coalesce(expr(s"enc div $BfsEncBase"), lit(-1L)).as("dist"),
        coalesce(col("enc") % BfsEncBase, lit(-1L)).as("root"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: the same τ-graph CTEs as [[pagerankSimSql]], then the
    * [[BfsIters]] min-relaxation rounds unrolled with the identical
    * BIGINT (dist, root) packing. CTEs MATERIALIZED (shared edge list). */
  val graphBfsSql: String = {
    val rounds = (1 to BfsIters).map { i =>
      s"""r$i AS (
         |  SELECT v, MIN(enc) AS enc FROM (
         |    SELECT v, enc FROM r${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS v, r.enc + $BfsEncBase AS enc
         |    FROM edges e JOIN r${i - 1} r ON r.v = e.src) u
         |  GROUP BY v)""".stripMargin
    }.mkString(",\n")
    val raw =
      s"""WITH $simGraphEdgesNodesCtes,
         |r0 AS (SELECT v, v AS enc FROM nodes WHERE v % $BfsSeedMod = 0),
         |$rounds
         |SELECT n.v AS doc_id,
         |  COALESCE(CAST(r.enc // $BfsEncBase AS BIGINT), -1) AS dist,
         |  COALESCE(CAST(r.enc % $BfsEncBase AS BIGINT), -1) AS root
         |FROM nodes n LEFT JOIN r$BfsIters r ON r.v = n.v
         |ORDER BY doc_id""".stripMargin
    OracleSql.materializeCtes(raw)
  }

  /** TRIANGLE COUNTING over the τ-similarity graph — the third graph
    * analytic beside reachability ([[Dedup]] CC), ranking
    * ([[pagerankSim]]) and traversal ([[graphBfs]]): per-doc triangle
    * participation plus the global total, the local-clustering signal
    * community detection and near-dup "clique vs chain" triage read.
    *
    * The id-ORIENTED node-iterator shape: canonical a<b edges, wedges by
    * ONE equi-join on the middle vertex (a<b<c by construction, so every
    * triangle is enumerated exactly once), closure by a second equi-join
    * against the canonical edge list. Both joins are co-keyed shuffles
    * with partial-combinable counts — no windows, no driver state; wedge
    * volume is the textbook Σ deg² bound (a production variant orients
    * by degree to tighten it to Σ min-deg; the id orientation keeps the
    * oracle replay one CTE shorter and is documented as such). */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    val nodes = t(spark, dir, "documents")
      .filter(col("doc_id") < PrCap).select(col("doc_id").as("v"))
    val e = graft.SharedFrames.shared(
      simEdges(spark, dir).filter(col("src") < col("dst")))
    val wedges = e.as("ab")
      .join(e.as("bc"), col("ab.dst") === col("bc.src"))
      .select(col("ab.src").as("a"), col("ab.dst").as("b"),
        col("bc.dst").as("c"))
    val tris = graft.SharedFrames.shared(
      wedges.join(e.as("ac"),
          col("a") === col("ac.src") && col("c") === col("ac.dst"))
        .select(col("a"), col("b"), col("c")))
    val perV = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_tri"))
    val total = tris.agg(count(lit(1)).as("total_triangles"))
    nodes.join(perV, Seq("v"), "left_outer")
      .crossJoin(broadcast(total))
      .select(col("v").as("doc_id"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        col("total_triangles"))
      .orderBy(col("doc_id"))
  }

  /** LOCAL CLUSTERING COEFFICIENT — triangles normalized by wedge
    * capacity: `lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1))`, the standard
    * "how clique-like is this node's neighborhood" statistic (near-dup
    * cluster triage: lcc ≈ 1 → a true duplicate clique, low lcc → a
    * chain of borderline matches). Reuses the [[graphTriangles]]
    * enumeration; degrees come from the symmetric edge list in one
    * partial-combinable count. Everything is exact integers until the
    * ONE reported IEEE division; deg < 2 reports 0.0 (no wedge exists). */
  def graphClustering(spark: SparkSession, dir: String): DataFrame = {
    val nodes = t(spark, dir, "documents")
      .filter(col("doc_id") < PrCap).select(col("doc_id").as("v"))
    val sym = graft.SharedFrames.shared(simEdges(spark, dir))
    val e = graft.SharedFrames.shared(sym.filter(col("src") < col("dst")))
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val tris = e.as("ab")
      .join(e.as("bc"), col("ab.dst") === col("bc.src"))
      .select(col("ab.src").as("a"), col("ab.dst").as("b"),
        col("bc.dst").as("c"))
      .join(e.as("ac"),
        col("a") === col("ac.src") && col("c") === col("ac.dst"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_tri"))
    nodes
      .join(deg.withColumnRenamed("src", "v"), Seq("v"), "left_outer")
      .join(tris, Seq("v"), "left_outer")
      .select(col("v").as("doc_id"),
        coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(coalesce(col("deg"), lit(0L)) < 2L, lit(0.0d))
          .otherwise((lit(2L) * coalesce(col("n_tri"), lit(0L)))
            .cast("double") /
            (col("deg") * (col("deg") - 1L)).cast("double")).as("lcc"))
      .orderBy(col("doc_id"))
  }

  val graphClusteringSql: String = {
    val raw =
      s"""WITH $simGraphEdgesNodesCtes,
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
         |        FROM edges GROUP BY src),
         |tris AS (
         |  SELECT ab.d1 AS a, ab.d2 AS b, bc.d2 AS c
         |  FROM pairs ab
         |  JOIN pairs bc ON bc.d1 = ab.d2
         |  JOIN pairs ac ON ac.d1 = ab.d1 AND ac.d2 = bc.d2),
         |perv AS (
         |  SELECT v, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
         |    SELECT a AS v FROM tris
         |    UNION ALL SELECT b FROM tris
         |    UNION ALL SELECT c FROM tris) u GROUP BY v)
         |SELECT n.v AS doc_id,
         |  COALESCE(d.deg, 0) AS deg,
         |  COALESCE(p.n_tri, 0) AS n_tri,
         |  CASE WHEN COALESCE(d.deg, 0) < 2 THEN 0.0
         |       ELSE CAST(2 * COALESCE(p.n_tri, 0) AS DOUBLE)
         |            / CAST(d.deg * (d.deg - 1) AS DOUBLE) END AS lcc
         |FROM nodes n
         |LEFT JOIN deg d ON d.src = n.v
         |LEFT JOIN perv p ON p.v = n.v
         |ORDER BY doc_id""".stripMargin
    OracleSql.materializeCtes(raw)
  }

  /** Peeling threshold and fixed round count for [[graphKcore]]. */
  final val KCoreK = 3
  final val KCoreIters = 8

  /** K-CORE DECOMPOSITION (membership in the [[KCoreK]]-core) — the
    * density filter community mining runs before anything expensive:
    * repeatedly peel vertices of degree < K until stable; what survives
    * is the maximal subgraph where EVERY vertex keeps ≥ K neighbors
    * inside it. Deterministic fixed-round semantics ([[KCoreIters]]
    * simultaneous-peel rounds, unrolled identically in the oracle;
    * GraphRankSpec pins that the peel has CONVERGED by then at every
    * SF, so the fixed-round answer IS the fixpoint). Each round: filter
    * live edges by survivor membership on both endpoints (two co-keyed
    * joins), one partial-combinable degree count, one filter — the CC
    * loop's shape, rounds lineage-cut via
    * [[graft.SharedFrames.materialize]] since the survivor set is
    * referenced twice per round. */
  def graphKcore(spark: SparkSession, dir: String): DataFrame = {
    val nodes = t(spark, dir, "documents")
      .filter(col("doc_id") < PrCap).select(col("doc_id").as("v"))
    val sym = graft.SharedFrames.shared(simEdges(spark, dir))
    var surv = graft.SharedFrames.materialize(
      sym.select(col("src").as("v")).distinct())._1
    (1 to KCoreIters).foreach { _ =>
      val alive = sym
        .join(surv.withColumnRenamed("v", "src"), Seq("src"))
        .join(surv.withColumnRenamed("v", "dst"), Seq("dst"))
      surv = graft.SharedFrames.materialize(
        alive.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= KCoreK).select(col("src").as("v")))._1
    }
    val coreDeg = sym
      .join(surv.withColumnRenamed("v", "src"), Seq("src"))
      .join(surv.withColumnRenamed("v", "dst"), Seq("dst"))
      .groupBy(col("src")).agg(count(lit(1)).as("core_deg"))
    nodes
      .join(coreDeg.withColumnRenamed("src", "v"), Seq("v"), "left_outer")
      .select(col("v").as("doc_id"),
        col("core_deg").isNotNull.as("in_core"),
        coalesce(col("core_deg"), lit(0L)).as("core_deg"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: the graph CTEs + [[KCoreIters]] unrolled peel rounds. */
  val graphKcoreSql: String = {
    val rounds = (1 to KCoreIters).map { k =>
      s"""s$k AS (
         |  SELECT e.src AS v FROM edges e
         |  JOIN s${k - 1} a ON a.v = e.src
         |  JOIN s${k - 1} b ON b.v = e.dst
         |  GROUP BY e.src HAVING COUNT(*) >= $KCoreK)""".stripMargin
    }.mkString(",\n")
    val raw =
      s"""WITH $simGraphEdgesNodesCtes,
         |s0 AS (SELECT DISTINCT src AS v FROM edges),
         |$rounds,
         |coredeg AS (
         |  SELECT e.src, CAST(COUNT(*) AS BIGINT) AS core_deg
         |  FROM edges e
         |  JOIN s$KCoreIters a ON a.v = e.src
         |  JOIN s$KCoreIters b ON b.v = e.dst
         |  GROUP BY e.src)
         |SELECT n.v AS doc_id,
         |  (c.core_deg IS NOT NULL) AS in_core,
         |  COALESCE(c.core_deg, 0) AS core_deg
         |FROM nodes n LEFT JOIN coredeg c ON c.src = n.v
         |ORDER BY doc_id""".stripMargin
    OracleSql.materializeCtes(raw)
  }

  /** Oracle: the same graph CTEs; `pairs` is already the canonical a<b
    * edge list, so the triangle enumeration is two joins verbatim. */
  val graphTrianglesSql: String = {
    val raw =
      s"""WITH $simGraphCtes,
         |nodes AS (SELECT doc_id AS v FROM documents WHERE doc_id < $PrCap),
         |tris AS (
         |  SELECT ab.d1 AS a, ab.d2 AS b, bc.d2 AS c
         |  FROM pairs ab
         |  JOIN pairs bc ON bc.d1 = ab.d2
         |  JOIN pairs ac ON ac.d1 = ab.d1 AND ac.d2 = bc.d2),
         |perv AS (
         |  SELECT v, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
         |    SELECT a AS v FROM tris
         |    UNION ALL SELECT b FROM tris
         |    UNION ALL SELECT c FROM tris) u GROUP BY v),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_triangles FROM tris)
         |SELECT n.v AS doc_id, COALESCE(p.n_tri, 0) AS n_tri,
         |  (SELECT total_triangles FROM tot) AS total_triangles
         |FROM nodes n LEFT JOIN perv p ON p.v = n.v
         |ORDER BY doc_id""".stripMargin
    OracleSql.materializeCtes(raw)
  }

  /** Synchronous-round count and vote-packing base for [[graphLabelprop]]. */
  final val LpIters = 4
  final val LpEncBase = 1L << 32

  /** LABEL-PROPAGATION COMMUNITY DETECTION (Raghavan et al. 2007, the
    * synchronous deterministic variant) over the τ-similarity graph — the
    * community-structure member of the graph family (reachability = CC in
    * [[Dedup]], ranking = [[pagerankSim]], traversal = [[graphBfs]],
    * density = [[graphKcore]]): each node adopts the label its neighbors
    * hold most often, so near-dup neighborhoods collapse to shared labels
    * WITHOUT requiring full transitive connectivity the way CC does.
    *
    * Determinism (classic LPA is run-order-dependent; this variant is
    * not): all nodes update SIMULTANEOUSLY each round from the previous
    * round's labels, and the vote is decided by (max count, then MIN
    * label). The election is the house min-struct discipline packed into
    * ONE BIGINT — `([[PrCap]] − cnt)·2^32 + label` (cnt ≤ deg < PrCap,
    * label < PrCap < 2^32, so the packing is lexicographic by
    * construction) — making each round: one equi-join of edges against
    * labels on src, one partial-combinable (dst, label) count, one
    * partial-combinable `min` per dst. No windows, no skewed-key stage:
    * a label shared by millions of neighbors at 100× folds map-side into
    * per-partition partials before the exchange. Label lineage is LINEAR
    * (labels referenced once per round — isolated nodes re-derive their
    * own id rather than carrying the previous frame), so no per-round
    * materialization is needed, the [[rankRounds]] shape. [[LpIters]]
    * synchronous rounds, unrolled identically in the oracle. */
  def graphLabelprop(spark: SparkSession, dir: String): DataFrame = {
    val nodes = t(spark, dir, "documents")
      .filter(col("doc_id") < PrCap).select(col("doc_id").as("v"))
    val edges = graft.SharedFrames.shared(simEdges(spark, dir))
    var labels = nodes.select(col("v"), col("v").as("lab"))
    (1 to LpIters).foreach { _ =>
      val votes = edges
        .join(labels.withColumnRenamed("v", "src"), Seq("src"))
        .groupBy(col("dst"), col("lab")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(min((lit(PrCap) - col("cnt")) * LpEncBase + col("lab"))
          .as("enc"))
        .select(col("dst").as("v"), (col("enc") % LpEncBase).as("elab"))
      labels = nodes.join(votes, Seq("v"), "left_outer")
        .select(col("v"), coalesce(col("elab"), col("v")).as("lab"))
    }
    val fin = graft.SharedFrames.shared(labels)
    val sizes = fin.groupBy(col("lab")).agg(count(lit(1)).as("csize"))
    fin.join(sizes, Seq("lab"))
      .select(col("v").as("doc_id"), col("lab").as("community"),
        col("csize"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: the graph CTEs + [[LpIters]] unrolled synchronous vote
    * rounds with the identical BIGINT (count, label) packing. */
  val graphLabelpropSql: String = {
    val rounds = (1 to LpIters).map { i =>
      s"""l$i AS (
         |  SELECT n.v, COALESCE(e.lab, n.v) AS lab
         |  FROM nodes n LEFT JOIN (
         |    SELECT dst,
         |      CAST(MIN(($PrCap - cnt) * $LpEncBase + lab) % $LpEncBase
         |           AS BIGINT) AS lab
         |    FROM (SELECT e.dst, l.lab, CAST(COUNT(*) AS BIGINT) AS cnt
         |          FROM edges e JOIN l${i - 1} l ON l.v = e.src
         |          GROUP BY e.dst, l.lab) c
         |    GROUP BY dst) e ON e.dst = n.v)""".stripMargin
    }.mkString(",\n")
    val raw =
      s"""WITH $simGraphEdgesNodesCtes,
         |l0 AS (SELECT v, v AS lab FROM nodes),
         |$rounds,
         |sz AS (SELECT lab, CAST(COUNT(*) AS BIGINT) AS csize
         |       FROM l$LpIters GROUP BY lab)
         |SELECT l.v AS doc_id, l.lab AS community, s.csize
         |FROM l$LpIters l JOIN sz s ON s.lab = l.lab
         |ORDER BY doc_id""".stripMargin
    OracleSql.materializeCtes(raw)
  }

  /** Oracle: the τ-graph from the exploded-gram Jaccard formulation (the
    * [[Dedup.dedupNgramJaccardSql]] equivalence, already gate-proven
    * against the packed θ-join) and all [[PrIters]] rounds unrolled with
    * the identical integer arithmetic. CTEs MATERIALIZED — the edge list
    * feeds every round, and DuckDB's default inlining would re-mine the
    * gram join per round. */
  val pagerankSimSql: String = OracleSql.materializeCtes(
    s"""WITH $simGraphEdgesNodesCtes,
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
       |r0 AS (SELECT v, (SELECT $PrScale // n FROM nn) AS pr FROM nodes),
       |${rankRoundsSql(PrScale, PrIters)}
       |SELECT r.v AS doc_id, r.pr, COALESCE(d.deg, 0) AS deg
       |FROM r$PrIters r LEFT JOIN deg d ON d.src = r.v
       |ORDER BY doc_id""".stripMargin)
}

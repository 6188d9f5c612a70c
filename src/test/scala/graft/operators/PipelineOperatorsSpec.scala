package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.RollingHash

/** Verifies the operators whose internals (seeded-hash LSH) have no DuckDB
  * oracle: approximate results are checked against their exact in-repo
  * baselines (recall / superset properties), on sf0.001. */
class PipelineOperatorsSpec extends AnyFunSuite with SparkSpec {
  val dir = "/root/testdata/sf0.001"

  test("rolling_hash expression: codegen result matches the Scala fold") {
    import spark.implicits._
    val texts = Seq("key agg row", "", "héllo wörld", "漢字テキスト", "a")
    val got = texts.toDF("text")
      .select(RollingHash.rolling_hash(col("text"))).as[Long].collect()
    assert(got.toSeq == texts.map(RollingHash.eval))
    // interpreted (non-codegen) path agrees too
    val interp = RollingHash(
      org.apache.spark.sql.catalyst.expressions.Literal("key agg row")).eval(null)
    assert(interp == RollingHash.eval("key agg row"))
  }

  test("nfc_normalize: composed and decomposed accents fingerprint identically") {
    import spark.implicits._
    import graft.functions.NfcNormalize.nfc_normalize
    val composed = "caf\u00e9"         // e-acute as one code point
    val decomposed = "cafe\u0301"    // e + combining acute
    val got = Seq(composed, decomposed).toDF("text")
      .select(nfc_normalize(col("text"))).as[String].collect()
    assert(got(0) == got(1) && got(0) == composed)
    // ASCII fast path returns the input untouched
    assert(graft.functions.NfcNormalize.eval(
      org.apache.spark.unsafe.types.UTF8String.fromString("plain")).toString
      == "plain")
  }

  test("minhash_sig: short strings get content-derived signatures, not a shared sentinel") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    def sig(s: String): Seq[Long] = {
      val a = graft.functions.MinHashSig.eval(s, 8)
      (0 until a.numElements()).map(a.getLong)
    }
    assert(sig("ab") != sig("xy"))
    assert(sig("") != sig("a"))
    assert(sig("ab") == sig("ab"))
    assert(!sig("ab").contains(Long.MaxValue))
  }

  test("simhash64: sketch properties — identity, locality, short-string distinctness") {
    import graft.functions.SimHash64.eval
    assert(eval("the quick brown fox") == eval("the quick brown fox"))
    // one edited char flips few bits relative to 64
    val h = java.lang.Long.bitCount(
      eval("the quick brown fox jumps over the lazy dog") ^
      eval("the quick brown cat jumps over the lazy dog"))
    assert(h <= 16, s"near-identical docs got hamming $h")
    // unrelated docs are far apart
    val far = java.lang.Long.bitCount(
      eval("alpha beta gamma delta epsilon zeta eta theta") ^
      eval("one two three four five six seven eight nine ten"))
    assert(far > 16, s"unrelated docs got hamming $far")
    // degenerate (<3 chars) docs hash their whole content, not a sentinel
    assert(eval("ab") != eval("xy"))
    assert(eval("") != eval("a"))
  }

  test("minhash-LSH candidates cover all high-Jaccard pairs (recall vs exact)") {
    // exact trigram-jaccard pairs at >= 0.7 among first 200 docs
    val exact = Dedup.dedupNgramJaccard(spark, dir)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    val lsh = Dedup.dedupMinhashLsh(spark, dir)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(lsh),
      s"LSH missed true near-dups: ${exact.diff(lsh)}")
  }

  test("incremental LSH candidates == full rebuild's candidates restricted to delta pairs") {
    // sf0.01: the delta (doc_id >= IncrementalCut) is non-empty there
    // (sf0.001 has 50 docs, all corpus)
    val d01 = "/root/testdata/sf0.01"
    // compare RAW candidate sets (pre-est-filter): rebuild restricted to
    // pairs with a delta member (d1 < d2 makes that exactly d2 >= cut)
    val rebuilt = Dedup.lshCandidates(spark, d01)
      .filter(col("d2") >= Dedup.IncrementalCut)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = Dedup.lshCandidatesIncremental(spark, d01)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == rebuilt,
      s"incremental != rebuild|delta: only-inc=${inc.diff(rebuilt).take(5)} " +
        s"only-rebuild=${rebuilt.diff(inc).take(5)}")
    assert(inc.nonEmpty, "vacuous: no delta candidates at sf0.01")
    // and the cadence really skips corpus-internal pairs: nothing below the cut
    assert(inc.forall(_._2 >= Dedup.IncrementalCut))
  }

  test("crossmodal_pairs: self pairs always match, filter is non-vacuous, candidates bounded at 2 per image") {
    val rows = Multimodal.crossModalPairs(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(9)))
    assert(rows.nonEmpty)
    // an image's own document is its true caption: cosine(e,e)=1 ≥ τ
    rows.filter { case (i, c, _) => i == c }.foreach { case (i, _, m) =>
      assert(m, s"self pair of $i rejected by the mismatch filter")
    }
    // the filter must actually reject something (neighbor mismatches)
    assert(rows.exists(!_._3), "mismatch filter vacuous: every candidate matched")
    // candidate generation stays constant-bounded per image
    rows.groupBy(_._1).foreach { case (i, g) =>
      assert(g.length <= 2, s"image $i has ${g.length} candidates")
    }
  }

  test("minhash estimate correlates: est_jaccard high for exact dups") {
    val est = Dedup.dedupMinhashLsh(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = Dedup.dedupNgramJaccard(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    exact.foreach { case (pair, j) =>
      assert(est(pair) >= j - 0.35, s"estimate too low for $pair (true $j)")
    }
  }

  test("simhash: 2-of-8 banding catches EVERY hamming<=6 pair; jaccard recall floor holds") {
    val exact = Dedup.dedupNgramJaccard(spark, dir)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.dedupSimhash(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    sim.foreach { case (_, h) => assert(h <= Dedup.SimhashHamming) }
    val simPairs = sim.map(_._1).toSet

    // banding completeness (the pigeonhole guarantee, checked empirically):
    // brute-force every hamming<=6 pair on the bounded slice and require
    // dedupSimhash surfaced ALL of them
    val sk = Dedup.simhashSketch(spark, dir).filter(col("doc_id") < 200)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (d1, s1) <- sk; (d2, s2) <- sk if d1 < d2
      if java.lang.Long.bitCount(s1 ^ s2) <= Dedup.SimhashHamming
    } yield (d1, d2)).toSet
    val full = Dedup.dedupSimhash(spark, dir)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.subsetOf(full),
      s"banding missed hamming<=${Dedup.SimhashHamming} pairs: ${brute.diff(full)}")

    // jaccard recall floor (sketch resolution, measured per SF with the
    // trigram-feature sketch: 11/12 sf0.001, 3/3 sf0.01, 0/1 sf0.1 — the
    // sf0.1 miss is a j=0.703 pair at hamming 14; see dedupSimhashVerified)
    val recall = exact.count(simPairs.contains).toDouble / exact.size
    assert(recall >= 0.8, s"simhash recall $recall; missed ${exact.diff(simPairs)}")
  }

  test("simhash recall floor holds at EVERY SF (the documented per-SF figures)") {
    // the scaladoc on dedupSimhashVerified claims concrete per-SF recall of
    // true j>=0.7 pairs; this pins those figures so sketch drift or a
    // banding regression fails a test instead of silently invalidating the
    // documentation. The sf0.1 miss is asserted AS a miss with its measured
    // hamming — the honest statement, not a hidden failure.
    def recallAt(sfDir: String): (Int, Int, Seq[Int]) = {
      val truePairs = Dedup.dedupNgramJaccard(spark, sfDir)
        .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
      val caught = Dedup.dedupSimhash(spark, sfDir)
        .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sk = Dedup.simhashSketch(spark, sfDir).filter(col("doc_id") < 200)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val hams = truePairs.toSeq.map { case (d1, d2) =>
        java.lang.Long.bitCount(sk(d1) ^ sk(d2)) }
      (truePairs.count(caught.contains), truePairs.length, hams)
    }
    val (c1, t1, _) = recallAt("/root/testdata/sf0.001")
    assert(c1 >= 11 && t1 == 12, s"sf0.001 recall $c1/$t1 (documented 11/12)")
    val (c2, t2, _) = recallAt("/root/testdata/sf0.01")
    assert(c2 == 3 && t2 == 3, s"sf0.01 recall $c2/$t2 (documented 3/3)")
    val (c3, t3, h3) = recallAt("/root/testdata/sf0.1")
    assert(t3 == 1, s"sf0.1 true-pair count $t3 (documented 1)")
    assert(c3 == 0 && h3.head > Dedup.SimhashHamming,
      s"sf0.1: documented miss (j=0.703 at hamming ${h3.head} > " +
        s"${Dedup.SimhashHamming}) no longer holds — re-measure and re-document")
  }

  test("dedup_clusters: components are transitively closed with min-id labels") {
    val pairs = Dedup.dedupNgramJaccard(spark, dir)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Dedup.dedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every edge endpoint is labeled and both endpoints share a label
    pairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"edge ($a,$b) spans clusters")
    }
    // the label IS the component min (reference union-find on the driver)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    clusters.foreach { case (doc, label) =>
      assert(label == find(doc),
        s"doc $doc labeled $label, union-find says ${find(doc)}")
    }
    // only docs that appear in some pair are clustered (no singleton noise)
    assert(clusters.keySet == pairs.flatMap(p => Seq(p._1, p._2)).toSet)
  }

  test("dedup_incremental ≡ full keeper election restricted to the delta; non-vacuous") {
    import org.apache.spark.sql.functions.{col, md5, substring}
    // the full-rebuild truth: a delta doc survives iff it is the GLOBAL
    // min of its signature group (delta ids all exceed corpus ids, so
    // global-min ∈ delta ⇔ no corpus member ∧ delta-internal min)
    val fullKeepers = graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id"),
        md5(substring(col("text"), 1, Dedup.PrefixSigLen).cast("binary"))
          .as("fp"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2).map { case (_, g) => g.map(_._1).min }
      .filter(_ >= Dedup.IncrementalCut).toSet
    val got = Dedup.dedupIncremental(spark, dir).collect()
      .map(_.getLong(0)).toSet
    assert(got == fullKeepers,
      "incremental survivors diverge from the full rebuild")
    val deltaSize = graft.Tables.t(spark, dir, "documents")
      .filter(col("doc_id") >= Dedup.IncrementalCut).count()
    assert(got.size < deltaSize,
      "incremental dedup dropped nothing — vacuous signature")
  }

  test("star contraction: log rounds; hybrid ≡ pure ≡ union-find") {
    import spark.implicits._
    // (the corpus pair graph is pinned against a driver union-find by
    // "dedup_clusters: components are transitively closed")
    // 1. adversarial chain 0-1-2-…-255: plain propagation needs ~diameter
    //    (255) rounds; the alternating contraction must stay logarithmic.
    //    Kiveris et al. bound the alternation by O(log n) star rounds —
    //    pin 3·log₂(256) + 2 = 26 as a generous ceiling (measured: ≤ 8).
    //    driverFinishAt = 0 forces the PURE distributed path: the round
    //    bound must hold without the small-remnant union-find shortcut.
    val chain = (0L until 255L).map(i => (i, i + 1)).toDF("src", "dst")
    val (labels, rounds) =
      Dedup.connectedComponentsWithRounds(chain, driverFinishAt = 0)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 256 && got.forall(_._2 == 0L),
      s"chain not fully contracted to root 0: ${got.filter(_._2 != 0L).take(5).toSeq}")
    assert(rounds > 0 && rounds <= 26,
      s"contraction took $rounds rounds on a 256-chain")
    // 1b. the hybrid (driver union-find once the remnant fits) computes
    //     EXACTLY the pure-distributed labels — on the chain, where the
    //     default cutoff collects immediately, and mid-contraction at a
    //     cutoff that forces one distributed round first
    for (cutoff <- Seq(Dedup.CcDriverFinish, 100L)) {
      val hybrid = Dedup.connectedComponentsWithRounds(chain, cutoff)._1
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(hybrid == got.toMap,
        s"hybrid (cutoff $cutoff) diverges from pure-distributed labels")
    }
    // 2. random-graph property: labels match a driver union-find
    val rnd = new scala.util.Random(42)
    val redges = (0 until 300).map(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(e => e._1 != e._2)
    val rdf = redges.toDF("src", "dst")
    val rgot = Dedup.connectedComponents(rdf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    redges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val touched = redges.flatMap(e => Seq(e._1, e._2)).toSet
    assert(rgot.keySet == touched)
    rgot.foreach { case (n, l) =>
      assert(l == find(n), s"node $n labeled $l, union-find says ${find(n)}")
    }
  }

  test("packDocs: NESTED offset reduction exact at multi-level depth, window-free at the top") {
    import spark.implicits._
    // doc_ids scattered to ~2.6M force maxBucket ≈ 26 000 ≥ PackBucket:
    // the offset reduction must recurse twice (26 000 → 260 → 2) before
    // the bounded θ-join — the sf0.01/0.1 corpora never leave level 0, so
    // this is the only coverage of the recursion actually nesting
    val ids = (0 until 4000).map(i => i.toLong * 653L + (i % 7))
    val docs = ids.map(id => (id, "w " * ((id % 37) + 1).toInt + "w"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.packDocs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // reference: the straight sequential cumsum on the driver
    var cum = 0L
    val expected = ids.sorted.map { id =>
      val n = (id % 37) + 2 // tokens = split-on-space count
      cum += n
      (id, n, (cum - n) / TextAnalysis.PackBudget)
    }
    assert(got.toSeq == expected,
      s"nested packing diverged from sequential cumsum: ${got.take(5).toSeq} vs ${expected.take(5)}")
    // and even at this depth no partition-less window appears in the plan
    val p = TextAnalysis.packDocs(docs).queryExecution.executedPlan.toString
    val globalWindow = """windowspecdefinition\(\w+#\d+L? (ASC|DESC)""".r
    assert(globalWindow.findFirstIn(p).isEmpty,
      s"partition-less window at depth ≥ 2:\n$p")
  }

  test("decontaminate + pipeline_e2e: non-vacuous and stage-consistent") {
    val flagged = Dedup.decontaminate(spark, dir).collect()
      .map(_.getLong(0)).toSet
    val corpus = graft.Tables.t(spark, dir, "documents").count()
    // both directions must be meaningful: some docs flagged, some clean
    // (gram=13 flagged ~98% of this template-heavy corpus — vacuous)
    assert(flagged.nonEmpty && flagged.size < corpus - Dedup.ContamEvalCap,
      s"contamination flags ${flagged.size} of $corpus — vacuous bound")
    val cleaned = TextAnalysis.corpusClean(spark, dir).collect()
      .map(_.getLong(0)).toSet
    val packed = Pipeline.pipelineE2e(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(packed.nonEmpty, "pipeline produced no training shards")
    val survivorIds = packed.map(_._1).toSet
    // stage consistency: survivors passed cleaning, near-dup keeper
    // election, and escaped flagging
    assert(survivorIds.subsetOf(cleaned), "packed doc not in cleaned set")
    assert(survivorIds.intersect(flagged).isEmpty, "packed doc is flagged")
    val nonKeepers = Dedup.dedupClusters(spark, dir).collect()
      .collect { case r if r.getLong(0) != r.getLong(1) => r.getLong(0) }.toSet
    assert(survivorIds.intersect(nonKeepers).isEmpty,
      "packed doc is a non-keeper near-duplicate")
    // shards are contiguous from 0 in doc_id order
    val shards = packed.sortBy(_._1).map(_._2)
    assert(shards.head == 0L && shards.toSeq == shards.sorted.toSeq,
      s"shard assignment not monotone from 0: ${shards.toSeq.take(10)}")
  }

  test("pipeline near-dup stage VISIBLY changes survivors at sf0.01") {
    // at sf0.01 doc 185 is a j>=0.7 near-dup (cluster min 178) that passes
    // cleaning and decontamination — without the keeper-election stage it
    // would be packed into the training shards
    val sf01 = "/root/testdata/sf0.01"
    val survivorIds = Pipeline.pipelineE2e(spark, sf01).collect()
      .map(_.getLong(0)).toSet
    val nonKeepers = Dedup.dedupClusters(spark, sf01).collect()
      .collect { case r if r.getLong(0) != r.getLong(1) => r.getLong(0) }.toSet
    val flagged = Dedup.decontaminate(spark, sf01).collect()
      .map(_.getLong(0)).toSet
    val cleaned = TextAnalysis.corpusClean(spark, sf01).collect()
      .map(_.getLong(0)).toSet
    val wouldSurvive = nonKeepers
      .filter(d => d >= Dedup.ContamEvalCap && cleaned(d) && !flagged(d))
    assert(wouldSurvive.nonEmpty,
      "near-dup stage dropped nothing the other stages would have kept — vacuous")
    assert(wouldSurvive.forall(!survivorIds(_)),
      s"non-keepers ${wouldSurvive.filter(survivorIds)} survived the pipeline")
  }

  test("embed_quantize: dequantization error strictly under one step; checksum reconciles") {
    import org.apache.spark.sql.functions.{col => c}
    val rows = Similarity.embedQuantize(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, mn, mx, _, err) =>
      val step = (mx - mn) / 255
      assert(err >= 0 && err < step,
        s"vec $id: max dequant error $err not under one step $step")
    }
    // driver reconciliation of the integer checksum for the first vectors
    val evs = graft.Tables.t(spark, dir, "embeddings")
      .filter(c("vec_id") < 5)
      .select(c("vec_id"), c("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    rows.filter(_._1 < 5).foreach { case (id, mn, mx, sum, _) =>
      val want = evs(id).map(x => math.floor((x - mn) / (mx - mn) * 255).toLong).sum
      assert(sum == want, s"vec $id checksum $sum != driver $want")
    }
  }

  test("embed_quantize: constant vector (mx = mn) quantizes to zero codes, zero error — no NaN") {
    // the corpus has no constant embeddings, so the 0/0 range edge is
    // pinned on synthetic input: codes must be 0 (not null from
    // floor(NaN)), the checksum 0, and max_err exactly 0
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => c}
    val in = Seq(
      (1L, Array(0.5, 0.5, 0.5)),  // constant
      (2L, Array(1.0)),            // single element (mn == mx trivially)
      (3L, Array(0.0, 1.0))        // sanity: normal vector unaffected
    ).toDF("vec_id", "ev")
    val out = Similarity.embedQuantizeCore(in)
      .select(c("vec_id"), c("code_sum"), c("max_err")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L) == ((0L, 0.0)), s"constant vector: ${out(1L)}")
    assert(out(2L) == ((0L, 0.0)), s"single element: ${out(2L)}")
    assert(out(3L) == ((255L, 0.0)), s"normal vector: ${out(3L)}")
  }

  test("ann_lsh: exact re-rank inside buckets, biased toward high cosine") {
    // NOTE: the synthetic embeddings are near-random unit vectors (best
    // cosine ≈ 0.33), so no LSH can promise top-10 recall here; the
    // operator's contract is (a) candidates are re-ranked by EXACT cosine,
    // (b) ordered descending, (c) the candidate set is cosine-biased
    // relative to the corpus.
    val lsh = Similarity.annLsh(spark, dir).collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    assert(lsh.nonEmpty && lsh.length <= 10)
    assert(lsh.map(_._2).toSeq == lsh.map(_._2).sorted.reverse.toSeq)
    // exact cosines for the LSH-returned ids must match a brute recompute
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.t(spark, dir, "embeddings")
    val ids = lsh.map(_._1).toSet
    val qv = emb.filter(col("vec_id") === 0)
      .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .collect()(0).getSeq[Double](0).toArray
    val check = emb.filter(col("vec_id").isin(ids.toSeq: _*))
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .collect().map { r =>
        val v = r.getSeq[Double](1).toArray
        val d = v.zip(qv).map { case (a, b) => a * b }.sum
        val cos = d / (math.sqrt(v.map(x => x * x).sum) *
          math.sqrt(qv.map(x => x * x).sum))
        r.getLong(0) -> cos
      }.toMap
    lsh.foreach { case (id, c) =>
      assert(math.abs(check(id) - c) < 1e-9, s"cosine mismatch for $id")
    }
    // bias: mean cosine of the LSH picks is well above the ~0 corpus mean
    val mean = lsh.map(_._2).sum / lsh.length
    assert(mean > 0.03, s"LSH set shows no cosine bias (mean=$mean)")
  }

  test("ann_ivf: probes a strict subset of clusters, exact re-rank, overlaps brute force") {
    val ivf = Similarity.annIvf(spark, dir).collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    assert(ivf.length == 10)
    assert(ivf.map(_._2).toSeq == ivf.map(_._2).sorted.reverse.toSeq)
    // nprobe=4 of 16 clusters scans ~25% of the corpus, and the query's own
    // cluster (where near vectors concentrate) is always probed — the true
    // nearest neighbour set must overlap
    val brute = Similarity.annBruteForce(spark, dir).collect()
      .map(_.getLong(1)).toSet
    assert(brute.intersect(ivf.map(_._1).toSet).nonEmpty,
      s"no overlap: brute=$brute ivf=${ivf.map(_._1).toSeq}")
  }

  test("embedding_neardup: exact primitive non-empty; LSH pairs verify and recall pinned") {
    val exact = Similarity.embeddingNearDupExact(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(exact.nonEmpty, "bounded exact near-dup must find the corpus tail")
    exact.values.foreach(c => assert(c >= Similarity.NearDupTau))
    val lsh = Similarity.embeddingNearDup(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(lsh.nonEmpty, "LSH near-dup path must be non-vacuous on this corpus")
    // every LSH-reported pair is truly >= tau (exact verification step ran)
    lsh.foreach { case (_, c) => assert(c >= Similarity.NearDupTau) }
    // within the exact primitive's id range, LSH reports a SUBSET (candidate
    // generation can miss; the verify step can never admit a false pair)
    val lshCapped = lsh.map(_._1)
      .filter(p => p._1 < Similarity.NearDupIdCap && p._2 < Similarity.NearDupIdCap)
    lshCapped.foreach(p => assert(exact.contains(p), s"false pair $p"))
    // deterministic seeded planes → recall is a fixed number; pin a floor
    // (8 tables × 4 planes at cosine 0.4 ⇒ expected bucket-recall ~0.75)
    val recall = lshCapped.size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall degraded: $recall")
  }

  test("approx_stats: sketch results within declared error of exact operators") {
    import org.apache.spark.sql.functions._
    val approx = TextAnalysis.approxStats(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val exact = graft.Tables.t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("orders"),
        countDistinct(col("l_partkey")).as("parts"),
        expr("percentile(l_extendedprice, 0.5)").as("median"))
      .collect()
    exact.foreach { r =>
      val a = approx(r.getString(0))
      val (ao, ap) = (a.getLong(1), a.getLong(2))
      assert(math.abs(ao - r.getLong(1)).toDouble / r.getLong(1) < 0.1,
        s"approx orders off: $ao vs ${r.getLong(1)}")
      assert(math.abs(ap - r.getLong(2)).toDouble / r.getLong(2) < 0.1)
      // percentile_approx with 1000 buckets on ~2k rows per group: close
      assert(math.abs(a.getDouble(3) - r.getDouble(3)) / r.getDouble(3) < 0.05,
        s"approx median off: ${a.getDouble(3)} vs ${r.getDouble(3)}")
    }
  }

  test("media codec: decodes a hand-built BMP byte fixture (not our encoder's output)") {
    // 2x1 24bpp BMP assembled by hand from the format spec: pixels gray
    // values 10 and 250 → mean (10+250)/2/255. Proves the parser reads the
    // REAL format, not a private convention shared with the encoder.
    val fixture: Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(54 + 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte).putInt(62).putInt(0).putInt(54)
      b.putInt(40).putInt(2).putInt(1).putShort(1).putShort(24)
      b.putInt(0).putInt(8).putInt(2835).putInt(2835).putInt(0).putInt(0)
      b.put(10.toByte).put(10.toByte).put(10.toByte)     // pixel (0,0) BGR
      b.put(250.toByte).put(250.toByte).put(250.toByte)  // pixel (1,0)
      b.put(0.toByte).put(0.toByte)                      // row pad to 8
      b.array()
    }
    val (w, h, c, mean) = MediaCodec.decode(fixture)
    assert((w, h, c) == (2, 1, 3))
    assert(math.abs(mean - 130.0 / 255.0) < 1e-12)
  }

  test("media codec: truncated/corrupt BMP fails with a diagnosable message, not AIOOBE") {
    val good = MediaCodec.encodeBmp(8, 8, (x, y) => (x * y) % 256)
    // truncated mid-pixel-array
    val truncated = good.take(good.length - 10)
    val e1 = intercept[IllegalArgumentException](MediaCodec.decode(truncated))
    assert(e1.getMessage.contains("corrupt BMP"))
    // header lies: dataOffset beyond the payload
    val lying = good.clone()
    java.nio.ByteBuffer.wrap(lying).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(10, good.length + 100)
    val e2 = intercept[IllegalArgumentException](MediaCodec.decode(lying))
    assert(e2.getMessage.contains("corrupt BMP"))
  }

  test("media codec: BMP and WAV round-trip through real encode/decode") {
    val img = MediaCodec.encodeBmp(97, 65, (x, y) => (x + y) % 256)
    val (w, h, c, mean) = MediaCodec.decode(img)
    assert((w, h, c) == (97, 65, 3))
    val exact = (for (y <- 0 until 65; x <- 0 until 97) yield (x + y) % 256)
    assert(math.abs(mean - exact.sum.toDouble / exact.size / 255.0) < 1e-12)
    // odd width exercises row padding; header-declared offset is honored
    val (w2, h2, _, _) = MediaCodec.decode(MediaCodec.encodeBmp(3, 2, (_, _) => 7))
    assert((w2, h2) == (3, 2))
    val wav = MediaCodec.encodeWav(Array[Short](100, -200, 300, -400), 16000, 2)
    val (frames, one, ch, amp) = MediaCodec.decode(wav)
    assert((frames, one, ch) == (2, 1, 2))
    assert(math.abs(amp - (100 + 200 + 300 + 400) / 4.0 / 32768.0) < 1e-12)
  }

  test("multimodal: real decode through the partition transform, per-type aggregates") {
    val feats = Multimodal.extractFeatures(Multimodal.assets(spark, dir))
    val rows = feats.collect()
    assert(rows.length == 500)
    rows.foreach { f =>
      if (f.media_type == "image/bmp") {
        assert(f.width >= 64 && f.width < 128 && f.height >= 64 && f.height < 128)
        assert(f.channels == 3)
        // n_bytes is exactly the BMP file size the dims dictate
        val rowSize = (f.width * 3 + 3) / 4 * 4
        assert(f.n_bytes == 54L + rowSize.toLong * f.height)
      } else {
        assert(f.media_type == "audio/wav")
        assert(f.width >= 2048 && f.width < 4096) // frames
        assert(f.height == 1 && f.channels == 1)
        assert(f.n_bytes == 44L + f.width * 2L)
      }
      assert(f.feat_mean >= 0)
    }
    // deterministic: same payload -> same features
    val again = Multimodal.extractFeatures(Multimodal.assets(spark, dir))
      .collect()
    assert(rows.sortBy(_.doc_id).toSeq == again.sortBy(_.doc_id).toSeq)
    val agg = Multimodal.multimodalFeatures(spark, dir).collect()
    assert(agg.map(_.getLong(1)).sum == 500)
    assert(agg.map(_.getString(0)).toSet == Set("image/bmp", "audio/wav"))
  }

  test("multimodal resize + frame-sample: exact driver replay from the text bytes") {
    val texts = graft.Tables.t(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def bytesOf(id: Long): Array[Byte] = {
      val t = texts(id)
      val b = if (t == null) Array.emptyByteArray else t.getBytes("UTF-8")
      if (b.isEmpty) Array[Byte](0) else b
    }

    val resized = Multimodal.resizeImages(spark, dir).collect()
    assert(resized.length == texts.keys.count(_ % 2 == 0))
    resized.foreach { r =>
      val id = r.getLong(0)
      val b = bytesOf(id)
      val w = 64 + (id % 64).toInt
      val h = 64 + ((id / 2) % 64).toInt
      assert(r.getLong(1) == w && r.getLong(2) == h)
      assert(r.getLong(3) == 246L) // 54 + rowSize(8)*8, format geometry
      val expect = (for (y <- 0 until 8; x <- 0 until 8) yield {
        val idx = (x * w / 8) + (y * h / 8) * w
        java.lang.Byte.toUnsignedInt(b(idx % b.length)).toLong
      }).sum
      assert(r.getLong(4) == expect, s"gray_sum doc=$id")
    }

    val frames = Multimodal.audioFrames(spark, dir).collect()
    val byDoc = frames.groupBy(_.getLong(0))
    texts.keys.filter(_ % 2 == 1).foreach { id =>
      val n = 2048 + (id % 2048).toInt
      val want = (0 until n / Multimodal.FrameLen by Multimodal.FrameStride)
      assert(byDoc(id).map(_.getLong(1)).sorted.toSeq == want.map(_.toLong),
        s"strided frame set doc=$id")
    }
    frames.foreach { r =>
      val id = r.getLong(0)
      val f = r.getLong(1).toInt
      val b = bytesOf(id)
      var energy = 0L
      var peak = 0L
      (0 until Multimodal.FrameLen).foreach { i =>
        val s = (java.lang.Byte.toUnsignedInt(
          b((f * Multimodal.FrameLen + i) % b.length)) - 128).toLong * 256
        energy += s * s
        peak = math.max(peak, math.abs(s))
      }
      assert(r.getLong(2) == energy && r.getLong(3) == peak,
        s"frame stats doc=$id frame=$f")
    }

    // video: sampled keyframes only, gray sums exact per the synthesis
    val vid = Multimodal.videoFrames(spark, dir).collect()
    val vByDoc = vid.groupBy(_.getLong(0))
    texts.keys.filter(_ % Multimodal.VideoEvery == 0).foreach { id =>
      val nf = 2 + ((id / Multimodal.VideoEvery) % 4).toInt
      val want = (0 until nf by Multimodal.FrameStride).map(_.toLong)
      assert(vByDoc(id).map(_.getLong(1)).sorted.toSeq == want,
        s"sampled video frame set doc=$id")
    }
    vid.foreach { r =>
      val id = r.getLong(0)
      val f = r.getLong(1).toInt
      val b = bytesOf(id)
      val w = 16 + (id % 16).toInt
      val h = 16 + ((id / 2) % 16).toInt
      assert(r.getLong(2) == w && r.getLong(3) == h, s"video dims doc=$id")
      val expect = (for (y <- 0 until h; x <- 0 until w) yield
        java.lang.Byte.toUnsignedInt(b(
          (x + y * w + f * Multimodal.VideoFrameShift) % b.length)).toLong).sum
      assert(r.getLong(4) == expect, s"video gray_sum doc=$id frame=$f")
    }
  }

  test("dup_spans: exact driver replay (tokenize, gram, >=2-doc filter, island merge); non-vacuous") {
    val n = Dedup.DupSpanGram
    val docs = graft.Tables.t(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse(""))
    // driver-side reference of the identical algorithm
    val toks = docs.map { case (id, t) =>
      id -> t.split(" ", -1).filter(_.nonEmpty)
    }.toMap
    val gramDocs = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
    toks.foreach { case (id, ts) =>
      (0 to ts.length - n).foreach { i =>
        gramDocs.getOrElseUpdate(ts.slice(i, i + n).mkString(" "),
          scala.collection.mutable.Set.empty) += id
      }
    }
    val expected = toks.toSeq.sortBy(_._1).flatMap { case (id, ts) =>
      val hitIdx = (0 to ts.length - n).filter(i =>
        gramDocs(ts.slice(i, i + n).mkString(" ")).size >= 2)
      // gaps-and-islands: hits within n positions fuse into one span
      val islands = hitIdx.foldLeft(Vector.empty[Vector[Int]]) { (acc, i) =>
        if (acc.nonEmpty && i - acc.last.last <= n) acc.init :+ (acc.last :+ i)
        else acc :+ Vector(i)
      }
      islands.map(is =>
        (id, is.head.toLong, (is.last + n - 1).toLong,
          (is.last - is.head + n).toLong))
    }
    val got = Dedup.dupSpans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected, s"${got.take(5)} vs ${expected.take(5)}")
    assert(expected.nonEmpty, "corpus has no duplicated spans — vacuous gate")
    // spans must include at least one PARTIAL overlap (not a whole-doc
    // duplicate), or the operator degenerates to doc-level dedup
    assert(expected.exists { case (id, s, e, _) =>
      s > 0 || e < toks(id).length - 1
    }, "every span covers its whole document — substring-level signal absent")
  }

  test("dup_spans_maximal: every span a verbatim cross-doc repeat; coverage refines the islands; chains non-vacuous") {
    val n = Dedup.DupSpanGram
    val toks = graft.Tables.t(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        Option(r.getString(1)).getOrElse("").split(" ", -1).filter(_.nonEmpty))
      .toMap
    val spans = Dedup.dupSpansMaximal(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(spans.nonEmpty, "no aligned spans — vacuous")
    spans.foreach { case (id, s, e, len, src, ss) =>
      assert(len == e - s + 1 && len >= n, s"span arithmetic doc=$id")
      // the claim the island detector CANNOT make: the span is one
      // verbatim repeat of a named source range, token for token
      assert(src != id, s"span doc=$id partnered with its own doc")
      val mine = toks(id).slice(s.toInt, e.toInt + 1)
      val theirs = toks(src).slice(ss.toInt, (ss + len).toInt)
      assert(mine.sameElements(theirs),
        s"span doc=$id [$s,$e] is not a verbatim repeat of doc=$src @$ss")
    }
    // refinement direction (true spans ⊆ aligned chains ⊆ islands): every
    // aligned span lies inside one gap-≤-n island of the fixed detector
    val islands = Dedup.dupSpans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    spans.foreach { case (id, s, e, _, _, _) =>
      assert(islands.exists { case (d, is, ie) => d == id && is <= s && e <= ie },
        s"aligned span doc=$id [$s,$e] escapes every island")
    }
    // variable-length signal: chains extend beyond a single gram seed
    assert(spans.exists(_._4 > n), "no span beyond one gram — chains vacuous")
  }

  test("dup_spans_maximal2: pass-A spans survive verbatim; new spans are verbatim repeats; second pass non-vacuous") {
    graft.SharedFrames.releaseAll()
    val a = Dedup.dupSpansMaximal(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    graft.SharedFrames.releaseAll()
    val both = Dedup.dupSpansMaximal2(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    // the tightening direction: the two-pass report is a SUPERSET of the
    // single-election report (pass A rides through the union untouched)
    assert(a.subsetOf(both),
      s"two-pass report lost pass-A spans: ${a.diff(both).take(3)}")
    // and the second pass actually adds coverage on this corpus — a
    // vacuous pass B would make the operator a rename
    assert(both.size > a.size,
      "pass B added nothing: rank-2 re-alignment vacuous on this corpus")
    // every ADDED span still carries a true verbatim alignment
    val toks = graft.Tables.t(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        Option(r.getString(1)).getOrElse("").split(" ", -1).filter(_.nonEmpty))
      .toMap
    both.diff(a).foreach { case (id, s, e, len, src, ss) =>
      assert(src != id)
      assert(toks(id).slice(s.toInt, e.toInt + 1)
        .sameElements(toks(src).slice(ss.toInt, (ss + len).toInt)),
        s"added span doc=$id [$s,$e] is not a verbatim repeat of doc=$src @$ss")
    }
    graft.SharedFrames.releaseAll()
  }

  test("image_phash: pairing detects ground-truth near-dups, rejects different images; corpus emptiness pinned") {
    import spark.implicits._
    // ground truth at the thumbnail size (8×8 BMPs — resize is identity):
    // a = checkerboard; b = a with exactly TWO extra lit cells (hamming 2
    // by construction, mean shift included in the arithmetic); c = the
    // inverse checkerboard (hamming 64 vs a)
    def img(f: (Int, Int) => Int) = MediaCodec.encodeBmp(8, 8, f)
    val a = img((x, y) => if ((x + y) % 2 == 0) 255 else 0)
    val b = img((x, y) =>
      if ((x + y) % 2 == 0 || (y == 0 && (x == 1 || x == 3))) 255 else 0)
    val c = img((x, y) => if ((x + y) % 2 == 1) 255 else 0)
    val hashes = Seq((1L, a), (2L, b), (3L, c)).map { case (id, p) =>
      val h = Multimodal.phashBands(p)
      (id, h(0), h(1), h(2), h(3))
    }.toDF("doc_id", "b0", "b1", "b2", "b3")
    val pairs = Multimodal.imagePhashPairsOf(hashes).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(pairs == Seq((1L, 2L, 2L)),
      s"expected exactly the (a, b) near-dup at hamming 2, got $pairs")

    // the corpus hash table is real and non-degenerate...
    val corpus = Multimodal.imagePhash(spark, dir)
    val rows = corpus.collect()
    assert(rows.length > 100)
    assert(rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4))).distinct.length > rows.length / 2,
      "corpus hashes are degenerate")
    // ...and its pairing is EMPTY — the documented physics (image dims
    // are doc_id-dependent, so no two corpus images are near-dups): the
    // scaladoc claim, pinned instead of asserted in prose
    assert(Multimodal.imagePhashPairsOf(corpus).count() == 0L,
      "corpus unexpectedly contains near-dup images — register the pair query")
  }

  test("dup_spans_maximal_pairwise: covers every A∪B span per partner; every span a verbatim repeat; tightening non-vacuous") {
    graft.SharedFrames.releaseAll()
    val ab = Dedup.dupSpansMaximal2(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    graft.SharedFrames.releaseAll()
    val pw = Dedup.dupSpansMaximalPairwise(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    graft.SharedFrames.releaseAll()
    // SUPERSET pin (the r8 stretch contract): every A∪B span, which is a
    // verbatim aligned run against its partner, must be CONTAINED in a
    // pairwise-maximal span of the same (doc, partner) — the pairwise
    // report chains the same alignment in the partner's FULL occurrence
    // space, so it can only extend, never lose
    val byPair = pw.groupBy(s => (s._1, s._5))
    ab.foreach { case (id, s, e, src) =>
      val cover = byPair.getOrElse((id, src), Array.empty)
        .exists(m => m._2 <= s && e <= m._3)
      assert(cover,
        s"A∪B span doc=$id [$s,$e] vs partner=$src not covered by any pairwise span")
    }
    // every pairwise span carries a true verbatim alignment at its OWN
    // src_start (a non-first partner position — the rank-3+ reach)
    val toks = graft.Tables.t(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        Option(r.getString(1)).getOrElse("").split(" ", -1).filter(_.nonEmpty))
      .toMap
    pw.foreach { case (id, s, e, len, src, ss) =>
      assert(src != id)
      assert(toks(id).slice(s.toInt, e.toInt + 1)
        .sameElements(toks(src).slice(ss.toInt, (ss + len).toInt)),
        s"pairwise span doc=$id [$s,$e] is not a verbatim repeat of doc=$src @$ss")
    }
    // the tightening must be REAL on this corpus: some pairwise span must
    // strictly extend beyond every A∪B span of its (doc, partner) — i.e.
    // an alignment the canonical-first-position chaining had split
    val abByPair = ab.groupBy(x => (x._1, x._4))
    val extended = pw.exists { case (id, s, e, _, src, _) =>
      abByPair.getOrElse((id, src), Array.empty)
        .forall(x => !(x._2 <= s && e <= x._3)) }
    assert(extended || pw.length > ab.length,
      "pairwise chaining added nothing beyond A∪B — the closure is vacuous here")
  }

  test("dup_span_scrub_aligned: exact driver replay of the provenance keep-first policy; corpus-first copies survive") {
    val spans = Dedup.dupSpansMaximal(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    val toks = graft.Tables.t(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        Option(r.getString(1)).getOrElse("").split(" ", -1).filter(_.nonEmpty))
      .toMap
    // the policy, replayed: excised iff the canonical source precedes
    val excised = spans.filter { case (id, _, _, src) => src < id }
    val excByDoc = excised.groupBy(_._1)
    val rows = Dedup.dupSpanScrubAligned(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    rows.foreach { case (id, nb, na, nx, cleaned) =>
      assert(nb == toks(id).length.toLong, s"n_before doc=$id")
      val ex = excByDoc.getOrElse(id, Array.empty[(Long, Long, Long, Long)])
      assert(nx == ex.length.toLong, s"n_excised doc=$id")
      val drop = ex.flatMap(x => x._2.toInt to x._3.toInt).toSet
      val want = toks(id).zipWithIndex.collect {
        case (t, i) if !drop.contains(i) => t
      }
      assert(na == want.length.toLong, s"n_after doc=$id")
      assert(cleaned == want.mkString(" "), s"cleaned_text doc=$id")
    }
    // keep-first really holds: spans whose source FOLLOWS them (the
    // corpus-first copies) are never excised, and something was excised
    assert(spans.exists { case (id, _, _, src) => src > id },
      "no corpus-first span — keep-first vacuous")
    assert(excised.nonEmpty, "no excisions — vacuous")
    assert(rows.exists(r => r._4 > 0 && r._3 > 0 && r._3 < r._2),
      "no partial excision observed")
  }

  test("dup_spans_incremental: equals the full rebuild restricted to the delta; non-vacuous") {
    val cut = Dedup.IncrementalCut
    val full = Dedup.dupSpans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .filter(_._1 >= cut).toSeq
    graft.SharedFrames.releaseAll()
    val inc = Dedup.dupSpansIncremental(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    graft.SharedFrames.releaseAll()
    assert(inc == full,
      "incremental spans diverge from the full rebuild's delta slice")
    assert(inc.nonEmpty, "no delta spans — vacuous gate")
    // the corpus-vs-delta disjunction is really exercised: at least one
    // delta span must owe its duplication to the corpus side (its gram
    // absent from a delta-only rebuild) — otherwise the probe is dead code
    val deltaOnly = {
      import org.apache.spark.sql.functions._
      val docs = graft.Tables.t(spark, dir, "documents")
        .filter(col("doc_id") >= cut)
      docs.count() // force
      Dedup.dupSpansFrom(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
    }
    graft.SharedFrames.releaseAll()
    assert(inc != deltaOnly,
      "every delta span is delta-internal — the corpus probe is vacuous")
  }

  test("decontaminate_scrub: surgical — leaked grams gone, non-leaked content kept, docs survive") {
    val n = Dedup.ContamSpanGram
    val cap = Dedup.ContamEvalCap
    def toks(s: String): Array[String] = s.split(" ", -1).filter(_.nonEmpty)
    val docs = graft.Tables.t(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("")).toMap
    def grams(ts: Array[String]): Iterator[String] =
      if (ts.length < n) Iterator.empty
      else (0 to ts.length - n).iterator.map(i => ts.slice(i, i + n).mkString(" "))
    val evalGrams = docs.filter(_._1 < cap).values
      .flatMap(t => grams(toks(t))).toSet
    val rows = Dedup.decontaminateScrub(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(rows.length == docs.count(_._1 >= cap),
      "spine must cover every corpus doc, eval docs excluded")
    // driver replay of the whole policy: hits → gap-≤-n islands → drop
    rows.foreach { case (id, nb, na, nx, cleaned) =>
      val ts = toks(docs(id))
      assert(nb == ts.length.toLong, s"n_before doc=$id")
      val hitIdx = (0 to ts.length - n)
        .filter(i => evalGrams.contains(ts.slice(i, i + n).mkString(" ")))
      val islands = hitIdx.foldLeft(Vector.empty[Vector[Int]]) { (acc, i) =>
        if (acc.nonEmpty && i - acc.last.last <= n) acc.init :+ (acc.last :+ i)
        else acc :+ Vector(i)
      }
      assert(nx == islands.length.toLong, s"n_excised doc=$id")
      val drop = islands.flatMap(is => is.head to (is.last + n - 1)).toSet
      val want = ts.zipWithIndex.collect {
        case (t, i) if !drop.contains(i) => t
      }
      assert(na == want.length.toLong && cleaned == want.mkString(" "),
        s"cleaned doc=$id")
      // the point of the operator: nothing the eval set contains survives
      // (original leaked grams are all inside excised ranges; on this
      // corpus no concat-across-gap artifact re-forms one either)
      assert(!grams(toks(cleaned)).exists(evalGrams.contains),
        s"doc=$id cleaned text still contains an eval gram")
    }
    // surgical, not doc-dropping: most excised docs keep real content
    val excisedDocs = rows.filter(_._4 > 0)
    assert(excisedDocs.nonEmpty, "no excisions — vacuous")
    assert(excisedDocs.count(_._3 > 0) > excisedDocs.length / 2,
      "excision mostly empties docs — gram width is miscalibrated")
  }

  test("dup_span_scrub: keep-first excision invariants; cleaned text drops exactly the excised ranges") {
    val spans = Dedup.dupSpans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val rows = Dedup.dupSpanScrub(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq)
    val toks = graft.Tables.t(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        Option(r.getString(1)).getOrElse("").split(" ", -1).filter(_.nonEmpty))
      .toMap
    // reconstruct the keep-first policy driver-side from the span report
    val spanText = spans.map { case (id, s, e) =>
      (id, s, e, toks(id).slice(s.toInt, e.toInt + 1).mkString(" "))
    }
    val keptFirst = spanText.groupBy(_._4).values.flatMap { g =>
      g.sortBy(x => (x._1, x._2)).tail // all but corpus-first are excised
    }.toSeq
    val excByDoc = keptFirst.groupBy(_._1)
    rows.foreach { case (id, nb, na, nx, cleaned) =>
      assert(nb == toks(id).length.toLong, s"n_before doc=$id")
      val ex = excByDoc.getOrElse(id, Seq.empty)
      assert(nx == ex.size.toLong, s"n_excised doc=$id")
      val drop = ex.flatMap(x => x._2.toInt to x._3.toInt).toSet
      val want = toks(id).zipWithIndex.collect {
        case (t, i) if !drop.contains(i) => t
      }
      assert(na == want.length.toLong, s"n_after doc=$id")
      assert(cleaned == want.mkString(" "), s"cleaned_text doc=$id")
    }
    // non-vacuous: something was excised, and at least one doc shrank
    // without being emptied (partial scrub, not just whole-doc dedup)
    assert(rows.exists(_._4 > 0), "no excisions — vacuous")
    assert(rows.exists(r => r._4 > 0 && r._3 > 0 && r._3 < r._2),
      "no partial excision observed")
  }

  test("curriculum: ranks are a permutation of 1..N ordered by (quality, id); tiers balanced") {
    val rows = TextAnalysis.curriculum(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    val n = rows.length.toLong
    assert(n == graft.Tables.t(spark, dir, "documents").count())
    assert(rows.map(_._3).sorted.toSeq == (1L to n).toSeq,
      "ranks are not a permutation of 1..N")
    // the distributed rank equals the sequential rank over (score, id)
    val expected = rows.map { case (id, s, _, _) => (s, id) }.sorted
      .zipWithIndex.map { case ((_, id), i) => id -> (i + 1L) }.toMap
    rows.foreach { case (id, _, rank, tier) =>
      assert(rank == expected(id), s"doc $id: rank $rank != sequential")
      assert(tier == (rank - 1) * TextAnalysis.CurriculumTiers / n)
    }
    // every tier is populated and balanced to within one document
    val sizes = rows.groupBy(_._4).values.map(_.length)
    assert(sizes.size == TextAnalysis.CurriculumTiers)
    assert(sizes.max - sizes.min <= 1, s"tier sizes skewed: $sizes")
  }

  test("curriculum buckets: sketch cut points keep windows balanced on a SKEWED score distribution") {
    import spark.implicits._
    // 10k scores concentrated in [0.9, 1.0) — round 5's fixed ×64 grid
    // would funnel ~all of them into ~6 of 64 cells (worst cell ≈ n/6);
    // the equi-population sketch must keep every window small
    val n = 10000
    val skewed = (0 until n)
      .map(i => (i.toLong, 0.9 + 0.1 * (i.toDouble * i / n / n)))
      .toDF("doc_id", "quality_score")
    val pops = TextAnalysis.scoreBuckets(skewed)
      .groupBy("bucket").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pops.keys.forall(b =>
      b >= 0 && b < TextAnalysis.CurriculumBuckets))
    val target = n.toDouble / TextAnalysis.CurriculumBuckets
    assert(pops.values.max <= 3 * target,
      s"worst bucket ${pops.values.max} vs target $target — sketch cuts " +
        s"did not adapt to the skew (populations: ${pops.toSeq.sorted})")
    // and the bucketing stays monotone: sort by (bucket, score) must equal
    // sort by score — the invariant the rank decomposition rests on
    val rows = TextAnalysis.scoreBuckets(skewed)
      .select("bucket", "quality_score", "doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val byBucket = rows.sortBy { case (b, s, id) => (b, s, id) }.map(_._3)
    val byScore = rows.sortBy { case (_, s, id) => (s, id) }.map(_._3)
    assert(byBucket.sameElements(byScore),
      "bucket order disagrees with score order — non-monotone cuts")
  }

  test("global_shuffle: positions are a permutation of 1..N; ≡ the sequential rank over driver-computed keys; order actually shuffles") {
    val rows = TextAnalysis.globalShuffle(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val n = graft.Tables.t(spark, dir, "documents").count()
    assert(rows.length == n)
    assert(rows.map(_._3).sorted.toSeq == (1L to n).toSeq,
      "positions are not a permutation of 1..N")
    // replay: java MD5 of the seeded id, global sort, sequential rank
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long): String =
      md.digest(s"${TextAnalysis.ShuffleSeed}$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    rows.foreach { case (id, k, _) => assert(k == key(id)) }
    val expected = rows.map { case (id, k, _) => (k, id) }.sorted
      .zipWithIndex.map { case ((_, id), i) => id -> (i + 1L) }.toMap
    rows.foreach { case (id, _, pos) =>
      assert(pos == expected(id), s"doc $id: position $pos != rank") }
    // the deal is a real shuffle, not the identity order
    assert(rows.sortBy(_._1).map(_._3).toSeq != (1L to n).toSeq)
  }

  test("heavy_hitters: two-pass MG candidate/recount ≡ the exact full-vocabulary count; threshold splits the vocabulary non-vacuously") {
    val got = TextAnalysis.heavyHitters(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // driver replay: exact counts over every token, naive HAVING
    val toks = graft.Tables.t(spark, dir, "documents")
      .select(col("text")).collect().map(_.getString(0))
      .flatMap(_.split(" ")).filter(_.nonEmpty)
    val exact = toks.groupBy(identity).map { case (t, o) => t -> o.length.toLong }
    val expected = exact.toSeq
      .filter { case (_, c) => c * TextAnalysis.HeavyHitterK > toks.length }
      .sortBy { case (t, c) => (-c, t) }
    assert(got.toSeq == expected,
      "MG candidate pass + recount disagrees with the exact HAVING query")
    assert(got.nonEmpty, "threshold admits nothing — vacuous gate")
    assert(got.length < exact.size,
      "threshold excludes nothing — vacuous gate")
    // every reported count is the true count (recount is exact, not MG's
    // under-estimate)
    got.foreach { case (t, c) => assert(c == exact(t)) }
  }

  test("dedup_incremental_bloom ≡ plain incremental; probe has no false negatives; filter really prunes the corpus scan") {
    import org.apache.spark.sql.functions.{col, md5, substring, typedLit}
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getString(1), r.getLong(2))
    val plain = Dedup.dedupIncremental(spark, dir).collect().map(key).toSeq
    val bloom = Dedup.dedupIncrementalBloom(spark, dir).collect().map(key).toSeq
    assert(bloom == plain,
      "bloom-prefiltered incremental diverges from the plain anti-join")
    assert(plain.nonEmpty, "vacuous gate — empty survivor set")
    // no-false-negative invariant: every signature INSERTED into the
    // filter must pass its own probe
    val fps = graft.Tables.t(spark, dir, "documents")
      .select(md5(substring(col("text"), 1, Dedup.PrefixSigLen)
        .cast("binary")).as("fp"))
    val deltaFps = fps.limit(100)
    val words = Dedup.bloomBuild(deltaFps)
    val n = deltaFps.count()
    val pass = deltaFps.withColumn("bw", typedLit(words.toSeq))
      .filter(Dedup.bloomMayContain).count()
    assert(pass == n, s"bloom false negative: $pass of $n inserted pass")
    // selectivity: signatures that were NOT inserted mostly fail the
    // probe (2^16 bits vs ~400 set positions → FP rate ≪ 1%)
    val fresh = fps.withColumn("fp",
      md5(org.apache.spark.sql.functions.concat(col("fp"),
        org.apache.spark.sql.functions.lit("salt")).cast("binary")))
    val fp = fresh.withColumn("bw", typedLit(words.toSeq))
      .filter(Dedup.bloomMayContain).count()
    assert(fp < fresh.count() / 10,
      s"bloom passes $fp of ${fresh.count()} fresh signatures — no pruning")
  }

  test("crossmodal_negatives: exactly k per image, positives excluded, bucket-bounded, md5 ranking replayed driver-side") {
    val rows = Multimodal.crossModalNegatives(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt))
    val docIds = graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0))
    val imgIds = docIds.filter(_ % 2 == 0)
    val byImg = rows.groupBy(_._1)
    assert(byImg.keySet == imgIds.toSet, "an image got no negatives")
    byImg.foreach { case (img, negs) =>
      assert(negs.length == Multimodal.NegPerPair)
      assert(negs.map(_._3).sorted.toSeq == (1 to Multimodal.NegPerPair))
      negs.foreach { case (_, c, _) =>
        assert(c != img && c != img + 1, s"positive caption $c sampled as negative for $img")
        assert(c % Multimodal.NegBuckets == img % Multimodal.NegBuckets,
          "negative escaped its candidate bucket")
      }
    }
    // driver replay of the deterministic ranking for a sample of images
    // (52-bit md5 prefix as the numeric key, cap id as the tie-break —
    // the TopKAgg total order)
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(i: Long, c: Long): Long = java.lang.Long.parseLong(
      md.digest(s"$i:$c".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(13), 16)
    imgIds.take(5).foreach { img =>
      val expected = docIds
        .filter(c => c != img && c != img + 1 &&
          c % Multimodal.NegBuckets == img % Multimodal.NegBuckets)
        .map(c => (key(img, c), c)).sorted.take(Multimodal.NegPerPair)
        .map(_._2).toSeq
      assert(byImg(img).sortBy(_._3).map(_._2).toSeq == expected,
        s"image $img: sampled negatives diverge from the md5 ranking")
    }
  }

  test("dedup_edit_distance: deletion-neighborhood join ≡ exact all-pairs Levenshtein; candidate completeness theorem holds on adversarial strings") {
    val got = Dedup.dedupEditDistance(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val names = graft.Tables.t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      (i1, s1) <- names; (i2, s2) <- names if i1 < i2
      d = lev(s1, s2) if d <= 1
    } yield (i1, i2, d.toLong)).sortBy(p => (p._1, p._2)).toSeq
    assert(got == expected, "neighborhood join missed or invented a pair")
    assert(got.nonEmpty, "no close pairs — vacuous")
    // the completeness theorem on adversarial shapes: substitution,
    // insertion, deletion, identical, and a distance-2 NON-pair
    def d1(s: String): Set[String] =
      (0 until s.length).map(i => s.take(i) + s.drop(i + 1)).toSet + s
    assert(d1("abcd").intersect(d1("abXd")).nonEmpty) // substitution
    assert(d1("abcd").intersect(d1("abd")).nonEmpty)  // deletion
    assert(d1("abcd").intersect(d1("abcde")).nonEmpty) // insertion
    assert(d1("abcd").intersect(d1("aXYd")).isEmpty,
      "distance-2 strings must NOT share a 1-deletion variant here")
  }

  test("contamination_report: reconciles with the corpus-side decontaminate totals; leak fractions sane and non-vacuous") {
    val report = Dedup.contaminationReport(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(report.nonEmpty)
    report.foreach { case (d, nGrams, nLeaked, nDocs, frac) =>
      assert(d < Dedup.ContamEvalCap)
      assert(nLeaked <= nGrams, s"eval $d leaked more grams than it has")
      assert((nLeaked == 0) == (nDocs == 0), s"eval $d leak/doc mismatch")
      assert(math.abs(frac - nLeaked.toDouble / nGrams) == 0.0)
    }
    assert(report.exists(_._3 > 0), "no eval doc leaks — vacuous report")
    // cross-check against the corpus-side view: the set of corpus docs
    // carrying any leak must be exactly decontaminate's flagged set
    val corpusFlagged = Dedup.decontaminate(spark, dir).collect()
      .map(_.getLong(0)).toSet
    // recompute the report's corpus-doc universe driver-side
    val texts = graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.length >= Dedup.ContamGram)
    def grams(t: String): Set[String] =
      (1 to (t.length - Dedup.ContamGram + 1))
        .map(i => t.substring(i - 1, i - 1 + Dedup.ContamGram)).toSet
    val evalGrams = texts.filter(_._1 < Dedup.ContamEvalCap)
      .flatMap(x => grams(x._2)).toSet
    val hitDocs = texts.filter(_._1 >= Dedup.ContamEvalCap)
      .filter(x => grams(x._2).exists(evalGrams)).map(_._1).toSet
    assert(hitDocs == corpusFlagged,
      "driver replay disagrees with decontaminate's flag set")
    // and the per-eval attribution is consistent with the replay
    val byEval = texts.filter(_._1 < Dedup.ContamEvalCap).map { case (d, t) =>
      val eg = grams(t)
      val corpusG = texts.filter(_._1 >= Dedup.ContamEvalCap)
      val leaked = eg.filter(g => corpusG.exists(c => c._2.contains(g)))
      d -> leaked.size.toLong
    }.toMap
    report.foreach { case (d, _, nLeaked, _, _) =>
      assert(nLeaked == byEval(d),
        s"eval $d: n_leaked $nLeaked != replay ${byEval(d)}")
    }
  }

  test("lineage_report: every stage populated; kept ∪ semantic_dup ≡ the pipeline_e2e survivor set; one row per doc") {
    import org.apache.spark.sql.functions._
    val lin = Pipeline.lineageReport(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(lin.size ==
      graft.Tables.t(spark, dir, "documents").count())
    val byStage = lin.values.groupBy(identity).view.mapValues(_.size).toMap
    Seq("eval_holdout", "cleaned_out", "near_dup", "contaminated",
      "semantic_dup", "kept").foreach { s =>
      assert(byStage.getOrElse(s, 0) > 0, s"stage $s vacuous: $byStage")
    }
    // the report's "survived stages 1-4" set (kept + semantic_dup) is by
    // construction EXACTLY the doc set pipeline_e2e packs into shards —
    // the lineage table and the shard manifest must tell the same story
    val survivedTo5 = lin.collect {
      case (id, s) if s == "kept" || s == "semantic_dup" => id
    }.toSet
    val packed = Pipeline.pipelineE2e(spark, dir).collect()
      .map(_.getLong(0)).toSet
    assert(survivedTo5 == packed,
      s"lineage vs pipeline divergence: ${(survivedTo5 diff packed).size} " +
        s"extra, ${(packed diff survivedTo5).size} missing")
  }

  test("dedup_containment: catches pairs symmetric Jaccard misses; ratios consistent") {
    val cont = Dedup.dedupContainment(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5))))
      .toMap
    assert(cont.nonEmpty, "containment pairs vacuous at this SF")
    val jac = Dedup.dedupNgramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    cont.foreach { case ((d1, d2), (c, c1, c2, contained)) =>
      assert(c >= Dedup.ContainTau && c <= 1.0)
      // mutual containment is the max of the direction ratios
      assert(math.abs(c - math.max(c1, c2)) < 1e-12)
      assert(contained == d1 || contained == d2)
    }
    // the asymmetric catch must be non-vacuous: some contained pair is
    // NOT a resemblance pair (j < 0.7) — the exact miss this mode exists
    // to cover
    assert(cont.keySet.exists(p => !jac.contains(p)),
      "every containment pair is also a Jaccard pair — asymmetric mode vacuous")
  }

  test("split_leakfree: no dedup cluster straddles a split; every doc assigned once; sane proportions") {
    graft.SharedFrames.releaseAll()
    val rows = Pipeline.splitLeakfree(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val nDocs = graft.Tables.t(spark, dir, "documents").count()
    assert(rows.length == nDocs, "split must cover every doc exactly once")
    // the leakage guarantee: a cluster maps to ONE split
    rows.groupBy(_._2).foreach { case (cl, members) =>
      assert(members.map(_._3).distinct.length == 1,
        s"cluster $cl straddles splits: ${members.map(_._3).distinct.toSeq}")
    }
    // multi-member clusters exist at this SF (else the guarantee is vacuous)
    assert(rows.groupBy(_._2).exists(_._2.length > 1),
      "no multi-doc cluster — the no-straddle pin is vacuous")
    // MINSTD residue proportions: nominal 80/10/10 over CLUSTERS; loose
    // bands (small cluster count at tiny SF)
    val frac = rows.groupBy(_._3).view.mapValues(_.length.toDouble / nDocs)
    assert(frac.getOrElse("train", 0.0) > 0.6 && frac("train") < 0.95,
      s"train fraction ${frac.get("train")} out of band")
    assert(frac.getOrElse("val", 0.0) > 0.0 && frac.getOrElse("test", 0.0) > 0.0,
      s"empty val/test split: $frac")
    graft.SharedFrames.releaseAll()
  }
}

package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Corpus-hygiene operators: properties the DuckDB equality gate cannot
  * express — non-vacuous thresholds, passthrough guarantees, structural
  * invariants, driver-side reconciliation. */
class CorpusOpsSpec extends AnyFunSuite with SparkSpec {
  val dir = "/root/testdata/sf0.001"

  test("quality_gopher: thresholds split the corpus (both keep values), ratios in range") {
    val rows = CorpusOps.qualityGopher(spark, dir).collect()
    assert(rows.nonEmpty)
    val kept = rows.count(_.getBoolean(6))
    assert(kept > 0 && kept < rows.length,
      s"keep flag vacuous: $kept of ${rows.length}")
    rows.foreach { r =>
      val (top, dist, dupb) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(top > 0 && top <= 1 && dist > 0 && dist <= 1 && dupb >= 0 && dupb < 1,
        s"ratio out of range: $r")
    }
    // driver-side reconciliation of one document's signals
    val doc = graft.Tables.t(spark, dir, "documents")
      .filter(col("doc_id") === 0L).select("text").collect()(0).getString(0)
    val ws = doc.split(" ")
    val r0 = rows.find(_.getLong(0) == 0L).get
    assert(r0.getLong(1) == ws.length)
    val counts = ws.groupBy(identity).view.mapValues(_.length)
    assert(r0.getDouble(3) == counts.values.max.toDouble / ws.length)
    assert(r0.getDouble(4) == counts.size.toDouble / ws.length)
    val bgs = ws.sliding(2).map(_.mkString(" ")).toSeq
    assert(r0.getDouble(5) ==
      (bgs.size - bgs.distinct.size).toDouble / bgs.size)
  }

  test("quality_model_score: training beats the majority baseline; both verdicts populated; weights non-trivial") {
    // sf0.01: the calibration corpus (sf0.001 works too, but pin where
    // the margin is widest: trained 0.875 vs majority 0.735)
    val d01 = "/root/testdata/sf0.01"
    val w = CorpusOps.qualityModelWeights(spark, d01)
    assert(w.exists(_ != 0L), "training left every weight at zero")
    assert(w.length == (2 * CorpusOps.QmDim + 1).toInt)
    val scored = CorpusOps.qualityModelScore(spark, d01).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val labels = CorpusOps.qualityGopher(spark, d01)
      .filter(col("doc_id") < CorpusOps.QmTrainCap)
      .select(col("doc_id"), col("keep")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1))
    assert(labels.nonEmpty)
    val keepFrac = labels.count(_._2).toDouble / labels.length
    val majority = math.max(keepFrac, 1 - keepFrac)
    val agree = labels.count { case (d, y) => scored(d) == y }
      .toDouble / labels.length
    // the whole point of the operator: the learned verdict must beat
    // always-predict-the-majority-class on its own training slice (a
    // collapsed model scores exactly `majority`)
    assert(agree > majority + 0.05,
      f"model collapsed to the majority class: agree=$agree%.3f majority=$majority%.3f")
    // and the corpus-wide verdict is non-vacuous
    val kept = scored.values.count(identity)
    assert(kept > 0 && kept < scored.size,
      s"keep_model vacuous: $kept of ${scored.size}")
  }

  test("lm_bigram_score: non-vacuous keep split; full driver-side replay of the model and scores") {
    val rows = CorpusOps.lmBigramScore(spark, dir).collect()
    assert(rows.nonEmpty)
    val kept = rows.count(_.getBoolean(5))
    assert(kept > 0 && kept < rows.length,
      s"keep flag vacuous: $kept of ${rows.length}")
    // replay the whole train+score computation with Scala collections
    val texts = graft.Tables.t(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // split(" ", -1) keeps trailing empty tokens — Spark's split does too,
    // so the replay must (a trailing space would otherwise desync it)
    val docBigrams = texts.view.mapValues(t =>
      t.split(" ", -1).toSeq.sliding(2).filter(_.size == 2)
        .map(_.mkString(" ")).toSeq).toMap
    val model = docBigrams.values.flatten
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    rows.foreach { r =>
      val bgs = docBigrams(r.getLong(0))
      assert(r.getLong(1) == bgs.size)
      val rare = bgs.count(model(_) < CorpusOps.LmRareBelow)
      assert(r.getLong(2) == rare)
      assert(r.getDouble(4) == bgs.map(model).sum.toDouble / bgs.size)
      assert(r.getBoolean(5) == (rare == 0))
    }
  }

  test("pii_redact: every planted email/ip is found; nothing matchable survives; clean text passes through") {
    val rows = CorpusOps.piiRedact(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(1) >= 1 && r.getInt(2) >= 1,
        s"profile ${r.getLong(0)} missed planted pii: $r")
      val red = r.getString(3)
      assert(red.contains("[EMAIL]") && red.contains("[IP]"))
      assert(!red.matches(s".*${CorpusOps.EmailPattern}.*") &&
        !red.matches(s".*${CorpusOps.Ipv4Pattern}.*"),
        s"redacted text still matches a pii pattern: $red")
    }
    // clean text must pass through BYTE-IDENTICAL with zero counts
    val clean = graft.Tables.t(spark, dir, "documents").limit(20)
      .select(col("text"),
        regexp_count(col("text"), lit(CorpusOps.EmailPattern)).as("ne"),
        regexp_replace(
          regexp_replace(col("text"), CorpusOps.EmailPattern, "[EMAIL]"),
          CorpusOps.Ipv4Pattern, "[IP]").as("red"))
      .collect()
    clean.foreach { r =>
      assert(r.getInt(1) == 0 && r.getString(2) == r.getString(0),
        "pii-free text was altered by redaction")
    }
  }

  test("sample_mix: per-language rates land near their ceilings; sample is id-deterministic") {
    val total = graft.Tables.t(spark, dir, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = CorpusOps.sampleMix(spark, dir)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ceilings = CorpusOps.MixCeilings.toMap
    total.foreach { case (lang, n) =>
      val want = Integer.parseInt(
        ceilings.getOrElse(lang, CorpusOps.MixDefaultCeiling), 16) / 256.0
      val got = kept.getOrElse(lang, 0L).toDouble / n
      // md5 buckets are uniform; ±12pp absorbs small-n noise at sf0.001
      assert(math.abs(got - want) < 0.12,
        s"$lang: kept ${(got * 100).round}% want ${(want * 100).round}%")
    }
    // determinism: the sample is a pure function of doc_id — rerun equal
    val a = CorpusOps.sampleMix(spark, dir).collect().map(_.getLong(0)).toSeq
    val b = CorpusOps.sampleMix(spark, dir).collect().map(_.getLong(0)).toSeq
    assert(a == b)
  }

  test("token_bpe: classes partition the BPE tokens; every class non-vacuous") {
    val rows = CorpusOps.tokenBpe(spark, dir).collect()
      .map(r => (r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6)))
    assert(rows.nonEmpty)
    // the three class patterns partition the alternation exactly
    rows.foreach { case (bpe, a, n, p) =>
      assert(bpe == a + n + p, s"classes don't partition: bpe=$bpe a=$a n=$n p=$p")
    }
    assert(rows.exists(_._2 > 0) && rows.exists(_._3 > 0) && rows.exists(_._4 > 0),
      "some token class never occurs — vacuous input")
  }

  test("integrity_audit: all five checks present; sf0.1's missing embeddings detected") {
    val small = CorpusOps.integrityAudit(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(small.keySet == Set("docs_without_embedding",
      "embeddings_without_doc", "empty_text", "n_chars_mismatch",
      "unknown_lang"))
    // the aligned small corpus audits clean — zero is the correct answer
    assert(small.values.forall(_ == 0L), s"unexpected violations: $small")
    // the sf0.1 corpus REALLY ships 5000 docs but 2000 embeddings
    val big = CorpusOps.integrityAudit(spark, "/root/testdata/sf0.1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(big("docs_without_embedding") == 3000L,
      s"expected 3000 unembedded docs at sf0.1: $big")
  }

  test("integrity_audit plan: the three predicate checks share ONE documents scan") {
    // the audit reads documents exactly 3× — one conditional aggregate for
    // all predicate rows plus one side of each anti-join (round 5 scanned
    // it 5×: one scan per predicate; two corpus scans saved at 100 TB)
    val plan = aqeFinalPlan(CorpusOps.integrityAudit(spark, dir))
    val docScans = plan.linesIterator
      .count(l => l.contains("FileScan") && l.contains("documents"))
    assert(docScans == 3,
      s"expected 3 documents scans (1 predicates + 2 anti-joins), " +
        s"got $docScans:\n$plan")
  }

  test("bpe_vocab_256: EVERY merge matches a driver-side replay of the election rule") {
    // the unrolled-SQL oracle gates the 10-merge query; at 256 merges
    // that oracle is intractable, so exactness comes from replaying the
    // identical algorithm (overlapping-pair counts weighted by word
    // frequency; elect max count, ties to the lexicographically least
    // pair; non-overlapping left-to-right replace) in plain Scala over
    // the same word-frequency table
    val rows = CorpusOps.bpeVocabLarge(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    var vocab = graft.Tables.t(spark, dir, "documents")
      .select("text").collect()
      .flatMap(_.getString(0).split(" ")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq.map { case (w, c) => (w, c) } // (repr, cnt); words collapse
    var expected = Vector.empty[(Int, String, String, Long)]
    var r = 1
    var dry = false
    while (r <= CorpusOps.BpeMergesLarge && !dry) {
      val counts = scala.collection.mutable.Map.empty[String, Long]
      vocab.foreach { case (repr, cnt) =>
        // windows over CODE POINTS, matching production pairCounts — a
        // UTF-16 sliding(2) would split surrogate pairs on any future
        // non-BMP corpus and silently diverge from the engine's pairs
        val cps = repr.codePoints().toArray
        var j = 0
        while (j + 1 < cps.length) {
          val p = new String(cps, j, 2)
          counts.update(p, counts.getOrElse(p, 0L) + cnt)
          j += 1
        }
      }
      if (counts.isEmpty) dry = true
      else {
        val (pair, c) = counts.minBy { case (p, n) => (-n, p) }
        val m = (CorpusOps.BpeMergeCharBase + r).toChar.toString
        expected :+= ((r, pair, m, c))
        vocab = vocab.map { case (repr, cnt) => (repr.replace(pair, m), cnt) }
      }
      r += 1
    }
    assert(rows.length == expected.length,
      s"merge count ${rows.length} != replay's ${expected.length}")
    rows.zip(expected).foreach { case (got, want) =>
      assert(got == want, s"merge ${want._1}: $got != replay $want")
    }
    // depth is non-toy: dozens of generations must really have cycled
    // through the persist-elect-free loop, or the depth claim is vacuous
    assert(rows.length >= 32,
      s"only ${rows.length} merges — realistic-depth path never ran")
  }

  /** Driver replay of the batched election rule from first principles —
    * rank all global pair counts, truncate to the top-k, greedily accept
    * symbol-disjoint pairs, apply the whole batch, repeat — carrying the
    * WORD identity through so the applied-encoding test can replay the
    * final (word → repr) table too. Returns (merge table, word→repr,
    * rounds run). */
  private def batchedReplay(): (Vector[(Int, String, String, Long)], Map[String, String], Int) = {
    val k = CorpusOps.BpeBatchK
    var vocab = graft.Tables.t(spark, dir, "documents")
      .select("text").collect()
      .flatMap(_.getString(0).split(" ")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq.map { case (w, c) => (w, w, c) }
    var expected = Vector.empty[(Int, String, String, Long)]
    var rank = 0
    var rounds = 0
    var dry = false
    while (rank < CorpusOps.BpeMergesLarge && !dry) {
      rounds += 1
      val counts = scala.collection.mutable.Map.empty[String, Long]
      vocab.foreach { case (_, repr, cnt) =>
        // windows over CODE POINTS, matching production pairCounts — a
        // UTF-16 sliding(2) would split surrogate pairs on any future
        // non-BMP corpus and silently diverge from the engine's pairs
        val cps = repr.codePoints().toArray
        var j = 0
        while (j + 1 < cps.length) {
          val p = new String(cps, j, 2)
          counts.update(p, counts.getOrElse(p, 0L) + cnt)
          j += 1
        }
      }
      if (counts.isEmpty) dry = true
      else {
        val ranked = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(k)
        val used = scala.collection.mutable.Set.empty[Int]
        var acc = Vector.empty[(String, Long)]
        ranked.foreach { case (p, c) =>
          if (acc.length < k && rank + acc.length < CorpusOps.BpeMergesLarge) {
            val cps = p.codePoints().toArray
            if (cps.forall(!used.contains(_))) {
              cps.foreach(used.add)
              acc :+= ((p, c))
            }
          }
        }
        val batch = acc.map { case (p, c) =>
          rank += 1
          val m = (CorpusOps.BpeMergeCharBase + rank).toChar.toString
          expected :+= ((rank, p, m, c))
          (p, m)
        }
        vocab = vocab.map { case (w, repr, cnt) =>
          (w, batch.foldLeft(repr) { case (r, (p, m)) => r.replace(p, m) }, cnt)
        }
      }
    }
    (expected, vocab.map { case (w, repr, _) => w -> repr }.toMap, rounds)
  }

  test("bpe_vocab_256_batched: EVERY merge matches a driver replay of the batched rule; rounds collapse k-fold; partitioning-independent") {
    val k = CorpusOps.BpeBatchK
    val rows = CorpusOps.bpeVocabLargeBatched(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    graft.SharedFrames.releaseAll()
    val (expected, _, rounds) = batchedReplay()
    assert(rows.length == expected.length,
      s"merge count ${rows.length} != replay's ${expected.length}")
    rows.zip(expected).foreach { case (got, want) =>
      assert(got == want, s"merge ${want._1}: $got != replay $want")
    }
    assert(rows.length >= 32, s"only ${rows.length} merges — vacuous depth")
    // the point of batching: rounds ≈ merges/k, not merges (greedy skips
    // make some rounds accept < k; allow 3× slack before calling it broken)
    assert(rounds <= 3 * (CorpusOps.BpeMergesLarge / k + 1),
      s"$rounds rounds for ${rows.length} merges — batching is not batching")
    // truncate-to-top-k makes the result a pure function of the counts:
    // a forced multi-partition run must agree merge-for-merge
    val (multi, _) = CorpusOps.bpeTrain(spark, dir, CorpusOps.BpeMergesLarge,
      k, partitionsOverride = 4)
    graft.SharedFrames.releaseAll()
    assert(multi == rows.toSeq,
      "batched elections diverged across partitionings")
  }

  test("bpe_encode_batched: every document's encoded statistics match the driver replay of the full train→apply chain") {
    val rows = CorpusOps.bpeEncodeBatched(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))))
    graft.SharedFrames.releaseAll()
    val (_, wordRepr, _) = batchedReplay()
    // replay the APPLY step: per doc, word/char/token counts and the
    // compression ratio from the replayed final reprs — the same
    // statistic, derived without Spark
    val expected = graft.Tables.t(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map { r =>
        val words = r.getString(1).split(" ").filter(_.nonEmpty)
        val nChars = words.map(_.length.toLong).sum
        val nToks = words.map(w => wordRepr(w).length.toLong).sum
        (r.getLong(0),
          (words.length.toLong, nChars, nToks, nChars.toDouble / nToks))
      }
      .filter(_._2._1 > 0)
      .sortBy(_._1)
    assert(rows.length == expected.length,
      s"doc count ${rows.length} != replay's ${expected.length}")
    rows.zip(expected).foreach { case (got, want) =>
      assert(got == want, s"doc ${want._1}: $got != replay $want")
    }
    // the deep vocab must actually compress: strictly fewer tokens than
    // chars somewhere, or the 256-merge apply did nothing
    assert(rows.exists { case (_, (_, ch, tk, _)) => tk < ch },
      "no document compressed — the batched vocab never applied")
  }

  test("bpe_roundtrip: decode is the exact inverse — zero mismatches, non-vacuously") {
    val row = CorpusOps.bpeRoundtrip(spark, dir).collect()(0)
    graft.SharedFrames.releaseAll()
    val (nWords, nMerged, nMismatch) =
      (row.getLong(0), row.getLong(1), row.getLong(2))
    // the CONTENT claim the oracle gate alone cannot make: equality would
    // hold even if decode were broken identically in both engines — the
    // losslessness itself must be asserted
    assert(nMismatch == 0L, s"$nMismatch of $nWords words fail decode(encode(w)) == w")
    assert(nMerged > 0L, "no repr changed — the round trip proved nothing")
    assert(nWords > 0L)
  }

  test("bpe election paths agree: single-partition and two-level reduceByKey merge-for-merge") {
    // the vocab-derived partitioning picks the shuffle-free single-task
    // election at test SF; the two-level reduceByKey path is what a
    // production multi-million-word vocab runs. Force BOTH on the same
    // corpus: identical merge tables prove the distributed election
    // (partial maps → combined shuffle → partition argmax → driver final)
    // implements exactly the single-task rule, ties included
    val (m1, _) = CorpusOps.bpeTrain(spark, dir, merges = 40, k = 1,
      partitionsOverride = 1)
    graft.SharedFrames.releaseAll()
    val (m4, _) = CorpusOps.bpeTrain(spark, dir, merges = 40, k = 1,
      partitionsOverride = 4)
    graft.SharedFrames.releaseAll()
    assert(m1.length >= 32, s"only ${m1.length} merges — vacuous corpus")
    assert(m1 == m4, "two-level election diverged from single-task election")
  }

  test("bpe_vocab: merge loop elects pairs recursively with a driver-checked round") {
    val rows = CorpusOps.bpeVocab(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // every round found a pair (the loop never went dry), ranks contiguous
    assert(rows.map(_._1).toSeq == (1 to CorpusOps.BpeMerges),
      "merge ranks not contiguous — a round elected nothing")
    assert(rows.forall(_._4 > 0), "non-positive pair count")
    // fresh single-char symbols, in rank order, outside the input alphabet
    assert(rows.map(_._3).toSeq ==
      (1 to CorpusOps.BpeMerges).map(r => (CorpusOps.BpeMergeCharBase + r).toChar.toString))
    assert(rows.map(_._2).distinct.length == rows.length,
      "a pair was elected twice — merges must consume their pair")
    // RECURSION is non-vacuous on this corpus: some elected pair contains
    // an earlier round's merged symbol (a merge built on a merge)
    assert(rows.exists(_._2.exists(_ >= CorpusOps.BpeMergeCharBase.toChar)),
      "no elected pair contains a merged symbol — merge recursion vacuous")
    // driver-checked round 1: the most frequent adjacent char pair of the
    // raw word-frequency table, ties broken lexicographically
    val words = graft.Tables.t(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .collect().map(_.getString(0))
    val counts = scala.collection.mutable.Map.empty[String, Long]
    words.foreach(w => w.sliding(2).filter(_.length == 2)
      .foreach(p => counts(p) = counts.getOrElse(p, 0L) + 1))
    val expect = counts.toSeq.sortBy { case (p, c) => (-c, p) }.head
    assert((rows(0)._2, rows(0)._4) == expect,
      s"round 1 elected ${rows(0)} but driver says $expect")
  }

  test("bpe_encode: per-doc token counts match a driver-side greedy replay of the trained merges; merges non-vacuous") {
    val rows = CorpusOps.bpeEncode(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.nonEmpty)
    // replay: apply the trained merge table (rank order, plain replace —
    // the same left-to-right non-overlapping semantics) to every word
    val merges = CorpusOps.bpeVocab(spark, dir).collect()
      .map(r => (r.getString(1), r.getString(2)))
    def encodeLen(word: String): Long =
      merges.foldLeft(word) { case (w, (p, m)) => w.replace(p, m) }.length.toLong
    val texts = graft.Tables.t(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
      .toMap
    rows.foreach { case (id, nWords, nChars, nTokens, compression) =>
      val ws = texts(id)
      assert(nWords == ws.length)
      assert(nChars == ws.map(_.length.toLong).sum)
      assert(nTokens == ws.map(encodeLen).sum,
        s"doc $id: engine says $nTokens tokens, replay disagrees")
      assert(compression == nChars.toDouble / nTokens)
    }
    // the tokenizer actually compresses (some doc has tokens < chars) and
    // never expands (each merge only shortens representations)
    assert(rows.exists(r => r._4 < r._3), "no merge ever applied — vacuous")
    assert(rows.forall(r => r._4 <= r._3 && r._4 >= r._2),
      "token count must sit between word count and char count")
  }

  test("epoch_mix: exact driver replay of budget, full epochs and lottery; upsampling non-vacuous") {
    val rows = CorpusOps.epochMix(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val docs = graft.Tables.t(spark, dir, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ", -1).length.toLong))
    val srcTokens = docs.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val budget = srcTokens.values.max
    val md = java.security.MessageDigest.getInstance("MD5")
    def lot(id: Long): Long = java.lang.Long.parseLong(
      md.digest(s"${CorpusOps.EpochSeed}$id".getBytes("UTF-8"))
        .take(2).map("%02x".format(_)).mkString, 16)
    val expected = docs.flatMap { case (id, src, nt) =>
      val st = srcTokens(src)
      val copies = budget / st +
        (if (lot(id) * st < (budget % st) * CorpusOps.EpochLotterySpace) 1L
         else 0L)
      (1L to copies).map(e => (id, src, nt, e))
    }
    assert(rows.sorted.toSeq == expected.sorted.toSeq,
      "mixing plan diverges from the driver replay")
    val copiesPerDoc = rows.groupBy(_._1).view.mapValues(_.length).toMap
    assert(copiesPerDoc.values.exists(_ >= 2), "no doc was upsampled")
    assert(copiesPerDoc.values.exists(_ == 1), "every doc was upsampled")
    // every source reaches at least its full-epoch token mass
    rows.groupBy(_._2).foreach { case (src, rs) =>
      val mass = rs.map(_._3).sum
      assert(mass >= (budget / srcTokens(src)) * srcTokens(src),
        s"source $src under its full-epoch mass")
    }
  }

  test("bpe training: a vocabulary that runs DRY stops electing instead of crashing; encode stays consistent") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-bpe-dry-").toString
    // two 2-char words: round 1 merges "ab", round 2 merges "cd", round 3
    // finds every repr a single symbol — the dry path 10 fixed rounds
    // would otherwise hit with an empty collect
    Seq((0L, "ab ab cd"), (1L, "ab cd cd")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val merges = CorpusOps.bpeVocab(spark, tmp).collect()
    assert(merges.length == 2, s"expected 2 merges then dry: ${merges.toSeq}")
    assert(merges.map(_.getString(1)).toSeq == Seq("ab", "cd"))
    assert(merges.forall(_.getLong(3) == 3L)) // both pairs occur 3×
    val enc = CorpusOps.bpeEncode(spark, tmp).collect()
    assert(enc.length == 2)
    // every word collapsed to ONE symbol → tokens == words, 2 chars/token
    enc.foreach { r =>
      assert(r.getLong(3) == r.getLong(1), s"tokens != words: $r")
      assert(r.getDouble(4) == 2.0)
    }
  }

  test("repeat_scrub: collapses exactly the consecutive duplicates; non-vacuous; idempotent") {
    val rows = CorpusOps.repeatScrub(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val texts = graft.Tables.t(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def scrub(ws: Array[String]): Array[String] =
      ws.zipWithIndex.filter { case (w, i) => i == 0 || w != ws(i - 1) }
        .map(_._1)
    rows.foreach { case (id, nBefore, nAfter, scrubbed) =>
      val ws = texts(id).split(" ", -1)
      assert(nBefore == ws.length)
      val want = scrub(ws)
      assert(nAfter == want.length)
      assert(scrubbed == want.mkString(" "),
        s"doc $id scrubbed text diverges from the driver replay")
      // idempotence: a scrubbed text has no consecutive duplicates left
      val again = scrub(scrubbed.split(" ", -1))
      assert(scrubbed == again.mkString(" "), s"doc $id scrub not idempotent")
    }
    assert(rows.exists(r => r._3 < r._2),
      "no doc had a consecutive duplicate — transform vacuous on this corpus")
  }

  test("chunk_docs: chunks tile each document exactly") {
    val chunks = CorpusOps.chunkDocs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val tokens = graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    chunks.groupBy(_._1).foreach { case (doc, cs) =>
      val sorted = cs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (0L until sorted.length.toLong),
        s"doc $doc chunk indices not contiguous")
      sorted.foreach { case (_, idx, start, n) =>
        assert(start == idx * CorpusOps.ChunkTokens && n >= 1 &&
          n <= CorpusOps.ChunkTokens)
      }
      assert(sorted.map(_._4).sum == tokens(doc),
        s"doc $doc chunks do not tile its ${tokens(doc)} tokens")
    }
    assert(chunks.map(_._1).distinct.length == tokens.size,
      "every document must be chunked")
  }

  test("corpus_diff: all three verdicts populated; driver replay of the version derivation agrees row-for-row") {
    val got = CorpusOps.corpusDiff(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ids = graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val v1 = ids.filter(_ < graft.operators.Dedup.IncrementalCut)
    val v2 = ids.filterNot(_ % 97 == 0)
    val expected = (v1 ++ v2).toSeq.sorted.flatMap { id =>
      if (!v1(id)) Some(id -> "added")
      else if (!v2(id)) Some(id -> "removed")
      // content change iff the v1 side was "edited" (hash salted)
      else if (id % 40 == 0) Some(id -> "changed")
      else None
    }
    assert(got.toSeq == expected, "diff diverges from the replay")
    val statuses = got.map(_._2).toSet
    assert(statuses == Set("added", "removed", "changed"),
      s"verdict classes missing: $statuses")
  }

  test("sample_stratified: exactly k per language; md5 ranking replayed driver-side; deterministic carve") {
    val got = CorpusOps.sampleStratifiedExact(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val docs = graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val langs = docs.map(_._2).distinct.sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    def hk(id: Long): Long = java.lang.Long.parseLong(
      md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(13), 16)
    langs.foreach { l =>
      val mine = got.filter(_._1 == l)
      val pop = docs.filter(_._2 == l).map(_._1)
      assert(mine.length == math.min(CorpusOps.StratSampleK, pop.length),
        s"stratum $l: ${mine.length} sampled of ${pop.length}")
      val expected = pop.map(id => (hk(id), id)).sorted
        .take(CorpusOps.StratSampleK).map(_._2).toSeq
      assert(mine.sortBy(_._2).map(_._3).toSeq == expected,
        s"stratum $l: carve diverges from the md5 ranking")
    }
    // ranks are 1..k within each stratum
    got.groupBy(_._1).foreach { case (l, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length).toSeq,
        s"stratum $l ranks not contiguous") }
  }

  test("priority_sample: exact driver replay of priorities, threshold and estimator; subset-sum estimate lands near truth") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def hk(id: Long): Long = java.lang.Long.parseLong(
      md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(13), 16)
    val docs = graft.Tables.t(spark, dir, "documents")
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pri = docs.map { case (id, w) =>
      (id, w, w.toDouble / ((hk(id).toDouble + 1.0) / 4503599627370496.0))
    }
    val k = CorpusOps.PrioritySampleK
    val ranked = pri.sortBy { case (id, _, q) => (-q, id) }.take(k + 1)
    val tau = ranked(k)._3
    val got = CorpusOps.prioritySample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(got.length == k)
    got.foreach { case (rnk, id, w, q, est) =>
      val (eid, ew, eq) = ranked(rnk.toInt - 1)
      assert(id == eid && w == ew && q == eq,
        s"rank $rnk diverges from the driver replay: got ($id,$w,$q), " +
          s"expected ($eid,$ew,$eq)")
      assert(est == math.max(w.toDouble, tau),
        s"rank $rnk estimator weight wrong: $est vs max($w, $tau)")
    }
    // the whole point of priority sampling: the k-row sample estimates
    // the corpus weight total without rescanning (unbiased over the
    // uniform draw; this fixed md5 draw is pinned within 50%)
    val total = docs.map(_._2).sum.toDouble
    val est = got.map(_._5).sum
    assert(math.abs(est - total) / total < 0.5,
      s"subset-sum estimate $est too far from true total $total")
  }

  test("lm_trigram_backoff: tiers populated non-vacuously; train docs score pure-trigram; tier counts conserve") {
    val rows = CorpusOps.lmTrigramBackoff(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, nPos, nTri, nBi, nUni, nUnseen, sum) =>
      assert(nPos == nTri + nBi + nUni + nUnseen,
        s"doc $id tier counts do not conserve")
      // every tier score is ≤ 1, so the dec-rounded mass is bounded
      assert(sum >= 0.0 && sum <= nPos + 1e-6, s"doc $id score mass $sum")
    }
    // the training slice's own trigrams are all model hits by definition
    rows.filter(_._1 % CorpusOps.LmTrainMod == 0).foreach {
      case (id, nPos, nTri, _, _, _, _) =>
        assert(nTri == nPos, s"train doc $id backed off on its own text")
    }
    // tri, bi AND uni fire on the real corpus (LmTrainMod is tuned for
    // exactly this; unseen needs OOV — the constructed spec below)
    assert(rows.map(_._3).sum > 0, "tri tier vacuous")
    assert(rows.map(_._4).sum > 0, "bi tier vacuous")
    assert(rows.map(_._5).sum > 0, "uni tier vacuous")
  }

  test("lm_trigram_backoff: constructed OOV docs hit all four tiers with hand-computed scores") {
    import spark.implicits._
    // train slice = doc 0 only: "a b c a b d"
    //   unigrams a:2 b:2 c:1 d:1 (total 6); bigrams ab:2 bc:1 ca:1 bd:1;
    //   trigrams abc, bca, cab, abd (1 each)
    val docs = Seq(
      0L -> Seq("a", "b", "c", "a", "b", "d"),
      1L -> Seq("a", "b", "c"),   // tri hit:      1/c2(ab)=1/2
      2L -> Seq("d", "a", "b"),   // bi backoff:   0.4·c2(ab)/c1(a)=0.4
      3L -> Seq("b", "d", "c"),   // uni backoff:  0.4·0.4·c1(c)/6
      4L -> Seq("a", "b", "zzz")  // OOV — unseen tier, score 0
    ).toDF("doc_id", "ws")
    val got = CorpusOps.lmTrigramBackoffFrom(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toMap
    assert(got(0L) == ((4L, 4L, 0L, 0L, 0L, 3.0)))  // 0.5+1+1+0.5
    assert(got(1L) == ((1L, 1L, 0L, 0L, 0L, 0.5)))
    assert(got(2L) == ((1L, 0L, 1L, 0L, 0L, 0.4)))
    // 0.4·(0.4·(1/6)) = 0.02666..., dec(18,6)-rounded to 0.026667
    assert(got(3L) == ((1L, 0L, 0L, 1L, 0L, 0.026667)))
    assert(got(4L) == ((1L, 0L, 0L, 0L, 1L, 0.0)))
  }

  test("bm25_topk: full driver replay of the weighting chain — every (doc, term, score, rank) exact") {
    val texts = graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val tf = scala.collection.mutable.Map[(Long, String), Long]()
    val dl = scala.collection.mutable.Map[Long, Long]()
    texts.foreach { case (id, tx) =>
      tx.split(" ").filter(_.nonEmpty).foreach { w =>
        tf((id, w)) = tf.getOrElse((id, w), 0L) + 1
        dl(id) = dl.getOrElse(id, 0L) + 1
      }
    }
    val df = tf.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nd = dl.size.toLong
    val total = dl.values.sum
    val avgdl = total.toDouble / nd.toDouble
    val (bK1, bB) = (TextAnalysis.Bm25K1, TextAnalysis.Bm25B)
    val expected = tf.toSeq.map { case ((id, w), f) =>
      val idf = ((nd - df(w)).toDouble + 0.5) / (df(w).toDouble + 0.5)
      val norm = bK1 * ((1.0 - bB) + bB * (dl(id).toDouble / avgdl))
      val score = idf * ((f.toDouble * (bK1 + 1)) / (f.toDouble + norm))
      (id, w, score)
    }.groupBy(_._1).flatMap { case (id, ts) =>
      ts.sortBy { case (_, w, s) => (-s, w) }.take(3).zipWithIndex
        .map { case ((_, w, s), i) => (id, w, s, i + 1) }
    }.toSet
    val got = TextAnalysis.bm25Topk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(got == expected,
      s"bm25 diverges from driver replay: ${(got -- expected).take(3)} vs " +
        s"${(expected -- got).take(3)}")
  }
}

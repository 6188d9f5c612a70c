package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.{t, dec, asDouble}

/** Corpus-hygiene operators a pre-training pipeline runs beyond dedup +
  * decontamination (builder brief): repetition-based quality gating
  * (Gopher-style), PII scrubbing, deterministic data mixing, and
  * fixed-budget sequence chunking. All pure DataFrame pipelines —
  * codegen'd built-ins, integer-exact ratios — each with a DuckDB oracle.
  *
  * 100 TB shapes: [[qualityGopher]] is two explodes + hash-aggregations
  * with map-side partials (one row per doc out); [[piiRedact]] and
  * [[sampleMix]] are narrow per-row projections/filters on the scan;
  * [[chunkDocs]] explodes one row per CHUNK (output-sized, ~n_tokens/512
  * of the token count). No joins beyond doc-count-sized equi-joins, no
  * windows, no driver round-trips.
  */
object CorpusOps {

  // ---- Gopher-style repetition/quality signals (Rae et al. 2021) ----

  /** Thresholds tuned non-vacuously against the synthetic corpus (both
    * keep=true and keep=false populated at every SF — same discipline as
    * [[Dedup.ContamGram]]; distributions: top_word_frac q05≈0.065 /
    * q95≈0.16, distinct_word_frac q25≈0.36 / q75≈0.6). */
  final val MinWords = 20L
  final val MaxTopWordFrac = 0.10
  final val MinDistinctWordFrac = 0.4
  final val MaxDupBigramFrac = 0.05
  final val MinMeanWordLen = 3.0
  final val MaxMeanWordLen = 10.0

  /** Per-document repetition & shape signals with a composite keep flag:
    * word count, mean word length, top-word mass fraction, distinct-word
    * fraction, duplicated-bigram fraction. Every ratio is an exact-int
    * IEEE division, so the keep DECISION is bit-identical to the oracle's. */
  def qualityGopher(spark: SparkSession, dir: String): DataFrame =
    qualityGopherFrom(t(spark, dir, "documents"))

  /** [[qualityGopher]] over an explicit documents frame — the label
    * provider for [[qualityModelScore]]'s training slice runs this on the
    * slice only, so label cost is slice-sized, never corpus-sized. */
  private def qualityGopherFrom(docsIn: DataFrame): DataFrame = {
    val docs = docsIn
      .select(col("doc_id"), col("text"))
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 2) // sequence(1, size-1) must not descend
    val words = docs.select(col("doc_id"), explode(col("ws")).as("word"))
    val tf = words.groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c"))
    val wstats = tf.groupBy(col("doc_id")).agg(
      max(col("c")).as("mx"),
      sum(col("c")).as("n_words"),
      count(lit(1)).as("n_distinct"),
      // Σ c·len(word) ≡ length(text without spaces): chars fall out of the
      // word aggregate, saving a third corpus scan + a doc-level join
      sum(col("c") * length(col("word"))).as("alpha_chars"))
    val bigrams = docs.select(col("doc_id"), explode(expr(
      "transform(sequence(1, size(ws)-1), " +
        "i -> concat(element_at(ws, i), ' ', element_at(ws, i+1)))"))
      .as("bigram"))
    val bstats = bigrams.groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg((sum(col("c")) - count(lit(1))).as("dup_b"),
        sum(col("c")).as("n_b"))
    val scored = wstats.join(bstats, Seq("doc_id"))
      .select(
        col("doc_id"),
        col("n_words"),
        (col("alpha_chars").cast("double") / col("n_words")).as("mean_word_len"),
        (col("mx").cast("double") / col("n_words")).as("top_word_frac"),
        (col("n_distinct").cast("double") / col("n_words")).as("distinct_word_frac"),
        (col("dup_b").cast("double") / col("n_b")).as("dup_bigram_frac"))
    scored.withColumn("keep",
      col("n_words") >= MinWords &&
        col("top_word_frac") <= MaxTopWordFrac &&
        col("distinct_word_frac") >= MinDistinctWordFrac &&
        col("dup_bigram_frac") <= MaxDupBigramFrac &&
        col("mean_word_len") >= MinMeanWordLen &&
        col("mean_word_len") <= MaxMeanWordLen)
      .orderBy(col("doc_id"))
  }

  val qualityGopherSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
       |tf AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2),
       |wstats AS (
       |  -- CAST: DuckDB widens integer sum() to HUGEINT; Spark emits BIGINT
       |  -- and the driver's hash is type-sensitive (round-4 red row)
       |  SELECT doc_id, max(c) AS mx, CAST(sum(c) AS BIGINT) AS n_words,
       |         count(*) AS n_distinct,
       |         sum(c * length(word)) AS alpha_chars
       |  FROM tf GROUP BY 1),
       |d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |      WHERE len(string_split(text, ' ')) >= 2),
       |bg AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
       |    i -> ws[i] || ' ' || ws[i+1])) AS bigram
       |  FROM d),
       |bc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
       |bstats AS (
       |  SELECT doc_id, sum(c) - count(*) AS dup_b, sum(c) AS n_b
       |  FROM bc GROUP BY 1),
       |scored AS (
       |  SELECT doc_id, n_words,
       |    CAST(alpha_chars AS DOUBLE) / n_words AS mean_word_len,
       |    CAST(mx AS DOUBLE) / n_words AS top_word_frac,
       |    CAST(n_distinct AS DOUBLE) / n_words AS distinct_word_frac,
       |    CAST(dup_b AS DOUBLE) / n_b AS dup_bigram_frac
       |  FROM wstats JOIN bstats USING (doc_id))
       |SELECT doc_id, n_words, mean_word_len, top_word_frac,
       |  distinct_word_frac, dup_bigram_frac,
       |  (n_words >= $MinWords AND top_word_frac <= $MaxTopWordFrac
       |   AND distinct_word_frac >= $MinDistinctWordFrac
       |   AND dup_bigram_frac <= $MaxDupBigramFrac
       |   AND mean_word_len >= $MinMeanWordLen
       |   AND mean_word_len <= $MaxMeanWordLen) AS keep
       |FROM scored ORDER BY doc_id""".stripMargin

  // ---- model-based quality scoring (learned classifier over hashed bigrams) ----

  /** Bucket count of the hashed-bigram feature space. The full feature
    * vector is 2·[[QmDim]]+1 wide: per-bucket COUNTS (j < QmDim), a
    * binarized PRESENCE view of the same buckets (QmDim ≤ j < 2·QmDim),
    * and a bias (j = 2·QmDim). The dual view is what makes the
    * repetition-shaped gates linearly expressible — Σcounts is total
    * bigrams, Σpresence ≈ distinct bigrams, so a linear threshold can
    * encode "distinct < (1−τ)·total" (the dup-bigram gate); counts alone
    * collapsed to the majority class in calibration (0.735 = baseline vs
    * 0.875 trained, sf0.01). Small enough that the weight vector inlines
    * as a literal array in the scoring expression — no join, no broadcast
    * table. */
  final val QmDim = 128L
  /** Modulus of the per-bigram polynomial rolling hash (pre-bucketing) —
    * keeps the fold's accumulator small enough that a*31+cp never
    * approaches 2^63. */
  final val QmHashMod = 1L << 20
  /** Fixed-point scale for labels, probabilities and weights (2^16): all
    * training arithmetic is BIGINT at this scale with explicit
    * truncate-toward-zero divisions, so the trained weights are a pure
    * integer function of the data — replayable bit-identically in SQL
    * (the [[graft.operators.Similarity.SemDedupQScale]] discipline). */
  final val QmScale = 1L << 16
  /** Gradient rounds. Fixed: each round is two slice-sized aggregates and
    * a ≤(2·[[QmDim]]+1)-row collect; the unrolled oracle replays exactly
    * this many. Calibrated with [[QmLrDiv]] (train agreement beats the
    * majority baseline by 6–14 points at every SF; both verdict classes
    * populated — pinned in CorpusOpsSpec). */
  final val QmRounds = 16
  /** Labeled-slice boundary (doc_id < cap): the stand-in for the small
    * human/model-labeled sample real pipelines fit their fastText-style
    * quality classifier on — labels here are the [[qualityGopher]]
    * verdicts of the slice, so the whole train+score chain stays
    * self-contained and oracle-replayable. */
  final val QmTrainCap = 200L
  /** Learning-rate divisor: the per-round update is
    * w_j -= tdiv(g_j, n·[[QmLrDiv]]) where n is the labeled-doc count —
    * i.e. learning rate 1/QmLrDiv on the mean gradient. */
  final val QmLrDiv = 4L

  /** Truncate-toward-zero BIGINT division, FORCED identical in both
    * engines: for nonnegative operands every engine's integer division
    * agrees, so the sign is peeled off explicitly (Spark's `div` and
    * DuckDB's `//` differ on negative numerators). */
  private def tdiv(a: Column, b: Column): Column =
    when(a >= 0, expr_div(a, b)).otherwise(-expr_div(-a, b))
  private def expr_div(a: Column, b: Column): Column =
    a.divide(b).cast("long") // operands kept nonnegative by the caller

  /** The divisor is parenthesized — `a // n * 64` is `(a // n) * 64` by
    * left-to-right precedence, a 64²-fold mis-scaling of the update. */
  private def tdivSql(a: String, b: String): String =
    s"(CASE WHEN $a >= 0 THEN ($a) // ($b) ELSE -((-($a)) // ($b)) END)"

  /** (doc_id, ws) spine shared by features and labels — the same
    * tokenization [[qualityGopher]] scores, so the label frame and the
    * feature frame describe the same documents. */
  private def qmDocs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)

  /** Hashed-bigram feature rows (doc_id, j, x): adjacent word pairs →
    * polynomial code-point hash mod [[QmHashMod]] → bucket mod [[QmDim]] →
    * per-(doc, bucket) counts, then the tri-view layout of [[QmDim]]
    * (count view, presence view, bias). The hash is deliberately a plain
    * integer fold over code points (not xxhash) so the ORACLE computes
    * the identical bucket for every bigram — the feature space itself is
    * part of the verified contract. */
  private def qmFeatures(docs: DataFrame): DataFrame = {
    val counts = docs.select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws)-1), " +
          "i -> concat(element_at(ws, i), ' ', element_at(ws, i+1)))"))
        .as("bigram"))
      .withColumn("j", expr(
        s"""aggregate(
           |  transform(sequence(1, char_length(bigram)),
           |            i -> CAST(ascii(substring(bigram, i, 1)) AS BIGINT)),
           |  CAST(0 AS BIGINT),
           |  (a, cp) -> (a * 31 + cp) % $QmHashMod) % $QmDim""".stripMargin))
      .groupBy(col("doc_id"), col("j")).agg(count(lit(1)).as("x"))
    // count + presence features from ONE row-local explode — the prior
    // union referenced `counts` (bigram explode + rolling-hash fold +
    // aggregate) in both legs, executing that subtree twice (guide §2.4)
    counts.select(col("doc_id"), explode(array(
        struct(col("j"), col("x")),
        struct((col("j") + QmDim).as("j"), lit(1L).as("x")))).as("f"))
      .select(col("doc_id"), col("f.j").as("j"), col("f.x").as("x"))
      .union(docs.select(col("doc_id"), lit(2L * QmDim), lit(1L)))
  }

  /** Hard-sigmoid probability at [[QmScale]]: clamp(S/2 + z/4, 0, S) —
    * the piecewise-linear logistic surrogate (slope matches σ'(0)=1/4)
    * whose integer arithmetic both engines replay exactly; a true σ would
    * put a transcendental between the engines. */
  private def qmProb(z: Column): Column = {
    val raw = lit(QmScale / 2) + tdiv(z, lit(4L))
    least(greatest(raw, lit(0L)), lit(QmScale))
  }

  /** Trained weight vector (scaled by [[QmScale]]): batch gradient descent
    * for logistic loss under the hard-sigmoid surrogate, on the labeled
    * slice. Per round: one slice-sized aggregate for per-doc scores, one
    * for per-bucket gradients; the ≤[[QmDim]] gradient rows come to the
    * driver and the update is exact Long arithmetic (the
    * [[graft.operators.Similarity.semDedupCentroids]] cadence — bounded
    * collect, driver-side exact update, weights re-broadcast as
    * literals). */
  def qualityModelWeights(spark: SparkSession, dir: String): Array[Long] = {
    val slice = qmDocs(spark, dir).filter(col("doc_id") < QmTrainCap)
    // The labeled-slice CONTRACT makes this collect bounded: labels are
    // expensive, so the slice is O(10^3–10^4) docs at ANY corpus size —
    // its feature rows (≤ 2·bigrams+1 per doc) come to the driver once,
    // the KMR-holistic-gather / BPE-election discipline. The 16 gradient
    // rounds then run driver-side in the SAME exact-Long arithmetic the
    // distributed formulation used (round-8 bench: a Spark job per round
    // spent ~13 s scheduling tiny stages over the 200-doc slice; this is
    // one feature job + one label job, ~10× faster, bit-identical
    // weights, so the unrolled oracle is untouched). Scoring — the part
    // that IS corpus-sized — stays fully distributed.
    val feats = qmFeatures(slice).collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2)))
    val labels = qualityGopherFrom(
        t(spark, dir, "documents").filter(col("doc_id") < QmTrainCap))
      .select(col("doc_id"),
        when(col("keep"), lit(QmScale)).otherwise(lit(0L)).as("y"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = labels.size.toLong
    val byDoc = feats.groupBy(_._1)
    val w = Array.fill((2 * QmDim + 1).toInt)(0L)
    (1 to QmRounds).foreach { _ =>
      // per-doc margin and hard-sigmoid error (qmProb's arithmetic: JVM
      // Long `/` truncates toward zero, matching tdiv on either sign)
      val err = byDoc.map { case (d, rows) =>
        val z = rows.foldLeft(0L) { case (a, (_, j, x)) => a + x * w(j) }
        val raw = QmScale / 2 + z / 4
        val p = math.min(math.max(raw, 0L), QmScale)
        d -> (p - labels(d))
      }
      val g = Array.fill(w.length)(0L)
      feats.foreach { case (d, j, x) => g(j) += err(d) * x }
      g.indices.foreach(j => w(j) = w(j) - tdivLong(g(j), n * QmLrDiv))
    }
    w
  }

  private def tdivLong(a: Long, b: Long): Long = a / b // JVM / truncates toward zero

  /** MODEL-BASED quality scoring — the learned companion of the rule-based
    * [[qualityGopher]] gate (real pipelines pair a Gopher-style heuristic
    * with a fastText/logistic classifier; e.g. the CCNet/LLaMA corpus
    * recipes): a hashed-bigram linear model is TRAINED IN-ENGINE on a
    * labeled slice and then scores the whole corpus. Output per doc:
    * the raw margin `z` (scaled by [[QmScale]]), the hard-sigmoid
    * probability `p`, and the keep verdict — all BIGINT/boolean, so the
    * driver gate is hash-exact.
    *
    * The ORACLE replays everything — feature hashing, the label
    * derivation, all [[QmRounds]] gradient rounds (unrolled CTEs), and
    * the final scoring pass — so the equality gate certifies the
    * TRAINING, not just the scoring arithmetic.
    *
    * 100 TB shape: training cost is slice-sized by the labeled-slice
    * premise (labels are expensive; the corpus is not the training set);
    * scoring is one explode + two hash-aggregates per document with the
    * weight vector inlined as a literal array — no join, no broadcast, no
    * window, map-side partials throughout. */
  def qualityModelScore(spark: SparkSession, dir: String): DataFrame = {
    val w = qualityModelWeights(spark, dir)
    val wCol = array(w.map(lit(_)): _*)
    qmFeatures(qmDocs(spark, dir))
      .withColumn("wj", element_at(wCol, (col("j") + 1).cast("int")))
      .groupBy(col("doc_id")).agg(sum(col("x") * col("wj")).as("z"))
      .select(col("doc_id"), col("z"), qmProb(col("z")).as("p"))
      .withColumn("keep_model", col("p") >= lit(QmScale / 2))
      .orderBy(col("doc_id"))
  }

  /** Oracle for [[qualityModelScore]]: the full train-and-score replay in
    * one generated query — features, Gopher labels on the slice, the
    * gradient rounds unrolled as w0..w[[QmRounds]] CTEs, then corpus
    * scoring against the final weights. Generated by a Scala loop so the
    * round count stays in one place. The shared frames (d/bg/fc/f/lab)
    * are MATERIALIZED: DuckDB inlines plain CTEs per reference, and the
    * unrolled rounds reference f/lab dozens of times — each inline
    * re-opened the parquet ("Too many open files" at 16 rounds). */
  lazy val qualityModelScoreSql: String = {
    val S = QmScale
    // every per-round CTE is MATERIALIZED: w_r references w_{r-1} three
    // times (via z_r, g_r and directly), so plain CTEs would inline the
    // whole prefix chain ~3^rounds times — plan-size blowup that ran for
    // minutes at 16 rounds; materialized, each round computes once
    val roundCtes = (1 to QmRounds).map { r =>
      val zt = tdivSql("z", "4")
      val gt = tdivSql("COALESCE(g.g, 0)", s"(SELECT n FROM n) * $QmLrDiv")
      s"""z$r AS MATERIALIZED (
         |  SELECT f.doc_id, CAST(SUM(f.x * w.w) AS BIGINT) AS z
         |  FROM f JOIN w${r - 1} w USING (j) JOIN lab USING (doc_id)
         |  GROUP BY 1),
         |p$r AS MATERIALIZED (
         |  SELECT doc_id,
         |    LEAST(GREATEST(${S / 2} + $zt, 0), $S) AS p
         |  FROM z$r),
         |g$r AS MATERIALIZED (
         |  SELECT f.j, CAST(SUM((p.p - lab.y) * f.x) AS BIGINT) AS g
         |  FROM f JOIN p$r p USING (doc_id) JOIN lab USING (doc_id)
         |  GROUP BY 1),
         |w$r AS MATERIALIZED (
         |  SELECT w.j, CAST(w.w - $gt AS BIGINT) AS w
         |  FROM w${r - 1} w LEFT JOIN g$r g USING (j))""".stripMargin
    }.mkString(",\n")
    val zft = tdivSql("z", "4")
    s"""WITH d AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2),
       |bg AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
       |    i -> ws[i] || ' ' || ws[i+1])) AS b
       |  FROM d),
       |fc AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(1, length(b) + 1),
       |                       i -> CAST(ascii(b[i:i]) AS BIGINT))),
       |      (a, cp) -> (a * 31 + cp) % $QmHashMod) % $QmDim AS j,
       |    CAST(count(*) AS BIGINT) AS x
       |  FROM bg GROUP BY 1, 2),
       |f AS MATERIALIZED (
       |  SELECT doc_id, j, x FROM fc
       |  UNION ALL
       |  SELECT doc_id, j + $QmDim, CAST(1 AS BIGINT) FROM fc
       |  UNION ALL
       |  SELECT doc_id, CAST(${2 * QmDim} AS BIGINT), CAST(1 AS BIGINT) FROM d),
       |w_in AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |  FROM documents
       |  WHERE doc_id < $QmTrainCap AND len(string_split(text, ' ')) >= 2),
       |tf AS (SELECT doc_id, word, count(*) AS c FROM w_in GROUP BY 1, 2),
       |wstats AS (
       |  SELECT doc_id, max(c) AS mx, CAST(sum(c) AS BIGINT) AS n_words,
       |         count(*) AS n_distinct, sum(c * length(word)) AS alpha_chars
       |  FROM tf GROUP BY 1),
       |bc AS (SELECT doc_id, b AS bigram, count(*) AS c FROM bg
       |       WHERE doc_id < $QmTrainCap GROUP BY 1, 2),
       |bstats AS (
       |  SELECT doc_id, sum(c) - count(*) AS dup_b, sum(c) AS n_b
       |  FROM bc GROUP BY 1),
       |lab AS MATERIALIZED (
       |  SELECT s.doc_id,
       |    CASE WHEN s.n_words >= $MinWords
       |          AND CAST(s.mx AS DOUBLE) / s.n_words <= $MaxTopWordFrac
       |          AND CAST(s.n_distinct AS DOUBLE) / s.n_words >= $MinDistinctWordFrac
       |          AND CAST(b.dup_b AS DOUBLE) / b.n_b <= $MaxDupBigramFrac
       |          AND CAST(s.alpha_chars AS DOUBLE) / s.n_words >= $MinMeanWordLen
       |          AND CAST(s.alpha_chars AS DOUBLE) / s.n_words <= $MaxMeanWordLen
       |      THEN $S ELSE 0 END AS y
       |  FROM wstats s JOIN bstats b USING (doc_id)),
       |n AS (SELECT count(*) AS n FROM lab),
       |w0 AS (SELECT CAST(range AS BIGINT) AS j, CAST(0 AS BIGINT) AS w
       |       FROM range(0, ${2 * QmDim + 1})),
       |$roundCtes,
       |zf AS (
       |  SELECT f.doc_id, CAST(SUM(f.x * w.w) AS BIGINT) AS z
       |  FROM f JOIN w$QmRounds w USING (j) GROUP BY 1)
       |SELECT doc_id, z,
       |  CAST(LEAST(GREATEST(${S / 2} + $zft, 0), $S) AS BIGINT) AS p,
       |  LEAST(GREATEST(${S / 2} + $zft, 0), $S) >= ${S / 2} AS keep_model
       |FROM zf ORDER BY doc_id""".stripMargin
  }

  // ---- corpus-LM fluency scoring (the CCNet-style quality signal) ----

  /** A bigram is "rare" if the whole corpus contains it fewer than this
    * many times. Tuned non-vacuously (keep split at rare<5: 475/25 sf0.001,
    * 475/25 sf0.01, 4985/15 sf0.1). */
  final val LmRareBelow = 5L

  /** Language-model fluency scoring against a model trained ON the corpus
    * itself — the CCNet/Wikipedia-LM filter shape (Wenzek et al. 2020):
    * docs whose n-grams the corpus LM finds familiar score high; docs full
    * of rare transitions score low and get gated. The statistic is
    * integer-exact by construction (bigram-frequency counts and an exact
    * final division) rather than a floating log-prob: a sum of per-bigram
    * log-probabilities is order-dependent in IEEE doubles, so two engines
    * summing in different orders could disagree in the last ulp — counts
    * cannot. keep = "no rare bigram at all" ([[LmRareBelow]]).
    *
    * 100 TB shape: train = ONE corpus-sized hash-aggregate over the bigram
    * explode (map-side partials); score = an equi-join of the same explode
    * against the model table (vocab-sized, but never broadcast — bigram
    * vocab at corpus scale exceeds executor memory) and a doc-keyed
    * hash-aggregate. No windows, no driver round-trips, no double sums. */
  def lmBigramScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2) // sequence(1, size-1) must not descend
    val bigrams = docs.select(col("doc_id"), explode(expr(
      "transform(sequence(1, size(ws)-1), " +
        "i -> concat(element_at(ws, i), ' ', element_at(ws, i+1)))"))
      .as("bigram"))
    val model = bigrams.groupBy(col("bigram")).agg(count(lit(1)).as("cc"))
    bigrams.join(model, Seq("bigram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("cc") < LmRareBelow, 1L).otherwise(0L)).as("n_rare"),
        sum(col("cc")).as("sum_freq"))
      .select(col("doc_id"), col("n_bigrams"), col("n_rare"),
        (col("n_rare").cast("double") / col("n_bigrams")).as("rare_frac"),
        (col("sum_freq").cast("double") / col("n_bigrams"))
          .as("mean_bigram_freq"),
        (col("n_rare") === 0L).as("keep"))
      .orderBy(col("doc_id"))
  }

  val lmBigramScoreSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
       |           FROM documents WHERE len(string_split(text, ' ')) >= 2),
       |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
       |         i -> ws[i] || ' ' || ws[i+1])) AS bigram FROM d),
       |model AS (SELECT bigram, CAST(count(*) AS BIGINT) AS cc
       |          FROM bg GROUP BY 1),
       |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |        CAST(sum(CASE WHEN cc < $LmRareBelow THEN 1 ELSE 0 END)
       |          AS BIGINT) AS n_rare,
       |        CAST(sum(cc) AS BIGINT) AS sum_freq
       |      FROM bg JOIN model USING (bigram) GROUP BY 1)
       |SELECT doc_id, n_bigrams, n_rare,
       |  CAST(n_rare AS DOUBLE) / n_bigrams AS rare_frac,
       |  CAST(sum_freq AS DOUBLE) / n_bigrams AS mean_bigram_freq,
       |  (n_rare = 0) AS keep
       |FROM s ORDER BY doc_id""".stripMargin

  // ---- trigram LM with stupid backoff (Brants et al. 2007) ----

  /** Backoff discount α for [[lmTrigramBackoff]] (the 0.4 of Brants et
    * al., "Large language models in machine translation", EMNLP 2007). */
  final val BackoffAlpha = 0.4d

  /** Train-slice selector: docs with doc_id ≡ 0 (mod this) form the LM
    * TRAINING slice; everything is scored. Small-curated-LM-scores-big-
    * corpus is the CCNet deployment shape (Wenzek et al. 2020), and the
    * 4% slice keeps the tri/bi/uni tiers populated non-vacuously at
    * every SF (25: tri 1.7k/bi 15k/uni 10k at sf0.001 — a majority
    * train slice covers every held-out bigram and the backoff tiers go
    * vacuous; the synthetic vocabulary is closed, so the unseen tier is
    * exercised by the constructed-OOV spec instead). */
  final val LmTrainMod = 25L

  /** Trigram language model with STUPID BACKOFF (Brants et al. 2007) —
    * the web-scale LM scoring recipe: no smoothing mass bookkeeping, just
    * S(w₃|w₁w₂) = c₃/c₂ when the trigram is known, else α·c₂(w₂w₃)/c₁(w₂),
    * else α²·c₁(w₃)/total, else 0. Trained on the mod-[[LmTrainMod]]
    * slice, scored over every doc with ≥3 tokens; per-doc output reports
    * the tier population (n_tri/n_bi/n_uni/n_unseen) and the exact
    * dec-summed score mass ([[graft.Tables.dec]] discipline — a raw
    * double sum is partition-order-dependent).
    *
    * 100 TB shape — the tiered-join cascade, not five corpus shuffles:
    * the context denominators are folded into the MODEL tables first
    * (model3 = c₃ ⋈ c₂-context, model2 = c₂ ⋈ c₁-context — vocab-scale
    * joins, never corpus-scale), then the position stream probes model3
    * ONCE; only the misses (the unseen-trigram minority) re-shuffle to
    * probe model2, and only their misses probe c₁. Each tier's stream
    * shrinks geometrically, every join is an equi-join with map-side
    * partial-combinable count aggregation upstream, and no model table
    * is ever broadcast (corpus-scale vocabularies exceed executor
    * memory — the [[lmBigramScore]] contract). */
  def lmTrigramBackoff(spark: SparkSession, dir: String): DataFrame =
    lmTrigramBackoffFrom(t(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws")))

  /** Core of [[lmTrigramBackoff]] over an explicit `(doc_id, ws)` frame —
    * factored so the spec can inject constructed OOV documents and
    * exercise the unseen tier the closed synthetic vocabulary never
    * reaches. */
  private[operators] def lmTrigramBackoffFrom(docs: DataFrame): DataFrame = {
    val a = lit(BackoffAlpha)
    val train = docs.filter(col("doc_id") % LmTrainMod === 0)

    def tris(src: DataFrame): DataFrame = src.filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(3, size(ws)), i -> struct(" +
          "element_at(ws, i-2) as w1, element_at(ws, i-1) as w2, " +
          "element_at(ws, i) as w3))")).as("g"))
      .select(col("doc_id"), col("g.w1"), col("g.w2"), col("g.w3"))
    // ALL THREE model tables from ONE explode + ONE aggregate + ONE
    // materialization (levels tagged by w2/w3 nullness), instead of the
    // r17 three train-slice scans + three shuffles + three shared
    // frames: same total exchange rows in one pass, and two fewer
    // ~0.3 s fixed materialization costs (guide §1.2: fewer passes
    // first). The level views below read the one cached frame.
    val models = graft.SharedFrames.sharedLazy(
      train.select(explode(concat(
          expr("transform(ws, w -> struct(w AS w1, " +
            "CAST(NULL AS STRING) AS w2, CAST(NULL AS STRING) AS w3))"),
          expr("CASE WHEN size(ws) >= 2 THEN " +
            "transform(sequence(2, size(ws)), i -> struct(" +
            "element_at(ws, i-1) AS w1, element_at(ws, i) AS w2, " +
            "CAST(NULL AS STRING) AS w3)) ELSE array() END"),
          expr("CASE WHEN size(ws) >= 3 THEN " +
            "transform(sequence(3, size(ws)), i -> struct(" +
            "element_at(ws, i-2) AS w1, element_at(ws, i-1) AS w2, " +
            "element_at(ws, i) AS w3)) ELSE array() END"))).as("g"))
        .select(col("g.w1"), col("g.w2"), col("g.w3"))
        .groupBy(col("w1"), col("w2"), col("w3"))
        .agg(count(lit(1)).as("cnt")))
    val unis = models.filter(col("w2").isNull)
      .select(col("w1").as("w"), col("cnt").as("c1"))
    val bigs = models.filter(col("w2").isNotNull && col("w3").isNull)
      .select(col("w1"), col("w2"), col("cnt").as("c2"))
    val trigs = models.filter(col("w3").isNotNull)
      .select(col("w1"), col("w2"), col("w3"), col("cnt").as("c3"))
    val total = unis.agg(sum(col("c1")).as("total"))

    // context denominators folded into the model tables (vocab-scale)
    val model3 = trigs.join(
      bigs.select(col("w1"), col("w2"), col("c2").as("ctx2")),
      Seq("w1", "w2"))
    val model2 = bigs.join(
      unis.select(col("w").as("w1"), col("c1").as("ctx1")), Seq("w1"))

    // each tier stream feeds TWO consumers (its hit join and the next
    // tier's anti-join) — materialized once or the explode/cascade
    // upstream re-runs per consumer (the SharedFrames contract)
    val stream = graft.SharedFrames.sharedLazy(tris(docs))
    val hit3 = stream.join(model3, Seq("w1", "w2", "w3"))
      .select(col("doc_id"), lit("tri").as("tier"),
        (col("c3").cast("double") / col("ctx2").cast("double")).as("s"))
    val miss3 = graft.SharedFrames.sharedLazy(
      stream.join(trigs.select(col("w1"), col("w2"), col("w3")),
        Seq("w1", "w2", "w3"), "left_anti"))
    val hit2 = miss3.join(model2.select(col("w1").as("w2"),
        col("w2").as("w3"), col("c2"), col("ctx1")), Seq("w2", "w3"))
      .select(col("doc_id"), lit("bi").as("tier"),
        (a * (col("c2").cast("double") / col("ctx1").cast("double"))).as("s"))
    val miss2 = graft.SharedFrames.sharedLazy(miss3.join(
      bigs.select(col("w1").as("w2"), col("w2").as("w3")),
      Seq("w2", "w3"), "left_anti"))
    val hit1 = miss2.join(unis.select(col("w").as("w3"), col("c1")),
        Seq("w3")).crossJoin(broadcast(total))
      .select(col("doc_id"), lit("uni").as("tier"),
        (a * (a * (col("c1").cast("double") /
          col("total").cast("double")))).as("s"))
    val unseen = miss2.join(unis.select(col("w").as("w3")),
        Seq("w3"), "left_anti")
      .select(col("doc_id"), lit("unseen").as("tier"), lit(0.0d).as("s"))

    hit3.unionByName(hit2).unionByName(hit1).unionByName(unseen)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pos"),
        sum(when(col("tier") === "tri", 1L).otherwise(0L)).as("n_tri"),
        sum(when(col("tier") === "bi", 1L).otherwise(0L)).as("n_bi"),
        sum(when(col("tier") === "uni", 1L).otherwise(0L)).as("n_uni"),
        sum(when(col("tier") === "unseen", 1L).otherwise(0L)).as("n_unseen"),
        asDouble(sum(dec(col("s")))).as("sum_score"))
      .orderBy(col("doc_id"))
  }

  val lmTrigramBackoffSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
       |           FROM documents),
       |tr AS (SELECT doc_id, ws FROM d WHERE doc_id % $LmTrainMod = 0),
       |uni AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM
       |    (SELECT unnest(ws) AS w FROM tr) GROUP BY 1),
       |big AS (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM
       |    (SELECT unnest(list_transform(range(2, len(ws)+1),
       |       i -> struct_pack(w1 := ws[i-1], w2 := ws[i])), recursive := true)
       |     FROM tr WHERE len(ws) >= 2) GROUP BY 1, 2),
       |tri AS (
       |  SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c3 FROM
       |    (SELECT unnest(list_transform(range(3, len(ws)+1),
       |       i -> struct_pack(w1 := ws[i-2], w2 := ws[i-1], w3 := ws[i])),
       |       recursive := true)
       |     FROM tr WHERE len(ws) >= 3) GROUP BY 1, 2, 3),
       |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS total FROM uni),
       |pos AS (
       |  SELECT doc_id, w1, w2, w3 FROM
       |    (SELECT doc_id, unnest(list_transform(range(3, len(ws)+1),
       |       i -> struct_pack(w1 := ws[i-2], w2 := ws[i-1], w3 := ws[i])),
       |       recursive := true)
       |     FROM d WHERE len(ws) >= 3)),
       |scored AS (
       |  SELECT p.doc_id,
       |    CASE WHEN t.c3 IS NOT NULL THEN 'tri'
       |         WHEN b2.c2 IS NOT NULL THEN 'bi'
       |         WHEN u3.c1 IS NOT NULL THEN 'uni'
       |         ELSE 'unseen' END AS tier,
       |    CASE WHEN t.c3 IS NOT NULL THEN
       |           CAST(t.c3 AS DOUBLE) / CAST(bc.c2 AS DOUBLE)
       |         WHEN b2.c2 IS NOT NULL THEN
       |           CAST('$BackoffAlpha' AS DOUBLE) *
       |             (CAST(b2.c2 AS DOUBLE) / CAST(u2.c1 AS DOUBLE))
       |         WHEN u3.c1 IS NOT NULL THEN
       |           CAST('$BackoffAlpha' AS DOUBLE) *
       |             (CAST('$BackoffAlpha' AS DOUBLE) *
       |              (CAST(u3.c1 AS DOUBLE) / CAST(tot.total AS DOUBLE)))
       |         ELSE CAST(0 AS DOUBLE) END AS s
       |  FROM pos p
       |  LEFT JOIN tri t ON t.w1 = p.w1 AND t.w2 = p.w2 AND t.w3 = p.w3
       |  LEFT JOIN big bc ON bc.w1 = p.w1 AND bc.w2 = p.w2
       |  LEFT JOIN big b2 ON b2.w1 = p.w2 AND b2.w2 = p.w3
       |  LEFT JOIN uni u2 ON u2.w = p.w2
       |  LEFT JOIN uni u3 ON u3.w = p.w3
       |  CROSS JOIN tot)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pos,
       |  CAST(SUM(CASE WHEN tier = 'tri' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_tri,
       |  CAST(SUM(CASE WHEN tier = 'bi' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_bi,
       |  CAST(SUM(CASE WHEN tier = 'uni' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_uni,
       |  CAST(SUM(CASE WHEN tier = 'unseen' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_unseen,
       |  CAST(CAST(SUM(CAST(s AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
       |    AS sum_score
       |FROM scored GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---- PII scrubbing ----

  // patterns restricted to the java.util.regex ∩ RE2 common subset
  // (char classes, +, bounded repeats — no backrefs, no lookaround), so
  // Spark and DuckDB compile them identically
  final val EmailPattern = "[a-z0-9#._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  final val Ipv4Pattern = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** PII scrubbing over a user-profile projection: redact emails and IPv4
    * addresses, reporting per-profile redaction counts. The engine's
    * profile blobs (SET/GET content) are arbitrary user text — the
    * testdata carries none, so the demo input PLANTS pii deterministically
    * from customer columns (documented stand-in, not discovery: the gate
    * proves redaction and counting are exact, and the spec separately
    * proves clean text passes through byte-identical with count 0). */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val prof = t(spark, dir, "customer").select(col("c_custkey"),
      concat(col("c_name"), lit(" <"), lower(col("c_name")),
        lit("@corp.example> from 10.0."),
        pmod(col("c_custkey"), lit(256L)).cast("string"), lit("."),
        pmod(col("c_nationkey").cast("long"), lit(256L)).cast("string"))
        .as("profile"))
    prof.select(
      col("c_custkey"),
      regexp_count(col("profile"), lit(EmailPattern)).as("n_emails"),
      regexp_count(col("profile"), lit(Ipv4Pattern)).as("n_ips"),
      regexp_replace(
        regexp_replace(col("profile"), EmailPattern, "[EMAIL]"),
        Ipv4Pattern, "[IP]").as("redacted"))
      .orderBy(col("c_custkey"))
  }

  val piiRedactSql: String =
    s"""SELECT c_custkey,
       |  CAST(len(regexp_extract_all(profile, '$EmailPattern')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(profile, '$Ipv4Pattern')) AS INT) AS n_ips,
       |  regexp_replace(regexp_replace(profile, '$EmailPattern', '[EMAIL]', 'g'),
       |                 '$Ipv4Pattern', '[IP]', 'g') AS redacted
       |FROM (
       |  SELECT c_custkey,
       |    c_name || ' <' || lower(c_name) || '@corp.example> from 10.0.' ||
       |    CAST(c_custkey % 256 AS VARCHAR) || '.' ||
       |    CAST(CAST(c_nationkey AS BIGINT) % 256 AS VARCHAR) AS profile
       |  FROM customer)
       |ORDER BY c_custkey""".stripMargin

  // ---- deterministic data mixing ----

  /** Per-language sampling-rate ceilings: the first md5 byte of the doc id
    * (lexical hex compare — engine-neutral) must fall below the language's
    * ceiling. en 25%, de 50%, fr 12.5%, everything else ~100%. */
  final val MixCeilings: Seq[(String, String)] =
    Seq("en" -> "40", "de" -> "80", "fr" -> "20")
  final val MixDefaultCeiling = "ff"

  /** Deterministic stratified sampling for data mixing: keep a
    * language-dependent fraction of documents, selected by the md5 of the
    * doc id — reproducible across engines, runs and partitionings (no RNG:
    * the sample is a pure function of the id). The standard knob for
    * up/down-weighting sources when composing a training mix. */
  def sampleMix(spark: SparkSession, dir: String): DataFrame = {
    val ceiling = MixCeilings.foldRight(lit(MixDefaultCeiling): org.apache.spark.sql.Column) {
      case ((lang, ceil), els) => when(col("lang") === lang, lit(ceil)).otherwise(els)
    }
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
          .as("bucket"))
      .filter(col("bucket") < ceiling)
      .orderBy(col("doc_id"))
  }

  val sampleMixSql: String = {
    val cases = MixCeilings.map { case (l, c) => s"WHEN lang = '$l' THEN '$c'" }
      .mkString(" ")
    s"""SELECT doc_id, lang, bucket FROM (
       |  SELECT doc_id, lang,
       |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
       |  FROM documents)
       |WHERE bucket < (CASE $cases ELSE '$MixDefaultCeiling' END)
       |ORDER BY doc_id""".stripMargin
  }

  /** DATASET CARD — the one-row corpus report a data release ships with:
    * document/language/source counts, exact token and character totals,
    * empty-doc and redundant-copy counts (docs beyond their fingerprint
    * group's one keeper), and the longest document. ONE scan, one
    * partial-combinable aggregation (the multi-distinct plans through a
    * single Expand); at 100 TB this is the cheapest full-corpus
    * statement of record there is. */
  def corpusReport(spark: SparkSession, dir: String): DataFrame = {
    val toks = size(filter(split(col("text"), " "),
      x => length(x) > 0)).cast("long")
    t(spark, dir, "documents").agg(
      count(lit(1)).as("n_docs"),
      count_distinct(col("lang")).as("n_langs"),
      count_distinct(col("source")).as("n_sources"),
      sum(toks).as("total_tokens"),
      sum(length(col("text")).cast("long")).as("total_chars"),
      sum(when(col("text").isNull || length(col("text")) === 0, 1L)
        .otherwise(0L)).as("n_empty_docs"),
      (count(lit(1)) - count_distinct(md5(col("text").cast("binary"))))
        .as("n_dup_docs"),
      max(toks).as("max_doc_tokens"))
  }

  val corpusReportSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
      |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
      |  CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> '')))
      |    AS BIGINT) AS total_tokens,
      |  CAST(SUM(length(text)) AS BIGINT) AS total_chars,
      |  CAST(SUM(CASE WHEN text IS NULL OR length(text) = 0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_docs,
      |  CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dup_docs,
      |  CAST(MAX(len(list_filter(string_split(text, ' '), x -> x <> '')))
      |    AS BIGINT) AS max_doc_tokens
      |FROM documents""".stripMargin

  /** Sample budget for [[temperatureMix]]. */
  final val TempMixBudget = 200L

  /** TEMPERATURE-SAMPLED multilingual mixture — the XLM-R / mT5 data
    * recipe: language l is sampled ∝ n_l^α (α = 0.5 here), flattening
    * the head language's dominance while keeping low-resource languages
    * above their natural rate. Exactness discipline: the weight is
    * isqrt(n_l) = floor(sqrt(n_l)) — floor of a correctly-rounded IEEE
    * sqrt is the exact integer square root for n < 2^52, identical in
    * both engines — and quotas divide in BIGINT, so the per-language
    * quota table is integer-exact. Document selection inside each
    * language is the [[sampleStratifiedExact]] machinery: engine-
    * independent md5 ranking through the k-BOUNDED partial aggregator
    * (a language stratum is corpus-scale, and the variable per-language
    * quota means no rank-limit filter exists for WindowGroupLimit to
    * push down — a per-lang window here really is a hot-key sorted
    * partition, see the SkewHarnessSpec measurement), trimmed to the
    * language's quota by a broadcast join against the 5-row quota
    * table. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val counts = t(spark, dir, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val weights = counts
      .withColumn("w", floor(sqrt(col("n"))).cast("long"))
    val quotas = weights
      .crossJoin(broadcast(weights.agg(sum(col("w")).as("tw"))))
      .select(col("lang"),
        expr(s"CAST(($TempMixBudget * w) div tw AS BIGINT)").as("quota"))
    val topk = graft.functions.TopKAgg.top_k(TempMixBudget.toInt)
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        expr("cast(conv(substring(md5(cast(cast(doc_id as string) as binary)" +
          "), 1, 13), 16, 10) as bigint)").as("hk"))
      .groupBy(col("lang"))
      .agg(topk(col("doc_id"), -col("hk").cast("double")).as("tk"))
      .select(col("lang"), posexplode(col("tk")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.id").as("doc_id"))
      .join(broadcast(quotas), Seq("lang"))
      .filter(col("rnk") <= col("quota"))
      .select(col("lang"), col("quota"), col("rnk"), col("doc_id"))
      .orderBy(col("lang"), col("rnk"))
  }

  val temperatureMixSql: String =
    s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
       |w AS (SELECT lang, CAST(floor(sqrt(n)) AS BIGINT) AS w FROM c),
       |q AS (SELECT lang,
       |        CAST(($TempMixBudget * w) // (SELECT SUM(w) FROM w) AS BIGINT)
       |          AS quota
       |      FROM w),
       |r AS (SELECT lang, doc_id, row_number() OVER (
       |        PARTITION BY lang ORDER BY
       |          CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)),
       |            1, 13)) AS BIGINT), doc_id) AS rnk
       |      FROM documents)
       |SELECT r.lang, q.quota, CAST(r.rnk AS BIGINT) AS rnk, r.doc_id
       |FROM r JOIN q ON q.lang = r.lang
       |WHERE r.rnk <= q.quota
       |ORDER BY r.lang, r.rnk""".stripMargin

  /** Span width (tokens) for [[spanCorruption]]. */
  final val CorruptSpanLen = 3
  /** Mask a block iff the first md5 byte of (doc_id:block) is below this
    * hex ceiling — 0x28/0x100 ≈ 15.6%, the T5 corruption-rate
    * neighborhood, derived deterministically from content ids (the
    * [[sampleMix]] hash-bucket discipline: no RNG state anywhere). */
  final val CorruptCeil = "28"

  /** T5-STYLE SPAN CORRUPTION — denoising-objective sample construction:
    * partition each document's token stream into [[CorruptSpanLen]]-token
    * blocks, deterministically mask ~15.6% of blocks, and emit the
    * (input, target) training pair — the input with each masked block
    * replaced by its ordinal `<extra_id_k>` sentinel, the target
    * listing each sentinel followed by the tokens it hides (Raffel et
    * al. 2020's objective, the standard denoising recipe).
    *
    * Scale shape: masking is a per-row md5 projection in the scan stage;
    * sentinel ordinals and both reassemblies are doc-partitioned
    * (doc-bounded windows and sorted aggregates — the [[Dedup]] rebuild
    * pattern); no joins beyond the per-doc left-joins of the report.
    * Both engines rebuild the strings from the same sorted struct
    * order, so input AND target are oracle-compared byte-for-byte. */
  def spanCorruption(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def joined(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      array_join(transform(array_sort(c), x => x.getField("k")), " ")
    val toks = t(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .filter(length(col("tok")) > 0)
      .withColumn("b", expr(s"CAST(pos div $CorruptSpanLen AS BIGINT)"))
    val flagged = toks.withColumn("mask",
      expr("substring(md5(cast(concat(cast(doc_id as string), ':', " +
        s"cast(b as string)) as binary)), 1, 2) < '$CorruptCeil'"))
    val mb = flagged.filter(col("mask")).select(col("doc_id"), col("b"))
      .distinct()
      .withColumn("k", (row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("b"))) - 1)
        .cast("long"))
      .withColumn("sentinel",
        concat(lit("<extra_id_"), col("k").cast("string"), lit(">")))
    val inputRows = flagged.filter(!col("mask"))
        .select(col("doc_id"), col("pos").cast("long").as("po"), col("tok"))
      .union(mb.select(col("doc_id"),
        (col("b") * CorruptSpanLen).as("po"), col("sentinel").as("tok")))
    val inp = inputRows.groupBy(col("doc_id"))
      .agg(joined(collect_list(struct(col("po").as("i"), col("tok").as("k"))))
        .as("input_text"))
    val targetRows = mb.select(col("doc_id"), col("b"),
        lit(-1L).as("po"), col("sentinel").as("tok"))
      .union(flagged.filter(col("mask")).select(col("doc_id"), col("b"),
        col("pos").cast("long").as("po"), col("tok")))
    val tgt = targetRows.groupBy(col("doc_id"))
      .agg(joined(collect_list(struct(col("b").as("a"), col("po").as("i"),
        col("tok").as("k")))).as("target_text"))
    val st = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
    val nm = mb.groupBy(col("doc_id")).agg(count(lit(1)).as("nb"))
    t(spark, dir, "documents").select(col("doc_id"))
      .join(st, Seq("doc_id"), "left_outer")
      .join(nm, Seq("doc_id"), "left_outer")
      .join(inp, Seq("doc_id"), "left_outer")
      .join(tgt, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("nt"), lit(0L)).as("n_tokens"),
        coalesce(col("nb"), lit(0L)).as("n_masked_blocks"),
        coalesce(col("input_text"), lit("")).as("input_text"),
        coalesce(col("target_text"), lit("")).as("target_text"))
      .orderBy(col("doc_id"))
  }

  val spanCorruptionSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, tok, o FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
       |      unnest(range(1, len(string_split(text, ' ')) + 1)) AS o
       |    FROM documents)
       |  WHERE tok <> ''),
       |bl AS (SELECT doc_id, tok, o - 1 AS pos,
       |         (o - 1) // $CorruptSpanLen AS b
       |       FROM toks),
       |fl AS (SELECT *, substring(md5(concat(CAST(doc_id AS VARCHAR), ':',
       |         CAST(b AS VARCHAR))), 1, 2) < '$CorruptCeil' AS mask
       |       FROM bl),
       |mb AS (SELECT doc_id, b,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY b) - 1 AS k
       |       FROM (SELECT DISTINCT doc_id, b FROM fl WHERE mask)),
       |inp AS (
       |  SELECT doc_id, string_agg(tok, ' ' ORDER BY po) AS input_text
       |  FROM (
       |    SELECT doc_id, pos AS po, tok FROM fl WHERE NOT mask
       |    UNION ALL
       |    SELECT doc_id, b * $CorruptSpanLen AS po,
       |      '<extra_id_' || k || '>' AS tok
       |    FROM mb)
       |  GROUP BY doc_id),
       |tg AS (
       |  SELECT doc_id, string_agg(tok, ' ' ORDER BY b, po) AS target_text
       |  FROM (
       |    SELECT doc_id, b, -1 AS po, '<extra_id_' || k || '>' AS tok
       |    FROM mb
       |    UNION ALL
       |    SELECT doc_id, b, pos AS po, tok FROM fl WHERE mask)
       |  GROUP BY doc_id),
       |st AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
       |nm AS (SELECT doc_id, count(*) AS n FROM mb GROUP BY doc_id)
       |SELECT d.doc_id, CAST(COALESCE(st.n, 0) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(nm.n, 0) AS BIGINT) AS n_masked_blocks,
       |  COALESCE(inp.input_text, '') AS input_text,
       |  COALESCE(tg.target_text, '') AS target_text
       |FROM documents d
       |LEFT JOIN st USING (doc_id)
       |LEFT JOIN nm USING (doc_id)
       |LEFT JOIN inp USING (doc_id)
       |LEFT JOIN tg USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Exact per-stratum sample size for [[sampleStratifiedExact]]. */
  final val StratSampleK = 20

  /** EXACT-SIZE stratified sampling — the eval-set carve: exactly
    * [[StratSampleK]] documents per language, chosen by an engine-
    * independent md5 ranking (so the carve is reproducible across runs,
    * partitionings, and engines — the [[sampleMix]] determinism contract,
    * but with an exact count instead of a rate).
    *
    * Scale shape: the naive formulation is a row_number window
    * partitioned by lang — and a language stratum is CORPUS-scale (half
    * of a web corpus is one language). Spark's WindowGroupLimit pushdown
    * bounds what such a rank≤K window SHUFFLES, but every map partition
    * still sorts by (lang, rank key) and the pushdown only exists for
    * rank-limit filters (SkewHarnessSpec measures the distinction). Here
    * the per-stratum top-k runs through the k-BOUNDED partial
    * aggregator ([[graft.functions.TopKAgg]]): every
    * (partition, lang) reduces to ≤ k candidates before the exchange and
    * nothing is ever sorted corpus-wide. Ranking key: the first 13 hex
    * digits of md5(doc_id) as a 52-bit integer — exactly representable
    * in double, so the aggregator's (value, id) total order replays
    * bit-identically in the oracle's window. */
  def sampleStratifiedExact(spark: SparkSession, dir: String): DataFrame = {
    val topk = graft.functions.TopKAgg.top_k(StratSampleK)
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        expr("cast(conv(substring(md5(cast(cast(doc_id as string) as binary)" +
          "), 1, 13), 16, 10) as bigint)").as("hk"))
      .groupBy(col("lang"))
      .agg(topk(col("doc_id"), -col("hk").cast("double")).as("tk"))
      .select(col("lang"), posexplode(col("tk")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.id").as("doc_id"))
      .orderBy(col("lang"), col("rnk"))
  }

  val sampleStratifiedExactSql: String =
    s"""SELECT lang, rnk, doc_id FROM (
       |  SELECT lang, doc_id,
       |    row_number() OVER (PARTITION BY lang ORDER BY
       |      CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))
       |        AS BIGINT), doc_id) AS rnk
       |  FROM documents)
       |WHERE rnk <= $StratSampleK ORDER BY lang, rnk""".stripMargin

  // ---- pipeline integrity audit ----

  private val KnownLangs = Seq("en", "de", "fr", "es", "zh")

  /** Corpus SNAPSHOT DIFF — the audit companion of the incremental
    * family ([[Dedup.dedupIncremental]] and friends): given two corpus
    * versions, report every document that was added, removed, or changed
    * (content hash inequality) between them. One full-outer hash join on
    * doc_id with md5 content fingerprints — partition-parallel, no
    * windows, no skew key (doc_id is unique on both sides), partial-
    * aggregation-free. Versions here are derived deterministically from
    * the one documents table (v1 = the pre-[[Dedup.IncrementalCut]]
    * corpus with every 40th doc "edited"; v2 = the current corpus minus
    * every 97th doc) — the stand-in for two real snapshot manifests,
    * exercising all three verdicts non-vacuously at every SF. */
  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val h = t(spark, dir, "documents")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val v1 = h.filter(col("doc_id") < Dedup.IncrementalCut)
      .select(col("doc_id").as("id1"),
        when(col("doc_id") % 40 === 0,
          md5(concat(col("h"), lit("edit")).cast("binary")))
          .otherwise(col("h")).as("h1"))
    val v2 = h.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id").as("id2"), col("h").as("h2"))
    v1.join(v2, col("id1") === col("id2"), "full_outer")
      .withColumn("status",
        when(col("id1").isNull, lit("added"))
          .when(col("id2").isNull, lit("removed"))
          .when(col("h1") =!= col("h2"), lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("status") =!= "unchanged")
      .select(coalesce(col("id1"), col("id2")).as("doc_id"), col("status"))
      .orderBy(col("doc_id"))
  }

  val corpusDiffSql: String =
    s"""WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
       |v1 AS (
       |  SELECT doc_id AS id1,
       |    CASE WHEN doc_id % 40 = 0 THEN md5(h || 'edit') ELSE h END AS h1
       |  FROM h WHERE doc_id < ${Dedup.IncrementalCut}),
       |v2 AS (SELECT doc_id AS id2, h AS h2 FROM h WHERE doc_id % 97 <> 0)
       |SELECT COALESCE(id1, id2) AS doc_id,
       |  CASE WHEN id1 IS NULL THEN 'added'
       |       WHEN id2 IS NULL THEN 'removed'
       |       WHEN h1 <> h2 THEN 'changed'
       |       ELSE 'unchanged' END AS status
       |FROM v1 FULL OUTER JOIN v2 ON id1 = id2
       |WHERE (CASE WHEN id1 IS NULL THEN 'added'
       |            WHEN id2 IS NULL THEN 'removed'
       |            WHEN h1 <> h2 THEN 'changed'
       |            ELSE 'unchanged' END) <> 'unchanged'
       |ORDER BY doc_id""".stripMargin

  /** Data-integrity audit across the corpus tables — the invariants a
    * pipeline run asserts before training: doc↔embedding alignment (both
    * directions), no empty text, declared metadata (`n_chars`) consistent
    * with the payload, language labels in the known set. One row per
    * check with its violation count; zero is a meaningful answer (the
    * sf0.1 corpus REALLY has 3000 docs without embeddings — spec-pinned
    * non-vacuous there). Shape: two anti-joins on ids + ONE conditional
    * aggregate for all three predicate checks — the audit reads
    * `documents` three times total, not five (round 5 ran one scan per
    * predicate; at 100 TB that's two corpus scans saved), with every
    * count a map-side-partial aggregate. Filter-as-sum keeps the null
    * semantics of the filters it replaced: a NULL predicate (null text /
    * lang) contributes 0 exactly as a filter would drop the row. */
  def integrityAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val emb = t(spark, dir, "embeddings")
    def row(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_violations"))
        .select(lit(name).as("check_name"), col("n_violations"))
    def cnt(pred: org.apache.spark.sql.Column) =
      coalesce(sum(when(pred, 1L).otherwise(0L)), lit(0L))
    val predicateRows = docs
      .agg(cnt(col("text").isNull || length(col("text")) === 0)
          .as("empty_text"),
        cnt(col("n_chars") =!= length(col("text"))).as("n_chars_mismatch"),
        cnt(!col("lang").isin(KnownLangs: _*)).as("unknown_lang"))
      .select(expr("stack(3, 'empty_text', empty_text, " +
        "'n_chars_mismatch', n_chars_mismatch, " +
        "'unknown_lang', unknown_lang) AS (check_name, n_violations)"))
    row("docs_without_embedding",
      docs.join(emb.select(col("vec_id").as("doc_id")), Seq("doc_id"),
        "left_anti"))
      .unionAll(row("embeddings_without_doc",
        emb.select(col("vec_id").as("doc_id"))
          .join(docs.select(col("doc_id")), Seq("doc_id"), "left_anti")))
      .unionAll(predicateRows)
      .orderBy(col("check_name"))
  }

  val integrityAuditSql: String = {
    val langs = KnownLangs.map(l => s"'$l'").mkString(", ")
    s"""SELECT check_name, n_violations FROM (
       |  SELECT 'docs_without_embedding' AS check_name, count(*) AS n_violations
       |  FROM documents d WHERE NOT EXISTS
       |    (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)
       |  UNION ALL
       |  SELECT 'embeddings_without_doc', count(*)
       |  FROM embeddings e WHERE NOT EXISTS
       |    (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id)
       |  UNION ALL
       |  SELECT 'empty_text', count(*)
       |  FROM documents WHERE text IS NULL OR length(text) = 0
       |  UNION ALL
       |  SELECT 'n_chars_mismatch', count(*)
       |  FROM documents WHERE n_chars <> length(text)
       |  UNION ALL
       |  SELECT 'unknown_lang', count(*)
       |  FROM documents WHERE lang NOT IN ($langs))
       |ORDER BY check_name""".stripMargin
  }

  // ---- BPE-ish regex tokenization ----

  /** GPT-2-style pre-tokenizer classes, restricted to the java-regex/RE2
    * common subset: letter runs, digit runs, non-alphanumeric runs (the
    * split a byte-pair tokenizer applies before merges). */
  final val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"
  final val AlphaPattern = "[A-Za-z]+"
  final val NumPattern = "[0-9]+"
  final val PunctPattern = "[^A-Za-z0-9 ]+"

  /** Token counting with a BPE-ish regex (builder brief): per-row counts of
    * pre-tokenizer units and their classes over the events `props` column
    * (JSON-ish strings — the one testdata column where letters, digits AND
    * punctuation all occur, so every class is non-vacuous). Whitespace
    * token count included for comparison with the regex view. */
  def tokenBpe(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_id"), col("props"),
        size(split(col("props"), " ")).as("n_ws_tokens"),
        // regexp_count, not size(regexp_extract_all): counting must not
        // materialize a match array per row
        regexp_count(col("props"), lit(BpePattern)).as("n_bpe_tokens"),
        regexp_count(col("props"), lit(AlphaPattern)).as("n_alpha"),
        regexp_count(col("props"), lit(NumPattern)).as("n_num"),
        regexp_count(col("props"), lit(PunctPattern)).as("n_punct"))
      .orderBy(col("event_id"))

  val tokenBpeSql: String =
    s"""SELECT event_id, props,
       |  CAST(len(string_split(props, ' ')) AS INT) AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(props, '$BpePattern')) AS INT) AS n_bpe_tokens,
       |  CAST(len(regexp_extract_all(props, '$AlphaPattern')) AS INT) AS n_alpha,
       |  CAST(len(regexp_extract_all(props, '$NumPattern')) AS INT) AS n_num,
       |  CAST(len(regexp_extract_all(props, '$PunctPattern')) AS INT) AS n_punct
       |FROM events ORDER BY event_id""".stripMargin

  // ---- BPE tokenizer TRAINING: the iterative merge loop ----

  /** Merge rounds trained by [[bpeVocab]] — small and fixed so the DuckDB
    * oracle (the same rounds unrolled as static SQL) stays tractable. */
  final val BpeMerges = 10

  /** Every merged pair is assigned a fresh single CHARACTER from the
    * Unicode PRIVATE USE AREA (codepoint [[BpeMergeCharBase]] + rank):
    * with every symbol one char, words stay plain strings, adjacent-pair
    * extraction is a 2-char substring, and applying a merge is plain
    * `replace` — whose left-to-right, continue-after-match scan IS the
    * standard BPE non-overlapping run semantics ("aaaa" under (a,a) →
    * "zz") and is identical in Spark and DuckDB. The PUA is the reserved
    * symbol space: no interchange text legitimately carries U+E000.. (the
    * same contract real tokenizers enforce by reserving token ids) —
    * unlike a natural-script block, where an input character would be
    * indistinguishable from a merge symbol and silently corrupt training
    * on BOTH engines at once (the one bug class the oracle gate is
    * structurally blind to). */
  final val BpeMergeCharBase = 0xE000

  /** BPE tokenizer TRAINING (the stage [[tokenBpe]] pre-tokenizes for):
    * iterative most-frequent-adjacent-pair election and merge, producing
    * the ranked merge table (rank, pair, fresh merged symbol, pair count).
    * Ties break lexicographically on the pair — deterministic across
    * engines (binary collation both sides; merge chars sort above ASCII).
    *
    * Scale shape: ONE corpus-sized aggregation builds the word-frequency
    * table (the classic BPE-training reduction — merges never rescan the
    * corpus); each of the [[BpeMerges]] rounds is then a pair-count
    * hash-aggregate over the VOCAB-sized table plus a one-row driver fetch
    * of the argmax (driver-controlled iteration, see [[bpeTrain]]) and a
    * narrow replace map. The vocab table is materialized once; each round
    * reads the previous generation's in-memory blocks. */
  def bpeVocab(spark: SparkSession, dir: String): DataFrame = {
    val (merges, _) = bpeTrain(spark, dir, BpeMerges, 1)
    import spark.implicits._
    merges.toDF("merge_rank", "pair", "merged", "pair_count")
      .orderBy(col("merge_rank"))
  }

  /** Words per partition of the materialized word-frequency table. The
    * merge rounds are VOCAB-sized jobs, so their partition count derives
    * from VOCAB size (never corpus size): a test-SF vocab (thousands of
    * words) fits ONE partition — where each election runs as a
    * single-stage single-task job with no shuffle at all — while a
    * production multi-million-word vocab spreads across
    * ⌈words / 2^18⌉ partitions and the two-level reduceByKey election
    * engages (per-partition pair maps → map-side-combined shuffle →
    * per-partition top-k — never a driver-side merge of vocab-sized
    * maps). Both election paths implement the identical rule and a spec
    * pins them merge-for-merge equal on the same corpus. The ONE
    * corpus-sized aggregate that builds the table keeps the session's
    * full shuffle width upstream of the coalesce. */
  private[operators] final val BpeWordsPerPartition = 1L << 18

  /** Partition count for an n-word vocab — see [[BpeWordsPerPartition]]. */
  private[operators] def bpeVocabPartitionsFor(nWords: Long): Int =
    math.max(1L,
      (nWords + BpeWordsPerPartition - 1) / BpeWordsPerPartition).toInt

  /** Per-partition overlapping-pair counts (frequency-weighted, code-point
    * windows — the unit Spark's `substring` and DuckDB's `repr[i:i+1]`
    * both count). Runs inside one task; the map is bounded by the
    * partition's distinct adjacent pairs. */
  private def pairCounts(
      it: Iterator[(String, String, Long)]): java.util.HashMap[String, Long] = {
    val m = new java.util.HashMap[String, Long]()
    it.foreach { case (_, repr, cnt) =>
      val cps = repr.codePoints().toArray
      var i = 0
      while (i < cps.length - 1) {
        m.merge(new String(cps, i, 2), cnt, (a, b) => a + b)
        i += 1
      }
    }
    m
  }

  /** UTF-8 byte-order comparison — the binary collation BOTH engines sort
    * `pair` with (Spark UTF8String, DuckDB blob collation), used for the
    * election tie-break so driver and executors agree with the oracle on
    * any input, BMP or not. */
  private def utf8Less(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0

  /** Merge count for [[bpeVocabLarge]] — past the point where the
    * unrolled-SQL oracle stays tractable (256 CTE rounds), so the query
    * registers rows-only; exactness at this depth is pinned by a spec
    * that replays ALL merges against a driver-side reference
    * implementation of the identical election rule. */
  final val BpeMergesLarge = 256

  /** BPE training at a realistic merge count ([[BpeMergesLarge]]): the
    * same [[bpeTrain]] loop at k = 1 as [[bpeVocab]] — proving the design
    * (one corpus aggregate, one bounded vocab-table job per round,
    * generation-at-a-time residency) holds past the toy merge count. May
    * return fewer rows than requested on a corpus whose vocabulary runs
    * dry. */
  def bpeVocabLarge(spark: SparkSession, dir: String): DataFrame = {
    val (merges, _) = bpeTrain(spark, dir, BpeMergesLarge, 1)
    import spark.implicits._
    merges.toDF("merge_rank", "pair", "merged", "pair_count")
      .orderBy(col("merge_rank"))
  }

  /** Batch size for [[bpeVocabLargeBatched]]: up to this many merges are
    * elected per distributed round. */
  final val BpeBatchK = 16

  /** The one BPE trainer behind every BPE query: election/merge rounds
    * over the word-frequency table until `merges` merges are ranked or the
    * vocabulary runs dry. Returns BOTH products — the driver-held merge
    * table (rank, pair, fresh merged symbol, pair count), and the final
    * word→representation frame (each word of the vocab with its merged
    * symbol string; every symbol is one char, so `length(repr)` IS the
    * encoded token count).
    *
    * Election rule per round: rank global pair counts (overlapping
    * code-point windows weighted by word frequency — exactly Spark's
    * `substring` semantics) by (count desc, pair UTF-8-binary asc), and
    * greedily accept up to `k` SYMBOL-DISJOINT pairs; apply the accepted
    * replaces (left-to-right, non-overlapping) in acceptance order in one
    * map pass. With k = 1 this is canonical sequential BPE — one
    * most-frequent pair per round (`bpe_vocab`, `bpe_vocab_256`,
    * `bpe_encode`, `bpe_roundtrip`). With k = [[BpeBatchK]] it is the
    * batched 50k-vocab variant (the `_batched` queries): canonical BPE
    * costs rounds × job latency — ~2.5 min of round-trips alone for a
    * production 50k-merge vocab even at ~3 ms/round — so the
    * SentencePiece/YouTokenToMe lineage elects the top-k pairs per round,
    * restricted to disjoint symbols so the k replaces cannot interact (a
    * pair sharing a symbol with an already-accepted pair would see
    * different counts after that merge applies). Its merge TABLES differ
    * from sequential BPE wherever a round's acceptances would have
    * changed later counts: a different, documented election rule, not an
    * approximation, which is why it registers alongside `bpe_vocab_256`
    * instead of replacing it.
    *
    * The rounds are driver-controlled iteration over the VOCAB-sized
    * table, so they run on its persisted RDD directly — per round ONE job
    * with no per-round Catalyst analysis/codegen (re-planning a stacked
    * DataFrame cost ~24 ms per round, ~20 min at 50k merges). The table's
    * partitioning derives from vocab size ([[bpeVocabPartitionsFor]]):
    * below [[BpeWordsPerPartition]] words each election is a
    * single-stage, single-task, shuffle-free job; above, per-partition
    * pair maps → map-side-combined reduceByKey → per-partition top-k, so
    * ≤ k·partitions candidate rows reach the driver. The driver truncates
    * the candidates to the global top-k before the greedy scan — the union
    * of per-partition top-ks always contains it — so the accepted set is a
    * pure function of the counts under any partitioning (spec-pinned).
    * Each generation is an [[graft.SharedFrames.ownedRdd]], freed inline
    * once the next election has materialized its successor (residency ≤ 2
    * generations). Exactness: `bpe_vocab`, `bpe_encode` and
    * `bpe_roundtrip` face the unrolled-SQL oracle at [[BpeMerges]]; the
    * 256-merge queries are pinned by full driver replays in spec. */
  private[operators] def bpeTrain(spark: SparkSession, dir: String,
      merges: Int, k: Int, partitionsOverride: Int = 0)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val words = t(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .as[(String, Long)]
      .rdd.map { case (w, c) => (w, w, c) } // (word, repr, cnt)
    val agg = graft.SharedFrames.ownedRdd(words)
    // the sizing count doubles as the materialization job the loop needed
    // anyway; the full-width layer is dropped once the narrow table holds
    val p = if (partitionsOverride > 0) partitionsOverride
            else bpeVocabPartitionsFor(agg.count())
    val base = graft.SharedFrames.ownedRdd(agg.coalesce(p))
    base.count()
    agg.unpersist(blocking = false)
    var cur = base
    var prev: org.apache.spark.rdd.RDD[(String, String, Long)] = null
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var dry = false
    while (rank < merges && !dry) {
      val candidates =
        (if (p == 1)
          cur.mapPartitions { it =>
            topKPairs(pairCounts(it).entrySet().iterator().asScala
              .map(e => (e.getKey, e.getValue)), k)
          }
        else
          cur.mapPartitions { it =>
            pairCounts(it).entrySet().iterator().asScala
              .map(e => (e.getKey, e.getValue))
          }.reduceByKey(_ + _, p)
            .mapPartitions(it => topKPairs(it, k))).collect()
      // the election materialized `cur` — its predecessor is now free
      if (prev != null) { prev.unpersist(blocking = false); prev = null }
      // an empty pool means every repr is a single symbol: no pair to
      // elect this round or ever again. The oracle agrees by construction
      // (its empty b$r CTE contributes no merge row and a no-op replace).
      if (candidates.isEmpty) dry = true
      else {
        // driver: global rank, TRUNCATED to the top-k before the greedy
        // scan — the union of per-partition top-ks always contains the
        // global top-k, so truncation makes the accepted set a pure
        // function of the counts (identical under any partitioning; the
        // greedy pool is never "whatever candidates happened to arrive")
        val ranked = candidates.sortWith { (x, y) =>
          x._2 > y._2 || (x._2 == y._2 && utf8Less(x._1, y._1))
        }.take(k)
        val used = scala.collection.mutable.Set.empty[Int]
        val accepted = Seq.newBuilder[(String, Long)]
        var accN = 0
        ranked.foreach { case (pair, c) =>
          if (accN < k && rank + accN < merges) {
            val cps = pair.codePoints().toArray
            if (cps.forall(!used.contains(_))) {
              cps.foreach(used.add)
              accepted += ((pair, c))
              accN += 1
            }
          }
        }
        val batch = accepted.result().map { case (pair, c) =>
          rank += 1
          val sym = (BpeMergeCharBase + rank).toChar.toString
          out += ((rank, pair, sym, c))
          (pair, sym)
        }
        val next = graft.SharedFrames.ownedRdd(cur.map {
          case (w, repr, cnt) =>
            (w, batch.foldLeft(repr) { case (r, (pair, sym)) =>
              r.replace(pair, sym)
            }, cnt)
        })
        prev = cur
        cur = next
      }
    }
    (out.result(),
      cur.map { case (w, repr, _) => (w, repr) }.toDF("word", "repr"))
  }

  /** Per-partition top-k under the election order (count desc, UTF-8
    * binary asc) — a bounded candidate pool; correct globally because
    * after the reduce every pair's total lives in exactly one
    * partition. */
  private def topKPairs(it: Iterator[(String, Long)],
      k: Int): Iterator[(String, Long)] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    it.foreach { e =>
      buf += e
      if (buf.length > 4 * k) {
        val trimmed = buf.sortWith { (x, y) =>
          x._2 > y._2 || (x._2 == y._2 && utf8Less(x._1, y._1))
        }.take(k)
        buf.clear(); buf ++= trimmed
      }
    }
    buf.sortWith { (x, y) =>
      x._2 > y._2 || (x._2 == y._2 && utf8Less(x._1, y._1))
    }.take(k).iterator
  }

  /** The registered batched-training query: the merge table at
    * [[BpeMergesLarge]] depth with [[BpeBatchK]] merges per round. */
  def bpeVocabLargeBatched(spark: SparkSession, dir: String): DataFrame = {
    val (rows, _) = bpeTrain(spark, dir, BpeMergesLarge, BpeBatchK)
    import spark.implicits._
    rows.toDF("merge_rank", "pair", "merged", "pair_count")
      .orderBy(col("merge_rank"))
  }

  /** Tokenizer APPLICATION — encode the corpus with the merges [[bpeVocab]]
    * trained, closing the train→apply loop: per document, the word count,
    * character count, encoded BPE token count, and the compression ratio
    * chars/tokens (the statistic tokenizer training is judged by; one
    * exact-int IEEE division). Encoding rides the word-frequency table:
    * each DISTINCT word is merged once during training, and documents join
    * their words against that vocab — the classic trick that makes BPE
    * encoding corpus-scale-free (merge work ∝ vocab, not ∝ corpus).
    *
    * 100 TB shape: token explode → equi-join with the vocab-sized repr
    * table (never broadcast — real vocabs outgrow executor memory) → one
    * doc-keyed hash-aggregate with map-side partials. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val (_, words) = bpeTrain(spark, dir, BpeMerges, 1)
    encodeWithVocab(spark, dir, words)
  }

  /** The shared APPLY tail of both encoders: explode the corpus, join
    * each word against the (word, final repr) vocab table, roll up the
    * per-doc encoding statistics. */
  private def encodeWithVocab(spark: SparkSession, dir: String,
      words: DataFrame): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .join(words, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word")).cast("long")).as("n_chars"),
        sum(length(col("repr")).cast("long")).as("n_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_chars"), col("n_tokens"),
        (col("n_chars").cast("double") / col("n_tokens")).as("compression"))
      .orderBy(col("doc_id"))

  /** Tokenizer APPLICATION at PRODUCTION depth — the [[bpeEncode]] loop
    * closed over the BATCHED 256-merge vocabulary ([[bpeTrain]] at
    * k = [[BpeBatchK]])
    * instead of the 10-merge sequential one: train the
    * [[BpeMergesLarge]]-deep merge table with the symbol-disjoint
    * batched election, then encode every document against the final
    * (word → repr) table. Same corpus-scale-free apply shape as
    * [[bpeEncode]] (merge work ∝ vocab; encoding is one explode +
    * vocab equi-join + per-doc rollup, the vocab never broadcast).
    * Registers ROWS-ONLY for the same reason as `bpe_vocab_256_batched`
    * (a 256-round unrolled SQL oracle is intractable); exactness of the
    * WHOLE train→apply chain at this depth is pinned by the
    * CorpusOpsSpec driver replay, which recomputes every merge AND every
    * document's encoded statistics from first principles. */
  def bpeEncodeBatched(spark: SparkSession, dir: String): DataFrame = {
    val (_, words) = bpeTrain(spark, dir, BpeMergesLarge, BpeBatchK)
    encodeWithVocab(spark, dir, words)
  }

  /** TOKENIZER ROUND TRIP — the losslessness proof of the BPE pair:
    * decode every trained repr by expanding merge symbols back to their
    * pairs in REVERSE rank order (later merges may reference earlier
    * merge symbols, so reverse application is the unique correct
    * inverse), and count mismatches against the original words. A
    * lossless tokenizer is the contract every downstream token count and
    * packing budget silently assumes — this query makes it a checked
    * row: n_mismatch must be 0, and n_merged_words > 0 proves the check
    * is not vacuous (some reprs really did change).
    *
    * Scale shape: the decode is a per-row codegen'd `replace` chain over
    * the vocab-sized (word, repr) table — no corpus scan at all beyond
    * training, no shuffle beyond the final scalar aggregate. */
  def bpeRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val (merges, words) = bpeTrain(spark, dir, BpeMerges, 1)
    val decoded = merges.sortBy(-_._1).foldLeft(col("repr")) {
      case (c, (_, pair, sym, _)) => replace(c, lit(sym), lit(pair))
    }
    words
      .withColumn("decoded", decoded)
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("repr") =!= col("word"), 1L).otherwise(0L))
          .as("n_merged_words"),
        sum(when(col("decoded") =!= col("word"), 1L).otherwise(0L))
          .as("n_mismatch"))
  }

  /** Oracle for [[bpeRoundtrip]]: the identical reverse-order expansion
    * over the shared rounds chain — each round's symbol replaced by its
    * elected pair (scalar subquery; a dry round's empty election
    * coalesces to a no-op pattern, matching the engine loop's early
    * stop, whose merge list simply ends there). */
  lazy val bpeRoundtripSql: String = {
    val decode = (BpeMerges to 1 by -1).foldLeft("repr") { (acc, r) =>
      s"replace($acc, chr(${BpeMergeCharBase + r}),\n" +
        s"    coalesce((SELECT pair FROM b$r), ''))"
    }
    val raw =
      s"""WITH $bpeRoundsCtes
         |SELECT CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(SUM(CASE WHEN repr <> word THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_merged_words,
         |  CAST(SUM(CASE WHEN $decode <> word THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_mismatch
         |FROM w$BpeMerges""".stripMargin
    // every CTE MATERIALIZED: unlike bpeVocabSql/bpeEncodeSql (each b$r
    // referenced once), the decode chain references ALL ten election
    // CTEs, and DuckDB's default inlining re-expands each one's whole
    // upstream rounds chain — quadratic blowup, measured as a multi-
    // minute hang at sf0.01.
    OracleSql.materializeCtes(raw)
  }

  /** The shared rounds CTE chain (w0 … w[[BpeMerges]] — the same
    * [[BpeMerges]] rounds [[bpeTrain]] runs at k = 1, unrolled as static
    * SQL: each round a pair-count CTE, a LIMIT-1 argmax CTE, and a replace
    * projection; chr(base + r) depends only on the round number, so the
    * text is data-independent. The chain carries the original word next
    * to its evolving repr — dead weight for [[bpeVocabSql]], the join key
    * for [[bpeEncodeSql]]. */
  private def bpeRoundsCtes: String = {
    val rounds = (1 to BpeMerges).map { r =>
      s"""p$r AS (
         |  SELECT pair, sum(cnt) AS c FROM (
         |    SELECT unnest(list_transform(range(1, length(repr)),
         |      i -> repr[i:i+1])) AS pair, cnt
         |    FROM w${r - 1})
         |  GROUP BY pair),
         |b$r AS (SELECT pair, CAST(c AS BIGINT) AS c FROM p$r
         |        ORDER BY c DESC, pair LIMIT 1),
         |w$r AS (SELECT word,
         |          -- a DRY round (empty b: vocabulary fully merged) must
         |          -- be a no-op, not a NULL poison: replace with the ''
         |          -- pattern returns the input unchanged, matching the
         |          -- engine loop's early stop
         |          replace(repr, coalesce((SELECT pair FROM b$r), ''),
         |            chr(${BpeMergeCharBase + r})) AS repr, cnt
         |        FROM w${r - 1})"""
        .stripMargin
    }
    s"""w0 AS (
       |  SELECT word, word AS repr, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE length(word) > 0 GROUP BY word),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  val bpeVocabSql: String = {
    val sel = (1 to BpeMerges).map { r =>
      s"""SELECT $r AS merge_rank, pair, chr(${BpeMergeCharBase + r}) AS merged,
         |  c AS pair_count FROM b$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $bpeRoundsCtes
       |SELECT * FROM (
       |$sel
       |) ORDER BY merge_rank""".stripMargin
  }

  val bpeEncodeSql: String =
    s"""WITH $bpeRoundsCtes,
       |tok AS (SELECT doc_id, word FROM (
       |          SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |          FROM documents)
       |        WHERE length(word) > 0),
       |j AS (SELECT tok.doc_id, length(tok.word) AS nchr,
       |        length(w$BpeMerges.repr) AS ntok
       |      FROM tok JOIN w$BpeMerges ON tok.word = w$BpeMerges.word)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(nchr) AS BIGINT) AS n_chars,
       |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
       |  CAST(CAST(sum(nchr) AS BIGINT) AS DOUBLE)
       |    / CAST(sum(ntok) AS BIGINT) AS compression
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- within-doc repetition scrub ----

  /** Collapse CONSECUTIVE duplicate words inside each document — the
    * Gopher/C4-family repetition-removal TRANSFORM ([[qualityGopher]] only
    * gates on repetition; this rewrites the text): "batch batch batch
    * stream" → "batch stream". One indexed-lambda filter per row (kept(i)
    * ⇔ i = 0 ∨ ws(i) ≠ ws(i−1)) — identical semantics in DuckDB's
    * `list_filter((x, i) -> ...)` with its 1-based index, so the scrubbed
    * TEXT is oracle-compared byte-for-byte, not just the counts.
    *
    * 100 TB shape: a narrow per-row projection on the scan — no joins, no
    * windows, no shuffle (the orderBy is presentation only). */
  def repeatScrub(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_before"),
        // Spark's filter lambda index is 0-based and element_at 1-based,
        // so element_at(ws, i) IS the previous element at index i
        expr("filter(ws, (x, i) -> i = 0 OR x != element_at(ws, i))")
          .as("kept"))
      .select(col("doc_id"), col("n_before"),
        size(col("kept")).cast("long").as("n_after"),
        array_join(col("kept"), " ").as("text_scrubbed"))
      .orderBy(col("doc_id"))

  val repeatScrubSql: String =
    """SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_before,
      |  CAST(len(kept) AS BIGINT) AS n_after,
      |  array_to_string(kept, ' ') AS text_scrubbed
      |FROM (SELECT doc_id, ws,
      |        list_filter(ws, (x, i) -> i = 1 OR x <> ws[i-1]) AS kept
      |      FROM (SELECT doc_id, string_split(text, ' ') AS ws
      |            FROM documents))
      |ORDER BY doc_id""".stripMargin

  // ---- token-budget epoch mixing (per-source upsampling) ----

  /** Seed prefix for the fractional-epoch lottery — a pure function of the
    * doc id, so the mix is reproducible across engines/runs (no RNG; the
    * [[sampleMix]] discipline). */
  final val EpochSeed = "graft-epoch-1:"

  /** The lottery draws 4 hex chars = 16 bits: lot ∈ [0, 65536). */
  final val EpochLotterySpace = 65536L

  /** Token-budget epoch mixing — the "upsample small sources to a common
    * token budget" step of composing a training mix (each source trained
    * for budget/|source| epochs; the budget here is the LARGEST source's
    * token count, i.e. uniform mixing). Every document is replicated
    * `floor(budget / src_tokens)` times; the fractional remainder epoch is
    * dealt by an integer lottery — doc included iff
    * `lot · src_tokens < (budget mod src_tokens) · 65536` — so the expected
    * extra token mass approximates the remainder (exact only up to the
    * 2^16 lottery quantization, and per-DOC uniform rather than
    * token-weighted), and the comparison is pure BIGINT arithmetic
    * (bit-identical across engines, no float fraction).
    * One output row per (doc, epoch): the materialized mixing plan a
    * trainer consumes.
    *
    * 100 TB shape: the per-source table is tiny (sources are few) and
    * broadcast back; the budget is a one-row aggregate broadcast the same
    * way; per-doc work is a narrow projection plus an explode bounded by
    * the epoch count. No windows, no corpus-sized shuffles beyond the one
    * source aggregate (map-side partials). */
  def epochMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        conv(substring(
          md5(concat(lit(EpochSeed), col("doc_id").cast("string"))
            .cast("binary")), 1, 4), 16, 10).cast("long").as("lot"))
    // one row per source — materialized so the budget aggregate reads
    // these few rows instead of re-running the corpus aggregate (the md5
    // lottery column is never referenced by the aggregate branch, so
    // column pruning already keeps it probe-side only)
    val src = graft.SharedFrames.shared(docs.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("src_tokens")))
    val budget = src.agg(max(col("src_tokens")).as("budget"))
    docs.join(broadcast(src), Seq("source"))
      .crossJoin(broadcast(budget))
      .withColumn("n_copies",
        expr("budget div src_tokens") +
          when(col("lot") * col("src_tokens") <
            (col("budget") % col("src_tokens")) * EpochLotterySpace, 1L)
            .otherwise(0L))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        explode(sequence(lit(1L), col("n_copies"))).as("epoch"))
      .orderBy(col("doc_id"), col("epoch"))
  }

  val epochMixSql: String =
    s"""WITH d AS (SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST('0x' || substring(md5('$EpochSeed' || CAST(doc_id AS VARCHAR)),
       |      1, 4) AS BIGINT) AS lot
       |  FROM documents),
       |s AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
       |      FROM d GROUP BY 1),
       |b AS (SELECT max(src_tokens) AS budget FROM s),
       |p AS (SELECT d.doc_id, d.source, d.n_tokens,
       |        CAST((b.budget // s.src_tokens) +
       |          (CASE WHEN d.lot * s.src_tokens <
       |             (b.budget % s.src_tokens) * $EpochLotterySpace
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_copies
       |      FROM d JOIN s USING (source) CROSS JOIN b)
       |SELECT doc_id, source, n_tokens,
       |  CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS epoch
       |FROM p ORDER BY doc_id, epoch""".stripMargin

  // ---- fixed-budget sequence chunking ----

  final val ChunkTokens = 32L

  /** Split every document into fixed-token training chunks: one output row
    * per (doc, chunk) with the token offset and length — the step that
    * turns variable-length documents into model-context-sized sequences
    * (complement of [[TextAnalysis.packDocs]], which packs SHORT docs
    * together; chunking splits LONG ones). Integer arithmetic only. */
  def chunkDocs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        explode(expr(s"sequence(0L, (n_tokens - 1) div $ChunkTokens)"))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * ChunkTokens).as("tok_start"),
        least(lit(ChunkTokens), col("n_tokens") - col("chunk_idx") * ChunkTokens)
          .as("n_tok"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  val chunkDocsSql: String =
    s"""SELECT doc_id, chunk_idx, chunk_idx * $ChunkTokens AS tok_start,
       |  least($ChunkTokens, n_tokens - chunk_idx * $ChunkTokens) AS n_tok
       |FROM (
       |  SELECT doc_id, n_tokens,
       |    unnest(range(0, ((n_tokens - 1) // $ChunkTokens) + 1)) AS chunk_idx
       |  FROM (SELECT doc_id,
       |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |        FROM documents))
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // ---- distribution-drift monitor ----

  /** Char-length bucket width / cap for [[corpusDrift]]. */
  final val DriftLenBucket = 50L
  final val DriftLenCap = 19L

  /** DISTRIBUTION-DRIFT MONITOR — the audit every recurring ingest runs
    * before accepting a new corpus snapshot: a two-sample chi-square
    * statistic per monitored dimension (language mix, doc-length
    * histogram) between two versions, here derived deterministically as
    * the doc_id parity halves. Content diffing ([[corpusDiff]]) says
    * WHICH docs changed; this says whether the POPULATION changed shape
    * — the alarm for a crawler suddenly over-sampling one language or
    * truncating documents.
    *
    * The statistic avoids PSI/KL on purpose: both need `ln`, which
    * differs by libm ulps across engines. Chi-square is rational — each
    * bucket term is a fixed parenthesized IEEE chain over exact integer
    * counts — and per-bucket terms are DECIMAL(18,6)-quantized before
    * the order-independent decimal sum, so the oracle replays the
    * statistic exactly.
    *
    * Scale shape: one scan derives both dimensions via `stack` (map-side
    * long format, no second pass); bucket tables are dimension-bounded
    * (5 langs + 20 length buckets); everything downstream of the first
    * partial-combinable count aggregate is constant-sized. */
  /** The (dim, bucket) monitored-dimension derivation [[corpusDrift]] and
    * the streaming face ([[graft.streaming.EventStreams.driftStream]])
    * share — one bucket rule, so the two monitors cannot diverge. Input
    * needs `lang` + `text`; `carry` columns ride along (version flag,
    * event time). */
  private[graft] def driftBucketRows(df: DataFrame,
      carry: Seq[String]): DataFrame =
    df.withColumn("lb",
        least(lit(DriftLenCap), length(col("text")) / lit(DriftLenBucket))
          .cast("long"))
      .select(carry.map(col) :+ expr(
        "stack(2, 'lang', lang, 'length', CAST(lb AS STRING))")
        .as(Seq("dim", "bucket")): _*)

  /** Per-dimension REFERENCE distribution of the monitored buckets — the
    * accepted-corpus profile the streaming drift monitor tests windows
    * against: (dim, bucket, p) with p = the bucket's exact-count share of
    * its dimension (one exact-int IEEE division). */
  def refDriftHistogram(spark: SparkSession, dir: String): DataFrame = {
    val b = driftBucketRows(t(spark, dir, "documents"), Nil)
      .groupBy(col("dim"), col("bucket")).agg(count(lit(1)).as("n"))
    val tot = b.groupBy(col("dim")).agg(sum(col("n")).as("t"))
    b.join(broadcast(tot), Seq("dim"))
      .select(col("dim"), col("bucket"),
        (col("n").cast("double") / col("t").cast("double")).as("p"))
  }

  /** Epoch base of [[driftWindows]]'s synthetic timeline (aligned to the
    * 600 s window size, so window starts equal the constructed instants). */
  final val DriftEpochBase = 1767261600L

  /** Registered BATCH FACE of the streaming drift monitor
    * ([[graft.streaming.EventStreams.driftMonitor]] — the exact code the
    * stream runs): docs spread over a deterministic 4-window timeline
    * (doc_id mod 4), each window χ²-tested against the whole-corpus
    * reference distribution. The oracle replays the windowed identity
    * χ² = S/N − N end-to-end, so the STREAMING monitor's arithmetic is
    * oracle-pinned through its batch face (stream ≡ batch bit-exactly by
    * the EventStreamsSpec parity pin; novel-bucket counting is exercised
    * there — a same-corpus reference has no novel buckets by
    * construction). */
  def driftWindows(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.driftMonitor(
      t(spark, dir, "documents").withColumn("ts",
        timestamp_seconds(lit(DriftEpochBase) + (col("doc_id") % 4) * 600)),
      refDriftHistogram(spark, dir))
      .select(unix_timestamp(col("w_start")).as("w_epoch"), col("dim"),
        col("n_obs"), col("n_novel"), col("chi2"))
      .orderBy(col("w_epoch"), col("dim"))

  val driftWindowsSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, 'lang' AS dim, lang AS bucket FROM documents
       |  UNION ALL
       |  SELECT doc_id, 'length',
       |    CAST(LEAST($DriftLenCap, length(text) // $DriftLenBucket)
       |         AS VARCHAR)
       |  FROM documents),
       |rb AS (SELECT dim, bucket, CAST(count(*) AS BIGINT) AS n
       |       FROM b GROUP BY 1, 2),
       |rt AS (SELECT dim, CAST(count(*) AS BIGINT) AS t
       |       FROM b GROUP BY 1),
       |ref AS (
       |  SELECT dim, bucket, CAST(n AS DOUBLE) / CAST(t AS DOUBLE) AS p
       |  FROM rb JOIN rt USING (dim)),
       |wc AS (
       |  SELECT $DriftEpochBase + (doc_id % 4) * 600 AS w_epoch, dim,
       |    bucket, CAST(count(*) AS BIGINT) AS n
       |  FROM b GROUP BY 1, 2, 3),
       |ag AS (
       |  SELECT w_epoch, dim,
       |    CAST(SUM(CASE WHEN p IS NOT NULL THEN n ELSE 0 END) AS BIGINT)
       |      AS n_obs,
       |    CAST(SUM(CASE WHEN p IS NULL THEN n ELSE 0 END) AS BIGINT)
       |      AS n_novel,
       |    SUM(CASE WHEN p IS NOT NULL
       |        THEN CAST(CAST(n * n AS DOUBLE) / p AS DECIMAL(38,6))
       |        ELSE CAST(0 AS DECIMAL(38,6)) END) AS s
       |  FROM wc LEFT JOIN ref USING (dim, bucket) GROUP BY 1, 2)
       |SELECT w_epoch, dim, n_obs, n_novel,
       |  CASE WHEN n_obs > 0
       |    THEN (CAST(CAST(s AS VARCHAR) AS DOUBLE)
       |          / CAST(n_obs AS DOUBLE)) - CAST(n_obs AS DOUBLE)
       |    ELSE CAST(0 AS DOUBLE) END AS chi2
       |FROM ag ORDER BY w_epoch, dim""".stripMargin

  def corpusDrift(spark: SparkSession, dir: String): DataFrame = {
    val rows = driftBucketRows(
      t(spark, dir, "documents").withColumn("v1", col("doc_id") % 2 === 0),
      Seq("v1"))
    val buckets = rows.groupBy(col("dim"), col("bucket")).agg(
      sum(when(col("v1"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("v1"), 0L).otherwise(1L)).as("n2"))
    val totals = buckets.groupBy(col("dim")).agg(
      sum(col("n1")).as("t1"), sum(col("n2")).as("t2"))
    val e1 = (col("t1").cast("double") * (col("n1") + col("n2")).cast("double")) /
      (col("t1") + col("t2")).cast("double")
    val e2 = (col("t2").cast("double") * (col("n1") + col("n2")).cast("double")) /
      (col("t1") + col("t2")).cast("double")
    buckets.join(broadcast(totals), Seq("dim"))
      .select(col("dim"), dec(
        (((col("n1").cast("double") - e1) * (col("n1").cast("double") - e1))
          / e1)
          + (((col("n2").cast("double") - e2) * (col("n2").cast("double") - e2))
            / e2)).as("term"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n_buckets"), asDouble(sum(col("term"))).as("chi2"))
      .orderBy(col("dim"))
  }

  val corpusDriftSql: String =
    s"""WITH r AS (
       |  SELECT doc_id % 2 = 0 AS v1, 'lang' AS dim, lang AS bucket
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id % 2 = 0, 'length',
       |    CAST(LEAST($DriftLenCap, length(text) // $DriftLenBucket)
       |         AS VARCHAR)
       |  FROM documents),
       |b AS (
       |  SELECT dim, bucket,
       |    CAST(SUM(CASE WHEN v1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(SUM(CASE WHEN v1 THEN 0 ELSE 1 END) AS BIGINT) AS n2
       |  FROM r GROUP BY 1, 2),
       |t AS (
       |  SELECT dim, CAST(SUM(n1) AS BIGINT) AS t1,
       |    CAST(SUM(n2) AS BIGINT) AS t2
       |  FROM b GROUP BY 1),
       |terms AS (
       |  SELECT dim, CAST(
       |    (((CAST(n1 AS DOUBLE)
       |        - ((CAST(t1 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE))
       |           / CAST(t1 + t2 AS DOUBLE)))
       |      * (CAST(n1 AS DOUBLE)
       |        - ((CAST(t1 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE))
       |           / CAST(t1 + t2 AS DOUBLE))))
       |     / ((CAST(t1 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE))
       |        / CAST(t1 + t2 AS DOUBLE)))
       |    + (((CAST(n2 AS DOUBLE)
       |        - ((CAST(t2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE))
       |           / CAST(t1 + t2 AS DOUBLE)))
       |      * (CAST(n2 AS DOUBLE)
       |        - ((CAST(t2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE))
       |           / CAST(t1 + t2 AS DOUBLE))))
       |     / ((CAST(t2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE))
       |        / CAST(t1 + t2 AS DOUBLE)))
       |    AS DECIMAL(18,6)) AS term
       |  FROM b JOIN t USING (dim))
       |SELECT dim, CAST(COUNT(*) AS BIGINT) AS n_buckets,
       |  CAST(CAST(SUM(term) AS VARCHAR) AS DOUBLE) AS chi2
       |FROM terms GROUP BY dim
       |ORDER BY dim""".stripMargin

  // ---- priority sampling (Duffield, Lund & Thorup, JACM 2007) ----

  /** Global sample size for [[prioritySample]]. */
  final val PrioritySampleK = 30

  /** 2^52 — the hash-key range of the md5-52-bit ranking key (the
    * [[sampleStratifiedExact]] construction), as an exactly-representable
    * double. */
  private final val HkRange = 4503599627370496.0d

  /** WEIGHTED sampling without replacement with an UNBIASED subset-sum
    * estimator — priority sampling (Duffield, Lund & Thorup, "Priority
    * sampling for estimation of arbitrary subset sums", JACM 54(6), 2007).
    * Each doc draws a deterministic uniform u ∈ (0,1] from the md5-52-bit
    * key (u = (hk+1)/2^52 — both the +1 and the power-of-two division are
    * EXACT in IEEE doubles, so u is engine-independent with zero rounding),
    * gets priority q = w/u (one correctly-rounded division), and the
    * sample is the global top-[[PrioritySampleK]] by q. With threshold
    * τ = the (k+1)-th priority, est_w = max(w, τ) is an unbiased
    * estimator of each doc's weight conditioned on membership — so the
    * sample alone answers any "how many chars/tokens does subset S hold?"
    * question without rescanning the corpus. Weights here are n_chars
    * (sample ∝ size — the token-budget estimation case).
    *
    * 100 TB shape: a GLOBAL top-k is the textbook bounded partial
    * aggregate — every map partition reduces to ≤ k+1 candidates through
    * [[graft.functions.TopKAgg]] before the single-reducer merge
    * (k·partitions rows through one task, nothing corpus-scale ever
    * sorts or shuffles). The window formulation the oracle replays would
    * be a single-partition sort over the whole corpus — exactly the plan
    * this aggregate exists to avoid. Priorities are distinct a.s. (52-bit
    * keys), and the (q DESC, doc_id) total order makes the result
    * partitioning-independent. */
  def prioritySample(spark: SparkSession, dir: String): DataFrame =
    prioritySampleOf(priorityCols(t(spark, dir, "documents")))

  /** (doc_id, w, q) priority projection — the derivation the batch
    * sampler and the streaming face share. Input needs doc_id + n_chars. */
  private[graft] def priorityCols(docs: DataFrame): DataFrame =
    docs
      .filter(col("n_chars") > 0) // zero-weight docs can never be sampled
      .select(col("doc_id"), col("n_chars").as("w"),
        expr("cast(conv(substring(md5(cast(cast(doc_id as string) as binary)" +
          "), 1, 13), 16, 10) as bigint)").as("hk"))
      .select(col("doc_id"), col("w"),
        (col("w").cast("double") /
          ((col("hk").cast("double") + lit(1.0d)) / lit(HkRange))).as("q"))

  /** Sample tail over a (doc_id, w, q) frame. The weight rides THROUGH
    * the bounded aggregate as an inert payload
    * ([[graft.functions.TopKAgg.top_k_w]]) — no join back to the input,
    * which is what makes the same code a legal STREAMING global
    * aggregation (a stream cannot re-join its own aggregate) and saves
    * the batch plan a corpus-side probe. */
  private[graft] def prioritySampleOf(pri: DataFrame): DataFrame = {
    val k = PrioritySampleK
    val topk = graft.functions.TopKAgg.top_k_w(k + 1)
    val arr = pri.groupBy()
      .agg(topk(col("doc_id"), col("q"), col("w")).as("tk"))
    arr.select(posexplode(col("tk")),
        element_at(col("tk"), k + 1).getField("v").as("tau"))
      .select((col("pos") + 1).cast("long").as("rnk"),
        col("col.id").as("doc_id"), col("col.w").as("w"),
        col("col.v").as("q"), col("tau"))
      .filter(col("rnk") <= k)
      .select(col("rnk"), col("doc_id"), col("w"), col("q"),
        greatest(col("w").cast("double"), col("tau")).as("est_w"))
      .orderBy(col("rnk"))
  }

  val prioritySampleSql: String =
    s"""WITH p AS (
       |  SELECT doc_id, n_chars AS w,
       |    CAST(n_chars AS DOUBLE) /
       |      ((CAST(CAST(concat('0x',
       |          substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))
       |        AS BIGINT) AS DOUBLE) + 1.0) / $HkRange) AS q
       |  FROM documents WHERE n_chars > 0),
       |r AS (
       |  SELECT doc_id, w, q,
       |    row_number() OVER (ORDER BY q DESC, doc_id) AS rnk
       |  FROM p),
       |tau AS (SELECT q AS tau FROM r WHERE rnk = ${PrioritySampleK + 1})
       |SELECT rnk, doc_id, w, q,
       |  GREATEST(CAST(w AS DOUBLE), tau) AS est_w
       |FROM r, tau
       |WHERE rnk <= $PrioritySampleK
       |ORDER BY rnk""".stripMargin
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Count-based n-gram language-model quality gate — the CCNet/KenLM-style
  * "does this document read like the corpus" filter (Wenzek et al. 2020
  * score documents by reference-LM perplexity and keep by bucket), rebuilt
  * on integer corpus counts so the score is bit-exact cross-engine.
  *
  * Reference behavior anchor: the reference library has no LM stage (it
  * starts at clean relational text); this is the model-based quality
  * filter slot every large crawl-curation pipeline runs after extraction
  * ([[graft.functions.TextFunctions.htmlExtract]]) and language ID.
  *
  * The score. A real bigram-LM log-prob `Σ log p(w2|w1)` is libm- and
  * ordering-dependent — unverifiable across engines (the integer-idf
  * lesson at [[TfIdf.topTerms]]). Instead each bigram occurrence
  * contributes its INTEGER SELF-INFORMATION under the empirical corpus
  * bigram distribution:
  * `s = floor_log2(N) − floor_log2(C(w1 w2))`
  * where `C(w1 w2)` is the corpus count of the bigram and `N` the total
  * bigram occurrences — an integer-quantized `log2 1/p(w1 w2)`, exact in
  * both engines as a binary-digit-count difference
  * (`length(bin(N)) − length(bin(c_bg))`, the floor_log2 `−1`s
  * cancelling). The CONDITIONAL form `floor_log2(C(w1·)) −
  * floor_log2(C(w1 w2))` is deliberately NOT used: unsmoothed MLE
  * assigns a singleton context probability 1, so a document of entirely
  * novel tokens — exactly the junk the gate exists to drop — scores
  * ZERO surprisal (specced); the joint form gives such bigrams the
  * maximal `floor_log2(N)` bits instead, and smoothing a conditional
  * model cross-engine-exactly would cost far more machinery than the
  * joint model's one extra broadcast row. Per document the score is the
  * pair `(n_bigrams, sum_bits)`; mean bits-per-bigram is the
  * pseudo-perplexity exponent.
  *
  * The gate is RELATIVE to the corpus: keep iff
  * `sum_bits · N ≤ B · n_bigrams` (document mean ≤ corpus mean), the
  * cross-multiplied form with no division, products in DECIMAL(38,0) so
  * the comparison is exact and overflow-free at any corpus where the
  * counts themselves fit a long (the [[TfIdf.tokenDrift]] arithmetic). An
  * ABSOLUTE threshold is deliberately not the default: measured on the
  * test corpus, mean surprisal RISES with corpus size (more distinct
  * continuations per context), so any fixed cut degenerates to
  * keep-all/drop-all at some scale, while the relative cut splits every
  * corpus non-degenerately. `thresholdMillibits` (Some(t): keep iff
  * `sum_bits · 1000 ≤ t · n_bigrams`) serves pipelines with a calibrated
  * external cut.
  *
  * Scale shape: per-document bigram counts come from the fused
  * [[graft.functions.expressions.BigramCounts]] kernel inside the row —
  * text never shuffles; the corpus LM is ONE bigram-vocabulary-sized
  * map-side-combined exchange; the bigram total `N` derives from the
  * counts frame as one broadcast row (no second corpus pass); the
  * per-doc scoring join ships only `(bigram, s)` — broadcast by default,
  * `broadcastLm = false` switches to a shuffled hash join building from
  * the LM side for web-scale bigram vocabularies (the [[TfIdf.topTerms]]
  * `broadcastDf` lever); corpus score totals broadcast as one row; the
  * final aggregation exchanges `(id, two longs)`.
  *
  * Output: one row per document with ≥ 1 bigram (≥ 2 tokens):
  * `(id, n_bigrams, sum_bits, keep)`, all BIGINT (`keep` 1/0 — integer,
  * not boolean, for canonical cross-engine hashing).
  */
object NgramLm {

  /** `reference`: train the LM on a SEPARATE corpus (the CCNet shape —
    * score the crawl against a CLEAN reference's counts, not its own;
    * must carry the same `idCol`/`textCol`). Bigrams absent from the
    * reference score as count 1 (add-one-style smoothing — the maximal
    * observed surprisal `floor_log2(N)`, exactly what a seen-once bigram
    * gets, so the smoothing introduces no new arithmetic and stays
    * integer-exact). None = self-scored (the LM is the scored corpus's
    * own counts; every bigram is then seen and the smoothing never
    * fires). */
  def bigramSurprisal(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      thresholdMillibits: Option[Long] = None,
      broadcastLm: Boolean = true,
      reference: Option[DataFrame] = None): DataFrame = {
    // per-doc bigram tf without an exchange (the TokenCounts explode
    // shape); materialized once — it feeds both the LM build and the
    // scoring join (self mode), and re-running the tokenizer kernel per
    // branch is the r13 vocab_coverage trap
    def docTf(d: DataFrame) = Dedup.fanOut(
      d.select(col(idCol).as("id"), lower(col(textCol)).as("t")),
      col("id"))
      .select(col("id"),
        explode(ColumnBridge.column(
          graft.functions.expressions.BigramCounts(
            ColumnBridge.expression(col("t")))))
          .as(Seq("bigram", "tf")))
    val tf = graft.Materialize.once(docTf(docs))
    // LM bigram counts: vocabulary-sized after map-side combine;
    // materialized once — read by the total-N derivation AND the LM join.
    // Reference mode makes its own single pass over the reference corpus.
    val cbg = graft.Materialize.once(
      reference.map(docTf(_)).getOrElse(tf)
        .groupBy("bigram").agg(sum(col("tf")).as("c_bg")))
    // N = total bigram occurrences, derived from the counts frame (no
    // second corpus pass), broadcast as one row into the score projection
    val nTotal = broadcast(
      cbg.agg(coalesce(sum(col("c_bg")), lit(0L)).as("__nb")))
    val lm = cbg.crossJoin(nTotal)
      .select(col("bigram"),
        (length(bin(col("__nb"))) - length(bin(col("c_bg"))))
          .cast("long").as("s"))
    // per-doc score: tf·s per bigram TYPE (both ≤ long, product ≤ 63·|doc|).
    // LEFT join so reference-mode unseen bigrams survive to the smoothing
    // coalesce (self mode never produces a null s)
    val scored = graft.Materialize.once(
      (if (broadcastLm) tf.join(broadcast(lm), Seq("bigram"), "left")
       else tf.join(lm.hint("shuffle_hash"), Seq("bigram"), "left"))
        .crossJoin(nTotal)
        .withColumn("__s",
          coalesce(col("s"), (length(bin(col("__nb"))) - 1L).cast("long")))
        .groupBy("id")
        .agg(sum(col("tf")).as("n_bigrams"),
          sum(col("tf") * col("__s")).as("sum_bits")))
    val dec = "decimal(38,0)"
    thresholdMillibits match {
      case Some(thr) =>
        scored.select(col("id"), col("n_bigrams"), col("sum_bits"),
          when(col("sum_bits").cast(dec) * lit(1000L).cast(dec)
            <= lit(thr).cast(dec) * col("n_bigrams").cast(dec), 1L)
            .otherwise(0L).as("keep"))
      case None =>
        // corpus totals as a 1-row broadcast; `scored` is materialized
        // above so the totals pass does not re-run the joins
        val totals = broadcast(scored.agg(
          coalesce(sum(col("n_bigrams")), lit(0L)).as("__tn"),
          coalesce(sum(col("sum_bits")), lit(0L)).as("__tb")))
        scored.crossJoin(totals)
          .select(col("id"), col("n_bigrams"), col("sum_bits"),
            when(col("sum_bits").cast(dec) * col("__tn").cast(dec)
              <= col("__tb").cast(dec) * col("n_bigrams").cast(dec), 1L)
              .otherwise(0L).as("keep"))
    }
  }
}

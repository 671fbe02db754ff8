package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Integer multinomial Naive Bayes over whitespace tokens — the
  * TRAINED-model document classifier slot (the fastText/linear-classifier
  * stage real curation pipelines run for language routing and
  * quality/educational-value scoring), rebuilt on integer corpus counts
  * so training AND inference are bit-exact cross-engine.
  *
  * Reference behavior anchor: the reference library has no classifier
  * stage (it starts at clean relational text); this is the labeled
  * companion of [[NgramLm]]'s unlabeled gate.
  *
  * The model. Per class `c` and token `w`, multinomial NB scores
  * `Σ_w tf_w · log 1/p(w|c)` and predicts the argmin. Real log-probs are
  * libm/ordering-dependent (the [[TfIdf.topTerms]] lesson), so each
  * token contributes its INTEGER BIT SURPRISAL under the class's
  * add-one-smoothed empirical distribution:
  * `bits_c(w) = floor_log2(N_c) − floor_log2(C_c(w) + 1)`
  * (= `length(bin(N_c)) − length(bin(C_c(w) + 1))`, the `−1`s
  * cancelling), where `C_c(w)` is `w`'s occurrence count in class `c`'s
  * training text and `N_c` the class's total token occurrences. A token
  * unseen in a class costs the maximal observed `floor_log2(N_c)` bits —
  * the same count-1 smoothing as [[NgramLm]]'s reference mode, so no new
  * arithmetic. (Add-one can push a dominant token past the next power of
  * two, giving that token −1 "bits" — scores are RELATIVE rankings, so a
  * negative cell is harmless and kept rather than clamped, which would
  * need a second arithmetic form in the oracle.) Prior is uniform
  * (documented; class-size priors would add one more bit-length term and
  * the test corpus's classes are near-balanced). Prediction = least
  * total bits, ties to the lexicographically smallest label — fully
  * deterministic, fully replayable in SQL.
  *
  * Resolution caveat (measured, not assumed): whole-bit quantization
  * washes out class differences smaller than a factor of two per token —
  * on a corpus whose classes share most of their vocabulary at similar
  * frequencies, prediction approaches noise even though a float-log NB
  * barely beats it (both measured ~15% on the metadata-labeled test
  * corpus, whose `lang` column is INDEPENDENT of its text). The operator
  * is for workloads with real vocabulary signal (language routing,
  * code-vs-prose, template detection); the registered query plants that
  * signal explicitly and recovers it at 99–100%.
  *
  * Scale shape: per-document token counts come from the fused
  * [[graft.functions.expressions.TokenCounts]] kernel inside the row —
  * text never shuffles. The model is ONE (label, term)-keyed
  * vocabulary×classes-sized map-side-combined exchange over the training
  * corpus; class totals derive from it (no second pass) and broadcast as
  * a #classes-row frame. Scoring is LONG-format — doc terms cross-join
  * the tiny labels frame (×#classes row multiplication, the honest cost
  * of scoring #classes models) and LEFT-join the model on (label, term),
  * broadcast by default with the [[TfIdf.topTerms]] `broadcastModel =
  * false` shuffled-hash lever for web-scale vocabularies; the per-(doc,
  * label) aggregation exchanges (id, label, one long); the argmin is a
  * #classes-row-per-doc window, never a pivot and never a driver-side
  * class list.
  *
  * Output: one row per scored document with ≥ 1 token:
  * `(id, pred, bits)` — the winning label and its total bit cost
  * (BIGINT; the runner-up margin is recoverable by re-running with
  * `keepAll = true`, which emits every (id, label) row with its bits and
  * rank instead of only the winner).
  */
object TextClassifier {

  def naiveBayesTokens(
      train: DataFrame,
      docs: DataFrame,
      labelCol: String,
      idCol: String,
      textCol: String,
      broadcastModel: Boolean = true,
      keepAll: Boolean = false): DataFrame = {
    def tf(d: DataFrame, key: Seq[(String, String)]) = Dedup.fanOut(
      d.select(key.map { case (f, t) => col(f).as(t) } :+
        lower(col(textCol)).as("t"): _*),
      col(key.head._2))
      .select(key.map(k => col(k._2)) :+
        explode(ColumnBridge.column(
          graft.functions.expressions.TokenCounts(
            ColumnBridge.expression(col("t")))))
          .as(Seq("term", "tf")): _*)
    // model counts: ONE exchange over the training corpus, keyed
    // (label, term), map-side combined; materialized once — read by the
    // class-totals derivation AND the scoring join
    val counts = graft.Materialize.once(
      tf(train, Seq(labelCol -> "label"))
        .groupBy("label", "term").agg(sum(col("tf")).as("c"))
        .filter(col("label").isNotNull))
    // N_c per class, derived from the counts frame; #classes rows
    val totals = counts.groupBy("label").agg(sum(col("c")).as("n_c"))
    val model = counts.join(broadcast(totals), "label")
      .select(col("label"), col("term"),
        (length(bin(col("n_c"))) - length(bin(col("c") + 1L)))
          .cast("long").as("bits"))
    // default (unseen-in-class) cost per label: floor_log2(N_c) bits
    val defaults = broadcast(totals
      .select(col("label"), (length(bin(col("n_c"))) - 1L)
        .cast("long").as("__dflt")))
    val docTf = tf(docs, Seq(idCol -> "id"))
    // long-format scoring: terms × labels, then the model join; the
    // labels frame is #classes rows (broadcast cross join)
    val crossed = docTf.crossJoin(defaults)
    val joined =
      if (broadcastModel) crossed.join(broadcast(model), Seq("label", "term"), "left")
      else crossed.join(model.hint("shuffle_hash"), Seq("label", "term"), "left")
    val scored = joined
      .groupBy("id", "label", "__dflt")
      .agg(sum(col("tf") * coalesce(col("bits"), col("__dflt"))).as("bits"))
    val w = Window.partitionBy("id").orderBy(col("bits").asc, col("label").asc)
    val ranked = scored.withColumn("rank", row_number().over(w).cast("long"))
    if (keepAll) ranked.select(col("id"), col("label"), col("bits"), col("rank"))
    else ranked.filter(col("rank") === 1L)
      .select(col("id"), col("label").as("pred"), col("bits"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Rarity-weighted term extraction — tf-idf-shaped keyword ranking per
  * document.
  *
  * The idf factor is `scale div df` in INTEGER arithmetic rather than
  * `ln(N/df)`: real-valued logs differ in the last ulp across libm
  * implementations, which would break bit-exact cross-engine verification,
  * while the integer form preserves the ranking structure (monotone
  * decreasing in document frequency). Ties are broken by term order, so
  * the top-k is fully deterministic.
  *
  * Scale shape: tf is computed INSIDE each row (a fused token->count map,
  * exploded) — term frequency is a within-document statistic, so the
  * corpus never shuffles for it; df is a groupBy on term whose result is
  * vocabulary-sized (≪ corpus) and broadcasts into the scoring join. A web-scale corpus's vocabulary
  * (billions of rare tokens) outgrows a broadcast — `broadcastDf = false`
  * switches the scoring join to a shuffled hash join building from the df
  * side: the tf side shuffles (id, term, tf) rows, the vocabulary is
  * partitioned instead of replicated to every executor.
  */
object TfIdf {

  /** Top-`k` terms per document by `tf * (scale div df)`.
    * Output: (id, term, tf, df, score, rank).
    *
    * `idCol` must identify a document: each input row is tokenized and
    * counted independently (term frequency is a within-document statistic,
    * so rows sharing an id would rank separately per row's text). */
  def topTerms(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      scale: Long = 1000000L,
      broadcastDf: Boolean = true
  ): DataFrame = {
    // tf WITHOUT an exchange: the fused TokenCounts kernel builds the
    // per-document token->count map inside the row and explodes it — one
    // row per distinct (id, term) with its count, exactly what
    // explode(tokens) + groupBy(id, term).count() produced, minus the
    // corpus-wide (id, term) shuffle and its ObjectHashAggregate (a
    // within-document statistic needs no cross-partition merge). Case
    // folding stays Spark's own `lower`. fanOut spreads the CPU-heavy
    // tokenize across the session's parallelism when the scan arrives in
    // few fat splits (test inputs); at real scale it is a no-op.
    val tf = Dedup.fanOut(
      docs.select(col(idCol).as("id"), lower(col(textCol)).as("t")),
      col("id"))
      .select(col("id"),
        explode(org.apache.spark.sql.graft.ColumnBridge.column(
          graft.functions.expressions.TokenCounts(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("t")))))
          .as(Seq("term", "tf")))
    // df from tf, not from a second tokenize pass: tf is already one row
    // per DISTINCT (id, term), so counting terms over it IS the document
    // frequency (df's input is map-side combined into vocabulary-sized
    // partials before its exchange)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))

    val joined =
      if (broadcastDf) tf.join(broadcast(df), "term")
      else tf.join(df.hint("shuffle_hash"), "term")

    val w = Window.partitionBy("id").orderBy(col("score").desc, col("term").asc)
    joined
      .withColumn("score", col("tf") * expr(s"$scale div df"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("id"), col("term"), col("tf"), col("df"), col("score"),
        col("rank"))
  }

  /** Vocabulary-coverage (OOV-rate) quality filter (r13) — the
    * "does this document look like the corpus" gate a curation pipeline
    * runs before spending tokenizer/training budget: documents whose
    * token mass falls mostly OUTSIDE the corpus's top-`vocabSize`
    * vocabulary are boilerplate, foreign-language bleed-through, or
    * binary junk. All-integer outputs (token counts, not log-probs — a
    * real log-prob sum is ordering- and libm-dependent across engines,
    * the same trap [[topTerms]]' integer idf avoids), so the result is
    * bit-exact cross-engine.
    *
    * Output: (id, n_tokens, oov_tokens) — one row per document that has
    * at least one token; the OOV RATE is `oov_tokens / n_tokens`,
    * left to the caller so the stored columns stay integers.
    *
    * Scale shape: per-document tf comes from ONE execution of the
    * tokenizer kernel — the tf frame is materialized once
    * ([[graft.Materialize.once]]) before fanning into the vocabulary and
    * coverage branches, because the r13 two-branch plan re-executed the
    * kernel per branch (ReusedExchange shared the shuffle but not the
    * tokenize, and at 100 TB tokenization is the dominant CPU). Corpus
    * term counts are one vocabulary-sized exchange with map-side partial
    * aggregation; the top-`vocabSize` cut is a TakeOrdered (no full
    * sort) whose result broadcasts into the coverage join; the final
    * per-document aggregation exchanges only (id, two longs). A
    * web-scale vocabulary that outgrows a broadcast switches the join
    * shuffled via `broadcastVocab = false`, the [[topTerms]]
    * `broadcastDf` lever. Ties at the vocabulary boundary are broken
    * (count desc, term asc), so the vocab — and with it every count —
    * is fully deterministic.
    *
    * `termCounter` swaps the tokenizer: default is the lowercased
    * whitespace [[graft.functions.expressions.TokenCounts]] kernel;
    * pass `c => Bpe.tokenCountsMap(c, encoder)` to budget coverage in
    * BPE tokenizer tokens (the r14 counter — training pipelines budget
    * in tokenizer tokens, which differ 2×+ from whitespace tokens on
    * code and non-English text). */
  def vocabularyCoverage(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocabSize: Int = 1000,
      broadcastVocab: Boolean = true,
      termCounter: Option[Column => Column] = None
  ): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    val counter: Column => Column = termCounter.getOrElse(c =>
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.expressions.TokenCounts(
          org.apache.spark.sql.graft.ColumnBridge.expression(lower(c)))))
    val tf = graft.Materialize.once(Dedup.fanOut(
      docs.select(col(idCol).as("id"), col(textCol).as("t")),
      col("id"))
      .select(col("id"),
        explode(counter(col("t"))).as(Seq("term", "tf"))))

    val vocab = tf.groupBy("term").agg(sum(col("tf")).as("__c"))
      .orderBy(col("__c").desc, col("term").asc)
      .limit(vocabSize)
      .select(col("term"), lit(1).as("__v"))

    val joined =
      if (broadcastVocab) tf.join(broadcast(vocab), Seq("term"), "left")
      else tf.join(vocab.hint("shuffle_hash"), Seq("term"), "left")

    joined
      .groupBy("id")
      .agg(sum(col("tf")).as("n_tokens"),
        sum(when(col("__v").isNull, col("tf")).otherwise(lit(0L)))
          .as("oov_tokens"))
  }

  /** Token-distribution DRIFT between a reference corpus and a current
    * batch (r15) — the data-drift monitor a continuously-fed training
    * pipeline runs before mixing a new crawl snapshot in: the tokens
    * whose corpus share moved most flag topic/language/spam shifts or a
    * broken upstream extractor, BEFORE they contaminate a mix.
    *
    * Per token: `drift = |n_ref · N_cur − n_cur · N_ref|` — the
    * cross-multiplied share difference `|p_ref − p_cur|` scaled by the
    * exact integer `N_ref · N_cur`, ranking identical to the real share
    * difference with NO division: real-valued shares (or a KL term's
    * log) differ in the last ulp across engines, the [[topTerms]]
    * integer-idf lesson. Products run in DECIMAL(38,0) — a long × long
    * product (≤ ~8.5e37) always fits 38 digits, so the arithmetic is
    * exact and overflow-free at any corpus size where the counts
    * themselves fit a long. Output: top-`topN` by (drift desc, term
    * asc): (term, n_ref bigint, n_cur bigint, drift decimal(38,0)).
    *
    * Scale shape: per-corpus token counts are ONE vocabulary-sized
    * map-side-combined exchange each, off the fused per-doc
    * [[graft.functions.expressions.TokenCounts]] kernel — text never
    * shuffles; each counts frame is materialized once so its scalar
    * total doesn't re-run the tokenize; the totals broadcast via a
    * 1-row cross join; the merge is a full-outer join of two
    * vocabulary-sized frames on term; the top-N is a TakeOrdered, no
    * full sort. Nothing corpus-sized crosses the wire. */
  def tokenDrift(
      reference: DataFrame,
      current: DataFrame,
      idCol: String,
      textCol: String,
      topN: Int = 100): DataFrame = {
    require(topN > 0, s"topN must be positive, got $topN")
    def counts(df: DataFrame, as: String) = graft.Materialize.once(
      Dedup.fanOut(
        df.select(col(idCol).as("id"), lower(col(textCol)).as("t")),
        col("id"))
        .select(explode(org.apache.spark.sql.graft.ColumnBridge.column(
          graft.functions.expressions.TokenCounts(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("t")))))
          .as(Seq("term", "tf")))
        .groupBy("term").agg(sum(col("tf")).as(as)))
    val r = counts(reference, "n_ref")
    val c = counts(current, "n_cur")
    val totals = broadcast(
      r.agg(coalesce(sum(col("n_ref")), lit(0L)).as("__tr"))
        .crossJoin(c.agg(coalesce(sum(col("n_cur")), lit(0L)).as("__tc"))))
    val dec = "decimal(38,0)"
    r.join(c, Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      .crossJoin(totals)
      .select(col("term"), col("n_ref"), col("n_cur"),
        abs(col("n_ref").cast(dec) * col("__tc").cast(dec) -
          col("n_cur").cast(dec) * col("__tr").cast(dec)).as("drift"))
      .orderBy(col("drift").desc, col("term").asc)
      .limit(topN)
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.store.Store

/** Multinomial Naive Bayes text classification — the train/serve pair a
  * curation pipeline uses for cheap model-based filtering (the fastText-
  * style "quality classifier" stage: label a small slice, train a linear
  * model, score the whole corpus). NB is the degenerate-but-deployed form:
  * training is ONE counting aggregate, serving is one broadcast join — both
  * embarrassingly parallel, which is why it remains the first-pass filter
  * at corpus scale.
  *
  * (The reference has no text operators — strings are load-only,
  * `/root/reference/src/csv_loader.cpp:151-155`; this is part of the
  * training-data extension surface required by the build brief.)
  *
  * Plan shape at 100 TB:
  *   - train: tokenize → (label, token) counts — partial+final hash agg;
  *     the shuffle carries (y, w, c) triples, O(classes·vocab), never text.
  *     Class priors and token totals are two more O(classes) aggregates.
  *   - serve: per-(doc, token) tf (map-side-combined agg) ⋈ the conditional
  *     count table on (y, w). The model is O(classes·vocab) — Zipf-small
  *     relative to any corpus worth filtering — so it broadcasts; each
  *     executor scores its documents with zero further shuffle except the
  *     final per-(doc, class) aggregate, whose input rows are co-located by
  *     doc after the tf aggregate. Callers with a genuinely huge model pass
  *     `hintBroadcast = false` and get a shuffle join on (y, w).
  *   - argmax: per-doc rows number `classes`, so the ranking window is a
  *     within-partition top-1 after one exchange on doc id (AQE coalesces;
  *     at scale this is the same shape as q23's per-group top-N).
  *
  * Laplace smoothing (`alpha`) makes serving total: a token unseen for a
  * class — or unseen in training entirely — contributes
  * ln(alpha / (n_tok_y + alpha·V)) instead of -inf, so the foreign-corpus
  * serve path needs no special OOV handling.
  *
  * Scores are rounded to 6 decimals BEFORE the argmax in both this engine
  * and the DuckDB oracle: double-sum association differs across engines at
  * ~1e-12, and rounding first makes the argmax (and its y-descending tie
  * break) decide on bit-identical inputs on both sides.
  */
object NaiveBayes {

  /** A trained model: `classes` = (y, n_docs, n_tok) one row per label;
    * `cond` = (y, w, c) token counts per label; `vocabSize` = |V| distinct
    * training tokens (the smoothing denominator's support size). */
  final case class Model(classes: DataFrame, cond: DataFrame, vocabSize: Long)

  /** Train on `docs(labelCol, textCol)`: one pass of counting aggregates.
    * Tokens are lowercased whitespace tokens ([[TF.tokens]]), matching the
    * LanguageModel/TfIdf operators so vocabularies line up across gates. */
  def train(docs: DataFrame, textCol: String, labelCol: String)
           (implicit scope: CacheScope = CacheScope.global): Model = {
    val toks = spread(docs.select(col(labelCol).as("y"), col(textCol)))
      .select(col("y"), explode(TF.tokens(lower(col(textCol)))).as("w"))
    // cached: feeds per-class token totals, |V|, and is the model itself
    val cond = scope.cache(
      toks.groupBy("y", "w").agg(count(lit(1)).as("c")))
    val nTok = cond.groupBy("y").agg(sum("c").as("n_tok"))
    val classes = docs.groupBy(col(labelCol).as("y"))
      .agg(count(lit(1)).as("n_docs"))
      .join(nTok, Seq("y"), "left")
      // a class whose every document tokenizes to nothing still has a prior
      .withColumn("n_tok", coalesce(col("n_tok"), lit(0L)))
    Model(classes, cond, cond.select("w").distinct().count())
  }

  /** Score `docs` against `model` and keep the argmax class per document.
    * Returns (idCol, pred, score): the winning label and its rounded joint
    * log-probability ln P(y) + Σ tf·ln P(w|y). Ties (after rounding) break
    * to the lexicographically larger label — deterministic on both engines.
    */
  def classify(docs: DataFrame, textCol: String, idCol: String, model: Model,
               alpha: Double = 1.0, hintBroadcast: Boolean = true): DataFrame = {
    require(alpha > 0, s"alpha must be positive for total scoring, got $alpha")
    // per-doc (w, tf) folds IN-ROW via the codegen'd runs kernel
    // (round-16): the old explode → groupBy(id, w) spelling shuffled one
    // row per distinct (doc, word) with the word string on the wire —
    // tf is a per-document quantity and never needed an exchange
    // (guide §2.3/§2.4, the BM25 docTermRuns shape)
    val tf = spread(docs.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), explode(graft.functions.TextKernels
        .gramRuns(TF.tokens(lower(col(textCol))), 1, dropEmpty = false)
        .getField("runs")).as("__r"))
      .select(col("id"), col("__r.item").as("w"), col("__r.cnt").as("tf"))
    // class table is O(classes) — always broadcast; driver holds one scalar
    val totalDocs = model.classes.agg(sum("n_docs")).head.getLong(0).toDouble
    val cls = broadcast(model.classes)
    val cond = if (hintBroadcast) broadcast(model.cond) else model.cond
    val scored = tf
      .crossJoin(cls)                         // |classes| rows per tf row
      .join(cond, Seq("y", "w"), "left")      // unseen (y, w) → smoothing floor
      .withColumn("__c", coalesce(col("c").cast("double"), lit(0.0)))
      .groupBy("id", "y", "n_docs", "n_tok")
      .agg(sum(col("tf") * log((col("__c") + lit(alpha)) /
        (col("n_tok").cast("double") + lit(alpha * model.vocabSize)))).as("__ll"))
      .withColumn("score",
        round(log(col("n_docs").cast("double") / lit(totalDocs)) + col("__ll"), 6))
    val w = Window.partitionBy("id").orderBy(col("score").desc, col("y").desc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("id").as(idCol), col("y").as("pred"), col("score"))
  }

  /** Persist a model: `classes` + `cond` parquet tables and a params
    * side table (vocab size + a layout tag), same layout discipline as the
    * ANN indexes — the model IS serving state, rebuilt never, loaded by
    * batch and streaming scorers alike. */
  def save(model: Model, path: String): Unit = {
    Store.create(path, "classes", Seq("layout" -> "nb_multinomial",
        "vocab_size" -> model.vocabSize)) { dir =>
      model.classes.coalesce(1).write.mode("overwrite").parquet(dir)
      model.cond.write.mode("overwrite").parquet(s"$path/cond")
    }
  }

  /** Load a persisted model. Validates the layout tag so a foreign
    * directory fails fast instead of scoring garbage. */
  def load(spark: SparkSession, path: String): Model = {
    val p = Store.params(spark, path)
    val layout = p.getAs[String]("layout")
    require(layout == "nb_multinomial",
      s"$path is not a NaiveBayes model dir (layout=$layout)")
    Model(Store.read(spark, path, "classes"),
      Store.read(spark, path, "cond"),
      p.getAs[Long]("vocab_size"))
  }
}

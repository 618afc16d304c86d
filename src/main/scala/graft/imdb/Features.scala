package graft.imdb

import org.apache.spark.ml.feature.{StandardScaler, StandardScalerModel, StringIndexer, StringIndexerModel, VectorAssembler}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Feature engineering M1-M4 + F6 (SURVEY.md §2.10).
  *
  * Deliberate fixes over the reference, both documented in SURVEY §7.4:
  *  - the VectorAssembler input list is an explicit ordered Seq (the
  *    reference derives it from a Python set — nondeterministic order,
  *    M3 quirk);
  *  - the StandardScaler is FIT ON TRAIN and reused for test
  *    (the reference re-fits per set, M4 bug); `legacyScaler = true`
  *    reproduces the reference behavior for output-parity runs.
  */
object Features {

  /** F6: decade bucket "1910s" (classifier_pipeline.py:373). */
  def withDecade(df: DataFrame): DataFrame =
    df.withColumn("decade",
      concat((floor(col("startYear") / 10) * 10).cast("int").cast("string"),
        lit("s")))

  /** Ordered feature columns (classifier_pipeline.py:87 + indexer
    * outputs), frozen for determinism. */
  val featureCols: Seq[String] = Seq(
    "runtimeMinutes", "numVotes", "popularity", "budget", "revenue",
    "writer_index", "director_index", "genre_index", "decade_index")

  val categoricalCols: Seq[String] = Seq("writer", "director", "genre", "decade")

  /** M1: fit ONE multi-column StringIndexer on TRAIN ONLY — one
    * aggregation job for all categorical columns. frequencyDesc order
    * (ties alphabetical, the same sort Spark uses for a single column),
    * handleInvalid=keep (unseen -> numLabels), exactly the reference's
    * semantics (data_utils.py:267-298). */
  def fitIndexers(train: DataFrame): StringIndexerModel =
    new StringIndexer()
      .setInputCols(categoricalCols.toArray)
      .setOutputCols(categoricalCols.map(c => s"${c}_index").toArray)
      .setHandleInvalid("keep")
      .fit(train.na.fill("unknown", categoricalCols))

  /** M2: apply the fitted indexer, drop source columns
    * (classifier_pipeline.py:384-396). */
  def applyIndexers(df: DataFrame, model: StringIndexerModel): DataFrame =
    model.transform(df.na.fill("unknown", categoricalCols))
      .drop(categoricalCols: _*)

  /** M3: assemble the ordered feature vector; upstream nulls must
    * already be patched (P9's na.fill(0) is applied here as the last
    * guard, classifier_pipeline.py:399-403). */
  def assemble(df: DataFrame): DataFrame =
    new VectorAssembler()
      .setInputCols(featureCols.toArray).setOutputCol("features")
      .transform(df.na.fill(0.0, featureCols))

  /** M4: scaler fit (withStd, no centering —
    * classifier_pipeline.py:103-108). Call on TRAIN, reuse the model. */
  def fitScaler(assembledTrain: DataFrame): StandardScalerModel =
    new StandardScaler()
      .setWithStd(true).setWithMean(false)
      .setInputCol("features").setOutputCol("scaled_features")
      .fit(assembledTrain)

  def scale(df: DataFrame, model: StandardScalerModel,
            legacyScaler: Boolean = false): DataFrame =
    if (legacyScaler) fitScaler(df).transform(df) // reference's refit-per-set bug
    else model.transform(df)
}

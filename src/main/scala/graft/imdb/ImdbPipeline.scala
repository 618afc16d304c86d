package graft.imdb

import graft.expr.GraftFunctions
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end IMDB classifier pipeline (SURVEY.md §3.1 stages 1-5),
  * mirroring the reference's runner.py arg surface in [[Config]] and
  * ClassifierPipeline.run in [[run]], with every driver-side escape
  * replaced by a distributed operator (X1-X3 fixes).
  */
object ImdbPipeline {

  /** runner.py:53-104 argument surface. `extraCsv` is optional — the
    * TMDB dump is git-ignored in the reference (SURVEY §7.4 risk 4).
    *
    * `setName`/`modelName` feed the F9 result filename
    * (`{set_name}_{model_name}_{timestamp}.txt`, runner.py:34,126-131);
    * `resultPath = Some(p)` pins a fixed path instead (tests, driver
    * contract). `cacheOutDir` is where the K2 updated genre cache
    * lands — a separate path rather than the reference's in-place file
    * rewrite (data_utils.py:404-413), because Spark cannot overwrite a
    * CSV it is still lazily reading from. */
  case class Config(
    trainGlob: String,
    testCsv: String,
    writingJson: String,
    directingJson: String,
    cacheCsv: String,
    resultsDir: String,
    extraCsv: Option[String] = None,
    modelDir: Option[String] = None,
    numTrees: Int = 300,
    batchSize: Int = 20,
    legacyScaler: Boolean = false,
    predictor: Enrichment.GenrePredictor = Enrichment.StubPredictor,
    setName: String = "validation",
    modelName: String = "stub",
    resultPath: Option[String] = None,
    cacheOutDir: Option[String] = None)

  /** F9: timestamped result name, runner.py:34 + 126-131. */
  def predFileName(setName: String, modelName: String,
                   at: java.time.LocalDateTime): String = {
    val ts = at.format(
      java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss"))
    s"${setName}_${modelName}_$ts.txt"
  }

  /** Stage 2: preprocess one movie set (classifier_pipeline.py:162-208):
    * title normalization (distributed, replaces X1), numeric casts,
    * year repair. */
  def preprocess(df: DataFrame): DataFrame = {
    val cleaned = Cleaning.fillTitles(df)
      .withColumn("primaryTitle", Cleaning.normalizeTitle(col("primaryTitle")))
      .withColumn("originalTitle", Cleaning.normalizeTitle(col("originalTitle")))
    Cleaning.repairYears(Cleaning.numericCasts(cleaned))
  }

  /** Imputation means for runtimeMinutes/numVotes: TRAIN ONLY and
    * unfiltered, exactly classifier_pipeline.py:189-199 (avg already
    * skips nulls). Test rows must never shift these — FeaturesSpec
    * pins the no-leak property. */
  private[imdb] def imputationMeans(trainPre: DataFrame): Map[String, Double] =
    Cleaning.columnMeans(trainPre, Seq("runtimeMinutes", "numVotes"))

  /** Stage 3 for one set: metadata merge + genre enrichment + decade +
    * extra-data columns (classifier_pipeline.py:320-410). */
  private def engineer(spark: SparkSession, df: DataFrame, topW: DataFrame,
                       topD: DataFrame, cache: DataFrame, cfg: Config,
                       extra: Option[DataFrame],
                       extraMeans: Map[String, Double]): (DataFrame, DataFrame) = {
    val merged = Metadata.joinTopEntities(df, topW, topD)
    val (genres, fresh) =
      Enrichment.enrich(spark, merged, cache, cfg.predictor, cfg.batchSize)
    val withGenre = merged
      .join(broadcast(genres), Seq("tconst"), "left") // J3
      .withColumn("genre", coalesce(col("genre"), lit("unknown")))
    val withExtra = extra match {
      case Some(e) =>
        // J4 + SURVEY §7.4 risk 5: dedup the non-unique imdb_id side,
        // then patch null-or-zero with the extra table's non-zero
        // means (classifier_pipeline.py:354-360)
        Cleaning.patchNullOrZero(
          withGenre.join(broadcast(e.dropDuplicates("tconst")), Seq("tconst"), "left"),
          extraMeans)
      case None =>
        // no extra table: the reference requires one; 0.0 constants are
        // graft's documented offline fallback (constant columns carry
        // zero signal into the forest either way)
        withGenre.withColumn("popularity", lit(0.0))
          .withColumn("budget", lit(0.0)).withColumn("revenue", lit(0.0))
    }
    (Features.withDecade(withExtra).drop("startYear", "endYear"), fresh)
  }

  /** Full run: load -> preprocess -> engineer -> train -> predict ->
    * sinks. Returns the prediction DataFrame (tconst, prediction).
    * Frames read by several actions are persisted for the run only;
    * the two fresh genre-prediction frames stay persisted, because the
    * returned frame depends on them. */
  def run(spark: SparkSession, cfg: Config,
          onStage: (String, Double) => Unit = (_, _) => (),
          tap: (String, DataFrame) => Unit = (_, _) => ()): DataFrame = {
    GraftFunctions.register(spark)
    // Stage marks land on the pipeline's NATURAL action boundaries
    // (fits and sinks) — no extra count()s are injected, so the
    // measured run is the production run. Lazy evaluation means each
    // mark carries everything since the previous action (e.g.
    // "fit_indexers" pays the train-side load+preprocess+engineer
    // chain, once); ImdbScaleBench documents this attribution.
    var lastMark = System.nanoTime()
    def mark(stage: String): Unit = {
      val now = System.nanoTime()
      onStage(stage, (now - lastMark) / 1e9)
      lastMark = now
    }

    // Stage 1: load (S1-S4, S6)
    val train = Readers.loadTrain(spark, cfg.trainGlob)
    val test = Readers.loadTest(spark, cfg.testCsv)
    val writing = Readers.loadWriting(spark, cfg.writingJson)
    val directing = Readers.loadDirecting(spark, cfg.directingJson)
    val cache = Readers.loadGenreCache(spark, cfg.cacheCsv)
    val extra = cfg.extraCsv.map { p =>
      spark.read.option("header", true).option("inferSchema", true).csv(p)
        .withColumnRenamed("imdb_id", "tconst")
        .select(col("tconst"), col("budget").cast("double"),
          col("revenue").cast("double"), col("popularity").cast("double"))
    }

    // Stage 2: preprocess; means once, from TRAIN ONLY and unfiltered
    // (classifier_pipeline.py:189-199 — avg skips nulls; the test set
    // never leaks into imputation)
    val trainPre = preprocess(train)
    val testPre = preprocess(test)
    val means = imputationMeans(trainPre)
    // extra-data means come from the extra table itself, non-zero rows
    // only (classifier_pipeline.py:236-241)
    val extraMeans = extra.map(e =>
      Cleaning.nonZeroMeans(e, Seq("popularity", "budget", "revenue")))
      .getOrElse(Map.empty)

    // Stage 3: features (fit-on-train indexers + scaler). The top-1
    // frames serve both sets; each engineered set serves fits and sinks
    val topW = Metadata.topEntityPerMovie(writing, "writer").persist()
    val topD = Metadata.topEntityPerMovie(directing, "director").persist()
    val (trainEng, freshTrain) =
      engineer(spark, Cleaning.patchWithMean(trainPre, means),
        topW, topD, cache, cfg, extra, extraMeans)
    val (testEng, freshTest) =
      engineer(spark, Cleaning.patchWithMean(testPre, means),
        topW, topD, cache.union(freshTrain), cfg, extra, extraMeans)
    val trainFeat0 = trainEng.persist()
    val testFeat0 = testEng.persist()
    try {
      // observation hook (no-op by default): ImdbScaleCensus gates the
      // engineered frames' census against a DuckDB recomputation at xN
      tap("engineered_train", trainFeat0)
      tap("engineered_test", testFeat0)
      val indexers = Features.fitIndexers(trainFeat0)
      mark("fit_indexers") // pays train-side load+preprocess+engineer once
      val trainIdx = Features.applyIndexers(trainFeat0, indexers)
        .withColumn("label", col("label").cast("double"))
      val testIdx = Features.applyIndexers(testFeat0, indexers)
      val trainAsm = Features.assemble(trainIdx)
      val scaler = Features.fitScaler(trainAsm)
      mark("fit_scaler")
      val trainScaled = Features.scale(trainAsm, scaler, cfg.legacyScaler)
      val testScaled =
        Features.scale(Features.assemble(testIdx), scaler, cfg.legacyScaler)

      // Stages 4-5: train, predict, emit (K3 model sink + K1 predictions)
      val model: PipelineModel = ImdbModel.train(trainScaled, cfg.numTrees)
      mark("train_rf")
      cfg.modelDir.foreach(d => model.write.overwrite().save(d)) // K3
      // M7: top-5 importances, like classifier_model.py:84-93
      val top5 = ImdbModel.topImportances(model, Features.featureCols)
        .map { case (n, v) => f"$n=$v%.6f" }.mkString(", ")
      println(s"[imdb] top-5 feature importances: $top5")
      val preds = ImdbModel.predict(model, testScaled)
        .select(col("tconst"), col("prediction"))
      // K1 (F9: timestamped {set}_{model}_{ts}.txt name unless pinned)
      val predPath = cfg.resultPath.getOrElse(s"${cfg.resultsDir}/" +
        predFileName(cfg.setName, cfg.modelName, java.time.LocalDateTime.now()))
      Writers.savePredictionsTxt(preds, predPath)
      mark("predict_write") // pays test-side engineer once + transform+predict
      println(s"[imdb] predictions written to $predPath")
      // K2: persist the updated genre cache (old entries win on dup keys,
      // data_utils.py:404-413); both fresh sets are persisted DataFrames,
      // so this re-reads memoized results, not the LLM
      Writers.saveGenreCache(cache, freshTrain.union(freshTest),
        cfg.cacheOutDir.getOrElse(s"${cfg.resultsDir}/genre_cache"))
      mark("cache_write")
      preds
    } finally Seq(testFeat0, trainFeat0, topD, topW).foreach(_.unpersist())
  }
}

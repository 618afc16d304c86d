package graft.imdb

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.functions._

/** End-to-end golden test (SURVEY.md §5): full pipeline on the
  * reference's committed fixtures with the committed LLM cache (zero
  * predictor calls) — asserts the output contract and the reference's
  * own accuracy bar on its own evaluation recipe. Slow (~2 min): tagged
  * by name, runs in `sbt test`. Both cancel without the fixtures; the
  * hermetic test runs the same contracts on a tiny generated input. */
class ImdbPipelineSpec extends SparkSpec {

  private val dir = "/root/reference/imdb"
  private def fixturesPresent = new java.io.File(s"$dir/train-1.csv").exists()

  test("full pipeline: validation predictions match the K1 contract") {
    assume(fixturesPresent)
    val out = java.nio.file.Files.createTempDirectory("graft_imdb").toString
    val cfg = ImdbPipeline.Config(
      trainGlob = s"$dir/train-*.csv",
      testCsv = s"$dir/validation_hidden.csv",
      writingJson = s"$dir/writing.json",
      directingJson = s"$dir/directing.json",
      cacheCsv = s"$dir/validation_gemma3_4b_cache.csv",
      resultsDir = out,
      numTrees = 60) // smaller forest: contract test, not accuracy test
    val preds = ImdbPipeline.run(spark, cfg)
    assert(preds.count() == 955)

    // K1 contract: one True/False per line, ordered by tconst; F9: the
    // default path is the timestamped {set}_{model}_{ts}.txt name
    val resultDirs = new java.io.File(out).listFiles()
      .filter(_.getName.matches("validation_stub_\\d{8}_\\d{6}\\.txt"))
    assert(resultDirs.length == 1, s"expected one timestamped result dir in $out")
    val txt = resultDirs.head.listFiles()
      .filter(_.getName.endsWith(".txt")).head
    val lines = scala.io.Source.fromFile(txt).getLines().toSeq
    assert(lines.length == 955)
    assert(lines.forall(l => l == "True" || l == "False"))

    // order contract: line i corresponds to sorted tconst i
    val sortedPreds = preds.orderBy("tconst")
      .select(when(col("prediction") === 1.0, "True").otherwise("False"))
      .collect().map(_.getString(0)).toSeq
    assert(lines == sortedPreds)

    // K2 contract: the run wrote an updated genre cache that GREW —
    // train-set ids are absent from the committed validation cache, so
    // the stub predictor's fresh rows must land in it
    val oldCacheSize = Readers.loadGenreCache(spark,
      s"$dir/validation_gemma3_4b_cache.csv").count()
    val newCache = Readers.loadGenreCache(spark, s"$out/genre_cache")
    assert(newCache.count() > oldCacheSize,
      "updated cache must contain the fresh stub predictions")
    assert(newCache.select("tconst").distinct().count() == newCache.count(),
      "cache must stay unique per tconst")
  }

  test("accuracy >= 0.75 on the reference's own 80/20 recipe") {
    assume(fixturesPresent)
    // Build train features exactly as the pipeline does, then evaluate
    // with the reference's prototype recipe (randomSplit 0.8/0.2 seed
    // 42, RF 100 trees — eda/process_data.ipynb cell 1).
    val spark0 = spark
    graft.expr.GraftFunctions.register(spark0)
    val train = ImdbPipeline.preprocess(Readers.loadTrain(spark0, s"$dir/train-*.csv"))
    val writing = Readers.loadWriting(spark0, s"$dir/writing.json")
    val directing = Readers.loadDirecting(spark0, s"$dir/directing.json")
    val cache = Readers.loadGenreCache(spark0, s"$dir/train_gemma3_4b_cache.csv")
    val means = Cleaning.columnMeans(train, Seq("runtimeMinutes", "numVotes"))
    val merged = Metadata.mergeMetadata(
      Cleaning.patchWithMean(train, means), writing, directing)
    val (genres, _) =
      Enrichment.enrich(spark0, merged, cache, Enrichment.StubPredictor)
    val withGenre = merged.join(broadcast(genres), Seq("tconst"), "left")
      .withColumn("genre", coalesce(col("genre"), lit("unknown")))
      .withColumn("popularity", lit(0.0))
      .withColumn("budget", lit(0.0)).withColumn("revenue", lit(0.0))
    val feat = Features.withDecade(withGenre).drop("startYear", "endYear")
    val indexers = Features.fitIndexers(feat)
    val idx = Features.applyIndexers(feat, indexers)
      .withColumn("label", col("label").cast("double"))
    val asm = Features.assemble(idx)
    val scaled = Features.scale(asm, Features.fitScaler(asm))
    val acc = ImdbModel.evaluateAccuracy(scaled, numTrees = 100)
    info(f"accuracy = $acc%.4f")
    assert(acc >= 0.75, f"accuracy $acc%.4f below the reference's 0.75 bar")
  }

  private val tinyTrain = (0 until 40).map(i => f"tt1$i%06d")
  private val tinyValid = (0 until 12).map(i => f"tt2$i%06d")

  /** A tiny input set with the reference's quirks (FIXTURES.md §A): a
    * header that starts with a comma, `\N` sentinels and empty cells,
    * two train files, a one-line JSON-array writing.json, a
    * columns-orient directing.json and a genre cache that covers only
    * part of both sets plus one movie of neither. */
  private def writeTinyFixture(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_imdb_tiny")
    def write(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.writeString(dir.resolve(name), lines.mkString("", "\n", "\n"))
    val header = ",tconst,primaryTitle,originalTitle,startYear,endYear," +
      "runtimeMinutes,numVotes"
    def row(i: Int, id: String): String = {
      val year = if (i % 7 == 3) "\\N" else (1920 + 3 * i % 60).toString
      val runtime = if (i % 5 == 1) "\\N" else (60 + 7 * i % 90).toString
      val votes = if (i % 6 == 2) "" else s"${100.0 * (i + 1)}"
      s"$i,$id,Title $i,Títle $i,$year,\\N,$runtime,$votes"
    }
    tinyTrain.zipWithIndex.grouped(20).zipWithIndex.foreach { case (part, f) =>
      write(s"train-${f + 1}.csv", s"$header,label" +: part.map { case (id, i) =>
        row(i, id) + (if (i % 3 == 0) ",True" else ",False")
      })
    }
    write("validation_hidden.csv",
      header +: tinyValid.zipWithIndex.map { case (id, i) => row(100 + i, id) })
    val movies = (tinyTrain ++ tinyValid).zipWithIndex
    write("writing.json", Seq(movies.filter(_._2 % 11 != 5).flatMap { case (m, i) =>
      Seq(s"nm0${i % 5}", s"nm1${i % 3}")
        .map(w => s"""{"movie":"$m","writer":"$w"}""")
    }.mkString("[", ",", "]")))
    val directing = movies.filter(_._2 % 9 != 4)
      .map { case (m, i) => (m, s"nm2${i % 4}") }.zipWithIndex
    def column(f: ((String, String)) => String) =
      directing.map { case (p, k) => s""""$k":"${f(p)}"""" }.mkString("{", ",", "}")
    write("directing.json",
      Seq(s"""{"movie":${column(_._1)},"director":${column(_._2)}}"""))
    val cached = tinyTrain.filter(_.last % 2 == 0) ++
      tinyValid.filter(_.last % 3 == 0) :+ "tt9000000"
    write("genre_cache.csv", "tconst,genre" +:
      cached.zipWithIndex.map { case (m, i) =>
        s"$m,${Enrichment.MovieGenres(i % Enrichment.MovieGenres.size)}"
      })
    dir.toString
  }

  test("hermetic: tiny input keeps K1/K2 and releases the run's caches") {
    val dir = writeTinyFixture()
    val out = s"$dir/out"
    val cfg = ImdbPipeline.Config(
      trainGlob = s"$dir/train-*.csv",
      testCsv = s"$dir/validation_hidden.csv",
      writingJson = s"$dir/writing.json",
      directingJson = s"$dir/directing.json",
      cacheCsv = s"$dir/genre_cache.csv",
      resultsDir = out,
      numTrees = 3,
      resultPath = Some(s"$out/predictions"),
      cacheOutDir = Some(s"$out/genre_cache"))
    val cm = spark.sharedState.cacheManager
    def cached(df: DataFrame): Boolean =
      cm.lookupCachedData(df.asInstanceOf[ClassicDataset[_]]).isDefined
    // rebuilt from the inputs: the cache manager matches plans by
    // result, so these find the run's own top-1 frames
    def topFrames = Seq(
      Metadata.topEntityPerMovie(Readers.loadWriting(spark, cfg.writingJson), "writer"),
      Metadata.topEntityPerMovie(
        Readers.loadDirecting(spark, cfg.directingJson), "director"))
    val tapped = scala.collection.mutable.Map[String, DataFrame]()
    val cachedAtTap = scala.collection.mutable.Map[String, Boolean]()
    val rddsBefore = spark.sparkContext.getPersistentRDDs.size
    val preds = ImdbPipeline.run(spark, cfg, tap = { (name, df) =>
      tapped(name) = df
      cachedAtTap(name) = cached(df)
      cachedAtTap("top_frames") = topFrames.forall(cached)
    })
    assert(cachedAtTap == Map("engineered_train" -> true,
      "engineered_test" -> true, "top_frames" -> true))
    // released on exit, except the two fresh-prediction frames
    assert(!tapped.values.exists(cached))
    assert(!topFrames.exists(cached))
    assert(spark.sparkContext.getPersistentRDDs.size == rddsBefore + 2)

    // K1: one True/False line per validation movie, in tconst order
    val txt = new java.io.File(s"$out/predictions").listFiles()
      .filter(_.getName.endsWith(".txt"))
    assert(txt.length == 1)
    val lines = scala.io.Source.fromFile(txt.head).getLines().toSeq
    val sorted = preds.orderBy("tconst").collect()
    assert(sorted.map(_.getString(0)).toSeq == tinyValid)
    assert(lines == sorted.map(r =>
      if (r.getDouble(1) == 1.0) "True" else "False").toSeq)

    // K2: unique per tconst, grown by exactly the uncached movies
    val oldCache = Readers.loadGenreCache(spark, cfg.cacheCsv)
    val newCache = Readers.loadGenreCache(spark, s"$out/genre_cache")
    val uncached = (tinyTrain ++ tinyValid).toSet --
      oldCache.select("tconst").collect().map(_.getString(0))
    assert(uncached.nonEmpty)
    assert(newCache.count() == oldCache.count() + uncached.size)
    assert(newCache.select("tconst").distinct().count() == newCache.count())
  }
}

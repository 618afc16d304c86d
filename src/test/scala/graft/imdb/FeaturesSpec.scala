package graft.imdb

import graft.SparkSpec
import org.apache.spark.ml.feature.StringIndexer
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class FeaturesSpec extends SparkSpec {

  private def frame(rows: Seq[Double]) = {
    import spark.implicits._
    val df = rows.map(v => (v, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0))
      .toDF(Features.featureCols: _*)
    Features.assemble(df)
  }

  test("fit-on-train scaler reuses train statistics on test (M4 fix)") {
    val train = frame(Seq(1.0, 2.0, 3.0))     // std computed from train
    val test = frame(Seq(100.0, 200.0, 300.0)) // very different scale
    val scaler = Features.fitScaler(train)
    val scaledTest = Features.scale(test, scaler)
      .select("scaled_features").collect()
      .map(_.getAs[Vector](0)(0))
    // train std = 1.0 -> test values pass through unchanged
    assert(scaledTest.toSeq == Seq(100.0, 200.0, 300.0))
  }

  test("legacyScaler=true reproduces the reference's refit-per-set bug") {
    val train = frame(Seq(1.0, 2.0, 3.0))
    val test = frame(Seq(100.0, 200.0, 300.0))
    val scaler = Features.fitScaler(train)
    val legacy = Features.scale(test, scaler, legacyScaler = true)
      .select("scaled_features").collect()
      .map(_.getAs[Vector](0)(0))
    // refit on test: std = 100 -> values shrink to 1,2,3
    assert(legacy.toSeq == Seq(1.0, 2.0, 3.0))
  }

  test("imputation means come from TRAIN only — test rows cannot leak in") {
    import spark.implicits._
    val trainPre = Seq((Some(10.0), Some(100.0)), (Some(20.0), None))
      .toDF("runtimeMinutes", "numVotes")
    val means = ImdbPipeline.imputationMeans(trainPre)
    // unfiltered train-only means (avg skips nulls, reference
    // classifier_pipeline.py:189-199); any test-set contribution or a
    // >0 filter would move these
    assert(means == Map("runtimeMinutes" -> 15.0, "numVotes" -> 100.0))
  }

  test("indexers: frequencyDesc order, unseen label -> numLabels (keep)") {
    import spark.implicits._
    val train = Seq("x", "x", "x", "y", "y", "z")
      .map(v => (v, v, v, v)).toDF(Features.categoricalCols: _*)
    val models = Features.fitIndexers(train)
    val test = Seq("y", "q").map(v => (v, v, v, v))
      .toDF(Features.categoricalCols: _*)
    val out = Features.applyIndexers(test, models)
      .select("writer_index").as[Double].collect().toSeq
    assert(out == Seq(1.0, 3.0)) // y = 2nd most frequent; q unseen -> 3
  }

  test("multi-column indexer fit == four single-column fits") {
    import spark.implicits._
    val rows: Seq[(Option[String], Option[String], Option[String], Option[String])] = Seq(
      (Some("b"), Some("d2"), None, Some("1990s")),
      (Some("a"), Some("d1"), Some("Drama"), None),
      (Some("b"), None, Some("Drama"), Some("1990s")),
      (Some("a"), Some("d1"), Some("Comedy"), Some("1980s")),
      (None, Some("d2"), Some("Action"), Some("1980s")),
      (Some("c"), None, None, Some("1990s")))
    val train = rows.toDF(Features.categoricalCols: _*)
    val multi = Features.fitIndexers(train).labelsArray.map(_.toSeq).toSeq
    val single = Features.categoricalCols.map { c =>
      new StringIndexer().setInputCol(c).setOutputCol(s"${c}_index")
        .setHandleInvalid("keep")
        .fit(train.na.fill("unknown", Seq(c))).labelsArray.head.toSeq
    }
    assert(multi == single)
    // count ties break alphabetically; nulls count as "unknown"
    assert(multi == Seq(
      Seq("a", "b", "c", "unknown"),
      Seq("d1", "d2", "unknown"),
      Seq("Drama", "unknown", "Action", "Comedy"),
      Seq("1990s", "1980s", "unknown")))
    // unseen -> numLabels of its column; null -> "unknown"'s index
    val test = Seq[(Option[String], Option[String], Option[String], Option[String])](
      (Some("zz"), None, Some("Drama"), Some("2000s")))
      .toDF(Features.categoricalCols: _*)
    val out = Features.applyIndexers(test, Features.fitIndexers(train))
      .select("writer_index", "director_index", "genre_index", "decade_index")
      .head()
    assert(out == Row(4.0, 2.0, 0.0, 3.0))
  }
}

package graft.ml

import graft.SparkSpec
import graft.engine.{CrimeEtl, CrimeFixture}
import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The reference's entry point 2 (`python xgboost_model.py`, SURVEY.md
  * §3.2) reproduced end-to-end on the crime-shaped fixture: dirty strings →
  * cleaned/engineered → 18-feature contract → weighted multiclass forest. */
class CrimeMlSpec extends SparkSpec {

  private lazy val prepared = CrimeEtl.prepare(CrimeFixture.raw(spark))
  private lazy val fitted = CrimePipeline.fitCrime(prepared, cutoffYear = 2003)

  /** The fused statistics of a `fitCrime` model against the estimator
    * stages on the same train frame. */
  private def checkEstimatorParity(input: DataFrame, model: PipelineModel,
      train: DataFrame, test: DataFrame): Unit =
    EstimatorParity.check(model,
      graft.engine.Sampling.timeSplit(input, col("ts"), 2003)._1,
      train, test, "Crime_Category", Seq("ID", "Location Description"))

  /** `model.transform` compiled for the test schema answers every test
    * row, and one with an unseen Location Description, as the batch
    * transform of the same rows does, with the same schema. */
  private def checkCompiled(model: PipelineModel, test: DataFrame): Unit = {
    val rows = test.collect().toSeq ++ test.limit(1)
      .withColumn("Location Description", lit("MOON BASE")).collect()
    val compiled = Serve.compile(spark, test.schema)(model.transform) match {
      case Right(c) => c
      case Left(why) => fail(s"the crime model does not compile: $why")
    }
    val got = compiled.transform(spark.createDataFrame(rows.asJava,
      test.schema)).getOrElse(fail("a local request is not compiled"))
    val batch = model.transform(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), test.schema))
    assert(got.schema == batch.schema)
    def counts(df: DataFrame): Map[org.apache.spark.sql.Row, Int] =
      df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val want = counts(batch)
    assert(want.values.sum == rows.length)
    assert(counts(got) == want)
  }

  test("the crime model's transform compiles to its Project chain and " +
    "equals the batch transform on every test row, including an unseen " +
    "Location Description") {
    val (model, _, test) = fitted
    checkCompiled(model, test)
  }

  test("null Beats survive cleaning and are fill-0'd before assembly " +
    "(XGBoost.py:232-233 residual fillna)") {
    val nullBeats = prepared.filter(col("Beat").isNull).count()
    assert(nullBeats > 0, "fixture must produce post-cleaning null Beats")
    val (_, train, test) = fitted // would throw in VectorAssembler if unfilled
    assert(train.filter(col("Beat").isNull).count() == 0)
    assert(test.filter(col("Beat").isNull).count() == 0)
  }

  test("18-feature contract: vector arity matches the reference exactly") {
    val (model, _, test) = fitted
    assert(CrimePipeline.CrimeFeatureCols.length == 18) // XGBoost.py:195-202
    val v = model.transform(test).select("features").head()
      .getAs[Vector](0)
    assert(v.size == 18) // Stramlit_app.py:135 serve-time assert
  }

  test("train-only densities and leakage-free split on crime data") {
    val (_, train, test) = fitted
    assert(train.select(max(col("d_year"))).head().getInt(0) <= 2003)
    assert(test.select(min(col("d_year"))).head().getInt(0) == 2004)
    // a district absent from train gets density 0 in test, never a count
    val trainDistricts = train.select("District").distinct()
    val leaked = test.join(trainDistricts, Seq("District"), "left_anti")
      .filter(col("District_Crime_Count") =!= 0).count()
    assert(leaked == 0)
  }

  test("predictions land in the 4-class space; weights clipped") {
    val (model, train, test) = fitted
    val preds = model.transform(test)
    assert(preds.count() > 0)
    val labels = Evaluation.labelMapping(model).map(_._2).toSet
    assert(labels.subsetOf(Set("PROPERTY_CRIME", "VIOLENT_CRIME",
      "DRUG_CRIME", "OTHER")))
    val w = train.select("weight").distinct().collect().map(_.getDouble(0))
    assert(w.forall(v => v >= 0.1 && v <= 5.0))
  }

  test("unseen Location Description at serve time → handleInvalid=keep") {
    val (model, _, test) = fitted
    val unseen = test.limit(1)
      .withColumn("Location Description", lit("MOON BASE"))
    val out = model.transform(unseen)
    assert(out.count() == 1) // keep: extra index bucket, no error
    val locIdx = out.select("Location_Index").head().getDouble(0)
    val seenCount = Evaluation.indexer(model, "Location_Index")
      .labelsArray.head.length
    assert(locIdx == seenCount.toDouble) // the reserved unseen bucket
  }

  test("fits on real-cardinality locations: 161+ distinct Location " +
    "Description values size the forest's maxBins from the fitted " +
    "indexer instead of failing against the default 32") {
    import org.apache.spark.ml.attribute.{AttributeGroup, NominalAttribute}
    import org.apache.spark.sql.expressions.Window
    // 4 replicas of every prepared row (~300 train rows), spread over
    // 170 location strings, or over one location per row. A forest caps
    // its bins at the number of training rows, so 170 values stay
    // categorical, while one value per row (more values + the keep
    // bucket than rows) must fall back to an ordered numeric index.
    for ((locations, categorical) <- Seq(170 -> true, Int.MaxValue -> false)) {
      val wide = prepared.crossJoin(spark.range(4).toDF("r"))
        .withColumn("Location Description", concat(lit("LOC "),
          (row_number().over(Window.orderBy(col("r"), col("ID"))) %
            locations).cast("string")))
        .drop("r")
      val (model, train, test) =
        CrimePipeline.fitCrime(wide, cutoffYear = 2003)
      checkEstimatorParity(wide, model, train, test)
      checkCompiled(model, test)
      val nLoc = Evaluation.indexer(model, "Location_Index")
        .labelsArray.head.length
      assert(nLoc >= 161)
      assert((nLoc + 1 <= train.count()) == categorical, s"nLoc=$nLoc")
      val rf = model.stages.last.asInstanceOf[
        org.apache.spark.ml.classification.RandomForestClassificationModel]
      assert(rf.getMaxBins == (if (categorical) nLoc + 1 else 32))
      val out = model.transform(test)
      val loc = AttributeGroup.fromStructField(out.schema("features"))
        .getAttr("Location_Index")
      assert(loc.isInstanceOf[NominalAttribute] == categorical)
      assert(out.count() == test.count())
      // both shapes persist: the density stage over double and int keys,
      // and the ordered-index stage
      val dir = java.nio.file.Files.createTempDirectory("graft-crime")
        .toString + "/m"
      model.write.overwrite().save(dir)
      def predictions(m: PipelineModel): Seq[Double] =
        m.transform(test).select("prediction").collect()
          .map(_.getDouble(0)).toSeq.sorted
      assert(predictions(PipelineModel.load(dir)) == predictions(model))
    }
  }

  test("the fused train statistics build the same model as the estimator " +
    "stages: indexer labels, density tables, class weights, predictions") {
    val (model, train, test) = fitted
    checkEstimatorParity(prepared, model, train, test)
  }
}

package graft.ml

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.feature.StringIndexerModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Evaluation surface (SURVEY.md §2.11 M7/M8): accuracy, weighted F1,
  * per-class precision/recall/F1 from a distributed confusion matrix,
  * gain-style feature importances.
  *
  * The per-class report is a plain DataFrame aggregation over
  * (label, prediction) — no sklearn-style driver collection of predictions
  * (`XGBoost.py:303-309` re-homed): the confusion matrix is
  * |classes|² rows regardless of data scale. */
object Evaluation {

  def accuracy(predictions: DataFrame): Double =
    new MulticlassClassificationEvaluator()
      .setLabelCol("label").setPredictionCol("prediction")
      .setMetricName("accuracy").evaluate(predictions)

  def weightedF1(predictions: DataFrame): Double =
    new MulticlassClassificationEvaluator()
      .setLabelCol("label").setPredictionCol("prediction")
      .setMetricName("weightedFMeasure").evaluate(predictions)

  /** Per-class precision/recall/F1/support from one confusion-matrix
    * aggregation (distributed; final math over |classes|² rows). */
  def perClassReport(predictions: DataFrame): DataFrame = {
    val cm = predictions.groupBy("label", "prediction")
      .agg(count(lit(1)).as("n")).cache()
    val support = cm.groupBy("label").agg(sum("n").as("support"))
    val predTotals = cm.groupBy("prediction").agg(sum("n").as("pred_n"))
    val tp = cm.filter(col("label") === col("prediction"))
      .select(col("label"), col("n").as("tp"))
    // full outer: a class that is predicted but never a true label must
    // still get a row (precision 0 over its false positives) — sklearn
    // classification_report semantics
    val report = support
      .join(predTotals.withColumnRenamed("prediction", "label"),
        Seq("label"), "full_outer")
      .na.fill(0, Seq("support", "pred_n"))
      .join(tp, Seq("label"), "left").na.fill(0, Seq("tp"))
      .withColumn("precision",
        when(col("pred_n") > 0, col("tp") / col("pred_n")).otherwise(0.0))
      .withColumn("recall",
        when(col("support") > 0, col("tp") / col("support")).otherwise(0.0))
      .withColumn("f1",
        when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall"))).otherwise(0.0))
      .orderBy("label")
      .localCheckpoint(true)
    cm.unpersist()
    report
  }

  /** Feature importances zipped with names (M8, `XGBoost.py:314-320`).
    * For the OneVsRest boosted variant, importances are averaged over the
    * per-class binary GBT models. Feature names come from the pipeline's
    * own VectorAssembler stage (NOT a hardcoded list) so a model with a
    * different feature recipe — e.g. the crime recipe's 18 columns — can never be
    * silently mislabeled by zip truncation. */
  def featureImportances(model: PipelineModel): Seq[(String, Double)] = {
    import org.apache.spark.ml.classification.{GBTClassificationModel, OneVsRestModel}
    import org.apache.spark.ml.feature.VectorAssembler
    val imp: Array[Double] = model.stages.last match {
      case rf: RandomForestClassificationModel =>
        rf.featureImportances.toArray
      case ovr: OneVsRestModel =>
        val per = ovr.models.collect {
          case g: GBTClassificationModel => g.featureImportances.toArray
        }
        require(per.nonEmpty, "no tree models inside OneVsRest")
        per.transpose.map(_.sum / per.length)
      case other => throw new IllegalArgumentException(
        s"unsupported final stage for importances: ${other.getClass}")
    }
    val names = model.stages.collectFirst {
      case va: VectorAssembler => va.getInputCols.toSeq
    }.getOrElse(throw new IllegalArgumentException(
      "pipeline has no VectorAssembler stage to read feature names from"))
    require(names.length == imp.length,
      s"feature name/importance arity mismatch: ${names.length} names " +
        s"vs ${imp.length} importances")
    names.zip(imp).sortBy(-_._2)
  }

  /** Global multiclass validation log-loss for the OneVsRest(GBT) model
    * (the metric `XGBoost.py:296` early-stops on): each binary model's
    * positive-class probability, softmax-style normalized across classes
    * into a softprob vector — the standard OneVsRest probability
    * combination, mirroring multi:softprob's normalization — then
    * −mean(log p_true) with the usual 1e-15 clip. Unweighted mean
    * (the reference's eval_metric default). */
  def ovrLogLoss(model: PipelineModel, data: DataFrame): Double = {
    import org.apache.spark.ml.classification.{GBTClassificationModel, OneVsRestModel}
    import org.apache.spark.ml.functions.vector_to_array
    import org.apache.spark.ml.param.ParamMap
    val ovr = model.stages.last match {
      case o: OneVsRestModel => o
      case other => throw new IllegalArgumentException(
        s"ovrLogLoss needs a OneVsRest final stage, got ${other.getClass}")
    }
    val featured = model.stages.init
      .foldLeft(data)((df, st) => st.transform(df))
    val scored = ovr.models.zipWithIndex.foldLeft(featured) {
      case (df, (m, c)) =>
        val g = m.copy(ParamMap.empty).asInstanceOf[GBTClassificationModel]
          .setPredictionCol(s"__pred_$c")
          .setRawPredictionCol(s"__raw_$c")
          .setProbabilityCol(s"__prob_$c")
        g.transform(df)
    }
    val k = ovr.models.length
    val probs = array(
      (0 until k).map(c => vector_to_array(col(s"__prob_$c"))(1)): _*)
    scored.select(
        (-log(greatest(
          element_at(probs, col("label").cast("int") + 1) /
            aggregate(probs, lit(0.0), (a, v) => a + v),
          lit(1e-15)))).as("ll"))
      .agg(avg(col("ll"))).head().getDouble(0)
  }

  /** The pipeline's fitted StringIndexerModel that writes `outputCol`,
    * found by role, not by stage position. */
  def indexer(model: PipelineModel, outputCol: String): StringIndexerModel =
    model.stages.collectFirst {
      case s: StringIndexerModel if s.getOutputCol == outputCol => s
    }.getOrElse(throw new IllegalArgumentException(
      s"pipeline has no StringIndexerModel writing $outputCol"))

  /** Label mapping (M3, `XGBoost.py:160-163`): index → original label,
    * in index order. */
  def labelMapping(model: PipelineModel): Seq[(Int, String)] =
    indexer(model, "label").labelsArray.head.zipWithIndex
      .map { case (l, i) => (i, l) }.toSeq
}

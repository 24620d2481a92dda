package graft.ml

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.feature.StringIndexerModel
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Evaluation surface (SURVEY.md §2.11 M7/M8): accuracy, weighted F1,
  * per-class precision/recall/F1 from a distributed confusion matrix,
  * gain-style feature importances.
  *
  * The per-class report aggregates (label, prediction) on the executors
  * — no sklearn-style driver collection of predictions
  * (`XGBoost.py:303-309` re-homed): only the confusion matrix, |classes|²
  * rows regardless of data scale, reaches the driver. */
object Evaluation {

  def accuracy(predictions: DataFrame): Double =
    new MulticlassClassificationEvaluator()
      .setLabelCol("label").setPredictionCol("prediction")
      .setMetricName("accuracy").evaluate(predictions)

  def weightedF1(predictions: DataFrame): Double =
    new MulticlassClassificationEvaluator()
      .setLabelCol("label").setPredictionCol("prediction")
      .setMetricName("weightedFMeasure").evaluate(predictions)

  /** Per-class precision/recall/F1/support from ONE confusion-matrix
    * collect (≤ |classes|² rows); the final math runs on the driver and
    * the report is a local frame: label (ascending), support, pred_n, tp,
    * precision, recall, f1. A class that is predicted but never a true
    * label still gets a row (precision 0 over its false positives) —
    * sklearn classification_report semantics. Label and prediction are
    * non-null, as MLlib's evaluators require. */
  def perClassReport(predictions: DataFrame): DataFrame = {
    val cm = predictions.groupBy("label", "prediction").count().collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getLong(2)).toMap
    def total(of: ((Double, Double)) => Double, c: Double): Long =
      cm.collect { case (k, n) if of(k) == c => n }.sum
    val classes = cm.keys.flatMap { case (l, p) => Seq(l, p) }.toSeq
      .distinct.sorted(Ordering.Double.TotalOrdering)
    val rows = classes.map { c =>
      val support = total(_._1, c)
      val predN = total(_._2, c)
      val tp = cm.getOrElse((c, c), 0L)
      val precision = if (predN > 0) tp.toDouble / predN else 0.0
      val recall = if (support > 0) tp.toDouble / support else 0.0
      val f1 =
        if (precision + recall > 0)
          2.0 * precision * recall / (precision + recall)
        else 0.0
      Row(c, support, predN, tp, precision, recall, f1)
    }
    predictions.sparkSession.createDataFrame(rows.asJava, ReportSchema)
  }

  private val ReportSchema = StructType(
    (Seq("label" -> DoubleType) ++
      Seq("support", "pred_n", "tp").map(_ -> LongType) ++
      Seq("precision", "recall", "f1").map(_ -> DoubleType))
      .map { case (name, t) => StructField(name, t, nullable = false) })

  /** Feature importances zipped with names (M8, `XGBoost.py:314-320`).
    * Feature names come from the pipeline's own VectorAssembler stage
    * (NOT a hardcoded list) so a model with a different feature recipe —
    * e.g. the crime recipe's 18 columns — can never be silently
    * mislabeled by zip truncation. */
  def featureImportances(model: PipelineModel): Seq[(String, Double)] = {
    import org.apache.spark.ml.feature.VectorAssembler
    val imp: Array[Double] = model.stages.last match {
      case rf: RandomForestClassificationModel =>
        rf.featureImportances.toArray
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

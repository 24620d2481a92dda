package graft.ml

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Single-row serving path (SURVEY.md §3.3): the raw input goes through the
  * SAME engine expressions as training (feature block → pipeline
  * transform) — fixing the reference's riskiest design, hand-duplicated
  * feature math in a second language (`Stramlit_app.py:123-136`).
  */
object Serve {

  /** Score one raw (lineitem ⋈ part)-shaped record. The train-only
    * densities come from the model's fitted [[DensityModel]] stage, so a
    * request costs the same at any training size, and a local one-row
    * request (`createDataFrame` of one row) runs no Spark job. `train` is
    * ignored; it stays in the signature for existing callers.
    * Returns (predicted label string, class probability vector). */
  def predictOne(spark: SparkSession, model: PipelineModel,
      raw: DataFrame, train: DataFrame): DataFrame = {
    // the SAME shared feature block as training — including deriving the
    // label-indexer input from p_type, so serving never needs ground truth
    val engineered = CrimePipeline.engineerFeatures(raw)
      .withColumn("weight", lit(1.0))
    val labels = Evaluation.labelMapping(model).map(_._2)
    val labelArr = array(labels.map(lit): _*)
    model.transform(engineered)
      .withColumn("predicted_category",
        labelArr(col("prediction").cast("int")))
      .select(col("predicted_category"), col("probability"),
        col("prediction"))
  }
}

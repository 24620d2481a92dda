package graft.ml

import graft.engine.Density
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.ml.feature.{StringIndexer, StringIndexerModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.Assertions._

/** Checks a forest pipeline fitted from the fused train statistics
  * against the model MLlib's estimator stages fit on the same train
  * frame: each `StringIndexerModel` is swapped for a
  * `StringIndexer(frequencyDesc)` with its columns and handleInvalid, and
  * the forest refits from its own estimator. */
object EstimatorParity {

  /** `trainRaw` is the frame the statistics were counted over, `train` and
    * `test` the prepared splits the recipe returned, `label` the raw label
    * column and `ids` a row key of `test`. */
  def check(model: PipelineModel, trainRaw: DataFrame, train: DataFrame,
      test: DataFrame, label: String, ids: Seq[String]): Unit = {
    val reference = new Pipeline().setStages(model.stages.map {
      case s: StringIndexerModel => new StringIndexer()
        .setInputCol(s.getInputCol).setOutputCol(s.getOutputCol)
        .setHandleInvalid(s.getHandleInvalid)
        .setStringOrderType("frequencyDesc")
      case rf: RandomForestClassificationModel => rf.parent
      case stage => stage
    }).fit(train)

    def indexers(m: PipelineModel): Seq[(String, Seq[String])] =
      m.stages.toSeq.collect { case s: StringIndexerModel =>
        s.getOutputCol -> s.labelsArray.head.toSeq
      }
    assert(indexers(model).length == 2)
    assert(indexers(model) == indexers(reference))

    // the density stage against the join over the raw train frame, on
    // the raw train rows (null keys included) and the prepared test rows
    val stage = model.stages.collectFirst { case d: DensityModel => d }.get
    for ((key, out) <- stage.getOrDefault(stage.inputCols)
        .zip(stage.getOrDefault(stage.outputCols));
        target <- Seq(trainRaw, test)) {
      val cols = (ids :+ key :+ out).map(col)
      val viaStage = stage.transform(target).select(cols: _*)
      val viaJoin = Density.attachCount(target.drop(out), trainRaw, key, out)
        .select(cols: _*)
      assert(viaStage.exceptAll(viaJoin).isEmpty &&
        viaJoin.exceptAll(viaStage).isEmpty, s"density $out")
    }

    val weights = train.select(col(label), col("weight")).distinct()
      .collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    assert(weights ==
      CrimePipeline.classWeightTable(trainRaw, label).toMap)

    def predictions(m: PipelineModel): DataFrame =
      m.transform(test).select((ids :+ "prediction").map(col): _*)
    assert(predictions(model).count() == test.count())
    assert(predictions(model).exceptAll(predictions(reference)).isEmpty &&
      predictions(reference).exceptAll(predictions(model)).isEmpty)
  }
}

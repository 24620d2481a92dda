package graft.ml

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param.{ParamMap, StringArrayParam}
import org.apache.spark.ml.util.{DefaultParamsReadable, DefaultParamsWritable, Identifiable}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.types.{Metadata, StructType}

/** Drops the ML attribute metadata of index columns, so that a forest
  * splits them as ordered numeric features instead of categorical ones
  * (a `StringIndexerModel` marks its output nominal). */
final class OrderedFeatures(override val uid: String) extends Transformer
    with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("orderedFeatures"))

  final val inputCols = new StringArrayParam(this, "inputCols",
    "columns to fit as ordered numeric features")

  def setInputCols(value: Array[String]): this.type = set(inputCols, value)

  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema, logging = true)
    $(inputCols).foldLeft(dataset.toDF())(_.withMetadata(_, Metadata.empty))
  }

  override def transformSchema(schema: StructType): StructType =
    StructType(schema.map(f =>
      if ($(inputCols).contains(f.name)) f.copy(metadata = Metadata.empty)
      else f))

  override def copy(extra: ParamMap): OrderedFeatures = defaultCopy(extra)
}

object OrderedFeatures extends DefaultParamsReadable[OrderedFeatures]

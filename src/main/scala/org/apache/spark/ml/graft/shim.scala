package org.apache.spark.ml.graft

import org.apache.spark.ml.param.Params
import org.apache.spark.ml.util.{DefaultParamsReader, DefaultParamsWriter}
import org.apache.spark.sql.SparkSession

/** Stage-metadata persistence for third-party pipeline stages that also
  * save data. `PipelineModel.load` finds a stage's reader through the
  * stage's `metadata` file (class, uid, params), and MLlib's writer and
  * reader of that file are `private[ml]` — hence this one-file shim
  * inside the ml package, the same pattern as `org.apache.spark.sql.graft`. */
object shim {

  /** Write `path/metadata` for `instance`: its class, uid and params. */
  def saveMetadata(instance: Params, path: String,
      spark: SparkSession): Unit =
    DefaultParamsWriter.saveMetadata(instance, path, spark)

  /** Read `path/metadata`: build the instance from the saved uid, then
    * set the saved params on it. */
  def loadMetadata[T <: Params](path: String, spark: SparkSession)
      (make: String => T): T = {
    val metadata = DefaultParamsReader.loadMetadata(path, spark)
    val instance = make(metadata.uid)
    metadata.getAndSetParams(instance)
    instance
  }
}

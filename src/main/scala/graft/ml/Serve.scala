package graft.ml

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, InterpretedMutableProjection, MutableProjection, Nondeterministic, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.types.StructType

/** Single-row serving path (SURVEY.md §3.3): the raw input goes through the
  * SAME engine expressions as training (feature block → pipeline
  * transform) — fixing the reference's riskiest design, hand-duplicated
  * feature math in a second language (`Stramlit_app.py:123-136`).
  *
  * The serving plan is compiled once per fitted model and request schema
  * ([[compile]]): Catalyst analyzes and optimizes it once, and a local
  * request's rows then run through the optimized Project chain on the
  * driver, in the interpreted projection Catalyst's `ConvertToLocalRelation`
  * folds the same chain with when it plans a local request itself. A
  * request falls back to planning the whole serving plan when
  *  - it is not a local relation (`createDataFrame` of rows), or
  *  - the optimized plan is not a chain of Projects over the request,
  *    holds a stateful nondeterministic expression (rand,
  *    monotonically_increasing_id: their state would carry from request
  *    to request) or an unevaluable one, or reads the current time.
  * A UDF merely flagged nondeterministic, as MLlib flags its
  * StringIndexer and VectorAssembler UDFs so that the optimizer does not
  * move them, is compiled: both routes call it once per request row.
  *
  * The memo holds the model served last, weakly, with its label list and
  * its compiled plans, each stamped with the session configuration it was
  * compiled under: analysis binds settings such as the session time zone
  * into the expressions, so a changed configuration recompiles. Serving
  * another model replaces it, so the memo keeps no dropped model alive
  * past the next model served. It assumes a fitted model's stages are not
  * re-configured after serving starts.
  */
object Serve {

  /** Score raw (lineitem ⋈ part)-shaped records. The train-only densities
    * come from the model's fitted [[DensityModel]] stage, so a request
    * costs the same at any training size, and a local request
    * (`createDataFrame` of rows) runs no Spark job and no Catalyst pass
    * over the serving plan. The request's own session serves it; `spark`
    * and `train` are ignored and stay in the signature for existing
    * callers. Returns (predicted label string, class probability vector,
    * prediction) per row. */
  def predictOne(spark: SparkSession, model: PipelineModel,
      raw: DataFrame, train: DataFrame): DataFrame = {
    val served = servedFor(model)
    val compiled =
      if (localRows(raw).isEmpty) None
      else served.compiled(raw.sparkSession, raw.schema, model).toOption
    compiled.flatMap(_.transform(raw))
      .getOrElse(predict(model, served.labels, raw))
  }

  /** The serving plan itself, analyzed and optimized per request: the
    * route of a request that cannot be compiled. */
  private[ml] def planned(model: PipelineModel, raw: DataFrame): DataFrame =
    predict(model, servedFor(model).labels, raw)

  /** `model`'s compiled serving plan for requests of `schema`, or why it
    * cannot be compiled; memoized. */
  private[ml] def compiled(spark: SparkSession, model: PipelineModel,
      schema: StructType): Either[String, Compiled] =
    servedFor(model).compiled(spark, schema, model)

  private def predict(model: PipelineModel, labels: Seq[String],
      raw: DataFrame): DataFrame = {
    // the SAME shared feature block as training — including deriving the
    // label-indexer input from p_type, so serving never needs ground truth
    val engineered = CrimePipeline.engineerFeatures(raw)
      .withColumn("weight", lit(1.0))
    val labelArr = array(labels.map(lit): _*)
    model.transform(engineered)
      .withColumn("predicted_category",
        labelArr(col("prediction").cast("int")))
      .select(col("predicted_category"), col("probability"),
        col("prediction"))
  }

  /** One model's serving state. It refers to the model only weakly, so
    * the memo never keeps a model reachable. */
  private final class Served(model: PipelineModel) {
    val ref = new WeakReference(model)
    val labels: Seq[String] = Evaluation.labelMapping(model).map(_._2)
    private val plans = new ConcurrentHashMap[StructType,
      (Map[String, String], Either[String, Compiled])]

    def compiled(spark: SparkSession, schema: StructType,
        model: PipelineModel): Either[String, Compiled] = {
      val conf = spark.conf.getAll
      plans.compute(schema, (_, old) =>
        if (old != null && old._1 == conf) old
        else conf -> compile(spark, schema)(predict(model, labels, _)))._2
    }
  }

  private var last: Served = _

  private def servedFor(model: PipelineModel): Served = synchronized {
    if (last == null || !(last.ref.get eq model)) last = new Served(model)
    last
  }

  /** The rows of a local, non-streaming relation. */
  private def localRows(df: DataFrame): Option[Seq[InternalRow]] =
    df.queryExecution.analyzed match {
      case LocalRelation(_, data, false, _) => Some(data)
      case _ => None
    }

  /** `f` compiled for frames of `schema`: `f` is applied once to an empty
    * placeholder frame that Catalyst cannot fold, and the optimized plan
    * must be a chain of Projects over it. Each project list is bound to
    * its child's output. Left(reason) when the plan has another shape,
    * holds a stateful nondeterministic or an unevaluable expression, or
    * reads the current time (the optimizer folds that to the compile
    * time). */
  def compile(spark: SparkSession, schema: StructType)
      (f: DataFrame => DataFrame): Either[String, Compiled] = {
    val leaf = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val input = leaf.queryExecution.analyzed.output
    val qe = f(leaf).queryExecution
    def chain(plan: LogicalPlan, above: List[Project])
        : Either[String, List[Project]] = plan match {
      case p: Project => chain(p.child, p :: above)
      case l: LeafNode if l.output == input => Right(above)
      case other => Left(s"not a Project chain: ${other.nodeName}")
    }
    chain(qe.optimizedPlan, Nil).flatMap { projects =>
      val exprs = projects.flatMap(_.projectList)
      if (qe.analyzed.containsPattern(CURRENT_LIKE))
        Left("reads the current time")
      else if (exprs.exists(_.exists(_.isInstanceOf[Nondeterministic])))
        Left("stateful nondeterministic expression")
      else if (exprs.exists(_.exists(e => e.isInstanceOf[Unevaluable] &&
          !e.isInstanceOf[AttributeReference])))
        Left("unevaluable expression")
      else
        Right(new Compiled(schema, projects.map(p =>
          new InterpretedMutableProjection(p.projectList, p.child.output)),
          qe.analyzed.output))
    }
  }

  /** A frame → frame function compiled for input frames of one schema:
    * its optimized Project chain, bound, evaluated on the driver. Its
    * result has the analyzed output of the function's own frame, which is
    * how Spark itself reads the rows an optimized plan produces. A
    * `MutableProjection` reuses its result row, so rows are evaluated
    * under this object's lock and copied out. */
  final class Compiled private[Serve] (inputSchema: StructType,
      steps: Seq[MutableProjection], output: Seq[Attribute]) {

    /** `df` through the chain when it is a local relation of the compiled
      * input schema; None otherwise. */
    def transform(df: DataFrame): Option[DataFrame] =
      if (df.schema != inputSchema) None
      else localRows(df).map { rows =>
        val out = synchronized {
          rows.map(r => steps.foldLeft(r)((row, p) => p(row)).copy())
        }
        shim.ofRows(df.sparkSession,
          LocalRelation(output.map(_.newInstance()), out))
      }
  }
}

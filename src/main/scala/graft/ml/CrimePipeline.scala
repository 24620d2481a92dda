package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.RandomForestClassifier
import org.apache.spark.ml.feature.{StringIndexerModel, VectorAssembler}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import graft.engine._

/** The reference's ML pipeline (SURVEY.md §2.11, `XGBoost.py`) re-homed
  * fully distributed over the fixture tables: label = 4-class category of
  * p_type; features mirror the reference's 18-feature recipe (temporal
  * extracts, cyclic encoding, count-encoding densities, string index).
  *
  * Key restructure vs the reference (SURVEY.md §3.2): no collect-to-driver
  * boundary for the data — density lookup → StringIndexer → weight
  * lookup → VectorAssembler → RandomForestClassifier all run on
  * executors; only fitted statistics reach the driver: the forest
  * (KB-scale), the density stage's count tables (|distinct(key)| entries
  * each) and the per-class counts. RandomForest replaces XGBoost (no
  * xgboost4j offline; the reference's own first model family,
  * `README.md:118-121`); class weights go in as a `weightCol` instead of a
  * per-row numpy array (`XGBoost.py:247-257`).
  *
  * Leakage discipline (`XGBoost.py:156,168-187`): indexers and density
  * counts are fitted on TRAIN only; test rows get `handleInvalid="keep"`
  * indices and 0 densities. The density counts are a fitted stage
  * ([[DensityModel]]) that leads the pipeline, so serving one row is a
  * plain `model.transform` with no access to the training data.
  *
  * Two recipes ([[Recipe]]) share ONE definition of the feature stages,
  * the density encodings and the forest fit: the fixture-table pipeline
  * ([[fit]]) and the reference's own pipeline on the crime-shaped table
  * ([[fitCrime]]).
  */
object CrimePipeline {

  /** One weighted-forest recipe: the category column string-indexed
    * into `indexOut`, the label column, the assembled feature list, the
    * train-only count-encoding densities (key → output column), the
    * forest size, and whether residual feature nulls are 0-filled
    * before assembly. */
  private final case class Recipe(indexIn: String, indexOut: String,
      label: String, featureCols: Seq[String],
      densities: Seq[(String, String)], numTrees: Int,
      fillNulls: Boolean)

  val LabelCol = "category"
  val FeatureCols: Seq[String] = Seq(
    "d_year", "d_month", "d_dow", "month_sin", "month_cos",
    "l_quantity", "l_extendedprice", "l_discount", "p_size",
    "p_retailprice", "supp_density", "part_density", "brand_idx")

  private val Lineitem = Recipe("p_brand", "brand_idx", LabelCol,
    FeatureCols,
    Seq("l_suppkey" -> "supp_density", "l_partkey" -> "part_density"),
    numTrees = 30, fillNulls = false)

  /** The crime table's EXACT 18-feature contract (`XGBoost.py:195-202`;
    * serve-time arity assert `Stramlit_app.py:135`). */
  val CrimeFeatureCols: Seq[String] = Seq(
    "District", "Community Area", "d_year", "d_month", "d_hour", "d_dow",
    "Latitude", "Longitude", "Beat", "Ward", "Hour_sin", "Hour_cos",
    "IsWeekend", "Distance_from_center", "District_Crime_Count",
    "Beat_Crime_Count", "Community_Crime_Count", "Location_Index")

  /** Beat etc. can be null after cleaning (only District/coords are
    * drop subsets; only Ward/Community Area are imputed), and
    * VectorAssembler's default handleInvalid="error" would crash on
    * them — hence `fillNulls` (`XGBoost.py:232-233`'s fillna(0)). */
  private val Crime = Recipe("Location Description", "Location_Index",
    "Crime_Category", CrimeFeatureCols,
    Seq("District" -> "District_Crime_Count",
      "Beat" -> "Beat_Crime_Count",
      "Community Area" -> "Community_Crime_Count"),
    numTrees = 20, fillNulls = true)

  /** The ONE feature block shared by training ([[base]]) and serving
    * ([[Serve.predictOne]]) — a single definition is the train/serve-parity
    * guarantee: serving runs the same expressions, evaluated once-bound on
    * the driver (the reference's riskiest flaw was this logic duplicated in
    * a second language, `Stramlit_app.py:123-136`). */
  def engineerFeatures(df: DataFrame): DataFrame =
    Features.withTemporal(
      df.withColumn(LabelCol, Features.category4(col("p_type"))),
      "l_shipdate")
      .withColumn("month_sin", sin(radians(col("d_month") * 30)))
      .withColumn("month_cos", cos(radians(col("d_month") * 30)))

  /** Labeled, feature-engineered frame from lineitem ⋈ part. */
  def base(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    engineerFeatures(
      li.join(broadcast(p), li("l_partkey") === p("p_partkey")))
  }

  /** Time-based split (`XGBoost.py:139-140`): train ≤ cutoff, test after. */
  def split(df: DataFrame, cutoffYear: Int): (DataFrame, DataFrame) =
    (df.filter(col("d_year") <= cutoffYear),
      df.filter(col("d_year") > cutoffYear))

  /** Attach train-only density features (count encodings) to any frame
    * by broadcast joins: the reference the fitted [[DensityModel]] stage
    * is checked against. */
  def withDensities(target: DataFrame, train: DataFrame): DataFrame =
    Lineitem.densities.foldLeft(target) { case (df, (key, out)) =>
      Density.attachCount(df, train.select(key), key, out)
    }

  /** Inverse-frequency class-weight table clipped to [0.1, 5.0]
    * (`XGBoost.py:247-257`): n_classes (label, weight) pairs, computed ONCE
    * per training run on the driver from one collect of the class counts,
    * so no consumer re-aggregates `train`. */
  def classWeightTable(train: DataFrame, labelCol: String)
      : Seq[(Any, Double)] =
    weightsOf(DensityModel.countValues(train, Seq(col(labelCol))).head)

  private def weightsOf(counts: Seq[(Any, Long)]): Seq[(Any, Double)] = {
    val total = counts.map(_._2).sum.toDouble
    val nClasses = counts.length.toDouble
    counts.map { case (label, n) =>
      label -> math.min(5.0, math.max(0.1, total / (nClasses * n)))
    }
  }

  /** Attach a class-weight table as a weightCol: a projection over its
    * ≤|classes| entries, so it adds no join and no job; a label without a
    * weight (null) weighs 1.0. */
  def attachWeights(df: DataFrame, weights: Seq[(Any, Double)],
      labelCol: String): DataFrame =
    df.withColumn("weight", weights.foldLeft(lit(1.0)) {
      case (rest, (label, w)) =>
        when(col(labelCol) === lit(label), w).otherwise(rest)
    })

  def withClassWeights(df: DataFrame, train: DataFrame): DataFrame =
    attachWeights(df, classWeightTable(train, LabelCol), LabelCol)

  private def assembler(r: Recipe): VectorAssembler =
    new VectorAssembler()
      .setInputCols(r.featureCols.toArray).setOutputCol("features")

  /** Everything the pipeline fits before the forest: the class counts
    * (weights and training size), the density stage, and the category
    * and label indexers. */
  private[ml] final case class TrainStats(classCounts: Seq[(Any, Long)],
      densities: DensityModel, indexer: StringIndexerModel,
      labelIndexer: StringIndexerModel)

  /** [[TrainStats]] from ONE grouping-sets aggregation over `train`
    * ([[DensityModel.countValues]]): a set for the label, the category
    * column `indexIn` and each density key, collected once. The indexers
    * (`indexIn` → `indexOut`, label → "label") are built on the driver
    * exactly as `StringIndexer(frequencyDesc).fit` builds them: input
    * cast to string, nulls dropped, count descending, ties by string
    * ascending. */
  private[ml] def trainStats(train: DataFrame, label: String,
      indexIn: String, indexOut: String,
      densities: Seq[(String, String)]): TrainStats = {
    def asString(c: String): Column =
      if (train.schema(c).dataType == StringType) col(c)
      else col(c).cast(StringType)
    // the weights count raw labels; a non-string label is counted again
    // as the string its indexer sees
    val labelCast =
      if (train.schema(label).dataType == StringType) None
      else Some(asString(label))
    val counts = DensityModel.countValues(train,
      Seq(col(label), asString(indexIn)) ++
        DensityModel.keyColumns(train, densities) ++ labelCast)
    val (keyCounts, labelCastCounts) =
      counts.drop(2).splitAt(densities.length)
    def indexer(valueCounts: Seq[(Any, Long)], in: String, out: String,
        handleInvalid: String): StringIndexerModel =
      new StringIndexerModel(Array(frequencyDesc(valueCounts)))
        .setInputCol(in).setOutputCol(out).setHandleInvalid(handleInvalid)
    TrainStats(counts.head,
      DensityModel.fromCounts(train.schema, densities, keyCounts),
      indexer(counts(1), indexIn, indexOut, "keep"),
      indexer(labelCastCounts.headOption.getOrElse(counts.head), label,
        "label", "error"))
  }

  /** `StringIndexer`'s frequencyDesc label order: null dropped, count
    * descending, ties by string ascending in Spark's UTF-8 byte order. */
  private def frequencyDesc(counts: Seq[(Any, Long)]): Array[String] =
    counts.collect { case (v: String, n) => (v, n) }
      .sortWith { case ((a, m), (b, n)) =>
        if (m != n) m > n
        else UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0
      }.map(_._1).toArray

  /** Fit the weighted RandomForest (M5 stand-in) behind the fitted
    * density stage, indexers and assembler; the forest is the pipeline's
    * only estimator. `maxBins` is sized from the category indexer: a
    * categorical feature needs maxBins ≥ its value count (its labels plus
    * the keep bucket), so a real-cardinality column (161 `Location
    * Description` values) trains, while an indexer with ≤ 31 labels keeps
    * the default 32 and its model is unchanged. A forest also caps its
    * bins at the training row count, so when the value count exceeds
    * `nTrain` the index is fitted as an ordered numeric feature
    * instead. */
  private def fitForest(r: Recipe, stats: TrainStats, train: DataFrame)
      : PipelineModel = {
    val values = stats.indexer.labelsArray.head.length + 1
    val categorical = values <= stats.classCounts.map(_._2).sum
    val ordered =
      if (categorical) Nil
      else Seq(new OrderedFeatures().setInputCols(Array(r.indexOut)))
    val rf = new RandomForestClassifier()
      .setLabelCol("label").setFeaturesCol("features")
      .setWeightCol("weight")
      .setNumTrees(r.numTrees).setMaxDepth(7).setSeed(42L)
      .setMaxBins(if (categorical) math.max(32, values) else 32)
    new Pipeline()
      .setStages(Array(stats.densities, stats.indexer) ++ ordered ++
        Array(stats.labelIndexer, assembler(r), rf))
      .fit(train)
  }

  /** Train-only densities and weights on both splits — every statistic
    * before the forest comes from one aggregation ([[trainStats]]) — then
    * the forest fit; the density stage leads the fitted pipeline, so a
    * raw row is served by `model.transform`. Returns (model, train,
    * test). */
  private def fitSplit(r: Recipe, trainRaw: DataFrame, testRaw: DataFrame)
      : (PipelineModel, DataFrame, DataFrame) = {
    val stats =
      trainStats(trainRaw, r.label, r.indexIn, r.indexOut, r.densities)
    val weights = weightsOf(stats.classCounts)
    def prep(df: DataFrame): DataFrame = {
      // a null key filled to 0 below counts as key 0 when the pipeline
      // re-applies the stage; no District, Beat or Community Area is 0
      val out = attachWeights(stats.densities.transform(df), weights,
        r.label)
      if (r.fillNulls)
        out.na.fill(0.0, r.featureCols.filterNot(_ == r.indexOut))
      else out
    }
    val train = prep(trainRaw)
    val test = prep(testRaw)
    (fitForest(r, stats, train), train, test)
  }

  /** End-to-end fit: engineer → split → train-only stats → weights → fit.
    * Returns (model, train with features, test with features). */
  def fit(spark: SparkSession, dir: String, cutoffYear: Int = 1997)
      : (PipelineModel, DataFrame, DataFrame) = {
    val engineered = base(spark, dir)
    val (trainRaw, testRaw) = split(engineered, cutoffYear)
    trainRaw.cache()
    try fitSplit(Lineitem, trainRaw, testRaw)
    finally trainRaw.unpersist() // fitted stats are computed; don't pin
  }

  /** The reference's entry point 2 (`python xgboost_model.py`) on a
    * prepared crime frame ([[CrimeEtl.prepare]] output): time split at
    * `cutoffYear` (`XGBoost.py:139-140`), train-only stats, fit.
    * Returns (model, train, test). */
  def fitCrime(prepared: DataFrame, cutoffYear: Int = 2003)
      : (PipelineModel, DataFrame, DataFrame) = {
    val (trainRaw, testRaw) =
      Sampling.timeSplit(prepared, col("ts"), cutoffYear)
    fitSplit(Crime, trainRaw, testRaw)
  }
}

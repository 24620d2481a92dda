package graft.ml

import graft.SparkSpec
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import CrimePipeline.LabelCol

/** Golden ML invariants (SURVEY.md §5.2): stochastic model ⇒ no exact
  * goldens; pinned seed + floors + structural invariants instead. */
class MlSpec extends SparkSpec {

  private lazy val fitted = CrimePipeline.fit(spark, sf0001, cutoffYear = 1997)

  // a serve request's raw columns: no label/category column — serving
  // derives it from p_type
  private val rawCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_quantity", "l_extendedprice", "l_discount", "l_shipdate", "p_brand",
    "p_size", "p_retailprice", "p_type")

  /** The first test row as a one-row local request, as a server builds
    * it from an incoming record. */
  private def localRequest(test: DataFrame): DataFrame = {
    val raw = test.select(rawCols.map(col): _*)
    spark.createDataFrame(java.util.List.of(raw.head()), raw.schema)
  }

  /** Runs `f` with a listener attached: the jobs it starts, and the
    * physical plan of each SQL execution it starts. */
  private def observe(f: => Unit): (Int, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
      SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import org.apache.spark.sql.graft.shim
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    shim.drainListenerBus(spark) // earlier jobs' events reach no listener
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      shim.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    (jobs.get, plans.toArray(Array.empty[String]).toSeq)
  }

  private def servedPrediction(model: PipelineModel, request: DataFrame,
      train: DataFrame): Double =
    Serve.predictOne(spark, model, request, train)
      .select("prediction").head().getDouble(0)

  test("pipeline fits; accuracy beats majority-class floor") {
    val (model, _, test) = fitted
    val preds = model.transform(test).cache()
    val acc = Evaluation.accuracy(preds)
    val majority = preds.groupBy("label").count()
      .agg(max("count")).head().getLong(0).toDouble / preds.count()
    assert(acc >= majority - 0.02,
      s"acc=$acc should not be below majority=$majority")
    assert(preds.count() > 0)
  }

  test("feature vector arity matches the declared contract") {
    val (model, _, test) = fitted
    val v = model.transform(test).select("features").head()
      .getAs[org.apache.spark.ml.linalg.Vector](0)
    assert(v.size == CrimePipeline.FeatureCols.length)
  }

  test("per-class report: support sums to test size; metrics in [0,1]") {
    val (model, _, test) = fitted
    val preds = model.transform(test)
    val report = Evaluation.perClassReport(preds).collect()
    assert(report.map(_.getAs[Long]("support")).sum == preds.count())
    assert(report.forall { r =>
      Seq("precision", "recall", "f1").forall { m =>
        val v = r.getAs[Double](m); v >= 0.0 && v <= 1.0 }
    })
  }

  test("class weights are clipped to [0.1, 5.0] and train-derived") {
    val (_, train, _) = fitted
    val w = train.select("weight").distinct().collect().map(_.getDouble(0))
    assert(w.forall(v => v >= 0.1 && v <= 5.0))
  }

  test("label mapping round-trips through persistence") {
    val (model, train, test) = fitted
    val dir = java.nio.file.Files.createTempDirectory("graft-model")
      .toString + "/m"
    model.write.overwrite().save(dir)
    val loaded = PipelineModel.load(dir)
    assert(Evaluation.labelMapping(loaded) == Evaluation.labelMapping(model))
    val a = model.transform(test).select("prediction")
      .collect().map(_.getDouble(0)).toSeq
    val b = loaded.transform(test).select("prediction")
      .collect().map(_.getDouble(0)).toSeq
    assert(a == b)
    // the loaded model carries its fitted densities: it serves a request
    // without the training frame, and serves it as the original does
    val request = localRequest(test)
    assert(servedPrediction(loaded, request, train = null) ==
      servedPrediction(model, request, train))
  }

  test("label mapping JSON sink/source round-trip (S4/S8)") {
    import spark.implicits._
    val (model, _, _) = fitted
    val mapping = Evaluation.labelMapping(model)
    val dir = java.nio.file.Files.createTempDirectory("graft-labels")
      .toString + "/labels"
    mapping.toDF("idx", "label").coalesce(1)
      .write.mode("overwrite").json(dir)
    val back = spark.read.json(dir)
      .select("idx", "label").as[(Long, String)].collect()
      .map { case (i, l) => (i.toInt, l) }.sortBy(_._1).toSeq
    assert(back == mapping.sortBy(_._1))
  }

  test("CSV scan surface (S1): header, explicit schema, no inference") {
    val docs = graft.engine.Tables.documents(spark, sf0001)
      .select("doc_id", "lang", "n_chars").limit(100)
    val dir = java.nio.file.Files.createTempDirectory("graft-csv")
      .toString + "/docs"
    docs.write.mode("overwrite").option("header", "true").csv(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars",
        org.apache.spark.sql.types.LongType)))
    val back = spark.read.option("header", "true").schema(schema).csv(dir)
    assert(back.schema == schema)
    assert(back.count() == 100)
    assert(back.collect().toSet == docs.collect().toSet)
  }

  test("feature importances: non-negative, sum ≈ 1, all features named") {
    val (model, _, _) = fitted
    val imp = Evaluation.featureImportances(model)
    assert(imp.length == CrimePipeline.FeatureCols.length)
    assert(imp.forall(_._2 >= 0.0))
    assert(math.abs(imp.map(_._2).sum - 1.0) < 1e-6)
  }

  test("train/serve parity: single-row serve equals batch transform") {
    val (model, train, test) = fitted
    val oneRaw = test.select(rawCols.map(col): _*).limit(1)
    val served = servedPrediction(model, oneRaw, train)
    val batch = model.transform(test.limit(1))
      .select("prediction").head().getDouble(0)
    assert(served == batch)
  }

  test("boosted variant (OneVsRest GBT) fits and predicts all classes") {
    val (_, train, test) = fitted
    val model = CrimePipeline.boostedPipeline(maxIter = 5).fit(train)
    val preds = model.transform(test)
    val acc = Evaluation.accuracy(preds)
    val majority = preds.groupBy("label").count()
      .agg(max("count")).head().getLong(0).toDouble / preds.count()
    assert(acc >= majority - 0.05, s"acc=$acc majority=$majority")
    assert(preds.select("prediction").distinct().count() >= 2)
    // importances must work for the OneVsRest(GBT) shape too (regression)
    val imp = Evaluation.featureImportances(model)
    assert(imp.length == CrimePipeline.FeatureCols.length)
    assert(math.abs(imp.map(_._2).sum - 1.0) < 1e-6)
  }

  test("M10 surface: GBT validationIndicatorCol trains within budget " +
      "and predicts") {
    val (_, train, _) = fitted
    // hold out the last train year as the per-binary-problem validation
    // split — the closest MLlib analogue of the reference's early stopping
    val withVal = train.withColumn("is_val", col("d_year") === 1997)
    val model = CrimePipeline.boostedPipeline(maxIter = 5,
      validationIndicatorCol = Some("is_val")).fit(withVal)
    val ovr = model.stages.last
      .asInstanceOf[org.apache.spark.ml.classification.OneVsRestModel]
    val trees = ovr.models.collect {
      case g: org.apache.spark.ml.classification.GBTClassificationModel =>
        g.getNumTrees
    }
    assert(trees.nonEmpty)
    // validation stopping may end a binary problem before maxIter but can
    // never exceed it
    assert(trees.forall(t => t > 0 && t <= 5), trees.mkString(","))
    val preds = model.transform(withVal.filter(col("is_val")))
    assert(preds.count() > 0)
    assert(preds.select("prediction").distinct().count() >= 2)
  }

  test("M10 global early stopping: pick ≤ max, pick is the argmin of the " +
      "global validation curve, curve strictly improves up to the pick") {
    val (_, train, test) = fitted
    val (best, curve, model) =
      CrimePipeline.globalEarlyStopping(train, test, maxIter = 6)
    assert(curve.length == 6)
    assert(best >= 1 && best <= 6)
    // the pick IS the global-criterion minimum…
    assert(curve(best - 1) == curve.min)
    // …and the earliest such round (no prior round ties or beats it) —
    // the validation metric is non-increasing at the pick
    assert(curve.take(best - 1).forall(_ > curve(best - 1)))
    // the refitted model carries exactly `best` trees per binary problem
    val ovr = model.stages.last
      .asInstanceOf[org.apache.spark.ml.classification.OneVsRestModel]
    val trees = ovr.models.collect {
      case g: org.apache.spark.ml.classification.GBTClassificationModel =>
        g.getNumTrees
    }
    assert(trees.nonEmpty && trees.forall(_ == best), trees.mkString(","))
    // the reported metric at the pick: global softmax mlogloss, finite
    val mll = Evaluation.ovrLogLoss(model, test)
    assert(mll > 0.0 && java.lang.Double.isFinite(mll), s"mlogloss=$mll")
  }

  test("no test-leakage: density stats computed from train only") {
    val (_, train, test) = fitted
    // a suppkey present only in test must get density 0 (filled), never >0
    val trainKeys = train.select("l_suppkey").distinct()
    val leaked = test.join(trainKeys, Seq("l_suppkey"), "left_anti")
      .filter(col("supp_density") =!= 0).count()
    assert(leaked == 0)
  }

  test("single-row serving runs no Spark job: a one-row local request " +
      "folds through the fitted stages without touching training data") {
    val (model, _, test) = fitted
    val request = localRequest(test)
    val (jobs, _) = observe {
      val served = Serve.predictOne(spark, model, request, train = null)
        .collect()
      assert(served.length == 1)
    }
    assert(jobs == 0, s"$jobs jobs for one served row")
  }

  test("the per-class report runs one confusion-matrix aggregation: at " +
      "most 3 jobs on an uncached transform, and every statistic before " +
      "the forest comes from one aggregation") {
    val (model, _, test) = fitted
    val (reportJobs, _) = observe {
      Evaluation.perClassReport(model.transform(test)).collect()
    }
    assert(reportJobs <= 3, s"$reportJobs jobs for the per-class report")
    val (_, plans) = observe(CrimePipeline.fit(spark, sf0001, 1997))
    val aggregations = plans.count(_.contains("Aggregate"))
    assert(aggregations == 1, s"$aggregations aggregations in one fit")
  }

  test("the fused train statistics build the same model as the estimator " +
      "stages: indexer labels, density tables, class weights, predictions") {
    val (model, train, test) = fitted
    val trainRaw =
      CrimePipeline.split(CrimePipeline.base(spark, sf0001), 1997)._1
    EstimatorParity.check(model, trainRaw, train, test, LabelCol,
      Seq("l_orderkey", "l_linenumber"))
  }

  test("fused statistics on a hand-built frame: frequency ties order by " +
      "string, a non-string column indexes by its string cast, and a null " +
      "in any counted column gets neither an index nor a count") {
    import org.apache.spark.ml.feature.StringIndexer
    import spark.implicits._
    // s: tie b/c (2 each) behind a (3); i: tie "10"/"9" (2 each), which
    // orders "10" first as a string; k and d: nullable density keys
    val df = Seq[(Option[String], Option[Int], Option[Long], Option[Double])](
      (Some("a"), Some(10), Some(1L), Some(0.5)),
      (Some("a"), Some(10), Some(1L), Some(0.5)),
      (Some("a"), Some(9), Some(2L), None),
      (Some("b"), Some(9), None, Some(-0.0)),
      (Some("b"), None, None, Some(0.0)),
      (Some("c"), Some(7), Some(2L), Some(1.5)),
      (Some("c"), Some(7), Some(3L), None),
      (None, Some(7), None, Some(0.5))).toDF("s", "i", "k", "d")
    val keys = Seq("k" -> "k_n", "d" -> "d_n")
    def indexed(c: String): Seq[String] = new StringIndexer()
      .setInputCol(c).setStringOrderType("frequencyDesc").fit(df)
      .labelsArray.head.toSeq
    assert(indexed("s") == Seq("a", "b", "c"))
    assert(indexed("i") == Seq("7", "10", "9"))
    for ((label, in) <- Seq("s" -> "i", "i" -> "s")) {
      val stats = CrimePipeline.trainStats(df, label, in, "idx", keys)
      assert(stats.indexer.labelsArray.head.toSeq == indexed(in))
      assert(stats.labelIndexer.labelsArray.head.toSeq == indexed(label))
      assert(stats.classCounts.toMap ==
        df.groupBy(label).count().collect().map(r => r.get(0) -> r.getLong(1))
          .toMap)
      val target = df.withColumn("id", monotonically_increasing_id())
      val viaStage = stats.densities.transform(target)
      val viaJoin = keys.foldLeft(target) { case (t, (key, out)) =>
        graft.engine.Density.attachCount(t, df, key, out)
      }
      val cols = Seq("id", "k_n", "d_n").map(col)
      val (a, b) = (viaStage.select(cols: _*), viaJoin.select(cols: _*))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
      // null keys count 0: the null group never enters a table
      assert(viaStage.filter(col("k").isNull && col("k_n") =!= 0).isEmpty)
      assert(viaStage.filter(col("d").isNull && col("d_n") =!= 0).isEmpty)
    }
  }

  test("the per-class report equals MulticlassMetrics per label, with a " +
      "class predicted but never true and one true but never predicted") {
    import org.apache.spark.mllib.evaluation.MulticlassMetrics
    import org.apache.spark.sql.types._
    import spark.implicits._
    // class 3 is predicted, never true; class 2 is true, never predicted
    val preds = Seq(0.0 -> 0.0, 0.0 -> 0.0, 0.0 -> 0.0, 0.0 -> 1.0,
      1.0 -> 1.0, 1.0 -> 1.0, 1.0 -> 3.0, 2.0 -> 0.0, 2.0 -> 1.0)
      .toDF("label", "prediction")
    val report = Evaluation.perClassReport(preds)
    assert(report.schema.map(f => f.name -> f.dataType) == Seq(
      "label" -> DoubleType, "support" -> LongType, "pred_n" -> LongType,
      "tp" -> LongType, "precision" -> DoubleType, "recall" -> DoubleType,
      "f1" -> DoubleType))
    val rows = report.collect()
    assert(rows.map(_.getDouble(0)).toSeq == Seq(0.0, 1.0, 2.0, 3.0))
    val metrics = new MulticlassMetrics(
      preds.select("prediction", "label").as[(Double, Double)].rdd)
    val support = preds.groupBy("label").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    for (r <- rows) {
      val l = r.getDouble(0)
      assert(r.getAs[Long]("support") == support.getOrElse(l, 0L), s"$l")
      assert(r.getAs[Long]("pred_n") == preds.filter(col("prediction") === l)
        .count(), s"$l")
      val scores = Seq("precision", "recall", "f1").map(r.getAs[Double])
      if (support.contains(l))
        assert(scores == Seq(metrics.precision(l), metrics.recall(l),
          metrics.fMeasure(l)), s"$l")
      else // MulticlassMetrics knows only true labels; 0 of 1 is right
        assert(scores == Seq(0.0, 0.0, 0.0), s"$l")
    }
    assert(rows.map(_.getAs[Long]("tp")).toSeq == Seq(3L, 2L, 0L, 0L))
  }

  test("the fitted density stage equals the withDensities join: every " +
      "test row, unseen and null keys, and double keys -0.0/0.0 and NaN") {
    import spark.implicits._
    val (model, train, test) = fitted
    val stage = model.stages.collectFirst { case d: DensityModel => d }.get
    // test rows plus an unseen and a null supplier/part key
    val targets = test.drop("supp_density", "part_density")
      .unionByName(test.limit(1).drop("supp_density", "part_density")
        .withColumn("l_suppkey", lit(-1L)).withColumn("l_partkey", lit(-1L)))
      .unionByName(test.limit(1).drop("supp_density", "part_density")
        .withColumn("l_suppkey", lit(null).cast("long"))
        .withColumn("l_partkey", lit(null).cast("long")))
    val cols = Seq("l_orderkey", "l_linenumber", "l_suppkey", "l_partkey",
      "supp_density", "part_density").map(col)
    val viaStage = stage.transform(targets).select(cols: _*)
    val viaJoin = CrimePipeline.withDensities(targets, train)
      .select(cols: _*)
    assert(viaStage.schema.map(_.dataType) == viaJoin.schema.map(_.dataType))
    assert(viaStage.count() == test.count() + 2)
    assert(viaStage.exceptAll(viaJoin).isEmpty &&
      viaJoin.exceptAll(viaStage).isEmpty)

    // double keys compare with the join's equality: -0.0 = 0.0, NaN = NaN
    val stats = Seq[Option[Double]](Some(0.0), Some(0.0), Some(-0.0),
      Some(Double.NaN), Some(Double.NaN), Some(1.5), None).toDF("k")
    val target = Seq[(Int, Option[Double])](0 -> Some(-0.0), 1 -> Some(0.0),
      2 -> Some(Double.NaN), 3 -> Some(1.5), 4 -> Some(2.5), 5 -> None)
      .toDF("id", "k")
    val byStage = DensityModel.fit(stats, Seq("k" -> "n")).transform(target)
    val byJoin = graft.engine.Density.attachCount(target, stats, "k", "n")
    def counts(df: DataFrame): Map[Int, Long] =
      df.select("id", "n").collect().map(r => r.getInt(0) -> r.getLong(1))
        .toMap
    assert(byStage.schema("n").dataType == byJoin.schema("n").dataType)
    assert(counts(byJoin) == Map(0 -> 3L, 1 -> 3L, 2 -> 2L, 3 -> 1L, 4 -> 0L,
      5 -> 0L))
    assert(counts(byStage) == counts(byJoin))
  }
}

package graft.ml

import graft.SparkSpec
import java.lang.ref.WeakReference
import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Metadata, StructType}
import scala.jdk.CollectionConverters._
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

  /** `rows` as one local request, as a server builds it from incoming
    * records. */
  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** `rows` as a frame Catalyst cannot fold: it runs as a batch job. */
  private def nonLocal(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  /** Serves `request`, checking the route it took: the compiled chain
    * answers with a local relation, the planned route with a plan. */
  private def serve(model: PipelineModel, request: DataFrame,
      compiled: Boolean): DataFrame = {
    val out = Serve.predictOne(spark, model, request, train = null)
    assert(out.queryExecution.analyzed.isInstanceOf[LocalRelation] ==
      compiled, s"compiled route expected: $compiled")
    out
  }

  private def compiledOrFail(c: Either[String, Serve.Compiled])
      : Serve.Compiled = c match {
    case Right(compiled) => compiled
    case Left(why) => fail(s"the serving plan does not compile: $why")
  }

  /** Batch answers of `model` for raw rows: the feature block and
    * `model.transform` run as a job, the label looked up on the driver. */
  private def batchAnswers(model: PipelineModel, rows: Seq[Row],
      schema: StructType): Seq[Row] = {
    val labels = Evaluation.labelMapping(model).toMap
    model.transform(CrimePipeline.engineerFeatures(nonLocal(rows, schema))
        .withColumn("weight", lit(1.0)))
      .select("probability", "prediction").collect().toSeq
      .map(r => Row(labels(r.getDouble(1).toInt), r.get(0), r.get(1)))
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
    // a model the memo has not seen: the first call compiles in the count
    val fresh = model.copy(ParamMap.empty)
    val (jobs, _) = observe {
      for (_ <- 1 to 2) {
        val served = serve(fresh, request, compiled = true).collect()
        assert(served.length == 1)
      }
    }
    assert(jobs == 0, s"$jobs jobs for two served rows")
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

  test("compiled serving equals the planned route: every test row as a " +
      "one-row local request, one multi-row request, and unseen and null " +
      "keys; the same schema, metadata included") {
    val (model, _, test) = fitted
    val raw = test.select(rawCols.map(col): _*)
    val schema = raw.schema
    val rows = raw.collect().toSeq
    def edited(updates: (String, Any)*): Row = {
      val m = updates.toMap
      Row.fromSeq(schema.fieldNames.toSeq.map(n =>
        m.getOrElse(n, rows.head.getAs[Any](n))))
    }
    val odd = Seq(edited("l_partkey" -> -1L, "l_suppkey" -> -1L),
      edited("l_suppkey" -> null), edited("p_brand" -> null))
    val all = rows ++ odd
    // the planned route answers row by row, so one multi-row request
    // answers each row as a one-row request does (checked on a sample)
    val planned = Serve.planned(model, local(all, schema))
    val want = planned.collect().toSeq
    for (i <- (0 until 3) ++ all.indices.takeRight(odd.length))
      assert(Serve.planned(model, local(Seq(all(i)), schema)).collect()
        .toSeq == Seq(want(i)), s"row $i")
    val got = all.map { r =>
      val out = serve(model, local(Seq(r), schema), compiled = true)
      assert(out.schema == planned.schema)
      out.collect().toSeq match { case Seq(one) => one }
    }
    def differ(rs: Seq[Row]): Int = all.indices.count(i => rs(i) != want(i))
    assert(differ(got) == 0, s"${differ(got)} of ${all.length} rows differ")
    val multi = serve(model, local(all, schema), compiled = true).collect()
    assert(multi.length == all.length && differ(multi.toSeq) == 0,
      s"${differ(multi.toSeq)} rows of the multi-row request differ")
    assert(planned.schema.exists(_.metadata != Metadata.empty))

    // unseen keys count 0, a null key counts 0, a null brand indexes to
    // the keep bucket: through the generic compile of the feature stages,
    // and equal to the batch job over the same rows
    val featureCols = Seq("supp_density", "part_density", "brand_idx",
      "prediction").map(col)
    val features = compiledOrFail(Serve.compile(spark, schema)(r =>
      model.transform(CrimePipeline.engineerFeatures(r)
        .withColumn("weight", lit(1.0)))))
    val f = features.transform(local(odd, schema)).get
      .select(featureCols: _*).collect()
    val keep = Evaluation.indexer(model, "brand_idx").labelsArray.head.length
    assert(f(0).getLong(0) == 0L && f(0).getLong(1) == 0L)
    assert(f(1).getLong(0) == 0L && f(1).getLong(1) > 0L)
    assert(f(2).getDouble(2) == keep.toDouble)
    assert(f.toSeq == model.transform(CrimePipeline.engineerFeatures(
        nonLocal(odd, schema)).withColumn("weight", lit(1.0)))
      .select(featureCols: _*).collect().toSeq)
    assert(got.takeRight(odd.length) == batchAnswers(model, odd, schema))
  }

  test("the serving plan compiles to a Project chain, once per model and " +
      "schema, and again under a changed session configuration; other " +
      "plan shapes are refused") {
    val (model, _, test) = fitted
    val schema = test.select(rawCols.map(col): _*).schema
    val first = compiledOrFail(Serve.compiled(spark, model, schema))
    assert(Serve.compiled(spark, model, schema).toOption.exists(_ eq first))
    val tz = "spark.sql.session.timeZone"
    val before = spark.conf.get(tz)
    spark.conf.set(tz, "America/Chicago")
    try assert(Serve.compiled(spark, model, schema).toOption
      .exists(c => !(c eq first)))
    finally spark.conf.set(tz, before)
    def refused(f: DataFrame => DataFrame): String =
      Serve.compile(spark, schema)(f).swap.getOrElse(fail("compiled"))
    assert(refused(_.filter(col("l_quantity") > 0)).contains("Filter"))
    assert(refused(_.withColumn("r", rand(1))).contains("nondeterministic"))
    assert(refused(_.withColumn("t", current_timestamp()))
      .contains("current time"))
  }

  test("the serving memo follows the model: two models served in turn " +
      "each give their own batch answers") {
    val (modelA, _, test) = fitted
    val (modelB, _, _) = CrimePipeline.fit(spark, sf0001, cutoffYear = 1996)
    val raw = test.select(rawCols.map(col): _*)
    val rows = raw.collect().toSeq.take(12)
    val batch = Seq(modelA, modelB).map(m => batchAnswers(m, rows, raw.schema))
    assert(batch(0) != batch(1), "the two models must answer differently")
    for ((r, i) <- rows.zipWithIndex; _ <- 1 to 2;
        (m, answers) <- Seq(modelA, modelB).zip(batch))
      assert(serve(m, local(Seq(r), raw.schema), compiled = true).collect()
        .toSeq == Seq(answers(i)), s"row $i")
  }

  test("the serving memo keeps no dropped model alive: the model is " +
      "collectable while it is memoized, its stages once another model " +
      "is served") {
    val (model, _, test) = fitted
    val request = localRequest(test)
    def cleared(refs: WeakReference[_]*): Boolean = {
      var i = 0
      while (refs.exists(_.get != null) && i < 20) {
        System.gc(); Thread.sleep(50); i += 1
      }
      refs.forall(_.get == null)
    }
    def serveCopy(): (WeakReference[PipelineModel], WeakReference[AnyRef]) = {
      val copy = model.copy(ParamMap.empty)
      serve(copy, request, compiled = true).collect()
      (new WeakReference(copy), new WeakReference(copy.stages.last))
    }
    val (copyRef, forestRef) = serveCopy()
    assert(cleared(copyRef), "the memo keeps the served model reachable")
    serve(model, request, compiled = true).collect()
    assert(cleared(forestRef), "the memo keeps a replaced model's stages")
  }

  test("concurrent serving: 4 threads x 25 requests against one model " +
      "give the sequential answers; a non-local request takes the planned " +
      "route and matches") {
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    val (model, _, test) = fitted
    val raw = test.select(rawCols.map(col): _*)
    val rows = raw.collect().toSeq.take(25)
    def answer(r: Row): Row =
      serve(model, local(Seq(r), raw.schema), compiled = true).collect().head
    val sequential = rows.map(answer)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map { t =>
        pool.submit(new Callable[Seq[(Int, Row)]] {
          def call(): Seq[(Int, Row)] = rows.indices.map { i =>
            val j = (i + 7 * t) % rows.length
            j -> answer(rows(j))
          }
        })
      }
      val got = futures.flatMap(_.get(120, TimeUnit.SECONDS))
      assert(got.length == 100)
      got.foreach { case (j, row) => assert(row == sequential(j), s"row $j") }
    } finally pool.shutdownNow()

    val oneRaw = raw.limit(1)
    val viaPlan = serve(model, oneRaw, compiled = false).collect().toSeq
    assert(viaPlan == serve(model, local(Seq(oneRaw.head()), raw.schema),
      compiled = true).collect().toSeq)
  }
}

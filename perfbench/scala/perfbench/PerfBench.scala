package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{ExtQueries, SparkEntry}
import graft.engine.{CrimeEtl, Tables}
import graft.ml.{CrimePipeline, Evaluation, Serve}

/** One timed pass of a workload: its wall, its batch stage, the latencies
  * of its short operations, and how many operations it attempted and
  * lost to an exception. */
final case class Pass(wall: Double, batch: Double, ops: Seq[Double],
    attempted: Int, failed: Int)

/** A workload runs one untimed warm pass, then timed passes in a closed
  * loop with one caller. Correctness facts are collected outside the
  * timed sections and written next to the metrics. */
trait Workload {
  def warm(): Unit
  def pass(run: String): Pass
  /** Per-layer metrics from the traced passes' spans. */
  def layers(runs: Seq[String]): Map[String, Double]
  /** Correctness checks after the timed section: name -> (ok, detail). */
  def verify(): Seq[(String, Boolean, String)]
  def cleanup(): Unit = ()
}

/** Benchmark entry point: `--workload <crime_etl|ml_train_serve|query_mix>
  * --data <dir> --out <dir> --seconds <s> --trace <0|1> --seed <n>
  * --requests <serve requests per pass> --input-rows <rows one pass reads>
  * --t0-ms <epoch ms when the process was launched>`. Writes
  * `<out>/result.json` (metrics and checks) and, when tracing,
  * `<out>/spans.jsonl`. */
object PerfBench {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val t0Ms = opt("t0-ms").toLong
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def mark(what: String): Unit = System.err.println(
      f"[perfbench] ${(System.currentTimeMillis() - t0Ms) / 1000.0}%.2f s: $what")
    mark("session ready")
    val trace = opt("trace") == "1"
    val tracer = new Tracer(spark)
    val seconds = opt("seconds").toDouble
    val seed = opt("seed").toLong
    val data = opt("data")
    val w: Workload = opt("workload") match {
      case "crime_etl" => new CrimeEtlWorkload(spark, tracer, data)
      case "ml_train_serve" =>
        new MlWorkload(spark, tracer, data, seed, opt("requests").toInt)
      case "query_mix" => new QueryMixWorkload(spark, tracer, data, out)
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    mark("inputs ready")
    try {
      w.warm()
      mark("warm pass done")
      val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0
      val gc0 = gcMs()
      // a traced run times untraced passes for the first half of its
      // window and traced passes for the second, so the tracing overhead
      // is the difference of two medians from the same process
      val untraced = loop(w, if (trace) seconds / 2 else seconds, "u")
      val traced =
        if (trace) tracer.withTracing(loop(w, seconds / 2, "t")) else Nil
      mark("timed passes done")
      val gcS = (gcMs() - gc0) / 1000.0
      val heapMb = retainedHeapMb()
      val checks = w.verify()
      mark("checks done")
      val passes = untraced ++ traced
      val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
      if (!trace) {
        val walls = untraced.map(_._2.wall)
        metrics ++= Seq(
          "setup_s" -> (setupS, "s"),
          "wall_s" -> (median(walls), "s"),
          "batch_s" -> (median(untraced.map(_._2.batch)), "s"),
          "op_p50_ms" ->
            (median(untraced.flatMap(_._2.ops)) * 1000, "ms"),
          "rows_per_s" -> (opt("input-rows").toLong / median(walls), "1/s"),
          "retained_heap_mb" -> (heapMb, "MB"))
      } else {
        val runs = traced.map(_._1)
        val tracedWalls = traced.map(_._2.wall)
        val runMs = runs.map(r => tracer.all.filter(s =>
          s.run == r && s.parent == -1).map(s => tracer.total(s).runMs).sum)
        metrics ++= w.layers(runs).toSeq.sorted.map { case (k, v) =>
          k -> (v, unitOf(k)) }
        metrics ++= Seq(
          "spark.core_util" -> (runMs.sum / 1000.0 /
            (tracedWalls.sum * cores), "ratio"),
          "spark.gc_s" -> (gcS / passes.size, "s"),
          "trace.overhead_s" ->
            (median(tracedWalls) - median(untraced.map(_._2.wall)), "s"))
        tracer.writeJson(out.resolve("spans.jsonl"))
      }
      val attempted = passes.map(_._2.attempted).sum
      val failed = passes.map(_._2.failed).sum
      val checkJson = checks.map { case (n, ok, d) =>
        s"""{"name":${Json.str(n)},"ok":$ok,"detail":${Json.str(d)}}"""
      }.mkString("[", ",", "]")
      val metricJson = metrics.map { case (k, (v, u)) =>
        s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
      }.mkString("{", ",", "}")
      val passJson = passes.map { case (r, p) =>
        s"""{"run":"$r","wall_s":${Json.num(p.wall)},""" +
          s""""batch_s":${Json.num(p.batch)},"ops":${p.ops.size}}"""
      }.mkString("[", ",", "]")
      Files.writeString(out.resolve("result.json"),
        s"""{"attempted":$attempted,"failed":$failed,"checks":$checkJson,""" +
          s""""passes":$passJson,"metrics":$metricJson}""")
    } finally {
      w.cleanup()
      spark.stop()
    }
  }

  /** Timed passes in a closed loop: at least one, then more while another
    * pass of the median length still fits in `seconds`. */
  private def loop(w: Workload, seconds: Double, tag: String)
      : Seq[(String, Pass)] = {
    val start = System.nanoTime()
    val done = mutable.ArrayBuffer.empty[(String, Pass)]
    while (done.isEmpty ||
        secs(start) + median(done.map(_._2.wall).toSeq) <= seconds) {
      val run = s"$tag${done.size + 1}"
      done += run -> w.pass(run)
    }
    done.toSeq
  }

  private def unitOf(k: String): String =
    if (k.endsWith("_ms")) "ms"
    else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_mb") || k.endsWith("_mb_per_req")) "MB"
    else if (k.endsWith("_passes") || k.endsWith("_util")) "ratio"
    else "count"

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Harrell-Davis quantile: a Beta-weighted average of every order
    * statistic. On the 2 to 13 samples a run takes it is far steadier than
    * one or two order statistics, whose rank moves between operations of
    * different cost from run to run. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else if (xs.size == 1) xs.head
    else {
      val s = xs.sorted
      val n = s.size
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        (n + 1) * q, (n + 1) * (1 - q))
      s.indices.map { i =>
        (beta.cumulativeProbability((i + 1).toDouble / n) -
          beta.cumulativeProbability(i.toDouble / n)) * s(i)
      }.sum
    }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use after full collections. Spark's context cleaner drops
    * shuffle and broadcast state only after a collection has enqueued the
    * references, which frees more on the next one, so collect until the
    * figure settles. */
  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def used(): Double = {
      System.gc()
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var last = used()
    var settled = false
    var i = 0
    while (!settled && i < 10) {
      Thread.sleep(100)
      val now = used()
      settled = math.abs(now - last) < 0.5
      last = math.min(last, now)
      i += 1
    }
    last
  }

  /** Release cached and checkpointed blocks between operations, as the
    * repository's own query bench does after every query. */
  def release(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** The paper's batch lifecycle over a dirty crime-shaped CSV: prepare,
  * materialize the cached frame, then the six EDA outputs. */
final class CrimeEtlWorkload(spark: SparkSession, tr: Tracer, data: String)
    extends Workload {
  import PerfBench._
  private val csv = s"$data/crime.csv"
  private val expected = Json.parseFlat(Files.readString(
    Paths.get(s"$data/crime_expected.json")))
  private val csvBytes = Files.size(Paths.get(csv)).toDouble
  private val counts = mutable.ArrayBuffer.empty[Long]
  /** Local-file bytes read per pass: task input metrics also count cached
    * block reads, so CSV passes come from the file system's own counter. */
  private val fileBytes = mutable.Map.empty[String, Long]
  private def localBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .get("file") match {
      case null => 0L
      case st => Option(st.getLong("bytesRead")).map(_.longValue).getOrElse(0L)
    }
  private var typeFreq: Map[String, Long] = Map.empty

  private def raw(): DataFrame = spark.read.option("header", "true")
    .schema(CrimeEtl.rawSchema).csv(csv)

  def warm(): Unit = {
    val prepared = CrimeEtl.prepare(raw())
    counts += prepared.count()
    val eda = CrimeEtl.edaReport(prepared)
    typeFreq = eda("type_freq").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    eda.values.foreach(noop)
    release(spark)
  }

  def pass(run: String): Pass = {
    val t0 = System.nanoTime()
    val read0 = localBytesRead()
    var failed = 0
    val ops = mutable.ArrayBuffer.empty[Double]
    var batch = 0.0
    tr.span("crime_etl", run) {
      try {
        val prepared = tr.span("engine.prepare", run) {
          CrimeEtl.prepare(raw())
        }
        counts += tr.span("engine.materialize", run)(prepared.count())
        batch = secs(t0)
        // the report, all six outputs, is the operation: the outputs
        // differ in cost, so a median over single outputs would depend on
        // which output happened to land in the middle
        val t1 = System.nanoTime()
        tr.span("engine.eda", run) {
          CrimeEtl.edaReport(prepared).toSeq.sortBy(_._1).foreach {
            case (name, df) =>
              try tr.span(s"engine.eda.$name", run)(noop(df))
              catch { case NonFatal(e) => failed += 1; log(e) }
          }
        }
        if (failed == 0) ops += secs(t1)
      } catch { case NonFatal(e) => failed += 1; log(e) }
      finally release(spark)
    }
    fileBytes(run) = localBytesRead() - read0
    Pass(secs(t0), batch, ops.toSeq, 2 + 6, failed)
  }

  def layers(runs: Seq[String]): Map[String, Double] = {
    def per(name: String)(f: Span => Double): Double = median(runs.map(r =>
      tr.all.filter(s => s.run == r && s.name == name).map(f).sum))
    val jobs = (s: Span) => tr.total(s).jobs.toDouble
    Map(
      "engine.prepare_s" -> per("engine.prepare")(tr.seconds),
      "engine.prepare_jobs" -> per("engine.prepare")(jobs),
      "engine.materialize_s" -> per("engine.materialize")(tr.seconds),
      "engine.csv_passes" -> median(runs.map(fileBytes(_) / csvBytes)),
      "engine.shuffle_mb" ->
        per("crime_etl")(s => tr.total(s).shuffleWriteB / 1048576.0),
      "engine.eda_s" -> per("engine.eda")(tr.seconds),
      "engine.eda_jobs" -> per("engine.eda")(jobs)) ++ Layers.zeroExcept("engine")
  }

  def verify(): Seq[(String, Boolean, String)] = {
    val want = expected("clean_rows").toLong
    val wantTypes = expected.collect { case (k, v) if k.startsWith("type:") =>
      k.stripPrefix("type:") -> v.toLong }
    Seq(
      ("crime_etl.clean_rows", counts.nonEmpty && counts.forall(_ == want),
        s"prepared counts ${counts.distinct.mkString(",")} expected $want"),
      ("crime_etl.type_freq", typeFreq == wantTypes,
        s"${typeFreq.size} types, expected ${wantTypes.size}"))
  }

  private def log(e: Throwable): Unit =
    System.err.println(s"[perfbench] crime_etl op failed: $e")
}

/** Train (fit + three evaluation calls), then single-row serving over
  * held-out rows, ~10% of them carrying part/supplier keys unseen in
  * training. */
final class MlWorkload(spark: SparkSession, tr: Tracer, data: String,
    seed: Long, requests: Int) extends Workload {
  import PerfBench._
  private val Labels = Set("BUDGET", "BULK", "STANDARD", "OTHER")
  private val cutoff = 1997

  /** Raw lineitem x part rows of the held-out years, drawn by seed; every
    * tenth request gets part and supplier keys past the generated range. */
  private val (rawSchema, requestRows) = {
    val li = Tables.lineitem(spark, data)
    val p = Tables.part(spark, data)
    val held = li.join(p, li("l_partkey") === p("p_partkey"))
      .drop("p_partkey")
      .filter(year(col("l_shipdate")) > cutoff)
    val maxPart = p.agg(max("p_partkey")).head().getLong(0)
    val maxSupp = li.agg(max("l_suppkey")).head().getLong(0)
    val picked = held.orderBy(xxhash64(col("l_orderkey"),
      col("l_linenumber"), col("l_partkey"), lit(seed)), col("l_orderkey"))
      .limit(requests).collect()
    val ip = held.schema.fieldIndex("l_partkey")
    val is = held.schema.fieldIndex("l_suppkey")
    val rows = picked.zipWithIndex.map { case (r, i) =>
      if (i % 10 == 9) {
        val v = r.toSeq.toArray
        v(ip) = maxPart + 1 + i
        v(is) = maxSupp + 1 + i
        Row.fromSeq(v.toSeq)
      } else r
    }
    (held.schema, rows.toSeq)
  }
  private var last: Option[(org.apache.spark.ml.PipelineModel, DataFrame,
    Seq[Row])] = None

  private def request(i: Int): DataFrame =
    spark.createDataFrame(java.util.List.of(requestRows(i)), rawSchema)

  def warm(): Unit = {
    val (model, train, test) = CrimePipeline.fit(spark, data)
    val preds = model.transform(test)
    Evaluation.accuracy(preds); Evaluation.weightedF1(preds)
    Evaluation.perClassReport(preds).collect()
    release(spark)
    requestRows.indices.take(2).foreach { i =>
      Serve.predictOne(spark, model, request(i), train).collect()
    }
    release(spark)
  }

  def pass(run: String): Pass = {
    val t0 = System.nanoTime()
    var failed = 0
    val ops = mutable.ArrayBuffer.empty[Double]
    val answers = mutable.ArrayBuffer.empty[Row]
    var batch = 0.0
    tr.span("ml", run) {
      try {
        val (model, train, test) = tr.span("ml.fit", run) {
          CrimePipeline.fit(spark, data)
        }
        tr.span("ml.eval", run) {
          val preds = model.transform(test)
          tr.span("ml.eval.accuracy", run)(Evaluation.accuracy(preds))
          tr.span("ml.eval.weighted_f1", run)(Evaluation.weightedF1(preds))
          tr.span("ml.eval.per_class", run) {
            Evaluation.perClassReport(preds).collect()
          }
        }
        release(spark)
        batch = secs(t0)
        requestRows.indices.foreach { i =>
          val req = s"$run/r$i"
          val t1 = System.nanoTime()
          try {
            tr.span("ml.serve", req) {
              val df = tr.span("ml.serve_build", req) {
                Serve.predictOne(spark, model, request(i), train)
              }
              answers ++= tr.span("ml.serve_exec", req)(df.collect())
            }
            ops += secs(t1)
          } catch { case NonFatal(e) => failed += 1; log(e) }
        }
        last = Some((model, train, answers.toSeq))
      } catch { case NonFatal(e) => failed += 1; log(e) }
      finally release(spark)
    }
    Pass(secs(t0), batch, ops.toSeq, 4 + requestRows.size, failed)
  }

  def layers(runs: Seq[String]): Map[String, Double] = {
    def per(name: String)(f: Span => Double): Double = median(runs.map(r =>
      tr.all.filter(s => s.run == r && s.name == name).map(f).sum))
    def perReq(name: String)(f: Span => Double): Double = median(
      tr.all.filter(s => s.name == name &&
        runs.exists(r => s.run.startsWith(r + "/"))).map(f))
    val jobs = (s: Span) => tr.total(s).jobs.toDouble
    Map(
      "ml.fit_s" -> per("ml.fit")(tr.seconds),
      "ml.fit_jobs" -> per("ml.fit")(jobs),
      "ml.eval_s" -> per("ml.eval")(tr.seconds),
      "ml.eval_jobs" -> per("ml.eval")(jobs),
      "ml.serve_build_ms" -> perReq("ml.serve_build")(tr.seconds(_) * 1000),
      "ml.serve_exec_ms" -> perReq("ml.serve_exec")(tr.seconds(_) * 1000),
      "ml.serve_jobs_per_req" -> perReq("ml.serve")(jobs),
      "ml.serve_input_mb_per_req" ->
        perReq("ml.serve")(s => tr.total(s).inputB / 1048576.0)
    ) ++ Layers.zeroExcept("ml")
  }

  def verify(): Seq[(String, Boolean, String)] = last match {
    case None => Seq(("ml.parity", false, "no completed pass"))
    case Some((model, train, answers)) =>
      // batch transform of every request row through the same feature
      // block and fitted model; row ids keep the pairing exact
      val all = spark.createDataFrame(requestRows.asJava, rawSchema)
        .withColumn("__req", monotonically_increasing_id())
      val engineered = CrimePipeline.engineerFeatures(all)
      val batch = model.transform(
        CrimePipeline.withDensities(engineered, train)
          .withColumn("weight", lit(1.0)))
        .select("__req", "prediction").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val ids = batch.keys.toSeq.sorted
      val served = answers.map(_.getAs[Double]("prediction"))
      val labels = answers.map(_.getAs[String]("predicted_category"))
      val mismatches = ids.zip(served).count { case (id, p) => batch(id) != p }
      Seq(
        ("ml.parity", answers.size == requestRows.size &&
          ids.size == served.size && mismatches == 0,
          s"${answers.size} served, ${ids.size} batch, $mismatches differ"),
        ("ml.labels", labels.nonEmpty && labels.forall(Labels.contains),
          labels.distinct.sorted.mkString(",")))
  }

  private def log(e: Throwable): Unit =
    System.err.println(s"[perfbench] ml op failed: $e")
}

/** 36 registered queries in qNN order, each written to a noop sink. */
final class QueryMixWorkload(spark: SparkSession, tr: Tracer, data: String,
    out: Path) extends Workload {
  import PerfBench._
  private val picked = SparkEntry.orderedQueries.filter { case (n, _) =>
    QueryMix.All.contains(n.takeWhile(_ != '_')) }
  private val outputs = out.resolve("query_outputs")
  private val oracle = SparkEntry.oracleSql
  private var warmFailures = Seq.empty[String]

  def warm(): Unit = {
    ExtQueries.resetSharedScratch()
    Files.createDirectories(outputs)
    warmFailures = picked.flatMap { case (name, fn) =>
      try {
        fn(spark, data).write.mode("overwrite")
          .parquet(outputs.resolve(name).toString)
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: $e"); Some(name)
      } finally release(spark)
    }
    Files.writeString(outputs.resolve("oracle_sql.json"),
      picked.flatMap { case (n, _) => oracle.get(n).map(n -> _) }
        .map { case (n, sql) => s"${Json.str(n)}:${Json.str(sql)}" }
        .mkString("{", ",", "}"))
    Scratch.pruneRetired()
  }

  def pass(run: String): Pass = {
    val t0 = System.nanoTime()
    ExtQueries.resetSharedScratch()
    var failed = QueryMix.All.size - picked.size
    val ops = mutable.ArrayBuffer.empty[Double]
    var heavy = 0.0
    tr.span("query_mix", run) {
      picked.foreach { case (name, fn) =>
        val t1 = System.nanoTime()
        try {
          tr.span(name, run) {
            val df = tr.span("query.construct", run)(fn(spark, data))
            tr.span("query.exec", run)(noop(df))
          }
          val s = secs(t1)
          ops += s
          if (QueryMix.Heavy.contains(name.takeWhile(_ != '_'))) heavy += s
        } catch { case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] $name failed: $e")
        } finally release(spark)
      }
    }
    val wall = secs(t0)
    Scratch.pruneRetired()
    Pass(wall, heavy, ops.toSeq, QueryMix.All.size, failed)
  }

  def layers(runs: Seq[String]): Map[String, Double] = {
    def per(f: Span => Boolean)(g: Span => Double): Double =
      median(runs.map(r => tr.all.filter(s => s.run == r && f(s)).map(g).sum))
    val named = (n: String) => (s: Span) => s.name == n
    val isQuery = (s: Span) => picked.exists(_._1 == s.name)
    val owners = ExtQueries.sharedScratchOwners
    Map(
      "query.construct_s" -> per(named("query.construct"))(tr.seconds),
      "query.construct_jobs" ->
        per(named("query.construct"))(tr.total(_).jobs.toDouble),
      "query.catalyst_s" -> per(isQuery)(tr.total(_).catalystMs / 1000.0),
      "query.exec_s" -> per(named("query.exec"))(tr.seconds),
      "query.jobs" -> per(isQuery)(tr.total(_).jobs.toDouble),
      "query.tasks" -> per(isQuery)(tr.total(_).tasks.toDouble),
      "query.shuffle_mb" ->
        per(isQuery)(tr.total(_).shuffleWriteB / 1048576.0),
      "query.spill_mb" -> per(isQuery)(tr.total(_).spillB / 1048576.0),
      "query.scratch_owner_s" ->
        per(s => isQuery(s) && owners.contains(s.name))(tr.seconds)
    ) ++ picked.map { case (n, _) =>
      s"query.${n.takeWhile(_ != '_')}_s" -> per(named(n))(tr.seconds)
    } ++ Layers.zeroExcept("query")
  }

  def verify(): Seq[(String, Boolean, String)] = Seq(
    ("query_mix.registered", picked.size == QueryMix.All.size &&
      picked.forall(q => oracle.contains(q._1)),
      s"${picked.size} of ${QueryMix.All.size} queries registered, " +
        s"${picked.count(q => oracle.contains(q._1))} with an oracle"),
    ("query_mix.warm_pass", warmFailures.isEmpty,
      s"failed: ${warmFailures.mkString(",")}"))

  override def cleanup(): Unit = Scratch.removeOwn()
}

object QueryMix {
  /** Cost is mostly per-query overhead: schema inference, probes, a few
    * small jobs. Construction-layer changes move these. */
  val Cheap: Seq[String] = Seq("q01", "q02", "q10", "q15", "q64", "q76")
  /** Exact-decimal sums (q25, q140), rank statistics (q175), pair support
    * (q151), fuzzy join (q239) and a scratch owner/consumer pair
    * (q107 -> q113). Execution-layer changes move these. */
  val Heavy: Seq[String] = Seq("q25", "q107", "q113", "q140", "q151",
    "q175", "q239")
  val All: Set[String] = (Cheap ++ Heavy).toSet
}

/** Per-layer metric names of every workload, so a traced run of any
  * workload reports all of them (0 for a layer it does not run). */
object Layers {
  val ByLayer: Map[String, Seq[String]] = Map(
    "engine" -> Seq("engine.prepare_s", "engine.prepare_jobs",
      "engine.materialize_s", "engine.csv_passes", "engine.shuffle_mb",
      "engine.eda_s", "engine.eda_jobs"),
    "ml" -> Seq("ml.fit_s", "ml.fit_jobs", "ml.eval_s", "ml.eval_jobs",
      "ml.serve_build_ms", "ml.serve_exec_ms", "ml.serve_jobs_per_req",
      "ml.serve_input_mb_per_req"),
    "query" -> (Seq("query.construct_s", "query.construct_jobs",
      "query.catalyst_s", "query.exec_s", "query.jobs", "query.tasks",
      "query.shuffle_mb", "query.spill_mb", "query.scratch_owner_s") ++
      (QueryMix.Cheap ++ QueryMix.Heavy).map(q => s"query.${q}_s")))

  def zeroExcept(layer: String): Map[String, Double] =
    ByLayer.filter(_._1 != layer).values.flatten.map(_ -> 0.0).toMap
}

/** Shared-scratch hygiene: the program writes scratch tables under
  * `target/scratch/graft_<kind>_<dataset>_<pid>_g<generation>`. */
object Scratch {
  private val Dir = Paths.get("target", "scratch")
  private val Pattern = """graft_(.+)_(\d+)_g(\d+)""".r
  private val pid = ProcessHandle.current().pid()

  private def entries: Seq[(Path, String, Long, Int)] =
    if (!Files.isDirectory(Dir)) Nil
    else Files.list(Dir).iterator().asScala.toSeq.flatMap { p =>
      p.getFileName.toString match {
        case Pattern(kind, owner, gen) => Some((p, kind, owner.toLong,
          gen.toInt))
        case _ => None
      }
    }

  private def delete(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator
      .reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))

  /** Delete this process's retired generations (every generation of a
    * kind below its newest) and whatever a dead process left behind. */
  def pruneRetired(): Unit = {
    val es = entries
    es.filter { case (_, _, owner, _) =>
      owner != pid && !ProcessHandle.of(owner).isPresent }
      .foreach(e => delete(e._1))
    es.filter(_._3 == pid).groupBy(_._2).values.foreach { gens =>
      val newest = gens.map(_._4).max
      gens.filter(_._4 < newest).foreach(e => delete(e._1))
    }
  }

  def removeOwn(): Unit = entries.filter(_._3 == pid).foreach(e => delete(e._1))
}

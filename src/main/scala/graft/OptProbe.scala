package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine._
import graft.ext._
import java.nio.file.{Files, Paths}

/** Round-18 optimization measurement harness (dev-only; the driver never
  * runs it). Two modes, selected by SPARK_GRAFT_OPT_MODE:
  *
  *  - `plans` (default): dump `explain("formatted")` for the queries
  *    named in SPARK_GRAFT_OPT_PLANS (comma-separated full names) to
  *    plans/r18/<qNN>_<SPARK_GRAFT_OPT_SUFFIX>.txt — the before/after
  *    plan evidence the optimization round commits. Runs at sf0.001
  *    (plan shape is SF-invariant; the PlanDump discipline).
  *
  *  - `stages`: time the expensive families' internal stages with the
  *    noop sink at the bench SF (SPARK_GRAFT_SF_DIR, default sf0.1) so
  *    per-query bench seconds can be attributed to specific operators
  *    (guide §1: measure first; §1.4: noop sink; §1.5: labeled jobs).
  *    Builds write to target/optprobe scratch, never the bench dirs.
  *
  * Methodology note: stage frames share lineage with later stages
  * (chains are one plan), so chain-stage timings are CUMULATIVE — the
  * increment between consecutive rows attributes the stage; frames
  * holding lazy localCheckpoints materialize them inside the first
  * timed job exactly as the benched query does. */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sys.env.getOrElse("SPARK_GRAFT_OPT_MODE", "plans") match {
      case "plans"  => dumpPlans(spark)
      case "stages" => stageTimes(spark)
      case "tail"   => tailSplit(spark)
      case other => throw new IllegalArgumentException(
        s"unknown SPARK_GRAFT_OPT_MODE: $other")
    }
    spark.stop()
  }

  private def dumpPlans(spark: SparkSession): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_OPT_DIR",
      "/root/testdata/sf0.001")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_OPT_SUFFIX", "before")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_OPT_PLANDIR", "plans/r19")
    val names = sys.env.getOrElse("SPARK_GRAFT_OPT_PLANS", "")
      .split(",").map(_.trim).filter(_.nonEmpty)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val short = name.takeWhile(_ != '_')
      Files.writeString(Paths.get(s"$outDir/${short}_$suffix.txt"),
        s"// $name — explain(\"formatted\") at $dir ($suffix)\n$plan")
      println(s"[optprobe] wrote $outDir/${short}_$suffix.txt")
    }
  }

  /** Round-19 tail attribution (guide §1 measure first, §7.3 plan-size
    * bottlenecks): for every query, in Bench's qNN order and with
    * Bench's per-query cache/RDD cleanup, split wall time into
    * PLAN (analyze + optimize + physical-plan, forced via
    * `executedPlan`) and EXEC (the noop write — codegen compile + run),
    * and count the jobs/stages/tasks the execution schedules. The
    * sub-2 s tail is fixed-cost bound (r18 scaling block: 8-core ==
    * 32-core); this attributes each query's floor to plan-tree size vs
    * stage count so the round can target the right lever. */
  private def tailSplit(spark: SparkSession): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.get("SPARK_GRAFT_OPT_ONLY").map(_.split(",").toSet)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          stages.addAndGet(j.stageInfos.size)
          tasks.addAndGet(j.stageInfos.map(_.numTasks).sum)
        }
      })
    println("[optprobe] name plan_s exec_s jobs stages tasks")
    SparkEntry.orderedQueries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .filter { case (name, _) => name != "q58_minhash_ml" }
      .foreach { case (name, fn) =>
        try {
          val t0 = System.nanoTime()
          val df = fn(spark, d)
          df.queryExecution.executedPlan // force analyze+optimize+plan
          val t1 = System.nanoTime()
          jobs.set(0); stages.set(0); tasks.set(0)
          df.write.format("noop").mode("overwrite").save()
          val t2 = System.nanoTime()
          // listener events are async: wait until every event posted
          // so far (all of this query's JobStarts) has been counted
          org.apache.spark.sql.graft.shim.drainListenerBus(spark)
          println(f"[optprobe] $name%-44s ${(t1 - t0) / 1e9}%7.3f " +
            f"${(t2 - t1) / 1e9}%7.3f ${jobs.get}%4d ${stages.get}%5d " +
            f"${tasks.get}%6d")
        } catch { case e: Throwable =>
          println(s"[optprobe] $name FAILED: ${e.getMessage}")
        } finally {
          spark.sharedState.cacheManager.clearCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
        }
      }
  }

  private def stageTimes(spark: SparkSession): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cells = sys.env.getOrElse("SPARK_GRAFT_OPT_STAGES", "owners")
      .split(",").map(_.trim).toSet
    def time(label: String)(df: => DataFrame): Unit = {
      spark.sparkContext.setJobDescription(label)
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"[optprobe] $label%-44s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      spark.sparkContext.setJobDescription(null)
    }
    def timedWrite(label: String, df: => DataFrame, path: String): Unit = {
      spark.sparkContext.setJobDescription(label)
      val t0 = System.nanoTime()
      df.write.mode("overwrite").parquet(path)
      println(f"[optprobe] $label%-44s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      spark.sparkContext.setJobDescription(null)
    }
    val base = "target/optprobe"
    def p(n: String) = s"$base/$n"
    val docs = Tables.documents(spark, d)
    val corpus = docs.filter(col("doc_id") % 5 =!= 3)

    if (cells("owners")) {
      // ===== exact family owner (q238 build) =====
      timedWrite("exact: corpusShingleIndex build+write",
        Dedup.corpusShingleIndex(corpus, "doc_id", "text", k = 3,
          maxDf = 100), p("exidx"))
      timedWrite("exact: jaccardPairsFromIndex+write",
        Dedup.jaccardPairsFromIndex(spark.read.parquet(p("exidx")),
          threshold = 0.1).select(col("id_a"), col("id_b")), p("expairs"))
      timedWrite("exact: dupClusters+write",
        Dedup.dupClusters(spark.read.parquet(p("expairs")),
          corpus.select("doc_id"), "doc_id"), p("exclusters"))
      // ===== LSH family owner (q242 build) =====
      val (bandIndex, post, sizes) = Dedup.corpusLshIndex(corpus,
        "doc_id", "text", k = 3, numHashes = 12, rowsPerBand = 3)
      timedWrite("lsh: bandIndex write", bandIndex, p("lshband"))
      timedWrite("lsh: postings write", post, p("lshpost"))
      timedWrite("lsh: sizes write", sizes, p("lshsizes"))
      timedWrite("lsh: bandPairsFromIndex+write",
        Dedup.minhashBandPairsFromIndex(spark.read.parquet(p("lshband")),
            spark.read.parquet(p("lshpost")),
            spark.read.parquet(p("lshsizes")), threshold = 0.05)
          .select(col("id_a"), col("id_b")), p("lshpairs"))
      timedWrite("lsh: dupClusters+write",
        Dedup.dupClusters(spark.read.parquet(p("lshpairs")),
          corpus.select("doc_id"), "doc_id"), p("lshclusters"))
      // ===== fingerprint family owner (q250 build) =====
      val corpusFps = Multimodal.blockhashFingerprints(
        Multimodal.mediaTable(corpus), "doc_id", blocks = 32)
      val (idx, f) = Dedup.corpusFingerprintIndex(corpusFps,
        bits = 32, slices = 4)
      timedWrite("fp: slice index write", idx, p("fpslices"))
      timedWrite("fp: fingerprint table write", f, p("fptable"))
      timedWrite("fp: pairsFromIndex+write",
        Dedup.fingerprintPairsFromIndex(spark.read.parquet(p("fpslices")),
            spark.read.parquet(p("fptable")), maxHamming = 3)
          .select(col("id_a"), col("id_b")), p("fppairs"))
      timedWrite("fp: dupClusters+write",
        Dedup.dupClusters(spark.read.parquet(p("fppairs")),
          spark.read.parquet(p("fptable")).select("pid"), "pid"),
        p("fpclusters"))
      // ===== embedding family owner (q245 build) =====
      val emb = Tables.embeddings(spark, d).filter(col("vec_id") % 5 =!= 3)
      timedWrite("emb: corpusEmbeddingLshIndex write",
        SimSearch.corpusEmbeddingLshIndex(emb, bits = 16, tables = 4),
        p("embidx"))
      timedWrite("emb: cosinePairsFromIndex(0.6)+write",
        SimSearch.cosinePairsFromIndex(spark.read.parquet(p("embidx")),
            threshold = 0.6)
          .select(col("id_a"), col("id_b")), p("embpairs"))
      timedWrite("emb: dupClusters+write",
        Dedup.dupClusters(spark.read.parquet(p("embpairs")),
          spark.read.parquet(p("embidx")).select(col("vec_id"))
            .dropDuplicates("vec_id"), "vec_id"), p("embclusters"))
      // ===== q55 family owner =====
      timedWrite("q55: jaccardPairs+write",
        Dedup.jaccardPairs(docs, "doc_id", "text", k = 3,
          threshold = 0.1, maxDf = 100).select(col("id_a"), col("id_b")),
        p("pairs"))
      timedWrite("q55: dupClusters+write",
        Dedup.dupClusters(spark.read.parquet(p("pairs")),
          docs.select("doc_id"), "doc_id"), p("clusters"))
    }

    if (cells("chain257")) {
      // replicate q257's stages off the owner-probe state (run owners
      // first in the same invocation, or reuse an earlier run's dirs)
      val bandIndex0 = spark.read.parquet(p("lshband"))
      val post0 = spark.read.parquet(p("lshpost"))
      val sizes0 = spark.read.parquet(p("lshsizes"))
      val pairs0 = spark.read.parquet(p("lshpairs"))
      val clusters0 = spark.read.parquet(p("lshclusters"))
      val batch = docs.filter(col("doc_id") % 5 === 3)
      val newPairs = Dedup.incrementalMinhashPairs(bandIndex0, post0,
          sizes0, batch, "doc_id", "text", k = 3, numHashes = 12,
          rowsPerBand = 3, threshold = 0.05)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint(eager = false)
      time("q257 s2: incrementalMinhashPairs")(newPairs)
      val batchPost = Dedup.postings(batch, "doc_id", "text", k = 3)
        .localCheckpoint(eager = false)
      val index1 = Dedup.upsertPostingsIndex(bandIndex0,
        Dedup.bandRowsFromPostings(batchPost, numHashes = 12,
          rowsPerBand = 3), Seq("bk"))
      time("q257 s2: upsertPostingsIndex")(index1)
      val clusters1 = Dedup.upsertClusters(clusters0, newPairs,
        batch.select("doc_id"), "doc_id", ordered = false)
      time("q257 s2: upsertClusters")(clusters1)
      val pairs1 = pairs0.select(col("id_a"), col("id_b"))
        .unionByName(newPairs)
      val deleted = docs.filter(col("doc_id") % 7 === 2).select("doc_id")
      val post1 = post0.unionByName(batchPost)
      val index2 = Dedup.retractPostingsIndex(index1,
        Dedup.bandRowsFromPostings(
          post1.join(deleted, post1("pid") === deleted("doc_id"),
            "left_semi"),
          numHashes = 12, rowsPerBand = 3), Seq("bk"))
      time("q257 s3: retractPostingsIndex")(index2)
      val clusters2 = Dedup.retractClusters(clusters1, pairs1, deleted,
        "doc_id", ordered = false)
      time("q257 s3: retractClusters")(clusters2)
      val peers = ExtQueries.postingPeers(index2, "doc_id")
      time("q257 s4: postingPeers")(peers)
      time("q257 full: report join + orderBy")(
        clusters2
          .join(docs.select("doc_id", "source"), Seq("doc_id"))
          .join(peers, Seq("doc_id"), "left")
          .select(col("doc_id"), col("source"), col("cluster"),
            coalesce(col("n_peers"), lit(0L)).as("n_peers"))
          .orderBy("doc_id"))
    }

    if (cells("chain260")) {
      // replicate q260's stages off the owner-probe state (run owners
      // first in the same invocation, or reuse an earlier run's dirs)
      val index0 = spark.read.parquet(p("fpslices"))
      val cfps = spark.read.parquet(p("fptable"))
      val pairs0 = spark.read.parquet(p("fppairs"))
      val clusters0 = spark.read.parquet(p("fpclusters"))
      val batchFps = Multimodal.blockhashFingerprints(
          Multimodal.mediaTable(docs.filter(col("doc_id") % 5 === 3)),
          "doc_id", blocks = 32)
        .localCheckpoint(eager = false)
      time("q260 s2: batchFps")(batchFps)
      val newPairs = Dedup.incrementalFingerprintPairs(index0, cfps,
          batchFps, bits = 32, slices = 4, maxHamming = 3)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint(eager = false)
      time("q260 s2: incrementalFingerprintPairs")(newPairs)
      val index1 = Dedup.upsertPostingsIndex(index0,
        Dedup.fingerprintPostings(batchFps, bits = 32, slices = 4),
        Seq("sl", "sv"))
      time("q260 s2: upsertPostingsIndex")(index1)
      val clusters1 = Dedup.upsertClusters(clusters0, newPairs,
        batchFps.select("pid"), "pid", ordered = false)
      time("q260 s2: upsertClusters")(clusters1)
      val pairs1 = pairs0.select(col("id_a"), col("id_b"))
        .unionByName(newPairs)
      val deleted = docs.filter(col("doc_id") % 7 === 2)
        .select(col("doc_id").as("pid"))
      val fps1 = cfps.unionByName(batchFps.select("pid", "fp"))
      val index2 = Dedup.retractPostingsIndex(index1,
        Dedup.fingerprintPostings(
          fps1.join(deleted, Seq("pid"), "left_semi"),
          bits = 32, slices = 4), Seq("sl", "sv"))
      time("q260 s3: retractPostingsIndex")(index2)
      val clusters2 = Dedup.retractClusters(clusters1, pairs1, deleted,
        "pid", ordered = false)
      time("q260 s3: retractClusters")(clusters2)
      val peers = ExtQueries.postingPeers(index2, "pid")
      time("q260 s4: postingPeers")(peers)
      time("q260 full: report join + orderBy")(
        clusters2
          .join(Multimodal.mediaTable(docs)
            .select(col("doc_id").as("pid"), col("media_type")),
            Seq("pid"))
          .join(peers, Seq("pid"), "left")
          .select(col("pid"), col("media_type"), col("cluster"),
            coalesce(col("n_peers"), lit(0L)).as("n_peers"))
          .orderBy("pid"))
    }

    if (cells("chain248")) {
      val k = 3; val cap = 100; val thr = 0.1
      val index0 = spark.read.parquet(p("exidx"))
      val pairs0 = spark.read.parquet(p("expairs"))
      val clusters0 = spark.read.parquet(p("exclusters"))
      val batch = docs.filter(col("doc_id") % 5 === 3)
      val newPairs = Dedup.incrementalJaccardPairs(index0, batch,
          "doc_id", "text", k, thr, cap)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint(eager = false)
      time("q248 s2: incrementalJaccardPairs")(newPairs)
      val index1 = Dedup.upsertShingleIndex(index0, batch, "doc_id",
        "text", k, cap)
      time("q248 s2: upsertShingleIndex")(index1)
      val clusters1 = Dedup.upsertClusters(clusters0, newPairs,
        batch.select("doc_id"), "doc_id", ordered = false)
      time("q248 s2: upsertClusters")(clusters1)
      val pairs1 = pairs0.unionByName(newPairs)
      val deleted = docs.filter(col("doc_id") % 7 === 2)
      val index2 = Dedup.retractShingleIndex(index1, deleted, "doc_id",
        "text", k, cap)
      time("q248 s3: retractShingleIndex")(index2)
      val clusters2 = Dedup.retractClusters(clusters1, pairs1,
        deleted.select("doc_id"), "doc_id", ordered = false)
      time("q248 s3: retractClusters")(clusters2)
      val nLive = index2.select(explode(col("cpids")).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_live_sh"))
      time("q248 s4: nLive")(nLive)
      time("q248 full: report join + orderBy")(
        clusters2
          .join(docs.select("doc_id", "source"), Seq("doc_id"))
          .join(nLive, Seq("doc_id"), "left")
          .select(col("doc_id"), col("source"), col("cluster"),
            coalesce(col("n_live_sh"), lit(0L)).as("n_live_sh"))
          .orderBy("doc_id"))
    }

    if (cells("tier2")) {
      val emb = Tables.embeddings(spark, d)
      // q211 internals
      time("pq: pqIndex codes (build)")(
        SimSearch.pqIndex(emb, "vec_id", "embedding", m = 4, k = 8)._1)
      time("pq: pqCodesWide (build + pivot + orderBy)")(
        SimSearch.pqCodesWide(emb, "vec_id", "embedding", m = 4, k = 8))
      // q131 internals
      time("q131: cosineNearDupPairs(0.35)")(
        SimSearch.cosineNearDupPairs(emb, threshold = 0.35))
      time("q131: pairs + dupClusters")(
        Dedup.dupClusters(
          SimSearch.cosineNearDupPairs(emb, threshold = 0.35),
          emb.select("vec_id"), "vec_id"))
      // q107/q113 shared CDF
      time("q107: rankedCdf(lineitem price)")(
        graft.engine.Aggregates.rankedCdf(Tables.lineitem(spark, d),
          "l_returnflag", "l_extendedprice"))
      // q150
      time("q150: quantileNormalize")(
        PipelineOps.quantileNormalize(
          docs.select("doc_id", "source", "n_chars"),
          "source", "n_chars", "doc_id"))
      // q186
      time("q186: bootstrapCI(full)")(
        graft.engine.Aggregates.bootstrapCI(Tables.lineitem(spark, d),
          "l_returnflag", "l_quantity", "l_orderkey"))
      // q194
      time("q194: exact all-pairs mutual-knn build")(
        SimSearch.mutualKnnPairs(
          graft.engine.Skew.fanOut(
              emb.select(col("vec_id").as("id_a"),
                col("embedding").as("emb_a")))
            .crossJoin(broadcast(emb.select(col("vec_id").as("id_b"),
              col("embedding").as("emb_b"))))
            .filter(col("id_a") < col("id_b"))
            .select(col("id_a"), col("id_b"),
              SimSearch.cosine(col("emb_a"), col("emb_b")).as("sim")),
          k = 5))
      // q149
      time("q149: sortedNeighborhoodPairs(part)")(
        Dedup.sortedNeighborhoodPairs(Tables.part(spark, d),
          "p_partkey", "p_name",
          element_at(split(col("p_name"), " "), 1), w = 3, maxDist = 5))
      // q233
      time("q233: variant extract")(
        ExtQueries.all("q233_variant_extract")(spark, d))
      // q235
      time("q235: transformWithState totals")(
        ExtQueries.all("q235_stateful_totals")(spark, d))
    }

    if (cells("xml")) {
      val tmp = p("xml")
      timedWrite("q234: xml write",
        Tables.lineitem(spark, d)
          .select("l_orderkey", "l_quantity", "l_returnflag"), tmp)
      // the write above was parquet; time the real xml write too
      spark.sparkContext.setJobDescription("q234 xml write")
      val t0 = System.nanoTime()
      Tables.lineitem(spark, d)
        .select("l_orderkey", "l_quantity", "l_returnflag")
        .write.mode("overwrite").option("rowTag", "row")
        .format("xml").save(p("xmlreal"))
      println(f"[optprobe] ${"q234: XML write"}%-44s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      time("q234: XML read+agg")(
        spark.read.format("xml").option("rowTag", "row")
          .schema("l_orderkey long, l_quantity double, l_returnflag string")
          .load(p("xmlreal"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            graft.engine.Aggregates.sumExact(col("l_quantity")).as("sum_qty"))
          .orderBy("l_returnflag"))
    }
  }
}

package graft.streaming

import graft.SparkSpec
import graft.engine.Tables

/** Event-time windows are deterministic on static input, so the watermarked
  * streaming query must equal its batch twin exactly (SURVEY.md §7.4). */
class StreamingSpec extends SparkSpec {

  test("streaming incremental dedup flags: stream == batch on " +
    "watermark-closed docs == per-doc incrementalJaccardPairs (q238)") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf0001)
    val corpus = docs.filter(col("doc_id") % 5 =!= 3)
    val batchDocs = docs.filter(col("doc_id") % 5 === 3)
    val index = graft.ext.Dedup.corpusShingleIndex(corpus, "doc_id",
      "text", k = 3, maxDf = 100).localCheckpoint(eager = true)
    val batch = graft.ext.Dedup.incrementalFlags(batchDocs, index,
        "doc_id", "text", k = 3, threshold = 0.1, maxDf = 100)
      .collect().toSet
    assert(batch.nonEmpty)
    val streamed = StreamingOps.runStreamingDocs(spark, sf0001,
      s => StreamingOps.streamingIncrementalFlags(
        s.filter(col("doc_id") % 5 === 3), index,
        k = 3, threshold = 0.1, maxDf = 100),
      "t_inc_flags").collect().toSet
    // append mode emits a doc's pairs once the watermark passes its
    // 1-second window; only the max-event-time doc's window can still
    // be open at end of stream, so everything but pairs of the last
    // batch doc (conservatively: any doc within 1 s of the stream max)
    // must have emitted — and nothing may emit that batch doesn't have
    val maxId = docs.agg(max(col("doc_id"))).collect()(0).getLong(0)
    def batchSide(r: org.apache.spark.sql.Row): Long = {
      val (a, b) = (r.getLong(0), r.getLong(1))
      if (a % 5 == 3) a else b
    }
    val closed = batch.filter(batchSide(_) < maxId - 1)
    assert(streamed.subsetOf(batch))
    assert(closed.nonEmpty && closed.subsetOf(streamed))
    // per-doc semantics: each doc's flags ARE incrementalJaccardPairs
    // with batch = {that doc} (df_b = 1 cap algebra) — the q238
    // machinery specialized to ingestion-time scoring
    val sampleIds = batch.toSeq.map(batchSide).distinct.sorted.take(2)
    sampleIds.foreach { id =>
      val one = batchDocs.filter(col("doc_id") === id)
      val viaQ238 = graft.ext.Dedup.incrementalJaccardPairs(index, one,
        "doc_id", "text", k = 3, threshold = 0.1, maxDf = 100)
        .collect().toSet
      val viaFlags = graft.ext.Dedup.incrementalFlags(one, index,
        "doc_id", "text", k = 3, threshold = 0.1, maxDf = 100)
        .collect().toSet
      assert(viaFlags == viaQ238)
    }
  }

  test("streaming cluster assignment (q249): stream == batch on " +
    "watermark-closed docs == per-doc upsertClusters over the doc's " +
    "own qualifying pairs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
    val corpus = docs.filter(col("doc_id") % 5 =!= 3)
    val batchDocs = docs.filter(col("doc_id") % 5 === 3)
    val index = graft.ext.Dedup.corpusShingleIndex(corpus, "doc_id",
      "text", k = 3, maxDf = 100).localCheckpoint(eager = true)
    val pairs = graft.ext.Dedup.jaccardPairs(corpus, "doc_id", "text",
      k = 3, threshold = 0.1, maxDf = 100).select("id_a", "id_b")
    val clusters = graft.ext.Dedup.dupClusters(pairs,
      corpus.select("doc_id"), "doc_id").localCheckpoint(eager = true)
    val batch = graft.ext.Dedup.assignClusters(batchDocs, index,
        clusters, "doc_id", "text", k = 3, threshold = 0.1, maxDf = 100)
      .as[(Long, Long)].collect().toMap
    // the batch twin covers EVERY arriving doc (clean docs -> own id)
    assert(batch.keySet ==
      batchDocs.select("doc_id").as[Long].collect().toSet)
    // some assignment must be a real match (cluster != own id)
    assert(batch.exists { case (id, cl) => cl != id })
    val streamed = StreamingOps.runStreamingDocs(spark, sf0001,
      s => StreamingOps.streamingAssignClusters(
        s.filter(col("doc_id") % 5 === 3), index, clusters,
        k = 3, threshold = 0.1, maxDf = 100),
      "t_assign").as[(Long, Long)].collect().toMap
    // every watermark-closed doc emits EXACTLY its batch row (clean
    // docs included — the null-cp presence row carries them through);
    // only the max-event-time doc's window can still be open
    val maxId = docs.agg(max(col("doc_id"))).collect()(0).getLong(0)
    val closed = batch.keySet.filter(_ < maxId - 1)
    assert(streamed.toSet.subsetOf(batch.toSet))
    assert(closed.nonEmpty &&
      closed.forall(id => streamed.get(id).contains(batch(id))))
    // per-doc semantics: the assignment row equals upsertClusters run
    // on the doc's own qualifying pairs alone
    val sample = batch.keySet.toSeq.sorted.take(2)
    sample.foreach { id =>
      val one = batchDocs.filter(col("doc_id") === id)
      val onePairs = graft.ext.Dedup.incrementalFlags(one, index,
        "doc_id", "text", k = 3, threshold = 0.1, maxDf = 100)
        .select("id_a", "id_b")
      val viaUpsert = graft.ext.Dedup.upsertClusters(clusters, onePairs,
        one.select("doc_id"), "doc_id")
        .filter(col("doc_id") === id)
        .as[(Long, Long)].collect().head
      assert(viaUpsert == (id -> batch(id)))
    }
  }

  test("streaming takedown feed (q258): retraction ids arriving as a " +
    "stream derive their index deltas from persisted state — stream " +
    "== batch with NO withheld tail (stateless transform), and " +
    "folding the drained deltas retracts the index exactly (q252)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
    val corpusFps = graft.ext.Multimodal.blockhashFingerprints(
      graft.ext.Multimodal.mediaTable(
        docs.filter(col("doc_id") % 5 =!= 3)), "doc_id", blocks = 32)
    val (idx, cf) = graft.ext.Dedup.corpusFingerprintIndex(corpusFps,
      bits = 32, slices = 4)
    val cfC = cf.localCheckpoint(eager = true)
    val idxC = idx.localCheckpoint(eager = true)
    val batchDeltas = graft.ext.Dedup.fingerprintPostings(
        cfC.filter(col("pid") % 7 === 2), bits = 32, slices = 4)
      .as[(Int, Long, Long)].collect().toSet
    assert(batchDeltas.nonEmpty)
    val streamedDf = StreamingOps.runStreamingDocs(spark, sf0001,
      s => StreamingOps.streamingRetractPostings(
        s.filter(col("doc_id") % 7 === 2)
          .select(col("doc_id").as("pid")),
        cfC, bits = 32, slices = 4),
      "t_takedown")
    // stateless (no windowed agg) => EVERY row emits, including the
    // max-event-time doc's — no withheld tail to exclude
    assert(streamedDf.as[(Int, Long, Long)].collect().toSet
      == batchDeltas)
    // the lifecycle verb: folding the drained stream through the same
    // retraction operator equals the batch takedown (q252 semantics —
    // fresh rebuild over the retained corpus)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("sl", "sv", "cpids")
        .as[(Int, Long, Seq[Long])].collect().toSet
    val viaStream = graft.ext.Dedup.retractPostingsIndex(idxC,
      streamedDf, Seq("sl", "sv"))
    val retained = graft.ext.Multimodal.blockhashFingerprints(
      graft.ext.Multimodal.mediaTable(
        docs.filter(col("doc_id") % 5 =!= 3 && col("doc_id") % 7 =!= 2)),
      "doc_id", blocks = 32)
    assert(rows(viaStream) == rows(
      graft.ext.Dedup.corpusFingerprintIndex(retained,
        bits = 32, slices = 4)._1))
  }

  test("streaming upsert feed (q261): arriving docs' index-upsert " +
    "deltas compute map-side as a stream — stream == batch with NO " +
    "withheld tail (stateless transform), and folding the drained " +
    "deltas upserts the index exactly (q251 — fresh corpus∪batch " +
    "rebuild)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
    val corpusFps = graft.ext.Multimodal.blockhashFingerprints(
      graft.ext.Multimodal.mediaTable(
        docs.filter(col("doc_id") % 5 =!= 3)), "doc_id", blocks = 32)
    val idxC = graft.ext.Dedup.corpusFingerprintIndex(corpusFps,
      bits = 32, slices = 4)._1.localCheckpoint(eager = true)
    val batchDeltas = graft.ext.Dedup.fingerprintPostings(
        graft.ext.Multimodal.blockhashFingerprints(
          graft.ext.Multimodal.mediaTable(
            docs.filter(col("doc_id") % 5 === 3)), "doc_id",
          blocks = 32), bits = 32, slices = 4)
      .as[(Int, Long, Long)].collect().toSet
    assert(batchDeltas.nonEmpty)
    val streamedDf = StreamingOps.runStreamingDocs(spark, sf0001,
      s => StreamingOps.streamingUpsertPostings(
        s.filter(col("doc_id") % 5 === 3), bits = 32, slices = 4),
      "t_upsert_feed")
    // stateless map-only transform (no join, no windowed agg) =>
    // EVERY row emits, including the max-event-time doc's — no
    // withheld tail to exclude
    assert(streamedDf.as[(Int, Long, Long)].collect().toSet
      == batchDeltas)
    // the lifecycle verb: folding the drained stream through the same
    // upsert operator equals the batch upsert (q251 semantics — fresh
    // corpus∪batch rebuild, uncapped banded index)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("sl", "sv", "cpids")
        .as[(Int, Long, Seq[Long])].collect().toSet
    val viaStream = graft.ext.Dedup.upsertPostingsIndex(idxC,
      streamedDf, Seq("sl", "sv"))
    val allFps = graft.ext.Multimodal.blockhashFingerprints(
      graft.ext.Multimodal.mediaTable(docs), "doc_id", blocks = 32)
    assert(rows(viaStream) == rows(
      graft.ext.Dedup.corpusFingerprintIndex(allFps,
        bits = 32, slices = 4)._1))
  }

  test("streaming tumbling counts == batch tumbling counts") {
    val batch = StreamingOps.tumblingCounts(Tables.events(spark, sf0001))
      .collect().toSet
    val streamed = StreamingOps.runStreaming(spark, sf0001,
      StreamingOps.tumblingCounts, "t_tumbling").collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("sessionize streaming: state merges across micro-batches, timeout " +
    "closes the session") {
    import spark.implicits._
    def i(s: String) = java.time.Instant.parse(s)
    val dir = java.nio.file.Files.createTempDirectory("graft-sess").toString
    // three files → three micro-batches (maxFilesPerTrigger=1):
    //  b1: user 1 events 10:00, 10:10         (open session in state)
    //  b2: user 1 event 10:20 (merges!), user 99 at 20:00 (watermark push)
    //  b3: user 99 at 20:30 → watermark 19:00 > 10:50 fires the timeout
    val batches = Seq(
      Seq(StreamingOps.Ev(1L, i("2024-01-01T10:00:00Z")),
        StreamingOps.Ev(1L, i("2024-01-01T10:10:00Z"))),
      Seq(StreamingOps.Ev(1L, i("2024-01-01T10:20:00Z")),
        StreamingOps.Ev(99L, i("2024-01-01T20:00:00Z"))),
      Seq(StreamingOps.Ev(99L, i("2024-01-01T20:30:00Z"))))
    batches.foreach { b =>
      b.toDS().coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(1100) // distinct modification times → stable file order
    }
    val src = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .withWatermark("ts", "1 hour")
      .as[StreamingOps.Ev]
    val q = StreamingOps.sessionize(src,
      org.apache.spark.sql.streaming.OutputMode.Append,
      org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)
      .writeStream.outputMode("append")
      .format("memory").queryName("t_sessionize_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("t_sessionize_stream")
      .as[StreamingOps.SessionOut].collect()
    // the cross-batch session: 3 events 10:00/10:10/10:20 merged into ONE
    // session [10:00, 10:50), emitted when the watermark passed its end
    val u1 = got.filter(_.user_id == 1L)
    assert(u1.length == 1, got.mkString(", "))
    assert(u1.head.n == 3)
    assert(u1.head.s_start == i("2024-01-01T10:00:00Z"))
    assert(u1.head.s_end == i("2024-01-01T10:50:00Z"))
  }

  test("transformWithState running totals: batch mode == plain " +
    "aggregate; streaming state carries across micro-batches on the " +
    "RocksDB store and converges to the same totals") {
    import spark.implicits._
    val evs = Seq((1L, 100L), (1L, 250L), (2L, 42L), (1L, 7L))
      .map { case (u, c) => StreamingOps.UserEv(u, c) }
    val expected = Set(StreamingOps.UserTotal(1L, 3L, 357L),
      StreamingOps.UserTotal(2L, 1L, 42L))
    // streaming first: starting a stateful streaming query registers
    // the driver's StateStoreCoordinator endpoint, which the BATCH
    // execution of transformWithState also needs (batch hardcodes a
    // throwaway RocksDB store and its lock check asks the coordinator)
    // — batch-before-any-stream fails with CANNOT_LOAD_STATE_STORE.
    // streaming: two files → two micro-batches; user 1 spans both
    val dir = java.nio.file.Files.createTempDirectory("graft-tws")
      .toString
    Seq(evs.take(2), evs.drop(2)).foreach { b =>
      b.toDS().coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(1100) // distinct mtimes → stable file order
    }
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, "org.apache.spark.sql.execution." +
      "streaming.state.RocksDBStateStoreProvider")
    try {
      val ck = java.nio.file.Files.createTempDirectory("graft-tws-ck")
        .toString
      val src = spark.readStream
        .schema("user_id LONG, cents LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(dir)
        .as[StreamingOps.UserEv]
      val q = StreamingOps.perUserRunningTotal(src)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .format("memory").queryName("t_tws")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // state-store READER (Spark 4 statestore data source): the
      // RocksDB state the processor left behind is itself queryable —
      // the observability surface for debugging a production stateful
      // pipeline without replaying it
      val state = spark.read.format("statestore")
        .option("stateVarName", "tot")
        .load(ck)
        .selectExpr("key.value AS user_id", "value.*")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(state == Set((1L, 3L, 357L), (2L, 1L, 42L)), state)
      val got = spark.table("t_tws")
        .as[StreamingOps.UserTotal].collect().toSeq
      // the batch-1 emission proves per-batch incremental output...
      assert(got.contains(StreamingOps.UserTotal(1L, 2L, 350L)), got)
      // ...and the LAST emission per user equals the batch aggregate
      val last = got.groupBy(_.user_id)
        .map { case (_, rs) => rs.maxBy(_.n) }.toSet
      assert(last == expected, got)
      // batch mode: one invocation per key, emission IS the final total
      val batch = StreamingOps.perUserRunningTotal(evs.toDS())
        .collect().toSet
      assert(batch == expected)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("flatMapGroupsWithState sessionizer == declarative session_window") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val events = Tables.events(spark, sf0001)
      .select(col("user_id"),
        col("ts").cast("timestamp").as("ts")).as[StreamingOps.Ev]
    val custom = StreamingOps.sessionize(events,
      org.apache.spark.sql.streaming.OutputMode.Append,
      org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .select(col("user_id"), col("s_start").cast("timestamp_ntz"),
        col("s_end").cast("timestamp_ntz"), col("n"))
      .collect().toSet
    val declarative = StreamingOps
      .sessionCounts(Tables.events(spark, sf0001)).collect().toSet
    assert(custom == declarative)
    assert(custom.nonEmpty)
  }

  test("streaming sliding counts == batch sliding counts") {
    val batch = StreamingOps.slidingCounts(Tables.events(spark, sf0001))
      .collect().toSet
    val streamed = StreamingOps.runStreaming(spark, sf0001,
      StreamingOps.slidingCounts, "t_sliding").collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("quality rules and PII scrub run unchanged on a stream (== batch)") {
    // PipelineOps.qualityFlags / piiScrub are stateless projections, so
    // the SAME code must work as an ingestion-time streaming filter with
    // results identical to the batch run — the shape of a production
    // ingest pipeline (filter at arrival, not in a nightly sweep).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-squal")
      .toString
    val rows = Seq(
      (0L, "the cat sat on the mat and then the dog ran off to town"),
      (1L, "short doc"),
      (2L, "mail a.b@site.org call +1-555-1234 the end of the story here"))
    rows.grouped(2).foreach { b =>
      b.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
    }
    val batchDf = spark.read.schema("doc_id BIGINT, text STRING")
      .parquet(dir)
    val src = spark.readStream.schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(dir)
    def run(name: String,
        f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : Set[String] = {
      val q = f(src).writeStream.outputMode("append")
        .format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(name).collect().map(_.toString).toSet
    }
    val sq = run("t_squality",
      df => graft.ext.PipelineOps.qualityFlags(df, "text"))
    val bq = graft.ext.PipelineOps.qualityFlags(batchDf, "text")
      .collect().map(_.toString).toSet
    assert(sq == bq && bq.size == 3)
    val sp = run("t_spii", df => graft.ext.PipelineOps.piiScrub(df, "text"))
    val bp = graft.ext.PipelineOps.piiScrub(batchDf, "text")
      .collect().map(_.toString).toSet
    assert(sp == bp && bp.size == 3)
  }

  test("streamingDedup drops cross-batch duplicate keys within watermark") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("graft-sdedup")
      .toString
    // same doc_key 'a' appears in both micro-batches within the watermark
    val batches = Seq(
      Seq(("a", t("2024-01-01 10:00:00")), ("b", t("2024-01-01 10:01:00"))),
      Seq(("a", t("2024-01-01 10:05:00")), ("c", t("2024-01-01 10:06:00"))))
    batches.foreach { b =>
      b.toDF("doc_key", "ts").coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(1100)
    }
    val src = spark.readStream.schema("doc_key STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamingOps.streamingDedup(src, Seq("doc_key"))
      .writeStream.outputMode("append")
      .format("memory").queryName("t_sdedup")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val keys = spark.table("t_sdedup").select("doc_key")
      .collect().map(_.getString(0)).sorted
    assert(keys.toSeq == Seq("a", "b", "c")) // second 'a' deduped
  }

  test("streamingNearDedup: reordered near-dup collapses across batches; " +
      "== batch fingerprint dedup") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("graft-sndedup")
      .toString
    // batch 2's doc 2 is a token-REORDERED copy of doc 1 (different raw
    // bytes → exact-key dedup would keep it; same token set → same
    // SimHash → near-dedup drops it); doc 3 is genuinely different
    val batches = Seq(
      Seq((1L, "the quick brown fox jumps high", t("2024-01-01 10:00:00"))),
      Seq((2L, "jumps fox brown quick the high", t("2024-01-01 10:05:00")),
        (3L, "completely different text entirely", t("2024-01-01 10:06:00"))))
    batches.foreach { b =>
      b.toDF("doc_id", "text", "ts").coalesce(1)
        .write.mode("append").parquet(dir)
      Thread.sleep(1100)
    }
    val src = spark.readStream
      .schema("doc_id LONG, text STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamingOps.streamingNearDedup(src, "text")
      .writeStream.outputMode("append")
      .format("memory").queryName("t_sneardedup")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val ids = spark.table("t_sneardedup").select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 3L)) // reordered copy deduped, new doc kept
    // batch twin: first-arrival per fingerprint over the full frame
    val batchIds = batches.flatten.toDF("doc_id", "text", "ts")
      .withColumn("simhash", graft.ext.Dedup.simhash32(col("text")))
      .groupBy("simhash").agg(min("doc_id").as("doc_id"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(batchIds == ids)
  }

  test("streaming session windows == batch session windows") {
    val batch = StreamingOps.sessionCounts(Tables.events(spark, sf0001))
      .collect().toSet
    val streamed = StreamingOps.runStreaming(spark, sf0001,
      StreamingOps.sessionCounts, "t_session").collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("stream-static enrichment join == batch (broadcast dim per batch)") {
    import org.apache.spark.sql.functions._
    val dim = Tables.customer(spark, sf0001)
      .select("c_custkey", "c_mktsegment")
    def agg(ev: org.apache.spark.sql.DataFrame) =
      StreamingOps.enrichWithDim(ev, dim, "user_id", "c_custkey")
        .groupBy(col("event_type"),
          coalesce(col("c_mktsegment"), lit("unmatched")).as("segment"))
        .count()
    val batch = agg(Tables.events(spark, sf0001)).collect().toSet
    val streamed = StreamingOps.runStreaming(spark, sf0001,
      agg, "t_enrich").collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("windowed exact distinct users: chained stateful dedup->count " +
    "stream == batch on watermark-closed windows") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf0001)
    val batch = StreamingOps.windowedDistinctUsers(ev, streaming = false)
      .collect().toSet
    val streamed = StreamingOps.runStreaming(spark, sf0001,
      StreamingOps.windowedDistinctUsers(_, streaming = true),
      "t_wdistinct", outputMode = "append").collect().toSet
    // append mode only emits windows the final watermark (max ts − 1 h)
    // has passed; everything emitted must match batch exactly, and all
    // batch windows closed at that watermark must have been emitted
    val maxTs = ev.agg(max(col("ts"))).collect()(0)
      .getAs[java.time.LocalDateTime](0)
    val horizon = maxTs.minusMinutes(60 + 10) // delay + window length
    assert(streamed.subsetOf(batch))
    val closed = batch.filter(
      _.getAs[java.time.LocalDateTime](0).isBefore(horizon))
    assert(closed.nonEmpty && closed.subsetOf(streamed))
  }

  test("stream-stream interval self-join == batch (append mode, " +
    "watermark-bounded state)") {
    import org.apache.spark.sql.functions._
    def pairs(ev: org.apache.spark.sql.DataFrame) =
      StreamingOps.errorFollowUps(ev, 30)
        .select("err_id", "err_user", "view_ts")
    val batch = pairs(Tables.events(spark, sf0001)).collect().toSet
    val streamed = StreamingOps.runStreaming(spark, sf0001,
      pairs, "t_ss_join", outputMode = "append").collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming running stats == batch == folded mergeable partials " +
      "(q216's maintenance loop, executed by the engine's state store)") {
    import org.apache.spark.sql.functions.col
    val ev = Tables.events(spark, sf0001)
    val batch = StreamingOps.runningStats(ev).collect().toSet
    val streamed = StreamingOps.runStreaming(spark, sf0001,
      StreamingOps.runningStats, "t_rstats").collect().toSet
    assert(streamed == batch)
    // and both equal the explicit partial-merge view of the same corpus
    val folded = graft.ext.PipelineOps.finalizeStats(
      graft.ext.PipelineOps.mergePartials(Seq(
        graft.ext.PipelineOps.statPartials(
          ev.filter(col("event_id") % 2 === 0), "event_type", "value"),
        graft.ext.PipelineOps.statPartials(
          ev.filter(col("event_id") % 2 === 1), "event_type", "value")),
        "event_type"), "event_type").collect().toSet
    assert(folded == batch)
    assert(batch.nonEmpty)
  }

  test("COMPOSED streaming lifecycle (round-12 item 4): ONE scenario " +
    "drives arriving docs through flags -> cluster assignment -> " +
    "streamed upsert deltas folded by upsertPostingsIndex -> a " +
    "streamed takedown folded by retractPostingsIndex, and the final " +
    "index equals the batch chain on the same inputs and the fresh " +
    "rebuild over the retained docs (withheld-tail contract stated " +
    "per level)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
    val corpus = docs.filter(col("doc_id") % 5 =!= 3)
    val arriving = docs.filter(col("doc_id") % 5 === 3)
    val maxId = docs.agg(max(col("doc_id"))).collect()(0).getLong(0)
    // ---- persisted corpus state the stream runs against: text index
    // + cluster table (the flags/assignment probe side), fingerprint
    // postings index (the maintained state) ----
    val shIndex = graft.ext.Dedup.corpusShingleIndex(corpus, "doc_id",
      "text", k = 3, maxDf = 100).localCheckpoint(eager = true)
    val clusters0 = graft.ext.Dedup.dupClusters(
      graft.ext.Dedup.jaccardPairs(corpus, "doc_id", "text", k = 3,
        threshold = 0.1, maxDf = 100).select("id_a", "id_b"),
      corpus.select("doc_id"), "doc_id").localCheckpoint(eager = true)
    val corpusFps = graft.ext.Multimodal.blockhashFingerprints(
        graft.ext.Multimodal.mediaTable(corpus), "doc_id", blocks = 32)
      .localCheckpoint(eager = true)
    val idx0 = graft.ext.Dedup.corpusFingerprintIndex(corpusFps,
      bits = 32, slices = 4)._1.localCheckpoint(eager = true)
    // ---- level 1, FLAGS (one windowed agg => the max-event-time
    // doc's window may withhold): stream == batch on closed docs ----
    val batchFlags = graft.ext.Dedup.incrementalFlags(arriving, shIndex,
        "doc_id", "text", k = 3, threshold = 0.1, maxDf = 100)
      .collect().toSet
    val streamedFlags = StreamingOps.runStreamingDocs(spark, sf0001,
      s => StreamingOps.streamingIncrementalFlags(
        s.filter(col("doc_id") % 5 === 3), shIndex,
        k = 3, threshold = 0.1, maxDf = 100),
      "t_life_flags").collect().toSet
    def flagDoc(r: org.apache.spark.sql.Row): Long = {
      val (a, b) = (r.getLong(0), r.getLong(1))
      if (a % 5 == 3) a else b
    }
    assert(streamedFlags.subsetOf(batchFlags))
    val closedFlags = batchFlags.filter(flagDoc(_) < maxId - 1)
    assert(closedFlags.nonEmpty && closedFlags.subsetOf(streamedFlags))
    // ---- level 2, ASSIGNMENT (window-of-window => TWO trailing
    // windows may withhold): stream == batch on closed docs ----
    val batchAssign = graft.ext.Dedup.assignClusters(arriving, shIndex,
        clusters0, "doc_id", "text", k = 3, threshold = 0.1,
        maxDf = 100)
      .as[(Long, Long)].collect().toMap
    val streamedAssign = StreamingOps.runStreamingDocs(spark, sf0001,
      s => StreamingOps.streamingAssignClusters(
        s.filter(col("doc_id") % 5 === 3), shIndex, clusters0,
        k = 3, threshold = 0.1, maxDf = 100),
      "t_life_assign").as[(Long, Long)].collect().toMap
    assert(streamedAssign.toSet.subsetOf(batchAssign.toSet))
    val closedIds = batchAssign.keySet.filter(_ < maxId - 1)
    assert(closedIds.nonEmpty && closedIds.forall(id =>
      streamedAssign.get(id).contains(batchAssign(id))))
    // ---- level 3, UPSERT DELTAS (stateless map-only feed => NO
    // withheld tail) folded into the maintained index ----
    val upsertFeed = StreamingOps.runStreamingDocs(spark, sf0001,
      s => StreamingOps.streamingUpsertPostings(
        s.filter(col("doc_id") % 5 === 3), bits = 32, slices = 4),
      "t_life_upsert").localCheckpoint(eager = true)
    val idx1 = graft.ext.Dedup.upsertPostingsIndex(idx0, upsertFeed,
      Seq("sl", "sv")).localCheckpoint(eager = true)
    // ---- level 4, TAKEDOWN (stateless stream-static join => NO
    // withheld tail): deletion ids arrive as a stream, their deltas
    // derive from the post-upsert fingerprint table, and the
    // retraction folds into the upserted index ----
    val fps1 = corpusFps.unionByName(
        graft.ext.Multimodal.blockhashFingerprints(
          graft.ext.Multimodal.mediaTable(arriving), "doc_id",
          blocks = 32))
      .localCheckpoint(eager = true)
    val takedownFeed = StreamingOps.runStreamingDocs(spark, sf0001,
      s => StreamingOps.streamingRetractPostings(
        s.filter(col("doc_id") % 7 === 2)
          .select(col("doc_id").as("pid")),
        fps1, bits = 32, slices = 4),
      "t_life_takedown").localCheckpoint(eager = true)
    // ---- final state: the streamed fold equals the batch chain
    // (q251 upsert then q252 takedown over batch-derived postings) AND
    // the fresh
    // rebuild over the retained docs — the whole streamed lifecycle
    // left exactly the state the batch lifecycle leaves ----
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("sl", "sv", "cpids")
        .as[(Int, Long, Seq[Long])].collect().toSet
    val batchChain = graft.ext.Dedup.retractPostingsIndex(
      graft.ext.Dedup.upsertPostingsIndex(idx0,
        graft.ext.Dedup.fingerprintPostings(
          fps1.join(arriving.select(col("doc_id").as("pid")),
            Seq("pid"), "left_semi"), bits = 32, slices = 4),
        Seq("sl", "sv")),
      graft.ext.Dedup.fingerprintPostings(
        fps1.filter(col("pid") % 7 === 2), bits = 32, slices = 4),
      Seq("sl", "sv"))
    val finalState = rows(graft.ext.Dedup.retractPostingsIndex(idx1,
      takedownFeed, Seq("sl", "sv")))
    assert(finalState == rows(batchChain))
    val retainedFps = graft.ext.Multimodal.blockhashFingerprints(
      graft.ext.Multimodal.mediaTable(
        docs.filter(col("doc_id") % 7 =!= 2)), "doc_id", blocks = 32)
    assert(finalState == rows(graft.ext.Dedup.corpusFingerprintIndex(
      retainedFps, bits = 32, slices = 4)._1))
    assert(finalState.nonEmpty && takedownFeed.count() > 0)
  }

  test("COMPOSED streamed CLUSTER lifecycle (round-13 item 2): " +
    "streamed assignment-delta pairs fold through upsertClusters, a " +
    "streamed takedown folds through retractClusters, and the final " +
    "table == the batch chain == the fresh rebuild over the retained " +
    "pair subgraph") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
    val corpus = docs.filter(col("doc_id") % 5 =!= 3)
    val arriving = docs.filter(col("doc_id") % 5 === 3)
    // ---- persisted corpus state: shingle index (the stream's probe
    // side), pair table, and the cluster table (the maintained state) ----
    val shIndex = graft.ext.Dedup.corpusShingleIndex(corpus, "doc_id",
      "text", k = 3, maxDf = 100).localCheckpoint(eager = true)
    val corpusPairs = graft.ext.Dedup.jaccardPairs(corpus, "doc_id",
        "text", k = 3, threshold = 0.1, maxDf = 100)
      .select("id_a", "id_b").localCheckpoint(eager = true)
    val clusters0 = graft.ext.Dedup.dupClusters(corpusPairs,
      corpus.select("doc_id"), "doc_id").localCheckpoint(eager = true)
    // ---- streamed ARRIVALS: the flags pipeline's (id_a, id_b) pairs
    // are exactly the delta edges the cluster upsert folds in (one
    // windowed agg => the trailing doc's window may withhold; whatever
    // DID emit is the delta both the streamed and the batch chain
    // consume, so the three-way equality is exact) ----
    val streamedPairs = StreamingOps.runStreamingDocs(spark, sf0001,
      s => StreamingOps.streamingIncrementalFlags(
        s.filter(col("doc_id") % 5 === 3), shIndex,
        k = 3, threshold = 0.1, maxDf = 100),
      "t_clife_pairs").select("id_a", "id_b")
      .localCheckpoint(eager = true)
    assert(streamedPairs.count() > 0)
    // the lifecycle chains' mid-chain form (ordered = false, as in
    // q248/q260); the batch chain below keeps the ordered default
    val clusters1 = graft.ext.Dedup.upsertClusters(clusters0,
        streamedPairs, arriving.select("doc_id"), "doc_id",
        ordered = false)
      .localCheckpoint(eager = true)
    // ---- streamed TAKEDOWN ids (stateless map-only feed => NO
    // withheld tail) retract from the upserted table; the persisted
    // pair table (corpus ∪ streamed deltas) is the source of truth the
    // re-cluster runs over ----
    val delIds = StreamingOps.runStreamingDocs(spark, sf0001,
      s => s.filter(col("doc_id") % 7 === 2).select("doc_id"),
      "t_clife_del").localCheckpoint(eager = true)
    assert(delIds.count() > 0)
    val pairTable = corpusPairs.unionByName(streamedPairs)
      .localCheckpoint(eager = true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("cluster"))
        .as[(Long, Long)].collect().toSet
    val streamed = rows(graft.ext.Dedup.retractClusters(clusters1,
      pairTable, delIds, "doc_id", ordered = false))
    // ---- final state: the streamed fold equals the batch chain
    // (q243-style upsert then q246-style retract, takedown ids derived
    // in batch) and the fresh rebuild over the retained pair
    // subgraph ----
    val batchDel = docs.filter(col("doc_id") % 7 === 2).select("doc_id")
    assert(delIds.as[Long].collect().toSet ==
      batchDel.as[Long].collect().toSet)
    val batchChain = rows(graft.ext.Dedup.retractClusters(
      graft.ext.Dedup.upsertClusters(clusters0, streamedPairs,
        arriving.select("doc_id"), "doc_id"),
      pairTable, batchDel, "doc_id"))
    assert(streamed == batchChain)
    val retained = docs.filter(col("doc_id") % 7 =!= 2)
      .select("doc_id").localCheckpoint(eager = true)
    val retainedPairs = pairTable
      .join(retained.withColumnRenamed("doc_id", "id_a"), Seq("id_a"),
        "left_semi")
      .join(retained.withColumnRenamed("doc_id", "id_b"), Seq("id_b"),
        "left_semi")
    val fresh = rows(graft.ext.Dedup.dupClusters(retainedPairs,
      retained, "doc_id"))
    assert(streamed == fresh)
    assert(streamed.nonEmpty)
  }
}

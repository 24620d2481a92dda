package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

/** Developer profiler (no registered query, Bench or perfbench runs it).
  * The first program argument picks the mode; both run on the fixture
  * directory in SPARK_GRAFT_SF_DIR, which must be set:
  *
  *  - `plans [name ...]`: `explain("formatted")` physical plans on
  *    `local[4]` with 4 shuffle partitions, run at sf0.001 (plan shape is
  *    SF-invariant). With no names it writes the [[Headline]] table to
  *    docs/PLANS.md, the plan-review artifact: every plan there was
  *    iterated until it is the plan we'd want at 100 TB (pushed filters,
  *    pruned scans, broadcast dims, single-shuffle aggs). Named queries
  *    print their sections to stdout instead.
  *  - `split [name ...]`: one JSON line per query ([[split]]) dividing
  *    its wall time into construction, Catalyst and execution, in
  *    Bench's order and with Bench's per-query cleanup, on
  *    `local[SPARK_GRAFT_CPUS]` (default 4). No names means every
  *    registered query but q58, the MLlib comparison point Bench also
  *    skips.
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=.../sf0.001 sbt "runMain graft.Profile plans"
  * SPARK_GRAFT_SF_DIR=.../sf0.1 \
  *   sbt "runMain graft.Profile split q01_flagship_category_topk"
  * }}} */
object Profile {
  type Q = (SparkSession, String) => org.apache.spark.sql.DataFrame

  def main(args: Array[String]): Unit = {
    val names = args.toSeq.drop(1)
    val sfDir = sys.env.get("SPARK_GRAFT_SF_DIR")
    (args.headOption, sfDir) match {
      case (Some("plans"), Some(dir)) =>
        val spark = session(4)
        if (names.nonEmpty) print(plans(spark, dir, names))
        else {
          Files.createDirectories(Paths.get("docs"))
          Files.writeString(Paths.get("docs/PLANS.md"),
            "# Physical plans (generated by graft.Profile plans at " +
              s"${Paths.get(dir).getFileName})\n\nRegenerate: " +
              "`SPARK_GRAFT_SF_DIR=.../sf0.001 sbt \"runMain " +
              "graft.Profile plans\"`. Review points are asserted in " +
              "PlanSpec; this file is for human inspection.\n" +
              plans(spark, dir, Headline.map(_._1)))
          println(s"[profile] wrote docs/PLANS.md (${Headline.size} plans)")
        }
        spark.stop()
      case (Some("split"), Some(dir)) =>
        val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
        val unknown = names.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
        val picked = SparkEntry.orderedQueries.filter { case (name, _) =>
          if (names.isEmpty) name != "q58_minhash_ml" else names.contains(name)
        }
        split(spark, dir, picked)(println)
        spark.stop()
      case _ =>
        System.err.println("usage: SPARK_GRAFT_SF_DIR=<fixture dir> " +
          "graft.Profile plans [query ...] | split [query ...]")
        sys.exit(2)
    }
  }

  private def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** One docs/PLANS.md section per name: the heading carries the
    * [[Headline]] note when the query has one. */
  def plans(spark: SparkSession, dir: String, names: Seq[String]): String = {
    val why = Headline.toMap
    names.map { name =>
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.explainString(FormattedMode)
      val heading = why.get(name).fold(name)(w => s"$name — $w")
      s"\n## $heading\n\n```\n$plan```\n"
    }.mkString
  }

  /** For each query, `emit` one JSON line:
    *  - `construct_s`, `construct_jobs`: the `fn(spark, dir)` call,
    *    including the jobs it runs eagerly (schema inference, scratch
    *    builds, collects, checkpoints);
    *  - `catalyst_s`: analysis, optimization and physical planning,
    *    forced through `executedPlan`;
    *  - `exec_s`, `jobs`, `stages`, `tasks`: the noop write and every
    *    job scheduled after construction.
    * The listener bus is drained before the construction count is read,
    * so no construction job is counted as an execution job. A query
    * that throws emits `{"query":…,"error":…}`. After each query the
    * cache and every persisted RDD are released, as Bench does. */
  def split(spark: SparkSession, dir: String, queries: Seq[(String, Q)])(
      emit: String => Unit): Unit = {
    val jobs, stages, tasks = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        stages.addAndGet(j.stageInfos.size)
        tasks.addAndGet(j.stageInfos.map(_.numTasks.toLong).sum)
      }
    }
    def drainAndReset(): Long = {
      org.apache.spark.sql.graft.shim.drainListenerBus(spark)
      stages.set(0); tasks.set(0)
      jobs.getAndSet(0)
    }
    def secs(from: Long, to: Long): String = String.format(
      java.util.Locale.ROOT, "%.3f", Double.box((to - from) / 1e9))
    spark.sparkContext.addSparkListener(listener)
    try queries.foreach { case (name, fn) =>
      val line = try {
        drainAndReset()
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        val t1 = System.nanoTime()
        val constructJobs = drainAndReset()
        val t2 = System.nanoTime()
        df.queryExecution.executedPlan
        val t3 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t4 = System.nanoTime()
        org.apache.spark.sql.graft.shim.drainListenerBus(spark)
        s"""{"query":"$name","construct_s":${secs(t0, t1)},""" +
          s""""construct_jobs":$constructJobs,"catalyst_s":${secs(t2, t3)},""" +
          s""""exec_s":${secs(t3, t4)},"jobs":${jobs.get},""" +
          s""""stages":${stages.get},"tasks":${tasks.get}}"""
      } catch { case e: Throwable =>
        val msg = jsonString(String.valueOf(e.getMessage))
        s"""{"query":"$name","error":$msg}"""
      } finally {
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
      }
      emit(line)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def jsonString(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  /** The headline queries of docs/PLANS.md, each with what its plan
    * should show. */
  val Headline: Seq[(String, String)] = Seq(
    "q01_flagship_category_topk" ->
      "broadcast dim join + CASE map + partial agg + TakeOrdered",
    "q16_join_revenue_per_nation" ->
      "multi-way join: facts shuffle on keys, dims broadcast",
    "q17_countencode_left_join" ->
      "count-encode: broadcast left join, no fact shuffle",
    "q31_jaccard_pairs" ->
      ("grouped inverted index: one groupBy(sh) shuffle, map-side " +
        "ordered-pair generation, no self-join"),
    "q33_ann_bruteforce" ->
      "broadcast query side, codegen cosine, windowed top-k",
    "q50_asof_join" ->
      "custom AsOfJoinExec: one exchange + sort per side",
    "q15_topk_per_group_window" ->
      "two-level agg + per-group row_number window",
    "q60_cosine_neardup_lsh" ->
      ("multi-table LSH blocking: native lsh_bucket kernel, bucket-" +
        "equality self-join, map-side threshold filter, scalar-only " +
        "HashAggregate pair dedupe"),
    "q29_fingerprints" ->
      ("native one-pass simhash + rolling-hash kernels inside one " +
        "WholeStageCodegen projection"),
    "q76_csv_scan" ->
      ("CSV scan with explicit schema: header skip, stray-header filter, " +
        "try-casts and 12h timestamp parse all inside the scan stage"),
    "q83_band_join" ->
      ("non-equi interval join bucketed to a broadcast equi-join: no " +
        "nested loop, two-level agg with no distinct Expand"),
    "q80_quality_rules" ->
      "rule flags as one scan-stage projection, no shuffle",
    "q90_heavy_hitters" ->
      ("Misra-Gries prefilter: recount pass carries an isin literal " +
        "filter map-side (InSet), only candidate tokens shuffle"),
    "q92_partitioned_sink" ->
      ("partition-pruned read-back: source=src3 is a PartitionFilter " +
        "(one directory listed), not a data filter"),
    "q95_stream_stream_join" ->
      ("interval self-join: equi-key hash join carries the shuffle, " +
        "event-time bound as post-join filter"),
    "q96_chunk_tokens" ->
      "chunking: projection + explode only, no shuffle before the sort",
    "q98_group_topk_operator" ->
      ("custom operator #2: GroupTopKPartial (map-side bounded heaps) " +
        "→ one hash exchange → GroupTopKFinal; no Window, no full sort"),
    "q101_prefix_jaccard" ->
      ("exact set-similarity join via rarest-first prefix filtering: " +
        "every join an equi-join, candidates from low-df prefix grams " +
        "only, array_intersect verify against localCheckpointed sets"),
    "q105_sessionize" ->
      ("gap sessionization: lag flag, running sum, and the session " +
        "aggregate share ONE exchange on the user key"),
    "q110_budget_select" ->
      ("token-budget quota: ranking window + running sum + summary " +
        "agg on a single source-key shuffle"),
    "q117_sparse_dot_topk" ->
      ("sparse TF-IDF similarity: df-capped inverted-index pair join, " +
        "decimal partial dot products, TakeOrdered top-k"),
    "q121_vocab_encode" ->
      ("vocab encoding: induced vocab broadcast back over the token " +
        "stream — corpus never shuffles on the token"),
    "q123_expectations" ->
      ("expectations report: N row-level checks share ONE aggregate " +
        "over one scan; FK orphans as broadcast anti-joins"),
    "q125_pagerank" ->
      ("relational PageRank over the SHARED pair scratch table (plan of " +
        "the FINAL round over checkpointed state): ranks join edges " +
        "once, destination hash-agg, |V|-row frames"),
    "q126_pagerank_directed" ->
      ("directed PageRank with dangling mass (final round): ranks join " +
        "edges + dest agg, 1-row dangling aggregate broadcast via " +
        "crossJoin, left join keeps zero-inflow nodes"),
    "q127_priority_sample" ->
      ("deterministic weighted sampling: scan-speed priority " +
        "projection, GroupTopK bounded heaps (k+1), rank/threshold " +
        "window only over the per-group survivors"),
    "q128_unigram_nll" ->
      ("unigram-LM scoring: token hash-agg builds the model, model " +
        "broadcasts back over the token stream (no token shuffle), " +
        "per-doc hash-agg"),
    "q133_fuzzy_join" ->
      ("exact edit-distance join: deletion-variant explode, variant-key " +
        "equi-join (no cross join), pair-key dedupe agg, scalar " +
        "levenshtein verify"),
    "q134_concurrency" ->
      ("distributed prefix sum: boundary hash-agg, RANGE exchange, " +
        "per-partition window (partitioned by pid — no single-" +
        "partition global window), broadcast offset join"),
    "q139_repeated_spans" ->
      ("repeated-span coverage: 8-byte gram hashes shuffle (never " +
        "strings), membership semi-join is LINEAR in occurrences — " +
        "no pair generation, no df-cap needed"),
    "q141_pareto_frontier" ->
      ("skyline WITHOUT the O(n²) self-join: per-x max agg, bucketed " +
        "local running-max prune, tiny global pass, broadcast " +
        "semi-join back onto the relation"),
    "q142_sorted_neighborhood" ->
      ("SNM linkage: both leads share ONE block-partitioned window " +
        "exchange; candidates linear (n·(w−1)), levenshtein only on " +
        "window neighbors"),
    "q143_pmi_pairs" ->
      ("PMI: broadcast top-V vocab bounds the blowup; pair generation " +
        "map-side from per-doc sorted hit arrays after the one " +
        "doc-keyed shuffle — no corpus self-join"),
    "q147_dim_covariance" ->
      ("covariance in one pass: pseudo-dimension outer-product " +
        "explode, (d+1)(d+2)/2-key hash-agg with map-side partials, " +
        "broadcast marginal assembly"),
    "q148_triangle_census" ->
      ("triangles: degree orientation bounds wedge fan-out by " +
        "O(√|E|) per pivot (hub-proof); closing edge check is a " +
        "leftsemi hash join; wedge total closed-form from degrees"),
    "q150_quantile_norm" ->
      ("quantile normalization: global distribution compressed to a " +
        "101-point broadcast exact-percentile grid; per-row cost is " +
        "one group window + a broadcast equi-join — no global sort"),
    "q153_cusum_drift" ->
      ("CUSUM: non-associative recurrence as S − min(0, running-min " +
        "S) — two windowed aggregates on ONE key-partitioned sort, " +
        "no sequential scan"),
    "q158_temporal_join" ->
      ("point-in-time join onto SCD2 history through the custom AsOf " +
        "operator: one exchange + sort per side, no interval cross " +
        "join"),
    "q161_bucketed_join" ->
      ("bucketed SMJ: both scans Bucketed: true, NO exchange on the " +
        "join key — the pay-layout-once pattern"),
    "q162_rolling_actives" ->
      ("rolling 7-day distinct: bounded ×7 contribution explode + " +
        "one distinct-count per window day — no self-joins, no " +
        "set-valued windows"),
    "q180_dedup_cascade" ->
      ("dedup cascade: exact→SimHash→MinHash-band greedy funnel; " +
        "each stage one window/agg over the previous stage's " +
        "survivors, band stage bounded by the bucket-min aggregate"),
    "q183_rfm_segments" ->
      ("RFM: three 1-row exact-percentile stat frames BROADCAST onto " +
        "one customer aggregate — the fact side never reshuffles for " +
        "the score join"),
    "q184_rolling_anomaly" ->
      ("rolling z-score: trailing exact-decimal moment sums on ONE " +
        "event-type exchange after the daily aggregate"),
    "q185_attribution" ->
      ("last-touch attribution through the custom AsOf operator: one " +
        "exchange + sort per side, then a hash-agg on channel"),
    "q202_pc1_scores" ->
      ("PC1 projection: the COMPUTE is shuffle-free — loadings ride " +
        "as an array literal and the dot product folds long micros " +
        "inside the scan projection; the single Exchange is the " +
        "output ORDER BY (range sort of the finished rows, dropped " +
        "entirely when the consumer doesn't need order)"),
    "q203_pareto_skyline" ->
      ("grid-pruned skyline: one broadcast min/max row buckets " +
        "map-side; cell dominance + the exact phase run over " +
        "broadcast frames, never an all-pairs on the data"),
    "q205_psi_drift" ->
      ("PSI: broadcast decile edges make binning map-side; one " +
        "(key, bin) hash-agg, keys×bins finish"),
    "q207_negative_sample" ->
      ("negative sampling: one co-partitioned bucket equi-join, " +
        "never anchor × corpus; per-anchor rank window"),
    "q212_adc_topk" ->
      ("ADC: corpus scanned as scratch CODES ONLY, hash-join " +
        "against the broadcast distance table, decimal-exact " +
        "sum + per-query rank"),
    "q219_cms_join_size" ->
      ("relational CMS: depth-way map-side fan-out, ONE w·d-bounded " +
        "counter hash-agg, re-aggregated to the estimate"),
    "q230_cms_planned_join" ->
      ("CMS-planned join: the synopsis-priced strategy choice " +
        "EXECUTED — at sf0.001 the estimate is under the 500k " +
        "threshold, so the orders side carries an explicit broadcast " +
        "hint and the plan shows BroadcastHashJoin (PlanSpec asserts " +
        "the shuffle branch too: over-threshold leaves NO hint and " +
        "Spark's own sizing rules apply)"),
    "q233_variant_extract" ->
      ("VARIANT extraction: parse_json runs ONCE per row in the scan " +
        "projection and all four typed variant_get paths read that " +
        "same variant value — vs per-path string re-parsing; " +
        "countDistinct is the only Expand"),
    "q235_stateful_totals" ->
      ("batch transformWithState: ONE hash exchange on the grouping " +
        "key into TransformWithStateExec over a per-partition RocksDB " +
        "store — the streaming operator exercised through the batch " +
        "plan (state observable via the statestore reader in " +
        "StreamingSpec, no replay)"),
    "q237_payload_neardup" ->
      ("payload near-dup: native codegen blockhash fingerprint inside " +
        "the scan projection, 4-slice explode → slice-bucket " +
        "equi-join, Hamming bit_count verify map-side BEFORE the " +
        "pair-dedupe aggregate — never |payloads|²"),
    "q59_frame_sample" ->
      ("container-offset frame sampling (round-14 re-anchor): " +
        "wav_data_span locates the data chunk with a no-copy codegen " +
        "span walk, frames substring straight out of the CONTAINER " +
        "(no materialized decoded copy), and the Generate is " +
        "posexplode_OUTER — plain posexplode makes the optimizer " +
        "infer a size(frames)>0 filter below it, where alias " +
        "substitution re-evaluates the whole frames expression per " +
        "element (measured 2× before the fix)"),
    "q238_incremental_dedup" ->
      ("cross-run incremental dedup: batch postings join the corpus " +
        "shingle index on sh (zero-exchange SMJ once the index is " +
        "bucketed); pair generation map-side from df-capped lists; " +
        "the newly-hot correction explodes only ≤-cap lists — corpus " +
        "text is never rescanned"),
    "q241_cdc_dedup" ->
      ("partial-content dedup: native cdc_chunks kernel inside the " +
        "scan projection (one pass per payload), chunk-hash grouped " +
        "inverted index on ONE shuffle, map-side ordered-pair " +
        "generation from df-capped lists — the q31 shape over " +
        "content-defined keys"),
    "q239_fuzzy_join2" ->
      ("FastSS d≤2 fuzzy join: deletion-neighborhood candidate keys " +
        "(≤ L²/2 per string, map-side explode) equi-join + scalar " +
        "levenshtein verify — no cross join anywhere; recall proven " +
        "lossless by the brute-force oracle"),
    "q240_index_upsert" ->
      ("shingle-index upsert: ONE sh-keyed full-outer merge of batch " +
        "postings into the persisted index; the merge is a map-side " +
        "array concat bounded by the df-cap — corpus text never " +
        "rescanned, O(batch) maintenance"),
    "q242_incremental_lsh" ->
      ("incremental LSH dedup: batch band keys equi-join the grouped " +
        "band index (candidates decompose exactly — band keys are " +
        "per-doc-deterministic), exact-Jaccard verify reads persisted " +
        "postings semi-join-pruned to candidate ids; corpus text " +
        "never rescanned, no cartesian"),
    "q243_cluster_upsert" ->
      ("incremental cluster maintenance: the delta contracts to label " +
        "space and pointer jumping runs ONLY there (≤ 2·|new pairs| " +
        "nodes — it enters this plan as a checkpoint scan); the " +
        "persisted cluster table is touched by exactly one relabel " +
        "join against the tiny mapping; corpus pairs never re-read"),
    "q244_streaming_flags" ->
      ("ingestion-time flags (q238's streaming twin, batch plan): doc " +
        "shingles LEFT-join the static index, ONE aggregation per doc " +
        "collects candidates, the sorted-runs projection replaces the " +
        "second aggregation (what keeps the streaming plan " +
        "single-stateful), then one static baseline join"),
    "q245_incremental_embed" ->
      ("incremental embedding dedup: batch hyperplane buckets " +
        "equi-join the persisted bucket index (per-vector-" +
        "deterministic keys ⇒ exact decomposition, the q242 argument " +
        "in vector space); native cosine verify map-side BEFORE the " +
        "pair-dedupe shuffle; corpus embeddings touched only through " +
        "the index"),
    "q246_cluster_retract" ->
      ("cluster retraction (takedown): affected components found by " +
        "one semi-join of the persisted cluster table against the " +
        "deleted ids; only their surviving pair subgraph re-clusters " +
        "(pointer jumping enters as a checkpoint scan); unaffected " +
        "rows pass through an anti-join untouched — deletion cost " +
        "scales with affected components, not the corpus"),
    "q247_index_retract" ->
      ("index retraction (q240's inverse): deleted postings group on " +
        "one O(deleted) shuffle, ONE sh-keyed LEFT join against the " +
        "index (zero-exchange SMJ when bucketed), map-side " +
        "array_except list subtraction — retained corpus text never " +
        "rescanned; hot rows keep NULL lists (conservative " +
        "tombstone asymmetry, oracle-pinned)"),
    "q248_lifecycle" ->
      ("END-TO-END incremental curation: persisted corpus state " +
        "(read from the q238-owned scratch family) → incremental " +
        "pairs + index upsert + cluster upsert → takedown retraction " +
        "of both state tables → survivor report joining final " +
        "clusters AND final index live-counts — every stage the " +
        "proven q238/q240/q243/q246/q247 plan, chained; the output " +
        "hash covers the state handoff itself"),
    "q249_stream_assign" ->
      ("ingestion-time cluster assignment (batch twin): the q244 " +
        "candidate algebra (two relational hash-aggs off the " +
        "persisted index scratch), one equi-join to the persisted " +
        "cluster table, one per-doc min-agg, and a left join back " +
        "to the arriving set (clean docs → own id); the streaming " +
        "plan chains ONE windowed min-agg after the single flags " +
        "window agg — two stateless stream-static joins in between"),
    "q250_incremental_payload" ->
      ("incremental payload dedup: batch blockhash fingerprints " +
        "(native codegen) band into Hamming slices that equi-join " +
        "the persisted slice index — per-payload-deterministic keys " +
        "⇒ exact decomposition, the q242 argument on the multimodal " +
        "modality; bit_count verify reads the persisted fingerprint " +
        "table semi-join-pruned to candidate ids"),
    "q251_fp_upsert" ->
      ("fingerprint-index upsert: batch fingerprints (native " +
        "codegen) explode to (sl, sv, pid) postings, ONE grouped " +
        "delta + ONE full-outer (sl, sv) join with a map-side " +
        "array_union merge — uncapped banded index ⇒ byte-identical " +
        "to the fresh rebuild, corpus payloads never rescanned"),
    "q252_fp_retract" ->
      ("fingerprint-index retraction: deleted docs' slice keys come " +
        "from the PERSISTED fingerprint table (state-only takedown), " +
        "ONE left (sl, sv) join + map-side array_except, emptied " +
        "keys drop — equals the fresh retained-corpus rebuild " +
        "exactly (no df bookkeeping, stronger than q247's pinned " +
        "tombstone asymmetry)"),
    "q253_lsh_upsert" ->
      ("band-index upsert: the q251 generic merge on the MinHash " +
        "modality — batch shingles → signatures → band keys, ONE " +
        "grouped delta + ONE full-outer bk join, map-side " +
        "array_union; corpus text never rescanned"),
    "q254_lsh_retract" ->
      ("band-index retraction, state-only: deleted docs' band keys " +
        "recompute from the PERSISTED postings table (no text " +
        "rescan), ONE left bk join + map-side array_except; equals " +
        "the fresh retained-corpus rebuild exactly"),
    "q132_quantized_ann" ->
      ("quantized-ANN recall (round-10 bound): dequantize ONCE per " +
        "corpus row behind a checkpoint barrier (was once per " +
        "row×query through the broadcast join), both precisions " +
        "scored in ONE corpus scan, both ranking windows + the " +
        "recall aggregate on a SINGLE q_id exchange"),
    "q255_emb_upsert" ->
      ("embedding-index upsert: exploded-row state ⇒ ONE vec_id " +
        "anti-join (batch wins on re-crawled ids) + union of the " +
        "batch's freshly bucketed rows; no set algebra, corpus " +
        "embeddings never rescanned"),
    "q256_emb_retract" ->
      ("embedding-index retraction: ONE vec_id anti-join from the " +
        "takedown id list alone — exploded-row state carries its " +
        "keys, so no band recompute anywhere"),
    "q257_lsh_lifecycle" ->
      ("banded-path lifecycle chain: q242 incremental pairs + q253 " +
        "band upsert + q243 cluster upsert -> q254 retraction " +
        "(deltas from persisted ∪ batch postings) + q246 cluster " +
        "retraction -> survivor report joining BOTH final state " +
        "tables; every stage the individually-pinned plan, all-equi " +
        "throughout"),
    "q258_stream_takedown" ->
      ("takedown feed, batch twin of the STREAMING retraction: ONE " +
        "pid-keyed join against the persisted fingerprint table + " +
        "the fingerprintPostings explode — stateless, so the " +
        "readStream form has NO watermark state at all"),
    "q259_emb_lifecycle" ->
      ("embedding-path lifecycle chain: incremental cosine pairs + " +
        "index anti-join upsert + cluster upsert -> anti-join " +
        "retraction (state carries its keys) + cluster retraction " +
        "-> survivor report joining BOTH final state tables; " +
        "all-equi throughout"),
    "q260_fp_lifecycle" ->
      ("payload-path lifecycle chain (the 4th modality): " +
        "incremental fingerprint pairs + slice-index upsert + " +
        "cluster upsert -> retraction with deltas from persisted " +
        "∪ batch fingerprints (payloads never rescanned) + cluster " +
        "retraction -> survivor report; all-equi throughout"),
    "q261_stream_upsert_feed" ->
      ("upsert-delta feed, batch twin of the STREAMING upsert verb: " +
        "native codegen blockhash + the fingerprintPostings explode " +
        "inside ONE scan projection — map-only, no state read, no " +
        "join; the only exchange is the output ORDER BY, so the " +
        "readStream form is stateless end to end"))
}

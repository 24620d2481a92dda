package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine._
import graft.engine.Aggregates._
import graft.ext._

/** [[ExtQueries]] query definitions q222-q261 — split out of the
  * monolith (round-12 verdict item 6), zero behavior change;
  * the registry stays in [[ExtQueries]].
  */
private[graft] trait ExtQueriesQ222 extends ExtQueriesShared {
  /** q222 — matryoshka truncation audit: Pearson r and mean absolute
    * error between full-dimension cosine and FIRST-16-DIMS cosine over
    * every (query, candidate) pair — the "can we serve on a prefix of
    * the embedding" measurement (MRL-style truncation buys 4× scan
    * and memory cuts IF similarity survives; this query measures the
    * if instead of assuming it). Same integer-nanos determinism
    * discipline as q221; 9-dp cosines convert exactly, |Δ| is an
    * integer, corr is scale-invariant. */
  private[graft] val q222: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 5)
    val pairs = emb.join(broadcast(q.select(col("vec_id").as("q_id"),
        col("embedding").as("q_emb"))),
        col("vec_id") =!= col("q_id"))
      .select(
        round(SimSearch.cosine(col("q_emb"), col("embedding")), 9)
          .as("cf"),
        round(SimSearch.cosine(slice(col("q_emb"), 1, 16),
          slice(col("embedding"), 1, 16)), 9).as("ct"))
      .filter(col("cf").isNotNull && col("ct").isNotNull)
      .select((col("cf") * lit(1e9)).cast("decimal(18,0)").as("ix"),
        (col("ct") * lit(1e9)).cast("decimal(18,0)").as("iy"))
    val n = count(lit(1)).cast("double")
    val sx = sum(col("ix")).cast("double")
    val sy = sum(col("iy")).cast("double")
    val sxy = sum(col("ix") * col("iy")).cast("double")
    val sxx = sum(col("ix") * col("ix")).cast("double")
    val syy = sum(col("iy") * col("iy")).cast("double")
    pairs.agg(count(lit(1)).as("n_pairs"),
      round((n * sxy - sx * sy) /
        (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
        .as("corr"),
      round(sum(abs(col("ix") - col("iy"))).cast("double") / n / 1e9,
        6).as("mae"))
  }

  /** q223 — leave-one-out source impact ([[PipelineOps.looImpact]]):
    * per-source Δ of the corpus mean char length when the source is
    * removed — first-order data valuation, closed-form off ONE group
    * agg via the partial-merge law (no second scan, no resampling). */
  private[graft] val q223: Q = (s, d) =>
    PipelineOps.looImpact(Tables.documents(s, d), "source", "n_chars")

  /** q224 — dup-propensity lift curve ([[PipelineOps.liftCurve]]):
    * does document LENGTH rank duplicate membership? n_chars deciles
    * vs is-in-multi-member-cluster (shared scratch) — lift ≈ 1
    * everywhere means length is noise for dedup prioritization; a
    * sloped curve justifies length-first scheduling. Shared-scratch
    * consumer. */
  private[graft] val q224: Q = (s, d) => {
    val cl = sharedClusters(s, d)
    val sizes = cl.groupBy("cluster").agg(count(lit(1)).as("csz"))
    val lab = cl.join(sizes, "cluster")
      .select(col("doc_id"), (col("csz") > 1).cast("int").as("is_dup"))
    PipelineOps.liftCurve(
      Tables.documents(s, d).join(lab, "doc_id"), "n_chars", "is_dup")
  }

  /** q225 — embedding-norm health audit: ‖v‖ distribution through the
    * robust MAD-outlier machinery (q146's contract, applied to vector
    * norms) — degenerate near-zero vectors and exploded norms are the
    * two embedding-pipeline failure modes a mean/σ screen misses under
    * contamination; the median/MAD pair doesn't. */
  private[graft] val q225: Q = (s, d) =>
    madOutliers(Tables.embeddings(s, d)
      .select(lit("all").as("g"),
        round(sqrt(SimSearch.dot(col("embedding"), col("embedding"))),
          9).as("nrm")),
      "g", "nrm")

  /** q226 — multimodal payload dedup report: exact duplicate groups on
    * the opaque BINARY payload column per media type — dedup extended
    * into the multimodal column itself (byte-identical re-encodes are
    * the cheapest 100 TB win before any perceptual hashing); one
    * (media_type, payload) hash-agg, then a per-type collapse. Scale
    * note: grouping on raw payloads is exact but ships the bytes
    * through the exchange — at 100 TB the first grouping key is a
    * 128-bit content hash (collision-free in practice) with payloads
    * left in place; the relational shape is identical. */
  private[graft] val q226: Q = (s, d) => {
    val media = Multimodal.mediaTable(Tables.documents(s, d))
    media.groupBy(col("media_type"), col("payload"))
      .agg(count(lit(1)).as("c"))
      .groupBy("media_type")
      .agg(sum(col("c")).as("n_payloads"),
        count(lit(1)).as("n_distinct"),
        (sum(col("c")) - count(lit(1))).as("n_dup_rows"),
        max(col("c")).as("max_copies"))
      .orderBy("media_type")
  }

  /** q227 — duplication accumulation curve: cumulative and MARGINAL
    * exact-dup rates as the corpus grows in id order, at id-decile
    * grid points — the crawl-exhaustion signal (a rising marginal
    * rate means new ingestion increasingly re-fetches what the corpus
    * already holds; the dup-rate complement of q199's vocabulary
    * growth). No global row_number and no corpus-sized CDF: the grid
    * is the EQUI-WIDTH id decile off one broadcast min/max row (ids
    * are the ingestion order, so value deciles ARE the growth axis),
    * bucketing is exact integer arithmetic map-side, and cumulation
    * is a window over the ≤10 bucket rows. */
  private[graft] val q227: Q = (s, d) => {
    val keyed = Tables.documents(s, d).select(col("doc_id").as("id"),
      TextOps.normalizeText(col("text")).as("__k"))
    val gids = keyed.groupBy("__k").agg(min(col("id")).as("gid"))
    val dup = keyed.join(gids, Seq("__k"))
      .select(col("id"), (col("id") > col("gid")).cast("int").as("dup"))
    val span = dup.agg(min(col("id")).as("mn"), max(col("id")).as("mx"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("decile")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0) // ≤ 10 bucket rows — bounded window
    dup.crossJoin(broadcast(span))
      // ((id−mn)·10) div (mx−mn+1) ∈ [0,9] by construction — exact
      // long arithmetic, identical in both engines
      .withColumn("decile",
        expr("((id - mn) * 10) div (mx - mn + 1)").cast("int"))
      .groupBy("decile")
      .agg(count(lit(1)).as("nb"), sum(col("dup")).as("db"))
      .withColumn("n_docs", sum(col("nb")).over(w))
      .withColumn("n_dups", sum(col("db")).over(w))
      .select(col("decile"), col("n_docs"), col("n_dups"),
        round(col("n_dups").cast("double") / col("n_docs"), 6)
          .as("cum_dup_rate"),
        round(col("db").cast("double") / col("nb"), 6)
          .as("marginal_dup_rate"))
      .orderBy("decile")
  }

  /** q228 — training-data export manifest: the artifact a downstream
    * trainer actually consumes — per (source, 4096-token shard):
    * document count, token total, boundary-crossing count, and an
    * order-invariant CONTENT digest (the q208 sum-of-row-hashes
    * formula, per shard, over `doc_id|text|source|n_tok`) — so a
    * re-export is verifiable shard-by-shard with two longs instead of
    * a re-diff. Hashing the full row (not just membership keys) means
    * a corrupted or altered text with unchanged ids and token counts
    * FAILS the digest check — the property that makes the manifest a
    * verification artifact rather than a row count. Packing rides
    * q81's concat-then-chunk offsets; the text rejoins the packed
    * frame on doc_id (one co-keyed join — at scale both sides shuffle
    * on the unique id, no broadcast of the corpus). Digests commute,
    * so the manifest is independent of how the export was partitioned
    * or ordered. */
  private[graft] val q228: Q = (s, d) => {
    val packed = PipelineOps.packSequences(Tables.documents(s, d),
      "text", "source", budget = 4096)
    val rowStr = concat_ws("|", col("doc_id").cast("string"),
      col("text"), col("source"), col("n_tok").cast("string"))
    packed.join(Tables.documents(s, d).select("doc_id", "text"),
        "doc_id")
      .groupBy(col("source"), col("first_chunk").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("crosses")).as("n_boundary_docs"),
        (sum(TextOps.scrambledHash(rowStr)
          .cast("decimal(38,0)")) % lit(1000000007L))
          .cast("long").as("digest"))
      .orderBy("source", "shard")
  }

  /** q229 — cross-table CMS join-size ([[Aggregates.cmsJoinSize]]):
    * |events ⋈ orders on user=cust| estimated from the inner product
    * of two independently-built counter frames — how a planner prices
    * a fact-fact join from two KB synopses without touching either
    * fact table; estimate exactly oracle-replicated, never-under
    * guarantee as an output column (the q219 discipline, general
    * form). */
  private[graft] val q229: Q = (s, d) =>
    cmsJoinSize(Tables.events(s, d), "user_id",
      Tables.orders(s, d), "o_custkey")

  /** q230 — CMS-planned join execution ([[cmsPlannedJoin]]): the q229
    * estimator wired into the planner decision it was built for, at
    * the production threshold (500k estimated output rows — under it
    * at sf ≤ 0.01, over it at sf0.1, so both branches run in the
    * round's gates). */
  private[graft] val q230: Q = (s, d) => cmsPlannedJoin(s, d, 500000L)

  /** q231 — BPE merge learning ([[TextOps.bpeMerges]]): six rounds of
    * byte-pair-encoding tokenizer TRAINING over the corpus vocab — the
    * capability the rest of the text family consumes (the merges table
    * in priority order). Frequency-weighted pair counts, deterministic
    * tie-break, left-to-right greedy application; the oracle replays
    * the identical rounds as generated MATERIALIZED CTEs with the
    * run-parity window formulation of the same greedy function. */
  private[graft] val q231: Q = (s, d) => sharedBpe(s, d)._1.orderBy("round")

  /** q232 — BPE compression audit ([[TextOps.bpeCompression]]): the
    * serving side of q231 — after the six learned merges, per-source
    * corpus token/char/BPE-token totals and chars-per-BPE-token (the
    * compression dial a tokenizer budget decision reads). Encoding is
    * vocab-bounded: the corpus contributes one (source, word) count
    * agg that broadcast-joins the vocab-sized final segmentation read
    * from the q231-owned scratch — training runs once, not per
    * consumer. */
  private[graft] val q232: Q = (s, d) =>
    TextOps.bpeCompression(Tables.documents(s, d), "text", "source",
      rounds = 6, segsIn = Some(sharedBpe(s, d)._2))

  /** q233 — VARIANT semi-structured extraction (the Spark-4-native
    * path): props parsed ONCE into the binary VARIANT encoding
    * (`parse_json`), then multiple typed path reads (`variant_get`)
    * and a schema profile (`schema_of_variant`) all come off the SAME
    * parsed column — at 100 TB this replaces q39's per-path
    * `get_json_object` string re-parse (one text parse per path per
    * row) with one parse per row + cheap binary navigation, and the
    * schema column is the drift monitor for semi-structured
    * ingestion. Oracle extracts the same paths with DuckDB's JSON
    * operators; the schema string is pinned as the literal the
    * fixture's uniform `{"k": int}` payloads encode to. */
  private[graft] val q233: Q = (s, d) =>
    // fan out before the parse (round-18; guide §2.5): parse_json is
    // the query's dominant per-row cost and a single-split events scan
    // would run every parse on one core
    graft.engine.Skew.fanOut(
        Tables.events(s, d).select("event_type", "props"))
      .withColumn("v", parse_json(col("props")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(variant_get(col("v"), "$.k", "long")).as("sum_k"),
        min(variant_get(col("v"), "$.k", "int")).as("min_k"),
        max(variant_get(col("v"), "$.k", "int")).as("max_k"),
        countDistinct(variant_get(col("v"), "$.k", "int")).as("n_k"),
        max(schema_of_variant(col("v"))).as("variant_schema"))
      .orderBy("event_type")

  /** q234 — XML sink + source round-trip (Spark 4's BUILT-IN XML
    * datasource — no external package): lineitem columns written as
    * row-tagged XML to scratch, read back with an EXPLICIT schema (the
    * house scan discipline — no sampling inference job at scale),
    * aggregated; the oracle aggregates the original parquet, so the
    * check is that the XML text round-trip is value-exact (longs and
    * strings trivially; doubles because Spark writes the shortest
    * representation that parses back to the same IEEE value). Fourth
    * columnar/text format next to parquet/CSV+JSONL/ORC (q76/q87/q91),
    * completing the S-row source/sink breadth. */
  private[graft] val q234: Q = (s, d) => {
    val tmp = scratch("xml", d)
    // fan out before the sink (round-18; guide §6 "output file
    // sizing/partitioning for anything you write" + §2.5): a
    // single-split scan would serialize the whole XML encode into ONE
    // file on one core, and the read-back — the expensive half of the
    // round-trip — would then parse that one file on one core too.
    // Row order is irrelevant (the query aggregates per returnflag).
    graft.engine.Skew.fanOut(Tables.lineitem(s, d)
        .select("l_orderkey", "l_quantity", "l_returnflag"))
      .write.mode("overwrite").option("rowTag", "row")
      .format("xml").save(tmp)
    s.read.format("xml").option("rowTag", "row")
      .schema("l_orderkey long, l_quantity double, l_returnflag string")
      .load(tmp)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sumExact(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** q235 — transformWithState running totals, BATCH-executed and
    * oracle-checked: Spark 4's new arbitrary-stateful operator
    * ([[graft.streaming.StreamingOps.RunningTotalProcessor]] — typed
    * ValueState, RocksDB-backed) run in batch mode over events, where
    * its one-invocation-per-key emission must equal the plain GROUP BY
    * aggregate. The driver's gate thereby hash-checks the stateful
    * processor itself (StreamingSpec separately proves the SAME
    * processor carries state across streaming micro-batches). Exact
    * long-cents arithmetic keeps emissions independent of row order.
    * The shim coordinator hook works around batch-transformWithState's
    * requirement that a StateStoreCoordinator endpoint exist. */
  private[graft] val q235: Q = (s, d) => {
    org.apache.spark.sql.graft.shim.ensureStateStoreCoordinator(s)
    import s.implicits._
    val evs = Tables.events(s, d)
      .select(col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[graft.streaming.StreamingOps.UserEv]
    graft.streaming.StreamingOps.perUserRunningTotal(evs)
      .toDF()
      .orderBy("user_id")
  }

  /** q236 — SQL PIPE syntax frontend (Spark 4's `|>` operators, SQL
    * standard draft "pipe SQL"): the q45 frontend surface exercised
    * through the composable form — FROM |> WHERE |> EXTEND |>
    * AGGREGATE … GROUP BY |> WHERE (post-agg filter without a
    * subquery) |> ORDER BY. Same Catalyst plan as the nested-SELECT
    * equivalent (the pipe parser desugars before analysis), so the
    * oracle is that plain-SQL equivalent. */
  private[graft] val q236: Q = (s, d) => {
    Tables.events(s, d).createOrReplaceTempView("v_events")
    s.sql(
      """FROM v_events
        ||> WHERE value IS NOT NULL
        ||> EXTEND CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |     user_id % 10 AS cohort
        ||> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n,
        |     SUM(cents) AS total_cents
        |     GROUP BY event_type, cohort
        ||> WHERE n > 5
        ||> ORDER BY event_type, cohort""".stripMargin)
  }

  /** q237 — multimodal payload NEAR-dup pairs
    * ([[Multimodal.blockhashFingerprints]] +
    * [[Dedup.fingerprintNearDupPairs]]): the re-encoded-copy rung of
    * the multimodal dedup ladder — q226 stops at byte-identical
    * payloads; here each opaque payload gets a 32-bit perceptual
    * blockhash (fixed byte-grid block means vs the payload mean, pure
    * integer arithmetic — [[graft.functions.BlockhashUtil]]) and pairs
    * within Hamming ≤ 3 surface through the same pigeonhole-EXACT
    * Hamming bit-slice banding as q77 (4 slices × 8 bits; recall is
    * exact, not probabilistic — MultimodalSpec asserts edge-set
    * equality vs brute force). The oracle rebuilds the fingerprint
    * from hex(payload) byte values and replays the banding
    * relationally — every stage checkable, including the candidate
    * generation. */
  private[graft] val q237: Q = (s, d) => {
    val media = Multimodal.mediaTable(Tables.documents(s, d))
    Dedup.fingerprintNearDupPairs(
      Multimodal.blockhashFingerprints(media, "doc_id", blocks = 32),
      bits = 32, slices = 4, maxHamming = 3)
  }

  /** q238 — CROSS-RUN incremental dedup ([[Dedup.corpusShingleIndex]] +
    * [[Dedup.incrementalJaccardPairs]]): the corpus-vs-new-batch shape
    * every recrawl pipeline runs — the persisted shingle index absorbs
    * a new batch (doc_id % 5 == 3 plays the batch) and yields exactly
    * the batch-incident near-dup pairs of the full corpus∪batch
    * recompute, including the df-cap crossings a batch can trigger,
    * WITHOUT re-scanning corpus text or corpus-corpus pairs. Same
    * parameters as q31 (k=3, jac ≥ 0.1, maxDf=100), so the oracle IS
    * q31's full-recompute pair CTE filtered to batch-incident pairs —
    * the strongest form of the incremental-equals-full assertion.
    * OWNER of the [[sharedExactState]] family (round 10): pays the
    * once-per-crawl state build; the incremental query itself runs off
    * the persisted parquet, the production shape. */
  private[graft] val q238: Q = (s, d) => {
    val (index, _, _) = sharedExactState(s, d)
    Dedup.incrementalJaccardPairs(index,
      Tables.documents(s, d).filter(col("doc_id") % 5 === 3),
      "doc_id", "text", k = 3, threshold = 0.1, maxDf = 100)
  }

  /** q239 — exact fuzzy join at d ≤ 2 ([[Dedup.editDistancePairs]]
    * with maxDist = 2): q133's FastSS deletion-neighborhood blocking
    * widened to deletion-of-deletion keys (the SymSpell symmetric-delete
    * lemma holds for any d) — the coverage setting entity resolution
    * usually needs (double typos, OCR noise). The oracle replays it as
    * the brute-force `levenshtein` theta-join at 2, so the hash-match
    * proves the d = 2 neighborhood is lossless on this corpus exactly
    * as q133 proves d = 1. */
  private[graft] val q239: Q = (s, d) =>
    Dedup.editDistancePairs(Tables.supplier(s, d), "s_suppkey",
      "s_name", maxDist = 2).orderBy("id_a", "id_b")

  /** q240 — shingle-index upsert ([[Dedup.upsertShingleIndex]]): the
    * maintenance half of q238's cross-run story — the persisted index
    * absorbs the batch at O(batch) cost and must equal the FRESH
    * corpus∪batch rebuild row-for-row, including rows the batch pushes
    * over the df-cap (list nulls out exactly where a fresh build would
    * store none). Posting lists serialize to canonical comma-joined
    * strings so the hash compare is representation-independent. The
    * oracle IS the fresh rebuild. */
  private[graft] val q240: Q = (s, d) => {
    val (index, _, _) = sharedExactState(s, d)
    Dedup.upsertShingleIndex(index,
      Tables.documents(s, d).filter(col("doc_id") % 5 === 3),
      "doc_id", "text",
      k = 3, maxDf = 100)
      .select(col("sh"), col("df_c"),
        when(col("cpids").isNotNull,
          concat_ws(",", transform(col("cpids"), _.cast("string"))))
          .as("pids_str"))
      .orderBy("sh")
  }

  /** q241 — partial-content payload dedup over content-defined chunks
    * ([[Multimodal.cdcDedupPairs]], CDC/LBFS boundaries): the
    * storage-dedup rung of the multimodal ladder — q226 catches
    * byte-identical payloads, q237 perceptually-similar ones; this
    * catches payloads SHARING CONTENT (embedded clips, boilerplate
    * blocks, one-edit re-encodes) via shift-resistant chunk-hash
    * overlap. The oracle replays the whole pipeline — rolling-Horner
    * boundaries, per-chunk polyHash folds (list_reduce), df-capped
    * candidate generation — from hex(payload) bytes. */
  private[graft] val q241: Q = (s, d) =>
    Multimodal.cdcDedupPairs(
      Multimodal.mediaTable(Tables.documents(s, d)), "doc_id",
      window = 8, divisor = 64, threshold = 0.5, maxDf = 100)

  /** q242 — cross-run incremental dedup on the BANDING path
    * ([[Dedup.corpusLshIndex]] + [[Dedup.incrementalMinhashPairs]]):
    * q238's recrawl shape moved to MinHash-LSH, the variant that
    * actually runs at 100 TB — and where the incremental decomposition
    * is EXACT with no correction algebra, because band keys are
    * per-doc-deterministic (nothing in the corpus scratch shifts when
    * a batch arrives). Same parameters as q32; the oracle is q32's
    * full-recompute SQL filtered to batch-incident pairs. OWNER of the
    * [[sharedLshState]] family (round 10): pays the once-per-crawl
    * state build; the incremental query itself runs off the persisted
    * parquet, the production shape. */
  private[graft] val q242: Q = (s, d) => {
    val (bandIndex, post, sizes, _, _) = sharedLshState(s, d)
    Dedup.incrementalMinhashPairs(bandIndex, post, sizes,
      Tables.documents(s, d).filter(col("doc_id") % 5 === 3),
      "doc_id", "text",
      k = 3, numHashes = 12, rowsPerBand = 3, threshold = 0.05)
  }

  /** q243 — incremental CLUSTER maintenance ([[Dedup.upsertClusters]]):
    * the recrawl end-game on the cluster side. The persisted state a
    * recrawl pipeline carries — corpus cluster table (q55 shape over
    * the corpus LSH pairs) plus the corpus LSH index (q242 scratch) —
    * is folded forward with a batch's incident pairs: pointer jumping
    * runs ONLY on the contracted label graph (≤ 2·|new pairs| nodes),
    * and the persisted cluster table is touched by one broadcast
    * relabel join. Built on the BANDING path because its incremental
    * pair decomposition is exact with no cap algebra (per-doc
    * deterministic band keys), so cluster upsert == full recompute is
    * provable — and IS the oracle (fresh connected components over the
    * full-corpus pair set, the q240 pattern). Reads the
    * [[sharedLshState]] family (q242 owner) since round 10, so this
    * bench number is the honest incremental step — batch pairs +
    * contracted-label pointer jumping + ONE relabel join — not a
    * per-query rebuild of the persisted corpus state (the r9 verdict's
    * measurement-fidelity note). */
  private[graft] val q243: Q = (s, d) => {
    val (bandIndex, post, sizes, _, corpusClusters) =
      sharedLshState(s, d)
    val batch = Tables.documents(s, d).filter(col("doc_id") % 5 === 3)
    val newPairs = Dedup.incrementalMinhashPairs(bandIndex, post, sizes,
      batch, "doc_id", "text", k = 3, numHashes = 12, rowsPerBand = 3,
      threshold = 0.05)
    Dedup.upsertClusters(corpusClusters, newPairs,
      batch.select("doc_id"), "doc_id")
  }

  /** q244 — ingestion-time near-dup flags, batch twin
    * ([[Dedup.incrementalFlags]]): each "arriving" doc scored against
    * the persisted corpus shingle index as a batch of ONE (df_b = 1
    * cap algebra — survives iff df_c + 1 ≤ cap, corpus sizes corrected
    * for the doc's own cap-crossings), so output is independent of how
    * a stream micro-batches. The same transform runs as a real
    * readStream pipeline (StreamingOps.streamingIncrementalFlags;
    * StreamingSpec stream == batch == per-doc q238). Oracle replays
    * the per-doc algebra relationally in DuckDB. */
  private[graft] val q244: Q = (s, d) => {
    val (index, _, _) = sharedExactState(s, d)
    Dedup.incrementalFlags(index = index,
      docs = Tables.documents(s, d).filter(col("doc_id") % 5 === 3),
      idCol = "doc_id", textCol = "text",
      k = 3, threshold = 0.1, maxDf = 100)
  }

  /** q245 — cross-run incremental dedup on the EMBEDDING path
    * ([[SimSearch.corpusEmbeddingLshIndex]] +
    * [[SimSearch.incrementalCosinePairsLsh]]): q242's recrawl shape in
    * vector space, closing the last non-incremental dedup modality.
    * Hyperplane bucket keys are per-vector-deterministic, so the
    * batch-incident candidate set decomposes exactly (no correction
    * algebra); same parameters as q60, whose full-recompute oracle —
    * filtered to batch-incident pairs — IS this query's oracle.
    * OWNER of the [[sharedEmbState]] family (round 11): pays the
    * once-per-crawl index build; the incremental query itself runs off
    * the persisted parquet, matching the other three modalities'
    * owner shape (q238/q242/q250). */
  private[graft] val q245: Q = (s, d) => {
    SimSearch.incrementalCosinePairsLsh(sharedEmbState(s, d)._1,
      Tables.embeddings(s, d).filter(col("vec_id") % 5 === 3),
      threshold = 0.25, bits = 16, tables = 4)
  }

  /** q246 — incremental cluster RETRACTION ([[Dedup.retractClusters]]):
    * the deletion half of the cluster lifecycle (q55 builds, q243
    * merges, this retracts — takedown/right-to-be-forgotten over a
    * dedup corpus). Reads the persisted pair AND cluster scratch (q55's
    * family — the honest state a pipeline holds); only components
    * containing a deleted doc are re-clustered, from their surviving
    * pair subgraph. Oracle = fresh connected components over the
    * RETAINED pair set (the documented tombstone semantics: the pair
    * table is the source of truth). */
  private[graft] val q246: Q = (s, d) => {
    val deleted = Tables.documents(s, d)
      .filter(col("doc_id") % 7 === 2).select("doc_id")
    Dedup.retractClusters(sharedClusters(s, d), sharedPairs(s, d),
      deleted, "doc_id")
  }

  /** q247 — shingle-index retraction ([[Dedup.retractShingleIndex]]):
    * q240's inverse, completing the index lifecycle (build / upsert /
    * retract) with the same deletion set as q246's cluster retraction.
    * The ≤-cap half equals the fresh rebuild over retained docs; HOT
    * rows decrement df but keep their NULL list even when cooled under
    * the cap (members unrecoverable from capped state — the
    * conservative tombstone asymmetry, which the oracle pins
    * explicitly). */
  private[graft] val q247: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val index = Dedup.corpusShingleIndex(docs, "doc_id", "text",
      k = 3, maxDf = 100)
    Dedup.retractShingleIndex(index,
      docs.filter(col("doc_id") % 7 === 2), "doc_id", "text",
      k = 3, maxDf = 100)
      .select(col("sh"), col("df_c"),
        when(col("cpids").isNotNull,
          concat_ws(",", transform(col("cpids"), _.cast("string"))))
          .as("pids_str"))
      .orderBy("sh")
  }

  /** q248 — END-TO-END incremental-curation lifecycle (the q88 of the
    * state machinery, r9 verdict item 4): every individually-proven
    * stage CHAINED over one fixture, so the STATE HANDOFF between
    * stages — not just each stage — is oracle-checked.
    *
    * Pipeline (exact shingle path, q238 parameters):
    *   1. persisted corpus state: [[Dedup.corpusShingleIndex]] +
    *      corpus pairs ([[Dedup.jaccardPairs]]) + cluster table
    *      ([[Dedup.dupClusters]]) over docs with doc_id % 5 ≠ 3;
    *   2. recrawl batch (doc_id % 5 = 3) arrives:
    *      [[Dedup.incrementalJaccardPairs]] against the index (q238),
    *      [[Dedup.upsertShingleIndex]] folds the index forward (q240),
    *      [[Dedup.upsertClusters]] folds the cluster table (q243);
    *      the persisted pair table becomes corpus ∪ incident pairs —
    *      the tombstone pair-table-as-truth a production pipeline
    *      carries (corpus-corpus pairs are NOT re-derived under the
    *      union df-cap; that is the q246-pinned semantics);
    *   3. takedown set (doc_id % 7 = 2, spanning corpus AND batch
    *      docs): [[Dedup.retractShingleIndex]] (q247) +
    *      [[Dedup.retractClusters]] (q246);
    *   4. survivor report: per retained doc — source, final cluster,
    *      and n_live_sh (its postings surviving in the retracted
    *      index's ≤-cap lists), so the output hash covers BOTH final
    *      state tables (cluster AND index); a wrong handoff at any
    *      stage moves it.
    *
    * ONE oracle replays the whole pipeline in DuckDB: corpus-universe
    * pairs ∪ batch-incident union-universe pairs → retained-edge reach
    * clustering; union index → retraction rule → per-doc live counts.
    * Stage 1 reads the [[sharedExactState]] family (q238 owner) — the
    * persisted state IS the production starting point, and the
    * integration under test is the chained delta on top of it. */
  private[graft] val q248: Q = (s, d) => {
    val k = 3; val cap = 100; val thr = 0.1
    val docs = Tables.documents(s, d)
    val batch = docs.filter(col("doc_id") % 5 === 3)
    // stage 1 — persisted corpus state (index + pairs + clusters)
    val (index0, pairs0, clusters0) = sharedExactState(s, d)
    // stage 2 — recrawl batch folds forward
    val newPairs = Dedup.incrementalJaccardPairs(index0, batch,
        "doc_id", "text", k, thr, cap)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(eager = false) // consumed by clusters1 + pairs1
    val index1 = Dedup.upsertShingleIndex(index0, batch, "doc_id",
      "text", k, cap)
    // unordered (round 19, guide §2.4): the mid-chain orderBy sorted
    // rows the downstream joins immediately unsort. NOT checkpointed —
    // measured and reverted: retractClusters' three passes over the
    // merged table share exchanges within each materializing job, so a
    // lazy localCheckpoint added a serialization pass without saving
    // re-execution (interleaved A/B: q248 4.09→5.37 s min-of-3 WITH the
    // checkpoint pair, i.e. +31%)
    val clusters1 = Dedup.upsertClusters(clusters0, newPairs,
      batch.select("doc_id"), "doc_id", ordered = false)
    val pairs1 = pairs0.unionByName(newPairs)
    // stage 3 — takedown
    val deleted = docs.filter(col("doc_id") % 7 === 2)
    val index2 = Dedup.retractShingleIndex(index1, deleted, "doc_id",
      "text", k, cap)
    val clusters2 = Dedup.retractClusters(clusters1, pairs1,
      deleted.select("doc_id"), "doc_id", ordered = false)
    // stage 4 — survivor report over BOTH final state tables
    val nLive = index2.select(explode(col("cpids")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_live_sh"))
    clusters2
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .join(nLive, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("cluster"),
        coalesce(col("n_live_sh"), lit(0L)).as("n_live_sh"))
      // no pre-sort checkpoint (round 19, measured and reverted): under
      // AQE the sort's sampling re-reads materialized shuffle output,
      // not the deep lineage — the checkpoint's extra serialization
      // pass cost more than the sampling it saved (A/B above)
      .orderBy("doc_id")
  }

  /** q249 — ingestion-time CLUSTER ASSIGNMENT, batch twin
    * ([[Dedup.assignClusters]]): q244's flags composed with the
    * persisted cluster table — each arriving doc (doc_id % 5 = 3) gets
    * `least(own id, min matched corpus cluster)` from its qualifying
    * per-doc pairs (df_b = 1 algebra), or its own id when clean: the
    * operational "is this a dup of cluster X" signal a crawler acts on
    * at ingestion. Per-doc semantics == [[Dedup.upsertClusters]] run
    * on the doc's own pairs alone (DedupSpec); the same transform runs
    * as a real readStream pipeline with ONE chained windowed min-agg
    * ([[graft.streaming.StreamingOps.streamingAssignClusters]];
    * StreamingSpec stream == batch). Reads the [[sharedExactState]]
    * index + cluster scratch (q238 owner). Oracle: the q244 per-doc
    * algebra joined to the corpus-pair reach clustering. */
  private[graft] val q249: Q = (s, d) => {
    val (index, _, clusters) = sharedExactState(s, d)
    Dedup.assignClusters(
      Tables.documents(s, d).filter(col("doc_id") % 5 === 3),
      index, clusters, "doc_id", "text",
      k = 3, threshold = 0.1, maxDf = 100)
  }

  /** q250 — cross-run incremental dedup on the MULTIMODAL payload path
    * ([[Dedup.corpusFingerprintIndex]] +
    * [[Dedup.incrementalFingerprintPairs]]): q237's blockhash
    * perceptual dedup in the q238/q242/q245 recrawl shape, closing the
    * last modality without a cross-run incremental form. Fingerprints
    * are per-payload-deterministic, so the decomposition is exact with
    * no correction algebra; the oracle is q237's full-recompute SQL
    * filtered to batch-incident pairs. Reads the
    * [[sharedFingerprintState]] family (its own owner) so the
    * incremental query runs off the persisted parquet — only the
    * batch's fingerprints compute inline, the honest recrawl input. */
  private[graft] val q250: Q = (s, d) => {
    val (idx, cfps, _, _) = sharedFingerprintState(s, d)
    Dedup.incrementalFingerprintPairs(idx, cfps,
      Multimodal.blockhashFingerprints(
        Multimodal.mediaTable(Tables.documents(s, d)
          .filter(col("doc_id") % 5 === 3)), "doc_id", blocks = 32),
      bits = 32, slices = 4, maxHamming = 3)
  }

  /** q251 — fingerprint-index upsert ([[Dedup.upsertPostingsIndex]]):
    * q240's maintenance half on the MULTIMODAL payload modality — the
    * persisted Hamming slice index absorbs the recrawl batch at
    * O(batch) cost. Because banded indexes are uncapped and slice keys
    * per-payload-deterministic, the upserted index must equal the
    * fresh all-docs rebuild EXACTLY (no cooled-row asymmetry to pin —
    * a strictly stronger contract than the df-capped q240); the
    * oracle IS that rebuild. Batch fingerprints compute inline (the
    * honest recrawl input); the corpus side is the persisted q250
    * scratch, never rescanned. */
  private[graft] val q251: Q = (s, d) => {
    val (idx, _, _, _) = sharedFingerprintState(s, d)
    val batchFps = Multimodal.blockhashFingerprints(
      Multimodal.mediaTable(Tables.documents(s, d)
        .filter(col("doc_id") % 5 === 3)), "doc_id", blocks = 32)
    fpIndexRows(Dedup.upsertPostingsIndex(idx,
      Dedup.fingerprintPostings(batchFps, bits = 32, slices = 4),
      Seq("sl", "sv")))
  }

  /** q252 — fingerprint-index retraction
    * ([[Dedup.retractPostingsIndex]]): q247's takedown half on the
    * payload modality, completing build → incremental (q250) → upsert
    * (q251) → retract on the fourth and last index modality. The
    * deleted docs' slice keys come from the PERSISTED fingerprint
    * table (state-only takedown — payloads never rescanned), and with
    * no df bookkeeping the retracted index equals the fresh rebuild
    * over the retained corpus EXACTLY; the oracle IS that rebuild.
    * Re-delivered takedowns are no-ops by `array_except` construction. */
  private[graft] val q252: Q = (s, d) => {
    val (idx, cfps, _, _) = sharedFingerprintState(s, d)
    fpIndexRows(Dedup.retractPostingsIndex(idx,
      Dedup.fingerprintPostings(cfps.filter(col("pid") % 7 === 2),
        bits = 32, slices = 4),
      Seq("sl", "sv")))
  }

  /** q253 — MinHash band-index upsert: the SAME generic
    * [[Dedup.upsertPostingsIndex]] proven on the fingerprint modality
    * (q251), oracle-checked on the banded-TEXT modality — the q242
    * recrawl state absorbs the batch at O(batch) cost and must equal
    * the fresh corpus∪batch [[Dedup.corpusLshIndex]] band table
    * byte-identically (uncapped, per-doc-deterministic band keys; the
    * oracle IS that rebuild). Batch band rows compute inline from the
    * batch's shingles ([[Dedup.bandRowsFromPostings]], the honest
    * recrawl input); the corpus side is the persisted q242 scratch. */
  private[graft] val q253: Q = (s, d) => {
    val (bandIndex, _, _, _, _) = sharedLshState(s, d)
    val batchPost = Dedup.postings(
      Tables.documents(s, d).filter(col("doc_id") % 5 === 3),
      "doc_id", "text", k = 3)
    lshIndexRows(Dedup.upsertPostingsIndex(bandIndex,
      Dedup.bandRowsFromPostings(batchPost, numHashes = 12,
        rowsPerBand = 3), Seq("bk")))
  }

  /** q254 — MinHash band-index retraction: [[q253]]'s takedown half,
    * and the state-only form — the deleted docs' band keys recompute
    * from the PERSISTED postings table (the LSH family persists
    * (pid, sh) precisely so signatures never need corpus text again),
    * then ONE left join + map-side array_except drops them from the
    * band lists. Uncapped ⇒ equals the fresh retained-corpus rebuild
    * exactly; the oracle IS that rebuild. With q251/q252 this makes
    * the generic maintenance pair oracle-checked on BOTH grouped-list
    * banded modalities. */
  private[graft] val q254: Q = (s, d) => {
    val (bandIndex, post, _, _, _) = sharedLshState(s, d)
    lshIndexRows(Dedup.retractPostingsIndex(bandIndex,
      Dedup.bandRowsFromPostings(post.filter(col("pid") % 7 === 2),
        numHashes = 12, rowsPerBand = 3), Seq("bk")))
  }

  /** q255 — embedding-index upsert
    * ([[SimSearch.upsertEmbeddingIndex]]): maintenance on the fourth
    * and last persisted index modality (round-10 verdict item 2 — the
    * one index whose upsert/retract was a scaladoc assertion, not an
    * oracle-checked query). Exploded-row state ⇒ anti-join + union,
    * batch wins on overlapping ids; bucket keys are per-vector
    * deterministic, so the upserted index equals the fresh
    * corpus∪batch rebuild EXACTLY — the oracle IS that rebuild. The
    * corpus side is the persisted [[sharedEmbState]] parquet (q245
    * owner), never rescanned; batch buckets compute inline (the honest
    * recrawl input). */
  private[graft] val q255: Q = (s, d) =>
    embIndexRows(SimSearch.upsertEmbeddingIndex(sharedEmbState(s, d)._1,
      Tables.embeddings(s, d).filter(col("vec_id") % 5 === 3),
      bits = 16, tables = 4))

  /** q256 — embedding-index retraction
    * ([[SimSearch.retractEmbeddingIndex]]): q255's takedown half. The
    * takedown request's id list is the ONLY input beyond the persisted
    * index — one anti-join, no band recompute (exploded-row state
    * carries its keys), embeddings never rescanned — and the retracted
    * index equals the fresh rebuild over the retained corpus EXACTLY;
    * the oracle IS that rebuild. With q240/q247, q251/q252 and
    * q253/q254 this closes oracle-checked maintenance on ALL FOUR
    * modalities' indexes. */
  private[graft] val q256: Q = (s, d) =>
    embIndexRows(SimSearch.retractEmbeddingIndex(sharedEmbState(s, d)._1,
      Tables.embeddings(s, d).filter(col("vec_id") % 7 === 2)
        .select("vec_id"), "vec_id"))

  /** q257 — END-TO-END incremental-curation lifecycle on the BANDED
    * (LSH) modality — q248's five-stage composition moved from the
    * df-capped exact path to the path that actually runs at 100 TB
    * (round-10 verdict item 3), so the state HANDOFF between stages is
    * oracle-checked on this modality too, and [[Dedup.upsertClusters]]
    * is exercised fed by [[Dedup.incrementalMinhashPairs]]:
    *
    *   1. persisted corpus state ([[sharedLshState]], q242 owner):
    *      band index + postings + sizes + corpus pair table
    *      (`lshpairs`, round 15 — the chain reads it instead of
    *      re-running the banded self-join) + cluster table over
    *      doc_id % 5 ≠ 3;
    *   2. recrawl batch (doc_id % 5 = 3):
    *      [[Dedup.incrementalMinhashPairs]] (q242),
    *      [[Dedup.upsertPostingsIndex]] on the band index (q253),
    *      [[Dedup.upsertClusters]] (q243); the persisted pair table
    *      folds forward as corpus pairs ∪ incident pairs — on this
    *      path that IS the full union recompute (per-doc-deterministic
    *      band keys, no cap algebra), so unlike q248 there is no
    *      tombstone asymmetry anywhere in the chain;
    *   3. takedown (doc_id % 7 = 2, spanning corpus AND batch):
    *      [[Dedup.retractPostingsIndex]] with deltas derived from the
    *      PERSISTED postings ∪ batch postings (q254 — text never
    *      rescanned) + [[Dedup.retractClusters]] (q246);
    *   4. survivor report hashing BOTH final state tables: per
    *      retained doc — source, final cluster, and n_peers (its
    *      distinct band-sharing neighbors in the retracted index: the
    *      candidate degree, a content-sensitive digest of every band
    *      list it appears in).
    *
    * ONE oracle replays the chain flat in DuckDB: full-universe
    * MinHash pairs → retained-edge reach clustering; full-universe
    * banding → retained rows → distinct peer counts. */
  private[graft] val q257: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val batch = docs.filter(col("doc_id") % 5 === 3)
    // stage 1 — persisted corpus state
    val (bandIndex0, post0, sizes0, pairs0, clusters0) =
      sharedLshState(s, d)
    // stage 2 — recrawl batch folds forward
    val newPairs = Dedup.incrementalMinhashPairs(bandIndex0, post0,
        sizes0, batch, "doc_id", "text", k = 3, numHashes = 12,
        rowsPerBand = 3, threshold = 0.05)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(eager = false) // consumed by clusters1 + pairs1
    val batchPost = Dedup.postings(batch, "doc_id", "text", k = 3)
      .localCheckpoint(eager = false) // consumed by index1 + post1
    val index1 = Dedup.upsertPostingsIndex(bandIndex0,
      Dedup.bandRowsFromPostings(batchPost, numHashes = 12,
        rowsPerBand = 3), Seq("bk"))
    // unordered, not checkpointed (round 19): see q248
    val clusters1 = Dedup.upsertClusters(clusters0, newPairs,
      batch.select("doc_id"), "doc_id", ordered = false)
    // corpus pairs ride STATE (the owner's persisted lshpairs table —
    // round 15; the chain no longer re-runs the banded self-join)
    val pairs1 = pairs0
      .select(col("id_a"), col("id_b"))
      .unionByName(newPairs)
    // stage 3 — takedown (deltas from persisted ∪ batch postings)
    val deleted = docs.filter(col("doc_id") % 7 === 2).select("doc_id")
    val post1 = post0.unionByName(batchPost)
    val index2 = Dedup.retractPostingsIndex(index1,
      Dedup.bandRowsFromPostings(
        post1.join(deleted, post1("pid") === deleted("doc_id"),
          "left_semi"),
        numHashes = 12, rowsPerBand = 3), Seq("bk"))
    val clusters2 = Dedup.retractClusters(clusters1, pairs1, deleted,
      "doc_id", ordered = false)
    // stage 4 — survivor report over BOTH final state tables
    clusters2
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .join(postingPeers(index2, "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("cluster"),
        coalesce(col("n_peers"), lit(0L)).as("n_peers"))
      .orderBy("doc_id")
  }

  /** q258 — STATE-ONLY takedown feed, batch twin ([[Dedup
    * .fingerprintPostings]] over the persisted fingerprint table
    * semi-joined to the takedown id list): the retraction deltas the
    * q252 index retraction consumes, materialized as their own
    * artifact — one id-keyed join + one explode, payloads never
    * rescanned. The same transform runs as a real readStream pipeline
    * ([[graft.streaming.StreamingOps.streamingRetractPostings]] —
    * takedown ids arriving as a stream, the q249 pattern applied to
    * the retraction verb; stateless, so StreamingSpec pins stream ==
    * batch with NO withheld tail, and folding the drained deltas
    * through [[Dedup.retractPostingsIndex]] == the q252 retraction).
    * Reads the [[sharedFingerprintState]] family (q250 owner). */
  private[graft] val q258: Q = (s, d) => {
    val (_, cfps, _, _) = sharedFingerprintState(s, d)
    val takedown = Tables.documents(s, d)
      .filter(col("doc_id") % 7 === 2)
      .select(col("doc_id").as("pid"))
    Dedup.fingerprintPostings(takedown.join(cfps, Seq("pid")),
        bits = 32, slices = 4)
      .orderBy("sl", "sv", "pid")
  }

  /** q259 — END-TO-END lifecycle on the EMBEDDING modality: the
    * q248/q257 five-stage composition in vector space, completing the
    * chained state-handoff proof on the third of four modalities and
    * exercising [[Dedup.upsertClusters]] fed by
    * [[SimSearch.incrementalCosinePairsLsh]]. Stage 1 reads the
    * [[sharedEmbState]] family (q245 owner — index, corpus pair set
    * and cluster table, all derived from ONE embedding scan); the
    * corpus pair set rides STATE ([[SimSearch.cosinePairsFromIndex]]
    * computed once by the owner, persisted as `embpairs` — round 15;
    * the chain no longer re-runs the corpus self-join). Per-vector
    * deterministic buckets ⇒ the folded pair table IS the full union
    * recompute (the q257 argument in vector space, no tombstone
    * asymmetry); the survivor report hashes BOTH final state tables
    * (per-vector cluster + distinct bucket-peer count). ONE oracle
    * replays the chain flat.
    *
    * SPARSE-PRIMARY since round 18 (round-17 verdict item 1): the
    * chain runs at threshold 0.6, where the similarity threshold
    * BINDS on the fixture's near-random vectors — the production
    * recrawl shape (qualifying pairs sparse, cluster table mostly
    * singletons, maintenance cost carried by the index/banding
    * machinery rather than a dense pair graph). The old 0.25
    * operating point admitted a 2.2%-dense adversarial pair graph —
    * a stress regime, measured by the retired scale probe's
    * `q259d_emb_dense_chain` cell (SCALEPROBE_r18.json, a historical
    * record). */
  private[graft] val q259: Q = (s, d) => {
    // stage 1 — persisted corpus state (q245 owner)
    val (index0, pairs0, clusters0) = sharedEmbState(s, d)
    embLifecycleChain(Tables.embeddings(s, d), index0, pairs0,
      clusters0, threshold = 0.6, bits = 16, tables = 4)
  }

  /** q260 — END-TO-END lifecycle on the PAYLOAD modality: the last of
    * the four modalities' chained compositions — with q248 (exact
    * text), q257 (banded text) and q259 (embeddings), EVERY dedup
    * modality now has its build → incremental → upsert → retract
    * chain proven as one hash-checked handoff, not just
    * stage-by-stage. Stage 1 reads the [[sharedFingerprintState]]
    * family (q250 owner — slice index + fingerprint table + corpus
    * pair table + cluster table, all from ONE payload scan); corpus
    * pairs ride STATE ([[Dedup.fingerprintPairsFromIndex]] computed
    * once by the owner, persisted as `fppairs` — round 15); retraction
    * deltas derive from the persisted ∪ batch fingerprints (payloads
    * never rescanned — the q252/q258 posture). Per-payload
    * deterministic fingerprints ⇒ the folded pair table IS the full
    * union recompute; the survivor report hashes BOTH final state
    * tables (per-payload cluster + distinct slice-peer count). */
  private[graft] val q260: Q = (s, d) => {
    // stage 1 — persisted corpus state (q250 owner)
    val (index0, cfps, pairs0, clusters0) = sharedFingerprintState(s, d)
    fpLifecycleChain(Tables.documents(s, d), index0, cfps, pairs0,
      clusters0, blocks = 32, slices = 4, maxHamming = 3)
  }

  /** q261 — index-UPSERT delta feed, batch twin ([[Dedup
    * .fingerprintPostings]] over the arriving batch's inline-computed
    * blockhash fingerprints): the upsert deltas the q251 index upsert
    * consumes, materialized as their own artifact — q258's takedown
    * feed in the OPPOSITE maintenance direction, closing the streaming
    * verb set (flags q244, assignment q249, takedown q258, now upsert;
    * round-11 verdict item 3). Map-only: fingerprint + explode, no
    * state read — the honest ingest input. The same transform runs as
    * a real readStream pipeline ([[graft.streaming.StreamingOps
    * .streamingUpsertPostings]] — stateless, so StreamingSpec pins
    * stream == batch with NO withheld tail, and folding the drained
    * deltas through [[Dedup.upsertPostingsIndex]] == the q251 upsert).
    * Oracle replays the blockhash + slice split from hex(payload). */
  private[graft] val q261: Q = (s, d) =>
    Dedup.fingerprintPostings(
        Multimodal.blockhashFingerprints(
          Multimodal.mediaTable(Tables.documents(s, d)
            .filter(col("doc_id") % 5 === 3)), "doc_id", blocks = 32),
        bits = 32, slices = 4)
      .orderBy("sl", "sv", "pid")
}

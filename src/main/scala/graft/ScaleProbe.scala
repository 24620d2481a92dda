package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.ext.{Dedup, Multimodal, SimSearch}

/** Empirical scaling probe for the recrawl/dedup spine (round-11
  * verdict item 1): generate deterministic ×3 / ×10 blow-ups of the
  * sf0.1 documents/embeddings fixtures, run the scale-critical query
  * family at every size, and report t(m×)/t(1×) ratios plus fitted
  * exponents — converting the repo's plan-shape scale arguments into
  * measurements. A single run writes its JSON under the probe dir
  * (`SPARK_GRAFT_PROBE_JSON` to override); the COMMITTED
  * `SCALEPROBE_r11.json` is the multi-run adjudicated merge produced
  * by `scripts/scaleprobe_merge.py` (per-cell min over all samples,
  * every sample recorded), analyzed in `docs/SCALE.md`.
  *
  * Fixture construction (all deterministic, no RNG):
  *
  *  - Replica r of a document gets `doc_id + r·105,000,000` (105M is
  *    divisible by 3, 5 and 7, so every `% 3 / % 5 / % 7` fixture
  *    split — media type, recrawl batch, takedown set — scales
  *    uniformly) and its text mapped through a per-replica AFFINE
  *    CIPHER on letters and digits (`i → i·m_r + r mod 26/10`, m_r
  *    coprime to the alphabet). A 1:1 char map preserves length,
  *    token boundaries and within-replica similarity structure
  *    EXACTLY, while cross-replica token sets are disjoint up to
  *    cipher fixed points and tokens with no [a-zA-Z0-9] chars (an
  *    affine map has ≤ gcd-many fixed letters per (mult, shift);
  *    unmapped punctuation/unicode passes through) — negligible on
  *    this alphanumeric fixture, and VERIFIED rather than assumed:
  *    the probe's own row counts show exact ×m pair replication
  *    (q31: 260/780/2600/7800). A heavily-non-ASCII corpus would need
  *    a different transform for the law to hold. Text pair/cluster
  *    structure thus replicates ×m with no cross-replica near-dups,
  *    the same way a real corpus grows by new content.
  *  - Replica r of an embedding keeps its vector with a per-replica
  *    deterministic SIGN FLIP per dimension. Flipping dimension j for
  *    every vector in a replica preserves all within-replica dot
  *    products and norms (cos(f(x), f(y)) = cos(x, y) exactly), while
  *    cross-replica cosines decorrelate toward 0 — within-replica
  *    near-dup structure replicates exactly, cross-replica pairs stay
  *    below any working threshold.
  *  - Replica 0 is the identity, so x1 is a byte-equivalent rewrite of
  *    sf0.1 (rewritten through the same writer as x3/x10 so all scales
  *    read identically-produced parquet).
  *
  * Measurement protocol: per scale, queries run in qNN order (owners
  * before their consumers, as in Bench); every query is timed twice
  * and reports min — scratch-family OWNERS get
  * [[ExtQueries.resetSharedScratch]] between samples so both samples
  * time the honest state build (the Bench re-run discipline), pure
  * consumers read the persisted scratch both times (their honest
  * cost). A warm-up pass at sf0.01 runs the same plans first so x1 is
  * not charged JIT/codegen warm-up (a cold x1 would understate every
  * ratio). Output rows are counted untimed, after the samples, so the
  * table shows output growth next to runtime growth.
  *
  * Two OCCUPANCY-NORMALIZED companions probe the documented
  * parameter-scaling law for the two fixed-key-space blockers (see
  * docs/SCALE.md): `q245x` re-runs the embedding incremental dedup
  * with bits = 16 + ⌈log₂ m⌉ (hyperplane key space grows with the
  * corpus, occupancy held ~constant) and `q250x` re-runs the payload
  * incremental dedup with blocks = 4·(8 + ⌈log₂ m⌉) (fingerprint
  * slice width grows, slice-key space grows ∝ corpus). Both build
  * their state inline at every scale (self-consistent across scales). */
object ScaleProbe {
  private val Offset = 105000000L

  /** m_r for letters (coprime to 26) and digits (coprime to 10);
    * r = 0 is the identity by construction in [[cipher]]. */
  private val LetterMults = Seq(3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
  private val DigitMults = Seq(3, 7, 9)

  private def permuted(alphabet: Seq[Char], mult: Int, shift: Int)
      : String =
    alphabet.indices
      .map(i => alphabet((i * mult + shift) % alphabet.size))
      .mkString

  /** Per-replica affine cipher over [a-z], [A-Z], [0-9] — 1:1 char
    * map, length-preserving, replica 0 = identity. */
  private[graft] def cipher(c: Column, r: Int): Column =
    if (r == 0) c
    else {
      val lm = LetterMults((r - 1) % LetterMults.size)
      val dm = DigitMults((r - 1) % DigitMults.size)
      val lower = ('a' to 'z').mkString
      val upper = ('A' to 'Z').mkString
      val digits = ('0' to '9').mkString
      translate(
        translate(
          translate(c, lower, permuted('a' to 'z', lm, r % 26)),
          upper, permuted('A' to 'Z', lm, r % 26)),
        digits, permuted('0' to '9', dm, r % 10))
    }

  /** Per-replica deterministic sign flip per dimension — preserves all
    * within-replica cosines exactly; replica 0 = identity. */
  private[graft] def signFlip(e: Column, r: Int): Column =
    if (r == 0) e
    else
      transform(e, (x, i) =>
        when((i.cast("long") * 40503L + lit(r * 2654435761L)) % 8191L
          % 2 === 0, x).otherwise(-x)) // unary minus is type-preserving
                                       // (float stays float; `* -1`
                                       // would promote to double)

  /** Per-replica embedding transform for the SPARSE fixture: a cyclic
    * DIM ROTATION (by (r·23) mod 64 — 23 is invertible mod 64, so
    * every replica pair is misaligned by a distinct nonzero shift)
    * composed with a Murmur3-parity SIGN FLIP per (dim, replica).
    * Both are norm-preserving and uniform across a replica, so
    * within-replica cosines — and hence every planted pair — are
    * preserved EXACTLY, while cross-replica correlation is killed by
    * two complementary mechanisms, each of which alone provably
    * fails:
    *
    *  - the r11 [[signFlip]]'s offset-parity patterns differ across
    *    replicas only by a constant offset δ = Δr·2964 (mod 8191) and
    *    disagree only where the addition wraps (probability δ/8191,
    *    not 1/2) — at Δr = 3, δ = 701 keeps ~91% agreement, so every
    *    base vector re-appeared at cos ≈ 0.8 three replicas away
    *    (the measured +629 / +18k background at ×10 / ×30; ×3 was
    *    exactly linear because max Δr = 2 is safe);
    *  - even a PERFECT half-flip cannot decorrelate vectors whose
    *    squared mass concentrates on few dims (measured worst
    *    cross-replica self-|cos| 0.81 under a true Murmur3 flip —
    *    sign flips preserve per-dim mass, so a near-one-hot vector
    *    resembles its copy under any pattern). The rotation moves
    *    concentrated mass onto disjoint dims; the flip handles the
    *    flat/periodic vectors rotation alone cannot (an all-equal
    *    vector is shift-invariant). Worst-case over every replica
    *    pair × every real fixture vector is spec-pinned below the
    *    sparse threshold.
    *
    * The dense fixture keeps the committed r11 law — its exponents
    * are already adjudicated against it. Hardcodes the fixture's 64
    * dims (like the cipher hardcodes the alphabet). */
  private[graft] def sparseEmbReplica(e: Column, r: Int): Column =
    if (r == 0) e
    else {
      val s = (r * 23) % 64
      val shifted =
        if (s == 0) e
        else concat(slice(e, s + 1, 64 - s), slice(e, 1, s))
      transform(shifted, (x, i) =>
        when(pmod(hash(i, lit(r)), lit(2)) === 0, x).otherwise(-x))
    }

  /** Planted-twin id offset for the SPARSE fixtures: < [[Offset]] so
    * planted ids never collide with any replica's base ids (base ids
    * are ≤ ~5k ≪ 52.5M), and ≡ 1 (mod 3, 5, 7 AND 8 — 52,500,000 is
    * divisible by all four), so a twin's recrawl-batch / takedown /
    * media-type class is its original's shifted by one: planted pairs
    * land in every split combination (corpus–corpus, corpus–batch,
    * batch–corpus) and twins are never re-planted (twin % 8 = 2,
    * planting selects % 8 = 1). */
  private val PlantOffset = 52500001L

  /** Sign-flip the `k` LOWEST-|x| dimensions of a float vector
    * (deterministic tiebreak by index) — the sparse fixture's planted
    * embedding near-dup: norms are unchanged and
    * cos(x, twin) = 1 − 2·Σ_flipped x²/|x|² ≥ 1 − 2k/d BY THE ORDER-
    * STATISTIC BOUND (the k smallest squares average at most the
    * overall mean square), so with k = 2 of d = 64 dims every planted
    * pair sits at cosine ≥ 0.9375 (typically ≈ 0.99) — above the
    * sparse threshold 0.6 by construction, while the base fixture has
    * essentially no background pairs there (docs/SCALE.md: nothing
    * above sim 0.6). RNG-free. */
  private[graft] def flipLowest(e: Column, k: Int): Column = {
    val ranked = slice(array_sort(transform(e,
      (x, i) => struct(abs(x).as("a"), i.as("i")))), 1, k)
    val flipSet = transform(ranked, s => s.getField("i"))
    transform(e, (x, i) =>
      when(array_contains(flipSet, i), -x).otherwise(x))
  }

  /** Swap the first two characters of the text — the sparse fixture's
    * planted PAYLOAD near-dup: the byte multiset is preserved (global
    * blockhash mean unchanged) and only the blocks covering the
    * 2-char span can change mean, so the twin's blockhash fingerprint
    * sits at Hamming ≤ 2 from its original BY CONSTRUCTION — inside
    * maxHamming = 3 at ANY fingerprint width (slice banding's
    * pigeonhole recall is exact there), while background fingerprints
    * at the width-scaled block count collide only incidentally.
    * Length-preserving and deterministic; adjacent positions keep
    * every byte outside the span at its offset even for multi-byte
    * chars. */
  private[graft] def swapFirstTwo(t: Column): Column =
    when(length(t) >= 2,
      concat(substring(t, 2, 1), substring(t, 1, 1),
        t.substr(lit(3), length(t))))
      .otherwise(t)

  /** Rotate the text left by a LENGTH-PROPORTIONAL per-replica amount
    * (⌊len·r/31⌋ — replica 0 is the identity): the payload
    * decorrelator the sparse documents fixture needs ON TOP of the
    * affine cipher. A value-only cipher cannot decorrelate blockhash:
    * block means are dominated by SPACE density, spaces are cipher
    * fixed points, and space POSITIONS are identical across replicas —
    * measured on the un-rotated fixture, every doc's m cipher copies
    * sat within Hamming ≤ 3 of each other (a C(m,2) clique per doc,
    * exactly the quadratic background the sparse regime must not
    * have). Rotating by a length fraction moves every block boundary
    * relative to the space structure, so cross-replica block profiles
    * decorrelate — while every PLANTED pair is preserved exactly: an
    * original and its [[swapFirstTwo]] twin have equal length, rotate
    * by the same amount, and keep their two differing chars adjacent
    * (or split to the two ends), so their fingerprints stay at
    * Hamming ≤ 2 in every replica. Used only in the sparse DOCUMENTS
    * fixture — the payload cells' input; the dense/text fixtures keep
    * the pure cipher (rotation would split one token per doc and
    * perturb the exact text-spine replication laws). */
  private[graft] def rotateFrac(t: Column, r: Int): Column =
    if (r == 0) t
    else {
      val k = floor(length(t).cast("long") * r / 31).cast("int")
      concat(t.substr(k + lit(1), length(t)), t.substr(lit(1), k))
    }

  /** Augment base documents with planted payload near-dups: every
    * doc_id ≡ 1 (mod 8) gains a twin at doc_id + [[PlantOffset]] with
    * [[swapFirstTwo]] text. Planting happens BEFORE replication, so
    * the per-replica cipher (a 1:1 char map — it commutes with a
    * position swap) and the per-replica [[rotateFrac]] (equal lengths
    * ⇒ equal rotation) preserve every planted pair exactly in every
    * replica: planted mass grows ×m, the linear law the sparse
    * regime is built to measure. */
  private def plantedDocs(docs: DataFrame): DataFrame =
    docs.unionByName(
      docs.filter(col("doc_id") % 8 === 1)
        .select((col("doc_id") + PlantOffset).as("doc_id"),
          swapFirstTwo(col("text")).as("text"),
          col("lang"), col("source"), col("n_chars")))

  /** Augment base embeddings with planted near-dup vectors: every
    * vec_id ≡ 1 (mod 8) gains a twin at vec_id + [[PlantOffset]] with
    * the 2 lowest-magnitude dims sign-flipped ([[flipLowest]]).
    * Planted before replication; the per-replica sign flip preserves
    * within-replica cosines exactly, so each replica carries its own
    * planted pairs and cross-replica cosines stay decorrelated. */
  private def plantedEmbs(embs: DataFrame): DataFrame =
    embs.unionByName(
      embs.filter(col("vec_id") % 8 === 1)
        .select((col("vec_id") + PlantOffset).as("vec_id"),
          flipLowest(col("embedding"), 2).as("embedding"),
          col("label")))

  private def genFixture(s: SparkSession, base: String, out: String,
      m: Int): String = {
    val dir = s"$out/x$m"
    val ok = new java.io.File(s"$dir/_PROBE_OK")
    if (!ok.exists()) {
      val docs = s.read.parquet(s"$base/documents.parquet")
      (0 until m).map { r =>
        docs.select((col("doc_id") + lit(r * Offset)).as("doc_id"),
          cipher(col("text"), r).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val embs = s.read.parquet(s"$base/embeddings.parquet")
      (0 until m).map { r =>
        embs.select((col("vec_id") + lit(r * Offset)).as("vec_id"),
          signFlip(col("embedding"), r).as("embedding"), col("label"))
      }.reduce(_ unionByName _)
        .repartition(8)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      ok.createNewFile()
    }
    dir
  }

  /** SPARSE-regime blow-up (round-11 verdict item 1): the same
    * replica laws as [[genFixture]] over the PLANTED base
    * ([[plantedDocs]] / [[plantedEmbs]]), written to `x<m>s`. The
    * committed sf fixtures are untouched (260 oracle hashes pin
    * them); realism lives in the probe blow-ups. */
  private def genSparseFixture(s: SparkSession, base: String,
      out: String, m: Int): String = {
    // both sparse decorrelators have finite replica ranges: rotateFrac
    // degenerates to the identity at r ≥ 31 (k = ⌊len·r/31⌋ ≥ len) and
    // the dim rotation loses its distinct-shift guarantee at r ≥ 64 —
    // either silently reintroduces the measured quadratic
    // cross-replica background, so fail loudly instead
    require(m <= 31,
      s"sparse fixtures support at most 31 replicas (got $m): the " +
        "per-replica rotation laws lose decorrelation beyond that")
    val dir = s"$out/x${m}s"
    // _PROBE_OK2: the v1 sparse fixtures (pre-sparseSignFlip) must
    // regenerate — the marker name versions the fixture law
    val ok = new java.io.File(s"$dir/_PROBE_OK2")
    if (!ok.exists()) {
      val docs = plantedDocs(s.read.parquet(s"$base/documents.parquet"))
      (0 until m).map { r =>
        docs.select((col("doc_id") + lit(r * Offset)).as("doc_id"),
          rotateFrac(cipher(col("text"), r), r).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val embs = plantedEmbs(s.read.parquet(s"$base/embeddings.parquet"))
      (0 until m).map { r =>
        embs.select((col("vec_id") + lit(r * Offset)).as("vec_id"),
          sparseEmbReplica(col("embedding"), r).as("embedding"),
          col("label"))
      }.reduce(_ unionByName _)
        .repartition(8)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      ok.createNewFile()
    }
    dir
  }

  /** The scale-critical registered queries (verdict list): pair
    * generation, cluster build, the four modalities' incremental
    * queries, index upserts, cluster maintenance. qNN order = owners
    * before consumers. */
  private val ProbeNames = Seq(
    "q31_jaccard_pairs", "q32_minhash_lsh_pairs", "q55_dup_clusters",
    "q238_incremental_dedup", "q240_index_upsert",
    "q242_incremental_lsh", "q243_cluster_upsert",
    "q245_incremental_embed", "q246_cluster_retract",
    "q250_incremental_payload", "q251_fp_upsert", "q253_lsh_upsert")

  private def log2ceil(m: Int): Int =
    math.ceil(math.log(m.toDouble) / math.log(2.0)).toInt

  /** Occupancy-normalized companions — (name, scale-aware fn). */
  private def extraProbes(m: Int)
      : Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q245x_emb_scaled_bits" -> { (s: SparkSession, d: String) =>
      val bits = 16 + log2ceil(m)
      val emb = Tables.embeddings(s, d)
      SimSearch.incrementalCosinePairsLsh(
        SimSearch.corpusEmbeddingLshIndex(
          emb.filter(col("vec_id") % 5 =!= 3), bits, tables = 4),
        emb.filter(col("vec_id") % 5 === 3),
        threshold = 0.25, bits = bits, tables = 4)
    },
    "q250x_fp_scaled_blocks" -> { (s: SparkSession, d: String) =>
      val blocks = 4 * (8 + log2ceil(m))
      def fps(dfFilter: Column) = Multimodal.blockhashFingerprints(
        Multimodal.mediaTable(
          Tables.documents(s, d).filter(dfFilter)), "doc_id", blocks)
      val (idx, cf) = Dedup.corpusFingerprintIndex(
        fps(col("doc_id") % 5 =!= 3), bits = blocks, slices = 4)
      Dedup.incrementalFingerprintPairs(idx, cf,
        fps(col("doc_id") % 5 === 3),
        bits = blocks, slices = 4, maxHamming = 3)
    })

  /** SPARSE-regime cells (round-11 verdict item 1) — run against the
    * `x<m>s` planted fixtures at the operating point where the
    * threshold actually BINDS, so the qualifying-pair graph is the
    * sparse one a real corpus has (the dense cells measure the
    * adversarial worst case — output ~m²; these measure the
    * production shape — planted output ~m):
    *
    *  - embeddings at threshold 0.6 (background ≈ none, planted pairs
    *    ≥ 0.9375 by [[flipLowest]] construction), q245/q259 parameters
    *    otherwise (bits 16, tables 4);
    *  - payloads at the WIDTH-SCALED fingerprint the production dial
    *    prescribes (blocks = 4·(8 + ⌈log₂ m⌉) — the q250x law), where
    *    background slice collisions stay rare while planted pairs sit
    *    at Hamming ≤ 2 by [[swapFirstTwo]] construction (pigeonhole
    *    recall is exact at ANY width). A fixed-32-bit sparse cell
    *    would re-measure key-space saturation, which the dense
    *    q250/q250x pair already adjudicates.
    *
    * The chain cells run the EXACT oracle-checked five-stage plans
    * ([[ExtQueries.embLifecycleChain]] / [[ExtQueries
    * .fpLifecycleChain]]) with their stage-1 state built inline —
    * self-consistent across scales, so like the dense chain readings
    * each number INCLUDES the full corpus state build. */
  private def sparseProbes(m: Int)
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val fpBlocks = 4 * (8 + log2ceil(m))
    Seq(
      "q245s_emb_sparse" -> { (s: SparkSession, d: String) =>
        val emb = Tables.embeddings(s, d)
        SimSearch.incrementalCosinePairsLsh(
          SimSearch.corpusEmbeddingLshIndex(
            emb.filter(col("vec_id") % 5 =!= 3), bits = 16, tables = 4),
          emb.filter(col("vec_id") % 5 === 3),
          threshold = 0.6, bits = 16, tables = 4)
      },
      "q250s_fp_sparse" -> { (s: SparkSession, d: String) =>
        def fps(dfFilter: Column) = Multimodal.blockhashFingerprints(
          Multimodal.mediaTable(
            Tables.documents(s, d).filter(dfFilter)), "doc_id", fpBlocks)
        val (idx, cf) = Dedup.corpusFingerprintIndex(
          fps(col("doc_id") % 5 =!= 3), bits = fpBlocks, slices = 4)
        Dedup.incrementalFingerprintPairs(idx, cf,
          fps(col("doc_id") % 5 === 3),
          bits = fpBlocks, slices = 4, maxHamming = 3)
      },
      "q259s_emb_sparse_chain" -> { (s: SparkSession, d: String) =>
        val emb = Tables.embeddings(s, d)
        val corpus = emb.filter(col("vec_id") % 5 =!= 3)
        val index0 = SimSearch.corpusEmbeddingLshIndex(corpus,
            bits = 16, tables = 4)
          .localCheckpoint(eager = true) // the inline stage-1 state
        // pairs computed ONCE and handed to both consumers (clusters0
        // build + the chain's retraction fold) — the same
        // compute-once posture q259 gets from the persisted
        // embpairs scratch (round-14 verdict item 8)
        val pairs0 = SimSearch.cosinePairsFromIndex(index0,
            threshold = 0.6)
          .select(col("id_a"), col("id_b"))
          .localCheckpoint(eager = true)
        val clusters0 = Dedup.dupClusters(
          pairs0, corpus.select("vec_id"), "vec_id")
        ExtQueries.embLifecycleChain(emb, index0, pairs0, clusters0,
          threshold = 0.6, bits = 16, tables = 4)
      },
      "q260s_fp_sparse_chain" -> { (s: SparkSession, d: String) =>
        val docs = Tables.documents(s, d)
        val cfps = Multimodal.blockhashFingerprints(
            Multimodal.mediaTable(docs.filter(col("doc_id") % 5 =!= 3)),
            "doc_id", fpBlocks)
          .localCheckpoint(eager = true) // the inline stage-1 state
        val index0 = Dedup.corpusFingerprintIndex(cfps,
            bits = fpBlocks, slices = 4)._1
          .localCheckpoint(eager = true)
        // pairs computed ONCE and handed to both consumers (clusters0
        // build + the chain's retraction fold) — the same
        // compute-once posture q260 gets from the persisted fppairs
        // scratch (round 15)
        val pairs0 = Dedup.fingerprintPairsFromIndex(index0, cfps,
            maxHamming = 3)
          .select(col("id_a"), col("id_b"))
          .localCheckpoint(eager = true)
        val clusters0 = Dedup.dupClusters(
          pairs0, cfps.select("pid"), "pid")
        ExtQueries.fpLifecycleChain(docs, index0, cfps, pairs0,
          clusters0, blocks = fpBlocks, slices = 4, maxHamming = 3)
      })
  }

  /** DENSE-CHAIN stress cells (round-17 verdict item 1): the
    * ADVERSARIAL embedding-lifecycle operating point that used to be
    * the benched q259 — threshold 0.25 on the synthetic near-random
    * vectors admits a ~2.2%-dense qualifying-pair graph, the regime a
    * production corpus does not have but a worst case must stay
    * measured in. Re-homed here as an OPT-IN cell family
    * (SPARK_GRAFT_PROBE_CELLS=densechain — deliberately NOT in "all":
    * the dense pair graph grows ~m² and would blow the standard
    * multi-scale probe budget) while the benched q259 now measures
    * the sparse production shape at threshold 0.6. Same inline
    * stage-1-state protocol as the sparse chain cells, so the number
    * INCLUDES the full corpus state build. */
  private def denseChainProbes(m: Int)
      : Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q259d_emb_dense_chain" -> { (s: SparkSession, d: String) =>
      val emb = Tables.embeddings(s, d)
      val corpus = emb.filter(col("vec_id") % 5 =!= 3)
      val index0 = SimSearch.corpusEmbeddingLshIndex(corpus,
          bits = 16, tables = 4)
        .localCheckpoint(eager = true)
      val pairs0 = SimSearch.cosinePairsFromIndex(index0,
          threshold = 0.25)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint(eager = true)
      val clusters0 = Dedup.dupClusters(
        pairs0, corpus.select("vec_id"), "vec_id")
      ExtQueries.embLifecycleChain(emb, index0, pairs0, clusters0,
        threshold = 0.25, bits = 16, tables = 4)
    })

  /** Release every cached/checkpointed block — the measurement-loop
    * cleanup (`run()`'s finally and the untimed row-count pass): each
    * query's eager localCheckpoint memos would otherwise accumulate
    * for the whole run and pollute later samples. */
  private def releaseBlocks(s: SparkSession): Unit = {
    s.sharedState.cacheManager.clearCache()
    s.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_PROBE_WARM_DIR",
      "/root/testdata/sf0.01")
    val out = sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT",
      "target/scaleprobe")
    val scales = sys.env.getOrElse("SPARK_GRAFT_PROBE_SCALES", "1,3,10")
      .split(",").map(_.trim.toInt).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // Bench's block-release discipline: localCheckpoint blocks must not
    // leak across measurements
    def run(fn: (SparkSession, String) => DataFrame, d: String): Unit =
      try fn(spark, d).write.format("noop").mode("overwrite").save()
      finally releaseBlocks(spark)
    // Bench's failure discipline: a crashed sample records -1, the
    // probe continues (one scale's blow-up must not lose the run)
    def timed(fn: (SparkSession, String) => DataFrame, d: String)
        : Double = {
      val t0 = System.nanoTime()
      try { run(fn, d); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[probe] failed: ${e.getMessage}")
        -1.0
      }
    }

    val byName = SparkEntry.queries
    val owners = ExtQueries.sharedScratchOwners
    // which cell families to run, as a comma-separated set: "dense"
    // (the round-11 set), "sparse" (the planted-fixture set),
    // "densechain", or "all" (= dense + sparse, the committed-exponent
    // cells). A sparse-only run neither generates nor touches the
    // dense blow-ups (and vice versa), so adding a regime never forces
    // re-measuring the other's committed exponents.
    val cellSet = sys.env.getOrElse("SPARK_GRAFT_PROBE_CELLS", "all")
      .split(",").map(_.trim).toSet
    val known = Set("dense", "sparse", "densechain", "all")
    require(cellSet.nonEmpty && cellSet.subsetOf(known),
      "SPARK_GRAFT_PROBE_CELLS must be a comma-separated subset of " +
        s"dense|sparse|densechain|all, got " + cellSet.toString)
    val withDense = cellSet("dense") || cellSet("all")
    val withSparse = cellSet("sparse") || cellSet("all")
    // opt-in: the dense chain's pair graph grows ~m², so it must never
    // ride into a multi-scale "all" run
    val withDenseChain = cellSet("densechain")

    val dirs =
      if (withDense || withDenseChain)
        scales.map(m => m -> genFixture(spark, base, out, m)).toMap
      else Map.empty[Int, String]
    val sparseDirs =
      if (withSparse)
        scales.map(m => m -> genSparseFixture(spark, base, out, m)).toMap
      else Map.empty[Int, String]
    System.err.println(
      s"[probe] fixtures ready: dense=$dirs sparse=$sparseDirs")

    // (name, fn, fixture dir) for one scale
    def cells(m: Int)
        : Seq[(String, (SparkSession, String) => DataFrame, String)] = {
      val dense =
        if (withDense)
          (ProbeNames.map(n => n -> byName(n)) ++ extraProbes(m))
            .map { case (n, f) => (n, f, dirs(m)) }
        else Nil
      val sparse =
        if (withSparse)
          sparseProbes(m).map { case (n, f) => (n, f, sparseDirs(m)) }
        else Nil
      val denseChain =
        if (withDenseChain)
          denseChainProbes(m).map { case (n, f) => (n, f, dirs(m)) }
        else Nil
      dense ++ sparse ++ denseChain
    }

    // warm-up: same plans, small data, separate scratch namespace
    // (sparse plans warm on the raw small fixture too — identical
    // shapes, JIT/codegen is what the warm-up is for). Built WITHOUT
    // consulting the fixture-dir maps: a single-leg re-measure run
    // (SPARK_GRAFT_PROBE_SCALES=30 for the merge workflow) has no
    // scale-1 entry there, and the warm-up must not key into it
    val warmCells: Seq[(SparkSession, String) => DataFrame] =
      (if (withDense)
        ProbeNames.map(byName) ++ extraProbes(1).map(_._2)
      else Nil) ++
        (if (withSparse) sparseProbes(1).map(_._2) else Nil) ++
        (if (withDenseChain) denseChainProbes(1).map(_._2) else Nil)
    warmCells.foreach { fn =>
      try run(fn, warmDir) catch { case _: Throwable => }
    }
    System.err.println("[probe] warm-up done")

    // scale -> query -> (tMin, rows)
    val results = scales.map { m =>
      val perQuery = cells(m).map { case (name, fn, d) =>
        val t1 = timed(fn, d)
        if (owners.contains(name)) ExtQueries.resetSharedScratch(name)
        val t2 = timed(fn, d)
        // the untimed row-count pass releases its blocks too — its
        // localCheckpoint blocks would otherwise leak INTO the next
        // query's t1 sample
        val rows =
          try fn(spark, d).count()
          catch { case _: Throwable => -1L }
          finally releaseBlocks(spark)
        // min of the SUCCESSFUL samples; -1 only when both crashed
        val t = Seq(t1, t2).filter(_ >= 0) match {
          case Nil => -1.0; case ok => ok.min
        }
        System.err.println(f"[probe] x$m $name%-24s " +
          f"t1=$t1%7.2f t2=$t2%7.2f rows=$rows%9d")
        name -> (t, rows)
      }
      m -> perQuery
    }

    // one JSON document: per query, per scale, time + rows + two
    // exponents — alpha over the full span (min→max scale; includes
    // the fixed per-query overhead that dominates small runs) and
    // alpha_tail over the two LARGEST scales, where constant costs
    // have washed out and the data-dependent exponent shows
    val sorted = scales.sorted
    val m0 = sorted.head; val mN = sorted.last
    val mT = if (sorted.size >= 2) sorted(sorted.size - 2) else m0
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.3f",
      Double.box(v))
    val names = results.head._2.map(_._1)
    def tOf(m: Int, n: String): Double =
      results.find(_._1 == m).get._2.find(_._1 == n).get._2._1
    val q = names.map { n =>
      val per = results.map { case (m, rs) =>
        val (t, rows) = rs.find(_._1 == n).get._2
        s""""x$m":{"sec":${fmt(t)},"rows":$rows}"""
      }.mkString(",")
      def expo(a: Int, b: Int): String =
        // b == a guard: a single-scale run would divide by log(1) = 0
        // and emit a bare NaN — invalid JSON
        if (b == a || tOf(a, n) <= 0 || tOf(b, n) <= 0) "null"
        else fmt(math.log(tOf(b, n) / tOf(a, n)) /
          math.log(b.toDouble / a))
      val ratio =
        if (tOf(m0, n) <= 0 || tOf(mN, n) <= 0) "null"
        else fmt(tOf(mN, n) / tOf(m0, n))
      s""""$n":{$per,"ratio":$ratio,"alpha":${expo(m0, mN)},""" +
        s""""alpha_tail":${expo(mT, mN)}}"""
    }.mkString(",")
    // env-derived strings are escaped before interpolation into the
    // JSON document (round-11 advice: a base path containing a quote
    // or backslash would otherwise emit invalid JSON that the
    // committed-artifact merge pipeline then fails to parse)
    def jstr(v: String): String =
      "\"" + v.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val json = s"""{"probe":"scale","base":${jstr(base)},"scales":[${
      scales.mkString(",")}],"queries":{$q}}"""
    // single-run output stays under the probe dir: the COMMITTED
    // SCALEPROBE_rN.json is the multi-run adjudicated merge owned by
    // scripts/scaleprobe_merge.py (per-cell min + all samples), and a
    // casual re-run must not clobber that audit trail
    val outJson = sys.env.getOrElse("SPARK_GRAFT_PROBE_JSON",
      s"$out/scaleprobe_run.json")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outJson), json + "\n")
    println(json)
    spark.stop()
  }
}

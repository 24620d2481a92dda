package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The maintenance half of the dedup lifecycle — index upserts and
  * retractions and cluster-table merge/split maintenance — mixed into
  * [[Dedup]] (same API surface, split out of the monolith).
  *
  * Every verb is a pure DataFrame → DataFrame function over in-memory
  * state: the caller owns persistence. Each one keeps the incremental
  * maintenance invariant "the incremental answer equals recomputation"
  * — the maintained index or cluster table equals the fresh build over
  * the updated corpus (the q240–q261 oracles and DedupSpec pin this),
  * up to the documented capped-shingle asymmetry of
  * [[retractShingleIndex]]. The `localCheckpoint` calls are
  * compute-once memos for frames consumed several times; correctness
  * never depends on them.
  */
private[graft] trait DedupMaintenance { this: Dedup.type =>

  /** Merge a new batch into a persisted [[corpusShingleIndex]] WITHOUT
    * re-scanning corpus text — the maintenance half of the cross-run
    * story ([[incrementalJaccardPairs]] consumes the index, this
    * produces the NEXT run's): dfs add; posting lists concatenate (and
    * re-sort — corpus and batch ids are disjoint but interleave) while
    * the merged df stays ≤ cap, and null out once df > cap — exactly
    * what a fresh build over corpus∪batch would store. A capped row's
    * list is unrecoverable AND never needed: df only grows, so the
    * shingle can never re-enter the universe. Equality with the fresh
    * [[corpusShingleIndex]] over corpus∪batch is the q240 oracle and a
    * DedupSpec assertion.
    *
    * Scale shape: one shuffle groups batch postings; one sh-keyed
    * full-outer join against the index (zero-exchange SMJ when the
    * index is bucketed by sh); the merge itself is a map-side array
    * concat bounded by maxDf. Corpus text is never rescanned — index
    * maintenance costs O(batch), the recrawl requirement. */
  def upsertShingleIndex(index: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, k: Int, maxDf: Int): DataFrame = {
    val bPost = postings(batch, idCol, textCol, k)
      .groupBy("sh")
      .agg(sort_array(collect_list(col("pid"))).as("bpids"))
      .localCheckpoint(eager = false) // consumed by merge AND new-keys
    // typed empty array: slice of whichever side is present, so the
    // merge stays generic over the id type
    def emptyLike = slice(coalesce(col("cpids"), col("bpids")),
      lit(1), lit(0))
    // round 19 (guide §3.1/§2.4, the upsertPostingsIndex decomposition):
    // the old FULL-OUTER merge was broadcast-ineligible and re-sorted
    // the whole index to absorb a small delta. Same rows as a LEFT
    // merge (AQE broadcasts the grouped delta — the index payload never
    // shuffles) plus a keys-only LEFT-ANTI for never-seen shingles
    // (only the index's sh projection crosses that exchange).
    val dfNew = col("df_c") +
      coalesce(size(col("bpids")).cast("long"), lit(0L))
    val merged = index.join(bPost, Seq("sh"), "left")
      .select(col("sh"), dfNew.as("df_c"),
        when(dfNew <= maxDf,
          sort_array(concat(coalesce(col("cpids"), emptyLike),
            coalesce(col("bpids"), emptyLike))))
          .as("cpids"))
    val dfB = size(col("bpids")).cast("long")
    val fresh = bPost
      .join(index.select("sh"), Seq("sh"), "left_anti")
      .select(col("sh"), dfB.as("df_c"),
        when(dfB <= maxDf, sort_array(col("bpids"))).as("cpids"))
    merged.unionByName(fresh)
  }

  /** Retract deleted documents from a persisted [[corpusShingleIndex]]
    * — [[upsertShingleIndex]]'s inverse, completing the index
    * lifecycle (build / upsert / retract). The takedown request
    * carries the deleted docs (id + text — a deletion always knows
    * what it deletes), so their postings recompute exactly: dfs
    * decrement by each shingle's deleted-member count; ≤-cap posting
    * lists drop the deleted ids; rows whose df reaches 0 vanish —
    * for the ≤-cap half this IS the fresh rebuild over the retained
    * corpus (DedupSpec equality).
    *
    * The honest asymmetry, stated not hidden: a HOT row (df > cap,
    * list dropped at build time) keeps its NULL list even if the
    * deletion cools its df back under the cap — the members are
    * unrecoverable from capped state. Its df still decrements (so
    * later upserts keep exact counts), but the shingle cannot
    * re-enter the candidate universe: the CONSERVATIVE direction
    * (pairs are never fabricated, some newly-eligible pairs are
    * missed until the next full rebuild), the same trade every
    * tombstone-based production index takes, and the q247 oracle pins
    * exactly these semantics — including the never-cools-back rule.
    * CONTRACT: `deletedDocs` ⊆ the corpus the index was built over
    * (foreign deletions would corrupt dfs). Duplicate rows for the
    * same id WITHIN one request are tolerated: the request is deduped
    * by id first, so a doubled row is not a double-decrement (round-9
    * advice). Re-delivery ACROSS calls stays excluded by the
    * ⊆-live-corpus contract above — after call one the doc is no
    * longer in the corpus the index represents — and cannot be made
    * safe from the index alone: hot rows carry NULL lists, so a
    * doc's liveness is not derivable here (unlike [[upsertClusters]],
    * whose anti-join against the persisted table sees every id). A
    * pipeline retrying takedowns must dedupe against its processed-set
    * (e.g. the retained-docs table it maintains anyway).
    *
    * Scale shape: one shuffle groups the deleted postings (O(deleted));
    * one sh-keyed LEFT join against the index (zero-exchange SMJ when
    * the index is bucketed by sh); the list subtraction is a map-side
    * array_except bounded by the cap. Retained corpus text is never
    * rescanned. */
  def retractShingleIndex(index: DataFrame, deletedDocs: DataFrame,
      idCol: String, textCol: String, k: Int, maxDf: Int): DataFrame = {
    // dedupe by id BEFORE postings: a re-delivered takedown row would
    // otherwise double-count in dpids and double-decrement df_c (a row
    // could be dropped by the df_c >= 1 filter while cpids still holds
    // live members). O(deleted) — tiny next to the postings explode.
    val dPost = postings(deletedDocs.dropDuplicates(idCol), idCol,
        textCol, k)
      .groupBy("sh")
      .agg(sort_array(collect_list(col("pid"))).as("dpids"))
    index.join(dPost, Seq("sh"), "left")
      .select(col("sh"),
        (col("df_c") - coalesce(size(col("dpids")).cast("long"),
          lit(0L))).as("df_c"),
        when(col("cpids").isNotNull,
          when(col("dpids").isNull, col("cpids"))
            // per-shingle pids are distinct, so array_except is exact
            // set subtraction and preserves the sorted order
            .otherwise(array_except(col("cpids"), col("dpids"))))
          .as("cpids"))
      .filter(col("df_c") >= 1)
  }

  /** Merge a batch's BANDED postings into a persisted posting index
    * (MinHash band keys, fingerprint slice keys — any (keys…, pid)
    * posting shape): per key, the id lists union and re-sort. Unlike
    * the exact-shingle index there is no df bookkeeping — banded
    * indexes keep every posting — so the merged index equals the fresh
    * rebuild EXACTLY (the q251/q253 oracles), including on keys the
    * corpus has never seen.
    *
    * Scale shape: O(batch) postings shuffle to group the delta, then a
    * key-keyed LEFT join of the index against the grouped delta
    * (broadcast when small, so the index payload never shuffles) with
    * a map-side array union, plus a keys-only LEFT-ANTI join that adds
    * the keys the corpus has never seen — the corpus is never
    * rescanned. */
  def upsertPostingsIndex(index: DataFrame, batchPostings: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    // the empty-list element type derives from the index's own cpids
    // schema, so non-bigint pid spaces (string ids etc.) work as long
    // as index and delta agree — the operator is generic over keyCols
    // AND pid type (round-10 advice: the old array<bigint> hardcode
    // failed analysis for any other id type)
    val ct = index.schema("cpids").dataType.sql
    val bp = batchPostings
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_set(col("pid"))).as("bpids"))
      .localCheckpoint(eager = false) // consumed by merge AND new-keys
    // round 19 (guide §3.1/§2.4): the old single FULL-OUTER join forced
    // both sides through a key shuffle — a broadcast-ineligible join
    // shape that re-sorted the ENTIRE index (lists included) to merge a
    // small delta. Decomposed into the same rows: a LEFT join (the
    // planner/AQE broadcasts the grouped delta when it is small, so the
    // index payload never shuffles) plus a keys-only LEFT-ANTI for keys
    // the corpus has never seen (only the index's narrow key projection
    // crosses that exchange, never the posting lists). Per key the
    // merge expression is unchanged, so the output rows are identical.
    val merged = index.join(bp, keyCols, "left")
      .select(keyCols.map(col) :+
        sort_array(array_union(
          coalesce(col("cpids"), array().cast(ct)),
          coalesce(col("bpids"), array().cast(ct))))
          .as("cpids"): _*)
    val fresh = bp
      .join(index.select(keyCols.map(col): _*), keyCols, "left_anti")
      .select(keyCols.map(col) :+
        sort_array(col("bpids")).as("cpids"): _*)
    merged.unionByName(fresh)
  }

  /** Remove deleted docs' postings from a persisted BANDED posting
    * index — [[upsertPostingsIndex]]'s inverse and the banded sibling
    * of [[retractShingleIndex]], but with a STRONGER contract: no df
    * bookkeeping exists, so the retracted index equals the fresh
    * rebuild over the retained docs EXACTLY (the q252 oracle) — none
    * of the exact path's pinned cooled-hot-row asymmetry.
    * `array_except` is set subtraction, so a RE-DELIVERED takedown is
    * a no-op by construction (no dedupe step needed); keys whose list
    * empties drop, exactly as a fresh build would never emit them.
    * CONTRACT: `deletedPostings` keys must come from the SAME
    * fingerprint/signature the index was built with — which the
    * persisted fingerprint table supplies for free
    * ([[fingerprintPostings]] over its deleted rows), so takedowns
    * never rescan payloads.
    *
    * Scale shape: O(deleted) postings shuffle, ONE key-keyed left
    * join, map-side array subtraction — corpus never rescanned. */
  def retractPostingsIndex(index: DataFrame, deletedPostings: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val dp = deletedPostings
      .groupBy(keyCols.map(col): _*)
      .agg(collect_set(col("pid")).as("dpids"))
    index.join(dp, keyCols, "left")
      .select(keyCols.map(col) :+
        when(col("dpids").isNotNull,
          array_except(col("cpids"), col("dpids")))
          .otherwise(col("cpids")).as("cpids"): _*)
      .filter(size(col("cpids")) >= 1)
  }

  /** Incremental cluster-table MERGE: fold a batch's near-dup pairs
    * into a persisted (id, cluster) table without re-clustering the
    * corpus. Labels are min-ids, so a merge of components relabels to
    * the min of the merged label set; docs in no delta component keep
    * their labels untouched; unseen batch ids enter as their own id
    * (singletons) unless a delta edge binds them. Equal to the fresh
    * [[dupClusters]] over corpus∪batch pairs (the q243 oracle) under
    * the stated contract.
    *
    * Scale shape: everything iterative runs on the CONTRACTED label
    * graph — ≤ 2·|newPairs| nodes regardless of corpus size — via the
    * same pointer-jumping core as [[dupClusters]] (O(log diameter)
    * rounds over the delta, not the corpus). The persisted cluster
    * table is touched exactly once, by one relabel join against the
    * ≤ 2·|newPairs|-row label mapping (broadcast at any realistic
    * delta size — map-side, no corpus shuffle); corpus pairs and
    * corpus text are never re-read. CONTRACT: `clusters` covers every
    * corpus id (dupClusters emits singletons); `newIds` are the batch
    * doc ids (disjoint from the corpus — known ids are dropped via
    * anti-join so re-delivery is harmless); `newPairs` touch only
    * corpus ∪ `newIds` ids. */
  def upsertClusters(clusters: DataFrame, newPairs: DataFrame,
      newIds: DataFrame, idCol: String,
      ordered: Boolean = true): DataFrame = {
    val cur = clusters.select(col(idCol).as("id"), col("cluster"))
    val mapping = clusterMergeMapping(cur, newPairs)
    // ONE pass over the persisted table: relabel merged clusters
    val corpusOut = cur
      .join(mapping, cur("cluster") === mapping("lbl"), "left")
      .select(col("id"), coalesce(col("new_lbl"), col("cluster"))
        .as("cluster"))
    val batchOut = batchClusterLabels(cur, mapping, newIds, idCol)
    val out = corpusOut.unionByName(batchOut)
      .select(col("id").as(idCol), col("cluster"))
    // ordered=false (round-19, guide §2.4 "an orderBy used only to make
    // output deterministic"): mid-chain consumers (retractClusters, the
    // lifecycle report joins) destroy row order immediately, so the
    // range sort — and its sampling re-execution of this frame's
    // lineage — is pure waste there. The query surface (q243) keeps the
    // ordered default, so no declared output moves.
    if (ordered) out.orderBy(idCol) else out
  }

  /** The label-space MERGE MAPPING at the heart of [[upsertClusters]]:
    * given the current (id, cluster) table and the delta pairs,
    * contract the delta to label space (own id for unseen batch docs),
    * run components over the CONTRACTED graph only (≤ 2·|newPairs|
    * nodes regardless of corpus size), and return the (lbl → new_lbl)
    * rows for labels that actually MERGE — identity rows drop, so
    * untouched clusters never meet the relabel join. Endpoint labels
    * are the only lookups made in `cur`. */
  private def clusterMergeMapping(cur: DataFrame, newPairs: DataFrame)
      : DataFrame = {
    val pairs = newPairs.select(col("id_a"), col("id_b"))
      .localCheckpoint(eager = false) // consumed by ends AND labelEdges
    val ends = pairs.select(col("id_a").as("id"))
      .unionByName(pairs.select(col("id_b").as("id")))
      .dropDuplicates("id")
    // current label of each delta endpoint: persisted cluster for
    // corpus docs, own id for unseen (batch) docs
    val endLabels = ends.join(cur, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("lbl"))
      .localCheckpoint(eager = false) // consumed twice (both endpoints)
    // contract the delta to label space; self-edges (both endpoints
    // already in one component) vanish here
    val labelEdges = pairs
      .join(endLabels.select(col("id").as("id_a"), col("lbl").as("lbl_a")),
        Seq("id_a"))
      .join(endLabels.select(col("id").as("id_b"), col("lbl").as("lbl_b")),
        Seq("id_b"))
      .select(col("lbl_a").as("id_a"), col("lbl_b").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .localCheckpoint(eager = false) // consumed by nodes AND components
    val labelNodes = labelEdges.select(col("id_a").as("lbl"))
      .unionByName(labelEdges.select(col("id_b").as("lbl")))
      .dropDuplicates("lbl")
    dupClusters(labelEdges, labelNodes, "lbl", ordered = false)
      .select(col("lbl"), col("cluster").as("new_lbl"))
      .filter(col("new_lbl") =!= col("lbl"))
  }

  /** Batch docs' cluster labels under a merge mapping — the batch half
    * of [[upsertClusters]]. Unseen ids only (the anti-join against
    * `cur` makes re-delivery harmless); a doc a delta edge touched maps
    * through the mapping keyed on its own id (its current label),
    * anyone else is a singleton with its own id. Returns
    * (id, cluster). */
  private def batchClusterLabels(cur: DataFrame, mapping: DataFrame,
      newIds: DataFrame, idCol: String): DataFrame =
    newIds.select(col(idCol).as("id"))
      .join(cur.select(col("id")), Seq("id"), "left_anti")
      .join(mapping.withColumnRenamed("lbl", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("new_lbl"), col("id"))
        .as("cluster"))

  /** Incremental cluster RETRACTION — the deletion half of the cluster
    * lifecycle ([[dupClusters]] builds, [[upsertClusters]] merges, this
    * retracts): given the persisted cluster table, the persisted pair
    * table, and a set of deleted doc ids (takedowns, right-to-be-
    * forgotten, license revocations — a real obligation for a training
    * corpus), return the cluster table over the retained docs equal to
    * a fresh [[dupClusters]] over the retained pair subgraph.
    *
    * Deletion is structurally harder than merge: removing a doc can
    * SPLIT its component (it may have been the only bridge), so labels
    * cannot be patched algebraically. But the damage is CONTAINED: only
    * components holding a deleted doc can change (an unaffected
    * component keeps its members, hence its min-id label), and a pair
    * can never cross components, so re-clustering the affected
    * components' surviving pair subgraph — and nothing else — is
    * exact. Cost: one id-keyed semi-join of the cluster table against
    * the deleted set, two label-keyed semi/anti joins against the
    * ≤ |deleted|-cluster affected set (broadcast), two endpoint
    * semi-joins pruning the pair table, plus pointer jumping over the
    * affected subgraph only.
    *
    * CONTRACT: the persisted PAIR table is the source of truth — the
    * output is the clustering of the RETAINED pairs. A deletion that
    * cools a hot shingle back under the df-cap could create pairs that
    * a from-scratch rerun over the shrunken corpus would newly emit;
    * a capped index cannot recover those (hot posting lists were
    * dropped), so this operator is deliberately the CONSERVATIVE
    * direction every tombstone-based production dedup takes: it never
    * fabricates a merge, and the q246 oracle (fresh components over
    * the retained pair set) pins exactly that semantics. */
  def retractClusters(clusters: DataFrame, pairs: DataFrame,
      deletedIds: DataFrame, idCol: String,
      ordered: Boolean = true): DataFrame = {
    val del = deletedIds.select(col(idCol).as("id"))
      .localCheckpoint(eager = false) // consumed by affected + survivors
    val cur = clusters.select(col(idCol).as("id"), col("cluster"))
    // only components holding a deleted doc can change structure
    val affected = cur.join(del, Seq("id"), "left_semi")
      .select(col("cluster")).dropDuplicates("cluster")
      .localCheckpoint(eager = false) // consumed by members + untouched
    val survivors = cur.join(affected, Seq("cluster"), "left_semi")
      .select(col("id"))
      .join(del, Seq("id"), "left_anti")
      .localCheckpoint(eager = false) // consumed by sub (×2) + relabel
    // surviving pair subgraph of the affected components (pairs never
    // cross components, so semi-joining both endpoints to affected
    // survivors is exactly the subgraph that needs re-clustering)
    val sub = pairs.select(col("id_a"), col("id_b"))
      .join(survivors.withColumnRenamed("id", "id_a"), Seq("id_a"),
        "left_semi")
      .join(survivors.withColumnRenamed("id", "id_b"), Seq("id_b"),
        "left_semi")
    val relabeled = dupClusters(sub,
      survivors.select(col("id").as(idCol)), idCol, ordered = false)
    val untouched = cur.join(affected, Seq("cluster"), "left_anti")
      .select(col("id").as(idCol), col("cluster"))
    val out = untouched
      .unionByName(relabeled.select(col(idCol), col("cluster")))
    // ordered=false: see upsertClusters — the lifecycle chains feed
    // this straight into the report join, which destroys row order;
    // q246 (the query surface) keeps the ordered default.
    if (ordered) out.orderBy(idCol) else out
  }
}

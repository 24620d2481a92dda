package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Aggregate suite — SURVEY.md §2.5-2.6 (frequency tables, centroids,
  * null profiling, medians, summary stats, rollup, pivot, correlation,
  * per-group top-k).
  *
  * Scale notes:
  *  - Every groupBy here is partial-aggregated map-side (HashAggregate
  *    partial → shuffle on the group key → final); the shuffle carries only
  *    (key, accumulator) pairs, not rows.
  *  - [[rollupCounts]] replaces the reference's three separate shuffles
  *    (`Preprocessing.py:296-327`) with one `rollup` pass.
  *  - [[nullProfile]] is the single-pass conditional-sum form
  *    (`Preprocessing.py:32-36`), NOT the O(columns) filter/count loop
  *    anti-pattern (`Preprocessing.py:43-46`).
  *  - Double aggregation uses exact DECIMAL accumulation so results are
  *    independent of partitioning/accumulation order — required both for
  *    the DuckDB oracle hash-compare and for run-to-run determinism on a
  *    real cluster.
  */
object Aggregates {

  /** Exact order-independent sum of a ≤2-decimal double column, returned as
    * double. */
  def sumExact(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** Exact sum of squares / products (6-decimal grid, 32 integer digits —
    * headroom for ~1e12-row groups). */
  def sumExact6(c: Column): Column =
    sum(c.cast("decimal(38,6)")).cast("double")

  /** Exact mean as exact-sum / count (bit-deterministic double division). */
  def avgExact(c: Column): Column = sumExact(c) / count(lit(1))

  /** Frequency table — THE dominant reference shape (~25 sites,
    * `Preprocessing.py:203` et al.): groupBy(keys).count, ordered count
    * desc then keys asc for determinism. */
  def freqTable(df: DataFrame, keys: Seq[String],
      countName: String = "n"): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as(countName))
      .orderBy(col(countName).desc +: keys.map(col(_).asc): _*)

  /** Single-pass null/sentinel profile (`Preprocessing.py:32-36`): one
    * global aggregate row, one column per profiled input column. */
  def nullProfile(df: DataFrame, cols: Seq[String],
      sentinels: Seq[String]): DataFrame =
    df.select(cols.map { c =>
      sum(when(col(c).isNull || col(c).cast("string").isin(sentinels: _*) ||
        col(c).cast("string") === "", 1).otherwise(0)).as(c)
    }: _*)

  /** Sample standard deviation from exact sums:
    * sqrt((n*Σx² − (Σx)²) / (n*(n−1))). All-double final math over exact
    * decimal sums ⇒ bit-identical across engines and partitionings. */
  def stddevExact(c: Column): Column = {
    val n = count(lit(1)).cast("double")
    val sx = sumExact(c)
    val sxx = sumExact6(c * c)
    sqrt((n * sxx - sx * sx) / (n * (n - lit(1.0))))
  }

  /** Pearson correlation from exact sums (same determinism argument). */
  def corrExact(x: Column, y: Column): Column = {
    val n = count(lit(1)).cast("double")
    val sx = sumExact(x)
    val sy = sumExact(y)
    val sxx = sumExact6(x * x)
    val syy = sumExact6(y * y)
    val sxy = sumExact6(x * y)
    (n * sxy - sx * sy) /
      (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
  }

  /** Per-group OLS fit y = β₀ + β₁·x from one pass of mergeable
    * sufficient statistics (n, Σx, Σy, Σx², Σy², Σxy) — the distributed
    * regression shape: partials combine map-side, the shuffle carries six
    * numbers per group regardless of group size, and the closed-form
    * solve is driver-free final math on exact decimal sums (same
    * determinism argument as [[corrExact]]; Catalyst dedups the shared
    * aggregate children, so requesting all three of slope/intercept/r²
    * still computes each sum once). */
  def olsSlope(x: Column, y: Column): Column = {
    val n = count(lit(1)).cast("double")
    (n * sumExact6(x * y) - sumExact(x) * sumExact(y)) /
      (n * sumExact6(x * x) - sumExact(x) * sumExact(x))
  }

  def olsIntercept(x: Column, y: Column): Column = {
    val n = count(lit(1)).cast("double")
    (sumExact(y) - olsSlope(x, y) * sumExact(x)) / n
  }

  /** Coefficient of determination r² (= corr² for simple OLS). */
  def olsR2(x: Column, y: Column): Column = {
    val n = count(lit(1)).cast("double")
    val cov = n * sumExact6(x * y) - sumExact(x) * sumExact(y)
    (cov * cov) /
      ((n * sumExact6(x * x) - sumExact(x) * sumExact(x)) *
       (n * sumExact6(y * y) - sumExact(y) * sumExact(y)))
  }

  /** describe()-equivalent summary, re-homed distributed
    * (`Preprocessing.py:209,281`). */
  def summaryStats(df: DataFrame, key: String, c: String): DataFrame =
    df.groupBy(col(key))
      .agg(
        count(lit(1)).as("n_rows"),
        avgExact(col(c)).as("mean_v"),
        // rounded to 4dp: DuckDB's int128→double cast on the big scale-6
        // decimal sum rounds differently than BigDecimal.toDouble in the
        // last ulp; 4dp absorbs that while staying far from any boundary
        round(stddevExact(col(c)), 4).as("std_v"),
        min(col(c)).as("min_v"),
        max(col(c)).as("max_v"))
      .orderBy(col(key))

  /** Multi-granularity counts as ONE rollup shuffle instead of the
    * reference's three (`Preprocessing.py:296-327`). */
  def rollupCounts(df: DataFrame, keys: Seq[String]): DataFrame =
    df.rollup(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .orderBy(keys.map(col(_).asc_nulls_first): _*)

  /** Pivoted counts with an explicit pivot-value list (deterministic output
    * schema; Spark plans a single `Pivot` — one shuffle). Missing cells
    * filled 0, mirroring pandas `pivot(...).fillna(0)`
    * (`Preprocessing.py:618-619`). */
  def pivotCounts(df: DataFrame, rowKey: String, pivotKey: String,
      pivotVals: Seq[String]): DataFrame = {
    val p = df.groupBy(col(rowKey)).pivot(pivotKey, pivotVals).count()
    p.na.fill(0, pivotVals)
      .select(col(rowKey) +: pivotVals.map(v => col(v).as(s"n_$v")): _*)
      .orderBy(col(rowKey))
  }

  /** Exact median per group via Catalyst's buffering `percentile()` —
    * kept ONLY as the spec-comparison kernel for [[exactPercentiles]]
    * (AggregatesSpec asserts bit-identity). Not used by any registered
    * query: the aggregate buffers the whole per-group value multiset in
    * one aggregation buffer, which a hot group overflows at 100 TB —
    * production paths (q13/q48/q107/q113…) use [[exactPercentiles]]. */
  def medianExact(c: Column): Column = percentile(c, lit(0.5))

  /** Greenwald-Khanna approximate median, ε=0.01 — the reference's actual
    * choice (`Preprocessing.py:145-147`); single pass, mergeable sketch,
    * the right tool at 100 TB. */
  def approxMedian(df: DataFrame, c: String, eps: Double = 0.01): Double =
    df.stat.approxQuantile(c, Array(0.5), eps).head

  /** Incremental-rollup partials: per (day, `keyCol`) mergeable summary
    * state (count, exact decimal sum, min, max) — the materialized-view
    * pattern at 100 TB: the fact stream is aggregated ONCE per ingest
    * batch into partials bounded by days × keys, and every later rollup
    * query merges partials instead of re-scanning the corpus. */
  def dailyPartials(df: DataFrame, tsCol: String, keyCol: String,
      valCol: String): DataFrame =
    df.groupBy(to_date(col(tsCol).cast("timestamp")).as("day"),
        col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col(valCol).cast("decimal(38,6)")).as("sum6"),
        min(col(valCol)).as("min_v"),
        max(col(valCol)).as("max_v"))

  /** Merge [[dailyPartials]] state up to `keyCol` totals — count/sum add,
    * min/max fold, avg derives from the merged exact sums, so the result
    * is bit-identical to aggregating the raw rows directly (the merge
    * correctness every incremental pipeline depends on; oracle-asserted
    * against the direct form). */
  def mergePartials(partials: DataFrame, keyCol: String): DataFrame =
    partials.groupBy(col(keyCol))
      .agg(sum(col("n")).as("n_events"),
        round(sum(col("sum6")).cast("double"), 6).as("sum_v"),
        round(sum(col("sum6")).cast("double") / sum(col("n")), 6)
          .as("avg_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))

  /** Mergeable DISTINCT-count partials at day grain: one HLL sketch per
    * day — the sketch-family counterpart of [[dailyPartials]]. Unlike
    * count/sum, distinct does not add across partitions, so the
    * incremental pattern NEEDS a mergeable sketch: day sketches union to
    * any coarser grain (week, month, all-time) without rescanning raw
    * data, which at 100 TB is the difference between reading one day and
    * re-reading the corpus per rollup refresh. */
  def dailyDistinctPartials(df: DataFrame, tsCol: String, keyCol: String)
      : DataFrame =
    df.groupBy(to_date(col(tsCol).cast("timestamp")).as("day"))
      .agg(hll_sketch_agg(col(keyCol)).as("sk"))

  /** Merge [[dailyDistinctPartials]] up to week grain: union the day
    * sketches, estimate once per week. Estimates are engine-specific, so
    * oracle checking follows the q56 CONTRACT pattern (estimate within
    * the hard 10% band of exact). */
  def weeklyDistinctFromPartials(partials: DataFrame): DataFrame =
    partials
      .groupBy(date_trunc("week", col("day")).cast("date").as("week"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))

  /** Fixed-width histogram of a numeric column: bin = ⌊v / width⌋ —
    * the distributed EDA primitive behind every profile chart (the
    * reference draws these client-side from collected pandas frames;
    * here the aggregate IS the operator and only |bins| rows leave).
    * One hash-agg shuffle; empty bins are absent (sparse form). */
  def histogram(df: DataFrame, valCol: String, width: Double): DataFrame = {
    require(width > 0, s"bin width must be positive, got $width")
    df.filter(col(valCol).isNotNull)
      .groupBy(floor(col(valCol) / width).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))
      .withColumn("lo_edge", col("bin") * width)
  }

  /** Winsorized mean per group: values clipped to the exact
    * [pLo, pHi] interpolated percentiles, then an exact-decimal mean —
    * the robust-mean alternative to dropping outliers (q107 counts
    * them; this bounds their leverage). Same two-pass
    * stats-then-broadcast shape as z-score scaling: the percentile
    * frame is |groups| rows, the clip+mean pass rides the fact scan. */
  /** EXACT per-group percentiles via counting, the memory-bounded form:
    * `percentile()` (Catalyst's exact aggregate) buffers the whole
    * per-group value MULTISET inside one aggregation buffer — at 100 TB a
    * single group overflows the executor. This formulation is fully
    * relational instead: one (group, value) count aggregate collapses the
    * data to its distinct values, a cumulative-count window assigns each
    * distinct value its 1-based rank interval [lo, hi], and each
    * requested percentile p interpolates between the two bracketing
    * ranks of position p·(n−1) — bit-identical to `percentile` /
    * `quantile_cont` (the interpolation mirrors Catalyst's
    * `(higher−pos)·v_lo + (pos−lower)·v_hi` exactly; equality is
    * spec-asserted across ps on the fixture). Every stage is a bounded
    * hash-agg or a sort of DISTINCT values; nothing holds a group in
    * memory. Returns (group, p0…p{k-1}) with one column per requested p.
    *
    * Cost shape: count agg (shuffle on (group, value)) + one window over
    * distinct values + a broadcast bracket join — in-suite this also
    * measures ~2× faster than the buffering aggregate on the 600k-row
    * fixture (q107 / q113). */
  def exactPercentiles(df: DataFrame, groupCol: String, valCol: String,
      ps: Seq[Double]): DataFrame =
    percentilesFromCdf(
      // consumed by totals AND the join; LAZY: materializes inside the
      // broadcast-build job for `targets` (the first action), sparing the
      // separate blocking checkpoint job per call
      rankedCdf(df, groupCol, valCol).localCheckpoint(eager = false),
      groupCol, ps)

  /** The ranked per-group CDF behind [[exactPercentiles]]: one row per
    * (group, distinct value) with its multiplicity `__c` and 1-based
    * rank interval [`__lo`, `__hi`]. This is the REUSABLE intermediate
    * of the percentile family — materialize it once per (table, group,
    * value) (the q55 scratch pattern) and extract any percentile set
    * with [[percentilesFromCdf]] at |distinct-values|-row cost, instead
    * of re-paying the (group, value) shuffle + rank window per caller
    * (q107 and q113 share one CDF of lineitem's extendedprice). */
  def rankedCdf(df: DataFrame, groupCol: String, valCol: String)
      : DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("__v"))
    df.filter(col(valCol).isNotNull)
      .groupBy(col(groupCol), col(valCol).cast("double").as("__v"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__hi", sum(col("__c")).over(w))
      .withColumn("__lo", col("__hi") - col("__c") + 1)
  }

  /** [[rankedCdf]] with the cumulative count computed as a DISTRIBUTED
    * per-group prefix sum (round 19; guide §2 parallelism floor): the
    * plain form's window is partitioned by the GROUP key, so a 3-value
    * group column runs 3 tasks at any cluster width — fine for a
    * |distinct values|-row extraction, a scale-killer when a heavy CDF
    * over a near-continuous column is materialized as shared scratch
    * (the q107/q113 price CDF). This form range-partitions the distinct
    * values, cumulative-sums WITHIN each partition (parallel window on
    * (__pid, group)), and bridges partitions by collecting one subtotal
    * row per (partition, group) — ≤ shuffle.partitions·|groups| rows,
    * the q134/EventOps.prefixSums documented KB-scale collect — and
    * broadcasting exclusive per-group offsets back. Row values are
    * IDENTICAL to [[rankedCdf]] (long sums; order of addition
    * irrelevant); only the physical shape differs. The eager
    * localCheckpoint pins partition ids, which both the subtotal pass
    * and the output must agree on.
    *
    * Use where the CDF is big and reused (scratch builds); the plain
    * window form stays right for one-shot |distinct|-small
    * extractions — an extra range exchange + collect job per call
    * costs more than a small window saves (measured, round 19). */
  def rankedCdfDistributed(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, LongType,
      StructField, StructType}
    val spark = df.sparkSession
    val counts = df.filter(col(valCol).isNotNull)
      .groupBy(col(groupCol), col(valCol).cast("double").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val ranged = counts
      .repartitionByRange(col(groupCol), col("__v"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(eager = true) // pid read by subtotals AND output
    val subtotals = ranged.groupBy(col("__pid"), col(groupCol))
      .agg(sum(col("__c")).as("__s"))
      .collect()
      .map(r => (r.getInt(0), r.get(1), r.getLong(2)))
    // exclusive prefix per group across ascending partition id, grouped
    // on a VALUE-equal key: Row.get returns binary keys as Array[Byte]
    // (also inside struct Rows and arrays), whose equality and hash are
    // per-reference, so grouping on the raw value would split one
    // group's prefix chain. (Map keys cannot reach here: the range
    // partitioning needs an orderable group type.)
    def canon(g: Any): Any = g match {
      case b: Array[Byte] => b.toSeq
      case r: Row => r.toSeq.map(canon)
      case xs: Seq[_] => xs.map(canon)
      case other => other
    }
    val offsets = subtotals.sortBy(_._1)
      .groupBy(t => canon(t._2)).valuesIterator.flatMap { rows =>
        rows.scanLeft((0, rows.head._2, 0L)) {
          case ((_, g, acc), (pid, _, s)) => (pid, g, acc + s)
        }.init.zip(rows).map { case ((_, _, prefix), (pid, g, _)) =>
          Row(pid, g, prefix)
        }
      }.toSeq
    val gField = counts.schema(groupCol)
    val offSchema = StructType(Seq(
      StructField("__opid", IntegerType, nullable = false),
      gField.copy(name = "__og"),
      StructField("__off", LongType, nullable = false)))
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offsets, 1), offSchema)
    val inPart = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid"), col(groupCol)).orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    ranged
      // null-safe on the group (a null group is a legal partition in
      // the window form); every (pid, group) pair has a subtotal row
      .join(broadcast(offDf), col("__pid") === col("__opid") &&
        col(groupCol) <=> col("__og"))
      .withColumn("__hi", col("__off") + sum(col("__c")).over(inPart))
      .select(col(groupCol), col("__v"), col("__c"), col("__hi"),
        (col("__hi") - col("__c") + 1).as("__lo"))
  }

  /** Per-(group, slice, distinct value) multiplicity counts — the
    * shareable PRE-CDF of the percentile family. One (group, flag,
    * value) hash-agg collapses the fact stream to its distinct values;
    * everything downstream ([[cdfFromCounts]] → [[percentilesFromCdf]],
    * weighted deviation/bin aggregates) runs at |distinct values| cost.
    * The `flag` slice key is what lets ONE scratch serve both
    * full-data consumers (sum over the flag — [[madOutliers]]) and
    * slice-keyed consumers (filter the flag — [[psi]]'s baseline
    * deciles). Longs, booleans and doubles round-trip parquet exactly,
    * so materializing this frame (the q55 scratch pattern) cannot move
    * a hash. */
  def valueCounts(df: DataFrame, groupCol: String, valCol: String,
      flag: Column): DataFrame =
    df.filter(col(valCol).isNotNull)
      .groupBy(col(groupCol), flag.as("__b"),
        col(valCol).cast("double").as("__v"))
      .agg(count(lit(1)).as("__c"))

  /** [[rankedCdf]]-shape from a [[valueCounts]] frame: re-merge the
    * multiplicities across the slice key, then the same rank window —
    * identical (__v, __c, __lo, __hi) rows to rankedCdf(original df)
    * because the distinct-value set and multiplicities are identical;
    * only the cost differs (a window over distinct values instead of a
    * fact-table shuffle). */
  def cdfFromCounts(counts: DataFrame, groupCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("__v"))
    counts.groupBy(col(groupCol), col("__v"))
      .agg(sum(col("__c")).as("__c"))
      .withColumn("__hi", sum(col("__c")).over(w))
      .withColumn("__lo", col("__hi") - col("__c") + 1)
  }

  /** Percentile extraction over a precomputed [[rankedCdf]] — identical
    * arithmetic to [[exactPercentiles]] (Catalyst's position formula,
    * spec-asserted bit-equality); the input may come straight off a
    * parquet scratch (doubles and counts round-trip parquet exactly, so
    * sharing the CDF cannot move a hash). */
  def percentilesFromCdf(cum: DataFrame, groupCol: String,
      ps: Seq[Double]): DataFrame = {
    val bracket = bracketPercentiles(cum, groupCol, ps)
    val aggs = ps.indices.map(i =>
      max(when(col("pi") === i, col("__p"))).as(s"p$i"))
    bracket.groupBy(groupCol).agg(aggs.head, aggs.tail: _*)
  }

  /** ROW-form percentile extraction over a precomputed [[rankedCdf]]:
    * (groupCol, pi, __p) — one row per requested percentile, SAME
    * bracket arithmetic as [[percentilesFromCdf]] (they share
    * [[bracketPercentiles]], so the doubles are bit-identical), minus
    * the p0…pN pivot. For a caller that immediately needs the
    * percentiles as rows (q150's 101-point grid), the pivot into 101
    * `max(when(pi = i))` aggregate columns followed by an explode back
    * to rows is pure plan bloat — a 101-column aggregate + 101-struct
    * generate that Catalyst must analyze/optimize per run (guide §7.3:
    * very large expression trees make PLANNING itself the bottleneck)
    * and an extra aggregation at execution. Round-18 optimization. */
  def percentileRowsFromCdf(cum: DataFrame, groupCol: String,
      ps: Seq[Double]): DataFrame =
    bracketPercentiles(cum, groupCol, ps)
      .select(col(groupCol), col("pi"), col("__p"))

  /** The shared bracket computation of [[percentilesFromCdf]] /
    * [[percentileRowsFromCdf]] — one (group, pi) row carrying the
    * interpolated percentile `__p`. */
  private def bracketPercentiles(cum: DataFrame, groupCol: String,
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty, "need at least one percentile")
    val totals = cum.groupBy(groupCol).agg(max(col("__hi")).as("__n"))
    val targets = totals.select(col(groupCol),
      explode(array(ps.zipWithIndex.map { case (p, i) =>
        // Catalyst's position arithmetic, mirrored op-for-op:
        // pos = p·(n−1); lower = floor(pos); higher = ceil(pos)
        val pos = lit(p) * (col("__n") - 1).cast("double")
        struct(lit(i).as("pi"), pos.as("pos"),
          (floor(pos) + 1).cast("long").as("rlo"),
          (ceil(pos) + 1).cast("long").as("rhi"))
      }: _*)).as("t"))
      .select(col(groupCol), col("t.pi"), col("t.pos"), col("t.rlo"),
        col("t.rhi"))
    // the bracket join: keep the ≤2 distinct-value rows whose rank
    // interval covers either bracketing rank (broadcast: |groups|·|ps|)
    val bracket = cum.join(broadcast(targets), Seq(groupCol))
      .filter((col("rlo") >= col("__lo") && col("rlo") <= col("__hi")) ||
        (col("rhi") >= col("__lo") && col("rhi") <= col("__hi")))
      .groupBy(col(groupCol), col("pi"), col("pos"), col("rlo"),
        col("rhi"))
      .agg(max(when(col("rlo") >= col("__lo") && col("rlo") <= col("__hi"),
          col("__v"))).as("vlo"),
        max(when(col("rhi") >= col("__lo") && col("rhi") <= col("__hi"),
          col("__v"))).as("vhi"))
      .withColumn("__p",
        when(col("rlo") === col("rhi"), col("vlo"))
          .otherwise((col("rhi") - 1 - col("pos")) * col("vlo") +
            (col("pos") - (col("rlo") - 1)) * col("vhi")))
    bracket
  }

  /** Cumulative Poisson(1) CDF cut points e⁻¹·Σ 1/k! for k = 0..4 —
    * shared by [[bootstrapCI]] and its DuckDB oracle (the literals must
    * be IDENTICAL text in both engines so they parse to the same
    * doubles). */
  val PoissonCuts: Seq[Double] = Seq(0.36787944117144233,
    0.7357588823428847, 0.9196986029286058, 0.9810118431238462,
    0.9963401531726563)

  /** Poisson-bootstrap confidence interval for the per-group mean — the
    * RESAMPLE-FREE bootstrap: instead of drawing B resamples of the data
    * (impossible at 100 TB), every row carries B deterministic
    * pseudo-Poisson(1) replicate weights w_{r} = F⁻¹(u_r) with
    * u_r = (((polyHash(id) + r·514229) mod P)·2654435761 + 12345 mod P)/P
    * ∈ [0,1) — the id hashes ONCE and each replicate derives its uniform
    * via the add-then-Knuth-scramble integer mix (see the inline comment;
    * the DuckDB oracle mirrors the identical arithmetic) — the standard
    * online/Poisson bootstrap (each row appears Poisson(1) times in a
    * multinomial resample, in the n→∞ limit), made fully deterministic
    * and engine-reproducible by the hash. CI = [α/2, 1−α/2] percentiles
    * of the B replicate means ([[exactPercentiles]] over a B·|groups|-row
    * frame).
    *
    * Scale shape: the ×B replicate stream is a map-side explode that
    * collapses INSIDE partial aggregation — the exchange carries only
    * (group, rep) partials, never B× the data; weighted sums go through
    * exact decimals so every replicate mean is partitioning-invariant.
    * Replicates that draw total weight 0 (only possible for tiny groups)
    * are dropped identically in both engines. */
  def bootstrapCI(df: DataFrame, groupCol: String, valCol: String,
      idCol: String, reps: Int = 50, alpha: Double = 0.05): DataFrame = {
    require(reps > 1 && alpha > 0 && alpha < 1)
    // Per-replicate uniform: hash the id ONCE (before the ×B explode),
    // then derive u_r arithmetically — mix = ((h + r·514229) mod P ·
    // 2654435761 + 12345) mod P. Hashing "id#r" per replicate would run
    // B string hashes per row in the hot path; the mix is three integer
    // ops. The multiplicative scramble is load-bearing (see
    // TextOps.scrambledHash): the raw polynomial hash of a short id is
    // nearly monotone in the id, which correlated replicate weights with
    // insertion order (spec-caught — the CI skewed high). Max
    // intermediate ≈ P·2654435761 < 2^63: exact in Long and in DuckDB
    // BIGINT, oracle mirrors the same arithmetic.
    val P = graft.ext.TextOps.HashPrime
    val u = ((((col("__h0") + col("rep") * lit(514229L)) % P) *
      lit(2654435761L) + lit(12345L)) % P + lit(0.0)) / P.toDouble
    val w = PoissonCuts.zipWithIndex
      .foldLeft(Option.empty[Column]) { case (acc, (cut, k)) =>
        Some(acc.fold(when(col("__u") < cut, k.toLong))(
          _.when(col("__u") < cut, k.toLong)))
      }.get.otherwise(PoissonCuts.size.toLong)
    val repl = Skew.fanOut(df
        .select(col(groupCol), col(valCol).cast("double").as("__v"),
          col(idCol).as(idCol)))
      // fan out BEFORE the ×B replicate explode (round-18; guide §2.5):
      // the explode multiplies rows by `reps` and the weight arithmetic
      // runs per replicated row — on a single-split input the whole
      // ×50 blow-up would execute on one core
      .withColumn("__h0", graft.functions.expressions.poly_hash(
        col(idCol).cast("string")))
      .withColumn("rep", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("__u", u)
      .withColumn("__w", w)
      .groupBy(col(groupCol), col("rep"))
      .agg(sum((col("__w") * col("__v")).cast("decimal(38,6)")).as("__s"),
        sum(col("__w")).as("__n"))
      .filter(col("__n") > 0)
      .withColumn("__mb", col("__s").cast("double") / col("__n"))
    val ci = exactPercentiles(repl, groupCol, "__mb",
      Seq(alpha / 2, 1 - alpha / 2))
    val point = df.groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        (sum(col(valCol).cast("decimal(38,6)")).cast("double") /
          count(lit(1))).as("mean"))
    point.join(ci, groupCol)
      .select(col(groupCol), col("n"), round(col("mean"), 6).as("mean"),
        round(col("p0"), 6).as("ci_lo"), round(col("p1"), 6).as("ci_hi"))
  }

  /** Chi-square test of independence over a two-way contingency table:
    * χ² = Σ_cells (O−E)²/E with E = rowTotal·colTotal/N, summed over the
    * FULL observed-category grid (zero-count cells included — omitting
    * them understates the statistic). Returns one row
    * (chi2, dof, n).
    *
    * Scale shape: three partial-agg count passes (cells, row totals, col
    * totals — each map-side combined); the grid is the |rows|×|cols|
    * cross join of the two TINY marginal frames, never of the data.
    * Terms sum through an exact decimal accumulator so the statistic is
    * independent of partitioning / accumulation order. */
  def chiSquare(df: DataFrame, rowCol: String, colCol: String)
      : DataFrame = {
    val obs = df.groupBy(rowCol, colCol).agg(count(lit(1)).as("__o"))
    val rows = df.groupBy(rowCol).agg(count(lit(1)).as("__rt"))
    val cols = df.groupBy(colCol).agg(count(lit(1)).as("__ct"))
    val n = df.select(count(lit(1)).as("__n"))
    val term = {
      val e = col("__rt").cast("double") * col("__ct") / col("__n")
      val o = coalesce(col("__o"), lit(0L)).cast("double")
      (o - e) * (o - e) / e
    }
    broadcast(rows).crossJoin(broadcast(cols))
      .join(obs, Seq(rowCol, colCol), "left")
      .crossJoin(broadcast(n))
      .agg(
        round(sum(term.cast("decimal(38,12)")).cast("double"), 6)
          .as("chi2"),
        ((countDistinct(col(rowCol)) - 1) *
          (countDistinct(col(colCol)) - 1)).as("dof"),
        max(col("__n")).as("n"))
  }

  /** Population stability index per group: distribution shift of
    * `valCol` between a baseline slice (`baseFlag` true) and the rest,
    * binned by the BASELINE's own exact deciles —
    * PSI = Σ_bins (q−p)·ln(q/p), the standard model-monitoring drift
    * score (rule of thumb: > 0.1 drifting, > 0.25 shifted). Laplace
    * smoothing (+0.5 per bin) keeps empty bins finite and symmetric:
    * a bin empty on BOTH sides contributes exactly 0.
    *
    * Scale shape: bin edges come from the memory-bounded
    * [[exactPercentiles]] over the baseline only and broadcast back; bin
    * assignment is a scan-stage projection (no per-row join fan-out);
    * one (group, bin) hash-agg with map-side partials; PSI terms sum
    * through exact decimals.
    *
    * NULL `valCol` rows are EXCLUDED from both sides (they have no
    * position in the baseline's value distribution, so binning them —
    * they'd land in bin 0 below every cut — would read as fake low-end
    * drift); both the row-level and the counts path share this filter,
    * so the two paths stay row-for-row equal even on NULL-bearing data.
    *
    * CONTRACT when `valCountsIn` is set: the frame fully REPLACES the
    * (df, valCol, baseFlag) inputs, which are then ignored — it must be
    * [[valueCounts]] built from the same df/valCol with `flag` == this
    * baseFlag, or the deciles and bin counts silently describe a
    * different slice. */
  def psi(df: DataFrame, groupCol: String, valCol: String,
      baseFlag: Column, bins: Int = 10,
      valCountsIn: Option[DataFrame] = None): DataFrame = {
    val ps = (1 until bins).map(_.toDouble / bins)
    // counts path: a [[valueCounts]] frame keyed on THIS baseFlag
    // replaces the fact scan — baseline deciles come from the
    // flag-filtered slice, bin counts from __c-weighted sums; every
    // number equals the row-level original exactly (both paths drop
    // NULL values and cast valCol to double, and grouping equal values
    // cannot change a sum).
    val marked = valCountsIn.getOrElse(
      df.filter(col(valCol).isNotNull)
        .select(col(groupCol), col(valCol).cast("double").as("__v"),
          baseFlag.as("__b"))
        .withColumn("__c", lit(1L)))
    val cuts = valCountsIn match {
      case Some(cf) => percentilesFromCdf(
        cdfFromCounts(cf.filter(col("__b")), groupCol), groupCol, ps)
      case None => exactPercentiles(
        marked.filter(col("__b")), groupCol, "__v", ps)
    }
    val binExpr = ps.indices.map(i =>
      when(col("__v") > col(s"p$i"), 1).otherwise(0)).reduce(_ + _)
    val counts = marked.join(broadcast(cuts), Seq(groupCol))
      .withColumn("__bin", binExpr)
      .groupBy(col(groupCol), col("__bin"))
      .agg(sum(when(col("__b"), col("__c")).otherwise(0L)).as("nb"),
        sum(when(!col("__b"), col("__c")).otherwise(0L)).as("nc"))
    val tot = counts.groupBy(groupCol)
      .agg(sum(col("nb")).as("tb"), sum(col("nc")).as("tc"))
    val half = lit(bins * 0.5)
    counts.join(broadcast(tot), Seq(groupCol))
      .withColumn("__p", (col("nb") + 0.5) / (col("tb") + half))
      .withColumn("__q", (col("nc") + 0.5) / (col("tc") + half))
      .groupBy(groupCol)
      .agg(round(sum(((col("__q") - col("__p")) *
            log(col("__q") / col("__p"))).cast("decimal(38,12)"))
          .cast("double"), 6).as("psi"),
        sum(col("nb")).as("n_base"), sum(col("nc")).as("n_cur"))
  }

  /** Mutual information of two categorical columns (nats):
    * MI = Σ_{o>0} (o/N)·ln(o·N/(rowTot·colTot)) — the effect-size
    * companion to [[chiSquare]] (χ² says "dependent", MI says "by how
    * many nats"). Zero cells contribute exactly 0 (lim x·ln x = 0), so
    * only OBSERVED cells join — same three partial-agg passes as
    * chiSquare, inner join instead of the full grid, exact-decimal term
    * accumulation. Returns one row (mi_nats, n). */
  def mutualInformation(df: DataFrame, rowCol: String, colCol: String)
      : DataFrame = {
    val obs = df.groupBy(rowCol, colCol).agg(count(lit(1)).as("__o"))
    val rows = df.groupBy(rowCol).agg(count(lit(1)).as("__rt"))
    val cols = df.groupBy(colCol).agg(count(lit(1)).as("__ct"))
    val n = df.select(count(lit(1)).as("__n"))
    val term = (col("__o").cast("double") / col("__n")) *
      log(col("__o").cast("double") * col("__n") /
        (col("__rt").cast("double") * col("__ct")))
    obs.join(broadcast(rows), Seq(rowCol))
      .join(broadcast(cols), Seq(colCol))
      .crossJoin(broadcast(n))
      .agg(round(sum(term.cast("decimal(38,12)")).cast("double"), 6)
          .as("mi_nats"),
        max(col("__n")).as("n"))
  }

  /** Robust outlier profile per group: exact median, exact MAD (median
    * absolute deviation), and the count of |modified z| =
    * |0.6745·(x−med)/MAD| > 3.5 — the standard robust alternative to
    * mean/stddev fences when the metric itself is outlier-contaminated.
    * Two [[exactPercentiles]] passes (MAD is inherently two-pass: the
    * deviation needs the median first); the |groups|-row median frames
    * broadcast back onto the scan, so the data shuffles only inside the
    * memory-bounded percentile machinery. Groups with MAD 0 (over half
    * the mass on one value) report 0 outliers rather than dividing by
    * zero.
    *
    * CONTRACT when `counts` is set: the frame fully REPLACES the
    * (df, valCol) inputs, which are then ignored — it must be
    * [[valueCounts]] built from the same df/valCol (any slice flag; the
    * multiplicities re-merge across it), or the statistics silently
    * describe a different column. */
  def madOutliers(df: DataFrame, groupCol: String, valCol: String,
      counts: Option[DataFrame] = None): DataFrame = counts match {
    case Some(cf) =>
      // counts path: the ENTIRE two-pass computation (median → deviation
      // median → weighted outlier count) runs over the |distinct values|
      // [[valueCounts]] frame — the fact table is never rescanned. Every
      // aggregate weights by __c, so each number equals the row-level
      // original exactly (valCol is cast to double in both paths).
      val merged = cf.groupBy(col(groupCol), col("__v"))
        .agg(sum(col("__c")).as("__c"))
        .localCheckpoint(eager = false) // median CDF + dev + final agg
      val med = percentilesFromCdf(cdfFromCounts(merged, groupCol),
          groupCol, Seq(0.5))
        .select(col(groupCol), col("p0").as("__med"))
      val dev = merged.join(broadcast(med), Seq(groupCol))
        .withColumn("__ad", abs(col("__v") - col("__med")))
      val mad = percentilesFromCdf(
          cdfFromCounts(dev.select(col(groupCol),
            col("__ad").as("__v"), col("__c")), groupCol),
          groupCol, Seq(0.5))
        .select(col(groupCol), col("p0").as("__mad"))
      dev.join(broadcast(mad), Seq(groupCol))
        .groupBy(groupCol)
        .agg(round(max(col("__med")), 6).as("med"),
          round(max(col("__mad")), 6).as("mad"),
          sum(col("__c")).as("n"),
          sum(when(col("__mad") > 0 &&
              abs(lit(0.6745) * (col("__v") - col("__med")) /
                col("__mad")) > 3.5, col("__c"))
            .otherwise(0L)).as("n_outliers"))
    case None =>
      val med = exactPercentiles(df, groupCol, valCol, Seq(0.5))
        .select(col(groupCol), col("p0").as("__med"))
      val dev = df.filter(col(valCol).isNotNull)
        .join(broadcast(med), Seq(groupCol))
        .withColumn("__ad", abs(col(valCol) - col("__med")))
      val mad = exactPercentiles(dev, groupCol, "__ad", Seq(0.5))
        .select(col(groupCol), col("p0").as("__mad"))
      dev.join(broadcast(mad), Seq(groupCol))
        .groupBy(groupCol)
        .agg(round(max(col("__med")), 6).as("med"),
          round(max(col("__mad")), 6).as("mad"),
          count(lit(1)).as("n"),
          sum(when(col("__mad") > 0 &&
              abs(lit(0.6745) * (col(valCol) - col("__med")) /
                col("__mad")) > 3.5, 1L)
            .otherwise(0L)).as("n_outliers"))
  }

  /** Welch's two-sample t statistic per group (unequal variances):
    * t = (m₁−m₂)/√(v₁/n₁ + v₂/n₂) with the Welch–Satterthwaite degrees
    * of freedom — the A/B comparison between the `aFlag` slice and the
    * rest of each group. ONE pass: both samples' sufficient statistics
    * are conditional exact-decimal sums in the same aggregate, so the
    * scan is shared and the shuffle carries six numbers per group.
    * Completes the association family: χ² (cat×cat), MI (effect size),
    * r (num×num), t (num×2-group). */
  def welchT(df: DataFrame, groupCol: String, valCol: String,
      aFlag: Column): DataFrame = {
    val x = col(valCol)
    def side(c: Column) = (
      sum(when(c, lit(1L)).otherwise(0L)).cast("double"),
      sum(when(c, x).cast("decimal(18,2)")).cast("double"),
      sum(when(c, x * x).cast("decimal(38,6)")).cast("double"))
    val (n1, s1, ss1) = side(aFlag)
    val (n2, s2, ss2) = side(!aFlag)
    val agg = df.groupBy(groupCol).agg(n1.as("n1"), s1.as("s1"),
      ss1.as("ss1"), n2.as("n2"), s2.as("s2"), ss2.as("ss2"))
    val v1 = (col("ss1") - col("s1") * col("s1") / col("n1")) /
      (col("n1") - 1)
    val v2 = (col("ss2") - col("s2") * col("s2") / col("n2")) /
      (col("n2") - 1)
    val se1 = v1 / col("n1")
    val se2 = v2 / col("n2")
    agg.select(col(groupCol), col("n1").cast("long").as("n1"),
      col("n2").cast("long").as("n2"),
      round((col("s1") / col("n1") - col("s2") / col("n2")) /
        sqrt(se1 + se2), 6).as("t"),
      round((se1 + se2) * (se1 + se2) /
        (se1 * se1 / (col("n1") - 1) + se2 * se2 / (col("n2") - 1)), 6)
        .as("df"))
  }

  /** Mann–Whitney U (rank-sum) per group: the distribution-free
    * two-sample test — robust where [[welchT]]'s mean comparison is
    * outlier-dominated. Average ranks for ties (rank() min-rank +
    * (tieSize−1)/2), U₁ from the A-slice rank sum, and the normal
    * approximation z with the standard tie-corrected variance
    * σ² = (n₁n₂/12)·((n+1) − Σ(t³−t)/(n(n−1))).
    *
    * Scale shape: ONE key-partitioned sort serves both the rank and the
    * tie-peer count (a RANGE CURRENT ROW..CURRENT ROW frame on the same
    * window spec — one WindowExec, no (group, value) exchange). The tie
    * term needs no second aggregate either: every row in a tie group of
    * size t carries peer count t, so Σ_rows (t²−1) = Σ_ties (t³−t) and
    * the whole statistic is ONE hash-agg past the sort; everything
    * downstream is |groups|-row algebra. Rank sums accumulate as exact
    * decimals (average ranks are .5-granular) ⇒ partitioning-invariant. */
  def mannWhitneyU(df: DataFrame, groupCol: String, valCol: String,
      aFlag: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Round-19 (guide §2.3 aggregate before you shuffle / §1.2 the
    // distributed algorithm): the statistic needs only per-(group,
    // value) multiplicities, never per-row ranks — one hash-agg
    // collapses the fact stream to its DISTINCT values (partial
    // aggregation rides the scan), and the rank/tie windows then sort
    // |distinct values| rows instead of |rows| (for the tie-heavy
    // integer columns this operator exists for, orders of magnitude
    // less sorted data; q174: 600k fact rows → 150 cells). Average
    // rank of a distinct value = minrank + (t−1)/2 with minrank =
    // cum count of smaller values + 1, so the A-side rank sum is
    // Σ ca·avgrank — every sum below is the exact same decimal the
    // per-row form accumulated (products are .5-granular and ≤ n²,
    // exact in double before the decimal cast), so u1/z are
    // bit-identical. */
    val w = Window.partitionBy(groupCol).orderBy(col("__v"))
    val cells = df.select(col(groupCol), col(valCol).as("__v"),
        aFlag.as("__a"))
      .groupBy(col(groupCol), col("__v"))
      .agg(count(lit(1)).as("__t"),
        sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"))
    val ranked = cells
      .withColumn("__hi", sum(col("__t")).over(w))
      .withColumn("__ar",
        (col("__hi") - col("__t") + 1) + (col("__t") - 1) / 2.0)
    val sums = ranked.groupBy(groupCol).agg(
      sum(col("__ca")).cast("double").as("n1"),
      sum(col("__t")).cast("double").as("n"),
      sum((col("__ca") * col("__ar")).cast("decimal(38,6)"))
        .cast("double").as("r1"),
      sum((col("__t") * col("__t") - 1).cast("decimal(38,6)") *
          col("__t").cast("decimal(18,0)"))
        .cast("double").as("tsum"))
    val n2 = col("n") - col("n1")
    val u1 = col("r1") - col("n1") * (col("n1") + 1) / 2
    val mu = col("n1") * n2 / 2
    val v = col("n1") * n2 / 12 *
      ((col("n") + 1) - col("tsum") / (col("n") * (col("n") - 1)))
    sums.select(col(groupCol), col("n1").cast("long").as("n1"),
      n2.cast("long").as("n2"), round(u1, 6).as("u1"),
      round((u1 - mu) / sqrt(v), 6).as("z"))
  }

  /** Spearman rank correlation per group — [[corrExact]] applied to
    * tie-averaged ranks (the exact tie-corrected form: Pearson on
    * average ranks), the monotone-association counterpart of q25's
    * linear Pearson. The tie count rides the SAME window spec as the
    * rank (a RANGE CURRENT ROW..CURRENT ROW frame counts exactly the
    * order-by peers), so each axis is one WindowExec and the whole
    * statistic costs one group-key exchange plus two in-partition
    * sorts — no (group, value) tie-partition exchange. The correlation
    * is then six exact-decimal numbers per group (average ranks are
    * .5-granular ⇒ the decimal casts in [[corrExact]] stay exact and
    * partitioning-invariant). */
  def spearman(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Round-19 note: TWO distinct-value rewrites of this operator were
    // implemented, measured with interleaved A/B at sf0.1, and
    // REVERTED — (a) full joint-(x,y)-cells with c-weighted exact
    // corr sums: q175 4.01→4.88 s (+22%; the near-continuous y axis
    // does not collapse, so the cells path added an aggregation +
    // joins on top of the same data volume); (b) hybrid x-cells-
    // broadcast + per-row y window: 3.42→3.79 s (+11%, within noise
    // but no win — the saved x sort was repaid by a second fact scan
    // and the broadcast build). The mannWhitneyU cells rewrite pays
    // because BOTH its windows collapse; here the y rank window is
    // irreducibly per-row, so the original one-exchange two-sort form
    // stays.
    val wx = Window.partitionBy(groupCol).orderBy(col("__x"))
    val tx = wx.rangeBetween(Window.currentRow, Window.currentRow)
    val wy = Window.partitionBy(groupCol).orderBy(col("__y"))
    val ty = wy.rangeBetween(Window.currentRow, Window.currentRow)
    df.select(col(groupCol), col(xCol).as("__x"), col(yCol).as("__y"))
      .withColumn("__rx", rank().over(wx) +
        (count(lit(1)).over(tx) - 1) / 2.0)
      .withColumn("__ry", rank().over(wy) +
        (count(lit(1)).over(ty) - 1) / 2.0)
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        round(corrExact(col("__rx"), col("__ry")), 6).as("rho"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic per group:
    * D = max_v |F_A(v) − F_B(v)| over the pooled sample points — the
    * distribution-free "are these two slices drawn from the same
    * distribution at all" companion to [[welchT]] (mean shift) and
    * [[mannWhitneyU]] (stochastic dominance): KS also sees pure
    * shape/variance differences.
    *
    * Scale shape: one (group, value) hash-agg collapses the data to
    * distinct sample points carrying both sides' counts, then ONE
    * group-partitioned sort drives the running ECDFs; cumulative counts
    * are exact longs, so D is deterministic. */
  def ksTwoSample(df: DataFrame, groupCol: String, valCol: String,
      aFlag: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = df
      .select(col(groupCol), col(valCol).as("__v"), aFlag.as("__a"))
      .groupBy(col(groupCol), col("__v"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("cb"))
    val w = Window.partitionBy(groupCol).orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(groupCol)
    cells
      .withColumn("na", sum(col("ca")).over(tot))
      .withColumn("nb", sum(col("cb")).over(tot))
      .withColumn("d", abs(
        sum(col("ca")).over(w).cast("double") / col("na") -
        sum(col("cb")).over(w).cast("double") / col("nb")))
      .groupBy(groupCol)
      .agg(max(col("na")).as("n1"), max(col("nb")).as("n2"),
        round(max(col("d")), 6).as("ks_d"))
  }

  /** Gini coefficient per group via the sorted-rank identity
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) (x ascending, i = 1..n) —
    * the inequality/concentration audit (order-value concentration,
    * token-budget skew across sources). row_number over (value, unique
    * id) keeps the pass deterministic; equal values contribute the same
    * Σ i·x under any tie order, so the statistic itself is tie-invariant.
    * One group-partitioned sort; Σx and Σ i·x accumulate as exact
    * decimals (2-dp values ⇒ exact), so the shuffle carries three
    * numbers per group past the sort. */
  def gini(df: DataFrame, groupCol: String, valCol: String,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol).orderBy(col("__v"), col(idCol))
    val g = df.select(col(groupCol), col(valCol).as("__v"), col(idCol))
      .withColumn("__i", row_number().over(w))
      .groupBy(groupCol)
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("__v").cast("decimal(18,2)")).cast("double").as("sx"),
        sum((col("__i") * col("__v")).cast("decimal(38,6)"))
          .cast("double").as("six"))
    g.select(col(groupCol), col("n").cast("long").as("n"),
      round((lit(2.0) * col("six") - (col("n") + 1) * col("sx")) /
        (col("n") * col("sx")), 6).as("gini"))
  }

  /** Weighted lower quantiles per group: the smallest value whose
    * RANGE-frame cumulative weight reaches p·W — weight-aware
    * percentiles (token-weighted doc-length quantiles, spend-weighted
    * price bands). The RANGE frame makes ties well-defined with NO
    * tie-break column: equal values share one cumulative weight, so the
    * result is partitioning- and input-order-invariant (and the weights
    * accumulate as exact decimals). One key-partitioned sort serves the
    * cumulative window, the group total, and the final min-when agg.
    * Relational generalization of the q75 `WeightedMedian` UDAF — that
    * one buffers distinct values per group; this one never holds a
    * group in memory. */
  def weightedQuantiles(df: DataFrame, groupCol: String, valCol: String,
      weightCol: String, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty, "need at least one quantile")
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col(valCol))
      .rangeBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val wall = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol)
    val cum = df
      .withColumn("__cw",
        sum(col(weightCol).cast("decimal(18,2)")).over(wr)
          .cast("double"))
      .withColumn("__tw",
        sum(col(weightCol).cast("decimal(18,2)")).over(wall)
          .cast("double"))
    val aggs = ps.zipWithIndex.map { case (p, i) =>
      min(when(col("__cw") >= lit(p) * col("__tw"), col(valCol)))
        .as(s"wq$i")
    }
    cum.groupBy(groupCol).agg(aggs.head, aggs.tail: _*)
  }

  def winsorizedMean(df0: DataFrame, groupCol: String, valCol: String,
      pLo: Double, pHi: Double, cdf: Option[DataFrame] = None)
      : DataFrame = {
    val v = col(valCol)
    // least/greatest SKIP nulls, so an unfiltered null value would clip
    // to the upper fence and count toward n instead of being ignored
    val df = df0.filter(v.isNotNull)
    val fences = percentilesFromCdf(
        cdf.getOrElse(rankedCdf(df, groupCol, valCol)
          .localCheckpoint(eager = false)),
        groupCol, Seq(pLo, pHi))
      .select(col(groupCol), col("p0").as("lo"), col("p1").as("hi"))
    df.join(broadcast(fences), groupCol)
      .withColumn("clipped", greatest(col("lo"), least(col("hi"), v)))
      .groupBy(groupCol)
      .agg(round(sum(round(col("clipped"), 6).cast("decimal(28,6)"))
          .cast("double") / count(lit(1)), 6).as("wins_mean"),
        count(lit(1)).as("n"))
  }

  /** Per-group Tukey-fence outlier profile: exact Q1/Q3 (interpolated
    * `percentile`, the quantile_cont-compatible form q13 proved), the IQR
    * fences at 1.5×, and how many rows fall outside them — the standard
    * numeric-column screen before a feature lands in training data.
    *
    * Two passes by construction (fences must be known before counting
    * against them): pass 1 is a per-group percentile agg whose output is
    * |groups| rows — broadcast back over the fact scan for pass 2's
    * filtered count. Same shape as q99's z-score stats join; no window,
    * no global sort. */
  def iqrOutliers(df: DataFrame, groupCol: String, valCol: String,
      cdf: Option[DataFrame] = None): DataFrame = {
    val v = col(valCol)
    val fences = percentilesFromCdf(
        cdf.getOrElse(rankedCdf(df, groupCol, valCol)
          .localCheckpoint(eager = false)),
        groupCol, Seq(0.25, 0.75))
      .select(col(groupCol), col("p0").as("q1"), col("p1").as("q3"))
      .withColumn("lo", col("q1") - (col("q3") - col("q1")) * 1.5)
      .withColumn("hi", col("q3") + (col("q3") - col("q1")) * 1.5)
    df.join(broadcast(fences), groupCol)
      .groupBy(groupCol)
      .agg(round(first(col("q1")), 6).as("q1"),
        round(first(col("q3")), 6).as("q3"),
        count(lit(1)).as("n"),
        sum(when(v < col("lo") || v > col("hi"), 1).otherwise(0))
          .as("n_outliers"))
  }

  /** Full CUBE profile over `dims` with `grouping_id` disambiguation:
    * counts + an exact-decimal metric total for EVERY dim subset in
    * one pass — Spark expands the cube into a single Expand + hash-agg
    * (2^|dims| streams, one shuffle), never 2^|dims| scans. gid's bit
    * mask (first dim = most significant, 1 = aggregated-away) is what
    * separates a genuine NULL dim value from a subtotal row — the
    * classic rollup ambiguity, resolved the SQL-standard way.
    *
    * CONTRACT: `valCol` must be integer-valued — the total is summed
    * through decimal(38,0), which rounds each term to an integer
    * BEFORE summing (the overflow-free exact form for counts/sizes).
    * A fractional metric (prices, scores) would be silently
    * per-row-rounded; use an exact scaled-decimal sum
    * ([[graft.ExtQueries]]'s sumExact6 pattern) for those instead. */
  def cubeProfile(df: DataFrame, dims: Seq[String], valCol: String)
      : DataFrame =
    df.cube(dims.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col(valCol).cast("decimal(38,0)")).cast("long").as("total"),
        grouping_id().as("gid"))
      .orderBy(col("gid") +: dims.map(col(_).asc_nulls_first): _*)

  /** First-significant-digit distribution vs Benford's law — the data-
    * forensics screen for fabricated / truncated / unit-mixed numeric
    * columns (natural multi-magnitude amounts follow
    * P(d) = log₁₀(1+1/d); clerical defaults and caps do not).
    * Input values are 2-dp monetary doubles: ×100 through a
    * DECIMAL(38,0) cast gives exact integer cents (leading digit is
    * scale-invariant), and the digit is the first character of the
    * integer's string form — no log10 at the boundary, no
    * double-formatting ambiguity. Returns 9 rows (digit, n, obs_p,
    * exp_p) with the χ² statistic repeated — one count agg over the
    * data, then arithmetic on the 9-row frame; expected probabilities
    * are shared literal constants (the [[PoissonCuts]] discipline) so
    * both engines parse identical doubles. Non-positive values are
    * excluded (Benford applies to positive magnitudes) — and so,
    * implicitly, are sub-cent values in (0, 0.005): they round to 0
    * cents, whose leading "digit" 0 falls outside the 1–9 grid. For
    * the stated 2-dp monetary inputs the interval is empty; feeding
    * finer-grained positives would silently drop them from both the
    * grid and the χ² total. */
  def benfordAudit(df: DataFrame, valCol: String): DataFrame = {
    val cents = (col(valCol) * 100).cast("decimal(38,0)")
    val digit = substring(cents.cast("string"), 1, 1).cast("int")
    val counts = df.filter(col(valCol) > 0)
      .select(digit.as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("nd"))
    val grid = counts.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"))
      .join(counts, Seq("digit"), "left")
      .na.fill(0L, Seq("nd"))
    val tot = grid.agg(sum("nd").as("nn"))
    val exp = element_at(array(BenfordProbs.map(lit): _*), col("digit"))
    val obs = col("nd").cast("double") / col("nn")
    grid.crossJoin(broadcast(tot))
      .withColumn("obs_p", round(obs, 6))
      .withColumn("exp_p", exp)
      .withColumn("__t", round(col("nn") * (obs - exp) * (obs - exp) /
        exp, 12).cast("decimal(38,12)"))
      .withColumn("chi2", round(sum(col("__t"))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(lit(1))).cast("double"), 6))
      .select(col("digit"), col("nd").as("n"), col("obs_p"),
        col("exp_p"), col("chi2"))
      .orderBy("digit")
  }

  /** Benford first-digit probabilities log₁₀(1+1/d), d = 1..9 — shared
    * literal text with the DuckDB oracle (the [[PoissonCuts]] rule:
    * identical source text parses to identical doubles). */
  val BenfordProbs: Seq[Double] = Seq(0.3010299956639812,
    0.17609125905568124, 0.12493873660829993, 0.09691001300805642,
    0.07918124604762482, 0.06694678963061322, 0.05799194697768673,
    0.05115252244738129, 0.04575749056067514)

  /** Self-join-size (second frequency moment F₂ = Σₖ fₖ²) estimation
    * via a RELATIONAL Count–Min sketch — the query-planning primitive
    * behind "how big would this equi-join get / how skewed is this
    * key" decided from a w·d-bounded synopsis instead of a full
    * per-key count. Unlike q129's opaque binary sketch, the counter
    * table here is a FRAME: each row fans out to `depth` (row, bucket)
    * cells map-side, one hash-agg builds the (i, b, c) counters
    * (bounded by w·d, mergeable by addition — the partial-agg shape),
    * and the estimate is minᵢ Σ_b c²ᵢ,b. Every step is deterministic
    * scrambled hashing, so the DuckDB oracle replicates the ESTIMATE
    * exactly — the one-sided guarantee (estimate ≥ exact: collisions
    * only ADD cross terms) is then an output column that must read
    * true, not an assumed property.
    *
    * Returns one row (n, f2_exact, f2_est, ratio, never_under). The
    * exact side is a per-key count + decimal Σf² — fine at test scale
    * and the thing the sketch replaces at 100 TB. Counter squares sum
    * through DECIMAL(38,0) (exact for any N). */
  /** The (i, b, c) Count–Min counter frame behind [[cmsSelfJoinSize]]
    * and [[cmsJoinSize]] — each row fans out to `depth` cells
    * map-side, one hash-agg builds the w·d-bounded counters. */
  private def cmsCounters(df: DataFrame, keyCol: String, width: Int,
      depth: Int): DataFrame = {
    val k = col(keyCol).cast("string")
    val cells = (0 until depth).map(i => struct(lit(i).as("i"),
      (graft.ext.TextOps.scrambledHash(
        concat(k, lit(s"#$i"))) % width).as("b")))
    df.select(explode(array(cells: _*)).as("ib"))
      .groupBy(col("ib.i").as("i"), col("ib.b").as("b"))
      .agg(count(lit(1)).as("c"))
  }

  def cmsSelfJoinSize(df: DataFrame, keyCol: String,
      width: Int = 8192, depth: Int = 5): DataFrame = {
    val counters = cmsCounters(df, keyCol, width, depth)
    val est = counters.groupBy("i")
      .agg(sum((col("c") * col("c")).cast("decimal(38,0)")).as("s"))
      .agg(min(col("s")).cast("long").as("f2_est"))
    val exact = df.groupBy(col(keyCol)).agg(count(lit(1)).as("f"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("f")).as("n"),
        sum((col("f") * col("f")).cast("decimal(38,0)"))
          .cast("long").as("f2_exact"))
    exact.crossJoin(broadcast(est))
      .select(col("n"), col("n_keys"), col("f2_exact"), col("f2_est"),
        round(col("f2_est").cast("double") / col("f2_exact"), 6)
          .as("ratio"),
        (col("f2_est") >= col("f2_exact")).as("never_under"))
  }

  /** CROSS-table equi-join-size estimation — the general form of
    * [[cmsSelfJoinSize]]: |A ⋈ B| = Σₖ f_A(k)·f_B(k), estimated as
    * minᵢ Σ_b c_A(i,b)·c_B(i,b) from the two counter frames. The two
    * relations are sketched INDEPENDENTLY (same hash family, so
    * sketches built on different days / different clusters still
    * inner-product) and the estimate costs one w·d-row join — this is
    * how a planner prices a fact-fact join without touching either
    * fact table. Same one-sided guarantee (collisions only add), same
    * exact oracle replication; the exact side joins per-key count
    * frames (|keys| rows, never the data). */
  def cmsJoinSize(a: DataFrame, aKey: String, b: DataFrame,
      bKey: String, width: Int = 8192, depth: Int = 5): DataFrame = {
    val ca = cmsCounters(a, aKey, width, depth)
      .select(col("i"), col("b"), col("c").as("ca"))
    val cb = cmsCounters(b, bKey, width, depth)
      .select(col("i"), col("b"), col("c").as("cb"))
    // a depth row whose buckets never overlap has inner product 0 and
    // must participate in the min (it proves the join is tiny) — the
    // grid left-join restores rows the inner bucket join drops
    val rowSums = ca.join(cb, Seq("i", "b"))
      .groupBy("i")
      .agg(sum((col("ca") * col("cb")).cast("decimal(38,0)")).as("s"))
    val est = a.sparkSession.range(depth)
      .select(col("id").cast("int").as("i"))
      .join(rowSums, Seq("i"), "left")
      .agg(min(coalesce(col("s"), lit(0).cast("decimal(38,0)")))
        .cast("long").as("join_est"))
    val fa = a.groupBy(col(aKey).as("k")).agg(count(lit(1)).as("fa"))
    val fb = b.groupBy(col(bKey).as("k")).agg(count(lit(1)).as("fb"))
    val exact = fa.join(fb, "k")
      .agg(coalesce(sum((col("fa") * col("fb")).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).cast("long").as("join_exact"))
    val na = a.agg(count(lit(1)).as("n_a"))
    val nb = b.agg(count(lit(1)).as("n_b"))
    na.crossJoin(broadcast(nb)).crossJoin(broadcast(exact))
      .crossJoin(broadcast(est))
      .select(col("n_a"), col("n_b"), col("join_exact"),
        col("join_est"),
        when(col("join_exact") > 0,
          round(col("join_est").cast("double") / col("join_exact"), 6))
          .as("ratio"),
        (col("join_est") >= col("join_exact")).as("never_under"))
  }

  /** Driver-side CMS join-size estimate — the PLANNER form of
    * [[cmsJoinSize]]: identical inner-product arithmetic (same hash
    * family, width, depth — the q229 oracle replicates it exactly),
    * returned as one Long the caller can branch on. The collect is
    * KB-bounded BY CONSTRUCTION: the two counter frames aggregate to
    * ≤ depth rows before the min, and only that single reduced row
    * crosses to the driver — the documented KB-scale pattern (q90 /
    * q219), not a data collect. This is the two-sketches-to-one-number
    * loop a planner actually runs: sketch each relation independently
    * (possibly on different days / clusters), inner-product the
    * counters, price the join without touching either fact table. */
  def cmsJoinEstimate(a: DataFrame, aKey: String, b: DataFrame,
      bKey: String, width: Int = 8192, depth: Int = 5): Long = {
    val ca = cmsCounters(a, aKey, width, depth)
      .select(col("i"), col("b"), col("c").as("ca"))
    val cb = cmsCounters(b, bKey, width, depth)
      .select(col("i"), col("b"), col("c").as("cb"))
    val rowSums = ca.join(cb, Seq("i", "b"))
      .groupBy("i")
      .agg(sum((col("ca") * col("cb")).cast("decimal(38,0)")).as("s"))
    a.sparkSession.range(depth)
      .select(col("id").cast("int").as("i"))
      .join(rowSums, Seq("i"), "left")
      .agg(min(coalesce(col("s"), lit(0).cast("decimal(38,0)")))
        .cast("long").as("join_est"))
      .head().getLong(0)
  }

  /** Simpson's-paradox audit: per-group OLS slope of y on x next to
    * the POOLED slope, with a reversal flag — the aggregation trap
    * detector ("the trend inside every stratum contradicts the trend
    * of the blended corpus"), the regression companion to
    * [[corrExact]]'s per-group correlations. Run it before trusting
    * any pooled metric across heterogeneous sources.
    *
    * One (group) agg collects exact-decimal sufficient statistics
    * (Σx, Σy, Σxy, Σx² — x integer-valued and y 2-dp in the intended
    * inputs, so the decimal casts are EXACT, no rounding anywhere);
    * the pooled stats re-aggregate the group partials while still
    * decimal (sums of exact sums stay exact — the same merge law the
    * incremental-pipeline ops rely on). Slopes are then identical
    * IEEE expressions over exact integers on both engines. */
  def simpsonSlopes(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val x = col(xCol).cast("double"); val y = col(yCol).cast("double")
    val parts = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(x.cast("decimal(28,6)")).as("sx"),
        sum(y.cast("decimal(28,6)")).as("sy"),
        sum((x * y).cast("decimal(38,6)")).as("sxy"),
        sum((x * x).cast("decimal(38,6)")).as("sxx"))
      .localCheckpoint(eager = false) // group rows + pooled re-agg
    val pooled = parts.agg(sum("n").as("pn"), sum("sx").as("psx"),
      sum("sy").as("psy"), sum("sxy").as("psxy"),
      sum("sxx").as("psxx"))
    def slope(n: Column, sx: Column, sy: Column, sxy: Column,
        sxx: Column): Column = {
      val nd = n.cast("double")
      (nd * sxy.cast("double") - sx.cast("double") * sy.cast("double")) /
        (nd * sxx.cast("double") -
          sx.cast("double") * sx.cast("double"))
    }
    val g = slope(col("n"), col("sx"), col("sy"), col("sxy"),
      col("sxx"))
    val p = slope(col("pn"), col("psx"), col("psy"), col("psxy"),
      col("psxx"))
    parts.crossJoin(broadcast(pooled))
      .select(col(groupCol), col("n"),
        round(g, 6).as("slope_group"),
        round(p, 6).as("slope_pooled"),
        (signum(g) =!= signum(p)).as("reversed"))
      .orderBy(groupCol)
  }

  /** Cohen's κ between two categorical columns — chance-corrected
    * agreement: κ = (p_o − p_e)/(1 − p_e) with p_o the observed
    * agreement rate and p_e the agreement expected from the marginals
    * alone. The audit behind "is this cheap heuristic actually
    * predicting the gold label, or just matching the base rates" — the
    * companion to [[chiSquare]] (association) when the two columns
    * share a label space. Returns one row (n, po, pe, kappa); κ is
    * NULL when p_e = 1 (single-class degenerate — undefined by
    * convention, pinned in the spec).
    *
    * Scale shape: ONE (a, b) count agg over the data (map-side
    * combined); agreement, marginals and the cross-product all
    * re-aggregate the |classes|² confusion frame. Every sum is an
    * exact long (counts and count products), so p_o/p_e/κ are single
    * IEEE divisions of exact integers — deterministic under any
    * partitioning with no decimal machinery needed. Rows where either
    * column is NULL count toward n but never toward agreement or the
    * joined marginals (SQL null semantics, mirrored by the oracle). */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String)
      : DataFrame = {
    val conf = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false) // read by 4 tiny re-aggs
    val tot = conf.agg(sum("n").as("nn"))
    val agree = conf.filter(col("a") === col("b"))
      .agg(coalesce(sum("n"), lit(0L)).as("ag"))
    val rm = conf.groupBy(col("a").as("c")).agg(sum("n").as("r"))
    val cm = conf.groupBy(col("b").as("c")).agg(sum("n").as("m"))
    val cross = rm.join(cm, "c")
      .agg(coalesce(sum(col("r") * col("m")), lit(0L)).as("x"))
    val po = col("ag").cast("double") / col("nn")
    val pe = col("x").cast("double") /
      (col("nn").cast("double") * col("nn"))
    tot.crossJoin(broadcast(agree)).crossJoin(broadcast(cross))
      .select(col("nn").as("n"),
        round(po, 6).as("po"),
        round(pe, 6).as("pe"),
        when(lit(1.0) - pe =!= 0.0,
          round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"))
  }
}

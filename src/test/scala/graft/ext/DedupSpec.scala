package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (3L, "completely different words entirely here now thanks friend"),
    (4L, "sparkling data engines process huge tables quickly and well"))
    .toDF("doc_id", "text")

  test("exactDedup keeps min id and counts dupes") {
    val out = Dedup.exactDedup(docs, "text", "doc_id")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(out.contains((0L, 2L))) // doc 0+2 collapse, min id 0
    assert(out.length == 4)
  }

  test("jaccardPairs finds near-dups with correct jaccard value") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.3)
      .as[(Long, Long, Double)].collect().toSeq
    // docs 0/2 identical → jac 1.0; docs 0/1 and 1/2 share 6 of 8 distinct
    // 3-shingles (7 each, 6 shared) → 6/8 = 0.75
    assert(pairs.exists { case (a, b, j) => a == 0 && b == 2 && j == 1.0 })
    assert(pairs.exists { case (a, b, j) =>
      a == 0 && b == 1 && math.abs(j - 0.75) < 1e-12 })
    assert(!pairs.exists { case (a, b, _) => a == 3 || b == 3 })
  }

  test("incrementalJaccardPairs == full-recompute jaccardPairs filtered " +
      "to batch-incident pairs, on the fixture corpus") {
    val all = graft.engine.Tables.documents(spark, sf0001)
    val corpus = all.filter(col("doc_id") % 5 =!= 3)
    val batch = all.filter(col("doc_id") % 5 === 3)
    val index = Dedup.corpusShingleIndex(corpus, "doc_id", "text", 3, 100)
    val inc = Dedup.incrementalJaccardPairs(index, batch, "doc_id",
        "text", 3, 0.1, 100)
      .as[(Long, Long, Double)].collect().toSet
    val full = Dedup.jaccardPairs(all, "doc_id", "text", 3, 0.1, 100)
      .filter(col("id_a") % 5 === 3 || col("id_b") % 5 === 3)
      .as[(Long, Long, Double)].collect().toSet
    assert(inc == full)
    assert(inc.nonEmpty, "batch should have incident near-dup pairs")
    // and no corpus-corpus pair leaks into the incremental output
    assert(inc.forall { case (a, b, _) => a % 5 == 3 || b % 5 == 3 })
  }

  test("incrementalJaccardPairs: a batch arrival pushing a corpus " +
      "shingle over the df-cap removes it from numerator AND corpus " +
      "denominators, exactly as the full recompute does") {
    // corpus d1/d2 share "p q r" (df_c = 2 = maxDf); batch d3 brings a
    // third occurrence → df_u = 3 > 2, the shingle leaves the universe:
    // d1/d2/d3 keep 2 surviving shingles each and share nothing
    val corpus = Seq(
      (1L, "p q r s t"), (2L, "p q r u v")).toDF("doc_id", "text")
    val batch = Seq((3L, "p q r w x")).toDF("doc_id", "text")
    val all3 = corpus.unionByName(batch)
    def run(cap: Int) = {
      val idx = Dedup.corpusShingleIndex(corpus, "doc_id", "text", 3, cap)
      (Dedup.incrementalJaccardPairs(idx, batch, "doc_id", "text",
          3, 0.01, cap).as[(Long, Long, Double)].collect().toSet,
        Dedup.jaccardPairs(all3, "doc_id", "text", 3, 0.01, cap)
          .filter(col("id_a") === 3L || col("id_b") === 3L)
          .as[(Long, Long, Double)].collect().toSet)
    }
    val (incCapped, fullCapped) = run(cap = 2)
    assert(incCapped == fullCapped)
    assert(incCapped.isEmpty, "cap-crossed shingle must not pair docs")
    // with a loose cap the same shingle DOES pair the batch with both
    // corpus docs: 1 shared of 3+3−1 → jac = 0.2
    val (incLoose, fullLoose) = run(cap = 10)
    assert(incLoose == fullLoose)
    assert(incLoose == Set((1L, 3L, 0.2), (2L, 3L, 0.2)))
    // ALREADY-hot shingle (df_c > cap, posting list nulled in the
    // index): a batch doc carrying it must neither pair on it nor
    // count it in any denominator — and the batch docs' own shared
    // suffix still pairs them. Corpus: three docs share "p q r"
    // (df_c = 3 > cap 2); batch: two docs both carry the hot "p q r"
    // AND a fresh shared "w x y".
    val hotCorpus = Seq((1L, "p q r s t"), (2L, "p q r u v"),
      (4L, "p q r a b")).toDF("doc_id", "text")
    val hotBatch = Seq((5L, "p q r w x y"), (6L, "p q r w x y z"))
      .toDF("doc_id", "text")
    val hotIdx =
      Dedup.corpusShingleIndex(hotCorpus, "doc_id", "text", 3, 2)
    val incHot = Dedup.incrementalJaccardPairs(hotIdx, hotBatch,
        "doc_id", "text", 3, 0.01, 2)
      .as[(Long, Long, Double)].collect().toSet
    val fullHot = Dedup.jaccardPairs(
        hotCorpus.unionByName(hotBatch), "doc_id", "text", 3, 0.01, 2)
      .filter(col("id_a") >= 5L || col("id_b") >= 5L)
      .as[(Long, Long, Double)].collect().toSet
    assert(incHot == fullHot)
    // hand check: "p q r" is out of the universe (df_u = 5 > 2), so
    // doc5's surviving shingles are {qrw, rwx, wxy} (3) and doc6's
    // {qrw, rwx, wxy, xyz} (4); they share all 3 → jac = 3/(3+4−3) =
    // 0.75, and neither batch doc pairs with any corpus doc
    assert(incHot == Set((5L, 6L, 0.75)))
  }

  test("incrementalMinhashPairs == full-recompute minhashBandPairs " +
      "filtered to batch-incident pairs (band keys decompose exactly)") {
    val all = graft.engine.Tables.documents(spark, sf0001)
    val corpus = all.filter(col("doc_id") % 5 =!= 3)
    val batch = all.filter(col("doc_id") % 5 === 3)
    val (bandIndex, post, sizes) = Dedup.corpusLshIndex(
      corpus, "doc_id", "text", 3, 12, 3)
    val inc = Dedup.incrementalMinhashPairs(bandIndex, post, sizes,
        batch, "doc_id", "text", 3, 12, 3, 0.05)
      .as[(Long, Long, Double)].collect().toSet
    val full = Dedup.minhashBandPairs(all, "doc_id", "text", 3, 12, 3,
        0.05)
      .filter(col("id_a") % 5 === 3 || col("id_b") % 5 === 3)
      .as[(Long, Long, Double)].collect().toSet
    assert(inc == full)
    assert(inc.nonEmpty, "batch should have incident banded pairs")
    assert(inc.forall { case (a, b, _) => a % 5 == 3 || b % 5 == 3 })
  }

  test("incrementalFlags: cap-crossing algebra — an arriving doc " +
    "pushing a corpus shingle over the cap shrinks corpus denominators " +
    "exactly (df_b = 1 form), on BOTH counting paths") {
    // maxDf = 2: shingle "a b c" sits AT the cap in the corpus (df_c =
    // 2, list kept); the arriving doc contains it → newly hot → it
    // leaves the universe and each corpus doc holding it loses 1 from
    // its denominator. Hand algebra: n_a(9) = 1 ("b c d" only),
    // n_b(1) = 2 − 1 = 1, n_shared(9,1) = 1 ("b c d") → jac = 1.0;
    // (9,2) shares only the hot shingle → no row.
    val corpus = Seq((1L, "a b c d"), (2L, "a b c e"))
      .toDF("doc_id", "text")
    val arriving = Seq((9L, "a b c d")).toDF("doc_id", "text")
    val index = Dedup.corpusShingleIndex(corpus, "doc_id", "text",
      k = 3, maxDf = 2)
    val out = Dedup.incrementalFlags(arriving, index, "doc_id", "text",
        k = 3, threshold = 0.1, maxDf = 2)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 9L, 1.0)))
    // the q238 machinery agrees on the same one-doc batch
    val viaQ238 = Dedup.incrementalJaccardPairs(index, arriving,
        "doc_id", "text", k = 3, threshold = 0.1, maxDf = 2)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == viaQ238)
    // and the STREAMING counting path (sorted-runs + hot-correction
    // scan) produces the same row on the same constructed case
    val streamed = Dedup.incrementalFlags(
        arriving.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_seconds(lit(0))),
        index, "doc_id", "text", k = 3, threshold = 0.1, maxDf = 2,
        streaming = true)
      .as[(Long, Long, Double)].collect().toSeq
    assert(streamed == out)
  }

  test("minhashBandPairsFromIndex == minhashBandPairs (corpus pairs " +
    "derived from persisted state alone — no text rescan)") {
    val corpus = graft.engine.Tables.documents(spark, sf0001)
      .filter(col("doc_id") % 5 =!= 3)
    val direct = Dedup.minhashBandPairs(corpus, "doc_id", "text",
        3, 12, 3, 0.05)
      .as[(Long, Long, Double)].collect().toSeq
    val (bandIndex, post, sizes) = Dedup.corpusLshIndex(
      corpus, "doc_id", "text", 3, 12, 3)
    val fromIndex = Dedup.minhashBandPairsFromIndex(bandIndex, post,
        sizes, 0.05)
      .as[(Long, Long, Double)].collect().toSeq
    assert(fromIndex.nonEmpty && fromIndex == direct)
  }

  test("upsertShingleIndex == fresh corpusShingleIndex over corpus∪batch " +
      "(lists merge sorted; cap-crossing rows null out like a rebuild)") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("sh"), col("df_c"),
          when(col("cpids").isNotNull,
            concat_ws(",", transform(col("cpids"), _.cast("string"))))
            .as("p"))
        .as[(Long, Long, Option[String])].collect().toSet
    // fixture corpus: the upsert must reproduce the full rebuild exactly
    val all = graft.engine.Tables.documents(spark, sf0001)
    val corpus = all.filter(col("doc_id") % 5 =!= 3)
    val batch = all.filter(col("doc_id") % 5 === 3)
    val up = Dedup.upsertShingleIndex(
      Dedup.corpusShingleIndex(corpus, "doc_id", "text", 3, 100),
      batch, "doc_id", "text", 3, 100)
    val fresh = Dedup.corpusShingleIndex(all, "doc_id", "text", 3, 100)
    assert(canon(up) == canon(fresh))
    // constructed cap-crossing: "p q r" at df_c = 2 = cap gains a third
    // occurrence → merged row keeps df 3 but the list nulls out
    val c2 = Seq((1L, "p q r s t"), (2L, "p q r u v"))
      .toDF("doc_id", "text")
    val b2 = Seq((3L, "p q r w x")).toDF("doc_id", "text")
    val up2 = canon(Dedup.upsertShingleIndex(
      Dedup.corpusShingleIndex(c2, "doc_id", "text", 3, 2),
      b2, "doc_id", "text", 3, 2))
    assert(up2 == canon(Dedup.corpusShingleIndex(
      c2.unionByName(b2), "doc_id", "text", 3, 2)))
    assert(up2.exists { case (_, df, p) => df == 3L && p.isEmpty })
  }

  test("containmentPairs: swallowed doc scores 1.0 against its container " +
      "while symmetric jaccard misses the pair") {
    // doc 5 is a verbatim prefix of doc 0: its 3 shingles all live inside
    // doc 0's 7, so C(5→0)=1.0 but J(5,0)=3/7 — the asymmetric signal.
    val corpus = docs.unionByName(
      Seq((5L, "the quick brown fox jumps")).toDF("doc_id", "text"))
    val out = Dedup.containmentPairs(corpus, "doc_id", "text", 3, 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out.contains((5L, 0L, 1.0)))
    assert(out.contains((5L, 2L, 1.0)))
    // direction matters: the container holds only 3/7 of its own shingles
    // in the quote, so 0→5 stays below threshold
    assert(!out.exists { case (a, b, _) => a == 0 && b == 5 })
    // exact dups qualify in BOTH directions
    assert(out.contains((0L, 2L, 1.0)) && out.contains((2L, 0L, 1.0)))
    // and the symmetric metric would never have surfaced 5↔0 at 0.9
    val jac = Dedup.jaccardPairs(corpus, "doc_id", "text", 3, 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(!jac.exists { case (a, b, _) => a == 5 || b == 5 })
  }

  test("repeatedSpanCoverage: cross-doc spans count, within-doc " +
      "repetition and short docs do not") {
    val corpus = Seq(
      // A and B share the 8-gram alpha..theta (A at 0, B at 1)
      (0L, "alpha beta gamma delta epsilon zeta eta theta ex1 ex2"),
      (1L, "pre alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine"),
      (3L, "tiny doc"),
      // internal repeat of an 8-gram unique to this doc: no coverage
      (4L, "r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8"))
      .toDF("doc_id", "text")
    val out = Dedup.repeatedSpanCoverage(corpus, "doc_id", "text", 8)
      .orderBy("doc_id").as[(Long, Int, Long, Double)].collect().toSeq
    assert(out(0) == ((0L, 10, 8L, 0.8)))
    assert(out(1) == ((1L, 9, 8L, 0.888889)))
    assert(out(2) == ((2L, 9, 0L, 0.0)))
    assert(out(3) == ((3L, 2, 0L, 0.0)))
    assert(out(4) == ((4L, 16, 0L, 0.0)))
  }

  test("sortedNeighborhoodPairs: window-of-3 neighbors within block, " +
      "tie order by id, distance-0 pairs excluded") {
    val recs = Seq((1L, "abc", "a"), (2L, "abd", "a"), (3L, "abe", "a"),
      (4L, "abq", "a"), (5L, "abc", "a"), (9L, "solo", "b"))
      .toDF("id", "k", "blk")
    val out = Dedup.sortedNeighborhoodPairs(recs, "id", "k", col("blk"),
        w = 3, maxDist = 2)
      .as[(Long, Long, Int)].collect().toSet
    // sort within block a: abc(1), abc(5), abd(2), abe(3), abq(4);
    // (1,5) is distance 0 (exact-dedup's job), everything else dist 1
    assert(out == Set((1L, 2L, 1), (5L, 2L, 1), (5L, 3L, 1),
      (2L, 3L, 1), (2L, 4L, 1), (3L, 4L, 1)))
  }

  test("minhashBandPairs surfaces exact and near dups, skips dissimilar") {
    val pairs = Dedup.minhashBandPairs(docs, "doc_id", "text",
      k = 3, numHashes = 12, rowsPerBand = 3, threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs.exists { case (a, b, j) => a == 0 && b == 2 && j == 1.0 })
    assert(pairs.forall { case (_, _, j) => j >= 0.3 })
  }

  test("minhash signature of identical docs is identical") {
    val sig = docs.filter(col("doc_id").isin(0, 2))
      .select(Dedup.minhashSignature(
        Dedup.shingleHashes(col("text"), 3), 12): _*)
      .collect()
    assert(sig(0).toSeq == sig(1).toSeq)
  }

  test("simhash32: identical texts equal; near-dups within small hamming") {
    val s = docs.select(col("doc_id"), Dedup.simhash32(col("text")).as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(s(0L) == s(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(s(0L), s(1L)) <= 8)     // one word changed
    assert(hamming(s(0L), s(3L)) >= hamming(s(0L), s(1L)))
  }

  test("minhashLshMl (spark.ml variant) recovers the exact near-dup pairs") {
    val got = Dedup.minhashLshMl(docs, "doc_id", "text",
      k = 3, numHashTables = 8, threshold = 0.3)
      .as[(Long, Long, Double)].collect()
    val gotPairs = got.map(p => (p._1, p._2)).toSet
    // must surface the exact dup (0,2) and the near dup (0,1)/(1,2)
    assert(gotPairs.contains((0L, 2L)))
    assert(gotPairs.contains((0L, 1L)))
    assert(!gotPairs.exists { case (a, b) => a == 3L || b == 3L })
    // approx jaccard on hashed sets ≈ exact (no collisions at this size)
    val j02 = got.find(p => p._1 == 0L && p._2 == 2L).get._3
    assert(math.abs(j02 - 1.0) < 1e-9)
  }

  test("dupClusters: transitive near-dups collapse to min-id component") {
    // 0~1 (near), 0=2 (exact) → {0,1,2} one cluster; 3, 4 singletons
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.3)
    val clusters = Dedup.dupClusters(pairs, docs.select("doc_id"), "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(clusters(0L) == 0L && clusters(1L) == 0L && clusters(2L) == 0L)
    assert(clusters(3L) == 3L && clusters(4L) == 4L)
  }

  test("dupClusters: pointer jumping converges in O(log diameter) rounds " +
    "on an adversarial chain") {
    // path graph 0-1-2-...-40: plain min-label propagation needs ~40
    // rounds (one hop per round); with the label(label) jump each round
    // halves the remaining chain — log2(40) ≈ 5.3, allow generous slack
    val n = 40
    val pairs = (0 until n)
      .map(i => (i.toLong, (i + 1).toLong, 1.0))
      .toDF("id_a", "id_b", "jac")
    val ids = (0 to n).map(_.toLong).toDF("doc_id")
    // localMaxPairs = 0 forces the distributed path: the 40-edge chain
    // would otherwise take the small-graph union-find (rounds = 0) and
    // the convergence-rate property under test would never execute
    val (labels, rounds) =
      Dedup.dupClustersWithRounds(pairs, ids, "doc_id",
        localMaxPairs = 0)
    val m = labels.as[(Long, Long)].collect().toMap
    assert(m.values.forall(_ == 0L), "chain must collapse to min id 0")
    assert(rounds <= 10, s"expected O(log n) rounds, got $rounds")
  }

  test("dupClusters: small-graph union-find path == distributed " +
    "pointer-jumping path (round-18 strategy dispatch)") {
    // deterministic pseudo-random graph: mixed components, chains,
    // self-contained singletons — both paths must label identically
    val rnd = new scala.util.Random(42)
    val n = 200
    val pairs = (0 until 300).map { _ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong, 1.0)
    }.filter(p => p._1 != p._2).toDF("id_a", "id_b", "jac")
    val ids = (0 until n + 20).map(_.toLong).toDF("doc_id")
    val (local, lr) =
      Dedup.dupClustersWithRounds(pairs, ids, "doc_id")
    val (dist, _) =
      Dedup.dupClustersWithRounds(pairs, ids, "doc_id",
        localMaxPairs = 0)
    assert(lr == 0, "under the bound the dispatch must take the " +
      "single-task union-find path")
    assert(local.collect().toSeq == dist.collect().toSeq,
      "strategy dispatch must not change a single label")
  }

  test("jaccardPairs maxDf: hot shingle cannot create quadratic candidates") {
    // adversarial: ONE shingle shared by all 40 docs — uncapped, the
    // posting self-join emits all 780 pairs off that single hot key
    val hot = (0 until 40)
      .map(i => (i.toLong, s"hot shingle anchor u$i v$i w$i x$i"))
      .toDF("doc_id", "text")
    val un = Dedup.jaccardPairs(hot, "doc_id", "text", 3, 0.01)
    assert(un.count() == 40L * 39 / 2)
    // df-capped: the df=40 shingle leaves the universe entirely → the
    // remaining shingles are all unique → zero candidate pairs
    val capped = Dedup.jaccardPairs(hot, "doc_id", "text", 3, 0.01,
      maxDf = 10)
    assert(capped.count() == 0)
  }

  test("jaccardPairs maxDf: dropped shingle leaves numerator AND denominator") {
    val mix = (Seq(
      (100L, "hot shingle anchor rare pair token"),
      (101L, "hot shingle anchor rare pair token extra")) ++
      (0 until 20).map(i => (i.toLong, s"hot shingle anchor u$i v$i w$i")))
      .toDF("doc_id", "text")
    // (100,101) share 4 of 4/5 shingles uncapped (jac 0.8); with the
    // df=22 [hot shingle anchor] dropped: 3 shared of sizes 3/4 → 0.75
    val out = Dedup.jaccardPairs(mix, "doc_id", "text", 3, 0.5, maxDf = 5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((100L, 101L, 0.75)))
  }

  test("simhash (native) == per-bit lambda form, bit-for-bit on real docs") {
    val real = graft.engine.Tables.documents(spark, sf0001)
    val bad = real.select(
      Dedup.simhash32(col("text")).as("native"),
      Dedup.simhash32Lambda(col("text")).as("lambda"))
      .filter(col("native") =!= col("lambda")).count()
    assert(bad == 0)
  }

  test("simhashNearDupPairs == brute-force Hamming pairs (pigeonhole-exact)") {
    val real = graft.engine.Tables.documents(spark, sf0001)
    val fp = real.select(col("doc_id"), Dedup.simhash32(col("text")).as("fp"))
    val brute = fp.as("a").join(fp.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).cast("int")
          .as("hamming"))
      .filter(col("hamming") <= 3)
      .as[(Long, Long, Int)].collect().toSet
    val banded = Dedup.simhashNearDupPairs(real, "doc_id", "text",
      slices = 5, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    // maxHamming (3) < slices (5) ⇒ banding must lose NOTHING vs all-pairs
    assert(banded == brute)
  }

  test("shingleHashes: short docs yield empty set, no descending-range bug") {
    val out = Seq((9L, "one two")).toDF("doc_id", "text")
      .select(size(Dedup.shingleHashes(col("text"), 3))).as[Int].head()
    assert(out == 0)
  }

  // deterministic corpus with planted near-dup families and noise docs
  private lazy val prefixCorpus = {
    val rng = new scala.util.Random(7)
    val vocab = Vector.tabulate(60)(i => s"w$i")
    def doc() = Vector.fill(12)(vocab(rng.nextInt(vocab.size)))
    val rows = (0 until 20).flatMap { fam =>
      val base = doc()
      val mutated = base.updated(rng.nextInt(base.size),
        vocab(rng.nextInt(vocab.size)))
      Seq((fam * 3L, base.mkString(" ")),
        (fam * 3L + 1, mutated.mkString(" ")),
        (fam * 3L + 2, doc().mkString(" ")))
    }
    rows.toDF("doc_id", "text")
  }

  test("prefixJaccardPairs == exhaustive inverted-index join (prefix " +
    "filtering is lossless) at several thresholds") {
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val exact = Dedup.jaccardPairs(prefixCorpus, "doc_id", "text", 3, t)
        .as[(Long, Long, Double)].collect()
        .map { case (a, b, j) =>
          (a, b, BigDecimal(j).setScale(6,
            BigDecimal.RoundingMode.HALF_UP).toDouble) }.toSet
      val pref = Dedup.prefixJaccardPairs(prefixCorpus, "doc_id", "text",
        3, t).as[(Long, Long, Double)].collect().toSet
      // rounding can admit pairs sitting just under t that round up to it;
      // compare on the rounded-jac universe both paths share
      assert(pref == exact.filter(_._3 >= t), s"threshold $t")
    }
  }

  test("prefixJaccardPairs t=1.0 indexes ONE gram per doc and still " +
    "finds exact duplicates") {
    val pairs = Dedup.prefixJaccardPairs(docs, "doc_id", "text", 3, 1.0)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs == Seq((0L, 2L, 1.0)))
  }

  test("clusterRepresentatives: best score wins, ties break to min id, " +
    "singletons represent themselves") {
    val clusters = Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 3L), (4L, 4L))
      .toDF("doc_id", "cluster")
    val scored = Seq((0L, 10L), (1L, 30L), (2L, 30L), (3L, 5L), (4L, 7L))
      .toDF("doc_id", "n_chars")
    val out = Dedup.clusterRepresentatives(clusters, scored, "doc_id",
        "n_chars").orderBy("cluster")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // cluster 0: docs 1 and 2 tie at 30 chars → rep 1 (min id)
    assert(out == Seq((0L, 1L, 3L, 30L), (3L, 3L, 1L, 5L),
      (4L, 4L, 1L, 7L)))
  }

  test("prefix index carries a small fraction of the full posting list " +
    "(the pruning is real)") {
    val full = Dedup.postings(prefixCorpus, "doc_id", "text", 3).count()
    // count prefix rows: reproduce the internal slice bound at t=0.8
    val sets = prefixCorpus.select(col("doc_id").as("pid"),
        Dedup.shingleHashes(col("text"), 3).as("gs"))
      .filter(size(col("gs")) > 0)
      .select(col("pid"), size(col("gs")).as("m"))
      .select((col("m") - ceil(col("m") * 0.8).cast("int") + 1)
        .as("plen"))
      .agg(sum(col("plen"))).as[Long].head()
    assert(sets.toDouble / full < 0.45,
      s"prefix rows $sets vs postings $full")
  }

  test("editDistancePairs == brute-force levenshtein pairs (deletion " +
    "neighborhood is lossless: equal / delete / insert / substitute)") {
    val names = Seq(
      (1L, "karen"), (2L, "karen"),   // equal
      (3L, "karn"),                   // deletion of 1
      (4L, "karren"),                 // insertion into 1
      (5L, "kared"),                  // substitution of 1's last char
      (6L, "jklmn"),                  // far from everything
      (7L, "aaren"))                  // substitution at position 1
      .toDF("id", "name")
    val out = Dedup.editDistancePairs(names, "id", "name")
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Int)].collect().toSeq
    val brute = names.as("x").join(names.as("y"),
        col("x.id") < col("y.id") &&
          levenshtein(col("x.name"), col("y.name")) <= 1)
      .select(col("x.id"), col("y.id"),
        levenshtein(col("x.name"), col("y.name")).cast("int"))
      .orderBy("x.id", "y.id")
      .as[(Long, Long, Int)].collect().toSeq
    assert(out == brute)
    assert(out.contains((1L, 2L, 0)) && out.contains((1L, 3L, 1)) &&
      out.contains((1L, 4L, 1)) && out.contains((1L, 5L, 1)) &&
      out.contains((1L, 7L, 1)))
    assert(!out.exists(p => p._1 == 6L || p._2 == 6L))
  }

  test("editDistancePairs maxDist=2 == brute-force levenshtein <= 2 " +
    "(deletion-of-deletion neighborhood is lossless: double " +
    "substitution / transposition / insert+delete mixes)") {
    val names = Seq(
      (1L, "karen"), (2L, "karen"),
      (3L, "karn"),      // d1
      (4L, "kbrun"),     // double substitution: d2 from 1
      (5L, "akren"),     // transposition: d2 from 1 (Levenshtein)
      (6L, "jklmn"),     // far
      (7L, "karenss"),   // double insertion: d2 from 1
      (8L, "kar"),       // double deletion: d2 from 1
      (9L, ""))          // empty string edge
      .toDF("id", "name")
    val out = Dedup.editDistancePairs(names, "id", "name", maxDist = 2)
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Int)].collect().toSeq
    val brute = names.as("x").join(names.as("y"),
        col("x.id") < col("y.id") &&
          levenshtein(col("x.name"), col("y.name")) <= 2)
      .select(col("x.id"), col("y.id"),
        levenshtein(col("x.name"), col("y.name")).cast("int"))
      .orderBy("x.id", "y.id")
      .as[(Long, Long, Int)].collect().toSeq
    assert(out == brute)
    assert(out.contains((1L, 4L, 2)) && out.contains((1L, 5L, 2)) &&
      out.contains((1L, 7L, 2)) && out.contains((1L, 8L, 2)))
    assert(!out.exists(p => p._1 == 6L || p._2 == 6L))
    // d=1 results are a subset: widening the radius only adds pairs
    val d1 = Dedup.editDistancePairs(names, "id", "name")
      .as[(Long, Long, Int)].collect().toSet
    assert(d1.subsetOf(out.toSet))
  }

  test("editDistancePairs: repeated-character variants deduplicate " +
    "(len+1 keys is an upper bound, not the count)") {
    val one = Seq((1L, "aaaa")).toDF("id", "name")
    // "aaaa" → itself + one distinct deletion "aaa", not four
    val keys = one.select(explode(array_distinct(concat(
      array(col("name")),
      transform(sequence(lit(1), length(col("name"))),
        i => concat(col("name").substr(lit(1), i - 1),
          col("name").substr(i + 1, length(col("name")))))))))
    assert(keys.count() == 2)
  }

  test("cascadeSurvival: stage flags are monotone, smallest id survives " +
    "each stage, short docs pass the minhash stage") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "The quick   brown fox jumps over the lazy dog!"), // norm-dup of 0
      (2L, "the quick brown fox jumps over the lazy dog today"), // near-dup
      (3L, "completely different words entirely here now thanks friend"),
      (4L, "hi"), // too short to shingle: must pass stage 3
      (5L, "the quick brown fox jumps over the lazy dog today")) // exact of 2
      .toDF("doc_id", "text")
    val out = Dedup.cascadeSurvival(corpus, "doc_id", "text",
        k = 3, numHashes = 12, rowsPerBand = 3)
      .orderBy("id")
      .as[(Long, Boolean, Boolean, Boolean)].collect().toSeq
    val byId = out.map(r => r._1 -> r).toMap
    // monotone: a doc surviving a later stage survived all earlier ones
    out.foreach { case (_, e, s, m) =>
      assert(!m || s); assert(!s || e)
    }
    assert(byId(0L) == ((0L, true, true, true)))   // first of its group
    assert(byId(1L)._2 == false)                   // normalized dup of 0
    assert(byId(3L) == ((3L, true, true, true)))   // unique
    assert(byId(4L)._4 == true)                    // short doc passes LSH
    assert(byId(5L)._2 == false)                   // exact dup of 2
    // doc 2 survives exact+simhash; whether it survives the band stage
    // depends only on sharing a band with doc 0 — assert consistency with
    // the direct band computation rather than hardcoding
    val survivors = out.filter(_._3).map(_._1)
    assert(survivors.contains(2L))
  }

  test("cascadeSurvival is invariant under repartitioning") {
    val base = docs
    val a = Dedup.cascadeSurvival(base, "doc_id", "text", 3, 12, 3)
      .orderBy("id").collect().toSeq
    val b = Dedup.cascadeSurvival(base.repartition(7), "doc_id", "text",
        3, 12, 3)
      .orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("blockingQuality: identical docs are a guaranteed candidate " +
    "(completeness 1), a shingle-less doc generates none (exact " +
    "reduction ratio)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "xy")) // 1 token < k=3 → no shingles → excluded from banding
      .toDF("doc_id", "text")
    val truth = Seq((1L, 2L)).toDF("id_a", "id_b")
    val out = Dedup.blockingQuality(docs, "doc_id", "text", truth,
        k = 3, numHashes = 12, rowsPerBand = 3)
      .as[(Long, Long, Long, Long, Double, Double)].collect().toSeq
    // identical shingle sets → identical signatures → every band shared:
    // candidates are exactly {(1,2)}; C(3,2)=3 possible pairs
    assert(out == Seq((3L, 1L, 1L, 1L, 1.0,
      BigDecimal(1.0 - 1.0 / 3)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // empty ground truth: completeness degenerates to 1.0 by convention
    val noTruth = Dedup.blockingQuality(docs, "doc_id", "text",
        truth.filter(col("id_a") < 0), k = 3, numHashes = 12,
        rowsPerBand = 3)
      .as[(Long, Long, Long, Long, Double, Double)].collect().toSeq
    assert(noTruth.head._3 == 0L && noTruth.head._5 == 1.0)
  }

  test("bcubedQuality: hand contingency — over-merge hits precision, " +
    "over-split hits recall, singletons count; perfect match scores 1") {
    // truth groups {1,2},{3},{4,5}; predicted {1,2,3},{4},{5}
    // B³P = (2·(2/3) + 1/3 + 1 + 1)/5 = 11/15 = 0.733333
    // B³R = (1 + 1 + 1 + 1/2 + 1/2)/5 = 0.8 ; F1 = 0.765217
    val pred = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 5L))
      .toDF("id", "cluster")
    val truth = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L), (5L, 4L))
      .toDF("id", "gid")
    val out = Dedup.bcubedQuality(pred, truth)
      .as[(Long, Long, Long, Double, Double, Double)].collect()(0)
    assert(out == ((5L, 3L, 3L, 0.733333, 0.8, 0.765217)))
    val perfect = Dedup.bcubedQuality(
        truth.select(col("id"), col("gid").as("cluster")), truth)
      .as[(Long, Long, Long, Double, Double, Double)].collect()(0)
    assert(perfect == ((5L, 3L, 3L, 1.0, 1.0, 1.0)))
  }

  test("goldenRecord: longest-text representative (tie → min id), " +
      "modal attrs (tie → min value), singletons excluded") {
    val docs = Seq(
      // cluster 1: three members; 2 and 3 tie on length → rep 2
      (1L, "aa", "en", "web", 2L),
      (2L, "cccc", "fr", "web", 4L),
      (3L, "dddd", "en", "pdf", 4L),
      // cluster 4: two members; lang tie en/fr → en (min)
      (4L, "xxx", "fr", "api", 3L),
      (5L, "yy", "en", "api", 2L),
      // singleton
      (6L, "zzzzzz", "de", "web", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L),
      (5L, 4L), (6L, 6L)).toDF("doc_id", "cluster")
    val out = Dedup.goldenRecord(docs, clusters, "doc_id")
      .as[(Long, Long, Long, String, String, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 3L, 2L, "en", "web", 4L), // en 2-of-3; web 2-of-3
      (4L, 2L, 4L, "en", "api", 3L))) // lang tie breaks to min "en"
  }

  test("upsertClusters: a batch MERGES two existing corpus clusters; " +
    "hand case + equality with fresh dupClusters over the full pairs") {
    // corpus components: {1,2} (cluster 1), {5,6} (cluster 5),
    // singletons 7, 8
    val corpusPairs = Seq((1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val corpusIds = Seq(1L, 2L, 5L, 6L, 7L, 8L).toDF("id")
    val clusters = Dedup.dupClusters(corpusPairs, corpusIds, "id")
    // batch doc 9 bridges BOTH corpus clusters (2—9, 9—5): the two
    // components and the batch doc merge to min id 1; batch doc 10
    // pairs only with singleton corpus doc 8 → cluster 8; batch doc 11
    // has no pairs → singleton; pair (5,6) re-delivered inside one
    // existing component → self-edge in label space, no effect
    val newPairs = Seq((2L, 9L), (9L, 5L), (8L, 10L), (5L, 6L))
      .toDF("id_a", "id_b")
    val newIds = Seq(9L, 10L, 11L).toDF("id")
    val got = Dedup.upsertClusters(clusters, newPairs, newIds, "id")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 7L -> 7L,
      8L -> 8L, 9L -> 1L, 10L -> 8L, 11L -> 11L))
    // the contract the q243 oracle checks at corpus scale: upsert ==
    // fresh connected components over the union pair set
    val fresh = Dedup.dupClusters(corpusPairs.unionByName(newPairs),
        Seq(1L, 2L, 5L, 6L, 7L, 8L, 9L, 10L, 11L).toDF("id"), "id")
      .as[(Long, Long)].collect().toSeq
    assert(got == fresh)
  }

  test("retractShingleIndex: <=cap half equals the fresh rebuild over " +
    "retained docs; a cooled HOT row keeps its NULL list (conservative " +
    "asymmetry) with an exact df decrement") {
    // maxDf = 2. "a b c" df=3 → HOT (null list); deleting doc 3 cools
    // it to df=2 — AT the cap, but members are unrecoverable → list
    // stays null. "p q r" df=2 (<=cap) loses doc 6 → list shrinks to
    // [5]. Doc-3/6-only shingles vanish (df reaches 0).
    val corpus = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "a b c f"),
      (5L, "p q r s"), (6L, "p q r t")).toDF("doc_id", "text")
    val index = Dedup.corpusShingleIndex(corpus, "doc_id", "text",
      k = 3, maxDf = 2)
    val deleted = corpus.filter(col("doc_id").isin(3L, 6L))
    val ret = Dedup.retractShingleIndex(index, deleted, "doc_id",
        "text", k = 3, maxDf = 2)
      .as[(Long, Long, Option[Seq[Long]])].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    val fresh = Dedup.corpusShingleIndex(
        corpus.filter(!col("doc_id").isin(3L, 6L)), "doc_id", "text",
        k = 3, maxDf = 2)
      .as[(Long, Long, Option[Seq[Long]])].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    // same shingle set, same dfs everywhere
    assert(ret.keySet == fresh.keySet)
    assert(ret.forall { case (sh, (df, _)) => fresh(sh)._1 == df })
    // exactly ONE row differs — the cooled hot row: null in the
    // retraction, [1, 2] in the fresh rebuild
    val diffs = ret.filter { case (sh, v) => fresh(sh) != v }
    assert(diffs.size == 1)
    val (hotSh, (hotDf, hotList)) = diffs.head
    assert(hotDf == 2L && hotList.isEmpty &&
      fresh(hotSh)._2.contains(Seq(1L, 2L)))
    // every <=cap (list-bearing) retracted row matches fresh exactly
    assert(ret.collect { case (sh, (_, Some(l))) => sh -> l }
      .forall { case (sh, l) => fresh(sh)._2.contains(l) })
    // IDEMPOTENCY under at-least-once delivery (round-9 advice): the
    // same takedown with every row re-delivered twice must produce the
    // identical index — no double-decremented dfs, no rows dropped by
    // the df>=1 filter while their lists still hold live members
    val redelivered = Dedup.retractShingleIndex(index,
        deleted.unionByName(deleted), "doc_id", "text", k = 3, maxDf = 2)
      .as[(Long, Long, Option[Seq[Long]])].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(redelivered == ret)
  }

  test("jaccardPairsFromIndex == jaccardPairs over the same corpus, " +
    "k, threshold and cap — hot shingle included (the state-only pair " +
    "derivation sharedExactState builds clusters from)") {
    // maxDf = 2: "a b c" (docs 1,2,3) goes HOT and must drop out of
    // numerator AND denominators in BOTH paths
    val corpus = Seq((1L, "a b c d e"), (2L, "a b c d f"),
      (3L, "a b c g h"), (5L, "p q r s t"), (6L, "p q r s u"))
      .toDF("doc_id", "text")
    val direct = Dedup.jaccardPairs(corpus, "doc_id", "text",
        k = 3, threshold = 0.05, maxDf = 2)
      .as[(Long, Long, Double)].collect().toSeq
    val viaIndex = Dedup.jaccardPairsFromIndex(
        Dedup.corpusShingleIndex(corpus, "doc_id", "text",
          k = 3, maxDf = 2), threshold = 0.05)
      .as[(Long, Long, Double)].collect().toSeq
    assert(viaIndex == direct)
    assert(direct.nonEmpty)
    // the corpus-scale contract at sf0.001 too: the real fixture has
    // genuinely hot shingles under the q238 parameters
    val docs = graft.engine.Tables.documents(spark, sf0001)
      .filter(col("doc_id") % 5 =!= 3)
    val d2 = Dedup.jaccardPairs(docs, "doc_id", "text",
        k = 3, threshold = 0.1, maxDf = 100)
      .as[(Long, Long, Double)].collect().toSeq
    val v2 = Dedup.jaccardPairsFromIndex(
        Dedup.corpusShingleIndex(docs, "doc_id", "text",
          k = 3, maxDf = 100), threshold = 0.1)
      .as[(Long, Long, Double)].collect().toSeq
    assert(v2 == d2 && d2.nonEmpty)
  }

  test("incrementalFingerprintPairs == full fingerprintNearDupPairs " +
    "filtered to batch-incident pairs: batch-batch and batch-corpus " +
    "candidates both surface, corpus-corpus pairs are excluded, and " +
    ">maxHamming slice collisions die in the verify") {
    // bits=8, slices=4 (2-bit slices). 0x00/0x01/0x02/0x03 share
    // slices 1-3 (sv=0) pairwise; 0xFF shares only slice 0 with 0x03
    // (sv=3) and is Hamming 6+ from everything - candidate, then dead
    val corpusFps = Seq((1L, 0x00L), (2L, 0x01L), (3L, 0xFFL))
      .toDF("pid", "fp")
    val batchFps = Seq((10L, 0x03L), (11L, 0x02L)).toDF("pid", "fp")
    val full = Dedup.fingerprintNearDupPairs(
        corpusFps.unionByName(batchFps), bits = 8, slices = 4,
        maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSeq
    val (idx, cf) = Dedup.corpusFingerprintIndex(corpusFps,
      bits = 8, slices = 4)
    val inc = Dedup.incrementalFingerprintPairs(idx, cf, batchFps,
        bits = 8, slices = 4, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSeq
    val batchIds = Set(10L, 11L)
    assert(inc == full.filter(p =>
      batchIds(p._1) || batchIds(p._2)))
    // the shape is non-trivial: one batch-batch pair, four
    // batch-corpus pairs, and the corpus-corpus (1,2) excluded
    assert(inc.toSet == Set((1L, 10L, 2), (1L, 11L, 1), (2L, 10L, 1),
      (2L, 11L, 2), (10L, 11L, 1)))
    assert(full.contains((1L, 2L, 1)))
  }

  test("upsertPostingsIndex / retractPostingsIndex (q251/q252): both " +
    "maintenance directions of the uncapped banded index equal the " +
    "fresh rebuild exactly (new keys appear, emptied keys drop), " +
    "re-delivery is a no-op in BOTH directions, and add-then-retract " +
    "of the same batch round-trips the index to its starting state") {
    val bits = 8; val slices = 4 // 2-bit slices, as the q250 spec above
    val corpusFps = Seq((1L, 0x00L), (2L, 0x01L), (3L, 0xFFL))
      .toDF("pid", "fp")
    val batchFps = Seq((10L, 0x03L), (11L, 0x02L)).toDF("pid", "fp")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Int, Long, Seq[Long])].collect().toSet
    def freshIdx(fps: org.apache.spark.sql.DataFrame) =
      rows(Dedup.corpusFingerprintIndex(fps, bits, slices)._1)
    val idx = Dedup.corpusFingerprintIndex(corpusFps, bits, slices)._1
    val bPost = Dedup.fingerprintPostings(batchFps, bits, slices)
    // upsert == fresh corpus∪batch rebuild (0x02 opens a brand-new
    // (sl=0, sv=2) key the corpus never had)
    val up = Dedup.upsertPostingsIndex(idx, bPost, Seq("sl", "sv"))
    assert(rows(up) == freshIdx(corpusFps.unionByName(batchFps)))
    // re-delivered upsert: array_union makes it a no-op
    assert(rows(Dedup.upsertPostingsIndex(up, bPost, Seq("sl", "sv")))
      == rows(up))
    // retract == fresh rebuild over the retained docs — doc 3 (0xFF)
    // is the SOLE member of its sv=3 buckets on slices 1-3, so those
    // keys must drop, exactly as a fresh build would never emit them
    val dPost = Dedup.fingerprintPostings(
      Seq((3L, 0xFFL)).toDF("pid", "fp"), bits, slices)
    val ret = Dedup.retractPostingsIndex(idx, dPost, Seq("sl", "sv"))
    assert(rows(ret) ==
      freshIdx(Seq((1L, 0x00L), (2L, 0x01L)).toDF("pid", "fp")))
    // re-delivered takedown: no-op by array_except construction
    assert(rows(Dedup.retractPostingsIndex(ret, dPost, Seq("sl", "sv")))
      == rows(ret))
    // the round-trip law: add then retract the SAME batch == start
    assert(rows(Dedup.retractPostingsIndex(up, bPost, Seq("sl", "sv")))
      == rows(idx))
  }

  test("upsertPostingsIndex / retractPostingsIndex generalize to the " +
    "MinHash band index (q242's bk → cpids state): the SAME operators " +
    "maintain it, and both directions equal the fresh corpusLshIndex " +
    "band table over the post-maintenance doc set") {
    val k = 3; val nh = 8; val rpb = 2
    val corpus = Seq((1L, "a b c d e"), (2L, "a b c d f"),
      (4L, "p q r s t"), (5L, "p q r s u")).toDF("doc_id", "text")
    val batch = Seq((9L, "a b c d g"), (10L, "x y z w v"))
      .toDF("doc_id", "text")
    // the delta shape: (bk, pid) band-key rows from the SAME signature
    // pipeline the index was built with
    def bandRows(df: org.apache.spark.sql.DataFrame) = {
      val post = Dedup.postings(df, "doc_id", "text", k)
      val aggs = Dedup.minhashSigAggs(col("sh"), nh)
      Dedup.bandKeys(
        post.groupBy("pid").agg(aggs.head, aggs.tail: _*), nh, rpb)
    }
    def rows(idx: org.apache.spark.sql.DataFrame) =
      idx.select(col("bk").cast("string").as("bk"), col("cpids"))
        .as[(String, Seq[Long])].collect().toSet
    def freshBandIdx(df: org.apache.spark.sql.DataFrame) =
      rows(Dedup.corpusLshIndex(df, "doc_id", "text", k, nh, rpb)._1)
    val idx = Dedup.corpusLshIndex(corpus, "doc_id", "text",
      k, nh, rpb)._1
    val up = Dedup.upsertPostingsIndex(idx, bandRows(batch), Seq("bk"))
    assert(rows(up) == freshBandIdx(corpus.unionByName(batch)))
    // retraction: deleted band keys recompute from the deleted docs
    // (the LSH family persists postings, so signatures are derivable
    // without rescanning text at scale; the tiny fixture recomputes)
    val ret = Dedup.retractPostingsIndex(idx,
      bandRows(corpus.filter(col("doc_id") === 4L)), Seq("bk"))
    assert(rows(ret) == freshBandIdx(corpus.filter(col("doc_id") =!= 4L)))
    // round-trip law on this modality too
    assert(rows(Dedup.retractPostingsIndex(up, bandRows(batch),
      Seq("bk"))) == rows(idx))
  }

  test("fingerprintPairsFromIndex == fingerprintNearDupPairs over the " +
    "same fingerprints (the state-only pair derivation " +
    "sharedFingerprintState builds clusters from — payloads scanned " +
    "once, for the fingerprints)") {
    // the q250-family fixture: 0x00/0x01 pair up, 0xFF is a candidate
    // via a shared slice but dies in the Hamming verify
    val fps = Seq((1L, 0x00L), (2L, 0x01L), (3L, 0xFFL), (10L, 0x03L))
      .toDF("pid", "fp")
    val direct = Dedup.fingerprintNearDupPairs(fps, bits = 8,
        slices = 4, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSeq
    val (idx, f) = Dedup.corpusFingerprintIndex(fps, bits = 8,
      slices = 4)
    val viaIndex = Dedup.fingerprintPairsFromIndex(idx, f,
        maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSeq
    assert(viaIndex == direct && direct.nonEmpty)
    // and on the real fixture at the q237/q250 parameters
    val docs = graft.engine.Tables.documents(spark, sf0001)
      .filter(col("doc_id") % 5 =!= 3)
    val cfps = Multimodal.blockhashFingerprints(
      Multimodal.mediaTable(docs), "doc_id", blocks = 32)
    val d2 = Dedup.fingerprintNearDupPairs(cfps, bits = 32,
        slices = 4, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSeq
    val (idx2, f2) = Dedup.corpusFingerprintIndex(cfps, bits = 32,
      slices = 4)
    val v2 = Dedup.fingerprintPairsFromIndex(idx2, f2, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSeq
    assert(v2 == d2 && d2.nonEmpty)
  }

  test("incrementalFingerprintPairs: the BATCH WINS on a re-crawled " +
    "pid — the stale corpus fingerprint never reaches the verify, " +
    "stale index self-candidates drop, and the output equals the full " +
    "recompute over the batch-wins doc set (round-10 advice)") {
    // corpus 3 = 0xFF; the batch RE-CRAWLS pid 3 as 0xFB (shares its
    // own stale slice keys -> self-candidate must drop) and adds 10.
    // Batch-wins doc set: {1: 0x00, 2: 0x01, 3: 0xFB, 10: 0x03}
    val corpusFps = Seq((1L, 0x00L), (2L, 0x01L), (3L, 0xFFL))
      .toDF("pid", "fp")
    val batchFps = Seq((3L, 0xFBL), (10L, 0x03L)).toDF("pid", "fp")
    val (idx, cf) = Dedup.corpusFingerprintIndex(corpusFps,
      bits = 8, slices = 4)
    val inc = Dedup.incrementalFingerprintPairs(idx, cf, batchFps,
        bits = 8, slices = 4, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSeq
    // no self-pair, no row scored against 3's stale 0xFF (0xFB is
    // Hamming >3 from everything, so 3 vanishes from the output; 10
    // pairs with 1 and 2 as usual)
    assert(inc.toSet == Set((1L, 10L, 2), (2L, 10L, 1)))
    // == the full recompute over the batch-wins doc set, filtered to
    // batch-incident pairs
    val winsDocs = Seq((1L, 0x00L), (2L, 0x01L), (3L, 0xFBL),
      (10L, 0x03L)).toDF("pid", "fp")
    val batchIds = Set(3L, 10L)
    val full = Dedup.fingerprintNearDupPairs(winsDocs, bits = 8,
        slices = 4, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSeq
      .filter(p => batchIds(p._1) || batchIds(p._2))
    assert(inc == full)
  }

  test("upsertPostingsIndex / retractPostingsIndex are generic over " +
    "the pid type: a STRING id space maintains exactly like the " +
    "bigint fixtures (the empty-list element type derives from the " +
    "index schema — round-10 advice)") {
    val idx = Seq(("x", Seq("a", "c"))).toDF("bk", "cpids")
    val bPost = Seq(("x", "b"), ("y", "d")).toDF("bk", "pid")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Seq[String])].collect().toSet
    val up = Dedup.upsertPostingsIndex(idx, bPost, Seq("bk"))
    assert(rows(up) == Set("x" -> Seq("a", "b", "c"), "y" -> Seq("d")))
    // retraction: emptied key drops; round-trip returns to start
    assert(rows(Dedup.retractPostingsIndex(up,
      Seq(("y", "d")).toDF("bk", "pid"), Seq("bk")))
      == Set("x" -> Seq("a", "b", "c")))
    assert(rows(Dedup.retractPostingsIndex(up, bPost, Seq("bk")))
      == rows(idx))
  }

  test("lifecycle chaining on the BANDED path (q257 shape): the batch " +
    "folds forward through incremental pairs + index upsert + cluster " +
    "upsert, cluster upsert == fresh components over the union pair " +
    "set, and retracting the same batch returns BOTH state tables to " +
    "their starting rows (index byte-identical — uncapped, no " +
    "tombstone asymmetry on this path)") {
    val k = 3; val nh = 12; val rpb = 3; val thr = 0.05
    val docs = graft.engine.Tables.documents(spark, sf0001)
    val corpus = docs.filter(col("doc_id") % 5 =!= 3)
    val batch = docs.filter(col("doc_id") % 5 === 3)
    def idxRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("bk").cast("string").as("bk"), col("cpids"))
        .as[(String, Seq[Long])].collect().toSet
    def clusterRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").as[(Long, Long)].collect().toSeq
    // stage 1 — corpus state (index + postings + sizes + pairs + clusters)
    val (idx0, post0, sizes0) = Dedup.corpusLshIndex(corpus, "doc_id",
      "text", k, nh, rpb)
    val corpusPairs = Dedup.minhashBandPairsFromIndex(idx0, post0,
      sizes0, thr).select("id_a", "id_b")
    val clusters0 = Dedup.dupClusters(corpusPairs,
      corpus.select("doc_id"), "doc_id")
    // stage 2 — batch folds forward
    val newPairs = Dedup.incrementalMinhashPairs(idx0, post0, sizes0,
      batch, "doc_id", "text", k, nh, rpb, thr).select("id_a", "id_b")
    assert(newPairs.count() > 0) // the merge below is non-vacuous
    val bRows = Dedup.bandRowsFromPostings(
      Dedup.postings(batch, "doc_id", "text", k), nh, rpb)
    val idx1 = Dedup.upsertPostingsIndex(idx0, bRows, Seq("bk"))
    val clusters1 = Dedup.upsertClusters(clusters0, newPairs,
      batch.select("doc_id"), "doc_id")
    val unionPairs = corpusPairs.unionByName(newPairs)
    // the handoff law: incremental fold == fresh components over the
    // union pair set (no cap algebra anywhere on this path)
    assert(clusterRows(clusters1) == clusterRows(Dedup.dupClusters(
      unionPairs, docs.select("doc_id"), "doc_id")))
    // stage 3 — retract the SAME batch: both tables return to start
    val idx2 = Dedup.retractPostingsIndex(idx1, bRows, Seq("bk"))
    assert(idxRows(idx2) == idxRows(idx0))
    val clusters2 = Dedup.retractClusters(clusters1, unionPairs,
      batch.select("doc_id"), "doc_id")
    assert(clusterRows(clusters2) == clusterRows(clusters0))
  }

  test("lifecycle chaining (q248 shape): the SAME doc added by " +
    "upsert/incremental-pairs/cluster-upsert then retracted leaves " +
    "both state tables where they started — index round-trips exactly " +
    "(no cap crossing) and clusters return to the pre-upsert table " +
    "== fresh components over the retained pairs") {
    val k = 3; val cap = 10; val thr = 0.2
    val corpus = Seq((1L, "a b c d e"), (2L, "a b c d f"),
      (4L, "p q r s t"), (5L, "p q r s u")).toDF("doc_id", "text")
    // doc 9 bridges BOTH corpus clusters ({1,2} and {4,5})
    val batch = Seq((9L, "a b c d p q r s")).toDF("doc_id", "text")
    def indexRows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Option[Seq[Long]])].collect().toSet
    def clusterRows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toSeq
    val index0 = Dedup.corpusShingleIndex(corpus, "doc_id", "text",
      k, cap)
    val pairs0 = Dedup.jaccardPairs(corpus, "doc_id", "text", k, thr,
      cap).select("id_a", "id_b")
    val clusters0 = Dedup.dupClusters(pairs0,
      corpus.select("doc_id"), "doc_id")
    assert(clusterRows(clusters0) ==
      Seq(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L))
    // fold the batch forward
    val newPairs = Dedup.incrementalJaccardPairs(index0, batch,
      "doc_id", "text", k, thr, cap).select("id_a", "id_b")
    assert(newPairs.as[(Long, Long)].collect().toSet ==
      Set(1L -> 9L, 2L -> 9L, 4L -> 9L, 5L -> 9L))
    val index1 = Dedup.upsertShingleIndex(index0, batch, "doc_id",
      "text", k, cap)
    val clusters1 = Dedup.upsertClusters(clusters0, newPairs,
      batch.select("doc_id"), "doc_id")
    // the bridge doc merges everything
    assert(clusterRows(clusters1) ==
      Seq(1L -> 1L, 2L -> 1L, 4L -> 1L, 5L -> 1L, 9L -> 1L))
    // retract the very doc just added
    val deleted = batch
    val index2 = Dedup.retractShingleIndex(index1, deleted, "doc_id",
      "text", k, cap)
    val clusters2 = Dedup.retractClusters(clusters1,
      pairs0.unionByName(newPairs), deleted.select("doc_id"), "doc_id")
    // index round-trips exactly (no df crossed the cap on the way up)
    assert(indexRows(index2) == indexRows(index0))
    // clusters return to the pre-upsert table, and both equal the
    // fresh recompute over the retained pair subgraph
    assert(clusterRows(clusters2) == clusterRows(clusters0))
    val retained = pairs0.unionByName(newPairs)
      .filter(col("id_a") =!= 9L && col("id_b") =!= 9L)
    assert(clusterRows(clusters2) == clusterRows(
      Dedup.dupClusters(retained, corpus.select("doc_id"), "doc_id")))
  }

  test("retractClusters: deleting a bridge doc SPLITS its component; " +
    "a surviving clique relabels; untouched clusters stay put; equals " +
    "fresh dupClusters over the retained pairs") {
    // components: {1,2,3} via bridge 2 (label 1); {5,6,7} clique
    // (label 5); {10,11} (label 10); singleton 8
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (5L, 7L), (6L, 7L),
      (10L, 11L)).toDF("id_a", "id_b")
    val ids = Seq(1L, 2L, 3L, 5L, 6L, 7L, 8L, 10L, 11L).toDF("id")
    val clusters = Dedup.dupClusters(pairs, ids, "id")
    // delete the bridge (2): 1 and 3 split to singletons; delete the
    // clique's label doc (5): {6,7} survives via (6,7) and RELABELS to
    // 6; delete the singleton 8; {10,11} is untouched
    val deleted = Seq(2L, 5L, 8L).toDF("id")
    val got = Dedup.retractClusters(clusters, pairs, deleted, "id")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq(1L -> 1L, 3L -> 3L, 6L -> 6L, 7L -> 6L,
      10L -> 10L, 11L -> 10L))
    // the q246 oracle contract at corpus scale: fresh components over
    // the retained pair subgraph and retained ids
    val live = pairs.filter(!col("id_a").isin(2L, 5L, 8L) &&
      !col("id_b").isin(2L, 5L, 8L))
    val fresh = Dedup.dupClusters(live,
        ids.join(deleted, Seq("id"), "left_anti"), "id")
      .as[(Long, Long)].collect().toSeq
    assert(got == fresh)
    // invariant under repartitioning
    val repart = Dedup.retractClusters(clusters.repartition(7),
        pairs.repartition(5), deleted.repartition(3), "id")
      .as[(Long, Long)].collect().toSeq
    assert(repart == got)
  }

  test("upsertClusters: empty delta is the identity (plus batch " +
    "singletons), and output is invariant under repartitioning") {
    val corpusPairs = Seq((1L, 3L)).toDF("id_a", "id_b")
    val corpusIds = Seq(1L, 3L, 4L).toDF("id")
    val clusters = Dedup.dupClusters(corpusPairs, corpusIds, "id")
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val idOut = Dedup.upsertClusters(clusters, empty,
        Seq(9L).toDF("id"), "id")
      .as[(Long, Long)].collect().toSeq
    assert(idOut == Seq(1L -> 1L, 3L -> 1L, 4L -> 4L, 9L -> 9L))
    val newPairs = Seq((3L, 9L)).toDF("id_a", "id_b")
    val a = Dedup.upsertClusters(clusters, newPairs,
        Seq(9L).toDF("id"), "id")
      .as[(Long, Long)].collect().toSeq
    val b = Dedup.upsertClusters(clusters.repartition(7),
        newPairs.repartition(5), Seq(9L).toDF("id").repartition(3), "id")
      .as[(Long, Long)].collect().toSeq
    assert(a == b && a == Seq(1L -> 1L, 3L -> 1L, 4L -> 4L, 9L -> 1L))
  }

  test("END-TO-END payload lifecycle (q260 shape): the full build -> " +
    "incremental -> upsert -> retract chain over the three state " +
    "tables (postings by key, clusters, fingerprints by id) equals " +
    "the fresh rebuilds over the retained docs — the whole lifecycle, " +
    "not just each verb") {
    val blocks = 32; val slices = 4; val maxH = 3
    val docs = graft.engine.Tables.documents(spark, sf0001)
    def fps(f: org.apache.spark.sql.Column) =
      Multimodal.blockhashFingerprints(
        Multimodal.mediaTable(docs.filter(f)), "doc_id", blocks)
    val corpusFps = fps(col("doc_id") % 5 =!= 3)
      .localCheckpoint(eager = true)
    val batchFps = fps(col("doc_id") % 5 === 3)
      .localCheckpoint(eager = true)
    // ---- stage 1: corpus state ----
    val index0 = Dedup.corpusFingerprintIndex(corpusFps, blocks,
      slices)._1.localCheckpoint(eager = true)
    val clusters0 = Dedup.dupClusters(
      Dedup.fingerprintPairsFromIndex(index0, corpusFps, maxH)
        .select("id_a", "id_b"),
      corpusFps.select(col("pid")), "pid")
    // ---- stage 2: recrawl batch folds into ALL THREE states ----
    val newPairs = Dedup.incrementalFingerprintPairs(index0, corpusFps,
        batchFps, blocks, slices, maxH)
      .select(col("id_a"), col("id_b")).localCheckpoint(eager = true)
    val index1 = Dedup.upsertPostingsIndex(index0,
      Dedup.fingerprintPostings(batchFps, blocks, slices),
      Seq("sl", "sv"))
    val clusters1 = Dedup.upsertClusters(clusters0, newPairs,
      batchFps.select(col("pid")), "pid", ordered = false)
    val fps1 = corpusFps
      .join(batchFps.select("pid"), Seq("pid"), "left_anti")
      .unionByName(batchFps)
    val pairs1 = Dedup.fingerprintPairsFromIndex(index0, corpusFps,
        maxH)
      .select(col("id_a"), col("id_b")).unionByName(newPairs)
      .localCheckpoint(eager = true)
    // ---- stage 3: takedown retracts ALL THREE states (deltas from
    // the maintained fingerprint table — state-only) ----
    val deleted = docs.filter(col("doc_id") % 7 === 2)
      .select(col("doc_id").as("pid")).localCheckpoint(eager = true)
    val index2 = Dedup.retractPostingsIndex(index1,
      Dedup.fingerprintPostings(
        fps1.join(deleted, Seq("pid"), "left_semi"), blocks, slices),
      Seq("sl", "sv"))
    val clusters2 = Dedup.retractClusters(clusters1, pairs1, deleted,
      "pid")
    val fps2 = fps1.join(deleted, Seq("pid"), "left_anti")
    // ---- == the fresh rebuilds over the retained doc set ----
    def idxRows(df: org.apache.spark.sql.DataFrame) =
      df.select("sl", "sv", "cpids")
        .as[(Int, Long, Seq[Long])].collect().toSet
    def cluRows(df: org.apache.spark.sql.DataFrame) =
      df.select("pid", "cluster").as[(Long, Long)].collect().toSet
    def fpRows(df: org.apache.spark.sql.DataFrame) =
      df.select("pid", "fp").as[(Long, Long)].collect().toSet
    val retained = fps(lit(true)) // corpus ∪ batch = all docs
      .join(deleted, Seq("pid"), "left_anti")
      .localCheckpoint(eager = true)
    assert(idxRows(index2) == idxRows(
      Dedup.corpusFingerprintIndex(retained, blocks, slices)._1))
    assert(fpRows(fps2) == fpRows(retained))
    // cluster contract: components over the RETAINED persisted pairs
    // (the pinned tombstone semantics)
    val retainedPairs = pairs1
      .join(deleted.withColumnRenamed("pid", "id_a"), Seq("id_a"),
        "left_anti")
      .join(deleted.withColumnRenamed("pid", "id_b"), Seq("id_b"),
        "left_anti")
    assert(cluRows(clusters2) == cluRows(
      Dedup.dupClusters(retainedPairs, retained.select("pid"), "pid")))
    // the lifecycle produced real structure at every stage
    assert(newPairs.count() > 0 && deleted.count() > 0)
    assert(cluRows(clusters2).exists { case (id, cl) => id != cl })
  }
}

package graft

import graft.engine.{Aggregates, Cleaning}
import org.apache.spark.sql.functions._
import org.scalacheck.Prop.forAll
import org.scalacheck.{Gen, Test => SCTest}

/** Property-based invariants promised in SURVEY.md §5.2 (beyond the
  * time-split property in FeaturesSpec). Small minSuccessfulTests keep
  * Spark-job-per-case cost sane; generators are seeded by ScalaCheck. */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(5)

  test("dedup: |output| = |distinct input| ≤ |input|, and deterministic") {
    val gen = Gen.listOfN(60, Gen.chooseNum(0, 9))
    val prop = forAll(gen) { xs =>
      val df = xs.toDF("v")
      val d1 = Cleaning.dropDuplicatesAll(df).collect().map(_.getInt(0)).sorted
      val d2 = Cleaning.dropDuplicatesAll(df).collect().map(_.getInt(0)).sorted
      d1.length == xs.distinct.length && d1.length <= xs.length &&
        d1.toSeq == d2.toSeq
    }
    assert(SCTest.check(params, prop).passed)
  }

  test("top-k is a prefix of the full deterministic sort") {
    val gen = Gen.listOfN(50, Gen.chooseNum(0, 6))
    val prop = forAll(gen, Gen.chooseNum(1, 8)) { (xs, k) =>
      val df = xs.toDF("v")
      val full = Aggregates.freqTable(df, Seq("v"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      val topK = Aggregates.freqTable(df, Seq("v")).limit(k)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      topK == full.take(k)
    }
    assert(SCTest.check(params, prop).passed)
  }

  test("jaccard pairs: values in (0,1], symmetric on id order, self-free") {
    val word = Gen.oneOf("data", "spark", "row", "key", "scan", "fast")
    val doc = Gen.listOfN(8, word).map(_.mkString(" "))
    val gen = Gen.listOfN(6, doc)
    val prop = forAll(gen) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val pairs = graft.ext.Dedup.jaccardPairs(df, "doc_id", "text", 2, 0.01)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      pairs.forall { case (a, b, j) => a < b && j > 0.0 && j <= 1.0 }
    }
    assert(SCTest.check(params, prop).passed)
  }

  test("int8 quantize/dequantize: per-element error ≤ scale/254 + float ulp") {
    val vec = Gen.listOfN(16, Gen.chooseNum(-100f, 100f))
    val prop = forAll(vec) { xs =>
      val df = Seq(xs.toArray).toDF("embedding")
        .withColumn("qs", graft.ext.SimSearch.quantizeInt8(col("embedding")))
        .withColumn("back", graft.ext.SimSearch.dequantizeInt8(col("qs")))
      val r = df.select("embedding", "back", "qs.scale").head()
      val (orig, back) = (r.getSeq[Float](0), r.getSeq[Float](1))
      val scale = r.getFloat(2).toDouble
      // symmetric quantization: worst case is half a step (scale/127/2)
      // plus float representation slack
      val bound = scale / 254.0 + math.max(scale, 1.0) * 1e-5
      orig.zip(back).forall { case (o, b) => math.abs(o - b) <= bound }
    }
    assert(SCTest.check(params, prop).passed)
  }

  test("simhash banding: equals brute-force Hamming pairs on random docs") {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta")
    val doc = Gen.listOfN(6, word).map(_.mkString(" "))
    val gen = Gen.listOfN(8, doc)
    val prop = forAll(gen) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val fp = df.select(col("doc_id"),
        graft.ext.Dedup.simhash32(col("text")).as("fp"))
      val brute = fp.as("a").join(fp.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id"),
          bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).cast("int"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .filter(_._3 <= 3).toSet
      val banded = graft.ext.Dedup.simhashNearDupPairs(df, "doc_id", "text",
          slices = 5, maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      banded == brute
    }
    assert(SCTest.check(params, prop).passed)
  }

  test("blockhash kernel == exact-rational reference; block grid " +
    "partitions the bytes into `blocks` near-even contiguous ranges") {
    // independent reference: bit j via BigInteger cross-multiplication
    // (no long-overflow assumption, no shared loop structure)
    def ref(bytes: Array[Byte], blocks: Int): Long = {
      if (bytes.isEmpty) return 0L
      val n = bytes.length
      val vals = bytes.map(b => (b & 0xFF).toLong)
      val byBlock = vals.zipWithIndex
        .groupBy { case (_, i) => (i.toLong * blocks / n).toInt }
      val total = BigInt(vals.sum)
      (0 until blocks).map { j =>
        byBlock.get(j) match {
          case Some(vs)
            if BigInt(vs.map(_._1).sum) * n > total * vs.length =>
            1L << j
          case _ => 0L
        }
      }.sum
    }
    val gen = for {
      blocks <- Gen.oneOf(2, 3, 4, 7, 16, 32, 62)
      bytes <- Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield (bytes.toArray, blocks)
    val prop = forAll(gen) { case (bytes, blocks) =>
      val fp = graft.functions.BlockhashUtil.blockhash(bytes, blocks)
      val n = bytes.length
      val grid = (0 until n).map(b => (b.toLong * blocks / n).toInt)
      fp == ref(bytes, blocks) &&
        // grid property: indices are sorted (contiguous ranges), within
        // [0, blocks), and occupied-range sizes differ by at most 1
        grid.sorted == grid && grid.forall(j => j >= 0 && j < blocks) && {
          val sizes = grid.groupBy(identity).values.map(_.size)
          n == 0 || sizes.max - sizes.min <= 1
        }
    }
    assert(SCTest.check(params, prop).passed)
  }

  test("sentinel cleaning never changes non-sentinel values") {
    val cell = Gen.oneOf(Gen.const("NULL"), Gen.const(""),
      Gen.alphaNumStr.map(_.take(6)))
    val gen = Gen.listOfN(40, cell)
    val prop = forAll(gen) { xs =>
      val cleaned = Cleaning.sentinelsToNull(xs.toDF("v"), Seq("v"),
        Seq("NULL")).collect().map(r => Option(r.getString(0)))
      xs.zip(cleaned).forall {
        case (raw, out) if raw == "NULL" || raw.isEmpty => out.isEmpty
        case (raw, out) => out.contains(raw)
      }
    }
    assert(SCTest.check(params, prop).passed)
  }

  test("weighted median lies within the value range and is weight-monotone") {
    val pair = for {
      v <- Gen.chooseNum(-50.0, 50.0)
      w <- Gen.chooseNum(0.5, 5.0)
    } yield (v, w)
    val gen = Gen.nonEmptyListOf(pair).map(_.take(30))
    def wm(vw: List[(Double, Double)]): Double =
      vw.toDS().repartition(3)
        .select(graft.functions.WeightedMedian.asColumn).head()
    val prop = forAll(gen) { vw =>
      val med = wm(vw)
      val vs = vw.map(_._1)
      // monotone in weight: pumping the max value's weight can only move
      // the median up (and enough weight pins it at the max)
      val pumped = wm(vw.map { case (v, w) =>
        if (v == vs.max) (v, w + 1000.0) else (v, w) })
      med >= vs.min && med <= vs.max && vs.contains(med) &&
        pumped >= med && pumped == vs.max
    }
    assert(SCTest.check(params, prop).passed)
  }

  test("array_top_count == Scala max-multiplicity on random arrays") {
    val gen = Gen.listOf(Gen.chooseNum(-5L, 5L)) // narrow range → collisions
    val prop = forAll(gen) { xs =>
      val expected =
        if (xs.isEmpty) 0L
        else xs.groupBy(identity).values.map(_.size).max.toLong
      val got = Seq(Tuple1(xs.toArray)).toDF("a")
        .select(graft.functions.expressions.array_top_count(col("a")))
        .head().getLong(0)
      got == expected
    }
    assert(SCTest.check(params, prop).passed)
  }

  test("band join == naive O(n·m) reference on random points/intervals") {
    val ptsGen = Gen.listOfN(30, Gen.chooseNum(-50.0, 50.0))
    val ivGen = Gen.listOfN(10,
      Gen.zip(Gen.chooseNum(-50.0, 50.0), Gen.chooseNum(0.0, 20.0)))
    val prop = forAll(ptsGen, ivGen) { (ps, ivs) =>
      val points = ps.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("pt_id", "v")
      val intervals = ivs.zipWithIndex
        .map { case ((lo, len), i) => (i.toLong, lo, lo + len) }
        .toDF("iv_id", "lo", "hi")
      val got = graft.operators.BandJoin
        .join(points, "v", intervals, "lo", "hi", 7.0)
        .select("iv_id", "pt_id").as[(Long, Long)].collect().toSet
      val expected = (for {
        ((lo, len), i) <- ivs.zipWithIndex
        (v, j) <- ps.zipWithIndex
        if v >= lo && v <= lo + len
      } yield (i.toLong, j.toLong)).toSet
      got == expected
    }
    assert(SCTest.check(params, prop).passed)
  }

  test("chunkTokens: all non-final chunks full, exact overlap, exact count") {
    // invariant family proved by the start cap (start ≤ n − overlap − 1):
    // every chunk but the last has exactly chunkSize tokens, consecutive
    // chunks share exactly `overlap`, and the union re-concatenates to
    // the doc — so n_chunks = ceil((n − overlap)/stride) for n > overlap
    val gen = Gen.zip(Gen.chooseNum(1, 40), Gen.chooseNum(2, 8),
      Gen.chooseNum(0, 6))
    val prop = forAll(gen) { case (n, size0, ov0) =>
      val overlap = math.min(ov0, size0 - 1)
      val stride = size0 - overlap
      val toks = (1 to n).map(i => s"t$i")
      val df = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
      val chunks = graft.ext.PipelineOps
        .chunkTokens(df, "text", "doc_id", size0, overlap)
        .orderBy("chunk_id")
        .collect().map(r => r.getString(3).split(" ").toSeq)
      val expectedCount =
        if (n <= overlap) 1
        else math.ceil((n - overlap).toDouble / stride).toInt
      val fullButLast =
        chunks.dropRight(1).forall(_.length == size0)
      val overlapsExact = chunks.sliding(2).forall {
        case Array(a, b) => a.takeRight(overlap) == b.take(overlap)
        case _ => true
      }
      val rebuilt = chunks.headOption.getOrElse(Seq.empty) ++
        chunks.drop(1).flatMap(_.drop(overlap))
      chunks.length == expectedCount && fullButLast && overlapsExact &&
        rebuilt == toks
    }
    assert(SCTest.check(params, prop).passed)
  }

  test("misra-gries: candidates ⊇ items with freq > n/(k+1), |c| ≤ k") {
    val gen = Gen.zip(
      Gen.listOfN(300, Gen.frequency(
        (5, Gen.const("hot")), (2, Gen.const("warm")),
        (10, Gen.chooseNum(0, 200).map(i => s"u$i")))),
      Gen.chooseNum(2, 16))
    val prop = forAll(gen) { case (xs, k) =>
      val cands = xs.toDF("tok")
        .repartition(5)
        .agg(graft.functions.FreqItems.mg_candidates(col("tok"), k))
        .head().getSeq[String](0).toSet
      val freqs = xs.groupBy(identity).view.mapValues(_.size).toMap
      val heavy = freqs.filter(_._2 > xs.length.toDouble / (k + 1)).keySet
      heavy.subsetOf(cands) && cands.size <= k
    }
    assert(SCTest.check(params, prop).passed)
  }

  test("upsert: |out| = |base ∪ updates by key|, updates win, idempotent") {
    val gen = Gen.zip(
      Gen.listOfN(20, Gen.chooseNum(0L, 15L)),
      Gen.listOfN(8, Gen.chooseNum(0L, 20L)))
    val prop = forAll(gen) { case (bks, uks) =>
      val base = bks.distinct.map(k => (k, s"b$k")).toDF("doc_id", "text")
      val ups = uks.distinct.map(k => (k, s"u$k")).toDF("doc_id", "text")
      val out = graft.ext.PipelineOps.upsert(base, ups, "doc_id")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val expected = bks.distinct.map(k => k -> s"b$k").toMap ++
        uks.distinct.map(k => k -> s"u$k").toMap
      val twice = graft.ext.PipelineOps.upsert(
        graft.ext.PipelineOps.upsert(base, ups, "doc_id"), ups, "doc_id")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      out == expected && twice == expected
    }
    assert(SCTest.check(params, prop).passed)
  }

  test("prefix-filter jaccard == exhaustive join on random corpora " +
    "(losslessness is data-independent)") {
    // small vocab forces heavy overlap; docs of 6-12 tokens, k=2
    val docGen = Gen.chooseNum(6, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e", "f", "g")))
    val gen = Gen.listOfN(15, docGen)
    val prop = forAll(gen, Gen.oneOf(0.4, 0.7)) { (docsToks, t) =>
      val docs = docsToks.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
        .toDF("doc_id", "text")
      def key(r: (Long, Long, Double)) = (r._1, r._2)
      val exact = graft.ext.Dedup
        .jaccardPairs(docs, "doc_id", "text", 2, t)
        .as[(Long, Long, Double)].collect()
        .filter(r => BigDecimal(r._3).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble >= t)
        .map(key).toSet
      val pref = graft.ext.Dedup
        .prefixJaccardPairs(docs, "doc_id", "text", 2, t)
        .as[(Long, Long, Double)].collect().map(key).toSet
      pref == exact
    }
    assert(SCTest.check(params, prop).passed)
  }

  test("tokenEntropy ∈ [0, ln(n_tok)]; 0 iff single distinct token") {
    val docGen = Gen.chooseNum(1, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("x", "y", "z")))
    val prop = forAll(Gen.listOfN(8, docGen)) { docsToks =>
      val docs = docsToks.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
        .toDF("doc_id", "text")
      val rows = graft.ext.TextOps.tokenEntropy(docs, "doc_id", "text")
        .as[(Long, Long, Double)].collect()
      rows.forall { case (id, n, h) =>
        val distinct = docsToks(id.toInt).distinct.size
        h >= 0.0 && h <= math.log(n.toDouble) + 1e-9 &&
          ((h == 0.0) == (distinct == 1))
      }
    }
    assert(SCTest.check(params, prop).passed)
  }

  test("budgetSelect: per-source token sums never exceed the budget and " +
    "equal the greedy reference") {
    val rowGen = Gen.zip(Gen.oneOf("s1", "s2"), Gen.chooseNum(1, 40))
    val prop = forAll(Gen.listOfN(12, rowGen), Gen.chooseNum(20L, 80L)) {
      (rows, budget) =>
        val docs = rows.zipWithIndex
          .map { case ((s, tok), i) => (s, i.toLong, tok.toLong, tok) }
          .toDF("source", "doc_id", "score", "n_tok")
        val out = graft.ext.PipelineOps.budgetSelect(docs, "source",
            "score", "doc_id", col("n_tok"), budget)
          .as[(String, Long, Long)].collect()
          .map(r => r._1 -> (r._2, r._3)).toMap
        val expected = rows.zipWithIndex.groupBy(_._1._1).flatMap {
          case (src, rs) =>
            val ordered = rs.sortBy { case ((_, tok), i) => (-tok, i) }
            val cums = ordered.scanLeft(0L)(_ + _._1._2).tail
            val kept = ordered.zip(cums).takeWhile(_._2 <= budget)
            if (kept.isEmpty) None
            else Some(src -> (kept.size.toLong, kept.last._2))
        }
        out == expected
    }
    assert(SCTest.check(params, prop).passed)
  }

  test("BPE merge fold == imperative left-to-right greedy reference " +
    "over generated words and pairs (one job, hundreds of cases)") {
    // reference: scan symbols left to right, merge (a,b) greedily —
    // after a merge the cursor moves past the merged token
    def ref(word: String, a: String, b: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      for (s <- word.map(_.toString))
        if (out.nonEmpty && out.last == a && s == b)
          out(out.length - 1) = a + b
        else out += s
      out.toSeq
    }
    val alphabet = Seq("a", "b", "c")
    val rnd = new scala.util.Random(7)
    // every word length 0..8 over {a,b,c} would be 9841 cases; sample
    // 300 random words plus the exhaustive length ≤ 3 set, against
    // every ordered pair — one DataFrame, one job
    val words = (Seq("") ++
      (for (l <- 1 to 3; w <- Seq.fill(math.pow(3, l).toInt)(())
        .indices.map(i => (0 until l).map(p =>
          alphabet((i / math.pow(3, p).toInt) % 3)).mkString)) yield w)
        .distinct ++
      Seq.fill(300)((0 until (1 + rnd.nextInt(8)))
        .map(_ => alphabet(rnd.nextInt(3))).mkString)).distinct
    val cases = for {
      w <- words; a <- alphabet; b <- alphabet
    } yield (w, a, b)
    import spark.implicits._
    val out = cases.toDF("w", "a", "b")
      .select(col("w"), col("a"), col("b"),
        graft.ext.TextOps.applyMergeFold(
          when(length(col("w")) > 0, split(col("w"), ""))
            .otherwise(array().cast("array<string>")),
          col("a"), col("b")).as("m"))
      .as[(String, String, String, Seq[String])].collect()
    assert(out.length == cases.length)
    out.foreach { case (w, a, b, m) =>
      assert(m == ref(w, a, b), s"word=$w pair=($a,$b) got=$m")
    }
  }

  test("banded posting-index maintenance: set-algebra laws on ARBITRARY " +
    "posting sets (upsert == fresh union rebuild, retract == fresh " +
    "difference rebuild, both idempotent, add-then-retract == fresh " +
    "corpus-minus-batch) — incl. overlapping (key, pid) rows the " +
    "hand fixtures keep disjoint") {
    val postGen = org.scalacheck.Gen.listOfN(24,
      org.scalacheck.Gen.zip(org.scalacheck.Gen.chooseNum(0, 5),
        org.scalacheck.Gen.chooseNum(0L, 9L)))
    def df(p: Seq[(Int, Long)]) = p.toDF("bk", "pid")
    def rows(x: org.apache.spark.sql.DataFrame) =
      x.as[(Int, Seq[Long])].collect().toSet
    def fresh(p: Seq[(Int, Long)]): Set[(Int, Seq[Long])] =
      if (p.isEmpty) Set.empty
      else rows(df(p).groupBy("bk")
        .agg(sort_array(collect_set(col("pid"))).as("cpids")))
    val prop = forAll(postGen, postGen) { (c, b) =>
      val idx = df(c).groupBy("bk")
        .agg(sort_array(collect_set(col("pid"))).as("cpids"))
      val up = graft.ext.Dedup.upsertPostingsIndex(idx, df(b), Seq("bk"))
      val ret = graft.ext.Dedup.retractPostingsIndex(idx, df(b),
        Seq("bk"))
      rows(up) == fresh(c ++ b) &&
        rows(graft.ext.Dedup.upsertPostingsIndex(up, df(b), Seq("bk"))) ==
          rows(up) &&
        rows(ret) == fresh(c.filterNot(b.toSet)) &&
        rows(graft.ext.Dedup.retractPostingsIndex(ret, df(b),
          Seq("bk"))) == rows(ret) &&
        rows(graft.ext.Dedup.retractPostingsIndex(up, df(b),
          Seq("bk"))) == fresh(c.filterNot(b.toSet))
    }
    assert(SCTest.check(params, prop).passed)
  }

  test("embedding-index maintenance: batch-wins and difference laws on " +
    "ARBITRARY vector sets — a re-crawled id's rows are the NEW " +
    "embedding's buckets, retraction is exact set difference on ids") {
    val bits = 4; val tables = 2
    val entryGen = org.scalacheck.Gen.zip(
      org.scalacheck.Gen.chooseNum(0L, 7L),
      org.scalacheck.Gen.listOfN(3,
        org.scalacheck.Gen.chooseNum(-8f, 8f)))
    val setGen = org.scalacheck.Gen.listOfN(6, entryGen)
    def df(p: Seq[(Long, List[Float])]) =
      p.map { case (id, v) => (id, v.toArray) }
        .toDF("vec_id", "embedding")
    def rows(x: org.apache.spark.sql.DataFrame) =
      x.select(col("bucket.t"), col("bucket.bk"), col("vec_id"),
          round(aggregate(col("embedding"), lit(0.0),
            (a, e) => a + e.cast("double")), 5).as("s"))
        .as[(Int, Long, Long, Double)].collect().toSet
    def fresh(p: Seq[(Long, List[Float])]) =
      rows(graft.ext.SimSearch.corpusEmbeddingLshIndex(df(p), bits,
        tables))
    val prop = forAll(setGen, setGen) { (c0, b0) =>
      // one row per id within a side (last write wins, like a table)
      val c = c0.toMap.toSeq; val b = b0.toMap.toSeq
      val bIds = b.map(_._1).toSet
      val idx = graft.ext.SimSearch.corpusEmbeddingLshIndex(df(c), bits,
        tables)
      val up = graft.ext.SimSearch.upsertEmbeddingIndex(idx, df(b),
        bits, tables)
      val delIds = c.map(_._1).toSet.take(2).toSeq
      val ret = graft.ext.SimSearch.retractEmbeddingIndex(idx,
        delIds.toDF("vec_id"), "vec_id")
      rows(up) == fresh(c.filterNot(e => bIds(e._1)) ++ b) &&
        rows(graft.ext.SimSearch.upsertEmbeddingIndex(up, df(b), bits,
          tables)) == rows(up) &&
        rows(ret) == fresh(c.filterNot(e => delIds.contains(e._1)))
    }
    assert(SCTest.check(params, prop).passed)
  }

  test("cluster maintenance on ARBITRARY graphs: upsertClusters == " +
    "fresh dupClusters over corpus ∪ delta pairs, and upsertClusters " +
    "then retractClusters == fresh dupClusters over the retained pair " +
    "subgraph (merges, bridge deletions that split components, unseen " +
    "batch ids — whatever the generator produces)") {
    val idGen = Gen.chooseNum(1L, 40L)
    val pairGen = for {
      a <- idGen; b <- idGen if a != b
    } yield (math.min(a, b), math.max(a, b))
    val gen = for {
      corpusPairs <- Gen.listOfN(8, pairGen)
      newIds <- Gen.listOfN(3, Gen.chooseNum(100L, 120L))
      corpusDelta <- Gen.listOfN(3, pairGen)
      crossDelta <- Gen.listOfN(3, for {
        a <- idGen; b <- Gen.oneOf(newIds)
      } yield (a, b))
      delIds <- Gen.listOfN(3, idGen)
    } yield (corpusPairs, corpusDelta ++ crossDelta, newIds, delIds)
    val corpusIds = (1L to 40L).toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "cluster").as[(Long, Long)].collect().toSet
    def fresh(pairs: Seq[(Long, Long)], ids: Seq[Long]) =
      rows(graft.ext.Dedup.dupClusters(pairs.toDF("id_a", "id_b"),
        ids.toDF("id"), "id"))
    val prop = forAll(gen) { case (cp, dp, ni, del) =>
      val clusters0 = graft.ext.Dedup.dupClusters(
        cp.toDF("id_a", "id_b"), corpusIds.toDF("id"), "id")
      // upsert round
      val mem1 = graft.ext.Dedup.upsertClusters(clusters0,
        dp.toDF("id_a", "id_b"), ni.toDF("id"), "id", ordered = false)
        .localCheckpoint(eager = true)
      val ok1 = rows(mem1) == fresh(cp ++ dp, (corpusIds ++ ni).distinct)
      // takedown round (persisted pair table = corpus ∪ delta pairs)
      val mem2 = graft.ext.Dedup.retractClusters(mem1,
        (cp ++ dp).toDF("id_a", "id_b"), del.toDF("id"), "id")
      val retainedIds = (corpusIds ++ ni).distinct.filterNot(del.contains)
      val retainedPairs = (cp ++ dp).filter { case (a, b) =>
        !del.contains(a) && !del.contains(b)
      }
      ok1 && rows(mem2) == fresh(retainedPairs, retainedIds)
    }
    assert(SCTest.check(params, prop).passed)
  }
}

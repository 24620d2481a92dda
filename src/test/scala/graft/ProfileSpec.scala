package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The developer profiler stays runnable: `split` emits one complete
  * JSON record per query, charges the jobs a query runs while it is built
  * to construction only, and leaves no persisted RDD behind; `plans`
  * renders one section per name. */
class ProfileSpec extends SparkSpec {

  private val Fields = Seq("construct_s", "construct_jobs", "catalyst_s",
    "exec_s", "jobs", "stages", "tasks")

  /** Run `split`, checking after each query (its cleanup has run by the
    * time the line is emitted) that no RDD stays persisted. */
  private def split(queries: Seq[(String, Profile.Q)]): Seq[JsonNode] = {
    val out = Seq.newBuilder[JsonNode]
    Profile.split(spark, sf0001, queries) { line =>
      assert(spark.sparkContext.getPersistentRDDs.isEmpty, line)
      out += new ObjectMapper().readTree(line)
    }
    out.result()
  }

  test("split: q01, a scratch owner and its pure consumer each give one " +
    "complete record with execution jobs") {
    val names = Seq("q01_flagship_category_topk", "q107_iqr_outliers",
      "q113_winsorized_mean")
    // a fresh generation, so the owner builds its scratch while it is
    // constructed instead of reading an earlier suite's build
    ExtQueries.resetSharedScratch("q107_iqr_outliers")
    val records = split(names.map(n => n -> SparkEntry.queries(n)))
    assert(records.map(_.get("query").asText) == names)
    records.foreach { r =>
      Fields.foreach(f => assert(r.get(f) != null && r.get(f).isNumber,
        s"$f missing in $r"))
      assert(r.get("jobs").asLong >= 1, r)
      assert(r.get("tasks").asLong >= r.get("stages").asLong, r)
    }
    assert(records(1).get("construct_jobs").asLong >= 1, records(1))
  }

  test("split charges jobs run while a query is built to construct_jobs, " +
    "never to the execution count") {
    val probe: Profile.Q = (s, _) => {
      s.range(10).collect()
      s.range(10).collect()
      s.range(10).toDF()
    }
    val Seq(r) = split(Seq("probe" -> probe))
    assert(r.get("construct_jobs").asLong == 2, r)
    assert(r.get("jobs").asLong == 1, r)
  }

  test("split reports a failing query as an error record and still " +
    "releases what it persisted") {
    val failing: Profile.Q = (s, _) => {
      s.range(10).cache().count()
      throw new IllegalStateException("boom \"quoted\"")
    }
    val Seq(r) = split(Seq("failing" -> failing))
    assert(r.get("error").asText == "boom \"quoted\"", r)
  }

  test("plans: one section per name, headed by its headline note; every " +
    "headline query is registered") {
    val names = Seq("q01_flagship_category_topk",
      "q16_join_revenue_per_nation")
    val md = Profile.plans(spark, sf0001, names)
    val headings = md.linesIterator.filter(_.startsWith("## ")).toSeq
    assert(headings.size == names.size, headings)
    names.zip(headings).foreach { case (n, h) =>
      assert(h.startsWith(s"## $n — "), h)
    }
    assert(md.contains("== Physical Plan =="))
    val headline = Profile.Headline.map(_._1)
    assert(headline.distinct.size == headline.size)
    assert(headline.forall(SparkEntry.queries.contains),
      headline.filterNot(SparkEntry.queries.contains))
  }
}

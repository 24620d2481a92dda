package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The transactional commit protocol itself (round-12 verdict item 1):
  * crash-anywhere recoverability, the atomic manifest swap, garbage
  * collection, compaction, and the commit-contract checks the old
  * dynamic-overwrite protocol could not even express — proven under
  * the store's one commit point, a no-overwrite atomic rename. */
class StateStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix)
      .toFile.getAbsolutePath + "/state"

  private def fpRows(df: org.apache.spark.sql.DataFrame) =
    df.select("pid", "fp").as[(Long, Long)].collect().toSet

  /** 8-hex CRC32 over UTF-8 bytes — the manifest checksum, replicated
    * so specs can author well-formed format-2 bodies (and bodies whose
    * checksum is deliberately the only valid part). */
  private def crcHex(s: String): String = {
    val c = new java.util.zip.CRC32()
    c.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    f"${c.getValue}%08x"
  }

  /** Frame the given post-crc lines (content ± eof — VERBATIM, no
    * fixing up) as a format-2 body with a CORRECT checksum: the way a
    * spec isolates one framing check (eof, content) from the crc
    * check that would otherwise fire first. */
  private def frame2(afterCrc: Seq[String]): String = {
    val tail = afterCrc.mkString("", "\n", "\n")
    s"format=2\ncrc=${crcHex(tail)}\n$tail"
  }

  /** The committed manifest's lines with the frame (format + crc +
    * eof) stripped — i.e. exactly the content a LEGACY (format 0)
    * writer would have produced for the same snapshot. */
  private def manifestContentLines(path: java.nio.file.Path)
      : Seq[String] = {
    val lines = java.nio.file.Files.readString(path)
      .linesIterator.filter(_.nonEmpty).toSeq
    assert(lines.head == "format=2" && lines(1).startsWith("crc=") &&
      lines.last.startsWith("eof="), s"unexpected frame: ${lines.head}")
    lines.drop(2).dropRight(1)
  }

  test("CRASH INJECTION between generation write and manifest swap: " +
    "the old snapshot stays fully readable (state == pre-maintenance), " +
    "vacuum reclaims the orphan generation, and the retried cycle " +
    "succeeds and passes its audits — the round-12 item-1 contract") {
    val nb = 8
    val dir = tmp("graft_ss_crash")
    val fps0 = (1L to 20L).map(i => (i, i * 7L)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb)
    val v0 = StateStore.current(spark, dir).version
    val before = fpRows(StateStore.readAll(spark, dir))
    val batch = Seq((2L, 999L), (100L, 111L)).toDF("pid", "fp")
    // inject the crash in the exact window the old protocol died in:
    // data fully written, commit not yet published
    StateStore.FailPoints.beforeManifestSwap = true
    val e =
      try intercept[RuntimeException] {
        Dedup.upsertIdKeyedStatePartitioned(dir, batch, "pid", nb)
      } finally StateStore.FailPoints.beforeManifestSwap = false
    assert(e.getMessage.contains("FAILPOINT"))
    // the crashed cycle is invisible: same version, same rows
    assert(StateStore.current(spark, dir).version == v0)
    assert(fpRows(StateStore.readAll(spark, dir)) == before)
    // the retried cycle lands WITHOUT any manual cleanup — the commit
    // clears the crashed attempt's orphaned generation itself (review
    // fix: errorifexists on the stale dir used to block every retry)
    Dedup.upsertIdKeyedStatePartitioned(dir, batch, "pid", nb)
    assert(fpRows(StateStore.readAll(spark, dir)) ==
      before.filterNot(_._1 == 2L) + (2L -> 999L) + (100L -> 111L))
    assert(StateStore.current(spark, dir).version == v0 + 1)
    // vacuum afterwards reclaims the superseded manifest; reads stable
    val removed = StateStore.vacuum(spark, dir)
    assert(removed.exists(_.startsWith("manifest-")))
    assert(fpRows(StateStore.readAll(spark, dir)) ==
      before.filterNot(_._1 == 2L) + (2L -> 999L) + (100L -> 111L))
  }

  test("CRASH INJECTION on the two-table cluster state: primary AND " +
    "projection roll back together (no snapshot where they disagree), " +
    "and the retried upsert converges to the in-memory merge") {
    val nb = 8
    val dir = tmp("graft_ss_crash2")
    val pairs0 = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val ids0 = (1L to 6L).toDF("id")
    val clusters0 = Dedup.dupClusters(pairs0, ids0, "id")
    // the cluster table in both orientations — a label-keyed primary
    // and an id-keyed projection — held as ONE two-table store
    def layout(c: org.apache.spark.sql.DataFrame) = {
      val base = c.select("id", "cluster")
      Map(
        "bylbl" -> base.withColumn("pbucket",
          pmod(hash(col("cluster")), lit(nb))),
        "byid" -> base.withColumn("pbucket",
          pmod(hash(col("id")), lit(nb))))
    }
    StateStore.create(spark, dir, layout(clusters0), nb)
    def rows(t: String) = StateStore.readAll(spark, dir, t)
      .select("id", "cluster").as[(Long, Long)].collect().toSet
    val before = rows("bylbl")
    assert(rows("byid") == before)
    val newPairs = Seq((2L, 3L), (100L, 5L)).toDF("id_a", "id_b")
    val newIds = Seq(100L, 101L).toDF("id")
    val merged = Dedup.upsertClusters(clusters0, newPairs, newIds, "id",
      ordered = false).localCheckpoint(eager = true)
    // the upsert rewrites every bucket of BOTH tables under one commit
    def upsert() = StateStore.commit(spark, dir,
      layout(merged).map { case (t, df) => t -> (df, 0 until nb) })
    StateStore.FailPoints.beforeManifestSwap = true
    try intercept[RuntimeException] {
      upsert()
    } finally StateStore.FailPoints.beforeManifestSwap = false
    assert(rows("bylbl") == before)
    assert(rows("byid") == before)
    // retry directly — no vacuum needed (the commit clears the orphan)
    upsert()
    val expected = merged.select("id", "cluster").as[(Long, Long)]
      .collect().toSet
    assert(expected != before)
    assert(rows("bylbl") == expected)
    assert(rows("byid") == expected)
  }

  test("commit REJECTS a merge that writes outside its declared " +
    "touched set — the mis-partitioned-merge caller bug the old " +
    "dynamic overwrite silently applied") {
    val nb = 8
    val dir = tmp("graft_ss_reject")
    val df = (1L to 10L).map(i => (i, i)).toDF("id", "v")
      .withColumn("pbucket", pmod(hash(col("id")), lit(nb)))
    StateStore.create(spark, dir, df, nb)
    val rogue = (1L to 10L).map(i => (i, -i)).toDF("id", "v")
      .withColumn("pbucket", pmod(hash(col("id")), lit(nb)))
    val e = intercept[IllegalArgumentException] {
      StateStore.commit(spark, dir, rogue, touched = Seq(0))
    }
    assert(e.getMessage.contains("outside its declared touched set"))
    // nothing published: the rejected generation is vacuumable garbage
    assert(StateStore.current(spark, dir).version == 1L)
    StateStore.vacuum(spark, dir)
    assert(StateStore.readAll(spark, dir).select("v")
      .as[Long].collect().toSet == (1L to 10L).toSet)
  }

  test("vacuum keeps every generation the current manifest references " +
    "(older generations still serve untouched buckets) and deletes " +
    "the rest; reads are identical before and after") {
    val nb = 8
    val dir = tmp("graft_ss_vac")
    val fps0 = (1L to 40L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb)
    // three cycles, each touching a few buckets
    Seq(1L, 2L, 3L).foreach { k =>
      Dedup.upsertIdKeyedStatePartitioned(dir,
        Seq((k, k * 100L)).toDF("pid", "fp"), "pid", nb)
    }
    val expect = fpRows(StateStore.readAll(spark, dir))
    val live = StateStore.current(spark, dir)
      .buckets(StateStore.T).values.toSet
    assert(live.size > 1) // untouched buckets still live in gen 1
    val removed = StateStore.vacuum(spark, dir)
    assert(removed.count(_.startsWith("manifest-")) == 3) // old manifests
    assert(!removed.exists(live.contains))
    assert(fpRows(StateStore.readAll(spark, dir)) == expect)
    // a second vacuum is a no-op
    assert(StateStore.vacuum(spark, dir).isEmpty)
  }

  test("LAYOUT INVARIANT: create and commit land each held bucket as " +
    "exactly ONE parquet file regardless of input partitioning — the " +
    "round-14 file-count fix (an un-shuffled partitionBy write fans " +
    "out one part-file per upstream task per bucket)") {
    val nb = 4
    val dir = tmp("graft_ss_layout")
    // 4-way-parallel input: the pre-fix write left up to 4 files/bucket
    val df = (1L to 400L).map(i => (i, i)).toDF("pid", "fp")
      .repartition(4)
      .withColumn("pbucket", pmod(hash(col("pid")), lit(nb)))
    StateStore.create(spark, dir, df, nb)
    val created = StateStore.leafFiles(spark, dir)
    assert(created.keySet == (0 until nb).toSet)
    created.foreach { case (_, fs) => assert(fs.size == 1) }
    // a commit whose merged frame spans many partitions: same invariant
    val expect = fpRows(StateStore.readAll(spark, dir))
    val touched = Seq(0, 1)
    val merged = StateStore.readBuckets(spark, dir, StateStore.T, touched)
      .repartition(8) // deliberately scatter before the commit
    StateStore.commit(spark, dir, merged, touched)
    val after = StateStore.leafFiles(spark, dir)
    touched.foreach(b => assert(after(b).size == 1))
    (created.keySet -- touched).foreach(o => assert(after(o) == created(o)))
    assert(fpRows(StateStore.readAll(spark, dir)) == expect)
  }

  test("LAYOUT INVARIANT composes with the fat-bucket escape: " +
    "spark.sql.files.maxRecordsPerFile splits a bucket's single task " +
    "into bounded files, reads stay exact, and clearing the conf " +
    "restores one file per bucket") {
    val nb = 4
    val dir = tmp("graft_ss_maxrec")
    val df = (1L to 400L).map(i => (i, i)).toDF("pid", "fp")
      .withColumn("pbucket", pmod(hash(col("pid")), lit(nb)))
    val key = "spark.sql.files.maxRecordsPerFile"
    spark.conf.set(key, 30L)
    try {
      StateStore.create(spark, dir, df, nb)
      val created = StateStore.leafFiles(spark, dir)
      // ~100 rows per bucket at max 30/file: several files, bounded
      created.foreach { case (_, fs) =>
        assert(fs.size > 1 && fs.size <= 5)
      }
      assert(fpRows(StateStore.readAll(spark, dir)) ==
        (1L to 400L).map(i => i -> i).toSet)
    } finally spark.conf.unset(key)
    // next commit without the conf: back to one file per bucket
    val touched = Seq(0, 1)
    StateStore.commit(spark, dir,
      StateStore.readBuckets(spark, dir, StateStore.T, touched), touched)
    val after = StateStore.leafFiles(spark, dir)
    touched.foreach(b => assert(after(b).size == 1))
    assert(fpRows(StateStore.readAll(spark, dir)) ==
      (1L to 400L).map(i => i -> i).toSet)
  }

  test("compactBuckets RE-HOMES buckets under ONE commit so vacuum " +
    "can reclaim partially-superseded generations: a generation with " +
    "any live bucket strands its dead files (pinned), re-homing all " +
    "its buckets frees it whole; row set identical throughout") {
    val nb = 4
    val dir = tmp("graft_ss_compN")
    def parquetOnDisk(): Int = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .count(_.getFileName.toString.endsWith(".parquet"))
      } finally walk.close()
    }
    val df = (1L to 400L).map(i => (i, i)).toDF("pid", "fp")
      .withColumn("pbucket", pmod(hash(col("pid")), lit(nb)))
    StateStore.create(spark, dir, df, nb) // gen-1: nb single files
    val expect = fpRows(StateStore.readAll(spark, dir))
    // supersede ONE bucket (content-identical rewrite) -> gen-2
    val b = 0
    StateStore.commit(spark, dir,
      StateStore.readBuckets(spark, dir, StateStore.T, Seq(b)), Seq(b))
    StateStore.vacuum(spark, dir)
    // gen-1 still holds 3 live buckets, so vacuum CANNOT delete it and
    // bucket b's dead gen-1 file stays on disk: nb live + 1 stranded
    assert(parquetOnDisk() == nb + 1)
    val v0 = StateStore.current(spark, dir).version
    // re-home EVERY bucket (unheld ids ignored) -> ONE commit
    StateStore.compactBuckets(spark, dir, (0 until nb) :+ (nb + 9))
    assert(StateStore.current(spark, dir).version == v0 + 1)
    val after = StateStore.leafFiles(spark, dir)
    (0 until nb).foreach(b => assert(after(b).size == 1))
    StateStore.vacuum(spark, dir)
    // old generations now fully unreferenced: disk == the live files
    assert(parquetOnDisk() == nb)
    assert(fpRows(StateStore.readAll(spark, dir)) == expect)
    // nothing held: no-op, no commit
    StateStore.compactBuckets(spark, dir, Seq(nb + 7, nb + 8))
    assert(StateStore.current(spark, dir).version == v0 + 1)
  }

  test("a mismatched numBuckets is REJECTED before any data moves — " +
    "the wrong-modulus pruning bug that would silently duplicate keys") {
    val dir = tmp("graft_ss_nb")
    val fps0 = (1L to 20L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", 8)
    val e = intercept[IllegalArgumentException] {
      Dedup.upsertIdKeyedStatePartitioned(dir,
        Seq((1L, 2L)).toDF("pid", "fp"), "pid", 16)
    }
    assert(e.getMessage.contains("numBuckets=8"))
    // nothing changed
    assert(fpRows(StateStore.readAll(spark, dir)) ==
      (1L to 20L).map(i => i -> i).toSet)
    assert(StateStore.current(spark, dir).version == 1L)
  }

  test("rollbackTo: a later maintenance cycle is abandoned CHEAPLY " +
    "(manifest deletes + vacuum, no data copied) and the earlier " +
    "snapshot reads back exactly; vacuumed history refuses rollback") {
    val nb = 8
    val dir = tmp("graft_ss_rb")
    val fps0 = (1L to 20L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb)
    val v1Rows = fpRows(StateStore.readAll(spark, dir))
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((1L, 999L), (50L, 5L)).toDF("pid", "fp"), "pid", nb)
    assert(fpRows(StateStore.readAll(spark, dir)) != v1Rows)
    StateStore.rollbackTo(spark, dir, 1L)
    assert(StateStore.current(spark, dir).version == 1L)
    assert(fpRows(StateStore.readAll(spark, dir)) == v1Rows)
    // the abandoned generation is gone; the store keeps working
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((2L, 222L)).toDF("pid", "fp"), "pid", nb)
    assert(fpRows(StateStore.readAll(spark, dir)) ==
      v1Rows.filterNot(_._1 == 2L) + (2L -> 222L))
    // vacuum drops manifest v1 -> rolling back to it must refuse
    StateStore.vacuum(spark, dir)
    val e = intercept[IllegalArgumentException] {
      StateStore.rollbackTo(spark, dir, 1L)
    }
    assert(e.getMessage.contains("manifest missing"))
  }

  test("TORN newest manifest (crashed rename on a weaker filesystem): " +
    "reads fall back LOUDLY to the previous committed snapshot, the " +
    "next commit self-heals by republishing the version, and vacuum " +
    "deletes the torn file") {
    val nb = 8
    val dir = tmp("graft_ss_torn")
    val fps0 = (1L to 20L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb)
    val before = fpRows(StateStore.readAll(spark, dir))
    // simulate the torn write a non-atomic rename can leave: a
    // higher-numbered manifest file with garbage content
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "manifest-000000002.txt"),
      "version=2\nnumBuck") // truncated mid-line
    assert(StateStore.current(spark, dir).version == 1L) // fallback
    assert(fpRows(StateStore.readAll(spark, dir)) == before)
    // the retried cycle publishes v2 OVER the torn leftover
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((2L, 999L)).toDF("pid", "fp"), "pid", nb)
    assert(StateStore.current(spark, dir).version == 2L)
    assert(fpRows(StateStore.readAll(spark, dir)) ==
      before.filterNot(_._1 == 2L) + (2L -> 999L))
    // a torn file that is NOT the retried version: vacuum deletes it
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "manifest-000000009.txt"), "junk")
    assert(StateStore.current(spark, dir).version == 2L)
    val removed = StateStore.vacuum(spark, dir)
    assert(removed.contains("manifest-000000009.txt"))
    assert(fpRows(StateStore.readAll(spark, dir)) ==
      before.filterNot(_._1 == 2L) + (2L -> 999L))
  }

  test("rollbackTo(retain = K) preserves the retention window its " +
    "trailing vacuum would otherwise collapse: history below the " +
    "target stays rollback-able to depth K (review finding)") {
    val nb = 8
    val dir = tmp("graft_ss_rbretain")
    val fps0 = (1L to 20L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb) // v1
    (2L to 4L).foreach { v =>
      Dedup.upsertIdKeyedStatePartitioned(dir,
        Seq((v, v * 111L)).toDF("pid", "fp"), "pid", nb) // v2..v4
    }
    // abandon v4 but KEEP a 2-deep window: v3 (target) + v2
    StateStore.rollbackTo(spark, dir, 3L, retain = 2)
    assert(StateStore.current(spark, dir).version == 3L)
    // v2 survived the trailing vacuum — a second rollback reaches it
    StateStore.rollbackTo(spark, dir, 2L)
    assert(StateStore.current(spark, dir).version == 2L)
    assert(fpRows(StateStore.readAll(spark, dir)) ==
      (1L to 20L).map(i => i -> i).toSet
        .filterNot(_._1 == 2L) + (2L -> 222L))
    // contrast: the default retain=1 forfeits everything below the
    // target (v1 gone after the v2 rollback above used the default)
    val e = intercept[IllegalArgumentException] {
      StateStore.rollbackTo(spark, dir, 1L)
    }
    assert(e.getMessage.contains("manifest missing"))
  }

  test("rollbackTo REFUSES a torn target before deleting anything: " +
    "the exists check alone would pass, the trailing vacuum would " +
    "discard the torn target, and the store would land SILENTLY " +
    "below the requested version (review finding)") {
    val nb = 8
    val dir = tmp("graft_ss_rbtorn")
    val fps0 = (1L to 20L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb)
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((2L, 999L)).toDF("pid", "fp"), "pid", nb) // v2
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((3L, 888L)).toDF("pid", "fp"), "pid", nb) // v3
    val v3 = fpRows(StateStore.readAll(spark, dir))
    // tear v2 IN PLACE (its file still exists). The stale Hadoop CRC
    // sidecar must go too: with it, the checksummed local FS throws
    // ChecksumException at READ time — an I/O-phase failure, which
    // correctly PROPAGATES rather than classifying as torn (the
    // conservative side of the round-14 torn-vs-I/O split).
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "manifest-000000002.txt"),
      "version=2\nnumBuck")
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, ".manifest-000000002.txt.crc"))
    val e = intercept[StateStore.TornManifestException] {
      StateStore.rollbackTo(spark, dir, 2L)
    }
    assert(e.getMessage.contains("torn"))
    // NOTHING was deleted: v3 is still current and fully readable
    assert(StateStore.current(spark, dir).version == 3L)
    assert(fpRows(StateStore.readAll(spark, dir)) == v3)
    // rolling back PAST the torn version still works
    StateStore.rollbackTo(spark, dir, 1L)
    assert(StateStore.current(spark, dir).version == 1L)
    assert(fpRows(StateStore.readAll(spark, dir)) ==
      (1L to 20L).map(i => i -> i).toSet)
  }

  test("RACING COMMITTERS on one version (single-writer contract " +
    "breach, interleaved deterministically in the TOCTOU window): " +
    "exactly one publishes, the loser fails loudly with the winner's " +
    "snapshot intact, and the loser's retry lands on the next version") {
    val nb = 8
    val dir = tmp("graft_ss_race")
    val fps0 = (1L to 20L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb)
    val base = fpRows(StateStore.readAll(spark, dir))
    // writer B slips its ENTIRE commit of v2 into writer A's window
    // between the destination-existence check and the rename — the
    // exact interleaving the no-overwrite rename exists to lose safely
    StateStore.FailPoints.beforeSwapHook = () => {
      StateStore.FailPoints.beforeSwapHook = null // B publishes plainly
      Dedup.upsertIdKeyedStatePartitioned(dir,
        Seq((7L, 777L)).toDF("pid", "fp"), "pid", nb)
      ()
    }
    val e =
      try intercept[RuntimeException] {
        Dedup.upsertIdKeyedStatePartitioned(dir,
          Seq((3L, 333L)).toDF("pid", "fp"), "pid", nb)
      } finally StateStore.FailPoints.beforeSwapHook = null
    assert(e.getMessage.contains("manifest swap") ||
      e.getMessage.contains("concurrent writer"), e.getMessage)
    // the winner's snapshot is current and intact; the loser's
    // generation is unreferenced garbage
    assert(StateStore.current(spark, dir).version == 2L)
    assert(fpRows(StateStore.readAll(spark, dir)) ==
      base.filterNot(_._1 == 7L) + (7L -> 777L))
    // the losing writer's retry re-reads current state and lands on v3
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((3L, 333L)).toDF("pid", "fp"), "pid", nb)
    assert(StateStore.current(spark, dir).version == 3L)
    assert(fpRows(StateStore.readAll(spark, dir)) ==
      base.filterNot(x => x._1 == 7L || x._1 == 3L) +
        (7L -> 777L) + (3L -> 333L))
  }

  test("vacuum RETENTION window: retain=K keeps the newest K " +
    "snapshots' manifests and generations (rollback inside the window " +
    "still works; beyond it refuses), and retained reads are stable") {
    val nb = 8
    val dir = tmp("graft_ss_retain")
    val fps0 = (1L to 40L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb) // v1
    Seq(1L, 2L, 3L).foreach { k => // v2, v3, v4
      Dedup.upsertIdKeyedStatePartitioned(dir,
        Seq((k, k * 100L)).toDF("pid", "fp"), "pid", nb)
    }
    val atV4 = fpRows(StateStore.readAll(spark, dir))
    val removed = StateStore.vacuum(spark, dir, retain = 2)
    // v1 and v2 leave; v3 and v4 stay
    assert(removed.count(_.startsWith("manifest-")) == 2)
    assert(!removed.contains("manifest-000000003.txt"))
    assert(StateStore.current(spark, dir).version == 4L)
    assert(fpRows(StateStore.readAll(spark, dir)) == atV4)
    // rollback INSIDE the window works and reads exactly v3's state
    StateStore.rollbackTo(spark, dir, 3L)
    assert(StateStore.current(spark, dir).version == 3L)
    assert(fpRows(StateStore.readAll(spark, dir)) ==
      (1L to 40L).map(i => i -> i).toSet
        .filterNot(x => x._1 <= 2L) + (1L -> 100L) + (2L -> 200L))
    // beyond the window: forfeited
    val e = intercept[IllegalArgumentException] {
      StateStore.rollbackTo(spark, dir, 2L)
    }
    assert(e.getMessage.contains("manifest missing"))
  }

  test("a table whose every bucket empties stays READABLE with its " +
    "schema (manifest carries the schema, not the files), and a " +
    "subsequent upsert repopulates it") {
    val nb = 4
    val dir = tmp("graft_ss_empty")
    val fps0 = Seq((1L, 10L), (2L, 20L)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb)
    Dedup.retractIdKeyedStatePartitioned(dir,
      Seq(1L, 2L).toDF("pid"), "pid", nb)
    val empty = StateStore.readAll(spark, dir)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("pid", "fp", "pbucket"))
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((3L, 30L)).toDF("pid", "fp"), "pid", nb)
    assert(fpRows(StateStore.readAll(spark, dir)) == Set(3L -> 30L))
  }

  test("SNAPSHOT-PINNED READS (readAt/pin) are ENFORCED (round-16 " +
    "verdict item 2): a registered pin survives later commits plus " +
    "vacuums of ANY depth — retain=1 included — and only after " +
    "release() does the next vacuum reclaim its snapshot") {
    val nb = 8
    val dir = tmp("graft_ss_pin")
    val fps0 = (1L to 20L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb) // v1
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((1L, 100L)).toDF("pid", "fp"), "pid", nb) // v2
    val atV2 = fpRows(StateStore.readAll(spark, dir))
    val pinned = StateStore.readAt(spark, dir, 2L)
    assert(pinned.version == 2L && pinned.pinFile.nonEmpty)
    // the writer moves on: two more commits, then a vacuum whose
    // window covers the pin anyway (v2..v4 = depth 3)
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((1L, 111L)).toDF("pid", "fp"), "pid", nb) // v3
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((2L, 222L)).toDF("pid", "fp"), "pid", nb) // v4
    StateStore.vacuum(spark, dir, retain = 3)
    // the pin is blind to all of it: exactly v2's rows, not v4's
    assert(fpRows(pinned.readAll(spark)) == atV2)
    assert(fpRows(StateStore.readAll(spark, dir)) != atV2)
    // pin().version matches current; readAt an already-vacuumed
    // version refuses loudly (v1 — unpinned — left in that vacuum)
    val cur = StateStore.pin(spark, dir)
    assert(cur.version == 4L)
    cur.release(spark)
    val gone = intercept[IllegalArgumentException] {
      StateStore.readAt(spark, dir, 1L)
    }
    assert(gone.getMessage.contains("already vacuumed"))
    // ENFORCEMENT: a vacuum DEEPER than the pin (retain=1 keeps only
    // v4) must still keep the pinned v2 — manifest and generations —
    // where the advisory contract used to delete them mid-scan
    StateStore.vacuum(spark, dir, retain = 1)
    assert(fpRows(pinned.readAll(spark)) == atV2)
    // released, the same depth reclaims it: manifest gone, readAt
    // refuses, a fresh vacuum names nothing pinned
    pinned.release(spark)
    StateStore.vacuum(spark, dir, retain = 1)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "manifest-000000002.txt")))
    intercept[IllegalArgumentException] {
      StateStore.readAt(spark, dir, 2L)
    }
    // current reads are of course unaffected throughout
    assert(fpRows(StateStore.readAll(spark, dir)) ==
      (1L to 20L).map(i => i -> i).toSet
        .filterNot(x => x._1 <= 2) + (1L -> 111L) + (2L -> 222L))
  }

  test("STALE-PIN EXPIRY (the crash-semantics rule): a pin file " +
    "whose mtime ages past the TTL is treated as leaked by a crashed " +
    "reader — vacuum deletes it and reclaims; refresh() resets the " +
    "clock and keeps the pin enforced") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val nb = 8
    val dir = tmp("graft_ss_pinttl")
    val fps0 = (1L to 20L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb) // v1
    val atV1 = fpRows(StateStore.readAll(spark, dir))
    val pinned = StateStore.pin(spark, dir)
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((1L, 100L)).toDF("pid", "fp"), "pid", nb) // v2
    def pinFiles(): Seq[java.nio.file.Path] = {
      val ls = Files.list(Paths.get(dir))
      try ls.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("pin-") && n.endsWith(".pin")
      }.toSeq
      finally ls.close()
    }
    def age(ms: Long): Unit = pinFiles().foreach { p =>
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - ms))
    }
    // a REFRESHED old pin stays live: age it to the TTL's edge, then
    // refresh — vacuum keeps v1
    age(23L * 3600 * 1000)
    pinned.refresh(spark)
    StateStore.vacuum(spark, dir, retain = 1)
    assert(fpRows(pinned.readAll(spark)) == atV1)
    // a FOREIGN file in the pin namespace (malformed name — nothing
    // this code writes; names are atomic at create so there is no
    // torn-name mode) must neither brick vacuum with a parse error
    // nor be honored nor deleted: ignored, announced
    Files.writeString(Paths.get(dir, "pin-garbage.pin"), "x")
    Files.writeString(Paths.get(dir,
      "pin-99999999999999999999-ab.pin"), "x") // > Long.MaxValue digits
    // aged PAST the default 24 h TTL: vacuum classifies the pin as a
    // crashed reader's leak, deletes the pin file, and reclaims v1 —
    // delayed reclamation, never a wedged store
    age(25L * 3600 * 1000)
    StateStore.vacuum(spark, dir, retain = 1)
    assert(pinFiles().map(_.getFileName.toString).toSet ==
      Set("pin-garbage.pin", "pin-99999999999999999999-ab.pin"),
      "real stale pin expired; foreign files ignored, not deleted")
    assert(!Files.exists(Paths.get(dir, "manifest-000000001.txt")))
    // double-release of an expired pin is a harmless no-op
    pinned.release(spark)
  }

  test("rollbackTo REFUSES while a live pin references a version it " +
    "would delete; after release the same rollback lands") {
    val nb = 8
    val dir = tmp("graft_ss_pinrb")
    val fps0 = (1L to 20L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb) // v1
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((1L, 100L)).toDF("pid", "fp"), "pid", nb) // v2
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((2L, 200L)).toDF("pid", "fp"), "pid", nb) // v3
    val pinned = StateStore.readAt(spark, dir, 3L)
    val e = intercept[IllegalArgumentException] {
      StateStore.rollbackTo(spark, dir, 2L, retain = 2)
    }
    assert(e.getMessage.contains("live pins"))
    assert(fpRows(pinned.readAll(spark)) ==
      (1L to 20L).map(i => i -> i).toSet
        .filterNot(x => x._1 <= 2) + (1L -> 100L) + (2L -> 200L))
    pinned.release(spark)
    StateStore.rollbackTo(spark, dir, 2L, retain = 2)
    assert(StateStore.current(spark, dir).version == 2L)
  }

  test("MAINTENANCE POLICY: with no hand-scheduled compaction or " +
    "vacuum, the store bounds its own referenced-generation count, " +
    "manifest history, and on-disk file count across many cycles, " +
    "and every cycle's reads stay exact (round-14 verdict item 3)") {
    val nb = 8
    val dir = tmp("graft_ss_policy")
    def parquetOnDisk(): Int = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .count(_.getFileName.toString.endsWith(".parquet"))
      } finally walk.close()
    }
    def manifestsOnDisk(): Int = {
      val walk = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.count { p =>
          val n = p.getFileName.toString
          n.startsWith("manifest-") && n.endsWith(".txt")
        }
      } finally walk.close()
    }
    val prev = StateStore.setMaintenancePolicy(Some(
      StateStore.MaintenancePolicy(maxGenerations = 4, maxManifests = 6)))
    try {
      val fps0 = (1L to 64L).map(i => (i, i)).toDF("pid", "fp")
      Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb)
      var expect = (1L to 64L).map(i => i -> i).toMap
      (1 to 20).foreach { c =>
        Dedup.upsertIdKeyedStatePartitioned(dir,
          Seq((c.toLong, c * 1000L)).toDF("pid", "fp"), "pid", nb)
        expect += (c.toLong -> c * 1000L)
        val m = StateStore.current(spark, dir)
        val gens = m.buckets(StateStore.T).values.toSet
        // the policy holds the line every cycle, not just eventually
        assert(gens.size <= 4, s"cycle $c: ${gens.size} generations")
        assert(manifestsOnDisk() <= 7, // maxManifests + the in-flight one
          s"cycle $c: ${manifestsOnDisk()} manifests")
        // disk never strands more than one superseded copy per bucket
        // between policy firings: live files == held buckets, dead
        // files bounded by the generations the policy hasn't re-homed
        assert(parquetOnDisk() <= nb * 5,
          s"cycle $c: ${parquetOnDisk()} parquet files")
        assert(fpRows(StateStore.readAll(spark, dir)) == expect.toSet)
      }
      // the policy actually fired: version count exceeds cycle count
      // (re-home commits interleaved) or manifests were vacuumed away
      assert(StateStore.current(spark, dir).version > 21L ||
        manifestsOnDisk() < 21)
    } finally StateStore.setMaintenancePolicy(prev)
  }

  test("PIN vs MAINTENANCE POLICY is ENFORCED (round-16 verdict item " +
    "2): with the DEFAULT retain=1, an active pin's snapshot survives " +
    "every in-commit policy firing; once released, the next firing " +
    "reclaims it — under both guards (battery)") {
    import spark.implicits._
    val nb = 8
    val dir = tmp("graft_ss_pinpol")
    val fps0 = (1L to 64L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb) // v1
    val pinned = StateStore.pin(spark, dir) // depth grows each commit
    val atV1 = (1L to 64L).map(i => i -> i).toSet
    val prev = StateStore.setMaintenancePolicy(Some(
      StateStore.MaintenancePolicy(maxGenerations = 4,
        maxManifests = 6, retain = 1)))
    try {
      // enough cycles that the generation trigger fires repeatedly
      // (each upsert adds a generation; the policy re-homes + vacuums
      // from INSIDE commit — the exact composition that used to break
      // the pin). The pin must hold the line EVERY cycle, not just at
      // the end.
      (1 to 8).foreach { c =>
        Dedup.upsertIdKeyedStatePartitioned(dir,
          Seq((c.toLong, c * 1000L)).toDF("pid", "fp"), "pid", nb)
        assert(fpRows(pinned.readAll(spark)) == atV1,
          s"cycle $c: the retain=1 policy broke an ACTIVE pin")
      }
      // the policy did fire (manifests were vacuumed below the cycle
      // count), so the pin's survival was enforcement, not inactivity
      val onDisk = {
        import scala.jdk.CollectionConverters._
        val ls = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        try ls.iterator().asScala.count { p =>
          val n = p.getFileName.toString
          n.startsWith("manifest-") && n.endsWith(".txt")
        } finally ls.close()
      }
      assert(onDisk < 9, s"policy never vacuumed ($onDisk manifests)")
      // released: the NEXT firing (or a manual vacuum) reclaims v1
      pinned.release(spark)
      Dedup.upsertIdKeyedStatePartitioned(dir,
        Seq((99L, 999L)).toDF("pid", "fp"), "pid", nb)
      StateStore.vacuum(spark, dir, retain = 1)
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "manifest-000000001.txt")),
        "released pin should no longer hold v1")
    } finally StateStore.setMaintenancePolicy(prev)
  }

  test("IN-LINE CORRUPTION (round-15 verdict item 2): a flipped byte " +
    "INSIDE a well-formed line — a damaged generation digit that " +
    "re-homes a bucket to a directory never written — passes the " +
    "format line and the eof sentinel; the crc line classifies it " +
    "torn, reads fall back, and the retried cycle self-heals") {
    import java.nio.file.{Files, Paths}
    val nb = 8
    val dir = tmp("graft_ss_crc")
    val fps0 = (1L to 20L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb) // v1
    val atV1 = fpRows(StateStore.readAll(spark, dir))
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((1L, 100L)).toDF("pid", "fp"), "pid", nb) // v2
    val p2 = Paths.get(dir, "manifest-000000002.txt")
    val original = Files.readString(p2)
    def corrupt(edit: String => String): Unit = {
      Files.writeString(p2, edit(original))
      Files.deleteIfExists(Paths.get(dir, ".manifest-000000002.txt.crc"))
    }
    // flip the last digit of one bucket line's generation value:
    // every line stays individually well-formed, the line COUNT is
    // unchanged (eof passes), and without the checksum this parses
    // clean and silently serves a bucket out of a generation that was
    // never written
    val damaged = original.linesIterator.map { l =>
      if (l.startsWith("bucket.") && l.endsWith("2"))
        l.dropRight(1) + "3"
      else l
    }.mkString("", "\n", "\n")
    assert(damaged != original, "edit must hit at least one line")
    corrupt(_ => damaged)
    // fallback, not silent wrong: v1's exact rows
    assert(StateStore.current(spark, dir).version == 1L)
    assert(fpRows(StateStore.readAll(spark, dir)) == atV1)
    // the retried cycle merges against the SERVED snapshot (v1),
    // clears the torn v2 and republishes it — self-heal
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((2L, 200L)).toDF("pid", "fp"), "pid", nb)
    assert(StateStore.current(spark, dir).version == 2L)
    assert(fpRows(StateStore.readAll(spark, dir)) ==
      atV1.filterNot(_._1 == 2L) + (2L -> 200L))
    // corruption in the crc VALUE itself is equally torn (the line
    // no longer matches the body it frames)
    val healed = Files.readString(p2)
    val crcFlipped = healed.linesIterator.map { l =>
      if (l.startsWith("crc="))
        "crc=" + l.stripPrefix("crc=").map(c =>
          if (c == '0') '1' else '0')
      else l
    }.mkString("", "\n", "\n")
    Files.writeString(p2, crcFlipped)
    Files.deleteIfExists(Paths.get(dir, ".manifest-000000002.txt.crc"))
    assert(StateStore.current(spark, dir).version == 1L)
    assert(fpRows(StateStore.readAll(spark, dir)) == atV1)
    // repairing the bytes (an operator restoring from a replica)
    // restores the snapshot — the verdict was about CONTENT, not name
    Files.writeString(p2, healed)
    Files.deleteIfExists(Paths.get(dir, ".manifest-000000002.txt.crc"))
    assert(StateStore.current(spark, dir).version == 2L)
    // DOWNGRADE GUARD (review finding): corruption flipping the
    // format digit '2'->'1' must NOT route the checksummed body down
    // the un-checksummed format-1 path (where the eof count still
    // matches and the crc line parses as an ignored kv pair,
    // silently disabling the checksum). A format-1 body carrying a
    // crc line is corruption by construction -> torn, fallback.
    val downgraded = healed.linesIterator.map { l =>
      if (l == "format=2") "format=1" else l
    }.mkString("", "\n", "\n")
    assert(downgraded != healed)
    Files.writeString(p2, downgraded)
    Files.deleteIfExists(Paths.get(dir, ".manifest-000000002.txt.crc"))
    assert(StateStore.current(spark, dir).version == 1L)
    assert(fpRows(StateStore.readAll(spark, dir)) == atV1)
    Files.writeString(p2, healed)
    Files.deleteIfExists(Paths.get(dir, ".manifest-000000002.txt.crc"))
    assert(StateStore.current(spark, dir).version == 2L)
  }

  test("LEGACY FORMAT 0 (round-15 advice, medium): a headerless " +
    "manifest written by the pre-framing build parses — NEVER torn — " +
    "so reads serve it, vacuum does not delete it, and the next " +
    "commit upgrades the store to the current format in place") {
    import java.nio.file.{Files, Paths}
    val nb = 8
    val dir = tmp("graft_ss_legacy")
    val fps0 = (1L to 20L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb)
    val atV1 = fpRows(StateStore.readAll(spark, dir))
    // rewrite manifest 1 as EXACTLY the legacy body the old build
    // wrote: the same content lines, no format line, no crc, no eof
    val p1 = Paths.get(dir, "manifest-000000001.txt")
    Files.writeString(p1,
      manifestContentLines(p1).mkString("", "\n", "\n"))
    Files.deleteIfExists(Paths.get(dir, ".manifest-000000001.txt.crc"))
    // the legacy snapshot SERVES — the upgrade path that classified
    // it torn would have vacuumed committed data here
    assert(StateStore.current(spark, dir).version == 1L)
    assert(fpRows(StateStore.readAll(spark, dir)) == atV1)
    // vacuum treats it as the live snapshot it is
    StateStore.vacuum(spark, dir)
    assert(Files.exists(p1))
    assert(fpRows(StateStore.readAll(spark, dir)) == atV1)
    // the next commit publishes the CURRENT format; the legacy
    // manifest stays readable history until vacuum retires it
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((1L, 111L)).toDF("pid", "fp"), "pid", nb)
    val m2 = Files.readString(Paths.get(dir, "manifest-000000002.txt"))
    assert(m2.linesIterator.next() == "format=2")
    assert(fpRows(StateStore.readAll(spark, dir)) ==
      atV1.filterNot(_._1 == 1L) + (1L -> 111L))
    assert(StateStore.readAt(spark, dir, 1L).version == 1L)
  }

  test("FORMAT 1 BACK-COMPAT: a framed-but-unchecksummed manifest " +
    "from the previous build parses with its own (truncation-only) " +
    "integrity, and the next commit publishes format 2") {
    import java.nio.file.{Files, Paths}
    val nb = 8
    val dir = tmp("graft_ss_fmt1")
    val fps0 = (1L to 20L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb)
    val atV1 = fpRows(StateStore.readAll(spark, dir))
    // rewrite manifest 1 as the format-1 body the r15 build wrote:
    // format line + content + eof counting every preceding line
    val p1 = Paths.get(dir, "manifest-000000001.txt")
    val content = manifestContentLines(p1)
    Files.writeString(p1, ("format=1" +: content :+
      s"eof=${content.size + 1}").mkString("", "\n", "\n"))
    Files.deleteIfExists(Paths.get(dir, ".manifest-000000001.txt.crc"))
    assert(StateStore.current(spark, dir).version == 1L)
    assert(fpRows(StateStore.readAll(spark, dir)) == atV1)
    // its eof sentinel still rejects line-boundary truncation
    Files.writeString(p1, ("format=1" +: content.dropRight(1) :+
      s"eof=${content.size + 1}").mkString("", "\n", "\n"))
    intercept[StateStore.TornManifestException] {
      StateStore.readAt(spark, dir, 1L)
    }
    Files.writeString(p1, ("format=1" +: content :+
      s"eof=${content.size + 1}").mkString("", "\n", "\n"))
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((1L, 111L)).toDF("pid", "fp"), "pid", nb)
    val m2 = Files.readString(Paths.get(dir, "manifest-000000002.txt"))
    assert(m2.linesIterator.next() == "format=2")
    assert(fpRows(StateStore.readAll(spark, dir)) ==
      atV1.filterNot(_._1 == 1L) + (1L -> 111L))
  }

  /** readAt that does NOT leave a pin behind — for content
    * comparisons in tests that later exercise vacuum. */
  private def manifestAt(dir: String, v: Long): StateStore.Manifest = {
    val s = StateStore.readAt(spark, dir, v)
    s.release(spark)
    s.manifest
  }

  test("MIGRATE (round-16 verdict item 3): a store holding format-0, " +
    "format-1 and format-2 manifests ends ALL format-2, " +
    "content-identical per version, generations byte-untouched, " +
    "vacuum unaffected; the second sweep is a no-op") {
    import java.nio.file.{Files, Paths}
    val nb = 8
    val dir = tmp("graft_ss_migrate")
    val fps0 = (1L to 20L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb) // v1
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((1L, 100L)).toDF("pid", "fp"), "pid", nb) // v2
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((2L, 200L)).toDF("pid", "fp"), "pid", nb) // v3
    // rewrite v1 as LEGACY (format 0) and v2 as format 1 — the mixed
    // history a long-lived store carries mid-upgrade
    def downgrade(v: Int, legacy: Boolean): Unit = {
      val p = Paths.get(dir, f"manifest-$v%09d.txt")
      val content = manifestContentLines(p)
      val body =
        if (legacy) content.mkString("", "\n", "\n")
        else ("format=1" +: content :+ s"eof=${content.size + 1}")
          .mkString("", "\n", "\n")
      Files.writeString(p, body)
      Files.deleteIfExists(Paths.get(dir, f".manifest-$v%09d.txt.crc"))
    }
    downgrade(1, legacy = true)
    downgrade(2, legacy = false)
    val before = (1L to 3L).map(v => v -> manifestAt(dir, v)).toMap
    val rowsBefore = fpRows(StateStore.readAll(spark, dir))
    val leavesBefore = StateStore.leafFiles(spark, dir)
    assert(StateStore.migrate(spark, dir) == Seq(1L, 2L))
    (1 to 3).foreach { v =>
      val txt = Files.readString(Paths.get(dir, f"manifest-$v%09d.txt"))
      assert(txt.startsWith("format=2\n"), s"v$v not re-published")
      assert(manifestAt(dir, v.toLong) == before(v.toLong),
        s"v$v content changed across migration")
    }
    assert(fpRows(StateStore.readAll(spark, dir)) == rowsBefore)
    assert(StateStore.leafFiles(spark, dir) == leavesBefore,
      "migrate must not touch generation data")
    // idempotent: nothing left to rewrite
    assert(StateStore.migrate(spark, dir).isEmpty)
    // vacuum afterwards behaves exactly as on a native-format store
    StateStore.vacuum(spark, dir, retain = 2)
    assert(!Files.exists(Paths.get(dir, "manifest-000000001.txt")))
    assert(StateStore.current(spark, dir).version == 3L)
  }

  test("MIGRATE crash BEFORE the in-place replace: every manifest " +
    "byte-untouched, the store keeps reading in its old formats, and " +
    "the RE-RUN completes the sweep (the crash-recovery rule)") {
    import java.nio.file.{Files, Paths}
    val nb = 8
    val dir = tmp("graft_ss_migcrash")
    val fps0 = (1L to 20L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb) // v1
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((1L, 100L)).toDF("pid", "fp"), "pid", nb) // v2
    val p1 = Paths.get(dir, "manifest-000000001.txt")
    val content = manifestContentLines(p1)
    Files.writeString(p1, content.mkString("", "\n", "\n")) // legacy
    Files.deleteIfExists(Paths.get(dir, ".manifest-000000001.txt.crc"))
    val bytesBefore = Files.readAllBytes(p1).toSeq
    val rowsBefore = fpRows(StateStore.readAll(spark, dir))
    StateStore.FailPoints.beforeMigrateReplace = true
    val e =
      try intercept[RuntimeException] { StateStore.migrate(spark, dir) }
      finally StateStore.FailPoints.beforeMigrateReplace = false
    assert(e.getMessage.contains("FAILPOINT"))
    // nothing replaced; the intent file is durable; reads unaffected
    assert(Files.readAllBytes(p1).toSeq == bytesBefore)
    assert(Files.exists(Paths.get(dir, ".manifest-000000001.mig")))
    assert(fpRows(StateStore.readAll(spark, dir)) == rowsBefore)
    assert(manifestAt(dir, 1L).version == 1L)
    // the re-run finishes the job and consumes the intent
    assert(StateStore.migrate(spark, dir) == Seq(1L))
    assert(Files.readString(p1).startsWith("format=2\n"))
    assert(!Files.exists(Paths.get(dir, ".manifest-000000001.mig")))
    assert(fpRows(StateStore.readAll(spark, dir)) == rowsBefore)
  }

  test("LINE-STRUCTURE DAMAGE classifies torn (round-16 advice): a " +
    "'\\n' flipped to '\\r' and an injected blank line both leave the " +
    "parsed lines identical — the raw-byte checksum catches what the " +
    "rejoined-lines check could not") {
    import java.nio.file.{Files, Paths}
    val nb = 8
    val dir = tmp("graft_ss_rawcrc")
    val fps0 = (1L to 20L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb) // v1
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((1L, 100L)).toDF("pid", "fp"), "pid", nb) // v2
    val atV1 = manifestAt(dir, 1L)
    val p2 = Paths.get(dir, "manifest-000000002.txt")
    val good = Files.readString(p2)
    def corrupt(bad: String): Unit = {
      Files.writeString(p2, bad)
      Files.deleteIfExists(Paths.get(dir, ".manifest-000000002.txt.crc"))
      // torn, not unsupported/IO: current() falls back LOUDLY to v1
      assert(StateStore.current(spark, dir).version == 1L)
      assert(StateStore.current(spark, dir).numBuckets == atV1.numBuckets)
      intercept[StateStore.TornManifestException] {
        StateStore.readAt(spark, dir, 2L)
      }
    }
    // a content '\n' flipped to '\r': linesIterator still splits on
    // it, so every parsed line — and the eof count — is unchanged
    val nl = good.indexOf('\n', good.indexOf("version="))
    corrupt(good.substring(0, nl) + "\r" + good.substring(nl + 1))
    // an injected blank line: filtered out of the parsed lines, but
    // present in the raw bytes under the checksum
    corrupt(good.replaceFirst("\nversion=", "\n\nversion="))
    // restore: the store serves v2 again
    Files.writeString(p2, good)
    assert(StateStore.current(spark, dir).version == 2L)
  }

  test("LEADING-ZERO format declaration is TORN, not a vacuum-brick " +
    "(round-16 advice): no writer produces 'format=02', so it is " +
    "corruption — fallback + reclaim, not a permanent loud refusal") {
    import java.nio.file.{Files, Paths}
    val nb = 8
    val dir = tmp("graft_ss_zerofmt")
    val fps0 = (1L to 20L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb) // v1
    val c1 = manifestContentLines(Paths.get(dir, "manifest-000000001.txt"))
      .map(l => if (l.startsWith("version=")) "version=2" else l)
    val body = frame2(c1 :+ s"eof=${c1.size + 2}")
      .replaceFirst("format=2", "format=02")
    Files.writeString(Paths.get(dir, "manifest-000000002.txt"), body)
    // reads fall back past it (torn), never the unsupported-format
    // refusal that would make the root permanently non-vacuumable
    assert(StateStore.current(spark, dir).version == 1L)
    intercept[StateStore.TornManifestException] {
      StateStore.readAt(spark, dir, 2L)
    }
    // vacuum reclaims it as garbage — the self-heal the advice asked
    // for (an unsupported-format classification would throw here and
    // brick every future vacuum until manual repair)
    val removed = StateStore.vacuum(spark, dir, retain = 1)
    assert(removed.contains("manifest-000000002.txt"))
    assert(StateStore.current(spark, dir).version == 1L)
  }

  test("WRITER LEASE / FENCING (round-17 verdict item 2): on a " +
    "leased root a fenced-out stale writer's commit AND vacuum (and " +
    "migrate, and rollback) refuse loudly; lease expiry recovers a " +
    "crashed owner with the fencing epoch bumped; release returns " +
    "the root to the conventional contract — under both guards " +
    "(battery)") {
    import java.nio.file.{Files, Paths}
    val nb = 8
    val dir = tmp("graft_ss_lease")
    val fps0 = (1L to 20L).map(i => (i, i)).toDF("pid", "fp")
    // UNLEASED root: the conventional contract — verbs just work
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb) // v1
    val lease = StateStore.acquireLease(spark, dir)
    assert(lease.epoch == 1L)
    // the HOLDER's verbs work on the leased root (and self-refresh)
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((1L, 100L)).toDF("pid", "fp"), "pid", nb) // v2
    val atV2 = fpRows(StateStore.readAll(spark, dir))
    StateStore.vacuum(spark, dir, retain = 2)
    // a SECOND OWNER (another process — simulated by a holder
    // registration this JVM doesn't have) cannot acquire while the
    // lease is live...
    StateStore.dropLeaseHolder(spark, dir)
    val busy = intercept[RuntimeException] {
      StateStore.acquireLease(spark, dir)
    }
    assert(busy.getMessage.contains("held by owner"))
    // ...and with the holder registration gone, this process IS the
    // stale writer: the live lease file carries a nonce it no longer
    // holds, so every writer verb refuses loudly — the fencing the
    // verdict asked for, with nothing destroyed
    val fencedCommit = intercept[RuntimeException] {
      Dedup.upsertIdKeyedStatePartitioned(dir,
        Seq((2L, 200L)).toDF("pid", "fp"), "pid", nb)
    }
    assert(fencedCommit.getMessage.contains("FENCED OUT"))
    val fencedVacuum = intercept[RuntimeException] {
      StateStore.vacuum(spark, dir, retain = 1)
    }
    assert(fencedVacuum.getMessage.contains("FENCED OUT"))
    val fencedMigrate = intercept[RuntimeException] {
      StateStore.migrate(spark, dir)
    }
    assert(fencedMigrate.getMessage.contains("FENCED OUT"))
    val fencedRollback = intercept[RuntimeException] {
      StateStore.rollbackTo(spark, dir, 1L)
    }
    assert(fencedRollback.getMessage.contains("FENCED OUT"))
    // nothing was destroyed by the refusals
    assert(fpRows(StateStore.readAll(spark, dir)) == atV2)
    // EXPIRY RECOVERY: the (crashed) owner's lease ages past the TTL;
    // a new owner takes over with the fencing epoch bumped, and its
    // verbs work
    val prevTtl = StateStore.setLeaseTtl(50L)
    val lease2 =
      try {
        Thread.sleep(80L)
        StateStore.acquireLease(spark, dir)
      } finally StateStore.setLeaseTtl(prevTtl) // back to a TTL that
        // outlasts the Spark work below — expiry itself is proven
    assert(lease2.epoch == 2L, "takeover must bump the fencing epoch")
    assert(lease2.nonce != lease.nonce)
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((3L, 300L)).toDF("pid", "fp"), "pid", nb) // v3
    assert(StateStore.current(spark, dir).version == 3L)
    // RELEASE: the root returns to the conventional (unleased)
    // contract — no lease file, verbs work for anyone
    StateStore.releaseLease(spark, lease2)
    assert(!Files.exists(Paths.get(dir, StateStore.LeaseFileName)))
    StateStore.vacuum(spark, dir, retain = 1)
    assert(fpRows(StateStore.readAll(spark, dir)) ==
      atV2 - (3L -> 3L) + (3L -> 300L))
    // releasing again (or releasing a superseded lease) is a no-op
    StateStore.releaseLease(spark, lease2)
    StateStore.releaseLease(spark, lease)
  }

  test("VACUUM second pin listing (round-17 verdict item 3): a pin " +
    "registered AFTER vacuum computed its victims — the documented " +
    "in-flight race — is spared by the re-check before deletion: the " +
    "pinned snapshot's manifest AND generation survive, its reads " +
    "are exact, and only release() lets the next vacuum reclaim it") {
    import java.nio.file.{Files, Paths}
    val nb = 8
    val dir = tmp("graft_ss_latepin")
    val fps0 = (1L to 20L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb) // v1
    val atV1 = fpRows(StateStore.readAll(spark, dir))
    // v2 rewrites EVERY bucket, so gen-1 is referenced by v1 alone —
    // without the late pin, retain=1 deletes manifest-1 and gen-1
    Dedup.upsertIdKeyedStatePartitioned(dir,
      (1L to 20L).map(i => (i, i * 10L)).toDF("pid", "fp"), "pid", nb)
    var snap: StateStore.Snapshot = null
    StateStore.FailPoints.beforeVacuumRecheckHook = () => {
      // the reader pins v1 while the vacuum is mid-flight (victims
      // already computed from the first pin listing)
      snap = StateStore.readAt(spark, dir, 1L)
    }
    val removed =
      try StateStore.vacuum(spark, dir, retain = 1)
      finally StateStore.FailPoints.beforeVacuumRecheckHook = null
    assert(!removed.contains("manifest-000000001.txt") &&
      !removed.contains("gen-000000001"),
      s"late-pinned v1's files were deleted: $removed")
    assert(Files.exists(Paths.get(dir, "manifest-000000001.txt")))
    assert(Files.exists(Paths.get(dir, "gen-000000001")))
    // the late pin reads exactly v1 — never wrong data
    assert(fpRows(snap.readAll(spark)) == atV1)
    // released, the same depth reclaims it
    snap.release(spark)
    val removed2 = StateStore.vacuum(spark, dir, retain = 1)
    assert(removed2.contains("manifest-000000001.txt"))
    assert(!Files.exists(Paths.get(dir, "gen-000000001")))
  }

  test("ADVISORY (pinless) snapshot for read-only principals " +
    "(round-17 advice): register=false writes NOTHING under the " +
    "root, reads the same manifest-pinned files, release/refresh are " +
    "no-ops, and protection is the retain window alone — reclaimed " +
    "beneath it, reads fail loudly, never silently wrong") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val nb = 8
    val dir = tmp("graft_ss_advisory")
    val fps0 = (1L to 20L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb) // v1
    val atV1 = fpRows(StateStore.readAll(spark, dir))
    def rootListing(): Set[String] = {
      val ls = Files.list(Paths.get(dir))
      try ls.iterator().asScala.map(_.getFileName.toString).toSet
      finally ls.close()
    }
    val before = rootListing()
    val adv = StateStore.readAt(spark, dir, 1L, register = false)
    assert(adv.pinFile.isEmpty)
    assert(rootListing() == before,
      "advisory readAt must not create files (read-only principals)")
    assert(fpRows(adv.readAll(spark)) == atV1)
    adv.refresh(spark) // no-ops, must not throw
    adv.release(spark)
    assert(rootListing() == before)
    // pin(register = false): same contract at the current version
    val advCur = StateStore.pin(spark, dir, register = false)
    assert(advCur.version == 1L && advCur.pinFile.isEmpty)
    assert(rootListing() == before)
    // the retain window is the ONLY protection: a full-rewrite commit
    // plus a retain=1 vacuum reclaims v1 under the advisory reader,
    // and its next read fails LOUDLY (files gone), never wrong
    Dedup.upsertIdKeyedStatePartitioned(dir,
      (1L to 20L).map(i => (i, i * 10L)).toDF("pid", "fp"), "pid", nb)
    StateStore.vacuum(spark, dir, retain = 1)
    intercept[Exception] { fpRows(adv.readAll(spark)) }
  }

  test("PIN REFRESH rewrites the pin file's bytes (round-17 advice, " +
    "medium): liveness does not ride FileSystem.setTimes — a no-op " +
    "on the Hadoop base class and object stores — so a refresh " +
    "restores the canonical content AND advances the clock on every " +
    "backend") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val nb = 8
    val dir = tmp("graft_ss_refreshrw")
    val fps0 = (1L to 8L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb) // v1
    val pinned = StateStore.pin(spark, dir)
    val pinPath = Paths.get(dir, pinned.pinFile.get)
    // simulate a backend whose setTimes is a no-op by checking the
    // refresh path's observable effect: it REWRITES the bytes (an
    // overwrite create — which advances mtime everywhere because it
    // creates a new file/object), rather than touching metadata
    Files.writeString(pinPath, "junk-not-a-version-line")
    val aged = System.currentTimeMillis() - 23L * 3600 * 1000
    Files.setLastModifiedTime(pinPath,
      java.nio.file.attribute.FileTime.fromMillis(aged))
    pinned.refresh(spark)
    assert(Files.readString(pinPath) == "version=1\n",
      "refresh must rewrite the canonical pin content")
    assert(Files.getLastModifiedTime(pinPath).toMillis > aged,
      "refresh must advance the liveness clock")
    // and the refreshed pin still enforces
    Dedup.upsertIdKeyedStatePartitioned(dir,
      (1L to 8L).map(i => (i, i * 10L)).toDF("pid", "fp"), "pid", nb)
    StateStore.vacuum(spark, dir, retain = 1)
    assert(fpRows(pinned.readAll(spark)) ==
      (1L to 8L).map(i => i -> i).toSet)
    pinned.release(spark)
  }

  test("LINE-BOUNDARY TRUNCATION is torn, not silently short: a " +
    "prefix that ends exactly at a newline parses as a syntactically " +
    "valid manifest minus its tail buckets — the eof sentinel is what " +
    "rejects it (round-14 advice; data loss without it)") {
    val nb = 8
    val dir = tmp("graft_ss_lineb")
    val fps0 = (1L to 40L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb)
    val before = fpRows(StateStore.readAll(spark, dir))
    // build the dangerous prefix from the REAL committed manifest:
    // bump its version line, drop the last bucket line AND the eof
    // sentinel — every remaining line is individually well-formed —
    // then RE-FRAME with a CORRECT checksum, so the eof sentinel is
    // provably the check doing the rejecting (not a crc mismatch the
    // edit would otherwise cause)
    val p1 = java.nio.file.Paths.get(dir, "manifest-000000001.txt")
    val content = manifestContentLines(p1)
      .dropRight(1) // the last bucket line
      .map(l => if (l.startsWith("version=")) "version=2" else l)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "manifest-000000002.txt"),
      frame2(content))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, ".manifest-000000002.txt.crc"))
    // without the sentinel this would SERVE v2 with a bucket missing;
    // with it, v2 classifies torn and reads fall back to v1 complete
    assert(StateStore.current(spark, dir).version == 1L)
    assert(fpRows(StateStore.readAll(spark, dir)) == before)
    // and the retried cycle self-heals over it
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((1L, 111L)).toDF("pid", "fp"), "pid", nb)
    assert(StateStore.current(spark, dir).version == 2L)
    assert(fpRows(StateStore.readAll(spark, dir)) ==
      before.filterNot(_._1 == 1L) + (1L -> 111L))
  }

  test("EXHAUSTIVE TRUNCATION: EVERY strict byte-prefix of a real " +
    "committed multi-table manifest classifies torn — no prefix " +
    "parses as a silently-smaller snapshot (the framing's whole " +
    "guarantee, checked at every byte rather than argued)") {
    import java.nio.file.{Files, Paths}
    // a real two-table store so the manifest carries several schema
    // AND bucket lines (the interesting truncation targets)
    val nb = 4
    val dir = tmp("graft_ss_trunc")
    val a = (1L to 40L).map(i => (i, i)).toDF("id", "v")
      .withColumn("pbucket", pmod(hash(col("id")), lit(nb)))
    val b = (1L to 40L).map(i => (i, -i)).toDF("id", "w")
      .withColumn("pbucket", pmod(hash(col("id")), lit(nb)))
    StateStore.create(spark, dir, Map("ta" -> a, "tb" -> b), nb)
    val bytes = Files.readAllBytes(
      Paths.get(dir, "manifest-000000001.txt"))
    assert(bytes.length > 100)
    // stage each prefix as another root's v1 manifest; generations
    // are irrelevant — only the parse verdict is under test
    val root2 = tmp("graft_ss_trunc2")
    Files.createDirectories(Paths.get(root2))
    val p2 = Paths.get(root2, "manifest-000000001.txt")
    // the full bytes parse back to the exact committed manifest
    Files.write(p2, bytes)
    val full = StateStore.readAt(spark, root2, 1L).manifest
    assert(full.version == 1L && full.numBuckets == nb &&
      full.schemas.keySet == Set("ta", "tb") &&
      full.buckets.values.forall(_.nonEmpty))
    // THE INVARIANT: every strict byte-prefix either classifies TORN
    // or parses to a manifest EQUAL to the full one (only the
    // trailing-newline prefix does — content-identical, harmless);
    // no prefix may ever parse as a silently-smaller snapshot, and
    // none may classify as an unsupported FUTURE format (which vacuum
    // refuses to reclaim — a torn leftover must stay reclaimable)
    var parsedEqual = 0
    (0 until bytes.length).foreach { k =>
      Files.write(p2, java.util.Arrays.copyOf(bytes, k))
      try {
        val m = StateStore.readAt(spark, root2, 1L).manifest
        assert(m == full,
          s"prefix of $k/${bytes.length} bytes parsed a DIFFERENT " +
            s"manifest: $m")
        parsedEqual += 1
      } catch {
        case _: StateStore.TornManifestException => // the verdict
        case e: Exception =>
          fail(s"prefix of $k/${bytes.length} bytes raised " +
            s"${e.getClass.getSimpleName} instead of torn: " +
            e.getMessage)
      }
    }
    assert(parsedEqual <= 1) // only the missing-final-newline prefix
  }

  test("EXHAUSTIVE TRUNCATION of a FORMAT-1 body (the r15 build's " +
    "frame, read via the back-compat path): every strict byte-prefix " +
    "classifies torn or parses equal — the eof sentinel carries the " +
    "same guarantee it had when format 1 was current") {
    import java.nio.file.{Files, Paths}
    val nb = 4
    val dir = tmp("graft_ss_trunc1")
    val a = (1L to 40L).map(i => (i, i)).toDF("id", "v")
      .withColumn("pbucket", pmod(hash(col("id")), lit(nb)))
    StateStore.create(spark, dir, Map("ta" -> a), nb)
    // reconstruct the format-1 body the r15 writer would have
    // published for this snapshot
    val content = manifestContentLines(
      Paths.get(dir, "manifest-000000001.txt"))
    val bytes = ("format=1" +: content :+ s"eof=${content.size + 1}")
      .mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val root2 = tmp("graft_ss_trunc1b")
    Files.createDirectories(Paths.get(root2))
    val p2 = Paths.get(root2, "manifest-000000001.txt")
    Files.write(p2, bytes)
    val full = StateStore.readAt(spark, root2, 1L).manifest
    assert(full.schemas.keySet == Set("ta"))
    var parsedEqual = 0
    (0 until bytes.length).foreach { k =>
      Files.write(p2, java.util.Arrays.copyOf(bytes, k))
      try {
        val m = StateStore.readAt(spark, root2, 1L).manifest
        assert(m == full,
          s"format-1 prefix of $k/${bytes.length} bytes parsed a " +
            s"DIFFERENT manifest: $m")
        parsedEqual += 1
      } catch {
        case _: StateStore.TornManifestException => // the verdict
        case e: Exception =>
          fail(s"format-1 prefix of $k/${bytes.length} bytes raised " +
            s"${e.getClass.getSimpleName} instead of torn: " +
            e.getMessage)
      }
    }
    assert(parsedEqual <= 1) // only the missing-final-newline prefix
  }

  test("EXHAUSTIVE TRUNCATION of a LEGACY (format 0) body: the " +
    "documented weaker guarantee, CHARACTERIZED at every byte — a " +
    "prefix either classifies torn or parses to a manifest whose " +
    "every field is the full value or a truncation of it (including " +
    "the silently-smaller line-boundary parses legacy was always " +
    "exposed to; the walk proves they exist AND that nothing worse — " +
    "a wrong version, a foreign table, an invented bucket — can)") {
    import java.nio.file.{Files, Paths}
    val nb = 4
    val dir = tmp("graft_ss_trunc0")
    val a = (1L to 40L).map(i => (i, i)).toDF("id", "v")
      .withColumn("pbucket", pmod(hash(col("id")), lit(nb)))
    StateStore.create(spark, dir, Map("ta" -> a), nb)
    val content = manifestContentLines(
      Paths.get(dir, "manifest-000000001.txt"))
    val bytes = content.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val root2 = tmp("graft_ss_trunc0b")
    Files.createDirectories(Paths.get(root2))
    val p2 = Paths.get(root2, "manifest-000000001.txt")
    Files.write(p2, bytes)
    val full = StateStore.readAt(spark, root2, 1L).manifest
    val fullBuckets = full.buckets("ta")
    var silentlySmaller = 0
    (0 until bytes.length).foreach { k =>
      Files.write(p2, java.util.Arrays.copyOf(bytes, k))
      try {
        val m = StateStore.readAt(spark, root2, 1L).manifest
        // what a legacy prefix can NEVER do, even parsed:
        assert(m.version == full.version) // name check enforces this
        // numBuckets: the full value or a cut-mid-digits truncation
        assert(full.numBuckets.toString
          .startsWith(m.numBuckets.toString),
          s"prefix $k invented numBuckets ${m.numBuckets}")
        assert(m.schemas.keySet.subsetOf(full.schemas.keySet) &&
          m.schemas.forall { case (t, s) => s == full.schemas(t) },
          s"prefix $k invented or altered a schema") // torn json never
                                                     // parses, so
                                                     // schemas are
                                                     // all-or-nothing
        m.buckets("ta").foreach { case (b, g) =>
          assert(fullBuckets.contains(b) &&
            fullBuckets(b).startsWith(g),
            s"prefix $k invented bucket $b -> $g")
        }
        if (m != full) silentlySmaller += 1
      } catch {
        case _: StateStore.TornManifestException => // fine: torn
        case e: Exception =>
          fail(s"legacy prefix of $k/${bytes.length} bytes raised " +
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    // the weakness is REAL (this is why format >= 1 frames the body):
    // line-boundary prefixes holding version+numBuckets+schema parse
    // clean minus tail buckets — count them, don't hide them
    assert(silentlySmaller > 0,
      "expected legacy line-boundary prefixes to parse silently " +
        "smaller — if this stops happening, the legacy path is no " +
        "longer parsing with the old rules and the doc is stale")
  }

  test("PRODUCTION-WIDTH MANIFEST: a 100k-bucket body (the 100 TB " +
    "numBuckets shape — ~4 MB, 100k lines) parses with its checksum " +
    "verified in well under a second of driver time, and every " +
    "bucket resolves — the O(tables x buckets) driver-side claim in " +
    "docs/SCALE.md, exercised rather than asserted") {
    import java.nio.file.{Files, Paths}
    val nBuckets = 100000
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pid",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("fp",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pbucket",
        org.apache.spark.sql.types.IntegerType))).json
    // buckets spread over many generations, as a long-lived store's
    // manifest really looks between policy firings
    val content =
      Seq("version=1", s"numBuckets=$nBuckets", s"schema.t=$schemaJson") ++
        (0 until nBuckets).map(b => f"bucket.t.$b=gen-${b % 8 + 1}%09d")
    val body = frame2(content :+ s"eof=${content.size + 2}")
    val root = tmp("graft_ss_wide")
    Files.createDirectories(Paths.get(root))
    Files.writeString(Paths.get(root, "manifest-000000001.txt"), body)
    // the FIRST parse in a JVM pays one-time costs that have nothing
    // to do with width (Hadoop FileSystem init, json4s class loading
    // for DataType.fromJson, JIT — ~5 s cold on this host); a real
    // store parses manifests once per cycle forever after, so the
    // STEADY-STATE cost is the claim under test — warm up once, then
    // time repeat parses and take the min
    val m = StateStore.readAt(spark, root, 1L).manifest
    assert(m.numBuckets == nBuckets)
    assert(m.buckets("t").size == nBuckets)
    assert(m.buckets("t")(99999) == "gen-000000008")
    val parseSec = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      StateStore.readAt(spark, root, 1L)
      (System.nanoTime() - t0) / 1e9
    }.min
    System.err.println(
      f"[spec] 100k-bucket manifest steady-state parse: $parseSec%.3f s")
    // generous CI bound — the point is catching an accidental
    // O(n^2) in the parse/checksum path, not micro-benchmarking
    assert(parseSec < 2.0, f"100k-bucket parse took $parseSec%.2f s")
    // and a flipped byte in the middle of line ~50k still classifies
    // torn via the checksum at this width
    val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val mid = bytes.length / 2
    bytes(mid) = if (bytes(mid) == '1') '2' else '1'
    Files.write(Paths.get(root, "manifest-000000001.txt"), bytes)
    intercept[StateStore.TornManifestException] {
      StateStore.readAt(spark, root, 1L)
    }
  }

  test("UNSUPPORTED FORMAT is loud, not torn: a future-format " +
    "manifest is never served, never fallen back past silently, and " +
    "NEVER classified as vacuumable garbage (round-14 advice)") {
    val nb = 8
    val dir = tmp("graft_ss_fmt")
    val fps0 = (1L to 20L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb)
    // a well-framed manifest from a NEWER writer (format 3 — this
    // build writes 2 and reads 0..2)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "manifest-000000002.txt"),
      "format=3\nversion=2\nnumBuckets=8\neof=3\n")
    // reads refuse loudly (serving v1 could resurrect retracted rows;
    // deleting v2 as torn would discard a committed snapshot)
    val e1 = intercept[StateStore.UnsupportedManifestFormatException] {
      StateStore.current(spark, dir)
    }
    assert(e1.getMessage.contains("format=3"))
    // an EXPLICIT "format=0" declaration is unsupported too (review
    // finding follow-up): the legacy writer never wrote a format
    // line, so a body declaring 0 is foreign — loud and
    // non-vacuumable, the conservative verdict
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "manifest-000000003.txt"),
      "format=0\nversion=3\nnumBuckets=8\neof=3\n")
    val e0 = intercept[StateStore.UnsupportedManifestFormatException] {
      StateStore.readAt(spark, dir, 3L)
    }
    assert(e0.getMessage.contains("format=0"))
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(dir, "manifest-000000003.txt"))
    // vacuum refuses too — BEFORE deleting anything
    intercept[StateStore.UnsupportedManifestFormatException] {
      StateStore.vacuum(spark, dir)
    }
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "manifest-000000002.txt")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "manifest-000000001.txt")))
  }

  /** The state a NON-atomic in-place overwrite leaves when it crashes
    * mid-body during [[StateStore.migrate]]: the intent file durable,
    * the manifest at the committed name cut after 40 bytes of its new
    * body. The store's own replace is one atomic overwrite-rename and
    * cannot tear, so the spec builds that state by hand — the
    * pending-restore recovery exists for filesystems whose overwrite
    * is not atomic. */
  private def tearMidMigrate(dir: String, v: Long): Unit = {
    import java.nio.file.{Files, Paths}
    val e = try intercept[RuntimeException] {
      StateStore.FailPoints.beforeMigrateReplace = true
      StateStore.migrate(spark, dir)
    } finally StateStore.FailPoints.beforeMigrateReplace = false
    assert(e.getMessage.contains("FAILPOINT"))
    val intent = Files.readAllBytes(Paths.get(dir, f".manifest-$v%09d.mig"))
    Files.write(Paths.get(dir, f"manifest-$v%09d.txt"),
      java.util.Arrays.copyOf(intent, 40))
    Files.deleteIfExists(Paths.get(dir, f".manifest-$v%09d.txt.crc"))
  }

  test("MIGRATE torn mid-replace (a non-atomic overwrite's window): " +
    "the torn manifest is RESTORED from its intent file on " +
    "re-run — committed history recovered, not forfeited to vacuum") {
    import java.nio.file.{Files, Paths}
    val nb = 8
    val dir = tmp("graft_ss_migtorn")
    val fps0 = (1L to 20L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb) // v1
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((1L, 100L)).toDF("pid", "fp"), "pid", nb) // v2
    // v1 becomes the format-1 history migrate must rewrite
    val p1 = Paths.get(dir, "manifest-000000001.txt")
    val content = manifestContentLines(p1)
    Files.writeString(p1, ("format=1" +: content :+
      s"eof=${content.size + 1}").mkString("", "\n", "\n"))
    Files.deleteIfExists(Paths.get(dir, ".manifest-000000001.txt.crc"))
    val v1Before = manifestAt(dir, 1L)
    // crash mid-replace of v1: the committed name is TORN — exactly
    // what a non-atomic overwrite leaves behind
    tearMidMigrate(dir, 1L)
    intercept[StateStore.TornManifestException] {
      StateStore.readAt(spark, dir, 1L)
    }
    // the CURRENT snapshot is unaffected (v2 was already format 2)
    assert(StateStore.current(spark, dir).version == 2L)
    // re-run BEFORE any vacuum (the stated recovery order): v1 is
    // restored from the intent, content-identical, format 2
    assert(StateStore.migrate(spark, dir) == Seq(1L))
    assert(Files.readString(p1).startsWith("format=2\n"))
    assert(manifestAt(dir, 1L) == v1Before)
    assert(!Files.exists(Paths.get(dir, ".manifest-000000001.mig")))
    // the negative contrast the scaladoc states: had vacuum run
    // FIRST, the torn v1 (outside retain=1) would have been garbage —
    // which is why the recovery order is migrate-then-vacuum
    StateStore.vacuum(spark, dir, retain = 2)
    assert(Files.exists(p1))
  }

  test("VACUUM vs PENDING RESTORE: a vacuum racing migrate's crash " +
    "recovery keeps a torn NEWEST manifest, its valid intent, and the " +
    "generations the intent references — the latest committed " +
    "snapshot is never forfeited to the race; migrate then restores") {
    import java.nio.file.{Files, Paths}
    val nb = 8
    val dir = tmp("graft_ss_pendres")
    val fps0 = (1L to 20L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb) // v1
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((1L, 100L)).toDF("pid", "fp"), "pid", nb) // v2 (newest)
    val atV2 = fpRows(StateStore.readAll(spark, dir))
    // the NEWEST manifest becomes the format-1 history migrate must
    // rewrite — the case where losing it loses the latest snapshot
    val p2 = Paths.get(dir, "manifest-000000002.txt")
    val content = manifestContentLines(p2)
    Files.writeString(p2, ("format=1" +: content :+
      s"eof=${content.size + 1}").mkString("", "\n", "\n"))
    Files.deleteIfExists(Paths.get(dir, ".manifest-000000002.txt.crc"))
    val v2Before = manifestAt(dir, 2L)
    // crash mid-replace of v2: newest torn, intent durable
    tearMidMigrate(dir, 2L)
    // reads degrade loudly to v1 — the documented torn-newest posture
    assert(StateStore.current(spark, dir).version == 1L)
    // THE RACE: vacuum runs before the migrate re-run, at the default
    // depth. It must keep the torn manifest, the intent, AND gen-2
    // (referenced only by v2 — the intent says so; the torn body
    // cannot), while still reclaiming true garbage.
    val removed = StateStore.vacuum(spark, dir, retain = 1)
    assert(Files.exists(p2), "torn newest manifest forfeited to vacuum")
    assert(Files.exists(Paths.get(dir, ".manifest-000000002.mig")),
      "pending restore's intent swept")
    assert(Files.exists(Paths.get(dir, "gen-000000002")),
      "pending restore's generation swept")
    assert(!removed.contains("manifest-000000002.txt"))
    // recovery completes: v2 restored content-identical, current again
    assert(StateStore.migrate(spark, dir) == Seq(2L))
    assert(StateStore.current(spark, dir).version == 2L)
    assert(manifestAt(dir, 2L) == v2Before)
    assert(fpRows(StateStore.readAll(spark, dir)) == atV2)
    // and with the restore landed, the stale-intent sweep is garbage
    // again: nothing pending, vacuum reclaims dot-manifest leftovers
    assert(!Files.exists(Paths.get(dir, ".manifest-000000002.mig")))
  }

  test("COMMIT vs PENDING RESTORE (round-17 advice, high): with the " +
    "NEWEST manifest torn mid-migrate (valid intent present), a " +
    "commit — which would clear and rewrite the torn version's " +
    "generation, the restore's referenced data — REFUSES loudly; " +
    "migrate restores, then the retried commit lands on the next " +
    "version with nothing lost") {
    import java.nio.file.{Files, Paths}
    val nb = 8
    val dir = tmp("graft_ss_commitpend")
    val fps0 = (1L to 20L).map(i => (i, i)).toDF("pid", "fp")
    Dedup.writeIdKeyedStatePartitioned(fps0, dir, "pid", nb) // v1
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((1L, 100L)).toDF("pid", "fp"), "pid", nb) // v2 (newest)
    val atV2 = fpRows(StateStore.readAll(spark, dir))
    // v2 becomes format-1 history; migrate tears it mid-replace
    val p2 = Paths.get(dir, "manifest-000000002.txt")
    val content = manifestContentLines(p2)
    Files.writeString(p2, ("format=1" +: content :+
      s"eof=${content.size + 1}").mkString("", "\n", "\n"))
    Files.deleteIfExists(Paths.get(dir, ".manifest-000000002.txt.crc"))
    tearMidMigrate(dir, 2L)
    // current falls back to v1, so a commit would target v2 — and
    // gen-2 is NOT a crashed-commit orphan: the pending restore's
    // intent references it. The commit must refuse BEFORE clearing it.
    assert(StateStore.current(spark, dir).version == 1L)
    val refused = intercept[IllegalArgumentException] {
      Dedup.upsertIdKeyedStatePartitioned(dir,
        Seq((2L, 222L)).toDF("pid", "fp"), "pid", nb)
    }
    assert(refused.getMessage.contains("pending migrate restore"))
    assert(Files.exists(Paths.get(dir, "gen-000000002")),
      "the refused commit must not have touched the generation")
    // recovery, as the refusal instructs: migrate restores v2 intact
    assert(StateStore.migrate(spark, dir) == Seq(2L))
    assert(StateStore.current(spark, dir).version == 2L)
    assert(fpRows(StateStore.readAll(spark, dir)) == atV2)
    // the retried commit lands at v3 — nothing lost, nothing torn
    Dedup.upsertIdKeyedStatePartitioned(dir,
      Seq((2L, 222L)).toDF("pid", "fp"), "pid", nb)
    assert(StateStore.current(spark, dir).version == 3L)
    assert(fpRows(StateStore.readAll(spark, dir)) ==
      atV2 - (2L -> 2L) + (2L -> 222L))
  }
}

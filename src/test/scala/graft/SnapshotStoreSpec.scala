package graft

import graft.sources.SnapshotStore
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.UTF_8

/** The snapshot store's ACID claims — the parts no SQL oracle can see:
  * crash atomicity (an uncommitted data dir is invisible), optimistic-
  * concurrency conflict handling (loser re-stages, both commits land),
  * snapshot immutability under later publishes, empty-frame round-trip,
  * and the manifest count being a metadata-only read.
  */
class SnapshotStoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(name: String): String = {
    val dir = sys.props("java.io.tmpdir") + s"/graft-snapspec/$name"
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    dir
  }

  test("publish → read round-trips rows; versions are immutable") {
    val t = freshTable("roundtrip")
    val v1 = SnapshotStore.publish(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t)
    val v2 = SnapshotStore.publish(Seq((3L, "c")).toDF("id", "s"), t)
    assert(v1 === 1 && v2 === 2)
    assert(SnapshotStore.read(spark, t).as[(Long, String)].collect().toSet
      === Set((3L, "c")))
    // time travel: v1 unchanged after v2 landed
    assert(SnapshotStore.read(spark, t, Some(1)).as[(Long, String)]
      .collect().toSet === Set((1L, "a"), (2L, "b")))
    assert(SnapshotStore.countOf(spark, t, 1) === 2L)
    assert(SnapshotStore.countOf(spark, t, 2) === 1L)
  }

  test("crash before manifest commit leaves the old snapshot live") {
    val t = freshTable("crash")
    SnapshotStore.publish(Seq((1L, "a")).toDF("id", "s"), t)
    // simulate a writer that died after its data write: a full data dir
    // with NO manifest
    Seq((99L, "dead")).toDF("id", "s")
      .write.parquet(s"$t/snap-v00002")
    assert(SnapshotStore.versions(spark, t) === Seq(1))
    assert(SnapshotStore.read(spark, t).as[(Long, String)].collect().toSet
      === Set((1L, "a")), "reader saw uncommitted data")
    // and the next publisher claims v2 for itself — the orphan dir is
    // overwritten by the overwrite-mode stage write
    val v = SnapshotStore.publish(Seq((2L, "b")).toDF("id", "s"), t)
    assert(v === 2)
    assert(SnapshotStore.read(spark, t).as[(Long, String)].collect().toSet
      === Set((2L, "b")))
  }

  test("commit conflict: loser re-stages under the next version, both land") {
    val t = freshTable("conflict")
    SnapshotStore.publish(Seq((1L, "base")).toDF("id", "s"), t)
    // plant a manifest claiming v2 — as if a concurrent writer committed
    // between this publisher's version pick and its exclusive create
    val mdir = new Path(t, "_snapshots")
    val f = mdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(mdir)
    val planted = f.create(new Path(mdir, "v00002.manifest"), false)
    planted.write("version=2\ncount=0\nschema=id BIGINT,s STRING\n".getBytes(UTF_8))
    planted.close()
    val v = SnapshotStore.publish(Seq((3L, "late")).toDF("id", "s"), t)
    assert(v === 3, "loser must re-stage under the NEXT free version")
    assert(SnapshotStore.versions(spark, t) === Seq(1, 2, 3))
    assert(SnapshotStore.read(spark, t).as[(Long, String)].collect().toSet
      === Set((3L, "late")))
    // the planted (empty) v2 reads as an empty frame with the declared schema
    val empty = SnapshotStore.read(spark, t, Some(2))
    assert(empty.isEmpty && empty.columns.toSeq === Seq("id", "s"))
  }

  test("streaming sink is exactly-once: a replayed micro-batch is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val t = freshTable("stream")
    val ckpt = freshTable("stream-ckpt")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = SnapshotStore.streamSink(in.toDF().toDF("id", "s"), t, ckpt)
    try {
      in.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      in.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val committed = SnapshotStore.versions(spark, t)
    assert(committed === Seq(1, 2),
      s"expected one version per micro-batch, got $committed")
    assert(SnapshotStore.read(spark, t).as[(Long, String)].collect().toSet
      === Set((3L, "c")))
    // simulate the crash-replay window: the SAME batchId runs again
    // (foreachBatch re-delivery) — idempotent, nothing changes
    val replayed = SnapshotStore.publishVersion(
      Seq((9L, "dup"), (8L, "dup")).toDF("id", "s"), t, 2)
    assert(!replayed, "replay must be a no-op")
    assert(SnapshotStore.versions(spark, t) === Seq(1, 2))
    assert(SnapshotStore.read(spark, t, Some(2)).as[(Long, String)]
      .collect().toSet === Set((3L, "c")), "replay overwrote committed data")
    assert(SnapshotStore.read(spark, t, Some(1)).as[(Long, String)]
      .collect().toSet === Set((1L, "a"), (2L, "b")))
  }

  test("streaming CDC sink: cross-batch version chain, MoR per batch, " +
       "time travel across micro-batches, replay no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val t = freshTable("cdcstream")
    val ckpt = freshTable("cdcstream-ckpt")
    // seed v1 with two files' worth of rows (bucketed layout)
    SnapshotStore.publish(
      Seq((1L, "a", 0L), (2L, "b", 0L), (101L, "c", 1L), (102L, "d", 1L))
        .toDF("id", "s", "b").repartition(2, col("b")),
      t, partitionBy = Seq("b"))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, Long, String)]
    val q = SnapshotStore.streamCdcSink(
      in.toDF().toDF("id", "s", "b", "op"), t, ckpt,
      keyCols = Seq("id"), opCol = "op", baseVersion = 1)
    try {
      // batch 0 → v2: delete 1, update 2, insert 201
      in.addData((1L, "", 0L, "D"), (2L, "B", 0L, "U"), (201L, "e", 2L, "I"))
      q.processAllAvailable()
      // batch 1 → v3: delete the v2-INSERTED row (DV over appended file),
      // update 101 (DV over a v1 file untouched by batch 0)
      in.addData((201L, "", 2L, "D"), (101L, "C", 1L, "U"))
      q.processAllAvailable()
    } finally q.stop()
    assert(SnapshotStore.versions(spark, t) === Seq(1, 2, 3))
    // final state reads through DVs + appends
    assert(SnapshotStore.read(spark, t).select("id", "s")
      .as[(Long, String)].collect().toSet
      === Set((2L, "B"), (101L, "C"), (102L, "d")))
    // time travel: every micro-batch boundary is a committed snapshot
    assert(SnapshotStore.read(spark, t, Some(1)).select("id", "s")
      .as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (101L, "c"), (102L, "d")))
    assert(SnapshotStore.read(spark, t, Some(2)).select("id", "s")
      .as[(Long, String)].collect().toSet
      === Set((2L, "B"), (101L, "c"), (102L, "d"), (201L, "e")))
    // zero-rewrite: v1's data files are physically untouched
    val v1Dir = new Path(t, "snap-v00001")
    val fs = v1Dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(dir: Path): Seq[String] = {
      val it = fs.listFiles(dir, true)
      val buf = Seq.newBuilder[String]
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.startsWith("part-") && p.getName.endsWith(".parquet")
            && !p.getParent.getName.startsWith("_")) buf += p.toString
      }
      buf.result()
    }
    assert(dataFiles(v1Dir).size === 2, "seed layout must be 2 files")
    // crash-replay window: the SAME pinned version applies again → no-op
    val replay = SnapshotStore.applyCdcVersion(spark, t,
      Seq((999L, "x", 0L, "I")).toDF("id", "s", "b", "op"),
      Seq("id"), "op", 3)
    assert(!replay.committed, "replayed batch must be a no-op")
    assert(SnapshotStore.versions(spark, t) === Seq(1, 2, 3))
    assert(SnapshotStore.read(spark, t).select("id", "s")
      .as[(Long, String)].collect().toSet
      === Set((2L, "B"), (101L, "C"), (102L, "d")))
    // version gaps are refused loudly (feed/table history disagreement)
    val gap = intercept[IllegalArgumentException] {
      SnapshotStore.applyCdcVersion(spark, t,
        Seq((999L, "x", 0L, "I")).toDF("id", "s", "b", "op"),
        Seq("id"), "op", 9)
    }
    assert(gap.getMessage.contains("version gap"))
    // a NULL op is refused loudly too — it would otherwise silently act
    // as a delete (pre-image suppressed, no post-image appended)
    val nullOp = intercept[IllegalArgumentException] {
      SnapshotStore.applyCdcVersion(spark, t,
        Seq((2L, "x", 0L, null: String)).toDF("id", "s", "b", "op"),
        Seq("id"), "op", 4)
    }
    assert(nullOp.getMessage.contains("outside I/U/D"))
    assert(SnapshotStore.versions(spark, t) === Seq(1, 2, 3),
      "a rejected batch must not commit")
  }

  test("changeFeed round-trip: replaying the feed over v reproduces v', " +
       "minimal over MoR steps, complete over a copy-on-write step") {
    val t = freshTable("cdf")
    SnapshotStore.publish(
      Seq((1L, "a", 0L), (2L, "b", 0L), (101L, "c", 1L), (102L, "d", 1L))
        .toDF("id", "s", "b").repartition(2, col("b")),
      t, partitionBy = Seq("b"))
    // v2 (MoR): delete 1, update 2, insert 201
    SnapshotStore.applyCdcVersion(spark, t,
      Seq((1L, "", 0L, "D"), (2L, "B", 0L, "U"), (201L, "e", 2L, "I"))
        .toDF("id", "s", "b", "op"), Seq("id"), "op", 2)
    // v3 (MoR): delete the v2-inserted row, update 101
    SnapshotStore.applyCdcVersion(spark, t,
      Seq((201L, "", 2L, "D"), (101L, "C", 1L, "U"))
        .toDF("id", "s", "b", "op"), Seq("id"), "op", 3)
    // MoR steps yield the MINIMAL feed: exactly the changed rows
    val feed = SnapshotStore.changeFeed(spark, t, 1, 3, Seq("id"))
    val got = feed.select("id", "s", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(got === Set(
      (1L, "a", "delete", 2L),
      (2L, "b", "update_preimage", 2L), (2L, "B", "update_postimage", 2L),
      (201L, "e", "insert", 2L),
      (201L, "e", "delete", 3L),
      (101L, "c", "update_preimage", 3L), (101L, "C", "update_postimage", 3L)))
    // round-trip theorem across a COPY-ON-WRITE step too: v4 rewrites
    // the files holding key 102 (mergeUpsert), amplified but complete
    SnapshotStore.mergeUpsert(spark, t,
      Seq((102L, "D2", 1L)).toDF("id", "s", "b"), Seq("id"))
    (1 to 3).foreach { v =>
      val step = SnapshotStore.changeFeed(spark, t, v, v + 1, Seq("id"))
      val pre = SnapshotStore.read(spark, t, Some(v))
        .select("id", "s").as[(Long, String)].collect().toSet
      val dels = step.where(col("_change_type")
          .isin("delete", "update_preimage"))
        .select("id", "s").as[(Long, String)].collect().toSet
      val adds = step.where(col("_change_type")
          .isin("insert", "update_postimage"))
        .select("id", "s").as[(Long, String)].collect().toSet
      val replayed = pre -- dels ++ adds
      val post = SnapshotStore.read(spark, t, Some(v + 1))
        .select("id", "s").as[(Long, String)].collect().toSet
      assert(replayed === post, s"round-trip failed at step $v -> ${v + 1}")
    }
  }

  test("vacuum expires old versions atomically, keeps time travel for the rest") {
    val t = freshTable("vacuum")
    (1 to 4).foreach(i =>
      SnapshotStore.publish(Seq((i.toLong, s"v$i")).toDF("id", "s"), t))
    val expired = SnapshotStore.vacuum(spark, t, keepLast = 2)
    assert(expired === Seq(1, 2))
    assert(SnapshotStore.versions(spark, t) === Seq(3, 4))
    // survivors: latest + time travel still served
    assert(SnapshotStore.read(spark, t).as[(Long, String)].collect().toSet
      === Set((4L, "v4")))
    assert(SnapshotStore.read(spark, t, Some(3)).as[(Long, String)]
      .collect().toSet === Set((3L, "v3")))
    // expired: loud failure naming the surviving versions
    val err = intercept[IllegalArgumentException] {
      SnapshotStore.read(spark, t, Some(1))
    }
    assert(err.getMessage.contains("3,4"))
    // and the data dirs are actually gone (space reclaimed, not hidden)
    val f = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(new Path(t, "snap-v00001")))
  }

  test("diff: null-safe payload compare; NULL↔value is update, NULL↔NULL unchanged") {
    val t = freshTable("cdc-nulls")
    val v1 = Seq((1L, Option("a")), (2L, Option.empty[String]),
                 (3L, Option("c")), (4L, Option("d"))).toDF("id", "s")
    val v2 = Seq((1L, Option.empty[String]), (2L, Option.empty[String]),
                 (3L, Option("c")), (5L, Option("e"))).toDF("id", "s")
    SnapshotStore.publish(v1, t)
    SnapshotStore.publish(v2, t)
    val got = SnapshotStore.diff(spark, t, 1, 2, Seq("id"))
      .as[(Long, String)].collect().toMap
    assert(got === Map(
      1L -> "update",    // value → NULL must NOT read as unchanged
      2L -> "unchanged", // NULL → NULL must NOT read as update
      3L -> "unchanged",
      4L -> "delete",
      5L -> "insert"))
    // schema drift between the two versions fails loudly, not silently
    val t2 = freshTable("cdc-drift")
    SnapshotStore.publish(Seq((1L, "a")).toDF("id", "s"), t2)
    SnapshotStore.publish(Seq((1L, "a", 0L)).toDF("id", "s", "extra"), t2)
    val err = intercept[IllegalArgumentException] {
      SnapshotStore.diff(spark, t2, 1, 2, Seq("id"))
    }
    assert(err.getMessage.contains("schema drift"))
  }

  test("round-trip theorem: applyChanges(v1, diffRows(v1→v2)) ≡ v2") {
    val t = freshTable("merge-roundtrip")
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"n_chars")
    val v1 = docs.where($"doc_id" % 2 === 0)
    val v2 = docs.where($"doc_id" % 3 =!= 0)
      .withColumn("n_chars",
        when($"doc_id" % 5 === 0, $"n_chars" + 7).otherwise($"n_chars"))
    SnapshotStore.publish(v1, t)
    SnapshotStore.publish(v2, t)
    val changes = SnapshotStore.diffRows(spark, t, 1, 2, Seq("doc_id"))
    // the changeset itself is classified like diff()
    val census = changes.groupBy($"change_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(Set("insert", "delete", "update", "unchanged")
      .subsetOf(census.keySet), s"degenerate changeset: $census")
    // MERGE the changeset onto v1 → must reproduce v2 exactly
    val merged = SnapshotStore.applyChanges(
      SnapshotStore.read(spark, t, Some(1)), changes, Seq("doc_id"))
      .as[(Long, String, Long)].collect().toSet
    val expected = SnapshotStore.read(spark, t, Some(2))
      .as[(Long, String, Long)].collect().toSet
    assert(merged === expected)
  }

  test("manifest stats drive file skipping; pruned read ≡ full filter") {
    val t = freshTable("skip")
    // 8 contiguous id-buckets, hash-routed to 16 write tasks: every file
    // holds whole buckets, so file ranges are tight and deterministic
    val df = spark.range(0, 800).toDF("id")
      .withColumn("s", concat(lit("row-"), col("id")))
      .withColumn("v", lit(null).cast("bigint")) // all-null ⇒ no stats
      .withColumn("b", floor(col("id") / 100))
      .repartition(16, col("b")).drop("b")
    SnapshotStore.publish(df, t)
    val stats = SnapshotStore.statsOf(spark, t, 1)
    assert(stats.size >= 2, "layout must produce multiple files")
    assert(stats.forall(_._2.contains("id")), "every file carries id stats")
    // narrow predicate: one bucket → most files pruned
    val pr = SnapshotStore.readBetween(spark, t, None, "id", 100L, 199L)
    assert(pr.filesTotal === stats.size)
    assert(pr.filesKept < pr.filesTotal, "skipping must actually skip")
    val expect = SnapshotStore.read(spark, t)
      .where(col("id").between(100, 199))
      .select(col("id"), col("s")).as[(Long, String)].collect().toSet
    assert(pr.df.select(col("id"), col("s")).as[(Long, String)]
      .collect().toSet === expect)
    // predicate column with no stats (all-null) → nothing prunable
    val noStats = SnapshotStore.readBetween(spark, t, None, "v", 0L, 1L)
    assert(noStats.filesKept === noStats.filesTotal,
      "missing stats must keep every file")
    assert(noStats.df.count() === 0) // residual filter: NULL never matches
    // out-of-range predicate → zero files opened, schema intact
    val none = SnapshotStore.readBetween(spark, t, None, "id", 5000L, 6000L)
    assert(none.filesKept === 0 && none.df.count() === 0)
    assert(none.df.columns.toSeq === Seq("id", "s", "v"))
  }

  test("gcOrphans removes only aged, uncommitted stage dirs") {
    val t = freshTable("gc")
    SnapshotStore.publish(Seq((1L, "a")).toDF("id", "s"), t)
    // a dead writer's stage: full data dir, no manifest
    Seq((99L, "dead")).toDF("id", "s").write.parquet(s"$t/snap-v00007")
    // age fence: a "young" orphan (this one) must survive a 1-hour fence
    assert(SnapshotStore.gcOrphans(spark, t, minAgeMs = 3600 * 1000) === Seq.empty)
    val p = new Path(s"$t/snap-v00007")
    assert(p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
    // past the fence it goes; the committed snapshot is untouched
    assert(SnapshotStore.gcOrphans(spark, t, minAgeMs = 0) === Seq("snap-v00007"))
    assert(!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
    assert(SnapshotStore.read(spark, t).as[(Long, String)].collect().toSet
      === Set((1L, "a")))
    // idempotent on a clean table
    assert(SnapshotStore.gcOrphans(spark, t, minAgeMs = 0) === Seq.empty)
  }

  test("bloom index prunes scattered layouts that range stats cannot") {
    val t = freshTable("bloom")
    // hash-partition on the STRING column: every file spans ~the whole
    // id range, so min/max pruning is useless here by construction
    val df = spark.range(0, 800).toDF("id")
      .withColumn("s", concat(lit("row-"), col("id")))
      .repartition(8, col("s"))
    SnapshotStore.publish(df, t, bloomCols = Seq("id"))
    val probe = SnapshotStore.readPoint(spark, t, None, "id", Seq(137L))
    val ranged = SnapshotStore.readBetween(spark, t, None, "id", 137L, 137L)
    assert(ranged.filesKept === ranged.filesTotal,
      "scattered layout must defeat range stats (the contrast premise)")
    assert(probe.filesKept < probe.filesTotal,
      s"bloom kept ${probe.filesKept}/${probe.filesTotal} — no pruning")
    assert(probe.df.as[(Long, String)].collect().toSet === Set((137L, "row-137")))
    // multi-probe: union of candidate files, still no false negatives
    val multi = SnapshotStore.readPoint(spark, t, None, "id",
      Seq(3L, 137L, 555L, 799L))
    assert(multi.df.select($"id").as[Long].collect().toSet
      === Set(3L, 137L, 555L, 799L))
    // a probe outside every file's range: stats alone zero out the read
    val outside = SnapshotStore.readPoint(spark, t, None, "id", Seq(900L))
    assert(outside.filesKept === 0 && outside.df.count() === 0)
  }

  test("compact: fewer files, identical data, old layout time-travelable") {
    val t = freshTable("compact")
    val df = spark.range(0, 400).toDF("id")
      .withColumn("s", concat(lit("r"), col("id")))
      .repartition(8)
    SnapshotStore.publish(df, t)
    val before = SnapshotStore.statsOf(spark, t, 1).size
    assert(before >= 2)
    val v2 = SnapshotStore.compact(spark, t, 1)
    assert(v2 === 2)
    assert(SnapshotStore.statsOf(spark, t, 2).size === 1)
    // byte-identical data: the diff has no inserts/deletes/updates
    val changed = SnapshotStore.diff(spark, t, 1, 2, Seq("id"))
      .where(col("change_type") =!= "unchanged").count()
    assert(changed === 0)
    // the old layout is still served for version-1 readers
    assert(SnapshotStore.read(spark, t, Some(1)).count() === 400)
    assert(SnapshotStore.countOf(spark, t, 2) === 400)
  }

  test("partitioned publish: hive layout, partition pruning, compaction " +
       "and time travel all hold") {
    val t = freshTable("partitioned")
    val df = spark.range(0, 300).toDF("id")
      .withColumn("pt", (col("id") % 5).cast("int"))
      .withColumn("s", concat(lit("r"), col("id")))
      .repartition(4, col("pt"))
    SnapshotStore.publish(df, t, partitionBy = Seq("pt"))
    // hive dirs: every manifest path carries its partition segment, and
    // the partition column's stats are min = max = the dir value
    val stats = SnapshotStore.statsOf(spark, t, 1)
    assert(stats.nonEmpty)
    stats.foreach { case (p, st) =>
      assert(p.contains("/pt="), s"not a hive path: $p")
      val (mn, mx) = st("pt")
      assert(mn == mx, s"partition stat must be a point: $p -> $mn..$mx")
      assert(p.contains(s"/pt=$mn/"), s"stat disagrees with dir: $p")
    }
    // read restores the partition column with the WRITER's type (int)
    val got = SnapshotStore.read(spark, t)
    assert(got.schema("pt").dataType.typeName === "integer")
    assert(got.select($"id", $"pt", $"s").as[(Long, Int, String)]
      .collect().toSet ===
      (0L until 300L).map(i => (i, (i % 5).toInt, s"r$i")).toSet)
    // partition pruning: one partition value keeps only its own files
    val pr = SnapshotStore.readBetween(spark, t, None, "pt", 2L, 2L)
    assert(pr.filesKept < pr.filesTotal, "no pruning on a partitioned read")
    assert(pr.df.select($"id").as[Long].collect().toSet ===
      (0L until 300L).filter(_ % 5 == 2).toSet)
    // out-of-range probe opens zero files, schema intact
    val none = SnapshotStore.readBetween(spark, t, None, "pt", 99L, 99L)
    assert(none.filesKept === 0 && none.df.count() === 0)
    assert(none.df.columns.toSeq === Seq("id", "pt", "s"))
    // compaction republishes (unpartitioned relayout), data identical,
    // old hive layout still time-travelable
    val v2 = SnapshotStore.compact(spark, t, 1)
    assert(SnapshotStore.diff(spark, t, 1, v2, Seq("id"))
      .where(col("change_type") =!= "unchanged").count() === 0)
    assert(SnapshotStore.read(spark, t, Some(1)).count() === 300)
    // blooms on a partitioned layout: rel-path keying must route probes
    val t2 = freshTable("partbloom")
    SnapshotStore.publish(df, t2, bloomCols = Seq("id"),
                          partitionBy = Seq("pt"))
    val pt = SnapshotStore.readPoint(spark, t2, None, "id", Seq(42L, 137L))
    assert(pt.df.select($"id").as[Long].collect().toSet === Set(42L, 137L))
    assert(pt.filesKept < pt.filesTotal,
      "bloom + partition stats pruned nothing")
  }

  test("mergeUpsert rewrites only files holding matched keys; carried " +
       "files are referenced verbatim from the old version's dir") {
    val t = freshTable("merge")
    // 3 bucket dirs, one file each: ids 0-9 / 10-19 / 20-29
    val base = spark.range(30)
      .select(col("id"), (col("id") * 100).as("pay"),
              (col("id") / 10).cast("long").as("b"))
      .repartition(4, col("b"))
    SnapshotStore.publish(base, t, partitionBy = Seq("b"))
    // update two keys in bucket 1, insert a key landing in a NEW bucket
    val src = Seq((12L, -1L, 1L), (17L, -2L, 1L), (35L, -3L, 3L))
      .toDF("id", "pay", "b")
    val st = SnapshotStore.mergeUpsert(spark, t, src, Seq("id"))
    assert(st.version === 2)
    assert(st.filesTotal === 3 && st.filesRewritten === 1
      && st.filesCarried === 2,
      s"expected exactly bucket 1 rewritten, got $st")
    val got = SnapshotStore.read(spark, t)
      .select("id", "pay").as[(Long, Long)].collect().toMap
    assert(got.size === 31)
    assert(got(12L) === -1L && got(17L) === -2L && got(35L) === -3L)
    assert(got(11L) === 1100L && got(5L) === 500L, "untouched rows changed")
    assert(SnapshotStore.countOf(spark, t, 2) === 31L)
    // carried manifest lines still point INTO snap-v00001 (by reference)
    val v2lines = scala.io.Source.fromInputStream(
      new Path(t, "_snapshots/v00002.manifest")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .open(new Path(t, "_snapshots/v00002.manifest")), "UTF-8")
      .getLines().mkString("\n")
    assert(v2lines.contains("snap-v00001/b=0/")
      && v2lines.contains("snap-v00001/b=2/"),
      "carried buckets must be referenced from v1's dir")
    assert(!v2lines.contains("snap-v00001/b=1/"),
      "the touched bucket must NOT be referenced from v1")
    // time travel: v1 still serves the pre-merge rows
    assert(SnapshotStore.read(spark, t, Some(1)).count() === 30)
  }

  test("schema evolution: add-column merge widens the manifest, carried " +
       "files read as NULL, time travel keeps the narrow schema") {
    val t = freshTable("evolve")
    val base = spark.range(30)
      .select(col("id"), (col("id") * 100).as("pay"),
              (col("id") / 10).cast("long").as("b"))
      .repartition(4, col("b"))
    SnapshotStore.publish(base, t, partitionBy = Seq("b"))
    // the evolving source touches bucket 1 only, adding `tag`
    val src = Seq((12L, -1L, 1L, "x"), (17L, -2L, 1L, "y"))
      .toDF("id", "pay", "b", "tag")
    val st = SnapshotStore.mergeUpsert(spark, t, src, Seq("id"))
    assert(st.filesRewritten === 1 && st.filesCarried === 2,
      s"evolution must not rewrite untouched files: $st")
    val v2 = SnapshotStore.read(spark, t)
    assert(v2.columns.toSeq === Seq("id", "pay", "b", "tag"))
    val tags = v2.select("id", "tag").as[(Long, Option[String])]
      .collect().toMap
    assert(tags(12L) === Some("x") && tags(17L) === Some("y"))
    assert(tags(5L).isEmpty && tags(25L).isEmpty,
      "carried narrow files must read tag as NULL")
    // a SECOND merge without the new column is rejected (a widened
    // schema is table schema from then on — missing columns fail loudly)
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.mergeUpsert(spark, t,
        Seq((1L, 0L, 0L)).toDF("id", "pay", "b"), Seq("id"))
    }
    assert(e.getMessage.contains("missing table columns"))
    // compact materializes the widened schema everywhere; data unchanged
    SnapshotStore.compact(spark, t, 2)
    val v3 = SnapshotStore.read(spark, t)
    assert(v3.columns.toSeq === Seq("id", "pay", "b", "tag"))
    assert(v3.where(col("tag").isNotNull).count() === 2)
    assert(v3.count() === 30)
    // time travel: v1 still serves the ORIGINAL narrow schema
    assert(SnapshotStore.read(spark, t, Some(1)).columns.toSeq
      === Seq("id", "pay", "b"))
  }

  test("schema evolution matches names case-insensitively (Spark's " +
       "default resolution) and rejects case-only collisions") {
    val t = freshTable("evolve-case")
    SnapshotStore.publish(
      spark.range(10).select(col("id"), (col("id") * 100).as("pay")), t)
    // a case-variant of an existing column is the SAME column — must
    // NOT widen the manifest with a `Pay` twin
    val src = Seq((3L, -1L)).toDF("id", "Pay")
    SnapshotStore.mergeUpsert(spark, t, src, Seq("id"))
    val got = SnapshotStore.read(spark, t)
    assert(got.columns.toSeq === Seq("id", "pay"),
      s"case-variant source column must not widen: ${got.columns.toSeq}")
    assert(got.where(col("id") === 3L).select("pay").as[Long].head()
      === -1L)
    // a source carrying BOTH case-variants of one name is ambiguous
    val bad = spark.range(1).select(col("id"), lit(1L).as("pay"),
      lit(2L).as("PAY"))
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.mergeUpsert(spark, t, bad, Seq("id"))
    }
    assert(e.getMessage.contains("case-only"))
  }

  test("deletion vectors: point delete rewrites zero files, time travel " +
       "is DV-free, second delete unions cumulatively") {
    val t = freshTable("dv")
    val base = spark.range(40)
      .select(col("id"), (col("id") * 10).as("pay"),
              (col("id") / 10).cast("long").as("b"))
      .repartition(4, col("b"))
    SnapshotStore.publish(base, t, partitionBy = Seq("b"))
    val f = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles: Set[String] = {
      val it = f.listFiles(new Path(t), true)
      val buf = Set.newBuilder[String]
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.endsWith(".parquet")
            && !p.getParent.getName.startsWith("_")
            && !p.toString.contains("_snapshots")) buf += p.toString
      }
      buf.result()
    }
    val before = dataFiles
    val st1 = SnapshotStore.dvDelete(spark, t, "id", Seq(3L, 17L, 35L))
    assert(st1.version === 2 && st1.filesRewritten === 0
      && st1.rowsDeleted === 3L && st1.filesWithDv === 3,
      s"unexpected $st1")
    assert(dataFiles === before, "a DV delete must not touch data files")
    val live = SnapshotStore.read(spark, t).select("id").as[Long]
      .collect().toSet
    assert(live === (0L until 40L).toSet -- Set(3L, 17L, 35L))
    assert(SnapshotStore.countOf(spark, t, 2) === 37L)
    // time travel: v1 still serves every row
    assert(SnapshotStore.read(spark, t, Some(1)).count() === 40L)
    // second wave hits bucket 0 AGAIN (cumulative union) + bucket 2
    val st2 = SnapshotStore.dvDelete(spark, t, "id", Seq(5L, 25L))
    assert(st2.rowsDeleted === 2L && st2.filesWithDv === 2)
    assert(dataFiles === before)
    val live2 = SnapshotStore.read(spark, t).select("id").as[Long]
      .collect().toSet
    assert(live2 === (0L until 40L).toSet -- Set(3L, 17L, 35L, 5L, 25L))
    // idempotence: re-deleting already-suppressed ids is a no-op version
    val st3 = SnapshotStore.dvDelete(spark, t, "id", Seq(3L, 5L))
    assert(st3.rowsDeleted === 0L && st3.filesWithDv === 0
      && st3.version === st2.version,
      s"re-delete of suppressed rows must not commit: $st3")
    // CDC sees DV-suppressed rows as deletes
    val d = SnapshotStore.diff(spark, t, 1, 3, Seq("id"))
    assert(d.where(col("change_type") === "delete").count() === 5L)
    // compaction materializes: new version has no dv refs, same rows
    SnapshotStore.compact(spark, t, 2)
    val live3 = SnapshotStore.read(spark, t).select("id").as[Long]
      .collect().toSet
    assert(live3 === live2)
    val mf = scala.io.Source.fromInputStream(
      f.open(new Path(t, "_snapshots/v00004.manifest")), "UTF-8")
      .getLines().mkString("\n")
    assert(!mf.contains("dv:"), "compaction must materialize DVs")
  }

  test("DV staging: a micro-batch DV writes ONE file; an over-cap DV " +
       "partitions by file key and reads stay correct") {
    val t = freshTable("dv-partitioned")
    val n = 1000L
    SnapshotStore.publish(
      spark.range(n).select(col("id"), (col("id") % 8).as("b"))
        .repartition(8, col("b")),
      t, partitionBy = Seq("b"))
    val f = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dvParquet(version: Int): Seq[String] = {
      val snap = new Path(t, f"snap-v$version%05d")
      val dirs = f.listStatus(snap).map(_.getPath)
        .filter(_.getName.startsWith("_dv-"))
      dirs.flatMap(d => f.listStatus(d).map(_.getPath.getName)
        .filter(_.endsWith(".parquet"))).toSeq
    }
    // small wave: default cap (100k) → plan unchanged, exactly one file
    SnapshotStore.dvDelete(spark, t, "id", Seq(3L, 11L))
    assert(dvParquet(2).size === 1,
      s"a 2-position DV must stay a single file, got ${dvParquet(2)}")
    // adversarial wave: force the cap tiny — 60 positions across all 8
    // file keys must fan out across tasks instead of funneling through
    // one coalesced writer
    sys.props("graft.dv.singleFileCap") = "10"
    try {
      SnapshotStore.dvDelete(spark, t, "id", (100L until 160L))
      assert(dvParquet(3).size > 1,
        "an over-cap DV must hash-partition by file key")
    } finally sys.props.remove("graft.dv.singleFileCap")
    val live = SnapshotStore.read(spark, t).select("id").as[Long]
      .collect().toSet
    assert(live === (0L until n).toSet -- Set(3L, 11L) --
      (100L until 160L).toSet,
      "reads over a multi-file DV must apply every suppressed position")
    // time travel before the big wave still sees its rows
    assert(SnapshotStore.read(spark, t, Some(2)).count() === n - 2)
  }

  test("DV auto-compaction: a long CDC chain triggers exactly the " +
       "over-threshold files' materialization; time travel intact; " +
       "an under-threshold chain is a no-op") {
    val t = freshTable("dv-autocompact")
    SnapshotStore.publish(
      spark.range(300)
        .select(col("id"), (col("id") % 3).as("b"), (col("id") * 7).as("pay"))
        .repartition(3, col("b")),
      t, partitionBy = Seq("b"))
    // CDC chain, delete-only: bucket 0 loses 40% (over a 25% threshold),
    // bucket 1 loses 10% (under), bucket 2 untouched
    def dels(ids: Seq[Long], v: Int): Unit = {
      val batch = spark.range(300)
        .select(col("id"), (col("id") % 3).as("b"), (col("id") * 7).as("pay"))
        .where(col("id").isin(ids: _*))
        .withColumn("op", lit("D"))
      SnapshotStore.applyCdcVersion(spark, t, batch, Seq("id"), "op", v)
      ()
    }
    val b0 = (0L until 300L).filter(_ % 3 == 0)
    val b1 = (0L until 300L).filter(_ % 3 == 1)
    dels(b0.take(20), 2)               // wave 1: bucket 0
    dels(b0.slice(20, 40) ++ b1.take(10), 3) // wave 2: bucket 0 + a few b1
    val amp = SnapshotStore.dvAmplification(spark, t)
    assert(amp.size === 2, s"two buckets carry DVs, got $amp")
    assert(amp.map(a => (a.rows, a.suppressed)).toSet
      === Set((100L, 40L), (100L, 10L)))
    val st = SnapshotStore.autoCompactDv(spark, t, thresholdBp = 2500L)
    assert(st.filesMaterialized === 1 && st.rowsRewritten === 60L,
      s"exactly bucket 0 (40% > 25%) must rewrite, got $st")
    // live rows preserved; the amplified layout still time-travels
    assert(SnapshotStore.read(spark, t).count() === 250L)
    assert(SnapshotStore.read(spark, t, Some(3)).count() === 250L)
    assert(SnapshotStore.read(spark, t, Some(1)).count() === 300L)
    // the new manifest sheds bucket 0's dv ref, keeps bucket 1's
    val after = SnapshotStore.dvAmplification(spark, t)
    assert(after.map(_.suppressed) === Seq(10L),
      s"only bucket 1's DV must remain, got $after")
    // no deleted id resurrects
    val live = SnapshotStore.read(spark, t).select("id").as[Long]
      .collect().toSet
    assert((b0.take(40) ++ b1.take(10)).forall(!live.contains(_)))
    // everything now under threshold: the policy commits NOTHING
    val st2 = SnapshotStore.autoCompactDv(spark, t, thresholdBp = 2500L)
    assert(st2.version === st.version && st2.filesMaterialized === 0,
      s"under-threshold chain must be a no-op, got $st2")
  }

  test("DV census: overlapping waves (wave 2 touches a SUBSET of wave " +
       "1's files) count each file from its OWN referenced dir — no " +
       "double-count from stale copies, no spurious compaction") {
    val t = freshTable("dv-census-overlap")
    SnapshotStore.publish(
      spark.range(300)
        .select(col("id"), (col("id") % 3).as("b"), (col("id") * 7).as("pay"))
        .repartition(3, col("b")),
      t, partitionBy = Seq("b"))
    def dels(ids: Seq[Long], v: Int): Unit = {
      val batch = spark.range(300)
        .select(col("id"), (col("id") % 3).as("b"), (col("id") * 7).as("pay"))
        .where(col("id").isin(ids: _*))
        .withColumn("op", lit("D"))
      SnapshotStore.applyCdcVersion(spark, t, batch, Seq("id"), "op", v)
      ()
    }
    val b0 = (0L until 300L).filter(_ % 3 == 0)
    val b1 = (0L until 300L).filter(_ % 3 == 1)
    // wave 1 (dir D2) touches b0 AND b1; wave 2 (dir D3) touches ONLY
    // b0, carrying its cumulative 12+8=20 positions into D3 while b1
    // still references D2 — which retains a STALE copy of b0's 12.
    dels(b0.take(12) ++ b1.take(10), 2)
    dels(b0.slice(12, 20), 3)
    val amp = SnapshotStore.dvAmplification(spark, t)
    assert(amp.map(a => (a.rows, a.suppressed)).toSet
      === Set((100L, 20L), (100L, 10L)),
      s"a union census would inflate b0 to 32 (12 stale + 20), got $amp")
    // both files sit under 25%: the policy must commit NOTHING (the
    // inflated 32% census would spuriously materialize b0)
    val st = SnapshotStore.autoCompactDv(spark, t, thresholdBp = 2500L)
    assert(st.filesMaterialized === 0 && st.version === 3,
      s"under-threshold overlapping chain must be a no-op, got $st")
    assert(SnapshotStore.read(spark, t).count() === 270L)
  }

  test("column mapping: RENAME is metadata-only and keeps old files' " +
       "values; time travel reads the old name; collisions rejected") {
    val t = freshTable("colmap-rename")
    SnapshotStore.publish(
      spark.range(100).select(col("id"), (col("id") * 3).as("val"),
        (col("id") % 4).as("b")).repartition(2), t)
    val st = SnapshotStore.renameColumn(spark, t, "val", "score")
    assert(st.version === 2 && st.filesCarried === 2,
      s"rename must carry every file by reference, got $st")
    // zero data files under v2's dir — metadata-only commit
    val f = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(new Path(t, "snap-v00002")),
      "a rename must stage no data files")
    // values survive under the NEW name
    val got = SnapshotStore.read(spark, t).orderBy(col("id"))
      .select(sum(col("score")).cast("long")).head().getLong(0)
    assert(got === (0L until 100L).map(_ * 3).sum)
    assert(SnapshotStore.read(spark, t).columns.toSeq
      === Seq("id", "score", "b"))
    // time travel reads the OLD name
    assert(SnapshotStore.read(spark, t, Some(1)).columns.toSeq
      === Seq("id", "val", "b"))
    // case-insensitive collision with a remaining column is rejected
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.renameColumn(spark, t, "score", "ID")
    }
    assert(e.getMessage.contains("collides"))
    // a DV delete on the MAPPED table prunes/filters through the map
    SnapshotStore.dvDelete(spark, t, "id", Seq(7L, 11L))
    assert(SnapshotStore.read(spark, t).count() === 98L)
    // and a stats-pruned read under the new logical name still works
    val pr = SnapshotStore.readBetween(spark, t, None, "score", 30L, 60L)
    assert(pr.df.count() === 11L -
      Seq(7L, 11L).count(i => i * 3 >= 30 && i * 3 <= 60))
  }

  test("column mapping: DROP hides without rewrite and a later re-add " +
       "mints a fresh physical name — old values never resurrect") {
    val t = freshTable("colmap-drop")
    SnapshotStore.publish(
      spark.range(60).select(col("id"), concat(lit("u"), col("id"))
        .as("email"), (col("id") * 2).as("v")).repartition(2), t)
    val st = SnapshotStore.dropColumn(spark, t, "email")
    assert(st.version === 2 && st.filesCarried === 2)
    assert(SnapshotStore.read(spark, t).columns.toSeq === Seq("id", "v"))
    // time travel still serves the dropped column (manifests immutable)
    assert(SnapshotStore.read(spark, t, Some(1))
      .where(col("email").isNotNull).count() === 60L)
    // re-add the SAME logical name via a widening merge: only the
    // merge's own rows carry values — drop+add is NOT a rename
    val src = spark.range(5).select(col("id"), (col("id") * 2).as("v"),
      lit("fresh").as("email"))
    SnapshotStore.mergeUpsert(spark, t, src, Seq("id"))
    val re = SnapshotStore.read(spark, t)
    assert(re.columns.toSeq === Seq("id", "v", "email"))
    assert(re.where(col("email").isNotNull).count() === 5L,
      "re-added column must NOT resurrect dropped files' values")
    assert(re.where(col("email") === "fresh").count() === 5L)
    // the fresh physical name is distinct from the dropped one
    val lines = scala.io.Source.fromInputStream(
      new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
        .open(new Path(t, "_snapshots/v00003.manifest")), "UTF-8")
      .getLines().toList
    assert(lines(2).contains("colmap=") &&
      lines(2).matches(".*email:email_p[0-9a-f]{8}.*"),
      s"expected a fresh physical for the re-add, got: ${lines(2)}")
    // CDC apply on the mapped table: op rows route through the map too
    import spark.implicits._
    SnapshotStore.applyCdcVersion(spark, t,
      Seq((2L, 4L, "fresh", "D"), (100L, 200L, "new", "I"))
        .toDF("id", "v", "email", "op"), Seq("id"), "op", 4)
    val v4 = SnapshotStore.read(spark, t)
    assert(v4.count() === 60L)
    assert(v4.where(col("email").isNotNull).count() === 5L) // -2L +100L
    // change feed across the mapped chain still pairs by key
    val feed = SnapshotStore.changeFeed(spark, t, 3, 4, Seq("id"))
    assert(feed.groupBy(col("_change_type")).count()
      .as[(String, Long)].collect().toMap
      === Map("delete" -> 1L, "insert" -> 1L))
    // a partition column cannot be renamed or dropped
    val tp = freshTable("colmap-part")
    SnapshotStore.publish(
      spark.range(20).select(col("id"), (col("id") % 2).as("p"))
        .repartition(2, col("p")), tp, partitionBy = Seq("p"))
    assert(intercept[IllegalArgumentException] {
      SnapshotStore.dropColumn(spark, tp, "p")
    }.getMessage.contains("partition"))
    assert(intercept[IllegalArgumentException] {
      SnapshotStore.renameColumn(spark, tp, "p", "q")
    }.getMessage.contains("partition"))
  }

  test("column mapping: a full rewrite (compact) re-baselines to " +
       "identity — mapping collapses, values survive, and a later " +
       "re-add of a dropped name is safe because the old bytes are gone") {
    val t = freshTable("colmap-compact")
    SnapshotStore.publish(
      spark.range(40).select(col("id"), concat(lit("e"), col("id"))
        .as("email"), (col("id") * 5).as("v")).repartition(2), t)
    SnapshotStore.renameColumn(spark, t, "v", "score")
    SnapshotStore.dropColumn(spark, t, "email")
    SnapshotStore.compact(spark, t, 1)
    val f = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lines = scala.io.Source.fromInputStream(
      f.open(new Path(t, "_snapshots/v00004.manifest")), "UTF-8")
      .getLines().toList
    assert(!lines(2).contains("colmap="),
      s"a full rewrite must re-baseline to identity, got: ${lines(2)}")
    val df = SnapshotStore.read(spark, t)
    assert(df.columns.toSeq === Seq("id", "score"))
    assert(df.select(sum(col("score")).cast("long")).head().getLong(0)
      === (0L until 40L).map(_ * 5).sum)
    // re-adding the dropped name after the rewrite is identity-mapped
    // AND safe: the old physical bytes were not carried
    SnapshotStore.mergeUpsert(spark, t,
      spark.range(3).select(col("id"), (col("id") * 5).as("score"),
        lit("new").as("email")), Seq("id"))
    val re = SnapshotStore.read(spark, t)
    assert(re.where(col("email").isNotNull).count() === 3L)
    // time travel across the whole chain still serves each epoch
    assert(SnapshotStore.read(spark, t, Some(1)).columns.toSeq
      === Seq("id", "email", "v"))
    assert(SnapshotStore.read(spark, t, Some(3))
      .columns.toSeq === Seq("id", "score"))
  }

  test("deletion vectors: vacuum keeps a DV dir a retained manifest " +
       "references; merge rewrite materializes the touched file's DV") {
    val t = freshTable("dv-vacuum")
    SnapshotStore.publish(
      spark.range(20).select(col("id"), (col("id") * 10).as("pay")), t)
    SnapshotStore.dvDelete(spark, t, "id", Seq(7L))         // v2: dv dir
    SnapshotStore.publish(                                  // v3 (fresh data)
      SnapshotStore.read(spark, t).unionAll(
        Seq((100L, 1000L)).toDF("id", "pay")), t)
    // v4 carries v1's file + v2's DV ref forward via a dv re-delete
    SnapshotStore.dvDelete(spark, t, "id", Seq(100L))       // v4
    // drop v1..v2; v4 (and v3) retained. v2's _dv is NOT referenced by
    // any retained manifest (v3/v4 re-staged), so its dir may go — but
    // a retained dv ref must keep ITS dir
    val f = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotStore.vacuum(spark, t, keepLast = 2)
    assert(SnapshotStore.versions(spark, t) === Seq(3, 4))
    val v4Dv = new String(org.apache.commons.io.IOUtils.toByteArray(
        f.open(new Path(t, "_snapshots/v00004.manifest"))), "UTF-8")
      .linesIterator.flatMap(_.split('\t').find(_.startsWith("dv:")))
      .map(_.stripPrefix("dv:")).toSeq
    assert(v4Dv.nonEmpty && v4Dv.forall(d => f.exists(new Path(d))),
      "retained manifest's DV dir must survive vacuum")
    assert(SnapshotStore.read(spark, t).select("id").as[Long]
      .collect().toSet === (0L until 20L).toSet -- Set(7L))
    // a mergeUpsert touching a DV'd file reads DV-applied rows and
    // re-stages them: the rewritten line sheds its dv ref
    val t2 = freshTable("dv-merge")
    SnapshotStore.publish(
      spark.range(10).select(col("id"), (col("id") * 10).as("pay")), t2)
    SnapshotStore.dvDelete(spark, t2, "id", Seq(4L))
    SnapshotStore.mergeUpsert(spark, t2,
      Seq((2L, -1L)).toDF("id", "pay"), Seq("id"))
    val got = SnapshotStore.read(spark, t2).select("id", "pay")
      .as[(Long, Long)].collect().toMap
    assert(!got.contains(4L), "merge must not resurrect a DV-deleted row")
    assert(got(2L) === -1L && got.size === 9)
    val mf2 = scala.io.Source.fromInputStream(
      f.open(new Path(t2, "_snapshots/v00003.manifest")), "UTF-8")
      .getLines().mkString("\n")
    assert(!mf2.contains("dv:"),
      "rewrite of the only file must materialize its DV")
  }

  test("mergeUpsert rejects a source with duplicate keys") {
    val t = freshTable("merge-dup")
    SnapshotStore.publish(Seq((1L, 10L)).toDF("id", "pay"), t)
    val dup = Seq((5L, 1L), (5L, 2L)).toDF("id", "pay")
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.mergeUpsert(spark, t, dup, Seq("id"))
    }
    assert(e.getMessage.contains("duplicate keys"))
  }

  test("merge commit race: loser recomputes against the NEW latest, " +
       "not its stale base") {
    val t = freshTable("merge-race")
    SnapshotStore.publish(Seq((1L, 10L), (2L, 20L)).toDF("id", "pay"), t)
    // plant a committed v2 (as if a concurrent writer won): v2 = {(9,90)}
    SnapshotStore.publish(Seq((9L, 90L)).toDF("id", "pay"), t)
    // merge sees latest v2 and must apply against IT
    val st = SnapshotStore.mergeUpsert(spark, t,
      Seq((9L, -9L), (3L, 30L)).toDF("id", "pay"), Seq("id"))
    assert(st.version === 3)
    assert(SnapshotStore.read(spark, t).as[(Long, Long)].collect().toSet
      === Set((9L, -9L), (3L, 30L)), "merge must apply to the new latest")
  }

  test("vacuum and gcOrphans keep a dir that retained manifests still " +
       "reference; compact collapses the references") {
    val t = freshTable("merge-vacuum")
    val base = spark.range(20)
      .select(col("id"), col("id").as("pay"),
              (col("id") / 10).cast("long").as("b"))
      .repartition(2, col("b"))
    SnapshotStore.publish(base, t, partitionBy = Seq("b"))
    SnapshotStore.mergeUpsert(spark, t,
      Seq((3L, -3L, 0L)).toDF("id", "pay", "b"), Seq("id"))
    val f = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // v2 references snap-v00001/b=1 — vacuum to keepLast=1 must delete
    // v1's MANIFEST but leave its data dir alive
    assert(SnapshotStore.vacuum(spark, t, keepLast = 1) === Seq(1))
    assert(SnapshotStore.versions(spark, t) === Seq(2))
    assert(f.exists(new Path(t, "snap-v00001")),
      "referenced dir must survive vacuum")
    assert(!f.exists(new Path(t, "_snapshots/v00001.manifest")))
    // gcOrphans must ALSO see the reference (v1 now has no manifest)
    assert(SnapshotStore.gcOrphans(spark, t, minAgeMs = 0) === Seq.empty)
    assert(SnapshotStore.read(spark, t).count() === 20)
    // compact rewrites everything into its own dir — references collapse
    val v3 = SnapshotStore.compact(spark, t, numFiles = 1)
    val v3lines = scala.io.Source.fromInputStream(
      f.open(new Path(t, f"_snapshots/v$v3%05d.manifest")), "UTF-8")
      .getLines().toList
    assert(v3lines.drop(3).filter(_.nonEmpty)
      .forall(_.contains(f"snap-v$v3%05d/")), "compact must self-contain")
    // now nothing references v1/v2 dirs: vacuum reclaims v2 (an expired
    // VERSION), and v1's dir — whose manifest is long gone — falls to
    // gcOrphans, which now sees no manifest referencing it
    SnapshotStore.vacuum(spark, t, keepLast = 1)
    assert(!f.exists(new Path(t, "snap-v00002")))
    assert(SnapshotStore.gcOrphans(spark, t, minAgeMs = 0)
      === Seq("snap-v00001"))
    assert(!f.exists(new Path(t, "snap-v00001")))
    assert(SnapshotStore.read(spark, t).count() === 20)
  }

  test("deleteBetween: fully-covered file vanishes, partial file " +
       "rewrites, out-of-range files carry; NULLs survive") {
    val t = freshTable("delete")
    // buckets 0/1/2 (one file each); bucket 1 = ids 10..19
    val withNull = spark.range(30)
      .select(when(col("id") === 25, lit(null).cast("long"))
                .otherwise(col("id")).as("k"),
              col("id").as("pay"),
              (col("id") / 10).cast("long").as("b"))
      .repartition(4, col("b"))
    SnapshotStore.publish(withNull, t, partitionBy = Seq("b"))
    // [10,19] covers bucket 1 entirely and nothing else
    val st = SnapshotStore.deleteBetween(spark, t, "k", 10L, 19L)
    assert(st.filesRewritten === 1 && st.filesCarried === 2, s"got $st")
    val left = SnapshotStore.read(spark, t)
    assert(left.count() === 20)
    assert(left.where(col("k").isNull).count() === 1,
      "NULL keys must survive a BETWEEN delete")
    // the emptied bucket is gone from the manifest (no zero-row files)
    val f = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v2lines = scala.io.Source.fromInputStream(
      f.open(new Path(t, "_snapshots/v00002.manifest")), "UTF-8")
      .getLines().toList
    assert(!v2lines.exists(_.contains("b=1/")),
      "fully-deleted bucket must vanish from the manifest")
    // partial range: [5,14] touches buckets 0 and... bucket 1 is gone,
    // so only bucket 0 rewrites now
    val st2 = SnapshotStore.deleteBetween(spark, t, "k", 5L, 14L)
    assert(st2.filesRewritten === 1, s"got $st2")
    assert(SnapshotStore.read(spark, t).count() === 15)
  }

  test("readPoint blooms keep working through carried references") {
    val t = freshTable("merge-bloom")
    // scattered layout (hash on pay) so range stats cannot prune, with
    // blooms on k
    val base = spark.range(40)
      .select(col("id").as("k"), (col("id") % 7).as("pay"))
      .repartition(6, col("pay"))
    SnapshotStore.publish(base, t, bloomCols = Seq("k"))
    SnapshotStore.mergeUpsert(spark, t,
      Seq((2L, -2L)).toDF("k", "pay"), Seq("k"))
    // probe keys that live in CARRIED files: their blooms sit under
    // snap-v00001/_bloom and must still prune/serve
    val pr = SnapshotStore.readPoint(spark, t, None, "k", Seq(7L, 31L))
    assert(pr.df.select("k").as[Long].collect().toSet === Set(7L, 31L))
    assert(pr.filesKept < pr.filesTotal,
      "blooms should prune at least one file in a scattered layout")
    // and the rewritten key reads back through its fresh file
    val pr2 = SnapshotStore.readPoint(spark, t, None, "k", Seq(2L))
    assert(pr2.df.select("pay").as[Long].collect().toSeq === Seq(-2L))
  }

  test("refs: atomic updates, last-set wins, readRef follows the pointer") {
    val t = freshTable("refs")
    SnapshotStore.publish(Seq((1L, "a")).toDF("id", "s"), t)
    SnapshotStore.publish(Seq((2L, "b")).toDF("id", "s"), t)
    // a ref must point at a committed version
    intercept[IllegalArgumentException] {
      SnapshotStore.setRef(spark, t, "main", 9)
    }
    intercept[RuntimeException] { SnapshotStore.readRef(spark, t, "main") }
    SnapshotStore.setRef(spark, t, "main", 1)
    SnapshotStore.setRef(spark, t, "audit", 2)
    assert(SnapshotStore.refs(spark, t) === Map("main" -> 1, "audit" -> 2))
    assert(SnapshotStore.readRef(spark, t, "main")
      .as[(Long, String)].collect().toSeq === Seq((1L, "a")))
    // re-pointing is an append (new update file), not an overwrite:
    // last committed seq wins, and the history of updates remains
    SnapshotStore.setRef(spark, t, "main", 2)
    assert(SnapshotStore.refOf(spark, t, "main") === Some(2))
    assert(SnapshotStore.readRef(spark, t, "main")
      .as[(Long, String)].collect().toSeq === Seq((2L, "b")))
  }

  test("WAP: audit failure leaves the ref untouched; pass promotes") {
    val t = freshTable("wap")
    val audit: org.apache.spark.sql.DataFrame => Boolean =
      df => df.agg(min($"id")).head.getLong(0) >= 0L
    val (v1, ok1) = SnapshotStore.wapPublish(spark, t,
      Seq((1L, "a")).toDF("id", "s"), "main", audit)
    assert(v1 === 1 && ok1)
    val (v2, ok2) = SnapshotStore.wapPublish(spark, t,
      Seq((-5L, "poison")).toDF("id", "s"), "main", audit)
    assert(v2 === 2 && !ok2)
    // the bad batch COMMITTED (debuggable, time-travelable)…
    assert(SnapshotStore.read(spark, t, Some(2)).count() === 1L)
    // …but ref followers never saw it
    assert(SnapshotStore.refOf(spark, t, "main") === Some(1))
    val (v3, ok3) = SnapshotStore.wapPublish(spark, t,
      Seq((5L, "fixed")).toDF("id", "s"), "main", audit)
    assert(v3 === 3 && ok3)
    assert(SnapshotStore.readRef(spark, t, "main")
      .as[(Long, String)].collect().toSeq === Seq((5L, "fixed")))
  }

  test("vacuum treats refs as retention roots") {
    val t = freshTable("refvacuum")
    SnapshotStore.publish(Seq((1L, "a")).toDF("id", "s"), t)
    SnapshotStore.publish(Seq((2L, "b")).toDF("id", "s"), t)
    SnapshotStore.publish(Seq((3L, "c")).toDF("id", "s"), t)
    SnapshotStore.setRef(spark, t, "prod", 1)
    // keepLast=1 would normally expire v1 and v2; the prod ref pins v1
    val expired = SnapshotStore.vacuum(spark, t, keepLast = 1)
    assert(expired === Seq(2))
    assert(SnapshotStore.versions(spark, t) === Seq(1, 3))
    assert(SnapshotStore.readRef(spark, t, "prod")
      .as[(Long, String)].collect().toSeq === Seq((1L, "a")))
    // re-point the ref forward: v1 loses its root and the next vacuum
    // reclaims it
    SnapshotStore.setRef(spark, t, "prod", 3)
    assert(SnapshotStore.vacuum(spark, t, keepLast = 1) === Seq(1))
    assert(SnapshotStore.versions(spark, t) === Seq(3))
  }

  test("q130 census conserves: v1 ⊆ v2 by construction") {
    val out = SnapshotStore.q130SnapshotRoundtrip(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(out.length === 2)
    val (v1, v2) = (out(0), out(1))
    assert(v1._2 < v2._2 && v1._3 < v2._3,
      "v1 (even doc_ids) must be a strict subset of v2 (all docs)")
  }

  test("diffRowsPrePost carries both images and drops unchanged rows") {
    val t = freshTable("prepost")
    SnapshotStore.publish(
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v"), t)
    SnapshotStore.publish(
      Seq((2L, 20L), (3L, 31L), (4L, 40L)).toDF("id", "v"), t)
    val ch = SnapshotStore.diffRowsPrePost(spark, t, 1, 2, Seq("id"))
      .select($"id", $"change_type", $"pre_v", $"post_v")
      .as[(Long, String, Option[Long], Option[Long])].collect().toSet
    assert(ch === Set(
      (1L, "delete", Some(10L), None),     // pre-image only
      (3L, "update", Some(30L), Some(31L)), // BOTH images — the CDF shape
      (4L, "insert", None, Some(40L))))    // post-image only; 2L filtered
    // retraction algebra over the feed rebuilds the v2 sum from v1's
    val v1sum = 10L + 20L + 30L
    val maintained = v1sum +
      ch.toSeq.map { case (_, _, pre, post) =>
        post.getOrElse(0L) - pre.getOrElse(0L) }.sum
    assert(maintained === 20L + 31L + 40L)
  }

  test("AS-OF timestamp resolves inclusively, rejects pre-history, vacuums") {
    val t = freshTable("asof")
    SnapshotStore.publishAt(Seq((1L, "a")).toDF("id", "s"), t, 100L)
    SnapshotStore.publishAt(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t, 200L)
    def n(asOf: Long) = SnapshotStore.readAsOf(spark, t, asOf).count()
    assert(n(100L) === 1L, "boundary must be inclusive")
    assert(n(150L) === 1L)
    assert(n(200L) === 2L)
    assert(n(9999L) === 2L)
    val err = intercept[IllegalArgumentException](n(99L))
    assert(err.getMessage.contains("no version committed"))
    // vacuum drops the expired version's ts sidecar with its manifest:
    // the old timestamp stops resolving instead of dangling
    SnapshotStore.vacuum(spark, t, keepLast = 1)
    assert(SnapshotStore.commitTimes(spark, t).map(_._1) === Seq(2))
    intercept[IllegalArgumentException](n(150L))
    assert(n(200L) === 2L)
  }

  test("q253 drift audit: roundtrip is lossless and drifts point the " +
       "right way") {
    val rows = SnapshotStore.q253SnapshotDrift(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet ===
      Set("o_custkey", "o_orderpriority", "o_totalprice"))
    // v2 admits the k % 6 rows v1 excluded: every column gains rows
    rows.values.foreach { r =>
      assert(r.getLong(2) > r.getLong(1), s"${r.getString(0)} n did not grow")
    }
    // only the priority column drifts to null, and only in v2
    assert(rows("o_orderpriority").getLong(3) === 0L)
    assert(rows("o_orderpriority").getLong(4) > 0L)
    assert(rows("o_custkey").getLong(4) === 0L)
    assert(rows("o_totalprice").getLong(4) === 0L)
    // the 10 % inflation plus the admitted rows push the money total up
    assert(rows("o_totalprice").getLong(8) > rows("o_totalprice").getLong(7))
    // roundtrip losslessness: the store's v2 read equals the derivation
    val t = SnapshotStore.fixturePath("drift", sfDir)
    val base = Tables.orders(spark, sfDir).select(col("o_orderkey").as("k"),
      col("o_custkey"), col("o_orderpriority"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val v2 = base.where(col("k") % 3 =!= 0 || col("k") % 6 === 0)
      .withColumn("o_orderpriority",
        when(col("k") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderpriority")))
      .withColumn("cents",
        when(col("k") % 5 === 0, col("cents") + expr("cents div 10"))
          .otherwise(col("cents")))
    val stored = SnapshotStore.read(spark, t, Some(2))
    assert(stored.count() === v2.count())
    assert(stored.exceptAll(v2).isEmpty && v2.exceptAll(stored).isEmpty)
  }

  test("deletion vectors compose with stats-pruned and bloom reads: " +
       "pruning skips files, the DV anti-join still applies") {
    val t = freshTable("dv-pruned")
    val base = spark.range(40)
      .select(col("id"), (col("id") * 10).as("pay"),
              (col("id") / 10).cast("long").as("b"))
      .repartition(4, col("b"))
    SnapshotStore.publish(base, t, partitionBy = Seq("b"),
      bloomCols = Seq("id"))
    SnapshotStore.dvDelete(spark, t, "id", Seq(12L, 15L, 37L))
    // range read: bucket 1 only (ids 10..19); DV must still suppress
    val pr = SnapshotStore.readBetween(spark, t, None, "id", 10L, 19L)
    assert(pr.filesKept < pr.filesTotal, "range stats must prune files")
    assert(pr.df.select("id").as[Long].collect().toSet
      === (10L to 19L).toSet -- Set(12L, 15L))
    // bloom point read: a deleted id resolves to ZERO rows, a live one
    // to its row — through the same pruned path
    val dead = SnapshotStore.readPoint(spark, t, None, "id", Seq(37L))
    assert(dead.df.count() === 0L, "bloom read resurrected a DV-deleted row")
    val live = SnapshotStore.readPoint(spark, t, None, "id", Seq(36L))
    assert(live.df.select("id").as[Long].collect().toSeq === Seq(36L))
  }

  test("merge-on-read MERGE: zero data files rewrite, matched rows read " +
       "back updated exactly once, inserts land, time travel clean") {
    val t = freshTable("mor")
    val base = spark.range(40)
      .select(col("id"), (col("id") * 10).as("pay"),
              (col("id") / 10).cast("long").as("b"))
      .repartition(4, col("b"))
    SnapshotStore.publish(base, t, partitionBy = Seq("b"))
    val f = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def v1Files: Set[String] = {
      val it = f.listFiles(new Path(t, "snap-v00001"), true)
      val buf = Set.newBuilder[String]
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.endsWith(".parquet")
            && !p.getParent.getName.startsWith("_")) buf += p.toString
      }
      buf.result()
    }
    val before = v1Files
    // updates: ids 3, 17 (buckets 0, 1); inserts: ids 100, 101 (bucket 10)
    val src = Seq((3L, -30L, 0L), (17L, -170L, 1L),
                  (100L, 1000L, 10L), (101L, 1010L, 10L))
      .toDF("id", "pay", "b")
    val st = SnapshotStore.mergeMoR(spark, t, src, Seq("id"))
    assert(st.version === 2 && st.filesWithDv === 2
      && st.rowsSuppressed === 2L && st.rowsAppended === 4L,
      s"unexpected $st")
    assert(v1Files === before, "MoR merge must not touch v1 data files")
    val got = SnapshotStore.read(spark, t).select("id", "pay")
      .as[(Long, Long)].collect()
    assert(got.length === 42, "40 base - 2 suppressed + 4 appended")
    val byId = got.toMap
    assert(byId.size === 42, "a matched id must appear exactly once")
    assert(byId(3L) === -30L && byId(17L) === -170L, "updates must win")
    assert(byId(100L) === 1000L && byId(101L) === 1010L, "inserts must land")
    assert(byId(5L) === 50L, "unmatched base rows untouched")
    assert(SnapshotStore.countOf(spark, t, 2) === 42L)
    // time travel: v1 serves the pre-merge image
    assert(SnapshotStore.read(spark, t, Some(1)).count() === 40L)
    assert(SnapshotStore.read(spark, t, Some(1)).where(col("id") === 3)
      .select("pay").as[Long].head() === 30L)
    // CDC: 2 updates + 2 inserts, zero deletes
    val d = SnapshotStore.diff(spark, t, 1, 2, Seq("id"))
      .groupBy("change_type").count().as[(String, Long)].collect().toMap
    assert(d.get("update").contains(2L) && d.get("insert").contains(2L)
      && !d.contains("delete"), s"unexpected CDC census $d")
    // second MoR wave re-touches bucket 0 (cumulative DV union) and
    // re-updates an already-updated id (idempotent via live-row scan)
    val st2 = SnapshotStore.mergeMoR(spark, t,
      Seq((3L, -31L, 0L), (8L, -80L, 0L)).toDF("id", "pay", "b"), Seq("id"))
    assert(st2.rowsSuppressed === 2L && st2.filesWithDv >= 1)
    assert(v1Files === before)
    val byId2 = SnapshotStore.read(spark, t).select("id", "pay")
      .as[(Long, Long)].collect().toMap
    assert(byId2.size === 42 && byId2(3L) === -31L && byId2(8L) === -80L)
    // compaction materializes every DV; rows unchanged
    SnapshotStore.compact(spark, t, 2)
    val mf = scala.io.Source.fromInputStream(
      f.open(new Path(t, "_snapshots/v00004.manifest")), "UTF-8")
      .getLines().mkString("\n")
    assert(!mf.contains("dv:"), "compaction must materialize MoR DVs")
    assert(SnapshotStore.read(spark, t).select("id", "pay")
      .as[(Long, Long)].collect().toMap === byId2)
    // vacuum: the retained v3 manifest's DV dirs survive, reads stay green
    SnapshotStore.vacuum(spark, t, keepLast = 2)
    assert(SnapshotStore.versions(spark, t) === Seq(3, 4))
    assert(SnapshotStore.read(spark, t, Some(3)).count() === 42L)
  }

  test("merge-on-read MERGE: add-column schema evolution appends wide " +
       "files, carried files null-fill; duplicate source keys rejected") {
    val t = freshTable("mor-evolve")
    SnapshotStore.publish(
      spark.range(10).select(col("id"), (col("id") * 10).as("pay")), t)
    val src = Seq((4L, -40L, "x"), (20L, 200L, "y"))
      .toDF("id", "pay", "tag")
    val st = SnapshotStore.mergeMoR(spark, t, src, Seq("id"))
    assert(st.rowsSuppressed === 1L && st.rowsAppended === 2L)
    val byId = SnapshotStore.read(spark, t).select("id", "pay", "tag")
      .collect().map(r => r.getLong(0) -> (r.getLong(1),
        Option(r.getString(2)))).toMap
    assert(byId.size === 11)
    assert(byId(4L) === ((-40L, Some("x"))) && byId(20L) === ((200L, Some("y"))))
    assert(byId(5L) === ((50L, None)), "carried narrow file must null-fill")
    intercept[IllegalArgumentException] {
      SnapshotStore.mergeMoR(spark, t,
        Seq((1L, 1L, "a"), (1L, 2L, "b")).toDF("id", "pay", "tag"),
        Seq("id"))
    }
  }

  test("autoCluster materializes THROUGH deletion vectors: clustered " +
       "files hold only live rows, the dv refs shed, and no deleted " +
       "row resurrects") {
    val t = freshTable("autocluster-dv")
    SnapshotStore.publish(
      spark.range(0, 1000).select(col("id").as("k"),
        (col("id") * 3).as("pay")).coalesce(1), t)
    SnapshotStore.autoCluster(spark, t, "k", 4)
    // an append lands, then a DV delete suppresses part of it (and
    // part of the clustered base — carried files keep their DVs)
    SnapshotStore.applyCdcVersion(spark, t,
      spark.range(1000, 1200).select(col("id").as("k"),
        (col("id") * 3).as("pay"), lit("I").as("op")).coalesce(1),
      Seq("k"), "op", 3)
    SnapshotStore.dvDelete(spark, t, "k",
      (1000L until 1050L) ++ Seq(5L, 7L))
    // recluster: the appended file (v3) rewrites DV-applied; the
    // clustered base (≤ epoch 2) carries WITH its dv ref intact
    val st = SnapshotStore.autoCluster(spark, t, "k", 4)
    assert(st.filesCarried === 4 && st.filesRewritten === 1 &&
      st.rowsClustered === 150L,
      s"rewrite must materialize only LIVE appended rows, got $st")
    val live = SnapshotStore.read(spark, t).select("k").as[Long]
      .collect().toSet
    assert(live.size === 1148)
    assert(!live.contains(1000L) && !live.contains(5L) && !live.contains(7L),
      "no deleted row may resurrect through the rewrite")
    assert(live.contains(1050L) && live.contains(6L))
    // the carried base still reads through its DV (5 and 7 suppressed)
    assert(SnapshotStore.read(spark, t).where(col("k") < 1000L)
      .count() === 998L)
  }

  // ─── conflict matrix: DETERMINISTIC commit races via commitTestHook ──
  // Each case injects a competing committer at the loser's exclusive-
  // create point, so writer A stages against version v, writer B
  // commits v+1 in between, and A's lost-race path recomputes against
  // B's result — the serializable outcome the matrix promises, checked
  // by exact final row sets (no lost rows, no resurrection) and intact
  // schema/colmap.
  private def injectOnce(b: => Unit): Unit =
    SnapshotStore.commitTestHook = () => {
      SnapshotStore.commitTestHook = () => ()
      b
    }

  test("conflict matrix: dvDelete loses a deterministic race to " +
       "autoCompactDv on the SAME files and recomputes its tombstones " +
       "against the compacted layout") {
    val t = freshTable("race-dv-ac")
    SnapshotStore.publish(
      spark.range(300)
        .select(col("id"), (col("id") % 3).as("b"), (col("id") * 7).as("pay"))
        .repartition(3, col("b")),
      t, partitionBy = Seq("b"))
    val b0 = (0L until 300L).filter(_ % 3 == 0)
    SnapshotStore.applyCdcVersion(spark, t,
      spark.range(300)
        .select(col("id"), (col("id") % 3).as("b"), (col("id") * 7).as("pay"))
        .where(col("id").isin(b0.take(40): _*))
        .withColumn("op", lit("D")),
      Seq("id"), "op", 2)
    // dvDelete targets 10 SURVIVORS of bucket 0 — exactly the rows the
    // injected compaction rewrites into a fresh file
    val more = b0.slice(40, 50)
    injectOnce { SnapshotStore.autoCompactDv(spark, t, thresholdBp = 2500L) }
    val st = SnapshotStore.dvDelete(spark, t, "id", more)
    SnapshotStore.commitTestHook = () => ()
    assert(st.version === 4,
      s"loser must land AFTER the injected compaction, got $st")
    // sequential outcome: compaction preserved 260 live, then 10 deleted
    assert(SnapshotStore.read(spark, t, Some(3)).count() === 260L,
      "the compaction winner's version must stay fully readable")
    val live = SnapshotStore.read(spark, t).select("id").as[Long]
      .collect().toSet
    assert(live.size === 250)
    assert((b0.take(50)).forall(!live.contains(_)), "no resurrection")
    assert(live.contains(b0(50)) && live.contains(1L), "no lost rows")
  }

  test("conflict matrix: deleteBetween loses a deterministic race to " +
       "mergeMoR and deletes from the MERGED table — the sequential " +
       "outcome") {
    val t = freshTable("race-del-mor")
    SnapshotStore.publish(
      spark.range(100).select(col("id"), (col("id") * 10).as("pay")), t)
    // the merge inserts id 150 (inside the delete range!) and updates
    // id 10; the losing deleteBetween must delete the merged 150 too
    injectOnce {
      SnapshotStore.mergeMoR(spark, t,
        Seq((150L, -1L), (10L, 999L)).toDF("id", "pay"), Seq("id"))
    }
    val st = SnapshotStore.deleteBetween(spark, t, "id", 90L, 160L)
    SnapshotStore.commitTestHook = () => ()
    assert(st.version === 3,
      s"loser must land after the injected merge, got $st")
    val rows = SnapshotStore.read(spark, t).select("id", "pay")
      .as[(Long, Long)].collect().toMap
    assert(rows.keySet === (0L until 90L).toSet,
      "merged-in id 150 and base ids 90..99 must ALL be deleted")
    assert(rows(10L) === 999L, "the merge winner's update must survive")
    assert(rows(5L) === 50L)
    // the winner's intermediate version stays readable
    assert(SnapshotStore.read(spark, t, Some(2)).count() === 101L)
  }

  test("conflict matrix: renameColumn loses a deterministic race to a " +
       "data writer and re-applies on the merged table; colmap and " +
       "old-file reads stay intact") {
    val t = freshTable("race-rename-merge")
    SnapshotStore.publish(
      spark.range(10).select(col("id"), (col("id") * 3).as("v")), t)
    injectOnce {
      SnapshotStore.mergeUpsert(spark, t,
        Seq((200L, 999L)).toDF("id", "v"), Seq("id"))
    }
    val st = SnapshotStore.renameColumn(spark, t, "v", "score")
    SnapshotStore.commitTestHook = () => ()
    assert(st.version === 3,
      s"rename must land after the injected merge, got $st")
    assert(SnapshotStore.read(spark, t).columns.toSeq === Seq("id", "score"))
    val byId = SnapshotStore.read(spark, t).select("id", "score")
      .as[(Long, Long)].collect().toMap
    assert(byId.size === 11 && byId(200L) === 999L && byId(3L) === 9L,
      "the merge's rows must read under the renamed column")
    // time travel below the rename still serves the OLD name
    assert(SnapshotStore.read(spark, t, Some(2)).columns.toSeq
      === Seq("id", "v"))
    // the mapping stays live for later writers (physical resolution)
    SnapshotStore.dvDelete(spark, t, "id", Seq(3L))
    assert(SnapshotStore.read(spark, t).count() === 10L)
  }

  test("conflict matrix: autoCluster loses a deterministic race to an " +
       "append and re-clusters INCLUDING the appended file") {
    val t = freshTable("race-cluster-append")
    SnapshotStore.publish(
      spark.range(0, 1000).select(col("id").as("k"),
        (col("id") * 3).as("pay")).coalesce(1), t)
    injectOnce {
      SnapshotStore.applyCdcVersion(spark, t,
        spark.range(1000, 1100).select(col("id").as("k"),
          (col("id") * 3).as("pay"), lit("I").as("op")).coalesce(1),
        Seq("k"), "op", 2)
      ()
    }
    val st = SnapshotStore.autoCluster(spark, t, "k", 4)
    SnapshotStore.commitTestHook = () => ()
    assert(st.version === 3 && st.filesRewritten === 2 &&
      st.rowsClustered === 1100L,
      s"the losing cluster job must re-cluster BOTH files, got $st")
    assert(SnapshotStore.read(spark, t).count() === 1100L)
    assert(SnapshotStore.refOf(spark, t, "layout-epoch") === Some(3))
  }

  test("autoCluster is INCREMENTAL: the epoch ref gates which files " +
       "rewrite, a run with no appends is a no-op, clustered files " +
       "carry by reference, and partitioned layouts are rejected") {
    val t = freshTable("autocluster")
    SnapshotStore.publish(
      spark.range(0, 1000).select(col("id").as("k"),
        (col("id") * 3).as("pay")).coalesce(1), t)
    val st = SnapshotStore.autoCluster(spark, t, "k", 4)
    assert(st.version === 2 && st.filesRewritten === 1 &&
      st.filesStaged === 4 && st.filesCarried === 0 &&
      st.rowsClustered === 1000L, s"got $st")
    assert(SnapshotStore.refOf(spark, t, "layout-epoch") === Some(2))
    // the layout is tight: a 250-wide key span touches exactly 1 file
    // plus at most a boundary neighbour
    val touched = SnapshotStore.statsOf(spark, t, 2).count {
      case (_, m) => m.get("k").exists { case (a, b) => b >= 100 && a <= 200 }
    }
    assert(touched === 1, s"clustered read must prune to 1 file, got $touched")
    // no appends since the epoch: the job commits NOTHING
    val st2 = SnapshotStore.autoCluster(spark, t, "k", 4)
    assert(st2.version === 2 && st2.filesRewritten === 0 &&
      st2.filesCarried === 4, s"no-op run must not commit, got $st2")
    assert(SnapshotStore.versions(spark, t) === Seq(1, 2))
    // an append decays the layout; the next run rewrites ONLY it
    SnapshotStore.applyCdcVersion(spark, t,
      spark.range(1000, 1100).select(col("id").as("k"),
        (col("id") * 3).as("pay"), lit("I").as("op")).coalesce(1),
      Seq("k"), "op", 3)
    val st3 = SnapshotStore.autoCluster(spark, t, "k", 4)
    assert(st3.version === 4 && st3.filesCarried === 4 &&
      st3.filesRewritten === 1 && st3.rowsClustered === 100L, s"got $st3")
    assert(SnapshotStore.refOf(spark, t, "layout-epoch") === Some(4))
    assert(SnapshotStore.read(spark, t).count() === 1100L)
    // carried lines still reference the v2 cluster dirs (zero rewrite)
    val v4lines = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t, "_snapshots", "v00004.manifest")), UTF_8)
    assert(v4lines.contains("snap-v00002-cl"),
      "clustered files must carry by reference")
    // hive-partitioned layouts are rejected loudly
    val t2 = freshTable("autocluster-part")
    SnapshotStore.publish(
      spark.range(100).select(col("id").as("k"), (col("id") % 4).as("b")),
      t2, partitionBy = Seq("b"))
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.autoCluster(spark, t2, "k", 4)
    }
    assert(e.getMessage.contains("partitioned"))
  }

  test("a NON-race I/O failure at the commit point surfaces as itself " +
       "on attempt 1 — never retried into 'lost N commit races'") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faultfs.impl", classOf[FaultInjectFs].getName)
    val t = "faultfs://" +
      sys.props("java.io.tmpdir") + "/graft-snapspec/fault-io"
    val p = new Path(t)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    SnapshotStore.publish(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t)
    assert(SnapshotStore.versions(spark, t) === Seq(1))
    // armed: the manifest create fails with a PLAIN IOException. The
    // old broad catch would have retried publish forever (and the
    // attempt-counted writers would have died as "lost 8 commit
    // races"); the narrow catch surfaces the failure as itself.
    FaultInjectFs.armed.set(true)
    try {
      val e = intercept[java.io.IOException] {
        SnapshotStore.publish(Seq((3L, "c")).toDF("id", "s"), t)
      }
      assert(e.getMessage.contains("injected"), s"got: ${e.getMessage}")
      // a metadata-only writer (attempt-counted) must ALSO surface it
      val e2 = intercept[java.io.IOException] {
        SnapshotStore.renameColumn(spark, t, "s", "s2")
      }
      assert(e2.getMessage.contains("injected"), s"got: ${e2.getMessage}")
      assert(!e2.getMessage.contains("commit races"))
    } finally FaultInjectFs.armed.set(false)
    // nothing committed during the outage; disarmed, the table resumes
    assert(SnapshotStore.versions(spark, t) === Seq(1))
    assert(SnapshotStore.publish(Seq((3L, "c")).toDF("id", "s"), t) === 2)
    assert(SnapshotStore.read(spark, t).as[(Long, String)].collect().toSet
      === Set((3L, "c")))
  }

  test("column-mapping names containing manifest delimiters are " +
       "rejected BEFORE any manifest write") {
    val t = freshTable("colmap-delims")
    SnapshotStore.publish(
      spark.range(10).select(col("id"), (col("id") * 3).as("v")), t)
    Seq("a,b", "a:b", "a\tb").foreach { bad =>
      val e = intercept[IllegalArgumentException] {
        SnapshotStore.renameColumn(spark, t, "v", bad)
      }
      assert(e.getMessage.contains("delimiter"), s"got: ${e.getMessage}")
    }
    // nothing committed — the guard fires before the exclusive create
    assert(SnapshotStore.versions(spark, t) === Seq(1))
    // a mapping-ACTIVE widening with a delimiter name is rejected too
    SnapshotStore.renameColumn(spark, t, "v", "score")
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.mergeUpsert(spark, t,
        spark.range(2).select(col("id"), (col("id") * 5).as("score"),
          lit(1L).as("x:y")), Seq("id"))
    }
    assert(e.getMessage.contains("delimiter"))
    assert(SnapshotStore.versions(spark, t) === Seq(1, 2))
    // clean names still evolve freely
    val st = SnapshotStore.mergeUpsert(spark, t,
      spark.range(2).select(col("id"), (col("id") * 5).as("score"),
        lit(1L).as("xy")), Seq("id"))
    assert(st.version === 3)
    assert(SnapshotStore.read(spark, t).columns.toSeq
      === Seq("id", "score", "xy"))
  }

  test("autoCompactDv stages into a WRITER-UNIQUE snap dir (race-free " +
       "staging AND cleanup); vacuum expires it with its version") {
    val t = freshTable("ac-unique-dir")
    SnapshotStore.publish(
      spark.range(300)
        .select(col("id"), (col("id") % 3).as("b"), (col("id") * 7).as("pay"))
        .repartition(3, col("b")),
      t, partitionBy = Seq("b"))
    val b0 = (0L until 300L).filter(_ % 3 == 0)
    SnapshotStore.applyCdcVersion(spark, t,
      spark.range(300)
        .select(col("id"), (col("id") % 3).as("b"), (col("id") * 7).as("pay"))
        .where(col("id").isin(b0.take(40): _*))
        .withColumn("op", lit("D")),
      Seq("id"), "op", 2)
    val st = SnapshotStore.autoCompactDv(spark, t, thresholdBp = 2500L)
    assert(st.version === 3 && st.filesMaterialized === 1)
    val f = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val acDirs = f.listStatus(new Path(t)).toSeq.map(_.getPath.getName)
      .filter(_.matches("snap-v00003-ac[0-9a-f]{8}"))
    assert(acDirs.size === 1,
      s"the rewrite must stage under its own snap-v00003-ac* dir, got " +
        f.listStatus(new Path(t)).toSeq.map(_.getPath.getName).toString)
    // the unique dir is a clean hive basePath: the partition column
    // reads back and live rows are intact
    assert(SnapshotStore.read(spark, t).count() === 260L)
    assert(SnapshotStore.read(spark, t)
      .where(col("b") === 0).count() === 60L)
    // a later full publish supersedes it; vacuum expires the ac dir
    // along with its version's manifest
    SnapshotStore.publish(SnapshotStore.read(spark, t), t)
    SnapshotStore.vacuum(spark, t, keepLast = 1)
    assert(!f.exists(new Path(t, acDirs.head)),
      "vacuum must expire the unique staging dir with its version")
    assert(SnapshotStore.read(spark, t).count() === 260L)
  }

  test("footer-stats publish ≡ read-back-scan stats (r15 fast path): " +
      "ints, negatives, per-file all-null, partition dirs, null partition") {
    // The r15 publish fast path derives count + integral min/max from
    // the parquet FOOTERS; a publish with bloom columns still runs the
    // read-back scan. Publishing the SAME frame through both paths must
    // commit byte-equivalent stats and counts — per file, in order
    // (identical repartition ⇒ identical part-index layout, and
    // statsOf/listing order is sorted by path, i.e. by part index).
    def statsSeq(t: String) =
      SnapshotStore.statsOf(spark, t, 1).map(_._2)
    val df = spark.range(0, 400).toDF("id")
      .withColumn("neg", (lit(100L) - col("id") * 3).cast("bigint"))
      .withColumn("small", (col("id") % 7).cast("int"))
      .withColumn("v",
        when(col("id") < 200, col("id")).otherwise(lit(null)).cast("bigint"))
      .withColumn("s", concat(lit("r-"), col("id")))
      .withColumn("b", floor(col("id") / 100))
      .repartition(8, col("b")).drop("b")
    val t1 = freshTable("footer-plain")
    val t2 = freshTable("footer-scan")
    SnapshotStore.publish(df, t1)                        // footer path
    SnapshotStore.publish(df, t2, bloomCols = Seq("s"))  // scan twin
    assert(SnapshotStore.countOf(spark, t1, 1)
      === SnapshotStore.countOf(spark, t2, 1))
    assert(statsSeq(t1) === statsSeq(t2))
    assert(statsSeq(t1).exists(_.get("neg").exists(_._1 < 0L)),
      "negative min must survive the footer path")
    assert(statsSeq(t1).exists(m => !m.contains("v")),
      "an all-null file column must contribute no stats on both paths")
    // partitioned layout incl. a NULL partition value
    val pdf = spark.range(0, 300).toDF("id")
      .withColumn("p",
        when(col("id") % 3 === 2, lit(null)).otherwise(col("id") % 3)
          .cast("bigint"))
      .withColumn("s", concat(lit("x-"), col("id")))
    val t3 = freshTable("footer-part")
    val t4 = freshTable("footer-part-scan")
    SnapshotStore.publish(pdf, t3, partitionBy = Seq("p"))
    SnapshotStore.publish(pdf, t4, bloomCols = Seq("s"),
      partitionBy = Seq("p"))
    assert(SnapshotStore.countOf(spark, t3, 1)
      === SnapshotStore.countOf(spark, t4, 1))
    assert(statsSeq(t3) === statsSeq(t4))
    assert(statsSeq(t3).exists(_.get("p").exists(mm => mm._1 === mm._2)),
      "partition-dir min=max stats must survive the footer path")
    assert(statsSeq(t3).exists(m => !m.contains("p")),
      "the NULL partition dir must contribute no p stats on both paths")
    // and the committed tables read back identically
    assert(SnapshotStore.read(spark, t3).select("id", "s")
      .as[(Long, String)].collect().toSet
      === SnapshotStore.read(spark, t4).select("id", "s")
        .as[(Long, String)].collect().toSet)
  }

  test("manifest-schema read ≡ inferred-schema read (widened, colmap, " +
       "NULL partition dir, DV, zero files); read launches no job; no " +
       "_SUCCESS; the listing walk ≡ listFiles") {
    val sc = spark.sparkContext
    val f = new Path(freshTable("mschema")).getFileSystem(sc.hadoopConfiguration)
    // 1. widened: carried narrow files must read the new column as NULL
    val tw = freshTable("mschema-widen")
    SnapshotStore.publish(spark.range(0, 40)
      .select(col("id"), concat(lit("s"), col("id")).as("s")).repartition(4), tw)
    SnapshotStore.mergeUpsert(spark, tw,
      Seq((3L, "u3", 30), (100L, "n100", 1000)).toDF("id", "s", "extra"), Seq("id"))
    val extra = SnapshotStore.read(spark, tw).select("id", "extra")
      .as[(Long, Option[Int])].collect().toMap
    assert(extra(3L) === Some(30) && extra(100L) === Some(1000))
    assert(extra(10L).isEmpty, "a carried file must read the widened column as NULL")
    // 2. colmap: rename + drop, then a re-add that must not resurrect
    //    the dropped column's old bytes
    val tc = freshTable("mschema-colmap")
    SnapshotStore.publish(Seq((1L, "a1", 10), (2L, "a2", 20)).toDF("id", "a", "b"), tc)
    SnapshotStore.renameColumn(spark, tc, "a", "a2")
    SnapshotStore.dropColumn(spark, tc, "b")
    SnapshotStore.mergeUpsert(spark, tc,
      Seq((3L, "x3", 33)).toDF("id", "a2", "b"), Seq("id"))
    assert(SnapshotStore.read(spark, tc).select("id", "a2", "b")
      .as[(Long, String, Option[Int])].collect().toSet ===
      Set((1L, "a1", None), (2L, "a2", None), (3L, "x3", Some(33))))
    // 3. hive partitions with a NULL partition dir; the merge stages a
    //    dir holding ONLY the NULL partition
    val tp = freshTable("mschema-part")
    SnapshotStore.publish(spark.range(0, 60).select(col("id"),
      when(col("id") % 3 === 2, lit(null)).otherwise(col("id") % 3)
        .cast("int").as("p"),
      concat(lit("x"), col("id")).as("s")), tp, partitionBy = Seq("p"))
    SnapshotStore.mergeUpsert(spark, tp,
      Seq((2L, Option.empty[Int], "u2")).toDF("id", "p", "s"), Seq("id"))
    // 4. a deletion vector
    val td = freshTable("mschema-dv")
    SnapshotStore.publish(spark.range(0, 50).toDF("id")
      .withColumn("s", concat(lit("d"), col("id"))).repartition(3), td)
    SnapshotStore.dvDelete(spark, td, "id", Seq(4L, 17L, 33L))
    assert(SnapshotStore.read(spark, td).count() === 47)
    // 5. zero-file versions: an empty publish, and a delete of every row
    val tz = freshTable("mschema-empty")
    SnapshotStore.publish(Seq((1L, "a")).toDF("id", "s").where(lit(false)), tz)
    SnapshotStore.publish(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), tz)
    SnapshotStore.deleteBetween(spark, tz, "id", 0L, 10L)
    assert(SnapshotStore.statsOf(spark, tz, 1).isEmpty &&
      SnapshotStore.statsOf(spark, tz, 3).isEmpty, "zero-file versions expected")

    val tables = Seq(tw, tc, tp, td, tz)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq.sorted
    for (t <- tables; v <- SnapshotStore.versions(spark, t)) {
      val got = SnapshotStore.read(spark, t, Some(v))
      val twin = SnapshotStore.readInferred(spark, t, Some(v))
      assert(got.schema === twin.schema, s"$t v$v: schema")
      assert(rows(got) === rows(twin), s"$t v$v: rows")
    }

    // read builds its frame without a Spark job (no schema inference);
    // the inferred twin is the probe's positive control. Jobs are keyed
    // by a thread-local property; a sentinel job flushes the bus.
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val probe = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("snapspec.probe")))
          // a job's result stage is named after its call site
          .foreach(tag => seen.add(tag -> e.stageInfos.maxBy(_.stageId).name))
    }
    def jobsOf(tag: String)(body: => Unit): Seq[String] = {
      import scala.jdk.CollectionConverters._
      seen.clear()
      sc.setLocalProperty("snapspec.probe", tag)
      try body finally sc.setLocalProperty("snapspec.probe", "sentinel")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("snapspec.probe", null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_._1 == "sentinel") &&
          System.nanoTime() < deadline) Thread.sleep(2)
      assert(seen.asScala.exists(_._1 == "sentinel"), "sentinel job never arrived")
      seen.asScala.toSeq.collect { case (`tag`, site) => site }
    }
    sc.addSparkListener(probe)
    try {
      assert(jobsOf("read") { tables.foreach(t => SnapshotStore.read(spark, t)) }
        === Nil, "read must not launch a job before the caller's action")
      val inferred = jobsOf("inferred") { SnapshotStore.readInferred(spark, tw) }
      assert(inferred.nonEmpty && inferred.forall(_.startsWith("parquet at")),
        s"the twin infers, one job per snap dir: $inferred")
      // a staged write can also be named `parquet at` (a shuffle-free
      // publish's is); any other `parquet at` job is a read's inference
      val writeSites = jobsOf("publish") {
        SnapshotStore.publish(spark.range(5).toDF("id"), freshTable("mschema-site"))
      }.toSet
      val merged = jobsOf("merge") {
        SnapshotStore.mergeUpsert(spark, tp,
          Seq((5L, Option(2), "u5")).toDF("id", "p", "s"), Seq("id"))
      }
      assert(merged.nonEmpty &&
        !merged.exists(s => s.startsWith("parquet at") && !writeSites(s)),
        s"mergeUpsert's key scan must read with the manifest schema: $merged")
    } finally sc.removeSparkListener(probe)

    // staged dirs carry no _SUCCESS marker
    tables.foreach { t =>
      assert(!SnapshotStore.walkFiles(f, new Path(t))
        .exists(_.getPath.getName == "_SUCCESS"), s"_SUCCESS staged under $t")
    }

    // the listStatus walk lists exactly what listFiles lists, on a
    // partitioned layout with _bloom and _dv side files
    val tl = freshTable("mschema-listing")
    SnapshotStore.publish(spark.range(0, 60).select(col("id"),
      when(col("id") % 3 === 2, lit(null)).otherwise(col("id") % 3)
        .cast("int").as("p")), tl, bloomCols = Seq("id"), partitionBy = Seq("p"))
    SnapshotStore.dvDelete(spark, tl, "id", Seq(5L, 7L))
    def listFiles(dir: Path): Seq[Path] = {
      val it = f.listFiles(dir, true)
      val buf = Seq.newBuilder[Path]
      while (it.hasNext) buf += it.next().getPath
      buf.result().sortBy(_.toString)
    }
    val all = listFiles(new Path(tl)).map(_.toString)
    assert(all.exists(_.contains("/_bloom/")) && all.exists(_.contains("/_dv-")),
      s"layout lacks side files: $all")
    assert(SnapshotStore.walkFiles(f, new Path(tl)).map(_.getPath.toString) === all)
    f.listStatus(new Path(tl)).map(_.getPath).filter(_.getName.startsWith("snap-v"))
      .foreach { dir =>
        val old = listFiles(dir).filter(p => p.getName.startsWith("part-") &&
          p.getName.endsWith(".parquet") && !p.getParent.getName.startsWith("_"))
        assert(SnapshotStore.listParquet(f, dir).map(_.getPath) === old, s"$dir")
      }
    assert(SnapshotStore.listParquet(f, new Path(tl, "snap-v00001")).size >= 3)
  }
}

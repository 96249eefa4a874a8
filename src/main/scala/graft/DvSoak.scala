package graft

import graft.sources.SnapshotStore
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Operator-only scale soak for deletion-vector DELETE (q318's claim):
  * "DV deletes are O(touched files), independent of table size."
  *
  * The r10 soak ran q318 END TO END, so its decade-2 exponent (0.895)
  * priced the harness's per-run table PUBLISH — files_total grows
  * linearly with SF (one hive bucket per 100 ids), and staging those
  * files dominates. This main amortizes the publish behind a
  * `_DVSOAK_OK` marker (the `_SOAK_OK` pattern): each SF's bucketed
  * documents table is published ONCE, and the timed section is exactly
  * the operator —
  *   reset table → v1 (untimed: drop manifests/dirs > v1, plain fs ops)
  *   TIMED: dvDelete wave 1 (q318's 12 ids) + dvDelete wave 2 (3 ids,
  *   re-touching bucket 0 — the cumulative-union path) + the b<=5
  *   census read THROUGH the DVs (partition-pruned, anti-join applied)
  * What still grows with SF inside the timed section: the manifest
  * parse (one line per file, linear but tiny), the stats-pruned
  * candidate discovery (driver-side min/max filter over file lines),
  * and countOf's metadata reads. What must NOT grow: the data scanned
  * (stats pin the touched ids to buckets 0–4 at every SF).
  *
  * Usage: `runMain graft.DvSoak <sfDirCsv> <workDir>` — e.g.
  * `/root/testdata/sf0.1,/tmp/soak-sf1,/tmp/soak-sf10 /tmp/dvsoak`.
  * Emits one JSON line with per-SF seconds and per-decade exponents;
  * writes the SOAK sidecar `SOAK_<key>.json` for the curator to merge.
  */
object DvSoak {

  private val Dv1Ids: Seq[Long] = (0 to 11).map(_ * 37L)
  private val Dv2Ids: Seq[Long] = Seq(1L, 2L, 38L)

  /** Publish the q318-shaped table once per SF dir (marker-gated). */
  private def stage(s: SparkSession, sfDir: String, table: String): Unit = {
    val marker = java.nio.file.Paths.get(table, "_DVSOAK_OK")
    if (java.nio.file.Files.exists(marker)) {
      System.err.println(s"[dvsoak] reusing $table"); return
    }
    val tableP = new Path(table)
    tableP.getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(tableP, true)
    val docs = Tables.documents(s, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("b", floor(col("doc_id") / 100))
      .repartition(8, col("b"))
    System.err.println(s"[dvsoak] staging $sfDir -> $table")
    SnapshotStore.publish(docs, table, partitionBy = Seq("b"))
    java.nio.file.Files.createFile(marker)
  }

  /** Drop every version above v1 — manifests first (atomic for readers),
    * then the data/DV dirs. Plain fs ops, runs UNTIMED between passes.
    */
  private def resetToV1(s: SparkSession, table: String): Unit = {
    val tableP = new Path(table)
    val f = tableP.getFileSystem(s.sparkContext.hadoopConfiguration)
    val dirs = f.listStatus(tableP).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
    SnapshotStore.versions(s, table).filter(_ > 1).foreach { v =>
      f.delete(new Path(new Path(table, "_snapshots"), f"v$v%05d.manifest"),
        false)
      // a version's data may live in `snap-vNNNNN` or writer-unique
      // `snap-vNNNNN-*` staging dirs — drop them all
      dirs.filter(n => n == f"snap-v$v%05d" ||
          n.startsWith(f"snap-v$v%05d-"))
        .foreach(n => f.delete(new Path(table, n), true))
    }
  }

  /** The timed section: both delete waves + the census read through
    * the cumulative DVs (q318's read shape, counters omitted).
    */
  private def operator(s: SparkSession, table: String): Unit = {
    SnapshotStore.dvDelete(s, table, "doc_id", Dv1Ids)
    SnapshotStore.dvDelete(s, table, "doc_id", Dv2Ids)
    SnapshotStore.read(s, table)
      .where(col("b") <= 5)
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).cast("long").as("chars"))
      .write.format("noop").mode("overwrite").save()
  }

  /** Operator-only CDC apply (q328's applyCdcVersion with a FIXED
    * 18-row batch): where the q328 fixture's waves grow WITH the corpus
    * (rows_suppressed ∝ documents — its near-1 decade exponents price
    * the fixture, by design), this holds the batch constant so the
    * exponent prices exactly the claim "one micro-batch costs O(batch +
    * touched files), not O(table)". Deletes/updates hit ids < 500
    * (stats-pruned to buckets 0–4 at every SF); inserts land at +1e6.
    */
  private def cdcOperator(s: SparkSession, table: String): Unit = {
    import s.implicits._
    val batch =
      (Dv1Ids.map(id => (id, "en", 100L, id / 100, "D")) ++
       Seq(5L, 410L, 233L).map(id => (id, "en", 777L, id / 100, "U")) ++
       Seq(1000001L, 1000002L, 1000003L)
         .map(id => (id, "en", 50L, 10000L, "I")))
        .toDF("doc_id", "lang", "n_chars", "b", "op")
        .repartition(4, col("b"))
    SnapshotStore.applyCdcVersion(s, table, batch, Seq("doc_id"), "op", 2)
    SnapshotStore.read(s, table)
      .where(col("b") <= 5 || col("b") === 10000L)
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).cast("long").as("chars"))
      .write.format("noop").mode("overwrite").save()
  }

  /** Operator-only DV AUTO-COMPACTION (q337's autoCompactDv): the two
    * delete waves leave bucket 0 with 13 of its 100 rows suppressed
    * (13% ≥ the 10% threshold) and buckets 1–4 under it, so the policy
    * must census every DV'd file (5 footers + one DV-sized aggregate —
    * CONSTANT across SF: the waves only ever touch buckets 0–4) and
    * materialize exactly bucket 0's file (constant bytes — buckets are
    * 100 ids wide at every SF). What grows: the manifest parse/write
    * (one line per file, linear but tiny). The waves run UNTIMED as
    * prep; the timed section is the policy + census read.
    */
  private def compactOperator(s: SparkSession, table: String): Unit = {
    SnapshotStore.autoCompactDv(s, table, thresholdBp = 1000L)
    SnapshotStore.read(s, table)
      .where(col("b") <= 5)
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).cast("long").as("chars"))
      .write.format("noop").mode("overwrite").save()
  }

  /** Second fixed CDC wave for the FEED chain: deletes the first wave's
    * inserts, updates 3 more low ids — constant size at every SF, and
    * cross-step interactions (insert then delete) so the fold exercises
    * the order-independent algebra, not just disjoint deltas.
    */
  private def cdcWave2(s: SparkSession, table: String): Unit = {
    import s.implicits._
    val batch =
      (Seq(1000001L, 1000002L, 1000003L)
         .map(id => (id, "en", 0L, 10000L, "D")) ++
       Seq(7L, 113L, 301L).map(id => (id, "en", 888L, id / 100, "U")))
        .toDF("doc_id", "lang", "n_chars", "b", "op")
        .repartition(4, col("b"))
    SnapshotStore.applyCdcVersion(s, table, batch, Seq("doc_id"), "op", 3)
    ()
  }

  /** Operator-only FEED CONSUMPTION (q333's claim): changeFeed +
    * retractApply ALONE over a pre-staged constant-delta chain
    * (v1 → v2 → v3, both waves fixed-size). The maintained summary is
    * built from v1 ONCE per SF (untimed — the subscriber owns it long
    * before the steps arrive); the timed section is exactly what a
    * ChangeFeedSource subscriber pays per trigger: derive the 2-step
    * feed from the manifests, read the touched files/DV deltas, fold
    * through the retraction algebra, materialize the merged summary.
    * What grows with SF: the manifest parse (one line per file) and the
    * pre-image position joins' file reads — stats-pinned to the same
    * buckets at every SF. What must NOT grow: rows read (delta-sized)
    * and the merge (|summary| = |langs|). This row replaces q333's
    * decade-2 fixture-publish attribution with a measurement.
    */
  private def feedOperator(s: SparkSession, table: String,
                           summary: DataFrame): Unit = {
    val feed = SnapshotStore.changeFeed(s, table, 1, 3, Seq("doc_id"))
    SnapshotStore.retractApply(summary, feed, Seq("lang"), "n_chars")
      .write.format("noop").mode("overwrite").save()
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DvSoak <sfDirCsv> <workDir>")
    val sfDirs = args(0).split(",").toSeq
    val workDir = args(1)
    val passes = sys.env.getOrElse("SPARK_GRAFT_SOAK_PASSES", "3").toInt
    val spark = Session.local()

    val secs = sfDirs.map { sfDir =>
      val key = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val table = s"$workDir/dv-$key"
      stage(spark, sfDir, table)
      resetToV1(spark, table); operator(spark, table) // warm-up, untimed
      val t = (1 to passes).map { _ =>
        resetToV1(spark, table)
        val t0 = System.nanoTime()
        operator(spark, table)
        (System.nanoTime() - t0) / 1e9
      }.min
      resetToV1(spark, table); cdcOperator(spark, table) // warm-up
      val tc = (1 to passes).map { _ =>
        resetToV1(spark, table)
        val t0 = System.nanoTime()
        cdcOperator(spark, table)
        (System.nanoTime() - t0) / 1e9
      }.min
      def prepWaves(): Unit = {
        resetToV1(spark, table)
        SnapshotStore.dvDelete(spark, table, "doc_id", Dv1Ids)
        SnapshotStore.dvDelete(spark, table, "doc_id", Dv2Ids)
      }
      prepWaves(); compactOperator(spark, table) // warm-up
      val ta = (1 to passes).map { _ =>
        prepWaves()
        val t0 = System.nanoTime()
        compactOperator(spark, table)
        (System.nanoTime() - t0) / 1e9
      }.min
      // feed consumption: v1 summary built once per SF (untimed), the
      // 2-wave chain re-staged per pass (untimed), feed+fold timed
      val summary = SnapshotStore.read(spark, table, Some(1))
        .groupBy(col("lang"))
        .agg(sum(col("n_chars")).cast("long").as("sum_val"),
             count(lit(1)).as("cnt"))
        .localCheckpoint()
      def prepChain(): Unit = {
        resetToV1(spark, table)
        cdcOperator(spark, table) // wave 1 → v2 (incl. its census read)
        cdcWave2(spark, table)    // wave 2 → v3
      }
      prepChain(); feedOperator(spark, table, summary) // warm-up
      val tf = (1 to passes).map { _ =>
        prepChain()
        val t0 = System.nanoTime()
        feedOperator(spark, table, summary)
        (System.nanoTime() - t0) / 1e9
      }.min
      System.err.println(
        f"[dvsoak] $sfDir: dv $t%.3f s, cdc $tc%.3f s, compact $ta%.3f s, " +
        f"feed $tf%.3f s")
      (sfDir, t, tc, ta, tf)
    }
    def fmt(v: Double) = f"$v%.3f"
    def decadesOf(pick: ((String, Double, Double, Double, Double)) => Double) =
      secs.sliding(2).collect { case Seq(a, b) =>
        val (t0, t1) = (pick(a), pick(b))
        s""""${a._1.split('/').last}_to_${b._1.split('/').last}":""" +
          s"""{"base":${fmt(t0)},"soak":${fmt(t1)},"ratio":${fmt(t1 / t0)},""" +
          s""""exponent":${fmt(math.log(t1 / t0) / math.log(10.0))}}"""
      }.mkString(",")
    def runsOf(pick: ((String, Double, Double, Double, Double)) => Double) =
      secs.map(r => s""""${r._1.split('/').last}":${fmt(pick(r))}""")
        .mkString(",")
    val out =
      s"""{"metric":"dv_operator_soak","passes":$passes,""" +
      s""""dv_delete":{"seconds":{${runsOf(_._2)}},""" +
      s""""decades":{${decadesOf(_._2)}}},""" +
      s""""cdc_apply":{"seconds":{${runsOf(_._3)}},""" +
      s""""decades":{${decadesOf(_._3)}}},""" +
      s""""auto_compact":{"seconds":{${runsOf(_._4)}},""" +
      s""""decades":{${decadesOf(_._4)}}},""" +
      s""""feed_consume":{"seconds":{${runsOf(_._5)}},""" +
      s""""decades":{${decadesOf(_._5)}}}}"""
    val runKey = sys.env.getOrElse("SPARK_GRAFT_SOAK_KEY", "dv_operator")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"SOAK_$runKey.json"), out)
    println(out)
    spark.stop()
  }
}

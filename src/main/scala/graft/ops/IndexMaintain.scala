package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.{ChangeFeedSource, SnapshotStore}

/** THE DURABLE, RESTARTABLE INDEX SUBSCRIBER — the index AS a table.
  *
  * q342 proved the maintenance algebra feed-equivalent inside one batch
  * session; this closes the production loop the r13 verdict named
  * first: a live [[ChangeFeedSource]] StreamingQuery whose foreachBatch
  * applies the delete wave ([[Similarity.nnDeleteWaveKeys]]) and the
  * insert placement ([[Similarity.nnInsertWaveKeys]]) from the feed's
  * rows, then PUBLISHES the maintained k-NN graph as its own snapshot
  * table — version = idxBase + batchId + 1, the q328 exactly-once
  * discipline, so a replayed micro-batch finds its version committed
  * and no-ops, and a RESTARTED subscriber resumes from the last index
  * version instead of retraining from scratch. A sibling META table
  * (one row per index version: source version, action, batch counters,
  * policy decision inputs) advances in lockstep under the same
  * idempotent versioning — it is both the subscriber's restart state
  * (deletes-since-retrain) and the lineage census q344 reads.
  *
  * THE AUTO-FIRING HEALTH POLICY (q340's decision wired into the loop):
  * per batch, deletes-since-retrain accumulate from the feed (a pure
  * counter — no graph scan); live count is a manifest metadata read.
  * When `dels_since · 10⁴ / live` crosses `retrainThresholdBp`, the
  * batch RETRAINS on the survivors (the table read at the feed's end
  * version — survivors as DATA) and publishes that as the next index
  * version, resetting the counter; under the threshold it maintains.
  * Decision and mechanism both land in the meta row, so the lineage
  * shows maintain/…/retrain as data.
  *
  * At 100 TB: per batch the subscriber touches the delta (feed rows),
  * the index (K·n edges — metadata-scale next to the corpus), and
  * column-pruned equi-join reads of the vector table for scoring;
  * admission, live counts and the policy decision are manifest-only.
  * The entry panel's md5 top-[[Similarity.NnEntries]] over live keys is
  * the one full key-column scan — a cheap column-pruned reduce. The
  * retrain arm is the policy's documented mechanism and runs only when
  * the decision fires.
  */
object IndexMaintainer {

  /** One subscription: `vecTable`'s commits after `startVersion` drive
    * the index at `idxTable` (+ lineage at `metaTable`), bootstrapped
    * at `idxBase`. `retrainThresholdBp` arms the health policy;
    * `retrain` maps the survivor KEY frame (column `vec_id`) to a
    * fresh graph and must be set when the policy is armed.
    */
  final case class Config(vecTable: String, idxTable: String,
                          metaTable: String,
                          keyCol: String = "vec_id", embCol: String = "e",
                          startVersion: Int = 1, idxBase: Int = 1,
                          maxVersionsPerTrigger: Int = 1,
                          retrainThresholdBp: Option[Long] = None,
                          retrain: Option[DataFrame => DataFrame] = None) {
    require(retrainThresholdBp.isEmpty || retrain.nonEmpty,
      "an armed health policy needs a retrain function")
  }

  private val MetaCols = Seq("idx_version", "src_version", "action",
    "n_del", "n_ins", "dels_since", "live", "del_bp", "fired")

  private def metaRow(s: SparkSession, idxV: Int, srcV: Long,
                      action: String, nDel: Long, nIns: Long,
                      delsSince: Long, live: Long, delBp: Long,
                      fired: Long): DataFrame = {
    val sp = s; import sp.implicits._
    Seq((idxV.toLong, srcV, action, nDel, nIns, delsSince, live, delBp,
      fired)).toDF(MetaCols: _*)
  }

  /** Publish the base graph as index version `idxBase` with its 'base'
    * meta row — the subscription's starting state. Idempotent like
    * every other publish here.
    */
  def bootstrap(s: SparkSession, cfg: Config, baseGraph: DataFrame): Unit = {
    SnapshotStore.publishVersion(baseGraph.select("u", "v", "bp"),
      cfg.idxTable, cfg.idxBase)
    val live = SnapshotStore.countOf(s, cfg.vecTable, cfg.startVersion)
    SnapshotStore.publishVersion(
      metaRow(s, cfg.idxBase, cfg.startVersion.toLong, "base",
        0L, 0L, 0L, live, 0L, 0L),
      cfg.metaTable, cfg.idxBase)
    ()
  }

  /** One micro-batch of the subscription (the foreachBatch body),
    * exposed for the restart spec. Deterministic from (cfg, batch
    * content, batchId): a crash-replayed batch recomputes the identical
    * graph and finds its versions committed.
    */
  def applyBatch(cfg: Config, batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val idxV = cfg.idxBase + batchId.toInt + 1
    val prevV = cfg.idxBase + batchId.toInt
    val haveEdges = SnapshotStore.versions(s, cfg.idxTable).contains(idxV)
    val haveMeta = SnapshotStore.versions(s, cfg.metaTable).contains(idxV)
    if (haveEdges && haveMeta) return // fully replayed batch: no-op
    val evs = batch.select(col(cfg.keyCol).as("vec_id"),
        col(cfg.embCol).as("e"), col("_change_type").as("ct"),
        col("_commit_version").as("cv"))
      .localCheckpoint()
    val pm = SnapshotStore.read(s, cfg.metaTable, Some(prevV))
      .select("src_version", "dels_since", "live", "fired").head()
    val prevDels = if (pm.getLong(3) == 1L) 0L else pm.getLong(1)
    if (evs.isEmpty) {
      // a data-less step (metadata-only commits admitted): carry the
      // graph verbatim, advance the lineage
      if (!haveEdges)
        SnapshotStore.publishVersion(
          SnapshotStore.read(s, cfg.idxTable, Some(prevV)),
          cfg.idxTable, idxV)
      if (!haveMeta)
        SnapshotStore.publishVersion(
          metaRow(s, idxV, pm.getLong(0), "noop", 0L, 0L, prevDels,
            pm.getLong(2), 0L, 0L),
          cfg.metaTable, idxV)
      return
    }
    // NET EFFECT per key across a (possibly multi-step) batch: presence
    // is decided by the key's LAST commit in the batch; a key deleted
    // then re-inserted re-places, an insert-then-delete never lands
    val lastEv = evs
      .withColumn("mcv", max(col("cv")).over(Window.partitionBy("vec_id")))
      .where(col("cv") === col("mcv"))
    // one per-key net-effect pass feeds the batch counters, the policy
    // input AND the tombstone frame — checkpointed so the downstream
    // consumers are plan stubs, not window recomputes
    val net = lastEv.groupBy("vec_id")
      .agg(max(when(col("ct").isin("insert", "update_postimage"), 1)
        .otherwise(0)).as("present"), max(col("cv")).as("cv"))
      .localCheckpoint()
    val newRows = lastEv
      .where(col("ct").isin("insert", "update_postimage"))
      .select("vec_id", "e").localCheckpoint()
    // ONE action for (feed end version, table-level deletes, inserts) —
    // deletes are keys whose final state is absent, independent of
    // which keys the graph happens to hold
    val cRow = net.agg(max(col("cv")),
      sum(when(col("present") === 0, 1L).otherwise(0L)),
      sum(when(col("present") === 1, 1L).otherwise(0L))).head()
    val srcEnd = cRow.getLong(0).toInt
    val nDel = cRow.getLong(1)
    val nIns = cRow.getLong(2)
    val live = SnapshotStore.countOf(s, cfg.vecTable, srcEnd)
    val delsSince = prevDels + nDel
    val delBp = if (live > 0) delsSince * 10000L / live else Long.MaxValue
    val fired = cfg.retrainThresholdBp.exists(delBp >= _)
    val action = if (fired) "retrain" else "maintain"
    if (!haveEdges) {
      // both wave inputs are referenced from many join branches below —
      // one checkpoint each replaces repeated parquet scans + manifest
      // plans inside every wave materialization. The checkpoint is
      // taken PER ARM (r15): the retrain arm consumes only the key
      // column, so materializing the full embedding column there was
      // pure waste — it now checkpoints the key projection alone.
      val embEndRaw = SnapshotStore.read(s, cfg.vecTable, Some(srcEnd))
        .select(col(cfg.keyCol).as("vec_id"), col(cfg.embCol).as("e"))
      val gFinal =
        if (fired)
          // the policy's mechanism: full retrain on the SURVIVORS —
          // membership as data (the table at the feed's end version)
          cfg.retrain.get(embEndRaw.select("vec_id").localCheckpoint())
        else {
          val embEnd = embEndRaw.localCheckpoint()
          val prevG = SnapshotStore.read(s, cfg.idxTable, Some(prevV))
            .select("u", "v", "bp").localCheckpoint()
          // graph tombstones: every feed-deleted key, plus any batch
          // key the previous graph holds (an update invalidates its
          // placement; re-insertion below re-places it)
          val batchKeys = evs.select("vec_id").distinct()
          val verts = prevG.select(col("u").as("vec_id"))
            .unionAll(prevG.select(col("v").as("vec_id"))).distinct()
          val deleted = net.where(col("present") === 0).select("vec_id")
          val tombs = deleted
            .unionAll(batchKeys.join(verts, Seq("vec_id"), "left_semi"))
            .distinct().select(col("vec_id").as("t")).localCheckpoint()
          val gd = if (tombs.isEmpty) prevG
            else Similarity.nnDeleteWaveKeys(embEnd, prevG, tombs)._1
          if (newRows.isEmpty) gd
          else {
            // entry panel = the live set BEFORE the inserts (end-state
            // keys minus the batch's post-images) — feed-adjusted data
            val entries = Similarity.nnEntriesFrom(
              embEnd.select("vec_id")
                .join(newRows.select("vec_id"), Seq("vec_id"), "left_anti"))
            Similarity.nnInsertWaveKeys(embEnd, gd, newRows, entries)
          }
        }
      SnapshotStore.publishVersion(gFinal.select("u", "v", "bp"),
        cfg.idxTable, idxV)
    }
    if (!haveMeta)
      SnapshotStore.publishVersion(
        metaRow(s, idxV, srcEnd.toLong, action, nDel, nIns, delsSince,
          live, delBp, if (fired) 1L else 0L),
        cfg.metaTable, idxV)
    ()
  }

  /** Start the live subscription. `Trigger.AvailableNow` (the default)
    * drains the current backlog in capped batches and self-terminates —
    * the batch-pipeline posture; pass `availableNow = false` for a
    * continuously running subscriber.
    */
  def start(s: SparkSession, cfg: Config, checkpoint: String,
            availableNow: Boolean = true): StreamingQuery = {
    val w = ChangeFeedSource.readStream(s, cfg.vecTable, Seq(cfg.keyCol),
        cfg.startVersion, cfg.maxVersionsPerTrigger)
      .writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) => applyBatch(cfg, b, id) }
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }
}

/** q343/q344 — the subscriber driven end-to-end as oracle-checked
  * queries: the census reads the PUBLISHED index/meta tables, never the
  * session's in-memory frames, so the hash pins the durable artifact.
  */
object IndexMaintain {
  import Similarity.{DIM, NnBeam, NnHops, NnK, NnRounds, PanelSql,
    WrapBefore, beam, beamCte, bpSql, delWaveCtes, embFrame, entriesSql,
    exactTopK, feedChainCtes, fixedEntries, fixedSeedSql, graphHits,
    hitsOf, kmeansCtes, nnCensusCtes, nnEntriesFrom, nnGraphCtesCore,
    nnMemberGraphFor, panelScorer, undSql, undirected, visitsOf, walk,
    walkHopsSql}

  private def m10(c: Column): Column = pmod(c, lit(10))

  /** (vecTable, idxTable, metaTable) after the live run — per-session
    * memo (the cdcFixtureFor discipline; Bench/ScaleSoak clear it at
    * pass boundaries so every pass prices the full live loop). */
  private val fixtureMemo = scala.collection.concurrent.TrieMap
    .empty[(Int, String, String), (String, String, String)]

  def clearIndexFixtureCache(): Unit = fixtureMemo.clear()

  private def freshDirs(s: SparkSession, names: Seq[String], d: String)
      : Seq[String] = names.map { n =>
    val p = SnapshotStore.fixturePath(n, d)
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
    p
  }

  /** q343 fixture: vec table v1 = classes ≠ 3; commit 2 deletes class
    * 7, commit 3 inserts class 3 — the q342 chain split across two
    * commits and driven by the LIVE subscriber (AvailableNow, one
    * version per trigger), publishing index versions 2 and 3.
    */
  private def q343Fixture(s: SparkSession, d: String)
      : (String, String, String) =
    fixtureMemo.getOrElseUpdate((System.identityHashCode(s), d, "q343"), {
      val Seq(vec, idx, meta, ckpt) = freshDirs(s,
        Seq("annidxsrc", "annidx", "annidxmeta", "annidxckpt"), d)
      val emb = embFrame(s, d)
      SnapshotStore.publish(emb.where(m10(col("vec_id")) =!= 3), vec)
      val cfg = IndexMaintainer.Config(vec, idx, meta)
      IndexMaintainer.bootstrap(s, cfg,
        nnMemberGraphFor(s, d, m10(col("vec_id")) =!= 3))
      SnapshotStore.applyCdcVersion(s, vec,
        emb.where(m10(col("vec_id")) === 7)
          .select(col("vec_id"), col("e"), lit("D").as("op")),
        Seq("vec_id"), "op", 2)
      SnapshotStore.applyCdcVersion(s, vec,
        emb.where(m10(col("vec_id")) === 3)
          .select(col("vec_id"), col("e"), lit("I").as("op")),
        Seq("vec_id"), "op", 3)
      IndexMaintainer.start(s, cfg, ckpt).awaitTermination()
      (vec, idx, meta)
    })

  // ─── q343: the index AS A TABLE — durable, versioned, subscribed ────
  // Census: recall of the PUBLISHED final index version vs the
  // from-scratch retrain control on the survivor probe panel, the
  // published lineage (per-version edge counts, actions, version
  // count), the zero-ghost invariant and the table's metadata live
  // count. The oracle recomputes the whole chain (base graph → delete
  // wave → insert wave → control) from class predicates, so the hash
  // only matches if the LIVE STREAMING loop — admission, net-effect
  // resolution, both waves, exactly-once publication — lands
  // bit-identical to the predicate-driven recompute. Restart/replay
  // semantics are spec-pinned (StreamingSpec): a killed subscriber
  // resumes from the checkpoint and folds only new commits.
  def q343DurableIndex(s: SparkSession, d: String): DataFrame = {
    val (vec, idx, meta) = q343Fixture(s, d)
    val emb = embFrame(s, d)
    val g = SnapshotStore.read(s, idx, Some(3)).localCheckpoint()
    val scr = nnMemberGraphFor(s, d, m10(col("vec_id")) =!= 7)
    val probes = emb
      .where(col("vec_id") < 10 && m10(col("vec_id")) =!= 7)
      .select(col("vec_id").as("q_id"), col("e").as("qe"))
    val exactK = exactTopK(emb.where(m10(col("vec_id")) =!= 7), probes)
    // per-version edge counts are manifest metadata (the count= line is
    // written from the staged files' stats) — no scan jobs needed
    val eV = (1 to 3).map(v => SnapshotStore.countOf(s, idx, v))
    // both lineage actions in ONE action instead of a head() per version
    val acts = (2 to 3).map(v =>
        SnapshotStore.read(s, meta, Some(v))
          .select(lit(v).as("v"), col("action")))
      .reduce(_.unionAll(_)).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap.toSeq
      .sortBy(_._1).map(_._2)
    // ghost count rides the same aggregate as the edge census — one
    // pass over the published graph instead of two
    val glob = broadcast(g.agg(count(lit(1)).as("mg_edges"),
      sum(col("bp")).as("msbp"),
      sum(when(m10(col("u")) === 7 || m10(col("v")) === 7, 1L)
        .otherwise(0L)).as("n_ghost_g")))
    graphHits(exactK, g, "n_hits_m")
      .join(graphHits(exactK, scr, "n_hits_scr"), "q_id")
      .crossJoin(glob)
      .select(col("q_id"), col("n_hits_m"),
        round(col("n_hits_m") / lit(NnK.toDouble), 4).as("recall_m"),
        col("n_hits_scr"),
        round(col("n_hits_scr") / lit(NnK.toDouble), 4).as("recall_scr"),
        col("mg_edges"), expr("msbp div mg_edges").as("mg_avg_bp"),
        lit(eV(0)).as("e_v1"), lit(eV(1)).as("e_v2"),
        lit(eV(2)).as("e_v3"),
        lit(acts(0)).as("act_v2"), lit(acts(1)).as("act_v3"),
        lit(SnapshotStore.versions(s, idx).size.toLong)
          .as("n_idx_versions"),
        col("n_ghost_g").as("n_ghost"),
        lit(SnapshotStore.countOf(s, vec, 3)).as("live_final"))
      .orderBy(col("q_id"))
  }

  val q343Sql: String =
    s"""WITH $feedChainCtes,
       |${nnGraphCtesCore("s_", "vec_id % 10 <> 7")},
       |exactk AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${bpSql("q.e", "c.e")} DESC, c.vec_id) AS ern
       |    FROM emb q JOIN emb c
       |      ON c.vec_id <> q.vec_id AND c.vec_id % 10 <> 7
       |    WHERE q.vec_id < 10 AND q.vec_id % 10 <> 7)
       |  WHERE ern <= $NnK),
       |ih AS (
       |  SELECT e.q_id, CAST(count(g.v) AS BIGINT) AS n_hits_m
       |  FROM exactk e LEFT JOIN mg2 g ON e.q_id = g.u AND e.c_id = g.v
       |  GROUP BY e.q_id),
       |sh AS (
       |  SELECT e.q_id, CAST(count(g.v) AS BIGINT) AS n_hits_scr
       |  FROM exactk e LEFT JOIN s_g$NnRounds g
       |    ON e.q_id = g.u AND e.c_id = g.v
       |  GROUP BY e.q_id),
       |gstat AS (
       |  SELECT CAST(count(*) AS BIGINT) AS mg_edges,
       |    CAST(sum(bp) // count(*) AS BIGINT) AS mg_avg_bp,
       |    CAST(sum(CASE WHEN u % 10 = 7 OR v % 10 = 7 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_ghost
       |  FROM mg2),
       |lineage AS (
       |  SELECT
       |    (SELECT CAST(count(*) AS BIGINT) FROM b_g$NnRounds) AS e_v1,
       |    (SELECT CAST(count(*) AS BIGINT) FROM w1g2) AS e_v2,
       |    (SELECT CAST(count(*) AS BIGINT) FROM mg2) AS e_v3,
       |    (SELECT CAST(count(*) AS BIGINT) FROM emb
       |       WHERE vec_id % 10 <> 7) AS live_final)
       |SELECT i.q_id, i.n_hits_m,
       |  round(i.n_hits_m / $NnK.0, 4) AS recall_m,
       |  s.n_hits_scr, round(s.n_hits_scr / $NnK.0, 4) AS recall_scr,
       |  mg_edges, mg_avg_bp, e_v1, e_v2, e_v3,
       |  'maintain' AS act_v2, 'maintain' AS act_v3,
       |  CAST(3 AS BIGINT) AS n_idx_versions, n_ghost, live_final
       |FROM ih i JOIN sh s ON i.q_id = s.q_id
       |CROSS JOIN gstat CROSS JOIN lineage
       |ORDER BY i.q_id""".stripMargin

  /** q344 fixture: vec table v1 = ALL classes; two delete-only commits
    * (class 7, then class 3) subscribed with the health policy armed at
    * 1500 bp — wave 1 (~1111 bp) maintains, wave 2 (~2500 bp cumulative)
    * FIRES and retrains on the survivors.
    */
  private def q344Fixture(s: SparkSession, d: String)
      : (String, String, String) =
    fixtureMemo.getOrElseUpdate((System.identityHashCode(s), d, "q344"), {
      val Seq(vec, idx, meta, ckpt) = freshDirs(s,
        Seq("annpolsrc", "annpol", "annpolmeta", "annpolckpt"), d)
      val emb = embFrame(s, d)
      SnapshotStore.publish(emb, vec)
      val cfg = IndexMaintainer.Config(vec, idx, meta,
        retrainThresholdBp = Some(1500L),
        retrain = Some(keys => Similarity.nnDescentGraphKeys(s, d, keys)))
      IndexMaintainer.bootstrap(s, cfg, Similarity.nnGraphFor(s, d))
      SnapshotStore.applyCdcVersion(s, vec,
        emb.where(m10(col("vec_id")) === 7)
          .select(col("vec_id"), col("e"), lit("D").as("op")),
        Seq("vec_id"), "op", 2)
      SnapshotStore.applyCdcVersion(s, vec,
        emb.where(m10(col("vec_id")) === 3)
          .select(col("vec_id"), col("e"), lit("D").as("op")),
        Seq("vec_id"), "op", 3)
      IndexMaintainer.start(s, cfg, ckpt).awaitTermination()
      (vec, idx, meta)
    })

  // ─── q344: the health policy FIRING INSIDE the live subscription ────
  // One row per published index version, assembled from the PUBLISHED
  // meta lineage + per-version edge censuses of the PUBLISHED graphs.
  // The oracle recomputes every number from the class predicates — the
  // decision inputs (dels-since-retrain, live, del_bp), the decisions
  // themselves (maintain under 1500 bp, retrain over), and the graphs
  // each decision published (base, maintained wave, survivor retrain).
  // The hash only matches if the policy fired exactly where the data
  // says it must AND the published artifacts are the right graphs.
  def q344AutoRetrainPolicy(s: SparkSession, d: String): DataFrame = {
    val (_, idx, meta) = q344Fixture(s, d)
    val metaRows = (1 to 3).map(v =>
      SnapshotStore.read(s, meta, Some(v))).reduce(_.unionAll(_))
    // all three per-version edge censuses in ONE action (tagged union +
    // grouped aggregate) instead of an agg().head() per version
    val got = (1 to 3).map(v =>
        SnapshotStore.read(s, idx, Some(v))
          .select(lit(v.toLong).as("idx_version"), col("bp")))
      .reduce(_.unionAll(_))
      .groupBy(col("idx_version"))
      .agg(count(lit(1)).as("n"), sum(col("bp")).as("sbp"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val census = (1 to 3).map { v =>
      val (n, sbp) = got.getOrElse(v.toLong, (0L, 0L))
      (v.toLong, n, if (n == 0) 0L else sbp / n)
    }
    val sp = s; import sp.implicits._
    val cDf = census.toDF("idx_version", "n_edges", "avg_bp")
    metaRows.join(cDf, "idx_version")
      .select(col("idx_version"), col("src_version"), col("action"),
        col("n_del"), col("n_ins"), col("dels_since"), col("live"),
        col("del_bp"), col("fired"), col("n_edges"), col("avg_bp"))
      .orderBy(col("idx_version"))
  }

  val q344Sql: String =
    s"""WITH ${kmeansCtes(1, DIM, 8, 2)},
       |${nnGraphCtesCore("", "")},
       |${delWaveCtes(s"g$NnRounds", "w1", 7)},
       |${nnGraphCtesCore("s2", "vec_id % 10 <> 7 AND vec_id % 10 <> 3")},
       |lv AS (
       |  SELECT CAST(count(*) AS BIGINT) AS l0,
       |    CAST(sum(CASE WHEN vec_id % 10 <> 7 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS l1,
       |    CAST(sum(CASE WHEN vec_id % 10 <> 7 AND vec_id % 10 <> 3
       |      THEN 1 ELSE 0 END) AS BIGINT) AS l2
       |  FROM emb),
       |${nnCensusCtes(s"g$NnRounds", "c0", "FALSE")},
       |${nnCensusCtes("w1g2", "c1", "FALSE")},
       |${nnCensusCtes(s"s2g$NnRounds", "ca", "FALSE")}
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS idx_version,
       |    CAST(1 AS BIGINT) AS src_version, 'base' AS action,
       |    CAST(0 AS BIGINT) AS n_del, CAST(0 AS BIGINT) AS n_ins,
       |    CAST(0 AS BIGINT) AS dels_since, l0 AS live,
       |    CAST(0 AS BIGINT) AS del_bp, CAST(0 AS BIGINT) AS fired,
       |    edges AS n_edges, avgbp AS avg_bp
       |  FROM lv, c0c
       |  UNION ALL
       |  SELECT 2, 2, 'maintain', l0 - l1, 0, l0 - l1, l1,
       |    (l0 - l1) * 10000 // l1, 0, edges, avgbp
       |  FROM lv, c1c
       |  UNION ALL
       |  SELECT 3, 3, 'retrain', l1 - l2, 0, l0 - l2, l2,
       |    (l0 - l2) * 10000 // l2, 1, edges, avgbp
       |  FROM lv, cac)
       |ORDER BY idx_version""".stripMargin

  // ─── q348: SERVING from the published index, AS OF a version ────────
  // The read path the index-as-table story exists for: a caller beam-
  // serves (q322's walk) directly off `read(idxTable, version)` — any
  // committed version, so the index TIME-TRAVELS like any other table.
  // Entry points and adjacency both derive from the CHOSEN version's
  // graph (members only — a deleted vector is unreachable at every
  // version that excludes it), and the exact ground truth is the LIVE
  // SET of the matching source version: serving v2 answers "nearest
  // among what the table held then", v3 among what it holds now —
  // including the feed-inserted class, whose reachability flip
  // (n_ans_ins 0 → >0 in aggregate) is census data. The oracle
  // recomputes both graphs (the q343 chain) and replays both walks
  // hop-for-hop. Scale: two q322-shaped walks over published
  // metadata-scale graphs; probes broadcast; nothing corpus-sized
  // beyond the exact-panel control the census demands.
  def q348IndexAsofServe(s: SparkSession, d: String): DataFrame = {
    val (_, idx, _) = q343Fixture(s, d)
    val emb = embFrame(s, d)
    val probes = emb
      .where(col("vec_id") < 10 && m10(col("vec_id")) =!= 7)
      .select(col("vec_id").as("q_id"), col("e").as("qe"))
    def serve(ver: Int, liveMember: Column): DataFrame = {
      val g = SnapshotStore.read(s, idx, Some(ver)).localCheckpoint()
      val entries = nnEntriesFrom(g.select(col("u").as("vec_id")).distinct())
      val visited = walk(panelScorer(emb, probes), undirected(g),
        fixedEntries(probes, entries), NnHops, NnBeam)
      val answer = beam(visited, NnBeam).select("q_id", "v")
      val nins = answer.where(m10(col("v")) === 3)
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_ans_ins"))
      hitsOf(exactTopK(emb.where(liveMember), probes), answer, "n_hits")
        .join(visitsOf(visited, "n_visited"), "q_id")
        .join(nins, Seq("q_id"), "left")
        .select(lit(ver.toLong).as("idx_version"), col("q_id"),
          col("n_hits"),
          round(col("n_hits") / lit(NnK.toDouble), 4).as("recall"),
          col("n_visited"),
          coalesce(col("n_ans_ins"), lit(0L)).as("n_ans_ins"))
    }
    serve(2, m10(col("vec_id")) =!= 3 && m10(col("vec_id")) =!= 7)
      .unionAll(serve(3, m10(col("vec_id")) =!= 7))
      .orderBy(col("idx_version"), col("q_id"))
  }

  val q348Sql: String = {
    // one beam-serve walk replay over graph CTE `gin`, prefix-isolated
    def walkCtes(P: String, gin: String): String =
      s"""${entriesSql(s"${P}ents", s"(SELECT DISTINCT u FROM $gin)", "u")},
         |${undSql(s"${P}und", gin)},
         |${fixedSeedSql(s"${P}vis0", s"${P}ents", "en")},
         |${walkHopsSql(P, s"${P}und", NnHops, NnBeam, PanelSql, WrapBefore)},
         |${beamCte(s"${P}ans", s"${P}vis$NnHops", NnBeam)}""".stripMargin
    def censusSql(P: String, ver: Int, liveWhere: String): String =
      s"""SELECT CAST($ver AS BIGINT) AS idx_version, h.q_id, h.n_hits,
         |  round(h.n_hits / $NnK.0, 4) AS recall,
         |  nv.n_visited, coalesce(ni.n_ans_ins, 0) AS n_ans_ins
         |FROM (
         |  SELECT e.q_id, CAST(count(a.v) AS BIGINT) AS n_hits
         |  FROM (
         |    SELECT q_id, c_id FROM (
         |      SELECT q.q_id, c.vec_id AS c_id,
         |        row_number() OVER (PARTITION BY q.q_id
         |          ORDER BY ${bpSql("q.qe", "c.e")} DESC, c.vec_id) AS ern
         |      FROM qprobes q JOIN emb c
         |        ON c.vec_id <> q.q_id AND ($liveWhere))
         |    WHERE ern <= $NnK) e
         |  LEFT JOIN ${P}ans a ON e.q_id = a.q_id AND e.c_id = a.v
         |  GROUP BY e.q_id) h
         |JOIN (SELECT q_id, CAST(count(*) AS BIGINT) AS n_visited
         |      FROM ${P}vis$NnHops GROUP BY q_id) nv
         |  ON h.q_id = nv.q_id
         |LEFT JOIN (SELECT q_id, CAST(count(*) AS BIGINT) AS n_ans_ins
         |           FROM ${P}ans WHERE v % 10 = 3 GROUP BY q_id) ni
         |  ON h.q_id = ni.q_id"""
        .stripMargin
    s"""WITH $feedChainCtes,
       |qprobes AS (SELECT vec_id AS q_id, e AS qe FROM emb
       |            WHERE vec_id < 10 AND vec_id % 10 <> 7),
       |${walkCtes("s2", "w1g2")},
       |${walkCtes("s3", "mg2")}
       |SELECT * FROM (
       |  ${censusSql("s2", 2,
           "c.vec_id % 10 <> 3 AND c.vec_id % 10 <> 7")}
       |  UNION ALL
       |  ${censusSql("s3", 3, "c.vec_id % 10 <> 7")})
       |ORDER BY idx_version, q_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q343_durable_index" -> (q343DurableIndex _),
    "q344_auto_retrain_policy" -> (q344AutoRetrainPolicy _),
    "q348_index_asof_serve" -> (q348IndexAsofServe _))

  val oracleSql: Map[String, String] = Map(
    "q343_durable_index" -> q343Sql,
    "q344_auto_retrain_policy" -> q344Sql,
    "q348_index_asof_serve" -> q348Sql)
}

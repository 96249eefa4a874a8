package graft.ops

import graft.Session
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Duplicate-CLUSTER resolution — the step between near-dup PAIR detection
  * (q45/q47/q68 emit edges) and an actually-deduplicated corpus (keep ONE
  * document per connected component of the similarity graph).
  *
  * The reference dedups row-at-a-time against PostgreSQL unique constraints
  * (course_catalog.py:65–87 get_or_insert; user_course_activity.py:73–102
  * ON CONFLICT) — transitive duplicate chains never arise there because
  * equality is exact. A similarity graph is different: a≈b and b≈c does NOT
  * imply the detector emitted a≈c, so keeping "one doc per detected pair"
  * over-deletes or under-deletes. The correct semantics is one keeper per
  * CONNECTED COMPONENT.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) expressed as
  * DataFrame self-joins:
  *  - each round is two groupBy(min)+join rounds over the edge list — no
  *    adjacency lists are ever collected (no collect_set), so a 10^9-edge
  *    graph shuffles fixed-width (long, long) rows only;
  *  - convergence is O(log^2 n) rounds on ANY graph shape — in particular
  *    on long CHAINS, where naive min-label propagation needs O(diameter)
  *    rounds (a 10^6-long chain of near-dup generations would need 10^6
  *    shuffles propagated one hop at a time; GraphSpec proves the round
  *    bound on a planted path);
  *  - the fixpoint is a star forest: every node points directly at its
  *    component minimum, which is exactly the "keeper id" a dedup pipeline
  *    wants (first-writer-wins, same rule as q41/O12).
  */
object Graph {

  /** Connected components of an undirected edge list.
    *
    * @param edges two numeric columns `src`, `dst` (self-loops and
    *              duplicate/reversed edges tolerated)
    * @return (node, component) for every node incident to >= 1 edge;
    *         component = min node id of the component. Callers union in
    *         their singleton universe (see q71).
    *
    * Scale notes: every intermediate frame is `(u: long, v: long)` and
    * every shuffle keys on one of them. The per-round `distinct()` is what
    * keeps the edge set from exploding on dense components (a clique
    * collapses to a star after one large-star + small-star round). The
    * convergence check is an edge-set fixpoint test (two anti-join counts);
    * at cluster scale you would swap it for a `longAccumulator` of changed
    * rows inside the star steps — same plan shape, one less job — but the
    * fixpoint test is exact and the honest form for an oracle-checked op.
    */
  def connectedComponents(edges: DataFrame, src: String, dst: String,
                          maxIter: Int = 25): DataFrame = {
    val canon = edges
      .select(col(src).cast("long").as("a"), col(dst).cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"),
              least(col("a"), col("b")).as("v"))
      .distinct()

    // large-star: every node u connects its STRICTLY LARGER neighbors to
    // m = min(N(u) ∪ {u}). Grouping runs over the bidirected list so both
    // endpoints act as the center once per round.
    def largeStar(e: DataFrame): DataFrame = {
      val bidir = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = bidir.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      bidir.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))  // u > v by construction
        .where(col("u") =!= col("v"))
        .distinct()
    }

    // small-star: every node u connects its SMALLER-OR-EQUAL neighborhood
    // (and itself) to m = min of that set. Edges arrive canonical (u > v),
    // so the group's neighbors are exactly the smaller ones.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("u").agg(min("v").as("m"))
      e.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    // Iterative plans MUST truncate lineage each round: round k's frame
    // built on round k-1's PLAN contains two self-joins of it, so the
    // logical plan grows exponentially with rounds (observed: explain-
    // string OOM at ~7 rounds). localCheckpoint materializes the round's
    // edge set and restarts the plan from the stored blocks — the same
    // move every iterative-graph framework on Spark makes. On a cluster
    // with executor loss concerns you'd use reliable `checkpoint` to a
    // DFS dir instead; block release is left to the ContextCleaner (the
    // frames are one fixed-width edge set per round).
    // Convergence check = ONE aggregate action per round: an order-
    // insensitive fingerprint (cardinality + decimal sum of per-edge
    // 64-bit hashes — decimal so ANSI mode cannot overflow) of the NEW
    // edge set, compared against the PREVIOUS round's fingerprint, which
    // is carried over instead of recomputed. When fingerprints match, the
    // claim is confirmed EXACTLY once with a set-equality test (equal
    // cardinality + one-sided anti-join emptiness over the distinct()ed
    // sets) — on the ~2^-64 chance of a hash collision the loop simply
    // runs another round, so termination is still the exact fixpoint.
    // Previous form ran count+count+anti-join (3 jobs) EVERY round; this
    // runs 1 job per round + 1 at the end.
    def fingerprint(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    var cur = canon.localCheckpoint(true)
    var curFp = fingerprint(cur)
    var done = curFp._1 == 0L
    var it = 0
    while (!done) {
      it += 1
      require(it <= maxIter,
        s"connectedComponents did not converge in $maxIter rounds")
      val next = smallStar(largeStar(cur)).localCheckpoint(true)
      val nextFp = fingerprint(next)
      done = nextFp == curFp && next.exceptAll(cur).isEmpty
      cur = next
      curFp = nextFp
    }
    iterations = it
    val stars = cur
    val out = stars.select(col("u").as("node"), col("v").as("component"))
      .union(stars.select(col("v").as("node"), col("v").as("component")))
      .distinct()
    out
  }

  /** Rounds taken by the last `connectedComponents` call (driver-side
    * diagnostic for GraphSpec's convergence-bound assertion; not part of
    * any query result).
    */
  @volatile private[graft] var iterations: Int = 0

  // ─── q71: duplicate-cluster resolution over the similarity graph ──────
  // Edge list = the q47 detector (consecutive-doc bigram Jaccard per
  // language shard) thresholded at 0.05; clusters = connected components;
  // output = every doc labeled with its cluster keeper and cluster size —
  // `doc_id != cluster_id` IS the "drop this duplicate" predicate, and
  // `cluster_size` the dedup audit count.
  /** (doc_id, cluster_id) for EVERY doc (singletons label themselves) —
    * the label frame q71 reports and q90's funnel consumes. q71, q90,
    * q198 (and the q199 funnel's labels) all consume the same iterative
    * clustering, so the frame is memoized per (session, dir) in
    * [[graft.Session]] and the fixpoint loop is priced ONCE per session,
    * not once per query. The frame is an EAGER localCheckpoint — a few
    * fixed-width (long, long) rows per doc, persisted outside the SQL
    * cache manager, so `spark.catalog.clearCache()` between queries does
    * not evict it; `Session.clear()` does.
    */
  def dupClusterLabels(s: SparkSession, d: String): DataFrame =
    Session.memo(s, ("ccLabels", d))(
      dupClusterLabelsUncached(s, d).localCheckpoint(true))

  private def dupClusterLabelsUncached(s: SparkSession, d: String): DataFrame = {
    val bigrams = when(size(col("toks")) >= 2,
      array_distinct(transform(sequence(lit(1), size(col("toks")) - 1),
        i => concat_ws(" ", element_at(col("toks"), i),
                            element_at(col("toks"), i + 1)))))
      .otherwise(array().cast("array<string>"))
    val jac = size(array_intersect(col("bg"), col("bg_next"))).cast("double") /
              size(array_union(col("bg"), col("bg_next"))).cast("double")
    val toksCol: Column =
      filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= "")
    // successive-pair generation via dense per-lang position + p/p+1
    // equi-join (the q47 form — a naive PARTITION BY lang lead() hands
    // each language's corpus to one task; invisible to PlanLint here
    // only because connectedComponents checkpoints the edge frame)
    val docs = documents(s, d)
      .withColumn("toks", toksCol)
      .select(col("lang"), col("doc_id"), bigrams.as("bg"))
    val positioned = Windows.densePosScaled(docs, Seq("lang"),
      col("doc_id"), Seq(col("doc_id")), "pos")
    val successors = positioned.select(col("lang"),
      (col("pos") - 1L).as("pos"), col("doc_id").as("doc_b"),
      col("bg").as("bg_next"))
    val edges = positioned.join(successors, Seq("lang", "pos"))
      // the union-size guard matters: two adjacent bigram-less docs give
      // jac = 0/0 = NaN, and Spark orders NaN ABOVE every number, so an
      // unguarded >= threshold would emit a bogus edge (and silently drop
      // a doc at q90's keeper stage); DuckDB yields NULL there — a
      // cross-engine divergence, not just a wrong edge.
      .where(size(array_union(col("bg"), col("bg_next"))) > 0 &&
             round(jac, 4) >= 0.05)
      .select(col("doc_id").as("src"), col("doc_b").as("dst"))

    val comp = connectedComponents(edges, "src", "dst")
    documents(s, d).select(col("doc_id"))
      .join(comp, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
              coalesce(col("component"), col("doc_id")).as("cluster_id"))
  }

  def q71DupClusters(s: SparkSession, d: String): DataFrame = {
    val sizeW = Window.partitionBy(col("cluster_id"))
    dupClusterLabels(s, d)
      .withColumn("cluster_size", count(lit(1)).over(sizeW))
      .orderBy(col("doc_id"))
  }

  /** Oracle: min-label reachability closure as a recursive CTE — exact for
    * the fixture graph (a few hundred nodes); the Spark side must produce
    * the identical per-doc labeling from the O(log^2 n) algorithm.
    */
  /** The CC labeling as a reusable CTE chain (must follow WITH RECURSIVE):
    * ends with `labels(doc_id, cluster_id)` over every doc.
    */
  val ccLabelCtes: String =
    """bg AS (
      |  SELECT lang, doc_id,
      |    CASE WHEN len(toks) >= 2 THEN
      |      list_distinct(list_transform(generate_series(1, len(toks) - 1),
      |        i -> toks[i] || ' ' || toks[i+1]))
      |    ELSE [] END AS bg
      |  FROM (SELECT lang, doc_id,
      |          list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
      |                      x -> x <> '') AS toks
      |        FROM documents)),
      |paired AS (
      |  SELECT lang, doc_id AS doc_a,
      |    lead(doc_id) OVER (PARTITION BY lang ORDER BY doc_id) AS doc_b,
      |    bg,
      |    lead(bg) OVER (PARTITION BY lang ORDER BY doc_id) AS bg_next
      |  FROM bg),
      |edges AS (
      |  SELECT doc_a AS u, doc_b AS v FROM paired
      |  WHERE doc_b IS NOT NULL
      |    AND len(bg) + len(bg_next) - len(list_intersect(bg, bg_next)) > 0
      |    AND round(CAST(len(list_intersect(bg, bg_next)) AS DOUBLE)
      |      / (len(bg) + len(bg_next) - len(list_intersect(bg, bg_next))),
      |      4) >= 0.05),
      |bidir AS (
      |  SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges),
      |reach AS (
      |  SELECT u AS node, u AS lab FROM bidir
      |  UNION
      |  SELECT b.v AS node, r.lab FROM reach r JOIN bidir b ON b.u = r.node),
      |comp AS (
      |  SELECT node, min(lab) AS component FROM reach GROUP BY node),
      |labels AS (
      |  SELECT doc_id, coalesce(component, doc_id) AS cluster_id
      |  FROM documents LEFT JOIN comp ON doc_id = node)""".stripMargin

  val q71Sql: String =
    s"""WITH RECURSIVE $ccLabelCtes
       |SELECT doc_id, cluster_id,
       |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM labels
       |ORDER BY doc_id""".stripMargin

  // ─── q198: canonical-document selection per dup cluster ──────────────
  // Production dedup doesn't keep the MIN-id doc of a near-dup cluster —
  // it keeps the BEST one (longest/highest-quality) and drops the rest.
  // This is q71's cluster labeling composed with a per-cluster argmax:
  // keeper = max_by(doc_id, (n_chars, sha2(text), doc_id)) — ONE
  // ObjectHashAggregate with a partial step (each map task emits one
  // candidate per cluster; the shuffle carries one 64-char hash per
  // candidate, never document text), the q139 top-k shape with k = 1.
  // The CONTENT-HASH tie-break makes the selection stable under doc_id
  // renumbering: equal-length members tie-break on what they SAY, so a
  // re-ingested corpus with permuted ids keeps the same keeper text
  // (GraphSpec pins the invariance); doc_id remains only as the final
  // determinism guard for byte-identical members. The dropped-id
  // checksum (sum of ids minus the keeper) proves WHICH rows were
  // dropped, cross-engine, not just how many — the q195
  // selection-checksum contract.
  def q198CanonicalKeeper(s: SparkSession, d: String): DataFrame = {
    val labels = dupClusterLabels(s, d)
    val docs = documents(s, d)
      .select(col("doc_id"), col("n_chars"), sha2(col("text"), 256).as("h"))
    labels.join(docs, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        expr("max_by(doc_id, struct(n_chars, h, doc_id))").as("keeper_id"),
        max(col("n_chars")).as("keeper_chars"),
        sum(col("doc_id")).as("id_sum"))
      .where(col("cluster_size") >= 2)
      .select(col("cluster_id"), col("cluster_size"),
        col("keeper_id"), col("keeper_chars"),
        (col("cluster_size") - 1L).as("n_dropped"),
        (col("id_sum") - col("keeper_id")).as("dropped_id_checksum"))
      .orderBy(col("cluster_id"))
  }

  val q198Sql: String =
    s"""WITH RECURSIVE $ccLabelCtes,
       |scored AS (
       |  SELECT labels.doc_id, cluster_id, n_chars, sha256(text) AS h
       |  FROM labels JOIN documents ON labels.doc_id = documents.doc_id),
       |agg AS (
       |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size,
       |    CAST(sum(doc_id) AS BIGINT) AS id_sum,
       |    max(n_chars) AS keeper_chars
       |  FROM scored GROUP BY cluster_id),
       |keeper AS (
       |  SELECT cluster_id, doc_id AS keeper_id
       |  FROM (SELECT cluster_id, doc_id,
       |          row_number() OVER (PARTITION BY cluster_id
       |            ORDER BY n_chars DESC, h DESC, doc_id DESC) AS rn
       |        FROM scored) WHERE rn = 1)
       |SELECT a.cluster_id, cluster_size, keeper_id, keeper_chars,
       |  CAST(cluster_size - 1 AS BIGINT) AS n_dropped,
       |  CAST(id_sum - keeper_id AS BIGINT) AS dropped_id_checksum
       |FROM agg a JOIN keeper k ON a.cluster_id = k.cluster_id
       |WHERE cluster_size >= 2
       |ORDER BY a.cluster_id""".stripMargin

  // ─── q199: the production dedup funnel — LSH edges → CC → keeper ──────
  // The composition every 100 TB corpus dedup actually runs, end to end:
  //   1. CANDIDATE GENERATION: banded MinHash-LSH over 3-gram shingles
  //      (ops/TextSim.minhashPairs — K=8 signatures, B=4 bands; candidates
  //      are band-bucket equi-join collisions, verified by exact shingle
  //      Jaccard >= 0.6). Unlike q71's consecutive-doc detector, LSH finds
  //      duplicates at ANY id/position distance and across languages — the
  //      real near-dup topology.
  //   2. CLUSTERING: connected components over the verified pair edges
  //      (a≈b, b≈c does not imply the detector emitted a≈c — keeping one
  //      doc per PAIR over- or under-deletes; one keeper per COMPONENT is
  //      the correct semantics, same argument as q71).
  //   3. CANONICAL SELECTION: per cluster keep the best member by
  //      (n_chars, sha2(text), doc_id) — q198's content-stable argmax.
  // This generalizes the reference's exact-dedup sink contract
  // (course_catalog.py:99 ON CONFLICT DO NOTHING — equality, no
  // transitivity) to near-duplicates.
  //
  // Scale: stage 1's only corpus-sized shuffles key on (band_id,
  // band_key) — bounded bucket fanout by the LSH design; stage 2 shuffles
  // fixed-width edges (see connectedComponents); stage 3 is one partial-
  // stepped agg whose shuffle carries a 64-char hash per candidate, never
  // text. The DuckDB oracle recomputes the whole funnel independently:
  // banded candidate CTEs + recursive min-label closure + window argmax.
  def q199LshDedupFunnel(s: SparkSession, d: String): DataFrame = {
    val pairs = TextSim.minhashPairs(s, d, TextSim.DefaultK, TextSim.DefaultB)
    val comp = connectedComponents(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")),
      "src", "dst")
    val scored = TextSim.dedupCorpus(s, d)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
              sha2(col("text"), 256).as("h"))
    val labels = scored.join(comp, scored("doc_id") === comp("node"), "left")
      .select(col("doc_id"),
              coalesce(col("component"), col("doc_id")).as("cluster_id"),
              col("n_chars"), col("h"))
    labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        expr("max_by(doc_id, struct(n_chars, h, doc_id))").as("keeper_id"),
        max(col("n_chars")).as("keeper_chars"),
        sum(col("doc_id")).as("id_sum"))
      .where(col("cluster_size") >= 2)
      .select(col("cluster_id"), col("cluster_size"),
        col("keeper_id"), col("keeper_chars"),
        (col("cluster_size") - 1L).as("n_dropped"),
        (col("id_sum") - col("keeper_id")).as("dropped_id_checksum"))
      .orderBy(col("cluster_id"))
  }

  val q199Sql: String =
    s"""WITH RECURSIVE ${TextSim.minhashPairCtes(TextSim.DefaultK, TextSim.DefaultB)},
       |lsh_bidir AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |lsh_reach AS (
       |  SELECT u AS node, u AS lab FROM lsh_bidir
       |  UNION
       |  SELECT b.v AS node, r.lab
       |  FROM lsh_reach r JOIN lsh_bidir b ON b.u = r.node),
       |lsh_comp AS (
       |  SELECT node, min(lab) AS component FROM lsh_reach GROUP BY node),
       |scored AS (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
       |    sha256(text) AS h
       |  FROM corpus),
       |labels AS (
       |  SELECT doc_id, coalesce(component, doc_id) AS cluster_id,
       |    n_chars, h
       |  FROM scored LEFT JOIN lsh_comp ON doc_id = node),
       |agg AS (
       |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size,
       |    CAST(sum(doc_id) AS BIGINT) AS id_sum,
       |    max(n_chars) AS keeper_chars
       |  FROM labels GROUP BY cluster_id),
       |keeper AS (
       |  SELECT cluster_id, doc_id AS keeper_id
       |  FROM (SELECT cluster_id, doc_id,
       |          row_number() OVER (PARTITION BY cluster_id
       |            ORDER BY n_chars DESC, h DESC, doc_id DESC) AS rn
       |        FROM labels) WHERE rn = 1)
       |SELECT a.cluster_id, cluster_size, keeper_id, keeper_chars,
       |  CAST(cluster_size - 1 AS BIGINT) AS n_dropped,
       |  CAST(id_sum - keeper_id AS BIGINT) AS dropped_id_checksum
       |FROM agg a JOIN keeper k ON a.cluster_id = k.cluster_id
       |WHERE cluster_size >= 2
       |ORDER BY a.cluster_id""".stripMargin

  // ─── q150: PageRank — link-graph authority scoring ─────────────────────
  // Web-corpus curation uses link authority as a quality prior (the
  // original PageRank use case); here the same iteration runs over the
  // bipartite supplier↔part co-occurrence graph from lineitem.

  /** PageRank, non-normalized Pregel form (Page et al. 1999; the GraphX
    * convention): rank = (1−d) + d·Σ inbound rank/outdeg, fixed iteration
    * count. Per iteration: ONE broadcast-or-hash join of the static
    * (src, dst, deg) edge frame with the node-sized rank frame, then one
    * map-side-combined groupBy(dst) — the only corpus-scale shuffle, and
    * it carries (long, double) pairs, never adjacency lists. The edge
    * frame is checkpointed ONCE and reused by every round; ranks are
    * checkpointed per round to truncate the 5-deep lineage (same
    * discipline as the CC loop above). At cluster scale the rank frame
    * is node-sized (not broadcastable): pre-partition edges by src and
    * the per-round join co-locates with the previous round's output —
    * the GraphX/Pregel layout. In-degree hotspots are absorbed by the
    * partial aggregate; out-degree hotspots by AQE skew split.
    *
    * Every node here has outdeg ≥ 1 by construction (callers pass
    * bidirectional edges), so there is no dangling-mass term.
    */
  def pageRank(edges: DataFrame, iterations: Int, damping: Double = 0.85,
               base: Double = 0.15, tele: Option[DataFrame] = None)
      : DataFrame = {
    // `tele` generalizes to PERSONALIZED PageRank (Page et al. 1999 §6 /
    // Haveliwala 2002): a (node, tele) frame concentrates the teleport
    // mass on seed nodes — pr₀ = tele, prₖ = base·tele + damping·Σ —
    // so authority flows FROM the seeds outward instead of globally.
    // None keeps the uniform tele ≡ 1.0 of the classic form bit-for-bit
    // (base·1.0 IS base in IEEE; missing tele rows fill 0.0).
    // base is a LITERAL, not 1−damping: the double `1.0 - 0.85` differs
    // from the double `0.15` by 2.2e-17, and the oracle types "0.15"
    //
    // deg lives on the NODE-sized rank frame, never on the edge frame:
    // an (src, dst, deg) edge checkpoint carries 8 edge-count bytes per
    // edge for a value that is a function of src — at 120M edges that is
    // an extra GB of checkpoint blocks squeezing the aggregation's
    // execution memory (found by the round-8 sf10 soak: the old layout
    // OOMed the 8 GB single-JVM harness; same arithmetic holds per
    // executor at cluster scale). The contribution join re-derives
    // pr/deg from the broadcast node frame instead.
    val eCk = edges.select(col("src"), col("dst")).localCheckpoint()
    // node universe WITH out-degree: every node has outdeg ≥ 1 (callers
    // pass bidirectional edges), so deg's key set IS the node set — one
    // aggregate builds both, checkpointed once, anchoring both joins of
    // every round (a live plan would rescan the upstream per iteration)
    val nodes0 = eCk.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val nodes = (tele match {
      case Some(t) => nodes0.join(t, Seq("node"), "left")
        .na.fill(0.0, Seq("tele"))
      case None => nodes0.withColumn("tele", lit(1.0))
    }).localCheckpoint()
    // localCheckpoint erases size stats (ExistingRDD defaults to "huge"),
    // so without help every round's edge⋈rank join would plan SMJ and
    // sort the edge list 5 times over. Cardinality-guard the hint the
    // same way Merge.denseIds guards its window: rank frames up to ~5M
    // nodes broadcast (a few MB — the dominant real case even at 100 TB
    // corpora, where NODES are entities, not documents); beyond that the
    // co-partitioned shuffle path is the right plan anyway.
    val nNodes = nodes.count()
    val rankSide: DataFrame => DataFrame =
      if (nNodes <= 5000000L) broadcast else identity
    var ranks = nodes.withColumn("pr", col("tele")).localCheckpoint()
    for (_ <- 1 to iterations) {
      val contribs = eCk.join(rankSide(ranks), eCk("src") === ranks("node"))
        .select(col("dst"), (col("pr") / col("deg")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = nodes.join(contribs, nodes("node") === contribs("dst"), "left")
        .select(col("node"), col("deg"), col("tele"),
          (lit(base) * col("tele") + lit(damping) * coalesce(col("s"), lit(0.0)))
            .as("pr"))
        .localCheckpoint()
    }
    ranks.select(col("node"), col("pr"))
  }

  /** Top-20 parts by authority after 5 damped iterations. Node ids fuse
    * the bipartite sides (supplier → 2k, part → 2k+1). Ranks are rounded
    * to 5 decimals in BOTH engines and the sort runs on the ROUNDED
    * value, so cross-engine float drift (different summation order)
    * cannot reorder the cut.
    */
  def q150PageRank(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
      .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk")).distinct()
    val sp = li.select((col("sk") * 2).as("src"), (col("pk") * 2 + 1).as("dst"))
    val ps = li.select((col("pk") * 2 + 1).as("src"), (col("sk") * 2).as("dst"))
    pageRank(sp.unionAll(ps), iterations = 5)
      .where(col("node") % 2 === 1)
      .select(expr("(node - 1) DIV 2").as("part_key"),
        round(col("pr"), 5).as("pr"))
      .orderBy(col("pr").desc, col("part_key"))
      .limit(20)
  }

  /** 5 unrolled, MATERIALIZED iteration CTEs (each rK is referenced by
    * both the contribution join and rK+1 — inlining would go
    * exponential, the q147 lesson). All literals are cast to DOUBLE:
    * DuckDB would otherwise type `1.0` as DECIMAL and run the whole
    * recurrence in exact decimal, diverging from Spark's doubles.
    */
  val q150Sql: String = {
    val stages = (1 to 5).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT n.node, 0.15 + 0.85 * coalesce(c.s, CAST(0 AS DOUBLE)) AS pr
         |  FROM n LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.pr / d.deg) AS s
         |    FROM e JOIN r${k - 1} r ON e.src = r.node JOIN d ON e.src = d.src
         |    GROUP BY e.dst) c ON n.node = c.node)""".stripMargin
    }
    s"""WITH li AS MATERIALIZED (
       |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT sk * 2 AS src, pk * 2 + 1 AS dst FROM li
       |  UNION ALL
       |  SELECT pk * 2 + 1, sk * 2 FROM li),
       |d AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |n AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
       |r0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE) AS pr FROM n),
       |${stages.mkString(",\n")}
       |SELECT (node - 1) // 2 AS part_key, round(pr, 5) AS pr
       |FROM r5 WHERE node % 2 = 1
       |ORDER BY pr DESC, part_key
       |LIMIT 20""".stripMargin
  }

  // ─── q242: personalized PageRank (seed-anchored authority) ────────────
  // The recommendation form of q150: teleport mass concentrated on a
  // SEED set (every 50th part — "the basket"), so the stationary mass
  // measures proximity to the seeds through the co-supply structure,
  // not global authority. Same loop (localCheckpoint per round, node
  // frame carries deg+tele, cardinality-guarded broadcast), same
  // ROUNDED-rank ordering contract; output keeps the seeds' own rows
  // flagged so the census shows mass concentrating around — not just
  // on — the seed set.
  def q242PersonalizedPageRank(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
      .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk")).distinct()
    val sp = li.select((col("sk") * 2).as("src"), (col("pk") * 2 + 1).as("dst"))
    val ps = li.select((col("pk") * 2 + 1).as("src"), (col("sk") * 2).as("dst"))
    val seeds = li.where(col("pk") % 50 === 0)
      .select((col("pk") * 2 + 1).as("node")).distinct()
      .withColumn("tele", lit(1.0))
    // the recommendation read: rank NON-seed parts by proximity mass
    // (seeds themselves hold most of the stationary mass by construction
    // — recommending the basket back is vacuous)
    pageRank(sp.unionAll(ps), iterations = 5, tele = Some(seeds))
      .where(col("node") % 2 === 1 &&
             expr("(node - 1) DIV 2") % 50 =!= 0)
      .select(expr("(node - 1) DIV 2").as("part_key"),
        round(col("pr"), 5).as("pr"))
      .orderBy(col("pr").desc, col("part_key"))
      .limit(20)
  }

  val q242Sql: String = {
    val stages = (1 to 5).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT n.node,
         |    0.15 * n.tele + 0.85 * coalesce(c.s, CAST(0 AS DOUBLE)) AS pr
         |  FROM n LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.pr / d.deg) AS s
         |    FROM e JOIN r${k - 1} r ON e.src = r.node JOIN d ON e.src = d.src
         |    GROUP BY e.dst) c ON n.node = c.node)""".stripMargin
    }
    s"""WITH li AS MATERIALIZED (
       |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT sk * 2 AS src, pk * 2 + 1 AS dst FROM li
       |  UNION ALL
       |  SELECT pk * 2 + 1, sk * 2 FROM li),
       |d AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |n AS MATERIALIZED (
       |  SELECT DISTINCT src AS node,
       |    CASE WHEN src % 2 = 1 AND ((src - 1) // 2) % 50 = 0
       |         THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS tele
       |  FROM e),
       |r0 AS MATERIALIZED (SELECT node, tele AS pr FROM n),
       |${stages.mkString(",\n")}
       |SELECT (node - 1) // 2 AS part_key, round(pr, 5) AS pr
       |FROM r5 WHERE node % 2 = 1 AND ((node - 1) // 2) % 50 <> 0
       |ORDER BY pr DESC, part_key
       |LIMIT 20""".stripMargin
  }

  // ─── q284: bounded-hop cheapest paths (distributed Bellman–Ford) ──────
  // q170's BFS measures HOPS; this measures COST — the weighted
  // shortest-path read (supply-chain proximity, recommendation
  // distance) via the round-synchronous Bellman–Ford relaxation every
  // distributed graph framework ships: dₖ(v) = min(dₖ₋₁(v),
  // min over edges (u,v) of dₖ₋₁(u) + cost(u,v)), k fixed rounds — the
  // honest production posture (hop-bounded cheapest paths, like the
  // BFS cap). Edge cost = 1 000 000 div w over the weighted co-purchase
  // graph — stronger affinity = cheaper hop, and costs stay exact
  // BIGINTs, so every distance is integer-exact (no float relaxation).
  // Seeds: parts with pk % 100 = 0, distance 0.
  //
  // Scale: each round is one equi-join of the static bidirected edge
  // list with the node-sized distance frame + one map-side-combined
  // min — PageRank's per-round shape with min instead of sum; distance
  // frames localCheckpoint per round (lineage truncation) and ride the
  // same cardinality-guarded broadcast as q150's rank frame (a
  // checkpoint erases size stats, so without the hint every round
  // re-SORTS the edge list for an SMJ — the round-9 batch-5 sf10 soak
  // measured exactly that as a 1.11 exponent before this fix; with the
  // guard + the w ≥ 2 affinity filter the decade is sublinear). The
  // w ≥ 2 filter also makes this the SAME graph q171/q258/q267 walk —
  // repeated co-purchase, not one-off basket noise.
  private val BfRounds = 4

  def q284BellmanFord(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val canon = li.as("a")
      .join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
      .agg(count(lit(1)).as("w"))
      .where(col("w") >= 2L)
      .select(col("p1"), col("p2"), expr("1000000 div w").as("cost"))
    val edges = canon.select(col("p1").as("src"), col("p2").as("dst"),
        col("cost"))
      .unionAll(canon.select(col("p2"), col("p1"), col("cost")))
      .localCheckpoint()
    val nNodes = edges.select(col("src")).distinct().count()
    val distSide: DataFrame => DataFrame =
      if (nNodes <= 5000000L) broadcast else identity
    var dist = edges.select(col("src").as("node")).distinct()
      .where(col("node") % 100 === 0)
      .withColumn("dv", lit(0L)).localCheckpoint()
    for (_ <- 1 to BfRounds) {
      dist = dist
        .unionAll(edges.join(
            distSide(dist.withColumnRenamed("node", "src")), "src")
          .select(col("dst").as("node"), (col("dv") + col("cost"))
            .as("dv")))
        .groupBy(col("node")).agg(min(col("dv")).as("dv"))
        .localCheckpoint()
    }
    val reach = broadcast(dist.agg(count(lit(1)).as("n_reached")))
    dist.where(col("node") % 100 =!= 0)
      .crossJoin(reach)
      .orderBy(col("dv"), col("node"))
      .limit(20)
  }

  val q284Sql: String = {
    val rounds = (1 to BfRounds).map { r =>
      s"""d$r AS MATERIALIZED (
         |  SELECT node, min(dv) AS dv FROM (
         |    SELECT node, dv FROM d${r - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, x.dv + e.cost AS dv
         |    FROM e JOIN d${r - 1} x ON e.src = x.node)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |canon AS MATERIALIZED (
       |  SELECT a.pk AS p1, b.pk AS p2,
       |    1000000 // CAST(count(*) AS BIGINT) AS cost
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY a.pk, b.pk
       |  HAVING count(*) >= 2),
       |e AS MATERIALIZED (
       |  SELECT p1 AS src, p2 AS dst, cost FROM canon
       |  UNION ALL SELECT p2, p1, cost FROM canon),
       |d0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dv
       |       FROM e WHERE src % 100 = 0),
       |$rounds,
       |reach AS (SELECT CAST(count(*) AS BIGINT) AS n_reached
       |          FROM d$BfRounds)
       |SELECT node, dv, n_reached
       |FROM d$BfRounds, reach
       |WHERE node % 100 <> 0
       |ORDER BY dv, node
       |LIMIT 20""".stripMargin
  }

  // ─── q276: incremental connected-components maintenance ───────────────
  // The operation a 100 TB dedup pipeline actually performs DAILY: a new
  // batch of similarity edges arrives and cluster labels must update
  // WITHOUT re-walking yesterday's edge set. The standard contraction
  // trick: yesterday's labeling is itself a connectivity-preserving
  // edge set (node → component root), so CC over (label edges ∪ new
  // edges) equals CC over (old edges ∪ new edges) — while the input is
  // |nodes| + |delta| instead of |all edges ever|, and the old
  // components arrive pre-contracted (star-shaped, so the fixpoint
  // converges in O(1) extra rounds for untouched clusters).
  //
  // The fixture splits the verified LSH pair set deterministically
  // ((doc_a + doc_b) % 4) into a "yesterday" batch and a delta; the
  // DuckDB oracle recomputes the census from the FULL edge set's
  // recursive closure — so the hash match IS the correctness proof of
  // the incremental identity on this data, not a replay of the same
  // computation. Min-label equality holds because every root is a
  // member of its own component.
  def q276IncrementalCc(s: SparkSession, d: String): DataFrame = {
    val pairs = TextSim.minhashPairs(s, d, TextSim.DefaultK,
        TextSim.DefaultB)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val e1 = pairs.where((col("src") + col("dst")) % 4 =!= 0)
    val delta = pairs.where((col("src") + col("dst")) % 4 === 0)
    val lblEdges = connectedComponents(e1, "src", "dst")
      .select(col("node").as("src"), col("component").as("dst"))
    connectedComponents(lblEdges.unionAll(delta), "src", "dst")
      .groupBy(col("component").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"), sum(col("node"))
        .as("member_id_sum"))
      .where(col("n_members") >= 2L)
      .orderBy(col("cluster_id"))
  }

  val q276Sql: String =
    s"""WITH RECURSIVE ${TextSim.minhashPairCtes(TextSim.DefaultK,
          TextSim.DefaultB)},
       |bidir AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT u AS node, u AS lab FROM bidir
       |  UNION
       |  SELECT b.v AS node, r.lab
       |  FROM reach r JOIN bidir b ON b.u = r.node),
       |comp AS (SELECT node, min(lab) AS component
       |         FROM reach GROUP BY node)
       |SELECT component AS cluster_id, CAST(count(*) AS BIGINT)
       |    AS n_members,
       |  CAST(sum(node) AS BIGINT) AS member_id_sum
       |FROM comp
       |GROUP BY component
       |HAVING count(*) >= 2
       |ORDER BY cluster_id""".stripMargin

  // ─── q270: HITS hubs & authorities (Kleinberg 1999) ───────────────────
  // PageRank's bipartite sibling: mutually-reinforcing hub scores
  // (suppliers that stock the important parts) and authority scores
  // (parts stocked by the important suppliers) over the directed
  // supplier → part incidence from lineitem. The classic power
  // iteration with L1 normalization each half-step (sum-normalization
  // keeps the recurrence in plain ratios; the published L2 variant only
  // changes the scale, not the ranking): a ← Eᵀh / ‖Eᵀh‖₁,
  // h ← Ea / ‖Ea‖₁, [[HitsRounds]] fixed rounds from h₀ = 1.
  //
  // Determinism: the q150 contract — raw doubles through the rounds
  // (summation noise stays ~1e-15 relative), scores ROUNDED to 5 dp at
  // output and the top-10 cut sorts on the ROUNDED value with id
  // tie-breaks. Normalization totals ride 1-row broadcasts.
  // Scale: per half-step = one equi-join of the static edge list with
  // the node-sized score frame + one map-side-combined aggregate —
  // PageRank's per-round shape exactly; scores are localCheckpointed
  // per round (lineage truncation, the CC discipline).
  private val HitsRounds = 4

  def q270Hits(s: SparkSession, d: String): DataFrame = {
    val e = lineitem(s, d)
      .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
      .distinct().localCheckpoint()
    var h = e.select(col("sk")).distinct()
      .withColumn("h", lit(1.0d)).localCheckpoint()
    var a: DataFrame = null
    for (_ <- 1 to HitsRounds) {
      val araw = e.join(h, "sk").groupBy(col("pk"))
        .agg(sum(col("h")).as("ar"))
      val ta = broadcast(araw.agg(sum(col("ar")).as("ta")))
      a = araw.crossJoin(ta)
        .select(col("pk"), (col("ar") / col("ta")).as("a"))
        .localCheckpoint()
      val hraw = e.join(a, "pk").groupBy(col("sk"))
        .agg(sum(col("a")).as("hr"))
      val th = broadcast(hraw.agg(sum(col("hr")).as("th")))
      h = hraw.crossJoin(th)
        .select(col("sk"), (col("hr") / col("th")).as("h"))
        .localCheckpoint()
    }
    val hubs = h.select(lit("hub").as("kind"), col("sk").as("node_id"),
        round(col("h"), 5).as("score"))
      .orderBy(col("score").desc, col("node_id")).limit(10)
    val auths = a.select(lit("authority").as("kind"),
        col("pk").as("node_id"), round(col("a"), 5).as("score"))
      .orderBy(col("score").desc, col("node_id")).limit(10)
    hubs.unionAll(auths)
      .orderBy(col("kind"), col("score").desc, col("node_id"))
  }

  val q270Sql: String = {
    val rounds = (1 to HitsRounds).map { k =>
      s"""ar$k AS MATERIALIZED (
         |  SELECT pk, sum(h) AS ar FROM e JOIN h${k - 1} USING (sk)
         |  GROUP BY pk),
         |a$k AS MATERIALIZED (
         |  SELECT pk, ar / (SELECT sum(ar) FROM ar$k) AS a FROM ar$k),
         |hr$k AS MATERIALIZED (
         |  SELECT sk, sum(a) AS hr FROM e JOIN a$k USING (pk)
         |  GROUP BY sk),
         |h$k AS MATERIALIZED (
         |  SELECT sk, hr / (SELECT sum(hr) FROM hr$k) AS h FROM hr$k)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
       |h0 AS (SELECT DISTINCT sk, CAST(1.0 AS DOUBLE) AS h FROM e),
       |$rounds,
       |hubs AS (
       |  SELECT 'hub' AS kind, sk AS node_id, round(h, 5) AS score
       |  FROM h$HitsRounds ORDER BY score DESC, node_id LIMIT 10),
       |auths AS (
       |  SELECT 'authority' AS kind, pk AS node_id, round(a, 5) AS score
       |  FROM a$HitsRounds ORDER BY score DESC, node_id LIMIT 10)
       |SELECT kind, node_id, score FROM (
       |  SELECT * FROM hubs UNION ALL SELECT * FROM auths)
       |ORDER BY kind, score DESC, node_id""".stripMargin
  }

  // ─── q170: BFS hop distance (multi-source shortest unweighted path) ───
  // "How far is every customer/supplier from the nation-0 supplier base"
  // over the bipartite trade graph (customer —ordered-from— supplier,
  // derived from orders ⋈ lineitem). The classic iterative-frontier BFS:
  // each round joins the frontier against the directed edge list, anti-
  // joins what's already labeled (first discovery IS the minimum hop
  // count), and unions the rest in at distance i.
  //
  // Scale: each round is one shuffle join keyed on the frontier node id
  // plus one anti join against the accumulated labels — both key-
  // partitioned, no adjacency collection. Only the per-round FRONTIER is
  // checkpointed (lazily — the count() that decides termination is the
  // same job that materializes the checkpoint, so the loop costs ONE
  // action per hop); the accumulated label set is a lazy union over the
  // already-materialized layers, built once at the end. The earlier form
  // re-checkpointed dist every round, re-writing hop 0..i−1's rows to the
  // block store i times — O(hops²) materialized rows vs O(hops·layer)
  // here. Lineage stays truncated because every union leaf IS a
  // checkpoint. Depth is capped (the oracle's recursive CTE carries the
  // same cap), which is also the honest production posture: hop-bounded
  // reachability, not unbounded transitive closure. The DuckDB oracle
  // computes the same fixpoint via WITH RECURSIVE + min(d) — a completely
  // independent evaluation strategy over the same semantics.
  def bfsHops(edges: DataFrame, seed: DataFrame, maxHops: Int): DataFrame = {
    // edges: (ftyp, fid, ttyp, tid) directed; seed: (typ, id)
    val seed0 = seed.select(col("typ"), col("id"), lit(0L).as("hops"))
      .localCheckpoint()
    var layers = List(seed0)
    var frontier = seed0
    var frontierSize = 1L // seed materialization implies non-empty check ran
    var i = 1
    while (i <= maxHops && frontierSize > 0L) {
      val labeled = layers.reduce(_ unionAll _)
      val nxt = frontier
        .join(edges, frontier("typ") === edges("ftyp") &&
                     frontier("id") === edges("fid"))
        .select(col("ttyp").as("typ"), col("tid").as("id")).distinct()
        .join(labeled, Seq("typ", "id"), "left_anti")
        .withColumn("hops", lit(i.toLong))
        .localCheckpoint(eager = false)
      frontierSize = nxt.count() // materializes the checkpoint in this job
      if (frontierSize > 0L) layers = nxt :: layers
      frontier = nxt
      i += 1
    }
    layers.reduce(_ unionAll _)
  }

  def q170BfsHops(s: SparkSession, d: String): DataFrame = {
    val e = orders(s, d).join(lineitem(s, d),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sk")).distinct()
    val dir = e.select(lit("c").as("ftyp"), col("c").as("fid"),
                       lit("s").as("ttyp"), col("sk").as("tid"))
      .unionAll(e.select(lit("s").as("ftyp"), col("sk").as("fid"),
                         lit("c").as("ttyp"), col("c").as("tid")))
    // seed: every 50th supplier — a deterministic sample that is non-empty
    // at every scale factor and grows with the table (supplier keys are
    // dense from 1), unlike a nation filter which can be empty at tiny SF.
    val seed = supplier(s, d).where(col("s_suppkey") % 50 === 1)
      .select(lit("s").as("typ"), col("s_suppkey").as("id"))
    // checkpoint the edge list ONCE (the q150 edge-frame discipline):
    // bfsHops joins it every hop, and an un-materialized lineage would
    // re-run the orders⋈lineitem distinct per round — 5 rebuilds of the
    // most expensive frame in the query for 1 extra action
    bfsHops(dir.localCheckpoint(), seed, maxHops = 4)
      .orderBy("typ", "id")
  }

  val q170Sql: String =
    """WITH RECURSIVE
      |e AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sk
      |      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |dir AS (
      |  SELECT 'c' AS ftyp, c AS fid, 's' AS ttyp, sk AS tid FROM e
      |  UNION ALL
      |  SELECT 's', sk, 'c', c FROM e),
      |walk(typ, id, d) AS (
      |  SELECT 's', s_suppkey, 0 FROM supplier WHERE s_suppkey % 50 = 1
      |  UNION
      |  SELECT dir.ttyp, dir.tid, w.d + 1
      |  FROM walk w JOIN dir ON dir.ftyp = w.typ AND dir.fid = w.id
      |  WHERE w.d < 4)
      |SELECT typ, id, CAST(min(d) AS BIGINT) AS hops
      |FROM walk GROUP BY typ, id
      |ORDER BY typ, id""".stripMargin

  // ─── q171: triangle counting on the co-purchase graph ─────────────────
  // Triangles (three parts that pairwise co-occur in orders) measure
  // clustering in the affinity graph — the densest-subgraph signal
  // recommendation pipelines use beyond pairwise lift (q163). Edge list =
  // part pairs co-occurring in ≥2 orders, oriented p1 < p2; a triangle is
  // counted exactly once as (a<b<c) by the canonical two-hop + closing-
  // edge join.
  //
  // Scale: the pair build shuffles on l_orderkey (bounded per-basket
  // fanout, see q163); the triangle join is the standard edge-edge-edge
  // plan — each join keys on a single node column, and the min-support
  // cut keeps the oriented edge list sparse. Edges are oriented by
  // (degree, id), not raw id: under id-orientation a hub that happens to
  // land on a small id owns O(deg²) wedges (the power-law killer at
  // 100×); under degree-orientation every node's out-degree is bounded
  // by its count of HIGHER-degree neighbours, which for any graph caps
  // the wedge total at O(m^1.5) (Schank–Wagner / Latapy bound). The
  // total triangle count is orientation-invariant — each triangle is
  // counted exactly once as the directed path a→b→c plus closing edge
  // a→c under ANY acyclic orientation — so the id-oriented DuckDB oracle
  // still checks the answer exactly.

  /** Orient undirected canonical edges (p1 < p2) from the lower-(deg, id)
    * endpoint to the higher, where deg is computed on the input edge set
    * itself. Output columns (src, dst); one row per input edge. */
  def orientByDegree(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("p1").as("n"))
      .unionAll(edges.select(col("p2").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    edges
      .join(deg.as("d1"), col("p1") === col("d1.n"))
      .join(deg.as("d2"), col("p2") === col("d2.n"))
      .select(
        when(col("d1.deg") < col("d2.deg") ||
             (col("d1.deg") === col("d2.deg") && col("p1") < col("p2")),
             col("p1")).otherwise(col("p2")).as("src"),
        when(col("d1.deg") < col("d2.deg") ||
             (col("d1.deg") === col("d2.deg") && col("p1") < col("p2")),
             col("p2")).otherwise(col("p1")).as("dst"))
  }

  /** Canonical co-purchase edge list (p1 < p2): part pairs co-occurring
    * in ≥ 2 orders. Shared by q171 (triangles) and q233 (communities);
    * the pair build shuffles on l_orderkey with basket-bounded fanout
    * (the q163 argument). */
  private[graft] def coPurchaseEdges(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    li.as("a")
      .join(li.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
      .agg(count(lit(1)).as("w"))
      .where(col("w") >= 2)
      .select("p1", "p2")
  }

  def q171TriangleCount(s: SparkSession, d: String): DataFrame = {
    val canonical = coPurchaseEdges(s, d)
    val edges = orientByDegree(canonical)
    val tri = edges.as("e1")
      .join(edges.as("e2"), col("e1.dst") === col("e2.src"))
      .join(edges.as("e3"), col("e1.src") === col("e3.src") &&
                            col("e2.dst") === col("e3.dst"))
    tri.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(broadcast(edges.agg(count(lit(1)).as("n_edges"))))
      .select(col("n_triangles"), col("n_edges"))
  }

  val q171Sql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |            FROM lineitem),
      |edges AS (
      |  SELECT a.pk AS p1, b.pk AS p2
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY a.pk, b.pk
      |  HAVING count(*) >= 2)
      |SELECT
      |  CAST((SELECT count(*)
      |        FROM edges e1
      |        JOIN edges e2 ON e1.p2 = e2.p1
      |        JOIN edges e3 ON e1.p1 = e3.p1 AND e2.p2 = e3.p2) AS BIGINT)
      |    AS n_triangles,
      |  CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges""".stripMargin

  // ─── q233: label-propagation community detection (sync LPA) ───────────
  // Communities in the co-purchase graph — the modularity-style signal
  // beyond connected components (q71 merges everything touching;
  // LPA splits a connected graph into densely-linked regions). The
  // SYNCHRONOUS deterministic variant (Raghavan et al. 2007 made
  // reproducible): every node starts as its own label; each round, every
  // node simultaneously adopts the most frequent label among its
  // neighbours, ties broken by the SMALLEST label — argmax over
  // (count, −label), the q198 fused-ordering discipline — for a FIXED
  // 4 rounds (async/random LPA converges faster but is run-order
  // dependent, useless against a cross-engine oracle).
  //
  // Scale: each round is one equi-join of the (src, dst) edge list
  // against the (node, label) frame — both fixed-width long pairs — plus
  // two map-side-combined aggregates; the same per-round shape as
  // PageRank (q150) without the broadcast (labels key the join on dst).
  // The edge list is built once and cached (caller-owned release —
  // Bench/Verify clearCache per query); rounds are a fixed count, so the
  // whole computation is ONE action with a 4-round-deep lazy plan — no
  // fixpoint probe, no driver loop (ActionAudit-bounded).
  // Fixture note: at sf0.001 the w≥2 graph is DENSE (avg degree ~23 over
  // 200 parts) and sync LPA correctly collapses it to one community; the
  // interesting structure appears from the driver's gate SF up (sf0.01:
  // 349 communities over 1 880 nodes; sf0.1: 4 784 — GraphSpec pins the
  // update rule itself on a planted two-clique graph).
  private val LpaRounds = 4

  /** Synchronous LPA over a SYMMETRIZED (src, dst) edge list: `rounds`
    * simultaneous most-frequent-neighbour-label updates, ties to the
    * smallest label. Returns (node, lbl) for every edge endpoint. */
  private[graft] def lpaLabels(edges: DataFrame, rounds: Int): DataFrame = {
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
    for (_ <- 1 to rounds) {
      labels = edges
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(expr("max_by(lbl, struct(c, -lbl))").as("lbl"))
    }
    labels
  }

  def q233LabelPropagation(s: SparkSession, d: String): DataFrame = {
    val canon = coPurchaseEdges(s, d)
    val edges = canon.select(col("p1").as("src"), col("p2").as("dst"))
      .unionAll(canon.select(col("p2").as("src"), col("p1").as("dst")))
      .cache()
    lpaLabels(edges, LpaRounds)
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"), sum(col("node")).as("member_id_sum"))
      .orderBy(col("community"))
  }

  val q233Sql: String = {
    val rounds = (1 to LpaRounds).map { i =>
      s"""c$i AS (
         |  SELECT e.src AS node, l.lbl, count(*) AS c
         |  FROM edges e JOIN l${i - 1} l ON e.dst = l.node
         |  GROUP BY 1, 2),
         |l$i AS (
         |  SELECT node, lbl FROM c$i
         |  QUALIFY row_number() OVER (PARTITION BY node
         |                             ORDER BY c DESC, lbl) = 1)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem),
       |canon AS (
       |  SELECT a.pk AS p1, b.pk AS p2
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY a.pk, b.pk
       |  HAVING count(*) >= 2),
       |edges AS (SELECT p1 AS src, p2 AS dst FROM canon
       |          UNION ALL SELECT p2, p1 FROM canon),
       |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
       |$rounds
       |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
       |  CAST(sum(node) AS BIGINT) AS member_id_sum
       |FROM l$LpaRounds
       |GROUP BY lbl
       |ORDER BY community""".stripMargin
  }

  // ─── q258: Adamic–Adar link prediction over the co-purchase graph ─────
  // The classic common-neighbour link predictor (Adamic & Adar 2003):
  // score(x, y) = Σ_{z ∈ Γ(x)∩Γ(y)} 1/ln(deg(z)) over non-adjacent pairs
  // — the feature recommendation/graph-completion pipelines rank missing
  // edges by. Wedge generation is the q171 shape (incident-list self-join
  // on the shared neighbour z); two disciplines make it 100 TB-safe:
  //  - DEGREE CAP: a neighbour z fans out deg(z)² candidate pairs, so a
  //    power-law hub on z is quadratic. Capping contributing neighbours
  //    at deg ≤ [[AaDegCap]] bounds per-z fanout at cap² AND is the
  //    standard semantic prune — a hub's per-pair weight 1/ln(deg) is
  //    the smallest in the graph, so dropping it barely moves the
  //    ranking (the cap is part of the operator's contract; the oracle
  //    applies the identical cap).
  //  - INTEGER-MICRO WEIGHTS: each wedge weight round(1e6/ln(deg(z)))
  //    is quantized to a BIGINT before any aggregation, so the per-pair
  //    sum is order-independent and exact in both engines (the q231
  //    quantize-then-sum rule; ln runs on an integer degree, identical
  //    IEEE doubles on both sides).
  // deg(z) = 1 neighbours are skipped up front: a degree-1 node has no
  // pair of distinct neighbours (no wedge) and its ln is 0. Existing
  // edges leave via a LEFT ANTI join on the canonical (p1 < p2) edge
  // list — fixed-width long pairs, like every shuffle here. Top-20 by
  // the exact integer score (ties to (p1, p2)) is TakeOrderedAndProject.
  private val AaDegCap = 64

  /** Adamic–Adar scores for non-adjacent pairs of a canonical (p1 < p2)
    * edge list: (p1, p2, aa_micro, n_common). Factored from [[q258AdamicAdar]]
    * so GraphSpec can drive planted graphs through the exact operator. */
  private[graft] def adamicAdarPairs(canon: DataFrame): DataFrame = {
    val sym = canon.select(col("p1").as("src"), col("p2").as("dst"))
      .unionAll(canon.select(col("p2").as("src"), col("p1").as("dst")))
    val deg = sym.groupBy(col("src").as("z")).agg(count(lit(1)).as("deg"))
    val inc = sym.select(col("dst").as("z"), col("src").as("x"))
      .join(deg.where(col("deg") >= 2 && col("deg") <= AaDegCap), "z")
      .withColumn("w",
        round(lit(1e6) / log(col("deg").cast("double"))).cast("long"))
    inc.as("a")
      .join(inc.as("b"),
        col("a.z") === col("b.z") && col("a.x") < col("b.x"))
      .groupBy(col("a.x").as("p1"), col("b.x").as("p2"))
      .agg(sum(col("a.w")).as("aa_micro"), count(lit(1)).as("n_common"))
      .join(canon, Seq("p1", "p2"), "left_anti")
  }

  def q258AdamicAdar(s: SparkSession, d: String): DataFrame = {
    // canon feeds the wedge join twice (via sym) and the anti join once;
    // cache so the w>=2 co-purchase aggregation prices once (caller-owned
    // release — Bench/Verify clearCache per query, the q233 contract).
    val canon = coPurchaseEdges(s, d).cache()
    adamicAdarPairs(canon)
      .orderBy(col("aa_micro").desc, col("p1"), col("p2"))
      .limit(20)
  }

  val q258Sql: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem),
       |canon AS MATERIALIZED (
       |  SELECT a.pk AS p1, b.pk AS p2
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY a.pk, b.pk
       |  HAVING count(*) >= 2),
       |sym AS (SELECT p1 AS src, p2 AS dst FROM canon
       |        UNION ALL SELECT p2, p1 FROM canon),
       |deg AS (SELECT src AS z, count(*) AS deg FROM sym GROUP BY src),
       |inc AS MATERIALIZED (
       |  SELECT s.dst AS z, s.src AS x,
       |    CAST(round(1000000.0 / ln(CAST(d.deg AS DOUBLE))) AS BIGINT) AS w
       |  FROM sym s JOIN deg d ON s.dst = d.z
       |  WHERE d.deg BETWEEN 2 AND $AaDegCap),
       |pairs AS (
       |  SELECT a.x AS p1, b.x AS p2, CAST(sum(a.w) AS BIGINT) AS aa_micro,
       |    CAST(count(*) AS BIGINT) AS n_common
       |  FROM inc a JOIN inc b ON a.z = b.z AND a.x < b.x
       |  GROUP BY a.x, b.x)
       |SELECT p1, p2, aa_micro, n_common
       |FROM pairs
       |WHERE NOT EXISTS (SELECT 1 FROM canon c
       |                  WHERE c.p1 = pairs.p1 AND c.p2 = pairs.p2)
       |ORDER BY aa_micro DESC, p1, p2
       |LIMIT 20""".stripMargin

  // ─── q267: Borůvka maximum spanning forest ────────────────────────────
  // THE parallel MST algorithm (Borůvka 1926; the one every distributed
  // graph framework implements, because each round is embarrassingly
  // parallel): every component simultaneously grabs its best incident
  // edge, components merge, repeat — components at least halve per
  // round. Here it runs as a MAXIMUM spanning forest over the weighted
  // co-purchase graph (w = co-purchase count): the backbone of strongest
  // affinities, the skeleton recommendation/taxonomy layers are built
  // on. [[MstRounds]] fixed rounds (the census reports what each round
  // added; a converged graph simply adds nothing — at sf0.1 round 3 is
  // already empty, and the row disappears identically in both engines).
  //
  // Determinism: per-component argmax orders by (w DESC, p1, p2) —
  // integer weight, integer tie-breaks; component labels come from the
  // same min-label contract [[connectedComponents]] and the oracle's
  // recursive closure both compute, and only the PARTITION BLOCKS
  // matter (grouping is label-invariant). Two components picking the
  // same edge dedup via DISTINCT — the standard Borůvka union step.
  //
  // Scale: per round = two label equi-joins on (long, long) edges + one
  // per-component window whose input shrinks with the surviving
  // cross-component edge set + the CC fixpoint (O(log² n), lineage-
  // truncated). Forest size is node-bounded, never edge-bounded.
  private val MstRounds = 3

  /** Borůvka maximum-spanning-forest rounds over a canonical weighted
    * (p1 < p2, w) edge list: returns (forest tagged by join-round,
    * final (node, comp) labels). Factored from [[q267BoruvkaForest]]
    * so GraphSpec can drive planted graphs.
    *
    * Contraction between rounds runs on the COMPONENT GRAPH (the r10
    * shave of the r9 incremental form): the selected edges are mapped
    * to their endpoint components (ca, cb) and CC runs over THOSE —
    * an input bounded by the selection (≤ |components| edges), not by
    * the node count, so every post-round-1 fixpoint works on a frame
    * that shrinks geometrically with Borůvka's component halving.
    * Labels are provably unchanged: inductively each comp label is the
    * min node id of its members, so min-over-merged-comps of old
    * labels = min node id of the union — the same min-label contract
    * the full CC over stars ∪ edges computed (GraphSpec pins this on
    * planted graphs; the oracle's closure is label-identical). */
  private[graft] def boruvkaForest(wEdgesIn: DataFrame,
                                   rounds: Int): (DataFrame, DataFrame) = {
    val wEdges = wEdgesIn.localCheckpoint()
    val nodes = wEdges.select(col("p1").as("node"))
      .union(wEdges.select(col("p2").as("node"))).distinct()
      .localCheckpoint()
    var lbl = nodes.withColumn("comp", col("node")).localCheckpoint()
    var forest = wEdges
      .select(col("p1"), col("p2"), col("w"), lit(0L).as("round"))
      .limit(0).localCheckpoint()
    // the live edge set SHRINKS with contraction: an edge that lands
    // intra-component can never become cross-component again
    // (components only grow), so each round re-labels only the edges
    // that survived the previous round's ca ≠ cb filter — round 1 pays
    // the full edge set, later rounds a geometrically smaller one
    var live = wEdges
    for (r <- 1 to rounds) {
      val cand = live
        .join(lbl.select(col("node").as("p1"), col("comp").as("ca")), "p1")
        .join(lbl.select(col("node").as("p2"), col("comp").as("cb")), "p2")
        .where(col("ca") =!= col("cb"))
        .localCheckpoint()
      live = cand.select(col("p1"), col("p2"), col("w"))
      val views = cand
        .select(col("ca").as("comp"), col("p1"), col("p2"), col("w"),
                col("ca"), col("cb"))
        .unionAll(cand
          .select(col("cb").as("comp"), col("p1"), col("p2"), col("w"),
                  col("ca"), col("cb")))
      val wSel = Window.partitionBy(col("comp"))
        .orderBy(col("w").desc, col("p1"), col("p2"))
      val sel = views.withColumn("rn", row_number().over(wSel))
        .where(col("rn") === 1)
        .select(col("p1"), col("p2"), col("w"), col("ca"), col("cb"))
        .distinct()
        .localCheckpoint()
      forest = forest
        .unionAll(sel.select(col("p1"), col("p2"), col("w"),
          lit(r.toLong).as("round")))
        .localCheckpoint()
      val comp = connectedComponents(
          sel.select(col("ca").as("src"), col("cb").as("dst")),
          "src", "dst")
        .select(col("node").as("old_comp"), col("component"))
      lbl = lbl.join(comp, lbl("comp") === comp("old_comp"), "left")
        .select(col("node"),
          coalesce(col("component"), col("comp")).as("comp"))
        .localCheckpoint()
    }
    (forest, lbl)
  }

  def q267BoruvkaForest(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val wEdges = li.as("a")
      .join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
      .agg(count(lit(1)).as("w"))
      .where(col("w") >= 2L)
    val (forest, lbl) = boruvkaForest(wEdges, MstRounds)
    val fin = broadcast(lbl
      .agg(countDistinct(col("comp")).as("n_components_final"))
      .crossJoin(forest.agg(sum(col("w")).as("forest_weight"))))
    forest.groupBy(col("round"))
      .agg(count(lit(1)).as("n_edges_added"),
           sum(col("w")).as("weight_added"),
           sum(col("p1") + col("p2")).as("added_checksum"))
      .crossJoin(fin)
      .orderBy(col("round"))
  }

  val q267Sql: String = {
    def closure(r: Int) =
      s"""bidir$r AS (SELECT p1 AS u, p2 AS v FROM forest$r
         |            UNION SELECT p2, p1 FROM forest$r),
         |reach$r AS (
         |  SELECT u AS node, u AS lab FROM bidir$r
         |  UNION
         |  SELECT b.v AS node, x.lab FROM reach$r x
         |  JOIN bidir$r b ON b.u = x.node),
         |comp$r AS (SELECT node, min(lab) AS component
         |           FROM reach$r GROUP BY node),
         |lbl$r AS (SELECT n.node, coalesce(c.component, n.node) AS comp
         |          FROM nodes n LEFT JOIN comp$r c USING (node))"""
        .stripMargin
    def rnd(r: Int) =
      s"""cand$r AS (
         |  SELECT e.p1, e.p2, e.w, la.comp AS ca, lb.comp AS cb
         |  FROM wedges e JOIN lbl${r - 1} la ON e.p1 = la.node
         |                JOIN lbl${r - 1} lb ON e.p2 = lb.node
         |  WHERE la.comp <> lb.comp),
         |sel$r AS MATERIALIZED (
         |  SELECT DISTINCT p1, p2, w FROM (
         |    SELECT comp, p1, p2, w, row_number() OVER (PARTITION BY comp
         |        ORDER BY w DESC, p1, p2) AS rn
         |    FROM (SELECT ca AS comp, p1, p2, w FROM cand$r
         |          UNION ALL SELECT cb, p1, p2, w FROM cand$r))
         |  WHERE rn = 1),
         |forest$r AS MATERIALIZED (
         |  SELECT p1, p2, w, CAST($r AS BIGINT) AS round FROM sel$r
         |  UNION ALL SELECT p1, p2, w, round FROM forest${r - 1})"""
        .stripMargin
    val rounds = (1 to MstRounds)
      .map(r => s"${rnd(r)},\n${closure(r)}").mkString(",\n")
    s"""WITH RECURSIVE li AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |wedges AS MATERIALIZED (
       |  SELECT a.pk AS p1, b.pk AS p2, CAST(count(*) AS BIGINT) AS w
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY a.pk, b.pk HAVING count(*) >= 2),
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT p1 AS node FROM wedges
       |  UNION SELECT DISTINCT p2 FROM wedges),
       |forest0 AS (SELECT p1, p2, w, CAST(0 AS BIGINT) AS round
       |            FROM wedges WHERE 1=0),
       |lbl0 AS (SELECT node, node AS comp FROM nodes),
       |$rounds,
       |fin AS (
       |  SELECT CAST(count(DISTINCT comp) AS BIGINT) AS n_components_final,
       |    (SELECT CAST(sum(w) AS BIGINT) FROM forest$MstRounds)
       |      AS forest_weight
       |  FROM lbl$MstRounds)
       |SELECT round, CAST(count(*) AS BIGINT) AS n_edges_added,
       |  CAST(sum(w) AS BIGINT) AS weight_added,
       |  CAST(sum(p1 + p2) AS BIGINT) AS added_checksum,
       |  n_components_final, forest_weight
       |FROM forest$MstRounds, fin
       |GROUP BY round, n_components_final, forest_weight
       |ORDER BY round""".stripMargin
  }

  // ─── q222: leakage-safe train/val/test split — split by CLUSTER ───────
  // q204 AUDITS split leakage after the fact; this is the CONSTRUCTIVE
  // counterpart: assign splits by hashing the near-dup CLUSTER id (q199's
  // connected components over verified LSH pairs), not the doc id, so a
  // document and its near-duplicates land in the same split BY
  // CONSTRUCTION — the published held-out-set discipline (a test doc
  // whose near-twin sits in train is a leak no post-hoc filter fully
  // repairs). Both schemes hash with the SAME salt, so singleton docs
  // (cluster_id = doc_id) get identical assignments under either — the
  // leak contrast below isolates exactly the near-dup population.
  //
  // The census carries the proof: per split, alongside docs/clusters/char
  // sums, `leak_doc_pairs` counts verified near-dup pairs the naive
  // doc-id hash split would straddle (attributed to doc_a's split), and
  // `leak_cluster_pairs` the same count under the cluster split — zero by
  // construction, and the oracle RECOMPUTES it (recursive closure + both
  // assignments) rather than trusting the claim.
  //
  // Scale: pairs/CC as q199 (fixed-width, bucket-joined); assignment is a
  // projection; the leak joins key on doc ids; census aggregates are
  // map-side combined. The 3-row leak frames join the 3-row census —
  // nothing here grows beyond the pair count.
  def q222LeakageSafeSplit(s: SparkSession, d: String): DataFrame = {
    // materialized once (r15, §5): the verified-pair pipeline feeds the
    // CC fixpoint AND the pair-split leak joins — unchecked it re-ran
    // the whole tokenize→minhash→verify pipeline per consumer
    val pairs = TextSim.minhashPairs(s, d, TextSim.DefaultK, TextSim.DefaultB)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    val comp = connectedComponents(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")),
      "src", "dst")
    def splitOf(c: Column): Column = {
      val h = substring(md5(concat(lit("gsplit:"), c.cast("string"))), 1, 2)
      when(h < "cc", "train").when(h < "e6", "val").otherwise("test")
    }
    val corpus = TextSim.dedupCorpus(s, d)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
    // materialized once (r15, §5): three consumers (both pair-split
    // sides and the census) read one assignment pass
    val assigned = corpus
      .join(comp, corpus("doc_id") === comp("node"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
      .withColumn("split", splitOf(col("cluster_id")))
      .withColumn("doc_split", splitOf(col("doc_id")))
      .localCheckpoint()
    val a = assigned.select(col("doc_id").as("doc_a"),
      col("split").as("split_a"), col("doc_split").as("dsplit_a"))
    val b = assigned.select(col("doc_id").as("doc_b"),
      col("split").as("split_b"), col("doc_split").as("dsplit_b"))
    val pairSplits = pairs.join(a, "doc_a").join(b, "doc_b")
    val leakDoc = pairSplits.where(col("dsplit_a") =!= col("dsplit_b"))
      .groupBy(col("dsplit_a").as("split"))
      .agg(count(lit(1)).as("leak_doc_pairs"))
    val leakCluster = pairSplits.where(col("split_a") =!= col("split_b"))
      .groupBy(col("split_a").as("split"))
      .agg(count(lit(1)).as("leak_cluster_pairs"))
    assigned.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("cluster_id")).as("n_clusters"),
           sum(col("n_chars")).as("char_sum"))
      .join(leakDoc, Seq("split"), "left")
      .join(leakCluster, Seq("split"), "left")
      .select(col("split"), col("n_docs"), col("n_clusters"), col("char_sum"),
        coalesce(col("leak_doc_pairs"), lit(0L)).as("leak_doc_pairs"),
        coalesce(col("leak_cluster_pairs"), lit(0L)).as("leak_cluster_pairs"))
      .orderBy(col("split"))
  }

  val q222Sql: String =
    s"""WITH RECURSIVE ${TextSim.minhashPairCtes(TextSim.DefaultK, TextSim.DefaultB)},
       |bidir AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT u AS node, u AS lab FROM bidir
       |  UNION
       |  SELECT b.v AS node, r.lab FROM reach r JOIN bidir b ON b.u = r.node),
       |compo AS (SELECT node, min(lab) AS component FROM reach GROUP BY node),
       |sp AS (
       |  SELECT doc_id, n_chars, cluster_id,
       |    CASE WHEN substr(md5('gsplit:' || CAST(cluster_id AS VARCHAR)), 1, 2)
       |           < 'cc' THEN 'train'
       |         WHEN substr(md5('gsplit:' || CAST(cluster_id AS VARCHAR)), 1, 2)
       |           < 'e6' THEN 'val'
       |         ELSE 'test' END AS split,
       |    CASE WHEN substr(md5('gsplit:' || CAST(doc_id AS VARCHAR)), 1, 2)
       |           < 'cc' THEN 'train'
       |         WHEN substr(md5('gsplit:' || CAST(doc_id AS VARCHAR)), 1, 2)
       |           < 'e6' THEN 'val'
       |         ELSE 'test' END AS doc_split
       |  FROM (
       |    SELECT c.doc_id, CAST(length(c.text) AS BIGINT) AS n_chars,
       |      coalesce(component, c.doc_id) AS cluster_id
       |    FROM corpus c LEFT JOIN compo ON c.doc_id = node)),
       |ps AS (
       |  SELECT sa.split AS split_a, sb.split AS split_b,
       |    sa.doc_split AS dsplit_a, sb.doc_split AS dsplit_b
       |  FROM pairs p
       |  JOIN sp sa ON p.doc_a = sa.doc_id
       |  JOIN sp sb ON p.doc_b = sb.doc_id),
       |ld AS (SELECT dsplit_a AS split, count(*) AS leak_doc_pairs
       |       FROM ps WHERE dsplit_a <> dsplit_b GROUP BY dsplit_a),
       |lc AS (SELECT split_a AS split, count(*) AS leak_cluster_pairs
       |       FROM ps WHERE split_a <> split_b GROUP BY split_a),
       |census AS (
       |  SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       |    CAST(sum(n_chars) AS BIGINT) AS char_sum
       |  FROM sp GROUP BY split)
       |SELECT c.split, n_docs, n_clusters, char_sum,
       |  CAST(coalesce(leak_doc_pairs, 0) AS BIGINT) AS leak_doc_pairs,
       |  CAST(coalesce(leak_cluster_pairs, 0) AS BIGINT) AS leak_cluster_pairs
       |FROM census c
       |LEFT JOIN ld ON c.split = ld.split
       |LEFT JOIN lc ON c.split = lc.split
       |ORDER BY c.split""".stripMargin

  // ─── q295: k-core decomposition (iterative peel census) ───────────────
  // The degeneracy-ordering primitive (Seidman 1983; Batagelj–Zaveršnik
  // peel): repeatedly delete nodes of degree < k until every survivor has
  // ≥ k neighbours INSIDE the survivor set. The k-core is the standard
  // "dense backbone" filter graph-quality priors gate on — PageRank ranks
  // nodes, the core/periphery CUT says which nodes sit in a cohesive
  // region at all (spam/boilerplate link farms shed in the first peels).
  //
  // Determinism: the peel is label-free — each round's survivor set is a
  // pure function of the edge set, so no tie-break is ever needed. Runs
  // [[KCoreRounds]] FIXED synchronous rounds (the q233 discipline: a
  // converged peel removes nothing and the census row shows it — the
  // honest cross-engine form; sf0.01 converges by round 3).
  //
  // Scale: per round = one map-side-combined degree aggregate over the
  // current edge list + two semi-joins keyed on single long node columns
  // — fixed-width shuffles, input MONOTONICALLY SHRINKING (peeling never
  // adds). One localCheckpoint action per round (the CC/PageRank
  // discipline — see kCorePeel's note for the measured cost of the lazy
  // alternative), ActionAudit-bounded.
  private val KCoreK = 3
  private val KCoreRounds = 4

  /** One census row per peel round over a canonical (p1 < p2) edge list:
    * (round, n_before, n_kept, n_removed, n_edges) where n_before counts
    * nodes incident to the round's input edges, n_kept those with
    * degree ≥ k, and n_edges the surviving edges. Factored from
    * [[q295KCore]] so GraphSpec can drive planted graphs. */
  private[graft] def kCorePeel(canon: DataFrame, k: Int,
                               rounds: Int): DataFrame = {
    // localCheckpoint per round (the CC/PageRank iterative discipline):
    // each round's edge set feeds the next round AND its own census row
    // AND (via deg) the round after — a lazy chain would re-expand the
    // shared peel subtree once per census branch of the final union
    // (measured 16.6 s at sf0.1; checkpointed ~1 s). One bounded action
    // per round, lineage truncated.
    var edges = canon.select("p1", "p2").localCheckpoint()
    val census = Seq.newBuilder[DataFrame]
    for (r <- 1 to rounds) {
      val deg = edges.select(col("p1").as("n"))
        .unionAll(edges.select(col("p2").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      val keep = deg.where(col("deg") >= k).select("n")
      val next = edges
        .join(keep.select(col("n").as("p1")), Seq("p1"), "left_semi")
        .join(keep.select(col("n").as("p2")), Seq("p2"), "left_semi")
        .select("p1", "p2")
        .localCheckpoint()
      // coalesce: a fully-peeled (empty) round has count 0 but a NULL
      // sum — the census must read (0, 0), matching the oracle's
      // scalar-subquery counts (bit at sf0.1, where 3-core converges
      // to empty by round 3)
      census += deg
        .agg(count(lit(1)).as("n_before"),
             coalesce(sum(when(col("deg") >= k, 1L).otherwise(0L)),
               lit(0L)).as("n_kept"))
        .crossJoin(broadcast(next.agg(count(lit(1)).as("n_edges"))))
        .select(lit(r.toLong).as("round"), col("n_before"), col("n_kept"),
          (col("n_before") - col("n_kept")).as("n_removed"), col("n_edges"))
      edges = next
    }
    census.result().reduce(_ unionAll _)
  }

  def q295KCore(s: SparkSession, d: String): DataFrame =
    kCorePeel(coPurchaseEdges(s, d), KCoreK, KCoreRounds)
      .orderBy(col("round"))

  val q295Sql: String = {
    val rounds = (1 to KCoreRounds).map { r =>
      s"""d$r AS (SELECT n, count(*) AS deg FROM (
         |  SELECT p1 AS n FROM e${r - 1} UNION ALL SELECT p2 FROM e${r - 1})
         |  GROUP BY n),
         |k$r AS MATERIALIZED (SELECT n FROM d$r WHERE deg >= $KCoreK),
         |e$r AS MATERIALIZED (
         |  SELECT p1, p2 FROM e${r - 1}
         |  WHERE p1 IN (SELECT n FROM k$r) AND p2 IN (SELECT n FROM k$r)),
         |c$r AS (SELECT CAST($r AS BIGINT) AS round,
         |  (SELECT CAST(count(*) AS BIGINT) FROM d$r) AS n_before,
         |  (SELECT CAST(count(*) AS BIGINT) FROM k$r) AS n_kept,
         |  (SELECT CAST(count(*) AS BIGINT) FROM e$r) AS n_edges)"""
        .stripMargin
    }.mkString(",\n")
    val unions = (1 to KCoreRounds)
      .map(r => s"SELECT * FROM c$r").mkString(" UNION ALL ")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT a.pk AS p1, b.pk AS p2
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY a.pk, b.pk HAVING count(*) >= 2),
       |$rounds
       |SELECT round, n_before, n_kept, n_before - n_kept AS n_removed,
       |  n_edges
       |FROM ($unions)
       |ORDER BY round""".stripMargin
  }

  // ─── q301: local clustering coefficient (degree-stratified census) ────
  // Per-node clustering c(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) — how close
  // each node's neighbourhood is to a clique — aggregated BY DEGREE: the
  // Ravasz–Barabási hierarchical-structure read (c(deg) falling with deg
  // signals modular hierarchy; flat c(deg) signals a random graph). This
  // is the node-local refinement of q171's single global triangle count.
  //
  // Per-node triangle counts come from the SAME degree-oriented
  // enumeration as q171 — each triangle surfaces exactly once as a
  // directed wedge plus closing edge, then credits all three of its
  // corners (a 3× projection of the triangle frame, no new join). The
  // per-node count is orientation-invariant, so the id-oriented DuckDB
  // oracle checks it exactly. Per-node c is quantized to integer micros
  // (round — integer inputs, identical IEEE division), and the
  // per-degree mean uses truncating integer division (div ≡ DuckDB //).
  //
  // Scale: inherits q171's O(m^1.5) wedge bound; everything after the
  // triangle frame is node-sized; the census output is degree-sized.
  def q301ClusteringCoefficient(s: SparkSession, d: String): DataFrame = {
    val canon = coPurchaseEdges(s, d).cache()
    val edges = orientByDegree(canon).cache()
    val tri = edges.as("e1")
      .join(edges.as("e2"), col("e1.dst") === col("e2.src"))
      .join(edges.as("e3"), col("e1.src") === col("e3.src") &&
                            col("e2.dst") === col("e3.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
              col("e2.dst").as("c"))
    val nodeTri = tri.select(col("a").as("n"))
      .unionAll(tri.select(col("b").as("n")))
      .unionAll(tri.select(col("c").as("n")))
      .groupBy("n").agg(count(lit(1)).as("n_tri"))
    val deg = canon.select(col("p1").as("n"))
      .unionAll(canon.select(col("p2").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    deg.where(col("deg") >= 2)
      .join(nodeTri, Seq("n"), "left")
      .select(col("n"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("cc_micro",
        round(lit(2000000.0) * col("n_tri") /
          (col("deg") * (col("deg") - 1))).cast("long"))
      .groupBy(col("deg"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("n_tri")).as("tri_sum"),
           expr("sum(cc_micro) div count(*)").as("mean_cc_micro"))
      .orderBy(col("deg"))
  }

  val q301Sql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |            FROM lineitem),
      |canon AS MATERIALIZED (
      |  SELECT a.pk AS p1, b.pk AS p2
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY a.pk, b.pk HAVING count(*) >= 2),
      |tri AS MATERIALIZED (
      |  SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
      |  FROM canon e1
      |  JOIN canon e2 ON e1.p2 = e2.p1
      |  JOIN canon e3 ON e1.p1 = e3.p1 AND e2.p2 = e3.p2),
      |nodetri AS (
      |  SELECT n, CAST(count(*) AS BIGINT) AS n_tri FROM (
      |    SELECT a AS n FROM tri UNION ALL SELECT b FROM tri
      |    UNION ALL SELECT c FROM tri)
      |  GROUP BY n),
      |deg AS (
      |  SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
      |    SELECT p1 AS n FROM canon UNION ALL SELECT p2 FROM canon)
      |  GROUP BY n),
      |pernode AS (
      |  SELECT d.deg, coalesce(t.n_tri, 0) AS n_tri,
      |    CAST(round(2000000.0 * coalesce(t.n_tri, 0)
      |      / (d.deg * (d.deg - 1))) AS BIGINT) AS cc_micro
      |  FROM deg d LEFT JOIN nodetri t ON d.n = t.n
      |  WHERE d.deg >= 2)
      |SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes,
      |  CAST(sum(n_tri) AS BIGINT) AS tri_sum,
      |  CAST(sum(cc_micro) AS BIGINT) // CAST(count(*) AS BIGINT)
      |    AS mean_cc_micro
      |FROM pernode
      |GROUP BY deg
      |ORDER BY deg""".stripMargin

  // ─── q296: graph topology census (the "trust this graph?" audit) ──────
  // The one-row summary computed before ANY graph-quality prior is
  // believed: size (n, m), degree extremes/mean, wedge count, global
  // transitivity 3·triangles/wedges (Newman's clustering — the ratio
  // form that weights hubs honestly, unlike q301's per-node mean), and
  // DEGREE ASSORTATIVITY (Newman 2002): the Pearson correlation of
  // endpoint degrees over edges — positive = social-network-like core,
  // negative = hub-and-spoke (disassortative), the single number that
  // says which scaling pathologies (q171's hub wedges, q150's rank
  // sinks) this graph can even exhibit.
  //
  // Exactness: assortativity is computed from the closed form cleared of
  // halves — r = (4·M·Σjk − (Σ(j+k))²) / (2·M·Σ(j²+k²) − (Σ(j+k))²) —
  // so every term is an exact integer SUM over edges; the squares run in
  // DECIMAL(38,0) (the q279 HUGEINT rule: deg ≤ 10⁶ and M ≤ 10¹² keep
  // every product inside 38 digits where int64 would overflow at 100 TB
  // edge counts). Only the final ratio becomes a micro-quantized double.
  //
  // Scale: one degree aggregate + one edge⋈degree join (the q258 shape)
  // + q171's oriented triangle count; census terms are map-side-combined
  // sums — the whole query reduces to a handful of 1-row frames.
  def q296TopologyCensus(s: SparkSession, d: String): DataFrame =
    topologyCensus(coPurchaseEdges(s, d).cache())

  /** The census body over any canonical (p1 < p2) edge list. Factored
    * from [[q296TopologyCensus]] so GraphSpec can drive planted graphs
    * (star = assortativity −1, clique = regular-graph guard path). */
  private[graft] def topologyCensus(canon: DataFrame): DataFrame = {
    val deg = canon.select(col("p1").as("n"))
      .unionAll(canon.select(col("p2").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
      .cache()
    val degStats = deg.agg(
      count(lit(1)).as("n_nodes"), max(col("deg")).as("max_deg"),
      sum(col("deg")).as("deg_sum"),
      expr("sum((deg * (deg - 1)) div 2)").as("wedges"))
    val edgeDeg = canon
      .join(deg.select(col("n").as("p1"), col("deg").as("j")), "p1")
      .join(deg.select(col("n").as("p2"), col("deg").as("k")), "p2")
    val edgeStats = edgeDeg.agg(
      count(lit(1)).as("m"),
      sum((col("j") * col("k")).cast("decimal(38,0)")).as("s_jk"),
      sum((col("j") + col("k")).cast("decimal(38,0)")).as("s_sum"),
      sum((col("j") * col("j") + col("k") * col("k"))
        .cast("decimal(38,0)")).as("s_sq"))
    val oriented = orientByDegree(canon)
    val tri = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.dst") === col("e2.src"))
      .join(oriented.as("e3"), col("e1.src") === col("e3.src") &&
                               col("e2.dst") === col("e3.dst"))
      .agg(count(lit(1)).as("triangles"))
    degStats.crossJoin(broadcast(edgeStats)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("m").as("n_edges"), col("max_deg"),
        expr("(1000000 * deg_sum) div n_nodes").as("mean_deg_micro"),
        col("wedges"), col("triangles"),
        when(col("wedges") > 0L,
          round(lit(3e6) * col("triangles") / col("wedges")))
          .otherwise(lit(0.0)).cast("long").as("transitivity_micro"),
        {
          val num = (lit(4).cast("decimal(38,0)") * col("m") * col("s_jk")
            - col("s_sum") * col("s_sum")).cast("double")
          val den = (lit(2).cast("decimal(38,0)") * col("m") * col("s_sq")
            - col("s_sum") * col("s_sum")).cast("double")
          // a perfectly REGULAR graph has zero degree variance — r is
          // undefined there; pin it to 0 so both engines agree
          when(den =!= 0.0, round(lit(1e6) * num / den))
            .otherwise(lit(0.0)).cast("long").as("assortativity_micro")
        })
  }

  val q296Sql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |            FROM lineitem),
      |canon AS MATERIALIZED (
      |  SELECT a.pk AS p1, b.pk AS p2
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY a.pk, b.pk HAVING count(*) >= 2),
      |deg AS MATERIALIZED (
      |  SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
      |    SELECT p1 AS n FROM canon UNION ALL SELECT p2 FROM canon)
      |  GROUP BY n),
      |ds AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
      |  CAST(max(deg) AS BIGINT) AS max_deg,
      |  CAST(sum(deg) AS BIGINT) AS deg_sum,
      |  CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS wedges FROM deg),
      |es AS (SELECT CAST(count(*) AS BIGINT) AS m,
      |  sum(CAST(d1.deg * d2.deg AS HUGEINT)) AS s_jk,
      |  sum(CAST(d1.deg + d2.deg AS HUGEINT)) AS s_sum,
      |  sum(CAST(d1.deg * d1.deg + d2.deg * d2.deg AS HUGEINT)) AS s_sq
      |  FROM canon e JOIN deg d1 ON e.p1 = d1.n JOIN deg d2 ON e.p2 = d2.n),
      |tr AS (SELECT CAST(count(*) AS BIGINT) AS triangles
      |  FROM canon e1
      |  JOIN canon e2 ON e1.p2 = e2.p1
      |  JOIN canon e3 ON e1.p1 = e3.p1 AND e2.p2 = e3.p2)
      |SELECT n_nodes, m AS n_edges, max_deg,
      |  (1000000 * deg_sum) // n_nodes AS mean_deg_micro,
      |  wedges, triangles,
      |  CAST(CASE WHEN wedges > 0
      |    THEN round(3e6 * triangles / wedges) ELSE 0 END AS BIGINT)
      |    AS transitivity_micro,
      |  CAST(CASE WHEN CAST(2::HUGEINT * m * s_sq - s_sum * s_sum
      |              AS DOUBLE) <> 0
      |    THEN round(1e6 *
      |      CAST(4::HUGEINT * m * s_jk - s_sum * s_sum AS DOUBLE) /
      |      CAST(2::HUGEINT * m * s_sq - s_sum * s_sum AS DOUBLE))
      |    ELSE 0 END AS BIGINT) AS assortativity_micro
      |FROM ds, es, tr""".stripMargin

  // ─── q316: duplicate-cluster size distribution ─────────────────────────
  // The observability read on the dedup pipeline itself: after the q199
  // funnel finds near-dup clusters, HOW duplicated is the corpus —
  // cluster-size histogram (most clusters are pairs; a heavy tail of
  // large clusters signals template spam / mirror sites and predicts how
  // much the keeper pass will delete). Per cluster size: cluster count,
  // docs covered, docs the keeper rule deletes (size − 1 each), and the
  // corpus share in exact basis points. Singletons (docs in no verified
  // pair) ride as size 1, so Σ n_docs ≡ |corpus| — the conservation the
  // oracle recomputes through its recursive closure.
  //
  // Scale: pairs/CC as q199 (bucketed, fixed-width); the histogram is
  // two map-side aggregates over the node-sized label frame.
  def q316ClusterSizeCensus(s: SparkSession, d: String): DataFrame = {
    val pairs = TextSim.minhashPairs(s, d, TextSim.DefaultK,
      TextSim.DefaultB).select(col("doc_a"), col("doc_b"))
    val comp = connectedComponents(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")),
      "src", "dst")
    val corpus = TextSim.dedupCorpus(s, d).select(col("doc_id"))
    val sizes = corpus
      .join(comp, corpus("doc_id") === comp("node"), "left")
      .select(coalesce(col("component"), col("doc_id")).as("cluster"))
      .groupBy(col("cluster")).agg(count(lit(1)).as("size"))
    val tot = broadcast(corpus.agg(count(lit(1)).as("n_corpus")))
    sizes.groupBy(col("size"))
      .agg(count(lit(1)).as("n_clusters"),
           sum(col("size")).as("n_docs"),
           sum(col("size") - 1L).as("n_deletable"))
      .crossJoin(tot)
      .select(col("size"), col("n_clusters"), col("n_docs"),
        col("n_deletable"),
        expr("(10000 * n_docs) div n_corpus").as("corpus_share_bp"))
      .orderBy(col("size"))
  }

  val q316Sql: String =
    s"""WITH RECURSIVE ${TextSim.minhashPairCtes(TextSim.DefaultK,
          TextSim.DefaultB)},
       |bidir AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT u AS node, u AS lab FROM bidir
       |  UNION
       |  SELECT b.v AS node, r.lab FROM reach r JOIN bidir b
       |    ON b.u = r.node),
       |compo AS (SELECT node, min(lab) AS component FROM reach
       |          GROUP BY node),
       |sizes AS (
       |  SELECT coalesce(c.component, d.doc_id) AS cluster,
       |    CAST(count(*) AS BIGINT) AS size
       |  FROM corpus d LEFT JOIN compo c ON d.doc_id = c.node
       |  GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM corpus)
       |SELECT size, CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(sum(size) AS BIGINT) AS n_docs,
       |  CAST(sum(size - 1) AS BIGINT) AS n_deletable,
       |  (10000 * CAST(sum(size) AS BIGINT)) // n_corpus
       |    AS corpus_share_bp
       |FROM sizes, tot
       |GROUP BY size, n_corpus
       |ORDER BY size""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q295_kcore" -> (q295KCore _),
    "q296_topology_census" -> (q296TopologyCensus _),
    "q316_cluster_size_census" -> (q316ClusterSizeCensus _),
    "q301_clustering_coefficient" -> (q301ClusteringCoefficient _),
    "q222_leakage_safe_split" -> (q222LeakageSafeSplit _),
    "q71_dup_clusters" -> (q71DupClusters _),
    "q198_canonical_keeper" -> (q198CanonicalKeeper _),
    "q199_lsh_dedup_funnel" -> (q199LshDedupFunnel _),
    "q150_pagerank" -> (q150PageRank _),
    "q170_bfs_hops" -> (q170BfsHops _),
    "q171_triangle_count" -> (q171TriangleCount _),
    "q233_label_propagation" -> (q233LabelPropagation _),
    "q242_personalized_pagerank" -> (q242PersonalizedPageRank _),
    "q258_adamic_adar" -> (q258AdamicAdar _),
    "q267_boruvka_forest" -> (q267BoruvkaForest _),
    "q270_hits" -> (q270Hits _),
    "q276_incremental_cc" -> (q276IncrementalCc _),
    "q284_bellman_ford" -> (q284BellmanFord _))

  val oracleSql: Map[String, String] = Map(
    "q295_kcore" -> q295Sql,
    "q296_topology_census" -> q296Sql,
    "q316_cluster_size_census" -> q316Sql,
    "q301_clustering_coefficient" -> q301Sql,
    "q222_leakage_safe_split" -> q222Sql,
    "q71_dup_clusters" -> q71Sql,
    "q198_canonical_keeper" -> q198Sql,
    "q199_lsh_dedup_funnel" -> q199Sql,
    "q150_pagerank" -> q150Sql,
    "q170_bfs_hops" -> q170Sql,
    "q171_triangle_count" -> q171Sql,
    "q233_label_propagation" -> q233Sql,
    "q242_personalized_pagerank" -> q242Sql,
    "q258_adamic_adar" -> q258Sql,
    "q267_boruvka_forest" -> q267Sql,
    "q270_hits" -> q270Sql,
    "q276_incremental_cc" -> q276Sql,
    "q284_bellman_ford" -> q284Sql)
}

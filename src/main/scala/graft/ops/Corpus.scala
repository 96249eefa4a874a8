package graft.ops

import graft.Session
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators a training-data pipeline needs BETWEEN
  * cleaning (TextSim) and the trainer's dataloader: deterministic split
  * assignment, PII redaction, salience scoring, chunking, and sequence
  * packing. None exist in the reference (it ships rows to PostgreSQL,
  * course_catalog.py:94–108); all are BASELINE.json north-star surface.
  *
  * Shared scale rules:
  *  - split/redaction decisions are PURE functions of the row (hash of a
  *    stable id, regex of the text) — no global state, no sampling RNG, so
  *    assignment is reproducible under corpus growth and re-partitioning,
  *    and the operators are embarrassingly parallel map stages;
  *  - the only shuffles are the final small aggregations (census frames) or
  *    per-shard window scans; nothing keys a shuffle on document text;
  *  - chunk/pack identities are emitted as fixed-width hashes/ids, so
  *    downstream joins (e.g. chunk -> embedding) never carry bodies.
  */
object Corpus {

  private def tokens(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), t => t =!= "")

  private val tokensSql =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  // ─── q72: deterministic train/val/test split by id hash ───────────────
  // split = first hex byte of md5("split:" || doc_id) against fixed
  // thresholds (0xcc/0xe6 => ~80/10/10). Hash-bucketing, not rand(): the
  // assignment of an existing doc NEVER changes when the corpus grows, and
  // lowercase-hex strings compare identically in every engine — the
  // property that makes held-out sets stable across pipeline re-runs.
  def q72HashSplit(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("h",
        substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 2))
      .withColumn("split",
        when(col("h") < "cc", "train")
          .when(col("h") < "e6", "val")
          .otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           round(avg(col("n_chars")), 4).as("avg_chars"))
      .orderBy(col("split"), col("lang"))

  val q72Sql: String =
    """SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  round(avg(n_chars), 4) AS avg_chars
      |FROM (
      |  SELECT lang, n_chars,
      |    CASE WHEN h < 'cc' THEN 'train'
      |         WHEN h < 'e6' THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM (SELECT lang, n_chars,
      |          substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) AS h
      |        FROM documents))
      |GROUP BY split, lang
      |ORDER BY split, lang""".stripMargin

  // ─── q73: PII scrubbing (regex redaction + audit census) ──────────────
  // The synthetic corpus carries no PII, so the fixture plants it
  // deterministically (an email on every 7th doc, a phone on every 11th)
  // and the operator under test redacts it back out. Patterns are the
  // RE2/Java-regex common subset so both engines compile them identically.
  private val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phonePat = "\\d{3}-\\d{3}-\\d{4}"

  def q73PiiScrub(s: SparkSession, d: String): DataFrame = {
    val withEmail = when(pmod(col("doc_id"), lit(7)) === 0,
      concat(col("text"), lit(" contact user"),
             col("doc_id").cast("string"), lit("@example.com")))
      .otherwise(col("text"))
    documents(s, d)
      .withColumn("t1", withEmail)
      .withColumn("t2",
        when(pmod(col("doc_id"), lit(11)) === 0,
          concat(col("t1"), lit(" call 555-867-5309"))).otherwise(col("t1")))
      .withColumn("n_emails", size(regexp_extract_all(col("t2"), lit(emailPat), lit(0))))
      .withColumn("n_phones", size(regexp_extract_all(col("t2"), lit(phonePat), lit(0))))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(col("t2"), emailPat, "<EMAIL>"),
                       phonePat, "<PHONE>"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("n_emails") + col("n_phones") > 0, 1L).otherwise(0L))
             .as("docs_with_pii"),
           sum(col("n_emails")).cast("long").as("n_emails"),
           sum(col("n_phones")).cast("long").as("n_phones"),
           sum(length(col("t2")) - length(col("scrubbed"))).cast("long")
             .as("chars_removed"))
      .orderBy(col("lang"))
  }

  val q73Sql: String =
    s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN n_emails + n_phones > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS docs_with_pii,
       |  CAST(sum(n_emails) AS BIGINT) AS n_emails,
       |  CAST(sum(n_phones) AS BIGINT) AS n_phones,
       |  CAST(sum(length(t2) - length(scrubbed)) AS BIGINT) AS chars_removed
       |FROM (
       |  SELECT lang, n_emails, n_phones, t2,
       |    regexp_replace(regexp_replace(t2, '$emailPat', '<EMAIL>', 'g'),
       |                   '$phonePat', '<PHONE>', 'g') AS scrubbed
       |  FROM (
       |    SELECT lang, t2,
       |      len(regexp_extract_all(t2, '$emailPat')) AS n_emails,
       |      len(regexp_extract_all(t2, '$phonePat')) AS n_phones
       |    FROM (
       |      SELECT lang,
       |        CASE WHEN doc_id % 11 = 0 THEN t1 || ' call 555-867-5309'
       |             ELSE t1 END AS t2
       |      FROM (
       |        SELECT lang, doc_id,
       |          CASE WHEN doc_id % 7 = 0 THEN
       |            text || ' contact user' || CAST(doc_id AS VARCHAR)
       |                 || '@example.com'
       |          ELSE text END AS t1
       |        FROM documents))))
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  // ─── q74: TF-IDF salience — top-3 terms for every 25th doc ────────────
  // tf over the sampled docs only (pushed-down filter), df over the FULL
  // corpus (it must be), joined on token: both shuffles key on the token
  // string — bounded by |vocab|, not corpus size — and the per-doc top-k
  // is a window over tiny per-doc groups. ln() and the tf/len division are
  // written identically on both sides so the doubles agree bit-for-bit.
  def q74Tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    // corpus size as a 1-row broadcast frame (not a driver-side count):
    // the whole query stays one lazy plan
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val df = toks.distinct().groupBy("token").agg(count(lit(1)).as("df"))
    val sampled = toks.where(pmod(col("doc_id"), lit(25)) === 0)
    val tf = sampled.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val len = sampled.groupBy("doc_id").agg(count(lit(1)).as("len"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("token"))
    tf.join(len, "doc_id").join(df, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        (col("tf").cast("double") / col("len")) *
          log(col("n_docs") / col("df")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 3)
      .select(col("doc_id"), col("token"), round(col("tfidf"), 6).as("tfidf"),
              col("rnk"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  val q74Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($tokensSql) AS token FROM documents),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
       |df AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS df
       |  FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY token),
       |tf AS (
       |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
       |  FROM toks WHERE doc_id % 25 = 0 GROUP BY doc_id, token),
       |len AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS len
       |  FROM toks WHERE doc_id % 25 = 0 GROUP BY doc_id),
       |scored AS (
       |  SELECT tf.doc_id, tf.token,
       |    (CAST(tf AS DOUBLE) / len) * ln(n_docs / df) AS tfidf
       |  FROM tf JOIN len ON tf.doc_id = len.doc_id
       |         JOIN df ON tf.token = df.token
       |         CROSS JOIN n),
       |ranked AS (
       |  SELECT doc_id, token, tfidf,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY tfidf DESC, token) AS rnk
       |  FROM scored)
       |SELECT doc_id, token, round(tfidf, 6) AS tfidf, rnk
       |FROM ranked WHERE rnk <= 3
       |ORDER BY doc_id, rnk""".stripMargin

  // ─── q75: overlapping token-window chunking ───────────────────────────
  // size=32, overlap=8 (stride 24): chunk i covers tokens
  // [24i+1, 24i+32]; n_chunks = 1 + ceil((n-32)/24) for n > 32. Chunks are
  // materialized as (doc_id, chunk_id, n_toks, sha256(joined tokens)) —
  // the hash pins EXACT chunk content cross-engine without shipping text.
  // One projection + one explode; no shuffle until the final sort.
  private val ChunkSize = 32
  private val Stride = 24 // ChunkSize - overlap(8)

  def q75Chunk(s: SparkSession, d: String): DataFrame = {
    val n = size(col("toks"))
    val nChunks = when(n <= ChunkSize, lit(1))
      .otherwise(floor((n - lit(ChunkSize - Stride + 1)).cast("double") / Stride)
        .cast("int") + 1)
    documents(s, d)
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => slice(col("toks"), i * Stride + lit(1), lit(ChunkSize)))))
      .select(col("doc_id"), col("pos").as("chunk_id"),
        size(col("col")).as("n_toks"),
        sha2(concat_ws(" ", col("col")), 256).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val q75Sql: String = {
    val cs = ChunkSize; val st = Stride
    s"""WITH t AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |counted AS (
       |  SELECT doc_id, toks,
       |    CASE WHEN len(toks) <= $cs THEN 1
       |         ELSE CAST(floor(CAST(len(toks) - ${cs - st + 1} AS DOUBLE)
       |                         / $st) AS INT) + 1 END AS n_chunks
       |  FROM t),
       |exploded AS (
       |  SELECT doc_id, toks,
       |    unnest(generate_series(0, n_chunks - 1)) AS chunk_id
       |  FROM counted)
       |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       |  CAST(len(list_slice(toks, chunk_id * $st + 1,
       |                      chunk_id * $st + $cs)) AS INT) AS n_toks,
       |  sha256(array_to_string(
       |    list_slice(toks, chunk_id * $st + 1, chunk_id * $st + $cs), ' '))
       |    AS chunk_hash
       |FROM exploded
       |ORDER BY doc_id, chunk_id""".stripMargin
  }

  // ─── q76: sequence packing (concat-and-chunk dataloader prep) ─────────
  // Docs stream per language shard in doc_id order; pack_id = which
  // C=1024-token bin the doc STARTS in, from a running prefix sum — the
  // deterministic "concatenate then cut" packing LLM dataloaders use.
  // One window scan per shard (partitionBy lang keeps shards parallel;
  // a 100 TB corpus packs per file-shard the same way), one tiny census
  // aggregation after.
  private val PackCap = 1024

  def q76SeqPack(s: SparkSession, d: String): DataFrame = {
    // running per-lang prefix sum via the scalable bucketed form
    // (Windows.prefixSum) — the naive PARTITION BY lang window hands each
    // language's whole corpus to one task (the q160 lesson)
    val toks = documents(s, d)
      .select(col("lang"), col("doc_id"),
              size(tokens(col("text"))).cast("long").as("n"))
    Windows.prefixSumScaled(toks, Seq("lang"), col("doc_id"),
        Seq(col("doc_id")), col("n"), "cum")
      .withColumn("pack_id",
        floor((col("cum") - col("n")).cast("double") / PackCap).cast("long"))
      .groupBy(col("lang"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
      .orderBy(col("lang"), col("pack_id"))
  }

  val q76Sql: String =
    s"""SELECT lang, pack_id, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n) AS BIGINT) AS n_tokens
       |FROM (
       |  SELECT lang, doc_id, n,
       |    CAST(floor(CAST(cum - n AS DOUBLE) / $PackCap) AS BIGINT) AS pack_id
       |  FROM (
       |    SELECT lang, doc_id, n,
       |      sum(n) OVER (PARTITION BY lang ORDER BY doc_id
       |                   ROWS UNBOUNDED PRECEDING) AS cum
       |    FROM (SELECT lang, doc_id,
       |            CAST(len($tokensSql) AS BIGINT) AS n
       |          FROM documents)))
       |GROUP BY lang, pack_id
       |ORDER BY lang, pack_id""".stripMargin

  // ─── q81: deterministic stratified sampling (N per language) ──────────
  // Top-10 docs per language shard ranked by a salted id hash: the
  // reproducible form of stratified sampling — re-running the pipeline on
  // a grown corpus keeps previously-sampled docs sampled unless displaced,
  // and no RNG state is shared across executors. One window per shard.
  def q81StratifiedSample(s: SparkSession, d: String): DataFrame = {
    // the CONSTANT rank limit makes the per-lang window two-phase by
    // itself: Spark plans WindowGroupLimit(Partial) BELOW the exchange
    // (each map task keeps its local top-10 per lang), so the shuffle
    // carries ≤ 10·tasks rows — PlansSpec pins that plan, PlanLint's
    // rank-limit exemption recognizes it. Data-dependent keep-counts
    // (q91/q195) can't use this and route through Windows.densePos.
    val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    documents(s, d)
      .withColumn("h",
        md5(concat(lit("sample:"), col("doc_id").cast("string"))))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 10)
      .select(col("lang"), col("doc_id"), col("rk"))
      .orderBy(col("lang"), col("rk"))
  }

  val q81Sql: String =
    """SELECT lang, doc_id, rk FROM (
      |  SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5('sample:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 10
      |ORDER BY lang, rk""".stripMargin

  // ─── q82: quantile length clipping (C4-style outlier filter) ──────────
  // Per-language p05/p95 token-count bounds (exact percentiles, computed
  // once per shard — a tiny agg), broadcast back onto the corpus to
  // classify keep/too-short/too-long. The classic "drop the length tails"
  // cleaning pass, with the bounds DERIVED from the corpus rather than
  // hand-tuned.

  /** Per-shard (p05, p95) clip bounds over `valueCol`. `sketch = false`
    * is the exact form — the oracle-checkable contract, but Spark's exact
    * `percentile` buffers a per-group value-count map, an OOM-shaped plan
    * when a 100 TB corpus has only a handful of language groups.
    * `sketch = true` is the scale path: `approx_percentile` keeps a
    * fixed-size mergeable summary per group (one sketch serves both
    * quantiles via the array form), at rank error ≤ N/accuracy. q99
    * pins the two paths against each other as data; the q90 funnel
    * takes the knob.
    */
  private def clipBounds(counted: DataFrame, valueCol: String,
                         sketch: Boolean): DataFrame = {
    val (p05, p95) =
      if (sketch) {
        val ap = expr(
          s"approx_percentile($valueCol, array(0.05D, 0.95D), 10000)")
        (element_at(ap, 1), element_at(ap, 2))
      } else
        (expr(s"percentile($valueCol, 0.05D)"),
         expr(s"percentile($valueCol, 0.95D)"))
    counted.groupBy(col("lang")).agg(p05.as("p05"), p95.as("p95"))
  }

  def q82LengthClip(s: SparkSession, d: String): DataFrame = {
    val counted = documents(s, d)
      .select(col("lang"), col("doc_id"),
              size(tokens(col("text"))).cast("double").as("n"))
    val bounds = clipBounds(counted, "n", sketch = false)
    counted.join(broadcast(bounds), "lang")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("n") >= col("p05") && col("n") <= col("p95"), 1L)
             .otherwise(0L)).as("n_kept"),
           sum(when(col("n") < col("p05"), 1L).otherwise(0L)).as("n_short"),
           sum(when(col("n") > col("p95"), 1L).otherwise(0L)).as("n_long"),
           round(first(col("p05")), 4).as("p05"),
           round(first(col("p95")), 4).as("p95"))
      .orderBy(col("lang"))
  }

  val q82Sql: String =
    s"""WITH counted AS (
       |  SELECT lang, doc_id, CAST(len($tokensSql) AS DOUBLE) AS n
       |  FROM documents),
       |bounds AS (
       |  SELECT lang, quantile_cont(n, 0.05) AS p05, quantile_cont(n, 0.95) AS p95
       |  FROM counted GROUP BY lang)
       |SELECT counted.lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN n >= p05 AND n <= p95 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept,
       |  CAST(sum(CASE WHEN n < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
       |  CAST(sum(CASE WHEN n > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_long,
       |  round(first(p05), 4) AS p05,
       |  round(first(p95), 4) AS p95
       |FROM counted JOIN bounds ON counted.lang = bounds.lang
       |GROUP BY counted.lang
       |ORDER BY counted.lang""".stripMargin

  // ─── q99: sketch-bounds clip census — q82's 100 TB path, pinned ───────
  // Runs the SAME clip through both bound routings and emits the
  // agreement AS DATA (the q28/q96 pattern): exact columns are DuckDB-
  // checkable; `sketch_ok` is TRUE iff the approx_percentile-bounded
  // clip's kept-count differs from the exact clip's by no more than the
  // DISCRETIZATION BOUND: the sketch returns a data value whose rank is
  // within N/10000 of target while the exact form interpolates between
  // adjacent values, so the per-side kept-count shift is at most (ties
  // at the sketch's boundary value) + 1 + N/10000 — computed per shard
  // IN the query, not hand-tuned. The oracle emits literal TRUE, so the
  // hash matches only if the sketch path's deviation really is pure
  // boundary discretization.
  def q99SketchClip(s: SparkSession, d: String): DataFrame = {
    val counted = documents(s, d)
      .select(col("lang"), col("doc_id"),
              size(tokens(col("text"))).cast("double").as("n"))
    val exact = clipBounds(counted, "n", sketch = false)
    val approx = clipBounds(counted, "n", sketch = true)
      .select(col("lang"), col("p05").as("a05"), col("p95").as("a95"))
    counted
      .join(broadcast(exact), "lang")
      .join(broadcast(approx), "lang")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("n") >= col("p05") && col("n") <= col("p95"), 1L)
             .otherwise(0L)).as("n_kept"),
           sum(when(col("n") >= col("a05") && col("n") <= col("a95"), 1L)
             .otherwise(0L)).as("sketch_kept"),
           sum(when(col("n") === col("a05"), 1L).otherwise(0L)).as("ties05"),
           sum(when(col("n") === col("a95"), 1L).otherwise(0L)).as("ties95"),
           round(first(col("p05")), 4).as("p05"),
           round(first(col("p95")), 4).as("p95"))
      .select(col("lang"), col("n_docs"), col("n_kept"), col("p05"), col("p95"),
        (abs(col("sketch_kept") - col("n_kept")) <=
          col("ties05") + col("ties95") + 2L +
          ceil(col("n_docs") / 10000.0d).cast("long")).as("sketch_ok"))
      .orderBy(col("lang"))
  }

  val q99Sql: String =
    s"""WITH counted AS (
       |  SELECT lang, doc_id, CAST(len($tokensSql) AS DOUBLE) AS n
       |  FROM documents),
       |bounds AS (
       |  SELECT lang, quantile_cont(n, 0.05) AS p05, quantile_cont(n, 0.95) AS p95
       |  FROM counted GROUP BY lang)
       |SELECT counted.lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN n >= p05 AND n <= p95 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept,
       |  round(first(p05), 4) AS p05,
       |  round(first(p95), 4) AS p95,
       |  TRUE AS sketch_ok
       |FROM counted JOIN bounds ON counted.lang = bounds.lang
       |GROUP BY counted.lang
       |ORDER BY counted.lang""".stripMargin

  // ─── q102: deterministic weighted sampling (Efraimidis–Spirakis) ──────
  // Quality-weighted downsampling — pick the docs a mixing policy keeps
  // with probability ∝ weight (here: document length standing in for a
  // quality score), DETERMINISTICALLY: the A-ES key u^(1/w) with u
  // derived from an id hash instead of an RNG, so the kept set is
  // reproducible under corpus growth and re-partitioning (the q72/q81
  // property, now weighted). u = (first 8 md5 hex digits + 1) / 2^32 ∈
  // (0, 1] — exactly representable in both engines (power-of-two
  // divisor), so the only cross-engine float surface is pow itself.
  // Shape: one projection pass + a per-shard top-k window (at 100 TB the
  // window becomes the standard two-phase top-k: per-partition heads,
  // then merge — same lever as q81/q91).
  def q102WeightedSample(s: SparkSession, d: String): DataFrame = {
    val wgt = greatest(col("n_chars").cast("double"), lit(1.0d))
    val u = (conv(substring(
        md5(concat(lit("wsample:"), col("doc_id").cast("string"))), 1, 8),
        16, 10).cast("double") + 1.0d) / 4294967296.0d
    val keyed = documents(s, d)
      .select(col("lang"), col("doc_id"), wgt.as("w"),
              pow(u, lit(1.0d) / wgt).as("k"))
    // constant rank limit → two-phase WindowGroupLimit plan (see q81);
    // PlansSpec pins the partial-below-exchange shape
    val win = Window.partitionBy(col("lang"))
      .orderBy(col("k").desc, col("doc_id"))
    keyed.withColumn("rk", row_number().over(win))
      .where(col("rk") <= 10)
      .select(col("lang"), col("rk"), col("doc_id"),
              col("w").cast("long").as("weight"), round(col("k"), 6).as("k"))
      .orderBy(col("lang"), col("rk"))
  }

  val q102Sql: String =
    """WITH keyed AS (
      |  SELECT lang, doc_id,
      |    greatest(CAST(n_chars AS DOUBLE), 1.0) AS w,
      |    pow((CAST('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)),
      |                             1, 8) AS BIGINT) + 1.0) / 4294967296.0,
      |        1.0 / greatest(CAST(n_chars AS DOUBLE), 1.0)) AS k
      |  FROM documents)
      |SELECT lang, CAST(rk AS INT) AS rk, doc_id,
      |  CAST(w AS BIGINT) AS weight, round(k, 6) AS k
      |FROM (SELECT *, row_number() OVER (PARTITION BY lang
      |        ORDER BY k DESC, doc_id) AS rk
      |      FROM keyed)
      |WHERE rk <= 10
      |ORDER BY lang, rk""".stripMargin

  // ─── q83: unigram-LM quality score (perplexity-filter shape) ──────────
  // "Train" a unigram LM on the corpus (token → ln p(token)), score every
  // 25th doc by mean token log-probability — the CCNet/Gopher model-based
  // quality signal with the n=1 model the fixture can verify exactly. The
  // LM join keys on the token string (|vocab|-bounded shuffle); corpus
  // totals ride a 1-row broadcast.
  def q83UnigramScore(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val freqs = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = freqs.agg(sum(col("cnt")).cast("double").as("total"))
    toks.where(pmod(col("doc_id"), lit(25)) === 0)
      .join(freqs, "token")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
           round(avg(log(col("cnt").cast("double") / col("total"))), 4)
             .as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  val q83Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($tokensSql) AS token FROM documents),
       |freqs AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS cnt
       |  FROM toks GROUP BY token),
       |total AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freqs)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
       |  round(avg(ln(CAST(cnt AS DOUBLE) / total)), 4) AS avg_logprob
       |FROM toks JOIN freqs USING (token) CROSS JOIN total
       |WHERE doc_id % 25 = 0
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ─── q153: bigram-LM quality scoring (q83's conditional upgrade) ─────
  // A real perplexity filter conditions on context; this is the exact
  // n=2 model: P(w2|w1) = (c(w1,w2)+1) / (c(w1)+V), Laplace-smoothed
  // over the corpus vocabulary, scored as mean ln P over a doc's
  // bigrams (and perplexity = exp of the negation). Contract notes:
  // c(w1) is the corpus-wide unigram count (the standard prefix-count
  // approximation), V is EXACT distinct-token count — at 100 TB you'd
  // swap the one extra distinct pass for approx_count_distinct and
  // md5 the bigram join key to keep word pairs off the shuffle; both
  // freq tables are map-side combined, and the scoring join touches
  // only the sampled 1/25 of docs.
  def q153BigramScore(s: SparkSession, d: String): DataFrame = {
    val arr = documents(s, d).select(col("doc_id"), tokens(col("text")).as("ts"))
    val toks = arr.select(col("doc_id"), explode(col("ts")).as("token"))
    val bi = arr.select(col("doc_id"), explode(
        when(size(col("ts")) >= 2,
          transform(sequence(lit(1), size(col("ts")) - 1),
            i => struct(element_at(col("ts"), i).as("w1"),
              element_at(col("ts"), i + 1).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val bf = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val uf = toks.groupBy(col("token").as("w1")).agg(count(lit(1)).as("c1"))
    val v = toks.agg(countDistinct(col("token")).cast("double").as("vsz"))
    val logp = log((col("c2") + 1).cast("double") / (col("c1") + col("vsz")))
    bi.where(pmod(col("doc_id"), lit(25)) === 0)
      .join(bf, Seq("w1", "w2"))
      .join(uf, Seq("w1"))
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(logp), 4).as("avg_logprob"),
        round(exp(-avg(logp)), 2).as("ppl"))
      .orderBy(col("doc_id"))
  }

  val q153Sql: String =
    s"""WITH arr AS MATERIALIZED (
       |  SELECT doc_id, $tokensSql AS ts FROM documents),
       |toks AS MATERIALIZED (
       |  SELECT doc_id, unnest(ts) AS token FROM arr),
       |bi AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ts) - 1),
       |           i -> struct_pack(w1 := ts[i], w2 := ts[i + 1])),
       |         recursive := true)
       |  FROM arr),
       |bf AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
       |       FROM bi GROUP BY 1, 2),
       |uf AS (SELECT token AS w1, CAST(count(*) AS BIGINT) AS c1
       |       FROM toks GROUP BY 1),
       |v AS (SELECT CAST(count(DISTINCT token) AS DOUBLE) AS vsz FROM toks)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  round(avg(ln((c2 + 1) / (c1 + vsz))), 4) AS avg_logprob,
       |  round(exp(-avg(ln((c2 + 1) / (c1 + vsz)))), 2) AS ppl
       |FROM bi JOIN bf USING (w1, w2) JOIN uf USING (w1) CROSS JOIN v
       |WHERE doc_id % 25 = 0
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ─── q154: token-budgeted training-mix builder (capstone funnel) ─────
  // The dataset-builder composition: REAL tokenizer counts (the q146 BPE
  // kernel over the vocab dict, joined back broadcast), a deterministic
  // per-(lang, shard) token budget fill (salted-hash rank order, cumsum
  // ≤ budget/shard — 16 shards per lang so no low-cardinality window
  // survives at scale, the q85 lesson applied at design time), and the
  // packed-sequence yield (ceil(tokens/512) per lang). Everything is a
  // pure function of ids, so reruns on a grown corpus keep prior picks
  // unless displaced — the q72/q81 reproducibility contract.
  private val MixShardBudget = 500L
  private val MixSeqLen = 512L

  def q154TokenBudgetMix(s: SparkSession, d: String): DataFrame = {
    val words = documents(s, d)
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("word"))
    val vocab = words.select(col("word")).distinct()
      .select(col("word"),
        size(graft.expr.BpeFunctions.bpe_encode(col("word"), Bpe.fixedMerges))
          .cast("long").as("tc"))
    val docToks = words.join(broadcast(vocab), "word")
      .groupBy(col("doc_id"), col("lang")).agg(sum(col("tc")).as("n"))
    val w = Window
      .partitionBy(col("lang"), col("shard"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docToks
      .withColumn("h", md5(concat(lit("mix:"), col("doc_id").cast("string"))))
      .withColumn("shard", substring(col("h"), 1, 1))
      .withColumn("cum", sum(col("n")).over(w))
      .where(col("cum") <= MixShardBudget)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("n_tokens"),
        sum(ceil(col("n").cast("double") / MixSeqLen)).cast("long").as("n_seqs_upper"))
      .withColumn("n_seqs_packed",
        ceil(col("n_tokens").cast("double") / MixSeqLen).cast("long"))
      .orderBy(col("lang"))
  }

  val q154Sql: String = {
    val enc =
      "',' || substr(regexp_replace(word, '(.)', ',,\\1', 'g'), 2) || ','"
    val chain = Bpe.fixedMerges.foldLeft(enc) { case (sql, (l, r)) =>
      s"replace($sql, ',$l,,$r,', ',$l$r,')" }
    s"""WITH words AS MATERIALIZED (
       |  SELECT doc_id, lang, unnest($tokensSql) AS word FROM documents),
       |vocab AS MATERIALIZED (
       |  SELECT word,
       |    CAST((length(s) - length(replace(s, ',', ''))) // 2 AS BIGINT)
       |      AS tc
       |  FROM (SELECT DISTINCT word FROM words),
       |       LATERAL (SELECT $chain AS s)),
       |doctoks AS (
       |  SELECT doc_id, lang, CAST(sum(tc) AS BIGINT) AS n
       |  FROM words JOIN vocab USING (word)
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT lang, n,
       |    sum(n) OVER (PARTITION BY lang, substr(h, 1, 1)
       |                 ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM (SELECT *, md5('mix:' || CAST(doc_id AS VARCHAR)) AS h
       |        FROM doctoks))
       |SELECT lang,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n) AS BIGINT) AS n_tokens,
       |  CAST(sum(CAST(ceil(CAST(n AS DOUBLE) / $MixSeqLen) AS BIGINT))
       |    AS BIGINT) AS n_seqs_upper,
       |  CAST(ceil(CAST(sum(n) AS DOUBLE) / $MixSeqLen) AS BIGINT)
       |    AS n_seqs_packed
       |FROM ranked
       |WHERE cum <= $MixShardBudget
       |GROUP BY lang
       |ORDER BY lang""".stripMargin
  }

  // ─── q84: benchmark decontamination (8-gram overlap) ──────────────────
  // The held-out-set hygiene pass every pretraining pipeline runs: flag
  // train docs sharing any 8-gram with the benchmark set. Fixture: bench =
  // every 50th doc; train = the rest ∪ PLANTED leaks (bench text + a
  // tail, new ids) that the operator must catch. The overlap join keys on
  // md5(8-gram) — fixed-width, |distinct-shingles|-bounded — and dedups
  // (train, bench) doc pairs before counting, so a doc sharing 40 8-grams
  // with one bench doc counts once. No text ever shuffles.
  def q84Decontaminate(s: SparkSession, d: String): DataFrame = {
    def grams8(toks: Column): Column =
      when(size(toks) >= 8,
        array_distinct(transform(sequence(lit(1), size(toks) - 7),
          i => md5(concat_ws(" ",
            (0 until 8).map(o => element_at(toks, i + o)): _*)))))
        .otherwise(array().cast("array<string>"))
    val base = documents(s, d).select(col("doc_id"), col("text"))
    val bench = base.where(pmod(col("doc_id"), lit(50)) === 0)
    // planted-leak ids live at +300000 — FIXTURE invariant: testdata doc
    // ids top out orders of magnitude below that at every SF. A general-
    // purpose caller would derive the offset from max(doc_id) (or a
    // disjoint negative range); here the fixed offset keeps the oracle
    // SQL literal.
    val planted = bench.select((col("doc_id") + 300000).as("doc_id"),
      concat(col("text"), lit(" leaked into train")).as("text"))
    // ONE tokenization pass over train ∪ bench, CACHED: a withColumn alone
    // does not survive CollapseProject here — the optimizer inlines the
    // tokenizer into all 8 element_at calls of the shingle lambda (the
    // plan showed 63 copies of split(); 30–60 s at sf0.1 vs ~1 s). The
    // InMemoryRelation is a hard optimizer boundary, so grams8 reads the
    // materialized array. Lifecycle: caller/harness clearCache, as q45.
    val toksFrame = base.where(pmod(col("doc_id"), lit(50)) =!= 0)
      .unionByName(planted)
      .withColumn("role", lit("train"))
      .unionByName(bench.withColumn("role", lit("bench")))
      .select(col("doc_id"), col("role"), tokens(col("text")).as("toks"))
      .cache()
    def shingleSet(role: String, idAs: String): DataFrame = toksFrame
      .where(col("role") === role)
      .select(col("doc_id").as(idAs), explode(grams8(col("toks"))).as("g"))
    shingleSet("train", "train_id").join(shingleSet("bench", "bench_id"), "g")
      .select(col("train_id"), col("bench_id")).distinct()
      .groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_bench_docs"),
           min(col("bench_id")).as("first_bench_id"))
      .orderBy(col("train_id"))
  }

  val q84Sql: String = {
    val cat = (0 until 8).map(o => s"toks[i+$o]").mkString(", ")
    val grams =
      s"""CASE WHEN len(toks) >= 8 THEN
         |      list_distinct(list_transform(generate_series(1, len(toks) - 7),
         |        i -> md5(concat_ws(' ', $cat))))
         |    ELSE [] END""".stripMargin
    s"""WITH bench AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
       |train AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
       |  UNION ALL
       |  SELECT doc_id + 300000, text || ' leaked into train' FROM bench),
       |tsh AS (
       |  SELECT doc_id AS train_id, unnest(g) AS g FROM (
       |    SELECT doc_id, $grams AS g
       |    FROM (SELECT doc_id, $tokensSql AS toks FROM train))),
       |bsh AS (
       |  SELECT doc_id AS bench_id, unnest(g) AS g FROM (
       |    SELECT doc_id, $grams AS g
       |    FROM (SELECT doc_id, $tokensSql AS toks FROM bench)))
       |SELECT train_id, CAST(count(*) AS BIGINT) AS n_bench_docs,
       |  min(bench_id) AS first_bench_id
       |FROM (SELECT DISTINCT train_id, bench_id FROM tsh JOIN bsh USING (g))
       |GROUP BY train_id
       |ORDER BY train_id""".stripMargin
  }

  // ─── q273: held-out 8-gram memorization/novelty audit ─────────────────
  // q84 checks train against an external BENCHMARK; this is the
  // self-referential risk read (the Lee et al. 2022 dedup-paper
  // diagnostic): how much of the held-out split's 8-gram mass already
  // sits verbatim in train? High overlap means eval perplexity measures
  // memorization, not generalization — the number a training run's eval
  // integrity rides on. Splits = q72's deterministic md5 fences; grams
  // = q84's md5-keyed word 8-grams (distinct per doc, one tokenization
  // pass cached — the q84 CollapseProject lesson). The train side
  // dedups to the distinct gram SET before the join, so the probe is
  // |held grams| ⋈ |train vocab| on fixed-width md5 keys; novelty in
  // exact integer basis points per split.
  def q273MemorizationAudit(s: SparkSession, d: String): DataFrame = {
    def grams8(toks: Column): Column =
      when(size(toks) >= 8,
        array_distinct(transform(sequence(lit(1), size(toks) - 7),
          i => md5(concat_ws(" ",
            (0 until 8).map(o => element_at(toks, i + o)): _*)))))
        .otherwise(array().cast("array<string>"))
    val h2 = substring(
      md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 2)
    val base = documents(s, d)
      .select(col("doc_id"),
        when(h2 < "cc", "train").when(h2 < "e6", "val").otherwise("test")
          .as("split"),
        tokens(col("text")).as("toks"))
      .cache()
    val trainG = base.where(col("split") === "train")
      .select(explode(grams8(col("toks"))).as("g")).distinct()
    val held = base.where(col("split") =!= "train")
      .select(col("split"), explode(grams8(col("toks"))).as("g"))
    val grams = held
      .join(trainG.withColumn("hit", lit(1L)), Seq("g"), "left")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("grams_total"),
           sum(coalesce(col("hit"), lit(0L))).as("grams_seen"))
    base.where(col("split") =!= "train")
      .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
      .join(grams, "split")
      .select(col("split"), col("n_docs"), col("grams_total"),
        col("grams_seen"),
        expr("(10000 * (grams_total - grams_seen)) div grams_total")
          .as("novelty_bp"))
      .orderBy(col("split"))
  }

  val q273Sql: String = {
    val cat = (0 until 8).map(o => s"toks[i+$o]").mkString(", ")
    val grams =
      s"""CASE WHEN len(toks) >= 8 THEN
         |      list_distinct(list_transform(generate_series(1, len(toks) - 7),
         |        i -> md5(concat_ws(' ', $cat))))
         |    ELSE [] END""".stripMargin
    def splitCase =
      """CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
        |       < 'cc' THEN 'train'
        |     WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
        |       < 'e6' THEN 'val' ELSE 'test' END""".stripMargin
    s"""WITH base AS MATERIALIZED (
       |  SELECT doc_id, $splitCase AS split, $tokensSql AS toks
       |  FROM documents),
       |traing AS MATERIALIZED (
       |  SELECT DISTINCT unnest(g) AS g FROM (
       |    SELECT $grams AS g FROM base WHERE split = 'train')),
       |held AS MATERIALIZED (
       |  SELECT split, unnest(g) AS g FROM (
       |    SELECT split, $grams AS g FROM base WHERE split <> 'train')),
       |grams AS (
       |  SELECT split, CAST(count(*) AS BIGINT) AS grams_total,
       |    CAST(sum(CASE WHEN t.g IS NOT NULL THEN 1 ELSE 0 END)
       |         AS BIGINT) AS grams_seen
       |  FROM held h LEFT JOIN traing t USING (g)
       |  GROUP BY split),
       |docs AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs
       |         FROM base WHERE split <> 'train' GROUP BY split)
       |SELECT split, n_docs, grams_total, grams_seen,
       |  (10000 * (grams_total - grams_seen)) // grams_total AS novelty_bp
       |FROM docs JOIN grams USING (split)
       |ORDER BY split""".stripMargin
  }

  // ─── q274: Zipf's-law conformance census ──────────────────────────────
  // The classic natural-language sanity gate (Zipf 1949): token
  // frequency should fall as f ∝ r^(−s) with s ≈ 1; corpora that
  // deviate hard (templated spam, tables, machine noise) flag on the
  // fitted slope. Fit = ordinary least squares on (ln r, ln f) over the
  // top-[[ZipfTopK]] vocabulary, computed ENTIRELY from exact integer
  // sums: ln values quantize to integer MILLIS (slope is invariant to
  // the common scale), the OLS closed form nΣxy − ΣxΣy etc. folds in
  // BIGINT (milli bounds keep every product < 2⁶³), and only the final
  // slope/R² divisions touch doubles — on identical integers.
  // Scale: one token pass; the window ranks the ≤K-row top-vocab frame
  // (q144 principle).
  // Fixture honesty (the q209 caveat): the synthetic corpus draws from
  // a ~31-token shared vocabulary with near-uniform frequencies, so the
  // fitted slope (≈ −0.18, R² ≈ 0.06 at sf0.01) correctly reports
  // "NOT Zipfian" — the verified contract is the exact integer OLS
  // machinery cross-engine, and the gate reading is exactly what this
  // screen exists to flag on unnatural corpora.
  private val ZipfTopK = 1000

  def q274ZipfFit(s: SparkSession, d: String): DataFrame = {
    val vocab = documents(s, d)
      .select(explode(tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
    val top = vocab.orderBy(col("cnt").desc, col("t")).limit(ZipfTopK)
      .withColumn("r", row_number()
        .over(Window.orderBy(col("cnt").desc, col("t"))).cast("long"))
      .select(
        round(round(log(col("r").cast("double")), 3) * 1e3, 0)
          .cast("long").as("x"),
        round(round(log(col("cnt").cast("double")), 3) * 1e3, 0)
          .cast("long").as("y"))
    top.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n").as("n_ranks"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("den"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("deny"))
      .select(col("n_ranks"),
        round(col("num").cast("double") / col("den").cast("double"), 6)
          .as("slope"),
        round(col("num").cast("double") * col("num").cast("double") /
          (col("den").cast("double") * col("deny").cast("double")), 6)
          .as("r2"))
  }

  val q274Sql: String =
    s"""WITH vocab AS MATERIALIZED (
       |  SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest($tokensSql) AS t FROM documents)
       |  GROUP BY t),
       |top AS (
       |  SELECT CAST(round(round(ln(CAST(r AS DOUBLE)), 3) * 1e3, 0)
       |           AS BIGINT) AS x,
       |    CAST(round(round(ln(CAST(cnt AS DOUBLE)), 3) * 1e3, 0)
       |         AS BIGINT) AS y
       |  FROM (
       |    SELECT cnt, row_number() OVER (ORDER BY cnt DESC, t) AS r
       |    FROM vocab ORDER BY cnt DESC, t LIMIT $ZipfTopK)),
       |sums AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
       |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x*y) AS BIGINT) AS sxy,
       |    CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy
       |  FROM top),
       |ols AS (
       |  SELECT n AS n_ranks, n * sxy - sx * sy AS num,
       |    n * sxx - sx * sx AS den, n * syy - sy * sy AS deny
       |  FROM sums)
       |SELECT n_ranks,
       |  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS slope,
       |  round(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
       |    / (CAST(den AS DOUBLE) * CAST(deny AS DOUBLE)), 6) AS r2
       |FROM ols""".stripMargin

  // ─── q287: intra-document repetition collapse ─────────────────────────
  // The CLEANING counterpart of q69's repetition SCORE: crawl text
  // arrives with consecutively repeated sentences (boilerplate stutter,
  // pagination artifacts), and the standard fix collapses ADJACENT
  // duplicates — order-preserving, one pass, purely positional (global
  // sentence dedup would merge legitimate refrains; adjacency is the
  // published conservative rule). Corpus = documents ∪ planted
  // stutter copies (first sentence doubled, new ids — the q41 idiom) so
  // the operator provably fires. The collapse is an index lambda over
  // the sentence array (keep i=1 or s[i] ≠ s[i−1]) — no explode, no
  // shuffle carries text; the census reduces to |langs| rows with
  // docs affected / sentences removed / exact post-collapse char sums.
  def q287RepetitionCollapse(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), col("lang"),
      col("text"))
    val planted = base.where(pmod(col("doc_id"), lit(6)) === 0)
      .select((col("doc_id") + 500000).as("doc_id"), col("lang"),
        concat(element_at(split(col("text"), "\\."), 1), lit("."),
               col("text")).as("text"))
    val corpus = base.unionByName(planted)
      .withColumn("sents", split(col("text"), "\\."))
    val collapsed = corpus.withColumn("kept",
      filter(col("sents"),
        (x, i) => i === 0 || x =!= element_at(col("sents"), i)))
    collapsed
      .select(col("lang"),
        (size(col("sents")) - size(col("kept"))).cast("long")
          .as("removed"),
        length(concat_ws(".", col("kept"))).cast("long").as("chars_after"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("removed") > 0L, 1L).otherwise(0L))
             .as("n_affected"),
           sum(col("removed")).as("sentences_removed"),
           sum(col("chars_after")).as("chars_after_sum"))
      .orderBy(col("lang"))
  }

  val q287Sql: String =
    """WITH base AS (
      |  SELECT doc_id, lang, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 500000, lang,
      |    string_split(text, '.')[1] || '.' || text
      |  FROM documents WHERE doc_id % 6 = 0),
      |c AS (
      |  SELECT lang, sents,
      |    list_transform(
      |      list_filter(range(1, len(sents) + 1),
      |        i -> i = 1 OR sents[i] <> sents[i - 1]),
      |      i -> sents[i]) AS kept
      |  FROM (SELECT lang, string_split(text, '.') AS sents FROM base)),
      |per AS (
      |  SELECT lang, CAST(len(sents) - len(kept) AS BIGINT) AS removed,
      |    CAST(length(array_to_string(kept, '.')) AS BIGINT)
      |      AS chars_after
      |  FROM c)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN removed > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_affected,
      |  CAST(sum(removed) AS BIGINT) AS sentences_removed,
      |  CAST(sum(chars_after) AS BIGINT) AS chars_after_sum
      |FROM per
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  // ─── q290: largest-remainder quota apportionment ──────────────────────
  // Allocating a FIXED budget of training slots across languages
  // proportionally to token mass — the integer-quota problem every
  // sampling mix ultimately hits (q211's temperature weights still need
  // whole examples). The published Hamilton/largest-remainder method,
  // exactly: base_i = ⌊N·t_i/T⌋ via truncating division, remainders
  // ranked as the exact integers N·t_i − base_i·T (no fraction ever
  // materializes), and the leftover N − Σ base goes one-per to the
  // largest remainders (ties to lang). Σ alloc = N holds by
  // construction in both engines — the apportionment invariant, carried
  // in the output. Scale: one token pass reduced to |langs| rows.
  private val QuotaN = 10000L

  def q290QuotaApportion(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(col("lang"), size(tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("lang")).agg(sum(col("nt")).as("t"))
    val tot = broadcast(tok.agg(sum(col("t")).as("tt")))
    val based = tok.crossJoin(tot)
      .select(col("lang"), col("t"), col("tt"),
        expr(s"($QuotaN * t) div tt").as("base"),
        expr(s"$QuotaN * t - (($QuotaN * t) div tt) * tt").as("rem"))
    val leftover = broadcast(based
      .agg((lit(QuotaN) - sum(col("base"))).as("k")))
    val wR = Window.orderBy(col("rem").desc, col("lang"))
    based.crossJoin(leftover)
      .withColumn("rk", row_number().over(wR).cast("long"))
      .select(col("lang"), col("t").as("tokens"), col("base"),
        when(col("rk") <= col("k"), 1L).otherwise(0L).as("extra"))
      .withColumn("alloc", col("base") + col("extra"))
      .orderBy(col("lang"))
  }

  val q290Sql: String =
    s"""WITH tok AS MATERIALIZED (
       |  SELECT lang, CAST(sum(len($tokensSql)) AS BIGINT) AS t
       |  FROM documents GROUP BY lang),
       |tot AS (SELECT CAST(sum(t) AS BIGINT) AS tt FROM tok),
       |based AS (
       |  SELECT lang, t, ($QuotaN * t) // tt AS base,
       |    $QuotaN * t - (($QuotaN * t) // tt) * tt AS rem
       |  FROM tok, tot),
       |lo AS (SELECT $QuotaN - CAST(sum(base) AS BIGINT) AS k FROM based),
       |ranked AS (
       |  SELECT lang, t, base,
       |    CAST(row_number() OVER (ORDER BY rem DESC, lang) AS BIGINT)
       |      AS rk
       |  FROM based)
       |SELECT lang, t AS tokens, base,
       |  CASE WHEN rk <= k THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
       |    END AS extra,
       |  base + CASE WHEN rk <= k THEN 1 ELSE 0 END AS alloc
       |FROM ranked, lo
       |ORDER BY lang""".stripMargin

  // ─── q90: the whole training-data pipeline as one funnel ──────────────
  // What a user of this engine actually runs, end to end: duplicate-
  // CLUSTER resolution (keep one doc per connected component of the
  // similarity graph — q71) → corpus-derived quality clipping (q82) →
  // deterministic split assignment (q72) → sequence packing of the train
  // split (q76). Output = per-(stage, lang) funnel counts, so one frame
  // audits what every stage dropped. Each stage's shuffle keys stay
  // fixed-width (ids, langs, tokens counts); document text never leaves
  // stage one.
  def q90PipelineFunnel(s: SparkSession, d: String): DataFrame =
    q90PipelineFunnel(s, d, sketchBounds = false)

  /** `sketchBounds = true` routes stage 3 through the approx_percentile
    * sketch ([[clipBounds]]) — the form a 100 TB run uses. The declared
    * q90 keeps the exact bounds (the DuckDB-checkable contract; sketch
    * discretization can move a boundary doc); CorpusSpec pins the two
    * routings against each other.
    */
  def q90PipelineFunnel(s: SparkSession, d: String,
                        sketchBounds: Boolean): DataFrame = {
    val base = documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("double").as("n_toks"))
    val keepers = base
      .join(graft.ops.Graph.dupClusterLabels(s, d), "doc_id")
      .where(col("doc_id") === col("cluster_id"))
      .select(col("doc_id"), col("lang"), col("n_toks"))
    val bounds = clipBounds(keepers, "n_toks", sketchBounds)
    val quality = keepers.join(broadcast(bounds), "lang")
      .where(col("n_toks") >= col("p05") && col("n_toks") <= col("p95"))
      .select(col("doc_id"), col("lang"), col("n_toks"))
    val split = quality
      .withColumn("h",
        substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 2))
      .withColumn("split", when(col("h") < "cc", "train")
        .when(col("h") < "e6", "val").otherwise("test"))
    val packs = Windows.prefixSumScaled(split.where(col("split") === "train"),
        Seq("lang"), col("doc_id"), Seq(col("doc_id")),
        col("n_toks"), "cum")
      .withColumn("pack_id",
        floor((col("cum") - col("n_toks")) / PackCap).cast("long"))
    def census(df: DataFrame, stage: String): DataFrame =
      df.groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .withColumn("stage", lit(stage))
    census(base, "1_input")
      .unionByName(census(keepers, "2_keeper"))
      .unionByName(census(quality, "3_quality"))
      .unionByName(split.groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n"))
        .withColumn("stage", concat(lit("4_split_"), col("split")))
        .drop("split"))
      .unionByName(packs.groupBy(col("lang"))
        .agg(countDistinct(col("pack_id")).as("n"))
        .withColumn("stage", lit("5_train_packs")))
      .select(col("stage"), col("lang"), col("n"))
      .orderBy(col("stage"), col("lang"))
  }

  val q90Sql: String =
    s"""WITH RECURSIVE ${graft.ops.Graph.ccLabelCtes},
       |base AS (
       |  SELECT doc_id, lang, CAST(len($tokensSql) AS DOUBLE) AS n_toks
       |  FROM documents),
       |keepers AS (
       |  SELECT base.doc_id, lang, n_toks
       |  FROM base JOIN labels USING (doc_id)
       |  WHERE doc_id = cluster_id),
       |bounds AS (
       |  SELECT lang, quantile_cont(n_toks, 0.05) AS p05,
       |         quantile_cont(n_toks, 0.95) AS p95
       |  FROM keepers GROUP BY lang),
       |quality AS (
       |  SELECT doc_id, keepers.lang, n_toks
       |  FROM keepers JOIN bounds USING (lang)
       |  WHERE n_toks >= p05 AND n_toks <= p95),
       |split AS (
       |  SELECT doc_id, lang, n_toks,
       |    CASE WHEN h < 'cc' THEN 'train'
       |         WHEN h < 'e6' THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT *,
       |          substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) AS h
       |        FROM quality)),
       |packs AS (
       |  SELECT lang,
       |    CAST(floor((cum - n_toks) / $PackCap) AS BIGINT) AS pack_id
       |  FROM (
       |    SELECT lang, n_toks,
       |      sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
       |                        ROWS UNBOUNDED PRECEDING) AS cum
       |    FROM split WHERE split = 'train'))
       |SELECT stage, lang, n FROM (
       |  SELECT '1_input' AS stage, lang, CAST(count(*) AS BIGINT) AS n
       |  FROM base GROUP BY lang
       |  UNION ALL
       |  SELECT '2_keeper', lang, CAST(count(*) AS BIGINT)
       |  FROM keepers GROUP BY lang
       |  UNION ALL
       |  SELECT '3_quality', lang, CAST(count(*) AS BIGINT)
       |  FROM quality GROUP BY lang
       |  UNION ALL
       |  SELECT '4_split_' || split, lang, CAST(count(*) AS BIGINT)
       |  FROM split GROUP BY split, lang
       |  UNION ALL
       |  SELECT '5_train_packs', lang, CAST(count(DISTINCT pack_id) AS BIGINT)
       |  FROM packs GROUP BY lang)
       |ORDER BY stage, lang""".stripMargin

  // ─── q91: domain mixing (quota sampling to a target corpus mix) ───────
  // Pretraining corpora are REWEIGHTED across domains (languages here) to
  // a target mix, not taken as-found. Deterministic quota sampling: rank
  // docs within each domain by a salted id hash, keep the first `quota`.
  // Same growth-stability property as q72/q81 (a kept doc stays kept
  // until displaced by hash rank, never by arrival order), one window per
  // shard + a broadcast quota join. Down-sampling only — up-weighting is
  // the dataloader's job (epoch repetition), not the corpus builder's.
  private val MixQuotas: Seq[(String, Int)] =
    Seq("en" -> 60, "de" -> 40, "es" -> 30, "fr" -> 20, "zh" -> 10)

  def q91DomainMix(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val quotas = MixQuotas.toDF("lang", "quota")
    val hashed = documents(s, d)
      .withColumn("h",
        md5(concat(lit("mix:"), col("doc_id").cast("string"))))
    Windows.densePos(hashed, Seq("lang"), Windows.hexBucket(col("h")),
        Seq(col("h"), col("doc_id")), "rk")
      .join(broadcast(quotas), "lang")
      .groupBy(col("lang"), col("quota"))
      .agg(count(lit(1)).as("n_available"),
           sum(when(col("rk") <= col("quota"), 1L).otherwise(0L))
             .as("n_kept"))
      .select(col("lang"), col("n_available"), col("quota").cast("int"),
              col("n_kept"))
      .orderBy(col("lang"))
  }

  val q91Sql: String = {
    val vals = MixQuotas.map { case (l, n) => s"('$l', $n)" }.mkString(", ")
    s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_available,
       |  CAST(quota AS INT) AS quota,
       |  CAST(sum(CASE WHEN rk <= quota THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept
       |FROM (
       |  SELECT lang,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |  FROM documents)
       |JOIN (VALUES $vals) AS q(lang, quota) USING (lang)
       |GROUP BY lang, quota
       |ORDER BY lang""".stripMargin
  }

  // ─── q211: temperature-weighted language mixing ───────────────────────
  // The multilingual corpus-balancing recipe (the XLM-R/mT5 sampling
  // rule, public): language l is sampled ∝ N_l^α with α ∈ (0,1), which
  // UP-weights low-resource languages relative to their natural share —
  // α=1 is the natural distribution, α=0 uniform. q91 takes quotas as
  // GIVEN constants; this derives them from the corpus itself: quota_l
  // = min(N_l, round(T·N_l^α / Σ_m N_m^α)) with target T = half the
  // corpus, then picks deterministically by salted-hash rank (the
  // q72/q81 grow-stable contract — re-runs on a grown corpus keep prior
  // picks up to quota shifts). The kept-id checksum proves WHICH rows
  // were selected, cross-engine (the q195 pattern).
  //
  // Scale: one tiny per-lang count frame drives the quota algebra
  // (broadcast both ways); the per-lang rank is Windows.densePos —
  // range-aligned hash buckets + an offsets broadcast, never one task
  // per language. Float caution: quotas pass through floor(x + 0.5) on
  // a double product — exact half-integer products are measure-zero,
  // same accepted class as q158's rank rounding.
  def q211TemperatureMix(s: SparkSession, d: String): DataFrame = {
    val alpha = 0.5
    val docs = documents(s, d)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val tot = broadcast(counts.agg(
      sum(pow(col("n"), alpha)).as("sw"), sum(col("n")).as("nt")))
    val quotas = counts.crossJoin(tot)
      .select(col("lang"), col("n"),
        least(col("n"),
          floor(expr("nt DIV 2") * pow(col("n"), alpha) / col("sw") + 0.5)
            .cast("long")).as("quota"))
    val hashed = docs.withColumn("h",
      md5(concat(lit("tmix:"), col("doc_id").cast("string"))))
    Windows.densePos(hashed, Seq("lang"), Windows.hexBucket(col("h")),
        Seq(col("h"), col("doc_id")), "rk")
      .join(broadcast(quotas), "lang")
      .groupBy(col("lang"), col("n"), col("quota"))
      .agg(sum(when(col("rk") <= col("quota"), 1L).otherwise(0L))
             .as("n_kept"),
           sum(when(col("rk") <= col("quota"), col("doc_id"))
             .otherwise(0L)).as("kept_checksum"))
      .select(col("lang"), col("n").as("n_docs"), col("quota"),
              col("n_kept"), col("kept_checksum"),
              round(col("quota").cast("double") / col("n"), 4).as("rate"))
      .orderBy(col("lang"))
  }

  val q211Sql: String =
    """WITH counts AS (SELECT lang, count(*) AS n FROM documents
      |                GROUP BY lang),
      |tot AS (SELECT sum(pow(n, 0.5)) AS sw, sum(n) AS nt FROM counts),
      |quotas AS (
      |  SELECT lang, n,
      |    least(n, CAST(floor((nt // 2) * pow(n, 0.5) / sw + 0.5)
      |                  AS BIGINT)) AS quota
      |  FROM counts, tot),
      |rk AS (
      |  SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5('tmix:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |SELECT lang, CAST(n AS BIGINT) AS n_docs,
      |  CAST(quota AS BIGINT) AS quota,
      |  CAST(sum(CASE WHEN rk <= quota THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  CAST(sum(CASE WHEN rk <= quota THEN doc_id ELSE 0 END) AS BIGINT)
      |    AS kept_checksum,
      |  round(CAST(quota AS DOUBLE) / n, 4) AS rate
      |FROM rk JOIN quotas USING (lang)
      |GROUP BY lang, n, quota
      |ORDER BY lang""".stripMargin

  // ─── q194: deterministic negative sampling for contrastive pairs ──────
  // Contrastive/triplet training needs, per anchor, k negatives drawn
  // REPRODUCIBLY from the other classes. Selection key = md5 over the
  // (anchor, candidate) pair — the q72 salted-hash idiom, so the sample
  // is a pure function of ids (grown corpora keep prior picks) and both
  // engines rank identically. Plan shape: the small anchor set BROADCASTS
  // against the corpus (map-side pair generation, linear in corpus size),
  // then one per-anchor window keeps the k smallest keys.
  def q194NegativeSampling(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).select(col("vec_id"), col("label"))
    val anchors = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("anchor_id"), col("label").as("anchor_label"))
    val pairs = anchors.join(emb, col("label") =!= col("anchor_label"))
      .withColumn("h", md5(concat(lit("neg:"), col("anchor_id"), lit(":"),
                                  col("vec_id"))))
    val w = Window.partitionBy("anchor_id").orderBy("h", "vec_id")
    pairs.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 5)
      .select(col("anchor_id"), col("rnk").cast("long").as("rnk"),
              col("vec_id").as("neg_id"), col("label").as("neg_label"))
      .orderBy("anchor_id", "rnk")
  }

  val q194Sql: String =
    """WITH anchors AS (
      |  SELECT vec_id AS anchor_id, label AS anchor_label
      |  FROM embeddings WHERE vec_id % 50 = 0),
      |pairs AS (
      |  SELECT anchor_id, e.vec_id, e.label,
      |    md5('neg:' || CAST(anchor_id AS VARCHAR) || ':'
      |        || CAST(e.vec_id AS VARCHAR)) AS h
      |  FROM anchors JOIN embeddings e ON e.label <> anchor_label),
      |ranked AS (
      |  SELECT anchor_id, vec_id, label,
      |    row_number() OVER (PARTITION BY anchor_id ORDER BY h, vec_id)
      |      AS rnk
      |  FROM pairs)
      |SELECT anchor_id, CAST(rnk AS BIGINT) AS rnk, vec_id AS neg_id,
      |  label AS neg_label
      |FROM ranked WHERE rnk <= 5
      |ORDER BY anchor_id, rnk""".stripMargin

  // ─── q195: class-balanced downsampling ────────────────────────────────
  // Balance a skewed corpus to the minority class size: per class, keep
  // the `target` rows with the smallest salted md5 (reproducible, the
  // q72/q194 contract; per-class window, linear). The output proves WHICH
  // rows were kept — sum of kept doc_ids is a checksum of the selection,
  // not just its size — and makes the drop fraction visible per class.
  def q195ClassBalance(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("lang"))
    val target = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("target"))
    // keep-count is data-dependent (min class size), so no fixed-k heap
    // applies — the scalable per-lang rank is Windows.densePos
    val hashed = docs.withColumn("h", md5(concat(lit("bal:"), col("doc_id"))))
    Windows.densePos(hashed, Seq("lang"), Windows.hexBucket(col("h")),
        Seq(col("h"), col("doc_id")), "rnk")
      .crossJoin(broadcast(target))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        count_if(col("rnk") <= col("target")).as("n_kept"),
        sum(when(col("rnk") <= col("target"), col("doc_id"))
          .otherwise(0L)).as("kept_id_checksum"))
      .orderBy("lang")
  }

  val q195Sql: String =
    """WITH docs AS (SELECT doc_id, lang FROM documents),
      |target AS (
      |  SELECT min(n) AS target FROM (
      |    SELECT CAST(count(*) AS BIGINT) AS n FROM docs GROUP BY lang)),
      |ranked AS (
      |  SELECT doc_id, lang,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5('bal:' || CAST(doc_id AS VARCHAR)), doc_id) AS rnk
      |  FROM docs)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
      |  CAST(count(*) FILTER (WHERE rnk <= target) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN rnk <= target THEN doc_id ELSE 0 END)
      |    AS BIGINT) AS kept_id_checksum
      |FROM ranked CROSS JOIN target
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  // ─── q209: TRAINED quality classifier (fastText-shape logistic LR) ───
  // The model-based scoring gate the heuristic scores (q43/q69/q83/q153)
  // approximate: production pipelines train a linear classifier over
  // hashed n-gram features (the public fastText recipe) on weak labels —
  // "looks like the curated source" vs not — and gate the corpus on its
  // score. Trained ENTIRELY in-engine: one epoch = one scoring join
  // (features ⋈ broadcast 65-row weight frame, map-side-combined per-doc
  // dot product) + one gradient aggregate (map-side-combined per-bucket
  // sum) — batch gradient descent where each epoch touches the sparse
  // feature frame exactly twice and shuffles only (doc_id|j)-keyed
  // fixed-width rows. Weak label: lang = 'en' (the fastText lang-ID
  // shape; deterministic, both engines). Features: unigrams hashed into
  // 64 buckets via md5-prefix (the q72/q102 cross-engine hash idiom),
  // tf-normalized, plus an explicit bias feature at j = -1 so the bias
  // rides the same gradient path as every weight. Honest caveat, as
  // with q131's isotropic embeddings: the synthetic corpus draws every
  // language from ONE shared vocabulary, so separability is weak by
  // construction — the verified contract is the optimization itself
  // (loss strictly below the zero-model ln 2, monotone per epoch,
  // CorpusSpec) and cross-engine exactness of the trained model, not
  // fixture accuracy.
  //
  // Cross-engine determinism: the k-means (q206) discipline — weights
  // ROUNDED to 6 decimals after every update, so partial-aggregation
  // summation noise is wiped at each epoch boundary; fixed zero init,
  // fixed eta, fixed epoch count; the DuckDB oracle unrolls all epochs
  // as MATERIALIZED CTEs and recomputes the identical model.
  private val LrBuckets = 64
  private val LrEpochs = 4
  private val LrEta = 4.0

  /** Sparse hashed-feature frame: (doc_id, y, j, x) — token buckets with
    * tf-normalized x plus one bias row (j = -1, x = 1) per doc. */
  private[graft] def lrFeatures(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"),
      when(col("lang") === "en", 1.0d).otherwise(0.0d).as("y"),
      tokens(col("text")).as("toks"))
    val featTok = base
      .select(col("doc_id"), col("y"), size(col("toks")).as("n"),
              explode(col("toks")).as("tok"))
      .select(col("doc_id"), col("y"), col("n"),
        pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"),
             lit(LrBuckets.toLong)).as("j"))
      .groupBy(col("doc_id"), col("y"), col("n"), col("j"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("doc_id"), col("y"), col("j"),
              (col("cnt").cast("double") / col("n")).as("x"))
    featTok.unionByName(base.select(col("doc_id"), col("y"),
      lit(-1L).as("j"), lit(1.0d).as("x")))
  }

  /** σ(w·x) per doc for a given weight frame. */
  private[graft] def lrScores(feat: DataFrame, w: DataFrame): DataFrame =
    feat.join(broadcast(w), "j")
      .groupBy(col("doc_id"), col("y"))
      .agg(sum(col("x") * col("w")).as("lin"))
      .select(col("doc_id"), col("y"),
              (lit(1.0) / (lit(1.0) + exp(-col("lin")))).as("s"))

  /** Batch-GD logistic regression: returns the (j, w) weight frame after
    * `epochs` rounds (zero init, η = [[LrEta]], round-6 updates). */
  def trainQualityLr(s: SparkSession, docs: DataFrame,
                     epochs: Int): DataFrame = {
    val feat = lrFeatures(docs).localCheckpoint()
    val nRow = broadcast(docs.agg(count(lit(1)).cast("double").as("nn")))
    var w = s.range(-1L, LrBuckets.toLong)
      .select(col("id").as("j"), lit(0.0d).as("w"))
    for (_ <- 1 to epochs) {
      val sc = lrScores(feat, w).select(col("doc_id"), col("s"))
      val g = feat.join(sc, "doc_id")
        .groupBy(col("j"))
        .agg(sum((col("s") - col("y")) * col("x")).as("gs"))
      w = w.join(g, Seq("j"), "left").crossJoin(nRow)
        .select(col("j"),
          round(col("w") - lit(LrEta) * coalesce(col("gs"), lit(0.0))
                  / col("nn"), 6).as("w"))
        .localCheckpoint()
    }
    w
  }

  /** The trained LR weight frame, memoized per session in
    * [[graft.Session]]: q209 and q244 train the IDENTICAL fixed-seed
    * model, so one session prices the 4-epoch loop once.
    */
  private def lrWeightsFor(s: SparkSession, d: String): DataFrame =
    Session.memo(s, ("lrWeights", d))(
      trainQualityLr(s, documents(s, d), LrEpochs))

  /** The SCORED corpus under the memoized weights, memoized the same
    * way: eight census queries (q209/q244/q250/q257/q264/q281/q282/q293)
    * score the IDENTICAL corpus under the IDENTICAL weight frame, and
    * each re-ran the tokenize→hash→aggregate feature pass to do it. One
    * session prices that pass once; the memoized frame is a slim
    * (doc_id, y, s) localCheckpoint.
    */
  private def lrScoresFor(s: SparkSession, d: String): DataFrame =
    Session.memo(s, ("lrScores", d))(
      lrScores(lrFeatures(documents(s, d)), lrWeightsFor(s, d))
        .localCheckpoint())

  def q209QualityClassifier(s: SparkSession, d: String): DataFrame = {
    lrScoresFor(s, d)
      .where(col("doc_id") % 17 === 0)
      .select(col("doc_id"), col("y").cast("long").as("y"),
              round(col("s"), 6).as("score"),
              when(col("s") >= 0.5, 1L).otherwise(0L).as("pred"))
      .orderBy(col("doc_id"))
  }

  /** Shared oracle CTE chain for the q209 trainer: everything up to
    * `sfin(doc_id, y, s)` — the fully-trained per-doc score frame —
    * reused verbatim by q209 (per-doc sample) and q244 (calibration). */
  private val lrOracleCtes: String = {
    val epochCtes = (1 to LrEpochs).map { r =>
      s"""s$r AS MATERIALIZED (
         |  SELECT f.doc_id, 1/(1 + exp(-sum(f.x * w.w))) AS s
         |  FROM feat f JOIN w${r - 1} w ON f.j = w.j
         |  GROUP BY f.doc_id),
         |g$r AS (
         |  SELECT f.j, sum((sc.s - f.y) * f.x) AS gs
         |  FROM feat f JOIN s$r sc ON f.doc_id = sc.doc_id
         |  GROUP BY f.j),
         |w$r AS MATERIALIZED (
         |  SELECT w.j, round(w.w - $LrEta * coalesce(g.gs, 0)
         |    / (SELECT nn FROM n), 6) AS w
         |  FROM w${r - 1} w LEFT JOIN g$r g ON w.j = g.j)""".stripMargin
    }.mkString(",\n")
    s"""base AS MATERIALIZED (
       |  SELECT doc_id,
       |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |    $tokensSql AS toks
       |  FROM documents),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM base),
       |feat AS MATERIALIZED (
       |  SELECT doc_id, y, j, CAST(cnt AS DOUBLE) / n AS x FROM (
       |    SELECT doc_id, y, n,
       |      CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % $LrBuckets
       |        AS j,
       |      count(*) AS cnt
       |    FROM (SELECT doc_id, y, len(toks) AS n, unnest(toks) AS tok
       |          FROM base)
       |    GROUP BY doc_id, y, n, j)
       |  UNION ALL
       |  SELECT doc_id, y, -1 AS j, 1.0 AS x FROM base),
       |w0 AS (SELECT CAST(u.j AS BIGINT) AS j, CAST(0 AS DOUBLE) AS w
       |       FROM unnest(range(-1, $LrBuckets)) u(j)),
       |$epochCtes,
       |sfin AS (
       |  SELECT f.doc_id, f.y, 1/(1 + exp(-sum(f.x * w.w))) AS s
       |  FROM feat f JOIN w$LrEpochs w ON f.j = w.j
       |  GROUP BY f.doc_id, f.y)""".stripMargin
  }

  val q209Sql: String =
    s"""WITH $lrOracleCtes
       |SELECT doc_id, CAST(y AS BIGINT) AS y, round(s, 6) AS score,
       |  CAST(CASE WHEN s >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS pred
       |FROM sfin
       |WHERE doc_id % 17 = 0
       |ORDER BY doc_id""".stripMargin

  // ─── q244: calibration census of the trained classifier ──────────────
  // The standard post-training eval (reliability diagram / ECE inputs):
  // bucket every doc by its PREDICTED probability and compare against
  // the EMPIRICAL positive rate per bin — the gap is miscalibration.
  // Bins are EQUAL-MASS score deciles (the reliability-diagram variant
  // robust to score concentration — this weak-label model's scores span
  // ~0.004, so absolute-width bins would all collapse into one), cut at
  // percentile_disc values of the INTEGER micro-quantized score
  // (micro = round(s·1e6), the 6-dp precision q209's per-doc check
  // already pins cross-engine): every boundary is an attained integer,
  // bin = count of cuts strictly below micro. The census carries exact
  // integer micro sums, never a float average — consumers divide.
  // Scale: one scoring pass; the decile cut is one exact-percentile
  // aggregate over the per-doc frame crossJoined back as a 1-row
  // broadcast (q226's contract — approx_percentile is the 100 TB knob).
  def q244CalibrationCensus(s: SparkSession, d: String): DataFrame = {
    val scored = lrScoresFor(s, d)
      .select(col("y").cast("long").as("y"),
        round(col("s") * 1e6, 0).cast("long").as("micro"))
    val cuts = scored.agg(array((1 to 9).map(k =>
      expr(s"percentile_disc(0.$k) WITHIN GROUP (ORDER BY micro)")): _*)
      .as("cuts"))
    scored.crossJoin(broadcast(cuts))
      .select(col("y"), col("micro"),
        size(filter(col("cuts"), c => c < col("micro"))).cast("long")
          .as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"),
           sum(col("micro")).as("micro_sum"))
      .orderBy(col("bin"))
  }

  // ─── q303: dataset cartography (training-dynamics data map) ───────────
  // Swayamdipta et al. 2020's "Data Maps": track each example's predicted
  // probability of its TRUE label across training epochs; the corpus
  // splits into easy-to-learn (high confidence, low variability),
  // ambiguous (high variability — the examples worth labeling twice),
  // and hard-to-learn (low confidence — the mislabel/noise suspects the
  // q282 census triages). Here over q209's 4-epoch LR trainer: the
  // per-epoch scores are the SAME frames the gradient passes already
  // compute, so the oracle reuses the trainer CTE chain verbatim
  // (epoch-r scores ≡ the chain's s_{r+1}).
  //
  // Exactness: per-epoch true-class probability quantized to integer
  // micros (q209's 6-dp pin), confidence = truncating-div mean of 4
  // integers, variability carried as the EXACT integer 16·σ² =
  // 4·Σm² − (Σm)² — no sqrt ever computed, consumers take it. Region
  // cuts are percentile_disc medians of those integers (attained
  // values, the q244 rule; approx_percentile is the 100 TB knob).
  def q303DatasetCartography(s: SparkSession, d: String): DataFrame = {
    val per = lrEpochScores(s, documents(s, d))
      .select(col("doc_id"), col("y"),
        round(when(col("y") === 1.0, col("s"))
          .otherwise(lit(1.0) - col("s")) * 1e6, 0).cast("long").as("m"))
      .groupBy(col("doc_id"), col("y"))
      .agg(sum(col("m")).as("sm"), sum(col("m") * col("m")).as("sm2"))
      .select(col("doc_id"), col("y").cast("long").as("y"),
        expr(s"sm div $LrEpochs").as("conf_micro"),
        (lit(LrEpochs.toLong) * col("sm2") - col("sm") * col("sm"))
          .as("var_x16"))
    val meds = per.agg(
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY conf_micro)")
        .as("cmed"),
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY var_x16)")
        .as("vmed"))
    per.crossJoin(broadcast(meds))
      .where(col("doc_id") % 17 === 0)
      .select(col("doc_id"), col("y"), col("conf_micro"), col("var_x16"),
        when(col("conf_micro") < col("cmed"), "hard")
          .when(col("var_x16") > col("vmed"), "ambiguous")
          .otherwise("easy").as("region"))
      .orderBy(col("doc_id"))
  }

  /** The q209 trainer with per-epoch score capture: (doc_id, y, ep, s)
    * for ep = 1..epochs, where epoch-r scores are σ(w_r·x) — the same
    * values the NEXT gradient pass consumes (and the oracle's s_{r+1}
    * CTEs). Factored for [[q303DatasetCartography]]. */
  private[graft] def lrEpochScores(s: SparkSession,
                                   docs: DataFrame): DataFrame = {
    val feat = lrFeatures(docs).localCheckpoint()
    val nRow = broadcast(docs.agg(count(lit(1)).cast("double").as("nn")))
    var w = s.range(-1L, LrBuckets.toLong)
      .select(col("id").as("j"), lit(0.0d).as("w"))
    val eps = Seq.newBuilder[DataFrame]
    for (r <- 1 to LrEpochs) {
      val sc = lrScores(feat, w).select(col("doc_id"), col("s"))
      val g = feat.join(sc, "doc_id")
        .groupBy(col("j"))
        .agg(sum((col("s") - col("y")) * col("x")).as("gs"))
      w = w.join(g, Seq("j"), "left").crossJoin(nRow)
        .select(col("j"),
          round(col("w") - lit(LrEta) * coalesce(col("gs"), lit(0.0))
                  / col("nn"), 6).as("w"))
        .localCheckpoint()
      eps += lrScores(feat, w)
        .select(col("doc_id"), col("y"), lit(r.toLong).as("ep"), col("s"))
    }
    eps.result().reduce(_ unionByName _)
  }

  val q303Sql: String =
    s"""WITH $lrOracleCtes,
       |em AS (
       |  SELECT doc_id, s FROM s2
       |  UNION ALL SELECT doc_id, s FROM s3
       |  UNION ALL SELECT doc_id, s FROM s4
       |  UNION ALL SELECT doc_id, s FROM sfin),
       |lab AS (SELECT doc_id, y FROM sfin),
       |pm AS (
       |  SELECT e.doc_id, l.y,
       |    CAST(round((CASE WHEN l.y = 1.0 THEN e.s ELSE 1 - e.s END)
       |      * 1e6, 0) AS BIGINT) AS m
       |  FROM em e JOIN lab l USING (doc_id)),
       |per AS MATERIALIZED (
       |  SELECT doc_id, CAST(y AS BIGINT) AS y,
       |    CAST(sum(m) AS BIGINT) // $LrEpochs AS conf_micro,
       |    $LrEpochs * CAST(sum(m * m) AS BIGINT)
       |      - CAST(sum(m) AS BIGINT) * CAST(sum(m) AS BIGINT) AS var_x16
       |  FROM pm GROUP BY doc_id, y),
       |meds AS (
       |  SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY conf_micro)
       |      AS cmed,
       |    percentile_disc(0.5) WITHIN GROUP (ORDER BY var_x16) AS vmed
       |  FROM per)
       |SELECT doc_id, y, conf_micro, var_x16,
       |  CASE WHEN conf_micro < cmed THEN 'hard'
       |       WHEN var_x16 > vmed THEN 'ambiguous'
       |       ELSE 'easy' END AS region
       |FROM per, meds
       |WHERE doc_id % 17 = 0
       |ORDER BY doc_id""".stripMargin

  val q244Sql: String = {
    val cutList = (1 to 9).map(k =>
      s"percentile_disc(0.$k) WITHIN GROUP (ORDER BY micro)")
      .mkString("[", ", ", "]")
    s"""WITH $lrOracleCtes,
       |q AS (SELECT CAST(y AS BIGINT) AS y,
       |        CAST(round(s * 1e6, 0) AS BIGINT) AS micro
       |      FROM sfin),
       |cuts AS (SELECT $cutList AS cuts FROM q)
       |SELECT CAST(len(list_filter(cuts, c -> c < micro)) AS BIGINT) AS bin,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(y) AS BIGINT) AS n_pos,
       |  CAST(sum(micro) AS BIGINT) AS micro_sum
       |FROM q, cuts
       |GROUP BY bin
       |ORDER BY bin""".stripMargin
  }

  // ─── q257: precision/recall threshold sweep of the trained gate ──────
  // Completes the classifier-eval family (q209 scores, q244 calibration,
  // q250 AUC): the operating-point table — at each of the 9 equal-mass
  // score cuts (q244's percentile_disc deciles of the integer micro
  // score), the confusion counts and precision/recall a gate deployed
  // at that threshold would see. "Positive" = micro STRICTLY above the
  // cut. Counts are exact integers folded from the score HISTOGRAM
  // (micro → (np, ne)) crossed with the broadcast 9-cut frame — the
  // fact is touched once, the sweep costs |hist|×9 tiny rows; the top
  // cut can leave an empty positive set (every micro ≤ cut), reported
  // as precision 0 by convention on both engines.
  def q257PrSweep(s: SparkSession, d: String): DataFrame = {
    val hist = lrScoresFor(s, d)
      .select(col("y").cast("long").as("y"),
        round(col("s") * 1e6, 0).cast("long").as("micro"))
      .groupBy(col("micro"))
      .agg(count_if(col("y") === 1L).as("np"),
           count_if(col("y") === 0L).as("ne"))
    // cuts come from the ROW-level frame exactly as q244's (a percentile
    // over the histogram would mis-weight); 1-row broadcast array
    val scored = lrScoresFor(s, d)
      .select(col("y").cast("long").as("y"),
        round(col("s") * 1e6, 0).cast("long").as("micro"))
    val cutArr = scored.agg(array((1 to 9).map(k =>
      expr(s"percentile_disc(0.$k) WITHIN GROUP (ORDER BY micro)")): _*)
      .as("cuts"))
    hist.crossJoin(broadcast(cutArr))
      .select(col("micro"), col("np"), col("ne"),
        posexplode(col("cuts")))
      .select((col("pos") + 1).as("cut_idx"),
        col("col").cast("long").as("threshold"), // percentile_disc → DOUBLE
        col("micro"), col("np"), col("ne"))
      .groupBy(col("cut_idx"), col("threshold"))
      .agg(
        sum(when(col("micro") > col("threshold"), col("np"))
          .otherwise(0L)).as("tp"),
        sum(when(col("micro") > col("threshold"), col("ne"))
          .otherwise(0L)).as("fp"),
        sum(when(col("micro") <= col("threshold"), col("np"))
          .otherwise(0L)).as("fn"))
      .select(col("cut_idx"), col("threshold"), col("tp"), col("fp"),
        col("fn"),
        when(col("tp") + col("fp") === 0L, lit(0.0d))
          .otherwise(round(col("tp").cast("double") /
            (col("tp") + col("fp")), 6)).as("precision"),
        when(col("tp") + col("fn") === 0L, lit(0.0d))
          .otherwise(round(col("tp").cast("double") /
            (col("tp") + col("fn")), 6)).as("recall"))
      .orderBy(col("cut_idx"))
  }

  val q257Sql: String = {
    val cutList = (1 to 9).map(k =>
      s"percentile_disc(0.$k) WITHIN GROUP (ORDER BY micro)")
      .mkString("[", ", ", "]")
    s"""WITH $lrOracleCtes,
       |sc AS (SELECT CAST(y AS BIGINT) AS y,
       |         CAST(round(s * 1e6, 0) AS BIGINT) AS micro FROM sfin),
       |hist AS (
       |  SELECT micro, CAST(count(*) FILTER (WHERE y = 1) AS BIGINT) AS np,
       |    CAST(count(*) FILTER (WHERE y = 0) AS BIGINT) AS ne
       |  FROM sc GROUP BY micro),
       |cuts AS (SELECT $cutList AS cuts FROM sc),
       |sweep AS (
       |  SELECT u.k AS cut_idx, cuts[u.k] AS threshold,
       |    h.micro, h.np, h.ne
       |  FROM hist h CROSS JOIN cuts
       |  CROSS JOIN (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS k) u),
       |conf AS (
       |  SELECT CAST(cut_idx AS BIGINT) AS cut_idx,
       |    CAST(threshold AS BIGINT) AS threshold,
       |    CAST(sum(CASE WHEN micro > threshold THEN np ELSE 0 END)
       |      AS BIGINT) AS tp,
       |    CAST(sum(CASE WHEN micro > threshold THEN ne ELSE 0 END)
       |      AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN micro <= threshold THEN np ELSE 0 END)
       |      AS BIGINT) AS fn
       |  FROM sweep GROUP BY 1, 2)
       |SELECT cut_idx, threshold, tp, fp, fn,
       |  CASE WHEN tp + fp = 0 THEN CAST(0 AS DOUBLE)
       |       ELSE round(CAST(tp AS DOUBLE) / (tp + fp), 6) END
       |    AS precision,
       |  CASE WHEN tp + fn = 0 THEN CAST(0 AS DOUBLE)
       |       ELSE round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall
       |FROM conf
       |ORDER BY cut_idx""".stripMargin
  }

  // ─── q264: split conformal prediction gate ────────────────────────────
  // Distribution-free uncertainty for the trained gate (split/inductive
  // conformal prediction — Vovk et al. 2005; Angelopoulos & Bates 2021
  // form): instead of a point threshold (q257's operating points), emit
  // a PREDICTION SET per document that covers the true label with
  // probability ≥ 1 − α by construction. Entirely rank-based, so it is
  // integer-exact end to end:
  //  - calibration = the 'val' slice of q72/q204's deterministic md5
  //    hash split (cc/e6 fences — both engines type the same CASE);
  //  - nonconformity αᵢ = 1 − p̂_{yᵢ} in integer micros (1e6 − micro for
  //    positives, micro for negatives);
  //  - q̂ = the ⌈(n+1)(1−α)⌉-th smallest calibration score, α = 0.10 —
  //    an exact RANK statistic: k = (9(n+1)+9) div 10, q̂ = the smallest
  //    histogram value whose cumulative count reaches k. When k > n
  //    (tiny calibration sets) the conformal convention is q̂ = ∞ — the
  //    1 000 001 sentinel, every set becomes {0, 1};
  //  - test-set prediction set = {y : 1 − p̂_y ≤ q̂}; the census counts
  //    set compositions (both / pos_only / neg_only / empty) and how
  //    often the TRUE label landed inside — the empirical coverage the
  //    1 − α guarantee is checked against.
  // Scale: one scoring pass; the cumulative rank runs over the ≤1e6-row
  // micro HISTOGRAM (the q250 shape), never per-doc rows; q̂ and k ride
  // 1-row broadcasts.
  def q264ConformalGate(s: SparkSession, d: String): DataFrame = {
    val h2 = substring(
      md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 2)
    val scored = lrScoresFor(s, d)
      .select(col("doc_id"), col("y").cast("long").as("y"),
        round(col("s") * 1e6, 0).cast("long").as("micro"),
        when(h2 < "cc", "train").when(h2 < "e6", "val").otherwise("test")
          .as("split"))
    val hist = scored.where(col("split") === "val")
      .select(when(col("y") === 1L, lit(1000000L) - col("micro"))
        .otherwise(col("micro")).as("alpha"))
      .groupBy(col("alpha")).agg(count(lit(1)).as("c"))
    val kRow = hist.agg(sum(col("c")).as("nn"))
      .select(expr("(9 * (nn + 1) + 9) div 10").as("k"))
    val wCum = Window.orderBy(col("alpha"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val qhatRow = broadcast(hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .crossJoin(broadcast(kRow))
      .where(col("cum") >= col("k"))
      .agg(coalesce(min(col("alpha")), lit(1000001L)).as("qhat")))
    scored.where(col("split") === "test")
      .crossJoin(qhatRow)
      .select(col("y"), col("qhat"),
        (lit(1000000L) - col("micro") <= col("qhat")).as("in1"),
        (col("micro") <= col("qhat")).as("in0"))
      .select(col("y"), col("qhat"),
        when(col("in1") && col("in0"), "both")
          .when(col("in1"), "pos_only")
          .when(col("in0"), "neg_only")
          .otherwise("empty").as("set_type"),
        when((col("y") === 1L && col("in1")) ||
             (col("y") === 0L && col("in0")), 1L).otherwise(0L).as("cov"))
      .groupBy(col("set_type"), col("qhat"))
      .agg(count(lit(1)).as("n_docs"), sum(col("cov")).as("n_covered"))
      .orderBy(col("set_type"))
  }

  val q264Sql: String = {
    def splitCase(c: String) =
      s"""CASE WHEN substr(md5('split:' || CAST($c AS VARCHAR)), 1, 2) < 'cc'
         |  THEN 'train'
         |  WHEN substr(md5('split:' || CAST($c AS VARCHAR)), 1, 2) < 'e6'
         |  THEN 'val' ELSE 'test' END""".stripMargin
    s"""WITH $lrOracleCtes,
       |sc AS MATERIALIZED (
       |  SELECT doc_id, CAST(y AS BIGINT) AS y,
       |    CAST(round(s * 1e6, 0) AS BIGINT) AS micro,
       |    ${splitCase("doc_id")} AS split
       |  FROM sfin),
       |hist AS (
       |  SELECT CASE WHEN y = 1 THEN 1000000 - micro ELSE micro END
       |    AS alpha, CAST(count(*) AS BIGINT) AS c
       |  FROM sc WHERE split = 'val' GROUP BY 1),
       |kf AS (SELECT (9 * (CAST(sum(c) AS BIGINT) + 1) + 9) // 10 AS k
       |       FROM hist),
       |qh AS (
       |  SELECT CAST(coalesce(min(alpha), 1000001) AS BIGINT) AS qhat
       |  FROM (SELECT alpha, sum(c) OVER (ORDER BY alpha ROWS BETWEEN
       |          UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM hist),
       |       kf
       |  WHERE cum >= k),
       |test AS (
       |  SELECT y, qhat, (1000000 - micro <= qhat) AS in1,
       |    (micro <= qhat) AS in0
       |  FROM sc, qh WHERE split = 'test')
       |SELECT CASE WHEN in1 AND in0 THEN 'both'
       |            WHEN in1 THEN 'pos_only'
       |            WHEN in0 THEN 'neg_only' ELSE 'empty' END AS set_type,
       |  qhat, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN (y = 1 AND in1) OR (y = 0 AND in0)
       |               THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
       |FROM test
       |GROUP BY 1, 2
       |ORDER BY set_type""".stripMargin
  }

  // ─── q268: exact feature attribution for the trained gate ─────────────
  // Model interpretability as a first-class pipeline op: for a LINEAR
  // model the Shapley value of feature j on the logit is EXACT and
  // closed-form — φ_ij = w_j·(x_ij − E[x_j]) (the "linear SHAP"
  // identity; no sampling, no background-set approximation). The global
  // importance census every model card reports is mean |φ_j| over the
  // corpus, computed here without densifying the sparse feature frame:
  // docs NOT containing feature j contribute the constant |w_j·μ_j|
  // each, so mean|φ_j| = (Σ_present |w_j(x−μ_j)| + (N−n_j)·|w_j·μ_j|)/N
  // — one aggregate over the sparse rows plus integer arithmetic for
  // the absent mass. Per-row magnitudes quantize to integer NANOS (the
  // q231 double-round) before summation; μ_j rounds to 6 dp at its
  // aggregate boundary; the final mean is a truncating integer div.
  // Scale: two map-side-combined aggregates over the sparse frame; the
  // weight/stat frames are ≤65 rows, broadcast; N rides a 1-row cross.
  def q268FeatureAttribution(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val w = lrWeightsFor(s, d)
    val feat = lrFeatures(docs)
    val nRow = broadcast(docs.agg(count(lit(1)).as("n")))
    val stats = feat.groupBy(col("j"))
      .agg(count(lit(1)).as("n_present"), sum(col("x")).as("sx"))
      .crossJoin(nRow)
      .select(col("j"), col("n_present"), col("n"),
        round(col("sx") / col("n").cast("double"), 6).as("mu6"))
    val present = feat.join(broadcast(w), "j")
      .join(broadcast(stats.select(col("j"), col("mu6"))), "j")
      .select(col("j"),
        round(round(abs(col("w") * (col("x") - col("mu6"))), 9) * 1e9, 0)
          .cast("long").as("anano"))
      .groupBy(col("j")).agg(sum(col("anano")).as("present_nano"))
    stats.join(w, "j").join(present, Seq("j"), "left")
      .select(col("j"), col("n_present"), col("w"), col("mu6"),
        col("n"), coalesce(col("present_nano"), lit(0L)).as("pn"),
        round(round(abs(col("w") * col("mu6")), 9) * 1e9, 0).cast("long")
          .as("absent_nano"))
      .select(col("j"), col("n_present"), col("w"), col("mu6"),
        expr("(pn + (n - n_present) * absent_nano) div n")
          .as("mean_abs_nano"))
      .orderBy(col("j"))
  }

  val q268Sql: String =
    s"""WITH $lrOracleCtes,
       |stats AS (
       |  SELECT j, CAST(count(*) AS BIGINT) AS n_present,
       |    round(sum(x) / (SELECT nn FROM n), 6) AS mu6
       |  FROM feat GROUP BY j),
       |pres AS (
       |  SELECT f.j,
       |    CAST(sum(CAST(round(round(abs(w.w * (f.x - st.mu6)), 9) * 1e9,
       |      0) AS BIGINT)) AS BIGINT) AS pn
       |  FROM feat f JOIN w$LrEpochs w USING (j) JOIN stats st USING (j)
       |  GROUP BY f.j)
       |SELECT st.j, st.n_present, w.w, st.mu6,
       |  (coalesce(p.pn, 0)
       |   + (CAST((SELECT nn FROM n) AS BIGINT) - st.n_present)
       |     * CAST(round(round(abs(w.w * st.mu6), 9) * 1e9, 0) AS BIGINT))
       |  // CAST((SELECT nn FROM n) AS BIGINT) AS mean_abs_nano
       |FROM stats st JOIN w$LrEpochs w USING (j)
       |LEFT JOIN pres p USING (j)
       |ORDER BY st.j""".stripMargin

  // ─── q272: Jensen–Shannon source-drift audit ──────────────────────────
  // The bounded, symmetric distribution distance (Lin 1991) corpus
  // pipelines alarm on: how far has each SOURCE's unigram distribution
  // drifted from the corpus pool (new crawl snapshot vs trained mix,
  // domain rebalance checks — the drift twin of q253's schema-stats
  // diff). JSD(P‖Q) = ½KL(P‖M) + ½KL(Q‖M), M = (P+Q)/2; Q here is the
  // full corpus INCLUDING the source (the standard drift-vs-pool read;
  // JSD's bounds don't require disjointness). Tokens absent from the
  // source close in CLOSED FORM — their whole contribution is
  // ½·ln2·(1 − Σ_{p>0} q) — so the join only ever touches tokens the
  // source actually has.
  // Determinism: p and q are integer-count ratios (identical doubles);
  // each present-token term and each q mass quantize to integer NANOS
  // (the q231 double-round) before summation; the final assembly is
  // 1-row-per-source double math on exact integers, rounded to 6 dp.
  // Scale: one token pass; freq frames are vocab-sized, map-side
  // combined, joined on the token (md5 it at 100 TB — the q153 note);
  // totals ride broadcasts.
  def q272JsDrift(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("t"))
    val srcF = tok.groupBy(col("source"), col("t"))
      .agg(count(lit(1)).as("cs"))
    val srcTot = srcF.groupBy(col("source")).agg(sum(col("cs")).as("ns"))
    val corpF = srcF.groupBy(col("t")).agg(sum(col("cs")).as("cc"))
    val corpTot = broadcast(corpF.agg(sum(col("cc")).as("nc")))
    val p = col("cs").cast("double") / col("ns").cast("double")
    val q = col("cc").cast("double") / col("nc").cast("double")
    val perTok = srcF.join(broadcast(srcTot), "source").join(corpF, "t")
      .crossJoin(corpTot)
      .select(col("source"),
        round(round(p * log(lit(2.0) * p / (p + q)) +
                    q * log(lit(2.0) * q / (p + q)), 9) * 1e9, 0)
          .cast("long").as("t_nano"),
        round(round(q, 9) * 1e9, 0).cast("long").as("q_nano"))
    perTok.groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"),
           sum(col("t_nano")).as("s1"), sum(col("q_nano")).as("s2"))
      .select(col("source"), col("n_types"),
        round((col("s1").cast("double") / 1e9 +
          log(lit(2.0)) * (lit(1.0) - col("s2").cast("double") / 1e9)) /
          2.0, 6).as("jsd"))
      .orderBy(col("source"))
  }

  val q272Sql: String = {
    val p = "CAST(cs AS DOUBLE) / CAST(ns AS DOUBLE)"
    val q = "CAST(cc AS DOUBLE) / CAST(nc AS DOUBLE)"
    s"""WITH tok AS MATERIALIZED (
       |  SELECT source, unnest($tokensSql) AS t FROM documents),
       |srcf AS MATERIALIZED (
       |  SELECT source, t, CAST(count(*) AS BIGINT) AS cs
       |  FROM tok GROUP BY 1, 2),
       |srctot AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ns
       |           FROM srcf GROUP BY source),
       |corpf AS (SELECT t, CAST(sum(cs) AS BIGINT) AS cc
       |          FROM srcf GROUP BY t),
       |corptot AS (SELECT CAST(sum(cc) AS BIGINT) AS nc FROM corpf),
       |pertok AS (
       |  SELECT source,
       |    CAST(round(round(($p) * ln(2.0 * ($p) / (($p) + ($q)))
       |      + ($q) * ln(2.0 * ($q) / (($p) + ($q))), 9) * 1e9, 0)
       |      AS BIGINT) AS t_nano,
       |    CAST(round(round(($q), 9) * 1e9, 0) AS BIGINT) AS q_nano
       |  FROM srcf JOIN srctot USING (source) JOIN corpf USING (t),
       |       corptot)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_types,
       |  round((CAST(sum(t_nano) AS DOUBLE) / 1e9
       |    + ln(2.0) * (1.0 - CAST(sum(q_nano) AS DOUBLE) / 1e9)) / 2.0, 6)
       |    AS jsd
       |FROM pertok
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }

  // ─── q281: disparate-impact audit of the trained gate ─────────────────
  // Governance for the quality gate (the q252 k-anonymity family): does
  // the trained classifier pass documents from every SOURCE at
  // comparable rates? The published four-fifths (80%) rule from
  // disparate-impact doctrine, evaluated as an exact INTEGER
  // cross-multiplication (the q218 float-free-predicate discipline):
  // group i flags iff 5·pass_i·n_ref < 4·pass_ref·n_i, where ref is
  // the group with the highest pass rate (rate ties broken by source
  // name via exact fraction comparison). Census per source: docs, pass
  // count, pass rate in exact basis points, the reference group, and
  // the flag — the table a data-governance review reads.
  // Scale: one scoring pass reduced to the |sources|-row frame; the
  // 1-row reference rides a broadcast.
  def q281DisparateImpact(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val scored = lrScoresFor(s, d)
      .select(col("doc_id"), when(col("s") >= 0.5, 1L).otherwise(0L)
        .as("pass"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val grp = scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("pass")).as("n_pass"))
    // reference = max exact pass rate: argmax by integer cross-mult via
    // max_by on the exact fraction ordering (rate, then source)
    val ref = broadcast(grp
      .agg(expr("max_by(struct(n_pass, n_docs, source)," +
        " struct(CAST(n_pass AS DOUBLE) / n_docs, source))").as("r"))
      .select(col("r.n_pass").as("ref_pass"), col("r.n_docs")
        .as("ref_docs"), col("r.source").as("ref_source")))
    grp.crossJoin(ref)
      .select(col("source"), col("n_docs"), col("n_pass"),
        expr("(10000 * n_pass) div n_docs").as("pass_bp"),
        col("ref_source"),
        when(lit(5L) * col("n_pass") * col("ref_docs") <
             lit(4L) * col("ref_pass") * col("n_docs"), 1L).otherwise(0L)
          .as("di_flag"))
      .orderBy(col("source"))
  }

  val q281Sql: String =
    s"""WITH $lrOracleCtes,
       |scored AS (
       |  SELECT d.source,
       |    CASE WHEN f.s >= 0.5 THEN 1 ELSE 0 END AS pass
       |  FROM sfin f JOIN documents d USING (doc_id)),
       |grp AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(pass) AS BIGINT) AS n_pass
       |  FROM scored GROUP BY source),
       |ref AS (
       |  SELECT n_pass AS ref_pass, n_docs AS ref_docs,
       |    source AS ref_source
       |  FROM grp
       |  ORDER BY CAST(n_pass AS DOUBLE) / n_docs DESC, source DESC
       |  LIMIT 1)
       |SELECT g.source, g.n_docs, g.n_pass,
       |  (10000 * g.n_pass) // g.n_docs AS pass_bp,
       |  ref_source,
       |  CAST(CASE WHEN 5 * g.n_pass * ref_docs < 4 * ref_pass * g.n_docs
       |            THEN 1 ELSE 0 END AS BIGINT) AS di_flag
       |FROM grp g, ref
       |ORDER BY g.source""".stripMargin

  // ─── q282: suspect-label census (confident-learning screen) ──────────
  // Label-noise triage (the Northcutt et al. 2021 "confident learning"
  // read, reduced to its actionable census): documents where the
  // trained model CONFIDENTLY disagrees with their weak label are the
  // ones a relabeling pass should look at first. Confidence bands cut
  // at the exact p10/p90 percentile_disc values of the integer micro
  // score (attained integers — the q244 discipline); suspects =
  // high-scoring negatives and low-scoring positives. The census
  // carries per (band, y) counts plus the suspect id checksum — WHICH
  // docs are suspect is pinned cross-engine, not just how many.
  def q282SuspectLabels(s: SparkSession, d: String): DataFrame = {
    val scored = lrScoresFor(s, d)
      .select(col("doc_id"), col("y").cast("long").as("y"),
        round(col("s") * 1e6, 0).cast("long").as("micro"))
    val cuts = broadcast(scored.agg(
      expr("percentile_disc(0.1) WITHIN GROUP (ORDER BY micro)").as("lo"),
      expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY micro)").as("hi")))
    scored.crossJoin(cuts)
      .select(col("doc_id"), col("y"),
        when(col("micro") > col("hi"), "high")
          .when(col("micro") < col("lo"), "low")
          .otherwise("mid").as("band"))
      .withColumn("suspect",
        when((col("band") === "high" && col("y") === 0L) ||
             (col("band") === "low" && col("y") === 1L), 1L)
          .otherwise(0L))
      .groupBy(col("band"), col("y"))
      .agg(count(lit(1)).as("n_docs"), sum(col("suspect")).as("n_suspect"),
           sum(col("doc_id") * col("suspect")).as("suspect_id_sum"))
      .orderBy(col("band"), col("y"))
  }

  val q282Sql: String =
    s"""WITH $lrOracleCtes,
       |sc AS (SELECT doc_id, CAST(y AS BIGINT) AS y,
       |         CAST(round(s * 1e6, 0) AS BIGINT) AS micro FROM sfin),
       |cuts AS (
       |  SELECT percentile_disc(0.1) WITHIN GROUP (ORDER BY micro) AS lo,
       |    percentile_disc(0.9) WITHIN GROUP (ORDER BY micro) AS hi
       |  FROM sc),
       |banded AS (
       |  SELECT doc_id, y,
       |    CASE WHEN micro > hi THEN 'high'
       |         WHEN micro < lo THEN 'low' ELSE 'mid' END AS band
       |  FROM sc, cuts),
       |tagged AS (
       |  SELECT doc_id, y, band,
       |    CASE WHEN (band = 'high' AND y = 0) OR (band = 'low' AND y = 1)
       |         THEN 1 ELSE 0 END AS suspect
       |  FROM banded)
       |SELECT band, y, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(suspect) AS BIGINT) AS n_suspect,
       |  CAST(sum(doc_id * suspect) AS BIGINT) AS suspect_id_sum
       |FROM tagged
       |GROUP BY band, y
       |ORDER BY band, y""".stripMargin

  // ─── q293: isotonic calibration of the trained gate (PAV) ────────────
  // q244 DIAGNOSES miscalibration; this REPAIRS it — isotonic
  // regression, the standard nonparametric recalibration (Zadrozny &
  // Elkan 2002), fitted over the same equal-mass score deciles. Instead
  // of the sequential pool-adjacent-violators loop, the fit uses PAV's
  // closed MINIMAX characterization (Robertson et al. 1988):
  //   iso_i = max_{j ≤ i} min_{k ≥ i} (Σ_{j..k} pos) / (Σ_{j..k} n)
  // — exact over the 10-row bin frame: interval sums come from integer
  // prefix sums, the two quantifiers are two grouped aggregates over
  // the bounded (i, j, k) lattice (≤ 10·55 rows at any corpus size —
  // the bins are the state, never the docs), and ratios of identical
  // integers compare identically in both engines. Output keeps the raw
  // decile rates next to the isotonic fit; monotonicity of the fit is
  // spec-asserted (CorpusSpec) and the minimax form GUARANTEES it.
  def q293IsotonicCalibration(s: SparkSession, d: String): DataFrame = {
    val scored = lrScoresFor(s, d)
      .select(col("y").cast("long").as("y"),
        round(col("s") * 1e6, 0).cast("long").as("micro"))
    val cuts = scored.agg(array((1 to 9).map(k =>
      expr(s"percentile_disc(0.$k) WITHIN GROUP (ORDER BY micro)")): _*)
      .as("cuts"))
    val bins = scored.crossJoin(broadcast(cuts))
      .select(col("y"),
        size(filter(col("cuts"), c => c < col("micro"))).cast("long")
          .as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    val b2 = bins.localCheckpoint() // ≤10 rows; anchors the lattice joins
    val jk = b2.select(col("bin").as("j"))
      .crossJoin(b2.select(col("bin").as("k")))
      .where(col("j") <= col("k"))
    val iv = jk.join(b2, col("bin").between(col("j"), col("k")))
      .groupBy(col("j"), col("k"))
      .agg(sum(col("n")).as("ivn"), sum(col("pos")).as("ivp"))
    val inner = b2.select(col("bin").as("i"))
      .join(iv, col("j") <= col("i") && col("i") <= col("k"))
      .groupBy(col("i"), col("j"))
      .agg(min(col("ivp").cast("double") / col("ivn").cast("double"))
        .as("mn"))
    val iso = inner.groupBy(col("i")).agg(max(col("mn")).as("iso"))
    b2.join(iso, b2("bin") === iso("i"))
      .select(col("bin"), col("n"), col("pos"),
        expr("(10000 * pos) div n").as("raw_rate_bp"),
        round(col("iso") * 1e6, 0).cast("long").as("iso_rate_micro"))
      .orderBy(col("bin"))
  }

  val q293Sql: String = {
    val cutList = (1 to 9).map(k =>
      s"percentile_disc(0.$k) WITHIN GROUP (ORDER BY micro)")
      .mkString("[", ", ", "]")
    s"""WITH $lrOracleCtes,
       |q AS (SELECT CAST(y AS BIGINT) AS y,
       |        CAST(round(s * 1e6, 0) AS BIGINT) AS micro FROM sfin),
       |cuts AS (SELECT $cutList AS cuts FROM q),
       |bins AS MATERIALIZED (
       |  SELECT CAST(len(list_filter(cuts, c -> c < micro)) AS BIGINT)
       |    AS bin,
       |    CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
       |  FROM q, cuts GROUP BY 1),
       |jk AS (SELECT a.bin AS j, b.bin AS k FROM bins a, bins b
       |       WHERE a.bin <= b.bin),
       |iv AS (
       |  SELECT j, k, CAST(sum(n) AS BIGINT) AS ivn,
       |    CAST(sum(pos) AS BIGINT) AS ivp
       |  FROM jk JOIN bins ON bin BETWEEN j AND k
       |  GROUP BY j, k),
       |inner_min AS (
       |  SELECT i.bin AS i, j,
       |    min(CAST(ivp AS DOUBLE) / CAST(ivn AS DOUBLE)) AS mn
       |  FROM bins i JOIN iv ON j <= i.bin AND i.bin <= k
       |  GROUP BY i.bin, j),
       |iso AS (SELECT i, max(mn) AS iso FROM inner_min GROUP BY i)
       |SELECT bin, n, pos, (10000 * pos) // n AS raw_rate_bp,
       |  CAST(round(iso * 1e6, 0) AS BIGINT) AS iso_rate_micro
       |FROM bins JOIN iso ON bin = i
       |ORDER BY bin""".stripMargin
  }

  // ─── q228: TRAINED multi-class language ID (softmax regression) ──────
  // q44 is the heuristic lang-ID (marker scoring); q209 the binary
  // trained classifier. This is the canonical fastText deployment —
  // supervised language identification — as a 5-class softmax over the
  // same hashed-token features: z_k = Σ_j x·w_jk, p = softmax(z),
  // per-epoch gradient for (j, k) = Σ_docs (p_k − 1[y=k])·x — one
  // map-side-combined aggregate per epoch over the sparse feature frame,
  // exactly q209's scale shape with a 5× wider (325-row broadcast)
  // weight grid. Weights round to 6dp per epoch (the q206/q209
  // round-at-the-boundary discipline); the oracle re-trains the
  // IDENTICAL fixed-seed, fixed-epoch model as unrolled CTE stages and
  // both engines must agree on every reported doc's argmax AND
  // probability.
  private val SmClasses = Seq("de", "en", "es", "fr", "zh")
  private val SmEpochs = 3
  private val SmEta = 2.0

  private[graft] def smClassIdx(lang: Column): Column =
    SmClasses.zipWithIndex.foldLeft(lit(-1L)) { case (acc, (l, i)) =>
      when(lang === l, i.toLong).otherwise(acc)
    }

  /** (doc_id, y=class idx, j, x) — q209's feature frame with the label
    * generalized to the class index. */
  private[graft] def smFeatures(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), smClassIdx(col("lang")).as("y"),
      tokens(col("text")).as("toks"))
    base
      .select(col("doc_id"), col("y"), size(col("toks")).as("n"),
              explode(col("toks")).as("tok"))
      .select(col("doc_id"), col("y"), col("n"),
        pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"),
             lit(LrBuckets.toLong)).as("j"))
      .groupBy(col("doc_id"), col("y"), col("n"), col("j"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("doc_id"), col("y"), col("j"),
              (col("cnt").cast("double") / col("n")).as("x"))
      .unionByName(base.select(col("doc_id"), col("y"),
        lit(-1L).as("j"), lit(1.0d).as("x")))
  }

  /** Per-(doc, class) softmax probabilities under weight frame `w`
    * ((j, k, w), broadcast — 65×5 rows). */
  private[graft] def smProbs(feat: DataFrame, w: DataFrame): DataFrame = {
    val z = feat.join(broadcast(w), "j")
      .groupBy(col("doc_id"), col("y"), col("k"))
      .agg(sum(col("x") * col("w")).as("z"))
      .select(col("doc_id"), col("y"), col("k"), exp(col("z")).as("ez"))
    val den = z.groupBy(col("doc_id")).agg(sum(col("ez")).as("den"))
    z.join(den, "doc_id")
      .select(col("doc_id"), col("y"), col("k"),
              (col("ez") / col("den")).as("p"))
  }

  /** Batch-GD softmax trainer: (j, k, w) after `epochs` rounds (zero
    * init, η = [[SmEta]], round-6 updates — q209's discipline per class).
    */
  def trainSoftmaxLangId(s: SparkSession, docs: DataFrame,
                         epochs: Int): DataFrame = {
    val feat = smFeatures(docs).localCheckpoint()
    val nRow = broadcast(docs.agg(count(lit(1)).cast("double").as("nn")))
    var w = s.range(-1L, LrBuckets.toLong).select(col("id").as("j"))
      .crossJoin(s.range(0L, SmClasses.length.toLong).select(col("id").as("k")))
      .select(col("j"), col("k"), lit(0.0d).as("w"))
    for (_ <- 1 to epochs) {
      val p = smProbs(feat, w).select(col("doc_id"), col("k"), col("p"))
      val g = feat.join(p, "doc_id")
        .groupBy(col("j"), col("k"))
        .agg(sum((col("p") -
          when(col("y") === col("k"), 1.0d).otherwise(0.0d)) * col("x"))
          .as("gs"))
      w = w.join(g, Seq("j", "k"), "left").crossJoin(nRow)
        .select(col("j"), col("k"),
          round(col("w") - lit(SmEta) * coalesce(col("gs"), lit(0.0))
                  / col("nn"), 6).as("w"))
        .localCheckpoint()
    }
    w
  }

  def q228SoftmaxLangId(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val w = trainSoftmaxLangId(s, docs, SmEpochs)
    smProbs(smFeatures(docs), w)
      .where(col("doc_id") % 17 === 0)
      .groupBy(col("doc_id"), col("y"))
      .agg(expr("max_by(k, struct(p, -k))").as("pred"),
           round(max(col("p")), 6).as("score"))
      .select(col("doc_id"), col("y"), col("pred"), col("score"))
      .orderBy(col("doc_id"))
  }

  val q228Sql: String = {
    val classCase = SmClasses.zipWithIndex
      .map { case (l, i) => s"WHEN lang = '$l' THEN $i" }
      .mkString(" ")
    val epochCtes = (1 to SmEpochs).map { r =>
      s"""z$r AS (
         |  SELECT f.doc_id, w.k, exp(sum(f.x * w.w)) AS ez
         |  FROM feat f JOIN w${r - 1} w ON f.j = w.j
         |  GROUP BY 1, 2),
         |p$r AS MATERIALIZED (
         |  SELECT doc_id, k,
         |    ez / sum(ez) OVER (PARTITION BY doc_id) AS p
         |  FROM z$r),
         |g$r AS (
         |  SELECT f.j, p.k,
         |    sum((p.p - CASE WHEN f.y = p.k THEN 1.0 ELSE 0.0 END) * f.x)
         |      AS gs
         |  FROM feat f JOIN p$r p ON f.doc_id = p.doc_id
         |  GROUP BY 1, 2),
         |w$r AS MATERIALIZED (
         |  SELECT w.j, w.k, round(w.w - $SmEta * coalesce(g.gs, 0)
         |    / (SELECT nn FROM n), 6) AS w
         |  FROM w${r - 1} w LEFT JOIN g$r g ON w.j = g.j AND w.k = g.k)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH base AS MATERIALIZED (
       |  SELECT doc_id, CAST(CASE $classCase ELSE -1 END AS BIGINT) AS y,
       |    $tokensSql AS toks
       |  FROM documents),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM base),
       |feat AS MATERIALIZED (
       |  SELECT doc_id, y, j, CAST(cnt AS DOUBLE) / n AS x FROM (
       |    SELECT doc_id, y, n,
       |      CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % $LrBuckets
       |        AS j,
       |      count(*) AS cnt
       |    FROM (SELECT doc_id, y, len(toks) AS n, unnest(toks) AS tok
       |          FROM base)
       |    GROUP BY doc_id, y, n, j)
       |  UNION ALL
       |  SELECT doc_id, y, -1 AS j, 1.0 AS x FROM base),
       |w0 AS (SELECT CAST(u.j AS BIGINT) AS j, CAST(v.k AS BIGINT) AS k,
       |         CAST(0 AS DOUBLE) AS w
       |       FROM unnest(range(-1, $LrBuckets)) u(j),
       |            unnest(range(0, ${SmClasses.length})) v(k)),
       |$epochCtes,
       |zf AS (
       |  SELECT f.doc_id, f.y, w.k, exp(sum(f.x * w.w)) AS ez
       |  FROM feat f JOIN w$SmEpochs w ON f.j = w.j
       |  WHERE f.doc_id % 17 = 0
       |  GROUP BY 1, 2, 3),
       |pf AS (
       |  SELECT doc_id, y, k, ez / sum(ez) OVER (PARTITION BY doc_id) AS p
       |  FROM zf)
       |SELECT doc_id, y, k AS pred, round(p, 6) AS score
       |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
       |        ORDER BY p DESC, k) AS rn FROM pf)
       |WHERE rn = 1
       |ORDER BY doc_id""".stripMargin
  }

  // ─── q297: multinomial Naive Bayes language classifier ────────────────
  // The GENERATIVE counterpart of q228's discriminative softmax — the
  // textbook multinomial NB (McCallum–Nigam 1998) that production
  // pipelines reach for first because training is ONE counting pass (no
  // epochs, no learning rate): P(l | doc) ∝ P(l) · Π_t P(t | l)^cnt_t
  // with add-1 (Laplace) smoothing, argmax in log space. Unlike q228 it
  // models raw TOKENS (no hash buckets), so the model is the per-(lang,
  // token) count table — the thing a counting aggregate already builds.
  //
  // Exactness discipline: all model statistics (class token totals N_l,
  // vocab size V, per-(l,t) counts c, doc counts) are exact integers;
  // each log term ln((c+1)/(N_l+V)) and prior ln(n_l/N) is quantized to
  // integer NANOS at the model-row boundary (round(·,9)·1e9 — the q262
  // double-rounding guard), so per-doc scores are exact BIGINT sums that
  // no summation order can perturb. Argmax ties break to the smallest
  // class index (never fires on real scores; pinned for the oracle).
  //
  // Scale: train = one map-side-combined count over the token stream +
  // a ≤|langs| totals frame. Scoring joins the (doc, tok, cnt) frame
  // against the model on tok — the token stream shuffles ONCE, by token
  // — with the |langs|-row default/prior frame broadcast; the |langs|×
  // fanout of scoring is the classifier's semantics (5 posteriors per
  // doc), map-side after the model join. Census = confusion matrix.
  def q297NaiveBayes(s: SparkSession, d: String): DataFrame =
    nbConfusion(documents(s, d))

  /** Train-and-score body over any (doc_id, lang, text) frame. Factored
    * from [[q297NaiveBayes]] so CorpusSpec can prove the model classifies
    * by CONTENT on a planted two-vocabulary corpus. */
  private[graft] def nbConfusion(docs: DataFrame): DataFrame = {
    val docTok = docs
      .select(col("doc_id"), col("lang").as("y"),
        explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("y"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    // model: per-(lang, token) counts, class totals, vocab, priors
    val classTok = docTok.groupBy(col("y").as("ml"), col("tok"))
      .agg(sum(col("cnt")).as("c"))
    val classTot = classTok.groupBy(col("ml")).agg(sum(col("c")).as("nl"))
    val vocab = classTok.select(col("tok")).distinct()
      .agg(count(lit(1)).as("v"))
    val nDocs = docs.agg(count(lit(1)).as("nd"))
    val priors = docs.groupBy(col("lang").as("ml"))
      .agg(count(lit(1)).as("cl"))
      .crossJoin(broadcast(nDocs))
      .join(classTot, "ml")
      .crossJoin(broadcast(vocab))
      .select(col("ml"), col("nl"), col("v"),
        (round(round(log(col("cl").cast("double") / col("nd")), 9)
          * lit(1e9)).cast("long")).as("prior_nano"),
        (round(round(log(lit(1.0) / (col("nl") + col("v")).cast("double")),
          9) * lit(1e9)).cast("long")).as("default_nano"))
    val model = classTok.join(broadcast(priors.select("ml", "nl", "v")), "ml")
      .select(col("ml"), col("tok"),
        (round(round(log((col("c") + 1L).cast("double") /
          (col("nl") + col("v")).cast("double")), 9) * lit(1e9))
          .cast("long")).as("lp_nano"))
    // scoring: every doc token scored under every class; unseen
    // (class, token) pairs fall back to the class default
    val scored = docTok
      .crossJoin(broadcast(priors.select(col("ml"), col("default_nano"))))
      .join(model, Seq("ml", "tok"), "left")
      .select(col("doc_id"), col("y"), col("ml"),
        (col("cnt") * coalesce(col("lp_nano"), col("default_nano")))
          .as("term_nano"))
      .groupBy(col("doc_id"), col("y"), col("ml"))
      .agg(sum(col("term_nano")).as("sum_nano"))
      .join(broadcast(priors.select(col("ml"), col("prior_nano"))), "ml")
      .select(col("doc_id"), col("y"), col("ml"),
        (col("sum_nano") + col("prior_nano")).as("score_nano"))
    scored
      .groupBy(col("doc_id"), col("y"))
      .agg(expr("max_by(ml, struct(score_nano, -" +
        "(CASE WHEN ml='de' THEN 0 WHEN ml='en' THEN 1 WHEN ml='es' THEN 2 " +
        "WHEN ml='fr' THEN 3 ELSE 4 END)))").as("pred"))
      .groupBy(col("y").as("actual"), col("pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("actual"), col("pred"))
  }

  val q297Sql: String =
    s"""WITH base AS MATERIALIZED (
       |  SELECT doc_id, lang AS y, $tokensSql AS toks FROM documents),
       |doctok AS MATERIALIZED (
       |  SELECT doc_id, y, tok, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT doc_id, y, unnest(toks) AS tok FROM base)
       |  GROUP BY doc_id, y, tok),
       |classtok AS MATERIALIZED (
       |  SELECT y AS ml, tok, CAST(sum(cnt) AS BIGINT) AS c
       |  FROM doctok GROUP BY y, tok),
       |classtot AS (SELECT ml, CAST(sum(c) AS BIGINT) AS nl
       |             FROM classtok GROUP BY ml),
       |voc AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
       |        FROM classtok),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM base),
       |priors AS MATERIALIZED (
       |  SELECT t.ml, t.nl, voc.v,
       |    CAST(round(round(ln(CAST(cl AS DOUBLE) / nd), 9) * 1e9)
       |      AS BIGINT) AS prior_nano,
       |    CAST(round(round(ln(1.0 / CAST(t.nl + voc.v AS DOUBLE)), 9)
       |      * 1e9) AS BIGINT) AS default_nano
       |  FROM (SELECT y AS ml, count(*) AS cl FROM base GROUP BY y) p
       |  JOIN classtot t ON p.ml = t.ml, voc, nd),
       |model AS MATERIALIZED (
       |  SELECT k.ml, k.tok,
       |    CAST(round(round(ln(CAST(k.c + 1 AS DOUBLE)
       |      / CAST(p.nl + p.v AS DOUBLE)), 9) * 1e9) AS BIGINT) AS lp_nano
       |  FROM classtok k JOIN priors p ON k.ml = p.ml),
       |scored AS (
       |  SELECT dt.doc_id, dt.y, pr.ml,
       |    CAST(sum(dt.cnt * coalesce(m.lp_nano, pr.default_nano))
       |      AS BIGINT) + pr.prior_nano AS score_nano
       |  FROM doctok dt
       |  CROSS JOIN priors pr
       |  LEFT JOIN model m ON m.ml = pr.ml AND m.tok = dt.tok
       |  GROUP BY dt.doc_id, dt.y, pr.ml, pr.prior_nano),
       |pred AS (
       |  SELECT doc_id, y, ml AS pred FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score_nano DESC,
       |        CASE WHEN ml='de' THEN 0 WHEN ml='en' THEN 1
       |             WHEN ml='es' THEN 2 WHEN ml='fr' THEN 3 ELSE 4 END)
       |      AS rn
       |    FROM scored)
       |  WHERE rn = 1)
       |SELECT y AS actual, pred, CAST(count(*) AS BIGINT) AS n_docs
       |FROM pred
       |GROUP BY y, pred
       |ORDER BY actual, pred""".stripMargin

  // ─── q308: vocabulary richness census (Good–Turing / Chao1) ───────────
  // The "how much vocabulary haven't we seen yet" estimators every
  // corpus-growth decision leans on, both driven by the frequency-of-
  // frequencies profile (hapax/dis legomena): Good–Turing's unseen
  // probability mass P₀ = N₁/T (Good 1953) and Chao1's lower bound on
  // the TRUE vocabulary size (Chao 1984, bias-corrected form
  // D + N₁(N₁−1)/(2(N₂+1)) — defined even when doubletons are absent).
  // Per language, entirely in exact integers: chao1 in millis via
  // integer division, unseen mass in basis points, plus the GT-adjusted
  // effective count for hapaxes r₁* = 2N₂/N₁ in millis — a vocabulary
  // whose r₁* ≪ 1000 is hapax-heavy and still growing fast.
  //
  // Scale: one map-side-combined (lang, token) count, one (lang, freq)
  // count over the vocab frame, one |langs|-row census. The vocab frame
  // is the only slim shuffle; nothing carries text past it.
  def q308VocabularyRichness(s: SparkSession, d: String): DataFrame = {
    val freq = documents(s, d)
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("r"))
    freq.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_distinct"), sum(col("r")).as("n_tokens"),
        sum(when(col("r") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("r") === 2L, 1L).otherwise(0L)).as("n2"))
      .select(col("lang"), col("n_tokens"), col("n_distinct"), col("n1"),
        col("n2"),
        (lit(1000L) * col("n_distinct") +
          expr("(1000 * n1 * (n1 - 1)) div (2 * (n2 + 1))"))
          .as("chao1_milli"),
        expr("(10000 * n1) div n_tokens").as("unseen_mass_bp"),
        when(col("n1") > 0L, expr("(1000 * 2 * n2) div n1"))
          .otherwise(lit(0L)).as("r1_star_milli"))
      .orderBy(col("lang"))
  }

  val q308Sql: String =
    s"""WITH freq AS (
       |  SELECT lang, tok, CAST(count(*) AS BIGINT) AS r
       |  FROM (SELECT lang, unnest($tokensSql) AS tok FROM documents)
       |  GROUP BY lang, tok),
       |prof AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_distinct,
       |    CAST(sum(r) AS BIGINT) AS n_tokens,
       |    CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(sum(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
       |  FROM freq GROUP BY lang)
       |SELECT lang, n_tokens, n_distinct, n1, n2,
       |  1000 * n_distinct + (1000 * n1 * (n1 - 1)) // (2 * (n2 + 1))
       |    AS chao1_milli,
       |  (10000 * n1) // n_tokens AS unseen_mass_bp,
       |  CASE WHEN n1 > 0 THEN (1000 * 2 * n2) // n1 ELSE 0 END
       |    AS r1_star_milli
       |FROM prof
       |ORDER BY lang""".stripMargin

  // ─── q313: deduplication ablation (the Lee et al. 2021 headline) ──────
  // WHY dedup at all? The published answer: language models trained on
  // deduplicated data are better (and leak less). This query runs that
  // ablation in-engine as a controlled experiment: the SAME unigram LM
  // (add-1 smoothing) trained twice — once on the raw train split, once
  // on the NEAR-DUP-deduplicated train split (the q199 funnel: verified
  // LSH pairs restricted to train→train, connected components, min-id
  // keeper per cluster — this corpus's duplicates are near-identical
  // tails, never byte-identical, so exact hashing would dedup nothing)
  // — and both evaluated on the SAME held-out split (q72's hash rule,
  // so membership never moves). The census carries the exact model
  // statistics and the held-out mean log-prob per token; the
  // direction/size of the shift is the data's answer, not an assertion.
  //
  // Exactness: model counts are integers; per-token ln((c+1)/(N+V))
  // quantized to nanos at the (variant, token) boundary (the q297
  // discipline), unseen tokens take the variant's closed-form default;
  // the eval sum is an exact BIGINT; mean = truncating div.
  //
  // Scale: the dedup arm is q199's bucketed funnel (never all-pairs) +
  // one keeper semi-join; two counting passes over the train split; one
  // eval join keyed on token; |variants| = 2 rides as a column.
  def q313DedupAblation(s: SparkSession, d: String): DataFrame = {
    val docs = TextSim.dedupCorpus(s, d)
      .withColumn("split",
        when(substring(md5(concat(lit("split:"),
          col("doc_id").cast("string"))), 1, 2) < "cc", "train")
          .otherwise("heldout"))
    val train = docs.where(col("split") === "train")
      .select(col("doc_id"), col("text"))
    val trainIds = train.select(col("doc_id"))
    val tp = TextSim.minhashPairs(s, d, TextSim.DefaultK, TextSim.DefaultB)
      .select(col("doc_a"), col("doc_b"))
      .join(trainIds.select(col("doc_id").as("doc_a")), Seq("doc_a"),
        "left_semi")
      .join(trainIds.select(col("doc_id").as("doc_b")), Seq("doc_b"),
        "left_semi")
    val comp = Graph.connectedComponents(
      tp.select(col("doc_a").as("src"), col("doc_b").as("dst")),
      "src", "dst")
    val keepIds = train
      .join(comp, train("doc_id") === comp("node"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster"))
      .groupBy(col("cluster")).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val variants =
      train.select(col("doc_id"), col("text"), lit("raw").as("variant"))
        .unionAll(train.join(keepIds, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("text"), lit("dedup").as("variant")))
    val toks = variants
      .select(col("variant"), explode(tokens(col("text"))).as("tok"))
    val model = toks.groupBy(col("variant"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val stats = model.groupBy(col("variant"))
      .agg(sum(col("c")).as("nt"), count(lit(1)).as("v"))
    val trainDocs = variants.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_train_docs"))
    val evalTok = docs.where(col("split") === "heldout")
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val scored = evalTok
      .crossJoin(broadcast(stats))
      .join(model, Seq("variant", "tok"), "left")
      .select(col("variant"), col("cnt"),
        (col("cnt") * round(round(
          log((coalesce(col("c"), lit(0L)) + 1L).cast("double") /
            (col("nt") + col("v")).cast("double")), 9) * lit(1e9))
          .cast("long")).as("lp_nano"))
      .groupBy(col("variant"))
      .agg(sum(col("cnt")).as("n_eval_tokens"),
           sum(col("lp_nano")).as("sum_lp_nano"))
    scored.join(broadcast(stats), "variant")
      .join(broadcast(trainDocs), "variant")
      .select(col("variant"), col("n_train_docs"),
        col("nt").as("n_train_tokens"), col("v").as("vocab"),
        col("n_eval_tokens"),
        expr("sum_lp_nano div n_eval_tokens").as("mean_lp_nano"))
      .orderBy(col("variant"))
  }

  val q313Sql: String =
    s"""WITH RECURSIVE ${TextSim.minhashPairCtes(TextSim.DefaultK,
          TextSim.DefaultB)},
       |docs AS MATERIALIZED (
       |  SELECT doc_id, text,
       |    CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)),
       |           1, 2) < 'cc' THEN 'train' ELSE 'heldout' END AS split
       |  FROM corpus),
       |train AS MATERIALIZED (SELECT doc_id, text FROM docs
       |                       WHERE split = 'train'),
       |tp AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  WHERE doc_a IN (SELECT doc_id FROM train)
       |    AND doc_b IN (SELECT doc_id FROM train)),
       |bidir AS (SELECT doc_a AS u, doc_b AS v FROM tp
       |          UNION SELECT doc_b, doc_a FROM tp),
       |reach AS (
       |  SELECT u AS node, u AS lab FROM bidir
       |  UNION
       |  SELECT b.v AS node, r.lab FROM reach r JOIN bidir b
       |    ON b.u = r.node),
       |compo AS (SELECT node, min(lab) AS component FROM reach
       |          GROUP BY node),
       |keepers AS (
       |  SELECT min(doc_id) AS doc_id FROM (
       |    SELECT t.doc_id, coalesce(c.component, t.doc_id) AS cluster
       |    FROM train t LEFT JOIN compo c ON t.doc_id = c.node)
       |  GROUP BY cluster),
       |variants AS MATERIALIZED (
       |  SELECT doc_id, text, 'raw' AS variant FROM train
       |  UNION ALL
       |  SELECT t.doc_id, t.text, 'dedup' FROM train t
       |  WHERE t.doc_id IN (SELECT doc_id FROM keepers)),
       |toks AS (
       |  SELECT variant, unnest($tokensSql) AS tok FROM variants),
       |model AS MATERIALIZED (
       |  SELECT variant, tok, CAST(count(*) AS BIGINT) AS c
       |  FROM toks GROUP BY variant, tok),
       |stats AS (SELECT variant, CAST(sum(c) AS BIGINT) AS nt,
       |            CAST(count(*) AS BIGINT) AS v
       |          FROM model GROUP BY variant),
       |traindocs AS (SELECT variant, CAST(count(*) AS BIGINT)
       |                AS n_train_docs
       |              FROM variants GROUP BY variant),
       |evaltok AS MATERIALIZED (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(list_filter(regexp_split_to_array(lower(text),
       |      '[^a-z0-9]+'), x -> x <> '')) AS tok
       |    FROM docs WHERE split = 'heldout')
       |  GROUP BY tok),
       |scored AS (
       |  SELECT s.variant,
       |    CAST(sum(e.cnt) AS BIGINT) AS n_eval_tokens,
       |    CAST(sum(e.cnt * CAST(round(round(
       |      ln(CAST(coalesce(m.c, 0) + 1 AS DOUBLE)
       |        / CAST(s.nt + s.v AS DOUBLE)), 9) * 1e9) AS BIGINT))
       |      AS BIGINT) AS sum_lp_nano
       |  FROM evaltok e
       |  CROSS JOIN stats s
       |  LEFT JOIN model m ON m.variant = s.variant AND m.tok = e.tok
       |  GROUP BY s.variant)
       |SELECT sc.variant, n_train_docs, nt AS n_train_tokens, v AS vocab,
       |  n_eval_tokens, sum_lp_nano // n_eval_tokens AS mean_lp_nano
       |FROM scored sc
       |JOIN stats st ON sc.variant = st.variant
       |JOIN traindocs td ON sc.variant = td.variant
       |ORDER BY sc.variant""".stripMargin

  // ─── q314: feature-hash collision audit ───────────────────────────────
  // Is 64 buckets enough? The diagnosis every hashed-feature model
  // (q209/q228/q303) should ship with: how many distinct tokens land in
  // each bucket, how skewed the bucket MASS is, and the effective
  // dimensionality exp(H) of the bucket distribution — if eff-dim ≪ 64
  // the hash space is wasted; if max-collisions ≫ avg the model
  // conflates unrelated tokens. One-row census, all from the (bucket)
  // profile: entropy terms quantized to nanos per bucket (q231 rule)
  // before the exact integer sum; eff_dim = exp(quantized H) micro.
  def q314FeatureHashAudit(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .select(col("tok"), col("cnt"),
        pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"),
          lit(64L)).as("j"))
    val buckets = tok.groupBy(col("j"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("cnt")).as("mass"))
    val tot = buckets.agg(sum(col("mass")).as("tm"),
      sum(col("n_tokens")).as("td"))
    buckets.crossJoin(broadcast(tot))
      .select(col("j"), col("n_tokens"), col("mass"),
        (-round(round(
          (col("mass").cast("double") / col("tm")) *
            log(col("mass").cast("double") / col("tm")), 9) * lit(1e9))
          .cast("long")).as("h_nano"))
      .agg(count(lit(1)).as("buckets_used"),
        max(col("n_tokens")).as("max_bucket_tokens"),
        min(col("n_tokens")).as("min_bucket_tokens"),
        sum(col("h_nano")).as("entropy_nano"))
      .select(col("buckets_used"), col("max_bucket_tokens"),
        col("min_bucket_tokens"), col("entropy_nano"),
        round(exp(col("entropy_nano").cast("double") / lit(1e9))
          * lit(1e6)).cast("long").as("eff_dim_micro"))
  }

  val q314Sql: String =
    s"""WITH tok AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS cnt,
       |    CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 64 AS j
       |  FROM (SELECT unnest($tokensSql) AS tok FROM documents)
       |  GROUP BY tok),
       |buckets AS (
       |  SELECT j, CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(sum(cnt) AS BIGINT) AS mass
       |  FROM tok GROUP BY j),
       |tot AS (SELECT CAST(sum(mass) AS BIGINT) AS tm FROM buckets),
       |terms AS (
       |  SELECT n_tokens, mass,
       |    -CAST(round(round((CAST(mass AS DOUBLE) / tm)
       |      * ln(CAST(mass AS DOUBLE) / tm), 9) * 1e9) AS BIGINT)
       |      AS h_nano
       |  FROM buckets, tot)
       |SELECT CAST(count(*) AS BIGINT) AS buckets_used,
       |  max(n_tokens) AS max_bucket_tokens,
       |  min(n_tokens) AS min_bucket_tokens,
       |  CAST(sum(h_nano) AS BIGINT) AS entropy_nano,
       |  CAST(round(exp(CAST(sum(h_nano) AS DOUBLE) / 1e9) * 1e6)
       |    AS BIGINT) AS eff_dim_micro
       |FROM terms""".stripMargin

  // ─── q216: DSIR importance selection (target-distribution matching) ──
  // The published data-selection method (Xie et al. 2023, "Data Selection
  // for Language Models via Importance Resampling"): score every raw
  // document by how much more likely its hashed-n-gram bag is under the
  // TARGET distribution than under the raw distribution, then keep the
  // highest-weight documents. Complements q209 (a trained per-doc
  // classifier) with the distribution-matching selector production
  // pipelines run when the "target" is a corpus, not a label. Target
  // here = the lang='en' slice (the q209 weak-target; honest fixture
  // caveat applies — shared vocabulary, weak separation; the contract is
  // the estimator and cross-engine exactness).
  //
  // Spark shape, all linear: one token explode → 64-bucket md5 hash (the
  // q72/q102/q209 idiom) → per-doc sparse counts; BOTH distributions are
  // one map-side-combined aggregate over that frame; the 64-row
  // log-ratio table broadcasts back and the per-doc weight is one more
  // map-side-combined sum — no shuffle ever carries text. Determinism
  // discipline: log-ratios rounded to 9dp before the per-doc sum,
  // per-doc weights to 6dp before ranking (ties broken by doc_id), the
  // q206/q209 round-at-the-boundary rule.
  private val DsirBuckets = 64
  private val DsirTopK = 24

  /** Per-doc DSIR log importance weight over `docs` (doc_id, lang,
    * text): (doc_id, lang, logw) with target = lang='en'. */
  private[graft] def dsirWeights(s: SparkSession, docs: DataFrame): DataFrame = {
    val perDocJ = docs
      .select(col("doc_id"), col("lang"),
              explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("lang"),
        pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"),
             lit(DsirBuckets.toLong)).as("j"))
      .groupBy(col("doc_id"), col("lang"), col("j"))
      .agg(count(lit(1)).as("c"))
    // raw + target distributions in ONE aggregate over one derivation
    // of perDocJ (r15, guide §2.4: they were two separate groupBys —
    // two full tokenize→hash→group passes — and a second join)
    val bothDist = perDocJ.groupBy(col("j"))
      .agg(sum(col("c")).as("rc"),
           sum(when(col("lang") === "en", col("c")).otherwise(0L)).as("tc"))
    // dense 64-row table (unseen buckets still need their smoothed mass)
    val dist = s.range(0, DsirBuckets.toLong).select(col("id").as("j"))
      .join(bothDist, Seq("j"), "left")
      .na.fill(0L, Seq("rc", "tc"))
    val tot = dist.agg(sum(col("rc")).as("rtot"), sum(col("tc")).as("ttot"))
    // log-ratios quantized to integer NANO units so the per-doc weight
    // is an EXACT integer sum — round(Σ doubles, 6) can flip at a
    // boundary under partial-agg order (the q202 lesson, hit here by
    // q218's per-source sums); the float division back to `logw`
    // happens once, per doc, from identical integers in both engines
    val lr = dist.crossJoin(broadcast(tot))
      .select(col("j"), round(round(
        log((col("tc") + 1.0) / (col("ttot") + DsirBuckets)) -
        log((col("rc") + 1.0) / (col("rtot") + DsirBuckets)), 9) * 1e9, 0)
        .cast("long").as("lrn"))
    perDocJ.join(broadcast(lr), "j")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c") * col("lrn")).as("logw_nano"))
      .select(col("doc_id"), col("lang"),
              round(col("logw_nano") / 1e9, 6).as("logw"),
              col("logw_nano"))
  }

  def q216DsirSelect(s: SparkSession, d: String): DataFrame =
    dsirWeights(s, documents(s, d))
      .select(col("doc_id"), col("lang"), col("logw"))
      .orderBy(col("logw").desc, col("doc_id"))
      .limit(DsirTopK)

  /** Shared CTE chain for q216/q218: hashed-token distributions →
    * per-doc DSIR log weight `wdoc(doc_id, lang, logw)`. */
  private val dsirCtes: String =
    s"""base AS MATERIALIZED (
       |  SELECT doc_id, lang, $tokensSql AS toks FROM documents),
       |pd AS MATERIALIZED (
       |  SELECT doc_id, lang,
       |    CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % $DsirBuckets
       |      AS j,
       |    count(*) AS c
       |  FROM (SELECT doc_id, lang, unnest(toks) AS tok FROM base)
       |  GROUP BY 1, 2, 3),
       |dist AS (
       |  SELECT u.j, coalesce(r.rc, 0) AS rc, coalesce(t.tc, 0) AS tc
       |  FROM unnest(range(0, $DsirBuckets)) u(j)
       |  LEFT JOIN (SELECT j, sum(c) AS rc FROM pd GROUP BY j) r
       |    ON u.j = r.j
       |  LEFT JOIN (SELECT j, sum(c) AS tc FROM pd WHERE lang = 'en'
       |             GROUP BY j) t
       |    ON u.j = t.j),
       |tot AS (SELECT sum(rc) AS rtot, sum(tc) AS ttot FROM dist),
       |lr AS MATERIALIZED (
       |  SELECT j, CAST(round(round(
       |      ln((tc + 1.0) / (ttot + $DsirBuckets))
       |      - ln((rc + 1.0) / (rtot + $DsirBuckets)), 9) * 1e9, 0)
       |    AS BIGINT) AS lrn
       |  FROM dist, tot),
       |wdoc AS MATERIALIZED (
       |  SELECT pd.doc_id, pd.lang,
       |    CAST(sum(pd.c * lr.lrn) AS BIGINT) AS logw_nano,
       |    round(CAST(sum(pd.c * lr.lrn) AS BIGINT) / 1e9, 6) AS logw
       |  FROM pd JOIN lr ON pd.j = lr.j
       |  GROUP BY pd.doc_id, pd.lang)""".stripMargin

  val q216Sql: String =
    s"""WITH $dsirCtes
       |SELECT doc_id, lang, logw FROM wdoc
       |ORDER BY logw DESC, doc_id
       |LIMIT $DsirTopK""".stripMargin

  // ─── q218: SOURCE-level quality gating (the C4/RefinedWeb lever) ─────
  // Production corpora gate whole SOURCES, not just documents: a crawl
  // slice whose average target-likeness falls below the corpus mean is
  // dropped wholesale (cheaper and more robust than per-doc filtering
  // for systematically-bad sources). Composes q216's per-doc DSIR
  // weight with one per-source aggregate; the keep decision is the
  // integer cross-multiplication `sum_s · N > T · n_s` (⇔ source mean >
  // corpus mean with n_s, N > 0) over exact nano-unit sums — no float
  // comparison anywhere near the gate, so the flag can't flip on
  // engine-summation noise (the q202 rule applied to a PREDICATE; the
  // product rides decimal(38)/HUGEINT so it can't overflow at scale).
  def q218SourceGate(s: SparkSession, d: String): DataFrame = {
    val perSource = dsirWeights(s, documents(s, d))
      .join(documents(s, d).select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("logw_nano")).as("logw_nano"))
    val tot = perSource
      .agg(sum(col("n_docs")).as("nn"), sum(col("logw_nano")).as("tt"))
    // cross-multiply in decimal(38): nano-sums reach ~1e13/source at
    // sf10 and the corpus-total × per-source product would overflow
    // bigint at scale (DuckDB side rides HUGEINT)
    def dec(c: Column) = c.cast("decimal(38,0)")
    perSource.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("logw_nano"),
        when(dec(col("logw_nano")) * dec(col("nn")) >
             dec(col("tt")) * dec(col("n_docs")), 1L)
          .otherwise(0L).as("kept"))
      .orderBy(col("source"))
  }

  val q218Sql: String =
    s"""WITH $dsirCtes,
       |per AS (
       |  SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(w.logw_nano) AS BIGINT) AS logw_nano
       |  FROM wdoc w JOIN documents d ON w.doc_id = d.doc_id
       |  GROUP BY d.source),
       |ctot AS (SELECT sum(n_docs) AS nn, sum(logw_nano) AS tt FROM per)
       |SELECT source, n_docs, logw_nano,
       |  CAST(CASE WHEN CAST(logw_nano AS HUGEINT) * nn
       |              > CAST(tt AS HUGEINT) * n_docs
       |       THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM per, ctot
       |ORDER BY source""".stripMargin

  // ─── q221: the shard writer — global shuffle into fixed training shards
  // The LAST step of every training-data pipeline: deterministically
  // shuffle the corpus and cut it into S fixed shards for the trainer's
  // data loader. Two independent salted hashes split the two concerns:
  //   shard  = first md5("shard:"||id) hex digit → 16 shards (grow-stable
  //            hash-bucketing, the q72 argument — a doc's shard never
  //            changes when the corpus grows);
  //   order  = md5("order:"||id) — the within-shard "global shuffle"
  //            order, independent of the shard key so sorting by it can't
  //            recluster what sharding spread.
  // The census proves the exact layout: per shard, doc count, char sum,
  // and an ORDER-SENSITIVE checksum Σ rank·doc_id over the within-shard
  // rank — any engine disagreement on which docs land in a shard OR the
  // order they'd be written in hash-mismatches.
  //
  // Scale: this is precisely the plan `df.repartition(S, shard)
  // .sortWithinPartitions(ord).write` executes at 100 TB — ONE shuffle
  // keyed on the shard id, in-partition sort, zero global sort. The
  // window below is partitioned by shard, so Catalyst plans the same
  // exchange+local-sort pair; nothing orders the corpus globally.
  // CorpusSpec drives the actual writer form and asserts the on-disk
  // shard layout matches this census.
  private[graft] val ShardCount = 16

  private[graft] def shardedDocs(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        conv(substring(md5(concat(lit("shard:"), col("doc_id").cast("string"))),
                       1, 1), 16, 10).cast("int").as("shard"),
        md5(concat(lit("order:"), col("doc_id").cast("string"))).as("ord"))

  def q221ShardWriter(s: SparkSession, d: String): DataFrame = {
    val win = Window.partitionBy(col("shard")).orderBy(col("ord"), col("doc_id"))
    shardedDocs(s, d)
      .withColumn("rk", row_number().over(win).cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars").cast("long")).as("char_sum"),
           sum(col("rk") * col("doc_id")).as("order_checksum"))
      .orderBy(col("shard"))
  }

  val q221Sql: String =
    """SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS char_sum,
      |  CAST(sum(rk * doc_id) AS BIGINT) AS order_checksum
      |FROM (
      |  SELECT shard, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS rk
      |  FROM (
      |    SELECT doc_id, n_chars,
      |      CAST(CAST('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
      |                               1, 1) AS BIGINT) AS INT) AS shard,
      |      md5('order:' || CAST(doc_id AS VARCHAR)) AS ord
      |    FROM documents))
      |GROUP BY shard
      |ORDER BY shard""".stripMargin

  // ─── q226: curriculum shard plan — DSIR phases × writer shards ────────
  // The published mid-training/annealing discipline: pretrain on general
  // data, anneal on target-like data last. Phases come from the q216
  // DSIR importance weight (exact integer nano-units), cut at the exact
  // DISCRETE terciles — percentile_disc returns an ACTUAL logw_nano
  // value (q137's cross-engine-stable contract), so every phase boundary
  // is an integer comparison, no interpolation float ever decides a
  // doc's phase. Each phase then gets q221's shard assignment, yielding
  // the (phase, shard) write plan a curriculum data loader consumes.
  //
  // Scale: the weight pass is q216's (one token pass, 64-row broadcast);
  // the tercile cut is one exact-percentile aggregate (the documented
  // oracle-contract form — approx_percentile is the 100 TB knob, q96's
  // argument) crossJoined back as a 1-row broadcast; phase+shard are
  // projections; the census is map-side combined. Nothing sorts
  // globally — the "curriculum order" is the (phase, shard) key, not a
  // total order.
  def q226CurriculumPlan(s: SparkSession, d: String): DataFrame = {
    val w = dsirWeights(s, documents(s, d))
      .select(col("doc_id"), col("logw_nano"))
    val cuts = w.agg(
      expr("percentile_disc(0.3333) WITHIN GROUP (ORDER BY logw_nano)")
        .as("t1"),
      expr("percentile_disc(0.6667) WITHIN GROUP (ORDER BY logw_nano)")
        .as("t2"))
    w.crossJoin(broadcast(cuts))
      .select(col("doc_id"),
        when(col("logw_nano") <= col("t1"), "p1_general")
          .when(col("logw_nano") <= col("t2"), "p2_mixed")
          .otherwise("p3_target").as("phase"),
        conv(substring(md5(concat(lit("shard:"), col("doc_id").cast("string"))),
                       1, 1), 16, 10).cast("int").as("shard"))
      .join(documents(s, d).select(col("doc_id"), col("n_chars")), "doc_id")
      .groupBy(col("phase"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars").cast("long")).as("char_sum"))
      .orderBy(col("phase"), col("shard"))
  }

  val q226Sql: String =
    s"""WITH $dsirCtes,
       |cuts AS (
       |  SELECT percentile_disc(0.3333) WITHIN GROUP (ORDER BY logw_nano)
       |           AS t1,
       |         percentile_disc(0.6667) WITHIN GROUP (ORDER BY logw_nano)
       |           AS t2
       |  FROM wdoc),
       |ph AS (
       |  SELECT w.doc_id,
       |    CASE WHEN logw_nano <= t1 THEN 'p1_general'
       |         WHEN logw_nano <= t2 THEN 'p2_mixed'
       |         ELSE 'p3_target' END AS phase,
       |    CAST(CAST('0x' || substr(md5('shard:' || CAST(w.doc_id AS VARCHAR)),
       |                             1, 1) AS BIGINT) AS INT) AS shard
       |  FROM wdoc w, cuts)
       |SELECT phase, shard, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS char_sum
       |FROM ph JOIN documents USING (doc_id)
       |GROUP BY phase, shard
       |ORDER BY phase, shard""".stripMargin

  // ─── q230: Gopher quality-rule battery (Rae et al. 2021, Table A1) ────
  // The published heuristic filter set production corpora run BEFORE any
  // model-based scoring (q209): per-doc structural signals, each gated by
  // a fixed rule, reported as a per-rule failure census plus the
  // pass-everything survivor count. Five rules, chosen so the fixture
  // exercises every one (the corpus ships no symbols or numerals, so the
  // symbol and non-alpha violations are PLANTED deterministically — the
  // q73 PII discipline: doc_id % 13 plants a '#' run, doc_id % 11 plants
  // 30 numeric words — and the word-count / stopword rules vary
  // naturally):
  //   R1 word count outside [50, 100000]
  //   R2 mean word length outside [3, 10]   (integer cross-multiply —
  //      3·n ≤ Σlen ≤ 10·n — no float division near a gate, q218's rule)
  //   R3 '#'-symbol-to-word ratio > 0.1     (10·n_hash > n_words)
  //   R4 alphabetic-word fraction < 0.8     (5·n_alpha < 4·n_words)
  //   R5 fewer than 2 stopword occurrences  (stop set = {the, a}, the
  //      corpus's function words; Gopher's 8-word set shrunk to what the
  //      synthetic vocabulary contains, documented adaptation)
  // Scale: every signal is a pure projection over the token array (HOFs,
  // no explode — nothing shuffles per token); the census is ONE
  // map-side-combined aggregate. This is the cheapest operator class in
  // the pipeline and the first gate 100 TB of raw crawl meets.
  private val PlantHash = " # # # # # # # # # # # #"
  private val PlantNum: String =
    " " + (0 until 30).mkString(" ")

  def q230GopherRules(s: SparkSession, d: String): DataFrame = {
    val planted = documents(s, d).select(col("doc_id"), col("n_chars"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(13)) === 0, lit(PlantHash)).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 0, lit(PlantNum)).otherwise(lit("")))
        .as("t"))
    val sig = planted.select(col("doc_id"), col("n_chars"),
      (length(col("t")) - length(regexp_replace(col("t"), "#", "")))
        .cast("long").as("n_hash"),
      tokens(col("t")).as("tk"))
      .select(col("doc_id"), col("n_chars"), col("n_hash"),
        size(col("tk")).cast("long").as("n_words"),
        aggregate(col("tk"), lit(0L), (acc, x) => acc + length(x).cast("long"))
          .as("sum_len"),
        size(filter(col("tk"), x => x.rlike("[a-z]"))).cast("long").as("n_alpha"),
        size(filter(col("tk"), x => x === "the" || x === "a")).cast("long")
          .as("n_stop"))
    val f1 = col("n_words") < 50L || col("n_words") > 100000L
    val f2 = col("sum_len") < lit(3L) * col("n_words") ||
             col("sum_len") > lit(10L) * col("n_words")
    val f3 = lit(10L) * col("n_hash") > col("n_words")
    val f4 = lit(5L) * col("n_alpha") < lit(4L) * col("n_words")
    val f5 = col("n_stop") < 2L
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    sig.agg(count(lit(1)).as("n_docs"),
      cnt(f1).as("f_wordcount"), cnt(f2).as("f_meanlen"),
      cnt(f3).as("f_symbol"), cnt(f4).as("f_alpha"), cnt(f5).as("f_stopword"),
      cnt(!f1 && !f2 && !f3 && !f4 && !f5).as("kept"),
      sum(when(!f1 && !f2 && !f3 && !f4 && !f5, col("n_chars").cast("long"))
        .otherwise(0L)).as("kept_chars"))
  }

  val q230Sql: String =
    s"""WITH planted AS (
       |  SELECT doc_id, n_chars,
       |    text || CASE WHEN doc_id % 13 = 0 THEN '$PlantHash' ELSE '' END
       |         || CASE WHEN doc_id % 11 = 0 THEN '$PlantNum' ELSE '' END AS t
       |  FROM documents),
       |sig AS (
       |  SELECT doc_id, n_chars,
       |    CAST(length(t) - length(replace(t, '#', '')) AS BIGINT) AS n_hash,
       |    CAST(len(tk) AS BIGINT) AS n_words,
       |    CAST(coalesce(list_sum(list_transform(tk, x -> length(x))), 0)
       |      AS BIGINT) AS sum_len,
       |    CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-z]')))
       |      AS BIGINT) AS n_alpha,
       |    CAST(len(list_filter(tk, x -> x = 'the' OR x = 'a'))
       |      AS BIGINT) AS n_stop
       |  FROM (SELECT doc_id, n_chars,
       |          list_filter(regexp_split_to_array(lower(t), '[^a-z0-9]+'),
       |                      x -> x <> '') AS tk, t
       |        FROM planted)),
       |flags AS (
       |  SELECT n_chars,
       |    (n_words < 50 OR n_words > 100000) AS f1,
       |    (sum_len < 3 * n_words OR sum_len > 10 * n_words) AS f2,
       |    (10 * n_hash > n_words) AS f3,
       |    (5 * n_alpha < 4 * n_words) AS f4,
       |    (n_stop < 2) AS f5
       |  FROM sig)
       |SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS f_wordcount,
       |  CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS f_meanlen,
       |  CAST(sum(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS f_symbol,
       |  CAST(sum(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS f_alpha,
       |  CAST(sum(CASE WHEN f5 THEN 1 ELSE 0 END) AS BIGINT) AS f_stopword,
       |  CAST(sum(CASE WHEN NOT (f1 OR f2 OR f3 OR f4 OR f5) THEN 1 ELSE 0 END)
       |    AS BIGINT) AS kept,
       |  CAST(sum(CASE WHEN NOT (f1 OR f2 OR f3 OR f4 OR f5) THEN n_chars
       |           ELSE 0 END) AS BIGINT) AS kept_chars
       |FROM flags""".stripMargin

  // ─── q231: CCNet perplexity bucketing (head / middle / tail) ──────────
  // The published CCNet discipline (Wenzek et al. 2020): score every doc
  // with a language model, cut each LANGUAGE at its own perplexity
  // terciles, and keep the "head" (lowest-perplexity third) for training.
  // The LM here is the exact corpus unigram model (q83's model, scored
  // over ALL docs, not q83's 1/25 sample); the bucket boundary discipline
  // is q226's: per-token log-probs quantized to integer NANO units so the
  // per-doc total is an exact integer sum, the per-doc mean is a
  // TRUNCATING integer division (`div` ≡ DuckDB's `//`), and the cuts are
  // percentile_disc — ACTUAL attained integers — so no float ever decides
  // a doc's bucket.
  // Scale: one token pass; the vocab freq table is map-side combined and
  // the scoring join keys on the token (at 100 TB: md5 the token and swap
  // the exact-total pass for approx_count_distinct — the q153 note); the
  // tercile frame is |langs| rows, broadcast back.
  def q231CcnetBuckets(s: SparkSession, d: String): DataFrame = {
    val perDocTok = documents(s, d)
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("lang"), col("token"))
      .agg(count(lit(1)).as("c"))
    val freqs = perDocTok.groupBy(col("token")).agg(sum(col("c")).as("cnt"))
    val total = freqs.agg(sum(col("cnt")).cast("double").as("total"))
    val lpn = freqs.crossJoin(broadcast(total))
      .select(col("token"),
        round(round(log(col("cnt").cast("double") / col("total")), 9) * 1e9, 0)
          .cast("long").as("lpn"))
    val perDoc = perDocTok.join(lpn, "token")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c") * col("lpn")).as("sum_nano"), sum(col("c")).as("n_toks"))
      .withColumn("avg_tr", expr("sum_nano div n_toks"))
    val cuts = perDoc.groupBy(col("lang")).agg(
      expr("percentile_disc(0.3333) WITHIN GROUP (ORDER BY avg_tr)").as("t1"),
      expr("percentile_disc(0.6667) WITHIN GROUP (ORDER BY avg_tr)").as("t2"))
    perDoc.join(broadcast(cuts), "lang")
      .select(col("doc_id"), col("lang"),
        when(col("avg_tr") <= col("t1"), "tail")
          .when(col("avg_tr") <= col("t2"), "middle")
          .otherwise("head").as("bucket"))
      .join(documents(s, d).select(col("doc_id"), col("n_chars")), "doc_id")
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars").cast("long")).as("char_sum"))
      .orderBy(col("lang"), col("bucket"))
  }

  val q231Sql: String =
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, lang, unnest($tokensSql) AS token FROM documents),
       |pdt AS MATERIALIZED (
       |  SELECT doc_id, lang, token, CAST(count(*) AS BIGINT) AS c
       |  FROM toks GROUP BY 1, 2, 3),
       |freqs AS (SELECT token, sum(c) AS cnt FROM pdt GROUP BY token),
       |total AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freqs),
       |lpn AS MATERIALIZED (
       |  SELECT token, CAST(round(round(
       |      ln(CAST(cnt AS DOUBLE) / total), 9) * 1e9, 0) AS BIGINT) AS lpn
       |  FROM freqs, total),
       |perdoc AS MATERIALIZED (
       |  SELECT pdt.doc_id, pdt.lang,
       |    CAST(sum(pdt.c * lpn.lpn) AS BIGINT) // CAST(sum(pdt.c) AS BIGINT)
       |      AS avg_tr
       |  FROM pdt JOIN lpn USING (token)
       |  GROUP BY 1, 2),
       |cuts AS (
       |  SELECT lang,
       |    percentile_disc(0.3333) WITHIN GROUP (ORDER BY avg_tr) AS t1,
       |    percentile_disc(0.6667) WITHIN GROUP (ORDER BY avg_tr) AS t2
       |  FROM perdoc GROUP BY lang)
       |SELECT p.lang,
       |  CASE WHEN avg_tr <= t1 THEN 'tail'
       |       WHEN avg_tr <= t2 THEN 'middle'
       |       ELSE 'head' END AS bucket,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(d.n_chars) AS BIGINT) AS char_sum
       |FROM perdoc p
       |JOIN cuts USING (lang)
       |JOIN documents d ON p.doc_id = d.doc_id
       |GROUP BY 1, 2
       |ORDER BY lang, bucket""".stripMargin

  // ─── q260: Kneser–Ney bigram LM perplexity census ─────────────────────
  // The smoothing the n-gram-LM literature settled on (Kneser & Ney 1995;
  // Chen & Goodman 1999 form, single discount D = 0.75): q231's unigram
  // CCNet scorer upgraded to an interpolated bigram model whose backoff
  // weight is the CONTINUATION count — "how many contexts does w2
  // complete" — not raw frequency (the insight that makes "francisco"
  // unlikely outside "san _"):
  //   P(w2|w1) = (c(w1w2) − D)/c(w1·)
  //            + D·N1+(w1,·)/c(w1·) · N1+(·,w2)/N1+(··)
  // Every model statistic is an exact integer (bigram counts, context
  // totals, distinct-successor/predecessor/type counts); P is evaluated
  // once per bigram TYPE in one fixed expression shape both engines
  // parse identically, then quantized to integer nanos (the q231
  // double-round), so per-doc sums/means and the census are float-free.
  // Scored corpus = training corpus, so c(w1w2) ≥ 1 > D and no zero-prob
  // branch exists; docs with < 2 tokens have no bigram and are excluded
  // by contract.
  // Scale: one bigram projection pass (transform over the token array —
  // no positions self-join); model frames are bigram-TYPE-sized,
  // map-side combined, joined on the bigram key (at 100 TB: md5 the
  // pair — the q153 note); N1+(··) rides a 1-row broadcast; the census
  // reduces per-doc rows to |langs|.
  private val KnDiscount = 0.75

  def q260KneserNey(s: SparkSession, d: String): DataFrame = {
    val toksF = documents(s, d)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("ts"))
      .where(size(col("ts")) >= 2)
    val pdb = toksF.select(col("doc_id"), col("lang"), explode(
        transform(sequence(lit(1), size(col("ts")) - 1),
          i => struct(element_at(col("ts"), i).as("w1"),
                      element_at(col("ts"), i + 1).as("w2")))).as("b"))
      .groupBy(col("doc_id"), col("lang"),
               col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("c"))
    val bg = pdb.groupBy(col("w1"), col("w2")).agg(sum(col("c")).as("cb"))
    val ctx = bg.groupBy(col("w1"))
      .agg(sum(col("cb")).as("ct"), count(lit(1)).as("n1f"))
    val cont = bg.groupBy(col("w2")).agg(count(lit(1)).as("n1p"))
    val n1t = bg.agg(count(lit(1)).cast("double").as("n1t"))
    val model = bg.join(ctx, "w1").join(cont, "w2")
      .crossJoin(broadcast(n1t))
      .select(col("w1"), col("w2"),
        round(round(log(
          (col("cb").cast("double") - lit(KnDiscount)) /
            col("ct").cast("double") +
          lit(KnDiscount) * col("n1f").cast("double") /
            col("ct").cast("double") *
            (col("n1p").cast("double") / col("n1t"))), 9) * 1e9, 0)
          .cast("long").as("lpn"))
    val perDoc = pdb.join(model, Seq("w1", "w2"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c") * col("lpn")).as("sum_nano"),
           sum(col("c")).as("nb"))
      .withColumn("avg_tr", expr("sum_nano div nb"))
    perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           expr("sum(avg_tr) div count(*)").as("mean_lp"),
           // percentile_disc returns DOUBLE; the attained value is an
           // integer nano mean, so the cast back to long is lossless
           expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY avg_tr)")
             .cast("long").as("med_lp"),
           min(col("avg_tr")).as("min_lp"),
           max(col("avg_tr")).as("max_lp"))
      .orderBy(col("lang"))
  }

  val q260Sql: String =
    s"""WITH toksf AS MATERIALIZED (
       |  SELECT doc_id, lang, $tokensSql AS ts FROM documents),
       |pdb AS MATERIALIZED (
       |  SELECT doc_id, lang, b['w1'] AS w1, b['w2'] AS w2,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM (
       |    SELECT doc_id, lang,
       |      unnest(list_transform(generate_series(1, len(ts) - 1),
       |        i -> {'w1': ts[i], 'w2': ts[i + 1]})) AS b
       |    FROM toksf WHERE len(ts) >= 2)
       |  GROUP BY 1, 2, 3, 4),
       |bg AS MATERIALIZED (
       |  SELECT w1, w2, CAST(sum(c) AS BIGINT) AS cb
       |  FROM pdb GROUP BY w1, w2),
       |ctx AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS ct,
       |               CAST(count(*) AS BIGINT) AS n1f
       |        FROM bg GROUP BY w1),
       |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p
       |         FROM bg GROUP BY w2),
       |n1t AS (SELECT CAST(count(*) AS DOUBLE) AS n1t FROM bg),
       |model AS MATERIALIZED (
       |  SELECT bg.w1, bg.w2, CAST(round(round(ln(
       |      (CAST(cb AS DOUBLE) - $KnDiscount) / CAST(ct AS DOUBLE)
       |      + $KnDiscount * CAST(n1f AS DOUBLE) / CAST(ct AS DOUBLE)
       |        * (CAST(n1p AS DOUBLE) / n1t)), 9) * 1e9, 0) AS BIGINT)
       |    AS lpn
       |  FROM bg JOIN ctx USING (w1) JOIN cont USING (w2), n1t),
       |perdoc AS MATERIALIZED (
       |  SELECT pdb.doc_id, pdb.lang,
       |    CAST(sum(pdb.c * m.lpn) AS BIGINT) // CAST(sum(pdb.c) AS BIGINT)
       |      AS avg_tr
       |  FROM pdb JOIN model m USING (w1, w2)
       |  GROUP BY 1, 2)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(avg_tr) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_lp,
       |  percentile_disc(0.5) WITHIN GROUP (ORDER BY avg_tr) AS med_lp,
       |  min(avg_tr) AS min_lp, max(avg_tr) AS max_lp
       |FROM perdoc
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  // ─── q232: per-domain document caps (the per-host crawl cap) ──────────
  // Crawl-derived corpora cap documents PER DOMAIN so no single host
  // dominates the mix (the C4/RefinedWeb per-host discipline). Keep = the
  // Cap lowest salted-hash ranks within each source — deterministic and
  // grow-stable in the q72 sense for the docs already under the cap, and
  // a pure function of ids, so reruns agree. The census reports per
  // source: total, kept, dropped, kept-id checksum (proves WHICH docs
  // survive, cross-engine) and kept chars.
  // Scale: the rank ≤ Cap filter plans as a two-phase partial
  // WindowGroupLimit — map tasks emit at most Cap rows per source below
  // the exchange, so the shuffle never carries the over-cap mass (the
  // q81/q102 plan shape); totals come from a separate map-side-combined
  // aggregate, and the final join is |sources|-sized.
  private[graft] val DomainCap = 18

  def q232DomainCaps(s: SparkSession, d: String): DataFrame = {
    val hashed = documents(s, d).select(col("doc_id"), col("source"),
      col("n_chars"),
      md5(concat(lit("cap:"), col("doc_id").cast("string"))).as("h"))
    val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    val kept = hashed.withColumn("rn", row_number().over(w))
      .where(col("rn") <= DomainCap)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("kept_id_sum"),
           sum(col("n_chars").cast("long")).as("kept_chars"))
    val tot = hashed.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    tot.join(kept, "source")
      .select(col("source"), col("n_docs"), col("n_kept"),
        (col("n_docs") - col("n_kept")).as("n_dropped"),
        col("kept_id_sum"), col("kept_chars"))
      .orderBy(col("source"))
  }

  val q232Sql: String =
    s"""WITH hashed AS (
       |  SELECT doc_id, source, n_chars,
       |    md5('cap:' || CAST(doc_id AS VARCHAR)) AS h
       |  FROM documents),
       |kept AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       |    CAST(sum(doc_id) AS BIGINT) AS kept_id_sum,
       |    CAST(sum(n_chars) AS BIGINT) AS kept_chars
       |  FROM (SELECT source, doc_id, n_chars,
       |          row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
       |            AS rn
       |        FROM hashed)
       |  WHERE rn <= $DomainCap
       |  GROUP BY source),
       |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
       |        FROM hashed GROUP BY source)
       |SELECT source, n_docs, n_kept, n_docs - n_kept AS n_dropped,
       |  kept_id_sum, kept_chars
       |FROM tot JOIN kept USING (source)
       |ORDER BY source""".stripMargin

  // ─── q235: stratified k-fold cross-validation assignment ──────────────
  // Evaluation-side counterpart of q72's one-shot split: k folds with
  // EXACT per-stratum balance (±1), not hash-proportional balance —
  // fold = (dense position within the language under a salted-hash
  // order) mod k. The hash supplies the shuffle, the position mod k
  // supplies the exact balance; both are pure functions of ids.
  // Scale: the position comes from the scalable densePos helper (local
  // prefix within 256 hash-led buckets + a broadcast offsets frame, the
  // q47/q76 machinery) — no one-task-per-language window ever runs; the
  // census is map-side combined.
  private val KFolds = 5

  def q235KFold(s: SparkSession, d: String): DataFrame = {
    val hashed = documents(s, d).select(col("doc_id"), col("lang"),
      md5(concat(lit("fold:"), col("doc_id").cast("string"))).as("h"))
    val pos = Windows.densePos(hashed, Seq("lang"), Windows.hexBucket(col("h")),
      Seq(col("h"), col("doc_id")), "pos")
    pos.select(col("lang"), col("doc_id"),
        pmod(col("pos") - 1L, lit(KFolds.toLong)).as("fold"))
      .groupBy(col("lang"), col("fold"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("lang"), col("fold"))
  }

  val q235Sql: String =
    s"""SELECT lang, (rn - 1) % $KFolds AS fold,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(doc_id) AS BIGINT) AS id_sum
       |FROM (
       |  SELECT lang, doc_id,
       |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
       |  FROM (SELECT lang, doc_id,
       |          md5('fold:' || CAST(doc_id AS VARCHAR)) AS h
       |        FROM documents))
       |GROUP BY lang, fold
       |ORDER BY lang, fold""".stripMargin

  // ─── q241: length-bucketed batching — the padding-waste census ────────
  // Trainers batch fixed-shape tensors: every sequence pads up to its
  // batch's length. Bucketing by length (the dynamic-batching lever)
  // bounds that waste; this census PRICES it — per power-of-two bucket
  // cap (16..512, longer docs truncate): doc count, real tokens, pad
  // tokens (cap − len), truncated tokens (len − cap past the top) — the
  // numbers that decide bucket boundaries before a training run. The
  // cap is a CASE chain over fixed thresholds, not ceil(log2(len)):
  // integer comparisons can't disagree cross-engine at exact powers of
  // two the way float log2 boundaries can.
  // Scale: a pure projection over the token count + one map-side-
  // combined ≤6-row aggregate — the cheapest class of corpus pass.
  def q241LengthBuckets(s: SparkSession, d: String): DataFrame = {
    val len = size(tokens(col("text"))).cast("long")
    val cap = when(len <= 16L, 16L).when(len <= 32L, 32L)
      .when(len <= 64L, 64L).when(len <= 128L, 128L)
      .when(len <= 256L, 256L).otherwise(512L)
    documents(s, d)
      .select(len.as("len"), cap.as("cap"))
      .groupBy(col("cap"))
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("len"), col("cap"))).as("tok_sum"),
        sum(greatest(col("cap") - col("len"), lit(0L))).as("pad_waste"),
        sum(greatest(col("len") - col("cap"), lit(0L))).as("truncated"))
      .orderBy(col("cap"))
  }

  val q241Sql: String =
    s"""SELECT cap, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(least(len, cap)) AS BIGINT) AS tok_sum,
       |  CAST(sum(greatest(cap - len, 0)) AS BIGINT) AS pad_waste,
       |  CAST(sum(greatest(len - cap, 0)) AS BIGINT) AS truncated
       |FROM (
       |  SELECT len,
       |    CASE WHEN len <= 16 THEN 16 WHEN len <= 32 THEN 32
       |         WHEN len <= 64 THEN 64 WHEN len <= 128 THEN 128
       |         WHEN len <= 256 THEN 256 ELSE 512 END AS cap
       |  FROM (SELECT CAST(len($tokensSql) AS BIGINT) AS len
       |        FROM documents))
       |GROUP BY cap
       |ORDER BY cap""".stripMargin

  // ─── q243: first-fit-decreasing sequence packing (fewer truncations) ──
  // q76 packs by concat-and-chunk: simple, but every chunk boundary
  // TRUNCATES a document mid-stream — the training-quality cost the
  // "fewer truncations" line of work (Ding et al. 2024) eliminates by
  // BIN-PACKING whole documents into fixed-capacity sequences. The
  // published approximation is first-fit-decreasing; packing globally
  // is a sequential fold, so the scalable form is BATCH-BOUNDED FFD:
  // within each (shard, 32-doc salted-hash batch), sort docs by length
  // desc and first-fit into capacity-128 bins. Each batch's fold runs
  // as ONE higher-order `aggregate` over a ≤32-element collected array
  // (the bounded-group contract, q121/q160) — embarrassingly parallel
  // across batches, no driver loop, no mapPartitions. Docs longer than
  // the capacity clip to it (they'd occupy a full bin either way).
  // The census prices the result per shard: bins used vs the ⌈Σlen/C⌉
  // lower bound, pad waste — and zero truncation by construction, the
  // number q76 can't offer. DuckDB's oracle replays the identical fold
  // as a recursive CTE over the same deterministic order, so every
  // bin-assignment decision is cross-engine checked.
  private val FfdCap = 128L
  private val FfdBatch = 32

  /** Bin loads after a first-fit fold of `its` — a SORTED array of
    * struct(nl = −len, id) (ascending nl ⇒ descending length, the
    * "decreasing" in FFD; id breaks ties) — into capacity-[[FfdCap]]
    * bins. Pure Column function so the spec can drive planted batches
    * through the exact production fold. */
  private[graft] def ffdLoads(its: Column): Column =
    aggregate(its, expr("CAST(array() AS ARRAY<BIGINT>)"),
      (acc, x) => {
        val ln = -x("nl")
        val p = array_position(transform(acc, l => l + ln <= FfdCap), true)
        when(p === 0L, concat(acc, array(ln)))
          .otherwise(concat(
            slice(acc, lit(1), (p - 1L).cast("int")),
            array(element_at(acc, p.cast("int")) + ln),
            slice(acc, (p + 1L).cast("int"), lit(FfdBatch))))
      })

  def q243FfdPacking(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"),
      least(size(tokens(col("text"))).cast("long"), lit(FfdCap)).as("len"),
      conv(substring(md5(concat(lit("shard:"), col("doc_id").cast("string"))),
                     1, 1), 16, 10).cast("int").as("shard"),
      md5(concat(lit("order:"), col("doc_id").cast("string"))).as("ord"))
    val pos = Windows.densePos(base, Seq("shard"), Windows.hexBucket(col("ord")),
      Seq(col("ord"), col("doc_id")), "pos")
    val items = pos.withColumn("batch", expr(s"(pos - 1) div $FfdBatch"))
    val folded = items.groupBy(col("shard"), col("batch"))
      .agg(sort_array(collect_list(struct((-col("len")).as("nl"),
             col("doc_id").as("id")))).as("its"),
           sum(col("len")).as("tok_sum"))
      .withColumn("loads", ffdLoads(col("its")))
    folded.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_batches"),
        sum(size(col("loads")).cast("long")).as("n_bins"),
        sum(expr(s"(tok_sum + ${FfdCap - 1}) div $FfdCap")).as("lb_bins"),
        sum(col("tok_sum")).as("tok_sum"),
        sum(size(col("loads")).cast("long") * FfdCap - col("tok_sum"))
          .as("pad_waste"))
      .orderBy(col("shard"))
  }

  val q243Sql: String =
    s"""WITH RECURSIVE base AS MATERIALIZED (
       |  SELECT doc_id,
       |    least(CAST(len($tokensSql) AS BIGINT), $FfdCap) AS len,
       |    CAST(CAST('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
       |                             1, 1) AS BIGINT) AS INT) AS shard,
       |    md5('order:' || CAST(doc_id AS VARCHAR)) AS ord
       |  FROM documents),
       |items AS MATERIALIZED (
       |  SELECT shard, (pos - 1) // $FfdBatch AS batch, len, doc_id,
       |    row_number() OVER (PARTITION BY shard, (pos - 1) // $FfdBatch
       |                       ORDER BY len DESC, doc_id) AS r
       |  FROM (SELECT shard, len, doc_id,
       |          row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id)
       |            AS pos
       |        FROM base)),
       |bsz AS MATERIALIZED (
       |  SELECT shard, batch, max(r) AS n, CAST(sum(len) AS BIGINT)
       |    AS tok_sum
       |  FROM items GROUP BY 1, 2),
       |fold AS (
       |  SELECT shard, batch, 0 AS r, CAST([] AS BIGINT[]) AS loads FROM bsz
       |  UNION ALL
       |  SELECT f.shard, f.batch, f.r + 1,
       |    CASE WHEN q.p = 0 THEN list_append(f.loads, i.len)
       |         ELSE f.loads[1:CAST(q.p AS INT) - 1]
       |              || [f.loads[CAST(q.p AS INT)] + i.len]
       |              || f.loads[CAST(q.p AS INT) + 1:]
       |    END AS loads
       |  FROM fold f
       |  JOIN items i ON i.shard = f.shard AND i.batch = f.batch
       |    AND i.r = f.r + 1,
       |  LATERAL (SELECT coalesce(list_position(
       |      list_transform(f.loads, l -> l + i.len <= $FfdCap), true), 0)
       |    AS p) q),
       |packed AS (
       |  SELECT f.shard, f.batch, f.loads, b.tok_sum
       |  FROM fold f JOIN bsz b
       |    ON f.shard = b.shard AND f.batch = b.batch AND f.r = b.n)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_batches,
       |  CAST(sum(len(loads)) AS BIGINT) AS n_bins,
       |  CAST(sum((tok_sum + ${FfdCap - 1}) // $FfdCap) AS BIGINT)
       |    AS lb_bins,
       |  CAST(sum(tok_sum) AS BIGINT) AS tok_sum,
       |  CAST(sum(len(loads) * $FfdCap - tok_sum) AS BIGINT) AS pad_waste
       |FROM packed
       |GROUP BY shard
       |ORDER BY shard""".stripMargin

  // ─── q255: LPT worker balancing (Graham's longest-processing-time) ───
  // q243 answers the CAPACITY question (fewest fixed-size bins); this
  // answers the MAKESPAN one — spread each batch's documents across a
  // fixed pool of $LptWorkers workers so the slowest worker finishes
  // earliest (the dataloader/straggler shape: preprocessing tasks onto
  // a fixed executor pool). Graham's LPT: items length-desc, each onto
  // the currently least-loaded worker — 4/3-optimal, and the entire
  // fold is ONE higher-order `aggregate` per (shard, batch) group over
  // the same salted 32-doc batches as q243 (bounded-group contract,
  // embarrassingly parallel). The census prices the result against the
  // per-batch lower bound max(⌈Σlen/M⌉, max_len) — the gap IS the
  // balance quality, reported as data, never asserted by magnitude.
  // The DuckDB oracle replays the IDENTICAL fold as a recursive CTE
  // (argmin via list_position over an equality mask — first-least wins
  // on both engines), so every assignment decision is cross-checked.
  private val LptWorkers = 8

  private[graft] def lptLoads(its: Column): Column =
    aggregate(its,
      expr(s"array_repeat(CAST(0 AS BIGINT), $LptWorkers)"),
      (acc, x) => {
        val ln = -x("nl")
        val p = array_position(
          transform(acc, l => l === array_min(acc)), true)
        concat(
          slice(acc, lit(1), (p - 1L).cast("int")),
          array(element_at(acc, p.cast("int")) + ln),
          slice(acc, (p + 1L).cast("int"), lit(LptWorkers)))
      })

  def q255LptBalance(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("len"),
      conv(substring(md5(concat(lit("shard:"), col("doc_id").cast("string"))),
                     1, 1), 16, 10).cast("int").as("shard"),
      md5(concat(lit("order:"), col("doc_id").cast("string"))).as("ord"))
    val pos = Windows.densePos(base, Seq("shard"),
      Windows.hexBucket(col("ord")), Seq(col("ord"), col("doc_id")), "pos")
    val items = pos.withColumn("batch", expr(s"(pos - 1) div $FfdBatch"))
    val folded = items.groupBy(col("shard"), col("batch"))
      .agg(sort_array(collect_list(struct((-col("len")).as("nl"),
             col("doc_id").as("id")))).as("its"),
           sum(col("len")).as("tok_sum"), max(col("len")).as("max_len"))
      .withColumn("loads", lptLoads(col("its")))
    folded.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_batches"),
        sum(expr("array_max(loads)")).as("makespan_sum"),
        sum(greatest(
          expr(s"(tok_sum + ${LptWorkers - 1}) div $LptWorkers"),
          col("max_len"))).as("lb_sum"),
        sum(col("tok_sum")).as("tok_sum"))
      .orderBy(col("shard"))
  }

  val q255Sql: String = {
    val zeros = Seq.fill(LptWorkers)("0").mkString("[", ", ", "]")
    s"""WITH RECURSIVE base AS MATERIALIZED (
       |  SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS len,
       |    CAST(CAST('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
       |                             1, 1) AS BIGINT) AS INT) AS shard,
       |    md5('order:' || CAST(doc_id AS VARCHAR)) AS ord
       |  FROM documents),
       |items AS MATERIALIZED (
       |  SELECT shard, (pos - 1) // $FfdBatch AS batch, len, doc_id,
       |    row_number() OVER (PARTITION BY shard, (pos - 1) // $FfdBatch
       |                       ORDER BY len DESC, doc_id) AS r
       |  FROM (SELECT shard, len, doc_id,
       |          row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id)
       |            AS pos
       |        FROM base)),
       |bsz AS MATERIALIZED (
       |  SELECT shard, batch, max(r) AS n,
       |    CAST(sum(len) AS BIGINT) AS tok_sum,
       |    CAST(max(len) AS BIGINT) AS max_len
       |  FROM items GROUP BY 1, 2),
       |fold AS (
       |  SELECT shard, batch, 0 AS r, CAST($zeros AS BIGINT[]) AS loads
       |  FROM bsz
       |  UNION ALL
       |  SELECT f.shard, f.batch, f.r + 1,
       |    f.loads[1:CAST(q.p AS INT) - 1]
       |      || [f.loads[CAST(q.p AS INT)] + i.len]
       |      || f.loads[CAST(q.p AS INT) + 1:] AS loads
       |  FROM fold f
       |  JOIN items i ON i.shard = f.shard AND i.batch = f.batch
       |    AND i.r = f.r + 1,
       |  LATERAL (SELECT list_position(
       |      list_transform(f.loads, l -> l = list_min(f.loads)), true)
       |    AS p) q),
       |packed AS (
       |  SELECT f.shard, f.batch, f.loads, b.tok_sum, b.max_len
       |  FROM fold f JOIN bsz b
       |    ON f.shard = b.shard AND f.batch = b.batch AND f.r = b.n)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_batches,
       |  CAST(sum(list_max(loads)) AS BIGINT) AS makespan_sum,
       |  CAST(sum(greatest((tok_sum + ${LptWorkers - 1}) // $LptWorkers,
       |                    max_len)) AS BIGINT) AS lb_sum,
       |  CAST(sum(tok_sum) AS BIGINT) AS tok_sum
       |FROM packed
       |GROUP BY shard
       |ORDER BY shard""".stripMargin
  }

  // ─── q248: Okapi BM25 top-k retrieval ────────────────────────────────
  // The classic probabilistic ranking function (Robertson–Spärck Jones /
  // Okapi, k1 = 1.2, b = 0.75) the TF-IDF salience (q74) and RRF fusion
  // (q158) bracket: score(q,d) = Σ_t idf(t)·tf·(k1+1)/(tf + k1·(1−b +
  // b·dl/avgdl)), idf = ln(1 + (N−df+0.5)/(df+0.5)). Scale shape: the
  // corpus token stream is SEMI-JOINED against the broadcast query-term
  // list before anything shuffles — tf/df frames are bounded by the
  // postings of the query terms, never the corpus; dl rides the token
  // projection (no per-doc join-back); (N, avgdl) is a 1-row broadcast.
  // The per-query top-k is `top_k_by` (q139's partial-stepped
  // ObjectHashAggregate) — each map task emits ≤ k docs per query, so
  // the final shuffle carries O(queries·k), immune to per-query skew a
  // window rank would concentrate.
  //
  // Cross-engine determinism: each (term, doc) contribution is computed
  // by the IDENTICAL double expression tree on both engines, quantized
  // to integer micros at the term boundary, and only the INTEGER micro
  // sum ranks docs (ties broken by fused micro·1e8 + doc_id — the q139
  // fused-ordering trick), so summation order can never flip a rank.
  private val Bm25Queries: Seq[(Long, String)] = Seq(
    1L -> "merge", 1L -> "window",
    2L -> "hash", 2L -> "join", 2L -> "table",
    3L -> "stream", 3L -> "batch")

  /** Shared BM25 scoring frame: (qid, doc_id, micro, g) — integer micro
    * score plus the coverage grade g = min(3, #distinct query terms
    * present), the relevance label q256's metrics judge the ranking by.
    */
  private def bm25PerDoc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val stats = base.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(size(col("toks"))).cast("double") / count(lit(1))).as("avgdl"))
    val toks = base.select(col("doc_id"), size(col("toks")).as("dl"),
      explode(col("toks")).as("token"))
    val qframe = Bm25Queries.toDF("qid", "term")
    val terms = qframe.select(col("term")).distinct()
    val tf = toks.join(broadcast(terms), toks("token") === terms("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val tfD = col("tf").cast("double")
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
                             (col("df") + lit(0.5)))
    val denom = tfD + lit(1.2) * (lit(0.25) +
      lit(0.75) * col("dl").cast("double") / col("avgdl"))
    val contrib = tf.join(broadcast(dfT), "term")
      .crossJoin(broadcast(stats))
      .select(col("term"), col("doc_id"),
        round(idf * (tfD * lit(2.2)) / denom * lit(1e6), 0)
          .cast("long").as("micro"))
    contrib.join(broadcast(qframe), "term")
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("micro")).as("micro"),
           least(count(lit(1)), lit(3L)).as("g"))
  }

  def q248Bm25TopK(s: SparkSession, d: String): DataFrame = {
    val perDoc = bm25PerDoc(s, d)
    val fused = col("micro") * lit(100000000L) + col("doc_id")
    perDoc.groupBy(col("qid"))
      .agg(graft.expr.TopKByAgg.top_k_by(col("doc_id"), fused, 5).as("top"),
        count(lit(1)).as("n_matched"), max(col("micro")).as("best_micro"))
      .select(col("qid"),
        concat_ws(",", transform(col("top"), _.cast("string")))
          .as("top_docs"),
        col("n_matched"), col("best_micro"))
      .orderBy(col("qid"))
  }

  /** Shared oracle CTE chain mirroring [[bm25PerDoc]]: everything up to
    * `perdoc(qid, doc_id, micro, g)`. */
  private val bm25Ctes: String = {
    val qVals = Bm25Queries.map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""q(qid, term) AS (VALUES $qVals),
       |base AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |  CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl FROM base),
       |toks AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS token
       |         FROM base),
       |tf AS (SELECT token AS term, doc_id, dl,
       |         CAST(count(*) AS BIGINT) AS tf
       |       FROM toks WHERE token IN (SELECT DISTINCT term FROM q)
       |       GROUP BY token, doc_id, dl),
       |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |        FROM tf GROUP BY term),
       |contrib AS (
       |  SELECT tf.term, tf.doc_id,
       |    CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
       |      * (CAST(tf AS DOUBLE) * 2.2)
       |      / (CAST(tf AS DOUBLE)
       |         + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
       |      * 1e6, 0) AS BIGINT) AS micro
       |  FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN stats),
       |perdoc AS (
       |  SELECT CAST(q.qid AS BIGINT) AS qid, c.doc_id,
       |         CAST(sum(c.micro) AS BIGINT) AS micro,
       |         least(CAST(count(*) AS BIGINT), 3) AS g
       |  FROM contrib c JOIN q ON c.term = q.term
       |  GROUP BY q.qid, c.doc_id)""".stripMargin
  }

  val q248Sql: String =
    s"""WITH $bm25Ctes,
       |ranked AS (
       |  SELECT qid, doc_id, micro,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY micro * 100000000 + doc_id DESC) AS rn
       |  FROM perdoc)
       |SELECT qid,
       |  string_agg(CAST(doc_id AS VARCHAR), ','
       |    ORDER BY micro * 100000000 + doc_id DESC)
       |    FILTER (WHERE rn <= 5) AS top_docs,
       |  CAST(count(*) AS BIGINT) AS n_matched,
       |  CAST(max(micro) AS BIGINT) AS best_micro
       |FROM ranked
       |GROUP BY qid
       |ORDER BY qid""".stripMargin

  // ─── q256: ranking-quality census (nDCG@10 / first-full-hit rank) ────
  // The eval loop that closes q248's retrieval story: judge the BM25
  // ranking against a relevance label it does NOT optimize — coverage
  // grade g = min(3, #distinct query terms present) — with the standard
  // graded metric. nDCG@10 = DCG/IDCG where DCG = Σ (2^g−1)/log2(i+1)
  // over the top-10, IDCG the same over the grade-ideal ordering.
  //
  // Cross-engine exactness: every per-position term is quantized to
  // integer micros BEFORE summation (the q248 discipline — float sums
  // are order-dependent, integer sums are not), so dcg/idcg are exact
  // BIGINTs and ndcg one double division of two identical integers.
  // Scale: top-10 via the partial-stepped top_k_by (no per-query window
  // over the match set); IDCG needs no ranking at all — it is computed
  // CLOSED-FORM from the per-(query, grade) COUNT frame (≤4 rows per
  // query): grade block [s+1, min(10, s+c)] contributes its positions'
  // micro weights, an in-row transform over ≤10 positions. The census
  // also reports the rank of the first FULL-coverage hit (the MRR
  // input) and the matched-set size.
  def q256RankingQuality(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val perDoc = bm25PerDoc(s, d).cache()
    val fused = col("micro") * lit(100000000L) + col("doc_id")
    val top10 = perDoc.groupBy(col("qid"))
      .agg(graft.expr.TopKByAgg.top_k_by(col("doc_id"), fused, 10).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), (col("pos") + 1).as("rank"),
              col("col").as("doc_id"))
    val nterms = broadcast(Bm25Queries.toDF("qid", "term")
      .groupBy("qid").agg(least(count(lit(1)), lit(3L)).as("gfull")))
    val dcg = top10.join(perDoc, Seq("qid", "doc_id"))
      .join(nterms, "qid")
      .groupBy(col("qid"))
      .agg(sum(expr("CAST(round((pow(2, g) - 1) / log2(rank + 1) * 1e6, 0)" +
             " AS BIGINT)")).as("dcg_micro"),
           min(when(col("g") === col("gfull"), col("rank")))
             .as("first_full_rank"))
    val gcounts = perDoc.groupBy(col("qid"), col("g"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("qid")).orderBy(col("g").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val idcg = gcounts
      .withColumn("s", coalesce(sum(col("c")).over(wCum), lit(0L)))
      .withColumn("e", least(lit(10L), col("s") + col("c")))
      .withColumn("part",
        when(col("s") + 1 > col("e"), lit(0L)).otherwise(
          expr("aggregate(transform(sequence(CAST(s + 1 AS INT), " +
            "CAST(e AS INT)), i -> CAST(round((pow(2, g) - 1) / " +
            "log2(i + 1) * 1e6, 0) AS BIGINT)), CAST(0 AS BIGINT), " +
            "(a, x) -> a + x)")))
      .groupBy(col("qid"))
      .agg(sum(col("part")).as("idcg_micro"),
           sum(col("c")).as("n_matched"))
    dcg.join(idcg, "qid")
      .select(col("qid"), col("dcg_micro"), col("idcg_micro"),
        round(col("dcg_micro").cast("double") / col("idcg_micro"), 6)
          .as("ndcg"),
        coalesce(col("first_full_rank"), lit(0L)).as("first_full_rank"),
        col("n_matched"))
      .orderBy(col("qid"))
  }

  val q256Sql: String =
    s"""WITH $bm25Ctes,
       |nterms AS (
       |  SELECT CAST(qid AS BIGINT) AS qid,
       |    least(CAST(count(*) AS BIGINT), 3) AS gfull
       |  FROM q GROUP BY qid),
       |ranked AS (
       |  SELECT qid, doc_id, micro, g,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY micro * 100000000 + doc_id DESC) AS rank
       |  FROM perdoc),
       |dcg AS (
       |  SELECT r.qid,
       |    CAST(sum(CAST(round((2 ** g - 1) / log2(rank + 1) * 1e6, 0)
       |      AS BIGINT)) AS BIGINT) AS dcg_micro,
       |    min(CASE WHEN g = n.gfull THEN rank END) AS first_full_rank
       |  FROM ranked r JOIN nterms n USING (qid)
       |  WHERE rank <= 10
       |  GROUP BY r.qid),
       |ideal AS (
       |  SELECT qid,
       |    CAST(sum(CAST(round((2 ** g - 1) / log2(rank + 1) * 1e6, 0)
       |      AS BIGINT)) FILTER (WHERE rank <= 10) AS BIGINT) AS idcg_micro,
       |    CAST(count(*) AS BIGINT) AS n_matched
       |  FROM (SELECT qid, g,
       |          row_number() OVER (PARTITION BY qid
       |            ORDER BY g DESC, doc_id) AS rank
       |        FROM perdoc)
       |  GROUP BY qid)
       |SELECT d.qid, d.dcg_micro, i.idcg_micro,
       |  round(CAST(d.dcg_micro AS DOUBLE) / i.idcg_micro, 6) AS ndcg,
       |  CAST(coalesce(d.first_full_rank, 0) AS BIGINT) AS first_full_rank,
       |  i.n_matched
       |FROM dcg d JOIN ideal i USING (qid)
       |ORDER BY d.qid""".stripMargin

  // ─── q249: funnel removal-attribution census ─────────────────────────
  // The governance read every published cleaning pipeline reports
  // (C4/Gopher/RefinedWeb ablation tables): not just how many documents
  // each gate removes (q70's per-stage counts) but WHICH SOURCE loses
  // them and HOW MANY TOKENS go with them — the per-(stage, source)
  // docs/tokens attribution that tells a 100 TB curation run where its
  // data actually went. Each doc is attributed to the FIRST gate that
  // drops it (length → stopword → repetition → exact-dup), so the rows
  // partition the corpus exactly: Σ n_docs = |corpus|. The fixture's
  // word-soup never exceeds an 0.18 top-bigram fraction (max ~0.17
  // measured), so repetition violations are PLANTED deterministically
  // (the q73 pattern): doc_id % 13 gets a 30-token "spam" run appended
  // BEFORE the dup copies are taken, so copies inherit the planted
  // text and stay exact dups. Exact-dup copies are planted q70-style
  // (doc_id % 10, id + 500000, source preserved) so stage 4 is
  // exercised; the keeper is min-id AMONG gate-survivors
  // (a dup group whose keeper fails an earlier gate still keeps its
  // best surviving member — the subtle case a naive global min gets
  // wrong). Scale: one projection computes gates 1–2 in-row; the
  // repetition gate is the q70 bigram aggregate (doc_id-keyed, integer
  // cross-multiplied max·100 > 18·total, never a float fraction); dup
  // keeper is ONE window over the content hash (32-byte key, group size
  // = dup multiplicity). Census output is enum × source sized.
  def q249RemovalAttribution(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d)
      .select(col("doc_id"), col("source"),
        when(pmod(col("doc_id"), lit(13)) === 0,
          concat(col("text"), lit(" spam" * 30)))
          .otherwise(col("text")).as("text"))
    val corpus = base.unionByName(
      base.where(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 500000).as("doc_id"), col("source"),
                col("text")))
    val toksF = corpus.select(col("doc_id"), col("source"), col("text"),
      tokens(col("text")).as("toks"))
    val perDoc = toksF.select(col("doc_id"), col("source"), col("text"),
      size(col("toks")).as("n_toks"),
      size(filter(col("toks"), t => t === "the" || t === "a")).as("n_stop"))
    val bg = toksF.where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => concat_ws(" ", element_at(col("toks"), i),
                            element_at(col("toks"), i + 1)))).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(max(col("cnt")).as("max_cnt"), sum(col("cnt")).as("tot_cnt"))
    val flagged = perDoc.join(bg, Seq("doc_id"), "left")
      .withColumn("g1", col("n_toks") < 12)
      .withColumn("g2", col("n_stop") === 0)
      .withColumn("g3",
        coalesce(col("max_cnt") * 100 > col("tot_cnt") * 18, lit(false)))
    val wk = Window.partitionBy(sha2(col("text"), 256))
    flagged
      .withColumn("min_keep",
        min(when(!col("g1") && !col("g2") && !col("g3"), col("doc_id")))
          .over(wk))
      .withColumn("stage",
        when(col("g1"), "1_short")
          .when(col("g2"), "2_no_stopword")
          .when(col("g3"), "3_repetitive")
          .when(col("doc_id") =!= col("min_keep"), "4_exact_dup")
          .otherwise("kept"))
      .groupBy(col("stage"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .orderBy(col("stage"), col("source"))
  }

  val q249Sql: String =
    s"""WITH base AS (
       |  SELECT doc_id, source,
       |    CASE WHEN doc_id % 13 = 0 THEN text || repeat(' spam', 30)
       |         ELSE text END AS text
       |  FROM documents),
       |corpus AS (
       |  SELECT doc_id, source, text FROM base
       |  UNION ALL
       |  SELECT doc_id + 500000, source, text FROM base
       |  WHERE doc_id % 10 = 0),
       |toksf AS (SELECT doc_id, source, text, $tokensSql AS toks
       |          FROM corpus),
       |perdoc AS (
       |  SELECT doc_id, source, text, len(toks) AS n_toks,
       |    len(list_filter(toks, t -> t = 'the' OR t = 'a')) AS n_stop
       |  FROM toksf),
       |bg AS (
       |  SELECT doc_id, max(cnt) AS max_cnt, sum(cnt) AS tot_cnt FROM (
       |    SELECT doc_id, bg, count(*) AS cnt FROM (
       |      SELECT doc_id,
       |        unnest(list_transform(generate_series(1, len(toks) - 1),
       |          i -> toks[i] || ' ' || toks[i+1])) AS bg
       |      FROM toksf WHERE len(toks) >= 2)
       |    GROUP BY doc_id, bg)
       |  GROUP BY doc_id),
       |flagged AS (
       |  SELECT p.doc_id, p.source, p.text, p.n_toks,
       |    (p.n_toks < 12) AS g1,
       |    (p.n_stop = 0) AS g2,
       |    coalesce(b.max_cnt * 100 > b.tot_cnt * 18, false) AS g3
       |  FROM perdoc p LEFT JOIN bg b ON p.doc_id = b.doc_id),
       |reasoned AS (
       |  SELECT doc_id, source, n_toks, g1, g2, g3,
       |    min(CASE WHEN NOT g1 AND NOT g2 AND NOT g3 THEN doc_id END)
       |      OVER (PARTITION BY sha256(text)) AS min_keep
       |  FROM flagged)
       |SELECT CASE WHEN g1 THEN '1_short'
       |            WHEN g2 THEN '2_no_stopword'
       |            WHEN g3 THEN '3_repetitive'
       |            WHEN doc_id <> min_keep THEN '4_exact_dup'
       |            ELSE 'kept' END AS stage,
       |  source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_toks) AS BIGINT) AS n_tokens
       |FROM reasoned
       |GROUP BY 1, 2
       |ORDER BY stage, source""".stripMargin

  // ─── q250: exact ROC-AUC census of the trained classifier ────────────
  // q244 answers "is the model calibrated"; this answers "does it RANK"
  // — the Mann–Whitney AUC, computed EXACTLY (ties at half credit) from
  // the score histogram, never from per-row global ranks: group docs by
  // micro-quantized score (the q244 integer discipline), then one
  // ordered scan of the DISTINCT-score frame accumulates
  // Σ (2·np·cumneg + np·ne) — concordant pairs doubled plus ties once.
  // The global window runs over the score DOMAIN (≤ |distinct micros|,
  // ~4k for this model's 0.004 span; bounded by 1e6 for ANY model at
  // 6-dp quantization), not the corpus — the q144 window-over-aggregate
  // principle, so the operator scales as one map-side-combined
  // histogram aggregate regardless of corpus size. The census emits the
  // INTEGER numerator/denominator (auc_num2 / auc_den2, both exact) and
  // the 6-dp double only as a convenience projection.
  def q250AucCensus(s: SparkSession, d: String): DataFrame = {
    val hist = lrScoresFor(s, d)
      .select(col("y").cast("long").as("y"),
        round(col("s") * 1e6, 0).cast("long").as("micro"))
      .groupBy(col("micro"))
      .agg(count_if(col("y") === 1L).as("np"),
           count_if(col("y") === 0L).as("ne"))
    val wOrd = Window.orderBy(col("micro"))
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("cumneg", coalesce(sum(col("ne")).over(wOrd), lit(0L)))
      .agg(sum(col("np")).as("n_pos"), sum(col("ne")).as("n_neg"),
        sum(col("np") * lit(2L) * col("cumneg") + col("np") * col("ne"))
          .as("auc_num2"))
      .select(col("n_pos"), col("n_neg"), col("auc_num2"),
        (lit(2L) * col("n_pos") * col("n_neg")).as("auc_den2"),
        round(col("auc_num2").cast("double") /
              (lit(2.0) * col("n_pos") * col("n_neg")), 6).as("auc"))
  }

  val q250Sql: String =
    s"""WITH $lrOracleCtes,
       |hist AS (
       |  SELECT CAST(round(s * 1e6, 0) AS BIGINT) AS micro,
       |    CAST(count(*) FILTER (WHERE y = 1.0) AS BIGINT) AS np,
       |    CAST(count(*) FILTER (WHERE y = 0.0) AS BIGINT) AS ne
       |  FROM sfin
       |  GROUP BY 1),
       |scanned AS (
       |  SELECT np, ne,
       |    coalesce(sum(ne) OVER (ORDER BY micro
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS cumneg
       |  FROM hist)
       |SELECT CAST(sum(np) AS BIGINT) AS n_pos,
       |  CAST(sum(ne) AS BIGINT) AS n_neg,
       |  CAST(sum(np * 2 * cumneg + np * ne) AS BIGINT) AS auc_num2,
       |  CAST(2 * sum(np) * sum(ne) AS BIGINT) AS auc_den2,
       |  round(CAST(sum(np * 2 * cumneg + np * ne) AS DOUBLE)
       |    / (2.0 * sum(np) * sum(ne)), 6) AS auc
       |FROM scanned""".stripMargin

  // ─── q319: the pretraining capstone funnel (C4/RefinedWeb/Dolma shape) ─
  // Every stage of the modern pretraining pipeline exists in this repo
  // as a tested operator; this query CHAINS them end to end — the
  // composition is where stage-boundary bugs live (q313's lesson), so
  // the whole funnel gets ONE DuckDB twin whose per-stage conservation
  // law (n_docs monotonically non-increasing, each stage's output = the
  // next stage's input) is pinned by the shared CTE chain itself:
  //
  //   0 ingest     documents ∪ planted exact (id%7 → +2e6) and near
  //                (id%9 → +1e6, one-token tail) duplicates — the
  //                plants give the dedup stages real work at every SF
  //   1 gopher     Rae et al. 2021 rule battery (q230's five rules)
  //   2 exact      sha2(text) groups, min-id keeper (q41 shape)
  //   3 neardup    MinHash K=8/B=4 banding → Jaccard≥0.6 verify →
  //                connected components → min-id keeper (q199 funnel)
  //   4 substring  Lee et al. duplicated-substring removal (q205) —
  //                token accounting switches to post-removal counts
  //   5 classifier corpus-trained LR gate (q209's memoized trainer),
  //                keep micro-score > the survivor median
  //                (percentile_disc — an attained integer, q226 rule)
  //   6 tempmix    per-lang temperature quota α=0.5, T=half (q211)
  //   7 pack       DSIR terciles (q216) → curriculum phase × writer
  //                shard × 32-doc batch → FFD bins at cap 128 (q226 +
  //                q243), zero truncation by construction
  //
  // Census: one row per stage — (stage, n_docs, n_toks, aux) with aux
  // the stage's own proof-of-work (drops, dup groups, clusters, spans,
  // median cut, Σquota, bins). Admission counters for the pack stage
  // also ride a Dataset.observe on the pack-input frame (q115's
  // machinery — free at any scale, no second scan); the spec asserts
  // the observed values equal the census row.
  //
  // At 100 TB: stages 1/5/6/7 are projections + map-side-combined
  // aggregates; stage 2 shuffles (hash, id) pairs only; stage 3 is the
  // banded LSH equi-join + the q71 CC fixpoint over near-dup edges
  // (cluster-sized, not corpus-sized); stage 4 fans out only duplicated
  // windows. The corpus is re-scanned per stage rather than cached —
  // at scale a parquet re-read with column pruning beats pinning text
  // in memory. Gates are evaluated on original text (the fastText-on-
  // raw-crawl production pattern); token ACCOUNTING from stage 4 on
  // uses post-substring counts, which also set the pack lengths.
  private val FunnelK = 8
  private val FunnelB = 4


  def q319PretrainFunnel(s: SparkSession, d: String): DataFrame =
    funnelWithObservation(s, d)._1

  /** [[q319PretrainFunnel]] plus the pack-stage Observation — exposed so
    * the spec can assert the free counters against the census row. */
  private[graft] def funnelWithObservation(
      s: SparkSession, d: String)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    import graft.ops.{TextSim, Graph, Windows}
    val packObs = org.apache.spark.sql.Observation()
    val raw = documents(s, d).select(col("doc_id"), col("lang"), col("text"))
    // The planted-duplicate ids live at +1e6/+2e6; a corpus whose real
    // ids reach 1e6 would collide with the plants and silently corrupt
    // the min-id keeper (both engines would drift together, so the
    // oracle gate could not catch it). Fail loudly instead — one
    // column-pruned max() over a bigint column, microseconds at any SF.
    val maxId = raw.agg(max(col("doc_id"))).head().getLong(0)
    require(maxId < 1000000L,
      s"q319 plant offsets assume doc_id < 1e6; corpus max is $maxId — " +
        "raise the plant offsets past the next power of ten")
    val corpus = raw
      .unionByName(raw.where(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("lang"),
                col("text")))
      .unionByName(raw.where(pmod(col("doc_id"), lit(9)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
                concat(col("text"), lit(" zz xtra7 tail")).as("text")))
    val tk = corpus.withColumn("toks", tokens(col("text")))
      .withColumn("n_toks", size(col("toks")).cast("long"))
    // SLIM census spine, checkpointed once: (doc_id, lang, n_toks) is
    // fixed-width — pinning it is the stage-boundary discipline, NOT
    // pinning text (tk with text/toks stays re-derived per consumer,
    // the documented 100 TB trade). Every census row and every stage
    // that needs only ids/counts reads this frame instead of
    // re-tokenizing the corpus (was ~8 re-derivations per run).
    val tkSlim = tk.select(col("doc_id"), col("lang"), col("n_toks"))
      .localCheckpoint()

    // stage 1: gopher rules (q230's battery, un-planted)
    val gsig = tk.select(col("doc_id"), col("n_toks").as("n_words"),
      aggregate(col("toks"), lit(0L),
        (acc, x) => acc + length(x).cast("long")).as("sum_len"),
      size(filter(col("toks"), x => x.rlike("[a-z]"))).cast("long")
        .as("n_alpha"),
      size(filter(col("toks"), x => x === "the" || x === "a")).cast("long")
        .as("n_stop"),
      (length(col("text")) - length(regexp_replace(col("text"), "#", "")))
        .cast("long").as("n_hash"))
    val p1 = gsig.where(
      !(col("n_words") < 50L || col("n_words") > 100000L) &&
      !(col("sum_len") < lit(3L) * col("n_words") ||
        col("sum_len") > lit(10L) * col("n_words")) &&
      !(lit(10L) * col("n_hash") > col("n_words")) &&
      !(lit(5L) * col("n_alpha") < lit(4L) * col("n_words")) &&
      !(col("n_stop") < 2L)).select("doc_id").localCheckpoint()

    // stage 2: exact dedup — min-id keeper per content hash
    val ex = tk.join(p1, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("grp_n"))
      .localCheckpoint()
    val p2 = ex.select("doc_id")

    // stage 3: near-dup — banded MinHash candidates, Jaccard verify, CC
    val sh2 = tk.join(p2, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        when(size(col("toks")) >= 3,
          array_distinct(transform(sequence(lit(1), size(col("toks")) - 2),
            i => concat_ws(" ", element_at(col("toks"), i),
              element_at(col("toks"), i + 1),
              element_at(col("toks"), i + 2)))))
          .otherwise(array().cast("array<string>")).as("sh"))
      .cache()
    val r = FunnelK / FunnelB
    val sigs = sh2.withColumn("sigsArr",
      graft.expr.MinHashFunctions.minhash_sigs(col("sh"), FunnelK))
    val banded = (0 until FunnelB).foldLeft(sigs) { (df, i) =>
      df.withColumn(s"band$i", md5(concat(
        (0 until r).map(j => col("sigsArr").getItem(r * i + j)): _*)))
    }
    val bands = banded.select(col("doc_id"),
      posexplode(array((0 until FunnelB).map(i => col(s"band$i")): _*)))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_key")
    val jac = size(array_intersect(col("sa"), col("sb"))).cast("double") /
              size(array_union(col("sa"), col("sb"))).cast("double")
    val edges = bands.as("x").join(bands.as("y"),
        col("x.band_id") === col("y.band_id") &&
        col("x.band_key") === col("y.band_key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      .join(sh2.select(col("doc_id").as("doc_a"), col("sh").as("sa")),
            Seq("doc_a"))
      .join(sh2.select(col("doc_id").as("doc_b"), col("sh").as("sb")),
            Seq("doc_b"))
      .where(round(jac, 4) >= 0.6)
      .select(col("doc_a"), col("doc_b"))
    // label frame checkpointed once: p3 AND the census aux both read it
    // (re-deriving it re-ran the CC fixpoint's tail for nClusters)
    val comp = Graph.connectedComponents(edges, "doc_a", "doc_b")
      .localCheckpoint()
    val p3 = p2
      .join(comp, col("doc_id") === col("node"), "left")
      .where(coalesce(col("component"), col("doc_id")) === col("doc_id"))
      .select("doc_id").localCheckpoint()
    val nClusters = comp.agg(countDistinct(col("component")).as("aux"))

    // stage 4: substring dedup — post-removal token accounting from here
    val spost = TextSim.substringDedupPerDoc(
        tk.join(p3, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("lang"), col("text")), 8)
      .select(col("doc_id"), col("lang"), col("n_spans"),
              col("n_toks"), (col("n_toks") - col("n_rm")).as("post"))
      .localCheckpoint()

    // stage 5: classifier gate — corpus-trained weights, median cut
    val w = lrWeightsFor(s, d)
    val micro = lrScores(lrFeatures(
        tk.join(p3, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("lang"), col("text"))), w)
      .select(col("doc_id"), round(col("s") * 1e6, 0).cast("long")
        .as("micro"))
      // materialized ONCE: the median cut and the gate filter must read
      // the SAME bytes — re-evaluating the scoring join in the broadcast
      // subtree is what the checkpoint forbids
      .localCheckpoint()
    val cut = micro.agg(
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY micro)").as("c"))
    val p5 = micro.crossJoin(broadcast(cut))
      .where(col("micro") > col("c")).select("doc_id").localCheckpoint()

    // stage 6: temperature mix (α = 0.5, T = half the survivors) —
    // needs only ids + lang, so it reads the slim spine
    val tc = tkSlim.join(p5, Seq("doc_id"), "left_semi")
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val tt = broadcast(tc.agg(sum(pow(col("n"), 0.5)).as("sw"),
                              sum(col("n")).as("nt")))
    val tq = tc.crossJoin(tt).select(col("lang"), col("n"),
      least(col("n"), floor(expr("nt DIV 2") * pow(col("n"), 0.5)
        / col("sw") + 0.5).cast("long")).as("quota"))
    val hashed = tkSlim.join(p5, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"))
      .withColumn("h", md5(concat(lit("tmix:"), col("doc_id")
        .cast("string"))))
    val p6 = Windows.densePos(hashed, Seq("lang"),
        Windows.hexBucket(col("h")), Seq(col("h"), col("doc_id")), "rk")
      .join(broadcast(tq), "lang")
      .where(col("rk") <= col("quota")).select("doc_id").localCheckpoint()

    // stage 7: DSIR curriculum phases × shards × batches → FFD bins
    val dw = dsirWeights(s, tk.join(p6, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("lang"), col("text")))
      .select(col("doc_id"), col("logw_nano"))
    val cuts = dw.agg(
      expr("percentile_disc(0.3333) WITHIN GROUP (ORDER BY logw_nano)")
        .as("t1"),
      expr("percentile_disc(0.6667) WITHIN GROUP (ORDER BY logw_nano)")
        .as("t2"))
    val phased = dw.crossJoin(broadcast(cuts))
      .select(col("doc_id"),
        when(col("logw_nano") <= col("t1"), "p1_general")
          .when(col("logw_nano") <= col("t2"), "p2_mixed")
          .otherwise("p3_target").as("phase"),
        conv(substring(md5(concat(lit("shard:"),
          col("doc_id").cast("string"))), 1, 1), 16, 10).cast("int")
          .as("shard"),
        md5(concat(lit("order:"), col("doc_id").cast("string"))).as("ord"))
      .join(spost.select(col("doc_id"),
        least(col("post"), lit(FfdCap)).as("len")), "doc_id")
    val items = Windows.densePos(phased, Seq("phase", "shard"),
        Windows.hexBucket(col("ord")), Seq(col("ord"), col("doc_id")),
        "pos")
      .withColumn("batch", expr(s"(pos - 1) div $FfdBatch"))
      .observe(packObs,
        count(lit(1)).as("pack_docs"),
        sum(col("len")).as("pack_toks"))
    val folded = items.groupBy(col("phase"), col("shard"), col("batch"))
      .agg(sort_array(collect_list(struct((-col("len")).as("nl"),
             col("doc_id").as("id")))).as("its"),
           count(lit(1)).as("n_docs"), sum(col("len")).as("len_sum"))
      .withColumn("loads", ffdLoads(col("its")))

    // census: one row per stage, conservation pinned by the shared chain
    def stageRow(no: Int, name: String, docs: DataFrame,
                 aux: DataFrame): DataFrame =
      docs.agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_toks"))
        .crossJoin(broadcast(aux))
        .select(lit(name).as("stage"), col("n_docs"), col("n_toks"),
                col("aux").cast("long").as("aux"))
    val tkAll = tkSlim.select(col("doc_id"), col("n_toks").as("t"))
    def through(p: DataFrame) = tkAll.join(p, Seq("doc_id"), "left_semi")
    val postAll = spost.select(col("doc_id"), col("post").as("t"))
    val s0 = stageRow(0, "0_ingest", tkAll,
      tkSlim.agg(sum(when(col("doc_id") >= 1000000L, 1L).otherwise(0L))
        .as("aux")))
    val s1 = stageRow(1, "1_gopher", through(p1),
      tkSlim.crossJoin(broadcast(p1.agg(count(lit(1)).as("pn"))))
        .agg((count(lit(1)) - first(col("pn"))).as("aux")))
    val s2 = stageRow(2, "2_exact", through(p2),
      ex.agg(sum(when(col("grp_n") >= 2, 1L).otherwise(0L)).as("aux")))
    val s3 = stageRow(3, "3_neardup", through(p3), nClusters)
    val s4 = stageRow(4, "4_substring", postAll,
      spost.agg(sum(col("n_spans")).as("aux")))
    val s5 = stageRow(5, "5_classifier",
      postAll.join(p5, Seq("doc_id"), "left_semi"),
      cut.select(col("c").as("aux")))
    val s6 = stageRow(6, "6_tempmix",
      postAll.join(p6, Seq("doc_id"), "left_semi"),
      tq.agg(sum(col("quota")).as("aux")))
    val s7 = folded.agg(sum(col("n_docs")).as("n_docs"),
        sum(col("len_sum")).as("n_toks"),
        sum(size(col("loads")).cast("long")).as("aux"))
      .select(lit("7_pack").as("stage"), col("n_docs"), col("n_toks"),
              col("aux"))
    (s0.unionAll(s1).unionAll(s2).unionAll(s3).unionAll(s4)
      .unionAll(s5).unionAll(s6).unionAll(s7)
      .orderBy(col("stage")), packObs)
  }

  val q319Sql: String = {
    val toksE = tokensSql
    // MinHash K=8/B=4 on the stage-3 survivor shingles (the
    // TextSim.minhashPairCtes shape, specialized and prefixed `f`)
    val digestCols = (0 to 1).map(m =>
      s"list_transform(sh, x -> md5('$m:' || x)) AS h$m").mkString(",\n    ")
    val sigCols = (0 until FunnelK).map { j =>
      val off = (j % 4) * 8 + 1
      s"list_aggregate(list_transform(h${j / 4}, h -> substring(h, $off, 8)), 'min') AS sig$j"
    }.mkString(",\n    ")
    val bandCols = (0 until FunnelB).map { i =>
      val cat = (0 until 2).map(j => s"sig${2 * i + j}").mkString(" || ")
      s"md5($cat) AS band$i"
    }.mkString(",\n    ")
    val bandArray = (0 until FunnelB).map(i => s"band$i")
      .mkString("[", ", ", "]")
    s"""WITH RECURSIVE c0 AS MATERIALIZED (
       |  SELECT doc_id, lang, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 2000000, lang, text FROM documents
       |  WHERE doc_id % 7 = 0
       |  UNION ALL
       |  SELECT doc_id + 1000000, lang, text || ' zz xtra7 tail'
       |  FROM documents WHERE doc_id % 9 = 0),
       |tk AS MATERIALIZED (
       |  SELECT doc_id, lang, text, $toksE AS toks,
       |    CAST(len($toksE) AS BIGINT) AS n_toks
       |  FROM c0),
       |gsig AS (
       |  SELECT doc_id, n_toks AS n_words,
       |    CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
       |      AS BIGINT) AS sum_len,
       |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
       |      AS BIGINT) AS n_alpha,
       |    CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a'))
       |      AS BIGINT) AS n_stop,
       |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
       |      AS n_hash
       |  FROM tk),
       |p1 AS MATERIALIZED (
       |  SELECT doc_id FROM gsig
       |  WHERE NOT (n_words < 50 OR n_words > 100000)
       |    AND NOT (sum_len < 3 * n_words OR sum_len > 10 * n_words)
       |    AND NOT (10 * n_hash > n_words)
       |    AND NOT (5 * n_alpha < 4 * n_words)
       |    AND NOT (n_stop < 2)),
       |ex AS MATERIALIZED (
       |  SELECT sha256(text) AS h, min(doc_id) AS doc_id,
       |    count(*) AS grp_n
       |  FROM tk JOIN p1 USING (doc_id) GROUP BY 1),
       |p2 AS MATERIALIZED (SELECT doc_id FROM ex),
       |sh2 AS MATERIALIZED (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) >= 3 THEN
       |      list_distinct(list_transform(generate_series(1, len(toks) - 2),
       |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
       |    ELSE [] END AS sh
       |  FROM tk JOIN p2 USING (doc_id)),
       |fhashed AS (
       |  SELECT doc_id, sh,
       |    $digestCols
       |  FROM sh2),
       |fsigs AS (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM fhashed),
       |fbandkeys AS (
       |  SELECT doc_id,
       |    $bandCols
       |  FROM fsigs),
       |fbands AS (
       |  SELECT doc_id, u.b AS band_id, $bandArray[u.b + 1] AS band_key
       |  FROM fbandkeys CROSS JOIN (SELECT unnest([0,1,2,3]) AS b) u),
       |fpairs AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |    FROM fbands x JOIN fbands y
       |      ON x.band_id = y.band_id AND x.band_key = y.band_key
       |     AND x.doc_id < y.doc_id) c
       |  JOIN sh2 sa ON sa.doc_id = c.doc_a
       |  JOIN sh2 sb ON sb.doc_id = c.doc_b
       |  WHERE round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |    / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))),
       |    4) >= 0.6),
       |fb AS (SELECT doc_a AS u, doc_b AS v FROM fpairs
       |       UNION SELECT doc_b, doc_a FROM fpairs),
       |fr AS (
       |  SELECT u AS node, u AS lab FROM fb
       |  UNION
       |  SELECT b.v AS node, r.lab FROM fr r JOIN fb b ON b.u = r.node),
       |fc AS (SELECT node, min(lab) AS component FROM fr GROUP BY node),
       |p3 AS MATERIALIZED (
       |  SELECT p2.doc_id FROM p2 LEFT JOIN fc ON p2.doc_id = fc.node
       |  WHERE coalesce(component, doc_id) = doc_id),
       |sbt AS MATERIALIZED (
       |  SELECT tk.doc_id, tk.toks FROM tk JOIN p3 USING (doc_id)),
       |sbgrams AS MATERIALIZED (
       |  SELECT doc_id, i AS pos,
       |    md5(array_to_string(toks[(i+1):(i+8)], ' ')) AS h
       |  FROM sbt, unnest(range(0, len(toks)-8+1)) u(i)
       |  WHERE len(toks) >= 8),
       |sbdup AS (SELECT h FROM sbgrams GROUP BY h
       |          HAVING count(DISTINCT doc_id) >= 2),
       |sbcov AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, u.p
       |  FROM sbgrams JOIN sbdup USING (h), unnest(range(pos, pos+8)) u(p)),
       |sbisl AS (
       |  SELECT doc_id, p, sum(newisl) OVER (PARTITION BY doc_id ORDER BY p
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
       |  FROM (SELECT doc_id, p,
       |          CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)
       |               > 1 THEN 1 ELSE 0 END AS newisl
       |        FROM sbcov)),
       |sbspans AS (SELECT doc_id, isl, min(p) AS s, max(p) AS e
       |            FROM sbisl GROUP BY doc_id, isl),
       |sbper AS (SELECT doc_id, count(*) AS n_spans,
       |            CAST(sum(e - s + 1) AS BIGINT) AS n_rm
       |          FROM sbspans GROUP BY doc_id),
       |spost AS MATERIALIZED (
       |  SELECT sbt.doc_id, CAST(len(sbt.toks) AS BIGINT) AS n_toks,
       |    coalesce(pi.n_spans, 0) AS n_spans,
       |    CAST(len(sbt.toks) - coalesce(pi.n_rm, 0) AS BIGINT) AS post
       |  FROM sbt LEFT JOIN sbper pi USING (doc_id)),
       |$lrOracleCtes,
       |pfeat AS MATERIALIZED (
       |  SELECT doc_id, j, CAST(cnt AS DOUBLE) / n AS x FROM (
       |    SELECT doc_id, n,
       |      CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % $LrBuckets
       |        AS j,
       |      count(*) AS cnt
       |    FROM (SELECT tk.doc_id, len(toks) AS n, unnest(toks) AS tok
       |          FROM tk JOIN p3 USING (doc_id))
       |    GROUP BY doc_id, n, j)
       |  UNION ALL
       |  SELECT doc_id, -1, 1.0 FROM p3),
       |micro AS MATERIALIZED (
       |  SELECT f.doc_id,
       |    CAST(round(1/(1 + exp(-sum(f.x * w.w))) * 1e6, 0) AS BIGINT)
       |      AS micro
       |  FROM pfeat f JOIN w$LrEpochs w ON f.j = w.j
       |  GROUP BY f.doc_id),
       |mcut AS (SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY micro)
       |           AS c FROM micro),
       |p5 AS MATERIALIZED (
       |  SELECT doc_id FROM micro, mcut WHERE micro > c),
       |tmc AS (SELECT lang, count(*) AS n FROM tk JOIN p5 USING (doc_id)
       |        GROUP BY lang),
       |tmt AS (SELECT sum(pow(n, 0.5)) AS sw, sum(n) AS nt FROM tmc),
       |tmq AS (SELECT lang, n,
       |          least(n, CAST(floor((nt // 2) * pow(n, 0.5) / sw + 0.5)
       |                        AS BIGINT)) AS quota
       |        FROM tmc, tmt),
       |tmrk AS (SELECT lang, doc_id,
       |           row_number() OVER (PARTITION BY lang
       |             ORDER BY md5('tmix:' || CAST(doc_id AS VARCHAR)),
       |               doc_id) AS rk
       |         FROM tk JOIN p5 USING (doc_id)),
       |p6 AS MATERIALIZED (
       |  SELECT doc_id FROM tmrk JOIN tmq USING (lang) WHERE rk <= quota),
       |dpd AS MATERIALIZED (
       |  SELECT doc_id, lang,
       |    CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 64 AS j,
       |    count(*) AS c
       |  FROM (SELECT tk.doc_id, tk.lang, unnest(toks) AS tok
       |        FROM tk JOIN p6 USING (doc_id))
       |  GROUP BY 1, 2, 3),
       |ddist AS (
       |  SELECT u.j, coalesce(r.rc, 0) AS rc, coalesce(t.tc, 0) AS tc
       |  FROM unnest(range(0, 64)) u(j)
       |  LEFT JOIN (SELECT j, sum(c) AS rc FROM dpd GROUP BY j) r
       |    ON u.j = r.j
       |  LEFT JOIN (SELECT j, sum(c) AS tc FROM dpd WHERE lang = 'en'
       |             GROUP BY j) t
       |    ON u.j = t.j),
       |dtot AS (SELECT sum(rc) AS rtot, sum(tc) AS ttot FROM ddist),
       |dlr AS MATERIALIZED (
       |  SELECT j, CAST(round(round(
       |      ln((tc + 1.0) / (ttot + 64)) - ln((rc + 1.0) / (rtot + 64)),
       |      9) * 1e9, 0) AS BIGINT) AS lrn
       |  FROM ddist, dtot),
       |dwd AS MATERIALIZED (
       |  SELECT dpd.doc_id, CAST(sum(dpd.c * dlr.lrn) AS BIGINT)
       |    AS logw_nano
       |  FROM dpd JOIN dlr ON dpd.j = dlr.j
       |  GROUP BY dpd.doc_id),
       |dcuts AS (
       |  SELECT percentile_disc(0.3333) WITHIN GROUP (ORDER BY logw_nano)
       |           AS t1,
       |         percentile_disc(0.6667) WITHIN GROUP (ORDER BY logw_nano)
       |           AS t2
       |  FROM dwd),
       |fitems AS MATERIALIZED (
       |  SELECT phase, shard, (pos - 1) // $FfdBatch AS batch, len, doc_id,
       |    row_number() OVER (PARTITION BY phase, shard,
       |                       (pos - 1) // $FfdBatch
       |                       ORDER BY len DESC, doc_id) AS r
       |  FROM (
       |    SELECT phase, shard, len, doc_id,
       |      row_number() OVER (PARTITION BY phase, shard
       |        ORDER BY ord, doc_id) AS pos
       |    FROM (
       |      SELECT w.doc_id,
       |        CASE WHEN logw_nano <= t1 THEN 'p1_general'
       |             WHEN logw_nano <= t2 THEN 'p2_mixed'
       |             ELSE 'p3_target' END AS phase,
       |        CAST(CAST('0x' || substr(md5('shard:'
       |          || CAST(w.doc_id AS VARCHAR)), 1, 1) AS BIGINT) AS INT)
       |          AS shard,
       |        md5('order:' || CAST(w.doc_id AS VARCHAR)) AS ord,
       |        least(sp.post, $FfdCap) AS len
       |      FROM dwd w, dcuts
       |      JOIN spost sp ON w.doc_id = sp.doc_id))),
       |fbsz AS MATERIALIZED (
       |  SELECT phase, shard, batch, max(r) AS n,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len) AS BIGINT) AS len_sum
       |  FROM fitems GROUP BY 1, 2, 3),
       |ffold AS (
       |  SELECT phase, shard, batch, 0 AS r, CAST([] AS BIGINT[]) AS loads
       |  FROM fbsz
       |  UNION ALL
       |  SELECT f.phase, f.shard, f.batch, f.r + 1,
       |    CASE WHEN q.p = 0 THEN list_append(f.loads, i.len)
       |         ELSE f.loads[1:CAST(q.p AS INT) - 1]
       |              || [f.loads[CAST(q.p AS INT)] + i.len]
       |              || f.loads[CAST(q.p AS INT) + 1:]
       |    END AS loads
       |  FROM ffold f
       |  JOIN fitems i ON i.phase = f.phase AND i.shard = f.shard
       |    AND i.batch = f.batch AND i.r = f.r + 1,
       |  LATERAL (SELECT coalesce(list_position(
       |      list_transform(f.loads, l -> l + i.len <= $FfdCap), true), 0)
       |    AS p) q),
       |fpacked AS (
       |  SELECT f.phase, f.shard, f.batch, f.loads, b.n_docs, b.len_sum
       |  FROM ffold f JOIN fbsz b
       |    ON f.phase = b.phase AND f.shard = b.shard
       |   AND f.batch = b.batch AND f.r = b.n)
       |SELECT '0_ingest' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_toks) AS BIGINT) AS n_toks,
       |  CAST(sum(CASE WHEN doc_id >= 1000000 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS aux
       |FROM tk
       |UNION ALL
       |SELECT '1_gopher', count(*), CAST(sum(n_toks) AS BIGINT),
       |  (SELECT count(*) FROM tk) - count(*)
       |FROM tk JOIN p1 USING (doc_id)
       |UNION ALL
       |SELECT '2_exact', count(*), CAST(sum(n_toks) AS BIGINT),
       |  (SELECT CAST(sum(CASE WHEN grp_n >= 2 THEN 1 ELSE 0 END)
       |     AS BIGINT) FROM ex)
       |FROM tk JOIN p2 USING (doc_id)
       |UNION ALL
       |SELECT '3_neardup', count(*), CAST(sum(n_toks) AS BIGINT),
       |  (SELECT CAST(count(DISTINCT component) AS BIGINT) FROM fc)
       |FROM tk JOIN p3 USING (doc_id)
       |UNION ALL
       |SELECT '4_substring', count(*), CAST(sum(post) AS BIGINT),
       |  CAST(sum(n_spans) AS BIGINT)
       |FROM spost
       |UNION ALL
       |SELECT '5_classifier', count(*), CAST(sum(post) AS BIGINT),
       |  (SELECT c FROM mcut)
       |FROM spost JOIN p5 USING (doc_id)
       |UNION ALL
       |SELECT '6_tempmix', count(*), CAST(sum(post) AS BIGINT),
       |  (SELECT CAST(sum(quota) AS BIGINT) FROM tmq)
       |FROM spost JOIN p6 USING (doc_id)
       |UNION ALL
       |SELECT '7_pack', CAST(sum(n_docs) AS BIGINT),
       |  CAST(sum(len_sum) AS BIGINT),
       |  CAST(sum(len(loads)) AS BIGINT)
       |FROM fpacked
       |ORDER BY stage""".stripMargin
  }

  // ─── q321: gazetteer blocklist census — native Aho–Corasick (#12) ─────
  // The standard CC-pipeline gating stage the regex scrub (q73) and
  // per-source gates (q218/q232) could not express: match a DICTIONARY
  // of terms (URL blocklist, PII gazetteer) against every document in
  // ONE linear pass — graft.expr.AcCountExpr, Aho & Corasick 1975.
  // The dictionary is chosen to exercise the automaton's hard parts:
  // `an` is EMBEDDED in `scan` (nested outputs via the fail-link
  // closure — one position reports both), `merge batch` crosses a word
  // boundary (substring semantics, not token semantics), and
  // `zz secret7` is the planted PII term (doc_id % 23 gets two copies,
  // so per-term occurrence totals separate docs-hit from hits). The
  // DuckDB twin counts occurrences POSITIONALLY (every start offset
  // compared — overlapping matches included), which is exactly the AC
  // count, so the oracle pins all-substring-occurrence semantics, not
  // a replace()-style non-overlapping approximation.
  //
  // Scale: per doc the scan is O(|text|) whatever the dictionary size;
  // the shuffle carries (lang, term, count) — fixed width. The
  // automaton builds once per (task thread, dictionary literal).
  private val AcDict = Seq("an", "scan", "table", "merge batch",
    "zz secret7")

  def q321GazetteerCensus(s: SparkSession, d: String): DataFrame = {
    val dict = array(AcDict.map(lit): _*)
    documents(s, d)
      .select(col("doc_id"), col("lang"),
        concat(col("text"), when(pmod(col("doc_id"), lit(23)) === 0,
          lit(" zz secret7 zz secret7")).otherwise(lit(""))).as("t"))
      .select(col("doc_id"), col("lang"),
        posexplode(graft.expr.AcFunctions.ac_count(col("t"), dict)))
      .select(col("lang"), element_at(dict, col("pos") + 1).as("term"),
              col("col").as("occ"))
      .groupBy(col("lang"), col("term"))
      .agg(sum(when(col("occ") > 0, 1L).otherwise(0L)).as("n_docs_hit"),
           sum(col("occ")).as("n_occurrences"))
      .orderBy(col("lang"), col("term"))
  }

  val q321Sql: String = {
    val vals = AcDict.map(t => s"('$t')").mkString(", ")
    s"""WITH planted AS (
       |  SELECT doc_id, lang,
       |    text || CASE WHEN doc_id % 23 = 0
       |                 THEN ' zz secret7 zz secret7' ELSE '' END AS t
       |  FROM documents),
       |terms(term) AS (VALUES $vals),
       |occ AS (
       |  SELECT p.lang, v.term,
       |    len(list_filter(range(1, length(p.t) - length(v.term) + 2),
       |      i -> substring(p.t, CAST(i AS INT),
       |                     CAST(length(v.term) AS INT)) = v.term))
       |      AS occ
       |  FROM planted p CROSS JOIN terms v)
       |SELECT lang, term,
       |  CAST(sum(CASE WHEN occ > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_docs_hit,
       |  CAST(sum(occ) AS BIGINT) AS n_occurrences
       |FROM occ
       |GROUP BY lang, term
       |ORDER BY lang, term""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q321_gazetteer_census" -> (q321GazetteerCensus _),
    "q319_pretrain_funnel" -> (q319PretrainFunnel _),
    "q297_naive_bayes" -> (q297NaiveBayes _),
    "q303_dataset_cartography" -> (q303DatasetCartography _),
    "q308_vocabulary_richness" -> (q308VocabularyRichness _),
    "q313_dedup_ablation" -> (q313DedupAblation _),
    "q314_feature_hash_audit" -> (q314FeatureHashAudit _),
    "q255_lpt_balance" -> (q255LptBalance _),
    "q256_ranking_quality" -> (q256RankingQuality _),
    "q257_pr_sweep" -> (q257PrSweep _),
    "q248_bm25_topk" -> (q248Bm25TopK _),
    "q249_removal_attribution" -> (q249RemovalAttribution _),
    "q250_auc_census" -> (q250AucCensus _),
    "q243_ffd_packing" -> (q243FfdPacking _),
    "q244_calibration_census" -> (q244CalibrationCensus _),
    "q241_length_buckets" -> (q241LengthBuckets _),
    "q230_gopher_rules" -> (q230GopherRules _),
    "q231_ccnet_buckets" -> (q231CcnetBuckets _),
    "q260_kneser_ney" -> (q260KneserNey _),
    "q264_conformal_gate" -> (q264ConformalGate _),
    "q268_feature_attribution" -> (q268FeatureAttribution _),
    "q272_js_drift" -> (q272JsDrift _),
    "q273_memorization_audit" -> (q273MemorizationAudit _),
    "q274_zipf_fit" -> (q274ZipfFit _),
    "q281_disparate_impact" -> (q281DisparateImpact _),
    "q282_suspect_labels" -> (q282SuspectLabels _),
    "q287_repetition_collapse" -> (q287RepetitionCollapse _),
    "q290_quota_apportion" -> (q290QuotaApportion _),
    "q293_isotonic_calibration" -> (q293IsotonicCalibration _),
    "q232_domain_caps" -> (q232DomainCaps _),
    "q235_kfold" -> (q235KFold _),
    "q226_curriculum_plan" -> (q226CurriculumPlan _),
    "q221_shard_writer" -> (q221ShardWriter _),
    "q216_dsir_select" -> (q216DsirSelect _),
    "q218_source_gate" -> (q218SourceGate _),
    "q211_temperature_mix" -> (q211TemperatureMix _),
    "q209_quality_classifier" -> (q209QualityClassifier _),
    "q228_softmax_langid" -> (q228SoftmaxLangId _),
    "q194_negative_sampling" -> (q194NegativeSampling _),
    "q195_class_balance"    -> (q195ClassBalance _),
    "q91_domain_mix"        -> (q91DomainMix _),
    "q90_pipeline_funnel"   -> (q90PipelineFunnel _),
    "q72_hash_split"        -> (q72HashSplit _),
    "q73_pii_scrub"         -> (q73PiiScrub _),
    "q74_tfidf"             -> (q74Tfidf _),
    "q75_chunking"          -> (q75Chunk _),
    "q76_seq_packing"       -> (q76SeqPack _),
    "q81_stratified_sample" -> (q81StratifiedSample _),
    "q82_length_clip"       -> (q82LengthClip _),
    "q99_sketch_clip"       -> (q99SketchClip _),
    "q102_weighted_sample"  -> (q102WeightedSample _),
    "q83_unigram_score"     -> (q83UnigramScore _),
    "q153_bigram_score"     -> (q153BigramScore _),
    "q154_token_budget_mix" -> (q154TokenBudgetMix _),
    "q84_decontaminate"     -> (q84Decontaminate _))

  val oracleSql: Map[String, String] = Map(
    "q321_gazetteer_census" -> q321Sql,
    "q319_pretrain_funnel" -> q319Sql,
    "q297_naive_bayes" -> q297Sql,
    "q303_dataset_cartography" -> q303Sql,
    "q308_vocabulary_richness" -> q308Sql,
    "q313_dedup_ablation" -> q313Sql,
    "q314_feature_hash_audit" -> q314Sql,
    "q255_lpt_balance" -> q255Sql,
    "q256_ranking_quality" -> q256Sql,
    "q257_pr_sweep" -> q257Sql,
    "q248_bm25_topk" -> q248Sql,
    "q249_removal_attribution" -> q249Sql,
    "q250_auc_census" -> q250Sql,
    "q243_ffd_packing" -> q243Sql,
    "q244_calibration_census" -> q244Sql,
    "q241_length_buckets" -> q241Sql,
    "q230_gopher_rules" -> q230Sql,
    "q231_ccnet_buckets" -> q231Sql,
    "q260_kneser_ney" -> q260Sql,
    "q264_conformal_gate" -> q264Sql,
    "q268_feature_attribution" -> q268Sql,
    "q272_js_drift" -> q272Sql,
    "q273_memorization_audit" -> q273Sql,
    "q274_zipf_fit" -> q274Sql,
    "q281_disparate_impact" -> q281Sql,
    "q282_suspect_labels" -> q282Sql,
    "q287_repetition_collapse" -> q287Sql,
    "q290_quota_apportion" -> q290Sql,
    "q293_isotonic_calibration" -> q293Sql,
    "q232_domain_caps" -> q232Sql,
    "q235_kfold" -> q235Sql,
    "q226_curriculum_plan" -> q226Sql,
    "q221_shard_writer" -> q221Sql,
    "q216_dsir_select" -> q216Sql,
    "q218_source_gate" -> q218Sql,
    "q211_temperature_mix" -> q211Sql,
    "q209_quality_classifier" -> q209Sql,
    "q228_softmax_langid" -> q228Sql,
    "q194_negative_sampling" -> q194Sql,
    "q195_class_balance"    -> q195Sql,
    "q91_domain_mix"        -> q91Sql,
    "q90_pipeline_funnel"   -> q90Sql,
    "q72_hash_split"        -> q72Sql,
    "q73_pii_scrub"         -> q73Sql,
    "q74_tfidf"             -> q74Sql,
    "q75_chunking"          -> q75Sql,
    "q76_seq_packing"       -> q76Sql,
    "q81_stratified_sample" -> q81Sql,
    "q82_length_clip"       -> q82Sql,
    "q99_sketch_clip"       -> q99Sql,
    "q102_weighted_sample"  -> q102Sql,
    "q83_unigram_score"     -> q83Sql,
    "q153_bigram_score"     -> q153Sql,
    "q154_token_budget_mix" -> q154Sql,
    "q84_decontaminate"     -> q84Sql)
}

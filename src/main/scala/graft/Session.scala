package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.bridge

/** The session layer: the one local-session builder every main and the
  * test suites share, and the one session-scoped memo registry.
  *
  * Some intermediates are shared across queries by design: k-means
  * codebooks (q206/q207, q212/q213), the NN-descent graphs (q317/q322,
  * the member-restricted q334/q340/q342 retrains), the CC label frame
  * (q71/q90/q198/q199), the LR weights and scored corpus (q209/q244/
  * q250/…), and the on-disk fixtures of q328/q329, the layout census and
  * q343/q344. Each is built once per (session, key) and reused until
  * [[clear]]. Harnesses that time passes (Bench, ScaleSoak) call
  * [[clear]] at every pass boundary, so each pass prices every shared
  * build exactly once, by whichever query reaches it first; ActionAudit
  * bounds stay worst-case-fresh-session, since a hit only ever lowers a
  * query's count.
  *
  * The registry launches no Spark action: each caller takes its own
  * `localCheckpoint` (or writes its own fixture) inside `build`, so a
  * build's jobs keep their call site in the module that owns them.
  */
object Session {

  /** A local session on `cpus` cores (default `SPARK_GRAFT_CPUS`, else
    * 32) with as many shuffle partitions, UTC session time, no UI, and
    * WARN logging. `getOrCreate`, so a JVM that already has a session
    * gets that one back.
    */
  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Keyed by (session UUID, caller key). The UUID is unique per
    * session, unlike an identity hash; weak keys would not help, since
    * every memoized DataFrame holds its session strongly.
    */
  private val memos =
    scala.collection.concurrent.TrieMap.empty[(String, Any), Any]

  /** The value memoized under `key` for session `s`, built on the first
    * lookup. `key` carries everything the value depends on besides the
    * session (the data dir, the model parameters, a predicate's rendered
    * form) and leads with a tag naming its memo, so two callers share an
    * entry only when they ask for the same thing. A build may look up
    * other memos (TrieMap evaluates `build` outside any lock); two
    * threads that race on one key may both build, and the first insert
    * wins.
    */
  def memo[A](s: SparkSession, key: Product)(build: => A): A =
    memos.getOrElseUpdate((bridge.sessionUUID(s), key), build)
      .asInstanceOf[A]

  /** Unpersist the checkpointed RDDs under every memoized DataFrame, then
    * drop every entry. Launches no job; fixtures on disk stay where they
    * are (each fixture build deletes its dir before it rebuilds).
    */
  def clear(): Unit = {
    memos.values.foreach {
      case ds: Dataset[_] => ds.queryExecution.logical.foreach {
        case r: LogicalRDD => r.rdd.unpersist(blocking = false)
        case _ => ()
      }
      case _ => ()
    }
    memos.clear()
  }
}

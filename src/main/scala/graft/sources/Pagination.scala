package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import java.nio.charset.StandardCharsets.UTF_8

/** O1 + O16–O18: the reference's paginated REST source, modeled without
  * sockets.
  *
  * The reference drives everything from a cursor loop — GET a page, parse
  * `{results: [...], next: url|null}`, follow `next` until null
  * (course_catalog.py:178–224; user_course_activity.py:129–162) — with a
  * classified retry policy (524/503/429/malformed-JSON → sleep-and-retry,
  * other HTTP → abort or raise; course_catalog.py:188–201,
  * user_course_activity.py:165–178), a modulo rate limiter (sleep 300 s per
  * 1 000 records, 1 800 s per 10 000; course_catalog.py:216–221,
  * README.md:130–133) and a monotonic progress counter (O18).
  *
  * This environment has no network, and the semantics are driver-side
  * anyway (pagination is inherently serial on the cursor), so the fetcher
  * is an injected function — production would pass an HTTP client, tests
  * pass fixtures. The page payloads then enter Spark as one JSON string per
  * record via [[toDF]]; everything downstream is the Normalize fan-out.
  * Where the remote API supports computable page offsets, fetch ranges can
  * instead be partitioned across executors (DataSource V2); the cursor
  * protocol here cannot, which is why the loop stays on the driver.
  */
object Pagination {

  /** One API page: record bodies + the next-page cursor (null = done). */
  final case class Page(results: Seq[String], next: Option[String])

  sealed trait Failure
  object Failure {
    final case class Http(code: Int) extends Failure
    /** body arrived but did not parse (reference: json.JSONDecodeError). */
    case object MalformedBody extends Failure
  }

  sealed trait Decision
  object Decision {
    final case class RetryAfter(seconds: Int) extends Decision
    /** stop the run, keep what was ingested (catalog pipeline `break`). */
    case object Abort extends Decision
    /** re-raise (activity pipeline). */
    case object Fail extends Decision
  }

  /** Catalog-pipeline policy (course_catalog.py:188–201): 524 and
    * malformed bodies sleep 1800 s and retry; any other HTTP error aborts
    * the run keeping prior pages.
    */
  val catalogPolicy: Failure => Decision = {
    case Failure.Http(524)     => Decision.RetryAfter(1800)
    case Failure.MalformedBody => Decision.RetryAfter(1800)
    case Failure.Http(_)       => Decision.Abort
  }

  /** Activity-pipeline policy (user_course_activity.py:165–178):
    * 503 → 3600 s, 429 → 1800 s, 524 → 1800 s, malformed → 1800 s,
    * anything else is fatal.
    */
  val activityPolicy: Failure => Decision = {
    case Failure.Http(503)     => Decision.RetryAfter(3600)
    case Failure.Http(429)     => Decision.RetryAfter(1800)
    case Failure.Http(524)     => Decision.RetryAfter(1800)
    case Failure.MalformedBody => Decision.RetryAfter(1800)
    case Failure.Http(_)       => Decision.Fail
  }

  /** O17: sleep 300 s at every 1 000-record boundary, 1 800 s at every
    * 10 000 (the larger wins at a shared boundary — the reference checks
    * the 10 000 modulus first). `sleep` is injected so tests use a fake
    * clock and connector parity keeps the schedule.
    */
  final class RateLimiter(sleep: Int => Unit) {
    private var total = 0L
    private var slept = 0L
    def recordsIngested(n: Int): Unit = {
      var i = 0L
      while (i < n) {
        total += 1
        if (total % 10000 == 0) { sleep(1800); slept += 1800 }
        else if (total % 1000 == 0) { sleep(300); slept += 300 }
        i += 1
      }
    }
    def totalIngested: Long = total
    def sleptSeconds: Long = slept
  }

  /** O18: run-level progress/outcome counters. */
  final case class IngestStats(
    pages: Int, records: Long, retries: Int, sleptSeconds: Long,
    aborted: Boolean)

  final class FatalFetchException(val failure: Failure)
    extends RuntimeException(s"fatal source failure: $failure")

  /** Outcome of one page-level fetch attempt (the micro-batch unit):
    * either the page, or an abort signal, plus the retry/sleep cost it
    * took to get there.
    */
  final case class PageAttempt(page: Option[Page], retries: Int,
                               sleptSeconds: Long, aborted: Boolean)

  /** Fetch ONE page with the policy's classified-retry loop. This is the
    * unit shared by [[fetchAll]] (batch cursor walk) and the streaming
    * source ([[PagedApiSource]], page = micro-batch).
    */
  def fetchOnePage(
      url: String,
      fetch: String => Either[Failure, Page],
      policy: Failure => Decision,
      sleep: Int => Unit = _ => (),
      maxRetriesPerPage: Int = 10): PageAttempt = {
    var retries = 0 // doubles as the max-retries counter
    var slept = 0L
    while (true) {
      fetch(url) match {
        case Right(page) =>
          return PageAttempt(Some(page), retries, slept, aborted = false)
        case Left(failure) =>
          policy(failure) match {
            case Decision.RetryAfter(s) =>
              retries += 1
              if (retries > maxRetriesPerPage) throw new FatalFetchException(failure)
              sleep(s)
              slept += s
            case Decision.Abort =>
              return PageAttempt(None, retries, slept, aborted = true)
            case Decision.Fail =>
              throw new FatalFetchException(failure)
          }
      }
    }
    sys.error("unreachable")
  }

  /** Follow the cursor chain from `startUrl`, applying `policy` to every
    * failure. Returns all record bodies plus stats. `maxRetriesPerPage`
    * bounds a pathological permanent failure (the reference would spin
    * forever); hitting it is fatal.
    */
  def fetchAll(
      startUrl: String,
      fetch: String => Either[Failure, Page],
      policy: Failure => Decision,
      sleep: Int => Unit = _ => (),
      maxRetriesPerPage: Int = 10): (Vector[String], IngestStats) = {
    val limiter = new RateLimiter(sleep)
    val out = Vector.newBuilder[String]
    var url: Option[String] = Some(startUrl)
    var pages = 0
    var retries = 0
    var extraSlept = 0L
    var aborted = false
    while (url.isDefined && !aborted) {
      val attempt = fetchOnePage(url.get, fetch, policy, sleep, maxRetriesPerPage)
      retries += attempt.retries
      extraSlept += attempt.sleptSeconds
      attempt.page match {
        case Some(page) =>
          out ++= page.results
          limiter.recordsIngested(page.results.size)
          pages += 1
          url = page.next
        case None =>
          aborted = true
      }
    }
    val records = limiter.totalIngested
    (out.result(),
      IngestStats(pages, records, retries, limiter.sleptSeconds + extraSlept,
        aborted))
  }

  /** Lift fetched record bodies into a typed DataFrame (the O2 boundary).
    *
    * The frame is sized by the bodies' measured UTF-8 bytes: one
    * partition per `spark.sql.files.maxPartitionBytes` (see
    * [[partitionsFor]]), never more than one per body — the split a
    * file scan of the same bytes would get. A local collection left to
    * Spark is cut into one partition per core whatever its size, and
    * every downstream write then stages that many part files.
    */
  def toDF(spark: SparkSession, bodies: Seq[String], schema: StructType): DataFrame = {
    import spark.implicits._
    val bytes = bodies.iterator.map(_.getBytes(UTF_8).length.toLong).sum
    val n = math.min(partitionsFor(spark, bytes), math.max(1, bodies.size))
    spark.read.schema(schema)
      .json(spark.createDataset(spark.sparkContext.parallelize(bodies, n)))
  }

  /** Partitions for `bytes` of MEASURED data: ceil(bytes /
    * `spark.sql.files.maxPartitionBytes`), at least one. Shared by the
    * ingest frames ([[toDF]], `CatalogPipeline.fanoutManaged`); callers
    * pass bytes they hold or have materialized, never a plan estimate.
    */
  private[graft] def partitionsFor(spark: SparkSession, bytes: Long): Int = {
    val target = spark.sessionState.conf.filesMaxPartitionBytes
    math.min(Int.MaxValue.toLong,
      math.max(1L, (bytes + target - 1) / target)).toInt
  }
}

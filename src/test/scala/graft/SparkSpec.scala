package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites, built by the mains' own
  * [[Session.local]]. `getOrCreate` reuses one JVM-wide session across
  * suites, so the whole run pays one Spark startup.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Session.local(4)

  /** smallest scale factor — tests assert semantics, not throughput. */
  val sfDir = "/root/testdata/sf0.001"
}

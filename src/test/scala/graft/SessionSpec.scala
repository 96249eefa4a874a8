package graft

import graft.ops.{Graph, Similarity}
import org.apache.spark.sql.functions._

/** The session layer: one memo entry per (session, key), no job on a hit,
  * and a clear that gives back every checkpoint the memos held.
  */
class SessionSpec extends SparkSpec {

  /** Jobs launched by `body` on this thread, counted through a local
    * property; a sentinel job flushes the listener bus before counting.
    */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val probe = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("sessionspec")))
          .foreach(seen.add)
    }
    sc.addSparkListener(probe)
    try {
      sc.setLocalProperty("sessionspec", "body")
      try body finally sc.setLocalProperty("sessionspec", "sentinel")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("sessionspec", null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains("sentinel") && System.nanoTime() < deadline)
        Thread.sleep(2)
      assert(seen.contains("sentinel"), "sentinel job never arrived")
      seen.toArray.count(_ == "body")
    } finally sc.removeSparkListener(probe)
  }

  test("a memo builds once per (session, key); a hit runs no job") {
    Session.clear() // an earlier suite may have memoized the labels
    var first: org.apache.spark.sql.DataFrame = null
    assert(jobsIn { first = Graph.dupClusterLabels(spark, sfDir) } > 0,
      "the first lookup builds (an eager localCheckpoint)")
    var again: org.apache.spark.sql.DataFrame = null
    assert(jobsIn { again = Graph.dupClusterLabels(spark, sfDir) } === 0)
    assert(again eq first)

    var builds = 0
    def lookup(s: org.apache.spark.sql.SparkSession, key: String) =
      Session.memo(s, ("sessionspec", key)) { builds += 1; key.length }
    lookup(spark, "a"); lookup(spark, "a"); lookup(spark, "b")
    assert(builds === 2, "one build per key")
    // a new session shares the SparkContext but not the memo entries
    val other = spark.newSession()
    lookup(other, "a"); lookup(other, "a")
    assert(builds === 3, "newSession() gets its own entry")
    var otherLabels: org.apache.spark.sql.DataFrame = null
    assert(jobsIn { otherLabels = Graph.dupClusterLabels(other, sfDir) } > 0)
    assert(otherLabels ne first)
  }

  test("member-restricted NN graphs are keyed by the predicate's rendering") {
    def m10 = pmod(col("vec_id"), lit(10))
    val g7 = Similarity.nnMemberGraphFor(spark, sfDir, m10 =!= 7)
    val g3 = Similarity.nnMemberGraphFor(spark, sfDir, m10 =!= 3)
    assert(g7 ne g3, "different predicates must not share an entry")
    assert(Similarity.nnMemberGraphFor(spark, sfDir, m10 =!= 7) eq g7,
      "the same predicate, rebuilt, must hit")
    def classCount(g: org.apache.spark.sql.DataFrame, c: Int) =
      g.where(pmod(col("u"), lit(10)) === c).count()
    assert(g7.count() > 0 && classCount(g7, 7) === 0)
    assert(classCount(g3, 7) > 0 && classCount(g3, 3) === 0,
      "the class-3 graph keeps class 7 and drops class 3")
  }

  test("clear() unpersists what the memos checkpointed; the next lookup " +
       "builds again") {
    val sc = spark.sparkContext
    Session.clear()
    val before = sc.getPersistentRDDs.keySet
    var builds = 0
    def lookup() = Session.memo(spark, ("sessionspec", "checkpointed")) {
      builds += 1
      spark.range(0, 1000, 1, 2).selectExpr("id", "id * 2 AS v").localCheckpoint()
    }
    val df = lookup()
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "the build's checkpoint is persisted")
    assert(lookup() eq df)
    Session.clear()
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "clear() must unpersist every checkpoint the memo held")
    val rebuilt = lookup()
    assert(builds === 2 && (rebuilt ne df))
    assert(rebuilt.count() === 1000)
    Session.clear()
  }
}

package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Connected-components pins: chains merge transitively, disjoint blobs
  * stay apart, labels are the min doc_id of each component — on BOTH
  * execution paths: the bounded local union-find (default bound) and the
  * distributed min-label loop (bound 0, through the `private[dedup]`
  * entry), plus the path-selection contract itself (over-the-bound sets
  * fall through, the pair source runs once, the local path leaves no pin
  * behind). */
class DedupClustersSpec extends SparkSpec {

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def ccWith(limit: Int)(pairs: (Long, Long)*): Map[Long, Long] = {
    import spark.implicits._
    labelsOf(DedupClusters.connectedComponents(
      pairs.toDF("doc_a", "doc_b"), limit))
  }

  private def cc(pairs: (Long, Long)*): Map[Long, Long] =
    ccWith(DedupClusters.LocalEdgeLimit)(pairs: _*)

  test("two disjoint components resolve to their min ids") {
    val labels = cc((1L, 2L), (2L, 3L), (5L, 6L))
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("a long chain converges transitively (diameter > 1 iteration)") {
    val n = 12L
    val chain = (1L until n).map(i => (i, i + 1))
    val labels = cc(chain: _*)
    assert(labels.size == n)
    assert(labels.values.forall(_ == 1L), s"chain not fully merged: $labels")
  }

  test("edge direction does not matter (doc_b < doc_a)") {
    val labels = cc((7L, 4L), (4L, 9L))
    assert(labels == Map(4L -> 4L, 7L -> 4L, 9L -> 4L))
  }

  test("distributed path (localEdgeLimit=0) matches the local union-find") {
    // adversarial mix: a diameter-5 chain, a dense blob, duplicate and
    // reversed edges, a self-pair
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (11L, 12L), (10L, 12L), (12L, 10L), (20L, 20L),
      (2L, 1L), (30L, 31L))
    val local = cc(edges: _*)
    val dist = ccWith(0)(edges: _*)
    assert(local == dist, s"paths disagree: local=$local dist=$dist")
    assert(local(6L) == 1L && local(12L) == 10L && local(20L) == 20L)
  }

  test("over-the-bound edge sets fall through to the distributed loop") {
    // limit = 2, 4 pair rows: head(3) sees 3 rows > limit -> distributed
    val labels = ccWith(2)((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("local path runs pin-free and with fewer jobs than the loop") {
    import spark.implicits._
    val pairs = (1L to 40L).map(i => (i, i + 1L))
    def countJobs(body: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(): Unit
        }
      }
      spark.sparkContext.addSparkListener(l)
      try { body; org.apache.spark.SpecBus.drain(spark.sparkContext) }
      finally spark.sparkContext.removeSparkListener(l)
      jobs.get()
    }
    val pinsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val localJobs = countJobs {
      DedupClusters.connectedComponents(pairs.toDF("doc_a", "doc_b"))
        .collect(): Unit
    }
    // zero NEW pins: the local path's pair-source pin ends with the call
    // (compared by id: the ContextCleaner may drop an earlier case's
    // unreferenced final generation meanwhile)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- pinsBefore).isEmpty,
      "local CC path left persisted RDDs behind")
    val distJobs = countJobs {
      DedupClusters.connectedComponents(pairs.toDF("doc_a", "doc_b"), 0)
        .collect(): Unit
    }
    // the diameter-40 chain needs many label-propagation iterations, each
    // one job; the local path is a bounded take + a LocalRelation collect
    assert(localJobs < distJobs,
      s"expected the local path to need fewer jobs: local=$localJobs dist=$distJobs")
    assert(localJobs <= 3, s"local CC path ran $localJobs jobs")
  }

  test("distributed loop releases superseded generations (ADVICE r14)") {
    import spark.implicits._
    // diameter ~12 chain: a dozen superseded generations
    val pairs = (1L to 12L).map(i => (i, i + 1L))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    DedupClusters.connectedComponents(pairs.toDF("doc_a", "doc_b"), 0)
      .collect(): Unit
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    // at most the FINAL generation (plus its checkpoint blocks) may
    // remain pinned; superseded generations and the edge frame must not
    assert(after.size <= 2,
      s"distributed CC left ${after.size} persisted RDDs: $after")
  }

  private def nullPairs = {
    import spark.implicits._
    Seq((Some(1L), Some(2L)), (Some(2L), None), (Some(3L), Some(4L)))
      .toDF("doc_a", "doc_b")
  }

  test("local path rejects null pair ids with a require") {
    val e = intercept[IllegalArgumentException] {
      DedupClusters.connectedComponents(nullPairs).collect()
    }
    assert(e.getMessage.contains("null doc_a/doc_b"), e.getMessage)
  }

  test("distributed path rejects null pair ids with a require") {
    val e = intercept[IllegalArgumentException] {
      DedupClusters.connectedComponents(nullPairs, 0).collect()
    }
    assert(e.getMessage.contains("null doc_a/doc_b"), e.getMessage)
  }

  test("a 100-node chain on the distributed path equals the union-find") {
    // diameter 99: past any fixed iteration cap below 100
    val chain = (1L until 100L).map(i => (i, i + 1))
    val dist = ccWith(0)(chain: _*)
    assert(dist == cc(chain: _*))
    assert(dist.size == 100 && dist.values.forall(_ == 1L))
  }

  test("a seeded random graph gives the same labels on both paths") {
    // four disjoint blocks of 250 ids, 500 random edges each
    val rnd = new scala.util.Random(20141103L)
    val edges = Seq.tabulate(2000) { i =>
      val block = (i / 500) * 1000L
      (block + rnd.nextInt(250), block + rnd.nextInt(250))
    }
    val local = cc(edges: _*)
    assert(local.values.toSet.size > 1, "expected several components")
    assert(ccWith(0)(edges: _*) == local)
  }

  test("the pair upstream runs exactly once in both regimes") {
    val rows = 400L
    // each upstream pair row bumps the accumulator once per evaluation
    def runs(limit: Int): Long = {
      val acc = spark.sparkContext.longAccumulator("cc_pair_upstream")
      val tick = udf { (a: Long) => acc.add(1L); a }.asNondeterministic()
      // a star around doc 0: two generations on the distributed path
      val pairs = spark.range(1L, rows + 1L, 1L, 4)
        .select(lit(0L).as("doc_a"), tick(col("id")).as("doc_b"))
      val labels = labelsOf(DedupClusters.connectedComponents(pairs, limit))
      assert(labels.size == rows + 1 && labels.values.forall(_ == 0L))
      acc.value
    }
    assert(runs(DedupClusters.LocalEdgeLimit) == rows, "local regime")
    assert(runs(2) == rows, "over-the-bound regime")
  }
}

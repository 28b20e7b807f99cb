package graft.dedup

import graft.SparkSpec

/** Connected-components pins: chains merge transitively, disjoint blobs
  * stay apart, labels are the min doc_id of each component — on BOTH
  * execution paths (r15): the bounded local union-find (default) and the
  * distributed min-label loop (`graft.cc.localEdgeLimit = 0`), plus the
  * path-selection contract itself (over-the-bound sets fall through, the
  * local path runs job-free and pin-free). */
class DedupClustersSpec extends SparkSpec {

  private def ccWith(limit: String)(pairs: (Long, Long)*): Map[Long, Long] = {
    import spark.implicits._
    val prev = spark.conf.get("graft.cc.localEdgeLimit", "1000000")
    spark.conf.set("graft.cc.localEdgeLimit", limit)
    try DedupClusters.connectedComponents(pairs.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally spark.conf.set("graft.cc.localEdgeLimit", prev)
  }

  private def cc(pairs: (Long, Long)*): Map[Long, Long] =
    ccWith("1000000")(pairs: _*)

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
    val local = ccWith("1000000")(edges: _*)
    val dist = ccWith("0")(edges: _*)
    assert(local == dist, s"paths disagree: local=$local dist=$dist")
    assert(local(6L) == 1L && local(12L) == 10L && local(20L) == 20L)
  }

  test("over-the-bound edge sets fall through to the distributed loop") {
    // limit = 2, 4 pair rows: head(3) sees 3 rows > limit -> distributed
    val labels = ccWith("2")((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
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
      try { body; Thread.sleep(1000) } // listener bus is async
      finally spark.sparkContext.removeSparkListener(l)
      jobs.get()
    }
    val pinsBefore = spark.sparkContext.getPersistentRDDs.size
    val localJobs = countJobs {
      DedupClusters.connectedComponents(pairs.toDF("doc_a", "doc_b"))
        .collect(): Unit
    }
    // zero NEW pins: the local path persists nothing
    assert(spark.sparkContext.getPersistentRDDs.size == pinsBefore,
      "local CC path left persisted RDDs behind")
    val prev = spark.conf.get("graft.cc.localEdgeLimit", "1000000")
    spark.conf.set("graft.cc.localEdgeLimit", "0")
    val distJobs = try countJobs {
      DedupClusters.connectedComponents(pairs.toDF("doc_a", "doc_b"))
        .collect(): Unit
    } finally spark.conf.set("graft.cc.localEdgeLimit", prev)
    // the diameter-40 chain needs many label-propagation iterations, each
    // one job; the local path is a bounded take + a LocalRelation collect
    assert(localJobs < distJobs,
      s"expected the local path to need fewer jobs: local=$localJobs dist=$distJobs")
    assert(localJobs <= 3, s"local CC path ran $localJobs jobs")
  }

  test("distributed loop releases superseded generations (ADVICE r14)") {
    import spark.implicits._
    // diameter ~12 chain: several superseded generations, one 8-iter
    // localCheckpoint cut
    val pairs = (1L to 12L).map(i => (i, i + 1L))
    val prev = spark.conf.get("graft.cc.localEdgeLimit", "1000000")
    spark.conf.set("graft.cc.localEdgeLimit", "0")
    try {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      DedupClusters.connectedComponents(pairs.toDF("doc_a", "doc_b"))
        .collect(): Unit
      val after = spark.sparkContext.getPersistentRDDs.keySet -- before
      // at most the FINAL generation (plus its checkpoint blocks) may
      // remain pinned; superseded generations and the edge frame must not
      assert(after.size <= 2,
        s"distributed CC left ${after.size} persisted RDDs: $after")
    } finally spark.conf.set("graft.cc.localEdgeLimit", prev)
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
    val prev = spark.conf.get("graft.cc.localEdgeLimit", "1000000")
    spark.conf.set("graft.cc.localEdgeLimit", "0")
    try {
      val e = intercept[IllegalArgumentException] {
        DedupClusters.connectedComponents(nullPairs).collect()
      }
      assert(e.getMessage.contains("null doc_a/doc_b"), e.getMessage)
    } finally spark.conf.set("graft.cc.localEdgeLimit", prev)
  }
}

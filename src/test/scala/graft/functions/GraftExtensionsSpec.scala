package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.SparkSpec

class GraftExtensionsSpec extends SparkSpec {

  /** Run `body` on a separate session wired through the extensions entry
    * point (the cluster-deployment path:
    * spark.sql.extensions=graft.functions.GraftExtensions). getOrCreate
    * reuses any active session (ignoring withExtensions), so active/default
    * are cleared first to force a fresh session on the shared context. */
  private def withExtSession(body: SparkSession => Unit): Unit = {
    spark // materialize the shared session/context first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try body(s2)
    finally {
      // keep the shared test session (same JVM) as the active one
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  /** A fresh session (no graft functions yet) given them by `register`. */
  private def registeredSession(): SparkSession = {
    val s = spark.newSession()
    assert(!s.sessionState.functionRegistry.functionExists(
      FunctionIdentifier("graft_dot")))
    GraftFunctions.register(s)
    GraftFunctions.register(s) // idempotent
    s
  }

  /** A BloomFilter holding 7L, as a SQL binary literal. */
  private lazy val bloomLiteral: String = {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100)
    bf.putLong(7L)
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray.map(b => f"$b%02X").mkString("X'", "", "'")
  }

  /** Queries that together call every entry of the function table; each
    * result is deterministic (the sketches stay below their exact-mode
    * size), so both sessions must return the same rows. */
  private lazy val tableQueries: Seq[String] = Seq(
    "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))," +
      " graft_intersect_card(array(1L, 2L, 9L), array(2L, 9L, 11L))," +
      " graft_md5_sig16('a b c'), graft_zorder(3L, 5L)",
    "SELECT graft_cdc_chunks(repeat('lorem ipsum dolor sit amet ', 40))," +
      " graft_winnow_fps(split('a b c d e f g h i j k l m n o p q r s t', ' '))",
    "SELECT graft_bpe_apply(array('a', 'b', 'c'), array('a b'))," +
      " graft_byte_bpe_encode('hi', array('68 69'))",
    "SELECT graft_det_ln_long(5L), graft_det_exp(1.5d), graft_det_ln_ge1(2.5d)",
    s"SELECT graft_bloom_contains(7L, $bloomLiteral)",
    "SELECT graft_kll_quantiles(sk, array(0.5d)), graft_kll_n(sk) FROM" +
      " (SELECT graft_kll_union(b, 200) AS sk FROM" +
      " (SELECT graft_kll_agg(v, 200) AS b FROM VALUES (1.0d), (2.0d), (3.0d) t(v)))",
    "SELECT graft_theta_estimate(graft_theta_intersect2(a, b))," +
      " graft_theta_estimate(graft_theta_anotb(a, b)) FROM" +
      " (SELECT graft_theta_agg(v, 1024) AS a, graft_theta_agg(v + 1, 1024) AS b" +
      " FROM VALUES (1L), (2L), (3L) t(v))",
    "SELECT graft_theta_estimate(graft_theta_union(sk, 1024))," +
      " graft_theta_estimate(graft_theta_intersect(sk, 1024)) FROM" +
      " (SELECT graft_theta_agg(v, 1024) AS sk FROM VALUES ('x'), ('y') t(v) GROUP BY v)",
    "SELECT graft_nfc('e\u0301'), graft_nfkc('\ufb01')")

  test("every table entry resolves alike in a withExtensions and a registered session") {
    val names = GraftFunctions.descriptions.map(_._1.funcName)
    assert(names.size == 24 && names.distinct == names)
    val uncalled = names.filterNot(n => tableQueries.exists(_.contains(s"$n(")))
    assert(uncalled.isEmpty, s"table entries no query calls: $uncalled")
    val viaRegister = {
      val s = registeredSession()
      tableQueries.map(q => s.sql(q).collect().toSeq)
    }
    withExtSession { s2 =>
      tableQueries.zip(viaRegister).foreach { case (q, want) =>
        val got = s2.sql(q).collect().toSeq
        assert(got == want, s"sessions disagree on: $q")
        assert(!got.head.anyNull, s"null result on: $q")
      }
    }
    assert(viaRegister(4).head.getBoolean(0), "bloom filter lost its key")
    assert(viaRegister(5).head.getLong(1) == 3L)
  }

  test("a non-integer literal k is rejected alike by both sessions") {
    def rejection(s: SparkSession, k: String): String = {
      val q = s"SELECT graft_kll_agg(v, $k) FROM VALUES (1.0d), (2.0d) t(v)"
      val e = intercept[Exception](s.sql(q).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).find(m => m != null && m.contains("integer literal"))
        .getOrElse(fail(s"no integer-literal rejection in: $e"))
    }
    val viaRegister = rejection(registeredSession(), "200.5D")
    assert(viaRegister.contains("graft_kll_agg: k must be an integer literal, got 200.5"))
    withExtSession(s2 => assert(rejection(s2, "200.5D") == viaRegister))
    // a BIGINT k outside INT range is rejected, not wrapped (2^32 + 200 → 200)
    assert(rejection(registeredSession(), "4294967496L")
      .contains("k must be an integer literal, got 4294967496"))
  }

  test("withExtensions session resolves graft_dot without manual registration") {
    withExtSession { s2 =>
      val got = s2.sql(
        "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d," +
          " graft_intersect_card(array(1L, 2L, 9L), array(2L, 9L, 11L)) AS c")
        .collect().head
      assert(got.getDouble(0) == 11.0)
      assert(got.getInt(1) == 2)
      // an injected AGGREGATE resolves too (theta family)
      val theta = s2.sql(
        "SELECT CAST(round(graft_theta_estimate(graft_theta_agg(v, 1024)))" +
          " AS BIGINT) AS n FROM VALUES ('x'), ('y'), ('x') t(v)")
        .collect().head
      assert(theta.getLong(0) == 2)
    }
  }

  test("batch session_window agrees with the lag-based sessionization (q26)") {
    GraftFunctions.register(spark)
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    // session_window needs a timestamp; events.ts arrives as nanos LONG
    val ev = graft.analytics.Ops.normalizeEventTs(
      spark.read.parquet(s"$sf/events.parquet"))
      .withColumn("ts_us", timestamp_micros(expr("ts div 1000")))
    val viaSessionWindow = ev
      .groupBy(session_window(col("ts_us"), "30 minutes"), col("user_id"))
      .count()
      .groupBy("user_id").count()
      .withColumnRenamed("count", "n_sessions")
    val viaLag = graft.SparkEntry.queries("q26_sessionize")(spark, sf)
      .select("user_id", "n_sessions")
    val a = viaSessionWindow.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = viaLag.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b, "session_window and lag-based sessionization disagree")
  }
}

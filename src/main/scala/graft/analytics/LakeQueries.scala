package graft.analytics

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.DetMathSql
import graft.operators.{Expectations, Scd2, SkewOps, Snapshots}
import Ops._

/** Lake-operations query catalog: the operator families a production lake
  * runs AROUND the analytics — declarative data-quality suites, skew-safe
  * exact aggregation, interchange-format round-trips, dimension history
  * (SCD2) with point-in-time serving, snapshot time travel with diffs,
  * transition-graph analytics, and incremental materialized-view
  * maintenance. Every query is DuckDB-oracle-gated; operators with
  * engine-specific internals keep their exactness proofs in specs.
  */
object LakeQueries {

  /** Per-SF scratch dir for queries that exercise WRITE paths (JSON
    * interchange, snapshots). Deterministic per source dir so re-runs
    * overwrite their own output; sibling of IndexCache's layout. */
  private def scratch(sfDir: String, kind: String): String =
    new java.io.File(s"target/graft_scratch/$kind/${graft.IndexCache.key(sfDir)}")
      .getAbsolutePath

  // ── q122/q126 shared SCD2 timeline SQL (oracle side) ─────────────────
  // One change row per (custkey, orderdate): the min-orderkey order's
  // status/priority — pre-resolving same-instant conflicts HERE keeps the
  // Spark side off Scd2's hash tiebreak, so the whole rebuild is plain
  // SQL on both engines.
  private val timelineSql = """
      ch AS (
        SELECT o_custkey AS custkey, o_orderdate AS eff_from,
               o_orderstatus AS status, o_orderpriority AS priority
        FROM (SELECT *, row_number() OVER (
                PARTITION BY o_custkey, o_orderdate
                ORDER BY o_orderkey ASC) AS rn
              FROM orders)
        WHERE rn = 1),
      collapsed AS (
        SELECT custkey, eff_from, status, priority FROM (
          SELECT custkey, eff_from, status, priority,
            lag(status) OVER w AS pst, lag(priority) OVER w AS ppr
          FROM ch
          WINDOW w AS (PARTITION BY custkey ORDER BY eff_from ASC))
        WHERE pst IS NULL OR status <> pst OR priority <> ppr),
      tl AS (
        SELECT custkey, eff_from, status, priority,
          lead(eff_from) OVER w2 AS eff_to,
          CAST(lead(eff_from) OVER w2 IS NULL AS BIGINT) AS is_current
        FROM collapsed
        WINDOW w2 AS (PARTITION BY custkey ORDER BY eff_from ASC))"""

  /** The Spark twin of [[timelineSql]]: change batch + Scd2.rebuild. */
  private def timeline(s: org.apache.spark.sql.SparkSession, d: String) = {
    val w = Window.partitionBy("o_custkey", "o_orderdate")
      .orderBy(col("o_orderkey").asc)
    val changes = t(s, d, "orders")
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("o_custkey").as("custkey"),
        col("o_orderdate").as("eff_from"),
        col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"))
    Scd2.rebuild(changes.limit(0), changes, Seq("custkey"), "eff_from")
  }

  /** PageRank iteration count for q123 — fixed so the oracle can unroll. */
  private val PrIters = 5

  /** Value-iteration count for q198 — fixed so the oracle can unroll. */
  private val MkIters = 8

  /** One unrolled q198 value-iteration chain (`tag` names it; `pinned`
    * absorbs that channel at 0 — the removal-effect chain). Same
    * integer-micro floor-division discipline as [[prIterSql]]. */
  private def mkChainSql(tag: String, pinned: Option[String]): String = {
    val pin = pinned.map(c => s"WHEN st.v = '$c' THEN 0\n                    ")
      .getOrElse("")
    val zero = s"""
      v${tag}_0 AS (
        SELECT v, CAST(CASE WHEN v = 'purchase' THEN 1000000 ELSE 0 END
          AS BIGINT) AS r
        FROM states)"""
    val iters = (1 to MkIters).map { i =>
      s"""
      v${tag}_$i AS (
        SELECT st.v,
          CAST(CASE WHEN st.v = 'purchase' THEN 1000000
                    WHEN st.v = 'END' THEN 0
                    ${pin}ELSE COALESCE(SUM((e.n * pv.r) // o.tot), 0)
               END AS BIGINT) AS r
        FROM states st
        LEFT JOIN e ON e.src = st.v
        LEFT JOIN v${tag}_${i - 1} pv ON pv.v = e.dst
        LEFT JOIN outd o ON o.src = e.src
        GROUP BY st.v)"""
    }.mkString(",")
    zero + "," + iters
  }

  // one unrolled iteration: rank flows src→dst along weighted edges in
  // integer micro-units; floor division keeps both engines bit-identical
  private def prIterSql(i: Int): String = s"""
      r$i AS (
        SELECT n0.v,
          CAST(150000 + (COALESCE(SUM((rr.r * e.n) // o.tot), 0) * 85) // 100
            AS BIGINT) AS r
        FROM nodes n0
        LEFT JOIN e ON e.dst = n0.v
        LEFT JOIN r${i - 1} rr ON rr.v = e.src
        LEFT JOIN outd o ON o.src = e.src
        GROUP BY n0.v)"""

  val defs: Seq[QueryDef] = Seq(

    // ── Declarative DQ expectations (one-pass rule suite) ──────────────
    // The generalization of the reference's silver validation trio into a
    // rule catalog: 5 rules over orders become ONE pruned scan (row rules
    // as conditional aggregates, uniqueness via the same agg's distinct
    // count). The `between` rule is deliberately tight enough to FAIL on
    // this data, so the report proves it catches violations, not just
    // rubber-stamps. At 100 TB: adding a rule adds a projection column,
    // never a second pass.
    QueryDef("q118_expectations", (s, d) => {
      import Expectations.Rule._
      Expectations.check(t(s, d, "orders"), Seq(
        NotNull("o_custkey"),
        InSet("o_orderstatus", Seq("O", "F", "P")),
        Between("o_totalprice", 1.0, 300000.0),
        Matches("o_orderpriority", "^[1-5]-"),
        Unique(Seq("o_orderkey"))))
    }, Some("""
      WITH a AS (
        SELECT COUNT(*) AS n,
          SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v0,
          SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                     OR o_orderstatus IS NULL THEN 1 ELSE 0 END) AS v1,
          SUM(CASE WHEN NOT (o_totalprice >= 1.0 AND o_totalprice <= 300000.0)
                     OR o_totalprice IS NULL THEN 1 ELSE 0 END) AS v2,
          SUM(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-')
                     OR o_orderpriority IS NULL THEN 1 ELSE 0 END) AS v3,
          COUNT(*) - COUNT(DISTINCT o_orderkey) AS v4
        FROM orders)
      SELECT 'not_null' AS rule, 'o_custkey' AS target,
        CAST(v0 AS BIGINT) AS n_violations, CAST(n AS BIGINT) AS n_rows,
        CAST(v0 = 0 AS BIGINT) AS passed FROM a
      UNION ALL SELECT 'in_set', 'o_orderstatus', CAST(v1 AS BIGINT),
        CAST(n AS BIGINT), CAST(v1 = 0 AS BIGINT) FROM a
      UNION ALL SELECT 'between', 'o_totalprice', CAST(v2 AS BIGINT),
        CAST(n AS BIGINT), CAST(v2 = 0 AS BIGINT) FROM a
      UNION ALL SELECT 'matches', 'o_orderpriority', CAST(v3 AS BIGINT),
        CAST(n AS BIGINT), CAST(v3 = 0 AS BIGINT) FROM a
      UNION ALL SELECT 'unique', 'o_orderkey', CAST(v4 AS BIGINT),
        CAST(n AS BIGINT), CAST(v4 = 0 AS BIGINT) FROM a"""),
      notes = "declarative DQ expectations (Deequ-lite): 5-rule suite evaluated in ONE pruned scan (conditional aggs + distinct count); null-total violation predicates; the between rule fails on this data by design"),

    // ── Skew-safe exact distinct count (SkewOps' driver-gated artifact) ─
    // COUNT(DISTINCT user) per event type via value-hash salting: salt
    // buckets are disjoint by construction so per-bucket distinct counts
    // ADD — exact, not approximate, which is why it can sit under the
    // hash gate. The unsalted plan funnels each hot key's full distinct
    // (key,value) stream through one reducer; this bounds that reducer's
    // shuffle read by 1/numSalts (the cluster-scale wall SkewOps.scala
    // documents — locally the unsalted form wins, which BASELINE.md §skew
    // records honestly).
    QueryDef("q119_skew_distinct", (s, d) =>
      SkewOps.saltedDistinctCount(
        t(s, d, "events"), Seq("event_type"), "user_id"),
      Some("""
      SELECT event_type,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_user_id
      FROM events GROUP BY event_type"""),
      notes = "skew-safe exact distinct count via value-hash salting (disjoint buckets => additive partials); SkewOps' catalog artifact, oracle = plain COUNT(DISTINCT)"),

    // ── JSON interchange round-trip (sink + source fidelity) ───────────
    // Writes a 6-column orders projection as PARTITIONED JSON lines,
    // reads it back under the explicit schema contract (JSON carries no
    // types), and aggregates the READ-BACK frame; the oracle aggregates
    // the original parquet. The hash gate therefore proves the round
    // trip loses nothing: longs, shortest-repr doubles, ISO-8601
    // timestamps, and the dir-encoded partition column all survive.
    // At 100 TB the same two operators are the landing/egress path for
    // line-delimited feeds; partition dirs keep pruning available to
    // downstream JSON readers.
    QueryDef("q121_json_interchange", (s, d) => {
      val root = scratch(d, "json")
      t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
          "o_orderpriority", "o_orderstatus")
        .write.mode("overwrite").partitionBy("o_orderstatus").json(root)
      s.read.schema(StructType.fromDDL(
          "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, " +
          "o_orderdate TIMESTAMP, o_orderpriority STRING, o_orderstatus STRING"))
        .json(root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("sum_price"),
          min(col("o_orderdate")).as("min_date"),
          max(col("o_orderdate")).as("max_date"),
          sum(col("o_orderkey")).as("sum_key"))
    }, Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        MIN(o_orderdate) AS min_date, MAX(o_orderdate) AS max_date,
        CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
      FROM orders GROUP BY o_orderstatus"""),
      notes = "partitioned JSON sink + explicit-schema source round-trip: oracle aggregates the ORIGINAL parquet, so the hash gate proves lossless interchange (longs/doubles/timestamps/partition dirs)"),

    // ── SCD2 dimension versioning (timeline rebuild, driver-gated) ─────
    // Scd2.rebuild as a catalog query: orders become a change stream for
    // a per-customer status dimension (one change per (custkey, day),
    // min-orderkey winner), and the rebuild collapses consecutive
    // identical states and derives eff_to/is_current. Same-instant
    // conflicts are pre-resolved deterministically, which keeps the whole
    // operator SQL-expressible — the oracle rebuilds the identical
    // timeline with windows. Scale posture unchanged from Scd2.scala:
    // everything partitions by the dimension key.
    QueryDef("q122_scd2_timeline", (s, d) =>
      timeline(s, d).select(col("custkey"), col("eff_from"), col("status"),
        col("priority"), col("eff_to"),
        col(Scd2.IsCurrent).cast("long").as("is_current")),
      Some(s"""
      WITH $timelineSql
      SELECT custkey, eff_from, status, priority, eff_to, is_current
      FROM tl"""),
      notes = "SCD Type-2 timeline rebuild (Scd2.rebuild) from an orders-derived change stream: collapse consecutive states, derive eff_to/is_current; fully oracle-gated (same-instant conflicts pre-resolved)"),

    // ── Point-in-time dimension join (SCD2's serving path) ─────────────
    // The question SCD2 exists to answer: revenue in the year AFTER a
    // pin date, grouped by what each customer's status WAS at the pin —
    // Scd2.asOf selects the version effective at T, the facts join on
    // the key. At 100 TB the dimension side is versions (small), the
    // fact side shuffles once on the join key.
    QueryDef("q126_scd2_asof", (s, d) => {
      val at = java.sql.Timestamp.valueOf("1995-07-01 00:00:00")
      val hi = java.sql.Timestamp.valueOf("1996-07-01 00:00:00")
      val dim = Scd2.asOf(timeline(s, d), "eff_from", at)
        .select(col("custkey"), col("status").as("asof_status"))
      t(s, d, "orders")
        .filter(col("o_orderdate") >= lit(at) && col("o_orderdate") < lit(hi))
        .join(dim, col("o_custkey") === col("custkey"))
        .groupBy("asof_status")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("revenue"))
    }, Some(s"""
      WITH $timelineSql,
      dim AS (
        SELECT custkey, status AS asof_status FROM tl
        WHERE eff_from <= TIMESTAMP '1995-07-01 00:00:00'
          AND (eff_to IS NULL OR eff_to > TIMESTAMP '1995-07-01 00:00:00'))
      SELECT d.asof_status, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM orders o JOIN dim d ON o.o_custkey = d.custkey
      WHERE o.o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
        AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      GROUP BY d.asof_status"""),
      notes = "point-in-time dimension join: facts grouped by the SCD2 version effective at the pin date (Scd2.asOf serving path); dimension = versions (small side), facts shuffle once"),

    // ── Event-transition PageRank (micro-unit exact) ───────────────────
    // Which event types are central in user journeys: the transition
    // graph (lag window per user — the q26 ordering contract) is the
    // DISTRIBUTED part; the rank iteration runs on the collected graph,
    // which is |event types|² AT MOST — the q71 bounded-driver-state
    // posture (graph size is metadata, never data). Integer micro-units
    // with floor division make all 5 iterations bit-identical across
    // engines, so a PAGERANK lands under the hash gate; the oracle
    // unrolls the same 5 steps as chained CTEs. Per-node damping base
    // (150000 = 0.15e6), no dangling redistribution — documented
    // convention, applied identically on both sides.
    QueryDef("q123_event_pagerank", (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val seqd = t(s, d, "events")
        .withColumn("prev", lag(col("event_type"), 1).over(w))
      val edges = seqd.filter(col("prev").isNotNull)
        .select(col("prev").as("src"), col("event_type").as("dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val nodes = t(s, d, "events").select(col("event_type"))
        .distinct().collect().map(_.getString(0)).sorted
      require(nodes.length <= 64 && edges.length <= 4096,
        s"transition graph unexpectedly large (${nodes.length} nodes, " +
          s"${edges.length} edges) — driver iteration is bounded by design")
      val out = edges.groupBy(_._1).map { case (src, es) => src -> es.map(_._3).sum }
      var rank = nodes.map(_ -> 1000000L).toMap
      for (_ <- 1 to PrIters) {
        val in = new scala.collection.mutable.HashMap[String, Long]()
        edges.foreach { case (src, dst, n) =>
          in(dst) = in.getOrElse(dst, 0L) + rank(src) * n / out(src)
        }
        rank = nodes.map(v => v -> (150000L + in.getOrElse(v, 0L) * 85 / 100)).toMap
      }
      import s.implicits._
      nodes.map(v => (v, rank(v))).toSeq.toDF("event_type", "rank_micro")
    }, Some(s"""
      WITH seqd AS (
        SELECT event_type, lag(event_type) OVER (
          PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev
        FROM events),
      e AS (SELECT prev AS src, event_type AS dst, COUNT(*) AS n
            FROM seqd WHERE prev IS NOT NULL GROUP BY prev, event_type),
      outd AS (SELECT src, SUM(n) AS tot FROM e GROUP BY src),
      nodes AS (SELECT DISTINCT event_type AS v FROM events),
      r0 AS (SELECT v, CAST(1000000 AS BIGINT) AS r FROM nodes),
      ${(1 to PrIters).map(prIterSql).mkString(",")}
      SELECT v AS event_type, r AS rank_micro FROM r$PrIters"""),
      notes = s"event-type PageRank over the user-journey transition graph: distributed graph build (lag window), bounded driver iteration in integer micro-units ($PrIters steps, floor div) — bit-identical to the oracle's unrolled CTEs"),

    // ── Snapshot time travel + diff (Snapshots' driver-gated artifact) ─
    // Commits two deterministic versions of an orders slice (v2 removes
    // keys %1000<50, keeps 50-399 unchanged, updates 400-499, adds
    // 500-599), then diffs v1→v2 BY READING THE SNAPSHOTS BACK — so the
    // gate covers commit, pointer resolution, versioned read, and the
    // full-outer keyed diff. The oracle derives both versions straight
    // from orders. Parquet round-trips longs/doubles/strings exactly,
    // which is what makes the diff oracle-able.
    QueryDef("q125_snapshot_diff", (s, d) => {
      val root = scratch(d, "snap")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val o = t(s, d, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val m = col("o_orderkey") % 1000
      Snapshots.commit(o.filter(m < 500), root)
      Snapshots.commit(
        o.filter(m >= 50 && m < 400).unionByName(
          o.filter(m >= 400 && m < 600)
            .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))),
        root)
      Snapshots.diff(Snapshots.read(s, root, 1), Snapshots.read(s, root, 2),
          Seq("o_orderkey"))
        .groupBy("change_type").agg(count(lit(1)).as("n"))
    }, Some("""
      WITH base AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        WHERE o_orderkey % 1000 < 500),
      v2 AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        WHERE o_orderkey % 1000 >= 50 AND o_orderkey % 1000 < 400
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice + 1.0 FROM orders
        WHERE o_orderkey % 1000 >= 400 AND o_orderkey % 1000 < 600),
      dd AS (
        SELECT CASE WHEN b.o_orderkey IS NULL THEN 'added'
                    WHEN v.o_orderkey IS NULL THEN 'removed'
                    WHEN b.o_orderstatus = v.o_orderstatus
                     AND b.o_totalprice = v.o_totalprice THEN 'unchanged'
                    ELSE 'changed' END AS change_type
        FROM base b FULL OUTER JOIN v2 v ON b.o_orderkey = v.o_orderkey)
      SELECT change_type, COUNT(*) AS n FROM dd GROUP BY change_type"""),
      notes = "snapshot versioning end-to-end: two commits, pointer-resolved versioned reads, full-outer keyed diff (added/removed/changed/unchanged) — oracle derives both versions from the source table"),

    // ── Incremental gold maintenance (partial-agg merge algebra) ───────
    // The materialized-view maintenance pattern: daily revenue partials
    // computed separately for the base (< 1997) and the delta (>= 1997)
    // merge by SUMMING — exact because partials stay DECIMAL until the
    // final cast, counts are longs. The hash gate proves merged ==
    // full-recompute, which is the invariant an incremental gold refresh
    // at 100 TB lives on: a day's append touches the delta's groups
    // only; history is never re-scanned.
    QueryDef("q127_incremental_gold", (s, d) => {
      val cut = lit("1997-01-01").cast("timestamp")
      def partials(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(to_date(col("l_shipdate")).as("ship_date"))
        .agg(count(lit(1)).as("pn"),
          sum(col("l_extendedprice").cast(
            org.apache.spark.sql.types.DecimalType(18, 4))).as("prev"))
      val li = t(s, d, "lineitem")
      partials(li.filter(col("l_shipdate") < cut))
        .unionByName(partials(li.filter(col("l_shipdate") >= cut)))
        .groupBy("ship_date")
        .agg(sum(col("pn")).as("n_items"),
          sum(col("prev")).cast("double").as("revenue"))
    }, Some("""
      SELECT CAST(l_shipdate AS DATE) AS ship_date, COUNT(*) AS n_items,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineitem GROUP BY CAST(l_shipdate AS DATE)"""),
      notes = "incremental materialized-view maintenance: base + delta partial aggregates merged by sum (DECIMAL partials => exact algebra); hash gate proves merged == full recompute"),

    // ── ORC interchange round-trip (q121's columnar sibling) ───────────
    // Same contract as q121 over the OTHER columnar interchange format a
    // lake meets in practice: partitioned ORC write, schema-carrying read
    // (ORC files embed their schema — no explicit-schema contract
    // needed), aggregate the read-back, oracle the original parquet. ORC
    // keeps column pruning and predicate pushdown available downstream,
    // so at 100 TB this is a peer landing format, not a degraded one.
    QueryDef("q128_orc_interchange", (s, d) => {
      val root = scratch(d, "orc")
      t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
          "o_orderstatus", "o_orderpriority")
        .write.mode("overwrite").partitionBy("o_orderpriority").orc(root)
      s.read.orc(root)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("sum_price"),
          count_distinct(col("o_custkey")).as("n_custs"),
          max(col("o_orderdate")).as("max_date"))
    }, Some("""
      SELECT o_orderpriority, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs,
        MAX(o_orderdate) AS max_date
      FROM orders GROUP BY o_orderpriority"""),
      notes = "partitioned ORC sink/source round-trip (schema carried by the files): oracle aggregates the original parquet — lossless columnar interchange, q121's sibling"),

    // ── Compliance key purge (right-to-be-forgotten, driver-gated) ─────
    // Builds a partitioned lake from orders, purges a deterministic key
    // set (o_orderkey % 97 = 0) with Deletes.purgeKeys — touched-
    // partition-only rewrite through the shared staging path — then
    // aggregates the SURVIVING LAKE read back from disk; the oracle
    // filters the same keys from the source table. The gate therefore
    // proves physical deletion: any purged row still on disk, any
    // survivor lost, or any stale emptied partition would break the hash.
    QueryDef("q129_compliance_purge", (s, d) => {
      val root = scratch(d, "purge")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val o = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      o.write.option("compression", "snappy")
        .partitionBy("o_orderpriority").parquet(root)
      val doomed = o.filter(col("o_orderkey") % 97 === 0)
        .select("o_orderkey")
      graft.operators.Deletes.purgeKeys(s.read.parquet(root), doomed,
        Seq("o_orderkey"), "o_orderpriority", root)
      s.read.parquet(root)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("sum_price"),
          sum(col("o_orderkey")).as("sum_key"))
    }, Some("""
      SELECT o_orderpriority, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
      FROM orders
      WHERE NOT (o_orderkey % 97 = 0)
      GROUP BY o_orderpriority"""),
      notes = "compliance purge end-to-end: Deletes.purgeKeys rewrites only key-holding partitions (shared staging path), result read back FROM DISK; oracle filters the source — the gate proves physical deletion"),

    // ── Triangle counting on the supplier co-occurrence graph ──────────
    // Graph analytics beyond q123's PageRank: build the co-purchase graph
    // (suppliers appearing in the same order, support >= 25 co-orders so
    // hub noise is pruned BEFORE any graph op), then count triangles per
    // node — the clustering/community signal. Shapes: edge build is one
    // orderkey-keyed self-join (suppliers-per-order is small and bounded
    // by order size, so the per-key fan-out is tiny) + one (u,v)-keyed
    // agg; the triangle join is the standard two-hop join e1(u,v)⋈e2(v,w)
    // matched against e3(u,w), with edges ORIENTED by the classic
    // degree-ordered total order (deg asc, id asc — each edge points
    // from its lower-degree endpoint) so each triangle is found exactly
    // once AND the two-hop fan-out per node is bounded by O(sqrt m)
    // regardless of hub skew (the Suri-Vassilvitskii refinement; key
    // order alone leaves a low-id hub with its full degree as fan-out).
    // Per-NODE triangle counts are orientation-INVARIANT, so the oracle
    // twin keeps the plain key order and the driver hash gate proves
    // the invariance every round. The degree frame is |V|-sized
    // metadata — broadcast onto both endpoints. Support-thresholded
    // edges keep density proportional to real co-purchase structure;
    // residual reducer skew on top is AQE skew-join territory
    // (BASELINE.md skew table). Per-node counts come from exploding
    // each triangle to its 3 corners + one node-keyed agg.
    QueryDef("q140_triangles", (s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
      // pinned: e feeds deg (twice, via the endpoint union) AND the
      // oriented frame — unpinned, the lineitem self-join re-ran per
      // consumer (ExplainAudit counted lineitem scanned x30 through the
      // triangle join's three g branches; this was the bulk of the r9
      // 2.3 -> 7.8 s driver regression, not the orientation itself).
      // e is the support->=25 edge list — graph metadata, cheap to pin.
      val e = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_suppkey") < col("b.l_suppkey"))
        .select(col("a.l_suppkey").as("u"), col("b.l_suppkey").as("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("w"))
        .filter(col("w") >= 25).select("u", "v")
        .localCheckpoint(true)
      val deg = e.select(col("u").as("n"))
        .union(e.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      // orient: a = endpoint earlier in (deg, id) order; e has u < v, so
      // ties keep (u, v) and the orientation is a strict total order
      val uLower = col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v"))
      // pinned: g is consumed THREE times by the two-hop triangle join —
      // pinning makes those reads free instead of re-running the
      // orientation joins per branch
      val g = e
        .join(broadcast(deg.select(col("n").as("u"), col("deg").as("du"))), "u")
        .join(broadcast(deg.select(col("n").as("v"), col("deg").as("dv"))), "v")
        .select(when(uLower, col("u")).otherwise(col("v")).as("a"),
          when(uLower, col("v")).otherwise(col("u")).as("b"))
        .localCheckpoint(true)
      val tri = g.as("e1")
        .join(g.as("e2"), col("e1.b") === col("e2.a"))
        .join(g.as("e3"),
          col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      tri.select(explode(array(col("x"), col("y"), col("z"))).as("s_suppkey"))
        .groupBy("s_suppkey").agg(count(lit(1)).as("n_triangles"))
    }, Some("""
      WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
      e AS (
        SELECT a.l_suppkey AS u, b.l_suppkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 25),
      tri AS (
        SELECT e1.u AS x, e1.v AS y, e2.v AS z
        FROM e e1
        JOIN e e2 ON e1.v = e2.u
        JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v),
      corners AS (SELECT unnest([x, y, z]) AS s_suppkey FROM tri)
      SELECT s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM corners GROUP BY s_suppkey"""),
      notes = "per-supplier triangle counts on the support-thresholded co-purchase graph: orderkey self-join -> (u,v) agg -> DEGREE-ORDERED orientation (sqrt-m fan-out bound under hub skew) -> two-hop triangle join -> corner explode + node agg; counts orientation-invariant, oracle keeps plain key order"),

    // ── Salted skew-join equivalence (SkewOps.saltedInnerJoin gated) ───
    // The manual skew escape hatch, driver-gated: revenue by order
    // priority through SkewOps.saltedInnerJoin (lineitem salted into 16
    // subkeys, orders replicated ×16, join on (key, salt)) must equal
    // the plain join the oracle runs — salting redistributes rows across
    // reducers, it must NEVER change the relation. The salt is
    // seeded-random, so the hash gate also pins that result-invariance
    // holds under whatever salt assignment a run produces. DECIMAL
    // accumulation keeps the revenue sum order-insensitive — the exact
    // property that makes a salted (differently-ordered) aggregation
    // hashable against the unsalted oracle. When to reach for this over
    // AQE skew-split: SCALE.md §skew — replicate-×-salts pays only when
    // the probe side is too big to broadcast AND one key floods a task.
    QueryDef("q146_salted_join", (s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      graft.operators.SkewOps.saltedInnerJoin(li, o, "l_orderkey", "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
    }, Some("""
      SELECT o_orderpriority, COUNT(*) AS n_items,
        CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
          AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority"""),
      notes = "SkewOps.saltedInnerJoin result-equivalence under the hash gate: salted (key,salt) join + decimal agg == the oracle's plain join — salting redistributes, never changes the relation"),

    // ── Snapshot novelty from sketches (time travel × theta algebra) ───
    // q125 diffs two table versions with a full-outer join over every
    // key — exact and row-attributed, but both versions cross the wire
    // for every question asked. This is the sketch answer for the
    // MONITORING tier of the same question: persist ONE theta blob per
    // committed version (a per-commit footer artifact in production),
    // and added/removed/persisted KEY counts for ANY version pair are
    // set algebra over two blobs — no join, no rescan, any pair, any
    // time later. The same q154 gate argument makes it oracle-able:
    // nomEntries 2^17 keeps every driver-SF version (<=83k distinct
    // keys at sf0.1) in the exact regime, where estimates ARE the
    // exact counts the oracle computes with joins/NOT EXISTS; past
    // 2^17 keys the same blobs degrade to ~0.3% estimates
    // (ThetaSketchSpec's regime). Versions are REAL Snapshots commits
    // read back via pointer resolution — the composition with the
    // time-travel layer, not a filter simulation.
    QueryDef("q158_snapshot_novelty", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val root = scratch(d, "snapnov")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val o = t(s, d, "orders").select("o_orderkey", "o_orderstatus")
      val m = col("o_orderkey") % 1000
      Snapshots.commit(o.filter(m < 500), root)
      Snapshots.commit(o.filter(m >= 50 && m < 600), root)
      val a = Snapshots.read(s, root, 1)
        .agg(expr("graft_theta_agg(o_orderkey, 131072)").as("sk_a"))
      val b = Snapshots.read(s, root, 2)
        .agg(expr("graft_theta_agg(o_orderkey, 131072)").as("sk_b"))
      a.crossJoin(b).select(
        expr("CAST(round(graft_theta_estimate(sk_a)) AS BIGINT)").as("n_v1"),
        expr("CAST(round(graft_theta_estimate(sk_b)) AS BIGINT)").as("n_v2"),
        expr("""CAST(round(graft_theta_estimate(
                  graft_theta_intersect2(sk_a, sk_b))) AS BIGINT)""")
          .as("n_persisted"),
        expr("""CAST(round(graft_theta_estimate(
                  graft_theta_anotb(sk_b, sk_a))) AS BIGINT)""").as("n_added"),
        expr("""CAST(round(graft_theta_estimate(
                  graft_theta_anotb(sk_a, sk_b))) AS BIGINT)""")
          .as("n_removed"))
    }, Some("""
      WITH v1 AS (
        SELECT DISTINCT o_orderkey FROM orders WHERE o_orderkey % 1000 < 500),
      v2 AS (
        SELECT DISTINCT o_orderkey FROM orders
        WHERE o_orderkey % 1000 >= 50 AND o_orderkey % 1000 < 600)
      SELECT
        (SELECT COUNT(*) FROM v1) AS n_v1,
        (SELECT COUNT(*) FROM v2) AS n_v2,
        (SELECT COUNT(*) FROM v1 JOIN v2 USING (o_orderkey)) AS n_persisted,
        (SELECT COUNT(*) FROM v2 WHERE NOT EXISTS
          (SELECT 1 FROM v1 WHERE v1.o_orderkey = v2.o_orderkey)) AS n_added,
        (SELECT COUNT(*) FROM v1 WHERE NOT EXISTS
          (SELECT 1 FROM v2 WHERE v2.o_orderkey = v1.o_orderkey))
          AS n_removed"""),
      notes = "snapshot novelty from per-version theta blobs (time travel x sketch algebra): added/removed/persisted key counts for any version pair without a join or rescan; exact below 2^17 keys (every driver SF) via the q154 gate argument, ~0.3% estimates past it; versions are real pointer-resolved Snapshots commits"),

    // ── Differentially-private count release (Laplace mechanism) ───────
    // The governance sibling of q129's purge: release per-source doc
    // counts under the ε=1 Laplace mechanism — each count is a
    // sensitivity-1 query (one doc contributes to exactly one source),
    // so noise ~ Laplace(1/ε) gives ε-DP per the standard composition.
    // The noise draw is the inverse-CDF transform
    //   noise = −(1/ε)·sign(u−½)·ln(1 − 2|u−½|)
    // over a DETERMINISTIC md5 uniform per source — which makes the
    // release hash-gateable end-to-end (LN on identical doubles is the
    // q77 accepted residual). Production note, stated loudly: a real
    // deployment derives u from a SECRET seed (a deterministic public
    // seed voids the privacy guarantee); the mechanism, sensitivity
    // bound, and release shape are exactly what ships. ln(0) is
    // unreachable in practice but clamped anyway (greatest 1e-18 —
    // the ANSI posture). One map-side-combined agg; noise is |sources|
    // rows of metadata arithmetic.
    QueryDef("q181_dp_release", (s, d) => {
      val u = conv(substring(md5(concat_ws(":", col("source"), lit("dp"))),
        1, 15), 16, 10).cast("double") / lit(1152921504606846976L) // 2^60
      val x = greatest(lit(1.0) - lit(2.0) * abs(u - lit(0.5)), lit(1e-18))
      val sign = when(u >= 0.5, lit(1.0)).otherwise(lit(-1.0))
      // -ln(x) = detLnDoubleGe1(1/x) (x in (1e-18, 1] so 1/x in [1, 1e18)):
      // bit-identical cross-engine, unlike libm/JVM ln
      val noise = sign * graft.functions.DetMath.detLnDoubleGe1(lit(1.0) / x)
      Ops.t(s, d, "documents").groupBy("source")
        .agg(count(lit(1)).as("n_docs"))
        .select(col("source"), col("n_docs"),
          // epsilon_NOMINAL: the mechanism as shipped derives its noise
          // from a public deterministic md5 seed, so the released row must
          // not itself assert a realized DP guarantee (production swaps in
          // a secret seed; the column name keeps the artifact honest)
          lit(1.0).as("epsilon_nominal"),
          round(noise, 6).as("noise"),
          greatest(lit(0L),
            round(col("n_docs").cast("double") + noise).cast("long"))
            .as("dp_count"))
    }, Some(s"""
      WITH agg AS (
        SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
      nz AS (SELECT source, n_docs,
          CAST(CAST('0x' || substr(md5(source || ':dp'), 1, 15) AS BIGINT)
            AS DOUBLE) / 1152921504606846976.0 AS u
        FROM agg),
      nx AS (SELECT source, n_docs, u,
          1.0 / greatest(1.0 - 2.0 * abs(u - 0.5), 1e-18) AS inv
        FROM nz),
      n2 AS (SELECT source, n_docs,
          (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END) *
            ${DetMathSql.lnDoubleGe1("inv")} AS noise
        FROM nx)
      SELECT source, n_docs, CAST(1.0 AS DOUBLE) AS epsilon_nominal,
        round(noise, 6) AS noise,
        greatest(0, CAST(ROUND(CAST(n_docs AS DOUBLE) + noise) AS BIGINT))
          AS dp_count
      FROM n2"""),
      notes = "eps=1 Laplace count release per source (sensitivity-1 by construction): inverse-CDF noise over a deterministic md5 uniform so the mechanism is hash-gateable (production uses a secret seed — documented loudly); one map-side-combined agg + |sources|-row noise arithmetic"),

    // ── Schema-drift audit between snapshot versions ───────────────────
    // The catalog-governance companion of q125's row diff: what changed
    // STRUCTURALLY between two committed versions of a table — columns
    // added/removed, types changed, row/cardinality drift per column.
    // Versions are real pointer-resolved Snapshots commits (the q125
    // scratch pattern): v2 drops a column, adds one, narrows a type
    // (double → float: both engines round-to-nearest, so distinct
    // counts agree), and removes ~10% of rows. Profiles come from the
    // PRODUCTION TableProfile pass (q112's operator — one pruned
    // single-column scan each); schemas are read from the committed
    // files, so the audit sees what a reader would see, not what the
    // writer intended. Per-column full-outer join of two profile
    // tables → a |columns|-row metadata report; at 100 TB this is the
    // nightly catalog-diff job, priced at one profile pass per side.
    QueryDef("q187_schema_drift", (s, d) => {
      import s.implicits._
      val root = scratch(d, "drift")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val o = t(s, d, "orders")
      Snapshots.commit(o.select(col("o_orderkey").as("k"),
        col("o_totalprice").as("price"),
        col("o_orderpriority").as("prio")), root)
      Snapshots.commit(o.filter(col("o_orderkey") % 10 =!= 0)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast("float").as("price"),
          col("o_orderstatus").as("status")), root)
      def prof(df: org.apache.spark.sql.DataFrame, ver: String) = {
        val types = df.schema.fields.toSeq
          .map(fl => (fl.name, fl.dataType.simpleString))
          .toDF("col_name", s"type_$ver")
        graft.operators.TableProfile.profile(df)
          .select(col("col_name"), col("n_rows").as(s"n_rows_$ver"),
            col("n_distinct").as(s"distinct_$ver"))
          .join(broadcast(types), "col_name")
      }
      prof(Snapshots.read(s, root, 1), "v1")
        .join(prof(Snapshots.read(s, root, 2), "v2"),
          Seq("col_name"), "full_outer")
        .select(col("col_name"),
          col("type_v1").isNotNull.cast("long").as("in_v1"),
          col("type_v2").isNotNull.cast("long").as("in_v2"),
          coalesce(col("type_v1"), lit("")).as("type_v1"),
          coalesce(col("type_v2"), lit("")).as("type_v2"),
          coalesce(col("n_rows_v1"), lit(0L)).as("n_rows_v1"),
          coalesce(col("n_rows_v2"), lit(0L)).as("n_rows_v2"),
          coalesce(col("distinct_v1"), lit(0L)).as("distinct_v1"),
          coalesce(col("distinct_v2"), lit(0L)).as("distinct_v2"),
          when(col("type_v1").isNull, "added")
            .when(col("type_v2").isNull, "removed")
            .when(col("type_v1") =!= col("type_v2"), "type_changed")
            .otherwise("kept").as("change"))
    }, Some("""
      WITH v1 AS (
        SELECT o_orderkey AS k, o_totalprice AS price,
          o_orderpriority AS prio
        FROM orders),
      v2 AS (
        SELECT o_orderkey AS k, CAST(o_totalprice AS REAL) AS price,
          o_orderstatus AS status
        FROM orders WHERE o_orderkey % 10 <> 0),
      p1 AS (
        SELECT 'k' AS col_name, 'bigint' AS type_v1,
          CAST(COUNT(*) AS BIGINT) AS n_rows_v1,
          CAST(COUNT(DISTINCT k) AS BIGINT) AS distinct_v1 FROM v1
        UNION ALL SELECT 'price', 'double', CAST(COUNT(*) AS BIGINT),
          CAST(COUNT(DISTINCT price) AS BIGINT) FROM v1
        UNION ALL SELECT 'prio', 'string', CAST(COUNT(*) AS BIGINT),
          CAST(COUNT(DISTINCT prio) AS BIGINT) FROM v1),
      p2 AS (
        SELECT 'k' AS col_name, 'bigint' AS type_v2,
          CAST(COUNT(*) AS BIGINT) AS n_rows_v2,
          CAST(COUNT(DISTINCT k) AS BIGINT) AS distinct_v2 FROM v2
        UNION ALL SELECT 'price', 'float', CAST(COUNT(*) AS BIGINT),
          CAST(COUNT(DISTINCT price) AS BIGINT) FROM v2
        UNION ALL SELECT 'status', 'string', CAST(COUNT(*) AS BIGINT),
          CAST(COUNT(DISTINCT status) AS BIGINT) FROM v2)
      SELECT COALESCE(p1.col_name, p2.col_name) AS col_name,
        CAST(p1.col_name IS NOT NULL AS BIGINT) AS in_v1,
        CAST(p2.col_name IS NOT NULL AS BIGINT) AS in_v2,
        COALESCE(type_v1, '') AS type_v1,
        COALESCE(type_v2, '') AS type_v2,
        COALESCE(n_rows_v1, 0) AS n_rows_v1,
        COALESCE(n_rows_v2, 0) AS n_rows_v2,
        COALESCE(distinct_v1, 0) AS distinct_v1,
        COALESCE(distinct_v2, 0) AS distinct_v2,
        CASE WHEN type_v1 IS NULL THEN 'added'
             WHEN type_v2 IS NULL THEN 'removed'
             WHEN type_v1 <> type_v2 THEN 'type_changed'
             ELSE 'kept' END AS change
      FROM p1 FULL OUTER JOIN p2 ON p1.col_name = p2.col_name"""),
      notes = "schema-drift audit between real Snapshots versions: columns added/removed/type-changed + per-column row/cardinality drift from the production TableProfile pass; reads what a consumer would see from the committed files — the nightly catalog-diff artifact, one profile pass per side"),

    // ── Subject-access report (DSAR — the right-of-access twin of q129) ─
    // GDPR/CCPA Article-15 style data-subject access: for each subject
    // in scope (deterministic c_custkey % 100 = 7 slice standing in for
    // a request list), the cross-table footprint a controller must
    // disclose — order count + exact spend, line items, event activity
    // and its time range. q129 purges a subject; this REPORTS one — the
    // two governance verbs over the same keys. Shapes: three keyed
    // pre-aggregations (orders / lineitem-via-orders / events) left-
    // joined onto the broadcast-small subject list; spend accumulates
    // in DECIMAL and surfaces as DOUBLE (the q146 rule), timestamps
    // surface as exact epoch micros. At 100 TB the request list is
    // tiny: every table is pruned by the subject predicate AT THE
    // SCAN, pre-aggregated before the join, and nothing fans out.
    QueryDef("q195_subject_access", (s, d) => {
      val subjects = t(s, d, "customer")
        .filter(col("c_custkey") % 100 === 7)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val ord = t(s, d, "orders").filter(col("o_custkey") % 100 === 7)
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(
            org.apache.spark.sql.types.DataTypes.createDecimalType(18, 4)))
            .cast("double").as("total_spend"),
          unix_micros(min(col("o_orderdate")).cast("timestamp"))
            .as("first_order_us"),
          unix_micros(max(col("o_orderdate")).cast("timestamp"))
            .as("last_order_us"))
      val li = t(s, d, "lineitem")
        .join(t(s, d, "orders").filter(col("o_custkey") % 100 === 7),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(count(lit(1)).as("n_lineitems"))
      val ev = t(s, d, "events").filter(col("user_id") % 100 === 7)
        .groupBy(col("user_id").as("c_custkey"))
        .agg(count(lit(1)).as("n_events"),
          expr("max(ts) div 1000").as("last_event_us"))
      subjects
        .join(ord, Seq("c_custkey"), "left_outer")
        .join(li, Seq("c_custkey"), "left_outer")
        .join(ev, Seq("c_custkey"), "left_outer")
        .select(col("c_custkey").as("subject_key"), col("c_name"),
          col("c_mktsegment"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("total_spend"), lit(0.0)).as("total_spend"),
          coalesce(col("n_lineitems"), lit(0L)).as("n_lineitems"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(col("first_order_us"), lit(0L)).as("first_order_us"),
          coalesce(col("last_order_us"), lit(0L)).as("last_order_us"),
          coalesce(col("last_event_us"), lit(0L)).as("last_event_us"))
    }, Some("""
      WITH subjects AS (
        SELECT c_custkey, c_name, c_mktsegment FROM customer
        WHERE c_custkey % 100 = 7),
      ord AS (
        SELECT o_custkey AS c_custkey, COUNT(*) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
            AS total_spend,
          epoch_us(MIN(o_orderdate)) AS first_order_us,
          epoch_us(MAX(o_orderdate)) AS last_order_us
        FROM orders WHERE o_custkey % 100 = 7 GROUP BY 1),
      li AS (
        SELECT o_custkey AS c_custkey, COUNT(*) AS n_lineitems
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_custkey % 100 = 7 GROUP BY 1),
      ev AS (
        SELECT user_id AS c_custkey, COUNT(*) AS n_events,
          epoch_ns(MAX(ts)) // 1000 AS last_event_us
        FROM events WHERE user_id % 100 = 7 GROUP BY 1)
      SELECT s.c_custkey AS subject_key, s.c_name, s.c_mktsegment,
        COALESCE(o.n_orders, 0) AS n_orders,
        COALESCE(o.total_spend, 0.0) AS total_spend,
        COALESCE(l.n_lineitems, 0) AS n_lineitems,
        COALESCE(e.n_events, 0) AS n_events,
        COALESCE(o.first_order_us, 0) AS first_order_us,
        COALESCE(o.last_order_us, 0) AS last_order_us,
        COALESCE(e.last_event_us, 0) AS last_event_us
      FROM subjects s
      LEFT JOIN ord o ON o.c_custkey = s.c_custkey
      LEFT JOIN li l ON l.c_custkey = s.c_custkey
      LEFT JOIN ev e ON e.c_custkey = s.c_custkey"""),
      notes = "GDPR-style subject-access report (the right-of-access twin of q129's purge): per-subject cross-table footprint — orders + exact DECIMAL-accumulated spend, line items, event activity with epoch-micro time range; three keyed pre-aggs joined onto the tiny subject list, every table touched once"),

    // ── Markov removal-effect attribution (the q123/q98 completion) ────
    // Multi-touch attribution done properly: model user journeys as a
    // Markov chain over event types (START → … → purchase | END), and
    // credit each channel by its REMOVAL EFFECT — how much conversion
    // probability disappears when that channel absorbs at zero
    // (Anderl et al.; the standard alternative to last-touch). The
    // chain solves by value iteration v(s) ← Σ_t p(s→t)·v(t) with
    // v(purchase)=1, v(END)=0 — MkIters fixed steps in integer
    // micro-units with per-edge floor division (the q123 discipline),
    // so base and per-channel-removed chains are bit-identical across
    // engines and the oracle unrolls the same steps as generated CTEs.
    // Conventions, documented: purchase is absorbing (its outgoing
    // edges drop), journeys end at the user's last event (→ END), and
    // attribution = removal/Σremovals, micro-quantized before the
    // normalize (q164). Shapes: the transition graph builds with one
    // lag/lead window (user-keyed) and collapses to ≤ |types|²
    // metadata edges; iteration is driver-held O(|states|) — the
    // MLlib-dataflow posture q71/q76/q123 share.
    QueryDef("q198_markov_attribution", (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val seqd = t(s, d, "events")
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .withColumn("nxt", lead(col("event_type"), 1).over(w))
      // every row contributes (prev|START)→type, plus type→END when last;
      // purchase-outgoing edges drop (absorbing) — ONE pass, one agg
      val edges = seqd.select(explode(array(
          struct(coalesce(col("prev"), lit("START")).as("src"),
            col("event_type").as("dst")),
          struct(col("event_type").as("src"),
            when(col("nxt").isNull, lit("END"))
              .otherwise(lit(null).cast("string")).as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst"))
        .filter(col("dst").isNotNull && col("src") =!= "purchase")
        .groupBy("src", "dst").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val types = t(s, d, "events").select(col("event_type")).distinct()
        .collect().map(_.getString(0)).sorted
      require(types.length <= 64 && edges.length <= 4096,
        "transition graph unexpectedly large — driver iteration is bounded by design")
      val states = ("START" +: types :+ "END").distinct
      val out = edges.groupBy(_._1).map { case (k, es) => k -> es.map(_._3).sum }
      def solve(pinned: Option[String]): Long = {
        var v = states.map(st =>
          st -> (if (st == "purchase") 1000000L else 0L)).toMap
        for (_ <- 1 to MkIters) {
          val nv = new scala.collection.mutable.HashMap[String, Long]()
          edges.foreach { case (src, dst, n) =>
            nv(src) = nv.getOrElse(src, 0L) + n * v(dst) / out(src)
          }
          v = states.map { st =>
            st -> (if (st == "purchase") 1000000L
                   else if (st == "END") 0L
                   else if (pinned.contains(st)) 0L
                   else nv.getOrElse(st, 0L))
          }.toMap
        }
        v("START")
      }
      val pBase = solve(None)
      val channels = types.filterNot(_ == "purchase")
      val rows = channels.map { c =>
        val pc = solve(Some(c))
        (c, pBase, pc, pBase - pc)
      }
      val totRem = rows.map(_._4).sum
      import s.implicits._
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      rows.map { case (c, pb, pc, rem) =>
        (c, r6(pb.toDouble / 1e6), r6(pc.toDouble / 1e6), rem,
          if (totRem > 0) r6(rem.toDouble / totRem.toDouble) else 0.0)
      }.toSeq.toDF("channel", "p_base", "p_removed", "removal_u",
        "attribution")
    }, Some({
      val channels = Seq("click", "error", "signup", "view")
      val chains = mkChainSql("b", None) + "," +
        channels.map(c => mkChainSql(c, Some(c))).mkString(",")
      val remRows = channels.map(c =>
        s"""SELECT '$c' AS channel,
          (SELECT r FROM vb_$MkIters WHERE v = 'START') -
          (SELECT r FROM v${c}_$MkIters WHERE v = 'START') AS removal_u,
          (SELECT r FROM v${c}_$MkIters WHERE v = 'START') AS pr""")
        .mkString("\n        UNION ALL ")
      s"""
      WITH seqd AS MATERIALIZED (
        SELECT user_id, event_type,
          lag(event_type) OVER uw AS prev,
          lead(event_type) OVER uw AS nxt
        FROM events
        WINDOW uw AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      e AS MATERIALIZED (
        SELECT 'START' AS src, event_type AS dst, CAST(COUNT(*) AS BIGINT) AS n
        FROM seqd WHERE prev IS NULL GROUP BY event_type
        UNION ALL
        SELECT prev, event_type, CAST(COUNT(*) AS BIGINT)
        FROM seqd WHERE prev IS NOT NULL AND prev <> 'purchase'
        GROUP BY prev, event_type
        UNION ALL
        SELECT event_type, 'END', CAST(COUNT(*) AS BIGINT)
        FROM seqd WHERE nxt IS NULL AND event_type <> 'purchase'
        GROUP BY event_type),
      outd AS MATERIALIZED (SELECT src, SUM(n) AS tot FROM e GROUP BY src),
      states AS MATERIALIZED (
        SELECT 'START' AS v
        UNION SELECT DISTINCT event_type FROM events
        UNION SELECT 'END'),
      $chains,
      rem AS (
        $remRows),
      tot AS (SELECT SUM(removal_u) AS tr FROM rem)
      SELECT channel,
        round(CAST((SELECT r FROM vb_$MkIters WHERE v = 'START') AS DOUBLE)
          / 1000000.0, 6) AS p_base,
        round(CAST(pr AS DOUBLE) / 1000000.0, 6) AS p_removed,
        CAST(removal_u AS BIGINT) AS removal_u,
        CASE WHEN tot.tr > 0 THEN
          round(CAST(removal_u AS DOUBLE) / CAST(tot.tr AS DOUBLE), 6)
          ELSE 0.0 END AS attribution
      FROM rem, tot"""
    }),
      notes = "Markov removal-effect multi-touch attribution over the user-journey chain (START -> types -> purchase|END): value iteration in integer micro-units with per-edge floor division (8 fixed steps, q123's discipline) for the base chain and each channel-removed chain; attribution = removal/sum(removals); metadata-sized graph, driver-held O(|states|) iteration, oracle unrolls the same steps as generated CTEs"))
}

package graft.queries

import graft.Tables
import graft.ops.{Graph, Ivm, Kmv, MarketBasket}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import LlmFixtures.hexToLongSql

/** Session-5 mining surface: market-basket analysis (Apriori pairs /
  * rules / item-item cosine), KMV distinct sketches with set
  * operations, incremental aggregate maintenance, degree-ordered
  * triangle counting, Markov event transitions and k-fold carving.
  *
  * Shared determinism rules (see StatsQueries): exact integer counts
  * everywhere, derived doubles as the same fixed IEEE op sequence in
  * both engines, 1e-6 grid at the output boundary.
  */
object MiningQueries {

  private val MinSupport = 2L
  private val KmvK = 64
  private val IvmSplit = "1998-01-01"

  /** Co-purchase memberships: distinct (order, part). */
  private def baskets(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.lineitem(s, dir)

  /** Co-purchase item graph: distinct part pairs sharing an order,
    * with the mega-basket guard the pair self-join always needs (one
    * degenerate 10^5-item order would emit C(10^5, 2) pairs from a
    * single key — the `MarketBasket.memberships` hazard, mirrored in
    * the oracle CTE so the two engines cap identically).
    */
  private val MaxBasketForEdges = 1000
  private def copurchaseEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = BuildMemo.df(s, dir, "copurchaseEdges") {
    val b = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("k"), col("l_partkey").as("i"))
      .distinct()
    val sizes = b.groupBy(col("k")).agg(count(lit(1)).as("kn"))
    val kept = b.join(sizes.filter(col("kn") <= MaxBasketForEdges)
      .select("k"), Seq("k"))
    kept.select(col("k"), col("i").as("a"))
      .join(kept.select(col("k"), col("i").as("b")), Seq("k"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** Session memo of the support-2 frequent-pair relation — rebuilt
    * identically by five miners (`basket_frequent_pairs`,
    * `basket_rules`, `basket_item_cosine`, `graph_kcore`,
    * `graph_bfs_dist`) before r16; an index-grade artifact per the
    * BuildMemo convention.
    */
  private def freqPairs2(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = BuildMemo.df(s, dir, "freqPairs2") {
    MarketBasket.frequentPairs(baskets(s, dir), "l_orderkey", "l_partkey",
      MinSupport)
  }

  /** Holt recurrence over the zero-filled daily grid (the events_ewma
    * oracle's grid chain with a two-variable state): terminal relation
    * `s(day, event_type, rn, level, trend)`, UNROUNDED — consumers
    * round at their boundary. The trend row restates the level
    * expression verbatim; identical expressions produce identical
    * doubles, so no drift.
    */
  /** Brute-force gap-windowed EXISTS pair join — the quadratic the
    * engine's last-predecessor window scan (and its streaming summary
    * stores) exists to avoid; shared by the batch query and its
    * streamed twin, whose accumulation must land on the same answer.
    */
  private val GapPairsSql: String =
    """WITH e AS (SELECT user_id, event_type,
      |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS tsec,
      |    event_id
      |  FROM events),
      |nu AS (SELECT count(DISTINCT user_id) AS n_users_total FROM e),
      |pr AS (SELECT DISTINCT a.user_id, a.event_type AS type_a,
      |    b.event_type AS type_b
      |  FROM e a JOIN e b ON a.user_id = b.user_id
      |    AND (a.tsec < b.tsec
      |      OR (a.tsec = b.tsec AND a.event_id < b.event_id))
      |    AND b.tsec - a.tsec <= 3600),
      |ct AS (SELECT type_a, type_b, count(*) AS n_users
      |  FROM pr GROUP BY 1, 2)
      |SELECT type_a, type_b, n_users,
      |  round(CAST(n_users AS DOUBLE) / n_users_total, 6) AS support
      |FROM ct, nu""".stripMargin

  private val HoltCtes: String =
    """b AS (SELECT
      |    CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS INT)
      |      AS day, event_type
      |  FROM events),
      |a AS (SELECT day, event_type, count(*) AS n FROM b GROUP BY 1, 2),
      |bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM b),
      |d AS (SELECT CAST(unnest(generate_series(lo, hi)) AS INT) AS day
      |     FROM bounds),
      |t AS (SELECT DISTINCT event_type FROM b),
      |g AS (SELECT d.day, t.event_type, coalesce(a.n, 0) AS n,
      |        row_number() OVER (PARTITION BY t.event_type
      |                           ORDER BY d.day) AS rn
      |      FROM d CROSS JOIN t
      |      LEFT JOIN a ON a.day = d.day AND a.event_type = t.event_type),
      |s AS (SELECT day, event_type, rn, CAST(n AS DOUBLE) AS level,
      |        CAST(0 AS DOUBLE) AS trend
      |      FROM g WHERE rn = 1
      |      UNION ALL
      |      SELECT g.day, g.event_type, g.rn,
      |        0.5 * g.n + 0.5 * (s.level + s.trend),
      |        0.5 * ((0.5 * g.n + 0.5 * (s.level + s.trend)) - s.level)
      |          + 0.5 * s.trend
      |      FROM g JOIN s ON g.event_type = s.event_type
      |                   AND g.rn = s.rn + 1)""".stripMargin


  /** Frequent-pairs CTE chain shared by the three basket oracles:
    * terminal relation `fp(item_a, item_b, n_a, n_b, co_n)`.
    */
  private val FreqPairsCtes: String =
    s"""b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
       |  FROM lineitem
       |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
       |sup AS (SELECT item, count(*) AS n FROM b GROUP BY 1),
       |freq AS (SELECT item, n FROM sup WHERE n >= $MinSupport),
       |fb AS (SELECT b.basket, b.item FROM b JOIN freq USING (item)),
       |p AS (SELECT x.item AS item_a, y.item AS item_b, count(*) AS co_n
       |  FROM fb x JOIN fb y ON x.basket = y.basket AND x.item < y.item
       |  GROUP BY 1, 2 HAVING count(*) >= $MinSupport),
       |fp AS (SELECT p.item_a, p.item_b, fa.n AS n_a, fb2.n AS n_b, p.co_n
       |  FROM p JOIN freq fa ON fa.item = p.item_a
       |         JOIN freq fb2 ON fb2.item = p.item_b)""".stripMargin

  /** Degree-ordered triangle CTE chain over the co-purchase graph:
    * terminal relation `tri(x, y, z)` — the same orientation rule as
    * [[Graph.triangleCounts]].
    */
  private val TriangleCtes: String =
    """bk0 AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS i FROM lineitem),
      |bk AS (SELECT k, i FROM bk0 QUALIFY count(*) OVER (PARTITION BY k) <= 1000),
      |e AS (SELECT DISTINCT x.i AS a, y.i AS b
      |  FROM bk x JOIN bk y ON x.k = y.k AND x.i < y.i),
      |deg AS (SELECT node, count(*) AS deg FROM (
      |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      |  GROUP BY 1),
      |o AS (SELECT CASE WHEN da.deg < db.deg
      |        OR (da.deg = db.deg AND e.a < e.b) THEN e.a ELSE e.b END AS s,
      |      CASE WHEN da.deg < db.deg
      |        OR (da.deg = db.deg AND e.a < e.b) THEN e.b ELSE e.a END AS d,
      |      CASE WHEN da.deg < db.deg
      |        OR (da.deg = db.deg AND e.a < e.b) THEN db.deg ELSE da.deg
      |      END AS dd
      |  FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b),
      |tri AS (SELECT w1.s AS x, w1.d AS y, w2.d AS z
      |  FROM o w1 JOIN o w2 ON w2.s = w1.s
      |    AND (w1.dd < w2.dd OR (w1.dd = w2.dd AND w1.d < w2.d))
      |  JOIN o c ON c.s = w1.d AND c.d = w2.d)""".stripMargin

  /** Per-slice KMV sketch CTE over event users: terminal `sk(slice,
    * pos, h)` with pos = 1..k by ascending 32-bit hash.
    */
  private val KmvCtes: String =
    s"""du AS (SELECT DISTINCT event_type AS slice,
       |    CAST(${hexToLongSql("md5(CAST(user_id AS VARCHAR))", 1, 8)}
       |      AS BIGINT) AS h
       |  FROM events WHERE event_type IS NOT NULL),
       |sk AS (SELECT slice, pos, h FROM (
       |    SELECT slice, h, row_number() OVER (
       |      PARTITION BY slice ORDER BY h) AS pos
       |    FROM du) WHERE pos <= $KmvK)""".stripMargin

  val declared: Seq[Declared] = Seq(
    // frequent co-purchased part pairs, Apriori-pruned before the
    // basket self-join (downward closure; mega-basket cap on)
    Declared("basket_frequent_pairs", (s, dir) => freqPairs2(s, dir),
      s"""WITH $FreqPairsCtes
         |SELECT item_a, item_b, n_a, n_b, co_n FROM fp""".stripMargin),

    // both-direction association rules with support/confidence/lift
    Declared("basket_rules", (s, dir) =>
      MarketBasket.associationRulesFrom(freqPairs2(s, dir),
        MarketBasket.basketCount(baskets(s, dir), "l_orderkey",
          "l_partkey")),
      s"""WITH $FreqPairsCtes,
         |nb AS (SELECT count(DISTINCT basket) AS n_baskets FROM b),
         |d AS (SELECT item_a AS antecedent, item_b AS consequent,
         |    n_a AS n_ante, n_b AS n_cons, co_n FROM fp
         |  UNION ALL
         |  SELECT item_b, item_a, n_b, n_a, co_n FROM fp)
         |SELECT antecedent, consequent, co_n,
         |  round(CAST(co_n AS DOUBLE) / n_baskets, 6) AS support,
         |  round(CAST(co_n AS DOUBLE) / n_ante, 6) AS confidence,
         |  round(CAST(co_n AS DOUBLE) * n_baskets /
         |    (CAST(n_ante AS DOUBLE) * n_cons), 6) AS lift
         |FROM d, nb""".stripMargin),

    // top-5 cosine neighbors per part over co-purchase counts
    Declared("basket_item_cosine", (s, dir) =>
      MarketBasket.itemNeighborsFrom(freqPairs2(s, dir), k = 5),
      s"""WITH $FreqPairsCtes,
         |d AS (SELECT item_a AS item, item_b AS neighbor,
         |    n_a AS n_item, n_b AS n_nbr, co_n FROM fp
         |  UNION ALL
         |  SELECT item_b, item_a, n_b, n_a, co_n FROM fp),
         |sc AS (SELECT item, neighbor, co_n,
         |    round(CAST(co_n AS DOUBLE) /
         |      sqrt(CAST(n_item AS DOUBLE) * n_nbr), 6) AS cosine
         |  FROM d)
         |SELECT item, neighbor, co_n, cosine, rk FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY item
         |    ORDER BY cosine DESC, neighbor) AS INT) AS rk FROM sc)
         |WHERE rk <= 5""".stripMargin),

    // per-event-type distinct-user estimates from the k=64 KMV sketch,
    // audited against the exact distinct count in the same row
    Declared("sketch_kmv_distinct", (s, dir) => {
      val ev = Tables.events(s, dir)
      val est = Kmv.distinctEstimate(
        Kmv.sketch(ev, "event_type", "user_id", KmvK), KmvK)
      val exact = ev.groupBy(col("event_type").as("slice"))
        .agg(countDistinct(col("user_id")).as("exact_d"))
      est.join(exact, Seq("slice"))
        .select(col("slice"), col("n_seen"), col("est"), col("exact_d"),
          round(abs(col("est") - col("exact_d")) / col("exact_d"), 6)
            .as("rel_err"))
    },
      s"""WITH $KmvCtes,
         |est AS (SELECT slice, count(*) AS n_seen,
         |    max(CASE WHEN pos = $KmvK THEN h END) AS hk
         |  FROM sk GROUP BY 1),
         |ex AS (SELECT event_type AS slice,
         |    count(DISTINCT user_id) AS exact_d
         |  FROM events GROUP BY 1)
         |SELECT e.slice, e.n_seen,
         |  CASE WHEN e.n_seen < $KmvK THEN CAST(e.n_seen AS DOUBLE)
         |    ELSE round(${(KmvK - 1).toDouble} * 4294967296.0 /
         |      CAST(e.hk + 1 AS DOUBLE), 6) END AS est,
         |  ex.exact_d,
         |  round(abs((CASE WHEN e.n_seen < $KmvK
         |      THEN CAST(e.n_seen AS DOUBLE)
         |      ELSE round(${(KmvK - 1).toDouble} * 4294967296.0 /
         |        CAST(e.hk + 1 AS DOUBLE), 6) END) - ex.exact_d)
         |    / ex.exact_d, 6) AS rel_err
         |FROM est e JOIN ex ON ex.slice = e.slice""".stripMargin),

    // clicker-vs-viewer audience overlap WITHOUT joining the audiences:
    // Jaccard + intersection estimated from the two 64-row sketches,
    // exact intersection carried for the audit
    Declared("sketch_kmv_overlap", (s, dir) => {
      val ev = Tables.events(s, dir)
      val sk = Kmv.sketch(ev, "event_type", "user_id", KmvK)
      val users = (t: String) => ev.filter(col("event_type") === t)
        .select(col("user_id")).distinct()
      val exact = users("click").intersect(users("view"))
        .agg(count(lit(1)).as("exact_intersection"))
      Kmv.overlapEstimate(sk, "click", "view", KmvK)
        .crossJoin(broadcast(exact))
    },
      s"""WITH $KmvCtes,
         |t AS (SELECT h, max(CASE WHEN slice = 'click' THEN 1 ELSE 0 END)
         |      AS in_a,
         |    max(CASE WHEN slice = 'view' THEN 1 ELSE 0 END) AS in_b
         |  FROM sk WHERE slice IN ('click', 'view') GROUP BY 1),
         |m AS (SELECT * FROM (
         |    SELECT h, in_a, in_b, row_number() OVER (ORDER BY h) AS pos
         |    FROM t) WHERE pos <= $KmvK),
         |agg AS (SELECT count(*) AS n_merged,
         |    CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
         |    max(CASE WHEN pos = $KmvK THEN h END) AS hk
         |  FROM m),
         |ex AS (SELECT count(*) AS exact_intersection FROM (
         |    SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
         |    INTERSECT
         |    SELECT DISTINCT user_id FROM events WHERE event_type = 'view'))
         |SELECT 'click' AS slice_a, 'view' AS slice_b, n_both,
         |  round(CAST(n_both AS DOUBLE) / n_merged, 6) AS jaccard_est,
         |  round((CAST(n_both AS DOUBLE) / n_merged) *
         |    (CASE WHEN n_merged < $KmvK THEN CAST(n_merged AS DOUBLE)
         |      ELSE ${(KmvK - 1).toDouble} * 4294967296.0 /
         |        CAST(hk + 1 AS DOUBLE) END), 6) AS intersection_est,
         |  exact_intersection
         |FROM agg, ex""".stripMargin),

    // the full audience-overlap matrix from the per-type sketches alone
    // — every unordered event-type pair's Jaccard + intersection
    // estimate, the audiences never joined
    Declared("sketch_kmv_overlap_matrix", (s, dir) =>
      Kmv.overlapMatrix(
        Kmv.sketch(Tables.events(s, dir), "event_type", "user_id", KmvK),
        KmvK),
      s"""WITH $KmvCtes,
         |pairs AS (SELECT a.slice AS slice_a, b.slice AS slice_b
         |  FROM (SELECT DISTINCT slice FROM sk) a
         |  JOIN (SELECT DISTINCT slice FROM sk) b ON a.slice < b.slice),
         |t AS (SELECT p.slice_a, p.slice_b, s.h,
         |    max(CASE WHEN s.slice = p.slice_a THEN 1 ELSE 0 END) AS in_a,
         |    max(CASE WHEN s.slice = p.slice_b THEN 1 ELSE 0 END) AS in_b
         |  FROM pairs p JOIN sk s ON s.slice IN (p.slice_a, p.slice_b)
         |  GROUP BY 1, 2, 3),
         |m AS (SELECT * FROM (
         |    SELECT slice_a, slice_b, h, in_a, in_b, row_number() OVER (
         |      PARTITION BY slice_a, slice_b ORDER BY h) AS pos
         |    FROM t) WHERE pos <= $KmvK),
         |agg AS (SELECT slice_a, slice_b, count(*) AS n_merged,
         |    CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
         |    max(CASE WHEN pos = $KmvK THEN h END) AS hk
         |  FROM m GROUP BY 1, 2)
         |SELECT slice_a, slice_b, n_both,
         |  round(CAST(n_both AS DOUBLE) / n_merged, 6) AS jaccard_est,
         |  round((CAST(n_both AS DOUBLE) / n_merged) *
         |    (CASE WHEN n_merged < $KmvK THEN CAST(n_merged AS DOUBLE)
         |      ELSE ${(KmvK - 1).toDouble} * 4294967296.0 /
         |        CAST(hk + 1 AS DOUBLE) END), 6) AS intersection_est
         |FROM agg""".stripMargin),

    // the maintained gold view: base partials (orders before the split)
    // merged with delta partials (orders after) — history never
    // rescanned; result must equal the full recompute
    Declared("agg_incremental_merge", (s, dir) => {
      val o = Tables.orders(s, dir)
      val grp = Seq("o_orderstatus", "o_orderpriority")
      val base = Ivm.partials(o.filter(col("o_orderdate") < lit(IvmSplit)),
        grp, "o_totalprice")
      val delta = Ivm.partials(o.filter(col("o_orderdate") >= lit(IvmSplit)),
        grp, "o_totalprice")
      Ivm.readView(Ivm.merge(Seq(base, delta), grp))
    },
      // the oracle is the FULL recompute — equality with the merged
      // partials IS the maintenance-correctness statement
      s"""SELECT o_orderstatus, o_orderpriority,
         |  count(o_totalprice) AS n,
         |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
         |    AS DOUBLE), 6) AS sum_v,
         |  round(CAST(min(o_totalprice) AS DOUBLE), 6) AS min_v,
         |  round(CAST(max(o_totalprice) AS DOUBLE), 6) AS max_v,
         |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
         |    AS DOUBLE) / count(o_totalprice), 6) AS avg_v
         |FROM orders GROUP BY 1, 2""".stripMargin),

    // per-part triangle participation in the co-purchase graph,
    // degree-ordered enumeration (each triangle once, fanout O(sqrt m))
    Declared("graph_triangles", (s, dir) =>
      Graph.triangleCounts(copurchaseEdges(s, dir)),
      s"""WITH $TriangleCtes
         |SELECT node, count(*) AS n_tri FROM (
         |  SELECT x AS node FROM tri
         |  UNION ALL SELECT y FROM tri
         |  UNION ALL SELECT z FROM tri)
         |GROUP BY 1""".stripMargin),

    // degree histogram of the same graph
    Declared("graph_degrees", (s, dir) =>
      Graph.degreeHistogram(copurchaseEdges(s, dir)),
      """WITH bk0 AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS i
        |  FROM lineitem),
        |bk AS (SELECT k, i FROM bk0
        |  QUALIFY count(*) OVER (PARTITION BY k) <= 1000),
        |e AS (SELECT DISTINCT x.i AS a, y.i AS b
        |  FROM bk x JOIN bk y ON x.k = y.k AND x.i < y.i),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY 1)
        |SELECT deg, count(*) AS n_nodes FROM deg GROUP BY 1""".stripMargin),

    // first-order Markov transition matrix over each user's event
    // sequence: counts + row-normalized probabilities
    Declared("events_markov", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_timestamp(col("ts")).as("tsec"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tsec"), col("event_id"))
      val trans = ev.withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = trans.groupBy(col("from_type"))
        .agg(sum(col("n")).as("n_from"))
      trans.join(broadcast(totals), Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n").cast("double") / col("n_from"), 6).as("p"))
    },
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS tsec
        |  FROM events),
        |s AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY tsec, event_id) AS to_type
        |  FROM e),
        |tr AS (SELECT from_type, to_type, count(*) AS n FROM s
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, sum(n) AS n_from FROM tr GROUP BY 1)
        |SELECT tr.from_type, tr.to_type, tr.n,
        |  round(CAST(tr.n AS DOUBLE) / tot.n_from, 6) AS p
        |FROM tr JOIN tot ON tot.from_type = tr.from_type""".stripMargin),

    // sequential-pattern support: users whose history contains event
    // type X strictly-before type Y (ANY gap — the non-adjacent
    // companion of events_markov's adjacent transitions). The naive
    // shape is a per-user self-join (events² per user — the hot-user
    // quadratic); this one is per-(user, type) MIN/MAX occurrence
    // aggregates joined per user — fanout |types|² per user, bounded by
    // the type alphabet, NEVER by activity. "X before Y" for a user ⟺
    // first(X) < last(Y) on the (ts, event_id) total order.
    Declared("events_seq_patterns", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_timestamp(col("ts")).as("tsec"), col("event_id"))
      val occ = ev.groupBy(col("user_id"), col("event_type"))
        .agg(min(struct(col("tsec"), col("event_id"))).as("first_occ"),
          max(struct(col("tsec"), col("event_id"))).as("last_occ"))
      val nUsers = ev.agg(countDistinct(col("user_id")).as("n_users_total"))
      occ.select(col("user_id"), col("event_type").as("type_a"),
          col("first_occ").as("fa"))
        .join(occ.select(col("user_id"), col("event_type").as("type_b"),
          col("last_occ").as("lb")), Seq("user_id"))
        .filter(col("fa.tsec") < col("lb.tsec") ||
          (col("fa.tsec") === col("lb.tsec") &&
            col("fa.event_id") < col("lb.event_id")))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_users"))
        .crossJoin(broadcast(nUsers))
        .select(col("type_a"), col("type_b"), col("n_users"),
          round(col("n_users").cast("double") / col("n_users_total"), 6)
            .as("support"))
    },
      """WITH e AS (SELECT user_id, event_type,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS tsec,
        |    event_id
        |  FROM events),
        |occ AS (SELECT user_id, event_type,
        |    first(tsec ORDER BY tsec, event_id) AS fts,
        |    first(event_id ORDER BY tsec, event_id) AS fid,
        |    last(tsec ORDER BY tsec, event_id) AS lts,
        |    last(event_id ORDER BY tsec, event_id) AS lid
        |  FROM e GROUP BY 1, 2),
        |nu AS (SELECT count(DISTINCT user_id) AS n_users_total FROM e),
        |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*) AS n_users
        |  FROM occ a JOIN occ b ON a.user_id = b.user_id
        |    AND (a.fts < b.lts OR (a.fts = b.lts AND a.fid < b.lid))
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_users,
        |  round(CAST(n_users AS DOUBLE) / n_users_total, 6) AS support
        |FROM pr, nu""".stripMargin),

    // length-3 sequential patterns (A strictly-before B strictly-before
    // C, any gaps) via the minimal-occurrence extension of the min/max
    // trick — fanout |types|³ per user, never events³ (EventOps
    // scaladoc has the exchange argument; the hot-user ladder row is in
    // BASELINE.md)
    Declared("events_seq_patterns3", (s, dir) =>
      graft.ops.EventOps.seqPatterns3(
        Tables.events(s, dir).select(col("user_id"), col("event_type"),
          unix_timestamp(col("ts")).as("tsec"), col("event_id"))),
      """WITH e AS (SELECT user_id, event_type,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS tsec,
        |    event_id
        |  FROM events),
        |fo AS (SELECT user_id, event_type AS type_a,
        |    first(tsec ORDER BY tsec, event_id) AS fts,
        |    first(event_id ORDER BY tsec, event_id) AS fid
        |  FROM e GROUP BY 1, 2),
        |lo AS (SELECT user_id, event_type AS type_c,
        |    last(tsec ORDER BY tsec, event_id) AS lts,
        |    last(event_id ORDER BY tsec, event_id) AS lid
        |  FROM e GROUP BY 1, 2),
        |e2 AS (SELECT b.user_id, fo.type_a, b.event_type AS type_b,
        |    first(b.tsec ORDER BY b.tsec, b.event_id) AS mts,
        |    first(b.event_id ORDER BY b.tsec, b.event_id) AS mid
        |  FROM e b JOIN fo ON b.user_id = fo.user_id
        |  WHERE b.tsec > fo.fts OR (b.tsec = fo.fts AND b.event_id > fo.fid)
        |  GROUP BY 1, 2, 3),
        |nu AS (SELECT count(DISTINCT user_id) AS n_users_total FROM e),
        |tr AS (SELECT e2.type_a, e2.type_b, lo.type_c, count(*) AS n_users
        |  FROM e2 JOIN lo ON e2.user_id = lo.user_id
        |    AND (e2.mts < lo.lts OR (e2.mts = lo.lts AND e2.mid < lo.lid))
        |  GROUP BY 1, 2, 3)
        |SELECT type_a, type_b, type_c, n_users,
        |  round(CAST(n_users AS DOUBLE) / n_users_total, 6) AS support
        |FROM tr, nu""".stripMargin),

    // GAP-CONSTRAINED sequential patterns (r18): A before B within 1h —
    // the min/max trick is blind to gaps (a tight witness can hide
    // between a far-apart first(A)/last(B)), so this runs the
    // last-predecessor merged-stream window scan: |events|x|types|
    // fanout, never the events x window-density self-join the oracle
    // models (EventOps.seqPatternsGap scaladoc has the exactness
    // argument; hot-user ladder in BASELINE.md)
    Declared("events_seq_patterns_gap", (s, dir) =>
      graft.ops.EventOps.seqPatternsGap(
        Tables.events(s, dir).select(col("user_id"), col("event_type"),
          unix_timestamp(col("ts")).as("tsec"), col("event_id")),
        maxGapSeconds = 3600),
      // brute-force gap-windowed EXISTS pair join — the quadratic the
      // engine's last-predecessor window scan exists to avoid
      GapPairsSql),

    // length-3 with BOTH consecutive gaps <= 1h: greedy stays exact by
    // chaining the last-predecessor argument once (latest VALID
    // 2-prefix before each c minimizes the second gap) — fanout
    // |events|x|pairs| (<= |types|^2), never events^3
    Declared("events_seq_patterns_gap3", (s, dir) =>
      graft.ops.EventOps.seqPatternsGap3(
        Tables.events(s, dir).select(col("user_id"), col("event_type"),
          unix_timestamp(col("ts")).as("tsec"), col("event_id")),
        maxGapSeconds = 3600),
      """WITH e AS (SELECT user_id, event_type,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS tsec,
        |    event_id
        |  FROM events),
        |nu AS (SELECT count(DISTINCT user_id) AS n_users_total FROM e),
        |tr AS (SELECT DISTINCT a.user_id, a.event_type AS type_a,
        |    b.event_type AS type_b, c.event_type AS type_c
        |  FROM e a
        |  JOIN e b ON a.user_id = b.user_id
        |    AND (a.tsec < b.tsec
        |      OR (a.tsec = b.tsec AND a.event_id < b.event_id))
        |    AND b.tsec - a.tsec <= 3600
        |  JOIN e c ON b.user_id = c.user_id
        |    AND (b.tsec < c.tsec
        |      OR (b.tsec = c.tsec AND b.event_id < c.event_id))
        |    AND c.tsec - b.tsec <= 3600),
        |ct AS (SELECT type_a, type_b, type_c, count(*) AS n_users
        |  FROM tr GROUP BY 1, 2, 3)
        |SELECT type_a, type_b, type_c, n_users,
        |  round(CAST(n_users AS DOUBLE) / n_users_total, 6) AS support
        |FROM ct, nu""".stripMargin),

    // the STREAMING face driven end-to-end as a declared query (the
    // llm_corpus_prep_publish convention for store-writing capstones):
    // two time-ordered ingest steps through SeqPatternIngest's
    // last-predecessor summary stores (one row per (user, type) — never
    // the event history), then the accumulated support aggregated; the
    // oracle is the BATCH gap-pattern SQL over all events, so the
    // summary-state recurrence is hash-gated, not just spec'd
    Declared("events_seq_gap_stream", (s, dir) => {
      // per-invocation path: Bench's re-time sampling re-evaluates this
      // fn, and a stable path would race concurrent evaluations on the
      // shared delete (ADVICE r18)
      val base =
        graft.queries.ParityQueries.scratchInvocation("events_seq_gap_stream")
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(p, true) // fresh stores: the query IS the ingest
      val ev = Tables.events(s, dir).select(col("user_id"),
        col("event_type"), unix_timestamp(col("ts")).as("tsec"),
        col("event_id"))
      val cut = unix_timestamp(
        lit("2024-01-24 00:00:00").cast("timestamp"))
      val (lastD, v2D, s2D, s3D) =
        (s"$base/last", s"$base/v2", s"$base/s2", s"$base/s3")
      graft.streaming.SeqPatternIngest.ingestBatch(
        ev.filter(col("tsec") < cut), lastD, v2D, s2D, s3D, 3600)
      graft.streaming.SeqPatternIngest.ingestBatch(
        ev.filter(col("tsec") >= cut), lastD, v2D, s2D, s3D, 3600)
      val nUsers = ev.agg(countDistinct(col("user_id"))
        .as("n_users_total"))
      graft.streaming.SeqPatternIngest.support2(s, s2D)
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_users"))
        .crossJoin(broadcast(nUsers))
        .select(col("type_a"), col("type_b"), col("n_users"),
          round(col("n_users").cast("double") / col("n_users_total"), 6)
            .as("support"))
    },
      // the streamed accumulation must land on the BATCH answer exactly
      GapPairsSql),

    // connected components of the STRONG co-purchase graph (pair
    // support >= 3): product communities via the shared min-label
    // propagation (Dedup.resolveClusters — the ER clustering engine
    // applied to a product graph). Label = min item id in the component.
    Declared("graph_components", (s, dir) => {
      val edges = MarketBasket.frequentPairs(baskets(s, dir), "l_orderkey",
          "l_partkey", minSupport = 3)
        .select(col("item_a").as("doc_a"), col("item_b").as("doc_b"))
      graft.ops.Dedup.resolveClusters(edges)
        .select(col("node").as("item"), col("label").as("component_id"))
    },
      """WITH RECURSIVE
        |b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |      FROM lineitem
        |      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |sup AS (SELECT item, count(*) AS n FROM b GROUP BY 1),
        |freq AS (SELECT item FROM sup WHERE n >= 3),
        |fb AS (SELECT b.basket, b.item FROM b JOIN freq USING (item)),
        |p AS (SELECT x.item AS a, y.item AS bb, count(*) AS co_n
        |      FROM fb x JOIN fb y ON x.basket = y.basket AND x.item < y.item
        |      GROUP BY 1, 2 HAVING count(*) >= 3),
        |e AS (SELECT a, bb AS b FROM p UNION SELECT bb, a FROM p),
        |nodes AS (SELECT DISTINCT a AS node FROM e),
        |r AS (SELECT node AS id, node AS reach FROM nodes
        |      UNION
        |      SELECT r.id, e.b FROM r JOIN e ON r.reach = e.a)
        |SELECT id AS item, min(reach) AS component_id
        |FROM r GROUP BY 1""".stripMargin),

    // adjacent-token collocations: bigrams whose observed co-occurrence
    // beats the unigram-independence expectation (the PMI family, kept
    // as a lift RATIO — log is libm, not IEEE-fixed, so the oracle
    // could drift on the last ulp; the ratio is exact multiplication).
    Declared("text_collocations", (s, dir) => {
      val ws = expr("filter(split(lower(text), ' '), x -> x != '')")
      val d = Tables.documents(s, dir).select(ws.as("ws"))
      val uni = d.select(explode(col("ws")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
      val nUni = uni.agg(sum(col("n")).as("n_tokens"))
      // greatest(..., 0): slice throws on a negative length, so an empty
      // or whitespace-only document (size(ws) = 0) must degrade to zero
      // bigrams exactly like the oracle's generate_series(1, len-1) does.
      val bg = d.select(explode(arrays_zip(
          expr("slice(ws, 1, greatest(size(ws) - 1, 0))"),
          expr("slice(ws, 2, greatest(size(ws) - 1, 0))"))).as("bg"))
        .select(col("bg.0").as("w1"), col("bg.1").as("w2"))
      val nBi = bg.agg(count(lit(1)).as("n_bigrams"))
      bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("co_n"))
        .filter(col("co_n") >= 20)
        .join(uni.select(col("w").as("w1"), col("n").as("n1")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("n").as("n2")), Seq("w2"))
        .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
        .select(col("w1"), col("w2"), col("co_n"), col("n1"), col("n2"),
          round((col("co_n").cast("double") / col("n_bigrams")) /
            ((col("n1").cast("double") / col("n_tokens")) *
             (col("n2").cast("double") / col("n_tokens"))), 6).as("lift"))
    },
      """WITH t AS (SELECT list_filter(string_split(lower(text), ' '),
        |      x -> x <> '') AS ws FROM documents),
        |u AS (SELECT unnest(ws) AS w FROM t),
        |uni AS (SELECT w, count(*) AS n FROM u GROUP BY 1),
        |nu AS (SELECT CAST(sum(n) AS BIGINT) AS n_tokens FROM uni),
        |bg AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
        |       FROM t, LATERAL (SELECT unnest(generate_series(1,
        |         len(ws) - 1)) AS i) g),
        |nb AS (SELECT count(*) AS n_bigrams FROM bg),
        |co AS (SELECT w1, w2, count(*) AS co_n FROM bg GROUP BY 1, 2
        |       HAVING count(*) >= 20)
        |SELECT co.w1, co.w2, co.co_n, a.n AS n1, b.n AS n2,
        |  round((CAST(co.co_n AS DOUBLE) / nb.n_bigrams) /
        |    ((CAST(a.n AS DOUBLE) / nu.n_tokens) *
        |     (CAST(b.n AS DOUBLE) / nu.n_tokens)), 6) AS lift
        |FROM co JOIN uni a ON a.w = co.w1
        |        JOIN uni b ON b.w = co.w2, nu, nb""".stripMargin),

    // RFM customer segmentation: recency/frequency/monetary quartile
    // scores with thresholds from the distributed-CDF exact quantiles
    // (broadcast scalars — no global-sort ntile); integer end-to-end,
    // so the whole result hash-gates with zero float surface
    Declared("analytics_rfm", (s, dir) => {
      val o = Tables.orders(s, dir)
      val cust = o.groupBy(col("o_custkey").as("custkey"))
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("frequency"),
          sum(round(col("o_totalprice") * 100).cast("long"))
            .as("monetary_cents"))
      val anchor = o.agg(max(col("o_orderdate")).as("anchor"))
      // r21 note: persisting this base relation was TRIED and reverted —
      // the static plan shows 58 scans/73 exchanges across the three
      // exact-CDF quartile legs, but the same-window A/B
      // (OPTIMIZATION_r21.md) measured the persist ~1.5-2x SLOWER
      // (3.9/4.7 s vs 3.0/2.2 s old): the repeated
      // subtrees are ReusedExchange-deduped and OS-cache-backed, so the
      // cache write + per-leg read overhead nets negative at this shape.
      val m = cust.crossJoin(broadcast(anchor))
        .withColumn("recency_days",
          datediff(col("anchor"), col("last_order")).cast("long"))
        .select(col("custkey"), col("recency_days"), col("frequency"),
          col("monetary_cents"))
      def quartiles(c: String, hi: Long, tag: String) = broadcast(
        graft.ops.DataProfile.quantilesExact(m, c, 0L, hi, Seq(25, 50, 75))
          .agg(max(when(col("p") === 25, col("value"))).as(s"${tag}25"),
            max(when(col("p") === 50, col("value"))).as(s"${tag}50"),
            max(when(col("p") === 75, col("value"))).as(s"${tag}75")))
      val scored = m
        .crossJoin(quartiles("recency_days", 4096L, "r"))
        .crossJoin(quartiles("frequency", 256L, "f"))
        .crossJoin(quartiles("monetary_cents", 1L << 32, "m"))
      def up(v: String, t: String) = (lit(1) +
        (col(v) > col(s"${t}25")).cast("int") +
        (col(v) > col(s"${t}50")).cast("int") +
        (col(v) > col(s"${t}75")).cast("int"))
      val down = (lit(1) +
        (col("recency_days") <= col("r75")).cast("int") +
        (col("recency_days") <= col("r50")).cast("int") +
        (col("recency_days") <= col("r25")).cast("int"))
      scored.select(col("custkey"), col("recency_days"), col("frequency"),
          col("monetary_cents"),
          down.as("r_score"),
          up("frequency", "f").as("f_score"),
          up("monetary_cents", "m").as("m_score"))
        .withColumn("rfm",
          col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
    },
      {
        // type-1 quantile per metric: smallest value whose cumulative
        // count reaches (n*p + 99) div 100 — quantilesExact restated
        def q(metric: String, tag: String) =
          s"""q$tag AS (SELECT ps.p, min(s.v) AS value FROM
             |    (SELECT $metric AS v,
             |       row_number() OVER (ORDER BY $metric) AS rn FROM m) s,
             |    (SELECT unnest([25, 50, 75]) AS p) ps, n
             |  WHERE s.rn >= (n.n * ps.p + 99) // 100 GROUP BY 1),
             |p$tag AS (SELECT
             |    max(CASE WHEN p = 25 THEN value END) AS ${tag}25,
             |    max(CASE WHEN p = 50 THEN value END) AS ${tag}50,
             |    max(CASE WHEN p = 75 THEN value END) AS ${tag}75
             |  FROM q$tag)""".stripMargin
        s"""WITH o AS (SELECT o_custkey, o_orderdate,
           |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           |  FROM orders),
           |a AS (SELECT max(o_orderdate) AS anchor FROM o),
           |m AS (SELECT o_custkey AS custkey,
           |    CAST(date_diff('day', max(o_orderdate),
           |      (SELECT anchor FROM a)) AS BIGINT) AS recency_days,
           |    count(*) AS frequency,
           |    CAST(sum(cents) AS BIGINT) AS monetary_cents
           |  FROM o GROUP BY 1),
           |n AS (SELECT count(*) AS n FROM m),
           |${q("recency_days", "r")},
           |${q("frequency", "f")},
           |${q("monetary_cents", "mm")},
           |sc AS (SELECT m.*,
           |    CAST(1 + CASE WHEN recency_days <= r75 THEN 1 ELSE 0 END
           |           + CASE WHEN recency_days <= r50 THEN 1 ELSE 0 END
           |           + CASE WHEN recency_days <= r25 THEN 1 ELSE 0 END
           |      AS INT) AS r_score,
           |    CAST(1 + CASE WHEN frequency > f25 THEN 1 ELSE 0 END
           |           + CASE WHEN frequency > f50 THEN 1 ELSE 0 END
           |           + CASE WHEN frequency > f75 THEN 1 ELSE 0 END
           |      AS INT) AS f_score,
           |    CAST(1 + CASE WHEN monetary_cents > mm25 THEN 1 ELSE 0 END
           |           + CASE WHEN monetary_cents > mm50 THEN 1 ELSE 0 END
           |           + CASE WHEN monetary_cents > mm75 THEN 1 ELSE 0 END
           |      AS INT) AS m_score
           |  FROM m, pr, pf, pmm)
           |SELECT custkey, recency_days, frequency, monetary_cents,
           |  r_score, f_score, m_score,
           |  CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS rfm
           |FROM sc""".stripMargin
      }),

    // fixed-round k-core peel (k=3, 8 rounds — the pagerank fixed-
    // iteration convention so the oracle unrolls identical rounds) on
    // the support>=2 co-purchase graph: the repeatedly-co-bought
    // product backbone
    Declared("graph_kcore", (s, dir) =>
      Graph.kcorePeel(freqPairs2(s, dir)
        .select(col("item_a").as("a"), col("item_b").as("b")), 3, 8),
      {
        // 8 unrolled peel rounds over the fp edge set (same rounds the
        // Spark operator runs) — generated, not hand-written
        // MATERIALIZED: DuckDB inlines plain CTEs, and each round
        // references its predecessor three times — 3^8 copies of the
        // base scan without the hint (observed as an fd exhaustion)
        val rounds = (0 until 8).map { i =>
          s"""d$i AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
             |    SELECT a AS node FROM e$i UNION ALL SELECT b FROM e$i)
             |  GROUP BY 1),
             |k$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= 3),
             |e${i + 1} AS MATERIALIZED (SELECT e$i.a, e$i.b FROM e$i
             |  JOIN k$i x ON x.node = e$i.a
             |  JOIN k$i y ON y.node = e$i.b)""".stripMargin
        }.mkString(",\n")
        s"""WITH $FreqPairsCtes,
           |e0 AS MATERIALIZED (SELECT item_a AS a, item_b AS b FROM fp),
           |$rounds
           |SELECT node, count(*) AS deg FROM (
           |  SELECT a AS node FROM e8 UNION ALL SELECT b FROM e8)
           |GROUP BY 1 HAVING count(*) >= 3""".stripMargin
      }),

    // hop distances from the lowest item id in the same graph, 4 hops:
    // frontier expansion joins ONLY the frontier per round (the memo
    // already materialized the pair relation, so no extra checkpoint)
    Declared("graph_bfs_dist", (s, dir) => {
      val e = freqPairs2(s, dir)
        .select(col("item_a").as("a"), col("item_b").as("b"))
      val src = e.agg(min(col("a"))).head.getLong(0)
      Graph.bfsDistances(e, src, 4)
    },
      s"""WITH RECURSIVE $FreqPairsCtes,
         |e AS (SELECT item_a AS a, item_b AS b FROM fp),
         |adj AS (SELECT a AS u, b AS v FROM e
         |        UNION ALL SELECT b, a FROM e),
         |r AS (SELECT (SELECT min(a) FROM e) AS node, 0 AS dist
         |      UNION
         |      SELECT adj.v, r.dist + 1 FROM r JOIN adj ON adj.u = r.node
         |      WHERE r.dist < 4)
         |SELECT node, min(dist) AS dist FROM r GROUP BY 1""".stripMargin),

    // interval-OVERLAP join (campaign windows x shipping windows) via
    // the grid-cell equi join — no range condition ever reaches a join
    // operator. Shipping interval = [ship_day, ship_day + 1 + key%20);
    // campaigns = 25 overlapping 120-day windows from the nation keys.
    // Aggregated per campaign so the report is campaign-sized.
    Declared("join_interval_overlap", (s, dir) => {
      // DISTINCT interval instances (the fixture has duplicate
      // (orderkey, linenumber) rows, so identity is the composite
      // string key — unique over the distinct relation on both engines)
      val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
          datediff(to_date(col("l_shipdate")), lit("1992-01-01"))
            .cast("long").as("ship_start"))
        .withColumn("ship_end",
          col("ship_start") + 1 +
            pmod(col("l_orderkey") + col("l_linenumber"), lit(20)))
        .distinct()
        .withColumn("line_key", concat_ws("|", col("l_orderkey"),
          col("l_linenumber"), col("l_suppkey"), col("ship_start")))
      val camp = Tables.nation(s, dir).select(
        col("n_nationkey").as("campaign_id"),
        (col("n_nationkey") * 90).cast("long").as("c_start"),
        (col("n_nationkey") * 90 + 120).cast("long").as("c_end"))
      val hits = graft.ops.Joins.intervalOverlapJoin(
        li, "line_key", "ship_start", "ship_end",
        camp, "campaign_id", "c_start", "c_end", bucketWidth = 120)
        .join(li.select(col("line_key"), col("l_suppkey")), Seq("line_key"))
      hits.groupBy(col("campaign_id"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("overlap_end") - col("overlap_start"))
            .as("overlap_days"),
          countDistinct(col("l_suppkey")).as("n_suppliers"))
    },
      """WITH li AS (SELECT DISTINCT l_orderkey, l_linenumber, l_suppkey,
        |    CAST(date_diff('day', DATE '1992-01-01',
        |      CAST(l_shipdate AS DATE)) AS BIGINT) AS ship_start,
        |    CAST(date_diff('day', DATE '1992-01-01',
        |      CAST(l_shipdate AS DATE)) AS BIGINT) + 1 +
        |      ((l_orderkey + l_linenumber) % 20) AS ship_end
        |  FROM lineitem),
        |li2 AS (SELECT * FROM li),
        |camp AS (SELECT n_nationkey AS campaign_id,
        |    CAST(n_nationkey * 90 AS BIGINT) AS c_start,
        |    CAST(n_nationkey * 90 + 120 AS BIGINT) AS c_end
        |  FROM nation),
        |hits AS (SELECT l.l_suppkey, c.campaign_id,
        |    greatest(l.ship_start, c.c_start) AS o_start,
        |    least(l.ship_end, c.c_end) AS o_end
        |  FROM li2 l JOIN camp c
        |    ON l.ship_start < c.c_end AND c.c_start < l.ship_end)
        |SELECT campaign_id, count(*) AS n_lines,
        |  CAST(sum(o_end - o_start) AS BIGINT) AS overlap_days,
        |  count(DISTINCT l_suppkey) AS n_suppliers
        |FROM hits GROUP BY 1""".stripMargin),

    // bloom-pruned semi join: high-value order lines, with the big
    // side's shuffle cut by a few hundred KB of bits instead of a
    // corpus-sized broadcast — result provably equals the plain semi
    // join (false positives removed by the exact survivor join)
    Declared("join_bloom_semi", (s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"),
        col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      val hi = Tables.orders(s, dir)
        .filter(col("o_totalprice") > 450000.0).select(col("o_orderkey"))
      graft.ops.Joins.bloomSemiJoin(li, "l_orderkey", hi, "o_orderkey")
    },
      """SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_totalprice > 450000)""".stripMargin),

    // the anti dual: order lines NOT belonging to a high-value order —
    // a bloom MISS is a proof of non-membership, so ~90% of the big
    // side is emitted straight from the scan; only maybe-members shuffle
    Declared("join_bloom_anti", (s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"),
        col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      val hi = Tables.orders(s, dir)
        .filter(col("o_totalprice") > 450000.0).select(col("o_orderkey"))
      graft.ops.Joins.bloomAntiJoin(li, "l_orderkey", hi, "o_orderkey")
    },
      // NOT EXISTS, not NOT IN: the operator follows Spark's left_anti
      // rule (a null key never equals anything -> the row is KEPT), and
      // NOT EXISTS keeps null-keyed rows too, while NOT IN would drop
      // them under three-valued logic
      """SELECT l.l_orderkey, l.l_partkey, l.l_quantity, l.l_extendedprice
        |FROM lineitem l
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_orderkey = l.l_orderkey
        |                    AND o.o_totalprice > 450000)""".stripMargin),

    // top-10 three-step event paths: the order-2 extension of the
    // Markov face — two leads over the same per-user window, exact
    // counts, total-order tiebreak so the limit is deterministic
    Declared("events_top_paths", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_timestamp(col("ts")).as("tsec"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tsec"), col("event_id"))
      ev.withColumn("t2", lead(col("event_type"), 1).over(w))
        .withColumn("t3", lead(col("event_type"), 2).over(w))
        .filter(col("t2").isNotNull && col("t3").isNotNull)
        .groupBy(col("event_type").as("p1"), col("t2").as("p2"),
          col("t3").as("p3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("p1"), col("p2"), col("p3"))
        .limit(10)
    },
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS tsec
        |  FROM events),
        |s AS (SELECT event_type AS p1,
        |    lead(event_type, 1) OVER w AS p2,
        |    lead(event_type, 2) OVER w AS p3
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
        |c AS (SELECT p1, p2, p3, count(*) AS n FROM s
        |  WHERE p2 IS NOT NULL AND p3 IS NOT NULL GROUP BY 1, 2, 3)
        |SELECT p1, p2, p3, n FROM c
        |ORDER BY n DESC, p1, p2, p3 LIMIT 10""".stripMargin),

    // half-life-decayed engagement per event type: each event
    // contributes 2^-age_days, age capped at 30 (a floor of ~1e-9 per
    // ancient event keeps the shift in integer range). The weight is
    // 1.0 / (1 << age) — an EXACT IEEE division by a power of two, so
    // both engines produce bit-identical terms (pow() is libm and
    // would drift); terms accumulate as exact decimals so shuffle
    // order cannot move the sum.
    Declared("events_decayed_counts", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), unix_timestamp(col("ts")).as("tsec"))
      val anchor = ev.agg(max(col("tsec")).as("t_max"))
      ev.crossJoin(broadcast(anchor))
        .withColumn("age", least(floor((col("t_max") - col("tsec")) /
          86400L).cast("int"), lit(30)))
        .withColumn("wt", (lit(1.0) / expr("shiftleft(1L, age)"))
          .cast("decimal(38,30)"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("wt")).cast("double"), 6).as("decayed"))
    },
      """WITH e AS (SELECT event_type,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS tsec
        |  FROM events),
        |a AS (SELECT max(tsec) AS t_max FROM e),
        |w AS (SELECT event_type,
        |    CAST(1.0 / (CAST(1 AS BIGINT) << least(
        |      CAST(floor((t_max - tsec) / 86400.0) AS INT), 30))
        |      AS DECIMAL(38,30)) AS wt
        |  FROM e, a)
        |SELECT event_type, count(*) AS n_events,
        |  round(CAST(sum(wt) AS DOUBLE), 6) AS decayed
        |FROM w GROUP BY 1""".stripMargin),

    // Holt double-exponential smoothing of the daily count series:
    // the trend-carrying EWMA (α = β = 0.5 — exact power-of-two
    // scales, so the unrolled DuckDB recurrence is bit-identical)
    Declared("events_holt", (s, dir) =>
      graft.ops.EventOps.holtDaily(Tables.events(s, dir), 0.5, 0.5),
      s"""WITH RECURSIVE $HoltCtes
         |SELECT event_type, day, round(level, 6) AS level,
         |  round(trend, 6) AS trend FROM s""".stripMargin),

    // 7-day-ahead forecast off the ROUNDED terminal Holt state (grid
    // before deriving — the centroidDrift lesson)
    Declared("events_holt_forecast", (s, dir) =>
      graft.ops.EventOps.holtForecast(
        graft.ops.EventOps.holtDaily(Tables.events(s, dir), 0.5, 0.5), 7),
      s"""WITH RECURSIVE $HoltCtes,
         |f AS (SELECT event_type, day, level, trend, rn,
         |    max(rn) OVER (PARTITION BY event_type) AS mx FROM s),
         |lastrow AS (SELECT event_type, day AS last_day,
         |    round(level, 6) AS rl, round(trend, 6) AS rt
         |  FROM f WHERE rn = mx),
         |hs AS (SELECT CAST(unnest(generate_series(1, 7)) AS INT) AS h)
         |SELECT event_type, last_day + h AS day, h,
         |  round(rl + h * rt, 6) AS forecast
         |FROM lastrow, hs""".stripMargin),

    // corpus embedding diversity: 1 − ‖mean(unit vectors)‖² — the
    // closed-form estimate of mean pairwise cosine (E[cos] over pairs
    // equals the centroid's squared norm), computed WITHOUT any pair
    // join. Centroid components ride the 1e-6 grid BEFORE the norm
    // (the centroidDrift convention), so both engines square identical
    // gridded numbers.
    Declared("vec_diversity", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val dotc = (a: org.apache.spark.sql.Column,
                  b: org.apache.spark.sql.Column) =>
        call_function("graft_fdot", a, b)
      val e = Tables.embeddings(s, dir)
        .withColumn("nrm", sqrt(dotc(col("embedding"), col("embedding"))))
        .filter(col("nrm") > 0)
        .select(lit(0).as("g"),
          transform(col("embedding").cast("array<double>"),
            x => x / col("nrm")).as("embedding"))
      val c = graft.ops.Similarity.centroids(e, "g")
        .select(transform(col("centroid"), v => round(v, 6)).as("cv"))
      val n = e.agg(count(lit(1)).as("n_vecs"))
      c.crossJoin(broadcast(n))
        .select(col("n_vecs"),
          round(dotc(col("cv"), col("cv")), 6).as("centroid_norm_sq"),
          round(lit(1.0) - round(dotc(col("cv"), col("cv")), 6), 6)
            .as("diversity"))
    },
      """WITH nrm AS (SELECT vec_id, embedding,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |         CAST(embedding AS DOUBLE[]))) AS nv
        |  FROM embeddings),
        |u AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> x / nv) AS ue FROM nrm WHERE nv > 0),
        |c AS (SELECT list(av ORDER BY i) AS cv, max(nu) AS n_vecs FROM (
        |    SELECT i, round(avg(ue[i]), 6) AS av,
        |      CAST(count(*) AS BIGINT) AS nu
        |    FROM u, unnest(range(1, len(ue) + 1)) t(i) GROUP BY i))
        |SELECT n_vecs,
        |  round(list_dot_product(cv, cv), 6) AS centroid_norm_sq,
        |  round(1 - round(list_dot_product(cv, cv), 6), 6) AS diversity
        |FROM c""".stripMargin),

    // cumulative distinct users per day WITHOUT an expanding distinct:
    // each user reduces to a first-seen day (one user-keyed aggregate),
    // per-day newcomer counts fold under a calendar-bounded running-sum
    // window (day-series-sized — the dau_rolling argument)
    Declared("events_cumulative_users", (s, dir) => {
      val first = Tables.events(s, dir)
        .select(col("user_id"),
          floor(unix_timestamp(col("ts")) / 86400L).cast("long").as("day"))
        .groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
      val perDay = first.groupBy(col("first_day").as("day"))
        .agg(count(lit(1)).as("n_new"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      perDay.withColumn("n_cumulative", sum(col("n_new")).over(w))
    },
      """WITH f AS (SELECT user_id,
        |    min(CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400)
        |      AS BIGINT)) AS first_day
        |  FROM events GROUP BY 1),
        |d AS (SELECT first_day AS day, count(*) AS n_new FROM f GROUP BY 1)
        |SELECT day, n_new,
        |  CAST(sum(n_new) OVER (ORDER BY day
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_cumulative
        |FROM d""".stripMargin),

    // month-over-12-months revenue growth: exact decimal monthly sums,
    // one lag over the month-count-sized series (calendar-bounded
    // window — the dau_rolling argument), growth gridded at the
    // boundary with a NULL guard for the first year
    Declared("analytics_yoy_revenue", (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          col("o_totalprice"))
      val monthly = o.groupBy(col("y"), col("m"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("rev_cents"))
      val w = Window.orderBy(col("y"), col("m"))
      monthly.withColumn("prev_year_cents", lag(col("rev_cents"), 12).over(w))
        .select(col("y"), col("m"), col("rev_cents"),
          round(when(col("prev_year_cents").isNotNull,
            (col("rev_cents") - col("prev_year_cents")).cast("double") /
              col("prev_year_cents") * 100.0), 6).as("yoy_pct"))
    },
      // lag(12) is ROWS-based on the month series in both engines — on a
      // fixture with missing months both lag identically (the comparison
      // is "12 observed months earlier", stated identically)
      """WITH m AS (SELECT CAST(year(o_orderdate) AS INT) AS y,
        |    CAST(month(o_orderdate) AS INT) AS m,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1, 2),
        |l AS (SELECT y, m, rev_cents,
        |    lag(rev_cents, 12) OVER (ORDER BY y, m) AS prev
        |  FROM m)
        |SELECT y, m, rev_cents,
        |  round(CASE WHEN prev IS NOT NULL THEN
        |    CAST(rev_cents - prev AS DOUBLE) / prev * 100.0 END, 6)
        |    AS yoy_pct
        |FROM l""".stripMargin),

    // pre-join skew diagnosis on the order-key: the report that decides
    // broadcast/salting/AQE-skew handling BEFORE the join runs (the
    // measured face of the hot-key story every guard in this repo tells)
    Declared("profile_join_skew", (s, dir) =>
      graft.ops.DataProfile.joinKeySkew(Tables.lineitem(s, dir),
        "l_orderkey"),
      """WITH kc AS (SELECT l_orderkey AS k, count(*) AS kn
        |  FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
        |b AS (SELECT CAST(sum(kn) AS BIGINT) AS n_rows,
        |    count(*) AS n_keys, max(kn) AS max_key_n FROM kc),
        |tk AS (SELECT min(k) AS top_key FROM kc, b
        |       WHERE kn = b.max_key_n),
        |q AS (SELECT ps.p, min(s.kn) AS value FROM
        |    (SELECT kn, row_number() OVER (ORDER BY kn) AS rn FROM kc) s,
        |    (SELECT unnest([50, 90, 99]) AS p) ps, b
        |  WHERE s.rn >= (b.n_keys * ps.p + 99) // 100 GROUP BY 1),
        |qp AS (SELECT
        |    max(CASE WHEN p = 50 THEN value END) AS p50_key_n,
        |    max(CASE WHEN p = 90 THEN value END) AS p90_key_n,
        |    max(CASE WHEN p = 99 THEN value END) AS p99_key_n FROM q)
        |SELECT b.n_rows, b.n_keys, b.max_key_n, tk.top_key,
        |  round(CAST(b.max_key_n AS DOUBLE) / b.n_rows, 6) AS top_share,
        |  round(CAST(b.max_key_n AS DOUBLE) * b.n_keys / b.n_rows, 6)
        |    AS skew_ratio,
        |  qp.p50_key_n, qp.p90_key_n, qp.p99_key_n
        |FROM b, tk, qp""".stripMargin),

    // weekly seasonality profile: per (type, day-of-week) activity with
    // within-type shares — the chi2 query's contingency table exposed
    // as the report itself (the shape check behind every staffing /
    // anomaly-threshold decision)
    Declared("events_dow_profile", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), (dayofweek(col("ts")) - 1).as("dow"))
      val cells = ev.groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n"))
      val tot = cells.groupBy(col("event_type"))
        .agg(sum(col("n")).as("n_type"))
      cells.join(broadcast(tot), Seq("event_type"))
        .select(col("event_type"), col("dow"), col("n"),
          round(col("n").cast("double") / col("n_type"), 6).as("share"))
    },
      """WITH e AS (SELECT event_type,
        |    CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS INT) AS dow
        |  FROM events),
        |c AS (SELECT event_type, dow, count(*) AS n FROM e GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_type FROM c
        |      GROUP BY 1)
        |SELECT c.event_type, c.dow, c.n,
        |  round(CAST(c.n AS DOUBLE) / t.n_type, 6) AS share
        |FROM c JOIN t USING (event_type)""".stripMargin),

    // deterministic 5-fold carving of the documents corpus (the
    // cross-validation face of corpus_split) + per-fold balance stats
    Declared("corpus_kfold", (s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("fold",
          (graft.ops.Dedup.hashBucket(col("doc_id")) % 5).cast("int"))
      val total = d.agg(count(lit(1)).as("n_total"))
      d.groupBy(col("fold"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars_total"),
          countDistinct(col("lang")).as("n_langs"))
        .crossJoin(broadcast(total))
        .select(col("fold"), col("n_docs"), col("n_chars_total"),
          col("n_langs"),
          round(col("n_docs").cast("double") / col("n_total"), 6).as("share"))
    },
      {
        val bucket = "(CAST(" +
          hexToLongSql("md5(CAST(doc_id AS VARCHAR))", 1, 8) + " AS BIGINT) % 100)"
        s"""WITH d AS (SELECT doc_id, lang, n_chars,
           |    CAST($bucket % 5 AS INT) AS fold
           |  FROM documents),
           |t AS (SELECT count(*) AS n_total FROM d)
           |SELECT fold, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
           |  count(DISTINCT lang) AS n_langs,
           |  round(CAST(count(*) AS DOUBLE) / n_total, 6) AS share
           |FROM d, t GROUP BY fold, n_total""".stripMargin
      })
  )
}

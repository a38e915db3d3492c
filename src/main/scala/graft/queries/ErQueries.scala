package graft.queries

import graft.Tables
import graft.ops.EntityResolution
import org.apache.spark.sql.functions.col

/** Entity-resolution / record-linkage queries: the exact edit-distance
  * similarity join ([[graft.ops.EntityResolution]]) exercised end-to-end
  * against brute-force DuckDB oracles.
  *
  * The fixture derives a DIVERSE name universe from `c_custkey` (reversed
  * zero-padded digits mapped to letters — reversing puts the uniform
  * low-order digit first, so segment blocks stay small; the raw
  * `Customer#00000NNNN` names share a constant prefix that floods one
  * segment bucket, the degenerate case the module doc and the cap spec
  * cover), then a deterministic dirty copy with one substitution,
  * deletion, or insertion keyed off the custkey — the classic
  * record-linkage shape with all three edit kinds, so cross-length
  * blocking is exercised, not just the Hamming case. Both the name
  * derivation and the mutation are SINGLE SQL fragments shared verbatim
  * between the Spark side (`selectExpr`) and the DuckDB oracle — there is
  * no way for the two engines to disagree about the fixture itself.
  */
object ErQueries {

  /** 6-char diverse name from the customer key (shared Spark/DuckDB SQL). */
  private val CleanNameSql =
    "translate(reverse(lpad(CAST(c_custkey AS VARCHAR(16)), 6, '0')), " +
      "'0123456789', 'abcdefghij')"

  /** One deterministic edit (sub/del/ins at position c_custkey % 6) for
    * 3/4 of records; `nm` must be the clean name column. 'z'/'q' are
    * outside the clean alphabet, so a mutated record is at distance
    * EXACTLY 1 from its source.
    */
  private val MutateSql =
    """CASE CAST(c_custkey % 4 AS INT)
      |  WHEN 1 THEN substr(nm, 1, CAST(c_custkey % 6 AS INT)) || 'z' ||
      |              substr(nm, CAST(c_custkey % 6 AS INT) + 2, 100)
      |  WHEN 2 THEN substr(nm, 1, CAST(c_custkey % 6 AS INT)) ||
      |              substr(nm, CAST(c_custkey % 6 AS INT) + 2, 100)
      |  WHEN 3 THEN substr(nm, 1, CAST(c_custkey % 6 AS INT)) || 'q' ||
      |              substr(nm, CAST(c_custkey % 6 AS INT) + 1, 100)
      |  ELSE nm END""".stripMargin

  /** Shared oracle CTEs: clean and dirty name relations. */
  private val FixtureCtes =
    s"""cl AS (SELECT c_custkey, $CleanNameSql AS nm FROM customer),
       |dr AS (SELECT c_custkey, $MutateSql AS nm FROM cl)""".stripMargin

  /** SCRAMBLED 6-char name (odd multiplier, coprime to 10^6 — injective
    * and uniform in every digit position). The reversed-digit universe
    * above is DENSE — every name has many distance-1 neighbors, which is
    * the right stress for pair volume but collapses clustering into one
    * giant component; this one has essentially no accidental neighbors,
    * so the cluster fixture's components are the PLANTED dirty<->clean
    * links plus whatever the arithmetic genuinely creates.
    */
  private val ScrambledNameSql =
    "translate(lpad(CAST(c_custkey * 8191 % 1000000 AS VARCHAR(16)), " +
      "6, '0'), '0123456789', 'abcdefghij')"

  /** UN-reversed zero-padded name: the constant leading-zero half is one
    * flood segment for every row — the degenerate corpus the cap spec
    * and the rescued join exist for (shared Spark/DuckDB SQL).
    */
  private val FloodNameSql =
    "translate(lpad(CAST(c_custkey AS VARCHAR(16)), 6, '0'), " +
      "'0123456789', 'abcdefghij')"

  private def clean(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.customer(s, dir).selectExpr("c_custkey", s"$CleanNameSql AS nm")

  private def dirty(s: org.apache.spark.sql.SparkSession, dir: String) =
    clean(s, dir).selectExpr("c_custkey", s"$MutateSql AS nm")

  val declared: Seq[Declared] = Seq(
    // unordered within-relation pairs at distance <= 1 over the clean
    // names — dedup-candidate discovery, the self-join face
    Declared("er_self_pairs", (s, dir) =>
      EntityResolution.editDistanceSelfJoin(clean(s, dir), "c_custkey", "nm",
          d = 1)
        .select(col("id_a"), col("id_b"), col("dist")),
      s"""WITH $FixtureCtes
         |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         |       CAST(levenshtein(a.nm, b.nm) AS INT) AS dist
         |FROM cl a JOIN cl b ON a.c_custkey < b.c_custkey
         |WHERE levenshtein(a.nm, b.nm) <= 1""".stripMargin),

    // dirty->clean record linkage at distance <= 1: every candidate pair
    // (a dirty record can match several clean names — the mutation makes
    // it distance 1 from its OWN source and sometimes distance 1 from a
    // neighbor key's name too)
    Declared("er_dirty_link", (s, dir) =>
      EntityResolution.editDistanceJoin(
        dirty(s, dir).select(col("c_custkey").as("dirty_id"), col("nm")),
        "dirty_id", "nm",
        clean(s, dir).select(col("c_custkey").as("clean_id"), col("nm")),
        "clean_id", "nm", d = 1),
      s"""WITH $FixtureCtes
         |SELECT d.c_custkey AS dirty_id, c.c_custkey AS clean_id,
         |       CAST(levenshtein(d.nm, c.nm) AS INT) AS dist
         |FROM dr d JOIN cl c ON levenshtein(d.nm, c.nm) <= 1""".stripMargin),

    // resolution: each dirty record's single best match (min distance,
    // min clean id on ties) — one aggregation over the pair relation
    Declared("er_link_best", (s, dir) =>
      EntityResolution.linkBest(
        dirty(s, dir).select(col("c_custkey").as("dirty_id"), col("nm")),
        "dirty_id", "nm",
        clean(s, dir).select(col("c_custkey").as("clean_id"), col("nm")),
        "clean_id", "nm", d = 1),
      s"""WITH $FixtureCtes,
         |pr AS (SELECT d.c_custkey AS dirty_id, c.c_custkey AS clean_id,
         |              CAST(levenshtein(d.nm, c.nm) AS INT) AS dist
         |       FROM dr d JOIN cl c ON levenshtein(d.nm, c.nm) <= 1)
         |SELECT dirty_id, clean_id, dist FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY dirty_id ORDER BY dist, clean_id) AS rn FROM pr)
         |WHERE rn = 1""".stripMargin),

    // Jaro-Winkler re-rank of the blocked candidate pairs: the
    // record-linkage two-stage (block exactly, score finely) — the
    // native graft_jaro_winkler expression is byte-for-byte pinned to
    // DuckDB's jaro_winkler_similarity, so the SCORES hash-gate, not
    // just the pair set
    Declared("er_jw_rerank", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val d = dirty(s, dir).select(col("c_custkey").as("dirty_id"),
        col("nm").as("dn"))
      val c = clean(s, dir).select(col("c_custkey").as("clean_id"),
        col("nm").as("cn"))
      // the pair relation carries the verified strings already — score
      // them in place instead of joining both corpus sides back on
      // (r22; two joins and two corpus re-scans removed, guide §2.4)
      EntityResolution.editDistanceJoinWithStrings(d, "dirty_id", "dn",
          c, "clean_id", "cn", d = 1, leftStrOut = "dn", rightStrOut = "cn")
        .select(col("dirty_id"), col("clean_id"), col("dist"),
          org.apache.spark.sql.functions.round(
            org.apache.spark.sql.functions.call_function(
              "graft_jaro_winkler", col("dn"), col("cn")), 6).as("jw"))
    },
      s"""WITH $FixtureCtes
         |SELECT d.c_custkey AS dirty_id, c.c_custkey AS clean_id,
         |       CAST(levenshtein(d.nm, c.nm) AS INT) AS dist,
         |       round(jaro_winkler_similarity(d.nm, c.nm), 6) AS jw
         |FROM dr d JOIN cl c ON levenshtein(d.nm, c.nm) <= 1""".stripMargin),

    // the rescued self-join on the FLOODING name universe (plain
    // zero-padded keys: the constant leading-zero half puts one segment
    // of every row in one bucket — the recorded counterexample shape).
    // The cap (64) genuinely fires here, so this query proves the
    // deletion-neighborhood second family restores EXACT recall: the
    // oracle is the plain brute-force cross product, no cap modeled
    Declared("er_self_pairs_rescued", (s, dir) =>
      EntityResolution.editDistanceSelfJoinRescued(
        Tables.customer(s, dir).selectExpr("c_custkey",
          s"$FloodNameSql AS nm"),
        "c_custkey", "nm", d = 1, maxBucketSize = 64)
        .select(col("id_a"), col("id_b"), col("dist")),
      s"""WITH fl AS (SELECT c_custkey, $FloodNameSql AS nm FROM customer)
         |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         |       CAST(levenshtein(a.nm, b.nm) AS INT) AS dist
         |FROM fl a JOIN fl b ON a.c_custkey < b.c_custkey
         |WHERE levenshtein(a.nm, b.nm) <= 1""".stripMargin),

    // rescued record linkage on the flooding universe: dirty copies of
    // the zero-padded names linked back to the clean relation with the
    // cap armed — same contract as er_self_pairs_rescued (the oracle
    // models no cap; green only because recall is exactly restored)
    Declared("er_dirty_link_rescued", (s, dir) => {
      val cl = Tables.customer(s, dir).selectExpr("c_custkey",
        s"$FloodNameSql AS nm")
      val dr = cl.selectExpr("c_custkey", s"$MutateSql AS nm")
      // cap 256: the constant-prefix segment bucket (~1000+ members at
      // sf0.01) still floods and is rescued; the rescue's own deletion
      // keys (3-char complements over a 10-letter alphabet — a
      // saturated space at this fixture size) stay under it, so the
      // oracle's no-cap cross product is reproduced exactly
      EntityResolution.editDistanceJoinRescued(
        dr.select(col("c_custkey").as("dirty_id"), col("nm")),
        "dirty_id", "nm",
        cl.select(col("c_custkey").as("clean_id"), col("nm")),
        "clean_id", "nm", d = 1, maxBucketSize = 256)
    },
      s"""WITH fl AS (SELECT c_custkey, $FloodNameSql AS nm FROM customer),
         |fd AS (SELECT c_custkey, $MutateSql AS nm
         |       FROM (SELECT c_custkey, nm FROM fl) AS cl)
         |SELECT d.c_custkey AS dirty_id, c.c_custkey AS clean_id,
         |       CAST(levenshtein(d.nm, c.nm) AS INT) AS dist
         |FROM fd d JOIN fl c ON levenshtein(d.nm, c.nm) <= 1""".stripMargin),

    // entity clusters over the scrambled universe: clean records union
    // their dirty copies (ids offset +100000), connected components over
    // the distance-1 graph, every record labeled with its component min —
    // the oracle replays the closure as a recursive CTE over the same
    // brute-force pair set
    Declared("er_clusters", (s, dir) => {
      val base = Tables.customer(s, dir)
        .selectExpr("c_custkey", s"$ScrambledNameSql AS nm")
      val u = base.select(col("c_custkey").as("id"), col("nm"))
        .unionByName(base.selectExpr("c_custkey", s"$MutateSql AS nm")
          .select((col("c_custkey") + 100000L).as("id"), col("nm")))
      EntityResolution.clusterIds(u, "id", "nm", d = 1)
    },
      s"""WITH RECURSIVE
         |s0 AS (SELECT c_custkey, $ScrambledNameSql AS nm FROM customer),
         |u AS (SELECT c_custkey AS id, nm FROM s0
         |      UNION ALL
         |      SELECT c_custkey + 100000 AS id, $MutateSql AS nm
         |      FROM (SELECT c_custkey, nm FROM s0) AS cl),
         |pr AS (SELECT a.id AS ida, b.id AS idb
         |       FROM u a JOIN u b ON a.id < b.id
         |       WHERE levenshtein(a.nm, b.nm) <= 1),
         |e AS (SELECT ida AS a, idb AS b FROM pr
         |      UNION SELECT idb, ida FROM pr),
         |r AS (SELECT id, id AS reach FROM u
         |      UNION
         |      SELECT r.id, e.b FROM r JOIN e ON r.reach = e.a)
         |SELECT id, min(reach) AS cluster_id FROM r GROUP BY id""".stripMargin),

    // clusters over the FLOODING universe with the cap armed (r16
    // verdict task 5: the downstream face must consume the RESCUED
    // pair relation — a flood is exactly where clusters are large, so
    // the plain capped join would silently split real entities). The
    // %5 subset keeps the oracle's recursive closure fixture-sized;
    // the constant-prefix segment still floods (one bucket holds every
    // row, far over the 64 cap), so the rescue genuinely fires. The
    // oracle models NO cap — green only because recall is exactly
    // restored
    Declared("er_clusters_rescued", (s, dir) => {
      val base = Tables.customer(s, dir)
        .filter(col("c_custkey") % 5 === 0)
        .selectExpr("c_custkey", s"$FloodNameSql AS nm")
      val u = base.select(col("c_custkey").as("id"), col("nm"))
        .unionByName(base.selectExpr("c_custkey", s"$MutateSql AS nm")
          .select((col("c_custkey") + 100000L).as("id"), col("nm")))
      EntityResolution.clusterIdsRescued(u, "id", "nm", d = 1,
        maxBucketSize = 64)
    },
      s"""WITH RECURSIVE
         |s0 AS (SELECT c_custkey, $FloodNameSql AS nm FROM customer
         |       WHERE c_custkey % 5 = 0),
         |u AS (SELECT c_custkey AS id, nm FROM s0
         |      UNION ALL
         |      SELECT c_custkey + 100000 AS id, $MutateSql AS nm
         |      FROM (SELECT c_custkey, nm FROM s0) AS cl),
         |pr AS (SELECT a.id AS ida, b.id AS idb
         |       FROM u a JOIN u b ON a.id < b.id
         |       WHERE levenshtein(a.nm, b.nm) <= 1),
         |e AS (SELECT ida AS a, idb AS b FROM pr
         |      UNION SELECT idb, ida FROM pr),
         |r AS (SELECT id, id AS reach FROM u
         |      UNION
         |      SELECT r.id, e.b FROM r JOIN e ON r.reach = e.a)
         |SELECT id, min(reach) AS cluster_id FROM r GROUP BY id""".stripMargin),

    // best-match resolution over the flooding universe with the cap
    // armed: under the flood the plain capped linkBest degrades to
    // "best SURVIVING match" — the rescued face restores exact recall
    // first, so the min-distance aggregate sees every true candidate
    Declared("er_link_best_rescued", (s, dir) => {
      val cl = Tables.customer(s, dir).selectExpr("c_custkey",
        s"$FloodNameSql AS nm")
      val dr = cl.selectExpr("c_custkey", s"$MutateSql AS nm")
      EntityResolution.linkBestRescued(
        dr.select(col("c_custkey").as("dirty_id"), col("nm")),
        "dirty_id", "nm",
        cl.select(col("c_custkey").as("clean_id"), col("nm")),
        "clean_id", "nm", d = 1, maxBucketSize = 256)
    },
      s"""WITH fl AS (SELECT c_custkey, $FloodNameSql AS nm FROM customer),
         |fd AS (SELECT c_custkey, $MutateSql AS nm
         |       FROM (SELECT c_custkey, nm FROM fl) AS cl),
         |pr AS (SELECT d.c_custkey AS dirty_id, c.c_custkey AS clean_id,
         |              CAST(levenshtein(d.nm, c.nm) AS INT) AS dist
         |       FROM fd d JOIN fl c ON levenshtein(d.nm, c.nm) <= 1)
         |SELECT dirty_id, clean_id, dist FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY dirty_id ORDER BY dist, clean_id) AS rn FROM pr)
         |WHERE rn = 1""".stripMargin)
  )
}

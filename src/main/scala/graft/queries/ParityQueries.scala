package graft.queries

import graft.Tables
import graft.ops.{Aggregations, Cleaning, Quality}
import graft.pipeline.Breweries
import org.apache.spark.sql.functions._

/** One verifiable query per reference operator from SURVEY.md §2
  * (S/F/P/A/U inventory ids in the names). Each entry has a matching
  * DuckDB oracle in [[oracle]] unless the operation is not
  * SQL-expressible; column aliases match the oracle exactly (the driver
  * sorts columns by name before hashing).
  */
object ParityQueries {

  /** Per-process scratch location (stable within a run, overwritten on
    * every invocation; concurrent Verify/Bench/test processes each get
    * their own root — see [[graft.Scratch]]).
    *
    * Prefers tmpfs like the shuffle dir ([[graft.Scratch.tmpfsDir]]):
    * the store-writing capstone queries' sinks are invocation-scoped
    * scratch stores, deleted per run, never durable outputs. Capacity
    * posture matches the shuffle dir: stores are per-key-sized, and
    * [[graft.Scratch]] reaps dead processes' roots.
    */
  def scratch(name: String): String =
    s"${graft.Scratch.tmpfsDir("graft_scratch")}/$name"

  private val invocationSeq = new java.util.concurrent.atomic.AtomicLong()

  /** [[scratch]] with a per-invocation unique suffix, for store-WRITING
    * query fns (ingest capstones that delete + rebuild their stores on
    * every evaluation): Bench's re-time/drift sampling re-invokes query
    * fns, and with a stable path two concurrent evaluations in one
    * session would race on the shared recursive delete (ADVICE r18,
    * events_seq_gap_stream). Leftovers are bounded: stores are
    * per-key-sized (never event-history-sized), invocations per process
    * are ~10 (warmup + samples + re-times), and the per-process root is
    * reaped by the next process once this one exits ([[graft.Scratch]]).
    */
  def scratchInvocation(name: String): String =
    s"${scratch(name)}_i${invocationSeq.incrementAndGet()}"

  val declared: Seq[Declared] = Seq(
    // S8 — plain parquet table scan (reference helpers.py:326-360).
    Declared("s8_parquet_scan", (s, dir) => Tables.supplier(s, dir),
      "SELECT * FROM supplier"),

    // S1/S2/S3/S5 — the paginated extract connector end-to-end against the
    // fixture source (reference extract_brewery_data.py:68-133): page loop
    // with stop conditions writes JSON landing files, read back as one
    // relation. The HTTP impl shares the same loop (SourceSpec covers its
    // retry/backoff contract offline).
    Declared("s1_landing_extract", (s, dir) => {
      val n = Tables.nation(s, dir)
      val source = new graft.sources.FixtureBrewerySource(n.toJSON.collect().toSeq)
      val landing = scratch("s1_landing")
      graft.sources.Extractor.extract(source, landing, perPage = 10, batchTag = "verify")
      s.read.schema(n.schema).option("multiLine", true).json(landing)
    },
      "SELECT * FROM nation"),

    // S4/S6/U1 — JSON landing-file read: write the nation table as
    // JSON-lines landing files, read them back as one relation (schema-on-
    // read union of files, reference landing_to_bronze.py:128-139).
    // Fixed scratch dirs (overwritten per run) instead of fresh temp dirs,
    // so repeated Verify/bench runs don't leak copies under /tmp.
    Declared("s4_json_landing_read", (s, dir) => {
      val n = Tables.nation(s, dir)
      val tmp = scratch("landing")
      n.write.mode("overwrite").json(tmp)
      s.read.schema(n.schema).json(tmp)
    },
      "SELECT * FROM nation"),

    // S7/S9 — partitioned write + partition-discovery read
    // (reference bronze_to_silver.py:142, helpers.py:436-493).
    Declared("s7_partitioned_roundtrip", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      val tmp = scratch("part")
      li.write.mode("overwrite").partitionBy("l_returnflag").parquet(tmp)
      s.read.parquet(tmp).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    },
      "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem"),

    // Source-format coverage beyond parquet/JSON: header'd CSV and ORC
    // round trips (write the table out, read it back with schema).
    Declared("s7_csv_roundtrip", (s, dir) => {
      val n = Tables.nation(s, dir)
      val tmp = scratch("csv")
      n.write.mode("overwrite").option("header", true).csv(tmp)
      s.read.schema(n.schema).option("header", true).csv(tmp)
    },
      "SELECT * FROM nation"),

    Declared("s7_orc_roundtrip", (s, dir) => {
      val sup = Tables.supplier(s, dir)
      val tmp = scratch("orc")
      sup.write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
    },
      "SELECT * FROM supplier"),

    // F1 — null-key split, valid side (reference bronze_to_silver.py:164-204).
    Declared("f1_valid_rows", (s, dir) =>
      Quality.nullKeySplit(Breweries.bronze(s, dir), Breweries.KeyFields)._1,
      s"""WITH bronze AS (${Breweries.BronzeSql})
         |SELECT * FROM bronze
         |WHERE id IS NOT NULL AND brewery_type IS NOT NULL AND state IS NOT NULL
         |  AND city IS NOT NULL AND country IS NOT NULL""".stripMargin),

    // F1 — null-key split, quarantine side with reason + ISO-string
    // timestamp enrichment (reference bronze_to_silver.py:182-183).
    Declared("f1_quarantine_rows", (s, dir) =>
      Quality.nullKeySplit(Breweries.bronze(s, dir), Breweries.KeyFields)._2,
      s"""WITH bronze AS (${Breweries.BronzeSql})
         |SELECT *, 'missing_key_values' AS quarantine_reason,
         |       '2026-01-01T00:00:00' AS quarantine_timestamp FROM bronze
         |WHERE id IS NULL OR brewery_type IS NULL OR state IS NULL
         |   OR city IS NULL OR country IS NULL""".stripMargin),

    // F3 — duplicate-id diagnostic (reference helpers.py:116-131).
    Declared("f3_duplicate_ids", (s, dir) =>
      Quality.duplicateIds(Tables.lineitem(s, dir), "l_orderkey")
        .withColumnRenamed("l_orderkey", "id"),
      "SELECT l_orderkey AS id, count(*) AS cnt FROM lineitem GROUP BY 1 HAVING count(*) > 1"),

    // P1 — string casts (reference helpers.py:183-197).
    Declared("p1_cast_strings", (s, dir) =>
      Cleaning.castStrings(
        Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_orderstatus"),
        Seq("o_orderkey", "o_custkey", "not_a_column")),
      """SELECT CAST(o_orderkey AS VARCHAR) AS o_orderkey,
        |       CAST(o_custkey AS VARCHAR) AS o_custkey, o_orderstatus
        |FROM orders""".stripMargin),

    // P2 — location standardization (reference helpers.py:43-57).
    Declared("p2_location_standardize", (s, dir) =>
      Cleaning.standardizeLocations(Breweries.bronze(s, dir))
        .select("id", "name", "city", "state", "country", "location"),
      s"""WITH bronze AS (${Breweries.BronzeSql})
         |SELECT id, name, upper(city) AS city, upper(state) AS state,
         |       upper(country) AS country, upper(country) AS location
         |FROM bronze""".stripMargin),

    // P3 — categorical recode (reference helpers.py:60-86).
    Declared("p3_type_recode", (s, dir) =>
      Cleaning.recodeType(
        Tables.events(s, dir).select("event_id", "event_type"),
        "event_type", canonical = Set("click", "view", "purchase")),
      """SELECT event_id,
        |  CASE WHEN event_type IS NULL THEN 'unknown'
        |       WHEN lower(trim(event_type)) IN ('click', 'purchase', 'view')
        |         THEN lower(trim(event_type))
        |       ELSE 'other' END AS event_type
        |FROM events""".stripMargin),

    // P4 — URL normalization (reference helpers.py:89-113).
    Declared("p4_url_normalize", (s, dir) =>
      Cleaning.normalizeUrl(
        Breweries.bronze(s, dir).select("name", "website_url"), "website_url"),
      s"""WITH bronze AS (${Breweries.BronzeSql})
         |SELECT name,
         |  CASE WHEN website_url IS NULL OR trim(website_url) = '' THEN NULL
         |       WHEN regexp_matches(trim(website_url), '^https?://') THEN trim(website_url)
         |       ELSE 'http://' || trim(website_url) END AS website_url
         |FROM bronze""".stripMargin),

    // P5/P6 — batch metadata columns (reference helpers.py:312-323,134-147).
    Declared("p5_p6_metadata", (s, dir) => {
      val base = Tables.orders(s, dir).select("o_orderkey")
      Cleaning.withProcessingMetadata(
        Cleaning.withIngestionMetadata(base, java.sql.Timestamp.valueOf("2026-01-01 00:00:00")),
        processedAtIso = "2026-01-01T00:00:00")
    },
      """SELECT o_orderkey, TIMESTAMP '2026-01-01 00:00:00' AS ingestion_timestamp,
        |       '2026-01-01T00:00:00' AS processed_at, '1.0' AS etl_version
        |FROM orders""".stripMargin),

    // A1 — generic group-count (reference helpers.py:496-509).
    Declared("a1_group_count", (s, dir) =>
      Aggregations.groupCount(
        Tables.orders(s, dir), Seq("o_orderstatus", "o_orderpriority"), "cnt"),
      "SELECT o_orderstatus, o_orderpriority, count(*) AS cnt FROM orders GROUP BY 1, 2"),

    // A2 — gold by_type_location (reference silver_to_gold.py:117-119).
    Declared("a2_gold_by_type_location", (s, dir) => Breweries.goldByTypeLocation(s, dir),
      s"""WITH silver AS (${Breweries.SilverSql})
         |SELECT brewery_type, location, state, city, count(*) AS brewery_count
         |FROM silver GROUP BY 1, 2, 3, 4""".stripMargin),

    // A3 — gold by_location (reference silver_to_gold.py:120-122).
    Declared("a3_gold_by_location", (s, dir) => Breweries.goldByLocation(s, dir),
      s"""WITH silver AS (${Breweries.SilverSql})
         |SELECT location, state, city, count(*) AS brewery_count
         |FROM silver GROUP BY 1, 2, 3""".stripMargin),

    // A2+A3 fused: one grouping-sets pass produces both gold tables
    // (one scan + one shuffle instead of two — the reference runs them
    // independently; SURVEY §2.4 flags the fusion).
    Declared("a2_a3_grouping_sets", (s, dir) =>
      Aggregations.goldGroupingSets(Breweries.silver(s, dir)),
      s"""WITH silver AS (${Breweries.SilverSql})
         |SELECT brewery_type, location, state, city,
         |       count(*) AS brewery_count,
         |       CAST(grouping(brewery_type) AS INT) AS is_by_location
         |FROM silver
         |GROUP BY GROUPING SETS ((brewery_type, location, state, city),
         |                        (location, state, city))""".stripMargin),

    // A4 — exact distinct count (reference bronze_to_silver.py:83-84).
    Declared("a4_distinct_count", (s, dir) =>
      Tables.lineitem(s, dir).agg(countDistinct(col("l_returnflag")).as("n_distinct")),
      "SELECT count(DISTINCT l_returnflag) AS n_distinct FROM lineitem"),

    // A5 — value counts (reference helpers.py:83).
    Declared("a5_value_counts", (s, dir) =>
      Aggregations.valueCounts(Tables.events(s, dir), "event_type"),
      "SELECT event_type, count(*) AS count FROM events GROUP BY 1"),

    // A6 — row count (record metrics, e.g. reference bronze_to_silver.py:65).
    Declared("a6_row_count", (s, dir) =>
      Tables.lineitem(s, dir).agg(count(lit(1)).as("n")),
      "SELECT count(*) AS n FROM lineitem"),

    // A7 — per-field null counts, fused into one pass
    // (reference bronze_to_silver.py:185-188).
    Declared("a7_null_counts", (s, dir) =>
      Quality.nullCounts(Breweries.bronze(s, dir), Seq("id", "brewery_type", "website_url")),
      s"""WITH bronze AS (${Breweries.BronzeSql})
         |SELECT count(*) - count(id) AS id_nulls,
         |       count(*) - count(brewery_type) AS brewery_type_nulls,
         |       count(*) - count(website_url) AS website_url_nulls
         |FROM bronze""".stripMargin),

    // U1/U2 — union-all (reference landing_to_bronze.py:128-139,
    // helpers.py:458-480): two disjoint filters unioned back == source.
    // Null-COMPLETE split (`<=>`): a NULL o_orderstatus lands in the
    // negated side instead of being dropped by null-rejecting `=!=`.
    Declared("u1_union_all", (s, dir) => {
      val o = Tables.orders(s, dir)
      o.filter(col("o_orderstatus") === "O")
        .unionByName(o.filter(!(col("o_orderstatus") <=> "O")))
    },
      "SELECT * FROM orders"),

    // EP2 — the full silver chain end-to-end (F1+P1+P2+P3+P4+P6).
    Declared("medallion_silver", (s, dir) => Breweries.silver(s, dir),
      Breweries.SilverSql)
  )
}

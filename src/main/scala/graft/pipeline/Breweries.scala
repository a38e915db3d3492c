package graft.pipeline

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Aggregations, Cleaning, Quality}

/** Maps the driver fixtures onto the reference's brewery entity so the
  * medallion pipeline (bronze -> silver -> gold, reference
  * `bronze_to_silver.py` / `silver_to_gold.py`) can run end-to-end on
  * deterministic local data.
  *
  * customer x nation x region -> (id, name, brewery_type, city, state,
  * country, website_url). Nulls are injected deterministically (custkey
  * modulus) to exercise the F1 quarantine path; the website column covers
  * all four URL-normalization branches. Both joins broadcast the dimension
  * side — nation/region stay tiny at any scale factor, so the fact scan
  * never shuffles.
  */
object Breweries {

  /** Canonical "brewery types" for the fixture mapping: a subset of the
    * mktsegment vocabulary, so the recode exercises both the identity and
    * the `other` branch.
    */
  val CanonicalTypes: Set[String] = Set("building", "automobile", "machinery")

  /** Key fields, mirroring the reference's KEY_FIELDS (constants.py:17). */
  val KeyFields: Seq[String] = Seq("id", "brewery_type", "state", "city", "country")

  /** Raw ("bronze-shaped") brewery frame from the fixtures. */
  def bronze(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(
        when(c("c_custkey") % 97 === 0, lit(null))
          .otherwise(c("c_custkey").cast("string")).as("id"),
        c("c_name").as("name"),
        when(c("c_custkey") % 89 === 0, lit(null))
          .otherwise(c("c_mktsegment")).as("brewery_type"),
        n("n_name").as("city"),
        r("r_name").as("state"),
        r("r_name").as("country"),
        when(c("c_custkey") % 4 === 0, lit(null))
          .when(c("c_custkey") % 4 === 1, lit("   "))
          .when(c("c_custkey") % 4 === 2,
            concat(lit("www.brew"), c("c_custkey"), lit(".example")))
          .otherwise(concat(lit("https://brew"), c("c_custkey"), lit(".example")))
          .as("website_url"))
  }

  /** The silver transform chain, reference order (bronze_to_silver.py:68-76):
    * F1 null-key split -> P1 cast -> P2 locations -> P3 recode -> P4 url ->
    * P6 metadata. Returns (silver, quarantine). One lazy plan each —
    * Catalyst fuses the whole chain into a single codegen stage per sink.
    */
  def silverSplit(bronzeDf: DataFrame): (DataFrame, DataFrame) = {
    Quality.requireColumns(bronzeDf, KeyFields)
    val (valid, quarantine) = Quality.nullKeySplit(bronzeDf, KeyFields)
    val cleaned = {
      val p1 = Cleaning.castStrings(valid, KeyFields)
      val p2 = Cleaning.standardizeLocations(p1)
      val p3 = Cleaning.recodeType(p2, "brewery_type", CanonicalTypes)
      val p4 = Cleaning.normalizeUrl(p3, "website_url")
      Cleaning.withProcessingMetadata(p4, processedAtIso = "2026-01-01T00:00:00")
    }
    (cleaned, quarantine)
  }

  def silver(spark: SparkSession, sfDir: String): DataFrame =
    silverSplit(bronze(spark, sfDir))._1

  def quarantine(spark: SparkSession, sfDir: String): DataFrame =
    silverSplit(bronze(spark, sfDir))._2

  /** Gold aggregations (reference silver_to_gold.py:117-122). */
  def goldByTypeLocation(spark: SparkSession, sfDir: String): DataFrame =
    Aggregations.goldByTypeLocation(silver(spark, sfDir))

  def goldByLocation(spark: SparkSession, sfDir: String): DataFrame =
    Aggregations.goldByLocation(silver(spark, sfDir))

  /** The bronze frame expressed as DuckDB SQL (shared CTE for oracles). */
  val BronzeSql: String =
    """SELECT
      |  CASE WHEN c_custkey % 97 = 0 THEN NULL ELSE CAST(c_custkey AS VARCHAR) END AS id,
      |  c_name AS name,
      |  CASE WHEN c_custkey % 89 = 0 THEN NULL ELSE c_mktsegment END AS brewery_type,
      |  n_name AS city,
      |  r_name AS state,
      |  r_name AS country,
      |  CASE WHEN c_custkey % 4 = 0 THEN NULL
      |       WHEN c_custkey % 4 = 1 THEN '   '
      |       WHEN c_custkey % 4 = 2 THEN 'www.brew' || c_custkey || '.example'
      |       ELSE 'https://brew' || c_custkey || '.example' END AS website_url
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey""".stripMargin

  /** The silver transform expressed as DuckDB SQL over [[BronzeSql]]. */
  val SilverSql: String = {
    val canon = CanonicalTypes.toSeq.sorted.map(s => s"'$s'").mkString(", ")
    s"""WITH bronze AS ($BronzeSql)
       |SELECT id, name,
       |  CASE WHEN lower(trim(brewery_type)) IN ($canon) THEN lower(trim(brewery_type))
       |       ELSE 'other' END AS brewery_type,
       |  upper(city) AS city,
       |  upper(state) AS state,
       |  upper(country) AS country,
       |  upper(country) AS location,
       |  CASE WHEN website_url IS NULL OR trim(website_url) = '' THEN NULL
       |       WHEN regexp_matches(trim(website_url), '^https?://') THEN trim(website_url)
       |       ELSE 'http://' || trim(website_url) END AS website_url,
       |  '2026-01-01T00:00:00' AS processed_at,
       |  '1.0' AS etl_version
       |FROM bronze
       |WHERE id IS NOT NULL AND brewery_type IS NOT NULL AND state IS NOT NULL
       |  AND city IS NOT NULL AND country IS NOT NULL""".stripMargin
  }
}

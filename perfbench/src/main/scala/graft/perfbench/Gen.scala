package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import java.util.SplittableRandom

/** Seeded input generators. Every value is a pure function of
  * (seed, table, row index), so the same seed always yields the same
  * bytes and a different seed yields different bytes with the same
  * planted shares. Generators write only under the directory they are
  * given.
  */
object Gen {

  /** Per-row random stream: a SplittableRandom keyed by (seed, stream, i). */
  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed ^ (stream * 0x9E3779B97F4A7C15L)) + i))

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // ---- medallion: brewery rows --------------------------------------

  /** Share of rows with a null key field (quarantined): 1 row in 40. */
  val NullKeyEvery = 40
  val KeyFields: Seq[String] = Seq("id", "brewery_type", "state", "city", "country")
  val CanonicalTypes: Set[String] = graft.pipeline.Breweries.CanonicalTypes

  /** The landing schema: the reference's API fields. */
  val BrewerySchema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("name", StringType),
    StructField("brewery_type", StringType), StructField("street", StringType),
    StructField("city", StringType), StructField("state", StringType),
    StructField("postal_code", StringType), StructField("country", StringType),
    StructField("longitude", DoubleType), StructField("latitude", DoubleType),
    StructField("phone", StringType), StructField("website_url", StringType)))

  // raw type spellings: canonical, padded, upper-case, and unknown ones
  // (recoded to `other`)
  private val RawTypes = Array("building", "automobile", "machinery",
    "  building ", "MACHINERY", "Automobile", "micro", "brewpub", "planning")
  // 60% of rows in the first country (the skewed silver partition)
  private val Countries = Array("United States", "Ireland", "England",
    "Scotland", "Germany", "Poland", "Austria", "Portugal", "France",
    "South Korea", "Isle of Man")
  private val StatesPerCountry = 6
  private val CitiesPerState = 12

  final case class Brewery(id: String, name: String, breweryType: String,
                           city: String, state: String, country: String,
                           website: String, json: String)

  def brewery(seed: Long, i: Long): Brewery = {
    val r = rng(seed, 1, i)
    val ci = if (r.nextInt(10) < 6) 0 else 1 + r.nextInt(Countries.length - 1)
    val si = r.nextInt(StatesPerCountry)
    val cityI = r.nextInt(CitiesPerState)
    val country = Countries(ci)
    val state = s"State ${ci}_$si"
    val city = s"City ${ci}_${si}_$cityI"
    val tpe = RawTypes(r.nextInt(RawTypes.length))
    val website = r.nextInt(5) match {
      case 0 => null
      case 1 => "   "
      case 2 => s"www.brew$i.example"
      case 3 => s"http://brew$i.example"
      case _ => s"https://brew$i.example"
    }
    val lon = (r.nextInt(36000000) - 18000000) / 100000.0
    val lat = (r.nextInt(18000000) - 9000000) / 100000.0
    val phone = f"${r.nextInt(1000000000)}%010d"
    val postal = f"${r.nextInt(100000)}%05d"
    val name = s"Brewery $i ${r.nextInt(1000)}"
    val street = s"${r.nextInt(9999) + 1} Main St"
    // planted invalid rows: one key field nulled, rotating over the keys
    val nullKey =
      if (i % NullKeyEvery == 7) KeyFields(((i / NullKeyEvery) % KeyFields.size).toInt)
      else ""
    def k(field: String, v: String) = if (nullKey == field) null else v
    val b = Brewery(k("id", i.toString), name, k("brewery_type", tpe),
      k("city", city), k("state", state), k("country", country), website, "")
    def js(v: String) = if (v == null) "null" else "\"" + v + "\""
    val json = "{\"id\":" + js(b.id) + ",\"name\":" + js(name) +
      ",\"brewery_type\":" + js(b.breweryType) + ",\"street\":" + js(street) +
      ",\"city\":" + js(b.city) + ",\"state\":" + js(b.state) +
      ",\"postal_code\":" + js(postal) + ",\"country\":" + js(b.country) +
      ",\"longitude\":" + lon + ",\"latitude\":" + lat +
      ",\"phone\":" + js(phone) + ",\"website_url\":" + js(website) + "}"
    b.copy(json = json)
  }

  def breweryJson(seed: Long, n: Long): Iterator[String] =
    Iterator.range(0L, n).map(i => brewery(seed, i).json)

  /** What a correct pipeline must produce from `n` generated rows. */
  final case class Expected(rows: Long, invalid: Long, goldByTypeLocation: Long,
                            goldByLocation: Long)

  def expected(seed: Long, n: Long): Expected = {
    var invalid = 0L
    val byType = new java.util.HashSet[(String, String, String, String)]()
    val byLoc = new java.util.HashSet[(String, String, String)]()
    var i = 0L
    while (i < n) {
      val b = brewery(seed, i)
      if (Seq(b.id, b.breweryType, b.city, b.state, b.country).contains(null))
        invalid += 1
      else {
        val t = b.breweryType.trim.toLowerCase(java.util.Locale.ROOT)
        val tpe = if (CanonicalTypes.contains(t)) t else "other"
        val up = (s: String) => s.toUpperCase(java.util.Locale.ROOT)
        byType.add((tpe, up(b.country), up(b.state), up(b.city)))
        byLoc.add((up(b.country), up(b.state), up(b.city)))
      }
      i += 1
    }
    Expected(n, invalid, byType.size, byLoc.size)
  }

  // ---- documents (corpus_release) ----------------------

  private val Vocab = Array("row", "the", "query", "stream", "key", "agg",
    "scan", "slow", "table", "part", "a", "merge", "window", "order",
    "column", "join", "vector", "value", "hash", "batch", "sort", "data",
    "big", "filter", "fast", "spark", "line", "small", "customer", "group")
  private val Langs = Array("en", "en", "en", "en", "de", "es", "fr", "zh")

  val DocumentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private def baseText(seed: Long, i: Long): String = {
    val r = rng(seed, 2, i)
    val n = 8 + r.nextInt(90)
    val sb = new StringBuilder
    var w = 0
    while (w < n) {
      if (w > 0) sb.append(' ')
      sb.append(Vocab(r.nextInt(Vocab.length)))
      w += 1
    }
    sb.toString
  }

  /** `n` documents: 1 in 20 is a near-duplicate of an earlier one (its
    * text plus " dup"), 1 in 50 an exact copy differing only in case,
    * both under fresh ids. Sources cycle over 20 values (`src9` is the
    * decontamination benchmark slice).
    */
  def documentRows(seed: Long, n: Int): Seq[Row] =
    (0 until n).map { i =>
      val t = documentText(seed, i)
      Row(i.toLong, t, Langs(rng(seed, 4, i).nextInt(Langs.length)),
        s"src${i % 20}", t.length.toLong)
    }

  /** Document `i`'s text; a copy copies the text an earlier document has. */
  private def documentText(seed: Long, i: Int): String = {
    val r = rng(seed, 3, i)
    if (i >= 20 && i % 20 == 13) documentText(seed, r.nextInt(i)) + " dup"
    else if (i >= 50 && i % 50 == 29)
      documentText(seed, r.nextInt(i)).toUpperCase(java.util.Locale.ROOT)
    else baseText(seed, i)
  }

  /** The corpus_release input: `n` documents as `<dir>/documents.parquet`. */
  def writeCorpus(spark: SparkSession, seed: Long, n: Int, dir: String): Unit =
    writeSingleFile(spark, DocumentsSchema, documentRows(seed, n),
      s"$dir/documents.parquet")

  /** One parquet FILE at `path`, the fixture layout: Spark and DuckDB
    * both read it by that name.
    */
  private def writeSingleFile(spark: SparkSession, sch: StructType,
                              rows: Seq[Row], path: String): Unit = {
    val tmp = java.nio.file.Paths.get(path + ".__tmp")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), sch)
      .write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).iterator()
    var moved = false
    while (part.hasNext) {
      val f = part.next()
      if (!moved && f.getFileName.toString.startsWith("part-")) {
        java.nio.file.Files.move(f, java.nio.file.Paths.get(path),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        moved = true
      }
    }
    require(moved, s"no parquet part written for $path")
    Fs.deleteTree(tmp)
  }
}

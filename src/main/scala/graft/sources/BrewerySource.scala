package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Paginated extract connector (reference S1/S2/S3/S5/S10:
  * extract_brewery_data.py:68-133, utils/helpers.py:200-309).
  *
  * Pagination against a REST API is inherently a sequential driver-side
  * cursor — it is NOT a Spark job (the reference throttles at 0.5 s/page;
  * the data enters Spark afterwards via `spark.read.json(landingDir)`).
  * The source is a trait so tests and offline runs swap in a fixture
  * implementation; the HTTP implementation carries the reference's
  * retry/backoff/timeout contract.
  */
trait BrewerySource {
  /** Fetch one 1-based page; empty string or short page ends the loop.
    * Returns the page payload as a JSON array string.
    */
  def fetchPage(page: Int, perPage: Int): String
}

/** Offline source: pages served from a pre-serialized row set (the
  * driver-side mirror of an API response cache). Used by tests/Verify —
  * no egress in this environment.
  */
final class FixtureBrewerySource(rows: Seq[String]) extends BrewerySource {
  def fetchPage(page: Int, perPage: Int): String = {
    val slice = rows.slice((page - 1) * perPage, page * perPage)
    slice.mkString("[", ",", "]")
  }
}

/** Streaming offline source: pages pulled from a SEQUENTIAL row iterator
  * (e.g. `Dataset.toJSON.toLocalIterator`), so driver memory stays
  * page-bounded instead of materializing the whole corpus the way
  * [[FixtureBrewerySource]] does. The extract loop reads pages in
  * ascending order, which is all a REST cursor supports anyway; a fetch
  * of page 1 (re)creates the iterator via `mkRows`, making a full
  * extract retry replayable.
  */
final class IteratorBrewerySource(mkRows: () => Iterator[String]) extends BrewerySource {
  private var rows: Iterator[String] = Iterator.empty
  private var nextPage = 0
  def fetchPage(page: Int, perPage: Int): String = {
    if (page == 1) { rows = mkRows(); nextPage = 1 }
    require(page == nextPage,
      s"sequential source: expected page $nextPage, got $page")
    nextPage += 1
    // counted drain — NOT rows.take(perPage): Iterator.take leaves the
    // parent iterator in an undefined state, so reusing it for the next
    // page relies on implementation behavior
    val b = new StringBuilder("[")
    var n = 0
    while (n < perPage && rows.hasNext) {
      if (n > 0) b.append(',')
      b.append(rows.next())
      n += 1
    }
    b.append(']').toString
  }
}

/** HTTP source with the reference's retry contract (helpers.py:214-258):
  * `maxRetries` attempts, fixed `backoffMillis` between attempts, per-call
  * timeout, raise after exhaustion. The `get` function is injectable so the
  * retry loop is unit-testable without a network.
  */
final class HttpBrewerySource(
    baseUrl: String,
    timeoutMillis: Int = 120000,
    maxRetries: Int = 3,
    backoffMillis: Long = 5000,
    sleeper: Long => Unit = Thread.sleep,
    getOverride: Option[String => String] = None) extends BrewerySource {

  private def httpGet(url: String): String = {
    val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(timeoutMillis)).build()
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofMillis(timeoutMillis)).GET().build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() / 100 == 2, s"HTTP ${resp.statusCode()} for $url")
    resp.body()
  }

  def fetchWithRetry(url: String): String = {
    val get = getOverride.getOrElse(httpGet _)
    var attempt = 0
    var last: Throwable = null
    while (attempt < maxRetries) {
      try return get(url)
      catch {
        case e: Throwable =>
          last = e
          attempt += 1
          if (attempt < maxRetries) sleeper(backoffMillis)
      }
    }
    throw new RuntimeException(s"request failed after $maxRetries attempts", last)
  }

  def fetchPage(page: Int, perPage: Int): String =
    fetchWithRetry(s"$baseUrl?page=$page&per_page=$perPage")
}

/** Landing-zone lifecycle + paginated extract loop. */
object Extractor {

  /** S5 — wipe and recreate the landing dir (helpers.py:200-211). */
  def prepareLandingDir(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }
    Files.createDirectories(p)
  }

  /** S1/S3 — page loop: fetch until an empty or short page, writing one
    * JSON file per page (extract loop extract_brewery_data.py:89-124; the
    * reference's 0.5 s throttle is the API's contract, not replicated
    * against fixtures). Returns the written file paths.
    */
  def extract(source: BrewerySource, landingDir: String, perPage: Int,
              batchTag: String): Seq[String] = {
    prepareLandingDir(landingDir)
    val files = Seq.newBuilder[String]
    var page = 1
    var done = false
    while (!done) {
      val payload = source.fetchPage(page, perPage)
      val n = countTopLevelObjects(payload)
      if (n == 0) done = true
      else {
        val f = s"$landingDir/breweries_${batchTag}_page$page.json"
        Files.write(Paths.get(f), payload.getBytes(StandardCharsets.UTF_8))
        files += f
        if (n < perPage) done = true else page += 1
      }
    }
    files.result()
  }

  /** Cheap top-level JSON array cardinality (the stop condition only needs
    * the count, not a full parse — depth-1 object counting).
    */
  private[sources] def countTopLevelObjects(json: String): Int = {
    var depth = 0; var count = 0; var inStr = false; var esc = false
    json.foreach { c =>
      if (inStr) {
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '{' => depth += 1; if (depth == 2) count += 1
        case '}' => depth -= 1
        case '[' => depth += 1
        case ']' => depth -= 1
        case _ =>
      }
    }
    count
  }

  /** S10 — read-back verification + dir-size metric
    * (landing_to_bronze.py:184-188, helpers.py:150-166). The row count
    * comes from the Parquet footers of the committed files
    * ([[graft.pipeline.Pipeline.committedRows]]), not from a Spark job.
    */
  def readBack(spark: SparkSession, path: String): (Long, Long) = {
    val rows = graft.pipeline.Pipeline.committedRows(spark, path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(path)).getLength
    (rows, bytes)
  }
}

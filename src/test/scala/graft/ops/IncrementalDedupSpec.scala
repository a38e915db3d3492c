package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The per-ingest contract of the incremental sketch faces: running a
  * batch against a corpus index (plus batch-internal) must equal the full
  * corpus-wide pair set restricted to pairs touching the batch — the old
  * corpus is never self-joined, so an ingest pays O(batch x bucket
  * density) regardless of corpus size.
  */
class IncrementalDedupSpec extends SparkSpec {

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("incremental simhash equals full pairs restricted to the batch") {
    val docs = Tables.documents(spark, sf0001)
    val sk = Dedup.simhash(docs, "doc_id", "text")
    val isBatch = Dedup.hashBucket(col("doc_id")) < 20
    val inc = Dedup.incrementalSimhashPairs(
      sk.filter(!isBatch), sk.filter(isBatch), maxHamming = 3)
    val batchIds = docs.filter(isBatch)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val full = Dedup.simhashPairs(sk, maxHamming = 3)
      .filter(r => batchIds(r.getLong(0)) || batchIds(r.getLong(1)))
    assert(rows(inc) == rows(full))
    assert(inc.count() > 0) // fixture plants near-dups in every 20% slice
    spark.catalog.clearCache()
  }

  test("incremental SRP near-dup equals full pairs restricted to the batch") {
    val e = Tables.embeddings(spark, sf0001)
    val isBatch = col("vec_id") % 5 === 0
    val inc = Similarity.incrementalSrpNearDup(
      e.filter(!isBatch), e.filter(isBatch),
      planes = 4, dim = 64, threshold = 0.2)
    val batchIds = e.filter(isBatch)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val full = Similarity.srpNearDupPairs(e, planes = 4, dim = 64,
      threshold = 0.2)
      .filter(r => batchIds(r.getLong(0)) || batchIds(r.getLong(1)))
    assert(rows(inc) == rows(full))
    spark.catalog.clearCache()
  }

  test("incremental embedding faces release the corpus index when the batch fails") {
    import spark.implicits._
    val corpus = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val batch = Seq(3L).toDF("vec_id") // no embedding: indexing it throws
    def releases(face: String)(call: => DataFrame): Unit = {
      val (_, left) = persistedBy(intercept[Exception](call))
      assert(left == 0, s"$face: the corpus index stayed cached")
    }
    releases("srp")(Similarity.incrementalSrpNearDup(corpus, batch,
      planes = 2, dim = 2, threshold = 0.5))
    releases("semantic")(Similarity.incrementalSemanticPairs(corpus, batch,
      corpus, threshold = 0.5))
  }
}

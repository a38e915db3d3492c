package graft.streaming

import graft.SparkSpec
import graft.ops.QualityModel
import org.apache.spark.sql.functions._

/** The ingest skeleton's failure paths: a batch whose append throws
  * leaves nothing cached behind it, and a store whose atomic swap died
  * between its two renames keeps its last committed generation.
  */
class StoresSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq((1L, "alpha beta gamma delta"),
    (2L, "alpha beta gamma epsilon"), (3L, "iota kappa lambda"))
    .toDF("doc_id", "text")

  /** `ingest(dir, out)` runs one batch whose first append goes to `out`.
    * It runs once into a real store, then once with `out` a regular file,
    * where the append must throw and leave no RDD persisted that it made.
    * The first run holds the caches some batch operators keep of their
    * own intermediates (keyed by plan, so the second run reuses them);
    * what the second run adds is what the batch failed to release.
    */
  private def releasesOnFailure(face: String)
                               (ingest: (String, String) => Unit): Unit = {
    val ok = java.nio.file.Files.createTempDirectory(s"graft_ok_$face")
    ingest(ok.toString, ok.resolve("out").toString)
    val tmp = java.nio.file.Files.createTempDirectory(s"graft_fail_$face")
    val blocked = java.nio.file.Files.createFile(tmp.resolve("out"))
    val (_, left) = persistedBy(
      intercept[Exception](ingest(tmp.toString, blocked.toString)))
    assert(left == 0, s"$face: the failed batch stayed cached")
  }

  test("a batch whose append fails releases what it persisted") {
    releasesOnFailure("neardup") { (dir, out) =>
      NearDupIngest.ingestBatch(docs, s"$dir/index", out, "doc_id", 16, 4,
        "text", 3)
    }
    releasesOnFailure("setsim") { (dir, out) =>
      SetSimIngest.ingestBatch(docs, s"$dir/index", out, "doc_id", "text",
        0.5, k = 1)
    }
    releasesOnFailure("er") { (dir, out) =>
      ErIngest.ingestBatch(Seq((1L, "smith"), (2L, "smyth")).toDF("id", "s"),
        s"$dir/index", out, "id", "s", d = 1)
    }
    releasesOnFailure("quote") { (dir, out) =>
      QuoteIngest.ingestBatch(docs, s"$dir/anchors", s"$dir/docs", out,
        "doc_id", "text", nAnchors = 2, threshold = 0.5, k = 1)
    }
    releasesOnFailure("ivf") { (dir, out) =>
      val vecs = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 1f)))
        .toDF("vec_id", "embedding")
      IvfIngest.freezeCodebook(vecs.filter($"vec_id" < 3), s"$dir/codebook")
      IvfIngest.ingestBatch(vecs, s"$dir/codebook", out)
    }
    releasesOnFailure("scoring") { (dir, out) =>
      QualityModel.trainHashedLogReg(docs, "doc_id", "text",
          when(col("doc_id") === 1L, 1).otherwise(0), dim = 16, iters = 1)
        .write.parquet(s"$dir/weights")
      ScoringIngest.ingestBatch(docs, s"$dir/weights", out, s"$dir/kept",
        16, 0.5, "doc_id", "text")
    }
    releasesOnFailure("seqpattern") { (dir, out) =>
      val events = Seq((1L, "A", 0L, 1L), (1L, "B", 50L, 2L))
        .toDF("user_id", "event_type", "tsec", "event_id")
      SeqPatternIngest.ingestBatch(events, s"$dir/last", s"$dir/v2", out,
        s"$dir/s3", 100L)
    }
  }

  /** Plant what a swap leaves when it dies between its two renames: the
    * committed store stashed at its hidden sibling, nothing at `dir`.
    */
  private def interruptSwap(dir: String): Unit = {
    val d = new java.io.File(dir)
    assert(d.renameTo(new java.io.File(d.getParent, s".${d.getName}.__old")))
  }

  test("an interrupted swap is restored before the next batch reads the store") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_swap_")
      .toString
    val hist = s"$tmp/history"
    def changes(rows: (Long, String, Long)*) = rows.toDF("id", "tier", "ts")
    Scd2Ingest.ingestBatch(changes((1L, "gold", 10L), (2L, "silver", 10L)),
      hist, Seq("id"), "ts")
    interruptSwap(hist)
    Scd2Ingest.ingestBatch(changes((1L, "platinum", 100L)), hist, Seq("id"),
      "ts")
    assert(Scd2Ingest.history(spark, hist)
      .select("id", "tier", "valid_from", "valid_to")
      .as[(Long, String, Long, Option[Long])].collect().toSet == Set(
        (1L, "gold", 10L, Some(100L)),
        (1L, "platinum", 100L, None),
        (2L, "silver", 10L, None)), "the history lost its earlier rows")

    val (indexDir, pairsDir) = (s"$tmp/index", s"$tmp/pairs")
    def ingest(id: Long): Unit = SetSimIngest.ingestBatch(
      Seq((id, "alpha beta gamma delta")).toDF("doc_id", "text"),
      indexDir, pairsDir, "doc_id", "text", 0.5, k = 1)
    ingest(1L)
    interruptSwap(indexDir)
    ingest(2L)
    assert(spark.read.parquet(indexDir).select("doc_id").as[Long].collect()
      .toSet == Set(1L, 2L), "the index lost its earlier documents")
    assert(SetSimIngest.pairs(spark, pairsDir).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet == Set((1L, 2L)),
      "the second document was not probed against the first")
  }
}

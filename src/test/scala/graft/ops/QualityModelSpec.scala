package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** In-engine hashed logistic-regression quality classifier: fixed-
  * iteration determinism, first-step closed form, and separable-corpus
  * behavior.
  */
class QualityModelSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "good clean prose text", 1),
    (2L, "good solid prose here", 1),
    (3L, "spam junk noise garbage", 0),
    (4L, "junk spam garbage words", 0)
  ).toDF("doc_id", "text", "y")

  test("one GD step from zero matches the closed form") {
    val w1 = QualityModel.trainHashedLogReg(docs, "doc_id", "text",
      col("y"), dim = 64, lr = 0.5, iters = 1)
      .as[(Int, Double)].collect().toMap
    // with w = 0 every p is exactly 0.5, so w1_f = -lr * round(
    //   sum(0.5 - y over docs with f) / n, 6) — recompute from the sketch
    val sk = QualityModel.featureSketch(docs, "doc_id", "text", col("y"), 64)
    val expected = sk.groupBy("feature")
      .agg(QualityModel.grid6(sum(lit(0.5) - col("y")) / lit(4.0)).as("g"))
      .select(col("feature"),
        QualityModel.grid6(lit(0.0) - lit(0.5) * col("g")).as("w"))
      .as[(Int, Double)].collect().toMap
    assert(w1 == expected && w1.nonEmpty)
    // the balanced toy corpus zeroes the bias; class tokens pull +/-
    assert(w1(-1) == 0.0)
    assert(w1.values.exists(_ > 0) && w1.values.exists(_ < 0))
  }

  test("separable toy corpus: scores order by class, predictions correct") {
    val w = QualityModel.trainHashedLogReg(docs, "doc_id", "text",
      col("y"), dim = 64, lr = 0.5, iters = 3)
    val scored = QualityModel.scoreHashedLogReg(docs, "doc_id", "text", w, 64)
      .as[(Long, Double, Int)].collect().map(r => r._1 -> r).toMap
    assert(scored(1L)._2 > 0.5 && scored(2L)._2 > 0.5)
    assert(scored(3L)._2 < 0.5 && scored(4L)._2 < 0.5)
    assert(scored(1L)._3 == 1 && scored(3L)._3 == 0)
  }

  test("2^18 n-gram sketch pins the md5 feature hash (uni + bi + bias)") {
    // one doc, two tokens -> exactly two unigram features, one bigram
    // feature, and the bias; buckets recomputed here with an independent
    // MessageDigest md5 so the engine-side conv(substring(md5)) % dim
    // polynomial is PINNED, not self-compared
    val one = Seq((1L, "good clean", 1)).toDF("doc_id", "text", "y")
    def bucket(term: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(term.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.take(8), 16) % 262144).toInt
    }
    val got = QualityModel.featureSketchNg(one, "doc_id", "text",
      col("y"), dim = 262144, maxN = 2)
      .select("feature").as[Int].collect().toSet
    assert(got ==
      Set(bucket("good"), bucket("clean"), bucket("good clean"), -1))
  }

  test("n-gram sketch at maxN = 1 equals the unigram sketch") {
    val a = QualityModel.featureSketchNg(docs, "doc_id", "text",
      col("y"), dim = 64, maxN = 1)
      .as[(Long, Int, Int)].collect().toSet
    val b = QualityModel.featureSketch(docs, "doc_id", "text", col("y"), 64)
      .as[(Long, Int, Int)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("bigram features separate word-order on the 2^18 sketch") {
    // same bag of words, different order: unigram features identical,
    // bigram features differ -> the 2g sketch distinguishes the docs
    val pair = Seq((1L, "alpha beta gamma", 1),
                   (2L, "gamma beta alpha", 0)).toDF("doc_id", "text", "y")
    def feats(maxN: Int) = QualityModel.featureSketchNg(pair, "doc_id",
        "text", col("y"), dim = 262144, maxN = maxN)
      .groupBy("doc_id").agg(collect_set("feature").as("fs"))
      .as[(Long, Seq[Int])].collect().map(r => r._1 -> r._2.toSet).toMap
    val uni = feats(1)
    val bi = feats(2)
    assert(uni(1L) == uni(2L))
    assert(bi(1L) != bi(2L))
  }

  test("training leaves only the returned weights checkpoint persisted") {
    // each iteration checkpoints w; the superseded one must be released
    // at once, not left for a garbage collection
    val sk = QualityModel.featureSketch(docs, "doc_id", "text", col("y"), 64)
      .persist()
    sk.count()
    val (w, rose) = persistedBy(
      QualityModel.trainHashedLogRegWith(sk, "doc_id", iters = 3))
    assert(rose <= 1, s"persistent RDDs rose by $rose")
    assert(w.count() > 0)
    sk.unpersist()
  }

  test("training is deterministic across runs") {
    def run() = QualityModel.trainHashedLogReg(docs, "doc_id", "text",
      col("y"), dim = 64, lr = 0.5, iters = 3)
      .as[(Int, Double)].collect().toMap
    assert(run() == run())
  }

  test("calibration bins scores, counts labels, clamps score=1.0 into the top bin") {
    val scored = Seq(
      (1L, 0.05, 1), (2L, 0.07, 0),  // bin 0: 1 of 2 positive
      (3L, 0.55, 1), (4L, 0.58, 1),  // bin 5: 2 of 2
      (5L, 1.0, 1)                   // exactly 1.0 -> bin 9, not 10
    ).toDF("doc_id", "score", "y")
    val out = QualityModel.calibration(scored, col("y"))
      .as[(Int, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.keySet == Set(0, 5, 9))
    assert(out(0)._2 == 2 && out(0)._3 == 1 && out(0)._4 == 0.5)
    assert(out(5)._2 == 2 && out(5)._3 == 2 && out(5)._4 == 1.0)
    assert(out(9)._2 == 1 && out(9)._5 == 1.0)
    assert(math.abs(out(0)._5 - 0.06) < 1e-9) // avg score per bin
  }
}

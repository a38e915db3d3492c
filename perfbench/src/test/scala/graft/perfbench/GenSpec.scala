package graft.perfbench

import graft.metrics.EtlMetrics
import graft.pipeline.Pipeline
import graft.sources.IteratorBrewerySource
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val tmp: Path = Files.createTempDirectory("perfbench-gen")
  private lazy val spark: SparkSession = Main.session(2, tmp.resolve("session").toString)

  override def afterAll(): Unit = {
    spark.stop()
    Fs.deleteTree(tmp)
  }

  private val rows = 4000L

  private def run(seed: Long, name: String): (Pipeline.RunResult, Seq[(String, Seq[Byte])]) = {
    val lay = Pipeline.Layout(tmp.resolve(name).toString)
    val res = Pipeline.run(spark, new IteratorBrewerySource(() => Gen.breweryJson(seed, rows)),
      Gen.BrewerySchema, lay, EtlMetrics.quiet(), perPage = 200, csvGold = false,
      runTag = "batch0", retryDelayMillis = 0L)
    val landing = Files.list(Paths.get(lay.landing)).iterator().asScala.toSeq
      .map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq).sortBy(_._1)
    (res, landing)
  }

  test("the same seed gives identical landing bytes and RunResult") {
    val (r1, l1) = run(7, "a")
    val (r2, l2) = run(7, "b")
    assert(l1.size == 20)
    assert(l1 == l2)
    assert(r1 == r2)
  }

  test("another seed gives other bytes with the same planted shares") {
    val (r1, l1) = run(7, "c")
    val (r2, l2) = run(8, "d")
    assert(l1.map(_._2) != l2.map(_._2))
    val (e1, e2) = (Gen.expected(7, rows), Gen.expected(8, rows))
    assert(e1.invalid == rows / Gen.NullKeyEvery && e2.invalid == e1.invalid)
    assert(r1.quarantineRows == e1.invalid && r2.quarantineRows == e2.invalid)
    assert(Main.Medallion.check(r1, e1.invalid.toDouble, e1).isEmpty)
    assert(Main.Medallion.check(r2, e2.invalid.toDouble, e2).isEmpty)
  }

  test("the brewery generator plants every bad-input class") {
    val bs = (0L until rows).map(Gen.brewery(3, _))
    for (f <- Gen.KeyFields) {
      val nulls = bs.count { b =>
        val v = f match {
          case "id" => b.id
          case "brewery_type" => b.breweryType
          case "state" => b.state
          case "city" => b.city
          case "country" => b.country
        }
        v == null
      }
      assert(nulls == rows / Gen.NullKeyEvery / Gen.KeyFields.size, f)
    }
    val types = bs.flatMap(b => Option(b.breweryType)).toSet
    assert(types.exists(t => t != t.trim))                  // padded
    assert(types.exists(t => t != t.toLowerCase))           // upper-case
    assert(types.exists(t => !Gen.CanonicalTypes.contains(t.trim.toLowerCase))) // unknown
    val urls = bs.map(_.website)
    assert(urls.contains(null) && urls.exists(u => u != null && u.trim.isEmpty))
    assert(urls.exists(u => u != null && u.startsWith("www.")))
    assert(urls.exists(u => u != null && u.startsWith("https://")))
    val us = bs.count(_.json.contains("\"country\":\"United States\""))
    assert(us > rows / 2) // the skewed silver partition
  }

  test("the document generator is seeded and plants near and exact copies") {
    val a = Gen.documentRows(5, 1000)
    assert(a == Gen.documentRows(5, 1000))
    assert(a != Gen.documentRows(6, 1000))
    val texts = a.map(_.getString(1))
    assert(texts.count(_.endsWith(" dup")) == (20 until 1000).count(_ % 20 == 13))
    val lower = texts.map(_.toLowerCase)
    assert(lower.distinct.size < lower.size)
    assert((50 until 1000).filter(_ % 50 == 29).forall(i => lower.indexOf(lower(i)) < i))
  }

  test("the corpus generator writes only its named file under its directory") {
    Gen.writeCorpus(spark, 42, 50, tmp.resolve("corpus").toString)
    assert(Files.list(tmp.resolve("corpus")).iterator().asScala
      .map(_.getFileName.toString).toSet == Set("documents.parquet"))
    assert(graft.Tables.documents(spark, tmp.resolve("corpus").toString).count() == 50)
  }
}

package graft.perfbench

import graft.metrics.EtlMetrics
import graft.pipeline.Pipeline
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** Each output check accepts a correct result and rejects a corrupted one. */
class ChecksSpec extends AnyFunSuite {

  private val exp = Gen.Expected(rows = 1000, invalid = 25,
    goldByTypeLocation = 300, goldByLocation = 120)
  private val good = Pipeline.RunResult(landingFiles = 5, bronzeRows = 1000,
    bronzeBytes = 1L << 20, silverRows = 975, quarantineRows = 25,
    goldRows = Map("by_type_location" -> 300L, "by_location" -> 120L))

  test("medallion: a correct run passes") {
    assert(Main.Medallion.check(good, 25.0, exp).isEmpty)
  }

  test("medallion: quarantine, discard counter, silver and gold corruptions fail") {
    assert(Main.Medallion.check(good.copy(quarantineRows = 24), 25.0, exp).isDefined)
    assert(Main.Medallion.check(good, 24.0, exp).isDefined)
    assert(Main.Medallion.check(good.copy(silverRows = 976), 25.0, exp).isDefined)
    assert(Main.Medallion.check(good.copy(bronzeRows = 999), 25.0, exp).isDefined)
    assert(Main.Medallion.check(
      good.copy(goldRows = good.goldRows.updated("by_type_location", 299L)), 25.0, exp).isDefined)
    assert(Main.Medallion.check(
      good.copy(goldRows = good.goldRows - "by_location"), 25.0, exp).isDefined)
  }

  private val manifestSchema = StructType(Seq(
    StructField("shard", IntegerType), StructField("n_docs", LongType),
    StructField("readback_match", BooleanType)))

  private def shard(i: Int, ok: Boolean): Row =
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      Array[Any](i, 10L, ok), manifestSchema)

  test("corpus_release: a release whose shards all read back passes") {
    assert(Main.CorpusRelease.check((0 until 8).map(shard(_, ok = true))).isEmpty)
  }

  test("corpus_release: a shard that does not read back, or no shards, fails") {
    assert(Main.CorpusRelease.check((0 until 8).map(i => shard(i, ok = i != 3))).isDefined)
    assert(Main.CorpusRelease.check(Nil).isDefined)
  }

  test("medallion traced run: stage-end events are read from the EtlMetrics sink") {
    val lines = mutable.ArrayBuffer[String]()
    val m = new EtlMetrics(lines += _)
    Seq("extract_brewery_data", "landing_to_bronze").foreach(op => m.timed(op)(()))
    val captured = lines.flatMap(l => Main.Medallion.StageEnd.findFirstMatchIn(l).map(_.group(1)))
    assert(captured == Seq("extract_brewery_data", "landing_to_bronze"))
  }

  test("medallion traced run: a stage without a captured end event fails") {
    val stages = Seq("extract_brewery_data", "landing_to_bronze", "bronze_to_silver")
    assert(Main.Medallion.missingStages(stages, stages.toSet).isEmpty)
    assert(Main.Medallion.missingStages(stages, Set("landing_to_bronze")).isDefined)
    assert(Main.Medallion.missingStages(stages, Set.empty).isDefined)
  }
}

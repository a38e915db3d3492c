package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import java.nio.file.{Files, Paths}
import graft.Bench.jstr
/** Correctness dump: each SparkEntry.declared plan's result → parquet,
  * plus its oracle SQL in oracle_sql.json, for the DuckDB compare. */
object Verify {

  /** Dump ONE declared query. On success writes the normalized result
    * parquet; on failure writes a one-row `__error` parquet in its place,
    * so a broken query SURFACES in the driver's compare as a failing row
    * (schema mismatch vs its oracle) instead of vanishing from the gate —
    * the round-12 lesson, where a dead query left CORRECTNESS looking
    * all-green. Returns the error message when the query failed.
    */
  def dumpOne(spark: SparkSession, sfDir: String, outDir: String,
              name: String,
              fn: (SparkSession, String) => DataFrame): Option[String] = {
    try {
      val out = fn(spark, sfDir)
      // Session TZ is UTC, so TIMESTAMP -> TIMESTAMP_NTZ keeps the
      // wall-clock value; the dump then carries the same naive-micros
      // logical type DuckDB's oracle produces.
      val normed = out.schema.fields.foldLeft(out) { (d, f) =>
        if (f.dataType == TimestampType)
          d.withColumn(f.name, col(f.name).cast(TimestampNTZType))
        else d
      }
      normed.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      None
    } catch { case e: Throwable =>
      val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(1000)}"
      System.err.println(s"[verify] $name failed: $msg")
      // The error artifact itself must never take down the run (e.g. a
      // session so broken even a 1-row write fails): best-effort write,
      // the returned message is recorded in verify_errors.json either way.
      try {
        import spark.implicits._
        Seq(msg).toDF("__error").coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case w: Throwable =>
        System.err.println(s"[verify] $name: error artifact write also failed: ${w.getMessage}")
      }
      Some(msg)
    }
    // release per-query persisted sketches even when the query failed —
    // a leak here would eat the memory budget of every later query
    finally spark.catalog.clearCache()
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local()
    // Plain micros timestamps in the dumped parquet (not INT96), so the
    // DuckDB/pyarrow compare sees the same logical type the oracle
    // produces.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    new java.io.File(outDir).mkdirs()
    // Dev loop: SPARK_GRAFT_VERIFY_ONLY=q1,q2 restricts the run to the
    // named queries; each dump and its oracle_sql.json entry come from
    // the same declared entry.
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val picked = SparkEntry.declared.filter(d => only.forall(_.contains(d.name)))
    val errors = picked.flatMap { d =>
      dumpOne(spark, sfDir, outDir, d.name, d.plan).map(d.name -> _)
    }
    // Always write the error summary (empty object = clean run), so both
    // driver and humans can distinguish "all ran" from "some rows are
    // __error artifacts" without parsing every dump.
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      errors.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}"))
    val json = picked.map(d => s"${jstr(d.name)}: ${jstr(d.oracleSql)}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.map(_._1).mkString(", "))
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.functions.col

/** The [[Session.local]] factory: the runtime every entry point and the
  * test suite share, and the scratch directories Bench reports.
  */
class SessionSpec extends SparkSpec {

  test("factory session: one shuffle partition per core, UTC, AQE, nanosAsLong, shared") {
    val cores = "local\\[(\\d+)\\]".r
      .findFirstMatchIn(spark.sparkContext.master).map(_.group(1))
    assert(cores.isDefined, s"master ${spark.sparkContext.master}")
    assert(cores.contains(spark.conf.get("spark.sql.shuffle.partitions")))
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(java.util.TimeZone.getDefault.getID == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(Session.local() eq spark)
  }

  // SPARK_LOCAL_DIRS overrides spark.local.dir: the reported directories
  // must be the ones Spark writes to, with or without that variable.
  test("a shuffle writes its block-manager files under Session.localDirs") {
    val grouped = spark.range(1000).groupBy(col("id") % 7).count()
    assert(grouped.collect().length == 7)
    val blockManagers = Session.localDirs
      .flatMap(d => Option(new java.io.File(d).listFiles()).toSeq.flatten)
      .filter(_.getName.startsWith("blockmgr-"))
    assert(blockManagers.nonEmpty,
      s"no blockmgr- entry under ${Session.localDirs.mkString(", ")}")
    // another process sharing SPARK_LOCAL_DIRS may delete its own
    // blockmgr- directory while this walks it
    def holdsShuffleFile(dir: java.io.File): Boolean =
      try {
        val walk = java.nio.file.Files.walk(dir.toPath)
        try walk.anyMatch(_.getFileName.toString.startsWith("shuffle_"))
        finally walk.close()
      } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => false }
    assert(blockManagers.exists(holdsShuffleFile))
  }
}

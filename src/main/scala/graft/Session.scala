package graft

import org.apache.spark.sql.SparkSession

/** The one local runtime that every entry point and the test suite run
  * in: `local[n]` with one shuffle partition per core, UTC timestamps,
  * AQE on, the UI off. `n` comes from `SPARK_GRAFT_CPUS` (default 4).
  */
object Session {

  private val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  private val envLocalDirs = sys.env.get("SPARK_LOCAL_DIRS")

  /** The directories Spark writes its shuffle and spill files under.
    * `SPARK_LOCAL_DIRS` overrides `spark.local.dir`, so when it is set
    * these are its entries. Otherwise it is one per-process tmpfs
    * directory: shared-host disk stalls on /tmp showed up as random
    * 15-60 s spikes on individual bench samples.
    */
  lazy val localDirs: Seq[String] = envLocalDirs match {
    case Some(dirs) => dirs.split(",").toSeq
    case None => Seq(Scratch.tmpfsDir("graft_spark"))
  }

  /** The session, built on first call and shared after that. */
  def local(): SparkSession = {
    // Pin the JVM default timezone too (not just the session TZ):
    // java.sql.Timestamp literals and NTZ casts otherwise shift on a
    // non-UTC host and silently break the oracle compare.
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet is TIMESTAMP(NANOS)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    if (envLocalDirs.isEmpty) builder.config("spark.local.dir", localDirs.head)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

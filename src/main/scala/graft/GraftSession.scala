package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every entry point (tests, bench, verify, the
  * pipeline and dev mains) builds its session here. Tuned for local mode,
  * but nothing below is local-only: AQE, UTC session time, and a
  * shuffle-partition count sized to the parallelism are what we'd set on
  * a real cluster too (where shuffle.partitions scales with executor
  * cores instead).
  *
  * The session is built with [[graft.expressions.GraftExtensions]], so
  * graft's SQL functions, optimizer rule and planner strategy are present
  * from the start (and in every `newSession()` derived from it) — no
  * operator or query registers anything itself.
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS` when set, else every core the JVM sees. */
  private def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cores: Int = defaultCores, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new graft.expressions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // testdata events.ts is parquet TIMESTAMP(NANOS) which vanilla Spark
      // rejects; read as Long (ns since epoch) and normalize via
      // Tables.withEventTime where a real timestamp is needed.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

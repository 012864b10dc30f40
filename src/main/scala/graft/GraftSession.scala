package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder every main uses: UTC session time zone
  * (parity with the DuckDB oracle), no UI, shuffle partitions equal to
  * the core count, and WARN logs unless the main asks otherwise. */
object GraftSession {

  /** Core count: `SPARK_GRAFT_CPUS`, else the main's own default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  /** A `local[cpus]` session — the harness mains (Bench, Verify,
    * PlanDump, ScaleSmoke). */
  def local(cpus: Int, logLevel: String = "WARN"): SparkSession =
    build(s"local[$cpus]", cpus, None, logLevel)

  /** A session on `SPARK_MASTER` (default `local[4]`) with
    * `SPARK_GRAFT_CPUS` (default 4) shuffle partitions — the mains that
    * can run against a cluster (SchemaLintMain, StreamingMain). */
  def fromEnv(appName: String): SparkSession =
    build(sys.env.getOrElse("SPARK_MASTER", "local[4]"), cpus(4), Some(appName), "WARN")

  private def build(master: String, partitions: Int, appName: Option[String],
                    logLevel: String): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = appName.fold(b)(b.appName).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}

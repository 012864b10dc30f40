package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, run the timed passes, check
  * outputs, and write everything measured to one JSON record that
  * `run.py` turns into metrics.
  *
  * Usage: `perfbench.Main <spec-file>`. The spec is `key=value` lines
  * written by `run.py`; `pass=` lines repeat, one per timed pass, each a
  * comma-separated op list (query names, or cycle numbers for
  * lint_migrate); `traced=` lists the passes a traced run records. Every
  * path the run writes lies under `dir=`.
  */
object Main {
  /** Set-up runs this many times from a fresh state; `setup_s` takes the
    * median. */
  val SetupReps = 3

  final case class Spec(kv: Map[String, String], passes: Seq[Seq[String]]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"spec lacks $k"))
    def int(k: String): Int = apply(k).toInt
    def ints(k: String): Set[Int] = apply(k).split(',').filter(_.nonEmpty).map(_.toInt).toSet
  }

  def readSpec(path: String): Spec = {
    val lines = Files.readAllLines(Paths.get(path)).asScala.map(_.trim).filter(_.nonEmpty)
    val pairs = lines.map { l => val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1) }
    Spec(pairs.filter(_._1 != "pass").toMap,
      pairs.filter(_._1 == "pass").map(_._2.split(',').toSeq.filter(_.nonEmpty)).toSeq)
  }

  /** Peak resident set of this process (`VmHWM`), in kB. */
  def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def main(args: Array[String]): Unit =
    if (args(0) == "--oracles") writeOracles(args(1), args.drop(2).toSeq) else run(args(0))

  /** `--oracles <out.json> <query>...`: the DuckDB oracle SQL the program
    * declares for each query, for `pin.py`. */
  def writeOracles(out: String, names: Seq[String]): Unit = {
    val sqls = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(out),
      Json.obj(names.map(n => n -> sqls.getOrElse(n, sys.error(s"$n has no oracle"))): _*))
  }

  def run(specPath: String): Unit = {
    val spec = readSpec(specPath)
    val dir = Paths.get(spec("dir"))
    val cores = spec.int("cores")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.local.dir", dir.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(spark.sparkContext)
    val body =
      try {
        if (spec("workload") == "lint_migrate") new LintWorkload(spark, spec, tracer).run()
        else new OpsWorkload(spark, spec, tracer).run()
      } finally tracer.stop()
    val record = Json.obj(
      "session_s" -> sessionS,
      "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "body" -> Json.Raw(body),
      "spans" -> Json.Raw(tracer.spansJson),
      "jobs" -> Json.Raw(tracer.jobsJson),
      "vmhwm_kb" -> vmHwmKb())
    spark.stop()
    Files.writeString(Paths.get(spec("out")), record + "\n")
  }

  /** Hard-links every file of `src` into a new directory `dst`, so a set-up
    * repetition sees the same input bytes under a path no earlier
    * repetition has cached anything against. */
  def linkTree(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    Files.list(src).iterator().asScala.foreach { p =>
      val q = dst.resolve(p.getFileName.toString)
      if (Files.isDirectory(p)) linkTree(p, q) else Files.createLink(q, p)
    }
  }
}

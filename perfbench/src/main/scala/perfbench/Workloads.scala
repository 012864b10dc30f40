package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.catalog.Catalog
import graft.report.Report
import graft.rules.Rules

/** The schema-lint user flow under a migration stream.
  *
  * Set-up (repeated [[Main.SetupReps]] times, each in a fresh in-memory Derby
  * database): create the generated base schema, then lint it once,
  * untimed. One op is one cycle: apply the cycle's DDL batch (Derby's own
  * work, timed apart from the op), then lint it through
  * `Catalog.fromReflection` → `Rules.all` → `Report.renderConsole` +
  * `Report.writeCsv`. The issues each lint finds are returned for
  * `run.py` to compare with the generator's prediction.
  */
final class LintWorkload(spark: SparkSession, spec: Main.Spec, tracer: Tracer) {
  private val dir = Paths.get(spec("dir"))
  private val database = "perfbench"
  private val driver = Some("org.apache.derby.jdbc.EmbeddedDriver")
  driver.foreach(Class.forName)

  private def statements(file: String): Seq[String] =
    Files.readAllLines(Paths.get(file)).asScala.map(_.trim).filter(_.nonEmpty).toSeq

  /** Cycle number → its DDL batch; a batch starts at a `#cycle N` line. */
  private val batches: Map[Int, Seq[String]] = {
    var cur = -1
    val acc = scala.collection.mutable.LinkedHashMap.empty[Int, Vector[String]]
    statements(spec("batches")).foreach { l =>
      if (l.startsWith("#cycle ")) { cur = l.stripPrefix("#cycle ").toInt; acc(cur) = Vector.empty }
      else acc(cur) = acc(cur) :+ l
    }
    acc.toMap
  }

  private def execute(conn: java.sql.Connection, sqls: Seq[String]): Unit = {
    val st = conn.createStatement()
    try sqls.foreach(st.execute) finally st.close()
  }

  /** One lint: returns the op record's fields (without timing context). */
  private def lint(url: String, pass: Int): Seq[(String, Any)] = {
    val (catalog, readS) = tracer.span("catalog.read", pass = pass) {
      Catalog.fromReflection(spark, url, schemaPattern = Some("APP"), driver = driver)
    }
    val (issues, rulesS) = tracer.span("rules.eval", pass = pass) {
      val df = Rules.all(catalog).cache()
      df.count()
      df
    }
    val (console, consoleS) = tracer.span("report.console", pass = pass) {
      Report.renderConsole(issues, database)
    }
    val (csv, csvS) = tracer.span("report.csv", pass = pass) {
      Report.writeCsv(issues, dir.resolve("exports").toString, database)
    }
    val (columns, _) = tracer.span("lint.release", pass = pass) {
      issues.unpersist(blocking = true)
      catalog.columns.count()
    }
    val csvPath = Paths.get(csv)
    val triples = console.split("\n\n").toSeq.flatMap { block =>
      val f = block.split("\n").flatMap { l =>
        val i = l.indexOf(": ")
        if (i > 0) Some(l.substring(0, i) -> l.substring(i + 2)) else None
      }.toMap
      for (t <- f.get("Table"); c <- f.get("Column"); k <- f.get("Issue Type")) yield Seq(t, c, k)
    }
    Seq("catalog_s" -> readS, "rules_s" -> rulesS, "console_s" -> consoleS, "csv_s" -> csvS,
      "columns" -> columns, "issues" -> triples,
      "csv_rows" -> (Files.readAllLines(csvPath).size - 1), "csv_bytes" -> Files.size(csvPath))
  }

  def run(): String = {
    val traced = spec.ints("traced")
    val schema = statements(spec("schema"))
    var url = ""
    val setup = (0 until Main.SetupReps).map { rep =>
      val t0 = System.nanoTime()
      if (url.nonEmpty) // drop the previous repetition's database
        Try(java.sql.DriverManager.getConnection(url.replace(";create=true", "") + ";drop=true"))
      url = s"jdbc:derby:memory:perfbench_rep$rep;create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      try execute(conn, schema) finally conn.close()
      val warm = lint(url, -1)
      Json.obj(("setup_s" -> (System.nanoTime() - t0) / 1e9) +: warm: _*)
    }
    val conn = java.sql.DriverManager.getConnection(url)
    val passes = spec.passes.zipWithIndex.map { case (cycles, p) =>
      if (traced(p)) tracer.start() else tracer.stop()
      val t0 = System.nanoTime()
      val ops = cycles.map { c =>
        val (ddl, ddlS) = tracer.span("lint.ddl", pass = p)(Try(execute(conn, batches(c.toInt))))
        val fields = ddl match {
          case Failure(e) => Seq("ok" -> false, "error" -> s"ddl: ${e.getMessage}")
          case Success(_) =>
            Try(lint(url, p)) match {
              case Success(f) => ("ok" -> true) +: f
              case Failure(e) => Seq("ok" -> false, "error" -> String.valueOf(e.getMessage))
            }
        }
        Json.obj(Seq("pass" -> p, "name" -> c, "traced" -> traced(p),
          "ddl_s" -> ddlS) ++ fields: _*)
      }
      Json.obj("pass" -> p, "traced" -> traced(p),
        "wall_s" -> (System.nanoTime() - t0) / 1e9, "ops" -> ops.map(Json.Raw))
    }
    tracer.stop()
    conn.close()
    Json.obj("setup" -> setup.map(Json.Raw), "passes" -> passes.map(Json.Raw))
  }
}

/** The query workload (`ops_iterative`): each op is one contract query —
  * `SparkEntry.queries(name)` builds it, a `noop` write runs it, and
  * `spark.catalog.clearCache()` + `graft.ops.releaseStageBoundaries()`
  * release what it pinned. The release is part of the pass, not the op.
  *
  * Set-up (repeated [[Main.SetupReps]] times) is one untimed pass over
  * every query with a fresh `java.io.tmpdir` and a fresh path to the input
  * tables, so each repetition rebuilds the persisted state (`ParquetState`
  * indexes, bucketed tables) the queries keep across calls. After the
  * timed passes, one untimed check pass calls every query again on the
  * last repetition's path and tmpdir, so it reads the state the timed
  * passes read. Set-up and check passes write each result as parquet
  * under `check/rep<i>/` and `check/final/`, which `run.py` hashes against
  * the pinned oracle hashes: first calls and later calls are both checked.
  */
final class OpsWorkload(spark: SparkSession, spec: Main.Spec, tracer: Tracer) {
  private val dir = Paths.get(spec("dir"))
  private val queries = graft.SparkEntry.queries
  private val modules: Map[String, String] = {
    import graft.ops._
    Seq("Graph" -> Graph.all, "Analytics" -> Analytics.all, "Layout" -> Layout.all,
      "Temporal" -> Temporal.all, "TextOps" -> TextOps.all, "Dedup" -> Dedup.all,
      "Similarity" -> Similarity.all)
      .flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
  }

  private def release(module: String, pass: Int): Unit =
    tracer.span("ops.release", module, pass) {
      spark.catalog.clearCache()
      graft.ops.releaseStageBoundaries()
    }

  /** Runs one query; `out` = None times the `noop` write, Some(path)
    * writes the result there as one parquet file instead. */
  private def op(name: String, data: String, pass: Int, out: Option[String]): Seq[(String, Any)] = {
    val module = modules.getOrElse(name, "other")
    val run = Try(tracer.span("ops.build", module, pass)(queries(name)(spark, data)))
      .flatMap { case (df, buildS) =>
        Try(tracer.span("ops.exec", module, pass) {
          out match {
            case None => df.write.format("noop").mode("overwrite").save()
            case Some(path) => df.coalesce(1).write.mode("overwrite").parquet(path)
          }
        }).map { case (_, execS) => (buildS, execS) }
      }
    release(module, pass)
    val fields = run match {
      case Success((b, e)) => Seq("ok" -> true, "build_s" -> b, "exec_s" -> e)
      case Failure(e) => Seq("ok" -> false, "error" -> String.valueOf(e.getMessage))
    }
    Seq("name" -> name, "module" -> module) ++ fields
  }

  def run(): String = {
    val traced = spec.ints("traced")
    val warmOrder = spec("warm").split(',').toSeq
    val src = Paths.get(spec("data"))
    var data = ""
    def checked(sub: String, pass: Int): Seq[String] =
      warmOrder.map(n => Json.obj(op(n, data, pass, Some(dir.resolve(s"check/$sub/$n").toString)): _*))
    val setup = (0 until Main.SetupReps).map { rep =>
      val t0 = System.nanoTime()
      val tmp = dir.resolve(s"tmp/rep$rep")
      Files.createDirectories(tmp)
      System.setProperty("java.io.tmpdir", tmp.toString)
      data = dir.resolve(s"data/rep$rep").toString
      Main.linkTree(src, Paths.get(data))
      val ops = checked(s"rep$rep", -1)
      Json.obj("setup_s" -> (System.nanoTime() - t0) / 1e9, "ops" -> ops.map(Json.Raw))
    }
    val passes = spec.passes.zipWithIndex.map { case (names, p) =>
      if (traced(p)) tracer.start() else tracer.stop()
      val t0 = System.nanoTime()
      val ops = names.map(n => Json.obj(Seq("pass" -> p, "traced" -> traced(p)) ++
        op(n, data, p, None): _*))
      Json.obj("pass" -> p, "traced" -> traced(p),
        "wall_s" -> (System.nanoTime() - t0) / 1e9, "ops" -> ops.map(Json.Raw))
    }
    tracer.stop()
    val check = checked("final", -2)
    Json.obj("setup" -> setup.map(Json.Raw), "passes" -> passes.map(Json.Raw),
      "check" -> check.map(Json.Raw))
  }
}

package graft

import org.apache.spark.sql.DataFrame

/** Shared devices for every operator registry in `graft.ops`. */
package object ops {

  /** Conf key selecting how [[StageBoundaryOps.stageBoundary]]
    * materializes a multi-consumer intermediate. Values:
    *
    *   - `local` (default): eager `localCheckpoint` — one computation,
    *     lineage truncated, blocks held UNREPLICATED on executors. The
    *     right call in `local[n]` (driver == executor, nothing to lose)
    *     and the cheapest barrier, but on a real cluster an executor
    *     loss fails the query instead of recomputing.
    *   - `reliable`: eager `Dataset.checkpoint` to the reliable
    *     checkpoint directory ([[StageBoundaryDirKey]], set lazily) —
    *     the cluster-mode posture: the boundary survives executor loss
    *     and dynamic-allocation shrink, at the price of a filesystem
    *     write. This is the local stand-in for what a production
    *     pipeline does at these exact points: write the stage to
    *     storage.
    *   - `none`: no materialization — lineage flows through (for plan
    *     audits of the un-truncated shape; consumers may recompute).
    */
  val StageBoundaryModeKey = "spark.graft.stageBoundary"

  /** Reliable-mode checkpoint directory (only read when
    * [[StageBoundaryModeKey]] is `reliable` and no checkpoint dir is
    * set on the context yet). */
  val StageBoundaryDirKey = "spark.graft.stageBoundaryDir"

  /** Weak registry of every RDD a stage boundary has pinned in the
    * block manager. `spark.catalog.clearCache()` frees Dataset persists
    * but NOT localCheckpoint blocks — those wait for the ContextCleaner
    * to GC the unreferenced RDD objects, which over a 396-query sweep
    * on a large driver heap can lag far behind (ADVICE r10).
    * [[releaseStageBoundaries]] drains the registry and unpersists
    * explicitly; the references are WEAK so an un-drained registry
    * (tests, ad-hoc sessions) never blocks the GC path that used to be
    * the only release. */
  private val boundaryRdds =
    new java.util.concurrent.ConcurrentLinkedQueue[
      java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]]]()

  /** Unpersisting a locally-checkpointed RDD is deliberate here (the
    * query's action has consumed it), but each call logs a WARN
    * ("RDD n was locally checkpointed, its lineage has been truncated…")
    * — ~160 boundaries × 396 queries of pure noise. `RDD.unpersist`
    * logs it under the concrete RDD's class, and every registered
    * boundary RDD is the `MapPartitionsRDD` that `Dataset.localCheckpoint`
    * builds, so quiet exactly that logger, once — warnings from every
    * other RDD class still show. */
  private lazy val quietRddLogger: Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }

  /** Unpersist every stage-boundary block registered since the last
    * drain (harness calls this between queries, OUTSIDE any timed
    * region). Blocks are dropped non-blocking; a boundary DataFrame
    * must not be re-read after its query's action completes.
    *
    * Queries must run SEQUENTIALLY around a drain: the registry is
    * global, so a drain unpersists every registered boundary, including
    * those of a query still in flight on another thread — whose
    * truncated lineage then cannot be recomputed, and which fails. */
  def releaseStageBoundaries(): Unit = {
    quietRddLogger
    var ref = boundaryRdds.poll()
    while (ref != null) {
      val rdd = ref.get()
      if (rdd != null) {
        try rdd.unpersist(blocking = false)
        catch { case _: Throwable => () }
      }
      ref = boundaryRdds.poll()
    }
  }

  /** The engine-wide stage-boundary materializer (r11: one pluggable
    * device instead of ~160 inlined `localCheckpoint(true)` calls).
    * Semantics under the default conf are byte-identical to
    * `localCheckpoint(true)`: the DataFrame is computed EAGERLY, once,
    * and every downstream plan reference reads the materialized blocks
    * (a `LogicalRDD`) instead of re-embedding — and racing, when
    * consumers are parallel stages of one job — the full lineage. */
  implicit final class StageBoundaryOps(private val df: DataFrame) extends AnyVal {
    def stageBoundary: DataFrame = {
      val spark = df.sparkSession
      spark.conf.get(StageBoundaryModeKey, "local") match {
        case "reliable" =>
          val sc = spark.sparkContext
          if (sc.getCheckpointDir.isEmpty)
            sc.setCheckpointDir(spark.conf.get(
              StageBoundaryDirKey,
              new java.io.File(
                System.getProperty("java.io.tmpdir"), "graft-stage-boundaries").getPath))
          df.checkpoint(true)
        case "none" => df
        case _ =>
          val out = df.localCheckpoint(true)
          out.queryExecution.logical match {
            case lr: org.apache.spark.sql.execution.LogicalRDD =>
              boundaryRdds.add(new java.lang.ref.WeakReference(lr.rdd))
            case _ => ()
          }
          out
      }
    }
  }
}

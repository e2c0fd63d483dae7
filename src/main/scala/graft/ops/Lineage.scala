package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Repartition}

/** Lineage truncation for iterative operators (PageRank, connected
  * components, k-means, minhash closure): every iteration's plan would
  * otherwise embed the whole upstream computation, so the loop bodies
  * cut lineage by checkpointing.
  *
  * Which checkpoint is a DEPLOYMENT property, not a code edit:
  *   - `localCheckpoint()` (default) stores blocks on executors — fast,
  *     no filesystem, but executor loss destroys the only copy and
  *     FAILS the job. The right trade on local[n] and short jobs.
  *   - `.checkpoint()` (reliable) writes to the SparkContext checkpoint
  *     directory — survives executor loss; the right trade for a
  *     1000-executor 100 TB run where preemption is routine.
  *
  * The switch is Spark's own flag: call
  * `spark.sparkContext.setCheckpointDir(dir)` and every graft iterative
  * op checkpoints reliably to it; unset (the default), they stay
  * executor-local. `spark.graft.checkpoint.reliable` = true|false|auto
  * (session conf) overrides the auto-detection — "false" keeps
  * localCheckpoint even with a dir set (e.g. a dir configured for
  * Structured Streaming only).
  *
  * Reliable-mode storage note: Spark does NOT delete `.checkpoint()`
  * output by default, and the iterative loops cut several times per
  * round (connected components: 2 edge-list copies per round) — on a
  * long-lived context the checkpoint dir grows until it is wiped. Set
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` **in the
  * SparkConf at context creation** so the ContextCleaner reclaims each
  * superseded checkpoint as its RDD is GC'd (the loops drop references
  * every cut, so only live data stays); [[cut]] warns once per JVM if
  * reliable mode is active without it.
  */
object Lineage {

  @volatile private var warnedLeak = false

  /** Truncate `df`'s lineage: reliable `.checkpoint()` when configured
    * (see object doc), `localCheckpoint()` otherwise. Both are eager. */
  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val reliable = spark.conf.get("spark.graft.checkpoint.reliable", "auto") match {
      case "true"  => true
      case "false" => false
      case _       => spark.sparkContext.getCheckpointDir.isDefined
    }
    if (reliable) {
      if (!warnedLeak && spark.sparkContext.getConf
          .get("spark.cleaner.referenceTracking.cleanCheckpoints", "false") != "true") {
        warnedLeak = true
        System.err.println("[graft] Lineage: reliable checkpoints are on but " +
          "spark.cleaner.referenceTracking.cleanCheckpoints is not — superseded " +
          "checkpoint data will accumulate in the checkpoint dir until the " +
          "context stops (set it true in the SparkConf at context creation)")
      }
      df.checkpoint()
    } else df.localCheckpoint()
  }

  /** True iff `df`'s estimated size (`optimizedPlan.stats.sizeInBytes`)
    * is at most `spark.sql.autoBroadcastJoinThreshold`, so its rows may
    * be collected and worked on the driver: that is the estimate and the
    * bound Spark itself uses to decide a relation is small enough to
    * ship to every task from the driver, so the driver already holds
    * relations that size. A bound of -1 keeps every frame distributed. */
  def fitsOnDriver(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes <=
      df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold

  /** True iff `plan` is a driver-resident relation: a `LocalRelation`,
    * bare or behind `coalesce(1)`.
    *
    * A session reads its driver-resident table versions behind
    * `coalesce(1)`. Spark slices a bare `LocalRelation` into up to
    * `defaultParallelism` partitions of unknown partitioning, so every
    * aggregate, window, DISTINCT or sort over it plans a hash or range
    * exchange. Behind `coalesce(1)` it is one partition (`CoalesceExec`
    * reports `SinglePartition`, which meets every clustered and ordered
    * distribution), so such a query runs as one task with no shuffle. One
    * task is the right plan for it: a relation is held on the driver only
    * when it [[fitsOnDriver]], and in a join it is the broadcast side
    * anyway. The coalesce does stop the optimiser from folding filters and
    * projections of the relation on the driver, so a caller that wants
    * them folded reads the relation bare. */
  def isDriverResident(plan: LogicalPlan): Boolean = plan match {
    case _: LocalRelation | Repartition(1, false, _: LocalRelation) => true
    case _ => false
  }
}

package graft.pipeline

import org.apache.spark.sql.DataFrame

/** Lineage truncation for ITERATIVE operators — the shared helper behind
  * every per-round checkpoint in the engine (connected components'
  * label-propagation rounds, the KMV harmonic sketch's ball-merge
  * rounds): a round that reads its own previous state re-references the
  * same subtree, so an un-truncated chain grows the logical plan
  * per round (DOUBLES it when the state is read twice) and OOMs the
  * planner long before any data does.
  *
  * `localCheckpoint` by default: blocks pinned to executors — fast, no
  * storage dependency, but UNRECOVERABLE on executor loss (the
  * truncated lineage cannot replay). A long-lived cluster run sets
  * `spark.graft.reliableCheckpoint=true` (plus
  * `spark.sparkContext.setCheckpointDir(<reliable storage path>)`) to
  * swap in a reliable checkpoint at no plan change — the same
  * truncation, recoverable blocks. LAZY either way (`eager = false`):
  * the caller's next action is the single job that materializes both
  * the checkpoint blocks and the computation — one driver barrier per
  * round, not two.
  */
private[graft] object Checkpoints {

  /** Truncate `df`'s lineage for the next iteration. `opName` names the
    * refusing operator in the missing-checkpoint-dir error.
    */
  def iterCheckpoint(df: DataFrame, opName: String): DataFrame = {
    val key = "spark.graft.reliableCheckpoint"
    // tolerant parse, refusing loudly BY KEY on junk: a bare .toBoolean
    // threw 'For input string: "1"' with no hint of which conf was wrong
    // (ADVICE r20)
    val reliable = df.sparkSession.conf.getOption(key).exists { v =>
      val t = v.trim
      if (t.equalsIgnoreCase("true")) true
      else if (t.equalsIgnoreCase("false")) false
      else throw new IllegalArgumentException(
        s"$opName: conf $key must be true or false, got '$v'")
    }
    if (reliable) {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        s"reliable checkpointing for $opName requires " +
          "spark.sparkContext.setCheckpointDir(<reliable storage path>) " +
          "before running it")
      df.checkpoint(eager = false)
    } else df.localCheckpoint(eager = false)
  }
}

package graft.ops

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD

/** The two per-round primitives of the iterative operators.
  *
  * [[checkpoint]] cuts a round's lineage with an eager `localCheckpoint`
  * and reads the round's probes (a convergence signature, a row count,
  * a normalizing max) as observed metrics of that same job — no probe
  * job of its own. Level-synchronous rounds are bound by driver
  * round-trips, so the probe must ride the checkpoint.
  *
  * [[release]] frees a round's frame. `Dataset.unpersist` only drops a
  * frame from the cache manager; a `localCheckpoint`ed frame's blocks
  * belong to the RDD under its `LogicalRDD` leaf and stay cached until
  * that RDD itself is unpersisted. Release a checkpointed frame only
  * once nothing lazy still reads it: its lineage is gone, so a later
  * read of a released frame fails instead of recomputing.
  */
private[graft] object Rounds {
  private val Probe = "graft_round_probe"

  /** `RDD.unpersist` warns, through the logger of the RDD's class, that a
    * checkpointed RDD's lineage is gone. A release means exactly that, so
    * the logger of the class `Dataset.localCheckpoint` builds is raised to
    * ERROR, once per JVM.
    */
  private lazy val quietCheckpointUnpersist: Unit =
    Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)

  /** Eager `localCheckpoint` of `df` with `probes` observed on the same
    * job → (the checkpointed frame, the probe row in `probes` order).
    */
  def checkpoint(df: DataFrame, probes: Column*): (DataFrame, Row) = {
    val pre = df.observe(Probe, probes.head, probes.tail: _*)
    val chk = pre.localCheckpoint()
    // metrics land on the observed plan's execution, not the checkpoint's
    (chk, pre.queryExecution.observedMetrics(Probe))
  }

  /** Frees `df` whether it was `persist()`ed or `localCheckpoint`ed. */
  def release(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.logical match {
      case r: LogicalRDD =>
        quietCheckpointUnpersist
        r.rdd.unpersist(blocking = false)
      case _ =>
    }
  }
}

package graft.ops

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}

/** The per-round primitives of the iterative operators.
  *
  * [[checkpoint]] cuts a round's lineage with an eager `localCheckpoint`
  * and reads the round's probes (a convergence signature, a row count,
  * a normalizing max) as observed metrics of that same job — no probe
  * job of its own. Level-synchronous rounds are bound by driver
  * round-trips, so the probe must ride the checkpoint: every round loop
  * reads its stop signal this way, most through [[counted]].
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

  /** The row-count probe: a loop's emptiness or fixpoint signal. Over
    * zero rows it reads 0; a `sum`, `max` or `bit_xor` reads NULL there,
    * so a probe that may see an empty round is a `count` or `count_if`.
    */
  val rows: Column = count(lit(1)).as("__n")

  /** Eager `localCheckpoint` of `df` with `probes` observed on the same
    * job → (the checkpointed frame, the probe row in `probes` order).
    */
  def checkpoint(df: DataFrame, probes: Column*): (DataFrame, Row) = {
    val pre = df.observe(Probe, probes.head, probes.tail: _*)
    val chk = pre.localCheckpoint()
    // metrics land on the observed plan's execution, not the checkpoint's
    (chk, pre.queryExecution.observedMetrics(Probe))
  }

  /** [[checkpoint]] with the [[rows]] probe → (the frame, its row count). */
  def counted(df: DataFrame): (DataFrame, Long) = {
    val (chk, m) = checkpoint(df, rows)
    (chk, m.getLong(0))
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

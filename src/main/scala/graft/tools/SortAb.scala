package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.classic.{DataFrame => CDataFrame, Dataset => CDataset, SparkSession => CSparkSession}

/** Measurement main: for each named lane, time the query as written vs
  * with a root-level global [[Sort]] stripped from its analyzed plan —
  * the generic form of the round-20 trailing-sort probe (a trailing
  * orderBy's RangePartitioner boundary-sampling pass re-executes the
  * child stage up to the last exchange; for broadcast-only pipelines
  * that is the whole lane). Lives in the `org.apache.spark.sql`
  * package only for `Dataset.ofRows` (building a frame from a plan has
  * no public API); measurement tooling, not a product operator.
  *
  * Usage: SortAb <sfDir> <q1,q2,...> [reps=4]
  * Prints per-lane `name asIs strippedMin pct` — min over warm reps,
  * rep 1 discarded, noop-sink materialization matching graft.Bench.
  */
object SortAb {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SortAb <sfDir> <q1,q2,...> [reps]")
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 4
    val spark = graft.JobRunner.session("graft-sortab")
    spark.sparkContext.setLogLevel("ERROR")
    val cs = spark.asInstanceOf[CSparkSession]

    def strip(df: DataFrame): Option[DataFrame] =
      df.queryExecution.analyzed match {
        case Sort(_, true, child, _) => Some(CDataset.ofRows(cs, child))
        case _                       => None
      }

    def time(mk: () => DataFrame): Double = {
      val t0 = System.nanoTime()
      mk().write.mode("overwrite").format("noop").save()
      val s = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      s
    }

    names.foreach { n =>
      val mk = () => graft.SparkEntry.queries(n)(spark, sfDir)
      if (strip(mk()).isEmpty) {
        println(f"$n%-28s NO-ROOT-SORT")
      } else {
        // interleave arms so a host-noise window hits both equally
        val a = Array.fill(reps)(0.0)
        val b = Array.fill(reps)(0.0)
        (0 until reps).foreach { i =>
          a(i) = time(mk)
          b(i) = time(() => strip(mk()).get)
        }
        val am = a.drop(1).min; val bm = b.drop(1).min
        println(f"$n%-28s asIs=$am%6.2f stripped=$bm%6.2f  ${100 * (am - bm) / am}%5.1f%%")
      }
    }
    spark.stop()
  }
}

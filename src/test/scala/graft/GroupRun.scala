package graft

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** Runs a body under a Spark job group of its own and reports what its
  * jobs did: how many jobs it started, and how many of the persisted RDDs
  * its stages touched are still persisted when it returns.
  *
  * Other suites in the same JVM may run jobs and persist RDDs
  * concurrently; the group keeps them out, and reaches pooled threads
  * through `Par.grouped`. While the body runs every persisted RDD is held
  * strongly: the persisted map holds RDDs weakly, so garbage collection
  * would otherwise drop unreleased ones at random and the count would not
  * depend on the releases alone.
  */
object GroupRun {
  final case class Result[T](value: T, jobs: Int, touched: Int, left: Int)

  def apply[T](spark: SparkSession, group: String)(body: => T): Result[T] = {
    val sc = spark.sparkContext
    val touched = ConcurrentHashMap.newKeySet[Int]()
    val jobs = new AtomicInteger(0)
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      private def prop(p: Properties, k: String) =
        Option(p).map(_.getProperty(k)).orNull
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (prop(e.properties, "spark.jobGroup.id") == group)
          e.stageInfo.rddInfos.filter(_.storageLevel.isValid)
            .foreach(i => touched.add(i.id))
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (prop(e.properties, "spark.job.description") == group)
          marker.countDown()
        else if (prop(e.properties, "spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    val held = new ConcurrentHashMap[Int, AnyRef]()
    @volatile var running = true
    val poller = new Thread(() => while (running) {
      sc.getPersistentRDDs.foreach { case (id, rdd) => held.put(id, rdd) }
      Thread.sleep(5)
    })
    poller.start()
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, s"$group body")
      val value = body
      // listener events arrive in order: once this job is seen, every
      // job and stage of the body has been
      sc.setJobDescription(group)
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, TimeUnit.SECONDS), s"$group: marker job unseen")
      val persisted = sc.getPersistentRDDs.keySet // while still held
      Result(value, jobs.get, touched.size, touched.asScala.count(persisted))
    } finally {
      running = false
      poller.join()
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

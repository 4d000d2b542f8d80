package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per JVM — suites share it). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Smallest driver-provided scale factor (t1 smoke scale). */
  val sf: String = "/root/testdata/sf0.001"

  /** What a call ran: the call site of every job it started (the job's
    * result stage name, e.g. "treeReduce at Tokenize.scala:190") and the
    * name of every Dataset action it took on this session ("count",
    * "collect"). */
  case class Ran(jobs: Seq[String], actions: Seq[String])

  /** Runs `f` and returns what it ran. Its jobs are told apart by a job
    * group set for the call, its actions by the window they fall in.
    * Listener events arrive asynchronously but in order, so marker jobs
    * run before and afterwards mark the start and the end of `f`'s events
    * (an action that finished before the call may still be in the queue
    * when the listeners register). */
  def ran(f: => Any): Ran = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val sc = spark.sparkContext
    val group = s"ran-${System.nanoTime()}"
    val start = s"$group-start"
    val marker = s"$group-marker"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val done = new java.util.concurrent.CountDownLatch(1)
    @volatile var open = false
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `start` => open = true
          case `group` => jobs.add(e.stageInfos.maxBy(_.stageId).name)
          case `marker` => open = false; done.countDown()
          case _ =>
        }
    }
    val actionListener = new QueryExecutionListener {
      private def seen(name: String, qe: QueryExecution): Unit =
        if (open && (qe.sparkSession eq spark)) actions.add(name)
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit = seen(name, qe)
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = seen(name, qe)
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(actionListener)
    try {
      sc.setJobGroup(start, start)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      sc.setJobGroup(group, group)
      try f finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS), "marker job not seen")
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(actionListener)
    }
    Ran(jobs.toArray(Array.empty[String]).toSeq, actions.toArray(Array.empty[String]).toSeq)
  }
}

package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One Spark job seen by [[SparkTestBase.jobsRun]]: the call stack of
  * the SQL execution it ran under ("" outside one), its finished tasks,
  * the shuffle bytes they wrote and the input records they read. */
final case class JobRun(callStack: String, tasks: Int, shuffleBytes: Long,
    recordsRead: Long) {
  override def toString: String = s"JobRun($tasks tasks, $shuffleBytes shuffle bytes)"
}

/** Shared test session (one per JVM; suites run sequentially). */
trait SparkTestBase {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** The Spark jobs started while `f` runs, in start order (listener
    * events drain first). */
  def jobsRun[A](f: => A): (A, Seq[JobRun]) = {
    Thread.sleep(500)
    val stacks = mutable.Map.empty[Long, String]
    val jobs = mutable.LinkedHashMap.empty[Int, (Option[Long], Int, Long, Long)]
    val jobOfStage = mutable.Map.empty[Int, Int]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          synchronized(stacks(s.executionId) = s.details)
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
        val exec = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong)
        jobs(js.jobId) = (exec, 0, 0L, 0L)
        js.stageIds.foreach(jobOfStage(_) = js.jobId)
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
        jobOfStage.get(te.stageId).foreach { j =>
          val (exec, tasks, bytes, records) = jobs(j)
          val m = Option(te.taskMetrics)
          jobs(j) = (exec, tasks + 1,
            bytes + m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
            records + m.fold(0L)(_.inputMetrics.recordsRead))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = f
      Thread.sleep(500)
      listener.synchronized {
        (a, jobs.values.toSeq.map { case (exec, tasks, bytes, records) =>
          JobRun(exec.flatMap(stacks.get).getOrElse(""), tasks, bytes,
            records)
        })
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM via Test/fork): the
  * engine's own [[Sessions.local]], so tests run the conf that Bench and
  * perfbench run. Its scratch root is swept once when the JVM ends, before
  * Spark's own shutdown hook stops the context.
  */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.local("4")
    GraftBridge.beforeContextShutdown { () =>
      if (!s.sparkContext.isStopped) Scratch.sweep(s)
    }
    s
  }

  val sfDir = "/root/testdata/sf0.001"

  /** What Spark ran while a body ran: jobs started and shuffle bytes
    * written by the stages that completed.
    */
  final case class Ran(jobs: Int, shuffleWriteBytes: Long)

  /** Runs `body` under one listener and returns its value with what Spark
    * ran meanwhile. The listener bus is drained before and after, so the
    * count holds exactly the events of the jobs `body` started.
    */
  def ran[T](spark: SparkSession)(body: => T): (T, Ran) = {
    val jobs = new AtomicInteger
    val shuffled = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        shuffled.addAndGet(
          e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten); ()
      }
    }
    GraftBridge.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val value = body
      GraftBridge.drainListeners(spark)
      (value, Ran(jobs.get, shuffled.get))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir: String = SparkSpec.sfDir

  /** Spark jobs launched while `body` runs. */
  def jobs(body: => Any): Int = SparkSpec.ran(spark)(body)._2.jobs

  /** Runs `f` with session conf `key` set to `value` (unset for None),
    * then restores the session's previous setting.
    */
  def withConf[T](key: String, value: Option[String])(f: => T): T = {
    def put(v: Option[String]): Unit = v match {
      case Some(x) => spark.conf.set(key, x)
      case None => spark.conf.unset(key)
    }
    val prev = spark.conf.getOption(key)
    put(value)
    try f finally put(prev)
  }

  /** Runs `f` with the engine's md5 rewrite excluded from the optimizer,
    * so a composed-idiom reference is computed by Spark's own `md5`, not by
    * the native expression it is compared against. Local-relation folding
    * is excluded too: it evaluates a local input's projection before any
    * rule sees it, and the optimized plan would no longer show which md5
    * ran.
    */
  def withoutMd5Rewrite[T](f: => T): T =
    withConf("spark.sql.optimizer.excludedRules", Some(Seq(
      graft.plans.RewriteMd5Hash32.ruleName,
      org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation.ruleName)
      .mkString(",")))(f)
}

package graft.verify

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{JobFailed, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.JdbcDest
import graft.sources.{FixtureSource, TableSource}

/** Tasks of the slow and failing test tables block here; the listener
  * below releases them once both sides' jobs have started.
  */
object CompareJobShapeGate {
  @volatile var bothStarted = new CountDownLatch(2)
}

/** The Spark jobs deep verification launches: how many, which tags they
  * carry, and that none outlives a failed or cancelled call.
  */
class CompareJobShapeSpec extends SparkSpec {

  System.setProperty("derby.system.home",
    java.nio.file.Files.createTempDirectory("graft_derby_jobs").toString)

  private final case class Jobs(
      started: ConcurrentLinkedQueue[(Int, Set[String])],
      failed: ConcurrentLinkedQueue[Int],
      ended: ConcurrentLinkedQueue[Int])

  /** Runs `body` with a listener recording every job started and ended
    * meanwhile; `onStart` sees each start's tags. The bus is drained on
    * both sides, so the record is complete when `check` reads it.
    */
  private def withJobs[T](onStart: Set[String] => Unit = _ => ())(body: => T)(
      check: (scala.util.Try[T], Jobs) => Unit): Unit = {
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    val jobs = Jobs(new ConcurrentLinkedQueue, new ConcurrentLinkedQueue,
      new ConcurrentLinkedQueue)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .fold(Set.empty[String])(_.split(",").filter(_.nonEmpty).toSet)
        jobs.started.add(e.jobId -> tags)
        onStart(tags)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        jobs.ended.add(e.jobId)
        e.jobResult match {
          case _: JobFailed => jobs.failed.add(e.jobId)
          case _ => ()
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      val r = scala.util.Try(body)
      ListenerBusDrain(sc)
      check(r, jobs)
    } finally sc.removeSparkListener(listener)
  }

  private def withTag[T](tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.addJobTag(tag)
    sc.setInterruptOnCancel(true)
    try body
    finally {
      sc.setInterruptOnCancel(false)
      sc.removeJobTag(tag)
    }
  }

  /** One-table source whose single task waits for both sides' jobs to
    * start, then either sleeps (about 10 s) or fails.
    */
  private def gated(fail: Boolean): TableSource = new TableSource {
    def tableNames(s: SparkSession): Seq[String] = Seq("t")
    def table(s: SparkSession, name: String): DataFrame = {
      val failTask = fail // the task closure must not capture this source
      val f = udf { (x: Long) =>
        CompareJobShapeGate.bothStarted.await(30, TimeUnit.SECONDS)
        if (failTask) throw new IllegalStateException("unreadable destination")
        Thread.sleep(25)
        x
      }
      s.range(0, 400, 1, 1).select(f(col("id")).as("id"))
    }
  }

  private def noJobOutlived(jobs: Jobs): Unit = {
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    assert(jobs.started.asScala.map(_._1).toSet === jobs.ended.asScala.toSet)
  }

  test("FixtureSource.table launches no job for single-file tables") {
    val src = FixtureSource(sfDir)
    withJobs()(src.tableNames(spark).map(t => src.table(spark, t).schema)) { (r, jobs) =>
      assert(r.get.size === 10)
      assert(jobs.started.isEmpty, jobs.started.asScala.mkString(", "))
    }
  }

  test("compareChecksums of a fixture table against Derby: 2 jobs a side, all with the caller's tag") {
    val d = JdbcDest("jdbc:derby:memory:graft_jobshape;create=true",
      new java.util.Properties(), maxConnections = 1)
    d.write(FixtureSource(sfDir).table(spark, "region"), "region")
    withJobs()(withTag("graft-jobshape")(
      Comparator.compareChecksums(spark, FixtureSource(sfDir), d.asSource, "region"))) {
      (r, jobs) =>
        assert(r.get)
        // each side's one-row aggregate is a shuffle-map job plus a
        // result job under AQE; no schema-inference job on either side
        val started = jobs.started.asScala.toSeq
        assert(started.size === 4, started.mkString(", "))
        assert(started.forall(_._2.contains("graft-jobshape")), started.mkString(", "))
        val queries = started.groupBy(_._2.filter(_.contains("execution-root-id")))
        assert(queries.size === 2 && queries.values.forall(_.size == 2), started.mkString(", "))
    }
  }

  test("cancelling the caller's tag fails compareChecksums and leaves no job running") {
    val sc = spark.sparkContext
    val tag = "graft-jobshape-cancel"
    CompareJobShapeGate.bothStarted = new CountDownLatch(2)
    val onStart = (tags: Set[String]) =>
      if (tags.contains(tag)) {
        CompareJobShapeGate.bothStarted.countDown()
        if (CompareJobShapeGate.bothStarted.getCount == 0) sc.cancelJobsWithTag(tag)
      }
    withJobs(onStart)(withTag(tag)(
      Comparator.compareChecksums(spark, gated(false), gated(false), "t"))) { (r, jobs) =>
      assert(r.isFailure, "a cancelled comparison must not return a verdict")
      assert(jobs.started.size === 2)
      assert(jobs.failed.size === 2)
      noJobOutlived(jobs)
    }
  }

  test("a failing side cancels the other side's job and its own error is rethrown") {
    val tag = "graft-jobshape-fail"
    CompareJobShapeGate.bothStarted = new CountDownLatch(2)
    val onStart = (tags: Set[String]) =>
      if (tags.contains(tag)) CompareJobShapeGate.bothStarted.countDown()
    withJobs(onStart)(withTag(tag)(
      Comparator.compareChecksums(spark, gated(false), gated(true), "t"))) { (r, jobs) =>
      val e = r.failed.get
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("unreadable destination")), e)
      assert(jobs.started.size === 2)
      // the slow source side did not run to completion
      assert(jobs.failed.size === 2)
      noJobOutlived(jobs)
    }
  }
}

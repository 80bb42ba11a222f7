package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all specs (one JVM, reused across suites). */
object SparkTestBase {
  lazy val spark: SparkSession = LocalSession("graft-test", 4)
}

abstract class SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkTestBase.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val tempDirs = scala.collection.mutable.ArrayBuffer[Path]()

  /** A fresh directory under the system temp dir; it and everything in it
    * are deleted after the suite. */
  protected def tempDir(prefix: String): String = tempDirs.synchronized {
    val d = Files.createTempDirectory(prefix)
    tempDirs += d
    d.toString
  }

  /** Spark jobs started while `body` runs, as a listener counts them. */
  protected def jobsStartedBy(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val sc = spark.sparkContext
    val (before, after) = ("spec-jobs-before", "spec-jobs-after")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(-1)
    val drained = new CountDownLatch(1)
    // the bus delivers events in order, and late events of earlier jobs
    // too: count only the jobs between the two marker jobs
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.job.description")).orNull match {
          case `before` => jobs.set(0)
          case `after` => drained.countDown()
          case _ => if (jobs.get >= 0) jobs.incrementAndGet()
        }
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker(before)
      body
      marker(after)
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus did not drain")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit =
    try tempDirs.synchronized(tempDirs.foreach { d =>
      if (Files.exists(d)) {
        val paths = Files.walk(d)
        try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
        finally paths.close()
      }
    }) finally super.afterAll()
}

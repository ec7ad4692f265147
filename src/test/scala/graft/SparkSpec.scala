package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all suites (forked test JVM). */
object TestSpark {
  // 4 cpus whatever SPARK_GRAFT_CPUS says: specs that count part files
  // or partitions stay the same on every machine
  lazy val spark: SparkSession =
    Sessions.local(4).appName("graft-tests").getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  implicit lazy val spark: SparkSession = TestSpark.spark
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** Drop a catalog table AND its warehouse directory: the catalog is
    * in-memory per JVM but `spark-warehouse/` persists, so a stale dir
    * from a previous test JVM trips LOCATION_ALREADY_EXISTS. */
  def resetTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val loc = new java.io.File(s"spark-warehouse/$name")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(loc)
    }
  }

  /** Spark jobs `body` runs, counted by a listener between two marker
    * jobs: listener events arrive asynchronously but in order, so once
    * the closing marker is seen every job of `body` has been too. */
  def jobsIn(body: => Unit): Int = {
    val key = "graft.test.marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty(key))).getOrElse(""))
        ()
      }
    }
    val sc = spark.sparkContext
    def marker(tag: String): Unit = {
      sc.setLocalProperty(key, tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(key, null)
      ()
    }
    sc.addSparkListener(listener)
    try {
      marker("start")
      body
      marker("end")
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains("end") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains("end"), "listener never saw the closing marker")
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq.dropWhile(_ != "start").drop(1)
        .takeWhile(_ != "end").size
    } finally sc.removeSparkListener(listener)
  }

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    super.beforeAll()
  }
}

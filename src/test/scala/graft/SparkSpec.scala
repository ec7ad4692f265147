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

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    super.beforeAll()
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole ScalaTest run. The master
  * allows each task two attempts, as a cluster does, so a test can inject a
  * task failure and watch the retry.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4,2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

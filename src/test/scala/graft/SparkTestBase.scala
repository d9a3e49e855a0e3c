package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

trait SparkTestBase extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkTestBase.session
}

object SparkTestBase {
  lazy val session: SparkSession = build()

  def build(): SparkSession = {
    val s = graft.util.LocalFs.getOrCreate(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

package perfbench

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** One small local session shared by the specs. */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder().withExtensions(new GraftExtensions)
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** t1-style smoke: run SparkEntry.entry on a session WITHOUT the
  * nanosAsLong config (like the driver's own session might be) and
  * print the row count. Mirrors the driver's smoke gate. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Engine.withLocalIo(SparkSession.builder())
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(5, truncate = false)
    spark.stop()
  }
}

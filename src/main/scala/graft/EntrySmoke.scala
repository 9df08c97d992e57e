package graft
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions(4)
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${df.count()}")
    df.show(5)
    spark.stop()
  }
}

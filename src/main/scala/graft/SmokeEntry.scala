package graft
object SmokeEntry {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val df = SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${df.count()}")
    df.show(3)
    spark.stop()
  }
}

package graft
object SmokeMain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"SMOKE entry rows=$n")
    df.show(5)
    spark.stop()
  }
}

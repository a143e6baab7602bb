package graft

/** t1 smoke twin: runs the flagship `SparkEntry.entry` and prints the
  * row count (driver checks rows > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(Harness.cpus(4))
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}

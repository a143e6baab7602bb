package graft

/** Runs a single SparkEntry query through [[Harness.runOnce]] and
  * prints its wall time — the per-query iteration loop for plan/perf work
  * without a full Bench pass.
  *
  * Usage: graft.RunQuery <queryName> [sfDir] (default sf0.1)
  */
object RunQuery {
  def main(args: Array[String]): Unit = {
    val name = args.head
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cpus(32))
    spark.range(1).count() // warm scheduler
    val sec = Harness.runOnce(spark, name, sfDir)
    println(f"[runquery] $name total=$sec%.2f s")
    spark.stop()
  }
}

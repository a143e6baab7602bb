package graft

import java.nio.file.{Files, Paths}

/** Materialize a ScaleBench-style scaled corpus dir at a PERSISTENT
  * path so separate Bench JVMs (32-core and 8-core) can point
  * `SPARK_GRAFT_SF_DIR` at the SAME scaled fixture — the scaling
  * keeper VERDICT r17 item 3 asks for (at sf0.1 the bench is
  * overhead-bound and 8-vs-32-core ratios sit at ≈1 everywhere; the
  * scaled corpus is where parallel work separates from the floor).
  *
  * Usage: graft.BuildScaled <sfDir> <outDir>   (SPARK_GRAFT_SCALE=N)
  * Probe main — off the driver path, writes only under <outDir>.
  */
object BuildScaled {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val out = Paths.get(args(1))
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE", "4").toInt
    val spark = Harness.session(Harness.cpus(32))
    Ephemeral.deleteTree(out)
    Files.createDirectories(out)
    ScaleBench.buildScaledDir(spark, sfDir, factor, out)
    println(s"""{"scaled_dir":"$out","factor":$factor,"src":"$sfDir"}""")
    spark.stop()
  }
}

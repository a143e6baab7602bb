package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs — one JVM-wide SparkSession, the mains'
  * own `Harness.session(4)`.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Harness.session(4)
    // short-lived streaming tests never upload snapshots; silence the
    // per-second coordinator lag warnings
    s.conf.set("spark.sql.streaming.stateStore.coordinatorReportSnapshotUploadLag", "false")
    s
  }
}

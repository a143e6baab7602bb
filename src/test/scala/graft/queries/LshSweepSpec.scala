package graft.queries

import graft.SparkSpec

/** LSH banding sweep (`dedup_lsh_sweep`): the S-curve monotonicity
  * that makes the sweep an index-tuning tool — more, narrower bands
  * trade precision for recall — plus internal consistency of the
  * confusion counts.
  */
class LshSweepSpec extends SparkSpec {

  private lazy val rows =
    DedupQueries.queries("dedup_lsh_sweep")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4),
        r.getAs[Double]("precision"), r.getAs[Double]("recall")))
      .sortBy(-_._1) // (8,2), (4,4), (2,8)

  test("recall falls and precision holds as bands narrow to widen rows") {
    assert(rows.map(r => (r._1, r._2)) === Seq((8L, 2L), (4L, 4L), (2L, 8L)))
    val recalls = rows.map(_._7)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a > b },
      s"recall must strictly fall along the sweep: $recalls")
    val precisions = rows.map(_._6)
    assert(precisions.zip(precisions.tail).forall { case (a, b) => a <= b },
      s"precision must not fall along the sweep: $precisions")
  }

  test("confusion counts are internally consistent across configs") {
    // truth size tp + fn is config-independent (same sample, same
    // threshold); candidates are a superset relation in expectation
    // but counts must at least be non-negative and bounded by the
    // sample pair count
    val truthSizes = rows.map(r => r._3 + r._5).distinct
    assert(truthSizes.size === 1, s"shared truth must be identical: $truthSizes")
    val maxPairs = 128L * 127L / 2L
    rows.foreach { r =>
      assert(r._3 >= 0 && r._4 >= 0 && r._5 >= 0)
      assert(r._3 + r._4 <= maxPairs)
    }
    // dedup_lsh_eval reads the same sample and truth
    val eval = DedupQueries.queries("dedup_lsh_eval")(spark, sf).collect()
    assert(eval.length === 1)
    assert(eval(0).getAs[Long]("n_sample") === 128L)
    assert(eval(0).getAs[Long]("n_truth") === truthSizes.head)
  }
}

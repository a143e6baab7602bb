package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Harness]]'s median and subset check, and ScaleBench's query
  * selections derived from `SparkEntry.queries`. */
class HarnessSpec extends AnyFunSuite {

  test("median of an odd count is the middle element, of an even count the mean of the two middle ones") {
    assert(Harness.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Harness.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Harness.median(Seq(7.0)) == 7.0)
    val it = Iterator(3.0, 1.0, 2.0, 5.0)
    assert(Harness.reps(4)(it.next()) == ((2.5, 1.0, 5.0)))
  }

  test("only trims names and rejects an unknown one by name") {
    val known = SparkEntry.queries.keySet
    assert(Harness.only(None, known).isEmpty)
    assert(Harness.only(Some(" q1_agg , stream_did,"), known) ==
      Some(Set("q1_agg", "stream_did")))
    val e = intercept[IllegalArgumentException](
      Harness.only(Some("q1_agg,q1_agx"), known))
    assert(e.getMessage.contains("q1_agx"))
    assert(!e.getMessage.contains("q1_agg"))
  }

  test("ScaleBench's corpus and stream selections are derived from SparkEntry.queries") {
    val corpus = ScaleBench.ScaledQueries
    val stream = ScaleBench.StreamScaledQueries
    assert(corpus.size == 327)
    assert(stream.size == 96)
    assert(corpus.distinct.size == corpus.size && stream.distinct.size == stream.size)
    assert(!corpus.exists(_.startsWith("sensor_")))
    assert(!stream.exists(_.startsWith("sensor_")))
    assert(!corpus.contains("events_ewma"))
    assert(stream.forall(_.startsWith("stream_")))
    assert(corpus.toSet.intersect(stream.toSet).isEmpty)
  }

  test("every series-mode query exists") {
    val missing = ScaleBench.SeriesScaledQueries.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"unknown series-mode queries: $missing")
  }
}

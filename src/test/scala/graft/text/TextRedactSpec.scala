package graft.text

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Unit semantics of the PII detector/redactor columns (the oracle
  * checks text_redact end-to-end against DuckDB; this pins the
  * per-class behavior and the replacement-ordering invariant).
  */
class TextRedactSpec extends SparkSpec {

  private def run(text: String): (Long, Long, Long, String) = {
    val (e, p, i) = TextOps.piiCounts(col("text"))
    val r = spark.range(1).select(lit(text).as("text"))
      .select(e.as("e"), p.as("p"), i.as("i"),
              TextOps.redact(col("text")).as("red"))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
  }

  test("each class detects and redacts independently") {
    assert(run("mail me x.y@zz.example now") ===
      ((1L, 0L, 0L, "mail me <EMAIL> now")))
    assert(run("call 555-1234 today") ===
      ((0L, 1L, 0L, "call <PHONE> today")))
    assert(run("case AB-99 filed") ===
      ((0L, 0L, 1L, "case <ID> filed")))
    assert(run("nothing sensitive here") ===
      ((0L, 0L, 0L, "nothing sensitive here")))
  }

  test("multiple classes and repeats redact globally in one pass") {
    assert(run("a@b.cc then c@d.ee and 555-0000 ref ZZ-1") ===
      ((2L, 1L, 1L, "<EMAIL> then <EMAIL> and <PHONE> ref <ID>")))
  }

  test("replacement tokens never re-match a later class") {
    // '<EMAIL>' carries capitals but no XX-digits run; '<PHONE>' has
    // no digits left — the chained replaces must be order-safe
    assert(run("x@y.zz AB-12") === ((1L, 0L, 1L, "<EMAIL> <ID>")))
  }

  test("counts agree with the redaction when classes overlap in raw text") {
    // ADVICE r4: the email match consumes the digits the phone pattern
    // would have matched on the RAW text ('1234@x.com' is the email;
    // '555-1234' overlaps it). Counting every class against raw text
    // would report phone=1 while the redaction replaces no phone;
    // sequential-pass counting reports what the redaction does.
    val (e, p, i, red) = run("a555-1234@x.com")
    assert((e, p, i) === ((1L, 0L, 0L)))
    assert(red === "a555-<EMAIL>")
  }

  test("counts equal the replacement tokens in the output, per class") {
    // the invariant the sequential-pass definition guarantees by
    // construction — checked on a mix of overlapping and plain spans
    for (t <- Seq("a555-1234@x.com and 555-9999 ref AB-7",
                  "AB-5555-1234", "x@y.zz 555-0000 CD-1 e@f.gg")) {
      val (e, p, i, red) = run(t)
      def n(tok: String) = tok.r.findAllIn(red).length.toLong
      assert((e, p, i) === ((n("<EMAIL>"), n("<PHONE>"), n("<ID>"))),
        s"counts vs tokens diverge for '$t' -> '$red'")
    }
  }
}

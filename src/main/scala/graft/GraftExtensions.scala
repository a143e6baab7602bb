package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{CentroidRanks, DecimalDotProduct, FloatVectorCosine,
  JaroWinkler, MinHashSig, NfcNormalize, PqCodes, ShingleHashes, SimHash32}

/** Session-extension entry point: registers the library's native
  * expressions at session build time —
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (or `.withExtensions(new GraftExtensions)` on the builder). The
  * same [[GraftExtensions.functions]] list is the one SQL registration
  * route for an existing session too (`SqlQueries` installs it into
  * the session's function registry).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(e.injectFunction)
}

object GraftExtensions {
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("vec_cosine"),
     new ExpressionInfo(classOf[FloatVectorCosine].getName, "vec_cosine"),
     (exprs: Seq[Expression]) => FloatVectorCosine(exprs.head, exprs(1))),
    (FunctionIdentifier("vec_dot_decimal"),
     new ExpressionInfo(classOf[DecimalDotProduct].getName, "vec_dot_decimal"),
     (exprs: Seq[Expression]) => DecimalDotProduct(exprs.head, exprs(1))),
    (FunctionIdentifier("simhash32"),
     new ExpressionInfo(classOf[SimHash32].getName, "simhash32"),
     (exprs: Seq[Expression]) => SimHash32(exprs.head)),
    (FunctionIdentifier("minhash_sig"),
     new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
     (exprs: Seq[Expression]) => MinHashSig(exprs.head)),
    (FunctionIdentifier("shingle_hashes"),
     new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
     (exprs: Seq[Expression]) => exprs(1) match {
       case Literal(k: Int, _) => ShingleHashes(exprs.head, k)
       case other => throw new IllegalArgumentException(
         s"shingle_hashes(toks, k): k must be an integer literal, got $other")
     }),
    (FunctionIdentifier("centroid_ranks"),
     new ExpressionInfo(classOf[CentroidRanks].getName, "centroid_ranks"),
     (exprs: Seq[Expression]) => CentroidRanks(exprs.head, exprs(1), exprs(2))),
    (FunctionIdentifier("pq_encode"),
     new ExpressionInfo(classOf[PqCodes].getName, "pq_encode"),
     (exprs: Seq[Expression]) => PqCodes(exprs.head, exprs(1))),
    (FunctionIdentifier("jaro_winkler"),
     new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
     (exprs: Seq[Expression]) => JaroWinkler(exprs.head, exprs(1))),
    (FunctionIdentifier("nfc_normalize"),
     new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
     (exprs: Seq[Expression]) => NfcNormalize(exprs.head)))
}

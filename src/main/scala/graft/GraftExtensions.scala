package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.{BoundedTopK, HashExpressions, MaxScoreMinKey,
  StringExpressions, ZOrderFunctions}
import graft.ops.MinHashLSH

/** SparkSessionExtensions entry point: registers the engine's compiled
  * expressions as SQL functions, so the `spark.sql` surface (S9) reaches
  * them too:
  *
  *   val spark = Graft.localSession()  // any builder: .withExtensions(new GraftExtensions)
  *   spark.sql("SELECT simhash_fingerprint(tokens) FROM docs")
  *
  * No optimizer rules or strategies are injected — SURVEY.md §4: every
  * reference capability plans efficiently with Catalyst's built-ins; custom
  * code stays at the expression level.
  */
object GraftExtensions {

  /** The SQL functions, one row each: (name, usage, builder). Both the
    * extension class and [[registerAll]] install exactly this table.
    */
  private[graft] val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    fn("simhash_fingerprint", "(tokens)", "60-bit SimHash of a string array")(
      a => HashExpressions.SimHashFingerprint(a.head)),
    fn("minhash_signature", "(units, k)", "k-wide MinHash signature") { a =>
      val k = intArg(a(1), "k")
      require(k >= 1 && k <= MinHashLSH.A.length,
        s"k must be in [1, ${MinHashLSH.A.length}], got $k")
      HashExpressions.MinHashSignature(a.head, k,
        MinHashLSH.A.take(k), MinHashLSH.B.take(k))
    },
    fn("cosine_sim", "(a, b)", "cosine similarity of two float arrays")(
      a => HashExpressions.CosineSim(a(0), a(1))),
    fn("hash60_array", "(units)", "per-element 60-bit md5-prefix hashes")(
      a => HashExpressions.Hash60Array(a.head)),
    fn("srp_signature", "(vec, nPlanes)", "signed-random-projection bits")(
      a => HashExpressions.SrpSignature(a.head, intArg(a(1), "nPlanes"))),
    fn("zorder2", "(x, y)",
      "62-bit Morton interleave of two integral coordinates")(
      a => ZOrderFunctions.InterleaveBits(a(0), a(1))),
    fn("damerau_levenshtein", "(a, b)",
      "full Damerau-Levenshtein distance (unrestricted transpositions)")(
      a => StringExpressions.DamerauLevenshtein(a(0), a(1))),
    fn("topk_pairs", "(score, id, k)", "k best (score desc, id asc) pairs")(
      a => BoundedTopK(Cast(a(0), DoubleType), Cast(a(1), LongType),
        intArg(a(2), "k"))),
    fn("argmax_minkey", "(score, key)",
      "key at the max score, smallest key on ties")(
      a => MaxScoreMinKey(a(0), a(1))))

  /** One row: the usage string and a builder that checks arity first —
    * `args(i)` on a short Seq throws a bare IndexOutOfBoundsException with
    * no hint at the expected signature.
    */
  private def fn(name: String, params: String, doc: String)(
      build: Seq[Expression] => Expression)
      : (String, String, Seq[Expression] => Expression) = {
    val n = params.count(_ == ',') + 1
    (name, s"_FUNC_$params - $doc", args => {
      if (args.length != n) throw new IllegalArgumentException(
        s"wrong argument count for $name$params: expected $n, got ${args.length}")
      build(args)
    })
  }

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** Every graft registration carries this class name in its
    * ExpressionInfo — how [[registerAll]] tells its own functions (from an
    * earlier call or from the extension) from a foreign one of the same name.
    */
  private val marker = classOf[GraftExtensions].getName

  private[graft] def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(marker, null, name, usage,
      "", "", "", "", "", "", "scala_udf")

  /** Same registrations against an already-built (classic) session — for
    * notebooks/tests that can't pass extensions at build time. Idempotent:
    * a function graft already installed (an earlier call, every q43 run,
    * or the extension) is left as it is. A session that already has an
    * unrelated function named e.g. `cosine_sim` keeps it, with a warning:
    * graft never replaces foreign semantics.
    */
  def registerAll(spark: SparkSession): Unit = synchronized {
    val reg = org.apache.spark.sql.classic.GraftExprColumn.functionRegistry(spark)
    functions.foreach { case (name, usage, builder) =>
      val id = FunctionIdentifier(name)
      reg.lookupFunction(id) match {
        case Some(i) if i.getClassName == marker => ()
        case Some(_) =>
          System.err.println(s"[graft] WARNING: not registering '$name' — the " +
            "session already has a function with that name (not graft's); " +
            s"SQL calls to $name will use the existing definition")
        case None => reg.registerFunction(id, info(name, usage), builder)
      }
    }
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, usage, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), GraftExtensions.info(name, usage), builder))
    }
}

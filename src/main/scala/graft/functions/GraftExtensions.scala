package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.IntegerType

/** SQL surface for the engine: registers every graft function in the
  * session's FunctionRegistry via `SparkSessionExtensions.injectFunction`,
  * so pure-SQL users (spark.sql, thrift, notebooks) get the same operators
  * as the Column API — `SELECT graft_lang_id(text) FROM docs`. Installed by
  * `Sessions.builder` (`.withExtensions`) or externally with
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  *
  * Catalyst-native registration (not `spark.udf.register`): each builder
  * returns the SAME expression tree the Column API builds, so SQL calls
  * codegen, fold, and push down identically — there is no UDF boundary.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptions.foreach(ext.injectFunction)
    // native SQL row-level DML (DELETE FROM / UPDATE / MERGE on graft
    // tables) — rewritten onto the engine's keyed commit paths after
    // resolution
    ext.injectPostHocResolutionRule(spark => new graft.sources.GraftDml.DmlRule(spark))
    // VERSION AS OF / TIMESTAMP AS OF on session-catalog graft tables —
    // must run BEFORE relation resolution (V2SessionCatalog categorically
    // fails time travel for provider-backed tables), hence the hint batch
    ext.injectHintResolutionRule(spark => new graft.sources.GraftTimeTravel(spark))
  }
}

object GraftExtensions {

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other if other.foldable =>
      other.eval() match {
        case i: Int => i
        case v => throw new IllegalArgumentException(s"$what must be an int literal, got $v")
      }
    case _ => throw new IllegalArgumentException(s"$what must be a literal")
  }

  /** Lift a Column→Column function into an Expression builder: the Column
    * API composes the tree, the bridge unwraps it — one definition serves
    * both surfaces.
    */
  private def lift1(f: Column => Column): Seq[Expression] => Expression = {
    case Seq(e) => ColumnBridge.expressionTree(f(ColumnBridge.column(e)))
    case args => throw new IllegalArgumentException(s"expected 1 argument, got ${args.length}")
  }

  private def lift2(f: (Column, Column) => Column): Seq[Expression] => Expression = {
    case Seq(a, b) =>
      ColumnBridge.expressionTree(f(ColumnBridge.column(a), ColumnBridge.column(b)))
    case args => throw new IllegalArgumentException(s"expected 2 arguments, got ${args.length}")
  }

  // the 2-arg ExpressionInfo ctor is the only one stable across Spark minors,
  // so each function's usage is a comment above its description
  private def info(name: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, name)

  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fd(name: String,
      builder: Seq[Expression] => Expression): FunctionDescription =
    (FunctionIdentifier(name), info(name), builder)

  val descriptions: Seq[FunctionDescription] = Seq(
    // ---- native expressions (fixed arity, literal params)
    // graft_simhash60(words) - 60-bit simhash of a word array
    fd("graft_simhash60",
      { case Seq(e) => NativeExpressions.SimHash60Expr(e)
        case a => throw new IllegalArgumentException(s"expected 1 argument, got ${a.length}") }),
    // graft_minhash_sig(shingles, k) - k-member minhash signature
    fd("graft_minhash_sig",
      { case Seq(e, k) => NativeExpressions.MinHashSigExpr(e, litInt(k, "k"))
        case a => throw new IllegalArgumentException(s"expected 2 arguments, got ${a.length}") }),
    // graft_shingles(words, n) - distinct word n-grams
    fd("graft_shingles",
      { case Seq(e, n) => NativeExpressions.ShinglesExpr(e, litInt(n, "n"))
        case a => throw new IllegalArgumentException(s"expected 2 arguments, got ${a.length}") }),
    // graft_word_ngrams(words, n) - word n-gram multiset
    fd("graft_word_ngrams",
      { case Seq(e, n) =>
          NativeExpressions.ShinglesExpr(e, litInt(n, "n"), distinct = false)
        case a => throw new IllegalArgumentException(s"expected 2 arguments, got ${a.length}") }),
    // graft_vec_dot(a, b) - float-vector dot product
    fd("graft_vec_dot",
      { case Seq(a, b) => NativeExpressions.FloatVecDot(a, b)
        case a => throw new IllegalArgumentException(s"expected 2 arguments, got ${a.length}") }),
    // graft_array_jaccard(a, b) - jaccard of two string sets
    fd("graft_array_jaccard",
      { case Seq(a, b) => NativeExpressions.ArrayJaccardExpr(a, b)
        case a => throw new IllegalArgumentException(s"expected 2 arguments, got ${a.length}") }),
    // ---- text analysis (Column-API lifts)
    // graft_token_count(text) - whitespace token count
    fd("graft_token_count",
      lift1(TextFunctions.tokenCount)),
    // graft_bpe_token_count(text) - BPE-ish subword token count
    fd("graft_bpe_token_count",
      lift1(TextFunctions.bpeTokenCount)),
    // graft_quality_score(text) - composite quality score in [0,1]
    fd("graft_quality_score",
      lift1(TextFunctions.qualityScore)),
    // graft_lang_id(text) - stopword-profile language id
    fd("graft_lang_id",
      lift1(TextFunctions.langId)),
    // graft_fingerprint(text) - md5 content fingerprint
    fd("graft_fingerprint",
      lift1(TextFunctions.fingerprint)),
    // graft_rolling_fingerprint(text) - rolling polynomial fingerprint
    fd("graft_rolling_fingerprint",
      lift1(TextFunctions.rollingFingerprint)),
    // graft_alpha_frac(text) - alphabetic character fraction
    fd("graft_alpha_frac",
      lift1(graft.operators.Curation.alphaFrac)),
    // graft_redact_pii(text) - emails/phones replaced with tags
    fd("graft_redact_pii",
      lift1(graft.operators.Curation.redactPii)),
    // graft_hash60(v) - portable 60-bit md5 hash
    fd("graft_hash60",
      lift1((c: Column) => Portable.hash60(c))),
    // graft_hash60_seeded(v, seed) - seeded portable 60-bit md5 hash
    fd("graft_hash60_seeded",
      lift2((c: Column, s: Column) => Portable.hash60(c, s))),
  )
}

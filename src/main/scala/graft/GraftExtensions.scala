package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the engine's codegen
  * kernels as SQL functions, so a pure-SQL user gets the same operators
  * the DataFrame API exposes:
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  *   SELECT doc_id, simhash64(text), (text_profile(text)).n_tokens
  *   FROM documents
  * }}}
  *
  * This is the standard extension-library surface (injected functions
  * resolve like builtins, inside whole-stage codegen) — nothing here is a
  * UDF. The function list lives in [[GraftExtensions.sqlFunctions]] as
  * DATA (r14 ask #7): SqlParitySpec enumerates it and pins a SQL ≡
  * Column-API parity test per name, so a kernel injected here without a
  * parity pin fails the spec's completeness check.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Query rewrite: naive HOF token counting → the TextProfile kernel
    // (see graft.plans.HofToKernelRule) — users get kernel speed without
    // changing their SQL.
    ext.injectOptimizerRule(_ => graft.plans.HofToKernelRule)
    // Operator substitution: the window row_number-top-k shape → the
    // native bounded-heap GroupTopK operator (see WindowTopKRule).
    ext.injectOptimizerRule(_ => graft.plans.WindowTopKRule)
    // Custom physical operator: native sort-merge as-of join (the
    // DataFrame builder also self-registers via experimental
    // .extraStrategies for sessions not configured with extensions).
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // Custom physical operator: bounded-heap per-group top-k (no
    // partition-wide sort; same self-registration fallback).
    ext.injectPlannerStrategy(_ => graft.plans.GroupTopKStrategy)
    // The tile grid as a plan node, and a join with it on all three keys
    // as a per-level range filter on the other side (see TileGridJoinRule;
    // `Tile.tileGrid` registers the strategy for sessions without
    // extensions, which keep the join).
    ext.injectPlannerStrategy(_ => graft.plans.TileGridStrategy)
    ext.injectOptimizerRule(_ => graft.plans.TileGridJoinRule)
    GraftExtensions.sqlFunctions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    // 4-arg ctor carries the usage through to DESCRIBE FUNCTION
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def one(args: Seq[Expression], name: String): Expression = {
    require(args.length == 1, s"$name expects exactly 1 argument")
    args.head
  }

  // ExpectsInputTypes is private[sql], so SQL-surface kernels coerce
  // their arguments by construction: a bare integer literal (parsed as
  // INT) or a plain decimal literal (parsed as DECIMAL) would otherwise
  // hit the eval path's primitive casts and throw ClassCastException.
  private def asLong(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(
      e,
      org.apache.spark.sql.types.LongType)
  private def asDouble(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(
      e,
      org.apache.spark.sql.types.DoubleType)

  /** Every SQL-injected kernel, as data — the contract-of-record the
    * parity spec enumerates. Names must stay unique.
    */
  val sqlFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (
        FunctionIdentifier("text_profile"),
        info("text_profile", "text_profile(text) - per-document text metrics struct"),
        (args: Seq[Expression]) => functions.TextProfile(one(args, "text_profile"))),
      (
        FunctionIdentifier("readability_counts"),
        info(
          "readability_counts",
          "readability_counts(text) - word / vowel-run / sentence-run counts struct"),
        (args: Seq[Expression]) => functions.ReadabilityCounts(one(args, "readability_counts"))),
      (
        FunctionIdentifier("text_fingerprint"),
        info("text_fingerprint", "text_fingerprint(text) - winnowing-lite fingerprint"),
        (args: Seq[Expression]) => functions.TextFingerprint(one(args, "text_fingerprint"))),
      (
        FunctionIdentifier("simhash64"),
        info("simhash64", "simhash64(text) - 64-bit SimHash signature"),
        (args: Seq[Expression]) => functions.SimHash64(one(args, "simhash64"))),
      (
        FunctionIdentifier("minhash16"),
        info("minhash16", "minhash16(text) - 16-hash MinHash signature over 3-token shingles"),
        (args: Seq[Expression]) => functions.MinHash16(one(args, "minhash16"))),
      (
        FunctionIdentifier("shingles3"),
        info("shingles3", "shingles3(text) - distinct 3-token shingles"),
        (args: Seq[Expression]) => functions.Shingles3(one(args, "shingles3"))),
      (
        FunctionIdentifier("shingles3_hashed"),
        info(
          "shingles3_hashed",
          "shingles3_hashed(text) - distinct 3-token shingle md5-hash64s"),
        (args: Seq[Expression]) => functions.Shingles3Hashed(one(args, "shingles3_hashed"))),
      (
        FunctionIdentifier("token_windows"),
        info(
          "token_windows",
          "token_windows(text, k) - all k-token sliding windows in order"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "token_windows expects exactly 2 arguments")
          args(1) match {
            case org.apache.spark.sql.catalyst.expressions.Literal(k: Int, _) =>
              functions.TokenWindows(args.head, k)
            case other =>
              throw new IllegalArgumentException(
                s"token_windows: k must be an integer literal, got $other")
          }
        }),
      (
        FunctionIdentifier("plane_sig16"),
        info("plane_sig16", "plane_sig16(embedding) - 16-bit hyperplane LSH signature"),
        (args: Seq[Expression]) => functions.PlaneSig16(one(args, "plane_sig16"))),
      (
        FunctionIdentifier("plane_sig64"),
        info(
          "plane_sig64",
          "plane_sig64(embedding, set) - 64-bit hyperplane LSH signature word"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "plane_sig64 expects exactly 2 arguments")
          args(1) match {
            case org.apache.spark.sql.catalyst.expressions.Literal(ps: Int, _) =>
              functions.PlaneSig64(args.head, ps)
            case other =>
              throw new IllegalArgumentException(
                s"plane_sig64: set must be an integer literal, got $other")
          }
        }),
      (
        FunctionIdentifier("edit_within"),
        info(
          "edit_within",
          "edit_within(a, b) - levenshtein distance if within 20% of the longer input, else -1"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "edit_within expects exactly 2 arguments")
          functions.EditWithin(args.head, args(1))
        }),
      (
        FunctionIdentifier("scaled_dot"),
        info("scaled_dot", "scaled_dot(a, b) - exact scaled dot product of float arrays as BIGINT"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "scaled_dot expects exactly 2 arguments")
          functions.ScaledDot(args.head, args(1))
        }),
      (
        FunctionIdentifier("nfc_normalize"),
        info("nfc_normalize", "nfc_normalize(text) - Unicode NFC canonical composition"),
        (args: Seq[Expression]) => functions.NfcNormalize(one(args, "nfc_normalize"))),
      (
        FunctionIdentifier("deflate_len"),
        info("deflate_len", "deflate_len(text) - raw-DEFLATE length of the UTF-8 bytes"),
        (args: Seq[Expression]) => functions.DeflateLen(one(args, "deflate_len"))),
      (
        FunctionIdentifier("hilbert_key"),
        info(
          "hilbert_key",
          "hilbert_key(x, y) - Hilbert-curve distance of a 16-bit (x, y) cell"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "hilbert_key expects exactly 2 arguments")
          functions.HilbertKey(asLong(args.head), asLong(args(1)))
        }),
      (
        FunctionIdentifier("scaled_long"),
        info(
          "scaled_long",
          "scaled_long(x, grain) - round(x * grain) as BIGINT, allocation-free"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "scaled_long expects exactly 2 arguments")
          // accept any numeric literal as the grain: 1e2 parses as DOUBLE
          // but 100.0 parses as DECIMAL(4,1) and 100 as INT
          args(1) match {
            case org.apache.spark.sql.catalyst.expressions.Literal(g, _)
                if g != null && Seq(
                  classOf[java.lang.Double],
                  classOf[java.lang.Float],
                  classOf[java.lang.Integer],
                  classOf[java.lang.Long],
                  classOf[org.apache.spark.sql.types.Decimal]).exists(_.isInstance(g)) =>
              val grain = g match {
                case d: org.apache.spark.sql.types.Decimal => d.toDouble
                case n: java.lang.Number => n.doubleValue()
              }
              functions.ScaledLong(asDouble(args.head), grain)
            case other =>
              throw new IllegalArgumentException(
                s"scaled_long: grain must be a numeric literal, got $other")
          }
        }))
}

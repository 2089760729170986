package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Conv, Expression, ExpressionInfo, Literal, Md5, Substring}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType}
import graft.expressions.{DeflateLen, DotProduct, Md5Hash32, MinHashSig, NormalizeNFC, ShinglesExpr, SimHash32Expr}

/** Optimizer rule: collapse the composed 32-bit-md5 idiom
  * `cast(conv(substring(md5(x), 1, 8), 16, 10) as bigint)` into the native
  * `Md5Hash32` expression — so SQL-text users (the P9 `expr()` entry point)
  * and hand-written column code get the digest->long fast path without
  * knowing it exists. Semantics are bit-identical (Md5Hash32Spec); the
  * rewrite is a pure strength reduction.
  */
object RewriteMd5Hash32 extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_ => true) {
      // This rule runs post-analysis, so md5's argument is already wrapped
      // in Cast(_, binary) (md5 takes binary). Strip that cast when it sits
      // on a string — Md5Hash32 hashes the same utf8 bytes the cast would
      // produce — and keep raw-binary children as-is (Md5Hash32 accepts
      // both). Matching `Md5(inner)` without looking through the cast would
      // be wrong twice over: the rewrite must only fire on the genuine
      // composed idiom, and its output must stay type-correct without the
      // analyzer re-checking it.
      case Cast(
            Conv(Substring(Md5(b), Literal(1, _), Literal(8, _)),
              Literal(16, _), Literal(10, _), _),
            LongType, _, _) if b.dataType == BinaryType =>
        b match {
          case Cast(inner, BinaryType, _, _) if inner.dataType == StringType =>
            Md5Hash32(inner)
          case _ => Md5Hash32(b)
        }
    }
}

/** Session extension entry point:
  * `spark.sql.extensions=graft.plans.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => RewriteMd5Hash32)
    // off until spark.graft.rangeJoin.bucketWidth is set to a positive width
    ext.injectOptimizerRule(session => new RangeJoinRule(session))
    // the native text/vector expressions as SQL functions — the full
    // pipeline surface is reachable from SQL text (P9 entry point), not
    // just the Scala column API
    sqlFunctions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        // 5-arg ctor is (className, db, NAME, usage, arguments) — the
        // 3-arg one is (className, db, name), which would register the
        // usage text AS the function name
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name,
          usage, ""),
        builder))
    }
  }
}

object GraftExtensions {

  /** Second argument of a two-arg SQL call must be an integer literal —
    * the native expressions take their width as a constructor parameter
    * (compile-time shape), matching how Spark's own `array_repeat`-style
    * functions reject non-foldable counts.
    */
  private def intLit(name: String, e: Expression): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case other => throw new IllegalArgumentException(
      s"$name requires an integer literal, got $other")
  }

  private def arity(name: String, n: Int, args: Seq[Expression]): Unit =
    require(args.length == n,
      s"$name expects $n argument(s), got ${args.length}")

  val sqlFunctions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_md5_hash32", "graft_md5_hash32(str) - first 32 bits of md5 as bigint",
      args => { arity("graft_md5_hash32", 1, args); Md5Hash32(args.head) }),
    ("graft_shingles", "graft_shingles(str, n) - word n-gram shingles of lowercased tokens",
      args => { arity("graft_shingles", 2, args)
        ShinglesExpr(args.head, intLit("graft_shingles", args(1))) }),
    ("graft_minhash_sig", "graft_minhash_sig(str, k) - k-permutation MinHash signature",
      args => { arity("graft_minhash_sig", 2, args)
        MinHashSig(args.head, intLit("graft_minhash_sig", args(1))) }),
    ("graft_simhash32", "graft_simhash32(str) - 32-bit SimHash of token hashes",
      args => { arity("graft_simhash32", 1, args); SimHash32Expr(args.head) }),
    ("graft_nfc", "graft_nfc(str) - Unicode NFC canonical normalization",
      args => { arity("graft_nfc", 1, args); NormalizeNFC(args.head) }),
    ("graft_deflate_len",
      "graft_deflate_len(str) - DEFLATE-compressed byte length (zlib default level)",
      args => { arity("graft_deflate_len", 1, args); DeflateLen(args.head) }),
    ("graft_dot", "graft_dot(a, b) - dot product of two double arrays",
      args => { arity("graft_dot", 2, args); DotProduct(args.head, args(1)) }),
    // the c8 bloom probe from SQL text: the sketch arrives as a binary
    // literal (built by operators/Bloom.build), the value is xxhash64'd
    // exactly as the build side hashed it — one expression pair, one
    // hashing convention
    ("graft_bloom_might_contain",
      "graft_bloom_might_contain(sketch, value) - bloom membership probe " +
        "(sketch from graft Bloom.build; no false negatives)",
      args => { arity("graft_bloom_might_contain", 2, args)
        new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          args.head,
          new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(args(1)))) }))
}

package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingles of lower-cased whitespace tokens as one native
  * expression — the compiled form of
  * `TextFunctions.shingles(TextFunctions.tokens(text), n)` (equality
  * asserted in ShinglesExprSpec).
  *
  * The HOF composition is interpreted per element and, worse, has no CSE:
  * anywhere the token array isn't pre-projected to its own column the
  * optimizer re-inlines `split(lower(text))` into the transform lambda and
  * re-tokenizes the document once per shingle (the t6 defect class —
  * RegistryAuditSpec). This expression runs the whole tokenize→slice→join
  * loop as tight JVM code, once per row, and cannot be torn apart by
  * CollapseProject.
  *
  * Contract matches the HOF exactly: null text → null; < n tokens → empty
  * array; consecutive spaces produce empty tokens that stay in the
  * shingle (split(" ", -1) semantics); lowercasing goes through
  * UTF8String.toLowerCase — the exact implementation Spark's lower()
  * uses — so native == HOF holds bit-for-bit on any JVM locale.
  */
case class ShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingles"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingles requires a string argument, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[UTF8String]
      .toLowerCase.toString.split(" ", -1)
    val count = words.length - n + 1
    if (count <= 0) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](count)
      var i = 0
      while (i < count) {
        val sb = new java.lang.StringBuilder(words(i))
        var j = 1
        while (j < n) { sb.append(' ').append(words(i + j)); j += 1 }
        out(i) = UTF8String.fromString(sb.toString)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
}

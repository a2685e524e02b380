package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Scalar-function registry shared by the SQL surface ([[graft.sql.GraftSql]])
  * and internal column builders ([[graft.iceberg.IcebergTransforms]]): the
  * only sanctioned way to turn a custom Catalyst expression into a `Column`
  * without Spark-internal APIs is `call_function` against a registered name,
  * so registration must be callable from anywhere that builds such columns. */
object GraftFunctions {

  private[graft] val all
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
     new ExpressionInfo(classOf[DotProduct].getCanonicalName, null,
       "graft_dot", "dot product of two numeric arrays as a double", ""),
     (exprs: Seq[Expression]) => {
       require(exprs.length == 2, s"graft_dot expects 2 arguments, got ${exprs.length}")
       DotProduct(exprs.head, exprs(1))
     }),
    (FunctionIdentifier("graft_shingle_hashes"),
     new ExpressionInfo(classOf[ShingleHashes].getCanonicalName, null,
       "graft_shingle_hashes", "60-bit md5 hash of each distinct n-token shingle of a token array", ""),
     (exprs: Seq[Expression]) => {
       require(exprs.length == 2, s"graft_shingle_hashes expects 2 arguments, got ${exprs.length}")
       ShingleHashes(exprs.head, positiveIntArg("graft_shingle_hashes", "shingle width", exprs(1)))
     }),
    (FunctionIdentifier("graft_minhash"),
     new ExpressionInfo(classOf[MinHashSignature].getCanonicalName, null,
       "graft_minhash", "k MinHash values of an array of shingle hashes", ""),
     (exprs: Seq[Expression]) => {
       require(exprs.length == 2, s"graft_minhash expects 2 arguments, got ${exprs.length}")
       MinHashSignature(exprs.head, positiveIntArg("graft_minhash", "signature length", exprs(1)))
     }),
    (FunctionIdentifier("graft_bucket"),
     new ExpressionInfo(classOf[IcebergBucket].getCanonicalName, null,
       "graft_bucket", "Iceberg bucket[n] partition transform of a value", ""),
     (exprs: Seq[Expression]) => {
       require(exprs.length == 2, s"graft_bucket expects 2 arguments, got ${exprs.length}")
       IcebergBucket(exprs.head, positiveIntArg("graft_bucket", "bucket count", exprs(1)))
     }),
    (FunctionIdentifier("graft_nfc"),
     new ExpressionInfo(classOf[NfcNormalize].getCanonicalName, null,
       "graft_nfc", "Unicode NFC normalization of a string", ""),
     (exprs: Seq[Expression]) => {
       require(exprs.length == 1, s"graft_nfc expects 1 argument, got ${exprs.length}")
       NfcNormalize(exprs.head)
     }),
    (FunctionIdentifier("graft_dsum"),
     new ExpressionInfo(classOf[DecimalSum128].getCanonicalName, null,
       "graft_dsum", "exact sum of a compact decimal via a 128-bit long-pair accumulator", ""),
     (exprs: Seq[Expression]) => {
       // the analyzer wraps a bare AggregateFunction into an
       // AggregateExpression (same as graft_theta below)
       require(exprs.length == 1, s"graft_dsum expects 1 argument, got ${exprs.length}")
       DecimalSum128(exprs.head)
     }),
    (FunctionIdentifier("graft_dec"),
     new ExpressionInfo(classOf[DoubleToDecimal18].getCanonicalName, null,
       "graft_dec", "double to decimal(18, scale), value-identical to the built-in cast", ""),
     (exprs: Seq[Expression]) => {
       require(exprs.length == 2, s"graft_dec expects 2 arguments, got ${exprs.length}")
       val scale = exprs(1) match {
         case e if e.foldable => e.eval() match {
           case i: Int => i
           case l: Long if l >= 0 && l <= 15 => l.toInt
           case other => throw new IllegalArgumentException(
             s"graft_dec: scale must be an integer literal, got $other")
         }
         case e => throw new IllegalArgumentException(
           s"graft_dec: scale must be a constant, got '${e.sql}'")
       }
       DoubleToDecimal18(exprs.head, scale)
     }),
    (FunctionIdentifier("graft_theta"),
     new ExpressionInfo(classOf[ThetaSketchAgg].getCanonicalName, null,
       "graft_theta", "KMV theta sketch of a pre-hashed long column (binary)", ""),
     (exprs: Seq[Expression]) => {
       // the analyzer wraps a bare AggregateFunction into an
       // AggregateExpression, so returning the function itself is correct
       require(exprs.length == 1, s"graft_theta expects 1 argument, got ${exprs.length}")
       ThetaSketchAgg(exprs.head)
     }))

  /** A positive Int-range integer literal argument. toInt would silently
    * truncate (4294967312L -> 16), and a count <= 0 divides by zero (or
    * flips sign) at execution; any invalid value must fail analysis, not
    * change semantics. */
  private def positiveIntArg(fn: String, what: String, arg: Expression): Int = arg match {
    case e if e.foldable => e.eval() match {
      case i: Int if i >= 1 => i
      case l: Long if l >= 1 && l <= Int.MaxValue => l.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be a positive Int-range integer literal, got $other")
    }
    case e => throw new IllegalArgumentException(
      s"$fn: $what must be a constant, got '${e.sql}'")
  }

  /** Idempotent: registerFunction overwrites by identifier. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (ident, info, b) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, b)
    }
}

package graft.functions

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object MinHash {

  /** The Mersenne prime 2^31 − 1. Every shingle hash is reduced mod P and
    * the i-th MinHash family is the multiplicative permutation
    * h → h·(2i+1) mod P: plain 64-bit integer arithmetic that Spark and
    * DuckDB evaluate identically (products stay far below 2^63). */
  val P: Long = 2147483647L

  /** The top 60 bits of an md5 digest: the first 15 hex digits, i.e.
    * `conv(substring(md5(s), 1, 15), 16, 10)`. */
  def top60(digest: Array[Byte]): Long = ByteBuffer.wrap(digest).getLong >>> 4
}

/** `graft_shingle_hashes(tokens, n)` — one 60-bit hash per DISTINCT
  * n-token shingle of `tokens` (tokens `i..i+n-1` joined by one space), in
  * order of first occurrence: the top 60 bits of the shingle's md5
  * ([[MinHash.top60]]). Equal, as a multiset, to
  * `array_distinct(transform(sequence(..), i -> concat(..)))` followed by
  * `conv(substring(md5(w), 1, 15), 16, 10)` per shingle, which Spark runs
  * as one interpreted lambda frame per element and a string conversion
  * per hash; here it is one pass and one md5 per distinct shingle.
  *
  * Fewer than n tokens → empty array (no shingle, not an error). NULL in →
  * NULL out; a window holding a NULL token yields no shingle. One
  * `MessageDigest` per expression instance: each task deserializes its own
  * copy of the plan. */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {

  require(n >= 1, s"graft_shingle_hashes: shingle width must be positive, got $n")

  override def inputTypes = Seq(ArrayType(StringType))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullIntolerant: Boolean = true

  @transient private lazy val md5 = MessageDigest.getInstance("MD5")
  @transient private lazy val space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val tokens = input.asInstanceOf[ArrayData]
    val windows = math.max(0, tokens.numElements() - n + 1)
    val seen = new java.util.HashSet[UTF8String](windows * 2)
    val window = new Array[UTF8String](n)
    val out = new Array[Long](windows)
    var k = 0
    var i = 0
    while (i < windows) {
      var j = 0
      while (j < n && !tokens.isNullAt(i + j)) {
        window(j) = tokens.getUTF8String(i + j)
        j += 1
      }
      if (j == n) {
        val shingle = UTF8String.concatWs(space, window: _*)
        if (seen.add(shingle)) {
          out(k) = MinHash.top60(md5.digest(shingle.getBytes))
          k += 1
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(if (k == windows) out else java.util.Arrays.copyOf(out, k))
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)

  override def prettyName: String = "graft_shingle_hashes"
}

/** `graft_minhash(hashes, k)` — the k MinHash values of a hash set:
  * element i is `min(((h % P) * (2i+1)) % P)` over the non-NULL `hashes`
  * ([[MinHash.P]]), the same values as exploding the array and grouping
  * for k `min`s, without the explode or the shuffle. NULL when the array
  * is NULL or holds no non-NULL element (a document with no shingle has
  * no signature). */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {

  require(k >= 1, s"graft_minhash: signature length must be positive, got $k")

  override def inputTypes = Seq(ArrayType(LongType))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val hashes = input.asInstanceOf[ArrayData]
    val mins = Array.fill(k)(Long.MaxValue)
    var any = false
    var e = 0
    while (e < hashes.numElements()) {
      if (!hashes.isNullAt(e)) {
        any = true
        val h = hashes.getLong(e) % MinHash.P
        var i = 0
        while (i < k) {
          val v = h * (2L * i + 1) % MinHash.P
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      e += 1
    }
    if (any) UnsafeArrayData.fromPrimitiveArray(mins) else null
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)

  override def prettyName: String = "graft_minhash"
}

package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.similarity.Similarity

/** The blocked join's two per-row kernels as native Catalyst expressions:
  * the A7/E9 bucket-key generator and the E6 person scorer. Both run in
  * the generated code of the stage that holds them and read their inputs
  * as UTF-8 bytes in place, with no `Row` conversion, no lambda function
  * and no regex.
  */
object BucketKernels {

  /** A7/E9 bucket keys of one name, with the reference's character
    * handling (matching.py:17-21): delete every character that is not
    * `a-z` or Java's (non-Unicode) `\s`, split on the literal space, drop
    * empty tokens, and key each token as `prefix|floor(len / lenUnits)`,
    * the prefix being its first `idxChars` characters.
    *
    * One pass over the bytes. Every kept character is ASCII, and every
    * byte of a multi-byte UTF-8 character is >= 0x80, so deleting bytes
    * deletes exactly the characters the regex `[^a-z\s]` deletes and byte
    * lengths are character lengths. Tab, newline, VT, FF and CR are kept
    * inside tokens and counted in their length, as the regex chain does.
    */
  def keys(name: UTF8String, idxChars: Int, lenUnits: Int): Array[UTF8String] = {
    val n = name.numBytes
    val prefix = new Array[Byte](math.max(0, math.min(idxChars, n)))
    var out = new Array[UTF8String](4)
    var nOut = 0
    var len = 0
    var i = 0
    while (i <= n) {
      val b = if (i < n) name.getByte(i) else ' '.toByte
      if (b == ' ') {
        if (len > 0) {
          if (nOut == out.length) out = java.util.Arrays.copyOf(out, nOut * 2)
          out(nOut) = key(prefix, math.min(len, prefix.length), len / lenUnits)
          nOut += 1
          len = 0
        }
      } else if ((b >= 'a' && b <= 'z') || (b >= '\t' && b <= '\r')) {
        if (len < prefix.length) prefix(len) = b
        len += 1
      }
      i += 1
    }
    if (nOut == out.length) out else java.util.Arrays.copyOf(out, nOut)
  }

  /** `prefix[0, p) + "|" + decimal(band)` for a `band >= 0`. */
  private def key(prefix: Array[Byte], p: Int, band: Int): UTF8String = {
    var digits = 1
    var rest = band / 10
    while (rest > 0) { digits += 1; rest /= 10 }
    val bytes = new Array[Byte](p + 1 + digits)
    System.arraycopy(prefix, 0, bytes, 0, p)
    bytes(p) = '|'
    var v = band
    var j = bytes.length - 1
    while (j > p) { bytes(j) = ('0' + v % 10).toByte; v /= 10; j -= 1 }
    UTF8String.fromBytes(bytes)
  }

  /** [[keys]] as a Catalyst array of strings. */
  def keyArray(name: UTF8String, idxChars: Int, lenUnits: Int): ArrayData =
    new GenericArrayData(keys(name, idxChars, lenUnits).asInstanceOf[Array[Any]])

  /** The `(first-name key, last-name key)` cross product, first-name
    * major, as a Catalyst array of `(fb, lb)` structs: one explode of it
    * yields the rows the two chained explodes yielded.
    */
  def keyPairs(gname: UTF8String, lname: UTF8String, idxChars: Int, lenUnits: Int): ArrayData = {
    val fbs = keys(gname, idxChars, lenUnits)
    val lbs = keys(lname, idxChars, lenUnits)
    val out = new Array[Any](fbs.length * lbs.length)
    var k = 0
    while (k < out.length) {
      out(k) = new GenericInternalRow(Array[Any](fbs(k / lbs.length), lbs(k % lbs.length)))
      k += 1
    }
    new GenericArrayData(out)
  }
}

private[expressions] object BucketArgs {
  def check(lenUnits: Int): Unit =
    require(lenUnits > 0, s"bucket keys need lenUnits > 0, got $lenUnits")

  def stringInputs(e: Expression, children: Seq[Expression]): TypeCheckResult =
    if (children.forall(_.dataType == StringType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"${e.prettyName} expects string arguments")
}

/** The bucket keys of one name column ([[BucketKernels.keys]]); null for a
  * null name. `lenUnits <= 0` is rejected when the expression is built.
  */
case class BucketKeys(child: Expression, idxChars: Int, lenUnits: Int)
    extends UnaryExpression {
  BucketArgs.check(lenUnits)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bucket_keys"
  override def checkInputDataTypes(): TypeCheckResult = BucketArgs.stringInputs(this, children)
  override protected def nullSafeEval(name: Any): Any =
    BucketKernels.keyArray(name.asInstanceOf[UTF8String], idxChars, lenUnits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, n =>
      s"graft.expressions.BucketKernels.keyArray($n, $idxChars, $lenUnits)")
  override protected def withNewChildInternal(c: Expression): BucketKeys = copy(child = c)
}

/** The `(fb, lb)` bucket-key cross product of a first and a last name
  * ([[BucketKernels.keyPairs]]); null when either name is null.
  */
case class BucketKeyPairs(left: Expression, right: Expression, idxChars: Int, lenUnits: Int)
    extends BinaryExpression {
  BucketArgs.check(lenUnits)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("fb", StringType, nullable = false),
    StructField("lb", StringType, nullable = false))), containsNull = false)
  override def prettyName: String = "bucket_key_pairs"
  override def checkInputDataTypes(): TypeCheckResult = BucketArgs.stringInputs(this, children)
  override protected def nullSafeEval(g: Any, l: Any): Any =
    BucketKernels.keyPairs(g.asInstanceOf[UTF8String], l.asInstanceOf[UTF8String],
      idxChars, lenUnits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (g, l) =>
      s"graft.expressions.BucketKernels.keyPairs($g, $l, $idxChars, $lenUnits)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BucketKeyPairs =
    copy(left = l, right = r)
}

/** E6 `person_similarity` over two person structs whose first five fields
  * are the strings (gname, lname, dob, pob, prisoner), read in place.
  *
  * Term order and arithmetic are `Similarity.personSimilarity`'s, through
  * the same `secondaryTerm`, `primaryTerm` and `combine`: prisoner, date
  * and birthplace first, then the bound with a perfect name score, then
  * the two token-set name kernels only when the bound reaches `minScore`
  * (below it the bound is returned, as there; exact for a
  * `>= minScore` cut, `PersonCutoffSpec`). Dates are parsed from the
  * bytes; a string is decoded only for an Indel or token-set kernel whose
  * two sides are comparable and not byte-equal.
  */
object PersonKernels {
  final val UseDate = 1
  final val UsePrisoner = 2
  final val UsePob = 4
  final val NameOnly = 8
  final val SimpleDate = 16

  def flags(useDate: Boolean, usePrisoner: Boolean, usePob: Boolean,
      nameOnly: Boolean, simpleDate: Boolean): Int =
    (if (useDate) UseDate else 0) | (if (usePrisoner) UsePrisoner else 0) |
      (if (usePob) UsePob else 0) | (if (nameOnly) NameOnly else 0) |
      (if (simpleDate) SimpleDate else 0)

  // struct field ordinals
  private final val GName = 0
  private final val LName = 1
  private final val Dob = 2
  private final val Pob = 3
  private final val Prisoner = 4

  private val Zeros = UTF8String.fromString("00000000")
  private val MinusOneDot = UTF8String.fromString("-1.0")
  private val MinusOne = UTF8String.fromString("-1")

  /** `Similarity.notEmpty` on the bytes. */
  private def notEmpty(u: UTF8String): Boolean =
    u != null && u.numBytes > 0 && !u.equals(Zeros) && !u.equals(MinusOneDot) &&
      !u.equals(MinusOne)

  private def field(r: InternalRow, i: Int): UTF8String =
    if (r.isNullAt(i)) null else r.getUTF8String(i)

  /** `Similarity.nameMatcher`: E4 ratio, −1 when either side is absent. */
  private def ratio(a: UTF8String, b: UTF8String): Double =
    if (notEmpty(a) && notEmpty(b)) FuzzKernels.indelRatio(a, b) else -1.0

  /** `Similarity.nameSetMatcher`: E5 token-set ratio, −1 when absent. */
  private def tokenSet(a: UTF8String, b: UTF8String): Double =
    if (notEmpty(a) && notEmpty(b)) FuzzKernels.tokenSetRatio(a, b) else -1.0

  private def date(a: UTF8String, b: UTF8String, simple: Boolean): Double =
    if (simple) Similarity.simpleDateMatcher(
      if (a == null) null else a.toString, if (b == null) null else b.toString)
    else Similarity.packedDateSimilarity(Similarity.packedDate(a), Similarity.packedDate(b))

  def score(s: InternalRow, t: InternalRow, flags: Int, minScore: Double): Double = {
    var secondary = -1.0
    var other = -1.0
    if ((flags & NameOnly) == 0) {
      secondary = Similarity.secondaryTerm(
        if ((flags & UsePrisoner) != 0) ratio(field(s, Prisoner), field(t, Prisoner)) else -1.0,
        if ((flags & UseDate) != 0)
          math.max(0, date(field(s, Dob), field(t, Dob), (flags & SimpleDate) != 0))
        else -1.0,
        nonNamesOptional = false)
      if ((flags & UsePob) != 0) other = ratio(field(s, Pob), field(t, Pob))
    }
    val bound = Similarity.combine(100.0, secondary, other)
    if (bound < minScore) return bound
    Similarity.combine(Similarity.primaryTerm(tokenSet(field(s, LName), field(t, LName)),
      tokenSet(field(s, GName), field(t, GName))), secondary, other)
  }
}

/** [[PersonKernels.score]] as an expression; null when either struct is. */
case class PersonSimilarity(left: Expression, right: Expression, flags: Int, minScore: Double)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "person_similarity"
  override def checkInputDataTypes(): TypeCheckResult = {
    def person(t: DataType) = t match {
      case st: StructType => st.length >= 5 && st.fields.take(5).forall(_.dataType == StringType)
      case _ => false
    }
    if (person(left.dataType) && person(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two structs of (gname, lname, dob, pob, prisoner) strings")
  }
  override protected def nullSafeEval(s: Any, t: Any): Any =
    PersonKernels.score(s.asInstanceOf[InternalRow], t.asInstanceOf[InternalRow], flags, minScore)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the raw bits carry -Infinity and every double exactly
    val m = s"java.lang.Double.longBitsToDouble(${java.lang.Double.doubleToRawLongBits(minScore)}L)"
    defineCodeGen(ctx, ev, (s, t) => s"graft.expressions.PersonKernels.score($s, $t, $flags, $m)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PersonSimilarity =
    copy(left = l, right = r)
}

/** Column-API surface for the expressions above. */
object PersonColumns {
  import org.apache.spark.sql.graftbridge.ColumnBridge
  private def e(c: Column): Expression = ColumnBridge.expression(c)
  def bucketKeys(name: Column, idxChars: Int, lenUnits: Int): Column =
    ColumnBridge.column(BucketKeys(e(name.cast(StringType)), idxChars, lenUnits))
  def bucketKeyPairs(gname: Column, lname: Column, idxChars: Int, lenUnits: Int): Column =
    ColumnBridge.column(BucketKeyPairs(e(gname.cast(StringType)), e(lname.cast(StringType)),
      idxChars, lenUnits))
  def personSimilarity(src: Column, trg: Column, flags: Int, minScore: Double): Column =
    ColumnBridge.column(PersonSimilarity(e(src), e(trg), flags, minScore))
}

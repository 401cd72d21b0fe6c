package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import scala.util.Random
import graft.expressions.BucketKernels
import graft.linkage.PersonMatching

/** Differential check of the native bucket-key generator against the
  * regex/lambda chain it replaced ([[RetiredBucketKeys]]): the same keys,
  * in the same order, for every row, on inputs outside the processed-name
  * domain as well as inside it.
  */
class BucketKeysSpec extends SparkSpec {
  private val session = SparkSpec.spark
  import session.implicits._

  private val hostile: Seq[String] = Seq(
    null, "", " ", "   ", "a", "ab", "anna", "anna maria", "hans peter  muller",
    // uppercase and punctuation are deleted, not split on
    "Anna", "ANNA MARIA", "o'brien", "anne-marie", "st. john", "van,der;berg", "x1y2z3",
    // Java's non-Unicode \s is kept inside tokens; only the space splits
    "anna\tmaria", "anna\nmaria", "anna\u000bmaria", "anna\fmaria", "anna\rmaria",
    "\t", "\r\n", " \tab\t ", "a\u000b b\f",
    // NBSP, the ideographic space and the information separators are
    // deleted, not whitespace
    "anna\u00a0maria", "anna\u001cmaria", "anna\u001d\u001e\u001fmaria", "\u00a0",
    "\u00a0anna\u00a0", "anna\u3000maria",
    // non-ASCII letters and astral code points are deleted whole
    "m\u00fcller", "strau\u00df", "\u00df\u00df", "\u00fcber alles", "\ud835\udc00bc",
    "a\ud83d\ude00b c", "\ud83d\ude00", "\u0301a\u0301", "zo\u00eb ann", "a\ud800b",
    // runs of spaces, leading and trailing spaces
    "  anna", "anna  ", "a  b   c", " a b ", "     x     ",
    // long tokens and many tokens
    "abcdefghijklmnopqrstuvwxyzabcdefghijklmnop", "a b c d e f g h i j k l",
    // repeated tokens keep their multiplicity
    "anna anna", "an an an")

  private def oracle(names: Seq[String], idx: Int, units: Int): Seq[Option[Seq[String]]] =
    names.zipWithIndex.toDF("n", "i")
      .select(col("i"), RetiredBucketKeys(col("n"), idx, units).as("k"))
      .collect().sortBy(_.getInt(0))
      .map(r => if (r.isNullAt(1)) None else Some(r.getSeq[String](1))).toSeq

  private def native(names: Seq[String], idx: Int, units: Int): Seq[Option[Seq[String]]] =
    names.zipWithIndex.toDF("n", "i")
      .select(col("i"), PersonMatching.bucketKeys(col("n"), idx, units).as("k"))
      .collect().sortBy(_.getInt(0))
      .map(r => if (r.isNullAt(1)) None else Some(r.getSeq[String](1))).toSeq

  test("native keys equal the regex/lambda chain on hostile names, every idxChars and lenUnits") {
    for (idx <- 0 to 5; units <- 1 to 5) {
      val want = oracle(hostile, idx, units)
      val got = native(hostile, idx, units)
      for (((n, w), g) <- hostile.zip(want).zip(got))
        assert(g === w, s"idxChars $idx, lenUnits $units, name ${Option(n).map(_.toSeq.map(_.toInt))}")
    }
    // the inputs do reach empty, null and multi-key results
    assert(native(Seq(null, "", "ab cd"), 2, 4) === Seq(None, Some(Seq()), Some(Seq("ab|0", "cd|0"))))
  }

  test("native keys equal the chain on seeded random names") {
    val rnd = new Random(0xb0c7)
    val alphabet =
      "abcdefghijklmnopqrstuvwxyz      \t\n\u000b\f\rAZ.-'1\u00a0\u001c\u00fc\u00df".toCharArray
    val names = Seq.fill(3000) {
      val s = Array.fill(rnd.nextInt(20))(alphabet(rnd.nextInt(alphabet.length))).mkString
      if (rnd.nextInt(20) == 0) s + "\ud83d\ude00" else s
    }
    for ((idx, units) <- Seq((1, 1), (2, 4), (3, 2), (5, 3), (4, 5)))
      assert(native(names, idx, units) === oracle(names, idx, units), s"idxChars $idx, lenUnits $units")
  }

  test("the kernel runs in codegen and interpreted alike, and on non-array-backed bytes") {
    // the generated code and eval() call the same static kernel; check it
    // also reads a UTF8String that views the middle of a larger buffer
    val buf = "xx anna maria yy".getBytes("UTF-8")
    val view = UTF8String.fromBytes(buf, 3, 10) // "anna maria"
    assert(BucketKernels.keys(view, 2, 4).map(_.toString).toSeq === Seq("an|1", "ma|1"))
  }

  test("lenUnits <= 0 fails when the column is built") {
    for (units <- Seq(0, -1, -4)) {
      val e = intercept[IllegalArgumentException](PersonMatching.bucketKeys(col("n"), 2, units))
      assert(e.getMessage.contains("lenUnits"))
    }
  }
}

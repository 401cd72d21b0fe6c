package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random
import org.apache.spark.unsafe.types.UTF8String
import graft.expressions.FuzzKernels
import graft.similarity.Similarity

/** Differential check of the hand-written date parser and the unrolled
  * `dateSimilarity` against the regex parser and `Seq` fold they replace,
  * which are kept here as the oracle. The parse reads UTF-8 bytes, so
  * the oracle also checks it on the bytes the person expression reads.
  */
class ParseDateSpec extends AnyFunSuite {

  private val PackedDate = "^(\\d{4})(\\d{2})(\\d{2})\\.?0?$".r
  private val DottedDate = "^(\\d{2})\\.(\\d{2})\\.(\\d{4})$".r

  private def oracleParse(date: String): Option[(Int, Int, Int)] = {
    if (date == null) return None
    date match {
      case PackedDate(y, m, d) => Some((y.toInt, m.toInt, d.toInt))
      case DottedDate(d, m, y) => Some((y.toInt, m.toInt, d.toInt))
      case _                   => None
    }
  }

  private def oracleDateSimilarity(date1: String, date2: String): Double = {
    def partScore(a: Int, b: Int): Double =
      if (a == 0 || b == 0) -1.0 else Similarity.numberDiff(a, b)
    (oracleParse(date1), oracleParse(date2)) match {
      case (Some((y1, m1, d1)), Some((y2, m2, d2))) =>
        val yearScore = partScore(y1, y2)
        var monthScore = partScore(m1, m2)
        var dayScore = partScore(d1, d2)
        val monthRev = partScore(d1, m2)
        val dayRev = partScore(m1, d2)
        if (monthScore + dayScore <= monthRev + dayRev) {
          monthScore = monthRev; dayScore = dayRev
        }
        var score = 100.0
        for (s <- Seq(yearScore, monthScore, dayScore) if s >= 0)
          score -= (100 - s)
        math.max(0.0, score)
      case _ => -1.0
    }
  }

  private val arabicIndic = "\u0661\u0669\u0664\u0663\u0660\u0663\u0661\u0662"
  private val fullWidth = "\uff11\uff19\uff14\uff13\uff10\uff13\uff11\uff12"

  private val shapes: Seq[String] = Seq(
    null, "",
    // yyyymmdd and its optional "." / "0" tail
    "19430312", "19430312.", "194303120", "19430312.0", "19430312.00",
    "194303120", "1943031200", "19430312..", "194303120.", "19430312.1",
    "19430000", "00000000", "99999999", "1943031", "194303121",
    // dd.mm.yyyy
    "12.03.1943", "00.00.0000", "99.99.9999", "12.03.194", "12.03.19430",
    "1.03.1943", "12.3.1943", "12.03.1943.0",
    // wrong separators
    "12/03/1943", "12-03-1943", "12 03 1943", "12.03-1943", "12,03,1943",
    "1943-03-12", "1943.03.12", "1943/03/12", "12..03.1943",
    // line terminators and spaces
    "19430312\n", "19430312.0\n", "12.03.1943\n", "\n19430312",
    "19430312\r\n", " 19430312", "19430312 ", " 12.03.1943 ", "12.03.1943 ",
    // signs
    "+19430312", "-19430312", "+12.03.1943", "12.-3.1943", "1943031+",
    "-1", "-1.0",
    // non-ASCII digits: Java's \d is ASCII-only
    arabicIndic, fullWidth, arabicIndic + ".0", "12.03.\uff11\uff19\uff14\uff13",
    "\u0661\u0662.03.1943", "1943031\u0662",
    "bogus", "abcdefgh", "12.ab.1943")

  test("parseDate accepts exactly the strings the retired regexes accepted") {
    for (s <- shapes) assert(Similarity.parseDate(s) === oracleParse(s), s"input=${String.valueOf(s)}")
    // the shapes above do reach both outcomes
    assert(Similarity.parseDate("19430312.0") === Some((1943, 3, 12)))
    assert(Similarity.parseDate("12.03.1943") === Some((1943, 3, 12)))
    for (s <- Seq(arabicIndic, fullWidth, "19430312\n", " 19430312", "+19430312", "", null))
      assert(Similarity.parseDate(s) === None, s"input=${String.valueOf(s)}")
  }

  /** 20k seeded strings, half random over a date-ish alphabet and half a
    * valid shape mutated in one position, so most sit next to an
    * accepted shape rather than far from every one.
    */
  private def nearDates(): Seq[String] = {
    val rnd = new Random(0xda7e)
    val alphabet = "0123456789012345678901234567890.. \n+-/\u0661\uff11x".toCharArray
    def randomString(): String =
      Array.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length))).mkString
    def mutated(): String = {
      val base = new StringBuilder(shapes(2 + rnd.nextInt(20)))
      rnd.nextInt(3) match {
        case 0 if base.nonEmpty => base.setCharAt(rnd.nextInt(base.length), alphabet(rnd.nextInt(alphabet.length)))
        case 1 => base.insert(rnd.nextInt(base.length + 1), alphabet(rnd.nextInt(alphabet.length)))
        case _ if base.nonEmpty => base.deleteCharAt(rnd.nextInt(base.length))
        case _ =>
      }
      base.toString
    }
    Seq.fill(20000)(if (rnd.nextBoolean()) randomString() else mutated())
  }

  test("parseDate agrees with the regexes on seeded random strings near the date shapes") {
    var accepted = 0
    for (s <- nearDates()) {
      val expected = oracleParse(s)
      assert(Similarity.parseDate(s) === expected, s"input=$s")
      if (expected.isDefined) accepted += 1
    }
    assert(accepted > 1000, s"accepted=$accepted")
  }

  test("dateSimilarity is bit-identical to the regex parse and Seq fold it replaces") {
    val rnd = new Random(0xda7f)
    def date(): String = rnd.nextInt(4) match {
      case 0 => shapes(rnd.nextInt(shapes.length))
      case 1 => f"${rnd.nextInt(29)}%02d.${rnd.nextInt(13)}%02d.${1900 + rnd.nextInt(60)}%04d"
      case _ => f"${1900 + rnd.nextInt(60)}%04d${rnd.nextInt(13)}%02d${rnd.nextInt(29)}%02d"
    }
    for (_ <- 0 until 20000) {
      val (a, b) = (date(), date())
      assert(java.lang.Double.doubleToRawLongBits(Similarity.dateSimilarity(a, b)) ===
        java.lang.Double.doubleToRawLongBits(oracleDateSimilarity(a, b)), s"($a, $b)")
    }
  }

  test("the byte-level parse equals the regexes on every shape and near-date") {
    val inputs = shapes ++ nearDates()
    var accepted = 0
    for (s <- inputs) {
      val want = oracleParse(s).fold(-1) { case (y, m, d) => y * 10000 + m * 100 + d }
      // also from a view into a larger buffer, as a struct field is read
      val views =
        if (s == null) Seq(null)
        else {
          val b = s.getBytes("UTF-8")
          Seq(UTF8String.fromString(s),
            UTF8String.fromBytes(("x" + s + "y").getBytes("UTF-8"), 1, b.length))
        }
      for (u <- views) assert(Similarity.packedDate(u) === want, s"input=${String.valueOf(s)}")
      if (want >= 0) accepted += 1
    }
    assert(accepted > 1000, s"accepted=$accepted")
    // and the byte-level date kernel scores every pair bit for bit as the
    // regex parse and Seq fold do
    val rnd = new Random(0xda80)
    for (_ <- 0 until 20000) {
      val (a, b) = (inputs(rnd.nextInt(inputs.length)), inputs(rnd.nextInt(inputs.length)))
      if (a != null && b != null)
        assert(java.lang.Double.doubleToRawLongBits(
          FuzzKernels.dateSimilarity(UTF8String.fromString(a), UTF8String.fromString(b))) ===
          java.lang.Double.doubleToRawLongBits(oracleDateSimilarity(a, b)), s"($a, $b)")
    }
  }
}

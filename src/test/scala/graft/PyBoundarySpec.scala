package graft
import org.scalatest.funsuite.AnyFunSuite
import graft.normalize.Regexes

/** Pins the python-`\w`/`\b` parity layer (r20, Regexes.PyW/PyB) and its
  * one documented JDK residual. Python's `\w` is exactly [\p{L}\p{N}_]
  * (all-codepoint-verified vs CPython re); Java's `(?U)\w` additionally
  * matches 2,295 combining marks / join controls / extra connectors and
  * misses the 525 Unicode-14 assignments. The golden fixtures adjudicate
  * the end-to-end kernels against the reference; this spec pins the
  * class/boundary primitives directly.
  */
class PyBoundarySpec extends AnyFunSuite {
  test("expanded python-parity patterns compile") {
    for (p <- Seq(Regexes.DashWords, Regexes.DeletedWords, Regexes.QuestionMarkWords,
        Regexes.SemicolonWords, Regexes.KeyWords, Regexes.AcademicTitle, Regexes.NobleName,
        Regexes.BirthName, Regexes.BirthNameClean, Regexes.NameSemicolonTransformation,
        Regexes.SemicolonTransformation, Regexes.LetterSpacing, Regexes.DateSplit,
        Regexes.PrisonerNumberCharacterSeparator, Regexes.QaPrisonerNo))
      java.util.regex.Pattern.compile(p)
  }

  test("PyW matches python \\w where (?U)\\w diverges") {
    val w = java.util.regex.Pattern.compile(Regexes.PyW)
    // combining mark: java (?U)\w yes, python no
    assert(!w.matcher("̈").matches())
    // superscript two / vulgar fraction: python \w yes, java (?U)\w no
    assert(w.matcher("²").matches())
    assert(w.matcher("½").matches())
    // BMP Unicode-14 letter (Arabic Extended-B)
    assert(w.matcher("ࢵ").matches())
    // astral Unicode-14 letter (Vithkuqi) — consuming match works
    assert(w.matcher("𐕱").matches())
    // ASCII basics unchanged
    assert(w.matcher("a").matches() && w.matcher("9").matches() && w.matcher("_").matches())
    assert(!w.matcher(" ").matches() && !w.matcher("-").matches())
  }

  test("PyB python-boundary parity on BMP neighborhoods") {
    val b = Regexes.PyB
    // a combining mark ends a python word: boundary between 'a' and U+0308
    assert(java.util.regex.Pattern.compile(s"na$b").matcher("Mnäx").find())
    // BMP U14 letter is a word char: NO boundary inside "ࢵna"
    assert(!java.util.regex.Pattern.compile(s"${b}na$b").matcher("ࢵna").find())
    // superscript two is \w in python: no boundary inside "x²y"
    assert(!java.util.regex.Pattern.compile(s"$b²").matcher("x²y").find())
    // plain ASCII boundary still works, both sides
    assert(java.util.regex.Pattern.compile(s"${b}na$b").matcher("a na b").find())
    assert(!java.util.regex.Pattern.compile(s"${b}na$b").matcher("ana b").find())
  }

  test("documented residual: JDK lookbehind cannot see astral word chars") {
    // Python would NOT fold "𐕱na" (U+10571 is a word char);
    // the JDK lookbehind reads astral-before as non-word, so PyB finds a
    // boundary. Pinned so any JDK fix (or a workaround) shows up as a
    // failure here instead of silently changing kernel behavior.
    val b = Regexes.PyB
    assert(java.util.regex.Pattern.compile(s"${b}na$b").matcher("𐕱na").find())
    // ...while the lookAHEAD half is codepoint-exact: no trailing
    // boundary between 'a' and an astral word char
    assert(!java.util.regex.Pattern.compile(s"na$b").matcher("na𐕱").find())
  }

  test("translate reads a ] right after [ or [^ as a class member, as Java and python do") {
    val rs = String.valueOf(0x1e.toChar) // in python's \s, not in Java's (?U)\s
    for (tr <- Seq[String => String](Regexes.pyS, Regexes.pySFast)) {
      // \s stays in its class: the body form, not the standalone class
      assert(tr("[]\\s]") === "[]" + Regexes.PySBody + "]")
      assert(tr("[^]\\s]") === "[^]" + Regexes.PySBody + "]")
      // the class closes at the SECOND ]: a \s after it is outside again
      assert(tr("[]a]\\s") === "[]a]" + Regexes.PyS)
      val in = java.util.regex.Pattern.compile(tr("[]\\s]"))
      val out = java.util.regex.Pattern.compile(tr("[^]\\s]"))
      for (m <- Seq("]", " ", rs)) {
        assert(in.matcher(m).matches(), s"[]\\s] must match '$m'")
        assert(!out.matcher(m).matches(), s"[^]\\s] must not match '$m'")
      }
      assert(!in.matcher("a").matches() && out.matcher("a").matches())
    }
  }
}

package graft.normalize

/** Regex conditions for column processing (reference
  * `src/aroa_etl/attribute_processing/regex_conditions.py` — ported
  * verbatim; Java and Python regex dialects agree for every pattern here).
  * These tables ARE the spec: downstream QA counts and split shapes were
  * tuned against exactly these patterns.
  *
  * Python-`\s` parity (r20): on `str`, Python's `\s` (and `str.strip`)
  * is the Unicode White_Space property PLUS the information separators
  * U+001C-001F (`'\x1c'.isspace()` is True); Java's `(?U)\s` is
  * White_Space only. Every `\s` the reference wrote is therefore
  * spelled [[Regexes.PyS]] here — the r20 golden probes proved the gap
  * is user-visible in all four normalization families (a `\x1e` inside
  * a name is a separator to the reference, a letter to `(?U)\s`).
  */
object Regexes {
  /** Python's `\s` on str: `(?U)\s` ∪ U+001C-001F. */
  val PyS = "[\\s\\x1c-\\x1f]"
  /** Class-body form, for composing inside existing `[...]` classes. */
  val PySBody = "\\s\\x1c-\\x1f"

  /** Python's `\w` on str is exactly `[\p{L}\p{N}_]` (all-codepoint-
    * verified vs CPython re) — NOT Java's `(?U)\w`, which additionally
    * matches 2,295 combining marks (Mn/Mc/Me), join controls and extra
    * connectors that python's `\w` rejects, so on decomposed text
    * ("Mü" as u+U+0308) every replayed `\w`/`\b` diverges. The body
    * below appends the 525 Unicode-14 assignments (Arabic Extended-B,
    * Vithkuqi, Latin Extended-F/G, Kana Extended, Cypro-Minoan, …) that
    * JDK 17's Unicode-13 `\p{L}\p{N}` tables predate; with them the
    * class equals python's `\w` on every codepoint (graft.CaseSweep-
    * style differential, r20).
    */
  val PyWExtraBody: String =
    "\\x{870}-\\x{887}\\x{889}-\\x{88E}\\x{8B5}\\x{8C8}\\x{8C9}" +
    "\\x{C5D}\\x{CDD}\\x{170D}\\x{171F}\\x{1B4C}\\x{2C2F}\\x{2C5F}" +
    "\\x{9FFD}-\\x{9FFF}\\x{A7C0}\\x{A7C1}\\x{A7D0}\\x{A7D1}\\x{A7D3}" +
    "\\x{A7D5}-\\x{A7D9}\\x{A7F2}-\\x{A7F4}\\x{10570}-\\x{1057A}" +
    "\\x{1057C}-\\x{1058A}\\x{1058C}-\\x{10592}\\x{10594}\\x{10595}" +
    "\\x{10597}-\\x{105A1}\\x{105A3}-\\x{105B1}\\x{105B3}-\\x{105B9}" +
    "\\x{105BB}\\x{105BC}\\x{10780}-\\x{10785}\\x{10787}-\\x{107B0}" +
    "\\x{107B2}-\\x{107BA}\\x{10F70}-\\x{10F81}\\x{11071}\\x{11072}" +
    "\\x{11075}\\x{11740}-\\x{11746}\\x{11AB0}-\\x{11ABF}" +
    "\\x{12F90}-\\x{12FF0}\\x{16A70}-\\x{16ABE}\\x{16AC0}-\\x{16AC9}" +
    "\\x{1AFF0}-\\x{1AFF3}\\x{1AFF5}-\\x{1AFFB}\\x{1AFFD}\\x{1AFFE}" +
    "\\x{1B11F}-\\x{1B122}\\x{1DF00}-\\x{1DF1E}\\x{1E290}-\\x{1E2AD}" +
    "\\x{1E7E0}-\\x{1E7E6}\\x{1E7E8}-\\x{1E7EB}\\x{1E7ED}\\x{1E7EE}" +
    "\\x{1E7F0}-\\x{1E7FE}\\x{2A6DE}\\x{2A6DF}\\x{2B735}-\\x{2B738}"
  val PyWBody: String = "\\p{L}\\p{N}_" + PyWExtraBody
  val PyW: String = "[" + PyWBody + "]"
  val PyNotW: String = "[^" + PyWBody + "]"
  /** BMP-only slice of the extras, for LOOKBEHIND positions: JDK
    * lookbehind cannot step over astral codepoints at all (see PyB), so
    * carrying the astral ranges there only bloats the pattern —
    * exact-pattern size is a real cost (a 130 KB pattern costs ~40 ms
    * to compile per expression instance per task).
    */
  private val PyWExtraBmp: String =
    "\\x{870}-\\x{887}\\x{889}-\\x{88E}\\x{8B5}\\x{8C8}\\x{8C9}" +
    "\\x{C5D}\\x{CDD}\\x{170D}\\x{171F}\\x{1B4C}\\x{2C2F}\\x{2C5F}" +
    "\\x{9FFD}-\\x{9FFF}\\x{A7C0}\\x{A7C1}\\x{A7D0}\\x{A7D1}\\x{A7D3}" +
    "\\x{A7D5}-\\x{A7D9}\\x{A7F2}-\\x{A7F4}"
  private val PyWLb: String = "[\\p{L}\\p{N}_" + PyWExtraBmp + "]"
  /** Python `\b`: a `\w`-vs-not transition, spelled with [[PyW]].
    *
    * Exact for every BMP neighborhood — combining marks (python words
    * END at a mark; Java `(?U)\b` runs through it), superscripts, and
    * the BMP Unicode-14 letters. KNOWN RESIDUAL: a position directly
    * after an ASTRAL codepoint reads as after-non-word, because JDK
    * lookbehind cannot step back over supplementary characters AT ALL
    * (probed on this JDK: `(?<=\p{L})` fails behind U+10400, and
    * explicit surrogate classes are normalized away — JDK-8029363
    * family). The lookAHEAD half is codepoint-correct, so astral
    * word-ness after the boundary is exact. Adjudicated divergence:
    * "𐕱na" (astral Vithkuqi before an NA token) folds here, not in
    * python; the BMP-U14 equivalent "ࢵna" behaves python-exactly.
    */
  val PyB: String = "(?:(?<=" + PyWLb + ")(?!" + PyW + ")|(?<!" + PyWLb + ")(?=" + PyW + "))"
  val PyNotB: String = "(?:(?<=" + PyWLb + ")(?=" + PyW + ")|(?<!" + PyWLb + ")(?!" + PyW + "))"

  /** Rewrite a reference (python) pattern's `\s` `\w` `\W` `\b` `\B`
    * to their python-exact spellings — class-aware: inside an existing
    * `[...]` the body forms keep the class flat (`[\.\s]` →
    * `[\.\s\x1c-\x1f]`), and a `\b` inside a class is left alone
    * (it means backspace there, in both dialects). On pure-ASCII text
    * every rewrite is behavior-identical to the `(?U)` original.
    */
  private[graft] def pyS(p: String): String = translate(p, exact = true)

  /** Fast twin of [[pyS]]: `\s` still becomes [[PyS]] (a tiny class,
    * needed on ALL text — `\x1c` is ASCII), but `\w`/`\b`/`\W`/`\B`
    * stay the native `(?U)` forms. Correct ONLY for strings with no
    * [[DivergenceCover]] character: outside that cover Java's `(?U)\w`
    * and python's `\w` agree on every codepoint, so the boundaries
    * agree too. The exact forms cost 10-25× (each PyB is four
    * lookarounds over a ~50-member union class, and JDK class unions
    * evaluate as linear chains), which round-20 measured as a 10×
    * regression on the whole q21 chain — hence the gate.
    */
  private[graft] def pySFast(p: String): String = translate(p, exact = false)

  private def translate(p: String, exact: Boolean): String = {
    val sb = new java.lang.StringBuilder(p.length + 16)
    var i = 0
    var inClass = false
    // index of the open class's first body char (after `[` or `[^`): a
    // `]` there is a literal member, not the close, in Java and python
    var bodyStart = -1
    while (i < p.length) {
      val c = p.charAt(i)
      if (c == '\\' && i + 1 < p.length) {
        p.charAt(i + 1) match {
          case 's' => sb.append(if (inClass) PySBody else PyS)
          case 'w' if exact => sb.append(if (inClass) PyWBody else PyW)
          case 'W' if exact =>
            require(!inClass, s"\\W inside a class unsupported: $p")
            sb.append(PyNotW)
          case 'b' if exact => sb.append(if (inClass) "\\b" else PyB)
          case 'B' if exact =>
            require(!inClass, s"\\B inside a class unsupported: $p")
            sb.append(PyNotB)
          case o => sb.append(c).append(o)
        }
        i += 2
      } else {
        // fail-fast on class NESTING (Java '[a[b]]' unions): the flat
        // tracker below would flip inClass at the wrong place and
        // silently mistranslate a later \s/\w/\b (same policy as the
        // \W/\B rejections above)
        require(!(c == '[' && inClass),
          s"nested character class unsupported by pyS translate(): $p")
        if (c == '[' && !inClass) {
          inClass = true
          bodyStart = if (i + 1 < p.length && p.charAt(i + 1) == '^') i + 2 else i + 1
        } else if (c == ']' && inClass && i != bodyStart) inClass = false
        sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  /** A cover of every codepoint on which Java `(?U)\w` and python `\w`
    * disagree (all 3,856 of them, verified by the r20 sweep; the astral
    * plane is covered wholesale because JDK lookbehind cannot read it
    * anyway), CLOSED under case mapping: if any lower/upper/title image
    * of a codepoint contains a cover char, the source is in the cover
    * too (İ → i+U+0307, ǰ → J+U+030C, iota subscripts → U+0345, IPA →
    * Latin-Ext-C uppers, …; fixpoint verified against CPython), so a
    * chain that case-maps between boundary steps cannot smuggle a
    * divergent char past an input-side gate. A string with NO cover
    * char is PROVABLY identical under the native and exact boundary
    * forms — ASCII and precomposed Latin (umlauts, ß, é, č, ł, ș…) all
    * fail the gate, so the hot corpora take the fast chains.
    */
  val DivergenceCover: String =
    "[\\x{B2}-\\x{BE}\\x{130}\\x{149}\\x{180}-\\x{1B7}\\x{1DD}" +
    "\\x{1F0}\\x{1F6}\\x{220}\\x{23A}-\\x{2189}\\x{2460}-\\x{24FF}" +
    "\\x{2776}-\\x{2793}\\x{2C00}-\\x{2DFF}\\x{302A}-\\x{32BF}" +
    "\\x{9FFD}-\\x{9FFF}\\x{A66F}-\\x{ABED}\\x{FB13}-\\x{FB1E}" +
    "\\x{FE00}-\\x{FF5A}\\x{10000}-\\x{10FFFF}]"

  /** Scalar-side gate, same contract as [[DivergenceCover]]: true iff
    * the string MAY contain a java-vs-python word-semantics divergence
    * (then use the exact patterns; else the native ones are identical).
    */
  def mayDiverge(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= 0xB2) {
        if ((c <= 0xBE) || c == 0x130 || c == 0x149 ||
          (c >= 0x180 && c <= 0x1B7) || c == 0x1DD || c == 0x1F0 ||
          c == 0x1F6 || c == 0x220 ||
          (c >= 0x23A && c <= 0x2189) || (c >= 0x2460 && c <= 0x24FF) ||
          (c >= 0x2776 && c <= 0x2793) || (c >= 0x2C00 && c <= 0x2DFF) ||
          (c >= 0x302A && c <= 0x32BF) || (c >= 0x9FFD && c <= 0x9FFF) ||
          (c >= 0xA66F && c <= 0xABED) || (c >= 0xFB13 && c <= 0xFB1E) ||
          (c >= 0xD800 && c <= 0xDFFF) || // any astral codepoint
          (c >= 0xFE00 && c <= 0xFF5A)) return true
      }
      i += 1
    }
    false
  }

  // \b-token runs are FACTORED (\bA\b|\bB\b == \b(?:A|B)\b, and only
  // CONSECUTIVE alternatives are grouped so leftmost-alternation order
  // is preserved): the exact PyB expansion is ~2.3 KB per \b, and the
  // unfactored form was a 130 KB pattern costing ~40 ms to compile per
  // expression instance per task.
  private val DashWordsSrc =
    "(?U)(?i)\\b(?:blank|\\[blank\\]|\\(blank\\)|blanc|none|leer)\\b|nicht bekannt|\\bk\\.+\\s*a\\b\\.*|\\bk\\.*\\s*a\\b\\.+|\\b(?:nn|fehlt|empty|missing|na|NA|Na|not)\\b|unklear|keine angabe|entfällt|unavailable|not listet|not statet|no information|\\bno\\b|nr\\. unbekannt|nicht angegeben|keine nummer|unknown|unbekant|\\bnil\\b|no data|xxx|unbekannt\\b|\\b(?:keine|ohne)\\b|_|^0+$"
  val DashWords = pyS(DashWordsSrc)
  val DashWordsFast = pySFast(DashWordsSrc)
  val DeletedWords =
    "(?U)(?i)lined out|crossed out|durchgestrichen|gestrichen|scored out|\\[strikethrough\\]|\"+"
  val QuestionMarkWords =
    "(?U)(?i)illegible|unclear|unsure|not clear|unreadable|unklar|nicht erkennbar|nicht lesbar|\\?+|unlesbar|unleserlich|ungenau|andere angabe"
  private val SemicolonWordsSrc =
    "(?U)(?i),|\\b(?:or|oder|and|und)\\b|/|\\(|\\)|:|\\[|\\]"
  val SemicolonWords = pyS(SemicolonWordsSrc)
  val SemicolonWordsFast = pySFast(SemicolonWordsSrc)

  private val KeyWordsSrc =
    "(?U)(\\b|\\()(mr\\.|mrs\\.|frau|fr\\.\\s|herr|herrn|frl\\.|ing\\.|tote|toter|died|neugeborenes|unbekannter\\stoter|unbekannte\\stote|auch|vel|freifrau|prinz|prinzessin|erbprinz|freiherr|freifr|reichsgraf|reichsgräfin|graf|gräfin|freiin|säugling|kind|wwe\\.|gefr\\.|soldat|baron|baronin|hr\\.|ehefrau|vel|alias|baby|wwe|schwester|wife|gattin|gatte|or|oder|od\\.\\s|jude|jüdin|bruder|heil|hitler)(\\s|\\b|\\)|$)"
  val KeyWords = pyS(KeyWordsSrc)
  val KeyWordsFast = pySFast(KeyWordsSrc)

  private val AcademicTitleSrc =
    "(?U)\\b([dD]r\\.|[pP]rof\\.|[mM]udr\\.)"
  val AcademicTitle = pyS(AcademicTitleSrc)
  val AcademicTitleFast = pySFast(AcademicTitleSrc)

  private val NobleNameSrc =
    "(?U)\\b(?![a-z]\\')(van(([^a-zA-Z]+(der|den|de|d\\.))|\\.)?|von(([^a-zA-Z]+(der|den|de|d\\.))|\\.)?|de la|del|di|der|den|vom|dal|della|dell|dalla|da|d|(v\\.\\s?d\\.)|v\\.|von\\.|d\\.|du|de|le|la|v|d|mc|ter|ten|te|san)(\\b|\\s)(?=[a-zA-Z]){2,}"
  val NobleName = pyS(NobleNameSrc)
  val NobleNameFast = pySFast(NobleNameSrc)
  val NoblePrefixClean = "[^a-zA-Z]"

  private val BirthNameSrc =
    "(?U)((\\b)(geborene|geb\\.|geb|geboren|nee|née|nèe|zd\\.|zd)(\\b).*)"
  val BirthName = pyS(BirthNameSrc)
  val BirthNameFast = pySFast(BirthNameSrc)
  private val BirthNameCleanSrc =
    "(?U)((\\b)(geborene|geb\\.|geb|geboren|nee|née|nèe|zd\\.|zd)(\\b).)"
  val BirthNameClean = pyS(BirthNameCleanSrc)
  val BirthNameCleanFast = pySFast(BirthNameCleanSrc)

  val StripSemicolon = "^;*|;*$"
  private val NameSemicolonTransformationSrc =
    "(?U)(?<!\\b(d))(?<!\\b(da|de|di|du|d\\.|la|le|mc|te|v\\.))(?<!\\b(dal|del|der|den|ter|ten|van|vom|von|san))(?<!\\b(von\\.))(?<!\\b(della|dalla))(\\s;|;\\s|\\s+|\\,|\\,\\s|\\-|;+|\\\\)"
  val NameSemicolonTransformation = pyS(NameSemicolonTransformationSrc)
  val NameSemicolonTransformationFast = pySFast(NameSemicolonTransformationSrc)
  val SemicolonTransformation = pyS("(?U)(\\s;|;\\s|\\s|\\,|\\-|;+|\\\\)+")

  private val LetterSpacingSrc =
    "(?U)\\b([A-Za-z])\\s+(?=[A-Za-z]\\b)"
  val LetterSpacing = pyS(LetterSpacingSrc)
  val LetterSpacingFast = pySFast(LetterSpacingSrc)

  val Qa = "[\\(\\)\\[\\]0-9\\?,:_\\/\\*\\\"#]|\\.\\.|^-|-$|[^a-zA-Z]-[^a-zA-Z]"
  val QaPrisonerNo = "(?U)(.*[^0-9;" + PySBody + "\\.\\/aAbBrRzZ]+.*)"
  val QaNoEntry = "^-$"
  val QaPrisonerNoNoEntry = "^-$|[aAbBrRzZ]"

  val PrisonerNumberCharacterSeparator = pyS("(?U)(?<=[aAbBrRzZ]{1})(\\s|-)(?=[0-9]{2,})")

  val Digit4Year = "^[12][0-9]{3}$"
  val DateSplit = pyS("(?U)(\\.\\s*|\\/|,\\s*|\\s+|\\s|;|(?<=[0-9])(-)(?=[0-9]))+")
  val NoDoubleZerosMd = "^0+(?=[0-9]{2})"
  val NoDoubleZerosY = "^0+(?=[0-9]{4})"

  /** Month-name → number chains, applied in order on the lowercased value. */
  val MonthCorrections: Seq[(String, String)] = Seq(
    "jan[a-z]*" -> "01", "feb[a-z]*" -> "02",
    "(mär[a-z]*)|(mar[a-z]*)|(maer[a-z]*)" -> "03",
    "a.ril" -> "04", "ma[a-z]*|peut" -> "05",
    "(jun[a-z]*)|(juin)" -> "06", "jul[a-z]*|juil[a-z]*" -> "07",
    "aug[a-z]*|ao[a-z]*|ag[a-z*]" -> "08", "sep[a-z]*" -> "09",
    "o[c|k]t[a-z]*" -> "10", "nov[a-z]*" -> "11", "d.c[a-z]*" -> "12")
}

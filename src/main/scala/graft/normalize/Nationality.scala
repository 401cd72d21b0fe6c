package graft.normalize

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Nationality standardization (SURVEY F21; reference
  * `column_processing.py:1217-1331`, helpers `aux_functions.py:525-604`).
  *
  * The reference loads its raw→standard dictionary from Excel sheets;
  * here the dictionaries are plain Maps supplied by the caller (broadcast
  * into the scalar kernel). Semantics ported: word-boundary substring
  * matching of raw keys (longest kept when one key contains another),
  * in-place replacement, `;`-separation into ≤5 `nationality_i` columns,
  * per-value classification {standardized, unclear `?`, raw} with QA and
  * a quality level.
  */
object Nationality {

  /** `standardizer` + `result_checker`: all dict keys matching the value
    * on word boundaries, dropping keys that are substrings of another
    * match; sorted by key length (reference order).
    */
  /** Word-boundary patterns per dictionary, compiled ONCE per dict:
    * per-row Pattern.compile over every key would be hundreds of
    * millions of compilations at corpus scale (the same hoist
    * Similarity/Fuzz apply). ConcurrentHashMap.computeIfAbsent, not a
    * synchronized map: a global lock taken per call would serialize
    * every executor thread through the cache just to read it (the
    * Unpack.patternCache template). NB the key is dict EQUALITY — every
    * lookup rehashes the whole Map — so the per-row path resolves the
    * cache once per job via [[Standardizer]]; this cache only backs the
    * ad-hoc [[findMatches]] entry point.
    */
  // dual key-pattern maps (r20): python-exact \b is 10-25x the native
  // one, so Latin/ASCII raw values (Regexes.mayDiverge false) match with
  // the native (?U)\b patterns - provably identical off the divergence
  // cover - and only potentially-divergent values pay for PyB
  private val dictPatterns = new java.util.concurrent.ConcurrentHashMap[
    Map[String, String], (Map[String, java.util.regex.Pattern], Map[String, java.util.regex.Pattern])]()
  private def patternsFor(natDict: Map[String, String])
      : (Map[String, java.util.regex.Pattern], Map[String, java.util.regex.Pattern]) =
    dictPatterns.computeIfAbsent(natDict, d => {
      val keys = d.keys.filter(_.nonEmpty)
      (keys.map(k => k -> java.util.regex.Pattern.compile(
        Regexes.PyB + java.util.regex.Pattern.quote(k) + Regexes.PyB)).toMap,
        keys.map(k => k -> java.util.regex.Pattern.compile(
          "(?U)\\b" + java.util.regex.Pattern.quote(k) + "\\b")).toMap)
    })

  def findMatches(natDict: Map[String, String], raw: String): Seq[(String, String)] =
    findMatchesWith(patternsFor(natDict), natDict, raw)

  private def findMatchesWith(
      duals: (Map[String, java.util.regex.Pattern], Map[String, java.util.regex.Pattern]),
      natDict: Map[String, String], raw: String): Seq[(String, String)] = {
    // literal-containment prefilter (r22): every key pattern is a
    // Pattern.quote'd literal between zero-width boundary assertions
    // (PyB or (?U)\b), so a regex hit implies raw.contains(key) — keys
    // absent as substrings can be skipped without a matcher scan, and
    // String.contains is far cheaper than java.util.regex over the
    // whole dictionary per row. Rows containing no key also skip the
    // mayDiverge() codepoint sweep entirely.
    val contained = natDict.keys.toSeq.filter(raw.contains)
    if (contained.isEmpty) return Nil
    val pats = if (Regexes.mayDiverge(raw)) duals._1 else duals._2
    val hits = contained
      .filter(k => pats.get(k).exists(_.matcher(raw).find()))
      .sortBy(_.length)
    hits.filterNot(k => hits.exists(o => o != k && o.contains(k)))
      .map(k => k -> natDict(k))
  }

  /** `replace_raw_values`: substitute each matched key (trimmed) by its
    * standardized value.
    */
  def replaceRawValues(raw: String, matches: Seq[(String, String)]): String =
    matches.foldLeft(raw) { case (acc, (k, v)) => acc.replace(PyText.pyStripStr(k), v) }

  final case class NatResult(parts: Seq[String], standardized: Seq[String], qa: Boolean)

  // hoisted per-row scrub patterns (String.replaceAll compiles per call)
  private val dots = java.util.regex.Pattern.compile("\\.")
  private val separators =
    java.util.regex.Pattern.compile(Regexes.pyS("(?U)(\\s;|;\\s|\\s|\\,|\\-|;+|\\\\|/)+"))

  /** Per-JOB hoisted state for [[standardizeValue]]: the compiled
    * word-boundary patterns plus the three membership sets. Building
    * these per ROW (the obvious inline shape) is an O(|dict|) set
    * allocation and a whole-Map rehash per row — billions of redundant
    * allocations at corpus scale. One instance per standardize call,
    * captured by the UDF closure (Pattern and the sets all serialize).
    */
  final case class Standardizer(
      natDict: Map[String, String], unclearDict: Map[String, String]) {
    private val pats = patternsFor(natDict)
    private val values = natDict.values.toSet
    private val unclearKeys = unclearDict.keySet
    private val unclearValues = unclearDict.values.toSet

    def apply(raw0: String): NatResult = {
      val raw = if (raw0 == null) "" else Nationality.dots.matcher(raw0).replaceAll("")
      val replaced = Nationality.separators
        .matcher(PyText.pyStripStr(replaceRawValues(raw, findMatchesWith(pats, natDict, raw))))
        .replaceAll(";")
      val parts = replaced.split(";", 5).toSeq
      var qa = false
      val standardized = parts.map { p =>
        if (natDict.contains(p)) natDict(p)
        else if (values.contains(p)) p
        else if (unclearKeys.contains(p) || unclearValues.contains(p)) { qa = true; "?" }
        else { qa = true; p }
      }
      NatResult(parts, standardized, qa)
    }
  }

  def standardizeValue(
      natDict: Map[String, String], unclearDict: Map[String, String],
      raw0: String): NatResult =
    Standardizer(natDict, unclearDict)(raw0)

  /** Standardize a nationality column: appends `nationality_1..k`,
    * `nationality_i_standardized`, `nationality_standardized_qa`,
    * `nationality_quality_level`.
    */
  def standardize(
      df: DataFrame, natCol: String,
      natDict: Map[String, String],
      unclearDict: Map[String, String]): DataFrame = {
    val std = Standardizer(natDict, unclearDict)
    val stdUdf = udf { (raw: String) =>
      val r = std(raw)
      (r.parts, r.standardized, r.qa)
    }
    Families.normalize(df, Seq(Family(
      stdUdf(coalesce(col(natCol).cast("string"), lit(""))), kv => size(kv("_1")), (kv, k) =>
        (0 until k).flatMap(i => Seq(
          s"nationality_${i + 1}" -> get(kv("_1"), lit(i)),
          s"nationality_${i + 1}_standardized" -> get(kv("_2"), lit(i)))) ++ Seq(
          "nationality_standardized_qa" -> kv("_3"),
          "nationality_quality_level" ->
            when(kv("_3"), lit("Rohdaten")).otherwise(lit("technisch standardisiert"))))))
  }
}

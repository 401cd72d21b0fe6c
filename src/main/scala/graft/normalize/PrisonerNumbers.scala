package graft.normalize

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Prisoner-number normalization (SURVEY F16; reference
  * `src/aroa_etl/attribute_processing/column_processing.py:347-484`).
  *
  * Chain: clean → strip alpha words → fix spacing around the A/B/R/Z
  * camp markers → `;`-separate → numeric sort within the list → split to
  * ≤5 `prisoner_number_trim_i` columns → de-dot `12.345` → extract the
  * marker char into a `_additional_information` sibling → QA on
  * anything non-numeric left.
  */
object PrisonerNumbers {
  import Clean._
  import PyText._

  private val CharRegexSrc = "(\\b[aAbBrRzZ](?=[^a-zA-Z])+)"
  private[normalize] val CharRegex = Regexes.pyS(CharRegexSrc)
  private[normalize] val CharRegexFast = Regexes.pySFast(CharRegexSrc)
  private val DeDotSrc =
    "((?<=\\b\\d{1})|(?<=[^\\d]\\d{1})|(?<=\\b\\d{2})|(?<=[^\\d]\\d{2})|(?<=\\b\\d{3})|(?<=[^\\d]\\d{3}))[.](?=\\d{3})"
  private[normalize] val DeDot = Regexes.pyS(DeDotSrc)
  private[normalize] val DeDotFast = Regexes.pySFast(DeDotSrc)

  /** Fused-kernel output: the ≤5 (trim, marker) slots padded to 5, the
    * folded QA flag, and the raw part count (None when the whole chain
    * was null — `size(null)` is NULL in the column spec's batch-arity
    * aggregation, and max() ignores it).
    */
  private[graft] final case class PrisonerParts(
      trims: Seq[String], infos: Seq[String], qa: Boolean, n: Option[Int])

  /** The F16 family of `input` (see [[normalise]]). */
  private[normalize] def family(
      input: Column,
      dataSource: String = "crowd_sourcing",
      outName: String = "prisoner_number"): Family = {
    val kernel = udf((s: String) => PrisonerNumbersKernel.normalise(s))
    Family(kernel(input.cast("string")), _("n"), (kv, k) =>
      (0 until k).flatMap { i =>
        val trimName = s"${outName}_trim_${i + 1}"
        Seq(trimName -> kv("trims").getItem(i),
          s"${trimName}_additional_information" -> kv("infos").getItem(i))
      } ++ Seq(
        s"${outName}_qa" -> kv("qa"),
        s"${outName}_data_source" -> lit(dataSource)))
  }

  /** r22: executes through the fused scalar kernel
    * ([[PrisonerNumbersKernel.normalise]]) — same design and
    * equivalence gates as [[Dates.normaliseDate]]; [[normaliseExpr]]
    * retains the column chain as the executable spec.
    */
  def normalise(
      input: DataFrame,
      prisonerNo: String,
      dataSource: String = "crowd_sourcing",
      outName: String = "prisoner_number"): DataFrame =
    Families.normalize(input, Seq(family(col(prisonerNo), dataSource, outName)))

  /** The original column-expression F16 chain — the fused kernel's SPEC
    * (PrisonerNumbersFusedSpec diffs the two; see [[DatesKernel]]).
    */
  private[graft] def normaliseExpr(
      input: DataFrame,
      prisonerNo: String,
      dataSource: String = "crowd_sourcing",
      outName: String = "prisoner_number"): DataFrame = {

    var c = cleanCopy(col(prisonerNo))
    val qaBase = createQaCol(c, Regexes.QaPrisonerNo, Regexes.QaPrisonerNoNoEntry)

    // shared divergence gate (see Names): raw input, case-closed cover
    val mayDiv = coalesce(col(prisonerNo).rlike(Regexes.DivergenceCover), lit(false))
    def gated(exact: Column => Column, fast: Column => Column)(in: Column): Column =
      when(mayDiv, exact(in)).otherwise(fast(in))

    c = gated(
      regexp_replace(_, Regexes.pyS("\\b[a-zA-z]{2,}\\b"), ""),
      regexp_replace(_, Regexes.pySFast("\\b[a-zA-z]{2,}\\b"), ""))(pyStrip(c))
    c = regexp_replace(c, "  ", " ")
    c = regexp_replace(c, Regexes.pyS("(?U)(?<=[^0-9a-zA-Z])\\s(?=[0-9])|(?<=[a-zA-Z])\\s(?=[^0-9a-zA-Z])"), "")
    c = regexp_replace(c, Regexes.pyS("(?U)(?<=[0-9]{2})\\s(?=[0-9]{3})"), "")
    c = regexp_replace(pyStrip(c), Regexes.PrisonerNumberCharacterSeparator, "")
    c = regexp_replace(pyStrip(c), Regexes.SemicolonTransformation, ";")
    c = sortListUdf(c)

    val parts = split(c, ";", 5)
    Families.normalize(input, Seq(Family(
      struct(parts.as("parts"), qaBase.as("qa")), kv => size(kv("parts")), { (kv, k) =>
        val trims = (0 until k).map { i =>
          // the gate column does not survive the pin: re-test the PART
          // itself (cheap class scan, still one rlike)
          val part = get(kv("parts"), lit(i))
          val partDiv = coalesce(part.rlike(Regexes.DivergenceCover), lit(false))
          val deDotted = when(partDiv, regexp_replace(part, DeDot, ""))
            .otherwise(regexp_replace(part, DeDotFast, ""))
          // marker extraction: a single A/B/R/Z ahead of a non-letter
          val charRaw = when(partDiv, regexp_extract(deDotted, CharRegex, 1))
            .otherwise(regexp_extract(deDotted, CharRegexFast, 1))
          val charCol = when(coalesce(length(charRaw), lit(0)) === 1, charRaw).otherwise(lit(""))
          val cleaned = when(length(charCol) === 1,
            when(partDiv, regexp_replace(deDotted, CharRegex, ""))
              .otherwise(regexp_replace(deDotted, CharRegexFast, "")))
            .otherwise(deDotted)
          (s"${outName}_trim_${i + 1}", coalesce(cleaned, lit("")), charCol)
        }
        trims.flatMap { case (n, trim, info) => Seq(n -> trim, s"${n}_additional_information" -> info) } ++
          Seq(
            s"${outName}_qa" -> trims.foldLeft(kv("qa")) { case (qa, (_, trim, _)) =>
              qa || createQaCol(trim, "[^0-9]", "^-$|nan|None")
            },
            s"${outName}_data_source" -> lit(dataSource))
      })))
  }
}

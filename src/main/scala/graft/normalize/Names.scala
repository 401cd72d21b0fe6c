package graft.normalize

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Last/first-name normalization (SURVEY F3–F14; reference
  * `src/aroa_etl/attribute_processing/column_processing.py:48-342`).
  *
  * Each normalizer appends its derived columns (`<name>_cleaned_i`,
  * `<name>_qa`, `<name>_data_source`, …) to the input frame — the
  * reference's per-family derived-frame + index-concat becomes plain
  * same-row column expressions (no join, no shuffle). The number of
  * numbered output columns is data-dependent (two-pass, like unpack), so
  * each name family is a [[Family]]: [[Families.normalize]] pins every
  * family's kernel at once and reads every width in one aggregation, so
  * `Processing` pays one pin and one arity job for all its families.
  */
object Names {
  import Clean._
  import PyText._

  /** Length-cap QA (F10) on all `k` split parts but the last. */
  private def lenQa(parts: Column, qa0: Column, k: Int): Column =
    (0 until k - 1).map(i => coalesce(length(get(parts, lit(i))) > 49, lit(false)))
      .foldLeft(qa0)(_ || _)

  /** The last-name family over a pinned kernel value `kv` holding
    * `parts`/`birth` (`qa0` reads its pre-split QA). Everything after the
    * pre-split chain (F10 length-cap QA, F11 digit strip, F12/F14
    * positional post-processing) is shared verbatim by the fused path
    * and the column spec, so the fused-vs-spec differential
    * (NamesFusedSpec) isolates exactly the chain that changed.
    */
  private def lastNameFamily(
      kernel: Column, qa0: Column => Column, dataSource: String, outName: String,
      birthNameInput: Boolean, alias: Boolean, alternativeSpelling: Boolean): Family = {
    // reference naming modes (column_processing.py:180-222)
    val colName =
      if (birthNameInput) "birth_name"
      else if (alias) s"${outName}_alias"
      else outName
    def cleanedName(i: Int): String =
      if (alternativeSpelling) s"alternative_spellings_of_${colName}_cleaned_${i + 1}"
      else s"${colName}_cleaned_$i"
    val qaName =
      if (alternativeSpelling) s"alternative_spellings_of_${colName}_qa" else s"${colName}_qa"
    val emitBirth = !birthNameInput && !alternativeSpelling
    Family(kernel, kv => size(kv("parts")), { (kv, k) =>
      // digit strip (F11) and trim
      val cleaned = (0 until k).map(i =>
        cleanedName(i) -> pyStrip(regexp_replace(get(kv("parts"), lit(i)), "[0-9]", "")))
      val window = cleaned ++
        (if (emitBirth) Seq(s"${colName}_birth_name_extracted" -> pyStrip(kv("birth"))) else Nil)
      // F14: female last-name endings — positional cascade over the
      // columns at positions 1..4 (split cols then the extracted birth
      // name, exactly the reference's iloc[:, 1:5] window); each reads
      // its already-extended predecessor
      val cascaded = window.slice(1, 5).scanLeft(window.head) { case ((_, prev), (name, c)) =>
        name -> when(c.isin("Ova", "Ene", "Aite", "Ite", "Yte"), concat(prev, lower(c))).otherwise(c)
      }
      cascaded ++ window.drop(5) ++ Seq(
        qaName -> lenQa(kv("parts"), qa0(kv), k),
        s"${colName}_data_source" -> lit(dataSource))
    })
  }

  /** The `normalize_last_name` family of `input` (see [[normalizeLastName]]). */
  private[normalize] def lastName(
      input: Column,
      dataSource: String = "crowd_sourcing",
      outName: String = "last_name",
      birthNameInput: Boolean = false,
      alias: Boolean = false,
      alternativeSpelling: Boolean = false,
      flagNoblePrefix: Boolean = true): Family = {
    val kernel = udf((s: String) => NamesKernel.lastName(s, birthNameInput))
    // the noble flag joins the QA fold in COLUMN space because it is
    // 3-valued (NULL on a null chain)
    lastNameFamily(kernel(input.cast("string")),
      kv => kv("qab") || (if (flagNoblePrefix) kv("noble") else lit(false)),
      dataSource, outName, birthNameInput, alias, alternativeSpelling)
  }

  /** `normalize_last_name` (column_processing.py:48-227). Appends:
    * `{out}_cleaned_0..k`, `{out}_birth_name_extracted`, `{out}_qa`,
    * `{out}_data_source` (k = batch max split parts − 1, ≤ 4).
    *
    * r22: the pre-split chain executes through the fused scalar kernel
    * ([[NamesKernel.lastName]]) — the r20 dual exact/fast plan collapses
    * to one per-row gate; [[normalizeLastNameExpr]] retains the column
    * chain as the spec and NamesFusedSpec diffs the two.
    */
  def normalizeLastName(
      input: DataFrame,
      lastName: String,
      dataSource: String = "crowd_sourcing",
      outName: String = "last_name",
      birthNameInput: Boolean = false,
      alias: Boolean = false,
      alternativeSpelling: Boolean = false,
      flagNoblePrefix: Boolean = true): DataFrame =
    Families.normalize(input, Seq(this.lastName(col(lastName), dataSource, outName,
      birthNameInput, alias, alternativeSpelling, flagNoblePrefix)))

  /** The original column-expression chain — the fused kernel's SPEC
    * (see [[DatesKernel]]; the post-split logic is shared, so the
    * differential isolates the pre-split chain).
    */
  private[graft] def normalizeLastNameExpr(
      input: DataFrame,
      lastName: String,
      dataSource: String = "crowd_sourcing",
      outName: String = "last_name",
      birthNameInput: Boolean = false,
      alias: Boolean = false,
      alternativeSpelling: Boolean = false,
      flagNoblePrefix: Boolean = true): DataFrame = {
    // ONE divergence gate per row, on the RAW input (the cover is
    // case-closed and every chain insertion is ASCII, so no step can
    // turn a fast-path row divergent — Regexes.DivergenceCover scaladoc).
    // Both regex-set variants are built as LINEAR chains and branched at
    // a single point: gating per step would re-reference the accumulated
    // expression tree 3× per step (gate + two branches) and grow the
    // plan exponentially — measured as a 7× q21 regression before this
    // shape, within noise after it.
    val mayDiv = coalesce(col(lastName).rlike(Regexes.DivergenceCover), lit(false))

    def chain(exact: Boolean): (Column, Column, Column) = {
      val (acad, keyw, noble, birth, birthClean, nameSemi, letter) =
        if (exact)
          (Regexes.AcademicTitle, Regexes.KeyWords, Regexes.NobleName,
            Regexes.BirthName, Regexes.BirthNameClean,
            Regexes.NameSemicolonTransformation, Regexes.LetterSpacing)
        else
          (Regexes.AcademicTitleFast, Regexes.KeyWordsFast, Regexes.NobleNameFast,
            Regexes.BirthNameFast, Regexes.BirthNameCleanFast,
            Regexes.NameSemicolonTransformationFast, Regexes.LetterSpacingFast)

      var c = cleanCopyVariant(col(lastName), exact)
      // value kept (column_processing.py:60) — python lower semantics;
      // off the case-closed cover Spark's native lower() IS python's
      // lower (no İ/Σ/U14 present), so only the exact variant pays the
      // UDF (the fast path stays whole-stage-codegen'd end to end)
      c = if (exact) PyText.pyLowerUdf(c) else lower(c)
      c = removeNameSpacingWith(c, letter)
      c = regexp_replace(c, acad, "")
      c = regexp_replace(if (exact) PyText.pyLowerUdf(c) else lower(c), keyw, "")

      // noble prefix: extracted for QA, left in place (F6)
      val hasNoble = c.rlike(noble)

      // birth-name tail: extract then strip from the name (F7)
      val birthRaw = when(c.rlike(birth),
        regexp_replace(regexp_extract(c, birth, 1), birthClean, ""))
        .otherwise(lit(""))
      val birthName = pyTitleUdf(regexp_replace(birthRaw, birth, ""))
      if (!birthNameInput) c = regexp_replace(c, birth, "")

      c = regexp_replace(c, Regexes.StripSemicolon, "")
      c = regexp_replace(pyStrip(c), ";", " ")
      c = regexp_replace(pyStrip(c), nameSemi, ";")
      c = regexp_replace(pyStrip(c), ";{2,}", ";")
      (c, birthName, hasNoble)
    }
    val (cExact, birthExact, nobleExact) = chain(exact = true)
    val (cFast, birthFast, nobleFast) = chain(exact = false)
    val c = when(mayDiv, cExact).otherwise(cFast)
    val birthName = when(mayDiv, birthExact).otherwise(birthFast)
    val hasNoble = when(mayDiv, nobleExact).otherwise(nobleFast)
    val nobleQa = if (flagNoblePrefix) hasNoble else lit(false)

    var qa = createQaCol(c, Regexes.Qa, Regexes.QaNoEntry)
    if (!birthNameInput) qa = qa || birthName.rlike(Regexes.Qa)
    qa = qa || nobleQa

    // the three derived values are packed into ONE struct kernel: as
    // separate columns each would embed its own copy of the dual
    // exact/fast chain (~30 multi-KB regex instances serialized per
    // task instead of ~10)
    val parts = split(pyTitleUdf(c), ";", 5)
    Families.normalize(input, Seq(lastNameFamily(
      struct(parts.as("parts"), birthName.as("birth"), qa.as("qa0")), _("qa0"),
      dataSource, outName, birthNameInput, alias, alternativeSpelling)))
  }

  /** The first-name family over a pinned kernel value holding `parts`
    * (`qa0` reads its pre-split QA): F10 length-cap QA and F12 initial
    * dot, shared by the fused path and the column spec like
    * [[lastNameFamily]].
    */
  private def firstNameFamily(
      kernel: Column, qa0: Column => Column, dataSource: String, outName: String,
      alias: Boolean, alternativeSpelling: Boolean): Family = {
    val colName = if (alias) s"${outName}_alias" else outName
    def cleanedName(i: Int): String =
      if (alternativeSpelling) s"alternative_spellings_of_${colName}_cleaned_${i + 1}"
      else s"${colName}_cleaned_$i"
    val qaName =
      if (alternativeSpelling) s"alternative_spellings_of_${colName}_qa" else s"${colName}_qa"
    Family(kernel, kv => size(kv("parts")), { (kv, k) =>
      (0 until k).map { i =>
        val trimmed = pyStrip(get(kv("parts"), lit(i)))
        // single-character first name gets a dot: "A" -> "A." (F12)
        cleanedName(i) -> when(length(trimmed) === 1, concat(trimmed, lit("."))).otherwise(trimmed)
      } ++ Seq(
        qaName -> lenQa(kv("parts"), qa0(kv), k),
        s"${colName}_data_source" -> lit(dataSource))
    })
  }

  /** The `normalize_first_name` family of `input` (see [[normalizeFirstName]]). */
  private[normalize] def firstName(
      input: Column,
      dataSource: String = "crowd_sourcing",
      outName: String = "first_name",
      alias: Boolean = false,
      alternativeSpelling: Boolean = false): Family = {
    val kernel = udf((s: String) => NamesKernel.firstName(s))
    firstNameFamily(kernel(input.cast("string")), kv => kv("qab") || kv("noble"),
      dataSource, outName, alias, alternativeSpelling)
  }

  /** `normalize_first_name` (column_processing.py:232-342). Appends
    * `{out}_cleaned_0..k`, `{out}_qa`, `{out}_data_source`.
    *
    * r22: fused pre-split chain ([[NamesKernel.firstName]]);
    * [[normalizeFirstNameExpr]] retains the column spec.
    */
  def normalizeFirstName(
      input: DataFrame,
      firstName: String,
      dataSource: String = "crowd_sourcing",
      outName: String = "first_name",
      alias: Boolean = false,
      alternativeSpelling: Boolean = false): DataFrame =
    Families.normalize(input, Seq(this.firstName(col(firstName), dataSource, outName,
      alias, alternativeSpelling)))

  /** The original column-expression chain — the fused kernel's SPEC. */
  private[graft] def normalizeFirstNameExpr(
      input: DataFrame,
      firstName: String,
      dataSource: String = "crowd_sourcing",
      outName: String = "first_name",
      alias: Boolean = false,
      alternativeSpelling: Boolean = false): DataFrame = {
    // single-branch-point dual chain, gated on the raw input
    // (see normalizeLastName for the why)
    val mayDiv = coalesce(col(firstName).rlike(Regexes.DivergenceCover), lit(false))

    def chain(exact: Boolean): (Column, Column) = {
      val (acad, keyw, noble) =
        if (exact) (Regexes.AcademicTitle, Regexes.KeyWords, Regexes.NobleName)
        else (Regexes.AcademicTitleFast, Regexes.KeyWordsFast, Regexes.NobleNameFast)
      var c = cleanCopyVariant(col(firstName), exact)
      c = pyTitleUdf(c)
      c = regexp_replace(c, acad, "")
      c = regexp_replace(if (exact) PyText.pyLowerUdf(c) else lower(c), keyw, "")
      val hasNoble = c.rlike(noble)
      // noble prefix removed here; value kept (column_processing.py:264);
      // native lower == python lower off the cover (see normalizeLastName)
      c = regexp_replace(if (exact) PyText.pyLowerUdf(c) else lower(c), noble, "")
      c = regexp_replace(pyStrip(c), Regexes.SemicolonTransformation, ";")
      (c, hasNoble)
    }
    val (cExact, nobleExact) = chain(exact = true)
    val (cFast, nobleFast) = chain(exact = false)
    val c = when(mayDiv, cExact).otherwise(cFast)
    val hasNoble = when(mayDiv, nobleExact).otherwise(nobleFast)

    val qa = createQaCol(c, Regexes.Qa, Regexes.QaNoEntry) || hasNoble

    // struct-packed for the same reason as normalizeLastNameExpr
    val parts = split(pyTitleUdf(c), ";", 5)
    Families.normalize(input, Seq(firstNameFamily(
      struct(parts.as("parts"), qa.as("qa0")), _("qa0"),
      dataSource, outName, alias, alternativeSpelling)))
  }
}

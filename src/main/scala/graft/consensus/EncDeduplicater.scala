package graft.consensus

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StringType, StructField, StructType}
import graft.core.{Parallelism, Sentinels}
import graft.core.SessionHygiene.TrackedCheckpoint

/** Deduplication job configuration (reference `ENC_Deduplicater` builder
  * surface, `src/aroa_etl/enc/deduplication.py:8-296`). Column families map
  * to matcher presets: person/other → default repair chain, date → verbatim
  * vote with dash guards, strict → verbatim vote, fuzzy → medoid.
  */
final case class DedupSpec(
    idCol: String,
    personCols: Seq[String] = Nil,
    dateCols: Seq[String] = Nil,
    otherCols: Seq[String] = Nil,
    otherStrictCols: Seq[String] = Nil,
    fuzzyCols: Seq[String] = Nil,
    metadataCols: Seq[String] = Nil,
    qaOverrides: Map[String, String] = Map.empty) {
  /** Registration order drives the `ambiguous_columns` rendering
    * (reference `set_missing_col_matchers_to_default` order:
    * person, date, strict, other, fuzzy).
    */
  def matchedCols: Seq[String] =
    personCols ++ dateCols ++ otherStrictCols ++ otherCols ++ fuzzyCols

  def matcherFor(col: String): ColMatcher =
    if (personCols.contains(col)) Matchers.person()
    else if (dateCols.contains(col)) Matchers.date()
    else if (otherStrictCols.contains(col)) Matchers.strict()
    else if (fuzzyCols.contains(col)) Matchers.fuzzy()
    else Matchers.default()
}

/** N transcriptions of one document → one consensus row per document
  * (reference `ENC_Deduplicater.run`, `enc/deduplication.py:244-296`).
  *
  * Spark shape: one `groupBy(document_id).as[String, Row].mapGroups` pass
  * computes the per-column votes, the ambiguity bookkeeping AND the QA
  * propagation that the reference does via a join-back — one shuffle on
  * the document id instead of three frame passes. That shuffle is
  * [[Parallelism.staged]] at the session width: the vote is CPU-bound
  * while its input is a few MB, which AQE would otherwise coalesce into
  * one serial task. Grouping on the column, not a key function, lets the
  * vote reuse that exchange (`groupByKey`'s appended key would force a
  * second one). Groups are transcription counts (≤ ~10 rows), so
  * buffering a group is bounded regardless of table size; at 100 TB the
  * job scales with the number of documents per partition.
  * Raw rows are preserved with `deleted=true` and the consensus verdicts
  * (`is_ambiguous`, `ambiguous_columns`, `object_id`) joined back on the
  * id — the reference's index `.loc` copy-down re-expressed as an
  * equi-join.
  */
object EncDeduplicater {

  /** QA-column auto-discovery by suffix walk (reference
    * `check_for_qa_cols`, `deduplication.py:111-138`):
    * `first_name_cleaned_0` → `first_name_qa`.
    */
  def resolveQaMap(columns: Seq[String], spec: DedupSpec): Map[String, String] = {
    val qaCols = columns.filter(_.endsWith("_qa")).toSet
    val tail = java.util.regex.Pattern.compile("_[\\da-zA-Z]+$")
    spec.matchedCols.map { c =>
      spec.qaOverrides.get(c) match {
        case Some(q) => c -> q
        case None =>
          var colQa = c
          while (colQa.nonEmpty && !qaCols.contains(s"${colQa}_qa")) {
            val m = tail.matcher(colQa)
            colQa = if (m.find()) tail.matcher(colQa).replaceAll("") else ""
          }
          val resolved = s"${colQa}_qa"
          require(qaCols.contains(resolved), s"no QA column found for matched column $c")
          c -> resolved
      }
    }.toMap
  }

  /** C12 `combine_columns` (reference `Enc_Matcher.combine_columns`,
    * `enc/matching.py:476-481`): join several columns into one field
    * before matching, keeping only values passing the filter (default:
    * present; optionally a regex the value must contain).
    */
  def combineColumns(
      df: DataFrame, columns: Seq[String], newColName: String,
      sep: String = ", ", keepRegex: Option[String] = None): DataFrame = {
    val kept = filter(array(columns.map(col): _*), v => keepRegex match {
      case Some(re) => v.isNotNull && v.rlike(re)
      case None     => v.isNotNull
    })
    df.withColumn(newColName, array_join(kept, sep))
  }

  /** A9 matching statistics (reference `Enc_Matcher.stats`,
    * `enc/matching.py:604-643`): per matched column, how many documents
    * had entries / no entries / matched / stayed ambiguous / had too few
    * entries to vote. One aggregation over the raw rows joined with the
    * consensus verdicts.
    */
  def matchStats(input: DataFrame, spec: DedupSpec, result: DataFrame): DataFrame = {
    val spark = input.sparkSession
    import spark.implicits._
    // nothing matched = nothing to report (and agg(aggs.head, ...) below
    // would throw on an empty list rather than return the empty frame)
    if (spec.matchedCols.isEmpty)
      return Seq.empty[(String, Long, Long, Long, Long, Long)]
        .toDF("column", "with_entries", "without_entries", "matched", "ambiguous", "too_few_entries")
    val raw = input.select(col(spec.idCol).cast("string").as(spec.idCol) +:
      spec.matchedCols.map(c => col(c).cast("string").as(c)): _*)
    val countAggs = spec.matchedCols.map(c =>
      sum(when(Sentinels.isNotEmptyValue(col(c)), 1).otherwise(0)).as(s"__n_$c"))
    val entryCounts = raw.groupBy(col(spec.idCol)).agg(countAggs.head, countAggs.tail: _*)
    val consensus = result.filter(col("deleted") === false)
      .select(col(spec.idCol) +: spec.matchedCols.map(col): _*)
    val joined = consensus.join(entryCounts, spec.idCol)

    // ONE aggregation pass for every matched column (r22): the previous
    // shape ran one agg branch per column, each re-scanning the
    // consensus join — five aggregate columns per matched column in a
    // single agg produce the same numbers, and the per-column rows fall
    // out of an inline'd struct array (plan: |cols| joined-scans → 1).
    val aggExprs = spec.matchedCols.flatMap { c =>
      val n = col(s"__n_$c")
      val matchedCond = Sentinels.hasValue(col(c)) && col(c) =!= "?" && n > 0
      val isFuzzy = spec.fuzzyCols.contains(c)
      val tooFewExpr = sum(when(!matchedCond && n === 1, 1).otherwise(0))
      Seq(
        sum(when(n > 0, 1).otherwise(0)).as(s"__we_$c"),
        sum(when(n === 0, 1).otherwise(0)).as(s"__wo_$c"),
        sum(when(matchedCond, 1).otherwise(0)).as(s"__m_$c"),
        (sum(when(!matchedCond && n > 0, 1).otherwise(0)) -
          (if (isFuzzy) lit(0) else tooFewExpr)).as(s"__a_$c"),
        (if (isFuzzy) lit(0).cast("long") else tooFewExpr).as(s"__tf_$c"))
    }
    val statStructs = spec.matchedCols.map { c =>
      struct(lit(c).as("column"), col(s"__we_$c").as("with_entries"),
        col(s"__wo_$c").as("without_entries"), col(s"__m_$c").as("matched"),
        col(s"__a_$c").as("ambiguous"), col(s"__tf_$c").as("too_few_entries"))
    }
    joined.agg(aggExprs.head, aggExprs.tail: _*)
      .select(explode(array(statStructs: _*)).as("__s"))
      .select(col("__s.column"), col("__s.with_entries"), col("__s.without_entries"),
        col("__s.matched"), col("__s.ambiguous"), col("__s.too_few_entries"))
  }

  def run(input: DataFrame, spec: DedupSpec): DataFrame = {
    val qaMap = resolveQaMap(input.columns.toSeq, spec)
    val qaColsOrdered: Seq[String] = spec.matchedCols.map(qaMap).distinct

    // --- preprocess (deduplication.py:67-84) -----------------------------
    // Reference coerces the whole frame to strings before matching
    // (row_id stays a long — it is engine plumbing, not data).
    var df = input.select(input.columns.map(c =>
      if (c == "row_id") col(c).cast("long").as(c)
      else col(c).cast("string").as(c)).toIndexedSeq: _*)
    // Raw-row has_qa: any QA cell carries a non-empty string. (The
    // reference's `.any` over string cells is truthiness — even "False"
    // counts — reproduced deliberately.)
    df = df.withColumn("has_qa",
      qaColsOrdered.map(c => col(c).isNotNull && col(c) =!= "").reduce(_ || _))
    val strCols = df.schema.fields.filter(_.dataType == StringType).map(_.name).toIndexedSeq
    df = df.na.fill("-", strCols)
    // empty strings count as missing too: the reference's stage boundary
    // is a CSV file where empty cells arrive as NaN, so its fillna('-')
    // covers them — an in-memory chain hands us "" instead.
    // One select for the whole per-column rewrite, NOT a withColumn per
    // column: every withColumn is a full analyzer pass over the plan, so
    // a loop is O(cols²) driver time (it was the bulk of q17's wall).
    val strSet = strCols.toSet
    val yearRe = java.util.regex.Pattern.compile("[yY][eE][aA][rR]")
    val dateRepl: Map[String, String] = spec.dateCols
      .map(c => c -> (if (yearRe.matcher(c).find()) "0000" else "00")).toMap
    df = df.select(df.columns.map { c =>
      val base =
        if (strSet.contains(c) && c != spec.idCol)
          when(col(c) === "", lit("-")).otherwise(col(c))
        else col(c)
      dateRepl.get(c) match {
        case Some(repl) => when(base === "-", lit(repl)).otherwise(base).as(c)
        case None       => base.as(c)
      }
    }.toIndexedSeq: _*)
    val hadRowId = df.columns.contains("row_id")
    if (!hadRowId) df = df.withColumn("row_id", monotonically_increasing_id())

    // --- consensus pass --------------------------------------------------
    val cols = df.columns
    val idx = cols.zipWithIndex.toMap
    val ridIdx = idx("row_id")
    val matchedArr: Array[(String, Int, ColMatcher, Int)] = // (col, colIdx, matcher, qaIdx)
      spec.matchedCols.map(c => (c, idx(c), spec.matcherFor(c), idx(qaMap(c)))).toArray
    val qaArr: Array[(String, Int)] = qaColsOrdered.map(c => (c, idx(c))).toArray
    val metaArr: Array[(String, Int)] =
      spec.metadataCols.filter(c => idx.contains(c)).map(c => (c, idx(c))).toArray
    val assignUuid = spec.personCols.nonEmpty

    val outSchema = StructType(
      Array(StructField(spec.idCol, StringType)) ++
        spec.matchedCols.map(StructField(_, StringType)) ++
        qaColsOrdered.map(StructField(_, BooleanType)) ++
        Array(
          StructField("has_qa", BooleanType),
          StructField("is_ambiguous", BooleanType),
          StructField("ambiguous_columns", StringType),
          StructField("object_id", StringType)) ++
        metaArr.map { case (c, _) => StructField(c, StringType) })

    val consensus = Parallelism.staged(df, col(spec.idCol))
      .groupBy(col(spec.idCol)).as[String, Row](Encoders.STRING, Encoders.row(df.schema))
      .mapGroups { (id, it) =>
        // Transcription order is load-bearing (tie-to-last vote, metadata
        // first-row copy) — restore it from the explicit row id.
        val rows = it.toArray.sortBy(_.getLong(ridIdx))
        def colVals(ci: Int): Vector[String] =
          rows.iterator.map(r => if (r.isNullAt(ci)) "-" else r.getString(ci)).toVector
        def qaBool(ci: Int): Array[Boolean] =
          rows.map(r => !r.isNullAt(ci) && r.getString(ci).equalsIgnoreCase("true"))

        // vote per column
        val results: Array[(String, Option[String], Boolean)] = matchedArr.map {
          case (c, ci, matcher, _) =>
            val values = colVals(ci)
            val result = matcher(values)
            val hasEntries = values.exists(v => !Sentinels.isEmptyValueStr(v))
            val matched = result.exists(v => !Sentinels.isEmptyValueStr(v) && v != "?") || !hasEntries
            (c, result, matched)
        }
        val ambiguous = results.collect { case (c, _, false) => c }
        val finalVals: Map[String, String] = results.map { case (c, res, matched) =>
          c -> (if (!matched) "?" else res.getOrElse(""))
        }.toMap

        // QA propagation (deduplication.py:94-109): consensus cell keeps a
        // QA flag iff a raw row matching the consensus value was flagged.
        val qaOut: Map[String, Boolean] = qaArr.map { case (qc, qci) =>
          val flags = qaBool(qci)
          val anyMatchFlagged = matchedArr.exists { case (c, ci, _, qi) =>
            qi == qci && {
              val raw = colVals(ci)
              val fv = finalVals(c)
              raw.indices.exists(i => raw(i) == fv && flags(i))
            }
          }
          qc -> anyMatchFlagged
        }.toMap

        val values =
          Array[Any](id) ++
            spec.matchedCols.map(finalVals) ++
            qaColsOrdered.map(qaOut) ++
            Array[Any](
              qaOut.values.exists(identity),
              ambiguous.nonEmpty,
              ambiguous.mkString(", "),
              if (assignUuid) java.util.UUID.randomUUID().toString else null) ++
            metaArr.map { case (_, ci) =>
              if (rows.head.isNullAt(ci)) null else rows.head.getString(ci)
            }
        Row.fromSeq(values.toIndexedSeq)
      }(Encoders.row(outSchema))
      // PINNED: this frame feeds TWO plan branches (the verdicts join
      // into raw, and the union below), and its mapGroups is
      // non-deterministic twice over — randomUUID object_ids, and a
      // synthesized monotonically_increasing_id row_id driving the
      // vote order. Unpinned, each branch re-executes mapGroups and a
      // document's raw rows carry a DIFFERENT object_id than its own
      // consensus row (observed live; spec-pinned). One row per
      // document, so the materialization is the reduced frame — the
      // mergeClusterings precedent; released at job boundaries via
      // SessionHygiene.releaseLeftovers.
      .trackedCheckpoint()

    // --- raw rows keep their data, gain the doc-level verdicts ----------
    val verdicts = consensus
      .select(col(spec.idCol).as("__vid"), col("is_ambiguous"),
        col("ambiguous_columns"), col("object_id"))
    val qaSet = qaArr.map(_._1).toSet
    var raw = df
      .withColumn("deleted", lit(true))
      .join(verdicts, col(spec.idCol) === col("__vid"), "left")
      .drop("__vid")
    raw = raw.select(raw.columns.map { c => // one analyzer pass, not per-col
      if (qaSet.contains(c)) (lower(col(c)) === "true").as(c) else col(c)
    }.toIndexedSeq: _*)
    if (!hadRowId) raw = raw.drop("row_id")

    val unioned = raw.unionByName(consensus.withColumn("deleted", lit(false)),
      allowMissingColumns = true)

    // Final cleanup (deduplication.py:295): fill empty + strip the float
    // artifact suffix ".0" on every string column (single select — a
    // withColumn fold is quadratic analyzer work).
    val outStrSet = unioned.schema.fields
      .filter(_.dataType == StringType).map(_.name).toSet
    unioned.select(unioned.columns.map { c =>
      if (outStrSet.contains(c))
        regexp_replace(coalesce(col(c), lit("")), "\\.0$", "").as(c)
      else col(c)
    }.toIndexedSeq: _*)
  }
}

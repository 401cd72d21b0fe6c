package graft.normalize

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Whole-frame normalization pipeline (SURVEY P4/P5 + family processors;
  * reference `src/aroa_etl/enc/processing.py`).
  *
  * Column roles are inferred from names (driver-side schema inspection —
  * plain Scala over `df.columns`, no data pass), then each family's
  * processor appends its derived `_cleaned_i`/`_qa`/`_data_source`
  * columns. The reference's eight derived frames + index concat become
  * one lazy plan of same-row column expressions. Every name and
  * prisoner-number family, whose widths depend on the data, goes through
  * ONE [[Families.normalize]] call: one kernel projection, one pin, one
  * arity aggregation and one select for all of them.
  */
object Processing {

  /** Word chunks of a column name (reference uses
    * `re.findall("[a-zA-Z]*", col)` membership).
    */
  private def words(col: String): Set[String] =
    "[a-zA-Z]+".r.findAllIn(col).toSet

  /** P4: drop numbered columns above the split limit (processing.py:239-242). */
  def applySplitLimit(df: DataFrame, splitLimit: Int = 5): DataFrame = {
    val keep = df.columns.filter { c =>
      "\\d+$".r.findFirstIn(c) match {
        case Some(n) => n.toInt <= splitLimit
        case None    => true
      }
    }
    df.select(keep.map(col).toIndexedSeq: _*)
  }

  /** Numbered column families clustered by basename
    * (`utils.py:88-96` `split_cols_by_basename`), sorted within a family.
    */
  def splitColsByBasename(cols: Seq[String]): Seq[Seq[String]] = {
    val base = (c: String) => c.replaceAll("_\\d+$", "")
    cols.groupBy(base).toSeq.sortBy(_._1).map(_._2.sorted)
  }

  /** Date-column triples clustered by stripping `_day|_month|_year`
    * (`utils.py:78-86`).
    */
  def splitDmyDateCols(cols: Seq[String]): Seq[Seq[String]] = {
    val base = (c: String) => c.replaceAll("(_day|_month|_year)(_\\d+)?$", "$2")
    cols.groupBy(base).toSeq.sortBy(_._1).map(_._2.sorted)
  }

  /** `recombine_col_split` (`utils.py:98-105`): a numbered family joined
    * back into one space-joined value.
    */
  def recombine(family: Seq[String]): Column =
    concat_ws(" ", family.map(c => Clean.pyStrip(coalesce(col(c), lit("")))): _*)

  final case class ColumnRoles(
      lastName: Seq[String], firstName: Seq[String], prisonerNumber: Seq[String],
      date: Seq[String], rawDate: Seq[String], location: Seq[String],
      nationality: Seq[String], other: Seq[String])

  /** P5 `automatic_column_type_detection` (processing.py:181-235):
    * regex-on-name role classification, in priority order.
    */
  def detectColumnRoles(columns: Seq[String], skipColumns: Set[String]): ColumnRoles = {
    var remaining = columns.toVector
    def take(pred: String => Boolean): Seq[String] = {
      val (hit, rest) = remaining.partition(pred)
      remaining = rest
      hit
    }
    val lastName = take(c => words(c).contains("last") && words(c).contains("name"))
    val firstName = take(c => words(c).contains("first") && words(c).contains("name"))
    val prisoner = take(c => words(c).contains("prisoner") && words(c).contains("number"))
    val date = take(c => { val w = words(c); w("day") || w("month") || w("year") })
    val rawDate = take(c => words(c).contains("date"))
    val location = take(c => words(c).contains("place"))
    val nationality = take(c => words(c).contains("nation"))
    val other = remaining.filterNot(skipColumns)
    ColumnRoles(lastName, firstName, prisoner, date, rawDate, location, nationality, other)
  }

  /** A1 `entry_number_from_list` (aux_functions.py:415-420): running
    * number within each group in row order.
    */
  def entryNumber(df: DataFrame, groupCols: Seq[String], orderCol: String = "row_id"): DataFrame =
    df.withColumn("entry_number",
      org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(groupCols.map(col): _*).orderBy(col(orderCol))))

  /** P1/P2 `general_cleaning_and_filtering` (aux_functions.py:424-441):
    * drop crowd-sourcing metadata columns and failover rows.
    */
  val MetadataDropList: Seq[String] = Seq(
    "user_name", "user_id", "user_ip", "workflow_id", "workflow_name",
    "metadata_started_at", "metadata_finished_at", "metadata_user_language",
    "metadata_already_seen", "metadata_finished_workflow", "metadata_retired",
    "metadata_selected_at", "metadata_selection_state",
    "metadata_user_has_finished_workflow", "created_at", "gold_standard", "expert")

  def generalCleaningAndFiltering(df: DataFrame): DataFrame = {
    val filtered =
      if (df.columns.contains("metadata_selection_state"))
        df.filter(coalesce(col("metadata_selection_state"), lit("")) =!= "failover_fallback")
      else df
    filtered.drop(MetadataDropList: _*)
  }

  /** `default_processor` (column_processing.py:19-46): copy + unclear-QA. */
  def defaultProcessor(df: DataFrame, column: String,
      dataSource: String = "crowd_sourcing"): DataFrame = {
    val c = coalesce(col(column), lit(""))
    df.withColumn(s"${column}_cleaned", c)
      .withColumn(s"${column}_qa",
        Clean.createQaCol(col(column), "[uU]nclear|[uU]nklar", Regexes.QaNoEntry))
      .withColumn(s"${column}_data_source", lit(dataSource))
  }

  /** `process_unpacked_data` (processing.py:244-312): the full default
    * normalization over an unpacked frame.
    */
  def processUnpackedData(
      input: DataFrame,
      skipColumns: Set[String] = Set.empty,
      dataSource: String = "crowd_sourcing",
      splitLimit: Int = 5,
      timespan: (Int, Int) = (1850, 1950)): DataFrame = {

    // fillna('') + astype(str)
    val str0 = input.select(input.columns.map(c =>
      if (c == "row_id") col(c) else coalesce(col(c).cast("string"), lit("")).as(c)).toIndexedSeq: _*)
    var df = applySplitLimit(str0, splitLimit)

    val roles = detectColumnRoles(
      df.columns.filterNot(_ == "row_id").toSeq, skipColumns + "row_id")

    // every name and prisoner-number family in one pin and one arity job
    def families(cols: Seq[String], family: (Column, String) => Family) =
      splitColsByBasename(cols).map(f => family(recombine(f), f.head.replaceAll("_\\d+$", "")))
    df = Families.normalize(df,
      families(roles.lastName, Names.lastName(_, dataSource, _)) ++
        families(roles.firstName, Names.firstName(_, dataSource, _)) ++
        families(roles.prisonerNumber, PrisonerNumbers.family(_, dataSource, _)))
    for (triple <- splitDmyDateCols(roles.date)) {
      require(triple.size == 3, s"date family must be day/month/year: $triple")
      val day = triple.find(_.contains("_day")).get
      val month = triple.find(_.contains("_month")).get
      val year = triple.find(_.contains("_year")).get
      // "imprisonment_year" -> "imprisonment"; "birthdate_year_2" -> "birthdate_2"
      val out = year.replaceAll("(_year)(_\\d+)?$", "$2")
      df = Dates.cleanDate(df, day, month, year,
        outName = out, dataSource = dataSource, timespan = timespan, dropdown = false)
    }
    for (c <- roles.rawDate.sorted)
      df = Dates.normaliseDate(df, c, c, dataSource, timespan)
    for (c <- (roles.location ++ roles.nationality ++ roles.other).sorted)
      df = Processing.defaultProcessor(df, c, dataSource)
    df
  }
}

package graft.unpack

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StringType}
import graft.core.SessionHygiene.TrackedCheckpoint

/** JSON repeat-group unpacking (SURVEY X1/X3/X4; reference
  * `src/aroa_etl/enc/unpacking.py`).
  *
  * Crowd-sourcing transcriptions arrive as one JSON blob per row:
  * `{"first_name_repeat":[{"first_name":"Dr.Alice"}], ...}`. Each repeat
  * group is flattened to `field → [values]` and exploded into numbered
  * columns (`first_name_0, first_name_1, …`) sized by the batch-wide
  * maximum repeat count.
  *
  * Spark shape: the schema is data-dependent, so the plan is two-pass like
  * the reference — pass 1 is a small *aggregation* per group (field order +
  * max arity; no row data reaches the driver), pass 2 is a single static
  * `select`. The flatten itself is one scalar UDF per repeat group
  * producing an ordered `[(field, values)]` array; field order is carried
  * in the array (Spark maps do not preserve order).
  */
object Unpack {

  /** Python-`str()` rendering of a JSON scalar: null → "None" (the
    * reference flattens with `str(value).strip()`, so nulls become the
    * literal string "None" — preserved because downstream NA filtering
    * depends on it).
    */
  // PyText.pyStrip, not String.trim (r20): python strip keeps \x00-\x08
  // and strips NBSP/NEL; trim does the opposite on both counts
  private def pyStr(v: String): String =
    if (v == null) "None" else graft.normalize.PyText.pyStripStr(v)

  /** Regex replace skipping bracketed spans, nesting-aware (SURVEY F22;
    * reference `utils.py:42-57` `re_sub_exclude_parenthesis`).
    */
  // pattern cache: reSubExcludeParenthesis runs once per VALUE inside
  // the flatten UDF, and Pattern.compile per call is pure repeated work
  // on that hot path; the handful of distinct split regexes are
  // memoized per executor (bounded: callers pass literal config strings)
  private val patternCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()
  // Regexes.pyS (r20): callers pass the reference's python patterns
  // (default split_re = "[\|;,\s]"), whose \s includes U+001C-001F
  private def compiled(pattern: String): java.util.regex.Pattern =
    patternCache.computeIfAbsent(pattern,
      p => java.util.regex.Pattern.compile(graft.normalize.Regexes.pyS(p),
        java.util.regex.Pattern.UNICODE_CHARACTER_CLASS))

  def reSubExcludeParenthesis(s: String, pattern: String, repl: String): String = {
    val p = compiled(pattern)
    val sb = new java.lang.StringBuilder(s.length)
    var depth = 0
    var i = 0
    var segStart = 0
    def flush(end: Int): Unit = {
      val seg = s.substring(segStart, end)
      if (depth == 0) sb.append(p.matcher(seg).replaceAll(repl)) else sb.append(seg)
    }
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '(' || c == '[') { flush(i); sb.append(c); depth += 1; segStart = i + 1 }
      else if (c == ')' || c == ']') { flush(i); sb.append(c); depth -= 1; segStart = i + 1 }
      i += 1
    }
    flush(s.length)
    sb.toString
  }

  /** X3 `additional_splits`: split mis-separated values
    * ("Alice, Blice" → ["Alice","Blice"]), respecting parentheses.
    * Consecutive separators yield empty entries (reference behavior).
    */
  private val pipeSplit = java.util.regex.Pattern.compile("\\|")

  def additionalSplits(values: Seq[String], splitRe: String): Seq[String] =
    values.flatMap(v => pipeSplit.split(
      reSubExcludeParenthesis(graft.normalize.PyText.pyStripStr(v), splitRe, "|"), -1).toSeq)

  /** `filter_na` (unpacking.py:46-56): dedupe preserving order; if more
    * than one value remains, drop empties; never return an empty list.
    * Only applied to single-field repeat groups.
    */
  def filterNa(values: Seq[String]): Seq[String] = {
    val deduped = values.distinct
    val kept = if (deduped.size > 1) deduped.filter(_ != "") else deduped
    if (kept.isEmpty) Seq("") else kept
  }

  /** `flatten_repeat_cell` (unpacking.py:35-44): list of `{field: value}`
    * dicts → ordered `(field, [stringified values])` pairs.
    */
  def flattenRepeatCell(entries: Seq[Map[String, String]]): Seq[(String, Seq[String])] = {
    val order = collection.mutable.ArrayBuffer.empty[String]
    val out = collection.mutable.HashMap.empty[String, List[String]]
    for (dict <- entries; (k, v) <- dict) {
      if (!out.contains(k)) order += k
      out(k) = out.getOrElse(k, Nil) :+ pyStr(v)
    }
    order.map(k => k -> out(k).toSeq).toSeq
  }

  private val parsedType =
    MapType(StringType, ArrayType(MapType(StringType, StringType)))

  /** Unpack every `*_repeat` group of `jsonColumn` into numbered columns.
    *
    * @param additionalSplitsOn predicate over inner field names that get
    *   the extra `splitRe` splitting (X3)
    */
  def unpack(
      input: DataFrame,
      jsonColumn: String,
      additionalSplitsOn: String => Boolean = _ => false,
      splitRe: String = "[\\|;,\\s]"): DataFrame = {
    val hadRowId = input.columns.contains("row_id")
    // layout-determinism: the synthesized row_id drives first-occurrence
    // key order below across two evaluations (the discovery collect and
    // the output plan); monotonically_increasing_id is a pure function
    // of partition layout, stable over this deterministic scan lineage —
    // see RowId.withRowId's precondition note for the shuffled case
    val df0 = if (hadRowId) input else input.withColumn("row_id", monotonically_increasing_id())
    val parsed = df0.withColumn("__parsed", from_json(col(jsonColumn), parsedType))

    // Scalar flatten UDF: repeat entries -> ordered (field, values) pairs,
    // with the reference's additional-splits + single-field NA filtering.
    val splitsOn = additionalSplitsOn
    val re = splitRe
    val flattenUdf = udf { (entries: Seq[Map[String, String]]) =>
      if (entries == null) Seq.empty[(String, Seq[String])]
      else {
        val flat = flattenRepeatCell(entries)
        val split = flat.map { case (k, vs) =>
          k -> (if (splitsOn(k)) additionalSplits(vs, re) else vs)
        }
        if (split.size == 1) split.map { case (k, vs) => k -> filterNa(vs) }
        else split
      }
    }

    // ---- pass 1a: repeat-group key order (first-occurrence, X4) --------
    val keyOrder: Seq[String] = parsed
      .select(col("row_id"), posexplode(map_keys(col("__parsed"))).as(Seq("pos", "key")))
      .groupBy("key").agg(min(struct(col("row_id"), col("pos"))).as("first"))
      // a handful of keys: sorted on the driver, no range-sampling jobs;
      // exact, since one row's map holds one key per position
      .collect()
      .sortBy { r => val f = r.getStruct(1); (f.getLong(0), f.getInt(1)) }
      .map(_.getString(0)).toSeq
    require(keyOrder.forall(_.endsWith("_repeat")),
      s"unpacking of non-'_repeat' groups is not implemented: ${keyOrder.filterNot(_.endsWith("_repeat"))}")

    // localCheckpoint: pass 1b runs one aggregation PER repeat group and
    // pass 2 is the final select — without materialization each of those
    // G+1 consumers re-parses the JSON and re-runs the flatten UDFs over
    // the whole corpus. One materialized pass serves them all.
    val flat = parsed.select(
      df0.columns.filterNot(_ == jsonColumn).map(col).toSeq ++
        keyOrder.map(k => flattenUdf(col("__parsed")(k)).as(s"__flat_$k")): _*)
      .trackedCheckpoint()

    // ---- pass 1b: inner field order + max arity per group --------------
    // ONE aggregation job for every group (r21): the per-group loop ran
    // one collect per repeat group — G driver round-trips of ~50 ms each
    // dominated unpack's wall time on small fixtures. All groups explode
    // into one (group, field) aggregation; the per-group first-occurrence
    // order is re-derived driver-side from the same (row_id, pos) key.
    final case class Field(group: String, name: String, maxLen: Int)
    val fieldRows = if (keyOrder.isEmpty) Array.empty[org.apache.spark.sql.Row] else flat
      .select(col("row_id"),
        explode(map_from_arrays(
          array(keyOrder.map(lit): _*),
          array(keyOrder.map(k => col(s"__flat_$k")): _*))).as(Seq("grp", "fvs")))
      .select(col("row_id"), col("grp"), posexplode(col("fvs")).as(Seq("pos", "fv")))
      .groupBy(col("grp"), col("fv._1").as("fname"))
      .agg(min(struct(col("row_id"), col("pos"))).as("first"),
        max(size(col("fv._2"))).as("maxLen"))
      .collect()
    val fields: Seq[Field] = keyOrder.flatMap { k =>
      fieldRows.filter(_.getString(0) == k)
        .sortBy { r => val f = r.getStruct(2); (f.getLong(0), f.getInt(1)) }
        .map(r => Field(k, r.getString(1), r.getInt(3)))
    }
    val byGroup: Map[String, Seq[Field]] = fields.groupBy(_.group)

    // ---- pass 2: static projection -------------------------------------
    val generated: Seq[(String, Column)] = keyOrder.flatMap { k =>
      val groupFields = byGroup.getOrElse(k, Nil)
      // split to numbered columns if ANY field of the group repeats
      val groupMax = groupFields.map(_.maxLen).foldLeft(0)(math.max)
      val groupMap = map_from_entries(col(s"__flat_$k"))
      groupFields.flatMap { f =>
        // try_element_at / get: null (not an ANSI error) on absent key or
        // short array — the reference pads missing repeats with NaN.
        val vals = try_element_at(groupMap, lit(f.name))
        if (groupMax > 1)
          (0 until f.maxLen).map(i => s"${f.name}_$i" -> get(vals, lit(i)))
        else
          Seq(f.name -> get(vals, lit(0)))
      }
    }

    val existing = input.columns.filterNot(_ == jsonColumn).toSet
    val collisions = generated.map(_._1).filter(existing)
    require(collisions.isEmpty, s"unpacking of $jsonColumn would override columns: $collisions")
    // generated-vs-GENERATED too: two repeat groups sharing an inner
    // field name would emit duplicate output columns (pandas tolerates
    // that; Spark's select succeeds but every downstream col() is an
    // ambiguous-reference AnalysisException far from the cause) — fail
    // loudly here with the colliding names, like the input case above
    val dupGenerated = generated.map(_._1)
      .groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    require(dupGenerated.isEmpty,
      s"unpacking of $jsonColumn generates duplicate columns (repeat groups " +
        s"share inner field names): ${dupGenerated.toSeq.sorted}")

    val keep = input.columns.filterNot(c => c == jsonColumn || (c == "row_id" && !hadRowId))
    flat.select(keep.map(col).toSeq ++ generated.map { case (n, c) => c.as(n) }: _*)
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.consensus.{DedupSpec, EncDeduplicater}
import graft.core.SessionHygiene.TrackedCheckpoint
import graft.sources.{Csv, Fixtures}
import graft.unpack.Unpack

/** Reference-pipeline operators surfaced as driver-visible queries
  * (SURVEY X1/X3, C1–C13, S1).
  *
  * q16/q17 run on the reference's own 8-row fixture corpus (bundled as a
  * classpath resource) rather than the TPC-H-ish tables: the operators'
  * semantics are defined by that corpus. q16's flatten is DuckDB-
  * replayable (`read_csv` + `json_extract_string` over the same
  * materialized fixture) and carries a full hash oracle; q17's consensus
  * repair presets are not SQL-expressible, so its oracle replays a
  * precomputed golden of the reference's own output (see [[q17Sql]]) —
  * value-level assertions also live in `EncDeduplicaterSpec`, and the
  * SQL-expressible strict/date matcher half is oracle-backed in q41.
  */
object Pipeline {

  /** JAVA's \s character class spelled out for the DuckDB oracle SQL —
    * RE2's \s lacks \x0b (VT), so a literal '\s' in an oracle regex
    * diverges from the Spark kernel's Java semantics on VT text (the
    * r19 hostile_diff find). ONE definition; oracle SQL references it
    * via the <WS> placeholder so a retyped literal can never silently
    * drop a member of the class.
    */
  private val JavaWs = """[ \t\n\x0b\f\r]"""
  private def withJavaWs(sql: String): String = sql.replace("<WS>", JavaWs)


  /** X1/X3/S1: CSV scan → JSON repeat-group unpack → numbered columns. */
  private def q16(spark: SparkSession, dir: String): DataFrame = {
    val raw = Csv.readStrings(spark, Fixtures.path("raw_enc_data.csv"), indexCol = true)
    Unpack.unpack(raw, "json_data",
      additionalSplitsOn = c => c.contains("category"), splitRe = "[\\|;,\\s]")
      .orderBy("row_id")
  }

  /** DuckDB replay of q16 over the SAME materialized fixture file Spark
    * scans ([[Fixtures.path]] is deterministic): `read_csv` + per-index
    * `json_extract_string`. Semantics replayed exactly: python-`str`
    * trim, present-but-JSON-null → the literal string 'None', absent
    * repeat index → real NULL (the `json_array_length > i` guard), plain
    * column names for groups whose batch-wide max arity is 1, numbered
    * fan-out otherwise (category ×6, place_of_birth ×2, first_name ×2 on
    * this corpus). The single-field NA filter and `additional_splits`
    * are identity on this fixture by construction (no duplicate values
    * inside a cell, no separator characters in category cells) — those
    * paths stay value-covered by UnpackSpec's goldens and q39's
    * corpus-scale oracle.
    */
  private lazy val q16Sql = {
    val p = Fixtures.path("raw_enc_data.csv")
    def one(group: String, field: String): String =
      s"coalesce(trim(json_extract_string(json_data, '$$.${group}[0].$field')), 'None') AS $field"
    def numbered(group: String, field: String, n: Int): String =
      (0 until n).map { i =>
        s"CASE WHEN json_array_length(json_data, '$$.$group') > $i THEN " +
          s"coalesce(trim(json_extract_string(json_data, '$$.$group[$i].$field')), 'None') END AS ${field}_$i"
      }.mkString(",\n  ")
    s"""SELECT CAST(row_id AS BIGINT) AS row_id, workflow_id, document_id,
       |  ${numbered("prisoner_category_repeat", "prisoner_category", 6)},
       |  ${one("prisoner_number_repeat", "prisoner_number")},
       |  ${one("imprisonment_repeat", "imprisonment_year")},
       |  ${one("imprisonment_repeat", "imprisonment_month")},
       |  ${one("imprisonment_repeat", "imprisonment_day")},
       |  ${one("imprisonment_repeat", "imprisonment_camp")},
       |  ${numbered("place_of_birth_repeat", "place_of_birth", 2)},
       |  ${one("birthdate_repeat", "birthdate_year")},
       |  ${one("birthdate_repeat", "birthdate_month")},
       |  ${one("birthdate_repeat", "birthdate_day")},
       |  ${numbered("first_name_repeat", "first_name", 2)},
       |  ${one("last_name_repeat", "last_name")}
       |FROM read_csv('$p', header=true, all_varchar=true)
       |ORDER BY row_id""".stripMargin
  }

  /** C1–C13: per-document consensus deduplication over the fixture.
    * object_id (uuid4 per document) is dropped to keep the dump
    * deterministic across runs.
    */
  private def q17(spark: SparkSession, dir: String): DataFrame = {
    val df = Csv.readStrings(spark, Fixtures.path("normalised_enc_data.csv"), indexCol = true)
    EncDeduplicater.run(df, DedupSpec(
      idCol = "document_id",
      personCols = Seq("first_name_cleaned_0", "first_name_cleaned_1", "last_name_cleaned_0"),
      dateCols = Seq(
        "birthdate_day_cleaned", "birthdate_month_cleaned", "birthdate_year_cleaned",
        "imprisonment_day_cleaned", "imprisonment_month_cleaned", "imprisonment_year_cleaned"),
      otherCols = Seq(
        "imprisonment_camp_cleaned", "place_of_birth_0_cleaned", "place_of_birth_1_cleaned"),
      otherStrictCols = (0 to 5).map(i => s"prisoner_category_${i}_cleaned"),
      metadataCols = Seq("object_id", "workflow_id")))
      .drop("object_id")
      .orderBy(col("deleted"), col("document_id"), col("row_id"))
  }

  /** q17's oracle: a GOLDEN-REPLAY check. The C6–C9 consensus repairs
    * (iterative cross-entry umlaut/abbreviation/case/syllable repair,
    * `enc/matching.py:92-292`) are not SQL-expressible, so the oracle
    * does not recompute them — it replays the REFERENCE'S OWN OUTPUT:
    * `tools/gen_ground_truth.py` runs the actual pandas
    * `ENC_Deduplicater` over `normalised_enc_data.csv` with q17's exact
    * job spec and dumps the result as the `dedup_ground_truth.csv`
    * fixture (object_id dropped on both sides — uuid4 per run). The SQL
    * just reshapes that CSV to q17's schema: every empty cell back to ''
    * (DuckDB reads empty as NULL; the Spark output has no null strings),
    * the 16 converted QA/flag columns to real booleans (while
    * prisoner_number_qa stays a STRING — the reference's
    * convert_qa_columns_to_bool only converts columns registered in the
    * qa_map, and the prisoner trim's QA column is not), and row_id to
    * q17's double-with-null-consensus-rows shape. Any drift in the
    * Spark dedup — vote, repair, flag, or metadata propagation — breaks
    * the hash.
    */
  private lazy val q17Sql = {
    val p = Fixtures.path("dedup_ground_truth.csv")
    val boolCols = Seq("last_name_qa", "first_name_qa", "imprisonment_qa",
      "birthdate_qa", "place_of_birth_0_qa", "place_of_birth_1_qa",
      "imprisonment_camp_qa", "has_qa", "deleted", "is_ambiguous") ++
      (0 to 5).map(i => s"prisoner_category_${i}_qa")
    val repl = (boolCols.map(c => s"""("$c"='True') AS "$c"""") :+
      "CASE WHEN deleted='True' THEN CAST(row_id AS DOUBLE) END AS row_id")
      .mkString(",\n  ")
    s"""SELECT * REPLACE ($repl)
       |FROM (SELECT COALESCE(COLUMNS(*), '')
       |      FROM read_csv('$p', header=true, all_varchar=true))
       |ORDER BY deleted, document_id, row_id""".stripMargin
  }

  /** C1–C11 at table scale WITH an exact oracle: three synthetic
    * transcriptions per document (two verbatim, one with a stray token
    * appended) — the containment-majority vote provably returns the
    * verbatim text for every document, so the oracle is the input
    * projection itself. Exercises the consensus aggregation over
    * thousands of groups inside one shuffle.
    */
  private def q18c(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val base = graft.core.Tables.documents(spark, dir)
      .filter(col("doc_id") < 2500)
      .select(col("doc_id"),
        // ALPHANUMERIC fold FIRST (construction choice, not cleaning):
        // the consensus matcher canonicalizes its values — an
        // NFKD→ASCII fold (U+3000 decomposes to a space, emoji/CJK
        // tokens vanish) plus an empty-winner escape that turns an
        // all-punctuation winner into None — golden-domain semantics
        // (q17/ColMatcherSpec) no SQL oracle can replay (both are
        // hostile_diff r19 catches). Restricting the field to ASCII
        // alphanumerics + whitespace up front keeps this query's vote
        // in the SQL-expressible verbatim domain at every corpus. The
        // whitespace members are spelled out (not \s) so the kept set
        // is identical under Java and RE2 — VT is Java-\s only. Then
        // both-edge strip + Java \s split, the r19 canonical
        // tokenization (a bare trim is space-only, so edge tabs/VT
        // minted a leading empty token; q18cSql mirrors the class).
        concat_ws(" ",
          slice(split(regexp_replace(
            regexp_replace(col("text"), "[^a-zA-Z0-9 \\t\\n\\x0b\\f\\r]", ""),
            "^\\s+|\\s+$", ""), "\\s+"), 1, 3)).as("field"))
    val transcripts = base.select(col("doc_id"), col("field"), lit(0L).as("row_id"))
      .unionByName(base.select(col("doc_id"),
        concat(col("field"), lit(" xtok")).as("field"), lit(1L).as("row_id")))
      .unionByName(base.select(col("doc_id"), col("field"), lit(2L).as("row_id")))
    val schema = StructType(Seq(
      StructField("doc_id", StringType), StructField("consensus", StringType)))
    val voted = transcripts
      .select(col("doc_id").cast("string").as("doc_id"), col("field"), col("row_id"))
      .groupByKey(r => r.getString(0))(Encoders.STRING)
      .mapGroups { (id, it) =>
        val values = it.toArray.sortBy(_.getLong(2)).map(_.getString(1)).toVector
        Row(id, graft.consensus.Matchers.default()(values).orNull)
      }(Encoders.row(schema))
    voted.select(col("doc_id").cast("long").as("doc_id"), col("consensus"))
      // checkpoint before orderBy (r22): the range sampler re-executes
      // the groupByKey/mapGroups vote pass otherwise (q59's note)
      .trackedCheckpoint()
      .orderBy(col("doc_id"))
  }
  private val q18cSql =
    // <WS> = JAVA's \s spelled out (RE2's \s lacks \x0b) and a
    // both-edge regexp strip instead of DuckDB trim (unicode-aware: it
    // strips NBSP/U+3000 the JVM keeps). Tokenless/null documents get
    // the '-' NA sentinel: their field is '' so the vote sees
    // ['', ' xtok', ''], exclude-empty leaves one informative entry,
    // and the reference's too-few path emits '-' (hostile_diff r19
    // catch — the 'provably verbatim' construction claim holds only
    // for documents that HAVE tokens).
    withJavaWs("""WITH folded AS (
      |  SELECT doc_id,
      |    regexp_replace(text, '[^a-zA-Z0-9 \t\n\x0b\f\r]', '', 'g') AS t
      |  FROM documents WHERE doc_id < 2500)
      |SELECT doc_id,
      |  CASE WHEN t IS NULL OR NOT regexp_matches(t, '[^ \t\n\x0b\f\r]')
      |       THEN '-'
      |       ELSE array_to_string(
      |         string_split_regex(
      |           regexp_replace(t, '^<WS>+|<WS>+$', '', 'g'),
      |           '<WS>+')[1:3], ' ') END AS consensus
      |FROM folded
      |ORDER BY doc_id""".stripMargin)

  /** X1 at corpus scale WITH a json_extract oracle: repeat-group JSON is
    * synthesized deterministically from each document's tokens (1–3
    * `name_repeat` entries, index-suffixed so values are unique and the
    * single-field NA filter is the identity; one two-field `note_repeat`
    * entry keeps a multi-field group in play), then unpacked through the
    * real two-pass [[Unpack.unpack]]. The oracle rebuilds the same JSON
    * with DuckDB `json_object` and replays extraction with
    * `json_extract_string` — numbered-column fan-out (batch max arity 3),
    * missing-repeat null padding, and the plain-name path for
    * non-repeating groups are all hash-checked. q16 stays as the
    * reference-fixture parity golden.
    */
  private def q39(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.core.Tables.documents(spark, dir)
    val toks = split(col("text"), " ")
    val k = (pmod(col("doc_id"), lit(3)) + 1).cast("int")
    val names = transform(slice(toks, lit(1), k),
      (t, i) => struct(concat(t, lit("-"), i).as("name")))
    val notes = array(struct(col("lang").as("lang"), col("source").as("source")))
    val payload = to_json(struct(names.as("name_repeat"), notes.as("note_repeat")))
    Unpack.unpack(d.select(col("doc_id"), payload.as("payload")), "payload")
      .orderBy(col("doc_id"))
  }
  private val q39Sql =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS t, doc_id % 3 + 1 AS k,
      |         lang, source
      |  FROM documents
      |), payload AS (
      |  SELECT doc_id,
      |    json_object(
      |      'name_repeat', list_transform(range(k), i -> json_object('name', t[i+1] || '-' || i)),
      |      'note_repeat', [json_object('lang', lang, 'source', source)]
      |    ) AS j
      |  FROM d
      |)
      |SELECT doc_id,
      |  json_extract_string(j, '$.name_repeat[0].name') AS name_0,
      |  json_extract_string(j, '$.name_repeat[1].name') AS name_1,
      |  json_extract_string(j, '$.name_repeat[2].name') AS name_2,
      |  json_extract_string(j, '$.note_repeat[0].lang') AS lang,
      |  json_extract_string(j, '$.note_repeat[0].source') AS source
      |FROM payload
      |ORDER BY doc_id""".stripMargin

  /** C1/C3/C4 with the STRICT and DATE matcher presets oracle-backed at
    * table scale (q17's fixture keeps the C6–C9 repair presets golden;
    * this query makes the SQL-expressible half of the consensus job
    * hash-checked). Four transcriptions shapes per order, keyed on
    * `o_orderkey % 4`, each making the containment vote's outcome
    * PROVABLE:
    *   - 0: two verbatim copies + a disjoint third → the copy wins;
    *   - 1: strict sees ["", "Unklar", id] → exclude-empty leaves < 2
    *        informative entries → "-"; date sees two all-dash entries →
    *        the first break condition fires → "-";
    *   - 2: all-distinct entries → no token has 2 supporters → no
    *        consensus (NULL);
    *   - 3: strict sees a 2-2 tie → resolved to the LAST entry
    *        (numpy-stable-sort semantics); date sees a dash-prefixed
    *        modal value → the second break condition fires → "-".
    * Containment == equality by construction: ids are fixed-width
    * zero-padded digits (a length-12 digit string is a substring of
    * another only when equal) and filler tokens are letters, which can
    * never support digit tokens. The pad width must exceed the digit
    * count of max(o_orderkey) + 2 or lpad TRUNCATES and distinct keys
    * collide; 12 digits holds to sf ≈ 166,000 (TPC-H orderkeys reach
    * 6M × sf) — far past the 100 TB ≈ sf 100,000 design point, where
    * 8 digits already broke at sf ≈ 17. The oracle derives each case
    * straight from `orders`.
    */
  private def q41(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val o = graft.core.Tables.orders(spark, dir)
    val d = date_format(col("o_orderdate"), "yyyy-MM-dd")
    def id(off: Int) = lpad((col("o_orderkey") + off).cast("string"), 12, "0")
    val m = pmod(col("o_orderkey"), lit(4))
    val idArr = when(m === 0, array(id(0), id(0), id(1)))
      .when(m === 1, array(lit(""), lit("Unklar"), id(0)))
      .when(m === 2, array(id(0), id(1), id(2)))
      .otherwise(array(id(0), id(0), id(1), id(1)))
    val dateArr = when(m === 0, array(d, d, lit("x")))
      .when(m === 1, array(lit("-"), lit("- "), d))
      .when(m === 2, array(d, lit("p"), lit("q")))
      .otherwise(array(concat(lit("-"), d), concat(lit("-"), d), concat(lit("-"), d), d))
    val transcripts = o.select(col("o_orderkey").as("doc_id"),
      posexplode(arrays_zip(idArr.as("i"), dateArr.as("dt"))).as(Seq("row_id", "e")))
      .select(col("doc_id"), col("row_id"), col("e.i").as("id_val"), col("e.dt").as("date_val"))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("consensus_id", StringType), StructField("consensus_date", StringType)))
    val strictM = graft.consensus.Matchers.strict()
    val dateM = graft.consensus.Matchers.date()
    transcripts
      .groupByKey(_.getLong(0))(Encoders.scalaLong)
      .mapGroups { (id, it) =>
        val rows = it.toArray.sortBy(_.getInt(1))
        Row(id, strictM(rows.map(_.getString(2)).toVector).orNull,
          dateM(rows.map(_.getString(3)).toVector).orNull)
      }(Encoders.row(schema))
      // checkpoint before orderBy (r22): the range sampler re-executes
      // the mapGroups vote pass otherwise (q59's note)
      .trackedCheckpoint()
      .orderBy(col("doc_id"))
  }
  private val q41Sql =
    """SELECT o_orderkey AS doc_id,
      |  CASE o_orderkey % 4
      |    WHEN 0 THEN lpad(CAST(o_orderkey AS VARCHAR), 12, '0')
      |    WHEN 1 THEN '-'
      |    WHEN 2 THEN NULL
      |    WHEN 3 THEN lpad(CAST(o_orderkey + 1 AS VARCHAR), 12, '0') END AS consensus_id,
      |  CASE o_orderkey % 4
      |    WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
      |    WHEN 1 THEN '-'
      |    WHEN 2 THEN NULL
      |    WHEN 3 THEN '-' END AS consensus_date
      |FROM orders
      |ORDER BY doc_id""".stripMargin

  /** X2 at corpus scale WITH a json_extract oracle (the Zooniverse twin
    * of q39): annotation-export JSON is synthesized deterministically
    * from each document and parsed through the real schema-dispatch
    * parser ([[graft.unpack.Zooniverse]]). Three shapes keyed on
    * `doc_id % 3` so every dispatch path is on the hot path:
    *   - 0: a top-level simple task, plus a parent task exercising all
    *        three sub-task schemas in sequence — a simple sub-task, an
    *        empty task that must CONSUME its following value task, and a
    *        dropdown/value pair (including the reference's un-schema'd
    *        `label` read) — plus a trailing null task;
    *   - 1: null annotations (the reference's NaN row → empty dict →
    *        all-null outputs);
    *   - 2: simple task only → the parent-derived columns are null
    *        (missing-key lookups on the parsed map).
    * The oracle rebuilds the identical JSON with DuckDB
    * `json_array`/`json_object` and replays the flatten positionally
    * with `json_extract_string` — if the parser mislabels a pair,
    * fails to consume the empty task's value, or reads `select_label`
    * where the reference reads `label`, the hash breaks. Malformed-
    * export failure modes stay spec-asserted (AuxOperatorsSpec).
    */
  private def q43(spark: SparkSession, dir: String): DataFrame = {
    import graft.unpack.Zooniverse
    val d = graft.core.Tables.documents(spark, dir)
    // to_json silently DROPS null struct fields, so a null lang/source/
    // text would emit a simple task without 'value' (a malformed export
    // the parser rightly rejects) while the oracle's json_object keeps
    // 'value': null — coalesce to a sentinel on BOTH sides instead
    val lang0 = coalesce(col("lang"), lit("(null)"))
    val source0 = coalesce(col("source"), lit("(null)"))
    val tok = coalesce(element_at(split(col("text"), " "), 1), lit("(null)"))
    val simple = to_json(struct(lit("T0").as("task"),
      lit("Language").as("task_label"), lang0.as("value")))
    val subSimple = to_json(struct(lit("Source").as("task_label"), source0.as("value")))
    val dropdownValue = to_json(struct(tok.as("value")))
    val parent = concat(
      lit("""{"task":"T1","value":["""),
      subSimple,
      lit(""",{"value":[{"select_label":"none"}]},{"value":"discard"},"""),
      lit("""{"value":[{"label":"Camp","select_label":"Camp"}]},"""),
      dropdownValue,
      lit("]}"))
    val m = pmod(col("doc_id"), lit(3))
    val ann = when(m === 1, lit(null).cast("string"))
      .when(m === 2, concat(lit("["), simple, lit("]")))
      .otherwise(concat(lit("["), simple, lit(","), parent, lit(",null]")))
    Zooniverse.withParsedAnnotations(
        d.select(col("doc_id"), ann.as("annotations")), "annotations")
      .select(col("doc_id"),
        element_at(col("annotations_map"), "Language").as("language"),
        element_at(col("annotations_map"), "T1: Source").as("source"),
        element_at(col("annotations_map"), "T1: Camp").as("camp"))
      .orderBy(col("doc_id"))
  }
  private val q43Sql =
    """WITH d AS (
      |  SELECT doc_id,
      |         coalesce(lang, '(null)') AS lang,
      |         coalesce(source, '(null)') AS source,
      |         coalesce(string_split(text, ' ')[1], '(null)') AS tok,
      |         doc_id % 3 AS m
      |  FROM documents
      |), payload AS (
      |  SELECT doc_id, m,
      |    CASE WHEN m = 1 THEN NULL
      |         WHEN m = 2 THEN json_array(
      |           json_object('task', 'T0', 'task_label', 'Language', 'value', lang))
      |         ELSE json_array(
      |           json_object('task', 'T0', 'task_label', 'Language', 'value', lang),
      |           json_object('task', 'T1', 'value', json_array(
      |             json_object('task_label', 'Source', 'value', source),
      |             json_object('value', json_array(json_object('select_label', 'none'))),
      |             json_object('value', 'discard'),
      |             json_object('value', json_array(
      |               json_object('label', 'Camp', 'select_label', 'Camp'))),
      |             json_object('value', tok))),
      |           NULL)
      |    END AS j
      |  FROM d
      |)
      |SELECT doc_id,
      |  json_extract_string(j, '$[0].value') AS language,
      |  json_extract_string(j, '$[1].value[0].value') AS source,
      |  json_extract_string(j, '$[1].value[4].value') AS camp
      |FROM payload
      |ORDER BY doc_id""".stripMargin

  /** A9 `Enc_Matcher.stats` + A10 has_qa oracle-backed at table scale
    * (both pass-G only). Transcription groups of three rows per document
    * (`o_orderkey / 3`), two matched columns whose per-document class is
    * `doc % 4` and `(doc+1) % 4` respectively — the two stats rows carry
    * DIFFERENT counts from the same corpus:
    *   - class 0: three identical values -> a consensus (matched);
    *   - class 1: three distinct single-token values -> no majority ->
    *     ambiguous (n > 1 keeps it out of too_few);
    *   - class 2: one value + two `-` sentinels -> exclude-empty
    *     short-circuits and the single informative entry counts as
    *     too_few_entries, not ambiguous;
    *   - class 3: all `-` -> without_entries.
    * The tail document may hold fewer than three rows, so the oracle
    * derives each document's row count and applies the SAME class
    * semantics (a one-row class-0/1 document is too_few — its lone
    * entry can never vote), rather than assuming full groups.
    */
  private def q63(spark: SparkSession, dir: String): DataFrame = {
    val o = graft.core.Tables.orders(spark, dir)
    val k = col("o_orderkey")
    val doc = floor(k / 3).cast("long")
    def valueFor(cls: org.apache.spark.sql.Column, tag: String) =
      when(cls === 0, concat(lit(tag), doc.cast("string")))
        .when(cls === 1, element_at(
          array(lit("aa"), lit("bb"), lit("cc")), (pmod(k, lit(3)) + 1).cast("int")))
        .when(cls === 2,
          when(pmod(k, lit(3)) === 0, concat(lit("x"), doc.cast("string")))
            .otherwise(lit("-")))
        .otherwise(lit("-"))
    val input = o.select(
        doc.cast("string").as("doc_id"), k.as("row_id"),
        valueFor(pmod(doc, lit(4)), "v").as("field_a"),
        valueFor(pmod(doc + 1, lit(4)), "w").as("field_b"),
        lit("false").as("field_a_qa"), lit("false").as("field_b_qa"))
    val spec = DedupSpec(idCol = "doc_id",
      otherStrictCols = Seq("field_a", "field_b"))
    val result = EncDeduplicater.run(input, spec)
    EncDeduplicater.matchStats(input, spec, result)
      // NOT checkpointed before orderBy (r22 A/B: +0.16 s with it — the
      // 2-row stats frame re-samples cheaply; eager materialization
      // serializes the agg branches instead)
      .orderBy(col("column"))
  }
  private val q63Sql =
    // Assumption-free class-2 handling (r19, the r18 verdict's ask):
    // a class-2 document is informative only if its k % 3 == 0 member
    // actually EXISTS (`has_info`), derived per document instead of
    // assumed — on a contiguous keyspace has_info is always 1 and the
    // counts are unchanged, but a regenerated corpus with key gaps can
    // no longer diverge (an all-sentinel class-2 document is
    // without_entries, exactly as the engine scores it).
    // The final counters are CAST to BIGINT: DuckDB types bare
    // sum(CASE...) as HUGEINT, which pandas renders float64 (3750.0)
    // against Spark's int64 (3750) — the registry-wide convention
    // every other oracle already follows (r19 verdict root cause).
    """WITH docs AS (
      |  SELECT o_orderkey // 3 AS doc, count(*) AS r,
      |    max(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END) AS has_info
      |  FROM orders GROUP BY 1),
      |c AS (
      |  SELECT doc, r, has_info, doc % 4 AS ca, (doc + 1) % 4 AS cb FROM docs),
      |stats AS (
      |  SELECT 'field_a' AS col_name,
      |    sum(CASE WHEN ca IN (0,1) OR (ca = 2 AND has_info = 1) THEN 1 ELSE 0 END) AS with_entries,
      |    sum(CASE WHEN ca = 3 OR (ca = 2 AND has_info = 0) THEN 1 ELSE 0 END) AS without_entries,
      |    sum(CASE WHEN ca = 0 AND r >= 2 THEN 1 ELSE 0 END) AS matched,
      |    sum(CASE WHEN ca = 1 AND r >= 2 THEN 1 ELSE 0 END) AS ambiguous,
      |    sum(CASE WHEN (ca IN (0,1) AND r = 1) OR (ca = 2 AND has_info = 1) THEN 1 ELSE 0 END) AS too_few_entries
      |  FROM c
      |  UNION ALL
      |  SELECT 'field_b',
      |    sum(CASE WHEN cb IN (0,1) OR (cb = 2 AND has_info = 1) THEN 1 ELSE 0 END),
      |    sum(CASE WHEN cb = 3 OR (cb = 2 AND has_info = 0) THEN 1 ELSE 0 END),
      |    sum(CASE WHEN cb = 0 AND r >= 2 THEN 1 ELSE 0 END),
      |    sum(CASE WHEN cb = 1 AND r >= 2 THEN 1 ELSE 0 END),
      |    sum(CASE WHEN (cb IN (0,1) AND r = 1) OR (cb = 2 AND has_info = 1) THEN 1 ELSE 0 END)
      |  FROM c)
      |SELECT col_name AS "column",
      |       CAST(with_entries AS BIGINT) AS with_entries,
      |       CAST(without_entries AS BIGINT) AS without_entries,
      |       CAST(matched AS BIGINT) AS matched,
      |       CAST(ambiguous AS BIGINT) AS ambiguous,
      |       CAST(too_few_entries AS BIGINT) AS too_few_entries
      |FROM stats
      |ORDER BY col_name""".stripMargin

  val defs: Seq[Q] = Seq(
    Q("q16_unpack_repeat_groups", q16, Some(q16Sql)),
    Q("q17_consensus_dedup", q17, Some(q17Sql)),
    Q("q33_consensus_vote_scale", q18c, Some(q18cSql)),
    Q("q39_json_unpack_scale", q39, Some(q39Sql)),
    Q("q41_consensus_strict_date", q41, Some(q41Sql)),
    Q("q43_zooniverse_unpack", q43, Some(q43Sql)),
    Q("q63_match_stats", q63, Some(q63Sql)))
}

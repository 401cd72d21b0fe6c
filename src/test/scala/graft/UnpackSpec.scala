package graft

import graft.sources.{Csv, Fixtures}
import graft.unpack.Unpack

/** Golden port of the reference's unpacking stage test
  * (`tests/enc/unpacking_test.py:9-20`) over `testing_data/raw_enc_data.csv`.
  */
class UnpackSpec extends SparkSpec {

  private lazy val unpacked = {
    val raw = Csv.readStrings(spark, Fixtures.path("raw_enc_data.csv"), indexCol = true)
    Unpack.unpack(raw, "json_data",
      additionalSplitsOn = c => c.contains("category"), splitRe = "[\\|;,\\s]")
  }.cache()

  test("unpacked column list matches the reference exactly (21 columns)") {
    assert(unpacked.columns.filterNot(_ == "row_id").toSeq === Seq(
      "workflow_id", "document_id", "prisoner_category_0", "prisoner_category_1",
      "prisoner_category_2", "prisoner_category_3", "prisoner_category_4",
      "prisoner_category_5", "prisoner_number", "imprisonment_year",
      "imprisonment_month", "imprisonment_day", "imprisonment_camp",
      "place_of_birth_0", "place_of_birth_1", "birthdate_year",
      "birthdate_month", "birthdate_day", "first_name_0", "first_name_1",
      "last_name"))
  }

  test("first_name_0 values match (multi-name cells stay unsplit)") {
    val fn = unpacked.orderBy("row_id").select("first_name_0").collect().map(_.getString(0))
    assert(fn.toSeq === Seq(
      "Dr.Alice", "Dr. Alice", "Alice", "Bob1 Bob2", "Bob1", "Bob1", "Bob1", "Bob1"))
  }

  test("JSON nulls become the literal 'None' (python str) in multi-field groups") {
    val rows = unpacked.orderBy("row_id")
      .select("imprisonment_year", "prisoner_category_0", "last_name").collect()
    assert(rows(1).getString(0) === "None") // null year in doc 1 row 1
    assert(rows(1).getString(1) === "None") // single-field group keeps lone 'None'
    assert(rows(5).getString(2) === "None") // null last name
  }

  test("repeat groups pad with null beyond each row's arity") {
    val r0 = unpacked.orderBy("row_id").collect()(0)
    assert(r0.getAs[String]("prisoner_category_4") === "6")
    assert(r0.getAs[String]("prisoner_category_5") === null) // row 0 has 5 of max 6
    assert(r0.getAs[String]("place_of_birth_1") === null)
  }

  test("singleton groups unwrap to plain column names") {
    val r0 = unpacked.orderBy("row_id").collect()(0)
    assert(r0.getAs[String]("prisoner_number") === "111")
    assert(r0.getAs[String]("imprisonment_camp") === "Unklar")
  }

  test("repeat groups are ordered by first occurrence: row first, then position in the row") {
    val s = spark
    import s.implicits._
    // z_repeat sits at position 0 of row 1, y_repeat at position 1 of
    // row 0: row order decides, so y's columns come before z's
    val raw = Seq(
      (1L, """{"z_repeat": [{"c": "3"}]}"""),
      (0L, """{"x_repeat": [{"a": "1"}], "y_repeat": [{"b": "2"}]}""")
    ).toDF("row_id", "json_data")
    assert(Unpack.unpack(raw, "json_data").columns.toSeq === Seq("row_id", "a", "b", "c"))
  }

  test("X3 additional splits separate mis-joined values outside parentheses") {
    assert(Unpack.additionalSplits(Seq("Alice, Blice", "Clice"), "[\\|;,\\s]") ===
      Seq("Alice", "", "Blice", "Clice"))
    assert(Unpack.reSubExcludeParenthesis("a,b (c,d) e", ",", "|") === "a|b (c,d) e")
  }

  test("filter_na dedupes and drops empties only when alternatives exist") {
    assert(Unpack.filterNa(Seq("1", "1", "", "2")) === Seq("1", "2"))
    assert(Unpack.filterNa(Seq("", "")) === Seq(""))
    assert(Unpack.filterNa(Seq("None")) === Seq("None"))
  }

  test("X1 unpack terminates on mutated/truncated JSON: parse-or-Exception, never an Error") {
    // same discipline as the media/XLSX/Zooniverse fuzz. The JSON decode
    // itself is Spark's from_json (malformed blob -> null group, the
    // flatten UDF handles null), so the end-to-end contract under
    // mutation is: the whole unpack either completes or fails with an
    // Exception (e.g. the non-'_repeat' group guard's require), and it
    // always terminates. Mutations are BATCHED into one unpack call per
    // slice — the per-row exposure at 100 TB is exactly "one hostile
    // blob among many", and one bad row must not hang the job.
    val base =
      """{"first_name_repeat":[{"first_name":"Dr.Alice"},{"first_name":"Bob, Carl"}],""" +
        """"category_repeat":[{"category":"a|b"},{"category":null}],""" +
        """"last_name_repeat":[{"last_name":"(Mu, ller)"}]}"""
    val rnd = new scala.util.Random(909L)
    val mutated = (1 to 400).map { _ =>
      val chars = base.toCharArray
      for (_ <- 0 to rnd.nextInt(4)) chars(rnd.nextInt(chars.length)) = rnd.nextPrintableChar()
      new String(chars)
    } ++ (0 until base.length by 7).map(base.take)
    val session = spark
    import session.implicits._
    mutated.grouped(120).foreach { batch =>
      try {
        Unpack.unpack(batch.toDF("json_data"), "json_data",
          additionalSplitsOn = _.contains("category")).count()
        ()
      } catch { case _: Exception => () }
    }
  }

  test("X1/X3/F22 scalar kernels terminate on hostile values: no Error ever escapes") {
    // the kernels run inside per-row UDFs where a StackOverflowError or
    // runaway regex would kill the executor — fuzz them JVM-local, where
    // Error propagation is observable (Spark would wrap it)
    def attempt(body: => Any): Unit =
      try { body; () }
      catch {
        case _: Exception => ()
        case e: Error => fail(s"kernel bomb escaped as ${e.getClass.getName}")
      }
    val rnd = new scala.util.Random(910L)
    for (_ <- 1 to 800) {
      val s = new String(Array.fill(rnd.nextInt(40))(rnd.nextPrintableChar()))
      attempt(Unpack.reSubExcludeParenthesis(s, "[\\|;,\\s]", "|"))
      attempt(Unpack.additionalSplits(Seq(s, s.reverse), "[\\|;,\\s]"))
      attempt(Unpack.filterNa(Seq(s, "", s)))
    }
    // deep unbalanced bracket nesting: the walk is iterative, must not
    // recurse, and unmatched closers must not corrupt the segment scan
    attempt(Unpack.reSubExcludeParenthesis("(" * 100000, ",", "|"))
    attempt(Unpack.reSubExcludeParenthesis(")" * 100000 + "a,b", ",", "|"))
    // a 5000-dict repeat cell flattens without stack or quadratic blowup
    attempt(Unpack.flattenRepeatCell(Seq.fill(5000)(Map("k" -> null))))
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.linkage.PersonMatching
import graft.linkage.PersonMatching.MatchConfig

/** Blocked fuzzy similarity join (J5/A7/E9/W1): semantics + plan shape. */
class PersonMatchingSpec extends SparkSpec {
  private val session = SparkSpec.spark
  import session.implicits._

  private def persons = Seq(
    // id, gname, lname, dob, pob, prisoner
    (1L, "hans", "muler", "19430312", "berlin", "111"),
    (2L, "hans", "muler", "19430312", "berlin", "112"),   // near-dup of 1
    (3L, "hans peter", "schmidt", "19200101", "hamburg", "200"),
    // NB same length band: "ana" (len 3, band 0) would be blocked away
    // from "anna" (len 4, band 1) — faithful to the reference's buckets
    (4L, "anna", "novak", "19350607", "prag", "300"),
    (5L, "anne", "novak", "19350607", "prag", "301"),     // near-dup of 4
    (6L, "karl", "vagner", "19101111", "vien", "400"))
    .toDF("id", "strGName_processed", "strLName_processed", "strDoB_processed",
      "strPoB_processed", "prisoner_number")

  test("self-match: every source's top hit is itself with score 100") {
    val src = persons.withColumnRenamed("id", "srcID")
    val trg = persons.withColumnRenamed("id", "trgID")
    val m = PersonMatching.personMatching(src, trg, MatchConfig(topN = 1, minScore = 80))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.get(2))).toMap
    for (id <- 1L to 6L) {
      val (score, hit) = m(id)
      assert(hit === id, s"top-1 of $id should be itself")
      assert(math.abs(score - 100.0) < 1e-9)
    }
  }

  test("topN=1 works with STRING target ids and tie-breaks on the smallest, like the window path") {
    // the best-match aggregation once tie-broke via negate(trgID) — an
    // implicit cast to double that nulls out non-numeric ids (arbitrary
    // tie winner; an error under ANSI). Two identical targets under
    // string ids: the winner must be the lexicographically smallest id,
    // exactly what the topN>=2 window (score desc, trgID asc) yields.
    val src = persons.filter(col("id") === 1L).withColumnRenamed("id", "srcID")
    val trg = persons.filter(col("id").isin(1L, 2L))
      .withColumn("id", concat(lit("P-"), col("id"))) // "P-1", "P-2"
      .withColumn("strDoB_processed", lit("19430312"))
      .withColumn("prisoner_number", lit("111"))
      .withColumn("strGName_processed", lit("hans"))
      .withColumn("strLName_processed", lit("muler"))
      .withColumn("strPoB_processed", lit("berlin"))
      .withColumnRenamed("id", "trgID")
    val best = PersonMatching.personMatching(src, trg,
      MatchConfig(topN = 1, minScore = 80)).collect()
    assert(best.length === 1)
    assert(best.head.getString(2) === "P-1",
      s"equal-score tie must go to the smallest trgID: ${best.toSeq}")
    // and the window path agrees on the same data
    val win = PersonMatching.personMatching(src, trg,
      MatchConfig(topN = 2, minScore = 80)).orderBy(desc("score"), col("trgID"))
      .collect()
    assert(win.head.getString(2) === "P-1")
  }

  test("near-duplicates match above cutoff; distinct persons do not") {
    val src = persons.withColumnRenamed("id", "srcID")
    val trg = persons.withColumnRenamed("id", "trgID")
    val m = PersonMatching.personMatching(src, trg, MatchConfig(topN = 10, minScore = 80))
      .filter(col("score") =!= -1 && col("srcID") =!= col("trgID"))
      .collect().map(r => (r.getLong(0), r.getAs[Long]("trgID"))).toSet
    assert(m.contains((1L, 2L)) && m.contains((2L, 1L)), "hans muler near-dups")
    assert(m.contains((4L, 5L)) && m.contains((5L, 4L)), "anna/ana novak near-dups")
    assert(!m.exists { case (a, b) => Set(a, b) == Set(3L, 6L) }, "schmidt vs vagner")
  }

  test("unmatched sources carry the (-1, null) sentinel") {
    val src = Seq((99L, "zz", "qq", "19000101", "x", "1"))
      .toDF("srcID", "strGName_processed", "strLName_processed", "strDoB_processed",
        "strPoB_processed", "prisoner_number")
    val trg = persons.withColumnRenamed("id", "trgID")
    val rows = PersonMatching.personMatching(src, trg).collect()
    assert(rows.length === 1)
    assert(rows.head.getDouble(1) === -1.0)
    assert(rows.head.isNullAt(2))
  }

  test("plan is a blocked equi-join: no cartesian product, no NLJ") {
    val src = persons.withColumnRenamed("id", "srcID")
    val trg = persons.withColumnRenamed("id", "trgID")
    val plan = PersonMatching.personMatching(src, trg)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "must not plan a cartesian product")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "must not plan a nested-loop join")
  }

  test("column scorer is bit-identical to Similarity.personSimilarity") {
    val rnd = new scala.util.Random(7)
    def rs(): String = {
      val pool = Seq("hans", "anna maria", "muler", "19430312", "19430000", "berlin",
        "", "00000000", "-1", "x", "schvarz kovac", "1943")
      pool(rnd.nextInt(pool.size))
    }
    val rows = (1 to 200).map(i =>
      (i.toLong, rs(), rs(), rs(), rs(), rs(), rs(), rs(), rs(), rs(), rs()))
    val df = rows.toDF("id", "sg", "sl", "sd", "sp", "sn", "tg", "tl", "td", "tp", "tn")
    import graft.linkage.PersonMatching
    val scoreCol = PersonMatching.personSimilarityColumn(
      PersonMatching.PersonCols(col("sg"), col("sl"), col("sd"), col("sp"), col("sn")),
      PersonMatching.PersonCols(col("tg"), col("tl"), col("td"), col("tp"), col("tn")),
      useDate = true, usePrisoner = true, usePob = true,
      nameOnly = false, simpleDate = false)
    val got = df.select(col("id"), scoreCol.as("s")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((id, sg, sl, sd, sp, sn, tg, tl, td, tp, tn) <- rows) {
      def n(s: String) = if (s.isEmpty) null else s
      val expected = graft.similarity.Similarity.personSimilarity(
        graft.similarity.Similarity.Person(n(sg), n(sl), n(sd), n(sp), n(sn)),
        graft.similarity.Similarity.Person(n(tg), n(tl), n(td), n(tp), n(tn)))
      assert(got(id) === expected, s"row $id: ($sg,$sl,$sd,$sp,$sn) vs ($tg,$tl,$td,$tp,$tn)")
    }
  }

  test("hot-bucket cap bounds candidates; survivors keep exact pairs; drops counted") {
    // degenerate corpus: 40 persons, ALL the same name — one composite
    // bucket with 40 members/side, 1600 candidate pairs uncapped
    val degenerate = (1L to 40L).map(i =>
      (i, "anna", "nowak", "19300101", "brno", i.toString))
      .toDF("id", "strGName_processed", "strLName_processed", "strDoB_processed",
        "strPoB_processed", "prisoner_number")
    val src = degenerate.withColumnRenamed("id", "srcID")
    val trg = degenerate.withColumnRenamed("id", "trgID")
    val capped = PersonMatching.scoredPairs(src, trg,
      MatchConfig(minScore = 0.0, maxBucketSize = 5), lit(true)).collect()
    // both sides keep the SAME deterministic 5 survivors → exactly 25
    // pairs, and every survivor keeps its exact self-pair
    assert(capped.length === 25, s"cap must bound pairs to 5x5, got ${capped.length}")
    val survivors = capped.map(_.getAs[Long]("srcID")).toSet
    assert(survivors.size === 5)
    val pairs = capped.map(r => (r.getAs[Long]("srcID"), r.getAs[Long]("trgID"))).toSet
    survivors.foreach(s => assert(pairs.contains((s, s)), s"self-pair of $s dropped"))
    assert(PersonMatching.lastDropObservation.get("dropped_bucket_rows") === 35L,
      "each dropped bucket membership must be counted (retry-exact via observe)")
    // uncapped default on the same corpus: the full quadratic pair set
    val uncapped = PersonMatching.scoredPairs(src, trg,
      MatchConfig(minScore = 0.0), lit(true)).count()
    assert(uncapped === 1600L)

    // the bench-only override prop tightens the cap without touching the
    // config (the scaling pass's cap-engagement demo depends on this)
    sys.props(PersonMatching.MaxBucketSizeOverrideProp) = "5"
    try {
      val overridden = PersonMatching.scoredPairs(src, trg,
        MatchConfig(minScore = 0.0), lit(true)).count()
      assert(overridden === 25L)
    } finally sys.props.remove(PersonMatching.MaxBucketSizeOverrideProp)
    // and both sides' drop counters are retrievable for the demo
    assert(PersonMatching.lastDropObservationsBySide.keySet === Set("srcID", "trgID"))

    // the candidate counter counts bucket-join emissions, the pairs the
    // scorer runs on: under the cap each surviving pair shares one
    // bucket (25), while "anna maria" x "nowak" shares the composite
    // buckets (an|1, no|1) and (ma|1, no|1), so its one kept pair is
    // emitted, scored and counted twice
    val twoBuckets = Seq((100L, "anna maria", "nowak", "19300101", "brno", "100"))
      .toDF("id", "strGName_processed", "strLName_processed", "strDoB_processed",
        "strPoB_processed", "prisoner_number")
    def counted(s: org.apache.spark.sql.DataFrame, t: org.apache.spark.sql.DataFrame,
        cfg: MatchConfig): (Long, Long) = {
      sys.props(PersonMatching.CountCandidatesProp) = "1"
      try {
        val kept = PersonMatching.scoredPairs(s, t, cfg, lit(true)).count()
        (kept, graft.core.SessionHygiene.observedLong(
          PersonMatching.lastCandidateObservation, "candidate_pairs", timeoutMs = 60000L))
      } finally sys.props.remove(PersonMatching.CountCandidatesProp)
    }
    assert(counted(src, trg, MatchConfig(minScore = 0.0, maxBucketSize = 5)) === ((25L, 25L)))
    assert(counted(twoBuckets.withColumnRenamed("id", "srcID"),
      twoBuckets.withColumnRenamed("id", "trgID"), MatchConfig(minScore = 0.0)) === ((1L, 2L)),
      "one pair sharing two buckets is one kept row and two counted emissions")
  }

  test("expression scorer path agrees with the UDF path end to end") {
    val src = persons.withColumnRenamed("id", "srcID")
    val trg = persons.withColumnRenamed("id", "trgID")
    def run(expr: Boolean) = PersonMatching.scoredPairs(src, trg,
      MatchConfig(minScore = 80.0, useExpressionScorer = expr), lit(true))
      .collect()
      .map(r => (r.getAs[Long]("srcID"), r.getAs[Long]("trgID")) -> r.getAs[Double]("score"))
      .toMap
    val udf = run(expr = false)
    val col = run(expr = true)
    assert(udf.keySet === col.keySet)
    udf.foreach { case (k, v) => assert(math.abs(col(k) - v) < 1e-9, s"pair $k") }
  }

  test("selfJoinMirror matches the plain path row for row") {
    val src = persons.withColumnRenamed("id", "srcID")
    val trg = persons.withColumnRenamed("id", "trgID")
    def run(mirror: Boolean) = PersonMatching.personMatching(src, trg,
      MatchConfig(topN = 2, minScore = 80.0, selfJoinMirror = mirror))
      .collect()
      .map(r => (r.getAs[Long]("srcID"), r.getAs[Double]("score"), r.getAs[Any]("trgID")))
      .toSet
    assert(run(mirror = true) === run(mirror = false))
    intercept[IllegalArgumentException] {
      PersonMatching.personMatching(src, trg,
        MatchConfig(selfJoinMirror = true, useSimpleDateMatcher = true))
    }
  }

  test("allowDuplicates=false keeps one source per target") {
    val src = persons.withColumnRenamed("id", "srcID")
    val trg = persons.filter(col("id") === 1).withColumnRenamed("id", "trgID")
    val m = PersonMatching.personMatching(src, trg,
      MatchConfig(topN = 1, minScore = 80, allowDuplicates = false))
    val hits = m.filter(col("score") =!= -1).collect()
    assert(hits.length === 1, "only the best source keeps target 1")
  }
}

package graft

/** Smoke test for the bench HARNESS itself (not the timings): `sbt test`
  * never runs `graft.Bench`, so a harness regression — the round-6 class
  * of bug where best-of-N silently masked flaky failures, or a malformed
  * artifact line — would otherwise surface only in the driver's
  * 14-minute full pass. Runs the real `Bench.run` in-process against the
  * shared test session on one cheap query and asserts the output
  * contract: both JSON artifacts well-formed, the probe stats present
  * and sane, the timing positive, nothing failed.
  */
class BenchSmokeSpec extends SparkSpec {

  private def withProps(props: (String, String)*)(body: => Unit): Unit = {
    val saved = props.map { case (k, _) => k -> sys.props.get(k) }
    props.foreach { case (k, v) => sys.props(k) = v }
    try body
    finally saved.foreach {
      case (k, Some(v)) => sys.props(k) = v
      case (k, None)    => sys.props.remove(k)
    }
  }

  test("Bench.run: one-query smoke keeps the artifact contract") {
    withProps(
      "SPARK_GRAFT_ONLY" -> "q01",
      "SPARK_GRAFT_BEST_OF" -> "1",
      "SPARK_GRAFT_SCALING" -> "0") {
      val res = Bench.run(spark, sf, "/tmp/graft_bench_smoke.json")
        .fold(err => fail(s"Bench.run refused: $err"), identity)
      assert(res.failed.isEmpty)

      // both artifacts must parse as JSON (the driver consumes them raw)
      import org.apache.spark.sql.functions.{col, from_json, lit, schema_of_json}
      def parses(js: String): Unit = {
        val df = spark.range(1).select(
          from_json(lit(js), schema_of_json(lit(js))).as("j"))
        assert(df.select(col("j")).head().get(0) != null, s"unparseable: $js")
      }
      parses(res.compact)
      parses(res.full)

      // probe contract: stats present, ordered, strictly positive
      val probe = """"probe":\{"min":([0-9.]+),"med(?:ian)?":([0-9.]+),"max":([0-9.]+)""".r
      val m = probe.findFirstMatchIn(res.compact)
        .getOrElse(fail(s"no probe stats in compact line: ${res.compact}"))
      val (mn, md, mx) = (m.group(1).toDouble, m.group(2).toDouble, m.group(3).toDouble)
      assert(mn > 0 && mn <= md && md <= mx, s"probe stats out of order: $mn/$md/$mx")

      // the query's timing is recorded and positive in both artifacts —
      // compact keys are the qNN prefix (tail-budget economy, README),
      // the full artifact keeps full names
      assert(res.compact.contains("\"q01\":"))
      val best = """"q01_pricing_summary":\{"best_sec":([0-9.E-]+)""".r
      val b = best.findFirstMatchIn(res.full)
        .getOrElse(fail(s"no best_sec in full artifact")).group(1).toDouble
      assert(b > 0)

      // the retry gate's bookkeeping is always present (normally empty
      // list in the full artifact, a count in the compact line)
      assert(res.full.contains("\"contention_retries\":"))
      assert("""\"retried\":\d+""".r.findFirstIn(res.compact).isDefined, res.compact)

      // `value` is the plain main-pass sum — one query, so its best —
      // and value_def names that definition: earlier artifacts' `value`
      // was a best-known min across passes, and cross-artifact tooling
      // keys on this field so the two are never mixed
      val tot = """"value":([0-9.E-]+)""".r.findFirstMatchIn(res.full)
        .getOrElse(fail("no value in full artifact")).group(1).toDouble
      assert(math.abs(tot - b) < 1e-9, s"value $tot must be the main-pass best $b")
      assert(res.full.contains(""""value_def":"main_best""""), res.full.take(200))
      assert(res.compact.contains(""""value_def":"main_best""""), res.compact.take(200))
      // SCALING=0: the scaling retry gate never ran, so its count reads
      // null, never a "checked, clean" 0
      assert("""\"retried_scaling\":null""".r.findFirstIn(res.compact).isDefined, res.compact)
      val warm = """"median_first_over_best":([0-9.]+)""".r
        .findFirstMatchIn(res.full)
        .getOrElse(fail("no warmup spread in full artifact")).group(1).toDouble
      assert(warm > 0, s"warmup median ratio must be positive: $warm")

      // probe normalization: every query carries its bracketing-probe
      // median, and both artifacts carry the advisory normalized total
      val adj = """"probe_adjacent_sec":([0-9.E-]+)""".r
        .findFirstMatchIn(res.full)
        .getOrElse(fail("no probe_adjacent_sec in full artifact")).group(1).toDouble
      assert(adj > 0, s"probe_adjacent_sec must be positive: $adj")
      val tpn = """"total_probe_normalized":([0-9.E-]+)""".r
        .findFirstMatchIn(res.full)
        .getOrElse(fail("no total_probe_normalized in full artifact")).group(1).toDouble
      // single-query run: the advisory total IS best/adjacent (3-decimal
      // rounding in the artifact is the only slack)
      assert(tpn > 0 && math.abs(tpn - b / adj) < 0.01,
        s"normalized total $tpn inconsistent with best $b / adjacent $adj")
      assert("""\"tpn\":[0-9.]+""".r.findFirstIn(res.compact).isDefined,
        s"no tpn in compact line: ${res.compact}")
    }
  }

  test("Bench.run: q22 scaling block carries the per-candidate normalization (r18)") {
    // sec_per_million_candidates exists so the q22 wall-time growth
    // exponent can never be misread as kernel superlinearity: candidate
    // pairs grow ~4x for 2x rows on the duplicate-heavy corpus, so the
    // honest kernel number is wall time per CANDIDATE. The pin asserts
    // the division really is full_sec / candidate_pairs (per million),
    // i.e. the normalization can never silently drift from the two raw
    // fields it sits beside. Also covers the scaling pass end to end in
    // the suite and the cap_demo pair at the default and a tight cap.
    withProps(
      "SPARK_GRAFT_ONLY" -> "q22",
      "SPARK_GRAFT_BEST_OF" -> "1",
      "SPARK_GRAFT_SCALING" -> "force",
      "SPARK_GRAFT_CAP_DEMO_BUCKET" -> "2") {
      val res = Bench.run(spark, sf, "/tmp/graft_bench_smoke_scaling.json")
        .fold(err => fail(s"Bench.run refused: $err"), identity)
      assert(res.failed.isEmpty)
      val pairsRe = """"candidate_pairs":\{"quarter":(-?\d+),"half":(-?\d+),"full":(-?\d+)\}""".r
      val pm = pairsRe.findFirstMatchIn(res.full)
        .getOrElse(fail(s"no candidate_pairs in scaling block: ${res.full}"))
      val fullPairs = pm.group(3).toLong
      assert(fullPairs > 0, s"no candidates counted at full corpus: ${pm.matched}")
      val normRe =
        """"sec_per_million_candidates":\{"quarter":([0-9.E-]+|null),"half":([0-9.E-]+|null),"full":([0-9.E-]+)\}""".r
      val nm = normRe.findFirstMatchIn(res.full)
        .getOrElse(fail(s"no sec_per_million_candidates in scaling block: ${res.full}"))
      val secRe =
        """"q22_person_match_self":\{"quarter_sec":([0-9.E-]+),"half_sec":([0-9.E-]+),"full_sec":([0-9.E-]+)""".r
      val sm = secRe.findFirstMatchIn(res.full)
        .getOrElse(fail(s"no q22 scaling times: ${res.full}"))
      val fullSec = sm.group(3).toDouble
      val expected = fullSec * 1e6 / fullPairs
      val got = nm.group(3).toDouble
      assert(math.abs(got - expected) < math.max(0.002, 0.01 * expected),
        s"full normalization $got != full_sec $fullSec * 1e6 / pairs $fullPairs = $expected")
      // cap_demo: the default cap, then the tightened one, counted on the
      // same full corpus. A cap of 2 must bite on this corpus: it drops
      // memberships and forms strictly fewer candidates, so a cap that
      // never reaches the plan fails here instead of passing silently
      val capRe = """\{"max_bucket_size":(\d+),"candidate_pairs":(\d+),"dropped_bucket_rows":(\d+)\}""".r
      val caps = capRe.findAllMatchIn(res.full).map(m =>
        (m.group(1).toInt, m.group(2).toLong, m.group(3).toLong)).toList
      val defaultCap = graft.linkage.PersonMatching.MatchConfig().maxBucketSize
      assert(caps.map(_._1) === List(defaultCap, 2), s"cap_demo entries: ${res.full}")
      val (defaultCounts, tightCounts) = (caps(0), caps(1))
      assert(defaultCounts._2 === fullPairs,
        s"cap_demo at the default cap must count the scaling pass's full point: $caps")
      assert(tightCounts._2 < defaultCounts._2, s"tight cap did not cut candidates: $caps")
      assert(tightCounts._3 > 0, s"tight cap dropped no bucket rows: $caps")
      assert(defaultCounts._3 >= 0, s"negative drop count: $caps")
    }
  }

  test("Bench.run: scaling_sf1 times q22/q61 on a replicated corpus and counts q61's candidates") {
    withProps(
      "SPARK_GRAFT_ONLY" -> "q22,q61",
      "SPARK_GRAFT_BEST_OF" -> "1",
      "SPARK_GRAFT_SCALING" -> "force",
      "SPARK_GRAFT_SCALING_SF1" -> "1",
      "SPARK_GRAFT_SF1_FACTOR" -> "2") {
      val res = Bench.run(spark, sf, "/tmp/graft_bench_smoke_sf1.json")
        .fold(err => fail(s"Bench.run refused: $err"), identity)
      assert(res.failed.isEmpty)
      for (q <- Seq("q22_person_match_self", "q61_dedupe_targets")) {
        val sec = (""""""" + q + """":\{"sf1_sec":([0-9.E-]+)""").r
          .findFirstMatchIn(res.full).getOrElse(fail(s"no sf1_sec for $q: ${res.full}"))
          .group(1).toDouble
        assert(sec > 0, s"$q sf1_sec must be positive: $sec")
      }
      assert(res.full.contains(""""factor":2,"""), s"sf1 factor not recorded: ${res.full}")
      val pairs = """"candidate_pairs":\{"base_full":(\d+),"sf1":(\d+)\}""".r
        .findFirstMatchIn(res.full)
        .getOrElse(fail(s"no q61 sf1 candidate_pairs: ${res.full}"))
      val (base, rep) = (pairs.group(1).toLong, pairs.group(2).toLong)
      assert(base > 0 && rep >= base, s"q61 candidates base $base, sf1 $rep")
    }
  }

  test("jstr escapes quotes, backslashes and control chars so a hostile path cannot corrupt the artifact") {
    assert(Bench.jstr("""/tmp/ref"v1.json""") === """/tmp/ref\"v1.json""")
    assert(Bench.jstr("""C:\bench\ref.json""") === """C:\\bench\\ref.json""")
    // expected spelled with escaped backslashes: Scala 2 processes
    // \\uXXXX escapes even inside triple-quoted literals
    assert(Bench.jstr("a\nb\tc") === "a\\u000ab\\u0009c")
    assert(Bench.jstr("plain/path.json") === "plain/path.json")
    // round-trip through a real JSON parser: the escaped form embedded
    // in a document must parse back to the original string
    import org.json4s._
    for (s <- Seq("""/tmp/we"ird\path""", "new\nline", "plain")) {
      val doc = s"""{"p":"${Bench.jstr(s)}"}"""
      val parsed = org.json4s.jackson.JsonMethods.parse(doc) \ "p"
      assert(parsed === JString(s), s"round-trip failed for: $s")
    }
  }

  test("probeAdjacentSec is a true median: averages the two-probe case, middles three") {
    def qt(before: Double, after: Double, retry: Option[Double]) =
      Bench.QueryTiming("q", 1.0, Seq(1.0), before, after, Seq.empty, retry)
    // two probes: the mean, NOT the hotter bracket (the committed-r11
    // review finding: s(size/2) on two elements silently takes the max)
    assert(qt(0.16, 0.08, None).probeAdjacentSec === 0.12)
    // three probes (retry fired): the middle value
    assert(qt(0.30, 0.08, Some(0.10)).probeAdjacentSec === 0.10)
  }

  test("the shared ONLY filter: qNN prefix matches, substrings do not, parse drops empties") {
    // one implementation serves Bench's three passes AND Verify — pin
    // its semantics once: full name or exact qNN prefix, never a
    // substring ("q2" must NOT select q22)
    val only = Bench.parseOnly(Some(" q22 , q01_pricing_summary ,, "))
    assert(only === Some(Set("q22", "q01_pricing_summary")))
    assert(Bench.onlySelects(only, "q22_person_match_self"))
    assert(Bench.onlySelects(only, "q01_pricing_summary"))
    assert(!Bench.onlySelects(only, "q02_filter_project"))
    assert(!Bench.onlySelects(Bench.parseOnly(Some("q2")), "q22_person_match_self"),
      "a bare substring token must not select by prefix-of-prefix")
    assert(Bench.onlySelects(None, "anything"), "no filter selects everything")
  }

  test("Bench.run: malformed integer knobs fall back to defaults instead of aborting the run") {
    withProps(
      "SPARK_GRAFT_ONLY" -> "q01",
      "SPARK_GRAFT_BEST_OF" -> "two",
      "SPARK_GRAFT_SCALING" -> "0") {
      val res = Bench.run(spark, sf, "/tmp/graft_bench_smoke_badknob.json")
      assert(res.isRight, s"malformed BEST_OF aborted the bench: $res")
      assert(res.exists(_.failed.isEmpty))
      assert(res.exists(_.full.contains("\"best_of\":2")), "did not fall back to the default best_of")
    }
  }

  test("Bench.run: unknown SPARK_GRAFT_ONLY filter is a refusal, not an empty pass") {
    withProps("SPARK_GRAFT_ONLY" -> "q99_nope", "SPARK_GRAFT_SCALING" -> "0") {
      val res = Bench.run(spark, sf, "/tmp/graft_bench_smoke.json")
      assert(res.isLeft)
      assert(res.left.exists(_.contains("matched no query")))
    }
  }
}

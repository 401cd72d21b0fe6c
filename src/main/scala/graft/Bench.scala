package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.ScaleKnob
import graft.linkage.PersonMatching
import graft.queries.Linkage

/** Benchmark over the registered queries: per-query wall
  * seconds on one corpus, the growth of the similarity and dedup
  * families across corpus sizes, and the candidate counts that
  * attribute that growth.
  *
  * Measurement. Each query is materialized through the noop sink (every
  * column computed and serialized, nothing written) rather than
  * `count()`, under which Catalyst prunes unreferenced projections and a
  * query would be benched cheaper than its real cost. Main-pass times
  * are best-of-N (`SPARK_GRAFT_BEST_OF`, default 2; the heavy similarity
  * queries take at least 3). Run 1 of each query pays that query's own
  * codegen/JIT even after the untimed table warmup, so best-of-N reads
  * as steady-state cost; the `warmup` block records the
  * first-run-over-best spread as cold-start provenance.
  *
  * Calibration probe. A constant, data-independent job (range(20M) ->
  * hash -> sum) runs on the same executor pool before the main pass and
  * after every measurement batch. When the probe after a batch reads
  * more than 2x the running median of the probes before it, the batch is
  * re-measured once and `best_sec` takes the min over both attempts
  * (contention only ever inflates a timing); the query is listed in
  * `contention_retries`. The scaling and sf1 passes gate each point the
  * same way. Every query records `probe_adjacent_sec`, the median of the
  * probes bracketing its runs, and `total_probe_normalized` (`tpn` in
  * the compact line) sums best_sec / probe_adjacent_sec, so a wall time
  * is always read next to the probe level it was measured at.
  *
  * Passes:
  *   - main: every selected query (`SPARK_GRAFT_ONLY`); `value` is the
  *     sum of the main-pass bests (`value_def` "main_best").
  *   - scaling: the similarity and dedup families at quarter, half and
  *     full corpus, two growth exponents each. q22 adds its candidate
  *     pairs per point and `cap_demo`: the full corpus at the default
  *     hot-bucket cap and at `SPARK_GRAFT_CAP_DEMO_BUCKET` (default 64).
  *     On for full runs; `SPARK_GRAFT_SCALING=0` disables it, `force`
  *     runs it under an ONLY filter too.
  *   - scaling_sf1 (opt-in, `SPARK_GRAFT_SCALING_SF1=1`): the heavy
  *     queries once each on a corpus replicated `SPARK_GRAFT_SF1_FACTOR`
  *     times (default 10) by ScaleKnob's disjoint shards, with q61's
  *     candidate pairs at both sizes.
  *
  * Failures. A query that fails on every run is listed in `failed` and
  * makes `main` exit non-zero; one that fails on some runs but succeeds
  * on another is listed in `flaky` (its best successful time counts),
  * so best-of-N never swallows an intermittent failure.
  *
  * Output. The full artifact (every run, every probe, the scaling
  * details) is written to a timestamped `BENCH_FULL_<utc>.json`, so
  * repeated runs never overwrite earlier evidence; a fixed path is an
  * explicit opt-in via `SPARK_GRAFT_BENCH_FULL`. Stdout's last line is
  * a compact summary of at most 1900 chars, sized to survive a
  * ~2000-char tail capture, with a pointer to the full file.
  *
  * All knobs read system properties first, then the environment — specs
  * can't set env vars in-process, a launcher can't set props.
  */
object Bench {
  private[graft] def cfg(key: String, default: String): String =
    sys.props.get(key).orElse(sys.env.get(key)).getOrElse(default)

  /** 3-decimal formatting for JSON output. Locale.ROOT, NOT the f""
    * interpolator: f"%.3f" uses the JVM default locale, and under a
    * comma-decimal locale (de_DE…) the artifact would print `0,259`
    * and stop being valid JSON.
    */
  private def f3(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

  /** SPARK_GRAFT_ONLY semantics, ONE implementation for the package:
    * LOOKUP (system property first, env second — the property wins so
    * in-process callers and the test harness can override), parse
    * (comma-split, trimmed, empties dropped), and match (a token
    * selects a query when it equals the full name or the qNN prefix —
    * "q2" does NOT select q20–q29). Bench's main/scaling/sf1 passes
    * and Verify all route through these three so the selection can
    * never silently diverge between the harnesses — including WHERE
    * the filter is read from.
    */
  private[graft] def onlyConfigured(): Option[Set[String]] =
    parseOnly(sys.props.get("SPARK_GRAFT_ONLY").orElse(sys.env.get("SPARK_GRAFT_ONLY")))
  private[graft] def parseOnly(raw: Option[String]): Option[Set[String]] =
    raw.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
  private[graft] def onlySelects(only: Option[Set[String]], name: String): Boolean =
    only.forall(f => f.contains(name) || f.contains(name.takeWhile(_ != '_')))

  /** Minimal JSON string escape for interpolated free-form values
    * (paths): a quote or backslash in a configured path must corrupt at
    * worst its own field, never the whole artifact.
    */
  private[graft] def jstr(s: String): String =
    s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => "\\u%04x".format(c.toInt)
      case c             => c.toString
    }

  /** Integer knob with defensive parsing: a malformed env value must
    * not kill a multi-minute bench run with a NumberFormatException at
    * startup — warn, fall back to the default, clamp to `min`.
    *
    * Deliberately NOT shared with ScaleKnob's parser: the two policies
    * differ by blast radius. A bad bench knob must not cost a run, so it
    * falls back; ScaleKnob fails loudly at query construction (a
    * half-applied scale factor would silently corrupt a measurement).
    */
  private def cfgInt(key: String, default: Int, min: Int): Int = {
    val raw = cfg(key, default.toString)
    scala.util.Try(raw.trim.toInt).toOption.getOrElse {
      System.err.println(s"[bench] ignoring invalid $key='$raw' (not an integer); using $default")
      default
    }.max(min)
  }

  /** Sets the given system properties around `body` and removes them
    * afterwards, however `body` exits.
    */
  private def withProps[T](props: (String, String)*)(body: => T): T = {
    props.foreach { case (k, v) => sys.props(k) = v }
    try body finally props.foreach { case (k, _) => sys.props.remove(k) }
  }

  /** One query's main-pass outcome: best + every run and probe, both
    * attempts when the probe gate forced a retry. `probeBeforeSec` is
    * the last probe observed before this query's first run, so together
    * with the after-probes it brackets every run the query made.
    */
  final case class QueryTiming(
      name: String, bestSec: Double, runs: Seq[Double], probeBeforeSec: Double,
      probeAfterSec: Double, retryRuns: Seq[Double], probeAfterRetrySec: Option[Double]) {
    /** Median of the probes bracketing this query's runs (before-first,
      * after-batch, after-retry-batch when present) — the local probe
      * level while THIS query measured, as opposed to the run-wide
      * median. True median: the common two-probe case averages the pair
      * (taking the upper index would systematically pick the HOTTER
      * bracket and understate every normalized contribution).
      */
    def probeAdjacentSec: Double = {
      val s = (Seq(probeBeforeSec, probeAfterSec) ++ probeAfterRetrySec).sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
  }

  final case class Result(compact: String, full: String, failed: List[String])

  def main(args: Array[String]): Unit = {
    val sfDir = cfg("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = cfg("SPARK_GRAFT_CPUS", "32")
    val fullPath = cfg("SPARK_GRAFT_BENCH_FULL", "") match {
      case "" =>
        // millisecond precision: scripted back-to-back runs in the same
        // wall-clock second must not overwrite each other either
        val ts = java.time.format.DateTimeFormatter
          .ofPattern("yyyyMMdd'T'HHmmssSSS'Z'").withZone(java.time.ZoneOffset.UTC)
          .format(java.time.Instant.now())
        s"BENCH_FULL_$ts.json"
      case p => p
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the blocking releases in run() unpersist localCheckpoint'ed RDDs at
    // job boundaries by design; Spark warns once per RDD ("cannot be
    // recomputed after unpersisting") — ~180 lines per bench run that
    // would crowd the captured log tail. Nothing re-executes a released
    // frame, so the warning carries no signal here.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    run(spark, sfDir, fullPath) match {
      case Left(err) =>
        System.err.println(err)
        spark.stop()
        sys.exit(1)
      case Right(res) =>
        println(res.compact)
        spark.stop()
        if (res.failed.nonEmpty) sys.exit(1)
    }
  }

  /** The whole benchmark against an existing session; returns the two
    * JSON artifacts instead of printing/exiting so a spec can smoke-test
    * the harness in-process (BenchSmokeSpec) without owning the JVM.
    * Writes the full artifact to `fullPath` (best-effort — a write
    * failure warns but does not fail the run, the JSON is still
    * returned in `Result.full`).
    */
  def run(spark: SparkSession, sfDir: String, fullPath: String): Either[String, Result] = {
    val startedMs = System.currentTimeMillis()
    val bestOf = cfgInt("SPARK_GRAFT_BEST_OF", 2, min = 1)
    val only = onlyConfigured()
    // untimed warmup: JIT/codegen/parquet-footer costs land here, not on
    // whichever query happens to run first. Goes through the typed
    // accessors — `events` is TIMESTAMP(NANOS) and a raw scan aborts.
    // Skipped under an ONLY filter: a focused loop must not pay
    // full-corpus scans for a query that may touch one table; run 1
    // absorbs the cold cost instead.
    if (only.isEmpty)
      graft.core.Tables.all(spark, sfDir).foreach { case (t, df) =>
        try df.count()
        catch { case e: Throwable =>
          System.err.println(s"[bench] warmup of $t failed: ${e.getMessage}")
        }
      }
    else System.err.println("[bench] ONLY filter set - skipping the full-corpus table warmup")
    def probeOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(20000000L).selectExpr("sum(hash(id)) AS s")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    probeOnce() // untimed: pays the probe's own codegen once
    // Untimed, BLOCKING release of everything the last measurement left
    // persisted. The similarity family localCheckpoints intermediates,
    // and dead checkpoint blocks left resident make late queries pay
    // block-manager eviction churn (measured: q22's scaling full point
    // 13.2 s at the end of a 49-query run vs 6.6 s in a short session,
    // identical candidate counts). An async unpersist would move the
    // removal cost into the next timed run. releaseAll, not the scoped
    // releaseLeftovers: the bench owns this session.
    def releaseLeftovers(): Unit = try {
      graft.core.SessionHygiene.releaseAll(spark)
      ()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] leftover release failed: ${e.getMessage}")
    }
    def timed(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val probeStart = probeOnce()
    var failed = List.empty[String]
    var flaky = List.empty[String]
    var contended = List.empty[String]
    // every probe observed, in order — the running median the retry gate
    // compares against, and the min/median/max the artifact reports.
    // Hot probes are INCLUDED: under blanket contention the median rises
    // and the gate stops retrying (retries can't help there), while the
    // probe stats still expose the condition.
    val probesSeen = scala.collection.mutable.ArrayBuffer(probeStart)
    def probeMedian(): Double = { val s = probesSeen.sorted; s(s.size / 2) }
    /** Probes after a measurement and admits the reading to the pool;
      * `hot` compares it against the median BEFORE admission, so one hot
      * window can't vote itself normal. Returns (probe, median, hot).
      */
    def gateProbe(): (Double, Double, Boolean) = {
      val p = probeOnce()
      val median = probeMedian()
      probesSeen += p
      (p, median, p > 2.0 * median)
    }
    // the heavy similarity set swings the most under contention; give it
    // one extra chance to land a quiet run
    val heavy = Set("q22_person_match_self", "q23_person_clustering",
      "q27_ngram_jaccard_dedup", "q34_minhash_preclustering")
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => onlySelects(only, name) }
    if (only.isDefined && selected.isEmpty)
      return Left(
        s"[bench] SPARK_GRAFT_ONLY=${only.get.mkString(",")} matched no query " +
          s"(known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(",")})")
    // main pass: best-of-N with the probe-gated retry described up top
    val results: Seq[QueryTiming] = selected.map { case (name, fn) =>
      val probeBefore = probesSeen.last
      def once(): Either[Double, Double] = {
        val t0 = System.nanoTime()
        val r = try Right(timed(fn(spark, sfDir)))
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          Left((System.nanoTime() - t0) / 1e9)
        }
        releaseLeftovers()
        r
      }
      val n = if (heavy(name)) bestOf.max(3) else bestOf
      val runs1 = (1 to n).map(_ => once())
      val (probe1, gateMedian, hot) = gateProbe()
      // bounded to ONE retry per query
      val retry = if (hot) {
        System.err.println(f"[bench] $name probe $probe1%.3f s > 2x median " +
          f"$gateMedian%.3f s - contended window, re-measuring once")
        contended ::= name
        val runs2 = (1 to n).map(_ => once())
        Some((runs2, gateProbe()._1))
      } else None
      val allRuns = runs1 ++ retry.map(_._1).getOrElse(Seq.empty)
      val ok = allRuns.collect { case Right(t) => t }
      if (ok.isEmpty) failed ::= name
      else if (allRuns.exists(_.isLeft)) flaky ::= name
      val best = if (ok.nonEmpty) ok.min else allRuns.collect { case Left(t) => t }.max
      QueryTiming(name, best, runs1.map(_.merge), probeBefore, probe1,
        retry.map(_._1.map(_.merge)).getOrElse(Seq.empty), retry.map(_._2))
    }
    val total = results.map(_.bestSec).sum
    def strArr(xs: List[String]) = xs.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // computed AFTER every pass, so the stats describe the same window
    // the series does
    def probeStats: (Double, Double, Double) = {
      val s = probesSeen.toSeq.sorted
      (s.head, s(s.size / 2), s.last)
    }

    // Scale-growth measurement: similarity + dedup families timed fresh
    // at quarter, half and full corpus, back to back in the same warm
    // JVM — THREE points = TWO data-doublings, so curvature (is the
    // exponent rising?) shows, not just one slope. The capped dedup pair
    // q24/q26 runs with graft.bench.docs.cap=5000 so "full" means 5000
    // docs, not the 2500 main-pass cap — the only way those two see
    // corpus growth. Exponent per doubling: near-linear plans stay ≲ 1,
    // quadratic blowups read ≈ 2. For q22 the artifact also records the
    // CANDIDATE PAIR count per scale point, so seconds growing in step
    // with candidates read as the join densifying, NOT the kernel
    // getting slower. Untimed for `total`.
    val scalingTargets = Seq("q22_person_match_self", "q23_person_clustering",
      "q25_minhash_dedup", "q27_ngram_jaccard_dedup", "q31_ann_lsh_topk",
      "q34_minhash_preclustering", "q35_cosine_near_dup",
      // media representative: per-row demux+decode should read ~linear,
      // the contrast class to the join-shaped families
      "q44_video_frame_decode",
      // the heaviest cluster-tools and best-match dedupe queries
      "q60_cluster_tools_matrix", "q61_dedupe_targets")
    val liftedCapTargets = Seq("q24_exact_dedup", "q26_simhash_dedup")
    val doScaling = cfg("SPARK_GRAFT_SCALING", "1") match {
      case "0"     => false
      case "force" => true
      case _       => only.isEmpty
    }
    // q22 candidate counts per frac. The counter counts bucket-join
    // emissions, i.e. the pairs scored: a pair sharing k surviving
    // buckets counts k times (PersonMatching.lastCandidateObservation)
    val q22Pairs = scala.collection.mutable.Map.empty[Double, Long]
    def lastCandidateCount(): Option[Long] =
      Option(PersonMatching.lastCandidateObservation)
        .flatMap(o => scala.util.Try(o.get("candidate_pairs")).toOption)
        .map(_.asInstanceOf[Number].longValue)
    /** One UNTIMED run with the candidate counter on; the counter stays
      * out of the timed runs so those keep the exact production plan.
      */
    def countedRun(df: => DataFrame, props: (String, String)*): Option[Long] =
      withProps((PersonMatching.CountCandidatesProp -> "1") +: props: _*) {
        try {
          df.write.format("noop").mode("overwrite").save()
          lastCandidateCount()
        } finally releaseLeftovers()
      }
    def fracProps(frac: Double): Seq[(String, String)] =
      if (frac < 1.0) Seq(ScaleKnob.Prop -> frac.toString) else Seq.empty
    // scaling points the probe gate re-measured ("name@frac")
    var scalingRetries = List.empty[String]
    // q22 cap engagement: (cap, candidate_pairs, dropped_bucket_rows) at
    // full corpus for the default and a tightened maxBucketSize
    var capDemo = List.empty[(Int, Long, Long)]
    // (name, quarter_sec, half_sec, full_sec)
    val scaling: Seq[(String, Double, Double, Double)] =
      if (!doScaling) Seq.empty
      else (scalingTargets.map((_, false)) ++ liftedCapTargets.map((_, true)))
        // under force+ONLY, scale just the filtered queries
        .filter { case (name, _) => onlySelects(only, name) }
        .flatMap { case (name, liftCap) =>
          SparkEntry.queries.get(name).flatMap { fn =>
            def atFrac(frac: Double): Double =
              withProps(fracProps(frac): _*) {
                try timed(fn(spark, sfDir)) finally releaseLeftovers()
              }
            // probe-gated retry, same contract as the main pass, bounded
            // to one retry per (query, point) across both passes
            val retriedPoints = scala.collection.mutable.Set.empty[Double]
            def atFracGated(frac: Double): Double = {
              val t = atFrac(frac)
              val (p, gateMedian, hot) = gateProbe()
              if (hot && !retriedPoints(frac)) {
                retriedPoints += frac
                scalingRetries ::= s"$name@$frac"
                System.err.println(f"[bench] scaling $name@$frac probe $p%.3f s > " +
                  f"2x median $gateMedian%.3f s - contended window, re-measuring point once")
                val t2 = atFrac(frac)
                gateProbe()
                math.min(t, t2)
              } else t
            }
            try withProps((if (liftCap) Seq(ScaleKnob.DocsCapProp -> "5000") else Nil): _*) {
              // best of 2 per point, INTERLEAVED (q,h,f, q,h,f): a noisy
              // window then spreads across all three points and
              // min-per-point discards it, instead of poisoning one
              // point's best and fabricating curvature
              val passes = Seq.fill(2)(Seq(0.25, 0.5, 1.0).map(atFracGated))
              if (name == "q22_person_match_self") {
                Seq(0.25, 0.5, 1.0).foreach { frac =>
                  countedRun(fn(spark, sfDir), fracProps(frac): _*).foreach(q22Pairs(frac) = _)
                }
                // the cap bounding candidates on the REAL corpus: q22 built
                // once at the default cap and once at a tightened cap,
                // candidate pairs and per-side drop counts from the same
                // observe() metrics either way
                val defaultCap = PersonMatching.MatchConfig().maxBucketSize
                val tightCap = cfgInt("SPARK_GRAFT_CAP_DEMO_BUCKET", 64, min = 1)
                def countsAtCap(cap: Int): Option[(Int, Long, Long)] = try {
                  PersonMatching.lastDropObservationsBySide = Map.empty
                  countedRun(Linkage.q22(spark, sfDir, cap)).map { pairs =>
                    val drops = PersonMatching.lastDropObservationsBySide.values.toSeq
                      .flatMap(o => scala.util.Try(o.get("dropped_bucket_rows")).toOption)
                      .map(_.asInstanceOf[Number].longValue).sum
                    (cap, pairs, drops)
                  }
                } catch { case e: Throwable =>
                  System.err.println(s"[bench] cap demo at $cap failed: ${e.getMessage}")
                  None
                }
                capDemo = List(countsAtCap(defaultCap), countsAtCap(tightCap)).flatten
              }
              passes.transpose.map(_.min) match {
                case Seq(q, h, f) => Some((name, q, h, f))
              }
            } catch {
              case e: Throwable =>
                System.err.println(s"[bench] scaling of $name failed: ${e.getMessage}")
                None
            }
          }
        }
    def exp(lo: Double, hi: Double): Double = math.log(hi / lo) / math.log(2)

    // cold-vs-warm provenance: the first-run-over-best spread quantifies
    // where cold costs land. Failed/flaky queries are excluded (their
    // runs mix failure durations with successes), and so are CONTENDED
    // queries (contention landing on run 1 is neighbor noise, not
    // cold-start cost). If EVERY reliable query was contended, fall back
    // to the unfiltered reliable set with a flag, so the block stays
    // present and says why it is untrustworthy.
    val unreliable = (failed ++ flaky).toSet
    val contendedSet = contended.toSet
    def ratios(excludeContended: Boolean) = results
      .filter(r => r.runs.nonEmpty && r.bestSec > 0 && !unreliable(r.name) &&
        !(excludeContended && contendedSet(r.name)))
      .map(r => (r.name, r.runs.head / r.bestSec))
    val quietRatios = ratios(excludeContended = true)
    val allContended = quietRatios.isEmpty && ratios(excludeContended = false).nonEmpty
    val warmRatios = if (allContended) ratios(excludeContended = false) else quietRatios
    val warmupJson =
      if (warmRatios.isEmpty) "null"
      else {
        val sortedR = warmRatios.map(_._2).sorted
        val med = sortedR(sortedR.size / 2)
        val (maxQ, maxR) = warmRatios.maxBy(_._2)
        val excluded = results.count(r => contendedSet(r.name) && !unreliable(r.name))
        val contendedNote =
          if (allContended) ""","all_contended":true"""
          else s""","excluded_contended":$excluded"""
        s"""{"note":"first_over_best = runs[0] / best_sec per query: run 1 pays the query's own codegen/JIT, so best-of-N reads as steady-state and this spread is the cold-start provenance; queries whose probe gate fired are excluded (their run 1 measures contention, not cold start)","median_first_over_best":${f3(med)},"max_first_over_best":${f3(maxR)},"max_query":"$maxQ"$contendedNote}"""
      }

    // OPT-IN 10x pass: the heavy queries on a corpus replicated past the
    // largest on-disk SF via ScaleKnob's disjoint shards, so per-job
    // fixed overhead amortizes and the kernel cost surfaces; exponents
    // are computed against the scaling pass's full points. Factor
    // clamped to [2, 26]: factor 1 measures nothing, and 26 is
    // ScaleKnob.replicate's hard bound (distinct Caesar rotations).
    val sf1Factor = math.min(cfgInt("SPARK_GRAFT_SF1_FACTOR", 10, min = 2), 26)
    val sf1Requested = cfg("SPARK_GRAFT_SCALING_SF1", "0") != "0"
    val doSf1 = sf1Requested && scaling.nonEmpty
    if (sf1Requested && !doSf1) {
      val cause =
        if (doScaling) "the scaling pass ran but every target failed - see the 'scaling of ... failed' lines above"
        else "the scaling pass is disabled (SPARK_GRAFT_SCALING=0 or an ONLY filter without SCALING=force)"
      System.err.println(s"[bench] SPARK_GRAFT_SCALING_SF1 requested but $cause - " +
        "skipping scaling_sf1: its exponents need the scaling pass's full points as baseline")
    }
    val sf1Targets = Seq("q22_person_match_self", "q23_person_clustering",
      "q27_ngram_jaccard_dedup", "q31_ann_lsh_topk",
      "q34_minhash_preclustering", "q35_cosine_near_dup",
      "q60_cluster_tools_matrix", "q61_dedupe_targets")
      .filter(n => onlySelects(only, n))
    var sf1Retries = List.empty[String]
    // q61 candidate pairs (base_full, sf1): UNTIMED counted runs that
    // attribute its sf1 growth to candidate densification vs kernel cost
    var q61Sf1Pairs: Option[(Long, Long)] = None
    val replicated = ScaleKnob.ReplicateProp -> sf1Factor.toString
    val scalingSf1: Seq[(String, Double)] =
      if (!doSf1) Seq.empty
      else sf1Targets.flatMap { name =>
        SparkEntry.queries.get(name).flatMap { fn =>
          def measured(): Double =
            withProps(replicated) {
              try timed(fn(spark, sfDir)) finally releaseLeftovers()
            }
          try {
            // single-shot + the same probe-gated one retry: at this size
            // a second unconditional run costs more than the noise it
            // would remove
            val t = measured()
            val (p, gateMedian, hot) = gateProbe()
            val best = if (hot) {
              sf1Retries ::= name
              System.err.println(f"[bench] sf1 $name probe $p%.3f s > 2x median " +
                f"$gateMedian%.3f s - contended window, re-measuring once")
              val t2 = measured()
              gateProbe()
              math.min(t, t2)
            } else t
            if (name == "q61_dedupe_targets")
              try {
                for (b <- countedRun(fn(spark, sfDir)); s <- countedRun(fn(spark, sfDir), replicated))
                  q61Sf1Pairs = Some((b, s))
              } catch { case e: Throwable =>
                System.err.println(s"[bench] q61 sf1 candidate count failed: ${e.getMessage}")
              }
            Some((name, best))
          } catch { case e: Throwable =>
            System.err.println(s"[bench] sf1 scaling of $name failed: ${e.getMessage}")
            None
          }
        }
      }
    val scalingFullByName = scaling.map { case (n, _, _, f) => n -> f }.toMap
    val sf1Json =
      if (scalingSf1.isEmpty) "null"
      else scalingSf1.map { case (n, t) =>
        val extra = scalingFullByName.get(n).map { b =>
          s""","base_full_sec":$b,"growth_exponent":${math.log(t / b) / math.log(sf1Factor)}"""
        }.getOrElse("")
        val pairs =
          if (n == "q61_dedupe_targets")
            q61Sf1Pairs.map { case (bp, sp) =>
              s""","candidate_pairs":{"base_full":$bp,"sf1":$sp}"""
            }.getOrElse("")
          else ""
        s""""$n":{"sf1_sec":$t$extra$pairs}"""
      }.mkString("{", ",",
        s""","factor":$sf1Factor,"retries":${strArr(sf1Retries)},"corpus":"disjoint-shard replication (ScaleKnob.ReplicateProp): ids remapped, per-copy letter Caesar on strings, per-copy rotation on float arrays - each shard isomorphic to the base corpus, cross-shard buckets disjoint, so candidates grow ~factor x like real data growth","note":"growth_exponent = log(sf1_sec / base_full_sec) / log(factor); ~1 = linear scaling. The q23/q34 near-zero exponents in `scaling` are fixed per-iteration overhead - this pass is where that claim is measured rather than argued"}""")

    // ---- full JSON to file: precise values, all runs, notes, caps ----
    val note = "q22 self-matches a fixed-vocabulary corpus: candidate pairs scale " +
      "quadratically with rows by construction (buckets densify, vocabulary does not grow); " +
      "bounded by maxBucketSize, see PersonMatching.capBuckets; candidate_pairs per scale " +
      "point (bucket-join emissions, i.e. pairs scored: a pair sharing k buckets counts k " +
      "times) is recorded so the growth exponents are attributable to pair count vs kernel cost. " +
      "q27/q35 share the densification shape on the synthetic docs corpus: gram/embedding " +
      "collisions concentrate in the first doubling (reproducibly ~1.4 then flattening " +
      "to ~0.4 for q27) - the DECREASING second exponent is the signal that the " +
      "prefix/band filters hold as the corpus grows, which is what the third scale " +
      "point exists to show. q23/q34 exponents read near ZERO at this SF: their " +
      "wall time is dominated by fixed per-job overhead (the connected-components " +
      "iterations each launch a join+aggregate round regardless of corpus size), " +
      "not by the kernels - the kernel cost scales with edges and the fixed " +
      "overhead amortizes at production scale"
    val caps = """{"documents_corpus":"doc_id < 2500 in the main pass (q18c/q24-q27 demo corpus); scaling pass lifts to 5000 for q24/q26 (q34's corpus is frac-sampled, the docs cap does not apply to it)"}"""
    val qsFull = results.map { r =>
      val retryPart =
        if (r.probeAfterRetrySec.isEmpty) ""
        else ",\"runs_retry\":" + r.retryRuns.mkString("[", ",", "]") +
          ",\"probe_after_retry_sec\":" + r.probeAfterRetrySec.get
      "\"" + r.name + "\":{\"best_sec\":" + r.bestSec + ",\"runs\":" +
        r.runs.mkString("[", ",", "]") + ",\"probe_before_sec\":" + r.probeBeforeSec +
        ",\"probe_after_sec\":" + r.probeAfterSec +
        ",\"probe_adjacent_sec\":" + r.probeAdjacentSec + retryPart + "}"
    }.mkString("{", ",", "}")
    // advisory and unitless (seconds of query work per second of
    // constant probe work), comparable across hosts and windows.
    // Failed/flaky queries are EXCLUDED (their bestSec is a failure
    // duration), unlike `value`, which keeps them so a broken run can
    // never read faster than a working one.
    val totalProbeNormalized =
      results.filterNot(r => unreliable(r.name)).map(r => r.bestSec / r.probeAdjacentSec).sum
    val probeSeries = probesSeen.map(f3).mkString("[", ",", "]")
    val probeFull =
      s"""{"work":"range(20e6)->hash->sum, constant","retry_gate":"probe_after > 2x running median -> re-measure once (main pass per query, scaling and sf1 passes per point)","normalization":"per-query probe_adjacent_sec = median of the probes bracketing that query's runs; total_probe_normalized = sum(best_sec / probe_adjacent_sec) over non-failed, non-flaky queries, unitless, comparable across hosts - advisory, not a wall-clock total","start_sec":$probeStart,"min":${probeStats._1},"median":${probeStats._2},"max":${probeStats._3},"series":$probeSeries}"""
    def q22PairsJson(quarterSec: Double, halfSec: Double, fullSec: Double): String = {
      // wall time per CANDIDATE is the kernel-attributable number: it
      // should hold or fall across scale points even while the raw
      // exponent reads >1 on the densifying corpus
      def perM(sec: Double, frac: Double): String =
        q22Pairs.get(frac).filter(_ > 0).map(p => f3(sec * 1e6 / p)).getOrElse("null")
      val pairs =
        if (q22Pairs.isEmpty) ""
        else s""","candidate_pairs":{"quarter":${q22Pairs.getOrElse(0.25, -1L)},"half":${q22Pairs.getOrElse(0.5, -1L)},"full":${q22Pairs.getOrElse(1.0, -1L)}},"sec_per_million_candidates":{"quarter":${perM(quarterSec, 0.25)},"half":${perM(halfSec, 0.5)},"full":${perM(fullSec, 1.0)}}"""
      val demo =
        if (capDemo.isEmpty) ""
        else ",\"cap_demo\":" + capDemo.map { case (cap, p, d) =>
          s"""{"max_bucket_size":$cap,"candidate_pairs":$p,"dropped_bucket_rows":$d}"""
        }.mkString("[", ",", "]")
      pairs + demo
    }
    val scalingFull =
      if (scaling.isEmpty) "null"
      else scaling.map { case (n, q, h, f) =>
        val extra = if (n == "q22_person_match_self") q22PairsJson(q, h, f) else ""
        s""""$n":{"quarter_sec":$q,"half_sec":$h,"full_sec":$f,"growth_exponents":[${exp(q, h)},${exp(h, f)}]$extra}"""
      }.mkString("{", ",",
        s""","retries":${strArr(scalingRetries)},"note":"$note"}""")
    val endedMs = System.currentTimeMillis()
    val wallJson =
      s""""started_utc":"${java.time.Instant.ofEpochMilli(startedMs)}","ended_utc":"${java.time.Instant.ofEpochMilli(endedMs)}","wall_sec":${(endedMs - startedMs) / 1000.0}"""
    // value_def marks what `value` sums: "main_best" is the plain sum of
    // the main-pass bests. Earlier artifacts carry "best_known" (a min
    // across passes and re-measures) or no marker (the plain sum), so
    // cross-artifact tooling must key on this field
    val fullJson =
      s"""{"metric":"total","value":$total,"value_def":"main_best","total_probe_normalized":${f3(totalProbeNormalized)},"unit":"sec",$wallJson,"best_of":$bestOf,"queries":$qsFull,"failed":${strArr(failed)},"flaky":${strArr(flaky)},"contention_retries":${strArr(contended)},"warmup":$warmupJson,"probe":$probeFull,"caps":$caps,"scaling":$scalingFull,"scaling_sf1":$sf1Json,"sf":"${jstr(sfDir)}"}"""

    // ---- compact summary sized for a ~2000-char tail capture ----
    // per-query keys (and the failed/flaky names, which share their
    // namespace) are the qNN prefix: full names cost ~700 chars across
    // the registry. If two selected queries ever shared a prefix the
    // short map would silently lose one, so fall back to full names.
    val prefixesUnique =
      results.map(_.name.takeWhile(_ != '_')).distinct.size == results.size
    def qKey(name: String) = if (prefixesUnique) name.takeWhile(_ != '_') else name
    val qsCompact = results.map { r =>
      "\"" + qKey(r.name) + "\":" + f3(r.bestSec)
    }.mkString("{", ",", "}")
    val scalingCompact =
      if (scaling.isEmpty) "null"
      else scaling.map { case (n, q, h, f) =>
        "\"" + qKey(n) + "\":[" + f3(exp(q, h)) + "," + f3(exp(h, f)) + "]"
      }.mkString("{", ",", "}")
    // null, not 0, when the scaling pass never ran: "didn't check" must
    // not read as "checked, clean"
    val retriedScalingCompact = if (scaling.isEmpty) "null" else scalingRetries.size.toString
    // retried COUNT only: a contended run can flag a dozen queries, and
    // their names would blow the tail budget
    val head =
      s""""metric":"total","value":${f3(total)},"value_def":"main_best","tpn":${f3(totalProbeNormalized)},"unit":"sec","best_of":$bestOf"""
    val tail =
      s""""failed":${strArr(failed.map(qKey))},"flaky":${strArr(flaky.map(qKey))},"retried":${contended.size},"retried_scaling":$retriedScalingCompact,"probe":{"min":${f3(probeStats._1)},"med":${f3(probeStats._2)},"max":${f3(probeStats._3)}}"""
    val pointer = s""""full":"${jstr(fullPath)}","sf":"${jstr(sfDir)}""""
    val compact =
      s"""{$head,"queries":$qsCompact,$tail,"growth_exponents":$scalingCompact,$pointer}"""
    val compactSafe =
      if (compact.length <= 1900) compact
      else {
        System.err.println(s"[bench] compact line ${compact.length} chars > 1900; emitting reduced line")
        s"""{$head,$tail,$pointer}"""
      }
    // write the full artifact here (not in main) so every caller —
    // including BenchSmokeSpec — gets the file a path parameter implies
    try {
      val w = new java.io.PrintWriter(fullPath, "UTF-8")
      try w.println(fullJson) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $fullPath: ${e.getMessage}")
    }
    Right(Result(compactSafe, fullJson, failed))
  }
}

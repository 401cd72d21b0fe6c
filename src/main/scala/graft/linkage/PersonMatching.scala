package graft.linkage

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.SessionHygiene.TrackedCheckpoint

/** Blocked fuzzy similarity join + top-k person matching (SURVEY
  * J5/A7/E9/W1/J4; reference `src/aroa_etl/person_matching/matching.py`).
  *
  * The reference's driver-side inverted index becomes a pure dataflow:
  * each side explodes its composite (first-name, last-name) prefix
  * buckets with the person's fields riding along as one struct, the two
  * sides equi-join per bucket, and every bucket-join row is scored where
  * it is formed. Only the pairs that reach `minScore` are deduplicated
  * (a pair sharing several buckets is emitted once per bucket, with the
  * same score each time), then the top-k per source row is kept. There
  * is never a cartesian product: every join is an equi-join on
  * `(prefix, length-band)` bucket keys, so the plan is
  * shuffle-hash/sort-merge joinable and AQE can handle hot buckets
  * (common surnames) with skew splitting at 100 TB.
  *
  * Tie-break note: the reference resolves equal scores by its sequential
  * iteration order, which has no distributed meaning; this engine breaks
  * ties by target id for determinism.
  *
  * The mirrored self-match path `localCheckpoint`s its scored half; in a
  * long-lived session, release it at job boundaries with
  * [[graft.core.SessionHygiene.releaseLeftovers]].
  */
object PersonMatching {

  /** A7/E9 bucket keys for one name value: for each space-separated
    * subname, `(first n chars, len / lenUnits)`. Character handling is
    * the reference's exactly (matching.py:17-21): strip non-(lowercase
    * letter or whitespace) — uppercase and punctuation DELETED,
    * tab/newline kept — then split on the literal space. Both engines
    * therefore assume the `*_processed` name domain (lowercase and
    * spaces only, the preprocessing chain's output); outside that
    * domain they mutilate identically.
    */
  def bucketKeys(name: Column, idxChars: Int, lenUnits: Int): Column = {
    val cleaned = regexp_replace(name, "[^a-z\\s]", "")
    val subs = filter(split(cleaned, " "), s => s =!= "")
    transform(subs, s =>
      concat_ws("|", substring(s, 1, idxChars), floor(length(s) / lenUnits).cast("string")))
  }

  /** Candidate `(srcID, trgID, __srcP, __trgP)` rows: a src and a trg
    * row sharing a first-name bucket AND a last-name bucket, each with
    * its [[personStruct]]. One equi-join on the composite (fname-bucket,
    * lname-bucket) key: each side explodes the cross product of its own
    * bucket keys (a handful per row), so "shares some fname bucket and
    * some lname bucket" becomes a single composite-key match — no
    * materialized per-column pair sets, no intersection of near-
    * quadratic intermediates.
    *
    * The structs travel through the explode, the cap and the join, so
    * the scorer reads them where the pair is formed and no join attaches
    * the persons back by id. The rows are NOT distinct: a pair sharing k
    * surviving buckets is emitted k times. Scoring every emission and
    * deduplicating only the pairs that reach `minScore` (see
    * [[scoredPairs]]) costs less than a distinct over all emissions plus
    * two attach joins: about 1% of the emissions are repeats, while the
    * cutoff drops most of them.
    */
  private def candidatePairs(
      src: DataFrame, trg: DataFrame, cfg: MatchConfig,
      pairPredicate: Column): DataFrame = {
    def exploded(df: DataFrame, id: String, person: String) = {
      val e = df
        .select(col(id), personStruct(df, cfg).as(person),
          explode(bucketKeys(col(cfg.gnameCol), cfg.idxChars, cfg.lenUnits)).as("fb"),
          col(cfg.lnameCol))
        .select(col(id), col(person), col("fb"),
          explode(bucketKeys(col(cfg.lnameCol), cfg.idxChars, cfg.lenUnits)).as("lb"))
      capBuckets(e, id, effectiveMaxBucketSize(cfg))
    }
    val s = exploded(src, "srcID", "__srcP")
    val t = exploded(trg, "trgID", "__trgP")
    // the join runs at the width capBuckets' (fb, lb) repartition pinned
    // (both sides share that partitioning), and so does the scoring fused
    // after it: no exchange sits between the join and the score UDF
    val pairs = s.join(t, Seq("fb", "lb"))
      .select("srcID", "trgID", "__srcP", "__trgP")
      .filter(pairPredicate)
    // candidate counting is OPT-IN (CountCandidatesProp): CollectMetrics
    // is "free" plan-wise (no shuffle) but not run-wise — an un-consumed
    // Observation leaks its listener on the session, and the metrics
    // projection sits on the join output for every downstream run.
    // The bench's scaling pass flips this on for dedicated, untimed
    // count runs; the hot path stays exactly the measured plan.
    if (sys.props.get(CountCandidatesProp).contains("1")) {
      val obs = org.apache.spark.sql.Observation()
      lastCandidateObservation = obs
      pairs.observe(obs, count(lit(1)).as("candidate_pairs"))
    } else pairs
  }

  /** Opt-in switch for the candidate counter in [[candidatePairs]]. */
  private[graft] val CountCandidatesProp = "graft.match.countCandidates"

  /** Bench-only override of `MatchConfig.maxBucketSize` — lets the
    * scaling pass tighten the hot-bucket cap on the REAL corpus (untimed
    * demo runs) without touching any query's production config. Never
    * set outside `graft.Bench`; Verify's correctness runs see the config
    * value untouched.
    */
  private[graft] val MaxBucketSizeOverrideProp = "graft.match.maxBucketSize"

  /** The override parses defensively: this runs on every production
    * candidate build, and a malformed or leaked property value must not
    * throw (or silently change matching semantics) in a non-bench caller
    * sharing the JVM — warn and fall back to the config value instead.
    */
  private def effectiveMaxBucketSize(cfg: MatchConfig): Int =
    sys.props.get(MaxBucketSizeOverrideProp) match {
      case None => cfg.maxBucketSize
      case Some(raw) =>
        scala.util.Try(raw.trim.toInt).toOption.filter(_ > 0).getOrElse {
          System.err.println(s"[graft] ignoring invalid $MaxBucketSizeOverrideProp='$raw' " +
            s"(not a positive integer); using MatchConfig.maxBucketSize=${cfg.maxBucketSize}")
          cfg.maxBucketSize
        }
    }

  /** Most recent candidate counter (bench/test observability; set once
    * per [[candidatePairs]] call when [[CountCandidatesProp]] is "1").
    * It counts bucket-join emissions that pass the pair predicate, which
    * are exactly the pairs the scorer runs on: a pair sharing k surviving
    * buckets counts k times, so this is at least the number of distinct
    * candidate pairs. `Observation.get` blocks until the first action
    * over the plan completes.
    */
  @volatile private[graft] var lastCandidateObservation: org.apache.spark.sql.Observation = _

  /** Most recent drop counter (test observability; one per capped side).
    * `Observation.get` blocks until the first action over the capped plan
    * completes, then returns `Map("dropped_bucket_rows" -> count)`.
    */
  @volatile private[graft] var lastDropObservation: org.apache.spark.sql.Observation = _

  /** Drop counters of the most recent [[candidatePairs]] call, keyed by
    * side ("srcID"/"trgID") — the bench's cap-engagement demo sums both
    * sides. [[lastDropObservation]] keeps its last-write-wins contract
    * for the single-side spec assertions.
    */
  @volatile private[graft] var lastDropObservationsBySide:
      Map[String, org.apache.spark.sql.Observation] = Map.empty

  /** Hard per-bucket membership cap — the 100 TB safety valve. Candidate
    * pairs per composite bucket grow with |src|·|trg| of the bucket; on a
    * degenerate corpus (mass-shared names) that is quadratic and neither
    * AQE (splits partitions, not pair counts) nor key refinement (the
    * colliding names are IDENTICAL, longer prefixes change nothing) can
    * bound it. Buckets past `maxBucketSize` keep a deterministic
    * hash-ordered subset per side — both sides keep the SAME survivors,
    * so surviving rows retain their exact-match pairs — and every dropped
    * membership is counted via `observe()` (a CollectMetrics node over
    * the already-computed `__rank`), never silent. Observed metrics are
    * merged exactly once per completed action, so the count is exact
    * under task retries — an accumulator in a filter would over-report.
    * Default 10000 (10^8 pairs/bucket ceiling) is far above any
    * non-degenerate bucket.
    */
  private def capBuckets(exploded: DataFrame, id: String, maxBucketSize: Int): DataFrame = {
    if (maxBucketSize <= 0) return exploded
    val obs = org.apache.spark.sql.Observation(s"graft.match.dropped.$id")
    lastDropObservation = obs
    lastDropObservationsBySide = lastDropObservationsBySide + (id -> obs)
    val w = Window.partitionBy(col("fb"), col("lb"))
      .orderBy(hash(col(id)), col(id))
    exploded
      // pinned width (r21): AQE coalesces the window's ENSURE exchange by
      // bytes, and a small exploded table (on the r21 baseline it held
      // only the id and the two bucket keys) lands under its 1 MB-per-
      // partition floor and runs as ONE task — and that task then also
      // runs the bucket equi-join and the scoring fused after it, i.e.
      // the stage that EMITS and scores the candidate pairs (6.3M rows on
      // the r21 baseline) serializes on one core. The explicit partition
      // count makes the exchange REPARTITION_BY_NUM, which AQE leaves
      // alone, and the window reuses the partitioning, so the exchange
      // count is unchanged. Width scales with the session
      // (Parallelism.width), not a local constant.
      .repartition(graft.core.Parallelism.width(exploded), col("fb"), col("lb"))
      .withColumn("__rank", row_number().over(w))
      // coalesce: sum() over zero rows is NULL — an empty side must
      // observe 0 drops, not null (callers compare the metric to 0L)
      .observe(obs, coalesce(sum(when(col("__rank") > maxBucketSize, 1L)
        .otherwise(0L)), lit(0L)).as("dropped_bucket_rows"))
      .filter(col("__rank") <= maxBucketSize)
      .drop("__rank")
  }

  /** Person-matching config (defaults = the reference's production run:
    * `run-matching.py:48-53`, bucket shape `matching.py:34`).
    */
  final case class MatchConfig(
      gnameCol: String = "strGName_processed",
      lnameCol: String = "strLName_processed",
      dobCol: String = "strDoB_processed",
      prisonerCol: String = "prisoner_number",
      pobCol: String = "strPoB_processed",
      idxChars: Int = 2,
      lenUnits: Int = 4,
      topN: Int = 10,
      minScore: Double = 80.0,
      nameOnly: Boolean = false,
      allowDuplicates: Boolean = true,
      useSimpleDateMatcher: Boolean = false,
      // per-bucket membership ceiling; ≤0 disables (see capBuckets)
      maxBucketSize: Int = 10000,
      // score via the codegen'd column expression instead of the UDF —
      // see the measurement note in scorePairs
      useExpressionScorer: Boolean = false,
      // src and trg are the SAME dataset: score each unordered pair once
      // (srcID <= trgID) and mirror — valid because every default kernel
      // (token-set, Indel, date-with-swap) is symmetric; rejected with
      // the asymmetric simple-date matcher
      selfJoinMirror: Boolean = false)

  /** E6 `person_similarity` as a pure column expression over the native
    * codegen'd kernels — identical arithmetic (and FP association) to
    * `Similarity.personSimilarity`, but no per-pair Row conversion,
    * boxing or UDF dispatch. This is the hot path of the blocked join:
    * millions of candidate pairs score inside one codegen'd projection.
    */
  private[graft] def notEmptyCol(c: Column): Column =
    c.isNotNull && length(c) > 0 && !c.isin("00000000", "-1.0", "-1")

  /** The E5 token-set kernel with the -1 not-comparable sentinel — the
    * expensive half of the score.
    *
    * A "memoize the kernel per DISTINCT name pair and broadcast-join it
    * back" variant was built and A/B'd twice, and LOST both times, so it
    * was deleted rather than shipped as a flag: on q22's equal-heavy
    * corpus (6.3M pairs, 64×64 name combos) memo 23.8/24.9 s vs direct
    * 20.4/21.0 s; on a Zipf corpus DESIGNED for it (60k rows, co-bucketed
    * names differ-but-repeat, 400+16-word vocabulary, hot buckets) memo
    * 5.99/6.04 s vs direct 2.25/2.06 s — 2.8× slower. The distinct +
    * two broadcast joins + a localCheckpoint cost more than they save
    * because the codegen'd kernel is already cheap per pair and its
    * equal-input fast path short-circuits the common case.
    */
  private[graft] def setScoreCol(a: Column, b: Column): Column =
    when(notEmptyCol(a) && notEmptyCol(b),
      graft.expressions.FuzzColumns.tokenSetRatio(a, b)).otherwise(lit(-1.0))

  private[graft] def personSimilarityColumn(
      s: PersonCols, t: PersonCols,
      useDate: Boolean, usePrisoner: Boolean, usePob: Boolean,
      nameOnly: Boolean, simpleDate: Boolean): Column = {
    val primary =
      (greatest(lit(0.0), setScoreCol(s.lname, t.lname)) +
        greatest(lit(0.0), setScoreCol(s.gname, t.gname))) / 2
    combineScores(primary, s, t, useDate, usePrisoner, usePob, nameOnly, simpleDate)
  }

  /** Everything after `primary` in E6's combiner — shared by the inline
    * expression scorer and the memoized-primary path; arithmetic and FP
    * association identical to `Similarity.personSimilarity`.
    */
  private def combineScores(
      primary: Column, s: PersonCols, t: PersonCols,
      useDate: Boolean, usePrisoner: Boolean, usePob: Boolean,
      nameOnly: Boolean, simpleDate: Boolean): Column = {
    import graft.expressions.FuzzColumns
    def notEmpty(c: Column): Column = notEmptyCol(c)
    def ratioScore(a: Column, b: Column): Column =
      when(notEmpty(a) && notEmpty(b), FuzzColumns.indelRatio(a, b)).otherwise(lit(-1.0))

    if (nameOnly) return primary

    val dateK =
      if (!useDate) None
      else {
        val raw =
          if (simpleDate)
            when(notEmpty(s.dob) && notEmpty(t.dob),
              graft.functions.Udfs.simpleDateMatcher(s.dob, t.dob)).otherwise(lit(-1.0))
          else coalesce(FuzzColumns.dateSimilarity(s.dob, t.dob), lit(-1.0))
        Some(greatest(lit(0.0), raw))
      }
    val prisK = if (usePrisoner) Some(ratioScore(s.prisoner, t.prisoner)) else None
    val secondary: Column = (prisK, dateK) match {
      case (Some(p), Some(d)) => when(p >= 0, (p + d) / 2).otherwise(d)
      case (None, Some(d))    => d
      case (Some(p), None)    => when(p >= 0, p).otherwise(lit(0.0))
      case (None, None)       => lit(0.0)
    }
    val other: Column =
      if (usePob) ratioScore(s.pob, t.pob) else lit(-1.0)

    val afterSec = when(secondary >= 0,
      lit(2.0 / 3) * primary + lit(1.0 / 3) * secondary).otherwise(primary)
    when(other >= 0, lit(3.0 / 4) * afterSec + lit(1.0 / 4) * other).otherwise(afterSec)
  }

  private[graft] final case class PersonCols(
      gname: Column, lname: Column, dob: Column, pob: Column, prisoner: Column)

  /** Scored candidate pairs only (no top-k, no sentinels): the building
    * block clustering uses for edge generation. `pairPredicate` prunes
    * candidate pairs BEFORE the scorer runs (e.g. `a < b` halves a
    * self-join's scoring work).
    *
    * Every bucket-join emission is scored, and only the rows that reach
    * `minScore` are deduplicated on `(srcID, trgID)`. This is exact: the
    * score is a pure function of the two person rows and ids are unique
    * per side, so a pair emitted at several shared buckets gets the same
    * score each time, and the dedup keeps exactly the distinct pairs
    * that reach the cutoff.
    */
  def scoredPairs(
      src: DataFrame, trg: DataFrame, cfg: MatchConfig,
      pairPredicate: Column): DataFrame =
    score(candidatePairs(src, trg, cfg, pairPredicate), src, trg, cfg)
      .dropDuplicates("srcID", "trgID")

  /** The five scorer inputs as one struct column; columns absent from
    * `df` surface as null strings. Field ORDER is load-bearing: the
    * default scorer UDF reads positionally (`getString(0..4)`), so
    * gname/lname/dob/pob/prisoner must stay in exactly this order.
    */
  private def personStruct(df: DataFrame, cfg: MatchConfig): Column = {
    def opt(c: String): Column =
      if (df.columns.contains(c)) col(c).cast("string") else lit(null).cast("string")
    struct(opt(cfg.gnameCol).as("gname"), opt(cfg.lnameCol).as("lname"),
      opt(cfg.dobCol).as("dob"), opt(cfg.pobCol).as("pob"),
      opt(cfg.prisonerCol).as("prisoner"))
  }

  /** Score a caller-supplied `(srcID, trgID)` candidate set — the same
    * scoring the blocked join applies, reusable over any blocking scheme
    * (E8 MinHash candidates, seeded pairs, …). Both sides' person structs
    * are attached by id; every candidate row that reaches `minScore`
    * yields one output row.
    */
  def scorePairs(
      candidates: DataFrame, src: DataFrame, trg: DataFrame,
      cfg: MatchConfig): DataFrame = {
    val srcP = src.select(col("srcID"), personStruct(src, cfg).as("__srcP"))
    val trgP = trg.select(col("trgID"), personStruct(trg, cfg).as("__trgP"))
    score(candidates.join(srcP, "srcID").join(trgP, "trgID"), src, trg, cfg)
  }

  /** The scoring core of [[scoredPairs]] and [[scorePairs]]: scores
    * `(srcID, trgID, __srcP, __trgP)` rows and keeps
    * `(srcID, score, trgID)` at `score >= minScore`. The date, prisoner
    * and birthplace terms take part when their column is present on both
    * sides.
    */
  private def score(
      pairs: DataFrame, src: DataFrame, trg: DataFrame, cfg: MatchConfig): DataFrame = {
    def onBothSides(c: String) = src.columns.contains(c) && trg.columns.contains(c)
    val useDate = onBothSides(cfg.dobCol)
    val usePrisoner = onBothSides(cfg.prisonerCol)
    val usePob = onBothSides(cfg.pobCol)
    val nameOnly = cfg.nameOnly
    val simpleDate = cfg.useSimpleDateMatcher
    val minScore = cfg.minScore
    // The scorer stays a UDF by default: the score feeds both the
    // cutoff Filter and the output Project, and a composite column
    // expression is re-evaluated in each. Re-measured after hot-bucket
    // capping landed (q22 sf0.1, 6.3M candidates, two runs each):
    // UDF 17.5/19.7 s vs expression 28.6/24.2 s — the single-dispatch
    // UDF still wins ~1.4×; cost is dominated by the string kernels
    // either way. `useExpressionScorer` keeps the codegen path
    // selectable for filter-pushdown use cases; it reads the same
    // struct fields the UDF does.
    // A FLAT 10-string-arg UDF (no per-pair Row structs) was also
    // A/B'd (q22 sf0.1, best-of-4, two pairs): flat 5.60/5.47 s vs
    // struct 6.01/5.35 s — each variant won one pair, differences
    // inside the probe-window spread, so the Row cost is not where
    // q22's time goes; the struct form stays (it is also what the
    // blocked join carries through its bucket explode).
    // The UDF prunes at the cutoff: it is handed `minScore` and skips
    // both token-set name kernels when even a perfect name score cannot
    // reach it — exact for the `>= minScore` filter below (see
    // Similarity.personSimilarity). The expression scorer does not prune:
    // its filter evaluates the full expression for every candidate.
    val scoreCol =
      if (cfg.useExpressionScorer) {
        def fields(p: String) = PersonCols(col(s"$p.gname"), col(s"$p.lname"),
          col(s"$p.dob"), col(s"$p.pob"), col(s"$p.prisoner"))
        personSimilarityColumn(fields("__srcP"), fields("__trgP"),
          useDate, usePrisoner, usePob, nameOnly, simpleDate)
      } else {
        val scoreUdf = udf { (s: org.apache.spark.sql.Row, t: org.apache.spark.sql.Row) =>
          // positional access: getAs-by-name costs a field-index hash lookup
          // per field per pair — 10 per score, tens of millions per join.
          // Field order is pinned by personStruct.
          def p(r: org.apache.spark.sql.Row) = graft.similarity.Similarity.Person(
            r.getString(0), r.getString(1), r.getString(2),
            r.getString(3), r.getString(4))
          graft.similarity.Similarity.personSimilarity(p(s), p(t),
            useDate = useDate, usePrisoner = usePrisoner, usePob = usePob,
            nameOnly = nameOnly,
            dateMatcher =
              if (simpleDate) graft.similarity.Similarity.simpleDateMatcher
              else graft.similarity.Similarity.dateSimilarity,
            minScore = minScore)
        }.asNondeterministic()
        // asNondeterministic (r21, guide §4.4): the minScore filter over the
        // projected score otherwise gets substituted and PUSHED INTO the
        // join below as a join condition while the projection keeps its own
        // copy — the executed r21-baseline plan evaluated the kernel UDF
        // TWICE per surviving pair (BroadcastHashJoin ..., (UDF(..) >= 80.0)
        // under Project [UDF(..) AS score]), doubling the dominant CPU cost
        // of every blocked join. The kernel is pure, so the only semantic
        // effect of the flag is blocking that duplication.
        scoreUdf(col("__srcP"), col("__trgP"))
      }
    pairs
      .withColumn("score", scoreCol)
      .filter(col("score") >= minScore)
      .select(col("srcID"), col("score"), col("trgID"))
  }

  /** J5 `person_matching` (matching.py:29-94): returns
    * `(srcID, score, trgID)` — top-k matches ≥ minScore per source, or a
    * single `(srcID, -1, null)` row for unmatched sources.
    *
    * @param src source rows with a unique `srcID` column
    * @param trg target rows with a unique `trgID` column
    */
  def personMatching(src: DataFrame, trg: DataFrame, cfg: MatchConfig = MatchConfig()): DataFrame = {
    val scored =
      if (!cfg.selfJoinMirror) scoredPairs(src, trg, cfg, lit(true))
      else {
        require(!cfg.useSimpleDateMatcher,
          "selfJoinMirror needs a symmetric scorer; simple_date_matcher is directional")
        // kernels run only for unordered pairs (srcID <= trgID); the
        // mirror is an INLINE generator over the deduplicated scored
        // stream (r21) — each kept row explodes into itself plus, off the
        // diagonal, its swap. The previous shape localCheckpoint'ed the
        // half and unioned two reads of it: correct, but it materialized
        // every ≥minScore pair (73 MB at sf0.1) and re-scanned the blocks
        // once per consumer; the single-consumer explode keeps the mirror
        // inside the stage after the dedup, where the top-k aggregation's
        // map-side partial then collapses it before anything is shuffled
        // or stored.
        val half = scoredPairs(src, trg, cfg, col("srcID") <= col("trgID"))
        val fwd = struct(col("srcID"), col("score"), col("trgID"))
        val rev = struct(col("trgID").as("srcID"), col("score"), col("srcID").as("trgID"))
        half.select(explode(when(col("srcID") =!= col("trgID"), array(fwd, rev))
            .otherwise(array(fwd))).as("__m"))
          .select(col("__m.srcID").as("srcID"), col("__m.score").as("score"),
            col("__m.trgID").as("trgID"))
      }

    // top-k per source — skipped entirely when every match is kept
    // (edge-generation callers): the per-source sort is the only
    // non-linear step and buys nothing at topN = unbounded
    val topK =
      if (cfg.topN == Int.MaxValue) scored
      else if (cfg.topN == 1)
        // best-match special case as an aggregation, NOT a window: the
        // same (score desc, trgID asc) order, but min_by combines
        // map-side, so the shuffle moves one row per (source, task)
        // instead of sorting every scored candidate per source.
        // min_by on (-score, trgID), NOT max_by on (score, -trgID):
        // negation must stay on the always-numeric score — negating a
        // STRING trgID implicitly casts to double (null for ids like
        // "P-0042", arbitrary tie winner; an error under ANSI), while
        // (-score, trgID) ties break on trgID's NATURAL ascending
        // order, identical to the window path for any orderable id type
        scored
          .groupBy(col("srcID"))
          .agg(min_by(struct(col("score"), col("trgID")),
            struct(negate(col("score")), col("trgID"))).as("__best"))
          .select(col("srcID"), col("__best.score").as("score"),
            col("__best.trgID").as("trgID"))
      else {
        val w = Window.partitionBy(col("srcID")).orderBy(col("score").desc, col("trgID"))
        scored
          .withColumn("__rank", row_number().over(w))
          .filter(col("__rank") <= cfg.topN)
          .select(col("srcID"), col("score"), col("trgID"))
      }

    // matched is consumed TWICE (the result union and the unmatched
    // anti-join's id side), and the anti-join consumer's column pruning
    // rewrites its copy of the aggregation (the unused min_by drops
    // out), so the two subtrees stop being exchange-reusable and the
    // whole scoring pipeline would execute once per consumer.
    // Checkpointing HERE — after top-k, one row per source — pins a
    // frame a few hundred KB big; the r20 shape checkpointed the full
    // ≥minScore pair set instead (73 MB at sf0.1, re-scanned per
    // consumer).
    val matched = (if (cfg.allowDuplicates) topK else dedupeTargets(topK))
      .trackedCheckpoint()

    // unmatched sources get the (-1, null) sentinel row (matching.py:80-81)
    val unmatched = src.select(col("srcID"))
      .join(matched.select("srcID").distinct(), Seq("srcID"), "left_anti")
      .withColumn("score", lit(-1.0))
      .withColumn("trgID", lit(null).cast(matched.schema("trgID").dataType))
    matched.unionByName(unmatched)
  }

  /** J4 `allow_duplicates=False` path (matching.py:87-93): keep only the
    * best-scoring source per target (ties → one row), re-sentinel sources
    * that lost all their matches.
    */
  private def dedupeTargets(matches: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("trgID")).orderBy(col("score").desc, col("srcID"))
    matches
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .drop("__r")
  }
}

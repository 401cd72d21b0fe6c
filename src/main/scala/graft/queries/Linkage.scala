package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.core.SessionHygiene.TrackedCheckpoint
import graft.linkage.PersonMatching
import graft.linkage.PersonMatching.MatchConfig

/** Record-linkage operators as driver queries (SURVEY J5/A7/E9/W1). */
object Linkage {

  /** Person table synthesized from `part`: first two name words as
    * given/last name, size as birth year, part key as prisoner number.
    * Restricted to rows whose name words are bucketable (≥2 chars).
    */
  private def persons(spark: SparkSession, dir: String): DataFrame =
    graft.core.ScaleKnob.sample(Tables.part(spark, dir), "p_partkey")
      .select(col("p_partkey").as("pid"),
        split(col("p_name"), " ").getItem(0).as("strGName_processed"),
        split(col("p_name"), " ").getItem(1).as("strLName_processed"),
        concat(lit("19"), lpad(col("p_size").cast("string"), 2, "0"), lit("0101"))
          .as("strDoB_processed"),
        lower(col("p_brand")).as("strPoB_processed"),
        col("p_partkey").cast("string").as("prisoner_number"))
      .filter(length(col("strGName_processed")) >= 2 && length(col("strLName_processed")) >= 2)
  // NOTE (r21): deliberately NOT repartitioned here — this frame is
  // re-executed several times per consuming query (both bucket-join
  // sides, q34's two attach sides, the unmatched anti-join), so an
  // upstream exchange multiplies into several extra shuffle jobs
  // (same-window A/B: +1.7-2.9 s on q23/q34/q61). The kernels that need
  // width are behind single-point pins instead: the blocked join scores
  // at the width of capBuckets' (fb,lb) repartition, and q34's MinHash
  // candidates go through pinnedDistinct before scorePairs.

  /** J5 self-match: the blocked fuzzy join over the synthesized persons,
    * top-1 per source. The oracle is exact: every source's best match is
    * itself at score 100 (the unique prisoner number breaks any name tie
    * below 100), which cross-checks blocking, scoring and the top-k
    * window end to end.
    */
  private def q22(spark: SparkSession, dir: String): DataFrame = {
    val p = persons(spark, dir)
    val m = PersonMatching.personMatching(
      p.withColumnRenamed("pid", "srcID"),
      p.withColumnRenamed("pid", "trgID"),
      // self-match: symmetric kernels run once per unordered pair
      MatchConfig(topN = 1, minScore = 80.0, selfJoinMirror = true))
    // round the reported score (FP: 2/3·s + 1/3·s lands at 99.99999…);
    // ranking inside the window used the raw value
    m.withColumn("score", round(col("score"), 6)).orderBy(col("srcID"))
  }
  private val q22Sql =
    """SELECT p_partkey AS srcID, CAST(100.0 AS DOUBLE) AS score, p_partkey AS trgID
      |FROM part
      |WHERE length(split_part(p_name, ' ', 1)) >= 2
      |  AND length(split_part(p_name, ' ', 2)) >= 2
      |ORDER BY srcID""".stripMargin

  /** The doubled-transcription corpus for clustering: distinct persons
    * (both name words ≥ 4 chars, deduped on name+DoB), each emitted twice
    * with fresh ids — a transcription pair per entity.
    *
    * The construction makes the expected clustering PROVABLE at cutoff
    * 99: an exact twin scores ≈100 (all fields equal), while any cross
    * pair is bounded below 99 — same (g,l) pairs differ in DoB (year diff
    * ≥ 1 ⇒ date ≤ 96) and prisoner id (distinct integers ⇒ indel ratio
    * ≤ 1 − 1/(len_a+len_b) ≤ 93.3 at these id widths), so score ≤
    * 3/4·(2/3·100 + 1/3·(93.3+96)/2) + 1/4·100 ≈ 98.4; different (g,l)
    * pairs have primary ≤ 70 over this vocabulary. The ≥4-char filter
    * keeps every word bucketable at the clustering `idxChars = 4` (a
    * 3-char word produces no replay bucket and would orphan its twin).
    */
  // private[graft]: Bench's cluster_demo re-runs the exact q23 corpus
  // with ccAlgorithm varied (label-vs-star real-corpus A/B)
  private[graft] def doubledCorpus(spark: SparkSession, dir: String): DataFrame = {
    val base = persons(spark, dir)
      .filter(length(col("strGName_processed")) >= 4 && length(col("strLName_processed")) >= 4)
      .dropDuplicates("strGName_processed", "strLName_processed", "strDoB_processed")
    import graft.core.SessionHygiene.TrackedCheckpoint
    // checkpointed (r21): q23's cluster() and q34's minhash+score+CC
    // consume this frame 4-6 times each (both edge sides, vertices, the
    // component/assignment join-backs), and each consumption re-executed
    // the scan + dedup aggregation; one materialized pass (13k narrow
    // rows at sf0.1) serves them all
    base.select((col("pid") * 2).as("id"), col("strGName_processed"),
        col("strLName_processed"), col("strDoB_processed"), col("strPoB_processed"),
        col("prisoner_number"))
      .unionByName(base.select((col("pid") * 2 + 1).as("id"), col("strGName_processed"),
        col("strLName_processed"), col("strDoB_processed"), col("strPoB_processed"),
        col("prisoner_number")))
      .trackedCheckpoint()
  }

  /** Construction oracle shared by q23/q34: every cluster has exactly the
    * 2 transcriptions of one entity, so the size histogram is one row —
    * (2, number of distinct base persons) — which DuckDB derives straight
    * from `part`.
    */
  private val clusterHistogramSql =
    """SELECT CAST(2 AS BIGINT) AS cluster_size, COUNT(*) AS n_clusters
      |FROM (
      |  SELECT DISTINCT split_part(p_name, ' ', 1) AS g,
      |         split_part(p_name, ' ', 2) AS l, p_size
      |  FROM part
      |  WHERE length(split_part(p_name, ' ', 1)) >= 4
      |    AND length(split_part(p_name, ' ', 2)) >= 4)""".stripMargin

  /** E10–E12: agglomerative clustering over the doubled corpus — blocked
    * scored edges → connected components → exact greedy replay — emitted
    * as the cluster-size histogram the construction pins to one row.
    *
    * Determinism-cost A/B (round 6, sf0.1 local[32]): round 5's recorded
    * q23 7.5 s / q34 4.9 s "regression" vs round 4 (4.8/3.7) was
    * single-shot noise — measured best-of-2 under the round-6 protocol
    * q23 = 5.0 s, q34 = 3.67 s, i.e. parity with round 4. The
    * deterministic-label work costs nothing measurable here (its extra
    * aggregate lives in mergeClusterings, which is not on the q23/q34
    * path at all).
    */
  private def q23(spark: SparkSession, dir: String): DataFrame =
    graft.linkage.Clustering.cluster(doubledCorpus(spark, dir),
        graft.linkage.Clustering.ClusterConfig(cutoff = 99.0))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("cluster_size"))

  /** E8 exercised end to end: the same corpus pre-clustered via
    * MinHash-LSH candidates (collision shingles → banded signature
    * buckets) instead of prefix buckets, scored with the same
    * person-similarity cutoff, components emitted as the same histogram.
    * Exact twins have identical shingle sets ⇒ identical signatures ⇒
    * guaranteed candidates, so the construction oracle carries over.
    */
  private def q34(spark: SparkSession, dir: String): DataFrame = {
    val doubled = doubledCorpus(spark, dir)
    val cands = graft.linkage.Clustering.minHashCandidates(doubled)
    val scored = PersonMatching.scorePairs(
      cands.select(col("a").as("srcID"), col("b").as("trgID")),
      doubled.withColumnRenamed("id", "srcID"),
      doubled.withColumnRenamed("id", "trgID"),
      MatchConfig(minScore = 99.0))
    graft.linkage.Clustering
      .connectedComponents(doubled.select("id"),
        scored.select(col("srcID").as("a"), col("trgID").as("b")))
      .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("cluster_size"))
  }

  /** E7 oracle-backed end to end: Jaro similarity (jellyfish-compatible;
    * the reference gates word alignment on `jaro_similarity(w1, w2) >=
    * 0.8`, enc/matching.py:108) scored over adjacent full names within a
    * first-letter block — one pair per person, so the gate weight stays
    * linear in the corpus while every score still exercises the real
    * two-phase kernel (greedy windowed matching + transposition count).
    *
    * The oracle is a first-principles DuckDB replay of the WHOLE kernel,
    * not DuckDB's built-in `jaro_similarity` — that builtin follows
    * rapidfuzz's convention (floor-halved transposition count, and
    * byte-oriented comparison) and diverges from the jellyfish definition
    * on any pair with an odd number of mismatched matched-positions
    * ("abcdef"/"bcadef": 0.944 vs jellyfish's 0.917). The replay runs the
    * greedy matching loop as a recursive CTE carrying the two
    * matched-position BIGINT bitmasks (names are capped at 60 chars, so
    * positions fit), derives the transposition count as a zip over the
    * matched characters in order, and evaluates the final combine in the
    * exact JVM expression order — same IEEE-double operations in the same
    * association, so the raw scores compare bit-for-bit with no rounding.
    * ASCII-only names on both sides (identical regex), keeping JVM UTF-16
    * `charAt` units and DuckDB character `substr` in lockstep.
    */
  private def q51(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = persons(spark, dir)
      .select(col("pid"),
        concat(col("strGName_processed"), lit(" "), col("strLName_processed")).as("name"))
      .filter(col("name").rlike("^[ -~]{1,60}$"))
    val w = Window.partitionBy(substring(col("name"), 1, 1)).orderBy(col("pid"))
    p.withColumn("trg_id", lead(col("pid"), 1).over(w))
      .withColumn("trg_name", lead(col("name"), 1).over(w))
      .where(col("trg_id").isNotNull)
      .select(col("pid").as("src_id"), col("trg_id"),
        graft.functions.Udfs.jaro(col("name"), col("trg_name")).as("jaro_sim"))
      .orderBy(col("src_id"))
  }
  private val q51Sql =
    """WITH RECURSIVE persons AS (
      |  SELECT p_partkey AS pid,
      |         split_part(p_name, ' ', 1) || ' ' || split_part(p_name, ' ', 2) AS name
      |  FROM part
      |  WHERE length(split_part(p_name, ' ', 1)) >= 2
      |    AND length(split_part(p_name, ' ', 2)) >= 2
      |),
      |pairs AS (
      |  SELECT pid AS src_id, name AS s,
      |         lead(pid) OVER w AS trg_id, lead(name) OVER w AS t
      |  FROM (SELECT * FROM persons WHERE regexp_matches(name, '^[ -~]{1,60}$'))
      |  WINDOW w AS (PARTITION BY substr(name, 1, 1) ORDER BY pid)
      |),
      |p2 AS (SELECT * FROM pairs WHERE trg_id IS NOT NULL),
      |rec AS (
      |  SELECT src_id, trg_id, s, t, 0 AS i, 0 AS matches,
      |         CAST(0 AS BIGINT) AS mask_a, CAST(0 AS BIGINT) AS mask_b
      |  FROM p2
      |  UNION ALL
      |  SELECT src_id, trg_id, s, t, i + 1,
      |         CASE WHEN j IS NULL THEN matches ELSE matches + 1 END,
      |         CASE WHEN j IS NULL THEN mask_a ELSE mask_a | (CAST(1 AS BIGINT) << i) END,
      |         CASE WHEN j IS NULL THEN mask_b ELSE mask_b | (CAST(1 AS BIGINT) << j) END
      |  FROM (
      |    SELECT src_id, trg_id, s, t, i, matches, mask_a, mask_b,
      |           list_min(list_filter(range(greatest(0, i - win), least(length(t) - 1, i + win) + 1),
      |             j -> substr(t, j + 1, 1) = substr(s, i + 1, 1) AND (mask_b >> j) & 1 = 0)) AS j
      |    FROM (SELECT *, greatest(0, greatest(length(s), length(t)) // 2 - 1) AS win
      |          FROM rec WHERE i < length(s))
      |  )
      |),
      |fin AS (SELECT * FROM rec WHERE i = length(s)),
      |tr AS (
      |  SELECT src_id, trg_id, s, t, matches,
      |    list_transform(list_filter(range(0, length(s)), i -> (mask_a >> i) & 1 = 1),
      |                   i -> substr(s, i + 1, 1)) AS ca,
      |    list_transform(list_filter(range(0, length(t)), j -> (mask_b >> j) & 1 = 1),
      |                   j -> substr(t, j + 1, 1)) AS cb
      |  FROM fin
      |)
      |SELECT src_id, trg_id,
      |  CASE WHEN matches = 0 THEN CAST(0.0 AS DOUBLE) ELSE
      |    (CAST(matches AS DOUBLE) / length(s) + CAST(matches AS DOUBLE) / length(t)
      |     + (CAST(matches AS DOUBLE)
      |        - CAST(list_sum(list_transform(range(0, matches),
      |            k -> CASE WHEN ca[k + 1] <> cb[k + 1] THEN 1 ELSE 0 END)) AS INTEGER) / 2.0)
      |       / CAST(matches AS DOUBLE)) / 3.0
      |  END AS jaro_sim
      |FROM tr
      |ORDER BY src_id""".stripMargin

  /** E2/E3 oracle-backed end to end: `date_similarity` (the part-wise
    * exponential-penalty scorer with the day↔month swap retry,
    * similarity_measures.py:23-58) and `simple_date_matcher` (the
    * shared-numeric-parts fraction, similarity_measures.py:80-90) were the
    * last two scoring kernels still pass-G only. q53 styles `o_orderdate`
    * into deterministic string pairs that drive every kernel branch at
    * table scale — packed `yyyymmdd` vs dotted shifted dates (day / month
    * / year deltas 0–4 → part scores 100/96/76/0 and the final clamp),
    * a transposed `MM.dd.yyyy` target (the swap retry fires, including
    * the tie case day==month where `<=` prefers the swapped pair), zero
    * day / zero year parts (the zero-part exclusion), an unparseable
    * target (−1), the `.0`-suffix packed form, and for E3 the
    * not-empty sentinels `"00000000"`/`"-1"` plus 0/1/2/3-shared-part
    * pairs (leading-zero parts exercise the `[1-9]\d*` maximal-munch
    * tokenizer: `"08"` yields token `"8"`).
    *
    * The construction is pure integer arithmetic on (year, month, day) —
    * bit-identical in DuckDB — and the oracle replays BOTH kernels from
    * first principles: both parse regexes, the `5^|a−b|` penalty, the
    * swap comparison on raw (−1-bearing) sums, the sequential combine in
    * JVM association order, and the token-multiset membership count.
    * Every score is an integer-valued double or k/3.0*100.0 computed with
    * the same IEEE ops, so the compare is exact with no rounding. E2 runs
    * through the native Catalyst expression (`DateSimilarityExpr`, the
    * production path inside the blocked join), E3 through the registered
    * UDF — both executor-side serialization paths covered.
    */
  private def q53(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val k = col("o_orderkey")
    val y = year(col("o_orderdate")).cast("long")
    val mo = month(col("o_orderdate")).cast("long")
    val d = dayofmonth(col("o_orderdate")).cast("long")
    val y2 = y + pmod(k, lit(5)) - lit(2)
    val m2 = pmod(mo - 1 + pmod(k, lit(3)), lit(12)) + 1
    val d2 = pmod(d - 1 + pmod(k, lit(7)), lit(28)) + 1
    def p2(c: org.apache.spark.sql.Column) = lpad(c.cast("string"), 2, "0")
    def p4(c: org.apache.spark.sql.Column) = lpad(c.cast("string"), 4, "0")
    val src = concat(p4(y), p2(mo), p2(d))
    val m6 = pmod(k, lit(6))
    val trg = when(m6 === 0, concat(p2(d2), lit("."), p2(m2), lit("."), p4(y2)))
      .when(m6 === 1, concat(p2(mo), lit("."), p2(d), lit("."), p4(y)))
      .when(m6 === 2, concat(p4(y), p2(mo), lit("00")))
      .when(m6 === 3, lit("n/a"))
      .when(m6 === 4, concat(p4(y2), p2(m2), p2(d2), lit(".0")))
      .otherwise(concat(lit("0000"), p2(m2), p2(d)))
    val srcE3 = concat(p2(d), lit("."), p2(mo), lit("."), p4(y))
    val m5 = pmod(k, lit(5))
    val trgE3 = when(m5 === 0, srcE3)
      .when(m5 === 1, concat(p2(d2), lit("."), p2(mo), lit("."), p4(y)))
      .when(m5 === 2, concat(p2(d2), lit("."), p2(m2), lit("."), p4(y2)))
      .when(m5 === 3, lit("00000000"))
      .otherwise(lit("-1"))
    // one parquet split at bench SFs: spread the per-row kernels
    // (see q52's note) before scoring; only the two source columns ride
    // the shuffle
    o.select(col("o_orderkey"), col("o_orderdate"))
      .repartition(spark.sparkContext.defaultParallelism, col("o_orderkey"))
      .select(k.as("o_orderkey"),
        graft.expressions.FuzzColumns.dateSimilarity(src, trg).as("e2_sim"),
        graft.functions.Udfs.simpleDateMatcher(srcE3, trgE3).as("e3_sim"))
      // NOT checkpointed before orderBy (r22 A/B): the two date kernels
      // are cheap enough per row that the sampler's re-execution costs
      // less than materializing the rows (unlike q52/q58/q59's chains)
      .orderBy(col("o_orderkey"))
  }
  private val q53Sql =
    """WITH base AS (
      |  SELECT o_orderkey AS k,
      |         EXTRACT(year FROM o_orderdate)::BIGINT AS y,
      |         EXTRACT(month FROM o_orderdate)::BIGINT AS mo,
      |         EXTRACT(day FROM o_orderdate)::BIGINT AS d
      |  FROM orders),
      |styled AS (
      |  SELECT k, y, mo, d,
      |         y + k % 5 - 2 AS y2,
      |         (mo - 1 + k % 3) % 12 + 1 AS m2,
      |         (d - 1 + k % 7) % 28 + 1 AS d2
      |  FROM base),
      |strs AS (
      |  SELECT k,
      |    lpad(y::VARCHAR,4,'0') || lpad(mo::VARCHAR,2,'0') || lpad(d::VARCHAR,2,'0') AS src,
      |    CASE k % 6
      |      WHEN 0 THEN lpad(d2::VARCHAR,2,'0') || '.' || lpad(m2::VARCHAR,2,'0') || '.' || lpad(y2::VARCHAR,4,'0')
      |      WHEN 1 THEN lpad(mo::VARCHAR,2,'0') || '.' || lpad(d::VARCHAR,2,'0') || '.' || lpad(y::VARCHAR,4,'0')
      |      WHEN 2 THEN lpad(y::VARCHAR,4,'0') || lpad(mo::VARCHAR,2,'0') || '00'
      |      WHEN 3 THEN 'n/a'
      |      WHEN 4 THEN lpad(y2::VARCHAR,4,'0') || lpad(m2::VARCHAR,2,'0') || lpad(d2::VARCHAR,2,'0') || '.0'
      |      ELSE '0000' || lpad(m2::VARCHAR,2,'0') || lpad(d::VARCHAR,2,'0') END AS trg,
      |    lpad(d::VARCHAR,2,'0') || '.' || lpad(mo::VARCHAR,2,'0') || '.' || lpad(y::VARCHAR,4,'0') AS src3,
      |    CASE k % 5
      |      WHEN 0 THEN lpad(d::VARCHAR,2,'0') || '.' || lpad(mo::VARCHAR,2,'0') || '.' || lpad(y::VARCHAR,4,'0')
      |      WHEN 1 THEN lpad(d2::VARCHAR,2,'0') || '.' || lpad(mo::VARCHAR,2,'0') || '.' || lpad(y::VARCHAR,4,'0')
      |      WHEN 2 THEN lpad(d2::VARCHAR,2,'0') || '.' || lpad(m2::VARCHAR,2,'0') || '.' || lpad(y2::VARCHAR,4,'0')
      |      WHEN 3 THEN '00000000'
      |      ELSE '-1' END AS trg3
      |  FROM styled),
      |parsed AS (
      |  SELECT k, src3, trg3,
      |    CASE WHEN regexp_matches(src, '^(\d{4})(\d{2})(\d{2})\.?0?$')
      |         THEN {'y': regexp_extract(src, '^(\d{4})(\d{2})(\d{2})\.?0?$', 1)::BIGINT,
      |               'm': regexp_extract(src, '^(\d{4})(\d{2})(\d{2})\.?0?$', 2)::BIGINT,
      |               'd': regexp_extract(src, '^(\d{4})(\d{2})(\d{2})\.?0?$', 3)::BIGINT}
      |         WHEN regexp_matches(src, '^(\d{2})\.(\d{2})\.(\d{4})$')
      |         THEN {'y': regexp_extract(src, '^(\d{2})\.(\d{2})\.(\d{4})$', 3)::BIGINT,
      |               'm': regexp_extract(src, '^(\d{2})\.(\d{2})\.(\d{4})$', 2)::BIGINT,
      |               'd': regexp_extract(src, '^(\d{2})\.(\d{2})\.(\d{4})$', 1)::BIGINT}
      |         ELSE NULL END AS pa,
      |    CASE WHEN regexp_matches(trg, '^(\d{4})(\d{2})(\d{2})\.?0?$')
      |         THEN {'y': regexp_extract(trg, '^(\d{4})(\d{2})(\d{2})\.?0?$', 1)::BIGINT,
      |               'm': regexp_extract(trg, '^(\d{4})(\d{2})(\d{2})\.?0?$', 2)::BIGINT,
      |               'd': regexp_extract(trg, '^(\d{4})(\d{2})(\d{2})\.?0?$', 3)::BIGINT}
      |         WHEN regexp_matches(trg, '^(\d{2})\.(\d{2})\.(\d{4})$')
      |         THEN {'y': regexp_extract(trg, '^(\d{2})\.(\d{2})\.(\d{4})$', 3)::BIGINT,
      |               'm': regexp_extract(trg, '^(\d{2})\.(\d{2})\.(\d{4})$', 2)::BIGINT,
      |               'd': regexp_extract(trg, '^(\d{2})\.(\d{2})\.(\d{4})$', 1)::BIGINT}
      |         ELSE NULL END AS pb
      |  FROM strs),
      |scored AS (
      |  SELECT k, src3, trg3, pa, pb,
      |    CASE WHEN pa.y = 0 OR pb.y = 0 THEN -1.0
      |         WHEN abs(pa.y - pb.y) > 3 THEN 0.0
      |         ELSE greatest(0.0, 100.0 - (power(5, abs(pa.y - pb.y)) - 1)) END AS ys,
      |    CASE WHEN pa.m = 0 OR pb.m = 0 THEN -1.0
      |         WHEN abs(pa.m - pb.m) > 3 THEN 0.0
      |         ELSE greatest(0.0, 100.0 - (power(5, abs(pa.m - pb.m)) - 1)) END AS ms,
      |    CASE WHEN pa.d = 0 OR pb.d = 0 THEN -1.0
      |         WHEN abs(pa.d - pb.d) > 3 THEN 0.0
      |         ELSE greatest(0.0, 100.0 - (power(5, abs(pa.d - pb.d)) - 1)) END AS ds,
      |    CASE WHEN pa.d = 0 OR pb.m = 0 THEN -1.0
      |         WHEN abs(pa.d - pb.m) > 3 THEN 0.0
      |         ELSE greatest(0.0, 100.0 - (power(5, abs(pa.d - pb.m)) - 1)) END AS mrev,
      |    CASE WHEN pa.m = 0 OR pb.d = 0 THEN -1.0
      |         WHEN abs(pa.m - pb.d) > 3 THEN 0.0
      |         ELSE greatest(0.0, 100.0 - (power(5, abs(pa.m - pb.d)) - 1)) END AS drev
      |  FROM parsed),
      |chosen AS (
      |  SELECT k, src3, trg3, pa, pb, ys,
      |    CASE WHEN ms + ds <= mrev + drev THEN mrev ELSE ms END AS msc,
      |    CASE WHEN ms + ds <= mrev + drev THEN drev ELSE ds END AS dsc
      |  FROM scored)
      |SELECT k AS o_orderkey,
      |  CASE WHEN pa IS NULL OR pb IS NULL THEN -1.0 ELSE
      |    greatest(0.0, 100.0
      |      - CASE WHEN ys  >= 0 THEN 100.0 - ys  ELSE 0.0 END
      |      - CASE WHEN msc >= 0 THEN 100.0 - msc ELSE 0.0 END
      |      - CASE WHEN dsc >= 0 THEN 100.0 - dsc ELSE 0.0 END) END AS e2_sim,
      |  CASE WHEN src3 IS NULL OR src3 = '' OR src3 = '00000000' OR src3 = '-1.0' OR src3 = '-1'
      |         OR trg3 IS NULL OR trg3 = '' OR trg3 = '00000000' OR trg3 = '-1.0' OR trg3 = '-1'
      |       THEN -1.0
      |       ELSE least(3, len(list_filter(regexp_extract_all(src3, '[1-9][0-9]*'),
      |              p -> list_contains(regexp_extract_all(trg3, '[1-9][0-9]*'), p)))) / 3.0 * 100.0 END AS e3_sim
      |FROM chosen
      |ORDER BY o_orderkey""".stripMargin

  /** E6's CONFIG branches oracle-backed through the production scorer:
    * q22 pins the default-config combiner by construction (self-match =
    * 100) and q53 pins the date kernels, but the combiner's flag paths —
    * `name_only`'s early return, the "column configured?" gates
    * (similarity_measures.py:121-141: prisoner/date/pob each appended
    * only if the column exists), the filtered-prisoner-vs-clamped-date
    * asymmetry inside the secondary mean, and the two conditional folds —
    * ran only under the one production flag set. q54 scores each orders
    * row under SIX flag combinations at once through
    * `PersonMatching.personSimilarityColumn` — the codegen'd Catalyst
    * path the blocked join actually executes — as six parallel columns.
    *
    * The fields are constructed so every KERNEL score is forced by
    * construction (equal strings → 100, empty/sentinel → filtered −1,
    * unparseable date → clamped 0) and only the COMBINER arithmetic
    * varies: names hit primary 100 / 50 (one side empty) / 0 (both
    * empty), prisoner cycles comparable/src-empty/`-1`-sentinel/
    * trg-empty, dob cycles equal / +1-year / unparseable / all-zero
    * (parses but every part is zero-excluded → 100, while the simple
    * matcher's `__not_empty` REJECTS "00000000" → clamped 0 — the two
    * date matchers diverging on the same row is the branch signal) /
    * dotted-equal, pob alternates equal/absent. The oracle recomputes
    * prim, both secondary variants, other, and the fold chain from
    * first principles per class — the E3 class scores replayed through
    * the same regexp tokenizer on the class literals, the 96 written as
    * `100 − (5¹ − 1)` — with the same IEEE-double ops in the same
    * association, so all six score columns compare bit-exact.
    */
  private def q54(spark: SparkSession, dir: String): DataFrame = {
    import graft.linkage.PersonMatching.{PersonCols, personSimilarityColumn}
    val o = Tables.orders(spark, dir)
    val k = col("o_orderkey")
    // one parquet split at bench SFs: spread the six scorer columns
    // (2 token-set + 3 indel + 2 date kernels per row) across cores;
    // every field derives from the key, so only ONE column rides the
    // shuffle
    val rows = o.select(col("o_orderkey"))
      .repartition(spark.sparkContext.defaultParallelism, col("o_orderkey"))
      .select(k.as("o_orderkey"),
      when(pmod(k, lit(3)) =!= 0, lit("")).otherwise(lit("hans")).as("sg"),
      when(pmod(k, lit(3)) === 2, lit("")).otherwise(lit("hans")).as("tg"),
      when(pmod(k, lit(3)) === 2, lit("")).otherwise(lit("muler")).as("sl"),
      when(pmod(k, lit(3)) === 2, lit("")).otherwise(lit("muler")).as("tl"),
      when(pmod(k, lit(4)) === 1, lit("")).when(pmod(k, lit(4)) === 2, lit("-1"))
        .when(pmod(k, lit(4)) === 3, lit("12345"))
        .otherwise(k.cast("string")).as("sn"),
      when(pmod(k, lit(4)) === 3, lit("")).otherwise(
        when(pmod(k, lit(4)) === 0, k.cast("string")).otherwise(lit("12345"))).as("tn"),
      when(pmod(k, lit(5)) === 4, lit("12.03.1943")).otherwise(lit("19430312")).as("sd"),
      when(pmod(k, lit(5)) === 1, lit("19440312"))
        .when(pmod(k, lit(5)) === 2, lit("n/a"))
        .when(pmod(k, lit(5)) === 3, lit("00000000"))
        .when(pmod(k, lit(5)) === 4, lit("12.03.1943"))
        .otherwise(lit("19430312")).as("td"),
      when(pmod(k, lit(2)) === 1, lit("")).otherwise(lit("berlin")).as("sp"),
      lit("berlin").as("tp"))
    val s = PersonCols(col("sg"), col("sl"), col("sd"), col("sp"), col("sn"))
    val t = PersonCols(col("tg"), col("tl"), col("td"), col("tp"), col("tn"))
    def sim(useDate: Boolean, usePrisoner: Boolean, usePob: Boolean,
        nameOnly: Boolean, simpleDate: Boolean) =
      personSimilarityColumn(s, t, useDate, usePrisoner, usePob, nameOnly, simpleDate)
    rows.select(col("o_orderkey"),
        sim(useDate = true, usePrisoner = true, usePob = true,
          nameOnly = false, simpleDate = false).as("score_full"),
        sim(useDate = true, usePrisoner = true, usePob = true,
          nameOnly = true, simpleDate = false).as("score_name_only"),
        sim(useDate = false, usePrisoner = true, usePob = true,
          nameOnly = false, simpleDate = false).as("score_no_date"),
        sim(useDate = true, usePrisoner = false, usePob = false,
          nameOnly = false, simpleDate = false).as("score_date_only"),
        sim(useDate = false, usePrisoner = false, usePob = true,
          nameOnly = false, simpleDate = false).as("score_no_secondary"),
        sim(useDate = true, usePrisoner = true, usePob = true,
          nameOnly = false, simpleDate = true).as("score_simple_date"))
      // NOT checkpointed before orderBy (r22 A/B, same result as q53):
      // the six scorer columns re-run cheaper than they materialize
      .orderBy(col("o_orderkey"))
  }
  private val q54Sql =
    """WITH scores AS (
      |  SELECT o_orderkey,
      |    -- primary: equal names -> token-set 100; an empty side is not
      |    -- comparable (-1) and clamps to 0 before the /2
      |    CASE o_orderkey % 3 WHEN 0 THEN 100.0 WHEN 1 THEN (0.0 + 100.0) / 2
      |         ELSE 0.0 END AS prim,
      |    -- prisoner indel: identical strings -> 100; empty or "-1"
      |    -- sentinel on either side -> not comparable
      |    CASE o_orderkey % 4 WHEN 0 THEN 100.0 ELSE -1.0 END AS pris,
      |    -- date_similarity per class: +1 year -> 100 - (5^1 - 1) = 96
      |    -- with month/day equal; unparseable -> -1; all-zero parts are
      |    -- each excluded so "00000000" scores a full 100 (q53 pins the
      |    -- kernel itself; these are its outputs on the class literals)
      |    CASE o_orderkey % 5 WHEN 1 THEN 100.0 - (power(5, 1) - 1.0)
      |         WHEN 2 THEN -1.0 ELSE 100.0 END AS dsim,
      |    -- simple_date_matcher replayed on the class literals through
      |    -- the same [1-9]\d* tokenizer ("19430312" is ONE token; "n/a"
      |    -- has none; "00000000" fails __not_empty -> -1)
      |    CASE o_orderkey % 5
      |      WHEN 0 THEN least(3, len(list_filter(
      |             regexp_extract_all('19430312', '[1-9][0-9]*'),
      |             p -> list_contains(regexp_extract_all('19430312', '[1-9][0-9]*'), p)))) / 3.0 * 100.0
      |      WHEN 1 THEN least(3, len(list_filter(
      |             regexp_extract_all('19430312', '[1-9][0-9]*'),
      |             p -> list_contains(regexp_extract_all('19440312', '[1-9][0-9]*'), p)))) / 3.0 * 100.0
      |      WHEN 2 THEN least(3, len(list_filter(
      |             regexp_extract_all('19430312', '[1-9][0-9]*'),
      |             p -> list_contains(regexp_extract_all('n/a', '[1-9][0-9]*'), p)))) / 3.0 * 100.0
      |      WHEN 3 THEN -1.0
      |      ELSE least(3, len(list_filter(
      |             regexp_extract_all('12.03.1943', '[1-9][0-9]*'),
      |             p -> list_contains(regexp_extract_all('12.03.1943', '[1-9][0-9]*'), p)))) / 3.0 * 100.0
      |      END AS dsimple,
      |    CASE o_orderkey % 2 WHEN 0 THEN 100.0 ELSE -1.0 END AS pob
      |  FROM orders),
      |combined AS (
      |  SELECT o_orderkey, prim, pob,
      |    -- secondary, full config: date is clamped (always kept), the
      |    -- prisoner joins the mean only when comparable
      |    CASE WHEN pris >= 0 THEN (pris + greatest(0.0, dsim)) / 2
      |         ELSE greatest(0.0, dsim) END AS sec_full,
      |    CASE WHEN pris >= 0 THEN pris ELSE 0.0 END AS sec_no_date,
      |    greatest(0.0, dsim) AS sec_date_only,
      |    0.0 AS sec_none,
      |    CASE WHEN pris >= 0 THEN (pris + greatest(0.0, dsimple)) / 2
      |         ELSE greatest(0.0, dsimple) END AS sec_simple
      |  FROM scores)
      |SELECT o_orderkey,
      |  CASE WHEN pob >= 0
      |       THEN 3.0/4 * (2.0/3 * prim + 1.0/3 * sec_full) + 1.0/4 * pob
      |       ELSE 2.0/3 * prim + 1.0/3 * sec_full END AS score_full,
      |  prim AS score_name_only,
      |  CASE WHEN pob >= 0
      |       THEN 3.0/4 * (2.0/3 * prim + 1.0/3 * sec_no_date) + 1.0/4 * pob
      |       ELSE 2.0/3 * prim + 1.0/3 * sec_no_date END AS score_no_date,
      |  2.0/3 * prim + 1.0/3 * sec_date_only AS score_date_only,
      |  CASE WHEN pob >= 0
      |       THEN 3.0/4 * (2.0/3 * prim + 1.0/3 * sec_none) + 1.0/4 * pob
      |       ELSE 2.0/3 * prim + 1.0/3 * sec_none END AS score_no_secondary,
      |  CASE WHEN pob >= 0
      |       THEN 3.0/4 * (2.0/3 * prim + 1.0/3 * sec_simple) + 1.0/4 * pob
      |       ELSE 2.0/3 * prim + 1.0/3 * sec_simple END AS score_simple_date
      |FROM combined
      |ORDER BY o_orderkey""".stripMargin

  /** E13/E14/E15 oracle-backed at table scale (all three cluster tools
    * were pass-G only). One row-grain result over a constructed
    * clustering of the orders keys:
    *  - E13 `clean_td_cases`: every fifth row carries a TD number (and
    *    every fifth-plus-one the `-` NA sentinel, which must NOT
    *    re-segment) — the output column shows TD rows leaving their
    *    computed cluster for the atomic `td:` cluster;
    *  - E14 `merge_clusterings`: assignment A groups keys by /8, B by
    *    /16 — every component is provably one 16-block (B nests two A
    *    blocks), and the deterministic representative is the
    *    lexicographic min row-id string (digit vids always sort below
    *    the `c1:`/`c2:` label vertices), which SQL derives as
    *    `min(k::VARCHAR) OVER (PARTITION BY k // 16)`;
    *  - E15 `cluster_integrety`: clusters are the /2 blocks (≤ 2
    *    members by construction, so every per-member reduction is a
    *    1-or-2-element FP-order-free aggregate); blocks holding a
    *    k%4==1 member pair an identical person with a +1-year dob →
    *    every metric reads the E6 combine 2/3·100 + 1/3·96 computed
    *    with the same IEEE association in SQL; singletons and
    *    variant-free pairs read exactly 100.
    */
  private def q60(spark: SparkSession, dir: String): DataFrame = {
    import graft.linkage.Clustering
    // ScaleKnob so the bench scaling/sf1 passes can grow the cluster-
    // tools corpus (identity on every driver/Verify run: frac 1,
    // replicate 1). Replicated ids stay contiguous (id·n + k over all
    // k < n covers 0..nN-1), so the /2, /8, /16 block constructions
    // keep their shapes at every factor.
    val o = graft.core.ScaleKnob.sample(Tables.orders(spark, dir), "o_orderkey")
    val k = col("o_orderkey")
    val persons = o.select(k.as("id"),
        lit("hans").as("strGName_processed"), lit("muler").as("strLName_processed"),
        when(pmod(k, lit(4)) === 1, lit("19440312"))
          .otherwise(lit("19430312")).as("strDoB_processed"),
        concat(lit("c"), floor(k / 2).cast("long")).as("cluster_id"),
        when(pmod(k, lit(5)) === 0, concat(lit("TD"), pmod(k, lit(97))))
          .when(pmod(k, lit(5)) === 1, lit("-"))
          .otherwise(lit(null).cast("string")).as("TD_number"))
      // single parquet split at bench SFs (see q52's note)
      .repartition(spark.sparkContext.defaultParallelism, col("id"))
    val td = Clustering.cleanTdCases(persons)
      .select(col("id"), col("cluster_id").as("td_cluster"))
    val l1 = o.select(k.as("id"), concat(lit("a"), floor(k / 8).cast("long")).as("cluster_id"))
    val l2 = o.select(k.as("id"), concat(lit("b"), floor(k / 16).cast("long")).as("cluster_id"))
    val merged = Clustering.mergeClusterings(l1, l2)
      .select(col("id"), col("cluster_id").as("merged_cluster"))
    val quality = Clustering.clusterQuality(persons.drop("TD_number"))
    persons.select(col("id"), col("cluster_id"))
      .join(td, "id").join(merged, "id").join(quality, "cluster_id")
      .select(col("id"), col("td_cluster"), col("merged_cluster"),
        col("size"), col("average"), col("average_link"),
        col("single_link"), col("max_link"))
      // checkpoint before orderBy (r22): the range sampler re-executes
      // the clusterQuality kernel pass and the three attach joins
      // otherwise (profiled as two identical ~9 s-CPU stages)
      .trackedCheckpoint()
      .orderBy(col("id"))
  }
  private val q60Sql =
    """WITH src AS (
      |  SELECT o_orderkey AS k FROM orders),
      |blocks AS (
      |  SELECT k,
      |    count(*) OVER (PARTITION BY k // 2) AS n,
      |    max(CASE WHEN k % 4 = 1 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY k // 2) AS v,
      |    min(k::VARCHAR) OVER (PARTITION BY k // 16) AS m16
      |  FROM src)
      |SELECT k AS id,
      |  CASE WHEN k % 5 = 0 THEN 'td:TD' || (k % 97)::VARCHAR
      |       ELSE 'c' || (k // 2)::VARCHAR END AS td_cluster,
      |  m16 AS merged_cluster,
      |  n::INT AS size,
      |  -- an IDENTICAL pair still runs the kernel: 2/3*100 + 1/3*100 =
      |  -- 99.999999999999986 in IEEE doubles (the q22 rounding note) —
      |  -- only a true singleton would read the literal 100.0, and the
      |  -- contiguous key space provably has none (every /2 block is
      |  -- full), mirroring the Scala Seq(100.0) branch being dead here
      |  CASE WHEN n = 1 THEN 100.0
      |       WHEN v = 0 THEN 2.0/3 * 100.0 + 1.0/3 * 100.0
      |       ELSE 2.0/3 * 100.0 + 1.0/3 * 96.0 END AS average,
      |  CASE WHEN n = 1 THEN 100.0
      |       WHEN v = 0 THEN 2.0/3 * 100.0 + 1.0/3 * 100.0
      |       ELSE 2.0/3 * 100.0 + 1.0/3 * 96.0 END AS average_link,
      |  CASE WHEN n = 1 THEN 100.0
      |       WHEN v = 0 THEN 2.0/3 * 100.0 + 1.0/3 * 100.0
      |       ELSE 2.0/3 * 100.0 + 1.0/3 * 96.0 END AS single_link,
      |  CASE WHEN n = 1 THEN 100.0
      |       WHEN v = 0 THEN 2.0/3 * 100.0 + 1.0/3 * 100.0
      |       ELSE 2.0/3 * 100.0 + 1.0/3 * 96.0 END AS max_link
      |FROM blocks
      |ORDER BY id""".stripMargin

  /** J4 (`allow_duplicates=False`, matching.py:87-93) oracle-backed by
    * construction: TWO source transcriptions per person — an identical
    * copy and a dob+1-year variant — matched against ONE target copy.
    * Every source's top-1 is its own person (identical: exactly 100
    * after the 6dp round; variant: ~99.5 vs ≤ ~98.4 for any other
    * same-name target, the q23 bound argument), so both copies of a
    * person hit the same target and the dedupe keeps the 100. The
    * variant therefore loses its ONLY match and must be re-sentineled
    * to `(-1, null)` — the branch q22 (allow_duplicates=true) never
    * runs. Every-fourth part key only, to bound the candidate volume
    * (the full-corpus variant measured 7.4 s at sf0.1 — J4's branch
    * needs the dedupe semantics exercised, not a second q22-scale
    * join).
    */
  private def q61(spark: SparkSession, dir: String): DataFrame = {
    val p = persons(spark, dir).filter(pmod(col("pid"), lit(4)) === 0)
    val trg = p.withColumnRenamed("pid", "trgID")
    val srcIdentical = p.select((col("pid") * 2).as("srcID"),
      col("strGName_processed"), col("strLName_processed"),
      col("strDoB_processed"), col("strPoB_processed"), col("prisoner_number"))
    val srcVariant = p.select((col("pid") * 2 + 1).as("srcID"),
      col("strGName_processed"), col("strLName_processed"),
      concat((substring(col("strDoB_processed"), 1, 4).cast("int") + 1).cast("string"),
        substring(col("strDoB_processed"), 5, 4)).as("strDoB_processed"),
      col("strPoB_processed"), col("prisoner_number"))
    val m = PersonMatching.personMatching(
      srcIdentical.unionByName(srcVariant), trg,
      MatchConfig(topN = 1, minScore = 80.0, allowDuplicates = false))
    m.withColumn("score", round(col("score"), 6)).orderBy(col("srcID"))
  }
  private val q61Sql =
    """WITH base AS (
      |  SELECT p_partkey FROM part
      |  WHERE length(split_part(p_name, ' ', 1)) >= 2
      |    AND length(split_part(p_name, ' ', 2)) >= 2
      |    AND p_partkey % 4 = 0)
      |SELECT srcID, score, trgID FROM (
      |  SELECT p_partkey * 2 AS srcID, CAST(100.0 AS DOUBLE) AS score,
      |         p_partkey AS trgID
      |  FROM base
      |  UNION ALL
      |  SELECT p_partkey * 2 + 1 AS srcID, CAST(-1.0 AS DOUBLE) AS score,
      |         CAST(NULL AS BIGINT) AS trgID
      |  FROM base)
      |ORDER BY srcID""".stripMargin

  /** E11 `known-cluster seeding` oracle-backed (pass-G only): rows
    * sharing a non-empty known-cluster key become edges. Key classes
    * over the orders ids: k%4==0 shares `K<k/8>` with its 8-block
    * partner (exactly one seeded edge per full block), k%4==1 carries
    * the `-` NA sentinel and k%4==2 a NULL (both must seed NOTHING —
    * the sentinel-filter branch), k%4==3 a unique key (no partner).
    * The oracle derives the surviving (8i, 8i+4) pairs directly from
    * the key space, including tail blocks where the partner is absent.
    */
  private def q64(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val k = col("o_orderkey")
    val cls = pmod(k, lit(4))
    val persons = o.select(k.as("id"),
        when(cls === 0, concat(lit("K"), floor(k / 8).cast("long")))
          .when(cls === 1, lit("-"))
          .when(cls === 2, lit(null).cast("string"))
          .otherwise(concat(lit("U"), k.cast("string"))).as("known_key"))
      .repartition(spark.sparkContext.defaultParallelism, col("id"))
    graft.linkage.Clustering.knownClusterEdges(persons, "known_key")
      .orderBy(col("a"), col("b"))
  }
  private val q64Sql =
    """WITH keys AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 4 = 0)
      |SELECT l.k AS a, r.k AS b
      |FROM keys l JOIN keys r
      |  ON l.k // 8 = r.k // 8 AND l.k < r.k
      |ORDER BY a, b""".stripMargin

  val defs: Seq[Q] = Seq(
    Q("q22_person_match_self", q22, Some(q22Sql)),
    Q("q23_person_clustering", q23, Some(clusterHistogramSql)),
    Q("q34_minhash_preclustering", q34, Some(clusterHistogramSql)),
    Q("q51_jaro_similarity", q51, Some(q51Sql)),
    Q("q53_date_similarity", q53, Some(q53Sql)),
    Q("q54_person_config_matrix", q54, Some(q54Sql)),
    Q("q60_cluster_tools_matrix", q60, Some(q60Sql)),
    Q("q61_dedupe_targets", q61, Some(q61Sql)),
    Q("q64_known_cluster_edges", q64, Some(q64Sql)))
}

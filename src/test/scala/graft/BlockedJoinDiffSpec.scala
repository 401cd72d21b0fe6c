package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.Random
import graft.linkage.PersonMatching
import graft.linkage.PersonMatching.MatchConfig
import graft.similarity.Similarity

/** Differential spec for the blocked join. `PersonMatching` scores every
  * bucket-join emission with the person structs carried through the
  * bucket explode, then deduplicates only the kept pairs. The oracle is
  * the retired shape, kept here: a narrow `(id, fb, lb)` explode under
  * the same cap, a distinct over `(srcID, trgID)`, then the attach joins
  * of `PersonMatching.scorePairs`. The top-k, target dedup and sentinel
  * steps of `personMatching` are replayed on the driver over the oracle's
  * pairs.
  *
  * The corpora are seeded: rows are noisy copies of a few entities with
  * multi-token names (so pairs share two or more buckets), nulls, empty
  * values and the `00000000`/`-1` sentinels, and the cap is small enough
  * to drop a pair's membership in one shared bucket but not in another.
  */
class BlockedJoinDiffSpec extends SparkSpec {
  private val session = SparkSpec.spark
  import session.implicits._

  private val blanks = Array[String](null, "", "00000000", "-1", "-1.0")
  private val givens = Array("hans", "hanz", "hans peter", "peter hans", "anna",
    "anne", "anna maria", "maria anna", "maria", "marta", "johan peter", "johann")
  private val lasts = Array("muler", "mulder", "novak", "nowak", "van der berg",
    "berg van", "schmidt", "schmitt", "kovac", "kovacs")
  private val places = Array("berlin", "berlin hamburg", "hamburg", "krakov", "lodz")
  private val dates = Array("19430312", "19430313", "12.03.1943", "19200101",
    "19200101.0", "19350607", "19350706", "19430000")

  private type Row6 = (Long, String, String, String, String, String)

  private def corpus(seed: Int, n: Int, idBase: Long): Seq[Row6] = {
    val rnd = new Random(seed)
    def pick(pool: Array[String], blankOdds: Int): String =
      if (rnd.nextInt(blankOdds) == 0) blanks(rnd.nextInt(blanks.length))
      else pool(rnd.nextInt(pool.length))
    def prisoner(): String =
      if (rnd.nextInt(6) == 0) blanks(rnd.nextInt(blanks.length))
      else (100 + rnd.nextInt(12)).toString
    def fresh(): Row6 = (0L, pick(givens, 25), pick(lasts, 25), pick(dates, 6),
      pick(places, 6), prisoner())
    val entities = Array.fill(24)(fresh())
    (0 until n).map { i =>
      val e = entities(rnd.nextInt(entities.length))
      val f = fresh()
      def keep(a: String, b: String) = if (rnd.nextInt(4) == 0) b else a
      (idBase + i, keep(e._2, f._2), keep(e._3, f._3), keep(e._4, f._4),
        keep(e._5, f._5), keep(e._6, f._6))
    }
  }

  private val cols = Seq("id", "strGName_processed", "strLName_processed",
    "strDoB_processed", "strPoB_processed", "prisoner_number")
  private val pRows = corpus(11, 160, 1L)
  private val qRows = corpus(12, 120, 1000L)
  private val p = pRows.toDF(cols: _*)
  private val q = qRows.toDF(cols: _*)
  private def asSrc(df: DataFrame) = df.withColumnRenamed("id", "srcID")
  private def asTrg(df: DataFrame) = df.withColumnRenamed("id", "trgID")

  private val cap = 4
  private val base = MatchConfig(minScore = 75.0, maxBucketSize = cap)

  /** The retired candidate path, emissions before the distinct. */
  private def oracleEmissions(src: DataFrame, trg: DataFrame, cfg: MatchConfig,
      pred: Column): DataFrame = {
    def exploded(df: DataFrame, id: String) = {
      val e = df
        .select(col(id),
          explode(PersonMatching.bucketKeys(col(cfg.gnameCol), cfg.idxChars, cfg.lenUnits)).as("fb"),
          col(cfg.lnameCol))
        .select(col(id), col("fb"),
          explode(PersonMatching.bucketKeys(col(cfg.lnameCol), cfg.idxChars, cfg.lenUnits)).as("lb"))
      val w = Window.partitionBy(col("fb"), col("lb")).orderBy(hash(col(id)), col(id))
      e.withColumn("__rank", row_number().over(w))
        .filter(col("__rank") <= cfg.maxBucketSize)
        .drop("__rank")
    }
    exploded(src, "srcID").join(exploded(trg, "trgID"), Seq("fb", "lb"))
      .select("srcID", "trgID").filter(pred)
  }

  private def oracleScored(src: DataFrame, trg: DataFrame, cfg: MatchConfig,
      pred: Column): Set[(Long, Double, Long)] =
    triples(PersonMatching.scorePairs(oracleEmissions(src, trg, cfg, pred).distinct(),
      src, trg, cfg))

  private def triples(df: DataFrame): Set[(Long, Double, Long)] = {
    val rows = df.collect().map(r =>
      (r.getAs[Long]("srcID"), r.getAs[Double]("score"), r.getAs[Long]("trgID")))
    assert(rows.length === rows.toSet.size)
    rows.toSet
  }

  /** `personMatching`'s top-k, target dedup and sentinels over `scored`. */
  private def oracleMatching(scored: Set[(Long, Double, Long)], srcIds: Seq[Long],
      cfg: MatchConfig): Set[(Long, Double, Option[Long])] = {
    val topK = scored.toSeq.groupBy(_._1).values
      .flatMap(_.sortBy(r => (-r._2, r._3)).take(cfg.topN)).toSeq
    val kept =
      if (cfg.allowDuplicates) topK
      else topK.groupBy(_._3).values.map(_.minBy(r => (-r._2, r._1))).toSeq
    val matched = kept.map(_._1).toSet
    kept.map(r => (r._1, r._2, Option(r._3))).toSet ++
      srcIds.filterNot(matched).map(s => (s, -1.0, Option.empty[Long]))
  }

  private def matching(df: DataFrame): Set[(Long, Double, Option[Long])] = {
    val rows = df.collect().map(r => (r.getAs[Long]("srcID"), r.getAs[Double]("score"),
      if (r.isNullAt(2)) None else Some(r.getAs[Long]("trgID"))))
    assert(rows.length === rows.toSet.size)
    rows.toSet
  }

  test("the corpora reach the cases the dedup and the cap must get right") {
    val pred = col("srcID") <= col("trgID")
    def counts(cfg: MatchConfig) = oracleEmissions(asSrc(p), asTrg(p), cfg, pred)
      .groupBy("srcID", "trgID").count().collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val capped = counts(base)
    val uncapped = counts(base.copy(maxBucketSize = Int.MaxValue))
    assert(capped.values.exists(_ >= 2), "no kept pair shares two surviving buckets")
    assert(capped.exists { case (k, n) => uncapped(k) > n },
      "the cap never drops one shared bucket of a pair that survives in another")
    assert(uncapped.keySet.exists(k => !capped.contains(k)), "the cap never drops a pair")
    assert(pRows.exists(r => r._2 == null) && pRows.exists(r => r._4 == "00000000") &&
      pRows.exists(r => r._6 == "-1") && pRows.exists(r => r._5 == ""))
  }

  test("scoredPairs equals the distinct-then-attach path, without repeated pairs") {
    val cases = Seq(
      ("cross, lit(true)", p, q, lit(true), base),
      ("self, <", p, p, col("srcID") < col("trgID"), base),
      ("self, <=", p, p, col("srcID") <= col("trgID"), base),
      ("cross, uncapped", p, q, lit(true), base.copy(maxBucketSize = 10000)),
      ("cross, nameOnly", p, q, lit(true), base.copy(nameOnly = true, minScore = 70.0)),
      ("cross, simple date", p, q, lit(true), base.copy(useSimpleDateMatcher = true)))
    val byId = (pRows ++ qRows).map(r => r._1 -> Similarity.Person(r._2, r._3, r._4, r._5, r._6)).toMap
    for ((name, s, t, pred, cfg0) <- cases; expr <- Seq(false, true)) {
      val cfg = cfg0.copy(useExpressionScorer = expr)
      val (src, trg) = (asSrc(s), asTrg(t))
      val oracle = oracleScored(src, trg, cfg, pred)
      val got = triples(PersonMatching.scoredPairs(src, trg, cfg, pred))
      assert(oracle.nonEmpty, s"$name: nothing reaches the cutoff")
      assert(got === oracle, s"$name, expression scorer = $expr")
      // the oracle shares the scorer with the path under test, so its
      // scores are also checked against the kernel on the driver
      oracle.foreach { case (a, score, b) =>
        val exact = Similarity.personSimilarity(byId(a), byId(b), nameOnly = cfg.nameOnly,
          dateMatcher =
            if (cfg.useSimpleDateMatcher) Similarity.simpleDateMatcher else Similarity.dateSimilarity)
        assert(score === exact, s"$name, expression scorer = $expr: ($a, $b)")
      }
    }
  }

  test("personMatching equals top-k over the oracle's pairs for every topN and target dedup") {
    val (src, trg) = (asSrc(p), asTrg(q))
    val scored = oracleScored(src, trg, base, lit(true))
    for (topN <- Seq(1, 3, Int.MaxValue); allowDuplicates <- Seq(true, false)) {
      val cfg = base.copy(topN = topN, allowDuplicates = allowDuplicates)
      assert(matching(PersonMatching.personMatching(src, trg, cfg)) ===
        oracleMatching(scored, pRows.map(_._1), cfg), s"topN $topN, allowDuplicates $allowDuplicates")
    }
    val exprCfg = base.copy(topN = 3, useExpressionScorer = true)
    assert(matching(PersonMatching.personMatching(src, trg, exprCfg)) ===
      oracleMatching(oracleScored(src, trg, exprCfg, lit(true)), pRows.map(_._1), exprCfg))
  }

  test("selfJoinMirror equals top-k over the oracle's full self-join") {
    val (src, trg) = (asSrc(p), asTrg(p))
    for ((topN, expr) <- Seq((1, false), (3, false), (Int.MaxValue, false), (3, true))) {
      val cfg = base.copy(topN = topN, useExpressionScorer = expr)
      val want = oracleMatching(oracleScored(src, trg, cfg, lit(true)), pRows.map(_._1), cfg)
      assert(matching(PersonMatching.personMatching(src, trg, cfg.copy(selfJoinMirror = true))) ===
        want, s"topN $topN, expression scorer = $expr")
    }
  }
}

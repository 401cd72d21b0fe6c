package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random
import graft.similarity.Similarity
import graft.similarity.Similarity.Person

/** Exactness of the cutoff-first person scorer: with a `minScore`, the
  * kernel may return a bound instead of the score, but only below the
  * cutoff — `s_m >= m` holds exactly when `s >= m`, and every score at or
  * above the cutoff is the exact one, bit for bit.
  */
class PersonCutoffSpec extends AnyFunSuite {

  private val cutoffs =
    Seq(Double.NegativeInfinity, 0.0, 50.0, 80.0, 85.0, 100.0)

  // absent and sentinel values ride along with real ones in every field
  private val blanks = Array[String](null, "", "00000000", "-1", "-1.0")
  private val names = Array("hans", "hanz", "muler", "müller", "schvarz",
    "peterson", "petersen", "novak", "johan peter", "anna maria luise",
    "maria anna", "krakov", "van der berg")
  private val places = Array("berlin", "berlin hamburg", "frankfurt am main",
    "frankfurt", "krakov", "varszava lodz", "lodz")

  private def pick(rnd: Random, pool: Array[String]): String =
    if (rnd.nextInt(6) == 0) blanks(rnd.nextInt(blanks.length))
    else pool(rnd.nextInt(pool.length))

  private def date(rnd: Random): String = rnd.nextInt(8) match {
    case 0 => blanks(rnd.nextInt(blanks.length))
    case 1 => "bogus"
    case 2 => f"${1900 + rnd.nextInt(50)}%04d0000"
    case 3 => f"${rnd.nextInt(29)}%02d.${rnd.nextInt(13)}%02d.${1900 + rnd.nextInt(50)}%04d"
    case _ =>
      f"${1900 + rnd.nextInt(50)}%04d${rnd.nextInt(13)}%02d${rnd.nextInt(29)}%02d" +
        (if (rnd.nextBoolean()) "" else ".0")
  }

  private def prisoner(rnd: Random): String =
    if (rnd.nextInt(6) == 0) blanks(rnd.nextInt(blanks.length))
    else (100 + rnd.nextInt(900)).toString

  private def person(rnd: Random): Person =
    Person(pick(rnd, names), pick(rnd, names), date(rnd), pick(rnd, places), prisoner(rnd))

  /** A partner that keeps each field of `a` with even odds, so pairs land
    * on both sides of every cutoff (identical ones score 100).
    */
  private def partner(rnd: Random, a: Person): Person = {
    def keep[T](x: T, y: => T): T = if (rnd.nextBoolean()) x else y
    if (rnd.nextInt(8) == 0) a
    else Person(keep(a.gname, pick(rnd, names)), keep(a.lname, pick(rnd, names)),
      keep(a.dob, date(rnd)), keep(a.pob, pick(rnd, places)),
      keep(a.prisonerNumber, prisoner(rnd)))
  }

  test("cutoff-first scoring agrees with the exact score at and above every cutoff") {
    val rnd = new Random(0x5c0e)
    val pairs = Array.fill(600) { val a = person(rnd); (a, partner(rnd, a)) }
    val bits = java.lang.Double.doubleToRawLongBits _
    var pruned = 0 // pairs whose returned value is a bound, not the score
    var kept = 0
    for {
      nameOnly <- Seq(false, true)
      simple <- Seq(false, true)
      useDate <- Seq(true, false)
      usePrisoner <- Seq(true, false)
      usePob <- Seq(true, false)
      nonNamesOptional <- Seq(false, true)
      (a, b) <- pairs
    } {
      val dm: (String, String) => Double =
        if (simple) Similarity.simpleDateMatcher else Similarity.dateSimilarity
      def score(m: Double) = Similarity.personSimilarity(a, b, useDate, usePrisoner,
        usePob, nameOnly, nonNamesOptional, dm, minScore = m)
      val s = Similarity.personSimilarity(a, b, useDate, usePrisoner, usePob,
        nameOnly, nonNamesOptional, dm)
      for (m <- cutoffs) {
        val sm = score(m)
        def ctx = s"m=$m s=$s s_m=$sm flags=($nameOnly,$simple,$useDate,$usePrisoner," +
          s"$usePob,$nonNamesOptional) pair=($a, $b)"
        if ((sm >= m) != (s >= m)) fail(s"cutoff side differs: $ctx")
        if (s >= m) {
          if (bits(sm) != bits(s)) fail(s"score at or above the cutoff differs: $ctx")
          kept += 1
        } else {
          if (sm < s) fail(s"the bound undercuts the score: $ctx")
          if (bits(sm) != bits(s)) pruned += 1
        }
      }
    }
    // both sides of the cutoff were exercised, and the bound path was taken
    assert(pruned > 0 && kept > 0, s"pruned=$pruned kept=$kept")
  }

  test("the bound is returned only below the cutoff and never undercuts the score") {
    // cheap terms far apart: date a century off, other prisoner and
    // birthplace, so even a perfect name score cannot reach 80
    val a = Person("hans", "muler", "19430312", "berlin", "111")
    val b = Person("hans", "muler", "18430312", "lodz", "999")
    val s = Similarity.personSimilarity(a, b)
    val sm = Similarity.personSimilarity(a, b, minScore = 80.0)
    assert(s < 80.0 && sm < 80.0)
    assert(sm >= s)
    // same pair with different names: the bound does not depend on them
    val c = b.copy(gname = "zzz", lname = "qqq")
    assert(Similarity.personSimilarity(a, c, minScore = 80.0) === sm)
    assert(Similarity.personSimilarity(a, c) < sm)
  }
}

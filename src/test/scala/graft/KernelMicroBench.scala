package graft

import org.apache.spark.unsafe.types.UTF8String
import graft.expressions.FuzzKernels
import graft.similarity.Similarity

/** Spark-free A/B harness for the scoring kernels (r22; test-scope main,
  * same convention as CaseSweep). Two modes, each in a single warmed JVM,
  * which is the window-insensitive measure the Spark-level profiles could
  * not give (per-core speed on a shared 4-vCPU guest swings 2× between
  * runs):
  *
  *   sbt 'Test/runMain graft.KernelMicroBench [equalFrac]'
  *   sbt 'Test/runMain graft.KernelMicroBench person [twinFrac]'
  *
  * The default mode measures the equal-input fast path in
  * FuzzKernels.tokenSetRatio/indelRatio over a q22/q34-shaped pair
  * corpus — a controllable mix of exactly-equal cells (twins) and
  * co-bucketed unequal cells. Recorded A/B (median of 5×500 passes,
  * `sink` bit-identical on both sides): equalFrac 0.1 → 1772 vs 1871 ms,
  * 0.5 → 1034 vs 1215 ms, 0.9 → 376 vs 668 ms (fast path vs without).
  *
  * `person` measures per-pair ns of Similarity.personSimilarity without
  * and with the cutoff-first bound (`minScore = 80`), over blocked
  * candidates: a `twinFrac` share of noisy copies, the rest strangers
  * sharing the bucket's 2-character name prefix, so most pairs fall
  * below the cutoff as in the blocked join. Recorded on a 4-vCPU KVM
  * guest (median of 11 alternating passes over 65,536 pairs, kept scores
  * bit-identical): twinFrac 0.05 → 1593 vs 643 ns per pair, 0.5 → 1042
  * vs 787 ns (exact vs cutoff 80).
  */
object KernelMicroBench {
  def main(args: Array[String]): Unit =
    if (args.headOption.contains("person"))
      person(if (args.length > 1) args(1).toDouble else 0.05)
    else ratio(if (args.nonEmpty) args(0).toDouble else 0.5)

  private def ratio(equalFrac: Double): Unit = {
    val rnd = new scala.util.Random(0xbe7c)
    val vocab = Array("hans", "muler", "schvarz", "peterson", "novak",
      "gate", "berlin hamburg", "frankfurt am main", "johan peter",
      "anna maria luise", "krakov", "varszava lodz")
    val n = 4096
    val pairs = Array.tabulate(n) { _ =>
      val a = vocab(rnd.nextInt(vocab.length))
      val b = if (rnd.nextDouble() < equalFrac) a else vocab(rnd.nextInt(vocab.length))
      (UTF8String.fromString(a), UTF8String.fromBytes(UTF8String.fromString(b).getBytes.clone))
    }
    var sink = 0.0
    def pass(iters: Int): Long = {
      val t0 = System.nanoTime()
      var it = 0
      while (it < iters) {
        var i = 0
        while (i < n) {
          val (a, b) = pairs(i)
          sink += FuzzKernels.tokenSetRatio(a, b)
          sink += FuzzKernels.indelRatio(a, b)
          i += 1
        }
        it += 1
      }
      System.nanoTime() - t0
    }
    pass(200) // warm-up
    val reps = 5
    val times = (0 until reps).map(_ => pass(500) / 1e6)
    println(f"equalFrac=$equalFrac median_ms=${times.sorted.apply(reps / 2)}%.1f all=${times.map(t => f"$t%.1f").mkString(",")} sink=$sink%.1f")
  }

  private def person(twinFrac: Double): Unit = {
    import Similarity.Person
    val rnd = new scala.util.Random(0x9e45)
    val syl = Array("an", "ber", "ko", "mar", "ni", "sch", "ta", "vel", "ro",
      "hel", "du", "lin", "ska", "ov", "ger", "wa", "mi", "tz", "el", "ra")
    def word(k: Int) = Array.fill(k)(syl(rnd.nextInt(syl.length))).mkString
    val places = Array.fill(40)(word(3))
    def date() = f"${1880 + rnd.nextInt(50)}%04d${1 + rnd.nextInt(12)}%02d${1 + rnd.nextInt(28)}%02d"
    def stranger() = Person(word(2), word(3), date(),
      places(rnd.nextInt(places.length)), (1 + rnd.nextInt(200000)).toString)
    def typo(s: String) = {
      val i = rnd.nextInt(s.length)
      s.substring(0, i) + syl(rnd.nextInt(syl.length)).charAt(0) + s.substring(i + 1)
    }
    // more distinct name pairs than the kernels' per-thread memo holds,
    // so the token-set kernels run rather than hit
    val n = 1 << 16
    val pairs = Array.fill(n) {
      val s = stranger()
      val t =
        if (rnd.nextDouble() < twinFrac) s.copy(gname = typo(s.gname), lname = typo(s.lname))
        else {
          val o = stranger()
          o.copy(gname = s.gname.take(2) + o.gname.drop(2), lname = s.lname.take(2) + o.lname.drop(2))
        }
      (s, t)
    }
    val cutoff = 80.0
    // sum and count of the scores the `>= cutoff` filter keeps: must
    // agree bit for bit between the two modes
    def pass(minScore: Double): (Long, Double, Int) = {
      var kept = 0.0
      var nKept = 0
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) {
        val (a, b) = pairs(i)
        val s = Similarity.personSimilarity(a, b, minScore = minScore)
        if (s >= cutoff) { kept += s; nKept += 1 }
        i += 1
      }
      (System.nanoTime() - t0, kept, nKept)
    }
    for (_ <- 0 until 10) { pass(Double.NegativeInfinity); pass(cutoff) } // warm-up
    val reps = 11
    val runs = (0 until reps).map(_ => (pass(Double.NegativeInfinity), pass(cutoff)))
    def med(xs: Seq[Long]) = xs.sorted.apply(reps / 2).toDouble / n
    val (full, pruned) = (runs.map(_._1), runs.map(_._2))
    require(runs.forall { case (a, b) => a._2 == b._2 && a._3 == b._3 },
      "kept scores differ between the exact and the cutoff-first kernel")
    println(f"twinFrac=$twinFrac pairs=$n kept=${full.head._3} " +
      f"exact_ns_per_pair=${med(full.map(_._1))}%.0f " +
      f"cutoff80_ns_per_pair=${med(pruned.map(_._1))}%.0f kept_sum=${full.head._2}%.3f")
  }
}

package graft

import org.apache.spark.unsafe.types.UTF8String
import graft.expressions.FuzzKernels
import graft.similarity.Similarity

/** A/B harness for the scoring and bucketing kernels (r22; test-scope
  * main, same convention as CaseSweep). Three modes, each in a single
  * warmed JVM and called directly, with no Spark job (`buckets` starts a
  * one-core session only to analyze the retired chain), which is the
  * window-insensitive measure the Spark-level profiles could not give
  * (per-core speed on a shared 4-vCPU guest swings 2× between runs):
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
  * `person` measures per-pair ns of the person scorer over blocked
  * candidates: a `twinFrac` share of noisy copies, the rest strangers
  * sharing the bucket's 2-character name prefix, so most pairs fall
  * below the cutoff as in the blocked join, with birthplaces drawn from
  * 4,000 places so that, as in a match batch, tens of thousands of
  * birthplace pairs are distinct. Four columns: the String kernel
  * `Similarity.personSimilarity` without and with the cutoff
  * (`minScore = 80`), the retired score UDF's work (ten UTF-8 decodes
  * into two `Person`s, then the String kernel with the cutoff), and the
  * blocked join's `PersonSimilarity` kernel on the two `UnsafeRow`
  * structs with the cutoff. Recorded on a 4-vCPU KVM guest (median of
  * 11 passes over 65,536 pairs, kept scores bit-identical across all
  * four): twinFrac 0.05 → 1086 / 627 / 1468 / 1042 ns per pair, 0.5 →
  * 540 / 418 / 911 / 713 ns.
  *
  *   sbt 'Test/runMain graft.KernelMicroBench buckets'
  *
  * `buckets` measures ns per name of the native `BucketKeys` kernel
  * against the retired regex/lambda chain ([[RetiredBucketKeys]]),
  * evaluated as its bound optimized expression, the interpreted form it
  * ran in, over 32,768 one- to three-token names, after asserting equal
  * keys for every name. Recorded as above: 1753 vs 144 ns per name.
  */
object KernelMicroBench {
  def main(args: Array[String]): Unit =
    if (args.headOption.contains("person"))
      person(if (args.length > 1) args(1).toDouble else 0.05)
    else if (args.headOption.contains("buckets")) buckets()
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
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    import org.apache.spark.sql.types.{DataType, StringType}
    import graft.expressions.PersonKernels
    val rnd = new scala.util.Random(0x9e45)
    val syl = Array("an", "ber", "ko", "mar", "ni", "sch", "ta", "vel", "ro",
      "hel", "du", "lin", "ska", "ov", "ger", "wa", "mi", "tz", "el", "ra")
    def word(k: Int) = Array.fill(k)(syl(rnd.nextInt(syl.length))).mkString
    // birthplaces as in the match workload: thousands of places, so the
    // pairs' birthplace combinations number in the tens of thousands
    val places = Array.fill(4000)(word(3))
    def date() = f"${1880 + rnd.nextInt(50)}%04d${1 + rnd.nextInt(12)}%02d${1 + rnd.nextInt(28)}%02d"
    def stranger() = Person(word(2), word(3), date(),
      places(rnd.nextInt(places.length)), (1 + rnd.nextInt(200000)).toString)
    def typo(s: String) = {
      val i = rnd.nextInt(s.length)
      s.substring(0, i) + syl(rnd.nextInt(syl.length)).charAt(0) + s.substring(i + 1)
    }
    val n = 1 << 16
    val pairs = Array.fill(n) {
      val s = stranger()
      val t =
        if (rnd.nextDouble() < twinFrac) s.copy(gname = typo(s.gname), lname = typo(s.lname),
          pob = if (rnd.nextBoolean()) typo(s.pob) else s.pob)
        else {
          val o = stranger()
          o.copy(gname = s.gname.take(2) + o.gname.drop(2), lname = s.lname.take(2) + o.lname.drop(2))
        }
      (s, t)
    }
    val distinctPob = pairs.map { case (a, b) => (a.pob, b.pob) }.distinct.length
    require(distinctPob >= 40000, s"only $distinctPob distinct birthplace pairs")
    // the blocked join's person structs, as UnsafeRows
    val toUnsafe = UnsafeProjection.create(Array.fill[DataType](5)(StringType))
    def struct(p: Person): InternalRow = {
      def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
      toUnsafe(InternalRow(u(p.gname), u(p.lname), u(p.dob), u(p.pob), u(p.prisonerNumber))).copy()
    }
    val rows = pairs.map { case (a, b) => (struct(a), struct(b)) }
    val flags = PersonKernels.flags(useDate = true, usePrisoner = true, usePob = true,
      nameOnly = false, simpleDate = false)
    val cutoff = 80.0
    def decoded(r: InternalRow) = {
      def f(i: Int) = if (r.isNullAt(i)) null else r.getUTF8String(i).toString
      Person(f(0), f(1), f(2), f(3), f(4))
    }
    // 0: String kernel on decoded Persons; 1: the retired score UDF's
    // work, ten decodes and a Person per side, then the String kernel;
    // 2: the expression kernel on the structs
    def score(mode: Int, i: Int, minScore: Double): Double = mode match {
      case 0 => Similarity.personSimilarity(pairs(i)._1, pairs(i)._2, minScore = minScore)
      case 1 => Similarity.personSimilarity(decoded(rows(i)._1), decoded(rows(i)._2),
        minScore = minScore)
      case _ => PersonKernels.score(rows(i)._1, rows(i)._2, flags, minScore)
    }
    // sum and count of the scores the `>= cutoff` cut keeps: must agree
    // bit for bit between all modes
    def pass(mode: Int, minScore: Double): (Long, Double, Int) = {
      var kept = 0.0
      var nKept = 0
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) {
        val s = score(mode, i, minScore)
        if (s >= cutoff) { kept += s; nKept += 1 }
        i += 1
      }
      (System.nanoTime() - t0, kept, nKept)
    }
    def all() = Seq(pass(0, Double.NegativeInfinity), pass(0, cutoff), pass(1, cutoff),
      pass(2, cutoff))
    for (_ <- 0 until 10) all() // warm-up
    val reps = 11
    val runs = (0 until reps).map(_ => all())
    def med(k: Int) = runs.map(_(k)._1).sorted.apply(reps / 2).toDouble / n
    require(runs.forall(r => r.map(x => (x._2, x._3)).distinct.size == 1),
      "kept scores differ between the exact, the cutoff-first and the expression kernel")
    val full = runs.head.head
    println(f"twinFrac=$twinFrac pairs=$n distinct_pob_pairs=$distinctPob kept=${full._3} " +
      f"exact_ns_per_pair=${med(0)}%.0f cutoff80_ns_per_pair=${med(1)}%.0f " +
      f"decoded_cutoff80_ns_per_pair=${med(2)}%.0f expression80_ns_per_pair=${med(3)}%.0f " +
      f"kept_sum=${full._2}%.3f")
  }

  /** ns per name of the native bucket-key kernel against the retired
    * regex/lambda chain, which ran interpreted (its higher-order functions
    * have no codegen), evaluated here as its bound, optimized expression.
    */
  private def buckets(): Unit = {
    import org.apache.spark.sql.{Row, SparkSession}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, BoundReference}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import graft.expressions.BucketKeys
    val spark = SparkSession.builder().master("local[1]").appName("kernel-micro-bench")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val rnd = new scala.util.Random(0xb0c8)
      val syl = Array("an", "ber", "ko", "mar", "ni", "sch", "ta", "vel", "ro", "hel")
      def word() = Array.fill(1 + rnd.nextInt(4))(syl(rnd.nextInt(syl.length))).mkString
      val n = 1 << 15
      val names = Array.fill(n)(Array.fill(1 + rnd.nextInt(3))(word()).mkString(" "))
      val (idxChars, lenUnits) = (2, 4)
      val schema = StructType(Seq(StructField("n", StringType)))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row("x"))), schema)
        .select(RetiredBucketKeys(col("n"), idxChars, lenUnits).as("k"))
      val plan = df.queryExecution.optimizedPlan.asInstanceOf[Project]
      val retired = BindReferences.bindReference(
        plan.projectList.head.asInstanceOf[Alias].child, plan.child.output)
      val native = BucketKeys(BoundReference(0, StringType, nullable = true), idxChars, lenUnits)
      val rows = names.map(s => InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(s)))
      def keys(a: Any) = {
        val d = a.asInstanceOf[ArrayData]
        (0 until d.numElements()).map(d.getUTF8String(_).toString)
      }
      rows.foreach(r => require(keys(retired.eval(r)) == keys(native.eval(r)),
        s"keys differ for '${r.getUTF8String(0)}'"))
      var sink = 0L
      def pass(e: org.apache.spark.sql.catalyst.expressions.Expression): Long = {
        val t0 = System.nanoTime()
        var i = 0
        while (i < n) { sink += e.eval(rows(i)).asInstanceOf[ArrayData].numElements(); i += 1 }
        System.nanoTime() - t0
      }
      for (_ <- 0 until 10) { pass(retired); pass(native) } // warm-up
      val reps = 11
      val runs = (0 until reps).map(_ => (pass(retired), pass(native)))
      def med(xs: Seq[Long]) = xs.sorted.apply(reps / 2).toDouble / n
      println(f"names=$n retired_ns_per_name=${med(runs.map(_._1))}%.0f " +
        f"native_ns_per_name=${med(runs.map(_._2))}%.0f sink=$sink")
    } finally spark.stop()
  }
}

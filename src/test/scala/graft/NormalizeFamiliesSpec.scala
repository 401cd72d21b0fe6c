package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.Max
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.core.SessionHygiene
import graft.normalize.{Families, Family, Processing}
import graft.sources.{Csv, Fixtures}

/** [[Families.normalize]]: every data-dependent-width family of a call
  * shares one kernel projection, one pin and one arity aggregation, and
  * a kernel behind that pin is evaluated once per row without an
  * `asNondeterministic` flag.
  */
class NormalizeFamiliesSpec extends SparkSpec {

  test("processUnpackedData pins all its families once and reads their widths in one aggregation") {
    val unpacked = Csv.pandasNaToNull(
      Csv.readStrings(spark, Fixtures.path("unpacked_enc_data.csv"), indexCol = true))
    SessionHygiene.releaseLeftovers(spark)
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = actions.add(f -> qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = Processing.processUnpackedData(unpacked,
        skipColumns = Set("updated_at", "user_id", "workflow_id", "created_at", "document_id", "id"))
      // the last-name, first-name and prisoner-number families all ran
      for (c <- Seq("last_name_cleaned_0", "first_name_cleaned_0", "prisoner_number_trim_1"))
        assert(out.columns.contains(c), out.columns.toSeq)
      out.collect()
      // listener events arrive in order, asynchronously: once the
      // collect's is in, every earlier action's is too
      def seen = actions.toArray(Array.empty[(String, QueryExecution)]).toSeq
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.exists(_._1 == "collect") && System.nanoTime() < deadline) Thread.sleep(20)
      val maxes = seen.map { case (_, qe) =>
        qe.optimizedPlan.collect { case a: Aggregate =>
          a.aggregateExpressions.flatMap(_.collect { case m: Max => m })
        }.flatten
      }.filter(_.nonEmpty)
      assert(maxes.size === 1, s"expected one arity aggregation, saw ${maxes.size}")
      assert(maxes.head.size === 3, s"one max per family: ${maxes.head}")
      assert(SessionHygiene.checkpointRdds(out).size === 1)
      assert(SessionHygiene.releaseLeftovers(spark) === 1)
      assert(out.columns.nonEmpty) // the pin stays reachable until released
    } finally spark.listenerManager.unregister(listener)
  }

  test("a kernel behind the shared pin runs once per row, read through several struct fields") {
    val s = spark
    import s.implicits._
    val calls = spark.sparkContext.longAccumulator("kernel calls")
    // a pure kernel, NOT flagged asNondeterministic
    val kernel = udf { (v: String) =>
      calls.add(1)
      (v, v.split(";").length, v.contains("x"))
    }
    val df = (0 until 240).map(i => (i.toLong, Seq.tabulate(i % 4 + 1)(j => s"x$j").mkString(";")))
      .toDF("id", "v").repartition(3)
    val family = Family(kernel(col("v")), _("_2"), (kv, k) =>
      (0 until k).map(i => s"part_$i" -> when(kv("_2") > i, split(kv("_1"), ";").getItem(i))) ++
        Seq("n" -> kv("_2"), "flag" -> (kv("_3") && kv("_2") > 0)))
    val out = Families.normalize(df, Seq(family))
    assert(out.columns.toSeq === Seq("id", "v", "part_0", "part_1", "part_2", "part_3", "n", "flag"))
    val rows = out.collect()
    assert(rows.length === 240)
    assert(rows.forall(r => r.getAs[Int]("n") === r.getAs[Long]("id") % 4 + 1))
    assert(calls.value === 240L, "the kernel ran more than once per row")
    SessionHygiene.releaseLeftovers(spark)
  }
}

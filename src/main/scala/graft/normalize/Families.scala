package graft.normalize

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.SessionHygiene.TrackedCheckpoint

/** One normalize family whose output width depends on the data
  * (`last_name_cleaned_0..k`, `prisoner_number_trim_1..k`, …): its
  * per-row `kernel`, the `arity` of one pinned kernel value, and the
  * output columns it `emit`s from the pinned kernel column at the
  * batch's width (always ≥ 1).
  */
private[graft] final case class Family(
    kernel: Column,
    arity: Column => Column,
    emit: (Column, Int) => Seq[(String, Column)])

/** The one shape every family runs through, however many families a
  * call carries: every kernel in ONE projection, pinned by ONE tracked
  * checkpoint (the kernels run exactly once per row, so they need no
  * `asNondeterministic`), every width read by ONE `max` aggregation,
  * and every output column emitted by ONE select, so the driver's job
  * count and analyzer passes do not grow with the number of families
  * (they are most of `ingest`'s driver time). Emitted names that already exist replace the column in place, the
  * rest append in emission order (`withColumn`'s semantics).
  */
private[graft] object Families {

  def normalize(df: DataFrame, families: Seq[Family]): DataFrame =
    if (families.isEmpty) df else {
      val ks = families.indices.map(i => s"__family_$i")
      val pinned = df.select(col("*") +: families.zip(ks).map { case (f, k) => f.kernel.as(k) }: _*)
        .trackedCheckpoint()
      // max() over an EMPTY (or all-null) frame aggregates to SQL NULL:
      // an empty input normalizes to an empty output at width 1
      val widths = pinned.agg(max(families.head.arity(col(ks.head))),
        families.zip(ks).tail.map { case (f, k) => max(f.arity(col(k))) }: _*).head()
      val emitted = scala.collection.mutable.LinkedHashMap(
        families.zip(ks).zipWithIndex.flatMap { case ((f, k), i) =>
          f.emit(col(k), if (widths.isNullAt(i)) 1 else math.max(widths.getInt(i), 1))
        }: _*)
      def ref(c: String): Column = col(s"`${c.replace("`", "``")}`")
      val kept = df.columns.toSeq.map(c => emitted.remove(c).fold(ref(c))(_.as(c)))
      pinned.select(kept ++ emitted.map { case (n, c) => c.as(n) }: _*)
    }
}

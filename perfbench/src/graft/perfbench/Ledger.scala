package graft.perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Task metrics summed over the jobs that ran under one job tag. */
final class TagAcc {
  var jobs = 0L
  var tasks = 0L
  var taskFailures = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWriteB = 0L
  var inputRecords = 0L
}

/** Turns the tagged task metrics of a batch into per-tag sums.
  *
  * Each job is attributed to the single benchmark tag (prefix `pb:`) that
  * was set when it was submitted, and each stage to the first job that
  * ran it. Jobs without a benchmark tag land under `untagged`. The plan
  * listener sums Catalyst's analysis, optimization and planning phases of
  * every query that ran.
  */
final class LedgerListener extends SparkListener with QueryExecutionListener {
  private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val byTag = mutable.Map.empty[String, TagAcc]
  private var planMs = 0L

  private def acc(tag: String): TagAcc = byTag.getOrElseUpdate(tag, new TagAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    val tag = tags.find(_.startsWith(Tracer.TagPrefix))
      .map(_.stripPrefix(Tracer.TagPrefix)).getOrElse("untagged")
    e.stageIds.foreach(s => stageTag.putIfAbsent(s, tag))
    synchronized(acc(tag).jobs += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tag = stageTag.getOrDefault(e.stageId, "untagged")
    val m = e.taskMetrics
    synchronized {
      val a = acc(tag)
      a.tasks += 1
      if (e.reason != Success) a.taskFailures += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        a.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum
    synchronized(planMs += ms)
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Drains the listener bus, then returns and resets the batch's sums. */
  def take(spark: SparkSession): (Map[String, TagAcc], Long) = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    synchronized {
      val out = (byTag.toMap, planMs)
      byTag.clear()
      planMs = 0L
      out
    }
  }
}

final case class Span(name: String, start: Long, end: Long, parent: Int, batch: Int)

/** Spans and job tags around the benchmark's calls into each layer.
  *
  * Untraced, [[layer]] and [[materialize]] only run their argument. Traced,
  * [[layer]] records a span and sets the layer's job tag (the innermost
  * layer's tag only, so every job carries exactly one), and [[materialize]]
  * caches a layer's output and runs it through the noop sink under that
  * tag, so the next layer reads it instead of recomputing it. Spans stay
  * in memory and are written out when the run ends.
  */
final class Tracer(spark: SparkSession) {
  var on = false
  var batch = -1
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private val cached = mutable.ArrayBuffer.empty[DataFrame]
  private def sc = spark.sparkContext

  def layer[T](name: String)(body: => T): T = {
    if (!on) return body
    val id = spans.size
    spans += Span(name, System.nanoTime(), 0L, stack.headOption.map(_._1).getOrElse(-1), batch)
    stack.headOption.foreach(p => sc.removeJobTag(Tracer.TagPrefix + p._2))
    sc.addJobTag(Tracer.TagPrefix + name)
    stack = (id, name) :: stack
    try body
    finally {
      sc.removeJobTag(Tracer.TagPrefix + name)
      stack = stack.tail
      stack.headOption.foreach(p => sc.addJobTag(Tracer.TagPrefix + p._2))
      spans(id) = spans(id).copy(end = System.nanoTime())
    }
  }

  def materialize(df: DataFrame): DataFrame = {
    if (!on) return df
    val c = df.persist()
    cached += c
    c.write.format("noop").mode("overwrite").save()
    c
  }

  /** Drops the batch's cached layer outputs (blocking). */
  def unpersistAll(): Unit = {
    cached.foreach(_.unpersist(blocking = true))
    cached.clear()
  }

  /** Wall seconds of this batch's spans with the given name. */
  def spanSeconds(name: String): Double =
    spans.iterator.filter(s => s.batch == batch && s.name == name)
      .map(s => (s.end - s.start) / 1e9).sum
}

object Tracer {
  val TagPrefix = "pb:"
}

/** The one place the benchmark reads graft's per-call observations.
  *
  * They are `private[graft]` last-write-wins globals today; when the
  * operators return their observations per call, only this object
  * changes.
  */
object Observed {
  import graft.linkage.{Clustering, PersonMatching}
  import graft.core.SessionHygiene

  private val TimeoutMs = 60000L

  /** Turns on the opt-in candidate-pair counter (traced runs only). */
  def countCandidates(on: Boolean): Unit =
    if (on) sys.props(PersonMatching.CountCandidatesProp) = "1"
    else sys.props.remove(PersonMatching.CountCandidatesProp)

  /** Candidate pairs of the latest blocked join whose plan has run. */
  def candidates(): Long =
    SessionHygiene.observedLong(PersonMatching.lastCandidateObservation,
      "candidate_pairs", timeoutMs = TimeoutMs)

  /** Bucket memberships dropped by the hot-bucket cap, both sides. */
  def capDrops(): Long =
    PersonMatching.lastDropObservationsBySide.values
      .map(o => SessionHygiene.observedLong(o, "dropped_bucket_rows", timeoutMs = TimeoutMs)).sum

  def ccRounds(): Long = Clustering.lastCcRounds.toLong

  def oversized(): Long = Option(Clustering.lastOversizedAccumulator).map(_.value.longValue).getOrElse(0L)
}

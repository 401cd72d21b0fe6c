package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.consensus.{DedupSpec, EncDeduplicater}
import graft.core.SessionHygiene
import graft.linkage.{Clustering, PersonMatching}
import graft.normalize.Processing
import graft.similarity.Similarity
import graft.sources.Csv
import graft.unpack.Unpack

/** One workload: inputs read at set-up, then a batch that runs the layer
  * chain once through graft's public entry points and returns its output
  * as sorted text lines (compared across batches and scored by score.py).
  */
trait Workload {
  def records: Long
  /** Rows read at set-up, all inputs together. */
  def rowsRead: Long = records
  def setup(): Unit
  def batch(t: Tracer, layers: mutable.Map[String, Double]): Seq[String]
  /** Header line of the prediction file score.py reads. */
  def header: String
  /** Candidate pairs and the person columns of both sides, for the
    * single-thread similarity probe; empty when the workload scores none.
    */
  def pairSample(n: Int): Seq[(Similarity.Person, Similarity.Person)] = Nil
}

/** Reads the (col, value) pairs of a person frame into Similarity.Person. */
private object PersonRows {
  val Cols = Seq("strGName_processed", "strLName_processed", "strDoB_processed",
    "strPoB_processed", "prisoner_number")

  def person(r: Row, off: Int): Similarity.Person =
    Similarity.Person(r.getString(off), r.getString(off + 1), r.getString(off + 2),
      r.getString(off + 3), r.getString(off + 4))

  /** A fixed, seed-independent-order sample of scored candidate pairs. */
  def sample(pairs: DataFrame, src: DataFrame, trg: DataFrame, n: Int)
      : Seq[(Similarity.Person, Similarity.Person)] = {
    val s = src.select(col("srcID") +: Cols.map(c => col(c).as(s"s_$c")): _*)
    val t = trg.select(col("trgID") +: Cols.map(c => col(c).as(s"t_$c")): _*)
    pairs.select("srcID", "trgID")
      .orderBy(hash(col("srcID"), col("trgID")), col("srcID"), col("trgID")).limit(n)
      .join(s, "srcID").join(t, "trgID")
      .select((Cols.map(c => col(s"s_$c")) ++ Cols.map(c => col(s"t_$c"))): _*)
      .collect().toSeq.map(r => (person(r, 0), person(r, 5)))
  }
}

/** Crowd transcriptions: CSV → unpack → normalize → consensus dedup. */
final class Ingest(spark: SparkSession, dir: String) extends Workload {
  private val path = s"$dir/transcriptions"
  var records = 0L
  val header = "document_id\tfirst_name\tlast_name\tplace_of_birth\tbirthdate_year\t" +
    "birthdate_month\tbirthdate_day\timprisonment_camp\tprisoner_category\tis_ambiguous"

  def setup(): Unit = records = Csv.readStrings(spark, path, indexCol = true).count()

  /** q17's job spec, each column taken in whichever numbering the
    * unpacked corpus produced (a single-valued repeat group is not
    * numbered).
    */
  private def spec(cols: Seq[String]): DedupSpec = {
    val have = cols.toSet
    def pick(names: String*): Seq[String] =
      names.flatMap(n => Seq(n, n.replace("_0_cleaned", "_cleaned")).find(have)).distinct
    DedupSpec(
      idCol = "document_id",
      personCols = pick("first_name_cleaned_0", "first_name_cleaned_1", "last_name_cleaned_0"),
      dateCols = pick(
        "birthdate_day_cleaned", "birthdate_month_cleaned", "birthdate_year_cleaned",
        "imprisonment_day_cleaned", "imprisonment_month_cleaned", "imprisonment_year_cleaned"),
      otherCols = pick(
        "imprisonment_camp_cleaned", "place_of_birth_0_cleaned", "place_of_birth_1_cleaned"),
      otherStrictCols = pick((0 to 5).map(i => s"prisoner_category_${i}_cleaned"): _*),
      metadataCols = Seq("object_id", "workflow_id"))
  }

  /** Output columns scored against the truth, in [[header]] order. */
  private def scored(cols: Seq[String]): Seq[String] = {
    val have = cols.toSet
    Seq("first_name_cleaned_0", "last_name_cleaned_0", "place_of_birth_0_cleaned",
      "birthdate_year_cleaned", "birthdate_month_cleaned", "birthdate_day_cleaned",
      "imprisonment_camp_cleaned", "prisoner_category_0_cleaned")
      .map(n => Seq(n, n.replace("_0_cleaned", "_cleaned")).find(have).getOrElse(
        sys.error(s"normalized frame lacks $n: ${cols.mkString(",")}")))
  }

  def batch(t: Tracer, layers: mutable.Map[String, Double]): Seq[String] = {
    val raw = t.layer("sources")(t.materialize(Csv.readStrings(spark, path, indexCol = true)))
    val unpacked = t.layer("unpack")(t.materialize(
      Unpack.unpack(raw, "json_data", additionalSplitsOn = _.contains("category"))))
    val norm = t.layer("normalize")(t.materialize(Processing.processUnpackedData(unpacked)))
    val rows = t.layer("consensus") {
      val out = EncDeduplicater.run(norm, spec(norm.columns.toSeq))
      out.collect()
    }
    layers("unpack.cols_out") = unpacked.columns.length
    val cols = rows.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil)
    val consensus = rows.filter(r => !r.getAs[Boolean]("deleted"))
    layers("consensus.docs") = consensus.length
    layers("consensus.voted_share") =
      consensus.count(r => !r.getAs[Boolean]("is_ambiguous")).toDouble / math.max(1, consensus.length)
    val keep = scored(cols) :+ "is_ambiguous"
    consensus.toSeq.map(r => (r.getAs[String]("document_id") +: keep.map(c => String.valueOf(r.getAs[Any](c))))
      .mkString("\t")).sorted
  }
}

/** Noisy transcriptions matched top-k against a reference table. */
final class Match(spark: SparkSession, dir: String) extends Workload {
  private val cfg = PersonMatching.MatchConfig(topN = 10, minScore = 80.0, idxChars = 2, lenUnits = 4)
  private var src: DataFrame = _
  private var ref: DataFrame = _
  var records = 0L
  private var refRows = 0L
  override def rowsRead: Long = records + refRows
  val header = "srcID\tscore\ttrgID"

  def setup(): Unit = {
    src = Csv.readStrings(spark, s"$dir/source.csv").cache()
    ref = Csv.readStrings(spark, s"$dir/reference.csv").cache()
    records = src.count()
    refRows = ref.count()
  }

  def batch(t: Tracer, layers: mutable.Map[String, Double]): Seq[String] = {
    if (t.on) t.layer("linkage.score") {
      val obs = org.apache.spark.sql.Observation()
      PersonMatching.scoredPairs(src, ref, cfg, lit(true))
        .observe(obs, count(lit(1)).as("kept"))
        .write.format("noop").mode("overwrite").save()
      layers("linkage.kept") = SessionHygiene.observedLong(obs, "kept").toDouble
      layers("linkage.candidates") = Observed.candidates().toDouble
      layers("linkage.cap_drops") = Observed.capDrops().toDouble
    }
    val rows = t.layer("linkage.match")(PersonMatching.personMatching(src, ref, cfg).collect())
    if (t.on && Observed.candidates() != layers("linkage.candidates").toLong)
      sys.error("candidate count differs between scoredPairs and personMatching")
    rows.toSeq.map(r => s"${r.getString(0)}\t${r.getDouble(1)}\t${r.getString(2)}").sorted
  }

  override def pairSample(n: Int): Seq[(Similarity.Person, Similarity.Person)] =
    PersonRows.sample(PersonMatching.scoredPairs(src, ref, cfg.copy(minScore = 0.0), lit(true)),
      src, ref, n)
}

/** Entities appearing 2-4 times, clustered at cutoff 85, max linkage. */
final class Cluster(spark: SparkSession, dir: String) extends Workload {
  private val cfg = Clustering.ClusterConfig(cutoff = 85.0, linkage = "max")
  private var persons: DataFrame = _
  var records = 0L
  val header = "id\tcluster_id"

  def setup(): Unit = {
    persons = Csv.readStrings(spark, s"$dir/persons.csv")
      .withColumn("id", col("id").cast("long")).cache()
    records = persons.count()
  }

  def batch(t: Tracer, layers: mutable.Map[String, Double]): Seq[String] = {
    if (t.on) t.layer("linkage.edges") {
      val obs = org.apache.spark.sql.Observation()
      Clustering.scoredEdges(persons, cfg)
        .observe(obs, count(lit(1)).as("edges"))
        .write.format("noop").mode("overwrite").save()
      layers("linkage.edges") = SessionHygiene.observedLong(obs, "edges").toDouble
      layers("linkage.kept") = layers("linkage.edges")
    }
    val clustered = t.layer("linkage.cc")(Clustering.cluster(persons, cfg))
    if (t.on) {
      layers("linkage.candidates") = Observed.candidates().toDouble
      layers("linkage.cap_drops") = Observed.capDrops().toDouble
      layers("linkage.cc_rounds") = Observed.ccRounds().toDouble
    }
    val rows = t.layer("linkage.replay")(clustered.select("id", "cluster_id").collect())
    if (t.on) layers("linkage.oversized") = Observed.oversized().toDouble
    rows.toSeq.map(r => s"${r.getLong(0)}\t${r.getString(1)}").sorted
  }

  override def pairSample(n: Int): Seq[(Similarity.Person, Similarity.Person)] = {
    val s = persons.withColumnRenamed("id", "srcID")
    val t = persons.withColumnRenamed("id", "trgID")
    val m = PersonMatching.MatchConfig(idxChars = cfg.idxChars, lenUnits = cfg.lenUnits,
      topN = Int.MaxValue, minScore = 0.0)
    PersonRows.sample(PersonMatching.scoredPairs(s, t, m, col("srcID") < col("trgID")), s, t, n)
  }
}

/** Reads the host's CPU steal share and load average around the timed
  * section, so a run that moved can be traced to a noisy window.
  */
private object HostLoad {
  private def cpuLine(): Array[Long] =
    scala.util.Try {
      val l = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      l.trim.split("\\s+").drop(1).take(8).map(_.toLong)
    }.getOrElse(Array.fill(8)(0L))

  def loadAvg(): Double =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .trim.split("\\s+")(0).toDouble).getOrElse(-1.0)

  final class Window {
    private val start = cpuLine()
    private val loads = mutable.ArrayBuffer(loadAvg())
    def sample(): Unit = loads += loadAvg()
    def stealShare(): Double = {
      val end = cpuLine()
      val d = end.zip(start).map { case (a, b) => a - b }
      if (d.sum <= 0) 0.0 else d(7).toDouble / d.sum
    }
    def meanLoad(): Double = loads.sum / loads.size
  }
}

/** The benchmark's JVM: one workload, one seed's inputs, one result file.
  *
  * Usage: PerfBench <workload> <input-dir> <seconds> <trace 0|1> <width>
  *   <shuffle-partitions> <out.json>
  */
object PerfBench {
  private val WarmupBatches = 2
  private val PairSample = 20000
  private val PairPasses = 7

  def main(args: Array[String]): Unit = {
    require(args.length == 7, "usage: PerfBench <workload> <input-dir> <seconds> " +
      "<trace 0|1> <width> <shuffle-partitions> <out.json>")
    val Array(name, dir, secondsS, traceS, widthS, partsS, out) = args
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val width = widthS.toInt

    val spark = SparkSession.builder()
      .master(s"local[$width]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", partsS)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark keeps a status record of recent jobs and queries even with
      // the UI off; a short history keeps that out of live_heap_mb, which
      // should show the state graft itself retains.
      .config("spark.sql.ui.retainedExecutions", "5")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "200")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new LedgerListener
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)

    val readT0 = System.nanoTime()
    val w: Workload = name match {
      case "ingest"  => new Ingest(spark, dir)
      case "match"   => new Match(spark, dir)
      case "cluster" => new Cluster(spark, dir)
      case other     => sys.error(s"unknown workload $other")
    }
    w.setup()
    val readS = (System.nanoTime() - readT0) / 1e9
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    listener.take(spark)
    val result = mutable.LinkedHashMap[String, Any]("setup_s" -> setupS, "records" -> w.records)
    val inputRdds = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val tracer = new Tracer(spark)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.toArray(
      new Array[java.lang.management.GarbageCollectorMXBean](0))
    def gcMs(): Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum

    var reference: Seq[String] = null
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]

    /** One batch; returns (wall s, per-layer metrics) or None on failure. */
    def runBatch(idx: Int): Option[(Double, Map[String, Double])] = {
      attempted += 1
      tracer.batch = idx
      val layers = mutable.Map.empty[String, Double]
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      val res = scala.util.Try {
        val lines = tracer.layer("batch")(w.batch(tracer, layers))
        tracer.unpersistAll()
        val cpMb = spark.sparkContext.getRDDStorageInfo.filterNot(i => inputRdds(i.id))
          .map(i => i.memSize + i.diskSize).sum / 1e6
        val released = SessionHygiene.releaseLeftovers(spark)
        (lines, cpMb, released)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val gcS = (gcMs() - gc0) / 1e3
      val (tags, planMs) = listener.take(spark)
      res match {
        case scala.util.Failure(e) =>
          failed += 1
          failures += s"batch $idx: $e"
          None
        case scala.util.Success((lines, cpMb, released)) =>
          if (reference == null) {
            reference = lines
            writePrediction(out, w.header, lines)
          } else if (lines != reference) {
            failed += 1
            failures += s"batch $idx: output differs from batch 0"
          }
          val all = tags.values
          val runMs = all.map(_.runMs).sum
          def tagged(prefix: String)(f: TagAcc => Double): Double =
            tags.iterator.filter(_._1.startsWith(prefix)).map(kv => f(kv._2)).sum
          layers ++= Map(
            "cpu_s" -> all.map(_.cpuNs).sum / 1e9,
            "spark.jobs" -> all.map(_.jobs).sum.toDouble,
            "spark.tasks" -> all.map(_.tasks).sum.toDouble,
            "spark.task_failures" -> all.map(_.taskFailures).sum.toDouble,
            "spark.plan_s" -> planMs / 1e3,
            "spark.driver_s" -> (wall - runMs / 1e3 / width),
            "spark.gc_s" -> gcS,
            "core.checkpoints" -> released.toDouble,
            "core.checkpoint_mb" -> cpMb)
          if (tracer.on) {
            for (l <- Seq("unpack", "normalize", "consensus")) {
              layers(s"$l.wall_s") = tracer.spanSeconds(l)
              layers(s"$l.cpu_s") = tagged(l)(_.cpuNs / 1e9)
            }
            if (name == "ingest") {
              layers("sources.read_s") = tracer.spanSeconds("sources")
              layers("sources.rows") = tagged("sources")(_.inputRecords.toDouble)
            }
            layers("consensus.shuffle_mb") = tagged("consensus")(_.shuffleWriteB / 1e6)
            layers("linkage.shuffle_mb") = tagged("linkage.match")(_.shuffleWriteB / 1e6) +
              tagged("linkage.cc")(_.shuffleWriteB / 1e6) + tagged("linkage.replay")(_.shuffleWriteB / 1e6)
            layers("linkage.score_cpu_s") =
              tagged("linkage.score")(_.cpuNs / 1e9) + tagged("linkage.edges")(_.cpuNs / 1e9)
            layers("linkage.score_s") =
              tracer.spanSeconds("linkage.score") + tracer.spanSeconds("linkage.edges")
            if (name == "match")
              layers("linkage.topk_s") =
                tracer.spanSeconds("linkage.match") - tracer.spanSeconds("linkage.score")
            if (name == "cluster") {
              layers("linkage.cc_s") =
                tracer.spanSeconds("linkage.cc") - tracer.spanSeconds("linkage.edges")
              layers("linkage.replay_s") = tracer.spanSeconds("linkage.replay")
            }
            val cand = layers.getOrElse("linkage.candidates", 0.0)
            if (cand > 0) layers("linkage.keep_ratio") = layers("linkage.kept") / cand
          }
          Some((wall, layers.toMap))
      }
    }

    // Warm-up: JIT and Spark's code generation improve batch times over
    // many batches. A fixed count of warm-up batches puts every run at the
    // same point of that curve; a fixed warm-up time would leave a run on
    // a busy host fewer batches, so its timed batches would be slowed
    // twice, once by the host and once by less compiled code.
    val warm = mutable.ArrayBuffer.empty[Double]
    while (warm.size < WarmupBatches && failed == 0)
      runBatch(warm.size).foreach(b => warm += b._1)
    val warmAttempted = attempted

    // Timed section: a closed loop, the next batch starts when the last
    // one ends. A traced run spends its first half untraced, for the
    // overhead ratio and the untraced spark.* counts.
    val host = new HostLoad.Window
    val plain = mutable.ArrayBuffer.empty[(Double, Map[String, Double])]
    val tracedB = mutable.ArrayBuffer.empty[(Double, Map[String, Double])]
    val timedT0 = System.nanoTime()
    def elapsed = (System.nanoTime() - timedT0) / 1e9
    var idx = warm.size
    Observed.countCandidates(false)
    while (elapsed < (if (traced) seconds / 2 else seconds) || plain.isEmpty) {
      runBatch(idx).foreach(plain += _)
      idx += 1
      host.sample()
      if (failed > 0 && plain.isEmpty && attempted - warmAttempted > 2) return bail(spark, out, failures.toSeq)
    }
    if (traced) {
      tracer.on = true
      Observed.countCandidates(true)
      // the traced plans (noop sinks, observations) compile new code, so
      // one traced batch is run and dropped before the traced half
      runBatch(idx)
      idx += 1
      tracer.spans.clear()
      val tracedT0 = System.nanoTime()
      while ((System.nanoTime() - tracedT0) / 1e9 < seconds / 2 || tracedB.isEmpty) {
        runBatch(idx).foreach(tracedB += _)
        idx += 1
        host.sample()
        if (failed > 0 && tracedB.isEmpty && attempted - warmAttempted > 4) return bail(spark, out, failures.toSeq)
      }
      tracer.on = false
      Observed.countCandidates(false)
    }
    val steal = host.stealShare()

    // the ContextCleaner drops blocks of collected broadcasts and
    // checkpoints on its own thread after a GC; let it run, then collect
    // what it released
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val liveHeapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6

    result ++= Seq(
      "sources_read_s" -> readS,
      "warmup_batches" -> warm.size,
      "warmup_s" -> warm.toSeq,
      "batch_s" -> plain.map(_._1).toSeq,
      "batch_cpu_s" -> plain.map(_._2("cpu_s")).toSeq,
      "live_heap_mb" -> liveHeapMb,
      // both over every batch, warm-up included: a failed warm-up batch
      // fails the run and shows in both counts
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> failures.toSeq,
      "host" -> Map(
        "steal_share" -> steal,
        "loadavg_mean" -> host.meanLoad(),
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "width" -> width,
        "shuffle_partitions" -> partsS.toInt,
        "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq.map(_.toString)))

    if (traced) {
      // spark.* describe the real (untraced) batches; the rest comes from
      // the traced half.
      val untracedSpark = plain.map(_._2.filter(_._1.startsWith("spark.")))
      result("layers_untraced") = untracedSpark.toSeq
      result("layers_traced") = tracedB.map(_._2).toSeq
      result("traced_batch_s") = tracedB.map(_._1).toSeq
      if (name != "ingest") {
        result("sources_rows") = w.rowsRead
        val pairs = w.pairSample(PairSample)
        result("similarity") = pairProbe(pairs)
      }
      result("spans") = tracer.spans.toSeq.map(s => Map(
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
        "parent" -> s.parent, "batch" -> s.batch))
    }
    finish(spark, out, result)
  }

  /** Single-thread cost of `Similarity.personSimilarity` over a fixed
    * sample of the run's candidate pairs. Each pass runs on a fresh
    * thread, so the thread-local pair memos start empty as in a new task.
    */
  private def pairProbe(pairs: Seq[(Similarity.Person, Similarity.Person)]): Map[String, Double] = {
    if (pairs.isEmpty) return Map("pair_ns" -> 0.0, "equal_share" -> 0.0, "pairs" -> 0.0)
    val arr = pairs.toArray
    var sink = 0.0
    val ns = (0 until PairPasses).map { _ =>
      var t = 0L
      val th = new Thread(() => {
        val t0 = System.nanoTime()
        var i = 0
        var acc = 0.0
        while (i < arr.length) {
          acc += Similarity.personSimilarity(arr(i)._1, arr(i)._2)
          i += 1
        }
        t = System.nanoTime() - t0
        sink += acc
      })
      th.start()
      th.join()
      t.toDouble / arr.length
    }.drop(1).sorted
    val equal = arr.count { case (a, b) => a.gname == b.gname && a.lname == b.lname }
    Map("pair_ns" -> ns(ns.size / 2), "equal_share" -> equal.toDouble / arr.length,
      "pairs" -> arr.length.toDouble, "checksum" -> sink)
  }

  private def writePrediction(out: String, header: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(out + ".pred.tsv"),
      (header +: lines).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

  private def bail(spark: SparkSession, out: String, failures: Seq[String]): Unit =
    finish(spark, out, mutable.LinkedHashMap("error" -> failures.mkString("; ")))

  private def finish(spark: SparkSession, out: String, result: mutable.Map[String, Any]): Unit = {
    Files.write(Paths.get(out), Json.render(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Minimal JSON rendering for the result file (maps, sequences, strings,
  * numbers, booleans).
  */
object Json {
  def render(v: Any): String = v match {
    case null                => "null"
    case s: String           => quote(s)
    case b: Boolean          => b.toString
    case d: Double           => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float            => render(f.toDouble)
    case n: Number           => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_]      => s.map(render).mkString("[", ",", "]")
    case other               => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c    => sb += c
    }
    sb += '"'
    sb.toString
  }
}

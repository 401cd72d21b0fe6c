package graft

import org.apache.spark.sql.functions._

/** Physical-plan audits: the properties that make these plans survive a
  * 100× scale-up, asserted so regressions fail loudly.
  */
class PlanAuditSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** The dedup/ANN queries checkpoint their operator output before the
    * final orderBy (r22), so the registry frame's plan is `Sort over
    * Scan ExistingRDD` — the shape audits read the PRE-sort operator
    * frames instead (the exact production subplans, exposed as
    * `qNNFrame` next to each query).
    */
  private def framePlan(name: String): org.apache.spark.sql.DataFrame = name match {
    case "q25_minhash_dedup"        => queries.LlmData.q25Frame(spark, sf)
    case "q26_simhash_dedup"        => queries.LlmData.q26Frame(spark, sf)
    case "q27_ngram_jaccard_dedup"  => queries.LlmData.q27Frame(spark, sf)
    case "q31_ann_lsh_topk"         => queries.LlmData.q31Frame(spark, sf)
    case "q35_cosine_near_dup"      => queries.LlmData.q35Frame(spark, sf)
    case other => SparkEntry.queries(other)(spark, sf)
  }

  test("filters and projections reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), "filter pushdown missing")
    assert(p.contains("o_orderstatus"), "predicate should reach the scan")
    // projection pruning: the scan must not read o_orderpriority
    assert(p.split("ReadSchema").last.contains("o_orderkey"))
    assert(!p.split("ReadSchema").last.contains("o_orderpriority"),
      "scan reads a column the query never uses")
  }

  test("round-5 queries prune their scans") {
    // q38 generates images from doc_id alone — the documents scan must
    // not read the text payload
    val p38 = plan("q38_image_decode")
    assert(!p38.split("ReadSchema").last.contains("text"),
      "q38 reads text bytes it never uses")
    // q21 styles two columns of part — the other seven stay unread
    val p21 = plan("q21_normalize_names_scale")
    assert(!p21.split("ReadSchema").last.contains("p_retailprice"),
      "q21 reads part columns it never uses")
  }

  test("round-7 media queries prune their scans") {
    // the media family generates clips/images from doc_id alone — the
    // documents scan must not read the text payload
    for (q <- Seq("q42_audio_decode", "q44_video_frame_decode",
        "q45_audio_quality", "q46_image_resize", "q47_audio_resample",
        "q48_image_quality", "q49_video_metadata")) {
      val p = plan(q)
      assert(!p.split("ReadSchema").last.contains("text"),
        s"$q reads text bytes it never uses")
    }
  }

  test("aggregations run partial (map-side) before the shuffle") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("HashAggregate"), "hash aggregation expected")
    assert(p.contains("partial_"), "map-side partial aggregation expected")
  }

  test("no cartesian products or nested-loop joins anywhere in the registry") {
    for (name <- SparkEntry.queries.keys.toSeq.sorted
         if name != "q23_person_clustering") { // iterative; planned per stage
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin") || name == "q30_cosine_topk",
        s"$name plans a nested-loop join")
    }
  }

  test("the blocked fuzzy join shuffles on bucket keys, not on rows") {
    val p = plan("q22_person_match_self")
    assert(p.contains("hashpartitioning"), "bucket equi-join should hash-partition")
    assert(!p.contains("CartesianProduct"))
  }

  test("sf1 replication keeps the heavy plans' join shape (no cartesian, still bucket-keyed)") {
    // the scaling_sf1 corpus is a union of perturbed shards; the whole
    // construction is pointless if it degrades the plan — the blocked
    // joins must stay equi-joins over the replicated input too
    val saved = sys.props.get(graft.core.ScaleKnob.ReplicateProp)
    sys.props(graft.core.ScaleKnob.ReplicateProp) = "3"
    try {
      for (q <- Seq("q22_person_match_self", "q27_ngram_jaccard_dedup",
          "q35_cosine_near_dup")) {
        val p = framePlan(q).queryExecution.executedPlan.toString
        assert(!p.contains("CartesianProduct"), s"$q goes cartesian under replication")
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested-loop join under replication")
        assert(p.contains("hashpartitioning"), s"$q lost its keyed shuffle under replication")
      }
    } finally saved match {
      case Some(v) => sys.props(graft.core.ScaleKnob.ReplicateProp) = v
      case None    => sys.props.remove(graft.core.ScaleKnob.ReplicateProp)
    }
  }

  test("q35 self-join reads buckets from one materialized pass, parquet only for rescore") {
    // the (id, bucket) table is checkpointed once (the bucket join
    // broadcasts, so exchange reuse cannot dedupe it — measured 4.05 s
    // vs 2.40 s at sf0.1); parquet is then re-scanned only for the exact
    // rescore: q35's corpus is a 2-branch union, so 2 branches × 2
    // rescore sides = 4 scans. Without the materialized bucket table the
    // bucketing side re-scans the same union per side — 8 scans — and
    // runs the signature UDF over the corpus twice.
    val p = framePlan("q35_cosine_near_dup").queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD"), "bucket table should come from the checkpoint")
    val parquetScans = "Scan parquet".r.findAllIn(p).length
    assert(parquetScans === 4, s"expected 4 rescore scans, found $parquetScans")
  }

  test("candidate generation is bounded: degenerate buckets cannot go quadratic") {
    // a corpus where EVERY row lands in one composite bucket — with the
    // cap at k, the candidate set must be ≤ k², never n²
    import org.apache.spark.sql.functions.lit
    import graft.linkage.PersonMatching
    val session = spark
    import session.implicits._
    val n = 60
    val degenerate = (1L to n.toLong).map(i => (i, "erika", "schmidt"))
      .toDF("id", "strGName_processed", "strLName_processed")
    val src = degenerate.withColumnRenamed("id", "srcID")
    val trg = degenerate.withColumnRenamed("id", "trgID")
    val k = 7
    val capped = PersonMatching.scoredPairs(src, trg,
      PersonMatching.MatchConfig(minScore = 0.0, maxBucketSize = k), lit(true)).count()
    assert(capped === (k.toLong * k),
      s"cap $k must bound candidates at k², got $capped (n² would be ${n * n})")
  }

  test("AQE splits a planted skewed join partition (the cap-plus-AQE story)") {
    // the engine's degenerate-input story is: hard caps bound candidate
    // explosions, AQE's skew-join handles residual imbalance at runtime.
    // This plants one hot key holding ~97% of the left side and asserts
    // the adaptive plan actually engaged the skew split.
    val session = spark
    import session.implicits._
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a shuffle join
      val left = spark.range(0, 40000).select(
        when($"id" < 39000, lit(0L)).otherwise($"id" % 32).as("k"),
        concat(lit("payload-"), $"id").as("payload"))
      val right = spark.range(0, 32).select($"id".as("k"), lit("dim").as("v"))
      val j = left.join(right, "k")
      // execute THIS queryExecution so its adaptive plan finalizes
      // (count() would plan and run a separate aggregate query)
      assert(j.collect().length === 40000)
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), "adaptive execution did not finalize")
      assert(p.contains("skew=true") || p.toLowerCase.contains("skewed"),
        s"AQE did not split the skewed partition:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("band/bucket joins exchange ids only — no payload rides the LSH band joins") {
    // The dedup/ANN family's scale discipline: candidates meet in
    // equi-joins on band/bucket/gram keys, and those exchanges carry
    // ONLY the id + the key (+ a fixed-width hash for SimHash's
    // rescore) — payload (text, shingle arrays, embedding vectors)
    // rejoins per SURVIVING candidate, never rides the explode-×bands
    // shuffle. TextOpsSpec bounds q25's shuffle BYTES; this asserts the
    // SHAPE, which survives code motion the byte bound can't.
    // Negative-control verified (re-run against the exact-shape form):
    // a mutant that scores q25 from shingle arrays carried THROUGH the
    // band join fails here — 'exchange output (band,b,sb) matches no
    // expected shape {band,a}, {band,b}, {band,id}'; a mutant that
    // merely selects unused payload into the join is pruned away by
    // Catalyst before the exchange, so only USED payload can regress —
    // exactly the case this guards.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.types.ArrayType

    // Spark's own adaptive-plan traversal (descends through
    // AdaptiveSparkPlanExec / query stages), so a future Spark bump that
    // adds a new stage-wrapper node shape is tracked for free instead of
    // silently skipped by a hand-rolled walker
    val helper = new AdaptiveSparkPlanHelper {}
    // the band-key names each operator joins on: MinHash/SimHash "band",
    // LSH-cosine "bucket", n-gram Jaccard's prefix gram "g"
    val bandKeys = Set("band", "bucket", "g")
    // EXACT allowed output shapes (as name sets) for every band-keyed
    // exchange, per query: key + id(s) + SimHash's fixed-width rescore
    // hash — nothing else. Name-set equality is strictly stronger than
    // the payload-name blacklist it replaced: a renamed scalar payload
    // ("text" -> "body") that stays narrow and non-array rode the old
    // width+blacklist checks undetected, but cannot match any shape
    // listed here. The q27 entries also name the AUXILIARY exchanges its
    // key "g" sweeps in (the gram document-frequency aggregate and the
    // df-rank window re-partition) so a legitimate change to those fails
    // with this explicit expected-shape message, not a misleading
    // payload complaint. Both join sides are listed even where today's
    // plan reuses one exchange for the mirror side (ReusedExchange is
    // not an Exchange node, so only one side appears until a plan change
    // un-reuses it). If a shape change here is INTENTIONAL (renamed key,
    // new auxiliary exchange), update this map in the same commit —
    // payload (text, shingle arrays, embedding vectors) must never ride
    // a band-keyed exchange.
    val allowedShapes: Map[String, Set[Set[String]]] = Map(
      "q25_minhash_dedup" -> Set(
        Set("band", "a"), Set("band", "b"), Set("band", "id")),
      "q26_simhash_dedup" -> Set(
        Set("band", "a", "ha"), Set("band", "b", "hb"), Set("band", "id", "sim")),
      "q27_ngram_jaccard_dedup" -> Set(
        Set("g", "a"), Set("g", "b"), Set("g", "id"), // candidate band-join sides
        Set("g", "count"), Set("g", "df"),            // gram document-frequency agg
        Set("g", "id", "df")),                        // df-rank window re-partition
      "q31_ann_lsh_topk" -> Set(
        Set("bucket", "id"), Set("bucket", "query_id")))
    for (q <- Seq("q25_minhash_dedup", "q26_simhash_dedup",
        "q27_ngram_jaccard_dedup", "q31_ann_lsh_topk")) {
      val df = framePlan(q)
      df.collect() // finalize the adaptive plan so stages are traversable
      val exchanges = helper.collect(df.queryExecution.executedPlan) {
        case e: Exchange if e.output.exists(a => bandKeys(a.name)) => e
      }
      assert(exchanges.nonEmpty,
        s"$q: no band-keyed exchange found — the blocked dataflow changed shape")
      for (e <- exchanges) {
        val names = e.output.map(_.name)
        assert(allowedShapes(q).contains(names.toSet),
          s"$q: band-keyed exchange output (${names.mkString(",")}) matches no expected " +
            s"shape ${allowedShapes(q).map(_.mkString("{", ",", "}")).mkString(", ")} — " +
            "either payload is riding the band join (never allowed) or the blocked " +
            "dataflow legitimately changed shape (update allowedShapes in this spec)")
        assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
          s"$q: band exchange carries an array column (${names.mkString(",")})")
      }
    }
  }

  test("date normalization stays in a codegen'd projection chain") {
    // execute so AQE materializes the final plan (codegen markers only
    // exist per finalized stage)
    val df = SparkEntry.queries("q18_date_parse_buckets")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark whole-stage-codegen'd operators in the
    // compact plan rendering
    assert(p.contains("*(1)"), "date chain fell out of codegen")
  }

  test("q22 scores once per emission outside the join condition, with native bucket keys") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction,
      LambdaFunction, RegExpReplace}
    import org.apache.spark.sql.execution.{GenerateExec, ProjectExec, SparkPlan}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.expressions.{BucketKeyPairs, PersonSimilarity}
    // the scoring runs inside personMatching's checkpoint job, so the
    // audit reads every executed plan of the query, not the final frame's
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries("q22_person_match_self")(spark, sf).collect()
      def nodes = plans.toArray(Array.empty[SparkPlan]).toSeq.flatMap(p => collect(p) { case n => n })
      def holding(pred: Expression => Boolean) =
        nodes.filter(_.expressions.exists(_.find(pred).isDefined))
      val deadline = System.nanoTime() + 60L * 1000000000L // listener events arrive async
      while (holding(_.isInstanceOf[PersonSimilarity]).isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      val scorers = nodes.flatMap(_.expressions.flatMap(_.collect { case e: PersonSimilarity => e }))
      assert(scorers.size === 1, s"the scorer must be evaluated once per emission: $scorers")
      val scoring = holding(_.isInstanceOf[PersonSimilarity])
      assert(scoring.forall(_.isInstanceOf[ProjectExec]),
        s"the scorer must sit in a projection: ${scoring.map(_.nodeName)}")
      nodes.collect { case j: BaseJoinExec => j }.foreach { j =>
        assert(j.condition.forall(_.find(_.isInstanceOf[PersonSimilarity]).isEmpty),
          s"the scorer is pushed into a join condition: ${j.simpleString(200)}")
      }
      val bucketing = nodes.collect {
        case g: GenerateExec if g.generator.find(_.isInstanceOf[BucketKeyPairs]).isDefined => g
      }
      assert(bucketing.nonEmpty, "no native bucket-key generator in the plan")
      val interpreted = holding(e => e.isInstanceOf[RegExpReplace] ||
        e.isInstanceOf[LambdaFunction] || e.isInstanceOf[HigherOrderFunction])
      assert(interpreted.isEmpty,
        s"the bucket stage holds a regex or lambda: ${interpreted.map(_.simpleString(200))}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("the consensus vote reads one full-width exchange on the document id") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{AppendColumnsExec, AppendColumnsWithObjectExec,
      MapGroupsExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.consensus.{DedupSpec, EncDeduplicater}
    val s = spark
    import s.implicits._
    val rows = (0L until 90L).map(k => ((k / 3).toString, k, s"v${k % 2}", "false"))
      .toDF("doc_id", "row_id", "field_a", "field_a_qa")
    // the vote runs inside run's checkpoint job, so the audit reads
    // every executed plan, not the final frame's
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      EncDeduplicater.run(rows, DedupSpec(idCol = "doc_id", otherStrictCols = Seq("field_a")))
        .collect()
      def votes = plans.toArray(Array.empty[SparkPlan]).toSeq
        .flatMap(p => collect(p) { case m: MapGroupsExec => m })
      val deadline = System.nanoTime() + 60L * 1000000000L // listener events arrive async
      while (votes.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(votes.size === 1, s"one vote expected: $votes")
      def onId(e: Expression) = e.references.exists(_.name == "doc_id")
      val exchanges = collect(votes.head) { case e: ShuffleExchangeExec => e }
      val onDoc = exchanges.filter(_.outputPartitioning match {
        case h: HashPartitioning => h.expressions.exists(onId)
        case _ => false
      })
      assert(onDoc.size === 1, s"the vote must read exactly one exchange on the id: $exchanges")
      assert(onDoc.head.shuffleOrigin === REPARTITION_BY_NUM)
      assert(onDoc.head.numPartitions === graft.core.Parallelism.width(rows))
      val appended = plans.toArray(Array.empty[SparkPlan]).toSeq.flatMap(p => collect(p) {
        case a: AppendColumnsExec => a
        case a: AppendColumnsWithObjectExec => a
      })
      assert(appended.isEmpty, s"a groupByKey key column is still appended: $appended")
    } finally spark.listenerManager.unregister(listener)
  }
}

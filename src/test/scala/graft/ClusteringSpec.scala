package graft

import org.apache.spark.sql.functions._
import graft.linkage.Clustering
import graft.linkage.Clustering.ClusterConfig

/** Person clustering (E8/E10–E15): components + greedy replay semantics. */
class ClusteringSpec extends SparkSpec {
  private val session = SparkSpec.spark
  import session.implicits._

  // three latent entities: two "hans muler" docs, two "annamaria novak"
  // docs (spelling variant beyond the 4-char bucket prefix — idx_chars=4
  // blocking means variants inside the prefix are never compared, exactly
  // like the reference), one unrelated person
  private def persons = Seq(
    (1L, "hans", "muler", "19430312", "berlin", null.asInstanceOf[String]),
    (2L, "hans", "muler", "19430312", "berlin", null.asInstanceOf[String]),
    (3L, "annamaria", "novak", "19350607", "prag", null.asInstanceOf[String]),
    (4L, "annamarie", "novak", "19350607", "prag", null.asInstanceOf[String]),
    (5L, "karl", "vagner", "19101111", "vien", null.asInstanceOf[String]))
    .toDF("id", "strGName_processed", "strLName_processed", "strDoB_processed",
      "strPoB_processed", "prisoner_number")

  test("entity clusters form; unrelated rows stay singletons") {
    val out = Clustering.cluster(persons, ClusterConfig(cutoff = 85.0)).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("cluster_id")).toMap
    assert(out(1L) === out(2L), "hans muler docs cluster together")
    assert(out(3L) === out(4L), "anna/anne novak docs cluster together")
    assert((out(5L) !== out(1L)) && (out(5L) !== out(3L)))
    assert(out(1L) !== out(3L))
  }

  test("known-cluster seeding joins rows the similarity score would not") {
    val withKey = Seq(
      (1L, "hans", "muler", "19430312", "berlin", "777"),
      (2L, "iosef", "cernik", "19101111", "brno", "777"), // same prisoner number
      (3L, "karl", "vagner", "19200101", "vien", null.asInstanceOf[String]))
      .toDF("id", "strGName_processed", "strLName_processed", "strDoB_processed",
        "strPoB_processed", "prisoner_number")
    val out = Clustering.cluster(withKey, ClusterConfig(cutoff = 85.0),
      knownKeyCol = Some("prisoner_number")).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("cluster_id")).toMap
    assert(out(1L) === out(2L), "prisoner-number seed overrides low name similarity")
    assert(out(3L) !== out(1L))
  }

  test("max linkage blocks chain absorption; single linkage follows the chain") {
    // identical names, birthdays 1/2/3 days apart: A~B 99.0, B~C 94.0,
    // A~C 75.0. At cutoff 90 the component is a chain A-B-C; max linkage
    // (min similarity to ALL members) keeps C out, single linkage pulls
    // C in — the greedy replay must distinguish them inside one component.
    val rows = Seq(
      (10L, "maria", "kovac", "19210505", "brno", null.asInstanceOf[String]),
      (11L, "maria", "kovac", "19210506", "brno", null.asInstanceOf[String]),
      (12L, "maria", "kovac", "19210508", "brno", null.asInstanceOf[String]))
      .toDF("id", "strGName_processed", "strLName_processed", "strDoB_processed",
        "strPoB_processed", "prisoner_number")
    val maxLink = Clustering.cluster(rows, ClusterConfig(cutoff = 90.0, linkage = "max"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("cluster_id")).toMap
    assert(maxLink(10L) === maxLink(11L))
    assert(maxLink(12L) !== maxLink(10L), "max linkage: C fails vs A (75 < 90)")
    val singleLink = Clustering.cluster(rows, ClusterConfig(cutoff = 90.0, linkage = "single"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("cluster_id")).toMap
    assert(singleLink(10L) === singleLink(11L))
    assert(singleLink(12L) === singleLink(10L), "single linkage: C joins via B (94 >= 90)")
  }

  test("E8 minhash candidates: misspellings collide, unrelated names do not") {
    val persons = Seq(
      (1L, "margarete", "kovacs"),
      (2L, "margarete", "kovacs"),   // identical
      (3L, "margarete", "kovacz"),   // one-letter variant
      (4L, "iosif", "petrescu"))     // unrelated
      .toDF("id", "strGName_processed", "strLName_processed")
    val pairs = Clustering.minHashCandidates(persons, numPerm = 16, bands = 8,
      leaveOneOut = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "identical names must collide")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)), "misspelling should collide")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "unrelated name collided")
    // augmentation produces deletions and windows
    val sh = Clustering.nameCollisionShingles("anna", leaveOneOut = true)
    assert(sh.contains("anna") && sh.contains("nn")) // vowel-stripped
    assert(sh.contains("n")) // deletion of one char from "nn"
  }

  test("E8 minhash candidates: empty names emit no bands, never a shared constant signature") {
    // minHashSignature(Nil) is the constant all-MaxValue signature; if
    // empty-name rows were banded they would ALL share every band and
    // the self-join would emit every pair among them — quadratic bogus
    // candidates at scale. They must instead drop out of the banding.
    val persons = Seq(
      (1L, null.asInstanceOf[String], null.asInstanceOf[String]),
      (2L, "", ""),
      (3L, null.asInstanceOf[String], ""),
      (4L, "margarete", "kovacs"),
      (5L, "margarete", "kovacs"))
      .toDF("id", "strGName_processed", "strLName_processed")
    val pairs = Clustering.minHashCandidates(persons, numPerm = 16, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((4L, 5L)),
      s"empty-name rows must produce no candidate pairs, got $pairs")
    // and the empty shingle never enters a set: all-vowel subnames strip
    // to "", single-char novowels leave-one-out to "" — both dropped
    assert(!Clustering.nameCollisionShingles("aia eu", leaveOneOut = true).contains(""))
    assert(!Clustering.nameCollisionShingles("bo", leaveOneOut = true).contains(""))
    assert(Clustering.nameCollisionShingles("", leaveOneOut = true) === Nil)
  }

  test("oversized component falls back to streamed single-linkage, never buffers") {
    // adversarial: 400 rows of the SAME person — blocking collapses to
    // one component of 400 (every pair scores 100). With the guard at
    // 100 the greedy replay must NOT buffer the component; the fallback
    // assigns the whole component to one cluster.
    val degenerate = spark.range(1, 401)
      .select(col("id"),
        lit("maria").as("strGName_processed"), lit("kovac").as("strLName_processed"),
        lit("19210505").as("strDoB_processed"), lit("brno").as("strPoB_processed"),
        lit(null).cast("string").as("prisoner_number"))
    val out = Clustering.cluster(degenerate,
      ClusterConfig(cutoff = 90.0, maxComponentSize = 100))
    val byCluster = out.groupBy(col("cluster_id")).count().collect()
    assert(byCluster.length === 1, "fallback must yield one single-linkage cluster")
    assert(byCluster.head.getAs[Long]("count") === 400L, "every row assigned")
    // same corpus under the default guard: replay runs and agrees here
    // (identical members — greedy also builds one cluster)
    val replayed = Clustering.cluster(degenerate, ClusterConfig(cutoff = 90.0))
      .select(countDistinct(col("cluster_id"))).head().getLong(0)
    assert(replayed === 1L)
  }

  test("cluster() on a names-only frame: replay tolerates absent optional columns and scores like the edges") {
    // the greedy replay once crashed on getAs of the missing optional
    // columns that the edge path tolerates (personStruct's opt -> null).
    // Score note: an unconfigured secondary channel folds a 0 into the
    // combiner on BOTH sides (reference semantics), so identical
    // names-only rows score 2/3*100 = 66.7 — the cutoff here sits below
    // that, and admission must agree end to end instead of crashing.
    val namesOnly = Seq(
      (1L, "hans", "muler"),
      (2L, "hans", "muler"),
      (3L, "karl", "vagner"))
      .toDF("id", "strGName_processed", "strLName_processed")
    val out = Clustering.cluster(namesOnly, ClusterConfig(cutoff = 60.0)).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("cluster_id")).toMap
    assert(out(1L) === out(2L), "identical names-only rows must cluster at cutoff 60")
    assert(out(3L) !== out(1L))
    // quality metrics run on the same reduced frame without crashing;
    // identical names-only members read exactly 2/3 * 100
    val q = Clustering.clusterQuality(
      namesOnly.withColumn("cluster_id", lit("c")).filter(col("id") =!= 3L))
      .collect().head
    assert(math.abs(q.getAs[Double]("average") - 200.0 / 3) < 1e-9)
  }

  test("matching buckets are a superset of clustering buckets on the processed-name domain") {
    // the component graph is blocked with PersonMatching.bucketKeys
    // (matching.py) while the replay re-applies bucketsForName
    // (person_clustering.py); the replay is exact only if every
    // clustering-bucketed pair also shares a matching bucket. Pin that
    // on the processed domain (lowercase [a-z ]): 500 random such name
    // pairs — whenever bucketsForName shares a key, bucketKeys must too.
    val rnd = new scala.util.Random(7L)
    def randName(): String =
      (0 until 1 + rnd.nextInt(3)).map { _ =>
        (0 until 1 + rnd.nextInt(8)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      }.mkString(" ")
    val names = Seq.fill(40)(randName())
    // ONE Spark job for all names' matching keys, not one per lookup
    val matchKeysByName: Map[String, Set[String]] = names.toDF("n")
      .select(col("n"), graft.linkage.PersonMatching.bucketKeys(col("n"), 4, 2).as("ks"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
    def matchKeys(n: String): Set[String] = matchKeysByName(n)
    for (a <- names; b <- names if a < b) {
      val shareClustering =
        Clustering.bucketsForName(a, 4, 2).toSet
          .intersect(Clustering.bucketsForName(b, 4, 2).toSet).nonEmpty
      if (shareClustering)
        assert(matchKeys(a).intersect(matchKeys(b)).nonEmpty,
          s"'$a' / '$b' share a clustering bucket but no matching bucket - " +
            "components would split a pair the replay expects to see")
    }
  }

  test("merge_clusterings unions overlapping clusters") {
    val l1 = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "cluster_id")
    val l2 = Seq((2L, "p"), (3L, "p"), (4L, "q")).toDF("id", "cluster_id")
    val merged = Clustering.mergeClusterings(l1, l2).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("cluster_id")).toMap
    assert(merged(1L) === merged(2L) && merged(2L) === merged(3L))
    assert(merged(4L) !== merged(1L))
  }

  test("cluster quality metrics report 100 for identical members") {
    val clustered = Seq(
      (1L, "hans", "muler", "19430312", "berlin", "1", "c0"),
      (2L, "hans", "muler", "19430312", "berlin", "1", "c0"),
      (3L, "karl", "vagner", "19101111", "vien", "2", "c1"))
      .toDF("id", "strGName_processed", "strLName_processed", "strDoB_processed",
        "strPoB_processed", "prisoner_number", "cluster_id")
    val q = Clustering.clusterQuality(clustered).collect()
      .map(r => r.getAs[String]("cluster_id") -> r).toMap
    assert(math.abs(q("c0").getAs[Double]("average") - 100.0) < 1e-9)
    assert(q("c1").getAs[Int]("size") === 1)
    assert(q("c1").getAs[Double]("single_link") === 100.0) // lone member
  }

  test("cluster quality equals the brute-force per-member formulation on mixed members") {
    import graft.similarity.Similarity
    import graft.similarity.Similarity.Person
    // three DISTINCT members: the one-pass pair aggregation must equal
    // the literal per-member (mean / best-neighbor / worst-neighbor)
    // definition computed independently here
    val rows = Seq(
      (1L, "hans", "muler", "19430312", "berlin", "1", "c0"),
      (2L, "hans", "mulero", "19430312", "berlin", "2", "c0"),
      (3L, "johann", "muler", "19430313", "berlin", "3", "c0"))
    val clustered = rows.toDF("id", "strGName_processed", "strLName_processed",
      "strDoB_processed", "strPoB_processed", "prisoner_number", "cluster_id")
    val persons = rows.map(t => Person(t._2, t._3, t._4, t._5, t._6))
    val perMember = persons.indices.map { i =>
      val sims = persons.indices.filter(_ != i)
        .map(j => Similarity.personSimilarity(persons(i), persons(j)))
      (sims.sum / sims.size, sims.max, sims.min)
    }
    val r = Clustering.clusterQuality(clustered).collect().head
    assert(math.abs(r.getAs[Double]("average") - perMember.map(_._1).sum / 3) < 1e-9)
    assert(math.abs(r.getAs[Double]("average_link") - perMember.map(_._1).min) < 1e-9)
    assert(math.abs(r.getAs[Double]("single_link") - perMember.map(_._2).min) < 1e-9)
    assert(math.abs(r.getAs[Double]("max_link") - perMember.map(_._3).min) < 1e-9)
    // oversize guard: metrics read null (not computed), size stays real
    val big = Clustering.clusterQuality(clustered, maxClusterSize = 2).collect().head
    assert(big.getAs[Int]("size") === 3)
    assert(big.isNullAt(big.fieldIndex("average")) &&
      big.isNullAt(big.fieldIndex("max_link")),
      "oversize cluster must report null metrics, not wrong or absent ones")
  }

  test("connectedComponents warns loudly when maxIter stops propagation short") {
    // a 12-vertex path needs ~11 min-propagation rounds; maxIter=2 must
    // return mid-propagation labels WITH the stderr warning — silent
    // wrong labels were the failure mode (contrast: enough iterations
    // converge the same chain to one component, no warning)
    val vertices = (1L to 12L).toDF("id")
    val edges = (1L to 11L).map(i => (i, i + 1)).toDF("a", "b")
    val errBuf = new java.io.ByteArrayOutputStream()
    val prevErr = System.err
    val comps =
      try {
        System.setErr(new java.io.PrintStream(errBuf, true))
        Clustering.connectedComponents(vertices, edges, maxIter = 2)
          .collect().map(_.getLong(1)).distinct
      } finally System.setErr(prevErr)
    assert(comps.length > 1, "2 iterations cannot converge a 12-path")
    assert(errBuf.toString.contains("did NOT converge"),
      "unconverged exit must be loud, never silent")
    // and the converged case stays quiet
    val errBuf2 = new java.io.ByteArrayOutputStream()
    val one =
      try {
        System.setErr(new java.io.PrintStream(errBuf2, true))
        Clustering.connectedComponents(vertices, edges, maxIter = 25)
          .collect().map(_.getLong(1)).distinct
      } finally System.setErr(prevErr)
    assert(one === Array(1L))
    assert(!errBuf2.toString.contains("did NOT converge"))
  }

  test("a 300-chain trips label propagation's maxIter loudly") {
    // a 300-vertex path has diameter 299: min-label propagation at the
    // default maxIter=25 must stop short, and say so on stderr — silent
    // mid-propagation labels would split a true component
    val n = 300L
    val vertices = spark.range(0, n).toDF("id")
    val edges = spark.range(0, n - 1).select(col("id").as("a"), (col("id") + 1).as("b"))
    val errBuf = new java.io.ByteArrayOutputStream()
    val prevErr = System.err
    val labelComps =
      try {
        System.setErr(new java.io.PrintStream(errBuf, true))
        Clustering.connectedComponents(vertices, edges)
          .collect().map(_.getLong(1)).distinct
      } finally System.setErr(prevErr)
    assert(labelComps.length > 1, "25 min-label rounds cannot converge a 300-chain")
    assert(errBuf.toString.contains("did NOT converge"))
    assert(Clustering.lastCcRounds === 25)
  }

  /** Independent oracle: union-find over the edge list, every vertex
    * labelled with the minimum id of its component.
    */
  private def unionFindLabels(vertices: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = collection.mutable.Map(vertices.map(v => v -> v): _*)
    def find(v: Long): Long = {
      val p = parent(v)
      if (p == v) v else { val r = find(p); parent(v) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      // the smaller root wins, so every root is its component's minimum
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    vertices.map(v => v -> find(v)).toMap
  }

  test("label propagation agrees with a union-find oracle") {
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // mixed deterministic graph: two components, isolated vertices,
    // duplicate / reversed / self-loop edges
    val fixed = Seq((2L, 1L), (2L, 3L), (3L, 2L), (4L, 4L), // {1,2,3}; self-loop noise
      (5L, 6L), (6L, 7L), (5L, 7L), (5L, 6L)) // {5,6,7}; 4 and 8 isolated
    val fixedLabels = labelsOf(Clustering.connectedComponents(
      (1L to 8L).toDF("id"), fixed.toDF("a", "b")))
    assert(fixedLabels === unionFindLabels(1L to 8L, fixed))
    assert(fixedLabels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 8L))
    // randomized sweep: seeded Erdős–Rényi-ish graphs of varied density
    // (sparse fragments through near-connected), run with maxIter = nv
    // so no diameter can stop propagation short
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val nv = 40 + trial * 15
      val ne = nv * trial // density rises with the trial index
      val es = Seq.fill(ne)((rnd.nextInt(nv).toLong, rnd.nextInt(nv).toLong))
        .filter { case (a, b) => a != b }
      val l = labelsOf(Clustering.connectedComponents(
        spark.range(0, nv.toLong).toDF("id"), es.toDF("a", "b"), maxIter = nv))
      assert(l === unionFindLabels(0L until nv.toLong, es),
        s"trial $trial (nv=$nv ne=$ne): label propagation disagrees with union-find")
    }
  }

  test("connectedComponents on an empty graph returns empty without NPE") {
    // an empty vertex set sums to SQL NULL; the convergence compare must
    // treat NULL == NULL as converged, not dereference it (a 100 TB
    // pipeline hits this whenever blocking filters everything out)
    val vertices = Seq.empty[Long].toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Clustering.connectedComponents(vertices, edges).count() === 0L)
  }

  test("connectedComponents releases per-iteration checkpoints: only the result stays resident") {
    // a 12-vertex path graph needs several min-propagation rounds
    // (diameter 11), so the loop checkpoints repeatedly; eager release
    // must leave exactly ONE resident checkpoint — the returned labels —
    // not one per round plus the edge table
    graft.core.SessionHygiene.releaseLeftovers(spark)
    val vertices = (0L to 11L).toDF("id")
    val edges = (0L until 11L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = Clustering.connectedComponents(vertices, edges)
    val comps = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.values.toSet === Set(0L)) // one path = one component
    assert(comps.size === 12)
    val resident = spark.sparkContext.getPersistentRDDs
    assert(resident.size === 1,
      s"expected only the final labels checkpoint, found ${resident.size}")
    // and the survivor IS the result: re-reading labels still works
    assert(labels.count() === 12L)
    graft.core.SessionHygiene.releaseLeftovers(spark)
  }
}

package graft.linkage

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.similarity.Similarity
import graft.similarity.Similarity.Person
import graft.core.SessionHygiene.TrackedCheckpoint

/** Person entity clustering (SURVEY E8–E15; reference
  * `src/aroa_etl/person_matching/person_clustering.py` and
  * `scripts/clustering-container/run_clustering.py`).
  *
  * Spark formulation (SURVEY §3.2): the reference's sequential greedy is
  * re-expressed as (1) a blocked, scored edge set (equi-joins only — the
  * same bucket dataflow as person matching), (2) connected components
  * over `score ≥ cutoff` edges plus known-cluster seed edges, then
  * (3) an exact per-component replay of the reference's greedy
  * (fast + max-linkage production config) inside `mapGroups` — components
  * after blocking are person-entity-sized, so the sequential part touches
  * only a handful of rows per group while steps 1-2 carry the scale.
  */
object Clustering {

  final case class ClusterConfig(
      idxChars: Int = 4,
      lenUnits: Int = 2,
      cutoff: Double = 85.0,
      linkage: String = "max", // "max" | "single" | "average"
      allowKnownClusterMerge: Boolean = false,
      // Components larger than this skip the exact greedy replay (which
      // buffers the component on one executor) and fall back to
      // single-linkage assignment — component = cluster — streamed with
      // O(1) memory. A component this size means blocking collapsed
      // (degenerate name distribution); the fallback is counted in the
      // `graft.cluster.oversized_components` accumulator, never silent.
      maxComponentSize: Int = 10000,
      // Connected-components algorithm: "label" = min-label propagation
      // (O(component diameter) rounds, one join + one aggregate per
      // round — the default, cheapest on blocked person graphs whose
      // components are entity-sized), "star" = alternating
      // large-star/small-star contraction (O(log n) rounds regardless
      // of diameter, two grouped joins + a distinct per round — the
      // opt-in for graphs where blocking may produce long chains). The
      // two are label-equivalent (spec-pinned in ClusteringSpec).
      ccAlgorithm: String = "label")

  /** E8 collision-augmented name shingles (reference
    * `add_collision_hashes` / `add_windowed_collision_hashes`,
    * `person_clustering.py:90-122`): per subname, the vowel-stripped
    * form, its leave-one-out deletions (misspelling tolerance) and its
    * half-length windows (substring tolerance). These feed
    * [[minHashCandidates]] the same way the reference feeds its MinHash.
    */
  // hoisted: runs per subname per ROW; String.replaceAll compiles per call
  private val vowels = java.util.regex.Pattern.compile("[aeiou]")

  def nameCollisionShingles(name: String, leaveOneOut: Boolean = true): Seq[String] = {
    if (name == null) return Nil
    val out = collection.mutable.LinkedHashSet.empty[String]
    for (sub <- name.split(" ") if sub.nonEmpty) {
      out += sub
      val novowel = vowels.matcher(sub).replaceAll("")
      // an all-vowel subname strips to "": adding the empty shingle
      // would hand every such person one shared shingle and provoke
      // collisions between unrelated names ("Aia" vs "Eu") — the
      // misspelling/substring tolerance the construction exists for
      // carries no signal in a zero-length form
      if (novowel.nonEmpty) out += novowel
      if (leaveOneOut)
        // same guard for the deletions: a length-1 novowel's only
        // leave-one-out form is "" (novowel == "" contributes none)
        for (i <- 0 until novowel.length if novowel.length > 1)
          out += novowel.substring(0, i) + novowel.substring(i + 1)
      val window = math.ceil(novowel.length / 2.0).toInt
      if (window > 0)
        for (c <- 0 to novowel.length - window)
          out += novowel.substring(c, c + window)
    }
    out.toSeq
  }

  /** E8 MinHash-LSH candidate pairs over the augmented name shingles —
    * the pre-clustering alternative to prefix buckets (reference
    * `local_semantic_hashing`, person_clustering.py:124-155): union of
    * first/last-name shingles per person → MinHash signature → banded
    * bucket equi-join.
    */
  def minHashCandidates(
      persons: DataFrame, numPerm: Int = 8, bands: Int = 4,
      leaveOneOut: Boolean = false): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    val rows = numPerm / bands
    val loo = leaveOneOut
    val shingleUdf = udf { (g: String, l: String) =>
      nameCollisionShingles(if (l == null) g else if (g == null) l else s"$g $l", loo)
    }
    val bandsUdf = udf { (sh: Seq[String]) =>
      // an EMPTY shingle set (both names null/empty) must emit no bands:
      // minHashSignature(Nil) is the constant all-MaxValue signature, so
      // every such person would share EVERY band and the band self-join
      // would emit all n·(n-1)/2 pairs among them — 100k null-name rows
      // is ~5e9 bogus candidates, the quadratic blowup this construction
      // exists to avoid. No shingles = no name signal = no candidates
      // (the explode drops the row).
      if (sh.isEmpty) Seq.empty[String]
      else {
        val sig = graft.text.Dedup.minHashSignature(sh, numPerm)
        sig.grouped(rows).zipWithIndex.map { case (band, i) =>
          s"$i:${scala.util.hashing.MurmurHash3.orderedHash(band.toSeq)}"
        }.toSeq
      }
    }
    // both join sides reuse one materialized pass of the shingle+MinHash
    // UDF chain instead of recomputing it per side.
    // The repartition is safe here because the result is checkpointed
    // (the subtree runs exactly once): it spreads the per-row
    // shingle+signature UDFs, which otherwise run at the input's scan
    // parallelism — one task at bench SFs (single-row-group parquet).
    val banded = persons
      .select(col("id"), col("strGName_processed"), col("strLName_processed"))
      .repartition(graft.core.Parallelism.width(persons), col("id"))
      .select(col("id"),
        explode(bandsUdf(shingleUdf(col("strGName_processed"), col("strLName_processed"))))
        .as("band"))
      .trackedCheckpoint()
    // pinned width (r21): the candidate set feeds scorePairs' kernel
    // stage, which AQE byte-coalescing otherwise shrinks to a handful of
    // tasks (q34's scoring ran on 8 of 32 cores) — see
    // [[graft.core.Parallelism.pinnedDistinct]]
    graft.core.Parallelism.pinnedDistinct(
      banded.select(col("band"), col("id").as("a"))
        .join(banded.select(col("band"), col("id").as("b")), "band")
        .filter(col("a") < col("b"))
        .select("a", "b"),
      col("a"), col("b"))
  }

  /** `get_buckets_for_name` (person_clustering.py:157-158). Python
    * semantics throughout (r20): `lower()` is the full CPython mapping
    * (PyText.pyLower), and both `len(sub_name)` and the `[:idx_chars]`
    * slice count CODEPOINTS — `String.length`/`take` count UTF-16 units
    * and would split an astral name's blocking key at the wrong place.
    */
  def bucketsForName(name: String, idxChars: Int, lenUnits: Int): Seq[(String, Int)] =
    if (name == null) Nil
    else name.split(" ").toSeq
      .map { s =>
        // BMP fast path: without surrogate pairs, UTF-16 length IS the
        // codepoint count and substring slices codepoints — the
        // codePointCount/offsetByCodePoints machinery is only needed for
        // astral names (this kernel runs once per word per row at
        // clustering scale)
        var hasAstral = false
        var i = 0
        while (i < s.length && !hasAstral) {
          if (Character.isHighSurrogate(s.charAt(i))) hasAstral = true
          i += 1
        }
        val cps = if (hasAstral) s.codePointCount(0, s.length) else s.length
        (s, cps, hasAstral)
      }
      .filter(_._2 >= idxChars)
      .map { case (s, cps, hasAstral) =>
        val low = graft.normalize.PyText.pyLower(s)
        val key =
          if (!hasAstral && low.length == s.length) low.substring(0, idxChars)
          else {
            val lowCps = low.codePointCount(0, low.length)
            low.substring(0, low.offsetByCodePoints(0, math.min(idxChars, lowCps)))
          }
        (key, cps / lenUnits)
      }

  /** Scored candidate edges `(a, b, score)` with `a < b`: pairs sharing a
    * first-name bucket AND a last-name bucket, scored with
    * `person_similarity`, kept at `score ≥ cutoff`. Pure equi-join
    * dataflow — no cartesian, skew-splittable by AQE.
    *
    * Blocking-scheme contract: edges use the MATCHING buckets
    * ([[PersonMatching.bucketKeys]], matching.py semantics) while the
    * per-component replay re-applies the reference's CLUSTERING buckets
    * ([[bucketsForName]], person_clustering.py). On the `*_processed`
    * name domain (lowercase `[a-z ]`, the preprocessing chain's
    * output) the matching scheme is a SUPERSET: a shared clustering
    * bucket (same idxChars-prefix, same len unit, len ≥ idxChars)
    * implies a shared matching bucket, and matching additionally pairs
    * short subnames — so components always coarsen the reference's
    * bucket partition and the replay stays exact (spec-pinned in
    * ClusteringSpec). Outside that domain (punctuation inside names)
    * the two schemes can diverge; the preprocessing chain guarantees
    * clustering never sees such input.
    */
  def scoredEdges(persons: DataFrame, cfg: ClusterConfig): DataFrame = {
    val src = persons.withColumnRenamed("id", "srcID")
    val trg = persons.withColumnRenamed("id", "trgID")
    PersonMatching.scoredPairs(src, trg,
        PersonMatching.MatchConfig(
          idxChars = cfg.idxChars, lenUnits = cfg.lenUnits,
          topN = Int.MaxValue, minScore = cfg.cutoff),
        pairPredicate = col("srcID") < col("trgID"))
      .select(col("srcID").as("a"), col("trgID").as("b"), col("score"))
  }

  /** E11: seed edges joining rows that share a non-empty known-cluster
    * key (production: the prisoner number, `run_clustering.py:103-112`).
    */
  def knownClusterEdges(persons: DataFrame, keyCol: String): DataFrame = {
    val keyed = persons
      .filter(col(keyCol).isNotNull && !col(keyCol).isin(graft.core.Sentinels.NaValues: _*))
      .select(col("id"), col(keyCol).as("k"))
    val l = keyed.select(col("k"), col("id").as("a"))
    val r = keyed.select(col("k"), col("id").as("b"))
    l.join(r, "k").filter(col("a") < col("b")).select("a", "b")
  }

  /** Connected components by iterative min-label propagation. Converges
    * in O(component diameter) rounds — blocked person graphs have tiny
    * components, so the loop is short; `localCheckpoint` caps lineage.
    * (A 100 TB general graph would swap in large-star/small-star; the
    * interface stays the same.)
    *
    * Checkpoint lifecycle: each round's labels are checkpointed (the
    * plan would otherwise nest one join deeper per round), and the
    * PREVIOUS round's blocks are released as soon as the new round is
    * materialized — without that the loop pins every round's label
    * table in the block manager simultaneously (at 100 TB:
    * O(iterations × |V|) storage instead of O(|V|)), and the dead
    * blocks linger past the call (see [[graft.core.SessionHygiene]]).
    * The edge table stays pinned for the whole loop — every round
    * joins it — and is released before return.
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val sym = edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .trackedCheckpoint()
    // Convergence = changed-label count, observed inside the checkpoint's
    // materialization job (r22; replaces the r21 label-sum compare). The
    // count falls out of carrying the old label beside the new one into
    // the observation — no numeric cast, so labels can be ANY orderable
    // type, which is what lets mergeClusterings run components directly
    // over its string labels instead of minting numeric ids. The
    // propagation keeps the r21 join-back shape (aggregate neighbor
    // minima, then join the old labels back): at bench scale the
    // join-back broadcasts and costs no exchange, where the
    // union-of-self-labels alternative re-shuffles the label table every
    // round — A/B'd on q23/q34 (+0.1-0.15 s per query for the union
    // shape); at cluster scale both degenerate to the same
    // exchange count.
    // min-propagation strictly decreases a label or leaves it alone, so
    // changed == 0 IS convergence; an empty graph observes NULL (sum over
    // zero rows), which reads as converged — same round count as the sum
    // compare, no BigDecimal scale pitfalls.
    var labels = vertices.select(col("id"), col("id").as("component")).trackedCheckpoint()
    var converged = false // empty graph: round 1 observes NULL -> 0 changes
    var iter = 0
    while (!converged && iter < maxIter) {
      val obs = org.apache.spark.sql.Observation()
      val neighborMin = sym
        .join(labels.withColumnRenamed("id", "b"), "b")
        .groupBy(col("a").as("id"))
        .agg(min(col("component")).as("nmin"))
      val next = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nmin"), col("component"))).as("__next"),
          col("component").as("__prev"))
        .observe(obs, sum(when(col("__next") =!= col("__prev"), 1L)
          .otherwise(0L)).as("__changed"))
        .select(col("id"), col("__next").as("component"))
        .trackedCheckpoint()
      // `next` is materialized (localCheckpoint is eager), so the
      // previous round's blocks are dead — release now, blocking, so the
      // removal never competes with the next round
      releaseCheckpoint(labels)
      labels = next
      converged = graft.core.SessionHygiene.observedLong(obs, "__changed") == 0L
      iter += 1
    }
    // hitting maxIter unconverged returns labels mid-propagation — two
    // halves of one true component can still carry different labels
    // (clusters that should merge stay split). That is a WRONG result,
    // not a bounded approximation, so it must be loud (the same policy
    // as the oversized-component accumulator: flagged, never silent). A
    // blocked person graph converges in O(component diameter) rounds,
    // so tripping this means a degenerate chain — raise maxIter or fix
    // the blocking upstream.
    if (!converged)
      System.err.println(s"[graft] connectedComponents did NOT converge in $maxIter " +
        "iterations - returned labels are mid-propagation and may split true components; " +
        "raise maxIter for graphs with diameter > maxIter")
    releaseCheckpoint(sym)
    lastCcRounds = iter
    lastCcConverged = converged
    labels
  }

  /** Bench attribution only (the full artifact's `cluster_demo`): round
    * count and convergence of the LAST connected-components call on this
    * JVM, either algorithm. Written by [[connectedComponents]] and
    * [[connectedComponentsStar]]; never read by engine logic.
    */
  @volatile private[graft] var lastCcRounds: Int = -1
  @volatile private[graft] var lastCcConverged: Boolean = true

  /** Bench attribution only (`cluster_demo` fallback evidence): the
    * oversized-components accumulator of the LAST [[cluster]] call on
    * this JVM — its `.value` is meaningful once an action has run the
    * returned frame. Never read by engine logic.
    */
  @volatile private[graft] var lastOversizedAccumulator:
    org.apache.spark.util.LongAccumulator = _

  /** Connected components by alternating large-star/small-star edge
    * contraction — the O(log n)-round alternative to
    * [[connectedComponents]]'s min-label propagation (public algorithm:
    * Kiveris et al., "Connected Components in MapReduce and Beyond",
    * ACM SoCC 2014, the "two-phase" variant). Same contract: returns
    * `(id, component)` with `component` = min id of the component, so
    * the two are drop-in label-equivalent (spec-pinned, including on a
    * randomized graph sweep, in ClusteringSpec).
    *
    * Round structure: large-star re-hangs every strictly-larger
    * neighbor of each node u onto m(u) = min(Γ(u) ∪ {u}); small-star
    * re-hangs the smaller neighbors (and u itself) onto the minimum of
    * that smaller neighborhood. Each pair of passes roughly halves tree
    * heights, so a diameter-d chain converges in O(log d) rounds where
    * min-label propagation needs d — exactly the degenerate-chain case
    * [[connectedComponents]]'s maxIter warning exists for. Per-round
    * cost is higher (two grouped joins + a distinct + an exact set
    * compare vs one join + one aggregate), which is why label
    * propagation stays the default for blocked person graphs
    * (entity-sized components, tiny diameters); opt in via
    * `ClusterConfig(ccAlgorithm = "star")` for general graphs.
    *
    * Convergence: the canonical edge set is compared across rounds —
    * equal count AND empty `except` (both O(log n)-many times, so the
    * exact compare is affordable; a checksum could collide and stop
    * early with silently-wrong labels, the failure mode the label
    * loop's monotone label-sum argument rules out there). At the
    * fixpoint the graph is a disjoint union of stars rooted at
    * component minima, so labels read directly off the edges: member →
    * its root, root/isolated vertex → itself. Non-convergence at
    * maxIter is loud, same policy as the label loop. Bound honesty:
    * Kiveris et al. PROVE O(log^2 n) rounds for this alternation; the
    * O(log n) figure above is the observed/typical count (their
    * experiments and ours — the 4096-vertex diameter-4095 chain in
    * `cluster_demo` converges in 13 rounds ≈ log2 4096 + 1). Default
    * maxIter 35 covers the observed log-rounds for any graph up to
    * 2^35 vertices with headroom, but since the proven bound is
    * log^2, tripping it on an adversarial input is conceivable —
    * raise maxIter in that case (the loop exits early at the fixpoint
    * anyway, so a generous value costs nothing on normal graphs).
    *
    * Checkpoint lifecycle mirrors [[connectedComponents]]: each round's
    * edge set (and the intermediate large-star set, which the
    * small-star pass reads twice) is checkpointed; the previous round's
    * blocks are released as soon as the compare that reads them
    * finishes, so residency stays O(|E|), not O(rounds × |E|).
    */
  def connectedComponentsStar(vertices: DataFrame, edges: DataFrame, maxIter: Int = 35): DataFrame = {
    // canonicalize: undirected a < b, self-loop-free, deduplicated —
    // the loop body preserves this invariant (both star passes emit
    // (min, other) pairs), so only the input pays a normalization pass
    var cur = edges
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .trackedCheckpoint()
    var curCount = cur.count()
    var converged = curCount == 0L // no edges: every vertex is its own star
    var iter = 0
    while (!converged && iter < maxIter) {
      val sym = cur.select(col("a").as("u"), col("b").as("v"))
        .union(cur.select(col("b").as("u"), col("a").as("v")))
      // large-star: every neighbor v > u re-hangs onto m = min(Γ(u) ∪ {u});
      // m ≤ u < v keeps emitted pairs canonical with no re-sort
      val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = sym.filter(col("v") > col("u"))
        .join(mins, "u")
        .filter(col("m") =!= col("v"))
        .select(col("m").as("a"), col("v").as("b"))
        .distinct()
        .trackedCheckpoint()
      // small-star over the large-star output: neighbors v < u (plus u
      // itself) re-hang onto m = min of those neighbors; m ≤ v < u
      val sym2 = large.select(col("a").as("u"), col("b").as("v"))
        .union(large.select(col("b").as("u"), col("a").as("v")))
      val smaller = sym2.filter(col("v") < col("u"))
      val mins2 = smaller.groupBy("u").agg(min(col("v")).as("m"))
      val next = smaller.join(mins2, "u")
        .filter(col("m") =!= col("v"))
        .select(col("m").as("a"), col("v").as("b"))
        .union(mins2.select(col("m").as("a"), col("u").as("b")))
        .distinct()
        .trackedCheckpoint()
      // next is materialized (localCheckpoint is eager); the large-star
      // intermediate is dead — release before the compare runs
      releaseCheckpoint(large)
      val nextCount = next.count()
      // equal-cardinality distinct sets with next ⊆ cur are equal — one
      // count (already needed) + one anti-join, exact
      converged = nextCount == curCount && next.except(cur).isEmpty
      releaseCheckpoint(cur)
      cur = next
      curCount = nextCount
      iter += 1
    }
    if (!converged)
      System.err.println(s"[graft] connectedComponentsStar did NOT converge in $maxIter " +
        "rounds - returned labels are mid-contraction and may split true components; " +
        "star contraction needs O(log n) rounds, so this input is far past design scale")
    // at the fixpoint every non-root appears as `b` in exactly one star
    // edge whose `a` is the component min; min() keeps the unconverged
    // (loudly flagged) case deterministic rather than join-multiplied
    val memberRoot = cur.groupBy(col("b").as("id")).agg(min(col("a")).as("cmin"))
    val labels = vertices.select(col("id"))
      .join(memberRoot, Seq("id"), "left")
      .select(col("id"), coalesce(col("cmin"), col("id")).as("component"))
      .trackedCheckpoint()
    releaseCheckpoint(cur)
    lastCcRounds = iter
    lastCcConverged = converged
    labels
  }

  /** Release the persisted blocks behind a `localCheckpoint`'ed frame
    * (no-op for any other plan). Delegates to
    * [[graft.core.SessionHygiene.release]] — one home for the
    * Spark-version-coupled `LogicalRDD` reach-in and for the tracked-id
    * bookkeeping behind the scoped `releaseLeftovers`. Blocking by
    * design; the frame must never be re-executed afterwards: a
    * localCheckpoint's lineage is truncated, so its blocks are the only
    * copy.
    */
  private def releaseCheckpoint(df: DataFrame): Unit =
    graft.core.SessionHygiene.release(df)

  private val personFields = Seq("strGName_processed", "strLName_processed",
    "strDoB_processed", "strPoB_processed", "prisoner_number")

  /** Missing optional columns read as null (absent), matching
    * [[PersonMatching.personStruct]]'s `opt` on the edge side — a frame
    * with only id+names must replay, not crash on `getAs`.
    */
  private def rowPerson(r: Row): Person = {
    val flds = r.schema.fieldNames.toSet
    def opt(f: String): String = if (flds(f)) r.getAs[String](f) else null
    Person(
      gname = opt("strGName_processed"),
      lname = opt("strLName_processed"),
      dob = opt("strDoB_processed"),
      pob = opt("strPoB_processed"),
      prisonerNumber = opt("prisoner_number"))
  }

  /** Presence flags from the frame's schema — the SAME rule
    * [[PersonMatching.scoredPairs]] applies on the edge side (column
    * configured = column present), so edge admission and replay
    * admission score identically. A configured-but-absent date must not
    * contribute a zero to the replay while the edges ignored it.
    */
  private def presenceFlags(fieldNames: Iterable[String]): (Boolean, Boolean, Boolean) = {
    val flds = fieldNames.toSet
    (flds("strDoB_processed"), flds("prisoner_number"), flds("strPoB_processed"))
  }

  private def linkScore(p: Person, cluster: Seq[Person], linkage: String,
      useDate: Boolean = true, usePrisoner: Boolean = true, usePob: Boolean = true): Double = {
    if (cluster.isEmpty) return 100.0
    val sims = cluster.map(c => Similarity.personSimilarity(p, c,
      useDate = useDate, usePrisoner = usePrisoner, usePob = usePob))
    linkage match {
      case "single"  => sims.max
      case "average" => sims.sum / sims.size
      case "max"     => sims.min
      case other     => throw new IllegalArgumentException(s"linkage $other")
    }
  }

  /** E10 exact greedy replay within one component (the reference's
    * `agglomerative_clustering` with fast iteration): seeds enumerate
    * known clusters first then id order; a candidate joins when its
    * linkage score vs the growing cluster clears the cutoff; known
    * clusters never merge with each other unless allowed.
    * Returns (memberId, localClusterIdx) pairs.
    */
  private[linkage] def greedyCluster(
      rows: Seq[Row], cfg: ClusterConfig, knownKeyCol: Option[String]): Seq[(Long, Int)] = {
    // presence flags once per component, from the rows' shared schema —
    // replay admission must score exactly like edge admission did
    val (useDate, usePrisoner, usePob) =
      presenceFlags(rows.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil))
    val byId = rows.map(r => r.getAs[Long]("id") -> r).toMap
    // Person conversion ONCE per row per component: linkScore below
    // runs O(bucket x cluster) times, and rowPerson per call would
    // rebuild the schema field-name Set and re-extract five fields
    // every time (clusterQuality hoists identically)
    val personById: Map[Long, Person] =
      byId.view.mapValues(rowPerson).toMap
    val ids = rows.map(_.getAs[Long]("id")).sorted

    def knownKey(id: Long): Option[String] = knownKeyCol.flatMap { kc =>
      Option(byId(id).getAs[String](kc))
        .filterNot(graft.core.Sentinels.NaValues.contains)
    }
    val knownGroups: Map[String, Seq[Long]] =
      ids.flatMap(id => knownKey(id).map(_ -> id)).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val knownIds: Set[Long] = knownGroups.values.flatten.toSet
    // enumeration: known-cluster members first (by key then id), then rest
    val enumeration = knownGroups.toSeq.sortBy(_._1).flatMap(_._2) ++
      ids.filterNot(knownIds.contains)

    def buckets(id: Long, colName: String): Set[(String, Int)] =
      bucketsForName(byId(id).getAs[String](colName), cfg.idxChars, cfg.lenUnits).toSet

    var notClustered = enumeration.toVector
    val out = Vector.newBuilder[(Long, Int)]
    var clusterIdx = 0
    while (notClustered.nonEmpty) {
      val seed = notClustered.head
      val stillFree = notClustered.toSet
      val preCluster: Seq[Long] =
        knownKey(seed).map(knownGroups).getOrElse(Seq(seed))
          .filter(id => byId.contains(id) && stillFree.contains(id))
      // candidate bucket: rows sharing an fname AND an lname bucket with
      // any pre-cluster member (run_clustering.py get_bucket_fn)
      val fB = preCluster.flatMap(buckets(_, "strGName_processed")).toSet
      val lB = preCluster.flatMap(buckets(_, "strLName_processed")).toSet
      var bucket = notClustered.filter { id =>
        buckets(id, "strGName_processed").exists(fB) && buckets(id, "strLName_processed").exists(lB)
      }
      if (!cfg.allowKnownClusterMerge)
        bucket = bucket.filterNot(id => knownIds.contains(id) && !preCluster.contains(id))

      val cluster = collection.mutable.ArrayBuffer[Long](preCluster: _*)
      for (other <- bucket.sorted if !cluster.contains(other)) {
        val score = linkScore(personById(other),
          cluster.map(personById).toSeq, cfg.linkage,
          useDate = useDate, usePrisoner = usePrisoner, usePob = usePob)
        if (score >= cfg.cutoff) cluster += other
      }
      cluster.foreach(id => out += (id -> clusterIdx))
      val inCluster = cluster.toSet
      notClustered = notClustered.filterNot(inCluster)
      clusterIdx += 1
    }
    out.result()
  }

  /** E10/E12 full clustering: blocked scored edges + seed edges →
    * components → exact greedy replay per component → `cluster_id`
    * column appended to the input.
    *
    * @param persons frame with `id: long` + the person columns
    * @param knownKeyCol optional known-cluster key column (E11)
    */
  def cluster(
      persons: DataFrame,
      cfg: ClusterConfig = ClusterConfig(),
      knownKeyCol: Option[String] = None): DataFrame = {
    // validate BEFORE any checkpointing work so a bad config cannot
    // leave tracked blocks behind
    require(cfg.ccAlgorithm == "label" || cfg.ccAlgorithm == "star",
      s"ccAlgorithm ${cfg.ccAlgorithm} (expected label|star)")
    val edges = scoredEdges(persons, cfg).select("a", "b")
    val allEdges = knownKeyCol match {
      case Some(k) => edges.union(knownClusterEdges(persons, k)).distinct()
      case None    => edges
    }
    val comps =
      if (cfg.ccAlgorithm == "star") connectedComponentsStar(persons.select("id"), allEdges)
      else connectedComponents(persons.select("id"), allEdges)
    val withComp = persons.join(comps, "id")

    val cfgB = cfg
    val keyB = knownKeyCol
    val oversized = persons.sparkSession.sparkContext
      .longAccumulator("graft.cluster.oversized_components")
    lastOversizedAccumulator = oversized
    val assignSchema = StructType(Seq(
      StructField("id", LongType), StructField("cluster_id", StringType)))
    val assignments = withComp
      .groupByKey(r => r.getAs[Long]("component"))(Encoders.scalaLong)
      .flatMapGroups { (comp, it) =>
        // buffer up to the guard bound; a component past it is degenerate
        // (blocking collapsed) — fall back to single-linkage semantics
        // (component = one cluster, every edge already ≥ cutoff) and
        // stream the assignment instead of materializing the group
        val buf = collection.mutable.ArrayBuffer.empty[Row]
        var over = false
        while (it.hasNext && !over) {
          buf += it.next()
          if (buf.length > cfgB.maxComponentSize) over = true
        }
        if (!over)
          greedyCluster(buf.toSeq, cfgB, keyB).iterator.map { case (id, local) =>
            Row(id, s"${comp}_$local")
          }
        else {
          oversized.add(1)
          System.err.println(s"[graft.cluster] component $comp exceeds " +
            s"maxComponentSize=${cfgB.maxComponentSize}; single-linkage fallback")
          (buf.iterator ++ it).map(r => Row(r.getAs[Long]("id"), s"${comp}_0"))
        }
      }(Encoders.row(assignSchema))
    persons.join(assignments, Seq("id"), "left")
  }

  /** E13 `clean_td_cases` (person_clustering.py:292-304): re-segment a
    * clustering so rows sharing a known TD number form atomic clusters —
    * TD-keyed rows leave their computed cluster and regroup by the key.
    */
  def cleanTdCases(clustered: DataFrame, tdCol: String = "TD_number"): DataFrame = {
    val hasTd = col(tdCol).isNotNull &&
      !col(tdCol).isin(graft.core.Sentinels.NaValues: _*)
    clustered.withColumn("cluster_id",
      when(hasTd, concat(lit("td:"), col(tdCol))).otherwise(col("cluster_id")))
  }

  /** E14 `merge_clusterings`: union-find over co-membership — two
    * assignments merge wherever they share a row.
    *
    * Formulation (r21): connected components run over the LABEL graph
    * only — vertices are the distinct cluster labels (`c1:`/`c2:`
    * prefixed), and each row star-connects the labels it carries. The
    * previous shape put every ROW on the graph too (row ↔ label edges):
    * same components, but with |rows| extra vertices and a diameter of
    * up to 2× the label-graph's plus one — on q60's corpus that meant 7
    * propagation rounds over ~180k vertices where the label graph needs
    * 3 over ~28k (measured: the merge loop was 5.8 s of q60's 6.8 s).
    *
    * r22: components run DIRECTLY over the label strings.
    * [[connectedComponents]]'s changed-count convergence puts no numeric
    * requirement on the vertex type, so the r21 dense-long mapping
    * (distinct + monotonically_increasing_id + a checkpoint to pin the
    * non-deterministic assignment + three join-backs) is deleted
    * outright — profiled on q60, that machinery was a third of the
    * merge's AQE stage-materialization jobs. The output is unchanged:
    * the merged cluster label is still the lexicographic min over ALL
    * the old graph's member vids — attached row ids (as strings) and
    * label strings — and rows carrying no (non-null) label were
    * isolated vertices before, i.e. their own cluster, which the
    * left-join fallback reproduces.
    */
  def mergeClusterings(l1: DataFrame, l2: DataFrame): DataFrame = {
    val ids = l1.select(col("id")).union(l2.select(col("id"))).distinct()
    // (row id, prefixed label); a null cluster_id yields a null label —
    // dropped explicitly (the r21 shape dropped them via the mapping
    // equi-join; connectedComponents' union shape would otherwise admit
    // a null vertex from the self branch)
    val rowLabel = l1.select(col("id"), concat(lit("c1:"), col("cluster_id")).as("lbl"))
      .union(l2.select(col("id"), concat(lit("c2:"), col("cluster_id")).as("lbl")))
      .filter(col("lbl").isNotNull)
    // star edges per row: every label of the row hangs off the row's
    // lexicographically-least label (co-membership connectivity,
    // |labels per row| − 1 edges instead of a per-row clique)
    val rowMin = rowLabel.groupBy("id").agg(min(col("lbl")).as("mn"))
    val edges = rowLabel.join(rowMin, "id")
      .filter(col("lbl") =!= col("mn"))
      .select(col("mn").as("a"), col("lbl").as("b"))
      .distinct()
    val comps = connectedComponents(
      rowLabel.select(col("lbl")).distinct().withColumnRenamed("lbl", "id"), edges)
      .withColumnRenamed("id", "lbl")
    // component = the min label string (deterministic, unlike the r21
    // nids), but the OUTPUT contract predates the label-graph shape:
    // the cluster name is the lexicographic min vid over the OLD
    // graph's component members — attached row ids (as strings) AND
    // the label strings — so re-derive it the same way.
    val rowComp = rowLabel.join(comps, "lbl").select(col("id"), col("component"))
    val repr = rowComp.select(col("component"), col("id").cast("string").as("vid"))
      .union(comps.select(col("component"), col("lbl").as("vid")))
      .groupBy(col("component")).agg(min(col("vid")).as("cluster_id"))
    // a row in both clusterings reaches one component twice (its two
    // labels are linked by the row itself) — dropDuplicates, not a
    // multiplicity bug
    val assigned = rowComp.dropDuplicates("id", "component").join(repr, "component")
      .select(col("id"), col("cluster_id"))
    // rows with no non-null label were isolated vertices in the old
    // graph: their own singleton cluster, labelled by their own vid
    ids.join(assigned, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster_id"), col("id").cast("string")).as("cluster_id"))
  }

  /** E15 cluster quality: per-cluster average/single/max link statistics
    * (`cluster_integrety`, person_clustering.py:69-81).
    */
  def clusterQuality(clustered: DataFrame, maxClusterSize: Int = 10000): DataFrame = {
    val schema = StructType(Seq(
      StructField("cluster_id", StringType), StructField("size", IntegerType),
      StructField("average", DoubleType), StructField("average_link", DoubleType),
      StructField("single_link", DoubleType), StructField("max_link", DoubleType)))
    val (useDate, usePrisoner, usePob) = presenceFlags(clustered.columns.toSeq)
    clustered
      .groupByKey(r => r.getAs[String]("cluster_id"))(Encoders.STRING)
      .mapGroups { (cid, it) =>
        // Size guard, same policy as cluster()'s maxComponentSize: the
        // oversized fallback deliberately emits huge degenerate
        // clusters as-is, and an unguarded n²/2 kernel pass over a 50k
        // cluster is ~1.2e9 similarity calls in one task. Past the
        // bound, metrics read NULL (not computed) with the size still
        // reported — loud, never wrong.
        // count with a loop that OWNS the iterator: reusing `it` after
        // take() is documented-undefined ("one should discard the
        // iterator take was called on") and the reported size is the
        // one field the guard promises to keep accurate
        val buf = collection.mutable.ArrayBuffer.empty[Row]
        while (it.hasNext && buf.size <= maxClusterSize) buf += it.next()
        if (buf.size > maxClusterSize) {
          var total = buf.size
          while (it.hasNext) { it.next(); total += 1 } // drain for the true size
          System.err.println(s"[graft] clusterQuality: cluster $cid has $total members " +
            s"> maxClusterSize=$maxClusterSize - metrics not computed (null)")
          Row(cid, total, null, null, null, null)
        } else {
          val members = buf.toSeq.map(rowPerson)
          val n = members.size
          // the similarity kernel is symmetric for the defaults used
          // here (dateSimilarity, not the directional simple matcher),
          // so ONE pass over unordered pairs feeds per-member sum/min/
          // max — a third of the kernel calls of scoring the three
          // linkage kinds independently, with O(n) memory (no matrix)
          val sum = new Array[Double](n)
          val mn = Array.fill(n)(Double.MaxValue)
          val mx = Array.fill(n)(Double.MinValue)
          var i = 0
          while (i < n) {
            var j = i + 1
            while (j < n) {
              val s = Similarity.personSimilarity(members(i), members(j),
                useDate = useDate, usePrisoner = usePrisoner, usePob = usePob)
              sum(i) += s; sum(j) += s
              if (s < mn(i)) mn(i) = s
              if (s < mn(j)) mn(j) = s
              if (s > mx(i)) mx(i) = s
              if (s > mx(j)) mx(j) = s
              j += 1
            }
            i += 1
          }
          // per-member link scores vs the rest of the cluster:
          // average = mean, single = best neighbor (max), max-linkage =
          // worst neighbor (min); a singleton's rest is empty -> 100
          val avg = if (n == 1) Seq(100.0) else sum.toSeq.map(_ / (n - 1))
          val single = if (n == 1) Seq(100.0) else mx.toSeq
          val maxL = if (n == 1) Seq(100.0) else mn.toSeq
          Row(cid, n,
            avg.sum / avg.size, avg.min, single.min, maxL.min)
        }
      }(Encoders.row(schema))
  }
}

package graft

import graft.core.ScaleKnob

class ScaleKnobSpec extends SparkSpec {

  private def withProp(k: String, v: String)(body: => Unit): Unit = {
    val saved = sys.props.get(k)
    sys.props(k) = v
    try body
    finally saved match {
      case Some(s) => sys.props(k) = s
      case None    => sys.props.remove(k)
    }
  }

  test("replicate default is identity: sample returns the input plan untouched") {
    val session = spark
    import session.implicits._
    val df = Seq((0L, "Anna"), (7L, "Bo")).toDF("id", "name")
    val out = ScaleKnob.sample(df, "id")
    assert(out.collect().toSet === df.collect().toSet)
  }

  test("replication builds disjoint isomorphic shards (ids unique, letters shifted, arrays rotated, digits kept)") {
    val session = spark
    import session.implicits._
    val df = Seq(
      (0L, "Anna Maria", "19440101", Array(1f, 2f, 3f, 4f)),
      (1L, "Anna Maria", "19500101", Array(2f, 1f, 0f, 0f)),
      (2L, "Bruno Xavier", "19440101", Array(0f, 0f, 1f, 2f)))
      .toDF("id", "name", "dob", "emb")
    withProp(ScaleKnob.ReplicateProp, "3") {
      val out = ScaleKnob.sample(df, "id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getSeq[Float](3)))
      assert(out.length === 9)
      // ids globally unique and shard-attributable: id*3 + k
      assert(out.map(_._1).toSet.size === 9)
      val byShard = out.groupBy(t => (t._1 % 3).toInt)
      assert(byShard.keySet === Set(0, 1, 2))
      // copy 0 content is bit-identical to the base corpus
      val shard0 = byShard(0).map(t => (t._1 / 3, t._2, t._3, t._4)).sortBy(_._1)
      assert(shard0.map(t => (t._2, t._3, t._4.toList)) ===
        Seq(("Anna Maria", "19440101", List(1f, 2f, 3f, 4f)),
          ("Anna Maria", "19500101", List(2f, 1f, 0f, 0f)),
          ("Bruno Xavier", "19440101", List(0f, 0f, 1f, 2f))))
      for (k <- 1 to 2) {
        val shard = byShard(k).map(t => (t._1 / 3, t._2, t._3, t._4)).sortBy(_._1)
        // ISOMORPHIC within the shard: the Caesar is one bijection per
        // copy, so the two base rows with equal names stay equal...
        assert(shard(0)._2 === shard(1)._2)
        assert(shard(0)._2 !== shard(2)._2)
        // ...and DISJOINT across shards: shifted letters never collide
        // with the base names (this is what keeps cross-shard buckets
        // empty and candidate growth ~n x, not n^2 x)
        assert(shard(0)._2 !== "Anna Maria")
        assert(shard(0)._2.length === "Anna Maria".length)
        assert(shard(0)._2.charAt(4) === ' ') // non-letters untouched
        // digit-only fields stay valid dates, identical across shards
        assert(shard(0)._3 === "19440101")
        // arrays rotate by k: inner products within a shard are the
        // base corpus's exactly (rotation is a uniform permutation)
        assert(shard(0)._4.toList === (List(1f, 2f, 3f, 4f).drop(k) ++ List(1f, 2f, 3f, 4f).take(k)))
        def dot(a: Seq[Float], b: Seq[Float]) = a.zip(b).map { case (x, y) => x * y }.sum
        assert(dot(shard(0)._4, shard(1)._4) === dot(Seq(1f, 2f, 3f, 4f), Seq(2f, 1f, 0f, 0f)))
      }
    }
  }

  test("replicate composes with frac: sample first, then shard the sampled base") {
    val session = spark
    import session.implicits._
    val df = spark.range(1000).toDF("id").withColumn("name", org.apache.spark.sql.functions.lit("abc"))
    withProp(ScaleKnob.Prop, "0.5") {
      withProp(ScaleKnob.ReplicateProp, "2") {
        val out = ScaleKnob.sample(df, "id")
        assert(out.count() === 1000L) // 500 sampled x 2 shards
      }
    }
  }

  test("array rotation wraps via modulo and negates on wrap - no shard collapses to identity") {
    val session = spark
    import session.implicits._
    // dim 4 < factor 5: shard 4's raw rotation would be identity (the
    // collapse the reviewer caught); the wrap rule negates instead,
    // which preserves within-shard inner products (D^2 = I) while
    // cross-shard cosines flip sign and stop matching
    val df = Seq((0L, Array(1f, 2f, 3f, 4f))).toDF("id", "emb")
    withProp(ScaleKnob.ReplicateProp, "5") {
      val out = ScaleKnob.sample(df, "id").collect()
        .map(r => ((r.getLong(0) % 5).toInt, r.getSeq[Float](1).toList)).toMap
      assert(out(1) === List(2f, 3f, 4f, 1f)) // plain rotation
      assert(out(4) === List(-1f, -2f, -3f, -4f)) // wrapped -> negated
      assert(out.values.toSet.size === 5, "two shards carry identical vectors")
    }
  }

  test("narrow arrays that cannot stay disjoint fail loudly instead of collapsing shards") {
    val session = spark
    import session.implicits._
    def messages(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ::: messages(t.getCause)
    val df = Seq((0L, Array(1f, 2f, 3f, 4f))).toDF("id", "emb")
    // dim 4: ANY factor with two shards k = k' (mod 4) collides —
    // factor 6 by plain rotation (shards 1 and 5 both rotate by 1),
    // factor 9 also by the wrapped-negated pair (shards 4 and 8). Both
    // must fire at execution (the dim is data), naming the property.
    for (factor <- Seq("6", "9")) withProp(ScaleKnob.ReplicateProp, factor) {
      val e = intercept[Throwable](ScaleKnob.sample(df, "id").collect())
      assert(messages(e).exists(_.contains(ScaleKnob.ReplicateProp)),
        s"factor $factor: expected the guard naming ${ScaleKnob.ReplicateProp}, got: ${messages(e)}")
    }
    // factor 5 on dim 4 is the widest legal case (signatures
    // rot1/rot2/rot3/negated all distinct) — the wrap test above
    // depends on it staying legal
    withProp(ScaleKnob.ReplicateProp, "5") {
      assert(ScaleKnob.sample(df, "id").count() === 5L)
    }
    // a wide-enough array is untouched by the guard (dim >= n - 1)
    val wide = Seq((0L, Array.tabulate(16)(_.toFloat))).toDF("id", "emb")
    withProp(ScaleKnob.ReplicateProp, "9") {
      assert(ScaleKnob.sample(wide, "id").count() === 9L)
    }
  }

  test("NULL and empty arrays replicate as pass-through instead of tripping the dim guard") {
    val session = spark
    import session.implicits._
    // pre-guard behavior: a NULL embedding replicated as NULL. The dim
    // guard must not change that — size(NULL)/size(array()) would feed
    // it null/0 and raise a misleading "disjoint at dim=..." error for
    // rows that carry nothing to rotate in the first place
    val df = Seq(
      (0L, Option(Array(1f, 2f, 3f, 4f))),
      (1L, Option.empty[Array[Float]]),
      (2L, Option(Array.empty[Float])))
      .toDF("id", "emb")
    withProp(ScaleKnob.ReplicateProp, "3") {
      val out = ScaleKnob.sample(df, "id").collect()
        .map(r => (r.getLong(0), Option(r.getSeq[Float](1)).map(_.toList)))
      assert(out.length === 9)
      val byBase = out.groupBy(_._1 / 3) // ids remap to id*n + k, so id/n recovers the base row
      assert(byBase(1L).forall(_._2.isEmpty), "NULL arrays must stay NULL in every shard")
      assert(byBase(2L).forall(_._2.contains(Nil)), "empty arrays must stay empty in every shard")
      // the guard still fires for real rows: non-degenerate vectors at
      // dim 4 under factor 6 collide and must keep raising
      withProp(ScaleKnob.ReplicateProp, "6") {
        intercept[Throwable](ScaleKnob.sample(df, "id").collect())
      }
    }
  }

  test("every legal (dim, factor) combination yields pairwise-distinct shard vectors") {
    val session = spark
    import session.implicits._
    // sweep the legal boundary the guard enforces (dim >= factor - 1):
    // for each combination, the n shards of one base vector must carry
    // n DISTINCT arrays — any collision is exactly the densification
    // the guard exists to prevent, so this is the guard's contrapositive
    for (dim <- Seq(4, 5, 8); factor <- 2 to math.min(dim + 1, 8)) {
      val base = Array.tabulate(dim)(i => (i + 1).toFloat)
      val df = Seq((0L, base)).toDF("id", "emb")
      withProp(ScaleKnob.ReplicateProp, factor.toString) {
        val shards = ScaleKnob.sample(df, "id").collect()
          .map(_.getSeq[Float](1).toList).toSet
        assert(shards.size === factor,
          s"dim=$dim factor=$factor: expected $factor distinct shard vectors, got ${shards.size}")
      }
    }
  }

  test("invalid replicate values fail loudly with the property name") {
    val session = spark
    import session.implicits._
    val df = Seq((1L, "x")).toDF("id", "name")
    for (bad <- Seq("zero", "0", "27", "101")) withProp(ScaleKnob.ReplicateProp, bad) {
      val e = intercept[IllegalArgumentException](ScaleKnob.sample(df, "id"))
      assert(e.getMessage.contains(ScaleKnob.ReplicateProp))
    }
  }

  test("frac below the 1/1000 threshold resolution fails loudly instead of emptying the corpus") {
    val session = spark
    import session.implicits._
    val df = Seq((1L, "x")).toDF("id", "name")
    // 0.0004 passes a naive (0,1] check but round(0.0004*1000)=0 keeps
    // ZERO rows — the silently-empty sample the validation exists for
    withProp(ScaleKnob.Prop, "0.0004") {
      val e = intercept[IllegalArgumentException](ScaleKnob.sample(df, "id"))
      assert(e.getMessage.contains("0.0005"))
    }
    // the smallest representable fraction still samples
    withProp(ScaleKnob.Prop, "0.001") {
      assert(ScaleKnob.sample(spark.range(0, 2000).toDF("id"), "id").count() === 2L)
    }
  }

  test("q61 keeps the base's parts in every replicated shard") {
    // q61 keeps every fourth part. The filter must key on the on-disk
    // part key, before replication remaps ids to id*n + k: a filter on
    // the remapped id keeps a different subset in each shard. Source ids
    // are 2*pid (+1 for the variant), so (srcID / 2) / n is the base
    // part and (srcID / 2) % n the shard
    val q61 = SparkEntry.queries("q61_dedupe_targets")
    def partIds(): Seq[Long] =
      q61(spark, sf).select("srcID").collect().map(_.getAs[Number](0).longValue / 2).toSeq
    val base = partIds().toSet
    assert(base.nonEmpty)
    withProp(ScaleKnob.ReplicateProp, "3") {
      val byShard = partIds().groupBy(_ % 3)
      for (k <- 0 until 3)
        assert(byShard.getOrElse(k, Nil).map(_ / 3).toSet === base,
          s"shard $k does not hold the base q61's parts")
    }
  }
}

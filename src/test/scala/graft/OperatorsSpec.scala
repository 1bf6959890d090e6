package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, AsOfJoin, Dedup, Multimodal}

/** Operator-level tests: as-of join vs a naive per-row oracle, dedup
  * candidate quality, ANN recall vs brute force, multimodal plumbing.
  */
class OperatorsSpec extends SparkTestBase {
  import spark.implicits._

  test("as-of join matches the naive theta-join + row_number oracle") {
    val ev = Tables.t(spark, sf001, "events")
    val left = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val right = ev.filter($"event_type" === "signup")
      .select($"event_id", $"user_id", $"ts")
    val got = AsOfJoin.join(left, right, "user_id", "ts", "ts",
      Seq("event_id"))
      .select($"event_id", $"asof_event_id")

    // naive oracle: theta join + keep latest right per left row
    val l = left.select($"event_id".as("lid"), $"user_id".as("lu"),
      $"ts".as("lts"))
    val r = right.select($"event_id".as("rid"), $"user_id".as("ru"),
      $"ts".as("rts"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lid").orderBy($"rts".desc, $"rid".desc)
    val naive = l.join(r, $"lu" === $"ru" && $"lts" >= $"rts", "left")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"lid".as("event_id"), $"rid".as("asof_event_id"))
    assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty,
      "as-of join differs from naive oracle")
  }

  test("as-of join: forward direction and tolerance bounds") {
    val left = Seq((1L, 10L, 100L), (2L, 10L, 200L), (3L, 20L, 100L))
      .toDF("lid", "user_id", "ts")
    val right = Seq((91L, 10L, 100L), (92L, 10L, 150L), (93L, 20L, 500L))
      .toDF("rid", "user_id", "ts")
    // forward: earliest right at-or-after; equal ts matches
    val fwd = AsOfJoin.join(left, right, "user_id", "ts", "ts",
      Seq("rid"), direction = "forward")
      .select($"lid", $"asof_rid").as[(Long, Option[Long])]
      .collect().toMap
    assert(fwd(1L).contains(91L)) // ts 100 matches ts 100 (inclusive)
    assert(fwd(2L).isEmpty)       // nothing at-or-after 200
    assert(fwd(3L).contains(93L))
    // forward + tolerance: the ts-500 match lies beyond +100
    val fwdTol = AsOfJoin.join(left, right, "user_id", "ts", "ts",
      Seq("rid"), direction = "forward", tolerance = Some(lit(100L)))
      .select($"lid", $"asof_rid").as[(Long, Option[Long])]
      .collect().toMap
    assert(fwdTol(1L).contains(91L) && fwdTol(3L).isEmpty)
    // backward + tolerance: latest-at-or-before survives only in range
    val backTol = AsOfJoin.join(left, right, "user_id", "ts", "ts",
      Seq("rid"), tolerance = Some(lit(40L)))
      .select($"lid", $"asof_rid").as[(Long, Option[Long])]
      .collect().toMap
    assert(backTol(1L).contains(91L)) // exact hit, distance 0
    assert(backTol(2L).isEmpty)       // nearest is 150, distance 50 > 40
    assert(backTol(3L).isEmpty)       // no right at-or-before at all
  }

  test("exact dedup groups identical texts") {
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(docs).orderBy($"keep_id").collect()
    assert(out.length == 2)
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 2L), (3L, 1L)))
  }

  test("minHashLsh surfaces planted near-duplicates") {
    val base = (1 to 80).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 76).map(i => s"word$i").mkString(" ") +
      " tail changed slightly here"
    val unrelated = (500 to 580).map(i => s"tok$i").mkString(" ")
    val docs = Tables.t(spark, sf001, "documents")
      .select($"doc_id" + 1000, $"text")
      .toDF("doc_id", "text")
      .unionByName(Seq((1L, base), (2L, nearDup), (3L, unrelated))
        .toDF("doc_id", "text"))
    val pairs = Dedup.minHashLsh(docs, minJaccard = 0.3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"planted near-dup not found: $pairs")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("simHashDups surfaces planted near-duplicates") {
    val base = (1 to 80).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 78).map(i => s"word$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup),
      (3L, (900 to 980).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Dedup.simHashDups(docs, maxHamming = 6)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("hot bucket: capped candidates stay O(n·cap), closure intact") {
    // one degenerate bucket of 2000 members — the boilerplate-corpus
    // failure mode. Uncapped pairing would emit C(2000,2) ≈ 2.0M pairs.
    val n = 2000
    val cap = 32
    val members = (1 to n).map(i => (i.toLong, 7L)).toDF("id", "k")
    val pairs = Dedup.cappedBucketJoin(members, Seq("k"), cap)
    val m = pairs.count()
    // same-block ≈ n·(cap-1)/2, adjacent ≈ n·cap; allow hash-imbalance
    assert(m <= 3L * n * cap, s"candidate blowup: $m pairs")
    assert(m >= n - 1, s"bucket under-connected: $m pairs")
    // the capped pair set must still be ONE connected component, so
    // clusters() recovers the full duplicate group
    val cl = Dedup.clusters(pairs).select($"cluster").distinct().collect()
    assert(cl.length == 1, s"bucket split into ${cl.length} components")
    // buckets at/under cap are byte-identical to the exact self-join
    val small = (1 to 20).map(i => (i.toLong, 3L)).toDF("id", "k")
    assert(Dedup.cappedBucketJoin(small, Seq("k"), cap).count() == 190)
  }

  test("hot corpus: minHashLsh with 1000 identical docs stays bounded") {
    val text = (1 to 60).map(i => s"word$i").mkString(" ")
    val docs = (1L to 1000L).map(i => (i, text)).toDF("doc_id", "text")
    val pairs = Dedup.minHashLsh(docs, minJaccard = 0.9, bucketCap = 32)
    val m = pairs.count()
    // identical docs collide in EVERY band; the guard holds each band's
    // bucket to O(n·cap) and cross-band duplicates collapse in distinct()
    assert(m <= 3L * 1000 * 32, s"candidate blowup: $m pairs")
    // transitive closure still identifies one duplicate cluster of 1000
    val kept = Dedup.keepRepresentatives(docs, pairs).count()
    assert(kept == 1, s"expected 1 representative, got $kept")
  }

  test("incremental near-dup equals the batch answer restricted to " +
      "pairs touching a new doc (cap not binding)") {
    val docs = Tables.t(spark, sf001, "documents")
    val full = Dedup.minHashLsh(docs, minJaccard = 0.2)
    val expected = full.filter($"id_a" % 5 === 0 || $"id_b" % 5 === 0)
    val inc = Dedup.minHashLshIncremental(docs,
      isNew = $"doc_id" % 5 === 0, minJaccard = 0.2,
      indexCap = Int.MaxValue)
    assert(inc.exceptAll(expected).isEmpty &&
      expected.exceptAll(inc).isEmpty,
      "incremental probe disagrees with the restricted batch answer")
  }

  test("capBandIndex: cap respected, hash-deterministic, " +
      "arrival-order independent") {
    val docs = Seq.tabulate(12)(i =>
      (i.toLong, "the same boilerplate text repeated"))
      .toDF("doc_id", "text")
    val bk = Dedup.bandKeys(docs)
    val capped = Dedup.capBandIndex(bk, 3)
    // identical text -> identical signature -> every band's bucket
    // holds all 12 ids; the cap keeps exactly 3 per bucket
    val sizes = capped.groupBy($"band", $"band_hash").count()
      .select($"count").as[Long].collect()
    assert(sizes.nonEmpty && sizes.forall(_ == 3L), sizes.toSeq)
    // representative choice is a function of the id SET, not of
    // arrival order — re-capping a reshuffled input is identical
    val capped2 = Dedup.capBandIndex(
      bk.orderBy($"id".desc).repartition(7), 3)
    assert(capped.exceptAll(capped2).isEmpty &&
      capped2.exceptAll(capped).isEmpty)
    // a binding cap bounds the probe: each new doc pairs with at most
    // the 3 bucket representatives (same reps in every band here)
    val inc = Dedup.minHashLshIncremental(docs,
      isNew = $"doc_id" % 5 === 0, minJaccard = 0.9, indexCap = 3)
    assert(inc.count() <= 9,
      "capped incremental probe emitted more than new x reps pairs")
  }

  test("topKPerKey equals the window row_number filter (heavy ties)") {
    import graft.operators.TopK
    import org.apache.spark.sql.expressions.Window
    val li = Tables.t(spark, sf001, "lineitem")
    val rid = ($"l_orderkey" * 10 + $"l_linenumber").cast("long")
    val got = TopK.topKPerKey(li, Seq("l_returnflag"),
      $"l_quantity", rid, k = 7)
    val w = Window.partitionBy($"l_returnflag")
      .orderBy($"l_quantity".cast("double").desc, rid.asc)
    val exp = li.select($"l_returnflag", rid.as("id"),
        $"l_quantity".cast("double").as("ord"),
        row_number().over(w).as("rn"))
      .filter($"rn" <= 7)
      .select($"l_returnflag", $"rn", $"id", $"ord")
    val gotSel = got.select($"l_returnflag", $"rn", $"id", $"ord")
    assert(gotSel.exceptAll(exp).isEmpty && exp.exceptAll(gotSel).isEmpty)
    // the point of the operator: NO window node anywhere in the plan —
    // aggregation state is O(k) per group, map-side combined
    val plan = got.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("topKPerKey: NULL ordering values contribute nothing; " +
      "ascending flavor works") {
    import graft.operators.TopK
    val df = Seq[(String, Option[Double], Long)](
      ("a", Some(5.0), 10L), ("a", None, 11L), ("a", Some(7.0), 12L),
      ("a", Some(5.0), 9L), ("b", Some(1.0), 20L), ("b", None, 21L))
      .toDF("k", "v", "id")
    val top2 = TopK.topKPerKey(df, Seq("k"), $"v", $"id", k = 2)
      .select($"k", $"rn", $"id").as[(String, Int, Long)]
      .collect().toSet
    assert(top2 == Set(("a", 1, 12L), ("a", 2, 9L), ("b", 1, 20L)))
    val bottom2 = TopK.topKPerKey(df, Seq("k"), $"v", $"id", k = 2,
        asc = true)
      .select($"k", $"rn", $"id").as[(String, Int, Long)]
      .collect().toSet
    assert(bottom2 == Set(("a", 1, 9L), ("a", 2, 10L), ("b", 1, 20L)))
  }

  test("duplicate clustering: transitive closure + representative keep") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val cl = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    assert(cl(1L) == 1L && cl(2L) == 1L && cl(3L) == 1L)
    assert(cl(10L) == 10L && cl(11L) == 10L)
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("doc_id")
      .withColumn("text", concat(lit("t"), $"doc_id"))
    val kept = Dedup.keepRepresentatives(docs, pairs)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 10L, 99L), s"kept=$kept")
  }

  test("clusters: long chains and cycles converge to the min label") {
    import spark.implicits._
    // a 200-node path exercises the O(log n) round loop well past one
    // alternation; the cycle and self-pair exercise non-tree shapes
    val chain = (1L to 200L).sliding(2).map(s => (s(0), s(1))).toSeq
    val cycle = Seq((500L, 501L), (501L, 502L), (502L, 500L))
    val selfPair = Seq((900L, 900L))
    val pairs = (chain ++ cycle ++ selfPair).toDF("id_a", "id_b")
    val cl = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    assert((1L to 200L).forall(cl(_) == 1L))
    assert(Seq(500L, 501L, 502L).forall(cl(_) == 500L))
    assert(cl(900L) == 900L)
    assert(cl.size == 204)
  }

  test("clusters: matches GraphX connected components on corpus pairs") {
    import spark.implicits._
    val docs = Tables.t(spark, sf001, "documents")
    val pairs = Dedup.minHashLsh(docs, minJaccard = 0.2)
      .select($"id_a", $"id_b").localCheckpoint()
    val got = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    val edges = pairs.as[(Long, Long)].rdd
    val gx = org.apache.spark.graphx.lib.ConnectedComponents
      .run(org.apache.spark.graphx.Graph.fromEdgeTuples(edges, 0))
      .vertices.collect().toMap
    assert(got.size == gx.size)
    assert(got == gx.map { case (k, v) => (k.toLong, v.toLong) }, {
      val diff = got.filter { case (k, v) => gx.get(k).forall(_ != v) }
      s"first diffs: ${diff.take(5)}"
    })
  }

  test("clusters: random graphs match a local union-find reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { trial =>
      val nNodes = 30 + rnd.nextInt(120)
      val nEdges = 1 + rnd.nextInt(3 * nNodes)
      val pairs = (1 to nEdges).map(_ =>
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
      // union-find with union-by-min: the final root IS the
      // component minimum (a smaller root never gets re-parented)
      val parent = Array.tabulate(nNodes)(identity)
      def find(x: Int): Int = {
        var r = x; while (parent(r) != r) r = parent(r); r
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = pairs.flatMap(p => Seq(p._1, p._2)).distinct
        .map(n => n -> find(n.toInt).toLong).toMap
      val got = Dedup.clusters(pairs.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(got === expect,
        s"trial $trial: nNodes=$nNodes nEdges=$nEdges")
    }
  }

  test("lttb: structural invariants on random series (endpoints, " +
      "one pick per bucket, ascending)") {
    import spark.implicits._
    import java.sql.Timestamp
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val n = 3 + rnd.nextInt(60)
      val rows = (0 until n).map { i =>
        (1L, new Timestamp(1700000000000L + i * 1000L), i.toLong,
          rnd.nextInt(1000) / 10.0)
      }
      val got = graft.operators.EventOps.lttb(
        rows.toDF("user_id", "ts", "event_id", "value"),
        "user_id", "ts", "event_id", "value", bucketSize = 5)
        .select($"t_s", $"id").as[(Long, Long)].collect().toSeq
      val expectCount = 2 + math.ceil((n - 2) / 5.0).toInt
      assert(got.size === expectCount, s"trial $trial n=$n")
      assert(got.head._2 === 0L && got.last._2 === (n - 1).toLong)
      assert(got.map(_._1) === got.map(_._1).sorted, "not ascending")
    }
  }

  test("ewma: random series match a local integer fold") {
    import spark.implicits._
    import java.sql.Timestamp
    val rnd = new scala.util.Random(11)
    val n = 50
    val rows = (0 until n).map { i =>
      (1L, new Timestamp(1700000000000L + i * 1000L), i.toLong,
        rnd.nextInt(100000) / 100.0)
    }
    val got = graft.operators.EventOps.ewma(
      rows.toDF("user_id", "ts", "event_id", "value"),
      "user_id", "ts", "event_id", "value")
      .select($"event_id", $"ewma_c6").as[(Long, Long)]
      .collect().toMap
    var s = 0L
    rows.foreach { case (_, _, i, v) =>
      val vc6 = math.round(v * 100) * 1000000L
      s = if (i == 0L) vc6 else (vc6 + s) / 2
      assert(got(i) === s, s"at $i")
    }
  }

  test("dedupCorpus: one call from corpus to representatives") {
    val base = (1 to 80).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 76).map(i => s"word$i").mkString(" ") + " tail bits"
    val unrelated = (500 to 580).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated),
      (4L, unrelated)).toDF("doc_id", "text")
    // exact: only byte-identical 3/4 collapse
    assert(Dedup.dedupCorpus(docs, "exact")
      .select($"doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    // minhash: near-dup 1/2 also collapses (keep lowest id)
    val kept = Dedup.dedupCorpus(docs, "minhash", minJaccard = 0.3)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L), s"kept=$kept")
    assert(Dedup.dedupCorpus(docs, "minhash", minJaccard = 0.3)
      .schema == docs.schema)
    intercept[IllegalArgumentException] {
      Dedup.dedupCorpus(docs, "nope")
    }
    // non-integral ids fail fast with guidance (GraphX needs long ids)
    val strDocs = Seq(("a", "x"), ("b", "x")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupCorpus(strDocs, "minhash")
    }
    assert(e.getMessage.contains("integral id"), e.getMessage)
  }

  test("embeddingDups finds identical vectors") {
    val emb = Tables.t(spark, sf001, "embeddings")
    val dup = emb.filter($"vec_id" === 0)
      .select(($"vec_id" + 10000).as("vec_id"), $"embedding", $"label")
    val withDup = emb.unionByName(dup)
    val pairs = Dedup.embeddingDups(withDup, dim = 64, minCosine = 0.999)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 10000L)),
      s"identical vector pair not found: $pairs")
  }

  test("SemDeDup: lookalike shadowed by its centroid-farther twin, " +
      "cross-cluster and dissimilar members survive") {
    val model = Ann.IvfModel(Array(
      Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0)))
    val emb = Seq(
      (1L, Array(1f, 0.10f, 0f, 0f)),  // cell 0, ccos 0.99504
      (2L, Array(1f, 0.12f, 0f, 0f)),  // cell 0, ccos 0.99287 (farther)
      (3L, Array(0.2f, 0f, 1f, 0f)),   // cell 0, dissimilar to 1/2
      (4L, Array(0f, 1f, 0f, 0f)))     // cell 1, alone
      .toDF("vec_id", "embedding")
    val got = Dedup.semantic(emb, model, tau = 0.9)
      .as[(Long, Int, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._4))).toMap
    // cos(1,2) ~ 0.9998 >= tau; 2 has the LOWER centroid cosine so it
    // is kept and 1 is the duplicate (the paper keeps cluster-edge
    // members); 3 shares the cell but not the region; 4 is alone
    assert(got(1L) === ((0, true)))
    assert(got(2L) === ((0, false)))
    assert(got(3L) === ((0, false)))
    assert(got(4L) === ((1, false)))
  }

  test("SemDeDup is deterministic and drop-only-duplicates on testdata") {
    val emb = Tables.t(spark, sf001, "embeddings")
    val model = Ann.trainIvfCached(s"$sf001/embeddings#16", emb)
    val a = Dedup.semantic(emb, model, tau = 0.35).orderBy($"vec_id")
      .as[(Long, Int, Double, Boolean)].collect()
    val b = Dedup.semantic(emb, model, tau = 0.35).orderBy($"vec_id")
      .as[(Long, Int, Double, Boolean)].collect()
    assert(a.toSeq === b.toSeq)
    assert(a.length === emb.count())   // every vector classified
    // raising tau can only shrink the duplicate set
    val strict = Dedup.semantic(emb, model, tau = 0.9)
      .filter($"is_dup").count()
    assert(strict <= a.count(_._4))
  }

  test("SemDeDup hot cell: 50% of vectors in one cell stays O(size·cap)") {
    // two cells, each holding 500 IDENTICAL vectors — the worst case
    // for an unguarded within-cell self-join (250k pairs per cell).
    // cellCap=16 splits each cell into ~32 blocks probed within-block
    // and adjacent-block, so pair volume is O(size·cap) and the only
    // possible extra survivors are block minima.
    val model = Ann.IvfModel(Array(
      Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0)))
    val emb = ((1L to 500L).map(i => (i, Array(1f, 0.1f, 0f, 0f))) ++
      (501L to 1000L).map(i => (i, Array(0.1f, 1f, 0f, 0f))))
      .toDF("vec_id", "embedding")
    val got = Dedup.semantic(emb, model, tau = 0.95, cellCap = 16)
      .as[(Long, Int, Double, Boolean)].collect()
    assert(got.length === 1000)               // every vector classified
    val blocks = math.ceil(500.0 / 16).toInt  // 32 per cell
    Seq(0, 1).foreach { cell =>
      val fam = got.filter(_._2 == cell)
      assert(fam.length === 500, s"cell $cell size ${fam.length}")
      val kept = fam.filter(!_._4).map(_._1)
      // identical members: only a block's minimum id can escape
      // shadowing, so survivors are bounded by the block count — and
      // the family's global minimum id always survives
      assert(kept.nonEmpty && kept.length <= blocks,
        s"cell $cell kept ${kept.length} > $blocks block minima")
      assert(kept.contains(fam.map(_._1).min))
    }
  }

  test("SemDeDup capped and uncapped paths agree when no cell splits") {
    val emb = Tables.t(spark, sf001, "embeddings")
    val model = Ann.trainIvfCached(s"$sf001/embeddings#16", emb)
    val capped = Dedup.semantic(emb, model, tau = 0.35)
      .orderBy($"vec_id").collect()
    val plain = Dedup.semantic(emb, model, tau = 0.35, cellCap = 0)
      .orderBy($"vec_id").collect()
    assert(capped.toSeq === plain.toSeq)
  }

  test("SQ8: codes in [0,255], reconstruction near-faithful, top-k " +
      "recall vs brute force is high, deterministic") {
    val emb = Tables.t(spark, sf001, "embeddings")
    val sq = Ann.trainSqCached(s"$sf001/embeddings#sq8", emb)
    assert(sq.dim === 64)
    sq.mins.zip(sq.maxs).foreach { case (mn, mx) => assert(mn <= mx) }
    val enc = emb.select($"vec_id",
      Ann.sqEncode($"embedding", sq).as("code"),
      graft.functions.GraftFunctions.cosine_sim($"embedding",
        Ann.sqDecode(Ann.sqEncode($"embedding", sq), sq)).as("fid"))
    val rows = enc.collect()
    rows.foreach { r =>
      val code = r.getSeq[Int](1)
      assert(code.length === 64 &&
        code.forall(c => c >= 0 && c <= 255), s"vec ${r.getLong(0)}")
      // 8 bits per dim: the dequantized vector is nearly parallel to
      // the original
      assert(r.getDouble(2) >= 0.999,
        s"vec ${r.getLong(0)} recon cosine ${r.getDouble(2)}")
    }
    val queries = emb.filter($"vec_id" < 10)
    val exact = Ann.bruteForceTopK(emb, queries, 10)
      .select($"query_id", $"neighbor_id").as[(Long, Long)]
      .collect().toSet
    val approx = Ann.sqTopK(emb, queries, 10, sq)
      .select($"query_id", $"neighbor_id").as[(Long, Long)]
      .collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, f"SQ8 recall too low: $recall%.2f")
    val a = Ann.sqTopK(emb, queries, 10, sq)
      .orderBy($"query_id", $"rnk").collect().toSeq
    val b = Ann.sqTopK(emb, queries, 10, sq)
      .orderBy($"query_id", $"rnk").collect().toSeq
    assert(a === b)
  }

  test("lshTopK recall@10 vs brute force is reasonable") {
    val emb = Tables.t(spark, sf001, "embeddings")
    val queries = emb.filter($"vec_id" < 10)
    val exact = Ann.bruteForceTopK(emb, queries, 10)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Ann.lshTopK(emb, queries, 10, dim = 64)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.35, f"LSH recall too low: $recall%.2f")
  }

  test("lshRadius: threshold sweep is the filtered superset of the " +
      "bucket candidates; every row clears the threshold") {
    val emb = Tables.t(spark, sf001, "embeddings")
    val queries = emb.filter($"vec_id" < 10)
    val got = Ann.lshRadius(emb, queries, minCos = 0.2, dim = 64)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.nonEmpty)
    assert(got.forall(_._3 >= 0.2), "a row under the threshold leaked")
    // agreement with top-k on shared candidates: a top-k hit whose
    // cos clears the threshold must be in the radius answer
    val topk = Ann.lshTopK(emb, queries, 10, dim = 64)
      .filter($"cos" >= 0.2)
      .select($"query_id", $"neighbor_id").as[(Long, Long)]
      .collect().toSet
    val radius = got.map(r => (r._1, r._2)).toSet
    assert(topk.subsetOf(radius), (topk -- radius).toString)
  }

  test("lshRadius / ivfRadius: a query set past maxBroadcastQueries " +
      "falls back to a shuffled join with identical results") {
    val emb = Tables.t(spark, sf001, "embeddings")
    val queries = emb.filter($"vec_id" < 10)
    val bCast = Ann.lshRadius(emb, queries, minCos = 0.2, dim = 64)
    val shuffled = Ann.lshRadius(emb, queries, minCos = 0.2, dim = 64,
      maxBroadcastQueries = 0L)
    // the guard flips the physical join: no broadcast exchange on the
    // guarded plan (auto-broadcast disabled so the flip is visible)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = shuffled.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"), plan.take(2000))
    } finally spark.conf
      .set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(bCast.collect().toSeq === shuffled.collect().toSeq)
    // same guard on the IVF radius face
    val ivf = Ann.trainIvf(emb)
    val a = Ann.ivfRadius(emb, queries, minCos = 0.2, ivf)
      .collect().toSeq
    val b = Ann.ivfRadius(emb, queries, minCos = 0.2, ivf,
      maxBroadcastQueries = 0L).collect().toSeq
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("ivfPqRadius: every row clears the ADC threshold; the " +
      "broadcast-guard flip is result-identical") {
    val emb = Tables.t(spark, sf001, "embeddings")
    val queries = emb.filter($"vec_id" < 10)
    val ivf = Ann.trainIvf(emb)
    val pq = Ann.trainPq(emb)
    val got = Ann.ivfPqRadius(emb, queries, minCos = 0.2, ivf, pq)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.nonEmpty)
    assert(got.forall(_._3 >= 0.2), "a row under the threshold leaked")
    val shuffled = Ann.ivfPqRadius(emb, queries, minCos = 0.2, ivf,
      pq, maxBroadcastQueries = 0L)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got === shuffled)
  }

  test("normHealth: quantized L2-norm bins on hand vectors") {
    import spark.implicits._
    // |(3,4)| = 5 -> 50000 e4 -> bin 50; |(1,0)| = 1 -> bin 10
    val df = Seq((1L, Array(3.0f, 4.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.6f, 0.8f))).toDF("vec_id", "embedding")
    val got = graft.operators.Ann.normHealth(df)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((10L, 2L, 10000L, 10000L),
      (50L, 1L, 50000L, 50000L)), got.toString)
  }

  test("IVF-PQ top-k: codes-only candidate scan, exact rerank, " +
      "recall vs brute force is reasonable") {
    val emb = Tables.t(spark, sf001, "embeddings")
    val queries = emb.filter($"vec_id" < 10)
    val exact = Ann.bruteForceTopK(emb, queries, 10)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Ann.trainIvf(emb, nlist = 16)
    val pq = Ann.trainPq(emb, m = 8, k = 16)
    assert(pq.dim == 64 && pq.dsub == 8)
    // deterministic retrain
    assert(Ann.trainPq(emb, m = 8, k = 16).codebooks.flatten.flatten
      .toSeq == pq.codebooks.flatten.flatten.toSeq)
    val codes = Ann.pqCodes(emb, ivf, pq)
    // the persistable codes table carries NO raw vectors
    assert(codes.schema.fieldNames.toSet ==
      Set("neighbor_id", "cell", "code"))
    val got = Ann.ivfPqTopK(emb, queries, 10, ivf, pq, nprobe = 4,
      rerank = 4, codes = Some(codes))
    val approx = got.select($"query_id", $"neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.3, f"IVF-PQ recall too low: $recall%.2f")
    // ranked output: k rows per query, cos descending
    val counts = got.groupBy($"query_id").count().collect()
    assert(counts.forall(_.getLong(1) == 10))
    // codebooks persist and round-trip exactly
    val dir = tempDir("graft-pq").resolve("m").toString
    Ann.savePq(spark, pq, dir)
    val loaded = Ann.loadPq(spark, dir)
    assert(loaded.codebooks.flatten.flatten.toSeq ==
      pq.codebooks.flatten.flatten.toSeq)
  }

  test("bruteForceTopK returns exactly k neighbors per query, ranked") {
    val emb = Tables.t(spark, sf001, "embeddings")
    val out = Ann.bruteForceTopK(emb, emb.filter($"vec_id" < 3), 5)
    val counts = out.groupBy($"query_id").count().collect()
    assert(counts.forall(_.getLong(1) == 5))
    val firstRanks = out.filter($"query_id" === 0).orderBy($"rnk")
      .select($"cos").as[Double].collect()
    assert(firstRanks.sameElements(firstRanks.sorted(Ordering[Double].reverse)))
  }

  test("multimodal: decode stub is deterministic; frames cover payload") {
    val docs = Tables.t(spark, sf001, "documents").limit(50)
    val media = Multimodal.asMedia(docs)
    val feats1 = Multimodal.decodeFeatures(media).orderBy($"media_id")
      .collect()
    val feats2 = Multimodal.decodeFeatures(media).orderBy($"media_id")
      .collect()
    assert(feats1.sameElements(feats2), "decode stub not deterministic")
    assert(feats1.forall(_.getSeq[Float](3).length == 8))

    val frames = Multimodal.sampleFrames(media, frameBytes = 64, stride = 2)
    val perDoc = frames.groupBy($"media_id").count()
      .join(media.select($"media_id", $"meta.n_bytes".as("nb")), "media_id")
      .collect()
    perDoc.foreach { r =>
      val expected = (math.ceil(r.getLong(2).toDouble / 64).toLong + 1) / 2
      assert(r.getLong(1) == math.max(expected, 1),
        s"media ${r.getLong(0)}: frames=${r.getLong(1)} nbytes=${r.getLong(2)}")
    }
  }

  test("GeoMean UDAF: geometric mean of constants is the constant") {
    val df = Seq(4.0, 4.0, 4.0).toDF("x")
    val gm = udaf(GeoMean)
    val v = df.agg(gm($"x")).head.getDouble(0)
    assert(math.abs(v - 4.0) < 1e-12)
  }

  test("recallAtK: self-recall 1, disjoint 0, LSH within [0,1]") {
    val emb = Tables.t(spark, sf001, "embeddings")
    val qs = emb.filter($"vec_id" < 8)
    val exact = Ann.bruteForceTopK(emb, qs, k = 10)
    val self = Ann.recallAtK(exact, exact)
    assert(self.filter($"recall" =!= 1.0).isEmpty)
    assert(self.filter($"n_exact" =!= $"n_hit").isEmpty)

    val disjoint = exact.withColumn("neighbor_id", -$"neighbor_id" - 1)
    val zero = Ann.recallAtK(disjoint, exact)
    assert(zero.filter($"recall" =!= 0.0).isEmpty)

    val lsh = Ann.lshTopK(emb, qs, k = 10, dim = 64)
    val r = Ann.recallAtK(lsh, exact)
    assert(r.count() === exact.select($"query_id").distinct().count())
    assert(r.filter($"recall" < 0.0 || $"recall" > 1.0).isEmpty)
  }

  test("binnedIntervalJoin: equals the plain theta join on random " +
      "data (bin edges included), pairs appear once, malformed " +
      "intervals match nothing, keys co-partition") {
    import graft.operators.RangeJoin
    val rnd = new scala.util.Random(7)
    // values straddling bin boundaries of width 10 (multiples of 10
    // included), two key groups
    val points = (1 to 300).map(i =>
      (i.toLong, (i % 2).toLong, (rnd.nextInt(200) / 2.0)))
      .toDF("pid", "k", "v")
    val intervals = (1 to 60).map { i =>
      val lo = rnd.nextInt(180) / 2.0
      (1000L + i, (i % 2).toLong, lo, lo + rnd.nextInt(60) / 2.0)
    }.toDF("iid", "k", "lo", "hi")
    val got = RangeJoin.binnedIntervalJoin(points, intervals,
        Seq("k"), "v", "lo", "hi", binWidth = 10.0)
      .select($"pid", $"iid").as[(Long, Long)].collect().sorted.toSeq
    val want = points.as("p").join(intervals.as("i"),
        $"p.k" === $"i.k" && $"v" >= $"lo" && $"v" < $"hi")
      .select($"pid", $"iid").as[(Long, Long)].collect().sorted.toSeq
    assert(got === want, s"binned ${got.size} vs theta ${want.size}")
    assert(got === got.distinct, "a pair was emitted more than once")

    // lo > hi intervals are ignored, never exploded downward
    val bad = Seq((1L, 0L, 50.0, 10.0)).toDF("iid", "k", "lo", "hi")
    assert(RangeJoin.binnedIntervalJoin(points, bad, Seq("k"),
      "v", "lo", "hi", 10.0).isEmpty)
  }

  test("binnedIntervalJoin: NaN/±Inf interval bounds keep exact " +
      "theta semantics (Spark orders NaN above all doubles, so " +
      "hi=NaN matches every point ≥ lo — the bin path would lose " +
      "them; ±Inf would blow up the explode)") {
    import graft.operators.RangeJoin
    val points = (0 until 100).map(i =>
      (i.toLong, (i % 2).toLong, i.toDouble)).toDF("pid", "k", "v")
    val intervals = Seq(
      (1L, 0L, 10.0, Double.NaN),              // all even v >= 10
      (2L, 1L, 20.0, Double.PositiveInfinity), // all odd v >= 20
      (3L, 0L, Double.NegativeInfinity, 8.0),  // all even v < 8
      (4L, 1L, Double.NaN, Double.NaN),        // nothing (v >= NaN)
      (5L, 0L, 30.0, 34.0)                     // finite control row
    ).toDF("iid", "k", "lo", "hi")
    val got = RangeJoin.binnedIntervalJoin(points, intervals,
        Seq("k"), "v", "lo", "hi", binWidth = 10.0)
      .select($"pid", $"iid").as[(Long, Long)].collect().sorted.toSeq
    val want = points.as("p").join(intervals.as("i"),
        $"p.k" === $"i.k" && $"v" >= $"lo" && $"v" < $"hi")
      .select($"pid", $"iid").as[(Long, Long)].collect().sorted.toSeq
    assert(want.nonEmpty && want.exists(_._2 == 1L) &&
      want.exists(_._2 == 2L) && want.exists(_._2 == 3L),
      s"oracle must exercise the non-finite rows: $want")
    assert(got === want, s"binned ${got.size} vs theta ${want.size}")
    assert(got === got.distinct, "a pair was emitted more than once")
  }

  test("funnel: greedy-first step times on a hand-built event log") {
    import graft.operators.EventOps
    def ts(m: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(m * 60))
    // u1 completes all 3 within window; u2's click precedes its view
    // (no step 2); u3's purchase is outside the 24 h window of step 1;
    // u4 re-views but steps must follow the FIRST view's window
    val ev = Seq(
      (1L, ts(0), "view"), (1L, ts(10), "click"),
      (1L, ts(20), "purchase"),
      (2L, ts(0), "click"), (2L, ts(5), "view"),
      (3L, ts(0), "view"), (3L, ts(10), "click"),
      (3L, ts(10 + 24 * 60 + 1), "purchase"),
      (4L, ts(0), "view"), (4L, ts(30 * 60), "view"),
      (4L, ts(30 * 60 + 1), "click")
    ).toDF("user_id", "ts", "event_type")
    val got = EventOps.funnel(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), windowMicros = 86400000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // step1: u1,u2,u3,u4; step2: u1,u3 (u2 no click after view; u4's
    // click is 30 h after its FIRST view); step3: u1 only
    assert(got === Seq((1L, 4L), (2L, 2L), (3L, 1L)))
  }

  test("funnelTtc: exact per-steps-reached quantiles of t_k - t_1") {
    import graft.operators.EventOps
    def ts(m: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(m * 60))
    val ev = Seq(
      // k=3 group: TTCs 20 min (u1) and 40 min (u6)
      (1L, ts(0), "view"), (1L, ts(10), "click"),
      (1L, ts(20), "purchase"),
      (6L, ts(0), "view"), (6L, ts(10), "click"),
      (6L, ts(40), "purchase"),
      // k=2 group: TTCs 30 (u2), 5 (u3), 50 (u4) min
      (2L, ts(0), "view"), (2L, ts(30), "click"),
      (3L, ts(0), "view"), (3L, ts(5), "click"),
      (4L, ts(0), "view"), (4L, ts(50), "click"),
      // k=1: excluded from the readout
      (5L, ts(0), "view")
    ).toDF("user_id", "ts", "event_type")
    val got = EventOps.funnelTtc(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), windowMicros = 86400000000L)
      .as[(Long, Double, Long)].collect().toSeq
    val M = 60L * 1000000
    // k=2 sorted TTCs [5,30,50]m: p50 = ceil(1.5)=2nd = 30m,
    // p90 = ceil(2.7)=3rd = 50m; k=3 [20,40]m: p50 = 1st, p90 = 2nd
    assert(got === Seq(
      (2L, 0.5, 30 * M), (2L, 0.9, 50 * M),
      (3L, 0.5, 20 * M), (3L, 0.9, 40 * M)), got.toString)
  }

  test("resampleFill: gaps carry the last observed daily max forward") {
    import graft.operators.EventOps
    def ts(d: Int, h: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse(f"2024-01-$d%02dT$h%02d:00:00Z"))
    val ev = Seq(
      (1L, ts(1, 5), 10.0), (1L, ts(1, 9), 7.0), // day 1 max = 10
      (1L, ts(4, 1), 3.0), // days 2-3 gap -> filled with 10
      (2L, ts(2, 1), 5.0)
    ).toDF("user_id", "ts", "value")
    val got = EventOps.resampleFill(ev, "user_id", "ts", "value")
      .orderBy($"user_id", $"day")
      .collect().map(r => (r.getLong(0), r.getDate(1).toString,
        r.getDouble(2))).toSeq
    assert(got === Seq(
      (1L, "2024-01-01", 10.0), (1L, "2024-01-02", 10.0),
      (1L, "2024-01-03", 10.0), (1L, "2024-01-04", 3.0),
      (2L, "2024-01-02", 5.0)))
  }

  test("survival: retention normalized by the offset-0 cohort size") {
    import graft.operators.EventOps
    def ts(d: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse(f"2024-01-$d%02dT10:00:00Z"))
    // week of Jan 1: u1 + u2; u1 returns the week of Jan 8
    val ev = Seq((1L, ts(2)), (2L, ts(3)), (1L, ts(9)))
      .toDF("user_id", "ts")
    val got = EventOps.survival(ev, "user_id", "ts")
      .select($"week_offset", $"users", $"cohort_size",
        $"survival_ppm")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((0L, 2L, 2L, 1000000L),
      (1L, 1L, 2L, 500000L)), got.toString)
  }

  test("retention: cohort week offsets count distinct active users") {
    import graft.operators.EventOps
    def ts(d: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse(f"2024-01-$d%02dT12:00:00Z"))
    // weeks (Mon): 2024-01-01, 01-08, 01-15
    val ev = Seq(
      (1L, ts(2)), (1L, ts(9)), (1L, ts(16)), // cohort w0, active +0,+1,+2
      (2L, ts(3)), (2L, ts(17)), // cohort w0, active +0,+2
      (3L, ts(10)) // cohort w1, active +0
    ).toDF("user_id", "ts")
    val got = EventOps.retention(ev, "user_id", "ts")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1),
        r.getLong(2))).toSeq
    assert(got === Seq(
      ("2024-01-01", 0L, 2L), ("2024-01-01", 1L, 1L),
      ("2024-01-01", 2L, 2L), ("2024-01-08", 0L, 1L)))
  }

  test("fuzzy join: deletion blocking finds exactly the brute-force " +
      "pairs at d=1 and d=2") {
    import graft.operators.FuzzyJoin
    // adversarial vocabulary: substitutions, insertions, deletions,
    // transposition (distance 2), repeats-collapsed, and far-apart
    val words = Seq("alpha", "alpho", "alph", "aalpha", "lpha",
      "palha", "beta", "betta", "bett", "bta", "gamma", "gama",
      "gamm", "delta", "dleta", "xyzzy")
    val df = words.toDF("w")
    for (d <- Seq(1, 2)) {
      val got = FuzzyJoin.selfJoin(df, "w", maxDist = d)
        .select($"a", $"b").as[(String, String)].collect().toSet
      val brute = (for {
        a <- words; b <- words if a < b
        if levenshteinDist(a, b) <= d
      } yield (a, b)).toSet
      assert(got === brute, s"d=$d blocked join != brute force")
    }
  }

  test("fuzzy canonicalize: transitive closure picks the min name; " +
      "singletons map to themselves") {
    import graft.operators.FuzzyJoin
    // aaaa-aabb are distance 2 (NOT directly joined at d=1) but both
    // reach aaab — only the transitive closure groups them
    val words = Seq("aaab", "aaaa", "aabb", "beta", "betta", "xyzzy")
    val got = FuzzyJoin.canonicalize(words.toDF("w"), "w", maxDist = 1)
      .as[(String, String)].collect().toMap
    assert(got === Map(
      "aaaa" -> "aaaa", "aaab" -> "aaaa", "aabb" -> "aaaa",
      "beta" -> "beta", "betta" -> "beta", "xyzzy" -> "xyzzy"))
  }

  private def levenshteinDist(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length) {
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    }
    dp(a.length)(b.length)
  }

  test("twoPhaseCumSum matches the single-window prefix sum") {
    import graft.operators.Salting
    val rng = new scala.util.Random(7)
    val rows = (1 to 500).map(i =>
      (rng.nextInt(100000).toLong * 1000 + i, rng.nextInt(50).toLong))
    val df = rows.toDF("id", "v").repartition(7)
    val got = Salting.twoPhaseCumSum(df, Seq($"id"), $"v", "cum",
      buckets = 8)
      .select($"id", $"cum").as[(Long, Long)].collect().toMap
    val w = org.apache.spark.sql.expressions.Window.orderBy($"id")
      .rowsBetween(Long.MinValue, 0)
    val exp = df.withColumn("cum", sum($"v").over(w))
      .select($"id", $"cum").as[(Long, Long)].collect().toMap
    assert(got === exp)
  }

  test("ppsSample: total copies == k, heavy rows drawn multiply, " +
      "zero weights never drawn") {
    import graft.operators.CorpusOps
    val rows = (1L to 200L).map { i =>
      val w = if (i == 50L) 5000L else if (i % 7 == 0) 0L else i % 13
      (i, w)
    }
    val df = rows.toDF("doc_id", "n_chars")
    val k = 40
    val got = CorpusOps.ppsSample(df, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._3).sum === k.toLong, "total draws != k")
    assert(got.forall(_._2 > 0), "a zero-weight row was drawn")
    val heavy = got.find(_._1 == 50L)
    // row 50 holds 5000 of ~6100 total weight -> most of the k draws
    assert(heavy.exists(_._3 >= k / 2), s"heavy row draws: $heavy")
  }

  test("exact quantiles: rank selection equals the single-window " +
      "answer, global and per-key, ties and all") {
    import graft.operators.Quantiles
    val rng = new scala.util.Random(11)
    // heavy ties (values mod 10) force the tiebreak to matter
    val rows = (1L to 400L).map(i =>
      (if (i % 2 == 0) "a" else "b", (rng.nextInt(100) % 10).toDouble, i))
    val df = rows.toDF("k", "v", "id").repartition(5)
    val qs = Seq(0.1, 0.5, 0.95, 1.0)
    val got = Quantiles.exactQuantiles(df, $"v", Seq($"id"), qs)
      .as[(Double, Double)].collect().toMap
    val w = org.apache.spark.sql.expressions.Window.orderBy($"v", $"id")
    val single = df.withColumn("rn", row_number().over(w))
      .as[(String, Double, Long, Int)].collect()
    val n = rows.size
    qs.foreach { q =>
      val pos = math.max(1L, math.ceil(q * n).toLong)
      val exp = single.find(_._4.toLong == pos).get._2
      assert(got(q) === exp, s"global q=$q")
    }
    val gotK = Quantiles.exactQuantilesByKey(df, "k", $"v", Seq($"id"),
      qs).as[(String, Double, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val wk = org.apache.spark.sql.expressions.Window.partitionBy($"k")
      .orderBy($"v", $"id")
    val singleK = df.withColumn("rn", row_number().over(wk))
      .as[(String, Double, Long, Int)].collect()
    for (k <- Seq("a", "b"); q <- qs) {
      val nk = rows.count(_._1 == k)
      val pos = math.max(1L, math.ceil(q * nk).toLong)
      val exp = singleK.find(r => r._1 == k && r._4.toLong == pos).get._2
      assert(gotK((k, q)) === exp, s"key=$k q=$q")
    }
  }

  test("maxConcurrency: half-open sweep on a hand-built log") {
    import graft.operators.EventOps
    def ts(s: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(s))
    // duration 10s: [0,10) [5,15) [9,19) overlap 3 at t=9; [15,25)
    // starts exactly when [5,15) ends -> half-open, never 3 again;
    // [40,50) is isolated
    val ev = Seq((1L, ts(0)), (2L, ts(5)), (3L, ts(9)), (4L, ts(15)),
      (5L, ts(40))).toDF("event_id", "ts")
    val got = EventOps.maxConcurrency(ev, "ts", "event_id",
      durationMicros = 10000000L).head().getLong(0)
    assert(got === 3L)
    // single event -> 1
    val one = Seq((1L, ts(0))).toDF("event_id", "ts")
    assert(EventOps.maxConcurrency(one, "ts", "event_id",
      1000000L).head().getLong(0) === 1L)
  }

  test("anomalies: flags a planted spike, skips warm-up and " +
      "zero-variance baselines") {
    import graft.operators.EventOps
    def ts(i: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z")
        .plusSeconds(i * 60L))
    // user 1: stable baseline then one spike at event 30
    val u1 = (1 to 40).map(i =>
      (1L, ts(i), i.toLong, if (i == 30) 500.0 else 10.0 + (i % 3)))
    // user 2: constant values -> zero variance, never scored
    val u2 = (1 to 40).map(i => (2L, ts(i), 100L + i, 7.0))
    val ev = (u1 ++ u2).toDF("user_id", "ts", "event_id", "value")
    val got = EventOps.anomalies(ev, "user_id", "ts", "event_id",
      "value", window = 20, threshold = 3.0)
    val rows = got.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getBoolean(4)))
    assert(rows.forall(_._1 == 1L), "zero-variance user was scored")
    assert(rows.forall(_._2 > 20L), "warm-up rows were scored")
    val flagged = rows.filter(_._3).map(_._2).toSet
    assert(flagged.contains(30L), "planted spike not flagged")
    assert(!flagged.contains(25L), "baseline row flagged")
  }

  test("ohlcBars: open/close pick by (ts, id), volume is the exact " +
      "fixed-point sum") {
    import graft.operators.EventOps
    def ts(s: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(s))
    // one user, two hourly buckets; bucket 1 has a ts tie broken by id
    val ev = Seq(
      (1L, ts(60), 10L, 5.25), (1L, ts(60), 11L, 9.00),
      (1L, ts(1800), 12L, 1.50), (1L, ts(3599), 13L, 7.75),
      (1L, ts(3600), 14L, 2.00))
      .toDF("user_id", "ts", "event_id", "value")
    val got = EventOps.ohlcBars(ev, "user_id", "ts", "event_id",
      "value").orderBy($"bucket").collect()
    assert(got.length === 2)
    val b0 = got(0)
    assert(b0.getDouble(2) === 5.25, "open = earliest (ts, id)")
    assert(b0.getDouble(3) === 9.00 && b0.getDouble(4) === 1.50)
    assert(b0.getDouble(5) === 7.75, "close = latest (ts, id)")
    assert(b0.getLong(6) === 4L)
    assert(b0.getLong(7) === 525L + 900L + 150L + 775L)
    assert(got(1).getDouble(2) === 2.00 && got(1).getLong(6) === 1L)
  }

  test("cusum: closed form equals the sequential recurrence") {
    import graft.operators.EventOps
    def ts(i: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z")
        .plusSeconds(i * 60L))
    val vals = Seq(5.0, 9.0, 3.0, 12.0, 12.0, 1.0, 14.0, 14.0, 14.0)
    val ev = vals.zipWithIndex.map { case (v, i) =>
      (1L, ts(i), i.toLong, v) }
      .toDF("user_id", "ts", "event_id", "value")
    val target = 800L // 8.00 at scale 100
    val got = EventOps.cusum(ev, "user_id", "ts", "event_id", "value",
      targetC = target, threshC = 700L)
      .orderBy($"event_id").collect()
      .map(r => (r.getLong(3), r.getBoolean(4)))
    // the textbook recurrence, replayed literally
    var s = 0L
    val want = vals.map { v =>
      s = math.max(0L, s + (math.round(v * 100) - target))
      (s, s > 700L)
    }
    assert(got.toSeq === want,
      s"closed form ${got.toSeq} != recurrence $want")
  }

  test("intervalUnion: overlaps count once, touching intervals " +
      "merge, gaps split segments") {
    import graft.operators.EventOps
    def ts(s: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(s))
    // duration 10s: [0,10)+[5,15) overlap -> 15s; [15,25) touches ->
    // same segment, 25s total; [40,50) isolated -> +10s, 2 segments
    val ev = Seq((1L, ts(0), 1L), (1L, ts(5), 2L), (1L, ts(15), 3L),
      (1L, ts(40), 4L), (2L, ts(0), 5L))
      .toDF("user_id", "ts", "event_id")
    val got = EventOps.intervalUnion(ev, "user_id", "ts", "event_id",
      durationMicros = 10000000L)
      .orderBy($"user_id").collect()
    assert(got(0).getLong(1) === 35000000L, "covered micros")
    assert(got(0).getLong(2) === 2L, "segments")
    assert(got(0).getLong(3) === 4L, "intervals")
    assert(got(1).getLong(1) === 10000000L &&
      got(1).getLong(2) === 1L)
  }

  test("collocations: lift-ppm is the exact integer ratio and the " +
      "per-doc term set caps deterministically") {
    import graft.operators.TextSearch
    // "alpha beta" co-occur in all 6 docs; "alpha gamma" in 3 of 6;
    // the filler doc exercises the lexicographic cap (> 3 terms)
    val docs = (1 to 6).map { i =>
      val txt = if (i <= 3) "alpha beta gamma" else "alpha beta delta"
      (i.toLong, txt)
    }.toDF("doc_id", "text")
    val got = TextSearch.collocations(docs, maxTermsPerDoc = 3,
      minPairCount = 2, topN = 10)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    // n_docs=6; alpha=6, beta=6, gamma=3, delta=3
    assert(got(("alpha", "beta")) === ((6L, 6L * 1000000L * 6 / 36)))
    assert(got(("alpha", "gamma")) === ((3L, 3L * 1000000L * 6 / 18)))
    assert(got(("beta", "delta")) === ((3L, 3L * 1000000L * 6 / 18)))
    // cap: a doc with 4 eligible terms keeps the 3 smallest — "zeta"
    // never forms a pair
    val capped = TextSearch.collocations(
      Seq((1L, "alpha beta gamma zeta"), (2L, "alpha beta gamma zeta"))
        .toDF("doc_id", "text"),
      maxTermsPerDoc = 3, minPairCount = 2, topN = 10)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(capped.nonEmpty &&
      capped.forall { case (a, b) => a != "zeta" && b != "zeta" })
  }

  test("sessionPaths: gap split, first-N cut, deterministic path " +
      "counts") {
    import graft.operators.EventOps
    def ts(s: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(s))
    // user 1: session A = a,b,c,d (4 events, path cut at 3 -> a>b>c);
    // 1h gap; session B = a,b,c. user 2: one session a>b>c
    val ev = Seq(
      (1L, ts(0), 1L, "a"), (1L, ts(10), 2L, "b"), (1L, ts(20), 3L, "c"),
      (1L, ts(30), 4L, "d"),
      (1L, ts(3700), 5L, "a"), (1L, ts(3710), 6L, "b"),
      (1L, ts(3720), 7L, "c"),
      (2L, ts(0), 8L, "a"), (2L, ts(5), 9L, "b"), (2L, ts(9), 10L, "c"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = EventOps.sessionPaths(ev, "user_id", "ts", "event_id",
      "event_type", gapMicros = 1800L * 1000000, pathLen = 3,
      topN = 10).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq === Seq(("a>b>c", 3L)),
      s"got ${got.toSeq}: the 4-event session must cut to a>b>c")
  }

  test("transitions: adjacent pair counts and exact ppm shares") {
    import graft.operators.EventOps
    def ts(s: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(s))
    // user 1: a->b, b->a, a->b ; user 2: a->c
    val ev = Seq(
      (1L, ts(0), 1L, "a"), (1L, ts(1), 2L, "b"), (1L, ts(2), 3L, "a"),
      (1L, ts(3), 4L, "b"), (2L, ts(0), 5L, "a"), (2L, ts(1), 6L, "c"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = EventOps.transitions(ev, "user_id", "ts", "event_id",
      "event_type").collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    // from a: b twice, c once -> 666666 / 333333 ppm (floor)
    assert(got(("a", "b")) === ((2L, 666666L)))
    assert(got(("a", "c")) === ((1L, 333333L)))
    assert(got(("b", "a")) === ((1L, 1000000L)))
  }

  test("winsorizedMeanByKey: exact quantile clamp equals the " +
      "hand-computed bound") {
    import graft.operators.Quantiles
    // 20 values 1..19 plus one huge outlier; p05 pos = ceil(.05*20)=1
    // -> lo = 1.0; p95 pos = ceil(.95*20)=19 -> hi = 19.0, so the
    // outlier clamps to 19
    val vals = (1 to 19).map(_.toDouble) :+ 1000.0
    val df = vals.zipWithIndex.map { case (v, i) =>
      ("k1", i.toLong, v) }.toDF("ktype", "event_id", "value")
    val got = Quantiles.winsorizedMeanByKey(df, "ktype", $"value",
      Seq($"event_id"), 0.05, 0.95).collect().head
    val expSum = ((1 to 19).sum + 19) * 100L
    assert(got.getLong(1) === 20L)
    assert(got.getLong(2) === expSum)
    assert(got.getDouble(3) ===
      math.rint(expSum / (20.0 * 100.0) * 1e6) / 1e6)
  }

  test("histogram: integer bins cover [lo,hi], empty bins " +
      "materialize, counts sum to rows") {
    import graft.operators.Profile
    // values 0.00..0.09 and one at 1.00 -> with 4 bins over [0,100]:
    // xc 0..9 -> bin (xc*4)//101 = 0; xc 100 -> 400//101 = 3
    val df = ((0 to 9).map(_ / 100.0) :+ 1.00).toDF("v")
    val got = Profile.histogram(df, $"v", bins = 4).collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    assert(got.toSeq === Seq((0L, 10L), (1L, 0L), (2L, 0L), (3L, 1L)))
    // constant column: everything lands in bin 0
    val const = Seq(5.0, 5.0, 5.0).toDF("v")
    val g2 = Profile.histogram(const, $"v", bins = 3).collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    assert(g2.toSeq === Seq((0L, 3L), (1L, 0L), (2L, 0L)))
  }

  test("riCheck: counts orphans per relationship, NULL keys orphan") {
    import graft.operators.Profile
    val parent = Seq(1L, 2L).toDF("pk")
    val child = Seq[java.lang.Long](1L, 1L, 3L, null)
      .toDF("fk")
    val got = Profile.riCheck(Seq(
      ("child.fk -> parent.pk", child, "fk", parent, "pk")))
      .collect().head
    assert(got.getString(0) === "child.fk -> parent.pk")
    assert(got.getLong(1) === 4L && got.getLong(2) === 2L)
  }

  test("distinctRollup: daily sketches and cumulative union track " +
      "the exact counts") {
    import graft.operators.Sketch
    def ts(day: Int, i: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-$day%02d 10:00:$i%02d")
    // day 1: users 1,2,3; day 2: users 2,3,4,5 (cum 5); day 3: user 1
    // only (cum stays 5)
    val ev = (Seq(1L, 2L, 3L).map((1, _)) ++
      Seq(2L, 3L, 4L, 5L).map((2, _)) ++ Seq(1L).map((3, _)))
      .zipWithIndex.map { case ((d, u), i) => (i.toLong, ts(d, i), u) }
      .toDF("event_id", "ts", "user_id")
    val got = Sketch.distinctRollup(ev, "ts", "user_id").collect()
      .map(r => (r.getDate(0).toString,
        (r.getLong(1), r.getBoolean(2), r.getLong(3), r.getBoolean(4))))
    assert(got.toSeq === Seq(
      ("2024-01-01", (3L, true, 3L, true)),
      ("2024-01-02", (4L, true, 5L, true)),
      ("2024-01-03", (1L, true, 5L, true))))
  }

  test("jaccardJoin: prefix-filtered result equals the brute-force " +
      "all-pairs scan") {
    import graft.operators.Dedup
    // near-dup pair (1,2), disjoint 3, short doc 4 (no 3-grams),
    // moderate-overlap pair (5,6) straddling the threshold
    val docs = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g x"),
      (3L, "p q r s t u v w"), (4L, "a b"),
      (5L, "a b c d m n o p"), (6L, "a b c d m n z z2"))
      .toDF("doc_id", "text")
    val got = Dedup.jaccardJoin(docs, n = 3, tPpm = 300000L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    // brute force over the same 3-gram shingle sets
    def sh(s: String) = s.split(" ").sliding(3).filter(_.size == 3)
      .map(_.mkString(" ")).toSet
    val m = docs.collect().map(r =>
      (r.getLong(0), sh(r.getString(1)))).filter(_._2.nonEmpty)
    val want = (for {
      (ia, sa) <- m; (ib, sb) <- m if ia < ib
      inter = (sa & sb).size.toLong
      un = sa.size + sb.size - inter
      if inter * 1000000L >= 300000L * un
    } yield ((ia, ib), inter * 1000000L / un)).toMap
    assert(got === want, s"got $got want $want")
    assert(want.contains((1L, 2L)), "sanity: near-dup pair present")
  }

  test("jaccardJoin dfCap: a corpus-wide template shingle drops " +
      "before pairing; result equals brute force on the REDUCED sets") {
    import graft.operators.Dedup
    // every doc shares the template opener (a hot shingle that would
    // pair everyone with everyone); only docs 1/2 share real content
    val tpl = "terms of service apply"
    val docs = Seq(
      (1L, s"$tpl alpha beta gamma delta"),
      (2L, s"$tpl alpha beta gamma zz"),
      (3L, s"$tpl completely different words here"),
      (4L, s"$tpl nothing shared at all ok"))
      .toDF("doc_id", "text")
    val got = Dedup.jaccardJoin(docs, n = 3, tPpm = 300000L,
      dfCap = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // reduced-set brute force: shingles in > 2 docs removed
    def sh(s: String) = s.split(" ").sliding(3).map(_.mkString(" "))
      .toSet
    val all = docs.collect().map(r => (r.getLong(0),
      sh(r.getString(1))))
    val hot = all.flatMap(_._2).groupBy(identity)
      .collect { case (g, os) if os.length > 2 => g }.toSet
    val red = all.map { case (i, s) => (i, s -- hot) }
      .filter(_._2.nonEmpty)
    val want = (for {
      (ia, sa) <- red; (ib, sb) <- red if ia < ib
      inter = (sa & sb).size.toLong
      un = sa.size + sb.size - inter
      if inter * 1000000L >= 300000L * un
    } yield (ia, ib)).toSet
    assert(got === want, s"got $got want $want")
    assert(got.contains((1L, 2L)), "real near-dup must survive")
    assert(!got.exists(p => p._1 == 3L || p._2 == 4L && p._1 != 1L),
      "template-only overlaps must not pair")
  }

  test("rollingMedian: middle selection on full odd frames, warm-up " +
      "dropped, spike resistant") {
    import graft.operators.EventOps
    def ts(i: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z")
        .plusSeconds(i * 60L))
    // values 1..9 with a huge spike at position 5: the window-3
    // median never reports the spike itself except when it is the
    // true middle (never, for one spike)
    val vals = Seq(1.0, 2.0, 3.0, 4.0, 1000.0, 6.0, 7.0, 8.0, 9.0)
    val ev = vals.zipWithIndex.map { case (v, i) =>
      (1L, ts(i), i.toLong, v) }
      .toDF("user_id", "ts", "event_id", "value")
    val got = EventOps.rollingMedian(ev, "user_id", "ts", "event_id",
      "value", window = 3)
      .orderBy($"event_id").collect()
      .map(r => (r.getLong(1), r.getDouble(3)))
    // full frames start at event 2
    assert(got.map(_._1).toSeq === (2L to 8L))
    assert(got.toMap === Map(2L -> 2.0, 3L -> 3.0, 4L -> 4.0,
      5L -> 6.0, 6L -> 7.0, 7L -> 7.0, 8L -> 8.0))
    intercept[IllegalArgumentException] {
      EventOps.rollingMedian(ev, "user_id", "ts", "event_id",
        "value", window = 4).collect()
    }
  }

  test("quantileBuckets: exact integer deciles match the " +
      "single-window formula, ties stable") {
    import graft.operators.Quantiles
    val rng = new scala.util.Random(7)
    val df = (1 to 500).map(i =>
      (i.toLong, rng.nextInt(40).toDouble)).toDF("id", "v")
    val got = Quantiles.quantileBuckets(df, $"v", Seq($"id"),
      buckets = 7)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"v", $"id")
    val want = df.select($"v".as("value"), $"id",
      (((row_number().over(w).cast("long") - 1L) * 7L) / 500L)
        .cast("long") + 1L).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toMap
    val gotM = got.collect().map(r =>
      (r.getLong(1), r.getLong(2))).toMap
    assert(gotM === want)
    assert(gotM.values.toSet === (1L to 7L).toSet)
  }

  test("countTrend: integer least-squares slope on hand-built " +
      "rising/falling/flat series") {
    import graft.operators.EventOps
    def ts(day: Int, i: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-$day%02d 08:00:$i%02d")
    // up: 1,2,3 events on days 1..3 (slope 1/day); down: 3,2,1
    // (slope -1); flat: 2,2 (slope 0); single-day key dropped
    def mk(k: String, counts: Seq[Int]) = counts.zipWithIndex.flatMap {
      case (c, d) => (0 until c).map(i => (k, ts(d + 1, i)))
    }
    val ev = (mk("up", Seq(1, 2, 3)) ++ mk("down", Seq(3, 2, 1)) ++
      mk("flat", Seq(2, 2)) ++ mk("one", Seq(5)))
      .toDF("event_type", "ts")
    val got = EventOps.countTrend(ev, "event_type", "ts").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(
      "up" -> ((3L, 1000000L)), "down" -> ((3L, -1000000L)),
      "flat" -> ((2L, 0L))))
  }

  test("modeByKey: exact mode with the (count, type) tie rule") {
    import graft.operators.EventOps
    val ev = Seq((1L, "a"), (1L, "a"), (1L, "b"),
      (2L, "a"), (2L, "b"), (3L, "z"))
      .toDF("user_id", "event_type")
    val got = EventOps.modeByKey(ev, "user_id", "event_type")
      .collect().map(r => (r.getLong(0),
        (r.getString(1), r.getLong(2)))).toMap
    assert(got === Map(1L -> (("a", 2L)),
      2L -> (("b", 1L)), // tie at 1 -> largest type wins
      3L -> (("z", 1L))))
  }

  test("attribution: last touch inside the window wins; stale or " +
      "missing touches are organic") {
    import graft.operators.EventOps
    def ts(s: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(s))
    val ev = Seq(
      // user 1: click then ad then purchase -> 'ad' (most recent)
      (1L, ts(0), 1L, "click"), (1L, ts(10), 2L, "ad"),
      (1L, ts(20), 3L, "purchase"),
      // user 2: touch 2h before purchase -> organic (outside 1h)
      (2L, ts(0), 4L, "click"), (2L, ts(7200), 5L, "purchase"),
      // user 3: no touch at all -> organic
      (3L, ts(5), 6L, "purchase"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = EventOps.attribution(ev, "user_id", "ts", "event_id",
      "event_type", "purchase", lookbackMicros = 3600000000L)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1)))
      .toMap
    assert(got === Map(Some("ad") -> 1L, None -> 2L))
  }

  test("scd2 applyChanges: close+reversion, no-op change, insert, " +
      "idempotent re-apply") {
    import graft.operators.Scd2
    val dim = Seq(
      (1L, "x", 0L, Option.empty[Long], true),
      (2L, "y", 0L, Option.empty[Long], true),
      // key 3 already has history: a closed row + a current row
      (3L, "old", 0L, Option(50L), false), (3L, "z", 50L,
        Option.empty[Long], true))
      .toDF("k", "attr", "valid_from", "valid_to", "is_current")
    val changes = Seq(
      (1L, "x2", 100L),  // real change -> close + new version
      (2L, "y", 100L),   // identical attrs -> no-op
      (9L, "new", 100L)) // unseen key -> insert
      .toDF("k", "attr", "change_micros")
    val out = Scd2.applyChanges(dim, changes, "k", Seq("attr"))
    val rows = out.collect().map(r => (r.getLong(0), r.getString(1),
      r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]),
      r.getBoolean(4))).toSet
    assert(rows === Set(
      (1L, "x", 0L, Some(100L), false), (1L, "x2", 100L, None, true),
      (2L, "y", 0L, None, true),
      (3L, "old", 0L, Some(50L), false), (3L, "z", 50L, None, true),
      (9L, "new", 100L, None, true)))
    // idempotence: re-applying the same batch changes nothing
    val again = Scd2.applyChanges(out, changes, "k", Seq("attr"))
    assert(again.collect().map(r => (r.getLong(0), r.getString(1),
      r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]),
      r.getBoolean(4))).toSet === rows)
  }

  test("textRank: the hub of a star graph outranks the leaves; " +
      "integer rounds match the hand recurrence") {
    import graft.operators.TextSearch
    // 6 docs of "hub leafK" -> star graph: hub co-occurs with every
    // leaf (pair count 2 each >= minPairCount 2), leaves only with hub
    val docs = (1 to 6).map { i =>
      (i.toLong, s"hub leaf${(i - 1) / 2 + 1}")
    }.toDF("doc_id", "text")
    val got = TextSearch.textRank(docs, minTermLen = 3,
      minPairCount = 2, iters = 3, topN = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.head._1 === "hub", s"hub must rank first: ${got.toSeq}")
    // replay the integer recurrence by hand: N=4, base=25e10;
    // deg(hub)=3, deg(leaf)=1
    val base = 1000000000000L / 4
    var hub = base; var leaf = base
    for (_ <- 1 to 3) {
      val nh = (15L * base + 85L * (3L * leaf)) / 100L
      val nl = (15L * base + 85L * (hub / 3L)) / 100L
      hub = nh; leaf = nl
    }
    val m = got.toMap
    assert(m("hub") === hub && m("leaf1") === leaf,
      s"integer rounds drifted: got $m want hub=$hub leaf=$leaf")
  }

  test("scd2 lookupAt: facts resolve the version valid at their " +
      "instant; unknown keys and pre-history instants go null") {
    import graft.operators.Scd2
    val dim = Seq(
      (1L, "old", 0L, Option(100L), false),
      (1L, "new", 100L, Option.empty[Long], true),
      (2L, "only", 50L, Option.empty[Long], true))
      .toDF("k", "attr", "valid_from", "valid_to", "is_current")
    val facts = Seq(
      (1L, 99L, "a"), (1L, 100L, "b"), (1L, 500L, "c"),
      (2L, 10L, "d"), // before key 2's history starts -> null
      (9L, 50L, "e")) // unknown key -> null
      .toDF("k", "ts", "tag")
    val got = Scd2.lookupAt(dim, facts, "k", col("ts"))
      .collect().map(r => (r.getString(2), Option(r.getString(3))))
      .toMap
    assert(got === Map("a" -> Some("old"), "b" -> Some("new"),
      "c" -> Some("new"), "d" -> None, "e" -> None))
  }

  test("expectations: per-rule violation counts, NULL predicate " +
      "counts as violation") {
    import graft.operators.Profile
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (5L, 1L), (20L, 2L), (null, 3L))
      .toDF("v", "id")
    val got = Profile.expectations(df, Seq(
      "v_small" -> (col("v") <= 10),
      "id_pos" -> (col("id") > 0)))
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    // v_small: 20 violates, NULL v counts as violation -> 2
    assert(got === Map("v_small" -> ((3L, 2L, false)),
      "id_pos" -> ((3L, 0L, true))))
  }

  test("profile: per-column rows/nulls/distinct/min/max in one pass") {
    val df = Seq[(java.lang.Long, String)](
      (1L, "b"), (2L, null), (2L, "a"), (null, "a"))
      .toDF("k", "s")
    val got = graft.operators.Profile.profile(df).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getString(5)))).toMap
    assert(got("k") === ((4L, 1L, 2L, "1", "2")))
    assert(got("s") === ((4L, 1L, 2L, "a", "b")))
    // column subset + unknown column rejection
    assert(graft.operators.Profile.profile(df, Seq("k")).count() === 1)
    intercept[IllegalArgumentException] {
      graft.operators.Profile.profile(df, Seq("nope")).collect()
    }
  }

  test("ewma: exact fixed-point recurrence, order by (ts, id)") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // key 1: values 2.00, 4.00, 3.00 -> s1=2e8, s2=(4e8+2e8)//2=3e8,
    // s3=(3e8+3e8)//2=3e8 (centi-value fixed point at 1e6)
    val df = Seq((1L, ts(1), 10L, 2.0), (1L, ts(2), 11L, 4.0),
      (1L, ts(3), 12L, 3.0), (2L, ts(1), 20L, 1.0))
      .toDF("user_id", "ts", "event_id", "value")
    val got = graft.operators.EventOps.ewma(df, "user_id", "ts",
      "event_id", "value")
      .select($"event_id", $"ewma_c6").as[(Long, Long)]
      .collect().toMap
    assert(got === Map(10L -> 200000000L, 11L -> 300000000L,
      12L -> 300000000L, 20L -> 100000000L))
  }

  test("iqrOutliers: explicit quartile selection and 3*IQR bound") {
    import spark.implicits._
    // n=8 sorted 1..7,100: q1 = idx (8+3)//4 = 2 -> 2.0, q3 = idx
    // (24+3)//4 = 6 -> 6.0, IQR=4; high bound 2v > 2*600+3*400 ->
    // v > 1200c: only 100.0 (10000c) flags
    val df = (1 to 7).map(v => ("a", v.toDouble)) :+ (("a", 100.0))
    val got = graft.operators.EventOps.iqrOutliers(
      df.toDF("k", "v"), "k", "v").head()
    assert((got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4)) === ((8L, 200L, 600L, 1L)))
  }

  test("abLift: ppm conversion and signed lift vs control") {
    import spark.implicits._
    // variant 0 (users 2, 4): one converter -> 500000 ppm
    // variant 1 (users 1, 3): both convert -> 1000000 ppm, lift +1e6
    val df = Seq((1L, "buy"), (1L, "view"), (2L, "view"),
      (3L, "buy"), (4L, "buy")).toDF("user_id", "event_type")
    val got = graft.operators.EventOps.abLift(df, "user_id",
      "event_type", "buy")
      .select($"variant", $"conv_ppm", $"lift_ppm")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((0L, 500000L, 0L), (1L, 1000000L, 1000000L)))
  }

  test("attributionLinear: equal split with floor, organic fallback") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // user 1: ad, email, ad then buy -> 3 touches x 333333
    // user 2: bare buy -> organic 1000000
    val df = Seq(
      (1L, ts(1), 1L, "ad"), (1L, ts(2), 2L, "email"),
      (1L, ts(3), 3L, "ad"), (1L, ts(4), 4L, "buy"),
      (2L, ts(5), 5L, "buy"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = graft.operators.EventOps.attributionLinear(df,
      "user_id", "ts", "event_id", "event_type", "buy",
      lookbackMicros = 3600000000L)
      .as[(String, Long)].collect().toMap
    assert(got === Map("ad" -> 666666L, "email" -> 333333L,
      "organic" -> 1000000L))
  }

  test("bollinger: full frames only; constant series has zero-width " +
      "bands") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val df = (1 to 5).map(i => (1L, ts(i), i.toLong, 10.0))
      .toDF("user_id", "ts", "event_id", "value")
    val got = graft.operators.EventOps.bollinger(df, "user_id", "ts",
      "event_id", "value", window = 3)
      .select($"event_id", $"mid", $"upper", $"lower")
      .as[(Long, Double, Double, Double)].collect().toSeq
    assert(got.map(_._1) === Seq(3L, 4L, 5L)) // two warm-up rows drop
    assert(got.forall { case (_, m, u, l) =>
      m === 10.0 && u === 10.0 && l === 10.0 })
  }

  test("GraphOps: triangles and degree histogram on a known graph") {
    import spark.implicits._
    // triangle 1-2-3 plus pendant 3-4 (given unordered/dup edges)
    val pairs = Seq((2L, 1L), (2L, 3L), (1L, 3L), (3L, 4L),
      (1L, 2L)).toDF("id_a", "id_b")
    val tri = graft.operators.GraphOps.triangles(pairs)
      .as[(Long, Long, Long)].collect().toSeq
    assert(tri === Seq((1L, 2L, 3L)))
    val deg = graft.operators.GraphOps.degreeDistribution(pairs)
      .as[(Long, Long)].collect().toMap
    // degrees: 1->2, 2->2, 3->3, 4->1
    assert(deg === Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("lttb: endpoints kept, largest-triangle pick per bucket, " +
      "area ties break to the earliest point") {
    import spark.implicits._
    import java.sql.Timestamp
    val v = Seq(0.0, 10.0, 0.0, 0.0, 5.0, 0.0, 0.0, 0.0)
    val df = v.zipWithIndex.map { case (x, i) =>
      (1L, Timestamp.valueOf(f"2024-01-01 00:00:0$i"), i.toLong, x)
    }.toDF("user_id", "ts", "event_id", "value")
    val got = graft.operators.EventOps.lttb(df, "user_id", "ts",
      "event_id", "value", bucketSize = 2)
      .select($"id").as[Long].collect().toSeq
    // b0 {1,2}: spike t=1 wins; b1 {3,4}: from the spike the far-low
    // t=3 forms the bigger triangle; b2 {5,6}: flat tie -> t=5
    assert(got === Seq(0L, 1L, 3L, 5L, 7L))
  }

  test("dailyCorrelation: perfect correlation and anti-correlation " +
      "on hand-built series") {
    import spark.implicits._
    import java.sql.Timestamp
    def d(day: Int, n: Int, ty: String) = (1 to n).map(i =>
      (Timestamp.valueOf(f"2024-01-$day%02d 10:00:00"), ty))
    // a: 1,2,3 per day; b: 2,4,6 (corr +1); c: 3,2,1 (corr -1 vs a)
    val events = (d(1, 1, "a") ++ d(2, 2, "a") ++ d(3, 3, "a") ++
      d(1, 2, "b") ++ d(2, 4, "b") ++ d(3, 6, "b") ++
      d(1, 3, "c") ++ d(2, 2, "c") ++ d(3, 1, "c"))
      .toDF("ts", "event_type")
    val got = graft.operators.EventOps.dailyCorrelation(events,
      "event_type", "ts")
      .select($"key_a", $"key_b", $"corr")
      .as[(String, String, Double)].collect()
      .map { case (a, b, c) => ((a, b), c) }.toMap
    assert(got(("a", "b")) === 1.0)
    assert(got(("a", "c")) === -1.0)
    assert(got(("b", "c")) === -1.0)
  }

  test("typeCooccurrence: pair support over the entity universe") {
    import spark.implicits._
    // users: 1 {a,b}, 2 {a,b,c}, 3 {a}; universe 3
    val df = Seq((1L, "a"), (1L, "b"), (1L, "a"), (2L, "a"),
      (2L, "b"), (2L, "c"), (3L, "a")).toDF("user_id", "event_type")
    val got = graft.operators.EventOps.typeCooccurrence(df,
      "user_id", "event_type")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got === Seq(("a", "b", 2L, 666666L),
      ("a", "c", 1L, 333333L), ("b", "c", 1L, 333333L)))
  }

  test("rollingDistinct: trailing window counts multi-day users once") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(day: Int) = Timestamp.valueOf(f"2024-01-$day%02d 09:00:00")
    // user 1 active day 1 and 3; user 2 active day 3 only
    val df = Seq((1L, ts(1)), (1L, ts(3)), (2L, ts(3)))
      .toDF("user_id", "ts")
    val got = graft.operators.EventOps.rollingDistinct(df,
      "user_id", "ts", windowDays = 7)
      .select($"day".cast("string"), $"n_distinct")
      .as[(String, Long)].collect().toMap
    // day 1 window: u1; day 3 window (trailing): u1 (once) + u2
    assert(got === Map("2024-01-01 00:00:00" -> 1L,
      "2024-01-03 00:00:00" -> 2L))
  }

  test("periodChange: signed ppm deltas, NULL first period") {
    import spark.implicits._
    val df = Seq(("2024-01-01", 10.0), ("2024-02-01", 15.0),
      ("2024-03-01", 12.0)).toDF("d", "v")
    val got = graft.operators.EventOps.periodChange(df,
      col("d").cast("date").cast("timestamp"), "v")
      .select($"total_c", $"change_ppm")
      .as[(Long, Option[Long])].collect().toSeq
    assert(got === Seq((1000L, None), (1500L, Some(500000L)),
      (1200L, Some(-200000L))))
  }

  test("histogramEquiDepth: near-equal buckets on a uniform column; " +
      "strict-below tie rule") {
    import spark.implicits._
    val df = (1 to 80).map(_.toDouble).toDF("v")
    val got = graft.operators.Profile.histogramEquiDepth(df, $"v",
      buckets = 8)
      .as[(Long, Long)].collect().toMap
    assert(got.values.sum === 80L)
    assert(got.keySet === (0L to 7L).toSet)
    assert(got.values.forall(n => n == 10L), got.toString)
  }

  test("GraphOps: clustering coefficient and component sizes on a " +
      "known graph") {
    import spark.implicits._
    // triangle 1-2-3 with pendant 3-4; separate pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (10L, 11L)).toDF("id_a", "id_b")
    val cc = graft.operators.GraphOps.clusteringCoefficient(pairs)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // node 1,2: deg 2, 1 triangle -> cc 1e6; node 3: deg 3, 1
    // triangle -> 2e6//6 = 333333; degree-1 nodes drop
    assert(cc === Seq((1L, 2L, 1L, 1000000L), (2L, 2L, 1L, 1000000L),
      (3L, 3L, 1L, 333333L)))
    val sizes = graft.operators.GraphOps.componentSizes(pairs)
      .as[(Long, Long)].collect().toMap
    assert(sizes === Map(4L -> 1L, 2L -> 1L))
  }

  test("GraphOps: planted hub — degree-ordered orientation keeps the " +
      "triangle set and coefficients exact") {
    import spark.implicits._
    // hub 100 fans out to leaves 1..60; leaf edge 1-2 closes the only
    // hub triangle; 200-201-202 is a detached triangle. Under the
    // (degree, id) orientation the hub (degree 60) pivots ZERO wedges
    // — both its triangle edges orient INTO it — yet the enumerated
    // set must be identical to the definitional one.
    val hub = (1L to 60L).map(l => (100L, l))
    val pairs = (hub ++ Seq((1L, 2L), (200L, 201L), (201L, 202L),
      (200L, 202L))).toDF("id_a", "id_b")
    val tri = graft.operators.GraphOps.triangles(pairs)
      .as[(Long, Long, Long)].collect().toSeq
    assert(tri === Seq((1L, 2L, 100L), (200L, 201L, 202L)))
    val cc = graft.operators.GraphOps.clusteringCoefficient(pairs)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // leaves 1,2: deg 2, 1 triangle -> 1e6; hub: deg 60, 1 triangle
    // -> 2e6 // 3540 = 564; detached corners: deg 2 -> 1e6
    assert(cc(1L) === ((2L, 1L, 1000000L)))
    assert(cc(2L) === ((2L, 1L, 1000000L)))
    assert(cc(100L) === ((60L, 1L, 564L)))
    assert(cc(200L) === ((2L, 1L, 1000000L)))
    // degree-1 leaves drop (degree >= 2 filter)
    assert(!cc.contains(3L))
  }

  test("ewma: hot-key cap replays the earliest events exactly and " +
      "drops the tail") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val df = (0 until 6).map(i =>
      (1L, ts(i), i.toLong, (i + 1) * 2.0))
      .toDF("user_id", "ts", "event_id", "value")
    val full = graft.operators.EventOps.ewma(df, "user_id", "ts",
      "event_id", "value")
      .select($"event_id", $"ewma_c6").as[(Long, Long)]
      .collect().toMap
    val capped = graft.operators.EventOps.ewma(df, "user_id", "ts",
      "event_id", "value", maxEventsPerKey = 3)
      .select($"event_id", $"ewma_c6").as[(Long, Long)]
      .collect().toMap
    // exact prefix: first 3 events bit-identical, tail absent
    assert(capped.keySet === Set(0L, 1L, 2L))
    assert(capped === full.view.filterKeys(_ < 3L).toMap)
  }

  test("abLift: missing or zero-conversion control fails fast") {
    import spark.implicits._
    def msgChain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage)).mkString(" | ")
    // every key odd -> nobody hashes to variant 0
    val noControl = Seq((1L, "buy"), (3L, "view"))
      .toDF("user_id", "event_type")
    val e1 = intercept[Throwable] {
      graft.operators.EventOps.abLift(noControl, "user_id",
        "event_type", "buy").collect()
    }
    assert(msgChain(e1).contains("control variant 0"), msgChain(e1))
    // control exists but never converts -> lift undefined, same error
    val zeroConv = Seq((2L, "view"), (1L, "buy"))
      .toDF("user_id", "event_type")
    val e2 = intercept[Throwable] {
      graft.operators.EventOps.abLift(zeroConv, "user_id",
        "event_type", "buy").collect()
    }
    assert(msgChain(e2).contains("control variant 0"), msgChain(e2))
  }

  test("cappedRunningBalance: clamps at zero and recovers") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // deltas +5, -8 (clamp), +3, -1 -> balances 5, 0, 3, 2
    val df = Seq((1L, ts(1), 1L, 5.0), (1L, ts(2), 2L, -8.0),
      (1L, ts(3), 3L, 3.0), (1L, ts(4), 4L, -1.0))
      .toDF("user_id", "ts", "event_id", "value")
    val got = graft.operators.EventOps.cappedRunningBalance(df,
      "user_id", "ts", "event_id", col("value"))
      .select($"event_id", $"balance_c").as[(Long, Long)]
      .collect().toMap
    assert(got === Map(1L -> 500L, 2L -> 0L, 3L -> 300L, 4L -> 200L))
  }

  test("rougePairs: clipped overlap keeps multiplicity; zero-overlap " +
      "pairs still report") {
    import spark.implicits._
    // bigram grams: doc1 'a b a b' -> {a b: 2, b a: 1} len 3
    //               doc2 'a b c'   -> {a b: 1, b c: 1} len 2
    //               doc3 'x y'     -> {x y: 1}         len 1
    // overlap(1,2) = min(2,1) = 1; p=1/3, r=1/2, f1=2/5
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "x y"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextSearch.rougePairs(docs, n = 2)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1L, 2L, 1L, 333333L, 500000L, 400000L),
      (1L, 3L, 0L, 0L, 0L, 0L),
      (2L, 3L, 0L, 0L, 0L, 0L)))
  }

  test("pageRank: unrolled integer iterations replay a local fold") {
    import spark.implicits._
    // path 1-2-3 plus pendant 3-4: degrees 1, 2, 2, 1
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val got = graft.operators.GraphOps.pageRank(pairs, iters = 3)
      .as[(Long, Long)].collect().toMap
    val edges = Seq(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 2L,
      3L -> 4L, 4L -> 3L)
    val deg = Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L)
    var r = deg.keys.map(_ -> 1000000L).toMap
    (1 to 3).foreach { _ =>
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(e => r(e._1) / deg(e._1)).sum
      }
      r = deg.keys.map(n =>
        n -> (15L * 1000000L + 85L * contrib.getOrElse(n, 0L)) / 100L)
        .toMap
    }
    assert(got === r, s"got=$got expected=$r")
    // symmetry: 1/4 and 2/3 are mirror positions
    assert(got(1L) === got(4L) && got(2L) === got(3L))
  }

  test("maxDrawdown: largest peak-to-trough drop in (ts, id) order") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // series 10, 5, 7, 3, 8 -> peak 10.00, worst drop 10-3 = 7.00
    val vals = Seq(10.0, 5.0, 7.0, 3.0, 8.0)
    val df = vals.zipWithIndex.map { case (v, i) =>
      (1L, ts(i), i.toLong, v)
    }.toDF("user_id", "ts", "event_id", "value")
    val got = graft.operators.EventOps.maxDrawdown(df, "user_id",
      "ts", "event_id", "value").head()
    assert((got.getLong(1), got.getLong(2), got.getLong(3)) ===
      ((5L, 1000L, 700L)))
  }

  test("cohortLtv: per-cohort offset cells with running cumulative") {
    import spark.implicits._
    import java.sql.Timestamp
    def d(s: String) = Timestamp.valueOf(s + " 10:00:00")
    // user 1 cohort Jan-1 week: 1.00 then 2.50 a week later;
    // user 2 cohort Jan-8 week: 3.00
    val df = Seq((1L, d("2024-01-01"), 1.0), (1L, d("2024-01-08"), 2.5),
      (2L, d("2024-01-08"), 3.0)).toDF("user_id", "ts", "value")
    val got = graft.operators.EventOps.cohortLtv(df, "user_id", "ts",
      "value")
      .select($"cohort_week".cast("string"), $"week_offset",
        $"revenue_c", $"cum_revenue_c")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got === Seq(("2024-01-01", 0L, 100L, 100L),
      ("2024-01-01", 1L, 250L, 350L),
      ("2024-01-08", 0L, 300L, 300L)), got.toString)
  }

  test("stickiness: WAU over trailing-4-week distinct actives, " +
      "only observed weeks report") {
    import spark.implicits._
    import java.sql.Timestamp
    def d(s: String) = Timestamp.valueOf(s + " 10:00:00")
    // u1 active weeks Jan-1 and Jan-8; u2 only Jan-1 (still counted
    // in Jan-8's trailing month)
    val df = Seq((1L, d("2024-01-01")), (1L, d("2024-01-08")),
      (2L, d("2024-01-02"))).toDF("user_id", "ts")
    val got = graft.operators.EventOps.stickiness(df, "user_id", "ts")
      .select($"week".cast("string"), $"wau", $"mau",
        $"stickiness_ppm")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      ("2024-01-01 00:00:00", 2L, 2L, 1000000L),
      ("2024-01-08 00:00:00", 1L, 2L, 500000L)), got.toString)
  }

  test("gini: exact rational on hand counts; uniform counts give 0") {
    import spark.implicits._
    // type a: counts 1 and 3 -> G = (2(1·1+2·3) − 3·4)/(2·4) = 0.25
    // type b: counts 2 and 2 -> G = 0
    val df = (Seq.fill(1)((1L, "a")) ++ Seq.fill(3)((2L, "a")) ++
      Seq.fill(2)((1L, "b")) ++ Seq.fill(2)((2L, "b")))
      .toDF("user_id", "event_type")
    val got = graft.operators.EventOps.gini(df, "user_id",
      "event_type")
      .select($"event_type", $"gini_ppm").as[(String, Long)]
      .collect().toMap
    assert(got === Map("a" -> 250000L, "b" -> 0L), got.toString)
  }

  test("rfm: explicit quartile rule over distributed ranks; clean " +
      "1-4 spread on four separated users") {
    import spark.implicits._
    import java.sql.Timestamp
    def d(day: Int) = Timestamp.valueOf(f"2024-01-$day%02d 10:00:00")
    // user k: k events of value k on day k -> every dimension ranks
    // users 1<2<3<4 (recency: day 4 is most recent -> bucket 4)
    val df = (1 to 4).flatMap(k => (1 to k).map(_ =>
      (k.toLong, d(k), k.toDouble))).toDF("user_id", "ts", "value")
    val got = graft.operators.EventOps.rfm(df, "user_id", "ts",
      "value")
      .select($"user_id", $"recency_days", $"segment")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 3L, 111L), (2L, 2L, 222L),
      (3L, 1L, 333L), (4L, 0L, 444L)), got.toString)
  }

  test("minhashEstimate: identical docs estimate 1.0 exactly; " +
      "near-dups carry a bounded signature error") {
    import spark.implicits._
    val base = (1 to 80).map(i => s"word$i").mkString(" ")
    val near = (1 to 72).map(i => s"word$i").mkString(" ") +
      " tail bits x y z w q r"
    val docs = Seq((1L, base), (2L, base), (3L, near))
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.minhashEstimate(docs,
      minJaccard = 0.2)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    val (e12, j12, err12) = got((1L, 2L))
    assert(e12 === 10000L && j12 === 10000L && err12 === 0L)
    val (e13, j13, err13) = got((1L, 3L))
    assert(j13 > 2000L && j13 < 10000L, got.toString)
    assert(err13 === math.abs(e13 - j13))
  }

  test("clusterQuality: per-component size, pair count and floored " +
      "mean Jaccard") {
    import spark.implicits._
    val a = (1 to 80).map(i => s"word$i").mkString(" ")
    val b = (500 to 580).map(i => s"tok$i").mkString(" ")
    // {1,2} identical; {10,11} identical — two clean components
    val docs = Seq((1L, a), (2L, a), (10L, b), (11L, b))
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.clusterQuality(docs)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L, 1L, 10000L), (10L, 2L, 1L, 10000L)),
      got.toString)
  }

  test("kCore: the peel strips pendant chains and keeps the " +
      "triangle nucleus") {
    import spark.implicits._
    // triangle 1-2-3 with a pendant chain 3-4-5: the 2-core is the
    // triangle (chain peels over two rounds)
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (4L, 5L)).toDF("id_a", "id_b")
    val got = graft.operators.GraphOps.kCore(pairs, k = 2)
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L), (2L, 2L), (3L, 2L)), got.toString)
  }

  test("kCore: a peel that does not stabilize within rounds FAILS " +
      "FAST instead of returning a silent superset") {
    import spark.implicits._
    // a length-8 path needs 4 peel rounds to empty under k=2; after
    // only 2 the survivors (path 3-4-5-6) are NOT a 2-core
    val path = (1L to 7L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ex = intercept[Exception] {
      graft.operators.GraphOps.kCore(path, k = 2, rounds = 2).collect()
    }
    val chain = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(chain.contains("did not stabilize"), chain)
    // enough rounds: converges to the (empty) exact 2-core, no error
    assert(graft.operators.GraphOps.kCore(path, k = 2, rounds = 4)
      .collect().isEmpty)
  }

  test("labelPropagation: one bridge between two triangles splits " +
      "into two communities (a single component)") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("id_a", "id_b")
    val got = graft.operators.GraphOps.labelPropagation(pairs)
      .as[(Long, Long)].collect().toSeq
    // hand-replayed 3 sync rounds with the (count desc, label asc)
    // tie rule: the triangles settle on labels 1 and 3 — two
    // communities despite being one connected component
    assert(got === Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 3L), (5L, 3L), (6L, 3L)), got.toString)
  }

  test("bridgePairs: exactly the one cross-community edge reports") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("id_a", "id_b")
    val got = graft.operators.GraphOps.bridgePairs(pairs)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((3L, 4L, 1L, 3L)), got.toString)
  }

  test("cutBridges: the bridged triangles re-cluster as two " +
      "components after the cut") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("id_a", "id_b")
    val got = graft.operators.GraphOps.cutBridges(pairs)
      .as[(Long, Long, Long)].collect().toSeq
    // bridge (3,4) is cut; the two triangles come back as clusters
    // rooted at their component minima, 1 and 4, size 3 each
    assert(got === Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (4L, 4L, 3L), (5L, 4L, 3L), (6L, 4L, 3L)), got.toString)
  }

  test("cutBridges: a star whose every edge is a bridge leaves all " +
      "nodes as singletons") {
    import spark.implicits._
    // hand-replayed 1 sync round: 1→2 (min of {2,4,6}), 2→1, 3→2,
    // 4→1, 5→4, 6→1, 7→6 — EVERY edge ends up cross-community, so
    // the cut isolates all seven nodes: each clusters as itself
    val pairs = Seq((2L, 3L), (4L, 5L), (6L, 7L),
      (1L, 2L), (1L, 4L), (1L, 6L)).toDF("id_a", "id_b")
    val got = graft.operators.GraphOps.cutBridges(pairs, iters = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === (1L to 7L).map(i => (i, i, 1L)), got.toString)
  }

  test("modularity: exact integer contributions on the bridged " +
      "triangles") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("id_a", "id_b")
    val got = graft.operators.GraphOps.modularity(pairs)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // m=7; each triangle community: e_c=3, d_c=7 ->
    // (4*7*3 - 49)*1e6 // (4*49) = 35e6 // 196 = 178571
    assert(got === Seq((1L, 3L, 3L, 7L, 178571L),
      (3L, 3L, 3L, 7L, 178571L)), got.toString)
  }

  test("powerUsers: exact top-fraction activity shares with the " +
      "(count desc, key) tiebreak") {
    import spark.implicits._
    val ev = (Seq.fill(10)(1L) ++ Seq.fill(5)(2L) ++ Seq(3L, 4L))
      .zipWithIndex.map { case (u, i) => (u, i.toLong) }
      .toDF("user_id", "event_id")
    val got = graft.operators.EventOps.powerUsers(ev, "user_id",
      pcts = Seq(0.25, 0.5))
      .as[(Double, Long, Long, Long, Long)].collect().toSeq
    // 4 users, 17 events: top 25% = u1 (10 ev, 588235 ppm);
    // top 50% = u1+u2 (15 ev, 882352 ppm)
    assert(got === Seq((0.25, 1L, 10L, 17L, 588235L),
      (0.5, 2L, 15L, 17L, 882352L)), got.toString)
  }

  test("audienceOverlap: per-pair distinct-entity Jaccard; " +
      "zero-overlap pairs stay silent") {
    import spark.implicits._
    val ev = Seq((1L, "a"), (2L, "a"), (3L, "a"), (2L, "a"),
      (2L, "b"), (3L, "b"), (9L, "c"))
      .toDF("user_id", "event_type")
    val got = graft.operators.EventOps.audienceOverlap(ev,
      "user_id", "event_type")
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    // |a|=3, |b|=2, both=2 -> 2e6 // 3 = 666666; c shares nobody
    assert(got === Seq(("a", "b", 3L, 2L, 2L, 666666L)),
      got.toString)
  }

  test("hourOfWeekHeatmap: epoch-day DOW grid (0 = Sunday), UTC " +
      "hours, distinct actives per cell") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // 2024-01-01 is a Monday (dow 1); 2024-01-07 a Sunday (dow 0)
    val ev = Seq((1L, ts("2024-01-01 10:05:00")),
      (1L, ts("2024-01-01 10:55:00")),
      (2L, ts("2024-01-07 23:01:00")))
      .toDF("user_id", "ts")
    val got = graft.operators.EventOps.hourOfWeekHeatmap(ev,
      "user_id", "ts")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((0L, 23L, 1L, 1L), (1L, 10L, 2L, 1L)),
      got.toString)
  }

  test("streaks: gaps-and-islands — runs split on missing days, " +
      "active total and max streak exact") {
    import spark.implicits._
    def ts(d: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-$d%02d 09:00:00")
    // user 1 active days 1,2,3,5,6 (two events on day 2 dedupe);
    // user 2 active day 4 only
    val ev = Seq((1L, ts(1)), (1L, ts(2)), (1L, ts(2)), (1L, ts(3)),
      (1L, ts(5)), (1L, ts(6)), (2L, ts(4))).toDF("user_id", "ts")
    val got = graft.operators.EventOps.streaks(ev, "user_id", "ts")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 5L, 3L), (2L, 1L, 1L)), got.toString)
  }

  test("seasonalError: week-ago naive error over only the days " +
      "where both sides exist; exact WMAPE ppm") {
    import spark.implicits._
    def ts(d: Int, n: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-$d%02d 0$n:10:00")
    // day 1: 2 events, day 2: 5; day 8: 3 (err 1), day 9: 5 (err 0)
    val ev = (Seq.tabulate(2)(i => ("a", ts(1, i))) ++
      Seq.tabulate(5)(i => ("a", ts(2, i))) ++
      Seq.tabulate(3)(i => ("a", ts(8, i))) ++
      Seq.tabulate(5)(i => ("a", ts(9, i))))
      .toDF("event_type", "ts")
    val got = graft.operators.EventOps.seasonalError(ev,
      "event_type", "ts")
      .as[(String, Long, Long, Long)].collect().toSeq
    // n_days=2, total_abs_err=1, total_actual=8 -> 1e6 // 8 = 125000
    assert(got === Seq(("a", 2L, 1L, 125000L)), got.toString)
  }

  test("peakDays: strict local maxima only; edges and plateaus " +
      "never peak") {
    import spark.implicits._
    def ts(d: Int, n: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-$d%02d 0$n:10:00")
    // counts by day: 1,3,2,2,4 -> only day 2 (3 > 1 and 3 > 2) and
    // NOT day 4 (2 == 2 plateau), day 5 is an edge
    val ev = (Seq.tabulate(1)(i => ("a", ts(1, i))) ++
      Seq.tabulate(3)(i => ("a", ts(2, i))) ++
      Seq.tabulate(2)(i => ("a", ts(3, i))) ++
      Seq.tabulate(2)(i => ("a", ts(4, i))) ++
      Seq.tabulate(4)(i => ("a", ts(5, i))))
      .toDF("event_type", "ts")
    val got = graft.operators.EventOps.peakDays(ev,
      "event_type", "ts")
      .as[(String, java.sql.Timestamp, Long)].collect().toSeq
    assert(got.map(r => (r._1, r._2.toString.take(10), r._3)) ===
      Seq(("a", "2024-01-02", 3L)), got.toString)
  }

  test("typeEntropy: single-type entities score 0; a uniform " +
      "two-type mix scores ln 2 in micro-nats") {
    import spark.implicits._
    def ts(n: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 0$n:00:00")
    val ev = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "a"),
      (2L, "a")).zipWithIndex
      .map { case ((u, t), i) => (u, t, ts(i)) }
      .toDF("user_id", "event_type", "ts")
    val got = graft.operators.EventOps.typeEntropy(ev,
      "user_id", "event_type")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // user 1: ln(2)*1e6 = 693147 - (1*0 + 1*0)//2; user 2: exact 0
    assert(got === Seq((1L, 2L, 2L, 693147L), (2L, 3L, 1L, 0L)),
      got.toString)
  }

  test("zipfSlope: exact integer OLS with the floored final " +
      "division, replayed by hand") {
    import spark.implicits._
    // four terms with freqs 100, 50, 33, 25 (near-perfect Zipf)
    val text = (Seq.fill(100)("aa") ++ Seq.fill(50)("bb") ++
      Seq.fill(33)("cc") ++ Seq.fill(25)("dd")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val got = graft.operators.TextStats.zipfSlope(docs)
      .as[(Long, Long)].head()
    // hand replay of the contract (same quantized logs + floor)
    val fs = Seq(100L, 50L, 33L, 25L)
    val xy = fs.zipWithIndex.map { case (f, i) =>
      (math.round(math.log(i + 1.0) * 1e6),
        math.round(math.log(f.toDouble) * 1e6)) }
    val n = BigInt(4)
    val sx = xy.map(e => BigInt(e._1)).sum
    val sy = xy.map(e => BigInt(e._2)).sum
    val sxy = xy.map(e => BigInt(e._1) * e._2).sum
    val sxx = xy.map(e => BigInt(e._1) * e._1).sum
    val num = (n * sxy - sx * sy) * 1000000
    val den = n * sxx - sx * sx
    val exp = (if (num < 0) -((-num + den - 1) / den)
      else num / den).toLong
    assert(got === ((4L, exp)) && exp < -900000L && exp > -1100000L,
      s"$got vs $exp")
  }

  test("bounceRate: one-event sessions count as bounces under the " +
      "same gap split as sessionize") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: events at 10:00, 10:10 (one session), then 12:00
    // (bounce) -> 2 sessions, 1 bounce; user 2: single event
    val ev = Seq((1L, 1L, ts("2024-01-01 10:00:00")),
      (1L, 2L, ts("2024-01-01 10:10:00")),
      (1L, 3L, ts("2024-01-01 12:00:00")),
      (2L, 4L, ts("2024-01-01 09:00:00")))
      .toDF("user_id", "event_id", "ts")
    val got = graft.operators.EventOps.bounceRate(ev, "user_id",
      "ts", "event_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L, 1L, 500000L), (2L, 1L, 1L, 1000000L)),
      got.toString)
  }

  test("weekendLift: epoch-day weekend classing, cleared-fraction " +
      "exact lift") {
    import spark.implicits._
    def ts(d: Int, n: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-$d%02d 0$n:30:00")
    // 2024-01-01 Mon .. 2024-01-07 Sun: weekdays 1-5, weekend 6,7
    // type a: 2 events Mon, 4 on Sat -> wd mean 2, we mean 4 ->
    // lift 2e6; type b: weekday only -> dropped
    val ev = (Seq.tabulate(2)(i => ("a", ts(1, i))) ++
      Seq.tabulate(4)(i => ("a", ts(6, i))) ++
      Seq.tabulate(3)(i => ("b", ts(2, i))))
      .toDF("event_type", "ts")
    val got = graft.operators.EventOps.weekendLift(ev,
      "event_type", "ts")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(("a", 1L, 1L, 2L, 4L, 2000000L)),
      got.toString)
  }

  test("typeDrift: per-type KL contributions exact under the " +
      "quantized-ln contract, negative contributions truncate") {
    import spark.implicits._
    def ts(d: Int, n: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-$d%02d 0$n:15:00")
    // Mon 2024-01-01 weekday, Sat 2024-01-06 weekend;
    // a: wd 4 / we 2, b: wd 2 / we 4 -> CW = CE = 6
    val ev = (Seq.tabulate(4)(i => ("a", ts(1, i))) ++
      Seq.tabulate(2)(i => ("a", ts(6, i))) ++
      Seq.tabulate(2)(i => ("b", ts(1, i))) ++
      Seq.tabulate(4)(i => ("b", ts(6, i))))
      .toDF("event_type", "ts")
    val got = graft.operators.EventOps.typeDrift(ev,
      "event_type", "ts")
      .as[(String, Long, Long, Long)].collect().toSeq
    // a: 4*(ln4q - ln2q)//6 = 4*693147//6 = 462098;
    // b: 2*(ln2q - ln4q)//6 = -1386294//6 = -231049 (exact)
    assert(got === Seq(("a", 4L, 2L, 462098L),
      ("b", 2L, 4L, -231049L)), got.toString)
  }

  test("sessionDepths: session-size histogram reconciles with the " +
      "bounce split") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq((1L, 1L, ts("2024-01-01 10:00:00")),
      (1L, 2L, ts("2024-01-01 10:10:00")),
      (1L, 3L, ts("2024-01-01 12:00:00")),
      (2L, 4L, ts("2024-01-01 09:00:00")))
      .toDF("user_id", "event_id", "ts")
    val got = graft.operators.EventOps.sessionDepths(ev, "user_id",
      "ts", "event_id")
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L), (2L, 1L)), got.toString)
  }

  test("vocabGrowth: terms charge their first bucket; cumulative " +
      "curves exact") {
    import spark.implicits._
    val docs = Seq((1L, "a b"), (2L, "b c c")).toDF("doc_id", "text")
    val got = graft.operators.TextStats.vocabGrowth(docs, buckets = 2)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // max=2: doc 1 -> bucket 0 (1*2 div 3), doc 2 -> bucket 1;
    // terms a,b first in 0, c first in 1
    assert(got === Seq((0L, 2L, 2L, 2L, 2L), (1L, 3L, 1L, 5L, 3L)),
      got.toString)
  }

  test("dupInflation: cluster token mass vs the representative's") {
    import spark.implicits._
    val docs = Seq((1L, "x y z"), (2L, "x y"), (3L, "x"),
      (5L, "p q r s"), (6L, "p q"), (9L, "lonely"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L))
      .toDF("id_a", "id_b")
    val got = graft.operators.Dedup.dupInflation(docs, pairs)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // cluster 1 = {1,2,3}: 6 tokens total, rep (doc 1) keeps 3;
    // cluster 5 = {5,6}: 6 total, rep keeps 4; doc 9 not clustered
    assert(got === Seq((1L, 3L, 6L, 3L), (5L, 2L, 6L, 4L)),
      got.toString)
  }

  test("autocorrelation: rising counts give r=1, alternating give " +
      "r=-1 (bit-exact single-tree Pearson)") {
    import spark.implicits._
    def ts(d: Int, n: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-$d%02d 0$n:00:00")
    // type a: 1,2,3 events on days 1-3; type b: 2,1,2
    val ev = (Seq.tabulate(1)(i => ("a", ts(1, i))) ++
      Seq.tabulate(2)(i => ("a", ts(2, i))) ++
      Seq.tabulate(3)(i => ("a", ts(3, i))) ++
      Seq.tabulate(2)(i => ("b", ts(1, i))) ++
      Seq.tabulate(1)(i => ("b", ts(2, i))) ++
      Seq.tabulate(2)(i => ("b", ts(3, i))))
      .toDF("event_type", "ts")
    val got = graft.operators.EventOps.autocorrelation(ev,
      "event_type", "ts")
      .as[(String, Long, Double)].collect().toSeq
    assert(got === Seq(("a", 2L, 1.0), ("b", 2L, -1.0)),
      got.toString)
  }

  test("interEventCv: a metronome scores 0 ppm; uneven gaps score " +
      "the exact integer cv^2") {
    import spark.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(
      1700000000000L + sec * 1000L)
    val ev = Seq((1L, ts(0), 1L), (1L, ts(10), 2L), (1L, ts(20), 3L),
      (2L, ts(0), 4L), (2L, ts(10), 5L), (2L, ts(40), 6L))
      .toDF("user_id", "ts", "event_id")
    val got = graft.operators.EventOps.interEventCv(ev, "user_id",
      "ts", "event_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // u2: gaps 1e7/3e7 -> (2*1e15 - 1.6e15)*1e6 // 1.6e15 = 250000
    assert(got === Seq((1L, 2L, 10000000L, 0L),
      (2L, 2L, 20000000L, 250000L)), got.toString)
  }

  test("madByKey: exact rank-selected median and MAD") {
    import spark.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(
      1700000000000L + sec * 1000L)
    val ev = Seq(("a", 1.00, 1L), ("a", 2.00, 2L), ("a", 9.00, 3L))
      .map { case (t, v, i) => (t, v, i, ts(i.toInt)) }
      .toDF("event_type", "value", "event_id", "ts")
    val got = graft.operators.EventOps.madByKey(ev, "event_type",
      "value", "event_id")
      .as[(String, Long, Long)].collect().toSeq
    // values 100/200/900: median = 200; |v-200| = 100/0/700 -> 100
    assert(got === Seq(("a", 200L, 100L)), got.toString)
  }

  test("typeTokenRatio: distinct-over-total ppm; zero-token docs " +
      "drop") {
    import spark.implicits._
    val df = Seq((1L, "the cat the dog"), (2L, ""), (3L, "one"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextStats.typeTokenRatio(df)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 4L, 3L, 750000L),
      (3L, 1L, 1L, 1000000L)), got.toString)
  }

  test("newVsReturning: first-touch week counts as new, later " +
      "active weeks as returning") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq((1L, ts("2024-01-03 10:00:00")),  // week of Jan 1
      (1L, ts("2024-01-10 10:00:00")),             // week of Jan 8
      (2L, ts("2024-01-10 12:00:00")),
      (2L, ts("2024-01-11 12:00:00")))             // same week: once
      .toDF("user_id", "ts")
    val got = graft.operators.EventOps.newVsReturning(ev,
      "user_id", "ts")
      .as[(java.sql.Timestamp, Long, Long)].collect().toSeq
    assert(got === Seq(
      (ts("2024-01-01 00:00:00"), 1L, 0L),
      (ts("2024-01-08 00:00:00"), 1L, 1L)), got.toString)
  }

  test("twap: hold-until-next weighting; last event carries none") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)
    // 2.00 held 10 s, 4.00 held 20 s, 9.99 never held:
    // (200*10e6 + 400*20e6) // 30e6 = 333
    val df = Seq((1L, ts(0), 1L, 2.0), (1L, ts(10), 2L, 4.0),
      (1L, ts(30), 3L, 9.99)).toDF("user_id", "ts", "event_id",
      "value")
    val got = graft.operators.EventOps.twap(df, "user_id", "ts",
      "event_id", "value").head()
    assert((got.getLong(1), got.getLong(2)) === ((30000000L, 333L)))
  }

  test("changepoint: picks the SSE-minimizing split; constant " +
      "series ties to the smallest k") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // user 1: 1,1,1,9,9 -> split after index 3, means 1.00 | 9.00
    // user 2: constant 5s -> every split scores equal, k=1 wins
    val df = (Seq(1.0, 1.0, 1.0, 9.0, 9.0).zipWithIndex.map {
      case (v, i) => (1L, ts(i), i.toLong, v)
    } ++ Seq(5.0, 5.0, 5.0).zipWithIndex.map { case (v, i) =>
      (2L, ts(i), (10 + i).toLong, v)
    }).toDF("user_id", "ts", "event_id", "value")
    val got = graft.operators.EventOps.changepoint(df, "user_id",
      "ts", "event_id", "value")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 5L, 3L, 100L, 900L),
      (2L, 3L, 1L, 500L, 500L)), got.toString)
  }

  test("changepoint: random SIGNED series match a local BigInt " +
      "replay of the floored-score argmax with FLOORED means") {
    import spark.implicits._
    import java.sql.Timestamp
    // floor division (SQL `//`): BigInt / truncates toward zero
    def fdiv(a: BigInt, b: BigInt): BigInt =
      if (a.sign < 0 && a % b != 0) a / b - 1 else a / b
    val rnd = new scala.util.Random(7)
    val rows = (1 to 4).flatMap { k =>
      val n = 3 + rnd.nextInt(30)
      (0 until n).map(i => (k.toLong,
        new Timestamp(1700000000000L + i * 1000L),
        (k * 1000 + i).toLong,
        (rnd.nextInt(40000) - 20000) / 100.0))
    }
    val got = graft.operators.EventOps.changepoint(
      rows.toDF("user_id", "ts", "event_id", "value"),
      "user_id", "ts", "event_id", "value")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    rows.groupBy(_._1).foreach { case (k, es) =>
      val vs = es.sortBy(_._3).map(e => BigInt(math.round(e._4 * 100)))
      val n = vs.size
      val pre = vs.scanLeft(BigInt(0))(_ + _).tail
      val s1 = pre.last
      val best = (1 until n).map { j =>
        val sp = pre(j - 1); val ss = s1 - sp
        // score numerator is a sum of squares: non-negative, so
        // truncating `/` IS floor here
        val score = (sp * sp * (n - j) + ss * ss * j) /
          (BigInt(j) * (n - j))
        (-score, j)
      }.min
      val j = best._2
      val exp = (n.toLong, j.toLong, fdiv(pre(j - 1), j).toLong,
        fdiv(s1 - pre(j - 1), n - j).toLong)
      assert(got(k) === exp, s"key $k")
    }
  }

  test("changepoint: negative segment sums get FLOOR means (the " +
      "documented contract; both engines' native integer division " +
      "truncates, so the oracle replays the sign-split CASE)") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // cents: -100, -55, 900, 900 -> split at k=2 (scores 1025008 /
    // 1632012 / 995008); left mean floor(-155/2) = -78 (truncation
    // toward zero would say -77)
    val df = Seq(-1.0, -0.55, 9.0, 9.0).zipWithIndex.map {
      case (v, i) => (1L, ts(i), i.toLong, v)
    }.toDF("user_id", "ts", "event_id", "value")
    val got = graft.operators.EventOps.changepoint(df, "user_id",
      "ts", "event_id", "value")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 4L, 2L, -78L, 900L)), got.toString)
  }

  test("gini: random counts match a local exact-rational replay") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (1 to 60).flatMap { u =>
      Seq.fill(1 + rnd.nextInt(9))((u.toLong, "t"))
    }
    val got = graft.operators.EventOps.gini(
      rows.toDF("user_id", "event_type"), "user_id", "event_type")
      .select($"gini_ppm").as[Long].head()
    val xs = rows.groupBy(_._1).values.map(_.size.toLong).toSeq.sorted
    val n = BigInt(xs.size); val sx = BigInt(xs.sum)
    val six = xs.zipWithIndex
      .map { case (x, i) => BigInt(i + 1) * x }.sum
    val exp = ((six * 2 - (n + 1) * sx) * 1000000 / (n * sx)).toLong
    assert(got === exp, s"got $got expected $exp")
  }

  test("readability: integer Flesch on a hand sentence") {
    import spark.implicits._
    // 5 words, 2 sentence runs, 5 single-vowel-group syllables:
    // 206835 - (1015*5)//2 - (84600*5)//5 = 119698
    val df = Seq((1L, "the cat sat. it ran!")).toDF("doc_id", "text")
    val got = graft.operators.TextStats.readability(df)
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(got === ((1L, 5L, 2L, 5L, 119698L)), got.toString)
  }

  test("churnHazard: last-observed-week churn over reverse-" +
      "cumulative at-risk") {
    import spark.implicits._
    import java.sql.Timestamp
    def d(s: String) = Timestamp.valueOf(s + " 10:00:00")
    // u1, u2 last seen in their cohort week (age 0); u3 survives one
    // week (age 1)
    val df = Seq((1L, d("2024-01-01")), (2L, d("2024-01-03")),
      (3L, d("2024-01-01")), (3L, d("2024-01-08")))
      .toDF("user_id", "ts")
    val got = graft.operators.EventOps.churnHazard(df, "user_id", "ts")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((0L, 2L, 3L, 666666L), (1L, 1L, 1L, 1000000L)),
      got.toString)
  }
}

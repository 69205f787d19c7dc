package graft

import graft.operators.Graph

class GraphSpec extends SparkTestBase {
  import spark.implicits._

  test("pageRankScaled: one hand-computed power step with a dangling node") {
    // 1→2, 1→3, 2→3; node 3 dangles (its mass drops, classic sparse form)
    // N=3, S=1e12, r0 = 333333333333 each, base = 15e12 div 300 = 5e10
    // r1(1) = base; r1(2) = base + 85·(r0 div 2) div 100
    // r1(3) = base + 85·(r0 div 2 + r0) div 100
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val got = Graph.pageRankScaled(e, "src", "dst", iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(
      1L -> 50000000000L,
      2L -> 191666666666L,
      3L -> 474999999999L))
  }

  test("personalizedPageRankScaled: teleport lands only on seeds; all-nodes seeding == plain PageRank") {
    // chain 1→2→3 with seed {1}: after one step only node 1 keeps the
    // teleport term, node 2 gets 85% of the full seed mass, node 3
    // nothing yet (r0(2) = 0)
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val seeds1 = Seq(1L).toDF("id")
    val got = Graph.personalizedPageRankScaled(e, "src", "dst", seeds1,
        iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // S=1e12, |seeds|=1: r1(1) = 15e12 div 100 = 150000000000
    // r1(2) = 85 * (1e12 div 1) div 100 = 850000000000; r1(3) = 0
    assert(got == Map(1L -> 150000000000L, 2L -> 850000000000L, 3L -> 0L))
    // seeding EVERY node degenerates to the uniform teleport — must
    // equal pageRankScaled exactly, iteration for iteration
    val e2 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val all = Seq(1L, 2L, 3L).toDF("id")
    val ppr = Graph.personalizedPageRankScaled(e2, "src", "dst", all,
        iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val pr = Graph.pageRankScaled(e2, "src", "dst", iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ppr == pr)
  }

  test("pageRankScaled: a symmetric cycle is a fixpoint of the iteration") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val got = Graph.pageRankScaled(e, "src", "dst", iters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.values.toSet == Set(333333333333L))
  }

  test("PageRank variants return materialized rows, not a lazy last round (iters = 5, cut interval 4)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val e = Seq((1L, 2L, 1L), (1L, 3L, 2L), (2L, 3L, 1L), (3L, 1L, 3L))
      .toDF("src", "dst", "w")
    val variants = Seq(
      "pageRankScaled" -> Graph.pageRankScaled(e, "src", "dst", iters = 5),
      "pageRankWeightedScaled" ->
        Graph.pageRankWeightedScaled(e, "src", "dst", "w", iters = 5),
      "personalizedPageRankScaled" -> Graph.personalizedPageRankScaled(
        e, "src", "dst", Seq(1L).toDF("id"), iters = 5))
    // a lazy fifth round would still carry its eo ⋈ rank join and its
    // sum, re-running them every time the result is used
    val lazyRounds = variants.collect {
      case (name, df) if df.queryExecution.analyzed.exists {
          case _: Join | _: Aggregate => true
          case _ => false
        } => name
    }
    assert(lazyRounds.isEmpty, s"lazy last round returned by: $lazyRounds")
    variants.foreach { case (name, df) => assert(df.count() == 3L, name) }
  }

  test("triangleCount: K4 has 4, C4 has 0, duplicates and loops ignored") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (2L, 1L), (3L, 3L)) // reversed duplicate + self-loop are noise
      .toDF("id_a", "id_b")
    assert(Graph.triangleCount(k4).first().getLong(0) == 4L)
    val c4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("id_a", "id_b")
    assert(Graph.triangleCount(c4).first().getLong(0) == 0L)
  }

  test("degreeDistribution: star graph = one hub + n leaves") {
    val star = (2L to 6L).map(i => (1L, i)).toDF("id_a", "id_b")
    val got = Graph.degreeDistribution(star)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(5L -> 1L, 1L -> 5L))
  }

  test("referentialAudit: orphan counts per relation, NULL keys are orphans") {
    import graft.pipeline.Validator
    val parent = Seq(1L, 2L).toDF("pid")
    val child = Seq(Some(1L), Some(1L), Some(9L), None).toDF("fk")
    val got = Validator.referentialAudit(Seq(
        ("child->parent", child, Seq("fk"), parent, Seq("pid")),
        ("parent->parent", parent, Seq("pid"), parent, Seq("pid"))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("child->parent" -> 2L, "parent->parent" -> 0L))
  }

  test("pageRankScaled: duplicate edges collapse before outdegree counting") {
    val dup = Seq((1L, 2L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val once = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val a = Graph.pageRankScaled(dup, "src", "dst", iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = Graph.pageRankScaled(once, "src", "dst", iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a == b)
  }

  test("majorityLabel: majority wins, ties break to the smaller label, unlabeled components vanish") {
    import graft.operators.Graph
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L),
      (20L, 20L)).toDF("id", "component")
    val labels = Seq((1L, "x"), (2L, "y"), (3L, "y"),   // comp 1: y wins 2-1
      (10L, "b"), (11L, "a"))                            // comp 10: 1-1 tie -> a
      .toDF("id", "label")                               // comp 20: unlabeled
    val got = Graph.majorityLabel(comp, labels)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1L, "y", 2L), (10L, "a", 1L)))
  }

  test("LineageCut reliable mode: BSP results identical, superseded snapshots deleted") {
    import graft.operators.{Dedup, Graph, LineageCut}
    val edges = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val seeds = Seq(0L).toDF("v")
    val localBfs = Graph.bfsDepth(edges, seeds, maxIter = 12)
      .as[(Long, Long)].collect().toMap
    val localPr = Graph.pageRankScaled(
        edges.toDF("src", "dst"), "src", "dst", iters = 3)
      .as[(Long, Long)].collect().toMap
    val localComp = Dedup.components(edges).as[(Long, Long)].collect().toMap

    // reliable mode without a checkpoint dir must fail with a clear
    // message, not a cryptic SparkException mid-loop
    spark.conf.set(LineageCut.ModeKey, "reliable")
    val ckDir = java.nio.file.Files.createTempDirectory("graft_bsp_ck")
    try {
      val noDir = intercept[IllegalArgumentException](
        Graph.bfsDepth(edges, seeds, maxIter = 2))
      assert(noDir.getMessage.contains("setCheckpointDir"))
      spark.sparkContext.setCheckpointDir(ckDir.toString)

      assert(Graph.bfsDepth(edges, seeds, maxIter = 12)
        .as[(Long, Long)].collect().toMap == localBfs)
      assert(Graph.pageRankScaled(edges.toDF("src", "dst"), "src", "dst",
        iters = 3).as[(Long, Long)].collect().toMap == localPr)
      assert(Dedup.components(edges).as[(Long, Long)].collect().toMap
        == localComp)

      // PeriodicCheckpointer discipline: superseded iterations'
      // snapshot dirs are deleted as the loops advance, so the dir
      // holds only the few LIVE cuts (finals + loop-invariant edge
      // tables), not one snapshot per iteration (12+3+... > 20)
      def rddDirs(p: java.nio.file.Path): Long = {
        val s = java.nio.file.Files.walk(p)
        try s.filter(q => q.getFileName.toString.startsWith("rdd-")).count()
        finally s.close()
      }
      assert(rddDirs(ckDir) <= 8,
        s"checkpoint dir holds ${rddDirs(ckDir)} snapshots — release " +
          "is not deleting superseded iterations")
    } finally {
      spark.conf.unset(LineageCut.ModeKey)
      org.apache.commons.io.FileUtils.deleteQuietly(ckDir.toFile)
    }
  }

  test("bfsDepth: chain distances, multi-source min, maxIter horizon") {
    import graft.operators.Graph
    // chain 1-2-3-4-5-6 plus seed 10 adjacent to 4
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 4L)).toDF("id_a", "id_b")
    val seeds = Seq(1L, 10L).toDF("v")
    val got = Graph.bfsDepth(edges, seeds, maxIter = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // from 1: 2@1, 3@2; from 10: 4@1, 3@2, 5@2 — node 6 is 3 hops out
    // and must be ABSENT at maxIter=2
    assert(got == Map(1L -> 0L, 10L -> 0L, 2L -> 1L, 4L -> 1L,
      3L -> 2L, 5L -> 2L))
  }

  test("kCore: cascading peel needs its round, fixed-round state before convergence") {
    import graft.operators.Graph
    // triangle {1,2,3} + pendant chain 3-4-5: the 2-core is the
    // triangle, but vertex 4 only drops AFTER 5 does (cascade)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    val r1 = Graph.kCore(edges, k = 2, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1 peels only 5 (degree 1); 4 survives with degree 1 left
    assert(r1 == Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 1L))
    val r2 = Graph.kCore(edges, k = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // converged: round 3 equals round 2
    val r3 = Graph.kCore(edges, k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3 == r2)
  }

  test("kTruss: K4 core survives, attached triangle and pendant peel; supports recompute on the subgraph") {
    import graft.operators.Graph
    // K4 {1,2,3,4} (every edge in 2 triangles) + triangle {4,5,6}
    // (each edge in 1 triangle) + pendant 6-7 (0 triangles)
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val edges = (k4 ++ Seq((4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L)))
      .toDF("id_a", "id_b")
    // 4-truss (support >= 2): only the K4 edges, each with support 2
    val got = Graph.kTruss(edges, k = 4, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == k4.map(_ -> 2L).toMap, s"got $got")
    // 3-truss (support >= 1): the attached triangle also survives; the
    // pendant edge peels; K4 supports stay 2, triangle supports 1
    val t3 = Graph.kTruss(edges, k = 3, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(t3 == (k4.map(_ -> 2L) ++
      Seq((4L, 5L) -> 1L, (4L, 6L) -> 1L, (5L, 6L) -> 1L)).toMap, s"got $t3")
  }

  test("kTruss: convergence short-circuit equals the fixed-round path") {
    import graft.operators.Graph
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val edges = (k4 ++ Seq((4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L)))
      .toDF("id_a", "id_b")
    def run(rounds: Int) = Graph.kTruss(edges, k = 4, rounds = rounds)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // rounds=1 never converges in-loop (round 1 drops the triangle +
    // pendant edges) -> the full-recompute finale runs; rounds=8
    // short-circuits at round 2 (nothing drops) and returns the cached
    // support frame — all round budgets must emit identical rows
    val r1 = run(1)
    assert(r1 == k4.map(_ -> 2L).toMap, s"got $r1")
    assert(run(2) == r1)
    assert(run(8) == r1)
  }

  test("pageRankWeightedScaled: uniform weights equal the unweighted rank exactly; heavy edges pull mass") {
    import graft.operators.Graph
    val es = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L))
    // floor(pr*w / (od*w)) == floor(pr/od) — uniform weights cancel
    // INSIDE the integer division, so equality is exact, not approximate
    val un = Graph.pageRankScaled(es.toDF("s", "d"), "s", "d", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val uw = Graph.pageRankWeightedScaled(
      es.map { case (a, b) => (a, b, 7L) }.toDF("s", "d", "w"),
      "s", "d", "w", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(uw === un)
    // skewed weights: 1 sends 9/10 of its mass to 2 -> node 2 must
    // outrank its uniform-split self and node 3 lose mass
    val sk = Graph.pageRankWeightedScaled(
      Seq((1L, 2L, 9L), (1L, 3L, 1L), (2L, 3L, 1L), (3L, 1L, 1L))
        .toDF("s", "d", "w"), "s", "d", "w", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sk(2L) > un(2L) && sk(3L) < un(3L), s"weights ignored: $sk vs $un")
    // invalid weights are a loud contract error
    val ex = intercept[IllegalArgumentException] {
      Graph.pageRankWeightedScaled(
        Seq((1L, 2L, 0L)).toDF("s", "d", "w"), "s", "d", "w", iters = 1)
    }
    assert(ex.getMessage.contains("positive"), ex.getMessage)
  }

  test("hitsScaled: matches the local integer recurrence; hub mass concentrates on the big out-fan") {
    import graft.operators.Graph
    // 1 points at 10,11,12; 2 points at 10; 3 points at 13 — node 1 is
    // the strongest hub, node 10 the strongest authority
    val es = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L), (3L, 13L))
    val got = Graph.hitsScaled(es.toDF("s", "d"), "s", "d", iters = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // independent driver-side replay of the exact integer recurrence
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    var hub = nodes.map(_ -> 1000000L / nodes.size).toMap
    var auth = Map.empty[Long, Long]
    for (_ <- 1 to 3) {
      val ar = es.groupBy(_._2).map { case (d, g) =>
        d -> g.map(e => hub(e._1)).sum }
      val at = math.max(ar.values.sum, 1L)
      auth = nodes.map(v => v -> ar.getOrElse(v, 0L) * 1000000L / at).toMap
      val hr = es.groupBy(_._1).map { case (s, g) =>
        s -> g.map(e => auth(e._2)).sum }
      val ht = math.max(hr.values.sum, 1L)
      hub = nodes.map(v => v -> hr.getOrElse(v, 0L) * 1000000L / ht).toMap
    }
    assert(got === nodes.map(v => v -> ((hub(v), auth(v)))).toMap)
    assert(got(1L)._1 > got(2L)._1 && got(2L)._1 >= got(3L)._1,
      s"hub order wrong: $got")
    assert(got(10L)._2 > got(11L)._2, s"auth order wrong: $got")
  }

  test("clusteringCoefficient: triangle + pendant hand graph; each triangle hits all three corners") {
    import spark.implicits._
    // K3 {1,2,3} with pendant 4 hanging off 1:
    //  v1: deg 3, 1 triangle -> 2*1e6/(3*2) = 333333
    //  v2, v3: deg 2, 1 triangle -> 1e6 (their neighborhood is a clique)
    //  v4: deg 1 -> 0 by convention (guarded division)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L))
      .toDF("id_a", "id_b")
    val got = Graph.clusteringCoefficient(edges)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got === Map(
      1L -> ((3L, 1L, 333333L)),
      2L -> ((2L, 1L, 1000000L)),
      3L -> ((2L, 1L, 1000000L)),
      4L -> ((1L, 0L, 0L))))
  }

  test("resourceAllocation: hand graph — shared-neighbor 1/deg weights, threshold prunes, no wedge -> no pair") {
    import spark.implicits._
    // path 1-3, 2-3 plus 3-4 (hub 3 has deg 3) and square 1-5, 2-5
    // (5 has deg 2):
    //  pair (1,2): shared z=3 (deg 3 -> 333333) and z=5 (deg 2 ->
    //    500000) -> ra = 833333, common 2
    //  pair (3,5): shared z=1, z=2 (deg 2 each) -> ra = 1000000
    //  pair (1,4)/(2,4): shared z=3 only -> ra = 333333, common 1
    //  pair (4,5): no shared neighbor -> no row at all
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 4L), (1L, 5L), (2L, 5L))
      .toDF("id_a", "id_b")
    val all = Graph.resourceAllocation(edges, thresholdPpm = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(all === Map(
      (1L, 2L) -> ((2L, 833333L)),
      (3L, 5L) -> ((2L, 1000000L)),
      (1L, 4L) -> ((1L, 333333L)),
      (2L, 4L) -> ((1L, 333333L))))
    // threshold prunes the weak pairs
    val strong = Graph.resourceAllocation(edges, thresholdPpm = 900000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strong === Set((3L, 5L)))
  }

  test("labelPropagation: two bridged triangles settle into their own communities; replay is deterministic") {
    // triangles {1,2,3} and {4,5,6} joined by bridge 3-4; hand-traced
    // 3 synchronous rounds (min-label ties) end at communities 1 and 3
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("id_a", "id_b")
    def run() = Graph.labelPropagation(edges, "id_a", "id_b", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = run()
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
    assert(got === run(), "synchronous sweep must replay identically")
  }

  test("communityQuality: hand conductance and modularity terms on the bridged triangles; degenerate one-community graph reads 0/0") {
    // triangles {1,2,3} / {4,5,6} + bridge 3-4: m = 7; each community
    // has n_nodes 3, vol 7 (degrees 2+2+3), e_in 3, cut 1 —
    // conductance = 1e6 div min(7, 14-7) = 142857; r = 7e6 div 14 =
    // 500000, r² div 1e6 = 250000, term = 3e6 div 7 - 250000 = 178571
    // (Σ terms = 357142 ≈ the true Q = 0.357)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("id_a", "id_b")
    val asg = Seq((1L, 100L), (2L, 100L), (3L, 100L),
      (4L, 200L), (5L, 200L), (6L, 200L)).toDF("id", "community")
    val r = Graph.communityQuality(edges, asg).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5), x.getLong(6))).toMap
    assert(r(100L) === ((3L, 7L, 3L, 1L, 142857L, 178571L)))
    assert(r(200L) === ((3L, 7L, 3L, 1L, 142857L, 178571L)))
    // the whole graph as ONE community: no cut, min-side volume 0 ->
    // conductance 0; e_in/m = 1 and (2m/2m)² = 1 -> modularity term 0
    val one = asg.select(asg("id"), (asg("community") * 0).as("community"))
    val g = Graph.communityQuality(edges, one).collect()
    assert(g.length === 1)
    assert((g(0).getLong(4), g(0).getLong(5)) === ((0L, 0L)))
    // Q roll-up: 2 communities, m reconstructed as Σe_in + Σcut/2 = 7,
    // Q = 2·178571 = 357142 (the true modularity is 0.357143)
    val q = Graph.modularity(edges, asg).head()
    assert((q.getLong(0), q.getLong(1), q.getLong(2)) ===
      ((2L, 7L, 357142L)))
  }

  test("labelPropagationWeighted: heavy edge outvotes two light ones; parallel edges coalesce; unit weights equal the unweighted sweep") {
    // node 10 has two unit edges into {1,2} (label mass 2 after round
    // 1? no — round 1 votes use INITIAL labels) — hand-trace round 1:
    // votes at 10: lbl 1 (w 1), lbl 2 (w 1), lbl 3 (w 5) -> adopts 3;
    // an unweighted sweep would tie {1,2,3} and adopt min = 1
    val e = Seq((1L, 10L, 1L), (2L, 10L, 1L), (3L, 10L, 5L))
      .toDF("id_a", "id_b", "w")
    val got = Graph.labelPropagationWeighted(e, "id_a", "id_b", "w",
      rounds = 1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(10L) === 3L, "the weight-5 edge must outvote two unit edges")
    val unw = Graph.labelPropagation(
      e.select("id_a", "id_b"), "id_a", "id_b", rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(unw(10L) === 1L, "the unweighted sweep ties to the min label")
    // parallel edges coalesce by SUM before round 1: two weight-2
    // copies of (1,10) beat one weight-3 edge (3,10)
    val par = Seq((1L, 10L, 2L), (1L, 10L, 2L), (3L, 10L, 3L))
      .toDF("id_a", "id_b", "w")
    val gotPar = Graph.labelPropagationWeighted(par, "id_a", "id_b", "w",
      rounds = 1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotPar(10L) === 1L, "coalesced weight 4 must beat weight 3")
    // unit weights on a simple graph == the unweighted sweep, every
    // vertex, every round
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("id_a", "id_b")
    val triW = tri.withColumn("w", org.apache.spark.sql.functions.lit(1L))
    val a = Graph.labelPropagation(tri, "id_a", "id_b", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Graph.labelPropagationWeighted(triW, "id_a", "id_b", "w",
      rounds = 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b, "unit weights must reproduce the unweighted sweep")
  }

  test("louvainRefine: one round strictly raises Q on a mis-assigned start; a local optimum is a fixed point; replay is deterministic") {
    // bridged triangles {1,2,3}/{4,5,6}, bridge 3-4; start with node 3
    // deliberately on the WRONG side. Hand ΔQ for node 3 (m=7, k=3):
    // own c=200: vol(200∖3) = 10-3 = 7, l(3,200)=1 -> s = 14-21 = -7;
    // c=100: vol=4, l(3,100)=2 -> s = 28-12 = 16 > -7 -> move. Every
    // other node's best is its own community, so ONE round lands the
    // optimal partition.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("id_a", "id_b")
    val bad = Seq((1L, 100L), (2L, 100L), (3L, 200L),
      (4L, 200L), (5L, 200L), (6L, 200L)).toDF("id", "community")
    def run() = Graph.louvainRefine(edges, bad, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = run()
    assert(got === Map(1L -> 100L, 2L -> 100L, 3L -> 100L,
      4L -> 200L, 5L -> 200L, 6L -> 200L))
    assert(got === run(), "synchronous sweep must replay identically")
    // measured gain: Q(bad) < Q(refined) — the report-card read
    val qBad = Graph.modularity(edges, bad).head().getLong(2)
    val refined = Seq((1L, 100L), (2L, 100L), (3L, 100L),
      (4L, 200L), (5L, 200L), (6L, 200L)).toDF("id", "community")
    val qGood = Graph.modularity(edges, refined).head().getLong(2)
    assert(qGood > qBad, s"one move must raise Q: $qBad -> $qGood")
    // the optimal partition is a FIXED POINT: no strictly improving
    // move exists, so further rounds change nothing
    val again = Graph.louvainRefine(edges, refined, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === Map(1L -> 100L, 2L -> 100L, 3L -> 100L,
      4L -> 200L, 5L -> 200L, 6L -> 200L),
      "a local optimum must not move under more rounds")
  }

  test("communityQuality: an isolated community (no incident edges) is absent by design; edge-touching communities unaffected") {
    // triangle {1,2,3} plus an assignment-only community {7,8} whose
    // members never appear in the edge list: the audit measures edge
    // structure, so the isolated community has no row (the documented
    // inner-join semantics) — and its absence does not perturb the
    // edge-backed community's numbers
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    val asg = Seq((1L, 100L), (2L, 100L), (3L, 100L),
      (7L, 900L), (8L, 900L)).toDF("id", "community")
    val rows = Graph.communityQuality(edges, asg).collect()
    assert(rows.map(_.getLong(0)).toSet === Set(100L),
      "isolated community 900 must be absent from the audit")
    val r = rows.head
    // one 3-cycle community holding the whole graph: vol 6 = 2m,
    // e_in 3 = m, cut 0 -> conductance 0 (min-side volume 0),
    // modularity term 1e6/1e6 - 1² = 0
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5), r.getLong(6)) === ((3L, 6L, 3L, 0L, 0L, 0L)))
    // modularity's roll-up likewise counts only the edge-backed
    // community — the assignment-side coverage audit is the caller's
    // left join, not this operator
    assert(Graph.modularity(edges, asg).head().getLong(0) === 1L)
  }
}

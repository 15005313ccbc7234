package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of ext/Cluster.connectedComponents the value-level oracle
  * can't see: convergence on hand-built graph shapes, singleton
  * handling, and the transitive-closure semantics (a chain clusters
  * end-to-end even though its endpoints never share a pair). */
class ClusterSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 4, appName = "graft-cluster")

  import org.apache.spark.sql.DataFrame
  private val algos: Map[String, (DataFrame, DataFrame) => DataFrame] = Map(
    "minlabel" -> (graft.ext.Cluster.connectedComponents(_, _)),
    "logrounds" -> (graft.ext.Cluster.connectedComponentsLogRounds(_, _)))

  private def components(algo: String, nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val n = nodes.toDF("id")
    val e = edges.toDF("src", "dst")
    algos(algo)(n, e).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  for (algo <- algos.keys.toSeq.sorted) {
    test(s"[$algo] chain clusters transitively to the min endpoint; disjoint parts stay apart") {
      // 1-2-3-4 is a path (no direct 1-4 pair), {10,11} a separate pair,
      // 99 isolated. Labels must flow the full chain length.
      val comp = components(algo,
        nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 99L),
        edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)))
      assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L, 99L -> 99L))
    }

    test(s"[$algo] edge orientation and duplicates don't change the result") {
      val a = components(algo, Seq(5L, 6L, 7L), Seq((7L, 5L), (6L, 7L)))
      val b = components(algo, Seq(5L, 6L, 7L), Seq((5L, 7L), (7L, 6L), (6L, 7L), (7L, 5L)))
      assert(a == b && a.values.toSet == Set(5L))
    }

    test(s"[$algo] star graph elects the hub-independent min") {
      // hub 50 with spokes 1..20: min is a SPOKE, so labels must cross
      // the hub — catches any implementation that only pushes labels
      // one direction.
      val spokes = (1L to 20L)
      val comp = components(algo, 50L +: spokes, spokes.map(sp => (50L, sp)))
      assert(comp.values.toSet == Set(1L))
    }
  }

  test("both algorithms agree on a seeded pseudo-random multigraph") {
    // 200 nodes, 150 deterministic edges incl. self-candidates and
    // repeated pairs — no structure to hide behind
    val nodes = (0L until 200L)
    val edges = (0 until 150).map { i =>
      val a = (i * i * 31 + 7) % 200; val b = (a * 17 + i) % 200
      (a.toLong, b.toLong)
    }.filter { case (a, b) => a != b }
    assert(components("minlabel", nodes, edges) == components("logrounds", nodes, edges))
  }

  test("property: the algorithms agree on 25 seeded random graphs across the density range") {
    // graphs from edgeless through near-complete (m ~ n^2/4), the
    // in-between densities where partially-merged star shapes are most
    // likely to expose a bad fixpoint; plus a self-consistency check
    // that every returned label is a member of its own component
    val rnd = new scala.util.Random(1717)
    for (trial <- 1 to 25) {
      val n = 2 + rnd.nextInt(60)
      val m = rnd.nextInt(1 + n * n / 4)
      val nodes = (0L until n.toLong)
      val edges = (0 until m).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }
      val ml = components("minlabel", nodes, edges)
      val lr = components("logrounds", nodes, edges)
      assert(ml == lr, s"trial $trial (n=$n m=${edges.size}): algorithms diverge")
      // label validity: comp(id) <= id and comp(comp(id)) == comp(id)
      ml.foreach { case (id, c) =>
        assert(c <= id && ml(c) == c, s"trial $trial: invalid label $id -> $c")
      }
    }
  }

  test("long chain: star alternation is diameter-independent, propagation is not") {
    import spark.implicits._
    val n = 300
    val nodes = (1L to n.toLong).toDF("id")
    val edges = (1L until n.toLong).map(i => (i, i + 1)).toDF("src", "dst")
    val (comp, rounds) = graft.ext.Cluster.ccLogRoundsWithRounds(nodes, edges)
    assert(comp.agg(max("comp")).collect()(0).getLong(0) == 1L, "one component rooted at 1")
    assert(rounds <= 15, s"log-round bound: took $rounds rounds for a 300-chain")
    // the same graph exhausts min-label propagation capped below the
    // diameter — the documented limitation the sibling exists for
    val ex = intercept[IllegalArgumentException] {
      graft.ext.Cluster.connectedComponents(nodes, edges, maxRounds = 20)
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  /** Run [[graft.ext.Cluster.assignIncremental]] over (nodes, edges)
    * split by `isOld`: old subgraph batch-assigned first, the rest
    * arrives as the delta. Returns id -> (comp, is_new). */
  private def incremental(nodes: Seq[Long], edges: Seq[(Long, Long)],
      isOld: Long => Boolean): Map[Long, (Long, Boolean)] = {
    import spark.implicits._
    val oldAsg = graft.ext.Cluster.connectedComponents(
      nodes.filter(isOld).toDF("id"),
      edges.filter(e => isOld(e._1) && isOld(e._2)).toDF("src", "dst"))
    val asg = graft.ext.Cluster.assignIncremental(oldAsg,
      nodes.filterNot(isOld).toDF("id"),
      edges.filterNot(e => isOld(e._1) && isOld(e._2)).toDF("src", "dst"))
    asg.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
  }

  test("minlabel: a label-sum overflow fails loudly instead of reading as convergence") {
    // With ANSI off, a decimal(38,0) sum that overflows is NULL. Three
    // ids near 4e37 overflow it every round; read as "sum unchanged",
    // the chain a-b-c would stop after one round with c labelled b.
    val s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "false")
    import s.implicits._
    val ids = Seq(0, 1, 2).map(i => (BigInt(4) * BigInt(10).pow(37) + i).toString)
    def dec(c: String) = col(c).cast("decimal(38,0)").as(c)
    val nodes = ids.toDF("id").select(dec("id"))
    val edges = Seq((ids(0), ids(1)), (ids(1), ids(2))).toDF("src", "dst")
      .select(dec("src"), dec("dst"))
    val e = intercept[ArithmeticException](
      graft.ext.Cluster.connectedComponents(nodes, edges).collect())
    assert(e.getMessage.contains("overflowed"), e.getMessage)
  }

  test("incremental: old root survives a smaller-id new joiner (stability law)") {
    // old cluster {10, 11} rooted at 10; new doc 3 bridges into it.
    // Batch-mode would relabel the cluster 3; the incremental contract
    // keeps the persisted root 10 — the LWW discipline under growth.
    val asg = incremental(Seq(3L, 10L, 11L), Seq((10L, 11L), (3L, 11L)), _ >= 10L)
    assert(asg == Map(10L -> (10L, false), 11L -> (10L, false), 3L -> (10L, true)))
  }

  test("incremental: new bridge merging two old clusters resolves to the smaller old root") {
    // old clusters {20,21} and {30,31}; new doc 40 bridges them. Also:
    // an untouched old cluster {50,51} must pass through unchanged, and
    // an isolated new doc 60 becomes its own singleton.
    val asg = incremental(
      nodes = Seq(20L, 21L, 30L, 31L, 40L, 50L, 51L, 60L),
      edges = Seq((20L, 21L), (30L, 31L), (40L, 21L), (40L, 31L), (50L, 51L)),
      isOld = id => id != 40L && id != 60L)
    assert(asg(20L) == ((20L, false)) && asg(21L) == ((20L, false)))
    assert(asg(30L) == ((20L, false)) && asg(31L) == ((20L, false)),
      "losing old root's members relabeled to the winning (smaller) old root")
    assert(asg(40L) == ((20L, true)))
    assert(asg(50L) == ((50L, false)) && asg(51L) == ((50L, false)), "untouched cluster stable")
    assert(asg(60L) == ((60L, true)), "isolated new doc is a singleton keeper")
  }

  test("property: incremental == batch partition with stable ids on 15 seeded random graphs") {
    // invariance law: applying the delta incrementally produces the SAME
    // partition as one batch run over the union; ids differ only by the
    // stability rule — a cluster's id is the min OLD-subgraph root it
    // contains, else its min (new) id. Old membership is id%3!=0, so
    // plenty of new ids are smaller than old roots and the priority
    // encoding is genuinely exercised.
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 15) {
      val n = 2 + rnd.nextInt(50)
      val m = rnd.nextInt(1 + n * n / 6)
      val nodes = (0L until n.toLong)
      val edges = (0 until m).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }
      val isOld = (id: Long) => id % 3 != 0
      val inc = incremental(nodes, edges, isOld)
      val batch = components("minlabel", nodes, edges)
      // same partition: grouping by label yields identical member sets
      val incParts = inc.toSeq.groupBy(_._2._1).values.map(_.map(_._1).toSet).toSet
      val batchParts = batch.toSeq.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
      assert(incParts == batchParts, s"trial $trial (n=$n m=${edges.size}): partitions diverge")
      // stable-id law per cluster
      val oldEdges = edges.filter(e => isOld(e._1) && isOld(e._2))
      val oldComp = components("minlabel", nodes.filter(isOld), oldEdges)
      incParts.foreach { members =>
        val label = inc(members.head)._1
        val oldRoots = members.filter(isOld).map(oldComp)
        val expected = if (oldRoots.nonEmpty) oldRoots.min else members.min
        assert(label == expected, s"trial $trial: cluster $members labeled $label, want $expected")
      }
      // is_new mirrors the split
      inc.foreach { case (id, (_, isN)) => assert(isN == !isOld(id)) }
    }
  }

  test("incremental pair generation composes: delta == full pair set minus old-old") {
    // the probe-join delta generator must produce EXACTLY the pairs a
    // full self-join would attribute to the new docs — no candidate
    // lost to the probe restriction, none fabricated by the two-sided
    // band orientation (both-new collisions arrive twice pre-distinct)
    import org.apache.spark.sql.functions.{lit, pmod}
    val sf = "/root/testdata/sf0.001"
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val full = graft.ext.Dedup.minhashPairs(spark, sf).collect().map(key).toSet
    val delta = graft.ext.Dedup.minhashPairsDelta(spark, sf,
      c => pmod(c, lit(10)) >= 7).collect().map(key).toSet
    val oldOld = full.filter { case (a, b, _) => a % 10 < 7 && b % 10 < 7 }
    assert(delta == (full -- oldOld), "delta pairs must be full minus old-old")
    assert(delta.exists { case (a, b, _) => a % 10 >= 7 && b % 10 >= 7 },
      "fixture must exercise both-new collisions (the double-orientation case)")
  }

  for (entry <- Seq("dedup_clusters", "dedup_clusters_logrounds"))
  test(s"$entry: keeper per cluster, sizes sum to corpus, pair endpoints co-clustered") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries(entry)(spark, sf)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val total = Tables.documents(spark, sf).count()
    assert(rows.length == total, "every document is assigned a cluster")
    // exactly one keeper per cluster, and it is the cluster min
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      assert(members.count(_._4) == 1, s"cluster $cid keeper count")
      assert(members.filter(_._4).head._1 == cid, s"cluster $cid keeper is the min id")
      assert(members.forall(_._3 == members.length), s"cluster $cid size column")
    }
    // every near-dup pair's endpoints share a cluster id
    val cid = rows.map(r => r._1 -> r._2).toMap
    val pairs = graft.ext.Dedup.minhashPairs(spark, sf)
      .select("a_id", "b_id").collect()
    pairs.foreach { p =>
      assert(cid(p.getLong(0)) == cid(p.getLong(1)),
        s"pair ${p.getLong(0)},${p.getLong(1)} split across clusters")
    }
  }
}

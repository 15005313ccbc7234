package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the embedding family the DuckDB gate can't express:
  * full Lloyd's iteration (the registered sim_kmeans_assign is ONE
  * step), the int8 quantization fidelity bound, and the SemDeDup
  * keep-set laws.
  */
class EmbeddingsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 4, appName = "graft-test")
  val sf = "/root/testdata/sf0.001"

  import graft.ext.Embeddings

  /** Full Lloyd's iteration: k cells seeded from the current `label`
    * column, then `rounds` update+assign passes of the registered
    * step ([[Embeddings.centroids]], [[Embeddings.assign]]). Each
    * round's assignment is localCheckpointed, so the lineage does not
    * double per round. */
  private def kmeans(vecs: DataFrame, rounds: Int): DataFrame = {
    var cur = vecs.select("vec_id", "label", "embedding").localCheckpoint(true)
    for (_ <- 1 to rounds)
      cur = Embeddings.assign(cur, Embeddings.centroids(cur))
        .select(col("vec_id"), col("assigned").as("label"))
        .join(vecs.select("vec_id", "embedding"), "vec_id")
        .select("vec_id", "label", "embedding")
        .localCheckpoint(true)
    cur.select("vec_id", "label")
  }

  /** Three well-separated synthetic clusters at offsets 0 / 100 / 200
    * in every dimension, deliberately MIS-labeled round-robin so the
    * seed partition is maximally wrong. */
  private def separable(n: Int): DataFrame = {
    import spark.implicits._
    spark.range(n.toLong).select(
      $"id".as("vec_id"),
      ($"id" % 3).cast("int").as("label"), // wrong on purpose
      expr("transform(sequence(1, 8), i -> CAST((id % 4) / 10.0 + (CASE WHEN id < 10 THEN 0 WHEN id < 20 THEN 100 ELSE 200 END) AS FLOAT))")
        .as("embedding"))
  }

  test("Lloyd's iteration recovers separable clusters from an adversarial seed") {
    val got = kmeans(separable(30), rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // every vector in the same true cluster must share a cell, and the
    // three true clusters must land in three DISTINCT cells
    val cells = Seq(0 until 10, 10 until 20, 20 until 30)
      .map(g => g.map(i => got(i.toLong)).toSet)
    cells.foreach(c => assert(c.size == 1, s"cluster split across cells: $cells"))
    assert(cells.flatten.toSet.size == 3, s"clusters merged: $cells")
  }

  test("Lloyd's iteration is a fixpoint once assignments stop moving") {
    val v = separable(30)
    val a4 = kmeans(v, rounds = 4).collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val a5 = kmeans(v, rounds = 5).collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(a4 == a5, "converged assignment must not move on an extra round")
  }

  test("kmeans assign step is deterministic across runs (exact quantized centroids)") {
    val e = Tables.embeddings(spark, sf)
    def run() = Embeddings.assign(e, Embeddings.centroids(e))
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getDouble(3))).toSeq.sorted
    assert(run() == run())
  }

  test("int8 quantization: cosine error bounded, codes within [-127, 127]") {
    val rows = SparkEntry.queries("sim_quantize_int8")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val err = r.getDouble(r.fieldIndex("cos_err"))
      assert(err <= 0.02, s"vec ${r.getLong(0)}: int8 cosine error $err > 0.02")
      Seq("q_first", "q_last").foreach { c =>
        val q = r.getInt(r.fieldIndex(c))
        assert(q >= -127 && q <= 127, s"vec ${r.getLong(0)}: $c=$q outside int8 range")
      }
    }
  }

  test("SemDeDup laws: representatives are never dups; dup_of is a lower-id same-cell keeper") {
    val rows = SparkEntry.queries("dedup_semantic")(spark, sf).collect()
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    val dups = rows.filter(_.getBoolean(4))
    dups.foreach { r =>
      val dupOf = r.getLong(3)
      assert(dupOf < r.getLong(0), "dup_of must be a lower id")
      assert(byId(dupOf).getInt(1) == r.getInt(1), "dup_of must share the cell")
    }
    // keep-first rule: the lowest id of any cell can never be a dup
    rows.groupBy(_.getInt(1)).foreach { case (_, cell) =>
      val first = cell.minBy(_.getLong(0))
      assert(!first.getBoolean(4), s"cell minimum ${first.getLong(0)} marked dup")
    }
    assert(dups.nonEmpty, "fitted tau must mark at least one dup at sf0.001")
  }

  test("persisted IVF assignments: bucket-pruned read of a probed cell equals the filtered snapshot, reading fewer rows") {
    // The COVERAGE claim behind the cell_key bucketing: a deployment
    // probe opens only the probed cells' buckets. Prove the pruned
    // path returns exactly the snapshot's rows for that cell while
    // physically reading a strict subset of the table.
    import graft.etl.MergeWriter
    import graft.ext.Embeddings
    import spark.implicits._
    val (_, adir) = Embeddings.materializeIndex(spark, sf)
    val full = MergeWriter.readSnapshot(spark, adir, Embeddings.idxAsgSchema)
    val key = "c3"
    val expect = full.filter($"cell_key" === key)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(expect.nonEmpty, "cell c3 must be populated at sf0.001")
    val bid = MergeWriter.bucketIdOf(key, Embeddings.IdxAsgBuckets)
    val prunedScan = MergeWriter.readBuckets(spark, adir,
      Embeddings.idxAsgSchema, Set(bid))
    val got = prunedScan.filter($"cell_key" === key)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(got == expect, "bucket-pruned read lost or invented rows")
    // the prune is real: the one-bucket scan reads fewer rows than the
    // table (both counts are physical-row counts of what was opened)
    assert(prunedScan.count() < full.count(),
      "one-bucket read opened the whole table — pruning is not happening")
  }

  test("recall audit laws: scores the registered probe, honest approximation, exact floor") {
    import graft.ext.Embeddings
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val audit = Embeddings.defs("sim_ivf_recall_audit").build(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).sortBy(_._1)
    assert(audit.length == 20, "one row per query point")
    for ((q, nTruth, nHit, recall, ok) <- audit) {
      assert(nTruth == 3 && nHit >= 0 && nHit <= 3, s"bounds broken at q=$q")
      assert(recall == math.round(nHit.toDouble / 3 * 10000) / 10000.0)
      assert(ok == (3 * nHit >= nTruth), s"recall_ok law broken at q=$q")
    }
    // honest approximation on this structure-free corpus: recall is
    // strictly between 0 and 1 in the mean — an audit that reports
    // perfect recall here would be measuring the wrong thing
    val mean = audit.map(_._4).sum / audit.length
    assert(mean > 0.0 && mean < 1.0, s"suspicious mean recall $mean")
    // n_hit is the intersection with the REGISTERED probe's results:
    // recompute one query's hits from the probe entry output
    val q0 = audit.head._1
    val probeIds = Embeddings.defs("sim_ivf_persisted_probe").build(spark, sf)
      .filter($"q_id" === q0).select($"n_id").as[Long].collect().toSet
    val e = Tables.embeddings(spark, sf)
    val qv = e.filter($"vec_id" === q0).select($"embedding".as("qv"))
    val truthIds = e.filter($"vec_id" =!= q0).crossJoin(broadcast(qv))
      .select($"vec_id", round(expr("cosine_sim(embedding, qv)"), 4).as("cos"))
      .orderBy($"cos".desc, $"vec_id".asc).limit(3)
      .select($"vec_id").as[Long].collect().toSet
    assert(audit.head._3 == (probeIds intersect truthIds).size.toLong,
      s"audit n_hit for q=$q0 diverges from probe∩truth")
  }

  test("recall control experiment: planted structure gives exact cluster recovery and perfect nprobe=1 recall") {
    import graft.ext.Embeddings
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val pl = Tables.embeddings(spark, sf).select($"vec_id")
      .withColumn("label", pmod($"vec_id", lit(8)).cast("int"))
      .withColumn("embedding", expr(Embeddings.plantedE))
    // law 1: the corpus is SEPARATED — every same-cluster cosine sits
    // strictly above every cross-cluster cosine (checked on the 20
    // query points vs the whole corpus, the surface the entry gates)
    val q = pl.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"label".as("q_lab"), $"embedding".as("qv"))
    val pairs = pl.join(broadcast(q), $"q_id" =!= $"vec_id")
      .select(($"label" === $"q_lab").as("same"),
        expr("cosine_sim(qv, embedding)").as("cos"))
      .groupBy($"same").agg(min($"cos").as("lo"), max($"cos").as("hi"))
      .collect().map(r => r.getBoolean(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(pairs(true)._1 > pairs(false)._2,
      s"planted clusters not separated: same ${pairs(true)}, cross ${pairs(false)}")
    // law 2: the quantizer recovers the plant exactly — every vector's
    // assigned cell IS its true cluster (cells ≡ cosine neighborhoods,
    // the property that licenses the perfect-recall gate)
    val mis = Embeddings.assign(pl, Embeddings.centroids(pl))
      .filter($"assigned" =!= $"label").count()
    assert(mis == 0, s"$mis vectors assigned outside their planted cluster")
    // law 3: the registered entry reports recall exactly 1.0 per query
    val rows = SparkEntry.queries("sim_ivf_recall_structured")(spark, sf).collect()
    assert(rows.length == 20, "one row per query point")
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_truth")) == 3)
      assert(r.getDouble(r.fieldIndex("recall")) == 1.0,
        s"q=${r.getLong(0)}: recall ${r.getDouble(r.fieldIndex("recall"))} != 1.0")
      assert(r.getBoolean(r.fieldIndex("recall_ok")))
    }
  }
}

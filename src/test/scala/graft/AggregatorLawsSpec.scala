package graft

import graft.functions.{SimHash60, TopK}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.types.LongType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Distributed-merge laws for the custom aggregators (SURVEY §2.6).
  *
  * On a real cluster the number of partial-aggregate buffers, the rows
  * each one sees, and the order partials merge in are all runtime
  * accidents — AQE, speculative tasks, and skew decide them, and they
  * differ run to run. The oracle queries pin the answers at ONE such
  * accident (local[32], fixed data); these properties pin the law the
  * answers rely on: any partitioning of the input and any merge order
  * must produce the exact serial result. This is the invariant that
  * makes a 1000-executor plan deterministic, checked here at the buffer
  * level (model conformance over randomized splits, including the
  * serialize/deserialize hop Spark inserts between map and reduce
  * sides) and at the plan level (repartition-count invariance).
  */
class AggregatorLawsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 4, appName = "graft-agg-laws")

  // ---- deterministic scalacheck sampling (no forAll runner dependency)
  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  /** Split xs into 1..maxParts random contiguous chunks (some possibly
    * empty — a task can see zero rows for a group) and return the
    * chunks in a shuffled order, so folding them exercises merge
    * commutativity as well as associativity. */
  private def randomSplit[A](xs: Seq[A], rnd: Random, maxParts: Int): Seq[Seq[A]] = {
    val parts = 1 + rnd.nextInt(maxParts)
    val cuts = (Seq.fill(parts - 1)(rnd.nextInt(xs.size + 1)).sorted :+ xs.size)
      .prepended(0)
    val chunks = cuts.sliding(2).map { case Seq(a, b) => xs.slice(a, b) }.toSeq
    rnd.shuffle(chunks)
  }

  // ---- TopK: the documented total order, restated independently here
  private def before(a: TopK.Entry, b: TopK.Entry): Boolean =
    a._1 > b._1 || (a._1 == b._1 && (a._2 < b._2 || (a._2 == b._2 && a._3 < b._3)))
  private val entryOrd: Ordering[TopK.Entry] = new Ordering[TopK.Entry] {
    def compare(a: TopK.Entry, b: TopK.Entry): Int =
      if (before(a, b)) -1 else if (before(b, a)) 1 else 0
  }
  /** Serial ground truth: full sort, take k. */
  private def modelTopK(k: Int, rows: Seq[TopK.Entry]): Seq[TopK.Entry] =
    rows.sorted(entryOrd).take(k)

  // values from a small grid (halves of -5..5, never -0.0) so ties on
  // value — the case the id tie-break exists for — occur constantly
  private val entryGen: Gen[TopK.Entry] = for {
    v  <- Gen.chooseNum(-5, 5).map(_ / 2.0)
    i1 <- Gen.chooseNum(0L, 6L)
    i2 <- Gen.chooseNum(0, 3)
  } yield (v, i1, i2)

  test("TopK: any partitioning + any merge order equals the serial sort-take-k") {
    for (seed <- 1 to 60) {
      val rnd = new Random(seed)
      val k = 1 + rnd.nextInt(8)
      val n = rnd.nextInt(40)
      val rows = (1 to n).map(i => sample(entryGen, seed * 1000L + i))
      val agg = TopK.topK(k)
      val partials = randomSplit(rows, rnd, maxParts = 9)
        .map(_.foldLeft(agg.zero)(agg.reduce))
      val merged = partials.foldLeft(agg.zero)(agg.merge)
      assert(agg.finish(merged) == modelTopK(k, rows),
        s"seed=$seed k=$k n=$n: merged buffer diverged from serial ground truth")
      assert(merged.size <= k, s"seed=$seed: buffer exceeded its k bound")
    }
  }

  test("TopK: zero is a merge identity and buffers stay sorted") {
    val agg = TopK.topK(5)
    for (seed <- 1 to 20) {
      val rows = (1 to 15).map(i => sample(entryGen, seed * 77L + i))
      val buf = rows.foldLeft(agg.zero)(agg.reduce)
      assert(agg.merge(buf, agg.zero) == buf)
      assert(agg.merge(agg.zero, buf) == buf)
      assert(buf == buf.sorted(entryOrd), "partial buffer must stay in output order")
    }
  }

  test("TopK: plan-level repartition-count invariance") {
    import spark.implicits._
    val rnd = new Random(42)
    val rows = (1 to 500).map(_ =>
      (rnd.nextInt(11) / 2.0 - 2.5, rnd.nextInt(7).toLong, rnd.nextInt(4)))
    val expected = modelTopK(7, rows)
    for (parts <- Seq(1, 3, 17)) {
      val got = spark.createDataset(rows).repartition(parts)
        .select(TopK.topK(7).toColumn).head()
      assert(got == expected,
        s"top-k changed with partition count $parts — merge is order-sensitive")
    }
  }

  // ---- SimHash60 at the TypedImperativeAggregate buffer level
  private val hashGen: Gen[Option[Long]] = Gen.frequency(
    9 -> Gen.chooseNum(0L, (1L << 60) - 1).map(Some(_)),
    1 -> Gen.const(None)) // null token hashes must be skipped, not counted

  /** Serial ground truth straight from the Charikar definition. */
  private def modelSimhash(hs: Seq[Long]): Long = {
    val c = new Array[Int](60)
    hs.foreach { h =>
      (0 until 60).foreach(b => c(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1))
    }
    (0 until 60).foldLeft(0L)((r, b) => if (c(b) > 0) r | (1L << b) else r)
  }

  test("simhash60: any split + serialize/deserialize hop + any merge order equals the serial definition") {
    val agg = SimHash60(BoundReference(0, LongType, nullable = true))
    for (seed <- 1 to 60) {
      val rnd = new Random(seed)
      val n = rnd.nextInt(50)
      val inputs = (1 to n).map(i => sample(hashGen, seed * 5000L + i))
      val partials = randomSplit(inputs, rnd, maxParts = 9).map { chunk =>
        chunk.foldLeft(agg.createAggregationBuffer()) { (buf, h) =>
          agg.update(buf, InternalRow(h.map(Long.box).orNull))
        }
      // the wire hop every cluster shuffle applies to partial buffers
      }.map(p => agg.deserialize(agg.serialize(p)))
      val merged = partials.reduceLeft(agg.merge)
      assert(agg.eval(merged) == modelSimhash(inputs.flatten),
        s"seed=$seed n=$n: merged simhash diverged from serial definition")
    }
  }

  test("simhash60: plan-level repartition-count invariance per group") {
    import spark.implicits._
    SimHash60.registerTwin(spark)
    import org.apache.spark.sql.functions._
    val rnd = new Random(7)
    val rows = (1 to 2000).map(_ => (rnd.nextInt(20).toLong, rnd.nextLong() >>> 4))
    val expected = rows.groupBy(_._1).view
      .mapValues(g => modelSimhash(g.map(_._2))).toMap
    for (parts <- Seq(1, 3, 17)) {
      val got = rows.toDF("doc_id", "h").repartition(parts)
        .groupBy($"doc_id").agg(expr("simhash60(h)").as("s"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected,
        s"simhash changed with partition count $parts — merge is order-sensitive")
    }
  }
}

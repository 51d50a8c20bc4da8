package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.vector.VectorOps

class VectorSpec extends SparkSuite {

  private val schema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private def vecs = {
    val rows = Seq(
      Row(0L, Seq(1f, 0f, 0f), 0),
      Row(1L, Seq(0.9f, 0.1f, 0f), 0),
      Row(2L, Seq(0f, 1f, 0f), 1),
      Row(3L, Seq(0f, 0.95f, 0.05f), 1),
      Row(4L, Seq(-1f, 0f, 0f), 2))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r =>
        Row(r.get(0), r.getSeq[Float](1), r.get(2)))), schema)
  }

  test("cosine: self-similarity is 1, orthogonal is 0, opposite is -1") {
    val d = vecs
    val out = d.as("a").crossJoin(d.as("b"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        VectorOps.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(out((0L, 0L)) - 1.0) < 1e-12)
    assert(math.abs(out((0L, 2L))) < 1e-12)
    assert(math.abs(out((0L, 4L)) + 1.0) < 1e-12)
  }

  test("knnBruteForce returns k ranked neighbors per query, no self-pairs") {
    val out = VectorOps.knnBruteForce(vecs.filter(col("vec_id") < 2), vecs, 2)
      .collect()
    assert(out.length == 4)
    assert(out.forall(r => r.getLong(0) != r.getLong(1)))
    // nearest neighbor of v0=(1,0,0) is v1=(.9,.1,0)
    assert(out.filter(r => r.getLong(0) == 0L && r.getInt(3) == 1)
      .head.getLong(1) == 1L)
  }

  test("LshSignature expression == HOF twin, including null-element vectors") {
    // The optimizer rewrite (q74) plants the native expression where the
    // HOF form appears elsewhere — they must agree bit for bit, and a null
    // element must produce the HOF's all-zeros signature, not a silent
    // 0.0-element read.
    val s = spark
    val withNull = StructType(Seq(
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    val rows = Seq(
      Row(Seq[java.lang.Float](1f, 0.5f, -2f)),
      Row(Seq[java.lang.Float](0.3f, null, 1f)),
      Row(Seq[java.lang.Float](-0.1f, 2f, 0f)))
    graft.functions.GraftFunctions.register(s)
    val df = s.createDataFrame(s.sparkContext.parallelize(rows), withNull)
    val both = df.select(
        Oracles.lshSignature(col("embedding"), 8).as("hof"),
        call_function("lsh_signature", col("embedding"), lit(8)).as("expr"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    both.foreach { case (h, e) => assert(h == e, s"HOF $h != expr $e") }
    assert(both(1)._1 == "00000000") // null element -> all-zeros signature
  }

  test("lshNeighborPairs is a subset of exact cosinePairs at same threshold") {
    val exact = VectorOps.cosinePairs(vecs, 0.5, VectorOps.cosine)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = VectorOps.lshNeighborPairs(vecs, 4, 0.5)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
  }

  test("int8 quantization: scale-invariant codes, unit self-similarity, top-1 preserved") {
    val d = vecs
    // per-vector scale cancels: v and 2·v quantize to the SAME codes
    val codes = d.select(col("vec_id"),
        VectorOps.quantizeInt8(col("embedding")).as("c1"),
        VectorOps.quantizeInt8(transform(col("embedding"),
          x => x * lit(2.0f))).as("c2"))
      .collect()
    codes.foreach(r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"row $r"))
    // self-similarity is 1 up to the sqrt(d)·sqrt(d) rounding of the norm
    // product (the dot itself is exact integer arithmetic)
    val self = d.select(VectorOps.cosineInt8(
        VectorOps.quantizeInt8(col("embedding")),
        VectorOps.quantizeInt8(col("embedding"))).as("c"))
      .collect().map(_.getDouble(0))
    self.foreach(c => assert(math.abs(c - 1.0) < 1e-12))
    // the nearest neighbor survives quantization on well-separated vectors
    val floatTop = VectorOps.knnBruteForce(d, d, 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val int8Top = VectorOps.knnBruteForceInt8(d, d, 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(floatTop == int8Top)
  }

  test("banded LSH: single-band ⊆ banded ⊆ exact, with no duplicate pairs") {
    // agreement on ALL nPlanes bits implies agreement on every band, so the
    // banded candidate set can only grow recall — never lose a pair
    val exact = VectorOps.cosinePairs(vecs, 0.5, VectorOps.cosine)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = VectorOps.lshNeighborPairs(vecs, 4, 0.5)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bandedRows = VectorOps.lshNeighborPairsBanded(vecs, 4, 2, 0.5, Oracles.lshSignature)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1)))
    val banded = bandedRows.toSet
    assert(bandedRows.length == banded.size) // multi-band agreement dedup'd
    assert(single.subsetOf(banded))
    assert(banded.subsetOf(exact))
  }

  test("centroids: mean of each cell, dimension order preserved") {
    val c = VectorOps.centroids(vecs, "label")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    // inputs are float32 — 0.9f widens to 0.8999999761…, so tolerance is 1e-6
    assert(c(0).zip(Seq(0.95, 0.05, 0.0)).forall { case (a, b) => math.abs(a - b) < 1e-6 })
    assert(c(2) == Seq(-1.0, 0.0, 0.0))
  }

  test("mllibLshPairs finds the close pairs a generous radius implies") {
    // radius large enough that LSH recall is 1.0 on this tiny fixture
    val pairs = VectorOps.mllibLshPairs(vecs, bucketLength = 4.0,
        numTables = 4, maxL2 = 0.2)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // (1,0,0) vs (.9,.1,0): l2 ≈ 0.141
    assert(pairs.contains((2L, 3L)))
    assert(!pairs.contains((0L, 4L))) // opposite vectors are far
  }

  test("ivfKnn probes only the nearest cell") {
    val cents = VectorOps.centroids(vecs, "label")
    val out = VectorOps.ivfKnn(vecs.filter(col("vec_id") === 0), vecs, cents, "label", 3)
      .collect()
    // query v0 lands in cell 0; only neighbor there is v1
    assert(out.length == 1)
    assert(out.head.getLong(2) == 1L)
  }

  test("kmeansAssign separates two tight clusters and is reproducible") {
    val rows = Seq(
      Row(0L, Seq(0f, 0f), 0), Row(1L, Seq(0f, 0.1f), 0),
      Row(2L, Seq(5f, 5f), 0), Row(3L, Seq(5f, 5.1f), 0))
    val d = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r =>
        Row(r.get(0), r.getSeq[Float](1), r.get(2)))), schema)
    def run() = VectorOps.kmeansAssign(d, 2, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = run()
    // seeds are v0/v1 (both in the origin cluster); after two Lloyd
    // rounds the far pair has pulled cell 1's centroid to (5, 5.05)
    assert(a(0L) == a(1L) && a(2L) == a(3L) && a(0L) != a(2L))
    assert(a == run()) // pure function of the input
  }

  test("ivf2Assign: exhaustive coarse level (c = k) equals the flat argmin") {
    val rows = Seq(
      Row(0L, Seq(0f, 0f), 0), Row(1L, Seq(0f, 0.1f), 0),
      Row(2L, Seq(5f, 5f), 0), Row(3L, Seq(5f, 5.1f), 0),
      Row(4L, Seq(2.4f, 2.4f), 0), Row(5L, Seq(9f, 0f), 0))
    val d = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r =>
        Row(r.get(0), r.getSeq[Float](1), r.get(2)))), schema)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // with every fine cell its own coarse cell, the two-level route
    // degenerates to the flat argmin — iters=0 kmeansAssign over the
    // same min-id seeds
    val twoLevel = m(VectorOps.ivf2Assign(d, 3, 3))
    val flat = m(VectorOps.kmeansAssign(d, 3, 0))
    assert(twoLevel == flat)
    // and with a real hierarchy (c=2 of k=3) every vector still lands in
    // a fine cell OWNED by its coarse cell, deterministically
    val h = m(VectorOps.ivf2Assign(d, 3, 2))
    assert(h.values.forall(Set(0L, 1L, 2L).contains))
    assert(h == m(VectorOps.ivf2Assign(d, 3, 2))) // pure function
  }

  test("pqTopK: k ranked neighbors, ADC non-decreasing, no self, reproducible") {
    val rows = Seq(
      Row(0L, Seq(1f, 0f, 0f, 0f), 0), Row(1L, Seq(0.9f, 0.1f, 0f, 0f), 0),
      Row(2L, Seq(0f, 0f, 1f, 1f), 1), Row(3L, Seq(0f, 0f, 0.9f, 1.1f), 1),
      Row(4L, Seq(-1f, 0f, 0f, 0f), 0), Row(5L, Seq(0f, 1f, 1f, 0f), 1))
    val d = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r =>
        Row(r.get(0), r.getSeq[Float](1), r.get(2)))), schema)
    def run() = VectorOps.pqTopK(d.filter(col("vec_id") === 0), d, 2, 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val out = run()
    assert(out.map(_._4).toSeq == Seq(1, 2, 3))
    assert(!out.exists(_._2 == 0L))                    // self excluded
    assert(out.map(_._3).toSeq.sliding(2).forall {     // ranked by ADC
      case Seq(x, y) => x <= y; case _ => true })
    assert(out.toSeq == run().toSeq)                   // deterministic
  }

  test("hashEmbed: 64 dims, unit norm, idf kills corpus-wide tokens, deterministic") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "common alpha alpha beta"),
      (1L, "common alpha gamma"),
      (2L, "common delta delta epsilon"),
      (3L, "common zeta")).toDF("doc_id", "text")
    val long = VectorOps.hashEmbedLong(docs, "doc_id", "text", 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // exactly 64 rows per doc, pos 0..63
    assert(long.groupBy(_._1).forall { case (_, rs) =>
      rs.length == 64 && rs.map(_._2).sorted.toSeq == (0L until 64L) })
    // unit L2 norm per doc (fixed-point quantization → loose tolerance)
    val norms = long.groupBy(_._1).view.mapValues(rs =>
      math.sqrt(rs.map(v => v._3 * v._3).sum)).toMap
    assert(norms.values.forall(n => math.abs(n - 1.0) < 1e-6), norms.toString)
    // "common" appears in EVERY doc → idf = iln(4)-iln(4) = 0 → it
    // contributes nothing: doc 3's vector is entirely the "zeta" bucket
    val d3 = long.filter(_._1 == 3L).filter(_._3 != 0.0)
    assert(d3.length == 1, d3.toSeq.toString)
    // dense form assembles the same values in pos order
    val dense = VectorOps.hashEmbed(docs, "doc_id", "text", 64)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    assert(dense(0L).toSeq == long.filter(_._1 == 0L).sortBy(_._2).map(_._3).toSeq)
    // pure function of its input
    val again = VectorOps.hashEmbedLong(docs, "doc_id", "text", 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(again.toSet == long.toSet)
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextOps

class TextOpsSpec extends SparkSuite {

  private def one(text: String, c: org.apache.spark.sql.Column): Seq[String] = {
    val s = spark
    import s.implicits._
    Seq(text).toDF("text").select(c.as("v")).collect().head.getSeq[String](0)
  }

  test("chunks cover every token, stride by size-overlap, tail may be short") {
    val text = (1 to 10).map(i => s"t$i").mkString(" ")
    val out = one(text, TextOps.chunks(col("text"), 4, 1)) // stride 3
    assert(out == Seq(
      "t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10", "t10"))
    // consecutive chunks share exactly `overlap` tokens
    assert(out(0).split(' ').last == out(1).split(' ').head)
  }

  test("chunks: doc shorter than size yields one chunk; empty doc yields none") {
    assert(one("a b", TextOps.chunks(col("text"), 4, 1)) == Seq("a b"))
    assert(one("   ", TextOps.chunks(col("text"), 4, 1)).isEmpty)
  }

  test("bigrams: adjacent pairs in order; short docs yield empty, not negative sequence") {
    val s = spark
    import s.implicits._
    val out = Seq("a b c", "  solo  ", "", "x y")
      .toDF("text")
      .select(TextOps.bigrams(col("text")).as("b"))
      .collect()
      .map(_.getSeq[org.apache.spark.sql.Row](0).map(r =>
        (r.getString(0), r.getString(1))))
    assert(out(0) == Seq(("a", "b"), ("b", "c")))
    assert(out(1).isEmpty && out(2).isEmpty)
    assert(out(3) == Seq(("x", "y")))
  }

  test("maskPii masks emails before digit runs, leaves clean text alone") {
    val s = spark
    import s.implicits._
    val out = Seq(
      "contact bob99@mail.example.com or call 555 1234",
      "Customer#000000001",
      "no pii here").toDF("text")
      .select(TextOps.maskPii(col("text")).as("m")).collect().map(_.getString(0))
    assert(out(0) == "contact <EMAIL> or call <NUM> <NUM>")
    assert(out(1) == "Customer#<NUM>")
    assert(out(2) == "no pii here")
  }

  test("packSequences: full bins hold exactly `capacity`, docs reassemble contiguously") {
    val s = spark
    import s.implicits._
    // deterministic docs of varying token counts incl. one spanning several
    // bins (37 tokens vs capacity 16) and one empty (must emit nothing)
    val rows = (0L to 40L).map { i =>
      val n = if (i == 7) 0 else (i % 37 + 1).toInt
      (i, (1 to n).map(k => s"t$k").mkString(" "))
    }
    val df = rows.toDF("doc_id", "text")
    val packed = graft.text.Packing
      .packSequences(df, "doc_id", "text", capacity = 16L, bucketSize = 8L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(!packed.exists(_._1 == 7L)) // empty doc absent
    // every span fits its bin
    packed.foreach { case (_, _, off, len, _) =>
      assert(len > 0 && off >= 0 && off + len <= 16)
    }
    // all bins except the last are filled to exactly `capacity`
    val byBin = packed.groupBy(_._2).view.mapValues(_.map(_._4).sum).toMap
    val lastBin = byBin.keys.max
    byBin.foreach { case (bin, tot) =>
      if (bin != lastBin) assert(tot == 16L, s"bin $bin holds $tot")
    }
    // per doc: spans ordered by bin reassemble the token stream contiguously
    val expected = rows.filter(_._1 != 7L)
      .map { case (id, t) => id -> t.split(' ').length.toLong }.toMap
    packed.groupBy(_._1).foreach { case (id, spans) =>
      val sorted = spans.sortBy(_._2)
      assert(sorted.map(_._4).sum == expected(id))
      sorted.foldLeft(0L) { case (pos, (_, _, _, len, from)) =>
        assert(from == pos); pos + len
      }
    }
    // the two-phase prefix sum equals the naive per-driver cumsum
    val naiveStarts = rows.filter { case (_, t) => t.nonEmpty }
      .sortBy(_._1)
      .scanLeft((-1L, 0L)) { case ((_, acc), (id, t)) =>
        (id, acc + t.split(' ').length) }
      .sliding(2).map { case Seq((_, st), (id, _)) => id -> st }.toMap
    packed.filter(_._5 == 0L).foreach { case (id, bin, off, _, _) =>
      assert(naiveStarts(id) == bin * 16L + off)
    }
  }

  /** The span manifest by its definition: each doc's start is the NAIVE
    * global `sum over (order by doc_id)` window (one task, the plan
    * packSequences exists to avoid), then chopped into `capacity` bins. */
  private def naivePack(docs: DataFrame, capacity: Long): Set[(Long, Long, Long, Long, Long)] = {
    val before = Window.orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col("doc_id"), size(TextOps.tokens(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0)
      .withColumn("st", coalesce(sum(col("n")).over(before), lit(0L)))
      .collect()
      .flatMap { r =>
        val (id, n, st) = (r.getLong(0), r.getLong(1), r.getLong(2))
        (st / capacity to (st + n - 1) / capacity).map { bin =>
          val from = math.max(st, bin * capacity)
          val to = math.min(st + n, (bin + 1) * capacity)
          (id, bin, from - bin * capacity, to - from, from - st)
        }
      }.toSet
  }

  test("packSequences law: == the naive global window, any bucket size and partition count") {
    val s = spark
    import s.implicits._
    def docsOf(lens: Seq[(Long, Int)]): DataFrame =
      lens.map { case (id, n) => (id, (1 to n).map(k => s"t$k").mkString(" ")) }
        .toDF("doc_id", "text").repartition(3)
    val rnd = new scala.util.Random(101)
    val random = Seq.fill(3) {
      // distinct ids with gaps, ~1 in 5 docs empty, 0..40 tokens each
      rnd.shuffle((0L until 400L).toList).take(60)
        .map(id => id -> (if (rnd.nextInt(5) == 0) 0 else rnd.nextInt(41)))
    }
    val inputs = random.zipWithIndex.map { case (r, i) => s"random $i" -> r } ++ Seq(
      "empty input" -> Seq.empty[(Long, Int)],
      "all docs empty" -> (0L until 12L).map(_ -> 0),
      "one doc spans many bins" -> Seq(3L -> 2, 4L -> 100, 5L -> 1),
      "id gaps" -> Seq(-7L -> 3, 0L -> 5, 1L -> 0, 255L -> 9, 256L -> 4, 9000L -> 11, (1L << 40) -> 6))
    val key = "spark.sql.shuffle.partitions"
    val prior = s.conf.get(key)
    try inputs.foreach { case (name, lens) =>
      val docs = docsOf(lens)
      val want = naivePack(docs, 16L)
      for (parts <- Seq(1, 3, 7); bucketSize <- Seq(1L, 3L, 8L, 256L)) {
        s.conf.set(key, parts.toString)
        val got = graft.text.Packing
          .packSequences(docs, "doc_id", "text", capacity = 16L, bucketSize = bucketSize)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        val at = s"$name, parts $parts, bucket $bucketSize"
        assert(got.length == got.toSet.size, s"$at: repeated span")
        assert(got.toSet == want, at)
      }
    } finally s.conf.set(key, prior)
  }

  test("CMS laws: est >= exact for every token; sketch merge is counter-wise sum") {
    val s2 = spark
    import s2.implicits._
    import graft.text.CountMin
    val toks = Seq(
      ("a", "x"), ("a", "x"), ("a", "y"), ("a", "z"),
      ("b", "x"), ("b", "w"), ("b", "w"), ("b", "w"))
      .toDF("source", "token")
    val d = 4; val w = 32 // tiny width to force collisions (est > exact)
    val sk = CountMin.sketch(toks.select(org.apache.spark.sql.functions.col("token")), d, w)
    val est = CountMin.estimates(toks.select($"token").distinct(), sk, d, w)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = toks.groupBy($"token").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // over-estimate law
    exact.foreach { case (t, c) => assert(est(t) >= c, s"$t: ${est(t)} < $c") }
    // merge law: per-source sketches summed == whole-stream sketch
    val perSource = toks
      .select($"source", $"token",
        org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.sequence(
            org.apache.spark.sql.functions.lit(0),
            org.apache.spark.sql.functions.lit(d - 1))).as("r"))
      .select($"source", $"r", CountMin.rowHash($"r", $"token", w).as("idx"))
      .groupBy($"source", $"r", $"idx")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("c"))
    val merged = CountMin.merge(perSource)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = sk.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == whole)
  }

  test("CMS join-size law: inner-product estimate >= exact join size; exact when collision-free") {
    val s2 = spark
    import s2.implicits._
    import graft.text.CountMin
    // A: keys 1,1,2,3  B: keys 1,2,2,4 → exact |A ⋈ B| = 2·1 + 1·2 = 4
    val a = Seq("1", "1", "2", "3").toDF("token")
    val b = Seq("1", "2", "2", "4").toDF("token")
    val d = 4
    // tiny width forces collisions: the estimate must stay one-sided (>=)
    val estTiny = CountMin.joinSizeEstimate(
      CountMin.sketch(a, d, 4), CountMin.sketch(b, d, 4))
      .collect()(0).getLong(0)
    assert(estTiny >= 4L, s"tiny-w estimate $estTiny < exact 4")
    // wide sketch: 4 distinct keys in 2^14 buckets — whp collision-free in
    // at least one of the 4 rows, so the min-row inner product is EXACT
    val estWide = CountMin.joinSizeEstimate(
      CountMin.sketch(a, d, 16384), CountMin.sketch(b, d, 16384))
      .collect()(0).getLong(0)
    assert(estWide === 4L, s"wide-w estimate $estWide != exact 4")
  }

  test("Bloom laws: no false negatives ever; tiny m forces visible false positives") {
    val s2 = spark
    import s2.implicits._
    import graft.text.Bloom
    import org.apache.spark.sql.functions.col
    val members = (0 until 40).map(i => s"member_$i").toDF("item")
    val bits = Bloom.bits(members, "item", 4, 64) // 160 hashes into 64 bits: saturated
    val probes = ((0 until 40).map(i => s"member_$i") ++
      (0 until 200).map(i => s"absent_$i")).toDF("item")
    val kept = Bloom.mightContain(probes, "item", bits, 4, 64)
      .collect().map(_.getString(0)).toSet
    // every true member is kept (no false negatives)
    assert((0 until 40).forall(i => kept(s"member_$i")))
    // the saturated filter admits SOME absentees (false positives exist)...
    val fps = kept.count(_.startsWith("absent_"))
    assert(fps > 0)
    // ...but a roomy filter admits almost none
    val bigBits = Bloom.bits(members, "item", 4, 1 << 16)
    val keptBig = Bloom.mightContain(probes, "item", bigBits, 4, 1 << 16)
      .collect().map(_.getString(0)).toSet
    assert((0 until 40).forall(i => keptBig(s"member_$i")))
    assert(keptBig.count(_.startsWith("absent_")) < fps)
  }
}

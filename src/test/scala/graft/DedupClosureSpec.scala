package graft

import org.apache.spark.sql.functions._

import graft.sources.DedupClosure

/** The materialized dedup-closure artifact (sources.DedupClosure): value
  * parity with the live plan, write-once reuse, fingerprint-keyed staleness,
  * and the exchange-free consumer join the bucketed layout buys.
  */
class DedupClosureSpec extends SparkSuite {
  private val d = SparkSpec.sf0001
  private def docs = Tables.documents(spark, d)

  test("artifact == live closure, and a second read reuses the table") {
    val s = spark
    val t = DedupClosure.materialize(s, docs, d)
    try {
      val live = DedupClosure.closure(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val art = s.table(t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(art === live)
      assert(art.nonEmpty)
      // write-once: materializing again returns the same table without a
      // rebuild (observable as an unchanged table creation time)
      val created = s.sql(s"DESCRIBE EXTENDED $t")
        .filter(col("col_name") === "Created Time").collect()(0).getString(1)
      assert(DedupClosure.materialize(s, docs, d) === t)
      val created2 = s.sql(s"DESCRIBE EXTENDED $t")
        .filter(col("col_name") === "Created Time").collect()(0).getString(1)
      assert(created2 === created)
    } finally s.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("fingerprint: a different corpus snapshot gets a different table") {
    val s = spark
    import s.implicits._
    val other = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    assert(DedupClosure.tableName(docs, d) !==
      DedupClosure.tableName(other, d))
    // same docs, same dir → stable name (idempotent reuse key)
    assert(DedupClosure.tableName(docs, d) === DedupClosure.tableName(docs, d))
    // file-backed fingerprints key on source-file metadata: a different
    // snapshot DIRECTORY (different part files) gets a different name even
    // though both frames are file-backed documents tables
    val d2 = "/root/testdata/sf0.01"
    assert(DedupClosure.tableName(docs, d) !==
      DedupClosure.tableName(Tables.documents(s, d2), d2))
  }

  test("artifact names carry the near-dup rule") {
    val rule = graft.dedup.DedupOps.NearDup.tag
    assert(rule == "s3h32r4t50")
    assert(DedupClosure.tableName(docs, d).startsWith(s"graft_dedup_closure_${rule}_"))
    assert(DedupClosure.sigTableName(docs, d).startsWith(s"graft_dedup_sig_${rule}_"))
  }

  test("post-materialize read is metadata-only: zero jobs, no source scan") {
    val s = spark
    val t = DedupClosure.materialize(s, docs, d)
    try {
      // the round-11 shape ran a pruned count+sum scan of documents.parquet
      // on EVERY read call — at 100 TB each consumer paid a corpus scan
      // just to locate the artifact. The metadata fingerprint must locate
      // it with ZERO Spark jobs (driver-side file-status calls only).
      val sc = s.sparkContext
      // first-time analysis of a fresh parquet frame may run a footer/
      // listing job; that belongs to the INPUT, not to artifact location —
      // force it outside the probe window (a production consumer holds its
      // docs frame anyway)
      val dd = docs
      dd.inputFiles
      sc.setJobGroup("closure-read-probe", "second read must be job-free")
      val df = try DedupClosure.read(s, dd, d) finally sc.clearJobGroup()
      // the status store is fed asynchronously; give it a moment to settle
      // before the nothing-happened assertion
      Thread.sleep(500)
      assert(sc.statusTracker.getJobIdsForGroup("closure-read-probe").isEmpty,
        "locating the artifact ran a Spark job")
      // and the returned plan reads the bucketed artifact, not the source
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("documents.parquet"), plan)
      assert(df.count() === docs.count())
    } finally s.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("orphaned warehouse location (table files, no catalog entry) is rebuilt") {
    // the default catalog is per-session but spark-warehouse persists: a
    // prior session's table files must not fail a fresh materialize with
    // LOCATION_ALREADY_EXISTS (the round-11 Verify regression)
    val s = spark
    val t = DedupClosure.tableName(docs, d)
    s.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new java.io.File(
      new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath, t)
    loc.mkdirs()
    new java.io.File(loc, "orphan.parquet").createNewFile()
    try {
      assert(DedupClosure.materialize(s, docs, d) === t)
      assert(s.table(t).count() === docs.count())
    } finally s.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("consumer join on doc_id adds no Exchange on the artifact side") {
    val s = spark
    val t = DedupClosure.materialize(s, docs, d)
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // q147's shape: docs-side quality joined onto the bucketed closure
      val joined = docs.select(col("doc_id"))
        .join(s.table(t), Seq("doc_id"))
      joined.collect()
      val p = joined.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case other => other.toString
      }
      // the artifact scan reports its bucket partitioning, so only the
      // UNBUCKETED docs side may shuffle: exactly one doc_id exchange
      val exchanges = p.linesIterator
        .filter(_.contains("Exchange hashpartitioning(doc_id")).size
      assert(exchanges <= 1, s"artifact side re-shuffled, plan:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      s.sql(s"DROP TABLE IF EXISTS $t")
    }
  }
}

package graft

/** Results that don't depend on how the engine runs them: a query must
  * return the same rows whatever the join strategy, shuffle partition count
  * or adaptive execution setting. Compared as sorted row strings, so every
  * double must agree bit for bit.
  */
class InvarianceSpec extends SparkSuite {

  private val sf = SparkSpec.sf0001

  /** Settings applied one at a time over the suite session's own.
    * Auto-broadcast off forces the shuffle-join fallback a join without a
    * broadcast hint takes at scale. */
  private val settings: Seq[(String, String)] = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.shuffle.partitions" -> "1",
    "spark.sql.shuffle.partitions" -> "7",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.enabled" -> "false")

  private def rows(q: String): Seq[String] =
    SparkEntry.queries(q)(spark, sf).collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  Seq("q34_entity_linking", "q79_hybrid_linking", "q13_two_hop_network",
      "q17_suspicious_aliases", "q07_alias_probabilities", "q22_jaccard_pairs",
      "q65_stream_neardup").foreach { q =>
    test(s"$q returns the same rows under every join, partition and AQE setting") {
      val base = rows(q)
      assert(base.nonEmpty)
      settings.foreach { case (k, v) =>
        assert(withConf(k, v)(rows(q)) == base, s"$q differs under $k=$v")
      }
    }
  }
}

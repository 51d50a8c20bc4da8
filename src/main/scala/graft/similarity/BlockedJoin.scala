package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The blocked similarity join — the one filter-plus-verify operator behind
  * every banded near-dup search in main (MinHash-LSH, sign-LSH, SimHash and
  * the media dHash/audio fingerprints): block every row on an ordered list
  * of key columns, one per band, join rows that share a key AT THE SAME
  * POSITION, emit each pair once, then score it with the caller's verify
  * function. The filter bounds the candidates (a pair must collide in some
  * band); the verify runs on candidates only — the shape of REPOSE (ICDE
  * 2021, blocking key partitions + local verify) and of the
  * worst-case-optimal similarity joins' filter/verify split (SIGMOD 2024),
  * both in PAPERS.md.
  *
  * '''One emission per pair.''' Each exploded (id, band, key) row carries
  * its `prefix` — the row's keys at lower bands, a map-side slice — and a
  * candidate survives only where NO lower band collides (the prefixes
  * never [[collides]]): a pair meets exactly once, at its first colliding
  * position, with no pair-level distinct. The candidate SET is every pair
  * sharing a key at some position, so the pair set is independent of how
  * many bands collide. An equal key at different positions never collides.
  *
  * '''Payload placement,''' from the band count and the payload's type.
  * Over one band, and for an atomic value or a struct of atomics (a
  * SimHash, the four dHash words), the payload rides the candidate
  * exchange: one copy per band, a few bytes or no more than a join-back
  * moves. An array over several bands (a MinHash signature, q100's
  * embedding) joins back by id to the surviving pairs, one join per side.
  * Measured join-back → ride on 4 cores (medians; CHANGES.md has every
  * pair): q27 (one band, 64 floats) 0.46 → 0.40 s at sf0.1 and 3.6 → 2.8 s
  * at ×10 (`graft.ScaleBench` steady); q100 (4 bands) 0.92 → 0.80 s and
  * 13.3 → 9.4 s; q23 (8 bands, 32 ints) 0.99 → 0.94 s and 4.0 → 4.1 s.
  * The several-band array cut is the conservative side: q100 would gain,
  * and riding the MinHash signature waits on perfbench's shuffle bound.
  *
  * The operator materializes nothing: a caller whose input is expensive
  * (it is read by both join sides and by the join-backs) checkpoints it
  * first.
  */
object BlockedJoin {

  /** Self form: pairs (a, b) of `rows` with a < b that share a key at the
    * same position of `keys`, scored by `score(payloadA, payloadB)`.
    * Output: (a, b, score), unfiltered — the caller applies its threshold. */
  def self(rows: DataFrame, id: Column, keys: Seq[Column], payload: Column,
           score: (Column, Column) => Column): DataFrame =
    pairs(rows, rows, id, keys, payload, score, ordered = true)

  /** Cross form: pairs (a ∈ left, b ∈ right) that share a key at the same
    * position — the batch × corpus probe: the right side is never
    * self-joined, so a probe costs its own band fan-out. Both sides take
    * the same id, keys and payload expressions. Output: (a, b, score). */
  def cross(left: DataFrame, right: DataFrame, id: Column, keys: Seq[Column],
            payload: Column, score: (Column, Column) => Column): DataFrame =
    pairs(left, right, id, keys, payload, score, ordered = false)

  private def pairs(left: DataFrame, right: DataFrame, id: Column,
                    keys: Seq[Column], payload: Column,
                    score: (Column, Column) => Column,
                    ordered: Boolean): DataFrame = {
    val rides = keys.size == 1 || fewBytes(left.select(payload).schema.head.dataType)
    def side(rows: DataFrame, v: String) =
      blocks(rows, id, keys, (if (rides) Seq(payload.as(v)) else Nil): _*)
    val cands = candidates(side(left, "va"), side(right, "vb"))
    val kept = if (ordered) cands.filter(col("a") < col("b")) else cands
    val verifiable = if (rides) kept else kept.select(col("a"), col("b"))
      .join(left.select(id.as("a"), payload.as("va")), Seq("a"))
      .join(right.select(id.as("b"), payload.as("vb")), Seq("b"))
    verifiable.select(col("a"), col("b"), score(col("va"), col("vb")).as("score"))
  }

  /** Whether a payload of type `t` is a few bytes: an atomic value or a
    * struct of atomics. Arrays, maps and nested structs are not. */
  private def fewBytes(t: DataType, nested: Boolean = false): Boolean = t match {
    case _: ArrayType | _: MapType => false
    case s: StructType => !nested && s.fields.forall(f => fewBytes(f.dataType, nested = true))
    case _ => true
  }

  /** The key explosion: one row per (row, band) — (id, band, key, prefix)
    * plus the `carry` columns — where `prefix` is the row's keys at the
    * bands below. Map-side only. A streaming side carries its payload here,
    * since it cannot be joined back to itself by id. */
  def blocks(rows: DataFrame, id: Column, keys: Seq[Column], carry: Column*): DataFrame = {
    require(keys.nonEmpty, "BlockedJoin: no key columns")
    val keyed = rows.select(Seq(id.as("id"), array(keys: _*).as("keys")) ++ carry: _*)
    val rest = keyed.columns.drop(2).toSeq.map(col)
    // the outer form: for the plain one Catalyst infers a `size(keys) > 0`
    // filter and pushes it below the projection, where it evaluates the key
    // expressions (a signature, md5 buckets) a second time per row. A null
    // key never equi-joins.
    keyed.select(Seq(col("id"), col("keys"),
        posexplode_outer(col("keys")).as(Seq("band", "key"))) ++ rest: _*)
      .select(Seq(col("id"), col("band"), col("key"),
        slice(col("keys"), lit(1), col("band")).as("prefix")) ++ rest: _*)
  }

  /** The candidate join of two [[blocks]] tables on (band, key), first
    * collision only. The left side's id and prefix come out as (a, pa), the
    * right side's as (b, pb); carried columns keep their names. */
  def candidates(left: DataFrame, right: DataFrame): DataFrame =
    left.withColumnRenamed("id", "a").withColumnRenamed("prefix", "pa")
      .join(right.withColumnRenamed("id", "b").withColumnRenamed("prefix", "pb"),
        Seq("band", "key"))
      .filter(!collides(col("pa"), col("pb")))

  /** Whether two key arrays agree at some position; a null key agrees
    * with nothing, as in the (band, key) equi-join. Over two prefixes it is
    * the first-collision test: a pair that collides below the current band
    * was already emitted there. */
  def collides(keysA: Column, keysB: Column): Column =
    exists(zip_with(keysA, keysB, (x, y) => coalesce(x === y, lit(false))),
      identity[Column])

  /** Hamming distance between two bit words of the same integral type:
    * `bit_count(a xor b)`, an int. The verify kernel of the SimHash and
    * media-fingerprint joins and of binary-code top-k. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
}

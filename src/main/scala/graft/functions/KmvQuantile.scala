package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** One input row for the sketch: the 60-bit portable hash of the distinct
  * key (`ch`), the 60-bit portable hash of the row identity (`oh`), and
  * the measure lifted to integer cents (`cents`).
  */
case class SketchIn(ch: Long, oh: Long, cents: Long)

/** Bounded sketch state: the ≤ k smallest DISTINCT key hashes (sorted
  * ascending) and the ≤ s sample rows with the smallest (rowHash, cents)
  * pairs (sorted lexicographically). Both sides are order-independent —
  * any partitioning / merge order yields the same state.
  */
case class SketchBuf(kmv: Vector[Long], smp: Vector[(Long, Long)])

/** Finished sketch: KMV distinct estimate + two sample quantiles. */
case class SketchOut(kmv_customers: Long, p50_price: Double, p90_price: Double)

/** KMV (k-minimum-values) distinct sketch + deterministic bottom-k-by-hash
  * quantile sample, as one typed [[Aggregator]] with bounded memory
  * (k + s entries per partial, regardless of group cardinality).
  *
  * Unlike HLL / GK sketches, every step here is ENGINE-PORTABLE integer
  * math, so an external SQL engine can replay the exact result:
  *
  *  - KMV: keep the k smallest distinct 60-bit hashes; if fewer than k
  *    distinct hashes exist the sketch IS the exact count, else estimate
  *    `⌊(k−1)·2⁶⁰ / h_k⌋` with h_k the k-th smallest hash (truncating
  *    integer division — replayable as HUGEINT math).
  *  - Quantiles: the s rows with the smallest (rowHash, cents) pairs form
  *    a deterministic uniform sample; linear interpolation at p runs in
  *    tenths over integer cents (`v_lo·(10−f) + v_hi·f`, f = ((n−1)·10p)
  *    mod 10), surfaced as one exact-integer / 1000.0 double division.
  *
  * Both halves keep the constant-memory aggregation shape the 100 TB path
  * needs (a full exact distinct/percentile would shuffle the key set),
  * while staying hash-exact against an oracle replay — the same
  * sound-sketch-with-exact-replay contract the LSH/IVF/PQ operators use.
  */
class KmvQuantile(k: Int, s: Int) extends Aggregator[SketchIn, SketchBuf, SketchOut] {

  override def zero: SketchBuf = SketchBuf(Vector.empty, Vector.empty)

  private def insertKmv(kmv: Vector[Long], h: Long): Vector[Long] =
    KmvOps.insert(k)(kmv, h)

  private val pairOrd: Ordering[(Long, Long)] = Ordering.Tuple2(Ordering.Long, Ordering.Long)

  private def insertSmp(smp: Vector[(Long, Long)], e: (Long, Long)): Vector[(Long, Long)] =
    if (smp.length == s && pairOrd.gteq(e, smp.last)) smp
    else {
      val p = smp.search(e)(pairOrd) match {
        case scala.collection.Searching.Found(i)          => i
        case scala.collection.Searching.InsertionPoint(i) => i
      }
      val grown = smp.patch(p, Vector(e), 0)
      if (grown.length > s) grown.dropRight(1) else grown
    }

  override def reduce(b: SketchBuf, in: SketchIn): SketchBuf =
    SketchBuf(insertKmv(b.kmv, in.ch), insertSmp(b.smp, (in.oh, in.cents)))

  override def merge(a: SketchBuf, b: SketchBuf): SketchBuf =
    SketchBuf(
      b.kmv.foldLeft(a.kmv)(insertKmv),
      b.smp.foldLeft(a.smp)(insertSmp))

  override def finish(b: SketchBuf): SketchOut = {
    val sorted = b.smp.map(_._2).sorted
    SketchOut(KmvOps.estimate(k)(b.kmv),
      KllOps.quantileTenths(sorted, 5), KllOps.quantileTenths(sorted, 9))
  }

  override def bufferEncoder: Encoder[SketchBuf] = Encoders.kryo[SketchBuf]

  override def outputEncoder: Encoder[SketchOut] = Encoders.product[SketchOut]
}

/** Shared bottom-k insertion for all KMV-family sketches: keep the k
  * smallest DISTINCT hashes, sorted ascending — order-independent under
  * any reduce/merge interleaving.
  */
private[functions] object KmvOps {
  def insert(k: Int)(kmv: Vector[Long], h: Long): Vector[Long] =
    if (kmv.length == k && h >= kmv.last) kmv
    else {
      kmv.search(h)(Ordering.Long) match {
        case scala.collection.Searching.Found(_) => kmv // already present
        case scala.collection.Searching.InsertionPoint(p) =>
          val grown = kmv.patch(p, Vector(h), 0)
          if (grown.length > k) grown.dropRight(1) else grown
      }
    }

  /** Estimate from a finished bottom-k state: exact when the state holds
    * fewer than k hashes, else `⌊(k−1)·2⁶⁰ / h_k⌋` (BigInt — the product
    * overflows a long for k > 8).
    */
  def estimate(k: Int)(kmv: Vector[Long]): Long =
    if (kmv.length < k) kmv.length.toLong
    else (BigInt(k - 1) * (BigInt(1) << 60) / BigInt(kmv.last)).toLong
}

/** One distinct-key hash for the partial-sketch build. */
case class KmvIn(h: Long)

/** KMV partial sketch: bottom-k distinct 60-bit hashes, surfaced as a
  * sorted array — the MERGEABLE intermediate a two-level rollup ships
  * between aggregation levels (nation sketch → region sketch → …).
  */
class KmvSketch(k: Int) extends Aggregator[KmvIn, Vector[Long], Seq[Long]] {
  override def zero: Vector[Long] = Vector.empty
  override def reduce(b: Vector[Long], in: KmvIn): Vector[Long] =
    KmvOps.insert(k)(b, in.h)
  override def merge(a: Vector[Long], b: Vector[Long]): Vector[Long] =
    b.foldLeft(a)(KmvOps.insert(k))
  override def finish(b: Vector[Long]): Seq[Long] = b
  override def bufferEncoder: Encoder[Vector[Long]] = Encoders.kryo[Vector[Long]]
  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}

/** One partial sketch (a [[KmvSketch]] output) for the merge level. */
case class KmvMergeIn(hs: Seq[Long])

/** Sketch-of-sketches: folds partial bottom-k arrays into the bottom-k of
  * their UNION and finishes to the distinct estimate. The mergeability
  * law — merge(sketch(A), sketch(B)) = sketch(A ∪ B) — is what makes the
  * rollup sound at any tree depth; the oracle verifies it by computing
  * the top-level sketch directly from raw rows.
  */
class KmvMerge(k: Int) extends Aggregator[KmvMergeIn, Vector[Long], Long] {
  override def zero: Vector[Long] = Vector.empty
  override def reduce(b: Vector[Long], in: KmvMergeIn): Vector[Long] =
    in.hs.foldLeft(b)(KmvOps.insert(k))
  override def merge(a: Vector[Long], b: Vector[Long]): Vector[Long] =
    b.foldLeft(a)(KmvOps.insert(k))
  override def finish(b: Vector[Long]): Long = KmvOps.estimate(k)(b)
  override def bufferEncoder: Encoder[Vector[Long]] = Encoders.kryo[Vector[Long]]
  override def outputEncoder: Encoder[Long] = Encoders.scalaLong
}

/** State-preserving sketch-of-sketches: folds partial bottom-k arrays
  * into the bottom-k of their UNION and finishes to the STATE array
  * (sorted ascending) instead of the estimate — the fold step of the
  * standing distinct-count state table
  * ([[graft.sources.Sinks.foldKmvState]] /
  * [[graft.streaming.Streams.kmvStateStream]]). The bottom-k of
  * distinct hashes is a pure function of the hash SET, so the folded
  * state is order-independent and the lossless-merge law
  * merge(sketch(A), sketch(B)) = sketch(A ∪ B) holds exactly.
  */
class KmvMergeState(k: Int) extends Aggregator[KmvMergeIn, Vector[Long], Seq[Long]] {
  override def zero: Vector[Long] = Vector.empty
  override def reduce(b: Vector[Long], in: KmvMergeIn): Vector[Long] =
    in.hs.foldLeft(b)(KmvOps.insert(k))
  override def merge(a: Vector[Long], b: Vector[Long]): Vector[Long] =
    b.foldLeft(a)(KmvOps.insert(k))
  override def finish(b: Vector[Long]): Seq[Long] = b
  override def bufferEncoder: Encoder[Vector[Long]] = Encoders.kryo[Vector[Long]]
  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}

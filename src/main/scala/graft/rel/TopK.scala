package graft.rel

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Top-k-per-group as a typed [[Aggregator]] with a k-bounded buffer.
  *
  * The window idiom (`row_number().over(partitionBy(g).orderBy(s)) <= k`)
  * shuffles EVERY group member and sorts whole groups before discarding
  * all but k rows. This aggregator gets map-side partial aggregation:
  * each task keeps at most k (score, id) pairs per group, the shuffle
  * carries ≤ k rows per (partition, group), and the final merge is
  * k-bounded — the difference between shuffling a 100 TB corpus and
  * shuffling k·|groups| rows. Results are identical to the window idiom
  * because (score desc, id asc) is a total order (q63 pins this against
  * q20's oracle; TopKSuite against the window plan).
  *
  * Generic in the id type: `Long` for vec/doc ids, `String` for terms
  * (TF-IDF ranks words within a document) — any `I` with an `Ordering`
  * and an `ExpressionEncoder`-able shape.
  */
object TopK {

  /** Binary (UTF-8 byte) string order — what Spark SQL's window sort and
    * DuckDB use. Java's `String.compareTo` orders by UTF-16 code UNIT,
    * which diverges for supplementary characters (a surrogate 0xD800+
    * sorts before BMP chars ≥ U+E000 in UTF-16 but after in UTF-8), so
    * the default `Ordering.String` tie-break would disagree with the
    * window idiom / oracle on non-BMP terms.
    */
  val Utf8StringOrdering: Ordering[String] = (a: String, b: String) =>
    org.apache.spark.unsafe.types.UTF8String
      .fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** Swap the DEFAULT string ordering for the UTF-8 binary one (an
    * explicitly supplied custom ordering passes through untouched): every
    * string-id call site gets oracle-consistent tie-breaks without having
    * to know about the UTF-16 trap.
    */
  private def oracleConsistent[I](ord: Ordering[I]): Ordering[I] =
    if (ord eq Ordering.String) Utf8StringOrdering.asInstanceOf[Ordering[I]] else ord

  /** Keeps the best k by (score desc, id asc). The buffer is a sorted
    * Seq bounded at k — tiny, so the O(k) insert beats heap bookkeeping.
    */
  class TopKAgg[I](k: Int)(implicit rawOrd: Ordering[I], tt: TypeTag[I])
      extends Aggregator[(Double, I), Seq[(Double, I)], Seq[(Double, I)]] {
    private val ord = oracleConsistent(rawOrd)
    private def better(a: (Double, I), b: (Double, I)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && ord.lt(a._2, b._2))

    override def zero: Seq[(Double, I)] = Nil

    override def reduce(buf: Seq[(Double, I)], row: (Double, I)): Seq[(Double, I)] =
      if (buf.lengthCompare(k) >= 0 && !better(row, buf.last)) buf
      else ((buf :+ row).sortWith(better)).take(k)

    override def merge(a: Seq[(Double, I)], b: Seq[(Double, I)]): Seq[(Double, I)] =
      (a ++ b).sortWith(better).take(k)

    override def finish(buf: Seq[(Double, I)]): Seq[(Double, I)] = buf

    override def bufferEncoder: Encoder[Seq[(Double, I)]] =
      ExpressionEncoder[Seq[(Double, I)]]()
    override def outputEncoder: Encoder[Seq[(Double, I)]] =
      ExpressionEncoder[Seq[(Double, I)]]()
  }

  /** Size-bounded collect_list: the buffer never holds more than
    * `cap + 1` elements — one element past the cap already proves the
    * group will be dropped by its ≤-cap consumer, so accumulation stops
    * there. For every KEPT group the output is exactly collect_list's
    * (all elements fit under the cap); for a hot group the aggregation
    * state is O(cap) instead of O(group size) — the difference between a
    * 65-entry buffer and a 10⁷-struct buffer for one boilerplate shingle
    * at 100 TB. The output still needs a `length <= cap` filter (the
    * cap+1-length marker IS the over-cap signal); [[graft.pipeline.Dedup.postings]]
    * applies it.
    */
  class BoundedCollectAgg[V](cap: Int)(implicit tt: TypeTag[V])
      extends Aggregator[V, Seq[V], Seq[V]] {
    override def zero: Seq[V] = Nil
    override def reduce(buf: Seq[V], v: V): Seq[V] =
      if (buf.lengthCompare(cap + 1) >= 0) buf else buf :+ v
    override def merge(a: Seq[V], b: Seq[V]): Seq[V] =
      if (a.lengthCompare(cap + 1) >= 0) a
      else (a ++ b).take(cap + 1)
    override def finish(buf: Seq[V]): Seq[V] = buf
    override def bufferEncoder: Encoder[Seq[V]] = ExpressionEncoder[Seq[V]]()
    override def outputEncoder: Encoder[Seq[V]] = ExpressionEncoder[Seq[V]]()
  }

  /** The k SMALLEST DISTINCT values per group (bottom-k sketch signature:
    * the classic KMV estimator's per-group state). r17 (guide §2.3 —
    * aggregate before you shuffle): `distinct()` followed by a k-bounded
    * top-k agg pays a full exchange of the distinct stream; this single
    * aggregator dedups INSIDE its k-bounded buffer, so map-side partials
    * reduce each task to ≤ k values per group before anything shuffles.
    * Output is identical: dedup-then-keep-k-smallest and
    * keep-k-smallest-while-deduping agree because dropping a value ≥ the
    * k-th smallest distinct can never change the bottom-k distinct set.
    */
  class BottomKDistinctAgg[V](k: Int)(implicit rawOrd: Ordering[V], tt: TypeTag[V])
      extends Aggregator[V, Seq[V], Seq[V]] {
    // reduce peeks at buf.last, which a non-positive k would NPE on the
    // first over-capacity check; fail at construction, not mid-job
    require(k > 0, s"BottomKDistinctAgg needs k > 0, got $k")
    private val ord = oracleConsistent(rawOrd)
    override def zero: Seq[V] = Nil
    override def reduce(buf: Seq[V], v: V): Seq[V] =
      if (buf.lengthCompare(k) >= 0 && ord.gteq(v, buf.last)) buf
      else if (buf.exists(ord.equiv(_, v))) buf
      else ((buf :+ v).sorted(ord)).take(k)
    // dedup by adjacent ord.equiv after the sort, NOT Seq.distinct: reduce
    // dedups with ord.equiv, and for an Ordering where equiv != equals
    // (universal equality) the two phases would disagree on what counts as
    // a duplicate. Equiv-equal values are adjacent once sorted by ord.
    override def merge(a: Seq[V], b: Seq[V]): Seq[V] =
      (a ++ b).sorted(ord)
        .foldLeft(List.empty[V]) { (acc, v) =>
          if (acc.nonEmpty && ord.equiv(acc.head, v)) acc else v :: acc
        }
        .reverse.take(k)
    override def finish(buf: Seq[V]): Seq[V] = buf
    override def bufferEncoder: Encoder[Seq[V]] = ExpressionEncoder[Seq[V]]()
    override def outputEncoder: Encoder[Seq[V]] = ExpressionEncoder[Seq[V]]()
  }

  /** (group, score, id) → (group, rnk ∈ 1..k, id, score), ranked by
    * (score desc, id asc) within each group.
    */
  def topKPerGroup[K: Encoder: TypeTag, I: TypeTag](
      ds: Dataset[(K, Double, I)],
      k: Int)(implicit ord: Ordering[I]): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    implicit val valEnc: Encoder[(Double, I)] = ExpressionEncoder[(Double, I)]()
    implicit val pairEnc: Encoder[(K, Seq[(Double, I)])] =
      ExpressionEncoder[(K, Seq[(Double, I)])]()
    ds.groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new TopKAgg[I](k).toColumn.name("top"))
      .flatMap { case (g, top) =>
        top.iterator.zipWithIndex.map { case ((score, id), i) => (g, i + 1, id, score) }
      }
      .toDF("group", "rnk", "id", "score")
  }
}

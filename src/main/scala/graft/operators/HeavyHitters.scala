package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** SpaceSaving heavy-hitters sketch as a typed Spark [[Aggregator]] — the
  * one-pass, mergeable alternative to a full groupBy+count when only the
  * head of the frequency distribution matters (token/domain/user-id
  * censuses at 100TB, where the exact aggregation shuffles billions of
  * distinct keys to answer a top-20 question).
  *
  * Guarantees (Metwally et al., the standard SpaceSaving bounds): with
  * capacity m over n observations, every item with true count > n/m is
  * in the sketch, and every reported count overestimates the true count
  * by at most its recorded `err` ≤ n/m. When the distinct-item count
  * never exceeds m the sketch is EXACT (no eviction happens) and the
  * result is independent of partitioning/merge order — the regime the
  * oracle-checked catalog entry runs in. Under eviction the top set is
  * correct for any item separated by more than n/m, while exact ranks
  * among near-ties can vary with merge order (documented sketch trade).
  *
  * The aggregator is partial-aggregation friendly by construction:
  * per-partition sketches reduce locally and `merge` combines two
  * sketches (absent items substitute the absent side's minimum counter —
  * the mergeable-SpaceSaving rule — then re-truncate to capacity), the
  * same map-side-combine shape as a built-in agg, shuffling one
  * m-entry sketch per partition instead of the key space.
  *
  * Two result-identical implementations: [[SpaceSavingAgg]] keeps an
  * encoder-friendly immutable Map (O(m) minimum scan per eviction — the
  * readable reference the oracle entry pins), and [[StreamSummaryAgg]]
  * keeps a mutable map + (count, item)-sorted index (O(log m) offer,
  * the stream-summary structure for eviction-heavy censuses).
  * HeavyHittersSpec property-tests them equal on shared streams and
  * merges; SCALE.md records the eviction-regime timing gap.
  */
object HeavyHitters {

  /** (token, count, err): `count` overestimates by at most `err`. */
  final case class Entry(item: String, count: Long, err: Long)

  /** Sketch state: observation count + capped item map. */
  final case class Sketch(n: Long, entries: Map[String, (Long, Long)])

  final class SpaceSavingAgg(capacity: Int)
      extends Aggregator[String, Sketch, Seq[Entry]] {
    require(capacity > 0, s"capacity must be positive: $capacity")

    override def zero: Sketch = Sketch(0L, Map.empty)

    override def reduce(b: Sketch, item: String): Sketch = {
      if (item == null) return b
      val n = b.n + 1
      b.entries.get(item) match {
        case Some((c, e)) =>
          Sketch(n, b.entries.updated(item, (c + 1, e)))
        case None if b.entries.size < capacity =>
          Sketch(n, b.entries.updated(item, (1L, 0L)))
        case None =>
          // evict the minimum-count entry; the newcomer inherits its
          // count as upper bound, recorded as err (deterministic victim:
          // min count, then lexicographic)
          val (vict, (vc, _)) = b.entries.minBy { case (k, (c, _)) => (c, k) }
          Sketch(n, (b.entries - vict).updated(item, (vc + 1, vc)))
      }
    }

    override def merge(a: Sketch, b: Sketch): Sketch = {
      // Mergeable-SpaceSaving rule: an item ABSENT from a FULL sketch may
      // still have occurred up to that sketch's minimum counter times
      // (that is what eviction erased), so the absent side contributes
      // its minimum count — as both count and error — not zero.
      // Substituting 0 would understate counts and void the
      // "count ≤ true + err" bound exactly in the multi-partition regime.
      def minCount(s: Sketch): Long =
        if (s.entries.size < capacity) 0L
        else s.entries.valuesIterator.map(_._1).min
      val minA = minCount(a)
      val minB = minCount(b)
      val combined = (a.entries.keySet ++ b.entries.keySet).map { k =>
        val (ac, ae) = a.entries.getOrElse(k, (minA, minA))
        val (bc, be) = b.entries.getOrElse(k, (minB, minB))
        k -> (ac + bc, ae + be)
      }.toMap
      val kept =
        if (combined.size <= capacity) combined
        else combined.toSeq
          .sortBy { case (k, (c, _)) => (-c, k) }.take(capacity).toMap
      Sketch(a.n + b.n, kept)
    }

    override def finish(r: Sketch): Seq[Entry] =
      r.entries.toSeq
        .map { case (k, (c, e)) => Entry(k, c, e) }
        .sortBy(en => (-en.count, en.item))

    override def bufferEncoder: Encoder[Sketch] = Encoders.product[Sketch]
    override def outputEncoder: Encoder[Seq[Entry]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Entry]]()
  }

  /** Mutable stream-summary state for [[StreamSummaryAgg]]: item map plus
    * a (count, item)-ordered index whose head IS the deterministic
    * eviction victim (min count, then lexicographic — the exact rule
    * [[SpaceSavingAgg]] applies with its O(capacity) `minBy` scan). Both
    * offer paths are O(log capacity): one hash update + one/two balanced-
    * tree moves, no persistent-map copy — the Metwally stream-summary
    * trade with the classic linked buckets replaced by a sorted index
    * (same asymptotics up to the log factor, and the log is what buys the
    * deterministic tie-break the property tests pin against the
    * reference implementation).
    */
  final class Summary(val capacity: Int) extends Serializable {
    var n: Long = 0L
    val items = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
    val byCount = scala.collection.mutable.TreeSet.empty[(Long, String)]

    def offer(item: String): Unit = {
      n += 1
      items.get(item) match {
        case Some((c, e)) =>
          byCount.remove((c, item))
          items.update(item, (c + 1, e))
          byCount.add((c + 1, item))
        case None if items.size < capacity =>
          items.update(item, (1L, 0L))
          byCount.add((1L, item))
        case None =>
          val (vc, vict) = byCount.head
          byCount.remove((vc, vict))
          items.remove(vict)
          items.update(item, (vc + 1, vc))
          byCount.add((vc + 1, item))
      }
    }

    /** Min counter for the mergeable-SpaceSaving absent-side rule: 0 while
      * under capacity (nothing was ever evicted), else the smallest count.
      */
    def minCount: Long =
      if (items.size < capacity) 0L else byCount.head._1
  }

  /** Stream-summary SpaceSaving: result-identical to [[SpaceSavingAgg]]
    * (same deterministic eviction victim, same mergeable-SpaceSaving
    * merge rule — property-tested equal in HeavyHittersSpec) with the
    * immutable-Map buffer replaced by [[Summary]]'s mutable map + sorted
    * index. This is the eviction-regime fix the reference impl's scaladoc
    * promises: offer() drops from O(capacity) scan + persistent-map copy
    * to O(log capacity), which is what matters when a skewed 100 TB
    * census runs with capacity in the thousands. Buffer crosses partial/
    * final boundaries via Java serialization — an m-entry cost paid per
    * PARTITION, not per row.
    */
  final class StreamSummaryAgg(capacity: Int)
      extends Aggregator[String, Summary, Seq[Entry]] {
    require(capacity > 0, s"capacity must be positive: $capacity")

    override def zero: Summary = new Summary(capacity)

    override def reduce(b: Summary, item: String): Summary = {
      if (item != null) b.offer(item)
      b
    }

    override def merge(a: Summary, b: Summary): Summary = {
      // same rule as SpaceSavingAgg.merge: absent side contributes its
      // minimum counter as both count and error, then keep the top
      // `capacity` by (count desc, item asc)
      val minA = a.minCount
      val minB = b.minCount
      val combined = (a.items.keySet ++ b.items.keySet).iterator.map { k =>
        val (ac, ae) = a.items.getOrElse(k, (minA, minA))
        val (bc, be) = b.items.getOrElse(k, (minB, minB))
        k -> (ac + bc, ae + be)
      }.toSeq
      val kept =
        if (combined.size <= capacity) combined
        else combined.sortBy { case (k, (c, _)) => (-c, k) }.take(capacity)
      val out = new Summary(capacity)
      out.n = a.n + b.n
      kept.foreach { case (k, (c, e)) =>
        out.items.update(k, (c, e))
        out.byCount.add((c, k))
      }
      out
    }

    override def finish(r: Summary): Seq[Entry] =
      r.items.toSeq
        .map { case (k, (c, e)) => Entry(k, c, e) }
        .sortBy(en => (-en.count, en.item))

    override def bufferEncoder: Encoder[Summary] =
      Encoders.javaSerialization[Summary]
    override def outputEncoder: Encoder[Seq[Entry]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Entry]]()
  }

  /** One-row DataFrame holding the sketch of `itemCol` as
    * `array<struct<item,count,err>>` sorted by count desc, item asc.
    * The Aggregator crosses into the untyped DataFrame world via
    * `functions.udaf`, so the same sketch also composes with groupBy.
    *
    * The default routes through [[StreamSummaryAgg]] — identical results
    * (property-tested), O(log m) eviction path (measured 10-266× faster
    * than the reference scan at m = 256…4096, SCALE.md); `fast = false`
    * selects the [[SpaceSavingAgg]] reference implementation the
    * property tests pin against.
    */
  def sketch(df: DataFrame, itemCol: Column, capacity: Int,
             fast: Boolean = true): DataFrame = {
    val fn =
      if (fast) udaf(new StreamSummaryAgg(capacity), Encoders.STRING)
      else udaf(new SpaceSavingAgg(capacity), Encoders.STRING)
    df.select(itemCol.cast("string").as("item"))
      .agg(fn(col("item")).as("sketch"))
  }
}

package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed top-k aggregator (SURVEY.md §2.9's one custom-Aggregator
  * candidate).
  *
  * Spark 4.1 plans the window form of per-group top-k
  * (`row_number().over(...) <= k`) with a Partial `WindowGroupLimit`
  * before the exchange and a Final one after it (docs/PLANS.txt), so it
  * too ships at most k candidates per group per input partition; what it
  * pays for that is a full sort of each map-side partition. This
  * Aggregator keeps a bounded k-buffer per group on the map side instead
  * of that sort. Ordering is total (value desc, then id asc) so results
  * are deterministic under ties.
  */
object TopKAggregator {

  case class Entry(id: Long, value: Double)

  private def topK(entries: Seq[Entry], k: Int): Seq[Entry] =
    entries.sortBy(e => (-e.value, e.id)).take(k)

  def apply(k: Int): Aggregator[Entry, Seq[Entry], Seq[Entry]] =
    new Aggregator[Entry, Seq[Entry], Seq[Entry]] {
      override def zero: Seq[Entry] = Vector.empty
      override def reduce(buf: Seq[Entry], e: Entry): Seq[Entry] =
        if (buf.size < k) topK(buf :+ e, k)
        else {
          val worst = buf.last // buf kept sorted desc
          if (e.value > worst.value || (e.value == worst.value && e.id < worst.id))
            topK(buf :+ e, k)
          else buf
        }
      override def merge(a: Seq[Entry], b: Seq[Entry]): Seq[Entry] = topK(a ++ b, k)
      override def finish(r: Seq[Entry]): Seq[Entry] = topK(r, k)
      override def bufferEncoder: Encoder[Seq[Entry]] = Encoders.kryo[Seq[Entry]]
      override def outputEncoder: Encoder[Seq[Entry]] = Encoders.kryo[Seq[Entry]]
    }
}

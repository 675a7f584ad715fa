package graft.bench

import graft.server.Wire.PointItem
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** One answer row reduced to what the checks compare: its time key (0
  * when the shape has none) and its numeric values by column name. */
final case class Ans(ts: Long, nums: Map[String, Double])

object Ans {
  private val keyCols = Set("metric", "tags", "series_key", "window_start", "window_end",
    "timestamp")

  /** A row decoded from the wire. */
  def of(i: PointItem): Ans =
    if (i.isAggregated) Ans(i.windowStart, i.aggregated.toMap)
    else Ans(i.timestamp, i.fields.flatMap { case (k, f) =>
      f.d.orElse(f.l.map(_.toDouble)).map(k -> _) })

  /** A row of an in-process or Spark-path result, read by position. */
  def of(r: Row, schema: StructType): Ans = {
    val names = schema.fieldNames
    def at(n: String): Option[Int] = Some(names.indexOf(n)).filter(_ >= 0)
    val ts = at("window_start").orElse(at("timestamp"))
      .filterNot(r.isNullAt).map(k => r.get(k).asInstanceOf[Number].longValue()).getOrElse(0L)
    val nums = names.indices.iterator.filterNot(k => keyCols(names(k)) || r.isNullAt(k))
      .flatMap { k =>
        r.get(k) match {
          case n: java.lang.Number => Iterator(names(k) -> n.doubleValue())
          case m: scala.collection.Map[_, _] if names(k) == "fields" =>
            m.iterator.collect { case (f, s: Row) if !s.isNullAt(0) || !s.isNullAt(1) =>
              f.toString -> (if (!s.isNullAt(0)) s.getDouble(0) else s.getLong(1).toDouble) }
          case _ => Iterator.empty
        }
      }.toMap
    Ans(ts, nums)
  }
}

/** Answer comparisons, run outside every timed window. */
object Check {
  private def close(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** Raw rows of one series against the generator's (ts, value) list. */
  def raw(got: Seq[Ans], expected: Seq[(Long, Double)]): Boolean = {
    val g = got.map(a => (a.ts, a.nums.getOrElse("value", Double.NaN))).sortBy(_._1)
    g.size == expected.size && g.zip(expected).forall { case ((t, v), (et, ev)) =>
      t == et && close(v, ev) }
  }

  /** Downsampled windows (avg, max, count of `value`) of one series
    * against the same aggregation of the generator's points. */
  def windows(got: Seq[Ans], expected: Seq[(Long, Double)], fromNs: Long,
      widthNs: Long): Boolean = {
    val exp = expected.groupBy { case (t, _) => fromNs + (t - fromNs) / widthNs * widthNs }
      .map { case (w, ps) => w -> Seq(ps.map(_._2).sum / ps.size, ps.map(_._2).max, ps.size.toDouble) }
    val g = got.map(a => a.ts -> Seq("avg_value", "max_value", "count_value")
      .map(a.nums.getOrElse(_, Double.NaN))).toMap
    g.size == got.size && g.size == exp.size && exp.forall { case (w, e) =>
      g.get(w).exists(_.zip(e).forall { case (x, y) => close(x, y) }) }
  }

  /** Order-free fingerprint: the sorted time keys and the sorted multiset
    * of every numeric value. */
  private def fingerprint(as: Seq[Ans]): (Seq[Long], Seq[Double]) =
    (as.map(_.ts).sorted, as.flatMap(_.nums.values).sorted)

  /** Two answers to the same question, row order aside. */
  def same(a: Seq[Ans], b: Seq[Ans]): Boolean = {
    val (t1, v1) = fingerprint(a)
    val (t2, v2) = fingerprint(b)
    a.size == b.size && t1 == t2 && v1.size == v2.size &&
      v1.zip(v2).forall { case (x, y) => close(x, y) }
  }
}

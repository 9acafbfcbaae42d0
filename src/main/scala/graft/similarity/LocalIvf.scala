package graft.similarity

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.expressions.ArrayDot

/** The IVF search plan ([[Similarity.ivfQueryProbes]] →
  * [[Similarity.ivfScore]] → [[Similarity.rankTopK]]) replayed on the
  * driver for [[AnnIndex.searchIvf]]'s local route, with the plan's own
  * arithmetic: every dot product is [[ArrayDot.dot]], vectors are read as
  * the plan casts them to `array<double>`, cosines round as Spark's
  * HALF_UP `round(_, 6)`, and orderings follow Spark's double ordering
  * (-0.0 equals 0.0, NaN sorts above every number). Ids are int, long or
  * string; the caller routes everything else to the plan. */
private[graft] object LocalIvf {

  /** A probe-frame query: id (null kept; it matches no candidate), raw
    * vector and its norm, which is > 0 or NaN. */
  final case class Query(id: Any, v: ArrayData, norm: Double)

  /** A stored corpus row: id, raw vector `__cv`, stored norm `__cn`. */
  final case class Cand(id: Any, v: ArrayData, norm: java.lang.Double)

  /** A numeric array value — a collected row's Seq, or an `Array[Double]`
    * / `Array[Any]` from [[graft.io.DriverParquet.readColumns]] — as the
    * `array<double>` the plan casts it to, null elements kept; null stays
    * null. */
  def doubles(xs: Any): ArrayData = xs match {
    case null             => null
    case a: Array[Double] => ArrayData.toArrayData(a)
    case a: Array[Any]    => doubles(a.toSeq)
    case s: collection.Seq[_] if s.forall(_ != null) =>
      ArrayData.toArrayData(s.map(_.asInstanceOf[Number].doubleValue).toArray)
    case s: collection.Seq[_] => new GenericArrayData(s.map {
      case null => null
      case x    => x.asInstanceOf[Number].doubleValue
    }.toArray[Any])
  }

  /** `l2Norm`: sqrt of the self dot product. */
  def l2Norm(v: ArrayData): Double = math.sqrt(ArrayDot.dot(v, v))

  /** The probe frame from collected (id, vector) rows: zero- and
    * null-norm queries are dropped and NaN norms kept, as Spark's
    * `__qn > 0` does. */
  def queries(rows: Array[Row]): Seq[Query] =
    rows.toSeq.flatMap { r =>
      Option(doubles(r.get(1))).map(v => Query(r.get(0), v, l2Norm(v)))
        .filter(q => q.norm > 0 || q.norm.isNaN)
    }

  /** The `probes` cells nearest to `q` by (c·c − 2·u·c, cell) over the unit
    * query u = v / ‖v‖, nulls first, as the probe window ranks them. */
  def probedCells(q: Query, cents: Seq[(Int, ArrayData)], probes: Int): Seq[Int] = {
    val u = new GenericArrayData((0 until q.v.numElements()).map(i =>
      if (q.v.isNullAt(i)) null else q.v.getDouble(i) / q.norm).toArray[Any])
    val dist = cents.map { case (cell, c) =>
      (if (c == null) None else Some(ArrayDot.dot(c, c) - 2.0 * ArrayDot.dot(u, c)), cell)
    }
    dist.sortWith { case ((da, ca), (db, cb)) =>
      val byDist = (da, db) match {
        case (None, None)       => 0
        case (None, _)          => -1
        case (_, None)          => 1
        case (Some(a), Some(b)) => compareDoubles(a, b)
      }
      byDist < 0 || (byDist == 0 && ca < cb)
    }.take(probes).map(_._2)
  }

  /** Spark's `round(x, 6)` on a double: HALF_UP on the shortest decimal
    * representation; NaN and infinities pass through. */
  def round6(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** `round(dot(cv, qv) / (cn · qn), 6)`; null where a factor is null or
    * the divisor is 0 (Spark's non-ANSI division). */
  def cosine(c: Cand, q: Query): java.lang.Double =
    if (c.v == null || c.norm == null) null
    else {
      val den = c.norm * q.norm
      if (den == 0.0) null else round6(ArrayDot.dot(c.v, q.v) / den)
    }

  /** `id =!= query_id` is true: both non-null and unequal. */
  def distinctIds(a: Any, b: Any): Boolean = (a, b) match {
    case (null, _) | (_, null)  => false
    case (x: Number, y: Number) => x.longValue != y.longValue
    case (x, y)                 => x != y
  }

  /** The top `k` of one query's scored candidates by (cosine DESC NULLS
    * LAST, id ASC), as (id, cosine, rank). */
  def topK(scored: Seq[(Any, java.lang.Double)], k: Int): Seq[(Any, java.lang.Double, Int)] =
    scored.sortWith { case ((ia, ca), (ib, cb)) =>
      val byCos = (ca, cb) match {
        case (null, null) => 0
        case (null, _)    => 1
        case (_, null)    => -1
        case (a, b)       => -compareDoubles(a, b)
      }
      byCos < 0 || (byCos == 0 && compareIds(ia, ib) < 0)
    }.take(k).zipWithIndex.map { case ((id, c), i) => (id, c, i + 1) }

  /** Per-shard top-k lists merged as the bounded-heap merge ranks them:
    * (cosine DESC NULLS LAST, id ASC) per query, k kept, ranks from 1. */
  def mergeTopK(rows: Seq[Row], k: Int): Seq[Row] =
    rows.groupBy(_.get(0)).toSeq.flatMap { case (qid, rs) =>
      topK(rs.map(r => (r.get(1), r.getAs[java.lang.Double](2))), k)
        .map { case (id, c, rank) => Row(qid, id, c, rank) }
    }

  /** Spark's SQL double ordering: -0.0 equals 0.0, NaN is above all. */
  private def compareDoubles(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** Ascending id order: numbers by value, strings by UTF-8 bytes. */
  private def compareIds(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) => UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    case (x: Number, y: Number) => java.lang.Long.compare(x.longValue, y.longValue)
    case _                      => 0
  }
}

package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed UDAF (SURVEY §2.10): geometric mean as an [[Aggregator]],
  * registered into the SQL function registry by
  * [[graft.GraftExtensions.install]] so analysts call it as `geomean(x)`
  * in plain SQL.
  *
  * The buffer is (Σ ln x, n) — mergeable, so Spark computes map-side
  * partials and combines per-partition buffers: the aggregate moves two
  * doubles per partition through the exchange regardless of input size,
  * exactly like the built-in codegen'd aggregates. Non-positive inputs
  * are skipped (counted out), matching the SQL convention of ignoring
  * rows a function is undefined on rather than poisoning the group.
  */
object GeoMeanUdaf extends Aggregator[Double, (Double, Long), Double] {
  override def zero: (Double, Long) = (0.0, 0L)

  override def reduce(b: (Double, Long), x: Double): (Double, Long) =
    if (x > 0.0) (b._1 + math.log(x), b._2 + 1) else b

  override def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) =
    (a._1 + b._1, a._2 + b._2)

  override def finish(b: (Double, Long)): Double =
    if (b._2 == 0L) Double.NaN else math.exp(b._1 / b._2)

  override def bufferEncoder: Encoder[(Double, Long)] =
    Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)

  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

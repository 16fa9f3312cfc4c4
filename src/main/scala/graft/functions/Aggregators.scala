package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import scala.collection.immutable.TreeMap

/** Custom aggregate functions the reference has and Spark lacks
  * (SURVEY.md §7.3): dict_sum, top_by/bottom_by, checked_sum, bool_xor,
  * linear histogram. All are `Aggregator[IN, BUF, OUT]` — merge-able
  * buffers, so Spark runs them partial+final like any builtin (map-side
  * combine works; nothing is collected to the driver).
  *
  * Register with `functions.udaf(...)`; see Agg.register.
  */
object Aggregators {

  /** dict_sum (builtin_function_registry.cpp:270-278): merge maps,
    * summing values per key.
    */
  /** dict_sum moved to [[graft.functions.DictSumAgg]], a native
    * TypedImperativeAggregate — an `Aggregator[Map, Map, Map]` pays an
    * encoder round trip of the whole map per input row. */
  def dictSum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.DictSumAgg(c)

  /** top_by(value, key, k): the k values with largest keys, descending —
    * a bounded heap per buffer (YQL top/bottom_by, builtin.cpp). Ties on
    * key are broken by value ordering for determinism.
    */
  def topBy(k: Int): Aggregator[(Long, Double), Seq[(Double, Long)], Seq[Long]] =
    new Aggregator[(Long, Double), Seq[(Double, Long)], Seq[Long]] {
      private def trim(s: Seq[(Double, Long)]): Seq[(Double, Long)] =
        s.sortBy { case (key, v) => (-key, v) }.take(k)
      def zero: Seq[(Double, Long)] = Seq.empty
      def reduce(b: Seq[(Double, Long)], a: (Long, Double)): Seq[(Double, Long)] =
        trim(b :+ ((a._2, a._1)))
      def merge(x: Seq[(Double, Long)], y: Seq[(Double, Long)]): Seq[(Double, Long)] =
        trim(x ++ y)
      def finish(r: Seq[(Double, Long)]): Seq[Long] = r.map(_._2)
      def bufferEncoder: Encoder[Seq[(Double, Long)]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
      def outputEncoder: Encoder[Seq[Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
    }

  /** bottom_by(value, key, k): the k values with smallest keys,
    * ascending — mirror of [[topBy]] (YQL BottomBy, builtin.cpp).
    */
  def bottomBy(k: Int): Aggregator[(Long, Double), Seq[(Double, Long)], Seq[Long]] =
    new Aggregator[(Long, Double), Seq[(Double, Long)], Seq[Long]] {
      private def trim(s: Seq[(Double, Long)]): Seq[(Double, Long)] =
        s.sortBy { case (key, v) => (key, v) }.take(k)
      def zero: Seq[(Double, Long)] = Seq.empty
      def reduce(b: Seq[(Double, Long)], a: (Long, Double)): Seq[(Double, Long)] =
        trim(b :+ ((a._2, a._1)))
      def merge(x: Seq[(Double, Long)], y: Seq[(Double, Long)]): Seq[(Double, Long)] =
        trim(x ++ y)
      def finish(r: Seq[(Double, Long)]): Seq[Long] = r.map(_._2)
      def bufferEncoder: Encoder[Seq[(Double, Long)]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
      def outputEncoder: Encoder[Seq[Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
    }

  /** top(value, k): the k largest values, descending (YQL Top — plain
    * form, builtin.cpp:3244). Bounded buffer, so map-side partials stay
    * k-sized through the shuffle. */
  def top(k: Int): Aggregator[Double, Seq[Double], Seq[Double]] =
    new Aggregator[Double, Seq[Double], Seq[Double]] {
      private def trim(s: Seq[Double]): Seq[Double] = s.sorted(Ordering[Double].reverse).take(k)
      def zero: Seq[Double] = Seq.empty
      def reduce(b: Seq[Double], a: Double): Seq[Double] = trim(b :+ a)
      def merge(x: Seq[Double], y: Seq[Double]): Seq[Double] = trim(x ++ y)
      def finish(r: Seq[Double]): Seq[Double] = r
      def bufferEncoder: Encoder[Seq[Double]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
      def outputEncoder: Encoder[Seq[Double]] = bufferEncoder
    }

  /** bottom(value, k): the k smallest values, ascending (YQL Bottom). */
  def bottom(k: Int): Aggregator[Double, Seq[Double], Seq[Double]] =
    new Aggregator[Double, Seq[Double], Seq[Double]] {
      private def trim(s: Seq[Double]): Seq[Double] = s.sorted.take(k)
      def zero: Seq[Double] = Seq.empty
      def reduce(b: Seq[Double], a: Double): Seq[Double] = trim(b :+ a)
      def merge(x: Seq[Double], y: Seq[Double]): Seq[Double] = trim(x ++ y)
      def finish(r: Seq[Double]): Seq[Double] = r
      def bufferEncoder: Encoder[Seq[Double]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
      def outputEncoder: Encoder[Seq[Double]] = bufferEncoder
    }

  /** checked_sum: like sum but overflow errors instead of wrapping
    * (YQL CheckedSum).
    */
  val checkedSum: Aggregator[Long, Long, Long] = new Aggregator[Long, Long, Long] {
    def zero: Long = 0L
    def reduce(b: Long, a: Long): Long = Math.addExact(b, a)
    def merge(x: Long, y: Long): Long = Math.addExact(x, y)
    def finish(r: Long): Long = r
    def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** bool_xor: true iff an odd number of true inputs (YQL BoolXor). */
  val boolXor: Aggregator[Boolean, Boolean, Boolean] =
    new Aggregator[Boolean, Boolean, Boolean] {
      def zero: Boolean = false
      def reduce(b: Boolean, a: Boolean): Boolean = b ^ a
      def merge(x: Boolean, y: Boolean): Boolean = x ^ y
      def finish(r: Boolean): Boolean = r
      def bufferEncoder: Encoder[Boolean] = Encoders.scalaBoolean
      def outputEncoder: Encoder[Boolean] = Encoders.scalaBoolean
    }

  /** Linear histogram (YQL LinearHistogram): fixed-width bins from 0,
    * returns (binStart, count) pairs sorted by bin.
    */
  def linearHistogram(binWidth: Double): Aggregator[Double, Map[Long, Long], Seq[(Double, Long)]] =
    new Aggregator[Double, Map[Long, Long], Seq[(Double, Long)]] {
      def zero: Map[Long, Long] = Map.empty
      def reduce(b: Map[Long, Long], a: Double): Map[Long, Long] = {
        val bin = math.floor(a / binWidth).toLong
        b.updated(bin, b.getOrElse(bin, 0L) + 1L)
      }
      def merge(x: Map[Long, Long], y: Map[Long, Long]): Map[Long, Long] =
        y.foldLeft(x) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0L) + v) }
      def finish(r: Map[Long, Long]): Seq[(Double, Long)] =
        r.toSeq.sortBy(_._1).map { case (bin, n) => (bin * binWidth, n) }
      def bufferEncoder: Encoder[Map[Long, Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[Long, Long]]()
      def outputEncoder: Encoder[Seq[(Double, Long)]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
    }

  /** Running-sum view: histogram bins → CDF bins (the YQL *CDF
    * histogram variants, builtin.cpp histogram_cdf_* factories). */
  private def toCdf(bins: Seq[(Double, Long)]): Seq[(Double, Long)] =
    bins.scanLeft((0.0, 0L)) { case ((_, acc), (p, c)) => (p, acc + c) }.drop(1)

  /** LinearHistogramCDF: fixed-width bins, cumulative counts. */
  def linearHistogramCdf(binWidth: Double): Aggregator[Double, Map[Long, Long], Seq[(Double, Long)]] =
    new Aggregator[Double, Map[Long, Long], Seq[(Double, Long)]] {
      private val base = linearHistogram(binWidth)
      def zero: Map[Long, Long] = base.zero
      def reduce(b: Map[Long, Long], a: Double): Map[Long, Long] = base.reduce(b, a)
      def merge(x: Map[Long, Long], y: Map[Long, Long]): Map[Long, Long] = base.merge(x, y)
      def finish(r: Map[Long, Long]): Seq[(Double, Long)] = toCdf(base.finish(r))
      def bufferEncoder: Encoder[Map[Long, Long]] = base.bufferEncoder
      def outputEncoder: Encoder[Seq[(Double, Long)]] = base.outputEncoder
    }

  /** LogHistogramCDF: logarithmic bins, cumulative counts. */
  def logHistogramCdf(base10: Double = 10.0): Aggregator[Double, Map[Long, Long], Seq[(Double, Long)]] =
    new Aggregator[Double, Map[Long, Long], Seq[(Double, Long)]] {
      private val base = logHistogram(base10)
      def zero: Map[Long, Long] = base.zero
      def reduce(b: Map[Long, Long], a: Double): Map[Long, Long] = base.reduce(b, a)
      def merge(x: Map[Long, Long], y: Map[Long, Long]): Map[Long, Long] = base.merge(x, y)
      def finish(r: Map[Long, Long]): Seq[(Double, Long)] = toCdf(base.finish(r))
      def bufferEncoder: Encoder[Map[Long, Long]] = base.bufferEncoder
      def outputEncoder: Encoder[Seq[(Double, Long)]] = base.outputEncoder
    }

  /** Logarithmic histogram (YQL LogHistogram,
    * udfs/common/histogram): bin = floor(log_base(x)) for x > 0, bin
    * -1 collects non-positives. Returns (binStart, count) sorted. */
  def logHistogram(base: Double = 10.0): Aggregator[Double, Map[Long, Long], Seq[(Double, Long)]] =
    new Aggregator[Double, Map[Long, Long], Seq[(Double, Long)]] {
      def zero: Map[Long, Long] = Map.empty
      def reduce(b: Map[Long, Long], a: Double): Map[Long, Long] = {
        val bin = if (a <= 0.0) -1L
          else math.floor(math.log(a) / math.log(base)).toLong
        b.updated(bin, b.getOrElse(bin, 0L) + 1L)
      }
      def merge(x: Map[Long, Long], y: Map[Long, Long]): Map[Long, Long] =
        y.foldLeft(x) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0L) + v) }
      def finish(r: Map[Long, Long]): Seq[(Double, Long)] =
        r.toSeq.sortBy(_._1).map { case (bin, n) =>
          (if (bin < 0) 0.0 else math.pow(base, bin.toDouble), n) }
      def bufferEncoder: Encoder[Map[Long, Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[Long, Long]]()
      def outputEncoder: Encoder[Seq[(Double, Long)]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
    }
}

package graft.functions

import org.apache.spark.sql.{Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.Aggregator

import scala.collection.mutable

/** E6 (SURVEY.md §2.8) — showcase typed `Aggregator`: the reference's
  * weighted store score (views.py:33-37) as ONE single-pass exact
  * multi-distinct aggregate.
  *
  * Functionally redundant with the declarative per-store distinct counts
  * + arithmetic of `RetailQueries.topMagasins` (the oracle-checked q5) —
  * kept as the worked example of the engine's custom-aggregation surface:
  * an `Aggregator[Row, BUF, Double]` with mutable distinct-set buffers,
  * registered with `udaf(...)` for SQL use, and as an independent
  * cross-check of q5's scores. The buffer holds per-group distinct sets, so
  * it is exact; like the declarative form's `collect_set`s, each set is
  * bounded by a dimension's cardinality (the store's brands, categories or
  * products), never by the number of fact rows.
  */
object WeightedScore {

  case class Buf(
      fabs: mutable.HashSet[String],
      cats: mutable.HashSet[String],
      prods: mutable.HashSet[Long],
      var cnt: Long)

  /** score = |fab|·wFab + |cat|·wCat + |prod|·wProd + n·wCnt */
  class ScoreAggregator(wFab: Double, wCat: Double, wProd: Double, wCnt: Double)
      extends Aggregator[Row, Buf, Double] {

    override def zero: Buf =
      Buf(mutable.HashSet.empty, mutable.HashSet.empty, mutable.HashSet.empty, 0L)

    override def reduce(b: Buf, r: Row): Buf = {
      b.fabs += r.getAs[String]("fabid")
      b.cats += r.getAs[String]("catid")
      b.prods += r.getAs[Long]("prodid")
      b.cnt += 1
      b
    }

    override def merge(x: Buf, y: Buf): Buf = {
      x.fabs ++= y.fabs; x.cats ++= y.cats; x.prods ++= y.prods; x.cnt += y.cnt
      x
    }

    override def finish(b: Buf): Double =
      b.fabs.size * wFab + b.cats.size * wCat + b.prods.size * wProd + b.cnt * wCnt

    override def bufferEncoder: Encoder[Buf] = Encoders.kryo[Buf]
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** The Q5 weighting (views.py:34-37). */
  def q5Aggregator: ScoreAggregator = new ScoreAggregator(0.1, 0.2, 0.3, 0.4)
}

package graft.operators

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD

/** The driver side of exact rank selection, shared by the scalar path
  * ([[Tokenize.selectRanks]], under the quantile boundaries and the
  * per-group quantiles) and the composite-key rank tokenizer
  * ([[Tokenize.tokenizeRankSelect]]). Each caller runs its own three
  * executor jobs over its own row form: a sample that picks per-column
  * split points, a flat (column, bucket) histogram against those splits,
  * and a gather of the values in the buckets that hold a needed rank,
  * keyed by (column, gather slot). This object does the rest:
  *
  *  - [[Located]] turns the histogram into cumulative counts, locates every
  *    needed 0-based rank as a (bucket, in-bucket offset), and builds the
  *    bucket → gather-slot tables the gather job reads;
  *  - [[pick]] sorts each needed bucket's candidates and reads the ranks
  *    at their offsets, on the driver or, above the collect budget, on the
  *    executors after a `reduceByKey`;
  *  - [[withBroadcasts]] owns every broadcast of a call and destroys them
  *    on every exit path, a failed `require` or job included. */
private[operators] object RankSelection {

  /** Broadcasts made through `apply` live until the enclosing
    * [[withBroadcasts]] returns or throws. */
  final class Broadcasts private[RankSelection] (sc: SparkContext) {
    private[RankSelection] val held = mutable.ArrayBuffer.empty[Broadcast[_]]
    def apply[T: ClassTag](v: T): Broadcast[T] = {
      val b = sc.broadcast(v)
      held += b
      b
    }
  }

  def withBroadcasts[T](sc: SparkContext)(body: Broadcasts => T): T = {
    val bc = new Broadcasts(sc)
    try body(bc) finally bc.held.foreach(_.destroy())
  }

  /** Where the needed ranks lie. `hist` holds column `ci`'s bucket counts
    * at `flatOff(ci) until flatOff(ci + 1)` (slots past `flatOff.last` are
    * the caller's); `ranksOf(ci, n)` names the 0-based ranks column `ci`
    * needs, given its `n` counted values, each in `[0, n)`. */
  final class Located(hist: Array[Long], flatOff: Array[Int],
                      ranksOf: (Int, Long) => Seq[Long]) {
    private val k = flatOff.length - 1
    private val cums: Array[Array[Long]] = Array.tabulate(k) { ci =>
      val cum = new Array[Long](flatOff(ci + 1) - flatOff(ci) + 1)
      (1 until cum.length).foreach(b => cum(b) = cum(b - 1) + hist(flatOff(ci) + b - 1))
      cum
    }
    /** Per column, the values the histogram counted. */
    val counts: Array[Long] = cums.map(_.last)
    // per column: needed bucket -> the needed ranks' in-bucket offsets
    private val offsets: Array[Seq[(Int, Array[Long])]] = Array.tabulate(k) { ci =>
      val cum = cums(ci)
      val nb = cum.length - 1
      ranksOf(ci, counts(ci)).distinct.groupBy { p =>
        java.util.Arrays.binarySearch(cum, p) match {
          case i if i >= 0 =>
            var j = i; while (j < nb && cum(j + 1) == cum(j)) j += 1; j
          case i => -i - 2
        }
      }.toSeq.sortBy(_._1).map { case (b, ps) => b -> ps.map(_ - cum(b)).toArray }
    }
    /** Per column, bucket → gather slot (−1 = not needed), so the gather
      * job's membership test is one int read. */
    val slots: Array[Array[Int]] = Array.tabulate(k) { ci =>
      val slot = Array.fill(cums(ci).length - 1)(-1)
      offsets(ci).iterator.zipWithIndex.foreach { case ((b, _), j) => slot(b) = j }
      slot
    }
    /** Per column and slot, the needed in-bucket offsets. */
    val slotOffsets: Array[Array[Array[Long]]] = offsets.map(_.map(_._2).toArray)
    /** Per column and slot, the rank of the bucket's first value. */
    val slotBase: Array[Array[Long]] = Array.tabulate(k)(ci =>
      offsets(ci).map { case (b, _) => cums(ci)(b) }.toArray)
    /** The values the gather job keeps. */
    val volume: Long = (0 until k).iterator
      .flatMap(ci => offsets(ci).iterator.map { case (b, _) => hist(flatOff(ci) + b) }).sum
  }

  /** Per column, rank → value for every rank [[Located]] placed. `cand`
    * holds one or more arrays of candidates per (column, slot); `sort`
    * orders a slot's merged candidates the way ranks count them. With
    * `collect` the candidates are merged and sorted on the driver;
    * otherwise each slot is merged by `reduceByKey` and sorted on the
    * executors, and only the picked values come back. */
  def pick[E: ClassTag](cand: RDD[((Int, Int), Array[E])], loc: Located, collect: Boolean,
                        sort: Array[E] => Unit, bc: Broadcasts): Array[Map[Long, E]] = {
    val picked: Array[((Int, Int), Array[E])] =
      if (collect) {
        val merged = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuilder[E]]
        cand.collect().foreach { case (key, arr) =>
          merged.getOrElseUpdate(key, mutable.ArrayBuilder.make[E]) ++= arr
        }
        merged.iterator.map { case (key @ (ci, j), ab) =>
          val arr = ab.result()
          sort(arr)
          key -> loc.slotOffsets(ci)(j).map(off => arr(off.toInt))
        }.toArray
      } else {
        val offB = bc(loc.slotOffsets)
        cand.reduceByKey(_ ++ _).map { case (key @ (ci, j), arr) =>
          sort(arr)
          key -> offB.value(ci)(j).map(off => arr(off.toInt))
        }.collect()
      }
    val byCol = picked.groupBy(_._1._1)
    Array.tabulate(loc.counts.length) { ci =>
      byCol.getOrElse(ci, Array.empty[((Int, Int), Array[E])]).iterator.flatMap {
        case ((_, j), vs) => loc.slotOffsets(ci)(j).iterator.map(loc.slotBase(ci)(j) + _).zip(vs)
      }.toMap
    }
  }
}

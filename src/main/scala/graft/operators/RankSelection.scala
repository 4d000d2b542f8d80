package graft.operators

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

import graft.functions.BucketizeGrid

/** The shared scaffold of exact rank selection, used by the scalar path
  * ([[Tokenize.selectRanks]], under the quantile boundaries and the
  * per-group quantiles) and the composite-key rank tokenizer
  * ([[Tokenize.tokenizeRankSelect]]). Both run the same three executor
  * jobs over their input, decoded once per call into a cache of primitive
  * arrays: a strided sample that picks per-column split points, a flat
  * (column, bucket) histogram against those splits, and a gather of the
  * values in the buckets that hold a needed rank, keyed by (column,
  * gather slot). Each caller keeps its own decode and inner loops (a
  * double search, or a lexicographic search over composite keys); this
  * object holds the rest:
  *
  *  - [[withCall]] owns every broadcast and the decoded cache of a call
  *    and releases them on every exit path, a failed `require` or job
  *    included;
  *  - [[underCallSite]] names a job for listeners and the UI;
  *  - [[stride]], [[strided]] and [[splitIndices]] are the sample rule:
  *    every s-th item of each task, about 4 per bucket, then equi-depth
  *    split points over the sorted sample;
  *  - [[histogram]] and [[gather]] run the second and third jobs around
  *    the caller's per-chunk loop;
  *  - [[Located]] turns the histogram into cumulative counts, locates every
  *    needed 0-based rank as a (bucket, in-bucket offset), and builds the
  *    bucket → gather-slot tables the gather job reads, and, over the
  *    grids the histogram searched, one candidate mask per column
  *    ([[Located.candidateMasks]]). The gather searches only the values
  *    whose grid cell the mask admits: about 1% of the values fall in a
  *    needed bucket, and a search for the rest would only prove that
  *    again. Per-bucket offsets from a counting sort in the histogram
  *    job would do the same, but for 8,192 buckets they outweigh the
  *    ~4,096 values of a cached batch, and a recomputed block would have
  *    to rebuild them; the masks are one boolean per cell (about 32 K per
  *    column) and change nothing in the cache;
  *  - [[pick]] sorts each needed bucket's candidates and reads the ranks
  *    at their offsets, on the driver or, above the collect budget, on the
  *    executors after a `reduceByKey`. */
private[operators] object RankSelection {

  /** The resources of one call: broadcasts made through [[broadcast]] and
    * RDDs persisted through [[cache]] live until the enclosing
    * [[withCall]] returns or throws. */
  final class Call private[RankSelection] (sc: SparkContext) {
    private[RankSelection] val held = mutable.ArrayBuffer.empty[Broadcast[_]]
    private[RankSelection] val cached = mutable.ArrayBuffer.empty[RDD[_]]
    def broadcast[T: ClassTag](v: T): Broadcast[T] = {
      val b = sc.broadcast(v)
      held += b
      b
    }
    /** `rdd` persisted `MEMORY_ONLY` for the call. A block that does not
      * fit, or is evicted, is computed again by its lineage: nothing
      * spills, and no result depends on what stayed cached. */
    def cache[T](rdd: RDD[T]): RDD[T] = {
      cached += rdd
      rdd.persist(StorageLevel.MEMORY_ONLY)
    }
  }

  def withCall[T](sc: SparkContext)(body: Call => T): T = {
    val call = new Call(sc)
    try body(call)
    finally try call.cached.foreach(_.unpersist(blocking = true))
    finally call.held.foreach(_.destroy())
  }

  /** Runs `f`'s jobs under the call site `name`, then restores the
    * caller's call site (a job group or other local property is left as
    * it is). */
  def underCallSite[T](sc: SparkContext, name: String)(f: => T): T = {
    val keys = Seq("callSite.short", "callSite.long")
    val saved = keys.map(sc.getLocalProperty)
    keys.foreach(sc.setLocalProperty(_, name))
    try f finally keys.zip(saved).foreach { case (key, v) => sc.setLocalProperty(key, v) }
  }

  /** The sample stride s = `totalRows` / (4·numBuckets), at least 1: a
    * dense column yields ~4 sampled values per bucket. Fewer made the
    * bucket sizes vary enough to slow the histogram and gather jobs; more
    * only cost the sample's sort and transfer. */
  def stride(totalRows: Long, numBuckets: Int): Long = math.max(1L, totalRows / (4L * numBuckets))

  /** Calls `take` on every `stride`-th index of a chunk of `len` items,
    * from `from`, and returns where the next chunk of the same task
    * starts. A task starts at `stride / 2`. No RNG: the sample is the
    * same on every run and every retry. */
  def strided(len: Int, from: Long, stride: Long)(take: Int => Unit): Long = {
    var p = from
    while (p < len) { take(p.toInt); p += stride }
    p - len
  }

  /** The indices of at most `numBuckets` − 1 equi-depth split points in a
    * sorted sample of `len` items. The splits only steer how coarse the
    * buckets are, never the result: a biased sample only enlarges the
    * candidate buckets, which the collect budget absorbs. */
  def splitIndices(len: Int, numBuckets: Int): Iterator[Int] = {
    val b = math.min(numBuckets, len)
    (1 until b).iterator.map(i => ((i.toLong * len) / b).toInt)
  }

  /** The histogram job over a call's decoded chunks: `add` counts one
    * chunk into a partition-local flat (column, bucket) array of `size`
    * counts, and the partitions' arrays are summed. */
  def histogram[T](decoded: RDD[T], size: Int)(add: (T, Array[Long]) => Unit): Array[Long] =
    decoded.mapPartitions { it =>
      val acc = new Array[Long](size)
      it.foreach(add(_, acc))
      Iterator.single(acc)
    }.treeReduce { (a, b) =>
      var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
    }

  /** The gather job's candidates: `add` appends one decoded chunk's
    * candidates to partition-local builders, one per (column, gather slot)
    * of `slots` ([[Located.slots]]); each partition emits its non-empty
    * ones keyed by (column, slot). */
  def gather[T, E: ClassTag](decoded: RDD[T], slots: Broadcast[Array[Array[Int]]])(
      add: (T, Array[Array[mutable.ArrayBuilder[E]]]) => Unit): RDD[((Int, Int), Array[E])] =
    decoded.mapPartitions { it =>
      val bufs = slots.value.map(sl => Array.fill(sl.count(_ >= 0))(mutable.ArrayBuilder.make[E]))
      it.foreach(add(_, bufs))
      bufs.iterator.zipWithIndex.flatMap { case (bs, ci) =>
        bs.iterator.zipWithIndex.map { case (b, j) => ((ci, j), b.result()) }
      }.filter(_._2.nonEmpty)
    }

  /** Where the needed ranks lie. `hist` holds column `ci`'s bucket counts
    * at `flatOff(ci) until flatOff(ci + 1)`; `ranksOf(ci, n)` names the
    * 0-based ranks column `ci` needs, given its `n` counted values, each in
    * `[0, n)`. */
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
    /** Per column, the [[graft.functions.BucketizeGrid.candidateMask]] of
      * its needed buckets over `grids(ci)`, the grid the histogram
      * searched: the gather job searches only the values it admits. */
    def candidateMasks(grids: Array[BucketizeGrid]): Array[Array[Boolean]] =
      Array.tabulate(k)(ci => grids(ci).candidateMask(slots(ci)))
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
                        sort: Array[E] => Unit, call: Call): Array[Map[Long, E]] = {
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
        val offB = call.broadcast(loc.slotOffsets)
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

package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.{Pipeline, SparkEntry}
import graft.operators.Tokenize

/** One operation of a workload: the calls it makes into the engine, the
  * module that owns them, and the fingerprint of what it wrote. */
final case class Op(name: String, module: String, run: (SparkSession, Tracer) => Fingerprint)

trait Workload {
  /** Untimed-by-op set-up work (data generation); counted in set-up time. */
  def prepare(spark: SparkSession): Unit
  def ops: Seq[Op]
  /** Typical wall of one warm pass on 4 cores; sets the pass count. */
  def nominalPassS: Double
  /** Untimed passes before measuring: the first pass of a fresh JVM pays
    * class loading, code generation and lazily built state. */
  def warmupPasses: Int = 1
  /** The ops of pass `pass` (0 for warm-up), in the order the seed gives. */
  def order(pass: Int): Seq[Op]
}

object Workloads {
  val Bins = 100

  /** `queries` names the contract queries of `contract_batch`
    * (perfbench/run.py keeps the list). */
  def apply(name: String, seed: Long, dataDir: String, workDir: String,
      queries: Seq[String]): Workload = name match {
    case "tokenize_ref" => new TokenizeRef(seed, s"$workDir/tokenize_ref.parquet", 1200000L, 20)
    case "contract_batch" => new Queries(queries, seed, dataDir, 4.5)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The module a query belongs to: the object whose `queries` map built
    * the query's function, read from the function's class name
    * (`graft.operators.Tokenize$$$Lambda...` is `Tokenize`). */
  def moduleOf(fn: AnyRef): String = fn.getClass.getName.takeWhile(_ != '$').split('.').last
}

/** The paper's pipeline: a wide i.i.d. normal table written once as
  * multi-file parquet, then per iteration scan, exact quantile boundaries
  * and bucketize into the fingerprint sink. The seed sets the data. */
final class TokenizeRef(seed: Long, path: String, val rows: Long, val cols: Int) extends Workload {
  import Workloads.Bins

  def prepare(spark: SparkSession): Unit =
    Pipeline.writeIgnore(Pipeline.syntheticTable(spark, rows, cols, seed), path)

  val ops: Seq[Op] = Seq(Op("tokenize_ref", "Tokenize", (spark, tr) => {
    val df = tr("sources.scan") {
      val d = spark.read.parquet(path)
      d.count()
      d
    }
    val names = df.columns.toSeq
    val bounds = tr("Tokenize.boundaries") {
      Tokenize.quantileBoundsSelect(df, names, Tokenize.innerProbs(Bins))
    }
    tr("Tokenize.bucketize") {
      FingerprintSink.write(
        df.select(names.map(c => Tokenize.discretize(col(c), bounds(c), Bins).as(c)): _*), Bins)
    }
  }))

  def order(pass: Int): Seq[Op] = ops
  val nominalPassS = 2.5
  // the second iteration is still ~25% slower than later ones (JIT)
  override val warmupPasses = 2
}

/** Contract queries, each built through `SparkEntry.queries` (a live
  * drain runs inside that call) and written to the fingerprint sink. The
  * seed sets the order of every pass. */
final class Queries(names: Seq[String], seed: Long, dir: String,
    val nominalPassS: Double) extends Workload {
  val ops: Seq[Op] = {
    val all = SparkEntry.queries
    names.map { n =>
      val fn = all(n)
      Op(n, Workloads.moduleOf(fn), (spark, tr) => {
        val df = tr("SparkEntry.build")(fn(spark, dir))
        tr("sink")(FingerprintSink.write(df))
      })
    }
  }

  def prepare(spark: SparkSession): Unit = ()

  def order(pass: Int): Seq[Op] = new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
}

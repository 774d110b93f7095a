package graft

import org.apache.spark.sql.{GraftColumnBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.Lsh
import graft.plans.{AsOfJoinStrategy, CmsCountersAgg, DamerauLevenshtein, DistinctNGrams, HllEstimateAgg, KmvEstimateAgg, MinHashSig, MisraGriesTopK, NfcCaseFold, PolyFingerprint, SimHash, TopKPairsAgg, VecDot}

/** SQL surface for the graft kernels: every custom expression is callable
  * from `spark.sql(...)` as `graft_*`, so SQL-first users of the library
  * (the reference's Jinja-rendered-SQL audience) get the same operators as
  * the DataFrame API.
  *
  * Two registration paths:
  * - config: `spark.sql.extensions=graft.GraftExtensions` (new sessions)
  * - imperative: `GraftFunctions.install(spark)` (live sessions)
  */
object GraftFunctions {

  private def lit2Int(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** (name, builder) for every exposed function. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_fingerprint" -> (args => PolyFingerprint(args.head)),
    "graft_vec_dot"     -> (args => VecDot(args(0), args(1))),
    "graft_minhash"     -> (args => MinHashSig(args.head, Lsh.A, Lsh.B, Lsh.P)),
    "graft_simhash"     -> (args => SimHash(args.head, Lsh.GA, Lsh.GB, Lsh.TwoPow32, Lsh.SimBits)),
    "graft_ngrams"      -> (args => DistinctNGrams(args(0), lit2Int(args(1), "graft_ngrams n"))),
    "graft_nfc_casefold" -> (args => NfcCaseFold(args.head)),
    // aggregate: the analyzer wraps a bare AggregateFunction in an
    // AggregateExpression during function resolution, so the builder
    // returns the function itself
    "graft_hll"         -> (args => HllEstimateAgg(args(0), lit2Int(args(1), "graft_hll m"))),
    "graft_kmv"         -> (args => KmvEstimateAgg(args(0), lit2Int(args(1), "graft_kmv k"))),
    "graft_mg"          -> (args => MisraGriesTopK(args(0), lit2Int(args(1), "graft_mg k"))),
    "graft_cms"         -> (args => CmsCountersAgg(args(0),
      lit2Int(args(1), "graft_cms depth"), lit2Int(args(2), "graft_cms width"))),
    "graft_dleven"      -> (args => DamerauLevenshtein(args(0), args(1))),
    "graft_topk"        -> (args => TopKPairsAgg(args(0), args(1),
      lit2Int(args(2), "graft_topk k"))))

  /** Install on a live session what `GraftExtensions` injects into a new
    * one: the `graft_*` functions and the native as-of join strategy.
    * Idempotent: each function is registered and the strategy appended
    * only when absent.
    */
  def install(spark: SparkSession): Unit = {
    functions.foreach { case (name, builder) =>
      GraftColumnBridge.registerFunction(spark, name, builder)
    }
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
  }
}

/** `spark.sql.extensions` entry point: the kernel SQL functions plus the
  * whole-operator planner strategy (native as-of join).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        builder))
    }
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

package graft

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.{udaf, udf}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.IntegerType

import graft.ext.{TextAnalysis => TA, Vectors}
import graft.functions.{DotProduct, HashExpressions => H, TextExpressions,
  UniqExactAggregator, VecSumAggregator}
import graft.plans.{CountFromStats, RangeAggStrategy, RootSortStrategy, SortLocalRelation,
  TopKStrategy}

/** The one place the engine changes a SparkSession: its optimizer rules,
  * planner strategies and SQL functions — the reference keeps the same
  * additions in one optimizer rule list (fusequery/query/src/optimizers/
  * optimizer.rs) and one name→constructor map
  * (common/functions/src/scalars/function_factory.rs:30-36).
  *
  * [[SparkBoot.builder]] applies it with `withExtensions`, and Spark applies
  * extensions to every session made from that builder, `newSession()`
  * included — so a wire connection's session plans and resolves exactly
  * like the root with no per-connection work. Injected strategies run
  * before Spark's built-in ones, in the order given here. */
object GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => CountFromStats)
    ext.injectOptimizerRule(_ => SortLocalRelation)
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectPlannerStrategy(_ => RangeAggStrategy)
    ext.injectPlannerStrategy(_ => RootSortStrategy)
    sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(
        getClass.getName, null, name, null, "", "", "", "", "", "", "built-in"), builder))
    }
  }

  private def lint(e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"expected an integer literal, got $other")
  }

  private def fn(name: String)(b: Seq[Expression] => Expression) = name -> b

  private def macroFn(name: String)(f: Seq[Column] => Column) =
    name -> Bridge.columnFunction(f)

  private def udfFn(name: String, f: UserDefinedFunction) =
    name -> Bridge.udfFunction(name, f)

  /** Reference scalar functions absent from Spark (scalars/hashes/siphash.rs;
    * SimHash is the dedup extension) and the pipeline scalar surface: the
    * ext/ kernels, SQL-reachable. Kernel-backed entries are codegen'd
    * Catalyst expressions; Column-composed helpers are macro builders. */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    fn("siphash64") { case Seq(e) => H.SipHash64(e) },
    fn("siphash") { case Seq(e) => H.SipHash64(e) },
    fn("simhash64") { case Seq(e) => H.SimHash64(e) },
    fn("totypename") { case Seq(e) => H.TypeName(e) },
    fn("simhash60md5") { case Seq(e) => H.SimHash60(e) },
    fn("minhash32") { case Seq(e) => H.MinHash32(e) },
    fn("word_ngrams") { case Seq(e, n) => TextExpressions.WordNgrams(e, lint(n)) },
    fn("word_ngram_hashes") { case Seq(e, n) => TextExpressions.WordNgramHashes(e, lint(n)) },
    fn("dot_product") { case Seq(a, b) => DotProduct(a, b) },
    fn("hashed_margin") { case Seq(e, b) => H.LinearMarginExpr(e, lint(b)) },
    macroFn("cosine_sim") { case Seq(a, b) => Vectors.cosine(a, b) },
    macroFn("vec_norm") { case Seq(a) => Vectors.norm(a) },
    macroFn("token_count") { case Seq(e) => TA.tokenCount(e) },
    macroFn("bpeish_token_count") { case Seq(e) => TA.bpeishTokenCount(e) },
    macroFn("quality_score") { case Seq(e) => TA.qualityScore(e) },
    macroFn("alpha_ratio") { case Seq(e) => TA.alphaRatio(e) },
    macroFn("stopword_ratio") { case Seq(e) => TA.stopwordRatio(e) },
    macroFn("mean_token_len") { case Seq(e) => TA.meanTokenLen(e) },
    macroFn("lang_id") { case Seq(e) => TA.langId(e) },
    macroFn("content_fingerprint") { case Seq(e) => TA.contentFingerprint(e) },
    macroFn("rolling_fingerprint") { case Seq(e) => TA.rollingFingerprint(e) },
    macroFn("redact_pii") { case Seq(e) => TA.redactPii(e) },
    udfFn("uniq_exact_state", udaf(UniqExactAggregator)),
    udfFn("vec_sum", udaf(VecSumAggregator)),
    // sleep(seconds) (udfs/sleep.rs): per-invocation delay, capped — the
    // reference sleeps once per block; distributed eval sleeps per row, so
    // the cap keeps a stray `SELECT sleep(1) FROM big` from wedging
    // executors (SURVEY.md §7.4 documents the divergence). crashme() and
    // example() are test scaffolding, deliberately not ported.
    udfFn("sleep", udf { (secs: Double) =>
      require(secs >= 0, "sleep: negative duration")
      Thread.sleep(math.min((secs * 1000).toLong, 30000L))
      0.toShort
    }))
}

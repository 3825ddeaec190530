package graft

import graft.functions.{AdcDist, BloomMightContain, BoundedCollect, CdcChunks, CharlmDocCounts, CharlmDocScore, CharlmUnpack, FoldSumArr, FreqItemsAgg, PairCombos, PqEncode, SortedFoldSum, SortedFoldSumArr, SortedFoldSumStr, CharNgrams, CleanContent, DotProduct, IvfArgmin, L2Norm, MinHashAgg, MinHashSig, MinHashSigMd5, QuantizeInt8, ScrubTokens, Shingles, SimHashAgg, SimHashSig, SimHashSigMd5, SrpBucketsMd5}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Session extension registering graft's native expressions as SQL
  * functions (`graft_dot`, `graft_norm`). Install either declaratively
  * (`spark.sql.extensions=graft.GraftExtensions`) or programmatically
  * via [[GraftExtensions.register]] — operators call the latter
  * idempotently, so a plain SparkSession works too.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {

  private def badSignature(name: String, expected: String, got: Seq[Expression]): Nothing =
    throw new IllegalArgumentException(
      s"$name expects $expected, got ${got.size} argument(s): ${got.mkString(", ")}")

  private def notLiteral(name: String, param: String, got: Expression): Nothing =
    throw new IllegalArgumentException(
      s"$name $param must be an integer literal, got $got")

  // Builders pattern-match the FULL argument Seq so a wrong arity (e.g.
  // `graft_shingles(text)`) fails analysis with the expected signature,
  // not an IndexOutOfBoundsException.
  private val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_dot",
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => DotProduct(a, b)
        case other => badSignature("graft_dot", "(array, array)", other)
      }),
    ("graft_norm",
      new ExpressionInfo(classOf[L2Norm].getName, "graft_norm"),
      (args: Seq[Expression]) => args match {
        case Seq(a) => L2Norm(a)
        case other => badSignature("graft_norm", "(array)", other)
      }),
    ("graft_shingles",
      new ExpressionInfo(classOf[Shingles].getName, "graft_shingles"),
      (args: Seq[Expression]) => args match {
        case Seq(text, Literal(k: Int, _)) => Shingles(text, k)
        case Seq(_, other) => notLiteral("graft_shingles", "k", other)
        case other => badSignature("graft_shingles", "(text, k: int literal)", other)
      }),
    ("graft_char_ngrams",
      new ExpressionInfo(classOf[CharNgrams].getName, "graft_char_ngrams"),
      (args: Seq[Expression]) => args match {
        case Seq(text, Literal(k: Int, _)) => CharNgrams(text, k)
        case Seq(_, other) => notLiteral("graft_char_ngrams", "k", other)
        case other => badSignature("graft_char_ngrams", "(text, k: int literal)", other)
      }),
    ("graft_simhash",
      new ExpressionInfo(classOf[SimHashAgg].getName, "graft_simhash"),
      (args: Seq[Expression]) => args match {
        case Seq(h) => SimHashAgg(h).toAggregateExpression()
        case other => badSignature("graft_simhash", "(tokenHash: long)", other)
      }),
    ("graft_minhash",
      new ExpressionInfo(classOf[MinHashAgg].getName, "graft_minhash"),
      (args: Seq[Expression]) => args match {
        case Seq(h, Literal(n: Int, _)) => MinHashAgg(h, n).toAggregateExpression()
        case Seq(_, other) => notLiteral("graft_minhash", "n", other)
        case other => badSignature("graft_minhash", "(shingleHash: long, n: int literal)", other)
      }),
    ("graft_minhash_sig",
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash_sig"),
      (args: Seq[Expression]) => args match {
        case Seq(sh, Literal(n: Int, _)) => MinHashSig(sh, n)
        case Seq(_, other) => notLiteral("graft_minhash_sig", "n", other)
        case other => badSignature("graft_minhash_sig", "(shingles: array<string>, n: int literal)", other)
      }),
    ("graft_minhash_sig_md5",
      new ExpressionInfo(classOf[MinHashSigMd5].getName, "graft_minhash_sig_md5"),
      (args: Seq[Expression]) => args match {
        case Seq(sh, Literal(n: Int, _)) => MinHashSigMd5(sh, n)
        case Seq(_, other) => notLiteral("graft_minhash_sig_md5", "n", other)
        case other => badSignature("graft_minhash_sig_md5", "(shingles: array<string>, n: int literal)", other)
      }),
    ("graft_simhash_sig",
      new ExpressionInfo(classOf[SimHashSig].getName, "graft_simhash_sig"),
      (args: Seq[Expression]) => args match {
        case Seq(sh) => SimHashSig(sh)
        case other => badSignature("graft_simhash_sig", "(shingles: array<string>)", other)
      }),
    ("graft_simhash_sig_md5",
      new ExpressionInfo(classOf[SimHashSigMd5].getName, "graft_simhash_sig_md5"),
      (args: Seq[Expression]) => args match {
        case Seq(sh) => SimHashSigMd5(sh)
        case other => badSignature("graft_simhash_sig_md5", "(shingles: array<string>)", other)
      }),
    ("graft_srp_buckets_md5",
      new ExpressionInfo(classOf[SrpBucketsMd5].getName, "graft_srp_buckets_md5"),
      (args: Seq[Expression]) => args match {
        case Seq(vec, Literal(t: Int, _), Literal(b: Int, _)) => SrpBucketsMd5(vec, t, b)
        case Seq(_, t, b) =>
          notLiteral("graft_srp_buckets_md5", "tables/bits",
            Seq(t, b).find { case Literal(_: Int, _) => false; case _ => true }.getOrElse(t))
        case other => badSignature(
          "graft_srp_buckets_md5", "(vector, tables: int literal, bits: int literal)", other)
      }),
    ("graft_clean_content",
      new ExpressionInfo(classOf[CleanContent].getName, "graft_clean_content"),
      (args: Seq[Expression]) => args match {
        case Seq(text) => CleanContent(text)
        case other => badSignature("graft_clean_content", "(text: string)", other)
      }),
    ("graft_ivf_argmin",
      new ExpressionInfo(classOf[IvfArgmin].getName, "graft_ivf_argmin"),
      (args: Seq[Expression]) => args match {
        case Seq(vec, cents) => IvfArgmin(vec, cents)
        case other => badSignature(
          "graft_ivf_argmin", "(vector, centroids: array<struct<cell, cemb, cnrm>>)", other)
      }),
    ("graft_quantize_int8",
      new ExpressionInfo(classOf[QuantizeInt8].getName, "graft_quantize_int8"),
      (args: Seq[Expression]) => args match {
        case Seq(v) => QuantizeInt8(v)
        case other => badSignature("graft_quantize_int8", "(vector)", other)
      }),
    ("graft_scrub_tokens",
      new ExpressionInfo(classOf[ScrubTokens].getName, "graft_scrub_tokens"),
      (args: Seq[Expression]) => args match {
        case Seq(toks, grams) => ScrubTokens(toks, grams)
        case other => badSignature(
          "graft_scrub_tokens", "(tokens: array<string>, grams: array<string>)", other)
      }),
    ("graft_cdc_chunks",
      new ExpressionInfo(classOf[CdcChunks].getName, "graft_cdc_chunks"),
      (args: Seq[Expression]) => args match {
        case Seq(text, Literal(cut: Int, _)) => CdcChunks(text, cut)
        case Seq(_, other) => notLiteral("graft_cdc_chunks", "cutByte", other)
        case other => badSignature("graft_cdc_chunks", "(text, cutByte: int literal)", other)
      }),
    ("graft_freq_items",
      new ExpressionInfo(classOf[FreqItemsAgg].getName, "graft_freq_items"),
      (args: Seq[Expression]) => args match {
        case Seq(term, Literal(k: Int, _)) => FreqItemsAgg(term, k).toAggregateExpression()
        case Seq(_, other) => notLiteral("graft_freq_items", "k", other)
        case other => badSignature("graft_freq_items", "(term: string, k: int literal)", other)
      }),
    ("graft_might_contain",
      new ExpressionInfo(classOf[BloomMightContain].getName, "graft_might_contain"),
      (args: Seq[Expression]) => args match {
        case Seq(bloom, value) => BloomMightContain(bloom, value)
        case other => badSignature("graft_might_contain",
          "(bloom: binary literal, value: string)", other)
      }),
    ("graft_sorted_fold_sum",
      new ExpressionInfo(classOf[SortedFoldSum].getName, "graft_sorted_fold_sum"),
      (args: Seq[Expression]) => args match {
        case Seq(k, v) => SortedFoldSum(k, v).toAggregateExpression()
        case other => badSignature("graft_sorted_fold_sum", "(key: bigint, value: double)", other)
      }),
    ("graft_sorted_fold_sum_str",
      new ExpressionInfo(classOf[SortedFoldSumStr].getName, "graft_sorted_fold_sum_str"),
      (args: Seq[Expression]) => args match {
        case Seq(k, v) => SortedFoldSumStr(k, v).toAggregateExpression()
        case other => badSignature("graft_sorted_fold_sum_str", "(key: string, value: double)", other)
      }),
    ("graft_charlm_doc_score",
      new ExpressionInfo(classOf[CharlmDocScore].getName, "graft_charlm_doc_score"),
      (args: Seq[Expression]) => args match {
        case Seq(model, text, Literal(r: Double, _)) => CharlmDocScore(model, text, r)
        case Seq(_, _, other) =>
          throw new IllegalArgumentException(
            s"graft_charlm_doc_score rareBelow must be a double literal, got $other")
        case other => badSignature("graft_charlm_doc_score",
          "(model: binary literal, text, rareBelow: double literal)", other)
      }),
    ("graft_charlm_doc_counts",
      new ExpressionInfo(classOf[CharlmDocCounts].getName, "graft_charlm_doc_counts"),
      (args: Seq[Expression]) => args match {
        case Seq(text) => CharlmDocCounts(text)
        case other => badSignature("graft_charlm_doc_counts", "(text: string)", other)
      }),
    ("graft_charlm_unpack",
      new ExpressionInfo(classOf[CharlmUnpack].getName, "graft_charlm_unpack"),
      (args: Seq[Expression]) => args match {
        case Seq(tri) => CharlmUnpack(tri)
        case other => badSignature("graft_charlm_unpack", "(tri: bigint)", other)
      }),
    ("graft_bounded_collect",
      new ExpressionInfo(classOf[BoundedCollect].getName, "graft_bounded_collect"),
      (args: Seq[Expression]) => args match {
        case Seq(v, Literal(n: Int, _)) => BoundedCollect(v, n).toAggregateExpression()
        case Seq(_, other) => notLiteral("graft_bounded_collect", "maxN", other)
        case other => badSignature("graft_bounded_collect", "(value: bigint, maxN: int literal)", other)
      }),
    ("graft_pq_encode",
      new ExpressionInfo(classOf[PqEncode].getName, "graft_pq_encode"),
      (args: Seq[Expression]) => args match {
        case Seq(emb, subcents) => PqEncode(emb, subcents)
        case other => badSignature(
          "graft_pq_encode", "(vector, subcents: array<array<struct<cell, cemb>>>)", other)
      }),
    ("graft_adc_dist",
      new ExpressionInfo(classOf[AdcDist].getName, "graft_adc_dist"),
      (args: Seq[Expression]) => args match {
        case Seq(dtab, codes) => AdcDist(dtab, codes)
        case other => badSignature(
          "graft_adc_dist", "(dtab: array<array<double>>, codes: array<bigint>)", other)
      }),
    ("graft_sorted_fold_sum_arr",
      new ExpressionInfo(classOf[SortedFoldSumArr].getName, "graft_sorted_fold_sum_arr"),
      (args: Seq[Expression]) => args match {
        case Seq(k, v) => SortedFoldSumArr(k, v).toAggregateExpression()
        case other => badSignature(
          "graft_sorted_fold_sum_arr", "(key: bigint, value: array<double>)", other)
      }),
    ("graft_fold_sum_arr",
      new ExpressionInfo(classOf[FoldSumArr].getName, "graft_fold_sum_arr"),
      (args: Seq[Expression]) => args match {
        case Seq(v) => FoldSumArr(v).toAggregateExpression()
        case other => badSignature("graft_fold_sum_arr", "(value: array<double>)", other)
      }),
    ("graft_pair_combos",
      new ExpressionInfo(classOf[PairCombos].getName, "graft_pair_combos"),
      (args: Seq[Expression]) => args match {
        case Seq(ds) => PairCombos(ds)
        case other => badSignature("graft_pair_combos", "(ds: array<bigint>)", other)
      }))

  /** Idempotently register the functions on an existing session. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, info, builder) =>
      val id = FunctionIdentifier(name)
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }
}

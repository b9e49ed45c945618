package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftnative.{DistinctShingles, GraftNative, HammingDistance, MinhashBandKeys}

/** Native Catalyst expressions — the (b)-tier extension path (custom
  * `Expression` with `doGenCode`) used ONLY where it buys measurable
  * performance over composed built-ins; semantics stay identical so
  * the DuckDB oracles are unaffected. Implementation lives in
  * [[org.apache.spark.sql.graftnative]] (Catalyst's authoring surface
  * is private[sql]); this object is the library-facing API.
  */
object Native {

  /** Byte-wise Hamming distance (== char distance on ASCII inputs). */
  def hamming(a: Column, b: Column): Column = GraftNative.hamming(a, b)

  /** Distinct word k-gram shingles of a token array — identical output
    * to `array_distinct(TextAnalysis.shingles(toks, k))`, one native
    * pass instead of an interpreted HOF chain.
    */
  def distinctShingles(toks: Column, k: Int): Column =
    GraftNative.distinctShingles(toks, k)

  /** Banded minhash bucket keys of a shingle set, one per band —
    * identical to the md5-prefix signature + band-md5 pipeline of
    * `Dedup.minhashLshPairs`, fused into a single expression.
    */
  def minhashBandKeys(shs: Column, bands: Int, rowsPerBand: Int): Column =
    GraftNative.minhashBandKeys(shs, bands, rowsPerBand)

  /** SimHash '0'/'1' bit-string of a per-token md5 array — identical
    * to the composed per-bit aggregate chain in `TextAnalysis.simhash`,
    * one pass instead of `bits` interpreted HOF aggregates.
    */
  def simhash(mds: Column, bits: Int): Column = GraftNative.simhash(mds, bits)

  /** Minimum md5 over a string array (null on empty) — identical to
    * `array_min(transform(arr, md5))`.
    */
  def minMd5(arr: Column): Column = GraftNative.minMd5(arr)

  /** Exact int64 dot product of two quantized vectors — identical to
    * the `aggregate(zip_with(...))` composition in `Similarity.qdot`,
    * one compiled loop per row.
    */
  def qdot(a: Column, b: Column): Column = GraftNative.qdot(a, b)

  /** `c IN (values)` as a Catalyst `InSet`: the generated code reads
    * the set through a reference object, so plans that differ only in
    * the values share one compiled class, where `isin` with fewer than
    * `spark.sql.optimizer.inSetConversionThreshold` values inlines
    * each value and compiles per distinct list. File-source bucket
    * pruning and parquet filter pushdown accept both forms.
    */
  def longInSet(c: Column, values: Iterable[Long]): Column =
    GraftNative.inSet(c, values.map(v => v: Any).toSet)

  /** Random-hyperplane sign-bucket key — identical to the composed
    * `Similarity.signBucket`, with the deterministic md5-derived sign
    * matrix built once per expression instead of per plan literal.
    */
  def signBucket(v: Column, nBits: Int, dims: Int): Column =
    GraftNative.signBucket(v, nBits, dims)

  /** One-pass token statistics struct (n_tokens, n_distinct, sum_len,
    * per-list stopword hits) — the integer-exact inputs to langId /
    * quality scoring, computed once instead of one interpreted HOF
    * pass per statistic.
    */
  def textStats(toks: Column, stopwordLists: Seq[Seq[String]]): Column =
    GraftNative.textStats(toks, stopwordLists)

  /** Jaro–Winkler similarity in [0,1] — [[graft.ops.Linkage]]'s
    * higher-recall pluggable scorer (DuckDB-parity semantics pinned in
    * NativeSpec; the oracle-gated linkage face stays on the
    * exact-integer Levenshtein ratio).
    */
  def jaroWinkler(a: Column, b: Column): Column =
    GraftNative.jaroWinkler(a, b)

  /** BPE merge replay over one word — identical output to
    * [[graft.ops.TextAnalysis.bpeSegment]]'s per-word guard +
    * replace-chain composition (array of subword symbols), one
    * symbol-array scan per merge instead of `nMerges` full
    * separator-wrapped string rebuilds. The hot primitive of the
    * 100 TB apply pass; equality property-tested in NativeSpec and
    * oracle-proven by q199 (q178's oracle, unchanged).
    */
  def bpeMerge(word: Column, merges: Seq[(String, String)]): Column =
    GraftNative.bpeMerge(word, merges)

  /** Unicode NFC normalization (UAX #15) — canonical composition
    * before hash-based dedup/vocabulary work; `isNormalized` fast
    * path returns the input untouched for ASCII/composed text. No
    * built-in exists and a UDF would break codegen, hence native.
    */
  def nfcNormalize(s: Column): Column = GraftNative.nfcNormalize(s)
}

/** SparkSessionExtensions entry point: registers the native functions
  * (`SELECT graft_hamming(a, b)`, `graft_shingles(toks, k)`,
  * `graft_minhash_band_keys(shs, bands, rows)`, `graft_simhash(mds,
  * bits)`, `graft_min_md5(arr)`, `graft_qdot(a, b)`,
  * `graft_jaro_winkler(a, b)`, `graft_nfc(s)`) and the
  * levenshtein-threshold optimizer rule via
  * `spark.sql.extensions=graft.plans.GraftExtensions` — the standard
  * plug-in path for a cluster-wide deployment of this library.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.graftnative._

  private def intArg(name: String, e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name expects a literal INT argument, got $other")
  }

  private def register(ext: SparkSessionExtensions, name: String,
                       clazz: Class[_], arity: Int)(
      build: Seq[Expression] => Expression): Unit =
    ext.injectFunction((
      FunctionIdentifier(name),
      new ExpressionInfo(clazz.getName, name),
      (children: Seq[Expression]) => {
        require(children.length == arity,
          s"$name requires exactly $arity arguments, got ${children.length}")
        build(children)
      }))

  override def apply(ext: SparkSessionExtensions): Unit = {
    register(ext, "graft_hamming", classOf[HammingDistance], 2)(c =>
      HammingDistance(c.head, c(1)))
    register(ext, "graft_shingles", classOf[DistinctShingles], 2)(c =>
      DistinctShingles(c.head, intArg("graft_shingles k", c(1))))
    register(ext, "graft_minhash_band_keys", classOf[MinhashBandKeys], 3)(c =>
      MinhashBandKeys(c.head,
        intArg("graft_minhash_band_keys bands", c(1)),
        intArg("graft_minhash_band_keys rowsPerBand", c(2))))
    register(ext, "graft_simhash", classOf[Simhash], 2)(c =>
      Simhash(c.head, intArg("graft_simhash bits", c(1))))
    register(ext, "graft_min_md5", classOf[MinMd5], 1)(c => MinMd5(c.head))
    register(ext, "graft_qdot", classOf[QDotLong], 2)(c =>
      QDotLong(c.head, c(1)))
    register(ext, "graft_jaro_winkler", classOf[JaroWinkler], 2)(c =>
      JaroWinkler(c.head, c(1)))
    register(ext, "graft_nfc", classOf[NfcNormalize], 1)(c =>
      NfcNormalize(c.head))
    ext.injectOptimizerRule(_ =>
      org.apache.spark.sql.graftnative.LevenshteinThresholdRule)
    // materialized-aggregate navigation (no-op until Summary.register)
    ext.injectOptimizerRule(_ => SummaryRewrite)
  }
}

package graft.plans

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions installer: registers graft's native
  * expressions as SQL functions, so `spark.sql("... cosine_sim(a,b)")`
  * works in any session built with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * (the (c)-tier extension mechanism; used by Verify/Bench/tests).
  *
  * It also sizes Spark's generated-class cache
  * (`spark.sql.codegen.cache.maxEntries`) to 4096 entries, up from
  * Spark's 100, via [[org.apache.spark.sql.graft.CodegenCache]]:
  *  - why 4096: a graft pass cycles through more distinct generated
  *    classes than 100 (~100 on a perfbench etl pass, ~230 on a
  *    stream pass, 2,782 across the 188-row sweep), and the cache
  *    is LRU, so at 100 every warm pass recompiles what the previous
  *    pass evicted. 4096 is the next power of two above the sweep; a
  *    session only holds the classes it actually compiles.
  *  - the cache is JVM-global and Spark sizes it on the first codegen
  *    in the JVM. A session built after that (or a JVM whose first
  *    codegen ran outside any graft session) keeps the earlier size.
  *  - an explicit `spark.sql.codegen.cache.maxEntries` always wins;
  *    this only fills the key when it is missing.
  * `apply` runs inside `getOrCreate`, after the SparkContext exists
  * but before the session's shared state and SQLConf do, so the static
  * conf takes effect for the session being built.
  *
  * It also points `file:` at [[PosixLocalFileSystem]] (Hadoop's
  * checksummed local FS, minus the `chmod` process the stock one forks
  * per written file when no native hadoop library is loaded), via
  * `setIfUnset("fs.file.impl")` on the SparkContext's Hadoop conf:
  *  - without it, `file:` resolves through ServiceLoader to Hive's
  *    `ProxyLocalFileSystem`, a wrapper over the same stock FS;
  *  - like the codegen cache, Hadoop's FileSystem cache is JVM-global:
  *    the first `file:` FS built in a JVM keeps its class for every
  *    later `FileSystem.get`, so a JVM that touched `file:` before the
  *    first graft session keeps the stock FS;
  *  - an explicit `fs.file.impl` always wins.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._
  override def apply(ext: SparkSessionExtensions): Unit = {
    org.apache.spark.sql.graft.CodegenCache.sizeActiveContext()
    org.apache.spark.sql.graft.ActiveContext.get.foreach(sc =>
      PosixLocalFileSystem.install(sc.hadoopConfiguration))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        requireArity("cosine_sim", children, 2)
        org.apache.spark.sql.graft.CosineSimilarity(children(0), children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.JaroWinkler].getName, "jaro_winkler"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        requireArity("jaro_winkler", children, 2)
        org.apache.spark.sql.graft.JaroWinkler(children(0), children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("canonical_url"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.CanonicalUrl].getName, "canonical_url"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        requireArity("canonical_url", children, 1)
        org.apache.spark.sql.graft.CanonicalUrl(children(0))
      }))
    // simhash_sig(text, nBits, md5Variant) — width/variant must be
    // foldable literals (they parameterize codegen, not per-row data);
    // the builder type-checks them so a column-valued, NULL, or
    // long-typed argument is an analysis error, not an eval crash
    ext.injectFunction((
      FunctionIdentifier("simhash_sig"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.SimHashSig].getName, "simhash_sig"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        requireArity("simhash_sig", children, 3)
        org.apache.spark.sql.graft.SimHashSig(children(0),
          foldableInt("simhash_sig", "nBits", children(1)),
          foldableBoolean("simhash_sig", "md5Variant", children(2)))
      }))
    ext.injectFunction((
      FunctionIdentifier("bpe_merge"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.BpeMerge].getName, "bpe_merge"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        requireArity("bpe_merge", children, 3)
        org.apache.spark.sql.graft.BpeMerge(children(0), children(1), children(2))
      }))
    ext.injectFunction((
      FunctionIdentifier("word_shingle_hashes"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.WordShingleHashes].getName, "word_shingle_hashes"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        requireArity("word_shingle_hashes", children, 2)
        org.apache.spark.sql.graft.WordShingleHashes(children(0),
          foldableInt("word_shingle_hashes", "n", children(1)))
      }))
    // lang_id(text) / lang_id_ngram(text): the native one-pass
    // profile-argmax language ID (word-stopword and char-n-gram
    // profile sets). NULL text yields NULL here — the Column wrapper
    // (TextAnalysis.langIdNative) coalesces to 'und'; SQL callers can
    // COALESCE the same way.
    ext.injectFunction((
      FunctionIdentifier("lang_id"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.LangProfileId].getName, "lang_id"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        requireArity("lang_id", children, 1)
        org.apache.spark.sql.graft.LangProfileId(children(0),
          graft.operators.TextAnalysis.LangProfiles, pad = true)
      }))
    ext.injectFunction((
      FunctionIdentifier("lang_id_ngram"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.LangProfileId].getName, "lang_id_ngram"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        requireArity("lang_id_ngram", children, 1)
        org.apache.spark.sql.graft.LangProfileId(children(0),
          graft.operators.TextAnalysis.CharNgramProfiles, pad = false)
      }))
    // lang_score(text, 'en'): one language's stopword hit count
    // (exact BIGINT); the language code must be a foldable literal
    ext.injectFunction((
      FunctionIdentifier("lang_score"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.MultiPatternHitCount].getName, "lang_score"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        requireArity("lang_score", children, 2)
        val lang = foldableString("lang_score", "lang", children(1))
        val known = graft.operators.TextAnalysis.LangProfiles.map(_._1)
        val patterns = graft.operators.TextAnalysis.LangProfiles.toMap
          .getOrElse(lang, throw new AnalysisException(
            errorClass = "NON_FOLDABLE_ARGUMENT",
            messageParameters = Map(
              "funcName" -> "`lang_score`",
              "paramName" -> (s"`lang` (unknown language '$lang'; " +
                known.mkString("expected one of ", ", ", ")")),
              "paramType" -> "\"STRING\"")))
        org.apache.spark.sql.graft.MultiPatternHitCount(children(0),
          patterns, pad = true)
      }))
    // Opt-in top-1-window → min_by rewrite (see RewriteTop1Window;
    // inert unless spark.graft.rewriteTop1Window=true).
    ext.injectOptimizerRule(_ => org.apache.spark.sql.graft.RewriteTop1Window)
    // Always-on: bound-compares of levenshtein use the banded
    // thresholded form (unconditionally sound — see the rule).
    ext.injectOptimizerRule(_ =>
      org.apache.spark.sql.graft.RewriteThresholdedLevenshtein)
  }
}

object GraftExtensions {

  /** Builder-time validation of SQL-registered native functions'
    * literal parameters: a non-foldable, NULL, or wrongly-typed
    * argument must surface as an AnalysisException naming the expected
    * signature, not as an obscure eval/ClassCastException from inside
    * the builder. Numeric widths accept any integral Number (SQL `60`
    * parses as an int literal, but a LONG-typed `60L` is fine too). */
  private def requireArity(fn: String, children: Seq[Expression],
      n: Int): Unit =
    if (children.length != n)
      throw new AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$fn`",
          "expectedNum" -> n.toString,
          "actualNum" -> children.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))

  private def foldableValue(fn: String, param: String, paramType: String,
      e: Expression): Any = {
    if (!e.foldable)
      throw new AnalysisException(
        errorClass = "NON_FOLDABLE_ARGUMENT",
        messageParameters = Map(
          "funcName" -> s"`$fn`",
          "paramName" -> s"`$param`",
          "paramType" -> paramType))
    val v = e.eval()
    if (v == null)
      throw new AnalysisException(
        errorClass = "NON_FOLDABLE_ARGUMENT",
        messageParameters = Map(
          "funcName" -> s"`$fn`",
          "paramName" -> s"`$param` (got NULL)",
          "paramType" -> paramType))
    v
  }

  private def foldableInt(fn: String, param: String, e: Expression): Int =
    foldableValue(fn, param, "\"INT\"", e) match {
      case n: java.lang.Number => n.intValue()
      case other =>
        throw new AnalysisException(
          errorClass = "NON_FOLDABLE_ARGUMENT",
          messageParameters = Map(
            "funcName" -> s"`$fn`",
            "paramName" -> s"`$param` (got ${other.getClass.getSimpleName})",
            "paramType" -> "\"INT\""))
    }

  private def foldableString(fn: String, param: String,
      e: Expression): String =
    foldableValue(fn, param, "\"STRING\"", e) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other =>
        throw new AnalysisException(
          errorClass = "NON_FOLDABLE_ARGUMENT",
          messageParameters = Map(
            "funcName" -> s"`$fn`",
            "paramName" -> s"`$param` (got ${other.getClass.getSimpleName})",
            "paramType" -> "\"STRING\""))
    }

  private def foldableBoolean(fn: String, param: String,
      e: Expression): Boolean =
    foldableValue(fn, param, "\"BOOLEAN\"", e) match {
      case b: java.lang.Boolean => b.booleanValue()
      case other =>
        throw new AnalysisException(
          errorClass = "NON_FOLDABLE_ARGUMENT",
          messageParameters = Map(
            "funcName" -> s"`$fn`",
            "paramName" -> s"`$param` (got ${other.getClass.getSimpleName})",
            "paramType" -> "\"BOOLEAN\""))
    }
}

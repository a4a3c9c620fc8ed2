package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{AbstractDataType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass multi-pattern substring counter with the EXACT semantics of
  * the length-replace trick (`(length(t) - length(replace(t, p))) /
  * length(p)`): non-overlapping occurrences, scanned left to right,
  * each pattern counted independently of the others. `pad` prepends and
  * appends one space before matching — the padded-word form
  * (`' '||t||' '` vs `' w '` patterns) that word-boundary stopword
  * counting uses.
  *
  * Byte-level UTF-8 matching is identical to character-level matching
  * for exact substring occurrence (UTF-8 is self-synchronizing), so the
  * counts agree with both Spark's `replace` and DuckDB's — the
  * engine-portability contract the langID oracle depends on.
  *
  * One scan position loop with first-byte dispatch and a per-pattern
  * next-allowed-start pointer replaces P full `replace` passes (each of
  * which allocates a copy of the document): the langID profiles are
  * 16 patterns, so the relational form scans and copies every document
  * 16 times where this does one pass and zero copies.
  */
final class MultiPatternMatcher(patternStrings: Seq[String], pad: Boolean)
    extends Serializable {
  require(patternStrings.nonEmpty, "at least one pattern required")

  private val pats: Array[Array[Byte]] = patternStrings
    .map(p => (if (pad) s" $p " else p)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    .toArray
  require(pats.forall(_.length > 0), "empty patterns are not countable")

  // Dispatch on the byte at `dispatchOff`: when every pattern shares
  // the same first byte (the padded-word case — all start with ' '),
  // dispatching on the SECOND byte keeps the per-position candidate
  // list near 1 instead of P.
  @transient private lazy val dispatchOff: Int =
    if (pats.length > 1 && pats.forall(p => p.length > 1 && p(0) == pats(0)(0))) 1
    else 0
  @transient private lazy val sharedFirst: Byte = pats(0)(0)
  @transient private lazy val buckets: Array[Array[Int]] = {
    val bs = Array.fill(256)(List.empty[Int])
    pats.zipWithIndex.foreach { case (p, i) =>
      val b = p(dispatchOff) & 0xff
      bs(b) = i :: bs(b)
    }
    bs.map(l => if (l.isEmpty) null else l.reverse.toArray)
  }

  private def matchesAt(b: Array[Byte], i: Int, p: Array[Byte]): Boolean = {
    var k = 0
    while (k < p.length) {
      if (b(i + k) != p(k)) return false
      k += 1
    }
    true
  }

  /** Per-pattern non-overlapping occurrence counts over the (optionally
    * padded) text — `out(j)` is the count for `patternStrings(j)`. */
  def counts(s: UTF8String): Array[Int] = {
    val raw = s.getBytes
    val b =
      if (pad) {
        val a = new Array[Byte](raw.length + 2)
        a(0) = ' '
        System.arraycopy(raw, 0, a, 1, raw.length)
        a(a.length - 1) = ' '
        a
      } else raw
    val n = b.length
    val out = new Array[Int](pats.length)
    val next = new Array[Int](pats.length)
    val off = dispatchOff
    var i = 0
    val last = n - 1 - off
    while (i <= last) {
      if (off == 0 || b(i) == sharedFirst) {
        val bucket = buckets(b(i + off) & 0xff)
        if (bucket != null) {
          var k = 0
          while (k < bucket.length) {
            val p = bucket(k)
            if (i >= next(p)) {
              val pb = pats(p)
              if (i + pb.length <= n && matchesAt(b, i, pb)) {
                out(p) += 1
                next(p) = i + pb.length
              }
            }
            k += 1
          }
        }
      }
      i += 1
    }
    out
  }

  /** Sum of all patterns' counts — the per-language profile score. */
  def totalHits(s: UTF8String): Long = {
    val c = counts(s)
    var t = 0L
    var j = 0
    while (j < c.length) { t += c(j); j += 1 }
    t
  }
}

/** The full profile-argmax language-ID model: per-language pattern
  * groups counted in ONE text pass, summed per language, argmax with
  * profile-order precedence on ties, `und` when no profile hits —
  * exactly the relational `greatest` + `when`-chain semantics
  * (graft.operators.TextAnalysis.langId / langIdCharNgram). */
final class LangProfileModel(profiles: Seq[(String, Seq[String])], pad: Boolean)
    extends Serializable {
  require(profiles.nonEmpty, "at least one language profile required")

  private val langs: Array[String] = profiles.map(_._1).toArray
  private val groupSizes: Array[Int] = profiles.map(_._2.size).toArray
  private val matcher =
    new MultiPatternMatcher(profiles.flatMap(_._2), pad)

  @transient private lazy val langCodes: Array[UTF8String] =
    langs.map(UTF8String.fromString)
  @transient private lazy val und: UTF8String = UTF8String.fromString("und")

  def langId(s: UTF8String): UTF8String = {
    val c = matcher.counts(s)
    var best = 0L
    var bestIdx = -1
    var j = 0
    var g = 0
    while (g < groupSizes.length) {
      var score = 0L
      var k = 0
      while (k < groupSizes(g)) { score += c(j); j += 1; k += 1 }
      // strict > keeps the FIRST language on ties — the when-chain's
      // profile-order precedence
      if (score > 0 && score > best) { best = score; bestIdx = g }
      g += 1
    }
    if (bestIdx < 0) und else langCodes(bestIdx)
  }
}

/** Native Catalyst expression: n-gram-profile language ID in one fused
  * byte pass — all 16 profile patterns counted simultaneously with
  * non-overlapping replace semantics, per-language sums, and the
  * profile-order argmax, per row, no string copies.
  *
  * Why an Expression: the relational form
  * (TextAnalysis.langId/langIdCharNgram, the BlueForty-style curation
  * step at ExtensionQueries t2/x30/x10) evaluates one `replace` pass
  * PER PATTERN — 16 full scans and 16 full copies of every document,
  * the worst shipped linear-path cost at 125× scale (PERF.md round 9:
  * x30 6.9×). Same playbook as SimHashSig/CanonicalUrl: per-document
  * state fused into a map-only projection. Parity with the relational
  * form is spec-pinned (LangIdSpec fixture + NativeExprFuzzSpec fuzz).
  *
  * NULL text yields NULL (standard null-intolerance); the langID
  * Column wrapper coalesces to 'und' to match the relational
  * when-chain, which cannot observe NULL conditions.
  */
case class LangProfileId(child: Expression,
    profiles: Seq[(String, Seq[String])], pad: Boolean)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def dataType: DataType = StringType

  @transient private lazy val model = new LangProfileModel(profiles, pad)

  override def nullSafeEval(input: Any): Any =
    model.langId(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("langModel", model,
      classOf[LangProfileModel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $m.langId($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): LangProfileId =
    copy(child = newChild)

  override def prettyName: String = "lang_profile_id"
}

/** Native Catalyst expression: the summed non-overlapping hit count of
  * a pattern set over the (optionally padded) text — one language's
  * profile SCORE (exact integer; the relational form's double is the
  * same value, integer-exactly, since every division is by the full
  * pattern length). One pass, no copies; see [[MultiPatternMatcher]]. */
case class MultiPatternHitCount(child: Expression, patterns: Seq[String],
    pad: Boolean)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def dataType: DataType = LongType

  @transient private lazy val matcher = new MultiPatternMatcher(patterns, pad)

  override def nullSafeEval(input: Any): Any =
    matcher.totalHits(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("patMatcher", matcher,
      classOf[MultiPatternMatcher].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $m.totalHits($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MultiPatternHitCount =
    copy(child = newChild)

  override def prettyName: String = "multi_pattern_hit_count"
}

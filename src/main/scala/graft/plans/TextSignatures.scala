package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Fused native expressions for the text-signature hot loops (MinHash,
  * SimHash, n-gram hash sets).
  *
  * Why native: the composable forms are higher-order functions
  * (`transform` / `aggregate`), and Spark evaluates HOF lambdas
  * INTERPRETED with per-element boxing — the 64-permutation MinHash
  * signature walked the gram array through 64 interpreted expression
  * trees (4+ s at sf0.1 for 5 000 docs). Each expression here is one
  * JIT-compiled pass per document, entered from whole-stage codegen
  * through a single static call.
  *
  * Why the VALUES don't change: the hash domain is md5 (identical in
  * every engine), grams join tokens with one space exactly like the
  * column form, and the permutation family is the same (a·h + b) mod P
  * with the same seed-42 coefficients — so the DuckDB oracles for
  * q_dedup_minhash / q_dedup_simhash / q_dedup_ngram hash-match the
  * native path bit for bit. TextSignaturesSpec asserts native ≡ HOF.
  */
object TextSig {
  val P: Long = 4294967311L // prime > 2^32 (Dedup.minhashP)
  val NumHashes = 64

  /** Same (a, b) family as Dedup.minhashCoeffs(64) — seed 42,
    * a < 2^31 so a·h + b never leaves a signed 64-bit long. */
  val (coeffA, coeffB): (Array[Long], Array[Long]) = {
    val rng = new scala.util.Random(42)
    val a = new Array[Long](NumHashes)
    val b = new Array[Long](NumHashes)
    var i = 0
    while (i < NumHashes) {
      a(i) = 1 + rng.nextLong(Int.MaxValue.toLong)
      b(i) = rng.nextLong(P)
      i += 1
    }
    (a, b)
  }

  private def digest(s: String): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Value of the first 8 hex chars of md5(s) — first 4 digest bytes,
    * big-endian unsigned (≡ conv(substring(md5(s),1,8),16,10)). */
  def hash32(s: String): Long = {
    val d = digest(s)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** Value of the first 15 hex chars of md5(s) — 60 bits: bytes 0-6
    * then the high nibble of byte 7 (≡ conv(substring(md5,1,15),16,10)). */
  def hash60(s: String): Long = {
    val d = digest(s)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) >> 4) & 0xfL)
  }

  /** Word k-grams of the token array; shorter docs yield the single
    * whole-text gram (matches Dedup.gramsOf / shingles). */
  private def eachGram(toks: ArrayData, k: Int)(f: String => Unit): Unit = {
    val n = toks.numElements()
    if (n < k) {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < n) {
        if (i > 0) sb.append(' ')
        sb.append(toks.getUTF8String(i).toString)
        i += 1
      }
      f(sb.toString)
    } else {
      var start = 0
      while (start <= n - k) {
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(toks.getUTF8String(start + j).toString)
          j += 1
        }
        f(sb.toString)
        start += 1
      }
    }
  }

  /** 64 MinHash signature values in one pass (min is duplicate-blind,
    * so no dedup pass is needed). */
  def minhashSigs(toks: ArrayData, k: Int): ArrayData = {
    val sigs = Array.fill(NumHashes)(Long.MaxValue)
    eachGram(toks, k) { g =>
      val h = hash32(g)
      var i = 0
      while (i < NumHashes) {
        val v = (coeffA(i) * h + coeffB(i)) % P
        if (v < sigs(i)) sigs(i) = v
        i += 1
      }
    }
    new GenericArrayData(sigs)
  }

  /** 60-bit SimHash: per-bit majority vote over md5 token hashes,
    * every occurrence counted (matches the per-bit HOF votes,
    * TextSignaturesSpec). */
  def simhashSig(toks: ArrayData): Long = {
    val votes = new Array[Int](60)
    val n = toks.numElements()
    var t = 0
    while (t < n) {
      val h = hash60(toks.getUTF8String(t).toString)
      var b = 0
      while (b < 60) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      t += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** Sorted distinct 60-bit gram hashes (≡ Dedup.withShingleHashSet's
    * array_sort(array_distinct(...)) column form). */
  def gramHashSet(toks: ArrayData, k: Int): ArrayData = {
    val seen = new java.util.TreeSet[java.lang.Long]()
    eachGram(toks, k)(g => seen.add(hash60(g)))
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  /** Shannon entropy (nats) of the code-point distribution, terms
    * −(p·ln p) folded in ascending code-point order (= UTF-8 binary
    * order of single-char strings, the order the oracle's
    * `ORDER BY c` replays). Empty string → 0.0; the final +0.0
    * normalizes −0.0 from single-distinct-char inputs. */
  def charEntropy(text: org.apache.spark.unsafe.types.UTF8String): Double = {
    val counts = new java.util.TreeMap[Integer, Long]()
    var n = 0L
    val it = text.toString.codePoints().iterator()
    while (it.hasNext) {
      counts.merge(it.next(), 1L, (a, b) => a + b)
      n += 1
    }
    if (n == 0L) return 0.0
    var h = 0.0
    val e = counts.values().iterator()
    while (e.hasNext) {
      val p = e.next().toDouble / n
      h += -(p * math.log(p))
    }
    h + 0.0
  }
}

private[plans] trait TokensExpression { self: Expression =>
  protected def toksType(dt: DataType, what: String): TypeCheckResult = dt match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$what requires ARRAY<STRING> tokens, got ${other.simpleString}")
  }
  protected def literalK(e: Expression, what: String): TypeCheckResult =
    if (e.foldable && e.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$what requires a literal INT gram size")
}

/** graft_sentiment(raw_toks) → DOUBLE compound score.
  *
  * One JIT'd pass replicating graft.functions.Sentiment.withCompound's
  * column arithmetic OPERATION FOR OPERATION — including the +0.0 adds
  * for absent boosters and ×1.0 for absent negations that the unrolled
  * closed form performs — so results are bit-identical to the column
  * form and the q_sentiment DuckDB oracle stays valid on this path.
  * (The interpreted per-token CASE chains cost ~3 s at sf0.1; this is
  * the same arithmetic at scan speed.)
  */
object SentimentScore {
  import graft.functions.Sentiment._
  private val letterRe = java.util.regex.Pattern.compile("[A-Za-z]")
  private val stripRe = java.util.regex.Pattern.compile("[!?.,;:]+$")

  def score(raw: ArrayData): Double = {
    val n = raw.numElements()
    val stripped = new Array[String](n)
    val toks = new Array[String](n)
    var i = 0
    while (i < n) {
      val r = raw.getUTF8String(i).toString
      stripped(i) = stripRe.matcher(r).replaceAll("")
      toks(i) = stripped(i).toLowerCase(java.util.Locale.ROOT)
      i += 1
    }
    var nLettered = 0; var nCaps = 0; var exclRaw = 0
    i = 0
    while (i < n) {
      if (letterRe.matcher(stripped(i)).find()) {
        nLettered += 1
        if (stripped(i).toUpperCase(java.util.Locale.ROOT) == stripped(i)) nCaps += 1
      }
      val r = raw.getUTF8String(i).toString
      var j = 0
      while (j < r.length) { if (r.charAt(j) == '!') exclRaw += 1; j += 1 }
      i += 1
    }
    val mixed = nCaps > 0 && nCaps < nLettered
    val nExcl = math.min(4, exclRaw)
    var total = 0.0
    i = 0
    while (i < n) {
      val v0 = lexicon.getOrElse(toks(i), 0.0)
      val sgn = math.signum(v0)
      val caps = mixed && letterRe.matcher(stripped(i)).find() &&
        stripped(i).toUpperCase(java.util.Locale.ROOT) == stripped(i)
      var acc = v0 + (if (caps) sgn * 0.733 else 0.0)
      var back = 3
      while (back >= 1) {
        val p = if (i - back >= 0) toks(i - back) else null
        val b = if (p != null) boosters.getOrElse(p, 0.0) else 0.0
        val f = if (p != null && negations.contains(p)) -0.74 else 1.0
        acc = (acc + sgn * b) * f
        back -= 1
      }
      total += acc
      i += 1
    }
    val adjusted =
      if (total > 0) total + nExcl * 0.292
      else if (total < 0) total - nExcl * 0.292
      else total
    val compound = adjusted / math.sqrt(adjusted * adjusted + 15.0)
    // Spark round(x, 4) on DOUBLE: exact-decimal HALF_UP
    java.math.BigDecimal.valueOf(compound)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
  }
}

case class SentimentCompound(child: Expression)
    extends UnaryExpression with TokensExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = toksType(child.dataType, prettyName)
  override def nullSafeEval(toks: Any): Any =
    SentimentScore.score(toks.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.plans.SentimentScore.score($t);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_sentiment"
}

/** graft_lsh_buckets(emb) → ARRAY<STRING> of the 8 "t:sig" bucket keys.
  *
  * Same Rademacher ±1 hyperplanes (seed 42) and the same sequential
  * left-to-right dot accumulation as Similarity.lshBuckets' HOF form —
  * identical sign decisions, so the q_ann_lsh DuckDB oracle (which
  * replays the planes as literal constants) stays valid. One fused
  * pass instead of 64 interpreted zip_with+aggregate walks.
  */
object LshBucketSig {
  val NTables = 8
  val BitsPerTable = 8
  // same construction as Similarity.hyperplanes(64, 64): seed 42,
  // nextBoolean per component
  val planes: Array[Array[Double]] = {
    val rng = new scala.util.Random(42)
    Array.fill(NTables * BitsPerTable)(Array.fill(64)(if (rng.nextBoolean()) 1.0 else -1.0))
  }

  def buckets(emb: ArrayData): ArrayData = {
    val n = emb.numElements()
    val v = new Array[Double](n)
    var i = 0
    while (i < n) { v(i) = emb.getDouble(i); i += 1 }
    val out = new Array[org.apache.spark.unsafe.types.UTF8String](NTables)
    // HOF parity: zip_with null-pads when lengths differ, making the
    // dot NULL and every `dot > 0` test false — a non-64-dim vector
    // lands in bucket 0 of every table on both paths
    val degenerate = n != 64
    var t = 0
    while (t < NTables) {
      var sig = 0
      if (!degenerate) {
        var b = 0
        while (b < BitsPerTable) {
          val p = planes(t * BitsPerTable + b)
          var dot = 0.0
          var j = 0
          while (j < 64) { dot += v(j) * p(j); j += 1 }
          if (dot > 0) sig |= (1 << b)
          b += 1
        }
      }
      out(t) = org.apache.spark.unsafe.types.UTF8String.fromString(s"$t:$sig")
      t += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }
}

case class LshBuckets(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_lsh_buckets requires ARRAY<DOUBLE>, got ${other.simpleString}")
  }
  override def nullSafeEval(emb: Any): Any =
    LshBucketSig.buckets(emb.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, e =>
      s"${ev.value} = graft.plans.LshBucketSig.buckets($e);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_lsh_buckets"
}

/** graft_minhash_sigs(toks, k) → ARRAY<BIGINT> of the 64 signature values. */
case class MinhashSigs(left: Expression, right: Expression)
    extends BinaryExpression with TokensExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = {
    val t = toksType(left.dataType, prettyName)
    if (t != TypeCheckResult.TypeCheckSuccess) t else literalK(right, prettyName)
  }
  @transient private lazy val k: Int = right.eval(null).asInstanceOf[Int]
  override def nullSafeEval(toks: Any, kv: Any): Any =
    TextSig.minhashSigs(toks.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = graft.plans.TextSig.minhashSigs($t, $k);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "graft_minhash_sigs"
}

/** graft_simhash_sig(toks) → BIGINT 60-bit SimHash. */
case class SimhashSig(child: Expression)
    extends UnaryExpression with TokensExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = toksType(child.dataType, prettyName)
  override def nullSafeEval(toks: Any): Any =
    TextSig.simhashSig(toks.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.plans.TextSig.simhashSig($t);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_simhash_sig"
}

/** graft_gram_hashes(toks, k) → sorted distinct ARRAY<BIGINT> 60-bit gram hashes. */
case class GramHashes(left: Expression, right: Expression)
    extends BinaryExpression with TokensExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = {
    val t = toksType(left.dataType, prettyName)
    if (t != TypeCheckResult.TypeCheckSuccess) t else literalK(right, prettyName)
  }
  @transient private lazy val k: Int = right.eval(null).asInstanceOf[Int]
  override def nullSafeEval(toks: Any, kv: Any): Any =
    TextSig.gramHashSet(toks.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = graft.plans.TextSig.gramHashSet($t, $k);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "graft_gram_hashes"
}

/** graft_char_entropy(text) → DOUBLE Shannon entropy (nats) of the
  * string's code-point distribution — the cheap compression-proxy
  * quality signal (low entropy ⇒ repetitive/boilerplate text, high ⇒
  * random noise; both tails are curation drops). One JIT'd pass per
  * row: code-point histogram, then −Σ p·ln p folded in ASCENDING CODE
  * POINT order — the same order as a `list(... ORDER BY c)` fold over
  * UTF-8 single-char strings, so the value replays byte-exactly in
  * the DuckDB oracle (q_char_entropy). The +0.0 final add normalizes
  * the −0.0 a single-repeated-char document would otherwise produce.
  */
case class CharEntropy(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("graft_char_entropy(text STRING)")
  override def nullSafeEval(text: Any): Any =
    TextSig.charEntropy(text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.plans.TextSig.charEntropy($t);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_char_entropy"
}

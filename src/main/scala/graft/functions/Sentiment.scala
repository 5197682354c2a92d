package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** VADER-style lexicon sentiment scorer (F1).
  *
  * Reference behavior: NLTK SentimentIntensityAnalyzer `compound` score
  * over headline+summary (fetch_transform_news.py:171-175). We implement
  * the published algorithm shape (Hutto & Gilbert 2014): per-token
  * lexicon valence, booster amplification, negation flip within a
  * 3-token lookback, then compound normalization s/sqrt(s^2+alpha).
  * Exact NLTK score parity is a non-goal (SURVEY.md §2.9) — rank
  * behavior on fixtures is what SentimentSpec checks.
  *
  * Implementation: a Scala UDF over the token array. The lexicon is tiny
  * and compiled in — at 100 TB the UDF is a per-row map with zero state,
  * so it scales linearly; a codegen'd Expression would only remove the
  * serialization overhead of the array handoff.
  */
object Sentiment {
  /** Minimal built-in core covering the testdata vocabulary plus
    * common sentiment carriers. Valences in [-4, 4] like VADER's. */
  private val coreLexicon: Map[String, Double] = Map(
    "fast" -> 1.9, "good" -> 1.9, "great" -> 3.1, "best" -> 3.2,
    "win" -> 2.8, "gain" -> 1.6, "up" -> 0.9, "bull" -> 1.5,
    "slow" -> -1.6, "bad" -> -2.5, "error" -> -2.2, "fail" -> -2.5,
    "loss" -> -1.9, "down" -> -0.9, "bear" -> -1.2, "crash" -> -3.0,
    "big" -> 0.6, "small" -> -0.3)

  /** Bundled lexicon resource (`word<TAB>valence` per line, `#`
    * comments), mirroring the reference's use of NLTK VADER's full
    * lexicon file (fetch_transform_news.py:21) rather than a hardcoded
    * handful. Every consumer — the UDF spec, the column pipeline, the
    * native expression, and the GENERATED DuckDB oracle CASE chains —
    * reads this one Map, so lexicon growth needs no code changes. */
  private def loadResourceLexicon(): Map[String, Double] =
    Option(getClass.getResourceAsStream("/graft/sentiment_lexicon.tsv")) match {
      case None => Map.empty
      case Some(in) =>
        val src = scala.io.Source.fromInputStream(in, "UTF-8")
        try src.getLines()
          .map(_.trim)
          .filter(l => l.nonEmpty && !l.startsWith("#"))
          .flatMap { l =>
            l.split('\t') match {
              case Array(w, v) => Some(w.toLowerCase(java.util.Locale.ROOT) -> v.toDouble)
              case _ => None
            }
          }.toMap
        finally src.close()
    }

  /** Full scoring lexicon: resource file ++ built-in core (core wins on
    * conflict so fixture-pinned valences stay stable). */
  val lexicon: Map[String, Double] = loadResourceLexicon() ++ coreLexicon

  val boosters: Map[String, Double] = Map(
    "very" -> 0.293, "extremely" -> 0.293, "really" -> 0.293,
    "slightly" -> -0.293, "somewhat" -> -0.293)

  val negations: Set[String] = Set("not", "no", "never", "without", "isnt", "dont")

  private val normAlpha = 15.0
  private val capsBoost = 0.733      // ALL-CAPS emphasis (Hutto & Gilbert §2.2)
  private val exclAmp = 0.292        // per '!' amplification, capped at 4

  /** Score a RAW token sequence (original casing/punctuation kept so
    * the emphasis heuristics can see it) -> compound in [-1, 1]. */
  private def hasAsciiLetter(t: String): Boolean =
    t.exists(c => (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z'))

  def score(rawToks: Seq[String]): Double = {
    val stripped = rawToks.map(_.replaceAll("[!?.,;:]+$", ""))
    val toks = stripped.map(_.toLowerCase(java.util.Locale.ROOT))
    // ALL-CAPS boost only applies in mixed-case text (all-caps shouting
    // everywhere carries no differential emphasis). ASCII letter class +
    // Locale.ROOT to match the builtin rlike("[A-Za-z]")/upper() path.
    val mixedCase = {
      val lettered = stripped.filter(hasAsciiLetter)
      val caps = lettered.count(t => t.toUpperCase(java.util.Locale.ROOT) == t)
      caps > 0 && caps < lettered.length
    }
    // trailing-exclamation emphasis applies to the whole utterance
    val nExcl = math.min(4, rawToks.map(t => t.count(_ == '!')).sum)
    var total = 0.0
    var i = 0
    while (i < toks.length) {
      lexicon.get(toks(i)).foreach { valence =>
        var v = valence
        if (mixedCase && hasAsciiLetter(stripped(i)) &&
          stripped(i).toUpperCase(java.util.Locale.ROOT) == stripped(i))
          v += math.signum(valence) * capsBoost
        // booster / negation lookback over up to 3 preceding tokens
        var j = math.max(0, i - 3)
        while (j < i) {
          val p = toks(j)
          boosters.get(p).foreach(b => v += math.signum(valence) * b)
          if (negations.contains(p)) v = -0.74 * v
          j += 1
        }
        total += v
      }
      i += 1
    }
    if (total > 0) total += nExcl * exclAmp
    else if (total < 0) total -= nExcl * exclAmp
    val compound = total / math.sqrt(total * total + normAlpha)
    // exact-decimal HALF_UP, matching Spark round(x, 4) and the native
    // expr (math.rint is half-even and can emit -0.0 — neither can this)
    java.math.BigDecimal.valueOf(compound)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  private val scoreUdf = udf((toks: Seq[String]) => score(toks))

  /** UDF form of the scorer — kept as the executable spec for
    * [[compound]] (SentimentSpec asserts column ≡ UDF on fixtures). */
  def compoundUdf(text: Column): Column =
    scoreUdf(split(trim(text), "\\s+"))

  /** Compound sentiment of `textCol` into `outCol`: the fused native
    * `graft_sentiment` expression (plans/TextSignatures.scala; hash-map
    * lookup per token, lexicon-size-independent), bit-identical to
    * [[withCompoundColumns]] (TextSignaturesSpec). */
  def withCompound(df: org.apache.spark.sql.DataFrame, textCol: String,
                   outCol: String): org.apache.spark.sql.DataFrame =
    df.withColumn(outCol,
      call_function("graft_sentiment", split(trim(col(textCol)), "\\s+")))

  /** Compound sentiment as PURE built-in column functions — no UDF, so
    * the whole scorer inlines into whole-stage codegen and (because
    * every step is plain SQL semantics) is replayed value-exactly by
    * the DuckDB oracle for q_sentiment.
    *
    * The 3-token booster/negation lookback is a bounded fold, so it is
    * unrolled closed-form: with b_k = sign(v)·booster(p_k) and
    * f_k = -0.74 if p_k negates else 1, the loop
    * `for j: v += b_j; if neg: v = -0.74·v` is exactly
    * `((vInit+b1)·f1 + b2)·f2 + b3)·f3` — the same additions and
    * multiplications in the same order, hence bit-identical to the
    * UDF loop. Adding a literal 0.0 for absent boosters cannot change
    * bits (v is nonzero whenever the token scores).
    *
    * PERFORMANCE: this is a DataFrame transform, not a single Column,
    * on purpose. An expression referenced from inside a higher-order
    * lambda is re-evaluated PER ARRAY ELEMENT — a one-Column form made
    * `get(stripped, i)` rebuild the whole regex-stripped array for
    * every token (O(n²) regex calls per document: 373 s at sf0.1).
    * Materializing each intermediate as a real projection column makes
    * the lambdas reference per-row attributes instead. The per-token
    * valence CASE chain grows with the lexicon and runs interpreted
    * inside transform(), which is why [[withCompound]] serves the
    * native expression instead. */
  private[graft] def withCompoundColumns(df: org.apache.spark.sql.DataFrame, textCol: String,
                                         outCol: String): org.apache.spark.sql.DataFrame = {
    def valence(t: Column): Column =
      lexicon.toSeq.sortBy(_._1).foldLeft(when(lit(false), lit(0.0))) {
        case (acc, (w, v)) => acc.when(t === w, lit(v))
      }.otherwise(lit(0.0))
    def boosterOf(t: Column): Column =
      boosters.toSeq.sortBy(_._1).foldLeft(when(lit(false), lit(0.0))) {
        case (acc, (w, b)) => acc.when(t === w, lit(b))
      }.otherwise(lit(0.0))
    def flipOf(t: Column): Column =
      when(t.isin(negations.toSeq: _*), lit(-0.74)).otherwise(lit(1.0))

    val withArrays = df
      .withColumn("__s_raw", split(trim(col(textCol)), "\\s+"))
      .withColumn("__s_stripped",
        transform(col("__s_raw"), x => regexp_replace(x, "[!?.,;:]+$", "")))
      .withColumn("__s_toks", transform(col("__s_stripped"), x => lower(x)))
      .withColumn("__s_lettered",
        filter(col("__s_stripped"), x => x.rlike("[A-Za-z]")))
      .withColumn("__s_ncaps",
        size(filter(col("__s_lettered"), x => upper(x) === x)))
      .withColumn("__s_nlettered", size(col("__s_lettered")))
      .withColumn("__s_nexcl", least(lit(4), aggregate(col("__s_raw"), lit(0),
        (acc, t) => acc + (length(t) - length(translate(t, "!", ""))))))
      // per-token lexicon valence, computed ONCE per token: the 18-way
      // CASE chain would otherwise re-run 5× per token (v0 + each
      // signum reference) inside the contribution lambda
      .withColumn("__s_vals", transform(col("__s_toks"), t => valence(t)))

    val mixed = col("__s_ncaps") > 0 && col("__s_ncaps") < col("__s_nlettered")
    // per-token contribution; i and get() are both 0-based, and get()
    // returns NULL for any out-of-range index (including negative), so
    // missing predecessors need no explicit guard
    val contribs = transform(col("__s_vals"), (v0, i) => {
      val sgn = signum(v0)
      val strippedI = get(col("__s_stripped"), i)
      val capsAdj = when(mixed && strippedI.rlike("[A-Za-z]") && upper(strippedI) === strippedI,
        sgn * lit(capsBoost)).otherwise(lit(0.0))
      val vInit = v0 + capsAdj
      Seq(3, 2, 1).foldLeft(vInit) { (acc, back) =>
        val p = get(col("__s_toks"), i - back)
        (acc + sgn * boosterOf(p)) * flipOf(p)
      }
    })
    val total = aggregate(contribs, lit(0.0), (acc, v) => acc + v)
    val adjusted = when(total > 0, total + col("__s_nexcl") * lit(exclAmp))
      .when(total < 0, total - col("__s_nexcl") * lit(exclAmp))
      .otherwise(total)
    withArrays
      .withColumn(outCol, round(adjusted / sqrt(adjusted * adjusted + lit(normAlpha)), 4))
      .drop("__s_raw", "__s_stripped", "__s_toks", "__s_lettered",
        "__s_ncaps", "__s_nlettered", "__s_nexcl", "__s_vals")
  }
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL canonicalization + registered-domain extraction — the
  * CCNet/RefinedWeb stage BEFORE source-scoped dedup and per-domain
  * curation: raw crawl URLs vary in case, default ports, `www.`,
  * fragments, trailing slashes and tracking parameters, so grouping by
  * the raw string undercounts duplicates and splinters domains.
  *
  * Pure string expressions (regexp chains + array ops) — map-only,
  * codegen'd, no UDF — and every step replays in DuckDB's RE2, so the
  * canonical forms themselves are oracle-checkable (q_domain_health).
  *
  * Deliberately a NORMALIZER, not a validator: inputs that are not
  * URLs pass through the regex chain unchanged-ish rather than
  * erroring — at corpus scale a crawler's url column always carries
  * garbage and a throwing canonicalizer would kill the batch.
  */
object Urls {

  private val schemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"

  /** Query parameters dropped by canonicalization: click/campaign
    * trackers that vary per crawl visit without changing the resource. */
  private val trackingParamRe = "^(utm_[a-z]+|gclid|fbclid|ref|mc_cid|mc_eid)(=|$)"

  /** Lowercased scheme ('' when the input has none). */
  def scheme(u: Column): Column = lower(regexp_extract(trim(u), schemeRe, 1))

  /** Everything after scheme://, fragment stripped. */
  private def afterScheme(u: Column): Column =
    regexp_replace(regexp_replace(trim(u), "#.*$", ""), schemeRe, "")

  /** Canonical host[:port]: lowercased, userinfo stripped, the
    * scheme's DEFAULT port stripped (a non-default port is identity-
    * relevant and kept), leading `www.` stripped. */
  def host(u: Column): Column = {
    val hp = regexp_replace(
      lower(regexp_extract(afterScheme(u), "^([^/?]*)", 1)), "^[^@]*@", "")
    val noPort = when(scheme(u) === "http", regexp_replace(hp, ":80$", ""))
      .when(scheme(u) === "https", regexp_replace(hp, ":443$", ""))
      .otherwise(hp)
    regexp_replace(noPort, "^www\\.", "")
  }

  private def pathQuery(u: Column): Column =
    regexp_replace(afterScheme(u), "^[^/?]*", "")

  /** Path with trailing slashes stripped (case preserved: URL paths
    * are case-sensitive, unlike hosts). */
  private def canonPath(u: Column): Column =
    regexp_replace(regexp_extract(pathQuery(u), "^([^?]*)", 1), "/+$", "")

  /** Query with tracking params dropped and the rest SORTED (param
    * order is transport noise; sorting makes a=1&b=2 ≡ b=2&a=1). */
  private def canonQuery(u: Column): Column =
    array_join(
      array_sort(filter(split(regexp_extract(pathQuery(u), "\\?(.*)$", 1), "&"),
        p => p =!= "" && !p.rlike(trackingParamRe))), "&")

  /** The full canonical form: scheme://host[:port]path[?sortedquery]. */
  def canonicalizeUrl(u: Column): Column = {
    val q = canonQuery(u)
    concat(scheme(u), lit("://"), host(u), canonPath(u),
      when(q === "", lit("")).otherwise(concat(lit("?"), q)))
  }

  /** Public-suffix rules parsed from the bundled FULL PSL snapshot
    * (`/graft/public_suffix_snapshot.dat` — the complete
    * publicsuffix.org list, ICANN + private sections; see the
    * resource header for provenance). Grouped into the shapes the
    * column matcher needs, keyed by LABEL COUNT with no size cap
    * (the full list runs to 5-label exact rules and 4-label wildcard
    * parents): exact suffixes; wildcard PARENTS (rule `*.kobe.jp` →
    * parent `kobe.jp`); exceptions (rule `!city.kobe.jp` stored as
    * `city.kobe.jp` — per PSL its public suffix is the rule minus
    * its leftmost label). Per the PSL spec each line is read up to
    * the first whitespace. 1-label exact entries (the TLDs
    * themselves) are dropped as registered-domain-equivalent to the
    * implicit default `*` rule — both make an n-label host's
    * registered domain its last 2 labels — which keeps ~1,500
    * entries out of every generated IN list. Any other rule shape
    * (embedded `*`, wildcard exceptions) is rejected loudly: a
    * silently unmatchable rule would mis-group hosts with no error. */
  private[graft] object SuffixRules {
    val (exact, wildParent, exc): (Map[Int, Seq[String]], Map[Int, Seq[String]],
        Map[Int, Seq[String]]) = {
      val in = Option(getClass.getResourceAsStream("/graft/public_suffix_snapshot.dat"))
        .getOrElse(sys.error("public_suffix_snapshot.dat missing from resources"))
      val parsed = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim.takeWhile(c => !Character.isWhitespace(c)))
        .filter(l => l.nonEmpty && !l.startsWith("//")).toList
      finally in.close()
      // Unicode rules (公司.cn, …) additionally index their punycode
      // form: the canonical DNS/URL host is the xn-- ASCII encoding,
      // which a literal compare against the Unicode rule can never
      // match — without this, every registrant under such a suffix
      // collapses into one "domain" (r15 review). Both forms stay in
      // the sets (raw logs may carry either); label counts are
      // identical, so tiering is unaffected. A rule the IDN codec
      // rejects keeps its literal form only.
      def expand(l: String): Seq[String] = {
        val (prefix, body) =
          if (l.startsWith("!")) ("!", l.stripPrefix("!"))
          else if (l.startsWith("*.")) ("*.", l.stripPrefix("*."))
          else ("", l)
        val ascii = try {
          val a = java.net.IDN.toASCII(body)
          if (a != body) Some(a) else None
        } catch { case _: Exception => None }
        Seq(l) ++ ascii.map(prefix + _)
      }
      val lines = parsed.flatMap(expand)
      def labels(r: String) = r.split("\\.", -1).length
      val (excRules, rest) = lines.partition(_.startsWith("!"))
      val (wild, exactAll) = rest.partition(_.startsWith("*."))
      val excs = excRules.map(_.stripPrefix("!"))
      val wildParents = wild.map(_.stripPrefix("*."))
      (excs ++ wildParents).foreach { r =>
        require(!r.contains("*") && r.nonEmpty,
          s"PSL snapshot: unsupported rule shape '$r' (only leading-* wildcards and plain exceptions)")
      }
      exactAll.foreach(r => require(!r.contains("*"),
        s"PSL snapshot: unsupported embedded wildcard in '$r'"))
      excs.foreach(r => require(labels(r) >= 2,
        s"PSL snapshot: 1-label exception '$r' has no parent suffix"))
      (exactAll.filter(labels(_) >= 2).groupBy(labels),
        wildParents.groupBy(labels),
        excs.groupBy(labels))
    }
    /** Longest public suffix any exact/wildcard rule can yield. */
    val maxSuffix: Int =
      ((exact.keys ++ wildParent.keys.map(_ + 1)) ++ Seq(1)).max
  }

  /** Registered domain of the canonical host, by the PSL algorithm
    * over the bundled FULL snapshot: the prevailing rule is any
    * matching EXCEPTION, else the LONGEST matching exact/wildcard
    * rule, else the implicit `*`; the registered domain is the public
    * suffix plus one label. Hosts that ARE a public suffix (or
    * shorter) degrade to themselves — the normalizer contract, not an
    * error. Served by the native `graft_registered_domain` expression
    * ([[graft.plans.RegisteredDomainLookup]] — ONE plan node probing
    * rule sets hashed once per JVM): the declarative when-chain twin
    * below carries ~14k rule literals through analysis/optimization/
    * codegen on EVERY query that calls it, measured as
    * q_domain_health's 1.85→2.96 s regression when the full PSL
    * landed (r15 verdict #4). Both forms consume the same parsed
    * [[SuffixRules]] and FunctionsSpec pins their equality, and the
    * same rule sets generate the DuckDB replay (q_domain_health's
    * oracle), so all THREE readings share one resource. The grouping
    * key for per-domain curation rollups and leakage-safe splits
    * ([[graft.operators.Sampling.assignSplit]] on this column keeps a
    * domain's pages on one side of the train/eval boundary). */
  def registeredDomain(u: Column): Column =
    call_function("graft_registered_domain", host(u))

  /** The declarative (built-ins only) twin of [[registeredDomain]] —
    * runnable on a session WITHOUT the graft extensions installed,
    * and the structural mirror of the generated SQL replay. Same
    * result, bigger plan: each rule tier is one set membership over
    * thousands of full-list literals (O(1) per row once the optimizer
    * folds it to an InSet, but the literal tree is rebuilt and
    * codegen'd per query). */
  def registeredDomainDeclarative(u: Column): Column = {
    val h = regexp_replace(host(u), ":\\d+$", "")
    val labels = split(h, "\\.")
    val n = size(labels)
    // lastK via reverse-slice-reverse: never indexes out of bounds
    // (ANSI-safe), and degrades to the whole host on short inputs
    def lastK(k: Int) = array_join(reverse(slice(reverse(labels), 1, k)), ".")
    def inSet(c: Column, s: Seq[String]) = if (s.isEmpty) lit(false) else c.isin(s: _*)
    val r = SuffixRules
    // exceptions prevail over everything; then suffix tiers longest-first
    val excWhens = r.exc.keys.toSeq.sorted.reverse.map { k =>
      (n >= k && inSet(lastK(k), r.exc(k)), lastK(k))
    }
    val sufWhens = (r.maxSuffix to 2 by -1).map { k =>
      val cond = n >= k && (inSet(lastK(k), r.exact.getOrElse(k, Nil)) ||
        inSet(lastK(k - 1), r.wildParent.getOrElse(k - 1, Nil)))
      (cond, when(n >= k + 1, lastK(k + 1)).otherwise(h))
    }
    val tiers = excWhens ++ sufWhens
    tiers.tail.foldLeft(when(tiers.head._1, tiers.head._2)) {
      case (acc, (c, v)) => acc.when(c, v)
    }.otherwise(when(n >= 2, lastK(2)).otherwise(h))
  }

  /** The DuckDB replay of [[registeredDomain]], generated from the
    * SAME parsed rule sets so the two engines cannot drift: given a
    * SQL expression for the port-stripped host, emits the CASE chain
    * with the snapshot's rules inlined as IN lists (large — the full
    * list — but flat; DuckDB folds each into a hash set). */
  def registeredDomainSql(hostExpr: String): String = {
    val r = SuffixRules
    def ll(k: Int) = s"array_to_string(string_split($hostExpr, '.')[-$k:], '.')"
    val n = s"len(string_split($hostExpr, '.'))"
    def inList(c: String, s: Seq[String]) =
      if (s.isEmpty) "FALSE"
      else s"$c IN (${s.sorted.map(x => s"'${x.replace("'", "''")}'").mkString(",")})"
    val excWhens = r.exc.keys.toSeq.sorted.reverse.map { k =>
      s"WHEN $n >= $k AND ${inList(ll(k), r.exc(k))} THEN ${ll(k)}"
    }
    val sufWhens = (r.maxSuffix to 2 by -1).map { k =>
      s"""WHEN $n >= $k AND (${inList(ll(k), r.exact.getOrElse(k, Nil))}
         |          OR ${inList(ll(k - 1), r.wildParent.getOrElse(k - 1, Nil))})
         |          THEN CASE WHEN $n >= ${k + 1} THEN ${ll(k + 1)} ELSE $hostExpr END""".stripMargin
    }
    (Seq("CASE") ++ excWhens ++ sufWhens ++
      Seq(s"ELSE CASE WHEN $n >= 2 THEN ${ll(2)} ELSE $hostExpr END END"))
      .mkString("\n     ")
  }
}

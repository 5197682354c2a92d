package graft

import graft.functions.{Calendar, Sentiment, TextStats}
import graft.operators.Conform
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Fixtures for the scalar surface: calendar fold (P18/P19), conform
  * transforms (P1-P4), text stats, and the sentiment scorer (F1).
  */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("lastTradingDay folds weekends to Friday (reference full_stock_pipeline.py:51-57)") {
    val d = Seq("2024-01-05", "2024-01-06", "2024-01-07", "2024-01-08")
      .toDF("s").select(to_date($"s").as("d"))
    val got = d.select(date_format(Calendar.lastTradingDay($"d"), "yyyy-MM-dd"))
      .as[String].collect().toSeq
    // Fri stays, Sat→Fri, Sun→Fri, Mon stays
    assert(got === Seq("2024-01-05", "2024-01-05", "2024-01-05", "2024-01-08"))
  }

  test("conform: rename + subset + addMissing + castAndFill") {
    val df = Seq((1, "x", Some(2.5)), (2, "y", None)).toDF("id", "name", "v")
    val out = Conform.castAndFill(
      Conform.addMissing(
        Conform.selectSubset(
          Conform.rename(df, Map("name" -> "label", "missing_col" -> "ignored")),
          Seq("id", "label", "v", "not_there")),
        Seq("extra" -> lit(7L))),
      Map("v" -> DoubleType, "extra" -> LongType), 0.0)
    assert(out.columns.toSeq === Seq("id", "label", "v", "extra"))
    val rows = out.orderBy("id").as[(Int, String, Double, Long)].collect().toSeq
    assert(rows === Seq((1, "x", 2.5, 7L), (2, "y", 0.0, 7L))) // null v filled
  }

  test("text stats on a known sentence") {
    val df = Seq((1L, "The quick  brown fox, the fast one!")).toDF("doc_id", "text")
    val r = df.select(
      TextStats.nTokens($"text").as("nt"),
      TextStats.punctCount($"text").as("pc"),
      TextStats.stopwordRatio($"text").as("sr"),
      TextStats.bpeishCount($"text").as("bp")).collect().head
    assert(r.getInt(0) === 7) // whitespace-collapsed tokens
    assert(r.getInt(1) === 2) // comma + bang
    assert(math.abs(r.getDouble(2) - 2.0 / 7) < 1e-9) // "the" twice (case-folded)
    assert(r.getInt(3) === 9) // 7 words + 2 punct symbols
  }

  test("fingerprint is stable under whitespace/case noise") {
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "hello worlds"))
      .toDF("doc_id", "text")
    val fps = df.select(TextStats.fingerprint($"text")).as[String].collect()
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
  }

  test("chunkTokens: full coverage, overlap stitching, short-doc degenerate") {
    val docs = Seq(
      (1L, (1 to 50).map(i => s"t$i").mkString(" ")), // 50 tokens
      (2L, "just three tokens")).toDF("doc_id", "text")
    val chunks = graft.operators.Chunker.chunkTokens(docs, size = 16, overlap = 4)
      .as[(Long, Long, Long, String)].collect().sortBy(c => (c._1, c._2))
    val d1 = chunks.filter(_._1 == 1L)
    // ceil((50-4)/12) = 4 chunks; every token appears; consecutive
    // chunks overlap by exactly `overlap` tokens
    assert(d1.length === 4)
    assert(d1.flatMap(_._4.split(" ")).toSet === (1 to 50).map(i => s"t$i").toSet)
    d1.sliding(2).foreach { case Array(a, b) =>
      val tail = a._4.split(" ").takeRight(4).toSeq
      val head = b._4.split(" ").take(4).toSeq
      assert(tail === head, s"chunks ${a._2}/${b._2} must overlap by 4")
    }
    assert(d1.take(3).forall(_._3 == 16L) && d1.last._3 === (50L - 3 * 12))
    // short doc: one chunk, whole text
    val d2 = chunks.filter(_._1 == 2L)
    assert(d2.length === 1 && d2.head._4 === "just three tokens" && d2.head._3 === 3L)
  }

  test("maskPii masks URLs, emails, phone runs and counts each category") {
    import graft.functions.TextClean
    val df = Seq(
      (1L, "write to bob@example.com or visit https://ex.com/a?b=1 or call +1 (555) 123-4567"),
      (2L, "no pii in this plain sentence at all")).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextClean.maskPii($"text").as("m"),
        TextClean.nUrls($"text"), TextClean.nEmails($"text"), TextClean.nPhones($"text"))
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1)
    assert(got(0)._2 === "write to <EMAIL> or visit <URL> or call <PHONE>")
    assert((got(0)._3, got(0)._4, got(0)._5) === ((1L, 1L, 1L)))
    assert(got(1)._2 === "no pii in this plain sentence at all")
    assert((got(1)._3, got(1)._4, got(1)._5) === ((0L, 0L, 0L)))
  }

  test("sentiment: ALL-CAPS boost and exclamation emphasis amplify") {
    val plain = Sentiment.score(Seq("spark", "is", "fast"))
    val caps = Sentiment.score(Seq("spark", "is", "FAST"))
    val excl = Sentiment.score(Seq("spark", "is", "fast!!"))
    assert(caps > plain, "caps boost")
    assert(excl > plain, "exclamation emphasis")
    // all-caps utterance: no differential emphasis
    val shouting = Sentiment.score(Seq("SPARK", "IS", "FAST"))
    assert(shouting === plain)
  }

  test("sentiment: direction, negation flip, booster, neutral zero") {
    val fast = Sentiment.score(Seq("fast"))
    val slow = Sentiment.score(Seq("slow"))
    val notFast = Sentiment.score(Seq("not", "fast"))
    val veryFast = Sentiment.score(Seq("very", "fast"))
    val neutral = Sentiment.score(Seq("table", "row"))
    assert(fast > 0 && slow < 0 && neutral === 0.0)
    assert(notFast < 0, "negation flips polarity")
    assert(veryFast > fast, "booster amplifies")
    assert(math.abs(fast) <= 1 && math.abs(slow) <= 1)
  }

  test("sentiment built-in column form ≡ UDF scorer on emphasis/negation/booster fixtures") {
    val texts = Seq(
      "spark is fast and the query is good",
      "slow scan error bad merge",
      "table row column",
      "not fast", "very fast", "never very FAST!!", "NOT GOOD at all",
      "really really great win", "somewhat bad, slightly slow.",
      "no gain without loss", "Mixed CASE Crash!! here", "fast! fast! fast! fast! fast!",
      "", "   ", "the BIG win!?", "dont crash; not a loss", "extremely slow...")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val rows = Sentiment.withCompound(df, "text", "col_form")
      .select($"doc_id", $"col_form", Sentiment.compoundUdf($"text").as("udf_form"))
      .as[(Long, Double, Double)].collect()
    rows.foreach { case (id, c, u) =>
      assert(math.abs(c - u) < 1e-12, s"doc $id (${texts(id.toInt)}): builtin=$c udf=$u")
    }
  }

  test("sentiment resource lexicon: loaded, rank-consistent, column ≡ UDF") {
    // the bundled TSV must actually widen the vocabulary well past the
    // built-in core, and core words keep their pinned valences
    assert(Sentiment.lexicon.size > 250, s"lexicon size ${Sentiment.lexicon.size}")
    assert(Sentiment.lexicon("fast") === 1.9 && Sentiment.lexicon("crash") === -3.0)
    // rank parity on resource-only words: stronger valence → stronger
    // compound, direction preserved, negation flips
    val love = Sentiment.score(Seq("love"))
    val nice = Sentiment.score(Seq("nice"))
    val terrible = Sentiment.score(Seq("terrible"))
    val notLove = Sentiment.score(Seq("not", "love"))
    assert(love > nice && nice > 0, "positive ranks by valence")
    assert(terrible < 0 && love > terrible)
    assert(notLove < 0, "negation flips resource words")
    // the generated CASE chains and the UDF walk the same grown Map
    val texts = Seq("love this wonderful rally", "terrible scandal and fraud",
      "not wonderful, really terrible!!", "VERY happy win")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val rows = Sentiment.withCompound(df, "text", "col_form")
      .select($"doc_id", $"col_form", Sentiment.compoundUdf($"text").as("udf_form"))
      .as[(Long, Double, Double)].collect()
    rows.foreach { case (id, c, u) =>
      assert(math.abs(c - u) < 1e-12, s"doc $id: builtin=$c udf=$u")
    }
  }

  test("sentiment column form scores the documents fixture deterministically") {
    val df = Seq(
      (1L, "spark is fast and the query is good"),
      (2L, "slow scan error bad merge"),
      (3L, "table row column")).toDF("doc_id", "text")
    val got = Sentiment.withCompound(df, "text", "s")
      .select("doc_id", "s")
      .orderBy("doc_id").as[(Long, Double)].collect()
    assert(got(0)._2 > 0 && got(1)._2 < 0 && got(2)._2 === 0.0)
  }

  test("q_sentiment_lexicon keeps NULL-text docs with a NULL score") {
    QueriesText.init()
    val dir = java.nio.file.Files.createTempDirectory("graft-nulldoc").toString
    Seq((1L, Option("love this rally"), "en", "web", 15L),
        (2L, Option.empty[String], "en", "web", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Queries.registry("q_sentiment_lexicon")._1(spark, dir)
      .as[(Long, Option[Double])].collect().toMap
    assert(got(1L).exists(_ > 0), "scored doc keeps its score")
    assert(got(2L).isEmpty, "NULL-text doc must survive with NULL, not drop")
  }

  test("canonicalizeUrl: case, ports, userinfo, fragment, slash, tracking params, param sort") {
    import graft.functions.Urls
    val cases = Seq(
      // scheme+host lowercase, www+default port stripped, fragment
      // dropped, trailing slash stripped, tracking dropped, params sorted
      "HTTP://WWW.Example.COM:80/a/b/?utm_source=x&z=1&a=2#frag" -> "http://example.com/a/b?a=2&z=1",
      "https://site.org:443/" -> "https://site.org",
      // NON-default port is identity-relevant and kept
      "https://site.org:8080/p" -> "https://site.org:8080/p",
      "http://user:pw@Host.com/x" -> "http://host.com/x",
      // empty and all-tracking queries collapse to no query at all
      "https://x.com/p?" -> "https://x.com/p",
      "https://x.com/p?ref=abc&fbclid=1" -> "https://x.com/p",
      // path case is preserved (paths are case-sensitive, hosts not)
      "https://X.com/CaseSensitive" -> "https://x.com/CaseSensitive")
    val got = cases.map(_._1).toDF("u")
      .select(Urls.canonicalizeUrl($"u")).as[String].collect().toSeq
    assert(got === cases.map(_._2))
    // raw variants that must COLLIDE post-canonicalization
    val variants = Seq(
      "https://www.shop.net/item?b=2&a=1",
      "HTTPS://Shop.NET:443/item/?a=1&b=2&utm_medium=email")
    val canon = variants.toDF("u")
      .select(Urls.canonicalizeUrl($"u")).as[String].collect().toSet
    assert(canon === Set("https://shop.net/item?a=1&b=2"))
  }

  test("registeredDomain: PSL snapshot — exact, wildcard, exception, multi-level rules") {
    import graft.functions.Urls
    val cases = Seq(
      // two-level exact suffixes
      "https://news.example.co.uk/x" -> "example.co.uk",
      "https://a.b.site.com/x" -> "site.com",
      "https://localhost/x" -> "localhost",
      "https://sub.x.com.au:8080/" -> "x.com.au",
      // the suffix itself degrades to the host (normalizer contract)
      "http://www.gov.uk/" -> "gov.uk",
      // ccTLD conventions the r13 heuristic missed
      "https://shop.example.com.ar/" -> "example.com.ar",
      "https://x.y.banka.co.il/" -> "banka.co.il",
      "https://w.example.com.tw/" -> "example.com.tw",
      // THREE-level exact suffix: k12.ca.us
      "https://www.school.k12.ca.us/" -> "school.k12.ca.us",
      // wildcard rule *.kobe.jp: <label>.kobe.jp is the public suffix
      "https://b.a.shop.kobe.jp/" -> "a.shop.kobe.jp",
      // exception rule !city.kobe.jp beats the wildcard
      "https://a.b.city.kobe.jp/" -> "city.kobe.jp",
      // host == wildcard parent: the wildcard does NOT match, default does
      "https://kobe.jp/" -> "kobe.jp",
      // prefecture second-level (plain exact)
      "https://www.site.aichi.jp/" -> "site.aichi.jp",
      // wildcard TLD *.bd with its own exception-free shape
      "https://a.example.bd/" -> "a.example.bd",
      "https://example.bd/" -> "example.bd",
      // !www.ck: registrable directly under the wildcard TLD
      "https://foo.www.ck/" -> "www.ck",
      "https://a.b.ck/" -> "a.b.ck",
      // FULL-list depth (r14 verdict #4): prefecture hosts
      "https://www.pref.aichi.jp/site/x" -> "pref.aichi.jp",
      // 4-label exact rule schools.nsw.edu.au
      "https://x.schools.nsw.edu.au/" -> "x.schools.nsw.edu.au",
      // private-section wildcard *.compute.amazonaws.com
      "https://ec2-1-2-3-4.compute.amazonaws.com/" -> "ec2-1-2-3-4.compute.amazonaws.com",
      "https://host.ec2-1-2-3-4.compute.amazonaws.com/" -> "host.ec2-1-2-3-4.compute.amazonaws.com",
      // private-section 5-label exact rule
      "https://bkt.s3.dualstack.ap-northeast-1.amazonaws.com/" ->
        "bkt.s3.dualstack.ap-northeast-1.amazonaws.com",
      // plain amazonaws.com host: only the .com rule applies
      "https://x.y.amazonaws.com/" -> "amazonaws.com",
      // pvt.k12.ma.us: 4-label exact beats the 3-label k12.ma.us
      "https://school.pvt.k12.ma.us/" -> "school.pvt.k12.ma.us",
      // IDN rule 公司.cn in its canonical PUNYCODE host form
      // (xn--55qx5d.cn): the ASCII expansion of the Unicode rule must
      // match, or every registrant under the suffix collapses into
      // one "domain" (r15 review)
      "https://foo.xn--55qx5d.cn/" -> "foo.xn--55qx5d.cn",
      "https://a.foo.xn--55qx5d.cn/" -> "foo.xn--55qx5d.cn",
      // …and in its raw Unicode form (both forms stay indexed)
      "https://foo.公司.cn/" -> "foo.公司.cn")
    val got = cases.map(_._1).toDF("u")
      .select(Urls.registeredDomain($"u")).as[String].collect().toSeq
    got.zip(cases).foreach { case (g, (in, want)) =>
      assert(g === want, s"registeredDomain($in)")
    }
    // rule-set sanity: the FULL snapshot parsed into every structural
    // shape, including the ≥4-label tiers the r14 subset capped out at
    assert(Urls.SuffixRules.exact(2).contains("co.uk"))
    assert(Urls.SuffixRules.exact(3).contains("k12.ca.us"))
    assert(Urls.SuffixRules.exact(4).contains("schools.nsw.edu.au"))
    assert(Urls.SuffixRules.exact(5).contains("s3.dualstack.ap-northeast-1.amazonaws.com"))
    assert(Urls.SuffixRules.wildParent(1).contains("bd"))
    assert(Urls.SuffixRules.wildParent(2).contains("kobe.jp"))
    assert(Urls.SuffixRules.wildParent(3).contains("compute.amazonaws.com"))
    assert(Urls.SuffixRules.exc(2).contains("www.ck"))
    assert(Urls.SuffixRules.exc(3).contains("city.kobe.jp"))
    assert(Urls.SuffixRules.maxSuffix === 5)
    // the dropped 1-label exact tier is registered-domain-equivalent
    // to the implicit * rule, so it must NOT appear in the maps
    assert(!Urls.SuffixRules.exact.contains(1))
  }

  test("registeredDomain: native expression ≡ declarative when-chain twin") {
    import graft.functions.Urls
    // every structural rule shape, plus the edge shapes the port strip
    // and label split must agree on: kept non-default ports, bare
    // colons, empty labels, trailing dots, hosts at/below their
    // suffix, unicode + punycode, and non-URL garbage (the normalizer
    // contract — garbage in, deterministic garbage out)
    val hosts = Seq(
      "https://news.example.co.uk/x", "https://a.b.site.com/x",
      "https://localhost/x", "https://sub.x.com.au:8080/",
      "http://www.gov.uk/", "https://b.a.shop.kobe.jp/",
      "https://a.b.city.kobe.jp/", "https://kobe.jp/",
      "https://a.example.bd/", "https://foo.www.ck/",
      "https://x.schools.nsw.edu.au/",
      "https://bkt.s3.dualstack.ap-northeast-1.amazonaws.com/",
      "https://school.pvt.k12.ma.us/", "https://foo.xn--55qx5d.cn/",
      "https://foo.公司.cn/", "https://site.com:9090/p",
      "site.com:", "site.com:80x", "a..b.com", ".com", "com.",
      "x.co.uk.", "", "not a url at all", "http://:8080/",
      "https://example.com.:443/") ++
      (0 until 500).map(i => s"https://h$i.sub$i.example${i % 7}.co.uk/p$i")
    val df = hosts.toDF("u").localCheckpoint()
    val both = df.select(
      Urls.registeredDomain($"u").as("native"),
      Urls.registeredDomainDeclarative($"u").as("decl"))
      .collect()
    both.zip(hosts).foreach { case (r, in) =>
      assert(r.getString(0) === r.getString(1),
        s"native/declarative mismatch on '$in'")
    }
  }
}

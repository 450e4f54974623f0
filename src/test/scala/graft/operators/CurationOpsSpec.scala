package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Line-level boilerplate dedup, sequence packing, and domain-mixture
  * rebalancing: the three corpus-curation operators added in round 5's
  * second half.
  */
class CurationOpsSpec extends AnyFunSuite with SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  // --- dropDuplicateLines ---

  private def lineDocs = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "unique alpha\nSubscribe now\nbody one"),
      (2L, "Subscribe now\nbody two\nunique beta"),
      (3L, "Subscribe now\nunique gamma"),
      (4L, "only original content here")
    ).toDF("doc_id", "text")
  }

  test("redactPiiStrict: Luhn gates cards, phones need shape, email/url kept") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      // 4532015112830366 passes Luhn -> redacted (with separators too)
      "pay 4532 0151 1283 0366 now" -> "pay <CARD> now",
      "pay 4532-0151-1283-0366 now" -> "pay <CARD> now",
      // same digits +1 fails Luhn -> kept (not a card, not phone-shaped)
      "id 4532015112830367 here" -> "id 4532015112830367 here",
      // phone shapes: international + and xxx-xxx-xxxx
      "call +44 20 7946 0958 ok" -> "call <PHONE> ok",
      "call 555-867-5309 ok" -> "call <PHONE> ok",
      // a bare long number is NOT a phone
      "ts 1706655432194000 raw" -> "ts 1706655432194000 raw",
      // email/url still redact (inherited)
      "mail a.b@c.org or https://x.y/z" -> "mail <EMAIL> or <URL>")
    val got = cases.map(_._1).toDF("t")
      .select(TextAnalysis.redactPiiStrict(col("t"))).collect().map(_.getString(0))
    cases.map(_._2).zip(got).foreach { case (want, g) =>
      assert(g == want, s"strict redact drift: got '$g' want '$want'")
    }
  }

  test("readability: hand-counted words/sentences/syllables and flesch") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "The cat sat. The dog ran!"),   // 6 words, 2 sentences, 6 syllables
      (2L, "incomprehensibilities"),       // 1 word, 1 "sentence" (min), 8 vowel groups
      (3L, "")                              // empty: 0 words -> NULL flesch
    ).toDF("doc_id", "text")
    val out = TextAnalysis.readability(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
         if (r.isNullAt(4)) Long.MinValue else r.getLong(4))).toMap
    val f1 = math.round((206.835 - 1.015 * 6.0 / 2.0 - 84.6 * 6.0 / 6.0) * 1000.0)
    assert(out(1L) == ((6L, 2L, 6L, f1)), out(1L).toString)
    // i-nco-mpre-he-nsi-bi-li-ti-es: vowel groups i,o,e,e,i,i,i,i,e(s)=9?
    // count by the rule, not by phonetics: [aeiouy]+ runs in the word
    val runs = "incomprehensibilities".split("[^aeiouy]+").count(_.nonEmpty)
    assert(out(2L)._3 == runs.toLong, s"syllables ${out(2L)._3} want $runs")
    assert(out(2L)._1 == 1L && out(2L)._2 == 1L)
    assert(out(3L) == ((0L, 1L, 0L, Long.MinValue)), out(3L).toString)
  }

  test("html extraction: scripts die wholesale, entities decode, double-escapes stay") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      "<p>Hello <b>world</b></p>" -> "Hello world",
      // '<' inside script must not break the wholesale strip
      "<script>if(1<2){x()}</script>after" -> "after",
      "<style a=b>.c{d:e}</style>kept" -> "kept",
      // block closers break words apart; inline tags just space
      "<div>one</div><div>two</div>" -> "one two",
      "a<br/>b" -> "a b",
      // entities, incl. the double-escape &amp;lt; -> literal &lt;
      "x &amp; y &lt;z&gt; &quot;q&quot; &#39;s&#39; &nbsp;w" -> "x & y <z> \"q\" 's' w",
      "&amp;lt;literal&amp;gt;" -> "&lt;literal&gt;",
      "  <p>  spaced   out  </p>  " -> "spaced out")
    val got = cases.map(_._1).toDF("h")
      .select(TextAnalysis.extractHtmlText(col("h"))).collect().map(_.getString(0))
    cases.map(_._2).zip(got).foreach { case (want, g) =>
      assert(g == want, s"extraction drift: got '$g' want '$want'")
    }
  }

  test("url canonicalization: every contract clause hand-checked") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      // scheme/host lowercase, path case kept
      "HTTP://WWW.Example.COM/Path/File" -> "http://www.example.com/Path/File",
      // fragment dropped, default port stripped
      "https://a.com:443/x#frag" -> "https://a.com/x",
      "http://a.com:80/" -> "http://a.com/",
      // non-default port kept
      "http://a.com:8080/x" -> "http://a.com:8080/x",
      // tracking params dropped, remaining sorted, empty query elided
      "http://a.com/p?utm_source=tw&b=2&a=1&fbclid=xyz" -> "http://a.com/p?a=1&b=2",
      "http://a.com/p?utm_campaign=c" -> "http://a.com/p",
      // empty path -> '/', trailing slash collapsed off non-root
      "http://a.com" -> "http://a.com/",
      "http://a.com/dir/" -> "http://a.com/dir",
      // query without path
      "http://a.com?b=2&a=1" -> "http://a.com/?a=1&b=2",
      // '?' inside fragment is not a query
      "http://a.com/x#sec?notaquery=1" -> "http://a.com/x",
      // userinfo stripped from the canonical form (contract clause 6)
      "https://user:pw@Host.COM/x" -> "https://host.com/x",
      "http://alice@a.com:8080/x" -> "http://a.com:8080/x",
      // IPv6 literal hosts keep brackets; port rules still apply (clause 7)
      "http://[::1]:8080/x" -> "http://[::1]:8080/x",
      "https://[2001:DB8::1]/x" -> "https://[2001:db8::1]/x",
      "https://[::1]:443/x" -> "https://[::1]/x",
      // no scheme: pass through unchanged (guard inside canonicalizeUrl)
      "mailto:someone@example.com" -> "mailto:someone@example.com",
      "not a url" -> "not a url")
    val got = cases.map(_._1).toDF("url")
      .select(UrlOps.canonicalizeUrl(col("url"))).collect().map(_.getString(0))
    cases.map(_._2).zip(got).foreach { case (want, g) =>
      assert(g == want, s"canonical drift: got $g want $want")
    }
    val hosts = Seq("https://Sub.Shop.Example.CO.UK:8443/x", "http://localhost/x",
      "http://deep.a.b.site.com/y",
      // IP literals are their own registered domain (clause 7) — incl.
      // IPv4-mapped IPv6, whose brackets contain dots
      "http://[::1]:8080/x", "http://10.0.0.1:9090/x",
      "http://[::ffff:192.0.2.1]/x",
      // userinfo never reaches the domain heuristic (clause 6)
      "https://bob@www.example.co.uk/y")
      .toDF("url")
      .select(UrlOps.registeredDomain(UrlOps.hostOf(col("url"))))
      .collect().map(_.getString(0)).toSeq
    assert(hosts == Seq("example.co.uk", "localhost", "site.com",
      "[::1]", "10.0.0.1", "[::ffff:192.0.2.1]", "example.co.uk"), hosts.toString)
    // domainReport: dup counting on the canonical form
    val rpt = Seq(
      "http://x.com/a?utm_source=1", "http://X.com/a", "http://x.com/b",
      "http://y.co.uk/only").toDF("url")
    val rows = UrlOps.domainReport(rpt, "url")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows("x.com") == ((3L, 2L, 1L)), rows.toString)
    assert(rows("y.co.uk") == ((1L, 1L, 0L)))
  }

  test("dropDuplicateLines removes every copy of a boilerplate line by default") {
    val out = Dedup.dropDuplicateLines(lineDocs, "text", "doc_id", minCount = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) == "unique alpha\nbody one")
    assert(out(2L).getString(1) == "body two\nunique beta")
    assert(out(3L).getString(1) == "unique gamma")
    assert(out(4L).getString(1) == "only original content here")
    assert(out(1L).getLong(3) == 1L && out(3L).getLong(3) == 1L)
  }

  test("dropDuplicateLines keepFirst keeps the smallest (doc, pos) occurrence") {
    val out = Dedup.dropDuplicateLines(lineDocs, "text", "doc_id",
        minCount = 3, keepFirst = true)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1 holds the first "Subscribe now" (doc 1, pos 1) and keeps it
    assert(out(1L) == "unique alpha\nSubscribe now\nbody one")
    assert(out(2L) == "body two\nunique beta")
    assert(out(3L) == "unique gamma")
  }

  test("dropDuplicateLines normalizeKeys folds case/whitespace for counting, keeps original text") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "SUBSCRIBE NOW\nkeep a"),
      (2L, "  subscribe now \nkeep b"),
      (3L, "Subscribe Now\nkeep c")
    ).toDF("doc_id", "text")
    val raw = Dedup.dropDuplicateLines(docs, "text", "doc_id", minCount = 3)
      .agg(sum("removed")).collect()(0).getLong(0)
    assert(raw == 0L, "raw keys differ, nothing should be removed")
    val out = Dedup.dropDuplicateLines(docs, "text", "doc_id", minCount = 3,
        normalizeKeys = true)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "keep a" && out(2L) == "keep b" && out(3L) == "keep c")
  }

  test("dropDuplicateLines: all-boilerplate documents survive with empty text") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "x\nx"), (2L, "x"), (3L, "x\ny")).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateLines(docs, "text", "doc_id", minCount = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) == "" && out(1L).getLong(3) == 2L)
    assert(out(2L).getString(1) == "")
    assert(out(3L).getString(1) == "y")
  }

  test("dropDuplicateLines never strips blank lines (paragraph structure)") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "para one\n\npara two"),
      (2L, "para three\n\npara four"),
      (3L, "other\n\nthing")
    ).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateLines(docs, "text", "doc_id", minCount = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // the blank separator occurs 3x corpus-wide but is structure, not
    // content — every document keeps its paragraph layout
    assert(out(1L) == "para one\n\npara two", out(1L))
    assert(out(3L) == "other\n\nthing")
    // CRLF corpora: splitting on \n leaves "\r" separator lines — the
    // whitespace-class exemption must protect those too
    val crlf = Seq((1L, "para one\r\n\r\npara two"), (2L, "para three\r\n\r\npara four"))
      .toDF("doc_id", "text")
    val outCrlf = Dedup.dropDuplicateLines(crlf, "text", "doc_id", minCount = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(outCrlf(1L) == "para one\r\n\r\npara two", outCrlf(1L).replace("\r", "\\r"))
  }

  test("dropDuplicateLines scoped counting keeps cross-scope lines independent") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a.com", "footer\nkeep one"),
      (2L, "a.com", "footer\nkeep two"),
      (3L, "b.com", "footer\nkeep three")
    ).toDF("doc_id", "host", "text")
    // global counting: "footer" occurs 3x -> removed everywhere
    val global = Dedup.dropDuplicateLines(docs, "text", "doc_id", minCount = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(global(3L) == "keep three")
    // scoped on host: b.com's single footer survives, a.com's two don't
    val scoped = Dedup.dropDuplicateLines(docs, "text", "doc_id", minCount = 2,
        scopeCol = Some("host"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(scoped(1L) == "keep one" && scoped(2L) == "keep two")
    assert(scoped(3L) == "footer\nkeep three")
  }

  test("dropDuplicateLines is partitioning-invariant") {
    val base = Dedup.dropDuplicateLines(lineDocs, "text", "doc_id", minCount = 3)
    val shuffled = Dedup.dropDuplicateLines(lineDocs.repartition(7), "text", "doc_id", minCount = 3)
    assert(rows(base) == rows(shuffled))
  }

  // --- packSequences ---

  private def packDocs = {
    val s = spark
    import s.implicits._
    (1 to 40).map(i => (i.toLong, "src" + (i % 2), 10L + (i % 7)))
      .toDF("doc_id", "source", "tok")
  }

  test("packSequences: seq = floor(exclusive cumsum / budget) in content-hash order") {
    val out = Packing.packSequences(packDocs, "source", col("tok"),
        "doc_id", "doc_id", budget = 32L)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    // replay the layout per stratum: md5(doc_id as string) order
    def md5hex(v: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(v.toString.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    out.groupBy(_._1).foreach { case (_, gs) =>
      val ordered = gs.sortBy(g => (md5hex(g._2), g._2))
      var cum = 0L
      ordered.foreach { case (_, _, tok, seq, pos) =>
        assert(seq == cum / 32L, "block id must be exclusive-cumsum div budget")
        assert(pos == cum - seq * 32L && pos >= 0 && pos < 32L)
        cum += tok
      }
    }
  }

  test("packSequences preserves rows and tokens; blocks fill to >= budget minus straddle") {
    val packed = Packing.packSequences(packDocs, "source", col("tok"),
      "doc_id", "doc_id", budget = 32L)
    assert(packed.count() == 40L)
    // per-(stratum, block) token sums
    val report = packed.groupBy(col("source"), col("seq_id"))
      .agg(sum(col("tok").cast("long")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val totalTokens = packDocs.agg(sum("tok")).collect()(0).getLong(0)
    assert(report.map(_._3).sum == totalTokens)
    // every non-final block holds >= budget - (max doc - 1) tokens
    val maxDoc = 16L
    report.groupBy(_._1).foreach { case (_, blocks) =>
      val lastSeq = blocks.map(_._2).max
      blocks.filter(_._2 < lastSeq).foreach { case (_, _, toks) =>
        assert(toks > 32L - maxDoc, s"non-final block underfilled: $toks")
      }
    }
  }

  test("packSequences: a document longer than the budget gets blocks of its own") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a", 5L), (2L, "a", 100L), (3L, "a", 5L), (4L, "a", 5L))
      .toDF("doc_id", "source", "tok")
    val out = Packing.packSequences(docs, "source", col("tok"), "doc_id", "doc_id", 32L)
      .select("doc_id", "seq_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // replay: the giant doc's 100 tokens advance the cumsum 3+ full
    // blocks, so whoever follows it in hash order skips those block ids
    def md5hex(v: Long): String = java.security.MessageDigest.getInstance("MD5")
      .digest(v.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ordered = Seq((1L, 5L), (2L, 100L), (3L, 5L), (4L, 5L))
      .sortBy { case (id, _) => (md5hex(id), id) }
    val expected = ordered.scanLeft(0L)(_ + _._2).zip(ordered)
      .map { case (cum, (id, _)) => id -> cum / 32L }.toMap
    assert(out == expected)
    val giantIdx = ordered.indexWhere(_._1 == 2L)
    if (giantIdx < ordered.size - 1) {
      val next = ordered(giantIdx + 1)._1
      assert(out(next) >= out(2L) + 3L, "blocks spanned by the giant doc are skipped")
    }
  }

  test("packSequences is partitioning-invariant and rejects reserved columns") {
    val a = Packing.packSequences(packDocs, "source", col("tok"), "doc_id", "doc_id", 32L)
    val b = Packing.packSequences(packDocs.repartition(7), "source", col("tok"),
      "doc_id", "doc_id", 32L)
    assert(rows(a) == rows(b))
    val bad = packDocs.withColumn("__cum", lit(1))
    val e = intercept[IllegalArgumentException] {
      Packing.packSequences(bad, "source", col("tok"), "doc_id", "doc_id", 32L)
    }
    assert(e.getMessage.contains("__cum"))
  }

  // --- rebalanceMix ---

  private def mixDocs = {
    val s = spark
    import s.implicits._
    // web: 100 docs, books: 30, code: 20, junk: 15 (junk not targeted)
    ((1 to 100).map(i => (i.toLong, "web")) ++
      (101 to 130).map(i => (i.toLong, "books")) ++
      (131 to 150).map(i => (i.toLong, "code")) ++
      (151 to 165).map(i => (i.toLong, "junk")))
      .toDF("doc_id", "source")
  }

  test("rebalanceMix hits the integer quota of the binding stratum") {
    val out = Sampling.rebalanceMix(mixDocs, "source", "doc_id", "doc_id",
        Seq("web" -> 0.5, "books" -> 0.3, "code" -> 0.2))
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // ppm: 500000/300000/200000; N = min(100e6/5e5, 30e6/3e5, 20e6/2e5)
    //    = min(200, 100, 100) = 100
    // takes: 100*5e5/1e6 = 50, 30, 20 — books and code both binding
    assert(out == Map("web" -> 50L, "books" -> 30L, "code" -> 20L))
  }

  test("rebalanceMix drops strata absent from the targets") {
    val out = Sampling.rebalanceMix(mixDocs, "source", "doc_id", "doc_id",
      Seq("web" -> 0.5, "books" -> 0.3, "code" -> 0.2))
    assert(out.where(col("source") === "junk").count() == 0L)
  }

  test("rebalanceMix fails inside the plan when a target stratum has no rows") {
    val e = intercept[Exception] {
      Sampling.rebalanceMix(mixDocs, "source", "doc_id", "doc_id",
        Seq("web" -> 0.5, "nosuch" -> 0.5)).count()
    }
    // the folded scale subquery wraps the raised error in an awaitResult one
    val chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => String.valueOf(t.getMessage).contains("target stratum 'nosuch' has no rows")),
      chain.map(t => String.valueOf(t.getMessage)).mkString(" | "))
  }

  test("rebalanceMix growth is prefix-monotone for strata that did not grow") {
    val targets = Seq("web" -> 0.5, "books" -> 0.3, "code" -> 0.2)
    def keptWeb(df: DataFrame) =
      Sampling.rebalanceMix(df, "source", "doc_id", "doc_id", targets)
        .where(col("source") === "web")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val before = keptWeb(mixDocs)
    val s = spark
    import s.implicits._
    // grow the binding strata: N rises, so web's quota only grows, and
    // web's hash order is untouched — its kept set extends as a prefix.
    // (A GROWN stratum has no such guarantee: new rows interleave into
    // its hash order, so its own prefix re-selects.)
    val grown = mixDocs.union(
      ((1000 to 1040).map(i => (i.toLong, "books")) ++
        (2000 to 2030).map(i => (i.toLong, "code"))).toDF("doc_id", "source"))
    val after = keptWeb(grown)
    assert(before.size == 50 && after.size == 100)
    assert(before.subsetOf(after),
      "kept rows of an ungrown stratum must stay kept when other strata grow")
  }

  // --- compress_ratio ---

  test("compress_ratio separates repetitive, natural, and random text") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val docs = Seq(
      (1L, "spam " * 400),                                    // boilerplate
      (2L, ("the quick brown fox jumps over the lazy dog " +
        "while rain falls softly on the quiet village ") * 20), // natural-ish
      (3L, Array.fill(2000)(('!' + rnd.nextInt(90)).toChar).mkString), // noise
      (4L, "")
    ).toDF("doc_id", "text")
    val r = docs.selectExpr("doc_id", "compress_ratio(text) AS cr")
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) < 0.05, s"boilerplate ${r(1L)}")
    assert(r(2L) > r(1L) && r(2L) < 0.5, s"natural ${r(2L)}")
    assert(r(3L) > 0.8, s"random ${r(3L)}")
    assert(r(4L) == 1.0)
    // deterministic + codegen/eval parity via repartition rerun
    val again = docs.repartition(3).selectExpr("doc_id", "compress_ratio(text) AS cr")
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(again == r)
  }

  // --- expect / expectReport ---

  test("hard expectations pass clean data through and fail the job on violation") {
    val s = spark
    import s.implicits._
    val clean = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val checks = Seq[(String, org.apache.spark.sql.Column)](
      "v_nonempty" -> (length(col("v")) > 0), "id_positive" -> (col("id") > 0))
    assert(Profile.expect(clean, "id", checks).count() == 2L)
    val dirty = clean.union(Seq((3L, "")).toDF("id", "v"))
    val e = intercept[Exception] { Profile.expect(dirty, "id", checks).count() }
    assert(e.getMessage.contains("v_nonempty") && e.getMessage.contains("id=3"),
      e.getMessage)
  }

  test("soft expectations count violations (null predicate = violation)") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a"), (2L, ""), (3L, null)).toDF("id", "v")
    val out = Profile.expectReport(df, Seq(
        "v_nonempty" -> (length(col("v")) > 0), "id_small" -> (col("id") < 3)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("v_nonempty") == ((2L, 3L)), out.toString) // "" fails, null fails
    assert(out("id_small") == ((1L, 3L)))
  }

  // --- logisticTrain / logisticScore ---

  test("logistic trainer separates linearly separable data") {
    val s = spark
    import s.implicits._
    val docs = ((1 to 50).map(i => (0.1 + (i % 5) * 0.02, 0.0)) ++
      (1 to 50).map(i => (0.8 + (i % 5) * 0.02, 1.0))).toDF("f", "y")
    val w = Classify.logisticTrain(docs, Seq(col("f")), col("y"),
      iterations = 50, lr = 10.0)
    val acc = docs.select(
        sum(when((Classify.logisticScore(w, Seq(col("f"))) >= 0.5)
          .cast("int") === col("y").cast("int"), 1).otherwise(0)))
      .collect()(0).getLong(0)
    assert(acc == 100L, s"acc=$acc w=${w.toSeq}")
    assert(w(1) > 0, "feature weight must be positive for an increasing feature")
  }

  test("logistic gradient sums are partitioning-invariant") {
    val s = spark
    import s.implicits._
    val docs = (1 to 200).map(i => ((i % 13) / 13.0, if (i % 3 == 0) 1.0 else 0.0))
      .toDF("f", "y")
    val w1 = Classify.logisticTrain(docs, Seq(col("f")), col("y"), iterations = 5)
    val w2 = Classify.logisticTrain(docs.repartition(7), Seq(col("f")), col("y"), iterations = 5)
    assert(w1.toSeq == w2.toSeq, "micro-rounded integer gradient sums must not depend on partitioning")
  }

  // --- bpeMerges / bpeTokenize ---

  test("bpe merges: hand-traced counts, lexicographic tie-break, merge order") {
    val s = spark
    import s.implicits._
    val docs = Seq("low low low", "lower lower", "newest").toDF("text")
    val out = Vocab.bpeMerges(docs, "text", numMerges = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // round 1: (l,o)=5 ties (o,w)=5 -> smaller p1 wins; round 2: (lo,w)=5;
    // round 3: (e,r)=2 ties (low,e)=2 -> 'e' < 'low'
    assert(out == Seq((1L, "l", "o", 5L), (2L, "lo", "w", 5L), (3L, "e", "r", 2L)), out.toString)
  }

  test("bpe merge application is left-to-right non-overlapping; trainer stops when fully merged") {
    val s = spark
    import s.implicits._
    val docs = Seq("aaa aaa").toDF("text")
    val out = Vocab.bpeMerges(docs, "text", numMerges = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // overlapping stats: "aaa" has (a,a) twice, word count 2 -> 4;
    // the merge walk is non-overlapping: aaa -> [aa, a], NOT [aa, aa]
    assert(out == Seq((1L, "a", "a", 4L), (2L, "aa", "a", 2L)), out.toString)
  }

  test("bpe tokenize applies the learned table in order to new text") {
    val s = spark
    import s.implicits._
    val train = Seq("low low low", "lower lower", "newest").toDF("text")
    val merges = Vocab.bpeMerges(train, "text", numMerges = 3)
    val toks = Vocab.bpeTokenize(Seq("lowest low").toDF("text"), "text", merges)
      .select("bpe_tokens").collect()(0).getSeq[String](0)
    // lowest: chars -> (l,o) -> (lo,w) -> (e,r) no-op = [low, e, s, t]
    assert(toks == Seq("low", "e", "s", "t", "low"), toks.toString)
  }

  test("vocab coverage: exact OOV occurrence counts and ppm per group") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      ("a", "the cat the dog"),      // 4 tokens, OOV: dog (1)
      ("a", "the the"),              // 2 tokens, 0 OOV
      ("b", "zebra yak")             // 2 tokens, both OOV
    ).toDF("source", "text")
    val vocab = Seq("the", "cat").toDF("token")
    val out = Vocab.coverageReport(docs, "text", "source", vocab, "token")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(out == Seq(("a", 6L, 1L, 166666L), ("b", 2L, 2L, 1000000L)), out.toString)
    // duplicate vocab rows collapse; coverage counts occurrences not types
    val dupVocab = Seq("the", "the", "cat").toDF("token")
    val again = Vocab.coverageReport(docs, "text", "source", dupVocab, "token")
      .collect().map(r => (r.getString(0), r.getLong(2))).sortBy(_._1).toSeq
    assert(again == Seq(("a", 1L), ("b", 2L)))
  }

  test("token drift: KL vs corpus — identical mix ~0, skewed source > uniform source") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      // source a mirrors the corpus mix; source b is all-'x' skewed
      ("a", "x x y z"), ("a", "x y z x"),
      ("b", "x x x x x x x x")
    ).toDF("source", "text")
    val out = TextAnalysis.tokenDrift(docs, "text", "source", topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    // vocab smaller than topK: tokens = 3 (x, y, z)
    assert(out.map(_._2).toSet == Set(3L))
    val byG = out.map(t => t._1 -> t._4).toMap
    // KL >= 0 (both smoothed distributions live on the same simplex);
    // note b DOMINATES the corpus counts, so the corpus sits closer to b
    // than to a — a's drift is larger, not b's
    assert(byG.values.forall(_ > 0L), out.toString)
    // hand replay, corpus counts x=12 y=2 z=2 (ct=16, kk=3):
    // b: sc(x)=8, st=8 -> p_x=9/11, p_y=p_z=1/11; q_x=13/19, q_y=q_z=3/19
    // a: sc=(4,2,2), st=8 -> p=(5/11, 3/11, 3/11)
    def term(p: Double, q: Double) = math.round(p * math.log(p / q) * 1e9)
    val wantB = term(9.0 / 11, 13.0 / 19) + 2 * term(1.0 / 11, 3.0 / 19)
    val wantA = term(5.0 / 11, 13.0 / 19) + 2 * term(3.0 / 11, 3.0 / 19)
    assert(byG("b") == wantB, s"got ${byG("b")}, want $wantB")
    assert(byG("a") == wantA, s"got ${byG("a")}, want $wantA")
    assert(byG("a") > byG("b"), "corpus is b-dominated; a drifts more")
    // partitioning-invariant integer sums
    val again = TextAnalysis.tokenDrift(docs.repartition(7), "text", "source", 10)
      .collect().map(r => (r.getString(0), r.getLong(3))).sortBy(_._1).toSeq
    assert(again == out.map(t => (t._1, t._4)))
  }

  test("collocations: pmi math hand-checked, minCount prunes, order deterministic") {
    val s = spark
    import s.implicits._
    // 'new york' always adjacent (3x); 'the the' frequent but independent
    val docs = Seq("the the new york", "the the new york", "new york the cat")
      .toDF("text")
    val out = TextAnalysis.collocations(docs, "text", minCount = 2, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val ny = out.find(p => p._1 == "new" && p._2 == "york").get
    // unigrams: new 3, york 3, the 5, cat 1 (tu 12); T_b counts ALL
    // adjacent pairs (standard PMI), not just minCount survivors:
    // the-the 2 + the-new 2 + new-york 3 + york-the 1 + the-cat 1 = 9
    assert((ny._3, ny._4, ny._5) == (3L, 3L, 3L))
    val tb = 9.0
    val want = math.round(math.log((3.0 / tb) / ((3.0 / 12) * (3.0 / 12))) * 1e6)
    assert(ny._6 == want, s"pmi ${ny._6} want $want (tb=$tb)")
    // a high-count independent pair scores LOWER pmi than the collocation
    val thethe = out.find(p => p._1 == "the" && p._2 == "the").get
    assert(thethe._6 < ny._6)
    // minCount prunes singletons
    assert(!out.exists(p => p._1 == "the" && p._2 == "cat"))
  }

  // --- incrementalNearDuplicates ---

  test("incremental near-dup equals the full pipeline's cross-slice pairs") {
    val s = spark
    import s.implicits._
    val base = (1L to 40L).map(i =>
      (i, s"tok${i % 11} tok${i % 7} tok${i % 5} tok${i % 3} tok${i % 13} filler$i end"))
    // planted near-identical groups spanning the slice boundary
    val docs = (base ++ Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "alpha beta gamma delta epsilon zeta eta theta"),
      (110L, "one two three four five six seven eight nine"),
      (111L, "one two three four five six seven eight nine ten"))).toDF("doc_id", "text")
    val isNew = col("doc_id") % 2 === 0
    val inc = Dedup.incrementalNearDuplicates(
        docs.where(isNew), docs.where(!isNew), "text", "doc_id",
        threshold = 0.2, portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.minHashNearDuplicates(docs, "text", "doc_id",
        threshold = 0.2, portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val crossFull = full.filter { case (a, b, _) => (a % 2 == 0) != (b % 2 == 0) }
      .map { case (a, b, e) => if (a % 2 == 0) (a, b, e) else (b, a, e) }.toSet
    assert(inc == crossFull, s"inc=$inc cross=$crossFull")
    assert(inc.exists { case (n, o, e) => Set(n, o) == Set(100L, 101L) && e == 1.0 },
      "planted cross-slice exact dup must surface at estimate 1.0")
    // never any same-slice pair
    assert(inc.forall { case (n, o, _) => n % 2 == 0 && o % 2 == 1 })
  }

  test("incremental near-dup honors the old-bucket cap") {
    val s = spark
    import s.implicits._
    val dup = "same text repeated across many docs making one hot bucket"
    val olds = (1L to 30L).map(i => (i * 2 + 1, dup)).toDF("doc_id", "text")
    val news = Seq((2L, dup)).toDF("doc_id", "text")
    val uncapped = Dedup.incrementalNearDuplicates(news, olds, "text", "doc_id",
      threshold = 0.2, portable = true)
    assert(uncapped.count() == 30L)
    val capped = Dedup.incrementalNearDuplicates(news, olds, "text", "doc_id",
      threshold = 0.2, portable = true, maxBucketSize = 10)
    assert(capped.count() == 0L, "hot old buckets above the cap are dropped")
  }

  test("signature overload equals the document overload, pair set for pair set") {
    // round-16 advisor ask: incrementalNearDuplicatesFromSignatures and
    // minHashSignaturesFused were only exercised through gate oracles — a
    // mismatched-kernel signature pair would have surfaced only there
    val s = spark
    import s.implicits._
    val docs = ((1L to 40L).map(i =>
      (i, s"tok${i % 11} tok${i % 7} tok${i % 5} tok${i % 3} tok${i % 13} filler$i end")) ++ Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "alpha beta gamma delta epsilon zeta eta theta"))).toDF("doc_id", "text")
    val isNew = col("doc_id") % 2 === 0
    def sigs(slice: org.apache.spark.sql.DataFrame) =
      Dedup.minHashSignaturesFused(slice, "text", "doc_id",
        numHashes = 128, shingleSize = 3, portable = true)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fromSigs = pairs(Dedup.incrementalNearDuplicatesFromSignatures(
      sigs(docs.where(isNew)), sigs(docs.where(!isNew)),
      numHashes = 128, bands = 32, threshold = 0.2))
    val fromDocs = pairs(Dedup.incrementalNearDuplicates(
      docs.where(isNew), docs.where(!isNew), "text", "doc_id",
      threshold = 0.2, portable = true))
    assert(fromSigs == fromDocs, s"sigs=$fromSigs docs=$fromDocs")
    assert(fromSigs.exists { case (n, o, e) => Set(n, o) == Set(100L, 101L) && e == 1.0 })
  }

  // --- bigramLogProb ---

  test("bigram logprob: exact micro-unit interpolation, first-token unigram") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "")).toDF("doc_id", "text")
    // bg: (a,b)x3, (b,a)x1; starts a:3, b:1; unigrams (curs + firsts):
    // a = 1 + 2 = 3, b = 3; total 6
    val unl = 1.0 - 0.9
    def r(x: Double) = math.round(x * 1e6)
    val first = r(math.log(3.0 / 6.0))
    // (a,b): 0.9*(3/3) + unl*(3/6); (b,a): 0.9*(1/1) + unl*(3/6) — equal
    val pair = r(math.log(0.9 * 1.0 + unl * 0.5))
    val out = Ranking.bigramLogProb(docs, "text", "doc_id")
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(out(1L) == ((4L, first + 3 * pair)), out(1L).toString)
    assert(out(2L) == ((2L, first + pair)), out(2L).toString)
    assert(out(3L) == ((0L, 0L)))
  }

  test("bigram logprob penalizes scrambled transitions that unigrams cannot see") {
    val s = spark
    import s.implicits._
    val docs = (1L to 3L).map(i => (i, "a b c a b c")).toSeq
      .union(Seq((4L, "c b a"))).toDF("doc_id", "text")
    val out = Ranking.bigramLogProb(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // doc 4 uses transitions (c,b),(b,a) the corpus never produces: its
    // probability collapses to the (1-lambda) unigram leak, so its
    // bits/token must sit well above the in-distribution documents'
    assert(out(4L) > out(1L) + 1.0, s"scrambled=${out(4L)} fluent=${out(1L)}")
  }

  test("bigram logprob external LM: unseen bigrams leak to unigram, OOV floor") {
    val s = spark
    import s.implicits._
    val lm = Seq(("a", "b", 4L)).toDF("prev", "cur", "cnt")
    val docs = Seq((9L, "z a b")).toDF("doc_id", "text")
    // unigram marginal comes from the LM ALONE (curs: b:4, total 4) —
    // batch-invariant, never contaminated by the scored corpus
    val unl = 1.0 - 0.9
    def r(x: Double) = math.round(x * 1e6)
    val first = r(math.log(1.0 / 5.0))                      // z: OOV floor 1/(4+1)
    val za = r(math.log(0.9 * (0.0 / 1.0) + unl * (1.0 / 5.0))) // unseen pair, OOV cur
    val ab = r(math.log(0.9 * (4.0 / 4.0) + unl * (4.0 / 4.0))) // seen pair
    val out = Ranking.bigramLogProb(docs, "text", "doc_id", lm = Some(lm))
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(out(9L) == ((3L, first + za + ab)), out(9L).toString)
  }

  test("bigram logprob external LM scoring is batch-invariant") {
    val s = spark
    import s.implicits._
    val lm = Seq(("a", "b", 4L), ("b", "c", 2L)).toDF("prev", "cur", "cnt")
    def score(docs: Seq[(Long, String)]): Long =
      Ranking.bigramLogProb(docs.toDF("doc_id", "text"), "text", "doc_id", lm = Some(lm))
        .where(col("doc_id") === 9L).collect()(0).getLong(2)
    val alone = score(Seq((9L, "z a b")))
    val together = score(Seq((9L, "z a b"), (10L, "z z q r z")))
    assert(alone == together,
      "a reference-LM score must not depend on what else is in the batch")
  }

  test("bigram logprob is partitioning-invariant") {
    val s = spark
    import s.implicits._
    val docs = (1L to 30L).map(i => (i, s"tok${i % 5} tok${i % 3} tok${i % 7} tok${i % 5}"))
      .toDF("doc_id", "text")
    val a = rows(Ranking.bigramLogProb(docs, "text", "doc_id"))
    val b = rows(Ranking.bigramLogProb(docs.repartition(7), "text", "doc_id"))
    assert(a == b)
  }

  test("rebalanceMix validates targets") {
    intercept[IllegalArgumentException] {
      Sampling.rebalanceMix(mixDocs, "source", "doc_id", "doc_id", Seq("web" -> -1.0))
    }
    intercept[IllegalArgumentException] {
      Sampling.rebalanceMix(mixDocs, "source", "doc_id", "doc_id",
        Seq("web" -> 0.5, "web" -> 0.5))
    }
  }
}

package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.functions.Urls
import graft.streaming.{DomainQuota, Drain, StateStores}

/** Web-curation primitives: URL canonicalization semantics and the
  * streaming domain-quota's cross-trigger state contract. */
class WebSpec extends SparkSpec {
  import spark.implicits._

  test("url canonicalization: ports, www, case, tracking params, param order") {
    val cases = Seq(
      // default port + www + tracking params stripped, params sorted
      ("https://www.Site3.Example.COM:443/a/b?utm_source=x&b=2&a=1#frag",
        "https://site3.example.com/a/b?a=1&b=2"),
      // non-default port KEPT (only 443/80 are scheme defaults)
      ("https://host.example.com:8443/p?id=1",
        "https://host.example.com:8443/p?id=1"),
      // ref/fbclid dropped; empty query after filtering -> no '?'
      ("https://h.example.com/p?ref=rss&fbclid=abc&utm_campaign=c",
        "https://h.example.com/p"),
      // no query at all
      ("https://h.example.com/p", "https://h.example.com/p"),
      // www only stripped as a PREFIX label
      ("https://notwww.example.com/", "https://notwww.example.com/"))
    val got = cases.map(_._1).toDF("url")
      .select(Urls.canonicalize(col("url"))).as[String].collect().toSeq
    assert(got == cases.map(_._2),
      s"canonicalization mismatch:\n${got.zip(cases.map(_._2)).mkString("\n")}")
  }

  test("percent-decode: unreserved decoded, reserved kept, invalid verbatim") {
    val cases = Seq(
      // unreserved escapes decode, upper- and lower-hex spellings
      ("https://h.example.com/%41b%7ec?x=%34", "https://h.example.com/Ab~c?x=4"),
      // reserved escapes stay byte-for-byte (decoding %2F would turn
      // data into a path separator)
      ("https://h.example.com/a%2Fb?q=%3F", "https://h.example.com/a%2Fb?q=%3F"),
      // invalid escapes copy through verbatim
      ("https://h.example.com/a%4gb%", "https://h.example.com/a%4gb%"),
      // canonicalize merges the two spellings of ~ into one page
      ("https://h.example.com/p%7Ev", "https://h.example.com/p~v"))
    val got = cases.map(_._1).toDF("url")
      .select(graft.functions.Urls.canonicalize(col("url")))
      .as[String].collect().toSeq
    assert(got == cases.map(_._2),
      s"decode mismatch:\n${got.zip(cases.map(_._2)).mkString("\n")}")
  }

  test("percent-decode single pass == the oracle's generated replace chain") {
    // the DuckDB twin is a nested replace chain generated from
    // Urls.pctDecodeTable; replay that exact chain in Spark and pin it
    // equal to the single-pass expression on grammar-valid inputs
    // (including every table entry, both hex cases, reserved escapes)
    val inputs =
      graft.functions.Urls.pctDecodeTable.map { case (esc, ch) =>
        s"https://h.example.com/x${esc}y$ch"
      } ++ Seq("https://h.example.com/%2F%3F%25", "plain-no-escapes",
        "%41%42%43", "a%2541b" /* %25 kept, trailing 41 NOT re-decoded */)
    val chain = graft.functions.Urls.pctDecodeTable
      .foldLeft(col("u")) { case (acc, (from, to)) =>
        call_function("replace", acc, lit(from), lit(to))
      }
    val rows = inputs.toDF("u")
      .select(col("u"), graft.functions.Urls.pctDecode(col("u")).as("single"),
        chain.as("chained"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"spellings diverge on '${r.getString(0)}': " +
          s"single='${r.getString(1)}' chained='${r.getString(2)}'")
    }
  }

  test("registered domain: PSL longest-match with two-label fallback") {
    val cases = Seq(
      // single-label suffix — equals the old two-label heuristic
      ("https://a.b.news.example.com/x", "example.com"),
      ("https://example.com/", "example.com"),
      // multi-label rules must BEAT their single-label prefixes:
      // "co.uk" over "uk", "github.io" over "io"
      ("https://shop.example.co.uk/x", "example.co.uk"),
      ("https://a.b.example.org.uk/", "example.org.uk"),
      ("https://user.github.io/repo", "user.github.io"),
      // bare "uk" rule still applies where no 2-label rule matches
      ("https://site.ac.uk/", "ac.uk"),
      // unknown TLD falls back to the last two labels
      ("https://x.example.dev/", "example.dev"),
      // wildcard rule *.ck (r15): every label under .ck is itself a
      // public suffix, so the registered domain sits one label deeper
      ("https://a.shop.biz.ck/x", "shop.biz.ck"),
      ("https://biz.ck/", "biz.ck"), // host IS a wildcard suffix: fallback
      // exception rule !www.ck beats the wildcard: www.ck is registrable
      // (the bare www.ck host can't ride a URL here — canonicalHost
      // strips the leading "www." — so it's pinned in the host-level
      // expression test below; subdomain spellings survive intact)
      ("https://sub.www.ck/", "www.ck"))
    val got = cases.map(_._1).toDF("url")
      .select(Urls.registeredDomain(Urls.canonicalHost(col("url"))))
      .as[String].collect().toSeq
    assert(got == cases.map(_._2),
      s"PSL mismatch:\n${got.zip(cases.map(_._2)).mkString("\n")}")
  }

  test("resolve: the RFC 3986 §5.4 reference-resolution examples") {
    // the spec's own test vectors against base http://a/b/c/d;p?q —
    // normal (§5.4.1) plus the abnormal (§5.4.2) dot-segment and
    // prefix-mimic cases expressible in the engine's fragment-free
    // grammar. Expected values are the RFC's, fragments dropped.
    val base = "http://a/b/c/d;p?q"
    val cases = Seq(
      "g" -> "http://a/b/c/g",
      "./g" -> "http://a/b/c/g",
      "g/" -> "http://a/b/c/g/",
      "/g" -> "http://a/g",
      "//g" -> "http://g",
      "?y" -> "http://a/b/c/d;p?y",
      "g?y" -> "http://a/b/c/g?y",
      "" -> "http://a/b/c/d;p?q",
      "." -> "http://a/b/c/",
      "./" -> "http://a/b/c/",
      ".." -> "http://a/b/",
      "../" -> "http://a/b/",
      "../g" -> "http://a/b/g",
      "../.." -> "http://a/",
      "../../" -> "http://a/",
      "../../g" -> "http://a/g",
      // abnormal: extra ..s drop at root; dotted prefixes are segments
      "../../../g" -> "http://a/g",
      "../../../../g" -> "http://a/g",
      "/./g" -> "http://a/g",
      "/../g" -> "http://a/g",
      "g." -> "http://a/b/c/g.",
      ".g" -> "http://a/b/c/.g",
      "g.." -> "http://a/b/c/g..",
      "..g" -> "http://a/b/c/..g",
      "./../g" -> "http://a/b/g",
      "./g/." -> "http://a/b/c/g/",
      "g/./h" -> "http://a/b/c/g/h",
      "g/../h" -> "http://a/b/c/h",
      "g;x=1/./y" -> "http://a/b/c/g;x=1/y",
      "g;x=1/../y" -> "http://a/b/c/y",
      // fragments never survive (corpus convention)
      "g#s" -> "http://a/b/c/g",
      "#s" -> "http://a/b/c/d;p?q",
      // absolute and protocol-relative refs replace wholesale
      "http://x.example.com/p/q?z=1" -> "http://x.example.com/p/q?z=1",
      "//h2/p/../v?i=2" -> "http://h2/v?i=2")
    val got = cases.map(_._1).toDF("r")
      .select(Urls.resolve(lit(base), col("r"))).as[String].collect().toSeq
    cases.zip(got).foreach { case ((ref, want), g) =>
      assert(g == want, s"resolve('$base', '$ref') = '$g', want '$want'")
    }
    // idempotence: resolving an already-resolved (absolute,
    // dot-normalized) URL is the identity, for ANY base
    val again = got.toDF("r")
      .select(Urls.resolve(lit(base), col("r"))).as[String].collect().toSeq
    assert(again == got, "resolution is not idempotent")
    // absolute-ref property: resolve(base, abs) == abs with its path
    // dot-normalized — over the op fixtures' URL grammar
    val absUrls = Seq("https://site1.example2.com/p/3~v?id=3",
      "https://www.Site0.example0.com:443/p/0%7Ev?utm_source=feed0",
      "https://h.example.com/a/b/../c/./d?x=1")
    val r2 = absUrls.toDF("u")
      .select(col("u"), Urls.resolve(lit(base), col("u")).as("res"),
        concat(regexp_extract(col("u"),
          "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+)", 1),
          Urls.removeDotSegments(Urls.pathOf(col("u"))),
          regexp_extract(col("u"), "(\\?.*)$", 1)).as("want"))
      .collect()
    r2.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"abs-ref property fails on '${r.getString(0)}': " +
          s"'${r.getString(1)}' != '${r.getString(2)}'")
    }
  }

  test("redirect chains: cycles and past-bound chains hit the hop bound " +
      "and report resolved=0 (r16)") {
    import graft.queries.WebQueries
    // the op327 fixture's canonical space is acyclic with chains <=4,
    // so the bound never binds there — drive the edges directly:
    // a 2-cycle (a<->b), a 6-chain (c0->...->c6), and a clean 1-hop
    val urls = Seq(
      (0L, "a"), (1L, "b"), (2L, "c0"), (3L, "x"), (4L, "free"))
      .toDF("doc_id", "url")
    val redirects = (Seq(("a", "b"), ("b", "a"), ("x", "y")) ++
      (0 to 5).map(i => (s"c$i", s"c${i + 1}"))).toDF("src", "dst")
    val got = WebQueries.redirectResolve(urls, redirects)
      .orderBy("doc_id").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
    // 2-cycle: 4 hops land back on the start side, final still
    // redirects -> resolved=0
    assert(got(0) == ("a", "a", 4L, 0L), s"cycle a: ${got(0)}")
    assert(got(1) == ("b", "b", 4L, 0L), s"cycle b: ${got(1)}")
    // 6-chain: bound stops at c4 which still has an edge
    assert(got(2) == ("c0", "c4", 4L, 0L), s"long chain: ${got(2)}")
    // 1-hop to a terminal target
    assert(got(3) == ("x", "y", 1L, 1L), s"one hop: ${got(3)}")
    // no redirect at all
    assert(got(4) == ("free", "free", 0L, 1L), s"no edge: ${got(4)}")
    // 3 doublings follow 8 hops: the 6-chain now terminates
    val deep = WebQueries.redirectResolve(urls, redirects, doublings = 3)
      .filter(col("url") === "c0").collect()(0)
    assert(deep.getString(2) == "c6" && deep.getLong(3) == 6L &&
      deep.getLong(4) == 1L, s"8-hop bound: $deep")
  }

  test("robots Crawl-delay parse: present, absent, malformed, variants " +
      "(r16)") {
    import graft.functions.Robots
    // (text, want) — absent and MALFORMED values both fall to the
    // default (the verdict-item-4 done criteria), field name and
    // spacing tolerated, first valid line wins
    val cases = Seq(
      ("User-agent: *\nDisallow: /p/\nCrawl-delay: 90\n", 90L),
      ("User-agent: *\nDisallow: /p/\n", 30L), // no delay line
      ("User-agent: *\nCrawl-delay: fast\n", 30L), // malformed value
      ("crawl-delay:45", 45L), // lowercase, no spaces, no newline
      ("  Crawl-Delay  :  7  \n", 7L), // padded everywhere
      ("Crawl-delay: 9\nCrawl-delay: 11\n", 9L), // first valid wins
      ("Crawl-delay: nope\nCrawl-delay: 11\n", 11L), // skip malformed
      ("", 30L))
    val got = cases.toDF("t", "w")
      .select(Robots.crawlDelay(col("t")).as("g"), col("w")).collect()
    cases.zip(got).foreach { case ((t, _), r) =>
      assert(r.getLong(0) == r.getLong(1),
        s"crawlDelay(${t.replace("\n", "\\n")}) = ${r.getLong(0)}, " +
          s"want ${r.getLong(1)}")
    }
    // the driver-side compiler (broadcast-matcher path) agrees with the
    // Column parse on delay, and compiles the rule pairs RobotsAllowed
    // takes
    cases.foreach { case (t, w) =>
      assert(Robots.compile(t).crawlDelay.getOrElse(30L) == w,
        s"compile disagrees with Column parse on: $t")
    }
    val g = Robots.compile(
      "User-agent: *\nDisallow: /p/\nAllow: /p/3\nCrawl-delay: 60\n")
    assert(g.rules == Seq("/p/" -> false, "/p/3" -> true))
    assert(g.crawlDelay.contains(60L))
  }

  test("base href: extraction + effective-base resolution (r16)") {
    import graft.functions.Html
    val page = "https://h.example.com/p/3/doc?q=1"
    // (html, href, want-resolved) — the effective base is the base
    // element's href resolved against the page URL; anchors then
    // resolve against THAT
    val cases = Seq(
      // no base element: page URL is the base
      ("<html><body><a href=\"x/y\">t</a></body></html>",
        "x/y", "https://h.example.com/p/3/x/y"),
      // absolute base replaces wholesale
      ("<html><head><base href=\"https://b.example.com/zz/\"></head></html>",
        "x/y", "https://b.example.com/zz/x/y"),
      // root-relative base: keeps the page host, replaces the path
      ("<html><head><base href=\"/b2/\"></head></html>",
        "a/../x?i=1", "https://h.example.com/b2/x?i=1"),
      // RELATIVE base href resolves against the page URL first
      ("<html><head><base href=\"sub/\"></head></html>",
        "x", "https://h.example.com/p/3/sub/x"),
      // base with dot segments normalizes before anchors use it
      ("<html><head><base href=\"../up/\"></head></html>",
        "x", "https://h.example.com/p/up/x"),
      // only the FIRST base element is effective (HTML's rule)
      ("<html><head><base href=\"/first/\"><base href=\"/second/\"></head></html>",
        "x", "https://h.example.com/first/x"))
    val got = cases.toDF("html", "href", "want")
      .select(
        Urls.resolve(
          Urls.effectiveBase(lit(page), Html.baseHref(col("html"))),
          col("href")).as("got"),
        col("want"))
      .collect()
    cases.zip(got).foreach { case ((html, href, _), r) =>
      assert(r.getString(0) == r.getString(1),
        s"effective-base resolve failed for href '$href' in '$html': " +
          s"'${r.getString(0)}' != '${r.getString(1)}'")
    }
    // extractor edge: '' when the page has no base element, attribute
    // order tolerated, single-match semantics
    val ext = Seq(
      "<html><body>no base</body></html>" -> "",
      "<html><head><base target=\"_top\" href=\"/t/\"></head></html>" -> "/t/")
      .toDF("h", "w")
      .select(Html.baseHref(col("h")).as("g"), col("w")).collect()
    ext.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("op317 join spelling == the when-chain spelling on its fixture hosts") {
    // the broadcast-dim join (op317) and the literal when-chain
    // (registeredDomainPsl — what the streaming keyers run) must pick
    // the same registered domain for every host the fixture produces
    val d = "/root/testdata/sf0.001"
    val joined = graft.queries.WebQueries.op317RegisteredDomainPsl(spark, d)
      .select("doc_id", "host", "domain")
    val viaChain = joined.select(col("doc_id"), col("host"),
      Urls.registeredDomainPsl(col("host")).as("chain_domain"))
    val diff = joined.join(viaChain, Seq("doc_id", "host"))
      .filter(col("domain") =!= col("chain_domain"))
    assert(diff.isEmpty, s"spellings diverge: ${diff.take(3).toSeq}")
  }

  test("html extraction: script/style content never leaks, entities decode in order") {
    import graft.functions.Html
    val got = Seq(
      "<body><script>var SECRET=1;</script><p>a&amp;lt;b</p><style>.x{}</style>c</body>")
      .toDF("h").select(Html.extract(col("h"))).as[String].collect()(0)
    // &amp;lt; decodes to the LITERAL '&lt;' (amp last), never to '<'
    assert(got == "a&lt;b c", s"got '$got'")
    assert(!got.contains("SECRET") && !got.contains(".x{}"))
  }

  test("op311 robots gate: rule-less domains default to ALLOWED") {
    // example4.com has no rules in the synthesized set (rules cover
    // domains 0-3) — the left join yields rule=NULL and the decision
    // must fall through to the default-allow, not read struct(null, 0)
    // as a disallow (the r13 advice finding: max over a non-null
    // struct with a=0 silently disallowed every rule-less URL)
    val rows = graft.queries.WebQueries.op311RobotsGate(
        spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    val noRules = rows.filter(_._1 == "example4.com")
    assert(noRules.nonEmpty, "fixture must produce rule-less domains")
    assert(noRules.forall(_._3 == 1L),
      s"rule-less domain disallowed: ${noRules.filter(_._3 != 1L).take(3).toSeq}")
    // covered domains still evaluate longest-match + allow-wins: /p/K
    // is re-allowed for domain K, /p/J (J != K) stays disallowed
    val covered = rows.filter { case (dom, _, _) => dom != "example4.com" }
    covered.foreach { case (dom, path, allowed) =>
      val k = dom.stripPrefix("example").stripSuffix(".com")
      val expect = if (path.startsWith(s"/p/$k")) 1L else 0L
      assert(allowed == expect, s"($dom, $path) -> $allowed, want $expect")
    }
  }

  test("dot-segment removal: RFC 3986 5.2.4 shapes within the bound") {
    val cases = Seq(
      ("/p/1/v", "/p/1/v"), // clean path untouched
      ("/p/1/./v", "/p/1/v"),
      ("/p/1/extra/../v", "/p/1/v"),
      ("/a/b/../../x", "/x"), // two nesting levels
      ("/../x", "/x"), // leading ../ drops at root
      ("/a/..", "/"), // trailing /..
      ("/a/.", "/a/"), // trailing /.
      ("/a/../../../x", "/x"), // root keeps absorbing
      ("/..foo/v", "/..foo/v"), // dots inside a segment name survive
      ("/a//../x", "/a/x"), // an empty segment pops like any other
      ("/a/b/c/../../../../x", "/x")) // depth 4 = the default bound
    val got = cases.map(_._1).toDF("p")
      .select(Urls.removeDotSegments(col("p"))).as[String].collect().toSeq
    assert(got == cases.map(_._2),
      s"dot-segment mismatch:\n${got.zip(cases).mkString("\n")}")
  }

  test("main content: link-dense and short blocks drop, prose survives") {
    import graft.functions.Html
    val page = "<body>" +
      "<div><a href=\"/\">Home</a> <a href=\"/a\">About us page</a></div>" + // nav: all links
      "<p>This paragraph carries the actual article prose of the page.</p>" +
      "<h2>Short</h2>" + // < 20 chars
      "<div>Read <a href=\"/m\">much more about this topic right here</a></div>" + // link-heavy
      "<div>Fine print with one <a href=\"/l\">link</a> inside a mostly " +
      "textual closing paragraph that should survive.</div>" + // low density
      "</body>"
    val r = Seq(page).toDF("h")
      .select(Html.mainContent(col("h")).as("t"),
        Html.mainContentKept(col("h")).as("k"),
        Html.blockCount(col("h")).as("n"))
      .collect()(0)
    assert(r.getString(0) ==
      "This paragraph carries the actual article prose of the page. " +
        "Fine print with one link inside a mostly textual closing " +
        "paragraph that should survive.", s"got '${r.getString(0)}'")
    assert(r.getInt(1) == 2 && r.getInt(2) == 6,
      s"kept=${r.getInt(1)} blocks=${r.getInt(2)}")
  }

  test("op312 FIM: applied rows reassemble to the original token stream") {
    val d = "/root/testdata/sf0.001"
    val rows = graft.queries.TrainQueries.op312FimTransform(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    val orig = graft.sources.Tables.documents(spark, d)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.exists(_._2 == 1L) && rows.exists(_._2 == 0L),
      "the hash gate must split the fixture both ways")
    rows.foreach { case (id, applied, _, out) =>
      if (applied == 1L) {
        val m = "<PRE>(.*)<SUF>(.*)<MID>(.*)".r
        out match {
          case m(pre, suf, mid) =>
            assert(s"$pre $mid $suf" == orig(id),
              s"doc $id does not reassemble")
          case _ => fail(s"doc $id: malformed FIM output '$out'")
        }
      } else assert(out == orig(id), s"doc $id modified without gate")
    }
  }

  test("op313 mask span extracts exactly the assistant content") {
    val rows = graft.queries.TrainQueries
      .op313ChatTemplate(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    rows.foreach { case (rendered, start, len) =>
      val span = rendered.substring((start - 1).toInt, (start - 1 + len).toInt)
      val after = rendered.substring(rendered.indexOf("<|assistant|>\n") + 14)
      assert(span == after, s"mask span '$span' != assistant '$after'")
    }
  }

  test("op315 URL admission: dedup + quota share one bounded state across triggers") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val arrivals = in.toDF().toDF("doc_id", "domain", "url_canon")
      .as[DomainQuota.UrlArrival]
    val q = Drain.start(spark, StateStores.rocksDbConf)(
      DomainQuota.urlAdmitted(arrivals, k = 2L)
        .toDF().writeStream.outputMode("append").format("memory")
        .queryName("url_admit_out"))
    // trigger 1: X admitted (doc 1), X's dup (doc 2) dropped by the
    // DEDUP half, Y admitted (doc 3) — quota now full
    in.addData((1L, "a.com", "X"), (2L, "a.com", "X"), (3L, "a.com", "Y"))
    q.processAllAvailable()
    // trigger 2: X re-arrival must stay dropped (admitted set
    // persisted), Z must be dropped by the QUOTA half, b.com fresh
    in.addData((4L, "a.com", "X"), (5L, "a.com", "Z"), (6L, "b.com", "W"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("url_admit_out")
      .select("doc_id", "domain", "url_canon", "admit_seq")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq.sorted
    assert(out == Seq((1L, "a.com", "X", 1L), (3L, "a.com", "Y", 2L),
      (6L, "b.com", "W", 1L)),
      s"admission state leaked, reset, or double-admitted: $out")
    spark.sql("DROP VIEW IF EXISTS url_admit_out")
  }

  test("hot-domain trigger: quota admits the k smallest of a huge batch") {
    // the skew case the operator exists for — one domain delivering a
    // large batch in ONE trigger (selection is a size-k heap, O(k)
    // memory; this leg pins the selection's correctness under an
    // adversarial descending arrival order where a naive bounded
    // prefix-take would keep the k LARGEST)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val arrivals = in.toDF().toDF("doc_id", "domain")
      .as[DomainQuota.DocArrival]
    val q = Drain.start(spark, StateStores.rocksDbConf)(
      DomainQuota.admitted(arrivals, k = 5L)
        .toDF().writeStream.outputMode("append").format("memory")
        .queryName("hot_quota_out"))
    in.addData((20000L to 1L by -1L).map(i => (i, "hot.com")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("hot_quota_out")
      .select("doc_id", "admit_seq")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(out == (1L to 5L).map(i => (i, i)),
      s"heap selection wrong under descending arrivals: $out")
    spark.sql("DROP VIEW IF EXISTS hot_quota_out")
  }

  test("url admission: bounded selection survives evict-then-improve ordering") {
    // adversarial single-trigger order exercising every candidate-set
    // path: insert (A@10), fill (B@4), evict A for C@6, re-enter A at a
    // SMALLER doc_id (3) evicting C, reject D@5 against a full set.
    // Sequential-in-doc_id-order semantics admit A@3 then B@4.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val arrivals = in.toDF().toDF("doc_id", "domain", "url_canon")
      .as[DomainQuota.UrlArrival]
    val q = Drain.start(spark, StateStores.rocksDbConf)(
      DomainQuota.urlAdmitted(arrivals, k = 2L)
        .toDF().writeStream.outputMode("append").format("memory")
        .queryName("evict_admit_out"))
    in.addData((10L, "a.com", "A"), (4L, "a.com", "B"), (6L, "a.com", "C"),
      (3L, "a.com", "A"), (5L, "a.com", "D"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("evict_admit_out")
      .select("doc_id", "url_canon", "admit_seq")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq.sorted
    assert(out == Seq((3L, "A", 1L), (4L, "B", 2L)),
      s"bounded URL selection diverged from sequential semantics: $out")
    spark.sql("DROP VIEW IF EXISTS evict_admit_out")
  }

  test("url admission: two URLs sharing one doc_id occupy two slots") {
    // upstream replays can stamp distinct URLs with the same doc_id in
    // one trigger; the bounded candidate set keys by (doc_id, url) so
    // neither admission is lost (a bare-doc_id key silently overwrote
    // one and then corrupted the other's eviction — r14 review find)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val arrivals = in.toDF().toDF("doc_id", "domain", "url_canon")
      .as[DomainQuota.UrlArrival]
    val q = Drain.start(spark, StateStores.rocksDbConf)(
      DomainQuota.urlAdmitted(arrivals, k = 2L)
        .toDF().writeStream.outputMode("append").format("memory")
        .queryName("dup_doc_admit_out"))
    in.addData((7L, "a.com", "U1"), (7L, "a.com", "U2"),
      (3L, "a.com", "U1"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dup_doc_admit_out")
      .select("doc_id", "url_canon", "admit_seq")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq.sorted
    assert(out == Seq((3L, "U1", 1L), (7L, "U2", 2L)),
      s"duplicate doc_id lost or corrupted an admission: $out")
    spark.sql("DROP VIEW IF EXISTS dup_doc_admit_out")
  }

  test("registered domain: the one-node expression equals the when-chain") {
    // the streaming keyers run the RegisteredDomainPsl expression (one
    // plan node); batch code may use the when-chain — pin them equal,
    // including the malformed-host edge cases where the chain's
    // regexes fail to ([^.]+...) and return ''
    val hosts = Seq("a.b.news.example.com", "example.com",
      "shop.example.co.uk", "a.b.example.org.uk", "user.github.io",
      "github.io", "site.ac.uk", "x.example.dev", "xco.uk",
      "x..com", "..com", "a.", "", "com", "single",
      // r15 wildcard/exception rule forms, including the edges: a host
      // that IS a wildcard-covered suffix (fallback), an empty `*`
      // label (no match → fallback path), deep subdomains, and the
      // exception body bare / nested / dotted-prefix
      "a.shop.biz.ck", "shop.biz.ck", "biz.ck", "ck", "x..ck", "a.b..w.ck",
      "www.ck", "sub.www.ck", "a.sub.www.ck", ".www.ck", "wwwx.ck")
    val rows = hosts.toDF("h")
      .select(col("h"),
        Urls.registeredDomain(col("h")).as("expr_d"),
        Urls.registeredDomainPsl(col("h")).as("chain_d"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"spellings diverge on host '${r.getString(0)}': " +
          s"expr='${r.getString(1)}' chain='${r.getString(2)}'")
    }
  }

  test("op309 domain quota depletes ACROSS triggers (RocksDB state)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val arrivals = in.toDF().toDF("doc_id", "domain")
      .as[DomainQuota.DocArrival]
    val q = Drain.start(spark, StateStores.rocksDbConf)(
      DomainQuota.admitted(arrivals, k = 2L)
        .toDF().writeStream.outputMode("append").format("memory")
        .queryName("quota_out"))
    // trigger 1: three a.com docs -> quota 2 admits the two smallest
    // doc_ids (the deterministic within-trigger rule)
    in.addData((5L, "a.com"), (3L, "a.com"), (9L, "a.com"))
    q.processAllAvailable()
    // trigger 2: a.com is EXHAUSTED (state must persist across the
    // trigger), b.com starts fresh
    in.addData((1L, "a.com"), (7L, "b.com"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("quota_out")
      .select("doc_id", "domain", "admit_seq")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq.sorted
    assert(out == Seq((3L, "a.com", 1L), (5L, "a.com", 2L),
      (7L, "b.com", 1L)),
      s"quota state leaked or reset across triggers: $out")
    spark.sql("DROP VIEW IF EXISTS quota_out")
  }

  test("op324 politeness spacing holds ACROSS triggers; late arrivals " +
      "reject against the persisted last-admitted time") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Politeness
    val in = MemoryStream[(Long, String, Long, Long)]
    val arrivals = in.toDF().toDF("doc_id", "domain", "fetch_s", "delay_s")
      .as[Politeness.Fetch]
    val q = Drain.start(spark, StateStores.rocksDbConf)(
      Politeness.admitted(arrivals)
        .toDF().writeStream.outputMode("append").format("memory")
        .queryName("polite_out"))
    // trigger 1, UNSORTED arrival: the processor must fold in
    // (fetch_s, doc_id) order — 100 admits, 130 is 30 s after and
    // drops under a.com's 60 s Crawl-delay (a wrong unordered fold
    // would admit 130 then drop 100)
    in.addData((2L, "a.com", 130L, 60L), (1L, "a.com", 100L, 60L))
    q.processAllAvailable()
    // trigger 2: state carries last=100 — 90 is LATE (before the
    // admitted fetch, must reject, never rewind state), 150 < 160
    // rejects, 161 admits; b.com's first arrival always admits and
    // its own (shorter) Crawl-delay applies per domain
    in.addData((3L, "a.com", 150L, 60L), (5L, "a.com", 90L, 60L),
      (4L, "a.com", 161L, 60L), (6L, "b.com", 10L, 30L))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("polite_out")
      .select("doc_id", "domain", "fetch_s", "admit_seq")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    assert(out == Seq((1L, "a.com", 100L, 1L), (4L, "a.com", 161L, 2L),
      (6L, "b.com", 10L, 1L)),
      s"politeness state leaked, reset, or folded out of order: $out")
    spark.sql("DROP VIEW IF EXISTS polite_out")
  }
}

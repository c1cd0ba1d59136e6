package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TopKAgg, Urls}
import graft.sources.Tables
import graft.streaming.Drain
import Det.{big, ordered}

/** Web-curation pack — the crawl-side stage of a pretraining pipeline
  * (the RefinedWeb/CCNet steps that run BEFORE any text model sees a
  * byte): URL canonicalization + URL-level exact dedup (op307),
  * per-registered-domain document caps (op308), and the streaming
  * per-domain admission quota at the ingest edge (op309).
  *
  * The fixtures carry no URL column, so each query synthesizes one
  * deterministically from doc_id — deliberately collision-rich
  * (www/port/tracking-param/case variants of the same logical page)
  * and identically spelled in the DuckDB oracles, the email-synthesis
  * pattern the STEDI pack uses.
  */
object WebQueries {
  type Q = (SparkSession, String) => DataFrame

  /** The synthesized raw URL: scheme-default port on even ids, `www.`
    * on multiples of 3, an uppercase host label on multiples of 7, a
    * path tail whose `~` is spelled `%7E` on multiples of 11 (r14: the
    * RFC 3986 unreserved-escape decode must MERGE the two spellings),
    * and tracking parameters whose spelling and position vary by
    * parity — so canonicalization has real work to do, and distinct
    * raw URLs collapse onto (host mod 13/5, path mod 7, id mod 5)
    * canonical groups. */
  private def urlFor(id: Column): Column = concat(
    lit("https://"),
    when(id % 3 === 0, lit("www.")).otherwise(lit("")),
    when(id % 7 === 0, lit("Site")).otherwise(lit("site")),
    (id % 13).cast("string"),
    lit(".example"), (id % 5).cast("string"), lit(".com"),
    when(id % 2 === 0, lit(":443")).otherwise(lit("")),
    lit("/p/"), (id % 7).cast("string"),
    when(id % 11 === 0, lit("%7Ev")).otherwise(lit("~v")),
    when(id % 2 === 0,
      concat(lit("?utm_source=feed"), (id % 9).cast("string"),
        lit("&id="), (id % 5).cast("string"), lit("&ref=rss")))
      .otherwise(
        concat(lit("?id="), (id % 5).cast("string"),
          lit("&utm_campaign=c"), (id % 4).cast("string"))))

  private def urlOf: Column = urlFor(col("doc_id"))

  /** [[urlFor]]'s DuckDB twin over an id expression — ONE generator so
    * every oracle that synthesizes a URL (for doc_id or any derived
    * id, as op319's link targets do) cannot drift from the Spark
    * synthesis. Emitted as a single line: these fragments interpolate
    * into stripMargin oracle strings. */
  private def urlSql(e: String): String =
    s"'https://' || " +
      s"CASE WHEN ($e) % 3 = 0 THEN 'www.' ELSE '' END || " +
      s"CASE WHEN ($e) % 7 = 0 THEN 'Site' ELSE 'site' END || " +
      s"CAST(($e) % 13 AS VARCHAR) || '.example' || " +
      s"CAST(($e) % 5 AS VARCHAR) || '.com' || " +
      s"CASE WHEN ($e) % 2 = 0 THEN ':443' ELSE '' END || " +
      s"'/p/' || CAST(($e) % 7 AS VARCHAR) || " +
      s"CASE WHEN ($e) % 11 = 0 THEN '%7Ev' ELSE '~v' END || " +
      s"CASE WHEN ($e) % 2 = 0 " +
      s"THEN '?utm_source=feed' || CAST(($e) % 9 AS VARCHAR) || " +
      s"'&id=' || CAST(($e) % 5 AS VARCHAR) || '&ref=rss' " +
      s"ELSE '?id=' || CAST(($e) % 5 AS VARCHAR) || " +
      s"'&utm_campaign=c' || CAST(($e) % 4 AS VARCHAR) END"

  /** Canonical-host chain ([[Urls.canonicalHost]]'s twin) over a SQL
    * expression string. */
  private def canonicalHostSql(e: String): String =
    s"regexp_replace(regexp_replace(lower(regexp_extract($e, " +
      "'^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)), " +
      "':(443|80)$', ''), '^www\\.', '')"

  /** Path component ([[Urls.pathOf]]'s twin) over a SQL expression. */
  private def pathSql(e: String): String =
    s"regexp_extract($e, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1)"

  /** Canonical-query chain ([[Urls.canonicalQuery]]'s twin): tracking
    * params dropped, survivors sorted. Coalesced because DuckDB's
    * array_to_string([]) is NULL where Spark's array_join gives ''
    * (the op318 lesson — here it would NULL the whole canonical URL
    * for a query that filters to nothing). */
  private def querySql(e: String): String =
    "coalesce(array_to_string(list_sort(list_filter(string_split(" +
      s"regexp_extract($e, '\\?([^#]*)', 1), '&'), " +
      "p -> NOT (p LIKE 'utm\\_%' ESCAPE '\\' OR p LIKE 'ref=%' " +
      "OR p LIKE 'fbclid=%' OR p = ''))), '&'), '')"

  /** The same synthesis as a DuckDB CTE (`u(doc_id, url)`), generated
    * from [[urlSql]]. NOTE: no continuation line in these CTE strings
    * may START with "||" — the outer oracle strings re-run stripMargin
    * over the interpolated text, which would eat one pipe of the
    * operator (the generators emit single lines for this reason). */
  private val urlCte: String =
    s"""u AS (
      |  SELECT doc_id, ${urlSql("doc_id")} AS url
      |  FROM documents)""".stripMargin

  /** [[Urls.canonicalize]]'s DuckDB twin over CTE `u` →
    * `c(doc_id, url_canon)`: unreserved percent-escapes decoded FIRST
    * (the generated replace chain — [[Urls.pctDecodeSql]], the exact
    * table the Spark single-pass expression implements), then the
    * host/port/www/tracking-param normalization over the decoded
    * url. */
  private val canonCte: String =
    s"""c AS (
      |  SELECT doc_id,
      |    'https://' || ${canonicalHostSql("url")} || ${pathSql("url")} ||
      |    CASE WHEN q = '' THEN '' ELSE '?' || q END AS url_canon
      |  FROM (
      |    SELECT doc_id, url, ${querySql("url")} AS q
      |    FROM (SELECT doc_id, ${Urls.pctDecodeSql("url")} AS url FROM u)))""".stripMargin

  /** Registered-domain + path CTE over `u` → `h(doc_id, domain, path)`. */
  private val domainCte: String =
    """h AS (
      |  SELECT doc_id,
      |    regexp_extract(
      |      regexp_replace(regexp_replace(
      |        lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)),
      |        ':(443|80)$', ''), '^www\.', ''),
      |      '([^.]+\.[^.]+)$', 1) AS domain,
      |    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1)
      |      AS path
      |  FROM u)""".stripMargin

  /** op307: URL canonicalization + URL-level exact dedup — every
    * document keyed by its canonical URL, clustered to the minimum
    * doc_id (the crawl-dedup convention: the first fetch of a page is
    * the survivor). The dedup join is keyed by the canonical string —
    * at 100 TB this is THE url-dedup shuffle (one hash partitioning of
    * (canon → min doc_id) with map-side combine on min, then one
    * co-keyed attach); nothing touches the text column. */
  val op307UrlCanonical: Q = (s, d) => {
    val c = Tables.documents(s, d)
      .select(col("doc_id"), urlOf.as("url"))
      // staged decode (r16): canonicalizeDecoded references its arg 4x
      .select(col("doc_id"), Urls.pctDecode(col("url")).as("dec"))
      .select(col("doc_id"),
        Urls.canonicalizeDecoded(col("dec")).as("url_canon"))
    val canon = c.groupBy("url_canon").agg(min("doc_id").as("canon_id"))
    ordered(
      c.join(canon, "url_canon")
        .select(col("doc_id"), col("url_canon"),
          big(col("canon_id")).as("canon_id"),
          when(col("doc_id") =!= col("canon_id"), 1L).otherwise(0L)
            .as("is_dup")),
      "doc_id")
  }

  /** op308: per-registered-domain document cap — keep at most 40
    * documents per domain, selected by a deterministic hash priority
    * (a uniform within-domain sample, the RefinedWeb head-domain
    * guard: no single site may dominate the corpus). Selection runs
    * through the bounded [[TopKAgg]], so at most k rows per (domain,
    * input partition) cross the shuffle — the window-rank spelling the
    * oracle uses would per-domain-sort the whole corpus and put each
    * mega-domain on one reducer (the op158/op186/op250 argument); the
    * declared equivalence is TopKAgg's exact (score desc, id asc) =
    * (priority asc, doc_id asc) order. Priority: doc_id·48271 mod
    * 104729 (prime > any fixture doc count ⇒ collision-free here;
    * the doc_id tiebreak covers larger corpora). */
  val op308DomainCaps: Q = (s, d) => {
    val dom = Tables.documents(s, d)
      .select(col("doc_id"),
        Urls.registeredDomain(Urls.canonicalHost(urlOf)).as("domain"),
        ((col("doc_id") * 48271L) % 104729L).as("pr"))
    ordered(
      dom.groupBy("domain")
        .agg(TopKAgg.topK(40)(-col("pr"), col("doc_id")).as("top"))
        .select(col("domain"), posexplode(col("top")))
        .select(col("domain"), big(col("pos") + 1).as("rank"),
          col("col.id").as("doc_id")),
      "domain", "rank")
  }

  /** op309: STREAMING per-domain admission quota — documents arrive at
    * the ingest edge and at most 25 per registered domain are admitted
    * across the run ([[graft.streaming.DomainQuota]]: one Long counter
    * per domain as the whole state, RocksDB-backed). The fixture
    * drains in one batch where admission order is the deterministic
    * doc_id rule, so the oracle replays it as a per-domain doc_id
    * rank; cross-trigger quota depletion (the part a single-batch
    * drain can't show) is pinned in StreamingSpec with controlled
    * arrivals. */
  val op309StreamDomainQuota: Q = (s, d) => {
    import graft.streaming.{DomainQuota, StateStores}
    val admitted = Drain.files(s, d, "op309", "documents", "append",
        Drain.width("8") ++ StateStores.rocksDbConf) { st =>
      import st.sparkSession.implicits._
      DomainQuota.admitted(
        st.select(col("doc_id"),
            Urls.registeredDomain(Urls.canonicalHost(urlOf))
              .as("domain"))
          .as[DomainQuota.DocArrival],
        k = 25L).toDF()
    }
    ordered(
      admitted.select(col("doc_id"), col("domain"),
        big(col("admit_seq")).as("admit_seq")),
      "doc_id")
  }

  /** op310: HTML → text extraction ([[graft.functions.Html]]) — the
    * crawl stage between WARC bytes and every text op in the engine:
    * script/style subtrees removed wholesale, tags stripped, entities
    * decoded (&amp; last), whitespace collapsed. The fixture wraps each
    * document's text in a deterministic page (title/style/script head,
    * entity-bearing headline and footer, a tag-wrapped body token) so
    * the extractor has every rule to exercise; the oracle replays the
    * same wrap + extraction. 100 TB shape: one map-only projection —
    * no shuffle, no UDF; extraction cost scales with page bytes and
    * nothing else. */
  val op310HtmlExtract: Q = (s, d) => {
    import graft.functions.Html
    val html = concat(
      lit("<html><head><title>t"), col("doc_id").cast("string"),
      lit("</title><style>p{color:red}</style><script>var x="),
      col("doc_id").cast("string"), lit(";</script></head><body><h1>Doc &amp; "),
      col("doc_id").cast("string"), lit("</h1><p>"),
      call_function("replace", col("text"), lit("the"), lit("<b>the</b>")),
      lit("</p><div>tail &lt;"), col("doc_id").cast("string"),
      lit("&gt;&nbsp;end</div></body></html>"))
    ordered(
      Tables.documents(s, d)
        .select(col("doc_id"), Html.extract(html).as("body_text"))
        .select(col("doc_id"), col("body_text"),
          big(length(col("body_text"))).as("n_chars")),
      "doc_id")
  }

  /** op311: robots-rules gate — Google-style longest-match evaluation
    * of per-domain allow/disallow path prefixes (the crawl-side access
    * gate that decides which URLs exist for the pipeline at all). The
    * synthesized ruleset covers domains 0-3 ONLY — example4.com has no
    * rules at all, so the fixture exercises the default-allow path
    * under the oracle — disallowing `/p/` per covered domain and
    * re-allowing one subtree (`/p/K` for domain K), so the
    * longest-match + allow-wins tiebreak both carry weight. Decision =
    * ONE lexicographic max over (prefix length, is_allow) per URL;
    * the struct is built ONLY when a rule matched (left-join rule
    * NULL ⇒ struct NULL ⇒ max NULL ⇒ the coalesce default fires) —
    * max over struct(l=null, a=0) would be non-null and silently read
    * "disallow" for rule-less domains. 100 TB shape: rules are
    * per-domain metadata — the join is domain-keyed (co-partitioned
    * with the URL table's natural bucketing; broadcast only while the
    * ruleset is dimension-sized), and the aggregate is
    * map-combinable. */
  val op311RobotsGate: Q = (s, d) => {
    val base = s.range(4).select(
      concat(lit("example"), col("id").cast("string"), lit(".com"))
        .as("r_domain"),
      col("id").cast("string").as("k"))
    val rules = base
      .select(col("r_domain"), lit("disallow").as("rule"),
        lit("/p/").as("prefix"))
      .union(base.select(col("r_domain"), lit("allow").as("rule"),
        concat(lit("/p/"), col("k")).as("prefix")))
    val docs = Tables.documents(s, d).select(col("doc_id"),
      Urls.registeredDomain(Urls.canonicalHost(urlOf)).as("domain"),
      Urls.pathOf(urlOf).as("path"))
    ordered(
      docs.join(rules,
          col("domain") === col("r_domain") &&
            col("path").startsWith(col("prefix")), "left")
        .groupBy(col("doc_id"), col("domain"), col("path"))
        .agg(max(when(col("rule").isNotNull,
          struct(length(col("prefix")).as("l"),
            when(col("rule") === "allow", 1L).otherwise(0L).as("a"))))
          .as("m"))
        .select(col("doc_id"), col("domain"), col("path"),
          big(coalesce(col("m.a"), lit(1L))).as("allowed")),
      "doc_id")
  }

  /** op315: the streaming URL ADMISSION CONTROLLER — op307's URL dedup
    * and op309's domain quota composed into ONE stateful operator at
    * the ingest edge: a document is admitted iff its canonical URL was
    * never admitted before AND its domain's quota (25) has room. The
    * state per domain is the admitted-canonical list — AT MOST k
    * strings, because only admissions grow it (re-arrivals of admitted
    * URLs hit the set; re-arrivals of rejected ones hit the full
    * counter): the naive "seen URL" set grows with the crawl, this one
    * is bounded by the quota by construction. Single-batch drain +
    * the deterministic doc_id order make the sequential admission
    * replayable as first-occurrence-per-canonical → per-domain rank;
    * cross-trigger behavior (set persistence, no double-admit) is
    * spec'd with controlled arrivals. */
  val op315StreamUrlAdmission: Q = (s, d) => {
    import graft.streaming.{DomainQuota, StateStores}
    val admitted = Drain.files(s, d, "op315", "documents", "append",
        Drain.width("8") ++ StateStores.rocksDbConf) { st =>
      import st.sparkSession.implicits._
      DomainQuota.urlAdmitted(
        st.select(col("doc_id"),
            Urls.registeredDomain(Urls.canonicalHost(urlOf))
              .as("domain"),
            Urls.pctDecode(urlOf).as("dec"))
          .select(col("doc_id"), col("domain"),
            Urls.canonicalizeDecoded(col("dec")).as("url_canon"))
          .as[DomainQuota.UrlArrival],
        k = 25L).toDF()
    }
    ordered(
      admitted.select(col("doc_id"), col("domain"), col("url_canon"),
        big(col("admit_seq")).as("admit_seq")),
      "doc_id")
  }

  /** op316: the FULL crawl-edge ingest gate — op311's robots verdict
    * composed in front of op315's URL-dedup + domain-quota admission
    * as ONE streaming query ([[graft.streaming.AdmissionGate]]): a
    * document is admitted iff its path is robots-allowed for its
    * domain AND its canonical URL was never admitted before AND the
    * domain's quota (25) has room. Gate-then-admit order is load-
    * bearing: a disallowed URL must never consume a quota slot. The
    * robots decision runs as a map-side scalar over the broadcast rule
    * metadata (an aggregate upstream of transformWithState is
    * append-mode-illegal — the batch join+max spelling cannot stream),
    * bit-equal to op311's max(struct(l, a)) + default-allow. State is
    * op315's quota-bounded admitted list, nothing more. The oracle
    * composes the three stages' SQL: gate → first-occurrence-per-
    * canonical → per-domain rank ≤ k; restart recovery is pinned in
    * RecoverySpec. */
  val op316IngestGate: Q = (s, d) => {
    import graft.streaming.{AdmissionGate, StateStores}
    // the op311 ruleset, compiled to the broadcast matcher shape:
    // domains 0-3 disallow /p/ and re-allow /p/K; example4.com has no
    // rules (default allow — its quota fills from ALL its paths)
    val rules: Map[String, Seq[(String, Boolean)]] =
      (0 to 3).map { k =>
        s"example$k.com" -> Seq("/p/" -> false, s"/p/$k" -> true)
      }.toMap
    val admitted = Drain.files(s, d, "op316", "documents", "append",
        Drain.width("8") ++ StateStores.rocksDbConf) { st =>
      AdmissionGate.robotsGatedAdmission(
        st.select(col("doc_id"),
          Urls.registeredDomain(Urls.canonicalHost(urlOf)).as("domain"),
          Urls.pathOf(urlOf).as("path"),
          Urls.pctDecode(urlOf).as("dec"))
          .select(col("doc_id"), col("domain"), col("path"),
            Urls.canonicalizeDecoded(col("dec")).as("url_canon")),
        rules, k = 25L)
    }
    ordered(
      admitted.select(col("doc_id"), col("domain"), col("url_canon"),
        big(col("admit_seq")).as("admit_seq")),
      "doc_id")
  }

  /** op317: PSL registered-domain extraction through the BROADCAST-DIM
    * join spelling — the 100 TB path for the full ~9k-rule Public
    * Suffix List (the [[Urls.registeredDomainPsl]] when-chain is the
    * literal-sized spelling the streaming keyers use; this op proves
    * the table-driven one), covering ALL THREE PSL rule forms as of
    * r15: plain suffixes, the wildcard rule (`*.ck` hosts must group
    * one label deeper) and its exception (`!www.ck` hosts must beat
    * the wildcard). Hosts synthesize multi-label suffixes (co.uk,
    * org.uk, github.io), wildcard-covered `w<j>.ck` hosts, exception
    * `www.ck` hosts, plus .com; an extra subdomain label on multiples
    * of 5 and — new in r15 — a BARE-suffix host on multiples of 7
    * (h-label dropped; 7 is coprime with the base selector's 6, so
    * every base — github.io, w<j>.ck, www.ck — occurs bare), the edge the r15 advice flagged: a host
    * exactly equal to a rule must fall to the fallback, not slice past
    * the label array. Shape: ≤3 join keys per label position (plain
    * tail, `*.`-form, `!`-form — null keys never match), an equi-join
    * against the broadcast PSL dim carrying (rule, is_exc, s_labels),
    * and one map-combinable max per doc whose struct order
    * (is_exc, s_labels) IS the PSL precedence — no corpus-sized state,
    * no regex scan of the list. Plain/wildcard keys start at label
    * position 2 (a bare-suffix host has no registrable label);
    * exception keys start at 1 (a host may BE the exception body —
    * that host is registrable). The oracle replays the same slice as a
    * generated CASE chain ([[Urls.registeredDomainPslSql]]); the
    * declared equivalence is join-max ≡ ordered CASE on the fixture's
    * host grammar (non-empty labels). */
  val op317RegisteredDomainPsl: Q = (s, d) => {
    val host = concat(
      when(col("doc_id") % 5 === 0, lit("x.")).otherwise(lit("")),
      when(col("doc_id") % 7 === 0, lit(""))
        .otherwise(concat(lit("h"), (col("doc_id") % 6).cast("string"),
          lit("."))),
      when(col("doc_id") % 6 === 0,
        concat(lit("example"), (col("doc_id") % 3).cast("string"),
          lit(".com")))
        .when(col("doc_id") % 6 === 1,
          concat(lit("example"), (col("doc_id") % 3).cast("string"),
            lit(".co.uk")))
        .when(col("doc_id") % 6 === 2, lit("github.io"))
        .when(col("doc_id") % 6 === 3,
          concat(lit("example"), (col("doc_id") % 3).cast("string"),
            lit(".org.uk")))
        .when(col("doc_id") % 6 === 4,
          concat(lit("w"), (col("doc_id") % 3).cast("string"), lit(".ck")))
        .otherwise(lit("www.ck")))
    val docs = Tables.documents(s, d).select(col("doc_id"), host.as("host"))
    ordered(
      registeredDomainJoinSpelling(s, docs, Urls.publicSuffixSlice),
      "doc_id")
  }

  /** The broadcast-dim JOIN spelling of PSL registered-domain
    * extraction — op317's body, factored so the r16 PSL property suite
    * (PslPropertySpec) can run it against RANDOM rule tables alongside
    * the when-chain and plan-node spellings. `docs` must carry
    * (doc_id, host); returns (doc_id, host, domain). */
  private[graft] def registeredDomainJoinSpelling(s: SparkSession,
      docs: DataFrame, suffixes: Seq[String]): DataFrame = {
    import s.implicits._
    val pslDf = suffixes.map { r =>
      val exc = r.startsWith("!")
      val body = if (exc) r.substring(1) else r
      (r, if (exc) 1 else 0, body.count(_ == '.') + 1)
    }.toDF("rule", "is_exc", "s_labels")
    val labs = split(col("host"), "\\.")
    val nl = size(labs)
    // per label position i, up to three join keys; a key spelled null
    // (guard not met) simply never equi-joins
    val keys = flatten(transform(sequence(lit(1), nl), i => array(
      // plain: the tail itself, only with a registrable label before it
      when(i >= 2, array_join(slice(labs, i, nl - i + 1), ".")),
      // wildcard form: `*.` + the tail one deeper; the `*` label
      // (position i) must exist, be non-empty, and leave a tail
      when(i >= 2 && i < nl && element_at(labs, i) =!= "",
        concat(lit("*."), array_join(slice(labs, i + 1, nl - i), "."))),
      // exception form: `!` + tail from ANY position incl. the whole
      // host (the body itself is registrable)
      concat(lit("!"), array_join(slice(labs, i, nl - i + 1), ".")))))
    val matched = docs
      .withColumn("cand", explode(keys))
      .join(broadcast(pslDf), col("cand") === col("rule"), "left")
      .groupBy(col("doc_id"), col("host"))
      // struct only when a rule matched (the op311 lesson: max over
      // struct(null, …) is non-null and silently wins); field order
      // (is_exc, s_labels) makes max() the PSL precedence
      .agg(max(when(col("rule").isNotNull,
        struct(col("is_exc"), col("s_labels")))).as("m"))
    matched.select(col("doc_id"), col("host"),
      when(col("m").isNull,
        regexp_extract(col("host"), "([^.]+\\.[^.]+)$", 1))
        // exception: the registered domain IS the rule body
        .when(col("m.is_exc") === 1,
          array_join(slice(labs, size(labs) - col("m.s_labels") + 1,
            col("m.s_labels")), "."))
        // plain/wildcard with an EMPTY registrable label: '' — the
        // chain's `([^.]+...)` extract and the plan node's
        // prev.isEmpty path both say so (r15 review: the slice
        // spelling used to emit ".w.ck"-style junk here)
        .when(element_at(labs, size(labs) - col("m.s_labels")) === "",
          lit(""))
        // plain/wildcard: matched labels + one registrable label
        .otherwise(array_join(
          slice(labs, size(labs) - col("m.s_labels"),
            col("m.s_labels") + 1), "."))
        .as("domain"))
  }

  /** [[graft.functions.Html.extract]]'s DuckDB chain over a SQL
    * expression string — ONE generator shared by the op310 oracle and
    * every place op318 needs per-block extraction, so the engines
    * cannot drift. RE2-spelled (two non-greedy patterns instead of a
    * backreference; explicit 'g'). */
  private def htmlExtractSql(e: String): String =
    "trim(regexp_replace(replace(replace(replace(replace(replace(replace(" +
      s"regexp_replace(regexp_replace(regexp_replace($e, " +
      "'(?is)<script[^>]*>.*?</script>', ' ', 'g'), " +
      "'(?is)<style[^>]*>.*?</style>', ' ', 'g'), " +
      "'<[^>]*>', ' ', 'g'), " +
      "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), " +
      "'&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'), " +
      "'\\s+', ' ', 'g'))"

  /** [[graft.functions.Html.linkText]]'s DuckDB twin. NOTE the
    * coalesce: DuckDB's array_to_string([]) is NULL where Spark's
    * array_join gives '' — without it an anchor-free block's predicate
    * evaluates NULL and list_filter silently drops EVERY such block. */
  private def linkTextSql(e: String): String =
    htmlExtractSql("coalesce(array_to_string(regexp_extract_all(" +
      s"$e, '(?is)<a[^>]*>(.*?)</a>', 1), ' '), '')")

  /** The op318 keep predicate over a block expression. */
  private def keepBlockSql(e: String): String =
    s"length(${htmlExtractSql(e)}) >= 20 AND " +
      s"length(${linkTextSql(e)}) * 100 <= length(${htmlExtractSql(e)}) * 33"

  /** op318: MAIN-CONTENT extraction — the deterministic boilerplate-
    * removal floor (jusText/Readability core): split the page into
    * block-level units, drop short and link-dominated blocks (nav,
    * footer, "read more" boilerplate), keep body prose in document
    * order ([[graft.functions.Html.mainContent]]). The fixture wraps
    * each document's text in a page with a link-dense nav, a short
    * heading, a link-heavy read-more block and a link-heavy footer —
    * every drop rule carries weight, and the body paragraph must
    * survive. 100 TB shape: array HOFs over one row — map-only, no
    * explode, no shuffle; cost ∝ page bytes. */
  val op318MainContent: Q = (s, d) => {
    import graft.functions.Html
    val page = concat(
      lit("<html><body><div><a href=\"/\">Home</a> " +
        "<a href=\"/about\">About us</a> <a href=\"/contact\">Contact</a>" +
        "</div><p>"),
      col("text"),
      lit("</p><h2>Doc "), col("doc_id").cast("string"),
      lit("</h2><div>Read <a href=\"/more\">much more about this " +
        "document over here</a></div><div>&copy; 2024 " +
        "<a href=\"/privacy\">Privacy policy</a> " +
        "<a href=\"/terms\">Terms of service</a> " +
        "<a href=\"/cookies\">Cookie settings</a></div></body></html>"))
    ordered(
      Tables.documents(s, d)
        // bind the survivors once — text and count derive from ONE
        // pass over the page (see Html.keptBlocks)
        .withColumn("__kept", Html.keptBlocks(page))
        .select(col("doc_id"),
          array_join(transform(col("__kept"), s => s.getField("txt")), " ")
            .as("main_text"),
          big(size(col("__kept"))).as("n_kept"),
          big(Html.blockCount(page)).as("n_blocks")),
      "doc_id")
  }

  /** op319: LINK-GRAPH extraction — the crawl stage that turns pages
    * into the domain-level web graph every ranking/frontier component
    * consumes (and the edge list ops 176/208/217 then run on): extract
    * anchor hrefs, canonicalize each target's host, key both ends by
    * PSL registered domain, and aggregate to (src_domain, dst_domain,
    * n_links) with self-edges dropped. Each document links to three
    * deterministically-derived pages (ids 7·d+3, 5·d+1, d+13 through
    * the SAME collision-rich URL synthesis — www/port/case variants
    * must collapse before edges can aggregate). 100 TB shape: href
    * extraction and both domain keys are map-only; the only shuffle is
    * the final (src, dst) count with map-side combine — edge-list
    * construction at corpus scale is exactly this one aggregation. */
  val op319LinkGraph: Q = (s, d) => {
    // r15: real crawl anchors are mostly RELATIVE — the page now links
    // with one form of each kind and the extractor must RESOLVE against
    // the page's own URL ([[Urls.resolve]]) before domain-keying:
    //  - a same-site relative href with a dot segment (resolves to the
    //    page's own domain → dropped as a self-edge; a resolver bug
    //    that mangled the host would surface it as a spurious edge),
    //  - a protocol-relative spelling of the 5d+1 target (the scheme
    //    rides in from the base — same target URL as before),
    //  - the absolute d+13 target.
    val t1 = col("doc_id") * 7 + 3
    val relHref = concat(lit("a/../p"), (t1 % 7).cast("string"),
      lit("?id="), (t1 % 5).cast("string"))
    val protoHref =
      regexp_replace(urlFor(col("doc_id") * 5 + 1), "^https:", "")
    // r16: ids %11=0 carry a <base href> override (a root-relative
    // directory) — anchors on those pages resolve against the
    // EFFECTIVE base ([[Urls.effectiveBase]]: the base href resolved
    // against the page URL), computed ONCE per page before the href
    // explode, so the per-href path pays nothing new
    val basePart = when(col("doc_id") % 11 === 0,
      concat(lit("<head><base href=\"/b"), (col("doc_id") % 3).cast("string"),
        lit("/\"></head>"))).otherwise(lit(""))
    val page = concat(
      lit("<html>"), basePart,
      lit("<body><p>See <a href=\""), relHref,
      lit("\">first</a> and <a href=\""), protoHref,
      lit("\">second</a>; archive at <a href=\""), urlFor(col("doc_id") + 13),
      lit("\">third</a>.</p></body></html>"))
    // staged: page/url → base_href → eff, each a non-cheap alias so it
    // is computed ONCE (an inline eff would re-expand the page regex at
    // each of resolve's base references — see op323's staging note)
    ordered(
      Tables.documents(s, d)
        .select(urlOf.as("url"), page.as("page"))
        .select(col("url"), col("page"),
          graft.functions.Html.baseHref(col("page")).as("bh"))
        .select(
          Urls.effectiveBase(col("url"), col("bh")).as("eff"),
          Urls.registeredDomain(Urls.canonicalHost(col("url")))
            .as("src_domain"),
          explode(regexp_extract_all(col("page"),
            lit("(?is)<a[^>]+href=\"([^\"]+)\""), lit(1))).as("href"))
        .select(col("src_domain"),
          Urls.registeredDomain(Urls.canonicalHost(
            Urls.resolve(col("eff"), col("href")))).as("dst_domain"))
        .filter(col("src_domain") =!= col("dst_domain"))
        .groupBy("src_domain", "dst_domain")
        .agg(big(count(lit(1))).as("n_links")),
      "src_domain", "dst_domain")
  }

  /** op320: PageRank over the crawl's PAGE-LEVEL link graph — the
    * end-to-end composition a search/frontier stack runs: op319's
    * extraction at canonical-URL grain (www/port/escape variants must
    * collapse into one node before ranking), symmetrized and
    * deduplicated, then op176's exact integer PageRank (same ppb
    * scale, damping and iteration count — the oracle literally appends
    * [[SeqGraphQueries.prIterChainSql]], so the two ops cannot drift).
    * The Spark loop IS op176's broadcast spelling
    * ([[SeqGraphQueries.pageRanks]], coPart = false): ranks and
    * degrees are |V|-sized (pages with out-links — a dimension
    * relative to the corpus), so the edge list never re-shuffles per
    * iteration; past broadcast scale the op176b co-partitioned
    * spelling applies unchanged. */
  val op320PageRank: Q = (s, d) => {
    // staged decode (r16): canonicalize references its argument 4x, so
    // the decode+synthesis trees are bound as attributes first and each
    // evaluates once (the oracle's `base` CTE already spells it so)
    val pairs = Tables.documents(s, d)
      .select(Urls.pctDecode(urlOf).as("d0"),
        Urls.pctDecode(urlFor(col("doc_id") * 7 + 3)).as("d1"),
        Urls.pctDecode(urlFor(col("doc_id") * 5 + 1)).as("d2"),
        Urls.pctDecode(urlFor(col("doc_id") + 13)).as("d3"))
      .select(Urls.canonicalizeDecoded(col("d0")).as("a"),
        explode(array(
          Urls.canonicalizeDecoded(col("d1")),
          Urls.canonicalizeDecoded(col("d2")),
          Urls.canonicalizeDecoded(col("d3")))).as("b"))
      .filter(col("a") =!= col("b"))
    // checkpoint the edge list: unlike op176 (whose edge re-reads
    // collapse via ReuseExchange and measured 2x slower checkpointed),
    // op320's edges derive from the percent-decode + canonicalization
    // chains — per-iteration recomputation paid that synthesis 5x
    // (measured 7.9 -> ~3 s at sf0.1); the materialized list is the
    // |E|-sized graph itself, exactly what op208 checkpoints
    val edges = pairs.union(pairs.select(col("b"), col("a"))).distinct()
      .toDF("src", "dst").localCheckpoint(false) // lazy: plan inspection
      // and query CONSTRUCTION stay job-free; first action materializes
    ordered(
      SeqGraphQueries.pageRanks(edges, seeded = false, coPart = false)
        .select(col("pk").as("url_canon"), big(col("r")).as("rank_ppb"),
          big(col("deg")).as("deg")),
      "url_canon")
  }

  /** op321: ANCHOR-TEXT aggregation per target page — the third classic
    * signal a crawl derives beside the link graph (op319) and rank
    * (op320): the text other pages use when linking to a page
    * describes that page better than the page itself (the
    * anchor-text-index idea search engines and pretraining query-doc
    * mining both use). Anchor (href, text) pairs come out of the page
    * in one regex pass over full matches, each target is keyed by its
    * CANONICAL url (spelling variants must merge their anchor
    * evidence), and the aggregate per target is (n_refs, n distinct
    * source domains, the sorted distinct anchor texts). 100 TB shape:
    * extraction map-only; one shuffle on the canonical target with
    * map-side partial aggregation; anchor sets are bounded by distinct
    * anchor spellings per target (tiny), never by reference count. */
  val op321AnchorText: Q = (s, d) => {
    val anchorPat = "(?is)<a href=\"([^\"]+)\">([^<]*)</a>"
    // r15: anchors link RELATIVELY where real pages do — a same-site
    // relative href with a dot segment (its resolved target keys real
    // same-host pages into the index, gating merge + dot-segment +
    // query resolution inside the aggregate), a protocol-relative
    // spelling, and an absolute one (see op319's synthesis notes)
    val t1 = col("doc_id") * 7 + 3
    val relHref = concat(lit("a/../p"), (t1 % 7).cast("string"),
      lit("?id="), (t1 % 5).cast("string"))
    val protoHref =
      regexp_replace(urlFor(col("doc_id") * 5 + 1), "^https:", "")
    // r16: the same <base href> override as op319 — and HERE it gates
    // hard: dst_canon is CANONICAL-URL grain, so a base-carrying page's
    // relative anchor must index under /bK/... or the hash mismatches
    val basePart = when(col("doc_id") % 11 === 0,
      concat(lit("<head><base href=\"/b"), (col("doc_id") % 3).cast("string"),
        lit("/\"></head>"))).otherwise(lit(""))
    val page = concat(
      lit("<html>"), basePart,
      lit("<body><p>See <a href=\""), relHref,
      lit("\">guide "), (col("doc_id") % 17).cast("string"),
      lit("</a> and <a href=\""), protoHref,
      lit("\">review "), (col("doc_id") % 13).cast("string"),
      lit("</a>; archive at <a href=\""), urlFor(col("doc_id") + 13),
      lit("\">mirror "), (col("doc_id") % 7).cast("string"),
      lit("</a>.</p></body></html>"))
    // staged like op319/op323: url/page → base_href → eff → per-match
    // resolved, each expensive intermediate an attribute computed once
    ordered(
      Tables.documents(s, d)
        .select(urlOf.as("url"), page.as("page"))
        .select(col("url"), col("page"),
          graft.functions.Html.baseHref(col("page")).as("bh"))
        .select(
          Urls.effectiveBase(col("url"), col("bh")).as("eff"),
          Urls.registeredDomain(Urls.canonicalHost(col("url")))
            .as("src_domain"),
          explode(regexp_extract_all(col("page"), lit(anchorPat), lit(0)))
            .as("m"))
        .select(col("src_domain"),
          Urls.resolve(col("eff"),
            regexp_extract(col("m"), anchorPat, 1)).as("resolved"),
          regexp_extract(col("m"), anchorPat, 2).as("anchor"))
        .select(col("src_domain"),
          Urls.pctDecode(col("resolved")).as("dec"), col("anchor"))
        .select(col("src_domain"),
          Urls.canonicalizeDecoded(col("dec")).as("dst_canon"),
          col("anchor"))
        .groupBy("dst_canon")
        .agg(big(count(lit(1))).as("n_refs"),
          big(countDistinct(col("src_domain"))).as("n_src_domains"),
          array_join(array_sort(collect_set(col("anchor"))), "|")
            .as("anchors")),
      "dst_canon")
  }

  /** op322: dot-segment path normalization (RFC 3986 §5.2.4) — the
    * LAST Urls hook closed: three spellings of the same page
    * ("/p/K/v", "/p/K/./v", "/p/K/extra/../v") must normalize to one
    * path and dedup together, the op307 keep-min convention at path
    * grain. Normalization is the bounded [[Urls.removeDotSegments]]
    * fold, exactly mirrored in the oracle from the same rule table at
    * the same bound. Map-only until the one canonical-path dedup
    * shuffle. */
  val op322DotSegments: Q = (s, d) => {
    val rawPath = concat(lit("/p/"), (col("doc_id") % 7).cast("string"),
      when(col("doc_id") % 3 === 0, lit("/extra/../v"))
        .when(col("doc_id") % 3 === 1, lit("/./v"))
        .otherwise(lit("/v")))
    val p = Tables.documents(s, d).select(col("doc_id"),
      rawPath.as("raw_path"),
      Urls.removeDotSegments(rawPath).as("norm_path"))
    val canon = p.groupBy("norm_path").agg(min("doc_id").as("canon_id"))
    ordered(
      p.join(canon, "norm_path")
        .select(col("doc_id"), col("raw_path"), col("norm_path"),
          big(col("canon_id")).as("canon_id"),
          when(col("doc_id") =!= col("canon_id"), 1L).otherwise(0L)
            .as("is_dup")),
      "doc_id")
  }

  /** op323: RELATIVE-URL resolution (RFC 3986 §5.2) on the oracle
    * path — the crawl hook between anchor extraction and
    * canonicalization ([[Urls.resolve]], r15 verdict item: real crawl
    * anchors are mostly relative). Each document's page URL is the
    * base; the synthesized href cycles through every reference form a
    * page emits — absolute, protocol-relative, absolute-path with dot
    * segments, `../` and `./` relatives, query-only, empty — and the
    * op emits the resolved absolute URL plus its canonical form, so
    * the gate covers resolve ∘ canonicalize exactly as op319/op321
    * consume it. r16 (verdict item 3): the fixture grows BASE-OVERRIDE
    * rows — an HTML `<base href>` changes the resolution base, so the
    * effective base is the base href resolved against the page URL
    * (ids %5=3 carry a RELATIVE base href — itself a reference — and
    * ids %5=4 an absolute one, cross-cutting all seven href forms),
    * exactly the [[Urls.effectiveBase]] composition op319/op321 now
    * apply per page. Map-only (resolution is one row-local expression
    * chain); the ORDER BY is the only shuffle — at 100 TB the resolver
    * adds zero exchanges to the extraction stage. */
  val op323UrlResolve: Q = (s, d) => {
    val id = col("doc_id")
    val href =
      when(id % 7 === 0, urlFor(id + 5))
        .when(id % 7 === 1,
          concat(lit("//m"), (id % 4).cast("string"), lit(".example"),
            (id % 5).cast("string"), lit(".com/mirror/"),
            (id % 3).cast("string")))
        .when(id % 7 === 2,
          concat(lit("/p/"), (id % 7).cast("string"), lit("/x/../v?id="),
            (id % 5).cast("string")))
        .when(id % 7 === 3, concat(lit("../up"), (id % 5).cast("string")))
        .when(id % 7 === 4,
          concat(lit("./a"), (id % 3).cast("string"), lit("/b/../c")))
        .when(id % 7 === 5,
          concat(lit("?id="), (id % 5).cast("string"),
            lit("&utm_campaign=c"), (id % 4).cast("string")))
        .otherwise(lit(""))
    val baseHref =
      when(id % 5 === 3,
        concat(lit("bdir"), (id % 3).cast("string"), lit("/")))
        .when(id % 5 === 4,
          concat(lit("https://base"), (id % 3).cast("string"),
            lit(".example.com/zz/")))
        .otherwise(lit(""))
    // STAGED projections, one expensive intermediate per step: a Column
    // is a TREE, so an inline `eff` would be re-expanded at each of
    // resolve's ~6 base references (and `resolved` again inside
    // canonicalize) — measured 5× slower spelled inline. As separate
    // non-cheap aliases, CollapseProject keeps each computed once.
    ordered(
      Tables.documents(s, d)
        .select(col("doc_id"), baseHref.as("base_href"), href.as("href"),
          urlOf.as("url"))
        .select(col("doc_id"), col("base_href"), col("href"),
          Urls.effectiveBase(col("url"), col("base_href")).as("eff"))
        .select(col("doc_id"), col("base_href"), col("href"),
          Urls.resolve(col("eff"), col("href")).as("resolved"))
        .select(col("doc_id"), col("base_href"), col("href"),
          col("resolved"), Urls.pctDecode(col("resolved")).as("dec"))
        .select(col("doc_id"), col("base_href"), col("href"),
          col("resolved"),
          Urls.canonicalizeDecoded(col("dec")).as("url_canon")),
      "doc_id")
  }

  /** Shared robots.txt synthesis per registered domain — ONE builder
    * pair (Spark Column / DuckDB SQL) so op324 and op325 cannot drift
    * from each other or across engines. Each `exampleK.com` publishes
    * the op311 rule pair for its digit plus a Crawl-delay line cycling
    * through the real-world edge shapes: present (90/60), ABSENT
    * (k=1 — the parser's default fires), MALFORMED (`fast`, k=2 —
    * digits-only parse falls to the default), and a case/spacing
    * variant (`crawl-delay:45`, k=4). */
  private def robotsTxtFor(domain: Column): Column = {
    val k = ascii(substring(domain, 8, 1)) - lit(48)
    concat(
      lit("User-agent: *\nDisallow: /p/\nAllow: /p/"),
      substring(domain, 8, 1), lit("\n"),
      when(k === 0, lit("Crawl-delay: 90\n"))
        .when(k === 1, lit(""))
        .when(k === 2, lit("Crawl-delay: fast\n"))
        .when(k === 3, lit("Crawl-delay: 60\n"))
        .otherwise(lit("crawl-delay:45\n")))
  }

  /** [[robotsTxtFor]]'s DuckDB twin over a domain SQL expression. */
  private def robotsTxtSql(e: String): String =
    s"('User-agent: *' || chr(10) || 'Disallow: /p/' || chr(10) || " +
      s"'Allow: /p/' || substr($e, 8, 1) || chr(10) || " +
      s"(CASE (ascii(substr($e, 8, 1)) - 48) " +
      s"WHEN 0 THEN 'Crawl-delay: 90' || chr(10) " +
      s"WHEN 1 THEN '' " +
      s"WHEN 2 THEN 'Crawl-delay: fast' || chr(10) " +
      s"WHEN 3 THEN 'Crawl-delay: 60' || chr(10) " +
      s"ELSE 'crawl-delay:45' || chr(10) END))"

  /** op325: robots `Crawl-delay` PARSING on the oracle path (r16,
    * verdict item 4) — the step between fetching a domain's robots.txt
    * and feeding op324's politeness gate: the delay comes out of the
    * robots TEXT ([[graft.functions.Robots.crawlDelay]], one codegen'd
    * regexp pass), never a side-channel formula. The synthesized texts
    * cover present / absent / malformed / case-and-spacing-variant
    * delay lines, so the default-fallback path is oracle-gated, not
    * just spec'd. Map-only; the ORDER BY is the only shuffle — robots
    * metadata parsing adds zero exchanges at 100 TB (per-domain texts
    * are parsed once and broadcast in a real frontier; here the parse
    * rides per-row to gate the expression itself). */
  val op325RobotsCrawlDelay: Q = (s, d) => {
    import graft.functions.Robots
    ordered(
      Tables.documents(s, d)
        .select(col("doc_id"),
          Urls.registeredDomain(Urls.canonicalHost(urlOf)).as("domain"))
        .select(col("doc_id"), col("domain"),
          robotsTxtFor(col("domain")).as("robots_txt"))
        .select(col("doc_id"), col("domain"),
          big(Robots.crawlDelay(col("robots_txt"))).as("crawl_delay_s"),
          when(regexp_extract(col("robots_txt"),
            Robots.crawlDelayPattern, 1) =!= "", 1L).otherwise(0L)
            .as("has_delay")),
      "doc_id")
  }

  /** op326: SITEMAP extraction (r16) — the third leg of the crawl's
    * per-site metadata triangle beside robots rules (op311/op325) and
    * the page-level anchor graph (op319/op321): each site's sitemap
    * XML yields (loc, lastmod, priority) seed URLs for the frontier.
    * The synthesized sitemap carries the real-world shapes: an
    * absolute `<loc>` in a collision-rich spelling (www/port/case —
    * canonicalization must collapse it), a RELATIVE loc (spec-illegal
    * but common; resolves against the site root through the op323
    * resolver), an entry with no lastmod and no priority (both emit ''
    * — never NULL, so the grain stays string-typed cross-engine).
    * Extraction is one full-match regex pass per sitemap + per-entry
    * field re-extraction, exactly op321's anchor shape: map-only,
    * explode, no shuffle but the ORDER BY. 100 TB: sitemaps are one
    * small file per SITE (a dimension relative to the corpus) — this
    * stage's cost is the page-fetch edge's, not the corpus scan's. */
  val op326SitemapExtract: Q = (s, d) => {
    val id = col("doc_id")
    val root = concat(lit("https://"),
      when(id % 3 === 0, lit("www.")).otherwise(lit("")),
      lit("site"), (id % 13).cast("string"),
      lit(".example"), (id % 5).cast("string"), lit(".com/"))
    val xml = concat(
      lit("<?xml version=\"1.0\"?><urlset><url><loc>https://"),
      when(id % 7 === 0, lit("Site")).otherwise(lit("site")),
      (id % 13).cast("string"), lit(".example"), (id % 5).cast("string"),
      lit(".com:443/p/"), (id % 7).cast("string"),
      lit("~v</loc><lastmod>2024-01-"),
      lpad((id % 28 + 1).cast("string"), 2, "0"),
      lit("</lastmod><priority>0."), (id % 9).cast("string"),
      lit("</priority></url><url><loc>rel/"), (id % 11).cast("string"),
      lit("</loc><lastmod>2024-02-"),
      lpad((id % 28 + 1).cast("string"), 2, "0"),
      lit("</lastmod></url><url><loc>/top/"), (id % 6).cast("string"),
      lit("</loc></url></urlset>"))
    val entryPat = "(?is)<url>(.*?)</url>"
    ordered(
      Tables.documents(s, d)
        .select(id, root.as("root"), xml.as("xml"))
        .select(id, col("root"),
          explode(regexp_extract_all(col("xml"), lit(entryPat), lit(1)))
            .as("entry"))
        .select(id, col("root"),
          regexp_extract(col("entry"), "(?is)<loc>(.*?)</loc>", 1)
            .as("loc"),
          regexp_extract(col("entry"), "(?is)<lastmod>(.*?)</lastmod>", 1)
            .as("lastmod"),
          regexp_extract(col("entry"), "(?is)<priority>(.*?)</priority>", 1)
            .as("priority"))
        .select(id, Urls.resolve(col("root"), col("loc")).as("resolved"),
          col("lastmod"), col("priority"))
        .select(id, Urls.pctDecode(col("resolved")).as("dec"),
          col("lastmod"), col("priority"))
        .select(id, Urls.canonicalizeDecoded(col("dec")).as("url_canon"),
          col("lastmod"), col("priority")),
      "doc_id", "url_canon")
  }

  /** op327: REDIRECT-CHAIN resolution (r16) — the crawl bookkeeping
    * step between fetching and indexing: a URL that 301s must index
    * under its FINAL target, with chains followed to a bound. The
    * redirect map is synthesized at canonical-URL grain (multiples of
    * 3 redirect; +1/+2 steps by residue so chains of length 0..4+
    * arise, strictly increasing so the fixture is acyclic — a 2-cycle
    * is spec'd in WebSpec where the bound proves it terminates).
    * Resolution is POINTER DOUBLING, not per-hop iteration: 2
    * composition joins cover 4 hops (log₂ of the bound), each a
    * self-equi-join of the corpus-scale map — the 100 TB shape, since
    * a per-hop loop would pay k shuffles for k hops where doubling
    * pays log₂k. Emits (url_canon, final_url, n_hops, resolved flag:
    * 0 when the bound was hit with redirects remaining). Oracle: the
    * same map walked by a bounded recursive CTE. */
  val op327RedirectChains: Q = (s, d) => {
    val id = col("doc_id")
    // staged decode (r16): the canonicalization references its decoded
    // arg 4x — bind the decode trees as attributes first
    val urls = Tables.documents(s, d)
      .select(id, Urls.pctDecode(urlOf).as("dec"))
      .select(id, Urls.canonicalizeDecoded(col("dec")).as("url"))
    // redirect rule by residue: r0 -> +1, r3 -> +2, r6 -> +3 (mod 9);
    // targets key the SAME canonical space, so chains compose
    val dstDec =
      when(id % 9 === 0, Urls.pctDecode(urlFor(id + 1)))
        .when(id % 9 === 3, Urls.pctDecode(urlFor(id + 2)))
        .when(id % 9 === 6, Urls.pctDecode(urlFor(id + 3)))
    val redirects = Tables.documents(s, d)
      .select(Urls.pctDecode(urlOf).as("s_dec"), dstDec.as("d_dec"))
      .select(Urls.canonicalizeDecoded(col("s_dec")).as("src"),
        when(col("d_dec").isNull, lit(null).cast("string"))
          .otherwise(Urls.canonicalizeDecoded(col("d_dec"))).as("dst"))
      .filter(col("dst").isNotNull)
      // one canonical URL can be synthesized by many doc_ids (the
      // collision-rich spelling) — the map must be a FUNCTION: keep
      // the minimum target per source (deterministic, both engines)
      .groupBy("src").agg(min("dst").as("dst"))
    ordered(redirectResolve(urls, redirects), "doc_id")
  }

  /** Pointer-doubling redirect resolution — op327's engine, factored
    * so WebSpec can drive the edges the fixture's acyclic canonical
    * space never produces (a 2-cycle, a chain past the bound):
    * `doublings` compositions follow up to 2^doublings hops; a URL
    * whose final target STILL has an outgoing edge (bound hit —
    * longer chain or cycle) reports resolved=0. `urls`(doc_id, url),
    * `redirects`(src, dst — a function: one dst per src) →
    * (doc_id, url, final_url, n_hops, resolved). */
  private[graft] def redirectResolve(urls: DataFrame,
      redirects: DataFrame, doublings: Int = 2): DataFrame = {
    var f = redirects.select(col("src"), col("dst").as("cur"),
      lit(1L).as("hops"))
    for (_ <- 1 to doublings) {
      val g = f.select(col("src").as("g_src"), col("cur").as("g_cur"),
        col("hops").as("g_hops"))
      f = f.join(g, f("cur") === col("g_src"), "left")
        .select(f("src"),
          coalesce(col("g_cur"), f("cur")).as("cur"),
          (f("hops") + coalesce(col("g_hops"), lit(0L))).as("hops"))
    }
    val stillRedirects = redirects.select(col("src").as("open"))
    urls.join(f, urls("url") === f("src"), "left")
      .select(col("doc_id"), col("url"),
        coalesce(col("cur"), col("url")).as("final_url"),
        coalesce(col("hops"), lit(0L)).as("n_hops"))
      .join(stillRedirects, col("final_url") === col("open"), "left")
      .select(col("doc_id"), col("url"), col("final_url"),
        big(col("n_hops")).as("n_hops"),
        when(col("open").isNull, 1L).otherwise(0L).as("resolved"))
  }

  /** op328: WARC response-record parsing (r16) — the storage format a
    * crawl actually lands in (and what a pretraining pipeline reads
    * back out): WARC headers → HTTP status line → HTTP headers → body,
    * each CRLF-framed. The synthesized records cycle the real shapes:
    * 200 text/html with a charset parameter, 301 with a RELATIVE
    * `Location:` header (which must resolve against the TARGET-URI —
    * the op323 resolver again, at the HTTP layer this time), and 404
    * text/plain. Emits the parsed envelope (canonical target, status,
    * media type, charset with the header-absent default) plus the
    * extracted body text length for 200s and the canonical redirect
    * target for 301s. Pure-Column regex chain over one row — map-only
    * like op310; at 100 TB this is the WARC-scan stage's per-record
    * work, and the schema it lands is the corpus table every
    * downstream op in this engine consumes. */
  val op328WarcParse: Q = (s, d) => {
    val id = col("doc_id")
    val crlf = "\r\n"
    val status =
      when(id % 13 === 5, lit("301 Moved Permanently"))
        .when(id % 13 === 9, lit("404 Not Found"))
        .otherwise(lit("200 OK"))
    val httpHeaders =
      when(id % 13 === 5,
        concat(lit("Content-Type: text/html" + crlf + "Location: /moved/"),
          (id % 7).cast("string")))
        .when(id % 13 === 9, lit("Content-Type: text/plain"))
        .otherwise(
          when(id % 2 === 0,
            lit("Content-Type: text/html; charset=iso-8859-1"))
            .otherwise(lit("Content-Type: text/html")))
    val body =
      when(id % 13 === 9, lit("not found"))
        .otherwise(concat(lit("<html><body><p>Doc "), id.cast("string"),
          lit(" says "),
          call_function("replace", col("text"), lit("the"), lit("<b>the</b>")),
          lit("</p></body></html>")))
    val record = concat(
      lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf +
        "WARC-Target-URI: "), urlOf,
      lit(crlf + "WARC-Date: 2024-01-"),
      lpad((id % 28 + 1).cast("string"), 2, "0"),
      lit("T"), lpad((id % 24).cast("string"), 2, "0"),
      lit(":00:00Z" + crlf + crlf + "HTTP/1.1 "), status, lit(crlf),
      httpHeaders, lit(crlf + crlf), body)
    ordered(
      Tables.documents(s, d)
        .select(id, record.as("rec"))
        .select(id, col("rec"),
          regexp_extract(col("rec"),
            "(?i)WARC-Target-URI: ([^\\r\\n]+)", 1).as("target"),
          regexp_extract(col("rec"),
            "(?i)WARC-Date: ([^\\r\\n]+)", 1).as("warc_date"),
          regexp_extract(col("rec"), "HTTP/1\\.1 ([0-9]{3})", 1)
            .cast("long").as("status"),
          regexp_extract(col("rec"),
            "(?im)^Content-Type:[ \\t]*([^;\\r\\n]+)", 1).as("media_type"),
          regexp_extract(col("rec"),
            "(?im)^Content-Type:[^\\r\\n]*charset=([^;\\r\\n ]+)", 1)
            .as("cs_raw"),
          regexp_extract(col("rec"),
            "(?im)^Location:[ \\t]*([^\\r\\n]+)", 1).as("loc"),
          // body = everything after the blank line that ends the HTTP
          // headers (the SECOND CRLFCRLF — the first ends the WARC
          // block); non-greedy head match takes the first two frames
          regexp_extract(col("rec"),
            "(?s)\\r\\n\\r\\n.*?\\r\\n\\r\\n(.*)$", 1).as("body"))
        .select(id, col("status"), col("media_type"), col("cs_raw"),
          col("warc_date"), col("body"),
          Urls.pctDecode(col("target")).as("t_dec"),
          when(col("loc") === "", lit(""))
            .otherwise(Urls.pctDecode(
              Urls.resolve(col("target"), col("loc")))).as("r_dec"))
        .select(id,
          Urls.canonicalizeDecoded(col("t_dec")).as("url_canon"),
          col("warc_date"), col("status"), col("media_type"),
          when(col("cs_raw") === "", lit("utf-8")).otherwise(col("cs_raw"))
            .as("charset"),
          when(col("r_dec") === "", lit(""))
            .otherwise(Urls.canonicalizeDecoded(col("r_dec")))
            .as("redirect_canon"),
          when(col("status") === 200,
            big(length(graft.functions.Html.extract(col("body")))))
            .otherwise(lit(0L)).as("n_body_chars")),
      "doc_id")
  }

  /** op329: politeness-aware RE-FETCH schedule (r16) — the frontier
    * composition the three per-site metadata legs exist FOR: op326's
    * sitemap entries (what to fetch, how fresh, how important) ranked
    * per registered domain by (priority desc, lastmod desc, url) and
    * laid out on the domain's fetch timeline at one slot per
    * Crawl-delay (op325's parsed robots value — absent/malformed
    * default included). One window shuffle per domain partition;
    * everything else is the map-only extraction/parse chains already
    * oracle-gated piecewise — this op gates their COMPOSITION. 100 TB:
    * the schedule is per-site metadata work (sitemap entries x
    * domains), a dimension stage beside the corpus scan. */
  val op329RefetchSchedule: Q = (s, d) => {
    import graft.functions.Robots
    import org.apache.spark.sql.expressions.Window
    val id = col("doc_id")
    val root = concat(lit("https://"),
      when(id % 3 === 0, lit("www.")).otherwise(lit("")),
      lit("site"), (id % 13).cast("string"),
      lit(".example"), (id % 5).cast("string"), lit(".com/"))
    val xml = concat(
      lit("<?xml version=\"1.0\"?><urlset><url><loc>https://"),
      when(id % 7 === 0, lit("Site")).otherwise(lit("site")),
      (id % 13).cast("string"), lit(".example"), (id % 5).cast("string"),
      lit(".com:443/p/"), (id % 7).cast("string"),
      lit("~v</loc><lastmod>2024-01-"),
      lpad((id % 28 + 1).cast("string"), 2, "0"),
      lit("</lastmod><priority>0."), (id % 9).cast("string"),
      lit("</priority></url><url><loc>rel/"), (id % 11).cast("string"),
      lit("</loc><lastmod>2024-02-"),
      lpad((id % 28 + 1).cast("string"), 2, "0"),
      lit("</lastmod></url><url><loc>/top/"), (id % 6).cast("string"),
      lit("</loc></url></urlset>"))
    val entryPat = "(?is)<url>(.*?)</url>"
    val entries = Tables.documents(s, d)
      .select(id, root.as("root"), xml.as("xml"))
      .select(id, col("root"),
        explode(regexp_extract_all(col("xml"), lit(entryPat), lit(1)))
          .as("entry"))
      .select(id, col("root"),
        regexp_extract(col("entry"), "(?is)<loc>(.*?)</loc>", 1).as("loc"),
        regexp_extract(col("entry"), "(?is)<lastmod>(.*?)</lastmod>", 1)
          .as("lastmod"),
        regexp_extract(col("entry"), "(?is)<priority>(.*?)</priority>", 1)
          .as("priority"))
      .select(id, Urls.resolve(col("root"), col("loc")).as("resolved"),
        col("lastmod"), col("priority"))
      .select(Urls.pctDecode(col("resolved")).as("dec"),
        col("lastmod"), col("priority"))
      .select(Urls.canonicalizeDecoded(col("dec")).as("url_canon"),
        col("lastmod"), col("priority"))
      // one schedule slot per distinct URL: keep the best evidence per
      // canonical (max priority, then freshest lastmod — both engines)
      .groupBy("url_canon")
      .agg(max(col("priority")).as("priority"),
        max(col("lastmod")).as("lastmod"))
    val keyed = entries
      .select(col("url_canon"), col("lastmod"), col("priority"),
        Urls.registeredDomain(Urls.canonicalHost(col("url_canon")))
          .as("domain"))
      .select(col("*"),
        Robots.crawlDelay(robotsTxtFor(col("domain"))).as("delay_s"),
        when(col("priority") === "", lit(-1L))
          .otherwise(regexp_extract(col("priority"), "0\\.([0-9])", 1)
            .cast("long")).as("p_num"))
    val w = Window.partitionBy(col("domain"))
      .orderBy(col("p_num").desc, col("lastmod").desc, col("url_canon"))
    ordered(
      keyed.select(col("domain"), col("url_canon"), col("lastmod"),
        col("p_num"),
        row_number().over(w).cast("bigint").as("fetch_seq"),
        ((row_number().over(w) - 1).cast("bigint") * col("delay_s"))
          .as("sched_s")),
      "domain", "fetch_seq")
  }

  /** op324: STREAMING crawl politeness — the robots `Crawl-delay`
    * semantics ([[graft.streaming.Politeness]]): per registered
    * domain, consecutive admitted fetches must sit ≥ the domain's
    * Crawl-delay apart in event time; closer ones drop. The delay is
    * PER-DOMAIN metadata PARSED from the domain's robots.txt (r16,
    * verdict item 4 — [[graft.functions.Robots.crawlDelay]] over the
    * shared [[robotsTxtFor]] synthesis, replacing r15's synthetic
    * digit formula): resolved map-side and riding the row, the op316
    * robots-verdict pattern, so the stateful stage stays join-free —
    * a real frontier compiles the same delay once per domain
    * ([[graft.functions.Robots.compile]]) and broadcasts it with the
    * allow verdict. Absent/malformed delay lines fall to the 30 s
    * default (oracle-gated here AND in op325). Fetch times are
    * deterministic (doc_id·37 mod 1009 seconds — pseudo-random within
    * a ~17-minute window, so each domain admits a nontrivial greedy
    * subsequence). The fixture drains in one batch where the processor
    * folds arrivals in (fetch_s, doc_id) order, so the oracle replays
    * the greedy spacing walk as a per-domain RECURSIVE chain over the
    * event-ordered sequence; cross-trigger spacing (state carrying
    * the last admitted second between triggers, late arrivals
    * rejected against it) is pinned in WebSpec with controlled
    * arrivals. State: two longs per domain — [[DomainQuota]]'s class. */
  val op324StreamPoliteness: Q = (s, d) => {
    import graft.functions.Robots
    import graft.streaming.{Politeness, StateStores}
    val admitted = Drain.files(s, d, "op324", "documents", "append",
        Drain.width("8") ++ StateStores.rocksDbConf) { st =>
      import st.sparkSession.implicits._
      Politeness.admitted(
        st.select(col("doc_id"),
            Urls.registeredDomain(Urls.canonicalHost(urlOf))
              .as("domain"),
            ((col("doc_id") * 37L) % 1009L).as("fetch_s"))
          .select(col("doc_id"), col("domain"), col("fetch_s"),
            Robots.crawlDelay(robotsTxtFor(col("domain")))
              .as("delay_s"))
          .as[Politeness.Fetch]).toDF()
    }
    ordered(
      admitted.select(col("doc_id"), col("domain"),
        big(col("fetch_s")).as("fetch_s"),
        big(col("admit_seq")).as("admit_seq")),
      "doc_id")
  }

  val defs: Map[String, Q] = Map(
    "op307_url_canonical" -> op307UrlCanonical,
    "op308_domain_caps" -> op308DomainCaps,
    "op309_stream_domain_quota" -> op309StreamDomainQuota,
    "op310_html_extract" -> op310HtmlExtract,
    "op311_robots_gate" -> op311RobotsGate,
    "op315_stream_url_admission" -> op315StreamUrlAdmission,
    "op316_stream_ingest_gate" -> op316IngestGate,
    "op317_registered_domain_psl" -> op317RegisteredDomainPsl,
    "op318_main_content" -> op318MainContent,
    "op319_link_graph" -> op319LinkGraph,
    "op320_page_rank" -> op320PageRank,
    "op321_anchor_text" -> op321AnchorText,
    "op322_dot_segments" -> op322DotSegments,
    "op323_url_resolve" -> op323UrlResolve,
    "op324_stream_politeness" -> op324StreamPoliteness,
    "op325_robots_crawl_delay" -> op325RobotsCrawlDelay,
    "op326_sitemap_extract" -> op326SitemapExtract,
    "op327_redirect_chains" -> op327RedirectChains,
    "op328_warc_parse" -> op328WarcParse,
    "op329_refetch_schedule" -> op329RefetchSchedule)

  val oracle: Map[String, String] = Map(
    // op328: the same WARC synthesis (CRLF = chr(13)||chr(10)), parsed
    // by the same header regexes; the relative Location resolves
    // against the Target-URI through the generated resolveSql twin and
    // the 200-body length runs the shared htmlExtractSql chain
    "op328_warc_parse" ->
      s"""WITH crlf AS (SELECT chr(13) || chr(10) AS c),
        |pg AS (
        |  SELECT doc_id,
        |    'WARC/1.0' || c || 'WARC-Type: response' || c ||
        |    'WARC-Target-URI: ' || ${urlSql("doc_id")} || c ||
        |    'WARC-Date: 2024-01-' ||
        |    lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || 'T' ||
        |    lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':00:00Z' ||
        |    c || c || 'HTTP/1.1 ' ||
        |    (CASE WHEN doc_id % 13 = 5 THEN '301 Moved Permanently'
        |     WHEN doc_id % 13 = 9 THEN '404 Not Found'
        |     ELSE '200 OK' END) || c ||
        |    (CASE WHEN doc_id % 13 = 5 THEN 'Content-Type: text/html'
        |       || c || 'Location: /moved/' || CAST(doc_id % 7 AS VARCHAR)
        |     WHEN doc_id % 13 = 9 THEN 'Content-Type: text/plain'
        |     WHEN doc_id % 2 = 0
        |       THEN 'Content-Type: text/html; charset=iso-8859-1'
        |     ELSE 'Content-Type: text/html' END) || c || c ||
        |    (CASE WHEN doc_id % 13 = 9 THEN 'not found'
        |     ELSE '<html><body><p>Doc ' || CAST(doc_id AS VARCHAR) ||
        |       ' says ' || replace(text, 'the', '<b>the</b>') ||
        |       '</p></body></html>' END) AS rec
        |  FROM documents, crlf),
        |hx AS (
        |  SELECT doc_id,
        |    regexp_extract(rec, '(?i)WARC-Target-URI: ([^\r\n]+)', 1)
        |      AS target,
        |    regexp_extract(rec, '(?i)WARC-Date: ([^\r\n]+)', 1)
        |      AS warc_date,
        |    CAST(regexp_extract(rec, 'HTTP/1\\.1 ([0-9]{3})', 1)
        |      AS BIGINT) AS status,
        |    regexp_extract(rec, '(?im)^Content-Type:[ \t]*([^;\r\n]+)', 1)
        |      AS media_type,
        |    regexp_extract(rec,
        |      '(?im)^Content-Type:[^\r\n]*charset=([^;\r\n ]+)', 1)
        |      AS cs_raw,
        |    regexp_extract(rec, '(?im)^Location:[ \t]*([^\r\n]+)', 1)
        |      AS loc,
        |    regexp_extract(rec, '(?s)\r\n\r\n.*?\r\n\r\n(.*)$$', 1)
        |      AS body
        |  FROM pg),
        |rr AS (
        |  SELECT doc_id, target, warc_date, status, media_type, cs_raw,
        |    loc, body,
        |    CASE WHEN loc = '' THEN ''
        |      ELSE ${Urls.resolveSql("target", "loc")} END AS redirect
        |  FROM hx),
        |cd AS (
        |  SELECT doc_id, warc_date, status, media_type, cs_raw, body,
        |    ${Urls.pctDecodeSql("target")} AS t_d,
        |    ${Urls.pctDecodeSql("redirect")} AS r_d
        |  FROM rr),
        |cq AS (
        |  SELECT doc_id, warc_date, status, media_type, cs_raw, body,
        |    t_d, r_d, ${querySql("t_d")} AS tq, ${querySql("r_d")} AS rq2
        |  FROM cd)
        |SELECT doc_id,
        |  'https://' || ${canonicalHostSql("t_d")} || ${pathSql("t_d")} ||
        |    CASE WHEN tq = '' THEN '' ELSE '?' || tq END AS url_canon,
        |  warc_date, status, media_type,
        |  CASE WHEN cs_raw = '' THEN 'utf-8' ELSE cs_raw END AS charset,
        |  CASE WHEN r_d = '' THEN '' ELSE
        |    'https://' || ${canonicalHostSql("r_d")} || ${pathSql("r_d")} ||
        |    CASE WHEN rq2 = '' THEN '' ELSE '?' || rq2 END END
        |    AS redirect_canon,
        |  CAST(CASE WHEN status = 200
        |    THEN length(${htmlExtractSql("body")}) ELSE 0 END AS BIGINT)
        |    AS n_body_chars
        |FROM cq ORDER BY doc_id""".stripMargin,
    // op329: the op326 entry chain + best-evidence per canonical, then
    // the per-domain (priority desc, lastmod desc) window laid out at
    // one slot per parsed Crawl-delay — the composed frontier schedule
    "op329_refetch_schedule" ->
      s"""WITH pg AS (
        |  SELECT doc_id,
        |    'https://' || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
        |    || 'site' || CAST(doc_id % 13 AS VARCHAR) || '.example'
        |    || CAST(doc_id % 5 AS VARCHAR) || '.com/' AS root,
        |    '<?xml version="1.0"?><urlset><url><loc>https://' ||
        |    (CASE WHEN doc_id % 7 = 0 THEN 'Site' ELSE 'site' END) ||
        |    CAST(doc_id % 13 AS VARCHAR) || '.example' ||
        |    CAST(doc_id % 5 AS VARCHAR) || '.com:443/p/' ||
        |    CAST(doc_id % 7 AS VARCHAR) || '~v</loc><lastmod>2024-01-' ||
        |    lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
        |    '</lastmod><priority>0.' || CAST(doc_id % 9 AS VARCHAR) ||
        |    '</priority></url><url><loc>rel/' ||
        |    CAST(doc_id % 11 AS VARCHAR) || '</loc><lastmod>2024-02-' ||
        |    lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
        |    '</lastmod></url><url><loc>/top/' ||
        |    CAST(doc_id % 6 AS VARCHAR) ||
        |    '</loc></url></urlset>' AS xml
        |  FROM documents),
        |en AS (
        |  SELECT doc_id, root,
        |    regexp_extract(e.entry, '(?is)<loc>(.*?)</loc>', 1) AS loc,
        |    regexp_extract(e.entry, '(?is)<lastmod>(.*?)</lastmod>', 1)
        |      AS lastmod,
        |    regexp_extract(e.entry, '(?is)<priority>(.*?)</priority>', 1)
        |      AS priority
        |  FROM pg, UNNEST(regexp_extract_all(xml,
        |    '(?is)<url>(.*?)</url>', 1)) AS e(entry)),
        |rs AS (
        |  SELECT lastmod, priority,
        |    ${Urls.resolveSql("root", "loc")} AS resolved
        |  FROM en),
        |rd AS (
        |  SELECT lastmod, priority, ${Urls.pctDecodeSql("resolved")} AS dec
        |  FROM rs),
        |rq AS (
        |  SELECT lastmod, priority, dec, ${querySql("dec")} AS qq
        |  FROM rd),
        |cu AS (
        |  SELECT
        |    'https://' || ${canonicalHostSql("dec")} || ${pathSql("dec")} ||
        |    CASE WHEN qq = '' THEN '' ELSE '?' || qq END AS url_canon,
        |    max(priority) AS priority, max(lastmod) AS lastmod
        |  FROM rq GROUP BY 1),
        |ky AS (
        |  SELECT url_canon, lastmod,
        |    ${Urls.registeredDomainPslSql(canonicalHostSql("url_canon"))}
        |      AS domain,
        |    CASE WHEN priority = '' THEN -1
        |      ELSE CAST(regexp_extract(priority, '0\\.([0-9])', 1)
        |        AS BIGINT) END AS p_num
        |  FROM cu),
        |kd AS (
        |  SELECT ky.*, ${graft.functions.Robots.crawlDelaySql(
            robotsTxtSql("domain"))} AS delay_s
        |  FROM ky)
        |SELECT domain, url_canon, lastmod, CAST(p_num AS BIGINT) AS p_num,
        |  CAST(row_number() OVER (PARTITION BY domain
        |    ORDER BY p_num DESC, lastmod DESC, url_canon) AS BIGINT)
        |    AS fetch_seq,
        |  CAST((row_number() OVER (PARTITION BY domain
        |    ORDER BY p_num DESC, lastmod DESC, url_canon) - 1) * delay_s
        |    AS BIGINT) AS sched_s
        |FROM kd ORDER BY domain, fetch_seq""".stripMargin,
    // op326: same sitemap synthesis; entries unnested from the same
    // full-match regex, loc resolved against the site root through the
    // generated resolveSql twin, then the layered canonicalization
    "op326_sitemap_extract" ->
      s"""WITH pg AS (
        |  SELECT doc_id,
        |    'https://' || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
        |    || 'site' || CAST(doc_id % 13 AS VARCHAR) || '.example'
        |    || CAST(doc_id % 5 AS VARCHAR) || '.com/' AS root,
        |    '<?xml version="1.0"?><urlset><url><loc>https://' ||
        |    (CASE WHEN doc_id % 7 = 0 THEN 'Site' ELSE 'site' END) ||
        |    CAST(doc_id % 13 AS VARCHAR) || '.example' ||
        |    CAST(doc_id % 5 AS VARCHAR) || '.com:443/p/' ||
        |    CAST(doc_id % 7 AS VARCHAR) || '~v</loc><lastmod>2024-01-' ||
        |    lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
        |    '</lastmod><priority>0.' || CAST(doc_id % 9 AS VARCHAR) ||
        |    '</priority></url><url><loc>rel/' ||
        |    CAST(doc_id % 11 AS VARCHAR) || '</loc><lastmod>2024-02-' ||
        |    lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
        |    '</lastmod></url><url><loc>/top/' ||
        |    CAST(doc_id % 6 AS VARCHAR) ||
        |    '</loc></url></urlset>' AS xml
        |  FROM documents),
        |en AS (
        |  SELECT doc_id, root,
        |    regexp_extract(e.entry, '(?is)<loc>(.*?)</loc>', 1) AS loc,
        |    regexp_extract(e.entry, '(?is)<lastmod>(.*?)</lastmod>', 1)
        |      AS lastmod,
        |    regexp_extract(e.entry, '(?is)<priority>(.*?)</priority>', 1)
        |      AS priority
        |  FROM pg, UNNEST(regexp_extract_all(xml,
        |    '(?is)<url>(.*?)</url>', 1)) AS e(entry)),
        |rs AS (
        |  SELECT doc_id, lastmod, priority,
        |    ${Urls.resolveSql("root", "loc")} AS resolved
        |  FROM en),
        |rd AS (
        |  SELECT doc_id, lastmod, priority,
        |    ${Urls.pctDecodeSql("resolved")} AS dec
        |  FROM rs),
        |rq AS (
        |  SELECT doc_id, lastmod, priority, dec, ${querySql("dec")} AS qq
        |  FROM rd)
        |SELECT doc_id,
        |  'https://' || ${canonicalHostSql("dec")} || ${pathSql("dec")} ||
        |  CASE WHEN qq = '' THEN '' ELSE '?' || qq END AS url_canon,
        |  lastmod, priority
        |FROM rq ORDER BY doc_id, url_canon""".stripMargin,
    // op327: the same canonical-grain redirect map (min target per
    // source), walked by a BOUNDED recursive CTE — follow-up-to-4-hops
    // is exactly what two pointer-doubling compositions compute
    "op327_redirect_chains" ->
      s"""WITH RECURSIVE base AS (
        |  SELECT doc_id,
        |    ${Urls.pctDecodeSql(urlSql("doc_id"))} AS src_d,
        |    (CASE WHEN doc_id % 9 = 0
        |       THEN ${Urls.pctDecodeSql(urlSql("doc_id + 1"))}
        |     WHEN doc_id % 9 = 3
        |       THEN ${Urls.pctDecodeSql(urlSql("doc_id + 2"))}
        |     WHEN doc_id % 9 = 6
        |       THEN ${Urls.pctDecodeSql(urlSql("doc_id + 3"))}
        |     END) AS dst_d
        |  FROM documents),
        |cq AS (
        |  SELECT doc_id, src_d, dst_d,
        |    ${querySql("src_d")} AS qs, ${querySql("dst_d")} AS qd
        |  FROM base),
        |cc AS (
        |  SELECT doc_id,
        |    'https://' || ${canonicalHostSql("src_d")} || ${pathSql("src_d")} ||
        |      CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS url,
        |    CASE WHEN dst_d IS NULL THEN NULL ELSE
        |      'https://' || ${canonicalHostSql("dst_d")} || ${pathSql("dst_d")} ||
        |      CASE WHEN qd = '' THEN '' ELSE '?' || qd END END AS dst
        |  FROM cq),
        |red AS (
        |  SELECT url AS src, min(dst) AS dst FROM cc
        |  WHERE dst IS NOT NULL GROUP BY 1),
        |walk AS (
        |  SELECT url AS start, url AS cur, 0 AS hops
        |  FROM (SELECT DISTINCT url FROM cc)
        |  UNION ALL
        |  SELECT w.start, r.dst, w.hops + 1
        |  FROM walk w JOIN red r ON r.src = w.cur WHERE w.hops < 4),
        |fin AS (
        |  SELECT start, cur AS final_url, hops,
        |         row_number() OVER (PARTITION BY start ORDER BY hops DESC)
        |           AS rn
        |  FROM walk)
        |SELECT c.doc_id, c.url, f.final_url,
        |  CAST(f.hops AS BIGINT) AS n_hops,
        |  CAST(CASE WHEN o.src IS NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS resolved
        |FROM cc c JOIN fin f ON f.start = c.url AND f.rn = 1
        |LEFT JOIN red o ON o.src = f.final_url
        |ORDER BY doc_id""".stripMargin,
    // op325: the same robots-text synthesis, delay parsed by the
    // GENERATED crawlDelaySql twin (same regex, same digits-only
    // malformed fallback, same 30 s default)
    "op325_robots_crawl_delay" ->
      s"""WITH $urlCte,
        |$domainCte,
        |rt AS (
        |  SELECT doc_id, domain, ${robotsTxtSql("domain")} AS robots_txt
        |  FROM h)
        |SELECT doc_id, domain,
        |  CAST(${graft.functions.Robots.crawlDelaySql("robots_txt")}
        |       AS BIGINT) AS crawl_delay_s,
        |  CAST(CASE WHEN regexp_extract(robots_txt,
        |    '(?im)^[ \t]*crawl-delay[ \t]*:[ \t]*([0-9]+)[ \t]*$$', 1)
        |    = '' THEN 0 ELSE 1 END AS BIGINT) AS has_delay
        |FROM rt ORDER BY doc_id""".stripMargin,
    // op324: the greedy spacing walk replayed as a per-domain
    // RECURSIVE chain over the event-ordered arrival sequence (the
    // fold the processor runs) with the domain's own Crawl-delay —
    // r16: PARSED from the synthesized robots text through the
    // generated crawlDelaySql twin — admit_seq re-derived from the
    // admitted subsequence
    "op324_stream_politeness" ->
      s"""WITH RECURSIVE $urlCte,
        |$domainCte,
        |rt AS (
        |  SELECT doc_id, domain, ${robotsTxtSql("domain")} AS robots_txt
        |  FROM h),
        |arr AS (
        |  SELECT doc_id, domain, (doc_id * 37) % 1009 AS fetch_s,
        |         ${graft.functions.Robots.crawlDelaySql("robots_txt")}
        |           AS delay_s,
        |         row_number() OVER (PARTITION BY domain
        |           ORDER BY (doc_id * 37) % 1009, doc_id) AS rn
        |  FROM rt),
        |walk AS (
        |  SELECT domain, rn, doc_id, fetch_s, fetch_s AS last_adm,
        |         TRUE AS admitted
        |  FROM arr WHERE rn = 1
        |  UNION ALL
        |  SELECT a.domain, a.rn, a.doc_id, a.fetch_s,
        |         CASE WHEN a.fetch_s >= w.last_adm + a.delay_s
        |              THEN a.fetch_s ELSE w.last_adm END,
        |         a.fetch_s >= w.last_adm + a.delay_s
        |  FROM walk w JOIN arr a ON a.domain = w.domain AND a.rn = w.rn + 1)
        |SELECT doc_id, domain, CAST(fetch_s AS BIGINT) AS fetch_s,
        |       CAST(row_number() OVER (PARTITION BY domain ORDER BY rn)
        |            AS BIGINT) AS admit_seq
        |FROM walk WHERE admitted ORDER BY doc_id""".stripMargin,
    // op323: same href synthesis; resolution is the GENERATED
    // resolveSql twin (same branch structure, regexes and dot-segment
    // chain as Urls.resolve) against the EFFECTIVE base — the base
    // href resolved against the page URL when present (r16), the page
    // URL otherwise — then the layered canonicalization builders over
    // the resolved URL
    "op323_url_resolve" ->
      s"""WITH $urlCte,
        |rr AS (
        |  SELECT doc_id, url,
        |    (CASE WHEN doc_id % 7 = 0 THEN ${urlSql("doc_id + 5")}
        |     WHEN doc_id % 7 = 1 THEN '//m' || CAST(doc_id % 4 AS VARCHAR)
        |       || '.example' || CAST(doc_id % 5 AS VARCHAR)
        |       || '.com/mirror/' || CAST(doc_id % 3 AS VARCHAR)
        |     WHEN doc_id % 7 = 2 THEN '/p/' || CAST(doc_id % 7 AS VARCHAR)
        |       || '/x/../v?id=' || CAST(doc_id % 5 AS VARCHAR)
        |     WHEN doc_id % 7 = 3 THEN '../up' || CAST(doc_id % 5 AS VARCHAR)
        |     WHEN doc_id % 7 = 4 THEN './a' || CAST(doc_id % 3 AS VARCHAR)
        |       || '/b/../c'
        |     WHEN doc_id % 7 = 5 THEN '?id=' || CAST(doc_id % 5 AS VARCHAR)
        |       || '&utm_campaign=c' || CAST(doc_id % 4 AS VARCHAR)
        |     ELSE '' END) AS href,
        |    (CASE WHEN doc_id % 5 = 3
        |       THEN 'bdir' || CAST(doc_id % 3 AS VARCHAR) || '/'
        |     WHEN doc_id % 5 = 4 THEN 'https://base'
        |       || CAST(doc_id % 3 AS VARCHAR) || '.example.com/zz/'
        |     ELSE '' END) AS base_href
        |  FROM u),
        |re AS (
        |  SELECT doc_id, href, base_href,
        |    ${Urls.effectiveBaseSql("url", "base_href")} AS eff
        |  FROM rr),
        |rs AS (
        |  SELECT doc_id, href, base_href,
        |    ${Urls.resolveSql("eff", "href")} AS resolved
        |  FROM re),
        |rd AS (
        |  SELECT doc_id, href, base_href, resolved,
        |    ${Urls.pctDecodeSql("resolved")} AS dec
        |  FROM rs),
        |rq AS (
        |  SELECT doc_id, href, base_href, resolved, dec,
        |    ${querySql("dec")} AS qq
        |  FROM rd)
        |SELECT doc_id, base_href, href, resolved,
        |  'https://' || ${canonicalHostSql("dec")} || ${pathSql("dec")} ||
        |  CASE WHEN qq = '' THEN '' ELSE '?' || qq END AS url_canon
        |FROM rq ORDER BY doc_id""".stripMargin,
    // op322: same synthesis; normalization chain generated from the
    // SAME rule table and bound as the Spark fold
    "op322_dot_segments" ->
      s"""WITH p AS (
        |  SELECT doc_id,
        |    '/p/' || CAST(doc_id % 7 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '/extra/../v'
        |          WHEN doc_id % 3 = 1 THEN '/./v'
        |          ELSE '/v' END) AS raw_path
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, raw_path,
        |    ${Urls.removeDotSegmentsSql("raw_path")} AS norm_path
        |  FROM p)
        |SELECT a.doc_id, a.raw_path, a.norm_path,
        |       CAST(m.canon_id AS BIGINT) AS canon_id,
        |       CAST(CASE WHEN a.doc_id <> m.canon_id THEN 1 ELSE 0 END
        |            AS BIGINT) AS is_dup
        |FROM n a JOIN (SELECT norm_path, min(doc_id) AS canon_id
        |               FROM n GROUP BY 1) m USING (norm_path)
        |ORDER BY doc_id""".stripMargin,
    // op321: one full-match regex pass per page, per-match href/anchor
    // re-extraction, hrefs RESOLVED against the EFFECTIVE base (r16:
    // the base href resolved against the page URL on <base>-carrying
    // pages, the page URL otherwise; generated resolveSql twin), then
    // target canonicalization through the same layered
    // decode/host/path/query builders as op320
    "op321_anchor_text" ->
      s"""WITH $urlCte,
        |pg AS (
        |  SELECT doc_id, url,
        |    '<html>' ||
        |    (CASE WHEN doc_id % 11 = 0 THEN '<head><base href="/b'
        |       || CAST(doc_id % 3 AS VARCHAR) || '/"></head>'
        |     ELSE '' END) ||
        |    '<body><p>See <a href="' ||
        |    'a/../p' || CAST((doc_id * 7 + 3) % 7 AS VARCHAR) ||
        |    '?id=' || CAST((doc_id * 7 + 3) % 5 AS VARCHAR) ||
        |    '">guide ' || CAST(doc_id % 17 AS VARCHAR) ||
        |    '</a> and <a href="' ||
        |    regexp_replace(${urlSql("doc_id * 5 + 1")}, '^https:', '') ||
        |    '">review ' || CAST(doc_id % 13 AS VARCHAR) ||
        |    '</a>; archive at <a href="' || ${urlSql("doc_id + 13")} ||
        |    '">mirror ' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '</a>.</p></body></html>' AS html,
        |    ${canonicalHostSql("url")} AS src_host
        |  FROM u),
        |pb AS (
        |  SELECT doc_id, url, html, src_host,
        |    regexp_extract(html, '(?is)<base[^>]*href="([^"]*)"', 1)
        |      AS base_href
        |  FROM pg),
        |pe AS (
        |  SELECT doc_id, html, src_host,
        |    ${Urls.effectiveBaseSql("url", "base_href")} AS eff
        |  FROM pb),
        |mm AS (
        |  SELECT eff, ${Urls.registeredDomainPslSql("src_host")} AS src_domain,
        |         um.m AS m
        |  FROM pe, UNNEST(regexp_extract_all(html,
        |    '(?is)<a href="([^"]+)">([^<]*)</a>', 0)) AS um(m)),
        |h0 AS (
        |  SELECT eff, src_domain,
        |    regexp_extract(m, '(?is)<a href="([^"]+)">([^<]*)</a>', 1)
        |      AS href,
        |    regexp_extract(m, '(?is)<a href="([^"]+)">([^<]*)</a>', 2)
        |      AS anchor
        |  FROM mm),
        |a0 AS (
        |  SELECT src_domain, ${Urls.resolveSql("eff", "href")} AS resolved,
        |         anchor
        |  FROM h0),
        |ad AS (
        |  SELECT src_domain, anchor, ${Urls.pctDecodeSql("resolved")} AS href_d
        |  FROM a0),
        |a1 AS (
        |  SELECT src_domain, anchor, href_d, ${querySql("href_d")} AS qd
        |  FROM ad),
        |a AS (
        |  SELECT src_domain, anchor,
        |    'https://' || ${canonicalHostSql("href_d")} || ${pathSql("href_d")} ||
        |    CASE WHEN qd = '' THEN '' ELSE '?' || qd END AS dst_canon
        |  FROM a1)
        |SELECT dst_canon, CAST(count(*) AS BIGINT) AS n_refs,
        |  CAST(count(DISTINCT src_domain) AS BIGINT) AS n_src_domains,
        |  string_agg(DISTINCT anchor, '|' ORDER BY anchor) AS anchors
        |FROM a GROUP BY 1 ORDER BY dst_canon""".stripMargin,
    // op320: canonical-URL edges (decode once per url in `base`, then
    // host/path/query chains per end), symmetrize + dedup, and the
    // SHARED op176 iteration chain (prIterChainSql) — identical
    // integer arithmetic by construction
    "op320_page_rank" ->
      s"""WITH base AS (
        |  SELECT doc_id,
        |    ${Urls.pctDecodeSql(urlSql("doc_id"))} AS src_d,
        |    [${Urls.pctDecodeSql(urlSql("doc_id * 7 + 3"))},
        |     ${Urls.pctDecodeSql(urlSql("doc_id * 5 + 1"))},
        |     ${Urls.pctDecodeSql(urlSql("doc_id + 13"))}] AS dst_ds
        |  FROM documents),
        |q1 AS (
        |  SELECT src_d, u.d AS dst_d,
        |         ${querySql("src_d")} AS qs,
        |         ${querySql("u.d")} AS qd
        |  FROM base, UNNEST(dst_ds) AS u(d)),
        |pairs AS (
        |  SELECT DISTINCT
        |    'https://' || ${canonicalHostSql("src_d")} || ${pathSql("src_d")} ||
        |      CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS a,
        |    'https://' || ${canonicalHostSql("dst_d")} || ${pathSql("dst_d")} ||
        |      CASE WHEN qd = '' THEN '' ELSE '?' || qd END AS b
        |  FROM q1),
        |edges AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT a AS src, b AS dst FROM pairs WHERE a <> b
        |    UNION ALL SELECT b, a FROM pairs WHERE a <> b)),
        |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
        |esd AS (SELECT e.src, e.dst, d.deg FROM edges e
        |        JOIN deg d USING (src)),
        |verts AS (SELECT src AS pk FROM deg),
        |nverts AS (SELECT count(*) AS nv FROM verts),
        |r0 AS (SELECT pk, ${SeqGraphQueries.prScale} // nv AS r
        |       FROM verts CROSS JOIN nverts),
        |${SeqGraphQueries.prIterChainSql}
        |SELECT v.pk AS url_canon, CAST(r.r AS BIGINT) AS rank_ppb,
        |  CAST(d.deg AS BIGINT) AS deg
        |FROM verts v JOIN ${SeqGraphQueries.prFinalCte} r USING (pk)
        |JOIN deg d ON v.pk = d.src
        |ORDER BY url_canon""".stripMargin,
    // op319: same page + href synthesis (relative / protocol-relative /
    // absolute — r15; <base href> on ids %11=0 — r16), hrefs RESOLVED
    // against the EFFECTIVE base (base href resolved against the page
    // URL, else the page URL) through the generated resolveSql twin,
    // then host chain + PSL longest-match per end, self-edges dropped,
    // one grouped count
    "op319_link_graph" ->
      s"""WITH $urlCte,
        |pg AS (
        |  SELECT doc_id, url,
        |    '<html>' ||
        |    (CASE WHEN doc_id % 11 = 0 THEN '<head><base href="/b'
        |       || CAST(doc_id % 3 AS VARCHAR) || '/"></head>'
        |     ELSE '' END) ||
        |    '<body><p>See <a href="' ||
        |    'a/../p' || CAST((doc_id * 7 + 3) % 7 AS VARCHAR) ||
        |    '?id=' || CAST((doc_id * 7 + 3) % 5 AS VARCHAR) ||
        |    '">first</a> and <a href="' ||
        |    regexp_replace(${urlSql("doc_id * 5 + 1")}, '^https:', '') ||
        |    '">second</a>; archive at <a href="' || ${urlSql("doc_id + 13")} ||
        |    '">third</a>.</p></body></html>' AS html,
        |    ${canonicalHostSql("url")} AS src_host
        |  FROM u),
        |pb AS (
        |  SELECT doc_id, url, html, src_host,
        |    regexp_extract(html, '(?is)<base[^>]*href="([^"]*)"', 1)
        |      AS base_href
        |  FROM pg),
        |pe AS (
        |  SELECT doc_id, html, src_host,
        |    ${Urls.effectiveBaseSql("url", "base_href")} AS eff
        |  FROM pb),
        |e AS (
        |  SELECT ${Urls.registeredDomainPslSql("src_host")} AS src_domain,
        |         ${Urls.registeredDomainPslSql("dst_host")} AS dst_domain
        |  FROM (
        |    SELECT src_host, ${canonicalHostSql("resolved")} AS dst_host
        |    FROM (
        |      SELECT src_host, ${Urls.resolveSql("eff", "h.href")} AS resolved
        |      FROM pe, UNNEST(regexp_extract_all(html,
        |        '(?is)<a[^>]+href="([^"]+)"', 1)) AS h(href))))
        |SELECT src_domain, dst_domain,
        |       CAST(count(*) AS BIGINT) AS n_links
        |FROM e WHERE src_domain <> dst_domain
        |GROUP BY 1, 2 ORDER BY src_domain, dst_domain""".stripMargin,
    // op318: the same page wrap; blocks split on the shared boundary,
    // the keep predicate and per-block extraction generated from ONE
    // SQL builder (htmlExtractSql — also op310's chain)
    "op318_main_content" ->
      s"""WITH pg AS (
        |  SELECT doc_id,
        |    '<html><body><div><a href="/">Home</a> <a href="/about">About us</a> <a href="/contact">Contact</a></div><p>'
        |    || text || '</p><h2>Doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</h2><div>Read <a href="/more">much more about this document over here</a></div><div>&copy; 2024 <a href="/privacy">Privacy policy</a> <a href="/terms">Terms of service</a> <a href="/cookies">Cookie settings</a></div></body></html>'
        |      AS html
        |  FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    string_split_regex(html, '(?i)</(?:p|div|li|h[1-6])>') AS blocks
        |  FROM pg)
        |SELECT doc_id,
        |  coalesce(array_to_string(list_transform(list_filter(blocks,
        |    x -> ${keepBlockSql("x")}),
        |    x -> ${htmlExtractSql("x")}), ' '), '') AS main_text,
        |  CAST(len(list_filter(blocks, x -> ${keepBlockSql("x")}))
        |       AS BIGINT) AS n_kept,
        |  CAST(len(blocks) AS BIGINT) AS n_blocks
        |FROM b ORDER BY doc_id""".stripMargin,
    // op317: the same host synthesis, registered domain via the
    // generated CASE chain over the shared PSL slice — all three rule
    // forms (plain / wildcard *.ck / exception !www.ck), bare-suffix
    // hosts on multiples of 7
    "op317_registered_domain_psl" ->
      s"""WITH hh AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 5 = 0 THEN 'x.' ELSE '' END) ||
        |    (CASE WHEN doc_id % 7 = 0 THEN ''
        |     ELSE 'h' || CAST(doc_id % 6 AS VARCHAR) || '.' END) ||
        |    (CASE WHEN doc_id % 6 = 0
        |       THEN 'example' || CAST(doc_id % 3 AS VARCHAR) || '.com'
        |     WHEN doc_id % 6 = 1
        |       THEN 'example' || CAST(doc_id % 3 AS VARCHAR) || '.co.uk'
        |     WHEN doc_id % 6 = 2 THEN 'github.io'
        |     WHEN doc_id % 6 = 3
        |       THEN 'example' || CAST(doc_id % 3 AS VARCHAR) || '.org.uk'
        |     WHEN doc_id % 6 = 4
        |       THEN 'w' || CAST(doc_id % 3 AS VARCHAR) || '.ck'
        |     ELSE 'www.ck'
        |     END) AS host
        |  FROM documents)
        |SELECT doc_id, host,
        |       ${Urls.registeredDomainPslSql("host")} AS domain
        |FROM hh ORDER BY doc_id""".stripMargin,
    "op307_url_canonical" ->
      s"""WITH $urlCte,
        |$canonCte
        |SELECT a.doc_id, a.url_canon,
        |       CAST(m.canon_id AS BIGINT) AS canon_id,
        |       CAST(CASE WHEN a.doc_id <> m.canon_id THEN 1 ELSE 0 END
        |            AS BIGINT) AS is_dup
        |FROM c a JOIN (SELECT url_canon, min(doc_id) AS canon_id
        |               FROM c GROUP BY 1) m USING (url_canon)
        |ORDER BY doc_id""".stripMargin,
    "op308_domain_caps" ->
      s"""WITH $urlCte,
        |$domainCte
        |SELECT domain, rank, doc_id FROM (
        |  SELECT domain, doc_id,
        |         CAST(row_number() OVER (PARTITION BY domain
        |           ORDER BY (doc_id * 48271) % 104729, doc_id) AS BIGINT)
        |           AS rank
        |  FROM h)
        |WHERE rank <= 40 ORDER BY domain, rank""".stripMargin,
    "op309_stream_domain_quota" ->
      s"""WITH $urlCte,
        |$domainCte
        |SELECT doc_id, domain, rn AS admit_seq FROM (
        |  SELECT doc_id, domain,
        |         CAST(row_number() OVER (PARTITION BY domain
        |           ORDER BY doc_id) AS BIGINT) AS rn
        |  FROM h)
        |WHERE rn <= 25 ORDER BY doc_id""".stripMargin,
    // op310: the same page wrap + extraction chain, RE2-spelled
    // (script/style removed as two separate non-greedy patterns — RE2
    // has no backreferences; 'g' flag — DuckDB replaces first-only by
    // default where Spark replaces all); chain generated by the shared
    // htmlExtractSql builder (also op318's per-block extractor)
    "op310_html_extract" ->
      s"""WITH pg AS (
        |  SELECT doc_id,
        |    '<html><head><title>t' || CAST(doc_id AS VARCHAR) ||
        |    '</title><style>p{color:red}</style><script>var x=' ||
        |    CAST(doc_id AS VARCHAR) || ';</script></head><body><h1>Doc &amp; ' ||
        |    CAST(doc_id AS VARCHAR) || '</h1><p>' ||
        |    replace(text, 'the', '<b>the</b>') ||
        |    '</p><div>tail &lt;' || CAST(doc_id AS VARCHAR) ||
        |    '&gt;&nbsp;end</div></body></html>' AS html
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, ${htmlExtractSql("html")} AS body_text
        |  FROM pg)
        |SELECT doc_id, body_text,
        |       CAST(length(body_text) AS BIGINT) AS n_chars
        |FROM x ORDER BY doc_id""".stripMargin,
    // op316: the composed gate — op311's robots decision (g) filters
    // BEFORE op315's admission replay, so disallowed URLs neither
    // appear nor consume quota; the admission equivalence argument is
    // op315's, applied to the gated subset
    "op316_stream_ingest_gate" ->
      s"""WITH $urlCte,
        |$domainCte,
        |$canonCte,
        |r AS (
        |  SELECT 'example' || CAST(t.i AS VARCHAR) || '.com' AS r_domain,
        |         'disallow' AS rule, '/p/' AS prefix
        |  FROM range(4) t(i)
        |  UNION ALL
        |  SELECT 'example' || CAST(t.i AS VARCHAR) || '.com',
        |         'allow', '/p/' || CAST(t.i AS VARCHAR)
        |  FROM range(4) t(i)),
        |g AS (
        |  SELECT doc_id, coalesce(m.a, 1) AS allowed
        |  FROM (
        |    SELECT d.doc_id,
        |           max(CASE WHEN r.rule IS NULL THEN NULL
        |               ELSE struct_pack(l := length(r.prefix),
        |                 a := CASE WHEN r.rule = 'allow' THEN 1 ELSE 0 END)
        |               END) AS m
        |    FROM h d LEFT JOIN r ON r.r_domain = d.domain
        |      AND d.path LIKE r.prefix || '%'
        |    GROUP BY 1)),
        |f AS (
        |  SELECT h.doc_id, h.domain, c.url_canon
        |  FROM h JOIN c USING (doc_id) JOIN g USING (doc_id)
        |  WHERE g.allowed = 1
        |  QUALIFY row_number() OVER (PARTITION BY h.domain, c.url_canon
        |    ORDER BY h.doc_id) = 1)
        |SELECT doc_id, domain, url_canon, rn AS admit_seq FROM (
        |  SELECT doc_id, domain, url_canon,
        |         CAST(row_number() OVER (PARTITION BY domain
        |           ORDER BY doc_id) AS BIGINT) AS rn
        |  FROM f)
        |WHERE rn <= 25 ORDER BY doc_id""".stripMargin,
    // op315: sequential admission ≡ first-occurrence-per-canonical
    // (min doc_id) then per-domain doc_id rank ≤ k — the equivalence
    // holds because non-first rows never consume quota
    "op315_stream_url_admission" ->
      s"""WITH $urlCte,
        |$domainCte,
        |$canonCte,
        |f AS (
        |  SELECT h.doc_id, h.domain, c.url_canon FROM h JOIN c USING (doc_id)
        |  QUALIFY row_number() OVER (PARTITION BY h.domain, c.url_canon
        |    ORDER BY h.doc_id) = 1)
        |SELECT doc_id, domain, url_canon, rn AS admit_seq FROM (
        |  SELECT doc_id, domain, url_canon,
        |         CAST(row_number() OVER (PARTITION BY domain
        |           ORDER BY doc_id) AS BIGINT) AS rn
        |  FROM f)
        |WHERE rn <= 25 ORDER BY doc_id""".stripMargin,
    // rule-less domains (example4.com — rules cover 0-3 only) must
    // aggregate to a NULL struct so the coalesce default-allow fires:
    // the struct is built only when a rule matched, mirroring the
    // Spark side's when(isNotNull) guard
    "op311_robots_gate" ->
      s"""WITH $urlCte,
        |$domainCte,
        |r AS (
        |  SELECT 'example' || CAST(t.i AS VARCHAR) || '.com' AS r_domain,
        |         'disallow' AS rule, '/p/' AS prefix
        |  FROM range(4) t(i)
        |  UNION ALL
        |  SELECT 'example' || CAST(t.i AS VARCHAR) || '.com',
        |         'allow', '/p/' || CAST(t.i AS VARCHAR)
        |  FROM range(4) t(i))
        |SELECT doc_id, domain, path,
        |       CAST(coalesce(m.a, 1) AS BIGINT) AS allowed
        |FROM (
        |  SELECT d.doc_id, d.domain, d.path,
        |         max(CASE WHEN r.rule IS NULL THEN NULL
        |             ELSE struct_pack(l := length(r.prefix),
        |               a := CASE WHEN r.rule = 'allow' THEN 1 ELSE 0 END)
        |             END) AS m
        |  FROM h d LEFT JOIN r ON r.r_domain = d.domain
        |    AND d.path LIKE r.prefix || '%'
        |  GROUP BY 1, 2, 3)
        |ORDER BY doc_id""".stripMargin)
}

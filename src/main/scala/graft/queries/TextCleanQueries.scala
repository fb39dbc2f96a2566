package graft.queries

import org.apache.spark.sql.functions._
import graft.ext.{Contamination, JsonOps}
import graft.{Tables, ext}

/** [EXT] Text normalization through `graft.ext.TextClean`, `Redact`,
  * `UrlOps`, `JsonOps` and `Contamination`: scrubbing, HTML stripping, PII
  * redaction, Unicode and mojibake repair, URL canonicalization, JSON
  * extraction and benchmark decontamination.
  */
object TextCleanQueries {

  val defs: Seq[QueryDef] = Seq(

    // Curation scrub: mask emails/URLs, strip control chars, collapse
    // whitespace — one codegen'd projection over the corpus.
    QueryDef("q_text_scrub", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        ext.TextClean.scrub(col("text")).as("clean_text")),
      """SELECT doc_id,
        |  TRIM(regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text, '[\x00-\x08\x0b\x0c\x0e-\x1f]', ' ', 'g'),
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      'https?://[^ \t\r\n]+', '<URL>', 'g'),
        |    '[ \t\r\n]+', ' ', 'g')) AS clean_text
        |FROM documents""".stripMargin),

    // [EXT] HTML -> text boilerplate strip (web-crawl extraction):
    // deterministic markup wrapped around each document in both
    // engines, then the same regex pipeline.
    QueryDef("q_html_strip", (s, dir) => {
      val html = concat(
        lit("<html><head><style>p { color: red; }</style></head><body><h1>"),
        col("source"), lit("</h1><p>"), col("text"),
        lit(" &amp; \"quotes\" &lt;tag&gt;</p><!-- note -->" +
          "<script type=\"text/js\">var x = 1;</script></body></html>"))
      Tables.documents(s, dir)
        .select(col("doc_id"), graft.ext.TextClean.stripHtml(html).as("clean"))
    },
      """WITH raw AS (
        |  SELECT doc_id,
        |    '<html><head><style>p { color: red; }</style></head><body><h1>'
        |    || source || '</h1><p>' || text ||
        |    ' &amp; "quotes" &lt;tag&gt;</p><!-- note --><script type="text/js">var x = 1;</script></body></html>'
        |    AS html
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(html,
        |  '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g') AS t
        |  FROM raw),
        |s2 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(t,
        |      '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
        |      '&#39;', chr(39), 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g') AS t
        |  FROM s2)
        |SELECT doc_id, TRIM(regexp_replace(t, '[ \t\r\n]+', ' ', 'g')) AS clean
        |FROM s3""".stripMargin),

    // [EXT] Text: PII redaction — emails/IPs/SSN-shapes/phone-shapes
    // to typed tokens. PII is synthesized deterministically from
    // doc_id (both engines build the identical input string).
    QueryDef("q_pii_redact", (s, dir) => {
      val synth = concat(
        col("text"), lit(" contact: user"), col("doc_id").cast("string"),
        lit("@mail.example.com ip 10.2."),
        (col("doc_id") % 256).cast("string"),
        lit(".7 ssn 123-45-6789 call 415-555-"),
        (col("doc_id") % 9000 + 1000).cast("string"))
      Tables.documents(s, dir)
        .select(col("doc_id"), graft.ext.Redact.redactPii(synth).as("clean"))
    },
      // Patterns interpolated from the Redact constants so the Spark
      // chain and the oracle can never drift.
      s"""WITH synth AS (
         |  SELECT doc_id,
         |    text || ' contact: user' || CAST(doc_id AS VARCHAR)
         |      || '@mail.example.com ip 10.2.'
         |      || CAST(doc_id % 256 AS VARCHAR)
         |      || '.7 ssn 123-45-6789 call 415-555-'
         |      || CAST(doc_id % 9000 + 1000 AS VARCHAR) AS x
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(x,
         |    '${graft.ext.Redact.EmailPattern}', '<EMAIL>', 'g'),
         |    '${graft.ext.Redact.Ipv4Pattern}', '<IP>', 'g'),
         |    '${graft.ext.Redact.SsnPattern}', '<ID>', 'g'),
         |    '${graft.ext.Redact.PhonePattern}', '<PHONE>', 'g') AS clean
         |FROM synth""".stripMargin),

    // [EXT] Text: Unicode NFC canonicalization + accent stripping
    // (custom codegen'd expressions) — hash-before-normalize is the
    // classic silent dedup killer.
    QueryDef("q_text_nfc", (s, dir) => {
      // decomposed on purpose ("e" + combining acute U+0301):
      // NFC must compose it into the single code point \u00e9.
      val synth = concat(col("text"), lit(" cafe\u0301"))
      val nfc = graft.functions.NormalizeExprs.nfc(synth)
      Tables.documents(s, dir).select(
        col("doc_id"),
        nfc.as("nfc"),
        graft.functions.NormalizeExprs.stripAccents(nfc).as("ascii"),
        length(synth).cast("long").as("n_raw"),
        length(nfc).cast("long").as("n_nfc"))
    },
      """WITH s AS (
        |  SELECT doc_id, text || ' cafe' || chr(769) AS x FROM documents)
        |SELECT doc_id,
        |  nfc_normalize(x) AS nfc,
        |  strip_accents(nfc_normalize(x)) AS ascii,
        |  length(x) AS n_raw,
        |  length(nfc_normalize(x)) AS n_nfc
        |FROM s""".stripMargin),

    // [EXT] Text: guarded mojibake repair — Latin-1-misread UTF-8 is
    // reinterpreted only when provably lossless; real accents and
    // ASCII pass through untouched. Injections are synthesized from
    // doc_id so both engines agree on the input.
    QueryDef("q_fix_mojibake", (s, dir) => {
      val k = col("doc_id") % 10
      // %10==0: mojibake 'cafÃ©' (U+00C3 U+00A9 — must be repaired);
      // %10==5: genuine 'café' (U+00E9 — must NOT be touched)
      val synth = when(k === 0, concat(col("text"), lit(" caf\u00c3\u00a9")))
        .when(k === 5, concat(col("text"), lit(" caf\u00e9")))
        .otherwise(col("text"))
      val fixed = graft.functions.NormalizeExprs.fixMojibake(synth)
      Tables.documents(s, dir).select(
        col("doc_id"), fixed.as("fixed"), (fixed =!= synth).as("was_fixed"))
    },
      // chr(233) = é: the repaired form for the %10=0 injection and the
      // untouched genuine accent for %10=5 coincide by construction.
      """SELECT doc_id,
        |  CASE WHEN doc_id % 10 IN (0, 5) THEN text || ' caf' || chr(233)
        |       ELSE text END AS fixed,
        |  (doc_id % 10 = 0) AS was_fixed
        |FROM documents""".stripMargin),

    // [EXT] Text: character-level Shannon entropy quality signal
    // (exact log2(n) - sum(c*log2(c))/n form, fixed-order summation).
    QueryDef("q_char_entropy", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        round(graft.functions.NormalizeExprs.charEntropy(col("text")), 6)
          .as("entropy")),
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
        |f AS (SELECT doc_id, c, CAST(COUNT(*) AS DOUBLE) AS cnt
        |      FROM ch GROUP BY 1, 2),
        |t AS (SELECT doc_id, SUM(cnt) AS n, SUM(cnt * log2(cnt)) AS s
        |      FROM f GROUP BY 1)
        |SELECT d.doc_id,
        |  ROUND(COALESCE(log2(t.n) - t.s / t.n, 0.0), 6) AS entropy
        |FROM documents d LEFT JOIN t USING (doc_id)""".stripMargin),

    // [EXT] URL canonicalization + dedup-by-URL: three deterministic
    // spellings of the same page (tracking params, fragment, case,
    // trailing slash, query order) must collapse to one canonical row.
    QueryDef("q_url_canon", (s, dir) => {
      val id = col("doc_id")
      val page = (id % 50).cast("string")
      val qid = (id % 25).cast("string")
      val url = when(id % 3 === 0,
          concat(lit("HTTPS://Example.COM/"), col("source"), lit("/page"),
            page, lit("/?utm_source=feed&id="), qid, lit("&utm_campaign=x#frag")))
        .when(id % 3 === 1,
          concat(lit("https://example.com/"), col("source"), lit("/page"),
            page, lit("?id="), qid))
        .otherwise(
          concat(lit("https://example.com/"), col("source"), lit("/page"),
            page, lit("?ref=tw&id="), qid))
      graft.ext.UrlOps.dedupByCanonicalUrl(
        Tables.documents(s, dir).select(id, url.as("url")), "doc_id", "url")
    },
      // The same canonicalization steps, verbatim, in DuckDB (RE2 + list
      // lambdas): fragment drop, lowercased scheme://host, trailing-slash
      // strip, tracking-param filter + sort.
      """WITH raw AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN doc_id % 3 = 0 THEN
        |        'HTTPS://Example.COM/' || source || '/page' ||
        |        CAST(doc_id % 50 AS VARCHAR) || '/?utm_source=feed&id=' ||
        |        CAST(doc_id % 25 AS VARCHAR) || '&utm_campaign=x#frag'
        |      WHEN doc_id % 3 = 1 THEN
        |        'https://example.com/' || source || '/page' ||
        |        CAST(doc_id % 50 AS VARCHAR) || '?id=' ||
        |        CAST(doc_id % 25 AS VARCHAR)
        |      ELSE
        |        'https://example.com/' || source || '/page' ||
        |        CAST(doc_id % 50 AS VARCHAR) || '?ref=tw&id=' ||
        |        CAST(doc_id % 25 AS VARCHAR)
        |    END AS url
        |  FROM documents),
        |s1 AS (
        |  SELECT doc_id, regexp_replace(trim(url), '#.*', '') AS nofrag
        |  FROM raw),
        |s2 AS (
        |  SELECT doc_id,
        |    regexp_extract(nofrag, '^([^?]*)', 1) AS pre,
        |    regexp_extract(nofrag, '\?(.*)$', 1) AS qs
        |  FROM s1),
        |s3 AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(pre, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*', 0)) AS head,
        |    regexp_replace(regexp_replace(pre, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*', ''),
        |      '/+$', '') AS path,
        |    list_sort(list_filter(string_split(qs, '&'),
        |      p -> p <> '' AND NOT regexp_matches(p,
        |        '^(utm_[a-zA-Z0-9_]+|gclid|fbclid|ref)='))) AS kept
        |  FROM s2),
        |canon AS (
        |  SELECT doc_id,
        |    head || path ||
        |    CASE WHEN len(kept) > 0
        |         THEN '?' || array_to_string(kept, '&') ELSE '' END AS url_canon
        |  FROM s3)
        |SELECT url_canon, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
        |FROM canon GROUP BY 1""".stripMargin),

    // JSON property extraction from events.props.
    QueryDef("q_json_extract", (s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        JsonOps.extractLong(col("props"), "$.k").as("k_val")),
      "SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val FROM events"),

    // Benchmark decontamination: word-5-gram overlap of every corpus doc
    // against the held-out benchmark slice (doc_id % 97 == 0).
    QueryDef("q_contamination", (s, dir) => {
      val d = Tables.documents(s, dir)
      Contamination.ngramOverlap(
        d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 5)
    },
      """WITH tk AS (
        |  SELECT doc_id, str_split(trim(lower(text)), ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(tk) - 4),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS sh
        |  FROM tk),
        |bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 97 = 0),
        |corp AS (SELECT doc_id, sh FROM sh WHERE doc_id % 97 <> 0),
        |hits AS (
        |  SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        |  FROM (SELECT doc_id, unnest(sh) AS g FROM corp) c
        |  JOIN bench b ON c.g = b.g GROUP BY c.doc_id)
        |SELECT c.doc_id, CAST(len(c.sh) AS BIGINT) AS n_ngrams,
        |  COALESCE(h.n_hits, 0) AS n_hits,
        |  CASE WHEN len(c.sh) > 0
        |    THEN ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / len(c.sh), 6) END
        |    AS contamination
        |FROM corp c LEFT JOIN hits h USING (doc_id)""".stripMargin),
  )
}

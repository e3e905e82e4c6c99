package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops.TextOps

/** Raw sources and the crawl pipeline: archive and WARC readers,
  * charsets, robots, crawl links, link rank and crawl dedup. */
object CrawlQueries {
  import QueryHelpers._

  val defs: Seq[QueryDef] = Seq(
    // ★ r11: compressed-blob TEXT ingestion — the `.jsonl.gz` shape
    // real corpora arrive in: documents stored as opaque gzip
    // payloads (even ids are TWO concatenated members, the
    // block-parallel-compressor layout a first-trailer-stops decoder
    // silently truncates), decompressed with per-member CRC-32/ISIZE
    // verification in the partition-wise slot. Witnesses (byte
    // length + MD5 of the decompressed bytes) are replayed by the
    // oracle from the ORIGINAL text — a match certifies byte-exact
    // recovery through compression, concatenation, and decompression.
    QueryDef("source_gzip", (s, d) => {
      ops.CompressedOps.gunzipAll(s,
        ops.CompressedOps.gzipTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("n_raw"), col("text_md5"))
        .orderBy(col("doc_id"))
    },
      // The witnesses come from the ORIGINAL text (DuckDB never sees
      // the gzip bytes): byte length + MD5 over the UTF-8 encoding —
      // equality certifies the Spark side recovered the exact bytes
      // through the multi-member gzip round trip.
      """SELECT doc_id,
        |  cast(strlen(text) as bigint) AS n_raw,
        |  md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ★ r11: tar SHARD reading — the WebDataset container: each doc
    // is a real POSIX ustar archive holding the member pair
    // <id>.txt + <id>.ppm (ops.TarCodec: verified header checksums,
    // octal size parsing, 512-byte padding, required end blocks),
    // and the image member is then decoded by the INNER codec — the
    // two-layer walk a multimodal shard reader performs. The oracle
    // replays the layout arithmetic (tar_bytes: headers + padded
    // members + end blocks), the text digest, and the decoded pixel
    // plane of the image member.
    QueryDef("source_tar", (s, d) => {
      ops.Multimodal.decodeTarAll(s,
        ops.Multimodal.tarShardTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("n_members"), col("tar_bytes"),
          col("txt_md5"), col("img_px"))
        .orderBy(col("doc_id"))
    },
      // Replays the ustar layout arithmetic (two 512-byte headers +
      // each member padded to 512 + two end blocks), the text digest,
      // and the image generator's pixel plane — tar walk and inner
      // image decode certified in one row.
      """WITH sz AS (
        |  SELECT doc_id, text,
        |    ascii(substr(text, 1, 1)) % 64 + 16 AS w,
        |    ascii(substr(text, 2, 1)) % 64 + 16 AS h,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |px AS (
        |  SELECT doc_id,
        |    cast(sum((s0 + 31 * i) % 256) as bigint) AS px_sum
        |  FROM sz, LATERAL unnest(generate_series(0, w * h * 3 - 1)) t(i)
        |  GROUP BY doc_id)
        |SELECT sz.doc_id,
        |  cast(2 as bigint) AS n_members,
        |  cast(1024 + 1024
        |    + ((strlen(text) + 511) // 512) * 512
        |    + ((9 + strlen(cast(w as varchar)) + strlen(cast(h as varchar))
        |        + w * h * 3 + 511) // 512) * 512
        |    as bigint) AS tar_bytes,
        |  md5(text) AS txt_md5,
        |  px.px_sum AS img_px
        |FROM sz JOIN px USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // ★ r12: WARC ingestion — Common Crawl's actual container: per
    // doc a `.warc.gz` file of three WARC/1.1 records (warcinfo /
    // request / response), EACH its own gzip member (the
    // member-per-record crawl layout), decompressed by the existing
    // RFC 1952 member walk and then parsed by the real record
    // grammar (version line, header block, Content-Length body,
    // CRLF CRLF separators — ops.WarcOps.parseRecords, fail-loud on
    // framing disagreement). WARC-Type dispatch is certified: the
    // oracle replays each record type's block length from the
    // original row (the fixed warcinfo block, the deterministic
    // 41+strlen(id) HTTP request, the text response with its MD5)
    // plus the response's target URI.
    QueryDef("source_warc", (s, d) => {
      ops.WarcOps.readWarcAll(s,
        ops.WarcOps.warcTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("n_records"), col("info_len"),
          col("req_len"), col("resp_len"), col("resp_md5"),
          col("target_uri"))
        .orderBy(col("doc_id"))
    },
      // Replays every record type's witnesses from the original row:
      // the warcinfo block is a 47-byte constant, the request block is
      // the deterministic HTTP GET (41 + strlen(id) ASCII bytes), the
      // response block is the doc text (length + MD5), and the target
      // URI is pure concatenation — so a match certifies the gzip
      // member walk, the record framing, AND the WARC-Type dispatch
      // recovered all three bodies byte-exactly.
      """SELECT doc_id,
        |  cast(3 as bigint) AS n_records,
        |  cast(47 as bigint) AS info_len,
        |  cast(41 + strlen(cast(doc_id as varchar)) as bigint)
        |    AS req_len,
        |  cast(strlen(text) as bigint) AS resp_len,
        |  md5(text) AS resp_md5,
        |  'https://example.com/doc/' || cast(doc_id as varchar)
        |    AS target_uri
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ★ r12: MULTI-DOCUMENT WARC files — the real crawl unit of work
    // (Common Crawl ships ~1 GB files of thousands of captures): 50
    // docs per file, ONE warcinfo record then a request+response
    // pair per doc, every record its own gzip member. The reader
    // walks one FILE per row and EXPLODES to per-capture rows,
    // deriving each doc id from the record's own WARC-Target-URI —
    // the container is the source of truth, not a side channel — and
    // enforcing the file grammar (warcinfo first, request/response
    // pair discipline, URI match). The oracle replays the grouping
    // arithmetic, the per-file record count, and the byte-exact
    // response witnesses.
    QueryDef("source_warc_files", (s, d) => {
      ops.WarcOps.readWarcFilesAll(s,
        ops.WarcOps.warcFileTable(s, t(s, d, "documents"),
          docsPerFile = 50))
        .toDF()
        .select(col("doc_id"), col("file_id"), col("n_file_records"),
          col("resp_len"), col("resp_md5"))
        .orderBy(col("doc_id"))
    },
      // Replays the multi-doc file grouping (doc_id div 50), each
      // file's record count (1 warcinfo + 2 per doc), and the
      // byte-exact response witnesses — certifying the per-file
      // explode recovered every capture under the enforced grammar.
      """WITH f AS (
        |  SELECT doc_id, text, doc_id // 50 AS file_id
        |  FROM documents),
        |c AS (SELECT file_id, count(*) AS n FROM f GROUP BY file_id)
        |SELECT f.doc_id, f.file_id,
        |  cast(1 + 2 * c.n as bigint) AS n_file_records,
        |  cast(strlen(text) as bigint) AS resp_len,
        |  md5(text) AS resp_md5
        |FROM f JOIN c USING (file_id)
        |ORDER BY doc_id""".stripMargin),

    // ★ r13: charset sniff + transcode — the stage between raw crawl
    // bytes and every text gate (a real web corpus is NOT UTF-8:
    // legacy pages arrive as windows-1252 / Shift_JIS / UTF-16). The
    // generator plants all five arms (BOM'd UTF-8, cp1252, Shift_JIS,
    // UTF-16LE, plain multi-byte UTF-8), each with a non-ASCII marker
    // that PROVES the right decoder ran — the cp1252 arm's 0xE9 is an
    // SJIS lead byte whose trail is invalid, so a sloppy sniff order
    // misdetects it. The oracle replays detected labels and the
    // byte-exact UTF-8 witnesses (text || marker) from the original
    // rows, certifying the encode → sniff → decode → UTF-8 round trip.
    QueryDef("source_charset", (s, d) => {
      ops.CharsetOps.transcodeAll(s,
        ops.CharsetOps.charsetTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("detected"), col("n_out"),
          col("out_md5"))
        .orderBy(col("doc_id"))
    },
      // Replays the planted encoding arms from doc_id arithmetic: the
      // detected label per arm and the transcoded UTF-8 witnesses as
      // text || marker (corpus text is ASCII, so every arm encodes
      // losslessly and strlen/md5 over the UTF-8 SQL literals are the
      // exact expected bytes).
      """WITH m AS (
        |  SELECT doc_id, text,
        |    CASE doc_id % 5
        |      WHEN 0 THEN '' WHEN 1 THEN ' café!' WHEN 2 THEN ' 日本語'
        |      WHEN 3 THEN ' ★' ELSE ' ü' END AS marker,
        |    CASE doc_id % 5
        |      WHEN 0 THEN 'utf-8-bom' WHEN 1 THEN 'windows-1252'
        |      WHEN 2 THEN 'shift_jis' WHEN 3 THEN 'utf-16le'
        |      ELSE 'utf-8' END AS detected
        |  FROM documents)
        |SELECT doc_id, detected,
        |  cast(strlen(text || marker) as bigint) AS n_out,
        |  md5(text || marker) AS out_md5
        |FROM m ORDER BY doc_id""".stripMargin),

    // ★ r13: the END-TO-END crawl-to-corpus composition — WARC files
    // (the real multi-document container) → HTTP message parse
    // (chunked + identity bodies, status dispatch) → HTML markup
    // strip → quality gate → exact-fingerprint dedup, declared as ONE
    // query with per-stage survivor accounting. Corpus text never
    // shuffles: the WARC+HTTP decode and the regex scoring are
    // map-shaped; only (fp, doc_id, n_tokens) travels to the dedup
    // agg and only stage counts leave the final aggregate (the
    // pipeline_full hash discipline over the real container).
    QueryDef("pipeline_crawl_curate", (s, d) => {
      val caps = ops.WarcOps.readWarcCrawl(s,
        ops.WarcOps.warcCrawlTable(s, t(s, d, "documents"), 50)).toDF()
      val noTags = regexp_replace(col("html"), "<[^>]*>", " ")
      val decoded = regexp_replace(regexp_replace(regexp_replace(
        noTags, "&amp;", "&"), "&lt;", "<"), "&gt;", ">")
      val cleanCol = trim(regexp_replace(decoded, " +", " "))
      // one regex-heavy scoring pass, materialized: three stage
      // aggregates and the dedup branch all read the compact
      // (doc_id, status, n_tokens, quality_score, fp) table
      val scored = TextOps.quality(
          caps.withColumn("clean", cleanCol),
          col("clean"), length(col("clean")).cast("bigint"))
        .withColumn("fp", TextOps.fingerprint(col("clean")))
        .select(col("doc_id"), col("status"), col("n_tokens"),
          col("quality_score"), col("fp"))
        .localCheckpoint(true)
      val httpOk = col("status") === 200
      val qual = httpOk && (col("quality_score") >= 0.3)
      val flat = scored.agg(
        count(lit(1)).as("d1"), sum(col("n_tokens")).as("t1"),
        sum(when(httpOk, 1L).otherwise(0L)).as("d2"),
        sum(when(httpOk, col("n_tokens")).otherwise(0L)).as("t2"),
        sum(when(qual, 1L).otherwise(0L)).as("d3"),
        sum(when(qual, col("n_tokens")).otherwise(0L)).as("t3"))
      val s123 = flat.select(explode(array(
        struct(lit("1_ingest").as("stage"), col("d1").as("n_docs"),
          col("t1").as("n_tokens")),
        struct(lit("2_http_ok").as("stage"), col("d2").as("n_docs"),
          col("t2").as("n_tokens")),
        struct(lit("3_quality").as("stage"), col("d3").as("n_docs"),
          col("t3").as("n_tokens")))).as("r"))
        .select(col("r.stage"), col("r.n_docs"), col("r.n_tokens"))
      val s4 = scored.filter(qual)
        .groupBy(col("fp"))
        .agg(min(struct(col("doc_id"), col("n_tokens"))).as("m"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("m.n_tokens")).as("n_tokens"))
        .select(lit("4_dedup").as("stage"), col("n_docs"),
          col("n_tokens"))
      s123.unionByName(s4).orderBy(col("stage"))
    },
      // Replays the WHOLE crawl-to-corpus composition from the original
      // rows: the HTML wrap (text_html_strip's markup), the strip
      // expressions, the status dispatch (404s dropped at stage 2), the
      // quality gate on the STRIPPED text, and keep-lowest-id exact
      // dedup — so a match certifies WARC framing + HTTP de-chunking +
      // markup strip + gates compose end-to-end byte-exactly.
      s"""WITH cap AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 10 = 9 THEN 404 ELSE 200 END AS status,
         |    '<html><head><title>d</title></head><body><p>' ||
         |      regexp_replace(text, '\\. ', '.</p> <p>', 'g') ||
         |      '</p><div class="footer">&amp;copy; 2026 &lt;corp&gt;' ||
         |      '</div></body></html>' AS html
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, status, trim(regexp_replace(
         |    regexp_replace(regexp_replace(regexp_replace(
         |      regexp_replace(html, '<[^>]*>', ' ', 'g'),
         |      '&amp;', '&', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'),
         |    ' +', ' ', 'g')) AS text
         |  FROM cap),
         |scored AS (
         |  SELECT doc_id, status,
         |    ${TextOps.sql.tokenCount} AS n_tokens,
         |    round(least(1.0, ${TextOps.sql.tokenCount} / 100.0) *
         |      (1.0 - cast(${TextOps.sql.patCount(TextOps.sql.stopword)}
         |                  as double)
         |             / ${TextOps.sql.tokenCount}), 4) AS quality_score,
         |    ${TextOps.sql.fingerprint} AS fp
         |  FROM c),
         |dd AS (
         |  SELECT fp, arg_min(n_tokens, doc_id) AS nt
         |  FROM scored WHERE status = 200 AND quality_score >= 0.3
         |  GROUP BY fp)
         |SELECT '1_ingest' AS stage, count(*) AS n_docs,
         |  cast(sum(n_tokens) as bigint) AS n_tokens FROM scored
         |UNION ALL
         |SELECT '2_http_ok', count(*), cast(sum(n_tokens) as bigint)
         |FROM scored WHERE status = 200
         |UNION ALL
         |SELECT '3_quality', count(*), cast(sum(n_tokens) as bigint)
         |FROM scored WHERE status = 200 AND quality_score >= 0.3
         |UNION ALL
         |SELECT '4_dedup', count(*), cast(sum(nt) as bigint) FROM dd
         |ORDER BY stage""".stripMargin),

    // ★ r13: HTTP message parsing inside WARC response records — real
    // crawl captures are full HTTP/1.1 responses (status line, header
    // block, often chunked transfer coding), not bare text: a reader
    // that hashes the raw block witnesses the transfer framing, not
    // the page. The generator emits real HTTP messages (even ids
    // chunked in 100-byte chunks, odd ids identity+Content-Length,
    // doc_id%10==9 are 404s) and ops.HttpOps.parseResponse recovers
    // status, headers, Content-Type charset, and the DECODED body —
    // whose MD5 the oracle replays from the original text, certifying
    // byte-exact recovery through BOTH framings.
    QueryDef("source_warc_http", (s, d) => {
      ops.WarcOps.readWarcHttpAll(s,
        ops.WarcOps.warcHttpTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("status"), col("n_headers"),
          col("content_type"), col("charset"), col("chunked"),
          col("n_chunks"), col("body_len"), col("body_md5"))
        .orderBy(col("doc_id"))
    },
      // Replays every HTTP witness from the generator arithmetic: the
      // status dispatch (404 for doc_id%10=9), the 3-header block, the
      // Content-Type media type + charset parameter, the transfer
      // framing (even ids chunked, ceil(len/100) data chunks), and the
      // decoded body's byte length + MD5 from the ORIGINAL text — a
      // match certifies the de-chunking recovered the exact bytes.
      """SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 9 THEN cast(404 as bigint)
        |    ELSE cast(200 as bigint) END AS status,
        |  cast(3 as bigint) AS n_headers,
        |  'text/html' AS content_type,
        |  'utf-8' AS charset,
        |  doc_id % 2 = 0 AS chunked,
        |  CASE WHEN doc_id % 2 = 0
        |    THEN cast(ceil(strlen(text) / 100.0) as bigint)
        |    ELSE cast(0 as bigint) END AS n_chunks,
        |  cast(strlen(text) as bigint) AS body_len,
        |  md5(text) AS body_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ★ r13: WAT-style LINK EXTRACTION over the crawl container —
    // hyperlinks recovered from the decoded HTML (WARC walk → HTTP
    // de-chunk → href regex), classified internal vs off-domain, and
    // aggregated to per-doc out/in-degree — the link-based curation
    // signals (and the edge list the link graph runs on). Only
    // (doc_id, dst) longs reach the degree aggregates; HTML never
    // shuffles. The oracle replays the planted outlink arithmetic.
    QueryDef("pipeline_crawl_links", (s, d) => {
      val caps = ops.WarcOps.readWarcCrawl(s,
        ops.WarcOps.warcLinkedCrawlTable(s, t(s, d, "documents"), 50))
        .toDF()
      val prefix = "https://example.com/doc/"
      val hrefs = caps.select(col("doc_id"),
        explode(regexp_extract_all(col("html"),
          lit("href=\"([^\"]+)\""), lit(1))).as("href"))
        .withColumn("internal", col("href").startsWith(prefix))
        .withColumn("dst",
          when(col("internal"),
            col("href").substr(lit(prefix.length + 1), lit(20))
              .cast("long")))
        .localCheckpoint(true) // the regex pass feeds both aggregates
      val out = hrefs.groupBy(col("doc_id")).agg(
        sum(when(col("internal"), 1L).otherwise(0L)).as("outdeg"),
        sum(when(!col("internal"), 1L).otherwise(0L)).as("n_external"))
      val ind = hrefs.filter(col("internal"))
        .groupBy(col("dst").as("doc_id"))
        .agg(count(lit(1)).as("indeg"))
      caps.select(col("doc_id")).join(out, Seq("doc_id"), "left")
        .join(ind, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("outdeg"), lit(0L)).as("outdeg"),
          coalesce(col("n_external"), lit(0L)).as("n_external"),
          coalesce(col("indeg"), lit(0L)).as("indeg"))
        .orderBy(col("doc_id"))
    },
      // Replays the planted outlink arithmetic: outdegree = 1 + id mod
      // 3, one off-domain link on every fourth doc, and indegree from
      // the inverted (src + offset) mod n edge relation — certifying
      // the href extraction, the internal/external classification, and
      // the target-id parse against ground truth.
      """WITH p AS (SELECT count(*) AS nn FROM documents),
        |docs AS (SELECT doc_id, 1 + doc_id % 3 AS nl FROM documents),
        |e AS (
        |  SELECT doc_id AS src,
        |    (doc_id + o.off) % (SELECT nn FROM p) AS dst
        |  FROM docs, (VALUES (0, 1), (1, 7), (2, 49)) AS o(k, off)
        |  WHERE nl > o.k),
        |ind AS (SELECT dst AS doc_id, count(*) AS indeg
        |        FROM e GROUP BY dst)
        |SELECT d.doc_id,
        |  cast(d.nl as bigint) AS outdeg,
        |  cast(CASE WHEN d.doc_id % 4 = 0 THEN 1 ELSE 0 END as bigint)
        |    AS n_external,
        |  cast(coalesce(ind.indeg, 0) as bigint) AS indeg
        |FROM docs d LEFT JOIN ind USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // ★ r13: PAGERANK OVER THE CRAWL LINK GRAPH — the extracted
    // internal edges feed the existing fixed-point integer PageRank
    // (ops.GraphOps: 12 rounds, one job per round, no driver-side
    // graph; the mod-n outlink structure is dangling-free so the
    // per-round dangling aggregate is structurally skipped). The
    // crawl-to-graph composition a link-quality curation pass runs;
    // the oracle replays all 12 rounds as unrolled CTEs over the
    // SAME arithmetic edge list.
    QueryDef("pipeline_crawl_linkrank", (s, d) => {
      val caps = ops.WarcOps.readWarcCrawl(s,
        ops.WarcOps.warcLinkedCrawlTable(s, t(s, d, "documents"), 50))
        .toDF()
      val prefix = "https://example.com/doc/"
      val edges = caps.select(col("doc_id").as("src"),
        explode(regexp_extract_all(col("html"),
          lit("href=\"([^\"]+)\""), lit(1))).as("href"))
        .filter(col("href").startsWith(prefix))
        .select(col("src"),
          col("href").substr(lit(prefix.length + 1), lit(20))
            .cast("long").as("dst"))
      ops.GraphOps.pagerank(edges, "src", "dst")
        .orderBy(col("rank_f").desc, col("node"))
        .limit(20)
        .select(col("node"),
          round(col("rank_f") / 1e15, 6).as("rank"))
    },
      // crawl-link-graph PageRank: the unrolled 12-round replay over
      // the planted outlink arithmetic (dangling-free by construction)
      linkRankOracleSql(12)),

    // ★ r13: the PRODUCTION crawl decode stack — WARC walk → HTTP
    // parse → DECLARED-charset transcode (the Content-Type charset
    // drives the decoder; a UTF-8 pipeline that ignores it corrupts
    // exactly the non-English captures) with capture-granular
    // quarantine: a planted Content-Length/body disagreement costs
    // ONE capture ('truncated'), planted undecodable bytes under a
    // false utf-8 declaration cost ONE capture ('decode_error' after
    // the sniff fallback exhausts every candidate), and every sibling
    // survives with byte-exact transcoded-UTF-8 witnesses across the
    // three planted encodings (utf-8 / windows-1252 / shift_jis).
    QueryDef("pipeline_crawl_charset", (s, d) => {
      ops.WarcOps.tryReadWarcCrawlHttp(s,
        ops.WarcOps.corruptCrawlHttpTable(s, t(s, d, "documents"), 50))
        .toDF()
        .select(col("doc_id"), col("status"), col("error_class"),
          col("detected"), col("n_out"), col("out_md5"))
        .orderBy(col("doc_id"))
    },
      // Replays the full production decode stack from doc_id
      // arithmetic: the two corruption arms' statuses/classes (body cut
      // short of Content-Length → truncated; undecodable bytes under a
      // false declaration → decode_error), the per-arm detected
      // charset, and the transcoded UTF-8 witnesses as text || marker.
      """WITH m AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 3 = 0 THEN ' ü'
        |         WHEN doc_id % 3 = 1 THEN ' café!'
        |         ELSE ' 日本語' END AS marker,
        |    doc_id % 13 IN (5, 9) AS bad
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN bad THEN 'quarantined' ELSE 'ok' END AS status,
        |  CASE WHEN doc_id % 13 = 5 THEN 'truncated'
        |       WHEN doc_id % 13 = 9 THEN 'decode_error'
        |       ELSE '' END AS error_class,
        |  CASE WHEN bad THEN ''
        |       WHEN doc_id % 3 = 0 THEN 'utf-8'
        |       WHEN doc_id % 3 = 1 THEN 'windows-1252'
        |       ELSE 'shift_jis' END AS detected,
        |  CASE WHEN bad THEN -1
        |       ELSE cast(strlen(text || marker) as bigint) END AS n_out,
        |  CASE WHEN bad THEN '' ELSE md5(text || marker) END AS out_md5
        |FROM m ORDER BY doc_id""".stripMargin),

    // ★ r14: ROBOTS + SOFT-404 curation over the crawl container —
    // the last common front-end signals: a 200 capture can still opt
    // out of indexing via an `X-Robots-Tag: noindex` response header
    // or a `<meta name="robots">` tag, and a 200 body can be an error
    // template (soft 404) no status code will ever reveal. The
    // generator plants all four arms by doc_id precedence; the gates
    // HERE run on the parsed surface (header value, head markup, body
    // template — never on ids), and the oracle replays the planting
    // arithmetic, so a match certifies classification by content.
    // Map-shaped front: only (stage, count) rows leave the aggregate.
    QueryDef("pipeline_crawl_robots", (s, d) => {
      val caps = ops.WarcOps.readWarcCrawlRobots(s,
        ops.WarcOps.robotsCrawlTable(s, t(s, d, "documents"), 50))
        .toDF()
      val httpOk = col("status") === 200
      val hdrNoindex = lower(col("x_robots")).contains("noindex")
      val metaNoindex = col("html").rlike(
        "(?i)<meta[^>]*name=\"robots\"[^>]*content=\"[^\"]*noindex")
      val soft404 = col("html").contains("<h1>Page Not Found</h1>")
      val indexable = httpOk && !hdrNoindex && !metaNoindex
      val kept = indexable && !soft404
      caps.agg(
        count(lit(1)).as("c1"),
        sum(when(httpOk, 1L).otherwise(0L)).as("c2"),
        sum(when(indexable, 1L).otherwise(0L)).as("c3"),
        sum(when(kept, 1L).otherwise(0L)).as("c4"),
        sum(when(!httpOk, 1L).otherwise(0L)).as("r404"),
        sum(when(httpOk && hdrNoindex, 1L).otherwise(0L)).as("rhdr"),
        sum(when(httpOk && !hdrNoindex && metaNoindex, 1L)
          .otherwise(0L)).as("rmeta"),
        sum(when(indexable && soft404, 1L).otherwise(0L)).as("rsoft"))
        .select(explode(array(
          struct(lit("1_ingest").as("stage"), col("c1").as("n_docs")),
          struct(lit("2_http_ok").as("stage"), col("c2").as("n_docs")),
          struct(lit("3_indexable").as("stage"),
            col("c3").as("n_docs")),
          struct(lit("4_kept").as("stage"), col("c4").as("n_docs")),
          struct(lit("x_http_404").as("stage"),
            col("r404").as("n_docs")),
          struct(lit("x_noindex_header").as("stage"),
            col("rhdr").as("n_docs")),
          struct(lit("x_noindex_meta").as("stage"),
            col("rmeta").as("n_docs")),
          struct(lit("x_soft_404").as("stage"),
            col("rsoft").as("n_docs")))).as("r"))
        .select(col("r.stage"), col("r.n_docs"))
        .orderBy(col("stage"))
    },
      // Replays the robots/soft-404 gate chain from the planting
      // arithmetic (the generator's first-match-wins arm precedence) —
      // the Spark side classifies by PARSED content (header value, head
      // markup, body template), so agreement certifies content-driven
      // classification, not id echo.
      """WITH cls AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 9 THEN 'h404'
        |         WHEN doc_id % 7 = 3 THEN 'hdr'
        |         WHEN doc_id % 7 = 5 THEN 'meta'
        |         WHEN doc_id % 11 = 7 THEN 'soft'
        |         ELSE 'ok' END AS arm
        |  FROM documents)
        |SELECT stage, n_docs FROM (
        |  SELECT '1_ingest' AS stage, count(*) AS n_docs FROM cls
        |  UNION ALL SELECT '2_http_ok', count(*) FROM cls
        |    WHERE arm <> 'h404'
        |  UNION ALL SELECT '3_indexable', count(*) FROM cls
        |    WHERE arm IN ('soft', 'ok')
        |  UNION ALL SELECT '4_kept', count(*) FROM cls
        |    WHERE arm = 'ok'
        |  UNION ALL SELECT 'x_http_404', count(*) FROM cls
        |    WHERE arm = 'h404'
        |  UNION ALL SELECT 'x_noindex_header', count(*) FROM cls
        |    WHERE arm = 'hdr'
        |  UNION ALL SELECT 'x_noindex_meta', count(*) FROM cls
        |    WHERE arm = 'meta'
        |  UNION ALL SELECT 'x_soft_404', count(*) FROM cls
        |    WHERE arm = 'soft'
        |) ORDER BY stage""".stripMargin,
      key = "pcr"),

    // ★ r14: NEAR-DUP VERDICTS OVER THE CRAWL CONTAINER — the ingest
    // decision the streaming neardupGateStream contract makes, here
    // composed over the real container in its batch spelling with the
    // PORTABLE hash family so the ENTIRE lane is oracle-replayable:
    // WARC walk → HTTP de-chunk → markup strip → portable MinHash LSH
    // candidates → exact-Jaccard verification → per-arriving-doc
    // verdict (dup of the persisted corpus / dup of an earlier
    // in-batch doc / unique, the keep-earliest discipline). Even doc
    // ids play the persisted corpus, odd ids the arriving batch.
    // HTML never shuffles: decode and strip are map-shaped,
    // signatures are computed row-locally, and only (id, hash/count)
    // rows reach the candidate and verdict aggregates.
    QueryDef("pipeline_crawl_neardup", (s, d) => {
      val caps = ops.WarcOps.readWarcCrawl(s,
        ops.WarcOps.warcCrawlTable(s, t(s, d, "documents"), 50)).toDF()
        .filter(col("status") === 200)
      val noTags = regexp_replace(col("html"), "<[^>]*>", " ")
      val decoded = regexp_replace(regexp_replace(regexp_replace(
        noTags, "&amp;", "&"), "&lt;", "<"), "&gt;", ">")
      val clean = caps.select(col("doc_id"),
        trim(regexp_replace(decoded, " +", " ")).as("text"))
        .localCheckpoint(true) // feeds the sketch pass + verdict join
      val pairs = ops.DedupOps.portableMinhashPairs(
        clean, "doc_id", "text", threshold = 0.7)
      val adj = pairs
        .select(col("a").as("doc_id"), col("b").as("partner"))
        .unionByName(pairs.select(col("b").as("doc_id"),
          col("a").as("partner")))
        .filter(pmod(col("doc_id"), lit(2)) === 1)
      val verdicts = adj.groupBy(col("doc_id")).agg(
        sum(when(pmod(col("partner"), lit(2)) === 0, 1L)
          .otherwise(0L)).as("n_corpus"),
        sum(when(pmod(col("partner"), lit(2)) === 1 &&
            col("partner") < col("doc_id"), 1L)
          .otherwise(0L)).as("n_batch_prior"))
      clean.filter(pmod(col("doc_id"), lit(2)) === 1)
        .select(col("doc_id"))
        .join(verdicts, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(coalesce(col("n_corpus"), lit(0L)) > 0, "dup_corpus")
            .when(coalesce(col("n_batch_prior"), lit(0L)) > 0,
              "dup_batch")
            .otherwise("unique").as("verdict"),
          coalesce(col("n_corpus"), lit(0L)).as("n_corpus"),
          coalesce(col("n_batch_prior"), lit(0L)).as("n_batch_prior"))
        .orderBy(col("doc_id"))
    },
      // Replays the whole crawl near-dup lane: the HTML wrap + strip
      // (the crawl_curate replay), then the ENTIRE portable MinHash
      // pipeline (per-shingle md5 → affine lanes → band keys → bucket
      // pairs → exact-Jaccard verification — the dedup_minhash_portable
      // replay over the STRIPPED text), then the even/odd
      // corpus-vs-batch verdict aggregation with the keep-earliest
      // in-batch rule.
      """WITH cap AS (
        |  SELECT doc_id,
        |    '<html><head><title>d</title></head><body><p>' ||
        |      regexp_replace(text, '\. ', '.</p> <p>', 'g') ||
        |      '</p><div class="footer">&amp;copy; 2026 &lt;corp&gt;' ||
        |      '</div></body></html>' AS html
        |  FROM documents WHERE doc_id % 10 <> 9),
        |c AS (
        |  SELECT doc_id, trim(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(html, '<[^>]*>', ' ', 'g'),
        |      '&amp;', '&', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'),
        |    ' +', ' ', 'g')) AS text
        |  FROM cap),
        |t AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |      FROM c),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(w) >= 3
        |       THEN list_transform(generate_series(1, len(w) - 2),
        |            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        |       ELSE [array_to_string(w, ' ')] END AS s FROM t),
        |shd AS (SELECT doc_id, list_distinct(s) AS sd FROM sh),
        |hmt AS (SELECT doc_id, sd,
        |  list_transform(sd, x ->
        |    (('0x' || substr(md5(x), 1, 15))::BIGINT) % 2147483647)
        |    AS hm FROM shd),
        |sig AS (SELECT doc_id,
        |  list_transform(generate_series(0, 15),
        |    i -> list_min(list_transform(hm, h ->
        |      (((1103515245 * (i + 1)) % 2147483647) * h +
        |       ((12345 * (i + 1)) % 2147483647)) % 2147483647)))
        |    AS sig FROM hmt),
        |band AS (SELECT doc_id, b AS band_id,
        |  array_to_string(sig[b*2+1 : b*2+2], '|') AS band_key
        |  FROM sig, LATERAL unnest(generate_series(0, 7)) tb(b)),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM band x JOIN band y
        |    ON x.band_id = y.band_id AND x.band_key = y.band_key
        |   AND x.doc_id < y.doc_id),
        |hmd AS (SELECT doc_id, list_distinct(hm) AS hd FROM hmt),
        |ver AS (SELECT cd.a, cd.b,
        |  len(list_intersect(sa.hd, sb.hd)) AS inter,
        |  len(sa.hd) AS na, len(sb.hd) AS nb
        |  FROM cand cd JOIN hmd sa ON sa.doc_id = cd.a
        |               JOIN hmd sb ON sb.doc_id = cd.b),
        |verq AS (SELECT a, b FROM ver
        |  WHERE round(inter * 1.0 / (na + nb - inter), 4) >= 0.7),
        |adjp AS (SELECT a AS doc_id, b AS partner FROM verq
        |         UNION ALL SELECT b AS doc_id, a AS partner FROM verq),
        |agg AS (SELECT doc_id,
        |    sum(CASE WHEN partner % 2 = 0 THEN 1 ELSE 0 END)
        |      AS n_corpus,
        |    sum(CASE WHEN partner % 2 = 1 AND partner < doc_id
        |             THEN 1 ELSE 0 END) AS n_batch_prior
        |  FROM adjp WHERE doc_id % 2 = 1 GROUP BY doc_id)
        |SELECT c.doc_id,
        |  CASE WHEN coalesce(n_corpus, 0) > 0 THEN 'dup_corpus'
        |       WHEN coalesce(n_batch_prior, 0) > 0 THEN 'dup_batch'
        |       ELSE 'unique' END AS verdict,
        |  cast(coalesce(n_corpus, 0) as bigint) AS n_corpus,
        |  cast(coalesce(n_batch_prior, 0) as bigint) AS n_batch_prior
        |FROM c LEFT JOIN agg USING (doc_id)
        |WHERE c.doc_id % 2 = 1
        |ORDER BY doc_id""".stripMargin,
      key = "pcd"),

    // ★ r13: MEMBER-GRANULAR quarantine over multi-document WARC —
    // the production posture the real crawl demands: the STREAMING
    // member-at-a-time walk (peak memory = one record, never the
    // decompressed file) with per-member failure granularity — a
    // planted gzip-CRC flip on one response member quarantines ONE
    // capture (class from the decoder's own trailer diagnosis) and a
    // pre-compression record-grammar overwrite on one request member
    // quarantines ONE member while its OWN response still survives.
    // The oracle replays member ordinals, statuses, classes, and the
    // clean captures' byte-exact witnesses from planting arithmetic.
    QueryDef("source_warc_quarantine", (s, d) => {
      ops.WarcOps.tryReadWarcFiles(s,
        ops.WarcOps.corruptWarcFileTable(s, t(s, d, "documents"), 50))
        .toDF()
        .select(col("file_id"),
          col("member_idx").cast("long").as("member_idx"),
          col("status"),
          coalesce(col("error_class"), lit("")).as("error_class"),
          coalesce(col("doc_id"), lit(-1L)).as("doc_id"),
          coalesce(col("resp_len"), lit(-1L)).as("resp_len"),
          coalesce(col("resp_md5"), lit("")).as("resp_md5"))
        .orderBy(col("file_id"), col("member_idx"))
    },
      // Replays the member-granular quarantine lane from the planting
      // arithmetic: member ordinals from the file layout (warcinfo 0,
      // then request 1+2k / response 2+2k per doc in id order), the
      // response CRC-flip (doc_id%17=3 → one 'integrity' quarantine,
      // capture lost), the request grammar overwrite (doc_id%17=7 →
      // one 'bad_magic' quarantine, its response SURVIVES), and every
      // clean capture's byte-exact witnesses.
      """WITH f AS (
        |  SELECT doc_id, text, doc_id // 50 AS file_id,
        |    row_number() OVER (PARTITION BY doc_id // 50
        |      ORDER BY doc_id) - 1 AS k
        |  FROM documents),
        |resp AS (
        |  SELECT file_id, cast(2 + 2 * k as bigint) AS member_idx,
        |    CASE WHEN doc_id % 17 = 3 THEN 'quarantined' ELSE 'ok' END
        |      AS status,
        |    CASE WHEN doc_id % 17 = 3 THEN 'integrity' ELSE '' END
        |      AS error_class,
        |    CASE WHEN doc_id % 17 = 3 THEN -1 ELSE doc_id END
        |      AS doc_id,
        |    CASE WHEN doc_id % 17 = 3 THEN -1
        |      ELSE cast(strlen(text) as bigint) END AS resp_len,
        |    CASE WHEN doc_id % 17 = 3 THEN '' ELSE md5(text) END
        |      AS resp_md5
        |  FROM f),
        |reqq AS (
        |  SELECT file_id, cast(1 + 2 * k as bigint) AS member_idx,
        |    'quarantined' AS status, 'bad_magic' AS error_class,
        |    cast(-1 as bigint) AS doc_id, cast(-1 as bigint) AS resp_len,
        |    '' AS resp_md5
        |  FROM f WHERE doc_id % 17 = 7)
        |SELECT file_id, member_idx, status, error_class, doc_id,
        |  resp_len, resp_md5
        |FROM (SELECT * FROM resp UNION ALL SELECT * FROM reqq)
        |ORDER BY file_id, member_idx""".stripMargin),

    // ★ r12: Zstandard ingestion — the `.jsonl.zst` shape modern
    // public corpora (Dolma, RedPajama) ship in, via zstd-jni (the
    // public library Spark itself bundles): a real multi-FRAME walk
    // (even ids are two concatenated frames — the pzstd layout a
    // first-frame-stops decoder silently truncates), declared
    // content sizes gating allocation, per-frame xxhash64 checksums
    // verified, one native context per partition. Witnesses replayed
    // from the ORIGINAL text, certifying byte-exact recovery.
    QueryDef("source_zstd", (s, d) => {
      ops.ZstdOps.unzstdAll(s,
        ops.ZstdOps.zstdTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("n_raw"), col("text_md5"))
        .orderBy(col("doc_id"))
    },
      // Same witness contract as source_gzip, over the zstd frame walk.
      """SELECT doc_id,
        |  cast(strlen(text) as bigint) AS n_raw,
        |  md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin)
  )

  /** Crawl-link-graph PageRank replay: the SAME unrolled rounds as
    * [[pagerankOracleSql]] over the planted outlink arithmetic (src →
    * (src + {1,7,49}) mod n for the first 1 + src mod 3 offsets) —
    * every doc has outdegree ≥ 1, so the graph is dangling-free and
    * the standard update is exact. */
  private def linkRankOracleSql(iters: Int): String =
    s"""WITH p AS (SELECT count(*) AS nn FROM documents),
       |e AS (
       |  SELECT doc_id AS src,
       |    (doc_id + o.off) % (SELECT nn FROM p) AS dst
       |  FROM documents, (VALUES (0, 1), (1, 7), (2, 49)) AS o(k, off)
       |  WHERE 1 + doc_id % 3 > o.k),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
       |params AS (SELECT count(*) AS n,
       |    1000000000000000 // count(*) AS r_init,
       |    (15 * (1000000000000000 // count(*))) // 100 AS base
       |  FROM nodes),
       |r0 AS (SELECT node, (SELECT r_init FROM params) AS rank_f
       |       FROM nodes),
       |${pagerankRoundsSql(iters)}
       |SELECT node, round(rank_f / 1000000000000000.0, 6) AS rank
       |FROM r$iters
       |ORDER BY rank_f DESC, node LIMIT 20""".stripMargin
}

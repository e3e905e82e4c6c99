package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate and exact-duplicate detection: MinHash/SimHash LSH,
  * embedding and semantic dedup, suffix arrays and span excision. */
object DedupQueries {
  import QueryHelpers._

  val defs: Seq[QueryDef] = Seq(
    // Exact dedup: keep lowest doc_id per identical text.
    QueryDef("dedup_exact", (s, d) => {
      t(s, d, "documents")
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"))
        .orderBy(col("doc_id"))
    },
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
      key = "dex"),

    // Canonical-form exact dedup: case-fold, strip punctuation,
    // collapse whitespace, THEN hash — catches "same doc, different
    // formatting" copies that byte-exact dedup misses, at exact-dedup
    // cost (one hash shuffle, no pairwise work). Only the 16-byte md5
    // of the canonical form moves through the shuffle, not the text.
    QueryDef("dedup_canonical", (s, d) => {
      val canon = md5(trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")))
      t(s, d, "documents")
        .groupBy(canon.as("canon_md5"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, n_copies FROM (
        |  SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS canon,
        |    min(doc_id) AS doc_id, count(*) AS n_copies
        |  FROM documents GROUP BY canon)
        |ORDER BY doc_id""".stripMargin,
      key = "dcn"),

    // MinHash-LSH near-dup: shingle → signature → band → bucket join →
    // exact-Jaccard verify (graft.ops.DedupOps). Rows-only check (the
    // sketch pipeline is not expressible in ANSI SQL).
    QueryDef("dedup_minhash", (s, d) => {
      ops.DedupOps.minhashDedupSummary(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      minhashSummaryOracleSql,
      key = "dmh"),

    // MinHash-LSH with the PORTABLE md5 hash family: identical
    // shingles, lane minima, band keys, candidates and surviving
    // pairs are recomputed by the DuckDB oracle, so the whole LSH
    // pipeline (not just its verification tail) is hash-checked
    // cross-engine. The xxhash64 variant above stays the production
    // wire format; this run certifies the pipeline's structure.
    QueryDef("dedup_minhash_portable", (s, d) => {
      ops.DedupOps.portableMinhashPairs(t(s, d, "documents"),
          "doc_id", "text")
        .orderBy(col("a"), col("b"))
    },
      // The PORTABLE-hash MinHash pipeline replayed move for move: one
      // md5 per shingle parsed to a 60-bit BIGINT, affine lane family
      // (a·h+b) mod 2^31-1 with the same fixed multipliers, '|'-joined
      // band keys, distinct bucket pairs, exact-Jaccard verification —
      // a hash match here certifies the full LSH pipeline, not just its
      // tail.
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |           FROM documents),
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
        |ver AS (SELECT c.a, c.b,
        |  len(list_intersect(sa.hd, sb.hd)) AS inter,
        |  len(sa.hd) AS na, len(sb.hd) AS nb
        |  FROM cand c JOIN hmd sa ON sa.doc_id = c.a
        |              JOIN hmd sb ON sb.doc_id = c.b)
        |SELECT a, b,
        |  round(inter * 1.0 / (na + nb - inter), 4) AS jaccard
        |FROM ver
        |WHERE round(inter * 1.0 / (na + nb - inter), 4) >= 0.7
        |ORDER BY a, b""".stripMargin,
      key = "dmp"),

    // Transitive near-dup CLUSTERS over the PORTABLE pair pipeline —
    // the full LSH -> connected-components -> keep-lowest-id flow,
    // oracle-certified END TO END: the DuckDB mirror replays the md5
    // lane hashes, banding, candidates and exact-Jaccard verification
    // (the dedup_minhash_portable oracle) and then the min-label
    // propagation fixpoint as unrolled rounds. The distributed CC
    // (pointer doubling, decimal-sum convergence, throws rather than
    // returning unconverged labels) reaches the same unique fixpoint.
    QueryDef("dedup_clusters_portable", (s, d) => {
      val docs = t(s, d, "documents")
      val edges = ops.DedupOps.portableMinhashPairs(docs, "doc_id",
          "text", threshold = 0.8)
        .select(col("a"), col("b"))
      ops.ClusterOps.clusterAssignments(docs, "doc_id", edges)
        .orderBy(col("doc_id"))
    },
      portableClustersOracleSql,
      key = "dcp"),

    // Segment-level global dedup + reassembly (the CCNet/C4 line-dedup
    // curation stage): first occurrence of each 16-token segment wins,
    // every other occurrence is dropped, docs reassemble from their
    // surviving segments; the emitted md5 of each reassembled doc
    // certifies the reconstruction cross-engine without moving text.
    QueryDef("dedup_segments", (s, d) => {
      ops.DedupOps.segmentDedup(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // Same segmentation, same first-occurrence election (row_number
      // over (doc_id, seg_idx) per hash), same ordered reassembly — the
      // md5 match certifies every surviving segment of every doc.
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |           FROM documents),
        |seg AS (SELECT doc_id, i - 1 AS seg_idx,
        |  array_to_string(w[(i-1)*16+1 : (i-1)*16+16], ' ') AS seg
        |  FROM t, LATERAL unnest(generate_series(1, (len(w)+15)//16))
        |    s(i)),
        |ranked AS (SELECT doc_id, seg_idx, seg,
        |  row_number() OVER (PARTITION BY md5(seg)
        |                     ORDER BY doc_id, seg_idx) AS rn
        |  FROM seg),
        |kept AS (SELECT doc_id, seg_idx, seg FROM ranked WHERE rn = 1)
        |SELECT d.doc_id, d.n_segs,
        |  count(k.seg_idx) AS n_kept,
        |  md5(coalesce(string_agg(k.seg, ' ' ORDER BY k.seg_idx), ''))
        |    AS text_md5
        |FROM (SELECT doc_id, (len(w)+15)//16 AS n_segs FROM t) d
        |LEFT JOIN kept k USING (doc_id)
        |GROUP BY d.doc_id, d.n_segs
        |ORDER BY doc_id""".stripMargin,
      key = "dsg"),

    // EXACT set-similarity self-join by prefix filtering (AllPairs/
    // PPJoin): every distinct-token-Jaccard >= 0.7 pair, no
    // probabilistic miss — the deterministic complement of the LSH
    // family, and therefore fully oracle-checkable: DuckDB replays the
    // same (df, token) global order, integer-exact prefix lengths,
    // prefix-share candidates, and exact intersection counts.
    QueryDef("dedup_setsim_exact", (s, d) => {
      ops.DedupOps.setSimPairsExact(t(s, d, "documents"),
          "doc_id", "text")
        .orderBy(col("a"), col("b"))
    },
      // Prefix filtering replayed move for move: same md5-long set
      // elements, same (df, hash) global order, same integer-exact
      // prefix length (7n+9)//10, same prefix-share candidates, same
      // size-compatibility cut, same intersection counts — the hash
      // match certifies the EXACT join end-to-end.
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |           FROM documents),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(w) >= 3
        |       THEN list_transform(generate_series(1, len(w) - 2),
        |            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        |       ELSE [array_to_string(w, ' ')] END AS s FROM t),
        |shd AS (SELECT doc_id, list_distinct(list_transform(s, x ->
        |  (('0x' || substr(md5(x), 1, 15))::BIGINT) % 2147483647))
        |  AS hd FROM sh),
        |tok AS (SELECT doc_id, unnest(hd) AS h FROM shd),
        |df AS (SELECT h, count(*) AS df FROM tok GROUP BY h),
        |rk AS (SELECT t.doc_id, t.h, d.df FROM tok t JOIN df d
        |       USING (h)),
        |st AS (SELECT doc_id, array_agg(h ORDER BY df, h) AS hs,
        |              count(*) AS n
        |       FROM rk GROUP BY doc_id),
        |pre AS (SELECT doc_id,
        |  unnest(hs[1 : n - (7 * n + 9) // 10 + 1]) AS h FROM st),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM pre x JOIN pre y
        |    ON x.h = y.h AND x.doc_id < y.doc_id),
        |ver AS (SELECT c.a, c.b,
        |  len(list_intersect(sa.hd, sb.hd)) AS inter,
        |  len(sa.hd) AS na, len(sb.hd) AS nb
        |  FROM cand c JOIN shd sa ON sa.doc_id = c.a
        |              JOIN shd sb ON sb.doc_id = c.b
        |  WHERE 10 * least(len(sa.hd), len(sb.hd)) >=
        |        7 * greatest(len(sa.hd), len(sb.hd)))
        |SELECT a, b,
        |  round(inter * 1.0 / (na + nb - inter), 4) AS jaccard
        |FROM ver
        |WHERE inter * 10 >= 7 * (na + nb - inter)
        |ORDER BY a, b""".stripMargin,
      key = "dpj"),

    // SimHash with the PORTABLE md5 family — the Hamming twin of
    // dedup_minhash_portable: the oracle replays per-shingle md5
    // votes, bit-majority signature, 4x15-bit bands, candidates, and
    // popcount verification, certifying the banded-Hamming pipeline
    // end-to-end cross-engine.
    QueryDef("dedup_simhash_portable", (s, d) => {
      ops.DedupOps.portableSimhashPairs(t(s, d, "documents"),
          "doc_id", "text")
        .orderBy(col("a"), col("b"))
    },
      // The portable SimHash replayed bit for bit: same md5-per-shingle
      // votes (with multiplicity), same strict-majority bit rule, same
      // band keys, same popcount cut.
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |           FROM documents),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(w) >= 3
        |       THEN list_transform(generate_series(1, len(w) - 2),
        |            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        |       ELSE [array_to_string(w, ' ')] END AS s FROM t),
        |hm AS (SELECT doc_id,
        |  (('0x' || substr(md5(unnest(s)), 1, 15))::BIGINT)
        |    % 2147483647 AS h FROM sh),
        |bits AS (SELECT doc_id, b,
        |  CASE WHEN sum(CASE WHEN (h >> b) & 1 = 1
        |                     THEN 1 ELSE -1 END) > 0
        |       THEN 1::BIGINT ELSE 0::BIGINT END AS bit
        |  FROM hm, LATERAL unnest(generate_series(0, 59)) tb(b)
        |  GROUP BY doc_id, b),
        |sig AS (SELECT doc_id, cast(sum(bit * (1::BIGINT << b))
        |                            AS BIGINT) AS sig
        |        FROM bits GROUP BY doc_id),
        |band AS (SELECT doc_id, b AS band_id,
        |  (sig >> (b * 15)) & 32767 AS band_key
        |  FROM sig, LATERAL unnest(generate_series(0, 3)) tb(b)),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM band x JOIN band y
        |    ON x.band_id = y.band_id AND x.band_key = y.band_key
        |   AND x.doc_id < y.doc_id)
        |SELECT c.a, c.b,
        |  cast(bit_count(xor(sa.sig, sb.sig)) AS BIGINT) AS hamming
        |FROM cand c JOIN sig sa ON sa.doc_id = c.a
        |            JOIN sig sb ON sb.doc_id = c.b
        |WHERE bit_count(xor(sa.sig, sb.sig)) <= 3
        |ORDER BY a, b""".stripMargin,
      key = "dhp"),

    // SimHash near-dup: 64-bit signature + banded Hamming blocking.
    QueryDef("dedup_simhash", (s, d) => {
      ops.DedupOps.simhashSummary(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      simhashOracleSql,
      key = "dsh"),

    // n-gram Jaccard near-dup via df-pruned inverted index.
    QueryDef("dedup_ngram_jaccard", (s, d) => {
      ops.DedupOps.ngramJaccardSummary(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      ngramJaccardOracleSql,
      key = "dng"),

    // Embedding-cosine near-dup via hyperplane LSH + exact verify.
    QueryDef("dedup_embedding", (s, d) => {
      ops.AnnOps.embeddingDupSummary(t(s, d, "embeddings"), "vec_id",
        "embedding").orderBy(col("vec_id"))
    },
      embeddingDupOracleSql,
      key = "dem"),

    // SemDedup semantic dedup: k-means clusters (deterministic Lloyd,
    // the IVF model) + within-cluster exact-cosine verify + keep-
    // lowest-id — removes "same meaning, different words" redundancy
    // that MinHash/SimHash (lexical overlap) cannot see. Rows-only
    // check (clustering is not SQL-expressible); the planted-near-dup
    // removal gate and the bounded-candidate shape are Round7Spec-
    // gated.
    QueryDef("dedup_semantic", (s, d) => {
      ops.AnnOps.semanticDedupSummary(t(s, d, "embeddings"), "vec_id",
        "embedding").orderBy(col("vec_id"))
    },
      semanticDedupOracleSql,
      key = "dse"),

    // Incremental dedup: a 20% "new ingest batch" checked against the
    // other 80% THROUGH ITS PERSISTED SKETCH TABLES only (bands +
    // hashed shingle sets — no corpus text re-read, no re-sketch): the
    // shape a daily ingest at 100 TB actually runs. Rows-only; exact
    // equivalence with full recompute is IncrementalDedupSpec-gated.
    QueryDef("dedup_incremental", (s, d) => {
      val all = t(s, d, "documents")
      val corpus = all.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val fresh = all.filter(pmod(col("doc_id"), lit(5)) === 0)
      val pairs = ops.DedupOps.incrementalMinhashPairs(fresh,
        ops.DedupOps.minhashBands(corpus, "doc_id", "text"),
        ops.DedupOps.shingleSets(corpus, "doc_id", "text"),
        "doc_id", "text")
      // symmetrize so a new-vs-new pair credits BOTH endpoints (the
      // final join against `fresh` drops corpus-side rows again)
      val sym = pairs.select(explode(array(
          struct(col("a").as("id"), col("b").as("partner")),
          struct(col("b").as("id"), col("a").as("partner")))).as("e"),
          col("jaccard"))
        .select(col("e.id").as("doc_id"), col("e.partner").as("partner"),
          col("jaccard"))
      val perDoc = sym.filter(col("jaccard") >= 0.8)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_dups"),
          min(col("partner")).as("dup_partner"))
      fresh.select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_dups"), lit(0L)).as("n_dups"),
          coalesce(col("dup_partner"), lit(-1L)).as("dup_partner"))
        .orderBy(col("doc_id"))
    },
      incrementalMinhashOracleSql,
      key = "dic"),

    // Transitive cluster resolution under the ORACLE: connected
    // components over CHAIN edges linking consecutive doc_ids of each
    // identical-text group (built with one window pass — no unbounded
    // per-group buffers). Chains make min-id propagation take multiple
    // hops, so this genuinely exercises the distributed CC loop, while
    // the fixpoint is SQL-expressible: cluster_id == min(doc_id) over
    // the text group.
    QueryDef("dedup_clusters_exact", (s, d) => {
      val docs = t(s, d, "documents")
      val w = Window.partitionBy(col("text")).orderBy(col("doc_id"))
      val edges = docs.select(col("doc_id"), col("text"))
        .withColumn("prev", lag(col("doc_id"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("prev").as("a"), col("doc_id").as("b"))
      ops.ClusterOps.clusterAssignments(docs, "doc_id", edges)
        .orderBy(col("doc_id"))
    },
      // Fixpoint of the distributed CC loop over identical-text chain
      // edges == per-text-group minimum, which IS SQL-expressible.
      """SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY text) AS cluster_id,
        |  doc_id = min(doc_id) OVER (PARTITION BY text) AS keep
        |FROM documents ORDER BY doc_id""".stripMargin,
      key = "dcx"),

    // Transitive NEAR-dup clusters: MinHash-LSH pairs at Jaccard >= 0.8
    // → connected components → keep-lowest-id per cluster. Rows-only
    // check (sketch pipeline not expressible in SQL); transitivity /
    // minimality / union-find equivalence are ScalaTest-gated
    // (ClusterOpsSpec).
    QueryDef("dedup_clusters", (s, d) => {
      ops.ClusterOps.nearDupClusters(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      minhashClustersOracleSql,
      key = "dcc"),

    // Cross-document repeated-span detection: word 8-grams appearing
    // in >= 2 distinct documents — the repeated-substring signal that
    // surfaces boilerplate and near-duplicate passages (the planted
    // near-dups in this corpus light it up). All codegen'd built-ins
    // (split / transform / slice / array_join); the df-style HAVING
    // n_docs >= 2 prunes the long unique tail before the top-k, and at
    // 100 TB the gram string is replaced by its xxhash64 so the
    // shuffle moves 8-byte keys (same trade as dedup_canonical,
    // documented in PLANS.md).
    QueryDef("dedup_substrings", (s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 8) // Spark sequence() would reverse
        .select(col("doc_id"), explode(transform(
          sequence(lit(0), size(col("w")) - 8),
          i => array_join(slice(col("w"), i + lit(1), lit(8)), " ")))
          .as("gram"))
        .groupBy(col("gram"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n").desc, col("gram"))
        .limit(50)
    },
      """WITH g AS (
        |  SELECT doc_id, array_to_string(w[i:i+7], ' ') AS gram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w
        |        FROM documents) d,
        |       LATERAL unnest(generate_series(1, len(w) - 7)) AS t(i)
        |)
        |SELECT gram, count(DISTINCT doc_id) AS n_docs, count(*) AS n
        |FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n DESC, gram LIMIT 50""".stripMargin,
      key = "dsu"),

    // The 100-TB variant of dedup_substrings promised in PLANS.md /
    // SURVEY §8.5: the counting shuffle moves xxhash64(gram) LONGS (8
    // bytes/key), never gram strings. Exemplar text is recovered only
    // for the survivors (n_docs >= 2): a second narrow gram pass is
    // semi-joined against the broadcast survivor hash set map-side, so
    // the only strings that ever shuffle are survivors' — on a
    // boilerplate-shaped corpus a tiny fraction of the gram stream.
    // The sort/limit runs AFTER text recovery so the (n DESC, gram)
    // tiebreak is identical to the exact query — the hash changes what
    // SHUFFLES, not what returns. The oracle is the IDENTICAL SQL as
    // dedup_substrings: a 64-bit collision would merge two grams'
    // counts and hash-mismatch, so the oracle also certifies
    // collision-freedom on this corpus.
    QueryDef("dedup_substrings_hashed", (s, d) => {
      def grams = tk(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 8)
        .select(col("doc_id"), explode(transform(
          sequence(lit(0), size(col("w")) - 8),
          i => array_join(slice(col("w"), i + lit(1), lit(8)), " ")))
          .as("gram"))
      val survivors = grams
        .select(col("doc_id"), xxhash64(col("gram")).as("gh"))
        .groupBy(col("gh"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n"))
        .filter(col("n_docs") >= 2)
      grams.join(broadcast(survivors), xxhash64(col("gram")) === col("gh"))
        .groupBy(col("gh"))
        .agg(first(col("gram")).as("gram"), // one string per 64-bit hash
          first(col("n_docs")).as("n_docs"), first(col("n")).as("n"))
        .select(col("gram"), col("n_docs"), col("n"))
        .orderBy(col("n").desc, col("gram"))
        .limit(50)
    },
      // identical oracle as dedup_substrings: the hashed plan must
      // return byte-identical results (the hash is plan-internal)
      """WITH g AS (
        |  SELECT doc_id, array_to_string(w[i:i+7], ' ') AS gram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w
        |        FROM documents) d,
        |       LATERAL unnest(generate_series(1, len(w) - 7)) AS t(i)
        |)
        |SELECT gram, count(DISTINCT doc_id) AS n_docs, count(*) AS n
        |FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n DESC, gram LIMIT 50""".stripMargin,
      key = "dsz"),

    // Exact duplicated-SPAN excision (the ExactSubstr shape of Lee et
    // al. '22, arXiv:2107.06499): remove from every document every
    // token position covered by a duplicated span of >= 8 tokens.
    // Instead of a monolithic suffix array, use the distributed-native
    // reduction: a span of s >= L tokens is duplicated iff all of its
    // s-L+1 L-token windows are duplicated, so the union of duplicated
    // L-gram windows IS the union of duplicated maximal spans — interval
    // merging comes free from the covered-index set union. Differs from
    // the paper in one deliberate way: ALL occurrences are excised (not
    // all-but-one), which keeps the result deterministic without
    // electing a survivor occurrence.
    //
    // Scale shape: the counting shuffle moves xxhash64 longs (the
    // oracle counts gram STRINGS, so a 64-bit collision would
    // hash-mismatch — the oracle certifies collision-freedom); the
    // covered-index aggregation shuffles (doc_id, idx) ints only for
    // docs that contain duplicated windows; reconstruction is one
    // left join + a map-side higher-order filter over the token array.
    // No suffix ever shuffles; nothing driver-side.
    QueryDef("dedup_span_excise", (s, d) =>
      ops.DedupOps.spanExcise(t(s, d, "documents"), "doc_id", "text", 8),
      // exact (string-counted) mirror of the hashed span-excision plan;
      // cov idx is 0-based to match Spark's lambda index
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |pos AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS gram
        |  FROM toks, LATERAL unnest(generate_series(1, len(w) - 7)) AS t(i)
        |  WHERE len(w) >= 8),
        |dup AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2),
        |cov AS (
        |  SELECT DISTINCT doc_id, pos + j AS idx
        |  FROM pos JOIN dup USING (gram),
        |       LATERAL unnest(generate_series(0, 7)) AS u(j)),
        |keep AS (
        |  SELECT toks.doc_id, w[i] AS tok, i
        |  FROM toks, LATERAL unnest(generate_series(1, len(w))) AS t(i)
        |  WHERE NOT EXISTS (SELECT 1 FROM cov
        |                    WHERE cov.doc_id = toks.doc_id
        |                      AND cov.idx = i - 1)),
        |clean AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS ctext
        |  FROM keep GROUP BY doc_id),
        |ncov AS (
        |  SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id)
        |SELECT toks.doc_id, cast(len(w) as bigint) AS n_tokens,
        |  cast(coalesce(ncov.n_removed, 0) as bigint) AS n_removed,
        |  md5(coalesce(clean.ctext, '')) AS clean_md5
        |FROM toks
        |LEFT JOIN ncov ON toks.doc_id = ncov.doc_id
        |LEFT JOIN clean ON toks.doc_id = clean.doc_id
        |ORDER BY toks.doc_id""".stripMargin,
      key = "dsx"),

    // The intervals dedup_span_excise removes, reported explicitly:
    // maximal duplicated spans per document (gaps-and-islands merge of
    // covered positions), each with start/length/content-md5. The
    // oracle mirrors the merge with the identical window arithmetic
    // over gram STRINGS — hash-green certifies both the interval
    // algebra and the excision op's hashed candidate front.
    QueryDef("dedup_span_maximal", (s, d) =>
      ops.DedupOps.spanIntervals(tk(s, d, "documents"), "doc_id", "text", 8),
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |pos AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS gram
        |  FROM toks, LATERAL unnest(generate_series(1, len(w) - 7)) AS t(i)
        |  WHERE len(w) >= 8),
        |dup AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2),
        |cov AS (
        |  SELECT DISTINCT doc_id, pos + j AS idx
        |  FROM pos JOIN dup USING (gram),
        |       LATERAL unnest(generate_series(0, 7)) AS u(j)),
        |isl AS (
        |  SELECT doc_id, idx,
        |    idx - row_number() OVER (PARTITION BY doc_id ORDER BY idx) AS grp
        |  FROM cov),
        |sp AS (
        |  SELECT doc_id, min(idx) AS span_start, count(*) AS span_len
        |  FROM isl GROUP BY doc_id, grp)
        |SELECT sp.doc_id,
        |  cast(span_start as bigint) AS span_start,
        |  cast(span_len as bigint) AS span_len,
        |  md5(array_to_string(
        |    w[cast(span_start + 1 as int) :
        |      cast(span_start + span_len as int)], ' ')) AS span_md5
        |FROM sp JOIN toks ON sp.doc_id = toks.doc_id
        |ORDER BY sp.doc_id, span_start""".stripMargin,
      key = "dsm"),

    // Corpus duplication-rate audit: per-language share of tokens
    // inside duplicated spans — the go/no-go statistic a dedup run
    // reports before anyone pays for span excision at full scale.
    QueryDef("dedup_span_stats", (s, d) => {
      val docs = tk(s, d, "documents")
      ops.DedupOps.spanCounts(docs, "doc_id", "text", 8)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("tot_tokens"),
          sum(col("n_removed")).as("dup_tokens"),
          round(sum(col("n_removed")).cast("double") /
            sum(col("n_tokens")).cast("double"), 6).as("dup_rate"),
          sum(when(col("n_removed") > 0, 1L).otherwise(0L))
            .as("n_docs_affected"))
        .orderBy(col("lang"))
    },
      """WITH toks AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
        |pos AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS gram
        |  FROM toks, LATERAL unnest(generate_series(1, len(w) - 7)) AS t(i)
        |  WHERE len(w) >= 8),
        |dup AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2),
        |cov AS (
        |  SELECT DISTINCT doc_id, pos + j AS idx
        |  FROM pos JOIN dup USING (gram),
        |       LATERAL unnest(generate_series(0, 7)) AS u(j)),
        |ncov AS (
        |  SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id)
        |SELECT lang, count(*) AS n_docs,
        |  cast(sum(len(w)) as bigint) AS tot_tokens,
        |  cast(sum(coalesce(n_removed, 0)) as bigint) AS dup_tokens,
        |  round(sum(coalesce(n_removed, 0)) * 1.0 / sum(len(w)), 6)
        |    AS dup_rate,
        |  cast(sum(CASE WHEN coalesce(n_removed, 0) > 0 THEN 1 ELSE 0 END)
        |    as bigint) AS n_docs_affected
        |FROM toks LEFT JOIN ncov USING (doc_id)
        |GROUP BY lang ORDER BY lang""".stripMargin,
      key = "dsp"),

    // Longest repeated substring via the distributed prefix-doubling
    // suffix ARRAY (SuffixArrayOps — the §8.5b literal-index path;
    // dedup_span_excise remains the fixed-L production path). Runs on
    // a bounded 50-doc slice: the build is log₂(depth) co-keyed
    // self-joins + the scale-correct distributed dense rank (per-
    // partition summaries, no global window); rows-only —
    // SuffixArraySpec anchors the array against a reference sort and
    // the LRS against a planted repeat.
    QueryDef("dedup_suffix_lrs", (s, d) =>
      ops.SuffixArrayOps.longestRepeat(
        t(s, d, "documents").filter(col("doc_id") < 50),
        "doc_id", "text", maxLen = 128, numParts = 8),
      // Mirrors SuffixArrayOps.longestRepeat without the distributed SA:
      // at oracle scale DuckDB can afford the global sort the Spark side
      // exists to avoid — lag() over lexicographically-sorted truncated
      // suffixes IS the SA adjacency (binary collation == codepoint
      // order == the prefix-doubling rank order), the max adjacent lcp
      // is the LRS length, the winner is the minimal best-length prefix
      // among max-lcp pairs (Spark's orderBy(r).limit(1) tiebreak), and
      // n_positions counts suffixes carrying the winning prefix.
      """WITH pos AS (
        |  SELECT substring(text, i, 128) AS s
        |  FROM (SELECT text FROM documents WHERE doc_id < 50) d,
        |       LATERAL unnest(generate_series(1, len(text))) AS t(i)),
        |lcps AS (
        |  SELECT least(len(list_filter(range(1, 129),
        |      i -> substring(s, 1, i) = substring(prev, 1, i))),
        |    len(s), len(prev)) AS lcp, s
        |  FROM (SELECT s, lag(s) OVER (ORDER BY s) AS prev FROM pos)
        |  WHERE prev IS NOT NULL),
        |best AS (SELECT max(lcp) AS lrs_len FROM lcps),
        |winner AS (
        |  SELECT min(substring(s, 1, (SELECT lrs_len FROM best))) AS r
        |  FROM lcps WHERE lcp = (SELECT lrs_len FROM best))
        |SELECT cast((SELECT lrs_len FROM best) as bigint) AS lrs_len,
        |  md5((SELECT r FROM winner)) AS lrs_md5,
        |  cast((SELECT count(*) FROM pos, winner
        |        WHERE substring(s, 1, (SELECT lrs_len FROM best)) = r)
        |    as bigint) AS n_positions""".stripMargin,
      key = "sfx"),

    // General-L repeated-span report answered from the PERSISTED
    // suffix-array artifact: cachedSuffixArray stores (doc_id, off,
    // sa_rank) as parquet keyed by the corpus content signature (the
    // BPE/IVF cache discipline), so every call after the first — and
    // every new L — is a parquet scan plus one boundary-exchange
    // adjacency pass, ZERO prefix-doubling jobs (job-count-gated in
    // SuffixArraySpec). Rows-only: span content reports as md5.
    QueryDef("dedup_suffix_spans", (s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") < 50)
      val sa = ops.SuffixArrayOps.cachedSuffixArray(s,
        s"$d/documents.parquet", "lt50", docs, "doc_id", "text",
        maxLen = 128, numParts = 8)
      ops.SuffixArrayOps.repeatedSpans(sa, docs, "doc_id", "text",
        minLen = 24, maxLen = 128, numParts = 8)
    },
      // Mirrors SuffixArrayOps.repeatedSpans without building a suffix
      // array: a >=24-char repeated span IS a 24-char suffix prefix
      // shared by >= 2 positions (the SA run and the prefix group are
      // the same set by contiguity), and the run's span_len — its
      // minimum ADJACENT lcp in SA order — equals lcp(min, max) of the
      // codepoint-sorted group, computed here by the monotone
      // prefix-equality count (capped by both string lengths so an
      // identical-truncated-suffix group reports its true length).
      """WITH pos AS (
        |  SELECT substring(text, i, 128) AS s
        |  FROM (SELECT text FROM documents WHERE doc_id < 50) d,
        |       LATERAL unnest(generate_series(1, len(text))) AS t(i)),
        |g AS (
        |  SELECT substring(s, 1, 24) AS p, count(*) AS n_positions,
        |         min(s) AS lo, max(s) AS hi
        |  FROM pos WHERE len(s) >= 24
        |  GROUP BY p HAVING count(*) >= 2)
        |SELECT md5(p) AS span_md5,
        |  cast(least(
        |    len(list_filter(range(1, 129),
        |      i -> substring(lo, 1, i) = substring(hi, 1, i))),
        |    len(lo), len(hi)) as bigint) AS span_len,
        |  cast(n_positions as bigint) AS n_positions
        |FROM g ORDER BY n_positions DESC, span_md5""".stripMargin,
      key = "dss")
  )

  /** DuckDB mirror of the embedding near-dup summary: 16-bit
    * hyperplane signatures, two 8-bit bands, 2..1000-sized bucket
    * pair expansion (a<b, distinct across bands), exact cosine, and
    * the symmetric per-vector rollup. */
  private lazy val embeddingDupOracleSql: String =
    s"""WITH ${hyperplaneSigCtes(16)},
       |band AS (SELECT vec_id, bb AS band_id,
       |    (sig >> (bb*8)) & 255 AS band_val
       |  FROM sigt, LATERAL unnest(generate_series(0, 1)) t(bb)),
       |okb AS (SELECT band_id, band_val FROM band
       |        GROUP BY band_id, band_val
       |        HAVING count(*) BETWEEN 2 AND 1000),
       |pairs AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM band x JOIN band y
       |    ON x.band_id = y.band_id AND x.band_val = y.band_val
       |   AND x.vec_id < y.vec_id
       |  JOIN okb ON okb.band_id = x.band_id
       |          AND okb.band_val = x.band_val),
       |ev AS (SELECT vec_id, cast(embedding as DOUBLE[]) AS v
       |       FROM embeddings),
       |scored AS (SELECT p.a, p.b,
       |    list_cosine_similarity(va.v, vb.v) AS cosine
       |  FROM pairs p JOIN ev va ON va.vec_id = p.a
       |              JOIN ev vb ON vb.vec_id = p.b),
       |sym AS (SELECT a AS id, cosine FROM scored
       |        UNION ALL SELECT b AS id, cosine FROM scored),
       |pv AS (SELECT id, count(*) AS nc, round(max(cosine), 4) AS mc
       |       FROM sym GROUP BY id)
       |SELECT e.vec_id,
       |  cast(coalesce(pv.nc, 0) as bigint) AS n_candidates,
       |  coalesce(pv.mc, -1.0) AS max_cosine
       |FROM embeddings e LEFT JOIN pv ON pv.id = e.vec_id
       |ORDER BY vec_id""".stripMargin

  /** DuckDB mirror of the SemDedup summary: cell assignment under the
    * embedded IVF centroids (first-max cosine argmax), within-cluster
    * pairs (bucket capped 10000), cosine >= 0.95 verification, and
    * the keep-lowest-id rollup. */
  private lazy val semanticDedupOracleSql: String = {
    val centroidRows = (0 until 8)
      .map(i => s"($i, {{IVF_C${i + 1}}})").mkString(",\n    ")
    s"""WITH c AS (SELECT * FROM (VALUES
       |    $centroidRows) AS t(cid, cvec)),
       |e AS (SELECT vec_id, cast(embedding as DOUBLE[]) AS v
       |      FROM embeddings),
       |asg AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT e.vec_id, e.v, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.v,
       |          cast(c.cvec as DOUBLE[])) DESC, c.cid) AS rn
       |    FROM e CROSS JOIN c) WHERE rn = 1),
       |okc AS (SELECT cid FROM asg GROUP BY cid
       |        HAVING count(*) BETWEEN 2 AND 10000),
       |pairs AS (SELECT x.vec_id AS a, y.vec_id AS b
       |  FROM asg x JOIN asg y
       |    ON x.cid = y.cid AND x.vec_id < y.vec_id
       |  JOIN okc ON okc.cid = x.cid),
       |dups AS (SELECT p.a, p.b,
       |    list_cosine_similarity(va.v, vb.v) AS cosine
       |  FROM pairs p JOIN e va ON va.vec_id = p.a
       |              JOIN e vb ON vb.vec_id = p.b
       |  WHERE list_cosine_similarity(va.v, vb.v) >= 0.95),
       |sym AS (SELECT a AS id, cosine, false AS drp FROM dups
       |        UNION ALL SELECT b AS id, cosine, true AS drp
       |        FROM dups),
       |pv AS (SELECT id, count(*) AS nd, round(max(cosine), 4) AS mc,
       |         bool_or(drp) AS dropped
       |       FROM sym GROUP BY id)
       |SELECT a.vec_id, cast(a.cid as bigint) AS cid,
       |  cast(coalesce(pv.nd, 0) as bigint) AS n_semantic_dups,
       |  coalesce(pv.mc, -1.0) AS max_cosine,
       |  CASE WHEN coalesce(pv.dropped, false) THEN 0 ELSE 1 END::BIGINT
       |    AS kept
       |FROM asg a LEFT JOIN pv ON pv.id = a.vec_id
       |ORDER BY vec_id""".stripMargin
  }

  /** DuckDB mirror of the production MinHash-LSH near-dup summary
    * ([[minhashFrontCtes]] + the per-doc rollup at the 0.8
    * threshold). */
  private lazy val minhashSummaryOracleSql: String =
    s"""WITH RECURSIVE
       |${minhashFrontCtes()},
       |sym AS (SELECT a AS id, b AS partner, j FROM jac
       |        UNION ALL SELECT b AS id, a AS partner, j FROM jac),
       |pv AS (SELECT id, count(*) AS nc,
       |         sum(CASE WHEN j >= 0.8 THEN 1 ELSE 0 END) AS nd,
       |         min(CASE WHEN j >= 0.8 THEN partner END) AS dp
       |       FROM sym GROUP BY id)
       |SELECT d.doc_id,
       |  cast(coalesce(pv.nc, 0) as bigint) AS n_candidates,
       |  cast(coalesce(pv.nd, 0) as bigint) AS n_dups,
       |  cast(coalesce(pv.dp, -1) as bigint) AS dup_partner
       |FROM docs_all d LEFT JOIN pv ON pv.id = d.doc_id
       |ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of the production near-dup CLUSTERS
    * ([[minhashFrontCtes]] edges at 0.8 + 8 unrolled min-propagation
    * rounds, the portableClustersOracleSql discipline). */
  private lazy val minhashClustersOracleSql: String = {
    val rounds = (1 to 8).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT l.node, least(l.lbl, coalesce(min(n.lbl), l.lbl))
         |    AS lbl
         |  FROM l${i - 1} l
         |  LEFT JOIN adj ad ON ad.src = l.node
         |  LEFT JOIN l${i - 1} n ON n.node = ad.dst
         |  GROUP BY l.node, l.lbl)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE
       |${minhashFrontCtes()},
       |edges AS MATERIALIZED (SELECT a, b FROM jac WHERE j >= 0.8),
       |adj AS MATERIALIZED (SELECT a AS src, b AS dst FROM edges
       |        UNION SELECT b AS src, a AS dst FROM edges),
       |l0 AS MATERIALIZED (SELECT doc_id AS node, doc_id AS lbl
       |        FROM docs_all),
       |$rounds
       |SELECT node AS doc_id, lbl AS cluster_id, node = lbl AS keep
       |FROM l8 ORDER BY doc_id""".stripMargin
  }

  /** DuckDB mirror of the incremental dedup: the same banded
    * signatures ([[minhashFrontCtes]] — the persisted sketch tables
    * hold exactly these values), corpus-side buckets compacted and
    * capped at 1000, new-vs-corpus plus new-vs-new candidates, exact
    * shingle-set Jaccard, and the fresh-side rollup at 0.8. */
  private lazy val incrementalMinhashOracleSql: String =
    s"""WITH RECURSIVE
       |${minhashFrontCtes()},
       |cb2 AS (SELECT band_id, band_val, doc_id FROM band
       |        WHERE doc_id % 5 <> 0),
       |nb2 AS (SELECT band_id, band_val, doc_id FROM band
       |        WHERE doc_id % 5 = 0),
       |cbuck AS MATERIALIZED (SELECT band_id, band_val,
       |    list(doc_id ORDER BY doc_id) AS ids
       |  FROM cb2 GROUP BY band_id, band_val
       |  HAVING count(*) <= 1000),
       |nvc AS (SELECT DISTINCT nb2.doc_id AS a, u.cid AS b
       |  FROM nb2 JOIN cbuck USING (band_id, band_val),
       |       LATERAL unnest(cbuck.ids) u(cid)
       |  WHERE u.cid <> nb2.doc_id),
       |okn AS (SELECT band_id, band_val FROM nb2
       |        GROUP BY band_id, band_val
       |        HAVING count(*) BETWEEN 2 AND 1000),
       |nvn AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM nb2 x JOIN nb2 y
       |    ON x.band_id = y.band_id AND x.band_val = y.band_val
       |   AND x.doc_id < y.doc_id
       |  JOIN okn ON okn.band_id = x.band_id
       |          AND okn.band_val = x.band_val),
       |candi AS (SELECT a, b FROM nvc UNION SELECT a, b FROM nvn),
       |jaci AS MATERIALIZED (SELECT c.a, c.b,
       |    len(list_intersect(ga.gs, gb.gs))::DOUBLE /
       |    (len(ga.gs) + len(gb.gs) -
       |     len(list_intersect(ga.gs, gb.gs))) AS j
       |  FROM candi c JOIN fullg ga ON ga.doc_id = c.a
       |              JOIN fullg gb ON gb.doc_id = c.b),
       |symi AS (SELECT a AS id, b AS partner, j FROM jaci
       |         UNION ALL SELECT b AS id, a AS partner, j FROM jaci),
       |pvi AS (SELECT id, count(*) AS nd, min(partner) AS dp
       |        FROM symi WHERE j >= 0.8 GROUP BY id)
       |SELECT f.doc_id,
       |  cast(coalesce(pvi.nd, 0) as bigint) AS n_dups,
       |  cast(coalesce(pvi.dp, -1) as bigint) AS dup_partner
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) f
       |LEFT JOIN pvi ON pvi.id = f.doc_id
       |ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of the production (FNV-hash) SimHash near-dup
    * summary: each DISTINCT token hashes once through the emulated
    * Hash64 (vocabulary-sized recursion, then a multiplicity join),
    * the 64 bit votes aggregate per doc, the signature packs (bit 63
    * via the most-negative-long addition), and the 4x16-bit
    * banded-Hamming tail replays as in the phash oracle. With this,
    * the xxhash-free production summary is cross-engine certified —
    * not just its portable md5 twin. */
  private lazy val simhashOracleSql: String = {
    val FnvPrime = 0x100000001b3L
    val C1 = 0xbf58476d1ce4e5b9L
    val C2 = 0x94d049bb133111ebL
    val stepH = sqlWrapMul(
      "xor(r.h, ('0x' || substr(b.hx, 2*r.pos + 1, 2))::BIGINT)",
      FnvPrime)
    val mix1 = sqlWrapMul(s"xor(h, ${sqlUshr("h", 30)})", C1)
    val mix2 = sqlWrapMul(s"xor(h, ${sqlUshr("h", 27)})", C2)
    s"""WITH RECURSIVE
       |tk AS (SELECT doc_id, unnest(string_split(lower(text), ' '))
       |         AS tok FROM documents),
       |tb AS (SELECT tok, hex(encode(tok)) AS hx,
       |         octet_length(encode(tok)) AS len
       |       FROM (SELECT DISTINCT tok FROM tk)),
       |rec(tok, pos, h) AS (
       |  SELECT tok, 0, (-3750763034362895579)::BIGINT FROM tb
       |  UNION ALL
       |  SELECT r.tok, r.pos + 1, $stepH
       |  FROM rec r JOIN tb b ON b.tok = r.tok WHERE r.pos < b.len),
       |fin AS (SELECT r.tok, r.h FROM rec r
       |        JOIN tb b ON b.tok = r.tok WHERE r.pos = b.len),
       |m1 AS (SELECT tok, $mix1 AS h FROM fin),
       |m2 AS (SELECT tok, $mix2 AS h FROM m1),
       |th AS (SELECT tok, xor(h, ${sqlUshr("h", 31)}) AS h FROM m2),
       |votes AS (SELECT t.doc_id, g.bb,
       |    sum(CASE WHEN (th.h >> g.bb) & 1 = 1 THEN 1 ELSE -1 END)
       |      AS v
       |  FROM tk t JOIN th ON th.tok = t.tok,
       |       LATERAL unnest(generate_series(0, 63)) g(bb)
       |  GROUP BY t.doc_id, g.bb),
       |sig AS (SELECT doc_id,
       |  cast(sum(CASE WHEN v > 0 AND bb < 63
       |                THEN (1::BIGINT << bb) ELSE 0 END) as BIGINT)
       |  + CASE WHEN max(CASE WHEN bb = 63 AND v > 0
       |                       THEN 1 ELSE 0 END) = 1
       |         THEN (-9223372036854775808)::BIGINT ELSE 0 END
       |    AS simhash
       |  FROM votes GROUP BY doc_id),
       |band AS (SELECT doc_id, bb AS band_id,
       |  (simhash >> (bb*16)) & 65535 AS band_val
       |  FROM sig, LATERAL unnest(generate_series(0, 3)) t(bb)),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM band x JOIN band y
       |    ON x.band_id = y.band_id AND x.band_val = y.band_val
       |   AND x.doc_id < y.doc_id),
       |near AS (SELECT c.a, c.b FROM cand c
       |  JOIN sig pa ON pa.doc_id = c.a
       |  JOIN sig pb ON pb.doc_id = c.b
       |  WHERE bit_count(xor(pa.simhash, pb.simhash)) <= 3),
       |sym AS (SELECT a AS id FROM near
       |        UNION ALL SELECT b AS id FROM near),
       |cnt AS (SELECT id, count(*) AS n FROM sym GROUP BY id)
       |SELECT s.doc_id, s.simhash,
       |  cast(coalesce(c.n, 0) as bigint) AS n_near
       |FROM sig s LEFT JOIN cnt c ON c.id = s.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** DuckDB mirror of the character-n-gram Jaccard near-dup summary:
    * every distinct 8-byte window of the lowercased text hashes once
    * through the emulated Hash64 (the gram's own hex string carries
    * the recursion bytes — no side table), docs keep their signed-
    * ascending bottom-32 distinct hashes as the inverted-index sample
    * (the kernel's sortedDistinct + slice), candidate pairs need a
    * 2..10-doc gram bucket and >= 2 shared sampled grams, and the
    * exact Jaccard verifies over the FULL distinct hash sets. */
  private lazy val ngramJaccardOracleSql: String = {
    val FnvPrime = 0x100000001b3L
    val C1 = 0xbf58476d1ce4e5b9L
    val C2 = 0x94d049bb133111ebL
    val stepH = sqlWrapMul(
      "xor(r.h, ('0x' || substr(r.ghx, 2*r.pos + 1, 2))::BIGINT)",
      FnvPrime)
    val mix1 = sqlWrapMul(s"xor(h, ${sqlUshr("h", 30)})", C1)
    val mix2 = sqlWrapMul(s"xor(h, ${sqlUshr("h", 27)})", C2)
    s"""WITH RECURSIVE
       |d AS (SELECT doc_id, hex(encode(lower(text))) AS hx,
       |        octet_length(encode(lower(text))) AS len
       |      FROM documents),
       |gpos AS (SELECT doc_id,
       |    substr(hx, 2*p + 1,
       |      2 * (CASE WHEN len <= 8 THEN len ELSE 8 END)) AS ghx
       |  FROM d, LATERAL unnest(generate_series(0,
       |    CASE WHEN len <= 8 THEN 0 ELSE len - 8 END)) t(p)),
       |gset AS (SELECT DISTINCT ghx FROM gpos),
       |rec(ghx, pos, h) AS (
       |  SELECT ghx, 0, (-3750763034362895579)::BIGINT FROM gset
       |  UNION ALL
       |  SELECT r.ghx, r.pos + 1, $stepH
       |  FROM rec r WHERE 2*r.pos < length(r.ghx)),
       |fin AS (SELECT ghx, h FROM rec WHERE 2*pos = length(ghx)),
       |m1 AS (SELECT ghx, $mix1 AS h FROM fin),
       |m2 AS (SELECT ghx, $mix2 AS h FROM m1),
       |gh AS (SELECT ghx, xor(h, ${sqlUshr("h", 31)}) AS h FROM m2),
       |docg AS (SELECT DISTINCT g.doc_id, gh.h
       |         FROM gpos g JOIN gh ON gh.ghx = g.ghx),
       |sl AS (SELECT doc_id, h FROM (
       |    SELECT doc_id, h, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY h) AS rn FROM docg) WHERE rn <= 32),
       |okg AS (SELECT h FROM sl GROUP BY h
       |        HAVING count(*) BETWEEN 2 AND 10),
       |cand AS (SELECT a, b FROM (
       |    SELECT s1.doc_id AS a, s2.doc_id AS b
       |    FROM sl s1 JOIN sl s2 ON s1.h = s2.h
       |      AND s1.doc_id < s2.doc_id
       |    JOIN okg ON okg.h = s1.h)
       |  GROUP BY a, b HAVING count(*) >= 2),
       |fullg AS (SELECT doc_id, list(h ORDER BY h) AS gs
       |          FROM docg GROUP BY doc_id),
       |ver AS (SELECT c.a, c.b,
       |    len(list_intersect(ga.gs, gb.gs)) AS inter,
       |    len(ga.gs) AS na, len(gb.gs) AS nb
       |  FROM cand c JOIN fullg ga ON ga.doc_id = c.a
       |              JOIN fullg gb ON gb.doc_id = c.b),
       |jac AS (SELECT a, b, inter * 1.0 / (na + nb - inter) AS j
       |        FROM ver),
       |sym AS (SELECT a AS id, j FROM jac
       |        UNION ALL SELECT b AS id, j FROM jac),
       |agg AS (SELECT id, round(max(j), 4) AS mj, count(*) AS nc
       |        FROM sym GROUP BY id)
       |SELECT dd.doc_id, coalesce(a.mj, 0.0) AS max_jaccard,
       |  cast(coalesce(a.nc, 0) as bigint) AS n_candidates
       |FROM documents dd LEFT JOIN agg a ON a.id = dd.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  private lazy val portableClustersOracleSql: String =
    s"""WITH $portableClusterCtes
       |SELECT node AS doc_id, lbl AS cluster_id, node = lbl AS keep
       |FROM l8 ORDER BY doc_id""".stripMargin
}

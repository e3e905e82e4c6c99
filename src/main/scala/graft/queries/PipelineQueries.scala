package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{BpeOps, TextOps}

/** Training-data curation pipelines: quality gates, decontamination,
  * mixing, classifier scoring and the end-to-end curation chains. */
object PipelineQueries {
  import QueryHelpers._

  val defs: Seq[QueryDef] = Seq(
    // ★ r13: TRAINED language ID — char-bigram multinomial Naive
    // Bayes, learned from the labeled seed split (doc_id%10<3) with
    // one count aggregate, scored map-side against the broadcast
    // model (the quality-classifier discipline). Log-probs are
    // integer micro-units quantized on the driver, so per-doc scores
    // are exact integer sums — shuffle-order-safe and bit-identical
    // in the oracle's embedded-model replay. Output: the held-out
    // confusion matrix vs the true label (the eval a pipeline reports
    // before trusting pred_lang); LangIdSpec gates accuracy >= the
    // marker-lexicon heuristic on the same corpus.
    QueryDef("pipeline_langid_trained", (s, d) => {
      val derived = tk(s, d, "documents").select(col("doc_id"),
        col("lang"),
        ops.LangIdOps.derivedText(col("text"), col("lang"),
          col("doc_id")).as("text2"))
      val model = ops.LangIdOps.train(s, derived)
      ops.LangIdOps.score(s,
        derived.filter(pmod(col("doc_id"), lit(10)) >= 3), model)
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("pred_lang"))
    },
      langidTrainedOracleSql),

    // Unigram LM perplexity of every document against a model trained
    // on the corpus itself — the CCNet/KenLM statistical quality
    // signal (boilerplate/gibberish/wrong-language docs sit far from
    // the corpus distribution). Training is ONE vocab aggregate;
    // corpus scalars ride as a broadcast stats row; scoring is a
    // co-keyed tf⋈vocab join. Per-term NLL rounded then decimal-
    // summed (dsum discipline) so per-doc totals are shuffle-order-
    // exact; ppl exponentiates the 8-dp-rounded average.
    QueryDef("pipeline_lm_ppl", (s, d) => {
      TextOps.lmPerplexity(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // Mirrors TextOps.lmPerplexity exactly: same add-0.5 smoothing,
      // same round-12 → DECIMAL(28,14) per-term discipline, same
      // exp(round(·,8)) guard.
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms
        |       WHERE term <> '' GROUP BY doc_id, term),
        |vocab AS (SELECT term, cast(sum(tf) as bigint) AS c
        |          FROM tf GROUP BY term),
        |stats AS (SELECT cast(sum(c) as bigint) AS total,
        |                 count(*) AS v FROM vocab),
        |contrib AS (
        |  SELECT tf.doc_id,
        |    CAST(round(tf.tf * -ln((vocab.c + 0.5)
        |      / (stats.total + 0.5 * stats.v)), 12)
        |      AS DECIMAL(28,14)) AS term_nll,
        |    tf.tf
        |  FROM tf JOIN vocab USING (term) CROSS JOIN stats),
        |agg AS (SELECT doc_id, sum(term_nll) AS nll,
        |               cast(sum(tf) as bigint) AS n_tokens
        |        FROM contrib GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  round(CAST(nll AS DOUBLE) / n_tokens, 6) AS avg_nll,
        |  round(exp(round(CAST(nll AS DOUBLE) / n_tokens, 8)), 4) AS ppl
        |FROM agg ORDER BY doc_id""".stripMargin,
      key = "plm"),

    // Repetition-aware SOFT dedup (the SemDeDup/D4 retention policy):
    // hard dedup drops every non-representative near-dup, which
    // over-prunes clusters whose members differ meaningfully; soft
    // dedup keeps the representative ALWAYS and every other member
    // with probability 1/cluster_size, so a cluster's expected
    // surviving mass is ~constant regardless of how many times its
    // content was crawled. The keep decision is the portable Knuth
    // hash cross-multiplied in DECIMAL(38,0) (h·size < 2^32 — no
    // float division, DuckDB replays in HUGEINT). Cluster sizes are
    // one bounded aggregate over the assignment manifest; at 100 TB
    // nothing here is wider than (doc_id, cluster_id, long).
    QueryDef("pipeline_soft_dedup", (s, d) => {
      val docs = t(s, d, "documents")
      val edges = ops.DedupOps.portableMinhashPairs(docs, "doc_id",
          "text", threshold = 0.8)
        .select(col("a"), col("b"))
      val asg = ops.ClusterOps.clusterAssignments(docs, "doc_id", edges)
      val sizes = asg.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("c_size"))
      val dec = org.apache.spark.sql.types.DataTypes
        .createDecimalType(38, 0)
      asg.join(sizes, Seq("cluster_id"))
        .select(col("doc_id"), col("cluster_id"), col("c_size"),
          (col("keep") ||
            knuthHash(col("doc_id")).cast(dec) * col("c_size").cast(dec)
              < lit(4294967296L).cast(dec)).as("kept"))
        .orderBy(col("doc_id"))
    },
      softDedupOracleSql,
      key = "psd"),

    // Eval-set decontamination sweep: every 50th doc plays the eval
    // set; each remaining corpus doc reports its distinct shared
    // 3-token shingles and a contamination flag. Rows-only (the
    // shingle-hash kernel has no ANSI mirror); exact equivalence vs a
    // raw-shingle intersection ground truth is spec-gated.
    QueryDef("pipeline_decontaminate", (s, d) => {
      val all = t(s, d, "documents")
      val evalSet = all.filter(pmod(col("doc_id"), lit(50)) === 0)
      val corpus = all.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      ops.DedupOps.evalOverlap(corpus, evalSet, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      deconOracleSql,
      key = "pde"),

    // Cross-source n-gram overlap matrix — the pairwise
    // redundancy/contamination report between corpus sources
    // (ops.DedupOps.sourceOverlap): distinct-shingle intersection,
    // both containment directions, Jaccard; zero-overlap pairs kept.
    // Shingles travel as codegen'd 64-bit kernel hashes; the oracle
    // recounts the raw gram strings.
    QueryDef("pipeline_source_overlap", (s, d) =>
      ops.DedupOps.sourceOverlap(t(s, d, "documents"), "source", "text")
        .orderBy(col("src_a"), col("src_b")),
      // Cross-source overlap: recounts the gram STRINGS (the decon
      // family's discipline — an FNV collision in the Spark kernel
      // surfaces as a mismatch). Short-doc semantics mirror the kernel:
      // a document under shingleN tokens contributes the single
      // whole-join gram.
      """WITH d AS (
        |  SELECT source, string_split(lower(text), ' ') AS w
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT source AS src,
        |    CASE WHEN len(w) <= 3 THEN array_to_string(w, ' ')
        |         ELSE w[i] || ' ' || w[i+1] || ' ' || w[i+2] END AS gram
        |  FROM d, LATERAL unnest(
        |    generate_series(1, greatest(1, len(w) - 2))) t(i)),
        |s AS (SELECT src, count(*) AS n FROM g GROUP BY src),
        |p AS (SELECT a.src AS src_a, b.src AS src_b,
        |             a.n AS n_a, b.n AS n_b
        |      FROM s a, s b WHERE a.src < b.src),
        |i AS (SELECT ga.src AS src_a, gb.src AS src_b,
        |             count(*) AS n_common
        |      FROM g ga JOIN g gb
        |        ON ga.gram = gb.gram AND ga.src < gb.src
        |      GROUP BY 1, 2)
        |SELECT p.src_a, p.src_b,
        |  coalesce(i.n_common, 0) AS n_common, p.n_a, p.n_b,
        |  round(cast(coalesce(i.n_common, 0) AS double) / p.n_a, 4)
        |    AS contain_a,
        |  round(cast(coalesce(i.n_common, 0) AS double) / p.n_b, 4)
        |    AS contain_b,
        |  round(cast(coalesce(i.n_common, 0) AS double)
        |    / (p.n_a + p.n_b - coalesce(i.n_common, 0)), 4) AS jaccard
        |FROM p LEFT JOIN i ON p.src_a = i.src_a AND p.src_b = i.src_b
        |ORDER BY p.src_a, p.src_b""".stripMargin),

    // The per-source DATA CARD — the release report a corpus ships
    // with, composing five already-certified machineries into one
    // table: docs and trained-BPE token counts, language breadth,
    // exact-duplicate membership (md5, counted corpus-wide),
    // eval-contamination verdicts (the pipeline_decontaminate rule),
    // and trained-quality-classifier pass counts. Every column is an
    // integer count, so the composition stays hash-exact. Scale
    // shape: one corpus scan per component — md5 dup counting
    // shuffles 16-byte hashes, the gram join broadcasts the eval
    // side, the classifier scores map-side with broadcast
    // coefficients, and everything meets at a sources-sized join.
    QueryDef("pipeline_data_card", (s, d) => {
      val docs = t(s, d, "documents")
      val bpe = BpeOps.cachedTrain(s, s"$d/documents.parquet", docs,
        col("text"), numMerges = 64)
      val base = docs.select(col("doc_id"), col("source"), col("lang"),
        size(BpeOps.encode(col("text"), bpe)).cast("long").as("n_tok"),
        md5(col("text")).as("h"))
      val perSrc = base.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"))
      val dups = base.groupBy(col("h")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select(col("h"))
      val dupSrc = base.join(dups, Seq("h"), "leftsemi")
        .groupBy(col("source")).agg(count(lit(1)).as("exact_dup_docs"))
      val srcOf = docs.select(col("doc_id"), col("source"))
      val cont = ops.DedupOps.evalOverlap(
          docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(50)) === 0),
          "doc_id", "text")
        .filter(col("contaminated"))
        .join(srcOf, Seq("doc_id"))
        .groupBy(col("source")).agg(count(lit(1)).as("contaminated_docs"))
      val feats = ops.QualityClassifierOps.featurize(docs, col("text"))
        .localCheckpoint()
      val beta = ops.QualityClassifierOps.cachedTrain(s,
        s"$d/documents.parquet", feats)
      val clfSrc = feats
        .withColumn("clf_pass",
          (round(ops.QualityClassifierOps.score(beta), 6) >= 0.5)
            .cast("long"))
        .join(srcOf, Seq("doc_id"))
        .groupBy(col("source")).agg(sum(col("clf_pass")).as("clf_pass_docs"))
      perSrc
        .join(dupSrc, Seq("source"), "left")
        .join(cont, Seq("source"), "left")
        .join(clfSrc, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_langs"),
          coalesce(col("exact_dup_docs"), lit(0L)).as("exact_dup_docs"),
          coalesce(col("contaminated_docs"), lit(0L))
            .as("contaminated_docs"),
          coalesce(col("clf_pass_docs"), lit(0L)).as("clf_pass_docs"))
        .orderBy(col("source"))
    },
      dataCardOracleSql,
      key = "pdd"),

    // Span-level decontamination: EXCISE the eval-overlapping 8-token
    // spans from each corpus document and keep the rest — the
    // surgical alternative to pipeline_decontaminate's whole-doc
    // verdicts (drop a leaked benchmark string, not the document).
    // Same split as the other decon queries (doc_id % 50 == 0 is the
    // eval release); the eval side broadcasts as distinct 64-bit gram
    // hashes, the corpus is read once, and the oracle recounts the
    // gram STRINGS so a hash collision can never silently excise the
    // wrong span. See DedupOps.evalSpanExcise.
    QueryDef("pipeline_decon_excise", (s, d) => {
      val all = t(s, d, "documents")
      ops.DedupOps.evalSpanExcise(
        all.filter(pmod(col("doc_id"), lit(50)) =!= 0),
        all.filter(pmod(col("doc_id"), lit(50)) === 0),
        "doc_id", "text", minLen = 8)
    },
      // the span-excision mirror with the covered set sourced from the
      // EVAL release's gram strings instead of a corpus self-count
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE doc_id % 50 != 0),
        |ev AS (
        |  SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS gram
        |  FROM (SELECT string_split(text, ' ') AS w FROM documents
        |        WHERE doc_id % 50 = 0) e,
        |       LATERAL unnest(generate_series(1, len(w) - 7)) AS t(i)
        |  WHERE len(w) >= 8),
        |pos AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS gram
        |  FROM toks, LATERAL unnest(generate_series(1, len(w) - 7)) AS t(i)
        |  WHERE len(w) >= 8),
        |cov AS (
        |  SELECT DISTINCT doc_id, pos + j AS idx
        |  FROM pos JOIN ev USING (gram),
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
      key = "pdx"),

    // Decontamination behind a BLOOM-GATED first stage: the eval set's
    // shingle hashes compress to a broadcast bloom filter, the corpus
    // gram stream is pruned map-side inside codegen (no false
    // negatives possible), and only the surviving sliver reaches the
    // exact join — the shape that scales to an eval set too large to
    // broadcast as a hash table. Byte-identical to
    // pipeline_decontaminate (spec-gated equality); rows-only here
    // (xxhash shingles are not DuckDB-reproducible, same as the exact
    // variant).
    QueryDef("pipeline_decon_bloom", (s, d) => {
      val all = t(s, d, "documents")
      val evalSet = all.filter(pmod(col("doc_id"), lit(50)) === 0)
      val corpus = all.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      // the filter bytes are the persisted per-eval-release artifact:
      // built once, keyed by the eval source's content signature, and
      // probed by every later corpus batch without an eval re-read
      // (spec-gated byte-identity with the fresh build)
      val bytes = ops.DedupOps.cachedEvalBloom(s,
        s"$d/documents.parquet", "evalmod50",
        ops.DedupOps.evalShingleGrams(evalSet, "text"))
      ops.DedupOps.evalOverlapBloom(corpus, evalSet, "doc_id", "text",
        bloomBytes = Some(bytes))
        .orderBy(col("doc_id"))
    },
      // the bloom gate has no false negatives and its false positives
      // die in the exact join — output is IDENTICAL to the exact
      // variant (spec-gated), so the same oracle certifies both
      deconOracleSql,
      key = "pdb"),

    // MULTI-SUITE decontamination in ONE corpus pass: real pipelines
    // screen against many eval suites at once (MMLU + GSM + HumanEval,
    // ...), and N separate evalOverlap sweeps would scan the corpus N
    // times. Here each suite's distinct shingle hashes fold into ONE
    // broadcast gram->bitmask table (bit i = gram appears in suite i),
    // the corpus gram stream joins it once, and the per-suite overlap
    // counts unpack from the mask inside the SAME aggregation — corpus
    // scans and shuffles are INDEPENDENT of the suite count (the mask
    // widens to 64 suites for free). Oracle: per-suite raw-gram
    // recounts (the deconOracleSql discipline — hash match also
    // certifies collision-freedom).
    QueryDef("pipeline_decon_multi", (s, d) => {
      val all = t(s, d, "documents")
      def grams(df: DataFrame) = df.select(col("doc_id"),
        explode(graft.functions.HashFunctions.shingleHashes(
          ops.DedupOps.tokens(col("text")), 3)).as("g"))
      val suiteGrams = (0 to 2).map { i =>
        grams(all.filter(pmod(col("doc_id"), lit(50)) === i))
          .select(col("g"), lit(1L << i).as("m"))
      }.reduce(_ union _)
      val masks = suiteGrams.groupBy(col("g"))
        .agg(expr("bit_or(m)").as("mask"))
      val corpus = all.filter(pmod(col("doc_id"), lit(50)) >= 3)
      val counts = grams(corpus).join(broadcast(masks), Seq("g"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("mask").bitwiseAND(lit(1L))).as("n_s0"),
          sum(shiftright(col("mask"), 1).bitwiseAND(lit(1L))).as("n_s1"),
          sum(shiftright(col("mask"), 2).bitwiseAND(lit(1L))).as("n_s2"))
      corpus.select(col("doc_id"))
        .join(counts, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_s0"), lit(0L)).as("n_s0"),
          coalesce(col("n_s1"), lit(0L)).as("n_s1"),
          coalesce(col("n_s2"), lit(0L)).as("n_s2"))
        .withColumn("contaminated",
          greatest(col("n_s0"), col("n_s1"), col("n_s2")) >= 2)
        .orderBy(col("doc_id"))
    },
      // Per-suite raw-gram recounts (deconOracleSql discipline); the
      // bitmask single-pass structure is a Spark-side optimization the
      // oracle need not mirror — only the counts must match.
      """WITH docs AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id,
        |    CASE WHEN len(w) <= 3 THEN array_to_string(w, ' ')
        |         ELSE array_to_string(w[i:i+2], ' ') END AS gram
        |  FROM docs,
        |       LATERAL unnest(generate_series(1, greatest(len(w) - 2, 1)))
        |         AS t(i)),
        |c AS (SELECT doc_id, gram FROM g WHERE doc_id % 50 >= 3),
        |e0 AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
        |e1 AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 1),
        |e2 AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 2),
        |o0 AS (SELECT doc_id, count(*) AS n FROM c JOIN e0 USING (gram)
        |       GROUP BY doc_id),
        |o1 AS (SELECT doc_id, count(*) AS n FROM c JOIN e1 USING (gram)
        |       GROUP BY doc_id),
        |o2 AS (SELECT doc_id, count(*) AS n FROM c JOIN e2 USING (gram)
        |       GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(o0.n, 0) AS n_s0,
        |  coalesce(o1.n, 0) AS n_s1,
        |  coalesce(o2.n, 0) AS n_s2,
        |  greatest(coalesce(o0.n, 0), coalesce(o1.n, 0),
        |    coalesce(o2.n, 0)) >= 2 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 50 >= 3) d
        |LEFT JOIN o0 USING (doc_id)
        |LEFT JOIN o1 USING (doc_id)
        |LEFT JOIN o2 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
      key = "pdm"),

    // SEMANTIC decontamination — the embedding-level companion of the
    // n-gram variants above: a paraphrased eval item shares no
    // shingles but sits next to its source in embedding space. The
    // eval set broadcasts (eval sets are always small); each corpus
    // vector's max cosine over it is computed map-side by the
    // codegen'd kernel, and the per-doc argmax is a partial-aggregated
    // struct max (tiebreak lowest eval id), so only one row per corpus
    // doc ever moves. Oracle: DuckDB list_cosine_similarity, the
    // ann_brute discipline (round(4) on the VALUE, raw sim for the
    // argmax — the kernels agree exactly, ann_brute's hash match is
    // the standing proof).
    QueryDef("pipeline_decon_semantic", (s, d) => {
      val emb = t(s, d, "embeddings")
      val evalSet = broadcast(
        emb.filter(pmod(col("vec_id"), lit(50)) === 0)
          .select(col("vec_id").as("eval_id"),
            col("embedding").as("eval_vec")))
      emb.filter(pmod(col("vec_id"), lit(50)) =!= 0)
        .crossJoin(evalSet)
        .withColumn("sim", graft.functions.VectorFunctions
          .cosineSim(col("embedding"), col("eval_vec")))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("sim"), (-col("eval_id")).as("neg_id")))
          .as("m"))
        .select(col("vec_id"), round(col("m.sim"), 4).as("max_sim"),
          (-col("m.neg_id")).as("nearest_eval_id"))
        // testdata vectors are synthetic-random (max observed pair
        // cosine ~0.51), so the flag threshold is calibrated to the
        // corpus; production embeddings use ~0.9
        .filter(col("max_sim") >= 0.4)
        .orderBy(col("vec_id"))
    },
      """WITH ev AS (
        |  SELECT vec_id AS eval_id, cast(embedding as DOUBLE[]) AS evec
        |  FROM embeddings WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT e.vec_id, ev.eval_id,
        |    list_cosine_similarity(cast(e.embedding as DOUBLE[]), ev.evec)
        |      AS sim
        |  FROM embeddings e CROSS JOIN ev
        |  WHERE e.vec_id % 50 <> 0),
        |am AS (
        |  SELECT vec_id, sim, eval_id,
        |    row_number() OVER (PARTITION BY vec_id
        |                       ORDER BY sim DESC, eval_id) AS rn
        |  FROM scored)
        |SELECT vec_id, round(sim, 4) AS max_sim,
        |  eval_id AS nearest_eval_id
        |FROM am WHERE rn = 1 AND round(sim, 4) >= 0.4
        |ORDER BY vec_id""".stripMargin,
      key = "pds"),

    // Flagship end-to-end curation pipeline: score → quality-filter →
    // fingerprint-dedup (keep lowest doc_id per fingerprint) → curated
    // corpus stats. Every stage is a training-data op from §8.3; the
    // whole composition stays oracle-checkable.
    QueryDef("pipeline_curate", (s, d) => {
      val surviving = curateSurvivors(s, d)
      val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      surviving
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("pred_lang"), col("n_tokens"),
          col("quality_score"))
        .orderBy(col("doc_id"))
    },
      s"""WITH scored AS (
         |  SELECT doc_id,
         |    ${TextOps.sql.tokenCount} AS n_tokens,
         |    round(least(1.0, ${TextOps.sql.tokenCount} / 100.0) *
         |      (1.0 - cast(${TextOps.sql.patCount(TextOps.sql.stopword)}
         |                  as double)
         |             / ${TextOps.sql.tokenCount}), 4) AS quality_score,
         |    ${TextOps.sql.fingerprint} AS fp,
         |    CASE WHEN ${TextOps.sql.patCount(TextOps.sql.zh)} > 0 THEN 'zh'
         |         WHEN ${TextOps.sql.patCount(TextOps.sql.en)} >=
         |              greatest(${TextOps.sql.patCount(TextOps.sql.fr)},
         |                ${TextOps.sql.patCount(TextOps.sql.es)},
         |                ${TextOps.sql.patCount(TextOps.sql.de)}) THEN 'en'
         |         WHEN ${TextOps.sql.patCount(TextOps.sql.fr)} >=
         |              greatest(${TextOps.sql.patCount(TextOps.sql.es)},
         |                ${TextOps.sql.patCount(TextOps.sql.de)}) THEN 'fr'
         |         WHEN ${TextOps.sql.patCount(TextOps.sql.es)} >=
         |              ${TextOps.sql.patCount(TextOps.sql.de)} THEN 'es'
         |         ELSE 'de' END AS pred_lang
         |  FROM documents),
         |surviving AS (SELECT * FROM scored WHERE quality_score >= 0.3),
         |dedup AS (
         |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id)
         |    AS rn
         |  FROM surviving)
         |SELECT doc_id, pred_lang, n_tokens, quality_score
         |FROM dedup WHERE rn = 1
         |ORDER BY doc_id""".stripMargin,
      key = "pcu"),

    // Deterministic domain-mixture sampling: down-weight tail sources
    // to a target mix with a multiplicative-hash keep rule
    // (doc_id * 2654435761 mod 2^32 — Knuth '73) — reproducible across
    // runs and engines, no RNG state, and decorrelated from the id
    // sequence (a plain doc_id mod rule aliases with this corpus's
    // id↔source striping). One aggregation, no shuffle of text.
    QueryDef("pipeline_mix", (s, d) => {
      val bucket = knuthBucket(col("doc_id"), 10)
      val rate = when(col("source").isin("src0", "src1", "src2", "src3"),
        lit(10)).otherwise(lit(3)) // head sources 100%, tail 30%
      t(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(bucket < rate, 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("source"))
    },
      s"""SELECT source, count(*) AS n_total,
         |  cast(sum(CASE WHEN ${knuthHashSql("doc_id")} % 10 <
         |      (CASE WHEN source IN ('src0','src1','src2','src3')
         |            THEN 10 ELSE 3 END)
         |    THEN 1 ELSE 0 END) as bigint) AS n_kept
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,
      key = "pmx"),

    // Mixture budget planning: given target per-language mixture
    // weights and a total token budget (here the full corpus size —
    // i.e. rebalance the corpus to the target mixture at constant
    // volume), emit the per-language sampling plan a dataloader
    // executes — available tokens, target tokens, raw rate (exceeds 1
    // for upweighted strata), epoch count (ceil of rate: full passes
    // over the stratum), and the within-epoch keep rate. This is the
    // planning step BEFORE pipeline_mix's keep rule runs; at 100 TB it
    // is one aggregation over per-lang token sums (a rows-per-language
    // table) plus a broadcast scalar — nothing corpus-shaped moves.
    QueryDef("pipeline_budget", (s, d) => {
      val weight = when(col("lang") === "en", 0.40)
        .when(col("lang") === "zh", 0.20)
        .when(col("lang") === "fr", 0.15)
        .when(col("lang") === "es", 0.15)
        .otherwise(0.10)
      val perLang = t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(sum(TextOps.tokenCount(col("text"))).as("avail_tokens"))
      val budget = t(s, d, "documents")
        .agg(sum(TextOps.tokenCount(col("text"))).as("budget"))
      perLang.crossJoin(broadcast(budget))
        .withColumn("target_tokens",
          round(weight * col("budget"), 2))
        .withColumn("rate",
          round(col("target_tokens") / col("avail_tokens"), 6))
        .withColumn("epochs", ceil(col("rate")).cast("bigint"))
        .withColumn("keep_rate_per_epoch",
          round(col("rate") / col("epochs"), 6))
        .select(col("lang"), col("avail_tokens"), col("target_tokens"),
          col("rate"), col("epochs"), col("keep_rate_per_epoch"))
        .orderBy(col("lang"))
    },
      s"""WITH pl AS (
         |  SELECT lang, ${TextOps.sql.sumTokens} AS avail_tokens
         |  FROM documents GROUP BY lang),
         |b AS (SELECT cast(${TextOps.sql.sumTokens} as double) AS budget
         |      FROM documents),
         |m AS (
         |  SELECT lang, avail_tokens,
         |    round((CASE WHEN lang = 'en' THEN 0.40
         |                WHEN lang = 'zh' THEN 0.20
         |                WHEN lang = 'fr' THEN 0.15
         |                WHEN lang = 'es' THEN 0.15
         |                ELSE 0.10 END) * budget, 2) AS target_tokens
         |  FROM pl, b),
         |r AS (
         |  SELECT lang, avail_tokens, target_tokens,
         |    round(target_tokens / avail_tokens, 6) AS rate
         |  FROM m)
         |SELECT lang, avail_tokens, target_tokens, rate,
         |  cast(ceil(rate) as bigint) AS epochs,
         |  round(rate / cast(ceil(rate) as bigint), 6)
         |    AS keep_rate_per_epoch
         |FROM r ORDER BY lang""".stripMargin,
      key = "pbu"),

    // Temperature-scaled mixture sampling (the multilingual-training
    // standard: sample language l ∝ p_l^α, α = 0.7 here — upweights
    // tail languages without drowning the head; XLM-R's exponent).
    // Emits per-language natural share p, temperature share q,
    // downsampling-only rate (q/p renormalized so the most-boosted
    // language keeps 100%), and expected kept docs. One per-lang
    // aggregate + broadcast scalars over the languages-sized table —
    // nothing corpus-shaped moves at any scale. Doubles are rounded
    // at every emitted column (the ln/pow discipline used by
    // text_tfidf_top) so cross-engine pow ulps cannot flip the hash.
    QueryDef("pipeline_mix_temperature", (s, d) => {
      val alpha = 0.7
      // the corpus is scanned ONCE (the per-lang aggregate); the
      // global scalars (total, Z, max-rate) are single-partition
      // windows over the LANGUAGES-sized result — O(#languages) rows
      // through one task, never a second corpus pass (the
      // crossJoin-per-scalar formulation re-derived the aggregate
      // from parquet for every scalar branch)
      val all = Window.partitionBy()
      t(s, d, "documents")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .withColumn("p", col("n_docs") / sum(col("n_docs")).over(all))
        .withColumn("pa", pow(col("p"), lit(alpha)))
        .withColumn("q", col("pa") / sum(col("pa")).over(all))
        .withColumn("rel", col("q") / col("p"))
        .withColumn("rate", col("rel") / max(col("rel")).over(all))
        .select(col("lang"), col("n_docs"),
          round(col("p"), 6).as("p"),
          round(col("q"), 6).as("q"),
          round(col("rate"), 6).as("rate"),
          round(col("n_docs") * col("rate"), 2).as("n_kept_expected"))
        .orderBy(col("lang"))
    },
      """WITH pl AS (
        |  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |p1 AS (
        |  SELECT lang, n_docs,
        |    n_docs / cast((SELECT sum(n_docs) FROM pl) as double) AS p
        |  FROM pl),
        |p2 AS (
        |  SELECT lang, n_docs, p, pow(p, 0.7) AS pa FROM p1),
        |p3 AS (
        |  SELECT lang, n_docs, p,
        |    pa / (SELECT sum(pa) FROM p2) AS q FROM p2),
        |p4 AS (
        |  SELECT lang, n_docs, p, q, q / p AS rel FROM p3)
        |SELECT lang, n_docs, round(p, 6) AS p, round(q, 6) AS q,
        |  round(rel / (SELECT max(rel) FROM p4), 6) AS rate,
        |  round(n_docs * rel / (SELECT max(rel) FROM p4), 2)
        |    AS n_kept_expected
        |FROM p4 ORDER BY lang""".stripMargin,
      key = "pmt"),

    // DSIR importance-resampling selection (Xie et al. 2023): score
    // every document by the log-likelihood ratio of its hashed-unigram
    // profile under the target slice (English docs — the trusted
    // corpus stand-in) vs the raw corpus, keep the top-100. The bucket
    // model is one B-row partial+final agg broadcast back to the token
    // stream; fully hash-oracled (md5 buckets + decimal-summed
    // round-12 log terms, see SelectionOps).
    QueryDef("pipeline_dsir", (s, d) =>
      ops.SelectionOps.dsirTopK(tk(s, d, "documents"), "doc_id", "text",
        col("lang") === "en", buckets = 1024, topK = 100),
      // Mirrors SelectionOps.dsirTopK: same md5 bucket ids, the same
      // collapsed smoothed ratio with double casts BEFORE the multiply,
      // decimal-summed round-12 log terms, length-normalized weight.
      """WITH toks AS (
        |  SELECT doc_id, (lang = 'en') AS is_target,
        |    (CAST('0x' || substring(md5(t.term), 1, 8) AS BIGINT)
        |      % 1024) AS b
        |  FROM documents,
        |    unnest(string_split(lower(text), ' ')) AS t(term)),
        |bs AS (
        |  SELECT b, count(*) AS cr,
        |    sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct
        |  FROM toks GROUP BY 1),
        |tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM bs),
        |lr AS (
        |  SELECT b, CAST(round(ln(
        |      (CAST(ct + 1 AS DOUBLE) * CAST(nr + 1024 AS DOUBLE)) /
        |      (CAST(cr + 1 AS DOUBLE) * CAST(nt + 1024 AS DOUBLE))), 12)
        |    AS DECIMAL(28,14)) AS lr
        |  FROM bs, tot)
        |SELECT doc_id, count(*) AS n_toks,
        |  round(CAST(sum(lr) AS DOUBLE) / count(*), 6) AS weight
        |FROM toks JOIN lr USING (b)
        |GROUP BY doc_id
        |ORDER BY weight DESC, doc_id LIMIT 100""".stripMargin,
      key = "pdr"),

    // Model-based quality filtering: a logistic-regression scorer
    // TRAINED on this corpus (IRLS; one 27-cell decimal aggregate per
    // iteration — deterministic under any partitioning, see
    // QualityClassifierOps scaladoc) to reproduce the Gopher rule,
    // then applied map-side via broadcast coefficients — the
    // classifier-curation stage of public LLM pipelines (CCNet's
    // fastText model) in Spark-native form. Output: per-language
    // rule/classifier agreement. Training is not SQL-expressible →
    // rows-only; QualityClassifierSpec anchors beta against a driver
    // reference IRLS exactly and gates agreement + determinism.
    QueryDef("pipeline_quality_classifier", (s, d) => {
      // features are materialized ONCE (localCheckpoint, same trade as
      // pipeline_full) — the 8 IRLS scans then read the compact
      // (6 doubles + label) table, not raw text + HOF featurization;
      // 5.2s -> ~1s at sf0.1. At 100 TB the features table is a
      // persisted artifact between curation stages anyway.
      // featurize is a regexp-heavy per-row kernel; a single-row-group
      // documents file would run it on one task — size-gated fan-out
      // parallelizes the one featurize pass that feeds all 8 IRLS scans
      val feats = graft.ops.QualityClassifierOps
        .featurize(ops.StorageOps.fanOutForKernel(
          t(s, d, "documents")), col("text"))
        .localCheckpoint()
      val beta = graft.ops.QualityClassifierOps.train(feats)
      feats
        .withColumn("p_quality",
          round(graft.ops.QualityClassifierOps.score(beta), 6))
        .withColumn("clf_pass",
          (col("p_quality") >= 0.5).cast("bigint"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("label").cast("bigint")).as("n_rule_pass"),
          sum(col("clf_pass")).as("n_clf_pass"),
          sum(when(col("clf_pass") === col("label").cast("bigint"), 1L)
            .otherwise(0L)).as("n_agree"))
        .orderBy(col("lang"))
    },
      // trained-model SCORING oracles: the models are bit-deterministic
      // functions of the corpus, so Verify embeds their exact
      // coefficients ({{...}} placeholders -> [[SparkEntry.oracleParams]] values,
      // substituted at dump time) and DuckDB replays the scoring
      // arithmetic end-to-end — training stays spec-anchored
      // (QualityClassifierSpec / PcaSpec), scoring becomes
      // hash-certified cross-engine
      qcOracleSql,
      key = "pqc"),

    // Cluster-balanced diversity subsample (SemDedup/DSIR-style
    // domain capping): assign every embedding to its trained IVF cell
    // (map-side argmax over broadcast centroid literals), then keep at
    // most 16 per cell by deterministic hash rank — the cap that stops
    // one over-represented domain from flooding a training mix. The
    // per-cell top-k runs through the bounded TopK Aggregator, so each
    // partition ships at most k candidates per cell to the merge (an
    // O(partitions × k) shuffle; a window would move every row of the
    // hottest cluster to one task — the exact skew this query exists
    // to manage).
    QueryDef("pipeline_cluster_balance", (s, d) => {
      val emb = t(s, d, "embeddings")
      val model = ops.AnnOps.cachedIvf(s, s"$d/embeddings.parquet", emb,
        "vec_id", "embedding", nlist = 8)
      val asg = ops.AnnOps.assignCells(emb, "vec_id", "embedding", model)
      import s.implicits._
      val sizes = asg.groupBy(col("cid"))
        .agg(count(lit(1)).as("cl_size"))
      // score = -hash: TopK keeps highest-score-first == lowest hash,
      // ties (hash collisions) broken by lowest vec_id — the same
      // (hash, id) lexicographic rank the oracle's window replays.
      // Hashes are < 2^32, exact as Doubles.
      val scored = asg.select(col("cid"),
          (lit(0L) - knuthHash(col("vec_id"))).cast("double").as("score"),
          col("vec_id")).as[(Int, Double, Long)]
      val topk = new graft.functions.Aggregators.TopK(16)
      scored.groupByKey(_._1).mapValues(r => (r._2, r._3))
        .agg(topk.toColumn.name("topk")).toDF("cid", "topk")
        .select(col("cid"), posexplode(col("topk")))
        .select(col("cid"), (col("pos") + 1).cast("bigint").as("rank"),
          col("col._2").as("vec_id"))
        .join(sizes, Seq("cid"))
        .select(col("cid").cast("bigint").as("cid"), col("vec_id"),
          col("rank"), col("cl_size"))
        .orderBy(col("cid"), col("rank"))
    },
      clusterBalanceOracleSql,
      key = "pcb"),

    // The COMPOSED end-to-end pipeline: quality gate → exact dedup →
    // eval-set decontamination → PII redaction → deterministic mixture
    // sampling → per-language shard packing, as one declared query.
    // Every stage is individually oracle- or spec-checked; this entry
    // checks the composition (PipelineSpec proves it equals the
    // stage-by-stage recomputation at sf0.001).
    //
    // Scale audit: the corpus is scanned ONCE — the cheap quality gate
    // runs on the scan, and its survivors are materialized
    // (localCheckpoint) before the expensive stages, so shingle
    // sketching, PII regexes and shard packing all run on survivor
    // rows only. The eval set is a second 2%-selectivity scan standing
    // in for a separate (always much smaller) eval table. No stage
    // shuffles text except the survivor checkpoint itself; the
    // decontamination join moves hashed longs, the shard window
    // shuffles (lang, id, token-count) triples.
    //
    // The checkpoint is EAGER (runs at query construction) and its
    // blocks are reclaimed by the ContextCleaner when the frame goes
    // unreferenced — the deliberate trade for running stages 1-2
    // exactly once per build; callers that only want the plan
    // (Explain) pay the stage-1/2 cost too.
    QueryDef("pipeline_full", (s, d) => {
      val evalSet = t(s, d, "documents")
        .filter(pmod(col("doc_id"), lit(50)) === 0)
      // stage 1+2: quality gate, then exact-fingerprint dedup
      // (keep-lowest-id), on the non-eval corpus
      val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val survivors = curateSurvivors(s, d)
        .filter(pmod(col("doc_id"), lit(50)) =!= 0)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("source"), col("pred_lang"), col("text"))
        .localCheckpoint(true)
      // stage 3: drop docs sharing >= 2 eval-set shingles
      val clean = survivors.join(
        ops.DedupOps.evalOverlap(survivors, evalSet, "doc_id", "text")
          .filter(!col("contaminated")).select(col("doc_id")),
        Seq("doc_id"))
      // stage 4: PII redaction (train on redacted text)
      val redacted = clean.withColumn("red", TextOps.piiRedact(col("text")))
      // stage 5: mixture sampling — head sources 100%, tail 30%
      // (Knuth multiplicative hash; see pipeline_mix)
      val bucket = knuthBucket(col("doc_id"), 10)
      val rate = when(col("source").isin("src0", "src1", "src2", "src3"),
        lit(10)).otherwise(lit(3))
      val sampled = redacted.filter(bucket < rate)
      // stage 6: pack into ~4k-token shards per predicted language
      val ws = Window.partitionBy(col("pred_lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sampled
        .select(col("pred_lang"), col("doc_id"),
          TextOps.tokenCount(col("red")).as("n_tokens"))
        .withColumn("shard_id",
          floor((sum(col("n_tokens")).over(ws) - 1) / 4096.0).cast("bigint"))
        .groupBy(col("pred_lang"), col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("shard_tokens"))
        .orderBy(col("pred_lang"), col("shard_id"))
    },
      // The COMPOSED pipeline, stage by stage in one statement: the
      // quality/fp/lang scored CTE is pipeline_curate's verbatim; the
      // decontamination stage reuses deconOracleSql's raw-gram recount
      // (the conversion that unblocked this oracle — the hashed-shingle
      // stage was the one inexpressible piece); mixture is
      // pipeline_mix's knuth arithmetic; shard packing is
      // pipeline_shard's running-sum window over REDACTED token counts
      // (a redacted "555 123 4567" collapses 3 tokens to one <PHONE>,
      // so the count runs over the redacted text in both engines).
      s"""WITH scored AS (
         |  SELECT doc_id, source, text,
         |    round(least(1.0, ${TextOps.sql.tokenCount} / 100.0) *
         |      (1.0 - cast(${TextOps.sql.patCount(TextOps.sql.stopword)}
         |                  as double)
         |             / ${TextOps.sql.tokenCount}), 4) AS quality_score,
         |    ${TextOps.sql.fingerprint} AS fp,
         |    CASE WHEN ${TextOps.sql.patCount(TextOps.sql.zh)} > 0 THEN 'zh'
         |         WHEN ${TextOps.sql.patCount(TextOps.sql.en)} >=
         |              greatest(${TextOps.sql.patCount(TextOps.sql.fr)},
         |                ${TextOps.sql.patCount(TextOps.sql.es)},
         |                ${TextOps.sql.patCount(TextOps.sql.de)}) THEN 'en'
         |         WHEN ${TextOps.sql.patCount(TextOps.sql.fr)} >=
         |              greatest(${TextOps.sql.patCount(TextOps.sql.es)},
         |                ${TextOps.sql.patCount(TextOps.sql.de)}) THEN 'fr'
         |         WHEN ${TextOps.sql.patCount(TextOps.sql.es)} >=
         |              ${TextOps.sql.patCount(TextOps.sql.de)} THEN 'es'
         |         ELSE 'de' END AS pred_lang
         |  FROM documents),
         |surv AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id)
         |      AS rn
         |    FROM scored
         |    WHERE quality_score >= 0.3 AND doc_id % 50 <> 0)
         |  WHERE rn = 1),
         |sgrams AS (
         |  SELECT DISTINCT d.doc_id,
         |    CASE WHEN len(w) <= 3 THEN array_to_string(w, ' ')
         |         ELSE array_to_string(w[i:i+2], ' ') END AS gram
         |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
         |        FROM documents
         |        WHERE doc_id IN (SELECT doc_id FROM surv)) d,
         |       LATERAL unnest(generate_series(1, greatest(len(w) - 2, 1)))
         |         AS t(i)),
         |eg AS (
         |  SELECT DISTINCT
         |    CASE WHEN len(w) <= 3 THEN array_to_string(w, ' ')
         |         ELSE array_to_string(w[i:i+2], ' ') END AS gram
         |  FROM (SELECT string_split(lower(text), ' ') AS w
         |        FROM documents WHERE doc_id % 50 = 0) d,
         |       LATERAL unnest(generate_series(1, greatest(len(w) - 2, 1)))
         |         AS t(i)),
         |contaminated AS (
         |  SELECT doc_id FROM sgrams JOIN eg USING (gram)
         |  GROUP BY doc_id HAVING count(*) >= 2),
         |sampled AS (
         |  SELECT * FROM surv
         |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
         |    AND ${knuthHashSql("doc_id")} % 10 <
         |      (CASE WHEN source IN ('src0','src1','src2','src3')
         |            THEN 10 ELSE 3 END)),
         |packed AS (
         |  SELECT pred_lang, doc_id,
         |    cast(len(string_split(${TextOps.sql.piiRedact}, ' '))
         |      as bigint) AS n_toks
         |  FROM sampled)
         |SELECT pred_lang, shard_id, count(*) AS n_docs,
         |  cast(sum(n_toks) as bigint) AS shard_tokens
         |FROM (
         |  SELECT pred_lang, n_toks,
         |    cast(floor((sum(n_toks) OVER (PARTITION BY pred_lang
         |      ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - 1) / 4096.0)
         |      as bigint) AS shard_id
         |  FROM packed)
         |GROUP BY pred_lang, shard_id
         |ORDER BY pred_lang, shard_id""".stripMargin,
      key = "pfl"),

    // The production variant: same quality gate, but dedup removes
    // whole NEAR-dup clusters (MinHash-LSH pairs at Jaccard >= 0.8 →
    // connected components → keep-lowest-id), not just exact
    // fingerprint copies. Rows-only check; ClusterOpsSpec proves its
    // kept set is a subset of pipeline_curate's (exact dups are always
    // clustered together).
    QueryDef("pipeline_curate_neardup", (s, d) => {
      // materialized once: the regex-heavy scoring pipeline is
      // otherwise re-executed by every reference (sketching inside
      // nearDupClusters + the final attribute join)
      val surviving = curateSurvivors(s, d).localCheckpoint(true)
      ops.ClusterOps.nearDupClusters(surviving, "doc_id", "text")
        .filter(col("keep"))
        .select(col("doc_id"))
        .join(surviving, Seq("doc_id"))
        .select(col("doc_id"), col("pred_lang"), col("n_tokens"),
          col("quality_score"))
        .orderBy(col("doc_id"))
    },
      curateNeardupOracleSql,
      key = "pcn"),

    // ★ r13: domain-level curation — blocklist anti-join (broadcast:
    // the blocklist is small by nature) + URL canonicalization dedup
    // (strip query + fragment — session/tracking params — then
    // keep-lowest-id per canonical URL), rolled up per host. Only
    // (host, canonical, doc_id, n_tokens) reaches the dedup agg —
    // text never shuffles. The oracle replays the whole lane from the
    // URL arithmetic.
    QueryDef("pipeline_domain_filter", (s, d) => {
      import s.implicits._
      val blocklist = Seq("ads.tracker.io", "blog.spam.net")
        .toDF("host")
      val parsed = urlTable(s, d)
        .withColumn("host", expr("parse_url(url, 'HOST')"))
        .withColumn("canonical",
          regexp_replace(col("url"), "[?#].*$", ""))
        .withColumn("n_tokens", TextOps.tokenCount(col("text")))
        .select(col("doc_id"), col("host"), col("canonical"),
          col("n_tokens"))
      val kept = parsed.join(broadcast(blocklist), Seq("host"),
        "left_anti")
      kept.groupBy(col("host"), col("canonical"))
        .agg(min(struct(col("doc_id"), col("n_tokens"))).as("m"),
          count(lit(1)).as("n_docs"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_canonical"),
          sum(col("n_docs")).as("n_docs"),
          sum(col("m.n_tokens")).as("kept_tokens"))
        .orderBy(col("host"))
    },
      // Replays the domain-curation lane end-to-end: the blocklist
      // drop, the canonical URL (query + fragment stripped), the
      // keep-lowest-id dedup inside each (host, canonical) group, and
      // the per-host rollup.
      """WITH u AS (
        |  SELECT doc_id,
        |    cast(len(string_split(text, ' ')) as bigint) AS n_tokens,
        |    CASE doc_id % 7
        |      WHEN 0 THEN 'example.com' WHEN 1 THEN 'news.example.co.uk'
        |      WHEN 2 THEN 'blog.spam.net' WHEN 3 THEN 'en.wikipedia.org'
        |      WHEN 4 THEN 'docs.python.org' WHEN 5 THEN 'ads.tracker.io'
        |      ELSE 'forum.example.com' END AS host
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, n_tokens, host,
        |    'https://' || host || '/p/' || cast(doc_id // 20 as varchar)
        |      AS canonical
        |  FROM u
        |  WHERE host NOT IN ('ads.tracker.io', 'blog.spam.net')),
        |c AS (
        |  SELECT host, canonical, count(*) AS n_docs,
        |    arg_min(n_tokens, doc_id) AS kept_tok
        |  FROM k GROUP BY host, canonical)
        |SELECT host, count(*) AS n_canonical,
        |  cast(sum(n_docs) as bigint) AS n_docs,
        |  cast(sum(kept_tok) as bigint) AS kept_tokens
        |FROM c GROUP BY host ORDER BY host""".stripMargin),

    // ★ r11: END-TO-END media dedup over the shard corpus — the
    // composition a multimodal curation pipeline actually runs: tar
    // walk → inner image decode → perceptual hash (one partition
    // pass, ops.Multimodal.ahashTarAll) → EXACT-hash duplicate
    // groups with a deterministic representative (min doc_id).
    // Group stats via groupBy + join-back rather than a window over
    // the hash key: partial aggregation absorbs a pathologically
    // common hash (e.g. blank images) map-side, where a window
    // partition would funnel the whole group through one task. The
    // oracle replays the hash from the generator and the same
    // group/representative election.
    QueryDef("pipeline_media_dedup", (s, d) => {
      // the (id, hash) table is 16 bytes/shard and referenced twice
      // (grouping + join-back) — materialize the one decode+hash
      // pass instead of re-walking every archive per reference
      val hashed = ops.Multimodal.ahashTarAll(s,
        ops.Multimodal.tarShardTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("ahash"))
        .localCheckpoint(true)
      val groups = hashed.groupBy(col("ahash"))
        .agg(min(col("doc_id")).as("rep"),
          count(lit(1)).as("group_size"))
      hashed.join(groups, Seq("ahash"))
        .select(col("doc_id"), col("ahash"), col("group_size"),
          (col("doc_id") === col("rep")).as("is_rep"))
        .orderBy(col("doc_id"))
    },
      // Replays the shard images' aHash from the generator (the tar
      // member holds the same deterministic PPM), then the exact-dup
      // grouping and min-doc_id representative election.
      """WITH sz AS (
        |  SELECT doc_id,
        |    ascii(substr(text, 1, 1)) % 64 + 16 AS w,
        |    ascii(substr(text, 2, 1)) % 64 + 16 AS h,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, y * 8 + x AS i,
        |    ((s0 + 31 * (((y * h // 8) * w + (x * w // 8)) * 3)) % 256
        |     + (s0 + 31 * (((y * h // 8) * w + (x * w // 8)) * 3 + 1))
        |       % 256
        |     + (s0 + 31 * (((y * h // 8) * w + (x * w // 8)) * 3 + 2))
        |       % 256) // 3 AS gray
        |  FROM sz,
        |    LATERAL unnest(generate_series(0, 7)) ty(y),
        |    LATERAL unnest(generate_series(0, 7)) tx(x)),
        |t AS (SELECT doc_id, sum(gray) AS total FROM g GROUP BY doc_id),
        |b AS (
        |  SELECT g.doc_id,
        |    printf('%08x%08x',
        |      cast(sum(CASE WHEN g.gray * 64 > t.total AND g.i >= 32
        |        THEN (CAST(1 AS BIGINT) << (g.i - 32)) ELSE 0 END)
        |        as bigint),
        |      cast(sum(CASE WHEN g.gray * 64 > t.total AND g.i < 32
        |        THEN (CAST(1 AS BIGINT) << g.i) ELSE 0 END)
        |        as bigint)) AS ahash
        |  FROM g JOIN t USING (doc_id) GROUP BY g.doc_id),
        |grp AS (
        |  SELECT ahash, min(doc_id) AS rep,
        |    cast(count(*) as bigint) AS group_size
        |  FROM b GROUP BY ahash)
        |SELECT b.doc_id, b.ahash, grp.group_size,
        |  b.doc_id = grp.rep AS is_rep
        |FROM b JOIN grp USING (ahash)
        |ORDER BY doc_id""".stripMargin),

    // Gopher repetition filters (Rae et al. 2021, Table A1) — the
    // repetition half of the quality rulebook q_gopher_quality's
    // length/symbol rules don't cover. Per document: the fraction of
    // characters inside the single most frequent word n-gram
    // (n = 2,3,4; occurrences × gram chars / doc chars) and the
    // fraction of WORD characters covered by any duplicated n-gram
    // occurrence (n = 5..10; the UNION of covered positions — a
    // character under three overlapping duplicated 7-grams counts
    // once). Physical shape is the point at 100 TB: SHUFFLE-FREE —
    // all nine metrics come from ONE compiled kernel pass per row
    // (SketchKernels.gopherRepetition: byte-slice grams, one count
    // map per n, byte-order (cnt DESC, gram ASC) tiebreaks) emitting
    // exact integers; only the fractions and round(4) stay in the SQL
    // layer. Plan-gated in Round10cSpec at ZERO Exchanges of any
    // kind. (A 9-window formulation — one Exchange + nine
    // in-partition sorts — was the first cut and measured 7.8 s at
    // sf0.1; that window description survives ONLY in the DuckDB
    // oracle replay below, which audits the same semantics with
    // lead/count/max windows and the fixed-width (1e8−cnt)‖gram
    // argmax key.)
    QueryDef("pipeline_gopher_repetition", (s, d) =>
      ops.TextOps.gopherRepetition(tk(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      // Gopher repetition filters: replays the lead-built grams, the
      // per-(doc, gram) count windows, the sliding coverage maxima, and
      // the fixed-width (1e8−cnt)‖gram argmax key byte for byte.
      {
      val leads = (1 to 9).map(k =>
        s"lead(word, $k) OVER dw AS l$k").mkString(",\n    ")
      val grams = (2 to 10).map { n =>
        val parts = ("word" +: (1 until n).map(k => s"l$k"))
          .mkString(" || ' ' || ")
        s"CASE WHEN pos <= n_words - $n THEN $parts END AS g$n"
      }.mkString(",\n    ")
      val cnts = (2 to 10).map(n =>
        s"CASE WHEN g$n IS NOT NULL THEN count(*) OVER " +
          s"(PARTITION BY doc_id, g$n) END AS c$n").mkString(",\n    ")
      val covs = (5 to 10).map(n =>
        s"max(CASE WHEN g$n IS NOT NULL AND c$n >= 2 THEN 1 ELSE 0 END) " +
          s"OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN " +
          s"${n - 1} PRECEDING AND CURRENT ROW) AS cov$n")
        .mkString(",\n    ")
      val keys = (2 to 4).map(n =>
        s"min(CASE WHEN g$n IS NOT NULL THEN lpad(cast(100000000 - c$n " +
          s"AS varchar), 9, '0') || g$n END) AS k$n").mkString(",\n    ")
      val covchs = (5 to 10).map(n =>
        s"sum(CASE WHEN cov$n = 1 THEN length(word) ELSE 0 END) " +
          s"AS covch$n").mkString(",\n    ")
      val tops = (2 to 4).map(n =>
        s"coalesce(round((100000000 - cast(substr(k$n, 1, 9) AS bigint))" +
          s" * (length(k$n) - 9) / len_text, 4), 0.0) AS top$n")
        .mkString(",\n    ")
      val dups = (5 to 10).map(n =>
        s"CASE WHEN wchars = 0 THEN 0.0 ELSE " +
          s"round(cast(covch$n AS double) / wchars, 4) END AS dup$n")
        .mkString(",\n    ")
      s"""WITH base AS (
         |  SELECT doc_id, length(text) AS len_text,
         |    string_split(text, ' ') AS w
         |  FROM documents),
         |tok AS (
         |  SELECT doc_id, len_text, len(w) AS n_words, w[i] AS word,
         |    i - 1 AS pos
         |  FROM base, LATERAL unnest(generate_series(1, len(w))) t(i)),
         |led AS (
         |  SELECT *,
         |    $leads
         |  FROM tok
         |  WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
         |g AS (
         |  SELECT *,
         |    $grams
         |  FROM led),
         |c AS (
         |  SELECT *,
         |    $cnts
         |  FROM g),
         |cov AS (
         |  SELECT *,
         |    $covs
         |  FROM c),
         |agg AS (
         |  SELECT doc_id,
         |    $keys,
         |    $covchs,
         |    sum(length(word)) AS wchars,
         |    any_value(len_text) AS len_text
         |  FROM cov GROUP BY doc_id),
         |fr AS (
         |  SELECT doc_id,
         |    $tops,
         |    $dups
         |  FROM agg)
         |SELECT *,
         |  cast((top2 <= 0.20 AND top3 <= 0.18 AND top4 <= 0.16 AND
         |        dup5 <= 0.15 AND dup6 <= 0.14 AND dup7 <= 0.13 AND
         |        dup8 <= 0.12 AND dup9 <= 0.11 AND dup10 <= 0.10)
         |    AS bigint) AS pass
         |FROM fr ORDER BY doc_id""".stripMargin
    })
  )

  /** Shared front of the curation pipeline: score + fingerprint +
    * language-id, then the quality gate. Gate FIRST, then dedup among
    * survivors — the other order lets a low-quality duplicate with the
    * lowest doc_id knock out every higher-quality copy of the same
    * content. */
  private def curateSurvivors(s: SparkSession, d: String): DataFrame =
    TextOps.quality(t(s, d, "documents"), col("text"), col("n_chars"))
      .withColumn("fp", TextOps.fingerprint(col("text")))
      .withColumn("pred_lang", TextOps.langId(col("text")))
      .filter(col("quality_score") >= 0.3)

  /** DuckDB mirror of the trained-langid scoring path: the embedded
    * integer model rows join the same bigram explosion (char-based
    * substr/length in both engines), per-doc scores are exact integer
    * sums + priors, and the argmax cascade matches [[ops.LangIdOps
    * .score]] tie-break for tie-break. Held-out split only
    * (doc_id % 10 >= 3) — the seed docs trained the model. */
  private lazy val langidTrainedOracleSql: String =
    s"""WITH m AS (
       |  SELECT * FROM (VALUES
       |    {{LANGID_ROWS}})
       |    AS m(g, lp_de, lp_en, lp_es, lp_fr, lp_zh)),
       |t2 AS (
       |  SELECT doc_id, lang, ${ops.LangIdOps.derivedTextSql} AS text2
       |  FROM documents WHERE doc_id % 10 >= 3),
       |gr AS (
       |  SELECT doc_id, lang, substr(text2, cast(i as int), 2) AS g
       |  FROM t2, LATERAL unnest(generate_series(1, length(text2) - 1))
       |    AS u(i)),
       |sc AS (
       |  SELECT doc_id, lang,
       |    sum(coalesce(lp_de, {{LANGID_DEF_0}})) + {{LANGID_PRIOR_0}}
       |      AS s_de,
       |    sum(coalesce(lp_en, {{LANGID_DEF_1}})) + {{LANGID_PRIOR_1}}
       |      AS s_en,
       |    sum(coalesce(lp_es, {{LANGID_DEF_2}})) + {{LANGID_PRIOR_2}}
       |      AS s_es,
       |    sum(coalesce(lp_fr, {{LANGID_DEF_3}})) + {{LANGID_PRIOR_3}}
       |      AS s_fr,
       |    sum(coalesce(lp_zh, {{LANGID_DEF_4}})) + {{LANGID_PRIOR_4}}
       |      AS s_zh
       |  FROM gr LEFT JOIN m USING (g)
       |  GROUP BY doc_id, lang)
       |SELECT lang,
       |  CASE WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
       |       WHEN s_en >= greatest(s_es, s_fr, s_zh) THEN 'en'
       |       WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
       |       WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS pred_lang,
       |  count(*) AS n
       |FROM sc GROUP BY lang, pred_lang
       |ORDER BY lang, pred_lang""".stripMargin

  /** DuckDB mirror of the near-dup curation pipeline: the
    * pipeline_curate scored CTE (verbatim arithmetic, plus the text
    * column), the minhash front over its survivors, 0.8 edges, the
    * unrolled min-propagation fixpoint, keep = component minimum, and
    * the attribute join back to the scored rows. */
  private lazy val curateNeardupOracleSql: String = {
    val rounds = (1 to 8).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT l.node, least(l.lbl, coalesce(min(n.lbl), l.lbl))
         |    AS lbl
         |  FROM l${i - 1} l
         |  LEFT JOIN adj ad ON ad.src = l.node
         |  LEFT JOIN l${i - 1} n ON n.node = ad.dst
         |  GROUP BY l.node, l.lbl)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE scored AS (
       |  SELECT doc_id, text,
       |    ${TextOps.sql.tokenCount} AS n_tokens,
       |    round(least(1.0, ${TextOps.sql.tokenCount} / 100.0) *
       |      (1.0 - cast(${TextOps.sql.patCount(TextOps.sql.stopword)}
       |                  as double)
       |             / ${TextOps.sql.tokenCount}), 4) AS quality_score,
       |    CASE WHEN ${TextOps.sql.patCount(TextOps.sql.zh)} > 0 THEN 'zh'
       |         WHEN ${TextOps.sql.patCount(TextOps.sql.en)} >=
       |              greatest(${TextOps.sql.patCount(TextOps.sql.fr)},
       |                ${TextOps.sql.patCount(TextOps.sql.es)},
       |                ${TextOps.sql.patCount(TextOps.sql.de)}) THEN 'en'
       |         WHEN ${TextOps.sql.patCount(TextOps.sql.fr)} >=
       |              greatest(${TextOps.sql.patCount(TextOps.sql.es)},
       |                ${TextOps.sql.patCount(TextOps.sql.de)}) THEN 'fr'
       |         WHEN ${TextOps.sql.patCount(TextOps.sql.es)} >=
       |              ${TextOps.sql.patCount(TextOps.sql.de)} THEN 'es'
       |         ELSE 'de' END AS pred_lang
       |  FROM documents),
       |cdocs AS MATERIALIZED (SELECT doc_id, text FROM scored
       |        WHERE quality_score >= 0.3),
       |${minhashFrontCtes("cdocs")},
       |edges AS MATERIALIZED (SELECT a, b FROM jac WHERE j >= 0.8),
       |adj AS MATERIALIZED (SELECT a AS src, b AS dst FROM edges
       |        UNION SELECT b AS src, a AS dst FROM edges),
       |l0 AS MATERIALIZED (SELECT doc_id AS node, doc_id AS lbl
       |        FROM cdocs),
       |$rounds
       |SELECT s.doc_id, s.pred_lang, s.n_tokens, s.quality_score
       |FROM l8 JOIN scored s ON s.doc_id = l8.node
       |WHERE l8.node = l8.lbl
       |ORDER BY s.doc_id""".stripMargin
  }

  /** Repetition-aware soft dedup replayed on top of the shared
    * cluster fixpoint: cluster sizes from the `l8` assignment, the
    * representative always kept, other members kept iff
    * knuthHash(doc_id)/2^32 < 1/size — decided by HUGEINT
    * cross-multiplication, mirroring the Spark side's DECIMAL(38,0). */
  private lazy val softDedupOracleSql: String =
    s"""WITH $portableClusterCtes,
       |asg AS (SELECT node AS doc_id, lbl AS cluster_id FROM l8),
       |cs AS (SELECT cluster_id, cast(count(*) AS BIGINT) AS c_size
       |       FROM asg GROUP BY cluster_id)
       |SELECT a.doc_id, a.cluster_id, cs.c_size,
       |  (a.doc_id = a.cluster_id OR
       |   cast(${knuthHashSql("a.doc_id")} AS HUGEINT) * cs.c_size
       |     < cast(4294967296 AS HUGEINT)) AS kept
       |FROM asg a JOIN cs USING (cluster_id)
       |ORDER BY doc_id""".stripMargin

  /** Data-card replay: per-source integer counts re-derived end to
    * end — trained-BPE token totals via [[packCtes]]'s merge replay
    * (−1 sentinel per doc), exact-dup membership via DuckDB's own
    * md5, contamination via [[deconOracleSql]]'s raw-gram rule, and
    * classifier passes via [[qcFeatureCtes]] + the embedded IRLS
    * coefficients. CTE namespaces are disjoint by construction
    * (packCtes: words/rec/fin/dw/seq/dtok/alld/offs/spans;
    * qcFeatureCtes: m/f). */
  private lazy val dataCardOracleSql: String =
    s"""WITH RECURSIVE $packCtes,
       |$qcFeatureCtes,
       |srcd AS (SELECT doc_id, source, lang FROM documents),
       |tokc AS (
       |  SELECT s.source, sum(a.n_tok - 1) AS n_tokens
       |  FROM alld a JOIN srcd s USING (doc_id) GROUP BY s.source),
       |basec AS (
       |  SELECT source, count(*) AS n_docs,
       |    count(DISTINCT lang) AS n_langs
       |  FROM srcd GROUP BY source),
       |dh AS (SELECT doc_id, md5(text) AS h FROM documents),
       |dupset AS (SELECT h FROM dh GROUP BY h HAVING count(*) >= 2),
       |dupc AS (
       |  SELECT s.source, count(*) AS exact_dup_docs
       |  FROM dh JOIN dupset USING (h) JOIN srcd s USING (doc_id)
       |  GROUP BY s.source),
       |ldocs AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS w
       |  FROM documents),
       |cg AS (
       |  SELECT DISTINCT doc_id,
       |    CASE WHEN len(w) <= 3 THEN array_to_string(w, ' ')
       |         ELSE array_to_string(w[i:i+2], ' ') END AS gram
       |  FROM (SELECT * FROM ldocs WHERE doc_id % 50 <> 0) d,
       |       LATERAL unnest(generate_series(1, greatest(len(w) - 2, 1)))
       |         AS t(i)),
       |eg AS (
       |  SELECT DISTINCT
       |    CASE WHEN len(w) <= 3 THEN array_to_string(w, ' ')
       |         ELSE array_to_string(w[i:i+2], ' ') END AS gram
       |  FROM (SELECT * FROM ldocs WHERE doc_id % 50 = 0) d,
       |       LATERAL unnest(generate_series(1, greatest(len(w) - 2, 1)))
       |         AS t(i)),
       |ov AS (SELECT doc_id, count(*) AS n_overlap
       |       FROM cg JOIN eg USING (gram) GROUP BY doc_id),
       |contc AS (
       |  SELECT s.source, count(*) AS contaminated_docs
       |  FROM ov JOIN srcd s USING (doc_id)
       |  WHERE ov.n_overlap >= 2 GROUP BY s.source),
       |clf AS (
       |  SELECT doc_id,
       |    CASE WHEN round(1.0 / (1.0 + exp(-(
       |      f0*({{QC_B0}}) + f1*({{QC_B1}}) + f2*({{QC_B2}})
       |      + f3*({{QC_B3}}) + f4*({{QC_B4}}) + f5*({{QC_B5}})))), 6)
       |      >= 0.5 THEN 1 ELSE 0 END AS p
       |  FROM f),
       |clfc AS (
       |  SELECT s.source, sum(p) AS clf_pass_docs
       |  FROM clf JOIN srcd s USING (doc_id) GROUP BY s.source)
       |SELECT b.source, cast(b.n_docs AS BIGINT) AS n_docs,
       |  cast(t.n_tokens AS BIGINT) AS n_tokens,
       |  cast(b.n_langs AS BIGINT) AS n_langs,
       |  cast(coalesce(d.exact_dup_docs, 0) AS BIGINT) AS exact_dup_docs,
       |  cast(coalesce(c.contaminated_docs, 0) AS BIGINT)
       |    AS contaminated_docs,
       |  cast(coalesce(q.clf_pass_docs, 0) AS BIGINT) AS clf_pass_docs
       |FROM basec b
       |JOIN tokc t USING (source)
       |LEFT JOIN dupc d USING (source)
       |LEFT JOIN contc c USING (source)
       |LEFT JOIN clfc q USING (source)
       |ORDER BY b.source""".stripMargin

  /** Cluster-balance replay: the embedded IVF centroids
    * ({{IVF_Cn}}, same literals as [[ivfOracleSql]]) re-derive every
    * cell assignment (first-max argmax as (sim DESC, cid)
    * row_number), then the per-cell keep set is the (knuthHash,
    * vec_id) lexicographic top-16 — the window form of the bounded
    * TopK aggregate the Spark side uses. */
  private lazy val clusterBalanceOracleSql: String = {
    val centroidRows = (0 until 8)
      .map(i => s"($i, {{IVF_C${i + 1}}})").mkString(",\n    ")
    s"""WITH c AS (SELECT * FROM (VALUES
       |    $centroidRows) AS t(cid, cvec)),
       |e AS (SELECT vec_id, cast(embedding as DOUBLE[]) AS v
       |      FROM embeddings),
       |asg AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.v,
       |          cast(c.cvec as DOUBLE[])) DESC, c.cid) AS rn
       |    FROM e CROSS JOIN c) WHERE rn = 1),
       |sz AS (SELECT cid, count(*) AS cl_size FROM asg GROUP BY cid),
       |rk AS (
       |  SELECT cid, vec_id,
       |    row_number() OVER (PARTITION BY cid
       |      ORDER BY ${knuthHashSql("vec_id")}, vec_id) AS rank
       |  FROM asg)
       |SELECT cast(rk.cid AS BIGINT) AS cid, rk.vec_id,
       |  cast(rank AS BIGINT) AS rank, cast(cl_size AS BIGINT) AS cl_size
       |FROM rk JOIN sz USING (cid) WHERE rank <= 16
       |ORDER BY cid, rank""".stripMargin
  }

  private lazy val qcOracleSql: String =
    s"""WITH $qcFeatureCtes,
      |s AS (
      |  SELECT lang, label,
      |    CASE WHEN round(1.0 / (1.0 + exp(-(
      |      f0*({{QC_B0}}) + f1*({{QC_B1}}) + f2*({{QC_B2}})
      |      + f3*({{QC_B3}}) + f4*({{QC_B4}}) + f5*({{QC_B5}})))), 6)
      |      >= 0.5 THEN 1 ELSE 0 END AS clf_pass
      |  FROM f)
      |SELECT lang, count(*) AS n_docs,
      |  cast(sum(label) as bigint) AS n_rule_pass,
      |  cast(sum(clf_pass) as bigint) AS n_clf_pass,
      |  cast(sum(CASE WHEN clf_pass = label THEN 1 ELSE 0 END)
      |    as bigint) AS n_agree
      |FROM s GROUP BY lang ORDER BY lang""".stripMargin

  /** pipeline_decontaminate oracle: the hashed-shingle overlap count
    * recomputed over raw 3-token gram STRINGS — equal iff the xxhash
    * kernel is collision-free on this corpus, so the hash match
    * certifies collision-freedom exactly as dedup_substrings_hashed's
    * does. Mirrors SketchKernels.windowHashes' short-doc fallback
    * (<= 3 tokens -> ONE whole-doc gram). */
  private def deconOracleSql: String =
    """WITH docs AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w
      |  FROM documents),
      |cg AS (
      |  SELECT DISTINCT doc_id,
      |    CASE WHEN len(w) <= 3 THEN array_to_string(w, ' ')
      |         ELSE array_to_string(w[i:i+2], ' ') END AS gram
      |  FROM (SELECT * FROM docs WHERE doc_id % 50 <> 0) d,
      |       LATERAL unnest(generate_series(1, greatest(len(w) - 2, 1)))
      |         AS t(i)),
      |eg AS (
      |  SELECT DISTINCT
      |    CASE WHEN len(w) <= 3 THEN array_to_string(w, ' ')
      |         ELSE array_to_string(w[i:i+2], ' ') END AS gram
      |  FROM (SELECT * FROM docs WHERE doc_id % 50 = 0) d,
      |       LATERAL unnest(generate_series(1, greatest(len(w) - 2, 1)))
      |         AS t(i)),
      |ov AS (SELECT doc_id, count(*) AS n_overlap
      |       FROM cg JOIN eg USING (gram) GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(o.n_overlap, 0) AS n_overlap,
      |       coalesce(o.n_overlap, 0) >= 2 AS contaminated
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
      |LEFT JOIN ov o USING (doc_id)
      |ORDER BY doc_id""".stripMargin
}

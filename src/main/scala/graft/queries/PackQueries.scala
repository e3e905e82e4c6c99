package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{BpeOps, TextOps}

/** Sequence packing and its consumers: global and greedy packing,
  * epoch shuffles, span corruption manifests, curricula and shards. */
object PackQueries {
  import QueryHelpers._

  val defs: Seq[QueryDef] = Seq(
    // Training-shard packing: per language, pack documents (in doc_id
    // order) into ~4k-token shards by running token count — the
    // dataloader-sharding step after curation. The running sum is a
    // per-language window (one shuffle on lang, no global sort); at
    // 100 TB the partition key would widen to (lang, date-bucket) so
    // no single language serializes, at the cost of shard-boundary
    // resets per bucket.
    QueryDef("pipeline_shard", (s, d) => {
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "documents")
        .select(col("lang"), col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens"))
        .withColumn("shard_id",
          floor((sum(col("n_tokens")).over(w) - 1) / 4096.0).cast("bigint"))
        .groupBy(col("lang"), col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("shard_tokens"))
        .orderBy(col("lang"), col("shard_id"))
    },
      s"""WITH c AS (
         |  SELECT lang, doc_id, ${TextOps.sql.tokenCount} AS n_tokens,
         |    sum(${TextOps.sql.tokenCount}) OVER (PARTITION BY lang
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM documents)
         |SELECT lang, cast(floor((cum - 1) / 4096.0) as bigint) AS shard_id,
         |  count(*) AS n_docs, cast(sum(n_tokens) as bigint) AS shard_tokens
         |FROM c GROUP BY lang, shard_id ORDER BY lang, shard_id""".stripMargin,
      key = "psh"),

    // Sequence packing: q_chunk's bounded chunks greedily packed into
    // ~512-token training sequences per language (running token sum →
    // sequence id) — the chunk/pack composition a pretraining
    // dataloader runs after curation. Chunking bounds every unit at
    // 120 chars, so unlike whole-doc sharding no single document can
    // overflow a sequence. The chunk step is shuffle-free; packing is
    // one shuffle on lang (at 100 TB the key widens to (lang, bucket)
    // exactly like pipeline_shard, same trade documented there).
    QueryDef("pipeline_pack", (s, d) => {
      val size = 120
      val stride = 80
      val nChunks = lit(1L) + greatest(lit(0L),
        ceil((length(col("text")) - lit(size)).cast("double") / stride)
          .cast("long"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("doc_id"), col("chunk_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "documents")
        .select(col("lang"), col("doc_id"), col("text"),
          nChunks.as("n_chunks"))
        .select(col("lang"), col("doc_id"), col("text"),
          explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
        .withColumn("n_tokens", TextOps.tokenCount(
          col("text").substr(col("chunk_id").cast("int") * stride + 1,
            lit(size))))
        .withColumn("seq_id",
          floor((sum(col("n_tokens")).over(w) - 1) / 512.0).cast("bigint"))
        .groupBy(col("lang"), col("seq_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_tokens")).as("seq_tokens"))
        .orderBy(col("lang"), col("seq_id"))
    },
      """WITH ch AS (
        |  SELECT lang, doc_id, i AS chunk_id,
        |    cast(len(string_split(
        |      substring(text, cast(i*80+1 as int), 120), ' '))
        |      as bigint) AS n_tokens
        |  FROM documents, LATERAL unnest(generate_series(0,
        |    greatest(0, cast(ceil((length(text)-120)/80.0) as bigint))))
        |    AS t(i)
        |), cum AS (
        |  SELECT lang, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang
        |      ORDER BY doc_id, chunk_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM ch)
        |SELECT lang, cast(floor((c - 1) / 512.0) as bigint) AS seq_id,
        |  count(*) AS n_chunks, cast(sum(n_tokens) as bigint) AS seq_tokens
        |FROM cum GROUP BY lang, seq_id ORDER BY lang, seq_id""".stripMargin,
      key = "ppk"),

    // The SPANS a trainer's cross-document attention mask needs from
    // the packed sequences: one row per packed chunk with its
    // within-sequence token offset. Same greedy packing as
    // pipeline_pack (a chunk belongs to the sequence holding its LAST
    // token; a boundary-straddling chunk's offset clamps to 0 — the
    // documented convention, deterministic on both engines). Shares
    // pipeline_pack's one window shuffle; nothing else moves.
    QueryDef("pipeline_pack_spans", (s, d) => {
      val size = 120
      val stride = 80
      val nChunks = lit(1L) + greatest(lit(0L),
        ceil((length(col("text")) - lit(size)).cast("double") / stride)
          .cast("long"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("doc_id"), col("chunk_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "documents")
        .select(col("lang"), col("doc_id"), col("text"),
          nChunks.as("n_chunks"))
        .select(col("lang"), col("doc_id"), col("text"),
          explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
        .withColumn("n_tok", TextOps.tokenCount(
          col("text").substr(col("chunk_id").cast("int") * stride + 1,
            lit(size))))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("seq_id",
          floor((col("cum") - 1) / 512.0).cast("bigint"))
        .withColumn("start_in_seq", greatest(lit(0L),
          col("cum") - col("n_tok") - col("seq_id") * 512))
        .select(col("lang"), col("seq_id"), col("doc_id"), col("chunk_id"),
          col("start_in_seq"), col("n_tok"))
        .orderBy(col("lang"), col("seq_id"), col("doc_id"), col("chunk_id"))
    },
      """WITH chunks AS (
        |  SELECT lang, doc_id, i AS chunk_id,
        |    cast(len(string_split(substring(text, cast(i * 80 + 1 as int),
        |      120), ' ')) as bigint) AS n_tok
        |  FROM documents,
        |       LATERAL unnest(generate_series(0,
        |         cast(greatest(0, ceil((len(text) - 120) / 80.0))
        |           as bigint))) AS t(i)),
        |cum AS (
        |  SELECT lang, doc_id, chunk_id, n_tok,
        |    sum(n_tok) OVER (PARTITION BY lang
        |      ORDER BY doc_id, chunk_id ROWS UNBOUNDED PRECEDING) AS c
        |  FROM chunks)
        |SELECT lang,
        |  cast(floor((c - 1) / 512.0) as bigint) AS seq_id,
        |  doc_id, chunk_id,
        |  cast(greatest(0, c - n_tok -
        |    cast(floor((c - 1) / 512.0) as bigint) * 512) as bigint)
        |    AS start_in_seq,
        |  n_tok
        |FROM cum
        |ORDER BY lang, seq_id, doc_id, chunk_id""".stripMargin,
      key = "pps"),

    // GLOBAL concat-and-chunk packing manifest under the TRAINED BPE
    // tokenizer: every doc's pieces (+1 end-of-doc separator) land at
    // an absolute offset in one virtual token stream, cut into
    // 128-token training blocks. Unlike pipeline_shard/pipeline_pack
    // (per-language running sums, boundaries reset per key at scale),
    // the offset here is a TRUE global prefix sum with no global
    // window: PackOps.withGlobalOffset range-partitions the narrow
    // (doc_id, n_tok) manifest, runs per-partition windows, and
    // carries one bounded (pid, total) row per partition through the
    // driver — the dataloader-schedule view a trainer actually
    // addresses ("give me block k"). Token counts are the REAL
    // trained-tokenizer counts (codegen'd BPE encode), so the oracle
    // re-derives them from the raw corpus via the merge-table replay.
    QueryDef("pipeline_pack_global", (s, d) => {
      val docs = t(s, d, "documents")
      val bpe = BpeOps.cachedTrain(s, s"$d/documents.parquet", docs,
        col("text"), numMerges = 64)
      val manifest = docs.select(col("doc_id"),
        (size(BpeOps.encode(col("text"), bpe)) + 1).cast("long")
          .as("n_tok"))
      ops.PackOps.blockSpans(
        ops.PackOps.withGlobalOffset(manifest, "doc_id", "n_tok",
          "tok_start"),
        "tok_start", "n_tok", blockLen = 128L)
        .select(col("doc_id"), col("n_tok"), col("tok_start"),
          col("first_block"), col("last_block"), col("start_off"),
          col("n_blocks"))
        .orderBy(col("doc_id"))
    },
      // global packing under the trained tokenizer: per-doc token
      // counts re-derived from the raw corpus via the merge-table
      // replay, then window-cumsum'd into the block manifest
      packGlobalOracleSql,
      key = "ppg"),

    // The block-side view of the same global packing: how many docs
    // land in each 128-token training block, rolled into a
    // docs-per-block histogram (n_blocks blocks hold exactly
    // docs_per_block document fragments, carrying n_tokens tokens).
    // The explode is bounded by total_tokens/128 rows; the histogram
    // aggregate is tiny. Certifies the span arithmetic end-to-end —
    // every block's fill must reconstruct to exactly 128 tokens
    // (except the final partial), or the hash check dies.
    QueryDef("pipeline_pack_blocks", (s, d) => {
      val docs = t(s, d, "documents")
      val bpe = BpeOps.cachedTrain(s, s"$d/documents.parquet", docs,
        col("text"), numMerges = 64)
      val manifest = docs.select(col("doc_id"),
        (size(BpeOps.encode(col("text"), bpe)) + 1).cast("long")
          .as("n_tok"))
      val spans = ops.PackOps.blockSpans(
        ops.PackOps.withGlobalOffset(manifest, "doc_id", "n_tok",
          "tok_start"),
        "tok_start", "n_tok", blockLen = 128L)
      ops.PackOps.blockContributions(spans, "tok_start", "n_tok", 128L)
        .groupBy(col("block_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("block_tokens")).as("fill"))
        .groupBy(col("n_docs").as("docs_per_block"))
        .agg(count(lit(1)).as("n_blocks"),
          sum(col("fill")).as("n_tokens"))
        .orderBy(col("docs_per_block"))
    },
      packBlocksOracleSql,
      key = "ppb"),

    // Deterministic dataloader EPOCH SHUFFLE over the global packing's
    // training blocks: block k's read position in epoch e is its rank
    // under the portable md5(e:k) hash — an unbiased per-epoch
    // permutation the trainer can replay anywhere, with NOTHING but
    // the (epoch, hash, block) manifest ever ordered (the corpus
    // itself never moves; "read block pos p of epoch e" is a manifest
    // lookup). The rank is PackOps.withGlobalOffset with a unit
    // length — range exchange + per-partition windows + one carry row
    // per partition — so there is no global window and no single-task
    // sort at any scale. Block count comes from ONE total-token
    // scalar through the driver (the bounded-exchange discipline).
    QueryDef("pipeline_epoch_shuffle", (s, d) => {
      val docs = t(s, d, "documents")
      val bpe = BpeOps.cachedTrain(s, s"$d/documents.parquet", docs,
        col("text"), numMerges = 64)
      val manifest = docs.select(col("doc_id"),
        (size(BpeOps.encode(col("text"), bpe)) + 1).cast("long")
          .as("n_tok"))
      val total = manifest.agg(sum(col("n_tok"))).collect()(0).getLong(0)
      val nBlocks = (total + 127L) / 128L
      ops.PackOps.epochOrder(
        s.range(0L, nBlocks).toDF("block_id"), "block_id",
        epochs = 3, n = nBlocks)
        .select(col("epoch"), col("block_id"), col("pos"))
        .orderBy(col("epoch"), col("block_id"))
    },
      epochShuffleOracleSql,
      key = "pes"),

    // MIXTURE-REBALANCED packed training stream — the end-to-end
    // dataloader build composing pipeline_budget's sampling plan with
    // the global packing manifest. The plan is executed EXACTLY:
    // rate_l = weight_l·budget / avail_l stays an integer rational
    // (num_l = w_num·budget, den_l = 100·avail_l — never a float
    // rate), each language runs epochs_l = ceil(num/den) full passes,
    // and copy (doc, e) survives iff knuthHash(16·doc_id + e)/2^32 <
    // num/(den·epochs) — decided by DECIMAL(38,0) cross-multiplication
    // so no division ever happens and DuckDB replays it in HUGEINT.
    // Survivors pack into 128-token blocks via the same
    // withGlobalOffset exclusive scan as pipeline_pack_global, keyed
    // by the fixed-width (lang, doc_id, copy) string so the stream
    // order is total. At 100 TB: the plan is a languages-sized
    // broadcast, the explode factor is epochs (bounded by the max
    // upweight), the budget is one scalar aggregate, and the only
    // corpus-shaped exchange is the narrow manifest's range partition.
    QueryDef("pipeline_mix_pack", (s, d) => {
      val docs = t(s, d, "documents")
      val wNum = when(col("lang") === "en", lit(40L))
        .when(col("lang") === "zh", lit(20L))
        .when(col("lang") === "fr", lit(15L))
        .when(col("lang") === "es", lit(15L))
        .otherwise(lit(10L))
      val manifest = docs.select(col("lang"), col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tok"))
      val budget = manifest.agg(sum(col("n_tok")))
        .collect()(0).getLong(0)
      val dec = org.apache.spark.sql.types.DataTypes
        .createDecimalType(38, 0)
      val plan = manifest.groupBy(col("lang"))
        .agg(sum(col("n_tok")).as("avail"))
        .withColumn("num", wNum * lit(budget))
        .withColumn("den", lit(100L) * col("avail"))
        .withColumn("epochs",
          ops.DedupOps.idiv(col("num") + col("den") - 1, col("den")))
      val sampled = manifest.join(broadcast(plan), Seq("lang"))
        .withColumn("copy_id",
          explode(sequence(lit(0L), col("epochs") - 1)))
        .filter(knuthHash(col("doc_id") * 16 + col("copy_id")).cast(dec)
          * col("den").cast(dec) * col("epochs").cast(dec)
          < col("num").cast(dec) * lit(4294967296L).cast(dec))
        .withColumn("okey", concat(rpad(col("lang"), 8, "_"),
          lpad(col("doc_id").cast("string"), 12, "0"),
          lpad(col("copy_id").cast("string"), 2, "0")))
        .select(col("okey"), col("lang"), col("doc_id"),
          col("copy_id"), col("n_tok"))
      ops.PackOps.blockSpans(
        ops.PackOps.withGlobalOffset(sampled, "okey", "n_tok",
          "tok_start"),
        "tok_start", "n_tok", 128L)
        .select(col("lang"), col("doc_id"), col("copy_id"),
          col("n_tok"), col("tok_start"), col("first_block"),
          col("last_block"))
        .orderBy(col("lang"), col("doc_id"), col("copy_id"))
    },
      // the mixture plan EXECUTED exactly: HUGEINT rationals mirror the
      // Spark side's DECIMAL(38,0) cross-multiplication bit-for-bit,
      // the per-(doc, copy) keep rule re-runs the Knuth hash, and the
      // packing offsets are the window cumsum over the same fixed-width
      // (lang, doc_id, copy) key
      s"""WITH dm AS (
         |  SELECT lang, doc_id, ${TextOps.sql.tokenCount} AS n_tok
         |  FROM documents),
         |b AS (SELECT cast(sum(n_tok) AS BIGINT) AS budget FROM dm),
         |pl AS (
         |  SELECT lang, cast(sum(n_tok) AS BIGINT) AS avail
         |  FROM dm GROUP BY lang),
         |plan2 AS (
         |  SELECT lang,
         |    cast((CASE WHEN lang = 'en' THEN 40
         |               WHEN lang = 'zh' THEN 20
         |               WHEN lang = 'fr' THEN 15
         |               WHEN lang = 'es' THEN 15
         |               ELSE 10 END) AS HUGEINT) * budget AS num,
         |    cast(100 AS HUGEINT) * avail AS den
         |  FROM pl, b),
         |plan3 AS (
         |  SELECT lang, num, den,
         |    cast((num + den - 1) // den AS BIGINT) AS epochs
         |  FROM plan2),
         |cop AS (
         |  SELECT dm.lang, dm.doc_id, dm.n_tok, g.c AS copy_id,
         |    p.num, p.den, p.epochs
         |  FROM dm JOIN plan3 p USING (lang),
         |    LATERAL unnest(generate_series(0, p.epochs - 1)) g(c)),
         |kept AS (
         |  SELECT lang, doc_id, n_tok, copy_id FROM cop
         |  WHERE cast(${knuthHashSql("(doc_id * 16 + copy_id)")}
         |      AS HUGEINT) * den * cast(epochs AS HUGEINT)
         |    < num * cast(4294967296 AS HUGEINT)),
         |okey AS (
         |  SELECT lang, doc_id, copy_id, n_tok,
         |    rpad(lang, 8, '_') || lpad(cast(doc_id AS VARCHAR), 12, '0')
         |      || lpad(cast(copy_id AS VARCHAR), 2, '0') AS k
         |  FROM kept),
         |offs AS (
         |  SELECT lang, doc_id, copy_id, n_tok,
         |    cast(coalesce(sum(n_tok) OVER (ORDER BY k
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS tok_start
         |  FROM okey)
         |SELECT lang, doc_id, copy_id, n_tok, tok_start,
         |  cast(tok_start // 128 AS BIGINT) AS first_block,
         |  cast((tok_start + n_tok - 1) // 128 AS BIGINT) AS last_block
         |FROM offs ORDER BY lang, doc_id, copy_id""".stripMargin,
      key = "pmp"),

    // The pipeline's FINAL PRODUCT, content-certified: materialize
    // the packed 128-token training blocks THEMSELVES (not just their
    // offsets) — every doc's trained-BPE pieces plus a '</d>'
    // end-of-doc sentinel land at their global stream positions
    // (same +1 discipline as pipeline_pack_global, so the block
    // boundaries are identical), and each block emits the md5 of its
    // space-joined pieces: the write-the-training-data job, certified
    // cross-engine without the driver ever seeing text (the
    // dedup_segments discipline). At 100 TB this is inherently
    // corpus-sized — ONE shuffle keyed by block_id with per-block
    // in-memory sorts of <= 128 pieces (vs a global sort of the token
    // stream); everything upstream is the certified offset machinery.
    QueryDef("pipeline_pack_export", (s, d) => {
      val docs = t(s, d, "documents")
      val bpe = BpeOps.cachedTrain(s, s"$d/documents.parquet", docs,
        col("text"), numMerges = 64)
      val toks = docs.select(col("doc_id"),
        concat(BpeOps.encode(col("text"), bpe),
          array(lit("</d>"))).as("pieces"))
      val manifest = toks.withColumn("n_tok",
        size(col("pieces")).cast("long"))
      ops.PackOps.withGlobalOffset(manifest, "doc_id", "n_tok",
          "tok_start")
        .select(col("tok_start"), posexplode(col("pieces")))
        .withColumnRenamed("col", "piece")
        .withColumn("gpos", col("tok_start") + col("pos"))
        .withColumn("block_id",
          ops.DedupOps.idiv(col("gpos"), lit(128L)))
        .groupBy(col("block_id"))
        .agg(count(lit(1)).as("n_pieces"),
          md5(concat_ws(" ",
            transform(
              array_sort(collect_list(struct(col("gpos"),
                col("piece")))),
              x => x.getField("piece")))).as("block_md5"))
        .orderBy(col("block_id"))
    },
      packExportOracleSql,
      key = "ppe"),

    // Fill-in-the-middle span manifest (Bavarian et al. 2022): for
    // each document, a deterministic coin decides whether it trains
    // as FIM (rate 1/2), and two hash lanes pick the split points
    // u, v uniform over 0..n (sorted), giving prefix|middle|suffix
    // token lengths under the TRAINED BPE tokenizer — the per-doc
    // transform manifest a PSM/SPM dataloader consumes. Everything is
    // integer/hash arithmetic on the (doc_id, n_tok) manifest: the
    // coin is knuthHash(4·doc+1) < 2^31, the splits are
    // knuthHash(4·doc+2/3) mod (n+1) — three independent lanes from
    // one portable hash, replayed verbatim by the oracle on top of
    // the BPE merge-table token recount. Map-side only at any scale.
    QueryDef("pipeline_fim_spans", (s, d) => {
      val docs = t(s, d, "documents")
      val bpe = BpeOps.cachedTrain(s, s"$d/documents.parquet", docs,
        col("text"), numMerges = 64)
      val lenOf = docs.select(col("doc_id"),
        size(BpeOps.encode(col("text"), bpe)).cast("long").as("n_tok"))
      val fim = knuthHash(col("doc_id") * 4 + 1) < lit(2147483648L)
      val u = pmod(knuthHash(col("doc_id") * 4 + 2), col("n_tok") + 1)
      val v = pmod(knuthHash(col("doc_id") * 4 + 3), col("n_tok") + 1)
      lenOf
        .withColumn("fim", fim)
        .withColumn("lo", least(u, v))
        .withColumn("hi", greatest(u, v))
        .select(col("doc_id"), col("n_tok"), col("fim"),
          when(col("fim"), col("lo")).otherwise(col("n_tok"))
            .as("prefix_len"),
          when(col("fim"), col("hi") - col("lo")).otherwise(lit(0L))
            .as("middle_len"),
          when(col("fim"), col("n_tok") - col("hi")).otherwise(lit(0L))
            .as("suffix_len"))
        .orderBy(col("doc_id"))
    },
      fimSpansOracleSql,
      key = "pfs"),

    // T5/UL2 span-corruption manifest (Raffel et al. 2020): per
    // document, corrupt 15% of the trained-BPE content tokens as
    // n_spans = ceil(n_noise/3) non-overlapping noise spans (mean
    // length ~3). Span LENGTHS are the deterministic balanced split
    // (base = n_noise div n_spans, the remainder spread over the
    // first spans in sorted order); span PLACEMENT is stars-and-bars
    // via sorted uniform hash draws — n_spans draws over 0..n_keep
    // from a nested-Knuth per-doc lane stream, sorted, become the
    // keep-token gaps, so span k starts at draw_sorted(k) + the noise
    // already placed (closed form: k·base + min(k, rem), no cumsum).
    // Everything after the encode is integer/hash arithmetic plus ONE
    // window partitioned by doc_id whose partitions are bounded by
    // spans-per-doc (≤ n/20 + 1) — map-shaped at 100 TB. Docs whose
    // 15% rounds to zero noise tokens emit no spans, by construction
    // on both engines.
    QueryDef("pipeline_t5_spans", (s, d) => {
      val docs = t(s, d, "documents")
      val bpe = BpeOps.cachedTrain(s, s"$d/documents.parquet", docs,
        col("text"), numMerges = 64)
      val lens = docs.select(col("doc_id"),
        size(BpeOps.encode(col("text"), bpe)).cast("long").as("n_tok"))
      val base = lens
        .withColumn("n_noise",
          ops.DedupOps.idiv(col("n_tok") * 15, lit(100L)))
        .filter(col("n_noise") >= 1)
        .withColumn("n_spans",
          ops.DedupOps.idiv(col("n_noise") + 2, lit(3L)))
        .withColumn("n_keep", col("n_tok") - col("n_noise"))
      val lane = knuthHash(
        knuthHash(col("doc_id") * 2 + 1) + col("draw_id"))
      val drawn = base
        .select(col("doc_id"), col("n_tok"), col("n_noise"),
          col("n_spans"), col("n_keep"),
          explode(sequence(lit(0L), col("n_spans") - 1)).as("draw_id"))
        .withColumn("draw", pmod(lane, col("n_keep") + 1))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("draw"), col("draw_id"))
      drawn
        .withColumn("k", row_number().over(w).cast("long") - 1)
        .withColumn("b", ops.DedupOps.idiv(col("n_noise"), col("n_spans")))
        .withColumn("rem", pmod(col("n_noise"), col("n_spans")))
        .select(col("doc_id"), col("n_tok"), col("n_noise"),
          col("n_spans"), col("k").as("span_id"),
          (col("draw") + col("k") * col("b") +
            least(col("k"), col("rem"))).as("span_start"),
          (col("b") + when(col("k") < col("rem"), lit(1L))
            .otherwise(lit(0L))).as("span_len"))
        .orderBy(col("doc_id"), col("span_id"))
    },
      t5SpansOracleSql,
      key = "pt5"),

    // UL2 mixture-of-denoisers manifest (Tay et al. 2022): each doc
    // draws ONE denoiser class by hash lane — R (regular span
    // corruption: rate 15%, mean span 3; probability 1/2), S
    // (sequential / prefix-LM: one split point, the suffix is the
    // target; 1/4), X (extreme: rate 50%, mean span 32; 1/4) — and
    // emits its class's span rows. R and X share the pipeline_t5_spans
    // stars-and-bars construction with the (rate, mean, lane-salt)
    // parameters riding as columns, so ONE code path serves both; S is
    // a single hash-lane split (a zero-length suffix is a legal empty
    // target). Same physical shape as t5_spans: map-side integer/hash
    // arithmetic + one doc-bounded window.
    QueryDef("pipeline_ul2_spans", (s, d) => {
      val docs = t(s, d, "documents")
      val bpe = BpeOps.cachedTrain(s, s"$d/documents.parquet", docs,
        col("text"), numMerges = 64)
      // the BPE encode is the query's one expensive kernel and lens
      // feeds BOTH denoiser branches of the final union — materialize
      // it once (24-byte rows) with the encode pass fanned out, instead
      // of paying a second full single-task encode per branch
      val lens = ops.StorageOps.fanOutForKernel(
          docs.select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          size(BpeOps.encode(col("text"), bpe)).cast("long").as("n"))
        .filter(col("n") >= 1)
        // class draw from the hash's TOP two bits (div 2^30): the low
        // bits of a multiplicative hash of a fixed-stride input are
        // constant (8·doc+7 ≡ 3 mod 4, multiplier ≡ 1 mod 4 ⇒
        // hash ≡ 3 mod 4 for every doc) — `% 4` would put the whole
        // corpus in one class
        .withColumn("dcode", ops.DedupOps.idiv(
          knuthHash(col("doc_id") * 8 + 7), lit(1073741824L)))
        .localCheckpoint(true)
      val sBranch = lens.filter(col("dcode") === 2)
        .withColumn("u", pmod(knuthHash(col("doc_id") * 8 + 6),
          col("n") + 1))
        .select(col("doc_id"), lit("S").as("denoiser"),
          col("n").as("n_tok"), (col("n") - col("u")).as("n_noise"),
          lit(1L).as("n_spans"), lit(0L).as("span_id"),
          col("u").as("span_start"), (col("n") - col("u")).as("span_len"))
      val rxLane = knuthHash(
        knuthHash(col("doc_id") * 8 + col("salt")) + col("draw_id"))
      val rxBase = lens.filter(col("dcode") =!= 2)
        .withColumn("denoiser",
          when(col("dcode") <= 1, lit("R")).otherwise(lit("X")))
        .withColumn("rate",
          when(col("dcode") <= 1, lit(15L)).otherwise(lit(50L)))
        .withColumn("mean",
          when(col("dcode") <= 1, lit(3L)).otherwise(lit(32L)))
        .withColumn("salt",
          when(col("dcode") <= 1, lit(3L)).otherwise(lit(5L)))
        .withColumn("n_noise",
          ops.DedupOps.idiv(col("n") * col("rate"), lit(100L)))
        .filter(col("n_noise") >= 1)
        .withColumn("n_spans",
          ops.DedupOps.idiv(col("n_noise") + col("mean") - 1, col("mean")))
        .withColumn("n_keep", col("n") - col("n_noise"))
      val drawn = rxBase
        .select(col("doc_id"), col("denoiser"), col("n"), col("salt"),
          col("n_noise"), col("n_spans"), col("n_keep"),
          explode(sequence(lit(0L), col("n_spans") - 1)).as("draw_id"))
        .withColumn("draw", pmod(rxLane, col("n_keep") + 1))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("draw"), col("draw_id"))
      val rxBranch = drawn
        .withColumn("k", row_number().over(w).cast("long") - 1)
        .withColumn("b", ops.DedupOps.idiv(col("n_noise"), col("n_spans")))
        .withColumn("rem", pmod(col("n_noise"), col("n_spans")))
        .select(col("doc_id"), col("denoiser"), col("n").as("n_tok"),
          col("n_noise"), col("n_spans"), col("k").as("span_id"),
          (col("draw") + col("k") * col("b") +
            least(col("k"), col("rem"))).as("span_start"),
          (col("b") + when(col("k") < col("rem"), lit(1L))
            .otherwise(lit(0L))).as("span_len"))
      rxBranch.unionByName(sBranch)
        .orderBy(col("doc_id"), col("span_id"))
    },
      ul2SpansOracleSql,
      key = "pu2"),

    // Document-boundary-respecting packing (sample packing / no
    // cross-document attention): next-fit the trained-BPE token
    // counts into 128-token blocks where documents stay whole —
    // a doc that doesn't fit the current block's remainder closes it
    // (remainder becomes measured padding; see
    // pipeline_pack_padding), a doc longer than a block spans its own
    // consecutive blocks. The sequential walk distributes over
    // FIXED-SIZE 64-doc id buckets (deterministic arithmetic
    // boundaries, never a sampled range cut) and bucket block ranges
    // concatenate via a withGlobalOffset exclusive scan — scalable
    // past millions of buckets because the driver only ever sees one
    // row per PARTITION of the bucket-totals frame.
    QueryDef("pipeline_pack_greedy", (s, d) => {
      val docs = t(s, d, "documents")
      val bpe = BpeOps.cachedTrain(s, s"$d/documents.parquet", docs,
        col("text"), numMerges = 64)
      val manifest = docs.select(col("doc_id"),
        (size(BpeOps.encode(col("text"), bpe)) + 1).cast("long")
          .as("n_tok"))
      ops.PackOps.nextFitPack(manifest, "doc_id", "n_tok",
        blockLen = 128L, bucketSize = 64L)
        .select(col("bucket"), col("id").as("doc_id"),
          col("len").as("n_tok"), col("first_block"), col("last_block"),
          col("start_off"))
        .orderBy(col("doc_id"))
    },
      packGreedyOracleSql,
      key = "ppy"),

    // The padding bill for the document-boundary packing, per bucket:
    // blocks used, tokens carried, and pad_tokens = capacity - tokens
    // (counts both the next-fit remainders and each bucket's final
    // partial block — exactly the cost the layout trades for whole
    // documents; compare q_profile-style against pipeline_pack_blocks'
    // zero-padding concat-and-chunk). Tiny aggregate over the greedy
    // manifest; certifies the walk's block accounting independently
    // of the per-doc rows.
    QueryDef("pipeline_pack_padding", (s, d) => {
      val docs = t(s, d, "documents")
      val bpe = BpeOps.cachedTrain(s, s"$d/documents.parquet", docs,
        col("text"), numMerges = 64)
      val manifest = docs.select(col("doc_id"),
        (size(BpeOps.encode(col("text"), bpe)) + 1).cast("long")
          .as("n_tok"))
      ops.PackOps.nextFitPack(manifest, "doc_id", "n_tok",
        blockLen = 128L, bucketSize = 64L)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("len")).as("n_tokens"),
          (max(col("last_block")) - min(col("first_block")) + 1L)
            .as("n_blocks"),
          ((max(col("last_block")) - min(col("first_block")) + 1L)
            * 128L - sum(col("len"))).as("pad_tokens"))
        .orderBy(col("bucket"))
    },
      packPaddingOracleSql,
      key = "ppd"),

    // Quality CURRICULUM over the global packing's training blocks:
    // each block's quality is the token-weighted mean of the trained
    // quality classifier's doc scores over the block's fragments, and
    // the curriculum is the descending-quality read order (highest
    // quality first; the schedule a quality-ordered training run
    // consumes). The probability is micro-quantized to an exact
    // integer right after the classifier's own round-to-6dp, so every
    // downstream step — token-weighted sums, the per-full-block
    // normalization (wsum*128 div fill, exact for every interior
    // block), the rank — is integer arithmetic with no float
    // accumulation anywhere. The rank is withGlobalOffset with unit
    // lengths over a fixed-width key (no global window); the corpus
    // moves once (fragment join on doc_id), the schedule manifest is
    // all that's ordered.
    QueryDef("pipeline_curriculum", (s, d) =>
      curriculumBlocks(s, d).orderBy(col("block_id")),
      curriculumOracleSql,
      key = "pcl"),

    // Curriculum ANNEALING — the schedule curriculum learning
    // actually ships: epoch 0 reads the packed blocks in
    // descending-quality curriculum order (the warmup), every later
    // epoch reads them in its own deterministic md5 shuffle (IID
    // training once the model is past the warmup). Composes the two
    // certified rank machineries verbatim: epoch 0's positions ARE
    // pipeline_curriculum's cur_rank; epochs 1..2 are
    // pipeline_epoch_shuffle's md5 ranks (one withGlobalOffset pass
    // ranks all epochs; epoch 0's unused shuffle lane is filtered
    // out without disturbing the others' positions). Ordering is
    // manifest-only at any scale — the corpus never moves.
    QueryDef("pipeline_curriculum_anneal", (s, d) => {
      val cur = curriculumBlocks(s, d).localCheckpoint(true)
      val nBlocks = cur.count()
      val ep0 = cur.select(lit(0L).as("epoch"), col("block_id"),
        col("cur_rank").as("pos"))
      val shuf = ops.PackOps.epochOrder(
        cur.select(col("block_id")), "block_id", epochs = 3,
        n = nBlocks)
        .filter(col("epoch") >= 1)
        .select(col("epoch"), col("block_id"), col("pos"))
      ep0.unionByName(shuf).orderBy(col("epoch"), col("block_id"))
    },
      curriculumAnnealOracleSql,
      key = "pan"),

    // ★ r10: INCREMENTAL PACK MANIFEST from the ingest loop — each
    // accepted batch extends the global token stream at the stored
    // total (the restart-safe driver long recovered from the artifact
    // itself), so arriving data gets training-block offsets with
    // batch-sized work: no corpus re-read, no re-offsetting of the
    // existing manifest, ever. Same two-batch loop as
    // pipeline_ingest_drift (b1 re-delivers half of b0, so the merge
    // between batches shapes WHICH docs get offsets); the oracle
    // composes the full ingest replay (accepted clean text per batch
    // against the merged inventory states) with the BPE merge-table
    // replay for per-doc piece counts and the (batch, doc_id)-ordered
    // cumsum — certifying gate -> merge -> gate -> tokenize -> offset
    // as ONE composition.
    QueryDef("pipeline_pack_incr", (s, d) => {
      val segLen = 16
      val docs = t(s, d, "documents")
      val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      def grams(c: Column): Column = {
        val w = split(lower(c), " ")
        when(size(w) >= 3, transform(sequence(lit(0), size(w) - 3),
          i => concat_ws(" ", element_at(w, i + 1),
            element_at(w, i + 2), element_at(w, i + 3))))
          .otherwise(array(array_join(w, " ")))
      }
      // materialized ONCE: the loop's per-batch gate joins this set
      // every batch — without the checkpoint each batch re-derives it
      // from the corpus (and the per-batch plan would read corpus text)
      val evalGrams = corpus.filter(pmod(col("doc_id"), lit(50)) === 1)
        .select(explode(array_distinct(grams(col("text")))).as("g"))
        .distinct().localCheckpoint(true)
      val run = java.util.UUID.randomUUID().toString.take(12)
      val key = s"packincr_$run"
      val baseKey = ops.IngestOps.cachedInventory(s,
        s"$d/documents.parquet", "ingsbase", corpus, "text", segLen)
      ops.IngestOps.cloneInventory(baseKey, key)
      val bpe = BpeOps.cachedTrain(s, s"$d/documents.parquet", docs,
        col("text"), numMerges = 64)
      val packDir = ops.StorageOps.scratchPath(s"packincr_$run")
      val loop = new graft.streaming.IngestLoop(s, key, "doc_id",
        "text", Some(evalGrams), segLen, wp = None, bpe = Some(bpe),
        packManifestDir = Some(packDir))
      loop.processBatch(
        docs.filter(pmod(col("doc_id"), lit(10)) === 0), "b0")
      loop.processBatch(
        docs.filter(pmod(col("doc_id"), lit(10)) === 5 ||
          pmod(col("doc_id"), lit(20)) === 0), "b1")
      // pin the manifest before the per-run artifacts are dropped
      val res = loop.packManifest
        .orderBy(col("batch"), col("doc_id")).localCheckpoint(true)
      ops.IngestOps.dropInventory(key)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(packDir))
      res
    },
      packIncrOracleSql,
      key = "ppi"),

    // ★ r11: SHARD EXPORT — the WRITE side of the WebDataset
    // convention (the media analogue of pipeline_pack_export):
    // group docs into 32 shards, order members deterministically,
    // BUILD one real ustar archive per shard (id.txt + id.ppm per
    // doc), re-walk it with the decoder as a self-check, and certify
    // the built archive's byte length against the oracle's
    // independent layout arithmetic (headers + 512-padding + end
    // blocks, summed per shard). The one payload shuffle is the
    // grouping the product REQUIRES — a shard's members must meet in
    // one task to be serialized; nothing larger than a shard exists
    // at once.
    QueryDef("pipeline_shard_export", (s, d) => {
      ops.Multimodal.shardExport(s, t(s, d, "documents"), nShards = 32)
        .toDF()
        .select(col("shard_id"), col("n_docs"), col("n_members"),
          col("tar_bytes"), col("txt_bytes"), col("reread_members"))
        .orderBy(col("shard_id"))
    },
      // Independent layout arithmetic per shard: each doc contributes
      // two members (header 512 + data padded to 512 each), plus the
      // 1024-byte end-of-archive; the Spark side reports the length of
      // the archive it actually BUILT, so equality certifies the
      // archive writer's framing against the spec, member by member.
      """WITH sz AS (
        |  SELECT doc_id, text,
        |    ascii(substr(text, 1, 1)) % 64 + 16 AS w,
        |    ascii(substr(text, 2, 1)) % 64 + 16 AS h
        |  FROM documents),
        |m AS (
        |  SELECT doc_id % 32 AS shard_id,
        |    512 + ((strlen(text) + 511) // 512) * 512
        |      + 512 + ((9 + strlen(cast(w as varchar))
        |        + strlen(cast(h as varchar)) + w * h * 3 + 511) // 512)
        |        * 512 AS member_bytes,
        |    strlen(text) AS txt
        |  FROM sz)
        |SELECT shard_id,
        |  cast(count(*) as bigint) AS n_docs,
        |  cast(count(*) * 2 as bigint) AS n_members,
        |  cast(1024 + sum(member_bytes) as bigint) AS tar_bytes,
        |  cast(sum(txt) as bigint) AS txt_bytes,
        |  cast(count(*) * 2 as bigint) AS reread_members
        |FROM m GROUP BY shard_id
        |ORDER BY shard_id""".stripMargin),

    // ★ r12: BYTE-BUDGET shard export — how real WebDataset writers
    // cut shards: next-fit member pairs (no splitting) against a
    // 32 KiB archive budget instead of doc_id mod N. The narrow
    // manifest walks per 64-doc bucket (one aggregate HOF over the
    // sorted (id, bytes) array — PackOps.nextFitPack's distribution
    // discipline), bucket shard ranges concatenate via
    // withGlobalOffset, and only then do members meet their shard to
    // be serialized (the one payload shuffle). The oracle replays
    // the walk as a lockstep recursive CTE over the SAME layout
    // arithmetic and certifies every BUILT archive's byte length +
    // the budget verdict (a shard fits unless it is one oversize
    // member pair; this corpus's pairs are 8.5-15.9 KiB so a 32 KiB
    // budget packs 2-3 pairs per shard — the oversize arm is
    // spec-gated with synthetic docs, ShardBudgetSpec).
    QueryDef("pipeline_shard_budget", (s, d) => {
      ops.Multimodal.shardExportBudget(s, t(s, d, "documents"),
        budgetBytes = 32768L, bucketSize = 64L)
        .select(col("shard_id"), col("n_docs"), col("n_members"),
          col("txt_bytes"), col("tar_bytes"), col("fits"))
        .orderBy(col("shard_id"))
    },
      // Replays the byte-budget walk as a lockstep recursion (all
      // 64-doc buckets advance one doc per step — the placement
      // scalars mirror Multimodal.shardExportBudget's accumulator
      // exactly), then the window exclusive scan into global shard
      // ids, then per-shard layout arithmetic (1024 end-block bytes +
      // each member pair's headers + 512-padded payloads) and the
      // budget verdict.
      """WITH RECURSIVE sz AS (
        |  SELECT doc_id, strlen(text) AS txt,
        |    ascii(substr(text, 1, 1)) % 64 + 16 AS w,
        |    ascii(substr(text, 2, 1)) % 64 + 16 AS h
        |  FROM documents),
        |m AS (
        |  SELECT doc_id // 64 AS bucket, doc_id, txt,
        |    512 + ((txt + 511) // 512) * 512
        |      + 512 + ((9 + strlen(cast(w as varchar))
        |        + strlen(cast(h as varchar)) + w * h * 3 + 511) // 512)
        |        * 512 AS mb,
        |    row_number() OVER (PARTITION BY doc_id // 64
        |      ORDER BY doc_id) AS rn
        |  FROM sz),
        |walk(bucket, rn, doc_id, txt, mb, shard_rel, fill) AS (
        |  SELECT bucket, rn, doc_id, txt, mb, cast(0 AS BIGINT), mb
        |  FROM m WHERE rn = 1
        |  UNION ALL
        |  SELECT d.bucket, d.rn, d.doc_id, d.txt, d.mb,
        |    w.shard_rel + CASE WHEN w.fill > 0 AND
        |      w.fill + d.mb > 31744 THEN 1 ELSE 0 END,
        |    CASE WHEN w.fill > 0 AND w.fill + d.mb > 31744
        |      THEN d.mb ELSE w.fill + d.mb END
        |  FROM walk w JOIN m d
        |    ON d.bucket = w.bucket AND d.rn = w.rn + 1),
        |bu AS (
        |  SELECT bucket, max(shard_rel) + 1 AS nb
        |  FROM walk GROUP BY bucket),
        |gbase AS (
        |  SELECT bucket, coalesce(sum(nb) OVER (ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS base
        |  FROM bu),
        |sh AS (
        |  SELECT w.shard_rel + g.base AS shard_id, w.doc_id, w.txt,
        |    w.mb
        |  FROM walk w JOIN gbase g USING (bucket))
        |SELECT cast(shard_id AS BIGINT) AS shard_id,
        |  cast(count(*) AS BIGINT) AS n_docs,
        |  cast(count(*) * 2 AS BIGINT) AS n_members,
        |  cast(sum(txt) AS BIGINT) AS txt_bytes,
        |  cast(1024 + sum(mb) AS BIGINT) AS tar_bytes,
        |  (1024 + sum(mb) <= 32768) OR count(*) = 1 AS fits
        |FROM sh GROUP BY shard_id
        |ORDER BY shard_id""".stripMargin)
  )

  /** The quality-curriculum block schedule shared by
    * `pipeline_curriculum` (which emits it directly) and
    * `pipeline_curriculum_anneal` (which uses its rank as epoch 0):
    * packed 128-token blocks scored by the token-weighted trained
    * classifier probability (micro-quantized so everything after the
    * classifier's round-to-6dp is integer arithmetic) and ranked
    * (score DESC, block ASC) via a fixed-width-key withGlobalOffset —
    * no global window. Columns: block_id, fill, score_micro,
    * cur_rank (unordered). */
  private def curriculumBlocks(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val bpe = BpeOps.cachedTrain(s, s"$d/documents.parquet", docs,
      col("text"), numMerges = 64)
    val manifest = docs.select(col("doc_id"),
      (size(BpeOps.encode(col("text"), bpe)) + 1).cast("long")
        .as("n_tok"))
    val contrib = ops.PackOps.blockContributions(
      ops.PackOps.blockSpans(
        ops.PackOps.withGlobalOffset(manifest, "doc_id", "n_tok",
          "tok_start"),
        "tok_start", "n_tok", 128L),
      "tok_start", "n_tok", 128L)
      .select(col("doc_id"), col("block_id"), col("block_tokens"))
    val feats = graft.ops.QualityClassifierOps
      .featurize(docs, col("text")).localCheckpoint()
    // consumer of the classifier, not its trainer: the persisted
    // beta artifact (bit-identical to a fresh IRLS run — see
    // cachedTrain scaladoc) skips the 8 training scans here while
    // pipeline_quality_classifier keeps exercising the full path
    val beta = graft.ops.QualityClassifierOps.cachedTrain(s,
      s"$d/documents.parquet", feats)
    val scores = feats.select(col("doc_id"),
      round(round(graft.ops.QualityClassifierOps.score(beta), 6)
        * 1e6).cast("long").as("p_micro"))
    val blocks = contrib.join(scores, Seq("doc_id"))
      .groupBy(col("block_id"))
      .agg(sum(col("block_tokens")).as("fill"),
        sum(col("block_tokens") * col("p_micro")).as("wsum"))
      .withColumn("score_micro",
        ops.DedupOps.idiv(col("wsum") * 128L, col("fill")))
    // fixed-width ascending key == (score DESC, block_id ASC):
    // score_micro <= 1.28e8 < 2e8, so the complement stays 9 digits
    val key = concat(
      lpad((lit(200000000L) - col("score_micro")).cast("string"),
        9, "0"),
      lpad(col("block_id").cast("string"), 20, "0"))
    ops.PackOps.withGlobalOffset(
      blocks.withColumn("__ord", key).withColumn("__one", lit(1L)),
      "__ord", "__one", "cur_rank")
      .select(col("block_id"), col("fill"), col("score_micro"),
        col("cur_rank"))
  }

  /** Pack-export replay: the [[chunkBpeOracleSql]] per-doc ordered
    * piece streams (merge recursion + in-doc flatten), the '</d>'
    * sentinel appended per doc, the doc_id-order window cumsum for
    * stream offsets, and each 128-token block's md5 over its
    * space-joined pieces in stream order. Must reproduce every
    * block hash or the content reconstruction diverged. */
  private lazy val packExportOracleSql: String =
    """WITH RECURSIVE words AS (
      |  SELECT DISTINCT w FROM (
      |    SELECT unnest(regexp_extract_all(text,
      |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f]+')) AS w
      |    FROM documents)),
      |rec(w, syms) AS (
      |  SELECT w, list_transform(range(1, length(w)+1), i -> w[i])
      |  FROM words
      |  UNION ALL
      |  SELECT w, syms[1:bi-1] || [syms[bi] || syms[bi+1]] || syms[bi+2:]
      |  FROM (
      |    SELECT w, syms, list_position(pr, list_min(pr)) AS bi,
      |      list_min(pr) AS br
      |    FROM (
      |      SELECT w, syms,
      |        list_transform(range(1, len(syms)), i ->
      |          coalesce(({{BPE_RANK_MAP}}[syms[i] || ' ' ||
      |            syms[i+1]])[1], 1000000)) AS pr
      |      FROM rec WHERE len(syms) >= 2) t) u
      |  WHERE br < 1000000),
      |fin AS (
      |  SELECT w, syms FROM (
      |    SELECT w, syms,
      |      row_number() OVER (PARTITION BY w ORDER BY len(syms)) AS rn
      |    FROM rec) WHERE rn = 1),
      |dw AS (
      |  SELECT doc_id, regexp_extract_all(text,
      |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f]+') AS ws
      |  FROM documents),
      |seq AS (
      |  SELECT doc_id, unnest(range(1, len(ws)+1)) AS ord,
      |    unnest(ws) AS w FROM dw),
      |docseq AS (
      |  SELECT s.doc_id, flatten(list(f.syms ORDER BY s.ord)) AS toks
      |  FROM seq s JOIN fin f USING (w) GROUP BY s.doc_id),
      |dtoks AS (
      |  SELECT d.doc_id, coalesce(ds.toks, []) || ['</d>'] AS toks
      |  FROM dw d LEFT JOIN docseq ds USING (doc_id)),
      |offs AS (
      |  SELECT doc_id, toks,
      |    cast(coalesce(sum(len(toks)) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS tok_start
      |  FROM dtoks),
      |pieces AS (
      |  SELECT tok_start + g.i - 1 AS gpos, toks[g.i] AS piece
      |  FROM offs, LATERAL unnest(generate_series(1, len(toks))) g(i)),
      |blocks AS (
      |  SELECT gpos // 128 AS block_id, count(*) AS n_pieces,
      |    md5(string_agg(piece, ' ' ORDER BY gpos)) AS block_md5
      |  FROM pieces GROUP BY gpos // 128)
      |SELECT cast(block_id AS BIGINT) AS block_id,
      |  cast(n_pieces AS BIGINT) AS n_pieces, block_md5
      |FROM blocks ORDER BY block_id""".stripMargin

  /** FIM span-manifest replay: [[packCtes]]'s `alld` carries the
    * trained-BPE token count (+1 separator, subtracted back here —
    * the FIM transform splits CONTENT tokens only), and the three
    * Knuth lanes (coin, u, v) are the verbatim hash arithmetic over
    * 4·doc_id + k. Unused trailing CTEs of the shared chain are never
    * evaluated by DuckDB. */
  private lazy val fimSpansOracleSql: String = {
    val coin = knuthHashSql("(doc_id * 4 + 1)")
    val hu = knuthHashSql("(doc_id * 4 + 2)")
    val hv = knuthHashSql("(doc_id * 4 + 3)")
    s"""WITH RECURSIVE $packCtes,
       |m AS (SELECT doc_id, n_tok - 1 AS n_tok FROM alld),
       |lanes AS (
       |  SELECT doc_id, n_tok,
       |    $coin < 2147483648 AS fim,
       |    $hu % (n_tok + 1) AS u,
       |    $hv % (n_tok + 1) AS v
       |  FROM m),
       |sp AS (
       |  SELECT doc_id, n_tok, fim,
       |    least(u, v) AS lo, greatest(u, v) AS hi
       |  FROM lanes)
       |SELECT doc_id, cast(n_tok AS BIGINT) AS n_tok, fim,
       |  cast(CASE WHEN fim THEN lo ELSE n_tok END AS BIGINT)
       |    AS prefix_len,
       |  cast(CASE WHEN fim THEN hi - lo ELSE 0 END AS BIGINT)
       |    AS middle_len,
       |  cast(CASE WHEN fim THEN n_tok - hi ELSE 0 END AS BIGINT)
       |    AS suffix_len
       |FROM sp ORDER BY doc_id""".stripMargin
  }

  /** T5 span-corruption replay: [[packCtes]]'s trained-BPE token
    * counts (−1 sentinel), the integer noise/span-count arithmetic,
    * the nested-Knuth draw lanes, and the stars-and-bars placement —
    * the sort of the per-doc draws is a window row_number, the noise
    * prefix is the closed form k·base + min(k, rem). Verbatim mirror
    * of the Spark arithmetic; `//` and `%` operate on non-negative
    * operands throughout, so they agree with `idiv`/`pmod` exactly. */
  private lazy val t5SpansOracleSql: String = {
    val inner = knuthHashSql("(doc_id * 2 + 1)")
    val lane = knuthHashSql(s"($inner + draw_id)")
    s"""WITH RECURSIVE $packCtes,
       |m AS (SELECT doc_id, n_tok - 1 AS n FROM alld),
       |b0 AS (SELECT doc_id, n, (n * 15) // 100 AS n_noise FROM m),
       |b1 AS (
       |  SELECT doc_id, n, n_noise, (n_noise + 2) // 3 AS n_spans,
       |    n - n_noise AS n_keep
       |  FROM b0 WHERE n_noise >= 1),
       |dr AS (
       |  SELECT doc_id, n, n_noise, n_spans, n_keep,
       |    unnest(range(0, n_spans)) AS draw_id
       |  FROM b1),
       |d2 AS (SELECT *, $lane % (n_keep + 1) AS draw FROM dr),
       |d3 AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY draw, draw_id) - 1 AS k
       |  FROM d2)
       |SELECT doc_id, cast(n AS BIGINT) AS n_tok,
       |  cast(n_noise AS BIGINT) AS n_noise,
       |  cast(n_spans AS BIGINT) AS n_spans,
       |  cast(k AS BIGINT) AS span_id,
       |  cast(draw + k * (n_noise // n_spans)
       |    + least(k, n_noise % n_spans) AS BIGINT) AS span_start,
       |  cast(n_noise // n_spans
       |    + CASE WHEN k < n_noise % n_spans THEN 1 ELSE 0 END
       |    AS BIGINT) AS span_len
       |FROM d3 ORDER BY doc_id, span_id""".stripMargin
  }

  /** UL2 manifest replay: denoiser assignment, the S split lane, and
    * the R/X stars-and-bars construction with per-class parameters as
    * CASE columns — verbatim [[t5SpansOracleSql]] arithmetic, the
    * lane salted per class exactly as the Spark columns are. */
  private lazy val ul2SpansOracleSql: String = {
    val den = knuthHashSql("(doc_id * 8 + 7)")
    val sLane = knuthHashSql("(doc_id * 8 + 6)")
    val rxLane = knuthHashSql(
      s"(${knuthHashSql("(doc_id * 8 + salt)")} + draw_id)")
    s"""WITH RECURSIVE $packCtes,
       |m AS (SELECT doc_id, n_tok - 1 AS n FROM alld
       |      WHERE n_tok - 1 >= 1),
       |dn AS (SELECT doc_id, n, $den // 1073741824 AS dcode FROM m),
       |sb AS (
       |  SELECT doc_id, 'S' AS denoiser, n AS n_tok,
       |    n - u AS n_noise, cast(1 AS BIGINT) AS n_spans,
       |    cast(0 AS BIGINT) AS span_id, u AS span_start,
       |    n - u AS span_len
       |  FROM (SELECT doc_id, n, $sLane % (n + 1) AS u
       |        FROM dn WHERE dcode = 2)),
       |rxb AS (
       |  SELECT doc_id, n,
       |    CASE WHEN dcode <= 1 THEN 'R' ELSE 'X' END AS denoiser,
       |    CASE WHEN dcode <= 1 THEN (n * 15) // 100
       |         ELSE (n * 50) // 100 END AS n_noise,
       |    CASE WHEN dcode <= 1 THEN 3 ELSE 32 END AS mean,
       |    CASE WHEN dcode <= 1 THEN 3 ELSE 5 END AS salt
       |  FROM dn WHERE dcode != 2),
       |rx1 AS (
       |  SELECT *, (n_noise + mean - 1) // mean AS n_spans,
       |    n - n_noise AS n_keep
       |  FROM rxb WHERE n_noise >= 1),
       |dr AS (
       |  SELECT *, unnest(range(0, n_spans)) AS draw_id FROM rx1),
       |d2 AS (SELECT *, $rxLane % (n_keep + 1) AS draw FROM dr),
       |d3 AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY draw, draw_id) - 1 AS k
       |  FROM d2),
       |rxo AS (
       |  SELECT doc_id, denoiser, n AS n_tok, n_noise, n_spans,
       |    k AS span_id,
       |    draw + k * (n_noise // n_spans)
       |      + least(k, n_noise % n_spans) AS span_start,
       |    n_noise // n_spans
       |      + CASE WHEN k < n_noise % n_spans THEN 1 ELSE 0 END
       |      AS span_len
       |  FROM d3),
       |uni AS (SELECT * FROM rxo UNION ALL SELECT * FROM sb)
       |SELECT doc_id, denoiser, cast(n_tok AS BIGINT) AS n_tok,
       |  cast(n_noise AS BIGINT) AS n_noise,
       |  cast(n_spans AS BIGINT) AS n_spans,
       |  cast(span_id AS BIGINT) AS span_id,
       |  cast(span_start AS BIGINT) AS span_start,
       |  cast(span_len AS BIGINT) AS span_len
       |FROM uni ORDER BY doc_id, span_id""".stripMargin
  }

  /** DuckDB replay of the global packing manifest: trained-BPE token
    * counts from the raw corpus ([[packCtes]]) + window cumsum +
    * integer block arithmetic (`//` mirrors [[graft.ops.DedupOps
    * .idiv]]). */
  private lazy val packGlobalOracleSql: String =
    s"""WITH RECURSIVE $packCtes
       |SELECT doc_id, n_tok, tok_start,
       |  cast(first_block AS BIGINT) AS first_block,
       |  cast(last_block AS BIGINT) AS last_block,
       |  cast(start_off AS BIGINT) AS start_off,
       |  cast(last_block - first_block + 1 AS BIGINT) AS n_blocks
       |FROM spans ORDER BY doc_id""".stripMargin

  /** Block-side replay: every doc span explodes to the 128-token
    * blocks it touches with its clipped token contribution, and the
    * per-block fills roll into the docs-per-block histogram. Each
    * interior block must reconstruct to exactly 128 tokens from its
    * fragments or the hash check dies — the strongest certification
    * of the span arithmetic. */
  private lazy val packBlocksOracleSql: String =
    s"""WITH RECURSIVE $packCtes,
       |blocks AS (
       |  SELECT g.b AS block_id, count(*) AS n_docs,
       |    sum(least((g.b + 1) * 128, tok_start + n_tok)
       |      - greatest(g.b * 128, tok_start)) AS fill
       |  FROM spans,
       |    LATERAL unnest(generate_series(first_block, last_block)) g(b)
       |  GROUP BY g.b)
       |SELECT cast(n_docs AS BIGINT) AS docs_per_block,
       |  cast(count(*) AS BIGINT) AS n_blocks,
       |  cast(sum(fill) AS BIGINT) AS n_tokens
       |FROM blocks GROUP BY n_docs ORDER BY docs_per_block""".stripMargin

  /** DuckDB replay of the deterministic epoch shuffle: total tokens
    * from the [[packCtes]] corpus replay give the block count; each
    * (epoch, block)'s position is its md5 rank within the epoch —
    * row_number over (md5, block) matches the Spark side's global
    * rank minus the epoch base because the zero-padded epoch prefixes
    * the Spark order key. DuckDB's md5 spells the same lowercase hex
    * over the same ASCII bytes. */
  private lazy val epochShuffleOracleSql: String =
    s"""WITH RECURSIVE $packCtes,
       |nb AS (SELECT cast((sum(n_tok) + 127) // 128 AS BIGINT) AS n
       |  FROM alld),
       |eb AS (
       |  SELECT e.e AS epoch, g.b AS block_id,
       |    md5(cast(e.e AS VARCHAR) || ':' || cast(g.b AS VARCHAR))
       |      AS h
       |  FROM nb,
       |    LATERAL unnest(generate_series(0, nb.n - 1)) g(b),
       |    LATERAL unnest(generate_series(0, 2)) e(e))
       |SELECT cast(epoch AS BIGINT) AS epoch,
       |  cast(block_id AS BIGINT) AS block_id,
       |  cast(row_number() OVER (PARTITION BY epoch
       |    ORDER BY h, block_id) - 1 AS BIGINT) AS pos
       |FROM eb ORDER BY epoch, block_id""".stripMargin

  /** Shared CTE suffix for the document-boundary (next-fit) packing
    * oracles, appended after [[packCtes]] (uses its `alld` per-doc
    * token counts): the per-64-doc-bucket sequential walk replayed as
    * a lockstep recursion (all buckets advance one doc per step —
    * the placement scalars mirror [[graft.ops.PackOps.nextFitPack]]'s
    * accumulator exactly), then bucket block ranges concatenate via a
    * window exclusive scan. */
  private lazy val greedyCtes: String =
    """bdocs AS (
      |  SELECT doc_id // 64 AS bucket, doc_id, n_tok,
      |    row_number() OVER (PARTITION BY doc_id // 64
      |      ORDER BY doc_id) AS rn
      |  FROM alld),
      |walk(bucket, rn, doc_id, n_tok, first_rel, last_rel, fill_a,
      |     start_off) AS (
      |  SELECT bucket, rn, doc_id, n_tok,
      |    cast(0 AS BIGINT),
      |    (n_tok - 1) // 128,
      |    n_tok - ((n_tok - 1) // 128) * 128,
      |    cast(0 AS BIGINT)
      |  FROM bdocs WHERE rn = 1
      |  UNION ALL
      |  SELECT d.bucket, d.rn, d.doc_id, d.n_tok,
      |    CASE WHEN d.n_tok <= 128 - w.fill_a THEN w.last_rel
      |         WHEN w.fill_a = 0 THEN w.last_rel
      |         ELSE w.last_rel + 1 END,
      |    CASE WHEN d.n_tok <= 128 - w.fill_a THEN w.last_rel
      |         WHEN w.fill_a = 0 THEN w.last_rel
      |         ELSE w.last_rel + 1 END
      |      + CASE WHEN d.n_tok <= 128 - w.fill_a THEN 0
      |             ELSE (d.n_tok - 1) // 128 END,
      |    CASE WHEN d.n_tok <= 128 - w.fill_a THEN w.fill_a + d.n_tok
      |         ELSE d.n_tok - ((d.n_tok - 1) // 128) * 128 END,
      |    CASE WHEN d.n_tok <= 128 - w.fill_a THEN w.fill_a
      |         ELSE 0 END
      |  FROM walk w JOIN bdocs d
      |    ON d.bucket = w.bucket AND d.rn = w.rn + 1),
      |bu AS (
      |  SELECT bucket, max(last_rel) + 1 AS nb
      |  FROM walk GROUP BY bucket),
      |gbase AS (
      |  SELECT bucket, coalesce(sum(nb) OVER (ORDER BY bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS base
      |  FROM bu),
      |greedy AS (
      |  SELECT w.bucket, w.doc_id, w.n_tok,
      |    w.first_rel + g.base AS first_block,
      |    w.last_rel + g.base AS last_block,
      |    w.start_off
      |  FROM walk w JOIN gbase g USING (bucket))""".stripMargin

  /** DuckDB replay of the per-doc next-fit packing manifest. */
  private lazy val packGreedyOracleSql: String =
    s"""WITH RECURSIVE $packCtes,
       |$greedyCtes
       |SELECT cast(bucket AS BIGINT) AS bucket, doc_id,
       |  cast(n_tok AS BIGINT) AS n_tok,
       |  cast(first_block AS BIGINT) AS first_block,
       |  cast(last_block AS BIGINT) AS last_block,
       |  cast(start_off AS BIGINT) AS start_off
       |FROM greedy ORDER BY doc_id""".stripMargin

  /** DuckDB replay of the per-bucket padding bill. */
  private lazy val packPaddingOracleSql: String =
    s"""WITH RECURSIVE $packCtes,
       |$greedyCtes
       |SELECT cast(bucket AS BIGINT) AS bucket,
       |  cast(count(*) AS BIGINT) AS n_docs,
       |  cast(sum(n_tok) AS BIGINT) AS n_tokens,
       |  cast(max(last_block) - min(first_block) + 1 AS BIGINT)
       |    AS n_blocks,
       |  cast((max(last_block) - min(first_block) + 1) * 128
       |    - sum(n_tok) AS BIGINT) AS pad_tokens
       |FROM greedy GROUP BY bucket ORDER BY bucket""".stripMargin

  /** DuckDB replay of the quality curriculum: [[packCtes]] block
    * fragments × the [[qcFeatureCtes]] classifier score (embedded
    * IRLS coefficients, micro-quantized to an exact integer after the
    * shared round-to-6dp), token-weighted integer block scores, and
    * the descending-quality rank. All block arithmetic is integer —
    * the only doubles are the classifier sigmoid and its two rounds,
    * both already hash-certified by the quality-classifier oracle. */
  /** Shared CTE chain of the curriculum oracles — ends at `r`
    * holding (block_id, fill, score_micro). Shared verbatim by
    * [[curriculumOracleSql]] and [[curriculumAnnealOracleSql]]. */
  private lazy val curriculumCtes: String =
    s"""$packCtes,
       |contrib AS (
       |  SELECT doc_id, g.b AS block_id,
       |    least((g.b + 1) * 128, tok_start + n_tok)
       |      - greatest(g.b * 128, tok_start) AS bt
       |  FROM spans,
       |    LATERAL unnest(generate_series(first_block, last_block)) g(b)),
       |$qcFeatureCtes,
       |sc AS (
       |  SELECT doc_id,
       |    cast(round(round(1.0 / (1.0 + exp(-(
       |      f0*({{QC_B0}}) + f1*({{QC_B1}}) + f2*({{QC_B2}})
       |      + f3*({{QC_B3}}) + f4*({{QC_B4}}) + f5*({{QC_B5}})))), 6)
       |      * 1000000.0) AS BIGINT) AS p_micro
       |  FROM f),
       |bk AS (
       |  SELECT block_id, cast(sum(bt) AS BIGINT) AS fill,
       |    cast(sum(bt * p_micro) AS BIGINT) AS wsum
       |  FROM contrib JOIN sc USING (doc_id) GROUP BY block_id),
       |r AS (
       |  SELECT block_id, fill, (wsum * 128) // fill AS score_micro
       |  FROM bk)""".stripMargin

  private lazy val curriculumOracleSql: String =
    s"""WITH RECURSIVE $curriculumCtes
       |SELECT cast(block_id AS BIGINT) AS block_id, fill,
       |  cast(score_micro AS BIGINT) AS score_micro,
       |  cast(row_number() OVER (ORDER BY score_micro DESC, block_id)
       |    - 1 AS BIGINT) AS cur_rank
       |FROM r ORDER BY block_id""".stripMargin

  /** Anneal replay: epoch 0 = the curriculum rank, epochs 1..2 =
    * the md5(epoch:block) shuffle rank (the
    * [[epochShuffleOracleSql]] lane, restricted to epochs >= 1). */
  private lazy val curriculumAnnealOracleSql: String =
    s"""WITH RECURSIVE $curriculumCtes,
       |rk AS (
       |  SELECT block_id,
       |    row_number() OVER (ORDER BY score_micro DESC, block_id) - 1
       |      AS pos
       |  FROM r),
       |eb AS (
       |  SELECT e.e AS epoch, rk.block_id,
       |    md5(cast(e.e AS VARCHAR) || ':' ||
       |      cast(rk.block_id AS VARCHAR)) AS h
       |  FROM rk, LATERAL unnest(generate_series(1, 2)) e(e)),
       |sh AS (
       |  SELECT epoch, block_id,
       |    row_number() OVER (PARTITION BY epoch ORDER BY h, block_id)
       |      - 1 AS pos
       |  FROM eb)
       |SELECT cast(epoch AS BIGINT) AS epoch,
       |  cast(block_id AS BIGINT) AS block_id,
       |  cast(pos AS BIGINT) AS pos
       |FROM (SELECT 0 AS epoch, block_id, pos FROM rk
       |      UNION ALL SELECT epoch, block_id, pos FROM sh)
       |ORDER BY epoch, block_id""".stripMargin

  /** The ingest loop's INCREMENTAL PACK MANIFEST replayed end-to-end:
    * the [[ingestStreamCtes]] prefix re-derives each batch's accepted
    * clean text, the BPE merge recursion (same shape as the standalone
    * encode oracle) reduces each accepted word type to its piece
    * count, per-doc token counts re-assemble by multiplicity (+1
    * end-of-doc separator; a doc with no pre-tokenizer matches keeps
    * the bare separator via the LEFT JOIN), and the stream offsets are
    * the exclusive cumsum in arrival order (batch, doc_id) — the
    * order the loop's per-batch [[graft.ops.PackOps.withGlobalOffset]]
    * + stored-total base produces by construction. */
  private lazy val packIncrOracleSql: String =
    "WITH RECURSIVE " + ingestStreamCtes + ",\n" +
      """acc AS (
        |  SELECT 'b0' AS batch, doc_id, clean FROM s4_a
        |  UNION ALL SELECT 'b1', doc_id, clean FROM s4_b),
        |pw AS (
        |  SELECT batch, doc_id, regexp_extract_all(clean,
        |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f]+') AS ws
        |  FROM acc),
        |pwords AS (SELECT DISTINCT w FROM (
        |  SELECT unnest(ws) AS w FROM pw)),
        |prec(w, syms) AS (
        |  SELECT w, list_transform(range(1, length(w)+1), i -> w[i])
        |  FROM pwords
        |  UNION ALL
        |  SELECT w, syms[1:bi-1] || [syms[bi] || syms[bi+1]] || syms[bi+2:]
        |  FROM (
        |    SELECT w, syms, list_position(pr, list_min(pr)) AS bi,
        |      list_min(pr) AS br
        |    FROM (SELECT w, syms,
        |        list_transform(range(1, len(syms)), i ->
        |          coalesce(({{BPE_RANK_MAP}}[syms[i] || ' ' ||
        |            syms[i+1]])[1], 1000000)) AS pr
        |      FROM prec WHERE len(syms) >= 2) t) u
        |  WHERE br < 1000000),
        |pfin AS (
        |  SELECT w, len(syms) AS np FROM (
        |    SELECT w, syms,
        |      row_number() OVER (PARTITION BY w ORDER BY len(syms))
        |        AS rn
        |    FROM prec) WHERE rn = 1),
        |pseq AS (SELECT batch, doc_id, unnest(ws) AS w FROM pw),
        |ptok AS (
        |  SELECT p.batch, p.doc_id, cast(sum(f.np) AS BIGINT) AS nt
        |  FROM pseq p JOIN pfin f USING (w)
        |  GROUP BY p.batch, p.doc_id),
        |pman AS (
        |  SELECT a.batch, a.doc_id,
        |    cast(coalesce(t.nt, 0) + 1 AS BIGINT) AS n_tok
        |  FROM acc a LEFT JOIN ptok t
        |    ON a.batch = t.batch AND a.doc_id = t.doc_id)
        |SELECT batch, doc_id, n_tok,
        |  cast(coalesce(sum(n_tok) OVER (ORDER BY batch, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS tok_start
        |FROM pman ORDER BY batch, doc_id""".stripMargin
}

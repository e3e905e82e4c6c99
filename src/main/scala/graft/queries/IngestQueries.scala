package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.BpeOps

/** The incremental ingest loop: batch, persisted-inventory,
  * streaming, drift and quarantine variants. */
object IngestQueries {
  import QueryHelpers._

  val defs: Seq[QueryDef] = Seq(
    // INCREMENTAL ingest of a new shard against an existing corpus —
    // the flow a live 100-TB pipeline runs per arriving batch, as one
    // declared query with per-stage accounting: (1) exact dedup, both
    // within the batch (first occurrence wins) and against the corpus
    // md5 set; (2) SEGMENT EXCISION against the corpus's 16-token
    // segment inventory (the batch twin of the streaming
    // segmentGateStream — survivors keep only corpus-novel segments,
    // docs cleaned to nothing drop); (3) quality gate on the CLEANED
    // text (token floor + mean-word-length band); (4) n-gram
    // decontamination of the cleaned text against the eval slice.
    // Every stage is exact, so the whole composition — including the
    // per-stage survivor counts and id sums — is replayed by the
    // oracle. Wire discipline: the corpus sides reduce to md5/segment
    // hash SETS before any join; the only text-shaped work is
    // row-local segmentation and reassembly.
    QueryDef("pipeline_ingest", (s, d) => {
      val segLen = 16
      val docs = t(s, d, "documents")
      val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      // stage 1: exact dedup (in-batch first-wins + corpus md5 set).
      // r15: s1 and s2 are PINNED — the five per-stage accounting
      // branches below union into ONE plan, and without the pins each
      // branch re-derived its whole gating prefix (the corpus md5 set
      // three times, the corpus segment-md5 explosion twice: ~3x the
      // necessary corpus-text kernel work in one action). Pinned, the
      // chain runs once and every branch reads 16-byte-ish rows.
      val wH = Window.partitionBy(col("h")).orderBy(col("doc_id"))
      val s1 = incoming.withColumn("h", md5(col("text")))
        .withColumn("rn", row_number().over(wH))
        .filter(col("rn") === 1)
        .join(corpus.select(md5(col("text")).as("h")).distinct(),
          Seq("h"), "left_anti")
        .select(col("doc_id"), col("text"))
        .localCheckpoint(true)
      // stage 2: segment excision vs the corpus segment inventory
      val segText: Column => Column = i =>
        array_join(slice(col("w"), i * segLen + 1, lit(segLen)), " ")
      val nSegs = graft.ops.DedupOps.idiv(
        size(col("w")) + lit(segLen - 1), lit(segLen)).cast("int")
      val corpusSegs = corpus
        .select(split(lower(col("text")), " ").as("w"))
        .select(explode(transform(sequence(lit(0), nSegs - 1),
          i => md5(segText(i)))).as("sh"))
        .distinct()
      // r15 plan shape (mirrors IngestOps.ingestBatch): segment rows
      // carry their own text slice, so the clean text reassembles in
      // the SAME aggregation that keeps novel segments — no join-back
      // to s1, one less exchange; identical output strings.
      val segRows = s1
        .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0), nSegs - 1), segText)))
        .select(col("doc_id"), col("pos").as("seg_idx"),
          md5(col("col")).as("sh"), col("col").as("seg"))
      val s2 = segRows.join(corpusSegs, Seq("sh"), "left_anti")
        .groupBy(col("doc_id")) // inner-shaped: fully-excised docs drop
        .agg(array_join(transform(
          sort_array(collect_list(struct(col("seg_idx"), col("seg")))),
          x => x.getField("seg")), " ").as("clean"))
        .filter(col("clean") =!= "")
        .localCheckpoint(true)
      // stage 3: quality on the cleaned text
      val s3 = s2
        .withColumn("n_tok", size(split(col("clean"), " ")))
        .withColumn("n_ch",
          length(regexp_replace(col("clean"), " ", "")))
        .filter(col("n_tok") >= 24 &&
          col("n_ch") * lit(10) >= col("n_tok") * lit(20) &&
          col("n_ch") * lit(10) <= col("n_tok") * lit(100))
        .select(col("doc_id"), col("clean"))
      // stage 4: decontamination (distinct shared 3-gram strings with
      // the eval slice >= 3 drops the doc)
      val evalSet = corpus.filter(pmod(col("doc_id"), lit(50)) === 1)
      def grams(c: Column): Column = {
        val w = split(lower(c), " ")
        when(size(w) >= 3, transform(sequence(lit(0), size(w) - 3),
          i => concat_ws(" ", element_at(w, i + 1),
            element_at(w, i + 2), element_at(w, i + 3))))
          .otherwise(array(array_join(w, " ")))
      }
      val evalGrams = evalSet
        .select(explode(array_distinct(grams(col("text")))).as("g"))
        .distinct()
      val hot = s3
        .select(col("doc_id"),
          explode(array_distinct(grams(col("clean")))).as("g"))
        .join(evalGrams, Seq("g"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
      val s4 = s3.join(hot, Seq("doc_id"), "left_anti")
      // per-stage accounting
      def stage(name: String, df: DataFrame) = df
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("doc_id")), lit(0L)).as("id_sum"))
        .select(lit(name).as("stage"), col("n_docs"), col("id_sum"))
      stage("0_incoming", incoming)
        .unionByName(stage("1_exact", s1))
        .unionByName(stage("2_segments", s2))
        .unionByName(stage("3_quality", s3))
        .unionByName(stage("4_decon", s4))
        .orderBy(col("stage"))
    },
      // The incremental-ingest composition replayed stage by stage:
      // exact dedup (row_number first-wins + corpus md5 set), segment
      // excision against the corpus segment inventory, cleaned-text
      // quality band in integer rational arithmetic, n-gram decon of
      // the cleaned text — per-stage counts and id sums all certified.
      ingestOracleSql,
      key = "pig"),

    // The SAME ingest composition against the PERSISTED inventory
    // artifact (ops.IngestOps): the corpus md5 set and 16-token
    // segment inventory are built ONCE per corpus bytes (content-
    // signature-keyed parquet under the 0700 scratch root) and every
    // later batch reads only hash-compact inventory files plus the
    // batch itself — no stored corpus text is re-scanned
    // (IngestOpsSpec gates the second batch's inputFiles against the
    // corpus source). Results are identical to the full-recompute
    // pipeline_ingest by construction, so this entry shares its
    // DuckDB oracle — the cross-engine check certifies the artifact
    // path end-to-end.
    QueryDef("pipeline_ingest_incr", (s, d) => {
      val segLen = 16
      val docs = t(s, d, "documents")
      val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      val key = ops.IngestOps.cachedInventory(s,
        s"$d/documents.parquet", "ing5", corpus, "text", segLen)
      val evalSet = corpus.filter(pmod(col("doc_id"), lit(50)) === 1)
      def grams(c: Column): Column = {
        val w = split(lower(c), " ")
        when(size(w) >= 3, transform(sequence(lit(0), size(w) - 3),
          i => concat_ws(" ", element_at(w, i + 1),
            element_at(w, i + 2), element_at(w, i + 3))))
          .otherwise(array(array_join(w, " ")))
      }
      val evalGrams = evalSet
        .select(explode(array_distinct(grams(col("text")))).as("g"))
        .distinct()
      // materializeStages pins s2 only, so the accounting branches
      // from 2_excise on read the gating chain's output instead of
      // re-deriving it per branch. s1 stays unpinned on purpose: it
      // fuses into s2's checkpoint job, and the 1_exact branch
      // re-derives it (one batch-sized window pass; see ingestBatch)
      val st = ops.IngestOps.ingestBatch(s, key, incoming, "doc_id",
        "text", Some(evalGrams), segLen, materializeStages = true)
      def stage(name: String, df: DataFrame) = df
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("doc_id")), lit(0L)).as("id_sum"))
        .select(lit(name).as("stage"), col("n_docs"), col("id_sum"))
      stage("0_incoming", incoming)
        .unionByName(stage("1_exact", st.s1))
        .unionByName(stage("2_segments", st.s2))
        .unionByName(stage("3_quality", st.s3))
        .unionByName(stage("4_decon", st.s4))
        .orderBy(col("stage"))
    },
      // identical result by construction (see the pipeline_ingest_incr
      // query comment): the artifact-backed flow shares the oracle
      ingestOracleSql,
      key = "pgi"),

    // ★ r10: the STREAMING END-TO-END ingest loop as a declared,
    // oracle-replayed query — ONE continuous Structured Streaming
    // query (file source, Trigger.AvailableNow, maxFilesPerTrigger=1)
    // drains two arriving batches through
    // [[graft.streaming.IngestLoop]]: each micro-batch is gated
    // through all four ingest stages against the PERSISTED
    // inventories, its accepted docs are MERGED before the next batch
    // arrives, and per-batch stage accounting is emitted. Batch b1
    // RE-DELIVERS half of batch b0 (doc_id%20==0, the at-least-once
    // reality of any ingest feed), so at EVERY scale factor some b1
    // docs are accepted-in-b0 re-arrivals that die against the merged
    // inventory — the DuckDB oracle replays both batches sequentially
    // against the states the merges left behind, so it certifies the
    // composition (gate → merge → gate), not the stages in isolation.
    // The inventory is built fresh per run (the loop mutates it);
    // batch inputs are content-signature-cached with strictly
    // increasing mtimes so the file source's timestamp order delivers
    // them as two micro-batches in arrival order (a mixed batch fails
    // loud via the loop's tag-purity check on the `arrival` column).
    QueryDef("pipeline_ingest_stream", (s, d) => {
      val segLen = 16
      val docs = t(s, d, "documents")
      val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val sig = ops.StorageOps.contentSignature(s, s"$d/documents.parquet")
      val inDir = ops.StorageOps.scratchPath(
        s"ingstream_v2_${java.lang.Long.toHexString(sig)}")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(inDir))) {
        val tmp = inDir + ".build-" + java.util.UUID.randomUUID().toString
        docs.filter(pmod(col("doc_id"), lit(10)) === 0)
          .withColumn("arrival", lit("b0"))
          .coalesce(1).write.parquet(s"$tmp/b0")
        docs.filter(pmod(col("doc_id"), lit(10)) === 5 ||
            pmod(col("doc_id"), lit(20)) === 0)
          .withColumn("arrival", lit("b1"))
          .coalesce(1).write.parquet(s"$tmp/b1")
        def stamp(sub: String, ts: Long): Unit =
          new java.io.File(s"$tmp/$sub").listFiles()
            .filter(_.getName.endsWith(".parquet"))
            .foreach(_.setLastModified(ts))
        val t0 = System.currentTimeMillis() - 120000
        stamp("b0", t0); stamp("b1", t0 + 60000)
        try java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
          java.nio.file.Paths.get(inDir),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.FileAlreadyExistsException |
                     _: java.nio.file.DirectoryNotEmptyException =>
          org.apache.commons.io.FileUtils.deleteDirectory(
            new java.io.File(tmp))
        }
      }
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
      // the loop MERGES into its inventory, so each run gets a private
      // clone of the once-per-corpus cached base (a hash-file dir copy,
      // not a corpus re-derivation)
      val run = java.util.UUID.randomUUID().toString.take(12)
      val key = s"ingstream_$run"
      val baseKey = ops.IngestOps.cachedInventory(s,
        s"$d/documents.parquet", "ingsbase", corpus, "text", segLen)
      ops.IngestOps.cloneInventory(baseKey, key)
      val src = s"$d/documents.parquet"
      val wp = ops.WordPieceOps.cachedTrain(s, src, docs, col("text"),
        numMerges = 64)
      val bpe = BpeOps.cachedTrain(s, src, docs, col("text"),
        numMerges = 64)
      val loop = new graft.streaming.IngestLoop(s, key, "doc_id", "text",
        Some(evalGrams), segLen, Some(wp), Some(bpe))
      val ckpt = ops.StorageOps.scratchPath(s"ingstream_ckpt_$run")
      val streamSchema = org.apache.spark.sql.types.StructType(
        docs.schema.fields :+ org.apache.spark.sql.types.StructField(
          "arrival", org.apache.spark.sql.types.StringType))
      val stream = s.readStream.schema(streamSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$inDir/b*")
      val q = loop.start(stream, col("arrival"), ckpt)
      q.awaitTermination()
      // reports are driver-local bounded rows; the per-run mutable
      // artifacts (merged inventory, stream checkpoint) are garbage
      // once the loop ends — drop them so repeated runs don't pile up
      ops.IngestOps.dropInventory(key)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(ckpt))
      loop.stageReport.orderBy(col("batch"), col("stage"))
    },
      // the streaming loop replayed batch-by-batch against the merged
      // inventory states — see ingestStreamOracleSql; its drift
      // emission replayed over the accepted text per batch
      ingestStreamOracleSql,
      key = "pgs"),

    // ★ r10: the ingest loop's DRIFT EMISSION as its own
    // oracle-certified query — the same two-batch loop (batch-twin
    // processBatch calls: identical code path, spec-gated equal to
    // the streaming run) reporting the tokenizer-drift metrics over
    // each batch's ACCEPTED text under the shipped frozen models.
    // The oracle composes the ingest-stream replay (which re-derives
    // the accepted clean text per batch against the merged inventory
    // states) with the tokenizer-drift machinery — certifying the
    // loop's third output end-to-end: gate, merge, AND drift.
    QueryDef("pipeline_ingest_drift", (s, d) => {
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
      val key = s"ingdrift_$run"
      val baseKey = ops.IngestOps.cachedInventory(s,
        s"$d/documents.parquet", "ingsbase", corpus, "text", segLen)
      ops.IngestOps.cloneInventory(baseKey, key)
      val src = s"$d/documents.parquet"
      val wp = ops.WordPieceOps.cachedTrain(s, src, docs, col("text"),
        numMerges = 64)
      val bpe = BpeOps.cachedTrain(s, src, docs, col("text"),
        numMerges = 64)
      val loop = new graft.streaming.IngestLoop(s, key, "doc_id",
        "text", Some(evalGrams), segLen, Some(wp), Some(bpe))
      loop.processBatch(
        docs.filter(pmod(col("doc_id"), lit(10)) === 0), "b0")
      loop.processBatch(
        docs.filter(pmod(col("doc_id"), lit(10)) === 5 ||
          pmod(col("doc_id"), lit(20)) === 0), "b1")
      ops.IngestOps.dropInventory(key)
      loop.driftReport.orderBy(col("batch"))
    },
      ingestDriftOracleSql,
      key = "pgd"),

    // ★ r12: corrupt-payload QUARANTINE lane — the production gap
    // every crawl hits on day one: ONE corrupt blob must land in a
    // quarantined row with a stable error class, not kill the stage.
    // The corpus is the clean mixed-format image table with one
    // corruption class PLANTED per doc_id mod 8 (junk magic / hostile
    // dims / truncated plane / flipped CRC bit — see
    // ops.QuarantineOps.corruptImageTable), decoded by the UNCHANGED
    // fail-loud codecs under the attempt() wrapper. Classes come from
    // the decoders' own diagnostics (the codec family's shared
    // message vocabulary), never from knowledge of the planting; the
    // oracle replays status + class from the planting arithmetic and
    // the clean rows' full pixel witnesses — so a match certifies
    // both that every planted corruption was caught AND that good
    // rows are byte-identical to the all-clean run (QuarantineSpec
    // additionally proves row equality against multimodal_mixed's
    // path).
    QueryDef("pipeline_quarantine", (s, d) => {
      ops.QuarantineOps.tryDecodeImageAll(s,
        ops.QuarantineOps.corruptImageTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("status"), col("error_class"),
          col("width").cast("int").as("width"),
          col("height").cast("int").as("height"), col("format"),
          col("px_sum"))
        .orderBy(col("doc_id"))
    },
      // Replays the quarantine lane end-to-end from the planting
      // arithmetic: docs 0..4 mod 8 carry one corruption class each
      // (junk magic / hostile PPM dims / truncated plane / flipped IDAT
      // CRC bit / truncated JPEG tail → the decoder classes below),
      // docs 5..7 mod 8 are the untouched mixed-format payload whose
      // full pixel plane the clean rows must still witness byte-exactly.
      """WITH sz AS (
        |  SELECT doc_id,
        |    ascii(substr(text, 1, 1)) AS cp0,
        |    ascii(substr(text, 1, 1)) % 64 + 16 AS w,
        |    ascii(substr(text, 2, 1)) % 64 + 16 AS h,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |px AS (
        |  SELECT doc_id,
        |    cast(sum((s0 + 31 * i) % 256) as bigint) AS px_sum
        |  FROM sz, LATERAL unnest(generate_series(0, w * h * 3 - 1)) t(i)
        |  WHERE doc_id % 8 >= 5
        |  GROUP BY doc_id)
        |SELECT sz.doc_id,
        |  CASE WHEN sz.doc_id % 8 <= 4 THEN 'quarantined'
        |       ELSE 'ok' END AS status,
        |  CASE sz.doc_id % 8
        |    WHEN 0 THEN 'bad_magic' WHEN 1 THEN 'hostile_header'
        |    WHEN 2 THEN 'truncated' WHEN 3 THEN 'integrity'
        |    WHEN 4 THEN 'truncated'
        |    ELSE NULL END AS error_class,
        |  CASE WHEN sz.doc_id % 8 >= 5
        |    THEN cast(w as integer) END AS width,
        |  CASE WHEN sz.doc_id % 8 >= 5
        |    THEN cast(h as integer) END AS height,
        |  CASE WHEN sz.doc_id % 8 >= 5 THEN
        |    CASE cp0 % 3 WHEN 0 THEN 'ppm' WHEN 1 THEN 'bmp'
        |      ELSE 'png' END END AS format,
        |  px.px_sum
        |FROM sz LEFT JOIN px USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // ★ r12: the quarantine lane THREADED THROUGH THE INGEST LOOP —
    // the end-to-end production shape: batches arrive as gzip BLOBS,
    // the loop decodes each batch once (payload mode), corrupt blobs
    // land in the quarantine artifact under the SAME exactly-once
    // tagged-overwrite discipline as the pack manifest (redelivery
    // REPLACES the tag's files; the committed-tag replay below is a
    // structural no-op — duplicate rows would break the oracle hash),
    // and only cleanly decoded text reaches the gates. Corruption is
    // planted by pure arithmetic (doc_id mod 10 = 2 → magic
    // overwrite, = 7 → ISIZE trailer flip), so the oracle replays the
    // artifact rows — batch, doc_id, and the decoder's own error
    // class — without seeing a payload byte.
    QueryDef("pipeline_ingest_quarantine", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val run = java.util.UUID.randomUUID().toString.take(12)
      val key = s"ingq_$run"
      ops.IngestOps.buildInventory(s, key,
        docs.filter(lit(false)), "text")
      val qdir = ops.StorageOps.scratchPath(s"ingq_quar_$run")
      // heterogeneous blobs, the real crawl mix: every third doc a
      // checksummed zstd frame, the rest gzip members — the loop's
      // decode stage dispatches per row by magic. Corruption rules
      // are codec-agnostic: a magic overwrite is bad_magic either
      // way; a flipped final byte lands in the gzip ISIZE trailer or
      // the zstd frame checksum — both integrity by the decoders'
      // own diagnosis.
      // NO fan-out here (measured r14): the loop's ~80 per-batch jobs
      // inherit the generator's partitioning, and 32-way batches turn
      // every tiny per-batch stage into 32 tasks — wall went 4.1 s ->
      // 5.4 s when this projection was fanned out. The 1-task encode
      // is cheaper than widening the whole loop.
      val payloads = docs
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .mapPartitions { rows =>
          val defl = new java.util.zip.Deflater(
            java.util.zip.Deflater.BEST_SPEED, true)
          val zc = new com.github.luben.zstd.ZstdCompressCtx()
            .setLevel(3).setChecksum(true)
          ops.Multimodal.endOnTaskCompletion { () =>
            defl.end(); zc.close()
          }
          val crc = new java.util.zip.CRC32()
          rows.map { case (id, text) =>
            val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val b =
              if (id % 3 == 0) zc.compress(raw)
              else {
                val out = new java.io.ByteArrayOutputStream()
                ops.CompressedOps.gzipMember(raw, defl, crc, out)
                out.toByteArray
              }
            if (id % 10 == 2) { b(0) = 'Z'.toByte; b(1) = 'Z'.toByte }
            else if (id % 10 == 7)
              b(b.length - 1) = (b(b.length - 1) ^ 0x10).toByte
            (id, b)
          }
        }
        .toDF("doc_id", "content")
        .localCheckpoint(true)
      val loop = new graft.streaming.IngestLoop(s, key, "doc_id",
        "text", None, 16, None, None, None,
        payloadCol = Some("content"), quarantineDir = Some(qdir))
      val b0 = payloads.filter(pmod(col("doc_id"), lit(2)) === 0)
      loop.processBatch(b0, "b0")
      loop.processBatch(b0, "b0") // committed-tag redelivery: no-op
      loop.processBatch(
        payloads.filter(pmod(col("doc_id"), lit(2)) =!= 0), "b1")
      val rep = loop.quarantineReport
        .select(col("batch"), col("doc_id"), col("error_class"))
        .orderBy(col("batch"), col("doc_id"))
        .localCheckpoint(true)
      ops.IngestOps.dropInventory(key)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(qdir))
      rep
    },
      // Replays the ingest loop's quarantine artifact from the planting
      // arithmetic: batch = parity, class = the decoder's diagnosis per
      // rule (magic overwrite → bad_magic, ISIZE flip → integrity). A
      // duplicate row from a mishandled redelivery would break the hash.
      """SELECT 'b' || cast(doc_id % 2 as varchar) AS batch, doc_id,
        |  CASE doc_id % 10 WHEN 2 THEN 'bad_magic'
        |    ELSE 'integrity' END AS error_class
        |FROM documents
        |WHERE doc_id % 10 = 2 OR doc_id % 10 = 7
        |ORDER BY batch, doc_id""".stripMargin),

    // ★ r12: the quarantine lane's per-class ACCOUNTING — the
    // operational dashboard row a crawl ingest reconciles against
    // (accepted + quarantined-by-class == seen): counts and witness
    // totals per (status, error_class). Tiny aggregate over the lane;
    // NULL classes coalesce to 'none' so the cross-engine sort is
    // total.
    QueryDef("pipeline_quarantine_stats", (s, d) => {
      ops.QuarantineOps.tryDecodeImageAll(s,
        ops.QuarantineOps.corruptImageTable(s, t(s, d, "documents")))
        .toDF()
        .groupBy(col("status"),
          coalesce(col("error_class"), lit("none")).as("error_class"))
        .agg(count(lit(1)).as("n"), sum(col("px_sum")).as("px_total"))
        .orderBy(col("status"), col("error_class"))
    },
      // The per-class accounting over the same planting arithmetic —
      // counts and clean-row pixel totals reconcile to the corpus size.
      """WITH sz AS (
        |  SELECT doc_id,
        |    ascii(substr(text, 1, 1)) % 64 + 16 AS w,
        |    ascii(substr(text, 2, 1)) % 64 + 16 AS h,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |px AS (
        |  SELECT doc_id,
        |    cast(sum((s0 + 31 * i) % 256) as bigint) AS px_sum
        |  FROM sz, LATERAL unnest(generate_series(0, w * h * 3 - 1)) t(i)
        |  WHERE doc_id % 8 >= 5
        |  GROUP BY doc_id),
        |lane AS (
        |  SELECT sz.doc_id,
        |    CASE WHEN sz.doc_id % 8 <= 4 THEN 'quarantined'
        |         ELSE 'ok' END AS status,
        |    CASE sz.doc_id % 8
        |      WHEN 0 THEN 'bad_magic' WHEN 1 THEN 'hostile_header'
        |      WHEN 2 THEN 'truncated' WHEN 3 THEN 'integrity'
        |      WHEN 4 THEN 'truncated'
        |      ELSE 'none' END AS error_class,
        |    px.px_sum
        |  FROM sz LEFT JOIN px USING (doc_id))
        |SELECT status, error_class,
        |  cast(count(*) as bigint) AS n,
        |  cast(sum(px_sum) as bigint) AS px_total
        |FROM lane GROUP BY status, error_class
        |ORDER BY status, error_class""".stripMargin)
  )

  // The incremental-ingest composition replayed stage by stage:
  // exact dedup (row_number first-wins + corpus md5 set), segment
  // excision against the corpus segment inventory, cleaned-text
  // quality band in integer rational arithmetic, n-gram decon of
  // the cleaned text — per-stage counts and id sums all certified.
  // Shared by pipeline_ingest (full recompute) and
  // pipeline_ingest_incr (persisted-inventory flow) — the two are
  // result-identical by construction.
  private lazy val ingestOracleSql: String =
    """WITH corpus AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
        |inc AS (SELECT doc_id, text FROM documents
        |        WHERE doc_id % 5 = 0),
        |s1 AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text, md5(text) AS h,
        |      row_number() OVER (PARTITION BY md5(text)
        |                         ORDER BY doc_id) AS rn
        |    FROM inc) i
        |  WHERE rn = 1
        |    AND h NOT IN (SELECT DISTINCT md5(text) FROM corpus)),
        |cw AS (SELECT string_split(lower(text), ' ') AS w FROM corpus),
        |cseg AS (SELECT DISTINCT
        |  md5(array_to_string(w[(i-1)*16+1 : (i-1)*16+16], ' ')) AS sh
        |  FROM cw, LATERAL unnest(generate_series(1, (len(w)+15)//16))
        |    s(i)),
        |sw AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |       FROM s1),
        |srows AS (SELECT doc_id, i - 1 AS seg_idx,
        |  array_to_string(w[(i-1)*16+1 : (i-1)*16+16], ' ') AS seg
        |  FROM sw, LATERAL unnest(generate_series(1, (len(w)+15)//16))
        |    s(i)),
        |kept AS (SELECT doc_id, seg_idx, seg FROM srows
        |         WHERE md5(seg) NOT IN (SELECT sh FROM cseg)),
        |s2 AS (SELECT doc_id,
        |         string_agg(seg, ' ' ORDER BY seg_idx) AS clean
        |       FROM kept GROUP BY doc_id
        |       HAVING string_agg(seg, ' ' ORDER BY seg_idx) <> ''),
        |s3 AS (SELECT doc_id, clean FROM (
        |  SELECT doc_id, clean,
        |    len(string_split(clean, ' ')) AS n_tok,
        |    len(replace(clean, ' ', '')) AS n_ch FROM s2)
        |  WHERE n_tok >= 24 AND n_ch * 10 >= n_tok * 20
        |    AND n_ch * 10 <= n_tok * 100),
        |ev AS (SELECT DISTINCT g FROM (
        |  SELECT unnest(list_distinct(CASE WHEN len(w) >= 3
        |    THEN list_transform(generate_series(1, len(w) - 2),
        |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        |    ELSE [array_to_string(w, ' ')] END)) AS g
        |  FROM (SELECT string_split(lower(text), ' ') AS w FROM corpus
        |        WHERE doc_id % 50 = 1))),
        |hot AS (SELECT doc_id FROM (
        |  SELECT sg.doc_id, count(*) AS n_shared FROM (
        |    SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) >= 3
        |      THEN list_transform(generate_series(1, len(w) - 2),
        |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        |      ELSE [array_to_string(w, ' ')] END)) AS g
        |    FROM (SELECT doc_id, string_split(lower(clean), ' ') AS w
        |          FROM s3)) sg
        |  JOIN ev USING (g) GROUP BY sg.doc_id)
        |  WHERE n_shared >= 3),
        |s4 AS (SELECT doc_id FROM s3
        |       WHERE doc_id NOT IN (SELECT doc_id FROM hot))
        |SELECT * FROM (
        |  SELECT '0_incoming' AS stage, count(*) AS n_docs,
        |    coalesce(cast(sum(doc_id) AS BIGINT), 0) AS id_sum FROM inc
        |  UNION ALL SELECT '1_exact', count(*),
        |    coalesce(cast(sum(doc_id) AS BIGINT), 0) FROM s1
        |  UNION ALL SELECT '2_segments', count(*),
        |    coalesce(cast(sum(doc_id) AS BIGINT), 0) FROM s2
        |  UNION ALL SELECT '3_quality', count(*),
        |    coalesce(cast(sum(doc_id) AS BIGINT), 0) FROM s3
        |  UNION ALL SELECT '4_decon', count(*),
        |    coalesce(cast(sum(doc_id) AS BIGINT), 0) FROM s4)
        |ORDER BY stage""".stripMargin

  private def ingestStreamStageRows(tag: String, sfx: String): String =
    s"""SELECT '$tag' AS batch, '0_incoming' AS stage,
       |    count(*) AS n_docs,
       |    coalesce(cast(sum(doc_id) AS BIGINT), 0) AS id_sum
       |  FROM inc_$sfx
       |  UNION ALL SELECT '$tag', '1_exact', count(*),
       |    coalesce(cast(sum(doc_id) AS BIGINT), 0) FROM s1_$sfx
       |  UNION ALL SELECT '$tag', '2_segments', count(*),
       |    coalesce(cast(sum(doc_id) AS BIGINT), 0) FROM s2_$sfx
       |  UNION ALL SELECT '$tag', '3_quality', count(*),
       |    coalesce(cast(sum(doc_id) AS BIGINT), 0) FROM s3_$sfx
       |  UNION ALL SELECT '$tag', '4_decon', count(*),
       |    coalesce(cast(sum(doc_id) AS BIGINT), 0) FROM s4_$sfx"""
      .stripMargin

  private lazy val ingestStreamOracleSql: String =
    s"""WITH $ingestStreamCtes
       |SELECT * FROM (
       |  ${ingestStreamStageRows("b0", "a")}
       |  UNION ALL ${ingestStreamStageRows("b1", "b")})
       |ORDER BY batch, stage""".stripMargin

  /** The ingest loop's DRIFT EMISSION replayed end-to-end: the
    * [[ingestStreamCtes]] prefix re-derives each batch's ACCEPTED
    * clean text (batch b1 gated against b0's merges), and the shared
    * [[driftMachineryTail]] re-encodes it under the shipped frozen
    * models — so the loop's third output (after gating and merging)
    * is hash-certified too, not just spec-gated against its batch
    * twin. */
  private lazy val ingestDriftOracleSql: String =
    "WITH RECURSIVE " + ingestStreamCtes + ",\n" +
      "docsrc AS (\n" +
      "  SELECT 'b0' AS grp, clean AS text FROM s4_a\n" +
      "  UNION ALL SELECT 'b1', clean FROM s4_b),\n" +
      driftMachineryTail("batch")
}

package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.BpeOps

/** Trained BPE: correctness is anchored here by an INDEPENDENT
  * reference trainer/encoder (plain maps and lists, no shared code
  * with the BpeOps/BpeKernels implementations beyond the pre-token
  * regex) that must agree exactly, plus the classic hand corpus from
  * the subword-nmt paper and a codegen plan gate. Since round 9 the
  * merge loop ALSO has a DuckDB oracle (TextQueries
  * `bpeTrainOracleSql` re-learns the table from the raw corpus);
  * this spec stays the Scala-side anchor and covers the encode
  * kernel's codegen path, which no SQL can. */
class BpeSpec extends SparkSpec {

  // ---- independent reference implementation ------------------------
  private val Pat = graft.ops.TextOps.BpePattern.r

  private def refPairCounts(vocab: Map[List[String], Long])
      : Map[(String, String), Long] =
    vocab.toSeq.flatMap { case (syms, n) =>
      syms.zip(syms.drop(1)).map(p => (p, n))
    }.groupBy(_._1).map { case (p, xs) => (p, xs.map(_._2).sum) }

  private def refMergeWord(syms: List[String], l: String,
      r: String): List[String] = syms match {
    case a :: b :: rest if a == l && b == r =>
      (l + r) :: refMergeWord(rest, l, r)
    case a :: rest => a :: refMergeWord(rest, l, r)
    case Nil => Nil
  }

  private def refTrain(words: Seq[(String, Long)],
      numMerges: Int): Seq[(String, String)] = {
    var vocab: Map[List[String], Long] =
      words.map { case (w, n) =>
        (w.toList.map(_.toString), n)
      }.groupBy(_._1).map { case (k, xs) => (k, xs.map(_._2).sum) }
    var merges = Vector.empty[(String, String)]
    var stop = false
    while (merges.size < numMerges && !stop) {
      val pc = refPairCounts(vocab)
      if (pc.isEmpty) stop = true
      else {
        val ((l, r), n) = pc.toSeq.minBy { case ((l, r), n) => (-n, l, r) }
        if (n < 2) stop = true
        else {
          merges :+= ((l, r))
          vocab = vocab.toSeq.map { case (syms, cnt) =>
            (refMergeWord(syms, l, r), cnt)
          }.groupBy(_._1).map { case (k, xs) => (k, xs.map(_._2).sum) }
        }
      }
    }
    merges
  }

  private def refEncodeWord(w: String,
      merges: Seq[(String, String)]): List[String] = {
    val rank = merges.zipWithIndex.toMap
    var syms = w.toList.map(_.toString)
    var done = syms.size < 2
    while (!done) {
      val present = syms.zip(syms.drop(1)).flatMap(rank.get)
      if (present.isEmpty) done = true
      else {
        val (l, r) = merges(present.min)
        syms = refMergeWord(syms, l, r)
        if (syms.size < 2) done = true
      }
    }
    syms
  }

  private def refEncode(text: String,
      merges: Seq[(String, String)]): Seq[String] =
    Pat.findAllIn(text).toSeq.flatMap(refEncodeWord(_, merges))

  // ---- tests -------------------------------------------------------

  test("classic hand corpus learns the textbook merges") {
    val words = Array[(String, Long)](
      ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    val model = BpeOps.trainMerges(words, 5)
    val got = model.lefts.zip(model.rights).toSeq
    // e-s and s-t tie at 9 → lexicographic; then est; then l-o / lo-w
    assert(got == Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"),
      ("e", "w")), got.toString)
    assert(BpeOps.encodeString("lowest", model) == Seq("low", "est"))
    assert(BpeOps.encodeString("low lowest", model) ==
      Seq("low", "low", "est"))
    // OOV characters never merge but always encode
    assert(BpeOps.encodeString("xyz", model) == Seq("x", "y", "z"))
  }

  test("pre-tokenizer scanner == the BpePattern regex on the corpus") {
    val texts = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select(col("text")).collect().map(_.getString(0))
    assert(texts.nonEmpty)
    texts.foreach { t =>
      assert(BpeKernels.preTokenize(t).toSeq == Pat.findAllIn(t).toSeq,
        s"scanner/regex divergence on: ${t.take(80)}")
    }
    // hand edge cases: class transitions, unicode, empty
    Seq("", "   ", "a1!b", "héllo wörld", "x,y;z", "a\tb\nc", "3.14abc")
      .foreach { t =>
        assert(BpeKernels.preTokenize(t).toSeq == Pat.findAllIn(t).toSeq,
          s"scanner/regex divergence on: '$t'")
      }
  }

  test("trainer and encoder match the independent reference exactly") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val texts = docs.select(col("text")).collect().map(_.getString(0))
    // reference word counts (driver recompute, full vocabulary)
    val refCounts = texts.flatMap(Pat.findAllIn(_))
      .groupBy(identity).map { case (w, xs) => (w, xs.length.toLong) }
    val refMerges = refTrain(refCounts.toSeq, 48)

    val model = BpeOps.train(docs, col("text"), numMerges = 48)
    assert(model.lefts.zip(model.rights).toSeq == refMerges,
      "distributed-count training diverged from reference")

    // expression encode == reference encode, document by document
    val got = docs
      .select(col("doc_id"), BpeOps.encode(col("text"), model).as("toks"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[String](1)))
      .toMap
    val byId = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    byId.foreach { case (id, text) =>
      assert(got(id) == refEncode(text, refMerges),
        s"encode mismatch on doc $id")
    }
    // losslessness: concatenated subwords == concatenated pre-tokens
    byId.foreach { case (id, text) =>
      assert(got(id).mkString == Pat.findAllIn(text).mkString)
    }
  }

  test("q_chunk_bpe tiles the trained-subword stream losslessly") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val model = BpeOps.train(docs, col("text"), numMerges = 64)
    val expected = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0),
        BpeOps.encodeString(r.getString(1), model))).toMap
    val rows = graft.SparkEntry.queries("q_chunk_bpe")(spark, Sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1)
    assert(rows.keySet == expected.keySet)
    rows.foreach { case (id, chunks) =>
      val sorted = chunks.sortBy(_._2)
      val toks = expected(id)
      // tiling: every chunk but the last is exactly 64 subwords, and
      // the sizes sum to the full encoded stream
      assert(sorted.init.forall(_._3 == 64L),
        s"doc $id has a short non-final chunk")
      assert(sorted.map(_._3).sum == toks.length.max(0),
        s"doc $id chunk sizes don't cover the stream")
      // content: each chunk md5 matches the reference encoder's slice
      sorted.zipWithIndex.foreach { case ((_, _, _, md5), i) =>
        val slice = toks.slice(i * 64, (i + 1) * 64)
        assert(md5 == md5hex(slice.mkString(" ")),
          s"doc $id chunk $i content mismatch")
      }
    }
  }

  test("cachedTrain round-trips the model and keys on params+content") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val src = s"$Sf0001/documents.parquet"
    val direct = BpeOps.train(docs, col("text"), numMerges = 32)
    // first call trains and persists; second must serve the identical
    // model from the artifact (exact merge-table equality)
    val first = BpeOps.cachedTrain(spark, src, docs, col("text"), 32)
    val second = BpeOps.cachedTrain(spark, src, docs, col("text"), 32)
    for (m <- Seq(first, second)) {
      assert(m.lefts.toSeq == direct.lefts.toSeq &&
        m.rights.toSeq == direct.rights.toSeq,
        "cached model differs from direct training")
    }
    // different params → different key → different (smaller) model
    val other = BpeOps.cachedTrain(spark, src, docs, col("text"), 8)
    assert(other.size == 8 && first.size == 32,
      "param change must not collide in the cache")
  }

  test("BpeEncode stays inside whole-stage codegen") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val model = BpeOps.trainMerges(
      Array(("the", 10L), ("then", 5L), ("than", 4L)), 8)
    val df = docs.select(BpeOps.encode(col("text"), model).as("toks"))
    assert(df.queryExecution.toRdd.count() == 500L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("*(1) Project") && l.contains("bpe_encode")),
      s"bpe Project must be codegen'd:\n$plan")
  }
}

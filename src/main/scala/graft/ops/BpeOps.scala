package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}

/** Corpus-trained byte-pair encoding (Sennrich et al., ACL 2016) — the
  * real subword tokenizer behind the `n_bpe` ESTIMATE x01 ships (a
  * regex proxy, `TextFunctions.bpeishCount`): learn the top-N merges
  * from the corpus's own word distribution, then tokenize by replaying
  * them.
  *
  * Scale shape (the part that matters at 100 TB): training NEVER
  * iterates over the corpus. One corpus pass builds the distinct-word
  * count table (vocab-sized — millions of rows where the corpus has
  * trillions of tokens); every merge round is an aggregation over that
  * table (adjacent symbol pairs weighted by word count → argmax), and
  * applying the chosen merge is a vocab-sized map. Tokenization is the
  * same trick: the merge replay runs once per DISTINCT word, and
  * per-document counts come from an equi-join of the (doc, word) grain
  * against the tokenized vocab — the corpus is scanned once for word
  * counts and once for the join, never per merge round.
  *
  * Determinism: the argmax tie-break is total (count desc, then left
  * asc, right asc), so the learned merge table is a pure function of
  * the corpus — reproducible across runs, partitionings, and cluster
  * sizes, and replayable by any independent implementation (OpsSpec
  * pins the distributed trainer against a naive single-node reference).
  *
  * The driver-side loop holds only N merge rules (the convergence
  * witnesses); per-round frames are eagerly checkpointed — the
  * documented iterative-loop contract ([[GraphOps]]): without lineage
  * truncation the plan doubles per round and planning OOMs.
  */
object BpeOps {

  /** One learned merge: apply in `rank` order; `left`+`right` concat
    * into the merged symbol. */
  final case class Merge(rank: Int, left: String, right: String)

  /** Greedy left-to-right, non-overlapping replay of ONE merge rule
    * over a symbol array — the classic BPE pass, as a native fold
    * (stays inside codegen; no UDF):
    * acc ends with `l` and the next symbol is `r` → replace the tail
    * with the merged symbol, else append. Non-overlap falls out of the
    * fold: the merged symbol `l||r` no longer equals `l` (r nonempty),
    * so a fresh `l` must arrive before the rule can fire again. */
  def applyMerge(syms: Column, l: String, r: String): Column = {
    val lLit = lit(l); val rLit = lit(r)
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lLit && x === rLit,
          concat(slice(acc, lit(1), size(acc) - 1),
            array(concat(lLit, rLit))))
          .otherwise(concat(acc, array(x))))
  }

  /** Replay a whole merge table (rank order) over a symbol array as a
    * NESTED-FOLD expression — one [[applyMerge]] per merge. Correct and
    * codegen'd at demo merge counts, but the expression tree (and the
    * generated code) grows linearly with the merge count: at a
    * production 16–32k-merge vocabulary planning/codegen explodes long
    * before the data is touched. Kept as the executable SPEC of the
    * replay semantics (OpsSpec pins [[replayTokens]] against it); the
    * production path is [[replayTokens]]. */
  def applyMerges(syms: Column, merges: Seq[Merge]): Column =
    merges.sortBy(_.rank).foldLeft(syms)((c, m) => applyMerge(c, m.left, m.right))

  /** [[applyMerges]] semantics — each merge applied once, in rank
    * order, greedily left-to-right non-overlapping — as imperative
    * per-row code: the form that survives a real 16–32k-merge
    * vocabulary (constant-size plan; per-word cost = one hash probe per
    * rule + one O(len) pass per rule that actually fires). The
    * pair-present set makes the rank scan skip rules that cannot fire:
    * total applied passes per word are bounded by len-1 (each pass
    * shrinks the array), so work is O(rules + len²) per word, with the
    * rules term a pure hash probe. */
  private[graft] def replayWord(word: String,
      rules: Array[(String, String)]): Array[String] = {
    // split into code points — the exact grain of Spark's split(w, "")
    var syms: Array[String] = {
      val b = Array.newBuilder[String]
      var i = 0
      while (i < word.length) {
        val n = Character.charCount(word.codePointAt(i))
        b += word.substring(i, i + n); i += n
      }
      b.result()
    }
    if (syms.length < 2 || rules.isEmpty) return syms
    val present = scala.collection.mutable.HashSet.empty[(String, String)]
    def rebuild(): Unit = {
      present.clear()
      var i = 0
      while (i < syms.length - 1) {
        present += ((syms(i), syms(i + 1))); i += 1
      }
    }
    rebuild()
    var k = 0
    while (k < rules.length && syms.length > 1) {
      val rule = rules(k)
      if (present.contains(rule)) {
        val (l, r) = rule
        val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
        var i = 0
        while (i < syms.length) {
          val x = syms(i)
          if (out.nonEmpty && out(out.length - 1) == l && x == r)
            out(out.length - 1) = l + r
          else out += x
          i += 1
        }
        if (out.length < syms.length) { syms = out.toArray; rebuild() }
      }
      k += 1
    }
    syms
  }

  /** Tokenize a distinct-word table by per-partition merge replay:
    * (word, toks). The merge table ships once per executor as a
    * broadcast (32k rules ≈ a few hundred KB); each partition replays
    * words independently — no shuffle, no per-merge plan growth. This
    * is the production tokenize path; [[applyMerges]] is its
    * executable spec. */
  def replayTokens(vocab: DataFrame, merges: Seq[Merge],
      wordCol: String = "w"): DataFrame = {
    val spark = vocab.sparkSession
    import spark.implicits._
    val rules = merges.sortBy(_.rank).map(m => (m.left, m.right)).toArray
    val bc = spark.sparkContext.broadcast(rules)
    vocab.select(col(wordCol).cast("string")).as[String]
      .mapPartitions { it =>
        val rs = bc.value
        it.map(w => (w, replayWord(w, rs).toSeq))
      }
      .toDF(wordCol, "toks")
  }

  /** Deterministic token-id vocabulary for a corpus + merge table —
    * the id assignment a trained tokenizer ships: base symbols (the
    * corpus's distinct code points, in code-point order — which equals
    * binary UTF-8 order, so any engine sorting strings bytewise
    * reproduces it) take ids 0..nBase-1; merge outputs take
    * nBase+rank; a duplicate surface form (a merge output colliding
    * with a base symbol, or two merges producing the same string —
    * e.g. (a,bc) and (ab,c)) keeps the SMALLEST id. Alphabet-sized
    * (bounded by the corpus's code-point inventory), so it lives on
    * the driver and ships by broadcast. */
  def vocabIds(vocab: DataFrame, merges: Seq[Merge],
      wordCol: String = "w"): Map[String, Int] = {
    val base = vocab
      .select(explode(split(col(wordCol).cast("string"), "")).as("s"))
      .filter(length(col("s")) > 0).distinct()
      .collect().map(_.getString(0))
      .sortBy(_.codePointAt(0))
    val ids = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    base.zipWithIndex.foreach { case (s, i) => ids.getOrElseUpdate(s, i) }
    merges.sortBy(_.rank).foreach { m =>
      ids.getOrElseUpdate(m.left + m.right, base.length + m.rank)
    }
    ids.toMap
  }

  /** [[replayTokens]] + id lookup in one per-partition pass: (word,
    * ids). Same broadcast discipline — rules and the alphabet-sized id
    * map ship once per executor. Every replay output is in the map by
    * construction (base symbols come from these words' own code
    * points; merged symbols are merge outputs). */
  def encodeTokens(vocab: DataFrame, merges: Seq[Merge],
      ids: Map[String, Int], wordCol: String = "w"): DataFrame = {
    val spark = vocab.sparkSession
    import spark.implicits._
    val rules = merges.sortBy(_.rank).map(m => (m.left, m.right)).toArray
    val bc = spark.sparkContext.broadcast((rules, ids))
    vocab.select(col(wordCol).cast("string")).as[String]
      .mapPartitions { it =>
        val (rs, idm) = bc.value
        it.map(w => (w, replayWord(w, rs).map(idm).toSeq))
      }
      .toDF(wordCol, "ids")
  }

  /** Per-document subword token-id sequences — the production
    * tokenizer deliverable (what a training-data pipeline actually
    * writes): (doc_id, n_bpe, token_ids) under a learned merge table
    * and the [[vocabIds]] assignment.
    *
    * Id stability: the vocabulary is derived from THESE docs' own
    * code-point inventory, so ids are stable iff the doc set is (the
    * train-and-encode-one-corpus case, x68). To encode NEW data under
    * a FROZEN id space, derive ids once from the training corpus and
    * use [[encodeTokens]] / [[graft.streaming.EventStreams
    * .bpeEncodeStream]], which take the map explicitly (and map
    * out-of-alphabet symbols to an unk id instead of throwing).
    *
    * 100 TB shape: the replay+encode runs once per DISTINCT word
    * (vocab-sized, broadcast rules); documents join their
    * (doc, position, word) grain against it on the word key (AQE
    * skew-split absorbs stopwords); reassembly is a per-doc sort of
    * position-tagged id lists — doc-bounded array work, no window, no
    * driver. */
  def encodeDocs(docs: DataFrame, merges: Seq[Merge],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // ONE corpus scan ([[CorpusOps]]'s shared-view discipline): the
    // (doc, pos, word) grain is persisted and materialized by the
    // alphabet collect below; the vocab branch and the final join both
    // read executor-local blocks — without this, column pruning would
    // specialize each branch's scan and the corpus would be read three
    // times (blocks stay pinned until swept, the documented hygiene).
    val wordPos = docs
      .select(col(idCol).as("doc_id"),
        posexplode(TF.words(col(textCol))).as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
      .transform(graft.engine.Barrier.sharedGrain)
    val vocab = wordPos.select(col("w")).distinct()
    val wIds = encodeTokens(vocab, merges, vocabIds(vocab, merges))
    wordPos.join(wIds, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("ids")))),
        x => x.getField("ids"))).as("token_ids"))
      .select(col("doc_id"),
        size(col("token_ids")).cast("long").as("n_bpe"), col("token_ids"))
  }

  /** Distinct-word count table — the training input (and the frame
    * tokenization joins against): one corpus pass, vocab-sized output. */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(TF.words(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** Learn up to `numMerges` merges from the corpus. Stops early when
    * no adjacent pair occurs more than once (merging a unique pair
    * learns nothing). Returns the merges in application order.
    *
    * Round-loop plan contract ([[GraphOps]]'s): each round's symbol
    * table is an EAGER `localCheckpoint`, so every round plans against
    * a fresh `LogicalRDD` leaf — one projection over a leaf, CONSTANT
    * plan size at any merge count. The r9 form persisted each round
    * instead, which kept blocks bounded but chained the logical plan:
    * at a few hundred rounds the nested cached-plan *rendering*
    * (explainString for the SQL-listener event) OOMed the driver long
    * before any data did. Storage stays bounded too: round k's eager
    * checkpoint materializes it, after which round k-1's blocks are
    * freed ([[graft.engine.Barrier.release]]) — at most two vocab-sized
    * tables live at any moment, zero after train() returns. */
  def train(docs: DataFrame, textCol: String = "text",
      numMerges: Int = 32): Seq[Merge] = {
    var words = wordCounts(docs, textCol)
      .select(col("cnt"), split(col("w"), "").as("syms"))
      .transform(graft.engine.Barrier.lineageBarrier)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    try {
      var rank = 0
      var done = false
      while (rank < numMerges && !done) {
        val top = words
          .select(col("cnt"), explode(zip_with(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("cnt")).as("c"))
          .orderBy(col("c").desc, col("l").asc, col("r").asc)
          .limit(1).collect()
        if (top.isEmpty || top.head.getLong(2) < 2) done = true
        else {
          val (l, r) = (top.head.getString(0), top.head.getString(1))
          merges += Merge(rank, l, r)
          val prev = words
          // eager: materialized HERE, so prev's blocks can go at once
          words = prev
            .select(col("cnt"), applyMerge(col("syms"), l, r).as("syms"))
            .transform(graft.engine.Barrier.lineageBarrier)
          graft.engine.Barrier.release(prev)
          rank += 1
        }
      }
      merges.toSeq
    } finally {
      graft.engine.Barrier.release(words)
    }
  }

  /** Persist a learned merge table as parquet — the train-once /
    * tokenize-forever form: training is paid once per corpus
    * generation (like the signature index, [[TextDedup
    * .writeSignatureIndex]]), and every later tokenization replays the
    * stored merges. 16–32k rows of (rank, left, right) — driver-tiny. */
  def writeMerges(spark: org.apache.spark.sql.SparkSession, path: String,
      merges: Seq[Merge]): Unit =
    spark.createDataFrame(merges)
      .select(col("rank"), col("left"), col("right"))
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Reload a [[writeMerges]] table, in application order. */
  def readMerges(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Merge] =
    graft.catalog.Catalog.readParquet(spark, path).orderBy(col("rank"))
      .collect().map(r => Merge(r.getInt(0), r.getString(1), r.getString(2)))
      .toSeq

  /** Per-document BPE token counts under a learned merge table:
    * (doc_id, n_words, n_bpe). The merge replay ([[replayTokens]] —
    * the per-partition path that survives a production vocab) runs
    * once per DISTINCT word; documents join against it on the word
    * key. */
  def tokenCounts(docs: DataFrame, merges: Seq[Merge],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val perDocWord = docs
      .select(col(idCol).as("doc_id"), explode(TF.words(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("n"))
    val vocabToks = replayTokens(perDocWord.select(col("w")).distinct(), merges)
      .select(col("w"), size(col("toks")).cast("long").as("n_sub"))
    perDocWord.join(vocabToks, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("n_sub")).as("n_bpe"))
  }
}

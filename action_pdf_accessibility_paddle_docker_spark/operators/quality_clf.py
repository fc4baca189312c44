"""Model-based document quality classifier (fastText / DCLM-style).

The modern curation stack gates on a TRAINED classifier score -- a linear
bag-of-words model fit on (reference-quality vs raw-web) labels -- rather
than heuristics alone: Joulin et al. 2016 (fastText "bag of tricks"),
Brown et al. 2020 sec. A (the GPT-3 quality classifier), Li et al. 2024
(DataComp-LM, where a fastText filter beats every heuristic pipeline).
This module is that recipe re-expressed Spark-first; it complements (does
not replace) the heuristic ``textstats.quality_gate``, which also supplies
the weak-label bootstrap when no curated positive set exists.

Shapes (and why they hold at 100 TB):

* **Scoring** (the corpus-scale hot path, ``score_documents``): one scan;
  terms (normalized word unigrams + bigrams, the same JVM expressions the
  gate uses) are exploded WITH the per-doc term count carried row-wise,
  LEFT-joined against the weights table -- broadcast is CORRECT here, not
  hopeful: the model artifact is bounded by ``vocab_size`` at training
  time (default 2^18 terms, a few MB), unlike the unbounded corpus vocab
  that keeps ``unigram_logprob_score``'s model join un-broadcast -- then
  one map-side-combined sum per doc and a sigmoid. Pure JVM expressions;
  no Python anywhere.
* **Training** (``train_quality_classifier``): a BOUNDED labeled sample
  (DCLM fits on ~1e6 docs, never the corpus) through MLlib
  ``CountVectorizer`` (vocab fit + sparse count vectors, JVM) into
  ``LogisticRegression``; the fitted coefficients come back as a
  ``(term, weight)`` table -- vocab-bounded by construction, same driver-
  memory class as ``temperature_mix_rates``' per-source dict -- plus the
  intercept. Features are raw term counts, exactly what the scoring sum
  replays: score = sigmoid(intercept + sum_t weight[t] * tf[t]).
* **Replayability**: scoring is plain relational algebra over a persisted
  weights table, so DuckDB replays it bit-for-bit from the committed
  fixture (q_quality_gate's ``clf_score``/``clf_keep`` leg) -- the same
  certification pattern as the LSH plane and SemDeDup centers fixtures.

No reference analog (engine extension beyond
/root/reference: the reference curates nothing).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import memo

#: ``save_classifier`` stores the intercept inside the weights parquet as a
#: row whose term is this sentinel. Real terms are non-empty whitespace-free
#: words (or space-joined bigrams) and can never collide with a NUL prefix;
#: the scoring join filters it out via ``load_classifier``.
BIAS_SENTINEL = "\x00<bias>"

DEFAULT_VOCAB_SIZE = 1 << 18

#: Weight-sum quantum for scoring: weights are floor-quantized to 2^-26
#: (~1.5e-8, immaterial to a quality verdict) so every addend of the per-doc
#: reduce is an exact BIGINT. Integer addition is associative, so the score
#: is BIT-IDENTICAL under any partial-aggregation order and across engines
#: (Spark's hash-agg order vs DuckDB's) -- double summation order was a
#: latent rounding-boundary flake in the certification harness. The product
#: ``weight * 2^26`` is an exact double (power-of-two scaling), ``floor`` is
#: exact, and the BIGINT sum overflows only past ~1e8 matched terms per doc
#: at |weight| <= 1e3 -- far beyond any document.
WEIGHT_FP_SCALE = 1 << 26


def terms_array(text: Column, bigrams: bool = True) -> Column:
    """Per-document term array: normalized whitespace word unigrams plus
    (optionally) their space-joined bigrams -- the same tokenization the
    quality gate and dedup shingles use, so one normalization pass serves
    the whole stack. NULL text is treated as empty (scores at the
    intercept) rather than poisoning downstream sizes."""
    from .dedup import normalized
    from .textstats import word_bigrams

    wt = F.filter(
        F.split(normalized(F.coalesce(text, F.lit(""))), " "),
        lambda x: x != F.lit(""),
    )
    if not bigrams:
        return wt
    bg = F.filter(word_bigrams(wt), lambda x: F.length(x) > 0)
    return F.concat(wt, bg)


def score_documents(
    df: DataFrame,
    weights: DataFrame,
    *,
    bias: float = 0.0,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    bigrams: bool = True,
    round_to: int = 6,
    carry: tuple[str, ...] = (),
    terms_col: str | tuple[str, ...] | None = None,
    gate_col: str | None = None,
) -> DataFrame:
    """Score every document under a trained linear model: one row per input
    doc with ``(*carry, n_terms, clf_score, clf_keep)``.

    ONE corpus scan: the per-doc term count rides along the explode
    (``explode_outer`` keeps term-less docs, which score at the bias), the
    weights table joins broadcast (vocab-bounded -- see module docstring),
    and the per-doc reduce is a map-side-combined BIGINT sum of
    ``floor(weight * WEIGHT_FP_SCALE)`` -- order-independent and therefore
    bit-reproducible across partial-aggregation orders and engines (see
    ``WEIGHT_FP_SCALE``). ``clf_score`` is rounded before the threshold
    compare so both engines gate on the same stored value.

    ``terms_col`` (a column name, or a TUPLE of array-column names to
    concat) supplies a PRECOMPUTED term array instead of re-deriving it from
    ``text_col`` -- e.g. the quality gate already materializes the filtered
    word and bigram arrays (``keep_cols=("_wt", "_bg")``), so the composed
    gate+classifier pass normalizes and splits each document exactly once.

    ``gate_col`` names a BOOLEAN carry column (must appear in ``carry``):
    only rows where it is true are exploded and scored -- the DCLM ordering,
    heuristic-gate first, classifier on survivors -- cutting the explode to
    the surviving fraction of the corpus. Gated-out rows still come back
    (full per-doc coverage) with ``n_terms = 0`` and NULL
    ``clf_score``/``clf_keep``.

    ``carry`` names row-wise columns of ``df`` to ride through the explode
    and back out -- composing an upstream projection (e.g. the heuristic
    gate's signal columns) into this aggregate WITHOUT a second corpus scan
    and doc_id join. Carried columns are functionally dependent on the id,
    so they join the GROUP BY key (zero extra groups) rather than hiding
    in ``first()`` aggregates -- ``first`` over strings demotes the whole
    aggregate to SortAggregate, while compound keys keep the map-side-
    combined HashAggregate. Scalars only: each carried value is duplicated
    per term row until the partial aggregate collapses it."""
    if gate_col is not None and gate_col not in carry:
        raise ValueError(
            f"gate_col {gate_col!r} must be one of the carry columns "
            f"{carry!r} so the verdict can NULL gated-out scores"
        )
    key = (id_col, tuple(carry), terms_col, gate_col,
           text_col, bigrams, float(bias), float(threshold), round_to)
    row_cols, agg_expr, out_cols = memo(df.sparkSession, (_score_exprs, *key),
                                        lambda: _score_exprs(*key))
    agg = (
        df.select(*row_cols)
        .join(F.broadcast(weights), "term", "left")
        .groupBy(id_col, *carry, "_n")
        .agg(agg_expr)
    )
    return agg.select(*out_cols)


def _score_exprs(
    id_col: str,
    carry: tuple,
    terms_key,
    gate_col,
    text_col: str,
    bigrams: bool,
    bias: float,
    threshold: float,
    round_to: int,
):
    """``score_documents``' Column fragments -- (explode-select list,
    aggregate expression, output-select list) -- pure functions of names
    and scalars, compiled once per session (~0.15 s of py4j round-trips per
    call on the q_quality_gate path). ``terms_key`` is None (derive from
    ``text_col``), a column name, or a tuple of array-column names to
    concat. Returned containers are shared -- callers must treat them as
    read-only."""
    if terms_key is None:
        t = terms_array(F.col(text_col), bigrams=bigrams)
    elif isinstance(terms_key, tuple):
        t = F.concat(*[F.col(c) for c in terms_key])
    else:
        t = F.col(terms_key)
    if gate_col is not None:
        t = F.when(F.col(gate_col), t).otherwise(F.array().cast("array<string>"))
    row_cols = (
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.size(t).alias("_n"),
        F.explode_outer(t).alias("term"),
    )
    agg_expr = F.sum(
        F.floor(F.col("weight") * F.lit(float(WEIGHT_FP_SCALE)))
    ).alias("_wsum")
    z = F.lit(bias) + (
        F.coalesce(F.col("_wsum"), F.lit(0)).cast("double")
        / F.lit(float(WEIGHT_FP_SCALE))
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), round_to)
    keep = score >= F.lit(threshold)
    if gate_col is not None:
        score = F.when(F.col(gate_col), score)
        keep = F.when(F.col(gate_col), keep)
    out_cols = (
        id_col,
        *carry,
        F.col("_n").cast("bigint").alias("n_terms"),
        score.alias("clf_score"),
        keep.alias("clf_keep"),
    )
    return row_cols, agg_expr, out_cols


def apply_classifier(
    df: DataFrame,
    weights: DataFrame,
    *,
    bias: float = 0.0,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    bigrams: bool = True,
    top_frac: float | None = None,
) -> DataFrame:
    """Filtering form: keep rows scoring >= threshold -- or, with
    ``top_frac``, the top fraction by score regardless of calibration (the
    DCLM selection rule; ``threshold`` is then ignored) -- original columns
    preserved. Unlike the row-wise heuristic gate this needs a per-doc
    aggregate, so the verdict joins back LEFT SEMI on the id -- batch-only
    (the streaming form would need a watermarked aggregate; gate first,
    classify in the batch pass). ``top_frac`` is also a GLOBAL aggregate
    over the scored set: it must not run bucket-locally (a per-bucket
    quantile is not the corpus quantile)."""
    scored = score_documents(
        df, weights, bias=bias, threshold=threshold, text_col=text_col,
        id_col=id_col, bigrams=bigrams,
    )
    if top_frac is not None:
        # top_fraction references the scored frame TWICE (the broadcast
        # quantile cutpoint and the filter), and AQE compiles subplans
        # independently (no cross-reference exchange reuse -- the
        # q_lm_quality lesson): without a checkpoint the dominant scoring
        # work (explode + weights join + per-doc sum over the corpus)
        # executes twice. The checkpointed frame is per-doc, tiny.
        scored = scored.localCheckpoint(eager=False)
        kept = top_fraction(scored, top_frac, "clf_score")
    else:
        kept = scored.where(F.col("clf_keep"))
    return df.join(kept.select(id_col), id_col, "left_semi")


def top_fraction(
    df: DataFrame,
    frac: float,
    score_col: str = "clf_score",
    *,
    approx: bool = False,
) -> DataFrame:
    """Keep the TOP ``frac`` of rows by ``score_col`` -- the DCLM selection
    rule (Li et al. 2024 keep the top ~10% by fastText score; a fixed 0.5
    threshold is calibration-dependent, a fraction is not). Rows at the
    cutpoint score are kept (ties admit slightly more than ``frac``).

    Scale shape: ONE aggregate computes the (1-frac) quantile cutpoint,
    broadcast back as a 1-row cross join (the CCNet-buckets pattern --
    never a global sort or Window). ``approx=True`` swaps the exact
    interpolated percentile for ``approx_percentile`` (t-digest, one pass,
    no per-group sort buffer) -- the form to run at 100 TB; exact is the
    default because the DuckDB oracle replays it bit-for-bit
    (``quantile_cont``)."""
    if not 0.0 < frac <= 1.0:
        raise ValueError(f"frac must be in (0, 1], got {frac}")
    if frac == 1.0:
        return df
    return (
        df.crossJoin(F.broadcast(quantile_cut(df, frac, score_col, approx=approx)))
        .where(F.col(score_col) >= F.col("_cut"))
        .drop("_cut")
    )


def quantile_cut(
    df: DataFrame,
    frac: float,
    score_col: str = "clf_score",
    *,
    approx: bool = False,
) -> DataFrame:
    """1-row DataFrame holding the ``(1-frac)`` quantile of ``score_col``
    as ``_cut`` -- the broadcastable cutpoint behind ``top_fraction``,
    exposed so compositions can mark membership (a boolean column) instead
    of filtering. Spark ``percentile`` and DuckDB ``quantile_cont`` both
    use type-7 linear interpolation, so the oracle replays it exactly."""
    fn = "approx_percentile" if approx else "percentile"
    return df.agg(F.expr(f"{fn}({score_col}, {1.0 - frac!r})").alias("_cut"))


def label_from_gate(df: DataFrame, text_col: str = "text", **overrides) -> DataFrame:
    """DCLM-style weak-label bootstrap when no curated positive set exists:
    the heuristic gate verdict becomes the training label (gate-pass = 1.0).
    Returns the input columns plus ``label``. Row-wise (the gate is a pure
    projection), so it composes onto any bounded training sample."""
    from .textstats import quality_gate

    g = quality_gate(df, text_col, **overrides).select(
        "doc_id", F.col("keep").cast("double").alias("label")
    )
    return df.join(g, "doc_id")


def train_quality_classifier(
    labeled: DataFrame,
    *,
    label_col: str = "label",
    text_col: str = "text",
    vocab_size: int = DEFAULT_VOCAB_SIZE,
    min_df: float = 1.0,
    max_iter: int = 100,
    reg_param: float = 0.0,
    elastic_net: float = 0.0,
    bigrams: bool = True,
) -> tuple[DataFrame, float]:
    """Fit the linear quality model on a bounded labeled sample; returns
    ``(weights, bias)`` where ``weights`` is a ``(term, weight)`` DataFrame
    of the non-zero coefficients and ``bias`` the intercept.

    All featurization is JVM MLlib: ``CountVectorizer`` fits the vocab
    (frequency-ordered, capped at ``vocab_size`` -- the bound that later
    justifies broadcasting the weights) and emits sparse count vectors;
    ``LogisticRegression(standardization=False)`` keeps coefficients in
    raw-count space so the scoring sum replays them exactly. The dense
    coefficient readback is vocab_size * 8 bytes on the driver (2 MB at the
    default cap) -- a bounded model artifact, documented like every other
    driver-side collect in this repo. ``elastic_net``/``reg_param`` > 0
    sparsify the model (fastText-style compression) and shrink the
    broadcast."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import CountVectorizer

    spark = labeled.sparkSession
    feats = labeled.select(
        F.col(label_col).cast("double").alias("label"),
        terms_array(F.col(text_col), bigrams=bigrams).alias("_terms"),
    )
    cvm = CountVectorizer(
        inputCol="_terms", outputCol="features",
        vocabSize=vocab_size, minDF=min_df,
    ).fit(feats)
    lr = LogisticRegression(
        featuresCol="features", labelCol="label",
        maxIter=max_iter, regParam=reg_param, elasticNetParam=elastic_net,
        standardization=False,
    ).fit(cvm.transform(feats))
    coef = lr.coefficients.toArray()
    rows = [
        (term, float(w)) for term, w in zip(cvm.vocabulary, coef) if w != 0.0
    ]
    weights = spark.createDataFrame(rows, "term string, weight double")
    return weights, float(lr.intercept)


def save_classifier(weights: DataFrame, bias: float, path: str) -> None:
    """Persist the model as ONE parquet: the (term, weight) rows plus a
    ``BIAS_SENTINEL`` row carrying the intercept (one artifact to ship to a
    scoring job; coalesce(1) -- the table is vocab-bounded)."""
    spark = weights.sparkSession
    sent = spark.createDataFrame(
        [(BIAS_SENTINEL, float(bias))], "term string, weight double"
    )
    weights.select("term", "weight").unionByName(sent).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def load_classifier(spark: SparkSession, path: str) -> tuple[DataFrame, float]:
    """Inverse of ``save_classifier``: returns ``(weights, bias)``. The
    sentinel lookup is a 1-row bounded collect on a vocab-sized table."""
    df = spark.read.parquet(path)
    head = df.where(F.col("term") == BIAS_SENTINEL).select("weight").head()
    if head is None:
        raise ValueError(
            f"{path} has no {BIAS_SENTINEL!r} bias row -- not a classifier "
            "artifact written by save_classifier"
        )
    return df.where(F.col("term") != BIAS_SENTINEL), float(head[0])

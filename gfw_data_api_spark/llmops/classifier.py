"""Quality classifiers: learned LR over native signals, and
fastText-style hashed-n-gram linear scoring.

Two production quality-filter recipes live here, both Spark-first:

1. **Learned logistic regression over quality signals** (GPT-3's
   WebText-vs-CommonCrawl filter, CCNet, RefinedWeb): the heuristic
   ``text.quality_signals`` score is hand-weighted; this half LEARNS
   the weights from a labeled seed set (curated = 1, raw = 0) and
   scores the whole corpus with the trained model. Spark MLlib makes
   both halves distributed: training is L-BFGS over the cluster (each
   iteration one pass of gradient partial-aggregation — no driver
   sample cap, unlike the k-means recipes that only need tiny models),
   and scoring is one narrow map. Features are the engine's own native
   signals (alpha/punct/stopword ratios, lengths, Gopher repetition
   fractions) — cheap JVM expressions, and MLlib's LR transform is
   JVM-side too.

2. **Hashed-bag-of-n-gram linear scoring** (fastText architecture,
   Joulin et al. 2016): word unigrams + bigrams of the lowercased
   text hash into ``dim`` buckets with the repo's one canonical 60-bit
   md5 formula (llmops/sampling.py) and the document score is the
   exact INTEGER sum of per-bucket milli-weights — order- and
   partition-independent, bit-reproducible across engines (the t24
   gate replays it in DuckDB). Callers pass a trained weight table
   (one int per bucket, inlined as an array literal); without one a
   deterministic md5-derived pseudo-weight table stands in. The whole
   scorer is per-row array math inside ONE projection — tokenize,
   slice/zip_with for bigrams, transform for hash+weight, aggregate
   for the sum. Zero shuffles, zero Python, zero explodes: at 100 TB
   it is a map-only pass whose cost is the scan. (Bigrams contain a
   space and whitespace-split unigrams cannot, so the families never
   collide.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gfw_data_api_spark.llmops.sampling import hash_bucket
from gfw_data_api_spark.llmops.text import (
    _max_multiplicity,
    quality_signals,
    tokens_col,
)

#: native signal columns fed to the learned classifier
FEATURE_COLS = [
    "n_chars_sig",
    "n_tokens_sig",
    "alpha_ratio",
    "punct_ratio",
    "stopword_ratio",
    "mean_word_len",
    "top_word_frac",
    "top_bigram_frac",
]


def featurize(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach FEATURE_COLS (all native expressions) + an MLlib vector.

    ONE narrow map over the corpus: ``quality_signals``' ratios and the
    Gopher repetition fractions are all per-row expressions (the
    fractions inline ``text._max_multiplicity`` — the same sorted-array
    fold ``repetition_signals`` uses — instead of computing that
    DataFrame and joining it back on the document id, which made
    corpus-scale scoring pay a corpus-scale shuffle). NULL-text rows
    keep the old join-miss semantics: both fractions coalesce to 0.0.
    """
    from pyspark.ml.feature import VectorAssembler

    sig = quality_signals(df, text_col).withColumn(
        "_t_feat", tokens_col(F.col(text_col))
    )
    sig = sig.withColumn(
        "_b_feat",
        F.expr(
            "transform(slice(_t_feat, 1, greatest(size(_t_feat) - 1, 0)), "
            "(x, i) -> concat(x, ' ', _t_feat[i + 1]))"
        ),
    )
    n_words = F.size("_t_feat").cast("bigint")
    n_bigrams = F.size("_b_feat").cast("bigint")
    sig = (
        sig.withColumn(
            "top_word_frac",
            F.coalesce(
                F.round(_max_multiplicity(F.col("_t_feat")) / n_words, 6),
                F.lit(0.0),
            ),
        )
        .withColumn(
            "top_bigram_frac",
            F.coalesce(
                F.round(
                    F.when(
                        n_bigrams > 0,
                        _max_multiplicity(F.col("_b_feat")) / n_bigrams,
                    ).otherwise(F.lit(0.0)),
                    6,
                ),
                F.lit(0.0),
            ),
        )
        .drop("_t_feat", "_b_feat")
        .withColumn("n_chars_sig", F.col("n_chars_sig").cast("double"))
        .withColumn("n_tokens_sig", F.col("n_tokens_sig").cast("double"))
    )
    assembler = VectorAssembler(
        inputCols=FEATURE_COLS, outputCol="features", handleInvalid="keep"
    )
    return assembler.transform(sig)


def train_quality_classifier(
    labeled: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    reg_param: float = 0.01,
    max_iter: int = 50,
):
    """Fit LR on a labeled seed set (1 = curated/good, 0 = raw/bad).

    Returns the fitted MLlib model. Training distributes (per-iteration
    gradient aggregation), so the seed set can be arbitrarily large.
    """
    from pyspark.ml.classification import LogisticRegression

    feats = featurize(labeled, text_col)
    lr = LogisticRegression(
        featuresCol="features",
        labelCol=label_col,
        regParam=reg_param,
        maxIter=max_iter,
        standardization=True,
    )
    return lr.fit(feats)


def score_quality(
    model,
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "quality_prob",
) -> DataFrame:
    """P(good) per document; JVM-side end to end."""
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(featurize(df, text_col))
    return scored.withColumn(
        out_col, vector_to_array(F.col("probability")).getItem(1)
    ).drop("features", "rawPrediction", "probability", "prediction")


def filter_by_quality(
    model,
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Keep documents the model scores at or above ``threshold``."""
    return (
        score_quality(model, df, text_col)
        .filter(F.col("quality_prob") >= threshold)
        .drop("quality_prob")
    )


# ---------------------------------------------------------------------------
# hashed-bag-of-n-gram linear scoring (fastText architecture)
# ---------------------------------------------------------------------------


def _pseudo_weight_milli(bucket: Column) -> Column:
    """Deterministic stand-in weight table: milli-weight in
    [-1000, 1000] derived from the bucket id by the repo's ONE
    canonical hash (llmops/sampling.py hash_bucket; the 'w:' prefix
    keeps it independent of the bucketing hash)."""
    return (
        hash_bucket(F.concat(F.lit("w:"), bucket.cast("string")), 0, 2001) - 1000
    )


def ngram_features(text: Column) -> Column:
    """Word unigrams + bigrams of the lowercased text, one array —
    the fastText feature family."""
    toks = tokens_col(F.lower(text))
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return F.when(n >= 2, F.concat(toks, bigrams)).otherwise(toks)


def hashed_linear_score(
    df: DataFrame,
    text_col: str = "text",
    dim: int = 1024,
    seed: int = 0,
    weights: list[int] | None = None,
    out_col: str = "score_milli",
) -> DataFrame:
    """Append ``n_features`` and the exact integer linear score
    ``out_col`` (milli-units) to ``df``.

    ``weights``: the trained model — one INTEGER milli-weight per
    bucket (``len(weights) == dim``), inlined into the plan as an
    array literal and indexed per feature (a dim-sized literal is a
    few KB in the plan; the executor never shuffles it). Without it,
    the md5-derived pseudo-weight table applies (bootstrap/fixture
    mode; the t24 gate replays it in DuckDB).

    The score is Σ over features (with multiplicity) of the bucket's
    milli-weight — integer arithmetic end to end, so results are
    independent of row order, partitioning, and engine. Convert to a
    probability downstream (``1/(1+exp(-score/1000/n))``) only where
    float drift is acceptable; the integer score is the stable key.
    """
    if weights is not None:
        if len(weights) != dim:
            raise ValueError(
                f"weights table has {len(weights)} entries for dim={dim}"
            )
        if not all(isinstance(w, int) for w in weights):
            raise ValueError(
                "weights must be INTEGER milli-units — float weights would "
                "make the score order-dependent; scale and round upstream"
            )
        table = F.array(*[F.lit(w).cast("bigint") for w in weights])

        def weight_of(bucket: Column) -> Column:
            return F.element_at(table, (bucket + 1).cast("int"))

    else:
        weight_of = _pseudo_weight_milli

    feats = ngram_features(F.col(text_col))
    per_feature = F.transform(feats, lambda f: weight_of(hash_bucket(f, seed, dim)))
    return df.withColumn("n_features", F.size(feats).cast("bigint")).withColumn(
        out_col,
        F.aggregate(
            per_feature, F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ),
    )

"""Learned quality scorer — distill an expensive signal into cheap features.

The production pattern behind fastText/KenLM-style corpus quality
filters (public: CCNet, Gopher, FineWeb pipelines): an EXPENSIVE
teacher signal (here the marker-regex lang-ID confidence,
langid_teacher_labels) labels a sample, a cheap surface-feature model
is fit to those labels, and the FITTED model scores the whole corpus
as a pure projection.  Spark-first end to end:

* features: the zero/low-shuffle projections already in llmops
  (quality_features length/token ratios + repetition_ratio) assembled
  into an MLlib vector — no Python in the scoring path;
* training: ``pyspark.ml`` LogisticRegression — distributed L-BFGS
  (treeAggregate gradient partials), the driver holds only the
  coefficient vector;
* scoring: ``model.transform`` is Tungsten-side per-row math; the
  teacher never runs again.

Labels are split train/eval by a hash of doc_id so the split is
deterministic and content-independent.

No counterpart in the reference (briangu/waddleml has no ML surface);
extends the engine the way its training-data users need.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SURFACE_COLS = (
    "q_chars",
    "q_words",
    "q_tokens",
    "q_punct",
    "q_avg_word_len",
    "top_ratio",
    "digit_ratio",
    "nonascii_ratio",
)


def feature_cols() -> list[str]:
    """Surface ratios + one marker-hit count per LANG_MARKERS set (the
    same JVM regex counts lang_id argmaxes over)."""
    from .textstats import LANG_MARKERS

    return list(_SURFACE_COLS) + [f"mk_{c}" for c in sorted(LANG_MARKERS)]


def feature_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, features vector, named feature cols): cheap projections
    only — everything here rides the scan except repetition_ratio's
    doc-grain join."""
    from pyspark.ml.feature import VectorAssembler

    from . import textstats
    from .textstats import LANG_MARKERS, stopword_score

    text = F.col("text")
    feats = textstats.quality_features(docs).select(
        "doc_id",
        "q_chars",
        "q_words",
        "q_tokens",
        "q_punct",
        "q_avg_word_len",
        (
            F.size(F.regexp_extract_all(text, F.lit("[0-9]"), F.lit(0)))
            / F.greatest(F.length(text), F.lit(1))
        ).alias("digit_ratio"),
        (
            F.size(F.regexp_extract_all(text, F.lit("[^\\x00-\\x7f]"), F.lit(0)))
            / F.greatest(F.length(text), F.lit(1))
        ).alias("nonascii_ratio"),
        *[
            stopword_score(text, m).alias(f"mk_{code}")
            for code, m in sorted(LANG_MARKERS.items())
        ],
    )
    rep = textstats.repetition_ratio(docs).select(
        F.col("id").alias("doc_id"), "top_ratio"
    )
    joined = feats.join(rep, "doc_id")  # inner: empty docs score nothing
    asm = VectorAssembler(
        inputCols=feature_cols(), outputCol="features", handleInvalid="skip"
    )
    return asm.transform(joined)


def langid_teacher_labels(docs: DataFrame) -> DataFrame:
    """(doc_id, label): lang-ID CONFIDENCE as teacher — label 1 when the
    marker-regex lang_id op identifies a language at all, 0 when no
    marker fires.  This is the CCNet-style gate (drop docs the language
    identifier can't place); the student compresses the whole marker
    bank into one linear pass."""
    from . import textstats

    pred = textstats.lang_id(docs)
    return pred.select(
        "doc_id",
        F.when(F.col("lang_pred").isNotNull(), 1.0).otherwise(0.0).alias("label"),
    )


def train_quality_scorer(features: DataFrame, labeled: DataFrame):
    """Fit LogisticRegression on the labeled subset; returns the model.
    Distributed: the executors see feature rows, the driver sees only
    the (n_features+1)-double coefficient vector.  No seed parameter:
    L-BFGS logistic regression is deterministic (the earlier accepted-
    but-unused ``seed`` misleadingly implied otherwise)."""
    from pyspark.ml.classification import LogisticRegression

    train = features.join(labeled, "doc_id")
    lr = LogisticRegression(
        featuresCol="features",
        labelCol="label",
        maxIter=30,
        regParam=0.01,
        standardization=True,
    )
    return lr.fit(train)


def score_quality(features: DataFrame, model) -> DataFrame:
    """(doc_id, quality_prob): P(good) per document — pure projection
    once the model exists; filter downstream with a pushed predicate."""
    from pyspark.ml.functions import vector_to_array

    return model.transform(features).select(
        "doc_id",
        F.get(vector_to_array("probability"), 1).alias("quality_prob"),
    )


def distill_report(
    spark: SparkSession, docs: DataFrame, labeled: DataFrame
) -> DataFrame:
    """One-row distillation report: fit the cheap-feature student on a
    deterministic 80% hash split of the teacher labels, evaluate AUC on
    the held-out 20%.  AUC floor-rounded to 3 digits (L-BFGS converges
    to the same optimum; last-ulp wobble must not flap the row)."""
    import math

    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    from . import rotate_persist

    # both frames feed MULTIPLE consumers (fit, transform, two counts)
    # and Catalyst does not dedupe common subtrees — without the cache
    # the feature projection and the teacher pipeline re-execute per
    # consumer.  Doc-grain numerics, small at any corpus size; persist
    # keeps lineage (evictable), rotate_persist frees the previous
    # invocation's blocks.
    features = rotate_persist("quality_model.features", feature_frame(docs))
    labeled = rotate_persist("quality_model.labels", labeled)
    fold = F.crc32(F.col("doc_id").cast("string")) % 5
    train_ids = labeled.filter(fold < 4)
    eval_ids = labeled.filter(fold == 4)
    model = train_quality_scorer(features, train_ids)
    pred = model.transform(features.join(eval_ids, "doc_id"))
    auc = BinaryClassificationEvaluator(
        labelCol="label", rawPredictionCol="rawPrediction"
    ).evaluate(pred)
    return spark.createDataFrame(
        [
            (
                train_ids.count(),
                eval_ids.count(),
                math.floor(auc * 1000 + 0.5) / 1000,
                len(feature_cols()),
            )
        ],
        "n_train long, n_eval long, auc double, n_features int",
    )


def fit_sample(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic bounded fit input of ~25 000 rows (mirror of
    ivf_index's rule): the
    student fit is iterative — every L-BFGS iteration is a full pass
    over its input — so the input must be O(sample), not O(corpus);
    teacher labeling rides the same bound because only fit rows need
    labels.  Scoring (score_quality) stays a full-corpus projection.

    Hash-Bernoulli on the id (packing.bernoulli_keep), never
    ``df.sample()`` whose RNG is partition-layout-dependent.  The size
    probe is ``limit(cap+1).count()`` — an early-stopping scan, so a
    small computed input never pays a full count."""
    from .packing import bernoulli_keep

    rows = 25_000
    probe = docs.limit(rows + 1).count()
    if probe <= rows:
        return docs
    n = docs.count()
    p = min(1.0, 1.1 * rows / n)  # oversample to hold the target
    return docs.filter(bernoulli_keep(F.col(id_col), p, "quality-fit"))


def learned_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distill the lang-ID-confidence teacher into the linear surface-
    feature student — the two-class signal the fixture corpus actually
    carries (its text is template-English regardless of the lang column,
    and it contains no PII or quality axis).  Teacher + fit + eval all run on the bounded
    ``fit_sample`` (the round-4 review's last unbounded fit); applying
    the learned filter to the corpus remains a pure projection."""
    from waddleml_spark.session import read_table

    docs = fit_sample(read_table(spark, sf_dir, "documents"))
    return distill_report(spark, docs, langid_teacher_labels(docs))

"""Learned corpus filter: teacher labels, distributed training, scoring
as projection, report determinism (llmops/quality_model.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from waddleml_spark.llmops import quality_model as qm
from waddleml_spark.session import read_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return read_table(spark, SF_SMOKE, "documents").cache()


def test_feature_frame_shape(spark, docs):
    f = qm.feature_frame(docs)
    assert set(qm.feature_cols()) <= set(f.columns)
    assert "features" in f.columns
    row = f.first()
    assert len(row.features) == len(qm.feature_cols())


def test_langid_teacher_distills_to_high_auc(spark, docs):
    rep = qm.learned_filter_report(spark, SF_SMOKE).collect()
    assert len(rep) == 1
    r = rep[0]
    # marker counts are the teacher's own inputs: the student must
    # reproduce it near-perfectly — that's the compression guarantee
    assert r.auc >= 0.95
    assert r.n_train > r.n_eval > 0
    assert r.n_features == len(qm.feature_cols())


def test_score_quality_ranks_teacher_positives(spark, docs):
    labeled = qm.langid_teacher_labels(docs)
    feats = qm.feature_frame(docs)
    model = qm.train_quality_scorer(feats, labeled)
    scored = qm.score_quality(feats, model).join(labeled, "doc_id")
    agg = scored.groupBy("label").agg(F.avg("quality_prob").alias("p")).collect()
    by_label = {r.label: r.p for r in agg}
    assert 0.0 <= by_label[0.0] < by_label[1.0] <= 1.0

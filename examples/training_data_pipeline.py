"""End-to-end LLM training-data pipeline over the documents table:
crawl-frontier curation (canonical-URL dedup + per-domain caps) →
exact dedup → containment dedup (drop docs quoted inside longer docs) →
quality gate (length + repetition) → DSIR importance scoring (keep docs
that look like the target distribution) → corpus-mix resample →
sequence packing → shard/shuffle export plan → embedding-space
diversity audit (most-redundant IVF cells, the budgeted semantic-dedup
visit order) — every stage a deterministic, engine-portable Spark plan
(the catalog checks each one against a DuckDB oracle; this example
just composes them).

Run: PYTHONPATH=. python examples/training_data_pipeline.py
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from waddleml_spark.llmops.dedup import containment_pairs, exact_dedup_keep
from waddleml_spark.llmops.packing import (
    packed_sequences,
    resample_to_mix,
    training_shard_plan,
    write_training_shards,
)
from waddleml_spark.llmops.textstats import dsir_scores, repetition_ratio
from waddleml_spark.llmops.urlnorm import domain_capped_keepers
from waddleml_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

spark = get_spark(app_name="training-data-pipeline")
spark.sparkContext.setLogLevel("ERROR")

docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
n0 = docs.count()

# 0. crawl-frontier curation: canonicalize URLs and cap each registered
#    domain's contribution (deterministic md5-rank keeper — a
#    reproducible uniform-ish sample of over-represented domains).  The
#    fixture has no url column, so derive a plausible one; a real crawl
#    passes its own.  Canonical-URL dedup proper is one groupBy on
#    canonical_url.
url_docs = docs.selectExpr(
    "*",
    "concat('https://WWW.example', CAST(doc_id % 7 AS STRING),"
    " '.com:443/page/', CAST(doc_id % 19 AS STRING), '/') AS url",
)
frontier = domain_capped_keepers(url_docs, cap=6).drop(
    "url", "canonical_url", "domain", "domain_rank"
)
n0b = frontier.count()

# 1. exact dedup (lowest doc_id survives per normalized-content hash)
deduped = exact_dedup_keep(frontier)
n1 = deduped.count()

# 1b. containment dedup: drop docs whose rare-trigram set is >= 90%
#     inside another doc's (keep the larger side) — the quotation/subset
#     redundancy exact dedup and symmetric Jaccard both miss.  The drop
#     set is PERSISTED: Catalyst re-executes shared subtrees, and every
#     downstream action references `uncontained` — uncached, the whole
#     containment pipeline (count windows + pair expansion) would re-run
#     once per action instead of once total.  The id frame is tiny.
cont = containment_pairs(deduped, min_containment=0.9)
drop_ids = (
    cont.select(
        F.when(F.col("n_a") <= F.col("n_b"), F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("doc_id")
    )
    .distinct()
    .persist()
)
uncontained = deduped.join(drop_ids, "doc_id", "left_anti")
n1b = uncontained.count()

# 2. quality gate: minimum length, then repetition ceiling (first-fail
#    order).  `rep` is computed from the cheap pre-containment frame —
#    the inner join restricts it to surviving docs anyway, and deriving
#    it from `uncontained` would put the containment anti join on BOTH
#    sides of this join (two executions per action)
rep = repetition_ratio(deduped)
gated = (
    uncontained.join(rep.withColumnRenamed("id", "doc_id"), "doc_id")
    .filter((F.col("n_tok") >= 30) & (F.col("top_ratio") <= 0.12))
    .drop("n_tok", "top_ratio")
)
n2 = gated.count()

# 2b. DSIR data selection (Xie et al. 2023): hashed-bigram importance
#     weight vs the English target distribution; keep docs whose score
#     clears a floor.  Like `rep`, scores come from the cheap
#     pre-containment frame — the inner join restricts to survivors.
dsir = dsir_scores(deduped, F.col("lang").eqNullSafe("en"))
selected = (
    gated.join(dsir.withColumnRenamed("id", "doc_id"), "doc_id")
    .filter(F.col("importance") >= -5.0)
    .drop("n_bigrams", "importance")
)
n2b = selected.count()

# 3. deterministic corpus-mix resample (upsample src0, drop src3)
mixed = resample_to_mix(selected, {"src0": 2.0, "src3": 0.0})
n3 = mixed.count()

# 4. pack into fixed-length training sequences (distributed prefix sum)
plan = packed_sequences(mixed.dropDuplicates(["doc_id"]), seq_len=512)
total_tokens = plan.agg(F.max("end")).collect()[0][0] or 0
n_seqs = total_tokens // 512 + (1 if total_tokens % 512 else 0)

# 5. shard/shuffle export plan: deterministic md5-keyed placement with a
#    per-shard running size budget — what a writer pulls to emit shards.
#    The resampled frame flows through WITH its upsample repeats (the
#    mix is the point; repeats share a hash, land in one shard, and get
#    distinct positions) — only the packing step dedups, for its own
#    unique-offset contract.
shards = training_shard_plan(mixed, n_shards=4)
shard_sizes = {r.shard: r.pos for r in shards.groupBy("shard")
               .agg(F.max("pos").alias("pos")).collect()}

# 6. materialize the export: one Hive partition per shard, rows in pos
#    order inside each file run, manifest for completeness validation
import tempfile

with tempfile.TemporaryDirectory() as td:
    manifest = write_training_shards(mixed, f"{td}/shards", n_shards=4)
    written = {s: st["rows"] for s, st in sorted(manifest["shards"].items())}

# release the cached drop set now that the LAST action flowing through
# `uncontained`'s lineage (the shard collect above) has run — every
# stage 2-5 action reads it, so unpersisting any earlier would re-run
# the containment pipeline once per remaining action
drop_ids.unpersist()

# 7. embedding-space diversity audit (SemDeDup / D4 signal): rank IVF
#    cells by in-cell mean pairwise cosine — computed WITHOUT pairwise
#    expansion (Σ_{i≠j} v̂·v̂ = ‖Σv̂‖² − Σ‖v̂‖², one linear pass) — the
#    most redundant cells are where a budgeted semantic-dedup pass
#    should spend first.  The fixture's embeddings table stands in for
#    the corpus's document embeddings.
from waddleml_spark.llmops.similarity import dispersion_by_label, ivf_index

emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
_, cells = ivf_index(emb, n_cells=None, id_col="vec_id")
redundant = (
    dispersion_by_label(cells, label_col="ivf_cell")
    .orderBy(F.desc("mean_pairwise_cos"), "label")
    .limit(3)
    .collect()
)

print(f"documents in          : {n0}")
print(f"after domain caps     : {n0b}")
print(f"after exact dedup     : {n1}")
print(f"after containment     : {n1b}")
print(f"after quality gate    : {n2}")
print(f"after DSIR selection  : {n2b}")
print(f"after mix resample    : {n3}")
print(f"packed tokens         : {total_tokens} -> {n_seqs} sequences of 512")
print(f"export shards         : {shard_sizes}")
print(f"written shard rows    : {written}")
print("most redundant cells  : "
      + ", ".join(f"cell {r.label} (n={r.n_vecs}, "
                  f"cos={r.mean_pairwise_cos:.4f})" for r in redundant))

"""End-to-end curation pipeline: the round-4 operators composed the way
a daily training-data ingest would run them — bloom dedup prefilter →
exact verify → learned quality filters → span scrub → deterministic
shard packing. Asserts cross-operator interface fit, exact prefilter
semantics, and run-to-run determinism (the resume story)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tilegrab_spark.operators.bloom import (
    bloom_anti_join,
    bloom_build,
    bloom_probe,
)
from tilegrab_spark.operators.classifier import score_documents
from tilegrab_spark.operators.ngram_lm import perplexity_score, train_bigram_lm
from tilegrab_spark.operators.packing import pack_shards
from tilegrab_spark.operators.spans import duplicate_spans, scrub_spans

SF = "/root/testdata/sf0.001"
M, K = 4096, 4


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_curation_pipeline_end_to_end(spark, docs):
    history = docs.filter(F.col("doc_id") % 3 == 0)
    batch = docs

    # 1. membership prefilter: definitely-new skip the history join;
    #    maybe-present pay the exact verify — union must be EXACTLY the
    #    new keys (no false negatives, verify kills false positives)
    sketch = bloom_build(history, "doc_id", m_bits=M, k_hashes=K)
    fresh_fast = bloom_anti_join(batch, sketch, "doc_id", m_bits=M, k_hashes=K)
    maybe = bloom_probe(
        batch, sketch, "doc_id", m_bits=M, k_hashes=K
    ).filter("maybe_present").drop("maybe_present")
    verified = maybe.join(history.select("doc_id"), "doc_id", "left_anti")
    # stored once, as an ingest stores each stage's output: every later
    # stage reads it several times, and re-planning the bloom stage under
    # each read multiplies the plan size
    new = fresh_fast.unionByName(verified).localCheckpoint()
    got_ids = {r.doc_id for r in new.select("doc_id").collect()}
    want_ids = {
        r.doc_id for r in docs.filter(F.col("doc_id") % 3 != 0).collect()
    }
    assert got_ids == want_ids

    # 2. learned quality: classifier margin + LM perplexity, one frame
    rng = np.random.default_rng(0)
    w = rng.standard_normal(1 << 12)
    scored = score_documents(new, w, keep_cols=("lang",))
    model = train_bigram_lm(new)
    ppl = perplexity_score(new, model).select("doc_id", "perplexity")
    signals = scored.join(ppl, "doc_id")
    assert signals.count() == len(want_ids)
    # loose central thresholds keep a healthy slice without coupling the
    # test to the synthetic corpus's score distribution
    meds = signals.approxQuantile(["score", "perplexity"], [0.5], 0.01)
    keep = signals.filter(
        (F.col("score") >= meds[0][0]) | (F.col("perplexity") <= meds[1][0])
    )
    n_keep = keep.count()
    assert 0 < n_keep <= len(want_ids)

    # 3. span scrub over the kept slice: scrubbed output is span-free
    kept_docs = new.join(keep.select("doc_id"), "doc_id")
    spans = duplicate_spans(kept_docs, k=8, min_docs=2)
    scrubbed = scrub_spans(kept_docs, spans).select(
        "doc_id", F.col("scrubbed_text").alias("text")
    )
    assert duplicate_spans(scrubbed, k=8, min_docs=2).count() == 0

    # 4. deterministic packing: identical shard assignment across runs
    sized = scrubbed.select(
        "doc_id", F.length("text").cast("long").alias("n_bytes")
    )
    a = pack_shards(sized, size_col="n_bytes", order_col="doc_id",
                    shard_bytes=1 << 13)
    b = pack_shards(sized, size_col="n_bytes", order_col="doc_id",
                    shard_bytes=1 << 13)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb and len(ra) == n_keep

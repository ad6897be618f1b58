"""Adversarial-data correctness: the engine ≡ oracle contract must
survive the data shapes the schema permits but the frozen testdata
happens not to contain — null/NaN value, malformed JSON props,
zero-magnitude AND null embeddings, events missing an identity
dimension (null ts / event_type / user_id — ingest-rejected), and
hostile document rows (null / empty / whitespace-only body, null
lang/source).
tools/make_dirty_testdata.py injects them; the driver-condition gate
(default session, DuckDB compare) then runs the value-sensitive query
subset in a subprocess (its own JVM, so it can't collide with the
pytest session's Spark confs).

The full dirty gate over every query is a tool run, not a test:
    python tools/make_dirty_testdata.py && \
    python tools/check_correctness.py /tmp/sfdirty
"""

import subprocess
import sys
from pathlib import Path

TOOLS = Path(__file__).resolve().parents[1] / "tools"

# The queries whose semantics touch the injected shapes: value
# aggregates/percentiles/windows, JSON extraction, cosine similarity,
# and the tokenize/shingle family over the hostile document bodies
# (the round-3 sweep's four cross-engine null quirks live there).
DIRTY_SENSITIVE = [
    "q04_quality_stats",
    "q27_embedding_neardup",
    "q36_value_percentiles",
    "q80_equidepth_bins",
    "q87_ab_test",
    "q95_mutual_info",
    "q98_json_extract",
    "q17_minhash_pairs",
    "q18_jaccard_consecutive",
    "q23_fingerprint",
    "q52_gopher_quality",
    "q55_chunking",
    "q59_incremental_dedup",
    "q76_normalize_text",
    "q105_corpus_pipeline",
    # the malformed-event ingest reject (null ts / type / user_id)
    "q25_sessionize",
    "q26_windowed_events",
    "q90_gaps_islands",
    # the NULL-embedding boundary (load_table filter + oracle filters)
    "q15_kmeans",
    "q19_similarity_topk",
    "q28_lsh_ann",
    "q30_ivf_ann",
    "q57_quantize",
    "q97_centroid_cosine",
    "q103_batch_ann",
    "q104_semdedup",
]


def test_gate_survives_adversarial_data(tmp_path):
    dst = str(tmp_path / "sfdirty")
    subprocess.run(
        [sys.executable, str(TOOLS / "make_dirty_testdata.py"),
         "/root/testdata/sf0.001", dst],
        check=True,
        timeout=120,
    )
    out = subprocess.run(
        [sys.executable, str(TOOLS / "check_correctness.py"), dst]
        + DIRTY_SENSITIVE,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "== ALL OK" in out.stdout, out.stdout + out.stderr[-2000:]

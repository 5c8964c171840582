"""A corpus rewritten in place mid-session answers fresh, with no hook.

Each ``trunk_cache.trunk`` entry keeps the footprint (file count, bytes,
latest mtime) of the corpus directory it was built over; the next lookup
after a rewrite releases what was built over the old files and rebuilds.
The three queries below each read a different kind of entry: the counted
MinHash pairs (a persisted frame), the ANN grids and training sample (a
frame and a row list) and the staged events stream (a directory).
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

from nemscraper_spark.queries import REGISTRY
from tests.oracle_harness import compare

QUERIES = ("minhash_containment_pairs", "ann_pq_adc_md5", "streaming_dedup_replay")
HALVED = ("events", "embeddings", "documents")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_rewritten_corpus_rebuilds_without_a_hook(spark, sf_dir, tmp_path):
    import nemscraper_spark.queries.trunk_cache as tc

    corpus = tmp_path / "sf"
    corpus.mkdir()
    for name in os.listdir(sf_dir):
        shutil.copyfile(os.path.join(sf_dir, name), corpus / name)
    corpus = str(corpus)
    nd = tc.norm_dir(corpus)

    def stages():
        return {k: v for k, (_, v) in tc._TRUNKS.items() if k[0] == "stage" and k[2] == nd}

    try:
        before = {}
        for q in QUERIES:
            df = REGISTRY[q].fn(spark, corpus)
            ok, msg = compare(df, REGISTRY[q].oracle, corpus)
            assert ok, f"{q} before the rewrite: {msg}"
            before[q] = _rows(df)
        old_stages = stages()
        assert old_stages

        for t in HALVED:
            path = os.path.join(corpus, f"{t}.parquet")
            table = pq.read_table(path)
            pq.write_table(table.slice(0, table.num_rows // 2), path)

        for q in QUERIES:
            df = REGISTRY[q].fn(spark, corpus)
            ok, msg = compare(df, REGISTRY[q].oracle, corpus)
            assert ok, f"{q} after the rewrite: {msg}"
            assert _rows(df) != before[q], f"{q}: the rewrite did not change the answer"

        new_stages = stages()
        assert new_stages.keys() == old_stages.keys()
        for k, old in old_stages.items():
            assert not os.path.exists(old), f"stale stage {k} left on disk"
            assert os.path.isdir(new_stages[k])
    finally:
        for k in [k for k in tc._TRUNKS if k[2] == nd]:
            tc._release(tc._TRUNKS.pop(k)[1])

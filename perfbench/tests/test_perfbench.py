"""Tests of the benchmark's own code (no Spark needed):

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import re
import sys
import zipfile
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))

import nemfeed  # noqa: E402
import record  # noqa: E402
import tabledata  # noqa: E402

SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())


def _zip_bytes(tmp_path, seed, batch=0, file_idx=0, rows=200) -> bytes:
    d = tmp_path / f"s{seed}-b{batch}-f{file_idx}"
    d.mkdir()
    info = nemfeed.make_zip(str(d), seed, batch, file_idx, rows)
    return (d / info["name"]).read_bytes()


def test_same_seed_gives_byte_identical_zips(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    one = _zip_bytes(tmp_path / "a", 7)
    assert _zip_bytes(tmp_path / "b", 7) == one
    assert _zip_bytes(tmp_path / "b", 8) != one


def test_other_seed_file_or_batch_changes_the_rows(tmp_path):
    def rows(seed, batch, f):
        _, text, _ = nemfeed.make_csv(seed, batch, f, 200)
        return [line.split(",", 4)[4] for line in text.splitlines() if line.startswith("D,")]

    base = rows(7, 0, 0)
    assert rows(8, 0, 0) != base
    assert rows(7, 0, 2) != base
    assert rows(7, 3, 0) != base
    # no repeated-row feed: the values inside one file vary
    assert len(set(base)) > len(base) // 2


def test_csv_has_two_tables_two_dates_and_one_schema_change():
    dates_by_batch, unit_headers = {}, {}
    for batch in range(nemfeed.EVOLVE_BATCH + 2):
        for f in range(4):
            name, text, counts = nemfeed.make_csv(1, batch, f, 100)
            lines = text.splitlines()
            assert lines[0].startswith("C,") and lines[-1].startswith('C,"END OF REPORT"')
            i_rows = [line for line in lines if line.startswith("I,")]
            assert [r.split(",")[2] for r in i_rows] == ["UNIT_MW", "REGION_FREQ_MEASURE"]
            assert sum(1 for line in lines if line.startswith("D,")) == sum(counts.values()) == 100
            dates_by_batch.setdefault(batch, set()).add(re.search(r"(20\d{6})", name).group(1))
            unit_headers[batch] = i_rows[0]
    for batch, dates in dates_by_batch.items():
        assert len(dates) == 2
        # each batch lands files in the partition the previous one opened
        if batch:
            assert len(dates & dates_by_batch[batch - 1]) == 1
    assert unit_headers[0] != unit_headers[nemfeed.EVOLVE_BATCH]
    assert unit_headers[nemfeed.EVOLVE_BATCH].startswith(unit_headers[0] + ",")
    assert unit_headers[nemfeed.EVOLVE_BATCH + 1] == unit_headers[nemfeed.EVOLVE_BATCH]


def test_feed_listing_grows_one_batch_per_publish(tmp_path):
    feed = nemfeed.Feed(str(tmp_path / "feed"), seed=3, files_per_batch=2, rows_per_file=50)
    assert feed.url.startswith("file://")
    for batch in range(3):
        new = feed.publish()
        html = (tmp_path / "feed" / "index.html").read_text()
        assert len(re.findall(r'href="[^"]+\.zip"', html)) == 2 * (batch + 1)
        assert all(f'href="{n}"' in html for n in new)
    assert feed.d_rows == {nemfeed.UNIT_TABLE: 3 * 2 * 40, nemfeed.FREQ_TABLE: 3 * 2 * 10}
    for name in feed.names:
        with zipfile.ZipFile(tmp_path / "feed" / name) as zf:
            text = zf.read(zf.namelist()[0]).decode()
        assert text.count("\nD,") == 50


def test_every_benchmarked_query_has_an_oracle():
    """The check pass compares each query with its DuckDB oracle; a
    query without one is refused when the workload is built."""
    sys.path.insert(0, str(BENCH.parent))
    sys.path.insert(0, str(BENCH.parent / "scripts"))
    import workloads

    for units in (workloads.DASHBOARD, workloads.CORPUS, workloads.STREAM):
        wl = workloads.QueryWorkload("w", units, "tables")
        assert set(wl.oracles()) == {q for unit in units for q in unit}
    with pytest.raises(ValueError):
        workloads.QueryWorkload("w", [("ann_pq_adc",)], "tables")


def test_tables_are_deterministic_and_typed():
    a, b = tabledata.build_tables(), tabledata.build_tables()
    for name in a:
        sink_a, sink_b = io.BytesIO(), io.BytesIO()
        import pyarrow.parquet as pq

        pq.write_table(a[name], sink_a)
        pq.write_table(b[name], sink_b)
        assert hashlib.sha256(sink_a.getvalue()).digest() == hashlib.sha256(sink_b.getvalue()).digest()
    assert str(a["lineitem"].schema.field("l_linenumber").type) == "int32"
    assert str(a["orders"].schema.field("o_orderdate").type) == "timestamp[us]"
    assert str(a["embeddings"].schema.field("embedding").type) == "list<item: float>"
    assert a["documents"].num_rows == tabledata.ROWS["documents"]


def test_tail_is_the_eleventh_largest_sample():
    t = record.tail([float(x) for x in range(100)])
    assert t == {"percentile": 90.0, "value": 89.0, "samples": 100, "beyond": 10}
    short = record.tail([1.0, 3.0, 2.0])
    assert short["value"] == 3.0 and short["beyond"] == 0


def test_benchmark_json_matches_the_record_schema():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {m["name"]: (m["unit"], m["better"]) for m in SPEC["end_to_end"]} == record.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in SPEC["per_layer"]} == record.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in SPEC[k]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    import run

    assert {w["name"] for w in SPEC["workloads"]} <= set(run.WORKLOADS)
    assert SPEC["paths"] == ["perfbench"]


def test_metric_line_names_every_metric_with_its_unit():
    for spec in (record.END_TO_END, record.PER_LAYER):
        line = record.metric_line({name: 1.5 for name in spec}, spec)
        assert line == {n: {"value": 1.5, "unit": spec[n][0]} for n in spec}
        with pytest.raises(KeyError):
            record.metric_line({}, spec)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_baseline_records_have_the_named_schema(workload):
    """The recorded parent-commit runs printed every metric, by name and
    with its unit, on every listed workload, and failed nothing."""
    base = json.loads((BENCH / "BASELINE.json").read_text())["workloads"][workload]
    assert base["correct"] and base["failed_frac"] == 0
    assert {k: v["unit"] for k, v in base["end_to_end"].items()} == {
        k: u for k, (u, _) in record.END_TO_END.items()}
    assert all(set(r["metrics"]) == set(record.END_TO_END) for r in base["runs"])
    assert all(r["metrics"][k] > 0 for r in base["runs"] for k in record.END_TO_END)
    assert {k: v["unit"] for k, v in base["traced"]["per_layer"].items()} == {
        k: u for k, (u, _) in record.PER_LAYER.items()}


def test_run_refuses_without_the_engine(tmp_path, capsys):
    """A directory holding only the benchmark exits non-zero and prints
    no result line."""
    import run

    old = run.ROOT
    run.ROOT = tmp_path
    try:
        assert run.main(["--workload", "corpus", "--seed", "1", "--seconds", "1"]) != 0
    finally:
        run.ROOT = old
    assert capsys.readouterr().out == ""
    assert not os.path.exists(tmp_path / ".perfbench_runs")


def test_self_time_subtracts_the_union_of_overlapping_children():
    from spans import self_times

    spans = [
        {"id": 0, "name": "op", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "name": "compact.table", "start": 1.0, "end": 7.0, "parent": 0},
        # two partitions rewritten at once on the engine's thread pool
        {"id": 2, "name": "compact.partition", "start": 2.0, "end": 5.0, "parent": 1},
        {"id": 3, "name": "compact.partition", "start": 3.0, "end": 6.0, "parent": 1},
    ]
    assert self_times(spans) == {"op": 4.0, "compact.table": 2.0, "compact.partition": 6.0}

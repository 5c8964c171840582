"""scripts/run_pipeline.py one-shot smoke: poll a file:// feed listing,
download+ingest the fixture ZIP exactly once (ledger dedup across
ticks), compact, and write the FPP outputs."""

from __future__ import annotations

import glob
import os
import sys
import zipfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from run_pipeline import run_loop, run_once  # noqa: E402

from nemscraper_spark.queries.ingest_ops import _NEM_CSV as NEM_CSV  # noqa: E402


def _make_feed(tmp_path):
    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    zpath = feed_dir / "PUBLIC_DISPATCHIS_20220720_0001.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("PUBLIC_DISPATCHIS_202207201800.CSV", NEM_CSV)
    listing = feed_dir / "listing.html"
    listing.write_text(f'<html><a href="{zpath.name}">z</a></html>')
    return listing.as_uri()


def test_pipeline_once_and_dedup(spark, tmp_path, sf_dir):
    feed = _make_feed(tmp_path)
    work = str(tmp_path / "work")

    s1 = run_once(spark, work, [feed], sf_dir)
    assert s1["downloaded"] == 1
    assert s1["processed"] == 1
    assert s1["tables"]["FPP---UNIT_MW---1"] == 3
    assert s1["outputs"] == 5
    out = os.path.join(work, "output", "04_performance.parquet")
    assert spark.read.parquet(out).count() > 0

    # second tick: ledgers suppress re-download and re-processing
    s2 = run_once(spark, work, [feed], None)
    assert s2["downloaded"] == 0
    assert s2["processed"] == 0


def test_loop_resweep_picks_up_outofband_zip(spark, tmp_path):
    """A ZIP dropped straight into <workdir>/zips between ticks (no
    feed download — the out-of-band arrival the reference's daily
    re-enqueue sweep exists for, main.rs:286-307) must be ingested on
    the next tick, and exactly once."""
    import threading

    work = tmp_path / "work"
    zips = work / "zips"
    zips.mkdir(parents=True)

    def _drop(name):
        with zipfile.ZipFile(zips / name, "w") as zf:
            zf.writestr(name.replace(".zip", ".CSV"), NEM_CSV)

    _drop("PUBLIC_DISPATCHIS_20220720_0001.zip")
    stop = threading.Event()
    ticks = []

    orig_run_once = run_once

    def _spy(*a, **kw):
        s = orig_run_once(*a, **kw)
        ticks.append(s)
        if len(ticks) == 1:
            _drop("PUBLIC_DISPATCHIS_20220721_0001.zip")  # out-of-band
        elif len(ticks) >= 3:
            stop.set()
        return s

    import run_pipeline as rp

    rp_run_once, rp.run_once = rp.run_once, _spy
    try:
        run_loop(
            spark, str(work), [], None,
            extra_ticks=10, interval_sec=0.05, stop=stop,
        )
    finally:
        rp.run_once = rp_run_once

    assert set(ticks[0]) == {
        "downloaded", "processed", "tables", "compacted", "seconds", "failed"
    }
    assert ticks[0]["failed"] == []
    assert set(ticks[0]["seconds"]) == set(rp.PHASES)
    assert all(v >= 0.0 for v in ticks[0]["seconds"].values())
    assert ticks[0]["processed"] == 1
    assert ticks[1]["processed"] == 1  # the swept-in file, next tick
    # ``tables`` is the table's footer row total after the ingest
    assert ticks[1]["tables"]["FPP---UNIT_MW---1"] == 6
    assert ticks[2]["processed"] == 0  # ledger idempotence holds
    assert ticks[2]["tables"] == {}
    table = work / "parquet" / "FPP---UNIT_MW---1"
    assert spark.read.parquet(str(table)).count() == 6
    assert (table / "date=2022-07-21").is_dir()

    # the processed ledger recorded each file once
    from nemscraper_spark.plans.history import TableHistory

    led = TableHistory(spark, str(work / "history"), "processed")
    assert sorted(r.filename for r in led.read().collect()) == [
        "PUBLIC_DISPATCHIS_20220720_0001.zip",
        "PUBLIC_DISPATCHIS_20220721_0001.zip",
    ]
    # and every tick vacuumed it: one file per ledger partition
    for part in glob.glob(os.path.join(led.path, "date=*")):
        assert len(glob.glob(os.path.join(part, "*.parquet"))) == 1


def test_bad_zips_do_not_stall_the_tick(spark, tmp_path):
    """A tick whose landing dir holds one good, one half-truncated and
    one zero-byte ZIP ingests the good one with its D-rows conserved,
    lists each bad file once with its reason and leaves it out of the
    processed ledger; the next tick ingests a newly landed good ZIP."""
    import json

    from nemscraper_spark.plans.history import TableHistory
    from nemscraper_spark.sources import fsutil

    work = tmp_path / "work"
    zips = work / "zips"
    zips.mkdir(parents=True)

    def _drop(name):
        with zipfile.ZipFile(zips / name, "w", zipfile.ZIP_DEFLATED) as zf:
            zf.writestr(name.replace(".zip", ".CSV"), NEM_CSV)

    _drop("PUBLIC_DISPATCHIS_20220720_0001.zip")
    _drop("PUBLIC_DISPATCHIS_20220720_0002.zip")
    whole = (zips / "PUBLIC_DISPATCHIS_20220720_0002.zip").read_bytes()
    (zips / "PUBLIC_DISPATCHIS_20220720_0002.zip").write_bytes(whole[: len(whole) // 2])
    (zips / "PUBLIC_DISPATCHIS_20220720_0003.zip").write_bytes(b"")
    bad = {"PUBLIC_DISPATCHIS_20220720_0002.zip", "PUBLIC_DISPATCHIS_20220720_0003.zip"}
    d_rows = sum(line.startswith("D,") for line in NEM_CSV.splitlines())
    table = str(work / "parquet" / "FPP---UNIT_MW---1")

    s1 = run_once(spark, str(work), [], None)
    json.dumps(s1)  # the tick line
    assert s1["processed"] == 1
    assert sorted(f["filename"] for f in s1["failed"]) == sorted(bad)
    assert all("BadZipFile" in f["reason"] for f in s1["failed"])
    assert all(f["phase"] == "ingest" for f in s1["failed"])
    landed = sum(fsutil.parquet_rows(str(t)) for t in (work / "parquet").iterdir())
    assert landed == d_rows
    led = TableHistory(spark, str(work / "history"), "processed")
    assert led.keys() == {"PUBLIC_DISPATCHIS_20220720_0001.zip"}

    _drop("PUBLIC_DISPATCHIS_20220721_0001.zip")
    s2 = run_once(spark, str(work), [], None)
    assert s2["processed"] == 1
    assert sorted(f["filename"] for f in s2["failed"]) == sorted(bad)  # retried
    landed = sum(fsutil.parquet_rows(str(t)) for t in (work / "parquet").iterdir())
    assert landed == 2 * d_rows
    assert os.path.isdir(os.path.join(table, "date=2022-07-21"))
    assert led.keys() == {
        "PUBLIC_DISPATCHIS_20220720_0001.zip", "PUBLIC_DISPATCHIS_20220721_0001.zip"
    }


def test_dead_feed_does_not_stop_the_loop(spark, tmp_path, monkeypatch):
    """Two run_loop ticks over one unreadable and one live feed listing:
    each tick lists the dead feed under ``failed`` with phase "poll" and
    still downloads and ingests the live feed's new ZIP."""
    import run_pipeline as rp

    from nemscraper_spark.sources import fetch

    monkeypatch.setattr(fetch, "FEED_RETRY_DELAY_S", 0.0)
    live = _make_feed(tmp_path)
    dead = (tmp_path / "no_such_listing.html").as_uri()
    feed_dir = tmp_path / "feed"
    ticks = []

    def _spy(*a, **kw):
        s = run_once(*a, **kw)
        ticks.append(s)
        if len(ticks) == 1:  # the live feed publishes its next ZIP
            z = feed_dir / "PUBLIC_DISPATCHIS_20220721_0001.zip"
            with zipfile.ZipFile(z, "w") as zf:
                zf.writestr("PUBLIC_DISPATCHIS_202207211800.CSV", NEM_CSV)
            listing = feed_dir / "listing.html"
            listing.write_text(listing.read_text() + f'<a href="{z.name}">z</a>')
        return s

    monkeypatch.setattr(rp, "run_once", _spy)
    run_loop(spark, str(tmp_path / "work"), [dead, live], None, extra_ticks=1, interval_sec=0.0)

    assert [t["downloaded"] for t in ticks] == [1, 1]
    assert [t["processed"] for t in ticks] == [1, 1]
    for t in ticks:
        assert [(f["filename"], f["phase"]) for f in t["failed"]] == [(dead, "poll")]
        assert "URLError" in t["failed"][0]["reason"]


def test_sigterm_stops_loop_gracefully(spark, tmp_path):
    """SIGTERM mid-loop: the in-flight tick completes (ledger stays
    consistent with parquet on disk) and no further tick starts."""
    import os as _os
    import signal as _signal
    import threading

    work = tmp_path / "work"
    zips = work / "zips"
    zips.mkdir(parents=True)
    with zipfile.ZipFile(zips / "PUBLIC_DISPATCHIS_20220720_0001.zip", "w") as zf:
        zf.writestr("PUBLIC_DISPATCHIS_202207201800.CSV", NEM_CSV)

    # fire SIGTERM while the loop sleeps between ticks
    timer = threading.Timer(
        0.3, lambda: _os.kill(_os.getpid(), _signal.SIGTERM)
    )
    timer.start()
    try:
        summaries = run_loop(
            spark, str(work), [], None, extra_ticks=1000, interval_sec=0.5
        )
    finally:
        timer.cancel()

    # stopped long before 1001 ticks; the completed tick ingested the zip
    assert 1 <= len(summaries) <= 3
    assert summaries[0]["processed"] == 1
    # ledger agrees with disk: nothing left to do on a fresh tick
    s_next = run_once(spark, str(work), [], None)
    assert s_next["processed"] == 0
    # pytest's own handlers are restored
    assert _signal.getsignal(_signal.SIGTERM) is not None


def test_mirror_sink_rsync_semantics(tmp_path):
    """S15 mirror (sources/sync.py): incremental copy, tmp/staging
    exclusion, unmatched-destination deletion, torn-object safety —
    the gcloud-sync.sh contract on a file:// destination."""
    from nemscraper_spark.sources.sync import mirror_tree

    src = tmp_path / "src"
    (src / "T1" / "date=2022-07-20").mkdir(parents=True)
    (src / "T1" / "date=2022-07-20" / "a.parquet").write_bytes(b"AAAA")
    (src / "T1" / "date=2022-07-20" / "junk.tmp").write_bytes(b"X")
    (src / "T1" / ".staging-x" / "b.parquet").mkdir(parents=True, exist_ok=True)
    dst = f"file://{tmp_path}/dst"

    s1 = mirror_tree(str(src), dst)
    assert s1 == {"copied": 1, "skipped": 0, "deleted": 0}
    assert (tmp_path / "dst" / "T1" / "date=2022-07-20" / "a.parquet").read_bytes() == b"AAAA"
    # excluded: tmp file and dot-staging dir never ship
    assert not (tmp_path / "dst" / "T1" / "date=2022-07-20" / "junk.tmp").exists()
    assert not (tmp_path / "dst" / "T1" / ".staging-x").exists()

    # idempotent second pass
    assert mirror_tree(str(src), dst) == {"copied": 0, "skipped": 1, "deleted": 0}

    # size change -> recopy; removed source -> destination delete
    (src / "T1" / "date=2022-07-20" / "a.parquet").write_bytes(b"BBBBBB")
    (tmp_path / "dst" / "T1" / "stale.parquet").write_bytes(b"OLD")
    s3 = mirror_tree(str(src), dst)
    assert s3 == {"copied": 1, "skipped": 0, "deleted": 1}
    assert (tmp_path / "dst" / "T1" / "date=2022-07-20" / "a.parquet").read_bytes() == b"BBBBBB"
    assert not (tmp_path / "dst" / "T1" / "stale.parquet").exists()


def test_pipeline_tick_mirrors_compacted_tree(spark, tmp_path):
    """--mirror: after ingest+compaction the tick ships the parquet
    tree to the destination URI; a second tick ships nothing."""
    work = tmp_path / "work"
    zips = work / "zips"
    zips.mkdir(parents=True)
    with zipfile.ZipFile(zips / "PUBLIC_DISPATCHIS_20220720_0001.zip", "w") as zf:
        zf.writestr("PUBLIC_DISPATCHIS_202207201800.CSV", NEM_CSV)
    dst = f"file://{tmp_path}/bucket"

    s1 = run_once(spark, str(work), [], None, mirror=dst)
    assert s1["mirror"]["copied"] >= 1
    mirrored = spark.read.parquet(
        f"{tmp_path}/bucket/FPP---UNIT_MW---1"
    )
    assert mirrored.count() == 3

    s2 = run_once(spark, str(work), [], None, mirror=dst)
    assert s2["mirror"]["copied"] == 0
    assert s2["mirror"]["deleted"] == 0


def test_tick_leaves_every_partition_at_rest(spark, tmp_path):
    """After two ticks over a landing dir whose files span two dates,
    every data file under parquet/ is in the one at-rest layout: the
    rest codec, fields sorted by name, one row group. ``date=2022-07-20``
    is written by one tick only; ``date=2022-07-21`` by both ticks, so
    the second tick compacts its two files."""
    import pyarrow.parquet as pq

    work = tmp_path / "work"
    zips = work / "zips"
    zips.mkdir(parents=True)

    def _drop(day, seq):
        with zipfile.ZipFile(zips / f"PUBLIC_DISPATCHIS_{day}_000{seq}.zip", "w") as zf:
            zf.writestr(f"PUBLIC_DISPATCHIS_{day}1800.CSV", NEM_CSV)

    _drop("20220720", 1)
    _drop("20220721", 1)
    run_once(spark, str(work), [], None)
    _drop("20220721", 2)
    s2 = run_once(spark, str(work), [], None)
    table = os.path.join(str(work), "parquet", "FPP---UNIT_MW---1")
    assert list(s2["compacted"]["FPP---UNIT_MW---1"]) == [os.path.join(table, "date=2022-07-21")]

    files = glob.glob(os.path.join(str(work), "parquet", "*", "date=*", "*.parquet"))
    assert {os.path.basename(os.path.dirname(f)) for f in files} == {
        "date=2022-07-20",
        "date=2022-07-21",
    }
    codec = os.environ.get("SPARK_GRAFT_REST_CODEC", "zstd").upper()
    for f in files:
        md = pq.ParquetFile(f).metadata
        names = md.schema.to_arrow_schema().names
        assert names == sorted(names), f
        assert md.num_row_groups == 1, f
        assert {md.row_group(0).column(c).compression for c in range(md.num_columns)} == {codec}, f

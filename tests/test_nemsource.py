"""The nemcsv Python DataSource connector (sources/nemsource.py) must
parse the I/D grammar identically to the mapInPandas splitter and plan
one input partition per ZIP member / raw CSV."""

from __future__ import annotations

import os
import zipfile

from nemscraper_spark.queries.ingest_ops import _NEM_CSV
from nemscraper_spark.sources.nemsource import nem_csv_data_source, register


def _expected_d_lines() -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    key = None
    for line in _NEM_CSV.split("\r\n"):
        if line.startswith("I"):
            f = line.split(",")
            key = "---".join(f[1:4])
        elif line.startswith("D") and key:
            out.setdefault(key, []).append(line)
    return out


def test_connector_matches_grammar_and_partitions(spark, tmp_path):
    # two zips (one with two members) + one raw csv = 4 partitions
    with zipfile.ZipFile(tmp_path / "a.zip", "w") as zf:
        zf.writestr("A_1.CSV", _NEM_CSV)
        zf.writestr("A_2.CSV", _NEM_CSV)
    with zipfile.ZipFile(tmp_path / "b.zip", "w") as zf:
        zf.writestr("B_1.CSV", _NEM_CSV)
    (tmp_path / "c.csv").write_text(_NEM_CSV)

    register(spark)
    df = spark.read.format("nemcsv").load(str(tmp_path))

    reader = nem_csv_data_source()({"path": str(tmp_path)}).reader(None)
    assert len(reader.partitions()) == 4

    expected = _expected_d_lines()
    rows = df.collect()
    # every copy contributes the full grammar: 4 sources x 5 D-lines
    assert len(rows) == 4 * sum(len(v) for v in expected.values())
    for r in rows:
        assert r.line in expected[r.table_key]
        assert r.headers.count("\x1f") >= 3  # joined header names
    per_src = {}
    for r in rows:
        per_src.setdefault(r.src_file, []).append(r.line)
    assert set(per_src) == {"A_1.CSV", "A_2.CSV", "B_1.CSV", "c.csv"}
    flat_expected = sorted(l for v in expected.values() for l in v)
    for lines in per_src.values():
        assert sorted(lines) == flat_expected


def test_connector_drops_pre_i_and_c_rows(spark, tmp_path):
    txt = "\r\n".join(
        [
            "C,NEMP.WORLD,header,row",
            "D,FPP,ORPHAN,1,dropped,before,any,I,row",
            "DUMMY,not,a,data,row",  # 'D' but not 'D,' — must drop
            "I,T,S,1,H1,H2",
            "D,T,S,1,a,b",
            "I,short",  # malformed I row: previous block CONTINUES
            "D,T,S,1,c,d",
            'C,"END OF REPORT",1',
        ]
    )
    (tmp_path / "x.csv").write_text(txt)
    register(spark)
    rows = spark.read.format("nemcsv").load(str(tmp_path / "x.csv")).collect()
    assert [(r.table_key, r.line) for r in rows] == [
        ("T---S---1", "D,T,S,1,a,b"),
        ("T---S---1", "D,T,S,1,c,d"),  # survived the short I row
    ]


def test_connector_matches_splitter_on_malformed_grammar(spark, tmp_path):
    """The connector's line layer must equal the D-lines of the
    segmenter that ingest tokenizes, on grammar edge cases — the
    'exactly the same intermediate' contract."""
    txt = "\r\n".join(
        [
            "C,head,er",
            "D,PRE,I,1,orphan",
            'I,A,B,1,"H,1",H2',  # quoted header containing a comma
            "D,A,B,1,x",
            "I,bad",  # short -> previous block continues
            "D,A,B,1,y",
            "I,C,D,2,H3",
            "D,C,D,2,z",
            # line-break characters other than \n inside a quoted field
            'D,C,D,2,"form\x0cfeed"',
            'D,C,D,2,"line\u2028sep"',
        ]
    )
    (tmp_path / "m.csv").write_bytes(txt.encode("utf-8"))
    register(spark)
    got = sorted(
        (r.table_key, r.headers, r.line)
        for r in spark.read.format("nemcsv").load(str(tmp_path / "m.csv")).collect()
    )
    from nemscraper_spark.sources.nemcsv import nem_segmenter

    want = sorted(
        (key, headers, line)
        for key, headers, body in nem_segmenter()(txt)
        for line in body.split("\r\n")
        if line.startswith("D,")
    )
    assert got == want
    assert ("A---B---1", "H,1\x1fH2", "D,A,B,1,y") in got
    for row in ('D,C,D,2,"form\x0cfeed"', 'D,C,D,2,"line\u2028sep"'):
        assert ("C---D---2", "H3", row) in got
        assert ("C---D---2", "H3", row) in want


def test_connector_empty_dir_yields_empty_frame(spark, tmp_path):
    (tmp_path / "notes.txt").write_text("not nem data")
    register(spark)
    df = spark.read.format("nemcsv").load(str(tmp_path))
    assert df.count() == 0
    assert df.columns == ["src_file", "table_key", "headers", "line"]


def _zip_fixture(landing, stem):
    with zipfile.ZipFile(os.path.join(landing, f"{stem}_0001.zip"), "w") as zf:
        zf.writestr(f"{stem}.CSV", _NEM_CSV)


def test_stream_reader_exactly_once_across_restart(spark, tmp_path):
    """The filename-offset stream reader must (a) pick up files that
    arrive between microbatches, (b) never reprocess a consumed file,
    and (c) resume from the checkpoint after a stop/start without
    duplicating or skipping — the exactly-once contract the
    reference's re-enqueue sweep provides via its history table."""
    register(spark)
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    _zip_fixture(str(landing), "PUBLIC_A_20220720")

    def start():
        # parquet sink: fault-tolerant, so the restart genuinely
        # resumes from the checkpoint (the memory sink refuses
        # recovery by design)
        return (
            spark.readStream.format("nemcsv")
            .load(str(landing))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
        assert spark.read.parquet(out).count() == 5
        _zip_fixture(str(landing), "PUBLIC_B_20220721")
        q.processAllAvailable()
        assert spark.read.parquet(out).count() == 10
    finally:
        q.stop()

    # restart from the checkpoint: a third file lands while down; the
    # resumed stream must append exactly its 5 rows — reprocessing A/B
    # would show 20+, skipping C would stay at 10
    _zip_fixture(str(landing), "PUBLIC_C_20220722")
    q = start()
    try:
        q.processAllAvailable()
        rows = spark.read.parquet(out).collect()
        assert len(rows) == 15
        by_src = {}
        for r in rows:
            by_src[r.src_file] = by_src.get(r.src_file, 0) + 1
        assert by_src == {
            "PUBLIC_A_20220720.CSV": 5,
            "PUBLIC_B_20220721.CSV": 5,
            "PUBLIC_C_20220722.CSV": 5,
        }
    finally:
        q.stop()


def test_stream_reader_batch_parity(spark, tmp_path):
    """A bounded availableNow drain of the stream reader must equal the
    batch connector's scan row-for-row on the same landing dir."""
    register(spark)
    landing = tmp_path / "landing"
    landing.mkdir()
    _zip_fixture(str(landing), "PUBLIC_A_20220720")
    _zip_fixture(str(landing), "PUBLIC_B_20220721")
    q = (
        spark.readStream.format("nemcsv")
        .load(str(landing))
        .writeStream.format("memory")
        .queryName("nem_stream_parity_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        map(tuple, spark.table("nem_stream_parity_test").collect())
    )
    want = sorted(
        map(tuple, spark.read.format("nemcsv").load(str(landing)).collect())
    )
    assert got == want and len(got) == 10


def test_bad_zip_is_skipped_by_batch_and_stream_scans(spark, sf_dir, tmp_path):
    """A zero-byte ZIP beside a good one is skipped at planning time, as
    ingest skips it: the batch scan and an availableNow drain of the
    stream reader both return the good ZIP's D-lines."""
    from nemscraper_spark.queries.streaming_ops import _drain

    register(spark)
    landing = tmp_path / "landing"
    landing.mkdir()
    _zip_fixture(str(landing), "PUBLIC_A_20220720")
    (landing / "PUBLIC_B_20220721_0001.zip").write_bytes(b"")
    want = sorted(l for v in _expected_d_lines().values() for l in v)

    batch = spark.read.format("nemcsv").load(str(landing)).collect()
    assert sorted(r.line for r in batch) == want
    assert {r.src_file for r in batch} == {"PUBLIC_A_20220720.CSV"}
    stream = spark.readStream.format("nemcsv").load(str(landing))
    drained = _drain(stream, "nem_bad_zip_test", sf_dir).collect()
    assert sorted(map(tuple, drained)) == sorted(map(tuple, batch))

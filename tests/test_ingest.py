"""NEM-CSV ingest path: splitter grammar, type inference, conservation
invariant, schema evolution, compaction, history ledgers.

Fixture mirrors FIXTURES.md §A (and the reference's own E2E harness,
src/bin/test_processing.rs): ground truth = count of D lines; invariant
= D-rows == parquet rows, plus the inference edge cases the reference's
test tool checks (numeric-looking strings, quoted values).
"""

from __future__ import annotations

import glob
import os
import re
import zipfile

import pytest

from nemscraper_spark.plans.compact import compact_partition, partitions_needing_compaction
from nemscraper_spark.plans.history import TableHistory
from nemscraper_spark.sources import fsutil
from nemscraper_spark.sources.nemcsv import ingest, infer_types
from nemscraper_spark.sources.evolve import (
    arrow_cast,
    evolved_schema,
    read_evolved,
    written_schema,
)

NEM_CSV = "\r\n".join(
    [
        "C,NEMP.WORLD,DISPATCHIS,AEMO,PUBLIC,2022/07/20,18:00:00,0000000367313233,,",
        "I,FPP,UNIT_MW,1,MEASUREMENT_DATETIME,FPP_UNITID,PARTICIPANTID,MEASURED_MW,SCHEDULED_MW,MW_QUALITY_FLAG,CODEISH",
        'D,FPP,UNIT_MW,1,"2025/06/01 00:00:04",ARWF1,ARWF,101.5,100.0,1,0423X',
        'D,FPP,UNIT_MW,1,"2025/06/01 00:00:08",ARWF1,ARWF,102.5,100.0,1,7',
        'D,FPP,UNIT_MW,1,"2025/06/01 00:00:12",  "BDRW1"  ,BDRW,55.25,,1,9',
        "I,FPP,REGION_FREQ_MEASURE,1,MEASUREMENT_DATETIME,REGIONID,FREQ_DEVIATION_HZ,HZ_QUALITY_FLAG",
        'D,FPP,REGION_FREQ_MEASURE,1,"2025/06/01 00:00:04",NSW1,-0.01,1',
        'D,FPP,REGION_FREQ_MEASURE,1,"2025/06/01 00:00:08",NSW1,0.02,1',
        # same I header again later in the file → same table, new batch
        "I,FPP,UNIT_MW,1,MEASUREMENT_DATETIME,FPP_UNITID,PARTICIPANTID,MEASURED_MW,SCHEDULED_MW,MW_QUALITY_FLAG,CODEISH",
        'D,FPP,UNIT_MW,1,"2025/06/01 00:05:00",ARWF1,ARWF,99.0,100.0,1,8',
        'C,"END OF REPORT",11',
    ]
)
D_ROWS_TOTAL = 6
D_ROWS_UNIT_MW = 4


@pytest.fixture(scope="module")
def landing(tmp_path_factory):
    d = tmp_path_factory.mktemp("landing")
    with zipfile.ZipFile(
        d / "PUBLIC_DISPATCHIS_20220720_0000000367313233.zip", "w"
    ) as zf:
        zf.writestr("PUBLIC_DISPATCHIS_202207201800.CSV", NEM_CSV)
    return str(d)


@pytest.fixture(scope="module")
def ingested(spark, landing, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("parquet"))
    counts = ingest(spark, landing, out)
    return out, counts


def test_conservation_invariant(ingested):
    """verify.rs:56-133: Σ D-rows == Σ parquet rows, per table and total."""
    _, counts = ingested
    assert counts["FPP---UNIT_MW---1"] == D_ROWS_UNIT_MW
    assert counts["FPP---REGION_FREQ_MEASURE---1"] == 2
    assert sum(counts.values()) == D_ROWS_TOTAL


def test_table_naming_and_partition(ingested):
    """chunk.rs:77-82 table name = fields 1-3 joined '---';
    chunk.rs:258-308 date= from FILENAME (2022-07-20, not row dates)."""
    out, _ = ingested
    parts = glob.glob(os.path.join(out, "FPP---UNIT_MW---1", "date=*"))
    assert [os.path.basename(p) for p in parts] == ["date=2022-07-20"]


def test_type_inference_and_cleaning(spark, ingested):
    """chunk.rs:85-130 first-non-null inference; 21-28 clean_str;
    336-345 first 4 CSV cols dropped. CODEISH starts '0423X' (non-
    numeric first value) → stays string even though later values parse."""
    out, _ = ingested
    df = spark.read.parquet(os.path.join(out, "FPP---UNIT_MW---1"))
    types = dict(df.dtypes)
    assert types["MEASUREMENT_DATETIME"] == "timestamp"
    assert types["MEASURED_MW"] == "double"
    assert types["CODEISH"] == "string"  # single-value sampling semantics
    assert types["FPP_UNITID"] == "string"
    assert "I" not in types and "FPP" not in types  # marker cols dropped
    units = {r.FPP_UNITID for r in df.select("FPP_UNITID").collect()}
    assert "BDRW1" in units  # quotes + spaces stripped
    # empty SCHEDULED_MW cell → null, not 0
    row = df.filter(df.FPP_UNITID == "BDRW1").first()
    assert row.SCHEDULED_MW is None
    assert row.MEASURED_MW == 55.25


def test_infer_types_unit():
    import pyarrow as pa

    samples = {
        "a": "1.5",
        "b": "2025/06/01 00:00:04",
        "c": "x1",
        "d": None,
        "e": "7",
        # strptime takes a one-digit month and float() an underscore;
        # the cast gives null for both, so neither may pick its type
        "f": "2022/7/20 18:00:00",
        "g": "1_000",
    }
    plan = infer_types(samples)
    assert plan == {
        "a": "double",
        "b": "timestamp",
        "c": "string",
        "d": "string",
        "e": "double",
        "f": "string",
        "g": "string",
    }
    # the value that chose a column's type survives that type's cast
    text = pa.table({c: pa.array([v], pa.string()) for c, v in samples.items()})
    cast = arrow_cast(text, written_schema(plan), "UTC")
    assert all(cast.column(c)[0].is_valid for c, v in samples.items() if v is not None)


def test_evolved_schema_lattice(spark, tmp_path):
    """compactor.rs:230-256: Utf8 < Float64, Utf8 < Timestamp; union of
    fields; missing columns null-filled — the case where Spark's
    mergeSchema throws."""
    a = tmp_path / "a.parquet"
    b = tmp_path / "b.parquet"
    spark.createDataFrame(
        [("1.5", "x")], "MARGINALVALUE string, ONLY_A string"
    ).write.parquet(str(a))
    spark.createDataFrame(
        [(2.5,)], "MARGINALVALUE double"
    ).write.parquet(str(b))
    files = glob.glob(str(a / "*.parquet")) + glob.glob(str(b / "*.parquet"))

    # plain mergeSchema must fail on string-vs-double → we need the resolver
    with pytest.raises(Exception):
        spark.read.option("mergeSchema", "true").parquet(str(a), str(b)).collect()

    target = evolved_schema(files)
    assert str(target["MARGINALVALUE"]) == "double"
    df = read_evolved(spark, files)
    rows = sorted(df.collect(), key=lambda r: r.MARGINALVALUE)
    assert [r.MARGINALVALUE for r in rows] == [1.5, 2.5]
    assert rows[0].ONLY_A == "x" and rows[1].ONLY_A is None


def test_read_evolved_groups_by_field_set(spark, tmp_path, monkeypatch):
    """Files with the same fields in different column orders are one
    group: one ``DataFrameReader.parquet`` call reads the rows of both."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameReader

    pq.write_table(pa.table({"K": [1, 2], "V": ["x", "y"]}), tmp_path / "a.parquet")
    pq.write_table(pa.table({"V": ["z"], "K": [3]}), tmp_path / "b.parquet")
    calls = []
    parquet = DataFrameReader.parquet

    def counted(self, *paths, **options):
        calls.append(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", counted)
    files = [str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")]
    got = sorted(tuple(r) for r in read_evolved(spark, files).select("K", "V").collect())
    assert got == [(1, "x"), (2, "y"), (3, "z")]
    assert len(calls) == 1


def test_read_evolved_rejects_no_files(spark):
    with pytest.raises(ValueError, match="no files given"):
        read_evolved(spark, [])


@pytest.mark.parametrize("ntz", ["true", "false"])
def test_footer_types_match_spark_inference(spark, tmp_path, ntz):
    """The Spark types read_evolved builds from a footer are the ones
    Spark's own schema inference gives, name for name: for every type
    the compactor writes (evolve._WRITTEN) plus string, for a Spark
    file (INT96 timestamps, int), and for naive timestamps, dates and
    decimals. A type with no mapping raises a TypeError naming it."""
    import datetime
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    from nemscraper_spark.sources import evolve

    pq.write_table(
        pa.table({
            "TS": pa.array([0], pa.timestamp("us", tz="UTC")),
            "D": [1.5], "L": [1], "B": [True], "S": ["x"],
        }),
        tmp_path / "written.parquet",
    )
    spark.sql(
        "SELECT TIMESTAMP '2025-06-01 00:00:00' AS TS, 1 AS I, 'x' AS S"
    ).coalesce(1).write.parquet(str(tmp_path / "spark"))
    pq.write_table(
        pa.table({
            "NAIVE": pa.array([0], pa.timestamp("us")),
            "TZ": pa.array([0], pa.timestamp("ms", tz="+10:00")),
            "DAY": pa.array([datetime.date(2025, 6, 1)], pa.date32()),
            "DEC": pa.array([decimal.Decimal("1.25")], pa.decimal128(5, 2)),
            "LS": pa.array(["x"], pa.large_string()),
        }),
        tmp_path / "other.parquet",
    )
    files = [str(tmp_path / "written.parquet"), str(tmp_path / "other.parquet")]
    files += glob.glob(str(tmp_path / "spark" / "*.parquet"))
    prev = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", ntz)
    try:
        for f, (arrow, parquet) in zip(files, evolve._footers(files)):
            got = evolve._spark_types(f, arrow, parquet, ntz == "true")
            want = {fld.name: fld.dataType for fld in spark.read.parquet(f).schema}
            assert got == want, f
    finally:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", prev)

    for name, t in (("U", pa.uint32()), ("NS", pa.timestamp("ns"))):
        f = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table({"K": [1], name: pa.array([1], t)}), f)
        with pytest.raises(TypeError, match=re.escape(f"'{name}' of {f}")):
            read_evolved(spark, [f])


def _count_parquet_reads(monkeypatch):
    from pyspark.sql.readwriter import DataFrameReader

    calls = []
    parquet = DataFrameReader.parquet

    def counted(self, *paths, **options):
        calls.append(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", counted)
    return calls


def test_read_evolved_starts_no_job_and_scans_once(spark, tmp_path, monkeypatch):
    """Over a 6-column and a 7-column file of one table, constructing
    read_evolved starts no Spark job and takes one scan (the missing
    column is null-filled). A control job in another group proves the
    tracker has seen every earlier job. String vs double takes two
    scans and still evolves as test_evolved_schema_lattice expects."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    six = {
        "FPP_UNITID": ["U1"], "MEASURED_MW": [1.5], "MW_QUALITY_FLAG": [1],
        "PARTICIPANTID": ["P"], "SCHEDULED_MW": [2.0],
        "MEASUREMENT_DATETIME": pa.array([0], pa.timestamp("us", tz="UTC")),
    }
    pq.write_table(pa.table(six), tmp_path / "six.parquet")
    seven = {**six, "FPP_UNITID": ["U2"], "AVAILABLE_MW": [3.0]}
    pq.write_table(pa.table(seven), tmp_path / "seven.parquet")
    files = [str(tmp_path / "six.parquet"), str(tmp_path / "seven.parquet")]

    calls = _count_parquet_reads(monkeypatch)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("read", "read_evolved")
        df = read_evolved(spark, files)
        sc.setJobGroup("control", "one job")
        spark.range(3).collect()
        for _ in range(100):
            if tracker.getJobIdsForGroup("control"):
                break
            time.sleep(0.05)
        assert tracker.getJobIdsForGroup("control")
        assert tracker.getJobIdsForGroup("read") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(calls) == 1
    got = sorted(tuple(r) for r in df.select("FPP_UNITID", "AVAILABLE_MW", "MEASURED_MW").collect())
    assert got == [("U1", None, 1.5), ("U2", 3.0, 1.5)]

    pq.write_table(pa.table({"MARGINALVALUE": ["1.5"], "ONLY_A": ["x"]}), tmp_path / "a.parquet")
    pq.write_table(pa.table({"MARGINALVALUE": [2.5]}), tmp_path / "b.parquet")
    calls.clear()
    df = read_evolved(spark, [str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")])
    assert len(calls) == 2
    rows = sorted(df.collect(), key=lambda r: r.MARGINALVALUE)
    assert [r.MARGINALVALUE for r in rows] == [1.5, 2.5]
    assert rows[0].ONLY_A == "x" and rows[1].ONLY_A is None


def _jobs_started_by(spark, fn):
    """``fn()``'s result and the ids of the Spark jobs it started. A
    control job run after it in another group proves the tracker has
    seen every earlier job (the listener bus delivers in order)."""
    import time

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("under-test", "fn")
        out = fn()
        sc.setJobGroup("control", "one job")
        spark.range(3).collect()
        for _ in range(100):
            if tracker.getJobIdsForGroup("control"):
                break
            time.sleep(0.05)
        assert tracker.getJobIdsForGroup("control")
        return out, tracker.getJobIdsForGroup("under-test")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_read_evolved_lists_many_files_without_a_job(spark, tmp_path):
    """Over more files than Spark's parallel-listing threshold (32), one
    group's scan is still listed on the driver: constructing
    read_evolved starts no job, the rows are all there, and the
    session's threshold is left as it was."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    name = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    files = []
    for i in range(40):
        files.append(str(tmp_path / f"f{i:02d}.parquet"))
        pq.write_table(pa.table({"K": [i], "V": [i * 0.5]}), files[-1])
    prev = spark.conf.get(name, None)
    df, jobs = _jobs_started_by(spark, lambda: read_evolved(spark, files))
    assert jobs == []
    assert spark.conf.get(name, None) == prev
    assert sorted(tuple(r) for r in df.select("K", "V").collect()) == [
        (i, i * 0.5) for i in range(40)
    ]


def test_compaction(spark, ingested):
    """M4: many small files → 1 file per partition, rows preserved."""
    out, counts = ingested
    root = os.path.join(out, "FPP---UNIT_MW---1")
    part = os.path.join(root, "date=2022-07-20")
    before = spark.read.parquet(root).count()
    if len(glob.glob(os.path.join(part, "*.parquet"))) < 2:
        # force a second file so compaction has work
        spark.read.parquet(part).limit(0).write.mode("append").parquet(part)
    assert part in partitions_needing_compaction(root)
    compact_partition(spark, part)
    assert len(glob.glob(os.path.join(part, "*.parquet"))) == 1
    assert spark.read.parquet(root).count() == before


def test_compaction_rest_codec_flag(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_REST_CODEC overrides the at-rest codec (default
    zstd): a cluster with the parquet brotli jar matches the
    reference's brotli-5 format with one env var. Pinned with snappy —
    the only alternate codec guaranteed on this classpath — by reading
    the compacted footer's column codec via pyarrow."""
    import pyarrow.parquet as pq

    part = str(tmp_path / "t" / "date=2024-01-01")
    os.makedirs(part)
    spark.range(100).selectExpr("id", "id * 2 AS v").write.mode(
        "append"
    ).parquet(part)
    spark.range(50).selectExpr("id + 100 AS id", "id AS v").write.mode(
        "append"
    ).parquet(part)
    monkeypatch.setenv("SPARK_GRAFT_REST_CODEC", "snappy")
    assert compact_partition(spark, part) == 150
    files = glob.glob(os.path.join(part, "*.parquet"))
    assert len(files) == 1
    meta = pq.ParquetFile(files[0]).metadata
    codecs = {
        meta.row_group(g).column(c).compression
        for g in range(meta.num_row_groups)
        for c in range(meta.row_group(g).num_columns)
    }
    assert codecs == {"SNAPPY"}


def test_compact_table_parallel_partitions(spark, tmp_path):
    """compact_table's thread pool (the rayon-scope shape,
    compactor.rs:76-94): many partitions compact concurrently with the
    same end state as serial — one file and conserved rows each."""
    import zipfile

    from nemscraper_spark.plans.compact import compact_table
    from nemscraper_spark.sources.nemcsv import ingest

    landing = tmp_path / "landing"
    landing.mkdir()
    days = [f"2022072{i}" for i in range(6)]
    for day in days:
        with zipfile.ZipFile(landing / f"PUBLIC_X_{day}_0001.zip", "w") as zf:
            zf.writestr(f"PUBLIC_X_{day}.CSV", NEM_CSV.replace("20220720", day))
    out = str(tmp_path / "out")
    ingest(spark, str(landing), out)
    ingest(spark, str(landing), out)  # second append: 2 files/partition
    root = os.path.join(out, "FPP---UNIT_MW---1")
    before = spark.read.parquet(root).count()

    results = compact_table(spark, root, max_parallel=4)
    assert len(results) == len(days)
    for part in results:
        assert len(glob.glob(os.path.join(part, "*.parquet"))) == 1
    assert spark.read.parquet(root).count() == before


def test_history_dedup_and_vacuum(spark, tmp_path):
    """table_history.rs:188-275 semantics: add → vacuum → keys survive.
    (Cross-tick dedup is the service tick's: tests/test_pipeline_script.py.)"""
    h = TableHistory(spark, str(tmp_path), "downloaded")
    from datetime import datetime

    rows = [
        {"filename": "a.zip", "url": "u", "size_bytes": 10,
         "download_start": datetime(2024, 1, 1), "download_end": datetime(2024, 1, 1), "thread": 1},
        {"filename": "b.zip", "url": "u", "size_bytes": 20,
         "download_start": datetime(2024, 1, 2), "download_end": datetime(2024, 1, 2), "thread": 2},
    ]
    h.add(rows)
    # second add = the restart-and-rescan path
    h.add([dict(rows[0], filename="d.zip")])
    h.vacuum()
    for part in glob.glob(os.path.join(str(tmp_path), "downloaded", "date=*")):
        assert len(glob.glob(os.path.join(part, "*.parquet"))) == 1
    keys = {r.filename for r in h.read().collect()}
    assert keys == {"a.zip", "b.zip", "d.zip"}


def _ledger_files(h):
    """{partition dir: {file name: (size, mtime_ns)}} of a ledger."""
    return {
        part: {
            e.name: (e.stat().st_size, e.stat().st_mtime_ns)
            for e in os.scandir(part)
            if e.name.endswith(".parquet")
        }
        for part in glob.glob(os.path.join(h.path, "date=*"))
    }


def _row(name, day):
    from datetime import datetime

    ts = datetime(2024, 1, day, 12)
    return {"filename": name, "url": "u", "size_bytes": day, "download_start": ts,
            "download_end": ts, "thread": 1}


def test_history_file_uri_root(spark, tmp_path):
    """A ledger rooted at a file:// URI is found, read and vacuumed like
    one on a bare path."""
    h = TableHistory(spark, "file://" + str(tmp_path), "downloaded")
    h.add([_row("a.zip", 1)])
    h.add([_row("b.zip", 1)])
    h.vacuum()
    assert h.keys() == {"a.zip", "b.zip"}
    assert sorted(r.filename for r in h.read().collect()) == ["a.zip", "b.zip"]
    parts = glob.glob(os.path.join(str(tmp_path), "downloaded", "date=*"))
    assert len(parts) == 1
    for part in parts:
        assert len(glob.glob(os.path.join(part, "*.parquet"))) == 1


def test_history_vacuum_touches_only_multi_file_partitions(spark, tmp_path):
    """vacuum() leaves a one-file partition byte-identical and merges a
    two-file one; over N ticks it rewrites only the partition that
    received a file (table_history.rs:143-185)."""
    h = TableHistory(spark, str(tmp_path), "downloaded")
    h.add([_row("a1.zip", 1)])
    h.add([_row("b1.zip", 2)])
    h.add([_row("b2.zip", 2)])
    before = _ledger_files(h)
    part_a, part_b = (os.path.join(h.path, d) for d in ("date=20240101", "date=20240102"))
    assert len(before[part_a]) == 1 and len(before[part_b]) == 2
    h.vacuum()
    after = _ledger_files(h)
    assert after[part_a] == before[part_a]
    assert len(after[part_b]) == 1
    b_rows = spark.read.parquet(part_b).collect()
    assert sorted(r.filename for r in b_rows) == ["b1.zip", "b2.zip"]

    # three ticks into a moving date: each rewrites only the partition
    # that received a file (a new partition counts as received)
    for i, day in enumerate((1, 2, 3)):
        before = _ledger_files(h)
        h.add([_row(f"t{i}.zip", day)])
        h.vacuum()
        after = _ledger_files(h)
        changed = {p for p in after if after[p] != before.get(p)}
        assert changed == {os.path.join(h.path, f"date=202401{day:02d}")}
        assert all(len(files) == 1 for files in after.values())
    assert h.keys() == {"a1.zip", "b1.zip", "b2.zip", "t0.zip", "t1.zip", "t2.zip"}


def test_history_read_schema_is_the_same_empty_or_not(spark, tmp_path):
    """read() gives the declared fields whether the ledger is empty or
    holds rows (no discovered ``date`` partition column)."""
    empty = TableHistory(spark, str(tmp_path / "a"), "downloaded")
    full = TableHistory(spark, str(tmp_path / "b"), "downloaded")
    full.add([_row("a.zip", 1), _row("b.zip", 2)])
    assert empty.read().collect() == []
    assert len(full.read().collect()) == 2
    assert empty.read().schema == full.read().schema
    assert full.read().schema.fieldNames() == full.schema.fieldNames()


@pytest.mark.parametrize("name", ["downloaded", "processed"])
def test_history_reads_spark_written_ledger(spark, tmp_path, name):
    """A ledger written by Spark's parquet writer (INT96 timestamps,
    .crc sidecars, the layout older engine versions produced) keeps
    working: keys(), add() and vacuum() take it over with no row or
    timestamp lost. ``processed`` rows carry null timestamps, so they
    land in today's partition."""
    from datetime import datetime

    from pyspark.sql import functions as F

    h = TableHistory(spark, str(tmp_path), name)
    fields = h.schema.fieldNames()
    ts_col = fields[3]

    def row(fname, day):
        ts = datetime(2024, 1, day, 23, 30) if name == "downloaded" else None
        return (fname, None if name == "downloaded" else 7, day, ts, ts, day)

    old = [row("a.zip", 1), row("b.zip", 2)]
    for batch in (old[:1], old[1:]):
        (
            spark.createDataFrame(batch, h.schema)
            .withColumn(
                "date",
                F.date_format(F.coalesce(F.col(ts_col), F.current_timestamp()), "yyyyMMdd"),
            )
            .write.mode("append")
            .partitionBy("date")
            .parquet(h.path)
        )
    import pyarrow.parquet as pq

    spark_files = glob.glob(os.path.join(h.path, "date=*", "*.parquet"))
    assert str(pq.read_schema(spark_files[0]).field(ts_col).type) == "timestamp[ns]"  # INT96
    assert glob.glob(os.path.join(h.path, "date=*", ".*.crc"))
    assert h.keys() == {"a.zip", "b.zip"}
    new = [row("c.zip", 1), row("d.zip", 2)]
    h.add([dict(zip(fields, r)) for r in new])
    h.vacuum()

    got = sorted(tuple(r) for r in h.read().select(*fields).collect())
    assert got == sorted(old + new)
    assert h.keys() == {"a.zip", "b.zip", "c.zip", "d.zip"}
    for part in glob.glob(os.path.join(h.path, "date=*")):
        files = [f for f in os.listdir(part) if f.endswith(".parquet")]
        assert len(files) == 1
        crcs = [f for f in os.listdir(part) if f.endswith(".crc")]
        assert all(f[1:-len(".crc")] in files for f in crcs)


@pytest.fixture()
def multi_file_partition(spark, tmp_path):
    """A standalone date= partition with 3 small files (known rows)."""
    root = str(tmp_path / "TBL")
    part = os.path.join(root, "date=2022-07-20")
    for i in range(3):
        spark.createDataFrame(
            [(float(i * 10 + j), f"r{i}-{j}") for j in range(10)],
            "VALUE double, TAG string",
        ).coalesce(1).write.mode("append").parquet(part)
    return root, part


@pytest.mark.parametrize("crash_after", ["stage", "manifest", "move", "delete"])
def test_compaction_crash_safe(spark, multi_file_partition, crash_after):
    """compactor.rs:645-749 durability: a crash at ANY swap boundary
    loses nothing — every row stays readable mid-crash (possibly
    double-counted in the bounded manifest→delete window, never
    absent), and re-running compaction rolls the swap forward to the
    exact pre-crash answer."""
    root, part = multi_file_partition

    def rows(df):
        # column-order-insensitive (compaction normalizes column order
        # alphabetically, matching the reference's sorted-fields schema)
        return {frozenset(r.asDict().items()) for r in df.collect()}

    before = rows(spark.read.parquet(root))
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_partition(spark, part, _crash_after=crash_after)
    # mid-crash: no row lost (duplicates allowed in the swap window)
    assert rows(spark.read.parquet(root)) == before
    # footer counts hide what Spark hides (the staged copy)
    assert fsutil.parquet_rows(root) == spark.read.parquet(root).count()
    # recovery (implicit in the next compaction pass) converges
    compact_partition(spark, part)
    after_df = spark.read.parquet(root)
    assert rows(after_df) == before
    assert after_df.count() == len(before)
    assert len(glob.glob(os.path.join(part, "*.parquet"))) == 1
    assert not os.path.exists(os.path.join(part, "_COMPACT_MANIFEST.json"))
    assert not os.path.exists(
        os.path.join(
            os.path.dirname(part),
            ".compact_tmp_" + os.path.basename(part).replace("=", "-"),
        )
    )


def test_compaction_recompaction_no_name_collision(spark, multi_file_partition):
    """Second compaction: the previous compacted file is now a SOURCE;
    unique per-run output names keep the delete phase from removing
    the fresh output."""
    root, part = multi_file_partition
    before = {frozenset(r.asDict().items()) for r in spark.read.parquet(root).collect()}
    compact_partition(spark, part)
    # add one more small file, compact again
    import datetime

    spark.createDataFrame([(999.0, "late")], "VALUE double, TAG string").coalesce(
        1
    ).write.mode("append").parquet(part)
    compact_partition(spark, part)
    after = {frozenset(r.asDict().items()) for r in spark.read.parquet(root).collect()}
    late = frozenset(
        {"VALUE": 999.0, "TAG": "late", "date": datetime.date(2022, 7, 20)}.items()
    )
    assert after == before | {late}
    assert len(glob.glob(os.path.join(part, "*.parquet"))) == 1


def test_compaction_file_uri_root(spark, multi_file_partition):
    """Discovery + swap + conservation all work on a file:// URI root
    (object-store code path: pyarrow.fs, no glob/os/shutil)."""
    root, part = multi_file_partition
    uri_root = "file://" + root
    before = spark.read.parquet(root).count()
    parts = partitions_needing_compaction(uri_root)
    assert parts == ["file://" + part]
    rows = compact_partition(spark, parts[0])
    assert rows == before
    assert spark.read.parquet(root).count() == before
    assert len(glob.glob(os.path.join(part, "*.parquet"))) == 1
    from nemscraper_spark.sources import fsutil

    assert fsutil.parquet_rows(uri_root) == before


@pytest.fixture()
def ansi(spark):
    """ANSI mode on, as in a default Spark 4 session."""
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield
    spark.conf.set("spark.sql.ansi.enabled", prev)


@pytest.fixture()
def lattice_partition(spark, tmp_path):
    """A date= partition whose three files disagree on every column
    (compactor.rs:230-256, 409-479): NEM text beside a Spark (INT96)
    timestamp and a +10:00 timestamp, "abc" beside a double, int32
    beside int64, and V missing from one file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    part = tmp_path / "TBL" / "date=2025-06-01"
    part.mkdir(parents=True)
    pq.write_table(
        pa.table({
            "K": pa.array([1, 2, 3], pa.int32()),
            "TS": ["2025/06/01 00:00:05", ' "2025/06/01 00:00:10" ', "2025/02/30 00:00:00"],
            "V": ["abc", " 1.5", None],
        }),
        part / "a.parquet",
    )
    spark.sql(
        "SELECT 4L AS K, TIMESTAMP '2025-06-01 00:00:15' AS TS, 2.5D AS V"
    ).coalesce(1).write.mode("append").parquet(str(part))
    pq.write_table(
        pa.table({
            "K": pa.array([5], pa.int64()),
            # 2025-06-01 10:00:20 +10:00, as epoch ms
            "TS": pa.array([1748736020000], pa.timestamp("ms", tz="+10:00")),
        }),
        part / "c.parquet",
    )
    return str(part)


def test_compaction_evolves_lattice_under_ansi(spark, ansi, lattice_partition):
    """The lattice partition compacts to one file that Spark reads back
    typed, with non-parsing text (and the impossible 2025/02/30) as
    null — no CAST_INVALID_INPUT under ANSI."""
    part = lattice_partition
    assert compact_partition(spark, part) == 5
    files = glob.glob(os.path.join(part, "*.parquet"))
    assert len(files) == 1 and os.path.basename(files[0]).startswith("compacted-")
    df = spark.read.parquet(part)
    assert df.schema.simpleString() == "struct<K:bigint,TS:timestamp,V:double>"
    got = sorted(tuple(r) for r in df.selectExpr("K", "unix_seconds(TS)", "V").collect())
    t0 = 1748736000  # 2025-06-01 00:00:00 UTC, the session zone
    assert got == [
        (1, t0 + 5, None),
        (2, t0 + 10, 1.5),
        (3, None, None),
        (4, t0 + 15, 2.5),
        (5, t0 + 20, None),
    ]


def test_read_evolved_agrees_with_compaction(spark, ansi, lattice_partition):
    """read_evolved over the un-compacted partition returns what Spark
    reads from the compacted file, row for row, under ANSI."""
    part = lattice_partition
    files = glob.glob(os.path.join(part, "*.parquet"))
    before = sorted(read_evolved(spark, files).collect(), key=lambda r: r.K)
    compact_partition(spark, part)
    after = sorted(spark.read.parquet(part).collect(), key=lambda r: r.K)
    assert before == after


@pytest.mark.parametrize("tz", ["+10:00", "America/New_York"])
def test_compaction_takes_naive_timestamps_as_read_evolved_does(spark, ansi, tmp_path, tz):
    """A naive (non-INT96) parquet timestamp beside NEM text is a
    wall-clock time in the session zone, as Spark casts the
    ``timestamp_ntz`` it infers: read_evolved and the compacted file
    give the same instants (a New York DST-gap time moves later)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    part = tmp_path / "TBL" / "date=2025-06-01"
    part.mkdir(parents=True)
    pq.write_table(pa.table({"K": [1], "TS": ["2025/06/01 00:00:05"]}), part / "text.parquet")
    naive = [datetime.datetime(2025, 6, 1, 0, 0, 20), datetime.datetime(2025, 3, 9, 2, 30)]
    pq.write_table(
        pa.table({"K": [2, 3], "TS": pa.array(naive, pa.timestamp("us"))}), part / "naive.parquet"
    )
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        files = glob.glob(str(part / "*.parquet"))
        cols = ["K", "unix_seconds(TS)"]
        before = sorted(tuple(r) for r in read_evolved(spark, files).selectExpr(*cols).collect())
        compact_partition(spark, str(part))
        after = sorted(tuple(r) for r in spark.read.parquet(str(part)).selectExpr(*cols).collect())
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert after == before
    if tz == "+10:00":
        t0 = 1748736000 - 36000  # 2025-06-01 00:00:00 +10:00
        assert after[:2] == [(1, t0 + 5), (2, t0 + 20)]


def test_compact_partition_starts_no_spark_job(spark, multi_file_partition):
    """The rewrite runs on the driver. A control job run after it in
    another group proves the tracker has seen every earlier job (the
    listener bus delivers in order)."""
    import time

    _, part = multi_file_partition
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("compact", "compact_partition")
        compact_partition(spark, part)
        sc.setJobGroup("control", "one job")
        spark.range(3).collect()
        for _ in range(100):
            if tracker.getJobIdsForGroup("control"):
                break
            time.sleep(0.05)
        assert tracker.getJobIdsForGroup("control")
        assert tracker.getJobIdsForGroup("compact") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(glob.glob(os.path.join(part, "*.parquet"))) == 1


def test_compaction_leaves_no_source_litter(spark, multi_file_partition):
    """Each deleted source takes its Hadoop .crc sidecar with it: the
    one compacted file is the only parquet left, and no file is named
    after a source."""
    _, part = multi_file_partition
    sources = [f for f in os.listdir(part) if f.endswith(".parquet")]
    assert any(f == f".{s}.crc" for s in sources for f in os.listdir(part))
    compact_partition(spark, part)
    left = os.listdir(part)
    assert [f for f in left if f.endswith(".parquet")] == [
        f for f in left if f.startswith("compacted-")
    ]
    assert len([f for f in left if f.startswith("compacted-")]) == 1
    assert not [f for f in left if any(s in f for s in sources)]


@pytest.mark.parametrize("tz", ["UTC", "+10:00", "America/New_York"])
def test_text_parses_agree_with_spark(spark, ansi, tmp_path, tz):
    """The compactor's text parses (evolve.arrow_cast) give what Spark's
    try_cast / try_to_timestamp give in read_evolved, value for value,
    in a fixed-offset and a DST session zone (the gap and overlap
    times of 2025 in New York included)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = {
        "D": ["1.5", "+2", ".5", "5.", "1e5", "-1E-3", "inf", "-Infinity", "NaN",
              "abc", "", ' "3" ', "1e400", "0x10", "1,5"],
        "L": ["12", "+12", "-0", "1.0", "abc", "", ' "7" ', "9" * 20, "1e3"],
        "B": ["t", "TRUE", "yes", "y", "1", "f", "No", "0", "", "maybe"],
        "TS": ["2025/06/01 00:00:05", ' "2025/06/01 00:00:10" ', "2025/6/1 00:00:05",
               "2025/02/30 00:00:00", "2025/06/01 24:00:00", "2025-06-01 00:00:05",
               "2025/03/09 02:30:00", "2025/11/02 01:30:00", "abc", ""],
    }
    n = max(len(v) for v in texts.values())
    part = tmp_path / "date=2025-06-01"
    part.mkdir()
    pq.write_table(
        pa.table({"K": list(range(n)), **{c: v + [None] * (n - len(v)) for c, v in texts.items()}}),
        part / "text.parquet",
    )
    pq.write_table(
        pa.table({
            "K": [n], "D": [0.5], "L": [5], "B": [True],
            "TS": pa.array([0], pa.timestamp("us", tz="UTC")),
        }),
        part / "typed.parquet",
    )
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        files = glob.glob(str(part / "*.parquet"))
        cols = ["K", "B", "D", "L", "unix_seconds(TS)"]
        before = read_evolved(spark, files).selectExpr(*cols).collect()
        compact_partition(spark, str(part))
        after = spark.read.parquet(str(part)).selectExpr(*cols).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)

    def rows(rs):
        return sorted((r[0], *map(repr, r[1:])) for r in rs)

    assert rows(after) == rows(before)
    assert len(after) == n + 1


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_nem_timestamps_parse_as_strictly_as_spark(spark, tmp_path, tz):
    """arrow_cast's NEM timestamps are Spark's
    ``try_to_timestamp(clean_str(x), NEM_TS_FORMAT)``, value for value:
    out-of-range and one-digit fields, days past the month's end, leap
    days, an early year, a fraction, a sign, a non-ASCII digit, a
    space-padded hour, and 64k ordinary times spread over a year."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from nemscraper_spark.functions import clean_str
    from nemscraper_spark.functions.columns import NEM_TS_FORMAT
    from nemscraper_spark.sources.evolve import arrow_cast, written_schema

    odd = [
        "2025/06/01 00:60:00", "2025/06/01 00:00:60", "2025/13/01 00:00:00",
        "2025/00/10 00:00:00", "2025/06/00 00:00:00", "2025/04/31 00:00:00",
        "2024/02/29 00:00:00", "2025/02/29 00:00:00", "0999/01/01 00:00:00",
        "2025/06/01 00:00:05.5", "+2025/06/01 00:00:00", "2025/06/01 00:00:0\u0665",
        "\uff12025/06/01 00:00:00", "2025/06/01  5:00:00", ' "2025/06/01 00:00:05" ',
        "2025/06/01 23:59:59", "",
    ]
    t0 = datetime.datetime(2025, 1, 1)
    ordinary = [
        (t0 + datetime.timedelta(seconds=i * 487)).strftime("%Y/%m/%d %H:%M:%S")
        for i in range(64_000)
    ]
    texts = odd + ordinary
    f = str(tmp_path / "ts.parquet")
    pq.write_table(pa.table({"K": list(range(len(texts))), "TS": texts}), f)
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        parsed = F.try_to_timestamp(clean_str(F.col("TS")), F.lit(NEM_TS_FORMAT))
        rows = spark.read.parquet(f).select("K", F.unix_micros(parsed)).orderBy("K").collect()
        want = [r[1] for r in rows]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    got = arrow_cast(pa.table({"TS": texts}), written_schema({"TS": "timestamp"}), tz)
    got = got.column("TS").cast(pa.int64()).to_pylist()
    assert list(zip(odd, got)) == list(zip(odd, want[: len(odd)]))
    assert got == want
    assert sum(v is not None for v in got) == len(ordinary) + 4


def _nem_zip(path, table_rows):
    """One NEM ZIP at ``path`` holding ``(I-header fields, D-rows)`` blocks
    of the FPP UNIT_MW table."""
    lines = ["C,NEMP.WORLD,DISPATCHIS,AEMO,PUBLIC,2022/07/20,18:00:00,1,,"]
    for header, rows in table_rows:
        lines.append("I,FPP,UNIT_MW,1," + ",".join(header))
        lines.extend("D,FPP,UNIT_MW,1," + r for r in rows)
    lines.append('C,"END OF REPORT",9')
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("PUBLIC_DISPATCHIS_202207201800.CSV", "\r\n".join(lines))


def _table_rows(spark, root, cols):
    files = glob.glob(os.path.join(root, "date=*", "*.parquet"))
    return sorted(tuple(r) for r in read_evolved(spark, files).select(*cols).collect())


def test_two_headers_of_one_table_keep_their_columns(spark, tmp_path):
    """One ingest call that sees two I-headers for the same table writes
    each row under its own header's columns."""
    landing = tmp_path / "landing"
    landing.mkdir()
    _nem_zip(landing / "PUBLIC_A_20220720_0001.zip",
             [(["TS", "UNIT", "MW"], ['"2025/06/01 00:00:05",U1,1.5'])])
    _nem_zip(landing / "PUBLIC_B_20220720_0002.zip",
             [(["TS", "UNIT", "REGION", "MW"], ['"2025/06/01 00:00:10",U2,NSW1,2.5'])])
    out = str(tmp_path / "out")
    assert ingest(spark, str(landing), out) == {"FPP---UNIT_MW---1": 2}
    assert _table_rows(spark, os.path.join(out, "FPP---UNIT_MW---1"), ["UNIT", "REGION", "MW"]) == [
        ("U1", None, 1.5),
        ("U2", "NSW1", 2.5),
    ]


def test_ingest_turns_unparsed_text_to_null_under_ansi(spark, ansi, tmp_path):
    """A value that does not parse as its column's inferred type becomes
    null (chunk.rs:211-227) instead of failing the ingest under ANSI."""
    landing = tmp_path / "landing"
    landing.mkdir()
    _nem_zip(landing / "PUBLIC_A_20220720_0001.zip", [(["TS", "UNIT", "MW"], [
        '"2025/06/01 00:00:05",U1,101.5',
        '"2025/13/01 00:00:05",U1,n/a',
    ])])
    out = str(tmp_path / "out")
    assert ingest(spark, str(landing), out) == {"FPP---UNIT_MW---1": 2}
    df = spark.read.parquet(os.path.join(out, "FPP---UNIT_MW---1"))
    assert dict(df.dtypes)["MW"] == "double" and dict(df.dtypes)["TS"] == "timestamp"
    got = sorted(df.selectExpr("unix_seconds(TS)", "MW").collect(), key=lambda r: r.MW is None)
    assert [tuple(r) for r in got] == [(1748736005, 101.5), (None, None)]


def test_ragged_rows_are_padded_or_truncated_in_place(spark, tmp_path):
    """A D-row with too few fields gets nulls, one with too many loses
    the extras, and both keep their place among the block's rows (the
    first rows drive type inference)."""
    landing = tmp_path / "landing"
    landing.mkdir()
    _nem_zip(landing / "PUBLIC_A_20220720_0001.zip", [(["K", "UNIT", "MW"], [
        "1,U1",
        "2,U2,2.5,extra",
        "3,U3,3.5",
        "4",
    ])])
    out = str(tmp_path / "out")
    ingest(spark, str(landing), out)
    files = glob.glob(os.path.join(out, "FPP---UNIT_MW---1", "date=*", "*.parquet"))
    import pyarrow.parquet as pq

    assert len(files) == 1
    assert pq.read_table(files[0]).to_pylist() == [
        {"K": 1.0, "UNIT": "U1", "MW": None},
        {"K": 2.0, "UNIT": "U2", "MW": 2.5},
        {"K": 3.0, "UNIT": "U3", "MW": 3.5},
        {"K": 4.0, "UNIT": None, "MW": None},
    ]


def test_d_values_are_cleaned_once(spark, tmp_path):
    """A D-value is cleaned (clean_str) once, on its way to its type:
    ``\"\"\"\"\"2.5\"\"\"\"\"`` reads as ``""2.5""``, and one clean leaves
    ``"2.5"``, which is no double, so it is null in a double column and
    ``"2.5"`` in a text one. As a first value it makes its column text,
    since its one clean does not parse."""
    import pyarrow.parquet as pq

    landing = tmp_path / "landing"
    landing.mkdir()
    nested = '"""""2.5"""""'
    _nem_zip(landing / "PUBLIC_A_20220720_0001.zip", [(["K", "MW", "TXT", "FIRST"], [
        f"1,1.5,x,{nested}",
        f"2,{nested},{nested},3.5",
    ])])
    out = str(tmp_path / "out")
    assert ingest(spark, str(landing), out) == {"FPP---UNIT_MW---1": 2}
    (f,) = glob.glob(os.path.join(out, "FPP---UNIT_MW---1", "date=*", "*.parquet"))
    t = pq.read_table(f)
    assert str(t.schema.field("MW").type) == "double"
    assert str(t.schema.field("FIRST").type) == "string"
    assert t.to_pylist() == [
        {"FIRST": '"2.5"', "K": 1.0, "MW": 1.5, "TXT": "x"},
        {"FIRST": "3.5", "K": 2.0, "MW": None, "TXT": '"2.5"'},
    ]


def _parts_of(root):
    """{date: [(pyarrow table, parquet metadata)]} of a table's files."""
    import pyarrow.parquet as pq

    out = {}
    for f in sorted(glob.glob(os.path.join(root, "date=*", "*.parquet"))):
        date = os.path.basename(os.path.dirname(f))[len("date="):]
        out.setdefault(date, []).append((pq.read_table(f), pq.ParquetFile(f).metadata))
    return out


def test_parts_reassemble_files_in_input_order(spark, tmp_path):
    """A (table, I-header, date) part is its files' blocks in input
    order: a date fed by two files, a block that runs on past a short I
    row, and a second header version of the table in the same call each
    land as one file per part that keeps the D-row order, in one row
    group of the rest codec. The first file's block spans several pyarrow
    chunks."""
    landing = tmp_path / "landing"
    landing.mkdir()
    n = 40_000
    text = "\r\n".join(
        ["C,NEMP.WORLD,DISPATCHIS,AEMO,PUBLIC,2022/07/20,18:00:00,1,,", "I,FPP,UNIT_MW,1,K,MW"]
        + [f"D,FPP,UNIT_MW,1,{k},{k / 4}" for k in range(n)]
        + ["I,FPP,short"]  # a short I row: the block runs on
        + [f"D,FPP,UNIT_MW,1,{k},{k / 4}" for k in range(n, n + 3)]
        + ['C,"END OF REPORT",9']
    )
    with zipfile.ZipFile(landing / "PUBLIC_A_20220720_0001.zip", "w") as zf:
        zf.writestr("PUBLIC_A_202207201800.CSV", text)
    _nem_zip(landing / "PUBLIC_A_20220720_0002.zip",
             [(["K", "MW"], [f"{k},{k / 4}" for k in range(n + 3, n + 6)])])
    _nem_zip(landing / "PUBLIC_A_20220720_0003.zip",
             [(["K", "UNIT", "MW"], ["7,U7,1.0", "5,U5,2.0"])])
    _nem_zip(landing / "PUBLIC_A_20220721_0001.zip", [(["K", "MW"], ["9,0.5", "8,0.25"])])
    out = str(tmp_path / "out")
    assert ingest(spark, str(landing), out) == {"FPP---UNIT_MW---1": n + 10}
    parts = _parts_of(os.path.join(out, "FPP---UNIT_MW---1"))
    by_cols = {
        (date, tuple(sorted(t.column_names))): t.column("K").to_pylist()
        for date, files in parts.items()
        for t, _ in files
    }
    assert by_cols == {
        ("2022-07-20", ("K", "MW")): [float(k) for k in range(n + 6)],
        ("2022-07-20", ("K", "MW", "UNIT")): [7.0, 5.0],
        ("2022-07-21", ("K", "MW")): [9.0, 8.0],
    }
    for files in parts.values():
        for _, md in files:
            assert md.num_row_groups == 1
            assert {md.row_group(0).column(c).compression for c in range(md.num_columns)} == {"ZSTD"}


def test_ingest_skips_a_zip_whose_member_does_not_decompress(spark, tmp_path):
    """A ZIP whose member's deflate stream is corrupt is skipped whole
    and listed with its reason; the call's other file is ingested."""
    landing = tmp_path / "landing"
    landing.mkdir()
    _nem_zip(landing / "PUBLIC_A_20220720_0001.zip", [(["K", "MW"], ["1,1.5"])])
    bad = landing / "PUBLIC_A_20220720_0002.zip"
    with zipfile.ZipFile(bad, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("PUBLIC_A_202207201800.CSV", "I,FPP,UNIT_MW,1,K,MW\r\n" + "D,FPP,UNIT_MW,1,2,2.5\r\n" * 500)
    raw = bytearray(bad.read_bytes())
    data = zipfile.ZipFile(bad).infolist()[0].header_offset + 30 + len("PUBLIC_A_202207201800.CSV")
    raw[data + 4 : data + 20] = b"\xff" * 16  # inside the deflate stream
    bad.write_bytes(bytes(raw))
    out = str(tmp_path / "out")
    counts = ingest(spark, str(landing), out)
    assert counts == {"FPP---UNIT_MW---1": 1}
    assert [f["filename"] for f in counts.failed] == [bad.name]
    assert counts.failed[0]["reason"]


def _line_by_line_segmenter():
    """The segmenter as it read the grammar with a line-start regex and
    one Python step per line: the reference for nem_segmenter's blocks."""
    import csv

    from nemscraper_spark.sources.nemcsv import _HDR_SEP

    i_row = re.compile(r"(?m)^I,[^\r\n]*")

    def segment(text):
        marks = list(i_row.finditer(text))
        blocks = []
        for k, m in enumerate(marks):
            row = next(csv.reader([m.group(0)]))
            end = marks[k + 1].start() if k + 1 < len(marks) else len(text)
            body = [
                ln[:-1] if ln.endswith("\r") else ln
                for ln in text[m.end() : end].split("\n")
            ]
            if len(row) >= 5:
                blocks.append(("---".join(row[1:4]), _HDR_SEP.join(row[4:]), body))
            elif blocks:
                blocks[-1][2].extend(body)
        return blocks

    return segment


@pytest.mark.parametrize(
    "text",
    [
        "I,A,B,1,H1,H2\r\nD,A,B,1,x,y\r\nC,end\r\n",  # an I row at offset 0
        "C,h\r\nI,A,B,1,H1\r\nD,A,B,1,x\r\nD,A,B,1,y\r",  # ends in \r, no \n
        "C,h\nI,A,B,1,H1\r\r\nD,A,B,1,x\r\r\nD,A,B,1,y\r\r\n",  # \r\r\n
        "C,h\nI,A,B,1,H1\nD,A,B,1,x\nI,short\r\nD,A,B,1,y\nI,C,D,2,H2,H3",  # short I row
        "D,X,Y,1,orphan\n\rI,A,B,1,H\nxI,A,B,1,H\n\"I,A,B,1,H\"\nI,A,B,1,H\rI,C,D,1,H\n",
        "I,A,B,1,H1",
        "",
    ],
)
def test_segmenter_gives_the_line_by_line_blocks(text):
    """nem_segmenter's I-row scan gives the blocks of the line-by-line
    version, each block's text split into lines as its callers split it
    (empty lines, which neither keeps, left out): an I row at offset 0,
    a last line ending in \r, \r\r\n endings, a short I row that keeps
    the block open, and I rows that do not start a line."""
    from nemscraper_spark.sources.nemcsv import nem_segmenter

    def lines(body):
        body = body[:-1] if body.endswith("\r") else body
        return [ln for ln in body.replace("\r\n", "\n").split("\n") if ln]

    got = [(key, headers, lines(body)) for key, headers, body in nem_segmenter()(text)]
    want = [
        (key, headers, [ln for ln in body if ln])
        for key, headers, body in _line_by_line_segmenter()(text)
    ]
    assert got == want


@pytest.mark.parametrize("reverse", [False, True])
def test_per_part_ingest_infers_types_in_input_order(spark, tmp_path, reverse):
    """Parts of one table are tokenized in parallel, one per date, but
    its types still come from the first non-null value in input order:
    X is null in the first date's rows, NEM text in the second's and a
    number in the third's, so it is a timestamp in every partition when
    the files come in date order and a double when they come reversed.
    Every row lands under its file's date."""
    import pyarrow.parquet as pq

    landing = tmp_path / "landing"
    landing.mkdir()
    xs = {"20250601": ["", ""], "20250602": ['"2025/06/02 00:00:00"', ""], "20250603": ["1.5", "2"]}
    paths = []
    for day, vals in xs.items():
        paths.append(str(landing / f"PUBLIC_A_{day}_0001.zip"))
        _nem_zip(paths[-1], [(["K", "X"], [f"{k},{v}" for k, v in enumerate(vals)])])
    out = str(tmp_path / "out")
    assert ingest(spark, paths[::-1] if reverse else paths, out) == {"FPP---UNIT_MW---1": 6}
    root = os.path.join(out, "FPP---UNIT_MW---1")
    want = "double" if reverse else "timestamp[us, tz=UTC]"
    for day in xs:
        files = glob.glob(os.path.join(root, f"date={day[:4]}-{day[4:6]}-{day[6:]}", "*.parquet"))
        assert len(files) == 1
        t = pq.read_table(files[0])
        assert str(t.schema.field("X").type) == want and t.num_rows == 2


def test_file_date_matches_spark_date_from_filename(spark):
    """The driver's filename date (partition value) is the Spark
    ``date_from_filename`` value, name for name."""
    from pyspark.sql import functions as F

    from nemscraper_spark.functions import date_from_filename
    from nemscraper_spark.sources.nemcsv import file_date

    names = [
        "PUBLIC_DISPATCHIS_20220720_0000000367313233.zip",  # 8-digit, first wins
        "PUBLIC_X_202207201800.CSV",
        "report-2024-02-29.csv",  # dashed
        "report_2024_12_31.zip",  # underscored
        "mixed_2024-01_05.zip",
        "PUBLIC_19991231_20400101.zip",  # out of range
        "PUBLIC_20221320_0001.zip",  # month 13
        "PUBLIC_2022-13-01.zip",
        "no_date_here.zip",
        "",
    ]
    want = [
        r[0]
        for r in spark.createDataFrame([(n,) for n in names], "n string")
        .select(date_from_filename(F.col("n")))
        .collect()
    ]
    assert [file_date(n) for n in names] == want


@pytest.mark.parametrize(
    "path, local, prefix",
    [
        ("file:/tmp/x/a.zip", "/tmp/x/a.zip", "file:"),
        ("file:///tmp/x/a.zip", "/tmp/x/a.zip", "file://"),
        ("/tmp/x/a.zip", "/tmp/x/a.zip", ""),
    ],
)
def test_get_fs_round_trips_local_forms(path, local, prefix):
    """Hadoop's ``file:/abs`` (binaryFile's path column), ``file:///abs``
    and a bare path all resolve to the local filesystem, and
    ``prefix + local`` gives the path back."""
    import pyarrow.fs as pafs

    from nemscraper_spark.sources import fsutil

    fs, got_local, got_prefix = fsutil.get_fs(path)
    assert isinstance(fs, pafs.LocalFileSystem)
    assert (got_local, got_prefix) == (local, prefix)
    assert got_prefix + got_local == path

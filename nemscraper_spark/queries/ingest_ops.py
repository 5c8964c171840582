"""Driver-visible queries for the ingest/maintenance surface (§2.1,
§2.8) and the interactive-SQL surface (§3.3).

The NEM splitter/compactor/history operators don't consume the driver's
tables — they run on a deterministic in-test NEM fixture synthesized
into a temp dir (FIXTURES.md §A sanctions exactly this) and return
their invariant checks as DataFrames, so the driver's rows-check pins
them every round.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import zipfile

from pyspark.sql import functions as F

from nemscraper_spark.queries.common import fan_out, load_table, register

_NEM_CSV = "\r\n".join(
    [
        "C,NEMP.WORLD,DISPATCHIS,AEMO,PUBLIC,2022/07/20,18:00:00,0000000367313233,,",
        "I,FPP,UNIT_MW,1,MEASUREMENT_DATETIME,FPP_UNITID,PARTICIPANTID,MEASURED_MW,SCHEDULED_MW,MW_QUALITY_FLAG",
        'D,FPP,UNIT_MW,1,"2025/06/01 00:00:04",ARWF1,ARWF,101.5,100.0,1',
        'D,FPP,UNIT_MW,1,"2025/06/01 00:00:08",ARWF1,ARWF,102.5,100.0,1',
        'D,FPP,UNIT_MW,1,"2025/06/01 00:00:12",BDRW1,BDRW,55.25,,1',
        "I,FPP,REGION_FREQ_MEASURE,1,MEASUREMENT_DATETIME,REGIONID,FREQ_DEVIATION_HZ,HZ_QUALITY_FLAG",
        'D,FPP,REGION_FREQ_MEASURE,1,"2025/06/01 00:00:04",NSW1,-0.01,1',
        'D,FPP,REGION_FREQ_MEASURE,1,"2025/06/01 00:00:08",NSW1,0.02,1',
        'C,"END OF REPORT",8',
    ]
)
_D_ROWS = {"FPP---UNIT_MW---1": 3, "FPP---REGION_FREQ_MEASURE---1": 2}

# The ETL round trips return conservation invariants (D-rows in the raw
# NEM CSV == rows in the parquet output — verify.rs:56-133).  To give
# them a REAL cross-engine oracle instead of a rows-only check, the
# fixture CSV is staged at a deterministic path at import time so DuckDB
# can independently recount the D-lines from the raw bytes: the oracle
# asserts parquet_rows == its own D-line count, so any row dropped or
# duplicated by the Spark ingest breaks the hash gate.
# Repo-anchored (not TMPDIR) so Spark and a DuckDB oracle evaluated in
# any other process/container resolve the identical path; gitignored.
_FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".fixtures",
)
_FIXTURE_CSV = os.path.join(_FIXTURE_DIR, "nem_fixture.csv")


def _stage_fixture() -> str:
    os.makedirs(_FIXTURE_DIR, exist_ok=True)
    data = _NEM_CSV.encode()
    if not (
        os.path.exists(_FIXTURE_CSV) and os.path.getsize(_FIXTURE_CSV) == len(data)
    ):
        # Atomic publish: a concurrent reader (the DuckDB oracle in
        # another process) must never observe a partially written file.
        fd, tmp = tempfile.mkstemp(dir=_FIXTURE_DIR, suffix=".tmp")
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(data)
            os.replace(tmp, _FIXTURE_CSV)
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise
    return _FIXTURE_CSV


_stage_fixture()

# DuckDB-side recount of the D-lines, shared by both ETL oracles.
_ORACLE_D_COUNTS = f"""
    WITH l AS (
      SELECT unnest(str_split(content, chr(13)||chr(10))) AS line
      FROM read_text('{_FIXTURE_CSV}')
    ),
    counts AS (
      SELECT 'FPP---UNIT_MW---1' AS table_key,
             CAST(COUNT(*) FILTER (WHERE line LIKE 'D,FPP,UNIT_MW,1,%') AS BIGINT) AS d
      FROM l
      UNION ALL
      SELECT 'FPP---REGION_FREQ_MEASURE---1' AS table_key,
             CAST(COUNT(*) FILTER (WHERE line LIKE 'D,FPP,REGION_FREQ_MEASURE,1,%') AS BIGINT) AS d
      FROM l
    )
"""


@register(
    "nem_datasource_scan",
    oracle=_ORACLE_D_COUNTS
    + """
    SELECT table_key, d AS n_rows FROM counts
    """,
    tags=("S4", "S5"),
)
def nem_datasource_scan(spark, sf_dir):
    """S4/S5 through the Spark-4 PYTHON DATASOURCE connector
    (sources/nemsource.py): ``spark.read.format("nemcsv").load(dir)``
    scans the NEM ZIP with planning-time partitions (one per ZIP
    member) and yields the generic parsed layer; the query counts
    D-rows per table and the oracle independently recounts them from
    the raw fixture bytes.  Same grammar as the driver-side ingest
    (nem_ingest_conservation pins that path end-to-end through
    parquet); this entry pins the CONNECTOR surface — format
    registration, partition planning, by-value class shipping to
    foreign-environment executors."""
    tmp = tempfile.mkdtemp(prefix="nem_ds_")
    with zipfile.ZipFile(
        os.path.join(tmp, "PUBLIC_DISPATCHIS_20220720_0001.zip"), "w"
    ) as zf:
        zf.writestr("PUBLIC_DISPATCHIS_202207201800.CSV", _NEM_CSV)

    from nemscraper_spark.sources.nemsource import register as _reg_ds

    _reg_ds(spark)
    counts = (
        spark.read.format("nemcsv")
        .load(tmp)
        .groupBy("table_key")
        .agg(F.count("*").alias("n_rows"))
        .collect()
    )
    shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        [(r.table_key, r.n_rows) for r in counts],
        "table_key string, n_rows long",
    )


@register(
    "nem_datasource_stream",
    oracle=_ORACLE_D_COUNTS
    + """
    SELECT table_key, CAST(2 * d AS BIGINT) AS n_rows FROM counts
    """,
    tags=("S2", "S4", "streaming"),
)
def nem_datasource_stream(spark, sf_dir):
    """S2 (the feed POLL LOOP) as a Structured Streaming source: the
    nemcsv connector's stream reader (sources/nemsource.py
    `_NemStreamReader`) tracks the last consumed filename as its
    offset, so each microbatch ingests exactly the files that arrived
    since the previous one — the reference's list-download-re-list
    cycle (main.rs:286-307) with Spark owning scheduling, retries and
    exactly-once bookkeeping via the checkpoint.

    The query stages one NEM ZIP and drains it to a parquet sink, lands
    a SECOND ZIP while the stream is down (the poll loop's next file),
    drains again from the same checkpoint, and returns per-table D-row
    counts — which must equal exactly 2x the fixture's D-lines: each
    file consumed once, none reprocessed, none missed.  The DuckDB
    oracle recounts the raw fixture bytes independently."""
    from nemscraper_spark.queries.streaming_ops import _drain
    from nemscraper_spark.sources.nemsource import register as _reg_ds

    tmp = tempfile.mkdtemp(prefix="nem_ds_stream_")
    landing = os.path.join(tmp, "landing")
    out = os.path.join(tmp, "out")
    os.makedirs(landing)
    _reg_ds(spark)
    for day in ("20220720", "20220721"):
        with zipfile.ZipFile(
            os.path.join(landing, f"PUBLIC_DISPATCHIS_{day}_0001.zip"), "w"
        ) as zf:
            zf.writestr(f"PUBLIC_DISPATCHIS_{day}1800.CSV", _NEM_CSV)
        _drain(
            spark.readStream.format("nemcsv").load(landing),
            "nemspark_nem_ds_stream", sf_dir,
            sink="parquet", ckpt=os.path.join(tmp, "ckpt"), path=out,
        )
    counts = (
        spark.read.parquet(out)
        .groupBy("table_key")
        .agg(F.count("*").alias("n_rows"))
        .collect()
    )
    shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        [(r.table_key, r.n_rows) for r in counts],
        "table_key string, n_rows long",
    )


@register(
    "nem_ingest_conservation",
    oracle=_ORACLE_D_COUNTS
    + """
    SELECT table_key, d AS parquet_rows, d AS d_rows, TRUE AS conserved
    FROM counts
    """,
    tags=("S5", "S6", "S7", "M7"),
)
def nem_ingest_conservation(spark, sf_dir):
    """S4-S7 + M7: split a NEM ZIP → typed partitioned parquet, then
    emit the conservation check (D-rows == parquet rows per table —
    verify.rs:56-133). One row per table with conserved flag."""
    tmp = tempfile.mkdtemp(prefix="nem_ingest_")
    landing = os.path.join(tmp, "landing")
    out = os.path.join(tmp, "out")
    os.makedirs(landing)
    with zipfile.ZipFile(
        os.path.join(landing, "PUBLIC_DISPATCHIS_20220720_0001.zip"), "w"
    ) as zf:
        zf.writestr("PUBLIC_DISPATCHIS_202207201800.CSV", _NEM_CSV)

    from nemscraper_spark.sources.nemcsv import ingest

    counts = ingest(spark, landing, out)
    rows = [
        (k, counts.get(k, 0), d, counts.get(k, 0) == d) for k, d in _D_ROWS.items()
    ]
    # counts are eager (footer reads), so the fixture dir can go now
    shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "table_key string, parquet_rows long, d_rows long, conserved boolean"
    )


@register(
    "nem_compaction_roundtrip",
    oracle=_ORACLE_D_COUNTS
    + """
    SELECT table_key, 2 * d AS rows, 2 * d AS expected_rows,
           CAST(1 AS INTEGER) AS files_after
    FROM counts
    """,
    tags=("M3", "M4", "S11"),
)
def nem_compaction_roundtrip(spark, sf_dir):
    """M4: ingest twice (small files pile up) → compact each partition
    to one file under the evolved schema → row counts preserved."""
    import glob as _glob

    tmp = tempfile.mkdtemp(prefix="nem_compact_")
    landing = os.path.join(tmp, "landing")
    out = os.path.join(tmp, "out")
    os.makedirs(landing)
    with zipfile.ZipFile(
        os.path.join(landing, "PUBLIC_DISPATCHIS_20220720_0001.zip"), "w"
    ) as zf:
        zf.writestr("PUBLIC_DISPATCHIS_202207201800.CSV", _NEM_CSV)

    from nemscraper_spark.plans.compact import compact_table
    from nemscraper_spark.sources import fsutil
    from nemscraper_spark.sources.nemcsv import ingest

    ingest(spark, landing, out)
    ingest(spark, landing, out)  # second append → >1 file per partition

    def _compact_and_count(item):
        key, d = item
        root = os.path.join(out, key)
        compact_table(spark, root)
        files = _glob.glob(os.path.join(root, "date=*", "*.parquet"))
        # conservation from the compacted footers — the reference's
        # verify reads metadata, not data (verify.rs:56-133)
        return (key, fsutil.parquet_rows(root), 2 * d, len(files))

    # tables compact independently (disjoint roots) — overlap their
    # job latencies from a driver thread pool, same as compact_table
    # does across partitions
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(8, len(_D_ROWS))) as pool:
        results = list(pool.map(_compact_and_count, sorted(_D_ROWS.items())))
    # all invariants are computed eagerly from footers/listings above
    shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        results, "table_key string, rows long, expected_rows long, files_after int"
    )


@register(
    "sql_dashboard_totals",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS order_count,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    GROUP BY o_orderpriority
    """,
    tags=("S12", "D-SQL"),
)
def sql_dashboard_totals(spark, sf_dir):
    """§3.3 interactive-SQL surface: the same query text a dashboard
    would issue, executed via spark.sql over registered views — the
    engine's equivalent of the Grafana→DuckDB path (fpp.json:129-1068)."""
    fan_out(load_table(spark, sf_dir, "orders")).createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS order_count,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE) AS total_price
        FROM orders_v
        WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        GROUP BY o_orderpriority
        """
    )


@register(
    "catalog_external_table",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("S16",),
)
def catalog_external_table(spark, sf_dir):
    """S16 external-table registration (load_bigquery.rs:62-79's
    CREATE EXTERNAL TABLE ... OPTIONS(format='PARQUET')): register the
    parquet location in the session catalog and query it by name. The
    DDL itself has no DuckDB twin, but the query THROUGH the catalog
    does — so the oracle checks the registered table serves the same
    rows as a direct scan."""
    spark.sql("DROP TABLE IF EXISTS nemext_lineitem")
    spark.sql(
        f"""
        CREATE TABLE nemext_lineitem
        USING PARQUET LOCATION '{sf_dir}/lineitem.parquet'
        """
    )
    return spark.sql(
        "SELECT l_returnflag, COUNT(*) AS n FROM nemext_lineitem GROUP BY l_returnflag"
    )


_FMT_ORACLE_ROW = """
    SELECT '{fmt}' AS fmt,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(event_id) + SUM(user_id) AS BIGINT) AS id_checksum,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events
"""


@register(
    "format_roundtrip_matrix",
    oracle=" UNION ALL ".join(
        _FMT_ORACLE_ROW.format(fmt=f)
        for f in ("avro", "avro_deflate", "csv", "json", "orc")
    ),
    tags=("S7", "S8", "formats"),
)
def format_roundtrip_matrix(spark, sf_dir):
    """Columnar/row sink+scan breadth beyond parquet — ONE matrix
    entry per interchange format (COVERAGE.md's round-8 promise): the
    same events projection written to Avro (null + deflate codecs),
    ORC, JSON-lines and CSV, read back through each format's scan, and
    reduced to count + exact-BIGINT checksums that must agree with the
    source table row-for-row (the oracle computes them straight off
    the parquet).  This is the interchange-format matrix a 100 TB shop
    actually runs — Avro for schema-registry shops, ORC for engines
    that demand it, JSONL for event-bus compatibility, CSV for the
    long tail — and the checksum proves none of the five round-trips
    drops, duplicates, or corrupts a row.

    The Avro arms need no spark-avro connector jar:
    sources/avro_py.py implements the Avro 1.12 object-container spec
    in pure Python, distributed via mapInArrow (one container file per
    non-empty task, the brotli-sink pattern), wire-format-proven
    against the OFFICIAL Java implementation on Spark's own classpath
    in both directions (tests/test_avro_py.py).

    The projection sticks to lossless-in-every-format types (two
    BIGINTs + a string): floats/timestamps in text formats are a
    FORMATTING contract, not a data one, and the typed ETL path for
    those stays parquet (S7).  Staged once per session; each scan is
    format-pruned to the three columns."""
    from nemscraper_spark.queries.streaming_ops import _staged
    from nemscraper_spark.sources.avro_py import read_avro, write_avro

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )

    def write(stage):
        ev.write.mode("overwrite").option("header", "true").csv(
            os.path.join(stage, "csv")
        )
        ev.write.mode("overwrite").json(os.path.join(stage, "json"))
        ev.write.mode("overwrite").orc(os.path.join(stage, "orc"))
        write_avro(ev, os.path.join(stage, "avro"), codec="null")
        write_avro(ev, os.path.join(stage, "avro_deflate"), codec="deflate")

    stage = _staged(spark, sf_dir, "fmt", write)
    schema = "event_id long, user_id long, event_type string"
    reads = {
        "avro": read_avro(spark, os.path.join(stage, "avro")),
        "avro_deflate": read_avro(spark, os.path.join(stage, "avro_deflate")),
        "csv": spark.read.schema(schema)
        .option("header", "true")
        .csv(os.path.join(stage, "csv")),
        "json": spark.read.schema(schema).json(os.path.join(stage, "json")),
        "orc": spark.read.orc(os.path.join(stage, "orc")),
    }
    import functools

    arms = [
        df.agg(
            F.lit(fmt).alias("fmt"),
            F.count("*").alias("n_rows"),
            (F.sum("event_id") + F.sum("user_id"))
            .cast("long")
            .alias("id_checksum"),
            F.countDistinct("event_type").alias("n_types"),
        )
        for fmt, df in sorted(reads.items())
    ]
    return functools.reduce(lambda a, b: a.unionByName(b), arms)

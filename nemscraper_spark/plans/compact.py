"""Partition compaction with schema evolution (SURVEY.md §2.8 M4;
reference src/bin/compactor.rs:584-792).

Per `table/date=` partition: resolve the evolved schema from parquet
footers (metadata only), stream-convert every small file + any previous
compacted file into ONE file, swap crash-safely. Spark-first:

  * evolved schema + casts: sources/evolve.read_evolved
  * single-file output: .repartition(1) scoped to the one partition
  * swap: manifest-guarded stage → rename-in → delete-sources, the
    engine-level equivalent of the reference's .tmp + atomic rename
    (compactor.rs:645-749) — at no point does the partition hold zero
    copies of any row. A crash mid-swap leaves a manifest that
    ``recover_partition`` rolls FORWARD deterministically (finish the
    renames, then delete the sources it lists); until recovery runs,
    the only possible anomaly is a bounded double-read window (both a
    source file and its compacted copy present), never loss.

All file ops go through sources/fsutil (pyarrow.fs), so discovery,
swap and recovery work on file:// and object-store URIs, matching the
reference's GCS deployment (scripts/gcloud-sync.sh:22-41).

At scale each partition is an independent job; the driver loops (or
schedules a pool of) partitions exactly like the compactor's rayon
scope (compactor.rs:76-94). A 100TB table compacts incrementally —
only partitions with >1 file are touched.
"""

from __future__ import annotations

import json
import posixpath

from pyspark.sql import SparkSession

from nemscraper_spark.sources import fsutil
from nemscraper_spark.sources.evolve import read_evolved

MANIFEST_NAME = "_COMPACT_MANIFEST.json"


def write_parquet_brotli(df, out_dir: str, level: int = 5) -> None:
    """Distributed BROTLI parquet sink via pyarrow — the reference's
    at-rest format (README.md:14-27 codec study, writer at
    src/process/chunk.rs:367-369) on a cluster whose JVM classpath has
    no brotli codec jar: libbrotli ships inside pyarrow, so each task
    writes its own partition's file with pyarrow.parquet instead of
    the JVM writer.  Arrow batches flow out of the JVM once
    (mapInArrow — zero pandas conversion), one output file per
    non-empty task, so the sink distributes exactly like
    df.write.parquet.  The driver-side collect is one row per task
    (bounded).  Spark's native reader needs the codec jar to scan the
    result; pyarrow (and the reference itself) reads it directly —
    this sink exists for at-rest format parity, the hot analytics
    path stays snappy/zstd.

    The task closure is self-contained (no package imports) so it
    survives foreign-driver cloudpickle shipping."""
    import pyarrow as pa

    target = out_dir  # captured by value in the closure

    def _write(batches):
        import uuid

        import pyarrow as _pa
        import pyarrow.fs as _pafs
        import pyarrow.parquet as _pq

        if "://" in target:
            fs, local = _pafs.FileSystem.from_uri(target)
        else:
            fs, local = _pafs.LocalFileSystem(), target
        collected = [b for b in batches if b.num_rows]
        if not collected:
            return
        table = _pa.Table.from_batches(collected)
        name = f"{local.rstrip('/')}/part-{uuid.uuid4().hex}.parquet"
        with fs.open_output_stream(name) as out:
            _pq.write_table(
                table,
                out,
                compression="BROTLI",
                compression_level=level,
            )
        yield _pa.RecordBatch.from_pydict(
            {"file": [name], "n_rows": [table.num_rows]}
        )

    fs0, local0, _ = fsutil.get_fs(out_dir)
    fs0.create_dir(local0, recursive=True)
    df.mapInArrow(_write, schema="file string, n_rows long").collect()


def partitions_needing_compaction(table_root: str, min_files: int = 2) -> list[str]:
    """Partition dirs with at least ``min_files`` parquet files, plus
    any partition holding an unfinished swap (manifest present)."""
    out = []
    for part in fsutil.list_dirs(table_root, name_prefix="date="):
        if fsutil.exists(posixpath.join(part, MANIFEST_NAME)):
            out.append(part)
        elif len(fsutil.list_files(part, suffix=".parquet")) >= min_files:
            out.append(part)
    return out


def recover_partition(partition_dir: str) -> bool:
    """Finish (roll forward) an interrupted swap. Returns True if a
    manifest was found and resolved.

    The manifest is written only AFTER staging completes, so every
    output row exists either under the staging dir or already renamed
    into the partition. Recovery completes the remaining renames, then
    deletes exactly the source files the manifest lists."""
    manifest_path = posixpath.join(partition_dir, MANIFEST_NAME)
    if not fsutil.exists(manifest_path):
        return False
    m = json.loads(fsutil.read_text(manifest_path))
    staging = m["staging_dir"]
    final_names = {fn for _, fn in m["outputs"]}
    for staged_name, final_name in m["outputs"]:
        staged = posixpath.join(staging, staged_name)
        final = posixpath.join(partition_dir, final_name)
        if fsutil.exists(staged) and not fsutil.exists(final):
            fsutil.move(staged, final)
        elif fsutil.exists(staged):
            fsutil.delete_file(staged)  # rename landed, staged copy remains
    for src_name in m["sources"]:
        if src_name in final_names:  # paranoia: never delete an output
            continue
        fsutil.delete_file(posixpath.join(partition_dir, src_name))
    fsutil.delete_dir(staging)
    fsutil.delete_file(manifest_path)
    return True


def compact_partition(
    spark: SparkSession, partition_dir: str, _crash_after: str | None = None
) -> int:
    """Rewrite one partition's files as a single evolved-schema file.
    Returns the row count of the compacted partition.

    ``_crash_after`` is a test hook: raise after the named step
    ("stage" | "manifest" | "move" | "delete") to prove the swap is
    recoverable at every boundary (tests/test_ingest.py)."""
    partition_dir = partition_dir.rstrip("/")
    recover_partition(partition_dir)
    files = fsutil.list_files(partition_dir, suffix=".parquet")
    if not files:
        return 0
    df = read_evolved(spark, files).repartition(1)
    # staging dir lives beside the partition with a "." basename prefix
    # (hidden to Hadoop/Spark listing) and no "=" (so partition-column
    # inference never parses it): a concurrent table scan never sees
    # the staged copy as an extra partition mid-swap
    staging = posixpath.join(
        posixpath.dirname(partition_dir),
        ".compact_tmp_" + posixpath.basename(partition_dir).replace("=", "-"),
    )
    fsutil.delete_dir(staging)  # stale tmp from a pre-manifest crash
    # Dense codec at rest (the cold path — ingest writes snappy, see
    # sources/nemcsv.ingest).  Default zstd; SPARK_GRAFT_REST_CODEC
    # overrides it, so a cluster with parquet's brotli codec jar on the
    # classpath matches the reference's brotli-5 at-rest format with
    # one env var (scripts/codec_ab.py carries the measured brotli-5
    # density rows via pyarrow; this container lacks the jar).  The
    # zstd-jni buffer pool is disabled: with it on, repeated
    # partitioned zstd writes degraded 9s -> 85s in-session (native
    # buffer growth), without it they hold ~1-4s.
    import os as _os

    codec = _os.environ.get("SPARK_GRAFT_REST_CODEC", "zstd")
    if codec.lower() == "brotli":
        # Reference-exact at-rest format without the JVM codec jar:
        # route the staged write through the distributed pyarrow
        # brotli-5 sink (write_parquet_brotli).  A jar-equipped
        # cluster can instead set codec "brotli-jvm" to use the
        # native writer below.
        write_parquet_brotli(df, staging, level=5)
    else:
        if codec.lower() == "brotli-jvm":
            codec = "brotli"
        df.write.mode("overwrite").option("compression", codec).option(
            "parquet.compression.codec.zstd.bufferPool.enabled", "false"
        ).parquet(staging)
    staged = fsutil.list_files(staging, suffix=".parquet")
    # row count from the staged footers (metadata-only, no extra job)
    rows = fsutil.parquet_rows(staging)
    if _crash_after == "stage":
        raise RuntimeError("injected crash after stage")
    # commit point: once the manifest is down, recovery rolls FORWARD.
    # Final names carry a per-run token so a re-compaction's outputs
    # never collide with the previous compacted file (which is now a
    # SOURCE — a name collision would let the delete phase remove the
    # new data).
    import uuid

    token = uuid.uuid4().hex[:8]
    outputs = [
        (posixpath.basename(f), f"compacted-{token}-{i}.parquet")
        for i, f in enumerate(staged)
    ]
    manifest = {
        "staging_dir": staging,
        "outputs": outputs,
        "sources": [posixpath.basename(f) for f in files],
    }
    fsutil.write_text(
        posixpath.join(partition_dir, MANIFEST_NAME), json.dumps(manifest)
    )
    if _crash_after == "manifest":
        raise RuntimeError("injected crash after manifest")
    for n, (staged_name, final_name) in enumerate(outputs):
        fsutil.move(
            posixpath.join(staging, staged_name),
            posixpath.join(partition_dir, final_name),
        )
        if _crash_after == "move" and n == 0:
            raise RuntimeError("injected crash mid-move")
    for n, src_name in enumerate(manifest["sources"]):
        fsutil.delete_file(posixpath.join(partition_dir, src_name))
        if _crash_after == "delete" and n == 0:
            raise RuntimeError("injected crash mid-delete")
    fsutil.delete_dir(staging)
    fsutil.delete_file(posixpath.join(partition_dir, MANIFEST_NAME))
    return rows


def compact_table(
    spark: SparkSession, table_root: str, max_parallel: int = 8
) -> dict[str, int]:
    """Compact every eligible partition of one table (the compactor's
    5-minute cycle body, compactor.rs:63-110). Unfinished swaps from a
    previous crash are recovered first (compact_partition rolls them
    forward before re-reading).

    Partitions are submitted from a driver-side thread pool — the
    rayon-scope shape of compactor.rs:76-94. This matters at scale:
    each partition's rewrite is ONE task (repartition(1)), so a serial
    loop would keep a 1000-executor cluster one task busy at a time;
    ``max_parallel`` concurrent Spark jobs keep the cluster fed while
    each swap stays partition-local (separate dirs, no shared state).
    """
    parts = partitions_needing_compaction(table_root)
    if not parts:
        return {}
    if max_parallel <= 1 or len(parts) == 1:
        return {part: compact_partition(spark, part) for part in parts}
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(max_parallel, len(parts))) as pool:
        rows = pool.map(lambda p: compact_partition(spark, p), parts)
        return dict(zip(parts, rows))

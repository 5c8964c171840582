"""Partition compaction with schema evolution (SURVEY.md §2.8 M4;
reference src/bin/compactor.rs:584-792).

Per `table/date=` partition: resolve the evolved schema from parquet
footers (metadata only, sources/evolve.evolved_schema), then stream
every small file + any previous compacted file batch by batch through
sources/evolve.arrow_cast (text that does not parse becomes null,
compactor.rs:409-479) into ONE file written by fsutil.write_parquet
(the at-rest codec and row groups every driver-side writer shares),
and swap crash-safely. The driver does it all, as the reference does
inside one process (compactor.rs:545-581); no Spark job runs. The swap is
manifest-guarded stage → rename-in → delete-sources, the engine-level
equivalent of the reference's .tmp + atomic rename
(compactor.rs:645-749) — at no point does the partition hold zero
copies of any row. A crash mid-swap leaves a manifest that
``recover_partition`` rolls FORWARD deterministically (finish the
renames, then delete the sources it lists); until recovery runs, the
only possible anomaly is a bounded double-read window (both a source
file and its compacted copy present), never loss.

All file ops go through sources/fsutil (pyarrow.fs), so discovery,
swap and recovery work on file:// and object-store URIs, matching the
reference's GCS deployment (scripts/gcloud-sync.sh:22-41).

Partitions run in a driver thread pool, like the compactor's rayon
scope (compactor.rs:76-94); pyarrow releases the GIL while it reads
and writes. A 100TB table compacts incrementally — only partitions
with >1 file are touched.
"""

from __future__ import annotations

import json
import posixpath
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from nemscraper_spark.sources import fsutil
from nemscraper_spark.sources.evolve import (
    arrow_cast,
    evolved_schema,
    wall_clock_columns,
    written_schema,
)

MANIFEST_NAME = "_COMPACT_MANIFEST.json"


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
        fsutil.delete_with_crc(posixpath.join(partition_dir, src_name))
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
    schema = written_schema(evolved_schema(files))
    tz = spark.conf.get("spark.sql.session.timeZone")
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled").lower() == "true"
    # staging dir lives beside the partition with a "." basename prefix
    # (hidden to Hadoop/Spark listing) and no "=" (so partition-column
    # inference never parses it): a concurrent table scan never sees
    # the staged copy as an extra partition mid-swap
    staging = posixpath.join(
        posixpath.dirname(partition_dir),
        ".compact_tmp_" + posixpath.basename(partition_dir).replace("=", "-"),
    )
    fsutil.delete_dir(staging)  # stale tmp from a pre-manifest crash

    def batches():
        for f in files:
            with fsutil.open_input(f) as fh:
                pf = pq.ParquetFile(fh)
                # a naive timestamp is an instant or a wall-clock time as
                # read_evolved's Spark read takes it
                local = wall_clock_columns(pf.schema_arrow, pf.schema, ntz)
                for batch in pf.iter_batches():
                    yield arrow_cast(batch, schema, tz, local)

    fsutil.write_parquet(staging, schema, batches())
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
        fsutil.delete_with_crc(posixpath.join(partition_dir, src_name))
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

    Partitions run in a driver-side thread pool — the rayon-scope
    shape of compactor.rs:76-94: up to ``max_parallel`` rewrites at
    once, each swap partition-local (separate dirs, no shared state).
    """
    parts = partitions_needing_compaction(table_root)
    if len(parts) < 2:  # one partition compacts on the calling thread
        return {p: compact_partition(spark, p) for p in parts}
    with ThreadPoolExecutor(max_workers=max(1, min(max_parallel, len(parts)))) as pool:
        return dict(zip(parts, pool.map(lambda p: compact_partition(spark, p), parts)))

"""Filesystem access for maintenance plans (compaction, conservation).

The reference deploys against GCS (scripts/gcloud-sync.sh:22-41); its
compactor walks and renames files directly. Spark reads/writes any
Hadoop-visible URI already, but our driver-side file ops (partition
discovery, the compaction swap, footer row counts) used glob/os/shutil
and therefore only worked on POSIX paths. This module routes those ops
through pyarrow.fs so the same code runs on ``file://``, ``s3://``,
``gs://`` (pyarrow resolves the scheme; bare paths mean the local fs).

Every helper takes/returns FULL paths in the caller's original notation
(scheme prefix preserved) so results can be handed straight back to
Spark readers. ``write_parquet`` is the one driver-side parquet writer:
ingest, compaction and the history ledgers share its at-rest layout.
``footprint`` is what the trunk registry checks a corpus against.
"""

from __future__ import annotations

import os
import posixpath
import uuid

import pyarrow.fs as pafs

# rows per row group at rest: arrow-rs's ArrowWriter default, the
# reference's writer (chunk.rs:367-369, compactor.rs:680-684)
ROW_GROUP_ROWS = 1 << 20


def get_fs(path: str) -> tuple[pafs.FileSystem, str, str]:
    """Resolve ``path`` to (filesystem, fs-local path, scheme prefix).

    ``prefix + local_path`` reconstructs a Spark-readable URI. Bare
    POSIX paths get the local filesystem and an empty prefix; Hadoop's
    ``file:/abs`` form (binaryFile's ``path`` column) the prefix
    ``file:``.
    """
    if path.startswith("file:") and not path.startswith("file://"):
        return pafs.LocalFileSystem(), path[len("file:"):], "file:"
    if "://" in path:
        fs, local = pafs.FileSystem.from_uri(path)
        scheme = path.split("://", 1)[0]
        if scheme == "file":
            prefix = "file://"
        else:
            # from_uri strips "scheme://" and keeps "bucket/key"
            prefix = f"{scheme}://"
        return fs, local, prefix
    return pafs.LocalFileSystem(), path, ""


def _file_infos(path: str, recursive: bool = False) -> tuple[str, list[pafs.FileInfo]]:
    """(scheme prefix, ``FileInfo`` of each regular file under ``path``),
    or of ``path`` itself when it is a file. Missing paths yield no
    files. A file with a path component below ``path`` that starts with
    ``.`` or ``_`` is hidden, as Spark's listing hides it (staged files,
    manifests, ``.crc`` sidecars); ``path`` itself may be hidden."""
    fs, local, prefix = get_fs(path)
    top = fs.get_file_info(local)
    if top.type == pafs.FileType.File:
        return prefix, [top]
    sel = pafs.FileSelector(local, recursive=recursive, allow_not_found=True)
    return prefix, [
        info
        for info in fs.get_file_info(sel)
        if info.type == pafs.FileType.File
        and not any(
            c.startswith((".", "_"))
            for c in posixpath.relpath(info.path, local).split("/")
        )
    ]


def list_files(path: str, suffix: str = "", recursive: bool = False) -> list[str]:
    """Full paths of the visible regular files under ``path`` (sorted,
    see :func:`_file_infos`), optionally filtered by suffix."""
    prefix, infos = _file_infos(path, recursive)
    return sorted(prefix + info.path for info in infos if info.path.endswith(suffix))


def list_dirs(path: str, name_prefix: str = "") -> list[str]:
    """Full paths of immediate subdirectories (sorted), optionally
    filtered by basename prefix."""
    fs, local, prefix = get_fs(path)
    sel = pafs.FileSelector(local, recursive=False, allow_not_found=True)
    out = [
        prefix + info.path
        for info in fs.get_file_info(sel)
        if info.type == pafs.FileType.Directory
        and posixpath.basename(info.path).startswith(name_prefix)
    ]
    return sorted(out)


def exists(path: str) -> bool:
    fs, local, _ = get_fs(path)
    return fs.get_file_info(local).type != pafs.FileType.NotFound


def delete_file(path: str, missing_ok: bool = True) -> None:
    fs, local, _ = get_fs(path)
    if missing_ok and fs.get_file_info(local).type == pafs.FileType.NotFound:
        return
    fs.delete_file(local)


def delete_with_crc(path: str) -> None:
    """Delete a file and the ``.<name>.crc`` sidecar Hadoop writes."""
    head, tail = posixpath.split(path)
    delete_file(path)
    delete_file(posixpath.join(head, f".{tail}.crc"))


def delete_dir(path: str, missing_ok: bool = True) -> None:
    fs, local, _ = get_fs(path)
    if missing_ok and fs.get_file_info(local).type == pafs.FileType.NotFound:
        return
    fs.delete_dir(local)


def move(src: str, dst: str) -> None:
    """Rename within one filesystem. Atomic on POSIX; object stores do
    copy+delete (the manifest protocol in plans/compact.py keeps the
    swap correct regardless)."""
    fs, src_local, _ = get_fs(src)
    _, dst_local, _ = get_fs(dst)
    fs.move(src_local, dst_local)


def write_text(path: str, text: str) -> None:
    """Write a small text file via stage + rename so readers never see
    a torn write (single-file atomicity on POSIX/HDFS)."""
    fs, local, _ = get_fs(path)
    tmp = local + ".tmp"
    with fs.open_output_stream(tmp) as f:
        f.write(text.encode("utf-8"))
    fs.move(tmp, local)


def write_parquet(dir_path: str, schema, batches) -> None:
    """Write ``batches`` (arrow record batches or tables of ``schema``)
    as one new ``part-<uuid>.parquet`` in ``dir_path``, in the at-rest
    layout every driver-side writer shares: the ``SPARK_GRAFT_REST_CODEC``
    codec (default zstd at level 3, the level of Spark's parquet writer;
    brotli at level 5, the reference's chunk.rs:367-369) and row groups
    of ``ROW_GROUP_ROWS`` rows, so a file of up to that many rows is one
    row group. Batches are coalesced as they arrive, so memory is
    bounded by one row group, not by the file. The file is staged under
    a hidden ``.<name>.tmp`` (Spark skips dot-files) and renamed into
    place, so a concurrent scan never sees it torn."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    codec = os.environ.get("SPARK_GRAFT_REST_CODEC", "zstd")
    level = {"brotli": 5, "zstd": 3}.get(codec.lower())
    fs, local, _ = get_fs(dir_path)
    fs.create_dir(local, recursive=True)
    name = f"part-{uuid.uuid4()}.parquet"
    tmp = posixpath.join(local, f".{name}.tmp")
    with fs.open_output_stream(tmp) as out, pq.ParquetWriter(
        out, schema, compression=codec, compression_level=level
    ) as writer:
        pending = schema.empty_table()
        for batch in batches:
            pending = pa.concat_tables([pending, pa.table(batch)])
            while pending.num_rows >= ROW_GROUP_ROWS:
                writer.write_table(pending.slice(0, ROW_GROUP_ROWS), ROW_GROUP_ROWS)
                pending = pending.slice(ROW_GROUP_ROWS)
        if pending.num_rows:
            writer.write_table(pending, ROW_GROUP_ROWS)
    fs.move(tmp, posixpath.join(local, name))


def read_text(path: str) -> str:
    fs, local, _ = get_fs(path)
    with fs.open_input_stream(local) as f:
        return f.read().decode("utf-8")


def open_input(path: str):
    """Random-access input file handle (for parquet footer reads)."""
    fs, local, _ = get_fs(path)
    return fs.open_input_file(local)


def parquet_rows(root: str) -> int:
    """Total rows of every parquet file under ``root``, or of ``root``
    itself when it is one file, from footers only (driver-side metadata
    reads, no Spark job) — works on any pyarrow-visible filesystem.
    Conservation-check kernel (verify.rs:56-133 counts the same way)."""
    import pyarrow.parquet as pq

    total = 0
    for f in list_files(root, suffix=".parquet", recursive=True):
        with open_input(f) as fh:
            total += pq.ParquetFile(fh).metadata.num_rows
    return total


def footprint(root: str) -> tuple[int, int, int]:
    """(file count, total bytes, latest mtime in ns) of the visible files
    under ``root`` (or of ``root`` itself when it is one file) from one
    listing: rewriting, adding or removing a file changes it, and no
    data is read."""
    infos = _file_infos(root, recursive=True)[1]
    return len(infos), sum(i.size for i in infos), max((i.mtime_ns or 0 for i in infos), default=0)

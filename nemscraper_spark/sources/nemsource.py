"""NEM multi-table CSV as a first-class Spark 4 Python DataSource.

``spark.dataSource.register(nem_csv_data_source())`` then
``spark.read.format("nemcsv").load(path)`` scans a directory (or single
file) of NEM ZIPs / raw CSVs and returns the GENERIC parsed layer —
one row per D-line::

    src_file string, table_key string, headers string, line string

the D-lines that sources/nemcsv.ingest tokenizes on the driver — both
run the same segmenter, ``nemcsv.nem_segmenter`` (reference grammar:
src/process/split.rs:64-125, src/process/csv_batch_processor.rs:42-94).
The connector form is the distributed scan of that layer:

  * **planning-time partitions** — one InputPartition per ZIP member /
    CSV file, so Spark schedules the scan like any other source (AQE
    sees real partitions; a 100k-file landing zone fans out to 100k
    tasks with no driver-side DataFrame gymnastics);
  * **format registration** — downstream code reads NEM data with the
    same ``spark.read.format(...)`` surface it uses for parquet/csv.

Implementation notes: the DataSource classes are created INSIDE the
factory function so cloudpickle serializes them BY VALUE — executors in
a foreign-driver deployment (the driver-contract environment) cannot
import ``nemscraper_spark``, the same constraint that keeps the
repo's Pandas-UDF closures self-contained.  Everything the reader
touches at read() time is stdlib (zipfile, plus the segmenter closure,
itself stdlib-only and shipped by value).
"""

from __future__ import annotations


def nem_csv_data_source():
    """Build (and return) the NemCsvDataSource class.  Created in
    function scope on purpose — see the module docstring."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceStreamReader,
        InputPartition,
    )

    from nemscraper_spark.sources.nemcsv import nem_segmenter

    class _NemPart(InputPartition):
        def __init__(self, path: str, member: str | None):
            self.path = path
            self.member = member

    def _list_files(path):
        """Driver-side listing only (cheap metadata), sorted by name —
        the NEM feed contract is monotone timestamped filenames, the
        same order the reference's poll loop consumes (main.rs:286-307)."""
        import os

        if os.path.isdir(path):
            files = []
            for root, _dirs, names in os.walk(path):
                files.extend(os.path.join(root, n) for n in names)
            return sorted(files)
        return [path]

    def _expand_parts(files):
        """One partition per ZIP member / raw CSV — the unit the
        reference's per-file worker pool schedules (main.rs:208-239).
        A ZIP whose directory cannot be read (truncated, empty) is
        skipped and logged, as sources/nemcsv.ingest skips it, so one
        bad file does not fail the scan."""
        import logging
        import zipfile

        parts = []
        for f in files:
            low = f.lower()
            if low.endswith(".zip"):
                try:
                    with zipfile.ZipFile(f) as zf:
                        members = sorted(zf.namelist())
                except (OSError, zipfile.BadZipFile) as e:
                    logging.getLogger("nemscraper_spark.nemsource").warning(
                        "nemcsv skipped %s: %s", f, e
                    )
                    continue
                parts.extend(_NemPart(f, m) for m in members if m.lower().endswith(".csv"))
            elif low.endswith(".csv"):
                parts.append(_NemPart(f, None))
        return parts

    segment = nem_segmenter()

    def _read_part(partition):
        # Executor-side: one member through the splitter's own I/D
        # segmenter (split.rs:64-125), keeping only the "D," lines of
        # each block's text
        import os
        import zipfile

        if partition is None:  # empty scan (no matching files)
            return

        if partition.member is not None:
            with zipfile.ZipFile(partition.path) as zf:
                raw = zf.read(partition.member)
            src = os.path.basename(partition.member)
        else:
            with open(partition.path, "rb") as fh:
                raw = fh.read()
            src = os.path.basename(partition.path)

        for table_key, headers, body in segment(raw.decode("utf-8", "replace")):
            # lines split on \n, a \r\n as one break, a trailing \r dropped
            body = body[:-1] if body.endswith("\r") else body
            for line in body.replace("\r\n", "\n").split("\n"):
                if line.startswith("D,"):
                    yield (src, table_key, headers, line)

    class _NemReader(DataSourceReader):
        def __init__(self, options):
            self._path = options.get("path")
            if not self._path:
                raise ValueError("nemcsv: .load(path) is required")

        def partitions(self):
            import os

            parts = _expand_parts(_list_files(self._path))
            # no matching files (e.g. an empty landing dir) -> empty
            # scan, like any file source; a single non-matching FILE
            # path still reads as raw CSV text (caller asked for it)
            if not parts and os.path.isfile(self._path):
                parts = [_NemPart(self._path, None)]
            return parts

        def read(self, partition):
            return _read_part(partition)

    class _NemStreamReader(DataSourceStreamReader):
        """The reference's continuous poll loop (main.rs:286-307 —
        list the feed page, consume files it hasn't seen, re-list) as
        a Structured Streaming source.  The offset is the LAST
        CONSUMED FILENAME under the landing path: each microbatch
        covers files lexically above the start offset up to the end
        offset, so a file is consumed exactly once and late-arriving
        files keep flowing batch after batch.  Correct under the NEM
        feed contract (append-only, monotone timestamped names) —
        the same assumption the reference's re-enqueue sweep makes.
        Listing is driver-side metadata; the grammar work runs on
        executors, one partition per ZIP member, exactly like the
        batch reader.

        Known limitation (documented, matches the feed contract): the
        offset stores only the boundary NAME, so a checkpoint replay
        re-derives the batch's file list from the live directory —
        files deleted or renamed inside a replayed range would change
        the replay (Spark's own FileStreamSource logs the per-batch
        file list to be replay-exact under mutation).  NEM landing
        dirs are append-only until the compactor's retention runs, so
        the name-range offset is sufficient and far smaller."""

        def __init__(self, options):
            self._path = options.get("path")
            if not self._path:
                raise ValueError("nemcsv: .load(path) is required")

        def initialOffset(self):
            return {"last": ""}

        def latestOffset(self):
            files = _list_files(self._path)
            import os

            files = [f for f in files if os.path.isfile(f)]
            return {"last": files[-1] if files else ""}

        def partitions(self, start, end):
            lo, hi = start["last"], end["last"]
            new = [f for f in _list_files(self._path) if lo < f <= hi]
            return _expand_parts(new)

        def read(self, partition):
            return _read_part(partition)

        def commit(self, end):
            # Nothing to clean up: consumed files stay in the landing
            # dir (the compactor owns retention, plans/compact.py).
            pass

    class NemCsvDataSource(DataSource):
        @classmethod
        def name(cls):
            return "nemcsv"

        def schema(self):
            return (
                "src_file string, table_key string,"
                " headers string, line string"
            )

        def reader(self, schema):
            return _NemReader(self.options)

        def streamReader(self, schema):
            return _NemStreamReader(self.options)

    return NemCsvDataSource


def register(spark) -> None:
    """Register the ``nemcsv`` format on a session.  Spark 4's
    ``dataSource.register`` silently replaces an existing registration
    under the same name, so this is naturally idempotent — real
    failures (missing API, serialization error) must propagate."""
    spark.dataSource.register(nem_csv_data_source())

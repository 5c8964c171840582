"""Continuous ingest as Structured Streaming (SURVEY.md §2.9).

The reference's 'streaming' is micro-batch file-arrival processing with
filename-keyed exactly-once (urls.rs:167-209 60s poll → channel →
worker pools). Spark mapping:

  * file source over the ZIP landing directory (binaryFile) — the
    source's checkpoint IS the reference's `downloaded`/`processed`
    dedup set (M1/M2): each file is processed exactly once across
    restarts, no in-memory HashSet to hydrate.
  * foreachBatch hands the micro-batch's file paths (Hadoop's
    ``file:/...`` form, which sources/fsutil reads) to the same batch
    ingest, sources/nemcsv.ingest, which runs on the driver with
    pyarrow — identical semantics batch vs stream. The stream selects
    only ``path``, so Spark never reads the file contents.
  * the service tick (scripts/run_pipeline.run_once) owns the 60s poll
    cadence; each tick drains what has landed with an availableNow
    trigger.

No watermarks/late-data policy — the reference has none (§2.9): late
files ride the same dedup-by-filename path, and event time only enters
via the filename-derived date= partition.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def drain_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> tuple[list[str], dict[str, int]]:
    """Ingest every ZIP/CSV in ``landing_dir`` that the checkpoint has
    not seen, with the batch pipeline, and block until drained.

    Returns (file names ingested, {table_key: row_count}) — the row
    counts as ``nemcsv.ingest`` reports them after the last micro-batch.
    """
    import os

    from nemscraper_spark.sources.nemcsv import ingest

    names: list[str] = []
    counts: dict[str, int] = {}

    def process_batch(batch_df, epoch_id: int) -> None:
        files = [r.path for r in batch_df.select("path").collect()]
        if files:
            counts.update(ingest(batch_df.sparkSession, files, out_dir))
            names.extend(os.path.basename(f) for f in files)

    (
        spark.readStream.format("binaryFile")
        # streaming sources require an explicit schema — binaryFile's is fixed
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("pathGlobFilter", "*.[zZcC][iIsS][pPvV]*")
        .load(landing_dir)
        .select("path")
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return names, counts

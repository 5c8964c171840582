"""Seeded NEM ZIP feed for the ``ingest`` workload.

Every batch is a set of NEMWEB-style ZIPs, each holding one multi-table
CSV (``C`` header, ``I`` schema rows, ``D`` data rows, ``C`` footer)
with a ``UNIT_MW`` block and a ``REGION_FREQ_MEASURE`` block.  The files
of batch ``b`` alternate between trading days ``b`` and ``b + 1`` after
``FIRST_DAY``: each batch lands files in the partition the previous
batch opened, which already holds a compacted file, and opens the next
one, so every tick after the first does the same work.  From batch
``EVOLVE_BATCH`` on, ``UNIT_MW`` carries one extra column, so
compaction has to merge two schemas.

Row values come from ``numpy.random.default_rng((seed, batch, file))``:
they differ per file and per seed, so the parquet they become compresses
like real data rather than like one repeated row.  The same seed gives
byte-identical ZIPs (fixed member timestamps, no host state).

The feed is served as a ``file://`` HTML directory listing that grows by
one batch per call to :meth:`Feed.publish`.
"""

from __future__ import annotations

import datetime
import os
import zipfile

import numpy as np

FIRST_DAY = datetime.date(2025, 6, 1)
UNITS = [f"UNIT{u:03d}" for u in range(40)]
REGIONS = ["NSW1", "QLD1", "SA1", "TAS1", "VIC1"]
UNIT_TABLE = "FPP---UNIT_MW---1"
FREQ_TABLE = "FPP---REGION_FREQ_MEASURE---1"
EVOLVE_BATCH = 1
_UNIT_COLS = (
    "MEASUREMENT_DATETIME,FPP_UNITID,PARTICIPANTID,MEASURED_MW,"
    "SCHEDULED_MW,MW_QUALITY_FLAG"
)
_EVOLVED_COL = "AVAILABLE_MW"
_ZIP_TIME = (2025, 6, 1, 0, 0, 0)


def _timestamps(rng, date: str, n: int) -> list[str]:
    secs = np.sort(rng.integers(0, 86400, n))
    day = f"{date[:4]}/{date[4:6]}/{date[6:]}"
    return [f"{day} {s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}" for s in secs]


def trading_date(batch: int, file_idx: int) -> str:
    """``YYYYMMDD`` of one file: day ``batch`` or ``batch + 1``."""
    day = FIRST_DAY + datetime.timedelta(days=batch + file_idx % 2)
    return day.strftime("%Y%m%d")


def make_csv(seed: int, batch: int, file_idx: int, rows: int) -> tuple[str, str, dict]:
    """One NEM CSV member.  Returns (member name, text, D-rows by table).
    ``rows`` D-rows split 4:1 between UNIT_MW and REGION_FREQ_MEASURE."""
    rng = np.random.default_rng((seed, batch, file_idx))
    date = trading_date(batch, file_idx)
    n_unit = rows * 4 // 5
    n_freq = rows - n_unit
    evolved = batch >= EVOLVE_BATCH
    unit_cols = _UNIT_COLS + (f",{_EVOLVED_COL}" if evolved else "")
    lines = [
        f"C,NEMP.WORLD,NEXT_DAY_FPP,AEMO,PUBLIC,{date[:4]}/{date[4:6]}/{date[6:]},"
        f"00:00:00,{int(rng.integers(1, 10**15)):016d},,",
        f"I,FPP,UNIT_MW,1,{unit_cols}",
    ]
    units = rng.choice(UNITS, n_unit)
    measured = np.round(rng.normal(120.0, 45.0, n_unit), 3)
    scheduled = np.round(rng.uniform(50.0, 200.0, n_unit), 1)
    flags = rng.integers(0, 3, n_unit)
    for ts, u, m, s, f in zip(
        _timestamps(rng, date, n_unit), units, measured, scheduled, flags
    ):
        # an empty SCHEDULED_MW now and then, as the live feed has
        sched = "" if f == 2 else f"{s}"
        line = f'D,FPP,UNIT_MW,1,"{ts}",{u},{u[:-1]}P,{m},{sched},{f}'
        if evolved:
            line += f",{round(float(s) * 1.1, 1)}"
        lines.append(line)
    lines.append(
        "I,FPP,REGION_FREQ_MEASURE,1,MEASUREMENT_DATETIME,REGIONID,"
        "FREQ_DEVIATION_HZ,HZ_QUALITY_FLAG"
    )
    regions = rng.choice(REGIONS, n_freq)
    dev = np.round(rng.normal(0.0, 0.03, n_freq), 4)
    for ts, r, d in zip(_timestamps(rng, date, n_freq), regions, dev):
        lines.append(f'D,FPP,REGION_FREQ_MEASURE,1,"{ts}",{r},{d},1')
    lines.append(f'C,"END OF REPORT",{rows + 4}')
    # the trading date leads the name: ingest partitions by the first
    # date it finds in the file name
    name = f"PUBLIC_NEXT_DAY_FPP_{date}{batch:03d}{file_idx:02d}_{seed % 10**8:08d}.CSV"
    return name, "\r\n".join(lines) + "\r\n", {UNIT_TABLE: n_unit, FREQ_TABLE: n_freq}


def make_zip(dest_dir: str, seed: int, batch: int, file_idx: int, rows: int) -> dict:
    """Write one deterministic ZIP named after its CSV member; returns
    {"name", "csv_bytes", "d_rows": {table: n}}."""
    name, text, counts = make_csv(seed, batch, file_idx, rows)
    zip_name = name[: -len(".CSV")] + ".zip"
    data = text.encode("ascii")
    info = zipfile.ZipInfo(name, date_time=_ZIP_TIME)
    info.compress_type = zipfile.ZIP_DEFLATED
    info.external_attr = 0o644 << 16
    with zipfile.ZipFile(os.path.join(dest_dir, zip_name), "w") as zf:
        zf.writestr(info, data)
    return {"name": zip_name, "csv_bytes": len(data), "d_rows": counts}


class Feed:
    """A growing ``file://`` feed: ``publish()`` writes the next batch
    of ZIPs under ``root`` and rewrites the listing to link every batch
    so far.  Totals of what was published are kept for the checks."""

    def __init__(self, root: str, seed: int, files_per_batch: int, rows_per_file: int):
        self.root = root
        self.seed = seed
        self.files_per_batch = files_per_batch
        self.rows_per_file = rows_per_file
        self.batches = 0
        self.names: list[str] = []
        self.csv_bytes = 0
        self.d_rows: dict[str, int] = {UNIT_TABLE: 0, FREQ_TABLE: 0}
        os.makedirs(root, exist_ok=True)

    @property
    def url(self) -> str:
        return "file://" + os.path.abspath(os.path.join(self.root, "index.html"))

    def publish(self) -> list[str]:
        batch = self.batches
        new = []
        for f in range(self.files_per_batch):
            info = make_zip(self.root, self.seed, batch, f, self.rows_per_file)
            self.csv_bytes += info["csv_bytes"]
            for table, n in info["d_rows"].items():
                self.d_rows[table] += n
            new.append(info["name"])
        self.names.extend(new)
        self.batches += 1
        links = "\n".join(f'<a href="{n}">{n}</a><br>' for n in self.names)
        tmp = os.path.join(self.root, "index.html.tmp")
        with open(tmp, "w") as fh:
            fh.write(f"<html><body><pre>\n{links}\n</pre></body></html>\n")
        os.replace(tmp, os.path.join(self.root, "index.html"))
        return new

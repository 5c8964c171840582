"""Driver-side feed poller + ZIP fetcher (SURVEY.md §2.1 S1-S3).

Spark doesn't fetch HTTP — like the reference, acquisition is plain
driver code feeding a landing directory that the (batch or streaming)
ingest watches. Reference parity:

  * fetch_feed_links (urls.rs:89-157): GET an HTML directory listing,
    collect a[href$=".zip"], resolve relative URLs; 5 retries / 5s.
  * download_zip (zips.rs:21-111): stream to <name>.tmp then rename
    (atomic publish — a half-written file is never visible to the
    ingest scan); 3 retries with exponential backoff 1<<attempt.
  * poll loop (urls.rs:167-209): round-robin feeds, one fetch per tick.

Dedup against the `downloaded` history ledger happens in the caller
(scripts/run_pipeline.run_once — M1), mirroring main.rs:177-179.
"""

from __future__ import annotations

import os
import re
import time
import urllib.parse
import urllib.request
from collections.abc import Callable, Iterable

FEED_RETRIES = 5  # urls.rs:94-96
FEED_RETRY_DELAY_S = 5.0
DOWNLOAD_RETRIES = 3  # zips.rs:47
_HREF_RE = re.compile(r"""href\s*=\s*["']([^"']+?\.zip)["']""", re.IGNORECASE)


def _default_get(url: str) -> bytes:
    with urllib.request.urlopen(url, timeout=30) as resp:
        return resp.read()


def fetch_feed_links(
    feed_url: str,
    get: Callable[[str], bytes] = _default_get,
    sleep: Callable[[float], None] = time.sleep,
) -> list[str]:
    """All .zip links on an HTML listing page, resolved absolute,
    in page order, deduplicated."""
    last_err: Exception | None = None
    for _ in range(FEED_RETRIES):
        try:
            html = get(feed_url).decode("utf-8", "replace")
            seen: dict[str, None] = {}
            for href in _HREF_RE.findall(html):
                seen.setdefault(urllib.parse.urljoin(feed_url, href), None)
            return list(seen)
        except Exception as e:  # noqa: BLE001 — retry any transport error
            last_err = e
            sleep(FEED_RETRY_DELAY_S)
    raise RuntimeError(f"feed fetch failed after {FEED_RETRIES} tries: {feed_url}") from last_err


def download_zip(
    url: str,
    dest_dir: str,
    get: Callable[[str], bytes] = _default_get,
    sleep: Callable[[float], None] = time.sleep,
) -> dict:
    """Fetch one ZIP into dest_dir with .tmp+rename and exponential
    backoff. Returns {'filename', 'url', 'size_bytes'} (the
    DownloadedRow shape, FIXTURES.md §C)."""
    name = os.path.basename(urllib.parse.urlparse(url).path)
    final = os.path.join(dest_dir, name)
    tmp = final + ".tmp"
    last_err: Exception | None = None
    for attempt in range(DOWNLOAD_RETRIES):
        try:
            data = get(url)
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, final)  # atomic publish (zips.rs:37-57)
            return {"filename": name, "url": url, "size_bytes": len(data)}
        except Exception as e:  # noqa: BLE001
            last_err = e
            sleep(float(1 << attempt))  # 1,2,4s — zips.rs:80
    raise RuntimeError(f"download failed after {DOWNLOAD_RETRIES} tries: {url}") from last_err


def poll_feeds_once(
    feeds: Iterable[str],
    dest_dir: str,
    already_downloaded: Callable[[str], bool] = lambda name: False,
    get: Callable[[str], bytes] = _default_get,
) -> list[dict]:
    """One tick of the poll loop: scan every feed, download unseen ZIPs.
    Returns DownloadedRow dicts for the history ledger."""
    os.makedirs(dest_dir, exist_ok=True)
    rows = []
    for feed in feeds:
        for url in fetch_feed_links(feed, get=get):
            name = os.path.basename(urllib.parse.urlparse(url).path)
            if already_downloaded(name) or os.path.exists(os.path.join(dest_dir, name)):
                continue  # in-flight/finished dedup (main.rs:147-179)
            rows.append(download_zip(url, dest_dir, get=get))
    return rows

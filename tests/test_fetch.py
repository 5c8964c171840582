"""S1-S3 fetcher: link extraction, retry/backoff, atomic download,
poll-tick dedup — all offline via an injected transport."""

from __future__ import annotations

import io
import os
import zipfile

import pytest

from nemscraper_spark.sources.fetch import (
    download_zip,
    fetch_feed_links,
    poll_feeds_once,
)

FEED_HTML = b"""
<html><body>
<a href="/REPORTS/PUBLIC_A_20220720_0001.zip">A</a>
<a href='PUBLIC_B_20220720_0002.ZIP'>B (case)</a>
<a href="notes.txt">not a zip</a>
<a href="/REPORTS/PUBLIC_A_20220720_0001.zip">dup</a>
</body></html>
"""


def _zip_bytes(name: str = "PUBLIC_A.CSV") -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(name, "C,NEMP.WORLD\nI,FPP,UNIT_MW,1,A\nD,FPP,UNIT_MW,1,1\n")
    return buf.getvalue()


ZIP = _zip_bytes()


def test_fetch_feed_links_resolves_and_dedups():
    links = fetch_feed_links(
        "http://feed.example/REPORTS/", get=lambda u: FEED_HTML
    )
    assert links == [
        "http://feed.example/REPORTS/PUBLIC_A_20220720_0001.zip",
        "http://feed.example/REPORTS/PUBLIC_B_20220720_0002.ZIP",
    ]


def test_feed_retries_then_raises():
    calls = []

    def flaky(u):
        calls.append(u)
        raise OSError("down")

    with pytest.raises(RuntimeError):
        fetch_feed_links("http://x/", get=flaky, sleep=lambda s: None)
    assert len(calls) == 5  # urls.rs:94-96


def test_download_atomic_and_backoff(tmp_path):
    attempts = []
    delays = []

    def get(u):
        attempts.append(u)
        if len(attempts) < 3:
            raise OSError("reset")
        return ZIP

    row = download_zip(
        "http://x/PUBLIC_A_20220720_0001.zip",
        str(tmp_path),
        get=get,
        sleep=delays.append,
    )
    assert row["size_bytes"] == len(ZIP)
    assert delays == [1.0, 2.0]  # 1<<attempt (zips.rs:80)
    assert os.path.exists(tmp_path / "PUBLIC_A_20220720_0001.zip")
    assert not os.path.exists(tmp_path / "PUBLIC_A_20220720_0001.zip.tmp")


def test_truncated_download_is_retried_not_published(tmp_path):
    """A payload cut short has no ZIP central directory: it takes the
    backoff path, and the good bytes of the retry are what lands."""
    payloads = [ZIP[: len(ZIP) // 2], ZIP]
    delays = []
    row = download_zip(
        "http://x/PUBLIC_A_20220720_0001.zip",
        str(tmp_path),
        get=lambda u: payloads.pop(0),
        sleep=delays.append,
    )
    assert delays == [1.0]
    assert row["size_bytes"] == len(ZIP)
    assert (tmp_path / "PUBLIC_A_20220720_0001.zip").read_bytes() == ZIP
    assert sorted(os.listdir(tmp_path)) == ["PUBLIC_A_20220720_0001.zip"]


def test_always_truncated_download_fails_and_lands_nothing(tmp_path, monkeypatch):
    from nemscraper_spark.sources import fetch

    real = fetch.download_zip
    monkeypatch.setattr(
        fetch, "download_zip", lambda u, d, get: real(u, d, get=get, sleep=lambda s: None)
    )
    html = b'<a href="PUBLIC_A_20220720_0001.zip">A</a>'
    rows = poll_feeds_once(
        ["http://feed.example/"],
        str(tmp_path),
        get=lambda u: html if u.endswith("/") else ZIP[:-30],
    )
    assert rows == []
    assert [(f["filename"], f["phase"]) for f in rows.failed] == [
        ("PUBLIC_A_20220720_0001.zip", "download")
    ]
    assert "BadZipFile" in rows.failed[0]["reason"]
    assert os.listdir(tmp_path) == []


def test_poll_tick_dedups_against_history_and_disk(tmp_path):
    def get(u):
        return FEED_HTML if u.endswith("/") else ZIP

    seen = {"PUBLIC_A_20220720_0001.zip"}  # the history ledger says: done
    rows = poll_feeds_once(
        ["http://feed.example/REPORTS/"],
        str(tmp_path),
        already_downloaded=lambda n: n in seen,
        get=get,
    )
    assert [r["filename"] for r in rows] == ["PUBLIC_B_20220720_0002.ZIP"]
    # second tick: nothing new (file now on disk)
    rows2 = poll_feeds_once(
        ["http://feed.example/REPORTS/"],
        str(tmp_path),
        already_downloaded=lambda n: n in seen,
        get=get,
    )
    assert rows2 == []


def test_poll_tick_lists_failed_feed_and_download(tmp_path, monkeypatch):
    """A dead feed and a ZIP that never downloads are skipped and listed
    in ``failed``; the other ZIP of the live feed still lands."""
    from nemscraper_spark.sources import fetch

    real = fetch.download_zip
    monkeypatch.setattr(fetch, "FEED_RETRY_DELAY_S", 0.0)
    monkeypatch.setattr(
        fetch, "download_zip", lambda u, d, get: real(u, d, get=get, sleep=lambda s: None)
    )

    def get(u):
        if u.startswith("http://dead.example/"):
            raise OSError("down")
        if u.endswith("/"):
            return FEED_HTML
        if "PUBLIC_A" in u:
            raise OSError("reset")
        return ZIP

    rows = poll_feeds_once(
        ["http://dead.example/", "http://feed.example/REPORTS/"], str(tmp_path), get=get
    )
    assert [r["filename"] for r in rows] == ["PUBLIC_B_20220720_0002.ZIP"]
    assert rows.failed == [
        {"filename": "http://dead.example/", "reason": "OSError: down", "phase": "poll"},
        {"filename": "PUBLIC_A_20220720_0001.zip", "reason": "OSError: reset", "phase": "download"},
    ]

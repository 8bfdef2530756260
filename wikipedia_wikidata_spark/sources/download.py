"""S1 — dump download source (steps/wikipedia_download.sh:20-34,55-67,
steps/wikidata_download.sh:17-47), re-expressed as a Python module.

The reference's ``download()`` is a wget wrapper: skip-if-exists, 3 tries,
empty-file loud fail (delete + exit 1), then an md5 verify against the
sidecar ``md5sums-*.txt`` published next to each dump. This module keeps
exactly those semantics on the stdlib (urllib) so it is testable offline
against ``file://`` fixture trees — no network in tests, none in the
sandbox — and adds the one capability wget gave the reference for free
that urllib does not: byte-range resume of a partial file.

Scale note: downloading is EDGE work, not cluster work — one landed file
per (language, table) at most a few GB. On a real deployment these calls
run on an ingest node (or a handful of driver-side tasks); the cluster
then reads the landed ``.sql.gz`` through sources/mysqldump.py (S3), which
is where the parallelism lives. Nothing here touches a SparkSession.
"""

from __future__ import annotations

import hashlib
import os
import time
import urllib.error
import urllib.request

USER_AGENT = "wws-spark-bot/1 (+https://github.com/osm-search/wikipedia-wikidata)"

#: the five per-language tables the reference lands
#: (steps/wikipedia_download.sh:56).
WIKIPEDIA_TABLES = (
    "page.sql.gz",
    "pagelinks.sql.gz",
    "langlinks.sql.gz",
    "linktarget.sql.gz",
    "redirect.sql.gz",
)


TRIES = 3  # attempts per file (the reference's wget --tries=3)


class DownloadError(RuntimeError):
    """Loud failure — empty body, md5 mismatch, or tries exhausted."""


def _md5_of(path: str) -> str:
    h = hashlib.md5()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def download(
    url: str,
    out_path: str,
    *,
    skip_if_exists: bool = True,
    resume: bool = True,
    backoff_s: float = 0.0,
) -> str:
    """Fetch ``url`` to ``out_path`` with the reference's semantics.

    - existing non-empty file -> skip (idempotent re-runs, the reference's
      ``if [ -e "$2" ]`` guard);
    - up to TRIES attempts;
    - an empty final body is DELETED and raised, never left to poison a
      later skip-if-exists run (wikipedia_download.sh:29-33);
    - a partial file from a failed attempt resumes via Range (the wget
      behavior urllib lacks); servers that ignore Range restart cleanly.
    """
    if skip_if_exists and os.path.exists(out_path) and os.path.getsize(out_path) > 0:
        return out_path
    os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
    part = out_path + ".part"
    last_err: Exception | None = None
    for attempt in range(TRIES):
        try:
            offset = os.path.getsize(part) if resume and os.path.exists(part) else 0
            req = urllib.request.Request(url, headers={"User-Agent": USER_AGENT})
            if offset:
                req.add_header("Range", f"bytes={offset}-")
            with urllib.request.urlopen(req) as resp:
                # 206 honors the Range; anything else is a full body and the
                # partial file must be discarded (file:// always replays)
                partial_ok = getattr(resp, "status", 200) == 206
                mode = "ab" if (offset and partial_ok) else "wb"
                with open(part, mode) as f:
                    while True:
                        chunk = resp.read(1 << 20)
                        if not chunk:
                            break
                        f.write(chunk)
            if os.path.getsize(part) == 0:
                os.remove(part)
                raise DownloadError(f"downloaded file {out_path} is empty")
            os.replace(part, out_path)  # atomic: no half-visible landed file
            return out_path
        except (urllib.error.URLError, OSError, DownloadError) as e:
            last_err = e
            if backoff_s:
                time.sleep(backoff_s * (attempt + 1))
    raise DownloadError(f"download failed after {TRIES} tries: {url}") from last_err


def download_verified(url: str, out_path: str, md5_url: str, **kw) -> str:
    """download() + sidecar md5 verify (wikipedia_download.sh:61-67).

    The sidecar's first whitespace-separated token is the digest (the
    reference's ``cut -d\\  -f1``). Mismatch deletes the landed file and
    raises — a later re-run must re-fetch, not trust a broken body.
    """
    download(url, out_path, **kw)
    md5_path = out_path + ".md5"
    download(md5_url, md5_path, skip_if_exists=False)
    with open(md5_path) as f:
        expected = f.read().split()[0]
    actual = _md5_of(out_path)
    if expected != actual:
        os.remove(out_path)
        raise DownloadError(
            f"md5 mismatch for {out_path}: expected {expected}, got {actual}"
        )
    return out_path


def download_wikipedia_tables(
    base_url: str,
    out_dir: str,
    languages: list[str],
    date: str,
    tables: tuple[str, ...] = WIKIPEDIA_TABLES,
    verify_md5: bool = True,
) -> list[str]:
    """Land the per-language table dumps using the reference's URL layout
    ``{base}/{lang}wiki/{date}/{lang}wiki-{date}-{table}`` with the
    ``md5sums-…`` sidecar next to each (wikipedia_download.sh:55-59).
    Returns the landed paths in deterministic (language, table) order.
    """
    landed = []
    for lang in languages:
        for table in tables:
            fn = f"{lang}wiki-{date}-{table}"
            url = f"{base_url}/{lang}wiki/{date}/{fn}"
            out = os.path.join(out_dir, lang, table)
            if verify_md5:
                md5_url = f"{base_url}/{lang}wiki/{date}/md5sums-{fn}.txt"
                download_verified(url, out, md5_url)
            else:
                download(url, out)
            landed.append(out)
    return landed

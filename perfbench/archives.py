"""Deterministic `.warc.gz` writer for the benchmark's `warc_cdx` input.

Serializes PAGES_SCHEMA row dicts (``pages_gen.bulk_rows`` and
``pages_gen.edge_case_rows``) into record-per-member gzip archives and
records, while writing, the byte offset and compressed size of every
record.  The returned rows describe each record exactly as it was
written -- the header map, the date string and the payload -- so the
row oracle (``oracle.oracle_cdx``) computes the expected CDX without
using the parser under test.

A row is written only if WARC bytes can carry it unchanged: its header
values must survive the parser's one-line-per-header split and
whitespace strip, and its ``content_length`` must equal the payload
length (the parser slices the payload by the ``Content-Length`` header).
"""

from __future__ import annotations

import gzip
import os

# characters str.splitlines() breaks a latin-1 header line on
_LINE_BREAKS = frozenset("\n\r\x0b\x0c\x1c\x1d\x1e\x85")


def _header_ok(value: str) -> bool:
    return (value == value.strip()
            and not _LINE_BREAKS.intersection(value)
            and all(ord(c) < 256 for c in value))


def warc_date(row: dict) -> str | None:
    """The WARC-Date the row is written with: its raw date verbatim,
    else its capture timestamp as ISO-8601 UTC."""
    if row.get("raw_date") is not None:
        return row["raw_date"]
    ts = row.get("warc_ts")
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ") if ts is not None else None


def record_headers(row: dict) -> dict[str, str] | None:
    """The WARC header map written for ``row`` (insertion order is the
    written order), or None when the row cannot be written faithfully."""
    body = row.get("html") or b""
    if row.get("content_length") != len(body):
        return None
    headers = {"WARC-Type": row["record_type"]}
    if row.get("url") is not None:
        headers["WARC-Target-URI"] = row["url"]
    date = warc_date(row)
    if date is not None:
        headers["WARC-Date"] = date
    if row.get("content_type") is not None:
        headers["Content-Type"] = row["content_type"]
    for k, v in (row.get("warc_headers") or {}).items():
        if k in headers or k == "Content-Length":
            return None
        headers[k] = v
    headers["Content-Length"] = str(len(body))
    if not all(_header_ok(k) and _header_ok(v) and ":" not in k
               for k, v in headers.items()):
        return None
    return headers


def record_bytes(headers: dict[str, str], body: bytes) -> bytes:
    head = "WARC/1.0\r\n" + "".join(
        f"{k}: {v}\r\n" for k, v in headers.items()) + "\r\n"
    return head.encode("latin1") + body + b"\r\n\r\n"


def write_archives(rows: list[dict], out_dir: str) -> list[dict]:
    """Write ``rows`` grouped by their ``warc_file`` (one archive per
    name, rows in list order, one gzip member per record) under
    ``out_dir``.  Returns the written records in file order, each a row
    dict as the parser should see it: ``raw_date`` is the written
    WARC-Date, ``warc_headers`` the full written header map, and
    ``offset`` / ``compressed_size`` the member's position in its file.
    Rows that cannot be written faithfully are skipped."""
    os.makedirs(out_dir, exist_ok=True)
    by_file: dict[str, list[dict]] = {}
    for row in rows:
        by_file.setdefault(row["warc_file"], []).append(row)
    written: list[dict] = []
    for name in sorted(by_file):
        offset = 0
        with open(os.path.join(out_dir, name), "wb") as f:
            for row in by_file[name]:
                headers = record_headers(row)
                if headers is None:
                    continue
                body = row.get("html") or b""
                member = gzip.compress(record_bytes(headers, body),
                                       compresslevel=6, mtime=0)
                f.write(member)
                written.append({
                    "url": row.get("url"),
                    "warc_ts": None,
                    "raw_date": headers.get("WARC-Date"),
                    "record_type": row["record_type"],
                    "content_type": row.get("content_type"),
                    "html": body,
                    "warc_headers": headers,
                    "content_length": len(body),
                    "compressed_size": len(member),
                    "offset": offset,
                    "warc_file": name,
                })
                offset += len(member)
    return written

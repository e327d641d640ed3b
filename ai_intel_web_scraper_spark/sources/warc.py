"""WARC (ISO 28500) record source — the web-archive interchange format
Common Crawl ships, which a crawl engine must both emit and ingest. This
module covers the ingest side for PLAIN (non-gzip) WARC files: parse the
record framing (version line, named headers, Content-Length-delimited
content block, CRLF CRLF record separator) into one row per record.

Scale shape: archives arrive as opaque binary values (one per source
file/segment); parsing is a narrow Arrow mapInPandas — archive bytes
never cross a shuffle, only the (much smaller) parsed rows flow on. A
TRUNCATED archive degrades: every record before the cut parses normally
and ONE parse_ok=false row accounts for the tail (the invalid-metric
accounting convention of sources/records.py) — never a task failure.

Reference: the reference scraper has no archive interchange at all
(JSON dumps only); WARC is the industry form of the same need.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WARC_RECORDS_SCHEMA = ("archive_id string, record_id string, "
                       "warc_type string, target_uri string, "
                       "warc_date string, content_length long, "
                       "content binary, parse_ok boolean")


def parse_warc(data: bytes) -> tuple[list[tuple], bool]:
    """Parse one plain-WARC blob. Returns (records, clean_eof): records
    as (record_id, warc_type, target_uri, warc_date, content_length,
    content) tuples; clean_eof False when the blob ends mid-record
    (framing violation, missing bytes, or garbage between records)."""
    records: list[tuple] = []
    pos, n = 0, len(data)
    while pos < n:
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            return records, False
        head = data[pos:head_end]
        lines = head.split(b"\r\n")
        if not lines or not lines[0].startswith(b"WARC/"):
            return records, False
        fields: dict[str, str] = {}
        for ln in lines[1:]:
            k, sep, v = ln.partition(b":")
            if not sep:
                return records, False
            fields[k.strip().lower().decode("ascii", "replace")] = (
                v.strip().decode("utf-8", "replace"))
        try:
            clen = int(fields["content-length"])
        except (KeyError, ValueError):
            return records, False
        body_start = head_end + 4
        body_end = body_start + clen
        # content block + the mandatory two CRLF record separators
        if body_end + 4 > n:
            return records, False
        if data[body_end:body_end + 4] != b"\r\n\r\n":
            return records, False
        records.append((fields.get("warc-record-id"),
                        fields.get("warc-type"),
                        fields.get("warc-target-uri"),
                        fields.get("warc-date"),
                        clen, data[body_start:body_end]))
        pos = body_end + 4
    return records, True


def build_warc(records: list[tuple]) -> bytes:
    """The emit side: serialize (record_id, warc_type, target_uri,
    warc_date, content: bytes) tuples into one plain-WARC blob —
    deterministic byte layout (fixed header order), so round-trips and
    digests are reproducible."""
    out = []
    for record_id, warc_type, target_uri, warc_date, content in records:
        head = [b"WARC/1.0"]
        head.append(b"WARC-Record-ID: " + record_id.encode())
        head.append(b"WARC-Type: " + warc_type.encode())
        if target_uri is not None:
            head.append(b"WARC-Target-URI: " + target_uri.encode())
        head.append(b"WARC-Date: " + warc_date.encode())
        head.append(b"Content-Length: " + str(len(content)).encode())
        out.append(b"\r\n".join(head) + b"\r\n\r\n" + content + b"\r\n\r\n")
    return b"".join(out)


def read_warc_records(archives: DataFrame,
                      id_col: str = "archive_id",
                      bytes_col: str = "warc_bytes") -> DataFrame:
    """One row per WARC record across all archives, plus one
    parse_ok=false accounting row per archive whose blob ends
    mid-record. Narrow map; blob bytes never shuffle."""
    import pandas as pd

    def fn(iterator):
        for pdf in iterator:
            rows = []
            for aid, raw in zip(pdf[id_col], pdf[bytes_col]):
                recs, clean = parse_warc(bytes(raw))
                for rid, wtype, uri, date, clen, content in recs:
                    rows.append((aid, rid, wtype, uri, date, clen,
                                 content, True))
                if not clean:
                    rows.append((aid, None, None, None, None, None,
                                 None, False))
            out = pd.DataFrame(rows, columns=[
                "archive_id", "record_id", "warc_type", "target_uri",
                "warc_date", "content_length", "content", "parse_ok"])
            # content_length is small, but pin the nullable-int dtype
            # anyway (the repo-wide pandas None->float64 rule)
            out["content_length"] = pd.array([r[5] for r in rows],
                                             dtype="Int64")
            yield out
    return (archives.select(F.col(id_col), F.col(bytes_col))
            .mapInPandas(fn, schema=WARC_RECORDS_SCHEMA))


def http_response_body(content_col) -> F.Column:
    """Body of an HTTP response content block (everything after the
    FIRST CRLF CRLF — substring_index(-1) would split on the last and
    corrupt bodies that themselves contain blank lines), NULL when no
    header/body boundary exists. Native exprs, no UDF."""
    s = F.col(content_col).cast("string") if isinstance(
        content_col, str) else content_col.cast("string")
    at = F.locate("\r\n\r\n", s)
    return F.when(at > 0, F.substr(s, at + F.lit(4))).otherwise(
        F.lit(None).cast("string"))

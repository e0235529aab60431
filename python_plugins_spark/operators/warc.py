"""WARC (ISO 28500) web-archive records — the crawl INGESTION front
door, pure stdlib.

A 100 TB training corpus starts life as .warc.gz crawl archives
(CommonCrawl's format): per-record gzip MEMBERS concatenated into one
file, each member a WARC record — version line, CRLF header block,
``Content-Length`` octet count, payload, blank-line terminator.
Response records nest a full HTTP message (status line + headers +
body) inside the WARC payload. This module implements both directions:

- :func:`build_warc` — writer: records as individual gzip members
  (the layout that makes per-record random access and parallel range
  splits possible at scale) or uncompressed concatenation.
- :func:`parse_warc` — reader: multi-member gzip detection, header
  parse, STRICT Content-Length payload extraction (binary-safe — a
  ``\\r\\n\\r\\n`` inside the body must NOT terminate it; delimiter
  scanning is exactly the bug class the octet count exists to
  prevent), and HTTP envelope split for response records.

Spark shape: the standard multimodal convention — archives are opaque
``binary`` payloads, synthesis and extraction are per-row functions in
one Arrow row map (``transform.map_rows``), zero shuffles at any
corpus size. The
registry query (``warc_extract_records``) hash-checks the extracted
HTTP body bytes (md5) against a DuckDB oracle that reconstructs the
same bytes from the table columns — byte-exact extraction, not
plausible extraction.
"""

from __future__ import annotations

import gzip
import hashlib
import io

from python_plugins_spark.operators.transform import map_rows

_CRLF = b"\r\n"


def build_warc(
    records: list[tuple[dict, bytes]], per_record_gzip: bool = True
) -> bytes:
    """Serialize ``[(headers, payload), ...]`` into WARC bytes.

    ``headers`` must include ``WARC-Type``; ``Content-Length`` is
    computed here (octets, always correct by construction). With
    ``per_record_gzip`` each record is its own gzip member — the
    CommonCrawl layout."""
    out = bytearray()
    for headers, payload in records:
        rec = bytearray(b"WARC/1.0" + _CRLF)
        if "WARC-Type" not in headers:
            raise ValueError("record needs a WARC-Type header")
        for k, v in headers.items():
            rec += f"{k}: {v}".encode() + _CRLF
        rec += f"Content-Length: {len(payload)}".encode() + _CRLF
        rec += _CRLF
        rec += payload
        rec += _CRLF + _CRLF  # record terminator
        if per_record_gzip:
            buf = io.BytesIO()
            # mtime pinned: bit-deterministic archives across runs
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(bytes(rec))
            out += buf.getvalue()
        else:
            out += rec
    return bytes(out)


def _gunzip_members(data: bytes) -> bytes:
    """Decompress ALL concatenated gzip members (a single GzipFile
    read handles multi-member streams per RFC 1952). Truncated or
    corrupt members raise ValueError — the module's refusal contract —
    instead of leaking EOFError / zlib.error to the caller."""
    import zlib

    try:
        with gzip.GzipFile(fileobj=io.BytesIO(data)) as gz:
            return gz.read()
    except (EOFError, zlib.error, gzip.BadGzipFile, OSError) as exc:
        raise ValueError(f"truncated or corrupt gzip member: {exc}") from exc


def parse_warc(data: bytes) -> list[dict]:
    """Parse WARC bytes (gzipped or plain) into a list of records:
    ``{"headers": {...}, "payload": bytes}`` plus, for records whose
    payload is an HTTP message (``application/http``), the split
    envelope: ``http_status`` (int), ``http_headers`` (dict) and
    ``body`` (bytes). Malformed input raises ``ValueError``."""
    raw = bytes(data)
    if raw[:2] == b"\x1f\x8b":
        raw = _gunzip_members(raw)
    records = []
    pos = 0
    while pos < len(raw):
        # tolerate inter-record padding blank lines
        while raw[pos: pos + 2] == _CRLF:
            pos += 2
        if pos >= len(raw):
            break
        eol = raw.find(_CRLF, pos)
        if eol < 0 or not raw[pos:eol].startswith(b"WARC/"):
            raise ValueError(f"expected WARC version line at offset {pos}")
        pos = eol + 2
        headers: dict[str, str] = {}
        while True:
            eol = raw.find(_CRLF, pos)
            if eol < 0:
                raise ValueError("truncated WARC header block")
            line = raw[pos:eol]
            pos = eol + 2
            if not line:
                break  # blank line: payload follows
            k, _, v = line.partition(b":")
            headers[k.strip().decode("utf-8")] = v.strip().decode("utf-8")
        if "Content-Length" not in headers:
            raise ValueError("WARC record missing Content-Length")
        n = int(headers["Content-Length"])
        payload = raw[pos: pos + n]
        if len(payload) != n:
            raise ValueError("WARC payload shorter than Content-Length")
        pos += n
        if raw[pos: pos + 4] != _CRLF + _CRLF:
            raise ValueError("WARC record missing CRLF CRLF terminator")
        pos += 4
        rec: dict = {"headers": headers, "payload": payload}
        if "application/http" in headers.get("Content-Type", ""):
            rec.update(_split_http(payload))
        records.append(rec)
    return records


def _split_http(payload: bytes) -> dict:
    """Split an HTTP message into status/headers/body. The body is
    everything after the FIRST header-terminating blank line — but
    header values themselves cannot contain CRLF, so this split is
    exact even when the body contains CRLF CRLF sequences."""
    sep = payload.find(_CRLF + _CRLF)
    if sep < 0:
        raise ValueError("HTTP payload missing header terminator")
    head = payload[:sep].split(_CRLF)
    status_line = head[0].decode("utf-8", "replace")
    parts = status_line.split(" ", 2)
    status = int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else None
    http_headers = {}
    for line in head[1:]:
        k, _, v = line.partition(b":")
        http_headers[k.strip().decode("utf-8", "replace").lower()] = v.strip().decode(
            "utf-8", "replace"
        )
    return {
        "http_status": status,
        "http_headers": http_headers,
        "body": payload[sep + 4:],
    }


# ------------------------------------------------------- Spark operators


_ID = {"warcinfo": "info", "request": "req", "response": "resp"}
_INFO = b"software: python_plugins_spark warc writer\r\n"


def _record(wtype: str, tag, payload: bytes, uri: str | None = None) -> tuple[dict, bytes]:
    """One ``(headers, payload)`` record of the writer's crawl
    exchanges; only ``warcinfo`` records have no target URI."""
    headers = {"WARC-Type": wtype, "WARC-Record-ID": f"<urn:uuid:{_ID[wtype]}-{tag}>"}
    if uri is None:
        headers["Content-Type"] = "application/warc-fields"
    else:
        headers["WARC-Target-URI"] = uri
        headers["Content-Type"] = f"application/http;msgtype={wtype}"
    return headers, payload


def _http_200(ctype: str, body: bytes) -> bytes:
    return (
        f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\nContent-Length: {len(body)}".encode("ascii")
        + _CRLF + _CRLF + body
    )


def synth_warc_payloads(
    df,
    id_col: str = "doc_id",
    body_col: str | None = None,
    path_col: str | None = None,
    ctype_col: str | None = None,
):
    """Per-row .warc.gz archive of a 3-record crawl exchange
    (warcinfo + request + response), REAL writer. Default fixture: the
    response body deliberately CONTAINS a CRLF CRLF sequence, so only
    Content-Length-exact extraction reproduces its md5 — delimiter
    scanning fails the hash. With ``body_col``/``path_col`` the
    caller supplies the HTTP body (served as text/html) and the URI
    path — the crawl-pipeline capstone threads its HTML fixture and
    robots-relevant path THROUGH the archive this way, so downstream
    stages consume what the parser actually recovered. A BINARY
    ``body_col`` is served byte-exact (real crawls carry images/PDFs,
    not just text); ``ctype_col`` overrides the served HTTP
    Content-Type per row. One Arrow row map (``transform.map_rows``)."""
    in_cols = [id_col, "source", body_col or "text"] + [c for c in (path_col, ctype_col) if c]

    def synth(rid, source, text, *opt):
        path = opt[0] if path_col else f"/doc/{rid}"
        if body_col:
            body = text if isinstance(text, bytes) else str(text).encode("utf-8")
            served = str(opt[-1]) if ctype_col else "text/html; charset=utf-8"
        else:
            body = f"doc {rid} from {source}\r\n\r\n{text}".encode("utf-8")
            served = "text/plain; charset=utf-8"
        uri = f"http://{source}.example{path}"
        req = f"GET {path} HTTP/1.1\r\nHost: {source}.example\r\n\r\n".encode()
        yield rid, build_warc([
            _record("warcinfo", rid, _INFO),
            _record("request", rid, req, uri),
            _record("response", rid, _http_200(served, body), uri),
        ])

    return map_rows(df, in_cols, f"`{id_col}` long, payload binary", synth)


def write_warc_files(df, out_dir: str, id_col: str = "doc_id"):
    """Write ONE .warc.gz FILE per ``source`` group — each file the
    concatenation of its documents' 3-record exchanges as per-record
    gzip members (the CommonCrawl archive layout), records ordered by
    id and mtime pinned to 0, so the archive BYTES are deterministic
    across runs. Executor-side writes (``applyInArrow`` per group); the
    returned frame is the write manifest (source, file, n_docs)."""
    import os

    import pyarrow as pa

    def write_group(key, table):
        source = key[0].as_py()
        table = table.sort_by(id_col)
        recs = [_record("warcinfo", source, _INFO)]
        for rid, text in zip(table[id_col].to_pylist(), table["text"].to_pylist()):
            body = f"doc {rid} from {source}\r\n\r\n{text}".encode("utf-8")
            http = _http_200("text/plain; charset=utf-8", body)
            recs.append(_record("response", rid, http, f"http://{source}.example/doc/{rid}"))
        path = os.path.join(out_dir, f"crawl-{source}.warc.gz")
        with open(path, "wb") as fh:
            fh.write(build_warc(recs))
        return pa.table({"source": [source], "file": [path], "n_docs": [table.num_rows]})

    os.makedirs(out_dir, exist_ok=True)
    return (
        df.select(id_col, "source", "text")
        .groupBy("source")
        .applyInArrow(write_group, "source string, file string, n_docs long")
    )


def _decode_body(raw: bytes) -> tuple[str, bool]:
    """UTF-8 decode with a validity flag: real crawls carry binary
    responses (images, PDFs), which must FLAG, not crash — invalid
    sequences become U+FFFD and body_utf8_ok goes false so a
    downstream gate can route them (valid text is untouched)."""
    try:
        return raw.decode("utf-8"), True
    except UnicodeDecodeError:
        return raw.decode("utf-8", "replace"), False


def _head(r: dict) -> tuple:
    """(target URI, HTTP status, Content-Type) of a response record."""
    return (
        r["headers"]["WARC-Target-URI"],
        int(r["http_status"]),
        r.get("http_headers", {}).get("content-type"),
    )


def _one_response(payload: bytes) -> tuple[list[dict], dict]:
    """Every record of a one-exchange archive, and its one response."""
    recs = parse_warc(payload)
    resp = [r for r in recs if r["headers"].get("WARC-Type") == "response"]
    if len(resp) != 1:
        raise ValueError(f"expected exactly one response record, got {len(resp)}")
    return recs, resp[0]


def read_warc(spark, path: str):
    """Batch source over .warc.gz FILES on disk (``binaryFile`` scan ->
    per-file archive parse): one output row per RESPONSE record with
    (warc_file, target_uri, http_status, body_bytes, body_md5, body).
    Parallelism unit is the FILE — the CommonCrawl layout keeps
    archives ~1 GB each, so a 100 TB crawl is ~100k files = 100k
    tasks, plenty of parallelism without splitting inside a file (the
    per-record gzip members WOULD allow offset-indexed range reads; a
    member index sidecar is the documented upgrade path if single
    files ever dominate). Malformed archives raise ValueError with
    the file path named; binary (non-UTF-8) bodies flag
    ``body_utf8_ok = false`` with the HTTP Content-Type surfaced so a
    downstream gate can route them."""

    def parse(fpath, content):
        try:
            recs = parse_warc(content)
        except ValueError as exc:
            raise ValueError(f"{fpath}: {exc}") from exc
        for r in recs:
            if r["headers"].get("WARC-Type") == "response":
                body = r["body"]
                yield (fpath, *_head(r), len(body), hashlib.md5(body).hexdigest(),
                       *_decode_body(body))

    files = spark.read.format("binaryFile").load(path)
    return map_rows(
        files, ["path", "content"],
        "warc_file string, target_uri string, http_status int, content_type string, "
        "body_bytes long, body_md5 string, body string, body_utf8_ok boolean",
        parse,
    )


def extract_warc_bodies(
    df, id_col: str = "doc_id", payload_col: str = "payload"
):
    """REAL .warc.gz parse per row, returning the response record's
    target URI, HTTP status, Content-Type, raw octet count, and the
    DECODED body text — the capstone front door that feeds HTML
    extraction (extract_warc_records is the md5-census sibling used
    for byte-exactness checks). Binary bodies flag
    ``body_utf8_ok = false`` (U+FFFD replacement) instead of crashing,
    with the Content-Type surfaced so a downstream gate can route
    non-text records. Arrow-batched narrow map; zero shuffles."""

    def extract(rid, payload):
        _, r = _one_response(payload)
        body, ok = _decode_body(r["body"])
        yield (rid, *_head(r), body, len(r["body"]), ok)

    return map_rows(
        df, [id_col, payload_col],
        f"`{id_col}` long, target_uri string, http_status int, content_type string, "
        "body string, body_bytes long, body_utf8_ok boolean",
        extract,
    )


def extract_warc_records(df, id_col: str = "doc_id", payload_col: str = "payload"):
    """REAL .warc.gz parse per row: record census + the response
    record's target URI, HTTP status, Content-Type, exact body octet
    count, body md5 (the byte-exactness witness), and the UTF-8
    validity flag a binary-vs-text router branches on."""

    def extract(rid, payload):
        recs, r = _one_response(payload)
        body = r["body"]
        yield (rid, len(recs), *_head(r), len(body), hashlib.md5(body).hexdigest(),
               _decode_body(body)[1])

    return map_rows(
        df, [id_col, payload_col],
        f"`{id_col}` long, n_records int, target_uri string, http_status int, "
        "content_type string, body_bytes long, body_md5 string, body_utf8_ok boolean",
        extract,
    )

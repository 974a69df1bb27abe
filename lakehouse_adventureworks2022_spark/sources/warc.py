"""WARC (Web ARChive, ISO 28500) ingestion — the container format the
raw-crawl front door actually receives (CommonCrawl and every serious
crawler ship `.warc`/`.warc.gz` files), completing the r10/r11 web
pipeline: WARC records → (url, html) pages → ``canonicalize_urls`` /
``dedup_urls`` → ``extract_html_text`` → ``prepare_web_corpus``.

Public-spec, stdlib-only parsing (same posture as the ISO-BMFF parser
in ``operators/mp4.py``): a WARC file is a sequence of records —

    WARC/1.0\\r\\n
    <Name: value>\\r\\n ...\\r\\n
    \\r\\n
    <Content-Length bytes of block>\\r\\n\\r\\n

``response`` records carry a full HTTP response as the block (status
line + headers + payload). ``.warc.gz`` files are per-RECORD gzip
members concatenated (the spec's recommendation, so a reader can seek
to a record without inflating the whole file); the decoder walks the
members with ``zlib`` and also accepts a whole-file single member.

Scale shape: the unit of parallelism is the WARC FILE (the standard
crawl layout is many ~1 GB files — a CommonCrawl snapshot is ~64k of
them, far more than any executor count), read via Spark's
``binaryFile`` source and parsed in Arrow batches. All record-level
work after parsing is ordinary DataFrame code. Parsing closures are
built by value (the ``_build_kll_ops`` pattern) so the driver contract
works from any cwd — workers never import this package.

Malformed input refuses loudly (truncated record, bad version line,
missing Content-Length) — a corrupt crawl file is an upstream incident
to surface, not data to guess at; quarantine policy belongs to the
caller (split the file list and retry, the ``sources/formats.py``
convention at file granularity).

Reference parity note: the reference pipeline (racenak/
lakehouse-adventureworks2022) has no web-crawl surface at all — this
module is part of the beyond-reference training-data layer, same scope
as ``operators/textops.py``'s extraction tier.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: one row per WARC record. ``payload_digest`` is the crawler's own
#: ``WARC-Payload-Digest`` header (``<algo>:<value>``, e.g. the digest
#: a ``revisit`` record carries instead of a payload) — the cheapest
#: crawl-level dedup key, surfaced verbatim. ``http_content_encoding``
#: is non-NULL only when an HTTP payload arrived under a
#: ``Content-Encoding`` the parser could NOT inflate (gzip/deflate are
#: inflated in place and report NULL) — downstream text paths filter on
#: it so compressed bytes never masquerade as text.
WARC_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("source_file", T.StringType()),
        T.StructField("record_id", T.StringType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("http_content_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("payload_digest", T.StringType()),
        T.StructField("http_content_encoding", T.StringType()),
        # byte range of the record inside its source file — the CDX
        # index columns that make range-request fetching possible
        # (``curl -r offset,offset+length-1``): for ``.warc.gz`` the
        # COMPRESSED gzip member's range (the spec's one-record-per-
        # member layout; NULL for a whole-file single member, where no
        # per-record range exists); for plain ``.warc`` the record's
        # own bytes (version line through block end)
        T.StructField("record_offset", T.LongType()),
        T.StructField("record_length", T.LongType()),
    ]
)


def build_warc_codec():
    """Factory returning ``{"parse": bytes -> list[tuple], "write":
    list[dict] -> bytes}`` as by-value closures (cloudpickle serializes
    nested functions by value, so executors never need this package
    importable — the foreign-cwd driver-contract hazard).

    ``parse`` yields one tuple per record in :data:`WARC_RECORD_SCHEMA`
    order (minus ``source_file``, which the caller prepends); for
    non-HTTP records ``http_status``/``http_content_type`` are None and
    ``payload`` is the raw block. ``write`` builds a spec-shaped WARC
    byte string from ``[{"uri", "date", "record_id", "body",
    "status"}, ...]`` response records (+ one leading warcinfo record),
    gzipping each record as its own member when ``gzip_members=True``.
    """

    def _gunzip_members(data: bytes) -> list[tuple[int, int, bytes]]:
        """(compressed_offset, compressed_length, decompressed_bytes)
        per gzip member — member ranges ARE the CDX record ranges under
        the spec's one-record-per-member layout."""
        import zlib

        n = len(data)
        out = []
        rest = data
        while rest[:2] == b"\x1f\x8b":
            start = n - len(rest)
            d = zlib.decompressobj(wbits=31)
            chunk = d.decompress(rest)
            if not d.eof:
                raise ValueError("truncated gzip member in WARC file")
            rest = d.unused_data
            out.append((start, (n - len(rest)) - start, chunk))
        if rest:
            raise ValueError(
                f"{len(rest)} trailing non-gzip bytes after gzip members"
            )
        return out

    def _split_http(block: bytes, headers_only_ok: bool = False):
        """(status, content_type, content_encoding, payload). gzip and
        deflate payloads are inflated HERE (real crawl WARCs commonly
        store the wire bytes, Content-Encoding and all — mojibake
        'html' downstream otherwise); encodings the stdlib cannot
        inflate (br, zstd, ...) keep the raw bytes and report the
        encoding token so callers can gate on it. ``headers_only_ok``
        accepts a block that is just protocol headers with no body
        terminator — the shape ``revisit`` records ship."""
        import zlib

        sep = block.find(b"\r\n\r\n")
        if sep < 0:
            if not headers_only_ok:
                raise ValueError("HTTP block without header terminator")
            head, payload = block, b""
        else:
            head, payload = block[:sep], block[sep + 4 :]
        lines = head.split(b"\r\n")
        first = lines[0].split(b" ", 2)
        if len(first) < 2 or not first[0].startswith(b"HTTP/"):
            raise ValueError(f"bad HTTP status line {lines[0]!r}")
        status = int(first[1])
        ctype = cenc = None
        for line in lines[1:]:
            k, _, v = line.partition(b":")
            key = k.strip().lower()
            if key == b"content-type":
                ctype = v.strip().decode("utf-8", "replace")
            elif key == b"content-encoding":
                cenc = v.strip().decode("ascii", "replace").lower()
        # inflate failures must NOT raise: a truncated/corrupt member, or
        # wire bytes still framed by chunked Transfer-Encoding (common in
        # wire-capture WARCs), would otherwise abort the whole FILE's
        # parse — and under warc_incremental_ingest's one-job batch, the
        # whole batch. On failure keep the raw bytes and LEAVE the
        # Content-Encoding token so the downstream gate (warc_pages /
        # web_corpus_from_warc filters http_content_encoding) excludes
        # the row instead of the job dying (r12 ADVICE).
        if payload and cenc in ("gzip", "x-gzip"):
            try:
                chunks, rest, ok = [], payload, True
                while rest:
                    d = zlib.decompressobj(wbits=47)
                    chunks.append(d.decompress(rest))
                    if not d.eof:  # truncated member: no error, no eof
                        ok = False
                        break
                    rest = d.unused_data
                if ok:
                    payload, cenc = b"".join(chunks), None
            except zlib.error:
                pass
        elif payload and cenc == "deflate":
            try:
                payload, cenc = zlib.decompress(payload), None
            except zlib.error:
                try:
                    # some servers send raw-deflate under the token
                    d = zlib.decompressobj(wbits=-15)
                    out = d.decompress(payload)
                    if d.eof:
                        payload, cenc = out, None
                except zlib.error:
                    pass
        elif cenc in ("identity", None, "") or not payload:
            cenc = None
        return status, ctype, cenc, payload

    def parse(data: bytes) -> list[tuple]:
        if data[:2] == b"\x1f\x8b":
            records = []
            members = _gunzip_members(data)
            for off, length, chunk in members:
                recs = _parse_plain(chunk)
                if len(recs) > 1:
                    # whole-file single member (or a non-spec multi-
                    # record member): no per-record compressed range
                    # exists — NULL, honestly
                    member_range = (None, None)
                else:
                    member_range = (off, length)
                records.extend(r[:-2] + member_range for r in recs)
            return records
        return _parse_plain(data)

    def _parse_plain(data: bytes) -> list[tuple]:
        records = []
        pos, n = 0, len(data)
        while pos < n:
            while data[pos : pos + 2] == b"\r\n":
                pos += 2
            if pos >= n:
                break
            rec_start = pos
            eol = data.find(b"\r\n", pos)
            if eol < 0:
                raise ValueError("truncated WARC version line")
            version = data[pos:eol]
            if not version.startswith(b"WARC/"):
                raise ValueError(f"bad WARC version line {version!r} at {pos}")
            pos = eol + 2
            headers: dict[str, str] = {}
            while True:
                eol = data.find(b"\r\n", pos)
                if eol < 0:
                    raise ValueError("truncated WARC header block")
                line = data[pos:eol]
                pos = eol + 2
                if not line:
                    break
                k, _, v = line.partition(b":")
                headers[k.strip().decode("ascii", "replace").lower()] = (
                    v.strip().decode("utf-8", "replace")
                )
            if "content-length" not in headers:
                raise ValueError("WARC record without Content-Length")
            clen = int(headers["content-length"])
            if pos + clen > n:
                raise ValueError("WARC block extends past end of file")
            block = data[pos : pos + clen]
            pos += clen
            wtype = headers.get("warc-type", "")
            ctype = headers.get("content-type", "")
            status = http_ctype = http_cenc = None
            payload = block
            if wtype == "response" and ctype.startswith("application/http"):
                status, http_ctype, http_cenc, payload = _split_http(block)
            elif wtype == "revisit":
                # a duplicate capture: the crawler recorded only the
                # WARC-Payload-Digest of an earlier identical payload
                # (identical-payload-digest profile); the block, when
                # present, is protocol headers only — never content
                if ctype.startswith("application/http") and block:
                    status, http_ctype, http_cenc, _ = _split_http(
                        block, headers_only_ok=True
                    )
                payload = b""
            records.append(
                (
                    headers.get("warc-record-id"),
                    wtype,
                    headers.get("warc-target-uri"),
                    headers.get("warc-date"),
                    ctype,
                    status,
                    http_ctype,
                    payload,
                    headers.get("warc-payload-digest"),
                    http_cenc,
                    rec_start,
                    pos - rec_start,
                )
            )
        return records

    def _record(headers: list[tuple[str, str]], block: bytes) -> bytes:
        head = b"WARC/1.0\r\n" + b"".join(
            f"{k}: {v}\r\n".encode() for k, v in headers
        )
        head += f"Content-Length: {len(block)}\r\n\r\n".encode()
        return head + block + b"\r\n\r\n"

    def write(responses: list[dict], gzip_members: bool = False) -> bytes:
        import gzip as _gz
        import hashlib

        info_block = b"software: lakehouse_adventureworks2022_spark\r\n"
        recs = [
            _record(
                [
                    ("WARC-Type", "warcinfo"),
                    ("WARC-Record-ID", "<urn:uuid:warcinfo-0>"),
                    ("WARC-Date", "2024-01-01T00:00:00Z"),
                    ("Content-Type", "application/warc-fields"),
                ],
                info_block,
            )
        ]
        for r in responses:
            body = r["body"]
            status = r.get("status", 200)
            # labelled digest of the (identity-coded) payload — the
            # header revisit records point back at. md5 is the labelled
            # algorithm here so differential twins can recompute it
            digest = r.get("digest") or f"md5:{hashlib.md5(body).hexdigest()}"
            if r.get("revisit"):
                # duplicate capture: protocol headers only, no payload
                http = (
                    f"HTTP/1.1 {status} OK\r\n"
                    f"Content-Type: text/html; charset=utf-8\r\n\r\n"
                ).encode()
                recs.append(
                    _record(
                        [
                            ("WARC-Type", "revisit"),
                            ("WARC-Record-ID", r["record_id"]),
                            ("WARC-Target-URI", r["uri"]),
                            (
                                "WARC-Date",
                                r.get("date", "2024-01-01T00:00:00Z"),
                            ),
                            (
                                "WARC-Profile",
                                "http://netpreserve.org/warc/1.1/"
                                "revisit/identical-payload-digest",
                            ),
                            ("WARC-Payload-Digest", digest),
                            (
                                "Content-Type",
                                "application/http;msgtype=response",
                            ),
                        ],
                        http,
                    )
                )
                continue
            if r.get("conversion"):
                # WET-style record (the CommonCrawl *.warc.wet.gz
                # layout): the block IS the extracted text, no HTTP
                # envelope, Content-Type text/plain
                recs.append(
                    _record(
                        [
                            ("WARC-Type", "conversion"),
                            ("WARC-Record-ID", r["record_id"]),
                            ("WARC-Target-URI", r["uri"]),
                            (
                                "WARC-Date",
                                r.get("date", "2024-01-01T00:00:00Z"),
                            ),
                            ("WARC-Payload-Digest", digest),
                            ("Content-Type", "text/plain"),
                        ],
                        body,
                    )
                )
                continue
            cenc = r.get("content_encoding")
            wire = body
            enc_header = ""
            if cenc in ("gzip", "x-gzip") and not r.get("body_is_wire"):
                wire = _gz.compress(body, compresslevel=1, mtime=0)
                enc_header = f"Content-Encoding: {cenc}\r\n"
            elif cenc:
                # body_is_wire: the body already IS the wire bytes
                # (pre-compressed, possibly corrupt/truncated — the
                # parser-resilience differentials plant these)
                enc_header = f"Content-Encoding: {cenc}\r\n"
            http_ct = r.get(
                "http_content_type", "text/html; charset=utf-8"
            )
            ct_header = (
                f"Content-Type: {http_ct}\r\n" if http_ct is not None else ""
            )
            http = (
                f"HTTP/1.1 {status} OK\r\n"
                f"{ct_header}"
                f"{enc_header}"
                f"Content-Length: {len(wire)}\r\n\r\n"
            ).encode() + wire
            recs.append(
                _record(
                    [
                        ("WARC-Type", "response"),
                        ("WARC-Record-ID", r["record_id"]),
                        ("WARC-Target-URI", r["uri"]),
                        ("WARC-Date", r.get("date", "2024-01-01T00:00:00Z")),
                        ("WARC-Payload-Digest", digest),
                        ("Content-Type", "application/http;msgtype=response"),
                    ],
                    http,
                )
            )
        if gzip_members:
            return b"".join(
                _gz.compress(rec, compresslevel=1, mtime=0) for rec in recs
            )
        return b"".join(recs)

    return {"parse": parse, "write": write}


def parse_warc_frame(
    df: DataFrame, content_col: str = "content", path_col: str | None = "path"
) -> DataFrame:
    """Parse a frame of WARC FILE bytes (one row per file) into one row
    per record (:data:`WARC_RECORD_SCHEMA`). This is the seam both
    entry points share: :func:`read_warc` feeds it ``binaryFile`` rows;
    in-plan twins (the catalog query, tests) feed it synthesized blobs.
    Arrow-batched ``mapInPandas``, per-file cost, no shuffle."""
    codec = build_warc_codec()
    parse = codec["parse"]
    cols = [f.name for f in WARC_RECORD_SCHEMA.fields]
    src = (
        df.select(
            F.col(path_col).alias("path"), F.col(content_col).alias("content")
        )
        if path_col is not None
        else df.select(
            F.lit(None).cast("string").alias("path"),
            F.col(content_col).alias("content"),
        )
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                for rec in parse(bytes(r["content"])):
                    rows.append((r["path"], *rec))
            yield pd.DataFrame(rows, columns=cols)

    return src.mapInPandas(run, schema=WARC_RECORD_SCHEMA)


def read_warc(spark, path: str) -> DataFrame:
    """Read a directory (or glob) of ``.warc`` / ``.warc.gz`` files into
    one row per WARC record. Parallelism = one task per file — the
    standard crawl layout (tens of thousands of ~1 GB files) saturates
    any cluster; a single huge file should be split upstream, same as
    any non-splittable format."""
    files = spark.read.format("binaryFile").load(path)
    return parse_warc_frame(files, "content", "path")


def _glob_escape(path: str) -> str:
    """Escape Hadoop glob metachars so a path loads as a LITERAL file —
    a crawl file named ``snap{1}.warc`` must not be pattern-expanded
    (Hadoop's ``GlobPattern`` escape char is the backslash)."""
    import re

    return re.sub(r"([*?{}\[\]\\])", r"\\\g<1>", path)


#: partition-key derivation shared by the writer and any reader that
#: wants to prune to one source file: sanitized basename + a short hash
#: of the RAW basename. The hash makes the key collision-free — two
#: distinct inputs like ``a=b.warc`` and ``a_b.warc`` sanitize to the
#: same prefix but never to the same key.
def _file_key_col(source_file):  # Column -> Column
    base = F.element_at(F.split(source_file, "/"), -1)
    return F.concat(
        F.regexp_replace(base, "[^A-Za-z0-9._-]", "_"),
        F.lit("-"),
        F.substring(F.md5(base), 1, 8),
    )


def warc_incremental_ingest(
    spark,
    crawl_dir: str,
    state_path: str,
    out_dir: str,
) -> list[str]:
    """File-granular incremental WARC ingestion — the deployment loop
    for a crawl that DROPS new ``.warc(.gz)`` files into a directory:
    each run parses only the files not yet recorded in the JSON
    checkpoint, lands their records under ``out_dir`` partitioned by a
    collision-free per-source-file key (``file=<sanitized>-<hash8>``),
    and records the files as done. Returns the list of newly ingested
    files.

    ONE Spark job per run, however many files arrived: the whole
    new-file list feeds a single ``binaryFile`` read (each path
    glob-escaped so metachar filenames load literally) and one
    dynamic-partition-overwrite write — a 64k-file backfill costs one
    job's scheduling, not 64k sequential round-trips, while the file
    itself stays the unit of parallelism inside the job (the
    :func:`read_warc` layout).

    Idempotence (the ``storage/commit.py`` posture): a crash between
    the parquet write and the checkpoint update replays the same files
    into the SAME per-file partition dirs — dynamic overwrite replaces
    exactly the partitions it touches, never siblings; the checkpoint
    itself is one atomic ``commit.replace_file``. Readers take
    ``spark.read.parquet(out_dir)`` (or ``f"{out_dir}/*"``; records
    carry ``source_file`` either way) and see only committed writes.

    Scale: listing is one directory scan; per run the work is
    O(new files) inside one job."""
    import json
    import os

    from lakehouse_adventureworks2022_spark.storage import commit

    done = set(commit.read_json(state_path, []))
    names = sorted(
        n
        for n in os.listdir(crawl_dir)
        if n.endswith((".warc", ".warc.gz")) and n not in done
    )
    if names:
        paths = [
            _glob_escape(os.path.join(os.path.abspath(crawl_dir), n))
            for n in names
        ]
        files = spark.read.format("binaryFile").load(paths)
        recs = parse_warc_frame(files, "content", "path")
        recs.withColumn("file", _file_key_col(F.col("source_file"))).write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy(
            "file"
        ).parquet(out_dir)
        commit.replace_file(state_path, json.dumps(sorted(done | set(names))))
    return names


#: Content-Type prefixes the page projections keep by default — the
#: HTML family. Prefix match, case-insensitive, so parameterized forms
#: (``text/html; charset=utf-8``) pass. NULL policy is PERMISSIVE by
#: default: WARC headers are messy and a missing Content-Type is far
#: more often a sloppy server than a binary payload — the quality
#: gates downstream still drop non-text soup, just later.
HTML_CONTENT_TYPES: tuple[str, ...] = ("text/html", "application/xhtml+xml")


def utf8_lossy(col):
    """UTF-8 decode with REPLACEMENT — invalid sequences become U+FFFD
    instead of killing the job. ``F.decode(b, 'UTF-8')`` is STRICT in
    Spark 4 (MALFORMED_CHARACTER_CODING), and because predicate
    pushdown substitutes Project aliases into pushed filters, a
    downstream predicate on the decoded column can run the decode on
    rows the content-type/encoding gates would have excluded — one
    mislabeled JPEG then aborts a 100-TB extraction job. The binary →
    string cast is byte-transparent (no validation) and
    ``make_valid_utf8`` (Spark 4.0+) rewrites invalid sequences to
    U+FFFD, matching Python's ``bytes.decode('utf-8', 'replace')`` —
    total, deterministic, whole-stage-codegen eligible."""
    return F.make_valid_utf8(col.cast("string"))


def _content_type_cond(content_types, keep_null: bool = True):
    """Filter Column keeping rows whose ``http_content_type`` starts
    with any of the given prefixes (case-insensitive); ``None``
    disables the gate entirely."""
    if content_types is None:
        return F.lit(True)
    ct = F.lower(F.col("http_content_type"))
    cond = (
        F.col("http_content_type").isNull()
        if keep_null
        else F.lit(False)
    )
    for p in content_types:
        cond = cond | ct.startswith(p.lower())
    return cond


def warc_pages(
    records: DataFrame,
    min_status: int = 200,
    max_status: int = 299,
    content_types: tuple[str, ...] | None = HTML_CONTENT_TYPES,
) -> DataFrame:
    """Successful HTML response records as ``(url, html)`` — the input
    shape ``curation.prepare_web_corpus(url_col="url")`` takes. UTF-8
    decode with replacement (deterministic; a crawl's charset zoo is
    exactly why the quality gates run downstream). Records whose HTTP
    payload arrived under a ``Content-Encoding`` the parser could not
    inflate (``http_content_encoding`` non-NULL — gzip/deflate were
    already inflated at parse) are EXCLUDED: compressed bytes must
    never flow into extraction as mojibake 'html'.

    ``content_types`` (r13, r12 verdict ask #2): only responses whose
    ``http_content_type`` starts with one of these prefixes (or is
    NULL — permissive, see :data:`HTML_CONTENT_TYPES`) become pages.
    Every 2xx JPEG/PDF/JS/JSON response would otherwise decode to
    replacement-char soup and pay the full extraction pipeline before
    the quality gates drop it — at 100 TB this filter is the cheap
    scan-side cut (it reaches the parquet scan of an ingested crawl).
    Pass ``None`` to disable."""
    return records.filter(
        (F.col("warc_type") == "response")
        & F.col("http_status").between(min_status, max_status)
        & F.col("http_content_encoding").isNull()
        & _content_type_cond(content_types)
    ).select(
        F.col("target_uri").alias("url"),
        utf8_lossy(F.col("payload")).alias("html"),
    )


def wet_pages(records: DataFrame) -> DataFrame:
    """WET ``conversion`` records as ``(url, text)`` — the
    already-extracted-text sibling of :func:`warc_pages` (CommonCrawl
    ships extraction results as ``*.warc.wet.gz``: one ``conversion``
    record per page whose block IS the plain text, no HTTP envelope).
    Feeds ``prepare_training_corpus`` directly, or
    ``prepare_web_corpus`` whose extraction pass is the identity on
    already-plain text (the tested identity contract)."""
    return records.filter(F.col("warc_type") == "conversion").select(
        F.col("target_uri").alias("url"),
        utf8_lossy(F.col("payload")).alias("text"),
    )


def cdx_records(records: DataFrame, sort: bool = False) -> DataFrame:
    """CDX capture index from parsed WARC records — the third
    CommonCrawl sidecar beside WARC (captures) and WET (text): one row
    per ``response``/``revisit`` capture with the columns a web-archive
    lookup needs — ``(urlkey, timestamp, url, digest, offset, length,
    filename)``. ``urlkey`` is the SURT form of the canonical URL (the
    sorted/binary-searched key), ``timestamp`` the 14-digit form of
    ``WARC-Date``, ``digest`` the crawler's labelled payload digest
    (md5 fallback from the payload), and ``offset``/``length`` the
    byte range :func:`parse_warc_frame` recovered — enough to
    range-request one capture out of a multi-GB ``.warc.gz`` without
    touching the rest.

    Shape: a zero-shuffle projection; ``sort=True`` adds the ONE
    range-partitioned global sort on ``(urlkey, timestamp)`` that makes
    the output a spec-ordered CDX file ready to write (a real archive
    sorts once per batch, so the sort is the deployment cost, not an
    accident)."""
    from lakehouse_adventureworks2022_spark.operators.textops import (
        canonicalize_url_col,
        surt_key_col,
    )

    staged = records.filter(
        F.col("warc_type").isin("response", "revisit")
    ).select(
        # canonical form staged once (janino 64 KB rule) — surt reads
        # it twice (hostport + rest extracts)
        canonicalize_url_col(F.col("target_uri")).alias("__canon__"),
        "target_uri",
        "warc_date",
        "payload_digest",
        "payload",
        "record_offset",
        "record_length",
        "source_file",
    )
    out = staged.select(
        surt_key_col(F.col("__canon__"), canonical=True).alias("urlkey"),
        F.regexp_replace(F.col("warc_date"), "[^0-9]", "").alias(
            "timestamp"
        ),
        F.col("target_uri").alias("url"),
        F.coalesce(
            F.col("payload_digest"),
            F.concat(F.lit("md5:"), F.md5(F.col("payload"))),
        ).alias("digest"),
        F.col("record_offset").alias("offset"),
        F.col("record_length").alias("length"),
        F.element_at(F.split(F.col("source_file"), "/"), -1).alias(
            "filename"
        ),
    )
    return out.orderBy("urlkey", "timestamp") if sort else out


def crawl_health_report(records: DataFrame) -> DataFrame:
    """Per-host crawl observability — the operational read a fetch
    tier alerts on, as ONE uniform-key aggregation over parsed
    records: capture/revisit counts, HTTP status bands, the
    content-type mix (HTML family vs other vs missing — what the r13
    content-type gate will keep vs cut), the un-inflatable-encoding
    share (what the encoding gate excludes), and payload volume. A
    drifting 4xx/5xx band means the frontier is stale, a rising
    revisit share means the crawler refetches unchanged pages, a
    binary-share spike means the frontier leaked asset URLs — each is
    one threshold on this frame.

    Scale: one groupBy on the canonical host (short string); every
    metric is a conditional count/sum inside the same agg — no second
    pass, no join, payloads never shuffle (only their lengths)."""
    from lakehouse_adventureworks2022_spark.operators.textops import (
        canonical_host_col,
    )

    is_resp = F.col("warc_type") == "response"
    status = F.col("http_status")
    html = _content_type_cond(HTML_CONTENT_TYPES, keep_null=False)
    return (
        records.filter(F.col("warc_type").isin("response", "revisit"))
        .groupBy(canonical_host_col(F.col("target_uri")).alias("host"))
        .agg(
            F.count(F.when(is_resp, True)).alias("n_responses"),
            F.count(F.when(F.col("warc_type") == "revisit", True)).alias(
                "n_revisits"
            ),
            F.count(F.when(is_resp & status.between(200, 299), True)).alias(
                "n_2xx"
            ),
            F.count(F.when(is_resp & status.between(300, 399), True)).alias(
                "n_3xx"
            ),
            F.count(F.when(is_resp & status.between(400, 499), True)).alias(
                "n_4xx"
            ),
            F.count(F.when(is_resp & status.between(500, 599), True)).alias(
                "n_5xx"
            ),
            F.count(F.when(is_resp & html, True)).alias("n_html"),
            F.count(
                F.when(
                    is_resp
                    & F.col("http_content_type").isNotNull()
                    & ~html,
                    True,
                )
            ).alias("n_non_html"),
            F.count(
                F.when(is_resp & F.col("http_content_type").isNull(), True)
            ).alias("n_missing_ct"),
            F.count(
                F.when(F.col("http_content_encoding").isNotNull(), True)
            ).alias("n_encoding_excluded"),
            F.sum(
                F.when(is_resp, F.length(F.col("payload"))).otherwise(0)
            ).alias("payload_bytes"),
        )
    )


def cdxj_lines(cdx: DataFrame) -> DataFrame:
    """Render a :func:`cdx_records` frame as CDXJ lines — the
    pywb/OpenWayback interchange format: ``<urlkey> <timestamp>
    {json}`` with the json fields conventionally STRINGS (offset/
    length included — what pywb emits and indexes). One zero-shuffle
    projection returning a single ``value`` column ready for
    ``.write.text(...)``; write through :func:`write_cdxj` to get the
    spec's global ``(urlkey, timestamp)`` ordering."""
    payload = F.to_json(
        F.struct(
            F.col("url").alias("url"),
            F.col("digest").alias("digest"),
            F.col("length").cast("string").alias("length"),
            F.col("offset").cast("string").alias("offset"),
            F.col("filename").alias("filename"),
        )
    )
    return cdx.select(
        F.concat_ws(" ", F.col("urlkey"), F.col("timestamp"), payload)
        .alias("value")
    )


def write_cdxj(cdx: DataFrame, path: str) -> None:
    """Write a CDX frame as a spec-ordered CDXJ text dataset: ONE
    range-partitioned global sort on ``(urlkey, timestamp)`` (binary
    search over the written shards stays possible because the sort is
    range-partitioned — shard N's keys all precede shard N+1's), then
    plain text files. The sort is the real archive deployment cost —
    a CDX batch is sorted once per crawl, not per lookup."""
    ordered = cdx.orderBy("urlkey", "timestamp")
    cdxj_lines(ordered).write.mode("overwrite").text(path)


#: JSON schema of a CDXJ line's payload (string-typed per convention).
_CDXJ_JSON_SCHEMA = (
    "url string, digest string, length string, offset string, "
    "filename string"
)


def read_cdxj(spark, path: str) -> DataFrame:
    """Read CDXJ text files back into the :func:`cdx_records` column
    shape ``(urlkey, timestamp, url, digest, offset, length,
    filename)`` — the interop path for indexes produced by pywb/
    cc-index tooling, and the round-trip twin of :func:`write_cdxj`.
    The line splits at the FIRST two spaces only (a SURT urlkey never
    contains a space; the json payload may). Malformed payloads parse
    to NULL fields rather than aborting the read — filter
    ``url IS NULL`` to quarantine them (the jsonl ingestion posture);
    offset/length cast back to longs (``try_cast`` — a non-numeric
    value quarantines as NULL, never throws)."""
    lines = spark.read.text(path)
    parts = F.split(F.col("value"), " ", 3)
    parsed = lines.filter(F.length(F.trim("value")) > 0).select(
        parts[0].alias("urlkey"),
        parts[1].alias("timestamp"),
        F.from_json(parts[2], _CDXJ_JSON_SCHEMA).alias("j"),
    )
    return parsed.select(
        "urlkey",
        "timestamp",
        F.col("j.url").alias("url"),
        F.col("j.digest").alias("digest"),
        F.col("j.offset").try_cast("long").alias("offset"),
        F.col("j.length").try_cast("long").alias("length"),
        F.col("j.filename").alias("filename"),
    )


def fetch_by_cdx(
    cdx: DataFrame,
    base_dir: str,
    filename_col: str = "filename",
    offset_col: str = "offset",
    length_col: str = "length",
) -> DataFrame:
    """Random-access capture fetch — the read side of the CDX index:
    for each ``(filename, offset, length)`` row, read ONLY that byte
    range out of its archive file under ``base_dir`` and re-parse the
    slice with the standard record parser (a ``.warc.gz`` range is a
    complete gzip member by the spec's one-record-per-member layout,
    so the slice parses standalone — the self-validation contract
    ``cdx_records`` tests pin). This is how a web archive serves one
    capture out of a multi-GB file without scanning it, and how a
    selective re-processing job (e.g. re-extract just the captures a
    new classifier flagged) avoids re-reading the whole crawl.

    Scale: rows are grouped per file inside each Arrow batch and read
    in offset order — one open per (file, batch), monotonic seeks.
    Repartition the CDX frame by ``filename_col`` upstream when
    fetching large slices of one archive, so a file's ranges coalesce
    into the same tasks. Files must be visible to executors (shared
    filesystem — the same contract ``binaryFile`` reads rely on).
    Rows with a NULL offset/length (pre-r12 ingests; whole-file gz
    members) are SKIPPED — re-ingest the source file to index them;
    a range that fails to parse raises loudly (a corrupt index must
    not silently drop captures)."""
    import os

    codec = build_warc_codec()
    parse = codec["parse"]
    cols = [f.name for f in WARC_RECORD_SCHEMA.fields]
    src = cdx.select(
        F.col(filename_col).alias("filename"),
        F.col(offset_col).cast("long").alias("offset"),
        F.col(length_col).cast("long").alias("length"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            pdf = pdf.dropna(subset=["offset", "length"])
            for fname, grp in pdf.groupby("filename", sort=False):
                path = os.path.join(base_dir, fname)
                with open(path, "rb") as f:
                    for _, r in grp.sort_values("offset").iterrows():
                        f.seek(int(r["offset"]))
                        blob = f.read(int(r["length"]))
                        recs = parse(blob)
                        if not recs:
                            raise ValueError(
                                f"fetch_by_cdx: range {r['offset']}+"
                                f"{r['length']} of {fname} parsed to no "
                                "record — stale or corrupt CDX index"
                            )
                        for rec in recs:
                            # the parser's byte range is relative to
                            # the SLICE; restore the file-relative
                            # range so a fetched row's own CDX entry
                            # round-trips (fetch(cdx(fetch(x))) == x)
                            rows.append(
                                (
                                    path,
                                    *rec[:-2],
                                    int(r["offset"]),
                                    int(r["length"]),
                                )
                            )
            yield pd.DataFrame(rows, columns=cols)

    return src.mapInPandas(run, schema=WARC_RECORD_SCHEMA)


def dedup_payload_digest(records: DataFrame) -> DataFrame:
    """Crawl-level content dedup on the crawler's OWN digests — the
    cheapest dedup tier a real crawl ships, run on raw records BEFORE
    any payload work (ahead of even URL dedup in the chain:
    ``records → dedup_payload_digest → warc_pages → prepare_web_corpus``
    ).

    Semantics: ``revisit`` records are duplicate captures by definition
    (their block carries a ``WARC-Payload-Digest`` pointing at an
    earlier identical payload, never content) — all dropped. Among
    ``response`` records, exactly one survives per payload digest (the
    crawler's header when present, else ``md5:<hex>`` recomputed from
    the payload — the writer's labelled-digest convention), keeper =
    min ``(target_uri, warc_date, record_id)`` for determinism.
    Non-HTTP records (warcinfo, request, metadata, ...) pass through
    untouched.

    Shape (the ``dedup_urls`` posture): one uniform-key groupBy over
    ``(digest, keeper-order key)`` short strings — payloads never ride
    the agg — then a semi join back on ``record_id`` (unique per record
    by spec)."""
    responses = records.filter(F.col("warc_type") == "response")
    digest = F.coalesce(
        F.col("payload_digest"),
        F.concat(F.lit("md5:"), F.md5(F.col("payload"))),
    )
    keepers = (
        responses.select(
            digest.alias("__digest__"),
            F.struct(
                F.col("target_uri").alias("target_uri"),
                F.col("warc_date").alias("warc_date"),
                F.col("record_id").alias("record_id"),
            ).alias("__ord__"),
        )
        .groupBy("__digest__")
        .agg(F.min("__ord__").alias("__keep__"))
        .select(F.col("__keep__.record_id").alias("record_id"))
    )
    kept_responses = responses.join(keepers, "record_id", "left_semi")
    others = records.filter(
        ~F.col("warc_type").isin("response", "revisit")
    )
    return kept_responses.unionByName(others)

"""WARC (Web ARChive, ISO 28500) record parsing — the crawl's native
input format.

Every web-scale curation pipeline starts from WARC: Common Crawl ships
WARC/WET files, and CCNet/Dolma/RefinedWeb's position-zero step is
splitting them into (target URI, date, payload) records before any URL
or text operator runs. The format is LENGTH-DELIMITED: a version line
(``WARC/1.0``), CRLF-separated headers including ``Content-Length``,
one blank line, exactly Content-Length payload bytes, then two CRLFs.
The payload may legally contain anything — including text that LOOKS
like a record boundary — so a correct parser must walk lengths, never
split on blank lines or on the ``WARC/1.0`` magic (the classic
naive-splitter corruption; the registered query's fixture plants a
decoy ``\\r\\n\\r\\nWARC/1.0\\r\\n`` INSIDE a payload so a splitter
implementation cannot pass the hash gate).

:func:`encode_warc` is the writer twin (the codec-family closed loop);
:func:`parse_warc` the strict reader — malformed streams (bad magic,
missing/invalid Content-Length, truncated payload, missing record
terminator) raise with a precise class, per the EXIF/codec convention.
"""

from __future__ import annotations

_CRLF = b"\r\n"


def encode_warc(records: list[dict]) -> bytes:
    """Serialize records ({uri, date, payload: bytes, type?}) into a
    spec-shaped WARC stream (the WET 'conversion' profile).

    Optional per-record keys (r14, the revisit family): ``record_id``
    emits ``WARC-Record-ID: <id>`` (ISO 28500 §5.2 angle-bracket URI
    form), ``refers_to`` emits ``WARC-Refers-To: <id>`` and
    ``profile`` emits ``WARC-Profile`` — the three headers a
    ``revisit`` record (how Common Crawl expresses URL-level dedup)
    needs so a reader can resolve it against the referred response."""
    out = bytearray()
    for r in records:
        payload = r["payload"]
        headers = [
            b"WARC/1.0",
            b"WARC-Type: " + r.get("type", "conversion").encode("ascii"),
            b"WARC-Target-URI: " + r["uri"].encode("ascii"),
            b"WARC-Date: " + r["date"].encode("ascii"),
        ]
        if r.get("record_id"):
            headers.append(
                b"WARC-Record-ID: <" + r["record_id"].encode("ascii") + b">"
            )
        if r.get("refers_to"):
            headers.append(
                b"WARC-Refers-To: <" + r["refers_to"].encode("ascii") + b">"
            )
        if r.get("refers_to_uri"):
            headers.append(
                b"WARC-Refers-To-Target-URI: "
                + r["refers_to_uri"].encode("ascii")
            )
        if r.get("refers_to_date"):
            headers.append(
                b"WARC-Refers-To-Date: " + r["refers_to_date"].encode("ascii")
            )
        if r.get("profile"):
            headers.append(b"WARC-Profile: " + r["profile"].encode("ascii"))
        headers.append(b"Content-Length: " + str(len(payload)).encode("ascii"))
        out += _CRLF.join(headers) + _CRLF + _CRLF + payload + _CRLF + _CRLF
    return bytes(out)


def parse_warc(data: bytes) -> list[dict]:
    """Length-delimited WARC record walk. Returns one dict per record:
    {type, uri, date, content_length, payload}. Raises ValueError (with
    the malformation class) on: a record not starting ``WARC/``, a
    header block without CRLFCRLF terminator, a missing or non-integer
    Content-Length, a payload running past the stream, or a missing
    double-CRLF record terminator."""
    records = []
    pos = 0
    n = len(data)
    while pos < n:
        if not data[pos:pos + 5] == b"WARC/":
            raise ValueError(
                f"record at offset {pos} lacks WARC/ version magic"
            )
        hdr_end = data.find(_CRLF + _CRLF, pos)
        if hdr_end < 0:
            raise ValueError("unterminated WARC header block")
        headers: dict[str, str] = {}
        lines = data[pos:hdr_end].split(_CRLF)
        for line in lines[1:]:
            k, _, v = line.partition(b":")
            # keys decode with errors='replace' like values: a non-ASCII
            # byte in a header NAME must surface as a parse outcome (a
            # key that matches nothing), never a UnicodeDecodeError that
            # kills the mapInPandas task on real crawl bytes
            headers[k.strip().decode("ascii", "replace").lower()] = (
                v.strip().decode("ascii", "replace")
            )
        cl = headers.get("content-length")
        if cl is None or not cl.isdigit():
            raise ValueError(f"missing/invalid Content-Length {cl!r}")
        length = int(cl)
        body_start = hdr_end + 4
        body_end = body_start + length
        if body_end > n:
            raise ValueError("payload truncated past stream end")
        if data[body_end:body_end + 4] != _CRLF + _CRLF:
            raise ValueError("missing CRLFCRLF record terminator")
        records.append(
            {
                "type": headers.get("warc-type", ""),
                "uri": headers.get("warc-target-uri", ""),
                "date": headers.get("warc-date", ""),
                # angle brackets strip on read (§5.2 writes <uri>); a
                # record without the header yields "" like uri/date
                "record_id": headers.get("warc-record-id", "").strip("<>"),
                "refers_to": headers.get("warc-refers-to", "").strip("<>"),
                "refers_to_uri": headers.get("warc-refers-to-target-uri", ""),
                "refers_to_date": headers.get("warc-refers-to-date", ""),
                "profile": headers.get("warc-profile", ""),
                "content_length": length,
                "payload": data[body_start:body_end],
                # CDX-index fields: byte position of the record in the
                # (decompressed) stream and its total size — the walk's
                # byte accounting, which downstream random access needs
                "offset": pos,
                "record_bytes": body_end + 4 - pos,
            }
        )
        pos = body_end + 4
    return records


def encode_http_response(
    status: int, reason: str, headers: list[tuple[str, str]], body: bytes
) -> bytes:
    """Writer twin for the WARC 'response' profile payload: a full
    HTTP/1.1 response message (status line, CRLF headers, blank line,
    body). Content-Length is appended automatically so encode->parse
    is closed-loop."""
    lines = [f"HTTP/1.1 {status} {reason}".encode("ascii")]
    caller_cl = False
    for k, v in headers:
        lines.append(f"{k}: {v}".encode("ascii"))
        caller_cl = caller_cl or k.lower() == "content-length"
    # append Content-Length only when the caller didn't set one — a
    # duplicate header is malformed (RFC 9110) and the strict reader's
    # first-wins fold would then cross-check the WRONG value
    if not caller_cl:
        lines.append(b"Content-Length: " + str(len(body)).encode("ascii"))
    return _CRLF.join(lines) + _CRLF + _CRLF + body


def parse_http_response(payload: bytes) -> dict:
    """Strict HTTP/1.1 response parse of a WARC response payload:
    {status_code, reason, headers (first-wins, lower-cased keys),
    body}. Headers end at the FIRST CRLFCRLF — bytes after it are body
    even if they look like headers (the registered query's fixture
    plants a ``Content-Type: fake/decoy`` line INSIDE the body, so a
    whole-payload header scan cannot pass the hash gate). Raises
    ValueError with a precise class on: a status line not matching
    ``HTTP/<v> <3-digit> <reason>``, a header block without CRLFCRLF
    terminator, a non-integer Content-Length, or a Content-Length that
    disagrees with the actual body size (truncation corruption)."""
    hdr_end = payload.find(_CRLF + _CRLF)
    if hdr_end < 0:
        raise ValueError("unterminated HTTP header block")
    lines = payload[:hdr_end].split(_CRLF)
    status_line = lines[0].decode("ascii", "replace")
    parts = status_line.split(" ", 2)
    if (
        len(parts) < 3
        or not parts[0].startswith("HTTP/")
        or not (len(parts[1]) == 3 and parts[1].isdigit())
    ):
        raise ValueError(f"malformed HTTP status line {status_line!r}")
    headers: dict[str, str] = {}
    for line in lines[1:]:
        k, _, v = line.partition(b":")
        # errors='replace' on the NAME too — a non-ASCII header-name
        # byte is a malformed header, not a task-killing decode crash
        key = k.strip().decode("ascii", "replace").lower()
        if key not in headers:  # first value wins, per RFC 9110 folding
            headers[key] = v.strip().decode("ascii", "replace")
    body = payload[hdr_end + 4:]
    cl = headers.get("content-length")
    if cl is not None:
        if not cl.isdigit():
            raise ValueError(f"invalid Content-Length {cl!r}")
        if int(cl) != len(body):
            raise ValueError(
                f"Content-Length {cl} disagrees with body size {len(body)}"
            )
    return {
        "status_code": int(parts[1]),
        "reason": parts[2],
        "headers": headers,
        "body": body,
    }


# ---------------------------------------------------------------------------
# File-level WARC source (r12): real .warc/.warc.gz FILES from storage.
#
# The reference's position-zero act is reading real files from a
# filesystem (jehiah/gomrjob runner.go:51-52 input globs; hdfs/job.go
# submits against HDFS paths); Common Crawl ingestion is file-granular —
# ~1 GiB .warc.gz segments, tens of thousands per crawl. The Spark-first
# mapping is the ``binaryFile`` format: ONE WHOLE FILE PER ROW, which is
# exactly right here because gzip members are not splittable — the file
# is the natural parallel unit, and a 1000-executor cluster gets its
# parallelism from the file COUNT (64k+ segments), not from splitting.
# The record walk then runs through ``pipeline.map_rows``, scan-local (zero
# shuffles); ``binaryFile`` pushes the ``pathGlobFilter`` down to file
# listing, so non-WARC files in the bucket are never even opened.
# (binaryFile caps single files at spark.sql.sources.binaryFile.
# maxLength = Int.MaxValue ≈ 2 GiB — above Common Crawl's ~1 GiB
# segment convention; document, don't fight, the 2 GiB JVM array bound.)
# ---------------------------------------------------------------------------

#: the binaryFile format's fixed schema — needed up front by the
#: STREAMING reader (file-stream sources require an explicit schema)
BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length bigint, content binary"
)

#: one row per parsed WARC record, file provenance kept
WARC_RECORDS_SCHEMA = (
    "file_name string, rec_idx int, warc_type string, target_uri string, "
    "warc_date string, content_length bigint, payload binary, "
    "offset bigint, record_bytes bigint"
)

#: the id-bearing variant (r14 revisit family): + WARC-Record-ID /
#: WARC-Refers-To / WARC-Profile. A separate schema so the dozen
#: already-gated consumers of the bare reader keep their column sets.
WARC_RECORDS_IDS_SCHEMA = (
    WARC_RECORDS_SCHEMA + ", record_id string, refers_to string, "
    "refers_to_uri string, refers_to_date string, profile string"
)


def warc_records_from_binary_files(files_df, with_ids: bool = False):
    """binaryFile rows -> one row per WARC record (shared by the batch
    and streaming readers — stream==batch is the same code). Transparent
    member decompression for ``*.gz`` paths (gzip is applied to the
    WHOLE file, so it must happen before the length-delimited walk);
    ``rec_idx`` is the record's position in its file. Runs through
    ``map_rows``, scan-local: the only columns shipped to Python are
    path + content, and nothing shuffles. ``with_ids=True`` adds the
    record-identity headers (record_id, refers_to, profile) the
    revisit-resolution join needs."""
    import gzip  # noqa: PLC0415

    from gomrjob_spark.pipeline import map_rows  # noqa: PLC0415

    id_cols = (
        ("record_id", "refers_to", "refers_to_uri", "refers_to_date",
         "profile")
        if with_ids
        else ()
    )

    def records(path, content):
        name = str(path).rsplit("/", 1)[-1]
        data = bytes(content)
        if name.endswith(".gz"):
            data = gzip.decompress(data)
        for j, rec in enumerate(parse_warc(data)):
            yield (
                name, j, rec["type"], rec["uri"], rec["date"],
                rec["content_length"], rec["payload"], rec["offset"],
                rec["record_bytes"], *(rec[k] for k in id_cols),
            )

    return map_rows(
        files_df.select("path", "content"),
        records,
        WARC_RECORDS_IDS_SCHEMA if with_ids else WARC_RECORDS_SCHEMA,
    )


def read_warc_files(spark, path: str, glob: str = "*.warc*", with_ids: bool = False):
    """BATCH file-level WARC source: every ``.warc``/``.warc.gz`` under
    ``path`` -> one row per record. File listing + glob pruning happen
    JVM-side; each file is one task (the right unit — see module
    comment). ``with_ids=True`` surfaces the record-identity headers
    for revisit resolution."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    return warc_records_from_binary_files(files, with_ids=with_ids)


def split_gzip_members(data: bytes) -> list[tuple[int, int, bytes]]:
    """Split a concatenated-member gzip stream into
    (compressed_offset, compressed_size, decompressed_bytes) per
    member — Common Crawl's WARC layout, where every record is its own
    gzip member precisely so a CDX consumer can seek to a COMPRESSED
    offset and inflate one record without touching the rest of the
    ~1 GiB segment. Boundaries come from the DEFLATE stream structure
    (``zlib.decompressobj(31)``'s ``eof``/``unused_data`` after each
    member), NEVER from scanning for the ``1f 8b`` magic: stored-block
    payloads legally contain those bytes (the member fixture plants
    them), so a magic-scanner splits mid-member and corrupts every
    later offset. Raises ValueError on a corrupt or truncated member,
    with its compressed offset in the message."""
    import zlib  # noqa: PLC0415

    # Per-member input is fed in BOUNDED chunks off a zero-copy
    # memoryview: handing the decompressor "the rest of the file" per
    # member would make zlib materialize the unconsumed tail as bytes
    # (unused_data) every time — O(members x file size) memcpy, ~25 TB
    # of copying on a real CC segment (~50k members / 1 GiB). With
    # 64 KiB feeds the tail copy is bounded by one chunk.
    chunk_size = 64 * 1024
    members: list[tuple[int, int, bytes]] = []
    view = memoryview(data)
    pos = 0
    n = len(data)
    while pos < n:
        d = zlib.decompressobj(31)
        out: list[bytes] = []
        fed = 0
        try:
            while not d.eof and pos + fed < n:
                chunk = view[pos + fed : pos + fed + chunk_size]
                out.append(d.decompress(chunk))
                fed += len(chunk)
        except zlib.error as exc:
            raise ValueError(f"corrupt gzip member at offset {pos}: {exc}")
        if not d.eof:
            raise ValueError(f"truncated gzip member at offset {pos}")
        consumed = fed - len(d.unused_data)
        members.append((pos, consumed, b"".join(out)))
        pos += consumed
    return members


def warc_member_records_from_binary_files(files_df):
    """binaryFile rows over member-compressed ``.warc.gz`` files -> one
    row per gzip member, carrying the member's COMPRESSED offset/size
    (the random-access coordinates a CC-style CDX publishes) plus the
    parsed WARC record inside it. Enforces the Common Crawl contract —
    exactly ONE record per member (a multi-record member would make the
    compressed offset useless for single-record access) — raising
    ValueError otherwise. Runs through ``map_rows``, scan-local."""
    from gomrjob_spark.pipeline import map_rows  # noqa: PLC0415

    def members(path, content):
        name = str(path).rsplit("/", 1)[-1]
        for j, (off, csize, raw) in enumerate(split_gzip_members(bytes(content))):
            recs = parse_warc(raw)
            if len(recs) != 1:
                raise ValueError(
                    f"gzip member {j} of {name} holds {len(recs)} "
                    "records; the member-per-record layout requires "
                    "exactly 1"
                )
            rec = recs[0]
            yield (
                name, j, rec["type"], rec["uri"], rec["date"],
                rec["content_length"], rec["payload"], off, csize,
                rec["record_bytes"],
            )

    return map_rows(
        files_df.select("path", "content"),
        members,
        "file_name string, rec_idx int, warc_type string, "
        "target_uri string, warc_date string, content_length bigint, "
        "payload binary, cmp_offset bigint, cmp_bytes bigint, "
        "record_bytes bigint",
    )


def read_warc_member_files(spark, path: str, glob: str = "*.warc.gz"):
    """BATCH member-compressed WARC source: every CC-layout
    ``.warc.gz`` under ``path`` -> one row per gzip member / record,
    with compressed random-access coordinates. Same file-per-task unit
    as :func:`read_warc_files`."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    return warc_member_records_from_binary_files(files)


def read_warc_files_stream(spark, path: str, glob: str = "*.warc*"):
    """STREAMING file-level WARC source — the Common Crawl "segments
    land in a bucket, pipeline picks them up" deployment: binaryFile is
    a standard file-stream source, so newly arriving .warc.gz files are
    discovered per micro-batch (exactly-once file-level tracking via
    the stream's file index), then walked by the SAME record program as
    the batch reader. Throttle at scale with
    ``maxFilesPerTrigger``; schema is the binaryFile constant because
    stream sources cannot infer."""
    files = (
        spark.readStream.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", glob)
        .load(path)
    )
    return warc_records_from_binary_files(files)


# -- fixture writer twin (test scaffolding, not the operator) --------------

#: fixture fan-out: 8 files — 4 plain .warc, 4 gzipped .warc.gz (odd
#: file indices), so both decompression paths sit under one hash gate
N_FIXTURE_FILES = 8


def fixture_record(doc_id: int) -> dict:
    """The per-document fixture record as a PURE formula of doc_id —
    mirrored character-for-character by the oracle SQL in plans/web.py
    (_WARC_FILE_RECS_SQL). Every 7th-mod-3 payload embeds the decoy
    record boundary, so a naive splitter shifts every later record in
    that FILE and cannot hash-match."""
    d = int(doc_id)
    payload = (
        f"crawl doc {d} file {d % N_FIXTURE_FILES} "
        + "y" * (9 + d % 11)
        + ("\r\n\r\nWARC/1.0\r\n" if d % 7 == 3 else "")
    ).encode("ascii")
    return {
        "uri": f"https://c{d}.example.org/r{d % 13}",
        "date": f"2026-02-{1 + d % 28:02d}T00:00:00Z",
        "payload": payload,
    }


def _fixture_dir_key(prefix: str, sf_dir: str, ids: list[int]) -> str:
    """Content-addressed fixture cache key: basename + count + an md5
    of the sorted id list — two different id sets with the same
    basename/count can never silently reuse a stale directory (the r12
    advisor's finding on the old basename+len key)."""
    import hashlib  # noqa: PLC0415
    import os  # noqa: PLC0415

    digest = hashlib.md5(
        ",".join(str(i) for i in ids).encode("ascii")
    ).hexdigest()[:16]
    return "{}_{}_{}_{}".format(
        prefix, os.path.basename(os.path.normpath(sf_dir)), len(ids), digest
    )


def write_warc_fixture(sf_dir: str, doc_ids) -> str:
    """Write the deterministic multi-file WARC fixture for ``sf_dir``
    (driver-side TEST SCAFFOLDING — the operator under test is the
    distributed reader above; a real deployment reads files someone
    else wrote). Documents spread across N_FIXTURE_FILES files by
    ``doc_id % N``, sorted by doc_id within each file; odd files gzip
    with mtime=0 so the bytes are reproducible. Idempotent + rename-
    atomic: concurrent callers race to one complete directory."""
    import gzip  # noqa: PLC0415
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    ids = sorted(int(x) for x in doc_ids)
    base = "/tmp/gomrjob_spark_fixtures"
    key = _fixture_dir_key("warc_files_v1", sf_dir, ids)
    out = os.path.join(base, key)
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        return out
    tmp = f"{out}.tmp.{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    by_file: dict[int, list[int]] = {}
    for d in ids:
        by_file.setdefault(d % N_FIXTURE_FILES, []).append(d)
    for f, members in sorted(by_file.items()):
        stream = encode_warc([fixture_record(d) for d in members])
        if f % 2 == 1:
            path = os.path.join(tmp, f"crawl-0000{f}.warc.gz")
            blob = gzip.compress(stream, mtime=0)
        else:
            path = os.path.join(tmp, f"crawl-0000{f}.warc")
            blob = stream
        with open(path, "wb") as fh:
            fh.write(blob)
    with open(os.path.join(tmp, "_COMPLETE"), "w") as fh:
        fh.write("ok\n")
    try:
        os.rename(tmp, out)
    except OSError:
        # lost the race: someone else completed it first
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(marker):
            raise
    return out


def gzip_member(record_bytes: bytes) -> bytes:
    """ONE record as its own gzip member — Common Crawl's layout — at
    compresslevel=0 (stored deflate blocks) with mtime=0, so the
    member's COMPRESSED size is the arithmetic contract
    ``len(record_bytes) + 23`` (10-byte header, 5-byte stored-block
    header, verbatim payload, 8-byte trailer) the CDX oracle recomputes
    in SQL. The contract is ASSERTED here, not assumed: if the zlib
    framing ever changes (or a record outgrows one stored block), the
    writer raises instead of silently shipping a fixture whose offsets
    the oracle would mispredict."""
    import gzip  # noqa: PLC0415

    if len(record_bytes) > 60000:
        raise ValueError(
            f"record of {len(record_bytes)} bytes exceeds the one-"
            "stored-block size contract"
        )
    blob = gzip.compress(record_bytes, compresslevel=0, mtime=0)
    if len(blob) != len(record_bytes) + 23:
        raise ValueError(
            f"gzip stored-block framing produced {len(blob)} bytes for a "
            f"{len(record_bytes)}-byte record; the +23 offset contract "
            "does not hold on this zlib"
        )
    return blob


def member_fixture_record(doc_id: int) -> dict:
    """Per-document record for the MEMBER-compressed fixture — a pure
    formula of doc_id, mirrored by the oracle SQL (plans/web.py
    warc_cdx_member_index). Two decoys: every 7th-mod-3 payload embeds
    the WARC/1.0 record boundary (the record-walk decoy), and every
    5th-mod-2 payload ends with the raw gzip magic ``1f 8b 08`` — at
    compresslevel=0 those bytes are STORED VERBATIM in the compressed
    stream, so a splitter that scans for the magic instead of walking
    the DEFLATE structure splits mid-member and shifts every later
    compressed offset in the file."""
    d = int(doc_id)
    payload = (
        f"cc member doc {d} seg {d % N_FIXTURE_FILES} "
        + "z" * (7 + d % 13)
        + ("\r\n\r\nWARC/1.0\r\n" if d % 7 == 3 else "")
    ).encode("ascii")
    if d % 5 == 2:
        payload += b"\x1f\x8b\x08"
    return {
        "uri": f"https://c{d}.example.org/r{d % 13}",
        "date": f"2026-02-{1 + d % 28:02d}T00:00:00Z",
        "payload": payload,
    }


def write_warc_member_fixture(sf_dir: str, doc_ids) -> str:
    """Write the CC-faithful member-compressed WARC fixture: 8
    ``.warc.gz`` files (doc_id % 8), each the CONCATENATION of one
    gzip member per record (:func:`gzip_member` — level-0 stored
    blocks, mtime=0, byte-reproducible). Same idempotent rename-atomic
    scaffolding discipline as :func:`write_warc_fixture`, same
    content-addressed cache key."""
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    ids = sorted(int(x) for x in doc_ids)
    base = "/tmp/gomrjob_spark_fixtures"
    key = _fixture_dir_key("warc_members_v1", sf_dir, ids)
    out = os.path.join(base, key)
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        return out
    tmp = f"{out}.tmp.{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    by_file: dict[int, list[int]] = {}
    for d in ids:
        by_file.setdefault(d % N_FIXTURE_FILES, []).append(d)
    for f, members in sorted(by_file.items()):
        blob = b"".join(
            gzip_member(encode_warc([member_fixture_record(d)]))
            for d in members
        )
        with open(os.path.join(tmp, f"crawl-cc-0000{f}.warc.gz"), "wb") as fh:
            fh.write(blob)
    with open(os.path.join(tmp, "_COMPLETE"), "w") as fh:
        fh.write("ok\n")
    try:
        os.rename(tmp, out)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(marker):
            raise
    return out


def resolve_revisits(records):
    """Resolve WARC ``revisit`` records against their referred
    responses (r14, the r13 verdict's item #6) — the ISO 28500 §6.7
    / Common Crawl URL-level dedup semantics: a re-capture whose
    payload was unchanged ships as a near-empty ``revisit`` record; a
    pipeline that ignores them silently loses ~10-15% of a real CC
    segment's captures. BOTH standard profiles resolve:

    - ``identical-payload-digest`` (§6.7.2): ``WARC-Refers-To`` names
      the original response's ``WARC-Record-ID`` — one left equi-join
      on the record id.
    - ``server-not-modified`` (§6.7.1): the origin answered 304, so
      there is no digest and usually NO ``WARC-Refers-To``; the
      referent is named by the §5.11 companions
      ``WARC-Refers-To-Target-URI`` + ``WARC-Refers-To-Date`` — one
      left equi-join on (uri, date). When several responses share the
      (uri, date) key the LEXICOGRAPHICALLY smallest record id wins —
      a documented deterministic tie rule both engines mirror.

    Input: an id-bearing records frame (warc_records_from_binary_files
    with_ids=True). Output: every capture with ``resolved_payload``
    (its own payload for non-revisits; the referred response's payload
    for resolved revisits; NULL when the referent is missing) and a
    ``resolved`` flag — unresolvable revisits are SURFACED, never
    dropped (the data-loss signal a curation operator must see).

    Plan: non-revisit records pass through without any shuffle; only
    the (small) revisit side plus (key, payload) projections of the
    responses shuffle for the two left equi-joins — the payload bytes
    cross the wire once per resolved capture, the minimum resolution
    admits."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    resp = records.filter(F.col("warc_type") != "revisit")
    rev_all = records.filter(F.col("warc_type") == "revisit")

    # §6.7.2 path: by record id
    refs = resp.select(
        F.col("record_id").alias("refers_to"),
        F.col("payload").alias("resolved_payload"),
    )
    by_id = (
        rev_all.filter(F.col("refers_to") != "")
        .join(refs, "refers_to", "left")
        .withColumn("resolved", F.col("resolved_payload").isNotNull())
    )

    # §6.7.1 path: by (uri, date) companions; lexicographic-min record
    # id breaks (uri, date) ties deterministically on both engines
    winner = resp.groupBy(
        F.col("target_uri").alias("refers_to_uri"),
        F.col("warc_date").alias("refers_to_date"),
    ).agg(F.min("record_id").alias("_rid"))
    rid_payload = resp.select(
        F.col("record_id").alias("_rid"),
        F.col("payload").alias("resolved_payload"),
    )
    by_uri = (
        rev_all.filter(F.col("refers_to") == "")
        .join(winner, ["refers_to_uri", "refers_to_date"], "left")
        .join(rid_payload, "_rid", "left")
        .drop("_rid")
        .withColumn("resolved", F.col("resolved_payload").isNotNull())
    )

    out = resp.withColumn(
        "resolved_payload", F.col("payload")
    ).withColumn("resolved", F.lit(True))
    return out.unionByName(by_id.select(*out.columns)).unionByName(
        by_uri.select(*out.columns)
    )


def revisit_fixture_records(doc_ids) -> list[dict]:
    """The revisit fixture as a pure formula of the doc-id SET —
    mirrored by the oracle SQL (plans/web.py warc_revisit_resolve).
    Captures share URLs via group g = d % 17 (``/u<g>`` — multiple
    captures of one URL is what makes revisits exist); within a group,
    ordered by doc_id:

    - the FIRST capture is always a 'response';
    - every later d with d % 3 == 1 is a 'revisit' of the most recent
      PRECEDING response in its group (the lag the oracle recomputes
      with a window max), EMPTY body; EVEN d resolve by record id
      (profile identical-payload-digest), ODD d by the §5.11
      URI+date companions alone (profile server-not-modified — no
      WARC-Refers-To at all, the §6.7.1 shape). d % 9 == 7 revisits
      are each path's unresolvable VOID decoy (a void record id /
      a date no capture has): a resolver that inner-joins or drops
      them cannot match;
    - everything else is a 'response' with the formula payload
      (including the d % 7 == 3 record-boundary decoy).

    Record ids are ``urn:rec:<d>`` — deterministic, join-able, and
    doc-extractable on both engines."""
    ids = sorted(int(x) for x in doc_ids)
    min_g: dict[int, int] = {}
    for d in ids:
        min_g.setdefault(d % 17, d)
    last_resp: dict[int, int] = {}
    out: list[dict] = []
    for d in ids:
        g = d % 17
        is_rev = d % 3 == 1 and d != min_g[g]
        rec = {
            "uri": f"https://dup.example.org/u{g}",
            "date": f"2026-02-{1 + d % 28:02d}T00:00:00Z",
            "record_id": f"urn:rec:{d}",
        }
        if is_rev:
            rec["type"] = "revisit"
            rec["payload"] = b""
            r0 = last_resp[g]
            if d % 2 == 0:
                # §6.7.2 identical-payload-digest: resolve by record id
                rec["profile"] = "identical-payload-digest"
                if d % 9 == 7:
                    rec["refers_to"] = f"urn:rec:void:{d}"  # void decoy
                else:
                    rec["refers_to"] = f"urn:rec:{r0}"
                    # the §5.11 companion headers: the referred
                    # capture's URI and date, so a consumer can
                    # resolve without the referent in hand
                    rec["refers_to_uri"] = f"https://dup.example.org/u{g}"
                    rec["refers_to_date"] = (
                        f"2026-02-{1 + r0 % 28:02d}T00:00:00Z"
                    )
            else:
                # §6.7.1 server-not-modified (origin answered 304): no
                # digest, NO WARC-Refers-To — the referent is named by
                # the companions alone; odd d % 9 == 7 revisits point
                # at a date no capture has (this path's void decoy)
                rec["profile"] = "server-not-modified"
                rec["refers_to_uri"] = f"https://dup.example.org/u{g}"
                rec["refers_to_date"] = (
                    "2026-03-01T00:00:00Z" if d % 9 == 7
                    else f"2026-02-{1 + r0 % 28:02d}T00:00:00Z"
                )
        else:
            rec["type"] = "response"
            rec["payload"] = (
                f"capture doc {d} of u{g} " + "x" * (11 + d % 7)
                + ("\r\n\r\nWARC/1.0\r\n" if d % 7 == 3 else "")
            ).encode("ascii")
            last_resp[g] = d
        out.append(rec)
    return out


def write_warc_revisit_fixture(sf_dir: str, doc_ids) -> str:
    """Write the revisit fixture: 8 files (doc_id % 8, plain/gz
    alternating like write_warc_fixture) — note the referred response
    of a revisit usually lives in a DIFFERENT file, so resolution is
    genuinely a cross-file join, as on real CC segments. Same
    idempotent rename-atomic scaffolding + content-addressed key."""
    import gzip  # noqa: PLC0415
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    ids = sorted(int(x) for x in doc_ids)
    base = "/tmp/gomrjob_spark_fixtures"
    # v3: r14 late — both §6.7 revisit profiles, per-path void decoys
    key = _fixture_dir_key("warc_revisit_v3", sf_dir, ids)
    out = os.path.join(base, key)
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        return out
    tmp = f"{out}.tmp.{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    recs = {int(r["record_id"].split(":")[-1]): r
            for r in revisit_fixture_records(ids)}
    by_file: dict[int, list[int]] = {}
    for d in ids:
        by_file.setdefault(d % N_FIXTURE_FILES, []).append(d)
    for f, members in sorted(by_file.items()):
        stream = encode_warc([recs[d] for d in members])
        if f % 2 == 1:
            path = os.path.join(tmp, f"crawl-rv-0000{f}.warc.gz")
            blob = gzip.compress(stream, mtime=0)
        else:
            path = os.path.join(tmp, f"crawl-rv-0000{f}.warc")
            blob = stream
        with open(path, "wb") as fh:
            fh.write(blob)
    with open(os.path.join(tmp, "_COMPLETE"), "w") as fh:
        fh.write("ok\n")
    try:
        os.rename(tmp, out)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(marker):
            raise
    return out


def read_warc_member_files_stream(spark, path: str, glob: str = "*.warc.gz"):
    """STREAMING member-compressed WARC source — the CC-layout twin of
    :func:`read_warc_files_stream`: segments whose records are
    individually gzip-compressed land in a bucket and are discovered
    per micro-batch, each walked by the SAME member program as the
    batch reader (stream==batch is shared code), carrying compressed
    random-access coordinates per record."""
    files = (
        spark.readStream.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", glob)
        .load(path)
    )
    return warc_member_records_from_binary_files(files)
